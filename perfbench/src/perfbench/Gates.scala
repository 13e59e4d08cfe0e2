package perfbench

import java.sql.Timestamp
import java.time.LocalDateTime
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Judged `dedup_*`, `sketch_*` and `graph_*` gates of `SparkEntry.queries`
  * over a seeded fixture in the star schema's shape (`documents`, `events`,
  * `lineitem`, at the size of the sf0.01 test data). The fixture is written
  * once in set-up. The seed also permutes the order in which the gates run.
  * Every figure a check compares against is computed here in plain Scala,
  * without Spark.
  */
final class Gates(spark: SparkSession, seed: Long, dir: String) {
  import Gates._

  private val rnd = new java.util.SplittableRandom(seed)
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Names)
  private val rows = mutable.LinkedHashMap.empty[String, Array[Row]]
  private val errors = mutable.LinkedHashMap.empty[String, String]

  // ---- fixture ---------------------------------------------------------

  /** (doc_id, text, lang, source); every tenth document repeats the text
    * of one of the 50 before it, so exact dedup has work to find.
    */
  private val docs: IndexedSeq[(Long, String, String, String)] = {
    val texts = new Array[String](NDocs)
    (0 until NDocs).map { k =>
      texts(k) =
        if (k % 10 == 9) texts(k - 1 - rnd.nextInt(math.min(k, 50)))
        else Seq.fill(20 + rnd.nextInt(50))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      (k.toLong, texts(k), Langs(rnd.nextInt(Langs.size)), s"src${k % 20}")
    }
  }

  /** (event_id, user_id, event_type). */
  private val events: IndexedSeq[(Long, Long, String)] =
    (0 until NEvents).map(k => (k.toLong, rnd.nextInt(150).toLong, EventTypes(rnd.nextInt(EventTypes.size))))

  /** (orderkey, partkey, shipdate as days after 1992-01-01). */
  private val lineitems: IndexedSeq[(Long, Long, Int)] =
    (0 until NOrders).flatMap(o => Seq.fill(1 + rnd.nextInt(7))((o.toLong, rnd.nextInt(2000).toLong, rnd.nextInt(2557))))

  def setup(): Unit = {
    def write(name: String, schema: StructType, data: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val epoch = LocalDateTime.of(1992, 1, 1, 0, 0)
    val r = new java.util.SplittableRandom(seed ^ 0x5deece66dL)
    write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      docs.map { case (id, text, lang, src) => Row(id, text, lang, src, text.length.toLong) })
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    write("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      events.map { case (id, user, tpe) =>
        Row(id, new Timestamp(t0 + id * 60000L + r.nextInt(60000)), user, tpe,
          r.nextInt(2000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
      })
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
      lineitems.zipWithIndex.map { case ((ok, pk, day), k) =>
        Row(ok, pk, r.nextInt(100).toLong, k % 7 + 1, (1 + r.nextInt(50)).toDouble,
          r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "OF".charAt(r.nextInt(2)).toString,
          epoch.plusDays(day.toLong))
      })
  }

  // ---- the timed part ----------------------------------------------------

  /** `queries`: each gate's DataFrame is built (`queries.construct`) and
    * collected (`queries.action`; every gate's result is at most a few dozen
    * rows) inside a span named after its family. Caches are cleared before
    * each gate. A gate that throws is recorded and the next one runs.
    */
  def run(t: Tracer): Unit = t.span("queries") {
    rows.clear()
    errors.clear()
    val registry = graft.SparkEntry.queries
    order.foreach { g =>
      spark.catalog.clearCache()
      t.span(s"queries.${g.takeWhile(_ != '_')}") {
        try {
          val df = t.span("queries.construct")(registry(g)(spark, dir))
          rows(g) = t.span("queries.action")(df.collect())
        } catch { case NonFatal(e) => errors(g) = e.toString }
      }
    }
  }

  /** Digest of every gate's result, in gate-name order. */
  def digest: String = Workloads.sha(rows.toSeq.sortBy(_._1).map { case (g, r) => g + r.mkString("|") })

  // ---- checks ------------------------------------------------------------

  /** Every gate ran, and its result matches the figures computed here. */
  def check(ops: Ops, o: PassOut): Unit = {
    o.layer("queries.failed") = 0
    def gate(g: String)(expected: Array[Row] => Seq[(String, Any, Any)]): Unit = {
      val misses = rows.get(g) match {
        case None =>
          ops.problems += s"$g: ${errors.getOrElse(g, "did not run")}"
          1
        case Some(r) =>
          expected(r).count { case (what, want, got) =>
            val miss = want != got
            if (miss) ops.problems += s"$g: $what: expected $want, got $got"
            miss
          }
      }
      o.layer("queries.failed") += (if (misses > 0) 1 else 0)
      ops.check(s"gate $g", 1, if (misses > 0) 1 else 0)
    }

    gate("dedup_exact") { r =>
      val want = docs.groupBy(_._4).toSeq.sortBy(_._1)
        .map { case (src, ds) => (src, ds.size.toLong, ds.map(_._2).distinct.size.toLong) }
      Seq(("per-source docs and unique texts", want,
        r.toSeq.map(x => (x.getString(0), x.getLong(1), x.getLong(2)))))
    }
    gate("dedup_minhash_lsh") { r =>
      Seq(("documents in every band", Seq.fill(4)(NDocs.toLong), r.toSeq.map(_.getLong(2))))
    }
    gate("sketch_hll_distinct") { r =>
      val perType = events.groupBy(_._3).toSeq.map { case (tpe, es) => tpe -> es.map(_._2).distinct.size.toLong }
      val want = (perType :+ ("__union__" -> events.map(_._2).distinct.size.toLong)).sortBy(_._1)
      Seq(("exact distinct users per type", want, r.toSeq.map(x => (x.getString(0), x.getLong(1)))),
        ("estimates within 50 % of exact", true, r.forall(x => math.abs(x.getDouble(4)) < 0.5)))
    }
    gate("sketch_countmin_heavy") { r =>
      val counts = docs.flatMap(_._2.split(" ")).groupBy(identity).toSeq.map { case (w, ws) => (w, ws.size.toLong) }
      val want = counts.sortBy { case (w, n) => (-n, w) }.take(20)
      Seq(("top-20 exact token counts", want, r.toSeq.map(x => (x.getString(0), x.getLong(1)))),
        ("no underestimate", true, r.forall(_.getLong(3) >= 0)))
    }
    gate("graph_pagerank_iter") { r =>
      Seq(("top-20 ranks", pageRankTop20(lineitems.map(l => (l._1, l._2))),
        r.toSeq.map(x => (x.getLong(0), x.getLong(1)))))
    }
    gate("graph_triangle_count") { r =>
      val in1995 = lineitems.filter { case (_, _, day) => day >= Day1995 && day < Day1996 }
      Seq(("nodes, edges, wedges, triangles", Seq(triangles(in1995.map(l => (l._1, l._2)))),
        r.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))))
    }
  }
}

object Gates {
  /** Two gates of each family, chosen from the judged set to keep a run
    * inside the benchmark's schedule.
    */
  val Names: Seq[String] = Seq("dedup_exact", "dedup_minhash_lsh", "sketch_hll_distinct",
    "sketch_countmin_heavy", "graph_pagerank_iter", "graph_triangle_count")

  private val NDocs = 500
  private val NEvents = 10000
  private val NOrders = 15000
  private val Vocab = Seq("a", "the", "row", "scan", "join", "hash", "batch", "column", "key", "agg",
    "value", "table", "part", "merge", "sort", "window", "spark", "query", "line", "order", "group",
    "filter", "stream", "data", "fast", "slow", "big", "small", "customer", "vector")
  private val Langs = Seq("en", "de", "es", "fr", "zh")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  // days after 1992-01-01
  private val Day1995 = 1096
  private val Day1996 = 1461

  /** Undirected part co-purchase edges `pa < pb` of parts sharing an order. */
  private def edges(li: Seq[(Long, Long)]): Set[(Long, Long)] =
    li.distinct.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet

  /** The gate's three damped rounds in nano-unit integers: start
    * 1e9 div n, then rank = 1.5e8 div n + (17 · Σ rank(src) div outdeg(src)) div 20.
    */
  private def pageRankTop20(li: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val directed = edges(li).toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val outdeg = directed.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    val n = outdeg.size.toLong
    var rank = outdeg.map { case (v, _) => v -> 1000000000L / n }
    for (_ <- 1 to 3) {
      val inflow = directed.groupBy(_._2).map { case (v, es) => v -> es.map(e => rank(e._1) / outdeg(e._1)).sum }
      rank = inflow.map { case (v, in) => v -> (150000000L / n + 17 * in / 20) }
    }
    rank.toSeq.sortBy { case (v, r) => (-r, v) }.take(20)
  }

  /** (nodes, edges, wedges, triangles) of the co-purchase graph. */
  private def triangles(li: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val es = edges(li)
    val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet }
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val tri = es.toSeq.map { case (a, b) => adj(a).count(c => c > b && adj(b).contains(c)).toLong }.sum
    (adj.size.toLong, es.size.toLong, wedges, tri)
  }
}

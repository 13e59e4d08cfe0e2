package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.collect.Collector
import graft.ingest.{Extract, QueryInfoCorpus, WorkloadViews}
import graft.process.JsonlProcess
import graft.report.Report

object Workloads {
  /** `work` holds what a workload writes in set-up. */
  def apply(name: String, spark: SparkSession, seed: Long, work: String): Lifecycle = name match {
    case "daily_report" => new DailyReport(spark, new Window(seed, 100))
    case "backfill" => new Backfill(spark, new Window(seed, 500), new Gates(spark, seed, s"$work/fixture"))
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def sha(parts: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The seeded document window `[seed·n, seed·n + n)` of the synthetic
  * QueryInfo corpus, a pure function of the index. `n` is a multiple of 100,
  * so every window holds the same mix of drop classes.
  */
final class Window(seed: Long, val n: Int) {
  require(seed >= 0, s"seed must be >= 0, got $seed")
  // folded so that document indices, and the query ids the generator
  // derives from them, stay well inside the generator's tested range
  val first: Long = (seed % 1000000L) * n
  def ids: Seq[Long] = first until first + n

  private def par[T: scala.reflect.ClassTag](f: Long => T): Array[T] = {
    val a = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(k => a(k) = f(first + k))
    a
  }

  def docs(): Array[StubCoordinator.Doc] = par(StubCoordinator.doc)

  def parsed: Long = ids.count(QueryInfoCorpus.fate(_) == QueryInfoCorpus.Parsed).toLong

  /** Parsed documents that did not fail: the rows the analyzers see. */
  def analyzed: Seq[Long] = ids.filter(i => QueryInfoCorpus.fate(i) == QueryInfoCorpus.Parsed && !QueryInfoCorpus.failed(i))

  /** Expected per-node-type census (type, nodes, queries, checksum, table
    * CRC sum) from the generator's own bookkeeping, without the parser.
    */
  def census(): Seq[Census] = {
    val crc = new java.util.zip.CRC32
    par(i => QueryInfoCorpus.document(i)._2).toSeq
      .flatMap(_.groupBy(_.nodeType).toSeq).groupBy(_._1).toSeq.map { case (t, perDoc) =>
        val ns = perDoc.flatMap(_._2)
        val term = ns.map(b => QueryInfoCorpus.nodeTerm(b.dfsOrder, b.depth, b.subtreeEnd, b.fragmentIdx)).sum
        val tcrc = ns.flatMap(_.tableName).map { s => crc.reset(); crc.update(s.getBytes(UTF_8)); crc.getValue }.sum
        Census(t, ns.size.toLong, perDoc.size.toLong, term, tcrc)
      }.sortBy(_.nodeType)
  }
}

final case class Census(nodeType: String, nodes: Long, queries: Long, checksum: Long, tableCrc: Long)

/** One benchmark workload over a document window served by a
  * [[StubCoordinator]]: the product calls both workloads make, each inside
  * its layer's span, and the checks they share. `pass` is the timed work;
  * `check` runs after it, outside the timed window.
  */
abstract class Lifecycle(spark: SparkSession, w: Window) {
  private var coord: StubCoordinator = _
  private var expectedCensus: Seq[Census] = Nil
  private var collected = 0L
  def docsIn: Long = w.n

  def setup(): Unit = {
    coord = new StubCoordinator(docs.toIndexedSeq)
    expectedCensus = w.census()
  }

  def pass(t: Tracer, out: String, o: PassOut): Unit
  def check(out: String, o: PassOut, ops: Ops): Unit

  protected lazy val docs: Array[StubCoordinator.Doc] = w.docs()

  def close(): Unit = if (coord != null) coord.stop()

  /** `collect`: one `Collector.collectOnce` cycle against the stub. */
  protected def collect(t: Tracer, out: String, o: PassOut): Unit = {
    val r0 = coord.requests.get
    val b0 = coord.bytesServed.get
    val t0 = System.nanoTime()
    collected = t.span("collect")(new Collector(coord.url).collectOnce(s"$out/raw", delayMs = 0)).toLong
    val requests = coord.requests.get - r0
    o.layer("collect.requests") = requests.toDouble
    o.layer("collect.bytes_mb") = (coord.bytesServed.get - b0) / 1048576.0
    // per document fetch; the one listing request is not a document
    o.layer("collect.ms_per_doc") = (System.nanoTime() - t0) / 1e6 / math.max(1L, requests - 1)
  }

  /** `ingest`: extract the collected documents and write the summary table. */
  protected def ingest(t: Tracer, out: String): Unit = t.span("ingest") {
    Extract.writeParquet(Extract.extract(spark, s"$out/raw"), s"$out/summary")
  }

  // ---- checks, outside the timed window ---------------------------------

  /** Collected count, the delayed-ACK self-check, extracted rows against the
    * generator's drop classes, and the plan-node census.
    */
  protected def checkCollectAndIngest(out: String, o: PassOut, ops: Ops): Unit = {
    o.layer("collect.failed") = (w.n - collected).toDouble
    ops.check("documents collected", w.n, math.abs(w.n - collected))
    // at 40 ms a response waited for the delayed-ACK timer: that measures
    // the kernel, not the collector
    ops.check("collect latency below the 40 ms delayed-ACK floor", 1,
      if (o.layer("collect.ms_per_doc") < 40.0) 0 else 1)
    val rows = spark.read.parquet(s"$out/summary").count()
    o.layer("ingest.records_out") = rows.toDouble
    o.layer("ingest.dropped") = (w.n - rows).toDouble
    ops.check("documents parsed (expected drops excluded)", w.parsed, math.abs(w.parsed - rows))
    ops.expect("plan-node census", expectedCensus, census(s"$out/summary"))
  }

  private def census(summary: String): Seq[Census] =
    spark.read.parquet(summary)
      .select(col("query_id"), explode(col("plan_nodes")).as("n"))
      .select(col("query_id"), col("n.node_type").as("t"),
        (col("n.dfs_order").cast("long") * 31 + col("n.depth").cast("long") * 7 +
          col("n.subtree_end").cast("long") * 13 + col("n.fragment_idx").cast("long") * 3 + 1)
          .as("term"),
        coalesce(crc32(encode(col("n.table_name"), "UTF-8")), lit(0L)).as("tcrc"))
      .groupBy(col("t"), col("query_id"))
      .agg(count(lit(1)).as("pn"), sum(col("term")).as("pt"), sum(col("tcrc")).as("pc"))
      .groupBy(col("t"))
      .agg(sum(col("pn")), count(lit(1)), sum(col("pt")), sum(col("pc")))
      .orderBy(col("t")).collect().toSeq
      .map(r => Census(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
}

/** The analyst's daily run: collect → extract → report. `Report.render`
  * computes the header metrics and all 28 analyzer tables from the views and
  * renders them as one HTML file.
  */
final class DailyReport(spark: SparkSession, w: Window) extends Lifecycle(spark, w) {
  // one section per analyzer
  private val Sections = graft.analyze.Analyzers.all(null).size

  def pass(t: Tracer, out: String, o: PassOut): Unit = {
    collect(t, out, o)
    ingest(t, out)
    val v = t.span("ingest")(t.span("ingest.views")(WorkloadViews(spark.read.parquet(s"$out/summary"))))
    t.span("report")(Report.write(s"$out/report.html", Report.render(v)))
    o.layer("report.cached_mb") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  def check(out: String, o: PassOut, ops: Ops): Unit = {
    checkCollectAndIngest(out, o, ops)
    val html = new String(Files.readAllBytes(Paths.get(s"$out/report.html")), UTF_8)
    val sections = "<section>".r.findAllMatchIn(html).size
    val failed = "failed:".r.findAllMatchIn(html).size
    o.layer("report.html_kb") = html.getBytes(UTF_8).length / 1024.0
    o.layer("report.sections_failed") = failed.toDouble
    ops.check("report sections rendered without failure", Sections,
      math.abs(Sections - sections) + failed)
    ops.expect("report sections without data", 0, "not enough data".r.findAllMatchIn(html).size)
    // header metrics against the generator: every user is user<i % 17>
    def header(name: String): Option[String] =
      s"""<span>$name</span><b>([^<]*)</b>""".r.findFirstMatchIn(html).map(_.group(1))
    ops.expect("report header: queries", Some(w.analyzed.size.toString), header("queries"))
    ops.expect("report header: users", Some(w.analyzed.map(_ % 17).distinct.size.toString), header("users"))
    o.digest = Workloads.sha(Seq(html))
  }
}

/** The 5–15-day backfill, obfuscated for sharing: collect → extract →
  * process (users, schemas and catalogs renamed; locations and query text
  * removed), no analyze. The pass then runs the judged dedup, sketch and
  * graph gates ([[Gates]]) over their own fixture, so that the `queries`
  * layer is measured as well.
  */
final class Backfill(spark: SparkSession, w: Window, gates: Gates) extends Lifecycle(spark, w) {
  private val RawSchemas = (0 until 7).map(i => s"web$i")
  private val RawCatalogs = Seq("hive", "iceberg", "delta", "jmx", "memory")
  private var expectedUsers: Map[String, String] = Map.empty

  override def setup(): Unit = {
    super.setup()
    gates.setup()
    // the sequential user dictionary, derived without the product: users
    // numbered in the order of the first query id that carries them
    val users = w.ids.zip(docs)
      .filter { case (i, _) => QueryInfoCorpus.fate(i) == QueryInfoCorpus.Parsed }
      .map { case (i, d) => d.queryId -> s"user${i % 17}" }
    val token = users.groupBy(_._2).toSeq.map { case (u, qs) => (qs.map(_._1).min, u) }
      .sorted.zipWithIndex.map { case ((_, u), k) => u -> s"user$k" }.toMap
    expectedUsers = users.map { case (q, u) => q -> token(u) }.toMap
  }

  def pass(t: Tracer, out: String, o: PassOut): Unit = {
    collect(t, out, o)
    ingest(t, out)
    t.span("process") {
      var df = spark.read.parquet(s"$out/summary")
      df = JsonlProcess.renameUsers(df)
      df = JsonlProcess.renameSchemas(df)
      df = JsonlProcess.renameCatalogs(df)
      df = JsonlProcess.removeLocations(df)
      df = JsonlProcess.removeQuery(df)
      df.write.mode("overwrite").option("compression", "gzip").json(s"$out/processed")
    }
    gates.run(t)
  }

  /** A 3-part `catalog.schema.table` name that still carries a raw name. */
  private def leaks(c: Column): Column = {
    val p = split(c, "\\.")
    c.isNotNull && size(p) === 3 && (p(0).isin(RawCatalogs: _*) || p(1).isin(RawSchemas: _*))
  }

  def check(out: String, o: PassOut, ops: Ops): Unit = {
    checkCollectAndIngest(out, o, ops)
    val p = Extract.readJsonl(spark, s"$out/processed").toDF()
    val r = p.agg(
      count(lit(1)),
      sum(when(col("query") =!= "", 1).otherwise(0)),
      sum(size(filter(col("inputs"), i =>
        get_json_object(i, "$.schema").isin(RawSchemas: _*) ||
          get_json_object(i, "$.connectorId").isin(RawCatalogs: _*)))),
      sum(size(filter(col("plan_nodes"), n =>
        leaks(n.getField("table_name")) || leaks(n.getField("deepest_table"))))),
      bit_xor(xxhash64(col("*")))).collect()(0)
    val rows = r.getLong(0)
    ops.check("processed rows equal extracted rows", w.parsed, math.abs(w.parsed - rows))
    ops.check("query text removed", rows, r.getLong(1))
    ops.check("raw schema/catalog names left in inputs", rows, r.getLong(2))
    ops.check("raw schema/catalog names left in plan nodes", rows, r.getLong(3))
    val users = p.select(col("query_id"), col("user")).collect()
      .count(x => !expectedUsers.get(x.getString(0)).contains(x.getString(1)))
    ops.check("users renamed through the first-seen dictionary", rows, users.toLong)
    gates.check(ops, o)
    o.digest = f"$rows:${r.getLong(4)}%016x:${gates.digest}"
  }
}

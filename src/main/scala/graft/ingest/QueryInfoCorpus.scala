package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Deterministic synthetic QueryInfo corpus — the ingest-stage pricing
  * input the bench never had (round 20, the r19 verdict's ask #1). The
  * reference workload is stage 2 (`extract.py:123-167`) run over 5-15
  * days of collected QueryInfo documents (50-200 kB each,
  * `README.md:12`); this generator emits a ≥10k-document corpus of
  * gzipped QueryInfo JSON with realistic fragment/substage depth, the
  * five table-handle shapes, unit-suffixed stats, operator summaries,
  * task trees — and every DROP class the parser contracts
  * (`extract.py:127-129,168-169,204-205`): corrupt JSON, varada
  * internal queries, missing required keys, malformed operators.
  *
  * Everything is a PURE FUNCTION of the document index (splitmix64
  * streams — no Random, no time), so the expected per-node-type census
  * is a committed constant: [[expectedCensus]] computes it from the
  * generator's own tree bookkeeping WITHOUT the parser, and the judged
  * `ingest_flatten_census` gate compares the real
  * `Extract.extract → explode(plan_nodes)` pipeline against that sheet
  * (the JPEG fixture-oracle pattern; IngestCorpusSpec re-derives a
  * sampled slice with the raw parser to keep the pair honest).
  *
  * The corpus is written once per machine under java.io.tmpdir (keyed
  * by generation version + size) and reused — generation is driver-side
  * scaffolding, never part of a timed window ([[graft.Bench]] calls
  * [[ensure]] before its ingest leg).
  */
object QueryInfoCorpus {

  /** Bump when the document shapes change — stale corpora regenerate. */
  val Version = 1
  val NDocs = 10000

  def defaultDir: String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_qi_corpus_v${Version}_n$NDocs").getAbsolutePath

  // ---- deterministic per-document randomness ---------------------------

  /** splitmix64: the repo-standard deterministic mixer (Bench's probe). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Stream `k` of document `i`, folded to [0, bound). */
  private def rnd(i: Long, k: Long, bound: Int): Int =
    (((mix(i * 1000003L + k) >>> 1) % bound).toInt)

  // ---- document fate (the drop classes) --------------------------------

  sealed trait Fate
  case object Parsed extends Fate
  case object CorruptJson extends Fate // truncated document → Jackson error
  case object InternalQuery extends Fate // varada.internal_query = "true"
  case object MissingInputs extends Fate // required top-level key absent
  case object MalformedOperator extends Fate // operator missing required key

  def fate(i: Long): Fate = (i % 100) match {
    case 0 => CorruptJson
    case 1 => InternalQuery
    case 2 => MissingInputs
    case 3 => MalformedOperator
    case _ => Parsed
  }

  /** FAILED state — parsed (the census includes it; the ANALYZE stage
    * filters it, not the ingest stage).
    */
  def failed(i: Long): Boolean = fate(i) == Parsed && i % 11 == 4

  // ---- plan-tree generation with flatten bookkeeping -------------------

  /** One generated plan node's bookkeeping — exactly the fields the
    * parser's flatten derives, computed independently by the builder.
    */
  final case class NodeBook(nodeType: String, dfsOrder: Int, depth: Int,
      subtreeEnd: Int, fragmentIdx: Int, tableName: Option[String])

  private val UnaryTypes = Vector(
    "project", "filter", "aggregation", "sort", "topn", "limit",
    "window", "markdistinct", "assignuniqueid", "tablewriter")
  private val UnaryFqcn = Map(
    "project" -> "io.trino.sql.planner.plan.ProjectNode",
    "filter" -> "io.trino.sql.planner.plan.FilterNode",
    "aggregation" -> "io.trino.sql.planner.plan.AggregationNode",
    "sort" -> "io.trino.sql.planner.plan.SortNode")

  /** The five connector-handle shapes of `tableName` resolution
    * (`analyze.py:564-584`), cycled by `v`; returns (json, resolved).
    */
  private def tableJson(i: Long, f: Int, v: Int): (String, String) = {
    val schema = s"web${(i % 7)}"
    val table = s"t${(i % 23)}_$f"
    v % 5 match {
      case 0 => // schemaTableName + connectorId
        (s"""{"connectorId":"hive","connectorHandle":{"schemaTableName":{"schema":"$schema","table":"$table"}}}""",
          s"hive.$schema.$table")
      case 1 => // schemaName + tableName string + catalogHandle
        (s"""{"catalogHandle":"iceberg","connectorHandle":{"schemaName":"$schema","tableName":"$table"}}""",
          s"iceberg.$schema.$table")
      case 2 => // schemaName + table string + catalogName
        (s"""{"catalogName":"delta","connectorHandle":{"schemaName":"$schema","table":"$table"}}""",
          s"delta.$schema.$table")
      case 3 => // JMX: tableName OBJECT carrying schema info
        (s"""{"connectorId":"jmx","connectorHandle":{"tableName":{"schema":"$schema","table":"$table"}}}""",
          s"jmx.$schema.$table")
      case _ => // MemoryTableHandle: @type + id
        (s"""{"connectorId":"memory","connectorHandle":{"@type":"memory","id":"$table"}}""",
          s"memory.memory:$table")
    }
  }

  /** Build one fragment's plan tree: returns (rootJson, bookkeeping).
    * The builder does its OWN preorder numbering (depth, dfs_order,
    * subtree_end) — the independent twin of QueryInfoParser.flattenPlan.
    */
  private def buildPlan(i: Long, fragIdx: Int): (String, Seq[NodeBook]) = {
    val book = scala.collection.mutable.ArrayBuffer.empty[NodeBook]
    var order = 0
    var nodeSeq = 0
    // budget bounds the tree; leaves are forced once it runs out
    var budget = 8 + rnd(i, 7000L + fragIdx, 40)

    def next(): Int = { val n = nodeSeq; nodeSeq += 1; n }

    def leaf(depth: Int, k: Long): String = {
      val id = next()
      val myOrder = order; order += 1
      rnd(i, k * 31 + id, 3) match {
        case 0 =>
          val (tj, resolved) = tableJson(i, fragIdx, rnd(i, k * 37 + id, 5))
          book += NodeBook("tablescan", myOrder, depth, myOrder, fragIdx, Some(resolved))
          s"""{"@type":"tablescan","id":"$fragIdx.$id","table":$tj}"""
        case 1 =>
          book += NodeBook("remotesource", myOrder, depth, myOrder, fragIdx, None)
          s"""{"@type":"remotesource","id":"$fragIdx.$id"}"""
        case _ =>
          book += NodeBook("values", myOrder, depth, myOrder, fragIdx, None)
          s"""{"@type":"io.trino.sql.planner.plan.ValuesNode","id":"$fragIdx.$id"}"""
      }
    }

    def node(depth: Int, k: Long): String = {
      if (budget <= 1 || depth >= 14) return leaf(depth, k)
      budget -= 1
      val id = next()
      val myOrder = order; order += 1
      val pick = rnd(i, k * 131 + id, 10)
      val idx = book.length
      book += null // placeholder: subtree_end known after children
      val (typ, json) =
        if (pick < 5) { // unary chain — the common shape
          val t = UnaryTypes(rnd(i, k * 13 + id, UnaryTypes.length))
          val at = UnaryFqcn.getOrElse(t, t)
          val src = node(depth + 1, k * 3 + 1)
          (t, s"""{"@type":"$at","id":"$fragIdx.$id","source":$src}""")
        } else if (pick < 7) { // exchange fan-in
          val n = 1 + rnd(i, k * 17 + id, 3)
          val srcs = (0 until n).map(j => node(depth + 1, k * 5 + j + 1))
          ("exchange",
            s"""{"@type":"exchange","id":"$fragIdx.$id","sources":[${srcs.mkString(",")}]}""")
        } else if (pick < 9) { // binary join
          val jt = if (rnd(i, k * 19 + id, 3) == 0) "LEFT" else "INNER"
          val dist = if (rnd(i, k * 23 + id, 2) == 0) "PARTITIONED" else "REPLICATED"
          val crit = if (rnd(i, k * 29 + id, 4) == 0) "[]"
            else """[{"left":"a","right":"b"}]"""
          val l = node(depth + 1, k * 7 + 1)
          val r = node(depth + 1, k * 7 + 2)
          ("join",
            s"""{"@type":"io.trino.sql.planner.plan.JoinNode","id":"$fragIdx.$id","type":"$jt","criteria":$crit,"distributionType":"$dist","left":$l,"right":$r}""")
        } else { // semijoin (unary walk, join classification)
          val src = node(depth + 1, k * 11 + 1)
          ("semijoin",
            s"""{"@type":"semijoin","id":"$fragIdx.$id","type":"INNER","source":$src}""")
        }
      book(idx) = NodeBook(typ, myOrder, depth, order - 1, fragIdx, None)
      json
    }

    // roots alternate output / tablewriter-ish unary over the body
    val rootId = next()
    val rootOrder = order; order += 1
    val rootIdx = book.length
    book += null
    val body = node(1, 997L)
    book(rootIdx) = NodeBook("output", rootOrder, 0, order - 1, fragIdx, None)
    (s"""{"@type":"output","id":"$fragIdx.$rootId","source":$body}""", book.toSeq)
  }

  // ---- stage tree -------------------------------------------------------

  /** Stage tree: fragments are numbered in iterPlans order (this stage's
    * plan first, then subStages depth-first) — the parser's
    * fragment_idx contract. Returns (stageJson, books, nFragments).
    */
  private def buildStage(i: Long, depth: Int, firstFrag: Int)
      : (String, Seq[NodeBook], Int) = {
    val (planJson, planBook) = buildPlan(i, firstFrag)
    var frag = firstFrag + 1
    val nSubs = depth match {
      case 0 => 1 + rnd(i, 41L + firstFrag, 3)
      case 1 => rnd(i, 43L + firstFrag, 3)
      case 2 => rnd(i, 47L + firstFrag, 2)
      case _ => 0
    }
    val subs = (0 until nSubs).map { _ =>
      val (sj, sb, nf) = buildStage(i, depth + 1, frag)
      frag += nf
      (sj, sb)
    }
    val tasks = (0 until rnd(i, 53L + firstFrag, 4)).map { t =>
      s"""{"taskStatus":{"taskId":"$firstFrag.0.$t","state":"${
        if (rnd(i, 59L + t, 10) == 0) "FAILED" else "FINISHED"
      }"},"stats":{"totalScheduledTime":"${rnd(i, 61L + t, 500)}s","totalCpuTime":"${
        rnd(i, 67L + t, 400)}s","totalBlockedTime":"${rnd(i, 71L + t, 50)}ms"}}"""
    }
    val json =
      s"""{"plan":{"id":"$firstFrag","root":$planJson},"tasks":[${tasks.mkString(",")}],"subStages":[${subs.map(_._1).mkString(",")}]}"""
    (json, planBook ++ subs.flatMap(_._2), frag - firstFrag)
  }

  // ---- operators ---------------------------------------------------------

  private val OperatorTypes = Vector(
    "TableScanOperator", "ScanFilterAndProjectOperator", "FilterAndProjectOperator",
    "LookupJoinOperator", "HashBuilderOperator", "HashAggregationOperator",
    "ExchangeOperator", "PartitionedOutputOperator", "TaskOutputOperator",
    "TopNOperator", "WindowOperator", "OrderByOperator")

  private def operatorJson(i: Long, j: Int, malformedAt: Int): String = {
    val t = OperatorTypes(rnd(i, 900L + j, OperatorTypes.length))
    val tail = if (j == malformedAt) "" // outputPositions missing → record drops
      else s""","outputPositions":${rnd(i, 903L + j, 1000000)}"""
    s"""{"planNodeId":"0.${rnd(i, 901L + j, 8)}","operatorType":"$t","inputDataSize":"${
      rnd(i, 905L + j, 4000)}MB","rawInputDataSize":"${rnd(i, 917L + j, 4000)}MB","outputDataSize":"${
      rnd(i, 907L + j, 2000)}MB","inputPositions":${rnd(i, 909L + j, 2000000)},"peakTotalMemoryReservation":"${
      rnd(i, 911L + j, 512)}kB","addInputCpu":"${rnd(i, 913L + j, 90)}s","getOutputCpu":"${
      rnd(i, 919L + j, 30)}s","finishCpu":"${rnd(i, 923L + j, 10)}s","addInputWall":"${
      rnd(i, 929L + j, 120)}s","getOutputWall":"${rnd(i, 931L + j, 60)}s","finishWall":"${
      rnd(i, 937L + j, 20)}s","blockedWall":"${rnd(i, 941L + j, 5000)}ms"$tail}"""
  }

  // ---- whole document -----------------------------------------------------

  /** The full JSON text of document `i` (pre-truncation for the corrupt
    * class) plus its plan bookkeeping (empty for any dropped class).
    */
  def document(i: Long): (String, Seq[NodeBook]) = {
    val f = fate(i)
    val qid = f"20260${401 + (i % 28) / 10}%03d_${i % 24}%02d${(i * 7) % 60}%02d${(i * 13) % 60}%02d_$i%05d_corp"
    val user = s"user${i % 17}"
    val state = if (failed(i)) "FAILED" else "FINISHED"
    val internal = f == InternalQuery
    val catProps = if (internal) """{"varada":{"internal_query":"true"}}""" else "{}"
    val (stageJson, books, _) = buildStage(i, 0, 0)
    val nOps = 8 + rnd(i, 800L, 30)
    val malformedAt = if (f == MalformedOperator) rnd(i, 801L, nOps) else -1
    val ops = (0 until nOps).map(j => operatorJson(i, j, malformedAt))
    val inputs = s"""[{"connectorId":"hive","schema":"web${i % 7}","table":"t${i % 23}_0"}]"""
    val inputsField = if (f == MissingInputs) "" else s""","inputs":$inputs"""
    val err = if (state == "FAILED")
      s""","errorCode":{"code":${rnd(i, 810L, 20)},"name":"GENERIC_ERROR"}"""
      else ""
    val json =
      s"""{"queryId":"$qid","query":"SELECT c${i % 31} FROM web${i % 7}.t${i % 23} WHERE k = ${i % 1000}","state":"$state","updateType":null,"session":{"user":"$user","catalogProperties":$catProps},"queryStats":{"elapsedTime":"${rnd(i, 820L, 6000) / 10.0}s","totalCpuTime":"${rnd(i, 821L, 4000)}s","totalScheduledTime":"${rnd(i, 822L, 5000)}s","totalBlockedTime":"${rnd(i, 823L, 300)}ms","rawInputDataSize":"${rnd(i, 824L, 900)}GB","inputDataSize":"${rnd(i, 825L, 900)}GB","outputDataSize":"${rnd(i, 826L, 200)}MB","internalNetworkInputDataSize":"${rnd(i, 827L, 100)}MB","rawInputPositions":${rnd(i, 828L, 100000000)},"outputPositions":${rnd(i, 829L, 100000)},"internalNetworkInputPositions":${rnd(i, 830L, 500000)},"peakTotalMemoryReservation":"${rnd(i, 831L, 2048)}MB","rawWrittenDataSize":"${rnd(i, 832L, 10)}MB","operatorSummaries":[${ops.mkString(",")}]}$inputsField,"output":null$err,"outputStage":$stageJson}"""
    val parsedBooks = f match {
      case Parsed => books
      case _ => Nil // every other class drops the whole record
    }
    (json, parsedBooks)
  }

  /** The on-disk bytes of document `i` — the corrupt class truncates the
    * JSON mid-structure (a valid GZIP of an invalid document: the text
    * source must read it; Jackson must reject it).
    */
  def documentBytes(i: Long): String = {
    val (json, _) = document(i)
    if (fate(i) == CorruptJson) json.take(json.length / 2) else json
  }

  // ---- expected census (the committed-sheet source) ----------------------

  /** Per-node checksum term — plain integer arithmetic both the Spark
    * census aggregation and this bookkeeping evaluate identically.
    */
  def nodeTerm(dfsOrder: Long, depth: Long, subtreeEnd: Long, fragmentIdx: Long): Long =
    dfsOrder * 31L + depth * 7L + subtreeEnd * 13L + fragmentIdx * 3L + 1L

  final case class CensusRow(nodeType: String, nNodes: Long, nQueries: Long,
      checksum: Long, tableCrcSum: Long)

  /** The expected per-node-type census over the WHOLE corpus, computed
    * from generator bookkeeping only (no parser, no Spark) — the
    * committed sheet's source of truth.
    */
  def expectedCensus(nDocs: Int = NDocs): Seq[CensusRow] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
    val crc = new java.util.zip.CRC32
    (0L until nDocs.toLong).foreach { i =>
      val (_, books) = document(i)
      books.groupBy(_.nodeType).foreach { case (t, ns) =>
        val term = ns.map(n => nodeTerm(n.dfsOrder, n.depth, n.subtreeEnd, n.fragmentIdx)).sum
        val tcrc = ns.flatMap(_.tableName).map { name =>
          crc.reset(); crc.update(name.getBytes("UTF-8")); crc.getValue
        }.sum
        val (c, q, s, tc) = acc.getOrElse(t, (0L, 0L, 0L, 0L))
        acc(t) = (c + ns.size, q + 1, s + term, tc + tcrc)
      }
    }
    acc.toSeq.map { case (t, (n, q, s, tc)) => CensusRow(t, n, q, s, tc) }
      .sortBy(_.nodeType)
  }

  // ---- corpus materialization --------------------------------------------

  /** Write the corpus (idempotent, marker-guarded, parallel): one
    * `q<i>.json.gz` per document. Returns the corpus directory.
    *
    * Safe across JVMs sharing the directory: the corpus is generated into
    * a sibling temp directory and published with one atomic rename, so
    * `dir` only ever exists complete (with its `_SUCCESS` marker). A JVM
    * that loses the race discards its copy and uses the winner's.
    */
  def ensure(dir: String = defaultDir, nDocs: Int = NDocs): String = synchronized {
    val d = Paths.get(dir).toAbsolutePath
    if (Files.exists(d.resolve("_SUCCESS"))) return dir
    Files.createDirectories(d.getParent)
    val tmp = Files.createTempDirectory(d.getParent, s"${d.getFileName}.tmp")
    try {
      java.util.stream.LongStream.range(0L, nDocs.toLong).parallel().forEach { i =>
        val bytes = documentBytes(i).getBytes("UTF-8")
        val f = tmp.resolve(f"q$i%05d.json.gz").toFile
        val out = new java.util.zip.GZIPOutputStream(
          new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
        try out.write(bytes) finally out.close()
      }
      Files.writeString(tmp.resolve("_SUCCESS"), s"$nDocs\n")
      publish(tmp, d)
    } finally deleteFlat(tmp)
    dir
  }

  /** Atomically renames the complete corpus `tmp` to `d`. When `d` is
    * already complete another JVM won the race and `tmp` is left for the
    * caller to discard; an incomplete `d` (left by a writer that did not
    * publish atomically) is deleted and the rename retried once.
    */
  private[graft] def publish(tmp: Path, d: Path, retry: Boolean = true): Unit =
    try Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE) catch {
      case _: java.io.IOException if Files.exists(d.resolve("_SUCCESS")) =>
      case _: java.io.IOException if retry => deleteFlat(d); publish(tmp, d, retry = false)
    }

  /** Deletes a directory of plain files, if it exists. */
  private def deleteFlat(p: Path): Unit = {
    val f = p.toFile
    Option(f.listFiles()).foreach(_.foreach(_.delete()))
    f.delete()
  }
}

package graft

import graft.ingest.{Extract, WorkloadViews}

/** Golden end-to-end: fixture QueryInfo docs → summaries → derived views
  * (FIXTURES.md §1; covers every plan-tree child rule and table-handle
  * variant the reference handles).
  */
class ExtractSpec extends SparkSpec {

  private lazy val summaries =
    Extract.extract(spark, resourcePath("queryinfo")).cache()
  private lazy val views = WorkloadViews(summaries.toDF())

  test("internal and corrupt inputs drop; FINISHED and FAILED extract") {
    val rows = summaries.collect().sortBy(_.query_id)
    assert(rows.length === 3) // q4 (varada internal) and q5 (corrupt) dropped
    assert(rows.map(_.state).toSeq === Seq("FINISHED", "FAILED", "FINISHED"))
  }

  test("unit parsing and falsy-coalescing on the summary grain") {
    val q1 = summaries.collect().find(_.query_id.endsWith("abcde")).get
    assert(q1.elapsed_time === Some(90.0))
    assert(q1.cpu_time === Some(45.0))
    assert(q1.scheduled_time === Some(120.0))
    assert(q1.blocked_time === Some(0.5))
    assert(q1.input_size === Some(math.pow(1024, 3)))
    assert(q1.output_size === Some(10 * 1048576.0))
    assert(q1.peak_mem === Some(512 * 1024.0))
    assert(q1.input_rows === Some(1000000L))
    // q3: rawInputDataSize "0B" is falsy → falls through to inputDataSize
    val q3 = summaries.collect().find(_.query_id.endsWith("cdefg")).get
    assert(q3.input_size === Some(200 * 1048576.0))
    assert(q3.update === Some("INSERT"))
  }

  test("plan flatten: DFS order, child rules, FQCN normalize") {
    val q1 = summaries.collect().find(_.query_id.endsWith("abcde")).get
    val f0 = q1.plan_nodes.filter(_.fragment_idx == 0)
    assert(f0.map(n => (n.node_type, n.dfs_order)) ===
      Seq(("output", 0), ("exchange", 1), ("remotesource", 2)))
    val f1 = q1.plan_nodes.filter(_.fragment_idx == 1)
    assert(f1.map(_.node_type) ===
      Seq("project", "join", "tablescan", "exchange", "remotesource"))
    val join = f1.find(_.node_type == "join").get // FQCN JoinNode normalized
    assert(join.has_criteria === Some(true))
    assert(join.join_distribution === Some("PARTITIONED"))
    val project = f1.find(_.node_type == "project").get
    assert(project.subtree_end === 4)
    assert(project.deepest_table === Some("hive.web.logs"))
  }

  test("table-handle variants resolve (analyze.py:564-584)") {
    val q3 = summaries.collect().find(_.query_id.endsWith("cdefg")).get
    val tables = q3.plan_nodes.filter(_.node_type == "tablescan")
      .map(n => n.node_id -> n.table_name.get).toMap
    assert(tables("4") === "iceberg.warehouse.m") // schemaName+tableName, catalogName
    assert(tables("5") === "memory.memory:42") // MemoryTableHandle @type:id
    assert(tables("6") === "jmx.java.lang.Memory") // JMX dict-shaped tableName
  }

  test("task tree flattens with stage paths") {
    val q1 = summaries.collect().find(_.query_id.endsWith("abcde")).get
    assert(q1.tasks.map(_.task_id).sorted === Seq("1.0.0", "1.0.1"))
    assert(q1.tasks.forall(_.stage_path == "0"))
    assert(q1.tasks.find(_.task_id == "1.0.0").get.scheduled_time === Some(30.0))
  }

  test("join classification (A24): equi vs cross vs semi") {
    val joins = views.joins
      .select("query_id", "node_id", "probe_type", "build_type", "join_distribution")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(joins === Set(
      ("11", "LookupJoinOperator", "HashBuilderOperator"), // criteria → hash join
      ("3", "NestedLoopJoinOperator", "NestedLoopBuildOperator"), // INNER + no criteria
      ("2", "HashSemiJoinOperator", "SetBuilderOperator"))) // semijoin
  }

  test("scan ops resolve to deepest table (A22/A23)") {
    val scans = views.scans
      .select("node_id", "table_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(scans === Set(
      ("12", "hive.web.logs"),
      ("4", "iceberg.warehouse.m"),
      ("5", "memory.memory:42")))
  }

  test("poison records drop instead of killing the job") {
    import graft.ingest.QueryInfoParser
    val base = scala.io.Source.fromFile(resourcePath("queryinfo/q2.json")).mkString
    assert(QueryInfoParser.parse(base).isDefined)
    // unknown unit suffix reaches the float parse ("1.5P" for "1.5PB") —
    // ValueError in the reference → record dropped, not a task failure
    assert(QueryInfoParser.parse(base.replace("\"100ms\"", "\"1.5PB\"")).isEmpty)
    // missing required stats key (KeyError in the reference) → dropped
    assert(QueryInfoParser.parse(base.replace("\"totalCpuTime\"", "\"renamedKey\"")).isEmpty)
    // present-but-null required key still parses (parse_units(None) → None)
    assert(QueryInfoParser.parse(base.replace("\"totalCpuTime\": \"5ms\"", "\"totalCpuTime\": null"))
      .exists(_.cpu_time.isEmpty))
  }

  test("jsonl round-trip preserves the summary schema") {
    val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/summary"
    Extract.writeJsonl(summaries, out)
    val back = Extract.readJsonl(spark, out)
    assert(back.count() === 3)
    val q1 = back.collect().find(_.query_id.endsWith("abcde")).get
    assert(q1.operators.length === 3)
    assert(q1.plan_nodes.length === 8)
  }

  test("readJsonl drops malformed lines instead of keeping all-null rows") {
    import java.nio.file.{Files, Paths}
    val out = Files.createTempDirectory("graft-jsonl-bad").toString + "/summary"
    Extract.writeJsonl(summaries, out)
    // the reference discards unparseable lines (extract.py:204-205): junk
    // that isn't JSON and JSON missing the mandatory key must both drop
    Files.write(Paths.get(out, "junk1.json"), "this is not json".getBytes)
    Files.write(Paths.get(out, "junk2.json"), """{"user": "x"}""".getBytes)
    val back = Extract.readJsonl(spark, out)
    assert(back.count() === 3)
    assert(back.collect().forall(_.query_id != null))
  }

  test("analyze --limit keeps the first N summaries in query-id order") {
    val workload = Extract.extract(spark, resourcePath("workload_gate")).toDF()
    val limited = Pipeline.limitSummaries(workload, 3)
    val kept = limited.select("query_id").collect().map(_.getString(0)).toSet
    val firstThree = workload.select("query_id").collect()
      .map(_.getString(0)).sorted.take(3).toSet
    assert(kept === firstThree)
    // top-N, not a global sort: the plan is TakeOrderedAndProject
    assert(limited.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("joins dedup: duplicate (node, operator type) keeps the LAST occurrence") {
    import spark.implicits._
    import graft.model.{OperatorStat, PlanNode, QuerySummary}
    def op(t: String, size: Double) = OperatorStat("7", t, Some(size), None,
      None, None, Some(10L), Some(5L), None, None, None, None, Some(1.0),
      None, None, None)
    val node = PlanNode("0", 0, "7", "join", None, 0, 0, 0, None, None,
      Some("INNER"), Some("PARTITIONED"), Some(true))
    // two LookupJoinOperator entries for node 7 — the reference's
    // {op["type"]: op} dict (analyze.py:1056) keeps the second
    val s = QuerySummary("q", "20220101_000000_00001_zzzzz", "u", "FINISHED",
      None, None, None, None, None, None, None, None, None, None, None,
      None, None, None, Seq(),
      Seq(op("LookupJoinOperator", 1.0), op("HashBuilderOperator", 3.0),
        op("LookupJoinOperator", 2.0)),
      Seq(node), Seq())
    val v = WorkloadViews(Seq(s).toDS().toDF())
    val rows = v.joins.select("probe_input_size", "build_input_size").collect()
    assert(rows.length === 1) // one pair, not a 2x1 cross product
    assert(rows.head.getDouble(0) === 2.0) // last LookupJoin wins
    assert(rows.head.getDouble(1) === 3.0)
  }

  test("node resolution: the later fragment's node wins, then the later dfs_order") {
    import spark.implicits._
    import graft.model.{OperatorStat, PlanNode, QuerySummary}
    def op(id: String, t: String) = OperatorStat(id, t, Some(1.0), None,
      None, None, Some(10L), Some(5L), None, None, None, None, Some(1.0),
      None, None, None)
    def node(frag: Int, id: String, typ: String, dfs: Int, table: String) =
      PlanNode(s"$frag", frag, id, typ, None, 0, dfs, dfs, None, Some(table),
        Some("INNER"), Some("PARTITIONED"), Some(true))
    // node 5 and node 7 appear in two fragments, node 9 twice in one; the
    // winners of 5 and 7 are listed first and 9's last, so neither the
    // first nor the last occurrence in list order gets all three right
    val s = QuerySummary("q", "20220101_000000_00001_zzzzz", "u", "FINISHED",
      None, None, None, None, None, None, None, None, None, None, None,
      None, None, None, Seq(),
      Seq(op("5", "TableScanOperator"), op("9", "ScanFilterAndProjectOperator"),
        op("7", "LookupJoinOperator"), op("7", "HashBuilderOperator")),
      Seq(node(1, "5", "tablescan", 0, "late"), node(1, "7", "project", 1, "p"),
        node(0, "5", "tablescan", 0, "early"), node(0, "7", "join", 1, "j"),
        node(2, "9", "tablescan", 1, "shallow"), node(2, "9", "tablescan", 3, "deep")),
      Seq())
    val v = WorkloadViews(Seq(s).toDS().toDF())
    val scans = v.scans.select("node_id", "table_name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(scans === Map("5" -> "late", "9" -> "deep"))
    // node 7's join is shadowed by the later fragment's project node
    assert(v.joins.count() === 0)
  }

  // r21: the binaryFile+task-side-gunzip source — gz handling is
  // extension-keyed (the reference's rule) and a corrupt ARCHIVE drops
  // the record (extract.py's per-file catch) instead of failing the task
  test("gz extract: gzipped docs parse; a truncated gz archive drops, not crashes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-extract")
    try {
      val src = java.nio.file.Paths.get(resourcePath("queryinfo"), "q1.json")
      val bytes = java.nio.file.Files.readAllBytes(src)
      val gz = new java.io.ByteArrayOutputStream()
      val out = new java.util.zip.GZIPOutputStream(gz)
      out.write(bytes); out.close()
      java.nio.file.Files.write(dir.resolve("ok.json.gz"), gz.toByteArray)
      // truncated archive: valid gzip header, cut mid-stream
      java.nio.file.Files.write(dir.resolve("bad.json.gz"),
        gz.toByteArray.take(gz.toByteArray.length / 2))
      // and a plain (uncompressed) copy — extension-keyed: no gunzip
      java.nio.file.Files.write(dir.resolve("plain.json"), bytes)
      val rows = Extract.extract(spark, dir.toString).collect()
      assert(rows.length === 2) // ok.json.gz + plain.json; bad dropped
      assert(rows.map(_.query_id).distinct.length === 1)
      // unit surface: decode is extension-keyed, corrupt archive -> None
      assert(Extract.decodeFile("x.json", "{}".getBytes("UTF-8")) === Some("{}"))
      assert(Extract.decodeFile("x.json.gz",
        gz.toByteArray.take(4)) === None)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

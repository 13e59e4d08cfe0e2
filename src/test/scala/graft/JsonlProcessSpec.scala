package graft

import org.apache.spark.sql.functions._
import graft.process.JsonlProcess

/** A13-A15: schema filter + deterministic dictionary obfuscation. */
class JsonlProcessSpec extends SparkSpec {

  import spark.implicits._

  private def df = Seq(
    ("20220101_000001_00001_aaaaa", "alice", "webapp"),
    ("20220101_000002_00002_bbbbb", "bob", null),
    ("20220101_000003_00003_ccccc", "alice", "etl"),
    ("20220101_000004_00004_ddddd", "carol", "webapp"))
    .toDF("query_id", "user", "source_app")

  test("obfuscation is first-seen-ordered, stable, and injective") {
    val out = JsonlProcess.renameUsers(df)
      .select("query_id", "user").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("20220101_000001_00001_aaaaa") === "user0") // alice first seen
    assert(out("20220101_000002_00002_bbbbb") === "user1")
    assert(out("20220101_000003_00003_ccccc") === "user0") // stable: same input → same token
    assert(out("20220101_000004_00004_ddddd") === "user2")
    // injective: distinct inputs → distinct tokens
    assert(out.values.toSet.size === 3)
    // running twice produces the same mapping (determinism)
    val again = JsonlProcess.renameUsers(df)
      .select("query_id", "user").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again === out)
  }

  test("hash-token mode is injective, stable, and window/shuffle-free") {
    val out = JsonlProcess.renameUsers(df, hashTokens = true)
    val vals = out.select("query_id", "user").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // injective over the 3 distinct users, prefixed, stable across rows
    assert(vals.values.toSet.size === 3)
    assert(vals.values.forall(v => v.startsWith("user") && v.length === 4 + 16))
    assert(vals("20220101_000001_00001_aaaaa") === vals("20220101_000003_00003_ccccc"))
    // deterministic across runs (pure function of the name)
    val again = JsonlProcess.renameUsers(df, hashTokens = true)
      .select("query_id", "user").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again === vals)
    // the point of the mode: a narrow map — no window, no join, no shuffle;
    // the sequential mode's rewrite is a narrow map over its collected
    // dictionary too
    for (plan <- Seq(out, JsonlProcess.renameUsers(df))
        .map(_.queryExecution.executedPlan.toString))
      assert(Seq("Window", "Exchange", "Join", "Generate")
        .forall(op => !plan.contains(op)), plan)
  }

  test("hash-token array mode keeps '' / empty / null identity without explode") {
    val d = Seq(
      ("q1", Seq("p_2022", "", "p_2023")),
      ("q2", Seq.empty[String]),
      ("q3", null: Seq[String]))
      .toDF("query_id", "partition_ids")
    val out = JsonlProcess.obfuscateArrayColumn(d, "partition_ids", "partition",
      hashTokens = true)
    val rows = out.orderBy("query_id").collect()
      .map(r => Option(r.getSeq[String](1)).map(_.toList))
    assert(rows(0).get.size === 3)
    assert(rows(0).get(1) === "") // '' guard holds element-wise
    assert(rows(0).get(0) !== rows(0).get(2)) // injective
    assert(rows(0).get.forall(v => v.isEmpty || v.startsWith("partition")))
    assert(rows(1) === Some(Nil))
    assert(rows(2) === None)
    for (plan <- Seq(out, JsonlProcess.obfuscateArrayColumn(d, "partition_ids", "partition"))
        .map(_.queryExecution.executedPlan.toString))
      assert(Seq("Window", "Exchange", "Join", "Generate")
        .forall(op => !plan.contains(op)), plan)
  }

  test("filter keeps matches, includeAbsent keeps nulls") {
    assert(JsonlProcess.filterByColumn(df, "source_app", "webapp").count() === 3)
    assert(JsonlProcess.filterByColumn(df, "source_app", "webapp",
      includeAbsent = false).count() === 2)
  }

  test("array obfuscation shares one dictionary across rows, keeps order") {
    val d = Seq(
      ("20220101_000001_00001_aaaaa", Seq("p_2022", "p_2023")),
      ("20220101_000002_00002_bbbbb", Seq("p_2023", "", "p_2024", "p_2022")),
      ("20220101_000003_00003_ccccc", Seq.empty[String]),
      ("20220101_000004_00004_ddddd", null: Seq[String]))
      .toDF("query_id", "partition_ids")
    val rows = JsonlProcess.obfuscateArrayColumn(d, "partition_ids", "partition")
      .orderBy("query_id").collect()
    val out = rows.map(r => Option(r.getSeq[String](1)).map(_.toList))
    // p_2022 seen first (row1 pos0) → partition0; p_2023 → partition1; p_2024 → partition2
    assert(out(0) === Some(List("partition0", "partition1")))
    // '' keeps its position unmapped (NameObfuscator's guard)
    assert(out(1) === Some(List("partition1", "", "partition2", "partition0")))
    assert(out(2) === Some(Nil)) // empty stays empty
    assert(out(3) === None) // null stays null
  }

  test("removeQuery blanks the text") {
    val d2 = df.withColumn("query", lit("SELECT secret FROM t"))
    assert(JsonlProcess.removeQuery(d2).select("query").distinct().collect()
      .map(_.getString(0)).toSeq === Seq(""))
  }

  // ---- multi-key filter_line parity ----------------------------------

  private def mk = Seq(
    ("q1", "alice", "etl"),
    ("q2", "bob", null),
    ("q3", null, null),
    ("q4", "alice", "webapp"))
    .toDF("query_id", "user", "source_app")

  test("filterByColumns OR keeps any match plus all-absent rows") {
    val keys = Map("user" -> "alice", "source_app" -> "webapp")
    val kept = JsonlProcess.filterByColumns(mk, keys)
      .select("query_id").collect().map(_.getString(0)).toSet
    // q1 (user match), q4 (both), q3 (every key absent); q2 has a present
    // non-matching key and one absent → dropped (sum(num_exist) != 0)
    assert(kept === Set("q1", "q3", "q4"))
  }

  test("filterByColumns AND requires every key to match") {
    val keys = Map("user" -> "alice", "source_app" -> "webapp")
    val kept = JsonlProcess.filterByColumns(mk, keys, orAnd = false)
      .select("query_id").collect().map(_.getString(0)).toSet
    assert(kept === Set("q3", "q4")) // q4 matches all; q3 all-absent
    val strict = JsonlProcess.filterByColumns(mk, keys, orAnd = false,
      includeAbsent = false).select("query_id").collect().map(_.getString(0)).toSet
    assert(strict === Set("q4"))
  }

  // ---- schema/catalog rename over the workload_gate fixtures ----------

  private lazy val workload =
    graft.ingest.Extract.extract(spark, resourcePath("workload_gate")).toDF()

  test("renameSchemas shares ONE dictionary across inputs and table names") {
    val out = JsonlProcess.renameSchemas(workload).cache()
    val inputSchemas = out.select(explode(col("inputs")).as("i"))
      .select(get_json_object(col("i"), "$.schema").as("s"))
      .collect().map(_.getString(0)).toSet
    val tableNames = out.select(explode(col("plan_nodes")).as("n"))
      .select(col("n.table_name")).na.drop()
      .collect().map(_.getString(0)).toSet
    // first-seen by query_id: g1 (web) → schema0, g2 (sales) → schema1,
    // g3 (raw) → schema2
    assert(inputSchemas === Set("schema0", "schema1", "schema2"))
    assert(tableNames.contains("hive.schema0.logs"))   // same token as inputs' web
    assert(tableNames.contains("hive.schema0.users"))
    assert(tableNames.contains("hive.schema1.orders"))
    assert(tableNames.contains("hive.schema1.items"))
    assert(tableNames.contains("iceberg.schema2.events"))
    assert(tableNames.contains("iceberg.schema2.clicks"))
    assert(tableNames.contains("warehouse.dims"))      // 2-part: untouched
    // no original schema name survives anywhere (in a 3-part name)
    assert(!tableNames.exists(t =>
      t.contains(".web.") || t.contains(".sales.") || t.contains(".raw.")))
    // deepest_table goes through the same dictionary
    val deepest = out.select(explode(col("plan_nodes")).as("n"))
      .select(col("n.deepest_table")).na.drop()
      .collect().map(_.getString(0)).toSet
    assert(deepest.forall(d =>
      !d.contains(".web.") && !d.contains(".sales.") && !d.contains(".raw.")))
  }

  test("renameCatalogs maps the connector segment and inputs connectorId") {
    val out = JsonlProcess.renameCatalogs(workload)
    val inputCats = out.select(explode(col("inputs")).as("i"))
      .select(get_json_object(col("i"), "$.connectorId").as("c"))
      .collect().map(_.getString(0)).toSet
    // first-seen: hive (g1) → catalog0, iceberg (g3) → catalog1
    assert(inputCats === Set("catalog0", "catalog1"))
    val tableNames = out.select(explode(col("plan_nodes")).as("n"))
      .select(col("n.table_name")).na.drop()
      .collect().map(_.getString(0)).toSet
    assert(tableNames.contains("catalog0.web.logs"))
    assert(tableNames.contains("catalog1.raw.events"))
    assert(tableNames.exists(_.startsWith("catalog")) &&
      !tableNames.exists(_.startsWith("hive.")) &&
      !tableNames.exists(_.startsWith("iceberg.")))
    // 2-part names pass through untouched (documented divergence)
    assert(tableNames.contains("warehouse.dims"))
  }

  test("removeLocations blanks path values inside raw inputs JSON") {
    val d = Seq(("q1", Seq("""{"schema":"web","location":"s3://secret/bucket","table":"t"}""")))
      .toDF("query_id", "inputs")
    val out = JsonlProcess.removeLocations(d)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
    assert(out === Array("""{"schema":"web","location":"","table":"t"}"""))
  }

  test("removeLocations scrubs a path containing an escaped quote whole") {
    val d = Seq(("q1", Seq("""{"location":"s3://b/we\"ird","table":"t"}""")))
      .toDF("query_id", "inputs")
    val out = JsonlProcess.removeLocations(d)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
    assert(out === Array("""{"location":"","table":"t"}"""))
  }

  test("renameSchemas hash-token mode: pure-function tokens, no first-seen order") {
    val d = Seq(
      ("q1", Seq("""{"connectorId":"hive","schema":"web","table":"t"}""",
        """{"connectorId":"hive","schema":"ads","table":"t"}""")),
      ("q2", Seq("""{"connectorId":"hive","schema":"web","table":"u"}""")))
      .toDF("query_id", "inputs")
      .withColumn("plan_nodes", expr(
        "CAST(array() AS array<struct<fragment_id:string,fragment_idx:int," +
          "node_id:string,node_type:string,parent_id:string,depth:int," +
          "dfs_order:int,subtree_end:int,table_name:string," +
          "deepest_table:string,join_type:string,join_distribution:string," +
          "has_criteria:boolean>>)"))
    val toks = JsonlProcess.renameSchemas(d, hashTokens = true)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
      .map(s => s.split("\"schema\":\"")(1).split("\"")(0))
    // injective, prefixed, 16-hex tokens (the module-wide hash-token
    // contract); same name → same token everywhere
    assert(toks.toSet.size === 2)
    assert(toks.forall(t => t.startsWith("schema") && t.length === 6 + 16))
    assert(toks(0) === toks(2))
    // stable across runs and independent of row order (pure function)
    val again = JsonlProcess.renameSchemas(d.orderBy(col("query_id").desc),
      hashTokens = true)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
      .map(s => s.split("\"schema\":\"")(1).split("\"")(0))
    assert(again.toSet === toks.toSet)
  }

  test("dictionary cardinality guard: past the bound fails loud, at the bound passes") {
    // round 12: the scale contract ("dictionaries are catalog-metadata-
    // sized") is enforced, not documented — a pathological corpus must
    // fail with the escape hatches named, BEFORE the driver heap goes
    val d = Seq(
      ("q1", Seq("""{"connectorId":"hive","schema":"s_one","table":"t"}""")),
      ("q2", Seq("""{"connectorId":"hive","schema":"s_two","table":"t"}""")),
      ("q3", Seq("""{"connectorId":"hive","schema":"s_three","table":"t"}""")))
      .toDF("query_id", "inputs")
      .withColumn("plan_nodes", expr(
        "CAST(array() AS array<struct<fragment_id:string,fragment_idx:int," +
          "node_id:string,node_type:string,parent_id:string,depth:int," +
          "dfs_order:int,subtree_end:int,table_name:string," +
          "deepest_table:string,join_type:string,join_distribution:string," +
          "has_criteria:boolean>>)"))
    spark.conf.set("spark.graft.maxDictNames", "2")
    try {
      val e = intercept[IllegalArgumentException](JsonlProcess.renameSchemas(d))
      assert(e.getMessage.contains("more than 2 distinct names"))
      assert(e.getMessage.contains("--hash-tokens"))
      // hash mode still collects a map — the guard covers it too
      intercept[IllegalArgumentException](
        JsonlProcess.renameSchemas(d, hashTokens = true))
      // a malformed override names the knob
      spark.conf.set("spark.graft.maxDictNames", "lots")
      val bad = intercept[IllegalArgumentException](JsonlProcess.renameSchemas(d))
      assert(bad.getMessage.contains("spark.graft.maxDictNames"))
      // a bound at/past Int.MaxValue would silently disarm the overflow
      // sentinel (limit() is Int-typed) — refused loudly instead
      spark.conf.set("spark.graft.maxDictNames", Int.MaxValue.toString)
      val big = intercept[IllegalArgumentException](JsonlProcess.renameSchemas(d))
      assert(big.getMessage.contains("maxDictNames"))
      // exactly at the bound: no false positive
      spark.conf.set("spark.graft.maxDictNames", "3")
      assert(JsonlProcess.renameSchemas(d).count() === 3L)
    } finally spark.conf.unset("spark.graft.maxDictNames")
  }

  test("renameSchemas handles a schema name carrying an escaped quote") {
    val d = Seq(
      ("q1", Seq("""{"connectorId":"hive","schema":"we\"b","table":"t"}"""),
        Seq.empty[String]))
      .toDF("query_id", "inputs", "ignore")
      .withColumn("plan_nodes", expr(
        "CAST(array() AS array<struct<fragment_id:string,fragment_idx:int," +
          "node_id:string,node_type:string,parent_id:string,depth:int," +
          "dfs_order:int,subtree_end:int,table_name:string," +
          "deepest_table:string,join_type:string,join_distribution:string," +
          "has_criteria:boolean>>)"))
    val out = JsonlProcess.renameSchemas(d)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
    // the escaped form in the raw JSON is matched and replaced — the
    // original name must not survive
    assert(out === Array("""{"connectorId":"hive","schema":"schema0","table":"t"}"""))
  }

  test("renameSchemas matches control-character escapes in the raw JSON") {
    // Jackson stores a newline as \n in the compact element; the rewrite
    // must search for the ESCAPED form or the name leaks through unrenamed
    val d = Seq(("q1", Seq("{\"schema\":\"we\\nb\",\"table\":\"t\"}")))
      .toDF("query_id", "inputs")
      .withColumn("plan_nodes", expr(
        "CAST(array() AS array<struct<fragment_id:string,fragment_idx:int," +
          "node_id:string,node_type:string,parent_id:string,depth:int," +
          "dfs_order:int,subtree_end:int,table_name:string," +
          "deepest_table:string,join_type:string,join_distribution:string," +
          "has_criteria:boolean>>)"))
    val out = JsonlProcess.renameSchemas(d)
      .select(explode(col("inputs"))).collect().map(_.getString(0))
    assert(out === Array("{\"schema\":\"schema0\",\"table\":\"t\"}"))
  }

  test("renameSchemas passes empty-string schemas through (ANSI map miss must not throw)") {
    val d = Seq(("q1", Seq("""{"schema":"","table":"t"}""",
        """{"schema":"web","table":"u"}""")))
      .toDF("query_id", "inputs")
      .withColumn("plan_nodes", expr(
        "CAST(array() AS array<struct<fragment_id:string,fragment_idx:int," +
          "node_id:string,node_type:string,parent_id:string,depth:int," +
          "dfs_order:int,subtree_end:int,table_name:string," +
          "deepest_table:string,join_type:string,join_distribution:string," +
          "has_criteria:boolean>>)"))
    val out = JsonlProcess.renameSchemas(d)
      .select(explode(col("inputs"))).collect().map(_.getString(0)).toSeq
    // '' never enters the dictionary (NameObfuscator's guard) and must
    // not crash the ANSI map lookup; the real name still renames
    assert(out === Seq("""{"schema":"","table":"t"}""",
      """{"schema":"schema0","table":"u"}"""))
  }

  test("renameSchemas keeps duplicate query_id rows 1:1 (no array merge)") {
    val dup = workload.unionAll(workload)
    val out = JsonlProcess.renameSchemas(dup)
    assert(out.count() === workload.count() * 2)
    // arrays keep their per-row sizes — nothing doubled by the rewrite
    val sizes = out.select(size(col("inputs")).as("s")).collect().map(_.getInt(0)).sorted
    val orig = workload.select(size(col("inputs")).as("s")).collect().map(_.getInt(0))
    assert(sizes.toSeq === (orig ++ orig).sorted.toSeq)
    // an array column keeps each duplicate row's own elements: a and b tie
    // on first_seen (q1, 0), so name order breaks the tie
    val arr = Seq(("q1", Seq("a")), ("q1", Seq("b"))).toDF("query_id", "ids")
    val renamed = JsonlProcess.obfuscateArrayColumn(arr, "ids", "part")
      .collect().map(_.getSeq[String](1).toList).sortBy(_.mkString)
    assert(renamed.toSeq === Seq(List("part0"), List("part1")))
  }

  test("filterBySchema keeps matches and schema-free rows") {
    val kept = JsonlProcess.filterBySchema(workload, "web")
      .select("query_id").collect().map(_.getString(0)).toSet
    // kept: g1/g4/g6/g10 carry web in inputs; g8 only via its plan's
    // hive.web.users 3-part table name (the table-name carrier); g9 has no
    // schema occurrence at all (inputs [], no plan). Dropped: g2/g3/g5/g7
    // carry only sales/raw occurrences.
    assert(kept === Set(
      "20220301_080000_00001_graft", "20220301_140000_00004_graft",
      "20220302_090500_00006_graft", "20220303_220000_00008_graft",
      "20220302_100000_00009_graft", "20220303_120000_00010_graft"))
  }

  test("filterBySchema include-absent survives the legacy sizeOfNull convention") {
    // under spark.sql.ansi.enabled=false, size(null) returns -1 (not
    // null) — before r14 a carrier-less row (inputs AND plan_nodes both
    // null) scored -2 occurrences and was silently DROPPED instead of
    // kept by the include-absent arm. The occurrence count now branches
    // on isNull explicitly, so the result is config-independent.
    val sameKeep = JsonlProcess.filterBySchema(workload, "web")
      .select("query_id").collect().map(_.getString(0)).toSet
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try {
      val kept = JsonlProcess.filterBySchema(workload, "web")
        .select("query_id").collect().map(_.getString(0)).toSet
      assert(kept === sameKeep, "legacy sizeOfNull changed the kept set")
      // the all-null carrier case specifically: a row with null inputs
      // and null plan_nodes must be kept under BOTH configs
      val nulled = workload.withColumn("inputs",
          lit(null).cast(workload.schema("inputs").dataType))
        .withColumn("plan_nodes",
          lit(null).cast(workload.schema("plan_nodes").dataType))
      assert(JsonlProcess.filterBySchema(nulled, "web").count() === workload.count())
    } finally {
      spark.conf.unset("spark.sql.ansi.enabled")
      spark.conf.unset("spark.sql.legacy.sizeOfNull")
    }
  }

  test("user and array dictionaries enforce the cardinality bound") {
    // both are collected to the driver like the schema/catalog ones:
    // renameUsers and the array dictionary must fail with the named
    // escape hatches past spark.graft.maxDictNames
    spark.conf.set("spark.graft.maxDictNames", "2")
    try {
      val e = intercept[IllegalArgumentException](
        JsonlProcess.renameUsers(df).collect()) // 3 distinct users > 2
      assert(e.getMessage.contains("distinct names"))
      assert(e.getMessage.contains("--hash-tokens"))
      // at the bound: passes
      spark.conf.set("spark.graft.maxDictNames", "3")
      assert(JsonlProcess.renameUsers(df).count() === df.count())
      // hash mode never builds the dictionary — immune to the bound
      spark.conf.set("spark.graft.maxDictNames", "1")
      assert(JsonlProcess.renameUsers(df, hashTokens = true).count() === df.count())
      // the array path shares the guard
      val arr = Seq(
        ("q1", Seq("p1", "p2")), ("q2", Seq("p3", "p4"))).toDF("query_id", "ids")
      val a = intercept[IllegalArgumentException](
        JsonlProcess.obfuscateArrayColumn(arr, "ids", "part").collect())
      assert(a.getMessage.contains("array dictionary"))
    } finally spark.conf.unset("spark.graft.maxDictNames")
  }
}

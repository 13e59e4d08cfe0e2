package graft

import graft.analyze.Analyzers
import graft.ingest.{Extract, WorkloadViews}
import graft.queries.AnalyzerGates

/** Pins the analyzer-gate fixture chain (VERDICT round-3 task #6, enriched
  * round 6): the committed parquet must equal a fresh extraction of the JSON
  * fixtures (so the two committed artifacts cannot drift), and the gated
  * analyzers must land on the DESIGNED exact values — every operator wall an
  * even integer second (scans Σ=400, total Σ=800), bytes in even MB
  * (400/800 MB), rows in whole thousands (Σ=400k), scheduled time in
  * quarter-days (Σ=4 d), query input in quarter-TB (Σ=100 TB) — hence every
  * derived percentage lands on a quarter-percent-exact double that no
  * float-summation order can perturb (tools/validate_gate_fixture.py
  * re-derives all of these invariants from the JSONs).
  */
class GateFixtureSpec extends SparkSpec {

  private def committed = spark.read.parquet(AnalyzerGates.fixtureDir)

  test("committed gate parquet equals re-extraction of the JSON fixtures") {
    val extracted = Extract.extract(spark, resourcePath("workload_gate")).toDF()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.toJSON.collect().sorted.toSeq
    assert(canon(committed) === canon(extracted))
  }

  /** Every committed-fixture accessor: (resource dir, property, env var, resolve). */
  private val resolvers: Seq[(String, String, String, () => String)] = {
    import graft.queries.{CurationQueries, IngestQueries, MLQueries}
    Seq(
      ("workload_gate_parquet", "graft.gate.fixtureDir", "GRAFT_GATE_FIXTURE_DIR",
        () => AnalyzerGates.fixtureDir),
      ("bpe32k_gate", "graft.gate.bpe32kFixtureDir", "GRAFT_BPE32K_FIXTURE_DIR",
        () => CurationQueries.bpe32kFixtureDir),
      ("ingest_census_gate", "graft.gate.ingestCensusFixtureDir",
        "GRAFT_INGEST_CENSUS_FIXTURE_DIR", () => IngestQueries.censusFixtureDir),
      ("jpeg_gate", "graft.gate.jpegFixtureDir", "GRAFT_JPEG_FIXTURE_DIR",
        () => MLQueries.jpegFixtureDir),
      ("mjpeg_gate", "graft.gate.mjpegFixtureDir", "GRAFT_MJPEG_FIXTURE_DIR",
        () => MLQueries.mjpegFixtureDir),
      ("gif_gate", "graft.gate.gifFixtureDir", "GRAFT_GIF_FIXTURE_DIR",
        () => MLQueries.gifFixtureDir),
      ("bmp_gate", "graft.gate.bmpFixtureDir", "GRAFT_BMP_FIXTURE_DIR",
        () => MLQueries.bmpFixtureDir))
  }

  private def withProperty[A](prop: String, value: String)(body: => A): A = {
    val prev = sys.props.get(prop)
    System.setProperty(prop, value)
    try body
    finally prev match {
      case Some(v) => System.setProperty(prop, v)
      case None => System.clearProperty(prop)
    }
  }

  test("fixtureDir is overridable via system property") {
    for ((dir, prop, _, resolve) <- resolvers) {
      withProperty(prop, s"/tmp/elsewhere_$dir")(
        assert(resolve() === s"/tmp/elsewhere_$dir", prop))
      assert(resolve().endsWith(dir), prop)
    }
    // the oracle SQL is rebuilt per access and embeds the override
    withProperty("graft.gate.fixtureDir", "/tmp/elsewhere_gate")(
      assert(AnalyzerGates.all.head.oracle.get.contains("/tmp/elsewhere_gate")))
  }

  test("without overrides the fixture resolves via the classpath first") {
    // neither the properties nor (in sbt test) the env vars are set here,
    // so each resolved dir must be THIS checkout's classpath copy (a real
    // directory), not the working-directory fallback — i.e. the gates run
    // unchanged from any checkout location
    for ((dir, _, env, resolve) <- resolvers) {
      assume(sys.env.get(env).isEmpty, env)
      assert(resolve() === java.nio.file.Paths.get(
        getClass.getResource(s"/$dir").toURI).toString)
      val files = new java.io.File(resolve()).listFiles()
      assert(files != null && files.exists(_.getName.endsWith(".parquet")), dir)
    }
  }

  test("operator_wall over the fixture hits the designed exact pie") {
    val rows = Analyzers.all(WorkloadViews(committed))("operator_wall")().collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows === Seq(
      ("ScanFilterAndProject", 330.0, 41.25),
      ("Aggregation", 130.0, 16.25),
      ("HashSemiJoin", 90.0, 11.25),
      ("LookupJoin", 72.0, 9.0),
      ("TableScan", 70.0, 8.75),
      ("NestedLoopJoin", 40.0, 5.0),
      ("HashBuilder", 20.0, 2.5),
      ("FilterAndProject", 14.0, 1.75),
      ("TableWriter", 12.0, 1.5),
      ("SetBuilder", 10.0, 1.25),
      ("Exchange", 8.0, 1.0),
      ("NestedLoopBuild", 4.0, 0.5),
      ("All the rest", 0.0, 0.0)))
  }

  test("joins_sides classifies all three families + dup-operator last-wins") {
    val rows = Analyzers.all(WorkloadViews(committed))("joins_sides")().collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(2))).toSeq
    val mb = 1048576.0
    assert(rows === Seq(
      // q1 hash join: build 6 MB; probe = LAST of the two duplicate
      // LookupJoinOperator entries (32 MB), the reference's dict overwrite
      (6 * mb, 32 * mb, "PARTITIONED"),
      (4 * mb, 70 * mb, "REPLICATED"),   // q2 semijoin
      (2 * mb, 62 * mb, "REPLICATED"),   // q4 nested loop (criteria [])
      (8 * mb, 42 * mb, "PARTITIONED"),  // q5 second hash join
      (2 * mb, 12 * mb, "REPLICATED"))) // q7 LEFT join, criteria [] → lookup
  }

  test("wall_by_selectivity_10 bins sum to exactly 100 with designed shares") {
    val rows = Analyzers.all(WorkloadViews(committed))("wall_by_selectivity_10")().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows === Map(
      "0.00" -> 45.0, "0.10" -> 0.0, "0.20" -> 7.5, "0.30" -> 0.0,
      "0.40" -> 0.0, "0.50" -> 30.0, "0.60" -> 0.0, "0.70" -> 0.0,
      "0.80" -> 9.0, "0.90" -> 0.0, "1.00" -> 8.5))
    assert(rows.values.sum === 100.0)
  }

  test("top-5 ScanFilter tables exclude the designed 6th (warehouse.dims)") {
    val tables = Analyzers.all(WorkloadViews(committed))("walltime_vs_selectivity")()
      .select("table_name").collect().map(_.getString(0)).toSet
    assert(tables === Set("hive.web.users", "hive.sales.items",
      "iceberg.raw.events", "iceberg.raw.clicks", "hive.sales.orders"))
    assert(!tables.contains("warehouse.dims"))
  }
}

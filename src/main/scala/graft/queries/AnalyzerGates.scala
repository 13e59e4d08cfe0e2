package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}
import graft.analyze.Analyzers
import graft.ingest.WorkloadViews

/** Direct oracle gates for ALL 28 registered analyzers + collect_metrics
  * (VERDICT round-5 task #1, extended from the original three): each gate
  * runs the REAL analyzer function from [[Analyzers]] over a committed
  * workload-summary parquet fixture, and the DuckDB oracle recomputes the
  * whole chain — explode → last-fragment node dedup → deepest-table
  * resolution → join classification → pie / selectivity bins / scatter —
  * from the same parquet.
  *
  * The fixture (JSON docs under `src/test/resources/workload_gate`,
  * extracted once via `Pipeline extract` into `workload_gate_parquet`, both
  * committed; GateFixtureSpec pins them together) is value-designed for
  * exact cross-engine float parity: operator walls are even integer seconds
  * (scans Σ=400, all Σ=800), operator bytes even MB (400/800 MB), operator
  * rows whole thousands (Σ=400k), scheduled time quarter-days (Σ=4 d) and
  * query input quarter-TB (Σ=100 TB) — so every pie/bin percentage lands on
  * a quarter-percent-exact double and no float sum is order-sensitive
  * (tools/validate_gate_fixture.py re-derives the invariants).
  *
  * Timestamp-typed output columns are rendered to strings on BOTH sides
  * (Spark `date_format`, DuckDB `strftime`): Spark parquet timestamps read
  * back tz-aware while DuckDB's are naive, and the driver compares cell
  * values — the rendering is representation only, the analyzer chain
  * underneath is untouched.
  */
object AnalyzerGates {

  /** Committed fixture location ([[QueryDsl.fixtureDir]]). */
  def fixtureDir: String = QueryDsl.fixtureDir(
    "workload_gate_parquet", "graft.gate.fixtureDir", "GRAFT_GATE_FIXTURE_DIR")
  private def P = s"$fixtureDir/*.parquet"

  // Per-gate construction is deliberate (no cross-call memo): Spark's
  // CacheManager dedups plan-identical .cache() calls, so repeated views
  // share the cached data anyway, and a static registry keyed by session
  // would pin stopped sessions in a long-lived host JVM (the views'
  // DataFrames reference the session, defeating weak keys).
  private def views(s: SparkSession): WorkloadViews =
    WorkloadViews(s.read.parquet(fixtureDir))

  /** The registry entry `name` over the fixture. */
  private def analyzer(s: SparkSession, name: String): DataFrame = Analyzers.all(views(s))(name)()

  /** Render one timestamp column to a timezone-free string (see scaladoc). */
  private def tsStr(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, date_format(col(c), "yyyy-MM-dd HH:mm:ss"))

  // ---- DuckDB twins of the WorkloadViews building blocks ---------------

  /** Non-FAILED summaries (A28 analysis-side filter). */
  private def summSql = s"(SELECT * FROM read_parquet('$P') WHERE state <> 'FAILED')"

  /** query_id-derived event timestamp (`analyze.py:62-63`). */
  private val tsExpr = "strptime(substring(query_id, 1, 15), '%Y%m%d_%H%M%S')"

  /** Twin of WorkloadViews.operators: one row per operator OCCURRENCE with
    * the summed wall (nulls → 0).
    */
  private def opsSql =
    s"""SELECT query_id, op.node_id AS node_id, op.operator_type AS operator_type,
       |    op.input_size AS input_size, op.input_rows AS input_rows,
       |    op.output_rows AS output_rows,
       |    CAST(COALESCE(op.input_wall, 0.0) + COALESCE(op.output_wall, 0.0)
       |      + COALESCE(op.finish_wall, 0.0) AS DOUBLE) AS wall
       |  FROM (SELECT query_id, UNNEST(operators) AS op FROM $summSql)""".stripMargin

  /** Twin of WorkloadViews.withResolvedNodes: per (query, node_id) the
    * LAST fragment's node wins on id collisions, then the later dfs_order
    * (`analyze.py:596,1028-1037`).
    */
  private def nodesSql =
    s"""(SELECT * FROM (
       |    SELECT query_id, n.node_id AS node_id, n.node_type AS node_type,
       |      n.join_type AS join_type,
       |      n.join_distribution AS join_distribution,
       |      n.has_criteria AS has_criteria,
       |      n.deepest_table AS deepest_table,
       |      ROW_NUMBER() OVER (PARTITION BY query_id, n.node_id
       |        ORDER BY n.fragment_idx DESC, n.dfs_order DESC) AS rn
       |    FROM (SELECT query_id, UNNEST(plan_nodes) AS n FROM $summSql)
       |  ) WHERE rn = 1)""".stripMargin

  /** Twin of WorkloadViews.scanOps: operator occurrences of a type family
    * with their resolved plan node's deepest scanned table.
    */
  private def scanOpsSql(typ: String) =
    s"""(SELECT o.query_id, o.operator_type, o.input_size, o.input_rows,
       |    o.output_rows, o.wall, COALESCE(n.deepest_table, '') AS table_name
       |  FROM ($opsSql) o
       |  LEFT JOIN $nodesSql n
       |    ON n.query_id = o.query_id AND n.node_id = o.node_id
       |  WHERE o.operator_type LIKE '%$typ%')""".stripMargin

  /** Twin of WorkloadViews.joins: classified join sites with last-wins
    * operator dedup per (query, node, type) (`analyze.py:1040-1080`).
    */
  private def joinsSql =
    s"""(WITH joinnodes AS (
       |  SELECT query_id, node_id, join_distribution,
       |    CASE WHEN node_type = 'semijoin' THEN 'HashSemiJoinOperator'
       |         WHEN has_criteria OR join_type <> 'INNER' THEN 'LookupJoinOperator'
       |         ELSE 'NestedLoopJoinOperator' END AS probe_type,
       |    CASE WHEN node_type = 'semijoin' THEN 'SetBuilderOperator'
       |         WHEN has_criteria OR join_type <> 'INNER' THEN 'HashBuilderOperator'
       |         ELSE 'NestedLoopBuildOperator' END AS build_type
       |  FROM $nodesSql WHERE node_type LIKE '%join'
       |), opslast AS (
       |  SELECT query_id, node_id, operator_type, input_size,
       |    input_rows, output_rows
       |  FROM (
       |    SELECT query_id, op.node_id AS node_id,
       |      op.operator_type AS operator_type,
       |      op.input_size AS input_size, op.input_rows AS input_rows,
       |      op.output_rows AS output_rows,
       |      ROW_NUMBER() OVER (PARTITION BY query_id, op.node_id, op.operator_type
       |        ORDER BY idx DESC) AS rn
       |    FROM (SELECT query_id, operators[i] AS op, i AS idx
       |          FROM $summSql, UNNEST(generate_series(1, len(operators))) AS s(i))
       |  ) WHERE rn = 1
       |)
       |SELECT j.query_id AS query_id, j.join_distribution AS join_distribution,
       |  p.input_size AS probe_input_size, p.input_rows AS probe_input_rows,
       |  p.output_rows AS probe_output_rows,
       |  b.input_size AS build_input_size, b.input_rows AS build_input_rows
       |FROM joinnodes j
       |JOIN opslast p ON p.query_id = j.query_id AND p.node_id = j.node_id
       |  AND p.operator_type = j.probe_type
       |JOIN opslast b ON b.query_id = j.query_id AND b.node_id = j.node_id
       |  AND b.operator_type = j.build_type)""".stripMargin

  /** DuckDB twin of ChartOps.pie over `raw(key, value)` CTE rows. */
  private def pieSql(rawCte: String): String =
    s"""WITH raw AS (
       |  $rawCte
       |), base AS (
       |  SELECT key, SUM(value) AS value FROM raw GROUP BY key
       |), total AS (
       |  SELECT SUM(value) AS total FROM base HAVING SUM(value) <> 0
       |), kept AS (
       |  SELECT key, value, CAST(0 AS BIGINT) AS is_rest
       |  FROM (SELECT key, value FROM base ORDER BY value DESC, key LIMIT 19)
       |  CROSS JOIN total
       |  WHERE value * 100.0 / total > 0.1
       |), rest AS (
       |  SELECT 'All the rest' AS key, SUM(value) AS value, CAST(1 AS BIGINT) AS is_rest
       |  FROM base CROSS JOIN total
       |  WHERE NOT EXISTS (SELECT 1 FROM kept k
       |                    WHERE k.key IS NOT DISTINCT FROM base.key)
       |  HAVING SUM(value) IS NOT NULL
       |), unioned AS (
       |  SELECT * FROM kept UNION ALL SELECT * FROM rest
       |), flagged AS (
       |  SELECT key, value, is_rest,
       |    round_even(value * 100.0 / (SELECT SUM(value) FROM unioned) * 100.0, 0)
       |      / 100.0 AS pct_round,
       |    (ROW_NUMBER() OVER (ORDER BY is_rest DESC, value ASC, key DESC) = 1)
       |      AS is_last
       |  FROM unioned
       |)
       |SELECT key, value,
       |  CASE WHEN is_last
       |       THEN pct_round + (100.0 - (SELECT SUM(pct_round) FROM flagged))
       |       ELSE pct_round END AS pct
       |FROM flagged
       |ORDER BY is_rest, value DESC, key""".stripMargin

  /** DuckDB twin of ChartOps.selectivityBins: the reference's 1-decimal
    * binning quirk (ALWAYS round to 1 decimal, `analyze.py:640`), arange
    * padding with direct 2-decimal labels, "Above" overflow.
    */
  private def selBinsSql(bins: Int, maxSel: Double): String = {
    val step = 1.0 / bins
    val nPad = math.ceil(maxSel / step - 1e-9).toInt
    s"""WITH pts AS (
       |  SELECT CAST(output_rows AS DOUBLE) / input_rows AS x, wall AS w
       |  FROM ($opsSql)
       |  WHERE operator_type LIKE '%Scan%' AND input_rows > 0
       |    AND output_rows IS NOT NULL
       |), labeled AS (
       |  SELECT CASE WHEN bin <= $maxSel + 1e-9 THEN format('{:.2f}', bin)
       |              ELSE 'Above' END AS label, w
       |  FROM (
       |    SELECT (ABS(round_even((x - ${step / 2}) * 10.0, 0) / 10.0) + 0.0) AS bin, w
       |    FROM pts
       |  )
       |), pad AS (
       |  SELECT format('{:.2f}', CAST(i AS DOUBLE) * $step) AS label, 0.0 AS w
       |  FROM generate_series(0, ${nPad - 1}) AS t(i)
       |), unioned AS (
       |  SELECT * FROM labeled UNION ALL SELECT * FROM pad
       |)
       |SELECT label, SUM(w / (SELECT SUM(w) FROM unioned) * 100.0) AS pct
       |FROM unioned GROUP BY label ORDER BY label""".stripMargin
  }

  /** Time-bucketed trend oracle (B1-B6): bucket rendered as string. */
  private def bucketSql(bucket: String, valueExpr: String, name: String) =
    s"""SELECT strftime(date_trunc('$bucket', $tsExpr), '%Y-%m-%d %H:%M:%S')
       |    AS "$bucket", $valueExpr AS $name
       |FROM $summSql GROUP BY date_trunc('$bucket', $tsExpr)
       |ORDER BY "$bucket"""".stripMargin

  /** Per-query scatter oracle (B7-B9, B14-B16). */
  private def scatterSql(cols: Seq[String]) = {
    val sel = cols.map {
      case "ts" => s"strftime($tsExpr, '%Y-%m-%d %H:%M:%S') AS ts"
      case "user" => "\"user\""
      case c => c
    }.mkString(", ")
    s"SELECT $sel FROM $summSql ORDER BY query_id"
  }

  // def, not val: the embedded oracle SQL interpolates the (overridable)
  // fixture path, so it must be rebuilt per access
  def all: Seq[NamedQuery] = Seq(

    // ---- B1-B6: time-bucketed trends (`analyze.py:83-214`) -------------
    NamedQuery(
      "analyzer_scheduled_by_date",
      (s, _) => tsStr(analyzer(s, "scheduled_by_date"), "day"),
      Some(bucketSql("day", "SUM(scheduled_time / 86400.0)", "scheduled_days"))),
    NamedQuery(
      "analyzer_scheduled_by_hour",
      (s, _) => tsStr(analyzer(s, "scheduled_by_hour"), "hour"),
      Some(bucketSql("hour", "SUM(scheduled_time / 3600.0)", "scheduled_hours"))),
    NamedQuery(
      "analyzer_input_by_date",
      (s, _) => tsStr(analyzer(s, "input_by_date"), "day"),
      Some(bucketSql("day", "SUM(input_size / 1e12)", "input_tb"))),
    NamedQuery(
      "analyzer_input_by_hour",
      (s, _) => tsStr(analyzer(s, "input_by_hour"), "hour"),
      Some(bucketSql("hour", "SUM(input_size / 1e12)", "input_tb"))),
    NamedQuery(
      "analyzer_queries_by_date",
      (s, _) => tsStr(analyzer(s, "queries_by_date"), "day"),
      Some(bucketSql("day", "CAST(COUNT(*) AS BIGINT)", "n_queries"))),
    NamedQuery(
      "analyzer_queries_by_hour",
      (s, _) => tsStr(analyzer(s, "queries_by_hour"), "hour"),
      Some(bucketSql("hour", "CAST(COUNT(*) AS BIGINT)", "n_queries"))),

    // The B1–B6 STREAMING twin, judged as a real streaming query (the
    // batch gates above judge the same math at rest): the committed
    // fixture parquet is read back through a file-source STREAM into
    // [[StreamingIngest.trendByBucket]] — one tumbling event-time window
    // per bucket carrying all four trend measures — drained under
    // AvailableNow in Complete mode into a memory sink. The oracle is the
    // B2/B4/B6 batch SQL projected to the same columns in one statement.
    // Known divergence by construction (documented at trendByBucket): a
    // malformed query_id (null event time) is DROPPED by the stream's
    // window where batch surfaces a null bucket — the fixture has none
    // (its batch trend oracles strptime every query_id), so the twin is
    // exact here; a corpus with malformed ids would judge the difference.
    NamedQuery(
      "analyzer_trend_stream",
      (s, _) => {
        import s.implicits._
        val schema = s.read.parquet(fixtureDir).schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .parquet(fixtureDir)
          .as[graft.model.QuerySummary]
        graft.streaming.GateStream.dropStaleSinks(s, "analyzer_trend_stream_sink_")
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-trend-gate").toString
        val sink = s"analyzer_trend_stream_sink_${trendSinkSeq.incrementAndGet()}"
        graft.streaming.GateStream.withStreamShuffle(s) {
          val q = graft.streaming.StreamingIngest.trendByBucket(stream, "hour")
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.GateStream.debugProgress(q)
        }
        graft.streaming.GateStream.deleteScratch(ckpt)
        tsStr(s.table(sink), "hour").orderBy(col("hour"))
      },
      Some(s"""SELECT strftime(date_trunc('hour', $tsExpr), '%Y-%m-%d %H:%M:%S')
              |    AS hour,
              |  SUM(scheduled_time / 86400.0) AS scheduled_days,
              |  SUM(scheduled_time / 3600.0) AS scheduled_hours,
              |  SUM(input_size / 1e12) AS input_tb,
              |  CAST(COUNT(*) AS BIGINT) AS n_queries
              |FROM $summSql GROUP BY date_trunc('hour', $tsExpr)
              |ORDER BY hour""".stripMargin)),

    // ---- B7-B9, B14-B16: per-query scatters (`analyze.py:217-457`) -----
    NamedQuery(
      "analyzer_peak_mem_by_query",
      (s, _) => tsStr(analyzer(s, "peak_mem_by_query"), "ts"),
      Some(scatterSql(Seq("ts", "peak_mem", "query_id")))),
    NamedQuery(
      "analyzer_input_size_by_query",
      (s, _) => tsStr(analyzer(s, "input_size_by_query"), "ts"),
      Some(scatterSql(Seq("ts", "input_size", "query_id")))),
    NamedQuery(
      "analyzer_elapsed_time_by_query",
      (s, _) => tsStr(analyzer(s, "elapsed_time_by_query"), "ts"),
      Some(scatterSql(Seq("ts", "elapsed_time", "query_id")))),
    NamedQuery(
      "analyzer_output_vs_input",
      (s, _) => analyzer(s, "output_vs_input"),
      Some(scatterSql(Seq("input_size", "output_size", "query_id")))),
    NamedQuery(
      "analyzer_scheduled_vs_input",
      (s, _) => analyzer(s, "scheduled_vs_input"),
      Some(scatterSql(Seq("input_size", "scheduled_time", "query_id")))),
    NamedQuery(
      "analyzer_elapsed_vs_input",
      (s, _) => analyzer(s, "elapsed_vs_input"),
      Some(scatterSql(Seq("input_size", "elapsed_time", "query_id")))),

    // ---- B10-B13: summary-grain pies (`analyze.py:305-371`) ------------
    NamedQuery(
      "analyzer_queries_by_user",
      (s, _) => analyzer(s, "queries_by_user"),
      Some(pieSql(s"""SELECT "user" AS key, CAST(COUNT(*) AS DOUBLE) AS value
                     |  FROM $summSql GROUP BY "user"""".stripMargin))),
    NamedQuery(
      "analyzer_scheduled_by_user",
      (s, _) => analyzer(s, "scheduled_by_user"),
      Some(pieSql(s"""SELECT "user" AS key, SUM(scheduled_time / 86400.0) AS value
                     |  FROM $summSql GROUP BY "user"""".stripMargin))),
    NamedQuery(
      "analyzer_scheduled_by_update",
      (s, _) => analyzer(s, "scheduled_by_update"),
      Some(pieSql(s"""SELECT COALESCE("update", 'SELECT') AS key,
                     |    SUM(scheduled_time / 86400.0) AS value
                     |  FROM $summSql GROUP BY 1""".stripMargin))),
    NamedQuery(
      "analyzer_input_by_user",
      (s, _) => analyzer(s, "input_by_user"),
      Some(pieSql(s"""SELECT "user" AS key, SUM(input_size / 1e12) AS value
                     |  FROM $summSql GROUP BY "user"""".stripMargin))),

    // ---- B17, B25, B26: operator-grain pies ----------------------------

    // B17: wall per operator type ("Operator" stripped everywhere), as a
    // pie with top-19 + "All the rest" + residual-absorbing last percent.
    NamedQuery(
      "analyzer_operator_wall",
      (s, _) => analyzer(s, "operator_wall"),
      Some(pieSql(
        s"""SELECT CAST(regexp_replace(operator_type, 'Operator', '', 'g') AS VARCHAR) AS key,
           |    wall AS value
           |  FROM ($opsSql)""".stripMargin))),
    NamedQuery(
      "analyzer_operator_input",
      (s, _) => analyzer(s, "operator_input"),
      Some(pieSql(s"""SELECT operator_type AS key, input_size AS value
                     |  FROM ($opsSql)""".stripMargin))),
    NamedQuery(
      "analyzer_operator_rows",
      (s, _) => analyzer(s, "operator_rows"),
      Some(pieSql(s"""SELECT operator_type AS key, CAST(input_rows AS DOUBLE) AS value
                     |  FROM ($opsSql)""".stripMargin))),

    // ---- B18, B24: deepest-table scan pies (`analyze.py:587-619,926-958`)
    NamedQuery(
      "analyzer_wall_by_table_scan",
      (s, _) => analyzer(s, "wall_by_table_scan"),
      Some(pieSql(s"""SELECT table_name AS key, wall AS value
                     |  FROM ${scanOpsSql("Scan")}""".stripMargin))),
    NamedQuery(
      "analyzer_input_size_by_table_scan",
      (s, _) => analyzer(s, "input_size_by_table_scan"),
      Some(pieSql(s"""SELECT table_name AS key, input_size AS value
                     |  FROM ${scanOpsSql("Scan")}""".stripMargin))),

    // ---- B19-B23: selectivity family -----------------------------------

    // B19: wall percent by 10-bin scan selectivity.
    NamedQuery(
      "analyzer_wall_by_selectivity_10",
      (s, _) => analyzer(s, "wall_by_selectivity_10"),
      Some(selBinsSql(10, 1.0))),
    // B20: the 100-bin variant whose 1-decimal rounding quirk pads labels
    // (0.01..0.19) that real data can never hit, plus a reachable "0.20".
    NamedQuery(
      "analyzer_wall_by_selectivity_100_first_20",
      (s, _) => analyzer(s, "wall_by_selectivity_100_first_20"),
      Some(selBinsSql(100, 0.2))),
    // B21: every *Filter* operator occurrence (not just scans).
    NamedQuery(
      "analyzer_filter_selectivity",
      (s, _) => analyzer(s, "filter_selectivity_1"),
      Some(s"""SELECT input_rows, output_rows, query_id FROM ($opsSql)
              |WHERE operator_type LIKE '%Filter%'
              |ORDER BY query_id, input_rows, output_rows""".stripMargin)),
    // B22/B23: ScanFilter points on the top-5 tables by ScanFilter wall —
    // the left-semi membership join (`analyze.py:810`) replayed via IN, the
    // top-5 cutoff provably binding (the fixture's 6th table is excluded).
    NamedQuery(
      "analyzer_walltime_vs_selectivity",
      (s, _) => analyzer(s, "walltime_vs_selectivity"),
      Some(s"""WITH pts AS (
              |  SELECT *, CAST(output_rows AS DOUBLE) / input_rows AS selectivity
              |  FROM ${scanOpsSql("ScanFilter")} WHERE input_rows > 0
              |), top5 AS (
              |  SELECT table_name FROM pts GROUP BY table_name
              |  ORDER BY SUM(wall) DESC, table_name LIMIT 5
              |)
              |SELECT selectivity, wall, table_name, query_id FROM pts
              |WHERE table_name IN (SELECT table_name FROM top5)
              |ORDER BY query_id, table_name, selectivity, wall""".stripMargin)),
    NamedQuery(
      "analyzer_inputrows_vs_selectivity",
      (s, _) => analyzer(s, "inputrows_vs_selectivity"),
      Some(s"""WITH pts AS (
              |  SELECT *, CAST(output_rows AS DOUBLE) / input_rows AS selectivity
              |  FROM ${scanOpsSql("ScanFilter")} WHERE input_rows > 0
              |), top5 AS (
              |  SELECT table_name FROM pts GROUP BY table_name
              |  ORDER BY SUM(wall) DESC, table_name LIMIT 5
              |)
              |SELECT selectivity, input_rows, table_name, query_id FROM pts
              |WHERE table_name IN (SELECT table_name FROM top5)
              |ORDER BY query_id, table_name, selectivity, input_rows""".stripMargin)),

    // ---- B27, B28: join analyzers (`analyze.py:1040-1174`) -------------

    // B27: per join site, build (x) vs probe (y) input bytes + distribution.
    NamedQuery(
      "analyzer_joins_sides",
      (s, _) => analyzer(s, "joins_sides"),
      Some(s"""SELECT build_input_size AS x, probe_input_size AS y,
              |  join_distribution AS dist, query_id
              |FROM $joinsSql
              |ORDER BY query_id, x, y""".stripMargin)),
    // B28: x = max(probe rows, build rows), y = probe output rows.
    NamedQuery(
      "analyzer_joins_selectivity",
      (s, _) => analyzer(s, "joins_selectivity"),
      Some(s"""SELECT GREATEST(probe_input_rows, build_input_rows) AS x,
              |  probe_output_rows AS y, query_id
              |FROM $joinsSql
              |ORDER BY query_id, x, y""".stripMargin)),

    // ---- header metrics (`analyze.py:1177-1193`) -----------------------
    NamedQuery(
      "analyzer_metrics",
      (s, _) => Analyzers.metrics(views(s)),
      Some(s"""SELECT
              |  CAST(COUNT(DISTINCT date_trunc('day', $tsExpr)) AS BIGINT) AS days,
              |  SUM(cpu_time) / 86400.0 AS cpu_days,
              |  SUM(scheduled_time) / 86400.0 AS scheduled_days,
              |  CAST(COUNT(*) AS BIGINT) AS queries,
              |  CAST(SUM(input_rows) AS BIGINT) AS input_rows,
              |  SUM(input_size) / 1e12 AS input_tb,
              |  CAST(COUNT(DISTINCT "user") AS BIGINT) AS users
              |FROM $summSql""".stripMargin)))

  /** Distinct memory-sink names per analyzer_trend_stream invocation (the
    * bench runs the gate twice in one session; the sink table must not
    * accumulate across runs).
    */
  private val trendSinkSeq = new java.util.concurrent.atomic.AtomicLong(0)
}

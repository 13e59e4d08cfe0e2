package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ingest.WorkloadViews

/** The 28 registered analyzers (SURVEY §2.B; reference `analyze.py:54-59`
  * registry), each a DataFrame → small DataFrame reduction over the cached
  * [[WorkloadViews]]. Chart rendering is presentation and out of scope; the
  * computed tables ARE the analyzer results. Every result ends in an
  * explicit orderBy (Spark output order is otherwise nondeterministic).
  */
object Analyzers {

  /** registry, keyed by the reference's analyzer names. */
  def all(v: WorkloadViews): Map[String, () => DataFrame] = Map(
    "scheduled_by_date" -> (() => scheduledByDate(v)),
    "scheduled_by_hour" -> (() => scheduledByHour(v)),
    "input_by_date" -> (() => inputByDate(v)),
    "input_by_hour" -> (() => inputByHour(v)),
    "queries_by_date" -> (() => queriesByDate(v)),
    "queries_by_hour" -> (() => queriesByHour(v)),
    "peak_mem_by_query" -> (() => peakMemByQuery(v)),
    "input_size_by_query" -> (() => inputSizeByQuery(v)),
    "elapsed_time_by_query" -> (() => elapsedTimeByQuery(v)),
    "queries_by_user" -> (() => queriesByUser(v)),
    "scheduled_by_user" -> (() => scheduledByUser(v)),
    "scheduled_by_update" -> (() => scheduledByUpdate(v)),
    "input_by_user" -> (() => inputByUser(v)),
    "output_vs_input" -> (() => outputVsInput(v)),
    "scheduled_vs_input" -> (() => scheduledVsInput(v)),
    "elapsed_vs_input" -> (() => elapsedVsInput(v)),
    "operator_wall" -> (() => operatorWall(v)),
    "wall_by_table_scan" -> (() => wallByTableScan(v)),
    "wall_by_selectivity_10" -> (() => wallBySelectivity10(v)),
    "wall_by_selectivity_100_first_20" -> (() => wallBySelectivity100First20(v)),
    "filter_selectivity_1" -> (() => filterSelectivity(v)),
    "walltime_vs_selectivity" -> (() => walltimeVsSelectivity(v)),
    "inputrows_vs_selectivity" -> (() => inputrowsVsSelectivity(v)),
    "input_size_by_table_scan" -> (() => inputSizeByTableScan(v)),
    "operator_input" -> (() => operatorInput(v)),
    "operator_rows" -> (() => operatorRows(v)),
    "joins_sides" -> (() => joinsSides(v)),
    "joins_selectivity" -> (() => joinsSelectivity(v)))

  // ---- B1-B6: time-bucketed trends -----------------------------------

  private def byBucket(v: WorkloadViews, bucket: String, valueCol: org.apache.spark.sql.Column,
      name: String): DataFrame =
    v.base.groupBy(date_trunc(bucket, col("ts")).as(bucket))
      .agg(valueCol.as(name))
      .orderBy(col(bucket))

  /** B1 `analyze.py:83-100`: Σ scheduled days per day. */
  def scheduledByDate(v: WorkloadViews): DataFrame =
    byBucket(v, "day", sum(col("scheduled_time") / 86400.0), "scheduled_days")

  /** B2 `analyze.py:112-130`: Σ scheduled hours per hour. */
  def scheduledByHour(v: WorkloadViews): DataFrame =
    byBucket(v, "hour", sum(col("scheduled_time") / 3600.0), "scheduled_hours")

  /** B3 `analyze.py:133-151`: Σ input TB per day. */
  def inputByDate(v: WorkloadViews): DataFrame =
    byBucket(v, "day", sum(col("input_size") / 1e12), "input_tb")

  /** B4 `analyze.py:154-172`. */
  def inputByHour(v: WorkloadViews): DataFrame =
    byBucket(v, "hour", sum(col("input_size") / 1e12), "input_tb")

  /** B5 `analyze.py:175-193`. */
  def queriesByDate(v: WorkloadViews): DataFrame =
    byBucket(v, "day", count(lit(1)), "n_queries")

  /** B6 `analyze.py:196-214`. */
  def queriesByHour(v: WorkloadViews): DataFrame =
    byBucket(v, "hour", count(lit(1)), "n_queries")

  // ---- B7-B9, B14-B16: per-query scatters ----------------------------

  private def scatter(v: WorkloadViews, cols: String*): DataFrame =
    v.base.select(cols.map(col): _*).orderBy(col("query_id"))

  /** B7 `analyze.py:217-243` (advisory line: 1e10 B). */
  def peakMemByQuery(v: WorkloadViews): DataFrame =
    scatter(v, "ts", "peak_mem", "query_id")

  /** B8 `analyze.py:246-274` (advisory line: 1e12 B). */
  def inputSizeByQuery(v: WorkloadViews): DataFrame =
    scatter(v, "ts", "input_size", "query_id")

  /** B9 `analyze.py:277-302` (advisory line: 300 s). */
  def elapsedTimeByQuery(v: WorkloadViews): DataFrame =
    scatter(v, "ts", "elapsed_time", "query_id")

  /** B14 `analyze.py:374-399`. */
  def outputVsInput(v: WorkloadViews): DataFrame =
    scatter(v, "input_size", "output_size", "query_id")

  /** B15 `analyze.py:402-428`. */
  def scheduledVsInput(v: WorkloadViews): DataFrame =
    scatter(v, "input_size", "scheduled_time", "query_id")

  /** B16 `analyze.py:431-457`. */
  def elapsedVsInput(v: WorkloadViews): DataFrame =
    scatter(v, "input_size", "elapsed_time", "query_id")

  // ---- B10-B13: pies over summary grain ------------------------------

  /** B10 `analyze.py:305-318`. */
  def queriesByUser(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.base.groupBy(col("user")).agg(count(lit(1)).as("value")),
      "user", "value")

  /** B11 `analyze.py:321-335`. */
  def scheduledByUser(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.base.groupBy(col("user"))
      .agg(sum(col("scheduled_time") / 86400.0).as("value")), "user", "value")

  /** B12 `analyze.py:338-354`: null update ⇒ 'SELECT' (`:345`). */
  def scheduledByUpdate(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.base.groupBy(coalesce(col("update"), lit("SELECT")).as("qtype"))
      .agg(sum(col("scheduled_time") / 86400.0).as("value")), "qtype", "value")

  /** B13 `analyze.py:357-371`. */
  def inputByUser(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.base.groupBy(col("user"))
      .agg(sum(col("input_size") / 1e12).as("value")), "user", "value")

  // ---- B17, B25, B26: operator-grain pies ----------------------------

  /** B17 `analyze.py:524-543`: "Operator" stripped from ALL positions
    * (Python str.replace), wall = input+output+finish.
    */
  def operatorWall(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.operators
      .groupBy(regexp_replace(col("operator_type"), "Operator", "").as("op_type"))
      .agg(sum(col("wall")).as("value")), "op_type", "value")

  /** B25 `analyze.py:961-975` (raw type names). */
  def operatorInput(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.operators.groupBy(col("operator_type"))
      .agg(sum(col("input_size")).as("value")), "operator_type", "value")

  /** B26 `analyze.py:978-990`. */
  def operatorRows(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.operators.groupBy(col("operator_type"))
      .agg(sum(col("input_rows")).as("value")), "operator_type", "value")

  // ---- B18, B24: table-resolved scan pies ----------------------------

  /** B18 `analyze.py:587-619`: wall of `*Scan*` operators per deepest
    * scanned table.
    */
  def wallByTableScan(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.scanOps("Scan").groupBy(col("table_name"))
      .agg(sum(col("wall")).as("value")), "table_name", "value")

  /** B24 `analyze.py:926-958`. */
  def inputSizeByTableScan(v: WorkloadViews): DataFrame =
    ChartOps.pie(v.scanOps("Scan").groupBy(col("table_name"))
      .agg(sum(col("input_size")).as("value")), "table_name", "value")

  // ---- B19-B23: selectivity family -----------------------------------

  /** The `family` scan ops that read rows, with their output/input ratio. */
  private def scanSelectivity(v: WorkloadViews, family: String): DataFrame =
    v.scanOps(family)
      .filter(col("input_rows") > 0)
      .withColumn("selectivity", col("output_rows").cast("double") / col("input_rows"))

  /** B19 `analyze.py:689-695`. */
  def wallBySelectivity10(v: WorkloadViews): DataFrame =
    ChartOps.selectivityBins(scanSelectivity(v, "Scan"), "selectivity", "wall", 10, 1.0)

  /** B20 `analyze.py:698-705` (1-decimal binning quirk preserved). */
  def wallBySelectivity100First20(v: WorkloadViews): DataFrame =
    ChartOps.selectivityBins(scanSelectivity(v, "Scan"), "selectivity", "wall", 100, 0.2)

  /** B21 `analyze.py:716-744`: every `*Filter*` operator occurrence. */
  def filterSelectivity(v: WorkloadViews): DataFrame =
    v.operators.filter(col("operator_type").contains("Filter"))
      .select(col("input_rows"), col("output_rows"), col("query_id"))
      .orderBy(col("query_id"), col("input_rows"), col("output_rows"))

  /** Top-5 tables by Σ wall of ScanFilter ops, then the per-op points
    * (B22 `analyze.py:747-834`; membership in the top 5, `:810`). The ≤ 5
    * names come back to the driver and enter the plan as an `isin`
    * literal list (`table_name` is never null, see `WorkloadViews.scans`).
    */
  private def topTablePoints(v: WorkloadViews): DataFrame = {
    val pts = scanSelectivity(v, "ScanFilter")
    val top5 = pts.groupBy(col("table_name")).agg(sum(col("wall")).as("w"))
      .orderBy(col("w").desc, col("table_name")).limit(5)
      .select(col("table_name")).collect().map(_.getString(0))
    pts.filter(col("table_name").isin(top5.toSeq: _*))
  }

  /** B22 (advisory line: selectivity 1e-2). */
  def walltimeVsSelectivity(v: WorkloadViews): DataFrame =
    topTablePoints(v)
      .select(col("selectivity"), col("wall"), col("table_name"), col("query_id"))
      .orderBy(col("query_id"), col("table_name"), col("selectivity"), col("wall"))

  /** B23 `analyze.py:837-923`. */
  def inputrowsVsSelectivity(v: WorkloadViews): DataFrame =
    topTablePoints(v)
      .select(col("selectivity"), col("input_rows"), col("table_name"), col("query_id"))
      .orderBy(col("query_id"), col("table_name"), col("selectivity"), col("input_rows"))

  // ---- B27, B28: join analyzers --------------------------------------

  /** B27 `analyze.py:1083-1136`: build (right/x) vs probe (left/y) input
    * bytes + distribution type (advisory: x=1e6, y=x).
    */
  def joinsSides(v: WorkloadViews): DataFrame =
    v.joins.select(
      col("build_input_size").as("x"),
      col("probe_input_size").as("y"),
      col("join_distribution").as("dist"),
      col("query_id"))
      .orderBy(col("query_id"), col("x"), col("y"))

  /** B28 `analyze.py:1139-1174`: x = max(probe rows, build rows),
    * y = probe output rows.
    */
  def joinsSelectivity(v: WorkloadViews): DataFrame =
    v.joins.select(
      greatest(col("probe_input_rows"), col("build_input_rows")).as("x"),
      col("probe_output_rows").as("y"),
      col("query_id"))
      .orderBy(col("query_id"), col("x"), col("y"))

  // ---- header metrics (`analyze.py:1177-1193`) -----------------------

  /** Exact distinct counts via `size(collect_set(..))`, NOT two
    * `countDistinct`s in one aggregate: multiple distinct groups trigger
    * Spark's RewriteDistinctAggregates, whose gid assignment iterates a
    * HashMap keyed by exprId-hashed attribute sets — the Expand/grouping
    * order then varies run-to-run (plan-fingerprint flake) and the Expand
    * triples the rows through the shuffle. collect_set keeps ONE partial+
    * final aggregation pass; its state is vocabulary-bounded (users,
    * days — never raw rows). At 100 TB swap for approx_count_distinct
    * (SURVEY §2.A27) if the user vocabulary ever stops being bounded.
    */
  def metrics(v: WorkloadViews): DataFrame =
    v.base.agg(
      size(collect_set(date_trunc("day", col("ts")))).cast("long").as("days"),
      (sum(col("cpu_time")) / 86400.0).as("cpu_days"),
      (sum(col("scheduled_time")) / 86400.0).as("scheduled_days"),
      count(lit(1)).as("queries"),
      sum(col("input_rows")).as("input_rows"),
      (sum(col("input_size")) / 1e12).as("input_tb"),
      size(collect_set(col("user"))).cast("long").as("users"))
}

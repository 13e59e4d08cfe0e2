package graft.analyze

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.WorkloadViews

/** The 28 registered analyzers (SURVEY §2.B; reference `analyze.py:54-59`
  * registry) and the header metrics. Chart rendering is presentation and
  * out of scope; the computed tables ARE the analyzer results, each in an
  * explicit order (Spark output order is otherwise nondeterministic).
  *
  * The analyzers read a dozen grains of the cached [[WorkloadViews]], not
  * one plan each. An aggregate grain is bounded by a vocabulary, so it is
  * collected once per views (one Spark job, memoized by
  * [[WorkloadViews.memo]]) and split on the driver, as the reference
  * iterates one in-memory list per chart (`analyze.py:1241-1248`); its
  * entries are local relations:
  *
  * {{{
  * grain        plan                                  entries
  * hours        base by (day, hour)                   the six by-date and by-hour
  *                                                    trends; metrics but users
  * users        base by user                          queries/scheduled/input_by_user;
  *                                                    metrics users
  * updates      base by coalesce(update, 'SELECT')    scheduled_by_update
  * operators    operators by operator_type            operator_wall/_input/_rows
  * tables       scans by table_name                   wall/input_size_by_table_scan;
  *                                                    the top 5 tables of
  *                                                    walltime/inputrows_vs_selectivity
  * selectivity  Scan points by (label10, label100)    wall_by_selectivity_10,
  *                                                    wall_by_selectivity_100_first_20
  * }}}
  *
  * A row grain grows with the workload, so it stays a DataFrame: the six
  * per-query scatters (with a row limit, as the report asks, one shared
  * head of one sorted projection), `filter_selectivity_1`, the
  * `*_vs_selectivity` pair and the `joins_*` pair.
  *
  * Every sum is exact (decimal(38, 9) or long) and is cast to double and
  * divided once, on the driver with the `BigDecimal.doubleValue` Spark's
  * own cast runs, so no result depends on the partitioning of the views.
  */
object Analyzers {

  /** registry, keyed by the reference's analyzer names (B1-B28, with
    * their lines in `analyze.py`). With `limit`, the per-query scatters may
    * return only their first `limit` rows.
    */
  def all(v: WorkloadViews, limit: Option[Int] = None): Map[String, () => DataFrame] = Map(
    // B1-B6 `:83-214`: Σ scheduled days or hours, Σ input TB, query count
    "scheduled_by_date" -> (() => trend(v, "day", "scheduled_days", "scheduled_time", 86400.0)),
    "scheduled_by_hour" -> (() => trend(v, "hour", "scheduled_hours", "scheduled_time", 3600.0)),
    "input_by_date" -> (() => trend(v, "day", "input_tb", "input_size", 1e12)),
    "input_by_hour" -> (() => trend(v, "hour", "input_tb", "input_size", 1e12)),
    "queries_by_date" -> (() => trend(v, "day", "n_queries", "n")),
    "queries_by_hour" -> (() => trend(v, "hour", "n_queries", "n")),
    // B7-B9 `:217-302` (advisory lines 1e10 B, 1e12 B, 300 s), B14-B16 `:374-457`
    "peak_mem_by_query" -> (() => scatter(v, limit, "ts", "peak_mem")),
    "input_size_by_query" -> (() => scatter(v, limit, "ts", "input_size")),
    "elapsed_time_by_query" -> (() => scatter(v, limit, "ts", "elapsed_time")),
    "output_vs_input" -> (() => scatter(v, limit, "input_size", "output_size")),
    "scheduled_vs_input" -> (() => scatter(v, limit, "input_size", "scheduled_time")),
    "elapsed_vs_input" -> (() => scatter(v, limit, "input_size", "elapsed_time")),
    // B10-B13 `:305-371` (a null update is a 'SELECT', `:345`)
    "queries_by_user" -> (() => pie(v, "users", "user", "n")),
    "scheduled_by_user" -> (() => pie(v, "users", "user", "scheduled_time", 86400.0)),
    "scheduled_by_update" -> (() => pie(v, "updates", "qtype", "scheduled_time", 86400.0)),
    "input_by_user" -> (() => pie(v, "users", "user", "input_size", 1e12)),
    // B17 `:524-543` ("Operator" stripped everywhere, as Python's
    // str.replace), B25/B26 `:961-990` (raw type names)
    "operator_wall" ->
      (() => pie(v, "operators", "operator_type", "wall", rekey = _.replace("Operator", ""))),
    "operator_input" -> (() => pie(v, "operators", "operator_type", "input_size")),
    "operator_rows" -> (() => pie(v, "operators", "operator_type", "input_rows")),
    // B18/B24 `:587-619, 926-958`: `*Scan*` operators per deepest scanned table
    "wall_by_table_scan" -> (() => pie(v, "tables", "table_name", "wall")),
    "input_size_by_table_scan" -> (() => pie(v, "tables", "table_name", "input_size")),
    // B19/B20 `:689-705` (the 1-decimal binning quirk kept)
    "wall_by_selectivity_10" -> (() => selectivityBins(v, "label10", 10, 1.0)),
    "wall_by_selectivity_100_first_20" -> (() => selectivityBins(v, "label100", 100, 0.2)),
    // B21 `:716-744`: every `*Filter*` operator occurrence
    "filter_selectivity_1" -> (() => v.operators.filter(col("operator_type").contains("Filter"))
      .select(col("input_rows"), col("output_rows"), col("query_id"))
      .orderBy(col("query_id"), col("input_rows"), col("output_rows"))),
    // B22/B23 `:747-923` (advisory line: selectivity 1e-2)
    "walltime_vs_selectivity" -> (() => topTablePoints(v, "wall")),
    "inputrows_vs_selectivity" -> (() => topTablePoints(v, "input_rows")),
    // B27 `:1083-1136`: build (x) vs probe (y) input bytes and distribution
    // (advisory: x=1e6, y=x); B28 `:1139-1174`: x = max(probe rows, build
    // rows), y = probe output rows
    "joins_sides" -> (() => v.joins.select(col("build_input_size").as("x"),
      col("probe_input_size").as("y"), col("join_distribution").as("dist"), col("query_id"))
      .orderBy(col("query_id"), col("x"), col("y"))),
    "joins_selectivity" -> (() => v.joins.select(
      greatest(col("probe_input_rows"), col("build_input_rows")).as("x"),
      col("probe_output_rows").as("y"), col("query_id"))
      .orderBy(col("query_id"), col("x"), col("y"))))

  // ---- aggregate grains ----------------------------------------------

  /** Σ of a column in decimal(38, 9), named after it: exact, so it does not
    * depend on the order the rows are added in.
    */
  private def exactSum(c: String): Column = sum(col(c).cast(DecimalType(38, 9))).as(c)

  /** The `ScanFilter` scan ops that read rows (B22/B23's points). */
  private def readingScanFilters: Column =
    col("operator_type").contains("ScanFilter") && col("input_rows") > 0

  private val GrainPlans: Map[String, WorkloadViews => DataFrame] = Map(
    "hours" -> (v => v.base
      .groupBy(date_trunc("day", col("ts")).as("day"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), exactSum("scheduled_time"), exactSum("input_size"),
        exactSum("cpu_time"), sum(col("input_rows")).as("input_rows"))),
    "users" -> (v => v.base.groupBy(col("user"))
      .agg(count(lit(1)).as("n"), exactSum("scheduled_time"), exactSum("input_size"))),
    "updates" -> (v => v.base.groupBy(coalesce(col("update"), lit("SELECT")).as("qtype"))
      .agg(exactSum("scheduled_time"))),
    "operators" -> (v => v.operators.groupBy(col("operator_type"))
      .agg(exactSum("wall"), exactSum("input_size"), sum(col("input_rows")).as("input_rows"))),
    "tables" -> (v => v.scans.groupBy(col("table_name"))
      .agg(exactSum("wall"), exactSum("input_size"),
        sum(when(readingScanFilters, col("wall").cast(DecimalType(38, 9)))).as("filter_wall"))),
    "selectivity" -> (v => v.scans.filter(col("input_rows") > 0)
      .select((col("output_rows").cast("double") / col("input_rows")).as("x"), col("wall"))
      // a null ratio cannot reach the reference's arithmetic
      // (analyze.py:630-631 builds the arrays from present stats only)
      .filter(col("x").isNotNull)
      .groupBy(ChartOps.binLabel(col("x"), 10, 1.0).as("label10"),
        ChartOps.binLabel(col("x"), 100, 0.2).as("label100"))
      .agg(exactSum("wall"))))

  /** The aggregate grains' plans by name (see the table above). */
  private[graft] def grains(v: WorkloadViews): Map[String, DataFrame] =
    GrainPlans.map { case (name, plan) => name -> plan(v) }

  /** A grain's rows: one job on first use per views, then shared. */
  private def grain(v: WorkloadViews, name: String): Seq[Row] =
    v.memo(name)(GrainPlans(name)(v).collect().toSeq)

  /** A local relation over driver-side rows: its entry runs no job. */
  private def local(v: WorkloadViews, schema: StructType, rows: Seq[Row]): DataFrame =
    v.base.sparkSession.createDataFrame(rows.asJava, schema)

  private def fields(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t) })

  /** A grain cell as an exact number: a decimal sum, or a count or long sum. */
  private def exact(r: Row, field: String): java.math.BigDecimal = r.getAs[Any](field) match {
    case null => null
    case d: java.math.BigDecimal => d
    case l: java.lang.Long => java.math.BigDecimal.valueOf(l)
  }

  /** Σ of a decimal field over grain rows, null when every cell is null
    * (Spark's `sum`).
    */
  private def total(rows: Seq[Row], field: String): java.math.BigDecimal =
    rows.flatMap(r => Option(exact(r, field))).reduceOption(_ add _).orNull

  /** An exact sum cast to double, then divided once; null stays null. */
  private def scaled(d: java.math.BigDecimal, divisor: Double): Any =
    if (d == null) null else d.doubleValue / divisor

  /** The `hours` grain rolled up to `bucket` ("day" or "hour"), in bucket
    * order (a null bucket, from a malformed query id, first): Σ `field` /
    * `divisor`, or the query count for `field` "n".
    */
  private def trend(v: WorkloadViews, bucket: String, name: String, field: String,
      divisor: Double = 1.0): DataFrame = {
    val count = field == "n"
    local(v, fields(bucket -> TimestampType, name -> (if (count) LongType else DoubleType)),
      grain(v, "hours").groupBy(r => Option(r.getAs[java.sql.Timestamp](bucket)))
        .toSeq.sortBy(_._1.map(_.getTime)).map { case (b, rows) =>
          Row(b.orNull,
            if (count) rows.map(_.getAs[Long]("n")).sum else scaled(total(rows, field), divisor))
        })
  }

  private val ScatterCols =
    Seq("query_id", "ts", "peak_mem", "input_size", "elapsed_time", "output_size", "scheduled_time")

  /** (x, y, query_id) of every query, sorted by `query_id`. With `limit`,
    * the first `limit` rows of one sorted projection that all six scatters
    * share, collected once per views.
    */
  private def scatter(v: WorkloadViews, limit: Option[Int], x: String, y: String): DataFrame = {
    val cols = Seq(x, y, "query_id").map(col)
    limit match {
      case None => v.base.select(cols: _*).orderBy(col("query_id"))
      case Some(n) =>
        val points = v.base.select(ScatterCols.map(col): _*).orderBy(col("query_id"))
        local(v, points.schema, v.memo(s"query_points_$n")(points.limit(n).collect().toSeq))
          .select(cols: _*)
    }
  }

  /** [[ChartOps.pie]] over a grain's (`keyField`, `valueField`) cells,
    * keys re-mapped by `rekey` (rows sharing a new key add up exactly).
    */
  private def pie(v: WorkloadViews, grainName: String, keyField: String, valueField: String,
      divisor: Double = 1.0, rekey: String => String = identity): DataFrame =
    local(v, fields("key" -> StringType, "value" -> DoubleType, "pct" -> DoubleType),
      ChartOps.pie(grain(v, grainName).map(r =>
        (Option(r.getAs[String](keyField)).map(rekey).orNull, exact(r, valueField))), divisor)
        .map { case (k, value, pct) => Row(k, value, pct) })

  private def selectivityBins(v: WorkloadViews, label: String, bins: Int,
      maxSelectivity: Double): DataFrame =
    local(v, fields("label" -> StringType, "pct" -> DoubleType),
      ChartOps.selectivityBins(grain(v, "selectivity").map(r => (r.getAs[String](label),
        exact(r, "wall"))), bins, maxSelectivity).map { case (l, pct) => Row(l, pct) })

  /** (selectivity, `y`) of the ScanFilter points on the top-5 tables by Σ
    * wall of their points (membership in the top 5, `analyze.py:810`). The
    * top 5 come from the `tables` grain and enter the plan as an `isin`
    * literal list (`table_name` is never null, see `WorkloadViews.scans`).
    */
  private def topTablePoints(v: WorkloadViews, y: String): DataFrame = {
    val top5 = grain(v, "tables")
      .flatMap(r => Option(exact(r, "filter_wall")).map(w => (w, r.getAs[String]("table_name"))))
      .sortWith { case ((wa, ta), (wb, tb)) =>
        val c = wa.compareTo(wb)
        if (c != 0) c > 0 else ChartOps.keyOrder.lt(ta, tb)
      }.take(5).map(_._2)
    v.scans.filter(readingScanFilters && col("table_name").isin(top5: _*))
      .select((col("output_rows").cast("double") / col("input_rows")).as("selectivity"),
        col(y), col("table_name"), col("query_id"))
      .orderBy(col("query_id"), col("table_name"), col("selectivity"), col(y))
  }

  // ---- header metrics (`analyze.py:1177-1193`) -----------------------

  /** The header, from the `hours` and `users` grains: distinct non-null
    * days and users (a null key is no day and no user), exact sums.
    */
  def metrics(v: WorkloadViews): DataFrame = {
    val hours = grain(v, "hours")
    val inputRows = hours.flatMap(r => Option(r.getAs[java.lang.Long]("input_rows")))
      .map(_.longValue).reduceOption(Math.addExact(_: Long, _: Long))
    local(v, fields("days" -> LongType, "cpu_days" -> DoubleType,
      "scheduled_days" -> DoubleType, "queries" -> LongType, "input_rows" -> LongType,
      "input_tb" -> DoubleType, "users" -> LongType),
      Seq(Row(hours.flatMap(r => Option(r.getAs[java.sql.Timestamp]("day"))).distinct.size.toLong,
        scaled(total(hours, "cpu_time"), 86400.0), scaled(total(hours, "scheduled_time"), 86400.0),
        hours.map(_.getAs[Long]("n")).sum, inputRows.map(Long.box).orNull,
        scaled(total(hours, "input_size"), 1e12),
        grain(v, "users").count(_.getAs[String]("user") != null).toLong)))
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.parse.Units
import QueryDsl._

/** The judged relational query inventory (SURVEY §7.3) — one named query per
  * dataflow primitive the reference exercises (§2.A / §2.B), expressed
  * Spark-first over the driver star schema. Every query ends in a full-key
  * `orderBy` (oracle hash compare is order-sensitive) and uses decimal-exact
  * sums so Spark and DuckDB agree bit-for-bit.
  */
object CoreQueries {

  val all: Seq[NamedQuery] = Seq(

    // A6/A8/A26/A28: projection + predicate pushdown. The filter and the
    // 3-column projection both reach the parquet scan (PushedFilters +
    // ReadSchema in explain) — at 100 TB this is the difference between
    // reading 3 columns of a date range and the whole table.
    NamedQuery(
      "scan_project_filter",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00"))
            && col("l_discount") > lit(0.05))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00' AND l_discount > 0.05
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A16: hash aggregation, partial+final (map-side combine is free via
    // Catalyst). Grouping keys are low-cardinality → tiny shuffle.
    NamedQuery(
      "hash_agg_sum",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  ${dsumSql("l_extendedprice")} AS sum_price,
              |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
              |  CAST(COUNT(*) AS BIGINT) AS n
              |FROM lineitem GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A27: count-distinct metrics (exact here; approx_count_distinct is the
    // 100 TB escape hatch — see Analyzers.metrics).
    NamedQuery(
      "hash_agg_count_distinct",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            countDistinct(col("user_id")).as("users"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // B1-B6 shape: event-time trend — date_trunc + aggregate.
    NamedQuery(
      "date_trunc_agg",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .orderBy(col("day")),
      Some(s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
              |  CAST(COUNT(*) AS BIGINT) AS n,
              |  ${dsumSql("value")} AS total_value
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Top-k: orderBy+limit → TakeOrderedAndProject (no full sort at scale).
    NamedQuery(
      "topk_orderby_limit",
      (s, d) =>
        Tables.orders(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // A17: pie_chart top-N + "All the rest" rollup (analyze.py:460-515):
    // desc by value, keep first top-1=19 entries with share>0.1%, roll the
    // rest up, 2-dp percents with the last row adjusted so they sum to 100.
    NamedQuery(
      "topn_rollup_rest",
      (s, d) => {
        // one distributed plan: the per-user aggregate is reduced by a
        // scalar total (broadcast) + TakeOrderedAndProject top-19, the
        // remainder by a broadcast anti-join — never a partition-less
        // window or global row_number over the unbounded key set. The
        // bounded (≤20-row) tail is window-free too: last-row detection
        // and the rounding residual are scalar aggregates broadcast back
        // in. (ChartOps.pie computes the same chart on the driver from a
        // collected per-key grain, see Analyzers.)
        val counts = Tables.events(s, d)
          .groupBy(col("user_id").cast("string").as("key"))
          .agg(count(lit(1)).as("value"))
        val total = counts.agg(sum(col("value")).as("total"))
        val kept = counts
          .orderBy(col("value").desc, col("key")).limit(19)
          .crossJoin(broadcast(total))
          .filter(col("value") > col("total") * 0.001)
          .select(col("key"), col("value"), col("total"), lit(0L).as("is_rest"))
        // the remainder = everything not kept (rank > 19 OR share ≤ 0.1%),
        // via a broadcast anti-join against the ≤19 kept keys
        val keptKeys = kept.select(col("key").as("kept_key"))
        val rest = counts
          .join(broadcast(keptKeys), col("key") <=> col("kept_key"), "left_anti")
          .crossJoin(broadcast(total))
          .groupBy()
          .agg(sum(col("value")).as("value"), max(col("total")).as("total"))
          .filter(col("value").isNotNull)
          .select(lit("All the rest").as("key"), col("value"), col("total"),
            lit(1L).as("is_rest"))
        // output order (kept desc by value then key, rest last) as a sort
        // key; the LAST row in that order absorbs the rounding residual
        val ord = struct(col("is_rest"), (-col("value")).as("nv"), col("key"))
        val withPct = kept.unionAll(rest)
          .withColumn("pct_raw", lit(100.0) * col("value") / col("total"))
        val lastKey = withPct.agg(max(ord).as("last_key"))
        val flagged = withPct.crossJoin(broadcast(lastKey))
          .withColumn("is_last", ord === col("last_key"))
        val others = flagged.filter(!col("is_last"))
          .agg(coalesce(sum(r2e(col("pct_raw"))), lit(0.0)).as("others"))
        flagged.crossJoin(broadcast(others))
          .withColumn("pct",
            when(col("is_last"), r2e(lit(100.0) - col("others"))).otherwise(r2e(col("pct_raw"))))
          .orderBy(col("is_rest"), col("value").desc, col("key"))
          .select(col("key"), col("value"), col("pct"))
      },
      Some(s"""WITH counts AS (
              |  SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS value
              |  FROM events GROUP BY 1
              |), ranked AS (
              |  SELECT key, value, SUM(value) OVER () AS total,
              |    ROW_NUMBER() OVER (ORDER BY value DESC, key) AS rn
              |  FROM counts
              |), flagged AS (
              |  SELECT *, (rn <= 19 AND value > total * 0.001) AS is_top FROM ranked
              |), top AS (
              |  SELECT key, value, total, rn FROM flagged WHERE is_top
              |), rest AS (
              |  SELECT 'All the rest' AS key, SUM(value) AS value, MAX(total) AS total,
              |    1000000 AS rn
              |  FROM flagged WHERE NOT is_top HAVING SUM(value) IS NOT NULL
              |), unioned AS (
              |  SELECT * FROM top UNION ALL SELECT * FROM rest
              |), pcts AS (
              |  SELECT key, CAST(value AS BIGINT) AS value, rn,
              |    100.0 * value / total AS pct_raw,
              |    (rn = MAX(rn) OVER ()) AS is_last
              |  FROM unioned
              |), adj AS (
              |  SELECT key, value, rn, is_last,
              |    SUM(CASE WHEN NOT is_last THEN ${r2eSql("pct_raw")} ELSE 0.0 END) OVER () AS others,
              |    pct_raw
              |  FROM pcts
              |)
              |SELECT key, value,
              |  CASE WHEN is_last THEN ${r2eSql("100.0 - others")}
              |       ELSE ${r2eSql("pct_raw")} END AS pct
              |FROM adj ORDER BY rn""".stripMargin)),

    // A18: histogram binning with the reference's 1-decimal quirk
    // (analyze.py:640): bin = abs(round1(x - step/2)), padded so every bin
    // exists, values as % of total. x = l_quantity/50 ∈ (0,1].
    NamedQuery(
      "histogram_bins",
      (s, d) => {
        val step = 0.1
        val li = Tables.lineitem(s, d)
          .select((col("l_quantity") / lit(50.0)).as("x"),
            col("l_extendedprice").as("w"))
          // + 0.0 normalizes IEEE negative zero: DuckDB's ABS(-0.0) keeps the
        // sign and formats as "-0.0" (round_even(-0.5) = -0.0)
        .withColumn("bin", abs(r1e(col("x") - lit(step / 2))) + lit(0.0))
        val binned = li.groupBy(col("bin")).agg(dsum(col("w")).as("w"))
        // pad bins as id/10.0 — bit-identical to the bround(x*10,0)/10
        // data-side bins (id*0.1 is NOT: 3*0.1 != 3/10.0 in doubles).
        val pad = li.sparkSession.range(0, 11)
          .select((col("id").cast("double") / lit(10.0)).as("bin"))
          .withColumn("w", lit(0.0))
          .join(binned.select(col("bin")), Seq("bin"), "left_anti")
        val unioned = binned.unionAll(pad)
        // scalar total broadcast back over the ≤11-row bin aggregate — no
        // partition-less window anywhere in the plan
        val total = unioned.agg(sum(col("w")).as("total"))
        unioned.crossJoin(broadcast(total))
          .withColumn("pct", r2e(lit(100.0) * col("w") / col("total")))
          .select(format_string("%.1f", col("bin")).as("bin_label"), col("pct"))
          .orderBy(col("bin_label"))
      },
      Some(s"""WITH pts AS (
              |  SELECT l_quantity / 50.0 AS x, l_extendedprice AS w FROM lineitem
              |), binned AS (
              |  SELECT (ABS(${r1eSql("x - 0.05")}) + 0.0) AS bin,
              |    ${dsumSql("w")} AS w
              |  FROM pts GROUP BY 1
              |), pad AS (
              |  SELECT CAST(i AS DOUBLE) / 10.0 AS bin, 0.0 AS w
              |  FROM generate_series(0, 10) AS t(i)
              |  WHERE CAST(i AS DOUBLE) / 10.0 NOT IN (SELECT bin FROM binned)
              |), unioned AS (
              |  SELECT * FROM binned UNION ALL SELECT * FROM pad
              |)
              |SELECT format('{:.1f}', bin) AS bin_label,
              |  ${r2eSql("100.0 * w / SUM(w) OVER ()")} AS pct
              |FROM unioned ORDER BY bin_label""".stripMargin)),

    // A23 shape: inner equi-join + aggregate. Catalyst broadcasts the
    // customer side (it is under the broadcast threshold at every judged
    // sf); at 100 TB, with both sides large, the same declaration plans
    // as a shuffle hash/sort-merge join on the key — the point of leaving
    // the strategy to the optimizer.
    NamedQuery(
      "equi_join_inner",
      (s, d) =>
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("c_mktsegment")),
      Some(s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
              |  ${dsumSql("o_totalprice")} AS total
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Broadcast join: part is a dimension → explicit broadcast() keeps the
    // fact-table scan shuffle-free (BroadcastHashJoin in explain).
    NamedQuery(
      "broadcast_join_small_dim",
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
          .orderBy(col("p_brand")),
      Some(s"""SELECT p_brand, ${dsumSql("l_extendedprice")} AS revenue,
              |  CAST(COUNT(*) AS BIGINT) AS n
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Left OUTER join with null-producing side: every customer, including
    // the order-less (their aggregates coalesce to zero). Same
    // broadcast/shuffle story as the inner variant; the null rows are
    // exactly the rows an inner join would drop.
    NamedQuery(
      "join_left_outer_nulls",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
          .orderBy(col("c_custkey")),
      Some(s"""SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
              |  COALESCE(${dsumSql("o_totalprice")}, 0.0) AS total
              |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Anti join: customers with no high-value order (> 400k) — the
    // complement the semi join keeps; the filter pushes into the right
    // side before the anti. Broadcast anti at dim scale, shuffle anti at
    // fact scale.
    NamedQuery(
      "join_anti_unmatched",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d)
            .filter(col("o_totalprice") > 400000.0).select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_mktsegment"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // Set op: EXCEPT (distinct) — (user, day) cells that logged an error
    // but no purchase that day.
    NamedQuery(
      "set_except_users",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
        ev.filter(col("event_type") === "error").select(col("user_id"), col("day"))
          .except(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("day")))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
             |FROM events WHERE event_type = 'error'
             |EXCEPT
             |SELECT user_id, CAST(date_trunc('day', ts) AS DATE)
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY user_id, day""".stripMargin)),

    // LAG (offset window) — inter-event gaps per user: delta between each
    // event and its predecessor in (ts, event_id) order, aggregated to a
    // per-user cadence profile. User-partitioned window ⇒ fully parallel;
    // the gap sum stays integer micros (exact), only the average divides.
    NamedQuery(
      "window_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("prev", lag(col("ts_us"), 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("delta", col("ts_us") - col("prev"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("delta")).as("total_gap_us"),
            max(col("delta")).as("max_gap_us"))
          .select(col("user_id"), col("n_gaps"),
            r2(col("total_gap_us").cast("double") / col("n_gaps")).as("avg_gap_us"),
            col("max_gap_us"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
              |), gaps AS (
              |  SELECT user_id,
              |    ts_us - LAG(ts_us, 1) OVER (
              |      PARTITION BY user_id ORDER BY ts_us, event_id) AS delta
              |  FROM e
              |)
              |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
              |  ${r2Sql("CAST(SUM(delta) AS DOUBLE) / COUNT(*)")} AS avg_gap_us,
              |  CAST(MAX(delta) AS BIGINT) AS max_gap_us
              |FROM gaps WHERE delta IS NOT NULL
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Set INTERSECT — the companion of EXCEPT above: (user, day) pairs
    // that BOTH errored and purchased. Catalyst plans both as a
    // distinct + join on the full tuple, so the shape is one keyed
    // shuffle per side at any scale.
    NamedQuery(
      "set_intersect_users",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", date_trunc("day", col("ts")).cast("date"))
        ev.filter(col("event_type") === "error").select(col("user_id"), col("day"))
          .intersect(ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("day")))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
             |FROM events WHERE event_type = 'error'
             |INTERSECT
             |SELECT user_id, CAST(date_trunc('day', ts) AS DATE)
             |FROM events WHERE event_type = 'purchase'
             |ORDER BY user_id, day""".stripMargin)),

    // FULL OUTER join — completes the outer-join family (left outer /
    // semi / anti are above): per-user click and purchase activity where
    // either side may be absent. Both inputs pre-aggregate to one row per
    // user BEFORE the join, so the full-outer shuffle carries user-level
    // rows, not raw events.
    NamedQuery(
      "join_full_outer_activity",
      (s, d) => {
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_clicks"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_purchases"))
        clicks.join(purchases, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
            coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT COALESCE(c.user_id, p.user_id) AS user_id,
             |  CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
             |  CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases
             |FROM (SELECT user_id, COUNT(*) AS n_clicks FROM events
             |      WHERE event_type = 'click' GROUP BY 1) c
             |FULL OUTER JOIN (SELECT user_id, COUNT(*) AS n_purchases FROM events
             |      WHERE event_type = 'purchase' GROUP BY 1) p
             |  ON c.user_id = p.user_id
             |ORDER BY user_id""".stripMargin)),

    // Statistical moments WITHOUT the engines' native stddev/corr (whose
    // float accumulation orders differ): n, Σx, Σx², Σy, Σy², Σxy as
    // decimal-exact sums (order-independent), then mean / sample stddev /
    // Pearson correlation assembled in double with textually identical
    // arithmetic in both engines. The per-group sums are one partial+final
    // aggregation — the mergeable-moments shape every distributed stats
    // library uses, here with exact partials.
    NamedQuery(
      "stats_moments",
      (s, d) => {
        val dec8 = org.apache.spark.sql.types.DecimalType(28, 8)
        val e = Tables.events(s, d)
          .withColumn("x", col("value"))
          .withColumn("y", hour(col("ts")).cast("double"))
        val agg = e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            dsum(col("x")).as("sx"),
            sum((col("x") * col("x")).cast(dec8)).cast("double").as("sxx"),
            dsum(col("y")).as("sy"),
            sum((col("y") * col("y")).cast(dec8)).cast("double").as("syy"),
            sum((col("x") * col("y")).cast(dec8)).cast("double").as("sxy"))
        agg.select(col("event_type"), col("n"),
          r6(col("sx") / col("n")).as("mean_value"),
          r6(sqrt((col("sxx") - col("sx") * col("sx") / col("n"))
            / (col("n") - 1))).as("stddev_value"),
          r6((col("sxy") - col("sx") * col("sy") / col("n"))
            / (sqrt(col("sxx") - col("sx") * col("sx") / col("n"))
              * sqrt(col("syy") - col("sy") * col("sy") / col("n"))))
            .as("corr_value_hour"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH agg AS (
              |  SELECT event_type, COUNT(*) AS n,
              |    ${dsumSql("value")} AS sx,
              |    CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
              |    ${dsumSql("CAST(hour(ts) AS DOUBLE)")} AS sy,
              |    CAST(SUM(CAST(CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE)
              |      AS DECIMAL(28,8))) AS DOUBLE) AS syy,
              |    CAST(SUM(CAST(value * CAST(hour(ts) AS DOUBLE) AS DECIMAL(28,8)))
              |      AS DOUBLE) AS sxy
              |  FROM events GROUP BY 1
              |)
              |SELECT event_type, CAST(n AS BIGINT) AS n,
              |  ${r6Sql("sx / n")} AS mean_value,
              |  ${r6Sql("sqrt((sxx - sx * sx / n) / (n - 1))")} AS stddev_value,
              |  ${r6Sql("(sxy - sx * sy / n) / (sqrt(sxx - sx * sx / n) " +
                 "* sqrt(syy - sy * sy / n))")} AS corr_value_hour
              |FROM agg ORDER BY event_type""".stripMargin)),

    // B22 shape: top-K membership via left-semi join (the top-5 side is tiny
    // → broadcast semi join; no shuffle of the fact table).
    NamedQuery(
      "join_semi_topk",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val top5 = li.groupBy(col("l_partkey"))
          .agg(dsum(col("l_extendedprice")).as("rev"))
          .orderBy(col("rev").desc, col("l_partkey"))
          .limit(5)
          .select(col("l_partkey"))
        li.join(broadcast(top5), Seq("l_partkey"), "left_semi")
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_partkey"))
      },
      Some(s"""WITH top5 AS (
              |  SELECT l_partkey FROM lineitem GROUP BY 1
              |  ORDER BY ${dsumSql("l_extendedprice")} DESC, l_partkey LIMIT 5
              |)
              |SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM top5)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A18 padding / set-op: calendar days with no events appear as zero rows
    // (union of data with an anti-joined generated sequence).
    NamedQuery(
      "union_pad_bins",
      (s, d) => {
        val days = Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
        val cal = Tables.events(s, d)
          .agg(min(date_trunc("day", col("ts")).cast("date")).as("lo"),
            max(date_trunc("day", col("ts")).cast("date")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        val missing = cal.join(days, Seq("day"), "left_anti")
          .withColumn("n", lit(0L))
        days.unionByName(missing).orderBy(col("day"))
      },
      Some("""WITH days AS (
             |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1
             |), cal AS (
             |  SELECT CAST(UNNEST(generate_series(
             |    (SELECT MIN(day) FROM days), (SELECT MAX(day) FROM days),
             |    INTERVAL 1 DAY)) AS DATE) AS day
             |), missing AS (
             |  SELECT day, CAST(0 AS BIGINT) AS n FROM cal
             |  WHERE day NOT IN (SELECT day FROM days)
             |)
             |SELECT * FROM days UNION ALL SELECT * FROM missing
             |ORDER BY day""".stripMargin)),

    // B12 shape: coalesce(update, 'SELECT') — null-producing CASE + default.
    NamedQuery(
      "coalesce_default",
      (s, d) =>
        Tables.events(s, d)
          .select(coalesce(
            when(col("value") < 50.0, lit(null).cast("string"))
              .otherwise(col("event_type")),
            lit("SELECT")).as("category"))
          .groupBy(col("category"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("category")),
      Some("""SELECT COALESCE(CASE WHEN value < 50.0 THEN NULL ELSE event_type END,
             |  'SELECT') AS category, CAST(COUNT(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A20: node-type normalization — FQCN → regex \.(\w+)Node$ → lowercase
    // (analyze.py:999-1004), exercised on a synthesized FQCN.
    NamedQuery(
      "regexp_extract_normalize",
      (s, d) =>
        Tables.customer(s, d)
          .select(concat(lit("io.engine.plan."), col("c_mktsegment"), lit("Node")).as("fqcn"))
          .select(lower(regexp_extract(col("fqcn"), "\\.(\\w+)Node$", 1)).as("node_type"))
          .groupBy(col("node_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("node_type")),
      Some("""SELECT lower(regexp_extract('io.engine.plan.' || c_mktsegment || 'Node',
             |  '\.(\w+)Node$', 1)) AS node_type, CAST(COUNT(*) AS BIGINT) AS n
             |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A5: unit-suffix parse — duration and size strings synthesized from
    // lineitem, parsed back to seconds/bytes by the codegen'd Units exprs.
    NamedQuery(
      "unit_parse",
      (s, d) => {
        val suffix = element_at(
          array(lit("ms"), lit("s"), lit("m"), lit("h")),
          (col("l_linenumber") % 4 + 1).cast("int"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            concat(col("l_quantity").cast("string"), suffix).as("dur_str"),
            concat(col("l_quantity").cast("string"), lit("MB")).as("size_str"))
          .select(col("l_orderkey"), col("l_linenumber"),
            Units.timeSeconds(col("dur_str")).as("dur_secs"),
            Units.sizeBytes(col("size_str")).as("size_bytes"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_quantity * (CASE (l_linenumber % 4) WHEN 0 THEN 0.001
             |    WHEN 1 THEN 1.0 WHEN 2 THEN 60.0 ELSE 3600.0 END) AS dur_secs,
             |  l_quantity * 1048576.0 AS size_bytes
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A21: table-name resolution — concat_ws over nullable parts (null parts
    // dropped, exactly the reference's missing-handle behavior).
    NamedQuery(
      "concat_ws_table_name",
      (s, d) => {
        val sup = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d)
        sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"),
            concat_ws(".",
              when(col("r_name") === "ASIA", lit(null).cast("string"))
                .otherwise(lower(col("r_name"))),
              lower(col("n_name")), col("s_name")).as("qualified_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, concat_ws('.',
             |  CASE WHEN r_name = 'ASIA' THEN NULL ELSE lower(r_name) END,
             |  lower(n_name), s_name) AS qualified_name
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |ORDER BY s_suppkey""".stripMargin)),

    // A26: substring predicates ("Scan" in type / endswith("join")).
    NamedQuery(
      "string_contains_filter",
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("text").contains("spark") && !col("text").endsWith("join"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("source")),
      Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |WHERE contains(text, 'spark') AND NOT ends_with(text, 'join')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A17 shares: percent-of-total over the per-type aggregate. The total
    // is a scalar aggregate broadcast back in (the oracle spells it as a
    // SUM() OVER () window — same value; the Spark plan avoids the
    // single-partition WindowExec a partition-less window would cost).
    NamedQuery(
      "window_share_pct",
      (s, d) => {
        val byType = Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
        val total = byType.agg(sum(col("n")).as("total"))
        byType.crossJoin(broadcast(total))
          .withColumn("pct", col("n") * lit(100.0) / col("total"))
          .select(col("event_type"), col("n"), col("pct"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(COUNT(*) AS BIGINT) * 100.0 /
             |    SUM(CAST(COUNT(*) AS BIGINT)) OVER () AS pct
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A22: deepest-node lookup via row_number desc — latest event per user.
    NamedQuery(
      "window_rownum_deepest",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts_ns").desc, col("event_id").desc)))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .orderBy(col("user_id")),
      Some("""SELECT user_id, event_id, event_type FROM (
             |  SELECT user_id, event_id, event_type,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Ranking-family completion: ntile quartiles per event type by value
    // (the quality-tiering shape: assign each record to a within-group
    // tier, then size the tiers). Partitioned windows only.
    NamedQuery(
      "window_ntile_quartiles",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("q", ntile(4).over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("value"), col("event_id"))))
          .groupBy(col("event_type"), col("q"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy(col("event_type"), col("q")),
      Some(s"""SELECT event_type, q, CAST(COUNT(*) AS BIGINT) AS n,
              |  ${dsumSql("value")} AS sum_value
              |FROM (
              |  SELECT event_type, value, NTILE(4) OVER (
              |    PARTITION BY event_type ORDER BY value, event_id) AS q
              |  FROM events
              |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // B28 shape: greatest() of the two join-side magnitudes.
    NamedQuery(
      "greatest_pair",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
          .select(col("l_orderkey"),
            greatest(col("qty"), col("n") * lit(7.0)).as("bigger_side"))
          .orderBy(col("l_orderkey")),
      Some(s"""SELECT l_orderkey,
              |  GREATEST(${dsumSql("l_quantity")}, CAST(COUNT(*) AS BIGINT) * 7.0)
              |    AS bigger_side
              |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A14: dictionary-encode obfuscation — first-seen order made
    // deterministic as dense_rank over min(event_id) per user (SURVEY §7.4).
    NamedQuery(
      "dict_encode_obfuscate",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(min(col("event_id")).as("first_seen"))
          // the total first-seen order IS the operator's semantics (the
          // reference assigns tokens sequentially), so this window is
          // single-partition BY CONTRACT — over the per-user aggregate,
          // never the raw events. When first-seen order isn't contractual,
          // md5-prefix ids (MLQueries.hashId) are the shuffle-free form.
          .withColumn("token",
            concat(lit("u"),
              (dense_rank().over(Window.orderBy(col("first_seen"))) - 1).cast("string")))
          .select(col("user_id"), col("token"))
          .orderBy(col("user_id")),
      Some("""SELECT user_id, 'u' || CAST(DENSE_RANK() OVER (ORDER BY first_seen) - 1
             |  AS VARCHAR) AS token
             |FROM (SELECT user_id, MIN(event_id) AS first_seen FROM events GROUP BY 1)
             |ORDER BY user_id""".stripMargin)),

    // A7: nested-array projection — explode word arrays, vocabulary counts.
    NamedQuery(
      "explode_array",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("word")),
      Some("""SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
             |  SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
             |) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sessionization (gaps-and-islands): a new session starts when the gap
    // to the previous event exceeds 1 hour; session id = running count of
    // boundaries. All windows partition by user_id — fully parallel at
    // 100 TB (one shuffle on user, then narrow). Micro-second resolution
    // (ts_ns div 1000): DuckDB truncates the parquet TIMESTAMP_NS column
    // to µs, so the oracle can only see µs; event_id breaks exact-µs ties
    // deterministically. The streaming twin (arbitrary-state
    // flatMapGroupsWithState) is streaming.Sessionize.
    NamedQuery(
      "window_session_gaps",
      (s, d) => {
        val gapUs = 3600L * 1000000L
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_sess"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
            count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
              |), flagged AS (
              |  SELECT user_id, event_id, ts_us, value,
              |    CASE WHEN lag(ts_us) OVER w IS NULL
              |           OR ts_us - lag(ts_us) OVER w > 3600000000
              |         THEN 1 ELSE 0 END AS new_sess
              |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
              |), sess AS (
              |  SELECT user_id, ts_us, value,
              |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              |      ROWS UNBOUNDED PRECEDING) AS session_id
              |  FROM flagged
              |)
              |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
              |  CAST(COUNT(*) AS BIGINT) AS n_events,
              |  ${dsumSql("value")} AS total_value
              |FROM sess GROUP BY user_id, session_id
              |ORDER BY user_id, session_id""".stripMargin)),

    // B7-B9 shape: per-query scatter points (pure projection, raw doubles).
    NamedQuery(
      "scatter_select",
      (s, d) =>
        Tables.events(s, d)
          .filter(col("value") > lit(150.0))
          .select(col("event_id"), col("user_id"), col("value"))
          .orderBy(col("event_id")),
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE value > 150.0 ORDER BY event_id""".stripMargin)),

    // A29: label truncation — shorten (prefix + "...", analyze.py:518-521).
    // Threshold 200 so the judged corpus (text lengths 47..~450) exercises
    // BOTH branches; the reference's 30-char variant is presentation-layer.
    NamedQuery(
      "string_truncate_labels",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            when(length(col("text")) > 200,
              concat(substring(col("text"), 1, 200), lit("...")))
              .otherwise(col("text")).as("label"))
          .withColumn("label_len", length(col("label")).cast("long"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, label, CAST(length(label) AS BIGINT) AS label_len
             |FROM (
             |  SELECT doc_id,
             |    CASE WHEN length(text) > 200 THEN substr(text, 1, 200) || '...'
             |         ELSE text END AS label
             |  FROM documents
             |) ORDER BY doc_id""".stripMargin)),

    // Multi-level aggregation: ROLLUP over the region→nation hierarchy —
    // subtotals per region and a grand total in one pass (Catalyst expands
    // to grouping sets; partial aggregation still applies, so the shuffle
    // stays (groups × levels), not rows). Hierarchy labels are never null
    // in the data, so coalesce('ALL') marks exactly the subtotal rows.
    NamedQuery(
      "rollup_region_nation",
      (s, d) =>
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_bal"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            col("n_suppliers"), col("total_bal"))
          .orderBy(col("region"), col("nation")),
      Some(s"""SELECT COALESCE(r_name, 'ALL') AS region,
              |  COALESCE(n_name, 'ALL') AS nation,
              |  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
              |  ${dsumSql("s_acctbal")} AS total_bal
              |FROM supplier
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY ROLLUP(r_name, n_name)
              |ORDER BY region, nation""".stripMargin)),

    // CUBE (all grouping sets): order counts and totals by status,
    // priority, each alone, and the grand total in one pass — the
    // cross-dimensional twin of the ROLLUP hierarchy above. Catalyst
    // expands to 4 grouping sets before partial aggregation, so the
    // shuffle stays (groups × sets), not rows. Neither column is null in
    // the data, so coalesce('ALL') marks exactly the subtotal rows (and
    // sidesteps the engines' opposite NULL sort-order defaults).
    NamedQuery(
      "cube_status_priority",
      (s, d) =>
        Tables.orders(s, d)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n_orders"), col("total_price"))
          .orderBy(col("status"), col("priority")),
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
              |  COALESCE(o_orderpriority, 'ALL') AS priority,
              |  CAST(COUNT(*) AS BIGINT) AS n_orders,
              |  ${dsumSql("o_totalprice")} AS total_price
              |FROM orders
              |GROUP BY CUBE(o_orderstatus, o_orderpriority)
              |ORDER BY status, priority""".stripMargin)),

    // Pivot (wide conditional aggregation): per-day event counts fanned
    // into one column per event type. Spark's pivot with an explicit value
    // list compiles to the same conditional-count aggregate DuckDB's
    // FILTER clauses express — one pass, no per-value scans.
    NamedQuery(
      "pivot_event_counts",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, d)
          .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy(col("day"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Skew-mitigated aggregation (salting) — the standard fix for a hot
    // grouping key: pre-aggregate on (key, salt) so a skewed key's rows
    // split across `salt` reducers, then combine the per-salt partials in
    // a second, tiny aggregation. The salt is deterministic (event_id
    // mod 8) and the partial sums stay decimal, so the two-stage result
    // is bit-identical to the plain GROUP BY at any parallelism — which
    // is exactly what the oracle runs: salting must be a pure plan
    // transformation, invisible in the result. (AQE's skew handling
    // covers joins; aggregation skew still needs this manual shape.)
    NamedQuery(
      "skew_salted_agg",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(8)))
          .groupBy(col("user_id"), col("salt"))
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("pv"))
          .groupBy(col("user_id"))
          .agg(sum(col("pn")).as("n_events"),
            sum(col("pv")).cast("double").as("total_value"))
          .orderBy(col("user_id")),
      Some(s"""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              |  ${dsumSql("value")} AS total_value
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Skew-mitigated JOIN (salting, round 20 — the r19 verdict's ask #6):
    // the 100 TB killer the aggregation gate above does not cover is one
    // hot key flooding one reducer of a SHUFFLE JOIN. Modeled with a
    // deliberately Zipf-ish key (user_id % 10 < 7 collapses ~70% of the
    // fact table onto key 0, the rest stays a uniform tail) joined to the
    // customer dimension under a shuffle-hash hint — standing in for the
    // both-sides-too-big-to-broadcast case where AQE's broadcast escape
    // does not exist. Mitigation is the standard salt split: the fact
    // side salts ONLY the hot key (pmod(event_id, 8); the tail keeps
    // salt 0 so its dim rows are never replicated), the dim side
    // replicates JUST its hot-key rows 8× via posexplode of an 8-element
    // array, and the join runs on (key, salt) — the hot key's rows now
    // land on 8 reducers instead of 1. The downstream aggregation rides
    // the same salt (pre-agg on (key, salt), then the tiny combine), so
    // neither the join nor the agg sees the unsplit hot partition.
    // Salting must be a pure plan transformation: the oracle is the
    // PLAIN unsalted join + group-by, bit-identical (decimal partials).
    // Hot-key DETECTION at 100 TB is the judged count-min sketch
    // (`sketch_countmin_heavy`); the judged mitigation here takes the
    // hot set as config, exactly like production skew hints.
    // PlanShapeSpec pins the mitigated shape (shuffle join keyed by the
    // salt, no broadcast, no unsalted hot exchange).
    NamedQuery(
      "join_skew_salted",
      (s, d) => {
        val salts = 8
        val hot = lit(0L)
        val fact = Tables.events(s, d)
          .withColumn("skew_key",
            when(pmod(col("user_id"), lit(10)) < 7, hot)
              .otherwise(col("user_id")))
          .withColumn("salt",
            when(col("skew_key") === hot, pmod(col("event_id"), lit(salts)))
              .otherwise(lit(0L)).cast("long"))
        val dim = Tables.customer(s, d)
          .filter(col("c_custkey") < 150)
          .select(col("c_custkey"), col("c_mktsegment"),
            explode(when(col("c_custkey") === hot,
              array((0 until salts).map(i => lit(i.toLong)): _*))
              .otherwise(array(lit(0L)))).as("salt"))
        fact.hint("shuffle_hash")
          .join(dim, fact("skew_key") === dim("c_custkey")
            && fact("salt") === dim("salt"))
          .groupBy(col("skew_key"), fact("salt"))
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
              .as("pv"),
            max(col("c_mktsegment")).as("pseg"))
          .groupBy(col("skew_key"))
          .agg(sum(col("pn")).as("n_events"),
            sum(col("pv")).cast("double").as("total_value"),
            max(col("pseg")).as("mktsegment"))
          .orderBy(col("skew_key"))
      },
      Some(s"""SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END
              |    AS skew_key,
              |  CAST(COUNT(*) AS BIGINT) AS n_events,
              |  ${dsumSql("value")} AS total_value,
              |  MAX(c_mktsegment) AS mktsegment
              |FROM events e JOIN customer c
              |  ON c.c_custkey = CASE WHEN e.user_id % 10 < 7
              |                        THEN 0 ELSE e.user_id END
              |WHERE c.c_custkey < 150
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact quantile thresholds (training-data quality gating: "drop below
    // p25"): Spark `percentile` and DuckDB `quantile_cont` both use R-7
    // linear interpolation at index p*(n-1), identical arithmetic; r2
    // absorbs last-ulp drift. At 100 TB exact percentile needs a per-group
    // sort — approx_percentile (t-digest, mergeable partials, no sort) is
    // the documented scale escape hatch, same plan shape.
    NamedQuery(
      "quantile_thresholds",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(
            r2(expr("percentile(value, 0.25)")).as("p25"),
            r2(expr("percentile(value, 0.5)")).as("p50"),
            r2(expr("percentile(value, 0.9)")).as("p90"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type")),
      Some(s"""SELECT event_type,
              |  ${r2Sql("quantile_cont(value, 0.25)")} AS p25,
              |  ${r2Sql("quantile_cont(value, 0.5)")} AS p50,
              |  ${r2Sql("quantile_cont(value, 0.9)")} AS p90,
              |  CAST(COUNT(*) AS BIGINT) AS n
              |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Window FRAME aggregation (sliding metrics): per-user moving sum over
    // the last 3 events — ROWS frames are order-dependent, so the frame
    // order is the tie-free (ts_us, event_id). Partitioned by user: fully
    // parallel, no global window.
    NamedQuery(
      "window_moving_sum",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(-2, Window.currentRow)
        Tables.events(s, d)
          .withColumn("ts_us", expr("ts_ns div 1000"))
          .withColumn("moving_sum",
            sum(col("value").cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(18, 4))).over(w).cast("double"))
          .select(col("user_id"), col("event_id"), col("moving_sum"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some("""SELECT user_id, event_id,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum
             |FROM events
             |ORDER BY user_id, epoch_us(ts), event_id""".stripMargin)),

    // As-of join (the feature-engineering staple Spark lacks as a builtin):
    // each purchase matched to the user's LATEST view at or before it.
    // Spark-first this is NOT a join at all — union both streams and take
    // last_value(ignoreNulls) over a user-partitioned window ordered by
    // (ts, side): the merge-sort formulation. One shuffle on user_id, then
    // narrow — the same scale story as sessionization, and strictly
    // cheaper than the range-join rewrite (no candidate blowup, no
    // inequality join). The right stream is deduped to one row per
    // (user, ts) first (max event_id) because an as-of match selects ONE
    // row per timestamp. The oracle is DuckDB's native ASOF LEFT JOIN —
    // proving the window formulation IS the standard operator's semantics
    // (inclusive bound, greatest earlier timestamp, null when none).
    NamedQuery(
      "join_asof_latest_view",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("ts_us"))
          .agg(max(col("event_id")).as("view_event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
        val unioned = views
          .select(col("user_id"), col("ts_us"), lit(0).as("side"),
            lit(null).cast("long").as("event_id"),
            struct(col("ts_us").as("view_ts_us"), col("view_event_id")).as("v"))
          .unionAll(purchases
            .select(col("user_id"), col("ts_us"), lit(1).as("side"),
              col("event_id"),
              lit(null).cast("struct<view_ts_us:bigint,view_event_id:bigint>").as("v")))
        // views sort BEFORE purchases at equal ts (side 0 < 1) = the
        // inclusive p.ts >= v.ts bound of ASOF
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned
          .withColumn("m", last(col("v"), ignoreNulls = true).over(w))
          .filter(col("side") === 1)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("m.view_event_id").as("view_event_id"),
            col("m.view_ts_us").as("view_ts_us"),
            (col("ts_us") - col("m.view_ts_us")).as("gap_us"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
             |), views AS (
             |  SELECT user_id, ts_us AS view_ts_us,
             |    CAST(MAX(event_id) AS BIGINT) AS view_event_id
             |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2
             |), purchases AS (
             |  SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'purchase'
             |)
             |SELECT p.user_id, p.event_id, p.ts_us,
             |  v.view_event_id, v.view_ts_us,
             |  p.ts_us - v.view_ts_us AS gap_us
             |FROM purchases p ASOF LEFT JOIN views v
             |  ON p.user_id = v.user_id AND p.ts_us >= v.view_ts_us
             |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin)),

    // Banded range join (the interval twin of the as-of join): per
    // purchase, the number of views in the hour before it. A naive
    // inequality join plans as BroadcastNestedLoopJoin — O(n·m) per user
    // and a non-starter at scale. The scale-correct expression BANDS time
    // into range-width buckets: a view lands in exactly one bucket, a
    // purchase probes its own and the previous bucket (any interval of
    // width W overlaps ≤ 2 W-wide buckets), so the join is a plain
    // equi-join on (user, bucket) with ≤ 2× row expansion, and the exact
    // [ts−1h, ts) predicate filters the candidates. Left semantics keep
    // zero-view purchases (count(null) = 0).
    NamedQuery(
      "join_range_views_before_purchase",
      (s, d) => {
        val hourUs = 3600L * 1000000L
        val ev = Tables.events(s, d).withColumn("ts_us", expr("ts_ns div 1000"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("vts"),
            expr(s"ts_us div $hourUs").as("vb"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("vb", explode(array(
            expr(s"ts_us div $hourUs"), expr(s"ts_us div $hourUs - 1"))))
        purchases
          .join(views, Seq("user_id", "vb"), "left")
          .withColumn("hit",
            col("vts").isNotNull &&
              col("vts") >= col("ts_us") - hourUs && col("vts") < col("ts_us"))
          .groupBy(col("user_id"), col("event_id"), col("ts_us"))
          .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_views_1h"))
          .orderBy(col("user_id"), col("ts_us"), col("event_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
             |), views AS (
             |  SELECT user_id, ts_us AS vts FROM ev WHERE event_type = 'view'
             |), purchases AS (
             |  SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'purchase'
             |)
             |SELECT p.user_id, p.event_id, p.ts_us,
             |  CAST(COUNT(v.vts) AS BIGINT) AS n_views_1h
             |FROM purchases p LEFT JOIN views v
             |  ON v.user_id = p.user_id
             |  AND v.vts >= p.ts_us - 3600000000 AND v.vts < p.ts_us
             |GROUP BY 1, 2, 3
             |ORDER BY p.user_id, p.ts_us, p.event_id""".stripMargin)),

    // collect/array_agg: group values into a collection (sorted — Spark
    // collect_list order is partition-dependent, so determinism requires
    // sort_array in BOTH engines). Serialized to a joined string for the
    // gate: the driver's cell comparator handles scalars, not list cells.
    NamedQuery(
      "array_agg_sorted",
      (s, d) =>
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"),
            count(lit(1)).as("n"))
          .orderBy(col("n_name")),
      Some("""SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A8/A13 shape: JSON path extraction from a raw string column.
    NamedQuery(
      "json_extract_path",
      (s, d) =>
        Tables.events(s, d)
          .select((get_json_object(col("props"), "$.k").cast("long") % 10).as("k_mod"),
            col("event_id"))
          .groupBy(col("k_mod"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
          .orderBy(col("k_mod")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
             |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The STREAMING sessionization twin, judged end-to-end (round 10 —
    // the last product streaming operator that was only spec/CLI-checked):
    // the gate drives the REAL streaming.Sessionize operator
    // (flatMapGroupsWithState, a disjoint pending-session list per user,
    // emission only once the event-time watermark passes session_end +
    // gap) over the events table as a bounded file stream under
    // Trigger.AvailableNow, and the oracle replays the batch
    // window_session_gaps chain (gaps-and-islands, same 1-hour gap)
    // restricted to the watermark-SEALABLE sessions. The cutoff is
    // explicit and identical in both engines: Spark's watermark is
    // max-event-time truncated to ms minus the 1-hour delay
    // (wm_us = ((max_us div 1000) - 3600000) * 1000), and the oracle
    // replays the engine's EXACT emission rule, which has two parts —
    // a session is emitted iff its group was WOKEN at the final
    // watermark AND it is sealable:
    //   (1) group wake-up: EventTimeTimeout fires strictly BELOW the
    //       watermark (processTimedOutState uses timeout < wm) and
    //       Sessionize registers ceil-to-ms(min session deadline), so a
    //       user's group wakes iff its EARLIEST deadline (end_us+gap)
    //       <= wm_us - 1000 — a deadline inside the watermark's exact
    //       millisecond never fires on its own;
    //   (2) seal: the woken group emits every session with
    //       end_us + gap <= wm_us (a boundary-ms session IS emitted
    //       when a sibling session's earlier deadline woke the group).
    // Both conditions are replayed in SQL below; dropping (1) would be
    // a latent data-dependent flake (caught by round-10 code review).
    // Float determinism: the feed carries value scaled to e4 fixed-point
    // (round(value*10000) — an integral double, so the operator's
    // arrival-order accumulation is EXACT integer arithmetic under 2^53,
    // the same grid dsum's DECIMAL(18,4) puts the batch gates on) and the
    // judged column is the integer total_e4. Single-file source → one
    // data micro-batch (wm 0) + the AvailableNow no-data batch that
    // fires every sealable group's event-time timeout at the final
    // watermark — the same drain the dedup-stream CLI cross-checks
    // (9122/9147 sessions sealable at sf0.01). State at 100 TB:
    // O(users x sessions-inside-watermark), sharded by user, payloads
    // never held (see Sessionize scaladoc).
    NamedQuery(
      "sessionize_stream",
      (s, d) => {
        import s.implicits._
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = s.read.parquet(s"$d/events.parquet").schema
        // normalizeEventTs tolerates every ts encoding the testdata has
        // shipped (long nanos / TIMESTAMP / TIMESTAMP_NTZ) — see Tables
        val events = Tables.normalizeEventTs(
            s.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet").parquet(d))
          .select(col("user_id"), col("ts"),
            round(col("value") * lit(10000)).as("value"))
          .as[graft.streaming.SessionEvent]
        graft.streaming.GateStream.dropStaleSinks(s, "sessionize_stream_sink_")
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-sess-gate").toString
        val sink = s"sessionize_stream_sink_${sessSinkSeq.incrementAndGet()}"
        graft.streaming.GateStream.withStreamShuffle(s) {
          val q = graft.streaming.Sessionize.sessionize(events)
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.GateStream.debugProgress(q)
        }
        graft.streaming.GateStream.deleteScratch(ckpt)
        s.table(sink).select(
            col("user_id"),
            expr("unix_micros(session_start)").as("start_us"),
            expr("unix_micros(session_end)").as("end_us"),
            col("n_events"),
            col("total_value").cast("long").as("total_e4"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             |    CAST(ROUND(value * 10000) AS BIGINT) AS v_e4
             |  FROM events
             |), flagged AS (
             |  SELECT user_id, event_id, ts_us, v_e4,
             |    CASE WHEN lag(ts_us) OVER w IS NULL
             |           OR ts_us - lag(ts_us) OVER w > 3600000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
             |), sess AS (
             |  SELECT user_id, ts_us, v_e4,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS session_id
             |  FROM flagged
             |), agg AS (
             |  SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
             |    CAST(COUNT(*) AS BIGINT) AS n_events,
             |    CAST(SUM(v_e4) AS BIGINT) AS total_e4
             |  FROM sess GROUP BY user_id, session_id
             |), wm AS (
             |  SELECT ((MAX(ts_us) // 1000) - 3600000) * 1000 AS wm_us FROM e
             |)
             |SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.total_e4
             |FROM agg a, wm
             |WHERE a.end_us + 3600000000 <= wm.wm_us
             |  AND (SELECT MIN(end_us) FROM agg m WHERE m.user_id = a.user_id)
             |        + 3600000000 <= wm.wm_us - 1000
             |ORDER BY a.user_id, a.start_us""".stripMargin)),
  )

  /** Distinct memory-sink names per sessionize_stream invocation (bench
    * runs the gate three times in one session — warmup family, cold,
    * warm; the sink table must not accumulate).
    */
  private val sessSinkSeq = new java.util.concurrent.atomic.AtomicLong(0)
}

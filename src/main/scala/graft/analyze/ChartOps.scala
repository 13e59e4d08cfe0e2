package graft.analyze

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two reusable chart-data reductions (SURVEY §2.A17/A18).
  *
  * Both end in tiny results (≤ a few dozen rows) but start from
  * workload-sized inputs. Scale discipline: bounded driver hops, no
  * broadcasts. Anything touching the unbounded input (totals, top-k,
  * remainder sums) runs as a distributed aggregate or TakeOrdered; what
  * comes back to the driver is bounded at any corpus size (≤ `top` rows
  * or one row) and enters later plans as literals, never as a broadcast
  * join. No partition-less window runs over the input. Over a
  * single-partition input (a small workload, see
  * [[graft.ingest.WorkloadViews]]) every plan here is one stage.
  */
object ChartOps {

  /** `numpy.round(x, d)` replica (`analyze.py:475`, `:640`): numpy scales
    * by 10^d, rounds half-to-EVEN on the scaled double (rint), and divides
    * back down (numpy.round(12.125, 2) == 1212/100 == 12.12 exactly, not
    * 1212*0.01). `bround(x, d)` alone is NOT equivalent — it rounds the
    * shortest decimal repr, so e.g. 2.675 → 2.68 where numpy gives 2.67;
    * brounding the pre-scaled value at 0 decimals reproduces rint exactly.
    */
  private def npRound(c: Column, decimals: Int): Column = {
    val p = math.pow(10.0, decimals)
    bround(c * lit(p), 0) / lit(p)
  }

  /** Driver twin of [[npRound]] at 2 decimals for the pie tail — the SAME
    * arithmetic Spark's `bround(x·100, 0) / 100` executes (BigDecimal
    * HALF_EVEN on the pre-scaled double), so the driver-side assembly is
    * bit-identical to the former distributed tail.
    */
  private def npRound2(v: Double): Double =
    java.math.BigDecimal.valueOf(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_EVEN).doubleValue() / 100.0

  /** `pie_chart` (`analyze.py:460-515`): input = (key, value) rows.
    * Ranked desc by value (ties by key, matching Python's stable sort over
    * the key-sorted groupby); keep the first `top-1` entries with share
    * > 0.1%; roll the rest into "All the rest"; percents rounded to 2dp
    * (half-even, numpy semantics) with the LAST row absorbing the rounding
    * residual so Σ == 100 (`analyze.py:474-476`).
    *
    * Output: (key, value, pct), kept rows first (desc), rest last.
    *
    * Plan: the input is pre-aggregated by key and cached (callers pass
    * per-key aggregates, so this is identity on their keys, and a
    * duplicate key can never fall between the kept set and the remainder;
    * the cache is vocabulary-bounded: users, operator types, table names).
    * Three bounded collects read it, each a global aggregate or a
    * TakeOrdered, with no join, window or broadcast:
    *  1. the scalar total, no row when it is null or 0 (the reference's
    *     all-zero bail-out, `if not sum_values: return`, `analyze.py:463-464`);
    *  2. the TakeOrdered top-(top-1), with the share test (> 0.1% of the
    *     total) evaluated in Spark, so NaN compares as Spark orders it;
    *  3. the remainder as one scalar sum over the keys not kept, matched
    *     by null-SAFE inequality (a kept NULL key must not be counted into
    *     the rest as well), no row when nothing remains (reference:
    *     `values[~relevant].sum()`).
    * The cache is dropped before returning, so the nine pies of an
    * analyze run never accumulate InMemoryRelations. Concurrent pies
    * ([[AnalyzerRunner]]) aggregate different keys or values, so no two
    * cache the same plan and one call's unpersist never drops another's.
    *
    * The pct tail (rounding, Σ==100 residual) runs on the driver over the
    * ≤ top rows, bounded at any corpus size. It is bit-identical to a
    * distributed tail: the folds run in output order and [[npRound2]]
    * runs the BigDecimal HALF_EVEN rounding `bround` executes.
    */
  def pie(counts: DataFrame, keyCol: String, valueCol: String, top: Int = 20): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val base = counts
      .select(col(keyCol).cast("string").as("key"), col(valueCol).cast("double").as("value"))
      .groupBy(col("key")).agg(sum(col("value")).as("value"))
      .cache()
    val sorted: Seq[(String, Double)] = try {
      base.agg(sum(col("value")).as("total")).filter(col("total") =!= 0.0)
        .collect().headOption.toSeq.flatMap { total =>
          // TakeOrderedAndProject: each partition forwards its local
          // top-(top-1) and the driver merges them, in rank order
          val kept = base.orderBy(col("value").desc, col("key")).limit(top - 1)
            .select(col("key"), col("value"),
              (col("value") * 100.0 / lit(total.getDouble(0)) > 0.1).as("keep"))
            .collect().toSeq.filter(r => !r.isNullAt(2) && r.getBoolean(2))
            .map(r => (r.getString(0), r.getDouble(1)))
          val notKept = kept.foldLeft(lit(true))((c, k) => c && !(col("key") <=> lit(k._1)))
          val rest = base.filter(notKept).agg(sum(col("value"))).collect()(0)
          kept ++ (if (rest.isNullAt(0)) Nil else Seq(("All the rest", rest.getDouble(0))))
        }
    } finally base.unpersist()
    if (sorted.isEmpty) Seq.empty[(String, Double, Double)].toDF("key", "value", "pct")
    else {
      val totalV = sorted.foldLeft(0.0)((acc, r) => acc + r._2)
      val pctRound = sorted.map(r => npRound2(r._2 * 100.0 / totalV))
      val sumRound = pctRound.foldLeft(0.0)(_ + _)
      // the LAST row in output order absorbs the rounding residual so
      // Σ == 100 exactly (analyze.py:474-476)
      sorted.zipWithIndex.map { case ((k, v), i) =>
        val pct = if (i == sorted.length - 1) pctRound(i) + (100.0 - sumRound)
          else pctRound(i)
        (k, v, pct)
      }.toDF("key", "value", "pct")
    }
  }

  /** `wall_by_selectivity_bins` (`analyze.py:622-686`): values binned by
    * `abs(round1(x - step/2))` (numpy round1 = half-even) — ALWAYS rounded
    * to one decimal, even for
    * the bins=100 variant (the reference quirk); weights become percent of
    * total; every `arange(0, max, step)` bin is padded in (with its own
    * 2-decimal label, NOT re-binned — so the 100-bin variant pads labels
    * 0.01..0.19 that real data can never hit); bins beyond max+1e-9 are
    * labeled "Above". Output: (bin_label, pct) sorted by label, "Above"
    * last (string sort does that: digits < 'A' is false in ASCII, 'A' > '9').
    */
  def selectivityBins(points: DataFrame, selCol: String, weightCol: String,
      bins: Int, maxSelectivity: Double): DataFrame = {
    val spark = points.sparkSession
    val step = 1.0 / bins
    // null selectivity cannot reach the reference's arithmetic
    // (analyze.py:630-631 builds the arrays from present stats only); an
    // unguarded null here would fall through `when(bin <= max)` into the
    // "Above" bin with its full weight
    val pts = points
      .select(col(selCol).cast("double").as("x"), col(weightCol).cast("double").as("w"))
      .filter(col("x").isNotNull && col("w").isNotNull)
    // one collect of (count, Σw): the reference bails out before padding
    // when there are no points (analyze.py:633-634) — padding alone would
    // divide by a zero total — and the total enters the plan as a literal
    val stats = pts.agg(count(lit(1)), sum(col("w"))).collect()(0)
    if (stats.getLong(0) == 0L)
      return pts.select(lit("").as("label"), lit(0.0).as("pct")).limit(0)
    val total = stats.getDouble(1)
    val binned = pts
      .withColumn("bin", abs(npRound(col("x") - lit(step / 2), 1)))
      .withColumn("label",
        when(col("bin") <= maxSelectivity + 1e-9, format_string("%.2f", col("bin")))
          .otherwise(lit("Above")))
    // pad: arange(0, max, step) labeled directly (not re-binned); one
    // slice, so a union with a single-partition input stays one partition
    val nPad = math.ceil(maxSelectivity / step - 1e-9).toInt
    val pad = spark.range(0, nPad, 1, 1)
      .select(format_string("%.2f", col("id").cast("double") * lit(step)).as("label"),
        lit(0.0).as("w"))
    // percent per POINT then sum per label — the reference's aggregation
    // order (`wall = wall / wall.sum() * 100` at analyze.py:645, then
    // groupby-sum), kept bit-compatible (the zero pad weights leave the
    // total unchanged); never a single-partition window over raw points
    binned.select(col("label"), col("w")).unionAll(pad)
      .withColumn("pct", col("w") / lit(total) * 100.0)
      .groupBy(col("label")).agg(sum(col("pct")).as("pct"))
      .orderBy(col("label"))
  }
}

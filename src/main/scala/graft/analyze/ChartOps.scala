package graft.analyze

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The two reusable chart-data reductions (SURVEY §2.A17/A18), as driver
  * functions over the rows of a collected grain ([[Analyzers]]): a
  * per-key or per-label aggregate, bounded by a vocabulary (users,
  * operator types, table names, bin labels) at any corpus size. They run
  * no Spark job; only the bin labels are computed in Spark, inside the
  * grain that groups by them.
  *
  * Values arrive as exact sums (decimal or long) and are added exactly,
  * so the results do not depend on the order the grain's rows arrive in.
  * Orderings are Spark's: a double compares with NaN above every number
  * and -0.0 equal to 0.0, a string by its UTF-8 bytes, null first.
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
    * HALF_EVEN on the pre-scaled double).
    */
  private def npRound2(v: Double): Double =
    java.math.BigDecimal.valueOf(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_EVEN).doubleValue() / 100.0

  /** Spark's double ordering: NaN above every number, -0.0 equal to 0.0. */
  private def compare(a: Double, b: Double): Int = java.lang.Double.compare(a + 0.0, b + 0.0)

  /** Spark's string ordering (UTF-8 bytes), null first. */
  private[analyze] val keyOrder: Ordering[String] = Ordering.Option(
    Ordering.by[String, UTF8String](UTF8String.fromString)(Ordering.fromLessThan(_.compareTo(_) < 0))
  ).on(Option(_))

  private def add(a: java.math.BigDecimal, b: java.math.BigDecimal): java.math.BigDecimal =
    if (a == null) b else if (b == null) a else a.add(b)

  /** `pie_chart` (`analyze.py:460-515`) over (key, exact value) rows, a key
    * given more than once counting once with its values added. Each value
    * is shown as `value / divisor`. Ranked desc by value (ties by key,
    * matching Python's stable sort over the key-sorted groupby); keep the
    * first `top-1` entries with share > 0.1% of the total; roll the rest
    * into "All the rest"; percents rounded to 2dp (half-even, numpy
    * semantics) with the LAST row absorbing the rounding residual so
    * Σ == 100 (`analyze.py:474-476`).
    *
    * Output: (key, value, pct), kept rows first (desc), rest last. No rows
    * when the total is null or 0 (the reference's all-zero bail-out,
    * `if not sum_values: return`, `analyze.py:463-464`). A null key is a
    * key like any other: kept or not, it is never counted twice.
    */
  def pie(rows: Seq[(String, java.math.BigDecimal)], divisor: Double = 1.0,
      top: Int = 20): Seq[(String, Double, Double)] = {
    val byKey = rows.groupMapReduce(_._1)(_._2)(add).toSeq
    val total = byKey.flatMap(r => Option(r._2)).reduceOption(_ add _).filter(_.signum != 0)
    val sorted: Seq[(String, Double)] = total.toSeq.flatMap { t =>
      val totalV = t.doubleValue / divisor
      // value desc with nulls last, then key
      val kept = byKey.filter(_._2 != null).map { case (k, d) => (k, d.doubleValue / divisor) }
        .sortWith { case ((ka, va), (kb, vb)) =>
          val c = compare(va, vb)
          if (c != 0) c > 0 else keyOrder.lt(ka, kb)
        }.take(top - 1).filter(r => compare(r._2 * 100.0 / totalV, 0.1) > 0)
      val keptKeys = kept.map(_._1).toSet
      kept ++ byKey.filterNot(r => keptKeys(r._1)).map(_._2).reduceOption(add)
        .flatMap(Option(_)).map(rest => ("All the rest", rest.doubleValue / divisor))
    }
    val totalV = sorted.foldLeft(0.0)((acc, r) => acc + r._2)
    val pctRound = sorted.map(r => npRound2(r._2 * 100.0 / totalV))
    val sumRound = pctRound.foldLeft(0.0)(_ + _)
    // the LAST row in output order absorbs the rounding residual so
    // Σ == 100 exactly (analyze.py:474-476)
    sorted.zipWithIndex.map { case ((k, v), i) =>
      val pct = if (i == sorted.length - 1) pctRound(i) + (100.0 - sumRound) else pctRound(i)
      (k, v, pct)
    }
  }

  /** The `wall_by_selectivity_bins` bin label (`analyze.py:622-686`) of
    * selectivity `x`: `abs(round1(x - step/2))` (numpy round1 =
    * half-even), ALWAYS rounded to one decimal, even for the bins=100
    * variant (the reference quirk), printed with two decimals; "Above"
    * past `maxSelectivity` + 1e-9.
    */
  def binLabel(x: Column, bins: Int, maxSelectivity: Double): Column = {
    val bin = abs(npRound(x - lit(1.0 / bins / 2), 1))
    when(bin <= maxSelectivity + 1e-9, format_string("%.2f", bin)).otherwise(lit("Above"))
  }

  /** `wall_by_selectivity_bins` over (label, exact weight) rows, a label
    * given more than once counting once with its weights added: each
    * label's percent of the total weight. No rows when there is no point
    * (the reference bails out before padding, `analyze.py:633-634`).
    * Every `arange(0, max, step)` bin is padded in with its own 2-decimal
    * label, NOT re-binned, so the 100-bin variant pads labels 0.01..0.19
    * that real data can never hit. Output: (label, pct) sorted by label,
    * "Above" last ('A' sorts after every digit).
    *
    * One percent per label of the exact sums; the reference takes the
    * percent per point (`analyze.py:645`) and then sums per label, a
    * double sum that follows the order of the points.
    */
  def selectivityBins(rows: Seq[(String, java.math.BigDecimal)], bins: Int,
      maxSelectivity: Double): Seq[(String, Double)] =
    if (rows.isEmpty) Nil
    else {
      val total = rows.map(_._2).reduce(_ add _).doubleValue
      val step = 1.0 / bins
      val pad = (0 until math.ceil(maxSelectivity / step - 1e-9).toInt).map(i =>
        String.format(java.util.Locale.US, "%.2f", Double.box(i.toDouble * step)) ->
          java.math.BigDecimal.ZERO)
      (rows ++ pad).groupMapReduce(_._1)(_._2)(_ add _).toSeq.sortBy(_._1)(keyOrder)
        .map { case (label, w) => (label, w.doubleValue * 100.0 / total) }
    }
}

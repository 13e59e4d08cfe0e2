package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.analyze.ChartOps

/** A17 pie rollup + A18 selectivity binning edge cases (SURVEY §5.2). */
class ChartOpsSpec extends SparkSpec {

  private def pie(kv: Seq[(String, Double)]): Seq[(String, Double, Double)] =
    ChartOps.pie(kv.map { case (k, v) => (k, java.math.BigDecimal.valueOf(v)) })

  /** The bins of (sel, w) points, labelled in Spark as the grain does. */
  private def bins(pts: DataFrame, n: Int, max: Double): Map[String, Double] =
    ChartOps.selectivityBins(pts.groupBy(ChartOps.binLabel(col("sel"), n, max))
      .agg(sum(col("w").cast(DecimalType(38, 9)))).collect().toSeq
      .map(r => (r.getString(0), r.getDecimal(1))), n, max).toMap

  test("pie: top-19 kept, remainder rolls up, percents sum to exactly 100") {
    val out = pie((1 to 25).map(i => (s"k%02d".format(i), (100 - i).toDouble)))
    assert(out.length === 20)
    assert(out.last._1 === "All the rest")
    val restExpected = (20 to 25).map(100 - _).sum.toDouble
    assert(out.last._2 === restExpected)
    assert(math.abs(out.map(_._3).sum - 100.0) < 1e-9) // last-row residual
    // kept rows ordered by value desc
    val kept = out.dropRight(1).map(_._2)
    assert(kept === kept.sorted.reverse)
  }

  test("pie: all-zero and empty inputs give no rows") {
    // the reference's all-zero bail-out (analyze.py:463-464)
    assert(pie(Seq(("a", 0.0), ("b", 0.0))).isEmpty)
    assert(pie(Nil).isEmpty)
    assert(ChartOps.pie(Seq(("a", null))).isEmpty)
  }

  test("pie: sub-0.1% keys are excluded from the top even when few keys") {
    val out = pie(Seq(("big1", 5000.0), ("big2", 3000.0), ("big3", 2000.0),
      ("tiny", 1.0))) // tiny = 0.01% of total
    assert(out.map(_._1) === Seq("big1", "big2", "big3", "All the rest"))
    assert(out.last._2 === 1.0)
  }

  test("pie: no remainder when everything is kept") {
    val out = pie(Seq(("a", 60.0), ("b", 40.0)))
    assert(out.map(_._1) === Seq("a", "b"))
    assert(math.abs(out.map(_._3).sum - 100.0) < 1e-9)
  }

  test("pie: a key given twice counts once, a null key once, ties by key") {
    val out = ChartOps.pie(Seq(("b", 3L), (null, 3L), ("a", 1L), ("a", 2L), (null, 1L))
      .map { case (k, v) => (k, java.math.BigDecimal.valueOf(v)) }, divisor = 2.0)
    // null = 4, a = 3, b = 3: null first, then the a/b tie broken by key
    assert(out.map(r => (r._1, r._2)) === Seq((null, 2.0), ("a", 1.5), ("b", 1.5)))
  }

  test("pie invariants hold across randomized workloads") {
    for (seed <- Seq(1, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 5 + rnd.nextInt(40)
      val counts = (0 until n)
        .map(i => (f"k$i%03d", (rnd.nextInt(10000) + 1).toDouble))
      val out = pie(counts)
      val total = counts.map(_._2).sum
      // percents always sum to exactly 100 (modulo fp residual)
      assert(math.abs(out.map(_._3).sum - 100.0) < 1e-9, s"seed=$seed")
      // values are conserved: kept + rest == total
      assert(math.abs(out.map(_._2).sum - total) < 1e-6, s"seed=$seed")
      // at most top-1 kept rows before the optional rest row
      val kept = out.takeWhile(_._1 != "All the rest")
      assert(kept.length <= 19, s"seed=$seed")
      // kept rows descending by value
      val vs = kept.map(_._2)
      assert(vs === vs.sorted.reverse, s"seed=$seed")
    }
  }

  test("rounding is numpy half-even, not half-up (analyze.py:475, :640)") {
    import spark.implicits._
    // 0.3 - 0.05 is exactly 0.25 in doubles → numpy round1 = 0.2 (even);
    // the previous half-up formula binned it to 0.3
    val b = bins(Seq((0.3, 100.0)).toDF("sel", "w"), 10, 1.0)
    assert(b("0.20") === 100.0)
    assert(b("0.30") === 0.0)
    // pct 12.125 (dyadic, exact) → 12.12 under half-even, 12.13 under half-up
    val out = pie(Seq(("b", 800.0), ("a", 121.25), ("c", 78.75)))
    assert(out.find(_._1 == "a").get._3 === 12.12)
    assert(math.abs(out.map(_._3).sum - 100.0) < 1e-9)
  }

  test("bins: 1-decimal quirk, padding, and Above label (analyze.py:640-648)") {
    import spark.implicits._
    val out = bins(Seq((0.0, 10.0), (0.05, 10.0), (0.12, 20.0), (0.97, 40.0), (1.5, 20.0))
      .toDF("sel", "w"), 10, 1.0)
    // all 10 pad bins present plus Above
    assert(out.keySet === (0 to 9).map(i => "%.2f".format(i / 10.0)).toSet + "Above")
    assert(out("0.00") === 20.0) // 0.0 and 0.05 both bin to 0.0
    assert(out("0.10") === 20.0)
    assert(out("0.90") === 40.0) // 0.97-0.05=0.92 → 0.9
    assert(out("Above") === 20.0) // 1.5 → 1.5 > max
    assert(math.abs(out.values.sum - 100.0) < 1e-9)
  }

  test("bins: 100-bin variant still bins at 1 decimal but pads 2-decimal labels") {
    import spark.implicits._
    val out = bins(Seq((0.04, 50.0), (0.18, 50.0)).toDF("sel", "w"), 100, 0.2)
    // data can only land on 0.00/0.10/0.20: 0.04-0.005=0.035→0.0; 0.18-0.005→0.2
    assert(out("0.00") === 50.0)
    assert(out("0.20") === 50.0)
    // pad labels 0.01..0.19 exist with zero weight
    assert(out("0.07") === 0.0)
    assert(out.size === 21) // 0.00..0.19 pads + 0.20 from data
    // no point, no bins: the reference bails out before padding
    assert(ChartOps.selectivityBins(Nil, 100, 0.2).isEmpty)
  }
}

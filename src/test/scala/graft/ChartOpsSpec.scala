package graft

import org.apache.spark.sql.functions._
import graft.analyze.ChartOps

/** A17 pie rollup + A18 selectivity binning edge cases (SURVEY §5.2). */
class ChartOpsSpec extends SparkSpec {

  test("pie: top-19 kept, remainder rolls up, percents sum to exactly 100") {
    import spark.implicits._
    val counts = (1 to 25).map(i => (s"k%02d".format(i), (100 - i).toDouble)).toDF("k", "v")
    val out = ChartOps.pie(counts, "k", "v").collect()
    assert(out.length === 20)
    assert(out.last.getString(0) === "All the rest")
    val total = (1 to 25).map(100 - _).sum.toDouble
    val restExpected = (20 to 25).map(100 - _).sum.toDouble
    assert(out.last.getDouble(1) === restExpected)
    assert(math.abs(out.map(_.getDouble(2)).sum - 100.0) < 1e-9) // last-row residual
    // kept rows ordered by value desc
    val kept = out.dropRight(1).map(_.getDouble(1)).toSeq
    assert(kept === kept.sorted.reverse)
  }

  test("pie leaves no cached relation behind (unpersists after its collects)") {
    import spark.implicits._
    // an analyze run renders 9 pies; without the unpersist each pinned its
    // per-key aggregate for the session — assert the cache registry is
    // empty, not merely that some plan stopped using it. Every exit is
    // covered: the full path, the all-zero bail-out and an empty input.
    val counts = (1 to 25).map(i => (s"k%02d".format(i), (100 - i).toDouble)).toDF("k", "v")
    val zeros = Seq(("a", 0.0), ("b", 0.0)).toDF("k", "v")
    for ((what, df, rows) <- Seq(("full", counts, 20), ("all-zero", zeros, 0),
        ("empty", counts.limit(0), 0))) {
      spark.catalog.clearCache()
      assert(ChartOps.pie(df, "k", "v").collect().length === rows, what)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$what: pie left an InMemoryRelation registered after returning")
    }
  }

  test("pie: sub-0.1% keys are excluded from the top even when few keys") {
    import spark.implicits._
    val counts = Seq(("big1", 5000.0), ("big2", 3000.0), ("big3", 2000.0),
      ("tiny", 1.0)).toDF("k", "v") // tiny = 0.01% of total
    val out = ChartOps.pie(counts, "k", "v").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("big1", "big2", "big3", "All the rest"))
    assert(out.last.getDouble(1) === 1.0)
  }

  test("pie: no remainder when everything is kept") {
    import spark.implicits._
    val counts = Seq(("a", 60.0), ("b", 40.0)).toDF("k", "v")
    val out = ChartOps.pie(counts, "k", "v").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(math.abs(out.map(_.getDouble(2)).sum - 100.0) < 1e-9)
  }

  test("pie invariants hold across randomized workloads") {
    import spark.implicits._
    for (seed <- Seq(1, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 5 + rnd.nextInt(40)
      val counts = (0 until n)
        .map(i => (f"k$i%03d", (rnd.nextInt(10000) + 1).toDouble))
      val out = ChartOps.pie(counts.toDF("k", "v"), "k", "v").collect()
      val total = counts.map(_._2).sum
      // percents always sum to exactly 100 (modulo fp residual)
      assert(math.abs(out.map(_.getDouble(2)).sum - 100.0) < 1e-9, s"seed=$seed")
      // values are conserved: kept + rest == total
      assert(math.abs(out.map(_.getDouble(1)).sum - total) < 1e-6, s"seed=$seed")
      // at most top-1 kept rows before the optional rest row
      val kept = out.takeWhile(_.getString(0) != "All the rest")
      assert(kept.length <= 19, s"seed=$seed")
      // kept rows descending by value
      val vs = kept.map(_.getDouble(1)).toSeq
      assert(vs === vs.sorted.reverse, s"seed=$seed")
    }
  }

  test("rounding is numpy half-even, not half-up (analyze.py:475, :640)") {
    import spark.implicits._
    // 0.3 - 0.05 is exactly 0.25 in doubles → numpy round1 = 0.2 (even);
    // the previous half-up formula binned it to 0.3
    val pts = Seq((0.3, 100.0)).toDF("sel", "w")
    val bins = ChartOps.selectivityBins(pts, "sel", "w", 10, 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bins("0.20") === 100.0)
    assert(bins("0.30") === 0.0)
    // pct 12.125 (dyadic, exact) → 12.12 under half-even, 12.13 under half-up
    val counts = Seq(("b", 800.0), ("a", 121.25), ("c", 78.75)).toDF("k", "v")
    val out = ChartOps.pie(counts, "k", "v").collect()
    assert(out.find(_.getString(0) == "a").get.getDouble(2) === 12.12)
    assert(math.abs(out.map(_.getDouble(2)).sum - 100.0) < 1e-9)
  }

  test("bins: 1-decimal quirk, padding, and Above label (analyze.py:640-648)") {
    import spark.implicits._
    val pts = Seq((0.0, 10.0), (0.05, 10.0), (0.12, 20.0), (0.97, 40.0), (1.5, 20.0))
      .toDF("sel", "w")
    val out = ChartOps.selectivityBins(pts, "sel", "w", 10, 1.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
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
    val pts = Seq((0.04, 50.0), (0.18, 50.0)).toDF("sel", "w")
    val out = ChartOps.selectivityBins(pts, "sel", "w", 100, 0.2).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // data can only land on 0.00/0.10/0.20: 0.04-0.005=0.035→0.0; 0.18-0.005→0.2
    assert(out("0.00") === 50.0)
    assert(out("0.20") === 50.0)
    // pad labels 0.01..0.19 exist with zero weight
    assert(out("0.07") === 0.0)
    assert(out.size === 21) // 0.00..0.19 pads + 0.20 from data
  }
}

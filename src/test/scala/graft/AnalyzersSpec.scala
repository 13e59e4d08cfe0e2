package graft

import graft.analyze.Analyzers
import graft.ingest.{Extract, WorkloadViews}

/** B-analyzer semantics over the golden fixtures. */
class AnalyzersSpec extends SparkSpec {

  private lazy val views =
    WorkloadViews(Extract.extract(spark, resourcePath("queryinfo")).toDF())

  test("all 28 analyzers run and return deterministic, non-crashing frames") {
    val results = Analyzers.all(views).map { case (name, f) => name -> f().collect() }
    assert(results.size === 28)
    // FAILED summaries are excluded everywhere: q2 never contributes
    val scatter = Analyzers.all(views)("input_size_by_query")().collect()
    assert(scatter.map(_.getString(2)).toSeq ===
      Seq("20220101_123000_00001_abcde", "20220102_093000_00003_cdefg"))
  }

  test("operator_wall strips 'Operator' everywhere and sums walls") {
    val rows = Analyzers.all(views)("operator_wall")().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // TableScan sums across queries: q1 (12+6+2) + q3 node5 (1.2+0.6)
    assert(math.abs(rows("TableScan") - 21.8) < 1e-9)
    // q1 LookupJoin: 9+5+1 = 15
    assert(rows("LookupJoin") === 15.0)
    assert(!rows.keySet.exists(_.contains("Operator")))
  }

  test("wall_by_table_scan resolves the deepest table per scan op") {
    val rows = Analyzers.all(views)("wall_by_table_scan")().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("hive.web.logs") === 20.0)
    assert(math.abs(rows("iceberg.warehouse.m") - 12.3) < 1e-9) // q3 ScanFilter 8+4+0.3
    assert(math.abs(rows("memory.memory:42") - 1.8) < 1e-9) // q3 TableScan 1.2+0.6
  }

  test("joins_sides exposes build/probe sizes + distribution") {
    val rows = Analyzers.all(views)("joins_sides")().collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getString(2)))
    assert(rows.length === 3)
    // q1 hash join: build 5MB, probe 600MB, PARTITIONED
    assert(rows.contains((5 * 1048576.0, 600 * 1048576.0, "PARTITIONED")))
  }

  test("joins_selectivity takes max input side") {
    val rows = Analyzers.all(views)("joins_selectivity")().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // q1: max(800000, 4000)=800000 → output 120000
    assert(rows.contains((800000L, 120000L)))
  }

  test("metrics match hand-computed values (analyze.py:1177-1193)") {
    val m = Analyzers.metrics(views).collect()(0)
    assert(m.getAs[Long]("days") === 2)
    assert(m.getAs[Long]("queries") === 2)
    assert(m.getAs[Long]("users") === 1) // alice only (q2 FAILED dropped)
    assert(m.getAs[Double]("cpu_days") === (45.0 + 12.0) / 86400.0)
    assert(m.getAs[Long]("input_rows") === 1300000L)
  }

  test("selectivity bins see only input_rows>0 scan ops") {
    val b = Analyzers.all(views)("wall_by_selectivity_10")().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // q1 scan: sel 800000/900000=0.888→bin 0.8; q3 scanfilter: 2500/250000=0.01→0.0
    // q3 scan: 50000/50000=1.0→0.95→1.0 ≤ max → "1.00"... but pads stop at 0.90
    assert(math.abs(b.values.sum - 100.0) < 1e-9)
    assert(b("0.80") > 0.0)
  }
}

package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingIngest

/** Streaming ingest: same parser, continuous source, exactly-once sink. */
class StreamingIngestSpec extends SparkSpec {

  test("memory-stream of QueryInfo docs parses to summaries incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq("q1.json", "q2.json", "q4.json").map { f =>
      scala.io.Source.fromFile(resourcePath(s"queryinfo/$f")).mkString
    }
    val stream = MemoryStream[String]
    val q = StreamingIngest.parseStream(stream.toDS())
      .writeStream.format("memory").queryName("summaries_test")
      .outputMode("append").start()
    try {
      stream.addData(docs.head)
      q.processAllAvailable()
      assert(spark.table("summaries_test").count() === 1)
      stream.addData(docs(1), docs(2)) // q4 is varada-internal → dropped
      q.processAllAvailable()
      val rows = spark.table("summaries_test").select("query_id", "state").collect()
      assert(rows.length === 2)
      assert(rows.map(_.getString(1)).sorted.toSeq === Seq("FAILED", "FINISHED"))
    } finally q.stop()
  }

  test("file-source stream ingests a directory exactly once") {
    val tmpIn = java.nio.file.Files.createTempDirectory("graft-stream-in")
    val tmpOut = java.nio.file.Files.createTempDirectory("graft-stream-out")
    Seq("q1.json", "q3.json").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(resourcePath(s"queryinfo/$f")),
        tmpIn.resolve(f))
    }
    val ds = StreamingIngest.summaries(spark, tmpIn.toString)
    val q = StreamingIngest.writer(ds, s"$tmpOut/data", s"$tmpOut/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$tmpOut/data")
    assert(out.count() === 2)
    assert(out.select("query_id").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("20220101_123000_00001_abcde", "20220102_093000_00003_cdefg"))
  }

  test("B1-B6 streaming trend twins equal the batch analyzers on the same landed data") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.analyze.Analyzers
    import graft.ingest.WorkloadViews
    import graft.queries.AnalyzerGates
    // land the committed workload-gate docs — the SAME data the judged
    // batch analyzer gates read (as the extracted parquet fixture,
    // GateFixtureSpec pins the two representations together)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft-trend-twin-in")
    val srcDir = java.nio.file.Paths.get(resourcePath("workload_gate"))
    java.nio.file.Files.list(srcDir).forEach { p =>
      if (p.getFileName.toString.endsWith(".json"))
        java.nio.file.Files.copy(p, tmpIn.resolve(p.getFileName.toString))
    }
    for (bucket <- Seq("day", "hour")) {
      val q = StreamingIngest
        .trendByBucket(StreamingIngest.summaries(spark, tmpIn.toString), bucket)
        .writeStream.format("memory").queryName(s"trend_twin_$bucket")
        .outputMode("complete")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"trend_twin_$bucket did not finish")
    }
    val v = WorkloadViews(spark.read.parquet(AnalyzerGates.fixtureDir))
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    def twin(bucket: String, measure: String): DataFrame =
      spark.table(s"trend_twin_$bucket")
        .select(col(bucket), col(measure)).orderBy(col(bucket))
    // six exact twins: same bucket timestamps, same measure values
    assert(rows(twin("day", "scheduled_days")) === rows(Analyzers.all(v)("scheduled_by_date")()))
    assert(rows(twin("hour", "scheduled_hours")) === rows(Analyzers.all(v)("scheduled_by_hour")()))
    assert(rows(twin("day", "input_tb")) === rows(Analyzers.all(v)("input_by_date")()))
    assert(rows(twin("hour", "input_tb")) === rows(Analyzers.all(v)("input_by_hour")()))
    assert(rows(twin("day", "n_queries")) === rows(Analyzers.all(v)("queries_by_date")()))
    assert(rows(twin("hour", "n_queries")) === rows(Analyzers.all(v)("queries_by_hour")()))
    // and the data was non-trivial: multiple buckets on both grains
    assert(spark.table("trend_twin_hour").count() >= 2)
  }

  test("hourly trend aggregates event time from query ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[String]
    val trend = StreamingIngest.trendByBucket(
      StreamingIngest.parseStream(stream.toDS()), "hour")
    val q = trend.writeStream.format("memory").queryName("trend_test")
      .outputMode("complete").start()
    try {
      Seq("q1.json", "q3.json").foreach { f =>
        stream.addData(scala.io.Source.fromFile(resourcePath(s"queryinfo/$f")).mkString)
      }
      q.processAllAvailable()
      val rows = spark.table("trend_test").collect()
      // both queries are FINISHED; 12:30 and 09:30 land in different hours
      assert(rows.length === 2)
      assert(rows.map(_.getAs[Long]("n_queries")).sum === 2)
    } finally q.stop()
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.ingest.QueryInfoParser
import graft.model.QuerySummary

/** Structured Streaming variant of the ingest stage (SURVEY §2.C
  * "Streaming"): the reference's `collect.py --loop` polls a REST API and
  * drops one JSON file per finished query; pointing a file-source stream at
  * that directory turns the whole pipeline into continuous ingest with
  * exactly-once parquet output — no analyzer changes needed, because the
  * analyzers are recomputable batch aggregations over the growing summary
  * table.
  */
object StreamingIngest {

  /** Continuous QueryInfo JSON → summary parse. Same parser as batch; one
    * file per query (wholetext), so each micro-batch maps files → rows.
    */
  def summaries(spark: SparkSession, inputDir: String): Dataset[QuerySummary] = {
    import spark.implicits._
    spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.json*")
      .option("maxFilesPerTrigger", 1000)
      .text(inputDir)
      .as[String]
      .flatMap(QueryInfoParser.parse _)
  }

  /** Parse an already-streaming Dataset of raw JSON documents (used by
    * tests via MemoryStream, and by any socket/Kafka-shaped source).
    */
  def parseStream(raw: Dataset[String]): Dataset[QuerySummary] = {
    import raw.sparkSession.implicits._
    raw.flatMap(QueryInfoParser.parse _)
  }

  /** Exactly-once parquet sink for the summary stream. */
  def writer(ds: Dataset[QuerySummary], outPath: String, checkpoint: String): DataStreamWriter[QuerySummary] =
    ds.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .outputMode("append")

  /** B1–B6 as ONE continuous windowed aggregation per time bucket
    * (`"day"` | `"hour"`) — the streaming twin of the batch trend
    * analyzers (SURVEY §2.B; the reference's `collect --loop` continuous
    * posture, `collect.py:151-166`). Same FAILED filter and
    * query-id-derived event time as [[graft.ingest.WorkloadViews]]`.base`;
    * the grouping is an epoch-aligned tumbling event-time window whose
    * `start` equals `date_trunc(bucket, ts)` in a UTC session, and the
    * measure expressions are written EXACTLY as the batch analyzers write
    * them (divide-then-sum), so each measure column projects to the
    * corresponding batch result: scheduled_days/scheduled_hours (B1/B2),
    * input_tb (B3/B4), n_queries (B5/B6). StreamingIngestSpec proves the
    * equality on the committed workload fixture.
    *
    * Scale: all three measures ride one aggregation; state is one row per
    * bucket — bounded by the covered time span, never by row count. Run
    * Complete into a memory/KV dashboard sink (watermark unused), or
    * Append with the 2 h watermark for sealed-bucket emission. One
    * divergence from batch by construction: a malformed query_id (null
    * event time) is dropped by the window, where the batch analyzer
    * surfaces a null bucket.
    */
  def trendByBucket(summaries: Dataset[QuerySummary], bucket: String): DataFrame = {
    require(bucket == "day" || bucket == "hour", s"unsupported bucket: $bucket")
    summaries.toDF()
      .filter(col("state") =!= "FAILED")
      .withColumn("ts", to_timestamp(substring(col("query_id"), 1, 15), "yyyyMMdd_HHmmss"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), if (bucket == "day") "1 day" else "1 hour").as("w"))
      .agg(
        sum(col("scheduled_time") / 86400.0).as("scheduled_days"),
        sum(col("scheduled_time") / 3600.0).as("scheduled_hours"),
        sum(col("input_size") / 1e12).as("input_tb"),
        count(lit(1)).as("n_queries"))
      .select(col("w.start").as(bucket), col("scheduled_days"),
        col("scheduled_hours"), col("input_tb"), col("n_queries"))
  }
}

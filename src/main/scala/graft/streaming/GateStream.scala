package graft.streaming

import org.apache.spark.sql.SparkSession

/** Housekeeping for the bounded streaming gates (dedup_stream_near,
  * analyzer_trend_stream). Each invocation registers a fresh
  * counter-suffixed memory-sink view (the returned DataFrame reads it, so
  * the CURRENT sink must outlive the gate call) and a scratch checkpoint
  * dir. Without cleanup a bench session (warmup + cold + warm per gate)
  * accumulates every drained sink's rows in driver memory and leaves
  * scratch dirs under /tmp across runs.
  */
object GateStream {

  /** Drop the PREVIOUS invocations' sink views for `prefix` — called
    * before registering the next one, so at most one sink per gate is
    * ever live and its rows become collectable once replaced.
    */
  def dropStaleSinks(spark: SparkSession, prefix: String): Unit =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith(prefix))
      .foreach(t => spark.catalog.dropTempView(t.name))

  /** Default state-store shard count for the bounded streaming gates,
    * overridable via SPARK_GRAFT_STREAM_SHUFFLE. A stateful streaming
    * query fixes its state partition count to `spark.sql.shuffle.partitions`
    * at first-batch planning; at the session default (one per core) every
    * micro-batch schedules that many state-store open/commit tasks per
    * stateful stage even when the whole gate's data fits a handful of
    * partitions — pure scheduling + delta-file overhead that amplifies
    * foreign machine load 3-14× (round-10 judged runs). Eight shards keep
    * the gates' tiny state parallel enough locally while cutting the
    * per-batch constant ~4×; a real deployment sizes the session conf to
    * its cluster and this helper follows it downward only (never exceeds
    * the session setting).
    */
  /** The SPARK_GRAFT_STREAM_SHUFFLE override, validated BEFORE any
    * streaming work like every positive-int knob ([[graft.Sessions.positiveInt]]).
    */
  private[graft] def parseStreamShuffleCap(v: Option[String]): Int =
    graft.Sessions.positiveInt("SPARK_GRAFT_STREAM_SHUFFLE", v).getOrElse(8)

  def streamShufflePartitions(spark: SparkSession): Int =
    math.min(parseStreamShuffleCap(sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE")),
      spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Run `body` (construct + drain one bounded streaming query) with
    * `spark.sql.shuffle.partitions` temporarily lowered to the streaming
    * shard count, restoring the session value after. Only the streaming
    * query's state partitioning is affected — the judged DataFrame each
    * gate returns reads the drained memory sink (a LocalRelation), so
    * gate plan fingerprints are untouched.
    */
  def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      streamShufflePartitions(spark).toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prior)
  }

  /** SPARK_GRAFT_STREAM_DEBUG=1: after a bounded gate drains, dump one
    * stderr line per micro-batch (id, input rows, duration breakdown) —
    * the cheapest way to see where a streaming gate's wall time actually
    * goes (data batch vs no-data timer batches vs state commit).
    */
  def debugProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("1"))
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        // note: state-store commit time is INSIDE addBatch;
        // commitOffsets is only the offset-WAL write
        System.err.println(s"[stream ${q.name}] batch=${p.batchId} " +
          s"rows=${p.numInputRows} total=${d.getOrDefault("triggerExecution", -1L)}ms " +
          s"addBatch=${d.getOrDefault("addBatch", -1L)}ms " +
          s"commitOffsets=${d.getOrDefault("commitOffsets", -1L)}ms " +
          s"getBatch=${d.getOrDefault("getBatch", -1L)}ms " +
          s"planning=${d.getOrDefault("queryPlanning", -1L)}ms")
      }

  /** Delete a FINISHED query's scratch checkpoint directory (AvailableNow
    * has drained; the memory sink, not the checkpoint, backs the judged
    * result). Best-effort: a cleanup failure must never fail a gate.
    */
  def deleteScratch(dir: String): Unit =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try
          walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    } catch { case _: Exception => () }
}

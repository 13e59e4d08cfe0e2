package graft

import graft.ml.Multimodal

/** One-shot generator for the per-frame stats sheet of the committed
  * MJPEG fixture (`src/test/resources/mjpeg_gate/expected_frames.parquet`):
  * reads the COMMITTED payloads (never re-encodes them — the bytes are the
  * contract), runs the real per-frame decode (Multimodal.mjpegFrameStats),
  * and commits the outputs the scene-cut oracle replays. MjpegGateSpec
  * keeps the sheet honest against expected.parquet (per-frame sums must
  * add up to the committed totals).
  *
  * Run: `sbt "Test/runMain graft.MjpegFrameFixtureGen"` — regeneration is
  * only needed if the committed payloads change.
  */
object MjpegFrameFixtureGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    import spark.implicits._
    val dir = "/root/repo/src/test/resources/mjpeg_gate"
    val rows = spark.read.parquet(s"$dir/payloads.parquet")
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .collect()
      .flatMap { case (id, bytes) =>
        val (w, h, frames) = Multimodal.mjpegFrameStats(bytes)
          .getOrElse(sys.error(s"committed AVI $id failed to decode"))
        frames.map { case (f, r, g, b) => (id, w, h, f.toLong, r, g, b) }
      }
    rows.toSeq
      .toDF("media_id", "width", "height", "frame", "r_sum", "g_sum", "b_sum")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/expected_frames.parquet")
    println(s"wrote ${rows.length} frame rows")
    spark.stop()
  }
}

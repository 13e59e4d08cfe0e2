package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic (not library surface): write each gate's
  * `explain("formatted")` text to `<outDir>/<gate>_<suffix>.txt`, for the
  * optimization rounds' committed before/after plan evidence
  * (`plans/rNN/`). Bench's session recipe ([[Sessions]]), so the dumped
  * plan is the judged plan shape.
  *
  * Usage: `runMain graft.ExplainDump <outDir> <suffix> [gates-csv] [sfDir]`
  * — gates defaults to the full registry, sfDir to /root/testdata/sf0.1.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val gates = SparkEntry.select(if (args.length > 2 && args(2) != "all") args(2) else "")
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Sessions.local("graft-explain")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    gates.foreach { g =>
      val txt =
        try SparkEntry.queries(g)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"<explain failed: ${e.getMessage}>" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${g}_$suffix.txt"), txt)
      // eager checkpoints built during construction (nib chain etc.) are
      // per-gate scratch: drop cached relations so a 181-gate dump run
      // doesn't accumulate heap
      spark.catalog.clearCache()
    }
    System.err.println(s"[explain-dump] wrote ${gates.size} plans to $outDir")
    spark.stop()
  }
}

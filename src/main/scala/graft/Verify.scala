package graft
import java.nio.file.{Files, Paths}
import graft.tables.Tables
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter (unset or blank for driver runs → all gates).
    val selected = SparkEntry.select(sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", ""))
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    selected.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // filtered runs dump a filtered oracle map too, so compare.py's
    // oracle↔result parity sweep holds exactly on ANY dump
    val oracles = SparkEntry.oracleSql
    val json = selected.filter(oracles.contains)
      .map(k => s"${Tables.jsonString(k)}: ${Tables.jsonString(oracles(k))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Input-schema echo (round 11, same rationale as Bench's): see
    // Tables.inputSchemaJson.
    Files.writeString(Paths.get(s"$outDir/input_schema.json"),
      Tables.inputSchemaJson(spark, sfDir))
    spark.stop()
  }
}

package graft

import graft.ingest.QueryInfoCorpus

/** One-shot generator for the committed ingest-census expected sheet
  * (`src/test/resources/ingest_census_gate/expected.parquet`): the
  * per-node-type census of the 10k-document synthetic QueryInfo corpus,
  * computed from [[QueryInfoCorpus.expectedCensus]] — the GENERATOR's
  * own tree bookkeeping, never the parser — so the judged
  * `ingest_flatten_census` gate is a real differential test
  * (JSON-walk + flatten vs emission bookkeeping).
  *
  * Run: `sbt "Test/runMain graft.IngestCensusFixtureGen"` — regenerate
  * only when QueryInfoCorpus.Version bumps (document shapes changed).
  */
object IngestCensusFixtureGen {
  def main(args: Array[String]): Unit = {
    val out = "src/test/resources/ingest_census_gate"
    val spark = SparkSpec.session
    import spark.implicits._
    val rows = QueryInfoCorpus.expectedCensus()
      .map(r => (r.nodeType, r.nNodes, r.nQueries, r.checksum, r.tableCrcSum))
    require(rows.nonEmpty, "expected census came back empty")
    rows.toDF("node_type", "n_nodes", "n_queries", "checksum", "table_crc_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/expected.parquet")
    val dir = java.nio.file.Paths.get(out, "expected.parquet")
    val part = java.nio.file.Files.list(dir)
      .filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().orElseThrow()
    java.nio.file.Files.move(part, dir.resolve("part-00000-merged.snappy.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.list(dir)
      .filter(_.getFileName.toString.startsWith("."))
      .forEach(p => java.nio.file.Files.delete(p))
    println(s"wrote ${rows.size} census rows to $out")
    spark.stop()
  }
}

package graft

import graft.ml.TextOps

/** One-shot generator for the committed 32k-BPE per-word encode sheet
  * (`src/test/resources/bpe32k_gate/expected.parquet`) — the
  * fixture-oracle the `text_tokenize_bpe_32k` gate reads. The trie
  * gate's recursive-CTE oracle replays 1,024 table-order steps over the
  * vocabulary; at 32,768 steps that CTE is infeasible, so the oracle is
  * a committed per-word encode sheet instead (the JPEG fixture pattern),
  * and TextOpsBpeSpec keeps it honest: every sheet row must equal BOTH
  * the product rank-scan ([[TextOps.bpeApply]]) and the independent
  * table-order replace chain.
  *
  * The sheet covers the UNION of the documents lexicons at every driver
  * scale factor, so the gate judges identically at sf0.01 (Verify) and
  * sf0.1 (bench). Regenerate when the merge table or the testdata
  * lexicon changes: `sbt "Test/runMain graft.Bpe32kSheetFixtureGen"`.
  */
object Bpe32kSheetFixtureGen {
  def main(args: Array[String]): Unit = {
    val out = "src/test/resources/bpe32k_gate"
    val spark = SparkSpec.session
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vocab = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= ""))
      .reduce(_ unionAll _)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(vocab.nonEmpty, "empty documents lexicon")
    val ranks = TextOps.BpeMerges32k.iterator.zipWithIndex
      .map { case (p, i) => (p, i) }.toMap
    val rows = vocab.map { w =>
      val toks = TextOps.bpeApply(w, ranks)
      (w, toks.length.toLong, toks.mkString(" "))
    }
    rows.toDF("word", "n_tokens", "toks")
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
    println(s"wrote ${rows.size}-word encode sheet to $out")
    spark.stop()
  }
}

package graft

import graft.ml.Multimodal

/** One-shot generator for the committed JPEG gate fixture
  * (`src/test/resources/jpeg_gate/{payloads,expected}.parquet`) — the
  * AnalyzerGates fixture-oracle pattern applied to a LOSSY codec: the
  * DCT round-trip is not analytically replayable in SQL, so the gate's
  * oracle reads expected stats committed alongside the payloads, and
  * JpegGateSpec keeps the pair honest (decoded-vs-committed exact, plus
  * a decoded-vs-SOURCE closeness bound that a fake decoder can't meet).
  *
  * Run: `sbt "Test/runMain graft.JpegGateFixtureGen"` — regenerating is
  * only needed if the image formulas change; the committed bytes are
  * the contract, byte-stable regardless of the encoding JRE thereafter.
  *
  * Images are smooth per-axis gradients (JPEG's best case, so decode
  * error stays far below the spec's closeness bound) with id-dependent
  * slopes and channel rotation; geometry deliberately includes
  * non-multiples of the 8×8 DCT block in both axes.
  */
object JpegGateFixtureGen {

  val NImages = 20

  def geometry(id: Long): (Int, Int) =
    (24 + 8 * (id % 4).toInt + (id % 3).toInt, 16 + 8 * (id % 3).toInt + (id % 5).toInt)

  /** Source pixel channels before encoding: monotone gradients, slope set
    * by id, channels rotated by id mod 3 — every value in [0, 255] with
    * no wraparound edges.
    */
  def sourceRgb(id: Long, w: Int, h: Int, x: Int, y: Int): (Int, Int, Int) = {
    val sx = 200 + (id % 56).toInt
    val sy = 170 + (id % 86).toInt
    val sd = 140 + (id % 116).toInt
    val a = x * sx / math.max(1, w - 1)
    val b = y * sy / math.max(1, h - 1)
    val c = (x + y) * sd / math.max(1, w + h - 2)
    ((id % 3).toInt: @unchecked) match {
      case 0 => (a, b, c)
      case 1 => (c, a, b)
      case 2 => (b, c, a)
    }
  }

  def encodeJpeg(id: Long): Array[Byte] = {
    val (w, h) = geometry(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = sourceRgb(id, w, h, x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", baos), "no JPEG writer in this JRE")
    baos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val out = "src/test/resources/jpeg_gate"
    val spark = SparkSpec.session
    import spark.implicits._
    val rows = (1L to NImages).map { id =>
      val bytes = encodeJpeg(id)
      val j = Multimodal.decodeJpeg(bytes).getOrElse(
        sys.error(s"generated JPEG $id failed to decode"))
      // sanity at build time: decoded sums track the source within 2%
      val (w, h) = geometry(id)
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = sourceRgb(id, w, h, x, y)
        sr += r; sg += g; sb += b
      }
      for ((dec, src, c) <- Seq((j.rSum, sr, "r"), (j.gSum, sg, "g"), (j.bSum, sb, "b")))
        require(math.abs(dec - src) <= math.max(200L, src / 50),
          s"id=$id channel $c: decoded $dec too far from source $src")
      (id, bytes, bytes.length.toLong, j.width, j.height, j.rSum, j.gSum, j.bSum)
    }
    rows.map(r => (r._1, r._2)).toDF("media_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/payloads.parquet")
    rows.map(r => (r._1, r._3, r._4, r._5, r._6, r._7, r._8))
      .toDF("media_id", "n_bytes", "width", "height", "r_sum", "g_sum", "b_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/expected.parquet")
    // stable part-file name (workload_gate_parquet convention), so
    // regeneration never churns git with fresh UUID names
    for (d <- Seq("payloads.parquet", "expected.parquet")) {
      val dir = java.nio.file.Paths.get(out, d)
      val part = java.nio.file.Files.list(dir)
        .filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow()
      java.nio.file.Files.move(part, dir.resolve("part-00000-merged.snappy.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // Hadoop LocalFS checksum sidecars reference the pre-rename names;
      // they are never committed
      java.nio.file.Files.list(dir)
        .filter(_.getFileName.toString.startsWith("."))
        .forEach(p => java.nio.file.Files.delete(p))
    }
    println(s"wrote $NImages payloads + expected stats to $out")
    spark.stop()
  }
}

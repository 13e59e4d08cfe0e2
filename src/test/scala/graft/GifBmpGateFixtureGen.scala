package graft

import graft.ml.Multimodal

/** One-shot generator for the committed GIF and BMP gate fixtures
  * (`src/test/resources/{gif_gate,bmp_gate}/{payloads,expected}.parquet`)
  * — the JpegGateFixtureGen pattern applied to the palette (GIF) and
  * lossless-truecolor (BMP) formats. Unlike JPEG, BOTH encodes here are
  * exact: every GIF frame draws from an explicit ≤64-color palette
  * (TYPE_BYTE_INDEXED, so the writer stores the palette verbatim — no
  * quantization) and BMP is uncompressed 24-bit, so the decoded channel
  * sums must equal the SOURCE pixel sums exactly; the fixture build
  * requires that and GifBmpGateSpec re-pins it (the bound no fake
  * decoder can meet).
  *
  * Run: `sbt "Test/runMain graft.GifBmpGateFixtureGen"` — regeneration
  * is only needed if the pixel formulas change; the committed bytes are
  * the contract thereafter.
  *
  * GIFs are ANIMATED (2-5 full frames, the image-format twin of the
  * MJPEG fixture's multi-frame contract); geometry deliberately avoids
  * square/round sizes in both axes.
  */
object GifBmpGateFixtureGen {

  val NImages = 12

  def geometry(id: Long): (Int, Int) =
    (21 + 7 * (id % 4).toInt + (id % 3).toInt, 13 + 5 * (id % 3).toInt + (id % 5).toInt)

  def nFrames(id: Long): Int = 2 + (id % 4).toInt

  /** The ≤64-color palette for image `id`: channel ramps offset by id so
    * every image (and channel) has distinct sums.
    */
  def palette(id: Long): Array[(Int, Int, Int)] =
    Array.tabulate(64) { c =>
      (((c * 4 + id * 11) % 256).toInt,
        ((c * 3 + id * 29 + 64) % 256).toInt,
        ((c * 5 + id * 47 + 128) % 256).toInt)
    }

  /** Palette index of pixel (x, y) in frame f — varies per frame so the
    * per-frame sums differ (a decoder that reads only frame 0 fails).
    */
  def pixelIndex(id: Long, x: Int, y: Int, f: Int): Int =
    ((x * 3 + y * 5 + f * 7 + id).toInt % 64 + 64) % 64

  /** Source channel sums over all frames — what a correct lossless
    * decode must reproduce EXACTLY.
    */
  def sourceSums(id: Long, frames: Int): (Long, Long, Long) = {
    val (w, h) = geometry(id)
    val pal = palette(id)
    var (sr, sg, sb) = (0L, 0L, 0L)
    for (f <- 0 until frames; y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pal(pixelIndex(id, x, y, f))
      sr += r; sg += g; sb += b
    }
    (sr, sg, sb)
  }

  def indexedFrame(id: Long, f: Int): java.awt.image.BufferedImage = {
    val (w, h) = geometry(id)
    val pal = palette(id)
    val icm = new java.awt.image.IndexColorModel(8, 64,
      pal.map(_._1.toByte), pal.map(_._2.toByte), pal.map(_._3.toByte))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0, pixelIndex(id, x, y, f))
    img
  }

  def encodeGif(id: Long): Array[Byte] =
    writeGif((0 until nFrames(id)).map(indexedFrame(id, _)))

  /** An animated GIF holding `frames` in order, each at its own size. */
  def writeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (img <- frames)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  def encodeBmp(id: Long): Array[Byte] = {
    val (w, h) = geometry(id)
    val pal = palette(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = pal(pixelIndex(id, x, y, 0))
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "bmp", baos), "no BMP writer in this JRE")
    baos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.session
    import spark.implicits._

    def finalize1(out: String, dirs: Seq[String]): Unit =
      for (d <- dirs) {
        val dir = java.nio.file.Paths.get(out, d)
        val part = java.nio.file.Files.list(dir)
          .filter(_.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow()
        java.nio.file.Files.move(part, dir.resolve("part-00000-merged.snappy.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.list(dir)
          .filter(_.getFileName.toString.startsWith("."))
          .forEach(p => java.nio.file.Files.delete(p))
      }

    // ---- GIF ----
    val gifRows = (1L to NImages).map { id =>
      val bytes = encodeGif(id)
      val g = Multimodal.decodeGif(bytes).getOrElse(
        sys.error(s"generated GIF $id failed to decode"))
      val (w, h) = geometry(id)
      val (sr, sg, sb) = sourceSums(id, nFrames(id))
      // palette encode is LOSSLESS: decoded sums must equal source sums
      require(g.width == w && g.height == h && g.nFrames == nFrames(id),
        s"id=$id geometry/frames drifted: $g")
      require(g.rSum == sr && g.gSum == sg && g.bSum == sb,
        s"id=$id decoded sums (${g.rSum},${g.gSum},${g.bSum}) != source ($sr,$sg,$sb)")
      (id, bytes, bytes.length.toLong, g.width, g.height, g.nFrames,
        g.rSum, g.gSum, g.bSum)
    }
    val gifOut = "src/test/resources/gif_gate"
    gifRows.map(r => (r._1, r._2)).toDF("media_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$gifOut/payloads.parquet")
    gifRows.map(r => (r._1, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
      .toDF("media_id", "n_bytes", "width", "height", "n_frames",
        "r_sum", "g_sum", "b_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$gifOut/expected.parquet")
    finalize1(gifOut, Seq("payloads.parquet", "expected.parquet"))

    // ---- BMP ----
    val bmpRows = (1L to NImages).map { id =>
      val bytes = encodeBmp(id)
      val b = Multimodal.decodeBmp(bytes).getOrElse(
        sys.error(s"generated BMP $id failed to decode"))
      val (w, h) = geometry(id)
      val (sr, sg, sb) = sourceSums(id, 1)
      require(b.width == w && b.height == h, s"id=$id geometry drifted: $b")
      require(b.rSum == sr && b.gSum == sg && b.bSum == sb,
        s"id=$id decoded sums (${b.rSum},${b.gSum},${b.bSum}) != source ($sr,$sg,$sb)")
      (id, bytes, bytes.length.toLong, b.width, b.height, b.rSum, b.gSum, b.bSum)
    }
    val bmpOut = "src/test/resources/bmp_gate"
    bmpRows.map(r => (r._1, r._2)).toDF("media_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$bmpOut/payloads.parquet")
    bmpRows.map(r => (r._1, r._3, r._4, r._5, r._6, r._7, r._8))
      .toDF("media_id", "n_bytes", "width", "height", "r_sum", "g_sum", "b_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$bmpOut/expected.parquet")
    finalize1(bmpOut, Seq("payloads.parquet", "expected.parquet"))

    println(s"wrote $NImages GIF + $NImages BMP payloads + expected stats")
    spark.stop()
  }
}

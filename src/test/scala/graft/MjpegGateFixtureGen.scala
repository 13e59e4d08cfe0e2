package graft

import graft.ml.Multimodal

/** One-shot generator for the committed MJPEG-in-AVI gate fixture
  * (`src/test/resources/mjpeg_gate/{payloads,expected}.parquet`) — the
  * JpegGateFixtureGen pattern applied to the VIDEO codec: each payload is
  * a well-formed AVI (RIFF) container holding `nFrames(id)` baseline-JPEG
  * frames, every frame a smooth per-axis gradient so the per-frame decode
  * error stays far below MjpegGateSpec's closeness bound. The DCT
  * round-trip is lossy, so the oracle reads expected stats committed
  * alongside the payloads; MjpegGateSpec keeps the pair honest.
  *
  * Run: `sbt "Test/runMain graft.MjpegGateFixtureGen"` — regeneration is
  * only needed if the formulas (or the encoding JRE) change; the
  * committed bytes are the contract thereafter.
  */
object MjpegGateFixtureGen {

  val NVideos = 12

  /** Same geometry family as the JPEG fixture: off the 8×8 DCT grid in
    * both axes. All frames of one video share its geometry (the AVI
    * header declares one).
    */
  def geometry(id: Long): (Int, Int) = JpegGateFixtureGen.geometry(id)

  def nFrames(id: Long): Int = 3 + (id % 4).toInt

  def usPerFrame(id: Long): Long = 20000L + (id % 5) * 10000L // 10–50 fps

  /** Frame f of video id reuses the JPEG fixture's gradient formula under
    * a derived id, so consecutive frames differ (slopes and channel
    * rotation change) while staying smooth.
    */
  def frameSourceRgb(id: Long, f: Int, w: Int, h: Int, x: Int, y: Int): (Int, Int, Int) =
    JpegGateFixtureGen.sourceRgb(id * 31 + f + 7, w, h, x, y)

  private def encodeFrame(id: Long, f: Int): Array[Byte] = {
    val (w, h) = geometry(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = frameSourceRgb(id, f, w, h, x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", baos), "no JPEG writer in this JRE")
    baos.toByteArray
  }

  // ---- RIFF assembly (sizes computed from content, never by hand) ----

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4); s.getBytes("US-ASCII")
  }

  private def chunk(id: String, body: Array[Byte]): Array[Byte] =
    fourcc(id) ++ le32(body.length.toLong) ++ body ++
      (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)

  private def list(typ: String, content: Array[Byte]): Array[Byte] =
    chunk("LIST", fourcc(typ) ++ content)

  /** A well-formed minimal AVI: hdrl(avih + strl(strh+strf)) + movi with
    * one `00dc` chunk per JPEG frame (odd-sized frames get the RIFF pad,
    * which the decoder's walk must skip correctly). `extraStreamChunks`
    * lands additional `01dc` chunks in movi (a second stream's data) —
    * the committed fixture never uses it; MjpegGateSpec does, to pin
    * that only the validated video stream's frames are decoded and
    * counted against dwTotalFrames.
    */
  def buildAvi(id: Long, frames: Seq[Array[Byte]],
      extraStreamChunks: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val (w, h) = geometry(id)
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(usPerFrame(id).toInt) // dwMicroSecPerFrame
      .putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
      .putInt(frames.size) // dwTotalFrames
      .putInt(0).putInt(1).putInt(0) // initialFrames, streams, suggBuf
      .putInt(w).putInt(h)
      .putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      .array()
    val strh = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(fourcc("vids")).put(fourcc("MJPG"))
      .putInt(0) // flags
      .putShort(0).putShort(0) // priority, language
      .putInt(0) // initial frames
      .putInt(1).putInt(1000000 / usPerFrame(id).toInt) // scale, rate
      .putInt(0) // start
      .putInt(frames.size) // length (in frames)
      .putInt(0).putInt(0).putInt(0) // suggBuf, quality, sampleSize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
      .array()
    val strf = java.nio.ByteBuffer.allocate(40)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24) // planes, bitcount
      .put(fourcc("MJPG"))
      .putInt(w * h * 3) // biSizeImage
      .putInt(0).putInt(0).putInt(0).putInt(0)
      .array()
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", (frames.flatMap(f => chunk("00dc", f)) ++
      extraStreamChunks.flatMap(c => chunk("01dc", c))).toArray)
    val content = fourcc("AVI ") ++ hdrl ++ movi
    fourcc("RIFF") ++ le32(content.length.toLong) ++ content
  }

  def main(args: Array[String]): Unit = {
    val out = "src/test/resources/mjpeg_gate"
    val spark = SparkSpec.session
    import spark.implicits._
    val rows = (1L to NVideos).map { id =>
      val (w, h) = geometry(id)
      val n = nFrames(id)
      val bytes = buildAvi(id, (0 until n).map(f => encodeFrame(id, f)))
      val v = Multimodal.decodeMjpegAvi(bytes).getOrElse(
        sys.error(s"generated AVI $id failed to decode"))
      require(v.width == w && v.height == h && v.nFrames == n,
        s"id=$id: decoded geometry/frames disagree with the build")
      // sanity at build time: decoded channel sums track the source
      // pixels across ALL frames within the per-frame JPEG bound × n
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (f <- 0 until n; y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = frameSourceRgb(id, f, w, h, x, y)
        sr += r; sg += g; sb += b
      }
      for ((dec, src, c) <- Seq((v.rSum, sr, "r"), (v.gSum, sg, "g"), (v.bSum, sb, "b")))
        require(math.abs(dec - src) <= math.max(200L * n, src / 50),
          s"id=$id channel $c: decoded $dec too far from source $src")
      (id, bytes, bytes.length.toLong, v.width, v.height, v.nFrames,
        v.durationMs, v.rSum, v.gSum, v.bSum)
    }
    rows.map(r => (r._1, r._2)).toDF("media_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/payloads.parquet")
    rows.map(r => (r._1, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10))
      .toDF("media_id", "n_bytes", "width", "height", "n_frames",
        "duration_ms", "r_sum", "g_sum", "b_sum")
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
    println(s"wrote $NVideos payloads + expected stats to $out")
    spark.stop()
  }
}

package graft

import graft.ml.Multimodal
import graft.queries.MLQueries

/** Keeps the committed GIF/BMP fixture pairs honest (JpegGateSpec's
  * pattern for the palette and lossless-truecolor formats). Stronger
  * than the JPEG closeness bound: both encodes are EXACT (explicit
  * ≤64-color palettes for GIF, uncompressed 24-bit for BMP), so decoded
  * channel sums must EQUAL the source pixel sums — a bound no fake
  * decoder can meet, and one that is JDK-independent (no IDCT rounding
  * to drift on a toolchain upgrade).
  */
class GifBmpGateSpec extends SparkSpec {

  private def payloads(dir: String): Seq[(Long, Array[Byte])] =
    spark.read.parquet(s"$dir/payloads.parquet")
      .collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Array[Byte]]("payload")))
      .sortBy(_._1).toSeq

  test("decoding the committed GIFs reproduces the committed expected stats exactly") {
    val expected = spark.read.parquet(s"${MLQueries.gifFixtureDir}/expected.parquet")
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_bytes"), r.getAs[Long]("width"), r.getAs[Long]("height"),
          r.getAs[Long]("n_frames"),
          r.getAs[Long]("r_sum"), r.getAs[Long]("g_sum"), r.getAs[Long]("b_sum"))).toMap
    assert(expected.size === GifBmpGateFixtureGen.NImages)
    payloads(MLQueries.gifFixtureDir).foreach { case (id, bytes) =>
      val g = Multimodal.decodeGif(bytes).get
      assert(expected(id) === ((bytes.length.toLong, g.width, g.height,
        g.nFrames, g.rSum, g.gSum, g.bSum)), s"media $id")
    }
  }

  test("decoded GIF sums EQUAL the source pixels across ALL frames — lossless palette encode") {
    payloads(MLQueries.gifFixtureDir).foreach { case (id, bytes) =>
      val g = Multimodal.decodeGif(bytes).get
      val (w, h) = GifBmpGateFixtureGen.geometry(id)
      val frames = GifBmpGateFixtureGen.nFrames(id)
      assert(g.width === w.toLong && g.height === h.toLong
        && g.nFrames === frames.toLong)
      val (sr, sg, sb) = GifBmpGateFixtureGen.sourceSums(id, frames)
      assert((g.rSum, g.gSum, g.bSum) === ((sr, sg, sb)),
        s"media $id: decode is not the exact source — not a real GIF decode")
      // multi-frame is load-bearing: frame 0 alone must NOT explain the
      // sums (a decoder that reads one frame and multiplies fails here
      // because the per-frame pixel indices differ)
      val (f0r, f0g, f0b) = GifBmpGateFixtureGen.sourceSums(id, 1)
      assert((f0r * frames, f0g * frames, f0b * frames) !== ((sr, sg, sb)),
        s"media $id: fixture frames degenerate (identical), weak contract")
    }
  }

  test("decoded BMP sums EQUAL the source pixels — lossless truecolor encode") {
    val expected = spark.read.parquet(s"${MLQueries.bmpFixtureDir}/expected.parquet")
      .collect().map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("width"), r.getAs[Long]("height"),
          r.getAs[Long]("r_sum"), r.getAs[Long]("g_sum"), r.getAs[Long]("b_sum"))).toMap
    assert(expected.size === GifBmpGateFixtureGen.NImages)
    payloads(MLQueries.bmpFixtureDir).foreach { case (id, bytes) =>
      val b = Multimodal.decodeBmp(bytes).get
      val (w, h) = GifBmpGateFixtureGen.geometry(id)
      val (sr, sg, sb) = GifBmpGateFixtureGen.sourceSums(id, 1)
      assert((b.width, b.height, b.rSum, b.gSum, b.bSum)
        === ((w.toLong, h.toLong, sr, sg, sb)), s"media $id")
      assert(expected(id) === ((b.width, b.height, b.rSum, b.gSum, b.bSum)),
        s"media $id: committed expected stats drifted")
    }
  }

  test("decodeGif/decodeBmp are total on corrupted bytes and strict on magic") {
    val (_, gifGood) = payloads(MLQueries.gifFixtureDir).head
    val (_, bmpGood) = payloads(MLQueries.bmpFixtureDir).head
    // other formats' magics must not route through the wrong decoder
    // even though ImageIO could decode them
    assert(Multimodal.decodeGif(Multimodal.synthPng(3L)).isEmpty)
    assert(Multimodal.decodeGif(bmpGood).isEmpty)
    assert(Multimodal.decodeBmp(gifGood).isEmpty)
    assert(Multimodal.decodeBmp(Multimodal.synthPng(3L)).isEmpty)
    assert(Multimodal.decodeGif(Array.empty[Byte]).isEmpty)
    assert(Multimodal.decodeBmp(Array.empty[Byte]).isEmpty)
    val rnd = new scala.util.Random(47)
    for (_ <- 1 to 100) {
      val g = gifGood.clone()
      g(rnd.nextInt(g.length)) = rnd.nextInt(256).toByte
      Multimodal.decodeGif(g) // any result, never a throw
      val b = bmpGood.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      Multimodal.decodeBmp(b)
    }
    for (len <- 0 until gifGood.length by 11) Multimodal.decodeGif(gifGood.take(len))
    for (len <- 0 until bmpGood.length by 11) Multimodal.decodeBmp(bmpGood.take(len))
  }

  /** `(width, height)` of every frame as ImageIO's header read declares it. */
  private def declared(format: String, b: Array[Byte]): Seq[(Int, Int)] = {
    val r = javax.imageio.ImageIO.getImageReadersByFormatName(format).next()
    try {
      r.setInput(javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(b)))
      (0 until r.getNumImages(true)).map(i => (r.getWidth(i), r.getHeight(i)))
    } finally r.dispose()
  }

  private def put16LE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }

  /** `gif` with its logical screen and every frame's image descriptor
    * patched to declare `w`×`h`; the pixel data is left as it was.
    */
  private def gifDeclaring(gif: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val b = gif.clone()
    def table(packed: Int): Int = if ((packed & 0x80) != 0) 3 << ((packed & 7) + 1) else 0
    def subBlocks(start: Int): Int = {
      var off = start
      while (b(off) != 0) off += (b(off) & 0xff) + 1
      off + 1
    }
    put16LE(b, 6, w); put16LE(b, 8, h)
    var off = 13 + table(b(10) & 0xff)
    while (b(off) != 0x3b) { // trailer
      if (b(off) == 0x21) off = subBlocks(off + 2) // extension: label, sub-blocks
      else { // image descriptor: left, top, width, height, packed; LZW code size
        put16LE(b, off + 5, w); put16LE(b, off + 7, h)
        off = subBlocks(off + 10 + table(b(off + 9) & 0xff) + 1)
      }
    }
    b
  }

  test("decodeGif: a later frame whose size differs from frame 0's gives None") {
    def frame(w: Int, h: Int) = GifBmpGateFixtureGen.indexedFrame(1L, 0)
      .getSubimage(0, 0, w, h)
    val same = GifBmpGateFixtureGen.writeGif(Seq(frame(6, 5), frame(6, 5)))
    assert(Multimodal.decodeGif(same).map(_.nFrames) === Some(2L))
    for ((w, h) <- Seq((8, 7), (4, 3), (6, 4))) {
      val gif = GifBmpGateFixtureGen.writeGif(Seq(frame(6, 5), frame(w, h)))
      assert(declared("gif", gif) === Seq((6, 5), (w, h)))
      assert(Multimodal.decodeGif(gif).isEmpty, s"frame 1 at $w x $h")
    }
  }

  test("decodeGif/decodeBmp: header geometry past 2^26 pixels gives None") {
    val cap = 1L << 26
    val bmp = GifBmpGateFixtureGen.encodeBmp(1L).clone()
    // the file-size field grows too, or ImageIO itself refuses the header
    java.nio.ByteBuffer.wrap(bmp).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(2, 54 + 3 * 8193 * 8193).putInt(18, 8193).putInt(22, 8193)
    assert(8193L * 8193 > cap)
    assert(declared("bmp", bmp) === Seq((8193, 8193)))
    assert(Multimodal.decodeBmp(bmp).isEmpty)
    val gif = gifDeclaring(GifBmpGateFixtureGen.encodeGif(1L), 8193, 8193)
    assert(declared("gif", gif) === Seq.fill(GifBmpGateFixtureGen.nFrames(1L))((8193, 8193)))
    assert(Multimodal.decodeGif(gif).isEmpty)
  }

  test("decodeGif: frames x pixels past 2^26 gives None though each frame fits") {
    val cap = 1L << 26
    val n = GifBmpGateFixtureGen.nFrames(3L)
    assert(n === 5 && 4096L * 4096 <= cap && n * 4096L * 4096 > cap)
    val gif = gifDeclaring(GifBmpGateFixtureGen.encodeGif(3L), 4096, 4096)
    assert(declared("gif", gif) === Seq.fill(n)((4096, 4096)))
    assert(Multimodal.decodeGif(gif).isEmpty)
  }

  test("featurize dispatch routes GIF and BMP payloads through the real decoders") {
    import spark.implicits._
    val (gid, gifBytes) = payloads(MLQueries.gifFixtureDir).head
    val (bid, bmpBytes) = payloads(MLQueries.bmpFixtureDir).head
    val recs = Seq(
      Multimodal.MediaRecord(gid, "image", gifBytes, None, None, None),
      Multimodal.MediaRecord(bid + 100, "image", bmpBytes, None, None, None))
    val out = Multimodal.featurize(recs.toDS()).collect()
      .map(f => f.media_id -> f).toMap
    val g = Multimodal.decodeGif(gifBytes).get
    assert(out(gid).width === Some(g.width) && out(gid).height === Some(g.height))
    val b = Multimodal.decodeBmp(bmpBytes).get
    assert(out(bid + 100).width === Some(b.width)
      && out(bid + 100).height === Some(b.height))
    out.values.foreach { f =>
      assert(f.duration_ms === None)
      val norm = math.sqrt(f.features.map(v => v.toDouble * v).sum)
      assert(math.abs(norm - 1.0) < 1e-5)
    }
  }
}

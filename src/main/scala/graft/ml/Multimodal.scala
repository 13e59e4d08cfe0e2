package graft.ml

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque binary payloads
  * with typed metadata, and a decode → feature-extract stage shaped the way
  * a real pipeline would run it at 100 TB:
  *
  *  - payloads stay binary end-to-end (never stringified);
  *  - work happens in `mapPartitions` so a real decoder would amortize
  *    per-batch init (codec contexts, model weights) across a partition —
  *    the JVM twin of `mapInPandas` batch semantics;
  *  - records are co-partitioned by `media_id` before feature extraction so
  *    a downstream join against labels/captions is shuffle-free.
  *
  * Seven codecs are REAL (pure JVM, no native deps), each judged by its
  * own gate against a DuckDB oracle: [[decodeWav]] (RIFF/WAVE chunk walk
  * + LE PCM16), [[decodePpm]] (Netpbm P6 header tokenizer),
  * [[decodePng]] (chunk walk + CRC32 + zlib inflate + per-scanline
  * unfilter — a genuinely COMPRESSED format, so the "swap in a real
  * codec" boundary is proven on entropy-coded payloads, not just byte
  * walks), [[decodeJpeg]] (baseline JPEG), [[decodeGif]] (animated
  * palette GIF, every frame) and [[decodeBmp]] (uncompressed truecolor)
  * — the three share one javax.imageio reader, [[readImageIO]] — and
  * [[decodeMjpegAvi]] (Motion-JPEG video: AVI/RIFF container walk + one
  * JPEG decode per frame). Every image codec sums its pixels through one
  * accumulator, [[PixelSums]]. Everything else falls back to
  * [[decodeStub]], the deterministic byte-histogram stand-in for the
  * codecs the JVM cannot decode without native deps (H.264/H.265/...).
  * Swap the fallback for a real decoder (JNI/ffmpeg) without touching
  * any of the Spark plumbing — that boundary is the point.
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      width: Option[Int],
      height: Option[Int],
      duration_ms: Option[Long])

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      // fixed-dim feature vector a real encoder would emit
      features: Array[Float],
      // per-frame/chunk sample offsets ("frame sampling")
      frame_offsets: Array[Long],
      // typed metadata from the REAL decoders; None when only the
      // byte-histogram fallback could handle the payload
      width: Option[Long] = None,
      height: Option[Long] = None,
      duration_ms: Option[Long] = None)

  val FeatureDim = 16

  /** Exact integer channel sums and the [[FeatureDim]]-bin histogram of
    * 8-bit samples — the one pixel accumulator of every image codec here
    * and of the MJPEG frame merge.
    */
  private final class PixelSums {
    val sums = new Array[Long](3)
    val hist = new Array[Long](FeatureDim)

    def add(channel: Int, v: Int): Unit = {
      sums(channel) += v
      hist(v * FeatureDim / 256) += 1
    }

    def addRgb(px: Int): Unit = {
      add(0, (px >> 16) & 0xff); add(1, (px >> 8) & 0xff); add(2, px & 0xff)
    }

    def merge(r: RasterInfo): Unit = {
      sums(0) += r.rSum; sums(1) += r.gSum; sums(2) += r.bSum
      var k = 0
      while (k < FeatureDim) { hist(k) += r.hist(k); k += 1 }
    }
  }

  /** Decoded WAV metadata + exact integer sample statistics. Stats are
    * integers (sums, not means) so the judged gate's oracle compare is
    * engine-exact; `hist` buckets sample values into [[FeatureDim]] bins
    * for the featurize stage.
    */
  final case class WavInfo(
      nChannels: Long,
      sampleRate: Long,
      bitsPerSample: Long,
      nFrames: Long,
      durationMs: Long,
      sumVal: Long,
      sumAbs: Long,
      hist: Array[Long])

  private def readLE32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def readLE16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL decode for one public container format: RIFF/WAVE, uncompressed
    * PCM 16-bit. Walks the chunk list (honoring the RIFF word-alignment pad
    * on odd-sized chunks) to find `fmt ` and `data` — no fixed-44-byte-header
    * assumption — then reads every little-endian 16-bit sample once,
    * accumulating exact integer stats. Returns None for anything that is
    * not a well-formed PCM16 WAV (bad magic, truncated chunk, non-PCM
    * format tag, other bit depths), which routes the payload to
    * [[decodeStub]] in [[featurize]].
    */
  /** Shared RIFF/WAVE chunk walk ending at a validated PCM16 layout:
    * `(channels, rate, dataOff, dataLen)`. One walk for [[decodeWav]]
    * and [[wavChannelStats]] so the two can never disagree on what
    * constitutes a well-formed payload.
    */
  private def findWavPcm(b: Array[Byte]): Option[(Int, Long, Int, Long)] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Long, Int)] = None // (format, channels, rate, bits)
    var dataOff = -1
    var dataLen = -1L
    while (off + 8 <= b.length && (fmt.isEmpty || dataOff < 0)) {
      val id = tag(b, off)
      val size = readLE32(b, off + 4)
      val body = off + 8
      if (body + size > b.length) return None // truncated chunk
      id match {
        case "fmt " =>
          if (size < 16) return None
          fmt = Some((readLE16(b, body), readLE16(b, body + 2),
            readLE32(b, body + 4), readLE16(b, body + 14)))
        case "data" =>
          dataOff = body
          dataLen = size
        case _ => () // LIST/INFO/fact/... — skip
      }
      off = body + size.toInt + (size.toInt & 1) // odd chunks carry a pad byte
    }
    fmt match {
      case Some((format, channels, rate, bits))
          if format == 1 && bits == 16 && channels > 0 && rate > 0 &&
            dataOff >= 0 && dataLen % (channels * 2) == 0 =>
        Some((channels, rate, dataOff, dataLen))
      case _ => None
    }
  }

  private[graft] def decodeWav(b: Array[Byte]): Option[WavInfo] =
    findWavPcm(b).map { case (channels, rate, dataOff, dataLen) =>
      val nFrames = dataLen / (channels * 2)
      var sumVal = 0L
      var sumAbs = 0L
      val hist = new Array[Long](FeatureDim)
      var i = dataOff
      val end = dataOff + dataLen.toInt
      while (i < end) {
        val v = readLE16(b, i).toShort.toInt // sign-extend
        sumVal += v
        sumAbs += math.abs(v)
        hist(((v + 32768) * FeatureDim) >>> 16) += 1
        i += 2
      }
      WavInfo(channels, rate, 16L, nFrames,
        nFrames * 1000L / rate, sumVal, sumAbs, hist)
    }

  /** Per-CHANNEL feature extraction over the same validated PCM16 layout:
    * `(channel, nFrames, sumSq, zeroCrossings)` — energy as the exact
    * integer sum of squares (|v| ≤ 32768 ⇒ v² ≤ 2³⁰, frames ≤ 10⁶ rows
    * stay far under 2⁶³) and zero crossings counted between CONSECUTIVE
    * frames of one channel (crossing ⇔ the sign bit of v changes,
    * with v ≥ 0 as "non-negative"). The decode→feature-extract stage of
    * the multimodal pipeline, integer-exact so the DuckDB oracle can
    * replay it analytically from the synthesis formulas.
    */
  private[graft] def wavChannelStats(
      b: Array[Byte]): Option[Seq[(Int, Long, Long, Long)]] =
    findWavPcm(b).map { case (channels, _, dataOff, dataLen) =>
      val nFrames = dataLen / (channels * 2)
      val sumSq = new Array[Long](channels)
      val zc = new Array[Long](channels)
      val prev = new Array[Int](channels)
      var f = 0L
      var i = dataOff
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val v = readLE16(b, i).toShort.toInt
          sumSq(c) += v.toLong * v
          if (f > 0 && ((prev(c) < 0) != (v < 0))) zc(c) += 1
          prev(c) = v
          c += 1
          i += 2
        }
        f += 1
      }
      (0 until channels).map(c => (c, nFrames, sumSq(c), zc(c)))
    }

  /** Integer decimation over the same validated PCM16 layout: keep
    * every `every`-th frame (frame indices 0, every, 2·every, …) and
    * emit per channel `(channel, nOut, sumSq, zeroCrossings)` of the
    * DECIMATED stream — zero crossings counted between consecutive
    * KEPT frames, so the stats describe the resampled signal a
    * training pipeline would actually store. The decode → resample
    * stage of the audio pipeline (the WAV sibling of [[ppmGridStats]]),
    * sharing the one validated chunk walk ([[findWavPcm]]) with
    * [[decodeWav]] / [[wavChannelStats]]. Integer-exact, so the DuckDB
    * oracle replays it analytically from the synthesis formulas with a
    * `frame % every = 0` restriction.
    */
  private[graft] def wavDecimatedStats(b: Array[Byte], every: Int)
      : Option[Seq[(Int, Long, Long, Long)]] =
    findWavPcm(b).map { case (channels, _, dataOff, dataLen) =>
      val nFrames = dataLen / (channels * 2)
      val nOut = (nFrames + every - 1) / every
      val sumSq = new Array[Long](channels)
      val zc = new Array[Long](channels)
      val prev = new Array[Int](channels)
      var f = 0L
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val v = readLE16(b, dataOff + ((f * channels + c) * 2).toInt)
            .toShort.toInt
          sumSq(c) += v.toLong * v
          if (f > 0 && ((prev(c) < 0) != (v < 0))) zc(c) += 1
          prev(c) = v
          c += 1
        }
        f += every
      }
      (0 until channels).map(c => (c, nOut, sumSq(c), zc(c)))
    }

  /** Deterministic PCM16 WAV payload for the judged gate: every header
    * field and sample value is a pure function of `id`, so a DuckDB oracle
    * can recompute the decoded stats analytically from the same formulas
    * without ever parsing bytes. Odd ids carry an extra LIST chunk between
    * `fmt ` and `data` so the decoder's chunk walk (not a fixed header
    * offset) is what the gate exercises.
    */
  private[graft] def synthWav(id: Long): Array[Byte] = {
    val channels = (1 + id % 2).toInt
    val rate = (id % 3) match {
      case 0 => 8000
      case 1 => 16000
      case _ => 44100
    }
    val frames = (100 + id % 400).toInt
    val dataLen = frames * channels * 2
    val listLen = if (id % 2 == 1) 12 else 0 // "LIST" + size + "INFO"
    val total = 12 + 24 + listLen + 8 + dataLen
    val buf = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(total - 8)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort)
      .putInt(rate)
      .putInt(rate * channels * 2) // byte rate
      .putShort((channels * 2).toShort) // block align
      .putShort(16) // bits per sample
    if (listLen > 0)
      buf.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("INFO".getBytes("US-ASCII"))
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        buf.putShort((((id * 131 + i * 7 + c * 13) % 65536) - 32768).toShort)
        c += 1
      }
      i += 1
    }
    buf.array()
  }

  /** Decoded PPM (Netpbm P6) metadata + exact integer channel sums —
    * the image sibling of [[WavInfo]].
    */
  final case class PpmInfo(
      width: Long,
      height: Long,
      maxval: Long,
      rSum: Long,
      gSum: Long,
      bSum: Long,
      hist: Array[Long])

  /** REAL decode for a second public format: binary PPM (`P6`). Parses
    * the ASCII header — magic, whitespace-separated width/height/maxval,
    * `#` comments skipped to end of line (the part naive parsers get
    * wrong) — then reads exactly width×height×3 single-byte RGB samples,
    * accumulating exact integer channel sums. Returns None for anything
    * malformed: wrong magic, maxval > 255 (two-byte samples), truncated
    * or oversized pixel data.
    */
  /** Shared P6 header parse ending at a validated raster:
    * `(width, height, maxval, rasterOff)`. One parser for [[decodePpm]]
    * and [[ppmGridStats]], same rationale as [[findWavPcm]].
    */
  private def findPpmRaster(b: Array[Byte]): Option[(Long, Long, Long, Int)] = {
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    var off = 2
    def skipSeparators(): Boolean = {
      var progressed = false
      var more = true
      while (more && off < b.length) {
        val c = b(off).toChar
        if (c == '#') { // comment runs to end of line
          while (off < b.length && b(off) != '\n') off += 1
          progressed = true
        } else if (c.isWhitespace) { off += 1; progressed = true }
        else more = false
      }
      progressed
    }
    def readInt(): Option[Long] = {
      if (!skipSeparators()) return None // header tokens must be separated
      val start = off
      var v = 0L
      while (off < b.length && b(off) >= '0' && b(off) <= '9' && v < Int.MaxValue) {
        v = v * 10 + (b(off) - '0'); off += 1
      }
      if (off == start) None else Some(v)
    }
    val header = for {
      w <- readInt(); h <- readInt(); m <- readInt()
    } yield (w, h, m)
    header match {
      case Some((w, h, m))
          if w > 0 && h > 0 && m > 0 && m <= 255 &&
            off < b.length && b(off).toChar.isWhitespace =>
        // exactly ONE whitespace byte separates maxval from pixels
        if (b.length - (off + 1) != 3 * w * h) None // truncated or trailing junk
        else Some((w, h, m, off + 1))
      case _ => None
    }
  }

  private[graft] def decodePpm(b: Array[Byte]): Option[PpmInfo] =
    findPpmRaster(b).map { case (w, h, m, off) =>
      val n = w * h
      val acc = new PixelSums
      var i = 0L
      while (i < 3 * n) {
        acc.add((i % 3).toInt, b(off + i.toInt) & 0xff)
        i += 1
      }
      PpmInfo(w, h, m, acc.sums(0), acc.sums(1), acc.sums(2), acc.hist)
    }

  /** Block-mean downsample numerators over the same validated raster: a
    * `grid`×`grid` thumbnail where cell (cy, cx) accumulates the exact
    * integer per-channel sums and pixel count of its block (pixel (x, y)
    * maps to cell (y·grid div h, x·grid div w) — pure integer
    * arithmetic, so the DuckDB oracle replays it from the synthesis
    * formulas). The decode → resize stage of the image pipeline: the
    * block means are the thumbnail's pixels, kept as (sum, count) so
    * everything stays integer-exact.
    */
  private[graft] def ppmGridStats(b: Array[Byte], grid: Int)
      : Option[Seq[(Int, Int, Long, Long, Long, Long)]] =
    findPpmRaster(b).map { case (w, h, _, off) =>
      val sums = Array.ofDim[Long](grid * grid, 3)
      val counts = new Array[Long](grid * grid)
      var y = 0L
      while (y < h) {
        val cy = (y * grid / h).toInt
        var x = 0L
        while (x < w) {
          val cell = cy * grid + (x * grid / w).toInt
          val p = (y * w + x).toInt
          var c = 0
          while (c < 3) {
            sums(cell)(c) += b(off + 3 * p + c) & 0xff
            c += 1
          }
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      for (cy <- 0 until grid; cx <- 0 until grid) yield {
        val cell = cy * grid + cx
        (cy, cx, sums(cell)(0), sums(cell)(1), sums(cell)(2), counts(cell))
      }
    }

  /** Deterministic P6 payload for the judged gate — every header field
    * and pixel value a pure function of `id` (odd ids carry a `#`
    * comment line so the decoder's comment handling is exercised), so a
    * DuckDB oracle recomputes the decoded stats analytically. Pixel p's
    * channel c holds (id·37 + p·5 + c·11) mod 256.
    */
  private[graft] def synthPpm(id: Long): Array[Byte] = {
    val w = (4 + id % 13).toInt
    val h = (3 + id % 7).toInt
    val header = "P6\n" + (if (id % 2 == 1) "# g\n" else "") + s"$w $h\n255\n"
    val out = new Array[Byte](header.length + 3 * w * h)
    System.arraycopy(header.getBytes("US-ASCII"), 0, out, 0, header.length)
    var p = 0
    while (p < w * h) {
      var c = 0
      while (c < 3) {
        out(header.length + 3 * p + c) = ((id * 37 + p * 5 + c * 11) % 256).toByte
        c += 1
      }
      p += 1
    }
    out
  }

  /** Decoded PNG metadata + exact integer channel sums — the
    * compressed-codec sibling of [[PpmInfo]]: unlike WAV/PPM the pixel
    * payload is entropy-coded (zlib/DEFLATE), so decoding is a genuine
    * inflate + per-scanline unfilter, not a byte walk.
    */
  final case class PngInfo(
      width: Long,
      height: Long,
      bitDepth: Long,
      rSum: Long,
      gSum: Long,
      bSum: Long,
      hist: Array[Long])

  private def readBE32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private val PngSig =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** REAL decode for a third public format — and the first COMPRESSED
    * one: PNG, non-interlaced 8-bit truecolor RGB (colour type 2). Walks
    * the chunk list verifying every CRC32, concatenates the IDAT bodies,
    * inflates the zlib stream (`java.util.zip.Inflater` — any valid
    * DEFLATE encoding, stored or entropy-coded; spec-proven against the
    * JDK's own ImageIO encoder), then unfilters each scanline (all five
    * PNG filter types: None/Sub/Up/Average/Paeth at bpp = 3) to recover
    * the raw pixels and exact integer channel sums. Returns None for
    * anything malformed: bad signature, CRC mismatch, unsupported IHDR
    * (bit depth ≠ 8, colour type ≠ 2, interlaced), truncated or
    * oversized inflate output, or an out-of-range filter type.
    */
  private[graft] def decodePng(b: Array[Byte]): Option[PngInfo] = {
    if (b.length < PngSig.length + 25 + 12 + 12) return None
    var i = 0
    while (i < PngSig.length) { if (b(i) != PngSig(i)) return None; i += 1 }
    var off = PngSig.length
    var width = -1L
    var height = -1L
    var ihdrSeen = false
    var iendSeen = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!iendSeen) {
      if (off + 12 > b.length) return None // truncated chunk header
      val len = readBE32(b, off)
      if (len > b.length - off - 12) return None // truncated chunk body
      val typ = tag(b, off + 4)
      val crc = new java.util.zip.CRC32()
      crc.update(b, off + 4, 4 + len.toInt)
      if (crc.getValue != readBE32(b, off + 8 + len.toInt)) return None
      typ match {
        case "IHDR" =>
          if (len != 13 || ihdrSeen) return None
          ihdrSeen = true
          width = readBE32(b, off + 8)
          height = readBE32(b, off + 12)
          val depthTypeEtc = (b(off + 16) & 0xff, b(off + 17) & 0xff,
            b(off + 18) & 0xff, b(off + 19) & 0xff, b(off + 20) & 0xff)
          if (depthTypeEtc != ((8, 2, 0, 0, 0))) return None // 8-bit RGB only
          // memory guard for untrusted input: cap decoded pixel data.
          // Division form — width/height are untrusted unsigned 32-bit
          // values, and height * (1 + 3*width) can exceed Long range
          // (wrap negative, pass the cap, crash on array alloc), so the
          // product is never formed: bound width first, then compare
          // height against the cap divided by the row stride.
          if (width <= 0 || height <= 0 || width > (1L << 28) ||
            height > (1L << 28) / (1L + 3L * width)) return None
        case "IDAT" =>
          if (!ihdrSeen) return None
          idat.write(b, off + 8, len.toInt)
        case "IEND" =>
          if (len != 0) return None
          iendSeen = true
        case _ => () // ancillary chunks (tEXt/pHYs/...) skipped
      }
      off += 12 + len.toInt
    }
    if (!ihdrSeen) return None
    val w = width.toInt
    val h = height.toInt
    val stride = 1 + 3 * w
    val raw = new Array[Byte](h * stride)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var produced = 0
      while (produced < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, produced, raw.length - produced)
        if (n == 0) return None // stuck: truncated stream or needs-dict
        produced += n
      }
      if (produced != raw.length) return None // short pixel data
      val probe = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(probe) != 0) return None // oversized
      if (!inf.finished()) return None // missing final block / adler
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // per-scanline unfilter; prev row is all-zero for y = 0 by PNG spec
    val acc = new PixelSums
    val prev = new Array[Int](3 * w)
    val cur = new Array[Int](3 * w)
    var y = 0
    while (y < h) {
      val rowOff = y * stride
      val ft = raw(rowOff) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < 3 * w) {
        val f = raw(rowOff + 1 + x) & 0xff
        val a = if (x >= 3) cur(x - 3) else 0 // left, same channel (bpp=3)
        val up = prev(x)
        val ul = if (x >= 3) prev(x - 3) else 0
        val rec = ft match {
          case 0 => f
          case 1 => (f + a) & 0xff
          case 2 => (f + up) & 0xff
          case 3 => (f + ((a + up) >> 1)) & 0xff
          case _ =>
            val p = a + up - ul
            val pa = math.abs(p - a)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul
            (f + pred) & 0xff
        }
        cur(x) = rec
        acc.add(x % 3, rec)
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, 3 * w)
      y += 1
    }
    Some(PngInfo(w, h, 8, acc.sums(0), acc.sums(1), acc.sums(2), acc.hist))
  }

  /** Deterministic PNG payload for the judged gate: geometry and every
    * RAW pixel value are pure functions of `id` — pixel p, channel c ↦
    * (id·53 + p·7 + c·19) mod 256, exactly what the oracle recomputes
    * analytically. Each scanline y is filtered with type y mod 5 and
    * h ≥ 5 always, so EVERY payload exercises all five PNG filters; the
    * zlib stream uses one STORED deflate block, so the total byte length
    * is analytic too (68 + h·(1+3w)) while the decoder still runs a
    * genuine Inflater. CRC32 and Adler32 are real, so the gate also
    * proves the decoder's integrity checks pass on well-formed input.
    */
  private[graft] def synthPng(id: Long): Array[Byte] = {
    val w = (4 + id % 9).toInt
    val h = (5 + id % 6).toInt
    val stride = 1 + 3 * w
    def px(p: Int, c: Int): Int = ((id * 53 + p * 7 + c * 19) % 256).toInt
    val recon = Array.tabulate(h, 3 * w)((y, x) => px(y * w + x / 3, x % 3))
    val raw = new Array[Byte](h * stride)
    for (y <- 0 until h) {
      val ft = y % 5
      raw(y * stride) = ft.toByte
      for (x <- 0 until 3 * w) {
        val v = recon(y)(x)
        val a = if (x >= 3) recon(y)(x - 3) else 0
        val up = if (y >= 1) recon(y - 1)(x) else 0
        val ul = if (x >= 3 && y >= 1) recon(y - 1)(x - 3) else 0
        val f = ft match {
          case 0 => v
          case 1 => (v - a) & 0xff
          case 2 => (v - up) & 0xff
          case 3 => (v - ((a + up) >> 1)) & 0xff
          case _ =>
            val p = a + up - ul
            val pa = math.abs(p - a)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul
            (v - pred) & 0xff
        }
        raw(y * stride + 1 + x) = f.toByte
      }
    }
    // zlib wrapper, one stored block (raw.length ≤ 370 < 65535), real adler
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val zlib = java.nio.ByteBuffer.allocate(2 + 5 + raw.length + 4)
      .put(0x78.toByte).put(0x01.toByte) // CMF/FLG, (0x7801 % 31 == 0)
      .put(0x01.toByte) // BFINAL=1, BTYPE=00 (stored)
      .put((raw.length & 0xff).toByte).put(((raw.length >> 8) & 0xff).toByte)
      .put((~raw.length & 0xff).toByte).put(((~raw.length >> 8) & 0xff).toByte)
      .put(raw)
      .putInt(adler.getValue.toInt) // ByteBuffer default = big-endian, per zlib
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII"))
      crc.update(data)
      out.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte) // bit depth
      .put(2.toByte) // colour type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlib.array()) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Decoded raster metadata + integer channel sums over the DECODED
    * pixels of every frame read — what [[decodeJpeg]], [[decodeGif]] and
    * [[decodeBmp]] return (`nFrames` = 1 for the single-frame formats).
    * JPEG's DCT quantization is lossy, so its sums are a property of the
    * (deterministic) decoder output, not of the source pixels — the
    * judged fixtures therefore commit the expected stats alongside the
    * payloads (the AnalyzerGates fixture-oracle pattern). The GIF fixture
    * is palette-bounded and BMP is uncompressed 24-bit, so both encodes
    * are lossless and their decoded sums equal the source pixels exactly
    * (GifBmpGateSpec pins that, a stronger bound than JPEG's closeness).
    */
  final case class RasterInfo(
      width: Long,
      height: Long,
      nFrames: Long,
      rSum: Long,
      gSum: Long,
      bSum: Long,
      hist: Array[Long])

  /** The one javax.imageio read loop: the JDK's own readers — public API,
    * pure JVM, no native deps beyond the JRE (the route for DCT and LZW
    * codecs the container can't host native libs for). Reads frame 0
    * only, or with `allFrames` every animation frame
    * (`getNumImages(forceRead)` + per-index reads — the image-side analog
    * of the MJPEG frame loop). Untrusted-input posture of [[decodePng]]:
    * width/height come from the HEADER before any pixel decode and cap
    * the pixel count at 2^26, the frame count is capped at 4096 and
    * frames × pixels at 2^26 before any decode, and a frame whose stored
    * raster differs from frame 0's size marks the payload malformed
    * (delta-composited GIFs are out of the judged contract, like
    * non-baseline JPEG). None on any exception — corrupt entropy streams
    * surface as IIOException/IOException/runtime errors from deep inside
    * the reader, and a Spark task must never throw on malformed input.
    * The callers check their own magic first, so the dispatch never
    * mistakes another ImageIO-supported format for theirs.
    */
  private def readImageIO(b: Array[Byte], allFrames: Boolean): Option[RasterInfo] =
    try {
      javax.imageio.ImageIO.setUseCache(false) // no disk-cache temp files in executors
      val iis = javax.imageio.ImageIO
        .createImageInputStream(new java.io.ByteArrayInputStream(b))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, !allFrames, true) // the frame loop seeks back
          val n = if (allFrames) reader.getNumImages(true) else 1
          if (n <= 0 || n > 4096) return None
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26) ||
            w.toLong * h * n > (1L << 26)) return None
          val acc = new PixelSums
          val row = new Array[Int](w)
          var f = 0
          while (f < n) {
            val img = reader.read(f)
            if (img.getWidth != w || img.getHeight != h) return None
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) { acc.addRgb(row(x)); x += 1 }
              y += 1
            }
            f += 1
          }
          Some(RasterInfo(w, h, n, acc.sums(0), acc.sums(1), acc.sums(2), acc.hist))
        } finally reader.dispose()
      } finally if (iis != null) iis.close()
    } catch {
      case _: Exception => None
    }

  /** REAL decode for the fourth public format: baseline JPEG, frame 0 of
    * [[readImageIO]] after the SOI magic. Returns None for anything
    * malformed: bad magic, unsupported color space (CMYK), truncated
    * entropy stream, oversized dimensions.
    */
  private[graft] def decodeJpeg(b: Array[Byte]): Option[RasterInfo] =
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8 ||
      (b(2) & 0xff) != 0xff) None
    else readImageIO(b, allFrames = false)

  /** REAL decode for the sixth public format — the first PALETTE one:
    * GIF87a/GIF89a, ALL animation frames of [[readImageIO]] after the
    * magic. None on anything malformed, never a throw in a Spark task.
    */
  private[graft] def decodeGif(b: Array[Byte]): Option[RasterInfo] =
    if (b.length < 6 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a') None
    else readImageIO(b, allFrames = true)

  /** REAL decode for the seventh public format: BMP — single-frame,
    * uncompressed truecolor, frame 0 of [[readImageIO]] after the magic
    * ('BM' + a plausible header length). None on malformed.
    */
  private[graft] def decodeBmp(b: Array[Byte]): Option[RasterInfo] =
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') None
    else readImageIO(b, allFrames = false)

  /** Decoded MJPEG-in-AVI metadata + integer channel sums over all
    * DECODED frames — the VIDEO sibling of [[RasterInfo]]. Like JPEG (whose
    * decoder runs per frame) the DCT round-trip is lossy, so stats are a
    * property of the decoder output and the judged fixture commits the
    * expected stats beside the payloads.
    */
  final case class MjpegInfo(
      width: Long,
      height: Long,
      nFrames: Long,
      durationMs: Long,
      rSum: Long,
      gSum: Long,
      bSum: Long,
      hist: Array[Long])

  /** REAL decode for the fifth public format — the first VIDEO one:
    * Motion-JPEG in an AVI (RIFF) container, the one video codec a pure
    * JVM can host end-to-end (the RIFF walk [[decodeWav]] already does,
    * plus one baseline-JPEG decode per frame via [[decodeJpeg]]). Parses
    * `LIST hdrl` → `avih` (geometry, frame timing, declared frame count)
    * and validates the first video stream header (`strh` fccType 'vids'
    * with an MJPG handler), then walks `LIST movi` decoding every
    * compressed video chunk (`##dc`). Strict by design: every frame must
    * decode and match the container-declared geometry, and the declared
    * dwTotalFrames must equal the frames actually present — a container
    * whose index lies is malformed, not "mostly fine". Returns None for
    * all of it: bad magic, truncated chunks, missing headers, non-MJPG
    * streams, frame-decode failures, geometry mismatches, oversized
    * dimensions (same untrusted-input posture as [[decodePng]]).
    *
    * H.264/H.265-class codecs remain out of JVM reach without native
    * libraries — [[decodeStub]] covers exactly those now.
    */
  /** Shared MJPEG-in-AVI container walk ending at the validated video
    * stream's frame slices: `(width, height, usPerFrame, frames)` with
    * every container-level check applied (per-frame DECODE validation
    * stays with the consumers via [[decodeFrames]]). One parser for
    * [[decodeMjpegAvi]] and [[mjpegFrameStats]] — the [[findWavPcm]] /
    * [[findPpmRaster]] rationale applied to the video path.
    */
  private def findMjpegFrames(b: Array[Byte])
      : Option[(Long, Long, Long, IndexedSeq[(Int, Int)])] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return None
    // header state, filled during the hdrl walk
    var usPerFrame = -1L
    var declaredFrames = -1L
    var width = -1L
    var height = -1L
    // stream number of the FIRST 'vids'+MJPG stream (strl lists appear in
    // stream order per the AVI spec, so the n-th strl is stream n): frame
    // chunks are filtered to exactly that stream's `%02d`dc id —
    // dwTotalFrames declares the VIDEO stream's count, so counting other
    // streams' chunks against it would reject valid multi-stream files
    // (and, worse, blend two streams' pixels when the totals collide)
    var videoStream = -1
    var strlCount = 0
    // one pass over the top-level chunk list; LIST bodies are walked
    // recursively by offset (RIFF sub-lists are plain chunk lists too).
    // `ctx` is the enclosing list type ("" at top level) — frame chunks
    // count ONLY inside movi (or its `rec ` grouping sub-lists), headers
    // only inside their lists, so stray look-alike ids elsewhere in the
    // container can't smuggle data past the validation.
    def walk(start: Int, end: Int, ctx: String,
        frames: java.util.ArrayList[(Int, Int, Int)]): Boolean = {
      var off = start
      while (off + 8 <= end) {
        val id = tag(b, off)
        val size = readLE32(b, off + 4)
        val body = off + 8
        if (body + size > end) return false // truncated chunk
        id match {
          case "LIST" =>
            if (size < 4) return false
            val listType = tag(b, body)
            val ok = listType match {
              case "hdrl" => walk(body + 4, body + size.toInt, "hdrl", frames)
              case "strl" if ctx == "hdrl" =>
                strlCount += 1
                walk(body + 4, body + size.toInt, "strl", frames)
              case "movi" => walk(body + 4, body + size.toInt, "movi", frames)
              case "rec " if ctx == "movi" =>
                walk(body + 4, body + size.toInt, "movi", frames)
              case _ => true // INFO/odml/... skipped
            }
            if (!ok) return false
          case "avih" if ctx == "hdrl" =>
            if (size < 40) return false
            usPerFrame = readLE32(b, body)
            declaredFrames = readLE32(b, body + 16)
            width = readLE32(b, body + 32)
            height = readLE32(b, body + 36)
          case "strh" if ctx == "strl" =>
            if (size < 8) return false
            if (videoStream < 0 && tag(b, body) == "vids" &&
              tag(b, body + 4) == "MJPG")
              videoStream = strlCount - 1 // the strl being walked right now
          case dc if ctx == "movi" && dc.length == 4 && dc.endsWith("dc") &&
              dc(0).isDigit && dc(1).isDigit =>
            val streamNo = (dc(0) - '0') * 10 + (dc(1) - '0')
            frames.add((streamNo, body, size.toInt)) // compressed video frame
          case _ => () // strf/idx1/audio chunks/JUNK — skipped
        }
        off = body + size.toInt + (size.toInt & 1) // RIFF odd-size pad
      }
      true
    }
    val allSlices = new java.util.ArrayList[(Int, Int, Int)]()
    if (!walk(12, b.length, "", allSlices)) return None
    // only the validated MJPG video stream's frames count — both for the
    // decode and for the dwTotalFrames check (which declares the video
    // stream's frame count, not a cross-stream chunk total)
    val frameSlices = new java.util.ArrayList[(Int, Int)]()
    allSlices.forEach { case (sn, o, l) => if (sn == videoStream) frameSlices.add((o, l)) }
    // container-level validation before any pixel decode (untrusted input:
    // geometry bounds mirror decodeJpeg's; a lying frame count is malformed)
    if (videoStream < 0 || usPerFrame <= 0 || width <= 0 || height <= 0 ||
      width * height > (1L << 26) || frameSlices.size == 0 ||
      frameSlices.size > 4096 || declaredFrames != frameSlices.size) return None
    val out = Vector.newBuilder[(Int, Int)]
    frameSlices.forEach(s => out += s)
    Some((width, height, usPerFrame, out.result()))
  }

  /** Strict per-frame decode: every slice must decode as baseline JPEG at
    * the container-declared geometry, or the whole container is rejected
    * (the original decoder's posture, shared by both consumers).
    */
  private def decodeFrames(b: Array[Byte], width: Long, height: Long,
      slices: IndexedSeq[(Int, Int)]): Option[IndexedSeq[RasterInfo]] = {
    val out = Vector.newBuilder[RasterInfo]
    var f = 0
    while (f < slices.length) {
      val (foff, flen) = slices(f)
      decodeJpeg(java.util.Arrays.copyOfRange(b, foff, foff + flen)) match {
        case Some(j) if j.width == width && j.height == height => out += j
        case _ => return None
      }
      f += 1
    }
    Some(out.result())
  }

  private[graft] def decodeMjpegAvi(b: Array[Byte]): Option[MjpegInfo] =
    findMjpegFrames(b).flatMap { meta =>
      val (width, height, usPerFrame, slices) = meta
      decodeFrames(b, width, height, slices).map { frames =>
        val acc = new PixelSums
        frames.foreach(acc.merge)
        val n = slices.length.toLong
        MjpegInfo(width, height, n, n * usPerFrame / 1000L,
          acc.sums(0), acc.sums(1), acc.sums(2), acc.hist)
      }
    }

  /** Per-frame channel sums over the same validated container walk:
    * `(width, height, frames)` with frames = (frame, rSum, gSum, bSum)
    * in stream order — the decode → temporal-segmentation stage
    * (scene-cut detection) consumes these.
    */
  private[graft] def mjpegFrameStats(b: Array[Byte])
      : Option[(Long, Long, IndexedSeq[(Int, Long, Long, Long)])] =
    findMjpegFrames(b).flatMap { meta =>
      val (width, height, _, slices) = meta
      decodeFrames(b, width, height, slices).map { frames =>
        (width, height, frames.zipWithIndex.map { case (j, f) =>
          (f, j.rSum, j.gSum, j.bSum)
        })
      }
    }

  /** STUB decode: a real implementation would decode pixels/samples here.
    * Deterministic fake: fold the byte histogram into FeatureDim buckets
    * and L2-normalize — stable across runs and partitionings.
    */
  private[ml] def decodeStub(payload: Array[Byte]): Array[Float] = {
    val acc = new Array[Float](FeatureDim)
    var i = 0
    while (i < payload.length) {
      acc((payload(i) & 0xff) % FeatureDim) += 1f
      i += 1
    }
    val norm = math.sqrt(acc.map(v => v.toDouble * v).sum).toFloat
    if (norm == 0f) acc else acc.map(_ / norm)
  }

  private def normed(hist: Array[Long]): Array[Float] = {
    val acc = hist.map(_.toFloat)
    val norm = math.sqrt(acc.map(v => v.toDouble * v).sum).toFloat
    if (norm == 0f) acc else acc.map(_ / norm)
  }

  private type Decoded = (Array[Float], Option[Long], Option[Long], Option[Long])

  private def image(hist: Array[Long], width: Long, height: Long): Decoded =
    (normed(hist), Some(width), Some(height), None)

  /** The decoders [[decode]] tries, in order: the first hit wins, and the
    * stub, which takes anything, comes last. Each decoder checks its own
    * magic bytes first (the two RIFF formats disambiguate on the form
    * type at offset 8), so the order can't misroute a payload.
    */
  private val decoders: Seq[Array[Byte] => Option[Decoded]] = Seq(
    b => decodeWav(b).map(w => (normed(w.hist), None, None, Some(w.durationMs))),
    b => decodeMjpegAvi(b).map(v =>
      (normed(v.hist), Some(v.width), Some(v.height), Some(v.durationMs))),
    b => decodePpm(b).map(p => image(p.hist, p.width, p.height)),
    b => decodePng(b).map(p => image(p.hist, p.width, p.height)),
    b => decodeJpeg(b).map(r => image(r.hist, r.width, r.height)),
    b => decodeGif(b).map(r => image(r.hist, r.width, r.height)),
    b => decodeBmp(b).map(r => image(r.hist, r.width, r.height)),
    b => Some((decodeStub(b), None, None, None)))

  /** Decode dispatch over [[decoders]]: real WAV/MJPEG-AVI/PPM/PNG/JPEG/
    * GIF/BMP parse when the payload is one, byte-histogram stub otherwise
    * (the stub covers ONLY H.264/H.265-class codecs the JVM cannot decode
    * without native libraries — compressed images, palette images AND
    * Motion-JPEG video are handled for real). Every path emits an
    * L2-normalized FeatureDim vector, so downstream similarity code
    * never branches on the codec; the real codecs additionally surface
    * their typed metadata (duration for audio, geometry for images,
    * both for video) in one pass.
    */
  private[ml] def decode(payload: Array[Byte]): Decoded =
    decoders.iterator.flatMap(_(payload)).next()

  /** "Frame sampling": n evenly spaced byte offsets (a video decoder would
    * seek keyframes; the offsets contract is identical).
    */
  private[ml] def sampleOffsets(size: Long, n: Int): Array[Long] =
    if (size <= 0 || n <= 0) Array.empty
    else Array.tabulate(n)(i => i * size / n)

  /** The featurize stage. Narrow (no shuffle) unless `coPartitions` is set,
    * in which case records are hash-repartitioned by media_id first (do
    * this when the next stage joins on media_id at scale).
    */
  def featurize(records: Dataset[MediaRecord], frames: Int = 4,
      coPartitions: Option[Int] = None): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    val partitioned = coPartitions
      .map(n => records.repartition(n, col("media_id")))
      .getOrElse(records)
    partitioned.mapPartitions { it =>
      // per-partition init of a real codec would happen HERE, once
      it.map { r =>
        val (features, width, height, durationMs) = decode(r.payload)
        MediaFeatures(
          media_id = r.media_id,
          kind = r.kind,
          n_bytes = r.payload.length.toLong,
          features = features,
          frame_offsets = sampleOffsets(r.payload.length.toLong, frames),
          width = width,
          height = height,
          duration_ms = durationMs)
      }
    }
  }

  /** Demo source: wrap the documents table's text bytes as fake media
    * payloads (the container has no real media files).
    */
  def documentsAsMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"))
      .as[MediaRecord]
  }
}

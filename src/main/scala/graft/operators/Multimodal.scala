package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque `binary` columns
  * with typed metadata. The decode step is a REAL public-format header parse —
  * PNG / BMP / GIF / JPEG magic bytes and dimension fields, pure JVM, no codec
  * libraries — inside the per-partition-init mapPartitions shape a heavier
  * JNI/FFI decoder would use. Pixel-level decode (beyond dimensions) is out of
  * scope in this container; the parsing below is byte-exact per the public
  * format specs (PNG RFC 2083 IHDR, BMP BITMAPINFOHEADER, GIF89a logical screen
  * descriptor, JPEG SOFn frame header).
  *
  * Scale notes: binary payloads ride the scan; feature extraction is
  * mapPartitions (one decoder init per partition, not per row); frame sampling
  * is a generator (posexplode), never a driver-side loop.
  */
object Multimodal {

  /** One media row: payload + typed metadata. */
  case class MediaRecord(media_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features; `format`/`width`/`height` come from the REAL header
    * parse ([[decodeHeader]]); unknown payloads report ("unknown", 0, 0). */
  case class MediaFeatures(media_id: Long, media_type: String, byte_len: Int,
                           format: String, width: Int, height: Int, checksum: Long)

  /** Adapt the `documents` table into a media table (text payload as bytes) — the
    * opaque-binary carrier shape; [[decodeHeader]] classifies these "unknown". */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"), lit("text/plain").as("media_type"),
      col("text").cast("binary").as("payload"))

  private def beInt(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def leInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def beShort(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** Real image-header decode from magic bytes — (format, width, height).
    *  - PNG:  8-byte signature 89 50 4E 47 0D 0A 1A 0A; IHDR is always the
    *          first chunk, so width/height are big-endian int32 at 16/20.
    *  - BMP:  'BM'; BITMAPINFOHEADER width LE int32 at 18, height at 22
    *          (negative height = top-down rows → magnitude).
    *  - GIF:  'GIF87a'/'GIF89a'; logical screen W/H are LE uint16 at 6/8.
    *  - JPEG: FF D8; walk marker segments to the first SOFn (C0–CF minus the
    *          non-frame C4/C8/CC): height BE uint16 at +5, width at +7.
    *  Anything else (or a truncated header) is ("unknown", 0, 0). */
  def decodeHeader(payload: Array[Byte]): (String, Int, Int) = {
    val b = payload
    def is(i: Int, v: Int): Boolean = i < b.length && (b(i) & 0xff) == v
    if (b.length >= 24 && is(0, 0x89) && is(1, 'P') && is(2, 'N') && is(3, 'G') &&
        is(4, 0x0d) && is(5, 0x0a) && is(6, 0x1a) && is(7, 0x0a))
      ("png", beInt(b, 16), beInt(b, 20))
    else if (b.length >= 26 && is(0, 'B') && is(1, 'M'))
      ("bmp", leInt(b, 18), math.abs(leInt(b, 22)))
    else if (b.length >= 10 && is(0, 'G') && is(1, 'I') && is(2, 'F') && is(3, '8') &&
        (is(4, '7') || is(4, '9')) && is(5, 'a'))
      ("gif", leShort(b, 6), leShort(b, 8))
    else if (b.length >= 4 && is(0, 0xff) && is(1, 0xd8)) {
      // JPEG marker walk: [FF marker] [len_hi len_lo] payload(len-2) ...
      var i = 2
      var out: (String, Int, Int) = ("jpeg", 0, 0)
      var done = false
      while (!done && i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) { done = true } // desynced — stop
        else {
          val m = b(i + 1) & 0xff
          if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2 // bare markers
          else if (m == 0xd9 || m == 0xda) done = true // EOI / SOS: no SOF found
          else {
            val len = beShort(b, i + 2)
            val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
            if (isSof && i + 8 < b.length) {
              out = ("jpeg", beShort(b, i + 7), beShort(b, i + 5)); done = true
            } else i += 2 + len
          }
        }
      }
      out
    } else ("unknown", 0, 0)
  }

  /** Write the 54-byte BITMAPFILEHEADER + BITMAPINFOHEADER for a 24-bit
    * BI_RGB image into `out` (which must already have the full file length) —
    * shared by [[encodeBmp]] and [[resizeBmp]]. */
  private def writeBmpHeader(out: Array[Byte], width: Int, height: Int): Unit = {
    val rowSize = ((3 * width + 3) / 4) * 4
    val dataSize = rowSize * height
    def putLe(i: Int, v: Int): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
      out(i + 2) = ((v >> 16) & 0xff).toByte; out(i + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe(2, 54 + dataSize); putLe(6, 0); putLe(10, 54) // size, reserved, pixel offset
    putLe(14, 40) // BITMAPINFOHEADER size
    putLe(18, width); putLe(22, height)
    out(26) = 1 // planes (LE uint16)
    out(28) = 24 // bits per pixel
    putLe(30, 0); putLe(34, dataSize) // BI_RGB, image size
    putLe(38, 2835); putLe(42, 2835) // 72 DPI in px/metre
    putLe(46, 0); putLe(50, 0) // palette fields
  }

  /** Build a genuine 24-bit uncompressed BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER + padded BGR rows) — deterministic pixel bytes derived
    * from `seed`, so fixtures are real encoded files, not placeholder blobs.
    * Byte length is exactly 54 + rowSize·height with rowSize = ⌈3·w/4⌉·4. */
  def encodeBmp(width: Int, height: Int, seed: Long = 0L): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    val rowSize = ((3 * width + 3) / 4) * 4
    val total = 54 + rowSize * height
    val out = new Array[Byte](total)
    writeBmpHeader(out, width, height)
    var i = 54
    var p = seed
    while (i < total) {
      p = p * 6364136223846793005L + 1442695040888963407L // LCG (Knuth MMIX)
      out(i) = ((p >>> 32) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Real pixel-level nearest-neighbor resize of a 24-bit uncompressed BMP:
    * reads source pixel (⌊x·srcW/dstW⌋, ⌊y·srcH/dstH⌋) from the padded BGR
    * rows at the header's pixel offset and re-encodes a valid BMP — actual
    * pixel math per the public format spec, not a metadata rewrite. Returns
    * None for anything that is not a positive-height 24-bit BI_RGB BMP with a
    * complete pixel array (the caller passes those rows through unchanged —
    * a production pipeline would route them to a full codec). Rows keep
    * their bottom-up storage order, so the sampling is orientation-stable. */
  def resizeBmp(payload: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    require(dstW >= 1 && dstH >= 1, s"bad dst dims ${dstW}x$dstH")
    val dstRowL = ((3L * dstW + 3) / 4) * 4
    require(54L + dstRowL * dstH <= Int.MaxValue,
      s"dst image too large to encode: ${dstW}x$dstH")
    val (fmt, w, _) = decodeHeader(payload)
    if (fmt != "bmp" || w < 1 || payload.length < 30) return None
    val h = leInt(payload, 22)
    val off = leInt(payload, 10)
    val bpp = leShort(payload, 28)
    // row/bounds math in LONG: a crafted header width Int-overflows the
    // 32-bit rowSize product, slipping a negative bound past the length
    // check and crashing the copy loop — refuse instead (the None contract).
    // srcRow * h can itself overflow LONG when a crafted header claims w and
    // h both near 2^31 (~6.4e9 × ~2.1e9 > Long.MaxValue), wrapping the bound
    // negative and passing the length check — reject the multiplication
    // overflow FIRST (srcRow >= 4 here since w >= 1, so the division is safe)
    val srcRow = ((3L * w + 3) / 4) * 4
    if (h < 1 || bpp != 24 || off < 54 ||
        h.toLong > (Long.MaxValue - off) / srcRow ||
        payload.length.toLong < off.toLong + srcRow * h) return None
    val dstRow = dstRowL.toInt
    val out = new Array[Byte](54 + dstRow * dstH)
    writeBmpHeader(out, dstW, dstH)
    var y = 0
    while (y < dstH) {
      val sy = y.toLong * h / dstH
      var x = 0
      while (x < dstW) {
        // si < off + srcRow*h <= payload.length <= Int.MaxValue by the guard
        val si = (off + sy * srcRow + (x.toLong * w / dstW) * 3).toInt
        val di = 54 + y * dstRow + x * 3
        out(di) = payload(si); out(di + 1) = payload(si + 1); out(di + 2) = payload(si + 2)
        x += 1
      }
      y += 1
    }
    Some(out)
  }

  /** Real-encoded synthetic media table: one genuine BMP per document, with
    * dimensions a pure function of `doc_id` — so an oracle can recompute
    * width/height/byte_len arithmetically while THIS side round-trips them
    * through actual BMP bytes ([[encodeBmp]] → [[decodeHeader]]). Typed
    * mapPartitions: the encode is per-row JVM work, exactly where a real
    * transcoder would sit. */
  def syntheticImagesFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        MediaRecord(id, "image/bmp",
          encodeBmp((id % 16).toInt + 1, (id % 12).toInt + 1, seed = id))
      }
    }
  }

  /** Feature extraction over the media table: typed mapPartitions with
    * per-partition decoder setup (the CRC instance stands where a JNI codec
    * handle would), REAL header parse per row. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      // per-partition decoder/codec initialization happens HERE, once.
      val crc = new java.util.zip.CRC32()
      rows.map { r =>
        val (fmt, w, h) = decodeHeader(r.payload)
        crc.reset(); crc.update(r.payload)
        MediaFeatures(r.media_id, r.media_type, r.payload.length, fmt, w, h, crc.getValue)
      }
    }
  }

  /** Resize pass over a media table — the brief's resize step with REAL pixel
    * work ([[resizeBmp]] for 24-bit BMPs, [[resizePng]] for 8-bit truecolor
    * PNGs, [[resizeJpeg]] for baseline JPEGs): typed mapPartitions (the same
    * per-partition-init shape as [[extractFeatures]] — a JNI/FFI image
    * library would initialize here once), rows in none of the formats pass
    * through unchanged so mixed-modality tables survive the pass. Map-only:
    * payloads never shuffle. */
  def resizeImages(spark: SparkSession, media: DataFrame,
                   dstW: Int, dstH: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.map { r =>
        resizeBmp(r.payload, dstW, dstH)
          .orElse(resizePng(r.payload, dstW, dstH))
          .orElse(resizeJpeg(r.payload, dstW, dstH)) match {
          case Some(p) => MediaRecord(r.media_id, r.media_type, p)
          case None => r
        }
      }
    }
  }

  /** Frame/sample extraction: emit the byte at each requested offset (stand-in for
    * video frame sampling / audio windowing). Pure generator — posexplode, no state.
    * The format-AWARE forms are [[gifFrames]] (GIF image-descriptor walk) and
    * [[wavWindows]] (RIFF chunk walk + PCM windowing). */
  def sampleOffsets(media: DataFrame, offsets: Seq[Int]): DataFrame =
    media
      .withColumn("pos", explode(array(offsets.map(lit): _*)))
      .filter(col("pos") <= octet_length(col("payload")))
      .select(col("media_id"), col("pos"),
        hex(expr("substring(payload, pos, 1)")).as("sample_hex"))

  // ------------------------------------------------------------------
  // PNG: real pixel-level decode (zlib inflate + scanline unfilter),
  // encode, and nearest-neighbor resize — pure JVM (java.util.zip)
  // ------------------------------------------------------------------

  /** Refuse-pixel-bomb bound: a crafted IHDR claiming huge dimensions would
    * otherwise allocate before the (cheap) inflate fails. 64 MiB of raw
    * pixels is far above any fixture and far below executor memory. */
  private val MaxPngRawBytes = 1L << 26

  /** Decode a non-interlaced 8-bit truecolor PNG (color type 2 = RGB, 6 =
    * RGBA) to `(width, height, channels, pixels)` with `pixels` the raw
    * row-major samples (length w·h·channels). REAL decode per the public
    * PNG spec: chunk walk → concatenated IDAT zlib-inflate
    * (`java.util.zip.Inflater`) → per-scanline unfilter (None/Sub/Up/
    * Average/Paeth). None for anything else — other color types/bit depths,
    * interlaced images, truncated or oversized payloads (never throw on
    * untrusted bytes — the [[resizeBmp]] contract). */
  def decodePngPixels(payload: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    val b = payload
    if (decodeHeader(b)._1 != "png" || b.length < 33) return None
    val w = beInt(b, 16); val h = beInt(b, 20)
    val bitDepth = b(24) & 0xff; val colorType = b(25) & 0xff
    val compression = b(26) & 0xff; val filterMethod = b(27) & 0xff
    val interlace = b(28) & 0xff
    val bpp = colorType match { case 2 => 3; case 6 => 4; case _ => return None }
    if (bitDepth != 8 || compression != 0 || filterMethod != 0 || interlace != 0 ||
        w < 1 || h < 1) return None
    val stride = 1L + w.toLong * bpp
    val rawLen = stride * h
    if (rawLen > MaxPngRawBytes) return None
    // chunk walk: [len:4 BE][type:4][data][crc:4], IDAT data concatenates;
    // every chunk's CRC32 (over type + data) is VERIFIED — a bit-flipped
    // chunk is a refusal, matching the "refuse what it cannot faithfully
    // decode" contract
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var end = false
    while (!end && i + 8 <= b.length) {
      val len = beInt(b, i)
      if (len < 0 || i + 12L + len > b.length) return None // truncated chunk
      val crc = new java.util.zip.CRC32()
      crc.update(b, i + 4, 4 + len)
      if (crc.getValue.toInt != beInt(b, i + 8 + len)) return None // corrupt chunk
      val isType = (s: String) => s.indices.forall(j => (b(i + 4 + j) & 0xff) == s.charAt(j))
      if (isType("IDAT")) idat.write(b, i + 8, len)
      else if (isType("IEND")) end = true
      i += 12 + len
    }
    if (idat.size == 0) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        // needsInput: stream shorter than IHDR claims; needsDictionary: a
        // crafted FDICT zlib header would otherwise return 0 forever — both
        // are refusals, never a hang on untrusted bytes
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got < raw.length) return None
      // refuse trailing compressed data: an IDAT stream
      // carrying MORE scanlines than IHDR claims would otherwise decode
      // silently as a valid image — probe one more byte and require the
      // stream to be genuinely finished
      if (inf.inflate(new Array[Byte](1)) > 0 || !inf.finished()) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    // unfilter in place into the output pixel array
    val px = new Array[Byte](w * h * bpp)
    val rowBytes = w * bpp
    var y = 0
    while (y < h) {
      val ft = raw(y * stride.toInt) & 0xff
      val src = y * stride.toInt + 1
      val dst = y * rowBytes
      var x = 0
      while (x < rowBytes) {
        val cur = raw(src + x) & 0xff
        val left = if (x >= bpp) px(dst + x - bpp) & 0xff else 0
        val up = if (y > 0) px(dst - rowBytes + x) & 0xff else 0
        val ul = if (y > 0 && x >= bpp) px(dst - rowBytes + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 => // Paeth predictor
            val pa = math.abs(up - ul); val pb = math.abs(left - ul)
            val pc = math.abs(left + up - 2 * ul)
            cur + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => return None // invalid filter type
        }
        px(dst + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some((w, h, bpp, px))
  }

  /** Encode raw row-major 8-bit samples as a valid non-interlaced truecolor
    * PNG (filter type 0 on every scanline, one zlib-deflated IDAT,
    * CRC32-checksummed chunks) — the genuine inverse of
    * [[decodePngPixels]]. */
  def encodePng(width: Int, height: Int, channels: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    require(channels == 3 || channels == 4, s"channels must be 3 or 4, got $channels")
    require(pixels.length == width * height * channels,
      s"pixels length ${pixels.length} != $width*$height*$channels")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def beBytes(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      val t = typ.getBytes("US-ASCII")
      out.write(beBytes(data.length), 0, 4)
      out.write(t, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      out.write(beBytes(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (width >>> 24).toByte; ihdr(1) = (width >>> 16).toByte
    ihdr(2) = (width >>> 8).toByte; ihdr(3) = width.toByte
    ihdr(4) = (height >>> 24).toByte; ihdr(5) = (height >>> 16).toByte
    ihdr(6) = (height >>> 8).toByte; ihdr(7) = height.toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = (if (channels == 3) 2 else 6).toByte // color type
    chunk("IHDR", ihdr)
    val rowBytes = width * channels
    val raw = new Array[Byte]((1 + rowBytes) * height)
    var y = 0
    while (y < height) { // filter byte 0 + literal row
      System.arraycopy(pixels, y * rowBytes, raw, y * (1 + rowBytes) + 1, rowBytes)
      y += 1
    }
    val def_ = new java.util.zip.Deflater()
    val buf = new Array[Byte](8192)
    val z = new java.io.ByteArrayOutputStream()
    try {
      def_.setInput(raw); def_.finish()
      while (!def_.finished()) z.write(buf, 0, def_.deflate(buf))
    } finally def_.end()
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real pixel-level nearest-neighbor resize of a decodable PNG
    * ([[decodePngPixels]] → sample (⌊x·srcW/dstW⌋, ⌊y·srcH/dstH⌋) →
    * [[encodePng]]) — the PNG sibling of [[resizeBmp]], same None contract
    * for undecodable payloads. Alpha channels survive (RGBA stays RGBA). */
  def resizePng(payload: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    require(dstW >= 1 && dstH >= 1, s"bad dst dims ${dstW}x$dstH")
    decodePngPixels(payload).map { case (w, h, bpp, px) =>
      val outPx = new Array[Byte](dstW * dstH * bpp)
      var y = 0
      while (y < dstH) {
        val sy = (y.toLong * h / dstH).toInt
        var x = 0
        while (x < dstW) {
          val sx = (x.toLong * w / dstW).toInt
          var c = 0
          while (c < bpp) {
            outPx((y * dstW + x) * bpp + c) = px((sy * w + sx) * bpp + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      encodePng(dstW, dstH, bpp, outPx)
    }
  }

  /** Real-encoded synthetic PNG table: dims a pure function of doc_id
    * (the [[syntheticImagesFromDocuments]] arithmetic), even ids RGB / odd
    * ids RGBA, LCG pixel samples — so resize oracles recompute format and
    * dimensions while this side round-trips actual deflated scanlines. */
  def syntheticPngsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 16).toInt + 1; val h = (id % 12).toInt + 1
        val bpp = if (id % 2 == 0) 3 else 4
        val px = new Array[Byte](w * h * bpp)
        var p = id
        var i = 0
        while (i < px.length) {
          p = p * 6364136223846793005L + 1442695040888963407L
          px(i) = ((p >>> 32) & 0xff).toByte
          i += 1
        }
        MediaRecord(id, "image/png", encodePng(w, h, bpp, px))
      }
    }
  }

  // ------------------------------------------------------------------
  // GIF: real frame walk over the block structure (GIF89a spec)
  // ------------------------------------------------------------------

  /** One animation frame's placement, from the image descriptor. */
  case class GifFrame(media_id: Long, frame_idx: Int, frame_left: Int,
                      frame_top: Int, frame_w: Int, frame_h: Int)

  /** Walk a GIF's block structure and return every image descriptor's
    * `(left, top, w, h)` — the REAL frame enumeration per the public GIF89a
    * spec: after the 13-byte header + logical screen descriptor (and the
    * global color table when its flag is set), the stream is a sequence of
    *  - `0x2C` image descriptors (9 bytes: left/top/w/h LE uint16 + packed;
    *    optional local color table; 1 byte LZW min code size; data
    *    sub-blocks `[len][len bytes]…0`),
    *  - `0x21` extension blocks (label byte + sub-blocks), and
    *  - the `0x3B` trailer.
    * No pixel decompression — frame geometry lives entirely in the
    * descriptors. Truncated or desynced payloads return the frames parsed so
    * far (never throw on untrusted bytes — the [[resizeBmp]] contract). */
  def gifFrameWalk(payload: Array[Byte]): Seq[(Int, Int, Int, Int)] = {
    val b = payload
    // decodeHeader accepts >= 10 bytes (through the dimension fields); the
    // walk needs the FULL 13-byte header + logical screen descriptor before
    // reading the packed byte at 10 — a 10-12-byte truncation returns Nil
    if (decodeHeader(b)._1 != "gif" || b.length < 13) return Nil
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int)]()
    def colorTableLen(packed: Int): Int =
      if ((packed & 0x80) != 0) 3 * (1 << ((packed & 0x07) + 1)) else 0
    var i = 13 + colorTableLen(b(10) & 0xff) // header + LSD + GCT
    // skip [len][bytes] sub-blocks through the 0 terminator; -1 = truncated
    def skipSubBlocks(start: Int): Int = {
      var j = start
      while (j < b.length && (b(j) & 0xff) != 0) j += 1 + (b(j) & 0xff)
      if (j < b.length) j + 1 else -1
    }
    var done = false
    while (!done && i < b.length) {
      (b(i) & 0xff) match {
        case 0x2c if i + 9 < b.length =>
          frames += ((leShort(b, i + 1), leShort(b, i + 3),
            leShort(b, i + 5), leShort(b, i + 7)))
          val j = i + 10 + colorTableLen(b(i + 9) & 0xff) + 1 // + LZW min code size
          i = if (j <= b.length) skipSubBlocks(j) else -1
        case 0x21 => i = skipSubBlocks(i + 2) // introducer + label, then sub-blocks
        case 0x3b => done = true
        case _ => done = true // truncated descriptor or desynced — stop
      }
      if (i < 0) done = true
    }
    frames.toSeq
  }

  /** Decode a GIF LZW code stream (the concatenated image-data sub-blocks)
    * into its pixel indices — the FULL variable-width algorithm per the
    * public GIF89a spec appendix, not just the clear-code fixture subset:
    * codes pack LSB-first; the dictionary starts at `2^minCodeSize` roots +
    * clear + end-of-information, grows one entry per decoded code, widens
    * the code size whenever the next code would not fit (up to the 12-bit
    * cap, after which entries stop growing until a clear — the deferred-
    * clear mode real encoders emit), handles the KwKwK forward-reference
    * case, and resets on every clear code. Returns None — never throws, the
    * [[resizeBmp]] untrusted-bytes contract — for malformed streams: an
    * out-of-range code, output beyond `maxPixels`, or the stream ending
    * before end-of-information. Dictionary entries expand via parent-chain
    * arrays (prefix/suffix), O(output) total, no per-entry byte copies. */
  def gifLzwDecode(minCodeSize: Int, data: Array[Byte],
                   maxPixels: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 8 || maxPixels < 0) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    val out = new java.io.ByteArrayOutputStream()
    var dictSize = eoi + 1
    var codeSize = minCodeSize + 1
    var bitBuf = 0; var bitCnt = 0; var pos = 0
    def readCode(): Int = {
      while (bitCnt < codeSize) {
        if (pos >= data.length) return -1
        bitBuf |= (data(pos) & 0xff) << bitCnt
        bitCnt += 8; pos += 1
      }
      val c = bitBuf & ((1 << codeSize) - 1)
      bitBuf >>>= codeSize; bitCnt -= codeSize
      c
    }
    // expand a code's byte sequence onto the stack (reversed parent chain);
    // returns its FIRST byte, or -1 on a corrupt chain
    def emit(code: Int): Int = {
      var c = code; var sp = 0
      while (c >= clear) { // dictionary entry: walk to its root
        if (sp >= stack.length) return -1 // cycle — corrupt dictionary
        stack(sp) = suffix(c); sp += 1; c = prefix(c)
      }
      val first = c
      out.write(c)
      while (sp > 0) { sp -= 1; out.write(stack(sp) & 0xff) }
      first
    }
    var prev = -1
    var code = readCode()
    while (code != eoi) {
      if (code < 0) return None // bits ran out before end-of-information
      if (code == clear) {
        dictSize = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else {
        if (code > dictSize || (code == dictSize && prev < 0)) return None
        val first =
          if (code == dictSize) { // KwKwK: the code being defined right now
            val f = emit(prev)
            if (f < 0) return None
            out.write(f); f
          } else emit(code)
        if (first < 0) return None
        if (out.size > maxPixels) return None
        if (prev >= 0 && dictSize < 4096) {
          prefix(dictSize) = prev; suffix(dictSize) = first.toByte
          dictSize += 1
          // widen when the NEXT code would not fit (12-bit cap per spec)
          if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
      code = readCode()
    }
    Some(out.toByteArray)
  }

  /** One frame's geometry plus position-checksummed pixel features from the
    * REAL LZW decode: `n_pixels` must equal w·h (decode-length gate),
    * `pixel_sum` is the plain sum and `pixel_poly` the position-weighted sum
    * `Σ (j+1)·px(j)` — the pair detects any value error AND any transposition
    * (a plain sum alone is permutation-blind), with first/last pinning the
    * endpoints. All exact integers an oracle recomputes from the fixture's
    * pixel function. */
  case class GifFramePixels(media_id: Long, frame_idx: Int, frame_w: Int,
                            frame_h: Int, n_pixels: Long, pixel_sum: Long,
                            pixel_poly: Long, pixel_first: Int, pixel_last: Int)

  /** Pixel-bomb bound for the GIF pixel walk — the [[MaxPngRawBytes]] analog:
    * a crafted descriptor claiming (w, h) near 65535² would otherwise force a
    * multi-GB allocation from a few-hundred-KB LZW stream (full-dictionary
    * chains expand ~4 KB per 12 input bits). Frames above the cap are
    * dropped, never decoded. */
  private val MaxGifFramePixels = 1L << 26

  /** Walk a GIF like [[gifFrameWalk]] but also CONCATENATE each image's data
    * sub-blocks and LZW-decode them ([[gifLzwDecode]]) — a genuine pixel
    * decode, not a structure-only stand-in: frame geometry comes from the
    * descriptors, pixels from the variable-width decode, and interlaced frames (packed bit 0x40)
    * de-interlace into row order per the spec's four-pass layout. Returns
    * `(descriptor_idx, left, top, w, h, pixels)` — the index counts IMAGE
    * DESCRIPTORS (the [[gifFrames]] numbering), so a dropped earlier frame
    * never shifts a later frame's identity. Frames whose stream is
    * malformed, whose decode length ≠ w·h, or whose w·h exceeds
    * [[MaxGifFramePixels]] are dropped (refuse what cannot be faithfully
    * decoded; the bound is checked in LONG, so 65535² cannot wrap); the walk
    * itself still never throws on truncated or desynced payloads. Kept
    * separate from the geometry-only walk so that face stays
    * allocation-free. */
  def gifFrameWalkPixels(payload: Array[Byte]): Seq[(Int, Int, Int, Int, Int, Array[Byte])] = {
    val b = payload
    if (decodeHeader(b)._1 != "gif" || b.length < 13) return Nil
    val frames = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Int, Int, Array[Byte])]()
    var descIdx = -1
    def colorTableLen(packed: Int): Int =
      if ((packed & 0x80) != 0) 3 * (1 << ((packed & 0x07) + 1)) else 0
    var i = 13 + colorTableLen(b(10) & 0xff)
    def skipSubBlocks(start: Int): Int = {
      var j = start
      while (j < b.length && (b(j) & 0xff) != 0) j += 1 + (b(j) & 0xff)
      if (j < b.length) j + 1 else -1
    }
    // concatenate [len][bytes] sub-blocks; None = truncated mid-block
    def collectSubBlocks(start: Int): Option[(Array[Byte], Int)] = {
      val out = new java.io.ByteArrayOutputStream()
      var j = start
      while (j < b.length && (b(j) & 0xff) != 0) {
        val n = b(j) & 0xff
        if (j + 1 + n > b.length) return None
        out.write(b, j + 1, n)
        j += 1 + n
      }
      if (j < b.length) Some((out.toByteArray, j + 1)) else None
    }
    // spec four-pass interlace: stored rows are (0,8,16..), (4,12..),
    // (2,6,10..), (1,3,5..) — map back to display order
    def deinterlace(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val outRows = new Array[Byte](px.length)
      var src = 0
      for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until h by step) {
        System.arraycopy(px, src * w, outRows, y * w, w)
        src += 1
      }
      outRows
    }
    var done = false
    while (!done && i < b.length) {
      (b(i) & 0xff) match {
        case 0x2c if i + 9 < b.length =>
          descIdx += 1
          val (l, t, w, h) = (leShort(b, i + 1), leShort(b, i + 3),
            leShort(b, i + 5), leShort(b, i + 7))
          val interlaced = (b(i + 9) & 0x40) != 0
          val j = i + 10 + colorTableLen(b(i + 9) & 0xff)
          if (j < b.length) {
            val minCode = b(j) & 0xff
            collectSubBlocks(j + 1) match {
              case Some((data, next)) =>
                val nPx = w.toLong * h // LONG: 65535 x 65535 would wrap an Int
                if (nPx > 0 && nPx <= MaxGifFramePixels)
                  gifLzwDecode(minCode, data, maxPixels = nPx.toInt).foreach { px =>
                    if (px.length == nPx)
                      frames += ((descIdx, l, t, w, h,
                        if (interlaced) deinterlace(px, w, h) else px))
                  }
                i = next
              case None => done = true
            }
          } else done = true
        case 0x21 => i = skipSubBlocks(i + 2)
        case 0x3b => done = true
        case _ => done = true
      }
      if (i < 0) done = true
    }
    frames.toSeq
  }

  /** Format-aware PIXEL extraction: one row per decodable GIF frame with the
    * [[GifFramePixels]] checksums over the LZW-decoded indices — typed
    * flatMap in the [[extractFeatures]] per-partition-init shape, map-only
    * (payloads never shuffle); non-GIF rows and undecodable frames emit
    * nothing. `frame_idx` is the DESCRIPTOR index (the [[gifFrames]]
    * numbering): a dropped undecodable earlier frame leaves later frames'
    * identities intact, so joining pixel features against [[gifFrames]]
    * geometry on (media_id, frame_idx) is always sound. */
  def gifFramePixels(spark: SparkSession, media: DataFrame): Dataset[GifFramePixels] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        gifFrameWalkPixels(r.payload).map { case (i, _, _, w, h, px) =>
          val (sum, poly, first, last) = sampleChecksums(px)
          GifFramePixels(r.media_id, i, w, h, px.length.toLong, sum, poly, first, last)
        }
      }
    }
  }

  /** Build a genuine GIF89a file: header, logical screen descriptor with a
    * 128-entry global color table, and per frame a graphic-control extension
    * + image descriptor + VALID LZW image data. The LZW stream uses min code
    * size 7 with a clear code before every pixel code — each code is then
    * exactly 8 bits and byte-aligned, the dictionary never grows, and any
    * conforming decoder reproduces the pixel bytes (the standard
    * "uncompressed GIF" encoding trick) — so fixtures are decodable files,
    * not placeholder blobs ([[encodeBmp]] precedent). Pixels default to the
    * header-continuing LCG stream; `pixelFn(frameIdx, pixelIdx)` overrides
    * them with a caller-chosen (e.g. oracle-arithmetic) function — the
    * color table always stays LCG, so default output is byte-identical to
    * the pre-pixelFn encoder. */
  def encodeGif(screenW: Int, screenH: Int,
                frames: Seq[(Int, Int, Int, Int)], seed: Long = 0L,
                pixelFn: Option[(Int, Int) => Int] = None): Array[Byte] = {
    require(screenW >= 1 && screenH >= 1, s"bad screen ${screenW}x$screenH")
    require(frames.nonEmpty, "a GIF needs at least one frame")
    frames.foreach { case (l, t, w, h) =>
      require(l >= 0 && t >= 0 && w >= 1 && h >= 1 && l + w <= screenW && t + h <= screenH,
        s"frame ($l,$t,${w}x$h) outside ${screenW}x$screenH screen")
    }
    val out = new java.io.ByteArrayOutputStream()
    def putLeShort(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    putLeShort(screenW); putLeShort(screenH)
    out.write(0x80 | 0x70 | 0x06) // GCT present, 8-bit color res, 2^7 entries
    out.write(0); out.write(0)    // background index, aspect
    var p = seed
    def lcg(): Int = { p = p * 6364136223846793005L + 1442695040888963407L; ((p >>> 32) & 0xff).toInt }
    for (_ <- 0 until 3 * 128) out.write(lcg()) // global color table
    frames.zipWithIndex.foreach { case ((l, t, w, h), fi) =>
      // graphic control extension (fixed 4-byte block: no transparency, 4cs delay)
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); putLeShort(4); out.write(0); out.write(0)
      out.write(0x2c) // image descriptor
      putLeShort(l); putLeShort(t); putLeShort(w); putLeShort(h)
      out.write(0) // no local color table
      out.write(7) // LZW min code size -> 8-bit codes, clear=0x80, EOI=0x81
      val codes = new Array[Byte](2 * w * h + 1)
      var i = 0
      while (i < w * h) {
        codes(2 * i) = 0x80.toByte // clear: keep every code 8 bits
        codes(2 * i + 1) = (pixelFn.fold(lcg())(f => f(fi, i)) & 0x7f).toByte
        i += 1
      }
      codes(2 * w * h) = 0x81.toByte // end of information
      var off = 0
      while (off < codes.length) { // <=255-byte data sub-blocks
        val n = math.min(255, codes.length - off)
        out.write(n); out.write(codes, off, n); off += n
      }
      out.write(0) // block terminator
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Real-encoded synthetic animated-GIF table: doc_id % 3 + 1 frames, frame
    * `i` at (2i, i) sized (doc_id%16 + 1 + i) x (doc_id%12 + 1 + i) on a
    * 24x16 screen — pure doc_id arithmetic, so an oracle recomputes the walk's
    * output while THIS side round-trips it through actual GIF bytes. */
  def syntheticGifsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val frames = (0 to (id % 3).toInt).map { i =>
          (2 * i, i, (id % 16).toInt + 1 + i, (id % 12).toInt + 1 + i)
        }
        MediaRecord(id, "image/gif", encodeGif(24, 16, frames, seed = id))
      }
    }
  }

  /** [[syntheticGifsFromDocuments]]'s ORACLE-EXACT-pixel sibling: same
    * doc_id-arithmetic frame geometry, but pixel `j` of frame `i` is
    * `(doc_id·31 + i·257 + j·7) mod 127` — plain integer arithmetic a SQL
    * oracle recomputes per pixel (the [[encodeWavPcm16]] precedent), where
    * the default fixture's LCG stream cannot be followed in SQL. The encode
    * is still the genuine GIF89a byte path; only the payload pixels differ. */
  def syntheticGifsExactFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val frames = (0 to (id % 3).toInt).map { i =>
          (2 * i, i, (id % 16).toInt + 1 + i, (id % 12).toInt + 1 + i)
        }
        MediaRecord(id, "image/gif", encodeGif(24, 16, frames, seed = id,
          pixelFn = Some((i, j) => ((id * 31 + i * 257 + j * 7) % 127).toInt)))
      }
    }
  }

  /** Format-aware frame extraction: one row per GIF image descriptor —
    * typed flatMap in the [[extractFeatures]] per-partition-init shape,
    * map-only (payloads never shuffle); non-GIF rows emit nothing. */
  def gifFrames(spark: SparkSession, media: DataFrame): Dataset[GifFrame] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        gifFrameWalk(r.payload).zipWithIndex.map { case ((l, t, w, h), i) =>
          GifFrame(r.media_id, i, l, t, w, h)
        }
      }
    }
  }

  // ------------------------------------------------------------------
  // WAV: RIFF chunk walk + PCM16 audio windowing
  // ------------------------------------------------------------------

  /** One audio analysis window over a PCM WAV's sample frames: peak absolute
    * amplitude across ALL channels, total energy as the exact integer sum of
    * squared samples (all channels — the rounding-free form an oracle can
    * recompute; RMS is `sqrt(sum_sq / (n_samples·channels))` downstream),
    * and the zero-crossing count of CHANNEL 0 (sign changes between
    * consecutive frames within the window; the classic cheap VAD feature). */
  case class WavWindow(media_id: Long, window_idx: Int, start_sample: Long,
                       n_samples: Long, peak_abs: Long, sum_sq: Long,
                       zero_crossings: Long)

  /** Build a genuine PCM16 mono WAV (RIFF + fmt + data chunks per the public
    * RIFF/WAVE spec); sample `i` is the pure function
    * `(seed·31 + i·7) mod 4096 − 2048`, so window statistics are
    * oracle-recomputable while this side round-trips them through actual
    * RIFF bytes. */
  def encodeWavPcm16(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    require(nSamples >= 1 && sampleRate >= 1, s"bad wav params $nSamples@$sampleRate")
    val out = new Array[Byte](44 + 2 * nSamples)
    def putLe(i: Int, v: Int): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
      out(i + 2) = ((v >> 16) & 0xff).toByte; out(i + 3) = ((v >> 24) & 0xff).toByte
    }
    def putTag(i: Int, s: String): Unit = s.getBytes("US-ASCII").copyToArray(out, i)
    putTag(0, "RIFF"); putLe(4, 36 + 2 * nSamples); putTag(8, "WAVE")
    putTag(12, "fmt "); putLe(16, 16)
    out(20) = 1 // PCM
    out(22) = 1 // mono
    putLe(24, sampleRate); putLe(28, sampleRate * 2)
    out(32) = 2  // block align
    out(34) = 16 // bits per sample
    putTag(36, "data"); putLe(40, 2 * nSamples)
    var i = 0
    while (i < nSamples) {
      val v = ((seed * 31 + i * 7) % 4096 - 2048).toInt
      out(44 + 2 * i) = (v & 0xff).toByte
      out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Parse a WAV's RIFF chunk list and return
    * `(channels, dataOffset, dataLen)` for PCM16 payloads —
    * the chunk walk per the public spec (chunks are `[id:4][size:4 LE][data]`
    * padded to even length). ENFORCED: `fmt ` must precede `data` (the spec's
    * canonical order — sample bytes cannot be framed before the format is
    * known), and a malformed `fmt ` (size < 16) is a refusal, not a skip
    * (doc and untrusted-input behavior must agree). None
    * for non-WAV / non-PCM16 / truncated payloads (never throw on untrusted
    * bytes). */
  def wavPcm16Layout(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    val b = payload
    def tag(i: Int, s: String): Boolean =
      i + 4 <= b.length && s.indices.forall(j => (b(i + j) & 0xff) == s.charAt(j))
    if (b.length < 44 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var channels = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= b.length && (dataOff < 0 || channels < 0)) {
      val size = leInt(b, i + 4)
      // bound in LONG: a crafted chunk size near Int.MaxValue wraps the Int
      // sum negative and slips past the length check (the resizeBmp lesson)
      if (size < 0 || i + 8L + size > b.length) return None
      if (tag(i, "fmt ")) {
        if (size < 16) return None // malformed fmt: refuse, never skip
        val audioFormat = leShort(b, i + 8)
        val bits = leShort(b, i + 22)
        if (audioFormat != 1 || bits != 16) return None // PCM16 only
        channels = leShort(b, i + 10)
        if (channels < 1) return None
      } else if (tag(i, "data")) {
        if (channels < 1) return None // data before fmt: unframeable bytes
        dataOff = i + 8; dataLen = size
      }
      i += 8 + size + (size & 1) // chunks pad to even length
    }
    if (channels < 1 || dataOff < 0) None else Some((channels, dataOff, dataLen))
  }

  /** Format-aware audio windowing: fixed-size windows of `windowSamples`
    * sample FRAMES every `hopSamples` over each WAV's PCM16 data chunk,
    * emitting per window the peak absolute amplitude across all channels —
    * the feature-extraction shape a speech pipeline runs before VAD/ASR.
    * The last partial window is kept (its true length is reported). Typed
    * flatMap in the [[extractFeatures]] per-partition-init shape, map-only;
    * non-WAV rows emit nothing. */
  def wavWindows(spark: SparkSession, media: DataFrame,
                 windowSamples: Int = 32, hopSamples: Int = 16): Dataset[WavWindow] = {
    require(windowSamples >= 1 && hopSamples >= 1,
      s"bad window params $windowSamples/$hopSamples")
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        wavPcm16Layout(r.payload) match {
          case None => Iterator.empty
          case Some((channels, dataOff, dataLen)) =>
            val b = r.payload
            val frameBytes = 2 * channels
            val nFrames = dataLen / frameBytes
            Iterator.range(0, nFrames, hopSamples).zipWithIndex.map { case (start, k) =>
              val len = math.min(windowSamples, nFrames - start)
              var peak = 0L
              var sumSq = 0L
              var zc = 0L
              var prevNeg = false
              var f = 0
              while (f < len) {
                val base = dataOff + (start + f) * frameBytes
                var c = 0
                while (c < channels) {
                  val v = ((b(base + 2 * c) & 0xff) | (b(base + 2 * c + 1) << 8)).toShort.toInt
                  if (math.abs(v) > peak) peak = math.abs(v)
                  sumSq += v.toLong * v
                  if (c == 0) {
                    val neg = v < 0
                    if (f > 0 && neg != prevNeg) zc += 1
                    prevNeg = neg
                  }
                  c += 1
                }
                f += 1
              }
              WavWindow(r.media_id, k, start.toLong, len.toLong, peak, sumSq, zc)
            }
        }
      }
    }
  }

  /** Fixed-point DFT twiddle tables for [[wavSpectrum]]: for each requested
    * bin `b`, `C(b)(n) = round(cos(2πbn/W)·2^scaleBits)` and
    * `S(b)(n) = round(sin(2πbn/W)·2^scaleBits)`, n = 0..W−1. PUBLIC so the
    * oracle SQL embeds the very same integers as literals — the two sides
    * agree by construction, not by hoping two libm `cos` implementations
    * round identically. */
  def goertzelTables(windowSamples: Int, bins: Seq[Int], scaleBits: Int)
      : (Array[Array[Long]], Array[Array[Long]]) = {
    val c = bins.map { b =>
      Array.tabulate(windowSamples) { n =>
        math.round(math.cos(2.0 * math.Pi * b * n / windowSamples) * (1L << scaleBits))
      }
    }.toArray
    val s = bins.map { b =>
      Array.tabulate(windowSamples) { n =>
        math.round(math.sin(2.0 * math.Pi * b * n / windowSamples) * (1L << scaleBits))
      }
    }.toArray
    (c, s)
  }

  /** One (window, bin) spectral row: `real_fp`/`imag_fp` are the exact
    * integer inner products of channel-0 samples against the fixed-point
    * twiddle tables ([[goertzelTables]]), `power` = real² + imag² (the DFT
    * bin power at scale 2^(2·scaleBits)), and `centroid_num`/`centroid_den`
    * carry the window's spectral centroid as a rounding-free rational
    * (Σ bin·power / Σ power — the [[WavWindow]] sum_sq discipline: emit the
    * exact integers, divide downstream). */
  case class WavSpectrumBin(media_id: Long, window_idx: Int, start_sample: Long,
                            n_samples: Long, bin: Int, real_fp: Long,
                            imag_fp: Long, power: Long, centroid_num: Long,
                            centroid_den: Long)

  /** Windowed fixed-bin spectral features over PCM16 WAVs — the feature step
    * after [[wavWindows]]'s energy/ZCR: per analysis window, the DFT power
    * at a small FIXED set of bins plus the spectral centroid over those
    * bins. The Goertzel recurrence (`s_n = x_n + 2cos(ω)s_{n−1} − s_{n−2}`)
    * computes exactly this bin power with O(1) state per bin — the
    * fixed-point inner product below is the same quantity in EXACT integer
    * arithmetic (spec-asserted against a double Goertzel), which is what
    * lets a SQL oracle replay it term by term: both sides multiply the same
    * integer samples by the same integer twiddle literals. Spectral work
    * runs on CHANNEL 0 (the [[WavWindow]] zero-crossing convention). Typed
    * flatMap, map-only — payloads never shuffle; per-window bin powers and
    * the centroid are computed locally, so the operator adds zero exchanges
    * at any scale.
    *
    * Overflow contract: |real_fp| ≤ W·max|x|·2^scaleBits —
    * the Long accumulators fit for ANY PCM16 input (≤ 2^42 at the
    * defaults) — but `power = real² + imag²` and the centroid numerator
    * square that, so they fit Long only while W·max|x|·2^scaleBits <
    * ~2.1e9: true for fixture-scale audio (|x| ≤ 2048 at the defaults,
    * power ≤ 1.5e17) and FALSE for full-scale ±32768 material (a loud
    * square wave reaches 2^84). Rather than silently wrap and break the
    * exact-integer contract, power/centroid accumulate via
    * `Math.multiplyExact`/`addExact` and overflow throws an
    * `ArithmeticException` naming the window and the fix (lower scaleBits —
    * scaleBits ≤ 8 clears full-scale PCM16 at W = 32). */
  def wavSpectrum(spark: SparkSession, media: DataFrame,
                  windowSamples: Int = 32, hopSamples: Int = 16,
                  bins: Seq[Int] = Seq(1, 2, 4, 8),
                  scaleBits: Int = 12): Dataset[WavSpectrumBin] = {
    require(windowSamples >= 1 && hopSamples >= 1,
      s"bad window params $windowSamples/$hopSamples")
    require(bins.nonEmpty && bins.forall(b => b >= 0 && b <= windowSamples / 2),
      s"bins must lie in [0, W/2], got $bins")
    require(scaleBits >= 1 && scaleBits <= 20, s"bad scaleBits $scaleBits")
    val (ct, st) = goertzelTables(windowSamples, bins, scaleBits)
    val binArr = bins.toArray
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        wavPcm16Layout(r.payload) match {
          case None => Iterator.empty
          case Some((channels, dataOff, dataLen)) =>
            val b = r.payload
            val frameBytes = 2 * channels
            val nFrames = dataLen / frameBytes
            Iterator.range(0, nFrames, hopSamples).zipWithIndex.flatMap { case (start, k) =>
              val len = math.min(windowSamples, nFrames - start)
              val reals = new Array[Long](binArr.length)
              val imags = new Array[Long](binArr.length)
              var m = 0
              while (m < len) {
                val base = dataOff + (start + m) * frameBytes
                val x = ((b(base) & 0xff) | (b(base + 1) << 8)).toShort.toLong
                var bi = 0
                while (bi < binArr.length) {
                  reals(bi) += x * ct(bi)(m)
                  imags(bi) += x * st(bi)(m)
                  bi += 1
                }
                m += 1
              }
              val powers = new Array[Long](binArr.length)
              var num = 0L; var den = 0L
              var bi = 0
              try {
                while (bi < binArr.length) {
                  val p = Math.addExact(Math.multiplyExact(reals(bi), reals(bi)),
                    Math.multiplyExact(imags(bi), imags(bi)))
                  powers(bi) = p
                  num = Math.addExact(num, Math.multiplyExact(binArr(bi).toLong, p))
                  den = Math.addExact(den, p)
                  bi += 1
                }
              } catch {
                case _: ArithmeticException => throw new ArithmeticException(
                  s"wavSpectrum power/centroid overflows Long at media_id=" +
                    s"${r.media_id} window=$k (|real_fp| up to W*max|x|*2^" +
                    s"$scaleBits squares past 2^63): lower scaleBits — " +
                    "scaleBits <= 8 clears full-scale PCM16 at W = 32")
              }
              binArr.indices.map { i =>
                WavSpectrumBin(r.media_id, k, start.toLong, len.toLong, binArr(i),
                  reals(i), imags(i), powers(i), num, den)
              }
            }
        }
      }
    }
  }

  /** Real-encoded synthetic WAV table: `64 + doc_id % 37` mono samples at
    * 8 kHz, sample values the doc_id-arithmetic function [[encodeWavPcm16]]
    * documents — so the windowing oracle is exact SQL. */
  def syntheticWavsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        MediaRecord(id, "audio/wav",
          encodeWavPcm16(64 + (id % 37).toInt, 8000, seed = id))
      }
    }
  }

  // ------------------------------------------------------------------
  // JPEG: baseline (ITU-T T.81 / SOF0) encode + decode — DQT/DHT/DRI/SOS
  // marker walk, canonical Huffman entropy coding with byte stuffing and
  // restart markers, separable FDCT/IDCT — pure JVM, no codec libraries
  // ------------------------------------------------------------------

  /** Zigzag scan order: zigzag position → natural (row-major) position. */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** T.81 Annex K "typical" luminance Huffman tables (BITS + HUFFVAL). The
    * encoder EMBEDS them in DHT segments and the decoder rebuilds its tables
    * from the file's DHT, so the two sides share no hidden state — a third-
    * party baseline decoder reads our files and vice versa. */
  private val JpegDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val JpegDcVals: Array[Byte] = (0 to 11).map(_.toByte).toArray
  private val JpegAcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private val JpegAcVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)

  private val JpegCosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((u, x) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private val JpegC: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** Separable 2-D forward DCT with T.81 scaling — input/output natural
    * (row-major) order; input is level-shifted samples. */
  private def jpegFdct(f: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64); val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0; var x = 0
        while (x < 8) { s += f(y * 8 + x) * JpegCosT(u)(x); x += 1 }
        tmp(y * 8 + u) = s * JpegC(u) / 2; u += 1
      }
      y += 1
    }
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0; var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * JpegCosT(v)(yy); yy += 1 }
        out(v * 8 + u) = s * JpegC(v) / 2; v += 1
      }
      u += 1
    }
    out
  }

  /** Separable 2-D inverse DCT — input dequantized coefficients in natural
    * order, output level-shifted samples in natural order. A DC-only block
    * reconstructs EXACTLY flat (DC/8 in every cell up to float ulps), which
    * is what makes the flat-block fixtures oracle-exact end to end. */
  private def jpegIdct(coef: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64); val out = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += JpegC(u) * coef(v * 8 + u) * JpegCosT(u)(x); u += 1 }
        tmp(v * 8 + x) = s / 2; x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0; var vv = 0
        while (vv < 8) { s += JpegC(vv) * tmp(vv * 8 + x) * JpegCosT(vv)(y); vv += 1 }
        out(y * 8 + x) = s / 2; x += 1
      }
      y += 1
    }
    out
  }

  /** Canonical Huffman ENCODE table from (BITS, HUFFVAL): value → packed
    * (len << 16) | code. */
  private def jpegHuffEncodeTable(bits: Array[Int], vals: Array[Byte]): Array[Int] = {
    val table = Array.fill(256)(-1)
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k) & 0xff) = (len << 16) | code
        code += 1; k += 1; i += 1
      }
      code <<= 1; len += 1
    }
    table
  }

  /** Canonical Huffman DECODE table (T.81 F.2.2.3 mincode/maxcode/valptr).
    * Returns None for an infeasible code-length spectrum (more codes at a
    * length than the prefix space allows) — a crafted DHT refuses instead of
    * desyncing the entropy decode. */
  private def jpegHuffDecodeTable(bits: Array[Int], vals: Array[Byte])
      : Option[(Array[Int], Array[Int], Array[Int], Array[Byte])] = {
    val mincode = new Array[Int](17); val maxcode = Array.fill(17)(-1)
    val valptr = new Array[Int](17)
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      if (bits(len - 1) > 0) {
        valptr(len) = k; mincode(len) = code
        code += bits(len - 1); k += bits(len - 1)
        if (code > (1 << len)) return None // over-subscribed prefix space
        maxcode(len) = code - 1
      }
      code <<= 1; len += 1
    }
    if (k != vals.length) return None
    Some((mincode, maxcode, valptr, vals))
  }

  /** Bit-magnitude category of a coefficient (T.81 SSSS). */
  private def jpegMagSize(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Encode a baseline JPEG (SOF0): 1 plane = grayscale, 3 planes = YCbCr
    * 4:4:4. Planes are w·h unsigned bytes each, row-major; `quant` is the
    * luminance quantization table in NATURAL order (all components share it;
    * the all-ones default is lossless for flat blocks — DC 8·(v−128) is an
    * exact integer and every AC rounds to 0). `restartInterval` > 0 emits a
    * DRI segment and RST0–7 markers every that many MCUs with DC-predictor
    * resets, the T.81 resync protocol. Edge blocks pad by edge replication.
    * The entropy coder byte-stuffs 0xFF→0xFF 0x00 and pads the final byte
    * with 1-bits per the spec. */
  def encodeJpeg(width: Int, height: Int, planes: Array[Array[Byte]],
                 quant: Array[Int] = Array.fill(64)(1),
                 restartInterval: Int = 0): Array[Byte] = {
    // SOF0/DRI carry these as uint16: values past 65535 would silently
    // truncate into a corrupt-but-well-formed file — refuse at encode time
    require(width >= 1 && height >= 1 && width <= 65535 && height <= 65535,
      s"bad dims ${width}x$height (JPEG dimensions are uint16)")
    require(planes.length == 1 || planes.length == 3, s"${planes.length} planes")
    require(planes.forall(_.length == width * height), "plane size != w*h")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255), "bad quant")
    require(restartInterval >= 0 && restartInterval <= 65535,
      s"bad restart interval $restartInterval (DRI carries uint16)")
    val n = planes.length
    val out = new java.io.ByteArrayOutputStream()
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xe0); be16(16) // APP0 / JFIF 1.1, no density, no thumbnail
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0); be16(1); be16(1); out.write(0); out.write(0)
    marker(0xdb); be16(2 + 1 + 64); out.write(0) // DQT: Pq=0 (8-bit), Tq=0
    var zz = 0
    while (zz < 64) { out.write(quant(JpegZigzag(zz)) & 0xff); zz += 1 }
    marker(0xc0); be16(8 + 3 * n); out.write(8); be16(height); be16(width); out.write(n)
    var c = 0
    while (c < n) { out.write(c + 1); out.write(0x11); out.write(0); c += 1 }
    marker(0xc4) // DHT: DC class 0 id 0 + AC class 1 id 0 in one segment
    be16(2 + (1 + 16 + JpegDcVals.length) + (1 + 16 + JpegAcVals.length))
    out.write(0x00); JpegDcBits.foreach(out.write); out.write(JpegDcVals)
    out.write(0x10); JpegAcBits.foreach(out.write); out.write(JpegAcVals)
    if (restartInterval > 0) { marker(0xdd); be16(4); be16(restartInterval) }
    marker(0xda); be16(6 + 2 * n); out.write(n)
    c = 0
    while (c < n) { out.write(c + 1); out.write(0x00); c += 1 }
    out.write(0); out.write(63); out.write(0) // Ss/Se/AhAl — full baseline scan

    val dcTab = jpegHuffEncodeTable(JpegDcBits, JpegDcVals)
    val acTab = jpegHuffEncodeTable(JpegAcBits, JpegAcVals)
    var bitAcc = 0; var bitCnt = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        bitAcc = (bitAcc << 1) | ((code >>> i) & 1); bitCnt += 1
        if (bitCnt == 8) {
          out.write(bitAcc); if (bitAcc == 0xff) out.write(0)
          bitAcc = 0; bitCnt = 0
        }
        i -= 1
      }
    }
    def alignOnes(): Unit = while (bitCnt != 0) putBits(1, 1)
    def putCoded(tab: Array[Int], sym: Int): Unit = {
      val packed = tab(sym)
      putBits(packed & 0xffff, packed >>> 16)
    }
    def putMagnitude(v: Int): Unit = {
      val s = jpegMagSize(v)
      if (s > 0) putBits(if (v < 0) v + (1 << s) - 1 else v, s)
    }
    val mcusX = (width + 7) / 8; val mcusY = (height + 7) / 8
    val pred = new Array[Int](n)
    val block = new Array[Double](64)
    var mcu = 0; var rst = 0
    var by = 0
    while (by < mcusY) {
      var bx = 0
      while (bx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          alignOnes(); marker(0xd0 + (rst % 8)); rst += 1
          java.util.Arrays.fill(pred, 0)
        }
        c = 0
        while (c < n) {
          val plane = planes(c)
          var y = 0
          while (y < 8) {
            val sy = math.min(by * 8 + y, height - 1)
            var x = 0
            while (x < 8) {
              val sx = math.min(bx * 8 + x, width - 1)
              block(y * 8 + x) = (plane(sy * width + sx) & 0xff) - 128.0
              x += 1
            }
            y += 1
          }
          val freq = jpegFdct(block)
          val q0 = Math.round(freq(0) / quant(0)).toInt
          putCoded(dcTab, jpegMagSize(q0 - pred(c))); putMagnitude(q0 - pred(c))
          pred(c) = q0
          var run = 0; var k = 1
          while (k < 64) {
            val nat = JpegZigzag(k)
            val qv = Math.round(freq(nat) / quant(nat)).toInt
            if (qv == 0) run += 1
            else {
              while (run > 15) { putCoded(acTab, 0xf0); run -= 16 } // ZRL
              putCoded(acTab, (run << 4) | jpegMagSize(qv)); putMagnitude(qv)
              run = 0
            }
            k += 1
          }
          if (run > 0) putCoded(acTab, 0x00) // EOB
          c += 1
        }
        mcu += 1; bx += 1
      }
      by += 1
    }
    alignOnes()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Grayscale convenience wrapper: pixel (x, y) from `pixelAt`. */
  def encodeJpegGray(width: Int, height: Int, pixelAt: (Int, Int) => Int,
                     quant: Array[Int] = Array.fill(64)(1),
                     restartInterval: Int = 0): Array[Byte] = {
    val plane = new Array[Byte](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { plane(y * width + x) = (pixelAt(x, y) & 0xff).toByte; x += 1 }
      y += 1
    }
    encodeJpeg(width, height, Array(plane), quant, restartInterval)
  }

  /** Refuse-pixel-bomb bound for JPEG decode, the [[MaxPngRawBytes]] twin: a
    * crafted SOF0 claiming 65535×65535×3 would otherwise allocate ~12 GiB
    * before the (cheap) entropy decode fails. */
  private val MaxJpegRawBytes = 1L << 26

  /** JFIF YCbCr↔RGB rounding: round half-up, clamp to a byte — ONE
    * definition shared by decode and re-encode so the two directions can
    * never drift (and the SQL oracles track a single formula). */
  private def jpegClampByte(d: Double): Byte =
    math.max(0, math.min(255, Math.round(d).toInt)).toByte

  /** The per-sample checksum quartet every pixel-emitting face shares —
    * (sum, position-weighted poly, first, last) over an unsigned byte
    * stream. One definition serves [[gifFramePixels]], [[jpegPixels]], and
    * [[aviFramePixels]]: the oracles recompute this exact formula, so a
    * drift in one copy would surface as a baffling single-family hash
    * mismatch — keep it impossible. */
  private def sampleChecksums(px: Array[Byte]): (Long, Long, Int, Int) = {
    var sum = 0L; var poly = 0L; var j = 0
    while (j < px.length) {
      val v = px(j) & 0xff
      sum += v; poly += (j + 1).toLong * v; j += 1
    }
    (sum, poly,
      if (px.nonEmpty) px(0) & 0xff else -1,
      if (px.nonEmpty) px(px.length - 1) & 0xff else -1)
  }

  /** Decode a baseline JPEG: returns (width, height, channels, samples) with
    * samples row-major, interleaved for 3-channel (YCbCr→RGB per the JFIF
    * matrix). Refuses — returns None, never throws — on anything it cannot
    * FAITHFULLY decode: progressive/arithmetic/lossless frames (SOF2+),
    * 12-bit precision, subsampled components (sampling factors ≠ 1×1),
    * over-subscribed Huffman tables, coefficient indices past 63, truncated
    * or desynced entropy data, missing restart markers, dimension bombs past
    * [[MaxJpegRawBytes]], and trailing bytes after EOI (the decodePngPixels
    * trailing-IDAT lesson: refuse what cannot be verified). */
  def decodeJpegPixels(payload: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    val b = payload
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var p = 2
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    // tables indexed by id 0-3; quant in NATURAL order
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[(Array[Int], Array[Int], Array[Int], Array[Byte])](4)
    val acT = new Array[(Array[Int], Array[Int], Array[Int], Array[Byte])](4)
    var width = 0; var height = 0; var nComp = 0
    var compQ: Array[Int] = null
    var restartInterval = 0
    var sawSof = false
    while (p + 4 <= b.length) {
      if (u8(p) != 0xff) return None
      var m = u8(p + 1)
      while (m == 0xff && p + 2 < b.length) { p += 1; m = u8(p + 1) } // fill bytes
      p += 2
      m match {
        case 0xd9 => return None // EOI before any scan
        case mk if mk >= 0xd0 && mk <= 0xd7 => return None // RST outside a scan
        case 0x01 => () // TEM, standalone
        case mk if (mk >= 0xe0 && mk <= 0xef) || mk == 0xfe => // APPn / COM
          if (p + 2 > b.length) return None
          val len = u16(p); if (len < 2 || p + len > b.length) return None
          p += len
        case 0xdb => // DQT
          if (p + 2 > b.length) return None
          val len = u16(p); if (len < 2 || p + len > b.length) return None
          var q = p + 2
          while (q < p + len) {
            val pq = u8(q) >> 4; val tq = u8(q) & 0x0f
            // Pq=1 (16-bit quant entries) is ILLEGAL in the baseline process
            // (T.81 §B.2.4.1: 8-bit sample precision requires Pq=0), and this
            // decoder is SOF0-only — refuse like every other cannot-decode-
            // faithfully case (subsampling, SOF2+), instead of leniently
            // widening the contract.
            if (pq != 0 || tq > 3) return None
            if (q + 1 + 64 > p + len) return None
            val tab = new Array[Int](64)
            var k = 0
            while (k < 64) {
              val v = u8(q + 1 + k)
              if (v < 1) return None
              tab(JpegZigzag(k)) = v; k += 1
            }
            qt(tq) = tab
            q += 1 + 64
          }
          if (q != p + len) return None
          p += len
        case 0xc4 => // DHT
          if (p + 2 > b.length) return None
          val len = u16(p); if (len < 2 || p + len > b.length) return None
          var q = p + 2
          while (q < p + len) {
            val tc = u8(q) >> 4; val th = u8(q) & 0x0f
            if (tc > 1 || th > 3 || q + 17 > p + len) return None
            val bits = Array.tabulate(16)(i => u8(q + 1 + i))
            val nv = bits.sum
            if (nv > 256 || q + 17 + nv > p + len) return None
            val vals = java.util.Arrays.copyOfRange(b, q + 17, q + 17 + nv)
            jpegHuffDecodeTable(bits, vals) match {
              case Some(t) => if (tc == 0) dcT(th) = t else acT(th) = t
              case None => return None
            }
            q += 17 + nv
          }
          if (q != p + len) return None
          p += len
        case 0xdd => // DRI
          if (p + 4 > b.length || u16(p) != 4) return None
          restartInterval = u16(p + 2)
          p += 4
        case 0xc0 | 0xc1 => // SOF0 baseline (SOF1 extended-sequential decodes identically)
          if (sawSof || p + 2 > b.length) return None
          val len = u16(p); if (len < 8 || p + len > b.length) return None
          if (u8(p + 2) != 8) return None // 12-bit precision: refuse
          height = u16(p + 3); width = u16(p + 5); nComp = u8(p + 7)
          if (width < 1 || height < 1) return None
          if (nComp != 1 && nComp != 3) return None
          if (len != 8 + 3 * nComp) return None
          if (width.toLong * height * nComp > MaxJpegRawBytes) return None
          compQ = new Array[Int](nComp)
          var ci = 0
          while (ci < nComp) {
            if (u8(p + 8 + 3 * ci) != ci + 1) return None // ids 1..n in order
            if (u8(p + 9 + 3 * ci) != 0x11) return None   // subsampling: refuse
            compQ(ci) = u8(p + 10 + 3 * ci)
            if (compQ(ci) > 3) return None
            ci += 1
          }
          sawSof = true
          p += len
        case mk if (mk >= 0xc2 && mk <= 0xcf) && mk != 0xc8 && mk != 0xcc =>
          return None // progressive / arithmetic / lossless / hierarchical
        case 0xda => // SOS → entropy-coded data
          if (!sawSof || p + 2 > b.length) return None
          val len = u16(p); if (len != 6 + 2 * nComp || p + len > b.length) return None
          if (u8(p + 2) != nComp) return None // single interleaved scan only
          val compDc = new Array[(Array[Int], Array[Int], Array[Int], Array[Byte])](nComp)
          val compAc = new Array[(Array[Int], Array[Int], Array[Int], Array[Byte])](nComp)
          var ci = 0
          while (ci < nComp) {
            if (u8(p + 3 + 2 * ci) != ci + 1) return None // frame order only
            val td = u8(p + 4 + 2 * ci) >> 4; val ta = u8(p + 4 + 2 * ci) & 0x0f
            if (td > 3 || ta > 3 || dcT(td) == null || acT(ta) == null) return None
            if (qt(compQ(ci)) == null) return None
            compDc(ci) = dcT(td); compAc(ci) = acT(ta)
            ci += 1
          }
          if (u8(p + 3 + 2 * nComp) != 0 || u8(p + 4 + 2 * nComp) != 63 ||
              u8(p + 5 + 2 * nComp) != 0) return None // baseline spectral params
          p += len
          // ---- entropy decode ----
          var bitBuf = 0; var bitCnt = 0; var fail = false
          def nextBit(): Int = {
            if (bitCnt == 0) {
              if (p >= b.length) { fail = true; return 0 }
              var byte = u8(p); p += 1
              if (byte == 0xff) {
                if (p >= b.length || u8(p) != 0x00) { fail = true; return 0 }
                p += 1 // stuffed 0xFF data byte
              }
              bitBuf = byte; bitCnt = 8
            }
            bitCnt -= 1
            (bitBuf >>> bitCnt) & 1
          }
          def decodeHuff(t: (Array[Int], Array[Int], Array[Int], Array[Byte])): Int = {
            val (mincode, maxcode, valptr, vals) = t
            var code = 0; var l = 1
            while (l <= 16 && !fail) {
              code = (code << 1) | nextBit()
              if (maxcode(l) >= 0 && code >= mincode(l) && code <= maxcode(l))
                return vals(valptr(l) + code - mincode(l)) & 0xff
              l += 1
            }
            fail = true; 0
          }
          def receiveExtend(s: Int): Int = {
            if (s == 0) return 0
            var v = 0; var i = 0
            while (i < s && !fail) { v = (v << 1) | nextBit(); i += 1 }
            if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
          }
          val mcusX = (width + 7) / 8; val mcusY = (height + 7) / 8
          val padW = mcusX * 8
          val planes = Array.fill(nComp)(new Array[Byte](padW * mcusY * 8))
          val pred = new Array[Int](nComp)
          val coef = new Array[Double](64)
          var mcu = 0; var rst = 0
          val totalMcus = mcusX * mcusY
          while (mcu < totalMcus && !fail) {
            if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
              bitCnt = 0 // discard padding bits, expect the RST marker
              if (p + 2 > b.length || u8(p) != 0xff || u8(p + 1) != 0xd0 + (rst % 8))
                fail = true
              else { p += 2; rst += 1; java.util.Arrays.fill(pred, 0) }
            }
            var cc = 0
            while (cc < nComp && !fail) {
              java.util.Arrays.fill(coef, 0.0)
              val q = qt(compQ(cc))
              val s = decodeHuff(compDc(cc))
              if (s > 15) fail = true
              if (!fail) {
                pred(cc) += receiveExtend(s)
                coef(0) = pred(cc).toDouble * q(0)
                var k = 1
                while (k < 64 && !fail) {
                  val rs = decodeHuff(compAc(cc))
                  val r = rs >> 4; val sz = rs & 0x0f
                  if (sz == 0) { if (r == 15) k += 16 else k = 64 } // ZRL / EOB
                  else {
                    k += r
                    if (k > 63) fail = true
                    else {
                      val nat = JpegZigzag(k)
                      coef(nat) = receiveExtend(sz).toDouble * q(nat)
                      k += 1
                    }
                  }
                }
              }
              if (!fail) {
                val px = jpegIdct(coef)
                val plane = planes(cc)
                val bx = mcu % mcusX; val byy = mcu / mcusX
                var y = 0
                while (y < 8) {
                  var x = 0
                  while (x < 8) {
                    val v = Math.round(px(y * 8 + x) + 128.0).toInt
                    plane((byy * 8 + y) * padW + bx * 8 + x) =
                      math.max(0, math.min(255, v)).toByte
                    x += 1
                  }
                  y += 1
                }
              }
              cc += 1
            }
            mcu += 1
          }
          if (fail) return None
          bitCnt = 0 // final padding bits
          while (p + 1 < b.length && u8(p) == 0xff && u8(p + 1) == 0xff) p += 1
          if (p + 2 > b.length || u8(p) != 0xff || u8(p + 1) != 0xd9) return None
          if (p + 2 != b.length) return None // trailing bytes: refuse
          val outPx = new Array[Byte](width * height * nComp)
          if (nComp == 1) {
            var y = 0
            while (y < height) {
              System.arraycopy(planes(0), y * padW, outPx, y * width, width)
              y += 1
            }
          } else {
            var y = 0
            while (y < height) {
              var x = 0
              while (x < width) {
                val yv = planes(0)(y * padW + x) & 0xff
                val cb = (planes(1)(y * padW + x) & 0xff) - 128
                val cr = (planes(2)(y * padW + x) & 0xff) - 128
                val o = (y * width + x) * 3
                outPx(o) = jpegClampByte(yv + 1.402 * cr)
                outPx(o + 1) = jpegClampByte(yv - 0.344136 * cb - 0.714136 * cr)
                outPx(o + 2) = jpegClampByte(yv + 1.772 * cb)
                x += 1
              }
              y += 1
            }
          }
          return Some((width, height, nComp, outPx))
        case _ => return None
      }
    }
    None
  }

  /** Nearest-neighbor JPEG resize: full decode → sample → re-encode (all-ones
    * quant, grayscale stays grayscale, color re-converts RGB→YCbCr 4:4:4).
    * None for non-JPEG / undecodable payloads — [[resizeImages]] passes those
    * rows through so mixed-modality tables survive the pass. */
  def resizeJpeg(payload: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    require(dstW >= 1 && dstH >= 1, s"bad resize target ${dstW}x$dstH")
    decodeJpegPixels(payload).map { case (w, h, nc, px) =>
      val planes = Array.fill(nc)(new Array[Byte](dstW * dstH))
      var y = 0
      while (y < dstH) {
        val sy = y.toLong * h / dstH
        var x = 0
        while (x < dstW) {
          val sx = x.toLong * w / dstW
          if (nc == 1) planes(0)(y * dstW + x) = px((sy * w + sx).toInt)
          else {
            val o = ((sy * w + sx) * 3).toInt
            val r = px(o) & 0xff; val g = px(o + 1) & 0xff; val bl = px(o + 2) & 0xff
            planes(0)(y * dstW + x) = jpegClampByte(0.299 * r + 0.587 * g + 0.114 * bl)
            planes(1)(y * dstW + x) =
              jpegClampByte(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * bl)
            planes(2)(y * dstW + x) =
              jpegClampByte(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * bl)
          }
          x += 1
        }
        y += 1
      }
      encodeJpeg(dstW, dstH, planes)
    }
  }

  /** Per-image pixel checksums from a REAL baseline-JPEG decode — the
    * [[GifFramePixels]] shape for still images: typed mapPartitions, map-only
    * (payloads never shuffle); non-JPEG/undecodable rows emit nothing. The
    * checksums run over the decoded sample STREAM: `n_samples` is
    * `channels · width · height` (gray: one sample per pixel; 4:4:4 color:
    * three interleaved RGB samples per pixel) — named for what it counts,
    * with `channels` alongside, so the 3× relation to `width·height` is
    * self-describing for API consumers. */
  case class JpegPixels(media_id: Long, width: Int, height: Int, channels: Int,
                        n_samples: Long, pixel_sum: Long, pixel_poly: Long,
                        pixel_first: Int, pixel_last: Int)

  def jpegPixels(spark: SparkSession, media: DataFrame): Dataset[JpegPixels] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        decodeJpegPixels(r.payload).iterator.map { case (w, h, c, px) =>
          val (sum, poly, first, last) = sampleChecksums(px)
          JpegPixels(r.media_id, w, h, c, px.length.toLong, sum, poly, first, last)
        }
      }
    }
  }

  /** Real-encoded synthetic JPEG table, ORACLE-EXACT: dims
    * `((doc_id%23)+4) × ((doc_id%17)+4)` (up to 4×3 MCUs), pixel (x, y) is
    * the FLAT-PER-BLOCK function `(doc_id·31 + (y/8)·37 + (x/8)·11) mod 251`
    * — with the all-ones quant table a flat block's DC is the exact integer
    * 8·(v−128) and every AC quantizes to 0, so the decode reproduces every
    * pixel bit-exactly and plain SQL recomputes it. Every 5th doc encodes
    * with restartInterval=2, so RST resync is under the same hash gate. */
  def syntheticJpegsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 23).toInt + 4; val h = (id % 17).toInt + 4
        MediaRecord(id, "image/jpeg",
          encodeJpegGray(w, h,
            (x, y) => ((id * 31 + (y / 8) * 37 + (x / 8) * 11) % 251).toInt,
            restartInterval = if (id % 5 == 0) 2 else 0))
      }
    }
  }

  /** 4:4:4 COLOR sibling of [[syntheticJpegsFromDocuments]]: three flat-per-
    * block planes (Y/Cb/Cr each its own doc_id-arithmetic function), so the
    * YCbCr planes decode bit-exactly (the flat-block losslessness argument
    * per plane) and the ONLY arithmetic left is the JFIF YCbCr→RGB matrix —
    * which is plain `round`/clamp double arithmetic a SQL oracle replays
    * term by term. Dims `((doc_id%13)+4) × ((doc_id%9)+4)` (up to 2×2
    * MCUs). */
  def syntheticColorJpegsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 13).toInt + 4; val h = (id % 9).toInt + 4
        def plane(a: Long, b: Long, c: Long): Array[Byte] = {
          val p = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              p(y * w + x) = (((id * a + (y / 8) * b + (x / 8) * c) % 251) & 0xff).toByte
              x += 1
            }
            y += 1
          }
          p
        }
        MediaRecord(id, "image/jpeg",
          encodeJpeg(w, h, Array(plane(31, 37, 11), plane(17, 23, 7), plane(29, 19, 13))))
      }
    }
  }

  /** Single-block FLAT sibling (dims ≤ 8×8, every pixel `(doc_id·31) mod
    * 251`): nearest-neighbor resampling of a flat image is flat, so the
    * whole decode→resize→re-encode→re-decode chain is exact — the fixture
    * behind the driver-visible sample-equality gate
    * (`multimodal_resize_jpeg_pixels`). */
  def syntheticFlatJpegsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 8).toInt + 1; val h = (id % 6).toInt + 1
        val v = ((id * 31) % 251).toInt
        MediaRecord(id, "image/jpeg", encodeJpegGray(w, h, (_, _) => v))
      }
    }
  }

  // ------------------------------------------------------------------
  // AVI: RIFF container walk for MJPEG video — LIST hdrl/movi structure,
  // '##dc' frame chunks, per-frame baseline-JPEG decode
  // ------------------------------------------------------------------

  /** Build a genuine AVI (RIFF 'AVI ') MJPEG file: LIST hdrl with avih +
    * strl (strh 'vids'/'MJPG' + strf BITMAPINFOHEADER), LIST movi with one
    * word-aligned '00dc' chunk per frame, and an idx1 index (offsets
    * relative to the 'movi' fourcc, AVIIF_KEYFRAME on every frame — MJPEG
    * is all-keyframe). Frames are complete baseline JPEG payloads. */
  def encodeAviMjpeg(width: Int, height: Int, frames: Seq[Array[Byte]],
                     fps: Int = 10, recGroups: Boolean = false): Array[Byte] = {
    require(width >= 1 && height >= 1 && fps >= 1, s"bad avi params ${width}x$height@$fps")
    require(frames.nonEmpty, "an AVI needs at least one frame")
    def leBytes(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = data.length & 1
      fourcc(id) ++ leBytes(data.length) ++ data ++ Array.fill[Byte](pad)(0)
    }
    def list(typ: String, parts: Array[Byte]*): Array[Byte] =
      chunk("LIST", fourcc(typ) ++ parts.flatten)
    val maxFrame = frames.map(_.length).max
    val avih = leBytes(1000000 / fps) ++ leBytes(0) ++ leBytes(0) ++
      leBytes(0x10) ++ leBytes(frames.length) ++ leBytes(0) ++ leBytes(1) ++
      leBytes(maxFrame) ++ leBytes(width) ++ leBytes(height) ++
      Array.fill[Byte](16)(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ leBytes(0) ++ leBytes(0) ++
      leBytes(0) ++ leBytes(1) ++ leBytes(fps) ++ leBytes(0) ++
      leBytes(frames.length) ++ leBytes(maxFrame) ++ leBytes(-1) ++ leBytes(0) ++
      Array[Byte](0, 0, 0, 0) ++
      Array((width & 0xff).toByte, ((width >> 8) & 0xff).toByte,
        (height & 0xff).toByte, ((height >> 8) & 0xff).toByte)
    val strf = leBytes(40) ++ leBytes(width) ++ leBytes(height) ++
      Array[Byte](1, 0, 24, 0) ++ fourcc("MJPG") ++ leBytes(width * height * 3) ++
      leBytes(0) ++ leBytes(0) ++ leBytes(0) ++ leBytes(0)
    val hdrl = list("hdrl", chunk("avih", avih), list("strl", chunk("strh", strh),
      chunk("strf", strf)))
    // recGroups: the AVI 1.0 interleaving convention — each frame's chunk
    // wrapped in a LIST 'rec ' group (what several muxers emit; the walker
    // must descend into these, not just flat movi chunks)
    val moviChunks = frames.map { f =>
      val ck = chunk("00dc", f)
      if (recGroups) list("rec ", ck) else ck
    }
    val movi = list("movi", moviChunks: _*)
    var off = 4 // first chunk sits right after the 'movi' fourcc
    val idxEntries = frames.zip(moviChunks).map { case (f, ck) =>
      val e = fourcc("00dc") ++ leBytes(0x10) ++
        leBytes(if (recGroups) off + 12 else off) ++ leBytes(f.length)
      off += ck.length
      e
    }
    val idx1 = chunk("idx1", idxEntries.toArray.flatten)
    chunk("RIFF", fourcc("AVI ") ++ hdrl ++ movi ++ idx1)
  }

  /** Walk an AVI's RIFF structure and return the video frame payloads from
    * the movi list's '##dc'/'##db' chunks, in stream order. Robust to
    * truncated or desynced payloads — stops and returns the frames walked so
    * far (the [[gifFrameWalk]] contract), never throws. Chunk bounds are
    * checked in LONG so a crafted size near Int.MaxValue cannot wrap. */
  def aviFrameWalk(payload: Array[Byte]): Seq[Array[Byte]] = {
    val b = payload
    def tag(i: Int, s: String): Boolean =
      i + 4 <= b.length && s.indices.forall(j => (b(i + j) & 0xff) == s.charAt(j))
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "AVI ")) return Nil
    val riffEnd = math.min(b.length.toLong, 8L + leInt(b, 4))
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var i = 12L
    var done = false
    while (!done && i + 8 <= riffEnd) {
      val size = leInt(b, i.toInt + 4)
      if (size < 0 || i + 8 + size > riffEnd) done = true
      else {
        if (tag(i.toInt, "LIST") && i + 12 <= riffEnd && tag(i.toInt + 8, "movi")) {
          // walk chunks in [start, end); descend ONE level into LIST 'rec '
          // groups (the AVI 1.0 interleaving convention — skipping them
          // wholesale would silently drop every frame of a rec-muxed file)
          def walkChunks(start: Long, end: Long, depth: Int): Unit = {
            var j = start
            var inner = true
            while (inner && j + 8 <= end) {
              val ji = j.toInt
              val csz = leInt(b, ji + 4)
              if (csz < 0 || j + 8 + csz > end) inner = false
              else {
                val isDigit0 = b(ji) >= '0' && b(ji) <= '9'
                val isDigit1 = b(ji + 1) >= '0' && b(ji + 1) <= '9'
                if (isDigit0 && isDigit1 && b(ji + 2) == 'd' &&
                    (b(ji + 3) == 'c' || b(ji + 3) == 'b'))
                  frames += java.util.Arrays.copyOfRange(b, ji + 8, ji + 8 + csz)
                else if (depth == 0 && csz >= 4 && tag(ji, "LIST") && tag(ji + 8, "rec "))
                  walkChunks(j + 12, j + 8 + csz, depth + 1)
                j += 8 + csz + (csz & 1)
              }
            }
          }
          walkChunks(i + 12, i + 8 + size, depth = 0)
        }
        i += 8 + size + (size & 1)
      }
    }
    frames.toSeq
  }

  /** One decoded MJPEG video frame's pixel checksums — the video-modality
    * twin of [[gifFramePixels]]: AVI RIFF walk → per-frame baseline-JPEG
    * decode, typed flatMap, map-only. `frame_idx` is the movi-chunk order;
    * undecodable frames are dropped (refuse what cannot be faithfully
    * decoded) without shifting later frames' indices. */
  case class AviFramePixels(media_id: Long, frame_idx: Int, width: Int, height: Int,
                            n_pixels: Long, pixel_sum: Long, pixel_poly: Long,
                            pixel_first: Int, pixel_last: Int)

  def aviFramePixels(spark: SparkSession, media: DataFrame): Dataset[AviFramePixels] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        aviFrameWalk(r.payload).zipWithIndex.flatMap { case (f, i) =>
          decodeJpegPixels(f).map { case (w, h, _, px) =>
            val (sum, poly, first, last) = sampleChecksums(px)
            AviFramePixels(r.media_id, i, w, h, px.length.toLong, sum, poly, first, last)
          }
        }
      }
    }
  }

  /** Real-encoded synthetic MJPEG-AVI table, ORACLE-EXACT: `doc_id % 3 + 1`
    * frames of `((doc_id%13)+4) × ((doc_id%11)+4)`, frame `i`'s pixel (x, y)
    * the flat-per-block function
    * `(doc_id·31 + i·257 + (y/8)·37 + (x/8)·11) mod 251` — the
    * [[syntheticJpegsFromDocuments]] exactness argument per frame, wrapped
    * in a genuine RIFF/AVI container. */
  def syntheticAvisFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 13).toInt + 4; val h = (id % 11).toInt + 4
        val frames = (0 to (id % 3).toInt).map { i =>
          encodeJpegGray(w, h,
            (x, y) => ((id * 31 + i * 257 + (y / 8) * 37 + (x / 8) * 11) % 251).toInt)
        }
        MediaRecord(id, "video/avi", encodeAviMjpeg(w, h, frames))
      }
    }
  }

  /** One video frame's scene-change signal: `delta_sum` is the exact integer
    * Σ|sample − previous frame's sample| over the decoded sample stream
    * (`n_samples` = channels·w·h terms), `is_cut` flags
    * `delta_sum > threshold · n_samples` (mean absolute change per sample
    * above the threshold), and `key_rank` orders the video's decoded frames
    * by delta DESCENDING (ties: earlier frame first, rank 1 = the frame a
    * keyframe sampler takes first). The first decoded frame — and any frame
    * whose (w, h, channels) differ from the previous decoded frame's —
    * deltas against an implicit all-zero (black) previous frame, the
    * "cut from black" convention, so its delta is its own sample sum and a
    * scene start scores like the scene change it is. */
  case class SceneCut(media_id: Long, frame_idx: Int, width: Int, height: Int,
                      n_samples: Long, delta_sum: Long, is_cut: Boolean,
                      key_rank: Int)

  /** Shared per-video frame-delta walk behind [[sceneCuts]] and
    * [[keyframes]]: each decoded AVI frame in movi order, paired with its
    * exact-integer scene-change delta vs the previous DECODED frame
    * (cut-from-black on the first frame and on dims/channel changes;
    * undecodable frames drop without shifting indices). Returned as an
    * ITERATOR so callers pick their memory shape — sceneCuts drops the
    * pixels as it advances (two decoded frames in memory), keyframes
    * retains the frames it selects. ONE home for the delta conventions:
    * the two operators' orderings must never drift. */
  private def frameDeltas(payload: Array[Byte])
      : Iterator[(Int, Int, Int, Int, Array[Byte], Long)] = {
    var prev: Array[Byte] = null
    var prevW = 0; var prevH = 0; var prevC = 0
    aviFrameWalk(payload).iterator.zipWithIndex.flatMap { case (f, i) =>
      decodeJpegPixels(f).map { case (w, h, c, px) =>
        var delta = 0L
        var j = 0
        if (prev != null && w == prevW && h == prevH && c == prevC) {
          while (j < px.length) {
            delta += math.abs((px(j) & 0xff) - (prev(j) & 0xff)); j += 1
          }
        } else {
          while (j < px.length) { delta += (px(j) & 0xff); j += 1 }
        }
        prev = px; prevW = w; prevH = h; prevC = c
        (i, w, h, c, px, delta)
      }
    }
  }

  /** Scene-cut / keyframe detection over MJPEG-in-AVI — the sampling step a
    * VLM training pipeline runs before frame extraction (take only frames
    * where the scene changed, not every near-duplicate of a static shot).
    * All frames of one video sit in ONE payload, so the per-frame deltas
    * against the previous decoded frame AND the per-video keyframe ranking
    * happen inside the same zero-exchange typed flatMap that
    * [[aviFramePixels]] uses — payloads never shuffle, only the per-frame
    * metadata rows leave the task, and peak memory per video is two decoded
    * frames (current + previous) plus the metadata tuples. Undecodable
    * frames drop without shifting later indices (the [[aviFramePixels]]
    * contract); the next frame then deltas against the last DECODED frame —
    * change-since-last-usable-frame, which is what a sampler acts on. */
  def sceneCuts(spark: SparkSession, media: DataFrame,
                cutThresholdPerSample: Int = 30): Dataset[SceneCut] = {
    require(cutThresholdPerSample >= 0, s"bad cut threshold $cutThresholdPerSample")
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        // consume the iterator into metadata tuples IMMEDIATELY — the pixel
        // arrays are dropped as the walk advances, keeping the two-frame
        // memory bound
        val metas = frameDeltas(r.payload).map { case (i, w, h, _, px, d) =>
          (i, w, h, px.length.toLong, d)
        }.toList
        val rankOf = metas.sortBy { case (i, _, _, _, d) => (-d, i) }
          .zipWithIndex.map { case (m, rk) => m._1 -> (rk + 1) }.toMap
        metas.map { case (i, w, h, n, d) =>
          SceneCut(r.media_id, i, w, h, n, d,
            d > cutThresholdPerSample.toLong * n, rankOf(i))
        }
      }
    }
  }

  /** One EXTRACTED keyframe: the rank-`key_rank` frame of its video under the
    * [[sceneCuts]] ordering, re-encoded as a STANDALONE baseline JPEG
    * (`jpeg`) — the deliverable a VLM training pipeline feeds downstream —
    * with the checksum quartet computed by re-DECODING that emitted payload,
    * so a hash match proves selection AND re-encode AND re-decode, not just
    * the pick. */
  case class Keyframe(media_id: Long, frame_idx: Int, key_rank: Int,
                      width: Int, height: Int, n_samples: Long,
                      pixel_sum: Long, pixel_poly: Long, pixel_first: Int,
                      pixel_last: Int, jpeg: Array[Byte])

  /** Shared re-encode + round-trip step of the keyframe extractors: one
    * selected frame → standalone baseline JPEG → re-DECODED checksums. Gray
    * frames re-encode directly; 4:4:4 color frames re-convert RGB→YCbCr
    * through the [[resizeJpeg]] matrix. A frame whose re-encode fails to
    * re-decode yields None (refuse what cannot be faithfully round-tripped). */
  private def reencodeKeyframe(mediaId: Long, frameIdx: Int, rank: Int,
                               w: Int, h: Int, c: Int,
                               px: Array[Byte]): Option[Keyframe] = {
    val jpeg =
      if (c == 1) encodeJpeg(w, h, Array(px))
      else {
        val planes = Array.fill(3)(new Array[Byte](w * h))
        var p = 0
        while (p < w * h) {
          val rr = px(3 * p) & 0xff; val g = px(3 * p + 1) & 0xff
          val b = px(3 * p + 2) & 0xff
          planes(0)(p) = jpegClampByte(0.299 * rr + 0.587 * g + 0.114 * b)
          planes(1)(p) = jpegClampByte(128.0 - 0.168736 * rr - 0.331264 * g + 0.5 * b)
          planes(2)(p) = jpegClampByte(128.0 + 0.5 * rr - 0.418688 * g - 0.081312 * b)
          p += 1
        }
        encodeJpeg(w, h, planes)
      }
    decodeJpegPixels(jpeg).map { case (dw, dh, _, dpx) =>
      val (sum, poly, first, last) = sampleChecksums(dpx)
      Keyframe(mediaId, frameIdx, rank, dw, dh, dpx.length.toLong,
        sum, poly, first, last, jpeg)
    }
  }

  /** Keyframe EXTRACTION over MJPEG-in-AVI — the sampling step after
    * [[sceneCuts]]'s detection: per video, keep only the `k` frames with the
    * largest scene-change deltas (delta desc, frame asc — the sceneCuts
    * rank) and emit each as a standalone baseline JPEG. Same zero-exchange
    * typed flatMap, TWO-PASS (the long-video form):
    * pass 1 is the [[sceneCuts]]-shaped delta walk — pixels drop as it
    * advances, two decoded frames in memory — yielding the k winner indices;
    * pass 2 re-walks the payload decoding ONLY the winners, one at a time.
    * Peak memory per video is therefore two decoded frames regardless of
    * clip length, vs the buffered twin's every-frame retention — the decode
    * work doubles for the k winners, the right trade for minutes-long VLM
    * clips where frames × resolution dwarfs 2× decode cost. Output is
    * row-for-row identical to [[keyframesBuffered]] (PropertySpec A/B gate).
    * A frame whose re-encode fails to re-decode is dropped (refuse what
    * cannot be faithfully round-tripped). */
  def keyframes(spark: SparkSession, media: DataFrame, k: Int = 2): Dataset[Keyframe] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        // pass 1: the SAME delta walk as sceneCuts (shared frameDeltas — the
        // orderings must agree), consumed for (index, delta) only
        val winners = frameDeltas(r.payload)
          .map { case (i, _, _, _, _, d) => (i, d) }.toList
          .sortBy { case (i, d) => (-d, i) }.take(k)
          .zipWithIndex.map { case ((i, _), rk) => i -> (rk + 1) }.toMap
        // pass 2: re-walk, decode only winner indices (frameDeltas indexes
        // the RAW movi walk, so the indices line up with aviFrameWalk; a
        // winner decoded in pass 1 decodes again here by determinism)
        aviFrameWalk(r.payload).iterator.zipWithIndex.flatMap { case (f, i) =>
          winners.get(i).iterator.flatMap { rk =>
            decodeJpegPixels(f).flatMap { case (w, h, c, px) =>
              reencodeKeyframe(r.media_id, i, rk, w, h, c, px)
            }
          }
        }
      }
    }
  }

  /** The BUFFERED keyframe extractor — one walk retaining the decoded frames
    * until the ranking is known (peak memory per video = its decoded
    * frames). Kept as the A/B twin of the two-pass [[keyframes]]: for short
    * clips it decodes each frame once, and the equality spec between the two
    * forms is the gate that the two-pass re-walk picks exactly the frames
    * the ranking named. */
  def keyframesBuffered(spark: SparkSession, media: DataFrame,
                        k: Int = 2): Dataset[Keyframe] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        frameDeltas(r.payload).toVector
          .sortBy { case (i, _, _, _, _, d) => (-d, i) }.take(k)
          .zipWithIndex.flatMap { case ((i, w, h, c, px, _), rk) =>
            reencodeKeyframe(r.media_id, i, rk + 1, w, h, c, px)
          }
      }
    }
  }

  /** Fixed-point anti-alias lowpass for [[wavResample]]: `2·halfTaps + 1`
    * Hamming-windowed sinc taps at cutoff π/factor, each
    * `round(h·2^scaleBits)` — PUBLIC for the same reason as
    * [[goertzelTables]]: the oracle SQL embeds these very integers, so both
    * sides convolve identical taps by construction. */
  def firLowpassTaps(factor: Int, halfTaps: Int, scaleBits: Int): Array[Long] = {
    require(factor >= 1 && halfTaps >= 1 && scaleBits >= 1,
      s"bad fir params $factor/$halfTaps/$scaleBits")
    val len = 2 * halfTaps + 1
    Array.tabulate(len) { t =>
      val x = (t - halfTaps).toDouble
      val sinc =
        if (x == 0.0) 1.0 / factor
        else math.sin(math.Pi * x / factor) / (math.Pi * x)
      val win = 0.54 - 0.46 * math.cos(2.0 * math.Pi * t / (len - 1))
      math.round(sinc * win * (1L << scaleBits))
    }
  }

  /** Per-file checksums of a decimated-by-`factor` PCM stream: `y_sum` /
    * position-weighted `y_poly` / endpoints over the FILTERED output
    * sequence `y[j] = Σ_t H[t]·x(j·factor + t − halfTaps)` (zero-padded at
    * the edges), all exact integers at scale 2^scaleBits — the
    * [[WavWindow]] `sum_sq` discipline: the consumer shifts/clips to PCM16,
    * the engine emits the rounding-free integers an oracle can replay. */
  case class WavResampled(media_id: Long, n_in: Long, n_out: Long,
                          y_sum: Long, y_poly: Long, y_first: Long,
                          y_last: Long)

  /** Integer-factor audio RESAMPLING (decimation with a real anti-alias
    * FIR) — the 8 kHz→4 kHz shape of the resample-to-16k step every ASR
    * data pipeline runs before feature extraction: channel-0 samples
    * convolve with the fixed-point windowed-sinc lowpass
    * ([[firLowpassTaps]]) evaluated at every `factor`-th position. Naive
    * decimation (take every Nth sample) aliases everything above the new
    * Nyquist into band; the FIR is what makes this a resampler rather than
    * a subsample. Typed flatMap, map-only, zero exchanges; per output
    * sample the work is one L-tap integer dot product.
    *
    * Overflow contract: each |y| ≤ L·max|x|·2^scaleBits
    * (≈1.3e8 for fixture-scale audio at the defaults, ≈2e12 for full-scale
    * PCM16) always fits Long, but the position-weighted `y_poly` grows as
    * n_out²·|y| — full-scale material overflows once a clip passes a few
    * hundred thousand output samples, well inside what a 2 GB payload can
    * hold. The checksums therefore accumulate via `Math.multiplyExact`/
    * `addExact`: overflow throws an `ArithmeticException` naming the clip
    * instead of silently wrapping the exact-integer contract (a DuckDB
    * BIGINT oracle errors on the same input — loud on both sides). */
  def wavResample(spark: SparkSession, media: DataFrame, factor: Int = 2,
                  halfTaps: Int = 7, scaleBits: Int = 12): Dataset[WavResampled] = {
    require(factor >= 2, s"decimation factor must be >= 2, got $factor")
    val taps = firLowpassTaps(factor, halfTaps, scaleBits)
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        wavPcm16Layout(r.payload) match {
          case None => Iterator.empty
          case Some((channels, dataOff, dataLen)) =>
            val b = r.payload
            val frameBytes = 2 * channels
            val n = dataLen / frameBytes
            val nOut = (n + factor - 1) / factor
            def x(i: Int): Long =
              if (i < 0 || i >= n) 0L
              else {
                val base = dataOff + i * frameBytes
                ((b(base) & 0xff) | (b(base + 1) << 8)).toShort.toLong
              }
            var sum = 0L; var poly = 0L; var first = 0L; var last = 0L
            var j = 0
            try {
              while (j < nOut) {
                var y = 0L
                var t = 0
                while (t < taps.length) {
                  y += taps(t) * x(j * factor + t - halfTaps); t += 1
                }
                sum = Math.addExact(sum, y)
                poly = Math.addExact(poly, Math.multiplyExact((j + 1).toLong, y))
                if (j == 0) first = y
                if (j == nOut - 1) last = y
                j += 1
              }
            } catch {
              case _: ArithmeticException => throw new ArithmeticException(
                s"wavResample checksum overflows Long at media_id=${r.media_id} " +
                  s"(n_out=$nOut output sample $j): y_poly grows as n_out^2*|y| " +
                  "— lower scaleBits or checksum shorter segments")
            }
            Iterator.single(
              WavResampled(r.media_id, n.toLong, nOut.toLong, sum, poly, first, last))
        }
      }
    }
  }

  /** 64-bit difference hash (dHash) of a decoded image — the perceptual
    * image fingerprint web-scale VLM corpora dedup on (the LAION-style
    * near-dup key): gray-convert (integer luma `(299r+587g+114b)/1000`,
    * truncating division — oracle-replayable), nearest-neighbor sample to a
    * 9×8 grid (`sx = x·w/9`, `sy = y·h/8` — the resize convention), and set
    * bit `y·8+x` when `g(x+1, y) > g(x, y)`. Robust to re-encoding and
    * resolution changes by construction (it hashes coarse gradient
    * structure, not bytes). Emitted as two 32-bit halves (`dhash_hi` =
    * bits 32..63, `dhash_lo` = bits 0..31) so oracle arithmetic never
    * touches the Long sign bit. Decodes JPEG and PNG payloads (the two
    * pixel-decodable formats here); others emit nothing. */
  case class ImageDHash(media_id: Long, width: Int, height: Int,
                        dhash_hi: Long, dhash_lo: Long)

  def imageDHash(spark: SparkSession, media: DataFrame): Dataset[ImageDHash] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.flatMap { r =>
        decodeJpegPixels(r.payload).orElse(decodePngPixels(r.payload))
          .flatMap { case (w, h, c, px) =>
            if (w < 1 || h < 1 || (c != 1 && c != 3 && c != 4)) None
            else {
              def gray(x: Int, y: Int): Int = {
                val sx = x * w / 9; val sy = y * h / 8
                val o = (sy * w + sx) * c
                if (c == 1) px(o) & 0xff
                else (299 * (px(o) & 0xff) + 587 * (px(o + 1) & 0xff) +
                  114 * (px(o + 2) & 0xff)) / 1000
              }
              var hi = 0L; var lo = 0L
              var k = 0
              while (k < 64) {
                val x = k % 8; val y = k / 8
                if (gray(x + 1, y) > gray(x, y)) {
                  if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
                }
                k += 1
              }
              Some(ImageDHash(r.media_id, w, h, hi, lo))
            }
          }
      }
    }
  }

  /** Clone-planted JPEG fixture for the image-dedup gates: the payload is a
    * pure function of `doc_id % classes`, so two docs in the same class are
    * byte-identical images under DIFFERENT media ids — the exact-duplicate
    * regime a crawl's re-hosted images produce. Same dims/pixel arithmetic
    * as [[syntheticJpegsFromDocuments]], seeded by the class. */
  def syntheticCloneJpegsFromDocuments(spark: SparkSession, docs: DataFrame,
                                       classes: Int = 100): Dataset[MediaRecord] = {
    require(classes >= 1, s"classes must be >= 1, got $classes")
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val seed = id % classes
        val w = (seed % 23).toInt + 4; val h = (seed % 17).toInt + 4
        MediaRecord(id, "image/jpeg",
          encodeJpegGray(w, h,
            (x, y) => ((seed * 31 + (y / 8) * 37 + (x / 8) * 11) % 251).toInt))
      }
    }
  }

  /** Visual duplicate CLUSTERS by dHash — the image edition of exact dedup's
    * group-by-fingerprint (never all-pairs: at 100 TB the pair list of a
    * popular image is quadratic in its copy count, the cluster row is one):
    * per distinct hash, the copy count and the canonical (smallest) media
    * id. Downstream keeps `media_id == canonical_id` rows. One map-only
    * decode+hash pass, one 16-byte-keyed aggregation — the `dedup_exact`
    * shape with a perceptual key. Near-dups (small nonzero Hamming) come
    * from probing a banded index of these clusters' representatives
    * ([[writeImageDedupIndex]], [[imageNearDupsAgainstIndex]]). */
  def imageDupClusters(spark: SparkSession, media: DataFrame): DataFrame =
    imageDHash(spark, media).toDF()
      .groupBy(col("dhash_hi"), col("dhash_lo"))
      .agg(count(lit(1)).as("n_images"),
        min(col("media_id")).as("canonical_id"))

  // ------------------------------------------------------------------
  // Persisted dHash image-dedup index — the [[graft.operators.Dedup]]
  // winnow-index lifecycle (build / probe / append / delete / compact /
  // re-bucket over Lake bucketed parquet) for the IMAGE modality: text
  // dedup has the cross-snapshot incremental story; live image ingest
  // needs the same — probe arriving images against the
  // frozen corpus's hashes without ever re-decoding the base.
  // ------------------------------------------------------------------

  /** Band rows of a dHash table under the persisted-index layout: one row
    * per (media_id, band) carrying the full hash plus `bkey` =
    * band·2¹⁶ + that band's 16-bit slice — ONE bucketable long combining
    * band id and band bits, so the index clusters on the exact key a probe
    * joins. 4×16 banding (pigeonhole: two hashes within Hamming ≤ 3 differ
    * in at most 3 bands, so one band matches exactly — recall 1 at
    * Hamming ≤ 3); carrying dhash_hi/lo in the row lets the
    * probe verify exact Hamming without a second lookup. */
  private[graft] def dHashBandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), col("dhash_hi"), col("dhash_lo"))
      .withColumn("bkey", explode(array(
        col("dhash_lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("dhash_lo"), 16).bitwiseAND(lit(0xffffL)) + lit(65536L),
        col("dhash_hi").bitwiseAND(lit(0xffffL)) + lit(131072L),
        shiftright(col("dhash_hi"), 16).bitwiseAND(lit(0xffffL)) + lit(196608L))))

  /** Persist an [[imageDHash]] snapshot as the on-disk index
    * [[imageNearDupsAgainstIndex]] probes — band rows bucketed on `bkey`
    * ([[graft.sources.Lake.writeBucketed]], the [[graft.operators
    * .Dedup.writeWinnowIndex]] shape): every probe join reads co-located
    * buckets with NO exchange on the base side; at 100 TB the corpus's
    * hash table never re-shuffles and its images never re-decode — only
    * batch-sized data moves. */
  def writeImageDedupIndex(hashes: DataFrame, path: String, table: String,
                           buckets: Int = 8): Unit =
    graft.sources.Lake.writeBucketed(dHashBandRows(hashes), path, table,
      "bkey", buckets)

  /** APPEND a new snapshot's hashes to a persisted [[writeImageDedupIndex]]
    * table — the build-once / append-often half (the `appendWinnowIndex`
    * contract): the delta pays one bucketing shuffle, no existing bucket
    * file is rewritten, and Spark refuses a mismatched bucket spec.
    * Appended media must be NEW media_ids (a re-append would duplicate the
    * image's band rows), the crawler's contract. */
  def appendImageDedupIndex(hashes: DataFrame, path: String, table: String,
                            buckets: Int = 8): Unit =
    graft.sources.Lake.appendBucketed(dHashBandRows(hashes), path, table,
      "bkey", buckets)

  /** DELETE images from a persisted [[writeImageDedupIndex]] table
    * (takedowns, opt-outs — the lifecycle half no production index ships
    * without): the [[graft.operators.Dedup.deleteFromWinnowIndex]] dataflow
    * verbatim on the image layout — affected `bkey` buckets discovered by a
    * column-pruned broadcast semi join against the delete set, ONLY those
    * buckets' files read back and their survivors staged + swapped via the
    * shared checked trash-then-rename protocol. Returns the number of
    * affected buckets. SINGLE-WRITER; serialize against probes/appends. */
  def deleteFromImageDedupIndex(spark: SparkSession, path: String,
                                table: String, ids: Array[Long],
                                buckets: Int = 8): Int = {
    if (ids.isEmpty) return 0
    graft.sources.Lake.assertCatalogMatchesLayout(spark, path, table, "bkey", buckets)
    import spark.implicits._
    val idDf = ids.toSeq.toDF("media_id")
    val bucketOf = pmod(hash(col("bkey")), lit(buckets))
    val affected = spark.table(table)
      .select(col("media_id"), col("bkey"))
      .join(broadcast(idDf), Seq("media_id"), "left_semi")
      .select(bucketOf.as("__b")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return 0
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val affectedSet = affected.toSet
    val affectedFiles = graft.sources.Lake.bucketFiles(fs, path)
      .filter { case (b, _) => affectedSet(b) }
      .values.flatten.map(_.toString).toSeq
    val survivors = spark.read.parquet(affectedFiles: _*)
      .join(broadcast(idDf), Seq("media_id"), "left_anti")
    graft.sources.Lake.rewriteBuckets(spark, path, table, "bkey", buckets,
      affected.toSeq, survivors, ".delete_staging")
    affected.length
  }

  /** Probe a batch of freshly-hashed images against a persisted
    * [[writeImageDedupIndex]] table: band-tag the batch (it pays the one
    * bucketing shuffle), equi-join the index on `bkey` — co-located,
    * zero base-side exchanges (PlanSpec pins it) — verify candidates with
    * exact `bit_count(xor)` Hamming over both halves, and emit each
    * (batch, base) pair once. `maxDf` df-bounds the index side exactly like
    * [[graft.operators.Dedup.winnowPairsAgainstIndex]]: a degenerate band
    * key shared by a huge slice of the corpus (near-black images all carry
    * zero bands) would otherwise explode the candidate join; keys past the
    * bound drop with the same documented trade as the winnow stop-phrase
    * cap. Hamming 0 rows are exact visual dups ([[imageDupClusters]]'s
    * regime); 1–3 are near-dups. */
  def imageNearDupsAgainstIndex(batchHashes: DataFrame, index: DataFrame,
                                maxHamming: Int = 3, maxDf: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding guarantees recall only for Hamming <= 3, got $maxHamming")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val probe = dHashBandRows(batchHashes)
      .select(col("media_id").as("batch_id"), col("dhash_hi").as("hi_a"),
        col("dhash_lo").as("lo_a"), col("bkey"))
    val good = index.groupBy("bkey").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("bkey")
    val base = index.join(good, Seq("bkey"), "left_semi")
      .select(col("bkey"), col("media_id").as("base_id"),
        col("dhash_hi").as("hi_b"), col("dhash_lo").as("lo_b"))
    probe.join(base, Seq("bkey"))
      .select(col("batch_id"), col("base_id"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("batch_id", "base_id")
  }
}

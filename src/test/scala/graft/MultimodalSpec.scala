package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    (1L, "ABCD some payload text"),
    (2L, "xy")
  ).toDF("doc_id", "text").transform(Multimodal.mediaFromDocuments)

  // ---- hand-built files per public format spec ------------------------------

  /** Minimal PNG: 8-byte signature + IHDR chunk (len, "IHDR", w, h, bit fields). */
  private def handPng(w: Int, h: Int): Array[Byte] = {
    def be(v: Int) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be(13) ++ "IHDR".getBytes ++ be(w) ++ be(h) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be(0) // bit depth/color/crc placeholder
  }

  /** Minimal GIF89a: magic + LE logical screen width/height + flags. */
  private def handGif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ Array[Byte](
      (w & 0xff).toByte, ((w >> 8) & 0xff).toByte,
      (h & 0xff).toByte, ((h >> 8) & 0xff).toByte, 0, 0, 0)

  /** Minimal JPEG: SOI, an APP0 segment to skip, then SOF0 with h/w, then EOI. */
  private def handJpeg(w: Int, h: Int): Array[Byte] = {
    def be16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    Array[Byte](0xff.toByte, 0xd8.toByte) ++
      (Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++ new Array[Byte](14)) ++
      (Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++ Array[Byte](8) ++
        be16(h) ++ be16(w) ++ Array[Byte](3, 0, 0x11, 0)) ++
      Array[Byte](0xff.toByte, 0xd9.toByte)
  }

  test("decodeHeader parses hand-built PNG / GIF / JPEG and encodeBmp round-trips") {
    assert(Multimodal.decodeHeader(handPng(640, 480)) === (("png", 640, 480)))
    assert(Multimodal.decodeHeader(handGif(320, 200)) === (("gif", 320, 200)))
    assert(Multimodal.decodeHeader(handJpeg(1024, 768)) === (("jpeg", 1024, 768)))
    val bmp = Multimodal.encodeBmp(17, 9, seed = 7L)
    assert(Multimodal.decodeHeader(bmp) === (("bmp", 17, 9)))
    // spec'd byte length: 54-byte headers + padded BGR rows (rowSize = ceil(3w/4)*4)
    assert(bmp.length === 54 + ((3 * 17 + 3) / 4) * 4 * 9)
    assert(Multimodal.decodeHeader("not an image".getBytes) === (("unknown", 0, 0)))
    assert(Multimodal.decodeHeader(Array[Byte]()) === (("unknown", 0, 0)))
    // truncated PNG (signature only, no IHDR yet) must not crash or misreport
    assert(Multimodal.decodeHeader(handPng(640, 480).take(12)) === (("unknown", 0, 0)))
  }

  test("extractFeatures: real header parse + real byte length and checksum") {
    val imgs = Seq(
      Multimodal.MediaRecord(1L, "image/png", handPng(99, 44)),
      Multimodal.MediaRecord(2L, "image/bmp", Multimodal.encodeBmp(5, 3, seed = 2L)),
      Multimodal.MediaRecord(3L, "text/plain", "just text".getBytes)
    ).toDS()
    val r = Multimodal.extractFeatures(spark, imgs.toDF()).collect()
      .map(f => f.media_id -> f).toMap
    assert((r(1L).format, r(1L).width, r(1L).height) === (("png", 99, 44)))
    assert((r(2L).format, r(2L).width, r(2L).height) === (("bmp", 5, 3)))
    assert(r(2L).byte_len === 54 + ((3 * 5 + 3) / 4) * 4 * 3)
    assert((r(3L).format, r(3L).width, r(3L).height) === (("unknown", 0, 0)))
    val crc = new java.util.zip.CRC32()
    crc.update("just text".getBytes)
    assert(r(3L).checksum === crc.getValue)
  }

  test("syntheticImagesFromDocuments: genuine BMPs whose dims derive from doc_id") {
    val docs = Seq((0L, "a"), (17L, "b"), (40L, "c")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(spark,
      Multimodal.syntheticImagesFromDocuments(spark, docs).toDF()).collect()
      .map(f => f.media_id -> f).toMap
    Seq(0L, 17L, 40L).foreach { id =>
      val (w, h) = ((id % 16).toInt + 1, (id % 12).toInt + 1)
      assert((feats(id).format, feats(id).width, feats(id).height) === (("bmp", w, h)))
      assert(feats(id).byte_len === 54 + ((3 * w + 3) / 4) * 4 * h)
    }
  }

  test("sampleOffsets: generator emits in-range offsets only") {
    val r = rowSet(Multimodal.sampleOffsets(media, Seq(1, 3, 100))
      .select("media_id", "pos", "sample_hex"))
    assert(r === Set(
      Seq(1L, 1, "41"), Seq(1L, 3, "43"),   // 'A', 'C'
      Seq(2L, 1, "78")))                     // 'x'; offsets 3/100 out of range
  }

  /** Hand-built w x h 24-bit BMP whose pixel (x, y) is the BGR triple
    * (x, y, 0xAA) — every pixel identifies its own coordinates. */
  private def coordBmp(w: Int, h: Int): Array[Byte] = {
    val base = Multimodal.encodeBmp(w, h, seed = 0L)
    val rowSize = ((3 * w + 3) / 4) * 4
    for (y <- 0 until h; x <- 0 until w) {
      val i = 54 + y * rowSize + x * 3
      base(i) = x.toByte; base(i + 1) = y.toByte; base(i + 2) = 0xAA.toByte
    }
    // zero the row-padding bytes the LCG filled, so byte equality is exact
    for (y <- 0 until h; p <- 3 * w until rowSize) base(54 + y * rowSize + p) = 0
    base
  }

  private def pixel(b: Array[Byte], w: Int, x: Int, y: Int): (Int, Int, Int) = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val i = 54 + y * rowSize + x * 3
    ((b(i) & 0xff), (b(i + 1) & 0xff), (b(i + 2) & 0xff))
  }

  test("resizeBmp: nearest-neighbor sampling exact on coordinate-tagged pixels") {
    // upscale 2x2 -> 4x4: each src pixel replicates into a 2x2 block
    val up = Multimodal.resizeBmp(coordBmp(2, 2), 4, 4).get
    assert(Multimodal.decodeHeader(up) === ("bmp", 4, 4))
    for (y <- 0 until 4; x <- 0 until 4)
      assert(pixel(up, 4, x, y) === (x / 2, y / 2, 0xAA), s"up($x,$y)")
    // downscale 4x4 -> 2x2: picks src (0,0), (2,0), (0,2), (2,2)
    val down = Multimodal.resizeBmp(coordBmp(4, 4), 2, 2).get
    for (y <- 0 until 2; x <- 0 until 2)
      assert(pixel(down, 2, x, y) === (2 * x, 2 * y, 0xAA), s"down($x,$y)")
    // 1x1 collapses to src (0,0); identity resize is byte-identical
    assert(pixel(Multimodal.resizeBmp(coordBmp(3, 3), 1, 1).get, 1, 0, 0) === (0, 0, 0xAA))
    assert(Multimodal.resizeBmp(coordBmp(3, 2), 3, 2).get.toSeq === coordBmp(3, 2).toSeq)
    // non-BMP and truncated payloads refuse instead of mis-parsing
    assert(Multimodal.resizeBmp("not an image".getBytes, 2, 2).isEmpty)
    assert(Multimodal.resizeBmp(coordBmp(4, 4).take(60), 2, 2).isEmpty)
  }

  test("resizeBmp: crafted header claiming ~2^31 x 2^31 refuses (no Long overflow)") {
    // srcRow(~6.4e9) * h(~2.1e9) overflows Long; the wrapped-negative bound
    // would pass the length check and crash the copy loop — must be None
    val evil = new Array[Byte](128)
    evil(0) = 'B'; evil(1) = 'M'
    def putLe(i: Int, v: Int): Unit = {
      evil(i) = (v & 0xff).toByte; evil(i + 1) = ((v >> 8) & 0xff).toByte
      evil(i + 2) = ((v >> 16) & 0xff).toByte; evil(i + 3) = ((v >> 24) & 0xff).toByte
    }
    putLe(10, 54); putLe(14, 40)
    putLe(18, Int.MaxValue); putLe(22, Int.MaxValue)
    evil(26) = 1; evil(28) = 24
    assert(Multimodal.resizeBmp(evil, 2, 2).isEmpty)
    // same shape with a merely-huge (non-overflowing) claim: still refused by
    // the ordinary length check
    putLe(18, 1 << 20); putLe(22, 1 << 20)
    assert(Multimodal.resizeBmp(evil, 2, 2).isEmpty)
  }

  test("resizeImages: BMPs and PNGs resize, other rows pass through unchanged") {
    import spark.implicits._
    val pngPx = Array.tabulate(5 * 3 * 3)(i => (i * 11).toByte)
    val mixed = Seq(
      Multimodal.MediaRecord(1L, "image/bmp", Multimodal.encodeBmp(5, 3, seed = 7L)),
      Multimodal.MediaRecord(2L, "text/plain", "just text".getBytes),
      Multimodal.MediaRecord(3L, "image/png", Multimodal.encodePng(5, 3, 3, pngPx))
    ).toDS().toDF()
    val out = Multimodal.resizeImages(spark, mixed, 8, 8).collect()
      .map(r => r.media_id -> r).toMap
    assert(Multimodal.decodeHeader(out(1L).payload) === ("bmp", 8, 8))
    assert(out(2L).payload.toSeq === "just text".getBytes.toSeq)
    assert(Multimodal.decodeHeader(out(3L).payload) === ("png", 8, 8))
  }

  // ---------------- PNG pixel codec ----------------

  /** Coordinate-tagged RGB PNG: pixel (x, y) = (x, y, 0xAA). */
  private def coordPng(w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = x.toByte; px(i + 1) = y.toByte; px(i + 2) = 0xAA.toByte
    }
    Multimodal.encodePng(w, h, 3, px)
  }

  /** PNG builder with a caller-supplied (already-"compressed") IDAT body —
    * for exercising decode paths encodePng never emits. */
  private def rawPngIdat(w: Int, h: Int, colorType: Int, idat: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      val t = typ.getBytes("US-ASCII")
      out.write(be(data.length), 0, 4); out.write(t, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      out.write(be(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    def putBe(i: Int, v: Int): Unit = {
      ihdr(i) = (v >>> 24).toByte; ihdr(i + 1) = (v >>> 16).toByte
      ihdr(i + 2) = (v >>> 8).toByte; ihdr(i + 3) = v.toByte
    }
    putBe(0, w); putBe(4, h); ihdr(8) = 8; ihdr(9) = colorType.toByte
    chunk("IHDR", ihdr)
    chunk("IDAT", idat); chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Raw-scanline PNG builder for exercising decode paths encodePng never
    * emits (filters 1-4): `raw` is the pre-deflate stream of
    * [filter byte + scanline] rows. */
  private def rawPng(w: Int, h: Int, colorType: Int, raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val z = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](4096)
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    rawPngIdat(w, h, colorType, z.toByteArray)
  }

  test("PNG: encode→decode round-trips pixels exactly (RGB and RGBA)") {
    val rgb = Array.tabulate(4 * 3 * 3)(i => (i * 7 + 1).toByte)
    val Some((w, h, bpp, px)) =
      Multimodal.decodePngPixels(Multimodal.encodePng(4, 3, 3, rgb)): @unchecked
    assert((w, h, bpp) === ((4, 3, 3)))
    assert(px.toSeq === rgb.toSeq)
    val rgba = Array.tabulate(2 * 5 * 4)(i => (i * 3 + 9).toByte)
    val Some((w2, h2, bpp2, px2)) =
      Multimodal.decodePngPixels(Multimodal.encodePng(2, 5, 4, rgba)): @unchecked
    assert((w2, h2, bpp2) === ((2, 5, 4)))
    assert(px2.toSeq === rgba.toSeq)
  }

  test("PNG decode: scanline filters Sub/Up/Average/Paeth unfilter to hand-computed pixels") {
    // image A: row0 Sub, row1 Up (2x2 RGB)
    val a = rawPng(2, 2, 2, Array[Byte](
      1, 10, 20, 30, 5, 5, 5,
      2, 1, 1, 1, 2, 2, 2))
    val Some((_, _, _, pa)) = Multimodal.decodePngPixels(a): @unchecked
    assert(pa.map(_ & 0xff).toSeq === Seq(10, 20, 30, 15, 25, 35, 11, 21, 31, 17, 27, 37))
    // image B: row0 None, row1 Average, row2 Paeth (2x3 RGB)
    val b = rawPng(2, 3, 2, Array[Byte](
      0, 8, 16, 24, 32, 40, 48,
      3, 4, 4, 4, 4, 4, 4,
      4, 2, 2, 2, 2, 2, 2))
    val Some((_, _, _, pb)) = Multimodal.decodePngPixels(b): @unchecked
    assert(pb.map(_ & 0xff).toSeq === Seq(
      8, 16, 24, 32, 40, 48,
      8, 12, 16, 24, 30, 36,
      10, 14, 18, 26, 32, 38))
  }

  test("PNG decode refuses what it cannot faithfully decode") {
    val good = coordPng(3, 2)
    // interlaced flag
    val interlaced = good.clone(); interlaced(28) = 1
    assert(Multimodal.decodePngPixels(interlaced).isEmpty)
    // 16-bit depth
    val deep = good.clone(); deep(24) = 16
    assert(Multimodal.decodePngPixels(deep).isEmpty)
    // grayscale color type
    val gray = good.clone(); gray(25) = 0
    assert(Multimodal.decodePngPixels(gray).isEmpty)
    // truncated IDAT (cut mid-chunk)
    assert(Multimodal.decodePngPixels(good.take(good.length - 15)).isEmpty)
    // crafted IHDR claiming a pixel bomb: refuse before allocating
    val bomb = good.clone()
    bomb(16) = 0x7f.toByte; bomb(17) = 0xff.toByte // width ~2^31
    assert(Multimodal.decodePngPixels(bomb).isEmpty)
    // crafted zlib header with FDICT set ((0x7820 % 31) == 0, so it parses):
    // inflate() returns 0 with needsDictionary() — must refuse, not hang
    val fdict = rawPngIdat(2, 2, 2,
      Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8))
    assert(Multimodal.decodePngPixels(fdict).isEmpty)
    // bit-flipped IDAT payload: the chunk CRC no longer matches — refuse
    // (advisor r12: corrupt chunks must not decode silently)
    val flipped = good.clone()
    flipped(flipped.length - 20) = (flipped(flipped.length - 20) ^ 0x40).toByte
    assert(Multimodal.decodePngPixels(flipped).isEmpty,
      "a bit-flipped chunk must fail its CRC, not decode")
    // oversized IDAT: one EXTRA deflated scanline beyond what IHDR claims —
    // trailing compressed data must refuse, not silently truncate
    val extraRow = rawPng(2, 1, 2, Array[Byte](
      0, 10, 20, 30, 40, 50, 60,
      0, 1, 2, 3, 4, 5, 6)) // IHDR says 1 row, stream carries 2
    assert(Multimodal.decodePngPixels(extraRow).isEmpty,
      "an IDAT with more scanlines than IHDR claims must refuse")
  }

  test("resizePng: nearest-neighbor sampling exact on coordinate-tagged pixels") {
    def pngPixel(p: Array[Byte], w: Int, x: Int, y: Int): (Int, Int, Int) = {
      val Some((dw, _, bpp, px)) = Multimodal.decodePngPixels(p): @unchecked
      assert(dw === w && bpp === 3)
      val i = (y * w + x) * 3
      ((px(i) & 0xff), (px(i + 1) & 0xff), (px(i + 2) & 0xff))
    }
    val up = Multimodal.resizePng(coordPng(2, 2), 4, 4).get
    assert(Multimodal.decodeHeader(up) === ("png", 4, 4))
    for (y <- 0 until 4; x <- 0 until 4)
      assert(pngPixel(up, 4, x, y) === (x / 2, y / 2, 0xAA), s"up($x,$y)")
    val down = Multimodal.resizePng(coordPng(4, 4), 2, 2).get
    for (y <- 0 until 2; x <- 0 until 2)
      assert(pngPixel(down, 2, x, y) === (2 * x, 2 * y, 0xAA), s"down($x,$y)")
    // RGBA alpha survives the resize
    val rgba = Array.tabulate(2 * 2 * 4)(i => (i * 13 + 3).toByte)
    val r2 = Multimodal.resizePng(Multimodal.encodePng(2, 2, 4, rgba), 1, 1).get
    assert(Multimodal.decodePngPixels(r2).get._3 === 4)
    // non-PNG refuses
    assert(Multimodal.resizePng("not a png".getBytes, 2, 2).isEmpty)
  }

  // ---------------- GIF frame walk ----------------

  test("gifFrameWalk: hand-built and encoded GIFs enumerate exact frame geometry") {
    val frames = Seq((0, 0, 10, 8), (2, 1, 4, 3), (5, 5, 1, 1))
    val gif = Multimodal.encodeGif(10, 8, frames, seed = 5L)
    assert(Multimodal.decodeHeader(gif) === ("gif", 10, 8))
    assert(Multimodal.gifFrameWalk(gif) === frames)
    // hand-assembled GIF87a: no GCT, one descriptor WITH a local color table
    val hand = Array[Byte](
      'G', 'I', 'F', '8', '7', 'a',
      3, 0, 2, 0, // 3x2 screen
      0, 0, 0, // packed (no GCT), bg, aspect
      0x2c, 1, 0, 0, 0, 2, 0, 2, 0, // descriptor: left=1, top=0, 2x2
      0x80.toByte, // packed: LCT present, size 0 -> 2 entries = 6 bytes
      1, 2, 3, 4, 5, 6, // local color table
      2, // LZW min code size
      1, 0x00, // one data sub-block
      0, // terminator
      0x3b)
    assert(Multimodal.gifFrameWalk(hand) === Seq((1, 0, 2, 2)))
    // truncation never throws: frames parsed so far come back
    assert(Multimodal.gifFrameWalk(gif.take(40)).size <= frames.size)
    assert(Multimodal.gifFrameWalk("GIF89a".getBytes) === Nil)
    assert(Multimodal.gifFrameWalk("not a gif at all".getBytes) === Nil)
    // 10-12 bytes pass decodeHeader's "gif" check but lack the full
    // header+LSD: must return Nil, never read past the array
    for (n <- 10 to 12) assert(Multimodal.gifFrameWalk(gif.take(n)) === Nil, s"len $n")
  }

  test("gifFrames: per-frame rows from real encoded files, non-GIF rows emit nothing") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/gif",
        Multimodal.encodeGif(8, 8, Seq((0, 0, 8, 8), (1, 2, 3, 4)), seed = 1L)),
      Multimodal.MediaRecord(2L, "text/plain", "words".getBytes)
    ).toDS().toDF()
    val rows = Multimodal.gifFrames(spark, media).collect().sortBy(_.frame_idx)
    assert(rows.toSeq === Seq(
      Multimodal.GifFrame(1L, 0, 0, 0, 8, 8),
      Multimodal.GifFrame(1L, 1, 1, 2, 3, 4)))
  }

  // ---------------- GIF LZW pixel decode ----------------

  /** Test-only GENERAL GIF LZW encoder (growing dictionary, variable code
    * width with the canonical early bump, deferred clear once full) — the
    * independent counterpart that proves [[Multimodal.gifLzwDecode]] handles
    * real encoder output, not just the fixture's clear-code subset. */
  private def lzwEncode(minCodeSize: Int, pixels: Array[Byte]): Array[Byte] = {
    val clear = 1 << minCodeSize; val eoi = clear + 1
    var codeSize = minCodeSize + 1
    var nextCode = eoi + 1
    val dict = scala.collection.mutable.HashMap[(Int, Int), Int]()
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    def write(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) { out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
      // canonical (giflib) bump: checked AFTER writing, BEFORE the entry add,
      // so the width increase takes effect one code early on both sides
      if (nextCode >= (1 << codeSize) && codeSize < 12) codeSize += 1
    }
    write(clear)
    var prev = pixels(0) & 0xff
    var i = 1
    while (i < pixels.length) {
      val c = pixels(i) & 0xff
      dict.get((prev, c)) match {
        case Some(code) => prev = code
        case None =>
          write(prev)
          if (nextCode < 4096) { dict((prev, c)) = nextCode; nextCode += 1 }
          prev = c
      }
      i += 1
    }
    write(prev); write(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  test("gifLzwDecode: hand-traced KwKwK stream with a width bump decodes exactly") {
    // pixels [1,1,1,1,1] at minCodeSize 2: codes [clear=4, 1, 6(KwKwK), 6, eoi=5],
    // widths [3,3,3,3,4] (the canonical early bump after next-index hits 8) —
    // packed LSB-first that is exactly the two bytes 0x8C 0x5D
    val enc = lzwEncode(2, Array[Byte](1, 1, 1, 1, 1))
    assert(enc.toSeq === Seq(0x8c.toByte, 0x5d.toByte))
    assert(Multimodal.gifLzwDecode(2, enc, 5).map(_.toSeq) === Some(Seq[Byte](1, 1, 1, 1, 1)))
  }

  test("gifLzwDecode round-trips real encoder output across width growth and a full dictionary") {
    val rnd = new scala.util.Random(13)
    // low alphabet + long stream: code width walks 3..12 and the dictionary
    // FILLS (deferred-clear mode: both sides stop adding entries at 4096)
    val long4 = Array.fill[Byte](60000)((rnd.nextInt(4)).toByte)
    assert(Multimodal.gifLzwDecode(2, lzwEncode(2, long4), 60000).map(_.toSeq) ===
      Some(long4.toSeq), "alphabet-4 60k stream")
    // byte alphabet: dictionary fills fast at 8-bit roots
    val bytes8 = Array.fill[Byte](8000)(rnd.nextInt(256).toByte)
    assert(Multimodal.gifLzwDecode(8, lzwEncode(8, bytes8), 8000).map(_.toSeq) ===
      Some(bytes8.toSeq), "alphabet-256 8k stream")
    // pure run: back-to-back KwKwK chain
    val run = Array.fill[Byte](500)(3)
    assert(Multimodal.gifLzwDecode(2, lzwEncode(2, run), 500).map(_.toSeq) ===
      Some(run.toSeq), "single-symbol run")
    // mid-stream clear code resets the dictionary: splice two encodes
    val a = lzwEncode(2, long4.take(100)); val b = lzwEncode(2, long4.slice(100, 200))
    // drop a's trailing EOI by re-encoding without it is fiddly — instead
    // verify the decoder accepts a stream that is ONLY a clear then data
    // (every lzwEncode output starts with a clear, so b alone already
    // re-clears; concatenation is not byte-aligned, so test b standalone)
    assert(Multimodal.gifLzwDecode(2, b, 100).map(_.toSeq) === Some(long4.slice(100, 200).toSeq))
    assert(a.nonEmpty)
  }

  test("gifLzwDecode refuses malformed streams: truncation, bad codes, overflow — never hangs") {
    val good = lzwEncode(2, Array[Byte](0, 1, 2, 3, 0, 1, 2, 3, 0, 1))
    // truncation before EOI
    for (n <- 0 until good.length - 1)
      assert(Multimodal.gifLzwDecode(2, good.take(n), 10).isEmpty, s"truncated at $n")
    // output larger than claimed (maxPixels) refuses instead of allocating
    assert(Multimodal.gifLzwDecode(2, good, 9).isEmpty)
    // a code referencing far past the dictionary: first code after clear = 7
    // (> dictSize 6) — bits LSB-first: clear=100, then 111 -> byte 0b00111100
    assert(Multimodal.gifLzwDecode(2, Array[Byte](0x3c.toByte), 10).isEmpty)
    // garbage and empties
    assert(Multimodal.gifLzwDecode(2, Array.empty[Byte], 10).isEmpty)
    assert(Multimodal.gifLzwDecode(1, good, 10).isEmpty, "minCodeSize < 2")
    assert(Multimodal.gifLzwDecode(9, good, 10).isEmpty, "minCodeSize > 8")
  }

  test("gifFrameWalkPixels: encoded GIFs decode to the exact pixel function; interlace reorders rows") {
    // LCG fixture: replay the encoder's pixel stream independently (the GCT
    // consumes 384 LCG draws first, frames continue the same sequence)
    val frames = Seq((0, 0, 5, 4), (2, 1, 3, 3))
    val gif = Multimodal.encodeGif(10, 8, frames, seed = 42L)
    var p = 42L
    def lcg(): Int = { p = p * 6364136223846793005L + 1442695040888963407L; ((p >>> 32) & 0xff).toInt }
    for (_ <- 0 until 3 * 128) lcg()
    val expected = frames.map { case (_, _, w, h) => Array.fill(w * h)((lcg() & 0x7f).toByte) }
    val got = Multimodal.gifFrameWalkPixels(gif)
    assert(got.map(_._1) === frames.indices)
    assert(got.map(f => (f._2, f._3, f._4, f._5)) === frames)
    assert(got.map(_._6.toSeq) === expected.map(_.toSeq))
    // pixelFn override: values are the arithmetic function, not the LCG
    val exact = Multimodal.encodeGif(10, 8, Seq((0, 0, 4, 3)), seed = 7L,
      pixelFn = Some((i, j) => 5 * i + 3 * j))
    assert(Multimodal.gifFrameWalkPixels(exact).head._6.toSeq ===
      (0 until 12).map(j => ((3 * j) % 128).toByte))
    // interlace: encode rows whose value = row index (w=4), set the descriptor's
    // interlace bit, and the decoded rows must come back in DISPLAY order
    // (stored order for h=8 is 0,4,2,6,1,3,5,7 per the four-pass spec layout)
    val il = Multimodal.encodeGif(4, 8, Seq((0, 0, 4, 8)), seed = 1L,
      pixelFn = Some((_, j) => j / 4))
    val di = il.indexWhere(_ == 0x2c.toByte, 13 + 384)
    il(di + 9) = (il(di + 9) | 0x40).toByte
    val storedOrder = Seq(0, 4, 2, 6, 1, 3, 5, 7)
    val deint = Multimodal.gifFrameWalkPixels(il).head._6
    for (y <- 0 until 8; x <- 0 until 4)
      assert((deint(y * 4 + x) & 0xff) === storedOrder.indexOf(y), s"row $y")
    // truncated payload: frames parsed so far, never a throw
    assert(Multimodal.gifFrameWalkPixels(gif.take(420)).size <= frames.size)
    assert(Multimodal.gifFrameWalkPixels("not a gif".getBytes) === Nil)
    // a corrupt FIRST frame must not shift the second frame's identity:
    // frame_idx is the DESCRIPTOR index, so joining pixel features against
    // gifFrames geometry on (media_id, frame_idx) stays sound
    val two = Multimodal.encodeGif(10, 8, Seq((0, 0, 3, 2), (1, 1, 2, 2)), seed = 9L,
      pixelFn = Some((i, j) => 11 * i + j))
    val d0 = two.indexWhere(_ == 0x2c.toByte, 13 + 384)
    two(d0 + 12) = 0xff.toByte // first LZW code byte: 255 > initial dictSize -> decode refuses
    val survived = Multimodal.gifFrameWalkPixels(two)
    assert(survived.map(_._1) === Seq(1), "only descriptor #1 decodes")
    assert(survived.head._4 === 2 && survived.head._5 === 2,
      "the surviving frame must carry ITS OWN geometry")
    // pixel-bomb descriptor (w=65535, h=32767 ~ 2.1e9 px): dropped without
    // attempting the multi-GB allocation — the MaxGifFramePixels bound
    val bomb = Multimodal.encodeGif(10, 8, Seq((0, 0, 3, 2)), seed = 9L)
    val db = bomb.indexWhere(_ == 0x2c.toByte, 13 + 384)
    bomb(db + 5) = 0xff.toByte; bomb(db + 6) = 0xff.toByte // w = 65535
    bomb(db + 7) = 0xff.toByte; bomb(db + 8) = 0x7f.toByte // h = 32767
    assert(Multimodal.gifFrameWalkPixels(bomb) === Nil)
  }

  test("gifFramePixels: hand-computed checksums per frame, undecodable rows emit nothing") {
    import spark.implicits._
    // one real file via the exact-pixel generator path (2x2 + 3x2 frames,
    // pixel = 10*i + 7*j mod 127) + one corrupt payload
    val g = Multimodal.encodeGif(8, 8, Seq((0, 0, 2, 2), (1, 1, 3, 2)), seed = 3L,
      pixelFn = Some((i, j) => (10 * i + 7 * j) % 127))
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/gif", g),
      Multimodal.MediaRecord(2L, "image/gif", g.take(400)), // truncated mid-GCT
      Multimodal.MediaRecord(3L, "text/plain", "words".getBytes)
    ).toDS().toDF()
    val rows = Multimodal.gifFramePixels(spark, media).collect().sortBy(_.frame_idx)
    def sums(vals: Seq[Int]): (Long, Long, Int, Int) = (
      vals.map(_.toLong).sum,
      vals.zipWithIndex.map { case (v, j) => (j + 1).toLong * v }.sum,
      vals.head, vals.last)
    val f0 = sums((0 until 4).map(j => (7 * j) % 127))
    val f1 = sums((0 until 6).map(j => (10 + 7 * j) % 127))
    assert(rows.toSeq === Seq(
      Multimodal.GifFramePixels(1L, 0, 2, 2, 4L, f0._1, f0._2, f0._3, f0._4),
      Multimodal.GifFramePixels(1L, 1, 3, 2, 6L, f1._1, f1._2, f1._3, f1._4)))
  }

  // ---------------- WAV windowing ----------------

  test("wavWindows: hand-computed peaks, partial last window, chunk-walk robustness") {
    import spark.implicits._
    // seed 3: samples (3*31 + 7i) % 4096 - 2048 = -1955, -1948, -1941, -1934, -1927
    val mono = Multimodal.encodeWavPcm16(5, 8000, seed = 3L)
    assert(Multimodal.wavPcm16Layout(mono) === Some((1, 44, 10)))
    val w = Multimodal.wavWindows(spark,
        Seq(Multimodal.MediaRecord(1L, "audio/wav", mono)).toDS().toDF(),
        windowSamples = 2, hopSamples = 2)
      .collect().sortBy(_.window_idx)
    // all five samples are negative -> zero crossings are 0 throughout;
    // sum_sq is hand-computed from the squares of the sample pairs
    assert(w.toSeq === Seq(
      Multimodal.WavWindow(1L, 0, 0L, 2L, 1955L, 1955L * 1955 + 1948L * 1948, 0L),
      Multimodal.WavWindow(1L, 1, 2L, 2L, 1941L, 1941L * 1941 + 1934L * 1934, 0L),
      Multimodal.WavWindow(1L, 2, 4L, 1L, 1927L, 1927L * 1927, 0L)))
    // hand-built STEREO wav with an odd-length junk chunk before fmt: the
    // walk must pad to even and window FRAMES (peak across both channels)
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def tag(s: String) = s.getBytes("US-ASCII")
    val samples = Array[Short](100, -700, 300, 50) // 2 frames x 2 channels
    bos.write(tag("RIFF")); bos.write(le32(4 + 8 + 3 + 1 + 8 + 16 + 8 + 8))
    bos.write(tag("WAVE"))
    bos.write(tag("junk")); bos.write(le32(3)); bos.write(Array[Byte](9, 9, 9, 0)) // odd size, padded
    bos.write(tag("fmt ")); bos.write(le32(16))
    bos.write(Array[Byte](1, 0, 2, 0)) // PCM, stereo
    bos.write(le32(8000)); bos.write(le32(32000))
    bos.write(Array[Byte](4, 0, 16, 0))
    bos.write(tag("data")); bos.write(le32(8))
    samples.foreach(s => { bos.write(s & 0xff); bos.write((s >> 8) & 0xff) })
    val stereo = bos.toByteArray
    val sw = Multimodal.wavWindows(spark,
        Seq(Multimodal.MediaRecord(2L, "audio/wav", stereo)).toDS().toDF(),
        windowSamples = 1, hopSamples = 1)
      .collect().sortBy(_.window_idx)
    // peak and energy cover BOTH channels; zero crossings track channel 0,
    // and a single-frame window has no consecutive pair -> 0
    assert(sw.toSeq === Seq(
      Multimodal.WavWindow(2L, 0, 0L, 1L, 700L, 100L * 100 + 700L * 700, 0L),
      Multimodal.WavWindow(2L, 1, 1L, 1L, 300L, 300L * 300 + 50L * 50, 0L)))
    // a window spanning both frames: channel 0 goes 100 -> 300 (no sign
    // change, zc 0); widen the samples to flip signs and count one crossing
    val sw2 = Multimodal.wavWindows(spark,
        Seq(Multimodal.MediaRecord(3L, "audio/wav", stereo)).toDS().toDF(),
        windowSamples = 2, hopSamples = 2)
      .collect()
    assert(sw2.toSeq === Seq(Multimodal.WavWindow(3L, 0, 0L, 2L, 700L,
      100L * 100 + 700L * 700 + 300L * 300 + 50L * 50, 0L)))
    // seed 1123: samples -3 then +4 (1123*31 % 4096 = 2045) -> exactly one
    // sign change counted
    val flip = Multimodal.wavWindows(spark,
        Seq(Multimodal.MediaRecord(4L, "audio/wav",
          Multimodal.encodeWavPcm16(2, 8000, seed = 1123L))).toDS().toDF(),
        windowSamples = 2, hopSamples = 2)
      .collect()
    assert(flip.toSeq === Seq(Multimodal.WavWindow(4L, 0, 0L, 2L, 4L, 25L, 1L)))
    // refusals: non-wav, 8-bit, truncated
    assert(Multimodal.wavPcm16Layout("RIFFxxxxWAVE".getBytes).isEmpty)
    val eightBit = mono.clone(); eightBit(34) = 8
    assert(Multimodal.wavPcm16Layout(eightBit).isEmpty)
    assert(Multimodal.wavPcm16Layout(mono.take(50)).isEmpty)
    // crafted data-chunk size near Int.MaxValue: the Int sum would wrap
    // negative and slip past the length check — must refuse, not crash
    val evil = mono.clone()
    evil(40) = 0xf0.toByte; evil(41) = 0xff.toByte
    evil(42) = 0xff.toByte; evil(43) = 0x7f.toByte
    assert(Multimodal.wavPcm16Layout(evil).isEmpty)
    // order enforcement (advisor r12): data BEFORE fmt is a refusal — the
    // sample bytes cannot be framed before the format is known
    val dbf = new java.io.ByteArrayOutputStream()
    dbf.write(tag("RIFF")); dbf.write(le32(4 + 8 + 4 + 8 + 16))
    dbf.write(tag("WAVE"))
    dbf.write(tag("data")); dbf.write(le32(4)); dbf.write(Array[Byte](1, 2, 3, 4))
    dbf.write(tag("fmt ")); dbf.write(le32(16))
    dbf.write(Array[Byte](1, 0, 1, 0)); dbf.write(le32(8000)); dbf.write(le32(16000))
    dbf.write(Array[Byte](2, 0, 16, 0))
    assert(Multimodal.wavPcm16Layout(dbf.toByteArray).isEmpty,
      "data chunk before fmt must refuse")
    // a malformed fmt (size < 16) is a refusal, not a silent skip
    val shortFmt = new java.io.ByteArrayOutputStream()
    shortFmt.write(tag("RIFF")); shortFmt.write(le32(4 + 8 + 8 + 8 + 16 + 8 + 4))
    shortFmt.write(tag("WAVE"))
    shortFmt.write(tag("fmt ")); shortFmt.write(le32(8))
    shortFmt.write(Array[Byte](1, 0, 1, 0, 0x40, 0x1f, 0, 0)) // truncated fields
    shortFmt.write(tag("fmt ")); shortFmt.write(le32(16))
    shortFmt.write(Array[Byte](1, 0, 1, 0)); shortFmt.write(le32(8000)); shortFmt.write(le32(16000))
    shortFmt.write(Array[Byte](2, 0, 16, 0))
    shortFmt.write(tag("data")); shortFmt.write(le32(4)); shortFmt.write(Array[Byte](1, 2, 3, 4))
    assert(Multimodal.wavPcm16Layout(shortFmt.toByteArray).isEmpty,
      "fmt with size < 16 must refuse, never skip to a later fmt")
  }

  // ---------------- JPEG baseline encode/decode ----------------

  test("JPEG: flat-block images round-trip pixel-exactly, with and without restarts") {
    // 20x11 = 3x2 MCUs; pixel (x,y) = flat-per-block value
    val w = 20; val h = 11
    def px(x: Int, y: Int): Int = (7 * 31 + (y / 8) * 37 + (x / 8) * 11) % 251
    val plain = Multimodal.encodeJpegGray(w, h, px)
    val Some((dw, dh, dc, dpx)) = Multimodal.decodeJpegPixels(plain)
    assert((dw, dh, dc) === ((w, h, 1)))
    for (y <- 0 until h; x <- 0 until w)
      assert((dpx(y * w + x) & 0xff) === px(x, y), s"pixel ($x,$y)")
    // restart markers: different bytes, identical pixels; DC preds reset
    val rst = Multimodal.encodeJpegGray(w, h, px, restartInterval = 2)
    assert(!java.util.Arrays.equals(plain, rst))
    assert(rst.containsSlice(Array(0xff.toByte, 0xd0.toByte)), "a RST0 marker")
    val Some((_, _, _, rpx)) = Multimodal.decodeJpegPixels(rst)
    assert(java.util.Arrays.equals(rpx, dpx))
    // header parse agrees with the full decode
    assert(Multimodal.decodeHeader(plain) === (("jpeg", w, h)))
  }

  test("JPEG: general content round-trips within the all-ones-quant error bound") {
    // deterministic LCG pixels — NOT flat, every AC path exercised (magnitude
    // bits, ZRL runs, EOB) plus the DC DPCM chain across 6 MCUs
    var p = 42L
    def lcg(): Int = { p = p * 6364136223846793005L + 1442695040888963407L; ((p >>> 32) & 0xff).toInt }
    val w = 24; val h = 16
    val img = Array.fill(w * h)(lcg())
    val enc = Multimodal.encodeJpegGray(w, h, (x, y) => img(y * w + x))
    val Some((dw, dh, _, dpx)) = Multimodal.decodeJpegPixels(enc)
    assert((dw, dh) === ((w, h)))
    val maxErr = (0 until w * h).map(i => math.abs((dpx(i) & 0xff) - img(i))).max
    // all-ones quant: coefficient rounding ±0.5 propagated through the IDCT;
    // deterministic fixture, observed max error 1
    assert(maxErr <= 2, s"max error $maxErr")
  }

  test("JPEG: 4:4:4 color decodes through the JFIF YCbCr->RGB matrix") {
    // flat 8x8 single block per plane: YCbCr reconstruct exactly, so RGB is
    // the independent matrix recompute here
    val (yv, cb, cr) = (120, 90, 170)
    val planes = Array(Array.fill(64)(yv.toByte), Array.fill(64)(cb.toByte),
      Array.fill(64)(cr.toByte))
    val enc = Multimodal.encodeJpeg(8, 8, planes)
    val Some((dw, dh, dc, dpx)) = Multimodal.decodeJpegPixels(enc)
    assert((dw, dh, dc) === ((8, 8, 3)))
    def clamp(d: Double): Int = math.max(0, math.min(255, Math.round(d).toInt))
    val expR = clamp(yv + 1.402 * (cr - 128))
    val expG = clamp(yv - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
    val expB = clamp(yv + 1.772 * (cb - 128))
    for (i <- 0 until 64) {
      assert((dpx(3 * i) & 0xff) === expR)
      assert((dpx(3 * i + 1) & 0xff) === expG)
      assert((dpx(3 * i + 2) & 0xff) === expB)
    }
  }

  test("JPEG decode refuses what it cannot faithfully decode") {
    val good = Multimodal.encodeJpegGray(20, 11, (x, y) => (x * 7 + y * 13) % 251)
    assert(Multimodal.decodeJpegPixels(good).isDefined)
    // every truncation refuses (or decodes nothing) and never throws
    for (n <- 0 until good.length)
      assert(Multimodal.decodeJpegPixels(good.take(n)).isEmpty, s"truncated at $n")
    // trailing bytes after EOI: refuse (the trailing-IDAT lesson)
    assert(Multimodal.decodeJpegPixels(good :+ 0x00.toByte).isEmpty)
    // progressive (SOF2): refuse
    val prog = good.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodeJpegPixels(prog).isEmpty)
    // 12-bit precision: refuse
    val deep = good.clone(); deep(sofAt + 4) = 12
    assert(Multimodal.decodeJpegPixels(deep).isEmpty)
    // subsampled component (2x2 sampling factors): refuse
    val sub = good.clone(); sub(sofAt + 10) = 0x22.toByte
    assert(Multimodal.decodeJpegPixels(sub).isEmpty)
    // dimension bomb: 65535x65535 would be ~4 GiB of samples — refuse
    val bomb = good.clone()
    bomb(sofAt + 5) = 0xff.toByte; bomb(sofAt + 6) = 0xff.toByte
    bomb(sofAt + 7) = 0xff.toByte; bomb(sofAt + 8) = 0xff.toByte
    assert(Multimodal.decodeJpegPixels(bomb).isEmpty)
    // a missing restart marker desyncs the resync protocol: refuse
    val rst = Multimodal.encodeJpegGray(20, 11, (x, y) => (x + y) % 251, restartInterval = 2)
    val rstAt = (0 until rst.length - 1).find(i =>
      (rst(i) & 0xff) == 0xff && (rst(i + 1) & 0xff) == 0xd0).get
    val broken = rst.clone(); broken(rstAt + 1) = 0xd7.toByte // wrong RST index
    assert(Multimodal.decodeJpegPixels(broken).isEmpty)
    // over-subscribed Huffman spectrum (3 codes of length 1): refuse
    val dht = good.clone()
    val dhtAt = (0 until dht.length - 1).find(i =>
      (dht(i) & 0xff) == 0xff && (dht(i + 1) & 0xff) == 0xc4).get
    dht(dhtAt + 5) = 3 // BITS[1] = 3 > 2^1
    assert(Multimodal.decodeJpegPixels(dht).isEmpty)
    // a zero quant entry would reconstruct garbage deterministically: refuse
    val dqt = good.clone()
    val dqtAt = (0 until dqt.length - 1).find(i =>
      (dqt(i) & 0xff) == 0xff && (dqt(i + 1) & 0xff) == 0xdb).get
    dqt(dqtAt + 5) = 0
    assert(Multimodal.decodeJpegPixels(dqt).isEmpty)
    // Pq=1 (16-bit quant entries) is illegal in baseline SOF0: refuse
    val dqt16 = good.clone()
    dqt16(dqtAt + 4) = 0x10.toByte // Pq=1, Tq=0
    assert(Multimodal.decodeJpegPixels(dqt16).isEmpty)
    assert(Multimodal.decodeJpegPixels("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.decodeJpegPixels(Array[Byte]()).isEmpty)
  }

  test("resizeJpeg: nearest-neighbor sampling exact on flat images, formats dispatch") {
    // flat image: every stage of decode->resize->re-encode->re-decode is exact
    val flat = Multimodal.encodeJpegGray(5, 3, (_, _) => 177)
    val Some(resized) = Multimodal.resizeJpeg(flat, 8, 8)
    val Some((rw, rh, rc, rpx)) = Multimodal.decodeJpegPixels(resized)
    assert((rw, rh, rc) === ((8, 8, 1)))
    assert(rpx.forall(b => (b & 0xff) == 177))
    // non-JPEG payloads refuse so resizeImages can fall through
    assert(Multimodal.resizeJpeg(Multimodal.encodeBmp(4, 4, 1L), 8, 8).isEmpty)
    assert(Multimodal.resizeJpeg("text".getBytes, 8, 8).isEmpty)
  }

  test("jpegPixels: hand-computed checksums, non-JPEG rows emit nothing") {
    import spark.implicits._
    // 2x1 flat image, value 100: sum 200, poly 1*100 + 2*100 = 300
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/jpeg",
        Multimodal.encodeJpegGray(2, 1, (_, _) => 100)),
      Multimodal.MediaRecord(2L, "text/plain", "words".getBytes)
    ).toDS().toDF()
    val rows = Multimodal.jpegPixels(spark, media).collect()
    assert(rows.toSeq === Seq(
      Multimodal.JpegPixels(1L, 2, 1, 1, 2L, 200L, 300L, 100, 100)))
  }

  // ---------------- AVI MJPEG container ----------------

  test("AVI: encode->walk returns the exact frame payloads; robustness") {
    val f0 = Multimodal.encodeJpegGray(6, 4, (x, y) => (x + y * 6) % 251)
    val f1 = Multimodal.encodeJpegGray(6, 4, (_, _) => 9)
    val avi = Multimodal.encodeAviMjpeg(6, 4, Seq(f0, f1), fps = 25)
    val walked = Multimodal.aviFrameWalk(avi)
    assert(walked.size === 2)
    assert(java.util.Arrays.equals(walked(0), f0))
    assert(java.util.Arrays.equals(walked(1), f1))
    // container structure: RIFF/AVI magic, an idx1 with one entry per frame
    assert(new String(avi.take(4), "US-ASCII") === "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") === "AVI ")
    val idxAt = (0 until avi.length - 4).find(i =>
      new String(avi.slice(i, i + 4), "US-ASCII") == "idx1").get
    def le32(i: Int) = (avi(i) & 0xff) | ((avi(i + 1) & 0xff) << 8) |
      ((avi(i + 2) & 0xff) << 16) | ((avi(i + 3) & 0xff) << 24)
    assert(le32(idxAt + 4) === 2 * 16, "two 16-byte index entries")
    // odd-length frames pad to even: a 1-byte-longer frame still walks back
    val fOdd = f0 :+ 0x37.toByte // not a decodable jpeg — the WALK must still return it
    val avi2 = Multimodal.encodeAviMjpeg(6, 4, Seq(fOdd, f1))
    val walked2 = Multimodal.aviFrameWalk(avi2)
    assert(walked2.size === 2 && java.util.Arrays.equals(walked2(0), fOdd))
    // truncation never throws; frames walked so far come back
    for (n <- 0 until avi.length by 7)
      assert(Multimodal.aviFrameWalk(avi.take(n)).size <= 2, s"truncated at $n")
    assert(Multimodal.aviFrameWalk("RIFFxxxxWAVE".getBytes) === Nil)
    assert(Multimodal.aviFrameWalk("not an avi".getBytes) === Nil)
    // crafted inner chunk size near Int.MaxValue must not wrap the bound
    val evil = avi.clone()
    val moviAt = (0 until evil.length - 4).find(i =>
      new String(evil.slice(i, i + 4), "US-ASCII") == "movi").get
    evil(moviAt + 8) = 0xff.toByte; evil(moviAt + 9) = 0xff.toByte
    evil(moviAt + 10) = 0xff.toByte; evil(moviAt + 11) = 0x7f.toByte
    assert(Multimodal.aviFrameWalk(evil) === Nil)
    // AVI 1.0 rec-grouped interleave: frames wrapped in LIST 'rec ' groups
    // must still walk back byte-exactly (skipping the LIST wholesale would
    // silently drop every frame)
    val rec = Multimodal.encodeAviMjpeg(6, 4, Seq(f0, f1), recGroups = true)
    val recWalked = Multimodal.aviFrameWalk(rec)
    assert(recWalked.size === 2)
    assert(java.util.Arrays.equals(recWalked(0), f0))
    assert(java.util.Arrays.equals(recWalked(1), f1))
    // uint16 encode bounds: dims/restart past 65535 would silently truncate
    // in SOF0/DRI — must refuse at encode time
    intercept[IllegalArgumentException] {
      Multimodal.encodeJpegGray(70000, 8, (_, _) => 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.encodeJpegGray(8, 8, (_, _) => 0, restartInterval = 70000)
    }
  }

  test("aviFramePixels: hand-computed per-frame checksums; undecodable frames drop") {
    import spark.implicits._
    val f0 = Multimodal.encodeJpegGray(2, 1, (_, _) => 100) // sum 200, poly 300
    val f1 = Multimodal.encodeJpegGray(1, 1, (_, _) => 50)  // sum 50, poly 50
    val badFrame = "not a jpeg frame".getBytes
    val media = Seq(
      Multimodal.MediaRecord(1L, "video/avi",
        Multimodal.encodeAviMjpeg(2, 1, Seq(f0, badFrame, f1))),
      Multimodal.MediaRecord(2L, "text/plain", "words".getBytes)
    ).toDS().toDF()
    val rows = Multimodal.aviFramePixels(spark, media).collect().sortBy(_.frame_idx)
    // the undecodable middle frame drops WITHOUT shifting frame 2's identity
    assert(rows.toSeq === Seq(
      Multimodal.AviFramePixels(1L, 0, 2, 1, 2L, 200L, 300L, 100, 100),
      Multimodal.AviFramePixels(1L, 2, 1, 1, 1L, 50L, 50L, 50, 50)))
  }

  test("synthetic JPEG/AVI fixtures decode to their oracle arithmetic") {
    import spark.implicits._
    val docs = Seq((5L, "x"), (12L, "y"), (35L, "z")).toDF("doc_id", "text")
    // JPEG stills: dims (id%23+4) x (id%17+4), flat-per-block pixel fn
    val jp = Multimodal.jpegPixels(spark,
      Multimodal.syntheticJpegsFromDocuments(spark, docs).toDF()).collect()
      .map(r => r.media_id -> r).toMap
    for (id <- Seq(5L, 12L, 35L)) {
      val w = (id % 23).toInt + 4; val h = (id % 17).toInt + 4
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w)
        sum += (id * 31 + (y / 8) * 37 + (x / 8) * 11) % 251
      assert(jp(id).width === w && jp(id).height === h, s"doc $id dims")
      assert(jp(id).pixel_sum === sum, s"doc $id sum (restart=${id % 5 == 0})")
    }
    // AVI: id=5 -> 3 frames of (5%13+4)x(5%11+4) = 9x9
    val av = Multimodal.aviFramePixels(spark,
      Multimodal.syntheticAvisFromDocuments(spark, docs.filter($"doc_id" === 5L)).toDF())
      .collect().sortBy(_.frame_idx)
    assert(av.length === 3)
    for (i <- 0 until 3) {
      var sum = 0L
      for (y <- 0 until 9; x <- 0 until 9)
        sum += (5L * 31 + i * 257 + (y / 8) * 37 + (x / 8) * 11) % 251
      assert(av(i).pixel_sum === sum, s"frame $i")
    }
    // 4:4:4 color fixture: flat YCbCr planes reconstruct exactly, so RGB is
    // the independent matrix recompute over the per-block plane functions
    val cp = Multimodal.jpegPixels(spark,
      Multimodal.syntheticColorJpegsFromDocuments(spark, docs.filter($"doc_id" === 12L)).toDF())
      .collect()
    assert(cp.length === 1)
    val (w, h) = ((12L % 13).toInt + 4, (12L % 9).toInt + 4)
    def clamp(v: Double): Long = math.max(0, math.min(255, Math.round(v)))
    var (sum, poly) = (0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      val j = y * w + x
      val yv = (12L * 31 + (y / 8) * 37 + (x / 8) * 11) % 251
      val cb = (12L * 17 + (y / 8) * 23 + (x / 8) * 7) % 251 - 128
      val cr = (12L * 29 + (y / 8) * 19 + (x / 8) * 13) % 251 - 128
      val r = clamp(yv + 1.402 * cr)
      val g = clamp(yv - 0.344136 * cb - 0.714136 * cr)
      val b = clamp(yv + 1.772 * cb)
      sum += r + g + b
      poly += (3L * j + 1) * r + (3L * j + 2) * g + (3L * j + 3) * b
    }
    assert(cp(0).channels === 3 && cp(0).n_samples === 3L * w * h)
    assert(cp(0).pixel_sum === sum, "color pixel_sum")
    assert(cp(0).pixel_poly === poly, "color pixel_poly")
  }

  test("sceneCuts: hand-computed deltas, cut-from-black, dims-change reset, keyframe rank") {
    import spark.implicits._
    val f0 = Multimodal.encodeJpegGray(2, 1, (_, _) => 100)
    val f1 = Multimodal.encodeJpegGray(2, 1, (_, _) => 106)
    val f2 = Multimodal.encodeJpegGray(2, 1, (_, _) => 10)
    val bad = "not a jpeg".getBytes
    val fDim = Multimodal.encodeJpegGray(1, 1, (_, _) => 5) // dims change mid-video
    val media = Seq(
      Multimodal.MediaRecord(1L, "video/avi",
        Multimodal.encodeAviMjpeg(2, 1, Seq(f0, f1, bad, f2, fDim))),
      Multimodal.MediaRecord(2L, "text/plain", "x".getBytes)).toDS().toDF()
    val rows = Multimodal.sceneCuts(spark, media).collect().sortBy(_.frame_idx)
    // frame 0 deltas vs black: 2·100 = 200, mean 100 > 30 → cut
    // frame 1: 2·|106−100| = 12, mean 6 → no cut
    // frame 2 (undecodable) drops without shifting indices
    // frame 3 deltas vs the LAST DECODED frame (f1): 2·|10−106| = 192 → cut
    // frame 4: 1×1 dims differ from previous → vs black: 5, mean 5 → no cut
    assert(rows.map(r => (r.frame_idx, r.n_samples, r.delta_sum, r.is_cut)).toSeq ===
      Seq((0, 2L, 200L, true), (1, 2L, 12L, false),
          (3, 2L, 192L, true), (4, 1L, 5L, false)))
    // keyframe rank: delta desc, frame asc → 200, 192, 12, 5
    assert(rows.map(r => r.frame_idx -> r.key_rank).toMap ===
      Map(0 -> 1, 3 -> 2, 1 -> 3, 4 -> 4))
    assert(rows.forall(_.media_id == 1L), "non-video rows must emit nothing")
  }

  test("keyframes: top-k by delta, re-encode round-trips flat frames exactly, rank order") {
    import spark.implicits._
    val f0 = Multimodal.encodeJpegGray(2, 1, (_, _) => 100) // delta vs black 200
    val f1 = Multimodal.encodeJpegGray(2, 1, (_, _) => 106) // delta 12
    val f2 = Multimodal.encodeJpegGray(2, 1, (_, _) => 10)  // delta 192
    val media = Seq(Multimodal.MediaRecord(1L, "video/avi",
      Multimodal.encodeAviMjpeg(2, 1, Seq(f0, f1, f2)))).toDS().toDF()
    val rows = Multimodal.keyframes(spark, media, k = 2).collect().sortBy(_.key_rank)
    // top-2 by (delta desc, idx asc): frame 0 (200) rank 1, frame 2 (192) rank 2
    assert(rows.map(r => (r.frame_idx, r.key_rank)).toSeq === Seq((0, 1), (2, 2)))
    // re-decoded checksums equal the flat originals (lossless round trip)
    assert(rows.map(r => (r.pixel_sum, r.pixel_first)).toSeq ===
      Seq((200L, 100), (20L, 10)))
    // the emitted payload IS a standalone decodable JPEG of the frame
    val Some((kw, kh, kc, kpx)) = Multimodal.decodeJpegPixels(rows(0).jpeg)
    assert((kw, kh, kc) === ((2, 1, 1)) && kpx.forall(b => (b & 0xff) == 100))
    // k larger than the video: every decodable frame comes back, ranked
    assert(Multimodal.keyframes(spark, media, k = 10).collect().length === 3)
  }

  test("keyframes two-pass equals the buffered twin, undecodable frames and color included") {
    import spark.implicits._
    // the sceneCuts fixture shapes: an undecodable frame mid-video (raw walk
    // indices must line up across the two passes), a dims change, and a
    // color video — plus the documents-derived fixtures the oracle query uses
    val f0 = Multimodal.encodeJpegGray(2, 1, (_, _) => 100)
    val f1 = Multimodal.encodeJpegGray(2, 1, (_, _) => 106)
    val f2 = Multimodal.encodeJpegGray(2, 1, (_, _) => 10)
    val bad = "not a jpeg".getBytes
    val fDim = Multimodal.encodeJpegGray(1, 1, (_, _) => 5)
    val handMade = Seq(
      Multimodal.MediaRecord(1L, "video/avi",
        Multimodal.encodeAviMjpeg(2, 1, Seq(f0, f1, bad, f2, fDim))),
      Multimodal.MediaRecord(2L, "text/plain", "x".getBytes)).toDS().toDF()
    val docs = spark.range(40).select(col("id").as("doc_id"))
    val synth = Multimodal.syntheticAvisFromDocuments(spark, docs).toDF()
    for (media <- Seq(handMade, synth); k <- Seq(1, 2, 10)) {
      val two = Multimodal.keyframes(spark, media, k).collect()
        .map(r => (r.media_id, r.frame_idx, r.key_rank, r.width, r.height,
          r.n_samples, r.pixel_sum, r.pixel_poly, r.pixel_first, r.pixel_last,
          r.jpeg.toSeq)).sortBy(t => (t._1, t._3))
      val buf = Multimodal.keyframesBuffered(spark, media, k).collect()
        .map(r => (r.media_id, r.frame_idx, r.key_rank, r.width, r.height,
          r.n_samples, r.pixel_sum, r.pixel_poly, r.pixel_first, r.pixel_last,
          r.jpeg.toSeq)).sortBy(t => (t._1, t._3))
      assert(two.toSeq === buf.toSeq, s"two-pass diverged from buffered at k=$k")
    }
  }

  test("imageDHash: hand-computed bits; clones collide; banded near-dup recalls Hamming 1") {
    import spark.implicits._
    // 18x64 step image, flat per 8x8 block: columns >= 16 bright. Sampled
    // 9x8 grid: sx = 2x, sy = 8y — every sampled row reads g = [10 x8, 200],
    // so the only rising transition is at x = 7 → bit 8y+7 for every y:
    // lo = hi = bits {7,15,23,31} = 0x80808080.
    val a = Multimodal.encodeJpegGray(18, 64, (x, _) => if (x >= 16) 200 else 10)
    // B differs ONLY in block row y in [8,16) (sampled row 1), whose left
    // blocks brighten to 220: that row reads [220 x8, 200] — no rising
    // transition — so exactly bit 15 drops: Hamming(A, B) = 1.
    val bimg = Multimodal.encodeJpegGray(18, 64,
      (x, y) => if (x >= 16) 200 else if (y >= 8 && y < 16) 220 else 10)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/jpeg", a),
      Multimodal.MediaRecord(2L, "image/jpeg", bimg),
      Multimodal.MediaRecord(3L, "image/jpeg", a), // byte-identical clone of A
      Multimodal.MediaRecord(9L, "text/plain", "no".getBytes)).toDS().toDF()
    val h = Multimodal.imageDHash(spark, media).collect()
      .map(r => r.media_id -> r).toMap
    assert(h.keySet === Set(1L, 2L, 3L), "non-image rows must emit nothing")
    assert(h(1L).dhash_hi === 0x80808080L && h(1L).dhash_lo === 0x80808080L)
    assert(h(3L).dhash_hi === h(1L).dhash_hi && h(3L).dhash_lo === h(1L).dhash_lo)
    assert(h(2L).dhash_lo === 0x80800080L && h(2L).dhash_hi === 0x80808080L)
    // clusters: the clone pair collapses to one row with the smallest id
    val clusters = Multimodal.imageDupClusters(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(clusters((0x80808080L, 0x80808080L)) === ((2L, 1L)))
    assert(clusters((0x80808080L, 0x80800080L)) === ((1L, 2L)))
    // banded near-dup through the index probe's 4x16 bands: (1,2) and (2,3)
    // at Hamming 1, (1,3) at 0 — all found
    val hashesDf = Multimodal.imageDHash(spark, media).toDF()
    val pairs = Multimodal.imageNearDupsAgainstIndex(hashesDf,
        Multimodal.dHashBandRows(hashesDf), maxHamming = 3)
      .filter(col("batch_id") < col("base_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 0L)))
    // PNG payloads hash through the same path
    val png = Multimodal.syntheticPngsFromDocuments(spark,
      Seq((5L, "x")).toDF("doc_id", "text")).toDF()
    assert(Multimodal.imageDHash(spark, png).count() === 1L)
  }

  test("persisted image-dedup index: probe == brute force; append visible; delete revokes; compact preserves") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_img_idx_spec").toString
    val path = s"$dir/idx"
    try {
      val docs = spark.range(60).select(col("id").as("doc_id"))
      def hashesOf(slice: org.apache.spark.sql.DataFrame) =
        Multimodal.imageDHash(spark,
          Multimodal.syntheticCloneJpegsFromDocuments(spark, slice, classes = 10).toDF()).toDF()
      val base = hashesOf(docs.filter(col("doc_id") % 3 =!= 0))
      val batch = hashesOf(docs.filter(col("doc_id") % 3 === 0))
      // brute-force truth: every (batch, base) pair within Hamming 3 — the
      // 4x16 banding is recall-1 there, so the index probe must EQUAL it
      val truth = rowSet(batch.select(col("media_id").as("batch_id"),
          col("dhash_hi").as("ha"), col("dhash_lo").as("la"))
        .crossJoin(base.select(col("media_id").as("base_id"),
          col("dhash_hi").as("hb"), col("dhash_lo").as("lb")))
        .select(col("batch_id"), col("base_id"),
          (bit_count(col("ha").bitwiseXOR(col("hb"))) +
            bit_count(col("la").bitwiseXOR(col("lb")))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3))
      assert(truth.nonEmpty, "fixture must produce matches")
      Multimodal.writeImageDedupIndex(base, path, "graft_img_idx_spec", buckets = 4)
      def probe() = Multimodal.imageNearDupsAgainstIndex(batch,
        graft.sources.Lake.readBucketedVerified(spark, path,
          "graft_img_idx_spec", "bkey", 4))
      assert(rowSet(probe()) === truth, "store/probe round trip diverged from brute force")
      // append decoys (batch images under ids shifted by a class multiple:
      // byte-identical, new ids) — each probe image must now ALSO match its
      // decoy at hamming 0
      val decoyDocs = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000L).as("doc_id"))
      Multimodal.appendImageDedupIndex(hashesOf(decoyDocs), path,
        "graft_img_idx_spec", buckets = 4)
      val withDecoys = rowSet(probe())
      assert(withDecoys.size > truth.size, "appended decoys must be probe-visible")
      // delete the decoys: probe answers return exactly to the pre-append truth
      val decoyIds = decoyDocs.collect().map(_.getLong(0))
      assert(Multimodal.deleteFromImageDedupIndex(spark, path,
        "graft_img_idx_spec", decoyIds, buckets = 4) > 0)
      assert(rowSet(probe()) === truth, "delete != rebuild-over-the-remainder")
      // compaction preserves every probe answer
      graft.sources.Lake.compactBucketed(spark, path, "graft_img_idx_spec",
        "bkey", 4)
      assert(rowSet(probe()) === truth, "compaction changed a probe answer")
    } finally spark.sql("DROP TABLE IF EXISTS graft_img_idx_spec")
  }

  test("wavResample: anti-alias FIR decimation matches an independent convolution; taps sane") {
    import spark.implicits._
    val taps = Multimodal.firLowpassTaps(2, 7, 12)
    // center tap = round(0.5 * 4096) under a unity Hamming center; symmetric
    assert(taps(7) === 2048L)
    assert((0 to 14).forall(t => taps(t) == taps(14 - t)), "taps must be symmetric")
    val media = Seq(Multimodal.MediaRecord(3L, "audio/wav",
      Multimodal.encodeWavPcm16(5, 8000, seed = 3L))).toDS().toDF()
    val rows = Multimodal.wavResample(spark, media, factor = 2).collect()
    assert(rows.length === 1 && rows(0).n_in === 5L && rows(0).n_out === 3L)
    def x(i: Int): Long =
      if (i < 0 || i >= 5) 0L else (3L * 31 + i * 7) % 4096 - 2048
    val y = (0 until 3).map(j => (0 until 15).map(t => taps(t) * x(2 * j + t - 7)).sum)
    assert(rows(0).y_sum === y.sum)
    assert(rows(0).y_poly === y.zipWithIndex.map { case (v, j) => (j + 1) * v }.sum)
    assert(rows(0).y_first === y.head && rows(0).y_last === y.last)
    // non-WAV rows emit nothing
    assert(Multimodal.wavResample(spark,
      Seq(Multimodal.MediaRecord(9L, "text/plain", "no".getBytes)).toDS().toDF()).isEmpty)
  }

  test("wavSpectrum: fixed-point bins match the table inner product AND track a double Goertzel; centroid exact") {
    import spark.implicits._
    val bins = Seq(1, 2, 4, 8)
    val media = Seq(Multimodal.MediaRecord(7L, "audio/wav",
      Multimodal.encodeWavPcm16(80, 8000, seed = 7L))).toDS().toDF()
    val rows = Multimodal.wavSpectrum(spark, media).collect()
    assert(rows.map(_.window_idx).distinct.sorted.toSeq === Seq(0, 1, 2, 3, 4))
    assert(rows.count(_.n_samples == 16L) === bins.size, "partial last window kept")
    val (ct, sn) = Multimodal.goertzelTables(32, bins, 12)
    def sample(i: Int): Long = (7L * 31 + i * 7) % 4096 - 2048
    for (r <- rows) {
      val bi = bins.indexOf(r.bin)
      var re = 0L; var im = 0L
      for (m <- 0 until r.n_samples.toInt) {
        re += sample(r.start_sample.toInt + m) * ct(bi)(m)
        im += sample(r.start_sample.toInt + m) * sn(bi)(m)
      }
      assert(r.real_fp === re && r.imag_fp === im, s"bin ${r.bin} win ${r.window_idx}")
      assert(r.power === re * re + im * im)
      // the claimed Goertzel equivalence: the O(1)-state recurrence over the
      // same samples yields the same bin power (up to the fixed-point
      // table's quantization, scale 2^24)
      val w0 = 2.0 * math.Pi * r.bin / 32
      val coeff = 2.0 * math.cos(w0)
      var s1 = 0.0; var s2 = 0.0
      for (m <- 0 until r.n_samples.toInt) {
        val s0 = sample(r.start_sample.toInt + m) + coeff * s1 - s2
        s2 = s1; s1 = s0
      }
      val powG = (s1 * s1 + s2 * s2 - coeff * s1 * s2) * 4096.0 * 4096.0
      if (powG > 1e8)
        assert(math.abs(r.power - powG) / powG < 0.05,
          s"fixed-point power drifted from Goertzel: bin ${r.bin} win ${r.window_idx}")
    }
    // centroid: the exact rational (Σ bin·power, Σ power) per window,
    // replicated on each of its bin rows
    rows.groupBy(_.window_idx).foreach { case (_, ws) =>
      val num = ws.map(w1 => w1.bin.toLong * w1.power).sum
      val den = ws.map(_.power).sum
      assert(ws.forall(w1 => w1.centroid_num == num && w1.centroid_den == den))
    }
    // non-WAV rows emit nothing
    val none = Multimodal.wavSpectrum(spark,
      Seq(Multimodal.MediaRecord(9L, "text/plain", "nope".getBytes)).toDS().toDF())
    assert(none.isEmpty)
  }

  // a fixture WAV whose samples are PATCHED to caller-chosen full-scale
  // values — the real-world amplitude regime the fixtures' ±2048 never
  // reaches (advisor, r14 overflow findings)
  private def patchedWav(n: Int, pattern: Int => Int): Multimodal.MediaRecord = {
    val w = Multimodal.encodeWavPcm16(n, 8000, seed = 1L)
    val Some((_, off, _)) = Multimodal.wavPcm16Layout(w)
    var i = 0
    while (i < n) {
      val v = pattern(i)
      w(off + 2 * i) = (v & 0xff).toByte
      w(off + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    Multimodal.MediaRecord(1L, "audio/wav", w)
  }

  private def causeChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
      .map(c => Option(c.getMessage).getOrElse("")).toSeq

  test("wav overflow guards: full-scale audio fails LOUD, and the documented fix clears it") {
    import spark.implicits._
    // a full-scale square wave at bin 8's frequency concentrates all energy
    // in one bin: |real_fp| = |imag_fp| = 16·32767·2^12 ≈ 2.1e9, so
    // power/centroid square past Long — the silent-wrap case the guard
    // converts to an ArithmeticException naming the operator
    val square = Seq(patchedWav(64, i => if (i % 4 < 2) 32767 else -32767)).toDS().toDF()
    val ex = intercept[Exception] { Multimodal.wavSpectrum(spark, square).collect() }
    assert(causeChain(ex).exists(_.contains("wavSpectrum")),
      s"expected the wavSpectrum overflow message, got: ${causeChain(ex)}")
    // the documented fix — scaleBits ≤ 8 — clears full-scale PCM16 at W=32
    val ok = Multimodal.wavSpectrum(spark, square, scaleBits = 8).collect()
    assert(ok.nonEmpty && ok.forall(_.power >= 0L))
    // resample: y_poly grows as n_out²·|y| — a 1.2M-sample full-scale clip
    // (n_out 600k, |y| ≈ 6.7e7 at DC gain) pushes it past Long
    val longClip = Seq(patchedWav(1200000, _ => 32767)).toDS().toDF()
    val ex2 = intercept[Exception] { Multimodal.wavResample(spark, longClip).collect() }
    assert(causeChain(ex2).exists(_.contains("wavResample")),
      s"expected the wavResample overflow message, got: ${causeChain(ex2)}")
    // a short full-scale clip checksums fine (the bound is the length, not
    // the amplitude alone)
    val shortClip = Seq(patchedWav(1000, _ => 32767)).toDS().toDF()
    val r = Multimodal.wavResample(spark, shortClip).collect()
    assert(r.length === 1 && r(0).n_out === 500L && r(0).y_poly != 0L)
  }
}

package graft

import org.apache.spark.sql.Row
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  private val docs = df("doc_id BIGINT, text STRING", Seq(
    Row(0L, "hello world"), Row(1L, "abc"), Row(2L, ""), Row(5L, "video doc")))

  test("media schema: binary payload + typed metadata struct") {
    val m = Multimodal.attachMedia(docs)
    val f = m.schema("media")
    assert(f.dataType.typeName == "binary")
    val meta = m.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("kind", "width", "height", "n_frames"))
  }

  test("metadata derivations are deterministic in doc_id") {
    val r = Multimodal.mediaMeta(docs).collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(r(0L) == (("image", 64, 64, 1)))
    assert(r(1L) == (("audio", 72, 72, 2)))
    assert(r(2L) == (("video", 80, 80, 3)))
    assert(r(5L) == (("video", 104, 104, 6)))
  }

  // independent recompute of m02/m04's stats contract: (n, min, max,
  // truncating mean_ppm, Σ(i+1)·v) over a value sequence
  private def vstats(vs: Seq[Int]): (Long, Int, Int, Long, Long) =
    (vs.length.toLong, vs.min, vs.max,
      vs.map(_.toLong).sum * 1000000L / vs.length,
      vs.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum)

  private val manyDocs = df("doc_id BIGINT, text STRING",
    (0L to 8L).map(Row(_, "t")))

  test("m02: features computed from REAL decoded media — all five formats") {
    val feats = Multimodal.extractFeatures(manyDocs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        (r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6), r.getLong(7))))).toMap
    assert(feats.size == 9) // reject-don't-throw never dropped a doc
    // doc 0: BMP 5×3, interleaved raster BGR — formula recompute
    val bmp = for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
      yield ((0L * 31 + y * 7 + x * 3 + c) % 256).toInt
    assert(feats(0L) == (("image", "bmp", vstats(bmp))))
    // doc 3: PNG 8×8 RGB
    val png = for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3)
      yield ((3L * 37 + y * 11 + x * 5 + c) % 256).toInt
    assert(feats(3L) == (("image", "png", vstats(png))))
    // doc 6: 4:2:0 JPEG 16×16, plane-major, chroma on the 16-grid
    val jpg = (for (c <- 0 until 3; y <- 0 until 16; x <- 0 until 16) yield {
      val g = if (c == 0) 8 else 16
      ((6L * 41 + (y / g) * 13 + (x / g) * 7 + c) % 256).toInt
    })
    assert(feats(6L) == (("image", "jpeg", vstats(jpg))))
    // doc 1: WAV, 101 frames × 2 channels, channel-major signed PCM
    val wav = for (c <- 0 until 2; i <- 0 until 101)
      yield (((1L * 53 + i * 17 + c * 29) % 65536) - 32768).toInt
    assert(feats(1L) == (("audio", "wav", vstats(wav))))
    // doc 2: AVI 6×5, 3 frames sampled every 5th → frame 0 only
    val avi = for (y <- 0 until 5; x <- 0 until 6; c <- 0 until 3)
      yield ((2L * 59 + y * 11 + x * 5 + c) % 256).toInt
    assert(feats(2L) == (("video", "avi", vstats(avi))))
  }

  test("m13: one pixel matrix as BMP and as PNG canonicalizes to ONE fingerprint") {
    // logical image in RGB channel order; the BMP encoder stores BGR
    def rgb(x: Int, y: Int, ch: Int): Int = (x * 3 + y * 7 + ch * 11) % 256
    val bmp = Multimodal.buildBmpFrom(6, 4, (x, y, c) => rgb(x, y, 2 - c))
    val png = Multimodal.buildPngFrom(6, 4, (x, y, c) => rgb(x, y, c))
    assert(!java.util.Arrays.equals(bmp, png)) // container bytes differ...
    val fb = Multimodal.contentFingerprint("bmp", bmp)
    val fp = Multimodal.contentFingerprint("png", png)
    assert(fb.isDefined && fb == fp, s"$fb vs $fp") // ...content identity doesn't
    // a one-channel-value change breaks the identity
    val png2 = Multimodal.buildPngFrom(6, 4,
      (x, y, c) => if ((x, y, c) == ((5, 3, 2))) (rgb(x, y, c) + 1) % 256 else rgb(x, y, c))
    assert(Multimodal.contentFingerprint("png", png2) != fp)
    // dims participate: same values, different shape
    val png3 = Multimodal.buildPngFrom(4, 6, (x, y, c) => rgb(x, y, c))
    assert(Multimodal.contentFingerprint("png", png3) != fp)
  }

  test("m13: fingerprints are deterministic per doc and malformed payloads reject") {
    val fps = Multimodal.mediaFingerprints(manyDocs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(fps.size == 9)
    // independent recompute of doc 0 (BMP 5x3): canonical RGB string
    val s = "rgb:5x3:" + (for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
      yield ((0L * 31 + y * 7 + x * 3 + (2 - c)) % 256).toInt).mkString(",")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(fps(0L) == (("image", "bmp", md5)))
    assert(Multimodal.contentFingerprint("png", Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.contentFingerprint("webp", Array[Byte](1, 2, 3)).isEmpty)
  }

  test("buildBmp is byte-identical to the attachBmpMedia expression builder") {
    val viaExpr = Multimodal.attachBmpMedia(manyDocs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    for (id <- 0L to 8L) {
      val jvm = Multimodal.buildBmp(id, 5 + (id % 8).toInt, 3 + (id % 5).toInt)
      assert(java.util.Arrays.equals(jvm, viaExpr(id)), s"doc $id")
    }
  }

  test("frame sampling: every 5th index within n_frames, videos only") {
    val fr = Multimodal.sampledFrames(docs, every = 5).collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    assert(fr.forall { case (id, _) => id % 3 == 2 }) // only kind=video ids
    assert(fr.filter(_._1 == 5L).map(_._2).toSeq == Seq(0, 5)) // n_frames=6 → 0,5
  }

  test("m04: per-modality resize over REAL decoded media, exact values") {
    val r = Multimodal.resizeMedia(manyDocs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6),
        (r.getLong(7), r.getInt(8), r.getInt(9), r.getLong(10), r.getLong(11))))).toMap
    assert(r.size == 9)
    // doc 0: BMP 5×3 → AREA 2×2 → 2×1, interleaved
    def bmpPx(id: Long, x: Int, y: Int, c: Int) = ((id * 31 + y * 7 + x * 3 + c) % 256).toInt
    val bmpOut = for (y <- 0 until 1; x <- 0 until 2; c <- 0 until 3) yield
      (bmpPx(0, 2 * x, 2 * y, c) + bmpPx(0, 2 * x + 1, 2 * y, c)
        + bmpPx(0, 2 * x, 2 * y + 1, c) + bmpPx(0, 2 * x + 1, 2 * y + 1, c)) / 4
    assert(r(0L) == (("image", "bmp", 5, 3, 2, 1, vstats(bmpOut))))
    // doc 6: 4:2:0 JPEG 16×16 → 8×8 per plane; each 2×2 box sits inside
    // one tile, so the resized value IS the tile value
    val jpgOut = for (c <- 0 until 3; y <- 0 until 8; x <- 0 until 8) yield {
      val g = if (c == 0) 8 else 16
      ((6L * 41 + ((2 * y) / g) * 13 + ((2 * x) / g) * 7 + c) % 256).toInt
    }
    assert(r(6L) == (("image", "jpeg", 16, 16, 8, 8, vstats(jpgOut))))
    // doc 1: WAV 101 frames × 2 ch → 50 pair-means per channel,
    // truncating signed division
    def s(i: Int, c: Int) = (((1L * 53 + i * 17 + c * 29) % 65536) - 32768).toInt
    val wavOut = for (c <- 0 until 2; j <- 0 until 50)
      yield (s(2 * j, c) + s(2 * j + 1, c)) / 2
    assert(r(1L) == (("audio", "wav", 101, 2, 50, 2, vstats(wavOut))))
    // doc 2: AVI 6×5 → 3×2 per sampled frame (frame 0 only)
    def aviPx(f: Int, x: Int, y: Int, c: Int) = ((2L * 59 + f * 23 + y * 11 + x * 5 + c) % 256).toInt
    val aviOut = for (y <- 0 until 2; x <- 0 until 3; c <- 0 until 3) yield
      (aviPx(0, 2 * x, 2 * y, c) + aviPx(0, 2 * x + 1, 2 * y, c)
        + aviPx(0, 2 * x, 2 * y + 1, c) + aviPx(0, 2 * x + 1, 2 * y + 1, c)) / 4
    assert(r(2L) == (("video", "avi", 6, 5, 3, 2, vstats(aviOut))))
  }

  test("metadata query prunes the binary column from the scan") {
    val plan = Multimodal.mediaMeta(docs).queryExecution.optimizedPlan.toString
    // the pruned projection should not carry the media bytes through the agg
    assert(!plan.contains("media#") || plan.contains("length"))
  }

  private def unhexStr(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("parsePng reads a REAL known image: the canonical 1x1 transparent PNG") {
    // the widely-published 67-byte 1×1 RGBA PNG (full file, valid CRCs)
    val png = unhexStr(
      "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489" +
        "0000000d49444154789c626001000000050001a5f645400000000049454e44ae426082")
    assert(Multimodal.parsePng(png).contains((1, 1, 8, 6)),
      s"got ${Multimodal.parsePng(png)}")
    // rejection paths: truncated, wrong signature, wrong chunk type
    assert(Multimodal.parsePng(png.take(20)).isEmpty)
    assert(Multimodal.parsePng("not a png at all, but long enough to index".getBytes).isEmpty)
    val badChunk = png.clone(); badChunk(12) = 'X'.toByte
    assert(Multimodal.parsePng(badChunk).isEmpty)
  }

  test("parseBmp reads a hand-assembled BITMAPINFOHEADER (little-endian)") {
    // 14-byte file header + 40-byte DIB for a 3×2, 24 bpp image
    val bb = java.nio.ByteBuffer.allocate(54 + 6).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(60).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(3).putInt(2).putShort(1).putShort(24)
    bb.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    val bmp = bb.array()
    assert(Multimodal.parseBmp(bmp).contains((3, 2, 24)))
    assert(Multimodal.parseBmp(bmp.take(40)).isEmpty)
    assert(Multimodal.parseBmp("definitely not a bitmap, but long enough to index ok".getBytes).isEmpty)
    // a wide image exercises multi-byte little-endian width (0x0201 = 513)
    val wide = bmp.clone(); wide(18) = 0x01; wide(19) = 0x02
    assert(Multimodal.parseBmp(wide).contains((513, 2, 24)))
  }

  test("parseJpeg walks the marker chain to SOF (big-endian dims behind APP0)") {
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // SOI + APP0(JFIF, len 16) + SOF0(len 17, precision 8, 2x3) + data
    val jpeg = hx("FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
      "0001" + "0001" + "0000" + "FFC0" + "0011" + "08" + "0002" + "0003" +
      "03" + "011100" + "021101" + "031101") ++ "data!".getBytes("UTF-8")
    assert(Multimodal.parseJpeg(jpeg).contains((3, 2, 8, 39)))
    // progressive SOF2 carries dims the same way
    val prog = hx("FFD8" + "FFC2" + "0011" + "08" + "0101" + "0202" +
      "03" + "011100" + "021101" + "031101")
    assert(Multimodal.parseJpeg(prog).contains((0x202, 0x101, 8, 21)))
    // DHT (C4) shares the SOF nibble but is NOT a frame header — skip it
    val dht = hx("FFD8" + "FFC4" + "0004" + "0000" + "FFC0" + "0011" + "08" +
      "0002" + "0003" + "03" + "011100" + "021101" + "031101")
    assert(Multimodal.parseJpeg(dht).map(t => (t._1, t._2, t._3)).contains((3, 2, 8)))
    // fill bytes (B.1.1.2): FF padding before the marker must be skipped
    val filled = hx("FFD8" + "FFFF" + "FFC2" + "0011" + "08" + "0101" + "0202" +
      "03" + "011100" + "021101" + "031101")
    assert(Multimodal.parseJpeg(filled).map(t => (t._1, t._2)).contains((0x202, 0x101)))
    // rejects: truncated mid-SOF (width bytes present, segment cut —
    // must NOT report a past-the-end header boundary), earlier cut,
    // no SOI, no SOF before end
    assert(Multimodal.parseJpeg(jpeg.take(30)).isEmpty)
    assert(Multimodal.parseJpeg(jpeg.take(24)).isEmpty)
    assert(Multimodal.parseJpeg("not a jpeg".getBytes).isEmpty)
    assert(Multimodal.parseJpeg(hx("FFD8FFE000100000000000000000000000000000")).isEmpty)
    // standalone markers (B.1.1.3) carry NO length field: RST0 and TEM in
    // the pre-SOF chain are exactly 2 bytes each — a bogus length read
    // here desyncs the walk (RST's next 2 bytes would be misread as a
    // segment length and the SOF skipped)
    val rst = hx("FFD8" + "FFD0" + "FF01" + "FFC0" + "0011" + "08" +
      "0002" + "0003" + "03" + "011100" + "021101" + "031101")
    assert(Multimodal.parseJpeg(rst).map(t => (t._1, t._2, t._3)).contains((3, 2, 8)))
    // SOS before any SOF means dimensions are unreachable — the walk must
    // STOP rather than treat entropy-coded scan bytes (here FFC0-looking
    // garbage inside the scan) as markers
    val sos = hx("FFD8" + "FFDA" + "0008" + "01011100" + "FFC0" + "0011" + "08" +
      "0002" + "0003" + "03" + "011100" + "021101" + "031101")
    assert(Multimodal.parseJpeg(sos).isEmpty)
    // premature EOI: stop, no dims
    assert(Multimodal.parseJpeg(hx("FFD8" + "FFD9" + "FFC0" + "0011" + "08" +
      "0002" + "0003" + "03" + "011100" + "021101" + "031101")).isEmpty)
  }

  test("decodeHeaders: engine-built PNG/BMP/JPEG payloads round-trip through the parsers") {
    val out = Multimodal.decodeHeaders(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    // doc_id % 3 cycles png (big-endian) / bmp (little-endian) / jpeg
    // (big-endian behind the APP0 skip)
    assert(out(0L) == (("png", 64, 64, 8, "hello world".getBytes("UTF-8").length)))
    assert(out(1L) == (("bmp", 72, 72, 24, "abc".getBytes("UTF-8").length)))
    assert(out(2L) == (("jpeg", 80, 80, 8, 0)))
    assert(out(5L) == (("jpeg", 104, 104, 8, "video doc".getBytes("UTF-8").length)))
    // the attached payloads are REAL headers: parse them directly too
    val media = Multimodal.attachEncodedMedia(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Multimodal.parsePng(media(0L)).contains((64, 64, 8, 2)))
    assert(Multimodal.parseBmp(media(1L)).contains((72, 72, 24)))
    assert(Multimodal.parseJpeg(media(5L)).map(t => (t._1, t._2, t._3))
      .contains((104, 104, 8)))
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val bb = java.nio.ByteBuffer.allocate(12 + data.length)
    bb.putInt(data.length).put(t).put(data)
    val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
    bb.putInt(crc.getValue.toInt).array()
  }
  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  test("decodePng reads an externally-assembled 1x1 transparent PNG (RGBA, filter None)") {
    // assembled with an INDEPENDENT zlib implementation (CPython's zlib
    // module: compress(b'\x00' + 4 zero bytes) + binascii.crc32 chunk
    // CRCs) — so the inflate + chunk-walk path is pinned against bytes
    // no code in this repo produced. (The older "canonical" fixture used
    // by the parsePng HEADER test carries an invalid deflate stream past
    // the header — fine for a header probe, useless for a full decode.)
    val png = unhexStr(
      "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489" +
        "0000000b49444154789c6360000200000500017a5eab3f0000000049454e44ae426082")
    val Some((w, h, ch, px)) = Multimodal.decodePng(png)
    assert((w, h, ch) == ((1, 1, 4)))
    assert(px.toSeq == Seq(0, 0, 0, 0)) // fully transparent black
    // and the full decoder agrees with the header probe on dimensions
    assert(Multimodal.parsePng(png).map(t => (t._1, t._2)).contains((1, 1)))
  }

  test("decodePng filter reconstruction: all five filters against hand-computed values") {
    // 3x2..— a 3-wide, 5-tall RGB image, one row per filter type; the
    // raw FILTERED bytes are chosen by hand and the reconstructed pixels
    // below are derived by hand from PNG §9.2 (Sub adds the byte bpp
    // back, Up the byte above, Average their floor-mean, Paeth the
    // closest of a/b/c to a+b−c) — so this pins the decoder's filter
    // math against the spec, independent of the builder.
    val stride = 9
    val rows: Seq[(Int, Seq[Int])] = Seq(
      0 -> Seq(1, 2, 3, 4, 5, 6, 7, 8, 9),
      1 -> Seq.fill(9)(10),
      2 -> Seq.fill(9)(5),
      3 -> Seq.fill(9)(4),
      4 -> Seq.fill(9)(3))
    val raw = rows.flatMap { case (ft, bs) => ft +: bs }.map(_.toByte).toArray
    assert(raw.length == 5 * (1 + stride))
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(3).putInt(5)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val png = sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", deflate(raw)) ++
      pngChunk("IEND", Array.emptyByteArray)
    val Some((w, h, ch, px)) = Multimodal.decodePng(png)
    assert((w, h, ch) == ((3, 5, 3)))
    val expected =
      Seq(1, 2, 3, 4, 5, 6, 7, 8, 9) ++                    // None
      Seq(10, 10, 10, 20, 20, 20, 30, 30, 30) ++           // Sub
      Seq(15, 15, 15, 25, 25, 25, 35, 35, 35) ++           // Up
      Seq(11, 11, 11, 22, 22, 22, 32, 32, 32) ++           // Average
      Seq(14, 14, 14, 25, 25, 25, 35, 35, 35)              // Paeth
    assert(px.toSeq == expected)
    // rejects: a flipped CRC bit, a truncated IDAT stream, a bad filter id
    val bad = png.clone(); bad(bad.length - 5) = (bad(bad.length - 5) ^ 1).toByte
    assert(Multimodal.decodePng(bad).isEmpty)
    val shortIdat = sig ++ pngChunk("IHDR", ihdr) ++
      pngChunk("IDAT", deflate(raw).dropRight(4)) ++ pngChunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(shortIdat).isEmpty)
    val badFt = raw.clone(); badFt(0) = 9
    val badPng = sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", deflate(badFt)) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(badPng).isEmpty)
    // FDICT zlib stream (CMF 0x78, FLG 0xF9: bit 5 set, (0x78F9 % 31)=0):
    // Inflater reports needsDictionary with needsInput FALSE — a loop
    // checking only needsInput would spin forever instead of rejecting
    val fdict = Array(0x78, 0xF9, 0, 0, 0, 1).map(_.toByte)
    val dictPng = sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", fdict) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(dictPng).isEmpty)
  }

  test("PNG build→decode round-trip recovers the pixel formula; stats query matches") {
    for (id <- Seq(0L, 3L, 11L)) {
      val w = 5 + (id % 8).toInt; val h = 5 + (id % 5).toInt
      val Some((dw, dh, ch, px)) = Multimodal.decodePng(Multimodal.buildPng(id, w, h))
      assert((dw, dh, ch) == ((w, h, 3)))
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(px((y * w + x) * 3 + c) == Multimodal.pngPixelValue(id, x, y, c),
          s"id=$id pixel ($x,$y,$c)")
    }
    val out = Multimodal.pngPixelStats(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 5L))
    val r5 = out(5L)
    val vals = for (y <- 0 until 5; x <- 0 until 10; c <- 0 until 3)
      yield (c, Multimodal.pngPixelValue(5L, x, y, c))
    assert((r5.getInt(1), r5.getInt(2)) == ((10, 5)))
    val reds = vals.collect { case (0, v) => v }
    assert(r5.getInt(4) == reds.min && r5.getInt(5) == reds.max)
    assert(r5.getLong(6) == reds.map(_.toLong).sum * 1000000L / reds.size)
  }

  test("decodeWav: hand-assembled PCM16 with an ancillary chunk; sign extension; rejects") {
    import graft.operators.Wav
    // RIFF/WAVE with a LIST chunk BEFORE fmt/data (must be skipped by
    // size), 2 channels, 3 frames of known interleaved samples incl.
    // negatives (sign extension) and an odd-length ancillary chunk
    // (word-alignment padding)
    val data: Seq[Int] = Seq(100, -100, 32767, -32768, 0, -1) // L,R interleaved
    val bb = java.nio.ByteBuffer.allocate(12 + (8 + 5 + 1) + (8 + 16) + (8 + 12))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
    bb.put("LIST".getBytes).putInt(5).put(Array[Byte](1, 2, 3, 4, 5)).put(0.toByte) // pad
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2).putInt(44100)
      .putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes).putInt(12)
    data.foreach(v => bb.putShort(v.toShort))
    val Some(pcm) = Wav.decodeWav(bb.array())
    assert((pcm.channels, pcm.sampleRate) == ((2, 44100)))
    assert(pcm.samples(0).toSeq == Seq(100, 32767, 0))
    assert(pcm.samples(1).toSeq == Seq(-100, -32768, -1))
    // rejects: non-PCM format, 8-bit, lying chunk size, truncation
    val ulaw = bb.array().clone(); ulaw(12 + 14 + 8) = 7
    assert(Wav.decodeWav(ulaw).isEmpty)
    val cut = bb.array().dropRight(4)
    assert(Wav.decodeWav(cut).isEmpty) // data len now exceeds the buffer
    assert(Wav.decodeWav("not remotely a wave file......................................".getBytes).isEmpty)
  }

  test("WAV 8-bit and 24-bit PCM: round-trips, byte conventions, rejects") {
    import graft.operators.Wav
    // 8-bit: stored UNSIGNED (offset +128), returned centered
    def s8(i: Int, c: Int) = ((i * 37 + c * 11) % 256) - 128
    val b8 = Wav.encodeWav(20, 2, 8000, s8, bits = 8)
    // on-disk byte of frame 0 ch 0 must be s8+128 (the unsigned form)
    assert((b8(44) & 0xff) == s8(0, 0) + 128)
    val Some(p8) = Wav.decodeWav(b8)
    assert(p8.bits == 8 && p8.channels == 2)
    for (c <- 0 until 2; i <- 0 until 20) assert(p8.samples(c)(i) == s8(i, c))
    // 24-bit: little-endian signed, sign extension from bit 23
    def s24(i: Int, c: Int) = (i * 1000003 + c * 777) % (1 << 23) *
      (if (i % 2 == 0) 1 else -1)
    val b24 = Wav.encodeWav(15, 1, 48000, s24, bits = 24)
    val Some(p24) = Wav.decodeWav(b24)
    assert(p24.bits == 24 && p24.sampleRate == 48000)
    for (i <- 0 until 15) assert(p24.samples(0)(i) == s24(i, 0), s"i=$i")
    // a hand-patched negative extreme: bytes 00 00 80 = -(1<<23)
    val one = Wav.encodeWav(1, 1, 8000, (_, _) => 0, bits = 24)
    one(44) = 0; one(45) = 0; one(46) = 0x80.toByte
    assert(Wav.decodeWav(one).get.samples(0)(0) == -(1 << 23))
    // unsupported widths reject: patch bits=12 into the fmt chunk
    // (blockAlign left at 3 ⇒ fmt-consistency reject, not a throw)
    val bad = one.clone(); bad(34) = 12
    assert(Wav.decodeWav(bad).isEmpty)
  }

  test("WAV build→decode round-trip recovers the sample formula; stats query matches") {
    import graft.operators.Wav
    for (id <- Seq(0L, 1L, 5L)) {
      val n = 100 + (id % 50).toInt; val ch = 1 + (id % 2).toInt
      val Some(pcm) = Wav.decodeWav(
        Wav.encodeWav(n, ch, 8000, (i, c) => Multimodal.wavSample(id, i, c)))
      assert(pcm.channels == ch)
      for (c <- 0 until ch; i <- 0 until n)
        assert(pcm.samples(c)(i) == Multimodal.wavSample(id, i, c), s"id=$id ($i,$c)")
    }
    val out = Multimodal.wavPcmStats(docs).collect()
    // stereo docs (odd ids) emit two rows
    assert(out.map(_.getLong(0)).toSeq.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(0L -> 1, 1L -> 2, 2L -> 1, 5L -> 2))
    val r5 = out.filter(r => r.getLong(0) == 5L && r.getInt(1) == 1).head
    val vals = (0 until 105).map(i => Multimodal.wavSample(5L, i, 1))
    assert(r5.getLong(2) == 105 && r5.getInt(3) == 12000)
    assert(r5.getInt(4) == vals.min && r5.getInt(5) == vals.max)
    assert(r5.getLong(6) == vals.map(_.toLong).sum * 1000000L / 105)
    assert(r5.getLong(7) == vals.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum)
  }

  test("AVI container: hand-assembled fixture, bottom-up frames, offset-seek decode, rejects") {
    import graft.operators.Avi
    // minimal RIFF('AVI '){ LIST(hdrl){avih, LIST(strl){strf}},
    // LIST(movi){2× 00db} } for a 1×2 image: rowSize = 4 (3 BGR bytes +
    // 1 pad), stored bottom-up — storage row 0 is image y=1
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16v(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, d: Array[Byte]) = id.getBytes ++ le32(d.length) ++ d
    val avih = le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(2) ++ le32(0) ++
      le32(1) ++ le32(0) ++ le32(1) ++ le32(2) ++ Array.fill(16)(0.toByte)
    val strf = le32(40) ++ le32(1) ++ le32(2) ++ le16v(1) ++ le16v(24) ++
      le32(0) ++ Array.fill(20)(0.toByte)
    // frame 0: image y0=(10,20,30) y1=(1,2,3); stored y1 first
    val f0 = Array[Byte](1, 2, 3, 99, 10, 20, 30, 99) // 99 = stride padding junk
    val f1 = Array[Byte](7, 8, 9, 0, 4, 5, 6, 0)
    def build(frames: Array[Byte], strfBytes: Array[Byte] = strf): Array[Byte] = {
      val strl = chunk("LIST", "strl".getBytes ++ chunk("strf", strfBytes))
      val hdrl = chunk("LIST", "hdrl".getBytes ++ chunk("avih", avih) ++ strl)
      val movi = chunk("LIST", "movi".getBytes ++ frames)
      val body = "AVI ".getBytes ++ hdrl ++ movi
      "RIFF".getBytes ++ le32(body.length) ++ body
    }
    val avi = build(chunk("00db", f0) ++ chunk("00db", f1))
    val Some(idx) = Avi.parseAvi(avi)
    assert((idx.width, idx.height, idx.nFrames) == ((1, 2, 2)))
    assert(Avi.decodeFrame(avi, idx, 0).get.toSeq == Seq(10, 20, 30, 1, 2, 3))
    assert(Avi.decodeFrame(avi, idx, 1).get.toSeq == Seq(4, 5, 6, 7, 8, 9))
    assert(Avi.decodeFrame(avi, idx, 2).isEmpty) // out of range
    // rejects: frame data shorter than dims demand; lying avih count;
    // not a RIFF at all
    val short = avi.dropRight(3)
    assert(Avi.parseAvi(short).isEmpty)
    val lied = avi.clone()
    val avihDataAt = avi.indices.find(i => new String(avi, i, 4) == "avih").get + 8
    lied(avihDataAt + 16) = 7 // dwTotalFrames = 7, movi holds 2
    assert(Avi.parseAvi(lied).isEmpty)
    assert(Avi.parseAvi("definitely not audio video interleave".getBytes).isEmpty)
    // a frame CHUNK lying short (4 bytes where dims demand 8): the next
    // chunk's header bytes must NOT be read as pixels — reject
    assert(Avi.parseAvi(
      build(chunk("00db", f0.take(4)) ++ chunk("00db", f1))).isEmpty)
    // compressed frames (00dc) are out of scope — reject, don't misread
    assert(Avi.parseAvi(
      build(chunk("00dc", f0) ++ chunk("00db", f1))).isEmpty)
    // strf declaring 32 bpp, or missing entirely: scope enforced
    val strf32 = strf.clone(); strf32(14) = 32
    assert(Avi.parseAvi(build(chunk("00db", f0) ++ chunk("00db", f1), strf32)).isEmpty)
    val noStrf = {
      val hdrl = chunk("LIST", "hdrl".getBytes ++ chunk("avih", avih))
      val movi = chunk("LIST", "movi".getBytes ++ chunk("00db", f0) ++ chunk("00db", f1))
      val body = "AVI ".getBytes ++ hdrl ++ movi
      "RIFF".getBytes ++ le32(body.length) ++ body
    }
    assert(Avi.parseAvi(noStrf).isEmpty)
  }

  test("AVI build→parse→sampled-frame decode matches the pixel formula") {
    import graft.operators.Avi
    val id = 7L
    val w = 4 + (id % 5).toInt; val h = 3 + (id % 3).toInt
    val nf = (id % 30).toInt + 1 // 8 frames → samples 0, 5
    val bytes = Avi.encodeAvi(w, h, nf, (f, x, y, c) => Multimodal.aviPixel(id, f, x, y, c))
    val Some(idx) = Avi.parseAvi(bytes)
    assert((idx.width, idx.height, idx.nFrames) == ((w, h, nf)))
    for (f <- 0 until nf by 5) {
      val px = Avi.decodeFrame(bytes, idx, f).get
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        assert(px((y * w + x) * 3 + c) == Multimodal.aviPixel(id, f, x, y, c),
          s"frame $f pixel ($x,$y,$c)")
    }
    // the query samples exactly m03's every-5th relation
    val out = Multimodal.aviFrameStats(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq.sorted == docs.collect().flatMap { r =>
      val d = r.getLong(0)
      (0 until (d % 30).toInt + 1 by 5).map(f => (d, f))
    }.toSeq.sorted)
  }

  test("bmpResized: 2x2 box means over decoded pixels match the formula; odd edges dropped") {
    val out = Multimodal.bmpResized(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 5L))
    for ((id, r) <- out) {
      val pw = 5 + (id % 8).toInt; val ph = 3 + (id % 5).toInt
      val hw = pw / 2; val hh = ph / 2
      assert((r.getInt(1), r.getInt(2), r.getLong(3)) == ((hw, hh, hw.toLong * hh)))
      def resized(x: Int, y: Int, c: Int): Int =
        (Multimodal.pixelValue(id, 2 * x, 2 * y, c) +
          Multimodal.pixelValue(id, 2 * x + 1, 2 * y, c) +
          Multimodal.pixelValue(id, 2 * x, 2 * y + 1, c) +
          Multimodal.pixelValue(id, 2 * x + 1, 2 * y + 1, c)) / 4
      for (c <- 0 until 3) {
        val vs = for (y <- 0 until hh; x <- 0 until hw) yield resized(x, y, c)
        val base = 4 + c * 3
        assert(r.getInt(base) == vs.min && r.getInt(base + 1) == vs.max,
          s"doc $id chan $c extrema")
        assert(r.getLong(base + 2) == vs.map(_.toLong).sum * 1000000L / vs.size,
          s"doc $id chan $c mean")
      }
    }
  }

  test("decodeBmp recovers known pixels: stride padding skipped, rows un-reversed, BGR kept") {
    // 3×2 @ 24 bpp: rowSize = ((9+3)/4)*4 = 12 → 3 pad bytes/row, filled
    // with 0xEE junk — a decoder that walks rowSize*3 bytes naively or
    // miscomputes the stride will ingest them and every stat shifts.
    // Image rows (BGR): y=0 → (1,2,3)(4,5,6)(7,8,9); y=1 → (10..18).
    // STORED bottom-up: y=1's row first.
    val bb = java.nio.ByteBuffer.allocate(54 + 24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(78).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(3).putInt(2).putShort(1).putShort(24)
    bb.putInt(0).putInt(24).putInt(0).putInt(0).putInt(0).putInt(0)
    Seq(10, 11, 12, 13, 14, 15, 16, 17, 18).foreach(v => bb.put(v.toByte))
    (1 to 3).foreach(_ => bb.put(0xEE.toByte))
    (1 to 9).foreach(v => bb.put(v.toByte))
    (1 to 3).foreach(_ => bb.put(0xEE.toByte))
    val Some((w, h, px)) = Multimodal.decodeBmp(bb.array())
    assert((w, h) == ((3, 2)))
    assert(px.toSeq == (1 to 18)) // image order, top row first, BGR
    // rejects: 8-bpp, compressed, truncated pixel array
    val bpp8 = bb.array().clone(); bpp8(28) = 8
    assert(Multimodal.decodeBmp(bpp8).isEmpty)
    val rle = bb.array().clone(); rle(30) = 1
    assert(Multimodal.decodeBmp(rle).isEmpty)
    assert(Multimodal.decodeBmp(bb.array().take(70)).isEmpty)
    // crafted w = 2^30: Int rowSize would overflow negative, slip past
    // the buffer bound and crash on allocation — must be None, not throw
    val huge = bb.array().clone()
    huge(18) = 0; huge(19) = 0; huge(20) = 0; huge(21) = 0x40
    assert(Multimodal.decodeBmp(huge).isEmpty)
  }

  test("bmpPixelStats: builder→decoder round-trip matches the pixel formula exactly") {
    val out = Multimodal.bmpPixelStats(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 5L)) // every payload decodes
    for ((id, r) <- out) {
      val pw = 5 + (id % 8).toInt; val ph = 3 + (id % 5).toInt
      assert((r.getInt(1), r.getInt(2), r.getLong(3)) == ((pw, ph, pw.toLong * ph)))
      val vals = for (y <- 0 until ph; x <- 0 until pw; c <- 0 until 3)
        yield (x, y, c, Multimodal.pixelValue(id, x, y, c))
      def chan(c: Int) = vals.collect { case (_, _, `c`, v) => v }
      // (min, max, mean_ppm) per channel straight from the formula
      for (c <- 0 until 3) {
        val vs = chan(c); val base = 4 + c * 3
        assert(r.getInt(base) == vs.min, s"doc $id chan $c min")
        assert(r.getInt(base + 1) == vs.max, s"doc $id chan $c max")
        assert(r.getLong(base + 2) == vs.map(_.toLong).sum * 1000000L / vs.size,
          s"doc $id chan $c mean_ppm")
      }
      val wsum = vals.groupBy(t => (t._1, t._2)).toSeq.map { case ((x, y), ts) =>
        val byC = ts.map(t => t._3 -> t._4).toMap
        (y.toLong * pw + x + 1) * (byC(0) + 2L * byC(1) + 3L * byC(2))
      }.sum % 1000000007L
      assert(r.getLong(13) == wsum, s"doc $id weighted checksum")
    }
    // the builder's payload is a REAL file: the header parser reads it too
    val media = Multimodal.attachBmpMedia(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(Multimodal.parseBmp(media(5L)).contains((10, 3, 24)))
  }

  test("Adam7: the interlaced encoding of a pixel matrix decodes identically to the linear one") {
    def px(x: Int, y: Int, c: Int) = (x * 29 + y * 23 + c * 11 + 1) % 256
    // dims crossing the 8×8 Adam7 macro-tile boundary both ways, plus
    // tiny images where most passes are empty or single-pixel
    for ((w, h) <- Seq((1, 1), (2, 3), (7, 5), (8, 8), (9, 10), (17, 13))) {
      val linear = Multimodal.decodePng(Multimodal.buildPngFrom(w, h, px))
      val interlaced = Multimodal.decodePng(Multimodal.buildPngAdam7From(w, h, px))
      assert(linear.isDefined && interlaced.isDefined, s"${w}x$h")
      assert(linear.get._4.toSeq == interlaced.get._4.toSeq, s"${w}x$h")
      assert(linear.get._4(0) == 1) // and both really carry the formula
    }
  }

  test("palette PNG: PLTE expansion at depths 1/2/4/8, sub-byte MSB-first packing, rejects") {
    // depth 4, 16-entry palette — indices sweep all entries
    val pal = Array.tabulate(48)(i => ((i / 3) * 19 + (i % 3) * 7 + 3) % 256)
    def idx(x: Int, y: Int) = (y * 13 + x * 5) % 16
    for (interlace <- Seq(false, true)) {
      val Some((w, h, ch, px)) = Multimodal.decodePng(
        Multimodal.buildPngPalette(11, 7, 4, pal, idx, interlace))
      assert((w, h, ch) == ((11, 7, 3)))
      for (y <- 0 until 7; x <- 0 until 11; c <- 0 until 3)
        assert(px((y * 11 + x) * 3 + c) == pal(idx(x, y) * 3 + c),
          s"interlace=$interlace ($x,$y,$c)")
    }
    // depth 1: two-entry palette, 13 px wide (rows pad to byte bounds)
    val pal2 = Array(10, 20, 30, 200, 210, 220)
    val Some((_, _, _, px1)) = Multimodal.decodePng(
      Multimodal.buildPngPalette(13, 4, 1, pal2, (x, y) => (x + y) % 2))
    for (y <- 0 until 4; x <- 0 until 13)
      assert(px1((y * 13 + x) * 3) == (if ((x + y) % 2 == 0) 10 else 200))
    // depth 2 and 8
    val pal4 = Array.tabulate(12)(i => i * 17 % 256)
    val Some((_, _, _, px2)) = Multimodal.decodePng(
      Multimodal.buildPngPalette(5, 3, 2, pal4, (x, y) => (x * 3 + y) % 4))
    assert(px2.toSeq == (for (y <- 0 until 3; x <- 0 until 5; c <- 0 until 3)
      yield pal4(((x * 3 + y) % 4) * 3 + c)))
    val Some((_, _, _, px8)) = Multimodal.decodePng(
      Multimodal.buildPngPalette(3, 2, 8, pal, (x, y) => (x + y * 3) % 16))
    assert(px8((1 * 3 + 2) * 3 + 1) == pal(((2 + 3) % 16) * 3 + 1))
    // rejects, hand-assembled so exactly ONE thing is wrong per case
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(12 + data.length)
      bb.putInt(data.length).put(t).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      bb.putInt(crc.getValue.toInt).array()
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
      val o = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](256)
      while (!d.finished()) o.write(buf, 0, d.deflate(buf))
      d.end(); o.toByteArray
    }
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def ihdr(colorType: Int) = chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(1).putInt(1).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array())
    // a valid 1×1 depth-8 palette image: index 1 of a 2-entry PLTE
    val plte2 = chunk("PLTE", Array[Byte](1, 2, 3, 40, 50, 60))
    val idat1 = chunk("IDAT", deflate(Array[Byte](0, 1))) // filter 0, idx 1
    val iend = chunk("IEND", Array.emptyByteArray)
    val good = sig ++ ihdr(3) ++ plte2 ++ idat1 ++ iend
    assert(Multimodal.decodePng(good).map(_._4.toSeq).contains(Seq(40, 50, 60)))
    // index 5 over the same 2-entry PLTE: out of range → reject, no AIOOBE
    val over = sig ++ ihdr(3) ++ plte2 ++
      chunk("IDAT", deflate(Array[Byte](0, 5))) ++ iend
    assert(Multimodal.decodePng(over).isEmpty)
    // color type 3 with NO PLTE at all → reject
    assert(Multimodal.decodePng(sig ++ ihdr(3) ++ idat1 ++ iend).isEmpty)
    // PLTE length not a multiple of 3 → reject
    val badPlte = chunk("PLTE", Array[Byte](1, 2, 3, 4))
    assert(Multimodal.decodePng(sig ++ ihdr(3) ++ badPlte ++ idat1 ++ iend).isEmpty)
  }

  test("grayscale PNG: color types 0 (depths 1/2/4/8, raw samples) and 4 (gray+alpha)") {
    // depth 8 gray, linear and Adam7 — both must carry the formula
    def g(x: Int, y: Int) = (x * 41 + y * 29 + 5) % 256
    for (interlace <- Seq(false, true)) {
      val Some((w, h, ch, px)) = Multimodal.decodePng(
        Multimodal.buildPngGray(9, 6, 8, g, interlace))
      assert((w, h, ch) == ((9, 6, 1)), s"interlace=$interlace")
      for (y <- 0 until 6; x <- 0 until 9)
        assert(px(y * 9 + x) == g(x, y), s"interlace=$interlace ($x,$y)")
    }
    // sub-byte depths return RAW coded samples (no display rescale)
    for (d <- Seq(1, 2, 4)) {
      val max = (1 << d) - 1
      val Some((_, _, ch, px)) = Multimodal.decodePng(
        Multimodal.buildPngGray(11, 3, d, (x, y) => (x + y) % (max + 1)))
      assert(ch == 1)
      for (y <- 0 until 3; x <- 0 until 11)
        assert(px(y * 11 + x) == (x + y) % (max + 1), s"depth=$d ($x,$y)")
    }
    // color type 4: (gray, alpha) byte pairs, channels = 2
    val Some((_, _, ch4, px4)) = Multimodal.decodePng(
      Multimodal.buildPngGrayAlpha(5, 4, (x, y) => ((x * 7 + y) % 256, (y * 50 + x) % 256)))
    assert(ch4 == 2)
    for (y <- 0 until 4; x <- 0 until 5) {
      assert(px4((y * 5 + x) * 2) == (x * 7 + y) % 256)
      assert(px4((y * 5 + x) * 2 + 1) == (y * 50 + x) % 256)
    }
  }

  test("stored-binary path: sink → scan → decode equals the in-body m02/m13 results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media_store").toString
    Multimodal.sinkMedia(manyDocs, s"$dir/m00")
    val stored = spark.read.parquet(s"$dir/m00")
    // the scan actually reads the BINARY column (the cost m14 exists to
    // pay — a variant that silently rebuilt payloads in-body would not);
    // the decode runs in RDD-land, so the scan shape lives in the INNER
    // select the mapPartitions consumes
    val scan = stored.select("doc_id", "kind", "format", "media")
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema") && scan.contains("media:binary"),
      s"media column pruned from scan:\n$scan")
    val fromColumn = Multimodal.extractFeaturesFromBinary(stored).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val inBody = Multimodal.extractFeatures(manyDocs).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fromColumn == inBody && fromColumn.size == 9)
    val fpFromColumn = Multimodal.fingerprintsFromBinary(stored).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val fpInBody = Multimodal.mediaFingerprints(manyDocs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(fpFromColumn == fpInBody && fpFromColumn.size == 9)
    // a corrupted stored payload REJECTS (drops), never throws — the
    // poison-bytes contract survives the storage hop
    import org.apache.spark.sql.Row
    val poison = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(99L, "image", "png", "not a png".getBytes("UTF-8")))),
      stored.schema)
    assert(Multimodal.extractFeaturesFromBinary(poison).count() == 0)
  }

  test("decoded-but-empty payloads REJECT (drop the row), never divide by zero") {
    // the m02/m04 stats contract divides by the value count — a decoder
    // that legitimately returns zero values (e.g. a 1-frame WAV resized
    // by 2 → 0 output samples) must drop its row, not throw (r13 guard,
    // previously untested)
    assert(Multimodal.valueStats(7L, "audio", "wav", 1, 1, 0, 1,
      Array.empty[Int]).isEmpty)
    // red-green for the inequality: a single-value payload is NOT
    // empty and must produce the exact stats row
    val row = Multimodal.valueStats(7L, "audio", "wav", 2, 1, 1, 1,
      Array(-6)).get
    assert(row.getLong(7) == 1L)                 // n_out
    assert(row.getInt(8) == -6 && row.getInt(9) == -6)  // o_min/o_max
    assert(row.getLong(10) == -6000000L)         // truncating mean_ppm
    assert(row.getLong(11) == -6L)               // Σ(i+1)·v
  }
}

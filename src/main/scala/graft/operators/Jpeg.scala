package graft.operators

/** Baseline JPEG (ITU-T T.81) entropy decode in pure JVM — the third
  * member of the real-pixel-decode family (BMP m06, PNG m07): huffman
  * scan decode with byte-stuffing removal, differential DC, run/size AC
  * with EOB/ZRL, dequantization, de-zigzag, the full 2-D IDCT and level
  * shift. Scope (honestly bounded, everything else returns None):
  * baseline sequential SOF0, 8-bit samples, single interleaved scan,
  * 1 or 3 components with per-component sampling factors in {1,2} —
  * which covers grayscale, 4:4:4, 4:2:2 (2×1), 4:4:0 (1×2) and 4:2:0
  * (2×2), i.e. the subsampling virtually every camera/web JPEG uses —
  * plus restart intervals (DRI + RST0–7 resync with DC-predictor
  * reset, T.81 E.2.4/F.2.1.3.1), plus PROGRESSIVE mode (SOF2, Annex G
  * — the other format share the web actually serves): multi-scan
  * spectral selection and successive approximation, DC first/refine
  * (interleaved or single-component), AC first/refine with EOB-run
  * coding and correction bits (G.1.2), restart resync in every scan,
  * coefficients accumulated per component and reconstructed at EOI.
  * Progressive scans must cover all frame components or exactly one
  * (the shapes real encoders emit). Not in scope: arithmetic coding,
  * 12-bit samples, hierarchical mode. Subsampled chroma planes
  * are upsampled to full resolution by pixel replication (T.81 leaves
  * the reconstruction filter to the decoder; replication keeps
  * constant-tile fixtures integer-exact). Output is the decoded
  * component planes (Y or Y/Cb/Cr) WITHOUT color conversion: the
  * colorspace transform is a consumer choice, and keeping the
  * decoder's output in coded space keeps the m08 oracle integer-exact.
  *
  * The sibling [[encodeJpeg]] writes spec-valid baseline files whose
  * blocks are CONSTANT per 8×8 tile with all-ones quantization tables:
  * a constant block's FDCT is DC-only (DC = 8·(v−128), every AC 0), so
  * quantization drops nothing and decode recovers every sample EXACTLY
  * — the property that makes a lossy codec oracle-checkable by formula.
  * The tables it declares are its own legal custom ones (DHT travels in
  * the file): a flat 4-bit DC table for categories 0–11 and a 1-bit
  * AC table holding only EOB. The DECODER is general — JpegSpec feeds
  * it hand-computed bitstreams with nonzero ACs, run lengths and both
  * table shapes, independent of the encoder. */
object Jpeg {

  /** Decode-side resource bound: frames past 64 MP are rejected (a
    * 64 MP 3-plane decode is already ~768 MB of Int planes; corpus
    * images live orders of magnitude below this). Part of the decoder's
    * documented scope, like the baseline-only arm list. */
  val MaxPixels: Long = 1L << 26

  // zigzag order: zigzag(k) = raster index of the k-th coefficient
  private[graft] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical huffman table (T.81 Annex C): BITS counts per code
    * length 1..16 + the value list in code order. Decoding uses the
    * standard mincode/maxcode/valptr walk (F.2.2.3). */
  private[graft] final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16)
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17) // -1 = no codes at this length
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (l <- 1 to 16) {
        valPtr(l) = k
        minCode(l) = code
        maxCode(l) = if (bits(l - 1) > 0) code + bits(l - 1) - 1 else -1
        code = (code + bits(l - 1)) << 1
        k += bits(l - 1)
      }
    }
    /** Decode one value from the bit reader; -1 on an invalid code. */
    def decode(in: BitReader): Int = {
      var code = 0
      var l = 0
      while (l < 16) {
        val b = in.readBit()
        if (b < 0) return -1
        code = (code << 1) | b
        l += 1
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return vals(valPtr(l) + code - minCode(l))
      }
      -1
    }
  }

  /** MSB-first bit reader over entropy-coded data with 0xFF00
    * byte-stuffing removal (F.1.2.3); a 0xFF followed by anything else
    * is a marker — stop (returns -1 thereafter), recording the marker
    * so [[consumeMarker]] can resync across RSTn boundaries. */
  private[graft] final class BitReader(b: Array[Byte], start: Int) {
    private var pos = start
    private var cur = 0
    private var nBits = 0
    private var dead = false
    private var markerVal = -1 // marker that killed the reader, if any
    private var markerEnd = -1 // byte offset just past that marker
    def readBit(): Int = {
      if (nBits == 0) {
        if (dead || pos >= b.length) return -1
        val byte = b(pos) & 0xff; pos += 1
        if (byte == 0xff) {
          if (pos >= b.length) { dead = true; return -1 }
          val next = b(pos) & 0xff
          if (next == 0x00) pos += 1 // stuffed zero: the data byte IS 0xFF
          else { // a real marker ends this entropy segment
            markerVal = next; markerEnd = pos + 1; dead = true; return -1
          }
        }
        cur = byte; nBits = 8
      }
      nBits -= 1
      (cur >> nBits) & 1
    }
    /** Byte-align (discarding the current byte's padding bits), consume
      * the next marker and return its code, repositioning the reader
      * just past it; -1 if no marker is there. Handles both orders in
      * which a restart boundary is met: the marker already tripped a
      * readBit (dead + recorded), or the previous MCU ended cleanly and
      * the marker bytes are still unread (0xFF fill bytes before it are
      * legal padding, B.1.1.2). */
    def consumeMarker(): Int = {
      nBits = 0
      if (dead) {
        if (markerVal < 0) return -1
        val m = markerVal
        pos = markerEnd; dead = false; markerVal = -1; markerEnd = -1
        return m
      }
      while (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
             (b(pos + 1) & 0xff) == 0xff) pos += 1 // fill bytes
      if (pos + 1 >= b.length || (b(pos) & 0xff) != 0xff) return -1
      val m = b(pos + 1) & 0xff
      if (m == 0x00) return -1 // stuffed data byte, not a marker
      pos += 2
      m
    }
    /** `n` magnitude bits, MSB first; -1 on exhaustion (n ≤ 16). */
    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = readBit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    /** Byte offset of the 0xFF opening the next marker after the
      * entropy data consumed so far (skipping stuffed 0xFF00 pairs and
      * 0xFF fill bytes); -1 if none remains. The progressive scan loop
      * uses this to hand control back to the marker walk between
      * scans. */
    def nextMarkerOffset(): Int = {
      nBits = 0
      if (dead) return if (markerVal < 0) -1 else markerEnd - 2
      var p = pos
      while (p + 1 < b.length) {
        if ((b(p) & 0xff) == 0xff) {
          val n = b(p + 1) & 0xff
          if (n != 0x00 && n != 0xff) return p
          p += (if (n == 0xff) 1 else 2) // fill byte / stuffed data 0xFF
        } else p += 1
      }
      -1
    }
  }

  /** DC/AC magnitude extension (F.2.2.1 EXTEND): a category-`s` value
    * with raw bits `v` is v itself when the first bit is 1, else
    * v − (2^s − 1). */
  private[graft] def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v >= (1 << (s - 1))) v else v - (1 << s) + 1

  // IDCT constants hoisted out of the per-block hot loop (the Zigzag
  // treatment): the scale vector and the 8×8 cosine table never change,
  // and rebuilding them cost 64 transcendental calls per decoded block
  private val IdctC: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
  private val IdctCos: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16.0))

  /** 2-D 8×8 inverse DCT (T.81 A.3.3), separable double implementation,
    * rounded to nearest — exact on DC-only blocks (F(0,0)/8 is an
    * integer there). Input raster order, output raster order. */
  private[graft] def idct8x8(f: Array[Int]): Array[Int] = {
    val c = IdctC
    val cosT = IdctCos
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            s += c(u) * c(v) * f(v * 8 + u) * cosT(x)(u) * cosT(y)(v)
            v += 1
          }
          u += 1
        }
        out(y * 8 + x) = math.round(s / 4.0).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decoded image: component planes in coded space (level-shifted back
    * to [0,255], clamped), each `width`×`height` raster order —
    * subsampled chroma is replicated up to full resolution. 1 plane
    * for grayscale, 3 (Y, Cb, Cr) for color. */
  final case class Decoded(width: Int, height: Int, planes: Array[Array[Int]])

  /** Frame component: id, quant-table id, horizontal/vertical sampling. */
  private final case class Comp(id: Int, qid: Int, hs: Int, vs: Int)

  // marker-segment cursor helpers
  private def be16(b: Array[Byte], o: Int) = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  /** Full baseline OR progressive decode within the documented scope;
    * None otherwise. Baseline returns at the first (single) scan;
    * progressive (SOF2) iterates scans, accumulating coefficients in a
    * [[ProgStore]], and reconstructs at EOI. */
  def decode(b: Array[Byte]): Option[Decoded] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val quant = new Array[Array[Int]](4) // qtable id → 64 coefs (raster via zigzag later)
    val dcTab = new Array[HuffTable](4)
    val acTab = new Array[HuffTable](4)
    var w = 0; var h = 0
    var comps: Array[Comp] = null
    var progressive = false
    var store: ProgStore = null // allocated at the first progressive scan
    var restartInterval = 0 // MCUs between RSTn markers; 0 = disabled
    var o = 2
    while (o + 2 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return None
      val m = b(o + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) { o += 2 }
      else if (m == 0xd9) // EOI: reconstruct a scanned progressive frame
        return if (store != null) reconstructProgressive(store, quant) else None
      else if (o + 4 > b.length) return None
      else {
        val len = be16(b, o + 2)
        if (o + 2 + len > b.length || len < 2) return None
        val seg = o + 4
        var resumeAt = o + 2 + len // progressive SOS overrides (scan data)
        m match {
          case 0xdb => // DQT: one or more (precision/id, 64 coefs) entries
            var p = seg
            while (p < o + 2 + len) {
              val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
              // pq = 1 is the 16-bit-entry form (B.2.4.1, big-endian) —
              // legal with 8-bit samples and emitted by some encoders
              // at very low quantization
              val eb = if (pq == 1) 2 else 1
              if (pq > 1 || tq > 3 || p + 1 + 64 * eb > o + 2 + len) return None
              quant(tq) =
                if (pq == 0) Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
                else Array.tabulate(64)(k => be16(b, p + 1 + 2 * k))
              p += 1 + 64 * eb
            }
          case 0xc4 => // DHT: one or more tables
            var p = seg
            while (p < o + 2 + len) {
              val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
              if (tc > 1 || th > 3 || p + 17 > o + 2 + len) return None
              val bits = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
              val n = bits.sum
              if (p + 17 + n > o + 2 + len) return None
              val vals = Array.tabulate(n)(i => b(p + 17 + i) & 0xff)
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcTab(th) = t else acTab(th) = t
              p += 17 + n
            }
          case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
            if (len < 8) return None // 2 len + prec + h + w + nc minimum
            val prec = b(seg) & 0xff
            h = be16(b, seg + 1); w = be16(b, seg + 3)
            val nc = b(seg + 5) & 0xff
            if (prec != 8 || w <= 0 || h <= 0 || (nc != 1 && nc != 3)) return None
            if (len < 8 + 3 * nc) return None // truncated component list
            progressive = m == 0xc2
            comps = Array.tabulate(nc) { i =>
              val cid = b(seg + 6 + 3 * i) & 0xff
              val hv = b(seg + 7 + 3 * i) & 0xff
              val (hs, vs) = (hv >> 4, hv & 0x0f)
              // factors in {1,2} cover gray/4:4:4/4:2:2/4:4:0/4:2:0;
              // 3–4 (legal but unseen in practice) stay out of scope
              if (hs < 1 || hs > 2 || vs < 1 || vs > 2) return None
              val qid = b(seg + 8 + 3 * i) & 0xff
              // range-check BEFORE decodeScan ever indexes quant(qid):
              // a crafted id up to 255 must reject, not throw (the
              // decoder family's reject-don't-throw contract)
              if (qid > 3) return None
              // single-component scans are non-interleaved: the MCU is
              // one block and declared sampling is ignored (A.2.2)
              if (nc == 1) Comp(cid, qid, 1, 1) else Comp(cid, qid, hs, vs)
            }
          case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
               0xcd | 0xce | 0xcf => return None // non-baseline/-progressive frame
          case 0xdd => // DRI: 2-byte restart interval in MCUs
            if (len != 4) return None
            restartInterval = be16(b, seg)
          case 0xda if !progressive => // baseline SOS: single scan to EOI
            if (comps == null || len < 3) return None
            val ns = b(seg) & 0xff
            if (ns != comps.length) return None
            if (len < 2 + 1 + 2 * ns + 3) return None // truncated selector list
            val tabs = Array.tabulate(ns) { i =>
              val cs = b(seg + 1 + 2 * i) & 0xff
              val td = (b(seg + 2 + 2 * i) & 0xff) >> 4
              val ta = b(seg + 2 + 2 * i) & 0x0f
              // the nibbles range to 15 but baseline allows 4 tables:
              // reject out-of-range ids here, where the DHT parser's
              // th > 3 check can't see them (reject-don't-throw)
              if (td > 3 || ta > 3) return None
              // decodeScan binds table i to frame component i BY POSITION,
              // so the scan's selector order must BE the frame order (a
              // reordered or repeated selector would silently pair a
              // component with another's quant table and plane)
              if (cs != comps(i).id) return None
              (td, ta)
            }
            return decodeScan(b, o + 2 + len, w, h, comps, tabs, quant,
                              dcTab, acTab, restartInterval)
          case 0xda => // progressive SOS: one of several scans
            if (comps == null || len < 3) return None
            val ns = b(seg) & 0xff
            if (ns < 1 || ns > comps.length) return None
            if (len < 2 + 1 + 2 * ns + 3) return None
            // selectors map to FRAME components by id, in frame order;
            // interleaved scans must cover ALL components (the shape
            // real progressive files use) or exactly one (A.2.2)
            if (ns != 1 && ns != comps.length) return None
            val scanComps = new Array[Int](ns)
            val tabs = Array.tabulate(ns) { i =>
              val cs = b(seg + 1 + 2 * i) & 0xff
              val td = (b(seg + 2 + 2 * i) & 0xff) >> 4
              val ta = b(seg + 2 + 2 * i) & 0x0f
              if (td > 3 || ta > 3) return None
              val ci = comps.indexWhere(_.id == cs)
              if (ci < 0 || (i > 0 && ci <= scanComps(i - 1))) return None
              scanComps(i) = ci
              (td, ta)
            }
            val ss = b(seg + 1 + 2 * ns) & 0xff
            val se = b(seg + 2 + 2 * ns) & 0xff
            val ahAl = b(seg + 3 + 2 * ns) & 0xff
            val ah = ahAl >> 4; val al = ahAl & 0x0f
            // G.1.1.1.1: spectral band within 0..63; DC scans are the
            // band (0,0), AC scans start past it and are single-
            // component; successive approximation refines one bit at a
            // time (Ah = Al + 1); point transforms past 13 are illegal
            if (se > 63 || ss > se || al > 13 || ah > 13) return None
            if (ss == 0 && se != 0) return None // (0, >0) is sequential-only
            if (ss > 0 && ns != 1) return None
            if (ah != 0 && ah != al + 1) return None
            val dataStart = o + 2 + len
            if (store == null) {
              // first scan: must be a DC first scan (G.1.1.1.1 — DC
              // before any AC, full precision head first), which gives
              // the ≥1-bit-per-block floor the allocation guard needs
              if (ss != 0 || ah != 0) return None
              if (w.toLong * h > MaxPixels) return None
              val st = new ProgStore(w, h, comps)
              val blocks = scanComps.map(ci =>
                st.padW(ci).toLong * st.padH(ci)).sum
              if (blocks > 8L * math.max(0, b.length - dataStart)) return None
              store = st
            }
            val next = decodeProgressiveScan(b, dataStart, store, scanComps,
              tabs, ss, se, ah, al, dcTab, acTab, restartInterval)
            if (next < 0) return None
            resumeAt = next
          case _ => () // APPn/COM/etc: skip
        }
        o = resumeAt
      }
    }
    None
  }

  /** Decode one 8×8 block of component `ci` into `coef` (raster order,
    * dequantized); returns false on any bitstream error. */
  private def decodeBlock(in: BitReader, td: Int, ta: Int, q: Array[Int],
                          dcTab: Array[HuffTable], acTab: Array[HuffTable],
                          dcPred: Array[Int], ci: Int,
                          coef: Array[Int]): Boolean = {
    // DC
    val s = dcTab(td).decode(in)
    if (s < 0 || s > 11) return false
    val diffBits = if (s == 0) 0 else in.readBits(s)
    if (diffBits < 0) return false
    dcPred(ci) += extend(diffBits, s)
    java.util.Arrays.fill(coef, 0)
    coef(0) = dcPred(ci) * q(0)
    // AC: run/size until EOB or coefficient 63
    var k = 1
    var done = false
    while (!done && k < 64) {
      val rs = acTab(ta).decode(in)
      if (rs < 0) return false
      val r = rs >> 4; val sz = rs & 0x0f
      if (sz == 0) {
        if (r == 15) {
          k += 16 // ZRL: sixteen zero coefficients
          // a run crossing past coefficient 63 is spec-invalid
          // (landing exactly on 64 is fine: the last 16 ACs were
          // zero and the block is complete) — the sz!=0 arm's
          // k > 63 guard, mirrored
          if (k > 64) return false
        }
        else done = true // EOB
      } else {
        k += r
        if (k > 63) return false
        val vb = in.readBits(sz)
        if (vb < 0) return false
        coef(Zigzag(k)) = extend(vb, sz) * q(k)
        k += 1
      }
    }
    true
  }

  private def decodeScan(b: Array[Byte], start: Int, w: Int, h: Int,
                         comps: Array[Comp], tabs: Array[(Int, Int)],
                         quant: Array[Array[Int]], dcTab: Array[HuffTable],
                         acTab: Array[HuffTable],
                         restartInterval: Int): Option[Decoded] = {
    val nc = comps.length
    // crafted-dims guard (reject-don't-throw — the PNG/BMP treatment):
    // plane and upsample buffers are Int-indexed w*h arrays, so a SOF
    // claiming up to 65535×65535 would overflow cw*ch / w*h in Int
    // (NegativeArraySizeException) or attempt multi-GB allocations.
    // Bound the full-resolution pixel count BEFORE any allocation:
    // MaxPixels (64 MP — beyond any training-corpus image; a crafted
    // SOF near the old Int.MaxValue/8 bound could still demand ~3 GB
    // of plane allocations from a ~3 MB payload, r13 advice) plus the
    // Int-overflow belt.
    if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
    val hMax = comps.map(_.hs).max
    val vMax = comps.map(_.vs).max
    // subsampled plane dims (A.1.1: ceil(dim * factor / max))
    val cw = comps.map(c => (w * c.hs + hMax - 1) / hMax)
    val ch = comps.map(c => (h * c.vs + vMax - 1) / vMax)
    // an MCU covers 8·hMax × 8·vMax source pixels
    val mcuW = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (h + 8 * vMax - 1) / (8 * vMax)
    // a frame claiming more 8×8 blocks than the remaining entropy bytes
    // could possibly code (each block needs ≥2 bits: one DC code + EOB)
    // is structurally truncated — reject before allocating planes
    val blocksPerMcu = comps.map(c => c.hs * c.vs).sum
    val totalBlocks = mcuW.toLong * mcuH * blocksPerMcu
    // this also bounds allocation amplification: totalBlocks ≤ 4·bytes
    // ⇒ nc·w·h ≤ 64·4·(max 4× upsample)·bytes — a few KB of planes per
    // entropy byte, with [[MaxPixels]] as the absolute ceiling
    if (totalBlocks * 2L > 8L * math.max(0, b.length - start)) return None
    val planes = Array.tabulate(nc)(i => new Array[Int](cw(i) * ch(i)))
    val in = new BitReader(b, start)
    val dcPred = new Array[Int](nc)
    val coef = new Array[Int](64)
    var mcusSinceRestart = 0
    var rstIdx = 0 // next expected restart marker, cycling RST0..RST7
    var my = 0
    while (my < mcuH) {
      var mx = 0
      while (mx < mcuW) {
        if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
          // byte-align, consume the RSTn (modulo-8 sequence check,
          // E.2.4) and reset the DC predictors (F.2.1.3.1)
          val m = in.consumeMarker()
          if (m != 0xd0 + rstIdx) return None
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(dcPred, 0)
          mcusSinceRestart = 0
        }
        var ci = 0
        while (ci < nc) {
          val c = comps(ci)
          val (td, ta) = tabs(ci)
          val q = quant(c.qid)
          if (q == null || dcTab(td) == null || acTab(ta) == null) return None
          // hs×vs blocks of this component per MCU, raster order (A.2.3)
          var by = 0
          while (by < c.vs) {
            var bx = 0
            while (bx < c.hs) {
              if (!decodeBlock(in, td, ta, q, dcTab, acTab, dcPred, ci, coef))
                return None
              val px = idct8x8(coef)
              // place block in the SUBSAMPLED plane, clamping and
              // level-shifting (+128); edge blocks clip at cw/ch
              val ox = (mx * c.hs + bx) * 8
              val oy = (my * c.vs + by) * 8
              var yy = 0
              while (yy < 8) {
                val py = oy + yy
                if (py < ch(ci)) {
                  var xx = 0
                  while (xx < 8) {
                    val pxx = ox + xx
                    if (pxx < cw(ci)) {
                      val v = px(yy * 8 + xx) + 128
                      planes(ci)(py * cw(ci) + pxx) =
                        if (v < 0) 0 else if (v > 255) 255 else v
                    }
                    xx += 1
                  }
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcusSinceRestart += 1
        mx += 1
      }
      my += 1
    }
    // upsample subsampled planes to w×h by pixel replication
    val full = Array.tabulate(nc) { i =>
      if (cw(i) == w && ch(i) == h) planes(i)
      else {
        val sx = hMax / comps(i).hs
        val sy = vMax / comps(i).vs
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          val row = (y / sy) * cw(i)
          var x = 0
          while (x < w) {
            out(y * w + x) = planes(i)(row + x / sx)
            x += 1
          }
          y += 1
        }
        out
      }
    }
    Some(Decoded(w, h, full))
  }

  // ---------- progressive mode (T.81 Annex G, DCT-based) ----------

  /** Coefficient store for a progressive frame: per-component ZIGZAG-
    * order coefficients for every block, accumulated across scans.
    * Interleaved (DC) scans cover the full MCU grid including the dummy
    * blocks past the image edge, so the arrays are MCU-padded; non-
    * interleaved (AC / single-component DC) scans traverse only the
    * component's own ceil(dim/8) grid, indexed into the same padded
    * array by the padded row stride. */
  private final class ProgStore(val w: Int, val h: Int, val comps: Array[Comp]) {
    val hMax: Int = comps.map(_.hs).max
    val vMax: Int = comps.map(_.vs).max
    val mcuW: Int = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuH: Int = (h + 8 * vMax - 1) / (8 * vMax)
    val padW: Array[Int] = comps.map(c => mcuW * c.hs) // blocks, MCU-padded
    val padH: Array[Int] = comps.map(c => mcuH * c.vs)
    val cw: Array[Int] = comps.map(c => (w * c.hs + hMax - 1) / hMax)
    val ch: Array[Int] = comps.map(c => (h * c.vs + vMax - 1) / vMax)
    val bw: Array[Int] = Array.tabulate(comps.length)(i => (cw(i) + 7) / 8)
    val bh: Array[Int] = Array.tabulate(comps.length)(i => (ch(i) + 7) / 8)
    val coef: Array[Array[Int]] =
      Array.tabulate(comps.length)(i => new Array[Int](padW(i) * padH(i) * 64))
  }

  /** Decode one progressive scan (G.1.2) into the store: DC first /
    * refinement over the scan components' interleaved MCU order (or a
    * single component's own block grid), or AC first / refinement over
    * one component's spectral band with EOB-run coding. Returns the
    * byte offset of the next marker, or -1 on any bitstream error. */
  private def decodeProgressiveScan(b: Array[Byte], start: Int, st: ProgStore,
      scanComps: Array[Int], tabs: Array[(Int, Int)],
      ss: Int, se: Int, ah: Int, al: Int,
      dcTab: Array[HuffTable], acTab: Array[HuffTable],
      restartInterval: Int): Int = {
    val in = new BitReader(b, start)
    val dcPred = new Array[Int](scanComps.length)
    var eobrun = 0L
    var rstIdx = 0
    var sinceRestart = 0
    // E.2.4 applies to progressive scans unchanged: byte-align, check
    // the RSTn cycle, reset DC predictors AND the EOB run (G.1.2.2)
    def restart(): Boolean = {
      val m = in.consumeMarker()
      if (m != 0xd0 + rstIdx) return false
      rstIdx = (rstIdx + 1) & 7
      java.util.Arrays.fill(dcPred, 0)
      eobrun = 0
      sinceRestart = 0
      true
    }
    // --- the four block decoders ---
    def dcFirst(i: Int, coefArr: Array[Int], idx: Int): Boolean = {
      val s = dcTab(tabs(i)._1).decode(in)
      if (s < 0 || s > 11) return false
      val diffBits = if (s == 0) 0 else { val v = in.readBits(s); if (v < 0) return false; v }
      dcPred(i) += extend(diffBits, s)
      // the scan codes the point-transformed value (G.1.2.1); undo the
      // transform when storing — refinements OR the lower bits back in
      coefArr(idx) = dcPred(i) << al
      true
    }
    def dcRefine(coefArr: Array[Int], idx: Int): Boolean = {
      val bit = in.readBit()
      if (bit < 0) return false
      if (bit == 1) coefArr(idx) |= 1 << al
      true
    }
    def acFirst(ta: Int, coefArr: Array[Int], idx: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = acTab(ta).decode(in)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 0x0f
        if (s == 0) {
          if (r < 15) { // EOBn: run of (1<<r)+bits blocks ending here
            eobrun = (1L << r) - 1
            if (r > 0) {
              val eb = in.readBits(r); if (eb < 0) return false
              eobrun += eb
            }
            return true
          }
          k += 16 // ZRL
          if (k > se + 1) return false
        } else {
          k += r
          if (k > se) return false
          val vb = in.readBits(s); if (vb < 0) return false
          coefArr(idx + k) = extend(vb, s) << al
          k += 1
        }
      }
      true
    }
    // G.1.2.3: refinement appends one correction bit to every NONZERO-
    // history coefficient it passes; the run length R counts only
    // zero-history positions; new coefficients are coded with s=1 and
    // land on the (R+1)-th zero-history position
    def acRefine(ta: Int, coefArr: Array[Int], idx: Int): Boolean = {
      val p1 = 1 << al
      def correct(k: Int): Boolean = {
        val cur = coefArr(idx + k)
        val bit = in.readBit()
        if (bit < 0) return false
        if (bit == 1 && (cur & p1) == 0)
          coefArr(idx + k) = if (cur >= 0) cur + p1 else cur - p1
        true
      }
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (k <= se && !atEob) {
          val rs = acTab(ta).decode(in)
          if (rs < 0) return false
          var r = rs >> 4; val s = rs & 0x0f
          var newVal = 0
          if (s == 0) {
            if (r < 15) {
              eobrun = 1L << r
              if (r > 0) {
                val eb = in.readBits(r); if (eb < 0) return false
                eobrun += eb
              }
              atEob = true // the rest of the band is EOB-run territory
            }
            // r == 15: ZRL — skip 16 zero-history positions, newVal 0
          } else {
            if (s != 1) return false // refinement codes magnitude-1 only
            val bit = in.readBit(); if (bit < 0) return false
            newVal = if (bit == 1) p1 else -p1
          }
          if (!atEob) {
            var placed = false
            while (k <= se && !placed) {
              if (coefArr(idx + k) != 0) {
                if (!correct(k)) return false
              } else if (r == 0) {
                if (newVal != 0) coefArr(idx + k) = newVal
                placed = true
              } else r -= 1
              k += 1
            }
            if (!placed) return false // run/new coefficient past the band
          }
        }
      }
      if (eobrun > 0) { // correction bits for the rest of the band
        while (k <= se) {
          if (coefArr(idx + k) != 0 && !correct(k)) return false
          k += 1
        }
        eobrun -= 1
      }
      true
    }
    // --- traversal ---
    def doUnit(i: Int, bx: Int, by: Int): Boolean = {
      val ci = scanComps(i)
      val idx = (by * st.padW(ci) + bx) * 64
      val coefArr = st.coef(ci)
      if (ss == 0) {
        if (ah == 0) dcFirst(i, coefArr, idx) else dcRefine(coefArr, idx)
      } else {
        if (ah == 0) acFirst(tabs(i)._2, coefArr, idx)
        else acRefine(tabs(i)._2, coefArr, idx)
      }
    }
    if (scanComps.length == 1) {
      // non-interleaved: the component's own block grid, no dummies
      val ci = scanComps(0)
      var by = 0
      while (by < st.bh(ci)) {
        var bx = 0
        while (bx < st.bw(ci)) {
          if (restartInterval > 0 && sinceRestart == restartInterval &&
              !restart()) return -1
          if (!doUnit(0, bx, by)) return -1
          sinceRestart += 1
          bx += 1
        }
        by += 1
      }
    } else {
      // interleaved (all components): MCU order, hs×vs blocks each
      var my = 0
      while (my < st.mcuH) {
        var mx = 0
        while (mx < st.mcuW) {
          if (restartInterval > 0 && sinceRestart == restartInterval &&
              !restart()) return -1
          var i = 0
          while (i < scanComps.length) {
            val c = st.comps(scanComps(i))
            var by = 0
            while (by < c.vs) {
              var bx = 0
              while (bx < c.hs) {
                if (!doUnit(i, mx * c.hs + bx, my * c.vs + by)) return -1
                bx += 1
              }
              by += 1
            }
            i += 1
          }
          sinceRestart += 1
          mx += 1
        }
        my += 1
      }
    }
    in.nextMarkerOffset()
  }

  /** Dequantize, de-zigzag, IDCT and place every REAL block (dummy
    * MCU-padding blocks dropped), then replication-upsample — the
    * baseline tail applied to the accumulated progressive store. */
  private def reconstructProgressive(st: ProgStore,
                                     quant: Array[Array[Int]]): Option[Decoded] = {
    val nc = st.comps.length
    val planes = Array.tabulate(nc)(i => new Array[Int](st.cw(i) * st.ch(i)))
    val f = new Array[Int](64)
    var ci = 0
    while (ci < nc) {
      val q = quant(st.comps(ci).qid)
      if (q == null) return None
      var by = 0
      while (by < st.bh(ci)) {
        var bx = 0
        while (bx < st.bw(ci)) {
          val idx = (by * st.padW(ci) + bx) * 64
          var k = 0
          while (k < 64) { f(Zigzag(k)) = st.coef(ci)(idx + k) * q(k); k += 1 }
          val px = idct8x8(f)
          val ox = bx * 8; val oy = by * 8
          var yy = 0
          while (yy < 8) {
            val py = oy + yy
            if (py < st.ch(ci)) {
              var xx = 0
              while (xx < 8) {
                val pxx = ox + xx
                if (pxx < st.cw(ci)) {
                  val v = px(yy * 8 + xx) + 128
                  planes(ci)(py * st.cw(ci) + pxx) =
                    if (v < 0) 0 else if (v > 255) 255 else v
                }
                xx += 1
              }
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    val full = Array.tabulate(nc) { i =>
      if (st.cw(i) == st.w && st.ch(i) == st.h) planes(i)
      else {
        val sx = st.hMax / st.comps(i).hs
        val sy = st.vMax / st.comps(i).vs
        val out = new Array[Int](st.w * st.h)
        var y = 0
        while (y < st.h) {
          val row = (y / sy) * st.cw(i)
          var x = 0
          while (x < st.w) {
            out(y * st.w + x) = planes(i)(row + x / sx)
            x += 1
          }
          y += 1
        }
        out
      }
    }
    Some(Decoded(st.w, st.h, full))
  }

  // ---------- encoder (constant-block, integer-exact) ----------

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def write(bits: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((bits >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(cur)
          if (cur == 0xff) out.write(0x00) // byte stuffing
          cur = 0; n = 0
        }
        i -= 1
      }
    }
    /** pad the current byte with 1s before a marker. Stuffing applies
      * even here (F.1.2.3 covers EVERY 0xFF in entropy-coded data): the
      * padded byte still carries real data bits, so a decoder reads it
      * — if it rendered as a bare 0xFF the decoder would see a marker
      * and lose those bits (a real bug this fixed: specific pixel data
      * padding to 0xFF right before an RSTn made the file undecodable,
      * by this decoder and any spec-conforming one) */
    def padToMarker(): Unit = {
      if (n > 0) {
        cur = (cur << (8 - n)) | ((1 << (8 - n)) - 1)
        out.write(cur)
        if (cur == 0xff) out.write(0x00)
        cur = 0; n = 0
      }
    }
    /** emit a marker (0xFF m) into the entropy stream — byte-aligned
      * only (RSTn between restart intervals) */
    def writeMarker(m: Int): Unit = {
      require(n == 0, "marker must be byte-aligned")
      out.write(0xff); out.write(m)
    }
    /** pad the final byte with 1s (F.1.2.3) and return the stream */
    def finish(): Array[Byte] = {
      if (n > 0) { cur = (cur << (8 - n)) | ((1 << (8 - n)) - 1); out.write(cur); if (cur == 0xff) out.write(0x00) }
      out.toByteArray
    }
  }

  private def dcCategory(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a > 0) { a >>= 1; s += 1 }
    s
  }

  /** Encode a baseline 4:4:4 (3-plane) or grayscale (1-plane) JPEG whose
    * 8×8 tiles are CONSTANT: `blockVal(bx, by, c)` gives tile (bx, by)'s
    * value for component c. Width/height must be multiples of 8. Writes
    * its own legal custom tables: all-ones DQT (lossless DC), a flat
    * 4-bit DC huffman table for categories 0–11, and a 1-bit AC table
    * holding only EOB. Decode through [[decode]] recovers every sample
    * exactly. */
  def encodeJpeg(w: Int, h: Int, nc: Int, blockVal: (Int, Int, Int) => Int): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0 && (nc == 1 || nc == 3))
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, data: Array[Int]): Unit = {
      marker(m); out.write((data.length + 2) >> 8); out.write((data.length + 2) & 0xff)
      data.foreach(out.write)
    }
    marker(0xd8) // SOI
    segment(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT id 0, all ones
    // DHT: DC table 0 — twelve 4-bit codes for categories 0..11
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x00) ++ dcBits ++ (0 to 11).toArray)
    // DHT: AC table 0 — a single 1-bit code for EOB (0x00)
    val acBits = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x10) ++ acBits ++ Array(0x00))
    // SOF0: components 1..nc, all 1×1 sampling, qtable 0
    segment(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, nc) ++
      (1 to nc).flatMap(c => Seq(c, 0x11, 0)).toArray)
    // SOS: every component uses DC table 0 / AC table 0
    segment(0xda, Array(nc) ++ (1 to nc).flatMap(c => Seq(c, 0x00)).toArray ++ Array(0, 63, 0))
    val bw = new BitWriter
    val dcPred = new Array[Int](nc)
    for (by <- 0 until h / 8; bx <- 0 until w / 8; c <- 0 until nc) {
      val v = blockVal(bx, by, c)
      require(v >= 0 && v <= 255)
      val dc = 8 * (v - 128) // FDCT of a constant block: DC only
      val diff = dc - dcPred(c)
      dcPred(c) = dc
      val s = dcCategory(diff)
      require(s <= 11)
      bw.write(s, 4) // flat DC table: category s has code s at length 4
      if (s > 0) {
        val bits = if (diff >= 0) diff else diff + (1 << s) - 1
        bw.write(bits, s)
      }
      bw.write(0, 1) // EOB ('0' in the 1-bit AC table)
    }
    out.write(bw.finish())
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Encode a PROGRESSIVE (SOF2) 4:4:4 color or grayscale JPEG with
    * constant 8×8 tiles, exercising the mode's whole structure over an
    * integer-exact stream: an interleaved DC first scan at point
    * transform Al=4 (diffs of dc≫4), four successive DC refinement
    * scans (Al 3→0, one raw bit per block — Al=4 reaches below the
    * ×8 FDCT factor, so the refined bits are REAL data, not zeros),
    * then per-component AC scans (first pass Al=1, refinement Al=0)
    * that are pure EOB runs (constant tiles have zero ACs). With
    * `restartInterval` > 0, RSTn resync runs through every scan (DC
    * predictors and EOB runs reset). Same legal custom tables idea as
    * [[encodeJpeg]], plus a flat 4-bit AC table holding the fifteen
    * EOBn codes. Decode through [[decode]] recovers every sample
    * exactly. */
  def encodeJpegProgressive(w: Int, h: Int, nc: Int,
                            blockVal: (Int, Int, Int) => Int,
                            restartInterval: Int = 0): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0 && (nc == 1 || nc == 3) && restartInterval >= 0)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, data: Array[Int]): Unit = {
      marker(m); out.write((data.length + 2) >> 8); out.write((data.length + 2) & 0xff)
      data.foreach(out.write)
    }
    marker(0xd8) // SOI
    segment(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT id 0, all ones
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x00) ++ dcBits ++ (0 to 11).toArray)
    // AC table 0: fifteen 4-bit codes, value r<<4 = the EOBn categories
    val acBits = Array(0, 0, 0, 15, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x10) ++ acBits ++ (0 to 14).map(_ << 4).toArray)
    // SOF2: components 1..nc, all 1×1 sampling, qtable 0
    segment(0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, nc) ++
      (1 to nc).flatMap(c => Seq(c, 0x11, 0)).toArray)
    if (restartInterval > 0)
      segment(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    def sos(compIds: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit =
      segment(0xda, Array(compIds.length) ++
        compIds.flatMap(c => Seq(c, 0x00)) ++ Array(ss, se, (ah << 4) | al))
    val bw = w / 8; val bh = h / 8
    def dcOf(bx: Int, by: Int, c: Int): Int = {
      val v = blockVal(bx, by, c)
      require(v >= 0 && v <= 255)
      8 * (v - 128)
    }
    // every DC scan walks the same interleaved MCU order (all comps 1×1
    // ⇒ one block per component per MCU); `body` emits one block
    def dcScan(resetPred: () => Unit)(body: (Int, Int, Int, BitWriter) => Unit): Array[Byte] = {
      val bwr = new BitWriter
      var rst = 0; var since = 0
      for (by <- 0 until bh; bx <- 0 until bw) {
        if (restartInterval > 0 && since == restartInterval) {
          bwr.padToMarker(); bwr.writeMarker(0xd0 + rst)
          rst = (rst + 1) & 7; resetPred(); since = 0
        }
        for (c <- 0 until nc) body(bx, by, c, bwr)
        since += 1
      }
      bwr.finish()
    }
    // scan 1: DC first at Al=4 — huffman-coded diffs of dc >> 4
    sos(1 to nc, 0, 0, 0, 4)
    val pred = new Array[Int](nc)
    out.write(dcScan(() => java.util.Arrays.fill(pred, 0)) { (bx, by, c, bwr) =>
      val t = dcOf(bx, by, c) >> 4
      val diff = t - pred(c); pred(c) = t
      val s = dcCategory(diff)
      require(s <= 11)
      bwr.write(s, 4)
      if (s > 0) bwr.write(if (diff >= 0) diff else diff + (1 << s) - 1, s)
    })
    // scans 2–5: DC refinement, the raw bit (dc >> Al) & 1 per block
    for (al <- 3 to 0 by -1) {
      sos(1 to nc, 0, 0, al + 1, al)
      out.write(dcScan(() => ()) { (bx, by, c, bwr) =>
        bwr.write((dcOf(bx, by, c) >> al) & 1, 1)
      })
    }
    // AC scans per component: pure EOB runs (ACs all zero) — the first
    // pass at Al=1, then the Ah=1→Al=0 refinement (no correction bits:
    // the band history is all-zero)
    def emitEobRuns(bwr: BitWriter, blocks: Int): Unit = {
      var n = blocks
      while (n > 0) {
        var r = 0
        while (r < 14 && (1 << (r + 1)) <= n) r += 1
        val len = math.min(n, (1 << (r + 1)) - 1)
        bwr.write(r, 4) // flat AC table: EOBn category r codes as r
        if (r > 0) bwr.write(len - (1 << r), r)
        n -= len
      }
    }
    for (al <- 1 to 0 by -1; c <- 1 to nc) {
      sos(Seq(c), 1, 63, if (al == 1) 0 else 1, al)
      val bwr = new BitWriter
      var remaining = bw * bh
      var rst = 0
      val per = if (restartInterval > 0) restartInterval else remaining
      while (remaining > 0) {
        val n = math.min(per, remaining)
        emitEobRuns(bwr, n)
        remaining -= n
        if (remaining > 0) {
          bwr.padToMarker(); bwr.writeMarker(0xd0 + rst); rst = (rst + 1) & 7
        }
      }
      out.write(bwr.finish())
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Encode a baseline 4:2:0 color JPEG (Y sampled 2×2, chroma 1×1)
    * whose tiles are CONSTANT — Y per 8×8 source tile via
    * `blockVal(bx, by, 0)` on the (w/8)×(h/8) grid, Cb/Cr per 16×16
    * source tile via `blockVal(bx, by, 1|2)` on the (w/16)×(h/16) grid
    * (one chroma-plane block covers a 16×16 pixel area, so replication
    * upsampling recovers it exactly). Width/height must be multiples
    * of 16. With `restartInterval` > 0, a DRI segment is written and
    * RST0–7 markers are emitted (byte-aligned, DC predictors reset)
    * after every `restartInterval` MCUs — the resync structure nearly
    * every camera JPEG carries. Same legal custom tables as
    * [[encodeJpeg]]; decode through [[decode]] recovers every sample
    * exactly. */
  def encodeJpeg420(w: Int, h: Int, blockVal: (Int, Int, Int) => Int,
                    restartInterval: Int = 0): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0 && restartInterval >= 0)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, data: Array[Int]): Unit = {
      marker(m); out.write((data.length + 2) >> 8); out.write((data.length + 2) & 0xff)
      data.foreach(out.write)
    }
    marker(0xd8) // SOI
    segment(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT id 0, all ones
    val dcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x00) ++ dcBits ++ (0 to 11).toArray)
    val acBits = Array(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    segment(0xc4, Array(0x10) ++ acBits ++ Array(0x00))
    // SOF0: Y = component 1 at 2×2, Cb/Cr = components 2/3 at 1×1
    segment(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
      1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
    if (restartInterval > 0)
      segment(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    segment(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    val bw = new BitWriter
    val dcPred = new Array[Int](3)
    def emitBlock(c: Int, v: Int): Unit = {
      require(v >= 0 && v <= 255)
      val dc = 8 * (v - 128)
      val diff = dc - dcPred(c)
      dcPred(c) = dc
      val s = dcCategory(diff)
      require(s <= 11)
      bw.write(s, 4)
      if (s > 0) {
        val bits = if (diff >= 0) diff else diff + (1 << s) - 1
        bw.write(bits, s)
      }
      bw.write(0, 1) // EOB
    }
    val mcuW = w / 16; val mcuH = h / 16
    var mcusSinceRestart = 0
    var rstIdx = 0
    for (my <- 0 until mcuH; mx <- 0 until mcuW) {
      if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
        bw.padToMarker()
        bw.writeMarker(0xd0 + rstIdx)
        rstIdx = (rstIdx + 1) & 7
        java.util.Arrays.fill(dcPred, 0)
        mcusSinceRestart = 0
      }
      // MCU: four Y blocks in 2×2 raster order, then Cb, then Cr (A.2.3)
      for (by <- 0 until 2; bx <- 0 until 2)
        emitBlock(0, blockVal(mx * 2 + bx, my * 2 + by, 0))
      emitBlock(1, blockVal(mx, my, 1))
      emitBlock(2, blockVal(mx, my, 2))
      mcusSinceRestart += 1
    }
    out.write(bw.finish())
    marker(0xd9) // EOI
    out.toByteArray
  }
}

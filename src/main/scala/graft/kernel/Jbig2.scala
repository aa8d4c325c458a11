package graft.kernel

import scala.collection.mutable

import graft.kernel.MediaCodec.DecodedGray

/** JBIG2 (ITU-T Rec. T.88) bilevel codec — generic regions, pure JVM.
  *
  * Scope: the PDF-embedded organization (`/Filter /JBIG2Decode` carries
  * raw segment headers, no file header — T.88 Annex D.3) with page
  * information (§7.4.8) and GENERIC region segments (§6.2/§7.4.6), the
  * layout scanner pipelines emit for full-page lossless masks. Generic
  * region data decodes through both coding classes the spec defines:
  *
  *   - MMR = 1: the region bitstream is ITU T.6 2-D coding — decoded by
  *     this repo's [[CcittG4]] codec (itself cross-checked bit-exactly
  *     against the JDK's independent ImageIO TIFF T.6 implementation,
  *     CcittG4Spec), so this path carries REAL third-party interop.
  *   - MMR = 0: the MQ arithmetic coder (T.88 Annex E — the same coder
  *     as JPEG 2000) with template-based context modeling (GB templates
  *     0–3, §6.2.5.3), explicit AT pixel positions honored, and TPGDON
  *     typical-prediction rows (§6.2.5.6).
  *
  * Context bit order follows the deployed software convention (template
  * pixels plus AT pixels sorted by (y, x), MSB first); the TPGDON
  * pseudo-contexts 0x9B25/0x0795/0x00E5/0x0195 are opaque indices into
  * the same context array. No second JBIG2 implementation exists in this
  * offline JDK ecosystem, so the MQ path's correctness contract is
  * fixture-based (Jbig2Spec): encoder↔decoder round trips over planted
  * and random rasters, truncation → None, and the two-CODING-PATH
  * equality check — the SAME raster encoded as MMR and as MQ must decode
  * identically, which ties the MQ path to the externally-cross-checked
  * G4 codec at the raster level.
  *
  * Symbol-dictionary/text/halftone/refinement segment types, and
  * intermediate generic regions (which only refinement composes), are out
  * of scope: a stream carrying them returns None and the caller keeps the
  * header-only fallback (`MediaCodec.embeddedImageDims` still reads page
  * dims; such pages degrade to the image-only OCR path, which is also
  * the reference's behavior — it never decodes pixels for
  * classification, `_detector.py:732-803`).
  *
  * Unlike G4, a JBIG2 payload is self-describing (the page-information
  * segment carries width/height), so `decode` takes no dict geometry and
  * `MediaCodec.embeddedImageDims` CAN cross-check these payloads.
  */
object Jbig2 {

  // ----------------------------------------------------- MQ coder tables
  // T.88 Table E.1 — (Qe, NMPS, NLPS, SWITCH); public spec data, shared
  // with JPEG 2000 (T.800 Annex C).
  private val QeTab: Array[Int] = Array(
    0x5601, 0x3401, 0x1801, 0x0AC1, 0x0521, 0x0221, 0x5601, 0x5401,
    0x4801, 0x3801, 0x3001, 0x2401, 0x1C01, 0x1601, 0x5601, 0x5401,
    0x5101, 0x4801, 0x3801, 0x3401, 0x3001, 0x2801, 0x2401, 0x2201,
    0x1C01, 0x1801, 0x1601, 0x1401, 0x1201, 0x1101, 0x0AC1, 0x09C1,
    0x08A1, 0x0521, 0x0441, 0x02A1, 0x0221, 0x0141, 0x0111, 0x0085,
    0x0049, 0x0025, 0x0015, 0x0009, 0x0005, 0x0001, 0x5601)
  private val Nmps: Array[Int] = Array(
    1, 2, 3, 4, 5, 38, 7, 8, 9, 10, 11, 12, 13, 29, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
    33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 44, 45, 45, 46)
  private val Nlps: Array[Int] = Array(
    1, 6, 9, 12, 29, 33, 6, 14, 14, 14, 17, 18, 20, 21, 14, 14,
    15, 16, 17, 18, 19, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 40, 41, 42, 43, 46)
  private val Switch: Array[Boolean] = Array(
    true, false, false, false, false, false, true, false,
    false, false, false, false, false, false, true, false,
    false, false, false, false, false, false, false, false,
    false, false, false, false, false, false, false, false,
    false, false, false, false, false, false, false, false,
    false, false, false, false, false, false, false)

  // ------------------------------------------------------- MQ decoder
  /** T.88 E.3.2–E.3.5 software conventions; out-of-data reads synthesize
    * 0xFF (the marker rule), so truncated-but-flushed streams decode. */
  private[kernel] final class MqDecoder(
      data: Array[Byte], start: Int, end: Int) {
    private var bp = start
    private var c: Long = 0L
    private var a: Int = 0
    private var ct: Int = 0
    // reads beyond [start, end) synthesize 0xFF — the marker rule; end
    // BOUNDS the coded data so a decoder that outruns its own segment
    // never consumes the FOLLOWING segment's bytes
    private def byteAt(i: Int): Int =
      if (i >= start && i < end) data(i) & 0xFF else 0xFF
    // INITDEC
    c = byteAt(bp).toLong << 16
    byteIn()
    c = (c << 7) & 0xFFFFFFFFL; ct -= 7; a = 0x8000

    private def byteIn(): Unit = {
      if (byteAt(bp) == 0xFF) {
        if (byteAt(bp + 1) > 0x8F) { c += 0xFF00L; ct = 8 }
        else { bp += 1; c += byteAt(bp).toLong << 9; ct = 7 }
      } else { bp += 1; c += byteAt(bp).toLong << 8; ct = 8 }
      c &= 0xFFFFFFFFL
    }

    /** Decode one bit under context `ctx` of the packed (index<<1 | mps)
      * state array `cx`, updating the state in place. */
    def decode(cx: Array[Int], ctx: Int): Int = {
      var icx = cx(ctx) >>> 1
      var mps = cx(ctx) & 1
      val qe = QeTab(icx)
      a -= qe
      var d = 0
      if (((c >>> 16) & 0xFFFFL) < qe) {
        // LPS interval selected (or conditional exchange)
        if (a < qe) { d = mps; icx = Nmps(icx) }
        else {
          d = 1 - mps
          if (Switch(icx)) mps = 1 - mps
          icx = Nlps(icx)
        }
        a = qe
        renorm()
      } else {
        c -= qe.toLong << 16
        if ((a & 0x8000) == 0) {
          if (a < qe) {
            d = 1 - mps
            if (Switch(icx)) mps = 1 - mps
            icx = Nlps(icx)
          } else { d = mps; icx = Nmps(icx) }
          renorm()
        } else return mps // fast MPS path: no state change
      }
      cx(ctx) = (icx << 1) | mps
      d
    }

    private def renorm(): Unit = {
      while ({
        if (ct == 0) byteIn()
        a <<= 1
        c = (c << 1) & 0xFFFFFFFFL
        ct -= 1
        (a & 0x8000) == 0
      }) ()
    }
  }

  // ------------------------------------------------------- MQ encoder
  /** T.88 E.3.6–E.3.9 software conventions (byte-stuffing BYTEOUT, SETBITS
    * flush). The virtual byte before the stream (BPST−1) is represented by
    * `b == -1` and never emitted; a carry cannot reach it because the
    * interval invariant keeps C below 2^27 at the first BYTEOUT. */
  private[kernel] final class MqEncoder {
    private val out = mutable.ArrayBuffer[Byte]()
    private var b: Int = -1
    private var c: Long = 0L
    private var a: Int = 0x8000
    private var ct: Int = 12
    private def commit(): Unit = if (b >= 0) out += b.toByte

    private def byteOut(): Unit = {
      if (b == 0xFF) {
        commit(); b = ((c >>> 20) & 0xFF).toInt; c &= 0xFFFFFL; ct = 7
      } else if (c < 0x8000000L) {
        commit(); b = ((c >>> 19) & 0xFF).toInt; c &= 0x7FFFFL; ct = 8
      } else {
        b += 1 // carry into the pending byte
        if (b == 0xFF) {
          c &= 0x7FFFFFFL
          commit(); b = ((c >>> 20) & 0xFF).toInt; c &= 0xFFFFFL; ct = 7
        } else {
          commit(); b = ((c >>> 19) & 0xFF).toInt; c &= 0x7FFFFL; ct = 8
        }
      }
    }

    def encode(cx: Array[Int], ctx: Int, d: Int): Unit = {
      var icx = cx(ctx) >>> 1
      var mps = cx(ctx) & 1
      val qe = QeTab(icx)
      if (d == mps) { // CODEMPS
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          icx = Nmps(icx)
          renorm()
          cx(ctx) = (icx << 1) | mps
        } else c += qe // fast path: no state change
      } else { // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Switch(icx)) mps = 1 - mps
        icx = Nlps(icx)
        renorm()
        cx(ctx) = (icx << 1) | mps
      }
      c &= 0xFFFFFFFFL
    }

    private def renorm(): Unit = {
      while ({
        a <<= 1
        c = (c << 1) & 0xFFFFFFFFL
        ct -= 1
        if (ct == 0) byteOut()
        (a & 0x8000) == 0
      }) ()
    }

    def flush(): Array[Byte] = {
      // SETBITS
      val tempc = c + a
      c |= 0xFFFFL
      if (c >= tempc) c -= 0x8000L
      c = (c << ct) & 0xFFFFFFFFL; byteOut()
      c = (c << ct) & 0xFFFFFFFFL; byteOut()
      if (b != 0xFF) commit() // a trailing 0xFF is droppable (E.3.8)
      out.toArray
    }
  }

  // ------------------------------------------- generic-region templates
  /** Template + AT pixel offsets sorted by (y, x); context bits assign
    * MSB-first in this order. Nominal ATs per §6.2.5.3 when the segment's
    * AT bytes are absent/defaulted. */
  private def templatePixels(
      gbTemplate: Int, at: Array[(Int, Int)]): Array[(Int, Int)] = {
    val coding: Array[(Int, Int)] = gbTemplate match {
      case 0 => Array(
        (-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0))
      case 1 => Array(
        (-1, -2), (0, -2), (1, -2), (2, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-3, 0), (-2, 0), (-1, 0))
      case 2 => Array(
        (-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-2, 0), (-1, 0))
      case _ => Array(
        (-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0))
    }
    (coding ++ at).sortBy { case (x, y) => (y, x) }
  }

  private def nominalAt(gbTemplate: Int): Array[(Int, Int)] =
    if (gbTemplate == 0) Array((3, -1), (-3, -1), (2, -2), (-2, -2))
    else Array((if (gbTemplate == 3) 2 else if (gbTemplate == 2) 2 else 3, -1))

  /** TPGDON pseudo-pixel contexts per template (§6.2.5.7). */
  private val TpgdCtx = Array(0x9B25, 0x0795, 0x00E5, 0x0195)

  private def atCount(gbTemplate: Int): Int = if (gbTemplate == 0) 4 else 1

  // ----------------------------------------------- generic region codec
  /** Decode an MQ-coded generic region (MMR = 0). `bitmap(y)(x)` true =
    * black (pixel value 1). */
  private def decodeGenericMq(
      data: Array[Byte], start: Int, end: Int, w: Int, h: Int,
      gbTemplate: Int, tpgdon: Boolean,
      at: Array[(Int, Int)]): Array[Array[Boolean]] = {
    val tpl = templatePixels(gbTemplate, at)
    val bits = tpl.length
    // parallel Int arrays: the per-pixel loop reads up to 16 template
    // positions per pixel (~30M loads on a 1200x1600 page) — indexing two
    // flat int arrays beats destructuring a Tuple2 per position
    val dxs = new Array[Int](bits)
    val dys = new Array[Int](bits)
    var tj = 0
    while (tj < bits) { dxs(tj) = tpl(tj)._1; dys(tj) = tpl(tj)._2; tj += 1 }
    val dec = new MqDecoder(data, start, end)
    val cx = new Array[Int](1 << bits max 1 << 16) // TPGD ctx fits 16 bits
    val bm = Array.ofDim[Boolean](h, w)
    var ltp = false
    var y = 0
    while (y < h) {
      if (tpgdon && dec.decode(cx, TpgdCtx(gbTemplate)) == 1) ltp = !ltp
      if (ltp) {
        if (y > 0) System.arraycopy(bm(y - 1), 0, bm(y), 0, w)
      } else {
        var x = 0
        while (x < w) {
          var ctx = 0
          var i = 0
          while (i < bits) {
            val px = x + dxs(i)
            val py = y + dys(i)
            val v =
              if (py < 0 || py >= h || px < 0 || px >= w) false
              else bm(py)(px)
            ctx = (ctx << 1) | (if (v) 1 else 0)
            i += 1
          }
          bm(y)(x) = dec.decode(cx, ctx) == 1
          x += 1
        }
      }
      y += 1
    }
    bm
  }

  /** Encode a bitmap as an MQ-coded generic region, mirroring
    * `decodeGenericMq`'s context model exactly. */
  private def encodeGenericMq(
      black: (Int, Int) => Boolean, w: Int, h: Int,
      gbTemplate: Int, tpgdon: Boolean,
      at: Array[(Int, Int)]): Array[Byte] = {
    val tpl = templatePixels(gbTemplate, at)
    val bits = tpl.length
    // same parallel-array hoist as decodeGenericMq (the per-pixel loop)
    val dxs = new Array[Int](bits)
    val dys = new Array[Int](bits)
    var tj = 0
    while (tj < bits) { dxs(tj) = tpl(tj)._1; dys(tj) = tpl(tj)._2; tj += 1 }
    val enc = new MqEncoder
    val cx = new Array[Int](1 << bits max 1 << 16)
    val bm = Array.ofDim[Boolean](h, w)
    for (y <- 0 until h; x <- 0 until w) bm(y)(x) = black(x, y)
    var ltp = false
    var y = 0
    while (y < h) {
      if (tpgdon) {
        val typical = y > 0 && java.util.Arrays.equals(bm(y), bm(y - 1))
        enc.encode(cx, TpgdCtx(gbTemplate), if (typical != ltp) 1 else 0)
        ltp = typical
      }
      if (!(tpgdon && ltp)) {
        var x = 0
        while (x < w) {
          var ctx = 0
          var i = 0
          while (i < bits) {
            val px = x + dxs(i)
            val py = y + dys(i)
            val v =
              if (py < 0 || py >= h || px < 0 || px >= w) false
              else bm(py)(px)
            ctx = (ctx << 1) | (if (v) 1 else 0)
            i += 1
          }
          enc.encode(cx, ctx, if (bm(y)(x)) 1 else 0)
          x += 1
        }
      }
      y += 1
    }
    enc.flush()
  }

  // ---------------------------------------------------- segment writing
  private def be32(v: Int): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)

  private def segment(
      number: Int, segType: Int, page: Int,
      data: Array[Byte]): Array[Byte] = {
    val out = mutable.ArrayBuffer[Byte]()
    out ++= be32(number)
    out += segType.toByte // flags: type, 1-byte page association
    out += 0x00.toByte // referred-to count 0, no retain bits
    out += page.toByte
    out ++= be32(data.length)
    out ++= data
    out.toArray
  }

  /** Assemble a PDF-embedded JBIG2 stream (no file header): page info +
    * ONE immediate lossless generic region covering the page + end of
    * page. `mmr` selects the T.6 coding class (decoded by [[CcittG4]]);
    * otherwise MQ template `gbTemplate` with nominal ATs, TPGDON
    * optional. Black = pixel 1, matching PDF JBIG2Decode's 1-bit
    * ImageMask-style output where 1 renders black. */
  def encode(
      w: Int, h: Int, black: (Int, Int) => Boolean,
      mmr: Boolean = false, gbTemplate: Int = 0,
      tpgdon: Boolean = false): Array[Byte] = {
    require(gbTemplate >= 0 && gbTemplate <= 3, s"template $gbTemplate")
    val pageInfo = be32(w) ++ be32(h) ++ be32(0) ++ be32(0) ++
      Array(0x00.toByte) ++ be16(0)
    val at = nominalAt(gbTemplate)
    val coded =
      if (mmr) CcittG4.encode(w, h, black)
      else encodeGenericMq(black, w, h, gbTemplate, tpgdon, at)
    val regFlags =
      (if (mmr) 1 else 0) | (gbTemplate << 1) | (if (tpgdon) 8 else 0)
    val regionInfo = be32(w) ++ be32(h) ++ be32(0) ++ be32(0) ++
      Array(0x00.toByte) ++ // external combination op OR onto the page
      Array(regFlags.toByte) ++
      (if (mmr) Array.emptyByteArray
       else at.flatMap { case (x, y) => Array(x.toByte, y.toByte) }) ++
      coded
    segment(0, 48, 1, pageInfo) ++
      segment(1, 39, 1, regionInfo) ++
      segment(2, 49, 1, Array.emptyByteArray)
  }

  // ---------------------------------------------------- segment reading
  /** Decode one embedded-format segment HEADER at offset `i`:
    * `(segType, dataStart, dataLen)` or null on structural inconsistency
    * (bad long-form count, truncated header, negative/overflowing data
    * length). The nextOffset is dataStart + dataLen. ONE implementation
    * of the fiddly arithmetic (referred-segment size classes, long-form
    * retain-bit bytes, page-association width) shared by this decoder
    * and `MediaCodec.jbig2PageDims` so the two walks cannot drift.
    *
    * `requireData = false` (the dims-walk mode): the declared dataLen is
    * NOT required to be fully present — a truncated or
    * dataLen-overdeclared stream still yields its header so the caller
    * can read the page-info dims it DOES have (the cross-check path
    * must flag a dims mismatch even on streams too broken to decode);
    * overflowing lengths are still rejected. */
  private[kernel] def segmentHeader(b: Array[Byte], i: Int,
      requireData: Boolean = true): Array[Int] = {
    if (i + 11 > b.length) return null
    val segNum = rd32(b, i)
    if (segNum < 0) return null
    val flags = b(i + 4) & 0xFF
    val segType = flags & 0x3F
    val refSize = if (segNum <= 256) 1 else if (segNum <= 65536) 2 else 4
    var j = i + 5
    val rts = b(j) & 0xFF
    val refCount =
      if ((rts >>> 5) == 7) {
        val longCount = rd32(b, j) & 0x1FFFFFFF
        if (longCount > 0xFFFF) return null
        j += 4 + (longCount + 8) / 8
        longCount
      } else { j += 1; rts >>> 5 }
    j += refCount * refSize
    j += (if ((flags & 0x40) != 0) 4 else 1) // page association
    if (j + 4 > b.length) return null
    val dataLen = rd32(b, j)
    j += 4
    // overflow-safe: compare against the REMAINING byte count
    if (dataLen < 0) return null
    if (requireData && dataLen > b.length - j) return null
    if (!requireData && dataLen > Int.MaxValue - j) return null // i overflow
    Array(segType, j, dataLen)
  }

  /** Decode a PDF-embedded JBIG2 stream to luminance (white=255, black=0,
    * the [[CcittG4]] convention). None on anything outside the supported
    * generic-region profile, any structural inconsistency, or absurd
    * geometry — the caller keeps its header-only fallback; never throws. */
  def decode(b: Array[Byte]): Option[DecodedGray] =
    try decodeUnsafe(b)
    catch { case _: Exception => None }

  private def decodeUnsafe(b: Array[Byte]): Option[DecodedGray] = {
    if (b == null || b.length < 11) return None
    // first-segment plausibility (the jbig2PageDims rule): reject
    // arbitrary binaries before walking
    if ((rd32(b, 0) & 0xFFFF0000) != 0 || (b(4) & 0x3F) > 53) return None
    var pageW = -1
    var pageH = -1
    var defPixel = false
    var page: Array[Array[Boolean]] = null
    // cumulative decode-work budget, set from the page area: the
    // per-region area check alone would let a tiny crafted stream
    // declare up to 1024 segments × 64M pixels each (minutes of CPU for
    // ~50 bytes of input — MQ decode never runs out of data, the marker
    // rule synthesizes 0xFF forever). Legitimate multi-region pages
    // tile or locally overlap the page, so 4× page area is generous;
    // beyond it the stream is structurally absurd → None.
    var pixelBudget = 0L
    var i = 0
    var guard = 0
    while (i + 11 <= b.length) {
      guard += 1
      // a structural guard, not a truncation point: a stream with more
      // segments than any sane page is rejected WHOLE — returning the
      // partially composed page would hand the caller plausible-looking
      // wrong pixels instead of the header-only fallback
      if (guard > 1024) return None
      val hdr = segmentHeader(b, i)
      if (hdr == null) return None
      val segType = hdr(0)
      val j = hdr(1)
      val dataLen = hdr(2)
      segType match {
        case 48 => // page information (§7.4.8)
          if (dataLen < 17) return None
          pageW = rd32(b, j)
          pageH = rd32(b, j + 4)
          if (pageW <= 0 || pageH <= 0 ||
            pageW.toLong * pageH > 64L * 1024 * 1024) return None
          defPixel = ((b(j + 16) & 0x04) != 0)
          page = Array.fill(pageH, pageW)(defPixel)
          pixelBudget = 4L * pageW * pageH
        case 38 | 39 => // immediate generic region (lossy or lossless)
          if (page == null || dataLen < 18) return None
          val rw = rd32(b, j)
          val rh = rd32(b, j + 4)
          val rx = rd32(b, j + 8)
          val ry = rd32(b, j + 12)
          val combOp = b(j + 16) & 0x07
          if (rw <= 0 || rh <= 0 || rx < 0 || ry < 0 ||
            rw.toLong * rh > 64L * 1024 * 1024) return None
          pixelBudget -= rw.toLong * rh
          if (pixelBudget < 0) return None
          val gFlags = b(j + 17) & 0xFF
          val mmr = (gFlags & 1) != 0
          val gbTemplate = (gFlags >>> 1) & 3
          val tpgdon = (gFlags & 8) != 0
          var dOff = j + 18
          val at =
            if (mmr) Array.empty[(Int, Int)]
            else {
              val n = atCount(gbTemplate)
              if (dOff + 2 * n > j + dataLen) return None
              val a = Array.tabulate(n)(k =>
                (b(dOff + 2 * k).toInt, b(dOff + 2 * k + 1).toInt))
              dOff += 2 * n
              a
            }
          if (mmr && tpgdon) return None // invalid combination
          val bm: Array[Array[Boolean]] =
            if (mmr) {
              val sub = java.util.Arrays.copyOfRange(b, dOff, j + dataLen)
              CcittG4.decode(sub, rw, rh) match {
                case Some(g) =>
                  Array.tabulate(rh, rw)((y, x) => g.pixels(y * rw + x) == 0)
                case None => return None
              }
            } else decodeGenericMq(b, dOff, j + dataLen, rw, rh,
              gbTemplate, tpgdon, at)
          // compose onto the page (§8.2 external combination operator)
          var y = 0
          while (y < rh) {
            val py = ry + y
            if (py < pageH) {
              var x = 0
              while (x < rw) {
                val px = rx + x
                if (px < pageW) {
                  val v = bm(y)(x)
                  page(py)(px) = combOp match {
                    case 0 => page(py)(px) || v
                    case 1 => page(py)(px) && v
                    case 2 => page(py)(px) ^ v
                    case 3 => !(page(py)(px) ^ v)
                    case _ => v
                  }
                }
                x += 1
              }
            }
            y += 1
          }
        case 49 | 50 | 51 | 62 => // end of page / stripe / file, extension
        // symbol/text/halftone/refinement carry no page pixels; an
        // INTERMEDIATE generic region (36) is an auxiliary buffer that only
        // a later refinement segment composes (T.88 §7.4.6), never the page
        case _ => return None
      }
      i = j + dataLen
    }
    if (page == null) None
    else {
      val px = new Array[Int](pageW * pageH)
      var y = 0
      while (y < pageH) {
        var x = 0
        while (x < pageW) {
          px(y * pageW + x) = if (page(y)(x)) 0 else 255
          x += 1
        }
        y += 1
      }
      Some(DecodedGray(pageW, pageH, px))
    }
  }

  private def rd32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xFF) << 24) | ((b(o + 1) & 0xFF) << 16) |
      ((b(o + 2) & 0xFF) << 8) | (b(o + 3) & 0xFF)
}

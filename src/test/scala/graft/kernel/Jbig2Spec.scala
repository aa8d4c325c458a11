package graft.kernel

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** JBIG2 codec (ITU T.88 generic regions, Jbig2.scala). The MQ path has
  * no independent JVM implementation to cross-check against, so its
  * contract is: (a) encoder↔decoder round trips over planted and random
  * rasters for every template × TPGDON combination, (b) two-CODING-PATH
  * equality — the SAME raster through MMR (T.6, itself cross-checked
  * against the JDK's ImageIO TIFF codec in CcittG4Spec) and through MQ
  * must decode to identical pixels, and (c) structural-garbage /
  * truncation rejection. */
class Jbig2Spec extends AnyFunSuite {

  private def rasters: Seq[(String, Int, Int, (Int, Int) => Boolean)] = Seq(
    ("all-white", 64, 40, (_, _) => false),
    ("all-black", 64, 40, (_, _) => true),
    ("checkerboard", 61, 37, (x, y) => (x + y) % 2 == 0),
    ("dashed ink", 96, 50, PdfParse.ccittInk),
    ("vertical bars", 33, 21, (x, _) => x % 5 < 2),
    ("noise", 80, 48, { (x, y) =>
      // deterministic pseudo-noise, worst case for context modeling
      val h = x * 2654435761L + y * 40503L
      ((h ^ (h >>> 13)) & 7) == 0
    }))

  private def px(g: MediaCodec.DecodedGray): Seq[Int] = g.pixels.toSeq

  test("MQ coder round-trips at the bit level: pure-MPS runs, biased " +
    "bits, and multi-context interleaving (T.88 Annex E)") {
    // pure MPS-0 (the adaptation ladder's fast lane)
    for (n <- Seq(1, 100, 2560)) {
      val enc = new Jbig2.MqEncoder
      val cxE = new Array[Int](1)
      for (_ <- 0 until n) enc.encode(cxE, 0, 0)
      val data = enc.flush()
      val dec = new Jbig2.MqDecoder(data, 0, data.length)
      val cxD = new Array[Int](1)
      for (i <- 0 until n)
        assert(dec.decode(cxD, 0) == 0, s"pure-MPS n=$n bit $i")
    }
    // biased random bits across 4 interleaved contexts
    val rng = new SplittableRandom(7)
    val bits = Array.fill(20000)(
      (rng.nextInt(4), if (rng.nextDouble() < 0.15) 1 else 0))
    val enc = new Jbig2.MqEncoder
    val cxE = new Array[Int](4)
    bits.foreach { case (ctx, b) => enc.encode(cxE, ctx, b) }
    val data = enc.flush()
    val dec = new Jbig2.MqDecoder(data, 0, data.length)
    val cxD = new Array[Int](4)
    bits.zipWithIndex.foreach { case ((ctx, b), i) =>
      assert(dec.decode(cxD, ctx) == b, s"biased bit $i")
    }
    // the stream is genuinely compressed (15% entropy ≈ 0.61 bits/sym)
    assert(data.length < 20000 / 8, s"len=${data.length}")
  }

  test("MQ generic region round-trips every raster under every template, " +
    "TPGDON off and on") {
    for ((name, w, h, ink) <- rasters; tpl <- 0 to 3; tp <- Seq(false, true)) {
      val enc = Jbig2.encode(w, h, ink, gbTemplate = tpl, tpgdon = tp)
      val dec = Jbig2.decode(enc)
      assert(dec.nonEmpty, s"$name tpl=$tpl tpgdon=$tp failed to decode")
      val g = dec.get
      assert(g.width == w && g.height == h, s"$name tpl=$tpl dims")
      for (y <- 0 until h; x <- 0 until w)
        assert((g.pixels(y * w + x) == 0) == ink(x, y),
          s"$name tpl=$tpl tpgdon=$tp pixel ($x,$y)")
    }
  }

  test("two-path equality: MMR (T.6 — JDK-cross-checked in CcittG4Spec) " +
    "and MQ code the SAME raster to identical decoded pixels") {
    for ((name, w, h, ink) <- rasters) {
      val viaMmr = Jbig2.decode(Jbig2.encode(w, h, ink, mmr = true))
      val viaMq = Jbig2.decode(Jbig2.encode(w, h, ink, tpgdon = true))
      assert(viaMmr.nonEmpty && viaMq.nonEmpty, name)
      assert(px(viaMmr.get) == px(viaMq.get), s"$name: MMR ≠ MQ raster")
    }
  }

  test("random rasters round-trip (64 seeds, both coding classes)") {
    val rng = new SplittableRandom(20260818L)
    for (_ <- 0 until 64) {
      val w = 8 + rng.nextInt(120)
      val h = 8 + rng.nextInt(80)
      val density = rng.nextDouble()
      val seed = rng.nextLong()
      val ink = (x: Int, y: Int) => {
        val m = new SplittableRandom(seed ^ (x * 1469598103934665603L) ^
          (y * 1099511628211L)).nextDouble()
        m < density
      }
      val mq = Jbig2.decode(Jbig2.encode(w, h, ink, tpgdon = true))
      val mmr = Jbig2.decode(Jbig2.encode(w, h, ink, mmr = true))
      assert(mq.nonEmpty && mmr.nonEmpty, s"w=$w h=$h density=$density")
      assert(px(mq.get) == px(mmr.get), s"w=$w h=$h density=$density")
    }
  }

  test("compression is real: the dashed-ink page codes far below raw size " +
    "and TPGDON helps on row-repetitive rasters") {
    val w = 800; val h = 600
    val raw = w * h / 8
    val mq = Jbig2.encode(w, h, PdfParse.ccittInk).length
    val mqTp = Jbig2.encode(w, h, PdfParse.ccittInk, tpgdon = true).length
    assert(mq < raw / 10, s"mq=$mq raw=$raw")
    assert(mqTp < mq, s"tpgdon=$mqTp plain=$mq")
  }

  test("structural garbage, truncation, and out-of-profile segments " +
    "return None (never throw); header fallback stays intact") {
    assert(Jbig2.decode(null).isEmpty)
    assert(Jbig2.decode(Array.emptyByteArray).isEmpty)
    assert(Jbig2.decode(Array.fill[Byte](64)(0x41)).isEmpty)
    val good = Jbig2.encode(48, 30, PdfParse.ccittInk, tpgdon = true)
    // page-info dims still readable by the header walk
    assert(MediaCodec.embeddedImageDims(good).contains((48, 30, "jbig2")))
    // chop inside the region segment's coded data: structural walk fails
    assert(Jbig2.decode(good.take(good.length / 2)).isEmpty)
    // ...but the dims walk stays LENIENT on broken streams: a payload
    // truncated inside the region (above) or even inside the page-info
    // data keeps yielding its page dims, so PdfParse's /Width //Height
    // cross-check can flag a mismatched-but-undecodable payload
    assert(MediaCodec.embeddedImageDims(good.take(good.length / 2))
      .contains((48, 30, "jbig2")))
    assert(MediaCodec.embeddedImageDims(good.take(19)) // 11 hdr + 8 data
      .contains((48, 30, "jbig2")))
    assert(Jbig2.decode(good.take(19)).isEmpty)
    // a symbol-dictionary segment (type 0) is out of profile → None
    val symDict = good.clone()
    symDict(4 + 11 + 19) = 0x00 // second segment header's flags byte
    assert(Jbig2.decode(symDict).isEmpty)
  }

  test("an INTERMEDIATE generic region (type 36) is out of profile: it " +
    "is a refinement buffer, never composited onto the page (T.88 §7.4.6)") {
    val good = Jbig2.encode(48, 30, PdfParse.ccittInk, tpgdon = true)
    val regionFlags = 4 + 11 + 19 // second segment header's flags byte
    assert(good(regionFlags) == 39)
    val intermediate = good.clone()
    intermediate(regionFlags) = 36
    assert(Jbig2.decode(intermediate).isEmpty)
    // the lossy immediate type still composites like the lossless one
    val lossy = good.clone()
    lossy(regionFlags) = 38
    assert(Jbig2.decode(lossy).map(px) == Jbig2.decode(good).map(px))
    // header dims stay readable, so the page keeps its header fallback
    assert(MediaCodec.embeddedImageDims(intermediate)
      .contains((48, 30, "jbig2")))
  }

  test("crafted-stream work bounds: a segment-count bomb and a " +
    "region-area bomb both return None (never a partial page, never " +
    "unbounded decode work)") {
    def be32(v: Int): Array[Byte] = Array(
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def seg(num: Int, segType: Int, data: Array[Byte]): Array[Byte] =
      be32(num) ++ Array(segType.toByte, 0x00.toByte, 1.toByte) ++
        be32(data.length) ++ data
    val full = Jbig2.encode(100, 100, PdfParse.ccittInk, tpgdon = true)
    val pageInfo = full.take(30) // 11-byte header + 19-byte page info
    val eop = full.takeRight(11)
    val region = full.slice(30, full.length - 11)
    // baseline: pageInfo + region + eop decodes
    assert(Jbig2.decode(pageInfo ++ region ++ eop).nonEmpty)
    // 3 copies of the 100x100 region: 30k px <= the 4x-page-area budget
    assert(Jbig2.decode(pageInfo ++ region ++ region ++ region ++ eop)
      .nonEmpty)
    // 5 copies: 50k px > 40k budget -> the whole stream is rejected
    // (a tiny stream may not buy O(segments x 64M) of MQ decode work)
    val bomb = pageInfo ++ region ++ region ++ region ++ region ++
      region ++ eop
    assert(Jbig2.decode(bomb).isEmpty)
    // > 1024 segments: structural rejection, NOT a partially composed
    // page handed back as a successful decode
    val manySegs = pageInfo ++ region ++
      (0 until 1030).map(k => seg(2 + k, 50, be32(0)))
        .reduce(_ ++ _) ++ eop
    assert(Jbig2.decode(manySegs).isEmpty)
  }

  test("end-to-end scanned layout: the /JBIG2Decode payload decodes " +
    "through the pixel probe (closed-form darkRatio), header dims " +
    "cross-check, and S6 never returns the raw segment stream") {
    // 1200%8 == 0 and 1600%10 == 0 → ccittInk dark ratio exactly 0.125
    val bytes = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)), embedJbig2 = true)
    val doc = PdfParse.parse(bytes)
    val img = doc.pages.head.images.head
    assert(img.jbig2 && !img.ccittG4 && img.data.nonEmpty)
    assert(img.pixelWidth == 1200 && img.pixelHeight == 1600)
    assert(MediaCodec.embeddedImageDims(img.data)
      .contains((1200, 1600, "jbig2")))
    val probe = new PdfProbe(ProbeConfig())
    val content = probe.imagePixelContent(doc.pages.head)
    assert(content.length == 1)
    assert(content(0).darkRatio == 0.125, content(0))
    assert(content(0).meanLuminance == 255.0 * 0.875, content(0))
    // S6: raw JBIG2 is not self-contained — render a real container
    val b64 = probe.getPageImageSmart(0, doc.pages.head, PageType.Scanned)
    val out = java.util.Base64.getDecoder.decode(b64)
    assert(!java.util.Arrays.equals(out, img.data))
    assert(MediaCodec.parse(out).kind != "unknown")
    // a payload whose page-info dims DISAGREE with the dict is flagged
    // malformed and its bytes are never carried
    val lied = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)), embedJbig2 = true)
    val doctored = new String(lied, java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/Width 1200", "/Width 1201") // same length: offsets valid
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val badImg = PdfParse.parse(doctored).pages.head.images.head
    assert(badImg.headerMismatch && badImg.data.isEmpty && !badImg.jbig2)
  }
}

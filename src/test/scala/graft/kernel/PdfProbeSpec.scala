package graft.kernel

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** X1–X4 + S6 + golden classification cells mirroring the reference's own
  * test corpus (tests/test_ocr_scenarios.py:13-16,32-41,55-63,84-91):
  * a fully-scanned doc → status "true", pages [1..n]; a native-text doc →
  * "false" at threshold 0.5, "partial" at 0.9, "false" at 0.1; threshold
  * monotonicity. Payloads are deterministic synthetic (FIXTURES.md §3). */
class PdfProbeSpec extends AnyFunSuite {

  private def detect(doc: PdfDoc, threshold: Double): DocExtract = {
    val ex = new Extractor(ProbeConfig(confidenceThreshold = threshold))
    ex.extract(PdfPayload.serialize(doc))
  }

  test("payload codec roundtrip") {
    val doc = Synth.pdfMixed(new SplittableRandom(1), 7)
    val back = PdfPayload.deserialize(PdfPayload.serialize(doc))
    assert(back == doc.copy(pages = doc.pages.map(p =>
      p.copy(images = p.images.map(i => i.copy(data = i.data))))) ||
      back.pages.map(_.textLayer) == doc.pages.map(_.textLayer))
    assert(back.pages.length == doc.pages.length)
    assert(back.pages.zip(doc.pages).forall { case (a, b) =>
      a.width == b.width && a.textLayer == b.textLayer &&
        a.images.length == b.images.length &&
        a.images.zip(b.images).forall { case (x, y) =>
          x.rects == y.rects && java.util.Arrays.equals(x.data, y.data) }
    })
  }

  test("golden cell: scanned-9 → status true, pages [1..9]") {
    val doc = Synth.pdfScanned(new SplittableRandom(7), 9)
    val r = detect(doc, 0.5)
    assert(r.status == "true")
    assert(r.pages == (1 to 9).toVector)
    assert(r.totalPages == 9)
    assert(r.pageResults.forall(_.pageType == PageType.Scanned))
  }

  test("golden cell: text-24 → false @0.5, partial @0.9, false @0.1") {
    val doc = Synth.pdfText(new SplittableRandom(11), 24)
    val at05 = detect(doc, 0.5)
    assert(at05.status == "false", s"pages=${at05.pages} types=${at05.pageResults.map(r => (r.pageType, r.confidence, r.textLength, r.ocrQualityScore))}")
    assert(at05.pages.isEmpty)
    val at09 = detect(doc, 0.9)
    assert(at09.status == "partial", s"pages=${at09.pages.length}/24")
    val at01 = detect(doc, 0.1)
    assert(at01.status == "false")
  }

  test("threshold monotonicity: higher threshold ⇒ superset of pages") {
    val rng = new SplittableRandom(23)
    for (mk <- Seq(Synth.pdfText(rng, 12), Synth.pdfMixed(rng, 9), Synth.pdfScanned(rng, 5))) {
      val p1 = detect(mk, 0.1).pages.toSet
      val p5 = detect(mk, 0.5).pages.toSet
      val p9 = detect(mk, 0.9).pages.toSet
      assert(p1.subsetOf(p5) && p5.subsetOf(p9))
    }
  }

  test("pages are ascending 1-indexed") {
    val r = detect(Synth.pdfMixed(new SplittableRandom(3), 9), 0.5)
    assert(r.pages == r.pages.sorted)
    assert(r.pages.forall(p => p >= 1 && p <= 9))
  }

  test("X1: performance mode reads fitz only, accuracy mode the longer layer") {
    val page = PdfPage(612, 792, " short ", Some(" a much longer alternate text layer here "), Vector.empty)
    assert(new PdfProbe(ProbeConfig()).extractText(page) == (("short", "fitz"))) // fast mode = fitz only
    val auto = new PdfProbe(ProbeConfig(accuracyMode = true)) // auto: pick longer
    assert(auto.extractText(page) == (("a much longer alternate text layer here", "pdfplumber")))
    val longFitz = page.copy(textLayer = "fitz text that is definitely above the twenty char low-yield bar")
    assert(auto.extractText(longFitz)._2 == "fitz")
  }

  test("X1 on REAL bytes: 'fitz' yields <20 chars on Form-XObject text, " +
    "'auto' recovers it via the geometric second reader " +
    "(_detector.py:277-287)") {
    // page content stream only INVOKES the form; all text lives inside the
    // Form XObject — the classic construct where real readers disagree
    val formText = "The court heard the appeal and granted the petition in this case."
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /XObject << /Fm0 5 0 R >> >> >>\nendobj\n" +
      "4 0 obj\n<< /Length 11 >>\nstream\nq /Fm0 Do Q\nendstream\nendobj\n" +
      "5 0 obj\n<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
      s"/Length ${("BT 72 720 Td (" + formText + ") Tj ET").length} >>\nstream\n" +
      s"BT 72 720 Td ($formText) Tj ET\nendstream\nendobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")

    val doc = PdfParse.parse(pdf, needAlt = true)
    assert(doc.pages.length == 1)
    assert(doc.pages(0).textLayer.length < 20, // cursor reader sees no text
      s"fitz view must be low-yield, got '${doc.pages(0).textLayer}'")
    assert(doc.pages(0).altTextLayer.exists(_.contains(formText)))

    val fitz = new PdfProbe(ProbeConfig()).extractText(doc.pages(0))
    assert(fitz._1.length < 20 && fitz._2 == "fitz")
    val auto = new PdfProbe(ProbeConfig(accuracyMode = true)).extractText(doc.pages(0))
    assert(auto == ((formText, "pdfplumber")),
      s"auto must rescue the page via the second reader, got $auto")

    // end-to-end: accuracy mode classifies by the RESCUED text
    val exFast = new Extractor(ProbeConfig()).extract(pdf)
    val exAcc = new Extractor(ProbeConfig(accuracyMode = true)).extract(pdf)
    assert(!exFast.extractedText.contains("court"))
    assert(exAcc.extractedText.contains("court heard the appeal"))
  }

  test("X2 background detection: coverage>0.8 or near-page dims") {
    val probe = new PdfProbe(ProbeConfig())
    val full = PdfImage(1000, 1000, Vector(PdfRect(0, 0, 612, 792)), Array.empty)
    val small = PdfImage(100, 100, Vector(PdfRect(0, 0, 100, 100)), Array.empty)
    val ia = probe.analyzeImages(PdfPage(612, 792, "", None, Vector(full, small)))
    assert(ia.contentImageCount == 1)
    assert(ia.backgroundArea == 612.0 * 792.0)
    assert(ia.meaningfulImageArea == 100.0 * 100.0)
    assert(ia.backgroundCoverageRatio == 1.0)
  }

  test("S6 smart image reuse: embedded image with >0.6 coverage and >200px dims") {
    val data = "JPEGDATA".getBytes("US-ASCII")
    val img = PdfImage(1700, 2200, Vector(PdfRect(0, 0, 612, 700)), data)
    val page = PdfPage(612, 792, "", None, Vector(img))
    val probe = new PdfProbe(ProbeConfig(includeImages = true))
    val b64 = probe.getPageImageSmart(0, page, PageType.Scanned)
    assert(b64 == java.util.Base64.getEncoder.encodeToString(data))
    // small pixel dims → real page render instead (a decodable PNG whose
    // dims are the page geometry at imageDpi; reference tests assert the
    // base64 PNG prefix, test_base64_images.py:85)
    val smallImg = img.copy(pixelWidth = 150)
    val b64r = probe.getPageImageSmart(0, page.copy(images = Vector(smallImg)), PageType.Scanned)
    assert(b64r.startsWith("iVBOR")) // base64 of the PNG magic
    val m = MediaCodec.parse(java.util.Base64.getDecoder.decode(b64r))
    assert(m.kind == "image/png")
    assert(m.width == math.round(612 * 72 / 72.0).toInt && m.height == 792)
    // text pages always render
    val b64t = probe.getPageImageSmart(0, page, PageType.Text)
    assert(b64t.startsWith("iVBOR"))
  }

  test("S5 render: real containers, dpi scaling, size monotonicity, jpeg") {
    val page = PdfPage(612, 792, "", None, Vector.empty)
    def renderAt(dpi: Int, fmt: String): Array[Byte] = {
      val p = new PdfProbe(ProbeConfig(includeImages = true,
        imageFormat = fmt, imageDpi = dpi))
      java.util.Base64.getDecoder.decode(p.getPageImageSmart(0, page, PageType.Text))
    }
    val png72 = renderAt(72, "png")
    val png200 = renderAt(200, "png")
    val m72 = MediaCodec.parse(png72)
    val m200 = MediaCodec.parse(png200)
    assert(m72.kind == "image/png" && m72.width == 612 && m72.height == 792)
    assert(m200.width == math.round(612 * 200 / 72.0).toInt)
    // dpi-size monotonicity (test_base64_images.py:158-164 analog)
    assert(png200.length > png72.length)
    // jpeg: real SOI + SOF0 dims, '/9j/' base64 prefix, monotonic too
    val j96 = renderAt(96, "jpeg")
    val j200 = renderAt(200, "jpeg")
    assert(java.util.Base64.getEncoder.encodeToString(j96).startsWith("/9j/"))
    val mj = MediaCodec.parse(j96)
    assert(mj.kind == "image/jpeg")
    assert(mj.width == math.round(612 * 96 / 72.0).toInt)
    assert(j200.length > j96.length)
  }

  test("page_images only for OCR-needed pages when includeImages (simple.py:101-103)") {
    val doc = Synth.pdfScanned(new SplittableRandom(5), 6)
    val ex = new Extractor(ProbeConfig(includeImages = true))
    val r = ex.extract(PdfPayload.serialize(doc))
    assert(r.pageImages.keySet == r.pages.toSet)
    val exOff = new Extractor(ProbeConfig(includeImages = false))
    assert(exOff.extract(PdfPayload.serialize(doc)).pageImages.isEmpty)
  }

  test("X3 work budget → conservative EMPTY/0.1 timeout row") {
    val big = PdfPage(612, 792, "x" * 100, None, Vector.empty)
    val probe = new PdfProbe(ProbeConfig(maxTextChars = 50))
    val r = probe.analyzePage(0, big, includeImage = false)
    assert(r.pageType == PageType.Empty && r.confidence == 0.1)
    assert(r.error.contains("Analysis timed out"))
    assert(r.qualityForNeedsOcr == 1.0) // no text_quality block on error rows
  }

  test("X4 corrupt payload → error doc, never an exception") {
    val ex = new Extractor(ProbeConfig())
    val good = PdfPayload.serialize(Synth.pdfScanned(new SplittableRandom(1), 3))
    val truncated = good.take(good.length / 2)
    val r = ex.extract(truncated)
    assert(r.docKind == "error")
    assert(r.status == "true") // conservative: error docs need OCR
    assert(r.error.isDefined)
    assert(ex.extract(null).docKind == "error")
    assert(ex.extract(Array.empty[Byte]).docKind == "error")
  }

  test("C4 adaptive escalation: low fast confidence triggers full analysis") {
    // 300 chars, no images → fast path lands in the uncertain 0.5 branch →
    // escalates to full analysis which yields TEXT with a quality block.
    val prose = Synth.wrappedProse(new SplittableRandom(9), 8).take(300)
    val page = PdfPage(612, 792, prose, None, Vector.empty)
    val probe = new PdfProbe(ProbeConfig())
    val r = probe.analyzePage(0, page, includeImage = false)
    assert(r.analysisMode == "full")
    assert(r.hasTextQuality)
    // >500 chars → fast TEXT 0.8 accepted without quality block
    val longProse = Synth.wrappedProse(new SplittableRandom(9), 30)
    val r2 = probe.analyzePage(0, page.copy(textLayer = longProse), includeImage = false)
    assert(r2.analysisMode == "fast" && !r2.hasTextQuality && r2.confidence == 0.8)
  }

  test("embedded-image header cross-check: a DCT payload whose JPEG SOF " +
    "disagrees with /Width /Height is flagged, its bytes are never " +
    "reused, and the page row carries the error detail") {
    import java.nio.charset.StandardCharsets
    val content = "BT ET"
    def imgPdf(w: Int, h: Int, payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def wr(str: String): Unit =
        bos.write(str.getBytes(StandardCharsets.ISO_8859_1))
      wr("%PDF-1.4\n")
      wr("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      wr("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      wr("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /XObject << /Im0 5 0 R >> >> " +
        ">>\nendobj\n")
      wr(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n" +
        content + "\nendstream\nendobj\n")
      wr(s"5 0 obj\n<< /Type /XObject /Subtype /Image /Width $w " +
        s"/Height $h /ColorSpace /DeviceGray /BitsPerComponent 8 " +
        s"/Filter /DCTDecode /Length ${payload.length} >>\nstream\n")
      bos.write(payload)
      wr("\nendstream\nendobj\n%%EOF\n")
      bos.toByteArray
    }
    // consistent: payload header agrees with the dict → bytes reusable
    val ok = PdfParse.parse(imgPdf(1700, 2200, MediaCodec.encodeJpeg(1700, 2200)))
    assert(!ok.pages(0).images(0).headerMismatch)
    assert(ok.pages(0).images(0).data.nonEmpty)
    // malformed: dict claims 1700x2200, payload says 300x200
    val bad = PdfParse.parse(imgPdf(1700, 2200, MediaCodec.encodeJpeg(300, 200)))
    assert(bad.pages(0).images(0).headerMismatch)
    assert(bad.pages(0).images(0).data.isEmpty,
      "mismatched payload bytes must never be reused")
    val probe = new PdfProbe(ProbeConfig())
    val okPa = probe.analyzePage(0, ok.pages(0), includeImage = false)
    val badPa = probe.analyzePage(0, bad.pages(0), includeImage = false)
    assert(badPa.error.exists(_.contains("header mismatch")), badPa.error)
    // classification itself is unchanged (geometry decisions use dict
    // dims, like the reference): only the detail differs
    assert(badPa.copy(error = None) == okPa.copy(error = None))
    assert(okPa.error.isEmpty)
  }

  test("image PIXEL content (additive): the embedded DCT payload DECODES " +
    "and its luminance statistics surface per page; classification and " +
    "X2 stay dict-geometry-exact") {
    // real scanned-layout PDF carrying a decodable embedded JPEG
    val bytes = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)), embedJpeg = true)
    val doc = PdfParse.parse(bytes)
    val probe = new PdfProbe(ProbeConfig())
    val px = probe.imagePixelContent(doc.pages.head)
    assert(px.length == 1)
    assert(px(0).width == 1200 && px(0).height == 1600)
    // renderJpeg's blank raster: every pixel 208 → mean exact, no ink
    assert(px(0).meanLuminance == 208.0 && px(0).darkRatio == 0.0, px(0))
    // a page without decodable payloads (structured GFTPDF1 images carry
    // no bytes) yields no entries — and never throws
    val structured = Synth.pdfScanned(new java.util.SplittableRandom(3), 2)
    assert(probe.imagePixelContent(
      PdfPayload.deserialize(PdfPayload.serialize(structured)).pages.head)
      .isEmpty)
    // public API end-to-end over the raw payload
    val api = new graft.api.OcrDetection()
    val all = api.imagePixelContent(bytes)
    assert(all.length == doc.pages.length && all.head.length == 1)
    assert(all.head.head.meanLuminance == 208.0)
    assert(api.imagePixelContent("<html>no pdf</html>".getBytes).isEmpty)
  }

  test("CCITT G4 scanned layout: the /K -1 CCITTFaxDecode payload decodes " +
    "with the dict dims (closed-form darkRatio), and S6 never returns the " +
    "raw bitstream as an image") {
    // 1200%8 == 0 and 1600%10 == 0 → ccittInk dark ratio exactly 0.125
    val bytes = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)), embedCcitt = true)
    val doc = PdfParse.parse(bytes)
    val img = doc.pages.head.images.head
    assert(img.ccittG4 && img.data.nonEmpty)
    assert(img.pixelWidth == 1200 && img.pixelHeight == 1600)
    val probe = new PdfProbe(ProbeConfig())
    val px = probe.imagePixelContent(doc.pages.head)
    assert(px.length == 1)
    assert(px(0).darkRatio == 0.125, px(0))
    assert(px(0).meanLuminance == 255.0 * 0.875, px(0))
    // S6: the best image IS this one (full coverage, > 200x200) but raw
    // G4 is not self-contained — the page must fall through to a REAL
    // rendered container instead of returning the bitstream verbatim
    val b64 = probe.getPageImageSmart(0, doc.pages.head, PageType.Scanned)
    val out = java.util.Base64.getDecoder.decode(b64)
    assert(!java.util.Arrays.equals(out, img.data))
    assert(MediaCodec.parse(out).kind != "unknown") // a decodable container
    // G3 (/K 0 or absent) payloads are NOT carried: flag and data empty
    val g3 = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)), embedCcitt = true)
    val g3doc = PdfParse.parse(
      new String(g3, java.nio.charset.StandardCharsets.ISO_8859_1)
        .replace("/K -1 ", "/K 0  ") // same byte length: offsets stay valid
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val g3img = g3doc.pages.head.images.head
    assert(!g3img.ccittG4 && g3img.data.isEmpty)
  }
}

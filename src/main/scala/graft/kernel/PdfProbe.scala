package graft.kernel

import java.util.Base64
import java.nio.charset.StandardCharsets

/** Per-page analysis result — mirrors `AnalysisResult` (_detector.py:28-40)
  * with the details dict flattened to the fields the pipeline consumes.
  *
  * @param pageNumber   0-based internally, like the reference
  *                     (_detector.py:342-347); 1-based only at the doc API.
  * @param hasTextQuality whether a text_quality block exists in details —
  *   the fast path (_detector.py:489-498) and error rows (:650-662) carry
  *   none, which makes `_page_needs_ocr`'s dict-default read 1.0
  *   (simple.py:139-140). Byte-identity requires modeling that absence.
  */
final case class PageAnalysis(
    pageNumber: Int,
    pageType: String,
    confidence: Double,
    textRatio: Double,
    imageRatio: Double,
    textLength: Int,
    imageCount: Int,
    extractedText: String,
    extractionMethod: String,
    preview: String,
    ocrQualityScore: Double,
    textDensity: Double,
    formattingConsistency: Double,
    hasTextQuality: Boolean,
    analysisMode: String,
    pageImage: Option[String],
    error: Option[String]) {

  /** Quality value as `_page_needs_ocr` sees it (simple.py:139-140). */
  def qualityForNeedsOcr: Double = if (hasTextQuality) ocrQualityScore else 1.0
}

/** Image-layer analysis (X2, _detector.py:732-803). */
final case class ImageAnalysis(
    totalArea: Double,
    backgroundArea: Double,
    meaningfulImageArea: Double,
    contentImageCount: Int,
    backgroundCoverageRatio: Double)

/** DECODED pixel content of one embedded image (additive beyond the
  * reference, which reads dict geometry only — _detector.py:732-803):
  * luminance statistics from a real baseline-JPEG decode of the payload.
  * `darkRatio` = fraction of pixels with luminance < 160; a genuine
  * scanned page is a light background with dark ink (mean high, dark
  * ratio small-but-nonzero), while an all-black or all-white payload is
  * a scan-pipeline failure the dict dims can't reveal. */
final case class ImagePixelContent(
    width: Int,
    height: Int,
    meanLuminance: Double,
    darkRatio: Double)

/** Probe configuration — the reference's constructor parameters
  * (simple.py:21-40, _detector.py:46-68) as a job config case class.
  *
  * @param maxTextChars bounded-work budget replacing the 30 s SIGALRM page
  *   timeout (X3, _detector.py:298-334): executors can't use signals, so the
  *   kernel bounds work by input size; on budget exhaustion it emits the same
  *   conservative EMPTY/0.1 error row. Non-pathological inputs are far below
  *   the budget, so output is unchanged for them.
  */
final case class ProbeConfig(
    confidenceThreshold: Double = 0.5,
    accuracyMode: Boolean = false,
    includeImages: Boolean = false,
    imageFormat: String = "png",
    imageDpi: Int = 72,
    maxTextChars: Int = 2000000) {
  /** fast defaults vs accuracy mode (_detector.py:59-68) */
  def performanceMode: Boolean = !accuracyMode
}

/** X1–X4 — the embedded-text-layer / image-layer probe over PDF-like
  * payloads, plus the per-page analysis lifecycle (fast path + adaptive
  * escalation, C3/C4) re-derived from `PDFAnalyzer`
  * (_detector.py:250-546). Pure Scala; one instance per partition.
  */
final class PdfProbe(cfg: ProbeConfig) {

  /** X1 — `_extract_text_optimized` (_detector.py:250-296) under the two
    * strategies the reference's modes select (_detector.py:59-68):
    * performance mode reads the primary ("fitz") layer only; accuracy mode
    * ("auto") keeps the longer of the primary and the geometric
    * ("pdfplumber") layer, the geometric one on a tie. */
  def extractText(page: PdfPage): (String, String) = {
    // length comparisons are CPython len() = CODE POINTS (the reference
    // compares len(text) at _detector.py:277-296); UTF-16 .length would
    // double-count astral chars and flip strategy decisions
    val f = Py.strip(page.textLayer)
    if (cfg.performanceMode) (f, "fitz")
    else {
      val p = Py.strip(page.altTextLayer.getOrElse(""))
      if (Py.len(f) > Py.len(p)) (f, "fitz") else (p, "pdfplumber")
    }
  }

  /** X2 — `_analyze_images` (_detector.py:732-803): per placement rect,
    * area + coverage; background when coverage > 0.8 or both dims > 90% of
    * the page; meaningful = total − background. */
  def analyzeImages(page: PdfPage): ImageAnalysis = {
    val pageArea = page.width * page.height
    var totalArea = 0.0
    var backgroundArea = 0.0
    var contentImages = 0
    page.images.foreach { img =>
      img.rects.foreach { rect =>
        val area = rect.area
        totalArea += area
        val coverage = if (pageArea > 0) area / pageArea else 0.0
        val isBackground = coverage > 0.8 ||
          (rect.width > page.width * 0.9 && rect.height > page.height * 0.9)
        if (isBackground) backgroundArea += area
        else contentImages += 1
      }
    }
    ImageAnalysis(
      totalArea,
      backgroundArea,
      totalArea - backgroundArea,
      contentImages,
      if (pageArea > 0) backgroundArea / pageArea else 0.0)
  }

  /** Full analysis — `_analyze_page_core` (_detector.py:336-423). */
  def analyzePageCore(pageNum: Int, page: PdfPage, includeImage: Boolean): PageAnalysis = {
    val (extractedText, method) = extractText(page)
    val textLength = Py.len(extractedText) // CPython len(): code points
    val pageArea = page.width * page.height

    val imageInfo = analyzeImages(page)
    val textRatio = Classifier.textRatio(textLength, pageArea)
    val imageRatio = if (pageArea > 0) imageInfo.meaningfulImageArea / pageArea else 0.0
    val backgroundRatio = imageInfo.backgroundCoverageRatio

    val metrics = TextQuality.analyzeForPipeline(extractedText)
    val (pageType, confidence) = Classifier.classifyEnhanced(
      textRatio, imageRatio, textLength, imageInfo.contentImageCount,
      metrics, backgroundRatio)

    val preview = // P3 (_detector.py:391-393)
      if (Py.len(extractedText) > 200) Py.sliceCp(extractedText, 200) + "..."
      else extractedText

    val pageImage =
      if (includeImage) Some(getPageImageSmart(pageNum, page, pageType))
      else None

    PageAnalysis(pageNum, pageType, confidence, textRatio, imageRatio,
      textLength, imageInfo.contentImageCount, extractedText, method, preview,
      metrics.ocrQualityScore, metrics.textDensity,
      metrics.formattingConsistency, hasTextQuality = true,
      analysisMode = "full", pageImage, error = None)
  }

  /** Fast analysis — `analyze_page_fast` (_detector.py:425-510). */
  def analyzePageFast(pageNum: Int, page: PdfPage): PageAnalysis = {
    val extractedText = Py.strip(page.textLayer)
    val textLength = Py.len(extractedText) // CPython len(): code points
    val pageArea = page.width * page.height
    val imageCount = page.images.length
    val (estTextRatio, estImageRatio) =
      Classifier.fastEstimates(textLength, pageArea, imageCount)
    val (pageType, confidence) =
      Classifier.classifyFast(textLength, imageCount, estTextRatio, estImageRatio)

    val preview = // fast preview truncates at 100 CODE POINTS like
      // CPython's text[:100] (_detector.py:491-493) — UTF-16 substring
      // would cut astral chars mid-surrogate-pair
      if (textLength > 100) Py.sliceCp(extractedText, 100) + "..."
      else extractedText

    PageAnalysis(pageNum, pageType, confidence, estTextRatio, estImageRatio,
      textLength, imageCount, extractedText, "fitz_fast", preview,
      0.0, 0.0, 0.0, hasTextQuality = false,
      analysisMode = "fast", pageImage = None, error = None)
  }

  /** C4 — adaptive escalation (`analyze_page`, _detector.py:512-546):
    * fast result accepted at confidence ≥ 0.8, else full analysis; X3 work
    * budget and X4 error fallback wrap the whole page. */
  def analyzePage(pageNum: Int, page: PdfPage, includeImage: Boolean): PageAnalysis = {
    try {
      if (page.textLayer.length > cfg.maxTextChars ||
          page.altTextLayer.exists(_.length > cfg.maxTextChars))
        return budgetExceededResult(pageNum)

      val pa =
        if (cfg.performanceMode) {
          val fast = analyzePageFast(pageNum, page)
          if (fast.confidence >= 0.8) {
            if (includeImage)
              fast.copy(pageImage = Some(getPageImageSmart(pageNum, page, fast.pageType)))
            else fast
          } else analyzePageCore(pageNum, page, includeImage)
        } else analyzePageCore(pageNum, page, includeImage)
      withImageMismatchDetail(page, pa)
    } catch {
      case e: Exception => errorResult(pageNum, s"Analysis failed: ${e.getMessage}")
    }
  }

  /** Attach the malformed-scanned-PDF error DETAIL (XObject dict dims vs
    * the payload's own header, flagged at parse time) without touching
    * classification — geometry decisions use dict dims like the reference
    * (_detector.py:732-803), but the row now NAMES the inconsistency
    * before anything downstream trusts the payload. */
  private def withImageMismatchDetail(
      page: PdfPage, pa: PageAnalysis): PageAnalysis =
    if (pa.error.isEmpty && page.images.exists(_.headerMismatch))
      pa.copy(error = Some("embedded image header mismatch: " +
        "payload dimensions disagree with /Width /Height"))
    else pa

  /** All pages in document order; order is restored by construction (the
    * reference re-sorts after unordered thread harvest, _detector.py:622 —
    * here a page never leaves its document row). */
  def analyzeDoc(doc: PdfDoc): Vector[PageAnalysis] =
    doc.pages.zipWithIndex.map { case (p, i) =>
      analyzePage(i, p, cfg.includeImages)
    }

  /** S6 — `_get_page_image_smart` (_detector.py:117-182): for SCANNED/EMPTY
    * pages reuse the embedded image with coverage > 0.6 (argmax, T2) and
    * pixel dims > 200×200; else render the page (S5). */
  def getPageImageSmart(pageNum: Int, page: PdfPage, pageType: String): String = {
    if (pageType == PageType.Scanned || pageType == PageType.Empty) {
      val pageArea = page.width * page.height
      var bestCoverage = 0.0
      var best: Option[PdfImage] = None
      page.images.foreach { img =>
        if (img.rects.nonEmpty) {
          val totalRectArea = img.rects.map(_.area).sum
          val coverage = if (pageArea > 0) totalRectArea / pageArea else 0.0
          if (coverage > 0.6 && coverage > bestCoverage) {
            bestCoverage = coverage
            best = Some(img)
          }
        }
      }
      best match {
        // raw CCITT G4 bitstreams and JBIG2 segment streams are excluded:
        // without their TIFF/PDF wrapper they are not a self-contained
        // image a downstream OCR engine can open, so such pages render
        // via S5 instead
        case Some(img) if img.data.nonEmpty && !img.ccittG4 && !img.jbig2 &&
            img.pixelWidth > 200 && img.pixelHeight > 200 =>
          return Base64.getEncoder.encodeToString(img.data)
        case _ => // fall through to render
      }
    }
    renderPage(page)
  }

  /** Pixel-content probe over a page's embedded images (ADDITIVE — the
    * reference-parity classification path never reads it, X2 stays
    * dict-geometry-exact): each DCT payload that baseline-decodes yields
    * its luminance statistics; undecodable/absent payloads are skipped.
    * One entry per decodable embedded image, page order preserved. */
  def imagePixelContent(page: PdfPage): Vector[ImagePixelContent] =
    page.images.flatMap { img =>
      if (img.data.isEmpty) None
      else {
        // G4 bitstreams carry no dimensions — the XObject dict's are
        // authoritative (and the only possible) decode geometry
        if (img.ccittG4)
          CcittG4.decode(img.data, img.pixelWidth, img.pixelHeight)
        else MediaCodec.decodeImage(img.data)
      }.map { d =>
        var sum = 0L
        var dark = 0
        var i = 0
        while (i < d.pixels.length) {
          val p = d.pixels(i)
          sum += p
          if (p < 160) dark += 1
          i += 1
        }
        val n = math.max(1, d.pixels.length)
        ImagePixelContent(d.width, d.height, sum.toDouble / n,
          dark.toDouble / n)
      }
    }

  /** S5 — `_render_page_to_base64` (_detector.py:88-115): rasterize the
    * page at `imageDpi` into a REAL container (complete decodable PNG with
    * IDAT scanlines, or a real baseline JPEG) whose pixel dims are the
    * page geometry scaled by dpi/72 — matching the pixmap contract. The
    * page's text layer is drawn as 5×7-bitmap-font glyph INK at dpi scale,
    * so the raster is non-uniform, ink coverage tracks text_length, and
    * the payload is consumable by a downstream OCR engine. When the
    * geometric pass ran (real PDFs in accuracy mode), glyphs are placed
    * Td/Tm-EXACTLY from the content stream's positioned runs
    * (MediaCodec.drawRuns) — a two-column page renders as two ink columns;
    * otherwise (structured payloads / performance mode) the line-grid
    * fallback (MediaCodec.drawText) applies. */
  private def renderPage(page: PdfPage): String = {
    val scale = cfg.imageDpi / 72.0
    val w = math.max(1, math.round(page.width * scale).toInt)
    val h = math.max(1, math.round(page.height * scale).toInt)
    val runs = page.posRuns.take(4000) // bounded like the 20k-char cap
    // bounded: glyphs beyond the page clip anyway, so cap what we split;
    // skipped entirely when positioned runs drive the ink
    val lines: Seq[String] =
      if (runs.nonEmpty || page.textLayer.isEmpty) Seq.empty
      else page.textLayer.substring(0,
        math.min(page.textLayer.length, 20000)).split("\n", -1).toSeq
    val bytes =
      if (cfg.imageFormat.equalsIgnoreCase("jpeg") ||
        cfg.imageFormat.equalsIgnoreCase("jpg"))
        MediaCodec.renderJpeg(w, h, lines, scale, runs)
      else MediaCodec.renderPng(w, h, lines, scale, runs)
    Base64.getEncoder.encodeToString(bytes)
  }

  /** X3 — budget-exhaustion result, mirroring the timeout row
    * (_detector.py:316-329). */
  private def budgetExceededResult(pageNum: Int): PageAnalysis =
    PageAnalysis(pageNum, PageType.Empty, 0.1, 0.0, 0.0, 0, 0, "", "none", "",
      0.0, 0.0, 0.0, hasTextQuality = false, analysisMode = "timeout",
      pageImage = None, error = Some("Analysis timed out"))

  /** X4 — error-row fallback (_detector.py:650-662). */
  def errorResult(pageNum: Int, msg: String): PageAnalysis =
    PageAnalysis(pageNum, PageType.Empty, 0.1, 0.0, 0.0, 0, 0, "", "none", "",
      0.0, 0.0, 0.0, hasTextQuality = false, analysisMode = "error",
      pageImage = None, error = Some(msg))
}

package graft.kernel

import java.nio.charset.StandardCharsets

/** Kernel-level result for one document (one row of the Page table). */
final case class DocExtract(
    docKind: String, // "html" | "pdf" | "error"
    status: String, // A2: "true" | "false" | "partial" (simple.py:106-111)
    pages: Vector[Int], // 1-indexed pages needing OCR, ascending (simple.py:92-99)
    totalPages: Int,
    extractedText: String,
    spans: Vector[Span],
    title: String,
    pageResults: Vector[PageAnalysis],
    pageImages: Map[Int, String], // only OCR-needed pages (simple.py:101-103)
    error: Option[String])

/** The per-row kernel: payload sniff → PDF probe or HTML boilerplate strip →
  * per-page OCR-need predicate → doc-level status. This is the function that
  * runs inside `mapPartitions` — one `Extractor` instance per partition
  * (fresh kernel state per task, the Spark analog of the reference's
  * per-thread analyzer re-instantiation, _detector.py:625-664).
  *
  * Span semantics: for html docs, spans are char offsets into the decoded
  * source html (each span covers one content block); for pdf docs, spans are
  * char offsets into `extractedText` (one span per page's text). `docKind`
  * discriminates.
  */
final class Extractor(cfg: ProbeConfig) {

  private val probe = new PdfProbe(cfg)

  def extract(htmlBytes: Array[Byte]): DocExtract = {
    if (htmlBytes == null || htmlBytes.isEmpty)
      return errorDoc("empty payload")
    try {
      // S1 dual-path payload sniff: REAL %PDF-1.x bytes parse through the
      // genuine-PDF probe (PdfParse: object scan, Flate streams, Tj/TJ);
      // GFTPDF1 structured payloads keep exercising the same decision
      // functions; everything else is html. The second reader's geometric
      // view (altTextLayer) is only computed in accuracy mode, the one
      // strategy that consults it — the performance-mode hot path pays nothing.
      if (PdfParse.isRealPdf(htmlBytes))
        extractPdf(PdfParse.parse(htmlBytes, needAlt = cfg.accuracyMode))
      else if (PdfPayload.isPdf(htmlBytes)) extractPdf(PdfPayload.deserialize(htmlBytes))
      else extractHtml(htmlBytes)
    } catch {
      case e: Exception => errorDoc(s"extraction failed: ${e.getMessage}")
    }
  }

  // ------------------------------------------------------------------ pdf

  private def extractPdf(doc: PdfDoc): DocExtract = {
    val results = probe.analyzeDoc(doc)
    val totalPages = results.length

    val needing = results.filter { r =>
      NeedsOcr(r.pageType, r.textLength, r.confidence, r.qualityForNeedsOcr,
        cfg.confidenceThreshold)
    }
    val pages = needing.map(_.pageNumber + 1) // 1-indexed (simple.py:97-99)
    val pageImages: Map[Int, String] =
      if (cfg.includeImages)
        needing.flatMap(r => r.pageImage.map(img => (r.pageNumber + 1) -> img)).toMap
      else Map.empty

    // doc text = page texts joined with '\n'; spans locate each page's text
    // within the joined doc text.
    val texts = results.map(_.extractedText)
    val sb = new StringBuilder
    val spans = Vector.newBuilder[Span]
    texts.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append('\n')
      val start = sb.length
      sb.append(t)
      spans += Span(start, sb.length)
    }

    DocExtract("pdf", NeedsOcr.docStatus(pages.length, totalPages), pages,
      totalPages, sb.toString, spans.result(), title = "", results, pageImages,
      error = None)
  }

  // ----------------------------------------------------------------- html

  private def extractHtml(bytes: Array[Byte]): DocExtract = {
    if (bytes.length > cfg.maxTextChars * 4L)
      return errorDoc("Analysis timed out") // X3 analog: bounded work

    val html = new String(bytes, StandardCharsets.UTF_8)
    val ex = Html.extract(html)
    val text = ex.text
    val textLength = Py.len(text) // CPython len(): code points

    // The html payload is one pseudo-page classified with the same two-tier
    // scheme the reference applies to PDF pages (C4, _detector.py:512-546):
    // in performance mode a cheap C3 pass runs first on the extracted text
    // (nominal letter-page geometry for the ratio estimates) and is accepted
    // at confidence ≥ 0.8 — no text-quality scoring; otherwise the full C1
    // with metrics. Geometry-free: image_ratio 0.0; <img> count plays the
    // content-image role (image-only page detection per the north star).
    val nominalArea = 612.0 * 792.0
    val (estTr, estIr) = Classifier.fastEstimates(textLength, nominalArea, ex.imageCount)
    val fastResult =
      if (cfg.performanceMode) Some(Classifier.classifyFast(textLength, ex.imageCount, estTr, estIr))
      else None

    val preview = // text[:200] slices code points in CPython
      if (Py.len(text) > 200) Py.sliceCp(text, 200) + "..." else text

    val pa = fastResult match {
      case Some((fastType, fastConf)) if fastConf >= 0.8 =>
        PageAnalysis(0, fastType, fastConf, estTr, estIr, textLength,
          ex.imageCount, text, "html", preview, 0.0, 0.0, 0.0,
          hasTextQuality = false, analysisMode = "html_fast", pageImage = None,
          error = None)
      case _ =>
        val metrics = TextQuality.analyzeForPipeline(text)
        val (pageType, confidence) = Classifier.classifyEnhanced(
          0.0, 0.0, textLength, ex.imageCount, metrics, 0.0)
        PageAnalysis(0, pageType, confidence, 0.0, 0.0, textLength,
          ex.imageCount, text, "html", preview, metrics.ocrQualityScore,
          metrics.textDensity, metrics.formattingConsistency,
          hasTextQuality = true, analysisMode = "html", pageImage = None,
          error = None)
    }

    val needs = NeedsOcr(pa.pageType, textLength, pa.confidence,
      pa.qualityForNeedsOcr, cfg.confidenceThreshold)
    val pages = if (needs) Vector(1) else Vector.empty[Int]

    DocExtract("html", NeedsOcr.docStatus(pages.length, 1), pages, 1,
      text, ex.spans, ex.title, Vector(pa), Map.empty, error = None)
  }

  // ---------------------------------------------------------------- errors

  /** X4 analog at doc level: corrupt/missing payload → conservative
    * needs-OCR error row, never a task failure (_detector.py:650-662). */
  private def errorDoc(msg: String): DocExtract = {
    val pa = probe.errorResult(0, msg)
    DocExtract("error", OcrStatus.True, Vector(1), 1, "", Vector.empty,
      title = "", Vector(pa), Map.empty, error = Some(msg))
  }
}

package graft.api

import java.util.SplittableRandom

import graft.kernel.{DocSummary, PageType, Synth}
import org.scalatest.funsuite.AnyFunSuite

/** Public-API parity tests mirroring the reference's own integration suite
  * (tests/test_integration.py, tests/test_ocr_scenarios.py,
  * tests/test_base64_images.py) at the payload level. */
class ApiSpec extends AnyFunSuite {

  private def scanned9 = OcrDetection.payloadOf(Synth.pdfScanned(new SplittableRandom(7), 9))
  private def text24 = OcrDetection.payloadOf(Synth.pdfText(new SplittableRandom(11), 24))

  test("detect_ocr golden: scanned doc → true, [1..9] (test_ocr_scenarios.py:32-41)") {
    val r = OcrDetection.detectOcr(scanned9)
    assert(r.status == "true")
    assert(r.pages == (1 to 9).toList)
  }

  test("detect_ocr golden: text doc → false @0.5, partial @0.9, false @0.1 (:55-63,84-91)") {
    assert(OcrDetection.detectOcr(text24, confidenceThreshold = 0.5).status == "false")
    assert(OcrDetection.detectOcr(text24, confidenceThreshold = 0.9).status == "partial")
    assert(OcrDetection.detectOcr(text24, confidenceThreshold = 0.1).status == "false")
  }

  test("structural invariants (test_integration.py:16-75)") {
    for (p <- Seq(scanned9, text24)) {
      val r = OcrDetection.detectOcr(p)
      assert(Set("true", "false", "partial").contains(r.status))
      assert(r.pages.forall(_ >= 1))
      assert(r.pages == r.pages.sorted)
    }
  }

  test("image contract: page_images keys == pages exactly (test_base64_images.py:38-40)") {
    val withImages = OcrDetection.detectOcr(scanned9, includeImages = true)
    assert(withImages.pageImages.keySet == withImages.pages.toSet)
    withImages.pageImages.values.foreach(v => assert(v.nonEmpty))
    // include_images=False ⇒ absent (:51-66)
    val without = OcrDetection.detectOcr(scanned9, includeImages = false)
    assert(without.pageImages.isEmpty)
  }

  test("expert API: analyze_all_pages + get_summary") {
    val det = new OcrDetection()
    val rs = det.analyzeAllPages(scanned9)
    assert(rs.length == 9)
    assert(rs.forall(_.pageType == PageType.Scanned))
    val s = det.summary(rs)
    assert(s.totalPages == 9)
    assert(s.typeCounts == Map(PageType.Scanned -> 9))
    assert(s.typePercentages(PageType.Scanned) == 100.0)
    assert(s.recommendedAction == "OCR REQUIRED")
    assert(s.problematic.scannedPages == (1 to 9).toVector)
    assert(s.problematic.totalNeedingOcr == 9)
    assert(DocSummary.pageSummary(s.problematic) ==
      "Scanned pages needing OCR: 1, 2, 3, ... and 6 more")
  }

  test("text doc summary recommends no OCR") {
    val det = new OcrDetection()
    val s = det.summary(det.analyzeAllPages(text24))
    assert(s.recommendedAction == "NO OCR NEEDED")
    assert(DocSummary.pageSummary(s.problematic) ==
      "All pages have good text extraction quality.")
  }

  test("legacy recommendation thresholds (_detector.py:1073-1087)") {
    assert(DocSummary.recommendationLegacy(Map("scanned" -> 6, "text" -> 4), 10) == "OCR REQUIRED")
    assert(DocSummary.recommendationLegacy(Map("scanned" -> 2, "text" -> 8), 10) == "NO OCR NEEDED")
    assert(DocSummary.recommendationLegacy(Map("scanned" -> 4, "text" -> 6), 10) == "OCR RECOMMENDED")
    assert(DocSummary.recommendationLegacy(Map("scanned" -> 3, "empty" -> 7), 10) == "OCR RECOMMENDED")
  }

  test("format_page_list (_detector.py:1063-1071)") {
    assert(DocSummary.formatPageList(Nil) == "None")
    assert(DocSummary.formatPageList(Seq(1, 2, 3, 4, 5)) == "1, 2, 3, 4, 5")
    assert(DocSummary.formatPageList(1 to 9) == "1, 2, 3, ... and 6 more")
  }

  test("html payload through the same API") {
    val html = Synth.htmlArticle(new SplittableRandom(5), 1, 6)
      .getBytes("UTF-8")
    val r = OcrDetection.detectOcr(html)
    assert(r.status == "false") // good extracted text → no OCR
    assert(r.raw.docKind == "html")
    assert(r.raw.extractedText.nonEmpty)
  }

  test("owner-locked encrypted PDFs through the public API: identical " +
    "result to the plain file (PyMuPDF-parity — the reference never sees " +
    "empty-user-password files as encrypted)") {
    import graft.kernel.{PdfCrypt, PdfParse}
    val lines = Seq(
      "The court heard the appeal of the plaintiff and the defendant today.",
      "The order of the court is that the petition should proceed to law.")
    val pages = Seq(lines ++ lines ++ lines)
    val plain = OcrDetection.detectOcr(PdfParse.writePdf(pages))
    for (mode <- Seq(PdfCrypt.Rc4Owner, PdfCrypt.AesOwner,
        PdfCrypt.Aes256Owner)) {
      val enc = OcrDetection.detectOcr(
        PdfParse.writePdf(pages, encrypt = Some(mode)))
      assert(enc.status == plain.status, s"$mode")
      assert(enc.raw.extractedText == plain.raw.extractedText, s"$mode")
      assert(enc.raw.error.isEmpty, s"$mode: ${enc.raw.error}")
    }
    // password-locked stays a distinct error through the API too
    val locked = OcrDetection.detectOcr(
      PdfParse.writePdf(pages, encrypt = Some(PdfCrypt.UserLocked)))
    assert(locked.raw.docKind == "error")
    assert(locked.raw.error.exists(_.contains("encrypted")))
  }

  test("SQL function registration exposes the kernel to spark.sql") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("graft-api-sql")
      .config("spark.ui.enabled", "false").getOrCreate()
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("The court heard the case and the law was applied to the appeal.",
      "<html><body><nav><a href='/'>x</a></nav><main><p>The court heard the " +
      "case and the law was applied to the appeal of the plaintiff in the " +
      "morning session today</p></main></body></html>"))
      .toDF("t", "h").createOrReplaceTempView("texts")
    val r = spark.sql(
      """SELECT graft_quality_score(t) q, graft_word_count(t) w,
        |  graft_simhash(t) s, graft_needs_ocr('scanned', 10, 0.8, 1.0, 0.5) n,
        |  graft_classify_fast(600, 0, 484704.0) c,
        |  graft_extract_html(h) x FROM texts""".stripMargin).collect()(0)
    assert(r.getAs[Double]("q") == 0.9538461538461539) // frozen golden value
    assert(r.getAs[Int]("w") == 13)
    assert(r.getAs[Boolean]("n"))
    assert(r.getAs[String]("c") == "text")
    assert(r.getAs[String]("x").startsWith("The court heard the case"))
    assert(!r.getAs[String]("x").contains("x")) // nav link dropped
    // the native simhash reads NULL as the empty text, like the kernel API
    val n = spark.sql("SELECT graft_simhash(CAST(NULL AS STRING))").collect()(0)
    assert(n.getLong(0) == graft.kernel.Hashing.simhash64(""))
  }

  test("detectColumn: detect over an arbitrary binary column") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").appName("graft-api-col")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    val df = Seq(
      ("a", scanned9),
      ("b", text24),
      ("c", null: Array[Byte])).toDF("doc", "payload")
    val got = new OcrDetection().detectColumn(df, "doc", "payload")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getAs[Seq[Int]](2).length, r.getString(4)))).toMap
    assert(got("a") == (("true", 9, "pdf")))
    assert(got("b") == (("false", 0, "pdf")))
    assert(got("c") == (("true", 1, "error"))) // null payload → error row
  }

  test("parallel/sequential equivalence is structural (same kernel per row)") {
    // the reference compares thread-pool vs sequential (test_integration.py:77-94);
    // here determinism is by construction and asserted end-to-end in
    // PipelineSpec at 1 vs 8 tasks — this checks the API level re-run
    val a = OcrDetection.detectOcr(text24)
    val b = OcrDetection.detectOcr(text24)
    assert(a.status == b.status && a.pages == b.pages)
  }
}

package graft.kernel

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** Real-PDF text-layer probe: genuine %PDF-1.x bytes (Flate and plain
  * content streams, Tj and T-star operators, escapes, image XObjects)
  * through parse and end-to-end through the extraction kernel (X1→C1→P1). */
class PdfParseSpec extends AnyFunSuite {

  private val proseLines = Seq(
    "The court heard the appeal of the plaintiff and the defendant in the case.",
    "The order of the court is that the petition should proceed to law review.",
    "We find that the case has merit and the appeal is granted for this term.",
    "Each party should file with the court any other petition they have now.")

  test("writePdf produces a structurally real PDF") {
    val bytes = PdfParse.writePdf(Seq(proseLines), compress = true)
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    assert(s.startsWith("%PDF-1.4\n"))
    assert(s.contains("/Type /Catalog") && s.contains("/Type /Pages"))
    assert(s.contains("/Filter /FlateDecode"))
    assert(s.contains("xref") && s.contains("startxref") && s.endsWith("%%EOF\n"))
    // the compressed stream must NOT contain the plaintext
    assert(!s.contains(proseLines.head))
  }

  test("parse recovers the text layer from a Flate-compressed stream") {
    val bytes = PdfParse.writePdf(Seq(proseLines), compress = true)
    val doc = PdfParse.parse(bytes)
    assert(doc.pages.length == 1)
    assert(doc.pages(0).width == 612.0 && doc.pages(0).height == 792.0)
    assert(doc.pages(0).textLayer == proseLines.mkString("\n"))
  }

  test("parse recovers text from an uncompressed stream identically") {
    val plain = PdfParse.parse(PdfParse.writePdf(Seq(proseLines), compress = false))
    val flate = PdfParse.parse(PdfParse.writePdf(Seq(proseLines), compress = true))
    assert(plain.pages(0).textLayer == flate.pages(0).textLayer)
  }

  test("literal-string escapes and octal decode like a PDF reader") {
    val lines = Seq(Seq("parens (nested) and \\ backslash", "tab\there"))
    val doc = PdfParse.parse(PdfParse.writePdf(lines, compress = false))
    assert(doc.pages(0).textLayer ==
      "parens (nested) and \\ backslash\ntab\there")
    // octal + hex string via a hand-built content stream
    val ops = "BT (A\\101\\102) Tj <48454C4C4F> Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(ops) == "AABHELLO")
    // §7.3.4.2: octal overflow wraps mod 256 (\777 = 0xFF, not U+01FF)
    val hi = "BT (x\\777y) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(hi) == "xÿy")
    // backslash + CR / CRLF are line continuations (nothing emitted)
    val cont = "BT (ab\\\r\ncd\\\ref) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(cont) == "abcdef")
  }

  test("multi-page PDFs parse page-by-page; image XObjects surface") {
    val p1 = Seq("page one text line")
    val p2 = Seq("page two text line")
    val bytes = PdfParse.writePdf(Seq(p1, p2), compress = true,
      images = Seq((200, 300)))
    val doc = PdfParse.parse(bytes)
    assert(doc.pages.length == 2)
    assert(doc.pages(0).textLayer == "page one text line")
    assert(doc.pages(1).textLayer == "page two text line")
    assert(doc.pages.forall(_.images.exists(i =>
      i.pixelWidth == 200 && i.pixelHeight == 300)))
  }

  test("X1→C1→P1 end-to-end: a real text PDF classifies as native text, " +
    "an image-only real PDF needs OCR") {
    val ex = new Extractor(ProbeConfig())

    val textPdf = PdfParse.writePdf(
      Seq(proseLines ++ proseLines ++ proseLines), compress = true)
    val d1 = ex.extract(textPdf)
    assert(d1.docKind == "pdf")
    assert(d1.totalPages == 1)
    assert(d1.status == "false", s"expected no OCR needed, got ${d1.status}")
    assert(d1.pages.isEmpty)
    assert(d1.extractedText.contains("the appeal of the plaintiff"))
    assert(d1.pageResults(0).pageType == "text")

    // image-only page: no content stream text, one large image XObject
    val imgPdf = PdfParse.writePdf(Seq(Seq.empty), compress = true,
      images = Seq((1200, 1600)))
    val d2 = ex.extract(imgPdf)
    assert(d2.docKind == "pdf")
    assert(d2.status == "true", s"expected OCR needed, got ${d2.status}")
    assert(d2.pages == Vector(1))
  }

  test("fuzz: mutated real-PDF bytes never escape the kernel's row " +
    "contract (valid DocExtract or error row, no exceptions) — classic " +
    "AND Identity-H CID layouts") {
    val ex = new Extractor(ProbeConfig())
    val bases = Array(
      PdfParse.writePdf(Seq(proseLines, proseLines), compress = true,
        images = Seq((300, 400))),
      PdfParse.writePdf(Seq(proseLines, proseLines), compress = true,
        cidFont = true))
    val rng = new java.util.SplittableRandom(1234L)
    for (trial <- 0 until 200) {
      val base = bases(trial % bases.length)
      val mutated = base.clone()
      val mutations = 1 + rng.nextInt(8)
      for (_ <- 0 until mutations) {
        rng.nextInt(3) match {
          case 0 => // flip a byte
            mutated(rng.nextInt(mutated.length)) = rng.nextInt(256).toByte
          case 1 => // zero a run
            val at = rng.nextInt(mutated.length)
            val len = math.min(rng.nextInt(64), mutated.length - at)
            java.util.Arrays.fill(mutated, at, at + len, 0.toByte)
          case _ => ()
        }
      }
      // truncation variant every few trials
      val payload =
        if (trial % 5 == 0) mutated.take(1 + rng.nextInt(mutated.length)) else mutated
      val r = ex.extract(payload)
      assert(Set("html", "pdf", "error").contains(r.docKind), s"trial $trial")
      assert(Set("true", "false", "partial").contains(r.status), s"trial $trial")
      assert(r.totalPages >= 0 && r.pages.forall(_ >= 1), s"trial $trial")
    }
  }

  test("hopeless bytes fall into the error-row channel, never throw") {
    val ex = new Extractor(ProbeConfig())
    val junk = ("%PDF-1.4\ngarbage without any objects").getBytes("UTF-8")
    val d = ex.extract(junk)
    assert(d.docKind == "error")
    assert(d.status == "true") // conservative: error rows need OCR
  }

  // ---------------------------------------------------- PDF 1.5+ features

  test("ObjStm: a 1.5-style file (page dicts inside a compressed object " +
    "stream, binary XRef stream, no trailer keyword) extracts its text layer") {
    val bytes = PdfParse.writePdfObjStm(Seq(proseLines, proseLines.reverse))
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    assert(s.startsWith("%PDF-1.5\n"))
    assert(s.contains("/Type /ObjStm") && s.contains("/Type /XRef"))
    assert(!s.contains("trailer")) // 1.5 layout: trailer merged into XRef dict
    assert(!s.contains(proseLines.head)) // page text is compressed
    val doc = PdfParse.parse(bytes)
    assert(doc.pages.length == 2)
    assert(doc.pages(0).textLayer == proseLines.mkString("\n"))
    assert(doc.pages(1).textLayer == proseLines.reverse.mkString("\n"))
  }

  test("ObjStm ≡ classic: the same document in 1.4 and 1.5 layouts yields " +
    "byte-identical text layers and classifications") {
    val pages = Seq(proseLines ++ proseLines ++ proseLines, proseLines)
    val classic = PdfParse.parse(PdfParse.writePdf(pages))
    val objstm = PdfParse.parse(PdfParse.writePdfObjStm(pages))
    assert(classic.pages.map(_.textLayer) == objstm.pages.map(_.textLayer))
    val ex = new Extractor(ProbeConfig())
    val d1 = ex.extract(PdfParse.writePdf(pages))
    val d2 = ex.extract(PdfParse.writePdfObjStm(pages))
    assert(d1.status == d2.status && d1.pages == d2.pages)
    assert(d1.extractedText == d2.extractedText)
  }

  test("phantom guard: binary stream payloads containing 'N 0 obj … " +
    "endobj' sequences cannot fabricate or shadow objects") {
    // hand-assembled: a content stream whose UNCOMPRESSED payload embeds a
    // fake page object AND a fake redefinition of object 1 (the catalog)
    val fake = "999 0 obj\n<< /Type /Page /MediaBox [0 0 9 9] >>\nendobj\n" +
      "1 0 obj\n<< /Type /Page >>\nendobj\nBT (real text) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${fake.length} >>\nstream\n$fake\nendstream\nendobj\n" +
      "5 0 obj\n<< /Comment (after the stream) >>\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    val doc = PdfParse.parse(pdf)
    assert(doc.pages.length == 1, "phantom /Type /Page must not add pages")
    assert(doc.pages(0).width == 612.0, "phantom must not shadow the real page")
    assert(doc.pages(0).textLayer.contains("real text"))
  }

  test("encrypted PDFs are rejected with a DISTINCT reason naming " +
    "encryption (X4 contract), not silently degraded") {
    val bytes = PdfParse.writePdf(Seq(proseLines), encrypt = Some(PdfCrypt.UserLocked))
    val e = intercept[PdfEncryptedException](PdfParse.parse(bytes))
    assert(e.getMessage.contains("encrypted"))
    val d = new Extractor(ProbeConfig()).extract(bytes)
    assert(d.docKind == "error")
    assert(d.error.exists(_.toLowerCase.contains("encrypt")),
      s"error must name encryption, got ${d.error}")
    assert(d.status == "true") // conservative: error rows need OCR
    // the word 'Encrypt' in page TEXT must not trigger detection
    val talky = PdfParse.writePdf(Seq(Seq("discussing /Encrypt 5 0 R here")),
      compress = false)
    assert(PdfParse.parse(talky).pages.nonEmpty)
  }

  // ------------------------------------------------------------- filters

  /** Minimal single-page PDF around a pre-encoded content stream. */
  private def pdfWith(filter: String, data: Array[Byte],
      parms: String = ""): Array[Byte] = {
    val head = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${data.length} /Filter $filter$parms >>\nstream\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    head ++ data ++ "\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1)
  }

  private val ops = "BT (filter roundtrip works) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
  private val expected = "filter roundtrip works"

  test("ASCIIHexDecode filter") {
    val hex = ops.map(b => f"${b & 0xFF}%02X").mkString + ">"
    val doc = PdfParse.parse(pdfWith("/ASCIIHexDecode",
      hex.getBytes(StandardCharsets.ISO_8859_1)))
    assert(doc.pages(0).textLayer == expected)
  }

  test("ASCII85Decode filter (incl. partial final group)") {
    def enc85(in: Array[Byte]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < in.length) {
        val n = math.min(4, in.length - i)
        var acc = 0L
        (0 until 4).foreach { k =>
          acc = (acc << 8) | (if (k < n) in(i + k) & 0xFFL else 0L) }
        val digs = new Array[Char](5)
        var a = acc
        (4 to 0 by -1).foreach { k => digs(k) = ('!' + (a % 85)).toChar; a /= 85 }
        sb.appendAll(digs, 0, n + 1)
        i += 4
      }
      sb.append("~>").toString
    }
    val doc = PdfParse.parse(pdfWith("/ASCII85Decode",
      enc85(ops).getBytes(StandardCharsets.ISO_8859_1)))
    assert(doc.pages(0).textLayer == expected)
  }

  test("RunLengthDecode filter") {
    // encode as literal runs of ≤128 plus one repeat run
    val repeated = "BT (xxxxxxxxxxAB) Tj ET".getBytes(StandardCharsets.ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(3); out.write(repeated, 0, 4) // "BT ("
    out.write(256 - (10 - 1)); out.write('x') // 10 × 'x' as a repeat run
    out.write(repeated.length - 14 - 1); out.write(repeated, 14, repeated.length - 14)
    out.write(128) // EOD
    val doc = PdfParse.parse(pdfWith("/RunLengthDecode", out.toByteArray))
    assert(doc.pages(0).textLayer == "xxxxxxxxxxAB")
  }

  test("LZWDecode filter") {
    // trivial-but-valid LZW: clear, one 9-bit code per byte, EOD
    def lzwEnc(in: Array[Byte]): Array[Byte] = {
      require(in.length < 200) // stays within 9-bit code width
      val out = new java.io.ByteArrayOutputStream()
      var buf = 0L; var bits = 0
      def put(code: Int): Unit = {
        buf = (buf << 9) | code; bits += 9
        while (bits >= 8) { out.write(((buf >>> (bits - 8)) & 0xFF).toInt); bits -= 8 }
      }
      put(256)
      in.foreach(b => put(b & 0xFF))
      put(257)
      if (bits > 0) out.write(((buf << (8 - bits)) & 0xFF).toInt)
      out.toByteArray
    }
    val doc = PdfParse.parse(pdfWith("/LZWDecode", lzwEnc(ops)))
    assert(doc.pages(0).textLayer == expected)
  }

  test("filter CHAIN /Filter [/ASCIIHexDecode /FlateDecode]") {
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(ops); d.finish()
      val o = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](256)
      while (!d.finished()) o.write(b, 0, d.deflate(b))
      d.end(); o.toByteArray
    }
    val hex = deflated.map(b => f"${b & 0xFF}%02X").mkString + ">"
    val doc = PdfParse.parse(pdfWith("[/ASCIIHexDecode /FlateDecode]",
      hex.getBytes(StandardCharsets.ISO_8859_1)))
    assert(doc.pages(0).textLayer == expected)
  }

  test("FlateDecode with PNG Up predictor (/DecodeParms /Predictor 12)") {
    val cols = 8
    val padded = ops ++ Array.fill[Byte]((cols - ops.length % cols) % cols)(' ')
    val rows = padded.length / cols
    val filtered = new java.io.ByteArrayOutputStream()
    (0 until rows).foreach { r =>
      filtered.write(2) // Up
      (0 until cols).foreach { c =>
        val up = if (r > 0) padded((r - 1) * cols + c) & 0xFF else 0
        filtered.write((padded(r * cols + c) - up) & 0xFF)
      }
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(filtered.toByteArray); d.finish()
      val o = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](256)
      while (!d.finished()) o.write(b, 0, d.deflate(b))
      d.end(); o.toByteArray
    }
    val doc = PdfParse.parse(pdfWith("/FlateDecode", deflated,
      parms = s" /DecodeParms << /Predictor 12 /Columns $cols >>"))
    assert(doc.pages(0).textLayer == expected)
  }

  test("unsupported filter degrades to an empty text layer (needs-OCR " +
    "path), never throws") {
    val doc = PdfParse.parse(pdfWith("/JBIG2Decode", Array[Byte](1, 2, 3)))
    assert(doc.pages.length == 1)
    assert(doc.pages(0).textLayer == "")
  }

  /** Hand-assembled one-page PDF with a Type0 /F1 font whose dict is
    * `fontBody`, showing `hexCodes` as a hex string. */
  private def cidFixture(fontBody: String, hexCodes: String): Array[Byte] = {
    val content = s"BT /F1 12 Tf 72 720 Td <$hexCodes> Tj ET"
    ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      s"5 0 obj\n$fontBody\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
  }

  test("CID/Type0 with a predefined UCS2-family CMap and no ToUnicode " +
    "decodes EXACTLY (codes are UCS-2 by the CMap's definition); other " +
    "predefined CMaps still degrade to empty, never 1-byte mojibake") {
    // UCS2 family: verbatim decode, including CJK text — the legacy
    // producer layout the reference reads free via PyMuPDF
    val ucs2 = cidFixture(
      "<< /Type /Font /Subtype /Type0 /BaseFont /Legacy " +
        "/Encoding /UniGB-UCS2-H >>",
      "00480065006C006C006F")
    assert(PdfParse.parse(ucs2).pages(0).textLayer == "Hello")
    val cjk = cidFixture(
      "<< /Type /Font /Subtype /Type0 /BaseFont /Legacy " +
        "/Encoding /UniJIS-UCS2-V >>",
      "65E5672C8A9E")
    assert(PdfParse.parse(cjk).pages(0).textLayer == "日本語")
    // UTF16 family: codes are UTF-16BE units — BMP text decodes like
    // UCS2, and a surrogate PAIR (U+20BB7 = D842 DFB7, two 2-byte codes)
    // reassembles into the supplementary character
    val utf16 = cidFixture(
      "<< /Type /Font /Subtype /Type0 /BaseFont /Modern " +
        "/Encoding /UniJIS-UTF16-H >>",
      "540D524DD842DFB7")
    val tl = PdfParse.parse(utf16).pages(0).textLayer
    assert(tl == "名前𠮷", tl)
    assert(tl.length == 4 && tl.codePointCount(0, tl.length) == 3)
    // an UNKNOWN predefined CMap name (no charset, no CMap data): still
    // undecodable — empty text layer, OCR path
    val pdf = cidFixture(
      "<< /Type /Font /Subtype /Type0 /BaseFont /NoMap " +
        "/Encoding /Add-RKSJ-H >>",
      "00480065006C006C006F")
    val doc = PdfParse.parse(pdf)
    assert(doc.pages(0).textLayer == "",
      s"undecodable CID text must yield nothing, got '${doc.pages(0).textLayer}'")
    val d = new Extractor(ProbeConfig()).extract(pdf)
    assert(d.status == "true" && d.pages == Vector(1))
    // the writePdf UCS2 layout round-trips end-to-end down the TEXT path
    val written = PdfParse.writePdf(
      Seq(Seq("The quick brown fox jumps over the lazy dog " * 5)),
      cidFont = true, cidEncoding = "UniJIS-UCS2-H")
    val wd = new Extractor(ProbeConfig()).extract(written)
    assert(wd.status != "true" && wd.extractedText.contains("quick brown fox"),
      s"UCS2-CMap writePdf must extract, got status=${wd.status}")
  }

  test("byte-oriented LEGACY predefined CMaps (90ms-RKSJ, GBK-EUC, B5pc, " +
    "KSCms-UHC) decode exactly through the family's defining JDK charset " +
    "— the mixed 1/2-byte codespace walk, no shipped CMap tables") {
    def tl(enc: String, hex: String): String =
      PdfParse.parse(cidFixture(
        "<< /Type /Font /Subtype /Type0 /BaseFont /Legacy " +
          s"/Encoding /$enc >>", hex)).pages(0).textLayer
    // Shift-JIS 2-byte kanji (93FA 967B 8CEA = 日本語)
    assert(tl("90ms-RKSJ-H", "93FA967B8CEA") == "日本語")
    // mixed 1-byte ASCII + 2-byte kanji runs — the codespace walk that
    // a fixed-width decoder gets wrong ("Test 日本語 123")
    assert(tl("90ms-RKSJ-H", "546573742093FA967B8CEA20313233")
      == "Test 日本語 123")
    // 1-byte halfwidth katakana block (A0–DF): B1 B2 B3 = ｱｲｳ
    assert(tl("90ms-RKSJ-V", "B1B2B3") == "ｱｲｳ")
    // GBK (D6D0 CEC4 = 中文), Big5 (A4A4 A4E5 = 中文), UHC (한국)
    assert(tl("GBK-EUC-H", "D6D0CEC4") == "中文")
    assert(tl("B5pc-H", "A4A4A4E5") == "中文")
    assert(tl("KSCms-UHC-H", "C7D1B1B9") == "한국")
    // malformed/unmappable sequences yield NO replacement-char padding
    // (a truncated lead byte decodes to nothing; embedded valid ASCII
    // survives, which is what a real charset walk does)
    assert(tl("90ms-RKSJ-H", "81") == "")
    assert(tl("GBK-EUC-H", "8130FF00") == "0")
    // end-to-end: a legacy-CMap PDF routes down the native-text path
    val written = PdfParse.writePdf(
      Seq(Seq("The quick brown fox jumps over the lazy dog " * 5)),
      cidFont = true, cidEncoding = "90ms-RKSJ-H")
    val wd = new Extractor(ProbeConfig()).extract(written)
    assert(wd.status != "true" && wd.extractedText.contains("quick brown fox"),
      s"90ms-RKSJ writePdf must extract, got status=${wd.status}")
    // and a legacy-CMap PDF carrying REAL kanji round-trips its text
    val kanji = PdfParse.writePdf(Seq(Seq("日本語のテキスト抽出")),
      cidFont = true, cidEncoding = "90ms-RKSJ-H")
    assert(PdfParse.parse(kanji).pages(0).textLayer == "日本語のテキスト抽出")
  }

  test("Identity-H WITHOUT ToUnicode: Unicode-CID hex strings decode (the " +
    "subsetted/CJK rescue); glyph-index CIDs still degrade to empty") {
    val idH = "<< /Type /Font /Subtype /Type0 /BaseFont /Sub " +
      "/Encoding /Identity-H /DescendantFonts [9 0 R] >>"
    // CID == Unicode code point (the common no-ToUnicode producer shape)
    val doc = PdfParse.parse(cidFixture(idH, "00480065006C006C006F"))
    assert(doc.pages(0).textLayer == "Hello",
      s"Identity-H Unicode CIDs must decode, got '${doc.pages(0).textLayer}'")
    // CJK Unicode CIDs decode too (isLetterOrDigit covers the CJK block)
    val cjk = PdfParse.parse(cidFixture(idH, "65E5672C8A9E"))
    assert(cjk.pages(0).textLayer == "日本語")
    // subset font with raw GLYPH-INDEX CIDs (small ints): implausible as
    // text → whole string rejected, page degrades to needs-OCR
    val gid = PdfParse.parse(cidFixture(idH, "00010002000300040005"))
    assert(gid.pages(0).textLayer == "",
      s"glyph-index CIDs must degrade, got '${gid.pages(0).textLayer}'")
    // mixed below the 80% plausibility bar (3 of 5 plausible) → rejected
    val mixed = PdfParse.parse(cidFixture(idH, "00480001006500020066"))
    assert(mixed.pages(0).textLayer == "")
    // at/above the bar (4 of 5 plausible) → plausible codes survive
    val mostly = PdfParse.parse(cidFixture(idH, "00480065000100660067"))
    assert(mostly.pages(0).textLayer == "Hefg")
  }

  test("decodeIdentityCid structural guard: long space-free Latin runs " +
    "without vowel mass (shifted-alphabet mojibake from gid~36-150 " +
    "subsets) are rejected; real words, spaced runs and CJK pass") {
    def hex(s: String) = s.map(c => f"${c.toInt}%04X").mkString
    // the decoder's input is the raw byte string: one 2-byte code per
    // output char (high byte first)
    def raw(s: String): String = s.flatMap(c =>
      Seq(((c.toInt >> 8) & 0xFF).toChar, (c.toInt & 0xFF).toChar)).mkString
    // a larger subset font's glyph indices land on consonant codes —
    // every code individually plausible, no vowel structure → rejected
    assert(PdfParse.decodeIdentityCid(raw("bcdfghjklmnpqrst")) == "")
    // same codes WITH a space (real text shows structure) → accepted
    assert(PdfParse.decodeIdentityCid(raw("bcdfghjk lmnpqrst")) ==
      "bcdfghjk lmnpqrst")
    // a real long word keeps its vowel mass → accepted
    assert(PdfParse.decodeIdentityCid(raw("mountainside")) == "mountainside")
    // vowel-poor but short (< 12 letters) → accepted: word-per-Tj
    // producers draw each word as its own space-free run, and REAL
    // low-vowel English words reach 10 letters — these must never be
    // deleted from the text layer
    assert(PdfParse.decodeIdentityCid(raw("rhythm")) == "rhythm")
    assert(PdfParse.decodeIdentityCid(raw("strengths")) == "strengths")
    assert(PdfParse.decodeIdentityCid(raw("Bridgnorth")) == "Bridgnorth")
    // CJK runs are exempt from the Latin structure test
    val cjkStr = "日本語日本語日本語日本語"
    assert(PdfParse.decodeIdentityCid(raw(cjkStr)) == cjkStr)
    // end-to-end through the parser: the mojibake string degrades the
    // page to needs-OCR instead of inflating text_length
    val idH = "<< /Type /Font /Subtype /Type0 /BaseFont /Sub " +
      "/Encoding /Identity-H /DescendantFonts [9 0 R] >>"
    val moji = PdfParse.parse(cidFixture(idH, hex("Wkjqvbfzvmdl")))
    assert(moji.pages(0).textLayer == "",
      s"mojibake must degrade, got '${moji.pages(0).textLayer}'")
  }

  test("simple-font /Encoding: /Differences glyph names remap codes " +
    "(AGL subset + uniXXXX), unmapped codes keep byte identity") {
    // code 65 ('A') → adieresis, 66 ('B') → Euro via uni20AC, 67 stays 'C'
    val font = "<< /Type /Font /Subtype /Type1 /BaseFont /F " +
      "/Encoding << /Differences [ 65 /adieresis /uni20AC ] >> >>"
    val content = "BT /F1 12 Tf 72 720 Td (ABC) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      s"5 0 obj\n$font\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.parse(pdf).pages(0).textLayer == "ä€C")

    // glyph-name robustness: names must match as FULL tokens — /b-caron
    // is unknown AGL (no partial 'b' match → code 65 keeps identity);
    // uniXXXXYYYY decodes BOTH units; '.'-suffixed variants map like
    // their base name (AGL rule)
    assert(PdfParse.glyphToUnicode("b-caron").isEmpty)
    assert(PdfParse.glyphToUnicode("uni20AC0041").contains("€A"))
    assert(PdfParse.glyphToUnicode("uni20A").isEmpty) // malformed length
    assert(PdfParse.glyphToUnicode("uniD800").isEmpty) // surrogate
    assert(PdfParse.glyphToUnicode("a.sc").contains("a"))
    assert(PdfParse.glyphToUnicode("one.oldstyle").contains("1"))
    val hyphen = "<< /Type /Font /Subtype /Type1 /BaseFont /F " +
      "/Encoding << /Differences [ 65 /b-caron /uni20AC0041 ] >> >>"
    val pdf2 = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      s"5 0 obj\n$hyphen\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    // code 65 ('A') → /b-caron unknown → byte identity 'A'; the NAME must
    // still consume its Differences slot, so code 66 ('B') → "€A"
    assert(PdfParse.parse(pdf2).pages(0).textLayer == "A€AC")
  }

  test("simple-font /Encoding: WinAnsiEncoding decodes the 0x80-0x9F " +
    "range as cp1252 (curly quotes, em dash), indirect encoding dicts " +
    "resolve, and an encoding-free font stays byte-identity") {
    // \223hi\224\227ok = “hi”—ok under cp1252
    val content = "BT /F1 12 Tf 72 720 Td (hiok) Tj ET"
    def pdf(fontBody: String, extraObjs: String): Array[Byte] =
      ("%PDF-1.4\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n" +
        s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
        s"5 0 obj\n$fontBody\nendobj\n" + extraObjs +
        "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    val winAnsi = pdf("<< /Type /Font /Subtype /TrueType /BaseFont /F " +
      "/Encoding /WinAnsiEncoding >>", "")
    assert(PdfParse.parse(winAnsi).pages(0).textLayer == "“hi”—ok")
    // indirect /Encoding object with BaseEncoding + Differences overlay
    val indirect = pdf("<< /Type /Font /Subtype /TrueType /BaseFont /F " +
      "/Encoding 6 0 R >>",
      "6 0 obj\n<< /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
        "/Differences [ 151 /endash ] >>\nendobj\n")
    assert(PdfParse.parse(indirect).pages(0).textLayer == "“hi”–ok")
    // no encoding info at all → Latin-1 identity (unchanged behavior)
    val bare = pdf("<< /Type /Font /Subtype /TrueType /BaseFont /F >>", "")
    assert(PdfParse.parse(bare).pages(0).textLayer == "hiok")
    // MacRomanEncoding maps the SAME bytes differently (93=ì 94=î
    // 97=ó in MacRoman) — the JDK x-MacRoman charset provides the table
    val mac = pdf("<< /Type /Font /Subtype /TrueType /BaseFont /F " +
      "/Encoding /MacRomanEncoding >>", "")
    assert(PdfParse.parse(mac).pages(0).textLayer == "ìhiîóok",
      s"MacRoman decode: '${PdfParse.parse(mac).pages(0).textLayer}'")
  }

  test("writePdf(cidFont=true): Identity-H layout round-trips the text " +
    "layer byte-identically to the classic layout, through BOTH readers " +
    "and the full extractor") {
    val lines = Seq(
      Seq("The court order and the filing were records.",
        "Margin analysis of the appeal document."),
      Seq("Second page statute evidence paragraph."))
    val classic = PdfParse.writePdf(lines)
    val cid = PdfParse.writePdf(lines, cidFont = true)
    val dc = PdfParse.parse(classic, needAlt = true)
    val di = PdfParse.parse(cid, needAlt = true)
    assert(di.pages.map(_.textLayer) == dc.pages.map(_.textLayer))
    assert(di.pages.map(_.altTextLayer) == dc.pages.map(_.altTextLayer),
      "geometric reader must decode Identity-H identically")
    val ex = new Extractor(ProbeConfig())
    val (ec, ei) = (ex.extract(classic), ex.extract(cid))
    assert(ei.extractedText == ec.extractedText && ei.status == ec.status)

    // Identity-H under ENCRYPTION: the hex show strings live inside
    // RC4/AES-encrypted content streams; decrypt-then-decode must
    // round-trip the same text layer
    for (mode <- Seq(PdfCrypt.Rc4Owner, PdfCrypt.Aes256Owner)) {
      val enc = PdfParse.writePdf(lines, cidFont = true, encrypt = Some(mode))
      val de = PdfParse.parse(enc)
      assert(de.pages.map(_.textLayer) == dc.pages.map(_.textLayer),
        s"cid+$mode text layer mismatch")
    }
  }

  test("inline images (BI … ID <binary> EI) are skipped by BOTH readers: " +
    "sample bytes with parens/operators cannot garble text") {
    val ops = ("BI /W 2 /H 2 /BPC 8 /CS /G ID ÿ(fake text) Tj \u0000þ EI\n" +
      "BT 72 720 Td (real text) Tj ET")
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(ops) == "real text")
    val geom = PdfParse.extractTextGeom(Seq(ops))
    assert(geom == "real text", s"geom view: $geom")
  }

  test("quote operator: PDF ' is move-to-next-line THEN show — the operand " +
    "string lands on the NEW line in BOTH readers") {
    val ops = "BT 72 720 Td (Header) Tj (Body line) ' ET"
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(ops) == "Header\nBody line")
    assert(PdfParse.extractTextGeom(Seq(ops)) == "Header\nBody line")
    // bare quote directly after Td-positioned show; and " behaves like '
    val ops2 = "BT 72 720 Td (One) ' (Two) \" ET"
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.extractTextOps(ops2) == "One\nTwo")
  }

  /** One-page PDF whose content is a single form XObject carrying its own
    * /F1 Type0 font with dict `fontBody`. */
  private def formCidFixture(fontBody: String): Array[Byte] = {
    val formOps = "BT /F1 12 Tf 72 720 Td <00480065006C006C006F> Tj ET"
    ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /XObject << /Fm0 5 0 R >> >> >>\nendobj\n" +
      "4 0 obj\n<< /Length 11 >>\nstream\nq /Fm0 Do Q\nendstream\nendobj\n" +
      "5 0 obj\n<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
      "/Resources << /Font << /F1 6 0 R >> >> " +
      s"/Length ${formOps.length} >>\nstream\n$formOps\nendstream\nendobj\n" +
      s"6 0 obj\n$fontBody\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
  }

  test("form XObject with its OWN undecodable CID font degrades to empty " +
    "alt text (form-local /Resources fonts are honored)") {
    // Add-RKSJ-H: a predefined CMap with neither a UCS2 family nor a
    // defining JDK charset — undecodable without real CMap data (UCS2
    // and legacy byte-oriented names now decode exactly, tested above)
    val pdf = formCidFixture("<< /Type /Font /Subtype /Type0 " +
      "/BaseFont /NoMap /Encoding /Add-RKSJ-H >>")
    val doc = PdfParse.parse(pdf, needAlt = true)
    assert(doc.pages(0).textLayer == "")
    assert(doc.pages(0).altTextLayer == Some(""),
      s"form-local CID font must degrade, got ${doc.pages(0).altTextLayer}")
  }

  test("form XObject with a form-local Identity-H font: the geometric " +
    "reader rescues its Unicode-CID text into the alt layer") {
    val pdf = formCidFixture("<< /Type /Font /Subtype /Type0 " +
      "/BaseFont /Sub /Encoding /Identity-H >>")
    val doc = PdfParse.parse(pdf, needAlt = true)
    assert(doc.pages(0).textLayer == "") // cursor reader: page content only
    assert(doc.pages(0).altTextLayer == Some("Hello"),
      s"form-local Identity-H must decode, got ${doc.pages(0).altTextLayer}")
  }

  test("stream payloads containing 'endstream' are framed by the direct " +
    "/Length — no truncation, no phantom re-scan") {
    val payload = "BT (before) Tj ET endstream trap 999 0 obj " +
      "<< /Type /Page >> endobj BT (after) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R >>\nendobj\n" +
      s"4 0 obj\n<< /Length ${payload.length} >>\nstream\n$payload\nendstream\nendobj\n" +
      "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    val doc = PdfParse.parse(pdf)
    assert(doc.pages.length == 1, "no phantom page from the payload")
    assert(doc.pages(0).textLayer.contains("before") &&
      doc.pages(0).textLayer.contains("after"),
      s"payload truncated: '${doc.pages(0).textLayer}'")
  }

  test("encrypted detection survives a trailer with a large /ID before " +
    "/Encrypt (no fixed-window miss)") {
    val bigId = "D" * 900
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>\nendobj\n" +
      s"trailer\n<< /Size 4 /Root 1 0 R /ID [<$bigId> <$bigId>] " +
      "/Encrypt 9 0 R >>\nstartxref\n0\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    intercept[PdfEncryptedException](PdfParse.parse(pdf))
  }

  test("second reader: geometric reassembly linearizes out-of-order " +
    "emission the cursor reader gets wrong") {
    // emitted bottom line FIRST (Tm y=680), top line second (Tm y=720),
    // with the top line split into two runs emitted right-to-left
    val ops = ("BT /F1 12 Tf " +
      "1 0 0 1 72 680 Tm (second line of the page) Tj " +
      "1 0 0 1 200 720 Tm (line tail) Tj " +
      "1 0 0 1 72 720 Tm (first) Tj " +
      "ET").getBytes(StandardCharsets.ISO_8859_1)
    // cursor order: emission order, y-moves = line breaks
    val cursor = PdfParse.extractTextOps(ops)
    assert(cursor.startsWith("second line"), s"cursor view: $cursor")
    // geometric order: top-to-bottom, left-to-right
    val geom = PdfParse.extractTextGeom(Seq(ops))
    assert(geom == "first line tail\nsecond line of the page", s"geom view: $geom")
  }

  test("second reader: alt layer only computed when requested (hot path " +
    "pays nothing)") {
    val bytes = PdfParse.writePdf(Seq(proseLines))
    assert(PdfParse.parse(bytes).pages(0).altTextLayer.isEmpty)
    val alt = PdfParse.parse(bytes, needAlt = true).pages(0).altTextLayer
    assert(alt.isDefined)
    // on a well-formed cursor-ordered document the two readers agree
    assert(alt.get == proseLines.mkString("\n"))
  }

  test("fuzz: mutated 1.5-style ObjStm bytes never escape the row contract " +
    "— in BOTH performance and accuracy mode (geometric second reader)") {
    val fast = new Extractor(ProbeConfig())
    val acc = new Extractor(ProbeConfig(accuracyMode = true))
    val base = PdfParse.writePdfObjStm(Seq(proseLines, proseLines))
    val rng = new java.util.SplittableRandom(5678L)
    for (trial <- 0 until 100) {
      val mutated = base.clone()
      for (_ <- 0 to rng.nextInt(8)) {
        mutated(rng.nextInt(mutated.length)) = rng.nextInt(256).toByte
      }
      val payload =
        if (trial % 5 == 0) mutated.take(1 + rng.nextInt(mutated.length)) else mutated
      for (ex <- Seq(fast, acc)) {
        val r = ex.extract(payload)
        assert(Set("html", "pdf", "error").contains(r.docKind), s"trial $trial")
        assert(Set("true", "false", "partial").contains(r.status), s"trial $trial")
      }
    }
  }

  // ----------------------------------------------------------- encryption

  test("owner-locked RC4-128 PDF (Standard handler, empty user password) " +
    "decrypts transparently: text layer identical to the unencrypted file") {
    val plain = PdfParse.parse(PdfParse.writePdf(Seq(proseLines, proseLines)))
    val enc = PdfParse.writePdf(Seq(proseLines, proseLines),
      encrypt = Some(PdfCrypt.Rc4Owner))
    // the ciphertext must not leak the plaintext ops
    val rawStr = new String(enc, StandardCharsets.ISO_8859_1)
    assert(!rawStr.contains(proseLines.head))
    val doc = PdfParse.parse(enc)
    assert(doc.pages.map(_.textLayer) == plain.pages.map(_.textLayer))
    // and the whole kernel path agrees with the plain file
    val d = new Extractor(ProbeConfig()).extract(enc)
    assert(d.docKind == "pdf" && d.error.isEmpty, s"${d.docKind}/${d.error}")
  }

  test("owner-locked AES-128 (/AESV2, V4 R4) PDF decrypts: per-object key " +
    "salt, leading CBC IV, PKCS#5 padding") {
    val plain = PdfParse.parse(PdfParse.writePdf(Seq(proseLines)))
    val enc = PdfParse.writePdf(Seq(proseLines),
      encrypt = Some(PdfCrypt.AesOwner))
    assert(!new String(enc, StandardCharsets.ISO_8859_1).contains(proseLines.head))
    val doc = PdfParse.parse(enc)
    assert(doc.pages.map(_.textLayer) == plain.pages.map(_.textLayer))
  }

  test("encrypted uncompressed and image-bearing PDFs round-trip too " +
    "(encryption composes with no-filter streams and XObject payloads)") {
    for (mode <- Seq(PdfCrypt.Rc4Owner, PdfCrypt.AesOwner)) {
      val enc = PdfParse.writePdf(Seq(proseLines), compress = false,
        images = Seq((320, 240)), encrypt = Some(mode))
      val doc = PdfParse.parse(enc)
      assert(doc.pages.head.textLayer == proseLines.mkString("\n"), s"$mode")
      assert(doc.pages.head.images.map(i => (i.pixelWidth, i.pixelHeight)) ==
        Vector((320, 240)), s"$mode")
    }
  }

  test("corrupted owner-locked ciphertext degrades (empty text layer, " +
    "needs-OCR path) instead of throwing mid-kernel") {
    val enc = PdfParse.writePdf(Seq(proseLines), encrypt = Some(PdfCrypt.AesOwner))
    // truncate one byte off the FIRST content stream payload: AES length
    // check fails -> decryptStream None -> page degrades
    val raw = new String(enc, StandardCharsets.ISO_8859_1)
    val s0 = raw.indexOf("stream\n") + "stream\n".length
    val mutated = enc.clone()
    mutated(s0 + 16) = (mutated(s0 + 16) ^ 0x55).toByte // corrupt ciphertext block
    val d = new Extractor(ProbeConfig()).extract(mutated)
    assert(Set("pdf", "error").contains(d.docKind))
  }

  test("R2 (40-bit RC4) and EncryptMetadata false variants derive the " +
    "documented keys (PdfCrypt algorithm internals)") {
    // Algorithm 2/4 self-consistency at R2: U = RC4(key, PAD)
    val id0 = PdfCrypt.md5("fixture-id".getBytes(StandardCharsets.UTF_8))
    val o = PdfCrypt.computeO("owner".getBytes(StandardCharsets.UTF_8),
      Array.emptyByteArray, r = 2, keyBytes = 5)
    val key = PdfCrypt.fileKey(Array.emptyByteArray, o, -44, id0, r = 2,
      keyBytes = 5, encryptMetadata = true)
    assert(PdfCrypt.userKeyValid(key, PdfCrypt.computeU(key, id0, 2), id0, 2))
    // a WRONG key must not validate
    val bad = key.clone(); bad(0) = (bad(0) ^ 1).toByte
    assert(!PdfCrypt.userKeyValid(bad, PdfCrypt.computeU(key, id0, 2), id0, 2))
  }

  test("unsupported security handlers are rejected with DISTINCT reasons " +
    "(R6/AES-256, non-Standard filter), never silently mis-decrypted") {
    def withEncryptDict(dict: String): Array[Byte] = {
      val body = "BT (secret text) Tj ET"
      ("%PDF-1.4\n" +
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
        "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R >>\nendobj\n" +
        s"4 0 obj\n<< /Length ${body.length} >>\nstream\n" + body +
        "\nendstream\nendobj\n" +
        s"5 0 obj\n$dict\nendobj\n" +
        "trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R /ID [<00> <00>] >>\n" +
        "%%EOF\n").getBytes(StandardCharsets.ISO_8859_1)
    }
    // V5 with AESV3 but a /U too short to validate → password required
    val v5bad = withEncryptDict(
      "<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 /O <00> /U <00> " +
        "/UE <00> /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF >>")
    val e0 = intercept[PdfEncryptedException](PdfParse.parse(v5bad))
    assert(e0.getMessage.contains("user password required"))
    // V5 without the AESV3 crypt filter is not a layout we can decrypt
    val v5nofilter = withEncryptDict(
      "<< /Filter /Standard /V 5 /R 6 /Length 256 /P -44 /O <00> /U <00> >>")
    val e1 = intercept[PdfEncryptedException](PdfParse.parse(v5nofilter))
    assert(e1.getMessage.contains("AESV3"))
    // an out-of-range revision still names itself
    val v5r7 = withEncryptDict(
      "<< /Filter /Standard /V 5 /R 7 /Length 256 /P -44 /O <00> /U <00> >>")
    val e3 = intercept[PdfEncryptedException](PdfParse.parse(v5r7))
    assert(e3.getMessage.contains("V=5"))
    val pubkey = withEncryptDict(
      "<< /Filter /Adobe.PubSec /V 2 /R 3 /P -44 /O <00> /U <00> >>")
    val e2 = intercept[PdfEncryptedException](PdfParse.parse(pubkey))
    assert(e2.getMessage.contains("not /Standard"))
  }

  test("RC4 primitive matches the public test vectors (KSA/PRGA correctness " +
    "is what makes /O //U interoperable with real readers)") {
    def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
    assert(hex(PdfCrypt.rc4("Key".getBytes(StandardCharsets.US_ASCII),
      "Plaintext".getBytes(StandardCharsets.US_ASCII))) == "bbf316e8d940af0ad3")
    assert(hex(PdfCrypt.rc4("Wiki".getBytes(StandardCharsets.US_ASCII),
      "pedia".getBytes(StandardCharsets.US_ASCII))) == "1021bf0420")
    assert(hex(PdfCrypt.rc4("Secret".getBytes(StandardCharsets.US_ASCII),
      "Attack at dawn".getBytes(StandardCharsets.US_ASCII))) ==
      "45a01f645fc35b383552544b9bf5")
  }

  test("owner-locked AES-256 (/AESV3, V5 R6) PDF decrypts: Algorithm 2.B " +
    "hardened hash validates the empty password, /UE unwraps the file key") {
    val plain = PdfParse.parse(PdfParse.writePdf(Seq(proseLines, proseLines)))
    val enc = PdfParse.writePdf(Seq(proseLines, proseLines),
      encrypt = Some(PdfCrypt.Aes256Owner))
    val raw = new String(enc, StandardCharsets.ISO_8859_1)
    assert(raw.contains("/AESV3") && raw.contains("/R 6"))
    assert(!raw.contains(proseLines.head))
    val doc = PdfParse.parse(enc)
    assert(doc.pages.map(_.textLayer) == plain.pages.map(_.textLayer))
    val d = new Extractor(ProbeConfig()).extract(enc)
    assert(d.docKind == "pdf" && d.error.isEmpty, s"${d.docKind}/${d.error}")
  }

  test("Algorithm 2.B hardened hash: >= 64 rounds (wrong passwords cannot " +
    "shortcut), R5 is the single-SHA-256 degenerate form, and the hash " +
    "separates passwords and salts") {
    val salt = Array.tabulate[Byte](8)(_.toByte)
    val empty = Array.emptyByteArray
    val h6 = PdfCrypt.hash2B(empty, salt, empty, r = 6)
    assert(h6.length == 32)
    // deterministic
    assert(h6.sameElements(PdfCrypt.hash2B(empty, salt, empty, r = 6)))
    // R5 = plain SHA-256(pwd ++ salt)
    val h5 = PdfCrypt.hash2B(empty, salt, empty, r = 5)
    val ref = java.security.MessageDigest.getInstance("SHA-256").digest(salt)
    assert(h5.sameElements(ref))
    assert(!h5.sameElements(h6)) // hardening changes the value
    // password and salt sensitivity
    val hPwd = PdfCrypt.hash2B("x".getBytes(StandardCharsets.US_ASCII),
      salt, empty, r = 6)
    val salt2 = salt.clone(); salt2(0) = 9
    assert(!hPwd.sameElements(h6))
    assert(!PdfCrypt.hash2B(empty, salt2, empty, r = 6).sameElements(h6))
  }

  test("encrypt-dict robustness: key order is unspecified — /CF before the " +
    "top-level /Length, a secondary /CFM /None entry, and a literal-string " +
    "/ID must all still decrypt (spec-faithful resolution, not dict greps)") {
    val enc = PdfParse.writePdf(Seq(proseLines), encrypt = Some(PdfCrypt.AesOwner))
    val raw = new String(enc, StandardCharsets.ISO_8859_1)
    val expected = PdfParse.parse(enc).pages.map(_.textLayer)

    // 1. alphabetical-ish order: /CF (with its byte-valued /Length 16)
    //    BEFORE the top-level /Length 128
    val d0 = raw.indexOf("<< /Filter /Standard")
    assert(d0 > 0)
    val dEnd = raw.indexOf(">>\nendobj", d0)
    val dict = raw.substring(d0, raw.indexOf("\nendobj", d0))
    val cf = " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"
    assert(dict.contains(cf), dict)
    val reordered = "<< " + cf.trim + " " +
      dict.stripPrefix("<< ").replace(cf, "") // /CF moved to the front
    val mutated1 = raw.replace(dict, reordered)
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.parse(mutated1).pages.map(_.textLayer) == expected,
      "reordered dict must still decrypt")

    // 2. a secondary crypt filter with /CFM /None must not shadow the
    //    active /StdCF (the old whole-dict grep would disable decryption)
    val withSecondary = raw.replace(cf,
      " /CF << /StdCF << /CFM /AESV2 /Length 16 >> " +
        "/NoCrypt << /CFM /None >> >>")
    val mutated2 = withSecondary.getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.parse(mutated2).pages.map(_.textLayer) == expected,
      "secondary /None filter must not disable AES decryption")

    // 3. /ID as literal strings instead of hex strings
    val idm = java.util.regex.Pattern.compile("/ID \\[<([0-9a-f]+)> <[0-9a-f]+>\\]")
      .matcher(raw)
    assert(idm.find(), "fixture should carry a hex /ID")
    val idBytes = idm.group(1).grouped(2)
      .map(h => Integer.parseInt(h, 16).toChar).mkString
    val esc = idBytes.replace("\\", "\\\\")
      .replace("(", "\\(").replace(")", "\\)")
      .replace("\r", "\\r").replace("\n", "\\n")
    val litId = s"/ID [($esc) ($esc)]"
    val mutated3 = raw.replace(idm.group(0), litId)
      .getBytes(StandardCharsets.ISO_8859_1)
    assert(PdfParse.parse(mutated3).pages.map(_.textLayer) == expected,
      "literal-string /ID must derive the same file key")
  }

  test("nonzero object generation feeds the per-object RC4 key (silent " +
    "mojibake guard for incrementally-updated encrypted files)") {
    val ops = "BT /F1 12 Tf 72 720 Td\n(generation one text) Tj\nET"
      .getBytes(StandardCharsets.ISO_8859_1)
    val (dict, idHex, crypt) = PdfCrypt.forWriting(PdfCrypt.Rc4Owner,
      "gen-test".getBytes(StandardCharsets.UTF_8))
    val payload = crypt.encryptStream(4, ops, gen = 1) // content obj is 4 1
    val head = ("%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 1 R >>\nendobj\n" +
      s"4 1 obj\n<< /Length ${payload.length} >>\nstream\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val tail = ("\nendstream\nendobj\n" +
      s"5 0 obj\n$dict\nendobj\n" +
      s"trailer\n<< /Size 6 /Root 1 0 R /Encrypt 5 0 R " +
      s"/ID [<$idHex> <$idHex>] >>\nstartxref\n0\n%%EOF\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val doc = PdfParse.parse(head ++ payload ++ tail)
    assert(doc.pages.head.textLayer == "generation one text",
      s"got: '${doc.pages.head.textLayer}'")
  }

  test("encrypt-dict robustness round 2: string values containing '<<', " +
    "prefix-colliding /CF entry names, and a lone /V2 filter without " +
    "/StmF all resolve correctly") {
    val enc = PdfParse.writePdf(Seq(proseLines), encrypt = Some(PdfCrypt.AesOwner))
    val raw = new String(enc, StandardCharsets.ISO_8859_1)
    val expected = PdfParse.parse(enc).pages.map(_.textLayer)
    val cf = " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>"

    // 1. a string VALUE containing '<<' placed before the top-level
    //    /Length (binary /O-style payloads do this): depth tracking must
    //    mask string values or /Length disappears
    val withNote = raw.replace("<< /Filter /Standard",
      "<< /GraftNote (xx<<yy) /Filter /Standard")
    assert(PdfParse.parse(withNote.getBytes(StandardCharsets.ISO_8859_1))
      .pages.map(_.textLayer) == expected,
      "'<<' inside a string value must not corrupt depth tracking")

    // 2. a /CF entry whose name PREFIX-collides with the active one
    //    (/StdCF2 before /StdCF): the lookup must be delimiter-aware
    val withPrefix = raw.replace(cf,
      " /CF << /StdCF2 << /CFM /None >> /StdCF << /CFM /AESV2 /Length 16 >> >>")
    assert(PdfParse.parse(withPrefix.getBytes(StandardCharsets.ISO_8859_1))
      .pages.map(_.textLayer) == expected,
      "/StdCF2 must not shadow /StdCF")

    // 3. V4 RC4 (/CFM /V2) with NO /StmF: tolerated symmetrically to the
    //    AESV2 carve-out (sloppy writers omit the default-naming keys)
    val rc4 = PdfParse.writePdf(Seq(proseLines), encrypt = Some(PdfCrypt.Rc4Owner))
    val rc4raw = new String(rc4, StandardCharsets.ISO_8859_1)
    val expectedRc4 = PdfParse.parse(rc4).pages.map(_.textLayer)
    // rewrite the V2 R3 dict into a V4 R4 dict with a /CF but no /StmF
    val v4NoStmF = rc4raw.replace("/V 2 /R 3 /Length 128",
      "/V 4 /R 4 /Length 128") match {
      case d =>
        val i = d.indexOf("/U <")
        val end = d.indexOf(">", i + 4) + 1
        d.substring(0, end) + " /CF << /StdCF << /CFM /V2 >> >>" + d.substring(end)
    }
    assert(PdfParse.parse(v4NoStmF.getBytes(StandardCharsets.ISO_8859_1))
      .pages.map(_.textLayer) == expectedRc4,
      "lone /CFM /V2 without /StmF must still decrypt (RC4)")
  }

  test("S6 embedded-image reuse on REAL PDFs: a scanned page whose image " +
    "XObject is a /DCTDecode stream returns the EMBEDDED JPEG verbatim " +
    "(the reference's v0.3.0 5x optimization), incl. under encryption") {
    import java.util.Base64
    for (mode <- Seq(None, Some(PdfCrypt.Rc4Owner), Some(PdfCrypt.Aes256Owner))) {
      // image-only page, one large DCTDecode image covering the page
      val bytes = PdfParse.writePdf(Seq(Seq.empty), compress = true,
        images = Seq((1200, 1600)), encrypt = mode, embedJpeg = true)
      val doc = PdfParse.parse(bytes)
      val img = doc.pages.head.images.head
      assert(img.pixelWidth == 1200 && img.pixelHeight == 1600, s"$mode")
      // the carried data is the literal JPEG (decrypted when encrypted)
      assert(img.data.length > 2 &&
        (img.data(0) & 0xFF) == 0xFF && (img.data(1) & 0xFF) == 0xD8,
        s"$mode: expected JPEG magic, got ${img.data.take(4).toSeq}")
      val expected = graft.kernel.MediaCodec.renderJpeg(1200, 1600)
      assert(java.util.Arrays.equals(img.data, expected),
        s"$mode: embedded payload must round-trip verbatim")
      // end-to-end: the kernel's S6 page image IS the embedded base64
      val ex = new Extractor(ProbeConfig(includeImages = true))
      val d = ex.extract(bytes)
      assert(d.status == "true", s"$mode: scanned page needs OCR")
      val pageImage = d.pageResults.head.pageImage
      assert(pageImage.contains(Base64.getEncoder.encodeToString(expected)),
        s"$mode: S6 must reuse the embedded JPEG, not re-render")
    }
  }

  test("synthetic corpus CID PDFs take the text path under every CMap") {
    // kind-7 rows (idx ≡ 7 mod 10) carry the real-PDF layouts; the CID ones
    // must decode to text, not degrade to needs-OCR
    val ex = new Extractor(ProbeConfig())
    val pdfs = (7L until 6000L by 10L).map(i => Synth.row(42L, i).html)
      .filter(b => b != null && PdfParse.isRealPdf(b))
      .map(b => (b, new String(b, StandardCharsets.ISO_8859_1)))
    for (marker <- Seq("/Identity-H", "/UniJIS-UCS2-H", "/UniGB-UTF16-H",
        "/90ms-RKSJ-H", "/GBK-EUC-H")) {
      val docs = pdfs.collect { case (b, s) if s.contains(marker) => b }
      assert(docs.nonEmpty, s"no corpus doc carries $marker")
      docs.foreach { b =>
        val r = ex.extract(b)
        assert(r.docKind == "pdf" && r.status != "true" && r.extractedText.length > 500,
          s"$marker: kind=${r.docKind} status=${r.status} text=${r.extractedText.length}")
      }
    }
  }
}

package graft.kernel

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import scala.collection.mutable

/** REAL-PDF text-layer probe — genuine `%PDF-1.x` byte streams, no
  * external library (java.util.zip only).
  *
  * Scope (documented, fixture-tested against the reference's own
  * test_data PDFs in ReferenceFixtureSpec):
  *   - object scan (`N 0 obj … endobj`) without requiring a valid xref —
  *     robust to appended/incremental files;
  *   - page TREE walk from the catalog (`/Root → /Pages → /Kids`) with
  *     `/MediaBox`/`/Resources` inheritance; flat-scan fallback;
  *   - `/Contents` single refs and arrays; `/Filter /FlateDecode`
  *     inflation (zlib);
  *   - show-operator text: literal strings with the standard escapes
  *     (\\ \( \) \n \r \t \b \f, octal \ddd) and hex strings, decoded
  *     through the active font's ToUnicode CMap (`/Name size Tf`
  *     tracking; bfchar + both bfrange forms; 1- and 2-byte codes);
  *   - line structure from the text cursor (absolute first-Td/Tm per BT,
  *     relative later Td/TD, `T*`/`'`); TJ kerning ≤ −150 → word gap;
  *   - image XObjects via `/Resources /XObject`, recursing through Form
  *     XObjects (the standard wrapper for scanned page content).
  *   - PDF 1.5+ object streams (`/Type /ObjStm`): compressed containers of
  *     page/catalog/font dicts, expanded after the flat scan so modern
  *     text-layer PDFs parse instead of degrading to the OCR path;
  *   - stream filters: FlateDecode (with PNG predictors 10–15), LZWDecode,
  *     ASCIIHexDecode, ASCII85Decode, RunLengthDecode, and filter chains
  *     (`/Filter [/A /B]`);
  *   - `/Type /XRef` cross-reference streams are tolerated: the scan-offset
  *     object locator never reads them, and their binary payloads cannot
  *     fabricate phantom objects (the scanner skips stream payload bytes);
  *   - encrypted files (`/Encrypt` in a trailer or XRef-stream dict):
  *     owner-locked files (Standard handler, EMPTY user password — the
  *     common permissions-restricted PDF) are DECRYPTED via [[PdfCrypt]]
  *     (R2–R4 RC4//AESV2, R5/R6 AES-256 /AESV3) and extract normally;
  *     files requiring a real user password or using an unsupported
  *     handler are rejected with a distinct reason, so they surface as
  *     error rows naming encryption instead of silently degrading like
  *     image-only pages.
  * Everything else (CID fonts without ToUnicode, unsupported filters like
  * JBIG2/DCT-only text) degrades to an empty/partial text layer and flows
  * down the SAME needs-OCR path the reference takes for image-only pages
  * (_detector.py:336-423) — degraded, never wrong-kind. The parsed result
  * feeds the existing PdfDoc model, so X1→C1→P1 run unchanged on real PDF
  * bytes.
  */
/** Raised when a PDF carries an `/Encrypt` dictionary this parser cannot
  * open: a real (non-empty) user password, or a handler outside the
  * supported Standard R2–R6 range. Owner-locked files — the common case,
  * empty user password — decrypt via [[PdfCrypt]] and extract normally;
  * only genuinely locked files surface as a DISTINCT error row (X4
  * contract) rather than degrading indistinguishably from an image-only
  * file. The message is the row's `error` reason. */
final class PdfEncryptedException(msg: String) extends Exception(msg) {
  def this() = this(
    "encrypted PDF (/Encrypt): content streams are not decrypted")
}

object PdfParse {

  private val Header = "%PDF-".getBytes(StandardCharsets.US_ASCII)

  // precompiled patterns — PdfParse runs per document inside the kernel,
  // so pattern compilation must happen once per JVM, not once per call
  private val PatObj = Py.re("""(\d+)\s+(\d+)\s+obj""")
  private val PatRef = Py.re("""(\d+)\s+\d+\s+R""")
  private val PatPage = Py.re("""/Type\s*/Page(?![a-zA-Z])""")
  private val PatCatalog = Py.re("""/Type\s*/Catalog""")
  private val PatMediaBox = Py.re(
    """/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]""")
  private val PatContentsRef = Py.re("""/Contents\s+(\d+)\s+\d+\s+R""")
  private val PatContentsArr = Py.re("""/Contents\s*\[([^\]]*)\]""")
  private val PatKids = Py.re("""/Kids\s*\[([^\]]*)\]""")
  private val PatResourcesRef = Py.re("""/Resources\s+(\d+)\s+\d+\s+R""")
  private val PatResourcesInline = Py.re("""/Resources\s*<<""")
  private val PatToUnicodeRef = Py.re("""/ToUnicode\s+(\d+)\s+\d+\s+R""")
  private val PatFontDict = Py.re("""/Font\s*<<([^>]*)>>""")
  private val PatFontEntry = Py.re("""/(\w+)\s+(\d+)\s+\d+\s+R""")
  private val PatXObjDict = Py.re("""/XObject\s*<<([^>]*)>>""")
  private val PatSubImage = Py.re("""/Subtype\s*/Image""")
  private val PatSubForm = Py.re("""/Subtype\s*/Form""")
  private val PatWidth = Py.re("""/Width\s+(\d+)""")
  private val PatHeight = Py.re("""/Height\s+(\d+)""")
  private val PatCodespace = Py.re("""begincodespacerange\s*<([0-9a-fA-F]+)>""")
  private val PatBfchar = Py.re("""beginbfchar([\s\S]*?)endbfchar""")
  private val PatBfrange = Py.re("""beginbfrange([\s\S]*?)endbfrange""")
  private val PatHexPair = Py.re("""<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>""")
  private val PatHexTriple = Py.re(
    """<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>""")
  private val PatHexRangeArr = Py.re(
    """<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*\[([^\]]*)\]""")
  private val PatHexOne = Py.re("""<([0-9a-fA-F]+)>""")
  private val PatObjStm = Py.re("""/Type\s*/ObjStm""")
  private val PatXRefType = Py.re("""/Type\s*/XRef(?![a-zA-Z])""")
  private val PatN = Py.re("""/N\s+(\d+)""")
  private val PatFirst = Py.re("""/First\s+(\d+)""")
  private val PatFilterArr = Py.re("""/Filter\s*\[([^\]]*)\]""")
  private val PatFilterOne = Py.re("""/Filter\s*/(\w+)""")
  private val PatNameTok = Py.re("""/(\w+)""")
  private val PatPredictor = Py.re("""/Predictor\s+(\d+)""")
  private val PatColumns = Py.re("""/Columns\s+(\d+)""")
  private val PatColors = Py.re("""/Colors\s+(\d+)""")
  private val PatBpc = Py.re("""/BitsPerComponent\s+(\d+)""")
  // CCITTFaxDecode /K (inside /DecodeParms): < 0 = pure 2-D (Group 4)
  private val PatCcittK = Py.re("""/K\s+(-?\d+)""")
  private val PatType0 = Py.re("""/Subtype\s*/Type0""")
  private val PatEncodingIdentity = Py.re("""/Encoding\s*/Identity-[HV]""")
  // predefined Unicode-family CMaps (PDF 32000-1 §9.7.5.2 table 118):
  // UCS2 codes ARE UCS-2 values and UTF16 codes ARE UTF-16BE code units
  // by definition, so the text layer decodes exactly without the font
  // program — the 2-unit-per-code loop reconstructs UTF16 surrogate
  // pairs correctly because appending both halves forms the
  // supplementary char. Unlike other predefined CMaps (GBK-EUC,
  // 90ms-RKSJ, …) which stay undecodable without CMap data.
  private val PatEncodingUcs2 =
    Py.re("""/Encoding\s*/Uni(?:GB|CNS|JIS|KS)-(?:UCS2|UTF16)-[HV]""")
  // byte-oriented LEGACY predefined CMaps (PDF 32000-1 table 118, the
  // pre-Unicode CJK producer layouts): their code spaces ARE the byte
  // structure of Shift-JIS / GBK / EUC / Big5 / UHC, so the JDK's public
  // charset decoders perform exactly the mixed 1/2-byte codespace walk
  // plus the code→Unicode mapping — no shipped CMap tables needed
  private val PatEncodingLegacyCjk = Py.re(
    """/Encoding\s*/(90ms-RKSJ|90msp-RKSJ|GBK-EUC|GB-EUC|B5pc|ETen-B5|KSCms-UHC|KSC-EUC)-[HV]""")
  private val PatEncodingName = Py.re("""/Encoding\s*/(\w+)""")
  private val PatEncodingRef = Py.re("""/Encoding\s+(\d+)\s+\d+\s+R""")
  private val PatEncodingInline = Py.re("""/Encoding\s*<<""")
  private val PatBaseEncoding = Py.re("""/BaseEncoding\s*/(\w+)""")
  private val PatDifferences = Py.re("""/Differences\s*\[([^\]]*)\]""")
  // full name tokens (a PDF name runs to the next delimiter): a partial
  // match like /b-caron → "b" would map the code to the WRONG character;
  // matching the whole token lets glyphToUnicode reject unknown forms so
  // the code keeps its byte-identity decode instead
  private val PatDiffTok = Py.re("""(\d+)|/([^\s/\[\]<>()]+)""")
  private val PatLen = Py.re("""/Length\s+(\d+)""")
  private val PatLenIndirectTail = Py.re("""\s+\d+\s+R""")

  def isRealPdf(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= Header.length &&
      java.util.Arrays.equals(bytes, 0, Header.length, Header, 0, Header.length)

  // ---------------------------------------------------------------- parsing

  /** One page leaf with tree-inherited attributes resolved. */
  private final case class PageCtx(
      body: String, box: Option[(Double, Double)], resources: Option[String])

  /** Parse a real PDF byte stream into the probe's PdfDoc model. Pages come
    * from walking the page TREE from the catalog (`/Root → /Pages → /Kids`,
    * in document order, with `/MediaBox` and `/Resources` inheritance per
    * the spec) — orphan `/Type /Page` objects left behind by incremental
    * updates are ignored, matching what real readers report. Falls back to
    * a flat object scan when the tree is unwalkable. Throws on structurally
    * hopeless input (no pages at all) — the Extractor maps that to its
    * error-row channel. */
  def parse(bytes: Array[Byte]): PdfDoc = parse(bytes, needAlt = false)

  /** @param needAlt also compute the SECOND reader's view per page
    *   (`altTextLayer`): geometric line reassembly by text-space position,
    *   including text inside Form XObjects — a genuinely different
    *   algorithm from the cursor-order primary, mirroring how
    *   fitz-vs-pdfplumber disagree on real files (accuracy mode's
    *   longer-layer pick, _detector.py:277-296, can then rescue pages).
    *   Off by default: the performance-mode hot path ("fitz") never reads
    *   it, so the second pass is only paid in accuracy mode. */
  def parse(bytes: Array[Byte], needAlt: Boolean): PdfDoc = {
    val raw = new String(bytes, StandardCharsets.ISO_8859_1) // byte-faithful
    val scanned = scanObjects(raw)
    val crypt = resolveCrypt(raw, scanned)
    val objs = expandObjectStreams(scanned, bytes, crypt)

    val leaves = pageTreeLeaves(objs).getOrElse {
      objs.toVector.sortBy(_._1).collect {
        case (_, o) if isPageObject(o.body) =>
          PageCtx(o.body, mediaBox(o.body), resolveResources(o.body, objs))
      }
    }
    require(leaves.nonEmpty, "no /Type /Page objects found")

    val cmapCache = mutable.Map[String, Map[String, FontCMap]]()
    val pages = leaves.map { leaf =>
      val (w, h) = leaf.box.getOrElse((612.0, 792.0))
      val fonts = leaf.resources
        .map(r => cmapCache.getOrElseUpdate(r, pageFonts(r, objs, bytes, crypt)))
        .getOrElse(Map.empty)
      val streams = contentsRefs(leaf.body)
        .flatMap(objs.get)
        .flatMap(streamData(_, bytes, crypt))
      val text = streams.map(extractTextOps(_, fonts)).mkString("\n")
      val (alt, runs) =
        if (needAlt) {
          val formStreams = leaf.resources
            .map(formXObjectStreams(_, objs, bytes, crypt, fonts))
            .getOrElse(Vector.empty)
          val rs = extractRunsF(streams.map((_, fonts)) ++ formStreams)
          // runs double as the Td/Tm-exact ink source for S5 rasters
          (Some(assembleRuns(rs)), rs.map(r => (r.x, r.y, r.text)))
        } else (None, Vector.empty[(Double, Double, String)])
      val images = leaf.resources
        .map(xobjectImages(_, objs, bytes, crypt)).getOrElse(Vector.empty)
      PdfPage(w, h, text, altTextLayer = alt, images, posRuns = runs)
    }
    PdfDoc(pages)
  }

  /** Decoded content streams of Form XObjects reachable from a resources
    * dict (recursive, cycle-protected), each paired with its EFFECTIVE
    * font map — the form's own /Resources fonts layered over the
    * inherited page fonts, so a form-local Type0-without-ToUnicode font
    * still hits the undecodable-CID degrade instead of decoding as 1-byte
    * mojibake. This is the standard place real readers diverge: the
    * cursor-order primary only reads page content streams, so text drawn
    * via `/Fm0 Do` is invisible to it. */
  private def formXObjectStreams(
      resources: String, objs: Map[Int, PdfObj], bytes: Array[Byte],
      crypt: Option[PdfCrypt],
      inheritedFonts: Map[String, FontCMap],
      visited: mutable.Set[Int] = mutable.Set.empty)
      : Vector[(Array[Byte], Map[String, FontCMap])] = {
    val m = PatXObjDict.matcher(resources)
    if (!m.find()) return Vector.empty
    val rm = PatRef.matcher(m.group(1))
    val out = Vector.newBuilder[(Array[Byte], Map[String, FontCMap])]
    while (rm.find()) {
      val n = rm.group(1).toInt
      if (visited.add(n)) objs.get(n).foreach { o =>
        if (PatSubForm.matcher(o.body).find()) {
          val formRes = resolveResources(o.body, objs)
          val effective = inheritedFonts ++
            formRes.map(pageFonts(_, objs, bytes, crypt)).getOrElse(Map.empty)
          streamData(o, bytes, crypt).foreach(d => out += ((d, effective)))
          formRes.foreach(r =>
            out ++= formXObjectStreams(r, objs, bytes, crypt, effective, visited))
        }
      }
    }
    out.result()
  }

  /** SECOND reader: geometric line reassembly (the "pdfplumber" view).
    *
    * Instead of emitting show-strings in cursor order, every string is
    * recorded as a positioned RUN (text-space x/y tracked through Td, TD,
    * Tm, T-star, TL, quote and TJ kerning, with a nominal glyph-advance
    * estimate), then lines are rebuilt by sorting runs top-to-bottom
    * (descending y, 2pt tolerance) and left-to-right within a line —
    * which linearizes out-of-order emission and multi-column jumps the
    * cursor reader gets wrong, and sees Form-XObject text the cursor
    * reader never visits. */
  private[kernel] def extractTextGeom(
      streams: Seq[Array[Byte]],
      fonts: Map[String, FontCMap] = Map.empty): String =
    extractTextGeomF(streams.map((_, fonts)))

  /** One positioned show-string from the geometric reader: PDF user-space
    * baseline-left origin (y up, points), nominal advance end. */
  private[kernel] final case class TextRun(
      y: Double, x: Double, endX: Double, text: String)

  /** Per-stream font maps variant: form XObjects carry their own
    * /Resources fonts layered over the page's. */
  private[kernel] def extractTextGeomF(
      streams: Seq[(Array[Byte], Map[String, FontCMap])]): String =
    assembleRuns(extractRunsF(streams))

  /** The geometric reader's positioned runs — also the Td/Tm-exact ink
    * source for S5 rasters (MediaCodec.drawRuns). */
  private[kernel] def extractRunsF(
      streams: Seq[(Array[Byte], Map[String, FontCMap])]): Vector[TextRun] = {
    type Run = TextRun
    val Run = TextRun
    val runs = mutable.ArrayBuffer[Run]()
    streams.foreach { case (data, fonts) =>
      val s = new String(data, StandardCharsets.ISO_8859_1)
      var i = 0
      var lineX = 0.0; var lineY = 0.0 // start of current text line
      var x = 0.0; var y = 0.0 // current show position
      var fontSize = 12.0
      var leading = 12.0
      var firstInBt = true
      var bracketDepth = 0
      var lastName = ""
      var currentFont: Option[FontCMap] = None
      var lastShowRun = -1 // runs index of the most recent show string
      def show(raw: String): Unit = {
        val dec = decodeString(raw, currentFont)
        if (dec.nonEmpty) {
          val adv = dec.length * fontSize * 0.5 // nominal glyph advance
          runs += Run(y, x, x + adv, dec)
          lastShowRun = runs.length - 1
          x += adv
        }
      }
      def newLine(dx: Double, dy: Double): Unit = {
        lineX += dx; lineY += dy; x = lineX; y = lineY
      }
      // PDF ' and " semantics are move-to-next-line THEN show, but in the
      // byte stream the operand STRING precedes the operator — so the run
      // was already recorded at the previous line's position; relocate it.
      def quoteOp(): Unit = {
        newLine(0, -leading)
        if (lastShowRun >= 0 && lastShowRun == runs.length - 1) {
          val r = runs(lastShowRun)
          val width = r.endX - r.x
          runs(lastShowRun) = Run(y, x, x + width, r.text)
          x += width
        }
      }
      while (i < s.length) {
        s.charAt(i) match {
          case '(' =>
            val (str, next) = literalString(s, i)
            show(str); i = next
          case '<' if i + 1 < s.length && s.charAt(i + 1) != '<' =>
            val (str, next) = hexString(s, i)
            show(str); i = next
          case '/' =>
            val start = i + 1
            i += 1
            while (i < s.length && (s.charAt(i).isLetterOrDigit ||
              s.charAt(i) == '_' || s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
            lastName = s.substring(start, i)
          case 'T' if i + 1 < s.length && s.charAt(i + 1) == 'f' =>
            currentFont = fonts.get(lastName)
            precedingNumber(s, i).foreach(sz => if (sz > 0) fontSize = sz)
            i += 2
          case 'T' if i + 1 < s.length && s.charAt(i + 1) == 'L' =>
            precedingNumber(s, i).foreach(l => leading = l)
            i += 2
          case '[' => bracketDepth += 1; i += 1
          case ']' => bracketDepth = math.max(0, bracketDepth - 1); i += 1
          case c if bracketDepth > 0 && (c == '-' || (c >= '0' && c <= '9')) =>
            val start = i
            i += 1
            while (i < s.length && "0123456789.+-".indexOf(s.charAt(i)) >= 0) i += 1
            try x -= s.substring(start, i).toDouble / 1000.0 * fontSize
            catch { case _: Exception => }
          case 'B' if i + 1 < s.length && s.charAt(i + 1) == 'T' =>
            firstInBt = true
            lineX = 0.0; lineY = 0.0; x = 0.0; y = 0.0
            i += 2
          case 'B' if isInlineImageStart(s, i) =>
            i = skipInlineImage(s, i)
          case 'T' if i + 1 < s.length && s.charAt(i + 1) == '*' =>
            newLine(0, -leading); i += 2
          case 'T' if i + 1 < s.length &&
            (s.charAt(i + 1) == 'd' || s.charAt(i + 1) == 'D') =>
            val isTD = s.charAt(i + 1) == 'D'
            precedingNumbers(s, i, 2) match {
              case Some(Seq(tx, ty)) =>
                if (isTD) leading = -ty
                if (firstInBt) { lineX = tx; lineY = ty; x = tx; y = ty }
                else newLine(tx, ty)
              case _ =>
            }
            firstInBt = false
            i += 2
          case 'T' if i + 1 < s.length && s.charAt(i + 1) == 'm' =>
            precedingNumbers(s, i, 2) match { // operands e f = position
              case Some(Seq(e, f)) =>
                lineX = e; lineY = f; x = e; y = f
              case _ =>
            }
            firstInBt = false
            i += 2
          case '\'' | '"' =>
            quoteOp(); i += 1
          case _ => i += 1
        }
      }
    }
    runs.toVector
  }

  /** Linearize positioned runs: top-to-bottom lines (2pt y tolerance),
    * left-to-right runs, horizontal gap = word break. */
  private def assembleRuns(runs: Vector[TextRun]): String = {
    val sorted = runs.sortBy(r => (-r.y, r.x))
    val sb = new StringBuilder
    var curY = Double.NaN
    var curEndX = 0.0
    sorted.foreach { r =>
      if (curY.isNaN) curY = r.y
      else if (curY - r.y > 2.0) { sb.append('\n'); curY = r.y; curEndX = 0.0 }
      else if (sb.nonEmpty && sb.last != '\n' && sb.last != ' ' &&
        r.x - curEndX > 1.5) sb.append(' ') // horizontal gap = word break
      sb.append(r.text)
      curEndX = r.endX
    }
    sb.toString
  }

  /** The last `n` numeric tokens immediately preceding the operator at
    * `opIdx` (its trailing operands, in source order). */
  private def precedingNumbers(
      s: String, opIdx: Int, n: Int): Option[Seq[Double]] = {
    val out = new Array[Double](n)
    var j = opIdx - 1
    var k = n - 1
    while (k >= 0) {
      while (j >= 0 && (s.charAt(j) == ' ' || s.charAt(j) == '\n' ||
        s.charAt(j) == '\r' || s.charAt(j) == '\t')) j -= 1
      val end = j + 1
      while (j >= 0 && "0123456789.+-".indexOf(s.charAt(j)) >= 0) j -= 1
      val tok = s.substring(j + 1, end)
      if (tok.isEmpty) return None
      try out(k) = tok.toDouble catch { case _: Exception => return None }
      k -= 1
    }
    Some(out.toSeq)
  }

  // -------------------------------------------------------------- ToUnicode

  /** A font's character decoding: code width in bytes, the ToUnicode
    * code→string map (PDF 32000-1 §9.10.3), and — for Type0 fonts that
    * declare `/Encoding /Identity-H|V` but embed no ToUnicode — the
    * Unicode-CID passthrough flag (see `decodeIdentityCid`). */
  private[kernel] final case class FontCMap(
      bytesPerCode: Int, map: Map[Int, String],
      identityCid: Boolean = false,
      ucs2: Boolean = false,
      // JDK charset name for byte-oriented legacy predefined CMaps
      // (90ms-RKSJ → windows-31j, GBK-EUC → GBK, …); "" = none
      legacyCharset: String = "")

  /** Resolve the /Font dict of a resources dict into per-name CMaps.
    * Simple fonts without a ToUnicode stream decode byte-identically
    * (standard Latin encodings) — correct for that subset. COMPOSITE
    * (/Subtype /Type0, CID) fonts without ToUnicode split by /Encoding:
    *
    *   - `/Identity-H|V`: CID = 2-byte code directly (PDF 32000-1 §9.7.5.2).
    *     The dominant no-ToUnicode producer pattern maps CIDs straight to
    *     Unicode code points (CIDToGIDMap tracks the font's Unicode cmap),
    *     so codes decode via the plausibility-guarded passthrough in
    *     `decodeIdentityCid` — this rescues the text layer of most
    *     subsetted western and Unicode-CID CJK PDFs (the reference gets
    *     the same text free via PyMuPDF's font program access,
    *     _detector.py:250-296, which we don't ship).
    *   - `/Uni{GB,CNS,JIS,KS}-{UCS2,UTF16}-{H,V}`: the predefined
    *     Unicode-family CMaps whose codes are UCS-2 values / UTF-16BE
    *     code units by definition — EXACT verbatim decode (surrogate
    *     pairs reassemble by appending both halves), the layouts legacy
    *     and modern CJK producers emit (table 118, PDF 32000-1).
    *   - byte-oriented LEGACY predefined CMaps (`90ms-RKSJ-H`,
    *     `GBK-EUC-H`, `B5pc-H`, `KSCms-UHC-H`, … — the pre-2005 CJK
    *     producer layouts): the code space IS the byte structure of the
    *     family's defining charset (Shift-JIS / GBK / EUC / Big5 / UHC),
    *     so show strings decode EXACTLY through the JDK's public charset
    *     decoders — the mixed 1/2-byte codespace walk plus code→Unicode,
    *     no shipped CMap tables (see `legacyCmapCharset`). This is the
    *     text layer the reference reads free via PyMuPDF
    *     (_detector.py:250-296).
    *   - anything else (other predefined CMap names, missing): UNDECODABLE
    *     without the font program — marked with an empty 2-byte CMap so
    *     show strings yield NO text (instead of 1-byte mojibake that would
    *     inflate text_length and misroute the page as native text); the
    *     page degrades to the needs-OCR path, the same conservative
    *     direction the reference takes when the text layer is absent. */
  private def pageFonts(
      resources: String, objs: Map[Int, PdfObj],
      bytes: Array[Byte], crypt: Option[PdfCrypt]): Map[String, FontCMap] = {
    val fm = PatFontDict.matcher(resources)
    if (!fm.find()) return Map.empty
    val em = PatFontEntry.matcher(fm.group(1))
    val out = mutable.Map[String, FontCMap]()
    while (em.find()) {
      val name = em.group(1)
      objs.get(em.group(2).toInt).foreach { fontObj =>
        firstRef(fontObj.body, PatToUnicodeRef) match {
          case Some(tuRef) =>
            for {
              tuObj <- objs.get(tuRef)
              data <- streamData(tuObj, bytes, crypt)
            } out(name) = parseCMap(new String(data, StandardCharsets.ISO_8859_1))
          case None if PatType0.matcher(fontObj.body).find() =>
            val identity = PatEncodingIdentity.matcher(fontObj.body).find()
            // UCS2-family predefined CMaps: the 2-byte show-string codes
            // ARE UCS-2 code points by the CMap's definition (the CID
            // lookup happens downstream of text content), so the decode
            // is EXACT, not heuristic — no plausibility guard needed
            val ucs2 = PatEncodingUcs2.matcher(fontObj.body).find()
            out(name) = FontCMap(2, Map.empty,
              identityCid = identity, ucs2 = ucs2,
              legacyCharset = legacyCmapCharset(fontObj.body))
          case None =>
            // simple font: byte-identity decode, EXCEPT where an explicit
            // /Encoding (WinAnsi/MacRoman base, /Differences glyph names)
            // remaps codes — §9.6.5
            val enc = simpleFontEncoding(fontObj.body, objs)
            if (enc.nonEmpty) out(name) = FontCMap(1, enc)
        }
      }
    }
    out.toMap
  }

  private def hexToInt(h: String): Int = java.lang.Integer.parseInt(h, 16)

  /** UTF-16BE hex digits → string (bfchar/bfrange destination values). */
  private def hexToUtf16(h: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i + 4 <= h.length) {
      sb.append(hexToInt(h.substring(i, i + 4)).toChar)
      i += 4
    }
    sb.toString
  }

  /** Parse a ToUnicode CMap stream: codespacerange width + bfchar/bfrange
    * sections (both destination forms). */
  private[kernel] def parseCMap(src: String): FontCMap = {
    val map = mutable.Map[Int, String]()
    var width = 1
    val cs = PatCodespace.matcher(src)
    if (cs.find()) width = math.max(1, cs.group(1).length / 2)

    val bfchar = PatBfchar.matcher(src)
    while (bfchar.find()) {
      val pair = PatHexPair.matcher(bfchar.group(1))
      while (pair.find())
        map(hexToInt(pair.group(1))) = hexToUtf16(pair.group(2))
    }
    val bfrange = PatBfrange.matcher(src)
    while (bfrange.find()) {
      val body = bfrange.group(1)
      // form 1: <lo> <hi> <dstStart>
      val r1 = PatHexTriple.matcher(body)
      while (r1.find()) {
        val lo = hexToInt(r1.group(1)); val hi = hexToInt(r1.group(2))
        val dst = r1.group(3)
        var c = lo
        while (c <= hi) {
          // increment the LAST UTF-16 unit of the destination
          val base = hexToUtf16(dst)
          if (base.nonEmpty)
            map(c) = base.init + (base.last + (c - lo)).toChar
          c += 1
        }
      }
      // form 2: <lo> <hi> [<d1> <d2> ...]
      val r2 = PatHexRangeArr.matcher(body)
      while (r2.find()) {
        val lo = hexToInt(r2.group(1))
        val dm = PatHexOne.matcher(r2.group(3))
        var c = lo
        while (dm.find()) { map(c) = hexToUtf16(dm.group(1)); c += 1 }
      }
    }
    FontCMap(width, map.toMap)
  }

  // ------------------------------------------------- simple-font encodings

  /** Adobe Glyph List subset (AGL is public Adobe data): the names real
    * /Differences arrays use for western text — ASCII punctuation/digits,
    * typographic marks, and the Latin-1 accented set. Single-letter names
    * are the letters themselves; `uniXXXX`/`uXXXX` parse as hex. */
  private val GlyphNames: Map[String, String] = {
    val m = mutable.Map[String, String]()
    ('A' to 'Z').foreach(c => m(c.toString) = c.toString)
    ('a' to 'z').foreach(c => m(c.toString) = c.toString)
    val digits = Seq("zero", "one", "two", "three", "four", "five", "six",
      "seven", "eight", "nine")
    digits.zipWithIndex.foreach { case (n, i) => m(n) = i.toString }
    Seq(
      "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"",
      "numbersign" -> "#", "dollar" -> "$", "percent" -> "%",
      "ampersand" -> "&", "quotesingle" -> "'", "parenleft" -> "(",
      "parenright" -> ")", "asterisk" -> "*", "plus" -> "+", "comma" -> ",",
      "hyphen" -> "-", "period" -> ".", "slash" -> "/", "colon" -> ":",
      "semicolon" -> ";", "less" -> "<", "equal" -> "=", "greater" -> ">",
      "question" -> "?", "at" -> "@", "bracketleft" -> "[",
      "backslash" -> "\\", "bracketright" -> "]", "asciicircum" -> "^",
      "underscore" -> "_", "grave" -> "`", "braceleft" -> "{", "bar" -> "|",
      "braceright" -> "}", "asciitilde" -> "~",
      // typographic
      "quoteleft" -> "‘", "quoteright" -> "’",
      "quotedblleft" -> "“", "quotedblright" -> "”",
      "quotesinglbase" -> "‚", "quotedblbase" -> "„",
      "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
      "ellipsis" -> "…", "dagger" -> "†", "daggerdbl" -> "‡",
      "perthousand" -> "‰", "guilsinglleft" -> "‹",
      "guilsinglright" -> "›", "fi" -> "ﬁ", "fl" -> "ﬂ",
      "florin" -> "ƒ", "fraction" -> "⁄", "minus" -> "−",
      "Euro" -> "€", "trademark" -> "™",
      // Latin-1 supplement
      "exclamdown" -> "¡", "cent" -> "¢", "sterling" -> "£",
      "currency" -> "¤", "yen" -> "¥", "brokenbar" -> "¦",
      "section" -> "§", "dieresis" -> "¨", "copyright" -> "©",
      "ordfeminine" -> "ª", "guillemotleft" -> "«",
      "logicalnot" -> "¬", "registered" -> "®", "macron" -> "¯",
      "degree" -> "°", "plusminus" -> "±", "acute" -> "´",
      "mu" -> "µ", "paragraph" -> "¶", "periodcentered" -> "·",
      "cedilla" -> "¸", "ordmasculine" -> "º",
      "guillemotright" -> "»", "onequarter" -> "¼",
      "onehalf" -> "½", "threequarters" -> "¾",
      "questiondown" -> "¿", "multiply" -> "×",
      "divide" -> "÷",
      "Agrave" -> "À", "Aacute" -> "Á", "Acircumflex" -> "Â",
      "Atilde" -> "Ã", "Adieresis" -> "Ä", "Aring" -> "Å",
      "AE" -> "Æ", "Ccedilla" -> "Ç", "Egrave" -> "È",
      "Eacute" -> "É", "Ecircumflex" -> "Ê",
      "Edieresis" -> "Ë", "Igrave" -> "Ì", "Iacute" -> "Í",
      "Icircumflex" -> "Î", "Idieresis" -> "Ï", "Eth" -> "Ð",
      "Ntilde" -> "Ñ", "Ograve" -> "Ò", "Oacute" -> "Ó",
      "Ocircumflex" -> "Ô", "Otilde" -> "Õ",
      "Odieresis" -> "Ö", "Oslash" -> "Ø", "Ugrave" -> "Ù",
      "Uacute" -> "Ú", "Ucircumflex" -> "Û",
      "Udieresis" -> "Ü", "Yacute" -> "Ý", "Thorn" -> "Þ",
      "germandbls" -> "ß",
      "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â",
      "atilde" -> "ã", "adieresis" -> "ä", "aring" -> "å",
      "ae" -> "æ", "ccedilla" -> "ç", "egrave" -> "è",
      "eacute" -> "é", "ecircumflex" -> "ê",
      "edieresis" -> "ë", "igrave" -> "ì", "iacute" -> "í",
      "icircumflex" -> "î", "idieresis" -> "ï", "eth" -> "ð",
      "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
      "ocircumflex" -> "ô", "otilde" -> "õ",
      "odieresis" -> "ö", "oslash" -> "ø", "ugrave" -> "ù",
      "uacute" -> "ú", "ucircumflex" -> "û",
      "udieresis" -> "ü", "yacute" -> "ý", "thorn" -> "þ",
      "ydieresis" -> "ÿ",
      "OE" -> "Œ", "oe" -> "œ", "Scaron" -> "Š",
      "scaron" -> "š", "Zcaron" -> "Ž", "zcaron" -> "ž",
      "Ydieresis" -> "Ÿ", "dotlessi" -> "ı",
      "circumflex" -> "ˆ", "tilde" -> "˜", "caron" -> "ˇ",
      "breve" -> "˘", "dotaccent" -> "˙", "ring" -> "˚",
      "ogonek" -> "˛", "hungarumlaut" -> "˝"
    ).foreach { case (k, v) => m(k) = v }
    m.toMap
  }

  /** AGL glyph name → Unicode string per the public AGL specification:
    * '.'-suffixed variants (a.sc, one.oldstyle) map like their base name;
    * uniXXXX[YYYY…] is a SEQUENCE of 4-hex-digit BMP units (all decoded,
    * surrogate values rejected); uXXXX[X[X]] is one code point; anything
    * unrecognized (b-caron, gNN, ornament names) → None, which keeps the
    * code's byte-identity decode instead of emitting a wrong character. */
  private[kernel] def glyphToUnicode(name: String): Option[String] = {
    val base = name.indexOf('.') match {
      case i if i > 0 => name.substring(0, i)
      case _ => name
    }
    if (base.startsWith("uni") && base.length > 3) {
      val hex = base.substring(3)
      // a PARTIAL parse (first 4 digits of uniXXXXYYYY) would decode the
      // wrong text — malformed or surrogate groups reject the whole name
      if (hex.length % 4 != 0 ||
        !hex.forall(c => Character.digit(c, 16) >= 0)) None
      else {
        val units = hex.grouped(4).map(hexToInt).toSeq
        if (units.exists(u => u >= 0xD800 && u <= 0xDFFF)) None
        else Some(units.map(_.toChar).mkString)
      }
    } else if (base.length >= 5 && base.length <= 7 && base.charAt(0) == 'u' &&
      base.drop(1).forall(c => Character.digit(c, 16) >= 0)) {
      try Some(new String(Character.toChars(
        java.lang.Integer.parseInt(base.drop(1), 16))))
      catch { case _: Exception => None }
    } else GlyphNames.get(base)
  }

  /** Decode map of a simple font's /Encoding (PDF 32000-1 §9.6.5): base
    * encoding deltas vs Latin-1 identity (WinAnsi = windows-1252 high
    * range, MacRoman via the JDK charset when present) overlaid with the
    * /Differences glyph-name remap. Empty when the font carries no
    * encoding information beyond the identity default. */
  private def simpleFontEncoding(
      fontBody: String, objs: Map[Int, PdfObj]): Map[Int, String] = {
    // the encoding is a bare name, an inline dict, or an indirect dict
    val encDict: Option[String] =
      firstRef(fontBody, PatEncodingRef).flatMap(objs.get).map(_.body).orElse {
        val m = PatEncodingInline.matcher(fontBody)
        if (m.find()) Some(balancedDict(fontBody, m.end() - 2)) else None
      }
    val baseName: Option[String] = encDict match {
      case Some(d) =>
        val m = PatBaseEncoding.matcher(d)
        if (m.find()) Some(m.group(1)) else None
      case None =>
        val m = PatEncodingName.matcher(fontBody)
        if (m.find()) Some(m.group(1)) else None
    }
    val out = mutable.Map[Int, String]()
    baseName.flatMap(charsetFor).foreach { cs =>
      var code = 0x80 // 0x00-0x7F is ASCII in every base encoding
      while (code <= 0xFF) {
        val s = new String(Array(code.toByte), cs)
        if (s.length == 1 && s.charAt(0) != '�' &&
          s.charAt(0) != code.toChar) out(code) = s
        code += 1
      }
    }
    encDict.foreach { d =>
      val dm = PatDifferences.matcher(d)
      while (dm.find()) {
        val tok = PatDiffTok.matcher(dm.group(1))
        var code = -1
        while (tok.find()) {
          if (tok.group(1) != null) code = tok.group(1).toInt
          else if (code >= 0 && code <= 0xFF) {
            glyphToUnicode(tok.group(2)).foreach(out(code) = _)
            code += 1
          }
        }
      }
    }
    out.toMap
  }

  private def charsetFor(base: String): Option[java.nio.charset.Charset] =
    base match {
      case "WinAnsiEncoding" => Some(java.nio.charset.Charset.forName("windows-1252"))
      case "MacRomanEncoding" if java.nio.charset.Charset.isSupported("x-MacRoman") =>
        Some(java.nio.charset.Charset.forName("x-MacRoman"))
      case _ => None // StandardEncoding/unknown: identity is the best default
    }

  /** Identity-H/V CID decode without a ToUnicode CMap: treat each 2-byte
    * CID as a BMP code point, guarded against fabrication. Subset fonts
    * whose CIDs are raw GLYPH INDICES assign small ints (gid 1, 2, 3 …) —
    * those land in the control range and fail the plausibility test, so a
    * glyph-index string degrades to "" (needs-OCR) instead of decoding as
    * garbage; Unicode-CID strings (printable ASCII, Latin-1, letters and
    * digits in any script, general punctuation) pass through intact. The
    * whole string is rejected unless ≥80% of its codes are plausible —
    * a mixed string is more likely glyph-indexed than Unicode-CID.
    *
    * Second guard, structural: larger subset fonts assign letter glyphs
    * gids ~36–150, which land INSIDE the Latin plausibility ranges and
    * would decode as shifted-alphabet mojibake the per-code test cannot
    * catch — inflating text_length and misrouting pages off the needs-OCR
    * path. Real Latin text carries vowel mass (~38% of letters, vs ~19%
    * expected when a shift permutes the alphabet), so a long space-free
    * Latin-only run must also look word-shaped: ≥25% of its ASCII letters
    * vowels (aeiouy). Runs with spaces, non-Latin letters, or fewer than
    * 12 letters keep the per-code test alone — they either already show
    * structure a gid band cannot produce, or are single-word-sized. The
    * 12-letter floor matters: word-per-Tj producers draw each word as its
    * own space-free run, and legitimate low-vowel English words reach 10
    * letters ("strengths", "twelfths", "Bridgnorth") — rejecting those
    * would DELETE real words from extractedText. 12+-letter words below
    * 25% vowels essentially don't occur in natural Latin text, while
    * line-level mojibake runs comfortably exceed 12 letters. */
  private[kernel] def decodeIdentityCid(rawStr: String): String = {
    val n = rawStr.length / 2
    if (n == 0) return ""
    val sb = new StringBuilder(n)
    var plausible = 0
    var asciiLetters = 0
    var vowels = 0
    var spaces = 0
    var nonLatin = 0
    var i = 0
    while (i + 1 < rawStr.length) {
      val c = ((rawStr.charAt(i) & 0xFF) << 8) | (rawStr.charAt(i + 1) & 0xFF)
      // plausible text: printable ASCII, Latin-1, general punctuation,
      // CJK symbols/punctuation (U+3000-303F incl. ideographic space and
      // 。、「」), fullwidth/halfwidth forms (U+FF00-FFEF), letters/digits
      // in any script — so real CJK sentences keep their punctuation
      val ok = (c >= 0x20 && c <= 0x7E) || (c >= 0xA0 && c <= 0xFF) ||
        (c >= 0x2000 && c <= 0x206F) || (c >= 0x3000 && c <= 0x303F) ||
        (c >= 0xFF00 && c <= 0xFFEF) || Character.isLetterOrDigit(c)
      if (ok) {
        plausible += 1
        sb.append(c.toChar)
        if (c == 0x20) spaces += 1
        else if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
          asciiLetters += 1
          val lc = c | 0x20
          if (lc == 'a' || lc == 'e' || lc == 'i' || lc == 'o' ||
            lc == 'u' || lc == 'y') vowels += 1
        } else if (c > 0xFF) nonLatin += 1
      }
      i += 2
    }
    if (plausible.toDouble / n < 0.8) return ""
    if (asciiLetters >= 12 && spaces == 0 && nonLatin == 0 &&
      vowels.toDouble / asciiLetters < 0.25) return ""
    sb.toString
  }

  /** JDK charset for a byte-oriented legacy predefined CMap /Encoding
    * name, "" when absent or the charset is not installed. The mapping
    * is the CMap families' DEFINING character sets (Adobe CMap
    * resources, public): 90ms/90msp-RKSJ = Microsoft Shift-JIS (CP932),
    * GBK-EUC = GBK, GB-EUC = EUC-CN, B5pc/ETen-B5 = Big5,
    * KSCms-UHC = UHC (CP949), KSC-EUC = EUC-KR. */
  private[kernel] def legacyCmapCharset(fontBody: String): String = {
    val m = PatEncodingLegacyCjk.matcher(fontBody)
    if (!m.find()) return ""
    val cs = m.group(1) match {
      case "90ms-RKSJ" | "90msp-RKSJ" => "windows-31j"
      case "GBK-EUC" => "GBK"
      case "GB-EUC" => "GB2312"
      case "B5pc" | "ETen-B5" => "Big5"
      case "KSCms-UHC" => "x-windows-949"
      case "KSC-EUC" => "EUC-KR"
      case _ => ""
    }
    if (cs.nonEmpty && java.nio.charset.Charset.isSupported(cs)) cs else ""
  }

  /** Per-thread decoder cache for the legacy-CMap charsets: a CJK page
    * has hundreds of show strings, and a fresh registry lookup +
    * CharsetDecoder allocation per Tj would be pure churn on the kernel
    * hot path. Decoders are stateful (not thread-safe) but reusable via
    * reset(); extraction is single-threaded within a task, so one
    * decoder per (thread, charset) is exact. */
  private val legacyDecoders =
    new ThreadLocal[mutable.HashMap[String, java.nio.charset.CharsetDecoder]] {
      override def initialValue() = mutable.HashMap.empty
    }

  /** Decode a legacy-CMap show string: the raw code bytes through the
    * CMap family's defining charset (the JDK decoder IS the mixed
    * 1/2-byte codespace walk). NULs and unmappable/malformed sequences
    * yield nothing — garbage never masquerades as text, so a broken
    * stream still degrades to the needs-OCR path. */
  private[kernel] def decodeLegacyCjk(rawStr: String, charset: String): String = {
    val bytes = new Array[Byte](rawStr.length)
    var i = 0
    while (i < rawStr.length) { bytes(i) = rawStr.charAt(i).toByte; i += 1 }
    val dec = legacyDecoders.get().getOrElseUpdate(charset,
      java.nio.charset.Charset.forName(charset).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE))
    dec.reset()
    try dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      .filter(c => c != '\u0000' && c != '\uFFFD')
    catch { case _: Exception => "" }
  }

  /** Decode a raw show-string (chars = bytes) through the active font. */
  private def decodeString(rawStr: String, font: Option[FontCMap]): String =
    font match {
      case None => rawStr
      case Some(f) if f.bytesPerCode == 2 && f.map.isEmpty =>
        // Unicode-family predefined CMap (UCS2/UTF16): codes are UCS-2 /
        // UTF-16BE units by definition — exact verbatim decode (NULs
        // dropped; appending both surrogate halves reassembles UTF16
        // supplementary chars). Byte-oriented legacy CMap (90ms-RKSJ,
        // GBK-EUC, …): exact decode through the family's defining JDK
        // charset. Identity-encoded CID: guarded Unicode passthrough.
        // Otherwise undecodable CID font: degrade (1-byte fonts keep
        // identity).
        if (f.ucs2) {
          val sb = new StringBuilder(rawStr.length / 2)
          var i = 0
          while (i + 1 < rawStr.length) {
            val c = ((rawStr.charAt(i) & 0xFF) << 8) | (rawStr.charAt(i + 1) & 0xFF)
            if (c != 0) sb.append(c.toChar)
            i += 2
          }
          sb.toString
        } else if (f.legacyCharset.nonEmpty)
          decodeLegacyCjk(rawStr, f.legacyCharset)
        else if (f.identityCid) decodeIdentityCid(rawStr)
        else ""
      case Some(f) if f.bytesPerCode == 1 =>
        val sb = new StringBuilder
        var i = 0
        while (i < rawStr.length) {
          val c = rawStr.charAt(i) & 0xFF
          f.map.get(c) match {
            case Some(u) => sb.append(u)
            case None => sb.append(rawStr.charAt(i)) // simple-font identity
          }
          i += 1
        }
        sb.toString
      case Some(f) => // 2-byte codes (CID)
        val sb = new StringBuilder
        var i = 0
        while (i + 1 < rawStr.length) {
          val c = ((rawStr.charAt(i) & 0xFF) << 8) | (rawStr.charAt(i + 1) & 0xFF)
          sb.append(f.map.getOrElse(c, "�"))
          i += 2
        }
        sb.toString
    }

  private val PatPagesRef = Py.re("""/Pages\s+(\d+)\s+\d+\s+R""")

  private def firstRef(body: String, pat: java.util.regex.Pattern): Option[Int] = {
    val m = pat.matcher(body)
    if (m.find()) Some(m.group(1).toInt) else None
  }

  /** `/Resources` of a node: inline dict content or resolved indirect
    * object body. */
  private def resolveResources(body: String, objs: Map[Int, PdfObj]): Option[String] = {
    firstRef(body, PatResourcesRef).flatMap(objs.get).map(_.body).orElse {
      val m = PatResourcesInline.matcher(body)
      if (m.find()) Some(body.substring(m.end() - 2)) else None
    }
  }

  /** Document-order page leaves via the catalog's page tree, with MediaBox
    * and Resources inheritance. None when the tree cannot be walked. */
  private def pageTreeLeaves(objs: Map[Int, PdfObj]): Option[Vector[PageCtx]] = {
    val catalog = objs.values.map(_.body).find(b =>
      PatCatalog.matcher(b).find())
    catalog.flatMap(firstRef(_, PatPagesRef)).flatMap(objs.get).map(_.body).map { root =>
      val out = Vector.newBuilder[PageCtx]
      val visited = mutable.Set[Int]()
      def kidsOf(body: String): Vector[Int] = {
        val m = PatKids.matcher(body)
        if (!m.find()) return Vector.empty
        val rm = PatRef.matcher(m.group(1))
        val refs = Vector.newBuilder[Int]
        while (rm.find()) refs += rm.group(1).toInt
        refs.result()
      }
      def walk(body: String, box: Option[(Double, Double)],
          res: Option[String]): Unit = {
        val myBox = mediaBox(body).orElse(box)
        val myRes = resolveResources(body, objs).orElse(res)
        if (isPageObject(body)) out += PageCtx(body, myBox, myRes)
        else kidsOf(body).foreach { n =>
          if (visited.add(n)) objs.get(n).foreach(o => walk(o.body, myBox, myRes))
        }
      }
      walk(root, None, None)
      out.result()
    }.filter(_.nonEmpty)
  }

  /** One scanned object: its DICT text (stream payload excluded), the dict's
    * offset in the raw file, and — for stream objects — the payload's exact
    * byte range, located once at scan time. Objects expanded out of an
    * ObjStm carry `start = -1` and no payload range (the spec forbids
    * streams inside object streams). */
  private[kernel] final case class PdfObj(
      num: Int, gen: Int, body: String, start: Int,
      streamRange: Option[(Int, Int)] = None)

  /** All `N 0 obj … endobj` bodies keyed by object number (generation
    * ignored — last definition wins, like incremental-update semantics).
    *
    * Stream-payload-aware: when an object is a stream object, the payload
    * byte range is framed by the dict's DIRECT `/Length` when present and
    * consistent (so payload bytes containing `endstream` cannot truncate
    * the stream), with an `endstream` scan as the fallback for indirect
    * or missing lengths — and the scanner JUMPS past the payload either
    * way, so binary payload bytes that happen to contain `N 0 obj` /
    * `endobj` sequences cannot fabricate phantom objects, and dict
    * regexes never run over payload bytes. */
  private def scanObjects(raw: String): Map[Int, PdfObj] = {
    val m = PatObj.matcher(raw)
    val out = mutable.Map[Int, PdfObj]()
    var skipUntil = 0
    while (m.find()) {
      if (m.start() >= skipUntil) {
        val num = m.group(1).toInt
        val gen = m.group(2).toInt
        val bodyStart = m.end()
        val e0 = raw.indexOf("endobj", bodyStart)
        val s0 = streamKeywordAt(raw, bodyStart, e0)
        if (s0 >= 0) {
          val dict = raw.substring(bodyStart, s0)
          var dataStart = s0 + "stream".length
          if (dataStart < raw.length && raw.charAt(dataStart) == '\r') dataStart += 1
          if (dataStart < raw.length && raw.charAt(dataStart) == '\n') dataStart += 1
          // exact framing via direct /Length, validated against the bytes
          val exactEnd = directLength(dict)
            .map(dataStart + _)
            .filter(end => end <= raw.length && endstreamFollows(raw, end))
          exactEnd match {
            case Some(end) =>
              out(num) = PdfObj(num, gen, dict, bodyStart, Some((dataStart, end)))
              skipUntil = raw.indexOf("endstream", end) + "endstream".length
            case None =>
              val dataEnd = raw.indexOf("endstream", dataStart)
              if (dataEnd >= 0) {
                var trimmedEnd = dataEnd
                if (trimmedEnd > dataStart && raw.charAt(trimmedEnd - 1) == '\n') trimmedEnd -= 1
                if (trimmedEnd > dataStart && raw.charAt(trimmedEnd - 1) == '\r') trimmedEnd -= 1
                out(num) = PdfObj(num, gen, dict, bodyStart, Some((dataStart, trimmedEnd)))
                skipUntil = dataEnd + "endstream".length
              } else {
                // truncated stream: keep the dict, payload unusable
                out(num) = PdfObj(num, gen, dict, bodyStart, None)
                skipUntil = dataStart
              }
          }
        } else if (e0 >= 0) {
          out(num) = PdfObj(num, gen, raw.substring(bodyStart, e0), bodyStart, None)
        }
      }
    }
    out.toMap
  }

  /** The dict's `/Length` when it is a DIRECT integer (None for the
    * indirect `/Length N 0 R` form, which this scan cannot resolve yet). */
  private def directLength(dict: String): Option[Int] = {
    val m = PatLen.matcher(dict)
    if (!m.find()) return None
    val tail = PatLenIndirectTail.matcher(dict)
    tail.region(m.end(), dict.length)
    if (tail.lookingAt()) None // indirect reference
    else try Some(m.group(1).toInt) catch { case _: Exception => None }
  }

  /** Does `endstream` follow at `pos`, allowing the spec's optional EOL? */
  private def endstreamFollows(raw: String, pos: Int): Boolean = {
    var j = pos
    if (j < raw.length && raw.charAt(j) == '\r') j += 1
    if (j < raw.length && raw.charAt(j) == '\n') j += 1
    raw.startsWith("endstream", j)
  }

  /** Index of this object's `stream` KEYWORD (not part of a name or of
    * `endstream`, followed by an EOL per the spec), or -1 when the object
    * has no stream before its `endobj`. */
  private def streamKeywordAt(raw: String, from: Int, endobj: Int): Int = {
    var i = raw.indexOf("stream", from)
    while (i >= 0 && (endobj < 0 || i < endobj)) {
      val prevOk = i == 0 || { val c = raw.charAt(i - 1)
        c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '>' }
      val nextOk = i + 6 < raw.length && {
        val c = raw.charAt(i + 6); c == '\n' || c == '\r' }
      if (prevOk && nextOk) return i
      i = raw.indexOf("stream", i + 1)
    }
    -1
  }

  // ------------------------------------------------------- object streams

  /** Expand `/Type /ObjStm` containers (PDF 1.5+, ISO 32000-1 §7.5.7):
    * each holds N compressed objects framed by an `n_1 off_1 … n_N off_N`
    * header at stream start, bodies at `/First + off_i`. Modern writers
    * put the catalog, page tree and font dicts here — without this
    * expansion such files scan to zero page objects and text-layer PDFs
    * misroute to the needs-OCR path. Direct (top-level) definitions win on
    * number collisions: the flat scan already honors last-definition-wins
    * for incremental updates, and a phantom inside a decoded payload must
    * never shadow a real object. */
  private def expandObjectStreams(
      objs: Map[Int, PdfObj], bytes: Array[Byte],
      crypt: Option[PdfCrypt]): Map[Int, PdfObj] = {
    val extra = mutable.Map[Int, PdfObj]()
    objs.values.foreach { o =>
      if (PatObjStm.matcher(o.body).find()) {
        for {
          data <- streamData(o, bytes, crypt)
          n <- firstRef(o.body, PatN)
          first <- firstRef(o.body, PatFirst)
          if first <= data.length
        } {
          val s = new String(data, StandardCharsets.ISO_8859_1)
          val header = s.substring(0, first)
          val toks = header.trim.split("\\s+").filter(_.nonEmpty)
          val pairs = toks.grouped(2).collect {
            case Array(numS, offS) if numS.forall(_.isDigit) && offS.forall(_.isDigit) =>
              (numS.toInt, offS.toInt)
          }.take(n).toVector
          pairs.zipWithIndex.foreach { case ((num, off), i) =>
            val start = first + off
            val end =
              if (i + 1 < pairs.length) math.min(first + pairs(i + 1)._2, s.length)
              else s.length
            if (start >= 0 && start <= end && end <= s.length &&
              !objs.contains(num) && !extra.contains(num))
              extra(num) = PdfObj(num, 0, s.substring(start, end), -1, None)
          }
        }
      }
    }
    objs ++ extra
  }

  /** `/Encrypt` resolution — looked for ONLY in classic `trailer` dicts and
    * in `/Type /XRef` stream dicts (the two places the spec puts it), never
    * in content payloads, so text ABOUT encryption can't false-positive.
    * Owner-locked files (empty user password) come back as Some(crypt) and
    * decrypt transparently; password-locked/unsupported files throw
    * [[PdfEncryptedException]] (→ distinct error row, X4 contract). */
  private def resolveCrypt(
      raw: String, objs: Map[Int, PdfObj]): Option[PdfCrypt] = {
    // walk the FULL balanced trailer dicts (may nest << /ID … >> and can
    // exceed any fixed window — a missed /Encrypt would silently bypass
    // the X4 encryption contract)
    val trailers = mutable.ArrayBuffer[String]()
    var i = raw.indexOf("trailer")
    while (i >= 0) {
      val dict = balancedDict(raw, i)
      if (dict.nonEmpty) trailers += dict
      i = raw.indexOf("trailer", i + "trailer".length)
    }
    val xrefDicts = objs.values.toSeq.sortBy(_.num)
      .collect { case o if PatXRefType.matcher(o.body).find() => o.body }
    PdfCrypt.resolve(trailers.toSeq ++ xrefDicts,
      num => objs.get(num).map(_.body))
  }

  /** The balanced `<< … >>` dict starting at the first `<<` at/after
    * `from` ("" when unbalanced/absent). */
  private def balancedDict(raw: String, from: Int): String = {
    val start = raw.indexOf("<<", from)
    if (start < 0) return ""
    var depth = 0
    var j = start
    while (j + 1 < raw.length) {
      if (raw.charAt(j) == '<' && raw.charAt(j + 1) == '<') { depth += 1; j += 2 }
      else if (raw.charAt(j) == '>' && raw.charAt(j + 1) == '>') {
        depth -= 1; j += 2
        if (depth == 0) return raw.substring(start, j)
      } else j += 1
    }
    ""
  }

  private def isPageObject(body: String): Boolean =
    PatPage.matcher(body).find()

  private def mediaBox(body: String): Option[(Double, Double)] = {
    val m = PatMediaBox.matcher(body)
    if (m.find())
      Some((m.group(3).toDouble - m.group(1).toDouble,
        m.group(4).toDouble - m.group(2).toDouble))
    else None
  }

  /** Object numbers referenced by /Contents (single `N 0 R` or array). */
  private def contentsRefs(body: String): Vector[Int] = {
    val sm = PatContentsRef.matcher(body)
    if (sm.find()) Vector(sm.group(1).toInt)
    else {
      val am = PatContentsArr.matcher(body)
      if (am.find()) {
        val rm = PatRef.matcher(am.group(1))
        val refs = Vector.newBuilder[Int]
        while (rm.find()) refs += rm.group(1).toInt
        refs.result()
      } else Vector.empty
    }
  }

  /** Decode an object's stream payload: the byte range was located at scan
    * time (binary-safe); decrypt (Standard security handler, per-object
    * key) when the document is encrypted — EXCEPT `/Type /XRef` streams,
    * which the spec never encrypts — then apply the dict's filter chain.
    * Objects expanded out of an ObjStm are already plaintext (the
    * CONTAINER was the encryption unit) and carry no payload range, so
    * they never reach the decrypt step. */
  private def streamData(obj: PdfObj, bytes: Array[Byte],
      crypt: Option[PdfCrypt]): Option[Array[Byte]] =
    obj.streamRange.flatMap { case (s, e) =>
      if (s < 0 || e > bytes.length || s > e) None
      else {
        val payload = java.util.Arrays.copyOfRange(bytes, s, e)
        val plain = crypt match {
          case Some(c) if !PatXRefType.matcher(obj.body).find() =>
            c.decryptStream(obj.num, obj.gen, payload)
          case _ => Some(payload)
        }
        plain.flatMap(decodeFilters(_, obj.body))
      }
    }

  // ------------------------------------------------------------- filters

  /** Filter names of a stream dict, in application order — a single
    * `/Filter /Name` or a chain `/Filter [/A /B]`. */
  private def filterNames(dict: String): Vector[String] = {
    val am = PatFilterArr.matcher(dict)
    if (am.find()) {
      val nm = PatNameTok.matcher(am.group(1))
      val out = Vector.newBuilder[String]
      while (nm.find()) out += nm.group(1)
      out.result()
    } else {
      val om = PatFilterOne.matcher(dict)
      if (om.find()) Vector(om.group(1)) else Vector.empty
    }
  }

  /** Apply the stream dict's filter chain. Unknown/unsupported filters
    * (DCTDecode, JBIG2Decode, Crypt, …) yield None — the caller degrades
    * to an empty text layer, never throws. Flate/LZW honor the PNG
    * predictors (10–15) of /DecodeParms, which real xref/object streams
    * use routinely. */
  private def decodeFilters(
      data0: Array[Byte], dict: String): Option[Array[Byte]] = {
    val names = filterNames(dict)
    var data = data0
    var i = 0
    while (i < names.length) {
      val decoded = names(i) match {
        case "FlateDecode" => inflate(data).flatMap(applyPredictor(_, dict))
        case "LZWDecode" => lzwDecode(data).flatMap(applyPredictor(_, dict))
        case "ASCIIHexDecode" => asciiHexDecode(data)
        case "ASCII85Decode" => ascii85Decode(data)
        case "RunLengthDecode" => runLengthDecode(data)
        case _ => None // unsupported → degrade, never wrong-kind
      }
      decoded match {
        case Some(d) => data = d
        case None => return None
      }
      i += 1
    }
    Some(data)
  }

  /** PNG predictors (ISO 32000-1 §7.4.4.4 / RFC 2083 filters): rows of
    * `columns·colors·bpc/8` bytes, each prefixed by a per-row filter type
    * (None/Sub/Up/Average/Paeth). Predictor 1/absent = identity; TIFF
    * predictor 2 is not emitted by mainstream writers and yields None. */
  private def applyPredictor(data: Array[Byte], dict: String): Option[Array[Byte]] = {
    val pred = firstRef(dict, PatPredictor).getOrElse(1)
    if (pred <= 1) return Some(data)
    if (pred < 10) return None // TIFF predictor: unsupported
    val columns = firstRef(dict, PatColumns).getOrElse(1)
    val colors = firstRef(dict, PatColors).getOrElse(1)
    val bpc = firstRef(dict, PatBpc).getOrElse(8)
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = columns * colors * bpc / 8
    if (rowLen <= 0 || data.length % (rowLen + 1) != 0) return None
    val rows = data.length / (rowLen + 1)
    val out = new Array[Byte](rows * rowLen)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rowLen + 1)) & 0xFF
      val src = r * (rowLen + 1) + 1
      val dst = r * rowLen
      var c = 0
      while (c < rowLen) {
        val raw = data(src + c) & 0xFF
        val left = if (c >= bpp) out(dst + c - bpp) & 0xFF else 0
        val up = if (r > 0) out(dst - rowLen + c) & 0xFF else 0
        val upLeft = if (r > 0 && c >= bpp) out(dst - rowLen + c - bpp) & 0xFF else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 => // Paeth
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case _ => return None
        }
        out(dst + c) = (v & 0xFF).toByte
        c += 1
      }
      r += 1
    }
    Some(out)
  }

  /** LZWDecode (ISO 32000-1 §7.4.4.2): 9→12-bit codes, MSB-first, clear
    * 256, EOD 257, early code-width change. */
  private def lzwDecode(data: Array[Byte]): Option[Array[Byte]] = {
    try {
      val out = new ByteArrayOutputStream(data.length * 3)
      val dict = new Array[Array[Byte]](4096)
      var i = 0
      while (i < 256) { dict(i) = Array(i.toByte); i += 1 }
      var dictSize = 258
      var codeBits = 9
      var prev: Array[Byte] = null
      var bitBuf = 0L
      var bitCnt = 0
      var pos = 0
      while (pos < data.length) {
        bitBuf = (bitBuf << 8) | (data(pos) & 0xFFL); bitCnt += 8; pos += 1
        while (bitCnt >= codeBits) {
          val code = ((bitBuf >>> (bitCnt - codeBits)) & ((1L << codeBits) - 1)).toInt
          bitCnt -= codeBits
          if (code == 256) { dictSize = 258; codeBits = 9; prev = null }
          else if (code == 257) return Some(out.toByteArray) // EOD
          else {
            val entry =
              if (code < dictSize && dict(code) != null) dict(code)
              else if (prev != null && code == dictSize) prev :+ prev(0)
              else return None
            out.write(entry, 0, entry.length)
            if (prev != null && dictSize < 4096) {
              dict(dictSize) = prev :+ entry(0); dictSize += 1
            }
            prev = entry
            if (dictSize >= (1 << codeBits) - 1 && codeBits < 12) codeBits += 1
          }
        }
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
  }

  /** ASCIIHexDecode: hex digits (whitespace ignored) up to `>`. */
  private def asciiHexDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(data.length / 2)
    var hi = -1
    var i = 0
    while (i < data.length) {
      val c = data(i).toChar
      if (c == '>') {
        if (hi >= 0) out.write(hi << 4) // odd digit: pad 0 per spec
        return Some(out.toByteArray)
      } else if (!c.isWhitespace) {
        val d = Character.digit(c, 16)
        if (d < 0) return None
        if (hi < 0) hi = d else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    Some(out.toByteArray)
  }

  /** ASCII85Decode: base-85 groups of 5 chars → 4 bytes, `z` = 4 zero
    * bytes, terminated by `~>`; a trailing partial group of n chars yields
    * n−1 bytes. */
  private def ascii85Decode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(data.length * 4 / 5)
    var acc = 0L
    var cnt = 0
    def flush(n: Int): Unit = {
      var a = acc
      var k = cnt
      while (k < 5) { a = a * 85 + 84; k += 1 } // pad with 'u'
      var shift = 24
      var j = 0
      while (j < n) { out.write(((a >>> shift) & 0xFF).toInt); shift -= 8; j += 1 }
    }
    var i = 0
    while (i < data.length) {
      val c = data(i).toChar
      if (c == '~') { // terminator "~>"
        if (cnt > 1) flush(cnt - 1) else if (cnt == 1) return None
        return Some(out.toByteArray)
      } else if (c == 'z' && cnt == 0) {
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (c >= '!' && c <= 'u') {
        acc = acc * 85 + (c - '!'); cnt += 1
        if (cnt == 5) { flush(4); acc = 0; cnt = 0 }
      } else if (!c.isWhitespace) return None
      i += 1
    }
    if (cnt > 1) flush(cnt - 1)
    Some(out.toByteArray)
  }

  /** RunLengthDecode: length byte L — 0..127 copy L+1 literals, 129..255
    * repeat next byte 257−L times, 128 = EOD. */
  private def runLengthDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val l = data(i) & 0xFF
      if (l == 128) return Some(out.toByteArray)
      else if (l < 128) {
        if (i + 1 + l + 1 > data.length) return None
        out.write(data, i + 1, l + 1)
        i += l + 2
      } else {
        if (i + 1 >= data.length) return None
        val b = data(i + 1) & 0xFF
        var k = 0
        while (k < 257 - l) { out.write(b); k += 1 }
        i += 2
      }
    }
    Some(out.toByteArray)
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return Some(out.toByteArray)
      }
      Some(out.toByteArray)
    } catch {
      case _: Exception => None
    } finally inf.end() // release the native buffer on EVERY path — this
    // runs per malformed/truncated stream in the kernel hot path
  }

  /** Extract show-operator text from one decoded content stream.
    *
    * Line structure follows the text cursor like a real text extractor:
    * `BT` resets the matrix, so the first `Td`/`Tm` inside a text object is
    * an ABSOLUTE position — a change in absolute y vs the previous text run
    * starts a new line (this is how one-BT-per-line documents linearize);
    * later `Td`/`TD` in the same object are relative (negative y = new
    * line), as are `T*` and `'`. Inside `TJ` arrays a kerning adjustment
    * ≤ −150 (milli-em) renders as an inter-word gap → a space. */
  private[kernel] def extractTextOps(
      data: Array[Byte],
      fonts: Map[String, FontCMap] = Map.empty): String = {
    val s = new String(data, StandardCharsets.ISO_8859_1)
    val sb = new StringBuilder
    var i = 0
    var lineOpen = false
    var firstPositionInBt = true
    var lastAbsY = Double.NaN
    var bracketDepth = 0
    var lastName = ""
    var currentFont: Option[FontCMap] = None
    var lastShowStart = -1 // sb offset of the most recent show string
    var lastShowEnd = -1
    def newline(): Unit = {
      if (lineOpen) { sb.append('\n'); lineOpen = false }
    }
    def show(decoded: String): Unit = {
      lastShowStart = sb.length
      sb.append(decoded)
      lastShowEnd = sb.length
      lineOpen = true
    }
    // PDF ' and " semantics are move-to-next-line THEN show, but the
    // operand string PRECEDES the operator in the byte stream — so the
    // string was already appended to the current line; break the line
    // BEFORE it (only when it is still the tail of the buffer).
    def quoteOp(): Unit = {
      if (lastShowStart > 0 && lastShowEnd > lastShowStart &&
        sb.length == lastShowEnd && sb.charAt(lastShowStart - 1) != '\n') {
        sb.insert(lastShowStart, '\n')
        lineOpen = true
      }
      // else: the operand string is already at a line start (or there was
      // no adjacent string) — the line break the quote implies is already
      // materialized, so nothing to do
    }
    while (i < s.length) {
      s.charAt(i) match {
        case '(' =>
          val (str, next) = literalString(s, i)
          show(decodeString(str, currentFont))
          i = next
        case '<' if i + 1 < s.length && s.charAt(i + 1) != '<' =>
          val (str, next) = hexString(s, i)
          show(decodeString(str, currentFont))
          i = next
        case '/' =>
          val start = i + 1
          i += 1
          while (i < s.length && (s.charAt(i).isLetterOrDigit ||
            s.charAt(i) == '_' || s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
          lastName = s.substring(start, i)
        case 'T' if i + 1 < s.length && s.charAt(i + 1) == 'f' =>
          currentFont = fonts.get(lastName) // `/Name size Tf` selects the font
          i += 2
        case '[' => bracketDepth += 1; i += 1
        case ']' => bracketDepth = math.max(0, bracketDepth - 1); i += 1
        case c if bracketDepth > 0 && (c == '-' || (c >= '0' && c <= '9')) =>
          // TJ kerning number: big negative adjustment = inter-word gap
          val start = i
          i += 1
          while (i < s.length && "0123456789.+-".indexOf(s.charAt(i)) >= 0) i += 1
          try {
            if (s.substring(start, i).toDouble <= -150 && lineOpen) sb.append(' ')
          } catch { case _: Exception => }
        case 'B' if i + 1 < s.length && s.charAt(i + 1) == 'T' =>
          firstPositionInBt = true; i += 2
        case 'B' if isInlineImageStart(s, i) =>
          i = skipInlineImage(s, i)
        case 'T' if i + 1 < s.length && s.charAt(i + 1) == '*' =>
          newline(); i += 2
        case 'T' if i + 1 < s.length &&
          (s.charAt(i + 1) == 'd' || s.charAt(i + 1) == 'D') =>
          precedingNumber(s, i).foreach { y =>
            if (firstPositionInBt) {
              // absolute line position: y moved → new line
              if (!lastAbsY.isNaN && math.abs(y - lastAbsY) > 0.5) newline()
              lastAbsY = y
            } else if (y < -0.5) { newline(); lastAbsY += y }
            else lastAbsY += y
          }
          firstPositionInBt = false
          i += 2
        case 'T' if i + 1 < s.length && s.charAt(i + 1) == 'm' =>
          // text matrix: operand f (the last) is the absolute y
          precedingNumber(s, i).foreach { y =>
            if (!lastAbsY.isNaN && math.abs(y - lastAbsY) > 0.5) newline()
            lastAbsY = y
          }
          firstPositionInBt = false
          i += 2
        case '\'' | '"' =>
          quoteOp(); i += 1
        case _ => i += 1
      }
    }
    sb.toString
  }

  /** `BI` inline-image operator at `i`? (token-bounded: start of stream or
    * whitespace/delimiter before, whitespace after `BI`). */
  private def isInlineImageStart(s: String, i: Int): Boolean =
    i + 1 < s.length && s.charAt(i + 1) == 'I' &&
      (i + 2 >= s.length || s.charAt(i + 2).isWhitespace ||
        s.charAt(i + 2) == '/') &&
      (i == 0 || s.charAt(i - 1).isWhitespace || s.charAt(i - 1) == '>' ||
        s.charAt(i - 1) == ']')

  /** Skip an inline image (`BI <dict> ID <binary> EI`): the binary sample
    * data can contain parens, `Tj`-like sequences and any other byte, so a
    * text extractor that walks into it garbles output — real readers skip
    * it, and so do we. The terminating `EI` must be token-bounded;
    * unterminated data skips to end of stream. Returns the next index. */
  private def skipInlineImage(s: String, biIdx: Int): Int = {
    val id = s.indexOf("ID", biIdx + 2)
    if (id < 0) return s.length
    var j = id + 3 // ID + the single whitespace byte that follows it
    while (j + 1 < s.length) {
      if (s.charAt(j) == 'E' && s.charAt(j + 1) == 'I' &&
        s.charAt(j - 1).isWhitespace &&
        (j + 2 >= s.length || s.charAt(j + 2).isWhitespace))
        return j + 2
      j += 1
    }
    s.length
  }

  /** The numeric token immediately preceding the operator at `opIdx`
    * (i.e. the last operand). */
  private def precedingNumber(s: String, opIdx: Int): Option[Double] = {
    var j = opIdx - 1
    while (j >= 0 && (s.charAt(j) == ' ' || s.charAt(j) == '\n' || s.charAt(j) == '\r')) j -= 1
    val end = j + 1
    while (j >= 0 && "0123456789.+-".indexOf(s.charAt(j)) >= 0) j -= 1
    val tok = s.substring(j + 1, end)
    if (tok.isEmpty) None
    else try Some(tok.toDouble) catch { case _: Exception => None }
  }

  /** PDF literal string starting at '(' — returns (decoded, indexAfter). */
  private[kernel] def literalString(s: String, start: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = start + 1
    var depth = 1
    while (i < s.length && depth > 0) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case '(' => sb.append('('); i += 2
            case ')' => sb.append(')'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case d if d >= '0' && d <= '7' =>
              var k = i + 1; var v = 0; var n = 0
              while (k < s.length && n < 3 && s.charAt(k) >= '0' && s.charAt(k) <= '7') {
                v = v * 8 + (s.charAt(k) - '0'); k += 1; n += 1
              }
              // §7.3.4.2: high-order overflow of \ddd is ignored (mod 256)
              sb.append((v & 0xFF).toChar); i = k
            case '\n' => i += 2 // line continuation
            case '\r' => // line continuation: backslash + CR or CRLF
              i += 2
              if (i < s.length && s.charAt(i) == '\n') i += 1
            case other => sb.append(other); i += 2
          }
        case '(' => depth += 1; sb.append('('); i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          i += 1
        case c => sb.append(c); i += 1
      }
    }
    (sb.toString, i)
  }

  /** PDF hex string starting at '<' — returns (decoded, indexAfter). */
  private[kernel] def hexString(s: String, start: Int): (String, Int) = {
    val end0 = s.indexOf('>', start)
    val end = if (end0 < 0) s.length else end0
    val hex = s.substring(start + 1, end).filterNot(_.isWhitespace)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    val sb = new StringBuilder
    var i = 0
    while (i + 1 < padded.length + 1 && i + 2 <= padded.length) {
      try sb.append(Integer.parseInt(padded.substring(i, i + 2), 16).toChar)
      catch { case _: Exception => }
      i += 2
    }
    (sb.toString, math.min(end + 1, s.length))
  }

  /** Image XObjects reachable from a resolved /Resources dict — including
    * images nested inside Form XObjects (the standard wrapping for scanned
    * page content), followed recursively with cycle protection.
    *
    * `/Filter /DCTDecode` payloads (the dominant scanned-page layout — the
    * stream IS a literal JPEG) are carried as the image's `data`, after
    * decryption when the document is encrypted: S6's smart extraction can
    * then return the EMBEDDED bytes directly instead of re-rendering —
    * the reference's v0.3.0 optimization (README.md:151-158, 5× faster /
    * 8× smaller payloads). Other encodings (Flate raw bitmaps, JBIG2, …)
    * keep empty data and fall through to the S5 render. */
  private def xobjectImages(
      resources: String, objs: Map[Int, PdfObj], bytes: Array[Byte],
      crypt: Option[PdfCrypt],
      visited: mutable.Set[Int] = mutable.Set.empty): Vector[PdfImage] = {
    val m = PatXObjDict.matcher(resources)
    if (!m.find()) return Vector.empty
    val rm = PatRef.matcher(m.group(1))
    val out = Vector.newBuilder[PdfImage]
    while (rm.find()) {
      val n = rm.group(1).toInt
      if (visited.add(n)) objs.get(n).foreach { obj =>
        val body = obj.body
        if (PatSubImage.matcher(body).find()) {
          val wm = PatWidth.matcher(body)
          val hm = PatHeight.matcher(body)
          if (wm.find() && hm.find()) {
            val w = wm.group(1).toInt; val h = hm.group(1).toInt
            val filters = filterNames(body)
            // CCITTFaxDecode: only the 2-D G4 flavor (/K < 0) is
            // decodable here; /K defaults to 0 = G3 1-D, so require an
            // explicit negative K before carrying the payload
            val isG4 = filters == Vector("CCITTFaxDecode") && {
              val km = PatCcittK.matcher(body)
              km.find() && km.group(1).toInt < 0
            }
            val payload =
              if (filters == Vector("DCTDecode") ||
                filters == Vector("JBIG2Decode") || isG4)
                rawPayload(obj, bytes, crypt).getOrElse(Array.empty[Byte])
              else Array.empty[Byte]
            // cross-check the payload's OWN header dims against the dict:
            // a disagreement is the malformed-scanned-PDF signature — the
            // bytes are untrusted (never reused by S6; the page renders
            // via S5 instead) and the page carries an error detail. Raw
            // G4 bitstreams carry no dims, so they cannot be checked.
            val mismatch = !isG4 && payload.nonEmpty &&
              MediaCodec.embeddedImageDims(payload)
                .exists { case (hw, hh, _) => hw != w || hh != h }
            val isJbig2 = filters == Vector("JBIG2Decode") && !mismatch
            val data =
              if ((filters == Vector("DCTDecode") && !mismatch) || isG4 ||
                isJbig2)
                payload
              else Array.empty[Byte]
            // placement unknown without full graphics-state tracking: use a
            // nominal rect at intrinsic size
            out += PdfImage(w, h, Vector(PdfRect(0, 0, w.toDouble, h.toDouble)),
              data, headerMismatch = mismatch,
              ccittG4 = isG4 && data.nonEmpty,
              jbig2 = isJbig2 && data.nonEmpty)
          }
        } else if (PatSubForm.matcher(body).find()) {
          resolveResources(body, objs)
            .foreach(r => out ++= xobjectImages(r, objs, bytes, crypt, visited))
        }
      }
    }
    out.result()
  }

  /** An object's stream payload decrypted but NOT filter-decoded — for
    * passthrough containers (DCTDecode JPEG) where the encoded stream is
    * the deliverable. */
  private def rawPayload(obj: PdfObj, bytes: Array[Byte],
      crypt: Option[PdfCrypt]): Option[Array[Byte]] =
    obj.streamRange.flatMap { case (s, e) =>
      if (s < 0 || e > bytes.length || s > e) None
      else {
        val payload = java.util.Arrays.copyOfRange(bytes, s, e)
        crypt match {
          case Some(c) => c.decryptStream(obj.num, obj.gen, payload)
          case None => Some(payload)
        }
      }
    }

  // --------------------------------------------------------------- writing

  /** Assemble a minimal REAL PDF: catalog → pages → N pages, each with a
    * (optionally Flate-compressed) content stream showing `lines` via
    * Tj/T*, plus optional image XObjects. Produces a structurally valid
    * file (header, objects, xref table, trailer) that external readers
    * accept. Used by fixtures and the synthetic corpus. */
  /** Deterministic "scanned text" ink for embedCcitt XObjects: dashed
    * line-shaped runs with a closed-form dark ratio — 2 of every 10 rows
    * carry ink over 5 of every 8 columns, so darkRatio is exactly
    * (2/10)·(5/8) = 0.125 whenever width%8 == 0 and height%10 == 0. */
  private[kernel] def ccittInk(x: Int, y: Int): Boolean =
    y % 10 < 2 && x % 8 < 5

  def writePdf(
      pageLines: Seq[Seq[String]],
      compress: Boolean = true,
      images: Seq[(Int, Int)] = Seq.empty,
      pageWidth: Double = 612,
      pageHeight: Double = 792,
      encrypt: Option[PdfCrypt.Mode] = None,
      embedJpeg: Boolean = false,
      // the XObject stream is a REAL CCITT G4 bitstream under
      // /Filter /CCITTFaxDecode /K -1 (the fax-scanner layout) carrying
      // a deterministic ink pattern; mutually exclusive with embedJpeg
      embedCcitt: Boolean = false,
      // the XObject stream is a REAL JBIG2 embedded segment stream
      // (/Filter /JBIG2Decode — the jbig2enc-recompressed scanned-PDF
      // layout) carrying the same deterministic ink; MQ-coded generic
      // region, template 0, TPGDON on (the production encoder default)
      embedJbig2: Boolean = false,
      cidFont: Boolean = false,
      // /Encoding name of the Type0 font when cidFont: Identity-H (the
      // dominant modern layout), a predefined UCS2-family CMap name
      // (UniJIS-UCS2-H etc.) showing 2-byte UTF-16-unit hex strings, or
      // a byte-oriented LEGACY CMap name (90ms-RKSJ-H, GBK-EUC-H, …)
      // whose show strings carry the line's bytes in the family's
      // defining charset (ASCII text is byte-identical under all three)
      cidEncoding: String = "Identity-H"): Array[Byte] = {
    val objects = mutable.ArrayBuffer[Array[Byte]]() // 1-indexed bodies
    def obj(n: Int, body: String): Array[Byte] =
      s"$n 0 obj\n$body\nendobj\n".getBytes(StandardCharsets.ISO_8859_1)

    // GENUINELY encrypted output: real /O and /U (Algorithms 2/3/4/5), a
    // deterministic /ID, and every stream payload RC4/AES-encrypted with
    // its per-object key — external readers accept these, and the parser's
    // empty-user-password path must round-trip them. The /ID seed is the
    // page text, so identical content yields identical files.
    val enc = encrypt.map { mode =>
      PdfCrypt.forWriting(mode,
        pageLines.flatten.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    def encStream(num: Int, data: Array[Byte]): Array[Byte] =
      enc.map(_._3.encryptStream(num, data)).getOrElse(data)

    val nPages = pageLines.length
    val imgObjBase = 3 + 2 * nPages
    // 1: catalog, 2: pages, then per page i: (3+2i): page, (4+2i): content
    val kids = (0 until nPages).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    objects += obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    objects += obj(2, s"<< /Type /Pages /Kids [$kids] /Count $nPages >>")

    // font objects (Identity-H Type0 WITHOUT ToUnicode — the CID layout
    // this parser rescues via decodeIdentityCid) come after the images
    val fontObjNum = imgObjBase + images.length
    val resParts = Seq(
      if (cidFont) Some(s"/Font << /F1 $fontObjNum 0 R >>") else None,
      if (images.nonEmpty)
        Some("/XObject << " +
          images.indices.map(j => s"/Im$j ${imgObjBase + j} 0 R").mkString(" ") +
          " >>")
      else None).flatten
    val imgRefs =
      if (resParts.nonEmpty) s" /Resources << ${resParts.mkString(" ")} >>"
      else ""

    // legacy byte-oriented CMap: show strings carry charset-encoded bytes
    val legacyCs = if (cidFont) legacyCmapCharset(s"/Encoding /$cidEncoding")
      else ""
    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      objects += obj(pageNum,
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $pageWidth $pageHeight] " +
          s"/Contents $contNum 0 R$imgRefs >>")
      val ops = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, li) =>
        if (li > 0) ops.append("T*\n")
        if (cidFont) {
          // 2-byte Identity-H/UCS2 codes = the text's UTF-16 units; a
          // legacy CMap shows the charset-encoded bytes instead — both
          // as hex show strings (the layouts the respective producers
          // emit)
          val hex =
            if (legacyCs.nonEmpty)
              line.getBytes(legacyCs).map(b => f"${b & 0xFF}%02X").mkString
            else line.map(c => f"${c.toInt}%04X").mkString
          ops.append(s"<$hex> Tj\n")
        } else {
          val esc = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
          ops.append(s"($esc) Tj\n")
        }
      }
      ops.append("ET\n")
      val rawOps = ops.toString.getBytes(StandardCharsets.ISO_8859_1)
      val (filtered, filter) =
        if (compress) (deflate(rawOps), " /Filter /FlateDecode") else (rawOps, "")
      val data = encStream(contNum, filtered) // encryption wraps the filter
      val head = s"$contNum 0 obj\n<< /Length ${data.length}$filter >>\nstream\n"
        .getBytes(StandardCharsets.ISO_8859_1)
      val tail = "\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1)
      objects += (head ++ data ++ tail)
    }

    images.zipWithIndex.foreach { case ((w, h), j) =>
      val num = imgObjBase + j
      // embedJpeg: the XObject stream is a REAL baseline JPEG under
      // /Filter /DCTDecode — the dominant scanned-page layout, and the
      // input S6's embedded-image reuse passes through verbatim
      val payload =
        if (embedJpeg) MediaCodec.renderJpeg(w, h)
        else if (embedCcitt) CcittG4.encode(w, h, ccittInk)
        else if (embedJbig2) Jbig2.encode(w, h, ccittInk, tpgdon = true)
        else Array.emptyByteArray
      val filter =
        if (embedJpeg) " /Filter /DCTDecode"
        else if (embedCcitt)
          s" /Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns $w " +
            s"/Rows $h /BlackIs1 true >>"
        else if (embedJbig2) " /Filter /JBIG2Decode"
        else ""
      val bpc = if (embedCcitt || embedJbig2) 1 else 8
      val data = encStream(num, payload)
      val body =
        s"<< /Type /XObject /Subtype /Image /Width $w /Height $h " +
          s"/ColorSpace /DeviceGray /BitsPerComponent $bpc$filter " +
          s"/Length ${data.length} >>"
      val head = s"$num 0 obj\n$body\nstream\n"
        .getBytes(StandardCharsets.ISO_8859_1)
      val tail = "\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1)
      objects += (head ++ data ++ tail)
    }

    if (cidFont) {
      // Registry/Ordering follows the encoding family (cosmetic for this
      // parser, keeps external readers honest about the character set)
      val ordering =
        if (cidEncoding.startsWith("UniGB") ||
          cidEncoding.startsWith("GBK-EUC") ||
          cidEncoding.startsWith("GB-EUC")) "GB1"
        else if (cidEncoding.startsWith("UniCNS") ||
          cidEncoding.startsWith("B5pc") ||
          cidEncoding.startsWith("ETen-B5")) "CNS1"
        else if (cidEncoding.startsWith("UniJIS") ||
          cidEncoding.contains("RKSJ")) "Japan1"
        else if (cidEncoding.startsWith("UniKS") ||
          cidEncoding.startsWith("KSC")) "Korea1"
        else "Identity"
      objects += obj(fontObjNum,
        "<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID " +
          s"/Encoding /$cidEncoding /DescendantFonts [${fontObjNum + 1} 0 R] >>")
      objects += obj(fontObjNum + 1,
        "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID " +
          s"/CIDSystemInfo << /Registry (Adobe) /Ordering ($ordering) " +
          "/Supplement 0 >> /CIDToGIDMap /Identity >>")
    }

    val encryptNum = fontObjNum + (if (cidFont) 2 else 0)
    enc.foreach { case (dict, _, _) => objects += obj(encryptNum, dict) }

    // assemble with a real xref table
    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1))
    val offsets = mutable.ArrayBuffer[Int]()
    objects.foreach { o => offsets += out.size(); out.write(o) }
    val xrefPos = out.size()
    val xref = new StringBuilder(s"xref\n0 ${objects.length + 1}\n")
    xref.append("0000000000 65535 f \n")
    offsets.foreach(o => xref.append(f"$o%010d 00000 n \n"))
    val encTrailer = enc.map { case (_, idHex, _) =>
      s" /Encrypt $encryptNum 0 R /ID [<$idHex> <$idHex>]"
    }.getOrElse("")
    xref.append(
      s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R$encTrailer >>\n")
    xref.append(s"startxref\n$xrefPos\n%%EOF\n")
    out.write(xref.toString.getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Assemble a PDF 1.5-STYLE real file: the catalog, page-tree node and
    * page dicts live inside a Flate-compressed `/Type /ObjStm` object
    * stream; content streams are regular stream objects; the cross-
    * reference is a binary `/Type /XRef` stream (W [1 3 1], FlateDecode,
    * honest type-1/type-2 entries) and there is NO classic xref table or
    * `trailer` keyword — the layout modern writers emit. Exercises ObjStm
    * expansion, the binary-payload phantom guard, and xref-stream
    * tolerance end-to-end. */
  def writePdfObjStm(
      pageLines: Seq[Seq[String]],
      compress: Boolean = true,
      pageWidth: Double = 612,
      pageHeight: Double = 792,
      encrypt: Option[PdfCrypt.Mode] = None): Array[Byte] = {
    val nPages = pageLines.length
    // Encrypted 1.5 layout: content streams AND the ObjStm CONTAINER are
    // encrypted per object (the objects inside an ObjStm are then
    // plaintext — §7.5.7); the XRef stream is NEVER encrypted, and
    // /Encrypt + /ID live in its dict instead of a classic trailer.
    val enc = encrypt.map { mode =>
      PdfCrypt.forWriting(mode,
        pageLines.flatten.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    def encStream(num: Int, data: Array[Byte]): Array[Byte] =
      enc.map(_._3.encryptStream(num, data)).getOrElse(data)
    // numbering: 1 catalog, 2 pages node, 3..2+n page dicts (all inside the
    // ObjStm); content streams 3+n..2+2n; ObjStm 3+2n; XRef 4+2n
    val contBase = 3 + nPages
    val objStmNum = 3 + 2 * nPages
    val encryptNum = objStmNum + 1 // present only when encrypted
    val xrefNum = objStmNum + (if (enc.isDefined) 2 else 1)

    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    val inStm: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>") ++
        (0 until nPages).map { i =>
          (3 + i) -> (s"<< /Type /Page /Parent 2 0 R /MediaBox " +
            s"[0 0 $pageWidth $pageHeight] /Contents ${contBase + i} 0 R >>")
        }
    // ObjStm payload: "num off …" header, then bodies at /First + off
    val bodies = inStm.map(_._2)
    val offs = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
    val header = inStm.map(_._1).zip(offs)
      .map { case (n, o) => s"$n $o" }.mkString(" ") + "\n"
    val stmPayload = (header + bodies.mkString("\n") + "\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val stmData = deflate(stmPayload)

    val out = new ByteArrayOutputStream()
    out.write("%PDF-1.5\n".getBytes(StandardCharsets.ISO_8859_1))
    val offsets = mutable.Map[Int, Int]() // objNum -> byte offset

    def writeObj(n: Int, head: String, payload: Array[Byte]): Unit = {
      offsets(n) = out.size()
      out.write(s"$n 0 obj\n$head\nstream\n".getBytes(StandardCharsets.ISO_8859_1))
      out.write(payload)
      out.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    }

    pageLines.zipWithIndex.foreach { case (lines, i) =>
      val ops = new StringBuilder("BT /F1 12 Tf 72 720 Td\n")
      lines.zipWithIndex.foreach { case (line, li) =>
        val esc = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        if (li > 0) ops.append("T*\n")
        ops.append(s"($esc) Tj\n")
      }
      ops.append("ET\n")
      val rawOps = ops.toString.getBytes(StandardCharsets.ISO_8859_1)
      val (filtered, filter) =
        if (compress) (deflate(rawOps), " /Filter /FlateDecode") else (rawOps, "")
      val data = encStream(contBase + i, filtered)
      writeObj(contBase + i, s"<< /Length ${data.length}$filter >>", data)
    }

    val stmOut = encStream(objStmNum, stmData)
    writeObj(objStmNum,
      s"<< /Type /ObjStm /N ${inStm.length} /First ${header.length} " +
        s"/Length ${stmOut.length} /Filter /FlateDecode >>", stmOut)

    enc.foreach { case (dict, _, _) =>
      offsets(encryptNum) = out.size()
      out.write(s"$encryptNum 0 obj\n$dict\nendobj\n"
        .getBytes(StandardCharsets.ISO_8859_1))
    }

    // XRef stream: one W[1 3 1] entry per object 0..xrefNum
    val xrefOffset = out.size()
    offsets(xrefNum) = xrefOffset
    val entries = new ByteArrayOutputStream()
    def entry(t: Int, f2: Int, f3: Int): Unit = {
      entries.write(t)
      entries.write((f2 >>> 16) & 0xFF)
      entries.write((f2 >>> 8) & 0xFF); entries.write(f2 & 0xFF)
      entries.write(f3 & 0xFF)
    }
    entry(0, 0, 0) // object 0: free
    inStm.indices.foreach(i => entry(2, objStmNum, i))
    (0 until nPages).foreach(i => entry(1, offsets(contBase + i), 0))
    entry(1, offsets(objStmNum), 0)
    enc.foreach(_ => entry(1, offsets(encryptNum), 0))
    entry(1, xrefOffset, 0)
    val xrefData = deflate(entries.toByteArray)
    out.write((s"$xrefNum 0 obj\n<< /Type /XRef /Size ${xrefNum + 1} " +
      s"/W [1 3 1] /Root 1 0 R /Length ${xrefData.length} " +
      enc.map { case (_, idHex, _) =>
        s"/Encrypt $encryptNum 0 R /ID [<$idHex> <$idHex>] "
      }.getOrElse("") +
      "/Filter /FlateDecode >>\nstream\n").getBytes(StandardCharsets.ISO_8859_1))
    out.write(xrefData)
    out.write("\nendstream\nendobj\n".getBytes(StandardCharsets.ISO_8859_1))
    out.write(s"startxref\n$xrefOffset\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.write(buf, 0, n)
    }
    d.end()
    out.toByteArray
  }
}

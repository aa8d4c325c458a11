package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import graft.kernel.{Html, Synth}

/** Generates the frozen HTML-extraction goldens under
  * src/test/resources/golden/html/ (FIXTURES.md §2). Run ONCE per intended
  * behavior change via `sbt "Test/runMain graft.tools.GenHtmlGoldens"`, then
  * commit: HtmlGoldenSpec compares byte-for-byte against these files, which
  * is the byte-identity gate for extracted text per url.
  *
  * Golden file format: line 1 = title, line 2 = comma-joined "start:end"
  * spans, line 3 = "---", then the extracted text verbatim.
  */
object GenHtmlGoldens {

  def fixtures: Seq[(String, String)] = {
    def art(seed: Long, idx: Long, paras: Int) =
      Synth.htmlArticle(new SplittableRandom(seed), idx, paras)
    Seq(
      "article_small" -> art(101, 1, 3),
      "article_large" -> art(102, 2, 10),
      "article_with_inline_link" -> art(4, 3, 6),
      "linkfarm" -> Synth.htmlLinkFarm(new SplittableRandom(103), 4),
      "empty_page" -> "<html><head><title>Empty</title></head><body></body></html>",
      "table_content" -> ("<html><body><table><tr><td>The court heard the case and the " +
        "law was applied to the appeal of the plaintiff today</td></tr><tr><td>The " +
        "defendant should appeal the order because we have some new evidence for " +
        "this case now</td></tr></table></body></html>"),
      "unicode_multibyte" -> ("<html><body><nav><a href='/'>Start</a></nav><main><p>" +
        "Das Straßencafé überraschte die Besucher mit großzügigen Portionen und " +
        "einem ruhigen Blick über die Altstadt am Fluss entlang der alten Mauer." +
        "</p><p>日本語のテキストもここに含まれていて、抽出された本文のオフセットが" +
        "マルチバイト文字で正しく計算されることを確認するための十分に長い段落です。" +
        "</p></main></body></html>"),
      "entities" -> ("<html><body><p>Tom &amp; Jerry &lt;quoted&gt; &quot;the&quot; " +
        "court case &#65;ppeal today was heard by the judges of the appellate " +
        "court in the morning session</p></body></html>"),
      "malformed" -> ("<html><body><p>Paragraph one has plenty of words to be " +
        "considered content by the classifier even though <b>tags <i>never close " +
        "and the document just ends mid"),
      "comments_scripts" -> ("<html><head><script>var x='<p>no</p>';</script>" +
        "<style>.a{color:red}</style></head><body><!-- hidden -->" +
        "<p>The visible paragraph talks about the appeal and the petition at " +
        "length so that it counts as main content for the extraction engine" +
        "</p><!-- more hidden --></body></html>"),
      "blockquote_pre" -> ("<html><body><main><p>The ruling of the appellate " +
        "court was discussed at length in the commentary that follows below " +
        "this paragraph of the introduction</p><blockquote>The court finds " +
        "that the petition lacks standing and the appeal must therefore be " +
        "dismissed with costs awarded to the defendant</blockquote><pre>" +
        "verbatim   spacing    preserved\nin the source but normalized here" +
        "</pre></main></body></html>"),
      "definition_list" -> ("<html><body><dl><dt>Appeal procedure overview</dt>" +
        "<dd>The process by which a case from the lower court is reviewed by " +
        "the appellate court for errors of law committed during the trial" +
        "</dd><dt>Petition</dt><dd>A formal written request submitted to the " +
        "court asking it to exercise its authority in some specified manner " +
        "on behalf of the petitioner</dd></dl></body></html>"),
      "nested_lists_tables" -> ("<html><body><table><tr><td><ul><li>The first " +
        "nested item describes the evidence submitted by the plaintiff during " +
        "the initial hearing at the district court</li><li>The second nested " +
        "item covers the objections raised by the defendant and the rulings " +
        "made on each objection by the presiding judge</li></ul></td></tr>" +
        "</table></body></html>"),
      "rtl_and_emoji" -> ("<html><body><nav><a href='/'>الرئيسية</a></nav>" +
        "<main><p>المحكمة استمعت إلى القضية وطبقت القانون على الاستئناف " +
        "المقدم من المدعي في الجلسة الصباحية يوم الاثنين الماضي بحضور " +
        "جميع الأطراف المعنية بالقضية</p><p>The follow-up paragraph 🎯 " +
        "contains emoji 🚀 and the usual discussion of the court case and " +
        "the appeal with enough words to be kept as content ✅ by the " +
        "classifier</p></main></body></html>"),
      "article_header_inside" -> ("<html><body><article><header><h1>The " +
        "headline of the piece about the appeal</h1></header><p>The body of " +
        "the article describes the case and the order of the court at length " +
        "so the extractor keeps it even though its sibling header block sits " +
        "inside a semantic header container</p></article><footer><a href='/'>" +
        "home</a></footer></body></html>"),
      "whitespace_entities" -> ("<html><body><p>The&nbsp;court&nbsp;heard " +
        " the   case \n\n and \t the law&#32;was applied to the appeal of " +
        "the plaintiff with the usual arguments presented by counsel" +
        "</p></body></html>")
    )
  }

  def goldenBytes(html: String): Array[Byte] = {
    val ex = Html.extract(html)
    val spans = ex.spans.map(s => s"${s.start}:${s.end}").mkString(",")
    (ex.title + "\n" + spans + "\n---\n" + ex.text).getBytes(StandardCharsets.UTF_8)
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get("src/test/resources/golden/html")
    Files.createDirectories(dir)
    fixtures.foreach { case (name, html) =>
      Files.write(dir.resolve(s"$name.html"), html.getBytes(StandardCharsets.UTF_8))
      Files.write(dir.resolve(s"$name.golden"), goldenBytes(html))
      println(s"wrote $name")
    }
  }
}

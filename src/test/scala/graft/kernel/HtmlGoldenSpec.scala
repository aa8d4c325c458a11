package graft.kernel

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Byte-identity gate for extracted text + spans per url (north rule):
  * each committed fixture html must extract to EXACTLY the committed golden
  * bytes. Regenerate deliberately with
  * `sbt "Test/runMain graft.tools.GenHtmlGoldens"` when extraction behavior is
  * intentionally changed. */
class HtmlGoldenSpec extends AnyFunSuite {

  private val dir = Paths.get("src/test/resources/golden/html")

  test("golden directory exists with fixtures") {
    assert(Files.isDirectory(dir), s"missing $dir — run GenHtmlGoldens")
  }

  graft.tools.GenHtmlGoldens.fixtures.foreach { case (name, _) =>
    test(s"byte-identical extraction: $name") {
      val html = new String(
        Files.readAllBytes(dir.resolve(s"$name.html")), StandardCharsets.UTF_8)
      val expected = Files.readAllBytes(dir.resolve(s"$name.golden"))
      val actual = graft.tools.GenHtmlGoldens.goldenBytes(html)
      assert(java.util.Arrays.equals(actual, expected),
        s"golden mismatch for $name:\n--- expected ---\n" +
          new String(expected, StandardCharsets.UTF_8).take(600) +
          "\n--- actual ---\n" +
          new String(actual, StandardCharsets.UTF_8).take(600))
    }
  }
}

package graft.ops

import java.nio.file.Files

import graft.SessionConf.withConf
import graft.expr.KernelExpressions
import graft.ops.CodegenModes.modes
import graft.pipeline.Summary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The operators whose lambda higher-order functions became Spark
  * built-ins, against the lambda forms they replace (kept here as the
  * reference), on an edge corpus read from parquet, in both the
  * interpreted and the generated-code path. */
class HofBuiltinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-hof-builtin-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val plainCases: Seq[String] = Seq(
    "", " ", "   ", "  runs   of  spaces  ",
    "tab\tinside a token and\tanother one",
    "newline\ninside tokens\n and more words",
    "astral 😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𠀋 x 😀😀",
    "héllo wörld 日本語 テキスト ünïcödé",
    "Alpha 123 !!! a1 ... ### the and of is the end",
    "42 17 ... # ## ### 3.5",
    "a\u0001b c\u0001 \u0001d",
    "aaaa abab aa a aaa", "the the the quick brown fox the the",
    "a=1&utm_source=x&b=2", "utm_a=1&&utm_b=2&c",
    "&utm_x&x=utm_y&UTM_z=1&xutm_=2&", "utm_", "&&", "b=2&a=1#frag?utm_q=1",
    "$$$ \\\\ .+.+ a$b \\Ex \\E \\Q( [y]^ ?*| $1 \\\\\\",
    "ax\n a\n\n x\n\nx\n \n\n\n ax\nax\n",
    "aaaaa a $$$$ the thethe 😀😀😀😀😀",
    "\u0001 \u0001\u0001 x\u0001\u0001y the \u0001aa aa\u0001",
    "𝔫𝔫𝔫𝔫 😀𝔫😀𝔫 𠀋𠀋 𝔫 𝔫")

  /** Malformed UTF-8 payloads: a bad continuation, a UTF-16 surrogate, an
    * overlong '/', a truncated tail, a lone continuation, a truncated
    * 4-byte sequence before a space, an 0xFF byte, and a lead byte
    * followed by a space. */
  private val invalidHex = Seq("C328", "EDA080206162", "C0AF206B", "6120E282",
    "80612062", "F09F9820612062", "FF2041422043", "61C320C3A92078")

  /** (id, text) cases in a parquet file, so projections over them run in
    * the executed plan rather than being folded over a local relation. */
  private lazy val cases: DataFrame = {
    val s = spark
    import s.implicits._
    val plain = plainCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val nul = Seq((100L, Option.empty[String])).toDF("id", "text")
    val bad = invalidHex.zipWithIndex.map { case (h, i) => (200L + i, h) }
      .toDF("id", "hex")
      .select(col("id"), unhex(col("hex")).cast("string").as("text"))
    val dir = Files.createTempDirectory("graft_hof_cases_").toString
    plain.unionByName(nul).unionByName(bad).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val nCases = plainCases.length + 1 + invalidHex.length

  /** The lambda forms each converted site had, verbatim in behavior. */
  private object Lambda {
    def nonEmpty(arr: Column): Column = filter(arr, t => t =!= "")

    def gopher(text: Column): Seq[Column] = {
      val words = nonEmpty(split(text, " "))
      val wc = size(words).cast("long")
      val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))
      val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
      Seq(wc,
        when(wc === 0, 0.0).otherwise(sumLen.cast("double") / wc),
        when(wc === 0, 0L).otherwise(alphaWords * 1000000L / wc))
    }

    def applyMerge(syms: Column, l: String, r: String): Column = {
      val sep = "\u0001"
      val folded = aggregate(syms, lit(""),
        (acc, x) => when(endswith(acc, lit(sep + l)) && x === r, concat(acc, x))
          .otherwise(concat(acc, lit(sep), x)))
      nonEmpty(split(folded, sep))
    }

    def bpeSymbolCount(text: Column, merges: Seq[(String, String)]): Column =
      aggregate(nonEmpty(split(text, " ")), lit(0L), (acc, tok) => {
        val merged = merges.foldLeft(nonEmpty(split(tok, ""))) {
          case (sy, (l, r)) => applyMerge(sy, l, r)
        }
        acc + when(tok.contains("\u0001"), length(tok))
          .otherwise(size(merged)).cast("long")
      })

    private def words(text: Column): Column =
      filter(split(coalesce(text, lit("")), " "), w => w =!= lit(""))

    def sortedBigrams(text: Column): Column = {
      val words = split(text, " ")
      val n = size(words)
      array_sort(zip_with(
        slice(words, lit(1), n - 1), slice(words, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
    }

    def dsirGrams(text: Column): Column = {
      val nw = words(text)
      val m = greatest(size(nw) - 1, lit(0))
      concat(nw, zip_with(slice(nw, lit(1), m), slice(nw, lit(2), m),
        (a, b) => concat(a, lit(" "), b)))
    }

    def bigramBucketPairs(text: Column, buckets: Int): Column = {
      def bucket(g: Column) = KernelExpressions.fnv1a64(g)
        .bitwiseAND(lit((buckets - 1).toLong))
      val nw = words(text)
      val m = greatest(size(nw) - 1, lit(0))
      zip_with(slice(nw, lit(1), m), slice(nw, lit(2), m),
        (a, b) => struct(bucket(a).as("ctx"), bucket(b).as("nxt")))
    }

    def canonicalizeUrl(url: Column): Column = {
      val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
      val hostPort = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
      val host = when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
        .when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
        .otherwise(hostPort)
      val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
      val path = when(rawPath === "", lit("/")).otherwise(rawPath)
      val query = regexp_extract(url, "^[^#]*?\\?([^#]*)", 1)
      val params = filter(split(query, "&"),
        p => !(p.startsWith("utm_") || p === ""))
      val sortedQuery = array_join(array_sort(params), "&")
      when(scheme === "", regexp_replace(url, "#.*$", ""))
        .otherwise(concat(scheme, lit("://"), host, path,
          when(sortedQuery === "", lit("")).otherwise(concat(lit("?"), sortedQuery))))
    }

    def strings(c: Column): Column = transform(c, _.cast("string"))

    def formatPageList(pages: Column): Column = {
      val joined: Column => Column = c => concat_ws(", ", strings(c))
      when(size(pages) === 0, "None")
        .when(size(pages) <= 5, joined(pages))
        .otherwise(concat(joined(slice(pages, 1, 3)), lit(", ... and "),
          (size(pages) - 3).cast("string"), lit(" more")))
    }

    def pageSummary: Column = {
      def part(c: String, prefix: String) =
        when(size(col(c)) > 0, concat(lit(prefix), formatPageList(col(c))))
      val parts = array(
        part("scanned_pages", "Scanned pages needing OCR: "),
        part("mixed_pages_needing_ocr", "Mixed content pages that would benefit from OCR: "),
        part("low_quality_text_pages", "Pages with poor text extraction quality: "),
        part("empty_pages", "Empty pages (no processing needed): "))
      val joined = array_join(filter(parts, _.isNotNull), " | ")
      when(length(joined) === 0, "All pages have good text extraction quality.")
        .otherwise(joined)
    }
  }

  /** Every (site, lambda form, built-in form) pair agrees on every row. */
  private def assertSame(df: DataFrame, pairs: Seq[(String, Column, Column)]): Unit = {
    val rows = df.select(col("id") +: pairs.flatMap { case (_, o, n) => Seq(o, n) }: _*)
      .collect()
    assert(rows.length == nCases)
    for (r <- rows; ((site, _, _), j) <- pairs.zipWithIndex)
      assert(r.get(1 + 2 * j) == r.get(2 + 2 * j),
        s"$site, id=${r.getLong(0)}: lambda ${r.get(1 + 2 * j)} vs built-in ${r.get(2 + 2 * j)}")
  }

  private val text = col("text")
  /** Merge rules over regex metacharacters (`$`, `\`, `.`, `+`, a `\E`
    * symbol), `\n`-final symbols after which `$` would match where `\z`
    * does not, l = r runs and astral symbols. */
  private val merges = Seq(("a", "a"), ("aa", "aa"), ("t", "h"), ("th", "e"),
    ("😀", "😀"), ("$", "$"), ("\\", "\\"), (".", "+"), ("\\", "E"),
    ("\\E", "x"), ("x", "\n"), ("a", "x"), ("\n", "\n"), ("a", "\n"), ("𝔫", "𝔫"))

  for ((mode, conf) <- modes) {
    test(s"row-local sites: the built-in forms ≡ their lambda forms ($mode)") {
      withConf(spark, conf) {
        val gopher = Lambda.gopher(text).zip(TextOps.gopherSignalCols(text))
          .zip(Seq("word_count", "mean_word_len", "alpha_word_ppm"))
          .map { case ((o, n), name) => (s"gopherSignalCols.$name", o, n) }
        val urls = Seq(
          "scheme-less" -> text,
          "https" -> concat(lit("HTTPS://H.Example:443/p?"), text, lit("#f?utm_x=1")),
          "http" -> concat(lit("http://h.example:80?"), text))
        val pages = slice(sequence(lit(1), lit(12)), lit(1), (col("id") % 9).cast("int"))
        assertSame(cases, Seq(
          ("non-empty tokens on ' '", Lambda.nonEmpty(split(text, " ")),
            array_remove(split(text, " "), "")),
          ("non-empty symbols on ''", Lambda.nonEmpty(split(text, "")),
            array_remove(split(text, ""), "")),
          ("word count (bm25TopK, sourceReputation)",
            size(Lambda.nonEmpty(split(coalesce(text, lit("")), " "))),
            size(array_remove(split(coalesce(text, lit("")), " "), ""))),
          ("q68 distinct tokens",
            size(array_distinct(Lambda.nonEmpty(split(coalesce(text, lit("")), " ")))),
            size(array_distinct(array_remove(split(coalesce(text, lit("")), " "), ""))))) ++
          gopher ++ Seq(
          ("bpeSymbolCount", Lambda.bpeSymbolCount(text, merges),
            TextOps.bpeSymbolCount(text, merges)),
          ("sortedBigrams (repetitionSignals)", Lambda.sortedBigrams(text),
            TextOps.sortedBigrams(text)),
          ("dsirGrams", Lambda.dsirGrams(text), TextOps.dsirGrams(text))) ++
          urls.map { case (name, u) =>
            (s"canonicalizeUrl $name", Lambda.canonicalizeUrl(u), WebOps.canonicalizeUrl(u))
          } ++ Seq(
          ("array<long> to strings (q04)",
            Lambda.strings(array(col("id"), lit(null).cast("long"), length(text).cast("long"))),
            array(col("id"), lit(null).cast("long"), length(text).cast("long"))
              .cast("array<string>")),
          ("formatPageList", Lambda.formatPageList(pages), Summary.formatPageList(pages))))
      }
    }

    test(s"pageSummary: array_join skips the null parts the lambda filtered ($mode)") {
      withConf(spark, conf) {
        def pages(n: Column) = slice(sequence(lit(1), lit(12)), lit(1), n.cast("int"))
        val df = cases.select(col("id"),
          pages(col("id") % 9).as("scanned_pages"),
          pages(col("id") % 4).as("mixed_pages_needing_ocr"),
          pages(col("id") % 7).as("low_quality_text_pages"),
          pages(col("id") % 2 * 6).as("empty_pages"))
        assertSame(df, Seq(("pageSummary", Lambda.pageSummary, Summary.pageSummary)))
        assert(df.filter(Summary.pageSummary.startsWith("All pages")).count() > 0)
      }
    }

    test(s"ordered reassembly: getField over the sorted structs ≡ the " +
      s"transform that picked the field ($mode)") {
      withConf(spark, conf) {
        val toks = cases.select(col("id"), posexplode(split(coalesce(text, lit("")), " ")))
        val kept = when(col("pos") % 3 =!= 1, struct(col("pos"), col("col")))
        val shapes = Seq(
          ("dropDuplicatedLines", array_sort(collect_list(kept)),
            sort_array(collect_list(kept))),
          ("removeDuplicatedSpans", array_sort(collect_list(struct(col("pos"), col("col")))),
            sort_array(collect_list(struct(col("pos"), col("col"))))),
          ("q13", sort_array(collect_list(struct(col("pos"), col("col")))),
            sort_array(collect_list(struct(col("pos"), col("col"))))))
        val rows = toks.groupBy(col("id")).agg(count(lit(1)), shapes.flatMap {
          case (_, lam, now) => Seq(
            array_join(transform(lam, s => s.getField("col")), " "),
            array_join(now.getField("col"), " "))
        }: _*).collect()
        assert(rows.length == nCases)
        for (r <- rows; ((site, _, _), j) <- shapes.zipWithIndex)
          assert(r.get(2 + 2 * j) == r.get(3 + 2 * j), s"$site, id=${r.getLong(0)}")
        assert(rows.exists(r => r.getString(2).nonEmpty))
      }
    }

    test(s"bigram LM pairs: the arrays_zip'd word pairs, hashed after the " +
      s"explode, ≡ the zip_with that hashed in its lambda ($mode)") {
      withConf(spark, conf) {
        def bucket(g: Column) = KernelExpressions.fnv1a64(g).bitwiseAND(lit(63L))
        def rows(df: DataFrame): Seq[Seq[Long]] =
          df.collect().map(r => r.toSeq.map(_.toString.toLong)).toSeq.sortBy(_.mkString(","))
        val lambda = cases.select(col("id"), posexplode(Lambda.bigramBucketPairs(text, 64)))
          .select(col("id"), col("pos"), col("col.ctx"), col("col.nxt"))
        val now = cases.select(col("id"), posexplode(TextOps.wordPairs(text)))
          .select(col("id"), col("pos"), bucket(col("col.l")), bucket(col("col.r")))
        val ref = rows(lambda)
        assert(ref.nonEmpty)
        assert(rows(now) == ref)
        // the two operators that consume them
        val labeled = cases.withColumn("y", col("id") % 2 === 0)
        val pairs = explode(Lambda.bigramBucketPairs(text, 64)).as("p")
        val train = TextOps.bigramLmTrain(labeled, "text", "y", buckets = 64)
        assert(rows(train) == rows(labeled.filter(col("y")).select(pairs)
          .groupBy(col("p.ctx"), col("p.nxt")).count()))
        val scored = TextOps.bigramLmScores(cases, "id", "text", train, buckets = 64)
        assert(rows(scored.select(col("doc_id"), col("n_bigrams"))) ==
          rows(cases.select(col("id"), pairs).groupBy(col("id")).count()))
      }
    }

    test(s"ivfTopK probe: posexplode_outer kept where score >= nth ≡ the filter " +
      s"over sequence(1, n) ($mode)") {
      withConf(spark, conf) {
        val s = spark
        import s.implicits._
        val dir = Files.createTempDirectory("graft_hof_probe_").toString
        Seq(
          (1L, Seq(Some(0.5), Some(0.9), Some(0.1), Some(0.9)), 2),
          (2L, Seq(Some(0.3), Some(0.3), Some(0.3), Some(0.3)), 1),
          (3L, Seq(None, Some(0.2), None, Some(-0.0)), 2),
          (4L, Seq(Some(Double.NaN), Some(0.7), Some(0.0), Some(0.7)), 2),
          (5L, Seq(None, None, None, None), 1),
          (6L, Seq(Some(-1.0), Some(0.0), Some(1.0), Some(-0.5)), 4))
          .toDF("id", "scores", "nprobe").write.mode("overwrite").parquet(dir)
        val q = spark.read.parquet(dir).withColumn("nth",
          element_at(sort_array(col("scores"), asc = false), col("nprobe")))
        val lambda = q.select(col("id"), explode(filter(sequence(lit(1L), lit(4L)),
          i => element_at(col("scores"), i.cast("int")) >= col("nth"))).as("cluster"))
        val now = q.select(col("id"), col("nth"),
          posexplode_outer(col("scores")).as(Seq("pos", "score")))
          .filter(coalesce(col("score") >= col("nth"), lit(false)))
          .select(col("id"), (col("pos") + 1).cast("long").as("cluster"))
        def rows(df: DataFrame): Seq[(Long, Long)] =
          df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val ref = rows(lambda)
        assert(ref.length > 6)
        assert(rows(now) == ref)
      }
    }
  }
}

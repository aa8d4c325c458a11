package graft.pipeline

import java.nio.file.Files

import graft.kernel.{Extractor, ProbeConfig}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline tests (SURVEY.md §5.2 items 4–5): synthetic Page
  * table → ExtractJob → read back → statuses, spans, counters, lineage,
  * parallel ≡ sequential equivalence, and checkpoint resume (J1). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-pipeline-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft_test_").toString

  private val N = 300L

  test("WARC source: CC-style gzip response records become Page rows and " +
    "extract end-to-end through the same kernel") {
    val dir = tmp()
    val rng = new java.util.SplittableRandom(5)
    val recs = (0 until 20).map { i =>
      (Map(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://h$i.example/doc/$i",
        "WARC-Date" -> "2025-01-01T00:00:00Z"),
        graft.kernel.Warc.httpResponse(
          graft.kernel.Synth.htmlArticle(rng, i.toLong, 4).getBytes("UTF-8")))
    } :+ (Map("WARC-Type" -> "request",
      "WARC-Target-URI" -> "https://h0.example/doc/0"),
      "GET / HTTP/1.1\r\n\r\n".getBytes("US-ASCII"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-0.warc.gz"),
      graft.kernel.Warc.write(recs, gzipPerRecord = true))

    val pages = WarcSource.pages(spark, dir)
    assert(pages.count() == 20) // request records filtered out
    val docs = ExtractJob.transform(spark, pages.toDF(), JobConfig(buckets = 4))
      .collect()
    assert(docs.length == 20)
    assert(docs.forall(_.doc_kind == "html"))
    assert(docs.forall(_.url.startsWith("https://h")))
    assert(docs.count(_.extracted_text.nonEmpty) == 20)
    assert(docs.forall(_.warc_ts.getTime == 1735689600000L))
  }

  test("WET sink: extraction results round-trip through WARC conversion " +
    "records (source AND sink in the CC format)") {
    val dir = tmp()
    val input = SynthSource.pages(spark, 60L, seed = 9L).toDF()
    val docs = ExtractJob.transform(spark, input, JobConfig(buckets = 4))
    WarcSink.writeWet(docs, dir)
    // read every part file back through the WARC parser
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz")).sortBy(_.getName)
    assert(files.nonEmpty)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")))
    val recs = files.flatMap(f => graft.kernel.Warc.records(
      java.nio.file.Files.readAllBytes(f.toPath)).toVector)
    assert(recs.length == 60)
    assert(recs.forall(_.warcType == "conversion"))
    val expected = docs.collect().map(d => d.url -> d.extracted_text).toMap
    recs.foreach { r =>
      val got = new String(r.httpPayload, "UTF-8")
      assert(expected(r.targetUri) == got, s"text mismatch for ${r.targetUri}")
    }
  }

  test("end-to-end: statuses, spans, counters, lineage") {
    val out = tmp()
    val input = SynthSource.pages(spark, N, seed = 42L).toDF()
    val stats = ExtractJob.run(spark, input, out, JobConfig(buckets = 16))

    assert(stats.docs == N)
    assert(stats.pages >= N) // pdf docs contribute >1 page
    assert(stats.bytesIn > 0 && stats.bytesOut > 0)

    val docs = ExtractJob.readDocs(spark, out).cache()
    assert(docs.count() == N)

    val kinds = docs.select("doc_kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("html", "pdf", "error"))

    val statuses = docs.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("true", "false", "partial")) && statuses.size == 3)

    // A1 invariant: pages ascending 1-indexed, count matches ocr_page_count
    val bad = docs.filter(
      size(col("pages")) =!= col("ocr_page_count") ||
      exists(col("pages"), p => p < 1 || p > col("total_pages")) ||
      // ascending check: sorted array equals itself
      sort_array(col("pages")) =!= col("pages")).count()
    assert(bad == 0)

    // error rows: conservative status true, counted as empty extractions
    val errs = docs.filter(col("doc_kind") === "error")
    assert(errs.count() > 0)
    assert(errs.filter(col("status") =!= "true").count() == 0)
    // encrypted PDFs surface as a DISTINCT error reason, not a generic
    // degradation (X4 contract)
    assert(errs.filter(col("error").contains("encrypted PDF")).count() > 0)

    // lineage: one row per bucket present in output; counters add up
    val lineage = ExtractJob.readLineage(spark, out)
    val outBuckets = docs.select("bucket").distinct().count()
    assert(lineage.count() == outBuckets)
    val lDocs = lineage.agg(sum("docs")).collect()(0).getLong(0)
    assert(lDocs == N)
    val lOcr = lineage.agg(sum("ocr_needed")).collect()(0).getLong(0)
    assert(lOcr == stats.ocrNeeded)
    assert(lineage.filter(col("status") =!= "done").count() == 0)

    // html spans index into source html (byte-identity sanity through Spark)
    val pageStats = ExtractJob.pageStats(spark, out)
    assert(pageStats.count() == stats.pages)
    docs.unpersist()
  }

  test("byte identity through Spark: extracted_text equals direct kernel call") {
    val out = tmp()
    val input = SynthSource.pages(spark, N, seed = 7L).toDF()
    ExtractJob.run(spark, input, out, JobConfig(buckets = 8))
    val docs = ExtractJob.readDocs(spark, out)
      .select("url", "extracted_text", "status")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

    val extractor = new Extractor(ProbeConfig())
    val rows = SynthSource.pages(spark, N, seed = 7L).collect()
    assert(rows.length == N)
    rows.foreach { p =>
      val ex = extractor.extract(p.html)
      val (gotText, gotStatus) = docs(p.url)
      assert(gotText == ex.extractedText, s"text mismatch for ${p.url}")
      assert(gotStatus == ex.status, s"status mismatch for ${p.url}")
    }
  }

  test("parallel ≡ sequential: 1 task vs 8 tasks yield identical results") {
    val input = SynthSource.pages(spark, N, seed = 11L).toDF()
    val out1 = tmp(); val out8 = tmp()
    ExtractJob.run(spark, input, out1, JobConfig(buckets = 4, tasks = 1))
    ExtractJob.run(spark, input, out8, JobConfig(buckets = 4, tasks = 8))

    val a = ExtractJob.readDocs(spark, out1)
      .select("url", "status", "extracted_text", "total_pages")
    val b = ExtractJob.readDocs(spark, out8)
      .select("url", "status", "extracted_text", "total_pages")
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  /** Part-file count per `bucket=*` directory of a run's docs table. */
  private def filesPerBucket(out: String): Map[String, Int] =
    new java.io.File(s"$out/docs").listFiles().filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
      .toMap

  /** The lineage equals the docs table bucket by bucket: one row per
    * bucket present, each counter the sum over that bucket's docs (empty
    * extractions counted by text length, independently of `bytes_out`). */
  private def assertLineageMatchesDocs(out: String): Unit = {
    val docs = ExtractJob.readDocs(spark, out)
    // the corpus exercises the error and empty-extraction counters
    assert(docs.filter(col("doc_kind") === "error").count() > 0)
    assert(docs.filter(col("bytes_out") === 0L).count() > 0)
    def byBucket(rows: Array[Row]): Map[Int, Seq[Long]] =
      rows.map(r => r.getInt(0) -> (1 to 6).map(r.getAs[Number](_).longValue)).toMap
    val d = byBucket(docs.groupBy("bucket").agg(count(lit(1)), sum("total_pages"),
      sum("ocr_page_count"), sum(when(length(col("extracted_text")) === 0, 1L)
        .otherwise(0L)), sum("bytes_in"), sum("bytes_out")).collect())
    val lineage = ExtractJob.readLineage(spark, out).select("bucket", "docs",
      "pages", "ocr_needed", "empty_extractions", "bytes_in", "bytes_out").collect()
    assert(lineage.length == d.size)
    assert(byBucket(lineage) == d)
  }

  test("sink layout: with more buckets than writers each bucket is ONE " +
    "parquet file") {
    val out = tmp()
    ExtractJob.run(spark, SynthSource.pages(spark, N, seed = 13L).toDF(), out,
      JobConfig(buckets = 16))
    val files = filesPerBucket(out)
    assert(files.size == 16)
    assert(files.values.forall(_ == 1), files)
    assertLineageMatchesDocs(out)
  }

  test("sink layout: with more writers than buckets the derived salt " +
    "splits each bucket over at most ⌈tasks/buckets⌉ files") {
    val out = tmp()
    ExtractJob.run(spark, SynthSource.pages(spark, N, seed = 13L).toDF(), out,
      JobConfig(buckets = 2, tasks = 8))
    val files = filesPerBucket(out)
    assert(files.size == 2)
    assert(files.values.exists(_ > 1), files)
    assert(files.values.forall(_ <= 4), files)
    assertLineageMatchesDocs(out)
  }

  test("J1 checkpoint resume: only missing buckets recompute") {
    val buckets = 8
    val input = SynthSource.pages(spark, N, seed = 23L).toDF()
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))

    val out = tmp()
    // simulate a job that died after committing buckets 0..3
    val firstHalf = input.filter(col("bucket") < 4).drop("bucket")
    val stats1 = ExtractJob.run(spark, firstHalf, out, JobConfig(buckets = buckets))
    val doneDocs = stats1.docs
    assert(doneDocs > 0 && doneDocs < N)

    // resume over the FULL input: buckets 0..3 must be skipped
    val stats2 = ExtractJob.run(spark, input.drop("bucket"), out,
      JobConfig(buckets = buckets, resume = true))
    assert(stats2.docs == N - doneDocs, s"resume recomputed ${stats2.docs} docs")

    val docs = ExtractJob.readDocs(spark, out)
    assert(docs.count() == N)
    assert(docs.select("url").distinct().count() == N)
    val lineage = ExtractJob.readLineage(spark, out)
    assert(lineage.count() == buckets)
    assert(lineage.agg(sum("docs")).collect()(0).getLong(0) == N)

    // resuming again is a no-op
    val stats3 = ExtractJob.run(spark, input.drop("bucket"), out,
      JobConfig(buckets = buckets, resume = true))
    assert(stats3.docs == 0)
    assert(ExtractJob.readDocs(spark, out).count() == N)
  }

  test("resume is idempotent across the docs-committed/lineage-missing " +
    "crash window (dynamic partition overwrite, no duplicates)") {
    val buckets = 8
    val input = SynthSource.pages(spark, N, seed = 31L).toDF()
    val out = tmp()
    ExtractJob.run(spark, input, out, JobConfig(buckets = buckets))
    assert(ExtractJob.readDocs(spark, out).count() == N)

    // simulate the crash window: docs fully committed, lineage lost
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(out, "lineage"))

    // resume finds no 'done' buckets and re-extracts EVERYTHING — the
    // dynamic partition overwrite must replace partitions, not append
    val stats = ExtractJob.run(spark, input, out,
      JobConfig(buckets = buckets, resume = true))
    assert(stats.docs == N)
    val docs = ExtractJob.readDocs(spark, out)
    assert(docs.count() == N, "crash-window resume duplicated rows")
    assert(docs.select("url").distinct().count() == N)
    assert(ExtractJob.readLineage(spark, out)
      .agg(sum("docs")).collect()(0).getLong(0) == N)
  }

  test("includeImages and accuracy mode flow through the pipeline") {
    import graft.kernel.ProbeConfig
    val out = tmp()
    val input = SynthSource.pages(spark, 100L, seed = 3L).toDF()
    ExtractJob.run(spark, input, out,
      JobConfig(probe = ProbeConfig(includeImages = true, accuracyMode = true),
        buckets = 4))
    val docs = ExtractJob.readDocs(spark, out).cache()
    // image contract (test_base64_images.py:38-40): keys == pages for docs
    // that need OCR; empty map otherwise
    val rows = docs.select("pages", "page_images", "doc_kind").collect()
    rows.foreach { r =>
      val pages = r.getAs[Seq[Int]]("pages").toSet
      val keys = r.getAs[Map[Int, String]]("page_images").keySet
      if (r.getAs[String]("doc_kind") == "pdf") assert(keys == pages)
      else assert(keys.isEmpty)
    }
    // accuracy mode: no fast-path rows (analyze_page always full)
    val fast = ExtractJob.pageStats(spark, out)
      .filter(col("analysis_mode") === "fast").count()
    assert(fast == 0)
    docs.unpersist()
  }

  test("corpus summary and problematic pages run off the output table") {
    val out = tmp()
    ExtractJob.run(spark, SynthSource.pages(spark, N, seed = 5L).toDF(), out,
      JobConfig(buckets = 8))
    val ps = ExtractJob.pageStats(spark, out)
    val summary = Summary.corpusSummary(ps).collect()(0)
    assert(summary.getAs[Long]("total_pages") > 0)
    val action = summary.getAs[String]("recommended_action")
    assert(Set("NO OCR NEEDED", "OCR REQUIRED", "OCR RECOMMENDED").contains(action))
    val prob = Summary.problematicPages(ps)
    assert(prob.count() > 0)
    val s = prob.select("summary").limit(5).collect().map(_.getString(0))
    assert(s.forall(_.nonEmpty))
  }

  test("CurateJob end-to-end: funnel verdicts first-match-wins, curated " +
    "output = keepers only with PII scrubbed, stats from committed table") {
    import spark.implicits._
    // varied prose per seed: stopword-dense (quality ok), unique content
    // words (distinct shingle sets — near-dup only where constructed)
    def prose(seed: Int): String = // every adjacent bigram unique
      (0 until 60).map(i =>
        s"w${seed * 971 + 2 * i} the w${seed * 971 + 2 * i + 1}").mkString(" ")
    val docs = Seq(
      (1L, prose(1) + " alpha beta gamma", "en"),        // kept
      (2L, prose(1) + " alpha beta gamma", "en"),        // exact dup of 1
      (3L, prose(1) + " alpha beta gamma delta", "en"),  // near dup of 1
      (4L, "short text", "en"),                          // too_short
      (5L, prose(5) + " unique tail here", "xx"),        // lang_filter
      (6L, prose(6) + " mail me a@b.com now", "en"),     // kept, PII-bearing
      (7L, ("spam ham " * 40).trim, "en")                // repetitive bigram
    ).toDF("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_curate_").toString
    val stats = CurateJob.run(spark, docs, "doc_id", "text", "lang", out)

    val v = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(v(2L) == "exact_dup")
    assert(v(3L) == "near_dup")
    assert(v(4L) == "too_short")
    assert(v(5L) == "lang_filter")
    assert(v(1L) == "kept")
    assert(v(7L) == "repetitive", s"got ${v(7L)}")

    val curated = spark.read.parquet(s"$out/curated")
    val keptIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == v.filter(_._2 == "kept").keySet)
    // PII scrubbed in the curated copy
    assert(v(6L) == "kept", s"doc 6 constructed as a keeper, got ${v(6L)}")
    val t6 = curated.filter(col("doc_id") === 6L)
      .select("text").head().getString(0)
    assert(!t6.contains("a@b.com") && t6.contains("<EMAIL>"),
      t6.takeRight(60))
    assert(stats.input == 7L)
    assert(stats.kept == keptIds.size.toLong)
    assert(stats.drops.values.sum + stats.kept == stats.input)
    // curated table is bucketed for downstream co-located reads
    assert(curated.columns.contains("bucket"))
  }

  test("CurateJob near-dup scale knobs (r7): starEdges clusters on " +
    "candidate connectivity (losers a superset of the verified path's — " +
    "identical here), maxBucketDocs genuinely prunes the hot bucket, and " +
    "the default config's verdicts are unchanged") {
    import spark.implicits._
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"w${seed * 971 + 2 * i} the w${seed * 971 + 2 * i + 1}").mkString(" ")
    val docs = Seq(
      (1L, prose(1) + " alpha beta gamma", "en"),
      (2L, prose(1) + " alpha beta gamma", "en"),        // exact dup of 1
      (3L, prose(1) + " alpha beta gamma delta", "en"),  // near dup of 1
      (4L, prose(4) + " unrelated tail", "en")
    ).toDF("doc_id", "text", "lang")
    def verdictMap(cfg: CurateConfig): Map[Long, String] =
      CurateJob.verdicts(docs, "doc_id", "text", "lang", cfg)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val default = verdictMap(CurateConfig())
    assert(default(2L) == "exact_dup" && default(3L) == "near_dup" &&
      default(1L) == "kept" && default(4L) == "kept", default.toString)

    // star edges: candidate components coarsen verified components, so
    // every default-path near-dup loser stays a loser (here: identical)
    val star = verdictMap(CurateConfig(nearDupStarEdges = true))
    assert(star == default, s"star=$star default=$default")

    // hot-bucket cap at 2: the {1,2,3} bucket (3 members) is pruned in
    // every band, so the near-dup stage finds nothing — doc 3 falls
    // through to kept while the exact stage still catches doc 2
    val capped = verdictMap(CurateConfig(nearDupMaxBucketDocs = 2L))
    assert(capped(2L) == "exact_dup" && capped(3L) == "kept", capped.toString)
  }

  test("CurateJob over a url-keyed table (the extraction-output shape): " +
    "string ids hash to stable keys, nothing silently nulls out") {
    import spark.implicits._
    def prose2(seed: Int): String =
      (0 until 60).map(i =>
        s"v${seed * 911 + 2 * i} the v${seed * 911 + 2 * i + 1}").mkString(" ")
    val docs = Seq(
      ("https://a.example/1", prose2(1), "en"),
      ("https://a.example/2", prose2(1), "en"), // exact dup of /1
      ("https://b.example/3", prose2(3), "en")
    ).toDF("url", "extracted_text", "lang")
    val out = Files.createTempDirectory("graft_curate_url_").toString
    val stats = CurateJob.run(spark, docs, "url", "extracted_text", "lang",
      out, CurateConfig(scrubPii = false))
    assert(stats.input == 3L)
    assert(stats.kept == 2L)
    assert(stats.drops == Map("exact_dup" -> 1L))
    val curated = spark.read.parquet(s"$out/curated")
    // original identity column survives; derived key is non-null
    assert(curated.columns.contains("url"))
    assert(curated.filter(col("doc_id").isNull).count() == 0)
    assert(curated.count() == 2)
  }

  test("CurateJob duplicate-id and null-id robustness: a dropped recrawl " +
    "sharing its url with a keeper cannot leak into the curated output; " +
    "null ids get the null_id verdict and never merge") {
    import spark.implicits._
    def prose3(seed: Int): String =
      (0 until 60).map(i =>
        s"u${seed * 733 + 2 * i} the u${seed * 733 + 2 * i + 1}").mkString(" ")
    val docs = Seq(
      ("https://r.example/x", prose3(1), "en"),  // recrawl 1: kept
      ("https://r.example/x", "stub", "en"),     // recrawl 2: too_short
      (null.asInstanceOf[String], prose3(9), "en"), // null id
      (null.asInstanceOf[String], "tiny", "en"),    // another null id
      ("https://r.example/y", prose3(5), "en")   // kept
    ).toDF("url", "text", "lang")
    val out = Files.createTempDirectory("graft_curate_dup_").toString
    val stats = CurateJob.run(spark, docs, "url", "text", "lang", out,
      CurateConfig(scrubPii = false))
    assert(stats.input == 5L)
    assert(stats.drops.getOrElse("null_id", 0L) == 2L, stats.drops.toString)
    val curated = spark.read.parquet(s"$out/curated")
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1)))
    // the too_short recrawl of /x must NOT appear even though its url
    // (and thus doc_id) matches the kept snapshot
    assert(!curated.exists(_._2 == "stub"), curated.mkString("; "))
    assert(curated.map(_._1).toSet == Set("https://r.example/x",
      "https://r.example/y"))
    assert(curated.length == 2)
  }

  test("CurateJob near_dup verdicts equal a plain union-find over the " +
    "minhash near-dup pairs: planted exact copies, a near chain A~B~C " +
    "(A not near C) and a 4-doc template clique") {
    import spark.implicits._
    // distinct tokens, so 3-shingle Jaccard is the overlap of the windows
    def window(from: Int, until: Int): String =
      (from until until).map(i => s"t$i the").mkString(" ")
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"n${seed * 619 + 2 * i} the n${seed * 619 + 2 * i + 1}").mkString(" ")
    val template = (0 until 100).map(i => s"tpl$i").mkString(" ")
    // at threshold 0.7: A ⊂ B and C ⊂ B with Jaccard ≈ 0.84 each, while
    // Jaccard(A, C) ≈ 0.69 — A is near C only through B
    val a = window(0, 110)
    val b = window(0, 130)
    val c = window(20, 130)
    val docs = Seq(
      (5L, c), // exact copy of C with a SMALLER id: it leads the chain
      (10L, a), (11L, b), (12L, c),
      (13L, b), // exact copy of B
      (20L, template + " alpha"), (21L, template + " beta"),
      (22L, template + " gamma"), (23L, template + " delta"),
      (24L, template + " gamma"), // exact copy of a clique member
      (30L, prose(3)), (31L, prose(3)), // exact pair, no near neighbours
      (40L, prose(4)), (41L, prose(5))
    ).map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang")
    val cfg = CurateConfig(nearDupThreshold = 0.7)
    val pairs = graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleK = cfg.shingleK, numHashes = cfg.numHashes,
        numBands = cfg.numBands, threshold = cfg.nearDupThreshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nearLosers = graft.UnionFind.labels(pairs).collect {
      case (v, root) if v != root => v }.toSet
    val exactLosers = docs.collect().groupBy(_.getString(1)).values
      .flatMap(rows => rows.map(_.getLong(0)).sorted.drop(1)).toSet
    val want = nearLosers -- exactLosers
    // the planted structure is really there: the chain joins A, B, C (and
    // their copies) through B only, the clique is one component
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(10L, 12L)), pairs.toSeq)
    assert(want == Set(10L, 11L, 21L, 22L, 23L), want)

    val got = CurateJob.verdicts(docs, "doc_id", "text", "lang", cfg)
      .filter(col("verdict") === "near_dup")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want, s"verdicts=$got union-find=$want")
  }

  test("CurateJob curated sink: keepers placed on (bucket, salt), so each " +
    "bucket directory holds one file, with the keeper rows unchanged") {
    import spark.implicits._
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"k${seed * 557 + 2 * i} the k${seed * 557 + 2 * i + 1}").mkString(" ")
    val rows = (1L to 120L).map(i => (i, prose(i.toInt), "en"))
    val docs = rows.toDF("doc_id", "text", "lang").repartition(6)
    val out = Files.createTempDirectory("graft_curate_sink_").toString
    val stats = CurateJob.run(spark, docs, "doc_id", "text", "lang", out,
      CurateConfig(buckets = 16, scrubPii = false))
    assert(stats.kept == 120L, stats.toString)
    val files = new java.io.File(s"$out/curated").listFiles()
      .filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
      .toMap
    assert(files.size == 16, files)
    assert(files.values.forall(_ == 1), files)
    val curated = spark.read.parquet(s"$out/curated")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(curated.sortBy(_._1).toSeq == rows)
  }

  test("CurateJob opt-in stages: line-level dedup strips corpus " +
    "boilerplate from keepers (and a boilerplate-only doc dies too_short " +
    "AFTER stripping); Gopher thresholds add the gopher_filter verdict") {
    import spark.implicits._
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"g${seed * 877 + 2 * i} the g${seed * 877 + 2 * i + 1}").mkString(" ")
    val footer = "copyright footer all rights reserved"
    val docs = Seq(
      (1L, prose(1) + "\n" + footer, "en"),
      (2L, prose(2) + "\n" + footer, "en"),
      (3L, prose(3) + "\n" + footer, "en"),
      (4L, footer, "en"),                       // boilerplate-ONLY doc
      (5L, prose(5) + "\nunique closing line", "en")
    ).toDF("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_curate_line_").toString
    val stats = CurateJob.run(spark, docs, "doc_id", "text", "lang", out,
      CurateConfig(scrubPii = false, lineDedupMinDocs = 3))
    val v = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(Seq(1L, 2L, 3L, 5L).forall(v(_) == "kept"), v.toString)
    // the boilerplate-only doc's text is empty AFTER line dedup → too_short
    assert(v(4L) == "too_short", v.toString)
    val curated = spark.read.parquet(s"$out/curated")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // keepers carry the CLEANED text: footer stripped, own prose intact
    assert(!curated(1L).contains(footer) && curated(1L).contains("g877"),
      curated(1L).takeRight(80))
    assert(curated(5L).contains("unique closing line"))
    assert(stats.kept == 4L && stats.drops == Map("too_short" -> 1L))

    // Gopher thresholds: an all-numbers doc fails alpha_word_ppm, a
    // stopword-free doc fails stop_hits — both get gopher_filter; the
    // stopword-dense prose passes
    val gdocs = Seq(
      (1L, prose(11), "en"),
      (2L, (0 until 80).map(i => (1000 + i).toString).mkString(" "), "en"),
      (3L, (0 until 80).map(i => s"zq${i}xv word${i}").mkString(" "), "en")
    ).toDF("doc_id", "text", "lang")
    val gout = Files.createTempDirectory("graft_curate_gopher_").toString
    CurateJob.run(spark, gdocs, "doc_id", "text", "lang", gout,
      CurateConfig(scrubPii = false, minQuality = 0.0, gopherFilter = true))
    val gv = spark.read.parquet(s"$gout/verdicts")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(gv(1L) == "kept", gv.toString)
    assert(gv(2L) == "gopher_filter", gv.toString)
    assert(gv(3L) == "gopher_filter", gv.toString)
  }

  test("CurateJob opt-in span removal: a corpus-duplicated MID-LINE token " +
    "run (invisible to line dedup) is cut from keepers; a span-only doc " +
    "dies too_short AFTER the edit; untouched docs pass byte-identical") {
    import spark.implicits._
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"g${seed * 911 + 2 * i} the g${seed * 911 + 2 * i + 1}").mkString(" ")
    // 20 template tokens ≥ spanMinTokens=16, pasted mid-text so no full
    // line ever repeats — the line ban list cannot see it
    val span = (0 until 20).map(i => s"tpl$i").mkString(" ")
    val docs = Seq(
      (1L, prose(1) + " " + span + " " + prose(21), "en"),
      (2L, prose(2) + " " + span, "en"),
      (3L, span, "en"), // the span IS the whole doc
      (4L, prose(4), "en")
    ).toDF("doc_id", "text", "lang")
    val out = Files.createTempDirectory("graft_curate_span_").toString
    val stats = CurateJob.run(spark, docs, "doc_id", "text", "lang", out,
      CurateConfig(scrubPii = false, spanRemoval = true))
    val v = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(Seq(1L, 2L, 4L).forall(v(_) == "kept"), v.toString)
    assert(v(3L) == "too_short", v.toString)
    assert(stats.kept == 3L && stats.drops == Map("too_short" -> 1L))
    val curated = spark.read.parquet(s"$out/curated")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // keepers carry the EDITED text: template cut, own prose intact
    assert(!curated(1L).contains("tpl0") && curated(1L).contains("g911")
      && curated(1L).contains(s"g${21 * 911}"), curated(1L).take(120))
    assert(!curated(2L).contains("tpl0") && curated(2L).contains("g1822"),
      curated(2L).takeRight(80))
    // a doc with no duplicated span passes through byte-identical
    assert(curated(4L) == prose(4))

    // keepFirst: the lowest-id doc keeps its canonical template copy,
    // later copies are still cut, and the template-only doc SURVIVES
    // (it holds no removable run once its grams are canonical-exempt…
    // here doc 3's copies are all non-canonical, so it still empties)
    val kout = Files.createTempDirectory("graft_curate_span_kf_").toString
    CurateJob.run(spark, docs, "doc_id", "text", "lang", kout,
      CurateConfig(scrubPii = false, spanRemoval = true, spanKeepFirst = true))
    val kv = spark.read.parquet(s"$kout/verdicts")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(Seq(1L, 2L, 4L).forall(kv(_) == "kept"), kv.toString)
    assert(kv(3L) == "too_short", kv.toString)
    val kcur = spark.read.parquet(s"$kout/curated")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // doc 1 (lowest id) keeps the canonical template; doc 2 loses it
    assert(kcur(1L).contains("tpl0") && kcur(1L).contains("g911"),
      kcur(1L).take(120))
    assert(!kcur(2L).contains("tpl0") && kcur(2L).contains("g1822"),
      kcur(2L).takeRight(80))
  }

  test("flagship entry: SparkEntry.entry returns rows with its six fields") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.schema.fieldNames.toSeq ==
      Seq("url", "doc_kind", "status", "total_pages", "ocr_page_count", "text_len"))
    assert(df.count() > 0)
  }
}

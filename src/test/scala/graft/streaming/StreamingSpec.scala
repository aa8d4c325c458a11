package graft.streaming

import java.nio.file.Files

import graft.pipeline.{CurateConfig, CurateJob, ExtractJob, JobConfig, SynthSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extraction tests: exactly-once file-source processing with
  * checkpoint resume across restarts, windowed aggregation with watermark,
  * and the stateful per-host monitor. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_stream_").toString

  test("continuous extraction: new files are processed exactly once across restarts") {
    val inputDir = tmp(); val outDir = tmp(); val checkpoint = tmp()

    // batch 1: 120 docs land
    SynthSource.pages(spark, 120L, seed = 42L).toDF()
      .coalesce(1).write.mode("append").parquet(inputDir)
    val q1 = StreamingExtract.start(spark, inputDir, outDir, checkpoint,
      JobConfig(buckets = 8))
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(s"$outDir/docs").count()
    assert(afterFirst == 120)

    // batch 2: 80 more docs land (disjoint index slice → disjoint urls)
    SynthSource.pagesRange(spark, 120L, 200L, seed = 42L).toDF()
      .coalesce(1).write.mode("append").parquet(inputDir)
    val q2 = StreamingExtract.start(spark, inputDir, outDir, checkpoint,
      JobConfig(buckets = 8))
    q2.awaitTermination()

    val docs = spark.read.parquet(s"$outDir/docs")
    assert(docs.count() == 200) // NOT 320: batch-1 files not reprocessed

    // extraction results are identical to the batch pipeline's
    val batch = ExtractJob.transform(spark,
      SynthSource.pages(spark, 120L, seed = 42L).toDF(), JobConfig(buckets = 8))
      .select("url", "status", "extracted_text")
    val streamed = docs.select("url", "status", "extracted_text")
      .join(batch.select(col("url").as("u")), col("url") === col("u"), "left_semi")
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("windowed status counts with watermark over event time") {
    val docs = ExtractJob.transform(spark,
      SynthSource.pages(spark, 200L, seed = 5L).toDF(), JobConfig(buckets = 8))
    // batch execution of the same aggregation shape (windows over warc_ts)
    val counts = StreamingExtract.windowedStatusCounts(docs, "1 minute")
    val rows = counts.collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("docs")).sum
    assert(total == 200)
    // warc_ts advances 1s per doc → 200s spread over ≥3 one-minute windows
    assert(rows.map(_.getAs[org.apache.spark.sql.Row]("window")).distinct.length >= 3)
  }

  test("stateful per-host stats accumulate") {
    val docs = ExtractJob.transform(spark,
      SynthSource.pages(spark, 150L, seed = 9L).toDF(), JobConfig(buckets = 8))
    val stats = StreamingExtract.hostStats(docs).collect()
    assert(stats.map(_.docs).sum == 150)
    // the skewed generator sends ~30% to hot-host-0
    val hot = stats.find(_.host.startsWith("hot-host-0")).map(_.docs).getOrElse(0L)
    assert(hot > 20, s"hot host only $hot docs")
  }

  test("hostOf parsing") {
    assert(StreamingExtract.hostOf("https://a.example/x/y") == "a.example")
    assert(StreamingExtract.hostOf("a.example/x") == "a.example")
    assert(StreamingExtract.hostOf("https://a.example") == "a.example")
  }

  test("streaming curation: funnel verdicts match the batch semantics and " +
    "cross-micro-batch exact dedup emits later duplicates as exact_dup") {
    val inputDir = tmp(); val outDir = tmp(); val checkpoint = tmp()
    def page(url: String, text: String, lang: String) =
      (url, new java.sql.Timestamp(1735689600000L),
        ("<html><body><article><p>" + text + "</p></article></body></html>")
          .getBytes("UTF-8"), "", lang)
    def prose(seed: Int): String =
      (0 until 60).map(i =>
        s"s${seed * 877 + 2 * i} the s${seed * 877 + 2 * i + 1}").mkString(" ")

    // micro-batch 1
    Seq(
      page("https://a/1", prose(1), "en"),  // kept
      page("https://a/2", "tiny", "en"),    // too_short
      page("https://a/3", prose(3), "xx")   // lang_filter
    ).toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(inputDir)

    def runOnce(): Unit = {
      val pages = spark.readStream
        .schema(StreamingExtract.pageSchema).parquet(inputDir)
      val docs = ExtractJob.transform(spark, pages, JobConfig(buckets = 4))
      val q = StreamingExtract.curateVerdicts(docs)
        .writeStream.format("parquet")
        .option("path", s"$outDir/verdicts")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val v1 = spark.read.parquet(s"$outDir/verdicts")
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("verdict")).toMap
    assert(v1 == Map("https://a/1" -> "kept", "https://a/2" -> "too_short",
      "https://a/3" -> "lang_filter"), v1.toString)

    // micro-batch 2: an exact duplicate of /1's content arrives later —
    // state carried across the restart via the checkpoint
    Seq(page("https://b/9", prose(1), "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(inputDir)
    runOnce()
    val v2 = spark.read.parquet(s"$outDir/verdicts")
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("verdict")).toMap
    assert(v2("https://b/9") == "exact_dup", v2.toString)
    assert(v2.size == 4)
  }

  test("streaming curation applies the Gopher thresholds: a doc failing " +
    "them gets gopher_filter, as in CurateJob.verdicts") {
    val inputDir = tmp(); val outDir = tmp(); val checkpoint = tmp()
    def page(url: String, text: String) =
      (url, new java.sql.Timestamp(1735689600000L),
        ("<html><body><article><p>" + text + "</p></article></body></html>")
          .getBytes("UTF-8"), "", "en")
    val prose = (0 until 60).map(i => s"g${2 * i} the g${2 * i + 1}").mkString(" ")
    val noStopwords = (0 until 80).map(i => s"zq${i}xv word$i").mkString(" ")
    Seq(page("https://g/1", prose), page("https://g/2", noStopwords))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(inputDir)
    val cfg = CurateConfig(minQuality = 0.0, gopherFilter = true)

    val q = StreamingExtract.curateVerdicts(ExtractJob.transform(spark,
        spark.readStream.schema(StreamingExtract.pageSchema).parquet(inputDir),
        JobConfig(buckets = 4)), cfg)
      .writeStream.format("parquet")
      .option("path", s"$outDir/verdicts")
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$outDir/verdicts")
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("verdict")).toMap
    assert(streamed == Map("https://g/1" -> "kept", "https://g/2" -> "gopher_filter"),
      streamed.toString)

    val docs = ExtractJob.transform(spark, spark.read.parquet(inputDir),
      JobConfig(buckets = 4)).toDF()
    val batch = CurateJob.verdicts(docs, "url", "extracted_text", "lang", cfg)
      .join(docs.select(xxhash64(col("url")).as("doc_id"), col("url")), "doc_id")
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("verdict")).toMap
    assert(batch == streamed, batch.toString)
  }

  test("streaming near-dup: band-bucket state carries across micro-batch " +
    "restarts — a later near-identical doc reports its representative, " +
    "novel docs stay originals") {
    val inputDir = tmp(); val outDir = tmp(); val checkpoint = tmp()
    def page(url: String, text: String) =
      (url, new java.sql.Timestamp(1735689600000L),
        ("<html><body><article><p>" + text + "</p></article></body></html>")
          .getBytes("UTF-8"), "", "en")
    def prose(seed: Int): String =
      (0 until 80).map(i =>
        s"w${seed * 3001 + i} the w${seed * 3001 + i} of").mkString(" ")

    Seq(page("https://a/1", prose(1)), page("https://a/2", prose(2)))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(inputDir)

    def runOnce(): Unit = {
      val pages = spark.readStream
        .schema(StreamingExtract.pageSchema).parquet(inputDir)
      val docs = ExtractJob.transform(spark, pages, JobConfig(buckets = 4))
      val q = StreamingExtract.nearDupVerdicts(docs)
        .writeStream.format("parquet")
        .option("path", s"$outDir/neardup")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val r1 = spark.read.parquet(s"$outDir/neardup")
      .collect().map(r => (r.getAs[String]("url"), r.getAs[String]("dup_of")))
    // first batch: both docs are originals in every band
    assert(r1.nonEmpty && r1.forall(_._2 == null), r1.mkString(", "))

    // batch 2 (after a checkpointed restart): a near-identical copy of /1
    // (one word changed), a novel doc, and /1 RE-CRAWLED with identical
    // content (streams re-deliver urls — must not self-match)
    Seq(page("https://b/9", prose(1).replace("w3001 the", "w3001x the")),
      page("https://b/8", prose(7)),
      page("https://a/1", prose(1)))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .coalesce(1).write.mode("append").parquet(inputDir)
    runOnce()
    val r2 = spark.read.parquet(s"$outDir/neardup").collect()
      .map(r => (r.getAs[String]("url"), Option(r.getAs[String]("dup_of"))))
    val byUrl = r2.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // doc-level reduction: ANY band reporting a representative = near-dup
    val hits = byUrl("https://b/9").flatten
    assert(hits.nonEmpty && hits.toSet == Set("https://a/1"),
      s"copy must report /1 in at least one band: ${byUrl("https://b/9")}")
    assert(hits.size >= byUrl("https://b/9").size / 2,
      "a near-identical doc should collide in most bands")
    assert(byUrl("https://b/8").flatten.isEmpty, "novel doc must stay original")
    // the re-crawled /1 must NOT report itself as its own near-dup
    assert(byUrl("https://a/1").flatten.isEmpty,
      s"re-crawled url self-matched: ${byUrl("https://a/1")}")

    // doc-level reduction helper over the sink
    val docV = StreamingExtract.nearDupDocVerdicts(
      spark.read.parquet(s"$outDir/neardup"))
      .collect().map(r => r.getAs[String]("url") ->
        (r.getAs[Boolean]("is_near_dup"), Option(r.getAs[String]("dup_of"))))
      .toMap
    assert(docV("https://b/9") == ((true, Some("https://a/1"))))
    assert(docV("https://b/8") == ((false, None)))
    assert(docV("https://a/1") == ((false, None)))
  }

  test("streaming near-dup under the RocksDB state store provider: " +
    "cross-batch state survives a checkpointed restart with state held " +
    "off-heap (the crawl-scale configuration, SCALE.md)") {
    val inputDir = tmp(); val outDir = tmp(); val checkpoint = tmp()
    def page(url: String, text: String) =
      (url, new java.sql.Timestamp(1735689600000L),
        ("<html><body><article><p>" + text + "</p></article></body></html>")
          .getBytes("UTF-8"), "", "en")
    def prose(seed: Int): String =
      (0 until 80).map(i =>
        s"w${seed * 3001 + i} the w${seed * 3001 + i} of").mkString(" ")

    // the provider is pinned at query start from the session conf; the
    // default HDFS-backed provider holds every (band, bucket) entry in
    // executor HEAP — RocksDB moves it off-heap/on-disk, which is the
    // survivable configuration when distinct-content state grows at
    // crawl scale
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runOnce(): Unit = {
        val pages = spark.readStream
          .schema(StreamingExtract.pageSchema).parquet(inputDir)
        val docs = ExtractJob.transform(spark, pages, JobConfig(buckets = 4))
        val q = StreamingExtract.nearDupVerdicts(docs)
          .writeStream.format("parquet")
          .option("path", s"$outDir/neardup")
          .option("checkpointLocation", checkpoint)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Seq(page("https://a/1", prose(1)))
        .toDF("url", "warc_ts", "html", "text", "lang")
        .coalesce(1).write.mode("append").parquet(inputDir)
      runOnce()
      // restart against the same checkpoint: the near-identical copy must
      // find /1's representative in RocksDB state from the PREVIOUS run
      Seq(page("https://b/2", prose(1).replace("w3001 the", "w3001x the")),
        page("https://c/3", prose(9)))
        .toDF("url", "warc_ts", "html", "text", "lang")
        .coalesce(1).write.mode("append").parquet(inputDir)
      runOnce()
      val byUrl = spark.read.parquet(s"$outDir/neardup").collect()
        .map(r => (r.getAs[String]("url"), Option(r.getAs[String]("dup_of"))))
        .groupBy(_._1).view.mapValues(_.flatMap(_._2).toSet).toMap
      assert(byUrl("https://b/2") == Set("https://a/1"), byUrl.toString)
      assert(byUrl("https://c/3").isEmpty, byUrl.toString)
      assert(byUrl("https://a/1").isEmpty, byUrl.toString)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}

package graft.tools

import java.util.SplittableRandom

import graft.api.{GraftFunctions, OcrDetection}
import graft.kernel.Synth
import graft.pipeline.{JobConfig, LocalFs, SynthSource}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.SparkSession

/** Drives the public API surface end-to-end the way a library user would:
  * per-document detect, expert summary, SQL functions, and the streaming
  * extraction query. `sbt "runMain graft.tools.ApiDemo"`. */
object ApiDemo {
  def main(args: Array[String]): Unit = {
    // --- per-document API (no Spark needed) -------------------------------
    val scanned = OcrDetection.payloadOf(Synth.pdfScanned(new SplittableRandom(7), 9))
    val r = OcrDetection.detectOcr(scanned, includeImages = true)
    println(s"[api] detect_ocr(scanned-9): status=${r.status} pages=${r.pages} " +
      s"images=${r.pageImages.size}")

    val det = new OcrDetection()
    val summary = det.summary(det.analyzeAllPages(scanned))
    println(s"[api] summary: ${summary.recommendedAction}; " +
      graft.kernel.DocSummary.pageSummary(summary.problematic))

    // decoded PIXEL content of embedded images (real PDF with a DCT image)
    val withImg = graft.kernel.PdfParse.writePdf(Seq(Seq.empty),
      images = Seq((1200, 1600)), embedJpeg = true)
    val pix = det.imagePixelContent(withImg).flatten
    println(s"[api] pixel content: ${pix.length} image(s), " +
      s"mean=${pix.head.meanLuminance} dark=${pix.head.darkRatio}")

    // --- SQL functions + streaming (Spark) --------------------------------
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-api-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq("The court heard the case and the law was applied to the appeal.")
      .toDF("t").createOrReplaceTempView("texts")
    println("[api] sql: " + spark.sql(
      "SELECT graft_quality_score(t) q, graft_simhash(t) s FROM texts")
      .collect()(0))

    // detect over an arbitrary binary column
    val media = Seq(("doc-a", scanned)).toDF("doc", "payload")
    val dc = det.detectColumn(media, "doc", "payload").collect()(0)
    println(s"[api] detectColumn: ${dc.getString(0)} → ${dc.getString(1)} " +
      s"(${dc.getAs[Seq[Int]](2).length} pages, ${dc.getString(4)})")

    // --- training-data operator suite -------------------------------------
    val docs = Seq(
      (1L, "the court heard the appeal of the case", "en"),
      (2L, "the court heard the appeal of the case", "en"), // dup of 1
      (3L, "the court heard the appeal of this case", "en"), // near-dup
      (4L, "der hund und die katze ist hier im haus", "de"),
      (5L, "completely different text about pipelines", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      Seq.empty, shingleK = 3, threshold = 0.5)
    val comps = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => s"${r.getLong(0)}→${r.getLong(1)}").sorted
    println(s"[api] dedup clusters: ${comps.mkString(" ")}")
    val canon = docs.select(graft.ops.WebOps.canonicalizeUrl(
      org.apache.spark.sql.functions.concat_ws("",
        org.apache.spark.sql.functions.lit("HTTP://Site.ORG:80/d/"),
        $"doc_id")).as("u")).collect()(0).getString(0)
    println(s"[api] canonical url: $canon")
    val sampled = graft.ops.ScalePatterns.stratifiedSample(docs, "doc_id",
      "lang", Map("en" -> 500), defaultPerMille = 1000).count()
    println(s"[api] stratified sample kept $sampled of 5")

    // --- curation funnel with the opt-in cleaning stages -------------------
    def prose(seed: Int): String = (0 until 40).map(i =>
      s"w${seed * 733 + 2 * i} the w${seed * 733 + 2 * i + 1}").mkString(" ")
    val template = (0 until 20).map(i => s"tpl$i").mkString(" ")
    val crawl = Seq(
      (10L, prose(1) + " " + template + " " + prose(2), "en"),
      (11L, prose(3) + " " + template, "en"),
      (12L, template, "en"), // template-only page
      (13L, prose(5), "en"))
      .toDF("doc_id", "text", "lang")
    val cdir = java.nio.file.Files.createTempDirectory("api_demo_curate_").toString
    val stats = graft.pipeline.CurateJob.run(spark, crawl, "doc_id", "text",
      "lang", cdir, graft.pipeline.CurateConfig(
        scrubPii = false, spanRemoval = true))
    val clean10 = spark.read.parquet(s"$cdir/curated")
      .filter($"doc_id" === 10L).collect()(0).getAs[String]("text")
    println(s"[api] curate: kept=${stats.kept} drops=${stats.drops}; " +
      s"doc10 spanRemoved=${!clean10.contains("tpl0")} " +
      s"proseKept=${clean10.contains("w733")}")

    val in = java.nio.file.Files.createTempDirectory("api_demo_in_").toString
    val out = java.nio.file.Files.createTempDirectory("api_demo_out_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("api_demo_ckpt_").toString
    SynthSource.pages(spark, 100L).toDF().coalesce(1).write.options(LocalFs.writeOptions)
      .mode("append").parquet(in)
    StreamingExtract.start(spark, in, out, ckpt, JobConfig(buckets = 4))
      .awaitTermination()
    val n = spark.read.parquet(s"$out/docs").count()
    println(s"[api] streaming extracted $n docs")
    spark.stop()
  }
}

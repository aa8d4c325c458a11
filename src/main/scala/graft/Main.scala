package graft

import graft.kernel.ProbeConfig
import graft.pipeline.{ExtractJob, JobConfig, Summary, SynthSource}
import org.apache.spark.sql.SparkSession

/** Production spark-submit entrypoint (the north rule's deployment shape):
  *
  * {{{
  * spark-submit --class graft.Main ocrdetectionspark.jar \
  *   extract --input <page-table-path> --output <dir> \
  *   [--buckets 4096] [--tasks N] [--resume] [--lang en] \
  *   [--threshold 0.5] [--accuracy] [--images]
  * spark-submit --class graft.Main <jar> synth --n 100000 --output <dir>
  * spark-submit --class graft.Main <jar> summary --output <extract-dir>
  * }}}
  *
  * In cluster deployments the session comes fully configured from
  * spark-submit (master, executors, AQE, shuffle partitions); nothing here
  * assumes local mode.
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)

    val spark = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try cmd match {
      case "extract" =>
        val input = required(opts, "input")
        val output = required(opts, "output")
        val cfg = JobConfig(
          probe = ProbeConfig(
            confidenceThreshold = opts.getOrElse("threshold", "0.5").toDouble,
            accuracyMode = opts.contains("accuracy"),
            includeImages = opts.contains("images")),
          buckets = opts.getOrElse("buckets", "64").toInt,
          tasks = opts.getOrElse("tasks", "0").toInt,
          resume = opts.contains("resume"),
          langFilter = opts.get("lang"),
          runId = opts.getOrElse("run-id", s"run-${spark.sparkContext.applicationId}"))
        // input: parquet Page table by default; --warc reads CC-style
        // WARC files through WarcSource instead
        val pages =
          if (opts.contains("warc"))
            graft.pipeline.WarcSource.pages(spark, input).toDF()
          else spark.read.parquet(input)
        val stats = ExtractJob.run(spark, pages, output, cfg)
        println(s"[graft] docs=${stats.docs} pages=${stats.pages} " +
          s"ocr_needed=${stats.ocrNeeded} empty=${stats.emptyExtractions} " +
          s"bytes_in=${stats.bytesIn} bytes_out=${stats.bytesOut}")
        // optional WET output alongside the parquet table
        opts.get("wet").filter(_ != "true").orElse(
          if (opts.contains("wet")) Some(s"$output/wet") else None
        ).foreach { wetDir =>
          graft.pipeline.WarcSink.writeWet(
            ExtractJob.readDocsTyped(spark, output), wetDir)
          println(s"[graft] wrote WET conversion records to $wetDir")
        }

      case "synth" =>
        val n = opts.getOrElse("n", "10000").toLong
        val output = required(opts, "output")
        SynthSource.writeCorpus(spark, n, opts.getOrElse("seed", "42").toLong, output)
        println(s"[graft] wrote $n synthetic pages to $output")

      case "summary" =>
        val output = required(opts, "output")
        Summary.corpusSummary(ExtractJob.pageStats(spark, output))
          .show(truncate = false)

      // curate an extraction output (or any (id,text,lang) doc table) into
      // a training corpus: dedup → quality funnel → PII scrub → bucketed
      // write + per-doc verdict table (see pipeline/CurateJob)
      case "curate" =>
        val input = required(opts, "input")
        val output = required(opts, "output")
        val cfg = graft.pipeline.CurateConfig(
          minChars = opts.getOrElse("min-chars", "120").toInt,
          langs = opts.getOrElse("langs", "en,de,fr").split(",").toSeq,
          minQuality = opts.getOrElse("min-quality", "0.3").toDouble,
          nearDupThreshold = opts.getOrElse("near-threshold", "0.5").toDouble,
          scrubPii = !opts.contains("keep-pii"),
          buckets = opts.getOrElse("buckets", "64").toInt)
        val docs = spark.read.parquet(input)
        val idCol = opts.getOrElse("id-col", "doc_id")
        val textCol = opts.getOrElse("text-col", "text")
        val langCol = opts.getOrElse("lang-col", "lang")
        val stats = graft.pipeline.CurateJob.run(
          spark, docs, idCol, textCol, langCol, output, cfg)
        val dropStr = stats.drops.toSeq.sortBy(-_._2)
          .map { case (r, n) => s"$r=$n" }.mkString(" ")
        println(s"[graft] curate input=${stats.input} kept=${stats.kept} " +
          dropStr)

      case other =>
        System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    } finally spark.stop()
  }

  private def parseOpts(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m += key -> args(i + 1); i += 2
        } else { m += key -> "true"; i += 1 } // boolean flag
      } else i += 1
    }
    m.toMap
  }

  private def required(opts: Map[String, String], key: String): String =
    opts.getOrElse(key, {
      System.err.println(s"missing required --$key"); usage(); sys.exit(2)
    })

  private def usage(): Unit = System.err.println(
    """usage: graft.Main <command> [options]
      |  extract --input P --output P [--buckets N] [--tasks N]
      |          [--resume] [--lang L] [--threshold T] [--accuracy] [--images]
      |          [--warc] (input is CC-style WARC files, not a parquet table)
      |          [--wet [DIR]] (also write WARC conversion records)
      |  synth   --n N --output P [--seed S]
      |  summary --output P
      |  curate  --input P --output P [--min-chars N] [--langs en,de,fr]
      |          [--min-quality Q] [--near-threshold T] [--keep-pii]
      |          [--buckets N] [--id-col C] [--text-col C] [--lang-col C]"""
      .stripMargin)
}

package graft.pipeline

import graft.kernel.{DocExtract, Extractor, ProbeConfig}
import graft.model.{DocResult, LineageRow, Page, PageStat}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Counters summed from the lineage rows a run commits (A11 / north rule). */
final case class ExtractStats(
    docs: Long,
    pages: Long,
    ocrNeeded: Long,
    emptyExtractions: Long,
    bytesIn: Long,
    bytesOut: Long)

/** Job parameters. `buckets` is the output-table bucketing (pmod of url
  * hash) — the unit of lineage/resume. `tasks` is the sink's writer count;
  * 0 sizes it at 2× default parallelism. The salt that splits a bucket
  * across writers is derived, ⌈tasks/buckets⌉, not configured (explicit
  * skew salting per the north rule — AQE skew handling doesn't apply
  * because the hot path has no join). */
final case class JobConfig(
    probe: ProbeConfig = ProbeConfig(),
    buckets: Int = 64,
    tasks: Int = 0,
    resume: Boolean = false,
    langFilter: Option[String] = None,
    runId: String = "run-0")

/** Typed spine row after the relational prologue: `text` is dropped (the
  * kernel never reads it — shuffling it would move dead bytes) and `bucket`
  * is precomputed so the kernel and the write agree on partitioning. */
final case class KeyedPage(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    lang: String,
    bucket: Int)

/** The extraction pipeline (SURVEY.md §3.1 Spark lifecycle):
  *
  * scan → Column-level pruning/filters (resume anti-join J1, lang filter —
  * kept BEFORE the typed boundary so Catalyst pushes them into the parquet
  * scan) → `mapPartitions` kernel (X1–X4, F1–F10, C1–C4, P1 per row; pages
  * never leave their row, so A1/A2 are row-local — zero aggregation
  * shuffle) → one explicit repartition on (bucket, salt) → bucketed
  * partitioned parquet write, one file per (bucket, salt) → per-bucket
  * lineage rows (A11).
  *
  * Exactly ONE shuffle on the hot path: the explicit repartition. Lineage is
  * observed inside the sink's own write job (`Dataset.observe` above the
  * repartition — no re-read of the output) and written only after the docs
  * commit, so a "done" lineage row implies the bucket's data is durable —
  * that ordering is what makes resume safe.
  */
object ExtractJob {

  /** The sink-free pipeline: relational prologue → kernel, NARROW end to
    * end — extraction is per-row, so no byte of raw `html` ever crosses a
    * shuffle. Task sizing comes from the scan split
    * (spark.sql.files.maxPartitionBytes bounds html bytes per task). The
    * explicit bucket+salt repartition happens in `run`, AFTER the kernel,
    * where the payload is the (smaller) extracted output — at 100 TB that
    * ordering is the difference between shuffling 100 TB of html and
    * shuffling ~30 TB of text. Used directly by the flagship entry and the
    * bench (no write). */
  def transform(
      spark: SparkSession,
      input: DataFrame,
      cfg: JobConfig,
      doneBucketList: Seq[Int] = Seq.empty): Dataset[DocResult] = {
    import spark.implicits._

    // -- relational prologue (Column exprs only → pushdown-friendly) --------
    var pages = input
      .select($"url", $"warc_ts", $"html", $"lang")
      .filter($"url".isNotNull)
    cfg.langFilter.foreach(l => pages = pages.filter($"lang" === l))
    val keyed = pages.withColumn(
      "bucket", pmod(xxhash64($"url"), lit(cfg.buckets)).cast("int"))

    // J1 — checkpoint resume: prune done buckets (a literal NOT IN — pushed
    // into the parquet scan, strictly cheaper than an anti-join at ≤buckets
    // values).
    val todo =
      if (doneBucketList.isEmpty) keyed
      else keyed.filter(!$"bucket".isin(doneBucketList: _*))

    // -- the kernel (one Extractor instance per partition, D6 analog) -------
    val probeCfg = cfg.probe
    todo.as[KeyedPage].mapPartitions { it =>
      val extractor = new Extractor(probeCfg)
      it.map { kp =>
        val bytesIn = if (kp.html == null) 0L else kp.html.length.toLong
        toDocResult(kp, extractor.extract(kp.html), bytesIn)
      }
    }
  }

  def run(spark: SparkSession, input: DataFrame, outDir: String, cfg: JobConfig): ExtractStats = {
    import spark.implicits._
    val done = if (cfg.resume) doneBuckets(spark, outDir) else Seq.empty
    val results = transform(spark, input, cfg, done)

    // -- the one explicit shuffle: bucket + salt, post-kernel (D3/D4) -------
    // The shuffle payload is extracted output, never raw html.
    val placed = placeByBucket(results, $"url", cfg.buckets, cfg.tasks)

    // -- sink: partitioned (bucketed-by-url-hash) parquet -------------------
    // The lineage counters ride the write as observed metrics. The observe
    // sits above the (bucket, salt) Exchange, in the write's result stage:
    // DAGScheduler merges a result task's accumulator updates once per
    // partition and OutputCommitCoordinator commits one attempt per
    // partition, so the counts are exact for the committed files even when
    // tasks are retried or speculated.
    val obs = Observation("lineage")
    val writer = placed.observe(obs, bucketCounters(col("bucket"),
        col("total_pages").cast("long"), col("ocr_page_count").cast("long"),
        col("bytes_in"), col("bytes_out")).as("buckets"))
      .write.options(LocalFs.writeOptions).mode("overwrite").partitionBy("bucket")
    // Resume writes with DYNAMIC partition overwrite, not append: if a
    // previous run died in the docs-committed/lineage-missing window, the
    // re-extraction of those buckets REPLACES their partitions instead of
    // appending duplicates — resume is idempotent across any crash point.
    (if (cfg.resume) writer.option("partitionOverwriteMode", "dynamic") else writer)
      .parquet(s"$outDir/docs")

    // -- lineage AFTER data commit (resume-safety ordering) -----------------
    writeLineage(spark, outDir, cfg,
      obs.get("buckets").asInstanceOf[scala.collection.Map[Int, scala.collection.Seq[Long]]])
  }

  /** Places rows for a `partitionBy("bucket")` sink: one shuffle keyed on
    * (bucket, salt), the salt a hash of `saltKey`. The writer count follows
    * the cluster (`tasks`, or 2× default parallelism when 0); the salt
    * follows the writers: with more writers than buckets each bucket
    * splits ⌈tasks/buckets⌉ ways, otherwise not at all. Every (bucket,
    * salt) key lands in exactly one task, so each key is one file and the
    * sink commits at most buckets × salts files — not input tasks ×
    * buckets. */
  private[pipeline] def placeByBucket[T](ds: Dataset[T], saltKey: Column,
      buckets: Int, tasks: Int): Dataset[T] = {
    val nTasks =
      if (tasks > 0) tasks else ds.sparkSession.sparkContext.defaultParallelism * 2
    val salts = math.max(1, (nTasks + buckets - 1) / buckets)
    ds.repartition(nTasks, col("bucket"), pmod(xxhash64(saltKey, lit(7)), lit(salts)))
  }

  def readDocs(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/docs")

  /** Typed view of the output table (e.g. for the WET sink). */
  def readDocsTyped(spark: SparkSession, outDir: String): Dataset[DocResult] = {
    import spark.implicits._
    readDocs(spark, outDir).as[DocResult]
  }

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/lineage")

  /** Exploded per-page stats table — the input of the §3.2 summary/reporting
    * layer; reads only scalar columns of the output, never `html`. */
  def pageStats(spark: SparkSession, outDir: String): DataFrame = {
    val docs = readDocs(spark, outDir)
    docs.select(col("url"), col("bucket"), explode(col("page_stats")).as("p"))
      .select(col("url"), col("bucket"), col("p.*"))
  }

  private def doneBuckets(spark: SparkSession, outDir: String): Seq[Int] = {
    // No lineage yet → nothing done. Checked rather than caught: once a
    // session has run an `observe`, Spark's observation listener re-plans
    // every failed query and logs its error at ERROR.
    val lineage = new org.apache.hadoop.fs.Path(s"$outDir/lineage")
    if (!lineage.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lineage))
      Seq.empty
    else try {
      readLineage(spark, outDir)
        .filter(col("status") === "done")
        .select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
    } catch {
      case _: Exception => Seq.empty // unreadable lineage → nothing done
    }
  }

  private type BucketSums = Map[Int, Array[Long]]

  /** Per-bucket sums of (docs, pages, ocr_needed, empty_extractions,
    * bytes_in, bytes_out) over (bucket, pages, ocr_needed, bytes_in,
    * bytes_out) rows. The buffer is sparse, bucket → 6 longs: a writer task
    * ships only the buckets placed on it, not `buckets` slots. A text is
    * empty exactly when its UTF-8 length `bytes_out` is 0. */
  private object BucketCounters
      extends Aggregator[(Int, Long, Long, Long, Long), BucketSums, BucketSums] {
    def zero: BucketSums = Map.empty
    def reduce(b: BucketSums, r: (Int, Long, Long, Long, Long)): BucketSums =
      add(b, r._1, Array(1L, r._2, r._3, if (r._5 == 0L) 1L else 0L, r._4, r._5))
    def merge(b1: BucketSums, b2: BucketSums): BucketSums =
      b2.foldLeft(b1) { case (acc, (bucket, c)) => add(acc, bucket, c) }
    def finish(b: BucketSums): BucketSums = b
    def bufferEncoder: Encoder[BucketSums] = ExpressionEncoder()
    def outputEncoder: Encoder[BucketSums] = ExpressionEncoder()

    private def add(b: BucketSums, bucket: Int, c: Array[Long]): BucketSums =
      b.get(bucket) match {
        case Some(sums) => var i = 0; while (i < sums.length) { sums(i) += c(i); i += 1 }; b
        case None => b.updated(bucket, c)
      }
  }

  private val bucketCounters =
    udaf(BucketCounters, ExpressionEncoder[(Int, Long, Long, Long, Long)]())

  /** Writes one "done" row per bucket the sink observed (every bucket this
    * invocation committed; resume skipped the done ones) from the driver. */
  private def writeLineage(
      spark: SparkSession, outDir: String, cfg: JobConfig,
      buckets: scala.collection.Map[Int, scala.collection.Seq[Long]]): ExtractStats = {
    import spark.implicits._
    val rows = buckets.toSeq.sortBy(_._1).map { case (bucket, c) =>
      LineageRow(bucket, "done", c(0), c(1), c(2), c(3), c(4), c(5), cfg.runId)
    }
    spark.createDataset(rows).coalesce(1).write.options(LocalFs.writeOptions)
      .mode(if (cfg.resume) "append" else "overwrite")
      .parquet(s"$outDir/lineage")
    ExtractStats(
      rows.map(_.docs).sum, rows.map(_.pages).sum,
      rows.map(_.ocr_needed).sum, rows.map(_.empty_extractions).sum,
      rows.map(_.bytes_in).sum, rows.map(_.bytes_out).sum)
  }

  private[pipeline] def toDocResult(kp: KeyedPage, ex: DocExtract, bytesIn: Long): DocResult = {
    val stats = ex.pageResults.map { r =>
      PageStat(
        page_number = r.pageNumber + 1,
        page_type = r.pageType,
        confidence = r.confidence,
        text_ratio = r.textRatio,
        image_ratio = r.imageRatio,
        text_length = r.textLength,
        image_count = r.imageCount,
        ocr_quality_score = r.ocrQualityScore,
        text_density = r.textDensity,
        formatting_consistency = r.formattingConsistency,
        has_text_quality = r.hasTextQuality,
        extraction_method = r.extractionMethod,
        analysis_mode = r.analysisMode,
        needs_ocr = ex.pages.contains(r.pageNumber + 1),
        error = r.error.getOrElse(""))
    }.toArray
    DocResult(
      url = kp.url,
      warc_ts = kp.warc_ts,
      lang = kp.lang,
      bucket = kp.bucket,
      doc_kind = ex.docKind,
      status = ex.status,
      pages = ex.pages.toArray,
      total_pages = ex.totalPages,
      ocr_page_count = ex.pages.length,
      extracted_text = ex.extractedText,
      spans = ex.spans.toArray,
      title = ex.title,
      bytes_in = bytesIn,
      bytes_out = utf8Length(ex.extractedText),
      error = ex.error.getOrElse(""),
      page_stats = stats,
      page_images = ex.pageImages)
  }

  /** UTF-8 byte length without materializing the byte array. */
  private def utf8Length(s: String): Long = {
    var bytes = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) bytes += 1
      else if (c < 0x800) bytes += 2
      else if (Character.isHighSurrogate(c)) { bytes += 4; i += 1 }
      else bytes += 3
      i += 1
    }
    bytes
  }
}

package graft.streaming

import graft.model.DocResult
import graft.pipeline.{CurateConfig, CurateJob, ExtractJob, JobConfig, LocalFs}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Continuous extraction over an append-only Page-table directory —
  * Structured Streaming around the SAME kernel the batch job runs.
  *
  * The reference is strictly batch (SURVEY.md §2.12) and the north rule's
  * resumability is batch-with-lineage; this module is the engine-side
  * extension for pipelines that land new WARC partitions continuously:
  * `readStream` file source → narrow kernel `mapPartitions` → partitioned
  * parquet sink with exactly-once file-source checkpointing (the streaming
  * analog of the lineage resume — already-seen files are never reprocessed).
  */
object StreamingExtract {

  /** The Page-table schema (BASELINE.json input_hint). */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Start the continuous extraction query: new parquet files appearing
    * under `inputDir` are extracted exactly once (file-source checkpoint)
    * into bucket-partitioned parquet under `outDir`.
    *
    * The query runs in a child session that carries the caller's SQL conf
    * plus [[LocalFs.writeOptions]]: Spark 4.1's file stream sink, its
    * `_spark_metadata` log and the checkpoint writers take their Hadoop
    * conf from the session (`sessionState.newHadoopConf()`), not from the
    * write options. The two logs are written through the FileSystem-based
    * checkpoint file manager: the default FileContext-based one goes
    * through Hadoop's `AbstractFileSystem` for `file:`, which forks
    * `chmod` per created file and `readlink` per rename whatever
    * `fs.file.impl` says. The caller's session is left unchanged. */
  def start(spark: SparkSession, inputDir: String, outDir: String,
      checkpoint: String, cfg: JobConfig = JobConfig(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val session = spark.newSession()
    val streamConf = LocalFs.writeOptions + ("spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    for ((k, v) <- spark.conf.getAll ++ streamConf if !session.conf.getOption(k).contains(v))
      session.conf.set(k, v)
    val pages = session.readStream.schema(pageSchema).parquet(inputDir)
    ExtractJob.transform(session, pages, cfg)
      .writeStream
      .options(LocalFs.writeOptions)
      .format("parquet")
      .option("path", s"$outDir/docs")
      .option("checkpointLocation", checkpoint)
      .partitionBy("bucket")
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .start()
  }

  /** Watermarked, windowed status counts over event time (`warc_ts`):
    * the classic streaming aggregation shape — watermark bounds state, the
    * window tumbles per `window` duration. */
  def windowedStatusCounts(docs: Dataset[DocResult], window: String,
      watermark: String = "1 hour"): DataFrame =
    docs.toDF()
      .withWatermark("warc_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("warc_ts"), window),
        col("status"))
      .agg(count(lit(1)).as("docs"),
        sum(col("ocr_page_count").cast("long")).as("ocr_pages"))

  /** Per-host running extraction stats via mapGroupsWithState — the custom
    * stateful-operator shape (KeyValueGroupedDataset.mapGroupsWithState):
    * tracks cumulative docs / OCR pages / empty extractions per host across
    * micro-batches. */
  final case class HostStats(host: String, docs: Long, ocrPages: Long, empty: Long)

  def hostStats(docs: Dataset[DocResult]): Dataset[HostStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(d => hostOf(d.url))
      .mapGroupsWithState[HostStats, HostStats](GroupStateTimeout.NoTimeout()) {
        (host: String, rows: Iterator[DocResult], state: GroupState[HostStats]) =>
          val prev = state.getOption.getOrElse(HostStats(host, 0L, 0L, 0L))
          var d = prev.docs; var o = prev.ocrPages; var e = prev.empty
          rows.foreach { r =>
            d += 1
            o += r.ocr_page_count
            if (r.extracted_text.isEmpty) e += 1
          }
          val next = HostStats(host, d, o, e)
          state.update(next)
          next
      }
  }

  // ------------------------------------------------------------- curation

  /** One verdict row of the STREAMING curation funnel. */
  final case class StreamVerdict(
      url: String, text: String, lang: String, verdict: String)

  /** Streaming curation — CurateJob's funnel applied continuously with
    * BATCH-PARITY verdict precedence (exact_dup > funnel reasons > kept):
    *
    *   - the funnel filters (length / language / quality / [Gopher] /
    *     repetition) are CurateJob's own row-local funnel Column
    *     ([[CurateJob.funnelVerdict]]), so they stream unchanged — they are
    *     evaluated BEFORE the stateful stage and carried into it;
    *   - exact dedup runs as `flatMapGroupsWithState` keyed on the content
    *     hash: the FIRST document seen per hash keeps its funnel verdict,
    *     every later arrival (any micro-batch) becomes `exact_dup` —
    *     first-seen-wins is the only well-defined keep rule over an
    *     unbounded stream (the batch job's min-id rule needs the whole
    *     corpus);
    *   - per-key state is one boolean; `stateTtl` (non-empty) bounds it
    *     with a processing-time timeout — a hash not re-seen within the
    *     TTL is evicted, so re-appearances after that are treated as new:
    *     the standard streaming-dedup memory/recall trade, stated
    *     explicitly. Use it ONLY with continuous triggers: under
    *     `Trigger.AvailableNow` pending processing-time timeouts keep the
    *     drain loop alive (measured here: the query never terminates), so
    *     the default is no timeout.
    *
    * Near-dup LSH needs cross-batch candidate JOINS and stays a batch
    * (CurateJob) concern; run it over the curated table periodically. */
  def curateVerdicts(docs: Dataset[DocResult],
      cfg: CurateConfig = CurateConfig(),
      stateTtl: String = ""): Dataset[StreamVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = CurateJob.funnelSignals(docs.toDF().withColumn("curation_text",
      coalesce($"extracted_text", lit(""))), "curation_text", cfg)
    val keyed = sig.select($"url", $"curation_text".as("text"), $"lang",
      CurateJob.funnelVerdict(cfg).as("funnel_verdict"),
      md5($"curation_text").as("content_hash"))
      .as[(String, String, String, String, String)]

    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.ProcessingTimeTimeout()
    keyed
      .groupByKey(_._5)
      .flatMapGroupsWithState[Boolean, StreamVerdict](
        OutputMode.Append(), timeout) {
        (_: String, rows: Iterator[(String, String, String, String, String)],
            state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(false)
            // The group iterator's order is NOT deterministic within a
            // micro-batch; sort by url so the SAME row keeps its funnel
            // verdict on every run (min url wins) before the rest become
            // exact_dup. Per-group cardinality = same-content-hash rows in
            // ONE micro-batch — bounded, fine to materialize.
            val out = rows.toVector.sortBy(_._1).map {
              case (url, text, lang, fv, _) =>
                val verdict = if (seen) "exact_dup" else { seen = true; fv }
                StreamVerdict(url, text, lang, verdict)
            }
            state.update(seen)
            if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
  }

  /** One per-(doc, band) near-dup observation: `dup_of` is the retained
    * representative this doc near-duplicates in this band bucket (None =
    * this doc became / remained a candidate representative here). */
  final case class StreamNearDup(
      url: String, band: Int, bucket: Long, dup_of: Option[String])

  /** Per-band-bucket state: retained representatives, NEWEST FIRST,
    * capped at `maxPerBucket` (recency eviction). */
  final case class BucketReps(reps: List[(String, List[Long])])

  /** Cross-micro-batch STREAMING near-dup detection — the SCALE.md design
    * implemented: MinHash signatures and band buckets are row-local
    * Column expressions (they stream unchanged); state lives per
    * (band, bucket) in `flatMapGroupsWithState` as a bounded list of
    * representative (url, signature) pairs. An arriving doc compares its
    * FULL signature against the bucket's representatives (estimated
    * Jaccard = matching minhash components / numHashes); at or above
    * `threshold` it reports the best-matching representative (ties break
    * to the smaller url — deterministic), otherwise it joins the
    * representatives (evicting the oldest past `maxPerBucket`).
    *
    * Memory/recall trade, stated explicitly: each bucket's representative
    * list is capped at `maxPerBucket`, but the NUMBER of (band, bucket)
    * state keys grows with distinct content — an unbounded stream of
    * novel docs grows the state store. `stateTtl` (non-empty) bounds it
    * with a processing-time timeout: buckets idle past the TTL are
    * evicted, so state tracks recent arrival activity instead of stream
    * history. Like `curateVerdicts`' TTL, use it ONLY with continuous
    * triggers (under `Trigger.AvailableNow` pending processing-time
    * timeouts keep the drain loop alive — the measured hang — hence the
    * no-timeout default). Recall is windowed either way (bucket cap +
    * TTL); the periodic batch LSH job (CurateJob) remains the
    * completeness backstop.
    *
    * Output is per (doc, band): a doc collides in up to numBands buckets,
    * so the doc-level verdict is the batch reduction "any non-null
    * dup_of" over the sink (a second stateful aggregation inside the
    * same stream would stack stateful operators — kept out by design).
    * Within a micro-batch, rows in a group process in url order, so the
    * retained representative is deterministic across runs. */
  def nearDupVerdicts(docs: Dataset[DocResult],
      shingleK: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.5,
      maxPerBucket: Int = 16,
      stateTtl: String = ""): Dataset[StreamNearDup] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bandSize = graft.ops.Dedup.bandSize(numHashes, numBands)
    val sigs = docs.toDF()
      .select($"url", graft.ops.Dedup.shingleFingerprints(
        coalesce($"extracted_text", lit("")), shingleK).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("sig", graft.expr.KernelExpressions.minhash($"sh", numHashes))
      .withColumn("bk",
        explode(graft.ops.Dedup.bandKeys($"sig", numBands, bandSize)))
      .select($"url", $"bk.band".cast("int").as("band"),
        $"bk.bucket".as("bucket"), $"sig")
      .as[(String, Int, Long, Seq[Long])]

    val timeout =
      if (stateTtl.isEmpty) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.ProcessingTimeTimeout()
    sigs.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[BucketReps, StreamNearDup](
        OutputMode.Append(), timeout) {
        case ((band, bucket), rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var reps = state.getOption.map(_.reps).getOrElse(Nil)
            val out = rows.toVector.sortBy(_._1).map { case (url, _, _, sig) =>
              // a re-crawled URL must not match ITSELF (streams re-deliver
              // urls routinely) — self is excluded from comparison and its
              // representative entry is refreshed, never duplicated
              val best = reps.iterator
                .filter { case (repUrl, _) => repUrl != url }
                .map { case (repUrl, repSig) =>
                  val matching = repSig.iterator.zip(sig.iterator)
                    .count { case (a, b) => a == b }
                  (repUrl, matching.toDouble / numHashes)
                }.filter(_._2 >= threshold).toList
                .minByOption { case (u, s) => (-s, u) }
              if (best.isEmpty) // only originals become representatives
                reps = ((url, sig.toList) ::
                  reps.filterNot(_._1 == url)).take(maxPerBucket)
              StreamNearDup(url, band, bucket, best.map(_._1))
            }
            state.update(BucketReps(reps))
            if (stateTtl.nonEmpty) state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
  }

  /** Batch reduction over a `nearDupVerdicts` sink: per-doc verdict —
    * a doc is a near-dup iff ANY band reported a representative; the
    * reported representative is the smallest across bands
    * (deterministic). Run this over the sink table, not inside the
    * stream (it would stack a second stateful operator). */
  def nearDupDocVerdicts(hits: DataFrame): DataFrame =
    hits.groupBy(col("url"))
      .agg(min(col("dup_of")).as("dup_of"),
        count(when(col("dup_of").isNotNull, 1)).as("dup_bands"))
      .withColumn("is_near_dup", col("dup_of").isNotNull)

  private[streaming] def hostOf(url: String): String = {
    val noScheme = url.indexOf("://") match {
      case -1 => url
      case i => url.substring(i + 3)
    }
    val slash = noScheme.indexOf('/')
    if (slash < 0) noScheme else noScheme.substring(0, slash)
  }
}

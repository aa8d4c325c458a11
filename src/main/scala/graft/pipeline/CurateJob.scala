package graft.pipeline

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Knobs of the curation funnel. Defaults mirror the q50 filter funnel and
  * the dedup operators' documented parameters. */
final case class CurateConfig(
    minChars: Int = 120,
    langs: Seq[String] = Seq("en", "de", "fr"),
    minQuality: Double = 0.3,
    repetitiveTopPpm: Long = 60000L,
    nearDupThreshold: Double = 0.5,
    shingleK: Int = 3,
    numHashes: Int = 32,
    numBands: Int = 8,
    scrubPii: Boolean = true,
    buckets: Int = 64,
    // C4-style line-level dedup stage (Raffel 2020 §2.2): when > 0, lines
    // occurring in ≥ this many distinct docs are stripped BEFORE the
    // quality signals, and keepers are written with the cleaned text.
    // Assumes unique doc ids (like the near-dup verdict); 0 = off.
    lineDedupMinDocs: Int = 0,
    // Gopher document-level thresholds (Rae 2021 §A1.1 subset matching
    // gopherSignalCols): docs outside any band get verdict gopher_filter.
    // Off by default — q54's funnel shape is unchanged unless opted in.
    gopherFilter: Boolean = false,
    gopherMinWords: Long = 50L,
    gopherMaxWords: Long = 100000L,
    gopherMinMeanWordLen: Double = 3.0,
    gopherMaxMeanWordLen: Double = 10.0,
    gopherMinAlphaPpm: Long = 800000L,
    gopherMaxSymbolPpm: Long = 100000L,
    gopherMinStopHits: Long = 2L,
    // ExactSubstr-style duplicated-span removal (Lee et al. 2022 §4.1,
    // the q64 operator): when true, maximal runs of corpus-duplicated
    // spanK-grams covering ≥ spanMinTokens tokens are cut from every
    // document AFTER line dedup (spans the line ban-list is too coarse
    // for: partial-line boilerplate, chained templates) and BEFORE the
    // quality signals. Off by default — q54's funnel shape unchanged.
    spanRemoval: Boolean = false,
    spanK: Int = 8,
    spanMinTokens: Int = 16,
    spanMinCount: Long = 2L,
    // remove-all-but-one (each duplicated gram's globally first
    // occurrence survives — the suffix-array original's semantics)
    // instead of the default remove-every-occurrence
    spanKeepFirst: Boolean = false,
    // --- near-dup candidate-generation scale bounds (round 7: the funnel
    // previously always used the UNCAPPED pair operator, the one
    // quadratic-fan-out risk left at 100 TB). Both default OFF so the
    // default funnel's verdicts are bit-identical to prior rounds.
    // nearDupMaxBucketDocs: prune LSH band buckets holding more than this
    // many docs before the pair self-join (Dedup.minhashNearDups'
    // documented cap; recall trade on Dedup.candidatePairs).
    nearDupMaxBucketDocs: Long = Long.MaxValue,
    // nearDupStarEdges: compute near-dup losers from the bucket-min STAR
    // edges (Dedup.minhashClusterEdges — linear fan-out per bucket, no
    // cap needed, no Jaccard verify): components become LSH-candidate
    // connectivity, a conservative COARSENING of verified-pair components
    // (every verified pair is a candidate pair), so dedup still keeps
    // exactly one doc per cluster — the at-scale recommendation for
    // 100 TB corpora where a template mega-cluster would otherwise emit
    // quadratic candidates inside one band bucket.
    nearDupStarEdges: Boolean = false) {
  /** True when any opt-in cleaning stage rewrites keeper text — such runs
    * carry `clean_text` on the verdict table and write keepers clean. */
  def rewritesText: Boolean = lineDedupMinDocs > 0 || spanRemoval
}

/** Per-reason document counts of a curation run, observed on the verdict
  * table's write (exactly-once, like ExtractJob's lineage: see [[CurateJob.run]]). */
final case class CurateStats(input: Long, kept: Long, drops: Map[String, Long])

/** The training-data CURATION pipeline — what a user runs over extraction
  * output (or any (id, text, lang) document table) to turn a crawl into a
  * training corpus:
  *
  *   exact dedup → near dedup (MinHash-LSH + connected components, losers
  *   dropped) → [line-level dedup, C4-style, opt-in] → [duplicated-span
  *   removal, ExactSubstr-style, opt-in] → length filter → language
  *   filter → quality filter → [Gopher threshold filter, opt-in] →
  *   repetition filter (Gopher-style) → PII scrub → bucketed parquet
  *   write with a per-document VERDICT table.
  *
  * Composition rules at 100 TB (each inherited from the operator it
  * reuses, plan shapes locked in PlanSpec/OpsSpec):
  *
  *   - the two dedup stages are the only stages that shuffle on anything
  *     other than the doc id (band bucket / fingerprint keys — see
  *     SCALE.md); their LOSER sets join back onto the corpus as keyed
  *     left joins, so the corpus body is never re-shuffled per stage;
  *   - all four quality filters are row-local Column expressions computed
  *     in ONE projection pass (no per-filter scans);
  *   - first-match-wins verdict precedence (exact_dup > near_dup >
  *     too_short > lang_filter > low_quality > [gopher_filter] >
  *     repetitive > kept) makes drop counts additive — the funnel reads
  *     like a report;
  *   - the verdict table is written for EVERY input doc (auditability +
  *     resume substrate), the curated table only for keepers;
  *   - PII scrubbing runs only on keepers (codegen'd regexp chain).
  */
object CurateJob {

  /** Stable long key for any id column: integral ids pass through (keeps
    * q54 oracle-comparable), string ids (e.g. ExtractJob's `url`) hash via
    * xxhash64 — so `curate --id-col url` over an extraction output WORKS
    * instead of silently casting every key to null. */
  private def docKey(docs: DataFrame, idCol: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(idCol).cast("long")
      case _ =>
        // a null id must stay null (xxhash64 would map every null to the
        // same seed constant, silently merging all null-id docs)
        when(col(idCol).isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col(idCol).cast("string")))
    }
  }

  /** The row-local funnel signals over `textCol`, in one projection:
    * [[TextOps.repetitionSignals]], `n_chars`, `quality` and, with
    * `gopherFilter` on, the Gopher signal struct `g`. */
  private[graft] def funnelSignals(df: DataFrame, textCol: String,
      cfg: CurateConfig): DataFrame = {
    val sig = TextOps.repetitionSignals(df, textCol,
        repetitiveTopPpm = cfg.repetitiveTopPpm)
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("quality", TextOps.qualityProxy(col(textCol)))
    if (cfg.gopherFilter)
      sig.withColumn("g", struct(TextOps.gopherSignalCols(col(textCol)): _*))
    else sig
  }

  /** The funnel verdict over [[funnelSignals]] and a `lang` column:
    * too_short > lang_filter > low_quality > gopher_filter > repetitive >
    * kept. The batch verdicts and the streaming funnel
    * (StreamingExtract.curateVerdicts) both use it. */
  private[graft] def funnelVerdict(cfg: CurateConfig): Column = {
    val gopherFails =
      if (!cfg.gopherFilter) lit(false)
      else col("g.word_count") < cfg.gopherMinWords ||
        col("g.word_count") > cfg.gopherMaxWords ||
        col("g.mean_word_len") < cfg.gopherMinMeanWordLen ||
        col("g.mean_word_len") > cfg.gopherMaxMeanWordLen ||
        col("g.alpha_word_ppm") < cfg.gopherMinAlphaPpm ||
        col("g.symbol_ppm") > cfg.gopherMaxSymbolPpm ||
        col("g.stop_hits") < cfg.gopherMinStopHits
    when(col("n_chars") < cfg.minChars, "too_short")
      .when(!col("lang").isin(cfg.langs.map(lit): _*), "lang_filter")
      .when(col("quality") < cfg.minQuality, "low_quality")
      .when(gopherFails, "gopher_filter")
      .when(col("repetitive"), "repetitive")
      .otherwise("kept")
  }

  /** Every verdict [[verdictsWithHash]] can assign. */
  private val verdictNames = Seq("null_id", "exact_dup", "near_dup", "too_short",
    "lang_filter", "low_quality", "gopher_filter", "repetitive", "kept")

  /** Per-document verdicts: (doc_id key, verdict) for every input row. */
  def verdicts(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, cfg: CurateConfig): DataFrame =
    verdictsWithHash(docs, idCol, textCol, langCol, cfg)
      .select(col("doc_id"), col("verdict"))

  /** [[verdicts]] plus the row's content hash — what [[run]] persists, so
    * the keeper join matches on (doc_id, content_hash) and a dropped
    * document sharing its id with a keeper (same url recrawled with
    * different content) can never leak into the curated output. Rows with
    * a NULL id get verdict `null_id` (invalid input — they never reach
    * the dedup machinery). Ids duplicated across DIFFERENT contents
    * should be recrawl-deduped first (q49 latest-capture): the near-dup
    * verdict is id-keyed, so such rows share their near verdict. */
  private[pipeline] def verdictsWithHash(docs: DataFrame, idCol: String,
      textCol: String, langCol: String, cfg: CurateConfig): DataFrame = {
    val withKey = docs.select(docKey(docs, idCol).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"), col(langCol).as("lang"))
    val invalid = withKey.filter(col("doc_id").isNull)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        lit("null_id").as("verdict"))
    val base = withKey.filter(col("doc_id").isNotNull)

    // optional cleaning stages, C4 order: line-level dedup, then
    // ExactSubstr span removal over the line-deduped text (each ban /
    // duplication statistic is computed over the FULL corpus — boilerplate
    // must be counted before any doc is dropped); the cleaned text feeds
    // the quality signals and rides the verdict table so `run` can write
    // keepers clean. Identity (content_hash) and the dedup stages stay on
    // the ORIGINAL text — the hash must match what `run` derives from the
    // input when joining keepers back. Both stages assume unique doc ids
    // (recrawl-dedup first, q49 — same contract as the near-dup verdict).
    val lineDedup = cfg.lineDedupMinDocs > 0
    val afterLine =
      if (lineDedup)
        base.join(TextOps.dropDuplicatedLines(
            base, "doc_id", "text", cfg.lineDedupMinDocs)
          .select(col("doc_id"), col("clean_text")), Seq("doc_id"))
      else base
    val sigSrc =
      if (cfg.spanRemoval)
        afterLine.drop("clean_text").join(
          Dedup.removeDuplicatedSpans(afterLine, "doc_id",
              if (lineDedup) "clean_text" else "text",
              k = cfg.spanK, minTokens = cfg.spanMinTokens,
              minCount = cfg.spanMinCount, keepFirst = cfg.spanKeepFirst)
            .select(col("doc_id"), col("clean_text")), Seq("doc_id"))
      else afterLine
    val sigText = if (cfg.rewritesText) "clean_text" else "text"

    // dedup losers (exact keeps the min id per group; near keeps each
    // connected component's min-id representative)
    // agg + join-back (the q21 shape): map-side combine on the content
    // hash, never a collect_list that would balloon on a hot duplicate key.
    // Materialized once (round 7, the q76/normalizedDedupVerdicts
    // rationale): the group aggregate and the loser join-back both consume
    // this table — without the checkpoint each ran its own corpus text
    // scan + md5 pass (q54's before-plan carried both). 40 bytes/row
    // (id + hex md5); at crawl scale the same pattern persists the key
    // table next to the verdicts. Lazy (eager = false): the first
    // consuming action materializes it in-line, so no extra blocking job
    // sits on the funnel's critical path.
    val keyed = base.select(col("doc_id"), md5(col("text")).as("k"))
      .localCheckpoint(eager = false)
    val keepPerKey = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("keep"))
    val exactLosers = keyed.join(keepPerKey, Seq("k"))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"), col("k")).distinct()
      .withColumn("x_exact", lit(true))
    // the consumer is clustering (components → min-id losers), so the
    // at-scale path is the linear-fan-out star edges; the verified pair
    // operator (optionally hot-bucket-capped) remains the default for
    // verdict-level parity with prior rounds
    val nearEdges =
      if (cfg.nearDupStarEdges)
        Dedup.minhashClusterEdges(base, "doc_id", "text",
          shingleK = cfg.shingleK, numHashes = cfg.numHashes,
          numBands = cfg.numBands)
      else Dedup.minhashNearDups(base, "doc_id", "text",
        shingleK = cfg.shingleK, numHashes = cfg.numHashes,
        numBands = cfg.numBands, threshold = cfg.nearDupThreshold,
        maxBucketDocs = cfg.nearDupMaxBucketDocs)
        .select(col("id_a"), col("id_b"))
    val nearLosers = Dedup.connectedComponents(nearEdges, "id_a", "id_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id")).withColumn("x_near", lit(true))

    // row-local quality signals in one pass (over the line-deduped text
    // when that stage is on — a doc that is boilerplate-only must fail
    // too_short AFTER its boilerplate is stripped, the C4 order)
    val sig = funnelSignals(sigSrc, sigText, cfg).withColumn("k", md5(col("text")))
    val verdictExpr =
      when(col("x_exact"), "exact_dup")
        .when(col("x_near"), "near_dup")
        .otherwise(funnelVerdict(cfg))
    val outCols =
      Seq(col("doc_id"), col("k").as("content_hash"),
        verdictExpr.as("verdict")) ++
        // clean_text is only ever read back for keepers (`run`'s join) —
        // carrying it on dropped rows would make the audit-sized verdict
        // table a second corpus-sized text copy on disk and on the write
        // shuffle at crawl scale, for bytes nothing reads
        (if (cfg.rewritesText)
          Seq(when(verdictExpr === "kept", col("clean_text"))
            .as("clean_text"))
        else Nil)
    sig
      .join(exactLosers, Seq("doc_id", "k"), "left_outer")
      .join(nearLosers, Seq("doc_id"), "left_outer")
      .select(outCols: _*)
      .unionByName(invalid, allowMissingColumns = true)
  }

  /** Run the funnel and write `outDir/curated` (bucketed by id hash,
    * partitioned — keepers only, PII-scrubbed) plus `outDir/verdicts`
    * (every doc). Stats are counted by observed metrics on the verdict
    * write: the observe sits directly under the write, in its result
    * stage, where DAGScheduler merges each partition's accumulator updates
    * once and OutputCommitCoordinator commits one attempt per partition —
    * so the counts are exactly those of the committed verdict table,
    * without a job that reads it back. */
  def run(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, langCol: String, outDir: String,
      cfg: CurateConfig = CurateConfig()): CurateStats = {
    val obs = Observation("verdicts")
    verdictsWithHash(docs, idCol, textCol, langCol, cfg)
      .observe(obs, count(lit(1)).as("input"),
        verdictNames.map(v => count_if(col("verdict") === v).as(v)): _*)
      .write.mode("overwrite").parquet(s"$outDir/verdicts")
    val committed = spark.read.parquet(s"$outDir/verdicts")

    // keepers retain EVERY original column (url, spans, …) plus the
    // derived doc_id key — curating an extraction output must not strip
    // its identity columns. The join matches (doc_id, content_hash), so a
    // dropped doc sharing its id with a keeper cannot leak in.
    val keyedDocs = docs
      .withColumn("doc_id", docKey(docs, idCol))
      .withColumn("content_hash", md5(coalesce(col(textCol), lit(""))))
    val kept = committed.filter(col("verdict") === "kept")
    val keepers =
      if (cfg.rewritesText)
        // text-rewriting runs (line dedup / span removal) write the
        // CLEANED text (carried on the verdict table so each corpus
        // statistic is computed exactly once)
        keyedDocs
          .join(kept.select("doc_id", "content_hash", "clean_text").distinct(),
            Seq("doc_id", "content_hash"))
          .withColumn(textCol, col("clean_text"))
          .drop("content_hash", "clean_text")
      else keyedDocs
        .join(kept.select("doc_id", "content_hash"),
          Seq("doc_id", "content_hash"), "left_semi")
        .drop("content_hash")
    val scrubbed =
      if (cfg.scrubPii)
        keepers.withColumn(textCol,
          TextOps.scrubPii(coalesce(col(textCol), lit(""))))
      else keepers
    // placed on (bucket, salt) like ExtractJob's sink, so each bucket is
    // written by one task instead of by every task that holds a keeper
    ExtractJob.placeByBucket(
      scrubbed.withColumn("bucket",
        pmod(xxhash64(col("doc_id")), lit(cfg.buckets)).cast("int")),
      col("doc_id"), cfg.buckets, tasks = 0)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$outDir/curated")

    val observed = obs.get
    val counts = verdictNames.map(v => v -> observed(v).asInstanceOf[Long])
      .filter(_._2 > 0).toMap
    CurateStats(
      input = observed("input").asInstanceOf[Long],
      kept = counts.getOrElse("kept", 0L),
      drops = counts - "kept")
  }
}

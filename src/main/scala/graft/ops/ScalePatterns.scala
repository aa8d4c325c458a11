package graft.ops

import graft.expr.KernelExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale patterns the 100 TB deployment leans on, packaged as reusable
  * operators: deterministic sampling, two-phase salted aggregation for
  * skewed keys, skew-proof top-k and exact quantile labels. */
object ScalePatterns {

  /** Deterministic stratified sampling for training-data mixing: keep a
    * row iff `pmod(mix64(id), 1000) < quotaPerMille(stratum)` — e.g.
    * downsample the over-represented language while keeping all of a
    * low-resource one. Properties that matter at 10^12 rows:
    *
    *   - row-local Column predicate (no shuffle, pushes past the scan's
    *     other filters);
    *   - hash-based, not `rand()`: replayable under task retry and
    *     speculation, stable across runs and partitionings;
    *   - engine-reproducible: the splitmix64 mixer is re-derived in the
    *     DuckDB oracle's HUGEINT mod-2^64 SQL (q44), so the sample
    *     membership itself is value-checked cross-engine;
    *   - native codegen'd expression ([[KernelExpressions.mix64]]), not a
    *     UDF; the id column is referenced by name, never parsed as SQL.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      quotasPerMille: Map[String, Int],
      defaultPerMille: Int): DataFrame = {
    val bucket = pmod(KernelExpressions.mix64(col(idCol)), lit(1000L))
    val quota = quotasPerMille.foldLeft(lit(defaultPerMille).cast("long")) {
      case (acc, (stratum, q)) =>
        when(col(strataCol) === stratum, lit(q.toLong)).otherwise(acc)
    }
    df.filter(bucket < quota)
  }

  /** Token-budget mixture sampling — the training-mixture construction
    * step (The Pile, Gao et al. 2020; DoReMi, Xie et al. 2023: fixed
    * token shares per source at a total budget): learn each source's
    * keep-rate from its MEASURED token total and the target share, then
    * keep each document by a deterministic splitmix64 coin at that rate.
    * All arithmetic is exact integer (oracle-checkable by construction):
    *
    *   allotted_s = floor(budget · share_ppm / 10^6)
    *     = (budget div 10^6)·share + ((budget mod 10^6)·share) div 10^6
    *     (the [[graft.ops.TextOps.trainQualityWeights]] split — exact,
    *     no Long wrap for budgets to ~9·10^12 tokens)
    *   rate_q20 = min(2^20, floor(allotted_s · 2^20 / T_s))  [base-1024
    *     split; T_s = the source's measured total tokens]
    *   kept ⇔ (mix64(id) & (2^20 − 1)) < rate_q20
    *
    * Sources absent from `sharePpm` get share 0 and are never kept;
    * under-budget sources clamp at rate 1 (keep everything); kept tokens
    * per source ≈ min(allotted_s, T_s) in expectation.
    *
    * Shuffle story at 100 TB: the per-doc token count is row-local; ONE
    * source-keyed aggregate (map-side combine to ≤ #sources rows per
    * task) broadcast back; the keep decision is a row-local codegen'd
    * hash predicate — replayable under task retry and speculation, and
    * it composes with further pushed filters. The corpus never shuffles. */
  def mixtureSample(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, sharePpm: Map[String, Long],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0L, s"budget must be >= 0, got $budgetTokens")
    require(sharePpm.values.forall(p => p >= 0L && p <= 1000000L),
      "shares are ppm values in [0, 1000000]")
    require(sharePpm.values.sum <= 1000000L,
      s"shares sum to ${sharePpm.values.sum} ppm > 10^6")
    val toks = df.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      TextOps.tokenCount(coalesce(col(textCol), lit(""))).as("n_tokens"))
    val share = sharePpm.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(col("source") === s, lit(p)).otherwise(acc)
    }
    val rates = toks.groupBy(col("source"))
      .agg(greatest(sum(col("n_tokens")), lit(1L)).as("src_tokens"))
      .select(col("source"), col("src_tokens"), share.as("share_ppm"))
      .withColumn("allotted",
        expr(s"($budgetTokens DIV 1000000) * share_ppm") +
          expr(s"(($budgetTokens % 1000000) * share_ppm) DIV 1000000"))
      .withColumn("rate_q20", least(lit(1048576L),
        expr("(allotted * 1024 DIV src_tokens) * 1024") +
          expr("((allotted * 1024 % src_tokens) * 1024) DIV src_tokens")))
    toks
      .join(broadcast(rates), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("share_ppm"), col("rate_q20"),
        (KernelExpressions.mix64(col("doc_id"))
          .bitwiseAND(lit(1048575L)) < col("rate_q20")).as("kept"))
  }

  /** Two-phase salted aggregation for skewed grouping keys (the hot-host
    * case): phase 1 aggregates on (key, salt) — the hot key's rows spread
    * over `saltFactor` reducers — phase 2 merges the partials per key.
    * Generalizes to any algebraic aggregate; count/sum provided.
    *
    * The salt mixes a content hash of the full row WITH the partition id,
    * NOT monotonically_increasing_id: a retried/speculated task re-reads
    * the same partition (same id, same rows) and re-hashes to the same
    * salts, so phase-1 partials are replayable — identical across runs
    * (asserted in ScalePatternsSpec). The partition-id term matters for
    * duplicate-heavy hot keys: a content hash alone maps identical rows to
    * ONE salt, collapsing the very case salting targets; mixing the
    * partition id spreads cross-partition duplicates while keeping the
    * salt deterministic under whole-partition retry. (Duplicates within a
    * single partition still share a salt, but those are already reduced by
    * map-side combine before the shuffle.) */
  def saltedCounts(df: DataFrame, keyCol: String, saltFactor: Int,
      sumCols: Seq[String] = Seq.empty): DataFrame = {
    val salt = pmod(
      xxhash64(df.columns.map(col) :+ spark_partition_id().cast("long"): _*),
      lit(saltFactor))
    val partialAggs: Seq[Column] =
      count(lit(1)).as("_cnt") +: sumCols.map(c => sum(col(c)).as(s"_sum_$c"))
    val partial = df
      .withColumn("_salt", salt)
      .groupBy(col(keyCol), col("_salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs: Seq[Column] =
      sum(col("_cnt")).as("cnt") +: sumCols.map(c => sum(col(s"_sum_$c")).as(s"sum_$c"))
    partial.groupBy(col(keyCol)).agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Per-group top-k (crawl-curation cap: "keep at most k docs per host"):
    * the straightforward window shape. Every row of a group lands in ONE
    * task — fine for ordinary key distributions, the wrong shape for a
    * mega-host; use `saltedTopKPerGroup` there. `orderBy` must be a total
    * order (include a unique tiebreaker) for deterministic output. */
  def topKPerGroup(
      df: DataFrame, groupCol: String, k: Int, orderBy: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderBy: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Exact equal-frequency quantile labels over an integer value column —
    * the distributed-exact-CDF pattern (CCNet's head/middle/tail
    * perplexity partition is `labels = Seq("head","middle","tail")`).
    * Every row gains `cdf_count` = the number of rows whose value is ≤
    * its own (ties share a count, hence a bucket) and `part` =
    * labels((cdf_count·k − 1) DIV total) — all-integer arithmetic, so
    * labels are bit-identical cross-engine and deterministic under ties
    * (equal values always land in the same bucket; no row_number on a
    * non-total order anywhere).
    *
    * Scale story: a naive exact CDF is a GLOBAL unpartitioned window —
    * one task sorts the corpus. Here the cumulative sum runs over the
    * VALUE HISTOGRAM (one value-keyed aggregate with map-side combine),
    * decomposed in two levels: a cumulative over the coarse buckets
    * `value >> coarseShift` (tiny — the value RANGE over 2^coarseShift
    * rows, e.g. ≤ ~40 for Q20 bit costs at the default shift of 20) and
    * a PARTITIONED-by-coarse-bucket cumulative within each bucket, so no
    * single task ever sees more than one coarse bucket's distinct
    * values. The per-row label join is a value-keyed equi-join against
    * the histogram; totals ride one broadcast single row (q07 shape). */
  def valueQuantileBuckets(df: DataFrame, valueCol: String,
      labels: Seq[String], coarseShift: Int = 20): DataFrame = {
    val k = labels.size
    require(k >= 1, "need at least one label")
    require(coarseShift >= 0 && coarseShift < 63,
      s"coarseShift must be in [0, 63), got $coarseShift")
    import org.apache.spark.sql.expressions.Window
    // materialized once (round 7): the coarse rollup and the within-coarse
    // CDF window are two consumers of the value histogram — without the
    // checkpoint each re-ran the upstream scan + grouped count. Distinct
    // observed values only (histogram-sized, not corpus-sized).
    val hist = df.select(col(valueCol).cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as("_n"))
      .withColumn("_c", shiftright(col("_v"), coarseShift))
      .localCheckpoint(eager = false)
    val coarse = hist.groupBy(col("_c")).agg(sum(col("_n")).as("_cn"))
    val wCoarse = Window.orderBy(col("_c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val coarseBefore = coarse.select(col("_c"),
      coalesce(sum(col("_cn")).over(wCoarse), lit(0L)).as("_cb"))
    val wWithin = Window.partitionBy(col("_c")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = coarse.agg(sum(col("_cn")).as("_tot"))
    val labeled = hist.withColumn("_wc", sum(col("_n")).over(wWithin))
      .join(broadcast(coarseBefore), Seq("_c"))
      .crossJoin(broadcast(total))
      .select(col("_v"), (col("_cb") + col("_wc")).as("cdf_count"),
        expr(s"(((_cb + _wc) * $k) - 1) DIV _tot").as("_idx"))
      .withColumn("part",
        element_at(typedlit(labels), col("_idx").cast("int") + 1))
      .drop("_idx")
    df.join(labeled, col(valueCol).cast("long") === labeled("_v"))
      .drop("_v")
  }

  /** Skew-proof per-group top-k: phase 1 takes a LOCAL top-k within
    * (group, salt) — bounding any single task to a salt-share of the
    * hottest group — and phase 2 ranks the ≤ saltFactor·k survivors per
    * group. Result is IDENTICAL to `topKPerGroup` (any global top-k row
    * is top-k within its salt bucket, so phase 1 cannot drop it —
    * OpsSpec asserts parity). The salt is a deterministic hash of the
    * row's columns: replayable under task retry, no RNG. */
  def saltedTopKPerGroup(
      df: DataFrame, groupCol: String, k: Int, orderBy: Seq[Column],
      saltFactor: Int): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(saltFactor.toLong)))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("_salt")).orderBy(orderBy: _*)
    val local = salted.withColumn("_lrn", row_number().over(w1))
      .filter(col("_lrn") <= k).drop("_lrn", "_salt")
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderBy: _*)
    local.withColumn("rn", row_number().over(w2)).filter(col("rn") <= k)
  }
}

package graft.tools

import java.nio.file.{Files, Paths}

import graft.pipeline.{ExtractJob, JobConfig, SynthSource}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Writes EXPLAIN.md: the formatted physical plans of the hot paths, as a
  * reviewable artifact (`sbt "Test/runMain graft.tools.GenExplain"`). */
object GenExplain {

  /** Formatted plans of everything `build` runs: one (action, plan) per
    * action taken while building — chiefly each lazy `localCheckpoint`,
    * whose upstream the final plan shows only as `Scan ExistingRDD` —
    * then ("final", the returned frame's plan). */
  def builtPlans(spark: SparkSession)(build: => DataFrame): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(action -> qe.explainString(FormattedMode))
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val last = build.queryExecution.explainString(FormattedMode)
      ListenerBusDrain(spark.sparkContext)
      seen.toArray(Array.empty[(String, String)]).toSeq :+ ("final" -> last)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    // The Tungsten page size is pinned: by default it follows the driver
    // heap, and a broadcast hash relation's plan statistics (§19) report
    // its page-rounded size.
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.buffer.pageSize", "32m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val corpus = Files.createTempDirectory("explain_corpus_").toString
    SynthSource.writeCorpus(spark, 500L, 42L, corpus)
    val out = Files.createTempDirectory("explain_out_").toString
    // the run §3 reports on; its own plans are §27
    val sinkPlans = builtPlans(spark) {
      ExtractJob.run(spark, spark.read.parquet(corpus), out, JobConfig(buckets = 8))
      spark.emptyDataFrame
    }.init

    def fmt(df: => DataFrame): String = {
      val plans = builtPlans(spark)(df)
      if (plans.size == 1) plans.head._2
      else plans.zipWithIndex.map { case ((action, p), i) =>
        val what = if (action == "final") "final plan"
          else s"built by `$action` ${i + 1} of ${plans.size - 1}"
        s"==== $what ====\n$p"
      }.mkString("\n")
    }

    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans of the hot paths\n\n")
    sb.append("Generated by `graft.tools.GenExplain` (regenerate after plan-affecting\n")
    sb.append("changes). PlanSpec asserts the properties these plans must keep.\n")
    sb.append("Where an operator materializes a table (lazy `localCheckpoint`), the\n")
    sb.append("final plan reads it as `Scan ExistingRDD`; the plan that builds each\n")
    sb.append("such table is printed before the final plan.\n\n")

    sb.append("## 1. Extraction hot path (scan → filters → kernel), lang-filtered\n\n")
    sb.append("Note `PushedFilters: [IsNotNull(url), EqualTo(lang,en)]` on the scan and\n")
    sb.append("the absence of any Exchange below the MapPartitions kernel.\n\n```\n")
    sb.append(fmt(ExtractJob.transform(spark, spark.read.parquet(corpus),
      JobConfig(langFilter = Some("en"))).toDF()))
    sb.append("\n```\n\n")

    sb.append("## 2. Resume: done-bucket pruning below the kernel boundary\n\n```\n")
    sb.append(fmt(ExtractJob.transform(spark, spark.read.parquet(corpus),
      JobConfig(), doneBucketList = Seq(1, 2, 3)).toDF()))
    sb.append("\n```\n\n")

    sb.append("## 3. Reporting off the output table (column pruning — ReadSchema has\n")
    sb.append("no extracted_text/spans)\n\n```\n")
    sb.append(fmt(graft.pipeline.Summary.corpusSummary(ExtractJob.pageStats(spark, out))))
    sb.append("\n```\n\n")

    sb.append("## 4. MinHash LSH candidate join (keys = band buckets)\n\n```\n")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sb.append(fmt(graft.ops.Dedup.minhashNearDups(docs, "doc_id", "text")))
    sb.append("\n```\n\n")

    sb.append("## 5. Stratified sample (row-local splitmix64 predicate — no\n")
    sb.append("Exchange, no typed boundary; the Filter sits directly on the scan)\n\n```\n")
    sb.append(fmt(graft.ops.ScalePatterns.stratifiedSample(docs, "doc_id",
      "lang", Map("en" -> 150), defaultPerMille = 300)))
    sb.append("\n```\n\n")

    sb.append("## 6. IVF-Flat ANN (single typedlit centroid literal: the plan is\n")
    sb.append("O(1) in nlist; corpus shuffles once on cluster id, queries broadcast)\n\n```\n")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sb.append(fmt(graft.ops.Similarity.ivfTopK(emb,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", 3)))
    sb.append("\n```\n")

    sb.append("\n## 7. Repetition signals (row-local single-pass fold — no\n")
    sb.append("Exchange, no typed boundary; one projection over the scan)\n\n```\n")
    sb.append(fmt(graft.ops.TextOps.repetitionSignals(docs, "text")))
    sb.append("\n```\n\n")

    sb.append("## 8. Latest-capture-per-URL dedup (exactly one Exchange, keyed on\n")
    sb.append("the canonical URL, with partial max_by/count map-side combine)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q49_latest_capture")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 9. Duplicated-n-gram profile (Lee et al. ExactSubstr statistic —\n")
    sb.append("every Exchange keyed on gram fingerprint or doc id, partial aggs)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q51_dup_ngrams")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 10. Benchmark contamination (bench 5-gram set BROADCAST — the\n")
    sb.append("corpus membership test never shuffles; one doc-keyed aggregate)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q52_contamination")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 11. Cross-snapshot incremental dedup (exact: hash equi-join with\n")
    sb.append("text-equality residual; near: LSH band join between snapshots —\n")
    sb.append("no O(base × incoming) anywhere)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q53_incremental_dedup")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 12. Connected components: per-partition contraction (the\n")
    sb.append("canonical distinct edges, then one MapPartitions union-find in the\n")
    sb.append("same stage — no extra Exchange), the star-forest check before round\n")
    sb.append("1 (one vertex-keyed aggregate with a partial phase), and a star\n")
    sb.append("round (round 4: per-vertex map-side-combining min + equi-join\n")
    sb.append("re-emit, shuffles keyed on the vertex — one round of the\n")
    sb.append("O(log diameter) loop)\n\n```\n")
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    sb.append(fmt(graft.ops.Dedup.contractedEdges(pairs)))
    sb.append("\n```\n\n```\n")
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L)).toDF("src", "dst")
    sb.append(fmt(graft.ops.Dedup.starViolations(edges)))
    sb.append("\n```\n\n```\n")
    sb.append(fmt(graft.ops.Dedup.largeStar(edges)))
    sb.append("\n```\n\n")

    sb.append("## 13. Skew-proof per-group top-k (round 4: phase-1 window keyed\n")
    sb.append("on (group, salt) bounds any task to a salt-share of the hottest\n")
    sb.append("group; final window keyed on the group)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q60_per_source_cap")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 14. Line-level corpus dedup (round 5: corpus-scale Exchanges\n")
    sb.append("keyed on xxhash64(line) — longs, not strings; exact string\n")
    sb.append("re-count only on the candidate subset; membership join on the\n")
    sb.append("bare hash with an array_contains residual AFTER the join; one\n")
    sb.append("doc-keyed reassembly)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q59_line_dedup")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 15. Trained quality classifier (round 5: ONE token-keyed\n")
    sb.append("corpus aggregate with map-side combine; prior = scalar\n")
    sb.append("re-aggregate of the vocab-sized count table, broadcast single\n")
    sb.append("row; weight lookup = BroadcastHashJoin — the exploded corpus\n")
    sb.append("never shuffles on the token key; doc-keyed sum combines\n")
    sb.append("map-side)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q63_quality_classifier")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 16. keepFirst span removal (round 5: the canonical\n")
    sb.append("occurrence is min(struct(doc_id, pos)) computed as a SECOND\n")
    sb.append("COMBINER in the same gram-keyed partial aggregate as the\n")
    sb.append("occurrence count — note partial_min beside partial_count and\n")
    sb.append("the absence of any Window over the gram key; the only Window\n")
    sb.append("is the doc-keyed gaps-and-islands row_number)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q65_dup_span_keep_first")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n\n")

    sb.append("## 17. DSIR importance scoring (round 5: bucket-keyed count\n")
    sb.append("aggregate onto a FIXED key space of B=4096 rows — map-side\n")
    sb.append("combine, shuffle O(tasks*B) independent of corpus size; totals\n")
    sb.append("= broadcast single row; Q20 integer-log weights evaluate\n")
    sb.append("row-locally over B rows; the scorer's weight lookup is a\n")
    sb.append("BroadcastHashJoin — the exploded corpus never shuffles on the\n")
    sb.append("bucket key; doc-keyed sum combines map-side)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q69_dsir_scores")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 18. Bigram-LM perplexity scoring (round 5: pair training\n")
    sb.append("is ONE aggregate onto a key space capped at buckets^2 — map-side\n")
    sb.append("combine, corpus-size-independent; context totals re-aggregate\n")
    sb.append("that capped table, never the corpus; BOTH LM lookups are\n")
    sb.append("BroadcastHashJoins so the exploded corpus never shuffles on the\n")
    sb.append("pair key; the only corpus-keyed Exchange is the doc-keyed\n")
    sb.append("cost sum with map-side combine)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q70_bigram_lm_perplexity")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 19. CCNet perplexity partition (round 5: the exact\n")
    sb.append("equal-frequency CDF runs over the VALUE HISTOGRAM, not rows —\n")
    sb.append("one value-keyed aggregate with map-side combine; the only\n")
    sb.append("value-ordered windows are PARTITIONED by the coarse bucket\n")
    sb.append("(no global unpartitioned sort anywhere); the coarse-prefix\n")
    sb.append("table and the grand total ride broadcasts; the per-row label\n")
    sb.append("join is value-keyed)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q71_perplexity_partition")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 20. Bloom-filter cross-corpus dedup (round 5: the build\n")
    sb.append("is one word-keyed bit_or aggregate onto a CONSTANT key space\n")
    sb.append("of bits/32 rows — map-side combine bounds every task's shuffle\n")
    sb.append("contribution at bits/32 partials regardless of corpus size; the\n")
    sb.append("screen joins the fixed-size filter by BROADCAST, so the corpus\n")
    sb.append("never shuffles for membership; only corpus-keyed Exchange is\n")
    sb.append("the doc-keyed min with map-side combine)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q72_bloom_dedup")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 21. BM25 top-k (round 5: per-term tf is a constant-size\n")
    sb.append("row-local melt — no corpus explode; corpus stats and the\n")
    sb.append("<=|terms|-row idf table ride broadcasts; the only corpus-keyed\n")
    sb.append("Exchange is the doc-keyed contribution sum feeding a\n")
    sb.append("TakeOrderedAndProject — no global sort)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q73_bm25_topk")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 22. Token-budget mixture sampling (round 5: ONE\n")
    sb.append("source-keyed aggregate learns the keep rates; the rate table\n")
    sb.append("rides a broadcast back and the keep decision is a row-local\n")
    sb.append("codegen'd splitmix64 coin — the corpus never shuffles)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q74_mixture_sample")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 23. Learned source-reputation filter (round 5: ONE\n")
    sb.append("source-keyed aggregate (#sources rows out); the corpus-wide\n")
    sb.append("rate re-aggregates that tiny table — not the corpus — and both\n")
    sb.append("ride broadcasts onto the row-local verdict projection)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q75_source_reputation")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 24. Normalized exact dedup (round 5: the one-translate\n")
    sb.append("CCNet canonicalizer is row-local codegen feeding the md5, so\n")
    sb.append("the group aggregate's Exchange carries 16-byte keys + ids —\n")
    sb.append("never text — with map-side combine; the verdict join is keyed\n")
    sb.append("on the same md5)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q76_normalized_dedup")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 25. Sequence packing (round 5: the tape prefix sum is a\n")
    sb.append("per-shard running frame — ONE Exchange keyed on the shard, a\n")
    sb.append("LOCAL sort below the Window, and no RangePartitioning/global\n")
    sb.append("sort anywhere)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q77_sequence_packing")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 26. Winnowed partial-overlap pairs (round 5: the sketch\n")
    sb.append("is a row-local kernel scan (~2/(w+1) of gram volume crosses\n")
    sb.append("the wire); stop-fingerprints are pruned by a partial-agg\n")
    sb.append("BEFORE the fingerprint-keyed self-join — no product, per-key\n")
    sb.append("fan-out bounded by the doc-freq cap)\n\n```\n")
    sb.append(fmt(graft.SparkEntry.queries("q79_winnow_overlap")(
      spark, "/root/testdata/sf0.001")))
    sb.append("\n```\n")

    sb.append("\n## 27. Extraction sink (`ExtractJob.run`: the lineage counters\n")
    sb.append("are observed on the docs write — CollectMetrics directly over the\n")
    sb.append("(bucket, salt) Exchange, in the write's result stage; the only scan\n")
    sb.append("is the input, the docs table is never read back; the lineage rows\n")
    sb.append("are written from the driver after the docs commit)\n\n```\n")
    sb.append(sinkPlans.zipWithIndex.map { case ((action, p), i) =>
      s"==== `$action` ${i + 1} of ${sinkPlans.size} ====\n$p"
    }.mkString("\n"))
    sb.append("\n```\n")

    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println("wrote EXPLAIN.md")
    spark.stop()
  }
}

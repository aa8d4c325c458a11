package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.ops.{Dedup, Similarity, TextOps, WebOps}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2/§4.3): filters are pushed into
  * the parquet scan, reporting queries never read the heavy columns, the
  * relational prologue sits before the opaque typed kernel node, and the
  * operators broadcast/shuffle where intended. These lock the 100 TB plan
  * shape at test time, not just the row values. */
class PlanSpec extends AnyFunSuite {

  /** Plan traversal that descends into adaptive plans and query stages. */
  private object AqePlans extends AdaptiveSparkPlanHelper

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val corpus: String = {
    val dir = Files.createTempDirectory("graft_plan_corpus_").toString
    SynthSource.writeCorpus(spark, 500L, 42L, dir)
    dir
  }

  private lazy val outDir: String = {
    val dir = Files.createTempDirectory("graft_plan_out_").toString
    ExtractJob.run(spark, spark.read.parquet(corpus), dir, JobConfig(buckets = 8))
    dir
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("lang filter and url non-null are pushed into the parquet scan") {
    val df = ExtractJob.transform(spark, spark.read.parquet(corpus),
      JobConfig(langFilter = Some("en")))
    val p = plan(df.toDF())
    assert(p.contains("PushedFilters"), p.take(800))
    assert(p.contains("IsNotNull(url)"), "url non-null not pushed:\n" + p.take(1200))
    assert(p.contains("EqualTo(lang,en)"), "lang filter not pushed:\n" + p.take(1200))
  }

  test("extraction hot path is narrow: no shuffle before the kernel") {
    val df = ExtractJob.transform(spark, spark.read.parquet(corpus), JobConfig())
    val p = plan(df.toDF())
    val exchangeIdx = p.indexOf("Exchange")
    val kernelIdx = p.indexOf("MapPartitions")
    assert(kernelIdx >= 0, "kernel node missing")
    // either no exchange at all, or only above (after) the kernel in the tree
    assert(exchangeIdx < 0, s"unexpected shuffle in transform plan:\n${p.take(1500)}")
  }

  test("resume bucket pruning happens before the typed kernel boundary") {
    val df = ExtractJob.transform(spark, spark.read.parquet(corpus), JobConfig(),
      doneBucketList = Seq(1, 2, 3))
    val p = plan(df.toDF())
    val filterIdx = p.indexOf(" IN (1,2,3)")
    val kernelIdx = p.indexOf("MapPartitions")
    assert(filterIdx >= 0, "resume NOT-IN filter missing:\n" + p.takeRight(1500))
    // plan prints top-down: the kernel (later stage) appears BEFORE the
    // filter (earlier stage) in the string, so filter index > kernel index
    assert(filterIdx > kernelIdx,
      "resume filter is not below the kernel in the plan:\n" + p.take(1500))
  }

  test("reporting queries read only the cheap columns (column pruning)") {
    val ps = ExtractJob.pageStats(spark, outDir)
    val p = plan(Summary.corpusSummary(ps))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("extracted_text"),
      s"summary scan reads extracted_text: $readSchema")
    assert(!readSchema.contains("spans"), s"summary scan reads spans: $readSchema")
    assert(readSchema.contains("page_stats"), readSchema)
  }

  test("bucket partition pruning on the output table") {
    val docs = ExtractJob.readDocs(spark, outDir).filter(col("bucket") === 3)
    val p = plan(docs)
    // partition filters appear as PartitionFilters in the scan
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("\\s+", " ").contains("(bucket"), p.take(1200))
    assert(docs.count() > 0)
  }

  test("small dimension side of ANN brute-force is broadcast") {
    val e = spark.read.parquet(s"/root/testdata/sf0.001/embeddings.parquet")
    val top = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
      "embedding", 3)
    assert(plan(top).contains("BroadcastNestedLoopJoin") ||
      plan(top).contains("BroadcastHashJoin"), plan(top).take(1200))
  }

  test("exact dedup aggregates with a partial (map-side) phase") {
    val ev = spark.read.parquet(s"/root/testdata/sf0.001/events.parquet")
    val p = plan(Dedup.exactGroups(ev, "event_id", "props"))
    // partial_min/partial_count markers indicate map-side combine
    assert(p.contains("partial_"), p.take(1200))
  }

  test("minhash candidate join shuffles on the band bucket key") {
    val docs = spark.read.parquet(s"/root/testdata/sf0.001/documents.parquet")
    val p = plan(Dedup.minhashNearDups(docs, "doc_id", "text"))
    // join keys must be the LSH band buckets (the whole point of the
    // candidate-generation design); strategy may be broadcast at tiny scale
    // or sort-merge at real scale — both acceptable, keys are not.
    val joinLine = p.linesIterator.find(_.contains("Join [band#")).getOrElse("")
    assert(joinLine.nonEmpty, "no join keyed on band buckets:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(joinLine.contains("bucket#"), joinLine)
  }

  test("whole-stage codegen covers the relational operators") {
    // codegen'd stages print with the "*(n)" marker in executedPlan
    val fq = graft.SparkEntry.queries("q01_classify_needs_ocr")(
      spark, "/root/testdata/sf0.001")
    assert(plan(fq).startsWith("*("), plan(fq).take(400))
  }

  test("stratified sampling is a row-local codegen'd filter on the scan " +
    "(no Exchange, no typed boundary, Mix64Expr inside codegen)") {
    val docs = spark.read.parquet(s"/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.ScalePatterns.stratifiedSample(
      docs, "doc_id", "lang", Map("en" -> 150), defaultPerMille = 300))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("DeserializeToObject"), p.take(800))
    assert(p.contains("graft_mix64"), p.take(800))
    assert(p.startsWith("*("), "sampling filter must be codegen'd:\n" + p.take(400))
  }

  test("url canonicalization is row-local (no Exchange, no typed boundary)") {
    val docs = spark.read.parquet(s"/root/testdata/sf0.001/documents.parquet")
    val p = plan(docs.select(
      graft.ops.WebOps.canonicalizeUrl(concat(lit("https://h.example/"),
        col("doc_id").cast("string"))).as("u")))
    assert(!p.contains("Exchange") && !p.contains("DeserializeToObject"),
      p.take(800))
  }

  test("repetition signals are row-local: no Exchange, no typed boundary, " +
    "one codegen'd projection") {
    val docs = spark.read.parquet(s"/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.ops.TextOps.repetitionSignals(docs, "text"))
    assert(!p.contains("Exchange"), p.take(800))
    assert(!p.contains("DeserializeToObject"), p.take(800))
    // the run-length fold is the one lambda call left (its merge and
    // finish lambdas): the bigrams are a regexp, and `sort_array` plans
    // no comparator lambda
    assert("lambdafunction\\(".r.findAllIn(p).size == 2, p.take(3000))
  }

  test("latest-capture dedup: exactly one shuffle, on the canonical key, " +
    "with a partial (map-side) max_by/count phase") {
    val p = plan(graft.SparkEntry.queries("q49_latest_capture")(
      spark, "/root/testdata/sf0.001"))
    assert("Exchange".r.findAllIn(p).size == 1,
      "expected exactly one shuffle:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("hashpartitioning(canonical_url"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      p.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
  }

  test("connected-components star rounds: per-vertex min agg has a partial " +
    "(map-side) phase, shuffles keyed on the vertex, no cartesian product") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val edges = pairs.select(
      greatest(col("id_a"), col("id_b")).as("src"),
      least(col("id_a"), col("id_b")).as("dst"))
    for (round <- Seq(Dedup.largeStar(edges), Dedup.smallStar(edges))) {
      val p = plan(round)
      assert(p.contains("partial_min"), // map-side combine on the min agg
        p.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), p.take(800))
      val keys = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
      assert(keys.forall(_.contains("src")), keys.mkString("\n"))
    }
  }

  test("line-level dedup: corpus-scale Exchanges keyed on xxhash64(line) " +
    "or the doc id (never the raw string alone), membership join keyed on " +
    "the hash, ban-list count aggregates with a partial phase, no product") {
    import spark.implicits._
    val df = Seq((1L, "a\nb"), (2L, "a\nc"), (3L, "a")).toDF("id", "text")
    val p = plan(graft.ops.TextOps.dropDuplicatedLines(df, "id", "text", 2))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    // every shuffle key includes the long hash (line_h) or the doc id —
    // a raw-string-only key would put corpus text volume on the wire
    val keys = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keys.nonEmpty && keys.forall(l =>
      l.contains("line_h") || l.contains("id")), keys.mkString("\n"))
    // the membership (left outer) join keys on the hash alone; the
    // string-equality residual is an array_contains AFTER the join
    val joins = p.linesIterator.filter(_.contains("LeftOuter")).toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("line_h")),
      joins.mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial"),
      p.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
  }

  test("salted per-group top-k: phase-1 window keyed on (group, salt) so " +
    "no single task holds a whole hot group; final window keyed on group") {
    import spark.implicits._
    val df = Seq((1L, "h", 10L), (2L, "h", 20L)).toDF("id", "grp", "score")
    val p = plan(graft.ops.ScalePatterns.saltedTopKPerGroup(
      df, "grp", 2, Seq(col("score").desc, col("id").asc), 4))
    val keys = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keys.exists(l => l.contains("grp") && l.contains("_salt")),
      "phase-1 (group, salt) exchange missing:\n" + keys.mkString("\n"))
    assert(keys.exists(l => l.contains("grp") && !l.contains("_salt")),
      "final group exchange missing:\n" + keys.mkString("\n"))
  }

  test("dup-gram profile: every Exchange keyed on gram or doc_id, both " +
    "aggregates have partial (map-side) phases, no cartesian product") {
    val p = plan(graft.SparkEntry.queries("q51_dup_ngrams")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    val keys = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keys.nonEmpty && keys.forall(l =>
      l.contains("gram") || l.contains("doc_id")), keys.mkString("\n"))
    assert(p.contains("partial_count") || p.contains("partial"),
      p.linesIterator.filter(_.contains("Aggregate")).mkString("\n"))
  }

  test("benchmark contamination: the bench gram set is broadcast — the " +
    "corpus membership test has no shuffle on the corpus side") {
    val p = plan(graft.SparkEntry.queries("q52_contamination")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the only hash exchanges are the per-doc aggregate (and none keyed
    // on the gram for the corpus side of the join)
    val joins = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(joins.isEmpty, s"membership test must not sort-merge: $joins")
  }

  test("quality classifier: the trained weight table is broadcast — the " +
    "exploded corpus never shuffles on the token key at scoring time") {
    val p = plan(graft.SparkEntry.queries("q63_quality_classifier")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    val joins = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(joins.isEmpty, s"weight lookup must not sort-merge: $joins")
    // training's token-keyed count and scoring's doc-keyed sum both
    // map-side combine (partial_sum before their Exchanges)
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(1200))
  }

  test("duplicated-span removal: every join is a keyed equi-join (gram " +
    "fingerprint / doc id) — no product, no nested loop; gram counting " +
    "map-side combines (asserted on the segment pipeline, which the r7 " +
    "materialize-once checkpoint hides from the final plan)") {
    val p = plan(graft.SparkEntry.queries("q64_dup_span_removal")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val seg = plan(Dedup.duplicatedSpanSegments(docs, 8, 12, 2L,
      keepFirst = false))
    assert(!seg.contains("CartesianProduct") &&
      !seg.contains("BroadcastNestedLoop"), seg.take(800))
    assert(seg.contains("partial_count") || seg.contains("Partial"),
      seg.take(1200))
  }

  test("keepFirst span removal: the canonical occurrence is a min-struct " +
    "COMBINER in the gram aggregate — no window/rank over gram " +
    "occurrences (a hot gram must never force a per-key sort), no product " +
    "(asserted on the segment pipeline, which the r7 materialize-once " +
    "checkpoint hides from the final plan)") {
    val p = plan(graft.SparkEntry.queries("q65_dup_span_keep_first")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    val seg = plan(Dedup.duplicatedSpanSegments(docs, 8, 12, 2L,
      keepFirst = true))
    assert(!seg.contains("CartesianProduct") &&
      !seg.contains("BroadcastNestedLoop"), seg.take(800))
    // min(struct(doc_id, pos)) must partial-aggregate alongside the count
    assert(seg.contains("partial_min"), seg.take(1200))
    // the ONLY Window in the pipeline is the doc-keyed gaps-and-islands
    // row_number; nothing windows over the gram key
    val windowSpecs = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
      .findAllMatchIn(seg).map(_.group(1)).toList
    assert(windowSpecs.nonEmpty &&
      windowSpecs.forall(s => s.contains("doc_id") && !s.contains("gram")),
      s"unexpected window partitioning: $windowSpecs")
  }

  test("DSIR: the 4096-row weight table is broadcast to the scorer (the " +
    "exploded corpus never shuffles on the bucket key), learning's " +
    "bucket aggregate map-side combines, and no join is a product") {
    val p = plan(graft.SparkEntry.queries("q69_dsir_scores")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // the only non-equi join allowed is the single-row broadcast of the
    // (T, R) totals (the q07 percentage-of-total shape)
    assert(!p.contains("CartesianProduct"), p.take(800))
    val bnl = p.linesIterator.filter(_.contains("BroadcastNestedLoop")).size
    assert(bnl <= 1, s"only the totals row may nested-loop, saw $bnl")
    val joins = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(joins.isEmpty, s"weight lookup must not sort-merge: $joins")
    // the fixed-B bucket count and the doc-keyed score sum both
    // partial-aggregate before their Exchanges
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(1200))
  }

  test("bigram LM: both capped lookup tables (pair counts, context " +
    "totals) broadcast to the scorer — the exploded corpus never " +
    "shuffles on the pair key and no join is a product") {
    val p = plan(graft.SparkEntry.queries("q70_bigram_lm_perplexity")(
      spark, "/root/testdata/sf0.001"))
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"expected both LM lookups broadcast, saw $bhj:\n" +
      p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    val joins = p.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(joins.isEmpty, s"LM lookups must not sort-merge: $joins")
    // pair training and the doc-keyed cost sum partial-aggregate
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(1200))
  }

  test("perplexity partition: every CDF window ordering by the histogram " +
    "value is PARTITIONED by the coarse bucket (no global unpartitioned " +
    "sort over the value histogram) and no join is a product") {
    val p = plan(graft.SparkEntry.queries("q71_perplexity_partition")(
      spark, "/root/testdata/sf0.001"))
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    val valueOrdered = specs.filter(_.contains("_v#"))
    assert(valueOrdered.nonEmpty, s"expected a within-coarse window:\n$specs")
    assert(valueOrdered.forall(_.contains("_c#")),
      s"value-ordered window must partition by the coarse bucket: $specs")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("bloom dedup: the filter rides broadcasts (corpus never shuffles " +
    "for membership), the word-keyed build partial-aggregates, and no " +
    "join is a product") {
    val p = plan(graft.SparkEntry.queries("q72_bloom_dedup")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_min") || p.contains("Partial"), p.take(1200))
  }

  test("bm25: idf and corpus stats ride broadcasts (the corpus text " +
    "never shuffles); the top-k is a TakeOrdered, not a global sort") {
    val p = plan(graft.SparkEntry.queries("q73_bm25_topk")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("mixture sampling: the rate table rides a broadcast and the keep " +
    "coin is row-local — the corpus never shuffles") {
    val p = plan(graft.SparkEntry.queries("q74_mixture_sample")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("source reputation: rates ride broadcasts; the corpus-wide rate " +
    "re-aggregates the tiny source table, not the corpus") {
    val p = plan(graft.SparkEntry.queries("q75_source_reputation")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("incremental dedup: exact + near checks are keyed equi-joins " +
    "(hash/band-bucket), never a product of the two snapshots") {
    val p = plan(graft.SparkEntry.queries("q53_incremental_dedup")(
      spark, "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
    // band-bucket join key present on the near path
    assert(p.contains("band") && p.contains("bucket"), p.take(1200))
  }

  test("normalized dedup: the group aggregate partial-aggregates on the " +
    "md5 key (map-side combine before the wire) and no join is a product") {
    val p = plan(graft.SparkEntry.queries("q76_normalized_dedup")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("partial_min") || p.contains("Partial"), p.take(1200))
    assert(p.contains("norm_md5"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("winnow overlap: the candidate join is keyed on the fingerprint " +
    "(never a product) and the stop-fingerprint aggregate partial-" +
    "aggregates before the wire") {
    val p = plan(graft.SparkEntry.queries("q79_winnow_overlap")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("fingerprint"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(1200))
  }

  test("sequence packing: the tape window is keyed on the shard column — " +
    "no RangePartitioning (global sort) anywhere in the plan") {
    val p = plan(graft.SparkEntry.queries("q77_sequence_packing")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("hashpartitioning(shard"), p.take(1200))
    assert(!p.toLowerCase.contains("rangepartitioning"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("star cluster edges: the bucket-rep aggregate partial-aggregates " +
    "min(id) before the wire, the rep join is a (band, bucket) equi-join " +
    "(never a product), and the shuffles carry fixed-width keys") {
    val p = plan(Dedup.minhashClusterEdges(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text", shingleK = 3, numHashes = 32, numBands = 8))
    assert(p.contains("partial_min") || p.contains("Partial"), p.take(1200))
    assert(p.contains("band") && p.contains("bucket"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  test("capped near-dup pairs: the hot-bucket prune is a left-anti " +
    "equi-join on (band, bucket) ahead of the pair self-join — no " +
    "product anywhere") {
    val p = plan(graft.SparkEntry.queries("q84_capped_neardups")(
      spark, "/root/testdata/sf0.001"))
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(800))
  }

  /** The plan of every table the operator materializes, then its final plan. */
  private def builtPlans(build: => DataFrame): Seq[String] =
    graft.tools.GenExplain.builtPlans(spark)(build).map(_._2)

  test("k-gram sketches are the native graft_shingle_hashes expression: " +
    "no operator re-splits its text once per shingle inside a lambda " +
    "(slice(split(...)) per element)") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_plan_sketch_").toString
    Seq((1L, "a b c d e", "en"), (2L, "a b c d f", "en"))
      .toDF("doc_id", "text", "lang").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "minhashNearDups" -> (() => Dedup.minhashNearDups(docs, "doc_id", "text")),
      "minhashClusterEdges" -> (() => Dedup.minhashClusterEdges(docs, "doc_id", "text")),
      "ngramJaccardPairs" -> (() =>
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("lang"))),
      "removeDuplicatedSpans" -> (() =>
        Dedup.removeDuplicatedSpans(docs, "doc_id", "text")))
    for ((name, op) <- ops) {
      val plans = builtPlans(op())
      val p = plans.mkString("\n")
      assert(p.contains("graft_shingle_hashes("), s"$name:\n${p.take(2000)}")
      assert(!p.contains("slice(split("), s"$name:\n${p.take(2000)}")
      if (name.startsWith("minhash")) {
        assert(p.contains("graft_minhash(") && !p.contains("zip_with("),
          s"$name:\n${p.take(2000)}")
        // the band table: bands are a literal array of per-band structs —
        // no lambda re-evaluating the signature once per band
        val bandPlans = plans.filter(_.contains("graft_minhash("))
        assert(bandPlans.nonEmpty, s"$name:\n${p.take(2000)}")
        for (bp <- bandPlans) {
          assert(!bp.contains("lambdafunction") && !bp.contains("transform("),
            s"$name:\n$bp")
          assert("graft_minhash\\(".r.findAllIn(bp).size == 1, s"$name:\n$bp")
        }
      }
    }
  }

  test("kernel functions reach operator plans only as KernelExpressions " +
    "Columns: no registry call and no graft_ function name outside the " +
    "expression module and the SQL registration") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val allowed = Set("graft/expr/KernelExpressions.scala", "graft/api/GraftFunctions.scala")
      .map(root.resolve(_).normalize)
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !allowed(f.normalize)).toSeq
    assert(files.size > 40, files.size)
    val banned = """KernelExpressions\.register\(|"graft_""".r
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Source with comments and string/char literals blanked to spaces
    * (offsets and line breaks kept), so parentheses and names inside them
    * cannot match. */
  private def codeOnly(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, to: Int): Unit =
      for (j <- from until math.min(to, out.length) if out(j) != '\n') out(j) = ' '
    def after(token: String, from: Int): Int = {
      val e = src.indexOf(token, from)
      if (e < 0) src.length else e + token.length
    }
    var i = 0
    while (i < src.length) {
      val end =
        if (src.startsWith("//", i)) after("\n", i) - 1
        else if (src.startsWith("/*", i)) after("*/", i + 2)
        else if (src.startsWith("\"\"\"", i)) after("\"\"\"", i + 3)
        else if (src(i) == '"') {
          var j = i + 1
          while (j < src.length && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
          j + 1
        } else if (src(i) == '\'' && i + 3 < src.length && src(i + 1) == '\\')
          if (src(i + 2) == '\'') i + 4 else after("'", i + 2)
        else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') i + 3
        else i + 1
      if (end > i + 1) blank(i, end)
      i = end
    }
    new String(out)
  }

  /** Every lambda higher-order call in `code`, as the offset of its name:
    * a `transform`/`aggregate`/`zip_with`/`filter`/… call (not a method
    * call) with a `=>` or a `_` placeholder among its own arguments. */
  private def lambdaCalls(code: String): Seq[Int] = {
    val hof = ("""(?<![\w.$])(transform|aggregate|zip_with|filter|exists|forall|""" +
      """reduce|array_sort|map_filter|map_zip_with|transform_keys|transform_values)\(""").r
    hof.findAllMatchIn(code).map(_.start).filter { at =>
      var j = code.indexOf('(', at) + 1
      var depth = 1
      var lambda = false
      while (depth > 0 && j < code.length) {
        code(j) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case '=' if depth == 1 && code.startsWith("=>", j) => lambda = true
          case '_' if depth == 1 && !(code(j - 1).isLetterOrDigit || code(j - 1) == '_') &&
            !(code(j + 1).isLetterOrDigit || code(j + 1) == '_') => lambda = true
          case _ =>
        }
        j += 1
      }
      lambda
    }.toSeq
  }

  /** Calls that plan a `lambdafunction` with no lambda in the source: a
    * one-argument `array_sort` (its default comparator) and
    * `array_compact` (4.1 rewrites it to a lambda `filter`). */
  private def hiddenLambdaCalls(code: String): Seq[Int] =
    """(?<![\w.$])(array_sort|array_compact)\(""".r.findAllMatchIn(code).filter { m =>
      var j = m.end
      var depth = 1
      var comma = false
      while (depth > 0 && j < code.length) {
        code(j) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => comma = true
          case _ =>
        }
        j += 1
      }
      m.group(1) == "array_compact" || !comma
    }.map(_.start).toSeq

  /** The only lambda higher-order calls left in src/main/scala, by file and
    * site (member def, or SparkEntry query): folds and element-wise
    * arithmetic that no Spark built-in expresses. */
  private val lambdaAllowlist: Map[(String, String), Int] = Map(
    ("graft/ops/Similarity.scala", "cosine") -> 4,
    ("graft/ops/Similarity.scala", "planeBit") -> 2,
    ("graft/ops/Similarity.scala", "centroidScores") -> 1,
    ("graft/ops/TextOps.scala", "repetitionSignals") -> 1,
    ("graft/SparkEntry.scala", "quantizedEmbeddings") -> 1)

  test("lambda higher-order calls in src/main/scala only at the allowlisted " +
    "folds; everywhere else Spark built-ins") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40, files.size)
    val memberDef = """(?m)^  (?:private(?:\[\w+\])? )?(?:override )?def (\w+)""".r
    val query = """(?m)^\s*"(q\d+\w*)" ->""".r
    def calls(find: String => Seq[Int]): Seq[(String, String, Int)] = for {
      f <- files
      src = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
      code = codeOnly(src)
      sites = (memberDef.findAllMatchIn(code) ++ query.findAllMatchIn(src))
        .map(m => m.start -> m.group(1)).toSeq.sortBy(_._1)
      at <- find(code)
    } yield {
      val site = sites.takeWhile(_._1 < at).lastOption.map(_._2).getOrElse("<top>")
      val line = src.substring(0, at).count(_ == '\n') + 1
      (root.relativize(f).toString, site, line)
    }
    def report(found: Seq[(String, String, Int)]): String = found.sortBy(h => (h._1, h._3))
      .map { case (f, site, line) => s"$f:$line ($site)" }.mkString("\n")
    val found = calls(lambdaCalls)
    val bySite = found.groupBy(h => (h._1, h._2)).map { case (k, v) => k -> v.size }
    assert(bySite == lambdaAllowlist, report(found))
    val hidden = calls(hiddenLambdaCalls)
    assert(hidden.isEmpty, report(hidden))
  }

  test("ExtractJob.run: no docs re-read, at most 3 jobs, CollectMetrics above the Exchange") {
    val dir = Files.createTempDirectory("graft_plan_sink_").toString
    val input = spark.read.parquet(corpus)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val planCapture = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobCounter)
    spark.listenerManager.register(planCapture)
    try {
      ExtractJob.run(spark, input, dir, JobConfig(buckets = 8))
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(jobCounter)
      spark.listenerManager.unregister(planCapture)
    }
    val plans = executed.asScala.toSeq
    val report = plans.map(_.treeString).mkString("\n")
    // kernel shuffle-map stage, docs write, lineage write
    assert(jobs.get <= 3, s"${jobs.get} jobs:\n$report")

    // the only file scan is the input: the output is never read back
    val scanned = plans.flatMap(p => AqePlans.collect(p) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }).flatten
    assert(scanned.nonEmpty && scanned.forall(_.endsWith(corpus)), report)

    // the lineage CollectMetrics sits in the write's result stage: the
    // (bucket, salt) Exchange is below it and no Exchange is above it
    val sinks = plans.flatMap(p => AqePlans.collect(p) {
      case cm: CollectMetricsExec => cm
    }.map(p -> _))
    assert(sinks.size == 1, report)
    val (root, cm) = sinks.head
    val exchanges = (p: SparkPlan) => AqePlans.collect(p) { case e: ShuffleExchangeLike => e }
    val below = exchanges(cm)
    assert(below.exists(_.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.map(_.references.map(_.name).toSet) == Seq(Set("bucket"), Set("url"))
      case _ => false
    }), root.treeString)
    assert(exchanges(root).size == below.size, root.treeString)

    assert(ExtractJob.readLineage(spark, dir).count() > 0)
  }

  test("operators converted from lambdas to built-ins plan no " +
    "lambdafunction; the Gopher and URL projections are whole-stage codegen'd") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_plan_builtins_").toString
    Seq((1L, "the cat sat\nhello world", "a.example", "https://A.example:443/p?b=2&utm_x=1&a=1#f"),
      (2L, "the cat sat\nother line and of is", "a.example", "http://b.example/q?utm_y=2"),
      (3L, "word word word the end", "b.example", "plain"))
      .toDF("doc_id", "text", "source", "url").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val pages = ExtractJob.pageStats(spark, outDir)
    val labeled = docs.withColumn("y", col("doc_id") =!= 3L)
    val gopher = TextOps.gopherQualitySignals(docs, "doc_id", "text")
    val url = docs.select(WebOps.canonicalizeUrl(col("url")).as("u"))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "gopherQualitySignals" -> (() => gopher),
      "dropDuplicatedLines" -> (() =>
        TextOps.dropDuplicatedLines(docs, "doc_id", "text", 2)),
      "removeDuplicatedSpans" -> (() =>
        Dedup.removeDuplicatedSpans(docs, "doc_id", "text", k = 2, minTokens = 2)),
      "bm25TopK" -> (() =>
        TextOps.bm25TopK(docs, "doc_id", "text", Seq("the", "cat"), 2)),
      "sourceReputation" -> (() =>
        TextOps.sourceReputation(docs, "doc_id", "text", "source")),
      "corpusSummary" -> (() => Summary.corpusSummary(pages)),
      "problematicPages" -> (() => Summary.problematicPages(pages)),
      "canonicalizeUrl" -> (() => url),
      "dsirBucketWeights" -> (() =>
        TextOps.dsirBucketWeights(labeled, "text", "y", buckets = 64)),
      "bigramLmTrain" -> (() => TextOps.bigramLmTrain(labeled, "text", "y", buckets = 64)),
      "bigramLmScores" -> (() => TextOps.bigramLmScores(docs, "doc_id", "text",
        TextOps.bigramLmTrain(labeled, "text", "y", buckets = 64), buckets = 64)),
      "bpeSymbolCount" -> (() => docs.select(
        TextOps.bpeSymbolCount(col("text"), Seq(("t", "h"), ("th", "e"))).as("n"))))
    for ((name, op) <- ops) {
      val p = builtPlans(op()).mkString("\n")
      assert(!p.contains("lambdafunction("), s"$name:\n${p.take(3000)}")
    }
    for ((name, df) <- Seq("gopherQualitySignals" -> gopher, "canonicalizeUrl" -> url))
      assert(plan(df).startsWith("*("), s"$name:\n${plan(df).take(1500)}")
  }
}

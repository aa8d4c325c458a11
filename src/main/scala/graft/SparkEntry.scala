package graft

import graft.ops.{Dedup, Multimodal, ScalePatterns, Similarity, TextOps}
import graft.pipeline.{ExtractJob, JobConfig, Summary, SynthSource}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data operator suite). EVERY query has an
  * ANSI-SQL DuckDB oracle (69/69 — zero rows-only checks): engine-specific
  * values are made oracle-checkable by construction. Kernel 64-bit hashes
  * (minhash/simhash/fingerprints) are re-derived in DuckDB HUGEINT mod-2^64
  * SQL; LSH hyperplanes are MD5-derived so both engines compute them; dot
  * products are sequential left folds replicated by `list_reduce`; the
  * kernel quality metrics (F1–F7) are restated as SQL over this corpus's
  * regular text shapes.
  *
  * Cross-engine float discipline: every aggregated double is either built
  * from exactly-representable scaled integers (sum of cents / deci-
  * confidences) or is a single correctly-rounded division of such integers,
  * so Spark and DuckDB produce bit-identical values regardless of their
  * summation order. Raw double sums are never compared unrounded.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The testdata parquet ships as a single row group, so a scan cannot
    * split no matter what maxPartitionBytes says — every per-row kernel
    * or shingle expression would run on ONE core. Spread rows across the
    * session's cores before compute-heavy per-row work. (At production
    * scale the scan has thousands of splits and callers skip this.) */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  // ------------------------------------------------------------------ shared
  // Derived page-features over `documents` — the testdata stand-in for the
  // reference's per-page features (text_length, image_count, quality,
  // confidence), with the C3 fast-classifier CASE tree
  // (_detector.py:471-487) and the P1 needs-OCR predicate (simple.py:121-158)
  // at confidence_threshold = 0.5. Mirrored exactly by `featSql`.
  private val PageArea = 612.0 * 792.0

  private def pageFeatures(docs: DataFrame): DataFrame = {
    val imageCount = (col("doc_id") % 4).cast("int")
    val quality = (col("doc_id") % 100).cast("double") / lit(100.0)
    val estIr = when(imageCount > 0, least(lit(0.8), imageCount.cast("double") * 0.2))
      .otherwise(0.0)
    val estTr = least(lit(1.0), col("n_chars").cast("double") * 100.0 / lit(PageArea))
    val f = docs
      .withColumn("text_length", col("n_chars"))
      .withColumn("image_count", imageCount)
      .withColumn("quality", quality)
      .withColumn("est_ir", estIr)
      .withColumn("est_tr", estTr)
    val cls = f
      .withColumn("page_type",
        when(col("text_length") < 10 && col("image_count") === 0, "empty")
          .when(col("text_length") > 500 && col("est_tr") > 0.1, "text")
          .when(col("text_length") < 50 && col("image_count") > 0, "scanned")
          .when(col("text_length") > 50 && col("image_count") > 0, "mixed")
          .when(col("text_length") > col("est_ir") * 1000, "text")
          .otherwise("scanned"))
      .withColumn("confidence",
        when(col("text_length") < 10 && col("image_count") === 0, 0.9)
          .when(col("text_length") > 500 && col("est_tr") > 0.1, 0.8)
          .when(col("text_length") < 50 && col("image_count") > 0, 0.8)
          .when(col("text_length") > 50 && col("image_count") > 0, 0.7)
          .otherwise(0.5))
    cls.withColumn("needs_ocr",
      when(col("page_type") === "scanned", true)
        .when(col("page_type") === "empty", true)
        .when(col("page_type") === "text",
          col("text_length") < 50 || col("quality") < 0.4 || col("confidence") < 0.5)
        .when(col("page_type") === "mixed",
          col("text_length") < 100 || col("quality") < 0.5 || col("confidence") < 0.5)
        .otherwise(false))
  }

  private val featSql: String =
    """WITH feat AS (
      |  SELECT doc_id, lang, source, text, n_chars AS text_length,
      |    CAST(doc_id % 4 AS INT) AS image_count,
      |    CAST(doc_id % 100 AS DOUBLE) / 100.0 AS quality,
      |    CASE WHEN doc_id % 4 > 0
      |         THEN least(0.8, CAST(doc_id % 4 AS DOUBLE) * 0.2) ELSE 0.0 END AS est_ir,
      |    least(1.0, CAST(n_chars AS DOUBLE) * 100.0 / 484704.0) AS est_tr
      |  FROM documents
      |), cls AS (
      |  SELECT *,
      |    CASE WHEN text_length < 10 AND image_count = 0 THEN 'empty'
      |         WHEN text_length > 500 AND est_tr > 0.1 THEN 'text'
      |         WHEN text_length < 50 AND image_count > 0 THEN 'scanned'
      |         WHEN text_length > 50 AND image_count > 0 THEN 'mixed'
      |         WHEN text_length > est_ir * 1000 THEN 'text'
      |         ELSE 'scanned' END AS page_type,
      |    CASE WHEN text_length < 10 AND image_count = 0 THEN 0.9
      |         WHEN text_length > 500 AND est_tr > 0.1 THEN 0.8
      |         WHEN text_length < 50 AND image_count > 0 THEN 0.8
      |         WHEN text_length > 50 AND image_count > 0 THEN 0.7
      |         ELSE 0.5 END AS confidence
      |  FROM feat
      |), p AS (
      |  SELECT *,
      |    CASE WHEN page_type = 'scanned' THEN TRUE
      |         WHEN page_type = 'empty' THEN TRUE
      |         WHEN page_type = 'text'
      |           THEN (text_length < 50 OR quality < 0.4 OR confidence < 0.5)
      |         WHEN page_type = 'mixed'
      |           THEN (text_length < 100 OR quality < 0.5 OR confidence < 0.5)
      |         ELSE FALSE END AS needs_ocr
      |  FROM cls
      |)""".stripMargin

  /** `embeddings` with every component quantized to floor(x·8) — ·8 is a
    * power of two so the product is exact, and floor is unambiguous in
    * both engines. The input of q55 and q67. */
  private def quantizedEmbeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => floor(x * 8)).as("iv"))

  /** P5 formatted list (Summary.formatPageList) of a sorted long array. */
  private def fmtList(pagesCol: Column): Column = Summary.formatPageList(pagesCol)

  // -------------------------------------------------------------- flagship

  /** Flagship: the full extraction pipeline (scan → salted repartition →
    * mapPartitions kernel → doc results) over a deterministic synthetic
    * Page corpus. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val input = SynthSource.pages(spark, 500L, seed = 42L).toDF()
    ExtractJob.transform(spark, input, JobConfig(buckets = 16))
      .select(col("url"), col("doc_kind"), col("status"), col("total_pages"),
        col("ocr_page_count"), length(col("extracted_text")).as("text_len"))
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C3 + P1 — classification and needs-OCR predicate as when-chains
    "q01_classify_needs_ocr" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .select(col("doc_id"), col("page_type"), col("confidence"), col("needs_ocr"))
    }),

    // P2 — OCR-pages projection
    "q02_ocr_pages_projection" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .filter(col("needs_ocr"))
        .select(col("doc_id"), col("lang"))
    }),

    // P3 — preview projection: first 200 chars + "..." when longer
    "q03_preview" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        when(length(col("text")) > 200,
          concat(substring(col("text"), 1, 200), lit("...")))
          .otherwise(col("text")).as("preview"))
    }),

    // P4/T3 — head truncation: first 5 doc ids per lang
    "q04_slice_head" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(array_join(
          slice(sort_array(collect_list(col("doc_id"))), 1, 5).cast("array<string>"),
          ",").as("first5"))
    }),

    // P5 — page-list display format over OCR-needing docs per lang
    "q05_format_page_list" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(sort_array(collect_list(when(col("needs_ocr"), col("doc_id"))))
          .as("ids"))
        .select(col("lang"), fmtList(col("ids")).as("page_list"))
    }),

    // A1 + A2 — pages-needing-OCR accumulation + doc status per group
    "q06_status" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("needs_ocr"), 1L).otherwise(0L)).as("needing"))
        .select(col("lang"), col("source"), col("total"), col("needing"),
          when(col("needing") === 0, "false")
            .when(col("needing") === col("total"), "true")
            .otherwise("partial").as("status"))
    }),

    // A3 — type counts + percentages. The grand total comes from a
    // broadcast single-row aggregate crossJoin, not a global window: the
    // input is already the tiny type-counts aggregate, but the window
    // shape would single-partition it (and warns); the broadcast-total
    // join is the scale-clean way to express percentage-of-total.
    "q07_type_counts" -> ((s, dir) => {
      val counts = pageFeatures(t(s, dir, "documents"))
        .groupBy(col("page_type")).agg(count(lit(1)).as("cnt"))
      counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
        .withColumn("pct", col("cnt") * 100.0 / col("total"))
        .drop("total")
    }),

    // A4 — average confidence (scaled-integer sum → engine-exact double)
    "q08_avg_confidence" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .groupBy(col("source"))
        .agg((sum(round(col("confidence") * 10).cast("long")) /
          (lit(10.0) * count(lit(1)))).as("avg_confidence"))
    }),

    // A5 — conditional average quality over text_length > 50
    "q09_conditional_avg_quality" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(coalesce(
          sum(when(col("text_length") > 50,
            round(col("quality") * 100).cast("long"))) /
            (lit(100.0) * sum(when(col("text_length") > 50, 1L))),
          lit(0.0)).as("avg_quality"))
    }),

    // A7 — enhanced recommendation decision chain per source
    "q10_recommendation" -> ((s, dir) => {
      val agg = pageFeatures(t(s, dir, "documents"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("page_type") === "text", 1L).otherwise(0L)).as("text_cnt"),
          sum(when(col("page_type") === "scanned", 1L).otherwise(0L)).as("scanned_cnt"),
          sum(when(col("page_type") === "mixed", 1L).otherwise(0L)).as("mixed_cnt"),
          sum(when(col("text_length") > 200 && col("quality") > 0.6, 1L)
            .otherwise(0L)).as("good_cnt"),
          coalesce(sum(when(col("text_length") > 50,
            round(col("quality") * 100).cast("long"))) /
            (lit(100.0) * sum(when(col("text_length") > 50, 1L))), lit(0.0))
            .as("avg_q"),
          sum(col("text_length")).as("total_len"))
      agg.select(col("source"),
        when(
          (col("good_cnt") * 100.0 / col("total") > 60 && col("avg_q") > 0.6) ||
          (col("text_cnt") * 100.0 / col("total") > 70 && col("avg_q") > 0.5) ||
          (col("good_cnt") * 100.0 / col("total") > 30 &&
            col("total_len") * 1.0 / col("total") > 300),
          "NO OCR NEEDED")
        .when(
          col("scanned_cnt") * 100.0 / col("total") > 70 ||
          (col("mixed_cnt") * 100.0 / col("total") > 80 && col("avg_q") < 0.4) ||
          (col("text_cnt") * 100.0 / col("total") < 10 &&
            (col("scanned_cnt") + col("mixed_cnt")) * 100.0 / col("total") > 80),
          "OCR REQUIRED")
        .otherwise("OCR RECOMMENDED").as("recommended_action"))
    }),

    // A8 — legacy recommendation per lang
    "q11_recommendation_legacy" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total"),
          sum(when(col("page_type") === "text", 1L).otherwise(0L)).as("text_cnt"),
          sum(when(col("page_type").isin("scanned", "mixed"), 1L).otherwise(0L))
            .as("ocr_cnt"))
        .select(col("lang"),
          when(col("ocr_cnt") * 100.0 / col("total") > 50, "OCR REQUIRED")
            .when(col("text_cnt") > 0 && col("ocr_cnt") * 100.0 / col("total") < 25,
              "NO OCR NEEDED")
            .otherwise("OCR RECOMMENDED").as("recommended_action"))
    }),

    // A9 — problematic-page partition: category counts
    "q12_problematic_categories" -> ((s, dir) => {
      pageFeatures(t(s, dir, "documents"))
        .withColumn("category",
          when(col("page_type") === "empty", "empty_pages")
            .when(col("page_type") === "scanned", "scanned_pages")
            .when(col("page_type") === "mixed" &&
              (col("text_length") < 100 || col("quality") < 0.4 ||
                col("confidence") < 0.7), "mixed_pages_needing_ocr")
            .when(col("page_type") === "text" &&
              (col("text_length") < 50 || col("quality") < 0.3 ||
                col("confidence") < 0.6), "low_quality_text_pages"))
        .filter(col("category").isNotNull)
        .groupBy(col("category")).agg(count(lit(1)).as("cnt"),
          min(col("doc_id")).as("first_doc"))
    }),

    // A10 — human summary string per lang (fixed category order, P5 format)
    "q13_summary_string" -> ((s, dir) => {
      val docs = pageFeatures(t(s, dir, "documents"))
        .withColumn("category",
          when(col("page_type") === "empty", "empty_pages")
            .when(col("page_type") === "scanned", "scanned_pages")
            .when(col("page_type") === "mixed" &&
              (col("text_length") < 100 || col("quality") < 0.4 ||
                col("confidence") < 0.7), "mixed_pages_needing_ocr")
            .when(col("page_type") === "text" &&
              (col("text_length") < 50 || col("quality") < 0.3 ||
                col("confidence") < 0.6), "low_quality_text_pages"))
      val prefix = when(col("category") === "scanned_pages",
          "Scanned pages needing OCR: ")
        .when(col("category") === "mixed_pages_needing_ocr",
          "Mixed content pages that would benefit from OCR: ")
        .when(col("category") === "low_quality_text_pages",
          "Pages with poor text extraction quality: ")
        .otherwise("Empty pages (no processing needed): ")
      val ord = when(col("category") === "scanned_pages", 1)
        .when(col("category") === "mixed_pages_needing_ocr", 2)
        .when(col("category") === "low_quality_text_pages", 3).otherwise(4)
      val parts = docs.filter(col("category").isNotNull)
        .groupBy(col("lang"), col("category"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"), first(ord).as("ord"))
        .select(col("lang"), col("ord"), concat(prefix.as("p"), fmtList(col("ids"))).as("s"))
        .groupBy(col("lang"))
        .agg(array_join(sort_array(collect_list(struct(col("ord"), col("s"))))
          .getField("s"), " | ").as("summary"))
      docs.select(col("lang")).distinct()
        .join(parts, Seq("lang"), "left")
        .select(col("lang"), coalesce(col("summary"),
          lit("All pages have good text extraction quality.")).as("summary"))
    }),

    // J1 — resume anti-join: pending work = all orders minus the broadcast
    // "done" set (finished orders), the exact shape of checkpoint resume
    "q14_resume_antijoin" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val done = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("done_key"))
      o.join(broadcast(done), o("o_orderkey") === done("done_key"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
    }),

    // J2 — golden verification: full-outer compare of two derived tables.
    // Restated as ONE conditional aggregate (round 7): the even/odd sides
    // are disjoint slices of the same scan, so sum(when(parity, qty))
    // reproduces the full-outer join's row set (every key with a line of
    // either parity) and its null semantics (sum over zero matching rows
    // is NULL) with one scan + one exchange instead of two scans + two
    // exchanges + a sort-merge full-outer join. Value-identical — the
    // frozen oracle SQL still verifies it.
    "q15_fullouter_verify" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(
          sum(when(col("l_linenumber") % 2 === 0,
            round(col("l_quantity")).cast("long"))).as("qty_a"),
          sum(when(col("l_linenumber") % 2 === 1,
            round(col("l_quantity")).cast("long"))).as("qty_b"))
        .select(col("l_orderkey"), col("qty_a"), col("qty_b"),
          (col("qty_a") <=> col("qty_b")).as("matches"))
    }),

    // T1/T4 — deterministic ordered top-k
    "q16_sorted_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // T2 — argmax: per user the event_type of the highest (value, event_id)
    "q17_argmax" -> ((s, dir) => {
      val score = round(col("value") * 100).cast("long") * 1000000L + col("event_id")
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(max_by(col("event_type"), score).as("top_event_type"))
    }),

    // Window — running sum per user (exact integer cents)
    "q18_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        sum(round(col("value") * 100).cast("long")).over(w).as("running_cents"))
    }),

    // Distinct aggregate per event type
    "q19_distinct_agg" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("events"),
          sum(round(col("value") * 100).cast("long")).as("total_cents"))
    }),

    // Dedup (exact): duplicate groups by md5 of props
    "q20_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "events"), "event_id", "props")
    }),

    // Dedup (exact, apply): keep min event_id per identical props
    "q21_dedup_exact_apply" -> ((s, dir) => {
      Dedup.dropExactDuplicates(t(s, dir, "events"), "event_id", "props")
        .select(col("event_id"))
    }),

    // Dedup (n-gram Jaccard) within (lang, source) blocks
    "q22_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(spread(t(s, dir, "documents")), "doc_id", "text",
        Seq("lang", "source"), shingleK = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // Dedup (MinHash+LSH) — oracle = exact all-pairs Jaccard (the 8-band
    // LSH has full recall on this corpus; pinned by OpsSpec at sf0.01+0.1)
    "q23_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashNearDups(spread(t(s, dir, "documents")), "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // Dedup (SimHash) — FNV-1a/splitmix64 re-derived in DuckDB HUGEINT SQL
    "q24_simhash" -> ((s, dir) => {
      Dedup.simhashNearDups(spread(t(s, dir, "documents")), "doc_id", "text", maxHamming = 3)
    }),

    // Embedding-cosine near-duplicates within label blocks
    "q25_embedding_neardup" -> ((s, dir) => {
      Similarity.cosineNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", threshold = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // ANN brute-force top-3 for query vectors vec_id < 10
    "q26_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id",
        "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // ANN LSH-bucketed top-3 — MD5-derived planes/buckets/ranking replicated
    // in the oracle SQL
    "q27_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
        k = 3, numPlanes = 10, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // ANN IVF-Flat top-3: sampled coarse quantizer, inverted-list probe,
    // exact re-rank — the second ANN scale path beside LSH
    "q41_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // Language-ID heuristic (portable whole-word marker counts)
    "q28_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.langIdGuess(col("text")).as("lang_guess"))
    }),

    // Token counting: whitespace + BPE-ish regex tokens
    "q29_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishTokenCount(col("text")).as("bpeish_tokens"))
    }),

    // Quality scoring (portable proxy: stopword/length/digit bands)
    "q30_quality_proxy" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.qualityProxy(col("text")).as("quality_proxy"))
    }),

    // Kernel word metrics (F2 semantics; SQL-portable on this corpus)
    "q31_word_metrics" -> ((s, dir) => {
      TextOps.kernelQuality(spread(t(s, dir, "documents")), "doc_id", "text")
        .select(col("id").as("doc_id"), col("char_count"), col("word_count"),
          col("avg_word_length"))
    }),

    // Kernel full quality metrics (F1–F7) — oracle restates the kernel
    // formulas as SQL over this corpus's regular text shapes
    "q32_kernel_quality" -> ((s, dir) => {
      TextOps.kernelQuality(spread(t(s, dir, "documents")), "doc_id", "text")
    }),

    // Document fingerprinting — both 64-bit hash values re-derived in
    // DuckDB mod-2^64 HUGEINT SQL
    "q33_fingerprints" -> ((s, dir) => {
      TextOps.fingerprints(spread(t(s, dir, "documents")), "doc_id", "text")
    }),

    // Multimodal: REAL container decode — synthesize genuine PNG/JPEG/WAV
    // byte streams per doc id (MediaCodec: correct magics, chunk framing,
    // endian dimension fields, PNG CRC32s), parse the metadata back OUT OF
    // THE BYTES, then derive resize/frame-sample plans. Oracle-checkable:
    // the synthesis formulas are pure arithmetic on doc_id, so DuckDB
    // verifies every parsed fact independently.
    "q34_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val decoded = spread(t(s, dir, "documents")).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = graft.kernel.MediaCodec.synthesize(id)
          val m = graft.kernel.MediaCodec.parse(bytes)
          (id, m.kind, bytes.length.toLong, m.width, m.height, m.frames,
            m.sampleRate)
        })
        .toDF("doc_id", "kind", "byte_len", "width", "height", "frames",
          "sample_rate")
      Multimodal.withFrameSampleCount(
        Multimodal.withResizeTargets(decoded, maxSide = 256), stride = 30)
    }),

    // Multimodal feature extraction: REAL DSP over the synthesized WAV
    // rows' PCM data (16-bit LE samples decoded from actual RIFF bytes) —
    // RMS from an exact integer sum of squares, zero crossings, duration.
    // Oracle-checkable because the PCM bytes follow the deterministic
    // Hashing.mix(byteIndex) formula, which the DuckDB oracle re-derives.
    "q42_audio_features" -> ((s, dir) => {
      import s.implicits._
      spread(t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 3 === 2)).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = graft.kernel.MediaCodec.synthesize(id)
          val m = graft.kernel.MediaCodec.parse(bytes)
          val pcm = graft.kernel.MediaCodec.wavPcmSamples(bytes)
          val f = graft.kernel.MediaCodec.audioFeatures(pcm, m.sampleRate)
          (id, f.nSamples, f.rms, f.zeroCrossings, f.durationMs)
        })
        .toDF("doc_id", "n_samples", "rms", "zero_crossings", "duration_ms")
    }),

    // Web-scale URL canonicalization (RFC 3986 normalization subset +
    // utm-strip + param sort) — row-local Column exprs; the messy input
    // URLs are synthesized from doc_id identically in both engines
    "q43_url_canonicalize" -> ((s, dir) => {
      val messy = concat(
        lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM:443/Path/"), col("doc_id").cast("string"),
        when(col("doc_id") % 3 === 0, "?utm_source=feed&b=2&a=1")
          .when(col("doc_id") % 3 === 1, "?z=9&a=1&utm_campaign=x")
          .otherwise(""),
        when(col("doc_id") % 2 === 0, "#frag").otherwise(""))
      t(s, dir, "documents").select(col("doc_id"), messy.as("url"),
        graft.ops.WebOps.canonicalizeUrl(messy).as("canonical_url"))
    }),

    // Deterministic stratified sampling (training-data mixing): keep-rate
    // per lang stratum via the splitmix64 row hash — replayable under
    // retry, membership value-checked by the oracle's HUGEINT SQL
    "q44_stratified_sample" -> ((s, dir) => {
      graft.ops.ScalePatterns.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 150, "de" -> 600, "fr" -> 600),
        defaultPerMille = 300)
        .select(col("doc_id"), col("lang"))
    }),

    // Dedup endgame: connected components over the minhash near-dup pairs
    // (min-label propagation; one representative per cluster) — oracle
    // closes the same pair set with a recursive CTE
    "q45_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(spread(t(s, dir, "documents")),
        "doc_id", "text", shingleK = 3, numHashes = 32, numBands = 8,
        threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"),
          (col("id") === col("component")).as("is_representative"))
    }),

    // PII scrubbing (emails / IPv4 / intl phone → placeholder tokens) —
    // PII-bearing text is synthesized from doc_id identically in both
    // engines, so the oracle checks the masking itself
    "q46_pii_scrub" -> ((s, dir) => {
      val withPii = concat(
        lit("Contact user"), col("doc_id").cast("string"),
        lit("@example.com or admin@host"), (col("doc_id") % 5).cast("string"),
        lit(".org from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or call +4915112345"), (col("doc_id") % 100).cast("string"),
        lit(" today. "), col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.scrubPii(withPii).as("scrubbed"))
    }),

    // Vocabulary heavy-hitters (tokenizer-training substrate): top-50
    // tokens by occurrence, deterministic ties (count desc, token asc)
    "q47_vocab_topk" -> ((s, dir) => {
      TextOps.topVocabulary(t(s, dir, "documents"), "text", k = 50)
    }),

    // Gopher-style repetition signals (top-bigram coverage + singleton
    // bigrams) — row-local single-pass fold, no shuffle; the oracle
    // recomputes the same statistics with unnest + GROUP BY
    "q48_repetition_signals" -> ((s, dir) => {
      TextOps.repetitionSignals(spread(t(s, dir, "documents")), "text")
        .select(col("doc_id"), col("n_words"), col("n_bigrams"),
          col("top_count"), col("top_bigram"), col("single_bigrams"),
          col("top_ppm"), col("repetitive"))
    }),

    // Common-Crawl recrawl dedup: canonicalize the capture URL, keep only
    // the NEWEST capture per canonical URL. One shuffle on the canonical
    // key with map-side combine (max_by/count partials) — the shape that
    // holds when one URL has millions of recrawls. URL + timestamp are
    // synthesized from doc_id identically in both engines.
    "q49_latest_capture" -> ((s, dir) => {
      val url = concat(
        lit("HTTPS://Host"), (col("doc_id") % 7).cast("string"),
        lit(".Example.COM/page/"), (col("doc_id") % 25).cast("string"),
        when(col("doc_id") % 3 === 0, "?utm_source=crawl&v=1")
          .when(col("doc_id") % 3 === 1, "?v=1&utm_medium=cc")
          .otherwise("?v=1"),
        when(col("doc_id") % 2 === 0, "#sec").otherwise(""))
      val ts = lit(1600000000L) + (col("doc_id") * 37) % 100000
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.WebOps.canonicalizeUrl(url).as("canonical_url"),
          ts.as("ts_epoch"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_captures"),
          max_by(col("doc_id"), col("ts_epoch")).as("latest_doc_id"),
          max(col("ts_epoch")).as("latest_ts"))
    }),

    // Quality-filter funnel (FineWeb-style composed keep/drop): first
    // failing filter wins, per-reason drop counts + surviving chars.
    // Filters: length → language → quality proxy → Gopher repetition.
    // Everything before the one tiny groupBy is row-local.
    "q50_filter_funnel" -> ((s, dir) => {
      val docs = TextOps.repetitionSignals(spread(t(s, dir, "documents")),
        "text")
      val reason = when(col("n_chars") < 120, "too_short")
        .when(!col("lang").isin("en", "de", "fr"), "lang_filter")
        .when(col("doc_id") % 100 < 5, "low_quality")
        .when(col("top_ppm") > 60000L, "repetitive")
        .otherwise("kept")
      docs.select(reason.as("verdict"), col("n_chars"))
        .groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
    }),

    // Lee-et-al-style duplicated-n-gram profile (ExactSubstr statistic at
    // 8-gram granularity): per doc, distinct 8-grams shared with ≥1 OTHER
    // doc. Gram fingerprints are 64-bit; shuffles keyed on gram / doc id.
    "q51_dup_ngrams" -> ((s, dir) => {
      Dedup.dupGramProfile(spread(t(s, dir, "documents")), "doc_id", "text",
        k = 8)
    }),

    // Benchmark-contamination check (GPT-3-style n-gram overlap): bench =
    // docs with doc_id % 101 == 0; a deterministic benchmark passage is
    // planted into bench docs AND into corpus docs with doc_id % 13 == 0
    // (synthesized from doc_id identically in both engines, like q46's
    // PII), so contamination is real and value-checked. The benchmark
    // 5-gram set is broadcast — the corpus membership test never shuffles.
    "q52_contamination" -> ((s, dir) => {
      val passage = concat(lit("benchmark heldout passage variant "),
        (col("doc_id") % 17).cast("string"), lit(" answer key sequence"))
      val aug = spread(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 101 === 0 || col("doc_id") % 13 === 0,
          concat(col("text"), lit(" "), passage))
          .otherwise(col("text")).as("text"))
      Dedup.benchmarkContamination(
        aug.filter(col("doc_id") % 101 =!= 0),
        aug.filter(col("doc_id") % 101 === 0),
        "doc_id", "text", k = 5)
    }),

    // Cross-snapshot incremental dedup: incoming (doc_id % 4 == 0) vs base
    // (the rest). Exact via hash join + text-equality residual; near via
    // the LSH band join between snapshots (full-recall premise pinned by
    // the OpsSpec recall tests, whose pair set includes every cross-split
    // pair). Oracle recomputes both checks relationally on string shingles.
    "q53_incremental_dedup" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.incrementalDedupVerdicts(
        docs.filter(col("doc_id") % 4 =!= 0),
        docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text")
    }),

    // The CurateJob funnel's per-document verdicts — the flagship
    // curation COMPOSITION (exact dedup → LSH near-dup components →
    // length → language → quality → repetition), oracle-checked as one
    // query. Every stage reuses an operator whose SQL restatement is
    // individually hash-green (q20 md5 dedup, q45 components, q30
    // quality proxy, q48 repetition), so the oracle is their composition.
    "q54_curation_verdicts" -> ((s, dir) => {
      graft.pipeline.CurateJob.verdicts(spread(t(s, dir, "documents")),
        "doc_id", "text", "lang", graft.pipeline.CurateConfig())
    }),

    // Classic relational aggregate (map-side combine; exact integer cents)
    "q35_lineitem_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("count_order"))
    }),

    // F9 — suggest_processing_method rule map (_analyzer.py:149-205):
    // page_type/confidence → method, with the special-chars override
    "q37_processing_method" -> ((s, dir) => {
      val special = (col("doc_id") % 7).cast("double") / lit(20.0)
      val base = pageFeatures(t(s, dir, "documents"))
        .withColumn("special_ratio", special)
        // jitter ±0.1 so the data reaches all six rule branches
        .withColumn("conf", col("confidence") +
          (col("doc_id") % 3).cast("double") / 10.0 - 0.1)
      val method =
        when(col("page_type") === "text" && col("conf") > 0.8, "direct_extraction")
          .when(col("page_type") === "scanned" && col("conf") > 0.7, "ocr_required")
          .when(col("page_type") === "mixed", "hybrid_processing")
          .when(col("conf") < 0.5, "manual_review")
          .otherwise("unknown")
      base.select(col("doc_id"), col("special_ratio"),
        when(method === "direct_extraction" && col("special_ratio") > 0.1,
          "verify_with_ocr").otherwise(method).as("method"))
    }),

    // F8 — detect_ocr_artifacts via the kernel, projected as per-type
    // counts. The Python lookaround patterns are not RE2-expressible in
    // general, but on this corpus each count has an exact RE2-computable
    // value (no adjacent rn/cl repeats, no O/0/uppercase/special chars),
    // so the DuckDB oracle checks every column including the lookaround
    // ones.
    "q38_ocr_artifacts" -> ((s, dir) => {
      import s.implicits._
      spread(t(s, dir, "documents")).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val a = graft.kernel.TextQuality.detectOcrArtifacts(text)
          val byType = a.artifactsFound.map(x => x.artifactType -> x.count).toMap
          def c(k: String): Int = byType.getOrElse(k, 0)
          (id, c("vertical_line_confusion"), c("rn_m_confusion"),
            c("cl_d_confusion"), c("o_zero_confusion"),
            c("excessive_special_chars"), c("inconsistent_case"),
            a.artifactsFound.map(_.count).sum, a.errorRate, a.confidence)
        }
        .toDF("doc_id", "vertical_line_confusion", "rn_m_confusion",
          "cl_d_confusion", "o_zero_confusion", "excessive_special_chars",
          "inconsistent_case", "artifact_count", "error_rate",
          "artifact_confidence")
    }),

    // Skew pattern: two-phase salted aggregation — identical results to a
    // plain GROUP BY (the oracle), but the hot key spreads over 8 partial
    // groups in phase 1
    "q40_salted_agg" -> ((s, dir) => {
      val withCents = t(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
      graft.ops.ScalePatterns.saltedCounts(withCents, "event_type",
        saltFactor = 8, sumCols = Seq("cents"))
    }),

    // Semi-structured: JSON field extraction from the props column +
    // grouped integer aggregation (web-scale metadata columns are JSON)
    "q39_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("k_sum"), count(col("k")).as("k_count"),
          max(col("k")).as("k_max"))
    }),

    // S2 — input validation error channel: rows whose declared length
    // disagrees with the payload (none expected; schema contract check)
    "q36_validation_errors" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          (length(col("text")) =!= col("n_chars")).as("length_mismatch"),
          col("text").isNull.as("null_text"))
        .filter(col("length_mismatch") || col("null_text"))
    }),

    // ANN IVF with a TRAINED quantizer (2 Lloyd's iterations), fully
    // oracle-checked: the embeddings are quantized to integer components
    // (`quantizedEmbeddings`), which makes every per-cluster partial
    // sum EXACT regardless of summation order; each centroid is then one
    // correctly-rounded division (sum/n), so the trained centroids — and
    // every cosine computed from them via the shared sequential fold — are
    // bit-identical between Spark and the DuckDB oracle's unrolled
    // two-iteration Lloyd's SQL.
    "q55_ann_ivf_trained" -> ((s, dir) => {
      val e = quantizedEmbeddings(s, dir)
      val cents = Similarity.trainQuantizer(e, "vec_id", "iv",
        nlist = 4, dim = 64, iterations = 2)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "iv",
        k = 3, nlist = 4, nprobe = 2, centroids = Some(cents))
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // BPE tokenizer training: the first 3 merges over the corpus
    // vocabulary (collected once; the merges run on the driver) — pair
    // counts are exact integers, the argmax tie-breaks deterministically,
    // and the greedy left-to-right merge scan is identical in both
    // engines, so the full training trace is hash-checked against an
    // oracle that unrolls the iterations in SQL.
    "q56_bpe_merges" -> ((s, dir) => {
      TextOps.bpeMerges(spread(t(s, dir, "documents")), "text", steps = 3)
    }),

    // BPE apply-side: per-doc symbol count under the 3 learned merges
    // (the oracle re-derives the same merges in SQL, then applies the
    // identical replace chain per token)
    "q57_bpe_apply" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val merges = TextOps.bpeMerges(docs, "text", steps = 3).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(col("doc_id"),
        TextOps.bpeSymbolCount(col("text"), merges).as("bpe_symbols"),
        TextOps.tokenCount(col("text")).as("ws_tokens"))
    }),

    // Gopher-style quality signals (row-local projection; integer/ppm
    // arithmetic + one exact division so every value is oracle-exact)
    "q58_gopher_signals" -> ((s, dir) => {
      TextOps.gopherQualitySignals(spread(t(s, dir, "documents")),
        "doc_id", "text")
    }),

    // C4-style line-level corpus dedup: boilerplate lines planted across
    // docs (header shared by ~1/7 of docs, footer by half) must drop;
    // per-doc unique lines survive in order
    "q59_line_dedup" -> ((s, dir) => {
      val withLines = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("header-"), (col("doc_id") % 7).cast("string"), lit("\n"),
        substring(col("text"), 1, 40), lit("\n"),
        when(col("doc_id") % 2 === 0, lit("footer-common"))
          .otherwise(concat(lit("tail-"), col("doc_id").cast("string"))))
        .as("lined_text"))
      TextOps.dropDuplicatedLines(withLines, "doc_id", "lined_text", minDocs = 3)
    }),

    // Crawl-curation cap: at most 5 docs per source, by (n_chars DESC,
    // doc_id ASC) — run through the SKEW-PROOF two-phase salted variant,
    // which must equal the plain window (the oracle)
    "q60_per_source_cap" -> ((s, dir) => {
      graft.ops.ScalePatterns.saltedTopKPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        "source", k = 5,
        orderBy = Seq(col("n_chars").desc, col("doc_id").asc), saltFactor = 4)
    }),

    // The same call as q56, gated against q56's unrolled-SQL oracle
    // verbatim. Kept under its own name so the registered query set stays
    // the one every earlier correctness run reports against.
    "q61_bpe_merges_local" -> ((s, dir) => {
      TextOps.bpeMerges(spread(t(s, dir, "documents")), "text", steps = 3)
    }),

    // The EXTENDED curation funnel — round 5's opt-in stages under
    // oracle: C4 line-level dedup (ban list over the whole corpus;
    // too_short/quality/repetition/Gopher signals computed on the CLEANED
    // text) and Gopher thresholds (gopher_filter verdict), composed with
    // the full q54 machinery. Boilerplate is planted like q59 (header by
    // doc_id%7, footer on even ids) so the ban list holds real cross-doc
    // lines; dedup stages run on the lined (input) text, exactly as
    // CurateJob documents.
    "q62_curation_extended" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
        concat(
          lit("header-"), (col("doc_id") % 7).cast("string"), lit("\n"),
          coalesce(col("text"), lit("")), lit("\n"),
          when(col("doc_id") % 2 === 0, lit("footer-common"))
            .otherwise(concat(lit("tail-"), col("doc_id").cast("string"))))
          .as("text"),
        col("lang"))
      // 64 hashes / 32 bands (band size 2): the oracle verifies near-dups
      // with ALL-PAIRS Jaccard, so LSH recall must be ~certain for every
      // pair at or above the 0.5 threshold. The planted per-doc tail lines
      // merge into boundary tokens and drag one tiny-doc pair to j=0.58,
      // where the default 8x4 banding detects with only p~0.63 — 32x2
      // detects j>=0.5 with p >= 1-1e-4 (miss = (1-j^2)^32).
      graft.pipeline.CurateJob.verdicts(docs, "doc_id", "text", "lang",
        graft.pipeline.CurateConfig(
          numHashes = 64,
          numBands = 32,
          lineDedupMinDocs = 3,
          gopherFilter = true,
          gopherMinWords = 40L,
          gopherMinAlphaPpm = 500000L,
          gopherMinStopHits = 1L))
    }),

    // Trained linear quality classifier (the CCNet-style seed-labeled
    // stage): integer token-polarity weights trained with lang='en' as
    // the positive seed label, then an occurrence-weighted sign-test
    // score over the same corpus. Training and scoring are pure integer
    // arithmetic (non-negative DIV only), so the full train+score trace
    // is oracle-checkable.
    "q63_quality_classifier" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("text"), (col("lang") === "en").as("y"))
      val w = TextOps.trainQualityWeights(docs, "text", "y", minCount = 2L)
      TextOps.qualityClassifierScores(docs, "doc_id", "text", w)
    }),

    // ExactSubstr-style duplicated-span removal: a constant 17-token
    // passage is planted into doc_id % 11 docs (cross-doc duplicated
    // 8-gram runs by construction), and the corpus's natural whole-doc
    // duplicates cover themselves entirely — both get cut wherever the
    // covered run reaches 12 tokens. Untouched docs must come back
    // byte-identical.
    "q64_dup_span_removal" -> ((s, dir) => {
      val passage = "exact substring duplication test passage alpha beta " +
        "gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val aug = spread(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" " + passage)))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      Dedup.removeDuplicatedSpans(aug, "doc_id", "text",
        k = 8, minTokens = 12, minCount = 2L)
    }),

    // keepFirst span removal (remove-all-but-one, the suffix-array
    // original's semantics): q64's corpus, but each duplicated gram's
    // globally first occurrence is exempt — so the planted passage
    // SURVIVES intact in the lowest-id planted doc and is cut everywhere
    // else, and the first of each natural whole-doc duplicate group
    // keeps its text.
    "q65_dup_span_keep_first" -> ((s, dir) => {
      val passage = "exact substring duplication test passage alpha beta " +
        "gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val aug = spread(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" " + passage)))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      Dedup.removeDuplicatedSpans(aug, "doc_id", "text",
        k = 8, minTokens = 12, minCount = 2L, keepFirst = true)
    }),

    // Distributed PIXEL decode (the q34 shape, one level deeper): per
    // row, render a real container (baseline JPEG on even ids, PNG on
    // odd — dims from the synthesize formulas) and run the full decoder
    // — Huffman+IDCT / inflate+defilter — on the executors. Blank
    // rasters decode to EXACT closed-form luminance (JPEG: every pixel
    // 40·16/8+128 = 208; PNG: 255), so the oracle checks the decoder's
    // actual pixel output cross-engine, not just row counts.
    "q66_pixel_decode" -> ((s, dir) => {
      import s.implicits._
      spread(t(s, dir, "documents")).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (16 + (id * 7) % 240).toInt
          val h = (16 + (id * 13) % 240).toInt
          val bytes =
            if (id % 2 == 0) graft.kernel.MediaCodec.renderJpeg(w, h)
            else graft.kernel.MediaCodec.renderPng(w, h)
          val d = graft.kernel.MediaCodec.decodeImage(bytes).get
          var sum = 0L
          var dark = 0L
          d.pixels.foreach { p => sum += p; if (p < 160) dark += 1 }
          val n = d.pixels.length
          (id, if (id % 2 == 0) "jpeg" else "png", d.width, d.height,
            sum * 1000L / n, dark * 1000000L / n)
        })
        .toDF("doc_id", "kind", "width", "height", "mean_lum_x1000",
          "dark_ppm")
    }),

    // SemDeDup (Abbas et al. 2023): k-means cluster the embeddings
    // (2 Lloyd's iterations over floor(x·8) integer-quantized vectors —
    // exact centroids, q55's trick), then screen WITHIN each cluster in
    // centroid-proximity order: removed ⇔ an earlier member in
    // (centroid_cosine DESC, id ASC) order is within 0.55 cosine. Fully
    // oracle-checked: centroids, assignment, screen order and every
    // pairwise cosine re-derive bit-identically in SQL.
    "q67_semdedup" -> ((s, dir) => {
      val e = quantizedEmbeddings(s, dir)
      Similarity.semDedup(e, "vec_id", "iv", threshold = 0.55,
        dim = 64, nlist = 8, iterations = 2)
        .select(col("id").as("vec_id"), col("cluster"),
          round(col("centroid_cosine"), 6).as("centroid_cosine"),
          col("removed"))
    }),

    // Quality-aware canonical selection: near-dup components (the q23
    // pair set) keep their HIGHEST-quality member — distinct-token count
    // as the integer score, ties → min id — instead of the min-id
    // representative. One verdict row per doc; singletons always keep.
    "q68_canonical_by_quality" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.5)
      val scored = docs.select(col("doc_id"),
        size(array_distinct(array_remove(split(coalesce(col("text"), lit("")), " "),
          ""))).as("distinct_tokens"))
      Dedup.canonicalByQuality(scored, "doc_id", "distinct_tokens", pairs)
        .select(col("id").as("doc_id"), col("component"),
          col("score").as("distinct_tokens"), col("keeper"))
    }),

    // DSIR importance scores (Xie et al. NeurIPS'23): hashed 1+2-gram
    // buckets (kernel fnv1a64 & 4095), per-bucket target/raw add-one
    // log-likelihood-ratio weights in EXACT Q20 fixed-point (the
    // digit-recurrence ilog2Q20 — zero float logs in the operator), doc
    // score = sum of its grams' bucket weights. Target = English docs.
    // The oracle re-derives the entire chain (per-char fnv+mix fold,
    // 20-step HUGEINT ilog2) bit-identically.
    "q69_dsir_scores" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val weights = TextOps.dsirBucketWeights(
        docs.withColumn("is_target", col("lang") === "en"),
        "text", "is_target", buckets = 4096)
      TextOps.dsirScores(docs, "doc_id", "text", weights, buckets = 4096)
    }),

    // CCNet-style bigram-LM perplexity scoring (Wenzek et al. LREC'20):
    // train bucketed (ctx, nxt) word-bucket bigram counts on the English
    // subset, score every doc's Q20 cross-entropy under add-one
    // smoothing — cost = ilog2(c(ctx)+B) - ilog2(c(pair)+1) per bigram,
    // integer-exact cross-engine. High avg cost = LM-implausible text.
    "q70_bigram_lm_perplexity" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val lm = TextOps.bigramLmTrain(
        docs.withColumn("is_target", col("lang") === "en"),
        "text", "is_target", buckets = 1024)
      TextOps.bigramLmScores(docs, "doc_id", "text", lm, buckets = 1024)
    }),

    // CCNet head/middle/tail: equal-frequency terciles of the bigram-LM
    // cost via the exact distributed CDF (coarse/within two-level
    // cumulative — no global unpartitioned sort).
    "q71_perplexity_partition" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val lm = TextOps.bigramLmTrain(
        docs.withColumn("is_target", col("lang") === "en"),
        "text", "is_target", buckets = 1024)
      TextOps.perplexityPartition(docs, "doc_id", "text", lm, buckets = 1024)
        .select(col("doc_id"), col("n_bigrams"), col("cost_sum_q20"),
          col("avg_cost_q20"), col("cdf_count"), col("part"))
    }),

    // Bloom-filter cross-corpus dedup (Dolma BFF): build an m-bit filter
    // over the even-id snapshot, screen the full corpus, and report the
    // bloom verdict NEXT TO exact membership so the false-positive trade
    // is visible in the output itself (bits deliberately small here so
    // FPs actually occur at sf; no false negatives by construction).
    "q72_bloom_dedup" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val base = docs.filter(col("doc_id") % 2 === 0)
      val filt = Dedup.bloomBuild(base, "text", bits = 1 << 10, numHashes = 4)
      val scr = Dedup.bloomScreen(docs, "doc_id", "text", filt,
        bits = 1 << 10, numHashes = 4)
      // exact membership: hash-keyed join with text-equality residual
      // (the q53 collision-safe shape) — never a string-keyed shuffle.
      val keyed = docs.select(col("doc_id"), col("text"),
        graft.expr.KernelExpressions.fnv1a64(col("text")).as("h"))
      val baseKeys = keyed.filter(col("doc_id") % 2 === 0)
        .select(col("h").as("bh"), col("text").as("btext")).distinct()
      val exact = keyed
        .join(baseKeys, col("h") === col("bh") &&
          col("text") === col("btext"), "left_outer")
        .groupBy(col("doc_id"))
        .agg((count(col("bh")) > 0).as("exact_dup"))
      scr.join(exact, Seq("doc_id"))
        .select(col("doc_id"), col("bloom_hit"), col("exact_dup"),
          (col("bloom_hit") && !col("exact_dup")).as("false_positive"))
    }),

    // BM25 top-k retrieval (Robertson TREC-3; the Lucene idf variant) in
    // exact Q20 fixed-point: digit-recurrence integer logs + base-1024
    // split divisions, so every score re-derives bit-identically in the
    // oracle. 'dup' is the rare discriminative term (df≈25/500); the
    // common terms exercise the small-but-positive idf tail that makes
    // the Lucene form rank instead of clamp.
    "q73_bm25_topk" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      TextOps.bm25TopK(docs, "doc_id", "text",
        Seq("dup", "spark", "vector", "the"), k = 30)
    }),

    // Token-budget mixture sampling (The Pile / DoReMi mixture
    // construction): per-source keep-rates learned from measured token
    // totals + target ppm shares at a 5000-token budget. src0's share
    // over-allocates → rate clamps at keep-all; src1/src2 downsample;
    // unallocated sources are never kept. Exact integer rates; the keep
    // coin is the kernel splitmix64, re-derived in the oracle.
    "q74_mixture_sample" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      ScalePatterns.mixtureSample(docs, "doc_id", "text", "source",
        Map("src0" -> 400000L, "src1" -> 30000L, "src2" -> 10000L),
        budgetTokens = 5000L)
    }),

    // Source-reputation filter (the C4/UT1 bad-domain stage with the
    // blocklist LEARNED from corpus aggregates): flag every doc whose
    // source's stopword-hit ppm sits below 85% of the corpus rate.
    // Integer ppm rates (split division) + a cross-multiplied verdict —
    // exact on both engines.
    "q75_source_reputation" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      TextOps.sourceReputation(docs, "doc_id", "text", "source",
        thresholdPct = 85L)
    }),

    // CCNet-style normalized exact dedup (Wenzek et al. §3.1): the corpus
    // is ASCII-lowercase by construction, so re-renderings are PLANTED
    // deterministically (the q46/q52 pattern): a shouting double-spaced
    // accented variant (+1e6) and two page-stamped variants with
    // DIFFERENT digits (+2e6/+3e6). Normalization (one translate: case,
    // accents, digit bucketing; whitespace collapse) makes {orig, +1e6}
    // and {+2e6, +3e6} collapse under md5-exact dedup — verdicts
    // re-derived relationally in the oracle with the same codepoint table.
    "q76_normalized_dedup" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val variants = docs
        .select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("  "),
            replace(replace(upper(col("text")), lit(" "), lit("  ")),
              lit("E"), lit("É")),
            lit(" ")).as("text")))
        .unionByName(docs.select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" page 14 rev 7")).as("text")))
        .unionByName(docs.select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" page 98 rev 3")).as("text")))
      Dedup.normalizedDedupVerdicts(variants, "doc_id", "text")
    }),

    // Sequence packing (T5/GPT concat-and-chunk): per-source token tapes
    // cut into 128-token training windows; each doc reports its tape
    // offset and first/last window. The only Exchange is keyed on the
    // shard; the running-frame window needs no global sort (PlanSpec).
    "q77_sequence_packing" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      TextOps.packSequences(docs, "doc_id", "text", "source",
        windowTokens = 128L)
    }),

    // Winnowed document sketches (Schleimer et al. SIGMOD'03): per doc,
    // the rightmost-minimum 4-gram hash of every 4-window of gram hashes
    // — selection depends on exact UNSIGNED hash order, which the oracle
    // re-derives gram-by-gram in HUGEINT SQL. Row-local kernel scan.
    "q78_winnow_fingerprints" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 4, w = 4)
    }),

    // Partial-overlap pairs over the winnowed sketches: docs sharing >= 2
    // selected fingerprints, stop-fingerprints (doc freq > 16) pruned
    // before the fingerprint-keyed self-join. Detects shared passages of
    // >= w + k - 1 = 7 tokens (the corpus's planted near-dups).
    "q79_winnow_overlap" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.winnowedOverlapPairs(docs, "doc_id", "text", k = 4, w = 4,
        minShared = 2L, maxDocFreq = 16L)
    }),

    // Leakage-proof train/eval split: near-dup clusters (q23's LSH pair
    // graph + q45's components) take ONE split coin on the component
    // representative — no eval doc has a near-copy in train. 20% holdout.
    // Oracle: all-pairs Jaccard + recursive components + the splitmix64
    // coin re-derived in HUGEINT SQL with the q44 pmod translation.
    "q80_leakage_split" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.leakageProofSplit(docs, "doc_id", "text",
        holdoutPerMille = 200, shingleK = 3, numHashes = 32,
        numBands = 8, threshold = 0.5)
    }),

    // The funnel's last opt-in cleaning stage under oracle at corpus
    // scale: ExactSubstr span REMOVAL inside CurateJob (q64's operator as
    // a funnel stage). The q64 passage is planted into doc_id % 11 docs;
    // the funnel cuts every ≥12-token corpus-duplicated run, then
    // computes too_short/quality/repetition on the CLEANED text (dedup
    // stages stay on the planted input text, per CurateJob's contract).
    // 64x32 banding for the same reason as q62: the oracle verifies
    // near-dups with all-pairs Jaccard, so LSH recall must be ~certain
    // at j ≥ 0.5 on the planted corpus (OpsSpec pins the premise).
    "q81_curation_span_removal" -> ((s, dir) => {
      val passage = "exact substring duplication test passage alpha beta " +
        "gamma delta epsilon zeta eta theta iota kappa lambda mu"
      val docs = spread(t(s, dir, "documents")).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" " + passage)))
          .otherwise(coalesce(col("text"), lit(""))).as("text"),
        col("lang"))
      graft.pipeline.CurateJob.verdicts(docs, "doc_id", "text", "lang",
        graft.pipeline.CurateConfig(
          numHashes = 64,
          numBands = 32,
          spanRemoval = true,
          spanK = 8,
          spanMinTokens = 12,
          spanMinCount = 2L))
    }),

    // Distributed JBIG2 pixel decode (q66's closed-form pattern over the
    // round-6 codec): per doc row, ENCODE the deterministic dashed-ink
    // raster (the ccittInk formula: black ⇔ y%10<2 ∧ x%8<5) as a real
    // JBIG2 embedded segment stream — MMR (T.6) class on even ids, MQ
    // arithmetic class with TPGDON cycling all four GB templates on odd
    // ids — then DECODE it on the executors through the production
    // MediaCodec.decodeImage dispatch (magic-less structural sniff).
    // Dims are multiples of (8, 10), so the decoded luminance stats are
    // exact integers: mean = 255·7/8 → 223125‰, dark = 1/8 → 125000 ppm.
    "q82_jbig2_decode" -> ((s, dir) => {
      import s.implicits._
      spread(t(s, dir, "documents")).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8L * (2 + (id * 7) % 30)).toInt
          val h = (10L * (2 + (id * 13) % 24)).toInt
          val mmr = id % 2 == 0
          val tpl = ((id / 2) % 4).toInt
          val bytes = graft.kernel.Jbig2.encode(w, h,
            (x, y) => y % 10 < 2 && x % 8 < 5,
            mmr = mmr, gbTemplate = tpl, tpgdon = !mmr)
          val d = graft.kernel.MediaCodec.decodeImage(bytes).get
          var sum = 0L
          var dark = 0L
          d.pixels.foreach { p => sum += p; if (p < 160) dark += 1 }
          val n = d.pixels.length
          (id, if (mmr) "mmr" else s"mq_t$tpl", d.width, d.height,
            sum * 1000L / n, dark * 1000000L / n)
        })
        .toDF("doc_id", "kind", "width", "height", "mean_lum_x1000",
          "dark_ppm")
    }),

    // Near-dup components from the round-6 bucket-min STAR edges
    // (minhashClusterEdges — the linear-fan-out clustering path that
    // needs no hot-bucket cap), one label row per document. Unlike
    // q23/q45 (whose oracles verify against all-pairs Jaccard under a
    // pinned full-recall premise), this oracle DERIVES the entire LSH
    // machinery independently: Spark's xxhash64 (XXH64) is re-implemented
    // in HUGEINT mod-2^64 SQL (stripes, tails, avalanche — see
    // xxh64StrCtes/xxh64LongCtes), so the shingle fingerprints, all 32
    // minhash signature lanes, the 8 band-bucket keys, the star edges
    // and the components are all recomputed from the raw text by a
    // second engine. No recall premise, no pinned constant.
    "q83_star_components" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      val edges = Dedup.minhashClusterEdges(docs, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8)
      val comp = Dedup.connectedComponents(edges, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    // The HOT-BUCKET-CAPPED pair operator (round 6's quadratic-fan-out
    // bound — verdict task #1) under the same fully-derived oracle as
    // q83: maxBucketDocs = 2 genuinely prunes on this corpus (size-3+
    // band buckets exist at sf0.01 and sf0.1), and the oracle re-derives
    // the buckets, applies the identical n ≤ cap rule, re-joins the
    // surviving candidates and verifies with exact fingerprint-set
    // Jaccard — so the documented recall trade is itself oracle-checked,
    // not just unit-pinned.
    "q84_capped_neardups" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      Dedup.minhashNearDups(docs, "doc_id", "text", shingleK = 3,
        numHashes = 32, numBands = 8, threshold = 0.5,
        maxBucketDocs = 2L)
    }),

    // The star-edge leakage-proof split (leakageProofSplit's opt-in
    // bucketStarEdges path — the at-scale form that clusters on
    // LSH-candidate connectivity with linear fan-out): one split coin
    // per candidate component. Oracle = the q83 derived component
    // labels + the q80 splitmix64 coin CTEs, so the LAST opt-in dedup
    // path gets a corpus-scale hash-green row with no pinned premise.
    "q85_star_leakage_split" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.leakageProofSplit(docs, "doc_id", "text",
        holdoutPerMille = 200, shingleK = 3, numHashes = 32,
        numBands = 8, bucketStarEdges = true)
    })
  )

  // ------------------------------------------------------- oracle SQL: u64
  // DuckDB re-implementation of the kernel's 64-bit wrap-around hashing
  // (Hashing.scala): HUGEINT arithmetic mod 2^64 so the oracle checks the
  // kernel's FNV-1a / splitmix64 / rolling-hash VALUES, not just row counts.

  private val U64 = "18446744073709551616" // 2^64

  /** DuckDB list of the codepoints of string expression `s`, as HUGEINT.
    * The walk matches `[\s\S]`, not `.`: DuckDB's `.` skips `\n`. */
  private[graft] def codepoints(s: String): String =
    s"list_transform(regexp_extract_all($s, '[\\s\\S]'), c -> unicode(c)::HUGEINT)"

  /** (x * c) mod 2^64 for u64 x (HUGEINT in [0,2^64)) and u64 constant c:
    * split x into 32-bit halves so no intermediate exceeds HUGEINT range. */
  private def u64MulMod(x: String, c: String): String =
    s"((($x) % 4294967296) * $c + (((($x) >> 32) * $c) % 4294967296) * 4294967296) % $U64"

  /** Reinterpret u64 (HUGEINT) as the signed BIGINT Spark emits. */
  private def u64ToSigned(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $U64 ELSE ($x) END AS BIGINT)"

  // --- Spark xxhash64 (XXH64, the engine's own hash) re-implemented in
  // HUGEINT mod-2^64 SQL, validated value-by-value against
  // org.apache.spark.sql.functions.xxhash64 for strings of every length
  // class (empty / <32 / ≥32 with 8/4/1-byte tails), chained long seeds,
  // and array folds. Constants are XXH64's public primes. This is what
  // lets the q83 oracle derive the ENTIRE MinHash/LSH banding machinery
  // independently instead of leaning on a pinned-recall premise.
  private val XxP1 = "11400714785074694791"
  private val XxP2 = "14029467366897019727"
  private val XxP3 = "1609587929392839161"
  private val XxP4 = "9650029242287828579"
  private val XxP5 = "2870177450012600261"

  /** Left-rotate u64 expression by r: the two shifted halves cannot
    * overlap bit-wise, so addition IS the or. */
  private def u64Rotl(x: String, r: Int): String = {
    val lo = 64 - r
    s"((((${x}) % ${BigInt(1) << lo}) * ${BigInt(1) << r}) + ((${x}) >> $lo))"
  }

  private def u64XorShr(h: String, k: Int): String =
    s"xor(($h), ($h) >> $k)"

  /** XXH64 avalanche (fmix) of u64 expression h — inline; h is
    * duplicated 2× per xor stage, so pass only cheap column refs. */
  private def xxFmix(h: String): String = {
    val e2 = u64MulMod(u64XorShr(h, 33), XxP2)
    val e4 = u64MulMod(u64XorShr(e2, 29), XxP3)
    u64XorShr(e4, 32)
  }

  /** XXH64 round with accumulator 0: rotl31(v·P2)·P1. */
  private def xxRound0(v: String): String =
    u64MulMod(u64Rotl(u64MulMod(v, XxP2), 31), XxP1)

  /** CTE chain computing Spark's xxhash64 of a LONG — hashLong(l, seed)
    * — as `out`(carry, h); l/seed are u64 HUGEINT exprs over `src`. Each
    * fmix stage is its own CTE so nothing re-evaluates. */
  private def xxh64LongCtes(p: String, src: String, carry: String,
      l: String, seed: String, out: String): String = {
    val h0 = s"((($seed) + $XxP5 + 8) % $U64)"
    s"""${p}0 AS (SELECT $carry, xor($h0, ${xxRound0(l)}) AS h FROM $src),
       |${p}1 AS (SELECT $carry, (${u64MulMod(u64Rotl("h", 27), XxP1)} + $XxP4) % $U64 AS h FROM ${p}0),
       |${p}2 AS (SELECT $carry, ${u64XorShr("h", 33)} AS h FROM ${p}1),
       |${p}3 AS (SELECT $carry, ${u64MulMod("h", XxP2)} AS h FROM ${p}2),
       |${p}4 AS (SELECT $carry, ${u64XorShr("h", 29)} AS h FROM ${p}3),
       |${p}5 AS (SELECT $carry, ${u64MulMod("h", XxP3)} AS h FROM ${p}4),
       |$out AS (SELECT $carry, ${u64XorShr("h", 32)} AS h FROM ${p}5)""".stripMargin
  }

  /** CTE chain deriving the ENTIRE MinHash/LSH banding pipeline of
    * `Dedup.shingleTable`/`bandTable` from the documents table: d0 →
    * tokens → per-doc-distinct 3-gram shingles (shu) → xxhash64 shingle
    * fingerprints (fp — globally-distinct strings hashed once; min is
    * duplicate-insensitive so per-doc fp dedup is unnecessary) →
    * numHashes signature lanes via chained hashLong with SIGNED min
    * (Spark `least` semantics) → band-bucket keys via the unrolled
    * 4-element array fold seeded 42 → CTE `bkt`(doc_id, band, h). Shared
    * by the q83 (star components) and q84 (capped pairs) oracles. */
  private def lshBandCtes(numHashes: Int, numBands: Int): String = {
    val bandSize = numHashes / numBands
    val bandFolds = (1 to bandSize).map { k =>
      val src = if (k == 1) "bq0" else s"bq${k - 1}"
      val out = if (k == bandSize) "bkt" else s"bq$k"
      val carry = "doc_id, band" +
        ((k + 1) to bandSize).map(j => s", e$j").mkString
      xxh64LongCtes(s"bf${k}_", src, carry, s"e$k", "h", out)
    }.mkString(",\n")
    val pivot = (0 until bandSize).map(j =>
      s"min(CASE WHEN seed % $bandSize = $j THEN " +
        s"CASE WHEN sgn < 0 THEN sgn + $U64 ELSE sgn END END) AS e${j + 1}")
      .mkString(",\n    ")
    s"""d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
      |w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
      |shl AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |           i -> array_to_string(toks[i:i+2], ' ')) END) AS sh
      |  FROM w),
      |shu AS (SELECT doc_id, unnest(sh) AS s FROM shl),
      |sdist AS (SELECT DISTINCT s FROM shu),
      |${xxh64StrCtes("sdist", "s", "s", "fp")},
      |${xxh64LongCtes("fh", "fp", "s", "h", "42", "f1")},
      |sx AS (SELECT s, h AS h1, unnest(range($numHashes)) AS seed
      |  FROM f1),
      |${xxh64LongCtes("sh_", "sx", "s, seed", "seed::HUGEINT", "h1", "s1")},
      |sv AS (SELECT s, seed,
      |    CASE WHEN h >= 9223372036854775808 THEN h - $U64 ELSE h END AS v
      |  FROM s1),
      |sg AS (SELECT doc_id, seed, min(v) AS sgn
      |  FROM shu JOIN sv USING (s) GROUP BY doc_id, seed),
      |bq0 AS (SELECT doc_id, (seed // $bandSize) AS band,
      |    $pivot,
      |    42::HUGEINT AS h
      |  FROM sg GROUP BY doc_id, (seed // $bandSize)),
      |$bandFolds""".stripMargin
  }

  /** CTE chain from the derived band table `bkt` (see [[lshBandCtes]])
    * to star-edge candidate components — ONE copy of the bucket-rep
    * star edges (`Dedup.minhashClusterEdges`'s rule: per (band, bucket)
    * with ≥ 2 members, min member → each other member) and the
    * recursive-CTE connected components, shared by the q83 and q85
    * oracles so the two derivations cannot drift. Result CTE:
    * `comp(id, component)` — ids appearing in some edge only;
    * singletons coalesce to their own id at the caller. */
  private val starComponentCtes: String =
    """cnt AS (SELECT band, h AS bucket, count(*) AS n, min(doc_id) AS rep
      |  FROM bkt GROUP BY band, h),
      |ed AS (SELECT DISTINCT c.rep AS id_a, b.doc_id AS id_b
      |  FROM bkt b JOIN cnt c ON b.band = c.band AND b.h = c.bucket
      |  WHERE c.n >= 2 AND b.doc_id <> c.rep),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM ed
      |  UNION ALL SELECT id_b, id_a FROM ed),
      |verts AS (SELECT DISTINCT src AS v FROM edges),
      |reach(v, c) AS (
      |  SELECT v, v FROM verts
      |  UNION
      |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
      |comp AS (SELECT v AS id, min(c) AS component FROM reach
      |  GROUP BY v)""".stripMargin

  /** CTE chain computing Spark's xxhash64(string) (seed 42) over ASCII
    * column `strCol` of `src` → `out`(carry, h): the full XXH64 byte
    * stream — 32-byte stripes carried as a [v1,v2,v3,v4] HUGEINT-list
    * accumulator, then 8-byte, 4-byte and single-byte tails, then fmix.
    * Valid on this corpus because text is ASCII (UTF-8 bytes =
    * codepoints — the same premise the q24 simhash oracle states). */
  private[graft] def xxh64StrCtes(src: String, carry: String, strCol: String,
      out: String): String = {
    def word8(j: String): String =
      s"list_reduce(list_reverse(bs[($j):($j)+7]), (a, b) -> a * 256 + b)"
    def word4(j: String): String =
      s"list_reduce(list_reverse(bs[($j):($j)+3]), (a, b) -> a * 256 + b)"
    val vinit = s"[((42 + $XxP1 + $XxP2) % $U64)::HUGEINT, " +
      s"(42 + $XxP2)::HUGEINT, 42::HUGEINT, ((42 - $XxP1 + $U64) % $U64)::HUGEINT]"
    def vround(acc: String, w: String): String =
      u64MulMod(u64Rotl(s"(($acc + ${u64MulMod(w, XxP2)}) % $U64)", 31), XxP1)
    val stripes = s"list_reduce(list_prepend($vinit, " +
      s"list_transform(range((n // 32)::BIGINT), t -> [1 + t * 32]::HUGEINT[])), " +
      s"(acc, e) -> [${vround("acc[1]", word8("e[1]"))}, " +
      s"${vround("acc[2]", word8("e[1]+8"))}, " +
      s"${vround("acc[3]", word8("e[1]+16"))}, " +
      s"${vround("acc[4]", word8("e[1]+24"))}])"
    val merged = s"((${u64Rotl("v[1]", 1)} + ${u64Rotl("v[2]", 7)} + " +
      s"${u64Rotl("v[3]", 12)} + ${u64Rotl("v[4]", 18)}) % $U64)"
    def mergeRound(h: String, v: String): String =
      s"((${u64MulMod(s"xor($h, ${xxRound0(v)})", XxP1)} + $XxP4) % $U64)"
    val hpost = mergeRound(mergeRound(mergeRound(mergeRound(
      merged, "v[1]"), "v[2]"), "v[3]"), "v[4]")
    val tail8 = {
      val inner = u64MulMod(u64Rotl(s"xor(hh, ${xxRound0(word8("o"))})", 27), XxP1)
      s"list_reduce(list_prepend((h)::HUGEINT, " +
        s"list_transform(range(((n % 32) // 8)::BIGINT), " +
        s"t -> ((n // 32) * 32 + 1 + t * 8)::HUGEINT)), " +
        s"(hh, o) -> (($inner + $XxP4) % $U64))"
    }
    val tail4 = s"(CASE WHEN n % 8 >= 4 THEN " +
      s"((${u64MulMod(u64Rotl(s"xor((h), ${u64MulMod(word4("((n // 8) * 8 + 1)"), XxP1)})", 23), XxP2)} + $XxP3) % $U64) " +
      s"ELSE (h) END)"
    val tail1 = s"list_reduce(list_prepend((h)::HUGEINT, " +
      s"list_transform(range((n % 4)::BIGINT), " +
      s"t -> ((n // 4) * 4 + 1 + t)::HUGEINT)), " +
      s"(hh, o) -> ${u64MulMod(u64Rotl(s"xor(hh, ${u64MulMod("bs[o::INT]", XxP5)})", 11), XxP1)})"
    s"""${out}_b AS (SELECT $carry,
       |    ${codepoints(strCol)} AS bs,
       |    length($strCol)::HUGEINT AS n FROM $src),
       |${out}_s AS (SELECT $carry, bs, n,
       |    CASE WHEN n >= 32 THEN $stripes ELSE NULL END AS v FROM ${out}_b),
       |${out}_h0 AS (SELECT $carry, bs, n,
       |    ((CASE WHEN n >= 32 THEN $hpost
       |           ELSE (42 + $XxP5) % $U64 END) + n) % $U64 AS h FROM ${out}_s),
       |${out}_h1 AS (SELECT $carry, bs, n, $tail8 AS h FROM ${out}_h0),
       |${out}_h2 AS (SELECT $carry, bs, n, $tail4 AS h FROM ${out}_h1),
       |${out}_h3 AS (SELECT $carry, n, $tail1 AS h FROM ${out}_h2),
       |$out AS (SELECT $carry, ${xxFmix("h")} AS h FROM ${out}_h3)""".stripMargin
  }

  /** CTE chain applying the kernel's splitmix64 finisher (Hashing.mix) to
    * u64 column `h` of CTE `src`, carrying `carry`; result CTE is `<p>5`. */
  private def mixCtes(p: String, src: String, carry: String): String = {
    val c1 = java.lang.Long.toUnsignedString(0xbf58476d1ce4e5b9L)
    val c2 = java.lang.Long.toUnsignedString(0x94d049bb133111ebL)
    s"""${p}1 AS (SELECT $carry, xor(h, h >> 30) AS h FROM $src),
       |${p}2 AS (SELECT $carry, ${u64MulMod("h", c1)} AS h FROM ${p}1),
       |${p}3 AS (SELECT $carry, xor(h, h >> 27) AS h FROM ${p}2),
       |${p}4 AS (SELECT $carry, ${u64MulMod("h", c2)} AS h FROM ${p}3),
       |${p}5 AS (SELECT $carry, xor(h, h >> 31) AS h FROM ${p}4)""".stripMargin
  }

  /** Q20 fixed-point integer log2 of positive BIGINT expression `n`: the
    * kernel's Hashing.ilog2Q20 digit recurrence unrolled as a HUGEINT
    * fold — e = bit_length-1 via bin(); normalize to Q32 in [2^32,2^33);
    * 20 square-and-shift steps with the (x, bits) state PACKED as
    * x·2^20 + bits so list_reduce can carry it as one HUGEINT. The square
    * is ≤ 2^66 ≪ HUGEINT range, so every step is exact — bit-identical
    * to the Scala kernel (validated value-by-value over 220 inputs). */
  private def ilog2Q20Sql(n: String): String = {
    val e = s"(length(bin(($n)::BIGINT)) - 1)"
    val x0 = s"(CASE WHEN $e <= 32 THEN ($n)::HUGEINT << (32 - $e) " +
      s"ELSE ($n)::HUGEINT >> ($e - 32) END)"
    val x = "(st // 1048576)"
    s"""($e::HUGEINT * 1048576 + list_reduce(
       |  list_prepend($x0 * 1048576,
       |    list_transform(range(20), i -> 0::HUGEINT)),
       |  (st, z) -> CASE WHEN (($x * $x) >> 32) >= 8589934592
       |    THEN ((($x * $x) >> 33) * 1048576) + ((st % 1048576) * 2 + 1)
       |    ELSE ((($x * $x) >> 32) * 1048576) + ((st % 1048576) * 2)
       |    END) % 1048576)""".stripMargin
  }

  /** CTE chain computing the kernel simhash64 (Hashing.simhash64: FNV-1a +
    * mix per whitespace token, per-bit ±1 tallies) for every document;
    * result CTE `sim(doc_id, simhash)` with simhash as signed BIGINT.
    * Valid on this corpus because text is single-space-separated ASCII, so
    * `string_split(text,' ')` = Py.splitWs and UTF-16 chars = codepoints. */
  private def simhashCtes: String = {
    val fnvOffset = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
    s"""tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |t0 AS (SELECT doc_id,
       |  list_reduce(list_prepend($fnvOffset::HUGEINT,
       |    ${codepoints("tok")}),
       |    (h, c) -> (xor(h, c) * 1099511628211) % $U64) AS h
       |  FROM tk),
       |${mixCtes("t", "t0", "doc_id")},
       |bits AS (SELECT doc_id, b,
       |    CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END AS sgn
       |  FROM t5, range(64) r(b)),
       |tal AS (SELECT doc_id, b, sum(sgn) AS tally FROM bits
       |  GROUP BY doc_id, b),
       |sim AS (SELECT doc_id,
       |    ${u64ToSigned("sum(CASE WHEN tally > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)")}
       |      AS simhash
       |  FROM tal GROUP BY doc_id)""".stripMargin
  }

  /** Sequential-fold dot product of two DOUBLE[] SQL expressions over a
    * fixed dim — bit-identical to Similarity.cosine's left fold. */
  private def foldDot(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
      s"i -> ($a)[i] * ($b)[i])), (acc, x) -> acc + x)"

  private def foldCosine(a: String, b: String, dim: Int): String =
    s"(${foldDot(a, b, dim)}) / (sqrt(${foldDot(a, a, dim)}) * sqrt(${foldDot(b, b, dim)}))"

  /** MD5-derived ±1 hyperplanes CTE `pl(h, p)` — replicates
    * Similarity.planeSign in SQL (top bit of md5("plane:seed:h:d")). */
  private def planesCte(numPlanes: Int, dim: Int, seed: Long): String =
    s"""pl AS (SELECT h,
       |    list(CASE WHEN strpos('89abcdef',
       |        substr(md5('plane:$seed:' || h || ':' || d), 1, 1)) > 0
       |      THEN 1.0 ELSE -1.0 END ORDER BY d) AS p
       |  FROM range($numPlanes) t1(h), range($dim) t2(d) GROUP BY h)""".stripMargin

  private def sqlStringList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  /** CTE chain producing `ver(id_a, id_b, j)` — the exact-Jaccard near-dup
    * pairs found by prefix filtering (the q23 oracle's pair set, also the
    * edge set the q45 connected-components oracle closes over). */
  private def minhashPairsCtes: String =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh0 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN []
      |         ELSE list_sort(list_distinct(list_transform(
      |                range(1, len(toks) - 1),
      |                i -> array_to_string(toks[i:i+2], ' ')))) END AS sh
      |  FROM tok),
      |nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
      |pref AS (
      |  SELECT doc_id, sz,
      |    unnest(sh[1 : sz - CAST(ceil(0.5 * sz) AS INT) + 1]) AS tok
      |  FROM nz),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b
      |    ON a.tok = b.tok AND a.doc_id < b.doc_id
      |   AND a.sz * 0.5 <= b.sz AND b.sz * 0.5 <= a.sz),
      |ver AS (
      |  SELECT id_a, id_b,
      |    len(list_intersect(x.sh, y.sh)) * 1.0 /
      |    len(list_distinct(list_concat(x.sh, y.sh))) AS j
      |  FROM cand
      |  JOIN nz x ON x.doc_id = id_a
      |  JOIN nz y ON y.doc_id = id_b)""".stripMargin

  // ------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()

    m += "q01_classify_needs_ocr" ->
      s"""$featSql SELECT doc_id, page_type, confidence, needs_ocr FROM p"""

    m += "q02_ocr_pages_projection" ->
      s"""$featSql SELECT doc_id, lang FROM p WHERE needs_ocr"""

    m += "q03_preview" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) > 200 THEN substr(text, 1, 200) || '...'
        |       ELSE text END AS preview
        |FROM documents""".stripMargin

    m += "q04_slice_head" ->
      """SELECT lang,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS first5
        |FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) rn
        |  FROM documents) WHERE rn <= 5 GROUP BY lang""".stripMargin

    m += "q05_format_page_list" ->
      s"""$featSql, sel AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) rn,
        |    count(*) OVER (PARTITION BY lang) n
        |  FROM p WHERE needs_ocr
        |), agg AS (
        |  SELECT lang, max(n) n,
        |    string_agg(CASE WHEN n <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |               ', ' ORDER BY doc_id) AS allp,
        |    string_agg(CASE WHEN rn <= 3 THEN CAST(doc_id AS VARCHAR) END,
        |               ', ' ORDER BY doc_id) AS first3
        |  FROM sel GROUP BY lang)
        |SELECT l.lang,
        |  coalesce(
        |    CASE WHEN agg.n <= 5 THEN agg.allp
        |         ELSE agg.first3 || ', ... and ' || CAST(agg.n - 3 AS VARCHAR)
        |              || ' more' END,
        |    'None') AS page_list
        |FROM (SELECT DISTINCT lang FROM documents) l
        |LEFT JOIN agg USING (lang)""".stripMargin

    m += "q06_status" ->
      s"""$featSql SELECT lang, source, count(*) AS total,
        |  CAST(sum(CASE WHEN needs_ocr THEN 1 ELSE 0 END) AS BIGINT) AS needing,
        |  CASE WHEN sum(CASE WHEN needs_ocr THEN 1 ELSE 0 END) = 0 THEN 'false'
        |       WHEN sum(CASE WHEN needs_ocr THEN 1 ELSE 0 END) = count(*) THEN 'true'
        |       ELSE 'partial' END AS status
        |FROM p GROUP BY lang, source""".stripMargin

    m += "q07_type_counts" ->
      s"""$featSql SELECT page_type, count(*) AS cnt,
        |  count(*) * 100.0 / sum(count(*)) OVER () AS pct
        |FROM p GROUP BY page_type""".stripMargin

    m += "q08_avg_confidence" ->
      s"""$featSql SELECT source,
        |  sum(CAST(round(confidence * 10) AS BIGINT)) / (10.0 * count(*))
        |    AS avg_confidence
        |FROM p GROUP BY source""".stripMargin

    m += "q09_conditional_avg_quality" ->
      s"""$featSql SELECT lang,
        |  coalesce(
        |    sum(CASE WHEN text_length > 50
        |             THEN CAST(round(quality * 100) AS BIGINT) END) /
        |    (100.0 * sum(CASE WHEN text_length > 50 THEN 1 END)), 0.0)
        |    AS avg_quality
        |FROM p GROUP BY lang""".stripMargin

    m += "q10_recommendation" ->
      s"""$featSql, agg AS (
        |  SELECT source, count(*) AS total,
        |    sum(CASE WHEN page_type = 'text' THEN 1 ELSE 0 END) AS text_cnt,
        |    sum(CASE WHEN page_type = 'scanned' THEN 1 ELSE 0 END) AS scanned_cnt,
        |    sum(CASE WHEN page_type = 'mixed' THEN 1 ELSE 0 END) AS mixed_cnt,
        |    sum(CASE WHEN text_length > 200 AND quality > 0.6 THEN 1 ELSE 0 END)
        |      AS good_cnt,
        |    coalesce(sum(CASE WHEN text_length > 50
        |                 THEN CAST(round(quality * 100) AS BIGINT) END) /
        |      (100.0 * sum(CASE WHEN text_length > 50 THEN 1 END)), 0.0) AS avg_q,
        |    sum(text_length) AS total_len
        |  FROM p GROUP BY source)
        |SELECT source,
        |  CASE WHEN (good_cnt * 100.0 / total > 60 AND avg_q > 0.6)
        |         OR (text_cnt * 100.0 / total > 70 AND avg_q > 0.5)
        |         OR (good_cnt * 100.0 / total > 30 AND total_len * 1.0 / total > 300)
        |       THEN 'NO OCR NEEDED'
        |       WHEN scanned_cnt * 100.0 / total > 70
        |         OR (mixed_cnt * 100.0 / total > 80 AND avg_q < 0.4)
        |         OR (text_cnt * 100.0 / total < 10
        |             AND (scanned_cnt + mixed_cnt) * 100.0 / total > 80)
        |       THEN 'OCR REQUIRED'
        |       ELSE 'OCR RECOMMENDED' END AS recommended_action
        |FROM agg""".stripMargin

    m += "q11_recommendation_legacy" ->
      s"""$featSql, agg AS (
        |  SELECT lang, count(*) AS total,
        |    sum(CASE WHEN page_type = 'text' THEN 1 ELSE 0 END) AS text_cnt,
        |    sum(CASE WHEN page_type IN ('scanned','mixed') THEN 1 ELSE 0 END)
        |      AS ocr_cnt
        |  FROM p GROUP BY lang)
        |SELECT lang,
        |  CASE WHEN ocr_cnt * 100.0 / total > 50 THEN 'OCR REQUIRED'
        |       WHEN text_cnt > 0 AND ocr_cnt * 100.0 / total < 25
        |       THEN 'NO OCR NEEDED'
        |       ELSE 'OCR RECOMMENDED' END AS recommended_action
        |FROM agg""".stripMargin

    val categorySql =
      """CASE WHEN page_type = 'empty' THEN 'empty_pages'
        |     WHEN page_type = 'scanned' THEN 'scanned_pages'
        |     WHEN page_type = 'mixed' AND (text_length < 100 OR quality < 0.4
        |          OR confidence < 0.7) THEN 'mixed_pages_needing_ocr'
        |     WHEN page_type = 'text' AND (text_length < 50 OR quality < 0.3
        |          OR confidence < 0.6) THEN 'low_quality_text_pages'
        |     END""".stripMargin

    m += "q12_problematic_categories" ->
      s"""$featSql, cat AS (SELECT *, $categorySql AS category FROM p)
        |SELECT category, count(*) AS cnt, min(doc_id) AS first_doc
        |FROM cat WHERE category IS NOT NULL GROUP BY category""".stripMargin

    m += "q13_summary_string" ->
      s"""$featSql, cat AS (
        |  SELECT lang, doc_id, $categorySql AS category FROM p
        |), sel AS (
        |  SELECT lang, category, doc_id,
        |    row_number() OVER (PARTITION BY lang, category ORDER BY doc_id) rn,
        |    count(*) OVER (PARTITION BY lang, category) n
        |  FROM cat WHERE category IS NOT NULL
        |), fmt AS (
        |  SELECT lang, category, max(n) n,
        |    string_agg(CASE WHEN n <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |               ', ' ORDER BY doc_id) AS allp,
        |    string_agg(CASE WHEN rn <= 3 THEN CAST(doc_id AS VARCHAR) END,
        |               ', ' ORDER BY doc_id) AS first3
        |  FROM sel GROUP BY lang, category
        |), part AS (
        |  SELECT lang,
        |    CASE category
        |      WHEN 'scanned_pages' THEN 'Scanned pages needing OCR: '
        |      WHEN 'mixed_pages_needing_ocr'
        |        THEN 'Mixed content pages that would benefit from OCR: '
        |      WHEN 'low_quality_text_pages'
        |        THEN 'Pages with poor text extraction quality: '
        |      ELSE 'Empty pages (no processing needed): ' END ||
        |    CASE WHEN n <= 5 THEN allp
        |         ELSE first3 || ', ... and ' || CAST(n - 3 AS VARCHAR) || ' more'
        |         END AS s,
        |    CASE category WHEN 'scanned_pages' THEN 1
        |      WHEN 'mixed_pages_needing_ocr' THEN 2
        |      WHEN 'low_quality_text_pages' THEN 3 ELSE 4 END AS ord
        |  FROM fmt)
        |SELECT l.lang,
        |  coalesce(agg.summary, 'All pages have good text extraction quality.')
        |    AS summary
        |FROM (SELECT DISTINCT lang FROM documents) l
        |LEFT JOIN (SELECT lang, string_agg(s, ' | ' ORDER BY ord) AS summary
        |           FROM part GROUP BY lang) agg USING (lang)""".stripMargin

    m += "q14_resume_antijoin" ->
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM orders d
        |                  WHERE d.o_orderstatus = 'F'
        |                    AND d.o_orderkey = o.o_orderkey)""".stripMargin

    m += "q15_fullouter_verify" ->
      """WITH a AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_a
        |  FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY l_orderkey),
        |b AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty_b
        |  FROM lineitem WHERE l_linenumber % 2 = 1 GROUP BY l_orderkey)
        |SELECT coalesce(a.l_orderkey, b.l_orderkey) AS l_orderkey, qty_a, qty_b,
        |  (qty_a IS NOT DISTINCT FROM qty_b) AS matches
        |FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey""".stripMargin

    m += "q16_sorted_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

    m += "q17_argmax" ->
      """SELECT user_id,
        |  arg_max(event_type,
        |    CAST(round(value * 100) AS BIGINT) * 1000000 + event_id)
        |    AS top_event_type
        |FROM events GROUP BY user_id""".stripMargin

    m += "q18_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
        |    AS running_cents
        |FROM events""".stripMargin

    m += "q19_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS users,
        |  count(*) AS events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY event_type""".stripMargin

    m += "q20_dedup_exact_groups" ->
      """SELECT md5(props) AS key_md5, min(event_id) AS representative,
        |  count(*) AS dup_count
        |FROM events GROUP BY md5(props) HAVING count(*) > 1""".stripMargin

    m += "q21_dedup_exact_apply" ->
      """SELECT event_id FROM events
        |WHERE event_id IN (SELECT min(event_id) FROM events GROUP BY md5(props))"""
        .stripMargin

    m += "q22_ngram_jaccard" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' ')) END AS sh
        |  FROM tok),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_distinct(list_intersect(a.sh, b.sh))) * 1.0 /
        |    len(list_distinct(list_concat(a.sh, b.sh))) AS j
        |  FROM sh a JOIN sh b
        |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.5"""
        .stripMargin

    // q23: the LSH output contract is "near-dup pairs with exact Jaccard ≥
    // threshold found via band collisions"; on this corpus every qualifying
    // pair has J ≥ 0.8, where the 8-band/4-row scheme has (verified)
    // full recall — so the exact all-pairs result IS the expected output.
    // The oracle computes it with prefix filtering (same candidate-
    // completeness theorem as Dedup.ngramJaccardPairs) for tractability at
    // sf0.1; the naive quadratic oracle on q22 independently validates the
    // prefix principle.
    m += "q23_minhash_lsh" ->
      s"""WITH $minhashPairsCtes
        |SELECT id_a, id_b, round(j, 6) AS jaccard FROM ver WHERE j >= 0.5"""
        .stripMargin

    // q24: full kernel-simhash re-implementation in SQL (FNV-1a + splitmix
    // in HUGEINT mod-2^64 arithmetic) + naive all-pairs Hamming ≤ 3. The
    // pigeonhole candidate scheme is provably complete for Hamming ≤ 3
    // over 4 blocks, so the Spark output equals the all-pairs result by
    // theorem — this oracle checks both the fingerprint VALUES and the
    // pair set.
    m += "q24_simhash" ->
      s"""WITH $simhashCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

    // q25: the banded-hyperplane LSH bucketing is engine-reproducible (MD5
    // planes, sequential-fold dots), so the oracle replicates candidate
    // generation AND the exact-cosine verify.
    m += "q25_embedding_neardup" ->
      s"""WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |${planesCte(16, 64, 42L)},
        |bits AS (
        |  SELECT e.vec_id, e.label, pl.h,
        |    CASE WHEN ${foldDot("e.v", "pl.p", 64)} >= 0 THEN 1 ELSE 0 END
        |      AS bit
        |  FROM e, pl),
        |bkt AS (
        |  SELECT vec_id, label, h // 4 AS band,
        |    CAST(sum(bit << (h % 4)) AS BIGINT) AS bucket
        |  FROM bits GROUP BY vec_id, label, h // 4),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b
        |    ON a.label = b.label AND a.band = b.band
        |   AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |sc AS (
        |  SELECT id_a, id_b, ${foldCosine("x.v", "y.v", 64)} AS cosine
        |  FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine
        |FROM sc WHERE cosine >= 0.35""".stripMargin

    m += "q26_ann_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
        |      AS cos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 3""".stripMargin

    // q27: MD5-plane LSH bucketing replicated in SQL, then exact cosine
    // ranking within buckets — a full oracle for the approximate-ANN path.
    m += "q27_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |${planesCte(10, 64, 42L)},
        |bits AS (
        |  SELECT e.vec_id, pl.h,
        |    CASE WHEN ${foldDot("e.v", "pl.p", 64)} >= 0 THEN 1 ELSE 0 END
        |      AS bit
        |  FROM e, pl),
        |bkt AS (
        |  SELECT vec_id, CAST(sum(bit << h) AS BIGINT) AS bucket
        |  FROM bits GROUP BY vec_id),
        |qy AS (SELECT vec_id AS query_id, bucket FROM bkt WHERE vec_id < 50),
        |cand AS (
        |  SELECT qy.query_id, c.vec_id AS neighbor_id
        |  FROM qy JOIN bkt c
        |    ON c.bucket = qy.bucket AND c.vec_id <> qy.query_id),
        |sc AS (
        |  SELECT query_id, neighbor_id,
        |    ${foldCosine("x.v", "y.v", 64)} AS cosine
        |  FROM cand
        |  JOIN e x ON x.vec_id = query_id
        |  JOIN e y ON y.vec_id = neighbor_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        |FROM rk WHERE rank <= 3""".stripMargin

    // q41: full IVF replication — centroids are the nlist lowest-id
    // vectors (read straight from the table), assignment = argmax fold-
    // cosine with smallest-cid ties, probing = rank-with-ties ≤ nprobe.
    m += "q41_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        |asg AS (
        |  SELECT e.vec_id, c.cid, ${foldCosine("e.v", "c.cv", 64)} AS cs
        |  FROM e, cents c),
        |corpus_cluster AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY cs DESC, cid ASC) AS rn
        |    FROM asg) WHERE rn = 1),
        |qprobe AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid,
        |      rank() OVER (PARTITION BY vec_id ORDER BY cs DESC) AS rk
        |    FROM asg WHERE vec_id < 10) WHERE rk <= 2),
        |cand AS (
        |  SELECT q.query_id, cc.vec_id AS neighbor_id
        |  FROM qprobe q JOIN corpus_cluster cc
        |    ON cc.cid = q.cid AND cc.vec_id <> q.query_id),
        |sc AS (
        |  SELECT query_id, neighbor_id,
        |    ${foldCosine("x.v", "y.v", 64)} AS cosine
        |  FROM cand
        |  JOIN e x ON x.vec_id = query_id
        |  JOIN e y ON y.vec_id = neighbor_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        |FROM rk WHERE rank <= 3""".stripMargin

    // q55: TRAINED-quantizer IVF — Lloyd's unrolled for two iterations in
    // SQL. The integer-quantized vectors (floor(x·8)) make every partial
    // sum exact, so sum/n centroids are bit-identical across engines;
    // assignment argmax ties break to the smallest centroid index (the
    // array_position-of-first-max rule), empty clusters keep the previous
    // centroid.
    def lloydIter(i: Int, prev: String, next: String): String =
      s"""a$i AS (
         |  SELECT e.vec_id, c.cid, ${foldCosine("e.v", "c.cv", 64)} AS cs
         |  FROM e, $prev c),
         |asg$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY cs DESC, cid ASC) AS rn
         |    FROM a$i) WHERE rn = 1),
         |n$i AS (SELECT cid, count(*) AS n FROM asg$i GROUP BY cid),
         |s$i AS (
         |  SELECT a.cid, dims.d, sum(e.v[dims.d]) AS sx
         |  FROM asg$i a JOIN e USING (vec_id) CROSS JOIN dims
         |  GROUP BY a.cid, dims.d),
         |m$i AS (
         |  SELECT s$i.cid, list(s$i.sx / n$i.n ORDER BY s$i.d) AS cv
         |  FROM s$i JOIN n$i ON n$i.cid = s$i.cid GROUP BY s$i.cid),
         |$next AS (
         |  SELECT $prev.cid, coalesce(m$i.cv, $prev.cv) AS cv
         |  FROM $prev LEFT JOIN m$i ON m$i.cid = $prev.cid)""".stripMargin
    m += "q55_ann_ivf_trained" ->
      s"""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> floor(x * 8)) AS v
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |c0 AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < 4),
        |${lloydIter(1, "c0", "c1")},
        |${lloydIter(2, "c1", "c2")},
        |af AS (
        |  SELECT e.vec_id, c.cid, ${foldCosine("e.v", "c.cv", 64)} AS cs
        |  FROM e, c2 c),
        |corpus_cluster AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY cs DESC, cid ASC) AS rn
        |    FROM af) WHERE rn = 1),
        |qprobe AS (
        |  SELECT vec_id AS query_id, cid FROM (
        |    SELECT vec_id, cid,
        |      rank() OVER (PARTITION BY vec_id ORDER BY cs DESC) AS rk
        |    FROM af WHERE vec_id < 10) WHERE rk <= 2),
        |cand AS (
        |  SELECT q.query_id, cc.vec_id AS neighbor_id
        |  FROM qprobe q JOIN corpus_cluster cc
        |    ON cc.cid = q.cid AND cc.vec_id <> q.query_id),
        |sc AS (
        |  SELECT query_id, neighbor_id,
        |    ${foldCosine("x.v", "y.v", 64)} AS cosine
        |  FROM cand
        |  JOIN e x ON x.vec_id = query_id
        |  JOIN e y ON y.vec_id = neighbor_id),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        |FROM rk WHERE rank <= 3""".stripMargin

    // q56: BPE merge training unrolled — per step: pair explode over the
    // current vocabulary symbol lists, exact-integer pair counts, argmax
    // with (freq DESC, l ASC, r ASC) ties, then the merge applied via the
    // exact greedy left-to-right scan: list_reduce over chr(1)-prefixed
    // symbols replicates the trainer's sequential scan (the separator prefix
    // anchors symbol starts; a fused symbol participates in the next
    // comparison). When a step's bN is EMPTY (early exhaustion), its
    // scalar subqueries are NULL, the CASE condition is never true, and
    // the scan rejoins symbols unchanged — matching the trainer's early stop.
    // DuckDB forbids subqueries inside lambdas, so the step's merge pair
    // arrives as plain columns (lcol, rcol) LEFT-JOINed onto the row —
    // NULL on early exhaustion, which makes the CASE never fire.
    def bpeScanSql(syms: String, lcol: String, rcol: String): String =
      s"""list_filter(string_split(list_reduce(
         |    list_prepend('', list_transform($syms, s -> chr(1) || s)),
         |    (acc, x) -> CASE WHEN ends_with(acc, chr(1) || $lcol)
         |        AND x = chr(1) || $rcol
         |      THEN acc || substr(x, 2) ELSE acc || x END),
         |  chr(1)), s -> s <> '')""".stripMargin
    def bpeStep(i: Int): String =
      s"""p$i AS (
         |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS freq
         |  FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |          j -> {'l': syms[j], 'r': syms[j + 1]})) AS p
         |        FROM v$i)
         |  GROUP BY p.l, p.r),
         |b$i AS (SELECT l, r, freq FROM p$i
         |        ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
         |v${i + 1} AS (
         |  SELECT cnt, ${bpeScanSql("syms", s"bl$i", s"br$i")} AS syms
         |  FROM v$i LEFT JOIN
         |    (SELECT l AS bl$i, r AS br$i FROM b$i) ON TRUE)""".stripMargin
    m += "q56_bpe_merges" ->
      s"""WITH v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |    list_transform(range(1, length(token) + 1), i -> token[i]) AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' AND NOT contains(token, chr(1)) GROUP BY token),
        |${bpeStep(1)},
        |${bpeStep(2)},
        |${bpeStep(3)}
        |SELECT CAST(1 AS INTEGER) AS step, l AS left_sym, r AS right_sym,
        |  freq AS pair_count FROM b1
        |UNION ALL SELECT CAST(2 AS INTEGER), l, r, freq FROM b2
        |UNION ALL SELECT CAST(3 AS INTEGER), l, r, freq FROM b3""".stripMargin

    // padded-replace whole-word occurrence count (q28/q30/q58 oracles)
    def occSql(word: String): String = {
      val needle = s" $word "
      s"(length(pad) - length(replace(pad, '$needle', ''))) / ${needle.length}"
    }

    // q57: re-derive the same 3 merges (b1..b3), then apply the identical
    // greedy-scan chain per token and sum symbol counts per doc (see the
    // bpeScanSql comment for the early-exhaustion no-op behavior).
    m += "q57_bpe_apply" ->
      s"""WITH v1 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |    list_transform(range(1, length(token) + 1), i -> token[i]) AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE token <> '' AND NOT contains(token, chr(1)) GROUP BY token),
        |${bpeStep(1)},
        |${bpeStep(2)},
        |${bpeStep(3)},
        |tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |app AS (
        |  SELECT doc_id, CAST(CASE WHEN contains(token, chr(1))
        |    THEN length(token)
        |    ELSE len(${bpeScanSql(bpeScanSql(bpeScanSql(
            "list_transform(range(1, length(token) + 1), i -> token[i])",
            "bl1", "br1"), "bl2", "br2"), "bl3", "br3")}) END AS BIGINT) AS n
        |  FROM tok
        |  LEFT JOIN (SELECT l AS bl1, r AS br1 FROM b1) ON TRUE
        |  LEFT JOIN (SELECT l AS bl2, r AS br2 FROM b2) ON TRUE
        |  LEFT JOIN (SELECT l AS bl3, r AS br3 FROM b3) ON TRUE
        |  WHERE token <> ''),
        |per_doc AS (
        |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS s FROM app GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.s, 0) AS BIGINT) AS bpe_symbols,
        |  CAST(CASE WHEN length(d.text) = 0 THEN 0
        |       ELSE len(string_split(d.text, ' ')) END AS BIGINT) AS ws_tokens
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin

    // q58: row-local Gopher signals — integer/exact arithmetic + single
    // correctly-rounded divisions, so doubles match bit-for-bit.
    val stopExpr58 = Seq("the", "and", "of", "is").map(occSql).mkString(" + ")
    m += "q58_gopher_signals" ->
      s"""WITH w AS (
        |  SELECT doc_id, text,
        |    ' ' || replace(text, ' ', '  ') || ' ' AS pad,
        |    list_filter(string_split(text, ' '), t -> t <> '') AS words
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, pad,
        |    CAST(len(words) AS BIGINT) AS wc,
        |    CAST(coalesce(list_sum(list_transform(words, t -> length(t))), 0)
        |      AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(words,
        |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS ellipses,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      AS BIGINT) AS hashes
        |  FROM w)
        |SELECT doc_id,
        |  wc AS word_count,
        |  CASE WHEN wc = 0 THEN 0.0
        |       ELSE CAST(sum_len AS DOUBLE) / wc END AS mean_word_len,
        |  CASE WHEN wc = 0 THEN 0.0
        |       ELSE (alpha * 1000000) / wc END AS alpha_word_ppm,
        |  CASE WHEN wc = 0 THEN 0.0
        |       ELSE ((ellipses + hashes) * 1000000) / wc END AS symbol_ppm,
        |  CAST($stopExpr58 AS BIGINT) AS stop_hits
        |FROM f""".stripMargin

    // q59: C4-style line dedup over planted boilerplate — ban lines in
    // ≥3 distinct docs, reassemble survivors in original order.
    m += "q59_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'header-' || (doc_id % 7) || chr(10) ||
        |    substr(text, 1, 40) || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'footer-common'
        |         ELSE 'tail-' || doc_id END AS lined_text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ln) + 1),
        |      i -> {'idx': i - 1, 'line': ln[i]})) AS p
        |  FROM (SELECT doc_id, string_split(lined_text, chr(10)) AS ln FROM d)),
        |l2 AS (SELECT doc_id, p.idx AS idx, p.line AS line FROM l),
        |ban AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS c FROM l2 GROUP BY line)
        |  WHERE c >= 3),
        |fl AS (
        |  SELECT l2.doc_id, l2.idx, l2.line,
        |    (ban.line IS NOT NULL) AS banned
        |  FROM l2 LEFT JOIN ban ON ban.line = l2.line)
        |SELECT doc_id,
        |  coalesce(array_to_string(
        |    list(line ORDER BY idx) FILTER (WHERE NOT banned), chr(10)), '')
        |    AS clean_text,
        |  CAST(count(*) FILTER (WHERE NOT banned) AS BIGINT) AS kept_lines,
        |  CAST(count(*) FILTER (WHERE banned) AS BIGINT) AS dropped_lines
        |FROM fl GROUP BY doc_id""".stripMargin

    // q60: per-source cap — plain window (the salted two-phase variant
    // must be indistinguishable from it)
    m += "q60_per_source_cap" ->
      """SELECT doc_id, source, n_chars, rn FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 5""".stripMargin

    // q28 langid: generated marker-count SQL (same padded-replace trick;
    // occSql moved above q57/q58 which also use it)
    val enExpr = Seq("the", "and", "of", "is").map(occSql).mkString(" + ")
    val deExpr = Seq("der", "und", "die", "ist").map(occSql).mkString(" + ")
    val frExpr = Seq("le", "et", "les", "est").map(occSql).mkString(" + ")
    m += "q28_langid" ->
      s"""WITH padded AS (
        |  SELECT doc_id, lang, ' ' || replace(text, ' ', '  ') || ' ' AS pad
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, lang,
        |    CAST($enExpr AS BIGINT) AS en,
        |    CAST($deExpr AS BIGINT) AS de,
        |    CAST($frExpr AS BIGINT) AS fr
        |  FROM padded)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
        |       WHEN en >= de AND en >= fr THEN 'en'
        |       WHEN de >= fr THEN 'de'
        |       ELSE 'fr' END AS lang_guess
        |FROM scores""".stripMargin

    m += "q29_tokens" ->
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE len(string_split(text, ' ')) END AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))
        |    AS bpeish_tokens
        |FROM documents""".stripMargin

    val stopExpr = Seq("the", "and", "of", "is", "a", "to").map(occSql).mkString(" + ")
    m += "q30_quality_proxy" ->
      s"""WITH padded AS (
        |  SELECT doc_id, text, ' ' || replace(text, ' ', '  ') || ' ' AS pad
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    CAST($stopExpr AS BIGINT) AS stop_hits,
        |    CASE WHEN length(text) = 0 THEN 0
        |         ELSE len(string_split(text, ' ')) END AS words,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS digits
        |  FROM padded)
        |SELECT doc_id,
        |  least(
        |    least(CASE WHEN words = 0 THEN 0.0
        |               ELSE stop_hits * 1.0 / words END, 0.5) +
        |    (CASE WHEN length(text) >= 200 AND length(text) <= 5000
        |          THEN 0.3 ELSE 0.0 END) +
        |    (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
        |                     ELSE digits * 1.0 / length(text) END) < 0.3
        |          THEN 0.2 ELSE 0.0 END),
        |    1.0) AS quality_proxy
        |FROM f""".stripMargin

    m += "q31_word_metrics" ->
      """SELECT doc_id, length(text) AS char_count,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE len(string_split(text, ' ')) END AS word_count,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE length(replace(text, ' ', '')) * 1.0 /
        |            len(string_split(text, ' ')) END AS avg_word_length
        |FROM documents""".stripMargin

    // q32: full kernel quality metrics (F1–F7), oracle-specialized to this
    // corpus's shape (single-line, single-space-separated lowercase ASCII —
    // asserted by q36's validation query and the charset probe): every
    // branch of the kernel's scoring collapses to SQL-expressible
    // arithmetic with identical IEEE-754 evaluation order, so DuckDB checks
    // the exact double values the kernel computes.
    val dictIn = sqlStringList(
      graft.kernel.TextQuality.dictionaryWords.toSeq.sorted)
    val engIn = sqlStringList(graft.kernel.TextQuality.englishMarkerWords)
    m += "q32_kernel_quality" ->
      s"""WITH d AS (
        |  SELECT doc_id, text, length(text) AS chars,
        |    string_split(text, ' ') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, chars, len(toks) AS wc,
        |    len(list_filter(toks, t -> list_contains([$engIn], t)))
        |      AS eng_hits,
        |    len(list_filter(toks, t -> list_contains([$dictIn], t)))
        |      AS dict_hits,
        |    len(list_filter(toks, t -> length(t) > 1
        |        AND regexp_matches(t, '^[A-Z]'))) AS cap_words,
        |    len(list_filter(toks, t -> length(t) > 1
        |        AND regexp_matches(t, '[A-Z]')
        |        AND NOT regexp_matches(t, '[a-z]'))) AS allcap_words,
        |    len(regexp_extract_all(text, '[^\\w\\s.,!?:;()\\[\\]"''/-]'))
        |      AS qspecial,
        |    len(regexp_extract_all(text, '[^\\w\\s.,!?:;()-]')) AS ispecial,
        |    len(regexp_extract_all(text, '[0-9]')) AS digits
        |  FROM d)
        |SELECT doc_id AS id,
        |  chars AS char_count,
        |  wc AS word_count,
        |  CASE WHEN wc = 0 THEN 0.0
        |       ELSE (chars - (wc - 1)) * 1.0 / wc END AS avg_word_length,
        |  least(
        |    (((least(dict_hits * 1.0 / wc * 0.3, 0.3)
        |      + CASE WHEN (cap_words + allcap_words) * 1.0 / wc
        |               BETWEEN 0.05 AND 0.4 THEN 0.2 ELSE 0.0 END)
        |      + CASE WHEN wc BETWEEN 5 AND 30 THEN 0.2 ELSE 0.0 END)
        |      + CASE WHEN qspecial * 1.0 / chars < 0.05
        |             THEN 0.2 ELSE 0.0 END)
        |      + 0.1,
        |    1.0) AS ocr_quality_score,
        |  CASE WHEN wc * 1.0 >= 5 THEN least(wc * 1.0 / 15, 1.0)
        |       ELSE wc * 1.0 / 5 END AS text_density,
        |  0.0 AS formatting_consistency,
        |  least(eng_hits / (chars / 100.0), 1.0) AS english,
        |  digits * 1.0 / chars AS "numeric",
        |  ispecial * 1.0 / chars AS special_chars
        |FROM f""".stripMargin

    // q33: the kernel rolling-hash + simhash fingerprints re-implemented in
    // DuckDB HUGEINT mod-2^64 arithmetic — the oracle checks the exact
    // 64-bit VALUES of both engine-independent hashes.
    m += "q33_fingerprints" ->
      s"""WITH r0 AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::HUGEINT,
        |      ${codepoints("text")}),
        |      (h, c) -> (h * 1315423911 + c) % $U64) AS h
        |  FROM documents),
        |${mixCtes("r", "r0", "doc_id")},
        |fp AS (SELECT doc_id, ${u64ToSigned("h")} AS fingerprint FROM r5),
        |$simhashCtes
        |SELECT fp.doc_id AS id, fp.fingerprint, sim.simhash
        |FROM fp JOIN sim ON fp.doc_id = sim.doc_id""".stripMargin

    // q34: every parsed container fact follows the pure-arithmetic
    // synthesis formulas (MediaCodec.synthesize), so the oracle derives
    // them from doc_id alone — a true independent check of the byte-level
    // encode→parse round trip.
    m += "q34_multimodal_decode" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 3 AS m,
        |    CAST(16 + (doc_id * 7) % 240 AS INT) AS pw,
        |    CAST(16 + (doc_id * 13) % 240 AS INT) AS ph,
        |    CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sr,
        |    CAST(32 + doc_id % 64 AS INT) AS ns
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE m WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |           ELSE 'audio/wav' END AS kind,
        |    CAST(CASE m WHEN 0 THEN 45 WHEN 1 THEN 41
        |                ELSE 44 + 2 * ns END AS BIGINT) AS byte_len,
        |    CASE WHEN m <= 1 THEN pw ELSE 0 END AS width,
        |    CASE WHEN m <= 1 THEN ph ELSE 0 END AS height,
        |    CASE WHEN m <= 1 THEN 1 ELSE ns END AS frames,
        |    CASE WHEN m <= 1 THEN 0 ELSE sr END AS sample_rate
        |  FROM f)
        |SELECT doc_id, kind, byte_len, width, height, frames, sample_rate,
        |  CAST(ceil(width * least(256.0 / greatest(width, 1),
        |    256.0 / greatest(height, 1), 1.0)) AS INT) AS target_width,
        |  CAST(ceil(height * least(256.0 / greatest(width, 1),
        |    256.0 / greatest(height, 1), 1.0)) AS INT) AS target_height,
        |  CASE WHEN frames > 0 THEN (frames - 1) // 30 + 1 ELSE 0 END
        |    AS sample_count
        |FROM g""".stripMargin

    // q38: per-type artifact counts; RE2-exact equivalents exist for every
    // pattern ON THIS CORPUS (probed: no adjacent rn/cl repeats, no
    // O/0/uppercase/special characters — the lookaround patterns therefore
    // count 0 or reduce to plain matches).
    m += "q38_ocr_artifacts" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[Il1|]{2,}'))
        |      AS vertical_line_confusion,
        |    len(regexp_extract_all(text, 'rn\w')) AS rn_m_confusion,
        |    len(regexp_extract_all(text, 'cl\w')) AS cl_d_confusion,
        |    len(regexp_extract_all(text, '[O0]')) AS o_zero_confusion,
        |    len(regexp_extract_all(text, '[^\w\s]'))
        |      AS excessive_special_chars,
        |    len(regexp_extract_all(text, '[A-Z]')) AS inconsistent_case,
        |    len(string_split(text, ' ')) AS wc
        |  FROM documents)
        |SELECT doc_id, vertical_line_confusion, rn_m_confusion,
        |  cl_d_confusion, o_zero_confusion, excessive_special_chars,
        |  inconsistent_case,
        |  (vertical_line_confusion + rn_m_confusion + cl_d_confusion +
        |   o_zero_confusion + excessive_special_chars + inconsistent_case)
        |    AS artifact_count,
        |  (vertical_line_confusion + rn_m_confusion + cl_d_confusion +
        |   o_zero_confusion + excessive_special_chars + inconsistent_case)
        |    * 1.0 / wc AS error_rate,
        |  greatest(0.1, 1.0 -
        |    ((vertical_line_confusion + rn_m_confusion + cl_d_confusion +
        |      o_zero_confusion + excessive_special_chars +
        |      inconsistent_case) * 1.0 / wc) * 2) AS artifact_confidence
        |FROM f""".stripMargin

    // q42: re-derive the PCM byte stream (Hashing.mix(byteIndex) & 0xFF)
    // with the HUGEINT mix chain, rebuild the signed 16-bit LE samples,
    // and compute the same exact-integer RMS / crossing counts.
    m += "q42_audio_features" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(32 + doc_id % 64 AS INT) AS ns,
        |    CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sr
        |  FROM documents WHERE doc_id % 3 = 2),
        |w0 AS (SELECT b, b::HUGEINT AS h FROM range(190) t(b)),
        |${mixCtes("w", "w0", "b")},
        |bv AS (SELECT b, CAST(h % 256 AS INT) AS v FROM w5),
        |samp AS (
        |  SELECT k, lo.v + hi.v * 256 AS u
        |  FROM range(95) t(k)
        |  JOIN bv lo ON lo.b = 2 * k
        |  JOIN bv hi ON hi.b = 2 * k + 1),
        |sgn AS (SELECT k, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
        |  FROM samp),
        |crs AS (SELECT k, s,
        |    CASE WHEN k = 0 THEN 0
        |         WHEN (s >= 0) <> (lag(s) OVER (ORDER BY k) >= 0) THEN 1
        |         ELSE 0 END AS c
        |  FROM sgn),
        |agg AS (
        |  SELECT d.doc_id, d.ns, d.sr,
        |    CAST(sum(CAST(crs.s AS BIGINT) * crs.s) AS BIGINT) AS ss,
        |    CAST(sum(crs.c) AS BIGINT) AS zc
        |  FROM d JOIN crs ON crs.k < d.ns
        |  GROUP BY d.doc_id, d.ns, d.sr)
        |SELECT doc_id, ns AS n_samples,
        |  sqrt(CAST(ss AS DOUBLE) / ns) AS rms,
        |  zc AS zero_crossings,
        |  ns * 1000 // sr AS duration_ms
        |FROM agg""".stripMargin

    m += "q35_lineitem_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_price_cents,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

    m += "q37_processing_method" ->
      s"""$featSql, j AS (
        |  SELECT *, confidence + CAST(doc_id % 3 AS DOUBLE) / 10.0 - 0.1 AS conf
        |  FROM p
        |), f AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 7 AS DOUBLE) / 20.0 AS special_ratio,
        |    CASE WHEN page_type = 'text' AND conf > 0.8
        |           THEN 'direct_extraction'
        |         WHEN page_type = 'scanned' AND conf > 0.7
        |           THEN 'ocr_required'
        |         WHEN page_type = 'mixed' THEN 'hybrid_processing'
        |         WHEN conf < 0.5 THEN 'manual_review'
        |         ELSE 'unknown' END AS m
        |  FROM j)
        |SELECT doc_id, special_ratio,
        |  CASE WHEN m = 'direct_extraction' AND special_ratio > 0.1
        |       THEN 'verify_with_ocr' ELSE m END AS method
        |FROM f""".stripMargin

    m += "q40_salted_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin

    m += "q39_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS k_sum,
        |  count(json_extract_string(props, '$.k')) AS k_count,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type""".stripMargin

    // q43: the same messy URLs are synthesized from doc_id in both engines;
    // canonicalization is replicated with DuckDB's regex/list functions.
    m += "q43_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Path/' ||
        |    doc_id ||
        |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
        |         WHEN doc_id % 3 = 1 THEN '?z=9&a=1&utm_campaign=x'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    coalesce(lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        |    coalesce(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '') AS hostport,
        |    coalesce(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS rawpath,
        |    coalesce(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '') AS q
        |  FROM u),
        |c2 AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '') AS sq
        |  FROM c)
        |SELECT doc_id, url,
        |  scheme || '://' || host || path ||
        |  CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS canonical_url
        |FROM c2""".stripMargin

    // q44: sample membership value-checked — the splitmix64 row hash is
    // re-derived in HUGEINT mod-2^64 SQL and the pmod bucket compared to
    // the per-stratum quota.
    m += "q44_stratified_sample" ->
      s"""WITH h0 AS (
        |  SELECT doc_id, lang, doc_id::HUGEINT AS h FROM documents),
        |${mixCtes("s", "h0", "doc_id, lang")},
        |b AS (SELECT doc_id, lang,
        |    ((${u64ToSigned("h")} % 1000) + 1000) % 1000 AS bucket
        |  FROM s5)
        |SELECT doc_id, lang FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 600
        |                         WHEN 'fr' THEN 600 ELSE 300 END"""
        .stripMargin

    // q45: transitive closure of the q23 pair set via a recursive CTE —
    // component = min reachable id, exactly the fixpoint the Spark
    // min-label propagation converges to.
    m += "q45_dedup_components" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS doc_id, min(c) AS component FROM reach
        |  GROUP BY v)
        |SELECT doc_id, component,
        |  doc_id = component AS is_representative
        |FROM comp""".stripMargin

    // q46: same synthesized PII text, same RE2 regexes with the 'g'
    // (global) flag — DuckDB replaces only the first match otherwise.
    m += "q46_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    'Contact user' || doc_id || '@example.com or admin@host' ||
        |    (doc_id % 5) || '.org from 10.0.' || (doc_id % 256) ||
        |    '.7 or call +4915112345' || (doc_id % 100) || ' today. ' ||
        |    text AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{7,15}\b', '<PHONE>', 'g') AS scrubbed
        |FROM p""".stripMargin

    m += "q47_vocab_topk" ->
      """SELECT token, count(*) AS occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY occurrences DESC, token ASC
        |LIMIT 50""".stripMargin

    // q48: the same bigram statistics recomputed relationally — unnest the
    // bigram list, GROUP BY (doc, bigram), then per-doc max / min-filter /
    // singleton counts. DuckDB lists are 1-indexed; range(1, len) yields
    // i = 1..len-1 so words[i] || ' ' || words[i+1] enumerates exactly the
    // adjacent pairs the Spark bigram regexp extracts. top_ppm is exact
    // integer floor division in both engines.
    m += "q48_repetition_signals" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |b AS (
        |  SELECT doc_id, len(words)::BIGINT AS n_words,
        |    greatest(len(words) - 1, 0)::BIGINT AS n_bigrams,
        |    list_transform(range(1, len(words)),
        |      i -> words[i] || ' ' || words[i+1]) AS bigrams
        |  FROM w),
        |u AS (SELECT doc_id, unnest(bigrams) AS g FROM b),
        |c AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM u GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, g, cnt,
        |         max(cnt) OVER (PARTITION BY doc_id) AS mx FROM c),
        |agg AS (SELECT doc_id,
        |          any_value(mx) AS top_count,
        |          min(g) FILTER (WHERE cnt = mx) AS top_bigram,
        |          count(*) FILTER (WHERE cnt = 1)::BIGINT AS single_bigrams
        |        FROM c2 GROUP BY 1)
        |SELECT b.doc_id, b.n_words, b.n_bigrams,
        |  coalesce(agg.top_count, 0)::BIGINT AS top_count,
        |  coalesce(agg.top_bigram, '') AS top_bigram,
        |  coalesce(agg.single_bigrams, 0)::BIGINT AS single_bigrams,
        |  CASE WHEN b.n_bigrams = 0 THEN 0
        |       ELSE coalesce(agg.top_count, 0) * 1000000 // b.n_bigrams
        |  END::BIGINT AS top_ppm,
        |  CASE WHEN b.n_bigrams = 0 THEN FALSE
        |       ELSE coalesce(agg.top_count, 0) * 1000000 // b.n_bigrams > 60000
        |  END AS repetitive
        |FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id""".stripMargin

    // q49: same URL + timestamp synthesis, q43's canonicalization SQL,
    // then latest-capture-per-canonical-URL via arg_max (timestamps are
    // distinct within a canonical group by construction: members differ by
    // 175 in doc_id and 37*175*k % 100000 = 0 first at k = 4000).
    m += "q49_latest_capture" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://Host' || (doc_id % 7) || '.Example.COM/page/' ||
        |    (doc_id % 25) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=crawl&v=1'
        |         WHEN doc_id % 3 = 1 THEN '?v=1&utm_medium=cc'
        |         ELSE '?v=1' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '#sec' ELSE '' END AS url,
        |    1600000000 + (doc_id * 37) % 100000 AS ts_epoch
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ts_epoch,
        |    coalesce(lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
        |    coalesce(lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '') AS hostport,
        |    coalesce(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS rawpath,
        |    coalesce(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '') AS q
        |  FROM u),
        |c2 AS (
        |  SELECT doc_id, ts_epoch, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(q, '&'),
        |      p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '') AS sq
        |  FROM c),
        |canon AS (
        |  SELECT doc_id, ts_epoch,
        |    scheme || '://' || host || path ||
        |    CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS canonical_url
        |  FROM c2)
        |SELECT canonical_url, count(*)::BIGINT AS n_captures,
        |  arg_max(doc_id, ts_epoch) AS latest_doc_id,
        |  max(ts_epoch)::BIGINT AS latest_ts
        |FROM canon GROUP BY 1""".stripMargin

    // q50: the funnel CASE is restated verbatim; top_ppm is re-derived with
    // the q48 relational recomputation.
    m += "q50_filter_funnel" ->
      """WITH w AS (
        |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS words
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang, n_chars,
        |    greatest(len(words) - 1, 0)::BIGINT AS n_bigrams,
        |    list_transform(range(1, len(words)),
        |      i -> words[i] || ' ' || words[i+1]) AS bigrams
        |  FROM w),
        |u AS (SELECT doc_id, unnest(bigrams) AS g FROM b),
        |c AS (SELECT doc_id, g, count(*) AS cnt FROM u GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(cnt) AS top_count FROM c GROUP BY 1),
        |f AS (
        |  SELECT b.doc_id, b.lang, b.n_chars,
        |    CASE WHEN b.n_bigrams = 0 THEN 0
        |         ELSE coalesce(agg.top_count, 0) * 1000000 // b.n_bigrams
        |    END AS top_ppm
        |  FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id),
        |v AS (
        |  SELECT n_chars,
        |    CASE WHEN n_chars < 120 THEN 'too_short'
        |         WHEN lang NOT IN ('en', 'de', 'fr') THEN 'lang_filter'
        |         WHEN doc_id % 100 < 5 THEN 'low_quality'
        |         WHEN top_ppm > 60000 THEN 'repetitive'
        |         ELSE 'kept' END AS verdict
        |  FROM f)
        |SELECT verdict, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars
        |FROM v GROUP BY 1""".stripMargin

    // q51: the same profile recomputed relationally on STRING grams
    // (list_distinct per doc ⇒ the gram-key count IS document frequency);
    // equivalent to the Spark fingerprint pipeline modulo 64-bit xxhash64
    // collisions (~|grams|²/2^64 — the hash-green run verifies none occur
    // on this corpus). DuckDB slices are 1-based inclusive: words[i:i+7]
    // is the k=8 gram at i, i ∈ range(1, len-6) = 1..len-7.
    m += "q51_dup_ngrams" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, greatest(len(words) - 6, 1)),
        |        i -> array_to_string(words[i:i+7], ' ')))) AS gram FROM w),
        |f AS (SELECT gram, count(*)::BIGINT AS n_docs FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_grams,
        |  (sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1000000
        |     // count(*))::BIGINT AS dup_ppm
        |FROM g JOIN f USING (gram) GROUP BY 1""".stripMargin

    // q52: same passage planting, same distinct-5-gram derivation
    // (words[i:i+4], i ∈ 1..len-4), LEFT JOIN against the benchmark gram
    // set; only contaminated docs (n_hits ≥ 1) are emitted.
    m += "q52_contamination" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 101 = 0 OR doc_id % 13 = 0
        |         THEN text || ' benchmark heldout passage variant ' ||
        |              (doc_id % 17) || ' answer key sequence'
        |         ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM aug),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, greatest(len(words) - 3, 1)),
        |        i -> array_to_string(words[i:i+4], ' ')))) AS gram FROM w),
        |bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 101 = 0),
        |cg AS (SELECT doc_id, gram FROM g WHERE doc_id % 101 <> 0)
        |SELECT cg.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_hits,
        |  (sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |     // count(*))::BIGINT AS hit_ppm
        |FROM cg LEFT JOIN bg USING (gram) GROUP BY 1
        |HAVING sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) >= 1"""
        .stripMargin

    // q53: exact = same text in the base; near = 3-gram-shingle Jaccard
    // ≥ 0.5 against some base doc (the LSH candidate step has full recall
    // on this corpus — OpsSpec pins it at sf0.01 AND sf0.1 — so the
    // relational all-pairs recomputation is the oracle). Double Jaccard
    // division on identical small integers rounds identically in both
    // engines.
    m += "q53_incremental_dedup" ->
      """WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text
        |           FROM documents),
        |w AS (SELECT doc_id, text, string_split(text, ' ') AS words
        |           FROM d0),
        |s AS (SELECT doc_id, text, list_distinct(list_transform(
        |        range(1, greatest(len(words) - 1, 1)),
        |        i -> array_to_string(words[i:i+2], ' '))) AS sh FROM w),
        |inc AS (SELECT * FROM s WHERE doc_id % 4 = 0),
        |base AS (SELECT * FROM s WHERE doc_id % 4 <> 0),
        |ex AS (SELECT DISTINCT i.doc_id FROM inc i
        |       JOIN base b ON i.text = b.text),
        |nr AS (SELECT DISTINCT i.doc_id FROM inc i JOIN base b ON
        |         len(i.sh) > 0 AND len(b.sh) > 0 AND
        |         len(list_intersect(i.sh, b.sh))::DOUBLE /
        |           (len(i.sh) + len(b.sh)
        |              - len(list_intersect(i.sh, b.sh))) >= 0.5)
        |SELECT i.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS verdict
        |FROM inc i
        |LEFT JOIN ex ON i.doc_id = ex.doc_id
        |LEFT JOIN nr ON i.doc_id = nr.doc_id""".stripMargin

    // q54: the q20/q45/q30/q48 oracle machinery composed under the
    // first-match-wins CASE. Near-dup losers are non-representatives of
    // the q45 connected components (prefix-join candidates are complete
    // for J ≥ 0.5; LSH recall pinned by OpsSpec at sf0.01 AND sf0.1).
    m += "q54_curation_verdicts" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id, coalesce(text, '') AS text, lang
        |       FROM documents),
        |ek AS (SELECT doc_id, md5(text) AS k FROM d0),
        |ekeep AS (SELECT k, min(doc_id) AS keep FROM ek GROUP BY 1),
        |exact_losers AS (
        |  SELECT e.doc_id FROM ek e JOIN ekeep kk USING (k)
        |  WHERE e.doc_id <> kk.keep),
        |tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |sh0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_sort(list_distinct(list_transform(
        |                range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' ')))) END AS sh
        |  FROM tok),
        |nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
        |pref AS (
        |  SELECT doc_id, sz,
        |    unnest(sh[1 : sz - CAST(ceil(0.5 * sz) AS INT) + 1]) AS tok
        |  FROM nz),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref a JOIN pref b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id
        |   AND a.sz * 0.5 <= b.sz AND b.sz * 0.5 <= a.sz),
        |ver AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.sh, y.sh)) * 1.0 /
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS j
        |  FROM cand
        |  JOIN nz x ON x.doc_id = id_a
        |  JOIN nz y ON y.doc_id = id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS doc_id, min(c) AS component FROM reach
        |  GROUP BY v),
        |near_losers AS (
        |  SELECT doc_id FROM comp WHERE doc_id <> component),
        |padded AS (
        |  SELECT doc_id, text, ' ' || replace(text, ' ', '  ') || ' ' AS pad
        |  FROM d0),
        |f AS (
        |  SELECT doc_id, text,
        |    CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' and ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' of ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' is ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' a ', ''))) / 3
        |       + (length(pad) - length(replace(pad, ' to ', ''))) / 4
        |      AS BIGINT) AS stop_hits,
        |    CASE WHEN length(text) = 0 THEN 0
        |         ELSE len(string_split(text, ' ')) END AS words,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS digits
        |  FROM padded),
        |q AS (
        |  SELECT doc_id,
        |    least(
        |      least(CASE WHEN words = 0 THEN 0.0
        |                 ELSE stop_hits * 1.0 / words END, 0.5) +
        |      (CASE WHEN length(text) >= 200 AND length(text) <= 5000
        |            THEN 0.3 ELSE 0.0 END) +
        |      (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
        |                       ELSE digits * 1.0 / length(text) END) < 0.3
        |            THEN 0.2 ELSE 0.0 END),
        |      1.0) AS quality
        |  FROM f),
        |bg AS (
        |  SELECT doc_id,
        |    greatest(len(toks) - 1, 0)::BIGINT AS n_bigrams,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS bigrams
        |  FROM tok),
        |bu AS (SELECT doc_id, unnest(bigrams) AS g FROM bg),
        |bc AS (SELECT doc_id, g, count(*) AS cnt FROM bu GROUP BY 1, 2),
        |bagg AS (SELECT doc_id, max(cnt) AS top_count FROM bc GROUP BY 1),
        |rep AS (
        |  SELECT bg.doc_id,
        |    CASE WHEN bg.n_bigrams = 0 THEN FALSE
        |         ELSE coalesce(bagg.top_count, 0) * 1000000
        |                // bg.n_bigrams > 60000 END AS repetitive
        |  FROM bg LEFT JOIN bagg ON bg.doc_id = bagg.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN el.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nl.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN length(d.text) < 120 THEN 'too_short'
        |       WHEN d.lang NOT IN ('en', 'de', 'fr') THEN 'lang_filter'
        |       WHEN q.quality < 0.3 THEN 'low_quality'
        |       WHEN rep.repetitive THEN 'repetitive'
        |       ELSE 'kept' END AS verdict
        |FROM d0 d
        |LEFT JOIN exact_losers el ON d.doc_id = el.doc_id
        |LEFT JOIN near_losers nl ON d.doc_id = nl.doc_id
        |LEFT JOIN q ON d.doc_id = q.doc_id
        |LEFT JOIN rep ON d.doc_id = rep.doc_id""".stripMargin

    m += "q36_validation_errors" ->
      """SELECT doc_id, (length(text) <> n_chars) AS length_mismatch,
        |  (text IS NULL) AS null_text
        |FROM documents
        |WHERE length(text) <> n_chars OR text IS NULL""".stripMargin

    // q61: the same trainer call as q56 — it shares q56's unrolled
    // oracle verbatim
    m += "q61_bpe_merges_local" -> m("q56_bpe_merges")

    // q62: the q54 funnel machinery over PLANTED-boilerplate lined text,
    // extended with the q59 cleaning CTEs (signals move to the cleaned
    // text) and the q58 Gopher arithmetic under the configured
    // thresholds (wc ≥ 40, mean word len in [3,10], alpha ≥ 500000 ppm
    // via integer floor-division, symbol ≤ 100000 ppm, stop hits ≥ 1).
    // Dedup stages stay on the lined INPUT text, per CurateJob's
    // contract (identity/content-hash must match what `run` re-derives).
    m += "q62_curation_extended" ->
      """WITH RECURSIVE
        |d0 AS (SELECT doc_id,
        |    'header-' || (doc_id % 7) || chr(10) ||
        |    coalesce(text, '') || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'footer-common'
        |         ELSE 'tail-' || doc_id END AS text,
        |    lang
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(ln) + 1),
        |      i -> {'idx': i - 1, 'line': ln[i]})) AS p
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM d0)),
        |l2 AS (SELECT doc_id, p.idx AS idx, p.line AS line FROM l),
        |ban AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS c FROM l2 GROUP BY line)
        |  WHERE c >= 3),
        |fl AS (
        |  SELECT l2.doc_id, l2.idx, l2.line,
        |    (ban.line IS NOT NULL) AS banned
        |  FROM l2 LEFT JOIN ban ON ban.line = l2.line),
        |clean AS (
        |  SELECT doc_id,
        |    coalesce(array_to_string(
        |      list(line ORDER BY idx) FILTER (WHERE NOT banned), chr(10)),
        |      '') AS ctext
        |  FROM fl GROUP BY doc_id),
        |ek AS (SELECT doc_id, md5(text) AS k FROM d0),
        |ekeep AS (SELECT k, min(doc_id) AS keep FROM ek GROUP BY 1),
        |exact_losers AS (
        |  SELECT e.doc_id FROM ek e JOIN ekeep kk USING (k)
        |  WHERE e.doc_id <> kk.keep),
        |tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |sh0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_sort(list_distinct(list_transform(
        |                range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' ')))) END AS sh
        |  FROM tok),
        |nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
        |pref AS (
        |  SELECT doc_id, sz,
        |    unnest(sh[1 : sz - CAST(ceil(0.5 * sz) AS INT) + 1]) AS tok
        |  FROM nz),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref a JOIN pref b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id
        |   AND a.sz * 0.5 <= b.sz AND b.sz * 0.5 <= a.sz),
        |ver AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.sh, y.sh)) * 1.0 /
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS j
        |  FROM cand
        |  JOIN nz x ON x.doc_id = id_a
        |  JOIN nz y ON y.doc_id = id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS doc_id, min(c) AS component FROM reach
        |  GROUP BY v),
        |near_losers AS (
        |  SELECT doc_id FROM comp WHERE doc_id <> component),
        |padded AS (
        |  SELECT doc_id, ctext AS text,
        |    ' ' || replace(ctext, ' ', '  ') || ' ' AS pad
        |  FROM clean),
        |f AS (
        |  SELECT doc_id, text,
        |    CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' and ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' of ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' is ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' a ', ''))) / 3
        |       + (length(pad) - length(replace(pad, ' to ', ''))) / 4
        |      AS BIGINT) AS stop_hits,
        |    CASE WHEN length(text) = 0 THEN 0
        |         ELSE len(string_split(text, ' ')) END AS words,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS digits
        |  FROM padded),
        |q AS (
        |  SELECT doc_id,
        |    least(
        |      least(CASE WHEN words = 0 THEN 0.0
        |                 ELSE stop_hits * 1.0 / words END, 0.5) +
        |      (CASE WHEN length(text) >= 200 AND length(text) <= 5000
        |            THEN 0.3 ELSE 0.0 END) +
        |      (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
        |                       ELSE digits * 1.0 / length(text) END) < 0.3
        |            THEN 0.2 ELSE 0.0 END),
        |      1.0) AS quality
        |  FROM f),
        |ctok AS (
        |  SELECT doc_id, string_split(ctext, ' ') AS toks FROM clean),
        |bg AS (
        |  SELECT doc_id,
        |    greatest(len(toks) - 1, 0)::BIGINT AS n_bigrams,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS bigrams
        |  FROM ctok),
        |bu AS (SELECT doc_id, unnest(bigrams) AS g FROM bg),
        |bc AS (SELECT doc_id, g, count(*) AS cnt FROM bu GROUP BY 1, 2),
        |bagg AS (SELECT doc_id, max(cnt) AS top_count FROM bc GROUP BY 1),
        |rep AS (
        |  SELECT bg.doc_id,
        |    CASE WHEN bg.n_bigrams = 0 THEN FALSE
        |         ELSE coalesce(bagg.top_count, 0) * 1000000
        |                // bg.n_bigrams > 60000 END AS repetitive
        |  FROM bg LEFT JOIN bagg ON bg.doc_id = bagg.doc_id),
        |gw AS (
        |  SELECT doc_id, ctext AS text,
        |    ' ' || replace(ctext, ' ', '  ') || ' ' AS pad,
        |    list_filter(string_split(ctext, ' '), t -> t <> '') AS words
        |  FROM clean),
        |gf AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS wc,
        |    CAST(coalesce(list_sum(list_transform(words, t -> length(t))), 0)
        |      AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(words,
        |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS ellipses,
        |    CAST(length(text) - length(replace(text, '#', ''))
        |      AS BIGINT) AS hashes,
        |    CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' and ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' of ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' is ', ''))) / 4
        |      AS BIGINT) AS stops
        |  FROM gw),
        |g AS (
        |  SELECT doc_id,
        |    (wc < 40 OR wc > 100000
        |     OR (CASE WHEN wc = 0 THEN 0.0
        |              ELSE CAST(sum_len AS DOUBLE) / wc END) < 3.0
        |     OR (CASE WHEN wc = 0 THEN 0.0
        |              ELSE CAST(sum_len AS DOUBLE) / wc END) > 10.0
        |     OR (CASE WHEN wc = 0 THEN 0
        |              ELSE (alpha * 1000000) // wc END) < 500000
        |     OR (CASE WHEN wc = 0 THEN 0
        |              ELSE ((ellipses + hashes) * 1000000) // wc END)
        |        > 100000
        |     OR stops < 1) AS gfail
        |  FROM gf)
        |SELECT d.doc_id,
        |  CASE WHEN el.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nl.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN length(c.ctext) < 120 THEN 'too_short'
        |       WHEN d.lang NOT IN ('en', 'de', 'fr') THEN 'lang_filter'
        |       WHEN q.quality < 0.3 THEN 'low_quality'
        |       WHEN g.gfail THEN 'gopher_filter'
        |       WHEN rep.repetitive THEN 'repetitive'
        |       ELSE 'kept' END AS verdict
        |FROM d0 d
        |LEFT JOIN clean c ON d.doc_id = c.doc_id
        |LEFT JOIN exact_losers el ON d.doc_id = el.doc_id
        |LEFT JOIN near_losers nl ON d.doc_id = nl.doc_id
        |LEFT JOIN q ON d.doc_id = q.doc_id
        |LEFT JOIN g ON d.doc_id = g.doc_id
        |LEFT JOIN rep ON d.doc_id = rep.doc_id""".stripMargin

    // q63: the classifier's full train+score trace re-derived
    // relationally. Prior-centered ppm weights use // (floor division)
    // on non-negative operands, matching Spark's truncating DIV exactly;
    // the doc verdict is a division-free sign test. Sums are cast to
    // BIGINT (DuckDB widens to HUGEINT). Docs with no non-empty token
    // produce no score row in either engine (GROUP BY over the exploded
    // tokens).
    m += "q63_quality_classifier" ->
      """WITH d0 AS (
        |  SELECT doc_id, coalesce(text, '') AS text, (lang = 'en') AS y
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, y,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
        |      AS token
        |  FROM d0),
        |cnt AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
        |  FROM tk GROUP BY token),
        |prior AS (
        |  SELECT CAST(sum(pos) * 1000000
        |      // greatest(sum(pos) + sum(neg), 1) AS BIGINT) AS prior_ppm
        |  FROM cnt),
        |w AS (
        |  SELECT token,
        |    CAST((pos * 1000000 + prior_ppm) // (pos + neg + 1) - prior_ppm
        |      AS BIGINT) AS weight_ppm
        |  FROM cnt, prior WHERE pos + neg >= 2)
        |SELECT tk.doc_id,
        |  CAST(count(*) AS BIGINT) AS scored_tokens,
        |  CAST(sum(coalesce(w.weight_ppm, 0)) AS BIGINT) AS score_sum,
        |  CAST(sum(coalesce(w.weight_ppm, 0)) AS BIGINT) > 0
        |    AS predicted_positive
        |FROM tk LEFT JOIN w USING (token)
        |GROUP BY tk.doc_id""".stripMargin

    // q64/q65: the span-removal edit re-derived relationally on gram
    // STRINGS (Spark compares 64-bit fingerprints; value-identity holds
    // absent collisions — the q51 trade). Positioned grams → occurrence
    // count → covered indices → gaps-and-islands (row_number) →
    // ≥12-token removal intervals → token-level rebuild of AFFECTED docs
    // only; untouched docs pass through as identity. The two queries
    // differ ONLY in the marked-occurrence CTE: q64 marks every
    // occurrence of a duplicated gram, q65 (keepFirst) exempts the
    // globally first (min (doc_id, pos)) occurrence per gram.
    def spanRemovalSql(mCte: String): String =
      ("""WITH d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN coalesce(text, '') || ' exact substring duplication""" +
        """ test passage alpha beta gamma delta epsilon zeta eta theta""" +
        """ iota kappa lambda mu'
        |         ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(toks[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |        FROM w WHERE len(toks) >= 8)),
        |dup AS (
        |  SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY 1)
        |  WHERE c >= 2),
        |""" + mCte + """
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + u AS i
        |  FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS u FROM m)),
        |isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM cov),
        |rem AS (
        |  SELECT doc_id, min(i) AS s, max(i) AS e
        |  FROM isl GROUP BY doc_id, grp HAVING count(*) >= 12),
        |remtok AS (
        |  SELECT doc_id, s + u AS i
        |  FROM (SELECT doc_id, s, unnest(range(0, e - s + 1)) AS u
        |        FROM rem)),
        |aff AS (SELECT DISTINCT doc_id FROM rem),
        |tokr AS (
        |  SELECT doc_id, u - 1 AS i, toks[CAST(u AS INT)] AS t
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS u
        |        FROM w)
        |  WHERE doc_id IN (SELECT doc_id FROM aff)),
        |kept AS (
        |  SELECT tokr.doc_id, tokr.i, tokr.t FROM tokr
        |  WHERE NOT EXISTS (SELECT 1 FROM remtok r
        |    WHERE r.doc_id = tokr.doc_id AND r.i = tokr.i)),
        |reb AS (
        |  SELECT doc_id, array_to_string(list(t ORDER BY i), ' ')
        |      AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT w.doc_id,
        |  CASE WHEN aff.doc_id IS NULL THEN d0.text
        |       ELSE coalesce(reb.clean_text, '') END AS clean_text,
        |  CAST(CASE WHEN aff.doc_id IS NULL THEN 0
        |       ELSE len(w.toks) - coalesce(reb.n_kept, 0) END AS BIGINT)
        |    AS n_removed_tokens
        |FROM w
        |JOIN d0 USING (doc_id)
        |LEFT JOIN aff ON w.doc_id = aff.doc_id
        |LEFT JOIN reb ON w.doc_id = reb.doc_id""").stripMargin

    m += "q64_dup_span_removal" -> spanRemovalSql(
      "m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),")
    m += "q65_dup_span_keep_first" -> spanRemovalSql(
      """m AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT g.doc_id, g.pos, row_number() OVER (
        |        PARTITION BY gram ORDER BY g.doc_id, g.pos) AS rn
        |    FROM g JOIN dup USING (gram))
        |  WHERE rn > 1),""".stripMargin)

    // q66: the decoder's blank-raster pixel output is closed-form — a
    // uniform DC-40 JPEG block IDCTs to 40·16/8+128 = 208 everywhere and
    // a blank PNG scanline is 255 everywhere — so dims (the synthesize
    // formulas) and the exact integer luminance stats re-derive in SQL.
    m += "q66_pixel_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS kind,
        |  CAST(16 + (doc_id * 7) % 240 AS INT) AS width,
        |  CAST(16 + (doc_id * 13) % 240 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 208000 ELSE 255000 END
        |    AS BIGINT) AS mean_lum_x1000,
        |  CAST(0 AS BIGINT) AS dark_ppm
        |FROM documents""".stripMargin

    // q67: SemDeDup — the q55 lloydIter CTEs (nlist=8 seed) give the
    // bit-identical trained centroids; the final assignment, the
    // per-cluster centroid-proximity screen order and the pairwise
    // upper-triangle cosine test then re-derive in plain SQL. removed ⇔
    // an earlier member of the same cluster (kept or not — the paper
    // implementation's triu rule) is within 0.55 cosine.
    m += "q67_semdedup" ->
      s"""WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> floor(x * 8)) AS v
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(1, 65)) AS d),
        |c0 AS (SELECT vec_id + 1 AS cid, v AS cv FROM e WHERE vec_id < 8),
        |${lloydIter(1, "c0", "c1")},
        |${lloydIter(2, "c1", "c2")},
        |af AS (
        |  SELECT e.vec_id, c.cid, ${foldCosine("e.v", "c.cv", 64)} AS cs
        |  FROM e, c2 c),
        |asgf AS (
        |  SELECT vec_id, cid, cs FROM (
        |    SELECT vec_id, cid, cs,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY cs DESC, cid ASC) AS rn
        |    FROM af) WHERE rn = 1),
        |rankedc AS (
        |  SELECT vec_id, cid, cs,
        |    row_number() OVER (PARTITION BY cid
        |                       ORDER BY cs DESC, vec_id ASC) AS rn
        |  FROM asgf),
        |rem AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM rankedc a JOIN rankedc b ON a.cid = b.cid AND a.rn < b.rn
        |  JOIN e x ON x.vec_id = a.vec_id
        |  JOIN e y ON y.vec_id = b.vec_id
        |  WHERE ${foldCosine("x.v", "y.v", 64)} >= 0.55)
        |SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cluster,
        |  round(r.cs, 6) AS centroid_cosine,
        |  (rem.vec_id IS NOT NULL) AS removed
        |FROM rankedc r LEFT JOIN rem ON rem.vec_id = r.vec_id""".stripMargin

    // q68: quality-aware canonical selection — the q23 pair CTEs + the
    // q45 recursive components give the labels; the score is an exact
    // integer (distinct whitespace tokens, the q47-established
    // tokenization parity); the keeper is the same (score DESC, id ASC)
    // window argmax per component. Docs outside every pair label as
    // their own singleton component.
    m += "q68_canonical_by_quality" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS id, min(c) AS component FROM reach GROUP BY v),
        |sc AS (
        |  SELECT d.doc_id, CAST(coalesce(tc.n, 0) AS BIGINT) AS score
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, count(DISTINCT token) AS n FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents) WHERE token <> '' GROUP BY doc_id) tc
        |  ON tc.doc_id = d.doc_id),
        |lab AS (
        |  SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
        |    s.score
        |  FROM sc s LEFT JOIN comp c ON c.id = s.doc_id)
        |SELECT doc_id, component, score AS distinct_tokens,
        |  row_number() OVER (PARTITION BY component
        |                     ORDER BY score DESC, doc_id ASC) = 1 AS keeper
        |FROM lab""".stripMargin

    // q69: DSIR — grams (unigrams + bigrams over non-empty space-split
    // words), kernel fnv1a+mix per gram in HUGEINT mod-2^64, bucket =
    // h % 4096 (== the engine's signed &4095 on the low 12 bits),
    // add-one log-likelihood-ratio weights via the SAME 20-step Q20
    // digit-recurrence ilog2 the kernel computes (ilog2Q20Sql) — the
    // whole pipeline is integer-exact cross-engine; sums cast to BIGINT.
    locally {
      val fnvOffset = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
      def lg(x: String) = ilog2Q20Sql(x)
      m += "q69_dsir_scores" ->
        s"""WITH wd AS (SELECT doc_id, lang = 'en' AS y,
          |    list_filter(string_split(text, ' '), w -> w <> '') AS words
          |  FROM documents),
          |gr AS (
          |  SELECT doc_id, y, unnest(words) AS gram FROM wd
          |  UNION ALL
          |  SELECT doc_id, y, unnest(list_transform(
          |      range(1, greatest(len(words), 1)),
          |      i -> words[i] || ' ' || words[i+1])) AS gram FROM wd),
          |g0 AS (SELECT doc_id, y,
          |    list_reduce(list_prepend($fnvOffset::HUGEINT,
          |      ${codepoints("gram")}),
          |      (h, c) -> (xor(h, c) * 1099511628211) % $U64) AS h
          |  FROM gr),
          |${mixCtes("g", "g0", "doc_id, y")},
          |gb AS (SELECT doc_id, y, CAST(h % 4096 AS BIGINT) AS bucket
          |  FROM g5),
          |bc AS (SELECT r.bucket,
          |    CAST(coalesce(sum(CASE WHEN y THEN 1 ELSE 0 END), 0)
          |      AS BIGINT) AS tc,
          |    CAST(coalesce(sum(CASE WHEN NOT y THEN 1 ELSE 0 END), 0)
          |      AS BIGINT) AS rc
          |  FROM range(4096) r(bucket) LEFT JOIN gb ON gb.bucket = r.bucket
          |  GROUP BY 1),
          |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS t,
          |    CAST(sum(rc) AS BIGINT) AS r FROM bc),
          |wt AS (SELECT bucket,
          |    CAST(${lg("tc + 1")} - ${lg("rc + 1")}
          |       - ${lg("t + 4096")} + ${lg("r + 4096")} AS BIGINT)
          |      AS weight_q20
          |  FROM bc, tot)
          |SELECT gb.doc_id, count(*)::BIGINT AS n_grams,
          |  CAST(sum(weight_q20) AS BIGINT) AS score_q20
          |FROM gb JOIN wt USING (bucket) GROUP BY 1""".stripMargin
    }

    // q70: bigram-LM perplexity — per-WORD fnv+mix bucket (carrying the
    // word's position), adjacent-position self-join builds the (ctx,
    // nxt) pairs, add-one-smoothed Q20 cross-entropy via the same
    // unrolled ilog2 recurrence; costs computed once per DISTINCT pair
    // then joined back. Spark DIV and DuckDB // agree on the
    // non-negative averages. The full query doubles as q71's `sc` CTE.
    val bigramLmSql = locally {
      val fnvOffset = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
      def lg(x: String) = ilog2Q20Sql(x)
      s"""WITH wd AS (SELECT doc_id, lang = 'en' AS y,
          |    list_filter(string_split(text, ' '), w -> w <> '') AS words
          |  FROM documents),
          |px AS (SELECT doc_id, y, words,
          |    unnest(range(1, greatest(len(words) + 1, 1))) AS i FROM wd),
          |pw AS (SELECT doc_id, y, i, words[i] AS w FROM px),
          |p0 AS (SELECT doc_id, y, i,
          |    list_reduce(list_prepend($fnvOffset::HUGEINT,
          |      ${codepoints("w")}),
          |      (h, c) -> (xor(h, c) * 1099511628211) % $U64) AS h
          |  FROM pw),
          |${mixCtes("p", "p0", "doc_id, y, i")},
          |bk AS (SELECT doc_id, y, i, CAST(h % 1024 AS BIGINT) AS b
          |  FROM p5),
          |pr AS (SELECT a.doc_id, a.y, a.b AS ctx, c.b AS nxt
          |  FROM bk a JOIN bk c ON c.doc_id = a.doc_id AND c.i = a.i + 1),
          |pc AS (SELECT ctx, nxt, count(*)::BIGINT AS pair_n
          |  FROM pr WHERE y GROUP BY 1, 2),
          |cc AS (SELECT ctx, CAST(sum(pair_n) AS BIGINT) AS ctx_n
          |  FROM pc GROUP BY 1),
          |dp AS (SELECT DISTINCT ctx, nxt FROM pr),
          |ct AS (SELECT dp.ctx, dp.nxt,
          |    CAST(${lg("coalesce(cc.ctx_n, 0) + 1024")}
          |       - ${lg("coalesce(pc.pair_n, 0) + 1")} AS BIGINT)
          |      AS cost_q20
          |  FROM dp LEFT JOIN cc ON cc.ctx = dp.ctx
          |    LEFT JOIN pc ON pc.ctx = dp.ctx AND pc.nxt = dp.nxt)
          |SELECT pr.doc_id, count(*)::BIGINT AS n_bigrams,
          |  CAST(sum(ct.cost_q20) AS BIGINT) AS cost_sum_q20,
          |  (CAST(sum(ct.cost_q20) AS BIGINT) // count(*))::BIGINT
          |    AS avg_cost_q20
          |FROM pr JOIN ct ON ct.ctx = pr.ctx AND ct.nxt = pr.nxt
          |GROUP BY 1""".stripMargin
    }
    m += "q70_bigram_lm_perplexity" -> bigramLmSql

    // q71: CCNet head/middle/tail — exact CDF over the value histogram
    // of q70's avg cost (the oracle's single cumulative window equals
    // the Spark side's two-level coarse/within decomposition by
    // construction), then the all-integer tercile label
    // (cum·3 − 1) // total. Ties share a cum, hence a bucket.
    m += "q71_perplexity_partition" ->
      s"""WITH sc AS ($bigramLmSql),
        |hist AS (SELECT avg_cost_q20 AS v, count(*)::BIGINT AS n
        |  FROM sc GROUP BY 1),
        |cum AS (SELECT v, CAST(sum(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cdf_count FROM hist),
        |tot AS (SELECT count(*)::BIGINT AS t FROM sc)
        |SELECT sc.doc_id, sc.n_bigrams, sc.cost_sum_q20, sc.avg_cost_q20,
        |  cum.cdf_count,
        |  CASE ((cum.cdf_count * 3) - 1) // tot.t
        |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS part
        |FROM sc JOIN cum ON cum.v = sc.avg_cost_q20 CROSS JOIN tot""".stripMargin

    // q72: Bloom filter — every probe POSITION re-derived: per-doc
    // kernel fnv1a (per-char fold + mix) then mix(h + i) per probe, all
    // in HUGEINT mod-2^64; 32-bit filter words rebuilt with bit_or; the
    // bloom verdict AND the exact-membership column both from first
    // principles. ASCII-corpus caveat as q24/q33 (UTF-16 chars =
    // codepoints here).
    locally {
      val fnvOffset = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
      m += "q72_bloom_dedup" ->
        s"""WITH f0 AS (SELECT doc_id,
          |    list_reduce(list_prepend($fnvOffset::HUGEINT,
          |      ${codepoints("text")}),
          |      (h, c) -> (xor(h, c) * 1099511628211) % $U64) AS h
          |  FROM documents),
          |${mixCtes("f", "f0", "doc_id")},
          |pr AS (SELECT doc_id, i, (h + i) % $U64 AS h
          |  FROM f5, range(4) r(i)),
          |${mixCtes("m", "pr", "doc_id, i")},
          |w AS (SELECT doc_id,
          |    CAST((h % 1024) // 32 AS BIGINT) AS word,
          |    1::BIGINT << CAST((h % 1024) % 32 AS INT) AS mask
          |  FROM m5),
          |filt AS (SELECT word, bit_or(mask) AS bits32 FROM w
          |  WHERE doc_id % 2 = 0 GROUP BY 1),
          |scr AS (SELECT w.doc_id,
          |    min(CASE WHEN (coalesce(f.bits32, 0) & w.mask) = w.mask
          |      THEN 1 ELSE 0 END) AS ok
          |  FROM w LEFT JOIN filt f USING (word) GROUP BY 1),
          |ex AS (SELECT d.doc_id, EXISTS (SELECT 1 FROM documents b
          |    WHERE b.doc_id % 2 = 0 AND b.text = d.text) AS exact_dup
          |  FROM documents d)
          |SELECT scr.doc_id, scr.ok = 1 AS bloom_hit, ex.exact_dup,
          |  (scr.ok = 1 AND NOT ex.exact_dup) AS false_positive
          |FROM scr JOIN ex USING (doc_id)""".stripMargin
    }

    // q73: BM25 — idf from the 20-step HUGEINT ilog2 recurrence, tf via
    // the padded-replace whole-word count, avgdl / length-norm / tf-
    // saturation all as the same base-1024 split integer divisions the
    // Spark side computes; scores compared at full Q40 precision.
    locally {
      def lg(x: String) = ilog2Q20Sql(x)
      m += "q73_bm25_topk" ->
        s"""WITH base AS (SELECT doc_id,
          |    len(list_filter(string_split(coalesce(text, ''), ' '),
          |        w -> w <> ''))::HUGEINT AS dl,
          |    ' ' || replace(coalesce(text, ''), ' ', '  ') || ' ' AS p
          |  FROM documents),
          |qt AS (SELECT unnest(['dup', 'spark', 'vector', 'the']) AS term),
          |tf AS (SELECT doc_id, dl, term,
          |    ((length(p) - length(replace(p, ' ' || term || ' ', '')))
          |      // (length(term) + 2))::HUGEINT AS tf
          |  FROM base, qt
          |  WHERE length(p) - length(replace(p, ' ' || term || ' ', '')) > 0),
          |st0 AS (SELECT count(*)::HUGEINT AS n,
          |    greatest(coalesce(sum(dl), 0), 1)::HUGEINT AS t FROM base),
          |st AS (SELECT n,
          |    (t * 1024 // n) * 1024 + ((t * 1024 % n) * 1024) // n
          |      AS avgdl_q20 FROM st0),
          |dfc AS (SELECT term, count(*)::HUGEINT AS df FROM tf GROUP BY 1),
          |idf AS (SELECT term,
          |    ${lg("2 * n + 2")} - ${lg("2 * df + 1")} AS idf_q20
          |  FROM dfc, st),
          |r AS (SELECT doc_id, term, tf,
          |    (dl * 1048576 * 1024 // avgdl_q20) * 1024 +
          |      ((dl * 1048576 * 1024 % avgdl_q20) * 1024) // avgdl_q20
          |      AS r_q20
          |  FROM tf, st),
          |co AS (SELECT doc_id, idf.idf_q20 *
          |    ((x * 1024 // den) * 1024 + ((x * 1024 % den) * 1024) // den)
          |      AS c
          |  FROM (SELECT doc_id, term, 44 * tf * 1048576 AS x,
          |      20 * tf * 1048576 + 6 * 1048576 + 18 * r_q20 AS den
          |    FROM r) rx JOIN idf USING (term))
          |SELECT doc_id, count(*)::BIGINT AS matched_terms,
          |  CAST(sum(c) AS BIGINT) AS score_q40
          |FROM co GROUP BY 1 ORDER BY score_q40 DESC, doc_id LIMIT 30"""
          .stripMargin
    }

    // q74: mixture sampling — the allotted/rate split divisions and the
    // splitmix64 keep coin (low 20 bits of mix(doc_id)) re-derived
    // exactly; HUGEINT keeps every intermediate precise.
    m += "q74_mixture_sample" ->
      s"""WITH tk AS (SELECT doc_id, source,
        |    CAST(CASE WHEN length(coalesce(text, '')) = 0 THEN 0
        |      ELSE len(string_split(coalesce(text, ''), ' ')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source,
        |    greatest(sum(n_tokens), 1)::HUGEINT AS src_tokens
        |  FROM tk GROUP BY 1),
        |rt AS (SELECT source, src_tokens,
        |    (CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 30000
        |      WHEN 'src2' THEN 10000 ELSE 0 END)::HUGEINT AS share_ppm
        |  FROM tot),
        |rr AS (SELECT source, share_ppm, src_tokens,
        |    (5000 // 1000000) * share_ppm
        |      + ((5000 % 1000000) * share_ppm) // 1000000 AS allotted
        |  FROM rt),
        |rq AS (SELECT source, share_ppm,
        |    least(1048576, (allotted * 1024 // src_tokens) * 1024
        |      + ((allotted * 1024 % src_tokens) * 1024) // src_tokens)
        |      AS rate_q20
        |  FROM rr),
        |h0 AS (SELECT doc_id, source, n_tokens, doc_id::HUGEINT AS h
        |  FROM tk),
        |${mixCtes("s", "h0", "doc_id, source, n_tokens")}
        |SELECT s5.doc_id, s5.source, s5.n_tokens,
        |  CAST(rq.share_ppm AS BIGINT) AS share_ppm,
        |  CAST(rq.rate_q20 AS BIGINT) AS rate_q20,
        |  (s5.h % 1048576) < rq.rate_q20 AS kept
        |FROM s5 JOIN rq USING (source)""".stripMargin

    // q75: source reputation — padded-replace stop hits, split-division
    // ppm rates per source and corpus-wide, cross-multiplied verdict.
    locally {
      val stopExpr75 = Seq("the", "and", "of", "is").map(occSql)
        .mkString(" + ")
      m += "q75_source_reputation" ->
        s"""WITH padded AS (SELECT doc_id, source,
          |    coalesce(text, '') AS text,
          |    ' ' || replace(coalesce(text, ''), ' ', '  ') || ' ' AS pad
          |  FROM documents),
          |f AS (SELECT doc_id, source,
          |    CAST($stopExpr75 AS BIGINT) AS hits,
          |    len(list_filter(string_split(text, ' '),
          |        w -> w <> ''))::BIGINT AS words
          |  FROM padded),
          |s AS (SELECT source, sum(hits)::HUGEINT AS h,
          |    greatest(sum(words), 1)::HUGEINT AS w FROM f GROUP BY 1),
          |r AS (SELECT source,
          |    (h * 1000 // w) * 1000 + ((h * 1000 % w) * 1000) // w
          |      AS src_ppm FROM s),
          |g0 AS (SELECT sum(h)::HUGEINT AS h,
          |    greatest(sum(w), 1)::HUGEINT AS w FROM s),
          |g AS (SELECT
          |    (h * 1000 // w) * 1000 + ((h * 1000 % w) * 1000) // w
          |      AS global_ppm FROM g0)
          |SELECT f.doc_id, f.source, CAST(r.src_ppm AS BIGINT) AS src_ppm,
          |  CAST(g.global_ppm AS BIGINT) AS global_ppm,
          |  (r.src_ppm * 100 < g.global_ppm * 85) AS low_reputation
          |FROM f JOIN r USING (source) CROSS JOIN g""".stripMargin
    }

    // q76: normalized exact dedup — the SAME planted variants and the
    // SAME one-translate normalization codepoint table, group verdicts
    // re-derived relationally; md5 hex is engine-identical.
    locally {
      // interpolate TextOps' OWN tables — parity by construction
      val normFrom = graft.ops.TextOps.NormFrom
      val normTo = graft.ops.TextOps.NormTo
      m += "q76_normalized_dedup" ->
        s"""WITH v AS (
          |  SELECT doc_id, coalesce(text, '') AS text FROM documents
          |  UNION ALL SELECT doc_id + 1000000,
          |    '  ' || replace(replace(upper(coalesce(text, '')),
          |      ' ', '  '), 'E', 'É') || ' ' FROM documents
          |  UNION ALL SELECT doc_id + 2000000,
          |    coalesce(text, '') || ' page 14 rev 7' FROM documents
          |  UNION ALL SELECT doc_id + 3000000,
          |    coalesce(text, '') || ' page 98 rev 3' FROM documents),
          |n AS (SELECT doc_id, md5(trim(regexp_replace(translate(text,
          |    '$normFrom', '$normTo'),
          |    '[ \\t\\n\\r]+', ' ', 'g'))) AS norm_md5 FROM v),
          |g AS (SELECT norm_md5, min(doc_id) AS representative,
          |    count(*) AS group_size FROM n GROUP BY 1)
          |SELECT n.doc_id, n.norm_md5, g.representative, g.group_size,
          |  n.doc_id = g.representative AS is_canonical
          |FROM n JOIN g USING (norm_md5)""".stripMargin
    }

    // q77: sequence packing — running prefix sum per source tape +
    // integer window arithmetic; exact on both engines.
    m += "q77_sequence_packing" ->
      s"""WITH tk AS (SELECT doc_id, source AS shard,
        |    CAST(CASE WHEN length(coalesce(text, '')) = 0 THEN 0
        |      ELSE len(string_split(coalesce(text, ''), ' ')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_token
        |  FROM tk)
        |SELECT doc_id, shard, n_tokens, start_token,
        |  start_token // 128 AS first_window,
        |  CASE WHEN n_tokens > 0 THEN (start_token + n_tokens - 1) // 128
        |    ELSE start_token // 128 END AS last_window,
        |  CASE WHEN n_tokens > 0 THEN (start_token + n_tokens - 1) // 128
        |      - start_token // 128 + 1
        |    ELSE 0 END AS n_windows
        |FROM o""".stripMargin

    // q78/q79: winnowing — gram-by-gram fnv+mix HUGEINT re-derivation,
    // then the paper's rightmost-min-per-window selection via a min_by
    // whose composite key packs (hash, rightmost tie-break) into one
    // HUGEINT: h·2^20 + (2^20−1−pos) — exact while pos < 2^20 (per-doc
    // gram positions; documents are orders of magnitude shorter).
    locally {
      val fnvOffset = java.lang.Long.toUnsignedString(0xcbf29ce484222325L)
      val winnowCtes =
        s"""wd AS (SELECT doc_id,
          |    list_filter(string_split(coalesce(text, ''), ' '),
          |      x -> x <> '') AS words
          |  FROM documents),
          |gr0 AS (SELECT doc_id,
          |    unnest(range(0, greatest(len(words) - 3, 0))) AS pos,
          |    unnest(list_transform(range(0, greatest(len(words) - 3, 0)),
          |      i -> array_to_string(list_slice(words, i + 1, i + 4), ' ')))
          |      AS gram
          |  FROM wd),
          |g0 AS (SELECT doc_id, pos,
          |    list_reduce(list_prepend($fnvOffset::HUGEINT,
          |      ${codepoints("gram")}),
          |      (h, c) -> (xor(h, c) * 1099511628211) % $U64) AS h
          |  FROM gr0),
          |${mixCtes("g", "g0", "doc_id, pos")},
          |mw AS (SELECT doc_id, count(*)::BIGINT AS m FROM g5 GROUP BY 1),
          |wj AS (SELECT doc_id,
          |    unnest(range(0, greatest(m - 4, 0) + 1)) AS j FROM mw),
          |sel AS (SELECT w.doc_id, w.j,
          |    min_by(g.pos, g.h * 1048576 + (1048575 - g.pos)) AS pos
          |  FROM wj w JOIN g5 g ON g.doc_id = w.doc_id
          |    AND g.pos BETWEEN w.j AND w.j + 3
          |  GROUP BY 1, 2),
          |fp AS (SELECT DISTINCT s.doc_id, s.pos, g.h
          |  FROM sel s JOIN g5 g ON g.doc_id = s.doc_id
          |    AND g.pos = s.pos)""".stripMargin
      m += "q78_winnow_fingerprints" ->
        s"""WITH $winnowCtes
          |SELECT doc_id, pos, ${u64ToSigned("h")} AS fingerprint
          |FROM fp""".stripMargin
      m += "q79_winnow_overlap" ->
        s"""WITH $winnowCtes,
          |d AS (SELECT DISTINCT doc_id, h FROM fp),
          |sh AS (SELECT h FROM d GROUP BY h
          |  HAVING count(*) BETWEEN 2 AND 16)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  count(*)::BIGINT AS shared_fingerprints
          |FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
          |JOIN sh ON sh.h = a.h
          |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    }

    // q80: leakage-proof split — q23's all-pairs Jaccard pair graph +
    // q45's recursive components, then ONE splitmix64 coin per component
    // (q44's pmod translation of the signed Spark value).
    m += "q80_leakage_split" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS id, min(c) AS component FROM reach GROUP BY v),
        |lab AS (SELECT d.doc_id,
        |    coalesce(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |h0 AS (SELECT doc_id, component, component::HUGEINT AS h FROM lab),
        |${mixCtes("s", "h0", "doc_id, component")}
        |SELECT doc_id, component,
        |  CASE WHEN ((${u64ToSigned("h")} % 1000) + 1000) % 1000 < 200
        |    THEN 'eval' ELSE 'train' END AS split
        |FROM s5""".stripMargin

    // q81: the q54 funnel machinery over the q64 passage-planted corpus,
    // with the q64 span-removal CTEs supplying the cleaned text that the
    // too_short/quality/repetition signals consume (the q62 composition
    // pattern — dedup stages stay on the planted INPUT text, per
    // CurateJob's contract). The q64 and q54 CTE families are disjoint by
    // name, so they compose verbatim.
    m += "q81_curation_span_removal" ->
      ("""WITH RECURSIVE
        |d0 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN coalesce(text, '') || ' exact substring duplication""" +
        """ test passage alpha beta gamma delta epsilon zeta eta theta""" +
        """ iota kappa lambda mu'
        |         ELSE coalesce(text, '') END AS text,
        |    lang
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    array_to_string(toks[i : i + 7], ' ') AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |        FROM w WHERE len(toks) >= 8)),
        |dup AS (
        |  SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY 1)
        |  WHERE c >= 2),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + u AS i
        |  FROM (SELECT doc_id, pos, unnest(range(0, 8)) AS u FROM m)),
        |isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM cov),
        |rem AS (
        |  SELECT doc_id, min(i) AS s, max(i) AS e
        |  FROM isl GROUP BY doc_id, grp HAVING count(*) >= 12),
        |remtok AS (
        |  SELECT doc_id, s + u AS i
        |  FROM (SELECT doc_id, s, unnest(range(0, e - s + 1)) AS u
        |        FROM rem)),
        |aff AS (SELECT DISTINCT doc_id FROM rem),
        |tokr AS (
        |  SELECT doc_id, u - 1 AS i, toks[CAST(u AS INT)] AS t
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS u
        |        FROM w)
        |  WHERE doc_id IN (SELECT doc_id FROM aff)),
        |kept AS (
        |  SELECT tokr.doc_id, tokr.i, tokr.t FROM tokr
        |  WHERE NOT EXISTS (SELECT 1 FROM remtok r
        |    WHERE r.doc_id = tokr.doc_id AND r.i = tokr.i)),
        |reb AS (
        |  SELECT doc_id, array_to_string(list(t ORDER BY i), ' ')
        |      AS clean_text,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |clean AS (
        |  SELECT w.doc_id,
        |    CASE WHEN aff.doc_id IS NULL THEN d0.text
        |         ELSE coalesce(reb.clean_text, '') END AS ctext
        |  FROM w
        |  JOIN d0 USING (doc_id)
        |  LEFT JOIN aff ON w.doc_id = aff.doc_id
        |  LEFT JOIN reb ON w.doc_id = reb.doc_id),
        |ek AS (SELECT doc_id, md5(text) AS k FROM d0),
        |ekeep AS (SELECT k, min(doc_id) AS keep FROM ek GROUP BY 1),
        |exact_losers AS (
        |  SELECT e.doc_id FROM ek e JOIN ekeep kk USING (k)
        |  WHERE e.doc_id <> kk.keep),
        |tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |sh0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_sort(list_distinct(list_transform(
        |                range(1, len(toks) - 1),
        |                i -> array_to_string(toks[i:i+2], ' ')))) END AS sh
        |  FROM tok),
        |nz AS (SELECT doc_id, sh, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
        |pref AS (
        |  SELECT doc_id, sz,
        |    unnest(sh[1 : sz - CAST(ceil(0.5 * sz) AS INT) + 1]) AS tok
        |  FROM nz),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pref a JOIN pref b
        |    ON a.tok = b.tok AND a.doc_id < b.doc_id
        |   AND a.sz * 0.5 <= b.sz AND b.sz * 0.5 <= a.sz),
        |ver AS (
        |  SELECT id_a, id_b,
        |    len(list_intersect(x.sh, y.sh)) * 1.0 /
        |    len(list_distinct(list_concat(x.sh, y.sh))) AS j
        |  FROM cand
        |  JOIN nz x ON x.doc_id = id_a
        |  JOIN nz y ON y.doc_id = id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
        |  UNION ALL
        |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
        |verts AS (SELECT DISTINCT src AS v FROM edges),
        |reach(v, c) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT e.src, r.c FROM edges e JOIN reach r ON r.v = e.dst),
        |comp AS (SELECT v AS doc_id, min(c) AS component FROM reach
        |  GROUP BY v),
        |near_losers AS (
        |  SELECT doc_id FROM comp WHERE doc_id <> component),
        |padded AS (
        |  SELECT doc_id, ctext AS text,
        |    ' ' || replace(ctext, ' ', '  ') || ' ' AS pad
        |  FROM clean),
        |f AS (
        |  SELECT doc_id, text,
        |    CAST((length(pad) - length(replace(pad, ' the ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' and ', ''))) / 5
        |       + (length(pad) - length(replace(pad, ' of ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' is ', ''))) / 4
        |       + (length(pad) - length(replace(pad, ' a ', ''))) / 3
        |       + (length(pad) - length(replace(pad, ' to ', ''))) / 4
        |      AS BIGINT) AS stop_hits,
        |    CASE WHEN length(text) = 0 THEN 0
        |         ELSE len(string_split(text, ' ')) END AS words,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS digits
        |  FROM padded),
        |q AS (
        |  SELECT doc_id,
        |    least(
        |      least(CASE WHEN words = 0 THEN 0.0
        |                 ELSE stop_hits * 1.0 / words END, 0.5) +
        |      (CASE WHEN length(text) >= 200 AND length(text) <= 5000
        |            THEN 0.3 ELSE 0.0 END) +
        |      (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
        |                       ELSE digits * 1.0 / length(text) END) < 0.3
        |            THEN 0.2 ELSE 0.0 END),
        |      1.0) AS quality
        |  FROM f),
        |ctok AS (
        |  SELECT doc_id, string_split(ctext, ' ') AS toks FROM clean),
        |bg AS (
        |  SELECT doc_id,
        |    greatest(len(toks) - 1, 0)::BIGINT AS n_bigrams,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS bigrams
        |  FROM ctok),
        |bu AS (SELECT doc_id, unnest(bigrams) AS gb FROM bg),
        |bc AS (SELECT doc_id, gb, count(*) AS cnt FROM bu GROUP BY 1, 2),
        |bagg AS (SELECT doc_id, max(cnt) AS top_count FROM bc GROUP BY 1),
        |rep AS (
        |  SELECT bg.doc_id,
        |    CASE WHEN bg.n_bigrams = 0 THEN FALSE
        |         ELSE coalesce(bagg.top_count, 0) * 1000000
        |                // bg.n_bigrams > 60000 END AS repetitive
        |  FROM bg LEFT JOIN bagg ON bg.doc_id = bagg.doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN el.doc_id IS NOT NULL THEN 'exact_dup'
        |       WHEN nl.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN length(c.ctext) < 120 THEN 'too_short'
        |       WHEN d.lang NOT IN ('en', 'de', 'fr') THEN 'lang_filter'
        |       WHEN qq.quality < 0.3 THEN 'low_quality'
        |       WHEN rep.repetitive THEN 'repetitive'
        |       ELSE 'kept' END AS verdict
        |FROM d0 d
        |LEFT JOIN clean c ON d.doc_id = c.doc_id
        |LEFT JOIN exact_losers el ON d.doc_id = el.doc_id
        |LEFT JOIN near_losers nl ON d.doc_id = nl.doc_id
        |LEFT JOIN q qq ON d.doc_id = qq.doc_id
        |LEFT JOIN rep ON d.doc_id = rep.doc_id""").stripMargin

    // q82: the JBIG2 codec's dashed-ink raster is closed-form — dims are
    // multiples of (8, 10), so dark = exactly 1/8 of pixels and the
    // integer stats re-derive as constants; kind/width/height restate the
    // synthesize formulas
    m += "q82_jbig2_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mmr'
        |       ELSE 'mq_t' || CAST((doc_id // 2) % 4 AS VARCHAR)
        |  END AS kind,
        |  CAST(8 * (2 + (doc_id * 7) % 30) AS INT) AS width,
        |  CAST(10 * (2 + (doc_id * 13) % 24) AS INT) AS height,
        |  CAST(223125 AS BIGINT) AS mean_lum_x1000,
        |  CAST(125000 AS BIGINT) AS dark_ppm
        |FROM documents""".stripMargin

    // q83: the FULL LSH derivation — 3-gram shingles, Spark-xxhash64
    // fingerprints (globally-distinct strings hashed once, then joined
    // back: min is duplicate-insensitive), 32 signature lanes via chained
    // hashLong (SIGNED min, Spark `least` semantics), 4-element band
    // folds seeded 42, bucket-min star edges, recursive-CTE components,
    // singletons = own id. Every hash CTE chain is validated
    // value-by-value against org.apache.spark.sql.functions.xxhash64.
    m += "q83_star_components" ->
      s"""WITH RECURSIVE
        |${lshBandCtes(32, 8)},
        |$starComponentCtes
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM d0 d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

    // q84: the derived band table again, then the operator's own cap rule
    // (prune buckets with n > 2 BEFORE pairing), candidate pairs from the
    // survivors, and the exact Jaccard verify on the derived FINGERPRINT
    // sets (identical operands to Spark's fp-array jaccard, so the double
    // division is bit-identical)
    m += "q84_capped_neardups" ->
      s"""WITH
        |${lshBandCtes(32, 8)},
        |cnt AS (SELECT band, h AS bucket, count(*) AS n
        |  FROM bkt GROUP BY band, h),
        |kept AS (SELECT b.doc_id, b.band, b.h FROM bkt b
        |  JOIN cnt c ON b.band = c.band AND b.h = c.bucket
        |  WHERE c.n <= 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
        |  FROM kept a JOIN kept b2
        |    ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id),
        |fs AS (SELECT shu.doc_id, list_distinct(list(fp.h)) AS f
        |  FROM shu JOIN fp USING (s) GROUP BY shu.doc_id),
        |ver AS (SELECT id_a, id_b,
        |    len(list_intersect(x.f, y.f)) * 1.0 /
        |    len(list_distinct(list_concat(x.f, y.f))) AS jaccard
        |  FROM cand
        |  JOIN fs x ON x.doc_id = id_a
        |  JOIN fs y ON y.doc_id = id_b)
        |SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.5""".stripMargin

    // q85: q83's derived star components + q80's splitmix64 coin — one
    // replayable 'eval'/'train' draw per candidate component
    m += "q85_star_leakage_split" ->
      s"""WITH RECURSIVE
        |${lshBandCtes(32, 8)},
        |$starComponentCtes,
        |lab AS (SELECT d.doc_id,
        |    coalesce(c.component, d.doc_id) AS component
        |  FROM d0 d LEFT JOIN comp c ON c.id = d.doc_id),
        |h0 AS (SELECT doc_id, component, component::HUGEINT AS h FROM lab),
        |${mixCtes("sm", "h0", "doc_id, component")}
        |SELECT doc_id, component,
        |  CASE WHEN ((${u64ToSigned("h")} % 1000) + 1000) % 1000 < 200
        |    THEN 'eval' ELSE 'train' END AS split
        |FROM sm5""".stripMargin

    m.toMap
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.kernel.{Extractor, ProbeConfig}
import graft.model.Page
import graft.ops.Dedup
import graft.pipeline.{CurateJob, ExtractJob, JobConfig, SynthSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digests of result tables. */
object Digest {
  /** Row count plus the sum of per-row xxhash64 values, and the schema.
    * Map columns are hashed through their JSON form (xxhash64 rejects
    * maps). */
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}:${schema.hashCode}"
  }

  /** Digest of (url, md5(text), status, pages) rows. */
  def docs(df: DataFrame): String =
    of(df.select(col("url"), md5(col("extracted_text")).as("text_md5"),
      col("status"), col("pages")))
}

/** `ExtractJob.run` into parquet plus lineage over the synthetic crawl
  * mix (60% html articles, 10% link farms, 20% PDF-like, 10% junk). */
final class ExtractWorkload(spark: SparkSession, o: Opts) extends Workload {
  import spark.implicits._
  private val n = math.max(100L, (1000 * o.scale).toLong)
  private val inputPath = s"${o.work}/input"
  private var input: DataFrame = _
  private var inputRows = 0L

  def setupRepeats: Int = 2
  def generate(): Unit = SynthSource.writeCorpus(spark, n, o.seed, inputPath)
  def prepare(): Unit = {
    input = spark.read.parquet(inputPath)
    inputRows = input.filter($"url".isNotNull).count()
  }

  def inputDigest(): String = Digest.of(input)

  def call(out: String): Long =
    ExtractJob.run(spark, input, out, JobConfig(runId = "perfbench")).docs

  def checks(out: String): Seq[(String, Boolean)] = {
    val docs = ExtractJob.readDocs(spark, out)
    val lineage = ExtractJob.readLineage(spark, out)
    val d = docs.agg(count(lit(1)), sum($"total_pages"), sum($"ocr_page_count"),
      sum(when(length($"extracted_text") === 0, 1L).otherwise(0L)),
      sum($"bytes_in"), sum($"bytes_out")).head()
    val l = lineage.agg(sum($"docs"), sum($"pages"), sum($"ocr_needed"),
      sum($"empty_extractions"), sum($"bytes_in"), sum($"bytes_out")).head()
    val sums = (0 until 6).forall(i => d.getAs[Number](i).longValue == l.getAs[Number](i).longValue)
    // the kernel called directly on the same payloads, outside the pipeline
    val direct = input.filter($"url".isNotNull).as[Page].mapPartitions { it =>
      val ex = new Extractor(ProbeConfig())
      it.map { p =>
        val r = ex.extract(p.html)
        (p.url, r.extractedText, r.status, r.pages.toArray)
      }
    }.toDF("url", "extracted_text", "status", "pages")
    Seq(
      "extract: docs committed == non-null-url inputs" -> (d.getLong(0) == inputRows),
      "extract: lineage sums == docs table sums" -> sums,
      "extract: digest == direct Extractor.extract digest" ->
        (Digest.docs(docs) == Digest.docs(direct)))
  }

  def countVariant(): Unit =
    ExtractJob.transform(spark, input, JobConfig()).count()

  def noopVariant(): Unit =
    ExtractJob.transform(spark, input, JobConfig()).write.format("noop")
      .mode("overwrite").save()

  /** Phase split of the last traced call by `ExtractJob.run`'s shape: the
    * first stage that writes shuffle bytes runs the kernel, the stage after
    * it reads that shuffle and runs the sink, and later stages are the
    * lineage pass. The query layer, which no workload times end to end, is
    * timed and checked here too. */
  override def details(spans: Spans, stages: Seq[StageRow],
      collector: StageCollector): Details = {
    val bytesIn = input.agg(sum(length($"html"))).head().getLong(0)
    val k = stages.indexWhere(_.shuffleWriteBytes > 0)
    def wall(ss: Seq[StageRow]): Double = ss.map(_.wallMs).sum / 1000.0
    val phases =
      if (k < 0 || k + 1 >= stages.size) Map.empty[String, Double]
      else Map(
        "extract.kernel_stage_s" -> wall(Seq(stages(k))),
        "extract.kernel_stage_skew" -> stages(k).skew,
        "extract.sink_stage_s" -> wall(Seq(stages(k + 1))),
        "extract.sink_stage_skew" -> stages(k + 1).skew,
        "extract.lineage_s" -> wall(stages.drop(k + 2)))
    val queries = QueryLayer.run(spark, spans, collector, o.cpus)
    Details(phases ++ queries.layers ++ Map(
      "extract.input_docs" -> inputRows.toDouble,
      "extract.input_mb" -> bytesIn / 1048576.0), queries.checks)
  }
}

/** `CurateJob.run` with the default config over the extraction output of
  * a synthetic crawl, with seeded exact and near copies of html docs
  * planted under new urls. */
final class CurateWorkload(spark: SparkSession, o: Opts) extends Workload {
  import spark.implicits._
  private val n = math.max(100L, (200 * o.scale).toLong)
  private val inputPath = s"${o.work}/input"
  private val plantsPath = s"${o.work}/plants"
  private var input: DataFrame = _
  private var inputRows = 0L
  private var lastStats: Option[graft.pipeline.CurateStats] = None

  def setupRepeats: Int = 1

  def generate(): Unit = {
    val docs = ExtractJob.transform(spark, SynthSource.pages(spark, n, o.seed).toDF(),
      JobConfig()).select($"url", $"extracted_text", $"lang", $"doc_kind").cache()
    // n/25 html docs are copied exactly and n/25 with their last 60
    // characters replaced — a light edit that keeps Jaccard near 0.9. The
    // seed picks which docs; the counts are fixed so the input size is too.
    val k = (n / 25).toInt
    val ranked = docs.filter($"doc_kind" === "html" && length($"extracted_text") >= 400)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(xxhash64($"url", lit(o.seed)))))
    val exact = ranked.filter($"rank" <= k)
      .select($"url".as("orig_url"), concat($"url", lit("?copy=exact")).as("url"),
        $"extracted_text", $"lang", lit("exact").as("kind"))
    val near = ranked.filter($"rank" > k && $"rank" <= 2 * k)
      .select($"url".as("orig_url"), concat($"url", lit("?copy=near")).as("url"),
        concat(expr("substring(extracted_text, 1, length(extracted_text) - 60)"),
          lit(" Edited copy.")).as("extracted_text"), $"lang", lit("near").as("kind"))
    val plants = exact.unionByName(near)
    plants.select("orig_url", "url", "kind").write.mode("overwrite").parquet(plantsPath)
    docs.select("url", "extracted_text", "lang")
      .unionByName(plants.select("url", "extracted_text", "lang"))
      .repartition(o.cpus)
      .write.mode("overwrite").parquet(inputPath)
    docs.unpersist()
  }

  def prepare(): Unit = {
    input = spark.read.parquet(inputPath)
    inputRows = input.count()
  }

  def inputDigest(): String = Digest.of(input)

  def call(out: String): Long = {
    val s = CurateJob.run(spark, input, "url", "extracted_text", "lang", out)
    lastStats = Some(s)
    s.input
  }

  def checks(out: String): Seq[(String, Boolean)] = {
    val verdicts = spark.read.parquet(s"$out/verdicts").select("doc_id", "verdict")
    val plants = spark.read.parquet(plantsPath)
    val va = verdicts.select($"doc_id".as("a_id"), $"verdict".as("a_verdict"))
    val vb = verdicts.select($"doc_id".as("b_id"), $"verdict".as("b_verdict"))
    val joined = plants
      .join(va, xxhash64($"orig_url") === $"a_id")
      .join(vb, xxhash64($"url") === $"b_id")
    val dropped = Seq("exact_dup", "near_dup")
    val missed = joined.filter(
      ($"kind" === "exact" && $"a_verdict" =!= "exact_dup" && $"b_verdict" =!= "exact_dup") ||
      ($"kind" === "near" && !$"a_verdict".isin(dropped: _*) && !$"b_verdict".isin(dropped: _*)))
      .count()
    val planted = plants.count()
    Seq(
      "curate: verdict rows == input docs" -> (verdicts.count() == inputRows),
      "curate: stats input == input docs" -> lastStats.exists(_.input == inputRows),
      "curate: every planted pair was joined to its verdicts" -> (joined.count() == planted),
      "curate: planted copies land in exact_dup/near_dup" -> (planted > 0 && missed == 0))
  }

  def countVariant(): Unit =
    CurateJob.verdicts(input, "url", "extracted_text", "lang", graft.pipeline.CurateConfig()).count()

  def noopVariant(): Unit =
    CurateJob.verdicts(input, "url", "extracted_text", "lang", graft.pipeline.CurateConfig())
      .write.format("noop").mode("overwrite").save()

  /** Verdict counts of the last call, and direct `graft.ops` calls on the
    * same input, each into a `noop` sink. */
  override def details(spans: Spans, stages: Seq[StageRow],
      collector: StageCollector): Details = {
    val verdicts = lastStats.map { s =>
      (s.drops + ("kept" -> s.kept)).map { case (k, v) => s"curate.verdict.$k" -> v.toDouble }
    }.getOrElse(Map.empty)
    val keyed = input.withColumn("doc_id", xxhash64($"url"))
      .withColumn("text_key", md5($"extracted_text"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val (_, minhashS) = LayeredBench.secs(spans.span("ops.minhash_near_dups") {
      noop(Dedup.minhashNearDups(keyed, "doc_id", "extracted_text"))
    })
    val pairs = Dedup.minhashNearDups(keyed, "doc_id", "extracted_text").cache()
    val nPairs = pairs.count()
    val (_, edgesS) = LayeredBench.secs(spans.span("ops.cluster_edges") {
      noop(Dedup.minhashClusterEdges(keyed, "doc_id", "extracted_text"))
    })
    val (comps, compS) = LayeredBench.secs(spans.span("ops.components") {
      val c = Dedup.connectedComponents(pairs, "id_a", "id_b").cache()
      noop(c)
      c
    })
    val nontrivial = comps.groupBy("component").count().filter($"count" > 1).count()
    val (_, exactS) = LayeredBench.secs(spans.span("ops.exact_groups") {
      noop(Dedup.exactGroups(keyed, "doc_id", "text_key"))
    })
    pairs.unpersist()
    comps.unpersist()
    Details(verdicts ++ Map(
      "ops.minhash_near_dups_s" -> minhashS,
      "ops.cluster_edges_s" -> edgesS,
      "ops.components_s" -> compS,
      "ops.exact_groups_s" -> exactS,
      "ops.near_dup_pairs" -> nPairs.toDouble,
      "ops.components_nontrivial" -> nontrivial.toDouble,
      "curate.input_docs" -> inputRows.toDouble), Seq.empty)
  }
}

/** The query layer of a traced run: `SparkEntry.queries` over the bundled
  * sf0.001 tables, a short set plus the suite's slowest queries. */
object QueryLayer {
  private val dataDir = "perfbench/data/sf0.001"
  private val expectedPath = "perfbench/data/expected_sf0.001.json"

  /** Short queries, whose time is mostly per-query planning, codegen and
    * scheduling, plus q23 (minhash LSH). */
  val Short: Seq[String] = Seq(
    "q01_classify_needs_ocr", "q18_window_running", "q20_dedup_exact_groups",
    "q23_minhash_lsh", "q35_lineitem_pricing", "q46_pii_scrub",
    "q49_latest_capture")

  /** The slowest queries of the suite, plus q63 and q25, whose regressions
    * ROADMAP item 6 tracks. */
  val Named: Seq[String] = Seq(
    "q67_semdedup", "q81_curation_span_removal", "q62_curation_extended",
    "q54_curation_verdicts", "q83_star_components", "q64_dup_span_removal",
    "q80_leakage_split", "q55_ann_ivf_trained", "q63_quality_classifier",
    "q25_embedding_neardup")

  private def short(q: String): String = q.takeWhile(_ != '_')

  /** A cold pass in a new session computes each query's result digest,
    * which is checked against `expected_sf0.001.json`; the short set is
    * then timed through `.count()` and once into `noop` for warm-up; a last
    * `noop` pass over every query runs with the listener attached.
    * Returns layer numbers and the digest checks. */
  def run(spark: SparkSession, spans: Spans, collector: StageCollector,
      cpus: Int): Details = spans.span("queries") {
    val session = spark.newSession()
    val all = Short ++ Named
    def df(q: String): DataFrame = SparkEntry.queries(q)(session, dataDir)
    def noop(q: String): Unit = df(q).write.format("noop").mode("overwrite").save()
    def timed(pass: String, qs: Seq[String])(f: String => Unit): Seq[(String, Double)] =
      spans.span(s"queries.$pass") {
        qs.map(q => q -> LayeredBench.secs(spans.span(s"query.${short(q)}.$pass")(f(q)))._2)
      }
    val digests = scala.collection.mutable.HashMap[String, String]()
    val cold = timed("cold", all)(q => digests(q) = Digest.of(df(q)))
    val counted = timed("count", Short)(q => df(q).count())
    timed("warmup", Short)(noop)
    val sc = spark.sparkContext
    collector.reset()
    sc.addSparkListener(collector)
    val parent = spans.current
    val (warm, wallS) = LayeredBench.secs(timed("warm", all)(noop))
    val (jobs, stages) = collector.snapshot()
    sc.removeSparkListener(collector)
    stages.foreach(s => spans.add(Span(spans.nextId(), parent, s"stage ${s.stageId}: ${s.name}",
      s.submitMs, s.completeMs, Map("job" -> s.jobId.toDouble, "skew" -> s.skew))))

    val times = warm.map(_._2).sorted
    def pct(p: Double): Double = times(math.max(0, math.ceil(p * times.size).toInt - 1))
    val call = LayeredBench.callMetrics(jobs, stages, wallS, cpus, "")
    val expected = readExpected(expectedPath)
    val checks = all.map { q =>
      s"queries: $q result digest == oracle-checked digest" ->
        (expected.contains(q) && expected.get(q) == digests.get(q))
    }
    val layers = warm.map { case (q, s) => s"query.${short(q)}_s" -> s }.toMap ++ Map(
      "queries.suite_s" -> times.sum,
      "queries.cold_suite_s" -> cold.map(_._2).sum,
      "queries.count_short_s" -> counted.map(_._2).sum,
      "queries.noop_short_s" -> warm.filter(w => Short.contains(w._1)).map(_._2).sum,
      "queries.query_p50_s" -> pct(0.5),
      "queries.query_p88_s" -> pct(0.88),
      "queries.jobs" -> call("call.jobs"),
      "queries.stages" -> call("call.stages"),
      "queries.shuffle_mb" -> call("call.shuffle_write_mb"),
      "queries.max_stage_skew" -> call("call.max_stage_skew"),
      "queries.slot_busy_share" -> call("call.slot_busy_share"))
    Details(layers, checks)
  }

  /** Writes the digest of every query (the whole suite) to `path`. */
  def record(spark: SparkSession, path: String): Unit = {
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      s"  ${Json.str(q)}: ${Json.str(Digest.of(SparkEntry.queries(q)(spark, dataDir)))}"
    }
    Files.writeString(Paths.get(path), lines.mkString("{\n", ",\n", "\n}\n"))
  }

  def readExpected(path: String): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    pair.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
  }
}

package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SessionConf.withConf
import graft.expr.KernelExpressions
import graft.model.DocResult
import graft.ops.CodegenModes.modes
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

/** The native sketch expressions (`graft_shingle_hashes`, `graft_minhash`)
  * against plain-Scala references and against the built-in compositions
  * they replace, in both the interpreted and the generated-code path. */
class SketchExprSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sketch-expr-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ks = Seq(1, 2, 3, 5, 8)

  private val plainCases: Seq[String] = Seq(
    "", " ", "   ",
    " leading space", "trailing space ", "doubled  space  here",
    "tab\tinside a token and\tanother one here",
    "newline\ninside tokens\n and more words",
    "héllo wörld 日本語 テキスト 😀 emoji ünïcödé ok",
    "one", "two words", "three words here",
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bank")

  /** Hex payloads cast to string: malformed UTF-8 (a bad continuation, a
    * UTF-16 surrogate, an overlong '/', a truncated tail). */
  private val invalidHex = Seq("C328", "ED A080 2061 62", "C0AF 20 6B", "61 20 E282")
    .map(_.replace(" ", ""))

  /** (id, text) cases in a parquet file, so projections over them run in
    * the executed plan rather than being folded over a local relation. */
  private lazy val cases: DataFrame = {
    val s = spark
    import s.implicits._
    val plain = plainCases.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val nul = Seq((100L, Option.empty[String])).toDF("id", "text")
    val bad = invalidHex.zipWithIndex.map { case (h, i) => (200L + i, h) }
      .toDF("id", "hex")
      .select(col("id"), unhex(col("hex")).cast("string").as("text"))
    val dir = Files.createTempDirectory("graft_sketch_cases_").toString
    plain.unionByName(nul).unionByName(bad).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def xxh(s: String): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Plain-Scala reference: Java split on " " keeping empty segments, k-gram
    * join, Spark's string xxhash64. */
  private def refShingles(text: String, k: Int): Seq[Long] = {
    val toks = text.split(" ", -1)
    if (toks.length < k) Nil else toks.sliding(k).map(g => xxh(g.mkString(" "))).toSeq
  }

  private def refMinhash(fps: Seq[java.lang.Long], numHashes: Int): Seq[Long] =
    (0 until numHashes).map { s =>
      fps.map(x => XXH64.hashLong(s.toLong,
        if (x == null) 42L else XXH64.hashLong(x, 42L)))
        .foldLeft(Long.MaxValue)(math.min)
    }

  private def longs(r: Row, i: Int): Option[Seq[Long]] =
    if (r.isNullAt(i)) None else Some(r.getSeq[Long](i))

  for ((mode, conf) <- modes) {
    test(s"graft_shingle_hashes and shingleFingerprints ≡ the Scala reference " +
      s"for k ∈ $ks ($mode)") {
      withConf(spark, conf) {
        val sel = cases.select(
          (col("id") +: col("text") +: ks.flatMap(k => Seq(
            KernelExpressions.shingleHashes(col("text"), k),
            Dedup.shingleFingerprints(col("text"), k)))): _*)
        if (mode == "generated code")
          assert(sel.queryExecution.executedPlan.toString.startsWith("*("),
            sel.queryExecution.executedPlan.toString.take(300))
        val rows = sel.collect()
        assert(rows.length == plainCases.length + 1 + invalidHex.length)
        rows.foreach { r =>
          val text = Option(r.getString(1))
          ks.zipWithIndex.foreach { case (k, j) =>
            val ref = text.map(refShingles(_, k))
            assert(longs(r, 2 + 2 * j) == ref, s"hashes id=${r.getLong(0)} k=$k")
            assert(longs(r, 3 + 2 * j) == ref.map(_.distinct.sorted),
              s"fingerprints id=${r.getLong(0)} k=$k")
          }
        }
        // malformed input decodes with replacement characters, like split
        val bad = rows.filter(_.getLong(0) == 200L).head.getString(1)
        assert(bad == "�(", bad)
      }
    }

    test(s"graft_minhash ≡ the Scala reference, empty → MaxValue, null → null " +
      s"($mode)") {
      withConf(spark, conf) {
        val s = spark
        import s.implicits._
        val arrays: Seq[Option[Seq[java.lang.Long]]] = Seq(
          Some(Nil), None,
          Some(Seq[java.lang.Long](1L, 2L, 3L)),
          Some(Seq[java.lang.Long](Long.MinValue, 0L, Long.MaxValue, -7L)),
          Some(Seq[java.lang.Long](5L, null)),
          Some((0L until 300L).map(x => java.lang.Long.valueOf(x * 7919L))))
        val dir = Files.createTempDirectory("graft_minhash_cases_").toString
        arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "fps")
          .coalesce(1).write.mode("overwrite").parquet(dir)
        val rows = spark.read.parquet(dir).orderBy("id").select(
          col("fps"),
          KernelExpressions.minhash(col("fps"), 1),
          KernelExpressions.minhash(col("fps"), 32)).collect()
        rows.zip(arrays).foreach { case (r, a) =>
          assert(longs(r, 1) == a.map(refMinhash(_, 1)), s"$a")
          assert(longs(r, 2) == a.map(refMinhash(_, 32)), s"$a")
        }
        assert(rows(0).getSeq[Long](2) == Seq.fill(32)(Long.MaxValue))
        assert(rows(1).isNullAt(2))
      }
    }
  }

  test("native sketches ≡ the built-in HOF compositions they replace " +
    "(posexplode (pos, gram) rows, minhash signatures)") {
    for (k <- ks) {
      val toks = split(col("text"), " ")
      val hofGrams = when(size(toks) < k, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - k),
          i => array_join(slice(toks, i + 1, lit(k)), " ")))
      val old = cases.select(col("id"), posexplode(hofGrams))
        .select(col("id"), col("pos"), xxhash64(col("col")).as("gram"))
      val now = cases
        .select(col("id"), posexplode(KernelExpressions.shingleHashes(col("text"), k)))
        .select(col("id"), col("pos"), col("col").as("gram"))
      assert(old.count() > 0)
      assert(old.exceptAll(now).isEmpty && now.exceptAll(old).isEmpty, s"k=$k")
    }
    val fps = cases.select(col("id"), Dedup.shingleFingerprints(col("text"), 3).as("sh"))
    val hofSig = aggregate(col("sh"), array_repeat(lit(Long.MaxValue), 32),
      (acc, x) => zip_with(acc, sequence(lit(0L), lit(31L)),
        (m, s) => least(m, xxhash64(x, s))))
    val both = fps.select(hofSig.as("old"), KernelExpressions.minhash(col("sh"), 32).as("now"))
      .collect()
    both.foreach(r => assert(longs(r, 0) == longs(r, 1)))
  }

  test("graft_shingle_hashes and graft_minhash are callable from spark.sql " +
    "with constant k / numHashes") {
    KernelExpressions.register(spark)
    val r = spark.sql("SELECT graft_shingle_hashes('a b  c', 2), " +
      "graft_minhash(array(1L, 2L), 4), graft_shingle_hashes(CAST(NULL AS STRING), 2)")
      .collect()(0)
    assert(r.getSeq[Long](0) == refShingles("a b  c", 2))
    assert(r.getSeq[Long](1) == refMinhash(Seq[java.lang.Long](1L, 2L), 4))
    assert(r.isNullAt(2))
    val e = intercept[Exception](
      spark.sql("SELECT graft_shingle_hashes(s, length(s)) FROM VALUES ('a b') AS t(s)")
        .collect())
    assert(e.getMessage.contains("constant integer"), e.getMessage)
  }

  test("duplicatedSpanSegments ≡ a Scala reference over the same grams") {
    val s = spark
    import s.implicits._
    val passage = "the quick brown fox jumps over the lazy dog near the river bank"
    val texts = plainCases.map(t => s"$t $passage tail") ++ plainCases ++
      Seq(s"$passage $passage", "x y z")
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for ((k, minTokens) <- Seq((3, 4), (5, 8), (8, 12))) {
      val grams = texts.zipWithIndex.flatMap { case (t, d) =>
        refShingles(t, k).zipWithIndex.map { case (g, p) => (d.toLong, p, g) }
      }
      val dup = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
      val ref = grams.filter(g => dup(g._3)).groupBy(_._1).toSeq.flatMap {
        case (d, gs) =>
          val covered = gs.flatMap(g => g._2 until g._2 + k).distinct.sorted
          covered.foldLeft(List.empty[(Int, Int)]) {
            case ((s0, e0) :: rest, i) if i == e0 + 1 => (s0, i) :: rest
            case (acc, i) => (i, i) :: acc
          }.filter { case (s0, e0) => e0 - s0 + 1 >= minTokens }
            .map { case (s0, e0) => (d, s0.toLong, e0.toLong) }
      }.sorted
      val got = Dedup.duplicatedSpanSegments(base, k, minTokens, 2L, keepFirst = false)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(ref.nonEmpty)
      assert(got == ref, s"k=$k minTokens=$minTokens")
    }
  }

  test("band shape: numBands must divide numHashes evenly (8/16 and 32/5 " +
    "are rejected by every LSH entry point)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("id", "text")
    for ((h, b) <- Seq((8, 16), (32, 5))) {
      val e1 = intercept[IllegalArgumentException](
        Dedup.minhashNearDups(docs, "id", "text", numHashes = h, numBands = b))
      assert(e1.getMessage.contains(s"numHashes = $h, numBands = $b"), e1.getMessage)
      intercept[IllegalArgumentException](
        Dedup.minhashClusterEdges(docs, "id", "text", numHashes = h, numBands = b))
      intercept[IllegalArgumentException](
        Dedup.incrementalDedupVerdicts(docs, docs, "id", "text",
          numHashes = h, numBands = b))
      intercept[IllegalArgumentException](
        StreamingExtract.nearDupVerdicts(spark.emptyDataset[DocResult],
          numHashes = h, numBands = b))
    }
    assert(Dedup.bandSize(32, 8) == 4 && Dedup.bandSize(64, 32) == 2 &&
      Dedup.bandSize(32, 16) == 2)
  }
}

package graft.ops

import graft.SessionConf
import graft.kernel.Hashing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data operator tests: dedup family, similarity search, text
  * analysis, multimodal plumbing — over small deterministic frames. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river", "a"),
    (2L, "the quick brown fox jumps over the lazy dog near the shore", "a"), // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules here", "a"),
    (4L, "the quick brown fox jumps over the lazy dog near the river", "b"), // exact dup of 1
    (5L, "tiny", "b"),
    (6L, "another unrelated document mentioning parquet files and shuffles again", "b")
  ).toDF("id", "text", "grp")

  test("exact dedup: groups and keep-one") {
    val groups = Dedup.exactGroups(docs, "id", "text").collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("representative") == 1L)
    assert(groups(0).getAs[Long]("dup_count") == 2L)

    val kept = Dedup.dropExactDuplicates(docs, "id", "text")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L, 6L)) // 4 dropped (dup of 1)
  }

  test("minhash LSH finds the near-duplicate pair and nothing else") {
    val pairs = Dedup.minhashNearDups(docs, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup found
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash near-dups: hamming small for near-dups, large for unrelated") {
    val a = Hashing.simhash64("the quick brown fox jumps over the lazy dog near the river")
    val b = Hashing.simhash64("the quick brown fox jumps over the lazy dog near the shore")
    val c = Hashing.simhash64("completely different text about spark catalyst optimizer rules")
    assert(Hashing.hamming(a, b) < Hashing.hamming(a, c))
    assert(Hashing.hamming(a, a) == 0)

    val pairs = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical text → hamming 0
  }

  test("ngram jaccard within groups") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", Seq("grp"),
      shingleK = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.5))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH full recall on the driver corpus (q23 oracle premise): " +
    "band collisions catch every true pair, verified vs the complete " +
    "prefix join") {
    val docs500 = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val lsh = pairSet(Dedup.minhashNearDups(docs500, "doc_id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    // ground truth: prefix filtering is provably complete for J ≥ t
    val exact = pairSet(Dedup.ngramJaccardPairs(docs500, "doc_id", "text",
      groupCols = Seq.empty, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    assert(lsh == exact,
      s"LSH recall broke: missing=${exact.diff(lsh).take(3)} " +
        s"extra=${lsh.diff(exact).take(3)}")
    assert(exact.nonEmpty)
  }

  test("minhash LSH full recall under q62's 32x2 banding on the PLANTED " +
    "boilerplate corpus (the q62 oracle premise): the boundary-token " +
    "noise drags one tiny-doc pair to j~0.58, where 8x4 banding misses") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"),
        concat(
          lit("header-"), (col("doc_id") % 7).cast("string"), lit("\n"),
          coalesce(col("text"), lit("")), lit("\n"),
          when(col("doc_id") % 2 === 0, lit("footer-common"))
            .otherwise(concat(lit("tail-"), col("doc_id").cast("string"))))
          .as("text"))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val lsh = pairSet(Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleK = 3, numHashes = 64, numBands = 32, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      groupCols = Seq.empty, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    assert(lsh == exact,
      s"32x2 LSH recall broke on the q62 corpus: " +
        s"missing=${exact.diff(lsh).take(3)} extra=${lsh.diff(exact).take(3)}")
    // the premise is only interesting if the marginal pair exists
    assert(exact.exists(p => p._3 < 700000L),
      s"expected a sub-0.7 Jaccard pair in the planted corpus: $exact")
  }

  test("minhash LSH full recall under q81's 32x2 banding on the PASSAGE-" +
    "planted corpus (the q81 oracle premise): the appended 17-token " +
    "passage shifts Jaccards, so recall is re-pinned on the shifted set") {
    val passage = "exact substring duplication test passage alpha beta " +
      "gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" " + passage)))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val lsh = pairSet(Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleK = 3, numHashes = 64, numBands = 32, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      groupCols = Seq.empty, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    assert(lsh == exact,
      s"32x2 LSH recall broke on the q81 corpus: " +
        s"missing=${exact.diff(lsh).take(3)} extra=${lsh.diff(exact).take(3)}")
    assert(exact.nonEmpty)
  }

  test("minhash LSH full recall holds at sf0.1 too (10× corpus — the q23 " +
    "oracle premise is not an sf0.01 artifact)") {
    val dir = new java.io.File("/root/testdata/sf0.1/documents.parquet")
    assume(dir.exists(), "sf0.1 testdata not present")
    val docs5k = spark.read.parquet(dir.toString)
      .repartition(spark.sparkContext.defaultParallelism)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val lsh = pairSet(Dedup.minhashNearDups(docs5k, "doc_id", "text",
      shingleK = 3, numHashes = 32, numBands = 8, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    val exact = pairSet(Dedup.ngramJaccardPairs(docs5k, "doc_id", "text",
      groupCols = Seq.empty, shingleK = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard"))
    assert(lsh == exact,
      s"LSH recall broke at sf0.1: missing=${exact.diff(lsh).take(3)} " +
        s"extra=${lsh.diff(exact).take(3)}")
    assert(exact.nonEmpty)
  }

  test("cosine similarity HOF: exact on known vectors") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(2.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineNearDups(df, "vec_id", "embedding", "label", 0.9,
      dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 3L, 1.0))) // parallel vectors, cosine exactly 1
  }

  test("banded LSH near-dups: high recall for near-identical vectors, " +
    "verified pairs only") {
    // 50 base vectors + 10 near-identical copies (tiny perturbation) —
    // every copy pair has cosine ≈ 1 and must share a band bucket
    val e = spark.range(50).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 0.7 + i.cast("double")).cast("float")).as("embedding"),
      lit(0).as("label"))
    val dups = spark.range(10).select((col("id") + 100L).as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (sin(col("id") * 0.7 + i.cast("double")) + 0.001).cast("float"))
        .as("embedding"),
      lit(0).as("label"))
    val pairs = Similarity.cosineNearDups(e.union(dups), "vec_id", "embedding",
      "label", threshold = 0.99, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0L until 10L).count(i => pairs.contains((i, i + 100L)))
    assert(found >= 8, s"recall too low: $found/10; pairs=$pairs")
    // every emitted pair really passes the exact-cosine threshold
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("canonicalByQuality: components keep the argmax-score member " +
    "(ties to min id), singletons always keep") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val scored = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), // component 1: max score tie 2 vs 3
      (10L, 1L), (11L, 0L),         // component 10: plain argmax
      (20L, 7L)                     // in no pair: singleton, keeps
    ).toDF("doc_id", "quality")
    val out = Dedup.canonicalByQuality(scored, "doc_id", "quality", pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(1L) == ((1L, false)))
    assert(out(2L) == ((1L, true))) // score 9, tie broken to min id
    assert(out(3L) == ((1L, false)))
    assert(out(10L) == ((10L, true)))
    assert(out(11L) == ((10L, false)))
    assert(out(20L) == ((20L, true))) // singleton component = own id
    assert(out.size == 6)
  }

  test("semDedup screen: centroid-proximity order, upper-triangle removal " +
    "(a later member is removed even when its only match was itself removed)") {
    import math.{cos, Pi}
    def v(deg: Double) = Array(cos(deg * Pi / 180).toFloat,
      math.sin(deg * Pi / 180).toFloat)
    val df = Seq(
      (1L, v(0.0)), (4L, v(9.0)), (2L, v(18.0)),
      (10L, v(90.0)),                        // second cluster, alone
      (5L, null.asInstanceOf[Array[Float]]), // excluded: null vector
      (6L, Array(1.0f, 0.0f, 0.0f))          // excluded: wrong dimension
    ).toDF("vec_id", "embedding")
    val cents = Some(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val out = Similarity.semDedup(df, "vec_id", "embedding",
      threshold = cos(10.0 * Pi / 180), dim = 2, centroids = cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 4L, 10L))
    assert(out(1L) == ((1L, false))) // closest to centroid: screens first
    assert(out(4L) == ((1L, true))) // within 10 degrees of id 1
    // id 2 is within 10 degrees ONLY of id 4, which was itself removed —
    // the paper implementation's upper-triangle rule still removes it
    // (sequential kept-only screening would keep it)
    assert(out(2L) == ((1L, true)))
    assert(out(10L) == ((2L, false))) // alone in its cluster
  }

  test("ngram jaccard prefix join ≡ naive all-pairs (completeness property)") {
    // vocabulary-overlapping random-ish corpus: prefix filtering must
    // reproduce the quadratic join's output exactly
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta")
    val corpus = (0 until 60).map { i =>
      val words = (0 until 12).map(j => vocab((i * 7 + j * (1 + i % 3)) % vocab.length))
      (i.toLong, words.mkString(" "), "g")
    }.toDF("id", "text", "grp")

    val fast = Dedup.ngramJaccardPairs(corpus, "id", "text", Seq("grp"),
      shingleK = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // naive reference: quadratic all-pairs over collected shingle sets
    def shingles(t: String): Set[String] = {
      val toks = t.split(" ")
      if (toks.length < 3) Set.empty
      else (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    val rows = corpus.collect().map(r => (r.getLong(0), shingles(r.getString(1))))
    val naive = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.4
    } yield (ia, ib, j)).toSet
    assert(fast == naive, s"fast=${fast.size} naive=${naive.size}")
    assert(naive.nonEmpty) // the fixture must actually exercise the join
  }

  test("brute-force top-k: correct neighbors and ranks") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1), "vec_id",
      "embedding", k = 2)
      .orderBy("rank").collect().map(r => r.getAs[Long]("neighbor_id"))
    assert(top.toSeq == Seq(4L, 2L)) // 4 is closest to 1, then 2
  }

  test("LSH top-k: same-bucket neighbors found, recall ≤ brute force") {
    val e = spark.range(200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 0.7 + i.cast("double")).cast("float")).as("embedding"))
    val brute = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding", 3)
    val lsh = Similarity.lshTopK(e, e.filter($"vec_id" < 5), "vec_id", "embedding", 3,
      numPlanes = 8, dim = 64)
    assert(lsh.count() <= brute.count())
    assert(lsh.count() > 0)
  }

  test("IVF top-k: probing all lists ≡ brute force; fewer lists = subset") {
    val e = spark.range(200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 0.7 + i.cast("double")).cast("float")).as("embedding"))
    val q = e.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = rows(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3))
    // nprobe = nlist probes every inverted list → exactly brute force
    val full = rows(Similarity.ivfTopK(e, q, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 8))
    assert(full == brute)
    // narrow probing returns valid ranked results (approximate)
    val narrow = Similarity.ivfTopK(e, q, "vec_id", "embedding", 3,
      nlist = 8, nprobe = 2)
    assert(narrow.count() > 0 && narrow.count() <= brute.size)
  }

  test("IVF top-k at realistic nlist=256/dim=64: plan stays O(1) in nlist " +
    "(single typedlit centroid literal, no 64KB codegen blowup), results " +
    "match brute force when probing all lists") {
    val e = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin(col("id") * 0.7 + i.cast("double")).cast("float")).as("embedding"))
    val q = e.filter($"vec_id" >= 500 && $"vec_id" < 503)
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", 3,
      nlist = 256, nprobe = 256)
    // the centroids must be ONE literal node, not nlist×dim literal exprs:
    // a per-centroid-literal plan at 256×64 carries ≥16k expression nodes
    // whose generated code overflows the JVM 64KB codegen method limit.
    // Count expression NODES (the literal's printed VALUE is long either
    // way — that costs nothing at runtime)
    val nExprNodes = ivf.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case _ => 1 }.size).sum
    }.sum
    assert(nExprNodes < 2000, s"plan is not O(1) in nlist: $nExprNodes nodes")
    val ivfSel = ivf.select("query_id", "neighbor_id", "rank")
    val got = ivfSel.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    // NOTE: HOF expressions (transform/aggregate/zip_with) are
    // CodegenFallback in Spark, so this query has no WholeStageCodegen
    // span with EITHER centroid mechanism — what the typedlit fix removes
    // is the nlist×dim expression-node blowup (node-count assertion above)
    // whose generated projection code overflowed the 64KB method limit.
  }

  /** Shuffles into 16 partitions that AQE may not coalesce: the edge
    * contraction then sees only part of each component, and the star
    * rounds run. */
  private val sixteenPartitions = Map(
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "16")

  test("connected components: small-star/large-star finds the exact " +
    "clusters, incl. a diameter-10 chain in O(log diameter) rounds") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), // triangle-ish cluster → comp 1
      (10L, 11L), // pair → comp 10
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L) // cycle → comp 20
    ) ++ (100L until 110L).map(i => (i, i + 1)) // chain of diameter 10
    val pairs = edges.toDF("id_a", "id_b")
    def checkLabels(comp: Map[Long, Long]): Unit = {
      assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
      assert(comp(10L) == 10L && comp(11L) == 10L)
      assert((20L to 23L).forall(comp(_) == 20L))
      assert((100L to 110L).forall(comp(_) == 100L), s"chain: $comp")
      assert(comp.size == 3 + 2 + 4 + 11)
    }
    val (compDf, rounds) =
      Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b")
    // min-label propagation needed diameter ≈ 10 rounds on this chain;
    // star rounds must do it in ≤ 4 (log₂ 10 ≈ 3.3, +1 fixpoint check)
    assert(rounds <= 4, s"star convergence took $rounds rounds")
    val comp = compDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    checkLabels(comp)
    // the same chain spread over 16 partitions: the per-partition
    // contraction leaves cross-partition edges, so the star rounds run
    // (and stay within the O(log diameter) bound)
    SessionConf.withConf(spark, sixteenPartitions) {
      val (spreadDf, spreadRounds) =
        Dedup.connectedComponentsWithRounds(pairs, "id_a", "id_b")
      assert(spreadRounds >= 1 && spreadRounds <= 4,
        s"16 partitions: $spreadRounds rounds")
      checkLabels(spreadDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    // a vertex appearing ONLY in a self-pair still gets a label
    val selfOnly = Dedup.connectedComponents(
      Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(selfOnly == Map(5L -> 5L, 1L -> 1L, 2L -> 1L), selfOnly.toString)
    // determinism: a second run produces the identical labeling
    val again = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == comp)

    // apply-side: only cluster representatives (and untouched rows) survive
    val corpus = (0L to 120L).map(i => (i, s"doc $i")).toDF("id", "text")
    val kept = Dedup.dropNearDuplicates(corpus, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(10L) && !kept.contains(11L))
    assert(kept.contains(20L) && !(21L to 23L).exists(kept.contains))
    assert(kept.contains(100L) && !(101L to 110L).exists(kept.contains))
    assert(kept.contains(50L)) // untouched rows survive
    assert(kept.size == 121 - (2 + 1 + 3 + 10))
  }

  test("connected components convergence check (r7 single-pass form): an " +
    "already-star input converges in zero rounds; a non-forest input (a " +
    "vertex in both roles) is never accepted as a false fixpoint") {
    // star forest already: {1,2,3} rooted at 1, {10,11} rooted at 10
    val star = Seq((1L, 2L), (1L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val (labels1, rounds1) =
      Dedup.connectedComponentsWithRounds(star, "id_a", "id_b")
    assert(rounds1 == 0, s"star input took $rounds1 rounds")
    assert(labels1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // chain 1-2-3 arrives canonical as (2,1),(3,2) — vertex 2 is both a
    // src and a dst, so this input shape is NOT a forest; the round must
    // rewrite it and the check must only accept the rewritten star.
    // Correct labels prove no false fixpoint was accepted.
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val labels2 = Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), labels2.toString)
  }

  test("connected components equal a plain union-find on seeded random " +
    "graphs (chains, cliques, cycles, trees, self-pairs, both directions) " +
    "in one partition, eight, and sixteen uncoalesced") {
    def graph(seed: Long): Seq[(Long, Long)] = {
      val rng = new scala.util.Random(seed)
      val ids = rng.shuffle((1000L until 1400L).toVector).iterator
      val comps = (0 until 14).flatMap { _ =>
        val vs = Vector.fill(2 + rng.nextInt(7))(ids.next())
        val n = vs.size
        rng.nextInt(4) match {
          case 0 => (1 until n).map(i => (vs(i - 1), vs(i))) // chain
          case 1 => for (i <- 0 until n; j <- i + 1 until n) yield (vs(i), vs(j))
          case 2 => (1 until n).map(i => (vs(i - 1), vs(i))) :+ (vs(n - 1), vs(0))
          case _ => (1 until n).map(i => (vs(rng.nextInt(i)), vs(i))) // tree
        }
      }
      val flipped = comps.map(e => if (rng.nextBoolean()) e.swap else e)
      val both = flipped.take(6).map(_.swap) // pairs given in both directions
      val selfs = (Seq.fill(3)(ids.next()) :+ flipped.head._1).map(v => (v, v))
      // the cross-partition duplicate shape: (5,1) and (5,3),(3,1)
      rng.shuffle(flipped ++ both ++ selfs ++ Seq((5L, 1L), (5L, 3L), (3L, 1L)))
    }
    def labels(df: org.apache.spark.sql.DataFrame): (Map[Long, Long], Int) = {
      val (l, rounds) = Dedup.connectedComponentsWithRounds(df, "id_a", "id_b")
      (l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    for (seed <- 1L to 3L) {
      val edges = graph(seed)
      val want = graft.UnionFind.labels(edges)
      val pairs = edges.toDF("id_a", "id_b")
      val (one, oneRounds) = labels(pairs.coalesce(1))
      assert(one == want, s"seed $seed, coalesce(1)")
      assert(oneRounds == 0, s"seed $seed: one partition took $oneRounds rounds")
      assert(labels(pairs.repartition(8))._1 == want, s"seed $seed, repartition(8)")
      SessionConf.withConf(spark, sixteenPartitions) {
        assert(labels(pairs)._1 == want, s"seed $seed, 16 partitions")
      }
    }
    // components that are single edges are star forests however they are
    // spread: the check passes on the multi-partition contracted set
    SessionConf.withConf(spark, sixteenPartitions) {
      val isolated = (0L until 40L).map(i => (2 * i, 2 * i + 1))
      val (got, rounds) = labels(isolated.toDF("id_a", "id_b"))
      assert(got == graft.UnionFind.labels(isolated))
      assert(rounds == 0, s"isolated pairs took $rounds rounds")
    }
  }

  test("per-partition contraction: each partition becomes the star forest " +
    "of its own components; a vertex contracted in two partitions fails " +
    "the check and the star rounds fix it") {
    val p1 = Dedup.contractPartition(Iterator((5L, 1L))).toSeq
    val p2 = Dedup.contractPartition(Iterator((5L, 3L), (3L, 1L))).toSeq
    assert(p1 == Seq((5L, 1L)))
    assert(p2.toSet == Set((3L, 1L), (5L, 1L)) && p2.size == 2)
    assert(Dedup.contractPartition(Iterator.empty).isEmpty)
    // a clique and a chain in one partition: one edge per non-min vertex
    val clique = for (a <- 10L to 13L; b <- 10L to 13L if a > b) yield (a, b)
    val chain = (21L to 29L).map(v => (v, v - 1))
    assert(Dedup.contractPartition((clique ++ chain).iterator).toSet ==
      (11L to 13L).map(_ -> 10L).toSet ++ (21L to 29L).map(_ -> 20L).toSet)
    // the union of the two partitions' output carries (5,1) twice
    val contracted = (p1 ++ p2).toDF("src", "dst")
    assert(!Dedup.starViolations(contracted).isEmpty)
    val (forest, rounds) = Dedup.starForest(contracted, maxIter = 25)
    assert(rounds >= 1, s"$rounds rounds")
    assert(forest.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet ==
      Set(5L -> 1L, 3L -> 1L))
  }

  test("url canonicalization: scheme/host case, default ports, utm strip, " +
    "param sort, fragment drop, empty path") {
    def canon(u: String): String =
      Seq(u).toDF("url")
        .select(WebOps.canonicalizeUrl(col("url")).as("c"))
        .collect()(0).getString(0)
    assert(canon("HTTPS://WWW.Example.COM:443/Path/3?utm_source=x&b=2&a=1#f")
      == "https://www.example.com/Path/3?a=1&b=2")
    assert(canon("http://Host.org:80/") == "http://host.org/")
    assert(canon("http://host.org:8080/x") == "http://host.org:8080/x") // non-default kept
    assert(canon("https://h.example") == "https://h.example/") // empty path → /
    assert(canon("https://h.example/p?utm_a=1&utm_b=2") == "https://h.example/p")
    assert(canon("HTTPS://h.example/CaseKept") == "https://h.example/CaseKept")
    // scheme-less / malformed inputs must NOT collapse into one canonical
    // form (URL-level dedup would merge distinct documents) — they pass
    // through with only the fragment dropped
    assert(canon("example.com/a?x=1") == "example.com/a?x=1")
    assert(canon("other.org/b#frag") == "other.org/b")
    assert(canon("not a url at all") == "not a url at all")
    // a '?' INSIDE the fragment must not fabricate a query (the query
    // regex is anchored to the pre-fragment substring)
    assert(canon("http://h.example/p#sec?x=1") == "http://h.example/p")
    assert(canon("http://h.example/p?a=1#sec?z=9") == "http://h.example/p?a=1")
  }

  test("stratified sampling: deterministic membership matching the kernel " +
    "hash, per-stratum rates near quota") {
    val df = spark.range(30000).select(col("id").as("doc_id"),
      when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de")
        .otherwise("xx").as("lang"))
    val quotas = Map("en" -> 100, "de" -> 500)
    val kept = ScalePatterns.stratifiedSample(df, "doc_id", "lang", quotas,
      defaultPerMille = 250)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // membership is exactly the kernel-hash predicate (replayable, no RNG)
    kept.foreach { case (id, lang) =>
      val bucket = ((Hashing.mix(id) % 1000) + 1000) % 1000
      assert(bucket < quotas.getOrElse(lang, 250), s"row $id/$lang escaped")
    }
    val counts = kept.groupBy(_._2).view.mapValues(_.size).toMap
    // 10k rows per stratum; binomial noise is tiny at these n
    assert(math.abs(counts("en") - 1000) < 150, s"en=${counts.get("en")}")
    assert(math.abs(counts("de") - 5000) < 350, s"de=${counts.get("de")}")
    assert(math.abs(counts("xx") - 2500) < 250, s"xx=${counts.get("xx")}")
  }

  test("kernel-hash operators take any column name: an id or key column " +
    "named like an SQL expression returns the same rows as a plain one") {
    val plain = docs.select(col("id"), col("text"), col("grp"))
    val odd = plain.toDF("doc-id", "body text", "grp")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val quotas = Map("a" -> 400)
    val sampled = rows(ScalePatterns.stratifiedSample(plain, "id", "grp", quotas, 700))
    assert(sampled.nonEmpty && sampled.size < 6, sampled.toString)
    assert(rows(ScalePatterns.stratifiedSample(odd, "doc-id", "grp", quotas, 700)) == sampled)
    val filt = Dedup.bloomBuild(plain.filter(col("id") <= 3L), "text", 256, 3)
    val oddFilt = Dedup.bloomBuild(odd.filter(col("doc-id") <= 3L), "body text", 256, 3)
    def byWord(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byWord(oddFilt) == byWord(filt))
    assert(rows(Dedup.bloomScreen(odd, "doc-id", "body text", oddFilt, 256, 3)) ==
      rows(Dedup.bloomScreen(plain, "id", "text", filt, 256, 3)))
  }

  test("pii scrub: emails, IPv4s and intl phones masked; near-misses kept") {
    def scrub(s: String): String =
      Seq(s).toDF("t").select(TextOps.scrubPii(col("t")).as("s"))
        .collect()(0).getString(0)
    assert(scrub("mail a.b+c@ex.co now") == "mail <EMAIL> now")
    assert(scrub("ip 192.168.0.1 end") == "ip <IP> end")
    assert(scrub("call +491511234567 pls") == "call <PHONE> pls")
    assert(scrub("two u@ex.org v@ex.org") == "two <EMAIL> <EMAIL>")
    // near-misses must survive: no TLD, version strings, short digit runs
    assert(scrub("x@y stays") == "x@y stays")
    assert(scrub("v1.2.3 stays") == "v1.2.3 stays")
    assert(scrub("+123 stays") == "+123 stays")
  }

  test("trained IVF quantizer: Lloyd's iterations separate direction " +
    "clusters; nprobe=1 with the trained quantizer achieves exact recall " +
    "on separable data") {
    // three well-separated direction clusters of 60 vectors each
    val dim = 8
    val e = spark.range(180).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i => {
        val axis = col("id") % 3 // cluster's dominant axis: 0, 1 or 2
        (when(i === axis, 10.0).otherwise(0.0) +
          sin(col("id") * 0.37 + i.cast("double")) * 0.3).cast("float")
      }).as("embedding"))
    val cents = Similarity.trainQuantizer(e, "vec_id", "embedding",
      nlist = 3, dim = dim, iterations = 5)
    assert(cents.length == 3)
    // each trained centroid points along exactly one dominant axis, and
    // all three axes are covered
    val axes = cents.map(c => c.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2), s"axes=$axes cents=${cents.map(_.mkString(",")).mkString(" | ")}")

    // with the trained quantizer, probing ONE list reproduces brute force
    // exactly on this separable corpus
    val q = e.filter($"vec_id" < 6)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = rows(Similarity.ivfTopK(e, q, "vec_id", "embedding", 3,
      nlist = 3, nprobe = 1, centroids = Some(cents)))
    val brute = rows(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3))
    assert(ivf == brute)

    // null / wrong-dimension corpus vectors are dropped before assignment
    // (they used to NPE on the driver via a cluster=null stats row) and do
    // not perturb the trained centroids
    val dirty = e
      .union(Seq((900L, null: Array[Float]), (901L, Array(1.0f)))
        .toDF("vec_id", "embedding"))
    val centsDirty = Similarity.trainQuantizer(dirty, "vec_id", "embedding",
      nlist = 3, dim = dim, iterations = 5)
    assert(centsDirty.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
  }

  test("BPE merges: hand-computed trace on the classic low/lower/lowest " +
    "corpus — tie-break, merged-symbol reuse, pair exhaustion") {
    val df = Seq("low low low", "lower lowest").toDF("text")
    val got = TextOps.bpeMerges(df, "text", steps = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // step 1: (l,o) and (o,w) both freq 5 → tie-break l<o picks (l,o)
    // step 2: (lo,w) freq 5 — the merged symbol participates
    // step 3: (low,e) freq 2 beats (e,r)/(e,s)/(s,t) at 1
    assert(got == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "low", "e", 2L)), got.toString)
    // exhaustion: single-char tokens yield no pairs → empty trace
    val none = TextOps.bpeMerges(Seq("a b a").toDF("text"), "text", 2)
    assert(none.isEmpty)
  }

  test("BPE merges: frozen traces over ties, merged-symbol reuse, repeated " +
    "chars, exhaustion and U+0001 tokens") {
    def trace(got: org.apache.spark.sql.DataFrame) =
      got.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // the expected traces were produced by a per-step Spark trainer (one
    // pair-explode job per merge), independent of this driver-side code;
    // the pairless corpus is the hand-computed test's exhaustion case
    val df = Seq("low low low", "lower lowest", "aaaa aa banana",
      "the theme theater", "zz zz zz z").toDF("text")
    val mixed = trace(TextOps.bpeMerges(df, "text", steps = 8))
    assert(mixed == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L), (3, "a", "a", 4L),
      (4, "h", "e", 3L), (5, "t", "he", 3L), (6, "z", "z", 3L), (7, "a", "n", 2L),
      (8, "e", "r", 2L)), mixed)
    // tokens carrying the U+0001 separator are excluded from training
    val dirty = Seq("low low", "ba\u0001d ba\u0001d ba\u0001d").toDF("text")
    assert(trace(TextOps.bpeMerges(dirty, "text", 3)) ==
      Seq((1, "l", "o", 2L), (2, "lo", "w", 2L)))
  }

  test("BPE apply: symbol counts under an ordered merge list, merges " +
    "confined to token boundaries") {
    val merges = Seq(("l", "o"), ("lo", "w"))
    def cnt(s: String): Long =
      Seq(s).toDF("text")
        .select(TextOps.bpeSymbolCount(col("text"), merges).as("n"))
        .collect()(0).getLong(0)
    assert(cnt("low") == 1) // l o w → lo w → low ((lo,w) is rule 2)
    assert(cnt("lower") == 3) // low + e + r
    assert(cnt("low lower") == 4)
    assert(cnt("") == 0)
    // 'l o' as separate tokens must NOT merge across the space
    assert(cnt("l o") == 2)

    // EXACT scan semantics (the separator-string replace these replaced
    // got both of these wrong):
    // 1. a rule (o,w) must not match the SUFFIX of symbol "lo" — after
    //    (l,o) produces [lo, w], rule (o,w) has nothing to merge
    def cnt2(s: String, m: Seq[(String, String)]): Long =
      Seq(s).toDF("text")
        .select(TextOps.bpeSymbolCount(col("text"), m).as("n"))
        .collect()(0).getLong(0)
    assert(cnt2("low", Seq(("l", "o"), ("o", "w"))) == 2,
      "rule (o,w) must not merge inside symbol 'lo'")
    // 2. greedy left-to-right runs: [a,a,a,a] under (a,a) → [aa,aa];
    //    [a,a,a] → [aa,a]
    assert(cnt2("aaaa", Seq(("a", "a"))) == 2)
    assert(cnt2("aaa", Seq(("a", "a"))) == 2)
    // 3. a fused symbol participates in the NEXT rule: (a,a) then (aa,aa)
    assert(cnt2("aaaa", Seq(("a", "a"), ("aa", "aa"))) == 1)
  }

  test("gopher quality signals: hand-computed word/alpha/symbol stats") {
    val df = Seq((1L, "the cat... #9 of all"), (2L, "")).toDF("doc_id", "text")
    val got = TextOps.gopherQualitySignals(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5))).toMap
    // words: the, cat..., #9, of, all → 5; lens 3+6+2+2+3=16
    // alpha words: the, cat..., of, all → 4; symbols: 1 ellipsis + 1 hash
    val (wc, mwl, alpha, sym, stops) = got(1L)
    assert(wc == 5 && mwl == 16.0 / 5)
    assert(alpha == 4.0 * 1000000 / 5 && sym == 2.0 * 1000000 / 5)
    assert(stops == 2) // the + of
    assert(got(2L) == ((0L, 0.0, 0.0, 0.0, 0L)))
  }

  test("line-level corpus dedup: lines in >= minDocs distinct docs drop, " +
    "survivors keep original order, all-banned docs yield empty text") {
    val df = Seq(
      (1L, "common\nuniq-one\ncommon2"),
      (2L, "common\nuniq-two\ncommon2"),
      (3L, "common\ncommon2"),
      (4L, "solo line")).toDF("id", "text")
    val got = TextOps.dropDuplicatedLines(df, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (("uniq-one", 1L, 2L)))
    assert(got(2L) == (("uniq-two", 1L, 2L)))
    assert(got(3L) == (("", 0L, 2L))) // every line banned → empty doc kept
    assert(got(4L) == (("solo line", 1L, 0L)))
    // order preservation with interleaved bans
    val df2 = Seq((1L, "b\nx\nb\ny"), (2L, "b"), (3L, "b")).toDF("id", "text")
    val got2 = TextOps.dropDuplicatedLines(df2, "id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(1L) == "x\ny")
  }

  test("per-group top-k: salted two-phase variant is indistinguishable " +
    "from the plain window on a skewed corpus") {
    val df = spark.range(2000).select(col("id"),
      when(col("id") % 10 < 8, "hot").otherwise(concat(lit("cold"),
        (col("id") % 7).cast("string"))).as("grp"),
      (col("id") * 37 % 1000).as("score"))
    val order = Seq(col("score").desc, col("id").asc)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "grp", "score", "rn").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val plain = rows(ScalePatterns.topKPerGroup(df, "grp", 5, order))
    val salted = rows(ScalePatterns.saltedTopKPerGroup(df, "grp", 5, order, 8))
    assert(plain == salted)
    assert(plain.count(_._2 == "hot") == 5)
  }

  test("vocabulary top-k: counts, deterministic ties, empty-token filter") {
    val df = Seq(
      (1L, "b a a"), (2L, "a  c b"), (3L, "c b")).toDF("id", "text")
    val got = TextOps.topVocabulary(df, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // a:3 b:3 c:2 — tie between a and b breaks to token asc
    assert(got == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("quality classifier: hand-computed prior-centered ppm weights, " +
      "pruning, occurrence-weighted sign-test scores, neutral tokens " +
      "weigh 0 on an unbalanced corpus") {
    val df = Seq(
      (1L, "good clean prose text", true),
      (2L, "good good spam", false),
      (3L, "clean prose", true),
      (4L, "spam spam junk", false)).toDF("id", "text", "y")
    val weights = TextOps.trainQualityWeights(df, "text", "y", minCount = 2L)
    val w = weights.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // prior = 6e6 DIV 12 = 500000 (6 of 12 occurrences positive)
    // good:  pos=1 neg=2 -> (1e6+5e5) DIV 4 - 5e5 = -125000
    // clean/prose: pos=2 neg=0 -> (2e6+5e5) DIV 3 - 5e5 = 333333
    // spam:  pos=0 neg=3 -> 5e5 DIV 4 - 5e5 = -375000
    // text/junk: 1 occurrence -> pruned by minCount=2
    assert(w == Map(
      "good" -> -125000L, "clean" -> 333333L, "prose" -> 333333L,
      "spam" -> -375000L))
    val got = TextOps.qualityClassifierScores(df, "id", "text", weights)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // unseen (pruned) tokens count toward scored_tokens but weigh 0;
    // duplicated tokens weigh once PER OCCURRENCE
    assert(got == Map(
      1L -> ((4L, 541666L, true)),   // -125000 + 333333 + 333333 + 0
      2L -> ((3L, -625000L, false)), // 2 x -125000 + -375000
      3L -> ((2L, 666666L, true)),
      4L -> ((3L, -750000L, false)))) // 2 x -375000 + 0

    // unbalanced corpus (1 positive of 4): a token at exactly the prior
    // rate must weigh 0, not inherit the class prior as bias
    val unb = Seq(
      (1L, "a b", true), (2L, "a b", false),
      (3L, "a b", false), (4L, "a b", false)).toDF("id", "text", "y")
    val wu = TextOps.trainQualityWeights(unb, "text", "y", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(wu == Map("a" -> 0L, "b" -> 0L))
  }

  test("repetition signals: top-bigram run, ties lexicographic, " +
      "singletons, edge cases") {
    val df = Seq(
      (1L, "a b c a b"),   // "a b":2, "b c":1, "c a":1
      (2L, "x y x z"),     // all bigrams once; tie -> "x y" (lexic. min)
      (3L, "solo"),        // no bigrams
      (4L, (1 to 21).map(i => s"w$i").mkString(" ")) // 20 unique bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(df, "text")
      .select("doc_id", "n_words", "n_bigrams", "top_count", "top_bigram",
        "single_bigrams", "top_ppm", "repetitive")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6),
        r.getBoolean(7)))).toMap
    assert(got(1L) == ((5L, 4L, 2L, "a b", 2L, 500000L, true)))
    assert(got(2L) == ((4L, 3L, 1L, "x y", 3L, 333333L, true)))
    assert(got(3L) == ((1L, 0L, 0L, "", 0L, 0L, false)))
    // 21 distinct words: every bigram is a singleton, 1e6/20 = 50000 ppm
    // sits below the 60000 default threshold -> not repetitive
    assert(got(4L) == ((21L, 20L, 1L, "w1 w2", 20L, 50000L, false)))
  }

  test("langid guess on marker-bearing texts") {
    val df = Seq(
      (1L, "the cat and the dog is here"),
      (2L, "der hund und die katze ist hier"),
      (3L, "le chat et les chiens est ici"),
      (4L, "xyz qqq www")).toDF("id", "text")
    val got = df.select(col("id"), TextOps.langIdGuess(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("langIdGuess marker-table constructor: caller-supplied languages, " +
    "first-entry tie break, default table ≡ no-arg overload") {
    val df = Seq(
      (1L, "el gato y el perro es aqui"), // es markers
      (2L, "the cat and the dog is here"),
      (3L, "qqq www zzz"), // no marker → und
      (4L, "el the")) // 1-1 tie → first entry (es) wins
      .toDF("id", "text")
    val table = Seq(
      "es" -> Seq("el", "y", "es", "los"),
      "en" -> Seq("the", "and", "of", "is"))
    val got = df.select(col("id"),
      TextOps.langIdGuess(col("text"), table).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "es", 2L -> "en", 3L -> "und", 4L -> "es"))

    // the explicit default table reproduces the no-arg overload exactly
    val probe = Seq((1L, "the cat and dog"), (2L, "der hund und katze"),
      (3L, "le chat et chien"), (4L, "")).toDF("id", "text")
    val a = probe.select(TextOps.langIdGuess(col("text")).as("g"))
      .collect().map(_.getString(0)).toSeq
    val b = probe.select(
      TextOps.langIdGuess(col("text"), TextOps.defaultLangMarkers).as("g"))
      .collect().map(_.getString(0)).toSeq
    assert(a == b)
  }

  test("wordOccurrences counts whole words incl. adjacent runs") {
    val df = Seq((1L, "a a a b aa ba a")).toDF("id", "text")
    val n = df.select(TextOps.wordOccurrences(col("text"), "a")).collect()(0).getLong(0)
    assert(n == 4) // 'aa' and 'ba' must not count
  }

  test("token counts") {
    val df = Seq((1L, "hello, world! 42 foo_bar")).toDF("id", "text")
    val r = df.select(
      TextOps.tokenCount(col("text")).as("ws"),
      TextOps.bpeishTokenCount(col("text")).as("bpe")).collect()(0)
    assert(r.getLong(0) == 4)
    assert(r.getLong(1) == 6) // hello , world ! 42 foo_bar
  }

  test("native SimHash64 expression: codegen'd, value-identical to the kernel") {
    graft.expr.KernelExpressions.register(spark)
    val df = docs.select(col("id"), col("text"),
      expr("graft_simhash64(text)").as("native"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == graft.kernel.Hashing.simhash64(r.getString(1)))
    }
    // over a file relation the projection runs inside whole-stage codegen —
    // no typed boundary (a local Seq relation would be constant-folded)
    val onParquet = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(expr("graft_simhash64(text)").as("native"))
    val plan = onParquet.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan.take(500))
    assert(plan.startsWith("*("), plan.take(200))
    assert(onParquet.count() == 500)
    // null-safety through SQL
    val n = spark.sql("SELECT graft_simhash64(CAST(NULL AS STRING))").collect()(0)
    assert(n.isNullAt(0))
    // fingerprint expression too
    val fp = docs.select(col("text"), expr("graft_fingerprint64(text)")).collect()
    fp.foreach(r => assert(r.getLong(1) ==
      graft.kernel.Hashing.rollingFingerprint(r.getString(0))))
  }

  test("fingerprints: deterministic, order-sensitive") {
    assert(Hashing.rollingFingerprint("abc") == Hashing.rollingFingerprint("abc"))
    assert(Hashing.rollingFingerprint("abc") != Hashing.rollingFingerprint("acb"))
    val fp = TextOps.fingerprints(docs, "id", "text")
    assert(fp.count() == 6)
    val vals = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals(1L) == vals(4L)) // identical text → identical fingerprint
  }

  /** Deterministic synthetic media table: binary payloads derived from ids. */
  private def synthMedia(n: Long) =
    spark.range(n).map { i =>
      val kind = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val len = 32 + (Hashing.mix(i) & 0x3FF).toInt
      val bytes = Array.tabulate(len)(j => (Hashing.mix(i * 1000003L + j) & 0xFF).toByte)
      Multimodal.MediaRow(i, kind, bytes)
    }.toDF()

  test("multimodal: stub decode schema, frame sampling, resize plans") {
    val media = synthMedia(30L)
    val decoded = Multimodal.decode(media)
    assert(decoded.count() == 30)
    assert(decoded.columns.toSet ==
      Set("id", "kind", "byte_len", "width", "height", "frames", "feature"))
    val d = decoded.collect()
    assert(d.forall(_.getAs[Int]("width") >= 64))
    assert(d.forall(_.getAs[Seq[Float]]("feature").length == 8))
    // determinism across runs
    val again = Multimodal.decode(media).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4))).toSet
    assert(again == d.map(r => (r.getLong(0), r.getInt(3), r.getInt(4))).toSet)

    val frames = Multimodal.withFrameSampleCount(
      decoded.filter(col("kind") === "video"), stride = 30)
    assert(frames.filter(col("sample_count") < 1).count() == 0)
    val resize = Multimodal.withResizeTargets(decoded, maxSide = 256).collect()
    assert(resize.forall(r => r.getAs[Int]("target_width") <= 256 &&
      r.getAs[Int]("target_height") <= 256))
  }

  test("dup-gram profile (ExactSubstr statistic): exact dups fully " +
    "duplicated, near-dups partially, unique docs zero") {
    // k=4 over the 12-word docs: doc 1 and 4 are identical (all grams
    // duplicated); doc 2 differs in the last word (grams touching it are
    // unique); docs 3 and 6 share nothing; doc 5 has < k tokens (absent)
    val prof = Dedup.dupGramProfile(docs, "id", "text", k = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"),
          r.getAs[Long]("dup_ppm")))).toMap
    assert(!prof.contains(5L)) // "tiny": no 4-grams
    assert(prof(1L) == ((9L, 9L, 1000000L))) // identical to doc 4
    assert(prof(4L) == ((9L, 9L, 1000000L)))
    // doc 2: 12 words, 9 grams; only the single gram covering the last
    // word ("dog near the shore", i=9) is unique, the other 8 match 1/4
    assert(prof(2L) == ((9L, 8L, 888888L)))
    assert(prof(3L) == ((6L, 0L, 0L))) // 9 words -> 6 grams
    assert(prof(6L) == ((6L, 0L, 0L)))
  }

  test("duplicated-span removal: cross-doc runs cut from every copy, " +
      "within-doc repeats count and merge islands, runs under minTokens " +
      "survive, untouched docs are byte-identical") {
    val df = Seq(
      (1L, "a b c d e x1 y1"),        // shares "a b c d e" with doc 2
      (2L, "p q a b c d e z2"),
      (3L, "m n o p q r"),            // all grams unique
      (4L, "u v w u v w t"),          // "u v w" repeats WITHIN the doc
      (5L, "a b c z5 w5 v5"),         // dup run covers only 3 < minTokens
      (6L, "")).toDF("id", "text")
    val got = Dedup.removeDuplicatedSpans(df, "id", "text",
        k = 3, minTokens = 4, minCount = 2L)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      // dup grams "a b c","b c d","c d e" cover doc1 [0,4], doc2 [2,6]
      1L -> (("x1 y1", 5L)),
      2L -> (("p q z2", 5L)),
      3L -> (("m n o p q r", 0L)),
      // covered [0,2] U [3,5] merge into one 6-token island
      4L -> (("t", 6L)),
      // "a b c" is corpus-duplicated but covers only tokens [0,2]
      5L -> (("a b c z5 w5 v5", 0L)),
      6L -> (("", 0L))))
  }

  test("duplicated-span removal over STRING ids (url-keyed tables, the " +
      "extraction-output shape): the edit applies — no silent " +
      "cast-to-null no-op — and keepFirst orders urls lexicographically") {
    val df = Seq(
      ("https://a/1", "a b c d e x1 y1"),
      ("https://a/2", "p q a b c d e z2")).toDF("url", "text")
    val got = Dedup.removeDuplicatedSpans(df, "url", "text",
        k = 3, minTokens = 4, minCount = 2L)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      "https://a/1" -> (("x1 y1", 5L)),
      "https://a/2" -> (("p q z2", 5L))))
    val kf = Dedup.removeDuplicatedSpans(df, "url", "text",
        k = 3, minTokens = 4, minCount = 2L, keepFirst = true)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(kf == Map(
      "https://a/1" -> (("a b c d e x1 y1", 0L)),
      "https://a/2" -> (("p q z2", 5L))))
  }

  test("duplicated-span removal keepFirst: the globally first occurrence " +
      "survives (cross-doc AND within-doc), later copies are cut, and a " +
      "no-longer-covered run under minTokens now survives") {
    val df = Seq(
      (1L, "a b c d e x1 y1"),          // FIRST copy of "a b c d e" — kept
      (2L, "p q a b c d e z2"),         // second copy — cut
      (3L, "m n o p q r"),
      (4L, "u v w u v w t"),            // repeat's 2nd copy covers 3 < 4
      (5L, "a b c z5 w5 v5"),
      (6L, ""),
      (7L, "h i j k h i j k h i j k"))  // periodic: first period kept
      .toDF("id", "text")
    val got = Dedup.removeDuplicatedSpans(df, "id", "text",
        k = 3, minTokens = 4, minCount = 2L, keepFirst = true)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      // doc 1 holds the canonical copy: every dup gram is first there
      1L -> (("a b c d e x1 y1", 0L)),
      2L -> (("p q z2", 5L)),
      3L -> (("m n o p q r", 0L)),
      // only the SECOND "u v w" (tokens [3,5]) is covered — 3 < 4 → kept
      // whole (the all-occurrences variant cuts all 6)
      4L -> (("u v w u v w t", 0L)),
      5L -> (("a b c z5 w5 v5", 0L)),
      6L -> (("", 0L)),
      // covered = [4,11] (everything past the first period) → cut; the
      // canonical first "h i j k" survives
      7L -> (("h i j k", 8L))))
  }

  test("benchmark contamination: planted passage found, clean docs absent, " +
    "benchmark side broadcast") {
    val bench = Seq(
      (100L, "benchmark question alpha beta gamma delta answer")
    ).toDF("id", "text")
    val corpus = Seq(
      // contains the bench 5-gram span "question alpha beta gamma delta"
      (1L, "page text includes question alpha beta gamma delta verbatim today"),
      (2L, "entirely clean document with no overlap whatsoever present here"),
      // shares only a 4-gram ("alpha beta gamma delta" broken by x) -> clean
      (3L, "question alpha beta gamma x delta answer nothing else")
    ).toDF("id", "text")
    val out = Dedup.benchmarkContamination(corpus, bench, "id", "text", k = 5)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_hits")).toMap
    assert(rows.keySet == Set(1L))
    // corpus doc 1 grams hitting the bench set: "includes question alpha
    // beta gamma"? no (bench starts at "benchmark"). Bench grams include
    // "question alpha beta gamma delta" and "alpha beta gamma delta
    // answer"; doc 1 contains the former only.
    assert(rows(1L) == 1L)
    // scale shape: the bench gram set must arrive via broadcast
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bench gram set should broadcast:\n$plan")
  }

  test("incremental dedup verdicts: exact beats near, near found across " +
    "snapshots, unique docs kept, base never judged") {
    // split the 6-doc frame: incoming = {2, 4, 6}, base = {1, 3, 5}
    val base = docs.filter(col("id") % 2 === 1)
    val incoming = docs.filter(col("id") % 2 === 0)
    val v = Dedup.incrementalDedupVerdicts(base, incoming, "id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("verdict")).toMap
    assert(v.keySet == Set(2L, 4L, 6L)) // verdicts for incoming only
    assert(v(4L) == "exact_dup") // doc 4 == doc 1 byte-identical
    assert(v(2L) == "near_dup")  // doc 2 ~ doc 1 (one word differs)
    assert(v(6L) == "kept")      // nothing similar in base
  }

  test("ilog2Q20: exact on powers of two, monotone, ~1e-6 accurate") {
    for (k <- 0 to 62) {
      assert(Hashing.ilog2Q20(1L << k) == k.toLong << 20,
        s"ilog2Q20(2^$k) must be exactly $k in Q20")
    }
    // round-toward-zero: never exceeds the true log2, within 2^-20+eps
    val probes = Seq(3L, 5L, 7L, 100L, 999L, 12345L, 1000003L,
      (1L << 33) + 5L, (1L << 40) + 12345L, Long.MaxValue)
    for (n <- probes) {
      val got = Hashing.ilog2Q20(n) / math.pow(2, 20)
      val want = math.log(n.toDouble) / math.log(2)
      assert(got <= want + 1e-9 && want - got < 3e-6,
        s"ilog2Q20($n) = $got vs true $want")
    }
    // strictly monotone over a dense small range
    val vals = (1L to 5000L).map(Hashing.ilog2Q20)
    assert(vals.zip(vals.tail).forall { case (a, b) => a < b })
    intercept[IllegalArgumentException](Hashing.ilog2Q20(0L))
  }

  test("DSIR: weights match a first-principles kernel computation and " +
    "scores are the per-doc gram-weight sums") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "alpha beta delta epsilon zeta", true),
      (3L, "noise junk spam noise junk", false),
      (4L, "spam junk noise filler words", false),
      (5L, "alpha noise beta junk gamma", false),
      (6L, "", true) // zero grams: must vanish from the score output
    ).toDF("id", "text", "is_target")
    val buckets = 256
    val w = TextOps.dsirBucketWeights(corpus, "text", "is_target", buckets)
      .collect().map(r => r.getAs[Long]("bucket") ->
        r.getAs[Long]("weight_q20")).toMap
    assert(w.size == buckets) // every bucket present, weight total

    // first principles: grams = unigrams + bigrams of non-empty words
    def grams(text: String): Seq[String] = {
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      ws ++ ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
    }
    val rows = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "alpha beta delta epsilon zeta", true),
      (3L, "noise junk spam noise junk", false),
      (4L, "spam junk noise filler words", false),
      (5L, "alpha noise beta junk gamma", false),
      (6L, "", true))
    val tc = Array.fill(buckets)(0L)
    val rc = Array.fill(buckets)(0L)
    for ((_, text, y) <- rows; g <- grams(text)) {
      val b = (Hashing.fnv1a(g) & (buckets - 1)).toInt
      if (y) tc(b) += 1 else rc(b) += 1
    }
    val t = tc.sum; val r = rc.sum
    def lg(n: Long) = Hashing.ilog2Q20(n)
    val expW = (0 until buckets).map(b =>
      b.toLong -> (lg(tc(b) + 1) - lg(rc(b) + 1) -
        lg(t + buckets) + lg(r + buckets))).toMap
    assert(w == expW)

    val scores = TextOps.dsirScores(corpus, "id", "text",
      TextOps.dsirBucketWeights(corpus, "text", "is_target", buckets),
      buckets)
    val got = scores.collect().map(r2 => r2.getAs[Long]("doc_id") ->
      (r2.getAs[Long]("n_grams"), r2.getAs[Long]("score_q20"))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L)) // doc 6 has no grams
    for ((id, text, _) <- rows if id != 6L) {
      val gs = grams(text)
      val exp = gs.map(g => expW((Hashing.fnv1a(g) & (buckets - 1)))).sum
      assert(got(id) == ((gs.size.toLong, exp)), s"doc $id")
    }
    // separation: pure-target docs outscore pure-raw docs
    assert(got(1L)._2 > got(3L)._2 && got(2L)._2 > got(4L)._2)

    // scale shape: the weight table must arrive broadcast, and the scorer
    // must not shuffle the exploded corpus on the bucket key
    val plan = scores.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"weight table should broadcast:\n$plan")
  }

  test("bigram LM: pair counts, smoothed costs, and doc scores match a " +
    "first-principles kernel computation; target-like text is cheaper") {
    val corpus = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the rug", true),
      (3L, "the cat sat on the mat", false), // = doc 1, scored cheap
      (4L, "rug mat dog the cat on", false), // shuffled: implausible order
      (5L, "one", true),                     // single word: no bigrams
      (6L, "", false)
    ).toDF("id", "text", "is_target")
    val buckets = 128
    val lm = TextOps.bigramLmTrain(corpus, "text", "is_target", buckets)
    val pairs = lm.collect().map(r => (r.getAs[Long]("ctx"),
      r.getAs[Long]("nxt")) -> r.getAs[Long]("pair_n")).toMap

    def bk(w: String) = Hashing.fnv1a(w) & (buckets - 1)
    def docPairs(text: String): Seq[(Long, Long)] = {
      val ws = text.split(" ").filter(_.nonEmpty).toSeq
      ws.zip(ws.drop(1)).map { case (a, b) => (bk(a), bk(b)) }
    }
    val rows = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "the dog sat on the rug", true),
      (3L, "the cat sat on the mat", false),
      (4L, "rug mat dog the cat on", false),
      (5L, "one", true),
      (6L, "", false))
    val expPairs = rows.filter(_._3).flatMap(r => docPairs(r._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(pairs == expPairs)

    val got = TextOps.bigramLmScores(corpus, "id", "text", lm, buckets)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("cost_sum_q20"),
          r.getAs[Long]("avg_cost_q20")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L)) // 5 and 6 have no bigrams

    val ctxN = expPairs.toSeq.groupBy(_._1._1)
      .map { case (c, v) => c -> v.map(_._2).sum }
    def lg(n: Long) = Hashing.ilog2Q20(n)
    for ((id, text, _) <- rows if got.contains(id)) {
      val ps = docPairs(text)
      val costs = ps.map { p =>
        lg(ctxN.getOrElse(p._1, 0L) + buckets) -
          lg(expPairs.getOrElse(p, 0L) + 1)
      }
      assert(got(id) == ((ps.size.toLong, costs.sum, costs.sum / ps.size)),
        s"doc $id")
    }
    // the in-model doc costs less per bigram than the shuffled doc
    assert(got(3L)._3 < got(4L)._3)
  }

  test("exact-CDF quantile buckets: cdf counts and labels match first " +
    "principles, ties share a bucket, negative values order correctly, " +
    "and the coarse decomposition returns identical output") {
    val vals = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L, 5L, 8L, -7L, 0L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val labels = Seq("head", "middle", "tail")
    def run(shift: Int) = ScalePatterns
      .valueQuantileBuckets(df, "v", labels, coarseShift = shift)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("cdf_count"), r.getAs[String]("part")))).toMap
    // shift=1 spreads the values over several coarse buckets; shift=20
    // collapses them into two (negatives vs non-negatives)
    val got = run(1)
    val n = vals.size
    def cdf(v: Long) = vals.count(_ <= v).toLong
    def lbl(c: Long) = labels(((c * 3 - 1) / n).toInt)
    for ((v, i) <- vals.zipWithIndex)
      assert(got(i.toLong) == ((cdf(v), lbl(cdf(v)))), s"id $i v $v")
    assert(run(20) == got)
    // ties: the three 5s share one cdf count and bucket
    val fives = vals.zipWithIndex.filter(_._1 == 5L).map(_._2.toLong)
    assert(fives.map(got).toSet.size == 1)
  }

  test("perplexity partition: composition equals CDF-of-scores; " +
    "repetitive in-model text heads, unseen text tails, ties share") {
    val corpus = Seq(
      (1L, "the cat sat on the mat", true),
      // doubled doc: its pairs train to higher counts => cheapest
      (2L, "the cat sat on the mat the cat sat on the mat", true),
      (3L, "the cat sat on the mat", false), // ties doc 1 exactly
      (4L, "rug mat dog the cat on", false), // shuffled: mostly unseen
      (5L, "one", true),                     // no bigrams: unscored
      (6L, "the cat sat on the rug", false), // one unseen pair: middle
      (7L, "zx qy wv uk tj si", false)       // fully out-of-model
    ).toDF("id", "text", "is_target")
    val lm = TextOps.bigramLmTrain(corpus, "text", "is_target", 4096)
    val scores = TextOps.bigramLmScores(corpus, "id", "text", lm, 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("avg_cost_q20")).toMap
    val got = TextOps.perplexityPartition(corpus, "id", "text", lm, 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cdf_count"), r.getAs[String]("part")))).toMap
    assert(got.keySet == scores.keySet && got.keySet.size == 6)
    val n = scores.size
    for ((id, v) <- scores) {
      val c = scores.values.count(_ <= v).toLong
      val exp = Seq("head", "middle", "tail")(((c * 3 - 1) / n).toInt)
      assert(got(id) == ((c, exp)), s"doc $id")
    }
    // the in-model docs tie exactly and head (the doubled doc 2 pays
    // for its once-seen mat->the bridge, so it sits above them)
    assert(got(1L) == got(3L) && got(1L)._2 == "head")
    assert(got(2L)._2 == "middle" && got(6L)._2 == "middle")
    assert(got(4L)._2 == "tail" && got(7L)._2 == "tail")
  }

  test("bloom filter: positions match the kernel hash family first-" +
    "principles, the table is dense bits/32 rows, inserted keys NEVER " +
    "miss, and a tiny filter shows false positives but no negatives") {
    val bits = 256
    val k = 3
    val base = docs.filter(col("id") <= 3L)
    val filt = Dedup.bloomBuild(base, "text", bits, k)
    val words = filt.collect().map(r =>
      r.getAs[Long]("word") -> r.getAs[Long]("bits32")).toMap
    assert(words.size == bits / 32 &&
      words.keySet == (0L until bits / 32L).toSet)
    // recompute expected words from first principles
    val exp = Array.fill(bits / 32)(0L)
    for (text <- Seq(docs.collect().filter(_.getLong(0) <= 3L)
        .map(_.getString(1))).flatten; i <- 0 until k) {
      val p = Hashing.mix(Hashing.fnv1a(text) + i) & (bits - 1L)
      exp((p >>> 5).toInt) |= 1L << (p & 31L)
    }
    for (w <- 0 until bits / 32) assert(words(w.toLong) == exp(w), s"word $w")
    // no false negatives: every inserted text screens true (id 4 = exact
    // dup of 1 also hits — same key)
    val scr = Dedup.bloomScreen(docs, "id", "text", filt, bits, k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("bloom_hit")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(scr))
    // a deliberately tiny 64-bit / k=1 filter over 3 keys: screen 200
    // absent keys and verify the verdicts match first-principles
    // membership EXACTLY — absent keys collide (false positives occur),
    // inserted keys still never miss
    val tb = 64
    val tk = 1
    val tiny = Dedup.bloomBuild(base, "text", tb, tk)
    val texp = Array.fill(tb / 32)(0L)
    for (text <- Seq(1L, 2L, 3L).map(id => docs.collect()
        .find(_.getLong(0) == id).get.getString(1)); i <- 0 until tk) {
      val p = Hashing.mix(Hashing.fnv1a(text) + i) & (tb - 1L)
      texp((p >>> 5).toInt) |= 1L << (p & 31L)
    }
    def expectedHit(text: String): Boolean = (0 until tk).forall { i =>
      val p = Hashing.mix(Hashing.fnv1a(text) + i) & (tb - 1L)
      (texp((p >>> 5).toInt) & (1L << (p & 31L))) != 0L
    }
    val absent = (0 until 200).map(i => (1000L + i, s"absent-key-$i"))
      .toDF("id", "text")
    val probe = docs.select(col("id"), col("text")).unionByName(absent)
    val tinyScr = Dedup.bloomScreen(probe, "id", "text", tiny, tb, tk)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("bloom_hit")).toMap
    for (r <- probe.collect())
      assert(tinyScr(r.getLong(0)) == expectedHit(r.getString(1)),
        s"id ${r.getLong(0)}")
    assert(Seq(1L, 2L, 3L, 4L).forall(tinyScr)) // no false negatives
    val fp = (0 until 200).count(i => tinyScr(1000L + i))
    assert(fp >= 1 && fp < 100, s"tiny-filter false positives: $fp")
  }

  test("BM25 top-k matches a from-scratch Q20 recomputation: Lucene-form " +
    "idf, k1=1.2/b=0.75 saturation, split-division exact; only matching " +
    "docs rank, ties break by id") {
    val terms = Seq("the", "fox", "spark")
    val got = TextOps.bm25TopK(docs, "id", "text", terms, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("matched_terms"), r.getAs[Long]("score_q40")))
    // first-principles mirror over the fixture
    val corpus = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def words(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    val n = corpus.size.toLong
    val t = math.max(corpus.values.map(words(_).size.toLong).sum, 1L)
    def split20(x: Long, d: Long) = // floor(x·2^20/d), base-1024 split
      (x * 1024 / d) * 1024 + ((x * 1024 % d) * 1024) / d
    val avgdlQ20 = split20(t, n)
    val dfm = terms.map(q0 =>
      q0 -> corpus.values.count(words(_).contains(q0)).toLong).toMap
    def idf(q0: String) = Hashing.ilog2Q20(2 * n + 2) -
      Hashing.ilog2Q20(2 * dfm(q0) + 1)
    val exp = corpus.toSeq.flatMap { case (id, text) =>
      val ws = words(text)
      val dl = ws.size.toLong
      val rQ20 = split20(dl * 1048576L, avgdlQ20)
      val contribs = terms.flatMap { q0 =>
        val tf = ws.count(_ == q0).toLong
        if (tf == 0) None else {
          val den = 20 * tf * 1048576L + 6 * 1048576L + 18 * rQ20
          Some(idf(q0) * split20(44 * tf * 1048576L, den))
        }
      }
      if (contribs.isEmpty) None
      else Some((id, contribs.size.toLong, contribs.sum))
    }.sortBy { case (id, _, s) => (-s, id) }.take(10)
    assert(got.toSeq == exp,
      s"got ${got.toSeq}\nexp $exp")
    // sanity on the semantics, not just the mirror: docs 1/2/4 match
    // 'the'×3 + 'fox' (two mid-idf terms), doc 3 matches only 'spark'
    // (df=1 → the highest single idf, but one term loses to two here);
    // docs 5/6 match nothing and never rank. The 1/2/4 tie breaks by id.
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L, 3L))
    assert(got.map(_._2).toSeq == Seq(2L, 2L, 2L, 1L))
  }

  test("mixture sampling: rates derive exactly from measured token " +
    "totals + ppm shares; over-allocated sources clamp to keep-all, " +
    "unallocated never keep, and the keep coin is the kernel splitmix64") {
    // fixture token totals: grp a (ids 1,2,3) = 12+12+9 = 33 tokens,
    // grp b (ids 4,5,6) = 12+1+9 = 22 tokens
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rate_q20"), r.getAs[Boolean]("kept"))).toMap
    val out1 = grab(ScalePatterns.mixtureSample(docs, "id", "text", "grp",
      Map("a" -> 900000L), budgetTokens = 400L))
    // a over-allocated (360 allotted vs 33 measured): rate clamps to 1
    for (id <- Seq(1L, 2L, 3L)) assert(out1(id) == ((1048576L, true)))
    // b unallocated: share 0 -> rate 0 -> never kept
    for (id <- Seq(4L, 5L, 6L)) assert(out1(id) == ((0L, false)))
    def split20(x: Long, d: Long) =
      (x * 1024 / d) * 1024 + ((x * 1024 % d) * 1024) / d
    val rate = split20(12L, 33L) // a allotted = 400·0.03 = 12 of 33
    val out2 = grab(ScalePatterns.mixtureSample(docs, "id", "text", "grp",
      Map("a" -> 30000L, "b" -> 500000L), budgetTokens = 400L))
    for (id <- Seq(1L, 2L, 3L))
      assert(out2(id) == ((rate, (Hashing.mix(id) & 1048575L) < rate)),
        s"id $id")
    for (id <- Seq(4L, 5L, 6L)) // 200 allotted >= 22 measured: clamp
      assert(out2(id) == ((1048576L, true)))
    // the mid-rate coin actually splits group a on this fixture
    assert(Seq(1L, 2L, 3L).map(out2(_)._2).distinct.size == 2)
  }

  test("source reputation: exact split-division ppm rates per source " +
    "and corpus-wide; the cross-multiplied verdict flags only sources " +
    "strictly below the threshold share of the global rate") {
    def grab(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("src_ppm"), r.getAs[Long]("global_ppm"),
          r.getAs[Boolean]("low_reputation"))).toMap
    // the/and/of/is: grp a = 6 hits/33 words, grp b = 4/22 — SAME rate
    // (2/11 = 181818 ppm after the split division); nothing flags
    val even = grab(TextOps.sourceReputation(docs, "id", "text", "grp"))
    for (id <- 1L to 6L) assert(even(id) == ((181818L, 181818L, false)))
    // 'the' only: a = 6/33 = 181818 (doc 3 has none), b = 3/22 = 136363,
    // global = 9/55 = 163636; at 85% (139090) only b flags
    val skew = grab(TextOps.sourceReputation(docs, "id", "text", "grp",
      stopwords = Seq("the"), thresholdPct = 85L))
    for (id <- Seq(1L, 2L, 3L))
      assert(skew(id) == ((181818L, 163636L, false)), s"id $id")
    for (id <- Seq(4L, 5L, 6L))
      assert(skew(id) == ((136363L, 163636L, true)), s"id $id")
  }

  test("ccnet normalization collapses case/accents/digit values/whitespace " +
    "runs via one codepoint table, and normalized dedup groups exactly " +
    "the re-renderings") {
    val frame = Seq(
      (1L, "the quick brown fox"),
      (2L, "  THE  QUICK\tBROWN FOX "), // case + whitespace runs
      (3L, "thé qüick brown fox"),      // accents
      (4L, "page 14 rev 7"),
      (5L, "page 98 rev 3"),            // digit-bucketed twin of 4
      (6L, "page 98 rev 30"),           // '00' != '0': NOT a twin
      (7L, null.asInstanceOf[String])   // null -> empty
    ).toDF("id", "text")
    val norm = frame
      .select(col("id"), TextOps.ccnetNormalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "the quick brown fox")
    assert(norm(2L) == "the quick brown fox")
    assert(norm(3L) == "the quick brown fox")
    assert(norm(4L) == "page 00 rev 0")
    assert(norm(5L) == "page 00 rev 0")
    assert(norm(6L) == "page 00 rev 00")
    assert(norm(7L) == "")
    val v = Dedup.normalizedDedupVerdicts(frame, "id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("representative"), r.getAs[Long]("group_size"),
          r.getAs[Boolean]("is_canonical")))).toMap
    assert(v.size == 7)
    assert(v(1L) == ((1L, 3L, true)))
    assert(v(2L) == ((1L, 3L, false)) && v(3L) == ((1L, 3L, false)))
    assert(v(4L) == ((4L, 2L, true)) && v(5L) == ((4L, 2L, false)))
    assert(v(6L) == ((6L, 1L, true)))
    assert(v(7L) == ((7L, 1L, true)))
  }

  test("sequence packing: per-shard prefix offsets, exact window " +
    "arithmetic incl. boundary crossings, empty docs span zero windows, " +
    "shards are independent tapes") {
    val frame = Seq(
      (1L, "w w w", "a"),     // 3 tokens at offset 0 -> window [0,0]
      (2L, "w w w w", "a"),   // 4 at offset 3 -> [0,1]: crosses
      (3L, "w", "a"),         // offset 7 -> [1,1]
      (4L, "", "a"),          // empty at offset 8: first=2, spans 0
      (5L, "w w w w w", "a"), // 5 at offset 8 -> [2,3]
      (6L, "w w", "b")        // shard b: its own tape, offset 0
    ).toDF("id", "text", "grp")
    val got = TextOps.packSequences(frame, "id", "text", "grp",
      windowTokens = 4L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("start_token"),
          r.getAs[Long]("first_window"), r.getAs[Long]("last_window"),
          r.getAs[Long]("n_windows")))).toMap
    assert(got(1L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(got(2L) == ((4L, 3L, 0L, 1L, 2L)))
    assert(got(3L) == ((1L, 7L, 1L, 1L, 1L)))
    assert(got(4L) == ((0L, 8L, 2L, 2L, 0L)))
    assert(got(5L) == ((5L, 8L, 2L, 3L, 2L)))
    assert(got(6L) == ((2L, 0L, 0L, 0L, 1L)))
  }

  test("winnowing: selections match a first-principles window scan with " +
    "UNSIGNED hash order and rightmost ties; shared runs >= w+k-1 tokens " +
    "always share a fingerprint; short docs degrade gracefully") {
    val k = 3; val w = 4
    // first-principles mirror of the paper's algorithm
    def naive(text: String): Set[(Int, Long)] = {
      val toks = text.split(" ").filter(_.nonEmpty)
      val m = toks.length - k + 1
      if (m <= 0) return Set.empty
      val hs = Array.tabulate(m)(i =>
        Hashing.fnv1a(toks.slice(i, i + k).mkString(" ")))
      (0 to math.max(m - w, 0)).map { j =>
        val win = j until math.min(j + w, m)
        val bestIdx = win.foldLeft(win.head) { (b, i) =>
          if (java.lang.Long.compareUnsigned(hs(i), hs(b)) <= 0) i else b
        }
        (bestIdx, hs(bestIdx))
      }.toSet
    }
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river",
      2L -> "intro words then the quick brown fox jumps over the lazy dog",
      3L -> "completely different text about spark catalyst rules here",
      4L -> "a b", // shorter than k: empty sketch
      5L -> "a b c d" // m=2 < w: one window
    )
    val frame = texts.toDF("id", "text")
    val got = Dedup.winnowedFingerprints(frame, "id", "text", k, w)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id ->
        rs.map(r => (r.getAs[Long]("pos").toInt,
          r.getAs[Long]("fingerprint"))).toSet }
    for ((id, text) <- texts)
      assert(got.getOrElse(id, Set.empty) == naive(text), s"doc $id")
    assert(!got.contains(4L))
    // docs 1 and 2 share the 9-token run "the quick ... lazy dog"
    // (>= w+k-1 = 6): the detection guarantee promises a shared hash
    val shared = got(1L).map(_._2).intersect(got(2L).map(_._2))
    assert(shared.nonEmpty)
    assert(got(1L).map(_._2).intersect(got(3L).map(_._2)).isEmpty)

    val pairs = Dedup.winnowedOverlapPairs(frame, "id", "text", k, w,
      minShared = 1L, maxDocFreq = 16L)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("shared_fingerprints"))).toSet
    assert(pairs.contains((1L, 2L, shared.size.toLong)))
    assert(pairs.forall(p => p._1 == 1L && p._2 == 2L))
  }

  test("leakage-proof split: near-dup clusters land wholly on one side, " +
    "the coin is mix64(component) per-mille, and the extremes degenerate " +
    "to all-train / all-eval") {
    def grab(per: Int) = Dedup.leakageProofSplit(docs, "id", "text", per,
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[String]("split")))).toMap
    val v = grab(200)
    assert(v.size == 6)
    // docs 1/2/4 form the near-dup cluster rooted at 1; the rest are
    // their own singleton components
    assert(Seq(1L, 2L, 4L).forall(v(_)._1 == 1L))
    for (id <- Seq(3L, 5L, 6L)) assert(v(id)._1 == id, s"doc $id")
    // exactly one coin per component, matching the kernel hash
    def coin(c: Long) =
      if (java.lang.Math.floorMod(Hashing.mix(c), 1000L) < 200L) "eval"
      else "train"
    for ((id, (c, s)) <- v) assert(s == coin(c), s"doc $id")
    assert(Seq(1L, 2L, 4L).map(v(_)._2).distinct.size == 1)
    assert(grab(0).values.forall(_._2 == "train"))
    assert(grab(1000).values.forall(_._2 == "eval"))
  }

  test("minhash bucket-star edges: component labels EXACTLY equal the " +
    "all-pairs candidate graph's (the provable clique≡star property), " +
    "with linear instead of quadratic fan-out") {
    def labels(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (corpus <- Seq(
        docs.withColumnRenamed("id", "doc_id"),
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet"))) {
      val star = Dedup.minhashClusterEdges(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8)
      val cand = Dedup.minhashCandidatePairs(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 32, numBands = 8)
      assert(labels(star) == labels(cand), "component labels diverged")
      // star fan-out is n−1 per bucket vs n(n−1)/2 pairs — never more rows
      assert(star.count() <= cand.count())
      assert(star.count() > 0)
    }
  }

  test("minhash hot-bucket cap: a planted 40-doc template cluster's " +
    "quadratic pairs are pruned, every other verified pair survives " +
    "(the documented recall trade hits only the hot buckets)") {
    val template = (100L until 140L)
      .map(i => (i, "lorem ipsum template boilerplate navigation footer " +
        "copyright terms privacy contact about site map", "t"))
    val all = docs.unionByName(template.toDF("id", "text", "grp"))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unbounded = pairSet(Dedup.minhashNearDups(all, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5))
    // 40 byte-identical docs: C(40,2) = 780 template pairs in EVERY bucket
    assert(unbounded.count(p => p._1 >= 100L && p._2 >= 100L) == 780)
    val capped = pairSet(Dedup.minhashNearDups(all, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5,
      maxBucketDocs = 8L))
    // the cap removes exactly the template-cluster pairs (its members fill
    // every one of their buckets past the cap); all other pairs survive
    assert(capped == unbounded.filterNot(p => p._1 >= 100L && p._2 >= 100L),
      s"missing=${unbounded.diff(capped).filterNot(p => p._1 >= 100L).take(3)} " +
        s"extra=${capped.diff(unbounded).take(3)}")
    // the star-edge path needs NO cap: linear rows even on the hot bucket,
    // and the template cluster keeps ONE component
    val star = Dedup.minhashClusterEdges(all, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 16)
    val starRows = star.count()
    assert(starRows < 780, s"star fan-out should be linear, got $starRows")
    val comp = Dedup.connectedComponents(star, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L until 140L).forall(comp(_) == 100L))
  }

  test("bpeMerges minCount floor and maxVocab heavy-hitters cut " +
    "bound the driver collect; trace unchanged when the dropped tail " +
    "carries no winning support") {
    def trace(got: org.apache.spark.sql.DataFrame) =
      got.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    // 10× "low", 3× "lower", plus singleton junk tokens (URL-fragment tail)
    val df = (Seq.fill(10)("low") ++ Seq.fill(3)("lower") ++
      Seq("qz0x", "vv9k", "m3uu")).map(Tuple1(_)).toDF("text")
    val full = trace(TextOps.bpeMerges(df, "text", steps = 4))
    val floored = trace(TextOps.bpeMerges(df, "text", steps = 4,
      minCount = 2L))
    // the junk singletons never carry a winning pair on this corpus, so
    // the floored trace is identical above the floor
    assert(floored == full, s"\nfull: $full\nfloored: $floored")
    // top-1 heavy-hitters cut: only "low" (cnt 10) survives the collect —
    // its exact trace is (l,o)@10 then (lo,w)@10, then exhaustion
    val top1 = trace(TextOps.bpeMerges(df, "text", steps = 4,
      maxVocab = 1))
    assert(top1 == Seq((1, "l", "o", 10L), (2, "lo", "w", 10L)), top1)
  }

  test("multimodal decode routes real PNG/JPEG image payloads through " +
    "the full pixel decoder; audio/video and non-container bytes keep " +
    "the stub") {
    import graft.kernel.MediaCodec
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaCodec.renderPng(20, 10)),
      Multimodal.MediaRow(2L, "image", MediaCodec.renderJpeg(24, 16)),
      Multimodal.MediaRow(3L, "image", Array[Byte](9, 9, 9, 9, 9, 9, 9, 9)),
      Multimodal.MediaRow(4L, "audio", MediaCodec.renderPng(20, 10)))
      .toDF()
    val out = Multimodal.decode(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    // real PNG: decoded dims, blank raster = all-255 luminance → bin 7
    assert(out(1L).getInt(3) == 20 && out(1L).getInt(4) == 10)
    assert(out(1L).getAs[Seq[Float]]("feature")(7) == 1.0f)
    // real baseline JPEG: blank raster IDCTs to 208 everywhere → bin 6
    assert(out(2L).getInt(3) == 24 && out(2L).getInt(4) == 16)
    assert(out(2L).getAs[Seq[Float]]("feature")(6) == 1.0f)
    // non-container image bytes and audio rows keep the stub's shape
    assert(out(3L).getInt(3) >= 64)
    assert(out(4L).getInt(3) >= 64)
  }

  test("leakage-proof split with bucketStarEdges: every VERIFIED near-dup " +
    "pair still lands wholly on one side (candidate components only " +
    "coarsen the verified ones — conservative in the safe direction)") {
    val v = Dedup.leakageProofSplit(docs, "id", "text", 200,
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5,
      bucketStarEdges = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("component"), r.getAs[String]("split")))).toMap
    assert(v.size == 6)
    val verified = Dedup.minhashNearDups(docs, "id", "text",
      shingleK = 3, numHashes = 32, numBands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(verified.nonEmpty)
    for ((a, b) <- verified) {
      assert(v(a)._1 == v(b)._1, s"pair ($a,$b) split across components")
      assert(v(a)._2 == v(b)._2, s"pair ($a,$b) split across sides")
    }
    // the coin is still one mix64 per component
    for ((id, (c, s)) <- v) {
      val expect =
        if (java.lang.Math.floorMod(Hashing.mix(c), 1000L) < 200L) "eval"
        else "train"
      assert(s == expect, s"doc $id")
    }
  }
}

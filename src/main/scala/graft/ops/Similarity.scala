package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (broadcast the small query
  * side — corpus-side stays partition-local, no corpus shuffle); the
  * random-hyperplane LSH bucketing is the scale path: bucket ids are
  * computed row-locally from literal plane vectors, and the candidate join
  * shuffles on the bucket key, turning O(queries × corpus) into
  * O(bucket collisions). */
object Similarity {

  /** Cosine similarity of two array<double> columns via higher-order
    * functions — codegen'd, no UDF. The dot products are sequential left
    * folds, so the value is reproducible bit-for-bit by any engine that
    * folds left (the DuckDB oracles use `list_reduce`). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x * x))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (na * nb))
  }

  /** The cosine of `v` to every centroid, in centroid order: ONE
    * array<array<double>> literal (`typedlit`) that a `transform`
    * iterates at runtime, so the plan stays O(1) in the centroid count.
    * The one centroid-scoring definition of [[ivfTopK]],
    * [[trainQuantizer]] and [[semDedup]]. */
  private def centroidScores(v: Column, cents: Array[Array[Double]]): Column =
    transform(typedlit(cents.map(_.toSeq).toSeq), ct => cosine(v, ct))

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. `queries` must be small (it is broadcast). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplane component, derived from MD5 so that any
    * engine with an `md5` builtin can reproduce the planes exactly (the
    * DuckDB oracle recomputes them in SQL): component (seed, h, d) is +1
    * iff the top bit of md5("plane:<seed>:<h>:<d>") is set. */
  def planeSign(seed: Long, h: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(s"plane:$seed:$h:$d".getBytes("UTF-8"))
    if ((dig(0) & 0x80) != 0) 1.0 else -1.0
  }

  private def planes(numPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] =
    Seq.tabulate(numPlanes)(h => Array.tabulate(dim)(d => planeSign(seed, h, d)))

  /** Sign of dot(vec, plane_h) as a 0/1 bit column (sequential fold). */
  private def planeBit(vec: Column, plane: Array[Double]): Column = {
    val planeLit = array(plane.map(lit): _*)
    val dot = aggregate(zip_with(vec, planeLit, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    when(dot >= 0.0, 1L).otherwise(0L)
  }

  /** Sign-random-projection bucket id over planes [from, from+count). */
  def lshBucket(vec: Column, numPlanes: Int, dim: Int, seed: Long = 42L): Column =
    planes(numPlanes, dim, seed).zipWithIndex.map { case (p, h) =>
      planeBit(vec, p) * lit(1L << h)
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: candidates share the query's bucket;
    * ranked by exact cosine within bucket. Trades recall for a join that
    * shuffles on bucket ids instead of a cross product. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 12,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val bucket = (v: Column) => lshBucket(v, numPlanes, dim, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bucket", bucket(col("cv")))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bucket", bucket(col("qv")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF-Flat approximate top-k: a coarse quantizer of `nlist` centroids
    * partitions the corpus into inverted lists; each query probes its
    * `nprobe` nearest centroids and ranks exact cosine ONLY within those
    * lists. Shuffle story at scale: the corpus shuffles once on its
    * cluster id (the inverted lists ARE the partitioning); queries
    * broadcast; candidate volume is the probed lists, not the corpus.
    *
    * The quantizer uses the standard random-sample training shortcut:
    * centroids are the `nlist` lowest-id corpus vectors, collected once
    * (tiny, like loading a trained quantizer) and shipped as ONE
    * array<array<double>> literal (`typedlit`) that a higher-order
    * `transform` iterates at runtime — so the PLAN stays O(1) in `nlist`
    * and whole-stage codegen survives realistic parameters (per-centroid
    * literal expressions would put nlist·dim literal nodes in the
    * projection and hit the JVM 64KB codegen method limit around
    * nlist ≈ hundreds; asserted at nlist=256 in OpsSpec). Ties break to
    * the smallest centroid index; probing keeps every centroid scoring ≥
    * the nprobe-th best (rank-with-ties semantics) — all deterministic
    * and replicated exactly by the DuckDB oracle (q41). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 2,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents: Array[Array[Double]] =
      centroids.getOrElse(sampleCentroids(corpus, idCol, vecCol, nlist))

    // the cluster id is wrapped non-null (coalesce with 0, which matches
    // no 1-based query cluster — identical join result for a null vector):
    // a NULLABLE join key makes the optimizer infer isnotnull(cluster)
    // and push the ENTIRE inlined centroid-scoring expression into a
    // Filter at the scan — which is single-row-group, so the nlist×dim
    // cosine transform ran serially per row there, then AGAIN in the
    // parallel projection (round 7; the shingleTable pushdown trap's
    // join-constraint variant)
    val assigned = corpus
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("scores", centroidScores(col("cv"), cents))
      .withColumn("cluster",
        coalesce(array_position(col("scores"), array_max(col("scores"))),
          lit(0L)))
      .drop("scores")

    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("scores", centroidScores(col("qv"), cents))
      .withColumn("nth", element_at(sort_array(col("scores"), asc = false),
        math.min(nprobe, cents.length)))
      // no inferable constraint on `scores` or `nth`: a plain posexplode
      // (size(scores) > 0) or a bare `score >= nth` (isnotnull(nth)) lets
      // the optimizer push the whole centroid scoring into the scan's
      // Filter, where it runs a second time per row. The outer row of an
      // empty array has a null score and fails the probe like a null.
      .select(col("query_id"), col("qv"), col("nth"),
        posexplode_outer(col("scores")).as(Seq("pos", "score")))
      .filter(coalesce(col("score") >= col("nth"), lit(false)))
      .select(col("query_id"), col("qv"),
        (col("pos") + 1).cast("long").as("cluster"))

    val scored = assigned.join(broadcast(q), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Lowest-id centroid seeding — the ONE definition both
    * [[sampleCentroids]] and [[trainQuantizer]] use, so the trained
    * quantizer can never silently initialize differently from the
    * oracle-checked sample rule. Null embeddings are always dropped
    * (they would NPE on the driver); `dim` additionally drops
    * wrong-dimension vectors for the Lloyd's path, where such a seed
    * would be a DEAD centroid (its cosine is always null, it never
    * attracts members, it is never repaired). */
  private def seedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, dim: Option[Int]): Array[Array[Double]] = {
    val vecs = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    dim.fold(vecs)(d => vecs.filter(size(col("v")) === d))
      .orderBy(col("id")).limit(nlist)
      .collect().map(_.getSeq[Double](1).toArray)
  }

  /** The deterministic sample quantizer `ivfTopK` uses by default.
    * `trainQuantizer` seeds with the same lowest-id rule but over its
    * null-AND-dimension-filtered assignment base (it knows `dim`; this
    * one does not), so on clean corpora the two initializations are
    * identical — the q55 oracle's `WHERE vec_id < nlist` seed — while a
    * wrong-dimension vector can never become a dead trained centroid. */
  def sampleCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Array[Array[Double]] =
    // wrong-dimension vectors are the caller's concern here (no dim
    // param — the q41 oracle's seeding rule)
    seedCentroids(corpus, idCol, vecCol, nlist, dim = None)

  /** Train a REAL coarse quantizer for `ivfTopK` with Lloyd's iterations
    * (spherical k-means under the cosine measure): initialize from the
    * `nlist` lowest-id corpus vectors (deterministic), then per iteration
    * assign every vector to its argmax-cosine centroid (the single
    * `typedlit` literal — plan O(1) in nlist) and recompute each centroid
    * as the mean of its members. The per-iteration aggregate is ONE
    * map-side-combining shuffle of (cluster → dim partial sums) — `dim`
    * sum expressions, constant in both nlist and corpus size — and the
    * driver only ever holds nlist×dim doubles ("a trained quantizer").
    * Empty clusters keep their previous centroid. Assignment ties break
    * to the smallest centroid index (deterministic); the floating-point
    * partial-sum order is partition-dependent, so trained centroids are
    * run-deterministic only up to summation order — fine for a trainer,
    * which is why q41's oracle keeps the deterministic sample quantizer. */
  def trainQuantizer(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      dim: Int,
      iterations: Int = 5): Array[Array[Double]] = {
    // seed from the SAME null-and-dimension-filtered base Lloyd's
    // assigns over — the shared seedCentroids rule with the dim filter on
    var cents = seedCentroids(corpus, idCol, vecCol, nlist, Some(dim))
    // persist the cast vectors: Lloyd's re-reads the corpus every
    // iteration, and caching also MATERIALIZES the array<double> cast so
    // column pruning cannot re-inline it into the per-centroid transform
    // lambda (the measured HOF re-evaluation trap).
    // Null / wrong-dimension vectors are dropped BEFORE assignment:
    // zip_with pads length mismatches with null, cosine then yields null,
    // and a cluster=null stats row would NPE on getLong below.
    val base = corpus.select(col(vecCol).cast("array<double>").as("cv"))
      .filter(col("cv").isNotNull && size(col("cv")) === dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    while (iter < iterations) {
      val assigned = base
        .withColumn("scores", centroidScores(col("cv"), cents))
        .withColumn("cluster",
          array_position(col("scores"), array_max(col("scores"))))
        .drop("scores")
      val aggs: Seq[Column] = count(lit(1)).as("n") +:
        (0 until dim).map(d => sum(element_at(col("cv"), d + 1)).as(s"s$d"))
      val stats = assigned.groupBy(col("cluster"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val next = cents.map(_.clone())
      stats.filterNot(_.isNullAt(0)).foreach { row =>
        val c = row.getLong(0).toInt - 1 // array_position is 1-based
        val n = row.getLong(1)
        if (c >= 0 && c < nlist && n > 0) {
          var d = 0
          while (d < dim) { next(c)(d) = row.getDouble(2 + d) / n; d += 1 }
        }
      }
      cents = next
      iter += 1
    }
    base.unpersist()
    cents
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane LSH.
    *
    * Candidate generation is the scale path: each vector lands in
    * `numBands` band buckets (each band = `numPlanes/numBands` hyperplane
    * sign bits), and only pairs sharing (group, band, bucket) are joined —
    * the join-key cardinality is |groups| × numBands × 2^bandBits and each
    * bucket holds a corpus-fraction, so the pair count stays
    * O(collisions) instead of O(block²) as the corpus grows. Candidate
    * pairs are deduplicated BEFORE the exact-cosine verify (a pair
    * colliding in several bands is verified once), then vectors are joined
    * back for the one verify pass.
    *
    * Output contract: pairs with cosine ≥ threshold that share at least
    * one band bucket — the standard LSH near-dup semantics (recall < 1 by
    * design, tunable via numBands). The MD5-derived planes make the
    * bucketing engine-reproducible, so the DuckDB oracle checks the full
    * output including the bucketing step. */
  def cosineNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      groupCol: String,
      threshold: Double,
      numPlanes: Int = 16,
      numBands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val bandSize = numPlanes / numBands
    val ps = planes(numPlanes, dim, seed)
    val base = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))

    val bandStructs = (0 until numBands).map { b =>
      val bucket = (0 until bandSize).map { i =>
        planeBit(col("v"), ps(b * bandSize + i)) * lit(1L << i)
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    // materialized once (the Dedup.bandTable rationale): the candidate
    // self-join consumes this per side, and each side would otherwise
    // re-run the numPlanes×dim plane-sign dot products per row. Small by
    // construction — rows × numBands of four fixed-width columns.
    val banded = base
      .withColumn("bk", explode(array(bandStructs: _*)))
      .select(col("grp"), col("id"), col("bk.band"), col("bk.bucket"))
      .localCheckpoint(eager = false)

    val l = banded.select(col("grp"), col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("grp"), col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("grp", "band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val va = base.select(col("id").as("id_a"), col("v").as("v_a"))
    val vb = base.select(col("id").as("id_b"), col("v").as("v_b"))
    candidates
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-screen. K-means clusters the corpus
    * embeddings (the [[trainQuantizer]] Lloyd's machinery — deterministic
    * lowest-id seeding, smallest-index argmax ties), then WITHIN each
    * cluster members are screened in centroid-proximity order (cosine to
    * own centroid DESC, id ASC): a member is `removed` iff some member
    * EARLIER in that order — kept or not, the paper implementation's
    * upper-triangle rule, which keeps the screen a single non-iterative
    * join rather than a sequential fold — is within `threshold` cosine of
    * it. Survivors are the far-from-centroid representatives, which is
    * the paper's diversity-preserving retention choice.
    *
    * Scale story: the quadratic screen is confined to clusters, so
    * `nlist` is the knob that bounds per-task pair counts (grow it with
    * the corpus; the paper runs 50k clusters at LAION scale). The plan
    * shuffles the corpus ONCE on the cluster id — the window rank and
    * the within-cluster self-join reuse that same hash partitioning —
    * and the centroid table rides along as a single `typedlit` literal
    * (plan O(1) in nlist). Per-side pipelines carry only
    * (cluster, rank, id, vector), so the self-join's
    * upstream-once-per-side re-evaluation re-does cheap projection, not
    * kernel work. Rows with null / wrong-dimension vectors are excluded
    * (they can neither cluster nor match — same rule as the trainer).
    *
    * Output: one row per clustered vector —
    * (id, cluster, centroid_cosine, removed). */
  def semDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64,
      nlist: Int = 8,
      iterations: Int = 2,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      trainQuantizer(corpus, idCol, vecCol, nlist, dim, iterations))
    val assigned = corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && size(col("v")) === dim)
      .withColumn("scores", centroidScores(col("v"), cents))
      .withColumn("cluster",
        array_position(col("scores"), array_max(col("scores"))))
      .withColumn("centroid_cosine", array_max(col("scores")))
      .drop("scores")
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("centroid_cosine").desc, col("id").asc)
    // materialized once (the shingleTable rationale): the screen join
    // consumes this per side and the verdict join a third time — without
    // the checkpoint each consumer re-runs the corpus scan, the
    // nlist-centroid cosine transform and the rank window.
    val ranked = assigned.withColumn("rn", row_number().over(w))
      .localCheckpoint(eager = false)
    val earlier = ranked.select(col("cluster"), col("rn").as("rn_a"),
      col("v").as("v_a"))
    val later = ranked.select(col("cluster"), col("rn").as("rn_b"),
      col("id").as("id_b"), col("v").as("v_b"))
    val removed = earlier.join(later, Seq("cluster"))
      .filter(col("rn_a") < col("rn_b") &&
        cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as("id"))
      .distinct()
      .withColumn("removed", lit(true))
    ranked
      .join(removed, Seq("id"), "left")
      .select(col("id"), col("cluster"), col("centroid_cosine"),
        coalesce(col("removed"), lit(false)).as("removed"))
  }
}

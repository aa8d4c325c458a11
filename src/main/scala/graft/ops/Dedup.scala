package graft.ops

import graft.expr.KernelExpressions
import graft.kernel.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * All-column-expression implementations (codegen'd, shuffle only where a
  * groupBy/join is semantically required); the LSH band bucket IS the
  * shuffle key, so candidate generation scales as O(docs × bands) rows
  * instead of O(docs²) pairs.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on md5 of the key column. Returns one row per
    * duplicate group: representative (min id), count, and the key hash.
    * One shuffle (partial+final hash agg — map-side combine keeps it
    * narrow at 10^12 scale because identical payloads collapse early). */
  def exactGroups(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(md5(col(keyCol).cast("binary")).as("key_md5"))
      .agg(
        min(col(idCol)).as("representative"),
        count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Keep-one-per-group projection (the apply side of exact dedup):
    * rows whose id is the min within their key group. Expressed as an
    * aggregate + semi-join rather than a window so the map-side combine
    * applies. */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val reps = df
      .groupBy(md5(col(keyCol).cast("binary")).as("key_md5"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(reps, Seq(idCol), "left_semi")
  }

  /** Normalized exact dedup (CCNet, Wenzek et al. LREC'20 §3.1): exact
    * dedup keyed on md5 of the [[graft.ops.TextOps.ccnetNormalize]]d text,
    * so documents differing only in case, Latin accents, digit values, or
    * whitespace runs collapse into one group — the paraphrase-insensitive
    * sweet spot BETWEEN byte-exact dedup (misses trivial re-renderings)
    * and MinHash near-dup (pays candidate generation). One verdict row
    * per input doc: group representative (min id), group size, and
    * whether this doc is the canonical survivor.
    *
    * Shuffle story at 100 TB: normalization is row-local codegen feeding
    * the md5, so the group aggregate's Exchange carries (16-byte key,
    * id) — never text — and map-side combine collapses identical pages
    * before the wire; the verdict join is keyed on the same md5, reusing
    * the aggregate's partitioning (AQE broadcasts the group table when
    * the duplicate population is small). */
  def normalizedDedupVerdicts(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // materialized once (the shingleTable rationale): the group aggregate
    // AND the verdict join both consume this table, and without the
    // checkpoint each would re-run the normalize+md5 scan over the corpus
    // text. 48 bytes/row (id + hex md5) — at crawl scale the same pattern
    // persists the key table.
    val keyed = df.select(col(idCol).as("doc_id"),
      md5(graft.ops.TextOps.ccnetNormalize(col(textCol)).cast("binary"))
        .as("norm_md5"))
      .localCheckpoint(eager = false)
    val groups = keyed.groupBy(col("norm_md5"))
      .agg(min(col("doc_id")).as("representative"),
        count(lit(1)).as("group_size"))
    keyed.join(groups, Seq("norm_md5"))
      .select(col("doc_id"), col("norm_md5"), col("representative"),
        col("group_size"),
        (col("doc_id") === col("representative")).as("is_canonical"))
  }

  /** Connected components over a near-duplicate PAIR table — the dedup
    * endgame: pairs become clusters and one representative (the min id)
    * survives per cluster.
    *
    * Two steps. First the canonical edge set is CONTRACTED per partition
    * ([[contractPartition]]: an in-memory union-find that rewrites the
    * partition's edges as the star forest of its own components, inside
    * the stage that builds the edge checkpoint — no extra job). When that
    * already leaves a global star forest — every graph whose components
    * each fit one partition, e.g. any graph AQE coalesces into one — the
    * call converges in 0 rounds. Otherwise the cross-partition leftovers
    * go through alternating large-star/small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public):
    * each round is two keyed shuffles (a map-side-combining per-vertex
    * `min` aggregate + an equi-join re-emitting edges toward that min),
    * and the edge set converges to a star forest rooted at each
    * component's minimum id in O(log diameter) rounds — a diameter-10
    * chain spread over 16 partitions converges in ≤4 rounds where plain
    * min-label propagation needs 10 (OpsSpec pins this). `localCheckpoint`
    * cuts lineage each round so the plan stays constant-size across
    * iterations; convergence is checked with scalar counts (never a data
    * collect). If `maxIter` rounds pass without a fixpoint (diameter >
    * 2^maxIter — astronomically large pair graphs only) the call THROWS
    * rather than silently returning labels that would leak duplicates
    * through `dropNearDuplicates`.
    *
    * Returns (id, component): every vertex of the pair graph with the min
    * reachable id as its component label — deterministic regardless of
    * partitioning or iteration count past convergence. */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** `connectedComponents` plus the number of large+small-star rounds it
    * took to converge (0 when the contraction alone left a star forest) —
    * exposed so tests can pin the round count. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    // materialize the pair table ONCE: verts and edges below are two
    // consumers, and without this checkpoint each would re-evaluate the
    // whole pair-generation upstream (for LSH pairs that is the full
    // shingle/minhash/band/verify pipeline — the round-5 composition
    // cost the driver bench surfaced on q45/q54/q62/q68)
    val dirE0 = pairs.select(
      col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(eager = false)
    // vertices snapshot BEFORE the self-pair filter: a vertex appearing
    // only in (v, v) rows still belongs to the pair graph and must get a
    // label (its own id), per the every-vertex contract. NOT checkpointed
    // (round 7): it has exactly one consumer — the final labels join — and
    // reads the already-checkpointed dirE0, so the eager materialization
    // job bought nothing.
    val verts = dirE0.select(col("src").as("id"))
      .union(dirE0.select(col("dst").as("id")))
      .distinct()
    val contracted = contractedEdges(dirE0).localCheckpoint(eager = false)
    // a contraction that ran as ONE task saw every edge, so its output is
    // already the star forest: no check job
    val (forest, rounds) =
      if (contracted.rdd.getNumPartitions <= 1) (contracted, 0)
      else starForest(contracted, maxIter)
    // converged star forest: every non-root points at its component root
    val labels = verts
      .join(forest.select(col("src").as("id"), col("dst").as("component")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"))
    (labels, rounds)
  }

  /** Large/small-star rounds over a canonical (src > dst, no self-loop)
    * edge set until it is a star forest rooted at each component's
    * minimum; returns the forest and the number of rounds run. Duplicate
    * edges are allowed (they fail the check and the rounds drop them).
    * The fixpoint is detected STRUCTURALLY (one edge per src, no src is
    * another edge's dst), first on the input itself (an empty set passes),
    * then on each round's own output, so convergence costs no extra
    * confirmation round. */
  private[graft] def starForest(edges0: DataFrame, maxIter: Int): (DataFrame, Int) = {
    var edges = edges0
    var iter = 0
    var done = starViolations(edges).isEmpty
    while (!done && iter < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      iter += 1
      done = starViolations(edges).isEmpty
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter star rounds — " +
          "labels would be incomplete and dropNearDuplicates would leak " +
          "duplicates; raise maxIter")
    (edges, iter)
  }

  /** The canonical edge set of a (src, dst) pair table — larger→smaller
    * direction, self-loops dropped, distinct — with every partition of the
    * distinct's output contracted by [[contractPartition]]. The union of
    * the per-partition star forests has exactly the components of the
    * input, so labels are unchanged; an edge set whose components span
    * partitions (or a vertex contracted in two partitions, which then
    * carries two edges) is not a star forest and goes through the star
    * rounds. */
  private[graft] def contractedEdges(dirE0: DataFrame): DataFrame = {
    val spark = dirE0.sparkSession
    import spark.implicits._
    dirE0
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()
      .as[(Long, Long)]
      .mapPartitions(contractPartition)
      .toDF("src", "dst")
  }

  /** Union-find over one partition's (src, dst) edges: emits (v, the min
    * id of v's component within the partition) for every vertex that is
    * not that min, i.e. the partition's star forest in canonical
    * (src > dst) form. Vertex ids are sorted and deduplicated into a
    * `long[]` and addressed by binary search; parents are `int[]` indexes.
    * Index order is id order, so linking the larger root under the
    * smaller keeps every root its component's minimum. Memory is linear in
    * the partition's edge count (SCALE.md gives the bytes per edge). */
  private[graft] def contractPartition(
      it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](64) // src, dst interleaved
    var n = 0
    while (it.hasNext) {
      val (s, d) = it.next()
      if (n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, 2 * ends.length)
      ends(n) = s
      ends(n + 1) = d
      n += 2
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var m = 0
    var i = 0
    while (i < n) {
      if (m == 0 || ids(i) != ids(m - 1)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < n) {
      val a = find(java.util.Arrays.binarySearch(ids, 0, m, ends(i)))
      val b = find(java.util.Arrays.binarySearch(ids, 0, m, ends(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    Iterator.range(0, m).map(v => v -> find(v))
      .collect { case (v, r) if r != v => (ids(v), ids(r)) }
  }

  /** A canonical (src > dst) edge set is the large/small-star fixpoint iff
    * it is a star forest rooted at each component's minimum: every src
    * carries exactly one edge, and no src is another edge's dst. This
    * returns the vertices that break it — per vertex, its src and dst
    * appearance counts, kept where it has 2+ src edges or both roles — so
    * `starViolations(edges).isEmpty` is the convergence check: ONE
    * vertex-keyed map-side-combining aggregate job (round 7 folded the
    * previous grouped count plus distinct+distinct intersect into it).
    * Never a data collect. */
  private[graft] def starViolations(edges: DataFrame): DataFrame =
    edges.select(col("src").as("v"), lit(1L).as("s"), lit(0L).as("d"))
      .union(edges.select(col("dst").as("v"), lit(0L).as("s"), lit(1L).as("d")))
      .groupBy(col("v"))
      .agg(sum(col("s")).as("ns"), sum(col("d")).as("nd"))
      .filter(col("ns") > 1L || (col("ns") > 0L && col("nd") > 0L))

  /** Large-star round (Kiveris et al. §3): for every vertex u, connect each
    * STRICTLY LARGER neighbor v to m = min({u} ∪ N(u)). One symmetrized
    * per-vertex min aggregate (map-side combining) + one equi-join; output
    * stays in canonical larger→smaller form. */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
    sym.join(mins, Seq("src"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), least(col("src"), col("mn")).as("dst"))
      .distinct()
  }

  /** Small-star round (Kiveris et al. §3): for every vertex u, connect u
    * and each not-larger neighbor to m = min({u} ∪ N≤(u)). Edges arrive
    * canonical (src > dst), so the smaller-neighbor set is exactly the
    * grouped dst values. */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("src").agg(min("dst").as("mn"))
    val nbr = edges.join(mins, Seq("src"))
      .select(col("dst").as("src"), col("mn").as("dst"))
    val self = mins.select(col("src"), col("mn").as("dst"))
    nbr.union(self)
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Apply-side of near-dup clustering: drop every row whose id belongs
    * to a cluster but is not its representative (the min id). One
    * left-anti equi-join against the non-representative members — the
    * components table is tiny relative to the corpus (only ids that
    * appeared in some pair), so the join broadcasts at scale. */
  def dropNearDuplicates(
      df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical selection: per near-dup component, keep the
    * member with the HIGHEST quality score (ties → smallest id) instead
    * of the min-id representative — the retention policy a real corpus
    * wants (when boilerplate-stripped and full-boilerplate captures of a
    * page near-dup each other, keep the clean one). Any deterministic
    * per-doc score column works (a length proxy, Gopher signals, the
    * trained classifier's integer ppm score).
    *
    * Output: one verdict row per input doc — (id, component, score,
    * keeper). Docs outside every pair are their own singleton component
    * and always keep. Shuffle story: components run on the pair graph
    * (tiny vs corpus); the corpus joins the label table once on id
    * (broadcastable — only ids appearing in some pair); the keeper rank
    * is one window over components, whose partitions are dup-group
    * sized. */
  def canonicalByQuality(
      docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .select(col("id"), col("component"))
    val scored = docs.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("long").as("score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col("id").asc)
    scored.join(labels, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .withColumn("keeper", row_number().over(w) === 1)
      .select(col("id"), col("component"), col("score"), col("keeper"))
  }

  /** Sorted distinct 64-bit shingle fingerprints of a text column: the
    * xxhash64 of every k-word shingle of `split(text, " ", -1)`, from ONE
    * byte scan per document ([[graft.expr.ShingleHashesExpr]]); the sort
    * and distinct are codegen'd built-ins. All downstream dedup math
    * (minhash, prefix filtering, Jaccard verify) runs on the fixed-width
    * longs — set ops and sorts on longs instead of repeated string
    * comparisons. A 64-bit collision merging two distinct shingles happens
    * with probability ~|sh|²/2^64 per doc (negligible; the DuckDB oracles
    * verify value-identity to string-set Jaccard on the test corpus). Empty
    * when the text has fewer than k tokens; null for null text. */
  def shingleFingerprints(text: Column, k: Int): Column =
    sort_array(array_distinct(KernelExpressions.shingleHashes(text, k)))

  /** Hashes per LSH band. Every band must be non-empty and the signature
    * must split evenly: an empty band slice hashes every doc to the same
    * bucket (the candidate join goes all-pairs), and a remainder would
    * silently drop the tail hashes. */
  private[graft] def bandSize(numHashes: Int, numBands: Int): Int = {
    require(numBands >= 1 && numHashes >= numBands && numHashes % numBands == 0,
      s"numHashes must be a positive multiple of numBands, got " +
        s"numHashes = $numHashes, numBands = $numBands")
    numHashes / numBands
  }

  /** LSH band keys: the signature is cut into `numBands` bands of
    * `bandSize`; each band's slice hashes structurally to one bucket key.
    * Docs sharing any band bucket become candidate pairs. */
  def bandKeys(sig: Column, numBands: Int, bandSize: Int): Column =
    array((0 until numBands).map(b => struct(lit(b).as("band"),
      xxhash64(slice(sig, b * bandSize + 1, bandSize)).as("bucket"))): _*)

  /** Word-set Jaccard similarity of two token arrays (dedups multiplicity,
    * like classic shingle-set Jaccard). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** (id, shingles) sketch table, MATERIALIZED once (`localCheckpoint`).
    * Every minhash consumer reads this table 2–3 times (band generation +
    * both sides of the verify join); without the checkpoint each read
    * re-runs the tokenize+shingle+hash scan over the corpus — the
    * dominant cost of the round-5 composition queries.
    * At true crawl scale the same pattern persists the sketch to a table
    * (it is small: sorted distinct 64-bit fingerprints per doc); the
    * checkpoint is the in-session equivalent and spills to disk.
    *
    * The non-empty filter runs AFTER the checkpoint boundary (round 7):
    * placed before it, Catalyst's filter pushdown inlines the whole
    * shingle expression into the predicate and pushes it below the
    * caller's repartition onto the unsplittable single-row-group scan —
    * the entire tokenize+shingle+hash pipeline then runs PER ROW ON ONE
    * CORE in the pushed Filter (measured 1.5–2 s serial per consumer
    * query at sf0.1) and runs AGAIN in the parallel projection above the
    * exchange. The LogicalRDD boundary stops the pushdown; the filter
    * over the materialized table is a cheap array-length test. Same rows
    * either way — the filter is row-local and deterministic. */
  private[graft] def shingleTable(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int): DataFrame =
    df.select(col(idCol).as("id"),
        shingleFingerprints(col(textCol), shingleK).as("shingles"))
      .localCheckpoint(eager = false)
      .filter(size(col("shingles")) > 0)

  /** (id, band, bucket) LSH band-key table over a [[shingleTable]],
    * MATERIALIZED once: the candidate self-join reads it per side, and
    * the minhash signature (numHashes hash folds per doc) must not
    * re-evaluate per side. Small by construction — docs × numBands rows
    * of three fixed-width columns. */
  private def bandTable(shingled: DataFrame, numHashes: Int,
      numBands: Int): DataFrame = {
    shingled
      .withColumn("sig", KernelExpressions.minhash(col("shingles"), numHashes))
      .withColumn("bk", explode(bandKeys(col("sig"), numBands,
        bandSize(numHashes, numBands))))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
      .localCheckpoint(eager = false)
  }

  /** Distinct candidate pairs from a band table: self-join on
    * (band, bucket), upper triangle, dedup BEFORE any verify. When
    * `maxBucketDocs` < Long.MaxValue, buckets holding MORE than that many
    * docs are pruned before the join (the q79 stop-fingerprint pattern):
    * a boilerplate template cluster of 10^6 docs in one bucket would
    * otherwise emit ~10^12 candidate rows — AQE can split the skewed
    * partition but cannot reduce the pair count. Recall trade: a true
    * pair is lost only if EVERY band bucket it shares is hot, so with b
    * independent bands the miss probability for a pair colliding in k
    * bands is (hot-rate)^k — and genuinely template-sized clusters are
    * exactly the ones whose members also collide with each other in
    * every band. For clustering consumers, use [[minhashClusterEdges]]
    * instead (linear fan-out with NO recall loss at the candidate
    * level). */
  private def candidatePairs(bands: DataFrame,
      maxBucketDocs: Long): DataFrame = {
    val pruned =
      if (maxBucketDocs == Long.MaxValue) bands
      else {
        require(maxBucketDocs >= 2L,
          s"maxBucketDocs must be >= 2, got $maxBucketDocs")
        val hot = bands.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketDocs)
          .select(col("band"), col("bucket"))
        bands.join(hot, Seq("band", "bucket"), "left_anti")
      }
    val l = pruned.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = pruned.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The UNVERIFIED LSH candidate pairs (what the band join emits before
    * the Jaccard verify) — exposed for the star-edge label-equality
    * contract ([[minhashClusterEdges]]) and its tests. */
  private[graft] def minhashCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numHashes: Int = 32,
      numBands: Int = 8,
      maxBucketDocs: Long = Long.MaxValue): DataFrame =
    candidatePairs(
      bandTable(shingleTable(df, idCol, textCol, shingleK),
        numHashes, numBands), maxBucketDocs)

  /** MinHash+LSH near-duplicate candidate pairs with exact Jaccard
    * verification.
    *
    * Plan shape (scale-critical): shingle hashes → minhash (row-local
    * native expressions, no shuffle) → explode band keys → self-join on
    * (band, bucket) [THE shuffle — LSH buckets are the join key, so cost is
    * O(candidates), not O(n²)]. The band join carries ONLY (id, band,
    * bucket) — shingle arrays never ride that shuffle — and candidate
    * pairs are `distinct()`ed BEFORE the Jaccard verify, so a pair
    * colliding in k bands is verified once, not k times. Shingles are
    * joined back onto the (small) deduplicated pair set for the single
    * exact verify. The shingle and band tables are materialized once
    * ([[shingleTable]]/[[bandTable]]) so the kernel scans never
    * re-evaluate per join side or per downstream consumer.
    *
    * `maxBucketDocs` (opt-in, default unbounded) prunes hot buckets
    * before the self-join — the fan-out bound for real web data, where a
    * template cluster can put 10^6 docs in one bucket (recall trade
    * documented on [[candidatePairs]]). */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8,
      threshold: Double = 0.5,
      maxBucketDocs: Long = Long.MaxValue): DataFrame = {
    val shingled = shingleTable(df, idCol, textCol, shingleK)
    val candidates = candidatePairs(
      bandTable(shingled, numHashes, numBands), maxBucketDocs)

    val shA = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Bucket-min STAR edges for clustering consumers — the hot-bucket
    * bound that loses nothing: per (band, bucket) with ≥ 2 members, emit
    * one edge (min member id, member id) per OTHER member instead of all
    * C(n,2) pairs, so a bucket of n docs contributes n−1 edge rows where
    * the pair join contributes n(n−1)/2 — LINEAR fan-out, no cap, no
    * recall trade at the candidate level.
    *
    * Label-equality contract (provable): within one bucket the candidate
    * pair graph is a clique, and a star centered on any member has
    * exactly the clique's connectivity; the union over buckets therefore
    * has exactly the same connected components as the all-pairs
    * candidate graph (OpsSpec pins this against
    * [[minhashCandidatePairs]]). What changes vs the VERIFIED pair
    * graph: these edges skip the Jaccard verify, so components are those
    * of LSH-candidate connectivity — the production semantics of the
    * large-scale MinHash dedup pipelines that cluster on bucket
    * membership directly (band collisions at the configured banding ARE
    * the near-dup test; see Leskovec/Rajaraman/Ullman, MMDS ch. 3).
    * Verified-pair components are always a REFINEMENT of these (every
    * verified pair is a candidate pair), so consumers that only need
    * cluster-level decisions stay sound: dedup keeps one doc per
    * (possibly coarser) cluster, and a leakage-proof split can only
    * group MORE suspected near-dups on the same side — conservative in
    * the safe direction. */
  def minhashClusterEdges(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 32,
      numBands: Int = 8): DataFrame = {
    val bands = bandTable(shingleTable(df, idCol, textCol, shingleK),
      numHashes, numBands)
    val reps = bands.groupBy(col("band"), col("bucket"))
      .agg(min(col("id")).as("id_a"), count(lit(1)).as("n"))
      .filter(col("n") >= 2L)
      .select(col("band"), col("bucket"), col("id_a"))
    bands.join(reps, Seq("band", "bucket"))
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** SimHash near-duplicates: 64-bit fingerprints (kernel hash — engine
    * independent), candidates via the pigeonhole trick (Hamming ≤ 3 over 64
    * bits ⇒ at least one of the 4 16-bit blocks is equal), verified with
    * exact Hamming distance. Shuffles on the 16-bit block keys. The
    * fingerprint is a native codegen'd Catalyst expression
    * ([[KernelExpressions.simhash64]]), so the whole candidate pipeline stays
    * inside whole-stage codegen — no typed boundary. */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // materialized once: the block self-join reads the fingerprints per
    // side, and the simhash kernel scan must not re-run per side (the
    // shingleTable rationale; 16 bytes/row, tiny)
    val sims = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .withColumn("simhash",
        KernelExpressions.simhash64(coalesce(col("text"), lit(""))))
      .select(col("id"), col("simhash"))
      .localCheckpoint(eager = false)

    val blocked = sims.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*))
        .as("b"))
      .select(col("id"), col("simhash"), col("b.blk"), col("b.key"))

    val l = blocked.select(col("blk"), col("key"), col("id").as("id_a"), col("simhash").as("sim_a"))
    val r = blocked.select(col("blk"), col("key"), col("id").as("id_b"), col("simhash").as("sim_b"))
    // distinct BEFORE the Hamming verify: a pair whose fingerprints agree in
    // several 16-bit blocks collides once per agreeing block — dedup the
    // candidate pairs first so each is verified once.
    l.join(r, Seq("blk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram-Jaccard similarity self-join via prefix filtering (the
    * AllPairs / PPJoin candidate-completeness principle, Bayardo et al.,
    * WWW'07 "Scaling Up All Pairs Similarity Search"): every output pair of
    * the naive all-pairs join is produced, but candidates come from an
    * equi-join on prefix shingles instead of a quadratic block product.
    *
    * Soundness of the candidate set: sort each row's distinct shingle set
    * under one global total order. If J(A,B) ≥ t then |A∩B| ≥
    * ⌈t·max(|A|,|B|)⌉, so A and B must share a shingle within their first
    * (|x| − ⌈t·|x|⌉ + 1) shingles — pairs sharing no prefix shingle are
    * provably below threshold and are never even generated. A size filter
    * (t·max ≤ min) prunes further. The shuffle key is the prefix shingle
    * (cardinality grows with the corpus vocabulary), so the join stays
    * bounded at 10^12 docs where any fixed blocking key goes quadratic.
    *
    * `groupCols` (optional) additionally restricts pairs to equal group
    * values — the output contract of the classic blocked join, without its
    * all-pairs cost. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCols: Seq[String],
      shingleK: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    // sorted distinct shingle fingerprints: the sort IS the global total
    // order the prefix principle needs (any total order is valid; longs
    // sort far cheaper than shingle strings)
    // materialized once — consumed by the prefix explode (both join
    // sides) AND the verify join (both sides); see shingleTable
    val base = df.select(
      (groupCols.map(col) :+ col(idCol).as("id") :+
        shingleFingerprints(col(textCol), shingleK).as("sh")): _*)
      // filter AFTER the checkpoint boundary — see shingleTable: pushdown
      // would inline the shingle expression serially into the scan stage
      .localCheckpoint(eager = false)
      .filter(size(col("sh")) > 0)
    val prefixLen = size(col("sh")) -
      ceil(lit(threshold) * size(col("sh"))).cast("int") + 1
    val joinKeys = groupCols :+ "tok"
    val pref = base
      .withColumn("sz", size(col("sh")))
      .withColumn("tok", explode(slice(col("sh"), lit(1), prefixLen)))
      .select((groupCols.map(col) :+ col("id") :+ col("sz") :+ col("tok")): _*)

    val l = pref.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a")
    val r = pref.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b")
    val candidates = l.join(r, joinKeys)
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * lit(threshold) <= col("sz_b") &&
        col("sz_b") * lit(threshold) <= col("sz_a"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    val shA = base.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = base.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-snapshot incremental dedup — the standard Common-Crawl curation
    * step when a NEW snapshot lands next to an already-curated BASE corpus:
    * per incoming document, a verdict `exact_dup` (byte-identical text
    * exists in the base), `near_dup` (MinHash-LSH candidate verified at
    * Jaccard ≥ threshold against a base doc), or `kept`. Exact wins over
    * near when both hold.
    *
    * Scale shape: the exact check joins on xxhash64(text) with the TEXT
    * EQUALITY verified as the join residual (a 64-bit collision can
    * therefore never drop a unique doc); the near check reuses the LSH
    * machinery — band keys are the join key between snapshots, `distinct`
    * BEFORE the single Jaccard verify, shingle sets re-joined onto the
    * candidate pair set only. Both joins are keyed equi-joins (hash / band
    * bucket); nothing is O(base × incoming). The base side is never
    * collected or broadcast — this runs with a 100 TB base. Within-snapshot
    * duplicates are out of scope here ([[minhashNearDups]] covers them). */
  def incrementalDedupVerdicts(base: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      numHashes: Int = 32, numBands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    def keyed(df: DataFrame) = df.select(
      col(idCol).cast("long").as("doc_id"), text.as("text"),
      xxhash64(text).as("h"))
    val inc = keyed(incoming)
    val bs = keyed(base)

    val exactIds = inc.join(
      bs.select(col("h").as("bh"), col("text").as("bt")),
      inc("h") === col("bh") && inc("text") === col("bt"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_exact", lit(true))

    def shingled(df: DataFrame) = df.select(col("doc_id"),
      shingleFingerprints(col("text"), shingleK).as("sh"))
      .filter(size(col("sh")) > 0)
    val bands = bandSize(numHashes, numBands)
    def banded(df: DataFrame) = df
      .withColumn("sig", KernelExpressions.minhash(col("sh"), numHashes))
      .withColumn("bk", explode(bandKeys(col("sig"), numBands, bands)))
      .select(col("doc_id"), col("bk.band"), col("bk.bucket"))
    val shInc = shingled(inc)
    val shBase = shingled(bs)
    val candidates = banded(shInc).join(
      banded(shBase).withColumnRenamed("doc_id", "base_id"),
      Seq("band", "bucket"))
      .select(col("doc_id"), col("base_id"))
      .distinct()
    val nearIds = candidates
      .join(shInc, Seq("doc_id"))
      .join(shBase.select(col("doc_id").as("base_id"),
        col("sh").as("sh_b")), Seq("base_id"))
      .filter(jaccard(col("sh"), col("sh_b")) >= threshold)
      .select(col("doc_id")).distinct()
      .withColumn("is_near", lit(true))

    inc.select(col("doc_id"))
      .join(exactIds, Seq("doc_id"), "left_outer")
      .join(nearIds, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("kept").as("verdict"))
  }

  /** Duplicated-n-gram profile, the document-level statistic behind
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22 — their ExactSubstr pass, here at
    * k-gram granularity): per document, how many of its DISTINCT k-grams
    * also occur in at least one OTHER document. High `dup_ppm` marks
    * boilerplate-heavy / templated pages whose text is mostly shared.
    *
    * Scale shape: explode distinct per-doc gram FINGERPRINTS (64-bit, from
    * [[shingleFingerprints]] — the shuffle carries longs, not strings) →
    * one groupBy on the gram key (map-side combine; per-doc-distinct means
    * the count IS the document frequency) → equi-join the frequencies back
    * on the gram key → one groupBy on doc id. Every shuffle is keyed by
    * gram or doc id; nothing is quadratic and no driver-side state exists,
    * so the same plan runs at 10^12 documents. Documents with fewer than k
    * tokens have no grams and are absent from the output (the oracle
    * groups over the same set). */
  def dupGramProfile(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val grams = df.select(
      col(idCol).cast("long").as("doc_id"),
      explode(shingleFingerprints(coalesce(col(textCol), lit("")), k))
        .as("gram"))
    val freq = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs")) // grams are distinct per doc
    grams.join(freq, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("n_docs") >= 2L, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_ppm", expr("dup_grams * 1000000 DIV n_grams"))
  }

  /** Benchmark-contamination detection: which corpus documents share a
    * k-gram with any document of a held-out benchmark set (the standard
    * n-gram-overlap decontamination check run before training, e.g.
    * GPT-3's 13-gram filter — appendix C of Brown et al. 2020; k is a
    * parameter here). Returns one row per CONTAMINATED corpus document
    * (n_hits ≥ 1 of its n_grams distinct k-grams found in the benchmark
    * gram set) — the output is bounded by the contaminated subset, not the
    * corpus.
    *
    * Scale shape: the benchmark gram set is small by construction
    * (benchmarks are fixed-size even when the corpus is 100 TB), so it is
    * BROADCAST — the corpus side never shuffles for the membership test;
    * the only wide exchange is the per-doc groupBy on doc id. Gram
    * membership compares 64-bit fingerprints, not strings. */
  def benchmarkContamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, k: Int = 5): DataFrame = {
    def grams(d: DataFrame) = d.select(
      col(idCol).cast("long").as("doc_id"),
      explode(shingleFingerprints(coalesce(col(textCol), lit("")), k))
        .as("gram"))
    val benchGrams = grams(bench).select(col("gram")).distinct()
      .withColumn("is_bench", lit(true))
    grams(corpus)
      .join(broadcast(benchGrams), Seq("gram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("is_bench"), 1L).otherwise(0L)).as("n_hits"))
      .filter(col("n_hits") >= 1L)
      .withColumn("hit_ppm", expr("n_hits * 1000000 DIV n_grams"))
  }

  /** ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022 §4.1,
    * approximated Spark-natively): tokens covered by a run of corpus-
    * duplicated k-grams are cut out of every document when the covered
    * run is at least `minTokens` tokens long. q51 profiles the statistic;
    * this operator performs the edit.
    *
    * Semantics (deterministic, order-preserving):
    *   - a k-gram is duplicated when its corpus OCCURRENCE count ≥
    *     `minCount` (within-doc repeats count — a passage pasted twice
    *     into one document is a duplicate, per the suffix-array original);
    *   - the covered-token set of a doc is the union of [pos, pos+k-1]
    *     over its duplicated-gram start positions; maximal covered
    *     segments of ≥ `minTokens` tokens are removed — by default ALL
    *     occurrences, like [[graft.ops.TextOps.dropDuplicatedLines]];
    *     with `keepFirst` the globally FIRST occurrence of each
    *     duplicated gram (min (doc_id, pos) — a total order, ids being
    *     unique) is exempt from coverage, so one canonical copy of a
    *     duplicated passage survives (in its lowest-id document, intact
    *     because every gram of the passage is first there) — the
    *     suffix-array original's remove-all-but-one semantics;
    *   - tokens are single-space splits; reassembly is exact (empty
    *     tokens from runs of spaces survive untouched docs bit-for-bit);
    *   - doc ids must be unique (like [[graft.ops.TextOps
    *     .dropDuplicatedLines]]): two docs sharing an id would interleave
    *     their token rows in one reassembly group. Ids keep their
    *     original type (string urls included); `keepFirst`'s global
    *     order is the id type's natural order (lexicographic for
    *     strings).
    *
    * Shuffle story at 100 TB: positioned grams are row-local
    * (posexplode); the occurrence count and the membership join are keyed
    * on the 64-bit gram fingerprint (longs, map-side combine — the q59
    * hash-key pattern); `keepFirst`'s canonical occurrence is a
    * map-side-combining `min(struct(doc_id, pos))` in the SAME aggregate
    * as the count (no window over per-gram occurrence lists — a hot gram
    * never forces a per-key sort); covered-index dedup, the
    * gaps-and-islands window and interval aggregation key on doc id and
    * are bounded by MARKED tokens, not the corpus; the token-level
    * rebuild (the only text-volume reassembly) runs ONLY on affected
    * docs — untouched documents pass through as identity without ever
    * exploding. Gram equality is fingerprint equality (collision odds as
    * in [[shingleFingerprints]]; q51's accepted trade, documented). */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minTokens: Int = 16, minCount: Long = 2L,
      keepFirst: Boolean = false): DataFrame = {
    // the id keeps its ORIGINAL type (string urls work — a cast("long")
    // here would null every non-integral key and the affected/rebuild
    // equi-joins would silently never match, making the whole operator a
    // no-op); null-id rows never match the affected join either and pass
    // through the untouched branch as identity
    val base = df.select(col(idCol).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"))
    val toks = split(col("text"), " ")

    // materialized once (round 7, the shingleTable rationale): the removal
    // table is tiny (one row per removed segment of an affected doc) but
    // its upstream is the WHOLE gram pipeline (posexplode → occurrence
    // aggregate → membership join → covered distinct → islands window),
    // and it feeds four consumers (affected×3 joins + removalTok) — without
    // the checkpoint the q64 plan carried 66 Exchanges of which none were
    // reused, re-running that pipeline per consumer. PlanSpec locks the
    // pipeline's shape on [[duplicatedSpanSegments]] (the checkpoint hides
    // it from the final plan).
    val removal =
      duplicatedSpanSegments(base, k, minTokens, minCount, keepFirst)
        .localCheckpoint(eager = false)

    val affected = removal.select(col("doc_id")).distinct()
    val removalTok = removal.select(col("doc_id"),
      explode(sequence(col("s"), col("e"))).as("i"))

    // rebuild ONLY affected docs: token rows anti-joined against the
    // removal set, doc-keyed reassembly in original order
    val rebuilt = base.join(affected, Seq("doc_id"))
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("t"))
      .join(removalTok, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(sort_array(collect_list(struct(col("i"), col("t"))))
          .getField("t"), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    val affectedOut = base.join(affected, Seq("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        // a fully-removed doc has no kept token rows: empty clean text
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (size(toks) - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed_tokens"))
    val untouched = base.join(affected, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text").as("clean_text"),
        lit(0L).as("n_removed_tokens"))
    affectedOut.unionByName(untouched)
  }

  /** The (doc_id, s, e) removed-segment table of [[removeDuplicatedSpans]]
    * BEFORE materialization — the gram pipeline whose physical shape
    * PlanSpec locks (the canonical-occurrence min-struct combiner, the
    * doc-keyed-only windows, keyed equi-joins): posexplode → occurrence
    * aggregate (count + optional min(struct(doc_id,pos)) combiner) →
    * membership join on the gram fingerprint → covered-index distinct →
    * gaps-and-islands window → segment aggregate. `base` must carry
    * (doc_id, text). */
  private[graft] def duplicatedSpanSegments(base: DataFrame, k: Int,
      minTokens: Int, minCount: Long, keepFirst: Boolean): DataFrame = {
    // (doc_id, pos, gram-fp), NOT per-doc distinct: occurrence counts
    val grams = base
      .select(col("doc_id"),
        posexplode(KernelExpressions.shingleHashes(col("text"), k)))
      .select(col("doc_id"), col("pos"), col("col").as("gram"))
    // duplicated-gram start positions → covered token indices (distinct:
    // overlapping grams cover shared tokens once — required by islands);
    // keepFirst exempts each gram's canonical (min (doc_id, pos))
    // occurrence from coverage — same ONE map-side-combining aggregate,
    // the min just rides along as a second combiner
    val marked =
      if (keepFirst) {
        val occ = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("n"),
            min(struct(col("doc_id"), col("pos"))).as("first"))
          .filter(col("n") >= minCount)
        grams.join(occ.select(col("gram"), col("first")), Seq("gram"))
          .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      } else {
        val dup = grams.groupBy(col("gram"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= minCount)
          .select(col("gram"))
        grams.join(dup, Seq("gram"))
      }
    val covered = marked
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("i"))
      .distinct()
    // gaps-and-islands: consecutive covered indices share (i - row_number)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    covered
      .withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("s"), max(col("i")).as("e"),
        count(lit(1)).as("seg_len"))
      .filter(col("seg_len") >= minTokens)
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** Winnowed document sketches ([[graft.kernel.Hashing.winnow]] —
    * Schleimer et al. SIGMOD'03): per document, the rightmost-minimum
    * k-gram hash of every w-window, as (doc_id, pos, fingerprint) rows.
    * The sketch detects EVERY shared token run of length ≥ w + k − 1
    * while keeping only ~2/(w+1) of the grams — the sub-linear sketch
    * that makes partial-overlap detection affordable where
    * [[dupGramProfile]]'s full gram table would dominate shuffle volume.
    *
    * Entirely row-local (kernel flatMap — the winnow scan is inherently
    * sequential per document and has no SQL-portable single-pass form);
    * the sketch rows are the ONLY thing that leaves the task. */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        Hashing.winnow(toks.toIndexedSeq, k, w)
          .map { case (p, h) => (id, p.toLong, h) }
      }
      .toDF("doc_id", "pos", "fingerprint")
  }

  /** Partial-overlap pair detection over winnowed sketches: documents
    * sharing ≥ `minShared` selected fingerprints — the MOSS-style
    * "documents share a passage" report, detecting shared runs of
    * ≥ w + k − 1 tokens (plagiarism/boilerplate passages) that whole-doc
    * near-dup measures dilute away on long documents.
    *
    * Shuffle story at 100 TB: sketches are ~2/(w+1) of gram volume;
    * the candidate join is keyed on the FINGERPRINT (never all-pairs);
    * stop-fingerprints — boilerplate selected in more than `maxDocFreq`
    * docs — are dropped BEFORE the self-join (the frequency aggregate
    * map-side combines), bounding any key's pair fan-out at
    * maxDocFreq²; singleton fingerprints (df = 1) are pruned there too,
    * so the join input is only genuinely shared sketch rows. */
  def winnowedOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Long = 2L,
      maxDocFreq: Long = 64L): DataFrame =
    winnowedOverlapPairsFromSketch(winnowedFingerprints(df, idCol, textCol, k, w),
      minShared, maxDocFreq)

  /** Pair detection over a sketch table ((doc_id, fingerprint)-bearing —
    * [[winnowedFingerprints]] output or its stored parquet). Every
    * consumer reads the sketch through the one `distinct()` Exchange,
    * which Spark reuses on both sides of the self-join, so the sketch's
    * upstream runs once per call: with a materialized sketch or `f2` the
    * call ran the same jobs, tasks and shuffle bytes (SCALE.md
    * "Materialization sites"). */
  def winnowedOverlapPairsFromSketch(sketch: DataFrame, minShared: Long,
      maxDocFreq: Long): DataFrame = {
    require(minShared >= 1L && maxDocFreq >= 2L,
      s"need minShared >= 1 and maxDocFreq >= 2, got $minShared/$maxDocFreq")
    val fp = sketch.select(col("doc_id"), col("fingerprint")).distinct()
    val shared = fp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= 2L && col("doc_freq") <= maxDocFreq)
      .select(col("fingerprint"))
    val f2 = fp.join(shared, Seq("fingerprint"))
    f2.as("a").join(f2.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** Leakage-proof train/eval split: a cluster-aware holdout where every
    * near-duplicate CLUSTER lands wholly on one side, so no eval document
    * has a near-copy in train (the standard decontaminated-split
    * requirement: e.g. Lee et al. 2022 §6 measure exactly this
    * train-test leakage in C4/RealNews). A per-document coin would split
    * dup clusters across the boundary; here the coin is thrown once per
    * cluster, on the component representative: split = "eval" iff
    * `mix64(component) mod 1000 < holdoutPerMille`. Singletons (docs in
    * no near-dup pair) are their own component. Deterministic and
    * replayable — re-running on the same corpus reproduces the split.
    *
    * Shuffle story at 100 TB: pair generation is the LSH band join
    * ([[minhashNearDups]] — banded, never all-pairs); components run on
    * the PAIR GRAPH (tiny vs corpus); the label join back onto the corpus
    * is broadcastable for realistic dup-cluster populations; the split
    * coin is a row-local codegen'd hash predicate. */
  def leakageProofSplit(df: DataFrame, idCol: String, textCol: String,
      holdoutPerMille: Int, shingleK: Int = 3, numHashes: Int = 32,
      numBands: Int = 8, threshold: Double = 0.5,
      bucketStarEdges: Boolean = false): DataFrame = {
    require(holdoutPerMille >= 0 && holdoutPerMille <= 1000,
      s"holdoutPerMille must be in [0,1000], got $holdoutPerMille")
    // bucketStarEdges (opt-in, the at-scale path): cluster on LSH-candidate
    // connectivity via linear-fan-out star edges instead of verified pairs.
    // Conservative for splitting — verified components are a refinement of
    // candidate components, so every true near-dup pair still lands on one
    // side; coarser clusters only group MORE suspects together.
    val pairs =
      if (bucketStarEdges)
        minhashClusterEdges(df, idCol, textCol, shingleK, numHashes, numBands)
      else minhashNearDups(df, idCol, textCol, shingleK, numHashes,
        numBands, threshold).select(col("id_a"), col("id_b"))
    val comp = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    df.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(pmod(KernelExpressions.mix64(col("component")), lit(1000L)) <
          holdoutPerMille.toLong, lit("eval")).otherwise(lit("train")))
  }

  // --- Bloom-filter membership (Dolma's BFF deduper pattern, Soldaini
  // et al. 2024 §2.3: a fixed-size bit array replaces the exact key set
  // when the reference corpus itself is web-scale). benchmarkContamination
  // broadcasts the EXACT gram set — right when the reference side is a
  // fixed-size benchmark; when the reference side is another 100 TB crawl
  // snapshot, the exact set is corpus-sized and neither broadcastable nor
  // holdable. The Bloom filter caps that memory at m bits CHOSEN UP FRONT,
  // trading a quantifiable false-positive rate (≈ (1 − e^{−kn/m})^k; no
  // false negatives), and is the standard crawl-dedup structure.

  /** Probe rows (word index, 32-bit mask) for each key: probe i of k is
    * `mix64(fnv1a64(key) + i)` masked to `bits` positions — the kernel
    * hash family, so the DuckDB oracle re-derives every position in
    * HUGEINT mod-2^64 SQL. 32-bit words (stored in BIGINT) keep every
    * shift/or in unsigned-exact range on BOTH engines (a 1L<<63 word
    * would flip BIGINT signs and HUGEINT would disagree). */
  private def bloomProbes(keyed: DataFrame, bits: Int,
      numHashes: Int): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes must be in [1,16], got $numHashes")
    keyed
      .select(keyed.columns.map(col) :+
        explode(sequence(lit(0L), lit(numHashes - 1L))).as("i"): _*)
      .withColumn("p",
        KernelExpressions.mix64(col("h") + col("i")).bitwiseAND(lit(bits - 1L)))
      .withColumn("word", shiftright(col("p"), 5))
      .withColumn("mask", expr("shiftleft(1L, cast(p & 31 as int))"))
      .drop("h", "i", "p")
  }

  /** Build the filter over a reference corpus: a DENSE table of exactly
    * `bits/32` (word, bits32) rows — the size is a CONSTANT of the
    * operator, independent of corpus size, which is the whole point.
    *
    * Shuffle story at 100 TB: probe generation is row-local; the only
    * exchange is the word-keyed `bit_or` aggregate onto a FIXED key space
    * of bits/32 rows (the DSIR fixed-key-space pattern) — map-side combine
    * reduces every task's contribution to ≤ bits/32 partial rows no
    * matter how many documents it scanned, so the shuffle is
    * O(tasks × bits/32), corpus-size-independent. The dense left join
    * runs on the tiny aggregate output. */
  def bloomBuild(df: DataFrame, keyCol: String, bits: Int = 1 << 16,
      numHashes: Int = 4): DataFrame = {
    val spark = df.sparkSession
    val set = bloomProbes(
      df.select(KernelExpressions.fnv1a64(col(keyCol)).as("h")), bits, numHashes)
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits32"))
    spark.range(bits / 32).toDF("word")
      .join(broadcast(set), Seq("word"), "left_outer")
      .select(col("word"), coalesce(col("bits32"), lit(0L)).as("bits32"))
  }

  /** Screen a corpus against a built filter: per document, `bloom_hit` =
    * all k probe bits set (true for every key that was inserted — no
    * false negatives — and for a bounded fraction of absent keys).
    *
    * Shuffle story: the filter is bits/32 rows BY CONSTRUCTION and rides
    * one broadcast — the corpus side never shuffles for the membership
    * test; the only exchange is the doc-keyed min, which map-side
    * combines (k rows per doc fold to one partial per task). */
  def bloomScreen(df: DataFrame, idCol: String, keyCol: String,
      filter: DataFrame, bits: Int = 1 << 16,
      numHashes: Int = 4): DataFrame = {
    bloomProbes(
      df.select(col(idCol).as("doc_id"),
        KernelExpressions.fnv1a64(col(keyCol)).as("h")), bits, numHashes)
      .join(broadcast(filter), Seq("word"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(min(when(col("bits32").bitwiseAND(col("mask")) === col("mask"),
        1L).otherwise(0L)).as("ok"))
      .select(col("doc_id"), (col("ok") === 1L).as("bloom_hit"))
  }
}

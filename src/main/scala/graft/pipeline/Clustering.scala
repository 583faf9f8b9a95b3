package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN, Ester et al. 1996) over an
  * embedding column — the clustering family that needs NO cluster
  * count and marks outliers explicitly, which is what a curation
  * pipeline wants when it asks "what natural groups does this corpus
  * form, and what is junk?" (k-means — [[Similarity.centroids]] /
  * `lloydTrain` — answers a different question and never says "noise").
  *
  * Split the same way the dedup families are split ([[Similarity
  * .semanticDedupFromPairs]]'s contract): the ε-NEIGHBOR PAIR STAGE is
  * the scale-bearing, swappable part; the DBSCAN core/border/noise
  * logic is a fixed keyed pipeline over whatever pair frame feeds it.
  *
  *   - [[euclideanPairs]]: exact quantized-integer ε-pairs — the
  *     oracle-checkable baseline, Similarity's `blockedPairs` stage
  *     scored by d².
  *   - [[euclideanPairsAnn]]: at 100 TB, [[dbscanFromPairs]] is fed
  *     from Similarity's `dupCandidates` verified by its `pairDots` at
  *     the ε threshold — candidate recall misses split clusters, the
  *     standard approximate-DBSCAN trade, and the ONLY part of the
  *     operator that changes.
  *
  * Determinism (the cross-engine contract): distances are integer
  * (floor(v·1000) quantization, d² = nrmA + nrmB − 2·dot — all longs);
  * cluster ids are component-min core ids; border points attach to the
  * MINIMUM cluster id among their core neighbors. Textbook DBSCAN
  * leaves the border tie to visit order — this variant pins it, so the
  * assignment is a pure function of the pair set.
  */
object Clustering {

  /** Exact ε-neighbor pairs by quantized squared euclidean distance:
    * one row per unordered pair with d² ≤ eps2, d² in quantized units
    * (ε of 1.2 in embedding space ⇒ eps2 = (1.2·1000)² = 1,440,000).
    *
    * Identity d² = |a|² + |b|² − 2a·b over the packed longs ([[d2]]),
    * so every comparison is integer-exact. Hash-blocked broadcast
    * nested loop: exact-baseline regime, O(N²/blocks) per task — swap
    * for LSH candidates past that regime (scaladoc above).
    */
  def euclideanPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      blocks: Int = 8): DataFrame = {
    require(eps2 > 0, s"eps2 must be positive, got $eps2")
    Similarity.blockedPairs(Similarity.packedWithNorm(df, idCol, embCol),
      idCol, blocks, d2, col("d2") <= eps2)
  }

  /** d² = nA + nB − 2·dot of a [[Similarity.pairDots]] pair. */
  private def d2: Column =
    (col("na") + col("nb") - lit(2L) * col("dot")).as("d2")

  /** DBSCAN given the ε-neighbor pair frame (`vec_a`, `vec_b`, one row
    * per unordered pair). Neighborhood counts INCLUDE the point itself
    * (the paper's |N_ε(p)| ≥ minPts convention).
    *
    * LOAD-BEARING input contract (ADVICE r18): `pairs` must hold
    * EXACTLY one row per unordered neighbor pair — no duplicate rows,
    * no (b, a) mirror of an (a, b) row. The r18 optimization dropped
    * the defensive `.distinct()` on the symmetrized frame, so a
    * violating caller now gets silently inflated degrees and wrong
    * core/border labels instead of being normalized. Every library
    * generator satisfies it ([[euclideanPairs]]' block partition emits
    * each pair once; [[euclideanPairsAnn]]'s candidate distinct + the
    * `vec_a < vec_b` verify filter); external callers must dedupe
    * first.
    *
    * Output per point: (idCol, n_neighbors, role core|border|noise,
    * cluster = component-min core id, NULL for noise).
    *
    * Scale posture: degree = ONE pair-keyed aggregate; components run
    * on the CORE-CORE edge subgraph through [[TextDedup.dupClusters]]
    * (checkpointed min-label propagation with pointer jumping); border
    * attachment is one more keyed join + min-aggregate. No stage ever
    * carries embeddings — ids and longs only.
    */
  def dbscanFromPairs(
      points: DataFrame,
      idCol: String,
      pairs: DataFrame,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    // The pair frame feeds THREE consumers (degree, core-core edges,
    // border attachment) whose downstream shuffles use different keys,
    // so exchange reuse cannot dedupe them — without materialization
    // the expensive pair GENERATOR (the ANN candidate join + verify)
    // re-ran once per consumer (r18 bench, sf0.1: q352 21.2s -> 13.4s,
    // q482 28.5s -> 18.2s, q347 6.8s -> 4.2s, controls flat).
    // Materialize it ONCE (the dupClusters
    // checkpoint discipline: reliable dir when configured, else
    // executor-local blocks). The defensive distinct of the
    // symmetrized frame is dropped with it: the input contract ("one
    // row per unordered pair") already promises uniqueness, and every
    // library generator (euclideanPairs' block partition,
    // euclideanPairsAnn's candidate distinct) meets it — the distinct
    // was a full extra shuffle of the edge set re-checking a promise.
    val p = Stage.materialize(pairs.select(col("vec_a"), col("vec_b")))
    val sym = p.select(col("vec_a").as("_g_s"), col("vec_b").as("_g_d"))
      .union(p.select(col("vec_b"), col("vec_a")))
    val deg = sym.groupBy(col("_g_s"))
      .agg((count(lit(1)) + lit(1L)).as("_g_nn"))
    val pts = points.select(col(idCol))
      .join(deg.withColumnRenamed("_g_s", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_g_nn"), lit(1L)).as("n_neighbors"))
    val core = pts.filter(col("n_neighbors") >= minPts).select(col(idCol))
    val coreEdges = sym
      .join(core.withColumnRenamed(idCol, "_g_s"), Seq("_g_s"))
      .join(core.withColumnRenamed(idCol, "_g_d"), Seq("_g_d"))
    val comp = TextDedup.dupClusters(coreEdges, "_g_s", "_g_d")
      .withColumnRenamed("doc_id", idCol)
    // isolated cores (all minPts neighbors are non-core) are their own
    // cluster; border points take the MIN core neighbor's cluster
    val coreCl = core.join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("_g_cl"))
    val borderCl = sym
      .join(coreCl.withColumnRenamed(idCol, "_g_d"), Seq("_g_d"))
      .groupBy(col("_g_s").as(idCol))
      .agg(min(col("_g_cl")).as("_g_bcl"))
    pts.join(coreCl, Seq(idCol), "left")
      .join(borderCl, Seq(idCol), "left")
      .select(col(idCol), col("n_neighbors"),
        when(col("_g_cl").isNotNull, lit("core"))
          .when(col("_g_bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("_g_cl"), col("_g_bcl")).as("cluster"))
  }

  /** LSH-candidate ε-neighbor pairs verified at the exact quantized
    * threshold — the linear-cost pair stage that replaces
    * [[euclideanPairs]] past the exact-baseline regime (the
    * [[Similarity.annDupPairs]] pipeline with the exact d² ≤ eps2
    * verify), so the output is ALWAYS a subset of [[euclideanPairs]]'
    * pair set (false positives die at the verify; false negatives are
    * true pairs whose buckets never collide). NEVER all-pairs by plan: the
    * only shuffles are the bucket join and the pair-key distinct, both
    * O(candidates).
    *
    * The density-law dial (the q243 discipline): hyperplane collision
    * probability is p = 1 − θ/π at pair angle θ, so a FAR ε (the
    * fixture's eps2 = 1.38·10⁶ on unit vectors ⇔ cosine ≥ 0.31,
    * θ ≈ 72°) needs low bits / many tables for recall — defaults
    * (32 × 2) hold empirical recall 1.0 on the fixture embeddings at
    * every committed SF (asserted in ClusteringSpec), making
    * [[dbscanAnn]] byte-equal to [[dbscan]] there, at the cost of
    * near-all-pairs candidate density. At production ε (tight
    * clusters, cosine ≥ 0.8+) raise `bits` and the candidate set turns
    * linear — the regime this stage exists for.
    *
    * Approximate-DBSCAN semantics when recall < 1 (document, don't
    * hide): a missed true pair UNDERCOUNTS both endpoints'
    * `n_neighbors`, which can demote a threshold core to border/noise
    * and SPLIT a cluster bridged only by missed edges — the standard
    * trade (Ester et al.'s exact semantics need the full ε-graph).
    * Roles/clusters remain a pure function of the emitted pair set.
    */
  def euclideanPairsAnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      tables: Int = 32,
      bits: Int = 2): DataFrame = {
    require(eps2 > 0, s"eps2 must be positive, got $eps2")
    // packed apart from the candidate stage's frame, as the plan has it
    val e = Similarity.packedWithNorm(df, idCol, embCol)
    val (_, cand) = Similarity.dupCandidates(df, idCol, embCol, tables, bits)
    Similarity.pairDots(cand, e, e, idCol, "vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"), d2)
      .filter(col("d2") <= eps2)
  }

  /** Block count derived from the corpus so each broadcast side stays
    * ~64 MB (the reason blocks exist) — the q243 auto-config
    * discipline applied to the exact pair stage: a FIXED block count
    * is wrong at both ends (too many blocks at fixture scale is pure
    * plan overhead — B(B+1)/2 branch joins; measured 52s at blocks=8
    * vs 4.5s at the derived blocks=1 on the sf0.1 fixture — and too
    * few at corpus scale overflows the broadcast). The pair SET is
    * block-invariant (asserted in ClusteringSpec), so this is a cost
    * dial only.
    */
  def autoBlocks(rows: Long, dims: Int): Int = {
    val bytesPerRow = 8L * dims + 32L
    val target = 64L * 1024 * 1024
    math.max(1, math.ceil(rows.toDouble * bytesPerRow / target).toInt)
  }

  /** [[euclideanPairs]] with the block count derived by [[autoBlocks]]
    * (one count + one head to size the corpus — the
    * semanticDedupAnnAuto precedent).
    */
  def euclideanPairsAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long): DataFrame = {
    val dims = df.select(size(col(embCol))).head().getInt(0)
    euclideanPairs(df, idCol, embCol, eps2,
      blocks = autoBlocks(df.count(), dims))
  }

  /** Exact DBSCAN composition: [[euclideanPairs]] → [[dbscanFromPairs]]. */
  def dbscan(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      minPts: Int,
      blocks: Int = 8): DataFrame =
    dbscanFromPairs(df, idCol,
      euclideanPairs(df, idCol, embCol, eps2, blocks), minPts)

  /** Exact DBSCAN with the [[autoBlocks]]-derived pair stage — same
    * pair set, right-sized plan at any corpus size.
    */
  def dbscanAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      minPts: Int): DataFrame =
    dbscanFromPairs(df, idCol,
      euclideanPairsAuto(df, idCol, embCol, eps2), minPts)

  /** ANN-fed DBSCAN: [[euclideanPairsAnn]] → [[dbscanFromPairs]] — the
    * 100 TB composition the exact [[dbscan]] scaladoc promises. At
    * recall 1.0 (the fixture regime, asserted in ClusteringSpec) the
    * pair set IS the exact one, so the output is byte-equal to
    * [[dbscan]]; below it, see [[euclideanPairsAnn]]'s documented
    * undercount semantics.
    */
  def dbscanAnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      minPts: Int,
      tables: Int = 32,
      bits: Int = 2): DataFrame =
    dbscanFromPairs(df, idCol,
      euclideanPairsAnn(df, idCol, embCol, eps2, tables, bits), minPts)

  /** [[dbscanAnn]] with the LSH config derived from the corpus size
    * and the ε-implied cosine threshold by
    * [[Similarity.lshAutoConfig]] — the q243 auto-config playbook
    * applied to the DBSCAN pair stage: the dial moves with corpus
    * size instead of freezing at authoring time (SCALE_LOCAL's bits
    * ladder measured the frozen 32×2 fixture config as the WORST dial
    * at 3× — candidates ×9 — while +1 bit halves them).
    *
    * ε ⇔ cosine on the quantized ~unit vectors: d² = |a|²+|b|²−2a·b ≈
    * 2·n̄·(1−cos) with n̄ the MEAN packed norm (one tiny aggregate —
    * the quantization scale), so the recall constraint is evaluated
    * at the ε-ball's implied cosine floor, clamped into lshAutoConfig's
    * domain. Two metadata-cheap jobs (count + norm mean) derive the
    * config; everything downstream is [[dbscanAnn]] unchanged.
    */
  def dbscanAnnAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      eps2: Long,
      minPts: Int,
      recall: Double = 0.999): DataFrame = {
    require(eps2 > 0, s"eps2 must be positive, got $eps2")
    val n = df.count()
    val meanNrm = Similarity.packedWithNorm(df, idCol, embCol)
      .agg(avg(col("nrm").cast("double"))).head().getDouble(0)
    val cosT = math.min(0.99,
      math.max(-0.99, 1.0 - eps2.toDouble / (2.0 * meanNrm)))
    val (tables, bits) = Similarity.lshAutoConfig(n, cosT, recall)
    dbscanAnn(df, idCol, embCol, eps2, minPts, tables, bits)
  }
}

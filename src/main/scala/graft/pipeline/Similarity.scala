package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.{dec, d28, d6}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every kNN / ANN / near-duplicate operator here is one pipeline —
  * candidates → exact verify → per-query top-k — composed from stages
  * defined once below:
  *   - [[quantize]] / [[packedWithNorm]]: each element on the floor(v·1000)
  *     integer grid, packed into one `array<long>` with its squared norm,
  *     so every dot product is exact integer math and the cosine
  *     ([[cosine]]: int / sqrt(int·int)) is bit-reproducible across
  *     engines — what makes the operators oracle-checkable;
  *   - candidates: the broadcast query block ([[querySide]]) for the exact
  *     baselines, [[lshHashed]] + [[bucketPairs]] (random-hyperplane
  *     buckets meeting through the (tbl, bucket) equi-join — never
  *     all-pairs) for LSH, [[ivfCandidates]] for IVF probes, and
  *     [[blockedPairs]] (hash-blocked broadcast nested loops) for the
  *     exact all-pairs stage;
  *   - verify: one in-row codegen'd [[graft.functions.LongArrayDot]] per
  *     pair ([[exactReRank]] for query × neighbor, [[pairDots]] for
  *     unordered pairs);
  *   - [[topK]]: the per-query rank window (ties → lower neighbor id).
  * Operators below name the stages they compose instead of restating
  * their shapes. The exact baselines cost O(queries × corpus); the LSH
  * and IVF paths cost O(rows × planes) hashing + O(candidates) verify.
  */
object Similarity {

  // ---- the shared stages ----

  /** One embedding element on the module's integer grid: floor(v·1000)
    * as a long. floor() not round() — round's tie behavior differs
    * across engines.
    */
  private[pipeline] def quantize(v: Column): Column =
    floor(v.cast("double") * lit(1000.0)).cast("long")

  /** (id, carry…, q, nrm): the embedding [[quantize]]d into one
    * `array<long>` plus its squared norm; the `carry` columns ride along
    * after the id.
    */
  private[pipeline] def packedWithNorm(
      df: DataFrame, idCol: String, embCol: String, carry: String*): DataFrame = {
    val keep = (idCol +: carry).map(col)
    df.select(keep :+ transform(col(embCol), quantize(_)).as("q"): _*)
      .select(keep :+ col("q") :+ packedDot(col("q"), col("q")).as("nrm"): _*)
  }

  private def packedDot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.longArrayDot(a, b)

  /** The cosine of two packed vectors from their dot and squared norms. */
  private[pipeline] def cosine(dot: Column, nA: Column, nB: Column): Column =
    dot.cast("double") / sqrt(nA.cast("double") * nB.cast("double"))

  /** The rows of `e` whose `idCol` is in `qb`, a one-column id frame. */
  private[pipeline] def querySide(e: DataFrame, idCol: String, qb: DataFrame): DataFrame =
    e.join(qb, e(idCol) === qb(qb.columns.head), "left_semi")

  /** A packed frame as the query side of a re-rank: (qid, qq, q_nrm). */
  private def asQueries(e: DataFrame, idCol: String): DataFrame =
    e.select(col(idCol).as("qid"), col("q").as("qq"), col("nrm").as("q_nrm"))

  /** The broadcast query block of `e` for the ids in `qb`. */
  private def queryBlock(e: DataFrame, idCol: String, qb: DataFrame): DataFrame =
    broadcast(asQueries(querySide(e, idCol, qb), idCol))

  /** The `k` best rows per `qid` of `scored` by `scoreCol` descending,
    * ties to the lower `nid`: a `rank` column goes in before the score,
    * every other column keeps its place.
    */
  private[pipeline] def topK(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col(scoreCol).desc, col("nid").asc)
    scored.select(scored.columns.toSeq.flatMap { c =>
        if (c == scoreCol) Seq(row_number().over(w).as("rank"), col(c))
        else Seq(col(c))
      }: _*)
      .filter(col("rank") <= k)
  }

  /** LSH prologue for one frame or two that share the planes: `tables`
    * and `bits` checked, the vector length read from the first frame
    * (one eager job), then per frame its packed form and its
    * [[lshBuckets]].
    */
  private[pipeline] def lshHashed(idCol: String, embCol: String, tables: Int, bits: Int)(
      dfs: DataFrame*): Seq[(DataFrame, DataFrame)] = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    // 1 << 32 wraps onto bit 0: a 32nd sign bit would alias the first
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val dims = dfs.head.select(size(col(embCol))).head().getInt(0)
    dfs.map { df =>
      val e = packedWithNorm(df, idCol, embCol)
      (e, lshBuckets(e, idCol, tables, bits, dims))
    }
  }

  /** The distinct (a, b) id pairs of two [[lshBuckets]] frames that share
    * a bucket in some table and pass `keep`: one (tbl, bucket)
    * equi-join, never all-pairs.
    */
  private[pipeline] def bucketPairs(
      left: DataFrame, right: DataFrame, idCol: String,
      a: String, b: String, keep: Column = lit(true)): DataFrame =
    left.select(col("tbl"), col("bucket"), col(idCol).as(a))
      .join(right.select(col("tbl"), col("bucket"), col(idCol).as(b)),
        Seq("tbl", "bucket"))
      .filter(keep)
      .select(col(a), col(b))
      .distinct()

  /** One corpus's unordered LSH candidate pairs (vec_a < vec_b) beside
    * its packed frame: the candidate stage of [[annDupPairs]] and
    * [[Clustering.euclideanPairsAnn]]. Candidates depend only on
    * (tables, bits) and the corpus, never on a threshold, so the scale
    * sidecar prices the density law from this frame.
    */
  private[graft] def dupCandidates(
      df: DataFrame, idCol: String, embCol: String,
      tables: Int, bits: Int): (DataFrame, DataFrame) = {
    val Seq((e, hashed)) = lshHashed(idCol, embCol, tables, bits)(df)
    (e, bucketPairs(hashed, hashed, idCol, "vec_a", "vec_b",
      col("vec_a") < col("vec_b")))
  }

  /** The packed columns of one side of a pair, renamed to (id, q`s`, n`s`). */
  private def sideCols(idCol: String, id: String, s: String): Seq[Column] =
    Seq(col(idCol).as(id), col("q").as(s"q$s"), col("nrm").as(s"n$s"))

  /** (a, b, na, nb, dot) from a frame holding both sides' [[sideCols]]. */
  private def withDot(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a), col(b), col("na"), col("nb"),
      packedDot(col("qa"), col("qb")).as("dot"))

  /** The exact pair scorer: (a, b) id pairs with `left`'s packed side
    * joined on a, then `right`'s on b, and one dot per pair —
    * (a, b, na, nb, dot).
    */
  private[pipeline] def pairDots(
      pairs: DataFrame, left: DataFrame, right: DataFrame,
      idCol: String, a: String, b: String): DataFrame =
    withDot(pairs
      .join(left.select(sideCols(idCol, a, "a"): _*), Seq(a))
      .join(right.select(sideCols(idCol, b, "b"): _*), Seq(b)), a, b)

  /** The cosine of a [[withDot]] pair. */
  private def cosineScore: Column =
    cosine(col("dot"), col("na"), col("nb")).as("cosine")

  /** The [[withDot]] pairs whose [[cosine]] reaches `threshold`: (a, b, cosine). */
  private def cosineAtLeast(
      dots: DataFrame, a: String, b: String, threshold: Double): DataFrame =
    dots.select(col(a), col(b), cosineScore).filter(col("cosine") >= threshold)

  /** One (left × right) block of the exact all-pairs stage: the right
    * side broadcast into a nested loop, one in-row dot per pair, the
    * pair normalized to vec_a < vec_b, then `score` (over dot, na, nb)
    * kept where `keep` holds. `ordered` joins on id<id (left and right
    * are the same set — every unordered pair meets once); disjoint
    * blocks join on id≠id (always true, but keeps the nested loop an
    * explicit theta join).
    */
  private def blockPair(
      left: DataFrame, right: DataFrame, idCol: String,
      score: Column, keep: Column, ordered: Boolean): DataFrame = {
    val cond =
      if (ordered) col("vec_a") < col("vec_b") else col("vec_a") =!= col("vec_b")
    withDot(left.select(sideCols(idCol, "vec_a", "a"): _*)
        .join(broadcast(right.select(sideCols(idCol, "vec_b", "b"): _*)), cond),
        "vec_a", "vec_b")
      .select(
        least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"),
        score)
      .filter(keep)
  }

  /** The exact all-pairs stage past broadcast size: vectors id-hash into
    * `blocks` buckets and every unordered block pair (i ≤ j) is one
    * [[blockPair]] with only block j (≈ corpus/blocks rows) broadcast.
    * id<id dedups within-block pairs; a cross-block pair meets in
    * exactly one (i, j) branch, so each pair comes out once.
    */
  private[pipeline] def blockedPairs(
      e: DataFrame, idCol: String, blocks: Int,
      score: Column, keep: Column): DataFrame = {
    require(blocks >= 1, "blocks must be >= 1")
    val withBlk =
      e.withColumn("_blk", pmod(xxhash64(col(idCol)), lit(blocks)).cast("int"))
    def block(i: Int) = withBlk.filter(col("_blk") === i).drop("_blk")
    val branches = for { i <- 0 until blocks; j <- i until blocks } yield
      blockPair(block(i), block(j), idCol, score, keep, ordered = i == j)
    branches.reduce(_ unionByName _)
  }

  /** Exact top-k neighbors by quantized cosine for the query set
    * (`queryPred` selects query ids). Output: (qid, nid, rank, cosine),
    * self-matches excluded, ties broken by neighbor id.
    *
    * The declared exact baseline: the [[queryBlock]] broadcasts into a
    * nested-loop join, so the corpus scan stays partition-local with
    * zero shuffles before the [[topK]] window over queries × corpus rows
    * — at extreme corpus sizes push a partial per-partition top-k first.
    */
  def bruteForceKnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int = 10): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol)
    val q = df.filter(queryPred).select(col(idCol).as("_query_id"))
    val scored = e.join(queryBlock(e, idCol, q), col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"),
        cosine(packedDot(col("qq"), col("q")), col("q_nrm"), col("nrm"))
          .as("cosine"))
    topK(scored, "cosine", k)
  }

  /** k-occurrence (hubness) audit of a kNN graph: how often each
    * vector appears in OTHER vectors' top-k — the standard
    * embedding-quality diagnostic (Radovanović et al. 2010): in high
    * dimensions the in-degree distribution skews and a few "hub"
    * vectors dominate every neighbor list, which silently corrupts
    * kNN-based dedup, retrieval eval and KNN-Shapley alike. Rule of
    * thumb: mean in-degree is ALWAYS k; a max ≫ k or a long zero tail
    * ("anti-hubs") is the smell.
    *
    * This stage is a pure rollup of ANY (qid, nid, rank) neighbor
    * frame — feed it [[bruteForceKnn]] (the exact baseline, see
    * [[hubness]]) or the LSH path ([[lshCandidates]] →
    * re-rank) at corpus scale; the swap never changes this half.
    * Output one row per vector: (idCol, in_degree), zeros included
    * (the anti-hub tail IS the signal — a left join keeps it).
    */
  def hubnessFromKnn(
      points: DataFrame,
      idCol: String,
      knn: DataFrame): DataFrame =
    points.select(col(idCol))
      .join(knn.groupBy(col("nid").as(idCol))
        .agg(count(lit(1)).as("_g_d")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_g_d"), lit(0L)).as("in_degree"))

  /** Exact hubness composition: every vector queries [[bruteForceKnn]]
    * (declared exact baseline — the query side is the whole corpus,
    * O(N²) in-row integer dots) → [[hubnessFromKnn]]. At 100 TB swap
    * the kNN stage for LSH candidates + exact re-rank; in-degree
    * semantics are unchanged.
    */
  def hubness(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 10): DataFrame =
    hubnessFromKnn(df, idCol,
      bruteForceKnn(df, idCol, embCol, lit(true), k))

  /** Whole-corpus kNN graph via LSH candidates + exact cosine re-rank
    * — the scale twin of all-queries [[bruteForceKnn]], built for the
    * every-vector-is-a-query regime where [[lshCandidates]]'s
    * broadcast-the-query-buckets shape stops applying (the query side
    * IS the corpus): [[bucketPairs]] of the bucket frame with itself
    * (both sides shuffle-hash on the bucket key, nothing broadcasts
    * corpus-sized state), then [[exactReRank]] with the unbroadcast
    * corpus as the query side.
    *
    * Equal to `bruteForceKnn(df, …, lit(true), k)` whenever every
    * vector's true top-k shares a bucket with it in some table
    * (recall 1.0 — the fixture regime at the 32×2 defaults, asserted
    * per-SF in PipelineSpec); under partial recall a query's list
    * tail degrades first, the standard ANN trade. Cost:
    * O(rows × tables × bits × dims) in-row hashing + O(candidates)
    * dots; the only shuffles are the bucket self-join, the pair
    * distinct and the top-k window.
    */
  def knnGraphAnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 10,
      tables: Int = 32,
      bits: Int = 2): DataFrame = {
    val Seq((e, hashed)) = lshHashed(idCol, embCol, tables, bits)(df)
    val cand = bucketPairs(hashed, hashed, idCol, "qid", "nid",
      col("qid") =!= col("nid"))
    exactReRank(e, idCol, asQueries(e, idCol), cand, k)
  }

  /** ANN-fed hubness: [[knnGraphAnn]] → [[hubnessFromKnn]] — the
    * 100 TB composition the exact [[hubness]] scaladoc promises
    * (in-degree is a pure function of the kNN frame, so at the
    * asserted recall 1.0 the output is byte-equal to [[hubness]];
    * below it, missed true neighbors shift in-degree mass toward the
    * vectors the hash DOES retrieve — hub counts can only be
    * undercounted or swapped among near-ties, never invented).
    */
  def hubnessAnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 10,
      tables: Int = 32,
      bits: Int = 2): DataFrame =
    hubnessFromKnn(df, idCol,
      knnGraphAnn(df, idCol, embCol, k, tables, bits))

  /** [[hubnessAnn]] with the LSH config derived from the corpus size
    * by [[lshAutoConfig]] — the q243 auto-config playbook for the
    * kNN-graph regime. Top-k has no intrinsic similarity threshold,
    * so the caller names `floorCosine`: the lowest cosine any TRUE
    * top-k neighbor is assumed to reach (the domain knowledge a
    * 100 TB run has — embedding geometry is corpus-stable while N
    * grows). The recall constraint is evaluated at that floor; true
    * neighbors BELOW it may be missed (the documented ANN tail
    * trade on [[knnGraphAnn]]). The fixture's 5-NN floor is 0.23 at
    * every committed SF (measured; PipelineSpec asserts byte-equality
    * to the exact [[hubness]] under the derived config per-SF), so
    * the default floor 0.2 holds recall 1.0 there while letting bits
    * grow with log N instead of freezing at the authoring-time 32×2.
    */
  def hubnessAnnAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int = 10,
      floorCosine: Double = 0.2,
      recall: Double = 0.999): DataFrame = {
    val (tables, bits) = lshAutoConfig(df.count(), floorCosine, recall)
    hubnessAnn(df, idCol, embCol, k, tables, bits)
  }

  /** All pairs with quantized cosine ≥ threshold (embedding-based
    * near-duplicate detection). Exact — inherently O(corpus²) dot
    * products, the ORACLE BASELINE at test scale; at 100 TB use
    * [[annDupPairs]] instead.
    *
    * Plan: one [[blockPair]] of the whole packed corpus with itself (a
    * 1M×64-dim corpus packs to ~500 MB of broadcast — beyond that use
    * [[embeddingDupPairsBlocked]]). No shuffle at all — versus the
    * exploded-dimension formulation whose (pair × dim) hash aggregate
    * moves 100× the data.
    */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double): DataFrame = {
    val withNorm = packedWithNorm(df, idCol, embCol)
    blockPair(withNorm, withNorm, idCol, cosineScore,
      col("cosine") >= threshold, ordered = true)
  }

  /** Embedding-space benchmark contamination gate — the SEMANTIC twin of
    * the n-gram contamination gate (TextDedup.contamination): one row per
    * corpus vector with its max quantized cosine against the benchmark
    * set and the ≥ `threshold` verdict. Catches paraphrased/translated
    * eval leakage the n-gram gate can't see.
    *
    * Plan shape mirrors the n-gram gate's broadcast-bench contract: a
    * benchmark set is SMALL by definition, so the packed bench block
    * broadcasts and every (corpus, bench) cosine is one in-row codegen'd
    * integer dot — O(N·B) with B bounded, corpus scan partition-local,
    * never corpus × corpus. The per-vector max partial-aggregates
    * map-side (each corpus row's B cosines live in one partition), so
    * the only exchange carries one (id, double) row per corpus vector.
    * MAX over doubles is order-independent: no rounding needed for the
    * cross-engine compare. If the benchmark side ever grows past the
    * small-by-definition regime (N·B dots too many), swap the pair
    * stage for [[lshCandidates]] between corpus and bench and verify at
    * the threshold — the q163/q174 composition pattern.
    */
  def semanticContamination(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusEmbCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchEmbCol: String,
      threshold: Double): DataFrame = {
    val c = packedWithNorm(corpus, corpusIdCol, corpusEmbCol)
    val b = packedWithNorm(bench, benchIdCol, benchEmbCol)
      .select(col(benchIdCol).as("_g_bid"), col("q").as("_g_qb"),
        col("nrm").as("_g_nb"))
    c.join(broadcast(b))
      .select(col(corpusIdCol),
        cosine(packedDot(col("q"), col("_g_qb")), col("nrm"), col("_g_nb"))
          .as("_g_cos"))
      .groupBy(col(corpusIdCol))
      .agg(max(col("_g_cos")).as("max_cosine"))
      .select(col(corpusIdCol), col("max_cosine"),
        (col("max_cosine") >= threshold).cast("int").as("is_contaminated"))
  }

  /** [[embeddingDupPairs]] past broadcast size: the promised escape hatch
    * when the packed corpus exceeds one executor's broadcast budget —
    * [[blockedPairs]], same exact output as the single-broadcast path.
    *
    * Cost is unchanged (O(n²) dots — exactness is inherently quadratic;
    * use [[annLsh]]/[[annIvf]] when approximate recall is acceptable);
    * what changes is the MEMORY shape: broadcast size drops by `blocks`
    * while the left scan runs `blocks + 1` passes over the corpus
    * (pick blocks ≈ packed_corpus_bytes / broadcast_budget).
    */
  def embeddingDupPairsBlocked(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      blocks: Int = 8): DataFrame =
    blockedPairs(packedWithNorm(df, idCol, embCol), idCol, blocks,
      cosineScore, col("cosine") >= threshold)

  /** Deterministic pseudo-random unit-ish hyperplanes (xorshift64*, fixed
    * seed — no Math.random, reproducible across runs/JVMs). One plane per
    * (table, bit); components in [-0.5, 0.5).
    */
  private[pipeline] def planes(
      tables: Int, bits: Int, dims: Int): Array[Array[Array[Double]]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Double = {
      state ^= state >>> 12; state ^= state << 25; state ^= state >>> 27
      val x = state * 0x2545F4914F6CDD1DL
      ((x >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    Array.fill(tables)(Array.fill(bits)(Array.fill(dims)(next())))
  }

  /** Approximate top-k neighbors via random-hyperplane LSH:
    * [[lshCandidates]] → [[exactReRank]] against the broadcast
    * [[queryBlock]]. Each vector gets `tables` bucket ids (one per hash
    * table); each bucket id packs `bits` sign bits of plane projections.
    *
    * Recall/cost knobs: more `tables` → higher recall, linearly more
    * candidates; more `bits` → smaller buckets, fewer candidates, lower
    * recall per table. Hashing is O(rows × tables × bits × dims) inside
    * one projection — no shuffle until the bucket join.
    */
  def annLsh(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int = 10,
      tables: Int = 8,
      bits: Int = 8): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol)
    val qb = df.filter(queryPred).select(col(idCol).as("qid"))
    val candidates =
      lshCandidates(df, idCol, embCol, queryPred, tables, bits)
    exactReRank(e, idCol, queryBlock(e, idCol, qb), candidates, k)
  }

  /** The quantized hyperplane constants as (tbl, bit, pos, w) rows
    * (pos 1-based, w = floor(plane·10⁶) — exactly what [[lshBuckets]]
    * dots against) — public so the ANN oracle can embed the SAME
    * constants in generated SQL: every stage of annLsh is integer
    * arithmetic over these, so the whole path is oracle-checkable.
    */
  def planeRows(tables: Int, bits: Int, dims: Int): Seq[(Int, Int, Int, Long)] =
    for {
      (tbl, t) <- planes(tables, bits, dims).toSeq.zipWithIndex
      (row, b) <- tbl.toSeq.zipWithIndex
      (w, p) <- row.toSeq.zipWithIndex
    } yield (t, b, p + 1, math.floor(w * 1000000.0).toLong)

  /** [[annLsh]]'s candidate stage alone: the (qid, nid) pairs that share
    * an LSH bucket with a query in some table, for feeding an alternate
    * re-rank kernel ([[quantizedKnnFromCandidates]] is the int8 one).
    * [[lshHashed]], then the query rows' buckets broadcast into the
    * (tbl, bucket) equi-join — never all-pairs.
    */
  def lshCandidates(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      tables: Int = 8,
      bits: Int = 8): DataFrame = {
    val Seq((_, hashed)) = lshHashed(idCol, embCol, tables, bits)(df)
    val qb = df.filter(queryPred).select(col(idCol).as("qid"))
    val qHashed = querySide(hashed, idCol, qb)
      .select(col(idCol).as("qid"), col("tbl"), col("bucket"))
    hashed.join(broadcast(qHashed), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"))
      .distinct()
  }

  /** (id, tbl, bucket) for every (row, hash table): `bits` sign bits of
    * hyperplane projections packed into one bucket id per table. The
    * planes are quantized to longs so every sign bit is one codegen'd
    * integer dot product over the packed vector (the double-HOF
    * formulation ran tables × bits interpreted lambda dots per row);
    * scaling preserves sign structure, so it's the same LSH family.
    * No shuffle — a pure projection over the packed frame.
    */
  private def lshBuckets(
      e: DataFrame, idCol: String,
      tables: Int, bits: Int, dims: Int): DataFrame = {
    val ps = planes(tables, bits, dims)
      .map(_.map(_.map(d => math.floor(d * 1000000.0).toLong)))
    val bucketStructs = (0 until tables).map { t =>
      val bucket = (0 until bits).map { b =>
        val dot = packedDot(col("q"), typedlit(ps(t)(b).toSeq))
        when(dot > 0, lit(1 << b)).otherwise(lit(0))
      }.reduce[Column](_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    e.select(col(idCol), explode(array(bucketStructs: _*)).as("h"))
      .select(col(idCol), col("h.tbl"), col("h.bucket"))
  }

  /** Exact cosine re-rank of (qid, nid) candidate pairs over the packed
    * frame `e`: the neighbor side joins on nid, then `queries`
    * ([[asQueries]], broadcast or not — the caller's plan) on qid; one
    * in-row dot per pair; [[topK]].
    */
  private def exactReRank(
      e: DataFrame, idCol: String, queries: DataFrame,
      candidates: DataFrame, k: Int): DataFrame = {
    val scored = candidates
      .join(e.select(col(idCol).as("nid"), col("q").as("nq"),
        col("nrm").as("n_nrm")), Seq("nid"))
      .join(queries, Seq("qid"))
      .select(col("qid"), col("nid"),
        cosine(packedDot(col("qq"), col("nq")), col("q_nrm"), col("n_nrm"))
          .as("cosine"))
    topK(scored, "cosine", k)
  }

  /** Per-group centroid of an embedding column, dimension-wise: one
    * output row per (group, dim_idx) with the group's mean value at that
    * dimension and the group's vector count. posexplode multiplies rows
    * by d, but the (group, dim) aggregation combines MAP-SIDE, so the
    * exchange carries at most groups × d partial rows per partition —
    * never the exploded row count. Sums go through DECIMAL(28,6): float
    * summation order is partitioning-dependent, decimal addition is
    * exact, so the centroid is bit-stable across any cluster layout (the
    * same discipline as graft.queries.Relational.dsum).
    */
  def centroids(df: DataFrame, groupCol: String, embCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(embCol)).as(Seq("dim_idx", "_g_e")))
      .groupBy(col(groupCol), col("dim_idx").cast("bigint").as("dim_idx"))
      .agg(
        (sum(col("_g_e").cast("double").cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))

  /** Per-dimension z-score normalization of an embedding column — the
    * feature-scaling pass before clustering / ANN indexing when
    * dimensions carry different scales. Values quantize to the
    * floor(v·1000) integer grid first (the module contract: integer
    * sums are exact in ANY accumulation order, so the per-dimension
    * mean/variance are bit-identical across partitionings and engines);
    * mean and sample variance then come from the exact (Σq, Σq², n)
    * sums in one fixed double-op order, z = (q − μ)/σ, and a dimension
    * with σ = 0 normalizes to 0.0.
    *
    * Plan shape at scale: one posexplode, a dim-keyed aggregate with
    * map-side combine (d partial rows per partition), the d-row stats
    * frame BROADCAST back onto the exploded stream, and one id-keyed
    * re-pack via sort_array(collect_list(struct(dim, z))) — two
    * exchanges total, neither wider than rows × d.
    */
  def zNormalize(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val ex = df.select(col(idCol),
        posexplode(col(embCol)).as(Seq("dim_idx", "_g_e")))
      .select(col(idCol), col("dim_idx").cast("bigint").as("dim_idx"),
        quantize(col("_g_e")).as("_g_q"))
    val stats = ex.groupBy(col("dim_idx")).agg(
      count(lit(1)).as("_g_n"),
      sum(col("_g_q")).as("_g_sm"),
      sum(col("_g_q") * col("_g_q")).as("_g_sq"))
    val mean = col("_g_sm").cast("double") / col("_g_n")
    val varS = (col("_g_sq").cast("double") -
      col("_g_sm").cast("double") * col("_g_sm").cast("double") /
        col("_g_n")) / (col("_g_n") - lit(1L))
    val z = when(col("_g_var") <= 0.0 || col("_g_n") === 1, lit(0.0))
      .otherwise((col("_g_q").cast("double") - col("_g_mean")) /
        sqrt(col("_g_var")))
    ex.join(broadcast(stats.select(col("dim_idx"), mean.as("_g_mean"),
        varS.as("_g_var"), col("_g_n"))), "dim_idx")
      .select(col(idCol), col("dim_idx"),
        z.cast("decimal(28,6)").cast("double").as("_g_z"))
      .groupBy(col(idCol))
      .agg(transform(
        sort_array(collect_list(struct(col("dim_idx"), col("_g_z")))),
        s => s.getField("_g_z")).as("z_embedding"))
  }

  /** (score, j) per centroid; struct ordering gives argmin with
    * deterministic index tie-break. |q|² is constant per row, so
    * score = |c|² − 2·q·c orders identically to squared distance.
    */
  private def centroidScoreStructs(
      cents: Array[Array[Long]], qCol: Column): Seq[Column] =
    cents.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      val cNorm = c.map(x => x * x).sum
      struct(
        (lit(cNorm) - lit(2L) * packedDot(qCol, typedlit(c.toSeq))).as("score"),
        lit(j).as("cluster"))
    }

  /** The index of the centroid nearest the packed vector `qCol` (argmin
    * of [[centroidScoreStructs]], lower index on ties).
    */
  private def nearestCentroid(cents: Array[Array[Long]], qCol: Column): Column =
    array_min(array(centroidScoreStructs(cents, qCol): _*)).getField("cluster")

  /** The packed vectors of the `n` lowest id-hashes of `e` — the
    * reproducible spread sample that seeds Lloyd and the PQ codebooks,
    * planned as TakeOrderedAndProject (top-k, no global sort
    * materialization); `portable` switches the hash to the md5 ring so
    * the oracle can replay it (q218/q224).
    */
  private def initSample(
      e: DataFrame, idCol: String, n: Int, portable: Boolean): Array[Array[Long]] = {
    val initHash =
      if (portable) Sampling.portableHash(col(idCol))
      else xxhash64(col(idCol))
    e.orderBy(initHash.asc, col(idCol).asc).limit(n)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
  }

  /** IVF candidates: each query (ids in `qb`) probes its `nprobe`
    * nearest of `cents` (sorted score array), and meets the members of
    * those inverted `lists` (id, cluster) through the broadcast cluster
    * equi-join — never all-pairs.
    */
  private def ivfCandidates(
      e: DataFrame, idCol: String, qb: DataFrame, lists: DataFrame,
      cents: Array[Array[Long]], nprobe: Int): DataFrame = {
    val probes = querySide(e, idCol, qb)
      .select(col(idCol).as("qid"),
        slice(sort_array(array(centroidScoreStructs(cents, col("q")): _*)),
          1, nprobe).as("ps"))
      .select(col("qid"), explode(col("ps")).as("p"))
      .select(col("qid"), col("p.cluster").as("cluster"))
    lists.join(broadcast(probes), Seq("cluster"))
      .filter(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"))
      .distinct()
  }

  /** Deterministic Lloyd training over the packed frame `e` — the
    * shared coarse-quantizer trainer of [[annIvf]] and [[annIvfPq]].
    * Init is [[initSample]] (`portable` makes the whole training replay
    * oracle-checkable, q218/q224). Each iteration assigns
    * ([[nearestCentroid]]) and re-centers with floor(avg); the
    * nlist × dims means are the bounded per-round driver collect that
    * becomes the next round's broadcast literals.
    */
  private def lloydTrain(
      e: DataFrame, idCol: String, nlist: Int, iters: Int,
      portable: Boolean, opName: String): Array[Array[Long]] = {
    var centroids = initSample(e, idCol, nlist, portable)
    for (_ <- 0 until iters) {
      val means = e
        .select(nearestCentroid(centroids, col("q")).as("cluster"),
          posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(floor(avg(col("v"))).cast("long").as("m"))
        .collect()
      val byCluster = means.groupBy(_.getInt(0))
      centroids = centroids.indices.map { j =>
        byCluster.get(j) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray
          case None =>
            // portable mode's oracle replays ONLY populated clusters
            // (a recursive CTE cannot carry the previous centroid a
            // second self-reference would need) — so an empty cluster
            // must fail LOUDLY there instead of silently diverging
            if (portable) throw new IllegalStateException(
              s"$opName portable: cluster $j emptied during training — " +
                "the oracle contract requires all clusters stay populated")
            centroids(j) // empty cluster keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** IVF (inverted-file) approximate nearest neighbors — the second
    * standard scale path next to [[annLsh]]: a k-means coarse quantizer
    * ([[lloydTrain]]) partitions the corpus into `nlist` inverted lists;
    * each query probes its `nprobe` nearest centroids
    * ([[ivfCandidates]]) and [[exactReRank]]s only those lists. Cost:
    * O(rows × nlist) assignment (codegen'd integer dots against
    * centroid literals, no shuffle) + O(queries × nprobe × rows/nlist)
    * re-rank — never all-pairs.
    */
  def annIvf(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 3,
      portable: Boolean = false): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol)
    val centroids =
      lloydTrain(e, idCol, nlist, iters, portable, opName = "annIvf")
    val lists = e.select(col(idCol), col("q"), col("nrm"),
        nearestCentroid(centroids, col("q")).as("cluster"))
      .select(col(idCol), col("cluster"))
    val qb = df.filter(queryPred).select(col(idCol).as("qid"))
    exactReRank(e, idCol, queryBlock(e, idCol, qb),
      ivfCandidates(e, idCol, qb, lists, centroids, nprobe), k)
  }

  /** IVF-PQ — the billion-vector ANN store layout: [[annIvf]]'s coarse
    * k-means bounds the candidate lists, and instead of exact re-rank
    * each candidate is scored from its PRODUCT-QUANTIZATION code — the
    * vector compressed to `m` bytes-ish (one codeword index per
    * subspace), 32× smaller than the packed int vector at the defaults.
    * Scoring is ASYMMETRIC (ADC): the query stays full-precision and
    * each (subspace, codeword) contributes a precomputed integer dot
    * product — per candidate the score is `m` table lookups and adds,
    * no vector arithmetic at all. That lookup-table scan is what makes
    * PQ the scale path: at 100 TB the codes table is the only
    * corpus-sized operand (m small ints per vector), centroids and
    * query LUTs are broadcast literals, and the only shuffle is the
    * coarse-list candidate join.
    *
    * Training: per-subspace Lloyd on the packed subvector slices — ALL
    * `m` codebooks train in ONE job per iteration (the subspace axis
    * rides an in-row explode, means aggregate per (m, cluster, pos);
    * the driver collect is bounded by m × ksub × d/m = d × ksub longs).
    * Init mirrors the coarse trainer: [[initSample]] of ksub rows, each
    * sliced into its m subvectors. Codes are raw-vector encodings
    * (FAISS's non-residual IndexIVFPQ mode; residual encoding is a
    * quality refinement on the same plumbing — documented divergence).
    *
    * Everything is exact integer arithmetic with deterministic
    * tie-breaks, so `portable = true` makes the ENTIRE path — coarse
    * training, per-subspace codebooks, code assignment, LUT, ADC top-k
    * — replayable in SQL (q224's oracle). Output: (qid, nid, rank,
    * adc_score); rank by score DESC with id tie-break. Recall vs the
    * exact [[bruteForceKnn]] is pinned in PipelineSpec.
    *
    * Codebook-size boundary: assignment argmin is an in-row fold over
    * centroid LITERALS — codegen-friendly to ~10² codewords total,
    * beyond which the generated method outgrows the JIT limit and
    * Spark falls back to interpreted eval (correct, slower). At
    * FAISS-classic ksub = 256, swap assignment to a broadcast-join +
    * min_by over a centroid FRAME — same semantics, one extra
    * broadcast, no giant expression.
    */
  def annIvfPq(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int = 10,
      nlist: Int = 16,
      nprobe: Int = 4,
      coarseIters: Int = 3,
      m: Int = 8,
      ksub: Int = 8,
      pqIters: Int = 2,
      portable: Boolean = false): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol)
    val d = e.select(size(col("q"))).head().getInt(0)
    require(d % m == 0, s"dims $d not divisible by m=$m subspaces")
    val sub = d / m
    def subCol(mi: Int): Column = slice(col("q"), mi * sub + 1, sub)

    // ---- coarse quantizer: shared deterministic Lloyd ----
    val coarse =
      lloydTrain(e, idCol, nlist, coarseIters, portable, opName = "annIvfPq")
    val lists = e.select(col(idCol), nearestCentroid(coarse, col("q")).as("cluster"))

    // ---- PQ codebooks: per-subspace Lloyd, all subspaces per job ----
    val initRows = initSample(e, idCol, ksub, portable)
    require(initRows.length == ksub,
      s"annIvfPq: corpus smaller than ksub=$ksub")
    var books: Array[Array[Array[Long]]] = // (m)(ksub)(sub)
      Array.tabulate(m)(mi =>
        initRows.map(_.slice(mi * sub, mi * sub + sub)))
    def codeCol(mi: Int): Column = nearestCentroid(books(mi), subCol(mi))
    for (_ <- 0 until pqIters) {
      val means = e
        .select(explode(array((0 until m).map(mi => struct(
          lit(mi).as("mi"), codeCol(mi).as("cluster"),
          subCol(mi).as("sv"))): _*)).as("s"))
        .select(col("s.mi"), col("s.cluster"),
          posexplode(col("s.sv")).as(Seq("pos", "v")))
        .groupBy(col("mi"), col("cluster"), col("pos"))
        .agg(floor(avg(col("v"))).cast("long").as("mn"))
        .collect()
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(m) { mi =>
        Array.tabulate(ksub) { j =>
          byKey.get((mi, j)) match {
            case Some(rows) => rows.sortBy(_.getInt(2)).map(_.getLong(3))
            case None =>
              if (portable) throw new IllegalStateException(
                s"annIvfPq portable: subspace $mi codeword $j emptied — " +
                  "the oracle contract requires all codewords stay populated")
              books(mi)(j)
          }
        }
      }
    }

    // ---- codes: the compressed corpus representation ----
    val codes = e.select(
      col(idCol) +: (0 until m).map(mi => codeCol(mi).as(s"c$mi")): _*)

    // ---- probes + ADC scoring ----
    val qb = df.filter(queryPred).select(col(idCol).as("qid"))
    val candidates = ivfCandidates(e, idCol, qb, lists, coarse, nprobe)
    val qe = querySide(e, idCol, qb).select(col(idCol).as("qid"), col("q").as("qq"))
    // ADC: per subspace, look the candidate's codeword up in the 2-D
    // codebook literal and dot it with the query's subvector — integer
    // exact, so the portable replay is bit-for-bit
    def qSubCol(mi: Int): Column = slice(col("qq"), mi * sub + 1, sub)
    val adc = (0 until m).map { mi =>
      packedDot(qSubCol(mi),
        element_at(typedlit(books(mi).map(_.toSeq).toSeq),
          col(s"c$mi") + 1))
    }.reduce(_ + _)
    val scored = candidates
      .join(codes.withColumnRenamed(idCol, "nid"), Seq("nid"))
      .join(broadcast(qe), Seq("qid"))
      .select(col("qid"), col("nid"), adc.as("adc_score"))
    topK(scored, "adc_score", k)
  }

  /** SemDeDup-style semantic deduplication: drop every embedding whose
    * cosine to an already-kept one clears `threshold`, transitively —
    * near-duplicate MEANING, not near-duplicate bytes (a paraphrased
    * re-crawl that defeats every n-gram method lands in the same
    * cluster here). Pairs → connected components ([[graft.pipeline
    * .TextDedup.dupClusters]]' label propagation) → min-id
    * representative per component; every input row comes back with its
    * `canonical_id` and an `is_kept` 0/1 flag (kept rows ARE the
    * semantically deduplicated corpus).
    *
    * Pair source: the exact blocked path ([[embeddingDupPairsBlocked]])
    * — quadratic by contract, which is what makes the operator
    * oracle-exact. At corpus scale swap the pair stage for [[annLsh]]
    * candidates verified at `threshold` (the standard SemDeDup trade:
    * recall < 1 for linear cost); the clustering and keep logic are
    * unchanged — or use [[semanticDedupFromPairs]] with any pair frame.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      blocks: Int = 8): DataFrame =
    semanticDedupFromPairs(df, idCol,
      embeddingDupPairsBlocked(df, idCol, embCol, threshold, blocks))

  /** LSH-candidate near-duplicate pairs verified at `threshold` — the
    * linear-cost pair stage for [[semanticDedupAnn]]: [[dupCandidates]]
    * (id<id bucket pairs), then [[pairDots]] for the exact-cosine
    * verify. NEVER all-pairs: the only shuffles are the bucket join and
    * the pair-key distinct, both O(candidates).
    *
    * Output (`vec_a` < `vec_b`, `cosine`) matches
    * [[embeddingDupPairs]]' contract — verified pairs are a SUBSET of
    * the exact pair set (false positives die at the verify; false
    * negatives are pairs whose buckets never collide). Recall is
    * 1 − (1 − p^bits)^tables at plane-agreement p = 1 − θ/π; defaults
    * (24 tables × 3 bits) hold empirical recall 1.0 on the test
    * fixture's cosine ≥ 0.4 pairs at every SF (asserted in
    * SimilaritySpec), making the ANN path byte-equal to the exact one
    * there. At production thresholds (≥ 0.9) far fewer tables suffice.
    */
  def annDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      tables: Int = 24,
      bits: Int = 3): DataFrame = {
    val (e, cand) = dupCandidates(df, idCol, embCol, tables, bits)
    cosineAtLeast(pairDots(cand, e, e, idCol, "vec_a", "vec_b"),
      "vec_a", "vec_b", threshold)
  }

  /** CROSS-SET LSH near-duplicate pairs — the embedding twin of the
    * text side's incremental gates (`jaccardPairsAcross` /
    * `incrementalExactDedup`): every (incoming, corpus) pair within
    * cosine `threshold`, found through shared LSH buckets and verified
    * at the exact quantized cosine. The nightly-crawl semantic dedup:
    * both sides are large, so neither broadcasts — both hash with the
    * same planes ([[lshHashed]]), candidates are their [[bucketPairs]]
    * and [[pairDots]] verifies them, never incoming × corpus.
    * Verified candidates ⊆ exact pairs always; at recall 1.0 (the
    * fixture regime, asserted in sbt) the pair set IS the exact one.
    * The corpus never pairs with itself — only cross-set pairs emit.
    * Id spaces must be disjoint (the incremental contract).
    *
    * Output: (in_id, corpus_id, cosine).
    */
  def annDupPairsAcross(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      tables: Int = 24,
      bits: Int = 3): DataFrame = {
    val Seq((inE, inHashed), (coE, coHashed)) =
      lshHashed(idCol, embCol, tables, bits)(incoming, corpus)
    val cand = bucketPairs(inHashed, coHashed, idCol, "in_id", "corpus_id")
    cosineAtLeast(pairDots(cand, inE, coE, idCol, "in_id", "corpus_id"),
      "in_id", "corpus_id", threshold)
  }

  /** Corpus-size-aware LSH configuration: the (tables, bits) pair that
    * minimizes a dot-product cost model subject to a recall floor — the
    * closed form of SCALING.md's "bits grow with log N" density law, so
    * callers stop hand-tuning per fixture (SCALE_r11 measured the
    * fixture-tuned config going 13.6× at 10× data; the occupancy-constant
    * config 6.7×).
    *
    * Model (unit = one plane/vector dot):
    *   - recall constraint: sign-LSH plane agreement for a pair at the
    *     cosine threshold is p = 1 − acos(t)/π; a ≥-threshold pair
    *     survives some table with prob 1 − (1 − p^bits)^tables, so
    *     tables(bits) = ⌈ln(1 − recall) / ln(1 − p^bits)⌉ is the minimum
    *     table count holding `recall`;
    *   - hash cost: n × tables × bits plane dots;
    *   - verify cost: random pairs agree per plane with prob ≈ 1/2, so
    *     expected candidates ≈ tables × n²/2^(bits+1), one packed dot each.
    * The argmin over bits ∈ [1, 24] balances the two: more bits → fewer,
    * purer candidates but more tables for the same recall. All math is
    * deterministic in (n, threshold, recall) — no RNG, no data pass.
    *
    * `maxTables` (default 64) is a PRACTICAL plan bound, not tuning: each
    * table is a plan branch (bucket projection + union arm), so hundreds
    * of tables blow up codegen/plan size long before the math stops
    * working (measured: the unbounded argmin picked 687 tables at
    * n = 50000 / t = 0.4 and the 10× sidecar run OOM'd on plan weight).
    * Under the cap the recall floor ALWAYS stays satisfiable — bits = 1
    * holds 0.999 recall with ≤ 10 tables at any positive threshold — the
    * cap only stops bits from growing once tables(bits) would exceed it,
    * so pressure shows up as verify-candidate COST, never as silent
    * recall loss. Concretely at recall 0.999: t = 0.9 (the semantic-dedup
    * regime) tracks the density law across sizes — n = 500 → (14, 6),
    * n = 50000 → (41, 12) — while t = 0.4 saturates at (41, 4) past
    * n ≈ 500: the documented handoff point to IVF ([[annIvf]]/
    * [[annIvfPq]]), which is the right index family for low-threshold
    * high-recall search at scale. Throws (rather than silently degrading
    * recall) only when `maxTables` is set below the bits = 1 requirement.
    */
  def lshAutoConfig(
      n: Long,
      threshold: Double,
      recall: Double = 0.999,
      maxTables: Int = 64): (Int, Int) = {
    require(n > 0, "lshAutoConfig: empty corpus")
    require(threshold > -1.0 && threshold < 1.0, s"bad threshold $threshold")
    require(recall > 0.0 && recall < 1.0, s"bad recall target $recall")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val lnMiss = math.log(1.0 - recall)
    val candidates = (1 to 24).flatMap { bits =>
      val pb = math.pow(p, bits)
      if (pb >= 1.0) None // threshold ~1: one table suffices
      else {
        val tables = math.ceil(lnMiss / math.log(1.0 - pb)).toInt.max(1)
        if (tables > maxTables) None
        else {
          val hash = n.toDouble * tables * bits
          val verify = tables * (n.toDouble * n / math.pow(2.0, bits + 1))
          Some(((tables, bits), hash + verify))
        }
      }
    }
    require(candidates.nonEmpty,
      s"lshAutoConfig: no bits ≤ 24 holds recall $recall within " +
        s"$maxTables tables at threshold $threshold — lower the recall " +
        "floor or raise maxTables (low thresholds are the expensive " +
        "regime: p^bits collapses as acos(t) grows)")
    candidates.minBy(_._2)._1
  }

  /** [[annDupPairs]] with the LSH config derived from the corpus size by
    * [[lshAutoConfig]] — one count() job (metadata-cheap on parquet), then
    * the standard bucketed pair stage. The scale-safe default: the config
    * moves with corpus size instead of being frozen at authoring time
    * (the SCALE_r11 density-law finding, closed), within the practical
    * table budget documented on [[lshAutoConfig]].
    */
  def annDupPairsAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      recall: Double = 0.999): DataFrame = {
    val (tables, bits) = lshAutoConfig(df.count(), threshold, recall)
    annDupPairs(df, idCol, embCol, threshold, tables, bits)
  }

  /** [[semanticDedupAnn]] with the [[lshAutoConfig]]-derived config — the
    * form a caller should reach for when the corpus size isn't known at
    * authoring time (i.e. always, at 100 TB).
    */
  def semanticDedupAnnAuto(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      recall: Double = 0.999): DataFrame =
    semanticDedupFromPairs(df, idCol,
      annDupPairsAuto(df, idCol, embCol, threshold, recall))

  /** [[semanticDedup]] with the quadratic pair stage swapped for
    * [[annDupPairs]] LSH candidates — the 100 TB SemDeDup path:
    * O(rows × tables × bits) hashing + O(candidates) verify, then the
    * same label-propagation components and min-id keeps. Identical
    * output to [[semanticDedup]] whenever LSH recall on the
    * ≥ `threshold` pairs is 1.0 (the fixture regime — see
    * [[annDupPairs]]); under partial recall some near-dup clusters
    * split, the standard approximate-dedup trade.
    */
  def semanticDedupAnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      tables: Int = 24,
      bits: Int = 3): DataFrame =
    semanticDedupFromPairs(df, idCol,
      annDupPairs(df, idCol, embCol, threshold, tables, bits))

  /** Keep/drop assignment from a precomputed near-dup pair frame
    * (columns `vec_a`, `vec_b`): components via label propagation,
    * min-id keeps. Shared by [[semanticDedup]] and any
    * approximate-candidate caller.
    */
  def semanticDedupFromPairs(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = graft.pipeline.TextDedup
      .dupClusters(pairs.select(col("vec_a"), col("vec_b")), "vec_a", "vec_b")
      .withColumnRenamed("doc_id", idCol)
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("canonical_id"), col(idCol)).as("canonical_id"))
      .withColumn("is_kept",
        (col(idCol) === col("canonical_id")).cast("int"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup
    * with the quadratic pair stage bounded by K-MEANS CLUSTERS instead
    * of LSH buckets: the third pair-generation regime next to the
    * exact blocked form ([[semanticDedup]]) and the LSH-candidate form
    * ([[semanticDedupAnn]]).
    *
    *   1. coarse k-means over the packed integer embeddings (the
    *      shared [[lloydTrain]] — `portable = true` replays the whole
    *      training in the oracle, q218's contract);
    *   2. exact pairwise quantized cosine WITHIN each cluster only
    *      (`vec_a < vec_b` self-equi-join on the cluster key);
    *   3. pairs ≥ `threshold` → connected components → min-id keeps
    *      (the [[semanticDedupFromPairs]] contract, so all three
    *      regimes share one keep rule and one output schema, plus the
    *      assignment's `cluster` column for audit).
    *
    * Documented divergence from the paper: within a duplicate group
    * SemDeDup keeps the example with LOWEST cosine to its cluster
    * centroid (a data-diversity heuristic); this operator keeps the
    * MIN-ID member — deterministic, engine-portable, and consistent
    * with every other dedup family here. The priority is one sort-key
    * swap in the keep rule if the paper's choice is wanted; the
    * cluster/pair machinery — the scale-bearing part — is identical.
    *
    * Scale: cluster-bounded pairs cost Σ_c |c|² /2 dots — with
    * `nlist` grown ∝ √N (the paper runs 50k clusters for LAION-scale
    * corpora) the expected per-cluster population stays flat and total
    * pair work stays ~linear. The failure mode is a MEGA-CLUSTER
    * (embedding-space hub): its |c|² pair stage regains the quadratic
    * — raise `nlist`, or route that cluster's members through
    * [[annDupPairs]] (LSH bounds work per-row regardless of density).
    * That failure mode is GUARDED at runtime, not just documented: a
    * pre-flight audit (one nlist-row aggregate over the assignment —
    * the [[EntityResolution.blockSizes]] pre-flight, made mandatory)
    * fails LOUDLY when any single cluster's pair stage |c|²/2 would
    * exceed the whole run's balanced pair budget N²/(2·nlist), i.e.
    * when |c| > N/√nlist. The bound is scale-invariant under the
    * paper's nlist ∝ √N sizing (slack grows as √nlist: 224× at
    * N=10⁹/nlist=50k, so only a true hub — not normal imbalance —
    * can trip it; the fixture's worst cluster sits at 3× headroom).
    * Cosine misses across cluster boundaries are the approximation the
    * paper accepts; boundary recall is measured against the exact pair
    * set in PipelineSpec.
    */
  def semDeDup(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      nlist: Int = 16,
      iters: Int = 3,
      portable: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(nlist >= 2, s"nlist must be >= 2, got $nlist")
    val e = packedWithNorm(df, idCol, embCol)
    val centroids =
      lloydTrain(e, idCol, nlist, iters, portable, opName = "semDeDup")
    val assigned = e.select(col(idCol), col("q"), col("nrm"),
      nearestCentroid(centroids, col("q")).cast("long").as("cluster"))
    // mega-cluster pre-flight (scaladoc): nlist-row audit, loud fail
    val sz = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("_cn"))
      .agg(max(col("_cn")), sum(col("_cn"))).head()
    val (maxC, nRows) = (sz.getLong(0), sz.getLong(1))
    val bound = math.ceil(nRows / math.sqrt(nlist.toDouble)).toLong
    require(maxC <= bound,
      s"semDeDup mega-cluster: largest cluster holds $maxC of $nRows " +
        s"rows (> N/sqrt(nlist) = $bound); its pair stage alone would " +
        "exceed the run's balanced pair budget N^2/(2*nlist). Raise " +
        "nlist (paper sizing: nlist ~ sqrt(N)) or route this corpus " +
        "through annDupPairs (LSH bounds per-row work regardless of " +
        "embedding-space hubs).")
    def side(id: String, s: String) =
      assigned.select(col("cluster") +: sideCols(idCol, id, s): _*)
    val pairs = cosineAtLeast(withDot(
        side("vec_a", "a").join(side("vec_b", "b"), Seq("cluster"))
          .filter(col("vec_a") < col("vec_b")), "vec_a", "vec_b"),
      "vec_a", "vec_b", threshold)
    semanticDedupFromPairs(df, idCol, pairs)
      .join(assigned.select(col(idCol), col("cluster")), Seq(idCol))
  }

  /** Symmetric per-vector int8 quantization: each embedding is scaled by
    * its own max-|v|/127 and rounded, so every component lands in
    * [-127, 127] and the vector's direction survives to ~0.4% relative
    * error — the standard 4× storage cut (float32 → int8) for a 100 TB
    * embedding store, and the precondition for integer-only distance
    * kernels ([[quantizedKnn]]).
    *
    * Entirely in-row (array higher-order functions, no UDF, no shuffle):
    * the quantized corpus is produced by a single scan and writes
    * straight back out. Determinism: v·127/max runs in IEEE double on
    * every engine; ties round away from zero on both Spark (HALF_UP)
    * and DuckDB, and can only arise from exactly-representable halves.
    * All-zero vectors quantize to all zeros with scale 0 (no 0/0).
    *
    * Output: (idCol, qv: array<long> of int8-range values,
    * scale: double = max-|v|/127 — the dequantization factor the store
    * keeps beside each vector; v ≈ qv·scale).
    */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol),
        transform(col(embCol), v => v.cast("double")).as("_v"))
      .select(col(idCol), col("_v"),
        array_max(transform(col("_v"), v => abs(v))).as("_ma"))
      .select(col(idCol),
        when(col("_ma") === 0.0, transform(col("_v"), _ => lit(0L)))
          .otherwise(transform(col("_v"),
            v => round(v * lit(127.0) / col("_ma"), 0).cast("long")))
          .as("qv"),
        (col("_ma") / lit(127.0)).as("scale"))

  /** Exact inner-product top-k (MIPS) over the int8-quantized corpus —
    * the retrieval kernel a quantized dense-retriever store actually
    * runs (FAISS SQ8 style): the hot loop is one INTEGER dot product
    * per pair (in-row through the codegen'd
    * [[graft.functions.LongArrayDot]]), then the score dequantizes as
    * idot·scale_q·scale_n with the two per-vector scales the store
    * keeps beside the vectors. The dequantized score is d6-rounded
    * BEFORE the rank (q123's discipline — the three-factor product is
    * IEEE-deterministic in fixed order, d6 absorbs nothing but keeps
    * the contract uniform) with an id tie-break.
    *
    * Same broadcast nested-loop shape as [[bruteForceKnn]], with the
    * int8 query block. Ranking is by inner product, not cosine — for cosine
    * semantics L2-normalize upstream before quantizing. This is the
    * re-rank kernel; at corpus scale feed it [[annLsh]] / IVF
    * candidates instead of the full corpus, exactly as with the float
    * path. Output: (qid, nid, rank, score).
    */
  def quantizedKnn(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      k: Int = 10): DataFrame = {
    val e = quantizeInt8(df, idCol, embCol)
    val q = df.filter(queryPred).select(col(idCol).as("_query_id"))
    val scored = e.join(int8QueryBlock(e, idCol, q), col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"), int8Score)
    topK(scored, "score", k)
  }

  /** The broadcast int8 query block of `e` for the ids in `qb`: (qid, qq, q_scale). */
  private def int8QueryBlock(e: DataFrame, idCol: String, qb: DataFrame): DataFrame =
    broadcast(querySide(e, idCol, qb).select(col(idCol).as("qid"),
      col("qv").as("qq"), col("scale").as("q_scale")))

  /** The dequantized int8 inner product idot·scale_q·scale_n, d6. */
  private def int8Score: Column =
    d6(packedDot(col("qq"), col("qv")).cast("double") *
      col("q_scale") * col("scale")).as("score")

  /** [[quantizedKnn]]'s integer re-rank kernel fed by a precomputed
    * (qid, nid) candidate frame — the documented ANN→SQ8-re-rank
    * composition a quantized retrieval store runs at corpus scale:
    * [[lshCandidates]] (or IVF lists) bound the pair count, then ONE
    * codegen'd integer dot per surviving pair scores and ranks. Equal
    * to [[quantizedKnn]] over the full corpus whenever the candidates
    * contain each query's true top-k (recall 1.0 — the fixture regime,
    * asserted per-SF in sbt); under partial recall the tail of a
    * query's list degrades first, the standard ANN trade.
    *
    * Plan shape: [[exactReRank]]'s, with the int8 query block and score.
    */
  def quantizedKnnFromCandidates(
      df: DataFrame,
      idCol: String,
      embCol: String,
      candidates: DataFrame,
      k: Int = 10): DataFrame = {
    val e = quantizeInt8(df, idCol, embCol)
    val qb = candidates.select(col("qid")).distinct()
    val scored = candidates
      .join(e.select(col(idCol).as("nid"), col("qv"), col("scale")),
        Seq("nid"))
      .join(int8QueryBlock(e, idCol, qb), Seq("qid"))
      .select(col("qid"), col("nid"), int8Score)
    topK(scored, "score", k)
  }

  /** DOMINANT PRINCIPAL COMPONENT of an embedding set — the direction
    * of maximum variance, the vector the ABTT / all-but-the-top
    * whitening recipe removes before similarity search (anisotropic
    * embedding spaces park most of their variance in a few directions
    * that carry frequency, not meaning).
    *
    * Exact-integer power iteration, so the result is bit-reproducible
    * cross-engine with NO float tolerance anywhere in the loop:
    *
    *  - vectors quantize to the floor(v·1000) grid (q26's discipline);
    *  - the d×d scatter matrix is exact integer arithmetic:
    *    A = n·Σqqᵀ − SSᵀ (scaled covariance; scaling changes
    *    eigenvalues, not eigenvectors), accumulated through
    *    DECIMAL(38,0);
    *  - each of the `iters` rounds computes w = A·v in exact integers
    *    (sums are associative — engine order can't matter) and
    *    rescales by the INTEGER division w div max(1, max|w| div 1000)
    *    (truncation toward zero on both engines), keeping max|v| in
    *    [1000, 2000) forever — the float-free stand-in for L2
    *    normalization.
    *
    * Output: (j, pc_component, direction) — the exact integer
    * component per dimension and its d6 L2-normalized direction (the
    * norm is a ≤ d-term sum of exact small squares: every partial sum
    * is double-exact, so the division is deterministic).
    *
    * Scale: the only corpus-sized work is the scatter accumulation —
    * the id-keyed self-join explodes n·d² products that combine
    * MAP-SIDE to ≤ d² partials per partition (the centroids
    * discipline). The d×d matrix itself (≤ dims² decimals) is the one
    * bounded `collect` contract point, like annIvf's centroid
    * literals; the iteration is driver-side BigInt on that tiny
    * matrix. At extreme n the DECIMAL(38,0) scatter saturates around
    * n ≈ 1e16 rows — re-grid to floor(v·100) long before that.
    */
  def principalComponent(
      df: DataFrame,
      idCol: String,
      embCol: String,
      iters: Int = 100): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val e = df
      .select(col(idCol).as("_g_id"),
        posexplode(col(embCol)).as(Seq("_g_p", "_g_v")))
      .select(col("_g_id"), (col("_g_p") + 1).as("_g_j"),
        quantize(col("_g_v")).as("_g_q"))
    val nF = e.agg(countDistinct(col("_g_id")).as("_g_n"))
    val sF = e.groupBy(col("_g_j")).agg(sum(col("_g_q")).as("_g_s"))
    val aF = e.select(col("_g_id"), col("_g_j").as("_g_ja"), col("_g_q").as("_g_qa"))
      .join(e.select(col("_g_id"), col("_g_j").as("_g_jb"),
        col("_g_q").as("_g_qb")), "_g_id")
      .groupBy(col("_g_ja"), col("_g_jb"))
      .agg(sum(col("_g_qa") * col("_g_qb")).as("_g_pp"))
      .join(sF.select(col("_g_j").as("_g_ja"), col("_g_s").as("_g_sa")), "_g_ja")
      .join(sF.select(col("_g_j").as("_g_jb"), col("_g_s").as("_g_sb")), "_g_jb")
      .crossJoin(broadcast(nF))
      .select(col("_g_ja"), col("_g_jb"),
        (col("_g_n").cast("decimal(38,0)") * col("_g_pp").cast("decimal(38,0)")
          - col("_g_sa").cast("decimal(38,0)") * col("_g_sb").cast("decimal(38,0)"))
          .as("_g_a"))
    // bounded contract point: d² decimals (≤ 1024 rows at d = 32)
    val entries = aF.collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        BigInt(r.getDecimal(2).toBigInteger)))
      .toMap
    val d = entries.keys.map(_._1).max
    val a = Array.tabulate(d, d)((j, k) => entries((j + 1, k + 1)))
    var v = Array.fill(d)(BigInt(1))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(j =>
        (0 until d).foldLeft(BigInt(0))((acc, k) => acc + a(j)(k) * v(k)))
      val divisor = (w.map(_.abs).max / 1000000) max BigInt(1)
      v = w.map(_ / divisor) // BigInt / truncates toward zero, like SQL div
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
    val out = v.zipWithIndex.map { case (x, j) =>
      val dir = BigDecimal(x.toDouble / norm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (j + 1L, x.toLong, dir)
    }
    out.toSeq.toDF("j", "pc_component", "direction")
  }

  /** ABTT / all-but-the-top WHITENING: remove the dominant principal
    * component from every embedding — the post-processing that
    * measurably improves anisotropic embedding similarity (the top
    * direction carries frequency, not meaning). Exact integer
    * arithmetic end to end, composing [[principalComponent]]'s integer
    * direction V:
    *
    *   w_j = ‖V‖²·q_j − (q·V)·V_j      (scaled residual: q's projection
    *                                    off V, scaled by ‖V‖² to stay
    *                                    integer — scaling doesn't move
    *                                    cosines)
    *
    * so Σ_j w_j·V_j = ‖V‖²(q·V) − (q·V)‖V‖² = 0 EXACTLY: orthogonality
    * is an integer identity, not a tolerance. Output: (id,
    * `whitened` array<long>, `dot_pc` long).
    *
    * Scale: V collects once (d longs, the principalComponent contract
    * point) and enters the plan as a LITERAL array; the whitening
    * itself is a pure in-row zip_with projection — zero shuffles over
    * the corpus. Magnitudes: |w| ≤ 2·‖V‖²·max|q| ≈ 5e17 at the
    * default grids — inside long.
    */
  def removeTopComponent(
      df: DataFrame,
      idCol: String,
      embCol: String,
      iters: Int = 100): DataFrame = {
    val v = principalComponent(df, idCol, embCol, iters)
      .collect().sortBy(_.getLong(0)).map(_.getLong(1))
    val v2 = v.map(x => x * x).sum
    val vLit = typedLit(v.toSeq)
    df.select(col(idCol), transform(col(embCol), quantize(_)).as("_g_q"))
      .select(col(idCol), col("_g_q"),
        graft.functions.GraftFunctions.longArrayDot(col("_g_q"), vLit)
          .as("dot_pc"))
      .select(col(idCol),
        zip_with(col("_g_q"), vLit,
          (qj, vj) => lit(v2) * qj - col("dot_pc") * vj).as("whitened"),
        col("dot_pc"))
  }

  /** HARD-NEGATIVE MINING for contrastive/metric training: for each
    * query vector, the exact top-k most-similar vectors with a
    * DIFFERENT label — the near-misses a triplet/InfoNCE loss learns
    * the most from (an easy random negative contributes ~zero
    * gradient). Same quantized-integer cosine as [[bruteForceKnn]]
    * (bit-reproducible, codegen'd dot), with the label inequality
    * applied IN the join condition, so same-label pairs are discarded
    * before scoring, not after ranking — rank k means the k-th hardest
    * true negative, never a filtered-out positive's ghost slot.
    *
    * Output: (qid, q_label, nid, n_label, rank, cosine). Plan shape =
    * [[bruteForceKnn]]'s declared exact baseline; feed it ANN
    * candidates (the q174 pattern) when the query side stops fitting
    * in a broadcast.
    */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      queryPred: Column,
      k: Int = 10): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol, labelCol)
    val qSide = e.filter(queryPred)
      .select(col(idCol).as("qid"), col(labelCol).as("q_label"),
        col("q").as("qq"), col("nrm").as("q_nrm"))
    val scored = e.join(broadcast(qSide),
        col("qid") =!= col(idCol) && col("q_label") =!= col(labelCol))
      .select(col("qid"), col("q_label"), col(idCol).as("nid"),
        col(labelCol).as("n_label"),
        cosine(packedDot(col("qq"), col("q")), col("q_nrm"), col("nrm"))
          .as("cosine"))
    topK(scored, "cosine", k)
  }

  /** [[hardNegatives]] fed by a candidate pair frame (`qid`, `nid`) —
    * the corpus-scale composition ([[lshCandidates]] in front, the
    * q174 pattern): only candidate pairs are scored, the label gate
    * and ranking are identical, so recall-1.0 candidates reproduce the
    * exact miner bit-for-bit (the precondition PipelineSpec asserts
    * and the shared q197 oracle checks end-to-end).
    */
  def hardNegativesFromCandidates(
      df: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      candidates: DataFrame,
      k: Int = 10): DataFrame = {
    val e = packedWithNorm(df, idCol, embCol, labelCol)
    val qb = candidates.select(col("qid")).distinct()
    val qSide = querySide(e, idCol, qb)
      .select(col(idCol).as("qid"), col(labelCol).as("q_label"),
        col("q").as("qq"), col("nrm").as("q_nrm"))
    val scored = candidates
      .join(e.select(col(idCol).as("nid"), col(labelCol).as("n_label"),
        col("q"), col("nrm")), Seq("nid"))
      .join(broadcast(qSide), Seq("qid"))
      .filter(col("q_label") =!= col("n_label"))
      .select(col("qid"), col("q_label"), col("nid"), col("n_label"),
        cosine(packedDot(col("qq"), col("q")), col("q_nrm"), col("nrm"))
          .as("cosine"))
    topK(scored, "cosine", k)
  }

  /** Linear-time MMD² two-sample statistic (Gretton et al. 2012, JMLR
    * §6, the MMD²_l estimator) over two embedding corpora — "did the
    * embedding distribution shift?" asked the way [[Stats.psiDrift]]
    * asks it for categoricals: pair the i-th X (by `idCol` order) with
    * the i-th Y, then over consecutive pair-couples (2j, 2j+1) average
    *
    *   h = k(x1,x2) + k(y1,y2) − k(x1,y2) − k(x2,y1)
    *
    * ONE pass, O(min(|X|,|Y|)) kernel evaluations — the design point of
    * the estimator: the quadratic U-statistic's all-pairs grid never
    * exists, so the test runs at corpus scale. Variance is paid for
    * speed (the published trade); a significance bar comes from
    * [[Stats.bootstrapCI]] over re-salted id orders.
    *
    * Kernel: homogeneous quadratic k(a,b) = (a·b)² on the module's
    * floor(v·1000) integer grid — sensitive to mean AND covariance
    * shifts (a linear kernel would only see the mean), and every h is
    * an EXACT integer: dots ≤ dim·10⁶·max|v|² keep (a·b)² inside long
    * range, the h-sum accumulates as decimal(38,0), and the single
    * closing division rescales by 10¹² (= the grid's kernel scale) to
    * original units, d6 at the contract.
    *
    * Positions come from [[Sampling.packContiguous]] with unit sizes —
    * the sharded prefix-rank (per-shard window + broadcast offsets), so
    * there is NO global window; the rank join and the even/odd couple
    * join are plain equi-joins. The odd leftover couple (and any X/Y
    * length mismatch tail) is dropped, per the estimator's ⌊m/2⌋.
    *
    * Output ONE row: (n_x, n_y, n_pairs, mmd2).
    */
  /** Cluster-histogram JS divergence between two embedding corpora —
    * the MAUVE-family recipe (Pillutla et al. 2021 quantizes both
    * distributions onto a shared k-means codebook, then compares the
    * histograms): train Lloyd ON THE UNION (portable mode, so the
    * training replays in the oracle exactly like q218), assign every
    * vector to its nearest centroid, and hand the per-side cluster
    * histograms to [[graft.pipeline.Stats.jsDrift]] — pure composition
    * of two already-verified components, and the bounded-[0, ln 2]
    * answer to "did the embedding distribution shift, and WHERE?"
    * ([[mmdLinear]] gives the scalar test; this names the clusters
    * that moved).
    *
    * Scale shape = the components': Lloyd is nlist-bounded driver
    * iterations over one narrow aggregate; assignment is an in-row
    * argmin over nlist broadcast centroids; the drift rollup is one
    * cluster-keyed aggregate. Contract: `idCol` values must be unique
    * ACROSS BOTH inputs (they meet in the union Lloyd orders by id).
    *
    * Output per cluster: (bucket, n_ref, n_cur, p_ref, p_cur, js_term,
    * js) — jsDrift's Laplace/d6 contract, `js` the corpus total.
    */
  def clusterJsDivergence(
      dfRef: DataFrame,
      dfCur: DataFrame,
      idCol: String,
      embCol: String,
      nlist: Int = 16,
      iters: Int = 3): DataFrame = {
    val u = dfRef.select(col(idCol), col(embCol)).withColumn("_cur", lit(0))
      .unionByName(
        dfCur.select(col(idCol), col(embCol)).withColumn("_cur", lit(1)))
    val e = packedWithNorm(u, idCol, embCol)
    val cents = lloydTrain(e, idCol, nlist, iters, portable = true,
      opName = "clusterJsDivergence")
    val assigned = e.select(col(idCol),
        nearestCentroid(cents, col("q")).as("cluster"))
      .join(u.select(col(idCol), col("_cur")), Seq(idCol))
    graft.pipeline.Stats.jsDrift(assigned, "_cur", col("cluster"))
  }

  def mmdLinear(
      dfX: DataFrame,
      dfY: DataFrame,
      idCol: String,
      embCol: String): DataFrame = {
    def ranked(df: DataFrame, side: String): DataFrame =
      graft.pipeline.Sampling.packContiguous(
        packedWithNorm(df, idCol, embCol).withColumn("_one", lit(1L)),
        idCol, "_one", capacity = Long.MaxValue)
        .select(col("pack_prefix").as("_i"), col("q").as(s"q$side"))
    val paired = ranked(dfX, "x").join(ranked(dfY, "y"), Seq("_i"))
      .withColumn("_j", expr("_i div 2"))
      .withColumn("_slot", col("_i") % 2)
    val one = paired.filter(col("_slot") === 0)
      .select(col("_j"), col("qx").as("x1"), col("qy").as("y1"))
    val two = paired.filter(col("_slot") === 1)
      .select(col("_j"), col("qx").as("x2"), col("qy").as("y2"))
    def k2(a: Column, b: Column): Column = {
      val d = packedDot(a, b)
      d * d
    }
    val h = k2(col("x1"), col("x2")) + k2(col("y1"), col("y2")) -
      k2(col("x1"), col("y2")) - k2(col("x2"), col("y1"))
    val nX = dfX.agg(count(lit(1)).as("n_x"))
    val nY = dfY.agg(count(lit(1)).as("n_y"))
    one.join(two, Seq("_j"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(h.cast("decimal(38,0)")).as("_hs"))
      .crossJoin(broadcast(nX)).crossJoin(broadcast(nY))
      .select(col("n_x"), col("n_y"), col("n_pairs"),
        coalesce(
          (col("_hs").cast("double") /
            (col("n_pairs").cast("double") * lit(1.0e12)))
            .cast("decimal(28,6)").cast("double"),
          lit(0.0)).as("mmd2"))
  }

  /** Simplified (centroid-based) silhouette per cluster label — the
    * clustering-quality score for a labeled/assigned embedding set:
    * a(i) = distance to own centroid, b(i) = distance to the nearest
    * OTHER centroid, s(i) = (b−a)/max(a,b) ∈ [−1, 1]; per-label mean
    * answers "which clusters are coherent vs bleeding into a
    * neighbor". The centroid form is the SCALABLE silhouette — the
    * classic all-pairs definition is O(n²) and exists here only as
    * the conceptual baseline (same preference order as q17 vs q28).
    *
    * Exactness: embeddings quantize to ql = floor(1000·x) (the q167
    * convention); distance to a centroid clears the mean's
    * denominator —
    *
    *   dist_c(i) = sqrt( Σ_d (n_c·ql_d − S_{c,d})² ) / n_c
    *
    * with the inner sum an EXACT decimal(38,0) integer, so the only
    * float steps are one sqrt + one division, d6-rounded; argmin over
    * d6 values is engine-stable. s(i) d6-rounds per point, per-label
    * means use the decimal-sum discipline. Points at distance 0 from
    * both centroids score 0.
    *
    * Scale shape: one (label, dim) aggregate → labels×dims centroid
    * frame collapsed to per-label sum ARRAYS (broadcast — labels are
    * cluster-count-small); the corpus-sized work is one ×|labels|
    * bounded fan-out of in-row zip_with dot products + one vec-keyed
    * aggregate + one label-keyed mean. No pair joins anywhere.
    */
  def centroidSilhouette(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val q = df.select(col(idCol).as("_id"),
      col(labelCol).cast("long").as("_l"),
      transform(col(embCol), quantize(_)).as("_q"))
    val sums = q.select(col("_l"), posexplode(col("_q"))
        .as(Seq("_d", "_x")))
      .groupBy(col("_l"), col("_d"))
      .agg(sum(col("_x")).as("_s"))
    val nPer = q.groupBy(col("_l")).agg(count(lit(1)).as("_n"))
    val cents = sums
      .groupBy(col("_l"))
      .agg(transform(
        array_sort(collect_list(struct(col("_d"), col("_s")))),
        e => e.getField("_s")).as("_sarr"))
      .join(nPer, "_l")
      .select(col("_l").as("_cl"), col("_sarr"), col("_n"))
    val guarded = cents
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("_nl"))))
      .withColumn("_n",
        when(col("_nl") >= 2L, col("_n"))
          .otherwise(raise_error(lit(
            "centroidSilhouette: need >= 2 cluster labels"))
            .cast("long")))
      .drop("_nl")
    val dists = q.crossJoin(broadcast(guarded))
      .select(col("_id"), col("_l"), col("_cl"),
        // diff fits a long to ~10¹⁵ points/cluster; the square goes
        // through decimal(38,0) (diff² can pass 2⁶³)
        d6(sqrt(aggregate(
          zip_with(col("_q"), col("_sarr"), (x, s) =>
            ((col("_n") * x - s).cast("decimal(38,0)") *
              (col("_n") * x - s).cast("decimal(38,0)"))
              .cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)"),
          (acc, v) => (acc + v).cast("decimal(38,0)"))
          .cast("double")) / col("_n").cast("double")).as("_dist"))
    val perPoint = dists.groupBy(col("_id"), col("_l"))
      .agg(max(when(col("_cl") === col("_l"), col("_dist"))).as("_a"),
        min(when(col("_cl") =!= col("_l"), col("_dist"))).as("_b"))
      .select(col("_id"), col("_l"),
        when(greatest(col("_a"), col("_b")) > 0.0,
          d6((col("_b") - col("_a")) / greatest(col("_a"), col("_b"))))
          .otherwise(lit(0.0)).as("_s"))
    perPoint.groupBy(col("_l").as(labelCol))
      .agg(count(lit(1)).as("n_points"),
        sum(d28(col("_s"))).as("_sSum"))
      .select(col(labelCol), col("n_points"),
        d6(col("_sSum").cast("double") / col("n_points").cast("double"))
          .as("mean_silhouette"))
  }

  /** Davies–Bouldin clustering quality index (Davies & Bouldin 1979)
    * in the same scalable centroid form as [[centroidSilhouette]]:
    * per cluster the WORST (scatter_i + scatter_j)/d(cᵢ,cⱼ) ratio
    * against any other cluster, and the index = mean of those worsts
    * — LOWER is better. Where silhouette scores each point, DB scores
    * each CLUSTER against its most-confusable neighbor, which is the
    * readout a k-picker sweeps ("which k stops creating twin
    * clusters").
    *
    * Determinism: the q344 discipline end-to-end — embeddings
    * quantize to integer thousandths, per-point scatter distances are
    * denominator-cleared exact decimals under one IEEE sqrt + d6,
    * scatter means d6 over decimal sums, centroid-centroid distances
    * clear to (nⱼ·s_id − nᵢ·s_jd)² exact decimal with sqrt/(nᵢnⱼ) in
    * one d6, ratios and the final mean one d6 each. Coincident
    * centroids (d = 0) contribute NULL ratios (skipped by max —
    * documented; a duplicate-centroid pair means the labeling is
    * degenerate anyway). Needs ≥ 2 labels — loud.
    *
    * Scale shape: centroid build is one (label, dim) aggregate;
    * per-point scatter joins each point to ITS OWN broadcast centroid
    * only (not all centroids — cheaper than silhouette); the pair
    * stage is labels², label-cardinality bounded.
    */
  def daviesBouldin(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      embCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val q = df.select(col(idCol).as("_id"),
      col(labelCol).cast("long").as("_l"),
      transform(col(embCol), quantize(_)).as("_q"))
    val sums = q.select(col("_l"), posexplode(col("_q"))
        .as(Seq("_d", "_x")))
      .groupBy(col("_l"), col("_d"))
      .agg(sum(col("_x")).as("_s"))
    val nPer = q.groupBy(col("_l")).agg(count(lit(1)).as("_n"))
    val cents = sums
      .groupBy(col("_l"))
      .agg(transform(
        array_sort(collect_list(struct(col("_d"), col("_s")))),
        e => e.getField("_s")).as("_sarr"))
      .join(nPer, "_l")
      .select(col("_l").as("_cl"), col("_sarr"), col("_n"))
    val guarded = cents
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("_nl"))))
      .withColumn("_n",
        when(col("_nl") >= 2L, col("_n"))
          .otherwise(raise_error(lit(
            "daviesBouldin: need >= 2 cluster labels")).cast("long")))
      .drop("_nl")
    // per-point distance to OWN centroid only
    val own = q.join(broadcast(guarded), q("_l") === guarded("_cl"))
      .select(col("_l"),
        d6(sqrt(aggregate(
          zip_with(col("_q"), col("_sarr"), (x, s) =>
            ((col("_n") * x - s).cast("decimal(38,0)") *
              (col("_n") * x - s).cast("decimal(38,0)"))
              .cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)"),
          (acc, v) => (acc + v).cast("decimal(38,0)"))
          .cast("double")) / col("_n").cast("double")).as("_dist"))
    val scat = own.groupBy(col("_l"))
      .agg(count(lit(1)).as("n_points"),
        sum(d28(col("_dist"))).as("_dSum"))
      .select(col("_l"), col("n_points"),
        d6(col("_dSum").cast("double") /
          col("n_points").cast("double")).as("scatter"))
    val a = guarded.select(col("_cl").as("_la"), col("_sarr").as("_sa"),
      col("_n").as("_na"))
    val b = guarded.select(col("_cl").as("_lb"), col("_sarr").as("_sb"),
      col("_n").as("_nb"))
    val cd = a.crossJoin(b).filter(col("_la") =!= col("_lb"))
      .select(col("_la"), col("_lb"),
        d6(sqrt(aggregate(
          zip_with(col("_sa"), col("_sb"), (x, y) =>
            ((dec(col("_nb")) * x - dec(col("_na")) * y) *
              (dec(col("_nb")) * x - dec(col("_na")) * y))
              .cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)"),
          (acc, v) => (acc + v).cast("decimal(38,0)"))
          .cast("double")) /
          (col("_na").cast("double") * col("_nb").cast("double")))
          .as("_dij"))
    val sa = scat.select(col("_l").as("_la"),
      col("scatter").as("_scA"))
    val sb = scat.select(col("_l").as("_lb"),
      col("scatter").as("_scB"))
    val ratios = cd.join(sa, Seq("_la")).join(sb, Seq("_lb"))
      .withColumn("_r",
        when(col("_dij") > 0.0,
          d6((col("_scA") + col("_scB")) / col("_dij"))))
    val worst = ratios.groupBy(col("_la").as("_l"))
      .agg(max(col("_r")).as("worst_ratio"))
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    scat.join(worst, Seq("_l"))
      .select(col("_l").as(labelCol), col("n_points"), col("scatter"),
        col("worst_ratio"))
      .withColumn("db_index",
        d6(sum(d28(col("worst_ratio"))).over(wAll).cast("double") /
          count(lit(1)).over(wAll).cast("double")))
  }

  /** MMR diverse top-k (Carbonell & Goldstein 1998): per query, pick k
    * results greedily maximizing λ·rel − (1−λ)·max-sim-to-already-
    * picked — the re-rank that keeps a RAG/retrieval result list from
    * collapsing onto k near-duplicates, which is why it sits next to
    * the dedup families here.
    *
    * Execution shape (the scale-bearing decision): MMR is sequential
    * in k, so a naive build runs k distributed argmax jobs. Instead
    * the standard re-rank-window form bounds the candidate set to the
    * relevance top-`topN` PER QUERY (rank window over the broadcast
    * query × corpus scores), collects that window onto ONE ROW per
    * query, and runs the whole greedy selection IN-ROW as a k-step
    * `aggregate` fold — zero driver participation, parallel across
    * queries, O(topN·k) codegen'd integer dots per query. topN and k
    * are interface constants (20/5-ish); corpus size only affects the
    * scoring scan, which is the same broadcast-query pattern as
    * [[bruteForceKnn]] (swap in [[lshCandidates]] past that regime).
    *
    * Exactness: every comparison is on fixed-point LONGS —
    * r6 = floor(10⁶·dot/√(nrmA·nrmB)) relevance, m6 the same for
    * pair sims, step score = λ6·r6 − (10⁶−λ6)·m6 at scale 10¹²
    * (products stay ≤ 10¹² < 2⁶³). Ties: higher score, then LOWER
    * candidate id (struct-max over (score, −id)). First pick has no
    * selected set: the diversity term is 0 — argmax rel, the paper's
    * base case.
    *
    * Output: (queryIdCol=query_id, rank 1..k, vec_id, score) where
    * score = the d6 double of the fixed-point step score.
    */
  def mmrSelect(
      df: DataFrame,
      idCol: String,
      embCol: String,
      queryPred: Column,
      topN: Int = 20,
      k: Int = 5,
      lambda: Double = 0.5): DataFrame = {
    require(topN >= 1 && k >= 1 && k <= topN,
      s"need 1 <= k <= topN, got k=$k topN=$topN")
    require(lambda >= 0 && lambda <= 1, s"lambda in [0,1], got $lambda")
    val lam6 = math.floor(lambda * 1e6).toLong
    val packed = packedWithNorm(df, idCol, embCol)
    val queries = packed.filter(queryPred)
      .select(col(idCol).as("query_id"), col("q").as("qq"),
        col("nrm").as("qn"))
    val corpus = packed.filter(!queryPred)
      .select(col(idCol).as("_cid"), col("q").as("_cq"),
        col("nrm").as("_cn"))
    def fp6(dot: Column, na: Column, nb: Column): Column =
      floor(dot.cast("double") * lit(1e6) /
        sqrt(na.cast("double") * nb.cast("double"))).cast("long")
    val scored = corpus.join(broadcast(queries), col("_cid") =!= col("query_id"))
      .select(col("query_id"), col("_cid"), col("_cq"), col("_cn"),
        fp6(packedDot(col("_cq"), col("qq")), col("_cn"), col("qn"))
          .as("_r6"))
    val window = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_r6").desc, col("_cid").asc)
    val cands = scored
      .withColumn("_rk", row_number().over(window))
      .filter(col("_rk") <= topN)
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(
        struct(col("_rk").as("rk"), col("_cid").as("cid"),
          col("_cq").as("cq"), col("_cn").as("cn"), col("_r6").as("r6"))))
        .as("_cands"))
    // k-step greedy fold; accumulator = array of (idx into _cands, s6)
    val emptySel = array().cast("array<struct<i:int,s6:bigint>>")
    val sel = aggregate(
      sequence(lit(1), lit(k)), emptySel,
      (selAcc, _) => {
        val scoredStep = transform(col("_cands"), (c, i0) => {
          val taken = exists(selAcc, e => e.getField("i") === i0 + 1)
          val maxSim6 = coalesce(
            array_max(transform(selAcc, e => {
              val s = element_at(col("_cands"), e.getField("i"))
              fp6(packedDot(c.getField("cq"), s.getField("cq")),
                c.getField("cn"), s.getField("cn"))
            })),
            lit(0L))
          when(taken, lit(null)).otherwise(struct(
            (lit(lam6) * c.getField("r6") -
              lit(1000000L - lam6) * maxSim6).as("s6"),
            (-c.getField("cid")).as("negid"),
            (i0 + 1).as("i")))
        })
        val pick = array_max(filter(scoredStep, x => x.isNotNull))
        // candidates exhausted (window had < k rows): selection stops
        when(pick.isNull, selAcc).otherwise(
          concat(selAcc, array(struct(
            pick.getField("i").as("i"), pick.getField("s6").as("s6")))))
      })
    cands
      .select(col("query_id"), col("_cands"), posexplode(sel))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        element_at(col("_cands"), col("col.i")).getField("cid").as("vec_id"),
        d6(col("col.s6").cast("double") / lit(1e12)).as("score"))
  }

  /** Johnson–Lindenstrauss random projection — the dimensionality
    * sketch (Achlioptas 2003's ±1 variant): out_j = Σ_i sign(j,i)·q_i
    * over the floor(v·1000) integer grid, signs DERIVED from md5 of
    * (salt, j, i) — so the projection matrix is never materialized,
    * never shipped, and every engine rebuilds it bit-identically.
    * The cheap front-end for coarse distance screens / compact
    * vector fingerprints: JL preserves pairwise ℓ2 distances within
    * (1±ε) at outDims = O(ln N / ε²), and ±1 entries make every
    * output an EXACT integer (no rounding contract at all).
    *
    * `inDims` is a loud contract (the sign matrix is a bounded
    * literal): a row whose vector length differs fails in-plan via
    * raise_error, not silently truncates. Output is EXPLODED
    * (id, dim, value) — engine-portable and join-ready.
    *
    * Scale shape: zero shuffles — the sign matrix is an
    * outDims×inDims literal folded into the plan; per row O(d·k)
    * integer work at the scan.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      embCol: String,
      inDims: Int,
      outDims: Int = 8,
      salt: String = "rp"): DataFrame = {
    require(inDims >= 1 && inDims <= 4096,
      s"inDims must be in [1,4096], got $inDims")
    require(outDims >= 1 && outDims <= 64,
      s"outDims must be in [1,64], got $outDims")
    // ±1 signs from the SAME portable-hash wire format the oracle
    // rebuilds: first 8 md5 hex chars of "salt:j:i" mod 2
    def sign(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$j:$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex, 16) % 2L == 0L) 1L else -1L
    }
    val signRows = (0 until outDims).map { j =>
      (1 to inDims).map(i => s"${sign(j, i)}L").mkString("array(", ", ", ")")
    }.mkString("array(", ", ", ")")
    val q = "transform(_g_e, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0) " +
      "AS BIGINT))"
    val proj = s"transform(sequence(0, ${outDims - 1}), j -> " +
      s"aggregate(transform(array($q), qq -> aggregate(" +
      s"sequence(1, $inDims), CAST(0 AS BIGINT), (a, i) -> " +
      s"a + element_at(qq, i) * element_at(element_at($signRows, j + 1), " +
      "i))), CAST(0 AS BIGINT), (z, s) -> s))"
    df
      .withColumn("_g_e",
        when(size(col(embCol)) === inDims, col(embCol))
          .otherwise(raise_error(concat(
            lit(s"randomProjection: vector of length "),
            size(col(embCol)).cast("string"),
            lit(s" != inDims=$inDims")))
            .cast(df.schema(embCol).dataType)))
      .select(col(idCol), posexplode(expr(proj)).as(Seq("dim", "value")))
      .select(col(idCol), col("dim").cast("long").as("dim"),
        col("value").cast("long").as("value"))
  }
}

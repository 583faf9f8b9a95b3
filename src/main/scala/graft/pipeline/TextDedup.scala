package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.d6

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Every operator is expressed with built-in Catalyst expressions (no UDFs)
  * so the hot path stays inside whole-stage codegen, and every pairing step
  * is BUCKETED — candidates meet through an equi-join key (content hash,
  * shared shingle, LSH band hash, SimHash band), never an all-pairs cross
  * join — so the same plan holds at 100 TB: the only shuffles are
  * hash-partitioned joins/aggregations on those keys.
  *
  * Scale ladder:
  *   - [[exactDedup]]: one hash-aggregate. The cheapest pass; run first.
  *   - [[jaccardPairs]]: inverted-index join on shingles — exact, but a
  *     frequent shingle fans out quadratically; cap with `maxShingleDocs`
  *     (stop-shingle pruning, standard in dedup pipelines).
  *   - [[minhashPairs]]: MinHash signatures + banded LSH join — candidates
  *     are pairs agreeing on ≥1 band, verified with exact Jaccard. The
  *     100 TB path: cost is O(docs × perms) + O(candidates).
  *   - [[simhashPairs]]: 64-bit SimHash fingerprints, banded by pigeonhole
  *     (hamming ≤ k pairs share ≥1 of k+1 bands), verified with bit_count.
  */
object TextDedup {

  /** Exact duplicate groups by content hash: one row per distinct content
    * with the id to keep (min) and the duplicate count. A single
    * hash-aggregate over md5(content) — the shuffle key is the 128-bit
    * hash, not the document text, so shuffled bytes stay tiny at scale.
    */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Cross-corpus novelty gate: flag each incoming document as novel
    * (1) or already present in the seen corpus (0), matching on the
    * CANONICAL content key ([[TextClean.canonicalForDedup]]: NFC →
    * casefold → whitespace collapse), so a re-crawl that differs only
    * in encoding, case or spacing is caught. The per-row-flag sibling
    * of [[incrementalExactDedup]] (which returns surviving groups):
    * use this one when downstream wants the full batch annotated.
    *
    * At scale: the seen corpus projects to DISTINCT 16-byte md5 keys
    * before the hash-keyed LEFT join — the shuffle carries hashes, not
    * documents; broadcast it when the seen key set fits.
    */
  def novelAgainst(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val key = md5(TextClean.canonicalForDedup(col(contentCol)))
    val seenKeys = seenDf.select(key.as("_g_k")).distinct()
      .withColumn("_g_seen", lit(1))
    newDf.select(col(idCol), key.as("_g_k"))
      .join(seenKeys, Seq("_g_k"), "left")
      .select(col(idCol),
        col("_g_seen").isNull.cast("int").as("is_novel"))
  }

  /** Incremental exact dedup — the production shape: dedupe an INCOMING
    * batch against an already-accumulated corpus without rescanning the
    * corpus's content (only its hashes). A batch group survives iff its
    * content hash is absent from the corpus; within the batch the usual
    * min-id representative wins. Output: (content_hash, keep_id,
    * n_copies) for surviving groups — [[exactDedup]]'s contract,
    * filtered by the corpus.
    *
    * At scale: one batch-keyed aggregate + one hash-keyed LEFT ANTI
    * join. The corpus side projects to its hash column only, so the
    * nightly run shuffles 16 bytes/doc of corpus, not documents; keep
    * the corpus's hash column materialized (it is this operator's
    * output) and the anti-join probe is a column scan.
    */
  def incrementalExactDedup(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      contentCol: String): DataFrame =
    incoming
      .groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .join(corpus.select(md5(col(contentCol)).as("content_hash")),
        Seq("content_hash"), "left_anti")

  /** Distinct word n-gram shingles per document: (id, shingle) rows.
    * Tokenization is a single-space split (the corpus contract).
    *
    * Shingles are built IN-ROW — tokens array → n-gram array (transform
    * over the valid start positions) → array_distinct → explode — so
    * shingling is a pure projection: zero shuffles at any scale, and a
    * consumer that reads this DataFrame several times (signatures +
    * verification joins) re-runs a cheap scan rather than a window
    * exchange. (A lead()-window formulation computes the same set but
    * shuffles every token by document id, per use.)
    *
    * Precondition: `idCol` is unique per input row (one row per document)
    * — per-document dedup happens in-row, so a repeated id would
    * duplicate (id, shingle) pairs downstream.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val grams = TextStats.wordNgrams(col("_toks"), n)
    df.select(col(idCol), TextStats.tokenArray(col(textCol)).as("_toks"))
      .select(col(idCol), explode(array_distinct(grams)).as("shingle"))
  }

  /** The shingle rows of `sh` whose shingle occurs in at most
    * `maxShingleDocs` documents ([[TextStats.docFreq]] over the distinct
    * (document, shingle) rows): stop-shingle pruning of candidate
    * generation.
    */
  private def dfPruned(sh: DataFrame, maxShingleDocs: Int): DataFrame =
    sh.join(TextStats.docFreq(sh, "shingle", "df")
      .filter(col("df") <= maxShingleDocs).select(col("shingle")), "shingle")

  /** Exact pairwise n-gram Jaccard similarity ≥ `threshold` via an
    * inverted-index join: pairs meet on a shared shingle (equi-join, so it
    * buckets at scale), intersection counts come from one aggregation, and
    * sizes join in afterwards.
    *
    * `maxShingleDocs` drops shingles appearing in more than that many
    * documents (document-frequency pruning) from CANDIDATE GENERATION
    * only: a stop-shingle contributes O(df²) candidate pairs but almost
    * no Jaccard signal — one shingle with df=10⁶ alone yields 10¹²
    * candidate pairs. The DEFAULT (500) is therefore bounded so the
    * operator is safe at 100 TB out of the box. Surviving candidates are
    * verified with exact Jaccard over the FULL shingle sets (same
    * candidate/verify split as [[minhashPairs]]), so capped output ⊆
    * exact output with bit-identical values; pruning can only lose pairs
    * whose every common shingle is a stop-shingle — near-duplicates
    * share many, so recall stays high (PipelineSpec asserts all three
    * properties). Pass Int.MaxValue explicitly for fully exact semantics
    * at oracle/test scale.
    */
  def jaccardPairs(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      maxShingleDocs: Int = 500): DataFrame =
    if (maxShingleDocs == Int.MaxValue) {
      // fully exact: n_common straight off the inverted-index join
      val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      val a = sh.select(col(idCol).as("doc_a"), col("shingle"))
      val b = sh.select(col(idCol).as("doc_b"), col("shingle"))
      val inter = a.join(b, Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      joinSizesAndFilter(inter, sizes, idCol, threshold)
    } else {
      val pruned = dfPruned(sh, maxShingleDocs)
      val candidates = pruned.select(col(idCol).as("doc_a"), col("shingle"))
        .join(pruned.select(col(idCol).as("doc_b"), col("shingle")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      verifyJaccard(sh, idCol, candidates, threshold)
    }

  /** Exact asymmetric CONTAINMENT pairs over the shingle sets —
    * c(A→B) = |A∩B| / |A|, the measure that catches PARTIAL COPIES
    * (a quote, an excerpt, a doc that IS another's tail) which
    * symmetric Jaccard dilutes: a 50-shingle excerpt fully inside a
    * 5000-shingle page has containment 1.0 but Jaccard ≈ 0.01.
    * One row per unordered candidate pair with BOTH directions;
    * kept when either direction ≥ `threshold`.
    *
    * Same inverted-index equi-join discipline as [[jaccardPairs]]:
    * pairs meet ONLY through a shared-shingle join; `maxShingleDocs`
    * caps posting-list fan-out (df-pruning — documented lossy for
    * pairs whose every shared shingle is a corpus-wide hub;
    * Int.MaxValue = exact, the oracle mode). Ratios d6 at the output
    * contract.
    *
    * Output: (doc_a, doc_b, n_common, c_a_in_b, c_b_in_a), doc_a <
    * doc_b.
    */
  def containmentPairs(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      maxShingleDocs: Int = 500): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    // candidate generation may be df-pruned, but n_common is ALWAYS
    // re-counted against the full shingle sets (jaccardPairs'
    // candidates-then-verify contract): the cap only decides which
    // pairs are seen, never mis-measures a seen pair
    val inter =
      if (maxShingleDocs == Int.MaxValue) {
        val a = sh.select(col(idCol).as("doc_a"), col("shingle"))
        val b = sh.select(col(idCol).as("doc_b"), col("shingle"))
        a.join(b, Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_common"))
      } else {
        val pruned = dfPruned(sh, maxShingleDocs)
        val candidates = pruned
          .select(col(idCol).as("doc_a"), col("shingle"))
          .join(pruned.select(col(idCol).as("doc_b"), col("shingle")),
            Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
          .distinct()
        val a = sh.select(col(idCol).as("doc_a"), col("shingle"))
        val b = sh.select(col(idCol).as("doc_b"), col("shingle"))
        candidates.join(a, Seq("doc_a"))
          .join(b, Seq("doc_b", "shingle"), "left_semi")
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_common"))
      }
    val cab = col("n_common").cast("double") / col("na").cast("double")
    val cba = col("n_common").cast("double") / col("nb").cast("double")
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(greatest(cab, cba) >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        d6(cab).as("c_a_in_b"), d6(cba).as("c_b_in_a"))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (the PPJoin family,
    * Xiao et al., WWW'08 — public literature): rank each document's
    * shingles by ascending global document frequency (rarest first — a
    * canonical total order, ties broken by the shingle string), and
    * join documents only on their first p = n − ⌊t·n⌋ + 1 shingles.
    * Any pair with Jaccard ≥ t MUST collide inside these prefixes
    * (pigeonhole on the ⌈t·n⌉ overlaps a qualifying pair needs), so
    * unlike [[jaccardPairs]]'s df-cap this pruning is LOSSLESS: output
    * ≡ the fully exact inverted-index answer, bit for bit — but the
    * candidate join touches only the rare end of every posting list.
    * The prefix length is deliberately one longer than the tight
    * p = n − ⌈t·n⌉ + 1 bound, absorbing any floating-point wobble in
    * ⌊t·n⌋ on the conservative side.
    *
    * Cost shape at 100 TB: one df aggregate, one doc-keyed window for
    * the ranks, a candidate equi-join whose key frequencies are
    * df-SUPPRESSED by construction (a stop-shingle enters a prefix
    * only when a document consists of almost nothing else), then the
    * shared exact verify over candidates only. Versus the ∞-cap exact
    * path, the quadratic blowup on common shingles disappears without
    * giving up a single pair.
    */
  def jaccardPairsPrefix(
      sh: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val dfreq = TextStats.docFreq(sh, "shingle", "_g_df")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("_g_df"), col("shingle"))
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("_g_rank", row_number().over(w))
      .withColumn("_g_n", count(lit(1)).over(Window.partitionBy(col(idCol))))
    val prefix = ranked.filter(
      col("_g_rank") <=
        col("_g_n") - floor(col("_g_n") * threshold).cast("long") + 1)
      .select(col(idCol), col("shingle"), col("_g_n"))
    // length filter (the standard companion prune): J ≥ t forces
    // t·max(n_a,n_b) ≤ min(n_a,n_b), so size-incompatible pairs die at
    // candidate generation, before the exact verify pays for them
    val candidates = prefix
      .select(col(idCol).as("doc_a"), col("shingle"), col("_g_n").as("_g_na"))
      .join(prefix.select(col(idCol).as("doc_b"), col("shingle"),
        col("_g_n").as("_g_nb")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("_g_na") * threshold <= col("_g_nb") &&
        col("_g_nb") * threshold <= col("_g_na"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    verifyJaccard(sh, idCol, candidates, threshold)
  }

  /** Exact-Jaccard verification of (doc_a, doc_b) candidate pairs over
    * the full shingle sets: candidates ⋈ sh(doc_a) then a semi-join on
    * (doc_b, shingle) counts the intersection — O(candidates ×
    * shingles/doc), NOT the full inverted index. Shared by the LSH and
    * df-capped paths.
    */
  /** Cross-corpus exact Jaccard near-dup pairs: every (new, seen) pair
    * sharing at least one shingle, verified at `threshold` — the
    * NEAR-DUP sibling of [[novelAgainst]] (which only catches canonical
    * byte-equality), and the incremental form of [[jaccardPairs]]: a
    * nightly crawl dedupes against the accumulated corpus without
    * pairing the corpus with itself.
    *
    * Exact and lossless: candidates come off the inverted-index join
    * (only shared-shingle pairs materialize — never a cross join), and
    * n_common counts shared shingles directly. At production scale
    * apply the same df-pruning/prefix-filter gates as the within-corpus
    * variants before the index join (hot boilerplate shingles pair
    * everything with everything); exact-verify keeps the output
    * identical, it only re-prices candidate generation.
    *
    * Inputs are [[shingles]] frames (distinct per doc). Output:
    * (new_id, seen_id, n_common, jaccard).
    */
  def jaccardPairsAcross(
      newSh: DataFrame,
      seenSh: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val a = newSh.select(col(idCol).as("new_id"), col("shingle"))
    val b = seenSh.select(col(idCol).as("seen_id"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .groupBy(col("new_id"), col("seen_id"))
      .agg(count(lit(1)).as("n_common"))
    val na = newSh.groupBy(col(idCol)).agg(count(lit(1)).as("na"))
    val nb = seenSh.groupBy(col(idCol)).agg(count(lit(1)).as("nb"))
    val jac = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    inter
      .join(na.select(col(idCol).as("new_id"), col("na")), Seq("new_id"))
      .join(nb.select(col(idCol).as("seen_id"), col("nb")), Seq("seen_id"))
      .select(col("new_id"), col("seen_id"), col("n_common"),
        jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  private def verifyJaccard(
      sh: DataFrame, idCol: String, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val a = sh.select(col(idCol).as("doc_a"), col("shingle"))
    val b = sh.select(col(idCol).as("doc_b"), col("shingle"))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val inter = candidates.join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "shingle"), "left_semi")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    joinSizesAndFilter(inter, sizes, idCol, threshold)
  }

  private def joinSizesAndFilter(
      inter: DataFrame, sizes: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val jac = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures: one row per document with `numPerms` columns
    * `mh0..mhN`, where mh_i = min over shingles of π_i(h32) for
    * h32 = xxhash64(shingle) masked to 32 bits and π_i(h) = (a_i·h +
    * b_i) mod 2^32 with ODD a_i — a bijection on Z/2^32, so each π_i is
    * a genuine permutation of the (32-bit, the classic minhash width)
    * hash ring and the min-wise collision probability stays ≈ Jaccard
    * (the standard one-hash + linear-permutation family; Spark ML's
    * MinHashLSH uses the same trick). The string bytes are hashed ONCE
    * per (doc, shingle) row and each permutation is one multiply-add —
    * versus seeding xxhash64 per permutation, which re-reads the whole
    * string numPerms times per row (the dominant cost on long shingles
    * at corpus scale). Keeping a_i < 2^31 and h32 < 2^32 bounds every
    * intermediate under 2^63: no overflow, ANSI-mode safe. The (a_i,
    * b_i) are fixed literals (deterministic seed), so the signature is
    * one codegen'd hash-aggregate: numPerms min-aggregates over a
    * single scan, no per-permutation shuffle.
    */
  /** The (odd a_i, b_i) permutation constants, deterministic from a
    * fixed seed — public so the portable oracle (q211) can embed the
    * SAME constants in its SQL.
    */
  def minhashPerms(numPerms: Int): Seq[(Long, Long)] = {
    val mask32 = 0xffffffffL
    val rnd = new java.util.SplittableRandom(0x9e3779b97f4a7c15L)
    (0 until numPerms).map { _ =>
      ((rnd.nextLong() & 0x7fffffffL) | 1L, rnd.nextLong() & mask32)
    }
  }

  def minhashSignatures(
      sh: DataFrame, idCol: String, numPerms: Int = 64,
      portable: Boolean = false): DataFrame = {
    val mask32 = 0xffffffffL
    val perms = minhashPerms(numPerms)
    // base row hash: xxhash64 by default (cheapest); `portable` swaps
    // in the 32-bit md5 prefix — bit-identical across engines, so the
    // whole signature → band → candidate → verify chain becomes
    // oracle-checkable (xxhash64 seeds/variants differ outside Spark).
    // Same 32-bit ring either way; only the base hash differs.
    val base =
      if (portable)
        conv(substring(md5(col("shingle").cast("binary")), 1, 8), 16, 10)
          .cast("long")
      else xxhash64(col("shingle")).bitwiseAND(lit(mask32))
    // explicit projection: the string hashes exactly once per row by
    // construction (not by relying on codegen subexpression elimination
    // across the numPerms aggregate expressions)
    val hashed = sh.select(col(idCol), base.as("_g_h"))
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      min((col("_g_h") * lit(a) + lit(b)).bitwiseAND(lit(mask32))).as(s"mh$i")
    }
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Banded-LSH candidate pairs from MinHash signatures, verified with
    * exact Jaccard. Signatures are split into `bands` bands of
    * numPerms/bands rows; a pair is a candidate iff some band hashes
    * equal — the band hash is the JOIN KEY, so candidate generation is a
    * shuffle on (band_id, band_hash) buckets, never all-pairs.
    *
    * Returns (doc_a, doc_b, n_common, jaccard) for verified pairs with
    * jaccard ≥ threshold. With r rows/band, P(candidate) ≈ 1-(1-s^r)^b —
    * at r=4, b=16 the S-curve crosses ~0.5 near s≈0.5.
    */
  /** S-curve placement for the banded-MinHash config — [[minhashPairs]]'
    * analog of `Similarity.lshAutoConfig`, but closed-form in the
    * THRESHOLD alone: band-bucket space is effectively unbounded (a band
    * hash collides only on equal row minima), so unlike sign-LSH there
    * is no corpus-size density term — candidate volume tracks the true
    * near-dup mass plus the S-curve's false-positive tail, at any n.
    * Returns the (numPerms, bands) = (b·r, b) minimizing signature width
    * subject to
    *   - recall ≥ `recall` at `threshold`:  1 − (1 − t^r)^b,
    *   - candidate probability ≤ `fpBudget` at `sLow` (the "clearly not
    *     a duplicate" similarity, default threshold/2): keeps the verify
    *     stage from degenerating toward all-pairs on low-sim corpora.
    * Ties prefer more rows per band (a sharper S-curve). Deterministic
    * in its arguments; throws if the two constraints are jointly
    * infeasible within r ≤ 32, b ≤ 256 rather than silently widening —
    * which is the honest MinHash answer for LOW thresholds: separating
    * recall 0.99 at t from fp 0.1 at t/2 needs S-curve sharpness
    * r ≈ log(recall/fp)/log 2, and b = Θ(1/t^r) explodes below t ≈ 0.55.
    * Low-threshold Jaccard belongs to the EXACT paths (q16's inverted
    * index / q112's prefix filter), not banded LSH; this tuner makes
    * that boundary a loud error instead of a silent recall cliff.
    */
  def minhashAutoConfig(
      threshold: Double,
      recall: Double = 0.99,
      fpBudget: Double = 0.1,
      sLow: Double = -1.0): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, s"bad threshold $threshold")
    require(recall > 0.0 && recall < 1.0, s"bad recall $recall")
    val s0 = if (sLow < 0) threshold / 2 else sLow
    require(s0 > 0.0 && s0 < threshold, s"sLow $s0 must be in (0, threshold)")
    val feasible = for {
      r <- 1 to 32
      b <- 1 to 256
      if 1.0 - math.pow(1.0 - math.pow(threshold, r), b) >= recall
      if 1.0 - math.pow(1.0 - math.pow(s0, r), b) <= fpBudget
    } yield (b * r, b, r)
    require(feasible.nonEmpty,
      s"minhashAutoConfig: no (bands ≤ 256, rows ≤ 32) holds recall " +
        s"$recall at $threshold with candidate prob ≤ $fpBudget at $s0 — " +
        "below t ≈ 0.55 banded MinHash cannot hold both; use the exact " +
        "inverted-index/prefix-filter paths there")
    val (numPerms, bands, _) =
      feasible.minBy { case (np, _, r) => (np, -r) }
    (numPerms, bands)
  }

  def minhashPairs(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      numPerms: Int = 64,
      bands: Int = 16,
      portable: Boolean = false): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    val sig = minhashSignatures(sh, idCol, numPerms, portable)
    val bandStructs = (0 until bands).map { j =>
      val rowsJ = (0 until r).map(i => col(s"mh${j * r + i}"))
      struct(lit(j).as("band_id"), xxhash64(rowsJ: _*).as("band_hash"))
    }
    val banded = sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("b.band_id"), col("b.band_hash"))
    val candidates = banded.as("x")
      .join(banded.as("y"), Seq("band_id", "band_hash"))
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    // verify ONLY candidate pairs with exact Jaccard — NOT the full
    // inverted-index join, which would cost as much as exact
    // jaccardPairs and defeat the LSH
    verifyJaccard(sh, idCol, candidates, threshold)
  }

  /** INCREMENTAL MinHash near-dup: a new batch against a corpus whose
    * signatures were computed ONCE and persisted — the nightly-crawl
    * shape of [[minhashPairs]] (and the near-dup sibling of
    * [[incrementalExactDedup]]). The corpus side contributes only its
    * STORED signature table (`numPerms` longs/doc — the corpus text
    * never re-shingles, never re-hashes); the batch hashes itself,
    * candidates meet cross-set on band equality, and ONLY candidate
    * corpus documents are re-read (via `shCorpus`) for the exact
    * Jaccard verify. Emits (doc_a = batch id, doc_b = corpus id,
    * n_common, jaccard ≥ threshold).
    *
    * Exchanges: the batch's band frame (bands × batch rows), the
    * corpus band frame derived from the signature table (never text),
    * and the verify joins restricted to candidate ids. Same `portable`
    * contract as [[minhashSignatures]] — with it, the whole incremental
    * chain is oracle-checkable (q219).
    */
  def minhashPairsAcross(
      shNew: DataFrame,
      sigCorpus: DataFrame,
      shCorpus: DataFrame,
      idCol: String,
      threshold: Double,
      numPerms: Int = 64,
      bands: Int = 16,
      portable: Boolean = false): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val r = numPerms / bands
    def banded(sig: DataFrame): DataFrame = {
      val bandStructs = (0 until bands).map { j =>
        val rowsJ = (0 until r).map(i => col(s"mh${j * r + i}"))
        struct(lit(j).as("band_id"), xxhash64(rowsJ: _*).as("band_hash"))
      }
      sig.select(col(idCol), explode(array(bandStructs: _*)).as("b"))
        .select(col(idCol), col("b.band_id"), col("b.band_hash"))
    }
    val newBands = banded(minhashSignatures(shNew, idCol, numPerms, portable))
    val corpusBands = banded(sigCorpus)
    val candidates = newBands.as("x").join(corpusBands.as("y"),
        Seq("band_id", "band_hash"))
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"))
      .distinct()
    // exact verify over the two sides' OWN shingle sets
    val a = shNew.select(col(idCol).as("doc_a"), col("shingle"))
    val b = shCorpus.select(col(idCol).as("doc_b"), col("shingle"))
    val inter = candidates.join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "shingle"), "left_semi")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val sizesA = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val sizesB = shCorpus.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val jac = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    inter
      .join(sizesA.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizesB.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Duplicate CLUSTERS from near-dup pairs: connected components over
    * the pair graph, labeling every member with the component's minimum
    * id as `canonical_id` — the keep-one-per-cluster step that turns
    * pairwise output ([[jaccardPairs]]/[[minhashPairs]]/[[simhashPairs]])
    * into an actionable dedup decision (near-duplication is transitive
    * in effect: A~B and B~C must collapse to ONE kept document even when
    * A~C scores below threshold).
    *
    * Iterative min-label propagation with path halving: each round
    * spreads the smallest known label across edges (one equi-join + one
    * min-aggregate) and then jumps pointers (lab := lab(lab)), so round
    * k reaches ~2^k hops and rounds needed = LOG of the component
    * diameter (a maxIter=20 cap covers diameters past a million — a
    * pathological duplicate chain converges instead of aborting). Each
    * round materializes eagerly so lineage stays flat (no exponential
    * replan) and the loop state lives on executors, never the driver;
    * convergence rides the same job as observe() metrics.
    *
    * Fault tolerance: when the SparkContext has a RELIABLE checkpoint
    * directory configured (`sc.setCheckpointDir`, an HDFS/object-store
    * path on a real cluster), each round checkpoints there — an
    * executor loss mid-loop recovers from the checkpoint files. Without
    * one, rounds fall back to `localCheckpoint` (executor-local
    * blocks): the right local-mode trade, but a lost executor kills
    * the job, so ALWAYS set a checkpoint dir for cluster runs
    * (docs/SCALING.md).
    *
    * Input: one row per undirected pair. Output: (doc_id, canonical_id)
    * for every document that appears in some pair; unpaired documents
    * are their own canonical by definition and are left to the caller.
    */
  def dupClusters(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 20): DataFrame = {
    // eager, lineage-truncating materialization: reliable checkpoint
    // when a checkpoint dir is set (survives executor loss), else
    // executor-local blocks
    def materialize(df: DataFrame): DataFrame = Stage.materialize(df)
    // MATERIALIZED, not cache()d: the loop re-references sym every
    // round, and a cached frame still carries its full LOGICAL plan —
    // Catalyst re-analyzes and re-optimizes that subtree on every
    // round's action (measured: a 72-branch blocked-pair plan under
    // q129 cost 1-3s/round of pure planning; materialization flattens
    // the round plan to a scan and cut the entry ~3x)
    val sym = materialize(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    val out = {
      var labels = materialize(
        sym.select(col("src").as("id")).distinct()
          .select(col("id"), col("id").as("lab")))
      var converged = sym.isEmpty
      var it = 0
      while (!converged && it < maxIter) {
        // propagate and carry each id's previous label through the same
        // aggregate (every id has exactly one labels row, so max(prev)
        // IS the previous label). Convergence rides the SAME job as the
        // checkpoint materialization via observe() metrics — no
        // second count job per round.
        val obs = org.apache.spark.sql.Observation(s"graft_dup_it$it")
        val viaEdges = sym
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("lab"),
            lit(null).cast(labels.schema("lab").dataType).as("prev"))
        // step0 feeds the pointer-jump self-join twice (probe + jump
        // target) as the SAME subplan ending in a shuffle, so Catalyst's
        // ReuseExchange serves the second read from the first's shuffle
        // files — no double compute (PipelineSpec pins a ReusedExchange
        // in the round plan). Measured alternatives both lost: an eager
        // checkpoint per round added a second full job (+30% on q46),
        // a lazy persist raced both join branches into computing the
        // same partitions before either cached.
        val step0 = viaEdges
          .union(labels.select(col("id"), col("lab"), col("lab").as("prev")))
          .groupBy(col("id"))
          .agg(min(col("lab")).as("lab"), max(col("prev")).as("prev"))
        // pointer jump (path halving): lab := lab(lab). Labels are node
        // ids and only decrease, so the jump target exists and is ≤ lab;
        // round k then propagates ~2^k hops, so rounds needed shrink
        // from the component diameter to its log — for the same two
        // shuffles per round on the (small) label table.
        val step = step0.as("s")
          .join(
            step0.select(col("id").as("_g_jid"), col("lab").as("_g_jlab")).as("j"),
            col("s.lab") === col("_g_jid"), "left")
          .select(col("s.id").as("id"),
            coalesce(col("_g_jlab"), col("s.lab")).as("lab"),
            col("s.prev").as("prev"))
          .observe(obs, sum(when(col("lab") =!= col("prev"), 1L)
            .otherwise(0L)).as("changed"))
        labels = materialize(step).select(col("id"), col("lab"))
        converged = obs.get("changed").asInstanceOf[Long] == 0L
        it += 1
      }
      // silent truncation would hand the caller two "canonical" ids for
      // one component — fail loudly instead (with path halving, 20
      // rounds cover diameters past a million, so hitting this means
      // maxIter was lowered or the graph is adversarial)
      if (!converged)
        throw new IllegalStateException(
          s"dupClusters did not converge within maxIter=$maxIter rounds " +
            "(~2^maxIter diameter with path halving); raise maxIter")
      labels.select(col("id").as("doc_id"), col("lab").as("canonical_id"))
    }
    out
  }

  /** Exact shared-shingle pairs: documents sharing at least `minShared`
    * distinct n-gram shingles — the cheap exact pair source when the
    * overlap COUNT is the signal (verbatim-passage detection, pair input
    * for [[dupClusters]]) and per-pair Jaccard normalization isn't
    * needed. Same inverted-index equi-join as [[jaccardPairs]] without
    * the size join; `maxShingleDocs` applies the same stop-shingle
    * df-pruning (bounded by default — the 100 TB contract).
    */
  def sharedShinglePairs(
      sh: DataFrame,
      idCol: String,
      minShared: Int = 1,
      maxShingleDocs: Int = 500): DataFrame = {
    val kept =
      if (maxShingleDocs == Int.MaxValue) sh else dfPruned(sh, maxShingleDocs)
    kept.select(col(idCol).as("doc_a"), col("shingle"))
      .join(kept.select(col(idCol).as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Edit-distance-verified near-duplicate pairs: candidates from the
    * shared-shingle inverted index (cheap, equi-join), then the exact
    * Levenshtein distance as the verification — the character-level
    * near-dup signal n-gram Jaccard misses (small in-place edits move
    * few shingles but every boundary one). Both stages are built-in
    * codegen'd expressions.
    *
    * Cost model at scale: levenshtein is O(|a|·|b|) PER PAIR, so the
    * candidate gate (`minShared`, df-bounded via `maxShingleDocs`) is
    * what makes this runnable — never apply it all-pairs. For long
    * documents cap the compared prefix or verify on fingerprints
    * instead; `maxDist` only filters, it does not bound the compute.
    */
  def editVerifiedPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minShared: Int = 3,
      maxDist: Int = 200,
      maxShingleDocs: Int = 500): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val pairs = sharedShinglePairs(sh, idCol, minShared, maxShingleDocs)
    val dist = levenshtein(col("_g_ta"), col("_g_tb"))
    pairs
      .join(docs.select(col(idCol).as("doc_a"), col(textCol).as("_g_ta")), "doc_a")
      .join(docs.select(col(idCol).as("doc_b"), col(textCol).as("_g_tb")), "doc_b")
      .filter(dist <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        dist.cast("long").as("edit_dist"))
  }

  /** Benchmark-contamination check: per document, how many of its distinct
    * n-gram shingles appear in a held-out benchmark set — the standard
    * decontamination gate (train documents overlapping an eval set's
    * n-grams must be dropped or flagged before training).
    *
    * Plan shape: the document side streams through ONE left join on the
    * shingle and one aggregate keyed by document id. The benchmark gram
    * set is distinct'd and broadcast by default — eval suites are tiny
    * next to a 100 TB corpus, so the contaminated-gram lookup reaches
    * every executor without shuffling a single corpus row. Set
    * `broadcastBench = false` when the reference set is itself huge
    * (e.g. cross-corpus overlap), which falls back to the bucketed
    * shuffle equi-join.
    *
    * Output: (idCol, n_grams, n_hit, hit_frac) for every input document;
    * hit_frac is the single final double division (bit-stable).
    */
  def contamination(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      broadcastBench: Boolean = true): DataFrame = {
    val benchGrams0 = shingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
    val benchGrams = if (broadcastBench) broadcast(benchGrams0) else benchGrams0
    shingles(docs, idCol, textCol, n)
      .join(benchGrams.withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        count(col("_hit")).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("hit_frac"))
  }

  /** Pick ONE representative document per duplicate cluster: cluster
    * membership from [[dupClusters]] over `pairs`, then the best-scoring
    * member per cluster wins (score desc, id asc — deterministic).
    * Documents in no pair are their own singleton cluster and are always
    * kept, so the `is_kept` rows ARE the deduplicated corpus.
    *
    * The argmax is a row_number window partitioned by canonical id:
    * clusters are small (near-dup groups), so the window never sees a
    * skewed partition at scale; everything upstream inherits
    * [[dupClusters]]'s bounded design.
    */
  def clusterRepresentatives(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val labels = dupClusters(pairs)
      .withColumnRenamed("doc_id", idCol)
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.select(col(idCol), col(scoreCol))
      .join(labels, Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("canonical_id"), col(idCol)))
      .withColumn("is_kept", row_number().over(w) === 1)
      .select(col(idCol), col("canonical_id"), col(scoreCol), col("is_kept"))
  }

  /** 64-bit SimHash fingerprint per document: bit i of the fingerprint is
    * the sign of Σ_tokens (2·bit_i(xxhash64(token)) − 1). Computed in-row
    * by the codegen'd [[graft.functions.SimHash64]] expression — a pure
    * projection with zero shuffles (the aggregate formulation explodes
    * every token and shuffles them all by document id).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHash64.simhash64(TextStats.tokenArray(col(textCol)))
        .as("simhash"))

  /** Near-duplicate pairs by SimHash hamming distance ≤ `maxHamming`,
    * bucketed by pigeonhole: split the 64-bit fingerprint into
    * `maxHamming + 1` bands — any pair within the distance agrees exactly
    * on ≥1 band, so candidates meet through an equi-join on
    * (band_id, band_bits) and are verified with bit_count(xor).
    */
  /** PORTABLE SimHash fingerprints — the md5 twin of [[simhash]] (whose
    * codegen'd [[graft.functions.SimHash64]] rides xxhash64): each
    * token's 64-bit hash is the first 16 md5 hex digits (two 32-bit
    * conv halves — a single conv of 16 digits would overflow the
    * signed cast), each bit position accumulates ±1 over token
    * OCCURRENCES, and the fingerprint sets the bits with positive
    * sums. Feed the output straight to [[simhashPairs]] — banding and
    * verify are pure bit arithmetic, so the ENTIRE near-dup path
    * becomes oracle-checkable (q213). Same plan shape as
    * [[minhashSignatures]]: one explode + 64 map-side-combining sums
    * per document.
    */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = TextStats.wordRows(df, textCol, Seq(col(idCol)))
    def half(from: Int): Column =
      conv(substring(md5(col("tok").cast("binary")), from, 8), 16, 10)
        .cast("long")
    val hashed = tk.select(col(idCol), half(1).as("_hi"), half(9).as("_lo"))
    val sums = (0 until 64).map { b =>
      val word = if (b >= 32) col("_hi") else col("_lo")
      val bit = shiftrightunsigned(word, if (b >= 32) b - 32 else b)
        .bitwiseAND(lit(1L))
      sum(bit * 2 - 1).as(s"_s$b")
    }
    val agg = hashed.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    // disjoint bit values sum without carries, so + assembles the
    // two's-complement fingerprint exactly (bit 63 = Long.MinValue
    // joins a non-negative partial sum — no overflow even under ANSI)
    val fp = (0 until 64).map { b =>
      when(col(s"_s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce[Column](_ + _)
    agg.select(col(idCol), fp.as("simhash"))
  }

  def simhashPairs(fp: DataFrame, idCol: String, maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val width = 64 / nBands
    val bandStructs = (0 until nBands).map { j =>
      val bits =
        shiftrightunsigned(col("simhash"), j * width)
          .bitwiseAND(if (j == nBands - 1) -1L >>> (j * width)
          else (1L << width) - 1)
      struct(lit(j).as("band_id"), bits.as("band_bits"))
    }
    val banded = fp
      .select(col(idCol), col("simhash"), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.band_id"), col("b.band_bits"))
    banded.as("x").join(banded.as("y"), Seq("band_id", "band_bits"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(
        col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sub-document (chunk-level) corpus dedup — the C4/RefinedWeb
    * boilerplate cut: chunk every document into fixed-width spans, drop
    * every span whose text appears in MORE than one document except in
    * its first (min-id) owner, and reassemble what survives. Catches
    * the duplication document-level dedup can't see: navigation chrome,
    * cookie banners, license boilerplate pasted into otherwise-distinct
    * pages.
    *
    * Output per input document: (id, n_chunks, n_dropped, dedup_text) —
    * `dedup_text` is the surviving chunks re-concatenated in order
    * (possibly "" if every chunk was shared boilerplate).
    *
    * Scale shape: chunking is an in-row explode (q99's formula); the
    * cross-corpus ownership aggregate and the join back are keyed on
    * md5(chunk_text) — 16 bytes on the exchange regardless of chunk
    * width, [[exactDedup]]'s discipline. Reassembly's collect_list is
    * bounded by a single document's own chunk count, never corpus-wide.
    *
    * Precondition: `idCol` is unique per input row (one row per
    * document — [[shingles]]' contract); a repeated id would conflate
    * two documents' chunks in reassembly.
    */
  /** Cross-document boilerplate LINE removal — the RefinedWeb/FineWeb
    * line-dedup cut: a line appearing in ≥ `minDocs` DISTINCT documents
    * is boilerplate (nav links, share buttons, cookie banners) and drops
    * from EVERY document; surviving lines reassemble in order. Lines
    * shorter than `minLineChars` never count and never drop — blank
    * lines and stray punctuation are structure, not boilerplate.
    *
    * Output: (idCol, n_lines, n_dropped, clean_text).
    *
    * Scale shape: the document-frequency count shuffles 16-byte line
    * hashes (never line text); the hot set — only lines at df ≥
    * `minDocs` — is small by construction and broadcasts back; the only
    * other exchange is the doc-keyed in-order reassembly (chunk-dedup's
    * discipline). Nothing is all-pairs. The broadcast presumes a sane
    * `minDocs` (a near-1 threshold makes most distinct lines "hot");
    * if the hot set ever outgrows the broadcast budget, drop the hint
    * and let the join shuffle its 16-byte keys.
    */
  def dropBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      minLineChars: Int = 5): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("_g_idx", "_g_line")))
    val eligible = length(col("_g_line")) >= minLineChars
    val hot = lines.filter(eligible)
      .select(col(idCol), md5(col("_g_line")).as("_g_key"))
      .groupBy(col("_g_key"))
      .agg(countDistinct(col(idCol)).as("_g_ndocs"))
      .filter(col("_g_ndocs") >= minDocs)
      .select(col("_g_key"), lit(1).as("_g_hot"))
    val flagged = lines
      .withColumn("_g_key", md5(col("_g_line")))
      .join(broadcast(hot), Seq("_g_key"), "left")
      .withColumn("_g_drop",
        (col("_g_hot").isNotNull && eligible).cast("int"))
    flagged.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("_g_drop")).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("_g_drop") === 0,
                struct(col("_g_idx"), col("_g_line"))))),
            x => x.getField("_g_line")),
          "\n").as("clean_text"))
  }

  /** WITHIN-document repeated-line dedup — the intra-doc half of the
    * line-dedup family ([[dropBoilerplateLines]] is the cross-doc half):
    * a line repeated inside one document (pagination artifacts, template
    * glitches, scraper double-fires) keeps its FIRST occurrence and
    * drops the rest. Lines below `minLineChars` are structure (blank
    * separators, "--") and always survive.
    *
    * Output: (idCol, n_lines, n_dropped, clean_text).
    *
    * Entirely IN-ROW: the document arrived as one row, so first-occurrence
    * checks are array ops on its own split lines (array_position = first
    * index) — a pure projection at the scan, ZERO shuffles, no window.
    * O(lines²) per doc worst case, bounded by doc size by construction.
    */
  def dedupLinesWithin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 5): DataFrame = {
    // staged projections: the split lines and the filtered array each
    // bind to a column once per row (the bound-array condition in the
    // TextStats scaladoc), and `kept` feeds two output columns
    val lines = col("_g_lines")
    val kept = filter(lines, (x, i) =>
      length(x) < minLineChars || array_position(lines, x) === i + 1)
    df.select(col(idCol), split(col(textCol), "\n", -1).as("_g_lines"))
      .select(col(idCol), lines, kept.as("_g_kept"))
      .select(col(idCol),
        size(lines).cast("long").as("n_lines"),
        (size(lines) - size(col("_g_kept"))).cast("long").as("n_dropped"),
        array_join(col("_g_kept"), "\n").as("clean_text"))
  }

  def chunkDedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkChars: Int): DataFrame = {
    val ch = TextStats
      .chunkDocuments(df, idCol, textCol, chunkChars, overlapChars = 0)
      .withColumn("_g_key", md5(col("chunk_text")))
    val own = ch.groupBy(col("_g_key"))
      .agg(min(col(idCol)).as("_g_owner"),
        countDistinct(col(idCol)).as("_g_ndocs"))
    val kept = ch.join(own, "_g_key")
      .filter(col("_g_ndocs") === 1 || col(idCol) === col("_g_owner"))
    val keptAgg = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("_g_nkept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            x => x.getField("chunk_text")),
          "").as("_g_text"))
    ch.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
      .join(keptAgg, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        (col("n_chunks") - coalesce(col("_g_nkept"), lit(0L))).as("n_dropped"),
        coalesce(col("_g_text"), lit("")).as("dedup_text"))
  }

  /** LONG-RUN contamination gate: every (corpus doc, bench doc) pair that
    * shares a run of at least `k + window − 1` CONSECUTIVE tokens, with
    * the count of distinct shared runs — the exact-substring
    * decontamination check (the GPT-3 13-gram / The-Stack 50-token
    * family), as opposed to [[contamination]]'s bag-of-shingles overlap
    * fraction.
    *
    * Two stages, exact by the winnowing guarantee:
    *
    *  1. CANDIDATES: both sides fingerprinted with
    *     [[TextStats.fingerprints]] (winnowing over k-gram hashes,
    *     window w). Any shared run of ≥ k+w−1 tokens contains a full
    *     window of w identical consecutive k-gram hashes in BOTH
    *     documents, and winnowing selects that window's minimum on both
    *     sides — so every truly-contaminated pair shares a fingerprint
    *     VALUE and survives the equi-join. Fingerprint density is
    *     ~2/(w+1) per token, so the corpus side ships a fraction of its
    *     grams into the join instead of all of them.
    *  2. VERIFY: only candidate documents re-expand their full
    *     (k+w−1)-gram set (token array materialized ONCE per row — see
    *     [[dedupLinesWithin]]'s lesson) and pairs are confirmed on gram
    *     CONTENT, discarding hash-collision candidates. Sharing a
    *     (k+w−1)-gram is literally sharing a (k+w−1)-token run, so the
    *     verified output is the exact target set.
    *
    * Plan shape at 100 TB: the bench side (an eval suite — tiny next to
    * the corpus) broadcasts in both stages by default; the corpus side's
    * only exchanges are the fingerprint values and the candidate
    * documents' grams. Set `broadcastBench = false` for corpus-vs-corpus
    * runs, which falls back to shuffle equi-joins on the same keys.
    */
  def longRunContamination(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 5,
      broadcastBench: Boolean = true): DataFrame = {
    require(k >= 1 && window >= 1, "k and window must be positive")
    val runLen = k + window - 1
    def rgrams(df: DataFrame, outId: String): DataFrame = {
      val grams = TextStats.wordNgrams(col("_g_toks"), runLen)
      df.select(col(idCol).as(outId),
          TextStats.tokenArray(col(textCol)).as("_g_toks"))
        .select(col(outId), explode(array_distinct(grams)).as("_g_run"))
    }
    val fpDocs = TextStats.fingerprints(docs, idCol, textCol, k, window)
    val fpBench0 = TextStats.fingerprints(bench, idCol, textCol, k, window)
      .withColumnRenamed(idCol, "bench_id")
    val fpBench = if (broadcastBench) broadcast(fpBench0) else fpBench0
    val candPairs = fpDocs.join(fpBench, "fingerprint")
      .select(col(idCol), col("bench_id")).distinct()
    val docsR = rgrams(
      docs.join(candPairs.select(col(idCol)).distinct(), Seq(idCol), "left_semi"),
      idCol)
    val benchR0 = rgrams(
      bench.join(candPairs.select(col("bench_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi"),
      "bench_id")
    val benchR = if (broadcastBench) broadcast(benchR0) else benchR0
    docsR.join(benchR, "_g_run")
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared_runs"))
  }

  /** Content-defined chunking (Rabin–Karp rolling-window form): cut a
    * document where the hash of the trailing `window` code points hits
    * 0 mod `divisor` — the storage-dedup trick (LBFS, restic, borg)
    * applied to corpus text: unlike the fixed-size chunks of q99/q125,
    * CDC boundaries SURVIVE insertions and deletions, so two page
    * versions that differ by one paragraph still share every other
    * chunk hash and the chunk-level dedup (q125's discipline) removes
    * the overlap.
    *
    * The window hash is position-independent and needs NO sequential
    * state:
    *
    *   h(i) = Σ_{j=0}^{w−1} code(cᵢ₋ⱼ)·B^j  mod M      (B=257, M=2³¹−1)
    *   boundary after i  ⇔  i ≥ w−1  ∧  h(i) mod divisor = 0
    *
    * so every position evaluates independently inside one in-row array
    * HOF — embarrassingly parallel across documents AND positions (a
    * gear/FastCDC chain with per-chunk hash reset would instead force a
    * sequential fold). Expected chunk length ≈ `divisor` code points.
    *
    * Determinism: integer arithmetic end-to-end (code points < 2²¹,
    * products < 2⁵², window sums < 2⁵⁶ — no overflow before the mod);
    * chunk identity is md5 of the substring. Zero-length docs emit no
    * chunks; a doc shorter than `window` is one whole-doc chunk.
    *
    * Scale shape: zero shuffles — pure per-row compute; boundary
    * positions come from the compiled [[graft.functions.CdcBoundaries]]
    * rolling-hash kernel (O(w) multiply-adds per code point, compiled
    * — r19; the interpreted HOF forms cost µs/char), with a loud
    * `maxChars` guard (the in-row-fold contract of q318: bound the
    * row, or shard the doc with [[TextStats.chunkDocuments]] first).
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 16,
      divisor: Int = 64,
      maxChars: Int = 100000): DataFrame = {
    // upper bound (ADVICE r18): the kernel sums `window` multiply-add
    // terms per position with ONE trailing mod, so the no-overflow
    // argument needs sum < window·2^52 to stay under 2^63 — 64 terms
    // < 2^58. CDC windows are 16-48 code points in practice.
    // (CdcBoundaries enforces the same bound.)
    require(window >= 2 && window <= 64,
      s"window must be in [2, 64], got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val t = "_g_t"
    val guarded = df
      .withColumn(t,
        when(length(col(textCol)) <= maxChars, col(textCol))
          .otherwise(raise_error(concat(
            lit(s"cdcChunks: document longer than maxChars=$maxChars ("),
            length(col(textCol)).cast("string"),
            lit(s") — chunk it first")))))
      .filter(length(col(t)) > 0)
    // Boundary positions come from the COMPILED rolling-hash kernel
    // (graft.functions.CdcBoundaries, r19): the r18 form had already
    // unrolled the window sum to inline multiply-adds, but each
    // position still paid interpreted HOF dispatch — a per-char
    // ascii(substr) lambda, a filter lambda, and `window` interpreted
    // multiply-add evaluations (q342 ~9s at sf0.1 → ~1s compiled).
    // Same h(i) = Σ code(c_{i−j})·257^j mod M arithmetic, same
    // single-mod order, bit-identical boundaries — chunk md5s are
    // oracle-hash-locked, and the kernel spec replays the retired SQL
    // fold. The boundary array is BOUND as a lambda variable (the
    // transform(array(x), b -> ...) idiom), not referenced repeatedly
    // as a named column: projection collapse would otherwise inline
    // the kernel call into EVERY element_at reference.
    val chunks = s"element_at(transform(array(_g_b), b -> " +
      s"filter(transform(sequence(1, size(b) + 1), k -> " +
      s"named_struct('s', IF(k = 1, 1, element_at(b, k - 1) + 1), " +
      s"'e', IF(k = size(b) + 1, length($t), element_at(b, k)))), " +
      s"c -> c.s <= c.e)), 1)"
    val staged = guarded
      .withColumn("_g_b",
        graft.functions.CdcBoundaries.cdcBoundaries(col(t), window, divisor))
      .withColumn("_g_ck", expr(chunks))
      .drop("_g_b")
    staged
      .select(col(idCol), col(t),
        posexplode(col("_g_ck")).as(Seq("_g_k", "_g_c")))
      .select(col(idCol), (col("_g_k") + 1).cast("long").as("chunk_idx"),
        col("_g_c.s").cast("long").as("chunk_start"),
        (col("_g_c.e") - col("_g_c.s") + 1).cast("long").as("chunk_len"),
        md5(expr(s"substr($t, _g_c.s, _g_c.e - _g_c.s + 1)")
          .cast("binary")).as("chunk_md5"))
  }

  /** Cross-document near-duplicate pairs over [[cdcChunks]] — the
    * dedup application CDC exists for: two page versions differing by
    * an edit still share almost every chunk hash, so shared-chunk
    * count is an edit-tolerant overlap measure that fixed-grid
    * chunking (q125) misses when the edit shifts alignment.
    *
    * Pairing is BUCKETED on chunk_md5 (the library-wide never-all-pairs
    * rule) with the df-pruning discipline of the shingle/prefix-filter
    * family: a chunk hash present in more than `maxDocFreq` documents
    * is boilerplate, not dedup evidence, and is dropped BEFORE the
    * pair join (bounding any bucket at maxDocFreq²). Distinct chunk
    * sets per doc (internal repeats count once).
    *
    *   overlap_a = n_shared / |distinct chunks of a|   (d6; likewise b)
    *
    * Output: (doc_a < doc_b, n_shared_chunks, overlap_a, overlap_b)
    * for pairs with n_shared ≥ `minShared`.
    */
  def cdcDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 2,
      maxDocFreq: Int = 100,
      window: Int = 16,
      divisor: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val dc = cdcChunks(df, idCol, textCol, window, divisor)
      .select(col(idCol), col("chunk_md5")).distinct()
    val pruned = dc.join(
      dc.groupBy(col("chunk_md5")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDocFreq)
        .select(col("chunk_md5")),
      Seq("chunk_md5"))
    val perDoc = dc.groupBy(col(idCol))
      .agg(count(lit(1)).as("_nch"))
    val a = pruned.select(col("chunk_md5"), col(idCol).as("doc_a"))
    val b = pruned.select(col("chunk_md5"), col(idCol).as("doc_b"))
    a.join(b, Seq("chunk_md5"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_chunks"))
      .filter(col("n_shared_chunks") >= minShared.toLong)
      .join(perDoc.withColumnRenamed(idCol, "doc_a")
        .withColumnRenamed("_nch", "_na"), Seq("doc_a"))
      .join(perDoc.withColumnRenamed(idCol, "doc_b")
        .withColumnRenamed("_nch", "_nb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_chunks"),
        d6(col("n_shared_chunks").cast("double") /
          col("_na").cast("double")).as("overlap_a"),
        d6(col("n_shared_chunks").cast("double") /
          col("_nb").cast("double")).as("overlap_b"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): k-gram rolling hashes, then the MINIMUM hash of
    * every `window` consecutive k-grams, ties to the RIGHTMOST
    * occurrence, consecutive re-selections deduplicated. The selection
    * guarantee is what [[cdcChunks]]' content-defined boundaries can't
    * give: any shared substring of length ≥ window + k − 1 between two
    * documents shares AT LEAST ONE fingerprint — the local-dedup /
    * clone-detection primitive with a provable detection floor.
    *
    * Hashing reuses the [[cdcChunks]] polynomial (Σ code·257^j mod
    * 2³¹−1, position-independent, integer-exact: code points < 2²¹,
    * products < 2⁵², k ≤ 16 keeps window sums < 2⁵⁶); the per-window
    * argmin is an in-row fold whose `<=` update realises the
    * rightmost-tie rule. Docs shorter than k emit no fingerprints; a
    * doc with fewer than `window` k-grams is one (truncated) window.
    *
    * Scale shape: ZERO shuffles — pure per-row O(L·(k + window))
    * lambda compute with every intermediate array lambda-BOUND (the
    * q342 projection-collapse defense) and the same loud `maxChars`
    * guard. Output: (idCol, pos — the k-gram's 1-based start,
    * fingerprint). Downstream pairing buckets on (fingerprint), the
    * q343 chunk_md5 pattern.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      window: Int = 4,
      maxChars: Int = 100000): DataFrame = {
    require(k >= 2 && k <= 16, s"k must be in [2,16], got $k")
    require(window >= 1, s"window must be >= 1, got $window")
    val M = 2147483647L
    val pows = Iterator.iterate(1L)(p => (p * 257L) % M).take(k).toSeq
    val t = "_g_t"
    val guarded = df
      .withColumn(t,
        when(length(col(textCol)) <= maxChars, col(textCol))
          .otherwise(raise_error(concat(
            lit(s"winnowFingerprints: document longer than " +
              s"maxChars=$maxChars ("),
            length(col(textCol)).cast("string"),
            lit(") — chunk it first")))))
      .filter(length(col(t)) >= k)
    val codes = s"transform(sequence(1, length($t)), " +
      s"i -> CAST(ascii(substr($t, i, 1)) AS BIGINT))"
    // k-gram hash unrolled to k inline multiply-adds (the cdcChunks
    // r18 treatment — HOFs are interpreted, so the aggregate fold paid
    // a sequence allocation + lambda dispatch per element per
    // position); same sum, same single mod, no overflow (k ≤ 16)
    val gramSum = (0 until k)
      .map(j => s"element_at(cs, i + $j) * ${pows(j)}L")
      .mkString(" + ")
    val hs = s"element_at(transform(array($codes), cs -> " +
      s"transform(sequence(1, size(cs) - ${k - 1}), i -> " +
      s"($gramSum) % ${M}L)), 1)"
    val sel = s"element_at(transform(array($hs), h -> " +
      s"array_distinct(transform(" +
      s"sequence(1, greatest(1, size(h) - ${window - 1})), w -> " +
      s"aggregate(sequence(w, least(w + ${window - 1}, size(h))), " +
      s"named_struct('m', CAST(NULL AS BIGINT), 'p', CAST(0 AS BIGINT)), " +
      s"(acc, i) -> CASE WHEN acc.m IS NULL OR " +
      s"element_at(h, i) <= acc.m THEN " +
      s"named_struct('m', element_at(h, i), 'p', CAST(i AS BIGINT)) " +
      s"ELSE acc END)))), 1)"
    guarded
      .select(col(idCol), explode(expr(sel)).as("_g_s"))
      .select(col(idCol), col("_g_s.p").as("pos"),
        col("_g_s.m").as("fingerprint"))
  }
}

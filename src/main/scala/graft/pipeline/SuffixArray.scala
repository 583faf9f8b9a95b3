package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed SUFFIX-ARRAY construction by prefix doubling
  * (Manber–Myers): the index structure behind EXACT substring
  * deduplication of training corpora (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better" — their suffix-array
  * pass is the published exact complement of the winnowed-fingerprint
  * gate in [[TextDedup]]/q180). After construction, two suffixes share
  * a rank iff they are the same string, so repeated-substring queries
  * become rank equi-joins instead of string scans.
  *
  * Algorithm: every (doc, pos) suffix starts with the dense rank of
  * its first `initOrder` characters (bytewise substring comparison IS
  * the suffix order restricted to that depth, shorter-prefix-first
  * included — so a deeper seed just skips the cheap early rounds,
  * measured 10 → 6 rounds on the fixture at initOrder = 16); each
  * doubling round then refines order-k to order-2k by dense-ranking
  * the pair (rank(pos), rank(pos + k)) — one self-equi-join plus one
  * GLOBAL dense rank. Suffixes never cross document boundaries
  * (pos + k past the end ranks as the 0 sentinel: a shorter suffix
  * sorts before every extension — the suffix-array convention).
  *
  * The global dense rank is the scale-bearing piece, with TWO
  * executions chosen adaptively per round on the measured key
  * cardinality (outputs identical — only the plan differs):
  *
  *  - WINDOW path (keys mostly distinct — the late rounds): RANGE
  *    repartition on the key (equal keys provably co-locate), a
  *    per-shard dense rank, and a broadcast cumulative-offset table of
  *    per-shard distinct counts — the q53 deterministic-shuffle idiom.
  *    Shard boundaries are sampled and data-dependent, but the OUTPUT
  *    is boundary-invariant: offsets only re-base the same total order.
  *  - DISTINCT-FIRST path (keys heavily repeated — the seed round and
  *    early doubling rounds, and the whole run on pathologically
  *    repetitive corpora): aggregate to one row per DISTINCT key
  *    first (map-side combine collapses a heavy key inside each input
  *    partition, so no shard ever sorts the heavy key's row mass),
  *    rank the distinct-key frame with the same shard-and-offset
  *    re-base (keys now unique → the per-shard sort is skew-free by
  *    construction), then hash-join ranks back to the rows. The join
  *    back is a plain equi-join, so AQE's skew-join split — not a
  *    window sort — absorbs whatever key mass remains.
  *
  * This is the heavy-key defense: a corpus that repeats one substring
  * everywhere (the one-character-document stress in SuffixArraySpec)
  * concentrates one pair key; the window path would sort that key's
  * entire row mass on one shard, the distinct-first path reduces it
  * map-side to one row per partition. The dispatch threshold is
  * distinct·2 < rows, measured for free from the previous round's
  * offset collect; the seed round (no prior measurement) always takes
  * distinct-first — natural-language 16-char prefixes repeat heavily,
  * and adversarial corpora bite hardest exactly there.
  *
  * Rounds = ⌈log₂ max_len⌉, with an early stop the moment every rank
  * is distinct (each later round would be a no-op, which is also why a
  * fixed-unroll oracle replays bit-identically). Lineage is flattened
  * per round (localCheckpoint / checkpoint — the
  * [[TextDedup.dupClusters]] materialization contract).
  *
  * Output: (`idCol`, `pos` 1-based, `sa_rank`) — `sa_rank` is the
  * 1-based dense rank of the suffix string over ALL suffixes of all
  * documents; equal ranks = byte-identical suffixes.
  */
object SuffixArray {

  /** Materialize AND statistics-reset. Checkpointing alone is not
    * enough for an iterated self-join: Spark's checkpoint carries the
    * origin plan's `sizeInBytes` estimate onto the LogicalRDD, and a
    * doubling round joins two such frames — the BigInt estimate is
    * SQUARED every round, its digit count doubles, and by round ~12
    * the optimizer spends minutes in BigInteger.multiply (measured:
    * the 100k-char stress corpus went from 5m10s to seconds with the
    * reset). Re-wrapping the checkpointed RDD through createDataFrame
    * drops the inherited stats back to the flat default; the per-round
    * plans are shallow, so estimates stay bounded. Broadcast decisions
    * are unaffected — every broadcast in this pipeline is explicit.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val ck = Stage.materialize(df)
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Cumulative-offset re-base shared by both rank paths: per-shard
    * local ranks `_lr` (+ a per-row weight `_kn` for the totals) →
    * global ranks `_gr`. The ranked frame is MATERIALIZED before the
    * bounded counts collect (shuffle-partitions-sized — a contract
    * point) — the offsets pass and the caller's consumption would
    * otherwise each recompute the whole upstream subtree — which also
    * flattens the loop's lineage. Passes (distinct, rows) totals to
    * `onTotals` from the same collect — no extra count job.
    */
  private def rebase(
      ranked: DataFrame, shardCol: String,
      onTotals: (Long, Long) => Unit): DataFrame = {
    val local = materialize(ranked)
    val counts = local.groupBy(col(shardCol))
      .agg(max(col("_lr")).as("_n"), sum(col("_kn")).as("_rows"))
      .collect().sortBy(_.getLong(0))
    onTotals(counts.map(_.getLong(1)).sum, counts.map(_.getLong(2)).sum)
    val offsets = counts
      .scanLeft((-1L, 0L, 0L)) { case ((_, cum, _), r) =>
        (r.getLong(0), cum + r.getLong(1), cum)
      }.drop(1).map { case (pid, _, off) => (pid, off) }
    val offDf = ranked.sparkSession.createDataFrame(offsets.toSeq)
      .toDF(shardCol, "_off")
    local.join(broadcast(offDf), Seq(shardCol))
      .withColumn("_gr", col("_off") + col("_lr"))
      .drop(shardCol, "_lr", "_off", "_kn")
  }

  /** WINDOW-path global dense rank over `cs`, given an ORDER-ALIGNED
    * shard column (equal keys share a shard; shard ids sort with the
    * keys). Right when keys are mostly distinct — the per-shard sort
    * carries ~unique keys.
    */
  private def rankOverShards(
      df: DataFrame, shardCol: String, cs: Seq[String],
      onTotals: (Long, Long) => Unit): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(cs.map(col): _*)
    rebase(
      df.withColumn("_lr", dense_rank().over(w).cast("long"))
        .withColumn("_kn", lit(1L)),
      shardCol, onTotals)
  }

  /** DISTINCT-FIRST global dense rank over `cs`: aggregate to distinct
    * keys (map-side combine — the heavy-key collapse), shard-and-rank
    * the distinct frame, join ranks back. The output frame is
    * materialized (the window path's rebase already is): the caller's
    * loop self-joins it, and an unflattened join lineage would recurse.
    */
  private def rankDistinctFirst(
      df: DataFrame, cs: Seq[String],
      onTotals: (Long, Long) => Unit): DataFrame = {
    val kc = df.groupBy(cs.map(col): _*).agg(count(lit(1)).as("_kn"))
      .repartitionByRange(cs.map(col): _*)
      .withColumn("_pid", spark_partition_id().cast("long"))
    // keys are unique rows now, so row_number ≡ dense_rank, skew-free
    val w = Window.partitionBy(col("_pid")).orderBy(cs.map(col): _*)
    val keyRanks = rebase(
      kc.withColumn("_lr", row_number().over(w).cast("long")),
      "_pid", onTotals)
    materialize(df.join(keyRanks, cs))
  }

  /** Seed-round global dense rank: no prior cardinality measurement
    * exists, so the skew-proof distinct-first path is taken
    * unconditionally (see the dispatch note in the object scaladoc).
    */
  private def globalDenseRank(
      df: DataFrame, cs: Seq[String],
      onTotals: (Long, Long) => Unit): DataFrame =
    rankDistinctFirst(df, cs, onTotals)

  /** The seed depth: initial ranks order the first 16 characters in
    * one string dense rank, and doubling starts at k = 16. Part of the
    * oracle contract (q252's CTE seeds identically).
    */
  val initOrder = 16

  /** Construction artifacts beyond the final ranks, kept for LCP
    * queries ([[longestRepeats]]): `levels` holds every round's rank
    * table as (ordered-char span, (_d, _p, _r)) including the seed
    * (span = initOrder), each already materialized by construction;
    * `seeds` is the (_d, _p, _c) seed-prefix frame (`_c` ≤ initOrder
    * chars — the only place document text survives past the scan, and
    * it is BOUNDED, never the full text).
    */
  private[pipeline] case class SaIndex(
      ranks: DataFrame,
      levels: Seq[(Long, DataFrame)],
      seeds: DataFrame)

  private[pipeline] def buildIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxRounds: Int): SaIndex = {
    require(maxRounds >= 1 && maxRounds <= 57,
      s"maxRounds in [1, 57], got $maxRounds")
    val maxRow = df.agg(max(length(col(textCol)))).head()
    require(!maxRow.isNullAt(0), "suffixRanks: empty corpus")
    val maxLen = maxRow.getInt(0)
    require((initOrder.toLong << maxRounds) >= maxLen,
      s"maxRounds=$maxRounds orders only ${initOrder}·2^$maxRounds chars; " +
        s"corpus max doc length is $maxLen — raise maxRounds (suffix " +
        "ranks would be silently truncated-order otherwise)")
    // empty documents have NO suffixes and must be filtered before the
    // explode: Spark's sequence(1, 0) defaults to step -1 and would
    // emit phantom [1, 0] rows (incl. an invalid pos=0), where the
    // oracle's generate_series(1, 0) emits none — a silent divergence
    // on valid corpus input (e.g. a fully-cut doc from
    // [[cutSharedSuffixes]])
    // seed prefixes come from a per-document char ARRAY + positional
    // slice, not substr(text, p, 16): UTF8String substring walks bytes
    // from position 0 to find char p (variable-width encoding), so the
    // naive form costs Σp = O(L²/2) byte steps per document — ~5·10⁹
    // for one 100 KB page. The array splits once (O(L)) and every
    // slice is O(initOrder); values are identical by construction.
    val sfx = df
      .filter(length(col(textCol)) > 0)
      .withColumn("_chars", TextStats.charArray(col(textCol)))
      .select(col(idCol).as("_d"),
        explode(sequence(lit(1), length(col(textCol)))).as("_p"),
        col("_chars"))
      .select(col("_d"), col("_p").cast("long").as("_p"),
        array_join(slice(col("_chars"), col("_p"), lit(initOrder)), "")
          .as("_c"))
    var distinct = 0L
    var n = 0L
    var ranks = globalDenseRank(sfx, Seq("_c"),
        (d, rows) => { distinct = d; n = rows })
      .select(col("_d"), col("_p"), col("_gr").as("_r"))
    var k = initOrder.toLong
    var levels = List((k, ranks))
    val shards = ranks.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    while (distinct < n && k < maxLen) {
      val shifted = ranks.select(col("_d"), (col("_p") - k).as("_p"),
        col("_r").as("_r2"))
      val paired = ranks.join(shifted, Seq("_d", "_p"), "left")
        .withColumn("_r2", coalesce(col("_r2"), lit(0L)))
      // adaptive dispatch: heavily-repeated keys (early rounds,
      // adversarial corpora) take the distinct-first path; mostly-
      // distinct keys (late rounds) take the cheaper window path,
      // whose shard is computed in-row from equal-width bands of the
      // known rank domain (1..distinct) — ONE exchange per round
      // instead of range-sampling + range exchange + window exchange.
      // Order-aligned because the band depends only on _r: equal
      // (_r, _r2) keys co-locate and band b's keys all sort before
      // band b+1's.
      ranks =
        (if (distinct * 2 < n)
          rankDistinctFirst(paired, Seq("_r", "_r2"),
            (d, _) => distinct = d)
        else {
          val width = ((distinct + shards - 1) / shards).max(1L)
          // integer `div`, not `/`: double division loses exactness
          // past 2^53 ranks (the Analytics bucket-arithmetic
          // discipline)
          val banded = paired.withColumn("_b",
            expr(s"(_r - 1L) div ${width}L"))
          rankOverShards(banded, "_b", Seq("_r", "_r2"),
            (d, _) => distinct = d)
        }).select(col("_d"), col("_p"), col("_gr").as("_r"))
      k = k * 2
      levels = (k, ranks) :: levels
    }
    SaIndex(ranks, levels, sfx)
  }

  def suffixRanks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxRounds: Int = 20): DataFrame =
    buildIndex(df, idCol, textCol, maxRounds).ranks
      .select(col("_d").as(idCol), col("_p").as("pos"),
        col("_r").as("sa_rank"))

  /** CROSS-DOCUMENT REPEATED SUBSTRINGS from the suffix ranks — the
    * report the exact-dedup pass acts on: for every suffix string of
    * length ≥ `minLen` shared by ≥ 2 documents, one row with the
    * group's size, its document spread, and the representative
    * (minimum (doc, pos)) occurrence. Equal `sa_rank` ⟺ equal suffix
    * string, so the whole report is ONE rank-keyed aggregate — no
    * string comparison after construction. Note these are shared
    * SUFFIXES (substrings that run to a document's end — the
    * suffix-granularity view); a maximal-internal-substring report
    * walks LCPs of rank-adjacent suffixes on the same index
    * ([[longestRepeats]]).
    *
    * `textCol`-free by design: length rides along as (doc length −
    * pos + 1) computed before the explode is discarded, so callers
    * join nothing back.
    */
  def repeatedSuffixes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      maxRounds: Int = 20): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val ranks = suffixRanks(df, idCol, textCol, maxRounds)
    val lens = df.select(col(idCol), length(col(textCol)).cast("long")
      .as("_len"))
    ranks.join(lens, Seq(idCol))
      .withColumn("suffix_len", col("_len") - col("pos") + 1L)
      .filter(col("suffix_len") >= minLen)
      .groupBy(col("sa_rank"), col("suffix_len"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"),
        // a doc appears at most once per rank group (same-doc suffixes
        // have distinct lengths), so min_by is tie-free
        min(col(idCol)).as("rep_doc"),
        min_by(col("pos"), col(idCol)).as("rep_pos"))
      .filter(col("n_docs") >= 2)
      .select(col("sa_rank"), col("suffix_len"), col("n_occurrences"),
        col("n_docs"), col("rep_doc"), col("rep_pos"))
  }

  /** LONGEST REPEATED SUBSTRINGS — the maximal-internal-substring
    * report ([[repeatedSuffixes]]' suffix-granularity caveat, closed):
    * the classic suffix-array result that every maximal repeat is
    * either (a) the LCP of two RANK-ADJACENT distinct suffixes, or
    * (b) a whole duplicated suffix (a rank with ≥ 2 occurrences —
    * dense ranking collapsed what a tie-broken SA would lay adjacent).
    * The top `topK` candidates by (length DESC, rank ASC), each with a
    * ≤ 60-char preview — the report Lee et al. 2022 act on when
    * deciding what to cut.
    *
    * LCPs come from the construction's OWN rank tables by binary
    * lifting — never from text: greedily descending the doubling
    * levels, two adjacent suffixes extend their common prefix by a
    * level's span iff their ranks at (pos + lcp) agree at that level
    * (rank equality at order-s ⟺ equal s-char substrings), and the
    * final < initOrder residue is a first-mismatch scan of the two
    * BOUNDED seed prefixes (≤ 16 chars). Each level is one fixed-width
    * equi-join per side against a materialized rank table, so no frame
    * below the top-k boundary ever carries document text — the
    * previous formulation joined each rank's ENTIRE representative
    * text onto the corpus-sized candidate frame (L rows × L chars ≈ L²
    * bytes per document: a 100 KB web page would contribute ~10 GB),
    * the exact naive-LCP cost Kasai's algorithm exists to avoid.
    * A possibly-overshooting last add (both suffixes ending inside a
    * span with equal remainders) is exact after capping at the
    * pairwise length bound min(la, lb).
    *
    * Candidates are pre-cut by a bound derived from the (b)-rows,
    * which need no text and no LCP: an adjacent pair's repeat can
    * never exceed min(la, lb), so pairs bounded strictly below the
    * topK-th longest duplicated suffix cannot reach the report and are
    * dropped BEFORE the lifting joins (one bounded 1-value collect —
    * the library's argmax-pick contract point). Text is attached ONLY
    * to the final topK rows (broadcast), for the preview.
    *
    * `n_occurrences` on 'adjacent' rows is the SUM of the two rank
    * groups' occurrence counts — every suffix in either group starts
    * with the repeat, so this is the tight two-group lower bound on
    * the repeat's corpus frequency (other rank groups may also contain
    * it); 'dup' rows report their group's exact count.
    *
    * Output: (`sa_rank`, `repeat_len`, `n_occurrences`, `source`
    * 'adjacent'|'dup', `rep_doc`, `rep_pos`, `preview`).
    */
  def longestRepeats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int = 20,
      maxRounds: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val idx = buildIndex(df, idCol, textCol, maxRounds)
    val lens = df.select(col(idCol).as("_ld"),
      length(col(textCol)).cast("long").as("_len"))
    val reps = idx.ranks
      .groupBy(col("_r").as("sa_rank"))
      .agg(min(col("_d")).as("rep_doc"),
        min_by(col("_p"), col("_d")).as("rep_pos"),
        count(lit(1)).as("n_occurrences"))
      .join(lens, col("rep_doc") === col("_ld"))
      .withColumn("_slen", col("_len") - col("rep_pos") + 1L)
      .drop("_ld", "_len")
    // (b) duplicated whole suffixes: the repeat IS the suffix
    val dups = reps.filter(col("n_occurrences") >= 2)
      .select(col("sa_rank"), col("_slen").as("repeat_len"),
        col("n_occurrences"), lit("dup").as("source"),
        col("rep_doc"), col("rep_pos"))
    // the (b)-derived candidate cut: pairs bounded strictly below the
    // topK-th longest dup cannot enter the report
    val thrRow = dups.select(col("repeat_len"))
      .orderBy(col("repeat_len").desc).limit(topK)
      .agg(min(col("repeat_len")), count(lit(1))).head()
    // the cut is only sound when ≥ topK dup rows actually outrank the
    // dropped pairs; with fewer, every pair stays a candidate
    val thr =
      if (thrRow.isNullAt(0) || thrRow.getLong(1) < topK) 1L
      else thrRow.getLong(0)
    // (a) rank-adjacent LCPs: dense ranks make adjacency r ↔ r+1
    val a = reps.select(col("sa_rank"), col("rep_doc"), col("rep_pos"),
      col("_slen").as("_la"), col("n_occurrences").as("_na"))
    val b = reps.select((col("sa_rank") - 1L).as("sa_rank"),
      col("rep_doc").as("_db"), col("rep_pos").as("_pb"),
      col("_slen").as("_lb"), col("n_occurrences").as("_nb"))
    var cand = a.join(b, "sa_rank")
      .withColumn("_bound", least(col("_la"), col("_lb")))
      .filter(col("_bound") >= thr)
      .withColumn("_lcp", lit(0L))
    for ((span, lv) <- idx.levels.sortBy(-_._1)) {
      val ra = lv.select(col("_d").as("rep_doc"), col("_p").as("_qa"),
        col("_r").as("_ra"))
      val rb = lv.select(col("_d").as("_db"), col("_p").as("_qb"),
        col("_r").as("_rb"))
      cand = cand
        .withColumn("_qa", col("rep_pos") + col("_lcp"))
        .withColumn("_qb", col("_pb") + col("_lcp"))
        .join(ra, Seq("rep_doc", "_qa"), "left")
        .join(rb, Seq("_db", "_qb"), "left")
        // null ranks (position past the document end) extend nothing
        .withColumn("_lcp", when(col("_ra") === col("_rb"),
          col("_lcp") + span).otherwise(col("_lcp")))
        .drop("_qa", "_qb", "_ra", "_rb")
    }
    // residual < initOrder chars: first-mismatch scan over the two
    // BOUNDED seed prefixes (out-of-range position → no seed row →
    // null → 0 residue)
    val sa = idx.seeds.select(col("_d").as("rep_doc"),
      col("_p").as("_qa"), col("_c").as("_ca"))
    val sb = idx.seeds.select(col("_d").as("_db"),
      col("_p").as("_qb"), col("_c").as("_cb"))
    val nRes = least(length(col("_ca")), length(col("_cb"))).cast("long")
    val eqArr = when(nRes >= 1L, transform(sequence(lit(1L), nRes), i =>
      col("_ca").substr(i.cast("int"), lit(1)) ===
        col("_cb").substr(i.cast("int"), lit(1))))
      .otherwise(expr("CAST(array() AS ARRAY<BOOLEAN>)"))
    val mism = array_position(eqArr, false)
    // a missing seed (position past its document's end) contributes 0
    // — stated explicitly even though the bound cap below already
    // absorbs that case (lcp ≥ la there, so repeat_len = bound)
    val residual = when(col("_ca").isNull || col("_cb").isNull, lit(0L))
      .otherwise(coalesce(
        when(mism === 0L, nRes).otherwise(mism - 1L), lit(0L)))
    val adj = cand
      .withColumn("_qa", col("rep_pos") + col("_lcp"))
      .withColumn("_qb", col("_pb") + col("_lcp"))
      .join(sa, Seq("rep_doc", "_qa"), "left")
      .join(sb, Seq("_db", "_qb"), "left")
      .withColumn("repeat_len",
        least(col("_lcp") + residual, col("_bound")))
      .filter(col("repeat_len") >= 1L)
      .select(col("sa_rank"), col("repeat_len"),
        (col("_na") + col("_nb")).as("n_occurrences"),
        lit("adjacent").as("source"), col("rep_doc"), col("rep_pos"))
    val top = dups.unionByName(adj)
      .orderBy(col("repeat_len").desc, col("sa_rank").asc,
        col("source").asc)
      .limit(topK)
    // text crosses a join ONLY here, above the top-k boundary: topK
    // rows broadcast against one more corpus scan, for the preview.
    // The ROW SET is already the ordered cut; no re-sort after the
    // join (a bare global Sort is the lint-forbidden shape, and every
    // consumer contract — driver compare included — is order-free)
    val texts = df.select(col(idCol).as("_td"), col(textCol).as("_t"))
    texts.join(broadcast(top), col("_td") === col("rep_doc"))
      .select(col("sa_rank"), col("repeat_len"), col("n_occurrences"),
        col("source"), col("rep_doc"), col("rep_pos"),
        col("_t").substr(col("rep_pos").cast("int"),
          least(col("repeat_len"), lit(60L)).cast("int")).as("preview"))
  }

  /** EXACT-SUBSTRING DEDUPLICATION CUT — the acting step of the Lee
    * et al. 2022 pipeline that [[repeatedSuffixes]] only reports: every
    * suffix of length ≥ `minLen` that occurs ≥ 2 times in the corpus
    * keeps its FIRST occurrence (the group representative — minimum
    * (doc, pos)) and is cut from every other document carrying it.
    *
    * Suffix granularity makes the kept-range reassembly closed-form:
    * a document's cut spans all run to its end (they are suffixes), so
    * their union is the single tail starting at the document's minimum
    * non-representative qualifying position, and the kept text is the
    * prefix before it — no interval algebra on the frame. A document
    * whose position 1 is cut (a planted shadow that IS another doc's
    * tail) comes back as the empty string, which downstream SA passes
    * accept (empty docs contribute no suffixes — the phantom-sequence
    * guard in [[buildIndex]]).
    *
    * Scale shape: the suffix ranks never carry text; the cut frame is
    * one rank-keyed aggregate + one doc-keyed min + a LEFT join back
    * to the corpus (docs with nothing to cut pass through untouched).
    * Text is read at the scan and substr'd in-row — it never crosses
    * an exchange.
    *
    * Output: (`idCol`, `textCol` cut, `orig_len`, `kept_len`) — one
    * row per input document, `kept_len` = length of the surviving
    * prefix (= `orig_len` when uncut).
    */
  def cutSharedSuffixes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      maxRounds: Int = 20): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val ranks = suffixRanks(df, idCol, textCol, maxRounds)
    val lens = df.select(col(idCol), length(col(textCol)).cast("long")
      .as("_len"))
    val occ = ranks.join(lens, Seq(idCol))
      .withColumn("_sl", col("_len") - col("pos") + 1L)
      .filter(col("_sl") >= minLen)
    val groups = occ.groupBy(col("sa_rank"))
      .agg(count(lit(1)).as("_n"), min(col(idCol)).as("_repd"))
      .filter(col("_n") >= 2)
      .select(col("sa_rank"), col("_repd"))
    val cuts = occ.join(groups, "sa_rank")
      .filter(col(idCol) =!= col("_repd"))
      .groupBy(col(idCol)).agg(min(col("pos")).as("_cut"))
    df.join(cuts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_cut").isNull, col(textCol))
          .otherwise(col(textCol).substr(lit(1),
            (col("_cut") - 1L).cast("int"))).as(textCol),
        length(col(textCol)).cast("long").as("orig_len"),
        when(col("_cut").isNull, length(col(textCol)).cast("long"))
          .otherwise(col("_cut") - 1L).as("kept_len"))
  }
}

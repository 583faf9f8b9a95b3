package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Exact.{d28, d6}

/** Corpus retrieval and vocabulary operators: BM25 relevance scoring
  * (the IR baseline every RAG/contamination pipeline reaches for before
  * anything neural) and vocabulary-coverage profiling (the OOV-rate
  * check run before committing to a tokenizer vocabulary).
  *
  * Reference capability: sayn exposes arbitrary SQL through its task
  * SELECTs (sayn/tasks/sql.py); ranking/coverage queries like these are
  * what its users hand-write. Here they are first-class operators with
  * the 100 TB shapes worked out.
  */
object Retrieval {

  /** BM25 (Okapi, Lucene-style positive idf) scores of every matching
    * document against a bag of query terms, top `topK` by score:
    *
    *   idf(t)  = ln((N − df_t + 0.5) / (df_t + 0.5) + 1)
    *   s(d)    = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Tokenization is the corpus contract (single-space split), matching
    * [[TextStats]]. Scores are d6-rounded and ranked (score DESC, id
    * ASC) so the top-k boundary is deterministic across engines and
    * partitionings — raw doubles differ in ulps by summation order.
    *
    * Scale shape: one token explode feeds BOTH df and tf through an
    * early `isin(queryTerms)` filter, so only query-term rows ever
    * shuffle (|terms| × N_matching, not corpus tokens). The df side
    * collapses to ≤ |terms| rows (broadcast join); corpus N/avgdl ride
    * a 1-row crossJoin (in-plan, the q60 TF-IDF discipline); the final
    * top-k is TakeOrderedAndProject — no global sort.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 > 0 && b >= 0 && b <= 1, s"k1 > 0, b in [0,1]; got k1=$k1 b=$b")
    // a repeated term would join its tf/df rows twice and double its
    // score contribution; bag-of-words queries weight by repetition
    // upstream, not here
    val terms = queryTerms.distinct
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // per-doc length over ALL tokens (dl), before the query-term filter
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_g_dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("_g_ndocs"),
      (sum(col("_g_dl")).cast("double") / count(lit(1))).as("_g_avgdl"))
    val qToks = toks.filter(col("tok").isin(terms: _*))
    val tf = qToks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).cast("double").as("_g_tf"))
    val dfreq = qToks.groupBy(col("tok"))
      .agg(countDistinct(col(idCol)).cast("double").as("_g_df"))
    val term =
      log((col("_g_ndocs") - col("_g_df") + 0.5) / (col("_g_df") + 0.5) + 1.0) *
        col("_g_tf") * lit(k1 + 1.0) /
        (col("_g_tf") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("_g_dl") / col("_g_avgdl")))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(sum(term).cast("decimal(28,6)").cast("double").as("bm25_score"))
      .orderBy(col("bm25_score").desc, col(idCol))
      .limit(topK)
  }

  /** Vocabulary coverage: build the top-`vocabSize` corpus vocabulary
    * (frequency DESC, token ASC — a total order) and report each
    * document's out-of-vocabulary token count and rate. The distribution
    * of `oov_rate` is the go/no-go read on a candidate tokenizer vocab:
    * a fat tail means the vocabulary is too small or the corpus too
    * dirty.
    *
    * Scale shape: token counts partial-aggregate before the exchange
    * (≤ |vocab of partition| rows each); the top-N is
    * TakeOrderedAndProject (no global sort) and the resulting vocab —
    * `vocabSize` rows by construction — broadcast-joins back onto the
    * token stream. One doc-keyed aggregate finishes; nothing wide ever
    * shuffles.
    */
  def vocabCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_g_cnt"))
      .orderBy(col("_g_cnt").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(1).as("_g_in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("_g_in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        (col("n_oov").cast("double") / col("n_tokens"))
          .cast("decimal(28,6)").cast("double"))
  }

  /** Feature-hashed bag-of-words (the hashing trick): every token maps
    * in-row to `dim = md5_prefix(token) mod dims`, and the document's
    * sparse vector is the per-(doc, dim) occurrence count plus the
    * distinct-term count (collision visibility). The cheap, vocabulary-
    * free featurizer that feeds linear quality classifiers — no vocab
    * table to build, broadcast or version.
    *
    * The hash is the engine-portable md5-prefix idiom (the
    * [[Sampling]] membership hash): deterministic across engines,
    * partitionings and releases — a re-featurized corpus is
    * comparable with last month's. ONE doc-keyed aggregate over the
    * exploded stream (dim is a projection, not a join); map-side
    * combine keeps the exchange at docs × dims partial rows.
    */
  def hashedBow(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dims: Int = 32): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val dim = conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10)
      .cast("long") % dims
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(idCol), dim.as("dim"), col("tok"))
      .groupBy(col(idCol), col("dim"))
      .agg(count(lit(1)).as("weight"),
        countDistinct(col("tok")).as("n_terms"))
  }

  /** RECIPROCAL RANK FUSION of pre-ranked candidate lists — the
    * standard way to blend heterogeneous rankers (lexical BM25 +
    * semantic cosine + a quality prior) without calibrating their
    * score scales: fused(d) = Σ_lists 1/(rrfK + rank_list(d)), summed
    * over the lists that contain d.
    *
    * Each input frame carries (`idCol`, `rank`) with rank ≥ 1 (a
    * truncated top-k list is fine — absent docs contribute zero).
    * Lists join full-outer IN ARGUMENT ORDER and contributions add
    * left-to-right, so the double arithmetic is order-fixed and
    * reproducible; the fused score is d6-rounded BEFORE the final
    * (score DESC, id ASC) cut, so the top-k boundary can't sit on a
    * float edge (q123's ranking discipline).
    *
    * Scale: candidate lists are top-k by construction — orders of
    * magnitude smaller than the corpus — so the outer joins broadcast
    * and the final cut is a TakeOrderedAndProject. The ranker stages
    * upstream are where the corpus-sized work happens.
    */
  def reciprocalRankFusion(
      rankings: Seq[DataFrame],
      idCol: String,
      rrfK: Int = 60,
      topK: Int = 50): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(rrfK >= 1 && topK >= 1, "rrfK and topK must be positive")
    val renamed = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), col("rank").as(s"_g_r$i"))
    }
    val joined = renamed.reduce(_.join(_, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(
        lit(1.0) / (lit(rrfK.toDouble) + col(s"_g_r$i").cast("double")),
        lit(0.0)))
      .reduce(_ + _)
    val nLists = rankings.indices
      .map(i => col(s"_g_r$i").isNotNull.cast("int"))
      .reduce(_ + _)
    joined
      .select(col(idCol), nLists.as("n_lists"),
        score.cast("decimal(28,6)").cast("double").as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** Multi-query BM25: the batched form of [[bm25TopK]] — one corpus
    * pass scores EVERY query's term bag and emits each query's top
    * `topK` (rank ∈ 1..topK). This is the shape a retrieval-eval or
    * hard-negative-mining run actually presents: thousands of queries
    * against one corpus, where re-scanning per query (the single-query
    * form in a loop) would read the corpus Q times.
    *
    * Scale shape: the (doc, term) score contribution is computed ONCE
    * per matched term — tf/df/dl flow exactly as in [[bm25TopK]] — and
    * the query→term mapping joins on as a broadcast (queries are
    * driver-supplied, vocab-sized). The per-query cut runs through the
    * custom TopKPerKeyExec (bounded heaps after ONE query-keyed
    * exchange, never a corpus-sized sort per query), and the rank
    * window reuses that exchange's partitioning over the ≤topK-row
    * frames. Scores are d6-rounded BEFORE the cut (q123's discipline)
    * so the boundary is deterministic across engines.
    */
  def bm25MultiTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: Seq[(Long, Seq[String])],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queries.nonEmpty, "queries must be non-empty")
    require(queries.forall(_._2.nonEmpty), "every query needs >= 1 term")
    require(k1 > 0 && b >= 0 && b <= 1, s"k1 > 0, b in [0,1]; got k1=$k1 b=$b")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queries
      .flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val terms = queries.flatMap(_._2).distinct
    val toks = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("_g_dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("_g_ndocs"),
      (sum(col("_g_dl")).cast("double") / count(lit(1))).as("_g_avgdl"))
    val qToks = toks.filter(col("tok").isin(terms: _*))
    val tf = qToks.groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).cast("double").as("_g_tf"))
    val dfreq = qToks.groupBy(col("tok"))
      .agg(countDistinct(col(idCol)).cast("double").as("_g_df"))
    val term =
      log((col("_g_ndocs") - col("_g_df") + 0.5) / (col("_g_df") + 0.5) + 1.0) *
        col("_g_tf") * lit(k1 + 1.0) /
        (col("_g_tf") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("_g_dl") / col("_g_avgdl")))
    val contrib = tf.join(broadcast(dfreq), "tok")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("tok"), term.as("_g_ts"))
    val scored = contrib
      .join(broadcast(qt), col("tok") === col("term"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("_g_ts")).cast("decimal(28,6)").cast("double")
        .as("bm25_score"))
    val cut = graft.ops.TopK.perKey(scored, Seq("query_id"),
      Seq(col("bm25_score").desc, col(idCol).asc), topK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("bm25_score").desc, col(idCol).asc)
    cut.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Ranking-quality metrics — Recall@k, MRR@k and nDCG@k per query —
    * of a top-k `run` against graded relevance judgments `qrels`. The
    * evaluation half of every retrieval loop: before a ranker's output
    * feeds RAG context windows or hard-negative mining, this is the
    * scorecard that says whether it retrieves anything worth reading.
    *
    *   Recall@k = |retrieved ∩ relevant| / |relevant|   (rel ≥ `relThreshold`)
    *   MRR@k    = 1 / rank of the first relevant hit    (0 if none)
    *   nDCG@k   = DCG@k / IDCG@k,  DCG = Σ (2^rel − 1) / log2(rank + 1)
    *
    * IDCG is computed WITHOUT sorting the per-query judgment lists:
    * grades are small integers, so per-query grade COUNTS (≤ maxGrade
    * rows each) plus a broadcast 1..k position frame reconstruct the
    * ideal ranking's discount sum arithmetically — the ideal list puts
    * the `n₃` grade-3 docs at positions 1..n₃, grade-2 next, and the
    * position-window [start, end] per grade falls out of a running sum.
    * Queries × k rows total; nothing corpus-sized moves after the
    * (query, doc) equi-join against qrels.
    *
    * `run` carries (`queryCol`, `idCol`, `rank` ∈ 1..k); `qrels`
    * carries (`queryCol`, `idCol`, `relCol` ≥ 1 integer grades —
    * grade-0/absent pairs are simply not judged relevant). All metric
    * columns are d6-rounded so cross-engine float summation order
    * cannot move a hash.
    */
  def rankingMetrics(
      run: DataFrame,
      qrels: DataFrame,
      queryCol: String,
      idCol: String,
      relCol: String,
      k: Int,
      relThreshold: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(relThreshold >= 1, s"relThreshold must be >= 1, got $relThreshold")
    val spark = run.sparkSession
    val joined = run.filter(col("rank") <= k)
      .join(qrels.select(col(queryCol), col(idCol),
        col(relCol).cast("long").as("_g_rel")), Seq(queryCol, idCol), "left")
      .withColumn("_g_rel", coalesce(col("_g_rel"), lit(0L)))
    val perQ = joined.groupBy(col(queryCol)).agg(
      sum(when(col("_g_rel") >= relThreshold, 1L).otherwise(0L))
        .as("hits_at_k"),
      min(when(col("_g_rel") >= relThreshold, col("rank"))).as("_g_first"),
      sum((pow(lit(2.0), col("_g_rel").cast("double")) - 1.0) /
        log2(col("rank").cast("double") + 1.0)).as("_g_dcg"))
    val relTotals = qrels.filter(col(relCol) >= relThreshold)
      .groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    // ideal-DCG from grade counts: cumulative docs at grades >= g give
    // the position window each grade occupies in the ideal ranking
    val gc = qrels.filter(col(relCol) >= 1)
      .groupBy(col(queryCol), col(relCol).cast("long").as("_g_g"))
      .agg(count(lit(1)).as("_g_n"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol))
      .orderBy(col("_g_g").desc)
    val bands = gc
      .withColumn("_g_cum", sum(col("_g_n")).over(wg))
      .withColumn("_g_start", col("_g_cum") - col("_g_n") + 1L)
      .withColumn("_g_end", least(col("_g_cum"), lit(k.toLong)))
      .filter(col("_g_start") <= k)
    val pos = spark.range(1, k + 1L).toDF("_g_p")
    val idcg = bands.join(broadcast(pos),
        col("_g_p").between(col("_g_start"), col("_g_end")))
      .groupBy(col(queryCol))
      .agg(sum((pow(lit(2.0), col("_g_g").cast("double")) - 1.0) /
        log2(col("_g_p").cast("double") + 1.0)).as("_g_idcg"))
    // the output is TOTAL over the judged ∪ retrieved query universe:
    // a query with judgments but zero retrieved rows (the run matched
    // nothing) must surface as an explicit all-zero row, not silently
    // vanish and bias a downstream macro-average upward
    val universe = run.select(col(queryCol))
      .union(qrels.select(col(queryCol))).distinct()
    val hitsC = coalesce(col("hits_at_k"), lit(0L))
    val dcgC = coalesce(col("_g_dcg"), lit(0.0))
    universe
      .join(perQ, Seq(queryCol), "left")
      .join(relTotals, Seq(queryCol), "left")
      .join(idcg, Seq(queryCol), "left")
      .select(
        col(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        hitsC.as("hits_at_k"),
        d6(when(coalesce(col("n_rel"), lit(0L)) === 0L, lit(0.0))
          .otherwise(hitsC.cast("double") /
            col("n_rel").cast("double"))).as("recall_at_k"),
        d6(when(col("_g_first").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("_g_first").cast("double")))
          .as("mrr_at_k"),
        d6(dcgC).as("dcg_at_k"),
        d6(coalesce(col("_g_idcg"), lit(0.0))).as("idcg_at_k"),
        d6(when(coalesce(col("_g_idcg"), lit(0.0)) === 0.0, lit(0.0))
          .otherwise(dcgC / col("_g_idcg"))).as("ndcg_at_k"))
  }

  /** ROUGE-N (Lin 2004) between a candidate and reference text pair —
    * the n-gram-overlap metric summarization/distillation pipelines
    * grade generated text with. Clipped multiset counts (match =
    * Σ_g min(c_cand(g), c_ref(g))), precision = match/|cand grams|,
    * recall = match/|ref grams|, F1 = 2PR/(P+R); the zero-match row
    * (incl. empty-gram sides) scores 0.0 by definition, not NaN.
    *
    * Exactness: counts are integers end to end; the three ratios are
    * single fixed-order double divisions d6-truncated at the output
    * contract point — fully oracle-replayable.
    *
    * Scale shape: grams explode from an in-row array build (no window,
    * no self-join); one (pair, gram) hash-aggregate then one (pair)
    * rollup — two keyed exchanges, both map-side combined, carrying
    * gram counts, never text. Pairs with no qualifying grams (short
    * docs at n ≥ 2) come back as explicit zero rows via the
    * ids-frame left join, so the metric is total over the input.
    */
  def rougeN(
      df: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val joined = clippedGramCounts(df, idCol, candCol, refCol, n)
    val p = col("n_match").cast("double") / col("n_cand").cast("double")
    val r = col("n_match").cast("double") / col("n_ref").cast("double")
    joined.select(
      col("_id").as(idCol), col("n_match"), col("n_cand"), col("n_ref"),
      d6(when(col("n_match") === 0L, lit(0.0)).otherwise(p)).as("rouge_p"),
      d6(when(col("n_match") === 0L, lit(0.0)).otherwise(r)).as("rouge_r"),
      d6(when(col("n_match") === 0L, lit(0.0))
        .otherwise(lit(2.0) * p * r / (p + r))).as("rouge_f1"))
  }

  /** Shared n-gram counting core for [[rougeN]]/[[bleuN]]: per pair,
    * the clipped multiset match Σ_g min(c_cand(g), c_ref(g)) and both
    * sides' total gram counts, TOTAL over the input (pairs with no
    * qualifying grams come back as explicit zero rows via the
    * ids-frame left join). Grams build in-row (no window, no
    * self-join); one (pair, gram) hash-aggregate then one (pair)
    * rollup — two keyed exchanges, both map-side combined, carrying
    * gram counts, never text.
    */
  private def clippedGramCounts(
      df: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      n: Int): DataFrame = {
    def grams(c: org.apache.spark.sql.Column) = {
      val toks = split(c, " ")
      if (n == 1) toks
      else {
        val m = size(toks) - (n - 1)
        when(m > 0, transform(sequence(lit(0), m - 1),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
      }
    }
    val g = df.select(col(idCol).as("_id"),
      grams(col(candCol)).as("_cg"), grams(col(refCol)).as("_rg"))
    val ex = g.select(col("_id"), lit(1L).as("_c"),
        explode(col("_cg")).as("_gram"))
      .unionByName(g.select(col("_id"), lit(0L).as("_c"),
        explode(col("_rg")).as("_gram")))
    val agg = ex.groupBy(col("_id"), col("_gram"))
      .agg(sum(col("_c")).as("_cc"), sum(lit(1L) - col("_c")).as("_cr"))
      .groupBy(col("_id"))
      .agg(sum(least(col("_cc"), col("_cr"))).as("n_match"),
        sum(col("_cc")).as("n_cand"), sum(col("_cr")).as("n_ref"))
    df.select(col(idCol).as("_id"))
      .join(agg, Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"))
  }

  /** BLEU-N (Papineni et al. 2002) between candidate and reference —
    * the MT/generation metric next to [[rougeN]]: geometric mean of
    * the 1..maxN clipped modified precisions × the brevity penalty,
    *
    *   BLEU = BP · exp(Σ_n ln p_n / maxN),
    *   BP = 1 if c ≥ r else exp(1 − r/c)
    *
    * UNSMOOTHED corpus-standard form (documented): any p_n = 0 —
    * including a candidate shorter than n tokens — zeroes the score,
    * exactly as the reference implementation behaves on short
    * segments; smoothing variants change the metric's identity.
    *
    * Float discipline: each ln p_n d6-truncates at its contract point
    * and the sum across n accumulates as DECIMAL (the q256 PSI
    * discipline); the final single exp is d6-truncated at the output
    * contract, so cross-engine libm drift is absorbed per-term, never
    * accumulated. Token counts (whitespace grams, [[rougeN]]'s
    * convention incl. its empty-string edge) stay exact longs.
    *
    * Scale shape: maxN unioned passes of the shared gram core — each
    * two map-side-combined keyed exchanges carrying counts, never
    * text; the final per-pair combine is one more keyed aggregate.
    *
    * Output per pair: (idCol, cand_len, ref_len, p_1..p_maxN, bp,
    * bleu).
    */
  def bleuN(
      df: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN in [1, 8], got $maxN")
    val perN = (1 to maxN).map { n =>
      clippedGramCounts(df, idCol, candCol, refCol, n)
        .select(col("_id"), lit(n).as("_n"), col("n_match"),
          col("n_cand"))
    }.reduce(_ unionByName _)
    val pN = col("n_match").cast("double") / col("n_cand").cast("double")
    val aggCols =
      sum(when(col("_n") === 1, col("n_cand")).otherwise(0L))
        .as("cand_len") +:
      min(when(col("n_match") >= 1L, 1L).otherwise(0L)).as("_allpos") +:
      sum(when(col("n_match") >= 1L, d6(log(pN)).cast("decimal(28,6)"))
        .otherwise(lit(0).cast("decimal(28,6)"))).cast("double")
        .as("_slog") +:
      (1 to maxN).map(n =>
        max(when(col("_n") === n,
          when(col("n_match") === 0L, lit(0.0)).otherwise(d6(pN))))
          .as(s"p_$n"))
    val stats = perN.groupBy(col("_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val refLen = df.select(col(idCol).as("_id"),
      size(split(col(refCol), " ")).cast("long").as("ref_len"))
    val c = col("cand_len").cast("double")
    val r = col("ref_len").cast("double")
    val logBp = when(col("cand_len") >= col("ref_len"), lit(0.0))
      .otherwise(lit(1.0) - r / c)
    val bleu = when(col("_allpos") === 0L, lit(0.0))
      .otherwise(d6(exp(logBp + col("_slog") / maxN)))
    stats.join(refLen, Seq("_id"))
      .select(col("_id").as(idCol) +: col("cand_len") +: col("ref_len") +:
        (1 to maxN).map(n => col(s"p_$n")) :+
        d6(when(col("cand_len") >= col("ref_len"), lit(1.0))
          .otherwise(exp(logBp))).as("bp") :+
        bleu.as("bleu"): _*)
  }

  /** chrF (Popović 2015) between candidate and reference — the
    * CHARACTER n-gram F-score that became the WMT-recommended
    * complement to BLEU (tokenization-free, robust for morphologically
    * rich languages): whitespace is stripped, clipped character
    * n-gram precisions/recalls are computed for n = 1..maxN, and
    *
    *   chrF = mean_n (1+β²)·p_n·r_n / (β²·p_n + r_n)
    *
    * (β = 2 — recall weighted double, the published default). The
    * per-n F convention: an n with zero clipped matches — including a
    * side shorter than n chars — scores F_n = 0 and still counts in
    * the mean (the sacreBLEU epsilon-free behavior at eps = 0),
    * DOCUMENTED so the metric's identity is fixed.
    *
    * Float discipline: counts exact longs; each F_n derives in one
    * fixed order and d6-truncates at its contract point; the mean
    * accumulates the truncated terms as DECIMAL ÷ maxN, d6 at the
    * output (the q256 PSI discipline).
    *
    * Scale shape: maxN unioned char-gram passes, each an in-row gram
    * build + two map-side-combined keyed exchanges carrying counts.
    * Per-doc gram count is O(maxN · chars) — in-row, never joined.
    * The staged whitespace-stripped strings + char arrays feed all
    * maxN passes TWICE each (gram explode + the id left-join frame) —
    * 2·maxN differently-shaped consumers that exchange reuse cannot
    * dedupe, so the staged frame is materialized ONCE
    * ([[Stage.materialize]], the dbscan pair-frame discipline; r19 —
    * before it, the upstream candidate construction re-ran 8× and
    * q269 cost 16.4 s at sf0.1).
    *
    * Output per pair: (idCol, n_chars_cand, n_chars_ref, f_1..f_maxN,
    * chrf).
    */
  def chrF(
      df: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      maxN: Int = 4,
      beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN in [1, 8], got $maxN")
    require(beta > 0, s"beta must be > 0, got $beta")
    // STAGED char arrays: the split must materialize ONCE per row —
    // inlined into the transform lambda it would re-split the whole
    // string at EVERY gram position (O(len²) per doc; the round-12
    // bench read 23s for this entry from exactly that). The lambda
    // body references the array attribute, and the position bound
    // ALSO references it (least(m, size(chars)) — semantically a
    // no-op since size ≥ length ≥ m), so CollapseProject sees two
    // uses of a non-cheap alias and cannot push the split back into
    // the per-element path.
    val staged = Stage.materialize(df.select(col(idCol).as("_id"),
      regexp_replace(col(candCol), " ", "").as("_cs"),
      regexp_replace(col(refCol), " ", "").as("_rs"))
      .select(col("_id"), col("_cs"), col("_rs"),
        split(col("_cs"), "").as("_cch"), split(col("_rs"), "").as("_rch")))
    def charGrams(sAttr: org.apache.spark.sql.Column,
        chAttr: org.apache.spark.sql.Column, n: Int) = {
      val m = least(length(sAttr) - (n - 1), size(chAttr))
      when(m > 0, transform(sequence(lit(1), m),
        i => array_join(slice(chAttr, i, lit(n)), "")))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    }
    val perN = (1 to maxN).map { n =>
      val g = staged.select(col("_id"),
        charGrams(col("_cs"), col("_cch"), n).as("_cg"),
        charGrams(col("_rs"), col("_rch"), n).as("_rg"))
      val ex = g.select(col("_id"), lit(1L).as("_c"),
          explode(col("_cg")).as("_gram"))
        .unionByName(g.select(col("_id"), lit(0L).as("_c"),
          explode(col("_rg")).as("_gram")))
      val agg = ex.groupBy(col("_id"), col("_gram"))
        .agg(sum(col("_c")).as("_cc"), sum(lit(1L) - col("_c")).as("_cr"))
        .groupBy(col("_id"))
        .agg(sum(least(col("_cc"), col("_cr"))).as("_m"),
          sum(col("_cc")).as("_nc"), sum(col("_cr")).as("_nr"))
      staged.select(col("_id"))
        .join(agg, Seq("_id"), "left")
        .select(col("_id"), lit(n).as("_n"),
          coalesce(col("_m"), lit(0L)).as("_m"),
          coalesce(col("_nc"), lit(0L)).as("_nc"),
          coalesce(col("_nr"), lit(0L)).as("_nr"))
    }.reduce(_ unionByName _)
    val b2 = beta * beta
    val p = col("_m").cast("double") / col("_nc").cast("double")
    val r = col("_m").cast("double") / col("_nr").cast("double")
    val fN = when(col("_m") === 0L, lit(0.0))
      .otherwise(d6(lit(1.0 + b2) * p * r / (lit(b2) * p + r)))
    val aggCols =
      sum(when(col("_n") === 1, col("_nc")).otherwise(0L))
        .as("n_chars_cand") +:
      sum(when(col("_n") === 1, col("_nr")).otherwise(0L))
        .as("n_chars_ref") +:
      sum(fN.cast("decimal(28,6)")).cast("double").as("_fsum") +:
      (1 to maxN).map(n =>
        max(when(col("_n") === n, fN)).as(s"f_$n"))
    val stats = perN.groupBy(col("_id"))
      .agg(aggCols.head, aggCols.tail: _*)
    stats.select(col("_id").as(idCol) +: col("n_chars_cand") +:
      col("n_chars_ref") +: (1 to maxN).map(n => col(s"f_$n")) :+
      d6(col("_fsum") / maxN).as("chrf"): _*)
  }

  /** SQuAD-style answer scoring (Rajpurkar et al. 2016's official
    * metric): EXACT MATCH and token-multiset F1 between a prediction
    * and its gold answer, after the published normalization — lowercase,
    * punctuation → space, article tokens (a / an / the) dropped,
    * whitespace collapsed. The QA-eval workhorse, run as a corpus-sized
    * projection:
    *
    *   m = Σ_tok min(c_pred, c_gold);  P = m/|pred|;  R = m/|gold|
    *   F1 = 2PR/(P+R)   (0 when m = 0; 1.0 when BOTH normalize empty)
    *
    * Counts are exact integers from one (id, token)-keyed aggregate per
    * side joined full-outer on (id, token) — the multiset min never
    * materializes a cross product; F1 is two integer divisions and one
    * fixed-order ratio, d6 at the contract. The normalization regex is
    * RE2-safe (no lookaround), identical across engines.
    *
    * Output per row: (idCol, n_pred, n_gold, n_common, exact_match,
    * f1).
    */
  def evalTokenF1(
      df: DataFrame,
      idCol: String,
      predCol: String,
      goldCol: String): DataFrame = {
    def norm(c: org.apache.spark.sql.Column) =
      filter(split(trim(regexp_replace(
          lower(c), "[^a-z0-9]", " ")), " +"),
        t => length(t) > 0 && t =!= "a" && t =!= "an" && t =!= "the")
    val toks = df.select(col(idCol).as("_id"),
      norm(col(predCol)).as("_p"), norm(col(goldCol)).as("_g"))
    val pc = toks.select(col("_id"), explode(col("_p")).as("_t"))
      .groupBy(col("_id"), col("_t")).agg(count(lit(1)).as("_cp"))
    val gc = toks.select(col("_id"), explode(col("_g")).as("_t"))
      .groupBy(col("_id"), col("_t")).agg(count(lit(1)).as("_cg"))
    val m = pc.join(gc, Seq("_id", "_t"), "full_outer")
      .groupBy(col("_id"))
      .agg(sum(least(coalesce(col("_cp"), lit(0L)),
        coalesce(col("_cg"), lit(0L)))).as("_m"))
    val base = toks.select(col("_id"),
      size(col("_p")).cast("long").as("n_pred"),
      size(col("_g")).cast("long").as("n_gold"),
      (concat_ws(" ", col("_p")) === concat_ws(" ", col("_g")))
        .cast("int").as("exact_match"))
    val p = col("_m").cast("double") / col("n_pred").cast("double")
    val r = col("_m").cast("double") / col("n_gold").cast("double")
    base.join(m, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("n_pred"), col("n_gold"),
        coalesce(col("_m"), lit(0L)).as("n_common"), col("exact_match"),
        when(col("n_pred") === 0L && col("n_gold") === 0L, lit(1.0))
          .when(coalesce(col("_m"), lit(0L)) === 0L, lit(0.0))
          .otherwise(d6(lit(2.0) * p * r / (p + r))).as("f1"))
  }

  /** Rank-biased overlap at depth k (Webber, Moffat & Zobel 2010,
    * truncated form) — "how similar are these two rankings, weighted
    * toward the top?": the ranker-comparison number a retrieval stack
    * reads before fusing runs (e.g. is the LM ranking adding signal
    * over BM25, or re-ranking noise?).
    *
    *   RBO@k = (1 − p) · Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d
    *
    * p is FIXED at 1/2 by design: the p^{d−1} weights are exact binary
    * doubles (the [[graft.pipeline.Stats.ewmaControlChart]] discipline
    * — no pow() portability surface), each term d6-rounds before the
    * order-free decimal sum. A doc in both runs enters the overlap at
    * depth max(rank_a, rank_b); the per-depth overlap count is a
    * cumulative over the K-ROW depth table — the only frames after the
    * doc-keyed join are k-bounded, so the statistic costs one equi-join
    * at any corpus scale.
    *
    * Inputs: two (docCol, rankCol) frames with ranks 1..k, rank-unique
    * (the contract a top-k producer already meets). Output ONE row:
    * (k, n_common, rbo).
    */
  /** Classic rank-distance panel between two PERMUTATIONS of the same
    * item set: Spearman footrule F = Σ|r_A − r_B| and the Kendall tau
    * distance (count of pairwise order disagreements), each with its
    * normalized form — the exact full-list companions of
    * [[rankBiasedOverlap]]'s top-weighted overlap (RBO asks "do the
    * heads agree", these ask "how far apart are the whole orders").
    *
    * Determinism: both rank columns are audited in-plan as exact
    * permutations of 1..n (loud otherwise); the footrule and its
    * ⌊n²/2⌋ normalizer are exact integers → ONE d6; the Kendall
    * distance counts sign-discordant pairs through the i<j pair join
    * — a bounded-occupancy pair generator (class 3b), so `maxItems`
    * raises loudly (riding the joined rank column) before any pair
    * forms; the C(n,2) normalizer is exact → ONE d6. n = 1 answers
    * zero distances with NULL normalized forms (no pairs to
    * disagree).
    *
    * Scale shape: one distributed audit aggregate (1-row broadcast;
    * the refusal fires map-side) + one guarded n²/2 pair join on
    * the RANKING frame (report-sized by contract — never a corpus).
    * Output ONE row: (n, footrule, footrule_norm, kendall_distance,
    * kendall_norm).
    */
  def rankDistance(
      df: DataFrame,
      itemCol: String,
      rankACol: String,
      rankBCol: String,
      maxItems: Int = 1000): DataFrame = {
    require(maxItems >= 2, s"maxItems must be >= 2, got $maxItems")
    // fast refusal (the hoeffdingsD r17 treatment, VERDICT r17 #4):
    // the permutation audit aggregates DISTRIBUTED (count/distinct/
    // min/max in one map-side-combined pass, 1-row broadcast) and the
    // raise rides the consumed rank columns, so a corpus-sized frame
    // refuses at the map side — the old form audited through four
    // single-partition windows ON THE REFUSAL PATH
    val raw = df.select(col(itemCol).as("_i"),
      col(rankACol).cast("long").as("_ra0"),
      col(rankBCol).cast("long").as("_rb0"))
    val stats = raw.agg(count(lit(1)).as("_n"),
      countDistinct(col("_ra0")).as("_da"), min(col("_ra0")).as("_mna"),
      max(col("_ra0")).as("_mxa"),
      countDistinct(col("_rb0")).as("_db"), min(col("_rb0")).as("_mnb"),
      max(col("_rb0")).as("_mxb"))
    def audit(cn: String, c: org.apache.spark.sql.Column,
        dist: org.apache.spark.sql.Column,
        mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column) = {
      val n = col("_n")
      when(dist === n && mn === 1L && mx === n && n <= maxItems, c)
        .otherwise(raise_error(concat(
          lit(s"rankDistance: $cn must be a permutation of 1..n with "),
          lit(s"n <= maxItems=$maxItems (the pair stage is n²/2); got "),
          lit("n="), n.cast("string"), lit(" distinct="),
          dist.cast("string"), lit(" min="), mn.cast("string"),
          lit(" max="), mx.cast("string"))).cast("long"))
    }
    val base = raw.crossJoin(broadcast(stats))
      .select(col("_i"),
        audit(rankACol, col("_ra0"), col("_da"), col("_mna"),
          col("_mxa")).as("_ra"),
        audit(rankBCol, col("_rb0"), col("_db"), col("_mnb"),
          col("_mxb")).as("_rb"))
    val pairs = base.select(col("_ra").as("_ra1"), col("_rb").as("_rb1"))
      .crossJoin(base.select(col("_ra").as("_ra2"), col("_rb").as("_rb2")))
      .filter(col("_ra1") < col("_ra2"))
      .agg(sum(((col("_rb1") > col("_rb2")).cast("long"))).as("_kd"),
        count(lit(1)).as("_np"))
    val foot = base.agg(count(lit(1)).as("n"),
      sum(abs(col("_ra") - col("_rb"))).as("footrule"))
    foot.crossJoin(broadcast(pairs))
      .select(col("n"), col("footrule"),
        when(col("n") > 1L, d6(col("footrule").cast("double") /
          expr("((n * n) div 2L)").cast("double"))).as("footrule_norm"),
        coalesce(col("_kd"), lit(0L)).as("kendall_distance"),
        when(col("n") > 1L, d6(col("_kd").cast("double") /
          col("_np").cast("double"))).as("kendall_norm"))
  }

  def rankBiasedOverlap(
      runA: DataFrame,
      runB: DataFrame,
      docCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 62, s"k must be in [1,62], got $k")
    val a = runA.select(col(docCol).as("_doc"), col(rankCol).as("_ra"))
      .filter(col("_ra") <= k)
    val b = runB.select(col(docCol).as("_doc"), col(rankCol).as("_rb"))
      .filter(col("_rb") <= k)
    val entry = a.join(b, Seq("_doc"))
      .select(greatest(col("_ra"), col("_rb")).as("_d0"))
      .groupBy(col("_d0")).agg(count(lit(1)).as("_m"))
    val depths = runA.sparkSession.range(1, k + 1).select(col("id").as("_d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("_d").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val terms = depths.join(entry, col("_d") === col("_d0"), "left")
      .withColumn("_x", sum(coalesce(col("_m"), lit(0L))).over(w))
      .select(col("_d"), col("_x"),
        // p^{d−1} as 1/2^{d−1} via an integer shift — exact binary
        // doubles with no pow() in the plan at all
        ((lit(1.0) / expr("shiftleft(1L, CAST(_d - 1 AS INT))")
            .cast("double")) *
          (col("_x").cast("double") / col("_d").cast("double")))
          .cast("decimal(28,6)").as("_t6"))
    terms.agg(
      lit(k.toLong).as("k"),
      coalesce(max(col("_x")), lit(0L)).as("n_common"),
      d6(lit(0.5) * sum(col("_t6")).cast("double")).as("rbo"))
  }

  /** Word error rate — TOKEN-level Levenshtein distance over reference
    * vs hypothesis, the ASR/translation eval staple (and the
    * transcription-quality gate of a speech-data curation pipeline):
    * WER = (substitutions + insertions + deletions) / |ref tokens|.
    *
    * The token DP rides the ENGINE'S codegen'd Levenshtein via an
    * alphabet bijection: the pair's merged distinct-token vocab
    * (sorted — engine-identical) maps each token to one character of
    * the 94-char printable-ASCII alphabet, making character edits ≡
    * token edits exactly. ASCII is load-bearing, not a convenience:
    * DuckDB's levenshtein counts BYTES, Spark's counts code points —
    * single-byte characters are the (only) regime where the two agree.
    * No UDF, no in-row DP expression — the O(n·m) kernel is the
    * built-in expression both engines already optimize. Pairs with
    * > 94 distinct tokens fail loudly (`alphabet exhausted`) — the
    * operator contract is utterance/sentence-level eval pairs.
    *
    * Output per row: (idCol, n_ref, n_hyp, distance, wer), wer = d6 of
    * one division; empty references fail loudly (WER undefined).
    * Scale shape: pure in-row projection — zero shuffles at any size.
    */
  def wordErrorRate(
      df: DataFrame,
      idCol: String,
      refCol: String,
      hypCol: String): DataFrame = {
    val alphabet = (0x21 to 0x7E).map(_.toChar).mkString // 94 chars
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(c, " "), t => t =!= "")
    val base = df.select(col(idCol), toks(col(refCol)).as("_r"),
      toks(col(hypCol)).as("_h"))
    val withVocab = base.withColumn("_v",
      array_sort(array_distinct(concat(col("_r"), col("_h")))))
    val guarded = withVocab.withColumn("_v",
      when(size(col("_v")) <= 94 && size(col("_r")) >= 1, col("_v"))
        .otherwise(raise_error(concat(
          lit("wordErrorRate: empty reference or alphabet exhausted "),
          lit("(> 94 distinct tokens); id="),
          col(idCol).cast("string")))))
    def mapped(c: org.apache.spark.sql.Column) =
      concat_ws("", transform(c, t =>
        lit(alphabet).substr(array_position(col("_v"), t).cast("int"),
          lit(1))))
    val dist = levenshtein(mapped(col("_r")), mapped(col("_h")))
    guarded.select(col(idCol),
      size(col("_r")).cast("long").as("n_ref"),
      size(col("_h")).cast("long").as("n_hyp"),
      dist.cast("long").as("distance"),
      d6(dist.cast("double") / size(col("_r")).cast("double")).as("wer"))
  }

  /** Rank-biased overlap between two rankings of the same item set
    * (Webber, Moffat & Zobel 2010) — the top-weighted ranking
    * similarity Kendall/Spearman are NOT: RBO discounts depth d by
    * p^{d−1}, so two rankers that agree on the head and scramble the
    * tail score high, which is how retrieval/feed comparisons should
    * read. Truncated form:
    * RBO@D = (1−p)·Σ_{d≤D} p^{d−1}·|A_d ∩ B_d|/d (the (1−p)
    * prefix-sum normalization; the residual tail mass past D is
    * p^D-bounded and documented, not hidden).
    *
    * Input: one row per item with its 1-based rank in each list
    * (ties already broken upstream — the rank COLUMNS are the
    * contract). Determinism: each |A_d ∩ B_d| is ONE conditional
    * count (rank_a ≤ d ∧ rank_b ≤ d) inside a single aggregate —
    * depth is a code literal, no per-depth scan; the p^{d−1}/d
    * weights are Scala-computed double literals INLINED identically
    * in the oracle SQL, each term one d6 before the decimal sum,
    * the close one more d6. Output ONE row: (depth, p,
    * overlap_at_depth, agreement_at_depth, rbo).
    */
  def rankBiasedOverlap(
      df: DataFrame,
      rankACol: String,
      rankBCol: String,
      p: Double = 0.9,
      depth: Int = 20): DataFrame = {
    require(p > 0 && p < 1, s"p in (0,1), got $p")
    require(depth >= 1 && depth <= 1000, s"depth in [1,1000], got $depth")
    val ra = col(rankACol).cast("long")
    val rb = col(rankBCol).cast("long")
    val base = df.select(ra.as("_ra"), rb.as("_rb"))
    val xCols = (1 to depth).map { d =>
      sum((col("_ra") <= d && col("_rb") <= d).cast("long")).as(s"_x$d")
    }
    val agg = base.agg(xCols.head, xCols.tail: _*)
    val terms = (1 to depth).map { d =>
      val w = math.pow(p, d - 1) / d
      d28(d6(lit(w) * col(s"_x$d").cast("double")))
    }
    val sum28 = terms.reduce[org.apache.spark.sql.Column](_ + _)
    agg.select(lit(depth).as("depth"), lit(p).as("p"),
      col(s"_x$depth").as("overlap_at_depth"),
      d6(col(s"_x$depth").cast("double") / lit(depth.toDouble))
        .as("agreement_at_depth"),
      d6(lit(1.0 - p) * sum28.cast("double")).as("rbo"))
  }

  /** [[rankBiasedOverlap]]'s weight literals as SQL text — the oracle
    * embeds the SAME Scala-computed constants so both engines share
    * every double bit. */
  def rboWeightSql(p: Double, d: Int): String =
    (math.pow(p, d - 1) / d).toString
}

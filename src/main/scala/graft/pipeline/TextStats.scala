package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.{dec, d28, d6}

/** Text-analysis operators for training-data curation: token statistics,
  * quality scoring, lexicon-based language id, and rolling-hash document
  * fingerprints. All built-in Catalyst expressions over one token explode —
  * every aggregate shuffles on the document id (or the (lang, source)
  * rollup key), so the plans are a single exchange each at any scale.
  *
  * Division discipline: every ratio is integer-count / integer-count
  * computed once at the end (one double division is bit-deterministic;
  * summing doubles is not) — the same rule as the decimal discipline in
  * [[graft.queries.Relational]].
  */
object TextStats {

  /** One row per token occurrence: (idCol…, tok). Single-space split —
    * the corpus contract; swap the delimiter regex per corpus.
    */
  def tokens(df: DataFrame, textCol: String, keep: String*): DataFrame =
    df.select(keep.map(col) :+ explode(split(col(textCol), " ")).as("tok"): _*)

  /** Per-document top-k TF-IDF terms: term frequency in the document,
    * document frequency across the corpus, `tf_idf = tf · ln(N/df)`, and
    * the per-document rank. Keyword extraction / salient-term indexing
    * for a corpus — the inverse of the stopword problem langId solves.
    *
    * Plan shape at scale: one explode, a (doc, term) count, a term-keyed
    * df aggregate joined back on term (both map-side-combinable), N as a
    * broadcast scalar (never collected to the driver), and ONE window per
    * document for the top-k — three exchanges total, none wider than the
    * token stream itself.
    *
    * Ranking is integer-deterministic: (tf desc, df asc, term asc) is a
    * total order per document (terms are distinct), so top-k membership
    * never depends on float comparison — `tf_idf` is data, not the sort
    * key. (ln() is libm-dependent in the last ulp; an engine-portable
    * rank must not hinge on it.)
    */
  def topTermsTfIdf(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    require(k > 0, "k must be positive")
    val toks = tokens(df, textCol, idCol).filter(col("tok") =!= "")
    val tf = toks.groupBy(col(idCol), col("tok").as("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("tf_idf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rank"),
        col("tf_idf"))
  }

  /** Per-document unigram language-model score: the corpus itself is the
    * model (p(tok) = corpus count / corpus total), and each document
    * scores avg_logprob = (Σ_tokens ln p(tok)) / n_tokens — per-token
    * log-likelihood, the classic cheap perplexity proxy (exp(−avg) is
    * the document's unigram perplexity). Documents full of corpus-rare
    * tokens (mojibake, code in a prose corpus, other-language text)
    * score far below the mode; a filter on avg_logprob is the standard
    * "looks like the corpus" cut when no external LM is available.
    *
    * Every token exists in the corpus by construction (the model IS the
    * corpus), so no smoothing term is needed. Scoring a FOREIGN corpus
    * against this model needs OOV handling — join the counts frame with
    * a default probability instead.
    *
    * Plan shape at scale: one explode, one token-keyed count (vocab-
    * sized result — broadcast-joined back when small, shuffle otherwise;
    * Zipf skew on the join key is bounded because the hot tokens are
    * exactly the ones whose count rows broadcast), corpus total as a
    * 1-row crossJoin, one doc-keyed sum. ln() differs by ≤1 ulp across
    * engines — round through DECIMAL for cross-engine compares (q60's
    * tf·ln(N/df) discipline).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(df, textCol, idCol).filter(col("tok") =!= "")
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("_g_cnt"))
    val total = counts.agg(sum(col("_g_cnt")).as("_g_total"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(log(col("_g_cnt").cast("double") / col("_g_total"))) /
          count(lit(1))).as("avg_logprob"))
  }

  /** Bigram language-model quality score with add-k smoothing — the
    * sharper sibling of [[unigramLogProb]]: the corpus is its own bigram
    * model, each document scored by its average per-bigram
    * log-likelihood
    *
    *   P(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V)
    *
    * with c(w₁·) the context count (Σ over successors) and V the corpus
    * vocabulary size, so unseen-in-corpus transitions score ln(k/(c+kV))
    * instead of −∞. Word-salad text that passes the unigram filter
    * (right words, wrong order) scores far below prose here; exp(−avg)
    * is the bigram perplexity.
    *
    * Scale shape: bigrams form in-doc via one doc-keyed window (lead
    * over position); corpus bigram/context counts partial-aggregate
    * before their exchanges; V rides a 1-row broadcast crossJoin. The
    * count joins are keyed on (w₁,w₂)/w₁ — Zipf-skewed but bounded by
    * AQE + map-side combine, the q116 posture. Documents with fewer
    * than two tokens have no bigrams and are absent from the output by
    * contract.
    */
  /** Composed C4-style quality gate — the keep/drop verdict that feeds
    * the corpus mixer, built from in-row signals only: token count,
    * average token length, symbol share, digit share. `reason` names the
    * FIRST failing rule in a fixed order (too_short → token_len →
    * symbol → numeric → kept), so the verdict is deterministic when
    * several rules fire. Every share is one integer-count division
    * (exact cross-engine); threshold comparisons happen on those exact
    * values, never on rounded output. A pure projection: zero shuffles
    * at any scale — the filter runs AT the scan, before any exchange.
    */
  def qualityFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Long = 40L,
      minAvgTokLen: Double = 2.0,
      maxAvgTokLen: Double = 12.0,
      maxSymbolShare: Double = 0.1,
      maxDigitShare: Double = 0.15): DataFrame = {
    val t = col(textCol)
    val toks = filter(split(t, " "), x => x =!= "")
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, x => length(x)), lit(0),
      (a, x) => a + x)
    val avgTokLen = when(nTok === 0, lit(0.0))
      .otherwise(sumLen.cast("double") / nTok)
    val nChars = length(t).cast("long")
    val nSym = length(regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("long")
    val nDig = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val symbolShare = when(nChars === 0, lit(0.0))
      .otherwise(nSym.cast("double") / nChars)
    val digitShare = when(nChars === 0, lit(0.0))
      .otherwise(nDig.cast("double") / nChars)
    df.select(col(idCol), nTok.as("n_tokens"),
        avgTokLen.as("_g_atl"), symbolShare.as("_g_sym"),
        digitShare.as("_g_dig"))
      .select(col(idCol), col("n_tokens"),
        d6(col("_g_atl")).as("avg_tok_len"),
        d6(col("_g_sym")).as("symbol_share"),
        d6(col("_g_dig")).as("digit_share"),
        when(col("n_tokens") < minTokens, lit("too_short"))
          .when(col("_g_atl") < minAvgTokLen ||
            col("_g_atl") > maxAvgTokLen, lit("token_len"))
          .when(col("_g_sym") > maxSymbolShare, lit("symbol"))
          .when(col("_g_dig") > maxDigitShare, lit("numeric"))
          .otherwise(lit("kept")).as("reason"))
      .withColumn("is_kept", (col("reason") === "kept").cast("int"))
  }

  /** Per-document Unicode-script composition: codepoint counts for the
    * Latin / Cyrillic / Greek / Han scripts and ASCII digits, their
    * shares of the document length, and a dominant-script label. The
    * script signal is the cheap first gate of corpus language routing —
    * it catches what a lexicon language id structurally cannot (a
    * Russian document shares zero tokens with an English stopword list,
    * but its Cyrillic share is ~1.0).
    *
    * Counting is length-after-projection — `length(regexp_replace(t,
    * [^script], ''))` — one pass per script with NO per-char list
    * allocation (regexp_extract_all would build one), a pure in-row
    * projection: zero shuffles at any scale. Patterns use each engine's
    * script-property spelling (`\p{IsLatin}` in Java, `\p{Latin}` in
    * RE2) of the SAME Unicode script property, the portability contract
    * the oracle checks. The dominant label resolves ties by a fixed
    * chain (latin > cyrillic > greek > han) — deterministic cross-engine.
    */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(script: String) =
      length(regexp_replace(t, s"[^\\p{Is$script}]", "")).cast("long")
    val nDigit = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    df.select(col(idCol), length(t).cast("long").as("n_chars"),
        cnt("Latin").as("n_latin"), cnt("Cyrillic").as("n_cyrillic"),
        cnt("Greek").as("n_greek"), cnt("Han").as("n_han"),
        nDigit.as("n_digit"))
      .select(col(idCol), col("n_chars"), col("n_latin"),
        col("n_cyrillic"), col("n_greek"), col("n_han"), col("n_digit"),
        d6(col("n_latin").cast("double") / col("n_chars")).as("latin_share"),
        d6(col("n_cyrillic").cast("double") / col("n_chars"))
          .as("cyrillic_share"),
        when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_greek") &&
            col("n_latin") >= col("n_han"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_greek") &&
            col("n_cyrillic") >= col("n_han"), lit("cyrillic"))
          .when(col("n_greek") >= col("n_han"), lit("greek"))
          .otherwise(lit("han")).as("dominant_script"))
  }

  /** [[scriptMix]] through the codegen'd single-pass
    * [[graft.functions.ScriptCounts]] expression: identical output
    * contract (columns, types, values — the shared oracle is the
    * proof), one text walk instead of five regex automata. Use this
    * form on real corpora; scriptMix stays as the built-ins-only
    * reference formulation.
    */
  def scriptMixFast(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = graft.functions.ScriptCounts.scriptCounts(col(textCol))
    df.select(col(idCol), c.as("_g_sc"))
      .select(col(idCol),
        element_at(col("_g_sc"), 1).as("n_chars"),
        element_at(col("_g_sc"), 2).as("n_latin"),
        element_at(col("_g_sc"), 3).as("n_cyrillic"),
        element_at(col("_g_sc"), 4).as("n_greek"),
        element_at(col("_g_sc"), 5).as("n_han"),
        element_at(col("_g_sc"), 6).as("n_digit"))
      .select(col(idCol), col("n_chars"), col("n_latin"),
        col("n_cyrillic"), col("n_greek"), col("n_han"), col("n_digit"),
        d6(col("n_latin").cast("double") / col("n_chars")).as("latin_share"),
        d6(col("n_cyrillic").cast("double") / col("n_chars"))
          .as("cyrillic_share"),
        when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_greek") &&
            col("n_latin") >= col("n_han"), lit("latin"))
          .when(col("n_cyrillic") >= col("n_greek") &&
            col("n_cyrillic") >= col("n_han"), lit("cyrillic"))
          .when(col("n_greek") >= col("n_han"), lit("greek"))
          .otherwise(lit("han")).as("dominant_script"))
  }

  /** Corpus-level top-k bigram collocations by pointwise mutual
    * information: pmi(x,y) = ln( p(xy) / (p(x)·p(y)) ) with p(xy) over
    * adjacent-pair occurrences and p(·) over token occurrences —
    * the classic collocation extractor (Church & Hanks 1990), and the
    * vocabulary-merging signal a BPE-style tokenizer pipeline reads.
    * `minCount` gates rare pairs (PMI's known pathology: a hapax pair
    * scores the maximum).
    *
    * Plan shape at scale: one explode, one per-document lead() window
    * (keyed by doc — the narrow shuffle), two token-keyed counts with
    * map-side combine, the two 1-row totals ride broadcast crossJoins,
    * and the top-k is a TakeOrdered (no global sort materialized).
    * Ranking is total-ordered: (pmi d6-rounded DESC, pair ASC) — the
    * rank never hinges on a sub-rounding float difference.
    */
  def pmiCollocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")))
      .filter(col("tok") =!= "")
    val nt = toks.agg(count(lit(1)).cast("double").as("_g_nt"))
    val ct = toks.groupBy(col("tok"))
      .agg(count(lit(1)).cast("double").as("_g_c"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_g_pos"))
    val bi = toks
      .withColumn("_g_next", lead(col("tok"), 1).over(w))
      .filter(col("_g_next").isNotNull)
      .select(col("tok").as("tok_a"), col("_g_next").as("tok_b"))
    val nb = bi.agg(count(lit(1)).cast("double").as("_g_nb"))
    val c12 = bi.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val ca = ct.select(col("tok").as("tok_a"), col("_g_c").as("_g_ca"))
    val cb = ct.select(col("tok").as("tok_b"), col("_g_c").as("_g_cb"))
    val pmi = log(
      (col("n_pair").cast("double") / col("_g_nb")) /
        ((col("_g_ca") / col("_g_nt")) * (col("_g_cb") / col("_g_nt"))))
    c12.join(ca, "tok_a").join(cb, "tok_b")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
      .select(col("tok_a"), col("tok_b"), col("n_pair"),
        pmi.cast("decimal(28,6)").cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  def bigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    val toks = df
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("_g_pos"))
    val bi = toks
      .withColumn("_g_next", lead(col("tok"), 1).over(w))
      .filter(col("_g_next").isNotNull)
      .select(col(idCol), col("tok"), col("_g_next"))
    val c12 = bi.groupBy(col("tok"), col("_g_next"))
      .agg(count(lit(1)).as("_g_c12"))
    val c1 = bi.groupBy(col("tok")).agg(count(lit(1)).as("_g_c1"))
    val vocab = toks.agg(countDistinct(col("tok")).cast("double").as("_g_v"))
    val p =
      (col("_g_c12").cast("double") + lit(addK)) /
        (col("_g_c1").cast("double") + lit(addK) * col("_g_v"))
    bi.join(c12, Seq("tok", "_g_next"))
      .join(c1, Seq("tok"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(log(p)) / count(lit(1))).as("avg_logprob"))
  }

  /** HELD-OUT bigram scoring — CCNet's "score the crawl against a clean
    * LM" step: the smoothed bigram model is estimated on `model` (the
    * trusted corpus) and applied to `df`'s documents, so fluency is
    * judged against curated text rather than the crawl's own
    * distribution ([[bigramLogProb]] scores a corpus against itself).
    * Unseen bigrams and unseen contexts fall back to the add-k floor
    * k/(c1 + k·V) — exactly the backoff a divergent document should pay.
    *
    * Same arithmetic discipline as [[bigramLogProb]]: counts exact,
    * one log per bigram, the caller d6-rounds the per-doc mean. Scale
    * shape: model counts are vocab²-bounded aggregates; the scored
    * corpus's bigrams meet them in (tok, next)-keyed equi-joins (left,
    * so the corpus side never drops rows); V rides a 1-row broadcast.
    */
  def bigramLogProbAgainst(
      model: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"addK must be positive, got $addK")
    def bigrams(d: DataFrame, keep: Seq[String]): DataFrame = {
      val toks = d
        .select(keep.map(col) :+
          posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")): _*)
        .filter(col("tok") =!= "")
      val w = Window.partitionBy(keep.map(col): _*).orderBy(col("_g_pos"))
      toks
        .withColumn("_g_next", lead(col("tok"), 1).over(w))
        .filter(col("_g_next").isNotNull)
        .select(keep.map(col) :+ col("tok") :+ col("_g_next"): _*)
    }
    val mb = bigrams(model.select(
      monotonically_increasing_id().as("_g_mid"), col(textCol)), Seq("_g_mid"))
    val c12 = mb.groupBy(col("tok"), col("_g_next"))
      .agg(count(lit(1)).as("_g_c12"))
    val c1 = mb.groupBy(col("tok")).agg(count(lit(1)).as("_g_c1"))
    val vocab = model
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok")).cast("double").as("_g_v"))
    val p =
      (coalesce(col("_g_c12"), lit(0L)).cast("double") + lit(addK)) /
        (coalesce(col("_g_c1"), lit(0L)).cast("double") + lit(addK) * col("_g_v"))
    bigrams(df, Seq(idCol))
      .join(c12, Seq("tok", "_g_next"), "left")
      .join(c1, Seq("tok"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(log(p)) / count(lit(1))).as("avg_logprob"))
  }

  /** Kneser-Ney-smoothed bigram log-probability of `df`'s documents
    * under a model corpus — the stronger LM judge beside the add-k
    * backoff of [[bigramLogProbAgainst]] (absolute discounting with
    * CONTINUATION probabilities is what actually ranks fluency well;
    * it is the smoothing KenLM popularized for corpus filtering):
    *
    *   P(w|v) = (max(c(vw) − d, 0) + d·N1+(v·)·Pcont(w)) / c(v)
    *   Pcont(w) = (N1+(·w) + 1) / (T + V)
    *
    * with discount d = 0.75, T = distinct bigram types, V = distinct
    * unigrams; the +1 / +V pair folds one OOV type into the
    * continuation distribution so an unseen word scores 1/(T+V)
    * instead of −∞. A bigram whose CONTEXT v is unseen backs off to
    * Pcont(w) directly (no context statistics exist to discount).
    * Bigrams are within-document (the q203 windows — no cross-doc
    * seams).
    *
    * Determinism: every count is exact; the probability expression is
    * written in ONE fixed operator order mirrored by the oracle, and
    * only the per-document average log-prob is float — d6-rounded, the
    * q203 contract. Scale shape (q203's): model frames are vocab- /
    * vocab²-bounded and meet the eval bigrams in (v,w)/(v)/(w)
    * equi-joins; T,V ride a 1-row broadcast; the only corpus-sized
    * exchange is the per-doc aggregate.
    */
  def knLogProbAgainst(
      model: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def bigrams(d: DataFrame, keep: Seq[String]): DataFrame = {
      val toks = d
        .select(keep.map(col) :+
          posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")): _*)
        .filter(col("tok") =!= "")
      val w = Window.partitionBy(keep.map(col): _*).orderBy(col("_g_pos"))
      toks
        .withColumn("_g_next", lead(col("tok"), 1).over(w))
        .filter(col("_g_next").isNotNull)
        .select(keep.map(col) :+ col("tok") :+ col("_g_next"): _*)
    }
    val mb = bigrams(model.select(
      monotonically_increasing_id().as("_g_mid"), col(textCol)), Seq("_g_mid"))
    val c12 = mb.groupBy(col("tok"), col("_g_next"))
      .agg(count(lit(1)).as("_g_c12"))
    // context stats from the bigram-type table: c(v), N1+(v·)
    val ctx = c12.groupBy(col("tok"))
      .agg(sum(col("_g_c12")).as("_g_c1"),
        count(lit(1)).as("_g_n1post"))
    val pre = c12.groupBy(col("_g_next"))
      .agg(count(lit(1)).as("_g_n1pre"))
    val tv = c12.agg(count(lit(1)).cast("double").as("_g_t"))
      .crossJoin(model
        .select(explode(split(col(textCol), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .agg(countDistinct(col("tok")).cast("double").as("_g_v")))
    val pcont = (coalesce(col("_g_n1pre"), lit(0L)).cast("double") + lit(1.0)) /
      (col("_g_t") + col("_g_v"))
    val p = when(col("_g_c1").isNull, pcont)
      .otherwise(
        (greatest(coalesce(col("_g_c12"), lit(0L)).cast("double") - lit(0.75),
          lit(0.0)) +
          lit(0.75) * col("_g_n1post").cast("double") * pcont) /
          col("_g_c1").cast("double"))
    bigrams(df, Seq(idCol))
      .join(c12, Seq("tok", "_g_next"), "left")
      .join(ctx, Seq("tok"), "left")
      .join(pre, Seq("_g_next"), "left")
      .crossJoin(broadcast(tv))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(log(p)) / count(lit(1))).cast("decimal(28,6)").cast("double")
          .as("avg_logprob_kn"))
  }

  /** Regex sentence segmentation — the sentence-per-row explode feeding
    * sentence-level dedup, alignment, or length profiling. The splitter
    * consumes runs of `.!?` followed by spaces (an RE2-portable
    * pattern: no lookbehind, so the oracle splits identically);
    * trailing end punctuation on the final sentence is trimmed the
    * same way. Output one row per non-empty sentence: (`idCol`,
    * sent_idx (0-based), sentence, n_chars, n_tokens). Pure in-row
    * posexplode — zero shuffles.
    */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val parts = split(col(textCol), "[.!?]+ +")
    df.select(col(idCol),
        posexplode(parts).as(Seq("sent_idx", "_g_raw")))
      .select(col(idCol), col("sent_idx"),
        regexp_replace(col("_g_raw"), "[.!?]+$", "").as("sentence"))
      .filter(col("sentence") =!= "")
      .withColumn("n_chars", length(col("sentence")).cast("long"))
      .withColumn("n_tokens",
        size(filter(split(col("sentence"), " "), t => t =!= "")).cast("long"))
  }

  /** Per-document token statistics: token count, distinct count, average
    * token length, type-token ratio. Computed IN-ROW over the token array
    * — a pure projection, no shuffle at any scale (the groupBy
    * formulation reshuffles every token by document id). Integer counts +
    * one final double division keep it bit-identical to the SQL oracle.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String, keep: String*): DataFrame = {
    val toks = col("_toks")
    val lenSum = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
    df.select((idCol +: keep).map(col) :+ split(col(textCol), " ").as("_toks"): _*)
      .select(
        (idCol +: keep).map(col) ++ Seq(
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          (lenSum.cast("double") / size(toks)).as("avg_tok_len"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr")): _*)
  }

  /** BPE-ish pre-tokenization pattern: word runs, digit runs, punctuation
    * runs — the class structure GPT-style pre-tokenizers split on before
    * merges (plain alternation, portable across Java and RE2 regex
    * engines).
    */
  val bpePattern: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"

  /** Per-document token statistics under a REGEX tokenizer (default
    * [[bpePattern]]) instead of the whitespace split: total/distinct
    * counts plus per-class (word/number/punctuation) counts. Like
    * [[tokenStats]] everything is computed IN-ROW over the extracted
    * token array — regexp_extract_all then array filters, a pure
    * codegen'd projection with zero shuffles at any scale.
    */
  def regexTokenStats(
      df: DataFrame, idCol: String, textCol: String,
      pattern: String = bpePattern): DataFrame = {
    val toks = col("_toks")
    def classCount(re: String) =
      size(filter(toks, t => t.rlike(re))).cast("long")
    df.select(col(idCol),
      regexp_extract_all(col(textCol), lit(pattern), lit(0)).as("_toks"))
      .select(
        col(idCol),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        classCount("^[A-Za-z]+$").as("n_word"),
        classCount("^[0-9]+$").as("n_num"),
        classCount("^[^A-Za-z0-9 ]+$").as("n_punct"))
  }

  /** Stopword list for quality scoring — function words whose density
    * separates prose from keyword soup (the classic C4/Gopher-style
    * heuristic, public domain knowledge).
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in")

  /** Corpus quality profile per group (e.g. lang × source): document
    * count, token volume, stopword density, and how many documents pass a
    * simple quality gate (length in [minChars,maxChars] and stopword ratio
    * ≥ 1/20). Ratios aggregate as integer numerator/denominator sums.
    */
  def qualityProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      charsCol: String,
      groupCols: Seq[String],
      minChars: Int = 200,
      maxChars: Int = 450): DataFrame = {
    // per-doc counts in-row (no doc-id shuffle); the only exchange left
    // is the final group rollup
    val toks = col("_toks")
    val stopArr = typedlit(stopwords)
    val perDoc = df
      .select((idCol +: charsCol +: groupCols).distinct.map(col) :+
        split(col(textCol), " ").as("_toks"): _*)
      .select((idCol +: charsCol +: groupCols).distinct.map(col) ++ Seq(
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stop")): _*)
    perDoc.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_stop")).cast("double") / sum(col("n_tokens"))).as("stopword_ratio"),
        sum(when(
          col(charsCol) >= minChars && col(charsCol) <= maxChars &&
            col("n_stop") * 20 >= col("n_tokens"), 1).otherwise(0)).as("n_quality"))
  }

  /** Gopher-style repetition and symbol signals per document — the
    * quality-filter features that catch degenerate generations and
    * boilerplate (Rae et al. 2021 §A1.1): the most-frequent-token share,
    * the duplicated-bigram share, and the symbol-character share.
    *
    * Everything is computed IN-ROW: the top-token count folds once over
    * the SORTED token array (equal tokens are adjacent, so the longest
    * run is the highest frequency — O(L log L) per document, no
    * explode/shuffle), bigrams are a positional transform, symbol chars
    * a regexp strip. A pure codegen'd projection: zero exchanges at any
    * scale. Ratios are one final double division each (bit-stable);
    * degenerate denominators (empty doc, single token) yield null, the
    * SQL-comparable convention.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("_toks")
    val sorted = array_sort(toks)
    // longest run of equal adjacent tokens in the sorted array == the top
    // token's occurrence count; state threads (prev, run, best)
    val topCount = aggregate(
      sorted,
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, x) => {
        val run2 = when(s.getField("prev") === x, s.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run2.as("run"),
          greatest(s.getField("best"), run2).as("best"))
      },
      s => s.getField("best"))
    val bigramStarts = when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = transform(bigramStarts,
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
    val nSymbol =
      length(col(textCol)) -
        length(regexp_replace(col(textCol), "[^A-Za-z0-9 ]", ""))
    df.select(col(idCol), col(textCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol), col(textCol), col("_toks"), bigrams.as("_bigrams"))
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        topCount.cast("long").as("top_tok_count"),
        size(col("_bigrams")).cast("long").as("n_bigrams"),
        (size(col("_bigrams")) - size(array_distinct(col("_bigrams"))))
          .cast("long").as("n_dup_bigrams"),
        nSymbol.cast("long").as("n_symbol_chars"),
        length(col(textCol)).cast("long").as("n_chars"))
      .withColumn("top_tok_frac",
        when(col("n_tokens") > 0,
          col("top_tok_count").cast("double") / col("n_tokens")))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") > 0,
          col("n_dup_bigrams").cast("double") / col("n_bigrams")))
      .withColumn("symbol_frac",
        when(col("n_chars") > 0,
          col("n_symbol_chars").cast("double") / col("n_chars")))
  }

  /** Lexicon-based language identification: score = token hits per
    * language in `lexicon` (tok → lang), winner by (score desc, lang asc),
    * docs with zero hits → "und". The n-gram-profile approach at its
    * simplest — swap the lexicon for character n-grams per language for a
    * real corpus; the plan (explode → lexicon broadcast join → argmax
    * window) is the same.
    */
  def langId(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lexicon: DataFrame): DataFrame = {
    val tk = tokens(df, textCol, idCol)
    val scores = tk.join(broadcast(lexicon), Seq("tok"))
      .groupBy(col(idCol), col("lex_lang"))
      .agg(count(lit(1)).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("lex_lang").asc)
    val best = scores.select(col(idCol), col("lex_lang"), col("score"),
      row_number().over(w).as("rn")).filter(col("rn") === 1)
    df.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("lex_lang"), lit("und")).as("detected_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Corpus vocabulary: the `topK` most frequent tokens with occurrence
    * and document frequencies — the tokenizer-training / stopword-mining
    * pass. One explode feeds one aggregate keyed by token (map-side
    * partial aggregation collapses each partition's counts before the
    * exchange, so shuffled bytes track DISTINCT tokens per partition,
    * not corpus size); document frequency rides the same aggregate as a
    * count_distinct. Top-k runs as TakeOrdered (per-partition heaps →
    * driver merge of k rows), never a global sort; ties at the boundary
    * break by token, so the cut is deterministic.
    */
  def vocabulary(
      df: DataFrame, idCol: String, textCol: String, topK: Int = 100): DataFrame =
    tokens(df, textCol, idCol)
      .groupBy(col("tok"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("tok").asc)
      .limit(topK)

  /** Winnowing-style document fingerprints: k-token rolling shingles →
    * 64-bit hashes → the minimum hash in each sliding window of `window`
    * shingles (distinct). Two documents sharing any fingerprint share a
    * k-token run — the standard plagiarism/near-dup fingerprint
    * (Schleimer et al., SIGMOD'03). Output: (idCol, fingerprint).
    *
    * Fully in-row: positional shingle hashes as an array, rolling minima
    * via slice + array_min, distinct, explode — a pure projection with no
    * window exchange (the lead()/min()-over-window formulation shuffles
    * every token by document id, twice).
    */
  /** Split documents into fixed-width character chunks with overlap —
    * the context-window preparation step of a training pipeline. Chunk i
    * starts at i·stride (stride = chunkChars − overlapChars) and spans
    * chunkChars characters (the final chunk is shorter when the text
    * runs out); every document yields ≥ 1 chunk, and a document shorter
    * than chunkChars yields exactly itself. Pure in-row explode +
    * substring — zero shuffles, any engine reproduces the arithmetic
    * (the q99 oracle does). Swap character counts for token counts
    * upstream (tokenStats) when chunking by tokens.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkChars: Int,
      overlapChars: Int = 0): DataFrame = {
    require(chunkChars > 0, s"chunkChars must be positive, got $chunkChars")
    require(overlapChars >= 0 && overlapChars < chunkChars,
      s"overlapChars must be in [0, chunkChars), got $overlapChars")
    val stride = chunkChars - overlapChars
    // double division, NOT integer division (which would floor before
    // ceil); lengths are far below 2^53 so the quotient is exact
    val nChunks = greatest(lit(1L),
      ceil((length(col(textCol)) - lit(overlapChars)).cast("double") / stride)
        .cast("long"))
    df.select(
        col(idCol),
        col(textCol),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(
        col(idCol),
        col("chunk_idx"),
        col(textCol)
          .substr(col("chunk_idx") * stride + 1, lit(chunkChars))
          .as("chunk_text"))
  }

  /** Deflate-compression quality signal: bytes-in vs deflated bytes-out
    * per document. Highly repetitive or templated text compresses far
    * below natural prose, and near-random noise barely compresses — the
    * corpus-hygiene ratio the Gopher/MassiveText filters cut on. Runs in
    * the same bounded-batch `mapPartitions` boundary as the media codecs
    * (one java.util.zip.Deflater reused per partition, reset per doc);
    * the OUTPUT LENGTH is implementation-specific by nature, so the
    * driver entry is declared rows-only and the ordering/bounds
    * properties are asserted in ScalaTest instead of a cross-engine
    * hash.
    */
  def compressionSignal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6,
      batchSize: Int = 256): DataFrame = {
    require(level >= 1 && level <= 9, s"deflate level in [1,9], got $level")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level)
        val buf = new Array[Byte](64 * 1024)
        val rows = it.grouped(batchSize).flatMap(_.map { case (id, text) =>
          val raw = Option(text).getOrElse("").getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, raw.length.toLong, out)
        })
        // release native zlib state deterministically when the partition
        // drains — finalization is too late on long-lived executors
        new Iterator[(Long, Long, Long)] {
          private var ended = false
          def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h && !ended) { deflater.end(); ended = true }
            h
          }
          def next(): (Long, Long, Long) = rows.next()
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflated")
      .withColumn("compression_ratio",
        // NULL on empty text: deflate's 8-byte empty-stream header would
        // otherwise read as a nonsense ratio of 8.0
        when(col("n_bytes") === 0L, lit(null))
          .otherwise(col("n_deflated").cast("double") / col("n_bytes")))
  }

  def fingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, window: Int = 4, portable: Boolean = false): DataFrame = {
    val toks = col("_toks")
    val hArr = col("_hashes")
    val starts = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    // positional k-gram hashes (duplicates preserved — winnowing windows
    // are positional). `portable` swaps xxhash64 for the 32-bit md5
    // prefix — bit-identical across engines, so the gram → window-min →
    // distinct chain becomes oracle-checkable (q217; the q211/q213
    // portable-twin pattern)
    def gramHash(g: Column): Column =
      if (portable)
        conv(substring(md5(g.cast("binary")), 1, 8), 16, 10).cast("long")
      else xxhash64(g)
    val gramHashes = transform(
      starts,
      i => gramHash(
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*)))
    val winStarts = when(size(hArr) >= window,
      sequence(lit(1), size(hArr) - (window - 1)))
      .otherwise(when(size(hArr) > 0, sequence(lit(1), lit(1)))
        .otherwise(array().cast("array<int>")))
    val mins = transform(winStarts,
      w => array_min(slice(hArr, w, least(lit(window), size(hArr)))))
    df.select(col(idCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol), gramHashes.as("_hashes"))
      .select(col(idCol), explode(array_distinct(mins)).as("fingerprint"))
  }

  /** Duplicate-n-gram fraction (Gopher/Dolma): per document, the share
    * of its DISTINCT token n-grams that also occur in at least one
    * OTHER document — the drop-heavily-duplicated-docs signal that
    * needs no pair enumeration (the metric form of what the dedup
    * family removes). Documents with fewer than `n` tokens score 0.0
    * over 0 grams.
    *
    * Output: (idCol, n_grams, n_shared, shared_frac).
    *
    * Scale shape: grams hash in-row to md5 keys; the df count and the
    * join back exchange 32-byte keys, never text. A stop-gram shared by
    * every document makes one hot join key — AQE's skew split is the
    * knob (same skew surface as the shingle joins, q83's measured
    * territory). shared_frac is one integer division — IEEE-identical
    * cross-engine, no rounding needed.
    */
  def sharedNgramFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    // staged projections so the token array materializes ONCE per row —
    // inlining split() into the transform lambda would re-split the
    // text at every element_at (O(len²) per doc; fingerprints' lesson)
    val toks = col("_g_toks")
    val starts = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = array_distinct(transform(col("_g_starts"), i =>
      md5(concat_ws(" ",
        (0 until n).map(j => element_at(toks, i + j)): _*))))
    val exploded = df
      .select(col(idCol), split(col(textCol), " ").as("_g_toks"))
      .select(col(idCol), toks, starts.as("_g_starts"))
      .select(col(idCol), explode(grams).as("_g_gh"))
    val dfreq = exploded.groupBy(col("_g_gh"))
      .agg(countDistinct(col(idCol)).as("_g_ndocs"))
    val per = exploded.join(dfreq, Seq("_g_gh"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_g_ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("n_grams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_shared").cast("double") / col("n_grams"))
          .as("shared_frac"))
  }

  /** BPE pair statistics — the first iteration of byte-pair-encoding
    * vocabulary induction: corpus-wide frequencies of ADJACENT character
    * pairs inside whitespace words, top `topK` by count (the merge
    * candidates a BPE trainer would fuse first).
    *
    * Computed the way real BPE trainers do it: collapse the corpus to
    * the DISTINCT-WORD count table first (one hash aggregate — the only
    * corpus-sized exchange, and its key is the word itself), then
    * enumerate each distinct word's pairs ONCE in-row and weight by the
    * word count. Pair work is vocab-sized, not corpus-sized — a 100 TB
    * corpus with a 10 M-word vocabulary does 10 M rows of pair
    * expansion, not 10 T. The final top-k is (count DESC, pair ASC)
    * through orderBy+limit → TakeOrderedAndProject, never a global
    * sort; the key is unique so the cut is deterministic.
    *
    * Characters via substr (codepoint semantics, matching other
    * engines' `substring`), not a regex split on "" (code units).
    * Classic BPE also counts an end-of-word marker pair; this surface
    * reports intra-word pairs only — compose with a sentinel-appended
    * word column when the marker matters.
    */
  def bpePairStats(df: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val wc = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("_g_n"))
    val starts =
      when(length(col("word")) >= 2, sequence(lit(1), length(col("word")) - 1))
        .otherwise(array().cast("array<int>"))
    wc.select(col("_g_n"),
        explode(transform(starts, i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("_g_n")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(topK)
  }

  /** APPLY a BPE merge list and count the resulting symbols — the
    * token-budget estimator once a vocabulary exists (the consumer of
    * [[bpePairStats]]' induction): each merge (pair → single
    * private-use placeholder char) is applied corpus-wide as a
    * leftmost-first, non-overlapping replace, exactly BPE's greedy
    * merge order; later merges may reference earlier placeholders
    * (hierarchical merges like `er`→□, `□n` → □₂). Merge strings must
    * not contain spaces, so replaces can never fuse across a word
    * boundary and the whole text merges in ONE pass without word
    * splitting.
    *
    * Output per document: symbol count before any merge
    * (`n_units_char`: non-space chars) and after all merges
    * (`n_units_bpe`) — their difference is how many merges fired. Pure
    * in-row projection, zero shuffles, codegen'd; the merge list is a
    * compile-time literal chain (vocabulary-sized merge tables belong
    * in a broadcast-joined explode, a different operator).
    */
  def bpeApplyCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    require(merges.forall { case (p, r) => !p.contains(" ") && !r.contains(" ") },
      "merge strings must not contain spaces (word-boundary safety)")
    val merged = merges.foldLeft(col(textCol)) { case (c, (pair, unit)) =>
      regexp_replace(c, lit(java.util.regex.Pattern.quote(pair)), lit(unit))
    }
    df.select(
      col(idCol),
      length(regexp_replace(col(textCol), lit(" "), lit("")))
        .cast("long").as("n_units_char"),
      length(regexp_replace(merged, lit(" "), lit("")))
        .cast("long").as("n_units_bpe"))
  }

  /** ITERATIVE BPE vocabulary induction — the actual tokenizer trainer
    * that [[bpePairStats]] (one counting pass) and [[bpeApplyCounts]]
    * (apply a GIVEN merge list) bracket: alternate count → argmax →
    * merge for `nMerges` steps and emit the learned merge table, one
    * row per step: (`step`, `lhs`, `rhs`, `merged`, `pair_count`,
    * `units_after`). `pair_count` is the winning pair's corpus
    * frequency at selection time; `units_after` is the total corpus
    * symbol count once that merge is applied — the oracle replays BOTH,
    * so the driver checks the merge APPLICATION, not just the pick.
    *
    * Training runs on the distinct-word count table (the classic BPE
    * trainer move, and the reason this scales: a 100 TB corpus with a
    * 10 M-word vocabulary does 10 M rows of symbol work per step, not
    * 10 T — the corpus-sized exchange happens ONCE, in the initial
    * word-count aggregate, which is cached across steps). Per step:
    * one vocab-sized job for pair counts planned as
    * TakeOrderedAndProject(limit=1) (a bounded 1-row collect, the
    * q218 Lloyd-iteration contract), one in-row fold applying the
    * merge, one 1-row total-units aggregate.
    *
    * Merge application is a leftmost-first non-overlapping fold over
    * the symbol array (`aggregate` HOF): fuse when the accumulator's
    * last symbol is `lhs` and the incoming one is `rhs`. For lhs ≠ rhs
    * matches can never overlap (a fused l would have had to be the
    * previous match's r); for lhs = rhs runs, the fold takes offsets
    * 0, 2, 4… of each run — exactly greedy BPE. A fused symbol
    * (lhs+rhs, non-empty rhs) can never re-match as `lhs` within the
    * same pass, so one fold IS the whole step. Selection tie-break is
    * (count DESC, lhs ASC, rhs ASC) — fully deterministic, engine-
    * and partitioning-independent, hence DuckDB-replayable as an
    * N-step chained-CTE (see q220's oracle).
    */
  /** Plan-depth bound for the trainer loops: the per-step in-row merge
    * stacks one `aggregate` HOF layer onto `words`, so an unchecked
    * loop re-executes ALL prior layers at every step's action (O(n²)
    * total symbol work) and a production-vocab run (30k merges) hits
    * the codegen expression-depth wall long before that. Materializing
    * every `trainerCkptEvery` steps caps both: re-execution depth ≤ 16
    * layers, and each plan stays compilable regardless of nMerges.
    * (The nMerges sequential JOBS are inherent to greedy induction —
    * every argmax depends on the previous merge — and each is
    * vocab-sized, not corpus-sized; the loop is the published
    * trainer's structure, just distributed.)
    */
  private val trainerCkptEvery = 16

  private def boundTrainerDepth(words: DataFrame, step: Int): DataFrame =
    if (step % trainerCkptEvery != 0) words
    else Stage.materialize(words)

  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"),
        col("n"))
      .persist()
    try {
      var words = vocab
      val learned = Seq.newBuilder[(Int, String, String, String, Long, Long)]
      for (step <- 1 to nMerges) {
        val pairIdx =
          when(size(col("syms")) >= 2, sequence(lit(1), size(col("syms")) - 1))
            .otherwise(array().cast("array<int>"))
        val best = words
          .select(col("n"), explode(transform(pairIdx, i => struct(
            element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
          .agg(sum(col("n")).as("c"))
          .orderBy(col("c").desc, col("lhs").asc, col("rhs").asc)
          .limit(1).collect()
        // the fixed-unroll oracle needs exactly nMerges picks — running
        // out of pairs must fail loudly, not silently return fewer rows
        require(best.nonEmpty, s"bpeTrain: no adjacent pairs left at " +
          s"step $step — corpus fully merged; lower nMerges")
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val fused = aggregate(col("syms"), array().cast("array<string>"),
          (acc, s) =>
            when(size(acc) > 0 && element_at(acc, -1) === lit(l) &&
                s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(s))))
        words = boundTrainerDepth(words.select(fused.as("syms"), col("n")),
          step)
        val unitsAfter = words
          .agg(sum(col("n") * size(col("syms"))).as("u"))
          .collect()(0).getLong(0)
        learned += ((step, l, r, l + r, c, unitsAfter))
      }
      import spark.implicits._
      learned.result().toDF(
        "step", "lhs", "rhs", "merged", "pair_count", "units_after")
    } finally vocab.unpersist()
  }

  /** WordPiece vocabulary induction (Schuster & Nakajima 2012 — the
    * BERT tokenizer's trainer), completing the tokenizer-family trio
    * next to [[bpeTrain]] (frequency merges) and [[unigramTrain]]
    * (likelihood pruning). Structurally it IS the BPE loop — count →
    * argmax → greedy in-row merge over the distinct-word table — with
    * exactly one substitution: the merge choice maximizes the corpus
    * LIKELIHOOD GAIN score count(lr) / (count(l) · count(r)), not the
    * raw pair frequency, so a rare-but-cohesive pair beats a frequent
    * pair of already-frequent symbols. Symbols carry the `##`
    * continuation convention (word "abc" → ["a", "##b", "##c"]);
    * fusing l with r concatenates and strips r's `##`, so learned
    * pieces are word-initial or `##`-continuations exactly as BERT
    * vocabularies spell them.
    *
    * Determinism/portability: the score is compared in LOG domain at
    * the established d6-ln contract point (q116/q130/q245) —
    * micro-nats, `(ln c_lr − ln c_l − ln c_r)` d6-rounded × 10⁶ as a
    * signed long — with (score DESC, pair_count DESC, lhs ASC, rhs
    * ASC) tie-break: fully deterministic, partitioning- and
    * engine-independent, hence replayable as an N-step chained-CTE
    * DuckDB oracle (q248). Exact-rational comparison via cross-
    * multiplication was rejected: the three-way integer product
    * overflows 64-bit near 1e6-token corpora, and the codebase's
    * portable-float contract is d6, not int128.
    *
    * Scale: identical to [[bpeTrain]] — the corpus-sized exchange
    * happens once (word counts, cached); each step does one vocab-sized
    * pair count + one symbol count (both map-side-combined), a 1-row
    * argmax collect (bounded contract point), and one in-row fold.
    * Output per step: (`step`, `lhs`, `rhs`, `merged`, `pair_count`,
    * `score_unat`, `units_after`).
    */
  def wordpieceTrain(
      df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(
        transform(sequence(lit(1), length(col("word"))), i =>
          when(i === 1, col("word").substr(i, lit(1)))
            .otherwise(concat(lit("##"), col("word").substr(i, lit(1)))))
          .as("syms"),
        col("n"))
      .persist()
    try {
      var words = vocab
      val learned =
        Seq.newBuilder[(Int, String, String, String, Long, Long, Long)]
      for (step <- 1 to nMerges) {
        val symCounts = words
          .select(col("n"), explode(col("syms")).as("s"))
          .groupBy(col("s")).agg(sum(col("n")).as("sc"))
        val pairIdx =
          when(size(col("syms")) >= 2, sequence(lit(1), size(col("syms")) - 1))
            .otherwise(array().cast("array<int>"))
        val pairs = words
          .select(col("n"), explode(transform(pairIdx, i => struct(
            element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
          .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
          .agg(sum(col("n")).as("c"))
        // micro-nat likelihood score at the d6-ln contract point
        val su = ((log(col("c")) - log(col("lc")) - log(col("rc")))
          .cast("decimal(28,6)") * 1000000).cast("long")
        val best = pairs
          .join(broadcast(symCounts.select(
            col("s").as("lhs"), col("sc").as("lc"))), "lhs")
          .join(broadcast(symCounts.select(
            col("s").as("rhs"), col("sc").as("rc"))), "rhs")
          .select(col("lhs"), col("rhs"), col("c"), su.as("su"))
          .orderBy(col("su").desc, col("c").desc, col("lhs").asc,
            col("rhs").asc)
          .limit(1).collect()
        require(best.nonEmpty, s"wordpieceTrain: no adjacent pairs left " +
          s"at step $step — corpus fully merged; lower nMerges")
        val (l, r, c, s) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2), best(0).getLong(3))
        val merged = l + r.stripPrefix("##")
        val fused = aggregate(col("syms"), array().cast("array<string>"),
          (acc, sym) =>
            when(size(acc) > 0 && element_at(acc, -1) === lit(l) &&
                sym === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(sym))))
        words = boundTrainerDepth(words.select(fused.as("syms"), col("n")),
          step)
        val unitsAfter = words
          .agg(sum(col("n") * size(col("syms"))).as("u"))
          .collect()(0).getLong(0)
        learned += ((step, l, r, merged, c, s, unitsAfter))
      }
      import spark.implicits._
      learned.result().toDF(
        "step", "lhs", "rhs", "merged", "pair_count", "score_unat",
        "units_after")
    } finally vocab.unpersist()
  }

  /** SentencePiece-style unigram-LM tokenizer induction (Kudo 2018,
    * arXiv:1804.10959) — the OTHER real tokenizer family next to
    * [[bpeTrain]]'s merge induction — made deterministic enough to
    * replay in a SQL oracle:
    *
    *   1. corpus → DISTINCT-WORD count table (the only corpus-sized
    *      exchange, same contract as [[bpeTrain]]); words longer than
    *      `maxWordLen` are excluded (documented training cap, the
    *      SentencePiece max-piece-length analog);
    *   2. seed vocabulary: every substring of length ≤ `lMax`, scored
    *      by Σ word_count × occurrences; ALL single characters (the
    *      coverage floor) + the top (seedK − |chars|) multi-character
    *      pieces by (score DESC, piece ASC);
    *   3. `nIters` rounds of Viterbi-EM: piece costs are fixed-point
    *      MICRO-NATS — d6(−ln(s/Σs)) × 10⁶ as a long — so the per-word
    *      segmentation DP is pure INTEGER arithmetic (the d6-at-the-ln
    *      contract q116/q130/q192 established); the E-step re-counts
    *      pieces over best segmentations; unused multi-char pieces drop
    *      out, unused characters keep a floor count of 1;
    *   4. output: top `keepK` pieces by (count DESC, piece ASC) with
    *      final counts and d6 costs against the kept total.
    *
    * DP determinism: each prefix's best value is encoded as
    * cost×32 + backpointer (word length < 32 by the cap), so the
    * integer MIN resolves cost ties toward the SMALLER backpointer —
    * the longest candidate piece — identically in any engine; the
    * backtrace then reads backpointers straight out of the array.
    * Segmentation runs IN-ROW (one `aggregate` HOF pass per word, the
    * cost table a broadcast map literal); per-round driver state is the
    * ≤ seedK-piece vocabulary (the bounded-contract-point class:
    * centroids, BPE argmax). At 100 TB: the corpus is touched once for
    * word counts, each EM round is one map-side projection over the
    * distinct-word table plus one vocab-keyed count aggregate — nothing
    * corpus-sized shuffles after step 1.
    */
  def unigramTrain(
      df: DataFrame,
      textCol: String,
      lMax: Int = 4,
      seedK: Int = 64,
      nIters: Int = 2,
      keepK: Int = 48,
      maxWordLen: Int = 24): DataFrame = {
    require(lMax >= 2 && lMax <= 8, s"lMax $lMax out of range")
    require(nIters >= 1 && nIters <= 4, s"nIters $nIters out of range")
    require(maxWordLen < 32, "backpointer encoding needs word length < 32")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0 && length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .persist()
    try {
      val w = col("word")
      val seed = words.select(col("n"), explode(flatten(
          transform(sequence(lit(1), length(w)), p =>
            transform(sequence(lit(1), least(lit(lMax), length(w) - p + 1)),
              l => w.substr(p, l))))).as("piece"))
        .groupBy("piece").agg(sum(col("n")).as("s"))
      val chars = seed.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
      require(chars.nonEmpty, "unigramTrain: empty corpus")
      require(chars.length < seedK,
        s"unigramTrain: ${chars.length} distinct characters exceed seedK=" +
          s"$seedK — the coverage floor leaves no room for learned pieces")
      val multi = seed.filter(length(col("piece")) > 1)
        .orderBy(col("s").desc, col("piece").asc)
        .limit(seedK - chars.length)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      var vocab: Seq[(String, Long)] = chars ++ multi

      val INF = 1000000000000L
      // micro-nat cost at the d6-ln contract point: shortest-repr
      // HALF_UP at scale 6, the same convention the engine's own
      // double→decimal cast uses
      def micro(s: Long, total: Long): Long =
        (BigDecimal.decimal(-math.log(s.toDouble / total.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact

      var counts: Seq[(String, Long)] = null
      for (_ <- 1 to nIters) {
        val total = vocab.map(_._2).sum
        val cm = typedlit(vocab.map { case (p, s) => p -> micro(s, total) }.toMap)
        // DP over prefix lengths: acc(k) = enc for the best segmentation
        // of the first k−1 characters; enc = cost*32 + backpointer
        val dp = aggregate(sequence(lit(1), length(w)),
          array(lit(0L)),
          (acc, i) => concat(acc, array(array_min(
            transform(sequence(greatest(lit(1), i - lMax + 1), i), p =>
              (shiftright(element_at(acc, p), 5) +
                coalesce(element_at(cm, w.substr(p, i - p + 1)), lit(INF))) *
                lit(32L) + (p - 1).cast("long"))))))
        // backtrace: pos walks backpointers from |word| to 0; each hop
        // emits the piece the DP chose
        val st0 = struct(length(w).cast("int").as("pos"),
          array().cast("array<string>").as("ps"))
        val walk = aggregate(sequence(lit(1), length(w)), st0, (st, _) => {
          val pos = st.getField("pos")
          val j = (element_at(col("acc"), pos + 1) % 32).cast("int")
          when(pos > lit(0),
            struct(j.as("pos"),
              concat(st.getField("ps"),
                array(w.substr(j + 1, pos - j))).as("ps")))
            .otherwise(st)
        })
        counts = words.withColumn("acc", dp).withColumn("wk", walk)
          .select(col("n"), explode(col("wk.ps")).as("piece"))
          .groupBy("piece").agg(sum(col("n")).as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        val cMap = counts.toMap
        vocab = chars.map { case (ch, _) => ch -> cMap.getOrElse(ch, 1L) } ++
          counts.filter(_._1.length > 1)
      }
      val kept = vocab.sortBy { case (p, s) => (-s, p) }.take(keepK)
      val tKept = kept.map(_._2).sum
      kept.map { case (p, s) =>
        val cost6 = BigDecimal.decimal(-math.log(s.toDouble / tKept.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, s, cost6)
      }.toDF("piece", "cnt", "cost6")
    } finally { words.unpersist(); () }
  }

  /** APPLY a unigram vocabulary — [[unigramTrain]]'s deployment consumer,
    * the token-budget estimator the way [[bpeApplyCounts]] consumes
    * [[bpeTrain]]: segment every word by the same integer Viterbi DP and
    * report per-document piece statistics. `costs` maps piece →
    * micro-nat cost (any fixed longs; a trained vocab's costs or a
    * hand-authored table). NO coverage requirement: a character absent
    * from the vocab still segments (single-char fallback at an INF
    * penalty) and is REPORTED through `n_unk_pieces` — the "how much of
    * this corpus does my tokenizer not know" audit signal.
    *
    * Walk-free counting: the DP value packs cost×1024 + pieces×32 +
    * backpointer, so the best piece count reads straight out of the
    * final cell ((enc >> 5) mod 32) and the unknown count is the INF
    * multiple of the cost field (cost div INF — each unknown char
    * contributes exactly one INF). Ties resolve toward (fewer pieces,
    * then smaller backpointer) — a DIFFERENT documented tie-break from
    * [[unigramTrain]]'s (the training DP never needs the piece count in
    * the key).
    *
    * Scale shape (r19, VERDICT r18 #3 — the BPE "collapse to the
    * distinct-word table" discipline, matching the oracle's own
    * `dwords` CTE): the DP runs ONCE PER DISTINCT WORD, not once per
    * occurrence. The higher-order-function DP evaluates interpreted
    * (per-char lambda dispatch + a linear scan of the literal cost map
    * per candidate piece), so per-occurrence evaluation made the corpus
    * pay vocab-Zipf redundancy at full price — the sf0.1 fixture holds
    * 270,704 ok-word occurrences but 31 distinct words, and the bench
    * read 7.7 s for what is now 3.5 s. Costs two word-keyed exchanges
    * (per-(doc,word) count partial-aggregates map-side; the distinct-
    * word stats frame is vocabulary-sized and broadcasts under AQE)
    * and one doc-keyed sum — all keyed shuffles of count rows, never
    * corpus text. `idCol` must be unique per row (the per-doc rollup
    * re-joins on it; same contract as the oracle's join-back). A row
    * whose `idCol` is NULL keeps its row and its `n_words`/`n_skipped`,
    * but the equi-join never matches it, so it reports `n_pieces =
    * n_unk_pieces = 0` — silently, not as an error; filter or key such
    * rows first if their pieces matter.
    * Per-word stats multiply by the occurrence count — exact: every
    * occurrence of a word yields the identical (pieces, unk) pair.
    * Words longer than `maxWordLen` are skipped and counted.
    *
    * Output: idCol, `n_words`, `n_skipped`, `n_pieces`, `n_unk_pieces`.
    */
  def unigramSegmentStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      costs: Map[String, Long],
      lMax: Int = 4,
      maxWordLen: Int = 24): DataFrame = {
    require(costs.nonEmpty, "empty vocabulary")
    require(costs.values.forall(c => c >= 0 && c < 1000000000L),
      "piece costs must be in [0, 1e9) micro-nats")
    require(maxWordLen < 32, "piece-count encoding needs word length < 32")
    val INF = 1000000000000L
    val cm = typedlit(costs)
    val allWords = filter(split(col(textCol), " "), w => length(w) > lit(0))
    val okWords = filter(allWords, w => length(w) <= lit(maxWordLen))
    def finalEnc(w: Column): Column = {
      val dp = aggregate(sequence(lit(1), length(w)), array(lit(0L)),
        (acc, i) => concat(acc, array(array_min(
          transform(sequence(greatest(lit(1), i - lMax + 1), i), p =>
            (shiftright(element_at(acc, p), 10) +
              coalesce(element_at(cm, w.substr(p, i - p + 1)), lit(INF))) *
              lit(1024L) +
              ((shiftright(element_at(acc, p), 5) % 32 + 1) * 32) +
              (p - 1).cast("long"))))))
      element_at(dp, length(w) + 1)
    }
    // one row per (doc, distinct word in doc) with its occurrence count
    // — map-side combine collapses within-doc repetition before the
    // exchange; the word-keyed distinct then collapses cross-doc
    val occ = df.select(col(idCol).as("_id"), explode(okWords).as("_w"))
      .groupBy(col("_id"), col("_w")).agg(count(lit(1)).as("_k"))
    // the DP evaluates once per DISTINCT word; per-word piece/unknown
    // counts decode from the packed final cell exactly as the old
    // per-occurrence form did
    val dw = occ.select(col("_w")).distinct()
      .select(col("_w"), finalEnc(col("_w")).as("_enc"))
      .select(col("_w"), (shiftright(col("_enc"), 5) % 32).as("_wp"),
        floor(shiftright(col("_enc"), 10) / lit(INF)).cast("long").as("_wu"))
    val perDoc = occ.join(dw, Seq("_w"))
      .groupBy(col("_id"))
      .agg(sum(col("_k") * col("_wp")).as("_np"),
        sum(col("_k") * col("_wu")).as("_nu"))
      .withColumnRenamed("_id", "_jid")
    df.select(col(idCol), size(allWords).cast("long").as("n_words"),
        (size(allWords) - size(okWords)).cast("long").as("n_skipped"))
      .join(perDoc, col(idCol) === col("_jid"), "left")
      .select(col(idCol), col("n_words"), col("n_skipped"),
        coalesce(col("_np"), lit(0L)).as("n_pieces"),
        coalesce(col("_nu"), lit(0L)).as("n_unk_pieces"))
  }

  /** Greedy bigram-LM text generation — the decode step that closes
    * the corpus LM family (train: q116/q229-style count models; score:
    * bigramLogProbAgainst; THIS: generate). From each of the `seeds`
    * most frequent corpus tokens, walk `steps` argmax transitions of
    * the corpus bigram model (tie-break: higher count, then
    * lexicographically smaller continuation — total order, so the walk
    * is a pure function of the corpus). A chain that reaches a token
    * with no observed successor stalls and keeps its text (n_steps
    * records actual transitions taken).
    *
    * Not a neural sampler and not meant to be — it is the classic
    * deterministic Markov-chain decode, which is exactly what makes it
    * engine-portable: the whole walk replays as a recursive CTE.
    *
    * Scale shape: the model collapses to a best-next TABLE (vocab-sized
    * — one row per distinct token, built by one (cur,next) count
    * aggregate + a cur-keyed top-1 window over counts, never corpus
    * rows). Generation is `steps` chained joins of a seeds-sized frame
    * against that table (broadcast at any realistic vocab; ~1M-token
    * vocab ≈ tens of MB). The corpus is read once.
    */
  def bigramGreedyGenerate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seeds: Int = 5,
      steps: Int = 12): DataFrame = {
    require(seeds >= 1 && steps >= 1, s"need seeds/steps >= 1")
    // empty tokens (multi-space / empty docs) are dropped BEFORE the
    // adjacency window — the bm25MultiTopK tokenization convention —
    // so "" never enters the seed ranking or the transition table
    val tk = df.select(col(idCol).as("_d"),
        posexplode(split(col(textCol), " ")).as(Seq("_pos", "_tok")))
      .filter(col("_tok") =!= "")
    val bg = tk.withColumn("_nxt",
        lead(col("_tok"), 1).over(
          Window.partitionBy(col("_d")).orderBy(col("_pos"))))
      .filter(col("_nxt").isNotNull)
    val bestNext = bg.groupBy(col("_tok"), col("_nxt"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_tok"))
          .orderBy(col("_c").desc, col("_nxt").asc)))
      .filter(col("_rn") === 1)
      .select(col("_tok").as("_cur"), col("_nxt"))
    val seedFrame = tk.groupBy(col("_tok")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_tok").asc)
      .limit(seeds)
      .select(col("_tok").as("seed"), col("_tok").as("generated"),
        col("_tok").as("_cur"), lit(0L).as("n_steps"))
    val walked = (1 to steps).foldLeft(seedFrame) { (state, _) =>
      state.join(broadcast(bestNext), Seq("_cur"), "left")
        .select(
          col("seed"),
          when(col("_nxt").isNull, col("generated"))
            .otherwise(concat(col("generated"), lit(" "), col("_nxt")))
            .as("generated"),
          when(col("_nxt").isNull, col("_cur")).otherwise(col("_nxt"))
            .as("_cur"),
          (col("n_steps") + when(col("_nxt").isNull, lit(0L))
            .otherwise(lit(1L))).as("n_steps"))
    }
    walked.select(col("seed"), col("generated"), col("n_steps"))
  }

  /** T5-style span corruption (Raffel et al. 2020): mask token spans
    * with `<extra_id_K>` sentinels, emit the (input, target) pair the
    * denoising objective trains on — the augmentation pass a
    * pretraining pipeline runs over the whole corpus.
    *
    * BLOCK-LOCAL sampling, the documented divergence from the paper's
    * sequential span sampler: positions partition into fixed
    * `blockLen`-token blocks; each block independently decides (one
    * md5 draw) whether it hosts a span and where. Same corruption
    * statistics (rate ≈ thr/1e6 · E[len]/blockLen per token, spans
    * never overlap BY CONSTRUCTION), but every decision is a pure
    * function of (salt, doc, block) — embarrassingly parallel, O(1)
    * state, and replayable row-by-row in a SQL oracle, where the
    * paper's sampler is an inherently sequential scan per document.
    *
    * Span k's sentinel index K counts effective spans before it in
    * the same document (a span is effective when its offset lands
    * inside the possibly-partial block). Reconstruction law (asserted
    * on real fixture docs): splicing target spans back into the input
    * at their sentinels reproduces the original token stream exactly.
    *
    * Scale shape: ONE in-row projection — tokens, block draws, span
    * flags, both output strings and the audit counts are array HOFs
    * over bound intermediates (no repeated subexpressions); zero
    * shuffles at any corpus size. Per-doc cost O(n_tokens +
    * n_blocks²) — the K prefix count is quadratic in blocks/doc,
    * ≤ ~2e4 ops for a 1000-token doc.
    *
    * Output: (`id`, `input_text`, `target_text`, `n_spans`,
    * `n_masked`).
    */
  def spanCorrupt(
      df: DataFrame,
      idCol: String,
      textCol: String,
      salt: String = "sc",
      blockLen: Int = 8,
      corruptPpm: Long = 350000L,
      maxSpan: Int = 3): DataFrame = {
    require(blockLen >= 2 && maxSpan >= 1 && maxSpan < blockLen,
      s"need 1 <= maxSpan < blockLen, got maxSpan=$maxSpan blockLen=$blockLen")
    val bl = blockLen.toLong
    // exact integer floor-division via double (operands < 2^52: exact)
    def idiv(a: Column, b: Long): Column =
      floor(a / lit(b.toDouble)).cast("long")
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    val stage = df
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn("_n", size(col("_toks")).cast("long"))
      .withColumn("_info", transform(
        when(col("_n") > 0,
          sequence(lit(0L), idiv(col("_n") + (bl - 1L), bl) - 1L))
          .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)")),
        b => {
          val u = conv(substring(md5(
              concat(lit(salt), lit(":"), col(idCol).cast("string"),
                lit(":"), b.cast("string")).cast("binary")), 1, 8), 16, 10)
            .cast("long") % 1000000L
          val r = least(col("_n") - b * bl, lit(bl))
          val len = lit(1L) + u % maxSpan.toLong
          val off = idiv(u, 7L) % (lit(bl) - len + 1L)
          val eff = (u < corruptPpm) && (off < r)
          struct(b.as("b"), eff.as("eff"), off.as("off"),
            least(len, r - off).as("clip"))
        }))
      // K per block: effective spans strictly before it (prefix count)
      .withColumn("_k", transform(col("_info"), (_, i) =>
        size(filter(slice(col("_info"), lit(1), i),
          x => x.getField("eff"))).cast("long")))
      .withColumn("_eff", filter(col("_info"), x => x.getField("eff")))
    val pos = when(col("_n") > 0, sequence(lit(0L), col("_n") - 1L))
      .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))
    val inputToks = filter(
      transform(pos, p => {
        val s = element_at(col("_info"), (idiv(p, bl) + 1L).cast("int"))
        val rel = p % bl
        val kHere = element_at(col("_k"),
          (s.getField("b") + 1L).cast("int"))
        when(s.getField("eff") && rel === s.getField("off"),
          sentinel(kHere))
          .when(s.getField("eff") && rel >= s.getField("off") &&
            rel < s.getField("off") + s.getField("clip"),
            lit(null).cast("string"))
          .otherwise(element_at(col("_toks"), (p + 1L).cast("int")))
      }),
      t => t.isNotNull)
    val targetParts = transform(col("_eff"), s => {
      val kHere = element_at(col("_k"), (s.getField("b") + 1L).cast("int"))
      concat(sentinel(kHere), lit(" "),
        array_join(slice(col("_toks"),
          (s.getField("b") * bl + s.getField("off") + 1L).cast("int"),
          s.getField("clip").cast("int")), " "))
    })
    stage.select(
      col(idCol),
      array_join(inputToks, " ").as("input_text"),
      array_join(targetParts, " ").as("target_text"),
      size(col("_eff")).cast("long").as("n_spans"),
      coalesce(aggregate(col("_eff"), lit(0L),
        (acc, s) => acc + s.getField("clip")), lit(0L)).as("n_masked"))
  }

  /** Kneser–Ney LM quality GATE — the CCNet-style perplexity filter
    * ([[knLogProbAgainst]] is the judge; THIS acts on its verdict):
    * score every document against the clean-LM model and keep those at
    * or above `minAvgLogprob`. The threshold is taken in LOG domain
    * deliberately: a perplexity threshold P is exactly
    * minAvgLogprob = −ln P, and comparing in log space avoids an exp()
    * at the contract point (libm exp ulp drift is the one float the d6
    * discipline could not absorb cheaply).
    *
    * TOTAL over the corpus: documents the scorer cannot judge (< 2
    * tokens → no bigrams) come back with NULL score and kept = 0 — a
    * quality gate that silently passes unjudgeable inputs is the
    * failure mode; CCNet routes them to its "unrated" bucket, which is
    * what the explicit row encodes.
    *
    * Output per document: (idCol, n_bigrams, avg_logprob_kn, kept).
    */
  def knQualityGate(
      model: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      minAvgLogprob: Double): DataFrame = {
    val scored = knLogProbAgainst(model, df, idCol, textCol)
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob_kn"),
        (col("avg_logprob_kn").isNotNull &&
          col("avg_logprob_kn") >= minAvgLogprob).cast("int").as("kept"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore &
    * Lewis 2010, ACL) — THE classic targeted-corpus selection method:
    * score every candidate document under an IN-DOMAIN LM and a
    * GENERAL LM and keep those where
    *
    *   delta = avg_logprob_in − avg_logprob_general ≥ minDelta
    *
    * (documents that look more like the target domain than like the
    * background corpus — positive delta — are worth training on; the
    * original paper thresholds exactly this difference). Both judges
    * are the [[knLogProbAgainst]] Kneser–Ney scorer, so delta is a
    * difference of two d6-rounded averages — exact once more, no new
    * float surface. TOTAL over candidates ([[knQualityGate]]'s
    * contract): sub-2-token documents come back with NULL scores and
    * kept = 0.
    *
    * Output per document: (idCol, n_bigrams, lp_in, lp_general,
    * delta, kept).
    */
  def mooreLewisSelect(
      inDomain: DataFrame,
      general: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDelta: Double): DataFrame = {
    val sIn = knLogProbAgainst(inDomain, df, idCol, textCol)
      .select(col(idCol), col("n_bigrams"),
        col("avg_logprob_kn").as("lp_in"))
    val sGen = knLogProbAgainst(general, df, idCol, textCol)
      .select(col(idCol), col("avg_logprob_kn").as("lp_general"))
    val delta = d6(col("lp_in") - col("lp_general"))
    df.select(col(idCol))
      .join(sIn, Seq(idCol), "left")
      .join(sGen, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lp_in"), col("lp_general"), delta.as("delta"),
        (col("lp_in").isNotNull && col("lp_general").isNotNull &&
          delta >= minDelta).cast("int").as("kept"))
  }

  /** Heaps'-law fit — vocabulary growth V(n) = K·n^β over document
    * prefixes (natural corpora run β ≈ 0.4–0.6; duplicated or
    * template-generated corpora flatten toward 0 because new documents
    * stop contributing new types): the companion diagnostic to
    * [[zipfFit]] (the two laws are asymptotically linked).
    *
    * Prefixes are ID-VALUE slices: threshold T_j = min_id + j·(span/
    * points), prefix j = documents with id < T_j — a pure in-row
    * predicate, so all `points` checkpoints compute in ONE aggregate
    * pass each over docs (n_j) and tokens (V_j = COUNT(DISTINCT token
    * WHERE id < T_j); the multi-countDistinct plans as one Expand,
    * ×points data growth — the [[graft.ops.Profile.columnProfile]]
    * exact-answer price, bounded by the points parameter). With dense
    * ids a value slice IS a count slice; with sparse ids it is still a
    * monotone prefix family, which is all the fit needs. ln-ln least
    * squares over the (n_j, V_j) checkpoints with the [[zipfFit]]
    * d6/decimal discipline; empty prefixes are skipped.
    *
    * Output ONE row: (n_points, beta, ln_k, r2) — β is the Heaps
    * exponent, K = exp(ln_k) the coefficient.
    */
  def heapsFit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      points: Int = 8): DataFrame = {
    require(points >= 3 && points <= 64, s"points in [3, 64], got $points")
    val dsum = (c: Column) => sum(c.cast("decimal(28,6)")).cast("double")
    val bounds = df.agg(min(col(idCol)).cast("long").as("_mn"),
      (max(col(idCol)).cast("long") + 1L).as("_mx"))
    // integer `div` keeps thresholds exact (the Analytics
    // bucket-arithmetic discipline); `/` on long columns is double
    def thr(j: Int) =
      col("_mn") + expr(s"((_mx - _mn) * $j) div ${points}L")
    val docs = df.select(col(idCol).cast("long").as("_d"))
      .crossJoin(broadcast(bounds))
    val nCols = (1 to points).map(j =>
      sum(when(col("_d") < thr(j), 1L).otherwise(0L)).as(s"_n$j"))
    val nAgg = docs.agg(nCols.head, nCols.tail: _*)
    val toks = df
      .select(col(idCol).cast("long").as("_d"),
        explode(split(col(textCol), " ")).as("_tok"))
      .filter(col("_tok") =!= "")
      .crossJoin(broadcast(bounds))
    val vCols = (1 to points).map(j =>
      countDistinct(when(col("_d") < thr(j), col("_tok"))).as(s"_v$j"))
    val vAgg = toks.agg(vCols.head, vCols.tail: _*)
    val pts = nAgg.crossJoin(vAgg)
      .select(explode(array((1 to points).map(j =>
        struct(col(s"_n$j").as("_nd"), col(s"_v$j").as("_vc"))): _*))
        .as("_s"))
      .select(col("_s._nd").as("_nd"), col("_s._vc").as("_vc"))
      .filter(col("_nd") >= 1L && col("_vc") >= 1L)
    val xy = pts
      .select(d6(log(col("_nd").cast("double"))).as("_x"),
        d6(log(col("_vc").cast("double"))).as("_y"))
      .select(col("_x"), col("_y"),
        d6(col("_x") * col("_y")).as("_xy"),
        d6(col("_x") * col("_x")).as("_xx"),
        d6(col("_y") * col("_y")).as("_yy"))
    val agg = xy.agg(
      count(lit(1)).cast("double").as("_n"),
      dsum(col("_x")).as("_sx"), dsum(col("_y")).as("_sy"),
      dsum(col("_xy")).as("_sxy"), dsum(col("_xx")).as("_sxx"),
      dsum(col("_yy")).as("_syy"))
    val cov = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val vx = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val vy = col("_n") * col("_syy") - col("_sy") * col("_sy")
    agg.select(
      col("_n").cast("long").as("n_points"),
      d6(cov / vx).as("beta"),
      d6((col("_sy") - (cov / vx) * col("_sx")) / col("_n")).as("ln_k"),
      d6(cov * cov / (vx * vy)).as("r2"))
  }

  /** Zipf's-law fit over the corpus frequency head — the
    * vocabulary-shape diagnostic (natural language runs slope ≈ −1;
    * boilerplate-heavy or template-generated corpora flatten, OCR
    * noise steepens the tail): least-squares on (ln rank, ln freq)
    * over the top `topR` tokens by (freq DESC, token ASC),
    *
    *   slope = (RΣxy − ΣxΣy) / (RΣx² − (Σx)²),   r² per the standard
    *   product-moment form.
    *
    * The rank window runs over the top-R frame ONLY (orderBy + limit —
    * TopK-planned, never a vocab-sized sort): R is a parameter, so the
    * windowed frame is parameter-bounded. Zipf fitting on the head is
    * the published convention — the tail is where the law breaks for
    * uninteresting reasons (hapax plateau). Float discipline: per-rank
    * ln terms d6-truncate at their contract point, the five sums
    * accumulate as DECIMAL (q256's PSI discipline), and the final
    * ratios derive in one fixed order, d6 — cross-engine ln ulp drift
    * cannot accumulate.
    *
    * Output ONE row: (n_ranks, slope, intercept, r2).
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topR: Int = 200): DataFrame = {
    require(topR >= 3, s"topR must be >= 3, got $topR")
    val dsum = (c: Column) => sum(c.cast("decimal(28,6)")).cast("double")
    val top = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tok").asc)
      .limit(topR)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("tok").asc)
    val xy = top
      .withColumn("_r", row_number().over(w).cast("double"))
      .select(d6(log(col("_r"))).as("_x"),
        d6(log(col("f").cast("double"))).as("_y"))
      .select(col("_x"), col("_y"),
        d6(col("_x") * col("_y")).as("_xy"),
        d6(col("_x") * col("_x")).as("_xx"),
        d6(col("_y") * col("_y")).as("_yy"))
    val agg = xy.agg(
      count(lit(1)).cast("double").as("_n"),
      dsum(col("_x")).as("_sx"), dsum(col("_y")).as("_sy"),
      dsum(col("_xy")).as("_sxy"), dsum(col("_xx")).as("_sxx"),
      dsum(col("_yy")).as("_syy"))
    val cov = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val vx = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val vy = col("_n") * col("_syy") - col("_sy") * col("_sy")
    agg.select(
      col("_n").cast("long").as("n_ranks"),
      d6(cov / vx).as("slope"),
      d6((col("_sy") - (cov / vx) * col("_sx")) / col("_n")).as("intercept"),
      d6(cov * cov / (vx * vy)).as("r2"))
  }

  /** Distinct-n diversity (Li et al. 2016, "A Diversity-Promoting
    * Objective Function for Neural Conversation Models") — the standard
    * lexical-diversity report card for a generation corpus: per group
    * and per n ∈ [1, maxN], the count of n-gram TOKENS, the count of
    * DISTINCT n-grams, and their ratio. Mode-collapsed or templated
    * output shows up as distinct-2/distinct-3 falling toward 0; natural
    * text sits much higher. The same numbers double as a corpus
    * self-repetition audit next to [[sharedNgramFraction]] (which is
    * per-document; this is the per-slice rollup).
    *
    * Tokens are the whitespace stream with empties dropped (the bigram
    * family's convention); grams hash in-row to md5, so the distinct
    * count exchanges 32-byte keys, never text. One exploded frame per n
    * (maxN is a small constant — the union is maxN narrow aggregates),
    * each a (group, gram)-keyed countDistinct. The ratio is one integer
    * division — IEEE-identical cross-engine, no rounding contract
    * needed.
    *
    * Output: (groupCol, n, n_total, n_distinct, distinct_ratio); groups
    * whose texts have fewer than n tokens everywhere report (0, 0, 0.0).
    */
  def distinctNgramDiversity(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8], got $maxN")
    val toks = col("_g_toks")
    val perN = (1 to maxN).map { n =>
      val starts =
        when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
          .otherwise(array().cast("array<int>"))
      val grams = transform(col("_g_starts"), i =>
        md5(concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      df.select(col(groupCol),
          filter(split(col(textCol), " "), t => length(t) > 0).as("_g_toks"))
        .select(col(groupCol), toks, starts.as("_g_starts"))
        .select(col(groupCol), explode_outer(grams).as("_g_gh"))
        .groupBy(col(groupCol))
        .agg(
          sum(when(col("_g_gh").isNotNull, 1L).otherwise(0L)).as("n_total"),
          countDistinct(col("_g_gh")).as("n_distinct"))
        .select(col(groupCol), lit(n).as("n"), col("n_total"),
          col("n_distinct"),
          when(col("n_total") === 0L, lit(0.0))
            .otherwise(col("n_distinct").cast("double") / col("n_total"))
            .as("distinct_ratio"))
    }
    perN.reduce(_ unionByName _)
  }

  /** PMI collocation mining (Church & Hanks 1990) — the top adjacent
    * word pairs that co-occur far beyond chance: the phrase/boilerplate
    * detector a tokenizer team reads before choosing merge candidates,
    * and the sanity check that a corpus's "multi-word entities" look
    * like language rather than template glue.
    *
    *   PMI(w1,w2) = ln p(w1,w2) − ln p(w1) − ln p(w2)
    *              = ln c12 + 2·ln Nt − ln Nb − ln c1 − ln c2
    *
    * (pair probability over the bigram total Nb, unigrams over the
    * token total Nt) — computed as that fixed left-assoc chain of five
    * ln terms over EXACT integer counts, d6 at the contract; the
    * integers themselves never multiply (c12·Nt² would overflow long
    * at corpus scale — the log-domain form is the 100 TB-safe one).
    *
    * Shape: the q229 bigram stream (doc-partitioned lead window), one
    * pair-keyed and one token-keyed aggregate, two broadcast 1-row
    * totals, `minCount` pruning BEFORE the joins, and the top-k is
    * (count desc, w1, w2) through orderBy+limit →
    * TakeOrderedAndProject, never a global sort.
    *
    * Output: (w1, w2, n_pair, n_w1, n_w2, pmi), top `topK` by count.
    */
  def collocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topK: Int = 50,
      minCount: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("_g_pos"))
    val bi = toks
      .withColumn("_g_next", lead(col("tok"), 1).over(w))
      .filter(col("_g_next").isNotNull)
    val c12 = bi.groupBy(col("tok").as("w1"), col("_g_next").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
    val nt = toks.agg(count(lit(1)).as("_nt"))
    val nb = bi.agg(count(lit(1)).as("_nb"))
    val pmi =
      log(col("n_pair").cast("double")) +
        lit(2.0) * log(col("_nt").cast("double")) -
        log(col("_nb").cast("double")) -
        log(col("n_w1").cast("double")) -
        log(col("n_w2").cast("double"))
    c12.filter(col("n_pair") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("n_tok").as("n_w1")),
        Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("n_tok").as("n_w2")),
        Seq("w2"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
        col("n_w2"), d6(pmi).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Template/boilerplate score per corpus slice — how REPETITIVE a
    * source's unit stream is (units = `delimRe`-split, trimmed,
    * empties dropped; sentences or lines by the caller's regex): the
    * duplicate-unit fraction and the Shannon entropy of the unit-hash
    * distribution. Scraper-templated domains show high dup_frac and
    * low entropy vs their unit count; prose shows the opposite — the
    * slice-level cousin of the per-document repetition family.
    *
    * Units hash to md5 in-row (32-byte exchange keys); one
    * (slice, unit)-keyed aggregate then a slice rollup; entropy terms
    * are d6-rounded BEFORE summing (order-free, engine-portable — the
    * lDiversity discipline). dup_frac = (n − distinct)/n is one
    * integer-derived division.
    *
    * Output per slice: (groupCol, n_units, n_distinct, dup_frac,
    * unit_entropy).
    */
  def templateScore(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      delimRe: String = "\n"): DataFrame = {
    val units = df
      .select(col(groupCol).as("_grp"),
        explode(filter(transform(split(col(textCol), delimRe),
          u => trim(u)), u => length(u) > 0)).as("_u"))
      .select(col("_grp"), md5(col("_u")).as("_uh"))
    val perUnit = units.groupBy(col("_grp"), col("_uh"))
      .agg(count(lit(1)).as("_c"))
    val withN = perUnit.withColumn("_n", sum(col("_c")).over(
      Window.partitionBy(col("_grp"))))
    val p = col("_c").cast("double") / col("_n").cast("double")
    withN
      .withColumn("_h6", (-p * log(p)).cast("decimal(28,6)"))
      .groupBy(col("_grp"))
      .agg(max(col("_n")).as("n_units"),
        count(lit(1)).as("n_distinct"),
        d6(sum(col("_h6")).cast("double")).as("unit_entropy"))
      .select(col("_grp").as(groupCol), col("n_units"), col("n_distinct"),
        ((col("n_units") - col("n_distinct")).cast("double") /
          col("n_units").cast("double")).as("dup_frac"),
        col("unit_entropy"))
  }

  /** Lexical-richness report per corpus slice — the vocabulary-health
    * panel next to [[heapsFit]]/[[zipfFit]]: per slice, from the word
    * frequency SPECTRUM (V(m) = # types occurring exactly m times),
    *
    *   Yule's K   = 10⁴ · (Σ m²·V(m) − N) / N²      (repetitiveness)
    *   Simpson's D = Σ m·(m−1)·V(m) / (N·(N−1))     (repeat-draw prob)
    *   hapax_ratio = V(1) / V                        (novelty share)
    *   ttr         = V / N                           (type/token)
    *
    * Every numerator is an EXACT integer from two aggregates (term
    * counts → spectrum rollup); the four ratios d6 at the contract.
    * K and D are length-insensitive (the reason they beat raw TTR for
    * cross-slice comparison); a machine-generated or template slice
    * shows K an order of magnitude above prose.
    *
    * Shape: one (slice, term)-keyed aggregate (md5 term keys on the
    * exchange), one (slice, m)-keyed rollup, one slice rollup.
    * Output: (groupCol, n_tokens, n_types, n_hapax, ttr, hapax_ratio,
    * yule_k, simpson_d).
    */
  def lexicalRichness(
      df: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val terms = df
      .select(col(groupCol).as("_grp"),
        explode(filter(split(col(textCol), " "),
          t => length(t) > 0)).as("_tok"))
      .groupBy(col("_grp"), md5(col("_tok")).as("_th"))
      .agg(count(lit(1)).as("_m"))
    val spectrum = terms.groupBy(col("_grp"), col("_m"))
      .agg(count(lit(1)).as("_vm"))
    val agg = spectrum.groupBy(col("_grp"))
      .agg(sum(col("_m") * col("_vm")).as("n_tokens"),
        sum(col("_vm")).as("n_types"),
        sum(when(col("_m") === 1L, col("_vm")).otherwise(0L)).as("n_hapax"),
        sum(col("_m") * col("_m") * col("_vm")).as("_m2v"),
        sum(col("_m") * (col("_m") - 1L) * col("_vm")).as("_mm1v"))
    val n = col("n_tokens").cast("double")
    agg.select(col("_grp").as(groupCol),
      col("n_tokens"), col("n_types"), col("n_hapax"),
      d6(col("n_types").cast("double") / n).as("ttr"),
      d6(col("n_hapax").cast("double") / col("n_types").cast("double"))
        .as("hapax_ratio"),
      d6(lit(10000.0) * (col("_m2v").cast("double") - n) / (n * n))
        .as("yule_k"),
      when(col("n_tokens") < 2L, lit(0.0))
        .otherwise(d6(col("_mm1v").cast("double") /
          (n * (n - lit(1.0))))).as("simpson_d"))
  }

  /** "Fightin' Words" keyword extraction (Monroe, Colaresi & Quinn
    * 2008) — WHICH terms distinguish corpus slice A from slice B,
    * scored the statistically honest way: log-odds-ratio with a
    * Dirichlet prior from the combined corpus, z-standardized by its
    * estimated variance:
    *
    *   δ_t = ln((y_At + α_t)/(n_A + α0 − y_At − α_t))
    *       − ln((y_Bt + α_t)/(n_B + α0 − y_Bt − α_t))
    *   z_t = δ_t / sqrt(1/(y_At + α_t) + 1/(y_Bt + α_t))
    *
    * with α_t = α0·y_t/n (the combined-corpus prior). Raw PMI-style
    * contrasts over-rank rare terms; the prior shrinks them and the
    * variance normalizes — the published fix, and the tool a curation
    * team uses to see what a filter actually removed.
    *
    * All counts exact integers from term-keyed aggregates; the ln/sqrt
    * chain evaluates in one fixed order, d6 at the contract. Top-k by
    * |z| via the (|z| desc, term asc) TakeOrdered cut — deterministic
    * because z ties break on the term.
    *
    * Output: (term, n_a, n_b, delta, z), top `topK` by |z|.
    */
  def fightinWords(
      df: DataFrame,
      flagCol: String,
      textCol: String,
      alpha0: Double = 500.0,
      topK: Int = 50,
      minCount: Int = 5): DataFrame = {
    require(alpha0 > 0, s"alpha0 must be positive, got $alpha0")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val flagged = df.select(col(flagCol).cast("boolean").as("_a"),
      explode(filter(split(col(textCol), " "),
        t => length(t) > 0)).as("term"))
    val counts = flagged.groupBy(col("term"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("n_b"))
      .filter(col("n_a") + col("n_b") >= minCount)
    val tot = counts.agg(sum(col("n_a")).as("_na"), sum(col("n_b")).as("_nb"))
    val withTot = counts.crossJoin(broadcast(tot))
    val nTot = (col("_na") + col("_nb")).cast("double")
    val at = lit(alpha0) * (col("n_a") + col("n_b")).cast("double") / nTot
    val ya = col("n_a").cast("double") + at
    val yb = col("n_b").cast("double") + at
    val delta =
      log(ya / (col("_na").cast("double") + lit(alpha0) - ya)) -
        log(yb / (col("_nb").cast("double") + lit(alpha0) - yb))
    val z = delta / sqrt(lit(1.0) / ya + lit(1.0) / yb)
    withTot
      .select(col("term"), col("n_a"), col("n_b"),
        d6(delta).as("delta"), d6(z).as("z"))
      .orderBy(abs(col("z")).desc, col("term").asc)
      .limit(topK)
  }

  /** Pairwise vocabulary overlap between corpus slices — the
    * cross-lingual / cross-domain contamination-and-kinship map: for
    * every unordered slice pair, the sizes of the two distinct-token
    * vocabularies, their intersection, and the Jaccard ratio. High
    * overlap between "independent" sources flags shared boilerplate or
    * mislabeled language; near-zero overlap across related domains
    * flags a tokenization problem.
    *
    * Tokens are the empty-filtered whitespace stream, md5-hashed in-row
    * so every exchange carries 32-byte keys. Shape: one
    * (slice, token)-distinct aggregate, then the pair counts come from
    * a token-keyed self-join — pairs MEET ONLY through shared tokens
    * (inverted-index discipline, never slices × slices × vocab), and
    * per token the pair fan-out is bounded by the SLICE count, not the
    * corpus. Jaccard = c/(n_a + n_b − c) is one integer division,
    * IEEE-identical cross-engine.
    *
    * Output: (grp_a, grp_b, n_a, n_b, n_common, jaccard), grp_a <
    * grp_b; pairs with an empty intersection are absent (their Jaccard
    * is 0 and the all-pairs frame would be slices², not data-sized).
    */
  def vocabOverlap(
      df: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val vocab = df
      .select(col(groupCol).as("_grp"),
        explode(filter(split(col(textCol), " "),
          t => length(t) > 0)).as("_tok"))
      .select(col("_grp"), md5(col("_tok")).as("_th"))
      .distinct()
    val sizes = vocab.groupBy(col("_grp")).agg(count(lit(1)).as("n"))
    val pairs = vocab.select(col("_grp").as("grp_a"), col("_th"))
      .join(vocab.select(col("_grp").as("grp_b"), col("_th")), Seq("_th"))
      .filter(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("_grp").as("grp_a"), col("n").as("n_a")),
        Seq("grp_a"))
      .join(sizes.select(col("_grp").as("grp_b"), col("n").as("n_b")),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): tokens that
    * survive the stopword filter become graph nodes, co-occurrence
    * within `window` positions of the FILTERED sequence becomes a
    * weighted undirected edge, and [[graft.ops.Graph.pageRank]] ranks
    * the nodes — the graph-centrality alternative to frequency/PMI
    * keywording ([[collocations]]): a term is important if important
    * terms keep appearing next to it.
    *
    * Output: top-`topK` (token, n_occurrences, rank) by (rank desc,
    * token). Determinism: the graph build is exact integer counts; the
    * power iteration runs a FIXED `iters` rounds and the score rounds
    * d6 at output (each engine sums incoming mass in its own order —
    * the q128 discipline).
    *
    * Scale shape: one token explode, a per-doc window for the ≤
    * (window−1) lead pairs, one pair-keyed count aggregate (vocab²
    * bounded, in practice vocab-sized), then pageRank's fixed per-round
    * exchanges on the VOCAB-sized graph — corpus-sized work is the one
    * explode, everything after is vocabulary-sized.
    */
  def textRank(
      df: DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[String],
      window: Int = 2,
      iters: Int = 10,
      damping: Double = 0.85,
      topK: Int = 30): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df
      .select(col(idCol).as("_g_id"),
        posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")))
      .filter(col("tok") =!= "" && !col("tok").isInCollection(stopwords))
    val w = Window.partitionBy(col("_g_id")).orderBy(col("_g_pos"))
    val seq = toks.withColumn("_g_rn", row_number().over(w))
    val wLead = Window.partitionBy(col("_g_id")).orderBy(col("_g_rn"))
    val pairs = (1 until window).map { j =>
      seq.select(col("tok").as("_g_x"),
        lead(col("tok"), j).over(wLead).as("_g_y"))
    }.reduce(_ union _)
      .filter(col("_g_y").isNotNull && col("_g_x") =!= col("_g_y"))
    val und = pairs
      .select(least(col("_g_x"), col("_g_y")).as("_g_a"),
        greatest(col("_g_x"), col("_g_y")).as("_g_b"))
      .groupBy(col("_g_a"), col("_g_b")).agg(count(lit(1)).as("_g_n"))
    val edges = und.union(
      und.select(col("_g_b"), col("_g_a"), col("_g_n")))
    val pr = graft.ops.Graph.pageRank(edges, "_g_a", "_g_b", "_g_n",
      iters = iters, damping = damping)
    val occ = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_occurrences"))
    pr.join(occ, pr("node") === occ("tok"))
      .select(col("tok").as("token"), col("n_occurrences"),
        d6(col("pagerank")).as("rank"))
      .orderBy(col("rank").desc, col("token").asc)
      .limit(topK)
  }

  /** Mutual-information (information-gain) token selection against a
    * binary document label — which tokens' PRESENCE carries the most
    * bits about the class? The feature-selection complement to
    * [[fightinWords]] (which ranks by shrunk log-odds DIRECTION; MI
    * ranks by total information either way) — the classic first pass
    * before training a classifier on hashed bags.
    *
    * Per token the 2×2 presence table (a,b,c,d over label × contains)
    * is EXACT integers; MI = Σ_cells (n_cell/N)·ln(n_cell·N /
    * (rowMargin·colMargin)) with empty cells contributing 0, each term
    * d6-rounded before the decimal sum. One (token, label) DISTINCT
    * presence aggregate + broadcast label totals, TakeOrdered top-K.
    */
  def infoGainTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      topK: Int = 30,
      minDocs: Int = 5): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val y = col(labelCol).cast("int")
    val docs = df.select(col(idCol), y.as("_y"), col(textCol))
    val presence = docs
      .select(col(idCol), col("_y"),
        explode(array_distinct(filter(split(col(textCol), " "),
          t => t =!= ""))).as("tok"))
    val perTok = presence.groupBy(col("tok"))
      .agg(sum(when(col("_y") === 1, 1L).otherwise(0L)).as("_a"),
        sum(when(col("_y") === 0, 1L).otherwise(0L)).as("_b"))
    val totals = docs.agg(
      sum(when(col("_y") === 1, 1L).otherwise(0L)).as("_n1"),
      sum(when(col("_y") === 0, 1L).otherwise(0L)).as("_n0"))
    val j = perTok.crossJoin(broadcast(totals))
      .withColumn("_c", col("_n1") - col("_a"))
      .withColumn("_d", col("_n0") - col("_b"))
      .filter(col("_a") + col("_b") >= minDocs)
    val nTot = (col("_n1") + col("_n0")).cast("double")
    def term6(cell: Column, row: Column, ccol: Column) =
      when(cell > 0L,
        (cell.cast("double") / nTot *
          log(cell.cast("double") * nTot /
            (row.cast("double") * ccol.cast("double"))))
          .cast("decimal(28,6)"))
        .otherwise(lit(BigDecimal(0)).cast("decimal(28,6)"))
    val present = col("_a") + col("_b")
    val absent = col("_c") + col("_d")
    val mi6 = term6(col("_a"), present, col("_n1")) +
      term6(col("_b"), present, col("_n0")) +
      term6(col("_c"), absent, col("_n1")) +
      term6(col("_d"), absent, col("_n0"))
    j.select(col("tok").as("token"),
        col("_a").as("n_pos_docs"), col("_b").as("n_neg_docs"),
        d6(mi6.cast("double")).as("mutual_info"))
      .orderBy(col("mutual_info").desc, col("token").asc)
      .limit(topK)
  }

  /** Good–Turing frequency re-estimation over the token stream (Good
    * 1953) — the classic answer to "how much probability mass belongs
    * to words we have NOT seen yet", and the adjusted counts r* that
    * Katz backoff and held-out LM evaluation are built on:
    *
    *   r* = (r+1)·N_{r+1}/N_r        p_r = (r+1)·N_{r+1}/(N_r·N)
    *   p_unseen = N_1/N              (the r = 0 row)
    *
    * over the frequency-of-frequencies spectrum N_r. Rows are emitted
    * for r = 0..maxR; where N_{r+1} = 0 the plain GT estimate is
    * undefined and r-star/p are NULL (the documented boundary — smoothing
    * the spectrum is Simple GT, a different operator). All counts are
    * exact longs; each output number is ONE d6 division of integer
    * products.
    *
    * Scale shape: token-keyed counts (map-side combined), then the
    * spectrum aggregate — ≤ distinct-count rows — and a self-join on
    * r+1 over the ≤(maxR+1)-row frame.
    */
  def goodTuring(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxR: Int = 10): DataFrame = {
    require(maxR >= 1, s"maxR must be >= 1, got $maxR")
    val spark = df.sparkSession
    val toks = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("_r"))
    val spectrum = counts.groupBy(col("_r")).agg(count(lit(1)).as("_nr"))
    val nTot = toks.agg(count(lit(1)).as("_n"))
    val spine = spark.range(0, maxR + 1L).select(col("id").as("r"))
    val cur = spectrum.select(col("_r").as("r"), col("_nr"))
    val nxt = spectrum.select((col("_r") - 1L).as("r"),
      col("_nr").as("_nr1"))
    val joined = spine
      .join(cur, Seq("r"), "left")
      .join(nxt, Seq("r"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("r"),
        coalesce(col("_nr"), lit(0L)).as("n_r"),
        coalesce(col("_nr1"), lit(0L)).as("_nr1"), col("_n"))
    joined.select(col("r"), col("n_r"),
      when(col("r") > 0L && col("n_r") > 0L && col("_nr1") > 0L,
        d6(((col("r") + 1L) * col("_nr1")).cast("double") /
          col("n_r").cast("double"))).as("r_star"),
      when(col("r") === 0L,
          d6(col("_nr1").cast("double") / col("_n").cast("double")))
        .when(col("n_r") > 0L && col("_nr1") > 0L,
          d6(((col("r") + 1L) * col("_nr1")).cast("double") /
            (col("n_r").cast("double") * col("_n").cast("double"))))
        .as("p_gt"))
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs (capped at `maxPhraseLen` — the
    * standard cap; longer runs are noise, not keyphrases), each word
    * scores deg(w)/freq(w) over the candidate set (deg = Σ length of
    * phrases containing w — words that live in long phrases score
    * higher), and a phrase scores the sum of its word scores.
    *
    * Output: top-`topK` distinct phrases by (score desc, phrase) with
    * occurrence counts. Word scores are d6-rounded before the decimal
    * phrase sum (order-free), so the whole chain is engine-exact.
    *
    * Scale shape: one token explode, a per-doc window assigning each
    * token its stopword-run id (one cumulative sum), then word- and
    * phrase-keyed aggregates — all map-side-combinable; nothing holds a
    * document's full text after the explode.
    */
  def rakeKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[String],
      maxPhraseLen: Int = 4,
      topK: Int = 30): DataFrame = {
    require(maxPhraseLen >= 1, s"maxPhraseLen must be >= 1, got $maxPhraseLen")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = df
      .select(col(idCol).as("_g_id"),
        posexplode(split(col(textCol), " ")).as(Seq("_g_pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("_g_stop", col("tok").isInCollection(stopwords))
    val w = Window.partitionBy(col("_g_id")).orderBy(col("_g_pos"))
    // run id = number of stopwords seen so far: constant inside each
    // stopword-free run, bumps at every boundary
    val runs = toks
      .withColumn("_g_run",
        sum(col("_g_stop").cast("long")).over(w))
      .filter(!col("_g_stop"))
    val phrases = runs
      .groupBy(col("_g_id"), col("_g_run"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("_g_pos"),
          col("tok")))), p => p.getField("tok"))).as("phrase"),
        count(lit(1)).as("_g_len"))
      .filter(col("_g_len") <= maxPhraseLen)
    // word stats over ALL candidate INSTANCES (RAKE's freq/deg count
    // every occurrence), phrase score over DISTINCT phrase texts
    val instWords = phrases
      .select(col("phrase"), col("_g_len"),
        explode(split(col("phrase"), " ")).as("_g_w"))
    val wordScore = instWords
      .groupBy(col("_g_w"))
      .agg(sum(col("_g_len")).as("_g_deg"), count(lit(1)).as("_g_freq"))
      .select(col("_g_w"),
        (col("_g_deg").cast("double") / col("_g_freq").cast("double"))
          .cast("decimal(28,6)").as("_g_ws6"))
    val dist = phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
    val phraseScore = dist
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("_g_w"))
      .join(wordScore, Seq("_g_w"))
      .groupBy(col("phrase"))
      .agg(first(col("n_occurrences")).as("n_occurrences"),
        sum(col("_g_ws6")).as("_g_s6"))
    phraseScore
      .select(col("phrase"), col("n_occurrences"),
        col("_g_s6").cast("double").cast("decimal(28,6)").cast("double")
          .as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topK)
  }

  /** Burrows' Delta stylometric distance between author/source slices
    * (Burrows 2002): z-score each slice's relative frequency of the
    * top-M corpus words across slices, then Delta(a,b) = mean |z_a −
    * z_b|. The corpus-linguistics companion to Fightin' Words (q297):
    * that ranks TERMS that separate two slices; Delta ranks SLICE
    * PAIRS by overall stylistic distance — duplicate-author detection,
    * mix diagnostics ("which sources write alike"), contamination
    * triage.
    *
    * Determinism: top-M by (count DESC, word ASC); f = d6(c/n_a) on
    * the full slice×word grid (absent words are true 0s); μ_w and the
    * population variance use d6-per-term decimal sums over slices;
    * σ_w = d6(sqrt(var)) (same IEEE sqrt both engines on the same d6
    * input); zero-variance words are EXCLUDED and n_words reports the
    * count actually used; Delta averages exact |z_a − z_b| decimal
    * diffs. Output: (author_a < author_b, n_words, delta).
    *
    * Scale shape: one token-keyed aggregate (corpus-sized), then
    * everything is (slices × M)-bounded; the pair join is M·A² rows —
    * slices are dashboard-small by contract (loud maxAuthors guard).
    */
  def burrowsDelta(
      df: DataFrame,
      idCol: String,
      textCol: String,
      authorCol: String,
      topM: Int = 30,
      maxAuthors: Int = 1000): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    val tk = df.select(col(authorCol).cast("string").as("_a"),
        explode(split(col(textCol), " ")).as("_w"))
      .filter(col("_w") =!= "")
    val counts = tk.groupBy(col("_a"), col("_w"))
      .agg(count(lit(1)).as("_c"))
    val authorTotals = counts.groupBy(col("_a"))
      .agg(sum(col("_c")).as("_na"))
    val nAuthors = authorTotals.agg(count(lit(1)).as("_nA"))
    val topWords = counts.groupBy(col("_w"))
      .agg(sum(col("_c")).as("_ct"))
      .orderBy(col("_ct").desc, col("_w").asc).limit(topM)
      .select(col("_w"))
    val grid = authorTotals.crossJoin(broadcast(topWords))
      .join(counts, Seq("_a", "_w"), "left")
      .select(col("_a"), col("_w"),
        d6(coalesce(col("_c"), lit(0L)).cast("double") /
          col("_na").cast("double")).as("_f"))
    val mu = grid.groupBy(col("_w"))
      .agg(sum(d28(col("_f"))).as("_fSum"))
      .crossJoin(broadcast(nAuthors))
      .withColumn("_nA",
        when(col("_nA") <= maxAuthors && col("_nA") >= 2L, col("_nA"))
          .otherwise(raise_error(concat(lit(
            s"burrowsDelta: need 2..$maxAuthors author slices, got "),
            col("_nA").cast("string"))).cast("long")))
      .select(col("_w"), col("_nA"),
        d6(col("_fSum").cast("double") / col("_nA").cast("double"))
          .as("_mu"))
    val dev = grid.join(broadcast(mu), "_w")
      .select(col("_a"), col("_w"), col("_nA"), col("_f"), col("_mu"),
        d28((col("_f") - col("_mu")) * (col("_f") - col("_mu")))
          .as("_dev6"))
    val sigma = dev.groupBy(col("_w"))
      .agg(max(col("_nA")).as("_nA"), sum(col("_dev6")).as("_vSum"))
      .select(col("_w"),
        d6(sqrt(d6(col("_vSum").cast("double") /
          col("_nA").cast("double")))).as("_sigma"))
      .filter(col("_sigma") > 0.0)
    val z = dev.join(broadcast(sigma), "_w")
      .select(col("_a"), col("_w"),
        d28(d6((col("_f") - col("_mu")) / col("_sigma"))).as("_z"))
    val za = z.select(col("_a").as("author_a"), col("_w"),
      col("_z").as("_za"))
    val zb = z.select(col("_a").as("author_b"), col("_w"),
      col("_z").as("_zb"))
    za.join(zb, Seq("_w"))
      .filter(col("author_a") < col("author_b"))
      .groupBy(col("author_a"), col("author_b"))
      .agg(count(lit(1)).as("n_words"),
        sum(d28(abs(col("_za") - col("_zb")))).as("_dSum"))
      .select(col("author_a"), col("author_b"), col("n_words"),
        d6(col("_dSum").cast("double") / col("n_words").cast("double"))
          .as("delta"))
  }

  /** Per-document readability battery — Flesch reading ease,
    * Flesch–Kincaid grade and Gunning fog over a deterministic
    * vowel-group syllable heuristic. Readability is a standard
    * quality-mix axis next to the length/punct gates (q19) and the LM
    * scores (q171): a pretraining mix wants its grade-level
    * DISTRIBUTION, not just token counts.
    *
    * Portable counting rules (identical regex semantics both engines):
    *   words      = whitespace tokens, empties dropped
    *   sentences  = max(1, number of [.!?]+ runs)
    *   syl(w)     = max(1, number of [aeiouy]+ runs in lower(w))
    *   complex(w) = syl(w) ≥ 3
    *
    *   FRE  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    *   FK   = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    *   fog  = 0.4·(W/S + 100·complex/W)
    *
    * each evaluated in one fixed DOUBLE shape from exact integer
    * counts, then d6. Zero-word documents report NULL metrics (counts
    * still emitted) — a gate can then route them explicitly.
    *
    * Scale shape: pure in-row projection over the text column — zero
    * shuffles, zero explodes; the per-word work runs inside array HOFs
    * on each row.
    */
  def readability(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val syl = (w: String) =>
      s"greatest(1, size(regexp_extract_all(lower($w), '[aeiouy]+', 0)))"
    val words = s"filter(split($textCol, ' '), w -> w != '')"
    val staged = df.select(col(idCol),
      expr(s"size($words)").cast("long").as("n_words"),
      greatest(lit(1L),
        expr(s"size(regexp_extract_all($textCol, '[.!?]+', 0))")
          .cast("long")).as("n_sentences"),
      expr(s"aggregate($words, CAST(0 AS BIGINT), " +
        s"(acc, w) -> acc + ${syl("w")})").as("n_syllables"),
      expr(s"size(filter($words, w -> ${syl("w")} >= 3))")
        .cast("long").as("n_complex"))
    val wps = col("n_words").cast("double") /
      col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") /
      col("n_words").cast("double")
    val cpw = col("n_complex").cast("double") /
      col("n_words").cast("double")
    staged.select(col(idCol), col("n_words"), col("n_sentences"),
      col("n_syllables"), col("n_complex"),
      when(col("n_words") > 0L,
        d6(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw))
        .as("flesch_ease"),
      when(col("n_words") > 0L,
        d6(lit(0.39) * wps + lit(11.8) * spw - lit(15.59)))
        .as("fk_grade"),
      when(col("n_words") > 0L,
        d6(lit(0.4) * (wps + lit(100.0) * cpw))).as("fog_index"))
  }

  /** MTLD lexical diversity (McCarthy & Jarvis 2010) — the
    * length-robust type/token measure: walk the token stream counting
    * a FACTOR each time the running segment's TTR drops below 0.72,
    * average the forward and backward factor counts, and report
    * tokens/factors. Unlike raw TTR (which only falls with length),
    * MTLD is comparable across documents of different sizes — the
    * lexical-quality feature a curation gate can actually threshold.
    *
    * EXACT until the output: the TTR < 0.72 trigger is the integer
    * predicate 25·types < 18·tokens; the trailing partial factor
    * (1 − TTR)/(1 − 0.72) is the rational 25(n−t)/(7n), so each
    * direction's MTLD is ONE d6 division
    *
    *   mtld_dir = 7·n_seg·N / (7·n_seg·factors + 25·(n_seg − t_seg))
    *
    * and the reported MTLD is the two directions' mean taken in
    * micro-integer units with explicit HALF_UP ((a6+b6+1) div 2 — a
    * double mean lands on exact .5 ties whenever a6+b6 is odd, where
    * engines' decimal casts disagree). A
    * document whose stream never completes or starts a factor
    * (denominator 0 — every token unique) reports NULL: "too short to
    * measure" is an answer, not a default.
    *
    * Scale shape: ZERO shuffles — per-document in-row aggregate folds
    * over the (maxTokens-truncated) token array; the fold carries the
    * current segment's distinct-token array, O(len·segTypes) per
    * direction (the q342 in-row-fold class, bounded by `maxTokens`).
    */
  def mtld(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int = 200): DataFrame = {
    require(maxTokens >= 10, s"maxTokens must be >= 10, got $maxTokens")
    val toks = s"slice(filter(split($textCol, ' '), w -> w != ''), " +
      s"1, $maxTokens)"
    // fold state: (f factors, seg distinct-token array, st seg tokens)
    def pass(arr: String): String =
      s"aggregate($arr, " +
        "named_struct('f', CAST(0 AS BIGINT), " +
        "'seg', CAST(array() AS ARRAY<STRING>), " +
        "'st', CAST(0 AS BIGINT)), " +
        "(acc, w) -> CASE WHEN 25 * size(CASE WHEN " +
        "array_contains(acc.seg, w) THEN acc.seg ELSE " +
        "array_append(acc.seg, w) END) < 18 * (acc.st + 1) THEN " +
        "named_struct('f', acc.f + CAST(1 AS BIGINT), " +
        "'seg', CAST(array() AS ARRAY<STRING>), " +
        "'st', CAST(0 AS BIGINT)) ELSE " +
        "named_struct('f', acc.f, 'seg', CASE WHEN " +
        "array_contains(acc.seg, w) THEN acc.seg ELSE " +
        "array_append(acc.seg, w) END, 'st', acc.st + CAST(1 AS BIGINT)) " +
        "END)"
    val staged = df.select(col(idCol),
      expr(s"size($toks)").cast("long").as("n_tokens"),
      expr(pass(toks)).as("_fw"),
      expr(pass(s"reverse($toks)")).as("_bw"))
    def dir(s: String): Column = {
      val f = col(s"$s.f")
      val t = size(col(s"$s.seg")).cast("long")
      val st = col(s"$s.st")
      val den = lit(7L) * st * f + lit(25L) * (st - t)
      // stream ended ON a factor boundary (st = 0): total factors = f
      // exactly; otherwise the rational closed form; NULL only when no
      // factor ever completed or started closing (all-unique stream)
      when(st === 0L && f > 0L,
        d6(col("n_tokens").cast("double") / f.cast("double")))
        .otherwise(when(den > 0L,
          d6((lit(7L) * st * col("n_tokens")).cast("double") /
            den.cast("double"))))
    }
    // the fwd/bwd mean in MICRO-integers with explicit HALF_UP
    // ((a6+b6+1) div 2): a double (a+b)/2 lands on an exact decimal
    // .5 tie whenever a6+b6 is odd, where engines' decimal casts of
    // the nearest-binary double disagree — the knnShapley
    // floor(x·10⁶+0.5) discipline
    def micro(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    val mean6 = floor((micro(dir("_fw")) + micro(dir("_bw")) + 1L) /
      lit(2.0)).cast("long")
    staged.select(col(idCol), col("n_tokens"),
      dir("_fw").as("mtld_fwd"), dir("_bw").as("mtld_bwd"),
      d6(mean6.cast("double") / lit(1000000.0)).as("mtld"))
  }

  /** Dunning log-likelihood-ratio keyness (G², Dunning 1993) — the
    * corpus-linguistics standard for "which tokens distinguish slice A
    * from slice B" (domain markers, contamination fingerprints,
    * register shifts): per token the 2×2 table (count in A, count in
    * B, slice totals) scores
    *
    *   G² = 2·[a·ln(a/e_A) + b·ln(b/e_B)],  e_X = (a+b)·N_X/(N_A+N_B)
    *
    * which, unlike raw frequency ratios, is comparable across
    * frequency bands and robust to the rare-token noise χ² chokes on.
    * `direction` = sign(a·N_B − b·N_A) — EXACT integers — says which
    * slice over-uses the token; zero-count terms contribute exactly 0.
    *
    * Determinism: counts exact; each ln-term d6-rounds before the
    * (two-term, fixed-order) decimal sum and G² closes with one d6 —
    * the ln last-ulp divergence dies in the d6 staging (naiveBayes'
    * discipline).
    *
    * Scale shape: one token × slice aggregate + a 1-row broadcast of
    * the two totals; `minCount` prunes the tail before any ln.
    */
  def g2Keyness(
      df: DataFrame,
      textCol: String,
      slicePred: Column,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(slicePred.cast("int").as("_in"),
      explode(expr(s"filter(split($textCol, ' '), w -> w != '')"))
        .as("tok"))
    val tp = toks.groupBy(col("tok"))
      .agg(sum(col("_in").cast("long")).as("n_a"),
        sum((lit(1L) - col("_in"))).as("n_b"))
      .filter(col("n_a") + col("n_b") >= minCount)
    val tot = toks.agg(sum(col("_in").cast("long")).as("_na"),
      sum(lit(1L) - col("_in")).as("_nb"))
    val joined = tp.crossJoin(broadcast(tot))
    val nA = col("_na").cast("double")
    val nB = col("_nb").cast("double")
    val both = (col("n_a") + col("n_b")).cast("double")
    val eA = both * nA / (nA + nB)
    val eB = both * nB / (nA + nB)
    def term(o: Column, e: Column): Column =
      when(o > 0L, (o.cast("double") * log(o.cast("double") / e))
        .cast("decimal(28,6)"))
        .otherwise(lit(0).cast("decimal(28,6)"))
    joined.select(col("tok"), col("n_a"), col("n_b"),
      d6(lit(2.0) *
        (term(col("n_a"), eA) + term(col("n_b"), eB)).cast("double"))
        .as("g2"),
      signum((col("n_a") * col("_nb") - col("n_b") * col("_na"))
        .cast("double")).cast("int").as("direction"))
  }

  /** Gries' DP corpus dispersion (Gries 2008) — per token, how evenly
    * its occurrences spread across corpus PARTS (sources, domains,
    * shards): DP = ½·Σ_parts |v_i − s_i| with v_i the token's share of
    * its own occurrences in part i and s_i the part's share of the
    * corpus. DP ≈ 0 = evenly dispersed (function words); DP → 1 =
    * concentrated in one part (topical/boilerplate vocabulary) — the
    * dispersion axis frequency alone cannot see, and the right
    * tie-breaker for stopword lists and domain-marker detection.
    *
    * EXACT: with f_ti the token's count in part i, f_t its total, F_i
    * the part size and F the corpus size,
    *
    *   DP = [Σ_present |f_ti·F − F_i·f_t| + f_t·(F − Σ_present F_i)]
    *        / (2·f_t·F)
    *
    * — the absent-part terms (v_i = 0, contribute s_i each) collapse
    * into the closed form, every numerator term is an exact
    * decimal(38,0), and DP is the ONE d6 division.
    *
    * Scale shape: one (token, part) count aggregate, a part-size frame
    * small enough to BROADCAST (parts = sources/shards by contract),
    * one token rollup. `minCount` prunes the hapax tail before the
    * rollup.
    */
  /** Per-token burstiness via the Fano factor (variance-to-mean ratio
    * of per-document counts, zeros included — Church & Gale 1995's
    * observation that content words BURST): F ≈ 1 is Poisson-like
    * scatter (function words), F ≫ 1 is a token that piles into few
    * documents (topical vocabulary, boilerplate, spam markers) — the
    * within-document concentration axis next to [[dpDispersion]]'s
    * across-part evenness.
    *
    * EXACT: with per-document counts c (absent documents contribute
    * exact zeros through the closed form), S = Σc, Q2 = Σc² over
    * PRESENT documents and N the total document count,
    *
    *   F = N·(N·Q2 − S²) / ((N−1)·S)     — sample variance over mean
    *
    * is one d6 division over decimal(38,0) integers. Output per token:
    * (tok, n_total, n_docs, fano).
    *
    * Scale shape: one (token, doc) count + one token rollup + a 1-row
    * broadcast N; `minCount` prunes the hapax tail.
    */
  def fanoFactor(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(col(idCol).as("_d"),
      explode(expr(s"filter(split($textCol, ' '), w -> w != '')"))
        .as("tok"))
    val td = toks.groupBy(col("tok"), col("_d"))
      .agg(count(lit(1)).as("_c"))
    val nDocs = df.agg(count(lit(1)).as("_nd"))
    td.groupBy(col("tok"))
      .agg(sum(col("_c")).as("n_total"),
        count(lit(1)).as("n_docs"),
        sum(dec(col("_c")) * dec(col("_c"))).as("_q2"))
      .filter(col("n_total") >= minCount)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("n_total"), col("n_docs"),
        when(col("_nd") > 1L,
          d6((dec(col("_nd")) * (dec(col("_nd")) * col("_q2") -
            dec(col("n_total")) * dec(col("n_total")))).cast("double") /
            ((col("_nd") - 1L).cast("double") *
              col("n_total").cast("double")))).as("fano"))
  }

  def dpDispersion(
      df: DataFrame,
      textCol: String,
      partCol: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(col(partCol).cast("string").as("_p"),
      explode(expr(s"filter(split($textCol, ' '), w -> w != '')"))
        .as("tok"))
    val tp = toks.groupBy(col("tok"), col("_p"))
      .agg(count(lit(1)).as("_n"))
    val tokTot = tp.groupBy(col("tok")).agg(sum(col("_n")).as("_ft"))
      .filter(col("_ft") >= minCount)
    val parts = tp.groupBy(col("_p")).agg(sum(col("_n")).as("_fi"))
    val corpus = parts.agg(sum(col("_fi")).as("_f"))
    tp
      .join(tokTot, Seq("tok"))
      .join(broadcast(parts), Seq("_p"))
      .crossJoin(broadcast(corpus))
      .groupBy(col("tok"), col("_ft"), col("_f"))
      .agg(
        sum(abs(dec(col("_n")) * dec(col("_f")) -
          dec(col("_fi")) * dec(col("_ft")))).as("_present"),
        sum(col("_fi")).as("_fip"))
      .select(col("tok"), col("_ft").as("n_total"),
        d6((col("_present").cast("double") +
          col("_ft").cast("double") *
            (col("_f") - col("_fip")).cast("double")) /
          (lit(2.0) * col("_ft").cast("double") *
            col("_f").cast("double"))).as("dp"))
  }

  /** Skip-gram PPMI association pairs — the word2vec-style training-
    * pair generator plus its classic count-based scorer: DIRECTED
    * (center, context) pairs within ±`window` positions (Mikolov
    * 2013's pair stream; [[pmiCollocations]] is the adjacent-bigram
    * special case), scored by positive PMI over the pair table
    * (Levy & Goldberg 2014: SGNS implicitly factorizes this matrix) —
    * so the output doubles as the exact sparse matrix an embedding
    * pipeline would factorize, and as a collocation report.
    *
    * Determinism: counts are exact integers (total T, row/col
    * marginals r·s from the SAME directed pair table, so Σr = Σs =
    * T); ppmi = max(0, d6(ln(c·T/(r·s)))) is one d6 per pair; the
    * top-k cut orders (ppmi DESC, center ASC, context ASC) — total.
    *
    * Scale shape: one corpus explode, ONE per-doc ordered window
    * producing all `window` leads (narrow doc-keyed exchange), a
    * bounded explode, token-keyed counts with map-side combine,
    * 1-row total on a broadcast crossJoin, TakeOrdered cut.
    */
  def skipgramPpmi(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      minCount: Long = 5L,
      topK: Int = 50): DataFrame = {
    require(window >= 1 && window <= 16,
      s"window must be in [1,16], got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("_d"),
        posexplode(expr(s"filter(split($textCol, ' '), w -> w != '')"))
          .as(Seq("_p", "_t")))
    val w = W.partitionBy(col("_d")).orderBy(col("_p"))
    val leads = toks.select(
      Seq(col("_t")) ++
        (1 to window).map(k => lead(col("_t"), k).over(w).as(s"_l$k")): _*)
    val fwd = leads.select(col("_t").as("_x"),
        explode(array((1 to window).map(k => col(s"_l$k")): _*)).as("_y"))
      .filter(col("_y").isNotNull)
    val directed = fwd.union(fwd.select(col("_y"), col("_x")))
    val cnt = directed.groupBy(col("_x"), col("_y"))
      .agg(count(lit(1)).as("n_pair"))
    val rx = cnt.groupBy(col("_x")).agg(sum(col("n_pair")).as("_r"))
    val sy = cnt.groupBy(col("_y")).agg(sum(col("n_pair")).as("_s"))
    val tot = cnt.agg(sum(col("n_pair")).as("_tt"))
    val ppmi = greatest(lit(0.0),
      d6(log(col("n_pair").cast("double") * col("_tt").cast("double") /
        (col("_r").cast("double") * col("_s").cast("double")))))
    cnt.filter(col("n_pair") >= minCount)
      .join(rx, Seq("_x")).join(sy, Seq("_y"))
      .crossJoin(broadcast(tot))
      .select(col("_x").as("center"), col("_y").as("context"),
        col("n_pair"), ppmi.as("ppmi"))
      .orderBy(col("ppmi").desc, col("center").asc, col("context").asc)
      .limit(topK)
  }

  /** LZ78 phrase complexity per document — the incremental-parse
    * phrase count (Ziv & Lempel 1978): scan the text once, growing the
    * current phrase while it's already in the dictionary, emitting and
    * resetting when it's new. Repetitive/templated text parses into
    * few long phrases (low `lz_ratio`), diverse prose into many short
    * ones — the dictionary-compression axis of the quality battery,
    * next to q101's codec-based signal and q107's byte entropy, but
    * deterministic and codec-free (the entropy-rate estimate
    * n_phrases·log(n_phrases)/n converges on ergodic sources).
    *
    * EXACT: phrase counts are integers; `lz_ratio` = n_phrases /
    * n_chars is ONE d6 division. The trailing in-dictionary suffix
    * counts as a final phrase (the standard convention). Documents
    * longer than `maxChars` fail LOUDLY (the [[TextDedup.cdcChunks]]
    * contract: bound the row or shard the doc first); empty documents
    * are omitted.
    *
    * Scale shape: zero shuffles — pure per-row compute. The parse is
    * the compiled [[graft.functions.Lz78Phrases]] trie walk (O(1)
    * amortized per character, codegen-capable) — the r14–r18
    * higher-order-function fold evaluated interpreted and paid
    * O(L·phrases) string traffic per document (r19; q379 9.8 s →
    * 1.3 s at sf0.1, counts identical, pinned by the hand-parse and
    * surrogate-pair specs).
    */
  def lz78Complexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxChars: Int = 2000): DataFrame = {
    require(maxChars >= 1 && maxChars <= 8192,
      s"maxChars must be in [1,8192], got $maxChars")
    val t = "_g_t"
    val guarded = df
      .withColumn(t,
        when(length(col(textCol)) <= maxChars, col(textCol))
          .otherwise(raise_error(concat(
            lit(s"lz78Complexity: document longer than maxChars=" +
              s"$maxChars ("),
            length(col(textCol)).cast("string"),
            lit(") — chunk it first")))))
      .filter(length(col(t)) > 0)
    guarded
      .select(col(idCol), length(col(t)).cast("long").as("n_chars"),
        graft.functions.Lz78Phrases.lz78Phrases(col(t)).as("n_phrases"))
      .withColumn("lz_ratio",
        d6(col("n_phrases").cast("double") / col("n_chars").cast("double")))
  }

  /** word2vec negative-sampling distribution (Mikolov 2013): the
    * unigram distribution raised to the 3/4 power — the noise table a
    * skip-gram trainer ([[graft.queries.Corpus]] q388's PPMI pairs are
    * the signal side) draws its negatives from. Rare words are
    * up-weighted relative to raw frequency, hubs damped.
    *
    * Determinism WITHOUT a pow() gamble: c^{3/4} = √(√(c³)) — two
    * IEEE-exact sqrts over an exactly-representable c³ (the guard
    * keeps c ≤ 2·10⁵ so c³ < 2⁵³; past that a corpus should shard or
    * pre-scale — loud in-plan raise_error, not silent drift). Each
    * weight lands in one d6, the total in a decimal sum, the
    * probability in one more d6.
    *
    * Scale shape: token count (map-side combine) → minCount df-prune
    * → one distributed decimal total broadcast back onto the PRUNED
    * vocab frame (r19: the previous all-rows window serialized the
    * whole vocabulary — which grows with the corpus — through one
    * task). Output is vocab-sized by construction.
    */
  def negSamplingTable(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      maxCount: Long = 200000L): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxCount <= 200000L,
      s"maxCount must be <= 200000 (c^3 must stay exact in a double)" +
        s", got $maxCount")
    val counts = tokens(df, textCol)
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("tok"),
        when(col("n") <= maxCount, col("n"))
          .otherwise(raise_error(concat(
            lit("negSamplingTable: count "), col("n").cast("string"),
            lit(s" exceeds maxCount=$maxCount — c^3 leaves the " +
              "exact-double range"))).cast("long")).as("n"))
    val w = d6(sqrt(sqrt((col("n") * col("n") * col("n"))
      .cast("double"))))
    // the normalizer is a pure TOTAL over the vocab frame: a
    // distributed scalar aggregate broadcast back (the q424/q501
    // audit-max treatment) — the r18 form computed it through an
    // unpartitioned all-rows window, which serializes the ENTIRE
    // pruned vocabulary through one task (vocabulary grows with the
    // corpus; caught by the r19 provenance-hardened class-6 law).
    // Decimal sum ⇒ order-independent: p_ns is bit-identical.
    val weighted = counts.withColumn("weight", w)
    val tot = weighted.agg(sum(d28(col("weight"))).as("_g_wtot"))
    weighted.crossJoin(broadcast(tot))
      .select(col("tok"), col("n"), col("weight"),
        d6(col("weight") / col("_g_wtot").cast("double")).as("p_ns"))
  }

  /** Bray–Curtis dissimilarity between slice-level token profiles
    * (Bray & Curtis 1957): BC(a,b) = 1 − 2·Σₜ min(cₐₜ, c_bₜ) /
    * (Nₐ + N_b) — "how different is what these two sources SAY",
    * the corpus-composition distance a domain-mix planner reads
    * before reweighting ([[graft.pipeline.Sampling]] domain-mix ops
    * act on what this measures). 0 = identical profiles, 1 = fully
    * disjoint vocabularies.
    *
    * Determinism: counts and the shared-min sum are exact longs; BC
    * closes in ONE d6. Scale shape: one (slice, token) count
    * (map-side combine), slice totals on a slices-row frame, and a
    * token-keyed equi-join between slice pairs — disjoint tokens
    * contribute min = 0 and never need to materialize, so the join is
    * inner. Pair cardinality is slices², bounded by the slice
    * vocabulary (sources/languages — small by contract).
    */
  def brayCurtis(
      df: DataFrame,
      sliceCol: String,
      textCol: String): DataFrame = {
    val counts = tokens(df, textCol, sliceCol)
      .filter(col("tok") =!= "")
      .groupBy(col(sliceCol).as("_s"), col("tok"))
      .agg(count(lit(1)).as("_c"))
    val totals = counts.groupBy(col("_s"))
      .agg(sum(col("_c")).as("_tot"))
    val a = counts.select(col("_s").as("slice_a"), col("tok"),
      col("_c").as("_ca"))
    val b = counts.select(col("_s").as("slice_b"), col("tok"),
      col("_c").as("_cb"))
    val shared = a.join(b, Seq("tok"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(sum(least(col("_ca"), col("_cb"))).as("shared_min"))
    shared
      .join(totals.select(col("_s").as("slice_a"),
        col("_tot").as("n_a")), Seq("slice_a"))
      .join(totals.select(col("_s").as("slice_b"),
        col("_tot").as("n_b")), Seq("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        col("shared_min"),
        d6(lit(1.0) - lit(2.0) * col("shared_min").cast("double") /
          (col("n_a") + col("n_b")).cast("double")).as("bray_curtis"))
  }
}

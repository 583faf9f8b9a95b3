package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.functions.NfcNormalize
import graft.ops.Graph
import graft.pipeline.{Behavior, Retrieval, Sampling, TextDedup}
import graft.pipeline.Exact.d6

/** Corpus-curation entries (round 8): retrieval scoring, Unicode key
  * normalization, sub-document dedup, domain mixing, vocabulary
  * coverage and link-graph scoring — the remaining steps of a
  * training-data pipeline between "crawl landed" and "tokens shipped".
  *
  * Determinism discipline as [[Analytics]]: doubles d6-rounded wherever
  * the two engines sum in different orders, ranks always carry an id
  * tie-break, planted Unicode/boilerplate is injected IN-PLAN with
  * identical expressions on both sides (the q57 pattern).
  */
object Corpus extends QueryFile {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  // q123: BM25 top-50 against a 3-term query. Scores are d6-rounded
  // BEFORE the rank (score DESC, doc_id) — the top-k boundary at sf0.01
  // sits 3e-4 wide, far beyond rounding noise. ln() may differ an ulp
  // across engines; d6 absorbs it (q116's discipline).
  def q123Bm25(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
      queryTerms = Seq("spark", "merge", "vector"), k1 = 1.2, b = 0.75,
      topK = 50)

  val q123Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |dl AS (SELECT doc_id, count(*) AS dlen FROM tk2 GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qt AS (SELECT * FROM (VALUES ('spark'), ('merge'), ('vector')) v(term)),
      |df AS (SELECT tok AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |       FROM tk2 JOIN qt ON tok = term GROUP BY 1),
      |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tk2 JOIN qt ON tok = term GROUP BY 1, 2),
      |sc AS (
      |  SELECT tf.doc_id,
      |    sum(ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |        tf.tf * 2.2 /
      |        (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dlen AS DOUBLE) / st.avgdl)))
      |      AS score
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1)
      |SELECT doc_id, CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) AS bm25_score
      |FROM sc ORDER BY 2 DESC, doc_id LIMIT 50""".stripMargin

  // q124: NFC normalization through the codegen'd NfcNormalize
  // expression. The ASCII fixture is trivially normalized, so the entry
  // plants decomposed sequences IN-PLAN (combining acute/diaeresis +
  // one of ring/tilde/cedilla by doc_id) — identical expressions both
  // sides — and the oracle's nfc_normalize() must produce the same
  // composed string, byte for byte, plus the codepoint-count drop.
  def q124NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    // the combining marks are spelled as \u escapes so the planted text
    // is DECOMPOSED regardless of how an editor or transcoder re-saves
    // this file; precomposed literals would make the pass a no-op
    val marked = concat(
      lit("Cafe\u0301 stra\u00DFe no\u0308 "),
      when(col("doc_id") % 3 === 0, lit("a\u030A"))
        .when(col("doc_id") % 3 === 1, lit("n\u0303"))
        .otherwise(lit("c\u0327")),
      lit(" "), substring(col("text"), 1, 40))
    t(s, dir, "documents")
      .select(col("doc_id"), marked.as("raw"))
      .select(col("doc_id"),
        NfcNormalize.nfcNormalize(col("raw")).as("nfc_text"),
        length(col("raw")).cast("long").as("len_raw"),
        length(NfcNormalize.nfcNormalize(col("raw"))).cast("long").as("len_nfc"))
  }

  val q124Sql: String =
    """WITH marked AS (
      |  SELECT doc_id,
      |    concat('Cafe', chr(769), ' stra', chr(223), 'e no', chr(776), ' ',
      |           CASE doc_id % 3 WHEN 0 THEN concat('a', chr(778))
      |                           WHEN 1 THEN concat('n', chr(771))
      |                           ELSE concat('c', chr(807)) END,
      |           ' ', substring(text, 1, 40)) AS raw
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
      |FROM marked""".stripMargin

  // q125: chunk-level corpus dedup. The fixture has no cross-document
  // boilerplate, so a 60-char banner is planted onto every 5th document
  // IN-PLAN (both engines identically); dedup must strip it everywhere
  // except its min-id owner (doc 0). At sf0.01 the corpus ALSO
  // contributes ~21 natural duplicate 60-char chunks from its near-dup
  // documents — the planted rows are not the only kill path.
  private val Boiler =
    "subscribe to our newsletter today for updates and offers now"

  def q125ChunkDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.chunkDedupCorpus(
      t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(lit(Boiler), col("text")))
          .otherwise(col("text")).as("text")),
      "doc_id", "text", chunkChars = 60)

  val q125Sql: String =
    s"""WITH marked AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0 THEN '$Boiler' || text ELSE text END AS t
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, t,
       |    greatest(1, CAST(ceil(length(t) / 60.0) AS BIGINT)) AS nc FROM marked),
       |ch AS (
       |  SELECT doc_id, unnest(range(nc)) AS chunk_idx,
       |    substring(t, CAST(unnest(range(nc)) * 60 + 1 AS INT), 60) AS chunk
       |  FROM n),
       |own AS (
       |  SELECT chunk, min(doc_id) AS owner, count(DISTINCT doc_id) AS n_docs
       |  FROM ch GROUP BY 1),
       |kept AS (
       |  SELECT ch.doc_id, ch.chunk_idx, ch.chunk
       |  FROM ch JOIN own USING (chunk)
       |  WHERE own.n_docs = 1 OR ch.doc_id = own.owner),
       |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1)
       |SELECT tot.doc_id, tot.n_chunks,
       |  tot.n_chunks - coalesce(k.n_kept, 0) AS n_dropped,
       |  coalesce(k.dedup_text, '') AS dedup_text
       |FROM tot LEFT JOIN (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, '' ORDER BY chunk_idx) AS dedup_text
       |  FROM kept GROUP BY 1) k USING (doc_id)""".stripMargin

  // q126: domain-mix sample to a 30k-char budget. src0's half-share
  // overflows its ~8k chars → rate clamps to 1 (everything kept); the
  // long tail keeps ~2%. Rates are single-division doubles (portable);
  // membership is the salted md5 hash, the q80 predicate.
  def q126MixSample(s: SparkSession, dir: String): DataFrame = {
    val weights: Map[String, Double] =
      Map("src0" -> 0.5, "src1" -> 0.1) ++
        (2 until 20).map(i => s"src$i" -> 0.4 / 18).toMap
    Sampling.budgetMixSample(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
      "doc_id", "source", "n_chars", weights, budget = 30000L, salt = "mix")
      .select(col("doc_id"), col("source"), d6(col("keep_rate")).as("keep_rate"))
  }

  val q126Sql: String =
    """WITH wts AS (
      |  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS tot,
      |    CASE WHEN source = 'src0' THEN 0.5
      |         WHEN source = 'src1' THEN 0.1
      |         ELSE 0.4 / 18 END AS w
      |  FROM documents
      |  -- mirror the Spark side's weight-map inner join: a domain
      |  -- absent from the weight map is DROPPED, not defaulted
      |  WHERE regexp_matches(source, '^src([0-9]|1[0-9])$')
      |  GROUP BY source),
      |r AS (
      |  SELECT source, least(1.0, 30000.0 * w / tot) AS rate FROM wts)
      |SELECT d.doc_id, d.source,
      |  CAST(CAST(r.rate AS DECIMAL(28,6)) AS DOUBLE) AS keep_rate
      |FROM documents d JOIN r USING (source)
      |WHERE CAST(concat('0x', substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
      |        1, 8)) AS BIGINT) % 1000000 < r.rate * 1000000""".stripMargin

  // q127: vocabulary coverage against the top-10 corpus vocabulary
  // (frequency DESC, token ASC — a total order, so the vocab set is
  // identical cross-engine). OOV rate d6-rounded.
  def q127VocabOov(s: SparkSession, dir: String): DataFrame =
    Retrieval.vocabCoverage(t(s, dir, "documents"), "doc_id", "text",
      vocabSize = 10)

  val q127Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |v AS (SELECT tok FROM tk2 GROUP BY tok
      |      ORDER BY count(*) DESC, tok LIMIT 10)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END)
      |    AS BIGINT) AS n_oov,
      |  CAST(CAST(CAST(sum(CASE WHEN tok IN (SELECT tok FROM v) THEN 0 ELSE 1
      |    END) AS DOUBLE) / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS oov_rate
      |FROM tk2 GROUP BY doc_id""".stripMargin

  // q406: word2vec negative-sampling table (TextStats.negSamplingTable)
  // over the corpus vocabulary (minCount 5) — the unigram^(3/4) noise
  // distribution beside q388's PPMI signal pairs; c^(3/4) computed as
  // √√(c³), two IEEE-exact sqrts, no pow() gamble. Oracle replays the
  // prune, the double-sqrt weight and the d6 share.
  def q406NegSampling(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.negSamplingTable(
      t(s, dir, "documents"), "text", minCount = 5L)

  val q406Sql: String =
    """WITH tk AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM tk
      |       WHERE tok <> '' GROUP BY 1
      |       HAVING COUNT(*) >= 5),
      |w AS (SELECT tok, n,
      |    CAST(CAST(sqrt(sqrt(CAST(n * n * n AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS weight
      |  FROM vc)
      |SELECT tok, n, weight,
      |  CAST(CAST(weight /
      |    CAST(SUM(CAST(weight AS DECIMAL(28,6))) OVER () AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS p_ns
      |FROM w""".stripMargin

  // q407: Bray–Curtis dissimilarity (TextStats.brayCurtis) between
  // source-level token profiles — the corpus-composition distance a
  // domain-mix planner reads before reweighting; 190 source pairs at
  // the fixture's 20 sources. Oracle replays the (source, token)
  // counts, the shared-min join and the one-d6 closing.
  def q407BrayCurtis(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.brayCurtis(
      t(s, dir, "documents"), "source", "text")

  val q407Sql: String =
    """WITH tk AS (
      |  SELECT source AS s, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT s, tok, CAST(COUNT(*) AS BIGINT) AS n FROM tk
      |      WHERE tok <> '' GROUP BY 1, 2),
      |tot AS (SELECT s, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY 1),
      |sh AS (SELECT a.s AS slice_a, b.s AS slice_b,
      |    CAST(SUM(LEAST(a.n, b.n)) AS BIGINT) AS shared_min
      |  FROM c a JOIN c b ON a.tok = b.tok AND a.s < b.s
      |  GROUP BY 1, 2)
      |SELECT slice_a, slice_b, ta.t AS n_a, tb.t AS n_b, shared_min,
      |  CAST(CAST(1.0 - 2.0 * CAST(shared_min AS DOUBLE) /
      |    CAST(ta.t + tb.t AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS bray_curtis
      |FROM sh JOIN tot ta ON ta.s = slice_a
      |JOIN tot tb ON tb.s = slice_b""".stripMargin

  // q426: harmonic centrality (Graph.harmonicCentrality) over the
  // q128 transition graph — Σ 1/hops(u→v), the disconnection-safe
  // closeness rank beside PageRank's stationary mass and q401's Katz.
  // Oracle replays the hop-capped BFS (recursive walk + MIN) and the
  // d6-per-term harmonic sum.
  def q426Harmonic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"))
    val edges = Behavior.transitions(e, "user_id", "event_type",
      "ts_us", tieCol = "event_id")
    Graph.harmonicCentrality(edges, "from_type", "to_type",
      maxRounds = 6)
  }

  val q426Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |seq AS (SELECT event_type AS ft,
      |          lead(event_type) OVER (PARTITION BY user_id
      |            ORDER BY ts_us, event_id) AS tt
      |        FROM e),
      |ed AS (SELECT DISTINCT ft, tt FROM seq
      |       WHERE tt IS NOT NULL AND ft <> tt),
      |nodes AS (SELECT DISTINCT node FROM (
      |            SELECT ft AS node FROM ed
      |            UNION ALL SELECT tt FROM ed)),
      |walk AS (
      |  SELECT ft AS s, tt AS d, 1 AS h FROM ed
      |  UNION
      |  SELECT w.s, ed.tt, w.h + 1
      |  FROM walk w JOIN ed ON ed.ft = w.d
      |  WHERE w.h < 6 AND w.s <> ed.tt),
      |dist AS (SELECT s, d, CAST(MIN(h) AS BIGINT) AS h
      |         FROM walk GROUP BY 1, 2),
      |hc AS (SELECT d AS node, CAST(COUNT(*) AS BIGINT)
      |    AS n_reachable,
      |    SUM(CAST(CAST(1.0 / CAST(h AS DOUBLE) AS DECIMAL(28,6))
      |      AS DECIMAL(28,6))) AS hsum
      |  FROM dist GROUP BY 1)
      |SELECT n.node, COALESCE(hc.n_reachable, 0) AS n_reachable,
      |  CAST(CAST(CAST(COALESCE(hc.hsum, CAST(0 AS DECIMAL(28,6)))
      |    AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS harmonic
      |FROM nodes n LEFT JOIN hc ON hc.node = n.node""".stripMargin

  // q401: Katz centrality over the q128 transition graph — 10 rounds
  // of c' = 1 + 0.5·Pᵀc on the normalized transition matrix; the
  // walk-counting influence rank beside PageRank's stationary mass.
  // Same oracle discipline as q128 (recursive-CTE iteration, d6 at
  // output, every fixture node has in-edges so the plain recursive
  // arm covers the universe; the no-in-edge β-hold semantics are
  // pinned in GraphCoreSpec).
  def q401Katz(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"))
    val edges = Behavior.transitions(ev, "user_id", "event_type",
      "ts_us", tieCol = "event_id")
    Graph.katz(edges, "from_type", "to_type", "n_transitions",
        iters = 10, alpha = 0.5, beta = 1.0)
      .select(col("node"), d6(col("katz")).as("katz"))
  }

  val q401Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |seq AS (SELECT event_type AS from_type,
      |          lead(event_type) OVER (PARTITION BY user_id
      |            ORDER BY ts_us, event_id) AS to_type
      |        FROM e),
      |ed AS (SELECT from_type, to_type, count(*) AS n FROM seq
      |       WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT from_type, to_type,
      |        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)
      |          AS p
      |      FROM ed),
      |nodes AS (SELECT DISTINCT node FROM (
      |            SELECT from_type AS node FROM ed
      |            UNION ALL SELECT to_type FROM ed)),
      |ranks AS (
      |  -- the anchor MUST be typed DOUBLE: a bare 1.0 is DECIMAL(2,1)
      |  -- and the union coerces every round's score to scale 1
      |  SELECT 0 AS it, node, CAST(1.0 AS DOUBLE) AS score FROM nodes
      |  UNION ALL
      |  SELECT r.it + 1, w.to_type, 1.0 + 0.5 * sum(r.score * w.p)
      |  FROM ranks r JOIN w ON w.from_type = r.node
      |  WHERE r.it < 10
      |  GROUP BY r.it, w.to_type)
      |SELECT node, CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) AS katz
      |FROM ranks WHERE it = 10""".stripMargin

  // q402: ordered-pair sequential support (Behavior.orderedPairSupport)
  // — the length-2 PrefixSpan support table over user event streams:
  // each user counts ONCE per "a strictly before b" pattern, the
  // per-user-deduplicated complement of q103's occurrence-weighted
  // adjacent transitions. Oracle replays the (user,type) min/max
  // frame, the existence join and the one-d6 support.
  def q402OrderedPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(s, dir)
    Behavior.orderedPairSupport(ev, "user_id", "event_type", "ts_us")
  }

  val q402Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |ut AS (SELECT user_id, event_type, MIN(us) AS mn, MAX(us) AS mx
      |       FROM e GROUP BY 1, 2),
      |sup AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type AND a.mn < b.mx
      |  GROUP BY 1, 2),
      |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nt
      |        FROM e)
      |SELECT type_a, type_b, n_users, nt AS n_users_total,
      |  CAST(CAST(CAST(n_users AS DOUBLE) / CAST(nt AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS support
      |FROM sup CROSS JOIN tot""".stripMargin

  // q128: PageRank over the event-type transition graph (q103's edges),
  // 10 fixed power-iteration rounds, damping 0.85. The oracle rebuilds
  // the same iteration with a recursive CTE whose working table is the
  // previous round's scores; the teleport term is written (1.0 − 0.85)
  // both sides (≠ the literal 0.15 by one ulp). Scores d6-rounded —
  // each engine sums incoming mass in its own order. The fixture graph
  // has no dangling nodes (all 5 types transition out), so the
  // operator's dangling redistribution contributes exactly 0 here; its
  // semantics are pinned in GraphSpec.
  def q128PageRank(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"))
    val edges = Behavior.transitions(ev, "user_id", "event_type", "ts_us",
      tieCol = "event_id")
    Graph.pageRank(edges, "from_type", "to_type", "n_transitions",
        iters = 10, damping = 0.85)
      .select(col("node"), d6(col("pagerank")).as("pagerank"))
  }

  val q128Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |seq AS (SELECT event_type AS from_type,
      |          lead(event_type) OVER (PARTITION BY user_id
      |            ORDER BY ts_us, event_id) AS to_type
      |        FROM e),
      |ed AS (SELECT from_type, to_type, count(*) AS n FROM seq
      |       WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |w AS (SELECT from_type, to_type,
      |        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
      |      FROM ed),
      |nodes AS (SELECT DISTINCT node FROM (
      |            SELECT from_type AS node FROM ed
      |            UNION ALL SELECT to_type FROM ed)),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |ranks AS (
      |  SELECT 0 AS it, node, 1.0 / (SELECT CAST(n AS DOUBLE) FROM nn) AS score
      |  FROM nodes
      |  UNION ALL
      |  SELECT r.it + 1, w.to_type,
      |    (1.0 - 0.85) / (SELECT CAST(n AS DOUBLE) FROM nn)
      |      + 0.85 * sum(r.score * w.p)
      |  FROM ranks r JOIN w ON w.from_type = r.node
      |  WHERE r.it < 10
      |  GROUP BY r.it, w.to_type)
      |SELECT node, CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) AS pagerank
      |FROM ranks WHERE it = 10""".stripMargin

  // q129: SemDeDup-style semantic dedup over the embeddings fixture —
  // exact blocked cosine pairs at t=0.4 (q26's pair set), connected
  // components, min-id keeps. 58 of 500 vectors drop at sf0.01. The
  // oracle rebuilds the closure with a recursive CTE (q46's method on
  // q26's pairs).
  def q129SemanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.semanticDedup(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)

  val q129Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
      |           AS qv
      |  FROM embeddings),
      |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.qv*b.qv) AS dot
      |         FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
      |         GROUP BY 1,2),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |pairs AS (
      |  SELECT vec_a, vec_b
      |  FROM dots JOIN norms na ON vec_a=na.vec_id JOIN norms nb ON vec_b=nb.vec_id
      |  WHERE CAST(dot AS DOUBLE)/SQRT(CAST(na.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE))
      |        >= 0.4),
      |edges AS (
      |  SELECT vec_a AS src, vec_b AS dst FROM pairs
      |  UNION SELECT vec_b, vec_a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
      |cl AS (SELECT id, MIN(lab) AS canonical_id FROM reach GROUP BY id)
      |SELECT v.vec_id,
      |  coalesce(cl.canonical_id, v.vec_id) AS canonical_id,
      |  CASE WHEN coalesce(cl.canonical_id, v.vec_id) = v.vec_id
      |       THEN 1 ELSE 0 END AS is_kept
      |FROM embeddings v LEFT JOIN cl ON v.vec_id = cl.id""".stripMargin

  // q130: bigram LM quality score, add-k smoothing (k=0.5 — exact in
  // binary, so both engines smooth identically). avg_logprob d6 as
  // q116; per-doc bigram formation shares the window tie-free (pos is
  // unique per doc).
  def q130BigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val out = graft.pipeline.TextStats.bigramLogProb(
      t(s, dir, "documents"), "doc_id", "text", addK = 0.5)
    out.select(col("doc_id"), col("n_bigrams"),
      d6(col("avg_logprob")).as("avg_logprob"))
  }

  val q130Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2 GROUP BY 1,2),
      |c1 AS (SELECT tok, count(*) AS c1 FROM bi2 GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk2)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(sum(ln((CAST(c12 AS DOUBLE) + 0.5)
      |      / (CAST(c1 AS DOUBLE) + 0.5 * v)))
      |    / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS avg_logprob
      |FROM bi2 JOIN c12 USING (tok, nxt) JOIN c1 USING (tok) CROSS JOIN v
      |GROUP BY doc_id""".stripMargin


  // q138: triangle count + local clustering coefficient over the token
  // co-occurrence graph (tokens adjacent iff they share a document).
  // The fixture's compact vocabulary makes the graph dense, so every
  // code path — wedge generation, closure, zero-triangle pendants — is
  // exercised. The oracle enumerates each triangle once via the a<b<c
  // ordered 3-way self-join; the operator's degree-ordered orientation
  // must land on the same per-node counts.
  def q138Triangles(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val a = toks.select(col("doc_id"), col("tok").as("tok_a"))
    val b = toks.select(col("doc_id"), col("tok").as("tok_b"))
    val pairs = a.join(b, "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .select(col("tok_a"), col("tok_b")).distinct()
    graft.ops.Graph.triangles(pairs, "tok_a", "tok_b")
      .select(col("node"), col("degree"), col("n_triangles"),
        d6(col("clustering_coeff")).as("clustering_coeff"))
  }

  val q138Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT DISTINCT doc_id, tok FROM tk WHERE tok <> ''),
      |und AS (
      |  SELECT DISTINCT a.tok AS ta, b.tok AS tb
      |  FROM tk2 a JOIN tk2 b ON a.doc_id = b.doc_id AND a.tok < b.tok),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT ta AS node FROM und UNION ALL SELECT tb FROM und)
      |  GROUP BY 1),
      |tri AS (
      |  SELECT u.ta AS a, u.tb AS b, v.tb AS c
      |  FROM und u JOIN und v ON v.ta = u.tb
      |             JOIN und w ON w.ta = u.ta AND w.tb = v.tb),
      |pt AS (
      |  SELECT node, count(*) AS n_triangles FROM (
      |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT deg.node, deg.degree,
      |  coalesce(pt.n_triangles, 0) AS n_triangles,
      |  CAST(CAST(CASE WHEN deg.degree < 2 THEN 0.0
      |    ELSE coalesce(pt.n_triangles, 0) * 2.0
      |         / (deg.degree * (deg.degree - 1)) END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS clustering_coeff
      |FROM deg LEFT JOIN pt USING (node)""".stripMargin

  // q139: weighted HITS over the q128 transition graph, 10 rounds. The
  // operator L1-normalizes the hub vector EVERY round (what keeps
  // count-valued weights inside double range at corpus scale); the
  // oracle runs the same iteration UNNORMALIZED in one recursive CTE —
  // h_i = A·Aᵀ·h_{i-1} as a two-hop join — and normalizes once at the
  // end. Every step is linear, so the scale factors cancel and the two
  // normalized vectors agree to fp noise; d6 absorbs it. The recursive
  // column is CAST to DOUBLE in the base case (the DuckDB type-pinning
  // gotcha).
  def q139Hits(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"))
    val edges = Behavior.transitions(ev, "user_id", "event_type", "ts_us",
      tieCol = "event_id")
    graft.ops.Graph.hits(edges, "from_type", "to_type", "n_transitions",
        iters = 10)
      .select(col("node"), d6(col("hub")).as("hub"),
        d6(col("authority")).as("authority"))
  }

  val q139Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |seq AS (SELECT event_type AS from_type,
      |          lead(event_type) OVER (PARTITION BY user_id
      |            ORDER BY ts_us, event_id) AS to_type
      |        FROM e),
      |ed AS (SELECT from_type, to_type, CAST(count(*) AS DOUBLE) AS n
      |       FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT node FROM (
      |            SELECT from_type AS node FROM ed
      |            UNION ALL SELECT to_type FROM ed)),
      |ranks(it, node, hub) AS (
      |  SELECT 0, node, CAST(1.0 AS DOUBLE) FROM nodes
      |  UNION ALL
      |  SELECT r.it + 1, eu.from_type, sum(eu.n * ex.n * r.hub)
      |  FROM ranks r JOIN ed ex ON ex.from_type = r.node
      |               JOIN ed eu ON eu.to_type = ex.to_type
      |  WHERE r.it < 10
      |  GROUP BY 1, 2),
      |hfin AS (SELECT node, hub FROM ranks WHERE it = 10),
      |hprev AS (SELECT node, hub FROM ranks WHERE it = 9),
      |afin AS (SELECT ed.to_type AS node, sum(ed.n * hprev.hub) AS auth
      |         FROM ed JOIN hprev ON ed.from_type = hprev.node GROUP BY 1),
      |hs AS (SELECT sum(hub) AS s FROM hfin),
      |asum AS (SELECT sum(auth) AS s FROM afin)
      |SELECT n.node,
      |  CAST(CAST(coalesce(h.hub, 0) / (SELECT s FROM hs)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS hub,
      |  CAST(CAST(coalesce(a.auth, 0) / (SELECT s FROM asum)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS authority
      |FROM nodes n LEFT JOIN hfin h USING (node)
      |             LEFT JOIN afin a ON a.node = n.node""".stripMargin

  // q140: Unicode-script composition. The ASCII fixture is all-Latin, so
  // Cyrillic/Greek/Han runs (precomposed codepoints — no normalization
  // hazard, unlike q124's combining marks) plus a digit run are planted
  // IN-PLAN by doc_id class, identically on both sides. Each engine
  // spells the SAME script property its own way (\p{IsLatin} Java,
  // \p{Latin} RE2) — the portability contract under test.
  private def q140Planted: Column =
    concat(substring(col("text"), 1, 60), lit(" 4207 "),
      when(col("doc_id") % 4 === 0, lit("привет мир"))
        .when(col("doc_id") % 4 === 1, lit("γεια σου κόσμε"))
        .when(col("doc_id") % 4 === 2, lit("你好世界"))
        .otherwise(lit("hello world")))

  def q140ScriptMix(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.scriptMix(
      t(s, dir, "documents").select(col("doc_id"), q140Planted.as("t")),
      "doc_id", "t")

  // q152: q140 through the codegen'd single-pass ScriptCounts
  // expression — one text walk instead of five regex automata, same
  // output contract. Shares q140's oracle verbatim: the SQL is the
  // cross-check that Character.UnicodeScript.of and the two regex
  // engines' \p{Script} classes agree on the planted corpus.
  def q152ScriptMixFast(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.scriptMixFast(
      t(s, dir, "documents").select(col("doc_id"), q140Planted.as("t")),
      "doc_id", "t")

  val q140Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    substring(text, 1, 60) || ' 4207 ' ||
      |    CASE doc_id % 4 WHEN 0 THEN 'привет мир'
      |                    WHEN 1 THEN 'γεια σου κόσμε'
      |                    WHEN 2 THEN '你好世界'
      |                    ELSE 'hello world' END AS t
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |    CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g')) AS BIGINT)
      |      AS n_latin,
      |    CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT)
      |      AS n_cyrillic,
      |    CAST(length(regexp_replace(t, '[^\p{Greek}]', '', 'g')) AS BIGINT)
      |      AS n_greek,
      |    CAST(length(regexp_replace(t, '[^\p{Han}]', '', 'g')) AS BIGINT)
      |      AS n_han,
      |    CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS n_digit
      |  FROM m)
      |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_han, n_digit,
      |  CAST(CAST(CAST(n_latin AS DOUBLE) / n_chars AS DECIMAL(28,6))
      |    AS DOUBLE) AS latin_share,
      |  CAST(CAST(CAST(n_cyrillic AS DOUBLE) / n_chars AS DECIMAL(28,6))
      |    AS DOUBLE) AS cyrillic_share,
      |  CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
      |         AND n_latin >= n_han THEN 'latin'
      |       WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_han
      |         THEN 'cyrillic'
      |       WHEN n_greek >= n_han THEN 'greek'
      |       ELSE 'han' END AS dominant_script
      |FROM c""".stripMargin

  // q141: markup strip. Script/style blocks (with a '<' inside the JS —
  // the case that breaks naive tag-stripping), attribute-bearing tags
  // and the six standard entities (incl. the &amp;lt; double-decode
  // trap) are planted IN-PLAN; both engines must strip to the same
  // plain text and count the same blocks/tags.
  def q141StripMarkup(s: SparkSession, dir: String): DataFrame = {
    val marked = concat(
      lit("<html><body class=\"page\"><script type=\"text/js\">var x = 1 < 2;" +
        "</script><h1>"),
      substring(col("text"), 1, 50),
      lit("</h1><style>.a { color: red; }</style>" +
        "<p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;q&#39; A&nbsp;B" +
        " literal &amp;lt; stays</p>"),
      when(col("doc_id") % 3 === 0, lit("<br><div id='x'>tail</div>"))
        .otherwise(lit(" plain tail")))
    graft.pipeline.TextClean.stripMarkup(
        t(s, dir, "documents").select(col("doc_id"), marked.as("t")), "t")
      .select(col("doc_id"), col("n_blocks"), col("n_tags"),
        col("stripped_text"))
  }

  val q141Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    '<html><body class="page"><script type="text/js">var x = 1 < 2;'
      |    || '</script><h1>' || substring(text, 1, 50)
      |    || '</h1><style>.a { color: red; }</style>'
      |    || '<p>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;q&#39; A&nbsp;B'
      |    || ' literal &amp;lt; stays</p>'
      |    || CASE WHEN doc_id % 3 = 0 THEN '<br><div id=''x''>tail</div>'
      |            ELSE ' plain tail' END AS t
      |  FROM m0),
      |s1 AS (
      |  SELECT doc_id, t,
      |    CAST(len(regexp_extract_all(t,
      |      '(?s)<(script|style)[^>]*>.*?</(script|style)>')) AS BIGINT)
      |      AS n_blocks,
      |    regexp_replace(t, '(?s)<(script|style)[^>]*>.*?</(script|style)>',
      |      ' ', 'g') AS t1
      |  FROM m),
      |s2 AS (
      |  SELECT doc_id, n_blocks,
      |    CAST(len(regexp_extract_all(t1, '<[^>]+>')) AS BIGINT) AS n_tags,
      |    regexp_replace(t1, '<[^>]+>', ' ', 'g') AS t2
      |  FROM s1),
      |s3 AS (
      |  SELECT doc_id, n_blocks, n_tags,
      |    replace(replace(replace(replace(replace(replace(t2,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&') AS t3
      |  FROM s2)
      |SELECT doc_id, n_blocks, n_tags,
      |  trim(regexp_replace(t3, '\s+', ' ', 'g')) AS stripped_text
      |FROM s3""".stripMargin.replace("FROM m0", "FROM documents")

  // q142: top-50 bigram collocations by PMI (Church-Hanks), pair count
  // >= 5. PMI is d6-rounded BEFORE the rank and the (pmi DESC, pair)
  // order is total, so the top-k boundary is rounding-stable; the
  // probability quotient is spelled with the same operation order both
  // sides.
  def q142PmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.pmiCollocations(
      t(s, dir, "documents"), "doc_id", "text", minCount = 5L, topK = 50)

  val q142Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tk2),
      |ct AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tk2 GROUP BY 1),
      |bi AS (
      |  SELECT doc_id, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bi2),
      |c12 AS (SELECT tok, nxt, count(*) AS n_pair FROM bi2
      |        GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT c12.tok AS tok_a, c12.nxt AS tok_b, c12.n_pair,
      |  CAST(CAST(ln((CAST(c12.n_pair AS DOUBLE) / nb.n)
      |      / ((ca.c / nt.n) * (cb.c / nt.n)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pmi
      |FROM c12 JOIN ct ca ON ca.tok = c12.tok
      |         JOIN ct cb ON cb.tok = c12.nxt
      |         CROSS JOIN nb CROSS JOIN nt
      |ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin

  // q144: per-dimension z-score normalization of the embeddings fixture.
  // The operator returns the re-packed array; the ENTRY posexplodes it
  // back to (vec_id, dim_idx, z) rows because the driver's compare
  // stringifies cells (a parquet array and a DuckDB list don't render
  // identically). Stats come from exact integer sums on the
  // floor(v·1000) grid, so only the final few double ops matter — and
  // they're spelled in the same order both sides; d6 pins the output.
  def q144EmbedZnorm(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.zNormalize(
        t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"),
        posexplode(col("z_embedding")).as(Seq("dim_idx", "z")))
      .select(col("vec_id"), col("dim_idx").cast("bigint").as("dim_idx"),
        col("z"))

  val q144Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim_idx,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
      |      AS q
      |  FROM embeddings),
      |st AS (SELECT dim_idx, count(*) AS n, sum(q) AS sm, sum(q*q) AS sq
      |       FROM e GROUP BY 1),
      |sv AS (SELECT dim_idx, n, CAST(sm AS DOUBLE) / n AS mean,
      |         (CAST(sq AS DOUBLE)
      |           - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / n) / (n - 1)
      |           AS var
      |       FROM st)
      |SELECT e.vec_id, CAST(e.dim_idx AS BIGINT) AS dim_idx,
      |  CAST(CAST(CASE WHEN sv.var <= 0 OR sv.n = 1 THEN 0.0
      |    ELSE (CAST(e.q AS DOUBLE) - sv.mean) / sqrt(sv.var) END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS z
      |FROM e JOIN sv USING (dim_idx)""".stripMargin

  // q145: per-domain corpus stats over planted URLs (the fixture has no
  // url column): five host shapes cover www-stripping, subdomains and
  // the two-label registrable heuristic's documented co.uk behavior.
  // Extraction is the RE2-portable regex pair in TextClean.
  def q145DomainStats(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"),
      when(col("doc_id") % 5 === 0, lit("www.example.com"))
        .when(col("doc_id") % 5 === 1, lit("blog.example.com"))
        .when(col("doc_id") % 5 === 2, lit("example.org"))
        .when(col("doc_id") % 5 === 3, lit("www.news.co.uk"))
        .otherwise(lit("cdn.assets.example.com")),
      lit("/p/"), col("doc_id").cast("string"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), url.as("url"))
    val withDom = docs.select(col("doc_id"), col("n_chars"),
      graft.pipeline.TextClean.urlHost(col("url")).as("host"))
      .select(col("doc_id"), col("n_chars"), col("host"),
        graft.pipeline.TextClean.registrableDomain(col("host")).as("domain"))
    withDom.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(col("n_chars")).as("total_chars"))
  }

  val q145Sql: String =
    """WITH u AS (
      |  SELECT doc_id, n_chars,
      |    'https://' ||
      |    CASE doc_id % 5 WHEN 0 THEN 'www.example.com'
      |                    WHEN 1 THEN 'blog.example.com'
      |                    WHEN 2 THEN 'example.org'
      |                    WHEN 3 THEN 'www.news.co.uk'
      |                    ELSE 'cdn.assets.example.com' END
      |    || '/p/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, n_chars,
      |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
      |  FROM u),
      |d AS (
      |  SELECT doc_id, n_chars, host,
      |    CASE WHEN regexp_matches(regexp_replace(host, '^www\.', ''),
      |                '[^.]+\.[^.]+$')
      |         THEN regexp_extract(regexp_replace(host, '^www\.', ''),
      |                '([^.]+\.[^.]+)$', 1)
      |         ELSE regexp_replace(host, '^www\.', '') END AS domain
      |  FROM h)
      |SELECT domain, count(*) AS n_docs,
      |  count(DISTINCT host) AS n_hosts,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM d GROUP BY 1""".stripMargin

  // q146: the composed C4-style quality gate over planted degradations:
  // a digit flood (numeric), a symbol flood (symbol), a 20-char stub
  // (too_short), natural text untouched. Tail sizes dominate the
  // longest fixture doc (553 chars), so each planted class crosses its
  // threshold deterministically; the shortest natural docs legitimately
  // gate as too_short on BOTH sides — agreement, not purity, is the
  // contract.
  def q146C4Filter(s: SparkSession, dir: String): DataFrame = {
    val planted =
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" "), repeat(lit("12345 "), 30)))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" "), repeat(lit("@#$%& "), 25)))
        .when(col("doc_id") % 4 === 2, substring(col("text"), 1, 20))
        .otherwise(col("text"))
    graft.pipeline.TextStats.qualityFilter(
      t(s, dir, "documents").select(col("doc_id"), planted.as("t")),
      "doc_id", "t")
  }

  val q146Sql: String =
    """WITH m AS (
      |  SELECT doc_id, CASE doc_id % 4
      |    WHEN 0 THEN text || ' ' || repeat('12345 ', 30)
      |    WHEN 1 THEN text || ' ' || repeat('@#$%& ', 25)
      |    WHEN 2 THEN substring(text, 1, 20)
      |    ELSE text END AS t
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM m),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |ts AS (SELECT doc_id, count(*) AS n_tokens, sum(length(tok)) AS sl
      |       FROM tk2 GROUP BY 1),
      |ch AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |    CAST(length(regexp_replace(t, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT)
      |      AS n_sym,
      |    CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS n_dig
      |  FROM m),
      |j AS (
      |  SELECT ch.doc_id, coalesce(ts.n_tokens, 0) AS n_tokens,
      |    CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
      |         ELSE CAST(ts.sl AS DOUBLE) / ts.n_tokens END AS atl,
      |    CASE WHEN ch.n_chars = 0 THEN 0.0
      |         ELSE CAST(ch.n_sym AS DOUBLE) / ch.n_chars END AS sym,
      |    CASE WHEN ch.n_chars = 0 THEN 0.0
      |         ELSE CAST(ch.n_dig AS DOUBLE) / ch.n_chars END AS dig
      |  FROM ch LEFT JOIN ts USING (doc_id)),
      |v AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(CAST(atl AS DECIMAL(28,6)) AS DOUBLE) AS avg_tok_len,
      |    CAST(CAST(sym AS DECIMAL(28,6)) AS DOUBLE) AS symbol_share,
      |    CAST(CAST(dig AS DECIMAL(28,6)) AS DOUBLE) AS digit_share,
      |    CASE WHEN n_tokens < 40 THEN 'too_short'
      |         WHEN atl < 2.0 OR atl > 12.0 THEN 'token_len'
      |         WHEN sym > 0.1 THEN 'symbol'
      |         WHEN dig > 0.15 THEN 'numeric'
      |         ELSE 'kept' END AS reason
      |  FROM j)
      |SELECT doc_id, n_tokens, avg_tok_len, symbol_share, digit_share,
      |  reason, CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS is_kept
      |FROM v""".stripMargin

  // q148: cross-corpus novelty gate. Seen corpus = docs with id%3 != 0;
  // the incoming crawl is re-crawls of seen docs (uppercased +
  // double-trailing-space — canonical-equal under q137's key) plus
  // genuinely new docs (a unique token appended), both built IN-PLAN
  // identically on both sides. Re-crawls must flag 0, new docs 1.
  def q148NovelAgainst(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val seen = docs.filter(col("doc_id") % 3 =!= 0)
    val crawl = docs.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 50000).as("doc_id"),
        concat(upper(col("text")), lit("  ")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 60000).as("doc_id"),
          concat(col("text"), lit(" xyzzy"),
            col("doc_id").cast("string")).as("text")))
    TextDedup.novelAgainst(crawl, seen, "doc_id", "text")
  }

  val q148Sql: String =
    """WITH seen AS (
      |  SELECT DISTINCT md5(trim(regexp_replace(lower(nfc_normalize(text)),
      |    '\s+', ' ', 'g'))) AS k
      |  FROM documents WHERE doc_id % 3 <> 0),
      |crawl AS (
      |  SELECT doc_id + 50000 AS doc_id, upper(text) || '  ' AS text
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id + 60000, text || ' xyzzy' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 3 = 0),
      |k AS (
      |  SELECT doc_id, md5(trim(regexp_replace(lower(nfc_normalize(text)),
      |    '\s+', ' ', 'g'))) AS k
      |  FROM crawl)
      |SELECT k.doc_id,
      |  CASE WHEN seen.k IS NULL THEN 1 ELSE 0 END AS is_novel
      |FROM k LEFT JOIN seen USING (k)""".stripMargin

  // q149: feature-hashed bag-of-words, 32 dims. The md5-prefix dim
  // assignment is the engine-portable membership hash (q50/q80's idiom)
  // applied to featurization; the oracle recomputes it with DuckDB's
  // hex-literal cast.
  def q149HashedBow(s: SparkSession, dir: String): DataFrame =
    Retrieval.hashedBow(t(s, dir, "documents"), "doc_id", "text", dims = 32)

  val q149Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |h AS (
      |  SELECT doc_id, tok,
      |    CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) % 32 AS dim
      |  FROM tk2)
      |SELECT doc_id, dim, count(*) AS weight,
      |  count(DISTINCT tok) AS n_terms
      |FROM h GROUP BY 1, 2""".stripMargin

  // q153: cross-corpus near-dup pairs — the nightly-crawl-vs-corpus
  // shape. The incoming crawl is every even-id doc with a 'zzz' token
  // prefixed (ids +70000): one shingle replaced at the front, so each
  // crawl doc pairs with its source at J = (s)/(s+1) ≈ 0.9+, well over
  // the 0.6 gate; natural fixture near-dups across the halves surface
  // too (deterministic both sides). Exact and lossless, so the oracle
  // is the full inverted-index SQL.
  def q153CrossNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val crawl = docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 70000).as("doc_id"),
        concat(lit("zzz "), col("text")).as("text"))
    TextDedup.jaccardPairsAcross(
      TextDedup.shingles(crawl, "doc_id", "text", n = 3),
      TextDedup.shingles(docs, "doc_id", "text", n = 3),
      "doc_id", threshold = 0.6)
  }

  val q153Sql: String =
    """WITH crawl AS (
      |  SELECT doc_id + 70000 AS doc_id, 'zzz ' || text AS text
      |  FROM documents WHERE doc_id % 2 = 0),
      |tka AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM crawl),
      |sha AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |      AS shingle
      |  FROM tka WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sha2 AS (SELECT doc_id, shingle FROM sha WHERE shingle IS NOT NULL),
      |tkb AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |shb AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |      AS shingle
      |  FROM tkb WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |shb2 AS (SELECT doc_id, shingle FROM shb WHERE shingle IS NOT NULL),
      |sza AS (SELECT doc_id, COUNT(*) AS n FROM sha2 GROUP BY 1),
      |szb AS (SELECT doc_id, COUNT(*) AS n FROM shb2 GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS new_id, b.doc_id AS seen_id, COUNT(*) AS n_common
      |  FROM sha2 a JOIN shb2 b ON a.shingle = b.shingle
      |  GROUP BY 1, 2)
      |SELECT new_id, seen_id, n_common,
      |  CAST(n_common AS DOUBLE) / (sza.n + szb.n - n_common) AS jaccard
      |FROM inter JOIN sza ON new_id = sza.doc_id
      |           JOIN szb ON seen_id = szb.doc_id
      |WHERE CAST(n_common AS DOUBLE) / (sza.n + szb.n - n_common)
      |  >= 0.6""".stripMargin

  // q158: accent folding through the codegen'd AccentStrip expression —
  // precomposed accents (é à ü ñ ç Å) AND decomposed combining
  // sequences (́, ̃ — spelled as escapes, the q124
  // discipline) plant in-plan; DuckDB's strip_accents() must produce
  // the same fold. Only canonically-decomposable marks are in the
  // planted set (ł/ø-style base-codepoint diacritics are documented
  // pass-throughs and deliberately absent).
  def q158AccentFold(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("café àü ñoço Ångström "),
      lit("e\u0301 n\u0303 "), substring(col("text"), 1, 40))
    t(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        graft.functions.AccentStrip.accentStrip(col("raw")).as("folded"),
        length(col("raw")).cast("long").as("len_raw"),
        length(graft.functions.AccentStrip.accentStrip(col("raw")))
          .cast("long").as("len_folded"))
  }

  val q158Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    'caf' || chr(233) || ' ' || chr(224) || chr(252) || ' '
      |    || chr(241) || 'o' || chr(231) || 'o ' || chr(197)
      |    || 'ngstr' || chr(246) || 'm '
      |    || 'e' || chr(769) || ' n' || chr(771) || ' '
      |    || substring(text, 1, 40) AS raw
      |  FROM documents)
      |SELECT doc_id, strip_accents(raw) AS folded,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(strip_accents(raw)) AS BIGINT) AS len_folded
      |FROM m""".stripMargin

  // q160: accent-insensitive dedup — the opt-in AccentStrip stage
  // composed ONTO q137's canonical key (NFC → casefold → whitespace →
  // fold accents). Re-crawls that differ by accent encoding AND case
  // ("CAFÉ  bar" vs "cafe bar") collapse onto one group; q137's
  // canonical key alone would keep them apart.
  def q160AccentDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val aug = docs
      .select(col("doc_id"), concat(col("text"), lit(" cafe bar")).as("t"))
      .unionAll(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(upper(col("text")), lit(" CAFÉ  BÀR")).as("t")))
    TextDedup.exactDedup(
      aug.select(col("doc_id"),
        graft.functions.AccentStrip.accentStrip(
          graft.pipeline.TextClean.canonicalForDedup(col("t"))).as("t")),
      "doc_id", "t")
  }

  val q160Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text || ' cafe bar' AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 40000,
      |    upper(text) || ' CAF' || chr(201) || '  BA' || chr(768) || 'R'
      |  FROM documents WHERE doc_id % 9 = 0),
      |canon AS (
      |  SELECT doc_id,
      |    strip_accents(trim(regexp_replace(lower(nfc_normalize(t)),
      |      '\s+', ' ', 'g'))) AS c
      |  FROM aug)
      |SELECT md5(c) AS content_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM canon GROUP BY 1""".stripMargin

  // q162: Count-Min frequency estimates over the corpus token stream —
  // the point-estimate sibling of the q73 Misra-Gries sketch. DECLARED
  // ROWS-ONLY: murmur isn't portable SQL; the CM guarantees (never
  // underestimates, bounded overestimate, partitioning-invariance from
  // exact integer sums) are asserted in PipelineSpec, and q221 is the
  // hash-exact md5-ring twin that driver-checks the identical table +
  // estimate path.
  def q162CountMin(s: SparkSession, dir: String): DataFrame =
    graft.functions.CountMin.estimates(
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= ""),
      "tok")

  // q221: the PORTABLE Count-Min twin — q162's sketch on the md5-ring
  // hash family, width 16 so the fixture's 31-term vocabulary actually
  // collides (estimates genuinely exceed true counts). The oracle
  // rebuilds the ENTIRE depth×width counter table by group-by over the
  // md5-derived (row, bucket) pairs, then answers every distinct term
  // with the same min-over-rows probe — so the driver hash-checks the
  // sketch's table, hashes and estimate path end to end. q162's murmur
  // form stays the fast production default (rows-only by design).
  def q221CountMinPortable(s: SparkSession, dir: String): DataFrame =
    graft.functions.CountMin.estimates(
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= ""),
      "tok", depth = 4, width = 16, portable = true)

  val q221Sql: String =
    """WITH tk AS MATERIALIZED (
      |  SELECT word AS term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t0
      |  WHERE word <> ''),
      |h AS MATERIALIZED (
      |  SELECT term, i,
      |    CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || ':' || term),
      |      1, 8)) AS BIGINT) % 16 AS b
      |  FROM tk CROSS JOIN range(0, 4) AS s(i)),
      |tab AS MATERIALIZED (SELECT i, b, COUNT(*) AS c FROM h GROUP BY 1, 2),
      |d AS (SELECT DISTINCT term, i, b FROM h)
      |SELECT d.term, CAST(MIN(tab.c) AS BIGINT) AS est_count
      |FROM d JOIN tab ON d.i = tab.i AND d.b = tab.b
      |GROUP BY 1""".stripMargin

  // q222: the PORTABLE Misra-Gries twin — the same summary computed as
  // ONE mergeable-summaries merge over the exact count table (est =
  // count − c₍k+1₎ for the top k, positives only) instead of the
  // order-dependent stream fold. Order-independent, hence the
  // cross-engine oracle q73 can't have; k=8 on a 31-term vocabulary so
  // the threshold subtraction genuinely fires. All MG guarantees hold
  // (see HeavyHitters.heavyHittersPortable scaladoc).
  def q222HeavyHittersPortable(s: SparkSession, dir: String): DataFrame =
    graft.functions.HeavyHitters.heavyHittersPortable(
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= ""),
      "tok", k = 8)

  val q222Sql: String =
    """WITH tk AS (
      |  SELECT word AS term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t0
      |  WHERE word <> ''),
      |c AS (SELECT term, COUNT(*) AS n FROM tk GROUP BY 1),
      |r AS (SELECT term, n,
      |  ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rn FROM c),
      |thr AS (SELECT COALESCE(MAX(CASE WHEN rn = 9 THEN n END), 0) AS t
      |  FROM r)
      |SELECT term, CAST(n - thr.t AS BIGINT) AS est_count
      |FROM r, thr WHERE rn <= 8 AND n - thr.t > 0""".stripMargin

  // q163: the ANN-fed SemDeDup — q129's contract with the quadratic
  // pair stage swapped for LSH-bucketed candidates verified at the
  // exact threshold (Similarity.semanticDedupAnn). Shares q129's
  // oracle VERBATIM: at 24 tables × 3 bits the fixture's cosine ≥ 0.4
  // pairs all collide in some bucket (recall 1.0, asserted per-SF in
  // SimilaritySpec), and verified candidates ⊆ exact pairs always, so
  // the pair sets — hence components, keeps, and bytes — are equal.
  // This is the 100 TB path driver-checked end-to-end: hashing is
  // shuffle-free, candidates meet through the bucket equi-join, and
  // nothing in the plan is all-pairs.
  def q163SemanticDedupAnn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.semanticDedupAnn(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)

  // q243: q163 with the LSH config DERIVED from the corpus size
  // (Similarity.lshAutoConfig — the cost-model argmin under a 0.999
  // recall floor) instead of hand-tuned constants. This is the config
  // SCALE_r11's density-law finding demands: bits move with log N, so
  // the entry that ships to a 100 TB corpus is this one, not a frozen
  // (tables, bits). Shares q129's exact oracle on the same grounds as
  // q163: the derived config's empirical recall on the fixture's
  // ≥ 0.4-cosine pairs is 1.0 at every SF (asserted per-SF in
  // SimilaritySpec), and verified candidates ⊆ exact pairs always.
  def q243SemanticDedupAnnAuto(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.semanticDedupAnnAuto(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)

  // q244: mojibake detect + repair (ftfy-lite) over PLANTED corruption:
  // every 3rd doc's text gains a suffix shipped through the real
  // UTF-8-bytes-read-as-cp1252 round trip (the corrupt literal is
  // DERIVED from the charsets at class load, never hand-typed);
  // TextClean.fixMojibake must count and reverse exactly the planted
  // sequences and pass the clean ASCII fixture docs through untouched.
  // The oracle replays the identical replace chain with the table
  // embedded as literals — generated from the same derived table; the
  // independent check that the table IS the true corruption lives in
  // PipelineSpec (re-derivation from first principles per character).
  private val mojibakeCleanSample = "café résumé — “naïve” • €99™ dança"
  private val mojibakeCorruptSample = new String(
    mojibakeCleanSample.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.Charset.forName("windows-1252"))

  def q244MojibakeRepair(s: SparkSession, dir: String): DataFrame = {
    val corrupted = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(" " + mojibakeCorruptSample))
        .otherwise(lit("")))
    graft.pipeline.TextClean.fixMojibake(
        t(s, dir, "documents").select(col("doc_id"), corrupted.as("t")), "t")
      .select(col("doc_id"), col("n_mojibake"), col("fixed_text"))
  }

  val q244Sql: String = {
    val chain = graft.pipeline.TextClean.mojibakeTable.foldLeft("t") {
      case (acc, (from, to)) => s"replace($acc, '$from', '$to')"
    }
    val re = graft.pipeline.TextClean.mojibakeRe
    s"""WITH m AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 3 = 0
       |      THEN ' $mojibakeCorruptSample' ELSE '' END AS t
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$re')) AS BIGINT) AS n_mojibake,
       |  $chain AS fixed_text
       |FROM m""".stripMargin
  }

  // q245: SentencePiece-style unigram-LM tokenizer induction
  // (TextStats.unigramTrain) — seed substring vocabulary, two rounds of
  // integer-cost Viterbi-EM, char coverage floor, top-48 output. The
  // oracle replays ALL of it: the Viterbi DP per distinct word is a
  // recursive CTE whose state carries the (cost×32 + backpointer)
  // array (so the integer MIN resolves ties identically), the
  // backtrace a second recursive CTE walking the backpointers, and
  // each EM round re-derives costs from the previous round's counts at
  // the d6-ln contract point — the q218/q220 replayable-training class
  // applied to the second real tokenizer family.
  def q245UnigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.unigramTrain(t(s, dir, "documents"), "text")

  // q246: unigram-vocabulary APPLICATION (TextStats.unigramSegmentStats)
  // — q245's deployment consumer, the q220→q189 train/apply pairing for
  // the unigram family: a fixed piece→micro-nat cost table (chars +
  // common English units at hand-authored costs; characters OUTSIDE the
  // table exercise the INF-penalty unknown path) segments every fixture
  // doc in-row and reports the per-doc token budget + unknown audit.
  // The oracle replays the same DP once per DISTINCT word (recursive
  // CTE, identical cost×1024+pieces×32+backpointer encoding) and joins
  // the word stats back to documents.
  private val q246Vocab: Seq[(String, Long)] =
    ("abcdefghijklmnopqrstuvwxyz".map(c => c.toString -> 3912023L) ++
      Seq("th" -> 2995732L, "he" -> 3218876L, "in" -> 3218876L,
        "er" -> 3401197L, "an" -> 3401197L, "re" -> 3506558L,
        "ing" -> 2813411L, "the" -> 2302585L, "ed" -> 3612092L,
        "at" -> 3688879L)).toSeq

  def q246UnigramApply(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.unigramSegmentStats(
      t(s, dir, "documents"), "doc_id", "text", q246Vocab.toMap)

  val q246Sql: String = {
    val values = q246Vocab
      .map { case (p, m) => s"('$p', CAST($m AS BIGINT))" }.mkString(", ")
    s"""WITH RECURSIVE
       |v(piece, m) AS (VALUES $values),
       |tk AS (
       |  SELECT doc_id, word
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents) u
       |  WHERE word <> ''),
       |dwords AS (SELECT DISTINCT word FROM tk WHERE len(word) <= 24),
       |dp(word, i, acc) AS (
       |  SELECT word, 0, [CAST(0 AS BIGINT)] FROM dwords
       |  UNION ALL
       |  SELECT d.word, d.i + 1, list_append(d.acc, LEAST(
       |    (d.acc[d.i + 1] // 1024 + COALESCE(c1.m, 1000000000000)) * 1024
       |      + ((d.acc[d.i + 1] // 32) % 32 + 1) * 32 + d.i,
       |    CASE WHEN d.i + 1 >= 2 THEN
       |      (d.acc[d.i] // 1024 + COALESCE(c2.m, 1000000000000)) * 1024
       |      + ((d.acc[d.i] // 32) % 32 + 1) * 32 + (d.i - 1)
       |      ELSE 900000000000000000 END,
       |    CASE WHEN d.i + 1 >= 3 THEN
       |      (d.acc[d.i - 1] // 1024 + COALESCE(c3.m, 1000000000000)) * 1024
       |      + ((d.acc[d.i - 1] // 32) % 32 + 1) * 32 + (d.i - 2)
       |      ELSE 900000000000000000 END,
       |    CASE WHEN d.i + 1 >= 4 THEN
       |      (d.acc[d.i - 2] // 1024 + COALESCE(c4.m, 1000000000000)) * 1024
       |      + ((d.acc[d.i - 2] // 32) % 32 + 1) * 32 + (d.i - 3)
       |      ELSE 900000000000000000 END))
       |  FROM dp d
       |  LEFT JOIN v c1 ON c1.piece = substr(d.word, d.i + 1, 1)
       |  LEFT JOIN v c2 ON d.i + 1 >= 2 AND c2.piece = substr(d.word, d.i, 2)
       |  LEFT JOIN v c3 ON d.i + 1 >= 3
       |    AND c3.piece = substr(d.word, d.i - 1, 3)
       |  LEFT JOIN v c4 ON d.i + 1 >= 4
       |    AND c4.piece = substr(d.word, d.i - 2, 4)
       |  WHERE d.i < len(d.word)),
       |wstats AS (
       |  SELECT word,
       |    (acc[len(word) + 1] // 32) % 32 AS pieces,
       |    (acc[len(word) + 1] // 1024) // 1000000000000 AS unk
       |  FROM dp WHERE i = len(word)),
       |agg AS (
       |  SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(CASE WHEN len(t.word) > 24 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_skipped,
       |    CAST(SUM(COALESCE(w.pieces, 0)) AS BIGINT) AS n_pieces,
       |    CAST(SUM(COALESCE(w.unk, 0)) AS BIGINT) AS n_unk_pieces
       |  FROM tk t LEFT JOIN wstats w ON t.word = w.word
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(a.n_words, 0) AS n_words,
       |  COALESCE(a.n_skipped, 0) AS n_skipped,
       |  COALESCE(a.n_pieces, 0) AS n_pieces,
       |  COALESCE(a.n_unk_pieces, 0) AS n_unk_pieces
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  }

  val q245Sql: String = {
    val INF = "1000000000000"
    val BIG = "999999999999999"
    def costs(k: Int, vocab: String): String =
      s"""t$k AS (SELECT CAST(SUM(s) AS DOUBLE) AS t FROM $vocab),
         |costs$k AS (
         |  SELECT piece,
         |    CAST(CAST(-ln(s / t$k.t) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
         |      AS m
         |  FROM $vocab, t$k)""".stripMargin
    def emRound(k: Int): String =
      s"""dp$k(word, n, i, acc) AS (
         |  SELECT word, n, 0, [CAST(0 AS BIGINT)] FROM words
         |  UNION ALL
         |  SELECT d.word, d.n, d.i + 1, list_append(d.acc, LEAST(
         |    (d.acc[d.i + 1] // 32 + COALESCE(c1.m, $INF)) * 32 + d.i,
         |    CASE WHEN d.i + 1 >= 2 THEN
         |      (d.acc[d.i] // 32 + COALESCE(c2.m, $INF)) * 32 + (d.i - 1)
         |      ELSE $BIG END,
         |    CASE WHEN d.i + 1 >= 3 THEN
         |      (d.acc[d.i - 1] // 32 + COALESCE(c3.m, $INF)) * 32 + (d.i - 2)
         |      ELSE $BIG END,
         |    CASE WHEN d.i + 1 >= 4 THEN
         |      (d.acc[d.i - 2] // 32 + COALESCE(c4.m, $INF)) * 32 + (d.i - 3)
         |      ELSE $BIG END))
         |  FROM dp$k d
         |  LEFT JOIN costs$k c1 ON c1.piece = substr(d.word, d.i + 1, 1)
         |  LEFT JOIN costs$k c2 ON d.i + 1 >= 2
         |    AND c2.piece = substr(d.word, d.i, 2)
         |  LEFT JOIN costs$k c3 ON d.i + 1 >= 3
         |    AND c3.piece = substr(d.word, d.i - 1, 3)
         |  LEFT JOIN costs$k c4 ON d.i + 1 >= 4
         |    AND c4.piece = substr(d.word, d.i - 2, 4)
         |  WHERE d.i < len(d.word)),
         |dpf$k AS (SELECT word, n, acc FROM dp$k WHERE i = len(word)),
         |wk$k(word, n, acc, pos, ps) AS (
         |  SELECT word, n, acc, CAST(len(word) AS BIGINT),
         |    CAST([] AS VARCHAR[]) FROM dpf$k
         |  UNION ALL
         |  SELECT word, n, acc, acc[CAST(pos AS INT) + 1] % 32,
         |    list_append(ps, substr(word,
         |      CAST(acc[CAST(pos AS INT) + 1] % 32 AS INT) + 1,
         |      CAST(pos AS INT) - CAST(acc[CAST(pos AS INT) + 1] % 32 AS INT)))
         |  FROM wk$k WHERE pos > 0),
         |counts$k AS (
         |  SELECT piece, CAST(SUM(n) AS BIGINT) AS c
         |  FROM (SELECT n, unnest(ps) AS piece FROM wk$k WHERE pos = 0) u
         |  GROUP BY 1)""".stripMargin
    def vocabFrom(name: String, cnts: String): String =
      s"""$name AS (
         |  SELECT ch.piece, COALESCE(ct.c, CAST(1 AS BIGINT)) AS s
         |  FROM chars ch LEFT JOIN $cnts ct ON ch.piece = ct.piece
         |  UNION ALL
         |  SELECT piece, c FROM $cnts WHERE len(piece) > 1)""".stripMargin
    s"""WITH RECURSIVE
       |words AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
       |  WHERE word <> '' AND len(word) <= 24
       |  GROUP BY 1),
       |pos1 AS (SELECT word, n, unnest(range(1, len(word) + 1)) AS p FROM words),
       |sub1 AS (
       |  SELECT word, n, p,
       |    unnest(range(1, LEAST(4, len(word) - p + 1) + 1)) AS l
       |  FROM pos1),
       |seed AS (
       |  SELECT substr(word, CAST(p AS INT), CAST(l AS INT)) AS piece,
       |    CAST(SUM(n) AS BIGINT) AS s
       |  FROM sub1 GROUP BY 1),
       |chars AS (SELECT piece, s FROM seed WHERE len(piece) = 1),
       |nch AS (SELECT COUNT(*) AS c FROM chars),
       |multi AS (
       |  SELECT piece, s FROM (
       |    SELECT piece, s, ROW_NUMBER() OVER (ORDER BY s DESC, piece) AS rn
       |    FROM seed WHERE len(piece) > 1) r, nch
       |  WHERE r.rn <= 64 - nch.c),
       |vocab1 AS (SELECT piece, s FROM chars UNION ALL SELECT piece, s FROM multi),
       |${costs(1, "vocab1")},
       |${emRound(1)},
       |${vocabFrom("vocab2", "counts1")},
       |${costs(2, "vocab2")},
       |${emRound(2)},
       |${vocabFrom("vocabf", "counts2")},
       |kept AS (
       |  SELECT piece, s, ROW_NUMBER() OVER (ORDER BY s DESC, piece) AS rn
       |  FROM vocabf),
       |k2 AS (SELECT piece, s FROM kept WHERE rn <= 48),
       |tf AS (SELECT CAST(SUM(s) AS DOUBLE) AS t FROM k2)
       |SELECT piece, s AS cnt,
       |  CAST(CAST(-ln(s / tf.t) AS DECIMAL(28,6)) AS DOUBLE) AS cost6
       |FROM k2, tf""".stripMargin
  }

  // q166: the fused CLEANING-PATH ingest — stripMarkup →
  // qualityFilter (on the stripped text) → canonicalForDedup →
  // exactDedup composed as ONE entry, the way the stages actually run
  // in an ingest job; the oracle rebuilds the whole chain, proving the
  // stages compose hash-exactly (the q119 composition pattern for the
  // cleaning path). Every 3rd doc re-enters as a markup'd re-crawl
  // (tags + entity + upper + double spacing, id+50000): the strip
  // recovers the text, the gate scores copy and original identically
  // (stripMarkup's whitespace collapse equalizes their token stats),
  // and the canonical key collapses each surviving re-crawl onto its
  // source. Short/degraded docs drop AT the gate, before the dedup
  // exchange — at scale the only shuffles are the doc_id semi-join
  // and the 16-byte-hash groupBy.
  def q166IngestChain(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val aug = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(lit("<div class=\"post\"> "),
            regexp_replace(upper(col("text")), " ", "  "),
            lit(" </div>&nbsp;<script>var t = 1 < 2;</script>")).as("text")))
    val stripped = graft.pipeline.TextClean.stripMarkup(aug, "text")
      .select(col("doc_id"), col("stripped_text"))
    val gate = graft.pipeline.TextStats.qualityFilter(
      stripped, "doc_id", "stripped_text")
    val kept = stripped.join(
      gate.filter(col("is_kept") === 1).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    graft.pipeline.TextDedup.exactDedup(
      kept.select(col("doc_id"),
        graft.pipeline.TextClean.canonicalForDedup(col("stripped_text")).as("c")),
      "doc_id", "c")
  }

  val q166Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 50000,
      |    '<div class="post"> ' || regexp_replace(upper(text), ' ', '  ', 'g')
      |    || ' </div>&nbsp;<script>var t = 1 < 2;</script>'
      |  FROM documents WHERE doc_id % 3 = 0),
      |s1 AS (SELECT doc_id, regexp_replace(t,
      |    '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t1
      |  FROM aug),
      |s2 AS (SELECT doc_id, regexp_replace(t1, '<[^>]+>', ' ', 'g') AS t2
      |  FROM s1),
      |s3 AS (SELECT doc_id,
      |    replace(replace(replace(replace(replace(replace(t2,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |      '&nbsp;', ' '), '&amp;', '&') AS t3
      |  FROM s2),
      |st AS (SELECT doc_id, trim(regexp_replace(t3, '\s+', ' ', 'g'))
      |    AS stripped FROM s3),
      |tk AS (SELECT doc_id, unnest(string_split(stripped, ' ')) AS tok
      |  FROM st),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |ts AS (SELECT doc_id, count(*) AS n_tokens, sum(length(tok)) AS sl
      |  FROM tk2 GROUP BY 1),
      |q AS (
      |  SELECT st.doc_id, st.stripped,
      |    coalesce(ts.n_tokens, 0) AS n_tokens,
      |    CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
      |         ELSE CAST(ts.sl AS DOUBLE) / ts.n_tokens END AS atl,
      |    CASE WHEN length(st.stripped) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(st.stripped,
      |             '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |           / length(st.stripped) END AS sym,
      |    CASE WHEN length(st.stripped) = 0 THEN 0.0
      |         ELSE CAST(length(regexp_replace(st.stripped,
      |             '[^0-9]', '', 'g')) AS DOUBLE)
      |           / length(st.stripped) END AS dig
      |  FROM st LEFT JOIN ts USING (doc_id)),
      |kept AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(nfc_normalize(stripped)), '\s+', ' ', 'g'))
      |      AS c
      |  FROM q
      |  WHERE n_tokens >= 40 AND atl >= 2.0 AND atl <= 12.0
      |    AND sym <= 0.1 AND dig <= 0.15)
      |SELECT md5(c) AS content_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM kept GROUP BY 1""".stripMargin

  // q167: symmetric per-vector int8 quantization — the 4× storage cut
  // a 100 TB embedding store takes before anything else touches it.
  // Output is the long form (vec_id, pos, qv, scale) so the oracle
  // compares 32k INTEGER cells plus the per-vector dequant scale, no
  // array-serialization ambiguity. The scale v·127/max runs in IEEE
  // double on both engines over identical FLOAT→DOUBLE inputs; ties
  // (exactly-representable halves) round away from zero on both. One
  // scan, in-row, no shuffle.
  def q167QuantizeEmbed(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.quantizeInt8(
      t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), d6(col("scale")).as("scale"),
        posexplode(col("qv")).as(Seq("p0", "qv")))
      .select(col("vec_id"), (col("p0") + 1).cast("long").as("pos"),
        col("qv"), col("scale"))

  val q167Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |m AS (SELECT vec_id, MAX(ABS(v)) AS ma FROM e GROUP BY 1)
      |SELECT e.vec_id, CAST(pos AS BIGINT) AS pos,
      |  CASE WHEN m.ma = 0 THEN 0
      |       ELSE CAST(ROUND(v * 127.0 / m.ma) AS BIGINT) END AS qv,
      |  CAST(CAST(m.ma / 127.0 AS DECIMAL(28,6)) AS DOUBLE) AS scale
      |FROM e JOIN m ON e.vec_id = m.vec_id""".stripMargin

  // q168: exact inner-product top-k (MIPS) over the int8-quantized
  // corpus — the FAISS-SQ8-style retrieval kernel: the hot loop is one
  // in-row codegen'd INTEGER dot per pair (LongArrayDot), dequantized
  // as idot·scale_q·scale_n with the stored per-vector scales, ranked
  // after d6 rounding with a nid tie-break (quantized scores tie more
  // often than full-precision ones — the tie-break is load-bearing on
  // BOTH sides). Quantized queries broadcast into a nested-loop join; the
  // only movement is the per-query rank window.
  def q168QuantizedKnn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.quantizedKnn(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10)

  val q168Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |m AS (SELECT vec_id, MAX(ABS(v)) AS ma FROM e GROUP BY 1),
      |q8 AS (
      |  SELECT e.vec_id, pos,
      |    CASE WHEN m.ma = 0 THEN 0
      |         ELSE CAST(ROUND(v * 127.0 / m.ma) AS BIGINT) END AS qv
      |  FROM e JOIN m ON e.vec_id = m.vec_id),
      |q AS (SELECT vec_id AS qid, pos, qv FROM q8 WHERE vec_id < 5),
      |dots AS (SELECT q.qid, q8.vec_id AS nid,
      |           CAST(SUM(q.qv * q8.qv) AS BIGINT) AS idot
      |         FROM q JOIN q8 ON q.pos = q8.pos GROUP BY 1, 2),
      |scored AS (
      |  SELECT qid, nid,
      |    CAST(CAST(CAST(idot AS DOUBLE) * (mq.ma / 127.0) * (mn.ma / 127.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS score
      |  FROM dots JOIN m mq ON qid = mq.vec_id JOIN m mn ON nid = mn.vec_id
      |  WHERE qid <> nid)
      |SELECT qid, nid, rank, score FROM (
      |  SELECT qid, nid, score,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC)
      |      AS rank
      |  FROM scored) WHERE rank <= 10""".stripMargin

  // q174: the ANN-fed quantized retrieval — q168's int8 MIPS kernel fed
  // by LSH candidates instead of the full corpus
  // (Similarity.quantizedKnnFromCandidates ∘ lshCandidates), mirroring
  // q163's pattern for retrieval: shares q168's oracle VERBATIM. At
  // 24 tables × 3 bits every query's true top-10 collides with it in
  // some bucket (recall 1.0 on the fixture, asserted per-SF in
  // PipelineSpec), so candidate re-rank ≡ full-corpus re-rank. This is
  // the int8 path's 100 TB story driver-checked end-to-end: hashing is
  // shuffle-free, candidates meet through the bucket equi-join, the
  // quantized query block broadcasts, and nothing is all-pairs. (The
  // fixture-tuned 24×3 maximizes recall on 500-5k vectors; a real
  // corpus raises bits with size so buckets stay selective — the same
  // knob trade q163 documents.)
  def q174QuantizedKnnAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val candidates = graft.pipeline.Similarity.lshCandidates(
      emb, "vec_id", "embedding", queryPred = col("vec_id") < 5,
      tables = 24, bits = 3)
    graft.pipeline.Similarity.quantizedKnnFromCandidates(
      emb, "vec_id", "embedding", candidates, k = 10)
  }

  // q175: embedding-space benchmark contamination — the SEMANTIC twin of
  // the n-gram contamination gate q51 (catches paraphrased/translated
  // eval leakage n-grams can't see). Benchmark stand-in = the first 20
  // fixture vectors; every remaining corpus vector reports its max
  // quantized cosine against the bench block and the ≥ 0.4 verdict. The
  // oracle rebuilds the same quantized dots in SQL (q26's discipline);
  // MAX over the identical IEEE doubles is order-independent, so the
  // compare is exact with no rounding. Scale shape: bench broadcasts
  // (small by definition), corpus scan stays partition-local, the only
  // exchange is one (id, double) row per corpus vector.
  def q175SemanticContamination(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.pipeline.Similarity.semanticContamination(
      emb.filter(col("vec_id") >= 20), "vec_id", "embedding",
      emb.filter(col("vec_id") < 20), "vec_id", "embedding",
      threshold = 0.4)
  }

  val q175Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS qv
      |  FROM embeddings),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |dots AS (
      |  SELECT c.vec_id AS cid, b.vec_id AS bid, SUM(c.qv*b.qv) AS dot
      |  FROM e c JOIN e b ON c.pos = b.pos
      |  WHERE c.vec_id >= 20 AND b.vec_id < 20
      |  GROUP BY 1, 2),
      |cs AS (
      |  SELECT cid,
      |    CAST(dot AS DOUBLE)/SQRT(CAST(nc.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE))
      |      AS cosine
      |  FROM dots JOIN norms nc ON cid = nc.vec_id
      |            JOIN norms nb ON bid = nb.vec_id)
      |SELECT cid AS vec_id, MAX(cosine) AS max_cosine,
      |  CAST(CASE WHEN MAX(cosine) >= 0.4 THEN 1 ELSE 0 END AS INT)
      |    AS is_contaminated
      |FROM cs GROUP BY 1""".stripMargin

  // q176: cross-document boilerplate line removal — the RefinedWeb/
  // FineWeb line-dedup cut (TextDedup.dropBoilerplateLines). The fixture
  // text is single-line, so the entry plants the structure: every even
  // doc appends a shared "share on social media" line (df ≈ 250 ≥ 5 →
  // dropped everywhere), every doc appends a unique ref-<id> line
  // (df = 1 → kept), and a short "--" line rides along unconditionally
  // (below minLineChars → structural, never counted, never dropped).
  // The oracle rebuilds the df-count + drop + in-order string_agg
  // reassembly; COALESCE matches Spark's empty-join on all-dropped docs.
  def q176BoilerplateLines(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit("\nSHARE THIS ARTICLE ON SOCIAL MEDIA")).otherwise(lit("")),
        lit("\n--"),
        concat(lit("\nref-"), col("doc_id").cast("string"))).as("t"))
    graft.pipeline.TextDedup.dropBoilerplateLines(
      aug, "doc_id", "t", minDocs = 5, minLineChars = 5)
  }

  val q176Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN chr(10) || 'SHARE THIS ARTICLE ON SOCIAL MEDIA'
      |         ELSE '' END ||
      |    chr(10) || '--' ||
      |    chr(10) || 'ref-' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    unnest(string_split(t, chr(10))) AS line,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS line_idx
      |  FROM aug),
      |hot AS (
      |  SELECT line FROM l WHERE length(line) >= 5
      |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 5),
      |fl AS (
      |  SELECT l.doc_id, l.line_idx, l.line,
      |    CASE WHEN length(l.line) >= 5 AND h.line IS NOT NULL
      |         THEN 1 ELSE 0 END AS dropped
      |  FROM l LEFT JOIN hot h ON l.line = h.line)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
      |  COALESCE(string_agg(CASE WHEN dropped = 0 THEN line END,
      |    chr(10) ORDER BY line_idx), '') AS clean_text
      |FROM fl GROUP BY 1""".stripMargin

  // q177: within-document repeated-line dedup — the intra-doc half of
  // the line-dedup family (TextDedup.dedupLinesWithin; q176 is the
  // cross-doc half). Planted: every doc carries a long CTA line TWICE
  // (2nd occurrence drops), a unique mid line (kept), and a short "--"
  // twice (structural, both kept). Pure in-row array ops — the oracle
  // rebuilds first-occurrence via row_number over (doc, line) by
  // position, which is exactly array_position's semantics.
  def q177DedupLinesWithin(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit("\nCLICK HERE TO READ MORE"),
        concat(lit("\nmid-"), col("doc_id").cast("string")),
        lit("\n--"),
        lit("\nCLICK HERE TO READ MORE"),
        lit("\n--")).as("t"))
    graft.pipeline.TextDedup.dedupLinesWithin(
      aug, "doc_id", "t", minLineChars = 5)
  }

  val q177Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text ||
      |    chr(10) || 'CLICK HERE TO READ MORE' ||
      |    chr(10) || 'mid-' || CAST(doc_id AS VARCHAR) ||
      |    chr(10) || '--' ||
      |    chr(10) || 'CLICK HERE TO READ MORE' ||
      |    chr(10) || '--' AS t
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    unnest(string_split(t, chr(10))) AS line,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS idx
      |  FROM aug),
      |r AS (
      |  SELECT doc_id, idx, line,
      |    CASE WHEN length(line) >= 5 AND
      |      row_number() OVER (PARTITION BY doc_id, line ORDER BY idx) > 1
      |    THEN 1 ELSE 0 END AS dropped
      |  FROM l)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
      |  COALESCE(string_agg(CASE WHEN dropped = 0 THEN line END,
      |    chr(10) ORDER BY idx), '') AS clean_text
      |FROM r GROUP BY 1""".stripMargin

  // q178: duplicate-n-gram fraction (Gopher/Dolma) — per doc, the share
  // of its distinct 8-token grams occurring in ≥1 OTHER doc
  // (TextStats.sharedNgramFraction): the drop-heavily-duplicated signal
  // without pair enumeration. The fixture's planted exact duplicates
  // (q15's groups) score 1.0 against each other; unique docs score on
  // natural overlap only. shared_frac is one integer division — exact
  // cross-engine, no rounding.
  def q178SharedNgrams(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.sharedNgramFraction(
      t(s, dir, "documents"), "doc_id", "text", n = 8)

  val q178Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |pos AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
      |  FROM tk),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS gh
      |  FROM pos),
      |df AS (SELECT gh, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1),
      |per AS (
      |  SELECT g.doc_id, COUNT(*) AS n_grams,
      |    SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
      |  FROM g JOIN df USING (gh) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(p.n_grams, 0) AS n_grams,
      |  CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
      |  CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
      |       ELSE CAST(p.n_shared AS DOUBLE) / p.n_grams END AS shared_frac
      |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin

  // q179: cross-set semantic near-dup pairs — the nightly-crawl
  // embedding dedup (Similarity.annDupPairsAcross): the first 100
  // fixture vectors stand in as the incoming batch, the rest as the
  // accumulated corpus; LSH-bucketed candidates verified at the exact
  // quantized cosine ≥ 0.4. Oracle = the EXACT cross-set inequality
  // join (q26's quantization discipline, set predicates instead of
  // a<b): verified candidates ⊆ exact always, and at 24×3 recall is
  // 1.0 on the fixture (asserted in PipelineSpec vs a brute-force
  // reference), so the sets are equal. Neither side broadcasts or
  // self-pairs — the both-sides-large incremental scale shape.
  def q179CrossSetSemanticPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.pipeline.Similarity.annDupPairsAcross(
      emb.filter(col("vec_id") < 100), emb.filter(col("vec_id") >= 100),
      "vec_id", "embedding", threshold = 0.4)
  }

  // q180: long-run (exact-substring) contamination gate — every corpus
  // document sharing a run of ≥ 8 consecutive tokens (k=4, w=5 →
  // k+w−1 = 8) with a bench document, per-pair with the distinct shared
  // run count. Bench = doc_id % 7 (a deterministic eval-suite stand-in,
  // ~14% of the fixture — DISJOINT from q51's hash split on purpose so
  // the two gates don't share a bug). The operator's winnowed-candidate
  // + exact-verify path is EXACT by the winnowing guarantee, so the
  // oracle is the brute-force 8-gram equi-join.
  def q180LongRunContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextDedup.longRunContamination(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", k = 4, window = 5)
  }

  val q180Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    string_agg(tok,' ') OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
      |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS glen
      |  FROM tk),
      |gr AS (SELECT DISTINCT doc_id, gram FROM g WHERE glen = 8)
      |SELECT c.doc_id, b.doc_id AS bench_id,
      |  COUNT(DISTINCT c.gram) AS n_shared_runs
      |FROM gr c JOIN gr b ON c.gram = b.gram
      |WHERE b.doc_id % 7 = 0 AND c.doc_id % 7 <> 0
      |GROUP BY 1, 2""".stripMargin

  // q184: coverage cut — sources ranked by total chars, keep the
  // smallest prefix covering ≥ 90% of the corpus (the top-p pruning
  // decision). Membership is the exact integer predicate
  // 10·cum_before < 9·total on both sides; the cut input is the tiny
  // per-source aggregate, so the unpartitioned window is over ~20 rows.
  def q184CoverageCut(s: SparkSession, dir: String): DataFrame = {
    val bySource = t(s, dir, "documents")
      .groupBy("source").agg(sum(col("n_chars")).as("chars"))
    Sampling.coverageCut(bySource, Nil, "source", "chars", pNum = 9, pDen = 10)
  }

  val q184Sql: String =
    """WITH s AS (
      |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1),
      |r AS (
      |  SELECT source, chars,
      |    row_number() OVER (ORDER BY chars DESC, source ASC) AS rank,
      |    CAST(SUM(chars) OVER (ORDER BY chars DESC, source ASC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_weight,
      |    CAST(SUM(chars) OVER () AS BIGINT) AS total
      |  FROM s)
      |SELECT source, chars, rank, cum_weight,
      |  CAST(CAST(CAST(cum_weight AS DOUBLE) / CAST(total AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS cum_share,
      |  CASE WHEN 10 * (cum_weight - chars) < 9 * total
      |    THEN 1 ELSE 0 END AS is_kept
      |FROM r""".stripMargin

  // q185: reciprocal-rank fusion of the BM25 lexical ranking (q123's
  // query and parameters) with the bigram-LM fluency ranking (q130's
  // model) — the score-scale-free blend a retrieval pipeline runs
  // before anything neural. Both input rankings are over d6-ROUNDED
  // scores with a doc_id tie-break (q123's discipline), both truncate
  // at 50, and the fused score adds the two reciprocal terms in the
  // same order on both sides before its own d6 + (score, id) cut.
  def q185RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text",
      queryTerms = Seq("spark", "merge", "vector"), topK = 50)
    val wA = Window.orderBy(col("bm25_score").desc, col("doc_id").asc)
    val ra = bm.select(col("doc_id"),
      row_number().over(wA).cast("long").as("rank"))
    val lmd = graft.pipeline.TextStats.bigramLogProb(docs, "doc_id", "text")
      .select(col("doc_id"), d6(col("avg_logprob")).as("_s"))
    // top-50 cut FIRST (TakeOrderedAndProject — per-partition heaps,
    // no global sort), then ranks assigned within the bounded 50-row
    // frame; the total (score, id) order makes this identical to
    // rank-then-filter, without ever moving the corpus-sized score
    // frame through one WindowExec partition
    val wB = Window.orderBy(col("_s").desc, col("doc_id").asc)
    val rb = lmd.orderBy(col("_s").desc, col("doc_id").asc).limit(50)
      .select(col("doc_id"),
        row_number().over(wB).cast("long").as("rank"))
    Retrieval.reciprocalRankFusion(Seq(ra, rb), "doc_id")
  }

  val q185Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |dl AS (SELECT doc_id, count(*) AS dlen FROM tk2 GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qt AS (SELECT * FROM (VALUES ('spark'), ('merge'), ('vector')) v(term)),
      |dfq AS (SELECT tok AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |        FROM tk2 JOIN qt ON tok = term GROUP BY 1),
      |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tk2 JOIN qt ON tok = term GROUP BY 1, 2),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(CAST(sum(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
      |        tf.tf * 2.2 /
      |        (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dlen AS DOUBLE) / st.avgdl)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS score
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |bm AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS ra
      |  FROM (SELECT doc_id, score FROM sc
      |        ORDER BY score DESC, doc_id LIMIT 50)),
      |bi AS (
      |  SELECT doc_id, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2 GROUP BY 1,2),
      |c1 AS (SELECT tok, count(*) AS c1 FROM bi2 GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk2),
      |lmsc AS (
      |  SELECT doc_id,
      |    CAST(CAST(sum(ln((CAST(c12 AS DOUBLE) + 0.5)
      |        / (CAST(c1 AS DOUBLE) + 0.5 * v)))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS s
      |  FROM bi2 JOIN c12 USING (tok, nxt) JOIN c1 USING (tok) CROSS JOIN v
      |  GROUP BY doc_id),
      |lm AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rb
      |  FROM lmsc QUALIFY rb <= 50),
      |f AS (
      |  SELECT COALESCE(bm.doc_id, lm.doc_id) AS doc_id,
      |    CASE WHEN ra IS NOT NULL THEN 1 ELSE 0 END
      |      + CASE WHEN rb IS NOT NULL THEN 1 ELSE 0 END AS n_lists,
      |    COALESCE(1.0 / (60.0 + CAST(ra AS DOUBLE)), 0.0)
      |      + COALESCE(1.0 / (60.0 + CAST(rb AS DOUBLE)), 0.0) AS score
      |  FROM bm FULL OUTER JOIN lm ON bm.doc_id = lm.doc_id)
      |SELECT doc_id, n_lists,
      |  CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) AS rrf_score
      |FROM f
      |ORDER BY CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) DESC, doc_id ASC
      |LIMIT 50""".stripMargin

  // q189: BPE merge application — q181's top pairs applied as real
  // greedy merges (leftmost-first replace, identical semantics in both
  // engines), including one hierarchical merge on an earlier
  // placeholder ('in'→□ then '□g' ≡ 'ing'). Output = per-doc symbol
  // counts before/after, the token-budget estimate a trained
  // vocabulary gives. Placeholders are private-use chars (chr 57344+).
  def q189BpeApply(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.bpeApplyCounts(
      t(s, dir, "documents"), "doc_id", "text",
      merges = Seq(
        "er" -> "\uE000",
        "in" -> "\uE001",
        "\uE001g" -> "\uE002", // 'ing'
        "th" -> "\uE003",
        "or" -> "\uE004"))

  val q189Sql: String =
    """SELECT doc_id,
      |  length(replace(text, ' ', '')) AS n_units_char,
      |  length(replace(
      |    replace(replace(replace(replace(replace(text,
      |      'er', chr(57344)),
      |      'in', chr(57345)),
      |      chr(57345) || 'g', chr(57346)),
      |      'th', chr(57347)),
      |      'or', chr(57348)),
      |    ' ', '')) AS n_units_bpe
      |FROM documents""".stripMargin

  // q220: ITERATIVE BPE TRAINING — the tokenizer trainer q181 (first
  // pair table) and q189 (apply a given merge list) bracket: 8 rounds
  // of count → argmax(count DESC, lhs, rhs) → greedy merge on the
  // distinct-word table, emitting the learned merge list plus the
  // corpus symbol total after each merge. The oracle replays ALL of it
  // as an 8-step chained CTE (scalar subqueries carry each step's
  // winning pair into the next step's rewrite; greedy leftmost
  // non-overlap = islands of consecutive match positions taken at even
  // offsets), so the driver hash-checks both the merge SELECTION and
  // its APPLICATION per step — the q218 portable-training contract
  // applied to BPE.
  def q220BpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.bpeTrain(t(s, dir, "documents"), "text", 8)

  // q248: WORDPIECE vocabulary induction — the tokenizer trio's third
  // family (q220 BPE merges, q245 unigram pruning, q248 WordPiece
  // likelihood merges). Same 8-round chained-CTE replay as q220, with
  // the two WordPiece deltas: symbols carry the `##` continuation
  // prefix (s0 plants it; each step's rewrite strips the rhs's `##`
  // on fusion), and the per-step argmax maximizes the micro-nat
  // likelihood score d6(ln c_pair − ln c_lhs − ln c_rhs)×10⁶ — which
  // needs a per-step SYMBOL-count CTE next to the pair counts. The
  // driver hash-checks selection score, pick, and application per step.
  def q248WordpieceTrain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.wordpieceTrain(t(s, dir, "documents"), "text", 8)

  val q248Sql: String = {
    val steps = 8
    val head =
      """WITH w AS MATERIALIZED (
        |  SELECT word AS wid, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t0
        |  WHERE length(word) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT wid, pos,
        |    CASE WHEN pos = 1 THEN substring(wid, pos, 1)
        |         ELSE '##' || substring(wid, pos, 1) END AS sym
        |  FROM (
        |    SELECT wid, unnest(generate_series(1, length(wid))) AS pos
        |    FROM w) t1)""".stripMargin
    val stepSql = (1 to steps).map { i =>
      val p = s"s${i - 1}"
      s"""sc$i AS (
         |  SELECT a.sym, CAST(SUM(w.n) AS BIGINT) AS sc
         |  FROM $p a JOIN w ON w.wid = a.wid GROUP BY 1),
         |pc$i AS (
         |  SELECT a.sym AS lhs, b.sym AS rhs, CAST(SUM(w.n) AS BIGINT) AS c
         |  FROM $p a JOIN $p b ON a.wid = b.wid AND b.pos = a.pos + 1
         |  JOIN w ON w.wid = a.wid GROUP BY 1, 2),
         |best$i AS (
         |  SELECT p.lhs, p.rhs, p.c,
         |    CAST(CAST(ln(p.c) - ln(l.sc) - ln(r.sc) AS DECIMAL(28,6))
         |      * 1000000 AS BIGINT) AS su
         |  FROM pc$i p JOIN sc$i l ON p.lhs = l.sym
         |  JOIN sc$i r ON p.rhs = r.sym
         |  ORDER BY su DESC, c DESC, lhs ASC, rhs ASC LIMIT 1),
         |mg$i AS (
         |  SELECT lhs || CASE WHEN rhs LIKE '##%' THEN substring(rhs, 3)
         |    ELSE rhs END AS mrg FROM best$i),
         |m$i AS (
         |  SELECT wid, pos, sym,
         |    CASE WHEN sym = (SELECT lhs FROM best$i) AND
         |      lead(sym) OVER (PARTITION BY wid ORDER BY pos) =
         |        (SELECT rhs FROM best$i)
         |    THEN 1 ELSE 0 END AS mt
         |  FROM $p),
         |g$i AS (
         |  SELECT wid, pos, sym, mt,
         |    pos - ROW_NUMBER() OVER (PARTITION BY wid, mt ORDER BY pos)
         |      AS isl
         |  FROM m$i),
         |mm$i AS (
         |  SELECT wid, pos, sym,
         |    CASE WHEN mt = 1 AND
         |      (pos - MIN(pos) OVER (PARTITION BY wid, mt, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS merged
         |  FROM g$i),
         |s$i AS MATERIALIZED (
         |  SELECT wid, ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos)
         |      AS pos,
         |    CASE WHEN merged = 1 THEN (SELECT mrg FROM mg$i) ELSE sym END
         |      AS sym
         |  FROM (
         |    SELECT wid, pos, sym, merged,
         |      lag(merged) OVER (PARTITION BY wid ORDER BY pos) AS pm
         |    FROM mm$i) t$i
         |  WHERE COALESCE(pm, 0) = 0)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to steps).map { i =>
      s"""SELECT $i AS step, lhs, rhs, (SELECT mrg FROM mg$i) AS merged,
         |  c AS pair_count, su AS score_unat,
         |  (SELECT CAST(SUM(w.n) AS BIGINT) FROM s$i
         |   JOIN w ON s$i.wid = w.wid) AS units_after
         |FROM best$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$head,\n$stepSql\n$rows"
  }

  val q220Sql: String = {
    val steps = 8
    // w/s0/s{i} are MATERIALIZED: each is referenced by every later
    // step, and DuckDB would otherwise re-evaluate the whole upstream
    // chain (re-opening the parquet) once per reference — the 8-step
    // unroll exhausts file handles without the hint.
    val head =
      """WITH w AS MATERIALIZED (
        |  SELECT word AS wid, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t0
        |  WHERE length(word) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT wid, pos, substring(wid, pos, 1) AS sym FROM (
        |    SELECT wid, unnest(generate_series(1, length(wid))) AS pos
        |    FROM w) t1)""".stripMargin
    // per step i (reading s{i-1}): pair counts → 1-row argmax →
    // match flags → consecutive-match islands → greedy merge at even
    // island offsets → rewritten symbol table s{i} (drop the consumed
    // right symbol, renumber). SUM(BIGINT) casts guard DuckDB's
    // HUGEINT widening.
    val stepSql = (1 to steps).map { i =>
      val p = s"s${i - 1}"
      s"""pc$i AS (
         |  SELECT a.sym AS lhs, b.sym AS rhs, CAST(SUM(w.n) AS BIGINT) AS c
         |  FROM $p a JOIN $p b ON a.wid = b.wid AND b.pos = a.pos + 1
         |  JOIN w ON w.wid = a.wid GROUP BY 1, 2),
         |best$i AS (SELECT lhs, rhs, c FROM pc$i
         |  ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1),
         |m$i AS (
         |  SELECT wid, pos, sym,
         |    CASE WHEN sym = (SELECT lhs FROM best$i) AND
         |      lead(sym) OVER (PARTITION BY wid ORDER BY pos) =
         |        (SELECT rhs FROM best$i)
         |    THEN 1 ELSE 0 END AS mt
         |  FROM $p),
         |g$i AS (
         |  SELECT wid, pos, sym, mt,
         |    pos - ROW_NUMBER() OVER (PARTITION BY wid, mt ORDER BY pos)
         |      AS isl
         |  FROM m$i),
         |mm$i AS (
         |  SELECT wid, pos, sym,
         |    CASE WHEN mt = 1 AND
         |      (pos - MIN(pos) OVER (PARTITION BY wid, mt, isl)) % 2 = 0
         |    THEN 1 ELSE 0 END AS merged
         |  FROM g$i),
         |s$i AS MATERIALIZED (
         |  SELECT wid, ROW_NUMBER() OVER (PARTITION BY wid ORDER BY pos)
         |      AS pos,
         |    CASE WHEN merged = 1
         |      THEN (SELECT lhs || rhs FROM best$i) ELSE sym END AS sym
         |  FROM (
         |    SELECT wid, pos, sym, merged,
         |      lag(merged) OVER (PARTITION BY wid ORDER BY pos) AS pm
         |    FROM mm$i) t$i
         |  WHERE COALESCE(pm, 0) = 0)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to steps).map { i =>
      s"""SELECT $i AS step, lhs, rhs, lhs || rhs AS merged, c AS pair_count,
         |  (SELECT CAST(SUM(w.n) AS BIGINT) FROM s$i
         |   JOIN w ON s$i.wid = w.wid) AS units_after
         |FROM best$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$head,\n$stepSql\n$rows"
  }

  // q225/q226: TRAINED QUALITY CLASSIFIER — the GPT-3/CCNet curation
  // move: distill a labeling rule (here the stopword-density gate:
  // fraction of {the, a} ≥ 6.4%) into a linear model over md5-hashed
  // bag-of-words features by fixed-point full-batch gradient descent,
  // then score the corpus with the learned weights. All-integer
  // arithmetic with a RATIONAL fast sigmoid (pipeline/Classifier
  // scaladoc), so the oracle replays the entire training — features,
  // centering, margins, sigmoids, gradients, the 8-step weight
  // trajectory — as a chained CTE, and q226's per-document scores ride
  // the same replay. q225 outputs the trajectory (a divergence
  // pinpoints its first step); q226 the final scores + predictions.
  // Learnability is pinned in PipelineSpec (accuracy beats the
  // majority class by a wide floor; centered-vs-uncentered measured).
  private[queries] def q225Label: Column = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val stopCnt = size(filter(toks, t => t.isin("the", "a")))
    lit(10000L) * stopCnt >= lit(640L) * size(toks)
  }

  /** ONE training per fixture dir (the model-registry idiom; same
    * memoization the streaming stages use): the trajectory entry, both
    * scorers, the calibration report and the funnel all consume this
    * single fit instead of re-running the 8-pass training per entry.
    * The cached values are plain integers — session-independent.
    */
  private val q225FitCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Seq[(Int, Int, Long)], graft.pipeline.Classifier.LogisticModel)]()

  private[queries] def classifierFit(s: SparkSession, dir: String)
      : (Seq[(Int, Int, Long)], graft.pipeline.Classifier.LogisticModel) =
    q225FitCache.computeIfAbsent(dir, { _ =>
      graft.pipeline.Classifier.fitLogisticTraced(
        t(s, dir, "documents"), "doc_id", "text", q225Label)
    })

  def q225QualityClassifierTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    classifierFit(s, dir)._1.toDF("step", "bucket", "weight")
  }

  def q226QualityClassifierScore(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Classifier.scoreRowwise(
      t(s, dir, "documents"), "doc_id", "text", q225Label,
      classifierFit(s, dir)._2)

  /** Shared CTE chain replaying Classifier.trainLogistic at the entry
    * defaults (B=128, 8 steps, lr=2, salt "qlr"). Integer-division
    * notes: `%` keeps the dividend's sign in both engines, so
    * (a − a % d) is exactly divisible and `//` of it is exact for
    * either sign; bare `//` appears only on non-negative operands
    * (where floor = trunc); the update's trunc-toward-zero is written
    * sign-split to match Scala's `/`. MATERIALIZED on every CTE the
    * step chain re-reads (the q220 lesson: DuckDB otherwise re-opens
    * the parquet once per reference).
    */
  private def classifierReplayCtes: String = {
    val steps = 8
    val head =
      """WITH tt AS MATERIALIZED (
        |  SELECT doc_id, tok,
        |    CAST(concat('0x', substring(md5('qlr:' || tok), 1, 8)) AS BIGINT)
        |      % 1000000 % 128 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) t0
        |  WHERE tok <> ''),
        |doc AS MATERIALIZED (
        |  SELECT doc_id, COUNT(*) AS n,
        |    CASE WHEN 10000 * SUM(CASE WHEN tok IN ('the', 'a')
        |                          THEN 1 ELSE 0 END) >= 640 * COUNT(*)
        |      THEN 1 ELSE 0 END AS y
        |  FROM tt GROUP BY 1),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS nd FROM doc),
        |f0 AS MATERIALIZED (
        |  SELECT tt.doc_id, tt.b, (1280000 * COUNT(*)) // d.n AS x
        |  FROM tt JOIN doc d ON tt.doc_id = d.doc_id
        |  GROUP BY tt.doc_id, tt.b, d.n),
        |mus AS (SELECT b, SUM(x) AS sx FROM f0 GROUP BY 1),
        |mu AS MATERIALIZED (
        |  SELECT CAST(r.range AS BIGINT) AS b,
        |    CAST(COALESCE(m.sx, 0) // nn.nd AS BIGINT) AS mu
        |  FROM range(128) r CROSS JOIN nn LEFT JOIN mus m ON m.b = r.range),
        |dense AS MATERIALIZED (
        |  SELECT d.doc_id, m.b, CAST(COALESCE(f.x, 0) - m.mu AS BIGINT) AS x
        |  FROM doc d CROSS JOIN mu m
        |  LEFT JOIN f0 f ON f.doc_id = d.doc_id AND f.b = m.b
        |  UNION ALL
        |  SELECT doc_id, CAST(128 AS BIGINT) AS b, CAST(10000 AS BIGINT) AS x
        |  FROM doc),
        |w0 AS MATERIALIZED (
        |  SELECT CAST(range AS BIGINT) AS b, CAST(0 AS HUGEINT) AS w
        |  FROM range(129))""".stripMargin
    val stepSql = (1 to steps).map { i =>
      s"""mg$i AS (
         |  SELECT dn.doc_id, SUM(dn.x * w.w) AS mg
         |  FROM dense dn JOIN w${i - 1} w ON dn.b = w.b GROUP BY 1),
         |pp$i AS (
         |  SELECT doc_id, m6, 1000000 + abs(m6) AS p FROM (
         |    SELECT doc_id, (mg - mg % 10000) // 10000 AS m6 FROM mg$i) t$i),
         |ee$i AS MATERIALIZED (
         |  SELECT p.doc_id,
         |    (1000000 * (p.p + p.m6)) // (2 * p.p) - 1000000 * d.y AS e
         |  FROM pp$i p JOIN doc d USING (doc_id)),
         |gg$i AS (
         |  SELECT dn.b, SUM(e.e * dn.x) AS g
         |  FROM dense dn JOIN ee$i e USING (doc_id) GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT w.b,
         |    w.w - (CASE WHEN 2 * g.g >= 0
         |           THEN (2 * g.g) // (10000 * nn.nd)
         |           ELSE -((-(2 * g.g)) // (10000 * nn.nd)) END) AS w
         |  FROM w${i - 1} w JOIN gg$i g ON g.b = w.b CROSS JOIN nn)"""
        .stripMargin
    }.mkString(",\n")
    s"$head,\n$stepSql"
  }

  val q225Sql: String = {
    val rows = (1 to 8).map { i =>
      s"""SELECT $i AS step, CAST(b AS INTEGER) AS bucket,
         |  CAST(w AS BIGINT) AS weight FROM w$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$classifierReplayCtes\n$rows"
  }

  /** The replay chain extended with final-weight scoring (shared by
    * q226 and the q230 calibration rollup).
    */
  private def classifierScoreCtes: String =
    s"""$classifierReplayCtes,
       |mgf AS (
       |  SELECT dn.doc_id, SUM(dn.x * w.w) AS mg
       |  FROM dense dn JOIN w8 w ON dn.b = w.b GROUP BY 1),
       |ppf AS (
       |  SELECT doc_id, m6, 1000000 + abs(m6) AS p FROM (
       |    SELECT doc_id, (mg - mg % 10000) // 10000 AS m6 FROM mgf) tf),
       |sc AS (
       |  SELECT doc_id, (1000000 * (p + m6)) // (2 * p) AS s6 FROM ppf)"""
      .stripMargin

  val q226Sql: String =
    s"""$classifierScoreCtes
       |SELECT d.doc_id, CAST(d.y AS BIGINT) AS y,
       |  CAST(d.n AS BIGINT) AS n_tokens, CAST(sc.s6 AS BIGINT) AS score6,
       |  CAST(CASE WHEN sc.s6 >= 500000 THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM doc d JOIN sc USING (doc_id)""".stripMargin

  // q230: CALIBRATION REPORT over the trained classifier — the
  // reliability diagram an ML-ops pipeline publishes before trusting a
  // score threshold: decile score bins × (count, positives, exact
  // integer mean score, trunc fixed-point positive rate). Every cell
  // is exact integer arithmetic over q226's scores, so the whole
  // report rides the training replay hash-exactly.
  def q230ScoreCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.pipeline.Classifier.scoreRowwise(
      t(s, dir, "documents"), "doc_id", "text", q225Label,
      classifierFit(s, dir)._2)
    scored
      .withColumn("bin",
        least(floor(col("score6") / lit(100000.0)).cast("long"), lit(9L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("score6")).as("_s"))
      .select(col("bin"), col("n"), col("n_pos"),
        ((col("_s") - col("_s") % col("n")) / col("n")).cast("long")
          .as("mean_score6"),
        ((lit(10000L) * col("n_pos") -
          (lit(10000L) * col("n_pos")) % col("n")) / col("n")).cast("long")
          .as("pos_rate4"))
  }

  val q230Sql: String =
    s"""$classifierScoreCtes,
       |binned AS (
       |  SELECT LEAST(sc.s6 // 100000, 9) AS bin, d.y, sc.s6
       |  FROM doc d JOIN sc USING (doc_id))
       |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
       |  CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CAST(SUM(s6) // COUNT(*) AS BIGINT) AS mean_score6,
       |  CAST((10000 * SUM(y)) // COUNT(*) AS BIGINT) AS pos_rate4
       |FROM binned GROUP BY 1""".stripMargin

  // q228: DOLMA-STYLE TAGGER + MIXER — the two-phase curation
  // architecture: taggers annotate every doc with a typed attribute
  // struct (token stats, stopword/repetition fractions, PII hits —
  // never dropping anything), then a declarative ordered rule list
  // decides keep/drop and RECORDS WHICH rule fired. PII is planted
  // in-plan on every 7th doc (the q57 pattern) so the pii rule
  // genuinely fires; thresholds sit at measured fixture percentiles so
  // every rule has real positives. The oracle rebuilds taggers and the
  // when-chain; all attribute arithmetic is trunc fixed-point.
  def q228TagMix(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Attributes
    import graft.pipeline.Attributes.MixRule
    val planted = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" reach me at user"),
        col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(col("text"))
    val tagged = Attributes.tagDocs(
      t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
      "doc_id", "text")
    Attributes.mix(tagged, Seq(
      MixRule("empty", col("attrs.n_tokens") === 0L),
      MixRule("pii", col("attrs.n_pii") > 0L),
      MixRule("too_short", col("attrs.n_tokens") < 20L),
      MixRule("low_stopword", col("attrs.stop_frac4") < 200L),
      MixRule("repetitive", col("attrs.max_share4") >= 1600L)))
      .select(col("doc_id"), col("attrs.n_tokens"), col("attrs.n_chars"),
        col("attrs.stop_frac4"), col("attrs.max_share4"),
        col("attrs.mean_len4"), col("attrs.n_pii"),
        col("drop_reason"), col("is_kept"))
  }

  val q228Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
      |        || '@example.com'
      |      ELSE text END AS text
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug) t0
      |  WHERE tok <> '' GROUP BY 1, 2),
      |d AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, CAST(MAX(c) AS BIGINT)
      |      AS mx,
      |    CAST(SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END)
      |      AS BIGINT) AS st,
      |    CAST(SUM(c * length(tok)) AS BIGINT) AS sl
      |  FROM tc GROUP BY 1),
      |attrs AS (
      |  SELECT a.doc_id, COALESCE(d.n, 0) AS n_tokens,
      |    CAST(length(a.text) AS BIGINT) AS n_chars,
      |    CASE WHEN COALESCE(d.n, 0) > 0
      |      THEN CAST((10000 * d.st) // d.n AS BIGINT) END AS stop_frac4,
      |    CASE WHEN COALESCE(d.n, 0) > 0
      |      THEN CAST((10000 * d.mx) // d.n AS BIGINT) END AS max_share4,
      |    CASE WHEN COALESCE(d.n, 0) > 0
      |      THEN CAST((10000 * d.sl) // d.n AS BIGINT) END AS mean_len4,
      |    CAST(len(regexp_extract_all(a.text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |      AS n_pii
      |  FROM aug a LEFT JOIN d USING (doc_id)),
      |mixed AS (
      |  SELECT *,
      |    CASE WHEN n_tokens = 0 THEN 'empty'
      |         WHEN n_pii > 0 THEN 'pii'
      |         WHEN n_tokens < 20 THEN 'too_short'
      |         WHEN stop_frac4 < 200 THEN 'low_stopword'
      |         WHEN max_share4 >= 1600 THEN 'repetitive' END AS drop_reason
      |  FROM attrs)
      |SELECT doc_id, n_tokens, n_chars, stop_frac4, max_share4, mean_len4,
      |  n_pii, drop_reason,
      |  CAST(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_kept
      |FROM mixed""".stripMargin

  // q231: CURATION FUNNEL V2 — the new round's operators composed the
  // way a curation job actually chains them, with a PER-STAGE AUDIT
  // row for every document: mixer rules (q228's thresholds, no PII
  // plant — the text must stay q225's so the classifier replay reuses
  // verbatim) → exact dedup among mix survivors (md5 canonical, min-id
  // keeps) → classifier gate at the q226 threshold → 80/10/10 hash
  // split for the final keeps. ONE exchange total (the dedup window;
  // PlanShapeSpec pins it): tagging, mixing, scoring and splitting are
  // all in-row, and the classifier model enters as literals from the
  // driver-side fit. The oracle = the training-replay CTEs + mixer +
  // windowed canonical + the q50 split hash, one chain.
  def q231CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.pipeline.{Attributes, Classifier, Sampling}
    import graft.pipeline.Attributes.MixRule
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val model = classifierFit(s, dir)._2
    val rules = Seq(
      MixRule("empty", col("attrs.n_tokens") === 0L),
      MixRule("too_short", col("attrs.n_tokens") < 20L),
      MixRule("low_stopword", col("attrs.stop_frac4") < 200L),
      MixRule("repetitive", col("attrs.max_share4") >= 1600L))
    val mixed = Attributes.mix(
      Attributes.tagDocs(docs, "doc_id", "text"), rules)
    val wk = Window.partitionBy(col("_k"))
    val h = Sampling.portableHash(col("doc_id"))
    val out = mixed
      .withColumn("_k", md5(col("text").cast("binary")))
      .withColumn("_min_kept",
        min(when(col("is_kept") === 1L, col("doc_id"))).over(wk))
      .withColumn("is_canonical",
        when(col("is_kept") === 1L,
          (col("doc_id") === col("_min_kept")).cast("long")))
      .withColumn("_cn", Classifier.bucketCountsFor(col("text"), model))
      .withColumn("score6", Classifier.scoreFromCounts(col("_cn"), model))
      .withColumn("pred",
        when(col("score6").isNotNull,
          (col("score6") >= lit(500000L)).cast("long")))
      .withColumn("split",
        when(col("is_kept") === 1L && col("is_canonical") === 1L &&
          col("pred") === 1L,
          when(h < 800000L, "train").when(h < 900000L, "val")
            .otherwise("test")))
      .withColumn("final_kept", col("split").isNotNull.cast("long"))
    out.select(col("doc_id"), col("drop_reason"), col("is_canonical"),
      col("score6"), col("pred"), col("split"), col("final_kept"))
  }

  val q231Sql: String =
    s"""$classifierScoreCtes,
       |mxc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tt GROUP BY 1, 2),
       |mxd AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(MAX(c) AS BIGINT) AS mx,
       |    CAST(SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END)
       |      AS BIGINT) AS st
       |  FROM mxc GROUP BY 1),
       |mx AS (
       |  SELECT d2.doc_id, d2.text,
       |    CASE WHEN COALESCE(mxd.n, 0) = 0 THEN 'empty'
       |         WHEN mxd.n < 20 THEN 'too_short'
       |         WHEN (10000 * mxd.st) // mxd.n < 200 THEN 'low_stopword'
       |         WHEN (10000 * mxd.mx) // mxd.n >= 1600 THEN 'repetitive'
       |    END AS drop_reason
       |  FROM documents d2 LEFT JOIN mxd USING (doc_id)),
       |canon AS (
       |  SELECT doc_id, drop_reason,
       |    CASE WHEN drop_reason IS NULL THEN
       |      CASE WHEN doc_id = MIN(CASE WHEN drop_reason IS NULL
       |          THEN doc_id END) OVER (PARTITION BY md5(text))
       |        THEN 1 ELSE 0 END END AS is_canonical
       |  FROM mx),
       |fin AS (
       |  SELECT c.doc_id, c.drop_reason,
       |    CAST(c.is_canonical AS BIGINT) AS is_canonical,
       |    CAST(sc.s6 AS BIGINT) AS score6,
       |    CASE WHEN sc.s6 IS NULL THEN NULL
       |         WHEN sc.s6 >= 500000 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS pred,
       |    CAST(concat('0x', substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 1000000 AS h
       |  FROM canon c LEFT JOIN sc USING (doc_id))
       |SELECT doc_id, drop_reason, is_canonical, score6, pred,
       |  CASE WHEN drop_reason IS NULL AND is_canonical = 1 AND pred = 1
       |    THEN (CASE WHEN h < 800000 THEN 'train'
       |               WHEN h < 900000 THEN 'val' ELSE 'test' END)
       |  END AS split,
       |  CAST(CASE WHEN drop_reason IS NULL AND is_canonical = 1
       |      AND pred = 1 THEN 1 ELSE 0 END AS BIGINT) AS final_kept
       |FROM fin""".stripMargin

  // q190: dominant principal component of the embedding fixture — the
  // ABTT whitening direction, via EXACT-INTEGER power iteration
  // (quantized grid → integer scatter matrix → integer-rescaled
  // iterations), so both engines produce bit-identical components with
  // no float tolerance in the loop; the oracle replays the identical
  // arithmetic in a recursive CTE (q128's iterative-oracle class).
  def q190PrincipalComponent(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.principalComponent(
      t(s, dir, "embeddings"), "vec_id", "embedding")

  val q190Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS j,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS q
      |  FROM embeddings),
      |nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS HUGEINT) AS n FROM e),
      |s AS (SELECT j, CAST(SUM(q) AS HUGEINT) AS s FROM e GROUP BY 1),
      |p AS (
      |  SELECT a.j AS j, b.j AS k, CAST(SUM(a.q * b.q) AS HUGEINT) AS p
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
      |amat AS (
      |  SELECT p.j, p.k, nn.n * p.p - sj.s * sk.s AS val
      |  FROM p, nn
      |  JOIN s sj ON p.j = sj.j JOIN s sk ON p.k = sk.j),
      |pc(iter, j, val) AS (
      |  SELECT 0, j, CAST(1 AS HUGEINT) FROM (SELECT DISTINCT j FROM s)
      |  UNION ALL
      |  SELECT iter, j,
      |    CASE WHEN wv >= 0 THEN wv // dv ELSE -((-wv) // dv) END
      |  FROM (
      |    SELECT iter, j, wv,
      |      GREATEST(CAST(1 AS HUGEINT),
      |        MAX(ABS(wv)) OVER (PARTITION BY iter) // 1000000) AS dv
      |    FROM (
      |      SELECT p2.iter + 1 AS iter, a.j AS j, SUM(a.val * p2.val) AS wv
      |      FROM amat a JOIN pc p2 ON a.k = p2.j
      |      WHERE p2.iter < 100
      |      GROUP BY 1, 2) t0) t1),
      |fin AS (SELECT j, val FROM pc WHERE iter = 100),
      |nrm AS (
      |  SELECT SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) AS nrm
      |  FROM fin)
      |SELECT CAST(j AS BIGINT) AS j, CAST(val AS BIGINT) AS pc_component,
      |  CAST(CAST(CAST(val AS DOUBLE) / nrm AS DECIMAL(28,6)) AS DOUBLE)
      |    AS direction
      |FROM fin, nrm""".stripMargin

  // q191: ABTT whitening — q190's integer top component removed from
  // the first 500 vectors, per-component (the whole chain — scatter,
  // iteration, projection — is exact integer arithmetic, so the
  // whitened components hash-match bit-for-bit). Orthogonality to the
  // removed direction is an integer identity, asserted in sbt.
  def q191AbttWhiten(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.pipeline.Similarity.removeTopComponent(emb, "vec_id", "embedding")
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), posexplode(col("whitened")).as(Seq("_p", "w")))
      .select(col("vec_id"), (col("_p") + 1).cast("long").as("j"), col("w"))
  }

  val q191Sql: String = {
    // reuse q190's recursive iteration verbatim, then project it out
    val iterate = q190Sql.substring(0, q190Sql.indexOf(",\nfin AS"))
    iterate +
      """,
        |fin AS (SELECT j, CAST(val AS BIGINT) AS v FROM pc WHERE iter = 100),
        |v2 AS (SELECT CAST(SUM(v * v) AS BIGINT) AS v2 FROM fin),
        |dots AS (
        |  SELECT e.vec_id, CAST(SUM(e.q * fin.v) AS BIGINT) AS dot
        |  FROM e JOIN fin USING (j) WHERE e.vec_id < 500 GROUP BY 1)
        |SELECT e.vec_id, CAST(e.j AS BIGINT) AS j,
        |  v2.v2 * e.q - dots.dot * fin.v AS w
        |FROM e JOIN fin USING (j) JOIN dots USING (vec_id) CROSS JOIN v2
        |WHERE e.vec_id < 500""".stripMargin
  }

  // q181: BPE pair statistics — top-50 adjacent character pairs inside
  // whitespace words, weighted by corpus word frequency: the first
  // merge-candidate table of byte-pair-encoding vocabulary induction.
  // Both engines enumerate pairs over the DISTINCT-word count table
  // and cut at a unique (count DESC, pair ASC) key, so the top-50 is
  // deterministic; counts are exact integers (BIGINT-cast in DuckDB —
  // its SUM(BIGINT) would otherwise surface as DECIMAL/float).
  def q181BpePairs(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.bpePairStats(t(s, dir, "documents"), "text")

  val q181Sql: String =
    """WITH w AS (
      |  SELECT unnest(string_split(text,' ')) AS word FROM documents),
      |wc AS (SELECT word, COUNT(*) AS n FROM w WHERE length(word)>0 GROUP BY 1),
      |ch AS (
      |  SELECT word, n, unnest(generate_series(1, length(word)-1)) AS i FROM wc),
      |p AS (
      |  SELECT substring(word, i, 2) AS pair, CAST(SUM(n) AS BIGINT) AS pair_count
      |  FROM ch GROUP BY 1)
      |SELECT pair, pair_count FROM p
      |QUALIFY row_number() OVER (ORDER BY pair_count DESC, pair ASC) <= 50""".stripMargin

  val q179Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS qv
      |  FROM embeddings),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS in_id, b.vec_id AS corpus_id, SUM(a.qv*b.qv) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos
      |  WHERE a.vec_id < 100 AND b.vec_id >= 100
      |  GROUP BY 1, 2)
      |SELECT in_id, corpus_id,
      |  CAST(dot AS DOUBLE)/SQRT(CAST(na.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE))
      |    AS cosine
      |FROM dots JOIN norms na ON in_id = na.vec_id
      |          JOIN norms nb ON corpus_id = nb.vec_id
      |WHERE CAST(dot AS DOUBLE)/SQRT(CAST(na.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE))
      |  >= 0.4""".stripMargin

  // q169: URL canonicalization + URL-level dedup — the crawl-frontier
  // key. Planted variants (the fixture has no url column — q145's
  // pattern) exercise every rule: case-folding scheme/host, default
  // port drop (:80/:443) vs non-default keep (:8080), fragment drop,
  // tracking-param strip in leading/trailing/only position, empty-path
  // → '/'. Variant 2 plants page=doc_id−1 so its canonical COLLIDES
  // with variant 1's for the adjacent id (real dup groups, n_urls=2),
  // and variant 5 is id-independent (one big group). GroupBy canonical
  // = the frontier dedup; at scale it's a 16-byte-hashable string key
  // on the only exchange.
  def q169UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url =
      when(id % 6 === 0, concat(lit("HTTP://WWW.Example.COM:80/Art/"),
        id.cast("string")))
      .when(id % 6 === 1, concat(lit("https://example.com/a?utm_source=feed&page="),
        id.cast("string")))
      .when(id % 6 === 2, concat(lit("https://Example.COM:443/a?page="),
        (id - 1).cast("string"), lit("&utm_campaign=z#frag")))
      .when(id % 6 === 3, concat(lit("https://example.com/"),
        id.cast("string"), lit("?utm_a=1&fbclid=xyz")))
      .when(id % 6 === 4, concat(lit("http://example.com:8080/x"),
        id.cast("string"), lit("#sec")))
      .otherwise(lit("HTTPS://CDN.Example.com"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.pipeline.TextClean.canonicalUrl(url).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n_urls"))
  }

  val q169Sql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Art/' || CAST(doc_id AS VARCHAR)
      |      WHEN 1 THEN 'https://example.com/a?utm_source=feed&page=' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN 'https://Example.COM:443/a?page=' || CAST(doc_id - 1 AS VARCHAR) || '&utm_campaign=z#frag'
      |      WHEN 3 THEN 'https://example.com/' || CAST(doc_id AS VARCHAR) || '?utm_a=1&fbclid=xyz'
      |      WHEN 4 THEN 'http://example.com:8080/x' || CAST(doc_id AS VARCHAR) || '#sec'
      |      ELSE 'HTTPS://CDN.Example.com' END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
      |    regexp_replace(regexp_replace(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+', ''), '#.*$', '') AS r1
      |  FROM u),
      |q3 AS (
      |  SELECT doc_id, scheme, hostport,
      |    regexp_replace(regexp_replace(regexp_replace(r1,
      |      '&(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*', '', 'g'),
      |      '\?(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*&', '?'),
      |      '\?(utm_[a-zA-Z0-9]+|gclid|fbclid)=[^&]*$', '') AS rest
      |  FROM parts),
      |canon AS (
      |  SELECT doc_id,
      |    scheme || '://' ||
      |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |         ELSE hostport END ||
      |    CASE WHEN rest = '' THEN '/' ELSE rest END AS canonical_url
      |  FROM q3)
      |SELECT canonical_url, min(doc_id) AS first_doc, count(*) AS n_urls
      |FROM canon GROUP BY 1""".stripMargin

  // q170: the per-language corpus mix report — the table a pretraining
  // run reads before setting sampling weights (docs, tokens, chars,
  // chars/token, share of corpus tokens per language). One partial-agg
  // groupBy over in-row token counts; the grand total rides back in as
  // a 1-row broadcast crossJoin (the in-plan-N pattern), so the report
  // is two scans of nothing but the agg output at any corpus size.
  def q170CorpusReport(s: SparkSession, dir: String): DataFrame = {
    val perDoc = t(s, dir, "documents").select(col("lang"), col("n_chars"),
      size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long").as("n_toks"))
    val g = perDoc.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      sum(col("n_chars")).as("total_chars"))
    val tot = g.agg(sum(col("n_tokens")).as("_g_tot"))
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("total_chars"),
        d6(col("total_chars").cast("double") / col("n_tokens").cast("double"))
          .as("chars_per_token"),
        d6(col("n_tokens").cast("double") / col("_g_tot").cast("double"))
          .as("token_share"))
  }

  val q170Sql: String =
    """WITH td AS (
      |  SELECT lang, n_chars,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS BIGINT) AS n_toks
      |  FROM documents),
      |g AS (SELECT lang, count(*) AS n_docs,
      |        CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |        CAST(sum(n_chars) AS BIGINT) AS total_chars
      |      FROM td GROUP BY 1),
      |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM g)
      |SELECT lang, n_docs, n_tokens, total_chars,
      |  CAST(CAST(CAST(total_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS chars_per_token,
      |  CAST(CAST(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS token_share
      |FROM g CROSS JOIN t""".stripMargin

  // q171: CCNet-style perplexity tiers — every document lands in
  // head/middle/tail by unigram-LM per-token logprob tertile, the
  // standard quality split before sampling. Composes two green
  // operators: q116's LM scoring (d6-rounded, its exact discipline)
  // and q134's equi-depth bucketing (exact percentile boundaries,
  // round(·,4), broadcast back — the scale-correct ntile: no global
  // sort anywhere, the boundary frame is 1 row).
  def q171PerplexityTiers(s: SparkSession, dir: String): DataFrame = {
    val lp = graft.pipeline.TextStats.unigramLogProb(
      t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), d6(col("avg_logprob")).as("lp"))
    graft.ops.Profile.quantileBuckets(lp, "lp", nBuckets = 3)
      .select(col("doc_id"), col("n_tokens"), col("lp"),
        when(col("bucket") === 2, lit("head"))
          .when(col("bucket") === 1, lit("middle"))
          .otherwise(lit("tail")).as("tier"))
  }

  val q171Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |c AS (SELECT tok, count(*) AS cnt FROM tk2 GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
      |lp AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    CAST(CAST(sum(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
      |        / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS lp
      |  FROM tk2 JOIN c USING (tok) CROSS JOIN t
      |  GROUP BY doc_id),
      |b AS (SELECT list_transform(quantile_cont(lp, [1.0/3, 2.0/3]),
      |        q -> round(q, 4)) AS bs FROM lp)
      |SELECT doc_id, n_tokens, lp,
      |  CASE len(list_filter((SELECT bs FROM b), q -> q <= lp))
      |    WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier
      |FROM lp""".stripMargin

  // q172: the filter-funnel attrition report — per-rule drop counts
  // for the C4 gate cascade (q146's planted corpus), the table a
  // curation run publishes so "we filtered 60% of the crawl" is
  // decomposable by reason. qualityFilter already emits the
  // first-failing-rule reason per doc; the report is one groupBy over
  // it plus the in-plan total for shares. At scale: the same single
  // scan as the gate itself, agg output is ≤ 5 rows.
  def q172FilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val planted =
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" "), repeat(lit("12345 "), 30)))
        .when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" "), repeat(lit("@#$%& "), 25)))
        .when(col("doc_id") % 4 === 2, substring(col("text"), 1, 20))
        .otherwise(col("text"))
    val gate = graft.pipeline.TextStats.qualityFilter(
      t(s, dir, "documents").select(col("doc_id"), planted.as("t")),
      "doc_id", "t")
    val g = gate.groupBy(col("reason")).agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val tot = g.agg(sum(col("n_docs")).as("_g_tot"))
    g.crossJoin(broadcast(tot))
      .select(col("reason"), col("n_docs"), col("n_tokens"),
        d6(col("n_docs").cast("double") / col("_g_tot").cast("double"))
          .as("doc_share"))
  }

  val q172Sql: String =
    """WITH m AS (
      |  SELECT doc_id, CASE doc_id % 4
      |    WHEN 0 THEN text || ' ' || repeat('12345 ', 30)
      |    WHEN 1 THEN text || ' ' || repeat('@#$%& ', 25)
      |    WHEN 2 THEN substring(text, 1, 20)
      |    ELSE text END AS t
      |  FROM documents),
      |tk AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM m),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |ts AS (SELECT doc_id, count(*) AS n_tokens, sum(length(tok)) AS sl
      |       FROM tk2 GROUP BY 1),
      |ch AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |    CAST(length(regexp_replace(t, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT)
      |      AS n_sym,
      |    CAST(length(regexp_replace(t, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS n_dig
      |  FROM m),
      |j AS (
      |  SELECT ch.doc_id, coalesce(ts.n_tokens, 0) AS n_tokens,
      |    CASE WHEN coalesce(ts.n_tokens, 0) = 0 THEN 0.0
      |         ELSE CAST(ts.sl AS DOUBLE) / ts.n_tokens END AS atl,
      |    CASE WHEN ch.n_chars = 0 THEN 0.0
      |         ELSE CAST(ch.n_sym AS DOUBLE) / ch.n_chars END AS sym,
      |    CASE WHEN ch.n_chars = 0 THEN 0.0
      |         ELSE CAST(ch.n_dig AS DOUBLE) / ch.n_chars END AS dig
      |  FROM ch LEFT JOIN ts USING (doc_id)),
      |v AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens < 40 THEN 'too_short'
      |         WHEN atl < 2.0 OR atl > 12.0 THEN 'token_len'
      |         WHEN sym > 0.1 THEN 'symbol'
      |         WHEN dig > 0.15 THEN 'numeric'
      |         ELSE 'kept' END AS reason
      |  FROM j),
      |g AS (SELECT reason, count(*) AS n_docs,
      |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |      FROM v GROUP BY 1),
      |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM g)
      |SELECT reason, n_docs, n_tokens,
      |  CAST(CAST(CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS doc_share
      |FROM g CROSS JOIN tt""".stripMargin

  // q173: leakage-safe grouped split — train/val/test assigned by the
  // GROUP key (source domain), not the row, so every document of a
  // source lands in the same split: near-duplicates and templated
  // pages cluster within sources, and a row-level split would leak
  // them across train/test (the dedup-aware split rule). Same
  // portable-md5 thresholds as q50; grouping costs nothing — the hash
  // input just switches to the group column. Pure projection, zero
  // shuffles, trivially 100 TB-safe.
  def q173GroupSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.hashSplit(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  val q173Sql: String =
    """SELECT doc_id, source,
      |  CASE WHEN h < 800000 THEN 'train'
      |       WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id, source,
      |    CAST(concat('0x', substring(md5(source), 1, 8)) AS BIGINT)
      |      % 1000000 AS h
      |  FROM documents)""".stripMargin

  // q137: canonical-form dedup — exactDedup over
  // TextClean.canonicalForDedup keys. Every document gains a precomposed
  // ' café' suffix; every 7th doc also re-enters as a "re-crawl"
  // (id+30000) that is uppercased, double-spaced and DECOMPOSED
  // (CAFE + combining acute). Byte-equality sees 572 distinct texts;
  // the canonical key (NFC → lower → whitespace collapse → trim) must
  // collapse each re-crawl onto its source: 500 groups, 72 of size 2.
  def q137CanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val aug = docs
      .select(col("doc_id"), concat(col("text"), lit(" caf\u00E9")).as("t"))
      .unionAll(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(regexp_replace(upper(col("text")), " ", "  "),
            lit(" CAFE\u0301")).as("t")))
    TextDedup.exactDedup(
      aug.select(col("doc_id"),
        graft.pipeline.TextClean.canonicalForDedup(col("t")).as("t")),
      "doc_id", "t")
  }

  val q137Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, text || ' caf' || chr(233) AS t FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    regexp_replace(upper(text), ' ', '  ', 'g') || ' CAFE' || chr(769)
      |  FROM documents WHERE doc_id % 7 = 0),
      |canon AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(nfc_normalize(t)), '\s+', ' ', 'g')) AS c
      |  FROM aug)
      |SELECT md5(c) AS content_hash, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM canon GROUP BY 1""".stripMargin

  // q192: DSIR-selected training subset — hashed-unigram importance
  // weights toward an in-corpus target (the 'en' slice stands in for
  // the exemplar set), Gumbel-top-k resampling without replacement.
  // Every bucket, λ, weight and noise term is md5-derived, so the
  // oracle rebuilds the whole chain bit-identically; ln ulp drift is
  // d6-absorbed at the two contract points (logw before the noise,
  // score before the cut — q116/q123's discipline). The 200-row cut
  // at sf0.01 is far wider than rounding noise, and the (score DESC,
  // doc_id) tie-break pins the boundary.
  def q192DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", nBuckets = 64, alpha = 1.0, salt = "dsir")
      .select(col("doc_id"), col("n_tokens"), d6(col("logw")).as("logw"))
    Sampling.gumbelTopK(w, "doc_id", "logw", k = 200, salt = "gumbel")
  }

  val q192Sql: String =
    """WITH tk0 AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tk AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substring(md5('dsir:' || tok), 1, 8)) AS BIGINT)
      |      % 1000000 % 64 AS b
      |  FROM tk0 WHERE tok <> ''),
      |rc AS (SELECT b, count(*) AS r FROM tk GROUP BY 1),
      |tc AS (SELECT b, count(*) AS tt FROM tk WHERE lang = 'en' GROUP BY 1),
      |j AS (
      |  SELECT coalesce(rc.b, tc.b) AS b, coalesce(r, 0) AS r,
      |    coalesce(tt, 0) AS tt
      |  FROM rc FULL OUTER JOIN tc ON rc.b = tc.b),
      |g AS (SELECT CAST(sum(r) AS DOUBLE) AS gr, CAST(sum(tt) AS DOUBLE) AS gt
      |      FROM j),
      |lam AS (
      |  SELECT b, ln((tt + 1.0) / (gt + 64.0)) - ln((r + 1.0) / (gr + 64.0))
      |    AS lam
      |  FROM j CROSS JOIN g),
      |w AS (
      |  SELECT doc_id, count(*) AS n_tokens,
      |    CAST(CAST(sum(lam) AS DECIMAL(28,6)) AS DOUBLE) AS logw
      |  FROM tk JOIN lam USING (b) GROUP BY 1)
      |SELECT doc_id, n_tokens, logw,
      |  CAST(CAST(logw - ln(-ln(
      |      (CAST(concat('0x', substring(md5('gumbel:' ||
      |         CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 + 0.5)
      |      / 1000000.0))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS score
      |FROM w
      |ORDER BY score DESC, doc_id LIMIT 200""".stripMargin

  // q197: hard-negative mining over the embeddings table — per query,
  // the top-10 nearest DIFFERENT-label vectors (q17's exact quantized
  // cosine with the label inequality in the join condition). The
  // oracle rebuilds the integer dots and the label gate; cosine is the
  // division of identical exact integers, so bytes agree unrounded
  // (q17's precedent).
  def q197HardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.hardNegatives(
      t(s, dir, "embeddings"), "vec_id", "embedding", "label",
      queryPred = col("vec_id") < 8, k = 10)

  val q197Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
      |      AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, pos, qv FROM e WHERE vec_id < 8),
      |dots AS (SELECT q.qid, e.vec_id AS nid, SUM(q.qv * e.qv) AS dot
      |         FROM q JOIN e ON q.pos = e.pos GROUP BY 1,2),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |scored AS (
      |  SELECT qid, lq.label AS q_label, nid, ln2.label AS n_label,
      |    CAST(dot AS DOUBLE)
      |      / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cosine
      |  FROM dots
      |  JOIN norms nq ON qid = nq.vec_id
      |  JOIN norms nn ON nid = nn.vec_id
      |  JOIN embeddings lq ON qid = lq.vec_id
      |  JOIN embeddings ln2 ON nid = ln2.vec_id
      |  WHERE qid <> nid AND lq.label <> ln2.label)
      |SELECT qid, q_label, nid, n_label, rank, cosine FROM (
      |  SELECT qid, q_label, nid, n_label, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC)
      |      AS rank
      |  FROM scored) WHERE rank <= 10""".stripMargin

  // q198: temperature-scaled language mix (α = 0.5) plus the keep rate
  // that downsamples each language to its tempered share of a
  // 2000-doc budget. pow() ulp and float-sum order are both absorbed
  // by temperatureShares' d6-quantize-then-exact-decimal-sum
  // discipline; keep_rate chains ONLY deterministic double ops on the
  // already-d6 share.
  def q198TemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureShares(t(s, dir, "documents"), "lang", alpha = 0.5)
      .select(col("lang"), col("n"), col("share"), col("temp_share"),
        d6(least(lit(1.0),
          lit(2000.0) * col("temp_share") / col("n").cast("double")))
          .as("keep_rate"))

  val q198Sql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |w AS (SELECT lang, n,
      |        CAST(POWER(CAST(n AS DOUBLE), 0.5) AS DECIMAL(28,6)) AS w6
      |      FROM c),
      |t AS (SELECT SUM(n) AS tn, SUM(w6) AS tw FROM w),
      |ts AS (
      |  SELECT lang, n,
      |    CAST(CAST(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS share,
      |    CAST(CAST(CAST(w6 AS DOUBLE) / CAST(tw AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS temp_share
      |  FROM w CROSS JOIN t)
      |SELECT lang, n, share, temp_share,
      |  CAST(CAST(LEAST(1.0, 2000.0 * temp_share / CAST(n AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS keep_rate
      |FROM ts""".stripMargin

  // q199: the round-robin curriculum interleave over sources —
  // schedule_rank must equal the single-window row_number() OVER
  // (ORDER BY pos, source) the oracle computes, while the engine
  // builds it from per-domain windows + the broadcast count fold
  // (no global single-partition window anywhere in the plan).
  def q199Interleave(s: SparkSession, dir: String): DataFrame =
    Sampling.interleave(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      "doc_id", "source")

  val q199Sql: String =
    """WITH p AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS pos
      |  FROM documents)
      |SELECT doc_id, source, pos,
      |  CAST(ROW_NUMBER() OVER (ORDER BY pos, source) AS BIGINT)
      |    AS schedule_rank
      |FROM p""".stripMargin

  // q200: jusText-lite content-line extraction over planted page chrome
  // (q57's inject-identically-on-both-sides pattern): every document
  // gains a nav bar, a button label and a legal footer; the extractor
  // must keep exactly the lines that are long enough AND clear the
  // integer stopword-density test — for the fixture prose that's the
  // document's own line (when it qualifies), never the chrome.
  def q200ContentExtract(s: SparkSession, dir: String): DataFrame = {
    val planted = concat_ws("\n",
      lit("Home | Products | Contact"),
      col("text"),
      lit("OK"),
      lit("Copyright 2024 Example Corp All Rights Reserved"))
    graft.pipeline.TextClean.extractContentLines(
      t(s, dir, "documents").withColumn("_aug", planted),
      "_aug", stopwords = Seq("the", "a", "of", "to", "and", "in"),
      minChars = 20, stopNum = 1, stopDen = 20)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("content_text"))
  }

  val q200Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    'Home | Products | Contact' || chr(10) || text || chr(10) ||
      |    'OK' || chr(10) ||
      |    'Copyright 2024 Example Corp All Rights Reserved' AS t
      |  FROM documents),
      |l AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS ord,
      |    unnest(string_split(t, chr(10))) AS ln
      |  FROM aug),
      |k AS (
      |  SELECT doc_id, ord, ln,
      |    CASE WHEN length(ln) >= 20 AND
      |      20 * len(list_filter(list_filter(string_split(ln, ' '),
      |            x -> x <> ''),
      |          x -> list_contains(['the','a','of','to','and','in'], x)))
      |        >= len(list_filter(string_split(ln, ' '), x -> x <> ''))
      |      THEN 1 ELSE 0 END AS kept
      |  FROM l)
      |SELECT doc_id, count(*) AS n_lines,
      |  CAST(sum(kept) AS BIGINT) AS n_kept,
      |  coalesce(string_agg(CASE WHEN kept = 1 THEN ln END, chr(10)
      |    ORDER BY ord), '') AS content_text
      |FROM k GROUP BY 1""".stripMargin

  // q201: the domain policy gate — registrable-domain blocklist + a
  // 40-doc per-domain crawl-order cap, judged over URLs synthesized
  // from the source column so the oracle can state the expected domain
  // DIRECTLY (the parse chain itself is q169's detailed contract).
  def q201DomainPolicy(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://WWW."), col("source"),
      lit(".Example/p/"), col("doc_id").cast("string"),
      lit("?utm_source=crawl"))
    graft.pipeline.TextClean.domainPolicyGate(
      t(s, dir, "documents").withColumn("_url", url),
      "doc_id", "_url",
      blocked = Seq("src0.example", "src7.example"), maxPerDomain = 40)
      .select(col("doc_id"), col("domain"), col("is_blocked"),
        col("domain_rank"), col("is_kept"))
  }

  val q201Sql: String =
    """SELECT doc_id, source || '.example' AS domain,
      |  CASE WHEN source IN ('src0', 'src7') THEN 1 ELSE 0 END AS is_blocked,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
      |    AS BIGINT) AS domain_rank,
      |  CASE WHEN source NOT IN ('src0', 'src7')
      |    AND ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 40
      |    THEN 1 ELSE 0 END AS is_kept
      |FROM documents""".stripMargin

  // q202: the whole crawl-to-train-ready pipeline as ONE declarative
  // plan — domain policy gate → content-line extraction → canonical
  // dedup (min-id per key) → PII scrub (planted email, q57's pattern)
  // → integer token gate → deterministic split. The oracle rebuilds
  // every stage; the only exchanges in the whole chain are the policy
  // gate's domain-keyed window and the dedup's 16-byte-hash-keyed
  // window (q166's discipline, now with the round's new gates in
  // front). Everything else happens AT the scan.
  def q202PipelineE2e(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = graft.pipeline.TextClean
    val url = concat(lit("https://WWW."), col("source"),
      lit(".Example/p/"), col("doc_id").cast("string"),
      lit("?utm_source=crawl"))
    val pol = tc.domainPolicyGate(
        t(s, dir, "documents").withColumn("_url", url),
        "doc_id", "_url",
        blocked = Seq("src0.example", "src7.example"), maxPerDomain = 40)
      .filter(col("is_kept") === 1)
      .select(col("doc_id"), col("domain"), col("text"))
    val aug = pol.withColumn("_aug", concat_ws("\n",
      lit("Home | Products | Contact"), col("text"), lit("OK"),
      lit("Copyright 2024 Example Corp All Rights Reserved")))
    val ext = tc.extractContentLines(aug, "_aug",
        stopwords = Seq("the", "a", "of", "to", "and", "in"),
        minChars = 20, stopNum = 1, stopDen = 20)
      .select(col("doc_id"), col("domain"), col("content_text"))
    val wk = Window.partitionBy(col("_ckey"))
    val ded = ext
      .withColumn("_ckey",
        md5(tc.canonicalForDedup(col("content_text")).cast("binary")))
      .withColumn("_keep", min(col("doc_id")).over(wk))
      .filter(col("doc_id") === col("_keep"))
    val planted = concat(col("content_text"), lit(" reach-"),
      col("doc_id").cast("string"), lit("@ex.com"))
    val scr = tc.scrubPii(ded.withColumn("_w", planted), "_w")
    val toks = filter(split(col("scrubbed_text"), " "), x => x =!= "")
    val gated = scr.withColumn("n_tokens", size(toks).cast("long"))
      .filter(col("n_tokens") >= 12)
    Sampling.hashSplit(gated, "doc_id",
        Seq("train" -> 0.9, "test" -> 0.1))
      .select(col("doc_id"), col("domain"), col("split"), col("n_tokens"),
        col("n_emails"),
        md5(col("scrubbed_text").cast("binary")).as("content_hash"))
  }

  val q202Sql: String =
    """WITH u AS (
      |  SELECT doc_id, source || '.example' AS domain, text,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
      |  FROM documents),
      |pol AS (
      |  SELECT doc_id, domain, text FROM u
      |  WHERE domain NOT IN ('src0.example', 'src7.example') AND rnk <= 40),
      |aug AS (
      |  SELECT doc_id, domain,
      |    'Home | Products | Contact' || chr(10) || text || chr(10) ||
      |    'OK' || chr(10) ||
      |    'Copyright 2024 Example Corp All Rights Reserved' AS t
      |  FROM pol),
      |l AS (
      |  SELECT doc_id, domain,
      |    generate_subscripts(string_split(t, chr(10)), 1) AS ord,
      |    unnest(string_split(t, chr(10))) AS ln
      |  FROM aug),
      |k AS (
      |  SELECT doc_id, domain, ord, ln,
      |    CASE WHEN length(ln) >= 20 AND
      |      20 * len(list_filter(list_filter(string_split(ln, ' '),
      |            x -> x <> ''),
      |          x -> list_contains(['the','a','of','to','and','in'], x)))
      |        >= len(list_filter(string_split(ln, ' '), x -> x <> ''))
      |      THEN 1 ELSE 0 END AS kept
      |  FROM l),
      |ext AS (
      |  SELECT doc_id, domain,
      |    coalesce(string_agg(CASE WHEN kept = 1 THEN ln END, chr(10)
      |      ORDER BY ord), '') AS content
      |  FROM k GROUP BY doc_id, domain),
      |ded AS (
      |  SELECT doc_id, domain, content,
      |    min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(
      |      lower(nfc_normalize(content)), '\s+', ' ', 'g')))) AS keep_id
      |  FROM ext),
      |kept AS (
      |  SELECT doc_id, domain,
      |    content || ' reach-' || CAST(doc_id AS VARCHAR) || '@ex.com' AS w
      |  FROM ded WHERE doc_id = keep_id),
      |s1 AS (
      |  SELECT doc_id, domain,
      |    CAST(len(regexp_extract_all(w,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |      AS n_emails,
      |    regexp_replace(w, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g') AS t1
      |  FROM kept),
      |s3 AS (
      |  SELECT doc_id, domain, n_emails,
      |    regexp_replace(regexp_replace(t1,
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
      |      '<IP>', 'g'), '[0-9]{7,}', '<NUM>', 'g') AS s
      |  FROM s1),
      |g AS (
      |  SELECT doc_id, domain, n_emails, s,
      |    CAST(len(list_filter(string_split(s, ' '), x -> x <> ''))
      |      AS BIGINT) AS n_tokens
      |  FROM s3)
      |SELECT doc_id, domain,
      |  CASE WHEN CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 1000000 < 900000
      |    THEN 'train' ELSE 'test' END AS split,
      |  n_tokens, n_emails, md5(s) AS content_hash
      |FROM g WHERE n_tokens >= 12""".stripMargin

  // q203: held-out LM scoring — the bigram model estimated ONLY on the
  // 'en' slice (the trusted corpus), applied to every document (q130
  // scores the corpus against itself). Unseen bigrams/contexts pay the
  // add-k floor via left joins + coalesce 0; d6 on the per-doc mean
  // (q116's ln discipline).
  def q203HeldOutLm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextStats.bigramLogProbAgainst(
      docs.filter(col("lang") === "en"), docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        d6(col("avg_logprob")).as("avg_logprob"))
  }

  val q203Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    generate_subscripts(string_split(text,' '),1) AS pos,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, lang, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, lang, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, lang, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2
      |        WHERE lang = 'en' GROUP BY 1, 2),
      |c1 AS (SELECT tok, count(*) AS c1 FROM bi2
      |       WHERE lang = 'en' GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk2
      |      WHERE lang = 'en')
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(sum(ln((CAST(coalesce(c12, 0) AS DOUBLE) + 0.5)
      |      / (CAST(coalesce(c1, 0) AS DOUBLE) + 0.5 * v)))
      |    / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS avg_logprob
      |FROM bi2 LEFT JOIN c12 USING (tok, nxt) LEFT JOIN c1 USING (tok)
      |CROSS JOIN v
      |GROUP BY doc_id""".stripMargin

  // q229: KNESER-NEY held-out LM scoring — q203's judge upgraded to
  // the smoothing KenLM made standard for corpus filtering: absolute
  // discounting (d = 3/4, exact in binary) with continuation
  // probabilities, one folded OOV type so unseen words score
  // 1/(T+V), unseen CONTEXTS backing off to Pcont directly. Model =
  // the 'en' slice, scored over the whole corpus. Every count is
  // exact; the probability expression is written in one operator
  // order mirrored by the oracle; d6 on the final per-doc average
  // (q203's contract).
  def q229KneserNeyLm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextStats.knLogProbAgainst(
      docs.filter(col("lang") === "en"), docs, "doc_id", "text")
  }

  val q229Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    generate_subscripts(string_split(text,' '),1) AS pos,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, lang, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, lang, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, lang, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2
      |        WHERE lang = 'en' GROUP BY 1, 2),
      |ctx AS (SELECT tok, CAST(SUM(c12) AS BIGINT) AS c1,
      |          COUNT(*) AS n1post FROM c12 GROUP BY 1),
      |pre AS (SELECT nxt, COUNT(*) AS n1pre FROM c12 GROUP BY 1),
      |tv AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM c12) AS t,
      |         (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) FROM tk2
      |          WHERE lang = 'en') AS v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(CAST(sum(ln(CASE WHEN ctx.c1 IS NULL
      |      THEN (CAST(coalesce(pre.n1pre, 0) AS DOUBLE) + 1.0)
      |        / (tv.t + tv.v)
      |      ELSE (GREATEST(CAST(coalesce(c12.c12, 0) AS DOUBLE) - 0.75, 0.0)
      |            + 0.75 * CAST(ctx.n1post AS DOUBLE) *
      |              ((CAST(coalesce(pre.n1pre, 0) AS DOUBLE) + 1.0)
      |               / (tv.t + tv.v)))
      |           / CAST(ctx.c1 AS DOUBLE) END))
      |    / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS avg_logprob_kn
      |FROM bi2 LEFT JOIN c12 USING (tok, nxt) LEFT JOIN ctx USING (tok)
      |LEFT JOIN pre USING (nxt) CROSS JOIN tv
      |GROUP BY doc_id""".stripMargin

  // q204: regex sentence segmentation over planted punctuation (the
  // fixture prose has none — q57's inject-identically pattern): every
  // document becomes four sentences, trailing end punctuation trimmed
  // the same way on both sides. RE2-portable split, so DuckDB's
  // string_split_regex IS the same splitter.
  def q204Sentences(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(lit("Intro sentence one. "), col("text"),
      lit("! A short tail? Done."))
    graft.pipeline.TextStats.sentences(
      t(s, dir, "documents").withColumn("_aug", aug), "doc_id", "_aug")
  }

  val q204Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    'Intro sentence one. ' || text || '! A short tail? Done.' AS t
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split_regex(t, '[.!?]+ +'), 1) - 1
      |      AS sent_idx,
      |    unnest(string_split_regex(t, '[.!?]+ +')) AS raw
      |  FROM aug),
      |s AS (
      |  SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx,
      |    regexp_replace(raw, '[.!?]+$', '') AS sentence
      |  FROM p)
      |SELECT doc_id, sent_idx, sentence,
      |  CAST(length(sentence) AS BIGINT) AS n_chars,
      |  CAST(len(list_filter(string_split(sentence, ' '), x -> x <> ''))
      |    AS BIGINT) AS n_tokens
      |FROM s WHERE sentence <> ''""".stripMargin

  // q205: perceptual image dedup — REAL codec path end to end: each
  // distinct image seed (doc_id % 250, so re-uploads share a payload)
  // is PNG-encoded once, pixel-decoded to its 64-bit aHash (q93's
  // kernel), joined back to its documents, and near-dup pairs come out
  // of simhashPairs' pigeonhole banding over the combined fingerprint
  // — never an all-pairs image compare. The oracle rebuilds the hash
  // arithmetically from the generative pixel formula (q93's CTE) and
  // takes the exact hamming-0..3 pairs.
  def q205ImageDedup(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.pipeline.Multimodal
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 250).as("seed"))
    val specs = docs.select(col("seed")).distinct()
      .select(col("seed"),
        (col("seed") % 48 + 8).as("w"), (col("seed") % 37 + 8).as("h"))
    val hashed = mm.aHashImagesBatched(
        mm.encodeImagesBatched(specs, "seed", "w", "h"), "doc_id")
      .toDF().withColumnRenamed("doc_id", "seed")
    val fp = docs.join(broadcast(hashed), "seed")
      .select(col("doc_id"),
        shiftleft(col("ahash_hi"), 32).bitwiseOR(col("ahash_lo"))
          .as("simhash"))
    graft.pipeline.TextDedup.simhashPairs(fp, "doc_id", maxHamming = 3)
  }

  val q205Sql: String =
    """WITH seeds AS (SELECT DISTINCT doc_id % 250 AS seed FROM documents),
      |spec AS (
      |  SELECT seed, CAST(seed % 48 + 8 AS BIGINT) AS w,
      |    CAST(seed % 37 + 8 AS BIGINT) AS h
      |  FROM seeds),
      |px AS (SELECT seed, w, h, unnest(range(w * h)) AS i FROM spec),
      |gray AS (
      |  SELECT seed,
      |    ((y * 8) // h) * 8 + (x * 8) // w AS cell,
      |    (299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
      |      + 114 * (rgb & 255)) // 1000 AS luma
      |  FROM (
      |    SELECT seed, w, h, i % w AS x, i // w AS y,
      |      (seed * 2654435761 + (i % w) * 7919 + (i // w) * 104729)
      |        & 16777215 AS rgb
      |    FROM px)),
      |cells AS (
      |  SELECT seed, cell, sum(luma) // count(*) AS ca
      |  FROM gray GROUP BY 1, 2),
      |m AS (SELECT seed, sum(ca) // 64 AS mean FROM cells GROUP BY 1),
      |fp0 AS (
      |  SELECT c.seed,
      |    CAST(sum(CASE WHEN ca >= mean AND cell >= 32
      |        THEN CAST(1 AS BIGINT) << CAST(cell - 32 AS INT) ELSE 0 END)
      |      AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN ca >= mean AND cell < 32
      |        THEN CAST(1 AS BIGINT) << CAST(cell AS INT) ELSE 0 END)
      |      AS BIGINT) AS lo
      |  FROM cells c JOIN m USING (seed) GROUP BY 1),
      |fpu AS (
      |  -- Spark's shiftleft wraps two's-complement; DuckDB << checks
      |  -- overflow, so build the signed 64-bit value via HUGEINT
      |  SELECT seed, CAST(hi AS HUGEINT) * 4294967296 + lo AS u
      |  FROM fp0),
      |fp1 AS (
      |  SELECT seed,
      |    CAST(CASE WHEN u > 9223372036854775807
      |      THEN u - 18446744073709551616 ELSE u END AS BIGINT) AS f
      |  FROM fpu),
      |fp AS (
      |  SELECT d.doc_id, f.f AS fp
      |  FROM documents d JOIN fp1 f ON d.doc_id % 250 = f.seed)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin

  // q208: the ANN-fed hard-negative miner — q197's exact kernel fed by
  // lshCandidates at the q174 recall-1.0 parameters, SHARING q197's
  // oracle verbatim: the corpus-scale composition for contrastive
  // mining, driver-checked end-to-end (PipelineSpec asserts the
  // recall-1.0 precondition at both SFs).
  def q208HardNegativesAnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cand = graft.pipeline.Similarity.lshCandidates(
      e, "vec_id", "embedding", queryPred = col("vec_id") < 8,
      tables = 24, bits = 3)
    graft.pipeline.Similarity.hardNegativesFromCandidates(
      e, "vec_id", "embedding", "label", cand, k = 10)
  }

  // q209: the split-leakage audit — exact near-dup pairs (q26's
  // operator and threshold) judged against the q50-style hash split,
  // counted by (split_a, split_b). Both memberships come back IN-ROW
  // from the pair's own ids (the split is a pure hash function), so
  // the audit adds zero joins; the oracle rebuilds pairs + thresholds.
  def q209SplitLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.pipeline.Similarity.embeddingDupPairs(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
    Sampling.splitLeakageAudit(pairs, "vec_a", "vec_b",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
  }

  val q209Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
      |      AS qv
      |  FROM embeddings),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.qv*b.qv) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |pairs AS (
      |  SELECT vec_a, vec_b
      |  FROM dots JOIN norms na ON vec_a = na.vec_id
      |  JOIN norms nb ON vec_b = nb.vec_id
      |  WHERE CAST(dot AS DOUBLE)
      |    / SQRT(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
      |sp AS (
      |  SELECT vec_a, vec_b,
      |    CASE WHEN CAST(concat('0x', substring(md5(CAST(vec_a AS VARCHAR)),
      |        1, 8)) AS BIGINT) % 1000000 < 800000 THEN 'train'
      |      WHEN CAST(concat('0x', substring(md5(CAST(vec_a AS VARCHAR)),
      |        1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'val'
      |      ELSE 'test' END AS split_a,
      |    CASE WHEN CAST(concat('0x', substring(md5(CAST(vec_b AS VARCHAR)),
      |        1, 8)) AS BIGINT) % 1000000 < 800000 THEN 'train'
      |      WHEN CAST(concat('0x', substring(md5(CAST(vec_b AS VARCHAR)),
      |        1, 8)) AS BIGINT) % 1000000 < 900000 THEN 'val'
      |      ELSE 'test' END AS split_b
      |  FROM pairs)
      |SELECT split_a, split_b, count(*) AS n_pairs,
      |  CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS is_cross
      |FROM sp GROUP BY 1, 2""".stripMargin

  // q210: exact fixed-size stratified sample — exactly 30 docs per
  // language by salted-hash order, drawn through the custom
  // TopKPerKeyExec (bounded heaps, and its output partitioning lets
  // the rank window reuse the SAME exchange — PlanShapeSpec pins the
  // single-shuffle plan). Oracle = the window rebuild.
  def q210FixedStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.fixedSizeStratifiedSample(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", n = 30)

  val q210Sql: String =
    """SELECT doc_id, lang, sample_rank FROM (
      |  SELECT doc_id, lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
      |      AS BIGINT) AS sample_rank
      |  FROM (
      |    SELECT doc_id, lang,
      |      CAST(concat('0x', substring(md5('fixed:' ||
      |        CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS h
      |    FROM documents))
      |WHERE sample_rank <= 30""".stripMargin

  // q247: retrieval evaluation — Recall@20 / MRR@20 / nDCG@20 of the
  // batched multi-query BM25 run (Retrieval.bm25MultiTopK: one corpus
  // pass for all three queries, per-query cut through TopKPerKeyExec)
  // against deterministic graded qrels derived from the corpus itself:
  // rel(q, d) = #{query terms with tf(d, t) >= 3} (grades 1..3,
  // "relevant" = grade >= 2). IDCG is rebuilt arithmetically from
  // per-query grade counts + a broadcast 1..k position frame — no
  // per-query sort of the judgment lists on either engine. All metric
  // columns d6-rounded (cross-engine float summation order).
  private val q247Queries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "merge", "vector"),
    2L -> Seq("stream", "window", "join"),
    3L -> Seq("filter", "group", "sort"))

  def q247RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val run = Retrieval.bm25MultiTopK(docs, "doc_id", "text",
      q247Queries, topK = 20)
    val qt = q247Queries
      .flatMap { case (q, ts) => ts.map(term => (q, term)) }
      .toDF("query_id", "term")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("_tf"))
    val qrels = tf.join(broadcast(qt), col("tok") === col("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(when(col("_tf") >= 3, 1L).otherwise(0L)).as("rel"))
      .filter(col("rel") >= 1)
    Retrieval.rankingMetrics(run, qrels, "query_id", "doc_id", "rel",
      k = 20, relThreshold = 2)
  }

  val q247Sql: String = {
    val vals = q247Queries
      .flatMap { case (q, ts) => ts.map(term => s"($q, '$term')") }
      .mkString(", ")
    s"""WITH qt AS (SELECT * FROM (VALUES $vals) v(query_id, term)),
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |       FROM documents),
       |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
       |dl AS (SELECT doc_id, count(*) AS dlen FROM tk2 GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |terms AS (SELECT DISTINCT term FROM qt),
       |dfq AS (SELECT tok AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |        FROM tk2 JOIN terms ON tok = term GROUP BY 1),
       |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
       |       FROM tk2 JOIN terms ON tok = term GROUP BY 1, 2),
       |contrib AS (
       |  SELECT tf.doc_id, tf.term,
       |    ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
       |    tf.tf * 2.2 /
       |    (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dlen AS DOUBLE) / st.avgdl))
       |      AS ts
       |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       |sc AS (
       |  SELECT qt.query_id, c.doc_id,
       |    CAST(CAST(sum(c.ts) AS DECIMAL(28,6)) AS DOUBLE) AS score
       |  FROM contrib c JOIN qt ON c.term = qt.term GROUP BY 1, 2),
       |run AS (
       |  SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM sc QUALIFY rnk <= 20),
       |qrels AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    sum(CASE WHEN tf.tf >= 3 THEN 1 ELSE 0 END) AS rel
       |  FROM tf JOIN qt USING (term) GROUP BY 1, 2
       |  HAVING sum(CASE WHEN tf.tf >= 3 THEN 1 ELSE 0 END) >= 1),
       |j AS (
       |  SELECT r.query_id, r.rnk, COALESCE(q.rel, 0) AS rel
       |  FROM run r LEFT JOIN qrels q USING (query_id, doc_id)),
       |perq AS (
       |  SELECT query_id,
       |    CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hits_at_k,
       |    min(CASE WHEN rel >= 2 THEN rnk END) AS first_rel,
       |    sum((pow(2.0, rel) - 1.0) / log2(CAST(rnk AS DOUBLE) + 1.0))
       |      AS dcg
       |  FROM j GROUP BY 1),
       |relt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |         FROM qrels WHERE rel >= 2 GROUP BY 1),
       |gc AS (SELECT query_id, rel AS g, count(*) AS n
       |       FROM qrels WHERE rel >= 1 GROUP BY 1, 2),
       |bands AS (
       |  SELECT query_id, g, n,
       |    sum(n) OVER (PARTITION BY query_id ORDER BY g DESC) AS cum
       |  FROM gc),
       |bands2 AS (
       |  SELECT query_id, g, cum - n + 1 AS s, LEAST(cum, 20) AS e
       |  FROM bands WHERE cum - n + 1 <= 20),
       |pos AS (SELECT unnest(generate_series(1, 20)) AS p),
       |idcg AS (
       |  SELECT query_id,
       |    sum((pow(2.0, g) - 1.0) / log2(CAST(p AS DOUBLE) + 1.0)) AS idcg
       |  FROM bands2 JOIN pos ON p BETWEEN s AND e GROUP BY 1),
       |qs AS (SELECT DISTINCT query_id FROM run
       |       UNION SELECT DISTINCT query_id FROM qrels)
       |SELECT CAST(qs.query_id AS BIGINT) AS query_id,
       |  COALESCE(r.n_rel, 0) AS n_rel,
       |  COALESCE(p.hits_at_k, 0) AS hits_at_k,
       |  CAST(CAST(CASE WHEN COALESCE(r.n_rel, 0) = 0 THEN 0.0
       |    ELSE CAST(COALESCE(p.hits_at_k, 0) AS DOUBLE) / r.n_rel END
       |    AS DECIMAL(28,6)) AS DOUBLE) AS recall_at_k,
       |  CAST(CAST(CASE WHEN p.first_rel IS NULL THEN 0.0
       |    ELSE 1.0 / p.first_rel END AS DECIMAL(28,6)) AS DOUBLE)
       |    AS mrr_at_k,
       |  CAST(CAST(COALESCE(p.dcg, 0.0) AS DECIMAL(28,6)) AS DOUBLE)
       |    AS dcg_at_k,
       |  CAST(CAST(COALESCE(i.idcg, 0.0) AS DECIMAL(28,6)) AS DOUBLE)
       |    AS idcg_at_k,
       |  CAST(CAST(CASE WHEN COALESCE(i.idcg, 0.0) = 0.0 THEN 0.0
       |    ELSE COALESCE(p.dcg, 0.0) / i.idcg END AS DECIMAL(28,6))
       |    AS DOUBLE) AS ndcg_at_k
       |FROM qs LEFT JOIN perq p USING (query_id)
       |LEFT JOIN relt r USING (query_id)
       |LEFT JOIN idcg i USING (query_id)""".stripMargin
  }

  // q252/q253: DISTRIBUTED SUFFIX ARRAY (prefix doubling) + the
  // cross-document repeated-suffix report — the exact-substring-dedup
  // primitive (Lee et al. 2022) complementing the winnowed q180 gate.
  // Entries run on a deterministic 10%-of-docs slice: the SA is the
  // most index-heavy operator in the library (⌈log₂ L⌉ rounds × 2
  // corpus shuffles), and a practical corpus pass builds it per shard.
  // The oracle replays the WHOLE construction as a recursive CTE whose
  // state is one rank-array row per document (a single self-reference;
  // the doubling shift reads the same row's array at p + 2^it) with
  // the global dense rank + re-listing inside the recursive term —
  // and it iterates ⌈log₂ max_len⌉ times unconditionally, while the
  // operator early-stops once ranks go all-distinct: the extra rounds
  // are provable no-ops (dense rank of an already-total order), so
  // both replays agree bit-for-bit.
  private def q252Base(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))

  def q252SuffixRanks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.SuffixArray.suffixRanks(
      q252Base(s, dir), "doc_id", "text", maxRounds = 10)

  /** The shared recursive-CTE suffix-rank construction over `baseSql`
    * (must yield (doc_id, text)); leaves `fin` = (doc_id, pos, sa_rank)
    * and `mxl`/`rk` in scope for the caller's final SELECT.
    */
  private def saCte(baseSql: String): String =
    s"""WITH RECURSIVE d0 AS ($baseSql),
       |mxl AS (SELECT MAX(length(text)) AS mx FROM d0),
       |b0 AS (
       |  SELECT doc_id, unnest(generate_series(1, length(text))) AS pos,
       |    text FROM d0),
       |r0 AS (
       |  SELECT doc_id, pos,
       |    DENSE_RANK() OVER (ORDER BY substring(text, pos, 16)) AS r
       |  FROM b0),
       |rk(it, d, arr) AS (
       |  SELECT 0, doc_id, list(r ORDER BY pos) FROM r0 GROUP BY doc_id
       |  UNION ALL
       |  SELECT it + 1, d, list(gr ORDER BY p) FROM (
       |    SELECT it, d, p,
       |      DENSE_RANK() OVER (ORDER BY r1, r2) AS gr
       |    FROM (
       |      SELECT it, d, p, r1, COALESCE(arr[p + (16 << it)], 0) AS r2
       |      FROM (
       |        SELECT it, d, arr, generate_subscripts(arr, 1) AS p,
       |          unnest(arr) AS r1
       |        FROM rk
       |        WHERE (16 << it) < (SELECT mx FROM mxl)) q1) q2) q3
       |  GROUP BY 1, 2),
       |fin AS (
       |  SELECT d AS doc_id, CAST(p AS BIGINT) AS pos,
       |    CAST(r AS BIGINT) AS sa_rank
       |  FROM (
       |    SELECT d, generate_subscripts(arr, 1) AS p, unnest(arr) AS r
       |    FROM rk WHERE it = (SELECT MAX(it) FROM rk)) t)""".stripMargin

  val q252Sql: String =
    saCte("SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0") +
      "\nSELECT doc_id, pos, sa_rank FROM fin"

  /** q253/q254's corpus: the q252 slice + planted shared tails (no
    * byte-identical docs exist in the fixture) — every 50th doc gets a
    * shadow twin that IS its own suffix from char 101 on; identical
    * expression in the oracles.
    */
  private def q253Corpus(s: SparkSession, dir: String): DataFrame = {
    val base = q252Base(s, dir)
    val shadow = base
      .filter(col("doc_id") % 50 === 0 && length(col("text")) > 120)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        col("text").substr(lit(101), length(col("text"))).as("text"))
    base.unionByName(shadow)
  }

  def q253RepeatedSuffixes(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.SuffixArray.repeatedSuffixes(
      q253Corpus(s, dir), "doc_id", "text", minLen = 20, maxRounds = 10)

  // q254: longest repeated substrings — the classic LCP-over-the-
  // suffix-array result (max repeat = rank-adjacent LCP or a whole
  // duplicated suffix); the report a Lee-et-al-style exact dedup pass
  // acts on. The operator computes LCPs by binary lifting over its own
  // doubling rank tables (no text below the top-k boundary); the
  // oracle replays the SAME VALUES via the naive first-mismatch scan
  // (correlated generate_series per adjacent pair) — exact LCP is
  // algorithm-independent — + the identical (len DESC, rank, source)
  // top-25. Adjacent n_occurrences = the two rank groups' summed
  // counts (the tight two-group lower bound), dups their exact count.
  def q254LongestRepeats(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.SuffixArray.longestRepeats(
      q253Corpus(s, dir), "doc_id", "text", topK = 25, maxRounds = 10)

  private val q253BaseSql: String =
    """SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, substring(text, 101)
      |  FROM documents
      |  WHERE doc_id % 50 = 0 AND length(text) > 120""".stripMargin

  val q254Sql: String =
    saCte(q253BaseSql) +
      """
        |, texts AS (SELECT doc_id AS td, text AS t FROM d0),
        |reps AS (
        |  SELECT f.sa_rank, MIN(f.doc_id) AS rep_doc,
        |    CAST(min_by(f.pos, f.doc_id) AS BIGINT) AS rep_pos,
        |    CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |  FROM fin f GROUP BY 1),
        |reps2 AS (
        |  SELECT r.sa_rank, r.rep_doc, r.rep_pos, r.n_occurrences,
        |    CAST(length(t.t) AS BIGINT) - r.rep_pos + 1 AS slen, t.t
        |  FROM reps r JOIN texts t ON r.rep_doc = t.td),
        |dup AS (
        |  SELECT sa_rank, slen AS repeat_len, n_occurrences,
        |    'dup' AS source, rep_doc, rep_pos,
        |    substring(t, CAST(rep_pos AS INT),
        |      CAST(LEAST(slen, 60) AS INT)) AS preview
        |  FROM reps2 WHERE n_occurrences >= 2),
        |adjp AS (
        |  SELECT a.sa_rank, a.rep_doc, a.rep_pos, a.slen AS la, a.t AS ta,
        |    b.rep_pos AS pb, b.slen AS lb, b.t AS tb,
        |    a.n_occurrences + b.n_occurrences AS n_occ2
        |  FROM reps2 a JOIN reps2 b ON b.sa_rank = a.sa_rank + 1),
        |ex AS (
        |  SELECT sa_rank, rep_pos, pb, ta, tb,
        |    unnest(generate_series(1, LEAST(la, lb))) AS l
        |  FROM adjp),
        |mm AS (
        |  SELECT sa_rank, MIN(l) AS m FROM ex
        |  WHERE substring(ta, CAST(rep_pos + l - 1 AS INT), 1)
        |     <> substring(tb, CAST(pb + l - 1 AS INT), 1)
        |  GROUP BY 1),
        |adj AS (
        |  SELECT p.sa_rank,
        |    COALESCE(mm.m - 1, LEAST(p.la, p.lb)) AS repeat_len,
        |    p.n_occ2 AS n_occurrences, 'adjacent' AS source,
        |    p.rep_doc, p.rep_pos,
        |    substring(p.ta, CAST(p.rep_pos AS INT),
        |      CAST(LEAST(COALESCE(mm.m - 1, LEAST(p.la, p.lb)), 60) AS INT))
        |      AS preview
        |  FROM adjp p LEFT JOIN mm ON p.sa_rank = mm.sa_rank
        |  WHERE COALESCE(mm.m - 1, LEAST(p.la, p.lb)) >= 1)
        |SELECT * FROM (SELECT * FROM dup UNION ALL SELECT * FROM adj) u
        |ORDER BY repeat_len DESC, sa_rank ASC, source ASC LIMIT 25"""
        .stripMargin

  // q259: the exact-substring dedup CUT — the acting step q252-q254
  // only report (Lee et al. 2022's point): every ≥ 20-char suffix that
  // occurs twice keeps its first (min doc, pos) occurrence and is cut
  // from every other carrier; shadows that ARE another doc's tail come
  // back empty. The oracle replays the whole SA construction + the
  // group-representative pick + the min-cut-position reassembly.
  def q259SaDedupCut(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.SuffixArray.cutSharedSuffixes(
      q253Corpus(s, dir), "doc_id", "text", minLen = 20, maxRounds = 10)

  val q259Sql: String =
    saCte(q253BaseSql) +
      """
        |, lens AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM d0),
        |occ AS (
        |  SELECT f.sa_rank, f.doc_id, f.pos
        |  FROM fin f JOIN lens l USING (doc_id)
        |  WHERE l.len - f.pos + 1 >= 20),
        |grp AS (
        |  SELECT sa_rank, MIN(doc_id) AS repd
        |  FROM occ GROUP BY 1 HAVING COUNT(*) >= 2),
        |cuts AS (
        |  SELECT o.doc_id, MIN(o.pos) AS cutp
        |  FROM occ o JOIN grp g USING (sa_rank)
        |  WHERE o.doc_id <> g.repd
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE WHEN c.cutp IS NULL THEN d.text
        |       ELSE substring(d.text, 1, CAST(c.cutp - 1 AS INT)) END
        |    AS text,
        |  CAST(length(d.text) AS BIGINT) AS orig_len,
        |  CAST(COALESCE(c.cutp - 1, length(d.text)) AS BIGINT) AS kept_len
        |FROM d0 d LEFT JOIN cuts c USING (doc_id)""".stripMargin

  val q253Sql: String =
    saCte(q253BaseSql) +
      """
        |, lens AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM d0),
        |j AS (
        |  SELECT f.sa_rank, f.doc_id, f.pos, l.len - f.pos + 1 AS suffix_len
        |  FROM fin f JOIN lens l USING (doc_id)
        |  WHERE l.len - f.pos + 1 >= 20)
        |SELECT sa_rank, suffix_len,
        |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS rep_doc,
        |  CAST(min_by(pos, doc_id) AS BIGINT) AS rep_pos
        |FROM j GROUP BY 1, 2
        |HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin

  // q257: T5 span corruption over the documents corpus — block-local
  // md5-decided spans (the documented parallel divergence from the
  // paper's sequential sampler), sentinel-numbered input/target pair +
  // audit counts. The oracle replays every block draw, span bound,
  // sentinel index and both ordered reassemblies row-by-row.
  def q257SpanCorrupt(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.spanCorrupt(
      t(s, dir, "documents"), "doc_id", "text")

  val q257Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1)-1 AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |bu AS (
      |  SELECT doc_id, pos // 8 AS b, COUNT(*) AS r
      |  FROM tk GROUP BY 1, 2),
      |bi AS (
      |  SELECT doc_id, b, r,
      |    CAST(concat('0x', substring(md5('sc:' || CAST(doc_id AS VARCHAR)
      |      || ':' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u
      |  FROM bu),
      |bj AS (
      |  SELECT doc_id, b, r, u, 1 + u % 3 AS len,
      |    (u // 7) % (8 - (1 + u % 3) + 1) AS off
      |  FROM bi),
      |be AS (
      |  SELECT doc_id, b, off, LEAST(len, r - off) AS clip,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
      |  FROM bj WHERE u < 350000 AND off < r),
      |mask AS (
      |  SELECT t.doc_id, t.pos, t.tok, t.pos % 8 AS rel, e.b
      |  FROM tk t JOIN be e ON t.doc_id = e.doc_id AND t.pos // 8 = e.b
      |  WHERE t.pos % 8 >= e.off AND t.pos % 8 < e.off + e.clip),
      |inp AS (
      |  SELECT t.doc_id, t.pos AS sk, t.tok
      |  FROM tk t LEFT JOIN mask m
      |    ON t.doc_id = m.doc_id AND t.pos = m.pos
      |  WHERE m.pos IS NULL
      |  UNION ALL
      |  SELECT doc_id, b * 8 + off,
      |    '<extra_id_' || CAST(k AS VARCHAR) || '>'
      |  FROM be),
      |istr AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY sk) AS input_text
      |  FROM inp GROUP BY 1),
      |tgt AS (
      |  SELECT doc_id, b AS bb, CAST(-1 AS BIGINT) AS sub,
      |    '<extra_id_' || CAST(k AS VARCHAR) || '>' AS tok
      |  FROM be
      |  UNION ALL
      |  SELECT doc_id, b, rel, tok FROM mask),
      |tstr AS (
      |  SELECT doc_id, string_agg(tok, ' ' ORDER BY bb, sub) AS target_text
      |  FROM tgt GROUP BY 1),
      |st AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |    CAST(SUM(clip) AS BIGINT) AS n_masked
      |  FROM be GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(i.input_text, '') AS input_text,
      |  COALESCE(ts.target_text, '') AS target_text,
      |  CAST(COALESCE(st.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(st.n_masked, 0) AS BIGINT) AS n_masked
      |FROM documents d
      |LEFT JOIN istr i ON d.doc_id = i.doc_id
      |LEFT JOIN tstr ts ON d.doc_id = ts.doc_id
      |LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin

  // q258: ROUGE-1/ROUGE-2 summarization-eval metrics — every 5th doc
  // paired with a derived "summary" (its first ⌊n/3⌋ tokens with every
  // 7th one swapped for 'the', so precision is non-degenerate and
  // clipped counts + the F1 guard all exercise). The oracle rebuilds
  // candidate derivation, both gram multisets, clipped matches and
  // the identical fixed-order ratio arithmetic.
  def q258RougeEval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
    val toks = split(col("text"), " ")
    val k = greatest(lit(1), floor(size(toks) / lit(3.0)).cast("int"))
    val candToks = transform(slice(toks, lit(1), k),
      (tk, i) => when(i % 7 === 3, lit("the")).otherwise(tk))
    val pairs = docs.select(col("doc_id"),
      array_join(candToks, " ").as("cand"), col("text").as("ref"))
    val r1 = graft.pipeline.Retrieval
      .rougeN(pairs, "doc_id", "cand", "ref", 1).withColumn("n", lit(1L))
    val r2 = graft.pipeline.Retrieval
      .rougeN(pairs, "doc_id", "cand", "ref", 2).withColumn("n", lit(2L))
    r1.unionByName(r2)
  }

  val q258Sql: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1)-1 AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM d0),
      |nn AS (SELECT doc_id, COUNT(*) AS n FROM tk GROUP BY 1),
      |cd AS (
      |  SELECT t.doc_id, t.pos,
      |    CASE WHEN t.pos % 7 = 3 THEN 'the' ELSE t.tok END AS tok
      |  FROM tk t JOIN nn ON t.doc_id = nn.doc_id
      |  WHERE t.pos < GREATEST(1, nn.n // 3)),
      |cu AS (SELECT doc_id, tok AS g, COUNT(*) AS c FROM cd GROUP BY 1, 2),
      |ru AS (SELECT doc_id, tok AS g, COUNT(*) AS c FROM tk GROUP BY 1, 2),
      |m1 AS (
      |  SELECT COALESCE(cu.doc_id, ru.doc_id) AS doc_id,
      |    SUM(LEAST(COALESCE(cu.c, 0), COALESCE(ru.c, 0))) AS n_match,
      |    SUM(COALESCE(cu.c, 0)) AS n_cand,
      |    SUM(COALESCE(ru.c, 0)) AS n_ref
      |  FROM cu FULL JOIN ru ON cu.doc_id = ru.doc_id AND cu.g = ru.g
      |  GROUP BY 1),
      |cb AS (
      |  SELECT doc_id, tok || ' ' ||
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM cd),
      |cb2 AS (SELECT doc_id, g, COUNT(*) AS c FROM cb
      |        WHERE g IS NOT NULL GROUP BY 1, 2),
      |rb AS (
      |  SELECT doc_id, tok || ' ' ||
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      |  FROM tk),
      |rb2 AS (SELECT doc_id, g, COUNT(*) AS c FROM rb
      |        WHERE g IS NOT NULL GROUP BY 1, 2),
      |m2 AS (
      |  SELECT COALESCE(cb2.doc_id, rb2.doc_id) AS doc_id,
      |    SUM(LEAST(COALESCE(cb2.c, 0), COALESCE(rb2.c, 0))) AS n_match,
      |    SUM(COALESCE(cb2.c, 0)) AS n_cand,
      |    SUM(COALESCE(rb2.c, 0)) AS n_ref
      |  FROM cb2 FULL JOIN rb2 ON cb2.doc_id = rb2.doc_id AND cb2.g = rb2.g
      |  GROUP BY 1),
      |u AS (
      |  SELECT doc_id, 1 AS n, n_match, n_cand, n_ref FROM m1
      |  UNION ALL
      |  SELECT doc_id, 2, n_match, n_cand, n_ref FROM m2),
      |fr AS (
      |  SELECT d.doc_id, x.n FROM d0 d
      |  CROSS JOIN (SELECT 1 AS n UNION ALL SELECT 2) x),
      |j AS (
      |  SELECT fr.doc_id, fr.n,
      |    CAST(COALESCE(u.n_match, 0) AS BIGINT) AS n_match,
      |    CAST(COALESCE(u.n_cand, 0) AS BIGINT) AS n_cand,
      |    CAST(COALESCE(u.n_ref, 0) AS BIGINT) AS n_ref
      |  FROM fr LEFT JOIN u ON fr.doc_id = u.doc_id AND fr.n = u.n),
      |fin AS (
      |  SELECT doc_id, n, n_match, n_cand, n_ref,
      |    CAST(n_match AS DOUBLE) / CAST(n_cand AS DOUBLE) AS p,
      |    CAST(n_match AS DOUBLE) / CAST(n_ref AS DOUBLE) AS r
      |  FROM j)
      |SELECT doc_id, CAST(n AS BIGINT) AS n, n_match, n_cand, n_ref,
      |  CAST(CAST(CASE WHEN n_match = 0 THEN 0.0 ELSE p END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rouge_p,
      |  CAST(CAST(CASE WHEN n_match = 0 THEN 0.0 ELSE r END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rouge_r,
      |  CAST(CAST(CASE WHEN n_match = 0 THEN 0.0
      |    ELSE 2.0 * p * r / (p + r) END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rouge_f1
      |FROM fin""".stripMargin

  // q260: greedy bigram-LM generation — the deterministic Markov-chain
  // decode closing the corpus LM family (train q116/q229, score, THIS:
  // generate). The oracle replays the empty-token-filtered adjacency,
  // the best-next table (count DESC, token ASC tie-break), the top-5
  // seed ranking and all 12 chained walk steps as a recursive CTE.
  def q260BigramGenerate(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.bigramGreedyGenerate(
      t(s, dir, "documents"), "doc_id", "text", seeds = 5, steps = 12)

  val q260Sql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |bg AS (
      |  SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
      |    AS nxt
      |  FROM tk2),
      |bn AS (SELECT tok, nxt, COUNT(*) AS c FROM bg
      |       WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |best AS (
      |  SELECT tok AS cur, nxt FROM (
      |    SELECT tok, nxt,
      |      row_number() OVER (PARTITION BY tok
      |        ORDER BY c DESC, nxt ASC) AS rn
      |    FROM bn) t WHERE rn = 1),
      |seeds AS (
      |  SELECT tok FROM (
      |    SELECT tok, COUNT(*) AS c FROM tk2 GROUP BY 1
      |    ORDER BY c DESC, tok ASC LIMIT 5) s),
      |walk(i, seed, generated, cur, n_steps) AS (
      |  SELECT 0, tok, tok, tok, CAST(0 AS BIGINT) FROM seeds
      |  UNION ALL
      |  SELECT w.i + 1, w.seed,
      |    CASE WHEN b.nxt IS NULL THEN w.generated
      |         ELSE w.generated || ' ' || b.nxt END,
      |    COALESCE(b.nxt, w.cur),
      |    w.n_steps + CASE WHEN b.nxt IS NULL THEN 0 ELSE 1 END
      |  FROM walk w LEFT JOIN best b ON w.cur = b.cur
      |  WHERE w.i < 12)
      |SELECT seed, generated, n_steps FROM walk WHERE i = 12""".stripMargin

  // q261: BLEU-4 over the q258 candidate/reference pairs — the
  // unsmoothed corpus-standard geometric mean of clipped modified
  // precisions with the brevity penalty. The oracle rebuilds all four
  // gram multisets (lead-chain n-grams), the clipped counts, the
  // decimal-summed d6-ln terms, and the identical bp/exp arithmetic.
  def q261BleuEval(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
    val toks = split(col("text"), " ")
    val k = greatest(lit(1), floor(size(toks) / lit(3.0)).cast("int"))
    val candToks = transform(slice(toks, lit(1), k),
      (tk, i) => when(i % 7 === 3, lit("the")).otherwise(tk))
    val pairs = docs.select(col("doc_id"),
      array_join(candToks, " ").as("cand"), col("text").as("ref"))
    graft.pipeline.Retrieval.bleuN(pairs, "doc_id", "cand", "ref", maxN = 4)
  }

  val q261Sql: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1)-1 AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM d0),
      |nn AS (SELECT doc_id, COUNT(*) AS n FROM tk GROUP BY 1),
      |cd AS (
      |  SELECT t.doc_id, t.pos,
      |    CASE WHEN t.pos % 7 = 3 THEN 'the' ELSE t.tok END AS tok
      |  FROM tk t JOIN nn ON t.doc_id = nn.doc_id
      |  WHERE t.pos < GREATEST(1, nn.n // 3)),
      |cg AS (
      |  SELECT doc_id, 1 AS n, tok AS g FROM cd
      |  UNION ALL SELECT doc_id, 2, tok || ' ' || l1 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1
      |    FROM cd) x WHERE l1 IS NOT NULL
      |  UNION ALL SELECT doc_id, 3, tok || ' ' || l1 || ' ' || l2 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
      |      lead(tok,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
      |    FROM cd) x WHERE l2 IS NOT NULL
      |  UNION ALL SELECT doc_id, 4,
      |    tok || ' ' || l1 || ' ' || l2 || ' ' || l3 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
      |      lead(tok,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
      |      lead(tok,3) OVER (PARTITION BY doc_id ORDER BY pos) AS l3
      |    FROM cd) x WHERE l3 IS NOT NULL),
      |rg AS (
      |  SELECT doc_id, 1 AS n, tok AS g FROM tk
      |  UNION ALL SELECT doc_id, 2, tok || ' ' || l1 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1
      |    FROM tk) x WHERE l1 IS NOT NULL
      |  UNION ALL SELECT doc_id, 3, tok || ' ' || l1 || ' ' || l2 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
      |      lead(tok,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
      |    FROM tk) x WHERE l2 IS NOT NULL
      |  UNION ALL SELECT doc_id, 4,
      |    tok || ' ' || l1 || ' ' || l2 || ' ' || l3 FROM (
      |    SELECT doc_id, tok,
      |      lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
      |      lead(tok,2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2,
      |      lead(tok,3) OVER (PARTITION BY doc_id ORDER BY pos) AS l3
      |    FROM tk) x WHERE l3 IS NOT NULL),
      |cu AS (SELECT doc_id, n, g, COUNT(*) AS c FROM cg GROUP BY 1,2,3),
      |ru AS (SELECT doc_id, n, g, COUNT(*) AS c FROM rg GROUP BY 1,2,3),
      |u AS (
      |  SELECT COALESCE(cu.doc_id, ru.doc_id) AS doc_id,
      |    COALESCE(cu.n, ru.n) AS n,
      |    CAST(SUM(LEAST(COALESCE(cu.c,0), COALESCE(ru.c,0))) AS BIGINT)
      |      AS m,
      |    CAST(SUM(COALESCE(cu.c,0)) AS BIGINT) AS c
      |  FROM cu FULL JOIN ru
      |    ON cu.doc_id = ru.doc_id AND cu.n = ru.n AND cu.g = ru.g
      |  GROUP BY 1, 2),
      |fr AS (
      |  SELECT d.doc_id, x.n FROM d0 d
      |  CROSS JOIN (VALUES (1),(2),(3),(4)) x(n)),
      |j AS (
      |  SELECT fr.doc_id, fr.n, COALESCE(u.m, 0) AS m, COALESCE(u.c, 0) AS c
      |  FROM fr LEFT JOIN u ON fr.doc_id = u.doc_id AND fr.n = u.n),
      |st AS (
      |  SELECT doc_id,
      |    CAST(MAX(CASE WHEN n = 1 THEN c END) AS BIGINT) AS cand_len,
      |    MIN(CASE WHEN m >= 1 THEN 1 ELSE 0 END) AS allpos,
      |    CAST(SUM(CASE WHEN m >= 1 THEN CAST(
      |      CAST(ln(CAST(m AS DOUBLE) / CAST(c AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |      AS slog,
      |    MAX(CASE WHEN n = 1 THEN (CASE WHEN m = 0 THEN 0.0 ELSE
      |      CAST(CAST(CAST(m AS DOUBLE)/CAST(c AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) END) END) AS p_1,
      |    MAX(CASE WHEN n = 2 THEN (CASE WHEN m = 0 THEN 0.0 ELSE
      |      CAST(CAST(CAST(m AS DOUBLE)/CAST(c AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) END) END) AS p_2,
      |    MAX(CASE WHEN n = 3 THEN (CASE WHEN m = 0 THEN 0.0 ELSE
      |      CAST(CAST(CAST(m AS DOUBLE)/CAST(c AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) END) END) AS p_3,
      |    MAX(CASE WHEN n = 4 THEN (CASE WHEN m = 0 THEN 0.0 ELSE
      |      CAST(CAST(CAST(m AS DOUBLE)/CAST(c AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) END) END) AS p_4
      |  FROM j GROUP BY 1),
      |rl AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
      |    AS ref_len FROM d0)
      |SELECT st.doc_id, st.cand_len, rl.ref_len,
      |  st.p_1, st.p_2, st.p_3, st.p_4,
      |  CAST(CAST(CASE WHEN st.cand_len >= rl.ref_len THEN 1.0
      |    ELSE exp(1.0 - CAST(rl.ref_len AS DOUBLE)
      |      / CAST(st.cand_len AS DOUBLE)) END AS DECIMAL(28,6)) AS DOUBLE)
      |    AS bp,
      |  CASE WHEN st.allpos = 0 THEN 0.0 ELSE
      |    CAST(CAST(exp((CASE WHEN st.cand_len >= rl.ref_len THEN 0.0
      |      ELSE 1.0 - CAST(rl.ref_len AS DOUBLE)
      |        / CAST(st.cand_len AS DOUBLE) END) + st.slog / 4.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS bleu
      |FROM st JOIN rl USING (doc_id)""".stripMargin

  // q266: Zipf's-law fit over the top-200 corpus frequency head —
  // slope/intercept/r² of the (ln rank, ln freq) least squares, the
  // vocabulary-shape diagnostic. The oracle rebuilds the top-200 cut,
  // the d6 per-rank terms, the decimal sums and the identical final
  // ratios.
  def q266ZipfFit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.zipfFit(t(s, dir, "documents"), "text", 200)

  val q266Sql: String =
    """WITH tk AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |vc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM tk
      |       WHERE tok <> '' GROUP BY 1),
      |top AS (SELECT tok, f FROM vc ORDER BY f DESC, tok ASC LIMIT 200),
      |xy AS (
      |  SELECT
      |    CAST(CAST(ln(CAST(row_number() OVER (ORDER BY f DESC, tok ASC)
      |      AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS x,
      |    CAST(CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS y
      |  FROM top),
      |xy2 AS (
      |  SELECT x, y,
      |    CAST(CAST(x * y AS DECIMAL(28,6)) AS DOUBLE) AS xy,
      |    CAST(CAST(x * x AS DECIMAL(28,6)) AS DOUBLE) AS xx,
      |    CAST(CAST(y * y AS DECIMAL(28,6)) AS DOUBLE) AS yy
      |  FROM xy),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(xy AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(xx AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(yy AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM xy2)
      |SELECT CAST(n AS BIGINT) AS n_ranks,
      |  CAST(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS slope,
      |  CAST(CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
      |    / n AS DECIMAL(28,6)) AS DOUBLE) AS intercept,
      |  CAST(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS r2
      |FROM agg""".stripMargin

  // q267: the Kneser-Ney quality GATE acting on q229's judge — score
  // every document against the 'en' clean-LM and keep those at or
  // above the log-domain threshold; sub-2-token docs come back as
  // explicit unjudgeable rows (kept = 0, NULL score). Oracle = the
  // q229 CTE totalized over d0 + the same flag.
  def q267KnGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextStats.knQualityGate(
      docs.filter(col("lang") === "en"), docs, "doc_id", "text",
      minAvgLogprob = -3.40)
  }

  val q267Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    generate_subscripts(string_split(text,' '),1) AS pos,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, lang, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, lang, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, lang, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2
      |        WHERE lang = 'en' GROUP BY 1, 2),
      |ctx AS (SELECT tok, CAST(SUM(c12) AS BIGINT) AS c1,
      |          COUNT(*) AS n1post FROM c12 GROUP BY 1),
      |pre AS (SELECT nxt, COUNT(*) AS n1pre FROM c12 GROUP BY 1),
      |tv AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM c12) AS t,
      |         (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) FROM tk2
      |          WHERE lang = 'en') AS v),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(CAST(sum(ln(CASE WHEN ctx.c1 IS NULL
      |        THEN (CAST(coalesce(pre.n1pre, 0) AS DOUBLE) + 1.0)
      |          / (tv.t + tv.v)
      |        ELSE (GREATEST(CAST(coalesce(c12.c12, 0) AS DOUBLE) - 0.75,
      |              0.0)
      |              + 0.75 * CAST(ctx.n1post AS DOUBLE) *
      |                ((CAST(coalesce(pre.n1pre, 0) AS DOUBLE) + 1.0)
      |                 / (tv.t + tv.v)))
      |             / CAST(ctx.c1 AS DOUBLE) END))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS avg_logprob_kn
      |  FROM bi2 LEFT JOIN c12 USING (tok, nxt) LEFT JOIN ctx USING (tok)
      |  LEFT JOIN pre USING (nxt) CROSS JOIN tv
      |  GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  sc.avg_logprob_kn,
      |  CAST(CASE WHEN sc.avg_logprob_kn IS NOT NULL
      |    AND sc.avg_logprob_kn >= -3.40 THEN 1 ELSE 0 END AS INT) AS kept
      |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  // q269: chrF (Popović 2015) over the q258/q261 candidate/reference
  // pairs — character n-gram F-β=2 mean over n = 1..4, whitespace
  // stripped. The oracle reassembles the candidate string, builds all
  // four char-gram multisets by substring enumeration, and replays the
  // clipped counts + the d6 F_n terms + the decimal-summed mean.
  def q269Chrf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
    val toks = split(col("text"), " ")
    val k = greatest(lit(1), floor(size(toks) / lit(3.0)).cast("int"))
    val candToks = transform(slice(toks, lit(1), k),
      (tk, i) => when(i % 7 === 3, lit("the")).otherwise(tk))
    val pairs = docs.select(col("doc_id"),
      array_join(candToks, " ").as("cand"), col("text").as("ref"))
    graft.pipeline.Retrieval.chrF(pairs, "doc_id", "cand", "ref",
      maxN = 4, beta = 2.0)
  }

  val q269Sql: String =
    """WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1)-1 AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM d0),
      |nn AS (SELECT doc_id, COUNT(*) AS n FROM tk GROUP BY 1),
      |cd AS (
      |  SELECT t.doc_id, t.pos,
      |    CASE WHEN t.pos % 7 = 3 THEN 'the' ELSE t.tok END AS tok
      |  FROM tk t JOIN nn ON t.doc_id = nn.doc_id
      |  WHERE t.pos < GREATEST(1, nn.n // 3)),
      |cstr AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cand
      |         FROM cd GROUP BY 1),
      |sides AS (
      |  SELECT d0.doc_id,
      |    replace(COALESCE(cstr.cand, ''), ' ', '') AS cs,
      |    replace(d0.text, ' ', '') AS rs
      |  FROM d0 LEFT JOIN cstr USING (doc_id)),
      |cg0 AS (
      |  SELECT doc_id, x.n, cs,
      |    unnest(generate_series(1, length(cs) - x.n + 1)) AS i
      |  FROM sides CROSS JOIN (VALUES (1),(2),(3),(4)) x(n)),
      |cg AS (SELECT doc_id, n, substring(cs, CAST(i AS INT), n) AS g
      |       FROM cg0),
      |rg0 AS (
      |  SELECT doc_id, x.n, rs,
      |    unnest(generate_series(1, length(rs) - x.n + 1)) AS i
      |  FROM sides CROSS JOIN (VALUES (1),(2),(3),(4)) x(n)),
      |rg AS (SELECT doc_id, n, substring(rs, CAST(i AS INT), n) AS g
      |       FROM rg0),
      |cu AS (SELECT doc_id, n, g, COUNT(*) AS c FROM cg GROUP BY 1,2,3),
      |ru AS (SELECT doc_id, n, g, COUNT(*) AS c FROM rg GROUP BY 1,2,3),
      |u AS (
      |  SELECT COALESCE(cu.doc_id, ru.doc_id) AS doc_id,
      |    COALESCE(cu.n, ru.n) AS n,
      |    CAST(SUM(LEAST(COALESCE(cu.c,0), COALESCE(ru.c,0))) AS BIGINT)
      |      AS m,
      |    CAST(SUM(COALESCE(cu.c,0)) AS BIGINT) AS nc,
      |    CAST(SUM(COALESCE(ru.c,0)) AS BIGINT) AS nr
      |  FROM cu FULL JOIN ru
      |    ON cu.doc_id = ru.doc_id AND cu.n = ru.n AND cu.g = ru.g
      |  GROUP BY 1, 2),
      |fr AS (
      |  SELECT d.doc_id, x.n FROM d0 d
      |  CROSS JOIN (VALUES (1),(2),(3),(4)) x(n)),
      |j AS (
      |  SELECT fr.doc_id, fr.n, COALESCE(u.m, 0) AS m,
      |    COALESCE(u.nc, 0) AS nc, COALESCE(u.nr, 0) AS nr
      |  FROM fr LEFT JOIN u ON fr.doc_id = u.doc_id AND fr.n = u.n),
      |f AS (
      |  SELECT doc_id, n, m, nc, nr,
      |    CASE WHEN m = 0 THEN 0.0 ELSE
      |      CAST(CAST(5.0 * (CAST(m AS DOUBLE)/CAST(nc AS DOUBLE)) *
      |        (CAST(m AS DOUBLE)/CAST(nr AS DOUBLE)) /
      |        (4.0 * (CAST(m AS DOUBLE)/CAST(nc AS DOUBLE)) +
      |         (CAST(m AS DOUBLE)/CAST(nr AS DOUBLE)))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS fn
      |  FROM j)
      |SELECT doc_id,
      |  CAST(MAX(CASE WHEN n = 1 THEN nc END) AS BIGINT) AS n_chars_cand,
      |  CAST(MAX(CASE WHEN n = 1 THEN nr END) AS BIGINT) AS n_chars_ref,
      |  MAX(CASE WHEN n = 1 THEN fn END) AS f_1,
      |  MAX(CASE WHEN n = 2 THEN fn END) AS f_2,
      |  MAX(CASE WHEN n = 3 THEN fn END) AS f_3,
      |  MAX(CASE WHEN n = 4 THEN fn END) AS f_4,
      |  CAST(CAST(CAST(SUM(CAST(fn AS DECIMAL(28,6))) AS DOUBLE) / 4.0
      |    AS DECIMAL(28,6)) AS DOUBLE) AS chrf
      |FROM f GROUP BY 1""".stripMargin

  // q270: Heaps'-law fit — vocabulary growth over 8 id-value document
  // prefixes, ln-ln least squares; the companion diagnostic to q266.
  // The oracle rebuilds thresholds (integer div), both checkpoint
  // aggregates and the identical d6/decimal regression.
  def q270HeapsFit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.heapsFit(
      t(s, dir, "documents"), "doc_id", "text", points = 8)

  val q270Sql: String =
    """WITH bounds AS (
      |  SELECT CAST(MIN(doc_id) AS BIGINT) AS mn,
      |    CAST(MAX(doc_id) + 1 AS BIGINT) AS mx FROM documents),
      |thr AS (
      |  SELECT x.j, b.mn + ((b.mx - b.mn) * x.j) // 8 AS t
      |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) x(j)
      |  CROSS JOIN bounds b),
      |nd AS (
      |  SELECT p.j, CAST(COUNT(*) AS BIGINT) AS ndocs
      |  FROM thr p JOIN documents d ON d.doc_id < p.t GROUP BY 1),
      |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |       FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |vc AS (
      |  SELECT p.j, CAST(COUNT(DISTINCT k.tok) AS BIGINT) AS vtypes
      |  FROM thr p JOIN tk2 k ON k.doc_id < p.t GROUP BY 1),
      |pts AS (
      |  SELECT nd.ndocs, vc.vtypes FROM nd JOIN vc USING (j)
      |  WHERE nd.ndocs >= 1 AND vc.vtypes >= 1),
      |xy AS (
      |  SELECT
      |    CAST(CAST(ln(CAST(ndocs AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS x,
      |    CAST(CAST(ln(CAST(vtypes AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS y
      |  FROM pts),
      |xy2 AS (
      |  SELECT x, y,
      |    CAST(CAST(x * y AS DECIMAL(28,6)) AS DOUBLE) AS xy,
      |    CAST(CAST(x * x AS DECIMAL(28,6)) AS DOUBLE) AS xx,
      |    CAST(CAST(y * y AS DECIMAL(28,6)) AS DOUBLE) AS yy
      |  FROM xy),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(xy AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(xx AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(yy AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM xy2)
      |SELECT CAST(n AS BIGINT) AS n_points,
      |  CAST(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS beta,
      |  CAST(CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
      |    / n AS DECIMAL(28,6)) AS DOUBLE) AS ln_k,
      |  CAST(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS r2
      |FROM agg""".stripMargin

  // q271: Jensen-Shannon drift between the even/odd doc_id halves over
  // the language dimension — the bounded companion to q256's PSI.
  // Oracle replays the Laplace shares, the d6 per-bucket terms and the
  // decimal total.
  def q271JsDrift(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.jsDrift(
      t(s, dir, "documents").withColumn("is_cur", col("doc_id") % 2 === 1),
      "is_cur", col("lang"))

  val q271Sql: String =
    """WITH f AS (
      |  SELECT lang AS bucket, (doc_id % 2 = 1) AS cur FROM documents),
      |c AS (
      |  SELECT bucket,
      |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM f GROUP BY 1),
      |s AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE)
      |      / CAST(SUM(n_ref) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |    CAST(n_cur + 1 AS DOUBLE)
      |      / CAST(SUM(n_cur) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM c),
      |t AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(CAST(p AS DECIMAL(28,6)) AS DOUBLE) AS p_ref,
      |    CAST(CAST(q AS DECIMAL(28,6)) AS DOUBLE) AS p_cur,
      |    CAST(CAST((p * ln(p / ((p + q) / 2.0)) +
      |               q * ln(q / ((p + q) / 2.0))) / 2.0
      |      AS DECIMAL(28,6)) AS DOUBLE) AS js_term
      |  FROM s)
      |SELECT bucket, n_ref, n_cur, p_ref, p_cur, js_term,
      |  CAST(SUM(CAST(js_term AS DECIMAL(28,6))) OVER () AS DOUBLE) AS js
      |FROM t""".stripMargin

  // q415: Hellinger drift between the even/odd doc_id halves over the
  // language dimension — the true-METRIC member of the drift family
  // (PSI q385 unbounded, JS q271 bounded-not-metric): transitively
  // thresholdable across snapshots. Oracle replays the Laplace
  // shares, the IEEE-sqrt bounded-affinity terms and the clamped
  // closing d6.
  def q415Hellinger(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.hellingerDrift(
      t(s, dir, "documents").withColumn("is_cur", col("doc_id") % 2 === 1),
      "is_cur", col("lang"))

  val q415Sql: String =
    """WITH f AS (
      |  SELECT lang AS bucket, (doc_id % 2 = 1) AS cur FROM documents),
      |c AS (
      |  SELECT bucket,
      |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM f GROUP BY 1),
      |s AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE)
      |      / CAST(SUM(n_ref) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |    CAST(n_cur + 1 AS DOUBLE)
      |      / CAST(SUM(n_cur) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM c),
      |t AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(CAST(p AS DECIMAL(28,6)) AS DOUBLE) AS p_ref,
      |    CAST(CAST(q AS DECIMAL(28,6)) AS DOUBLE) AS p_cur,
      |    CAST(CAST(sqrt(p * q) AS DECIMAL(28,6)) AS DOUBLE) AS bc_term
      |  FROM s)
      |SELECT bucket, n_ref, n_cur, p_ref, p_cur, bc_term,
      |  CAST(CAST(sqrt(GREATEST(0.0, 1.0 -
      |    CAST(SUM(CAST(bc_term AS DECIMAL(28,6))) OVER () AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS hellinger
      |FROM t""".stripMargin

  // q273: UniMax budget allocation (Chung et al. 2023) — water-fill a
  // 30k-token budget over the language domains at a 2-epoch repeat
  // cap. The oracle replays the all-integer saturation predicate, k*,
  // the single waterline division and both d6 outputs.
  def q273Unimax(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("lang"),
      size(filter(split(col("text"), " "), t => length(t) > 0))
        .cast("long").as("n_toks"))
    graft.pipeline.Sampling.unimaxBudgets(docs, "lang", "n_toks",
      totalBudget = 30000L, maxEpochs = 2)
  }

  val q273Sql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS nt
      |  FROM documents),
      |c AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens
      |      FROM d GROUP BY 1),
      |r AS (
      |  SELECT lang, n_tokens, n_tokens * 2 AS cap,
      |    CAST(row_number() OVER (ORDER BY n_tokens * 2 ASC, lang ASC)
      |      AS BIGINT) AS i,
      |    SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2 ASC, lang ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS dd
      |  FROM c),
      |k AS (
      |  SELECT
      |    COALESCE(MAX(CASE WHEN cap * (dd - i) <= 30000 - s THEN i END),
      |      0) AS kk,
      |    MAX(CASE WHEN cap * (dd - i) <= 30000 - s THEN s END) AS sk
      |  FROM r)
      |SELECT r.lang, r.n_tokens, r.cap,
      |  CAST(CAST(CASE WHEN r.dd - k.kk = 0 THEN CAST(r.cap AS DOUBLE)
      |    ELSE LEAST(CAST(r.cap AS DOUBLE),
      |      CAST(30000 - COALESCE(k.sk, 0) AS DOUBLE)
      |        / CAST(r.dd - k.kk AS DOUBLE)) END
      |    AS DECIMAL(28,6)) AS DOUBLE) AS budget,
      |  CAST(CAST((CASE WHEN r.dd - k.kk = 0 THEN CAST(r.cap AS DOUBLE)
      |    ELSE LEAST(CAST(r.cap AS DOUBLE),
      |      CAST(30000 - COALESCE(k.sk, 0) AS DOUBLE)
      |        / CAST(r.dd - k.kk AS DOUBLE)) END)
      |    / CAST(r.n_tokens AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS epochs,
      |  CAST(CASE WHEN r.i <= k.kk THEN 1 ELSE 0 END AS INT) AS saturated
      |FROM r CROSS JOIN k""".stripMargin

  // q274: Moore-Lewis cross-entropy-difference selection — the 'en'
  // Kneser-Ney judge vs the whole-corpus judge, keep delta >= 0. The
  // oracle runs the q229 CTE twice (in-domain + general models) from
  // one shared bigram stream and replays the difference/flag.
  def q274MooreLewis(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipeline.TextStats.mooreLewisSelect(
      docs.filter(col("lang") === "en"), docs, docs, "doc_id", "text",
      minDelta = 0.0)
  }

  val q274Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, lang,
      |    generate_subscripts(string_split(text,' '),1) AS pos,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, lang, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, lang, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, lang, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12i AS (SELECT tok, nxt, count(*) AS c12 FROM bi2
      |         WHERE lang = 'en' GROUP BY 1, 2),
      |ctxi AS (SELECT tok, CAST(SUM(c12) AS BIGINT) AS c1,
      |           COUNT(*) AS n1post FROM c12i GROUP BY 1),
      |prei AS (SELECT nxt, COUNT(*) AS n1pre FROM c12i GROUP BY 1),
      |tvi AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM c12i) AS t,
      |          (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) FROM tk2
      |           WHERE lang = 'en') AS v),
      |sci AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(CAST(sum(ln(CASE WHEN ctxi.c1 IS NULL
      |        THEN (CAST(coalesce(prei.n1pre, 0) AS DOUBLE) + 1.0)
      |          / (tvi.t + tvi.v)
      |        ELSE (GREATEST(CAST(coalesce(c12i.c12, 0) AS DOUBLE) - 0.75,
      |              0.0)
      |              + 0.75 * CAST(ctxi.n1post AS DOUBLE) *
      |                ((CAST(coalesce(prei.n1pre, 0) AS DOUBLE) + 1.0)
      |                 / (tvi.t + tvi.v)))
      |             / CAST(ctxi.c1 AS DOUBLE) END))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS lp_in
      |  FROM bi2 LEFT JOIN c12i USING (tok, nxt)
      |  LEFT JOIN ctxi USING (tok) LEFT JOIN prei USING (nxt)
      |  CROSS JOIN tvi GROUP BY doc_id),
      |c12g AS (SELECT tok, nxt, count(*) AS c12 FROM bi2 GROUP BY 1, 2),
      |ctxg AS (SELECT tok, CAST(SUM(c12) AS BIGINT) AS c1,
      |           COUNT(*) AS n1post FROM c12g GROUP BY 1),
      |preg AS (SELECT nxt, COUNT(*) AS n1pre FROM c12g GROUP BY 1),
      |tvg AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM c12g) AS t,
      |          (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) FROM tk2) AS v),
      |scg AS (
      |  SELECT doc_id,
      |    CAST(CAST(sum(ln(CASE WHEN ctxg.c1 IS NULL
      |        THEN (CAST(coalesce(preg.n1pre, 0) AS DOUBLE) + 1.0)
      |          / (tvg.t + tvg.v)
      |        ELSE (GREATEST(CAST(coalesce(c12g.c12, 0) AS DOUBLE) - 0.75,
      |              0.0)
      |              + 0.75 * CAST(ctxg.n1post AS DOUBLE) *
      |                ((CAST(coalesce(preg.n1pre, 0) AS DOUBLE) + 1.0)
      |                 / (tvg.t + tvg.v)))
      |             / CAST(ctxg.c1 AS DOUBLE) END))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS lp_general
      |  FROM bi2 LEFT JOIN c12g USING (tok, nxt)
      |  LEFT JOIN ctxg USING (tok) LEFT JOIN preg USING (nxt)
      |  CROSS JOIN tvg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(sci.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  sci.lp_in, scg.lp_general,
      |  CAST(CAST(sci.lp_in - scg.lp_general AS DECIMAL(28,6)) AS DOUBLE)
      |    AS delta,
      |  CAST(CASE WHEN sci.lp_in IS NOT NULL AND scg.lp_general IS NOT NULL
      |    AND CAST(CAST(sci.lp_in - scg.lp_general AS DECIMAL(28,6))
      |      AS DOUBLE) >= 0.0 THEN 1 ELSE 0 END AS INT) AS kept
      |FROM documents d LEFT JOIN sci USING (doc_id)
      |LEFT JOIN scg USING (doc_id)""".stripMargin

  // q280: distinct-n lexical diversity per language — the generation
  // report card (distinct-1/2/3) run as a corpus self-repetition
  // audit. The oracle rebuilds the empty-filtered token stream, the
  // md5 gram hashing and both counts per (lang, n).
  def q280DistinctN(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.distinctNgramDiversity(
      t(s, dir, "documents"), "lang", "text", maxN = 3)

  val q280Sql: String = {
    def block(n: Int) =
      s"""SELECT d.lang, CAST($n AS INT) AS n,
         |  CAST(COUNT(g.gh) AS BIGINT) AS n_total,
         |  CAST(COUNT(DISTINCT g.gh) AS BIGINT) AS n_distinct,
         |  CASE WHEN COUNT(g.gh) = 0 THEN 0.0
         |       ELSE CAST(COUNT(DISTINCT g.gh) AS DOUBLE) / COUNT(g.gh)
         |  END AS distinct_ratio
         |FROM (SELECT DISTINCT lang FROM documents) d LEFT JOIN (
         |  SELECT lang,
         |    md5(array_to_string(list_slice(toks, i, i + $n - 1), ' '))
         |      AS gh
         |  FROM (
         |    SELECT lang, toks,
         |      unnest(generate_series(1, greatest(len(toks) - $n + 1, 0)))
         |        AS i
         |    FROM (SELECT lang,
         |            list_filter(string_split(text, ' '), x -> x <> '')
         |              AS toks
         |          FROM documents))) g USING (lang)
         |GROUP BY 1""".stripMargin
    (1 to 3).map(block).mkString("\nUNION ALL\n")
  }

  // q281: linear-time MMD^2 two-sample drift between the label<5 and
  // label>=5 embedding populations — quadratic kernel on the
  // floor(v*1000) grid, consecutive-couple estimator. The oracle
  // replays the rank pairing, the four per-couple dots (pos joins)
  // and the single rescaling division.
  def q281MmdTwoSample(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.pipeline.Similarity.mmdLinear(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      "vec_id", "embedding")
  }

  val q281Sql: String =
    """WITH q AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
      |      AS BIGINT) AS qv
      |  FROM embeddings),
      |xr AS (SELECT DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS i, pos, qv
      |       FROM q WHERE label < 5),
      |yr AS (SELECT DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS i, pos, qv
      |       FROM q WHERE label >= 5),
      |xe AS (SELECT i // 2 AS j, pos, qv FROM xr WHERE i % 2 = 0),
      |xo AS (SELECT i // 2 AS j, pos, qv FROM xr WHERE i % 2 = 1),
      |ye AS (SELECT i // 2 AS j, pos, qv FROM yr WHERE i % 2 = 0),
      |yo AS (SELECT i // 2 AS j, pos, qv FROM yr WHERE i % 2 = 1),
      |dxx AS (SELECT j, SUM(a.qv * b.qv) AS d FROM xe a
      |        JOIN xo b USING (j, pos) GROUP BY j),
      |dyy AS (SELECT j, SUM(a.qv * b.qv) AS d FROM ye a
      |        JOIN yo b USING (j, pos) GROUP BY j),
      |dxy AS (SELECT j, SUM(a.qv * b.qv) AS d FROM xe a
      |        JOIN yo b USING (j, pos) GROUP BY j),
      |dyx AS (SELECT j, SUM(a.qv * b.qv) AS d FROM ye a
      |        JOIN xo b USING (j, pos) GROUP BY j),
      |h AS (SELECT dxx.j,
      |        dxx.d * dxx.d + dyy.d * dyy.d -
      |        dxy.d * dxy.d - dyx.d * dyx.d AS hv
      |      FROM dxx JOIN dyy USING (j) JOIN dxy USING (j)
      |      JOIN dyx USING (j))
      |SELECT
      |  (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM q
      |   WHERE label < 5) AS n_x,
      |  (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM q
      |   WHERE label >= 5) AS n_y,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(CAST(CAST(SUM(hv) AS DOUBLE) /
      |    (CAST(COUNT(*) AS DOUBLE) * 1.0e12) AS DECIMAL(28,6))
      |    AS DOUBLE) AS mmd2
      |FROM h""".stripMargin

  // q283: pairwise vocabulary overlap between language slices — the
  // kinship/contamination map. The oracle rebuilds the md5 vocab sets,
  // the token-keyed pair join and the integer-division Jaccard.
  def q283VocabOverlap(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.vocabOverlap(
      t(s, dir, "documents"), "lang", "text")

  val q283Sql: String =
    """WITH v AS (
      |  SELECT DISTINCT lang, md5(tok) AS th FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
      |p AS (
      |  SELECT a.lang AS grp_a, b.lang AS grp_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM v a JOIN v b ON a.th = b.th AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT grp_a, grp_b, sa.n AS n_a, sb.n AS n_b, n_common,
      |  CAST(n_common AS DOUBLE) /
      |    CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
      |FROM p JOIN sz sa ON grp_a = sa.lang
      |JOIN sz sb ON grp_b = sb.lang""".stripMargin

  // q285: MAUVE-family cluster-histogram JS divergence between the
  // label<5 and label>=5 embedding populations — q218's replayable
  // Lloyd training on the union (the cent CTE verbatim; the union of
  // the two sides IS the embeddings table), final assignment, then
  // q271's JS formula over the per-side cluster histograms.
  def q285ClusterJs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.pipeline.Similarity.clusterJsDivergence(
      e.filter(col("label") < 5), e.filter(col("label") >= 5),
      "vec_id", "embedding")
  }

  val q285Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
      |      AS qv
      |  FROM embeddings),
      |cent(iter, cluster, pos, m) AS (
      |  SELECT 0, i.cluster, e.pos, e.qv
      |  FROM (
      |    SELECT vec_id, rn - 1 AS cluster FROM (
      |      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
      |      FROM (
      |        SELECT DISTINCT vec_id,
      |          CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)),
      |            1, 8)) AS BIGINT) % 1000000 AS h
      |        FROM e) t0) t1 WHERE rn <= 16) i
      |  JOIN e ON e.vec_id = i.vec_id
      |  UNION ALL
      |  SELECT pts.iter, pts.cluster, pts.pos,
      |    CAST(FLOOR(AVG(pts.qv)) AS BIGINT)
      |  FROM (
      |    SELECT asg.iter, asg.cluster, e2.pos, e2.qv
      |    FROM (
      |      SELECT iter, vec_id, cluster FROM (
      |        SELECT iter, vec_id, cluster,
      |          ROW_NUMBER() OVER (PARTITION BY iter, vec_id
      |            ORDER BY score, cluster) AS rn
      |        FROM (
      |          SELECT c.iter + 1 AS iter, e1.vec_id, c.cluster,
      |            SUM(c.m * c.m) - 2 * SUM(e1.qv * c.m) AS score
      |          FROM cent c JOIN e e1 ON e1.pos = c.pos
      |          WHERE c.iter < 3
      |          GROUP BY 1, 2, 3) sc) rk
      |      WHERE rn = 1) asg
      |    JOIN e e2 ON e2.vec_id = asg.vec_id) pts
      |  GROUP BY 1, 2, 3),
      |fc AS (SELECT cluster, pos, m FROM cent WHERE iter = 3),
      |fscore AS (
      |  SELECT e.vec_id, f.cluster,
      |    SUM(f.m * f.m) - 2 * SUM(e.qv * f.m) AS score
      |  FROM e JOIN fc f ON e.pos = f.pos GROUP BY 1, 2),
      |lists AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster)
      |        AS rn
      |    FROM fscore) t WHERE rn = 1),
      |c AS (
      |  SELECT CAST(l.cluster AS VARCHAR) AS bucket,
      |    CAST(SUM(CASE WHEN emb.label >= 5 THEN 0 ELSE 1 END) AS BIGINT)
      |      AS n_ref,
      |    CAST(SUM(CASE WHEN emb.label >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_cur
      |  FROM lists l JOIN embeddings emb USING (vec_id) GROUP BY 1),
      |s AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE)
      |      / CAST(SUM(n_ref) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |    CAST(n_cur + 1 AS DOUBLE)
      |      / CAST(SUM(n_cur) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM c),
      |t AS (
      |  SELECT bucket, n_ref, n_cur,
      |    CAST(CAST(p AS DECIMAL(28,6)) AS DOUBLE) AS p_ref,
      |    CAST(CAST(q AS DECIMAL(28,6)) AS DOUBLE) AS p_cur,
      |    CAST(CAST((p * ln(p / ((p + q) / 2.0)) +
      |               q * ln(q / ((p + q) / 2.0))) / 2.0
      |      AS DECIMAL(28,6)) AS DOUBLE) AS js_term
      |  FROM s)
      |SELECT bucket, n_ref, n_cur, p_ref, p_cur, js_term,
      |  CAST(SUM(CAST(js_term AS DECIMAL(28,6))) OVER () AS DOUBLE) AS js
      |FROM t""".stripMargin

  // q286: PMI collocations over the corpus bigram stream — top-50 by
  // pair count at minCount 5. The oracle replays the q229 bigram CTEs,
  // the five-term log-domain PMI chain and the deterministic
  // (count desc, w1, w2) cut.
  def q286Collocations(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.collocations(
      t(s, dir, "documents"), "doc_id", "text")

  val q286Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |    unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |bi AS (
      |  SELECT doc_id, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok AS w1, nxt AS w2, CAST(COUNT(*) AS BIGINT)
      |          AS n_pair FROM bi2 GROUP BY 1, 2),
      |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok
      |        FROM tk2 GROUP BY 1),
      |tot AS (SELECT
      |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM tk2) AS nt,
      |  (SELECT CAST(COUNT(*) AS DOUBLE) FROM bi2) AS nb)
      |SELECT w1, w2, n_pair, u1.n_tok AS n_w1, u2.n_tok AS n_w2,
      |  CAST(CAST(ln(CAST(n_pair AS DOUBLE)) + 2.0 * ln(tot.nt)
      |      - ln(tot.nb) - ln(CAST(u1.n_tok AS DOUBLE))
      |      - ln(CAST(u2.n_tok AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pmi
      |FROM c12 JOIN uni u1 ON w1 = u1.tok JOIN uni u2 ON w2 = u2.tok
      |CROSS JOIN tot
      |WHERE n_pair >= 5
      |ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin

  // q287: template/boilerplate score per source — sentence units
  // ([.!?]+ split), duplicate-unit fraction and d6-summed unit-hash
  // entropy. The oracle mirrors the split/trim/md5 chain.
  def q287TemplateScore(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.templateScore(
      t(s, dir, "documents"), "source", "text", delimRe = "[.!?]+")

  val q287Sql: String =
    """WITH u AS (
      |  SELECT source, md5(un) AS uh FROM (
      |    SELECT source, trim(x) AS un FROM (
      |      SELECT source,
      |        unnest(regexp_split_to_array(text, '[.!?]+')) AS x
      |      FROM documents) t0) t1
      |  WHERE un <> ''),
      |pu AS (SELECT source, uh, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM u GROUP BY 1, 2),
      |wn AS (SELECT *, SUM(c) OVER (PARTITION BY source) AS n FROM pu)
      |SELECT source,
      |  CAST(MAX(n) AS BIGINT) AS n_units,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(MAX(n) - COUNT(*) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
      |    AS dup_frac,
      |  CAST(CAST(CAST(SUM(CAST(
      |      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |        ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |    AS DECIMAL(28,6))) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS unit_entropy
      |FROM wn GROUP BY 1""".stripMargin

  // q288: rank-biased overlap between q185's two input rankings (the
  // BM25 top-50 and the bigram-LM top-50) — "how much do the lexical
  // and LM rankers agree, top-weighted?". The oracle reuses q185's
  // CTEs verbatim up to the two rank lists, then replays the
  // depth-table cumulative and the shift-exact p=1/2 weights.
  def q288Rbo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text",
      queryTerms = Seq("spark", "merge", "vector"), topK = 50)
    val wA = Window.orderBy(col("bm25_score").desc, col("doc_id").asc)
    val ra = bm.select(col("doc_id"),
      row_number().over(wA).cast("long").as("rank"))
    val lmd = graft.pipeline.TextStats.bigramLogProb(docs, "doc_id", "text")
      .select(col("doc_id"), d6(col("avg_logprob")).as("_s"))
    val wB = Window.orderBy(col("_s").desc, col("doc_id").asc)
    val rb = lmd.orderBy(col("_s").desc, col("doc_id").asc).limit(50)
      .select(col("doc_id"),
        row_number().over(wB).cast("long").as("rank"))
    Retrieval.rankBiasedOverlap(ra, rb, "doc_id", "rank", k = 50)
  }

  val q288Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, pos, tok FROM tk WHERE tok <> ''),
      |dl AS (SELECT doc_id, count(*) AS dlen FROM tk2 GROUP BY 1),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qt AS (SELECT * FROM (VALUES ('spark'), ('merge'), ('vector')) v(term)),
      |dfq AS (SELECT tok AS term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      |        FROM tk2 JOIN qt ON tok = term GROUP BY 1),
      |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM tk2 JOIN qt ON tok = term GROUP BY 1, 2),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(CAST(sum(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
      |        tf.tf * 2.2 /
      |        (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dlen AS DOUBLE) / st.avgdl)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS score
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
      |  GROUP BY 1),
      |bm AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS ra
      |  FROM (SELECT doc_id, score FROM sc
      |        ORDER BY score DESC, doc_id LIMIT 50)),
      |bi AS (
      |  SELECT doc_id, tok,
      |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      |  FROM tk2),
      |bi2 AS (SELECT doc_id, tok, nxt FROM bi WHERE nxt IS NOT NULL),
      |c12 AS (SELECT tok, nxt, count(*) AS c12 FROM bi2 GROUP BY 1,2),
      |c1 AS (SELECT tok, count(*) AS c1 FROM bi2 GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk2),
      |lmsc AS (
      |  SELECT doc_id,
      |    CAST(CAST(sum(ln((CAST(c12 AS DOUBLE) + 0.5)
      |        / (CAST(c1 AS DOUBLE) + 0.5 * v)))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS s
      |  FROM bi2 JOIN c12 USING (tok, nxt) JOIN c1 USING (tok) CROSS JOIN v
      |  GROUP BY doc_id),
      |lm AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rb
      |  FROM lmsc QUALIFY rb <= 50),
      |ov AS (SELECT GREATEST(bm.ra, lm.rb) AS d0
      |       FROM bm JOIN lm USING (doc_id)),
      |ent AS (SELECT d0, CAST(COUNT(*) AS BIGINT) AS m FROM ov GROUP BY 1),
      |dep AS (SELECT unnest(generate_series(1, 50)) AS d),
      |cum AS (
      |  SELECT d, SUM(COALESCE(ent.m, 0)) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
      |  FROM dep LEFT JOIN ent ON d = d0)
      |SELECT CAST(50 AS BIGINT) AS k,
      |  CAST(COALESCE(MAX(x), 0) AS BIGINT) AS n_common,
      |  CAST(CAST(0.5 * CAST(SUM(CAST(
      |      (1.0 / CAST(1 << (d - 1) AS DOUBLE)) *
      |      (CAST(x AS DOUBLE) / CAST(d AS DOUBLE))
      |    AS DECIMAL(28,6))) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS rbo
      |FROM cum""".stripMargin

  // q292: SQuAD-style EM + token-F1 — predictions planted from the
  // gold text: every 3rd doc predicts its own first-half tokens
  // (partial credit), every 7th predicts verbatim (EM), others predict
  // a fixed wrong string. The oracle replays the normalization, the
  // full-outer multiset min and the F1 arithmetic.
  def q292TokenF1(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val half = array_join(
      slice(toks, lit(1),
        greatest(lit(1), floor(size(toks) / 2).cast("int"))), " ")
    val pred = when(col("doc_id") % 7 === 0, col("text"))
      .when(col("doc_id") % 3 === 0, half)
      .otherwise(lit("no answer found"))
    graft.pipeline.Retrieval.evalTokenF1(
      docs.select(col("doc_id"), pred.as("pred"), col("text").as("gold")),
      "doc_id", "pred", "gold")
  }

  val q292Sql: String =
    """WITH d0 AS (
      |  SELECT doc_id, text AS gold,
      |    CASE WHEN doc_id % 7 = 0 THEN text
      |         WHEN doc_id % 3 = 0 THEN array_to_string(list_slice(
      |           list_filter(string_split(text, ' '), x -> x <> ''), 1,
      |           GREATEST(1, CAST(FLOOR(len(list_filter(
      |             string_split(text, ' '), x -> x <> '')) / 2) AS INT))),
      |           ' ')
      |         ELSE 'no answer found' END AS pred
      |  FROM documents),
      |nrm AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(pred),
      |      '[^a-z0-9]', ' ', 'g')), ' +'),
      |      x -> x <> '' AND x <> 'a' AND x <> 'an' AND x <> 'the') AS p,
      |    list_filter(string_split_regex(trim(regexp_replace(lower(gold),
      |      '[^a-z0-9]', ' ', 'g')), ' +'),
      |      x -> x <> '' AND x <> 'a' AND x <> 'an' AND x <> 'the') AS g
      |  FROM d0),
      |pc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cp FROM
      |       (SELECT doc_id, unnest(p) AS t FROM nrm) GROUP BY 1, 2),
      |gc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS cg FROM
      |       (SELECT doc_id, unnest(g) AS t FROM nrm) GROUP BY 1, 2),
      |m AS (
      |  SELECT doc_id, CAST(SUM(LEAST(COALESCE(cp, 0), COALESCE(cg, 0)))
      |    AS BIGINT) AS m
      |  FROM pc FULL OUTER JOIN gc USING (doc_id, t) GROUP BY 1)
      |SELECT nrm.doc_id,
      |  CAST(len(p) AS BIGINT) AS n_pred,
      |  CAST(len(g) AS BIGINT) AS n_gold,
      |  COALESCE(m.m, 0) AS n_common,
      |  CAST(CASE WHEN array_to_string(p, ' ') = array_to_string(g, ' ')
      |    THEN 1 ELSE 0 END AS INT) AS exact_match,
      |  CASE WHEN len(p) = 0 AND len(g) = 0 THEN 1.0
      |       WHEN COALESCE(m.m, 0) = 0 THEN 0.0
      |       ELSE CAST(CAST(2.0 *
      |         (CAST(m.m AS DOUBLE) / CAST(len(p) AS DOUBLE)) *
      |         (CAST(m.m AS DOUBLE) / CAST(len(g) AS DOUBLE)) /
      |         ((CAST(m.m AS DOUBLE) / CAST(len(p) AS DOUBLE)) +
      |          (CAST(m.m AS DOUBLE) / CAST(len(g) AS DOUBLE)))
      |         AS DECIMAL(28,6)) AS DOUBLE) END AS f1
      |FROM nrm LEFT JOIN m USING (doc_id)""".stripMargin

  // q296: lexical-richness panel per language — Yule's K, Simpson's D,
  // hapax ratio, TTR from the exact frequency spectrum. The oracle
  // rebuilds the spectrum and the integer numerators.
  def q296LexicalRichness(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.lexicalRichness(
      t(s, dir, "documents"), "lang", "text")

  val q296Sql: String =
    """WITH tk AS (
      |  SELECT lang, md5(tok) AS th FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) x WHERE tok <> ''),
      |tc AS (SELECT lang, th, CAST(COUNT(*) AS BIGINT) AS m
      |       FROM tk GROUP BY 1, 2),
      |sp AS (SELECT lang, m, CAST(COUNT(*) AS BIGINT) AS vm
      |       FROM tc GROUP BY 1, 2),
      |ag AS (
      |  SELECT lang,
      |    CAST(SUM(m * vm) AS BIGINT) AS n_tokens,
      |    CAST(SUM(vm) AS BIGINT) AS n_types,
      |    CAST(SUM(CASE WHEN m = 1 THEN vm ELSE 0 END) AS BIGINT)
      |      AS n_hapax,
      |    CAST(SUM(m * m * vm) AS BIGINT) AS m2v,
      |    CAST(SUM(m * (m - 1) * vm) AS BIGINT) AS mm1v
      |  FROM sp GROUP BY 1)
      |SELECT lang, n_tokens, n_types, n_hapax,
      |  CAST(CAST(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS ttr,
      |  CAST(CAST(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS hapax_ratio,
      |  CAST(CAST(10000.0 * (CAST(m2v AS DOUBLE) -
      |      CAST(n_tokens AS DOUBLE)) /
      |    (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS yule_k,
      |  CASE WHEN n_tokens < 2 THEN 0.0
      |    ELSE CAST(CAST(CAST(mm1v AS DOUBLE) /
      |      (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS simpson_d
      |FROM ag""".stripMargin

  // q297: Fightin' Words (Monroe 2008) — prior-shrunk z-scored
  // log-odds of terms, en vs the rest, top-50 by |z|. The oracle
  // replays the Dirichlet prior, the two-ln delta, the variance
  // normalization and the (|z| desc, term) cut.
  def q297FightinWords(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.fightinWords(
      t(s, dir, "documents").withColumn("is_en", col("lang") === "en"),
      "is_en", "text")

  val q297Sql: String =
    """WITH tk AS (
      |  SELECT lang = 'en' AS a, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |counts AS (
      |  SELECT term,
      |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      |  FROM tk WHERE term <> '' GROUP BY 1
      |  HAVING SUM(CASE WHEN a THEN 1 ELSE 0 END)
      |       + SUM(CASE WHEN a THEN 0 ELSE 1 END) >= 5),
      |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS na_tot,
      |               CAST(SUM(n_b) AS BIGINT) AS nb_tot FROM counts),
      |scored AS (
      |  SELECT term, n_a, n_b,
      |    CAST(CAST(
      |      ln((CAST(n_a AS DOUBLE) + at) /
      |         (CAST(na_tot AS DOUBLE) + 500.0 -
      |          (CAST(n_a AS DOUBLE) + at))) -
      |      ln((CAST(n_b AS DOUBLE) + at) /
      |         (CAST(nb_tot AS DOUBLE) + 500.0 -
      |          (CAST(n_b AS DOUBLE) + at)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS delta,
      |    CAST(CAST(
      |      (ln((CAST(n_a AS DOUBLE) + at) /
      |          (CAST(na_tot AS DOUBLE) + 500.0 -
      |           (CAST(n_a AS DOUBLE) + at))) -
      |       ln((CAST(n_b AS DOUBLE) + at) /
      |          (CAST(nb_tot AS DOUBLE) + 500.0 -
      |           (CAST(n_b AS DOUBLE) + at)))) /
      |      sqrt(1.0 / (CAST(n_a AS DOUBLE) + at) +
      |           1.0 / (CAST(n_b AS DOUBLE) + at))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS z
      |  FROM (
      |    SELECT c.*, t.na_tot, t.nb_tot,
      |      500.0 * CAST(c.n_a + c.n_b AS DOUBLE) /
      |        CAST(t.na_tot + t.nb_tot AS DOUBLE) AS at
      |    FROM counts c CROSS JOIN tot t) x)
      |SELECT term, n_a, n_b, delta, z FROM scored
      |ORDER BY ABS(z) DESC, term ASC LIMIT 50""".stripMargin

  /** Shared distinct (user, 6-hour-bucket) purchase frame feeding every
    * co-purchase / hand-off fixture graph (q313/q314/q326/q384/q462/
    * q463/q476) — ONE definition so the occupancy guard below cannot
    * drift between consumers (VERDICT r15 #1/#7). */
  private def purchaseBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts_us div 21600000000").as("b"))
      .distinct()

  /** Co-purchase user graph: an edge between users who purchased in the
    * same 6-hour bucket on >= `minShared` distinct buckets — sparse
    * enough for a non-trivial k-core at the default (88 of 150 users at
    * sf0.01, 6 peel rounds). Built by the GUARDED [[Graph.coBucketEdges]]
    * generator: per-bucket purchaser occupancy (192 max at sf0.1; the
    * r15 sidecar measured the unguarded self-join at 57.2× when a fixed
    * time axis grew 10× denser) raises loudly past maxBucketKeys=1000
    * BEFORE any pair forms. */
  private def coPurchaseEdges(
      s: SparkSession, dir: String, minShared: Int = 3): DataFrame =
    Graph.coBucketEdges(purchaseBuckets(s, dir), "user_id", "b",
        minCount = minShared)
      .select(col("key_a").as("u"), col("key_b").as("v"), col("n_shared"))

  // q313: 15-core of the co-purchase graph — iterative peel to a fixed
  // point. The oracle replays the peel as a packed-alive-list recursive
  // CTE (the single-self-reference workaround: the alive SET rides one
  // row per round, degrees come from list lambdas over the edge list).
  def q313KCore(s: SparkSession, dir: String): DataFrame =
    Graph.kCore(coPurchaseEdges(s, dir), "u", "v", k = 15)

  val q313Sql: String =
    """WITH RECURSIVE p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |und AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |ed AS (SELECT list({'a': a, 'b': b}) AS es FROM und),
      |n0 AS (SELECT list_sort(list(DISTINCT a)) AS alive FROM und),
      |peel(it, alive) AS (
      |  SELECT 0, alive FROM n0
      |  UNION ALL
      |  SELECT it + 1,
      |    list_sort(list_filter(peel.alive, x ->
      |      len(list_filter(ed.es, e -> e.a = x AND
      |        list_contains(peel.alive, e.b))) >= 15))
      |  FROM peel, ed
      |  WHERE it < 20 AND
      |    list_sort(list_filter(peel.alive, x ->
      |      len(list_filter(ed.es, e -> e.a = x AND
      |        list_contains(peel.alive, e.b))) >= 15)) <> peel.alive),
      |fin AS (SELECT alive FROM peel ORDER BY it DESC LIMIT 1),
      |nodes AS (SELECT unnest(alive) AS node, alive FROM fin)
      |SELECT nodes.node,
      |  CAST(len(list_filter(ed.es, e -> e.a = nodes.node AND
      |    list_contains(nodes.alive, e.b))) AS BIGINT) AS core_degree
      |FROM nodes, ed""".stripMargin

  // q314: Adamic-Adar link prediction on the same graph — top 20
  // non-adjacent pairs by summed 1/ln(common-neighbor degree), each
  // term d6-rounded before the decimal sum. maxNeighborDegree = 64
  // sits ABOVE sf0.01's max degree (60), so the oracle is the exact
  // score — while at larger SFs, where the co-purchase graph
  // densifies superlinearly, the cap bounds the pairing fan-out (the
  // operator's documented scale valve, measured 22.5s -> bounded at
  // sf0.1).
  def q314AdamicAdar(s: SparkSession, dir: String): DataFrame =
    Graph.adamicAdar(coPurchaseEdges(s, dir), "u", "v", topK = 20,
      maxNeighborDegree = 64)

  val q314Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |und AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |d AS (SELECT a AS w, CAST(COUNT(*) AS BIGINT) AS dg
      |      FROM und GROUP BY 1),
      |adj AS (SELECT b AS w, a AS u FROM und),
      |cand AS (
      |  SELECT x.u, y.u AS v, d.dg
      |  FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
      |  JOIN d ON d.w = x.w),
      |sc AS (
      |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
      |    SUM(CAST(1.0 / ln(CAST(dg AS DOUBLE)) AS DECIMAL(28,6))) AS s6
      |  FROM cand GROUP BY 1, 2),
      |r AS (
      |  SELECT sc.u, sc.v, sc.n_common, sc.s6 FROM sc
      |  WHERE NOT EXISTS (SELECT 1 FROM und
      |    WHERE und.a = sc.u AND und.b = sc.v))
      |SELECT u, v, n_common,
      |  CAST(CAST(CAST(s6 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS aa_score
      |FROM r ORDER BY aa_score DESC, u, v LIMIT 20""".stripMargin

  // q315: TextRank keywords over the documents corpus — window-2
  // co-occurrence graph of non-stopword tokens, 10 weighted PageRank
  // rounds (the q128 replay machinery on the token graph), top 30.
  def q315TextRank(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.textRank(t(s, dir, "documents"),
      "doc_id", "text", stopwords = Seq("the", "a"))

  val q315Sql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1)
      |      AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |ft AS (SELECT doc_id, pos, tok,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |       FROM tk WHERE tok <> '' AND tok NOT IN ('the', 'a')),
      |pr0 AS (SELECT a.tok AS x, b.tok AS y
      |        FROM ft a JOIN ft b ON a.doc_id = b.doc_id
      |          AND b.rn = a.rn + 1
      |        WHERE a.tok <> b.tok),
      |und AS (SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b,
      |          COUNT(*) AS n
      |        FROM pr0 GROUP BY 1, 2),
      |ed AS (SELECT a, b, n FROM und
      |       UNION ALL SELECT b, a, n FROM und),
      |w AS (SELECT a AS from_t, b AS to_t,
      |        CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY a) AS p
      |      FROM ed),
      |nodes AS (SELECT DISTINCT a AS node FROM ed),
      |nn AS (SELECT COUNT(*) AS n FROM nodes),
      |ranks AS (
      |  SELECT 0 AS it, node,
      |    1.0 / (SELECT CAST(n AS DOUBLE) FROM nn) AS score
      |  FROM nodes
      |  UNION ALL
      |  SELECT r.it + 1, w.to_t,
      |    (1.0 - 0.85) / (SELECT CAST(n AS DOUBLE) FROM nn)
      |      + 0.85 * SUM(r.score * w.p)
      |  FROM ranks r JOIN w ON w.from_t = r.node
      |  WHERE r.it < 10
      |  GROUP BY r.it, w.to_t),
      |occ AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |        FROM ft GROUP BY 1)
      |SELECT r.node AS token, occ.n_occurrences,
      |  CAST(CAST(score AS DECIMAL(28,6)) AS DOUBLE) AS rank
      |FROM ranks r JOIN occ ON occ.tok = r.node WHERE it = 10
      |ORDER BY rank DESC, token ASC LIMIT 30""".stripMargin

  // q316: RAKE keyphrases — stopword-free runs (cap 4) scored by
  // summed deg/freq word scores, d6 per word before the decimal sum.
  def q316Rake(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.rakeKeywords(t(s, dir, "documents"),
      "doc_id", "text", stopwords = Seq("the", "a"))

  val q316Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1)
      |      AS pos,
      |    unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |st AS (SELECT doc_id, pos, tok, tok IN ('the', 'a') AS s
      |       FROM tk WHERE tok <> ''),
      |runs AS (
      |  SELECT doc_id, pos, tok, s,
      |    SUM(CASE WHEN s THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
      |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
      |      ROW) AS run
      |  FROM st),
      |ph AS (SELECT doc_id, run,
      |         string_agg(tok, ' ' ORDER BY pos) AS phrase,
      |         COUNT(*) AS len
      |       FROM runs WHERE NOT s GROUP BY 1, 2
      |       HAVING COUNT(*) <= 4),
      |iw AS (SELECT phrase, len, unnest(string_split(phrase, ' ')) AS w
      |       FROM ph),
      |ws AS (SELECT w, CAST(CAST(SUM(len) AS DOUBLE) /
      |         CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS ws6
      |       FROM iw GROUP BY 1),
      |dist AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      |         FROM ph GROUP BY 1),
      |dw AS (SELECT phrase, n_occurrences,
      |         unnest(string_split(phrase, ' ')) AS w
      |       FROM dist),
      |psc AS (SELECT phrase, MAX(n_occurrences) AS n_occurrences,
      |          SUM(ws.ws6) AS s6
      |        FROM dw JOIN ws USING (w) GROUP BY 1)
      |SELECT phrase, n_occurrences,
      |  CAST(CAST(CAST(s6 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS score
      |FROM psc ORDER BY score DESC, phrase ASC LIMIT 30""".stripMargin

  // q323: word error rate of a derived noisy transcription — every
  // 11th token substituted ('zzz'), every other 7th dropped. The
  // oracle maps the pair vocab through the same 94-char ASCII
  // alphabet and calls DuckDB's levenshtein: token edits ≡ char edits
  // ≡ BYTE edits (DuckDB's unit) in the single-byte regime.
  def q323Wer(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val hyp = filter(
      transform(toks, (t, i) =>
        when((i + 1) % 11 === 0, lit("zzz"))
          .when((i + 1) % 7 === 0, lit(null))
          .otherwise(t)),
      x => x.isNotNull)
    val pairs = t(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").as("ref"),
        concat_ws(" ", hyp).as("hyp"))
    Retrieval.wordErrorRate(pairs, "doc_id", "ref", "hyp")
  }

  val q323Sql: String =
    """WITH al AS (
      |  SELECT string_agg(chr(CAST(33 + i AS INT)), ''
      |    ORDER BY i) AS alpha
      |  FROM (SELECT unnest(range(94)) AS i)),
      |base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS r
      |  FROM documents WHERE length(text) > 0),
      |hy AS (
      |  SELECT doc_id, r,
      |    list_filter(list_transform(r, (t, i) ->
      |      CASE WHEN i % 11 = 0 THEN 'zzz'
      |           WHEN i % 7 = 0 THEN NULL ELSE t END),
      |      x -> x IS NOT NULL) AS h
      |  FROM base),
      |vx AS (
      |  SELECT doc_id, r, h,
      |    list_sort(list_distinct(list_concat(r, h))) AS v
      |  FROM hy),
      |mp AS (
      |  SELECT doc_id, r, h,
      |    list_aggregate(list_transform(r, t ->
      |      substring(al.alpha, CAST(list_position(v, t) AS INT), 1)),
      |      'string_agg', '') AS mr,
      |    list_aggregate(list_transform(h, t ->
      |      substring(al.alpha, CAST(list_position(v, t) AS INT), 1)),
      |      'string_agg', '') AS mh
      |  FROM vx CROSS JOIN al)
      |SELECT doc_id, CAST(len(r) AS BIGINT) AS n_ref,
      |  CAST(len(h) AS BIGINT) AS n_hyp,
      |  CAST(levenshtein(COALESCE(mr, ''), COALESCE(mh, ''))
      |    AS BIGINT) AS distance,
      |  CAST(CAST(CAST(levenshtein(COALESCE(mr, ''), COALESCE(mh, ''))
      |    AS DOUBLE) / CAST(len(r) AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS wer
      |FROM mp""".stripMargin

  // q324: Brier + ECE/MCE over the trained quality classifier's scores
  // — the one-row trust readout next to q230's reliability diagram.
  // All-integer numerators ride the full training replay hash-exactly.
  def q324CalibrationError(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.pipeline.Classifier.scoreRowwise(
      t(s, dir, "documents"), "doc_id", "text", q225Label,
      classifierFit(s, dir)._2)
    graft.pipeline.Stats.calibrationError(scored, "score6", "y")
  }

  val q324Sql: String =
    s"""$classifierScoreCtes,
       |bn AS (
       |  SELECT LEAST(CAST(floor(CAST(sc.s6 AS DOUBLE) * 10 / 1000000.0)
       |      AS BIGINT), 9) AS b,
       |    d.y, sc.s6
       |  FROM doc d JOIN sc USING (doc_id)),
       |g AS (
       |  SELECT b, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos,
       |    CAST(SUM(CAST(s6 AS HUGEINT)) AS HUGEINT) AS ss,
       |    CAST(SUM(CAST(s6 - 1000000 * y AS HUGEINT) *
       |      CAST(s6 - 1000000 * y AS HUGEINT)) AS HUGEINT) AS sq
       |  FROM bn GROUP BY 1),
       |a AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows, SUM(sq) AS sqt,
       |    SUM(ABS(CAST(1000000 * pos AS HUGEINT) - ss)) AS gapt,
       |    MAX(CAST(CAST(CAST(ABS(CAST(1000000 * pos AS HUGEINT) - ss)
       |      AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
       |      AS DECIMAL(28,6)) AS DOUBLE)) AS mce
       |  FROM g)
       |SELECT n_rows,
       |  CAST(CAST(CAST(sqt AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 1e12)
       |    AS DECIMAL(28,6)) AS DOUBLE) AS brier,
       |  CAST(CAST(CAST(gapt AS DOUBLE) /
       |    (CAST(n_rows AS DOUBLE) * 1000000.0) AS DECIMAL(28,6))
       |    AS DOUBLE) AS ece,
       |  mce
       |FROM a""".stripMargin

  // q325: Newman modularity of the q46 dup-cluster partition on its
  // own similarity graph — connected components make every edge
  // intra-community, so Q = 1 − Σ(d_c/2m)²: the dedup-clustering
  // quality score. Oracle = q46's closure + the exact integer
  // numerator.
  def q325Modularity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = TextDedup.jaccardPairs(
      TextDedup.shingles(docs, "doc_id", "text", n = 3),
      "doc_id", threshold = 0.12, maxShingleDocs = Int.MaxValue)
      .select(col("doc_a"), col("doc_b"))
    val clusters = TextDedup.dupClusters(pairs)
    Graph.modularity(pairs, "doc_a", "doc_b", clusters, "doc_id",
      "canonical_id")
  }

  val q325Sql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1)
      |      AS pos,
      |    unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' ||
      |      lead(tok,2) OVER w AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
      |    >= 0.12),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
      |cl AS (SELECT id, MIN(lab) AS c FROM reach GROUP BY id),
      |lbl AS (
      |  SELECT la.c AS ca, lb.c AS cb
      |  FROM edges e JOIN cl la ON la.id = e.src
      |  JOIN cl lb ON lb.id = e.dst),
      |m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM lbl),
      |perc AS (
      |  SELECT ca, CAST(COUNT(*) AS BIGINT) AS dc,
      |    CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ec2
      |  FROM lbl GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
      |    MAX(m2.m2) AS m2,
      |    SUM(CAST(m2.m2 AS HUGEINT) * CAST(ec2 AS HUGEINT) -
      |        CAST(dc AS HUGEINT) * CAST(dc AS HUGEINT)) AS num
      |  FROM perc CROSS JOIN m2)
      |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges, n_communities,
      |  CAST(CAST(CAST(num AS DOUBLE) /
      |    (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)) AS DECIMAL(28,6))
      |    AS DOUBLE) AS modularity
      |FROM agg""".stripMargin

  // q326: degree assortativity of the co-purchase graph — do heavy
  // co-purchasers attach to each other? Exact HUGEINT sufficient sums
  // over the directed double cover.
  def q326Assortativity(s: SparkSession, dir: String): DataFrame =
    Graph.assortativity(coPurchaseEdges(s, dir), "u", "v")

  val q326Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |und AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |d AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS dg
      |      FROM und GROUP BY 1),
      |pr AS (
      |  SELECT dx.dg AS x, dy.dg AS y
      |  FROM und JOIN d dx ON dx.n = und.a JOIN d dy ON dy.n = und.b),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
      |      AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT)
      |      AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
      |      AS syy
      |  FROM pr)
      |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
      |  CAST(CAST(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)) AS DECIMAL(28,6))
      |    AS DOUBLE) AS assortativity
      |FROM agg""".stripMargin

  // q327: Good-Turing frequency re-estimation over the corpus token
  // stream — adjusted counts r*, smoothed p_r and the unseen mass
  // (r = 0 row), spectrum rows 0..10.
  def q327GoodTuring(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.goodTuring(t(s, dir, "documents"),
      "doc_id", "text")

  val q327Sql: String =
    """WITH tk AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT tok FROM tk WHERE tok <> ''),
      |c AS (SELECT tok, COUNT(*) AS r FROM t2 GROUP BY 1),
      |sp AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM c GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t2),
      |spine AS (SELECT unnest(range(0, 11)) AS r),
      |j AS (
      |  SELECT spine.r, COALESCE(cur.nr, 0) AS n_r,
      |    COALESCE(nxt.nr, 0) AS nr1, n.n
      |  FROM spine LEFT JOIN sp cur ON cur.r = spine.r
      |  LEFT JOIN sp nxt ON nxt.r = spine.r + 1
      |  CROSS JOIN n)
      |SELECT CAST(r AS BIGINT) AS r, n_r,
      |  CASE WHEN r > 0 AND n_r > 0 AND nr1 > 0 THEN
      |    CAST(CAST(CAST((r + 1) * nr1 AS DOUBLE) / CAST(n_r AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS r_star,
      |  CASE WHEN r = 0 THEN
      |      CAST(CAST(CAST(nr1 AS DOUBLE) / CAST(n AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |    WHEN n_r > 0 AND nr1 > 0 THEN
      |      CAST(CAST(CAST((r + 1) * nr1 AS DOUBLE) /
      |        (CAST(n_r AS DOUBLE) * CAST(n AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS p_gt
      |FROM j""".stripMargin

  // q336/q337: MULTINOMIAL NAIVE BAYES — the closed-form multi-class
  // companion to the q225/q226 logistic gate: language routing as one
  // GROUP BY (train) + one broadcast-join scoring pass. q336 dumps the
  // Laplace-smoothed model table; q337 trains on the corpus's own lang
  // labels and emits the per-doc argmax with exact decimal scores (the
  // argmax itself is engine-portable, not just the rounded score).
  def q336NbModel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Classifier.naiveBayesModel(
      t(s, dir, "documents"), "doc_id", "text", "lang")

  val q336Sql: String =
    """WITH tk AS (
      |  SELECT lang AS l,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS tok
      |  FROM documents),
      |p AS (SELECT l, tok, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM tk GROUP BY 1, 2),
      |ct AS (SELECT l, CAST(SUM(c) AS BIGINT) AS nl FROM p GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM p)
      |SELECT p.l AS lang, p.tok AS token, p.c AS token_count,
      |  CAST(CAST(ln(CAST(p.c + 1 AS DOUBLE) /
      |    CAST(ct.nl + v.v AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS logp
      |FROM p JOIN ct ON p.l = ct.l CROSS JOIN v""".stripMargin

  def q337NbScore(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Classifier.naiveBayesScore(
      t(s, dir, "documents"), "doc_id", "text", "lang")

  val q337Sql: String =
    """WITH tk AS (
      |  SELECT doc_id AS id, lang AS l,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS tok
      |  FROM documents),
      |p AS (SELECT l, tok, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM tk GROUP BY 1, 2),
      |ct AS (SELECT l, CAST(SUM(c) AS BIGINT) AS nl FROM p GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM p),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
      |model AS (
      |  SELECT p.l AS cl, p.tok,
      |    CAST(CAST(ln(CAST(p.c + 1 AS DOUBLE) /
      |      CAST(ct.nl + v.v AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS logp
      |  FROM p JOIN ct ON p.l = ct.l CROSS JOIN v),
      |classes AS (
      |  SELECT dcs.lang AS cl,
      |    CAST(CAST(CAST(ln(CAST(dcs.dc AS DOUBLE) /
      |      CAST(nd.d AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS prior6,
      |    CAST(CAST(CAST(ln(1.0 /
      |      CAST(COALESCE(ct.nl, 0) + v.v AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) AS dflt6
      |  FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS dc
      |        FROM documents GROUP BY 1) dcs
      |  LEFT JOIN ct ON dcs.lang = ct.l CROSS JOIN v CROSS JOIN nd),
      |dtf AS (SELECT id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |        FROM tk GROUP BY 1, 2),
      |terms AS (
      |  SELECT dtf.id, c2.cl,
      |    SUM(dtf.tf * CAST(COALESCE(m.logp, CAST(c2.dflt6 AS DOUBLE))
      |      AS DECIMAL(28,6))) AS tsum
      |  FROM dtf CROSS JOIN classes c2
      |  LEFT JOIN model m ON m.cl = c2.cl AND m.tok = dtf.tok
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT doc.doc_id AS id, doc.lang AS y, c.cl,
      |    c.prior6 + COALESCE(terms.tsum, CAST(0 AS DECIMAL(28,6)))
      |      AS score
      |  FROM documents doc CROSS JOIN classes c
      |  LEFT JOIN terms ON terms.id = doc.doc_id AND terms.cl = c.cl),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
      |         ORDER BY score DESC, cl ASC) AS r FROM base)
      |SELECT id AS doc_id, cl AS pred,
      |  CAST(CAST(CAST(score AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS score,
      |  CASE WHEN cl = y THEN 1 ELSE 0 END AS is_correct
      |FROM rk WHERE r = 1""".stripMargin

  // q339: per-doc readability battery (Flesch ease / FK grade / fog)
  // over the portable vowel-group syllable rule — the grade-level axis
  // of the quality mix. Oracle replays the same regex counting rules.
  def q339Readability(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.readability(
      t(s, dir, "documents"), "doc_id", "text")

  val q339Sql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS words,
      |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS ns
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS BIGINT) AS nw,
      |    CAST(ns AS BIGINT) AS ns,
      |    CAST(COALESCE(list_sum(list_transform(words, x ->
      |      GREATEST(1, len(regexp_extract_all(lower(x), '[aeiouy]+')))
      |      )), 0) AS BIGINT) AS nsyl,
      |    CAST(len(list_filter(words, x ->
      |      GREATEST(1, len(regexp_extract_all(lower(x), '[aeiouy]+')))
      |        >= 3)) AS BIGINT) AS ncx
      |  FROM w)
      |SELECT doc_id, nw AS n_words, ns AS n_sentences,
      |  nsyl AS n_syllables, ncx AS n_complex,
      |  CASE WHEN nw > 0 THEN CAST(CAST(206.835
      |    - 1.015 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      |    - 84.6 * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS flesch_ease,
      |  CASE WHEN nw > 0 THEN CAST(CAST(
      |    0.39 * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      |    + 11.8 * (CAST(nsyl AS DOUBLE) / CAST(nw AS DOUBLE)) - 15.59
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS fk_grade,
      |  CASE WHEN nw > 0 THEN CAST(CAST(
      |    0.4 * ((CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
      |    + 100.0 * (CAST(ncx AS DOUBLE) / CAST(nw AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS fog_index
      |FROM c""".stripMargin

  // q341: Burrows' Delta over the 20 source slices, top-20 words —
  // which sources write alike. The oracle replays the d6 grid /
  // z-score / pair-mean chain verbatim.
  def q341Burrows(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.burrowsDelta(
      t(s, dir, "documents"), "doc_id", "text", "source", topM = 20)

  val q341Sql: String =
    """WITH tk AS (
      |  SELECT source AS a,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS w
      |  FROM documents),
      |c AS (SELECT a, w, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM tk GROUP BY 1, 2),
      |at AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na FROM c GROUP BY 1),
      |nauth AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM at),
      |tw AS (SELECT w FROM (
      |  SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM c GROUP BY 1)
      |  ORDER BY ct DESC, w ASC LIMIT 20),
      |grid AS (
      |  SELECT at.a, tw.w,
      |    CAST(CAST(CAST(COALESCE(c.c, 0) AS DOUBLE) /
      |      CAST(at.na AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS f
      |  FROM at CROSS JOIN tw
      |  LEFT JOIN c ON c.a = at.a AND c.w = tw.w),
      |mu AS (
      |  SELECT w, CAST(CAST(CAST(SUM(CAST(f AS DECIMAL(28,6)))
      |    AS DOUBLE) / CAST(nauth.nn AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS mu
      |  FROM grid CROSS JOIN nauth GROUP BY w, nauth.nn),
      |dev AS (
      |  SELECT g2.a, g2.w, g2.f, mu.mu,
      |    CAST((g2.f - mu.mu) * (g2.f - mu.mu) AS DECIMAL(28,6))
      |      AS dev6
      |  FROM grid g2 JOIN mu ON g2.w = mu.w),
      |sig AS (
      |  SELECT w, CAST(CAST(sqrt(CAST(CAST(CAST(SUM(dev6) AS DOUBLE) /
      |    CAST(nauth.nn AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS sigma
      |  FROM dev CROSS JOIN nauth GROUP BY w, nauth.nn),
      |sigf AS (SELECT * FROM sig WHERE sigma > 0),
      |z AS (
      |  SELECT dev.a, dev.w,
      |    CAST(CAST(CAST((dev.f - dev.mu) / sigf.sigma
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) AS z
      |  FROM dev JOIN sigf ON dev.w = sigf.w)
      |SELECT za.a AS author_a, zb.a AS author_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_words,
      |  CAST(CAST(CAST(SUM(CAST(abs(za.z - zb.z) AS DECIMAL(28,6)))
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS delta
      |FROM z za JOIN z zb ON za.w = zb.w AND za.a < zb.a
      |GROUP BY 1, 2""".stripMargin

  // q379: LZ78 phrase complexity (TextStats.lz78Complexity) — the
  // dictionary-compression quality axis next to q101's codec signal
  // and q107's byte entropy; integer phrase counts, one d6 ratio.
  def q379Lz78(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.lz78Complexity(t(s, dir, "documents"),
      "doc_id", "text")

  val q379Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, text AS t FROM documents WHERE length(text) > 0),
      |it AS (
      |  SELECT doc_id, t, CAST(1 AS BIGINT) AS pos,
      |    CAST([] AS VARCHAR[]) AS ph, '' AS cur
      |  FROM d
      |  UNION ALL
      |  SELECT doc_id, t, pos + 1,
      |    CASE WHEN list_contains(ph, cur || substr(t, pos, 1))
      |      THEN ph ELSE list_append(ph, cur || substr(t, pos, 1)) END,
      |    CASE WHEN list_contains(ph, cur || substr(t, pos, 1))
      |      THEN cur || substr(t, pos, 1) ELSE '' END
      |  FROM it WHERE pos <= length(t))
      |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      |  CAST(len(ph) + CASE WHEN cur = '' THEN 0 ELSE 1 END AS BIGINT)
      |    AS n_phrases,
      |  CAST(CAST(CAST(len(ph) +
      |    CASE WHEN cur = '' THEN 0 ELSE 1 END AS DOUBLE) /
      |    CAST(length(t) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS lz_ratio
      |FROM it WHERE pos = length(t) + 1""".stripMargin

  // q384: deterministic label-propagation communities
  // (Graph.labelPropagation) on the q313 co-purchase graph — the
  // community PRODUCER q325's modularity scores: 4 synchronous
  // rounds, smallest-label ties, keep-current damping; the oracle
  // replays each round inside one recursive-CTE arm (the self-marker
  // edge trick keeps it to a single recursive reference).
  def q384Lpa(s: SparkSession, dir: String): DataFrame =
    Graph.labelPropagation(coPurchaseEdges(s, dir), "u", "v", iters = 4)

  val q384Sql: String =
    """WITH RECURSIVE p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |und AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
      |undx AS (SELECT a, b, CAST(0 AS BIGINT) AS s FROM und
      |  UNION ALL
      |  SELECT DISTINCT a, a, CAST(1 AS BIGINT) FROM und),
      |lp(i, n, l) AS (
      |  SELECT 0, a, a FROM (SELECT DISTINCT a FROM und)
      |  UNION ALL
      |  SELECT i, n, l FROM (
      |    SELECT lp.i + 1 AS i, undx.a AS n, lp.l AS l,
      |      ROW_NUMBER() OVER (PARTITION BY undx.a
      |        ORDER BY SUM(1 - undx.s) DESC, MAX(undx.s) DESC,
      |          lp.l ASC) AS rn
      |    FROM lp JOIN undx ON undx.b = lp.n
      |    WHERE lp.i < 4
      |    GROUP BY undx.a, lp.l, lp.i
      |  ) WHERE rn = 1),
      |fin AS (SELECT n, l FROM lp WHERE i = 4),
      |sz AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS cs
      |       FROM fin GROUP BY 1)
      |SELECT fin.n AS node, fin.l AS community,
      |  sz.cs AS community_size
      |FROM fin JOIN sz ON sz.l = fin.l""".stripMargin

  // q388: skip-gram PPMI pairs (TextStats.skipgramPpmi) — the
  // word2vec training-pair table with its count-based factorization
  // scores; window ±2, directed counts, top-50 total-ordered cut.
  def q388SkipgramPpmi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.skipgramPpmi(t(s, dir, "documents"),
      "doc_id", "text", window = 2, minCount = 5L, topK = 50)

  val q388Sql: String =
    """WITH t0 AS (
      |  SELECT doc_id AS d,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS ts
      |  FROM documents),
      |tk AS (SELECT d, unnest(ts) AS t,
      |         unnest(range(1, len(ts) + 1)) AS p
      |       FROM t0),
      |ld AS (SELECT d, t,
      |    lead(t, 1) OVER w AS l1, lead(t, 2) OVER w AS l2
      |  FROM tk WINDOW w AS (PARTITION BY d ORDER BY p)),
      |fw AS (SELECT t AS x, l1 AS y FROM ld WHERE l1 IS NOT NULL
      |  UNION ALL
      |  SELECT t, l2 FROM ld WHERE l2 IS NOT NULL),
      |dr AS (SELECT x, y FROM fw UNION ALL SELECT y, x FROM fw),
      |cnt AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_pair
      |        FROM dr GROUP BY 1, 2),
      |rx AS (SELECT x, CAST(SUM(n_pair) AS BIGINT) AS r
      |       FROM cnt GROUP BY 1),
      |sy AS (SELECT y, CAST(SUM(n_pair) AS BIGINT) AS s
      |       FROM cnt GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t FROM cnt)
      |SELECT cnt.x AS center, cnt.y AS context, n_pair,
      |  GREATEST(0.0, CAST(CAST(ln(CAST(n_pair AS DOUBLE) *
      |    CAST(tt.t AS DOUBLE) /
      |    (CAST(rx.r AS DOUBLE) * CAST(sy.s AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE)) AS ppmi
      |FROM cnt JOIN rx ON rx.x = cnt.x JOIN sy ON sy.y = cnt.y
      |CROSS JOIN tt
      |WHERE n_pair >= 5
      |ORDER BY ppmi DESC, center ASC, context ASC
      |LIMIT 50""".stripMargin

  // q461: bipartite projection of (user, event_type) memberships onto
  // the event-type graph (Graph.bipartiteProject) — co-member counts
  // with overlap/cosine/Jaccard normalizations; user degree bounded
  // loudly at 10 (≤ 5 event types by fixture). The oracle replays the
  // distinct-membership self-join and the three rationals.
  def q461Bipartite(s: SparkSession, dir: String): DataFrame =
    Graph.bipartiteProject(
      Tables.eventsUs(s, dir).select(col("user_id"), col("event_type")),
      "user_id", "event_type", maxLeftDegree = 10)

  val q461Sql: String =
    """WITH m AS (
      |  SELECT DISTINCT CAST(user_id AS VARCHAR) AS l, event_type AS r
      |  FROM events),
      |rd AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS d FROM m GROUP BY 1),
      |p AS (
      |  SELECT a.r AS item_a, b.r AS item_b, CAST(COUNT(*) AS BIGINT)
      |    AS co
      |  FROM m a JOIN m b ON a.l = b.l AND a.r < b.r
      |  GROUP BY 1, 2)
      |SELECT item_a, item_b, co AS co_count,
      |  da.d AS deg_a, db.d AS deg_b,
      |  CAST(CAST(CAST(co AS DOUBLE) / CAST(LEAST(da.d, db.d) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS overlap,
      |  CAST(CAST(CAST(co AS DOUBLE) /
      |    sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS cosine,
      |  CAST(CAST(CAST(co AS DOUBLE) /
      |    CAST(da.d + db.d - co AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS jaccard
      |FROM p
      |JOIN rd da ON da.r = item_a
      |JOIN rd db ON db.r = item_b""".stripMargin

  // q462: reciprocity + dyad census (Graph.reciprocity) of the
  // temporal purchase hand-off graph — a→b when a purchases in a 6h
  // bucket and b in the next one (≥ 2 hand-offs), built by the GUARDED
  // Graph.handoffEdges generator off the shared purchaseBuckets frame
  // (adjacent-bucket occupancy is the same m·m′ hazard as the
  // co-purchase self-join — VERDICT r15 #1). The oracle replays the
  // directed edge build and the flipped-key semi-join.
  def q462Reciprocity(s: SparkSession, dir: String): DataFrame =
    Graph.reciprocity(
      Graph.handoffEdges(purchaseBuckets(s, dir), "user_id", "b",
        minCount = 2),
      "src", "dst")

  val q462Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |ed AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS s,
      |    CAST(b.user_id AS VARCHAR) AS d
      |  FROM p a JOIN p b
      |    ON a.b + 1 = b.b AND a.user_id <> b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |mu AS (
      |  SELECT e.s, e.d FROM ed e
      |  WHERE EXISTS (SELECT 1 FROM ed r
      |                WHERE r.s = e.d AND r.d = e.s)),
      |ag AS (
      |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mu) AS n_mutual_edges)
      |SELECT n_edges, n_mutual_edges,
      |  CAST(n_mutual_edges / 2 AS BIGINT) AS n_mutual_dyads,
      |  n_edges - n_mutual_edges AS n_asym_dyads,
      |  CASE WHEN n_edges > 0 THEN
      |    CAST(CAST(CAST(n_mutual_edges AS DOUBLE) /
      |      CAST(n_edges AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS reciprocity
      |FROM ag""".stripMargin

  // q463: rich-club ladder (Graph.richClub) of the co-purchase graph
  // — φ(k) over the k ∈ {1,2,4,8,16} thresholds in one pass. The
  // oracle replays degrees, the degree-joined pair frame and the
  // conditional counts per rung.
  def q463RichClub(s: SparkSession, dir: String): DataFrame =
    Graph.richClub(coPurchaseEdges(s, dir), "u", "v",
      ks = Seq(1, 2, 4, 8, 16))

  val q463Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |deg AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
      |    SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      |  GROUP BY 1),
      |pr AS (
      |  SELECT da.d AS da, db.d AS db
      |  FROM e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v),
      |ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS INT) AS k),
      |nn AS (
      |  SELECT k.k, CAST(COUNT(CASE WHEN deg.d > k.k THEN 1 END)
      |    AS BIGINT) AS n
      |  FROM ks k CROSS JOIN deg GROUP BY 1),
      |ee AS (
      |  SELECT k.k, CAST(COUNT(CASE WHEN LEAST(pr.da, pr.db) > k.k
      |    THEN 1 END) AS BIGINT) AS e
      |  FROM ks k CROSS JOIN pr GROUP BY 1)
      |SELECT nn.k, nn.n AS n_rich_nodes, ee.e AS n_rich_edges,
      |  CASE WHEN nn.n >= 2 THEN
      |    CAST(CAST(2.0 * CAST(ee.e AS DOUBLE) /
      |      CAST(nn.n * (nn.n - 1) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS phi
      |FROM nn JOIN ee ON nn.k = ee.k""".stripMargin

  // q476: 3-truss of the strong (≥ 5 shared buckets) co-purchase
  // graph (Graph.kTruss) — peel edges in < 1 triangle to a fixed
  // point, q313's edge-grade refinement. The tighter threshold keeps
  // the ORACLE's packed-edge-list recursive peel (per-edge triangle
  // counts are nested list lambdas over the edge list — O(E²·N) per
  // round in the replay) at fixture cost; the Spark side is the
  // same triangle equi-join at any threshold.
  def q476KTruss(s: SparkSession, dir: String): DataFrame =
    Graph.kTruss(coPurchaseEdges(s, dir, minShared = 5), "u", "v", k = 3)

  val q476Sql: String =
    """WITH RECURSIVE p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b
      |  FROM events WHERE event_type = 'purchase'),
      |e AS (
      |  SELECT CAST(a.user_id AS VARCHAR) AS u,
      |    CAST(b.user_id AS VARCHAR) AS v
      |  FROM p a JOIN p b ON a.b = b.b AND a.user_id < b.user_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |ord AS (
      |  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM e
      |  GROUP BY 1, 2),
      |e0 AS (SELECT list_sort(list({'a': a, 'b': b})) AS es FROM ord),
      |peel(it, es) AS (
      |  SELECT 0, es FROM e0
      |  UNION ALL
      |  SELECT it + 1,
      |    list_sort(list_filter(peel.es, x ->
      |      len(list_filter(
      |        list_distinct(flatten(list_transform(peel.es,
      |          q -> [q.a, q.b]))), w ->
      |        w <> x.a AND w <> x.b AND
      |        list_contains(peel.es,
      |          {'a': LEAST(x.a, w), 'b': GREATEST(x.a, w)}) AND
      |        list_contains(peel.es,
      |          {'a': LEAST(x.b, w), 'b': GREATEST(x.b, w)}))) >= 1))
      |  FROM peel
      |  WHERE it < 50 AND
      |    list_sort(list_filter(peel.es, x ->
      |      len(list_filter(
      |        list_distinct(flatten(list_transform(peel.es,
      |          q -> [q.a, q.b]))), w ->
      |        w <> x.a AND w <> x.b AND
      |        list_contains(peel.es,
      |          {'a': LEAST(x.a, w), 'b': GREATEST(x.a, w)}) AND
      |        list_contains(peel.es,
      |          {'a': LEAST(x.b, w), 'b': GREATEST(x.b, w)}))) >= 1))
      |      <> peel.es),
      |fin AS (SELECT es FROM peel ORDER BY it DESC LIMIT 1),
      |sur AS (SELECT unnest(es) AS edge, es FROM fin)
      |SELECT sur.edge.a AS a, sur.edge.b AS b,
      |  CAST(len(list_filter(
      |    list_distinct(flatten(list_transform(sur.es,
      |      q -> [q.a, q.b]))), w ->
      |    w <> sur.edge.a AND w <> sur.edge.b AND
      |    list_contains(sur.es,
      |      {'a': LEAST(sur.edge.a, w),
      |       'b': GREATEST(sur.edge.a, w)}) AND
      |    list_contains(sur.es,
      |      {'a': LEAST(sur.edge.b, w),
      |       'b': GREATEST(sur.edge.b, w)}))) AS BIGINT) AS support
      |FROM sur""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q476_ktruss", q476KTruss, Some(q476Sql)),
    Entry("q461_bipartite", q461Bipartite, Some(q461Sql)),
    Entry("q462_reciprocity", q462Reciprocity, Some(q462Sql)),
    Entry("q463_rich_club", q463RichClub, Some(q463Sql)),
    Entry("q401_katz", q401Katz, Some(q401Sql)),
    Entry("q426_harmonic", q426Harmonic, Some(q426Sql)),
    Entry("q406_neg_sampling", q406NegSampling, Some(q406Sql)),
    Entry("q415_hellinger", q415Hellinger, Some(q415Sql)),
    Entry("q407_bray_curtis", q407BrayCurtis, Some(q407Sql)),
    Entry("q402_ordered_pairs", q402OrderedPairs, Some(q402Sql)),
    Entry("q388_skipgram_ppmi", q388SkipgramPpmi, Some(q388Sql)),
    Entry("q384_lpa", q384Lpa, Some(q384Sql)),
    Entry("q379_lz78", q379Lz78, Some(q379Sql)),
    Entry("q341_burrows_delta", q341Burrows, Some(q341Sql)),
    Entry("q339_readability", q339Readability, Some(q339Sql)),
    Entry("q336_nb_model", q336NbModel, Some(q336Sql)),
    Entry("q337_nb_score", q337NbScore, Some(q337Sql)),
    Entry("q313_kcore", q313KCore, Some(q313Sql)),
    Entry("q314_adamic_adar", q314AdamicAdar, Some(q314Sql)),
    Entry("q315_textrank", q315TextRank, Some(q315Sql)),
    Entry("q316_rake", q316Rake, Some(q316Sql)),
    Entry("q323_wer", q323Wer, Some(q323Sql)),
    Entry("q324_calibration_error", q324CalibrationError, Some(q324Sql)),
    Entry("q325_modularity", q325Modularity, Some(q325Sql)),
    Entry("q326_assortativity", q326Assortativity, Some(q326Sql)),
    Entry("q327_good_turing", q327GoodTuring, Some(q327Sql)),
    Entry("q252_suffix_ranks", q252SuffixRanks, Some(q252Sql)),
    Entry("q257_span_corrupt", q257SpanCorrupt, Some(q257Sql)),
    Entry("q258_rouge_eval", q258RougeEval, Some(q258Sql)),
    Entry("q260_bigram_generate", q260BigramGenerate, Some(q260Sql)),
    Entry("q261_bleu_eval", q261BleuEval, Some(q261Sql)),
    Entry("q266_zipf_fit", q266ZipfFit, Some(q266Sql)),
    Entry("q267_kn_gate", q267KnGate, Some(q267Sql)),
    Entry("q269_chrf", q269Chrf, Some(q269Sql)),
    Entry("q270_heaps_fit", q270HeapsFit, Some(q270Sql)),
    Entry("q271_js_drift", q271JsDrift, Some(q271Sql)),
    Entry("q273_unimax", q273Unimax, Some(q273Sql)),
    Entry("q274_moore_lewis", q274MooreLewis, Some(q274Sql)),
    Entry("q280_distinct_n", q280DistinctN, Some(q280Sql)),
    Entry("q281_mmd_two_sample", q281MmdTwoSample, Some(q281Sql)),
    Entry("q283_vocab_overlap", q283VocabOverlap, Some(q283Sql)),
    Entry("q285_cluster_js", q285ClusterJs, Some(q285Sql)),
    Entry("q286_collocations", q286Collocations, Some(q286Sql)),
    Entry("q287_template_score", q287TemplateScore, Some(q287Sql)),
    Entry("q288_rbo", q288Rbo, Some(q288Sql)),
    Entry("q292_token_f1", q292TokenF1, Some(q292Sql)),
    Entry("q296_lexical_richness", q296LexicalRichness, Some(q296Sql)),
    Entry("q297_fightin_words", q297FightinWords, Some(q297Sql)),
    Entry("q253_repeated_suffixes", q253RepeatedSuffixes, Some(q253Sql)),
    Entry("q254_longest_repeats", q254LongestRepeats, Some(q254Sql)),
    Entry("q259_sa_dedup_cut", q259SaDedupCut, Some(q259Sql)),
    Entry("q123_bm25", q123Bm25, Some(q123Sql)),
    Entry("q124_nfc_normalize", q124NfcNormalize, Some(q124Sql)),
    Entry("q125_chunk_dedup", q125ChunkDedup, Some(q125Sql)),
    Entry("q126_mix_sample", q126MixSample, Some(q126Sql)),
    Entry("q127_vocab_oov", q127VocabOov, Some(q127Sql)),
    Entry("q128_pagerank", q128PageRank, Some(q128Sql)),
    Entry("q129_semantic_dedup", q129SemanticDedup, Some(q129Sql)),
    Entry("q130_bigram_logprob", q130BigramLogprob, Some(q130Sql)),
    Entry("q137_canonical_dedup", q137CanonicalDedup, Some(q137Sql)),
    Entry("q138_cooccur_triangles", q138Triangles, Some(q138Sql)),
    Entry("q139_hits", q139Hits, Some(q139Sql)),
    Entry("q140_script_mix", q140ScriptMix, Some(q140Sql)),
    Entry("q141_strip_markup", q141StripMarkup, Some(q141Sql)),
    Entry("q142_pmi_collocations", q142PmiCollocations, Some(q142Sql)),
    Entry("q144_embed_znorm", q144EmbedZnorm, Some(q144Sql)),
    Entry("q145_domain_stats", q145DomainStats, Some(q145Sql)),
    Entry("q146_c4_filter", q146C4Filter, Some(q146Sql)),
    Entry("q148_novel_against", q148NovelAgainst, Some(q148Sql)),
    Entry("q149_hashed_bow", q149HashedBow, Some(q149Sql)),
    Entry("q152_script_mix_fast", q152ScriptMixFast, Some(q140Sql)), // shared oracle: same contract
    Entry("q153_cross_near_dup", q153CrossNearDup, Some(q153Sql)),
    Entry("q158_accent_fold", q158AccentFold, Some(q158Sql)),
    Entry("q160_accent_dedup", q160AccentDedup, Some(q160Sql)),
    Entry("q162_count_min", q162CountMin, None),
    // shared oracle: recall-1.0 ANN ≡ exact
    Entry("q163_semantic_dedup_ann", q163SemanticDedupAnn, Some(q129Sql)),
    // shared oracle: auto config, same regime
    Entry("q243_semantic_dedup_ann_auto", q243SemanticDedupAnnAuto, Some(q129Sql)),
    Entry("q244_mojibake_repair", q244MojibakeRepair, Some(q244Sql)),
    Entry("q245_unigram_train", q245UnigramTrain, Some(q245Sql)),
    Entry("q246_unigram_apply", q246UnigramApply, Some(q246Sql)),
    Entry("q247_retrieval_eval", q247RetrievalEval, Some(q247Sql)),
    Entry("q166_ingest_chain", q166IngestChain, Some(q166Sql)),
    Entry("q167_quantize_embed", q167QuantizeEmbed, Some(q167Sql)),
    Entry("q168_quantized_knn", q168QuantizedKnn, Some(q168Sql)),
    Entry("q169_url_canonicalize", q169UrlCanonicalize, Some(q169Sql)),
    Entry("q170_corpus_report", q170CorpusReport, Some(q170Sql)),
    Entry("q171_perplexity_tiers", q171PerplexityTiers, Some(q171Sql)),
    Entry("q172_filter_funnel", q172FilterFunnel, Some(q172Sql)),
    Entry("q173_group_split", q173GroupSplit, Some(q173Sql)),
    // shared oracle: recall-1.0 ANN candidates ≡ full-corpus MIPS
    Entry("q174_quantized_knn_ann", q174QuantizedKnnAnn, Some(q168Sql)),
    Entry("q175_semantic_contamination", q175SemanticContamination, Some(q175Sql)),
    Entry("q176_boilerplate_lines", q176BoilerplateLines, Some(q176Sql)),
    Entry("q177_dedup_lines_within", q177DedupLinesWithin, Some(q177Sql)),
    Entry("q178_shared_ngrams", q178SharedNgrams, Some(q178Sql)),
    Entry("q179_cross_set_semantic_pairs", q179CrossSetSemanticPairs, Some(q179Sql)),
    Entry("q180_long_run_contamination", q180LongRunContamination, Some(q180Sql)),
    Entry("q181_bpe_pairs", q181BpePairs, Some(q181Sql)),
    Entry("q184_coverage_cut", q184CoverageCut, Some(q184Sql)),
    Entry("q185_rrf_fusion", q185RrfFusion, Some(q185Sql)),
    Entry("q189_bpe_apply", q189BpeApply, Some(q189Sql)),
    Entry("q220_bpe_train", q220BpeTrain, Some(q220Sql)),
    Entry("q248_wordpiece_train", q248WordpieceTrain, Some(q248Sql)),
    Entry("q221_count_min_portable", q221CountMinPortable, Some(q221Sql)),
    Entry("q222_heavy_hitters_portable", q222HeavyHittersPortable, Some(q222Sql)),
    Entry("q225_quality_classifier_train", q225QualityClassifierTrain, Some(q225Sql)),
    Entry("q226_quality_classifier_score", q226QualityClassifierScore, Some(q226Sql)),
    Entry("q228_tag_mix", q228TagMix, Some(q228Sql)),
    Entry("q229_kneser_ney_lm", q229KneserNeyLm, Some(q229Sql)),
    Entry("q230_score_calibration", q230ScoreCalibration, Some(q230Sql)),
    Entry("q231_curation_funnel", q231CurationFunnel, Some(q231Sql)),
    Entry("q190_principal_component", q190PrincipalComponent, Some(q190Sql)),
    Entry("q191_abtt_whiten", q191AbttWhiten, Some(q191Sql)),
    Entry("q192_dsir_select", q192DsirSelect, Some(q192Sql)),
    Entry("q197_hard_negatives", q197HardNegatives, Some(q197Sql)),
    Entry("q198_temperature_mix", q198TemperatureMix, Some(q198Sql)),
    Entry("q199_interleave", q199Interleave, Some(q199Sql)),
    Entry("q200_content_extract", q200ContentExtract, Some(q200Sql)),
    Entry("q201_domain_policy", q201DomainPolicy, Some(q201Sql)),
    Entry("q202_pipeline_e2e", q202PipelineE2e, Some(q202Sql)),
    Entry("q203_held_out_lm", q203HeldOutLm, Some(q203Sql)),
    Entry("q204_sentences", q204Sentences, Some(q204Sql)),
    Entry("q205_image_dedup", q205ImageDedup, Some(q205Sql)),
    // shared oracle: recall-1.0 LSH candidates ≡ the exact miner
    Entry("q208_hard_negatives_ann", q208HardNegativesAnn, Some(q197Sql)),
    Entry("q209_split_leakage", q209SplitLeakage, Some(q209Sql)),
    Entry("q210_fixed_stratified", q210FixedStratified, Some(q210Sql)))
}

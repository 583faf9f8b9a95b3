package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.pipeline.{Multimodal, Sessionize, Similarity, TextClean, TextDedup, TextStats}

/** LLM-data-pipeline corpus over the `documents` / `embeddings` / `events`
  * fixtures: dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash),
  * similarity search (brute-force + random-hyperplane LSH), text analysis
  * (token stats, quality, language id, fingerprints), multimodal plumbing
  * and sessionization.
  *
  * Exact/brute-force variants carry a DuckDB oracle (bit-deterministic by
  * construction: integer counts, quantized embeddings, single final
  * double division — see the operator docs). The LSH variants are
  * approximate and engine-specific, so they ship without oracle SQL
  * (rows-only driver check) and their recall against the exact answer is
  * asserted in the ScalaTest suite.
  */
object Pipeline extends QueryFile {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  // q15: exact dedup — hash-aggregate on md5(content)
  def q15DedupExact(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")

  val q15Sql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  // q16: exact 3-gram Jaccard near-dup pairs via inverted-index join.
  // maxShingleDocs = ∞ HERE ONLY: this entry is the exact oracle, so no
  // document-frequency pruning; the operator's own default is bounded
  // (500) for 100 TB safety.
  def q16NgramJaccard(s: SparkSession, dir: String): DataFrame =
    TextDedup.jaccardPairs(
      TextDedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3),
      "doc_id", threshold = 0.12, maxShingleDocs = Int.MaxValue)

  /** The exact 3-gram Jaccard oracle, parameterized on the threshold —
    * shared by q16 (inverted-index path, 0.12) and q112 (prefix-filter
    * path, 0.5: the regime where prefix pruning actually bites).
    */
  private def jaccardOracle(threshold: Double): String =
    s"""WITH tk AS (
       |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
       |         unnest(string_split(text,' ')) AS tok
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
       |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1,2)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $threshold""".stripMargin

  val q16Sql: String = jaccardOracle(0.12)

  // q275: asymmetric shingle CONTAINMENT pairs — the partial-copy
  // detector symmetric Jaccard misses: every 25th doc gets a shadow
  // twin that IS its tail from char 81 (containment 1.0 in the base,
  // Jaccard far below any useful bar). Exact mode (no df cap — the
  // oracle mode, like q16); the operator's default cap re-verifies
  // candidates against full sets.
  def q275Containment(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val shadow = base
      .filter(col("doc_id") % 25 === 0 && length(col("text")) > 100)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        col("text").substr(lit(81), length(col("text"))).as("text"))
    TextDedup.containmentPairs(
      TextDedup.shingles(base.unionByName(shadow), "doc_id", "text", n = 3),
      "doc_id", threshold = 0.9, maxShingleDocs = Int.MaxValue)
  }

  val q275Sql: String =
    """WITH d0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, substring(text, 81) FROM documents
      |  WHERE doc_id % 25 = 0 AND length(text) > 100),
      |tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM d0),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |      AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_common
      |  FROM sh2 a JOIN sh2 b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_common,
      |  CAST(CAST(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS c_a_in_b,
      |  CAST(CAST(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS c_b_in_a
      |FROM inter JOIN sz sa ON doc_a = sa.doc_id
      |JOIN sz sb ON doc_b = sb.doc_id
      |WHERE GREATEST(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE),
      |  CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.9"""
      .stripMargin

  // q282: Luhn-verified payment-card audit — every 20th doc gets a
  // planted VALID test card (4242…), every 30th-plus-1 an INVALID
  // 16-digit run; the detector must count both as candidates but
  // verify only the first. The oracle replays the shared RE2-safe
  // regex, the separator strip, the 13-19 length gate and the integer
  // mod-10 checksum.
  def q282CardAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 20 === 0,
        concat(col("text"), lit(" pay 4242 4242 4242 4242 now")))
        .when(col("doc_id") % 30 === 1,
          concat(col("text"), lit(" ref 1234-5678-9012-3456 x")))
        .otherwise(col("text")).as("text"))
    TextClean.creditCardAudit(docs, "doc_id", "text")
  }

  val q282Sql: String =
    """WITH d0 AS (
      |  SELECT doc_id, CASE
      |    WHEN doc_id % 20 = 0 THEN text || ' pay 4242 4242 4242 4242 now'
      |    WHEN doc_id % 30 = 1 THEN text || ' ref 1234-5678-9012-3456 x'
      |    ELSE text END AS text
      |  FROM documents),
      |cand AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, '[0-9][0-9 -]{11,21}[0-9]')) AS c
      |  FROM d0),
      |shaped AS (
      |  SELECT doc_id, regexp_replace(c, '[^0-9]', '', 'g') AS d FROM cand
      |  WHERE length(regexp_replace(c, '[^0-9]', '', 'g'))
      |    BETWEEN 13 AND 19),
      |luhn AS (
      |  SELECT doc_id,
      |    CASE WHEN list_sum(list_transform(
      |        generate_series(1, length(d)), i ->
      |        CASE WHEN (length(d) - i) % 2 = 1 THEN
      |          CASE WHEN 2 * CAST(substr(d, i, 1) AS INT) > 9
      |            THEN 2 * CAST(substr(d, i, 1) AS INT) - 9
      |            ELSE 2 * CAST(substr(d, i, 1) AS INT) END
      |        ELSE CAST(substr(d, i, 1) AS INT) END)) % 10 = 0
      |      THEN 1 ELSE 0 END AS ok
      |  FROM shaped),
      |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nc,
      |          CAST(SUM(ok) AS BIGINT) AS nv FROM luhn GROUP BY 1)
      |SELECT d0.doc_id,
      |  COALESCE(cnt.nc, 0) AS n_candidates,
      |  COALESCE(cnt.nv, 0) AS n_luhn_valid,
      |  CAST(CASE WHEN COALESCE(cnt.nv, 0) > 0 THEN 1 ELSE 0 END AS INT)
      |    AS has_card
      |FROM d0 LEFT JOIN cnt USING (doc_id)""".stripMargin

  // q284: per-language percentile gate at keepFrac = 0.3 on n_chars —
  // the within-stratum quality cut. The oracle replays the
  // (score desc, id asc) rank, the windowed group count and the
  // floor(0.3 n) bar with its min-1 floor.
  def q284PercentileGate(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.percentileGate(
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      "lang", "doc_id", "n_chars", keepFrac = 0.3)

  val q284Sql: String =
    """SELECT doc_id, lang, n_chars,
      |  CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_group,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS grp_rank,
      |  CAST(CASE WHEN ROW_NUMBER() OVER w <= GREATEST(1,
      |      CAST(FLOOR(CAST(COUNT(*) OVER (PARTITION BY lang) AS DOUBLE)
      |        * 0.3) AS BIGINT))
      |    THEN 1 ELSE 0 END AS INT) AS kept
      |FROM documents
      |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC)"""
      .stripMargin

  // q112: the SAME exact contract as q16's algorithm, computed via
  // PPJoin-style prefix filtering — lossless df-suppressed candidate
  // generation, so the oracle is the identical SQL (at threshold 0.5):
  // two different pruning algorithms must produce the same bit-exact
  // pair set. Run at t=0.5, the regime prefix filtering exists for
  // (prefix ≈ n/2; at q16's t=0.12 the prefix is ~0.9·n and the filter
  // degenerates to the full index plus overhead — a property, not a
  // bug: pick the pruner by threshold).
  def q112JaccardPrefix(s: SparkSession, dir: String): DataFrame =
    TextDedup.jaccardPairsPrefix(
      TextDedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3),
      "doc_id", threshold = 0.5)

  // q117: incremental exact dedup — a batch vs the accumulated corpus.
  // The fixture has no cross-half duplicates, so the incoming batch
  // PLANTS them in-plan (the q57 pattern): 30 re-crawled corpus docs
  // under new ids (dropped by the anti-join) and one in-batch dup of
  // doc 250 (collapses to n_copies=2) — the oracle checks both kill
  // paths with non-trivial effect, not an empty diff.
  def q117IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") === 250)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    TextDedup.incrementalExactDedup(corpus, incoming, "doc_id", "text")
  }

  val q117Sql: String =
    """WITH inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
      |  UNION ALL
      |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 30
      |  UNION ALL
      |  SELECT doc_id + 20000, text FROM documents WHERE doc_id = 250),
      |g AS (
      |  SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |    count(*) AS n_copies
      |  FROM inc GROUP BY 1)
      |SELECT content_hash, keep_id, n_copies FROM g
      |WHERE content_hash NOT IN (
      |  SELECT md5(text) FROM documents WHERE doc_id < 250)""".stripMargin

  // q17: brute-force cosine top-10 for query vectors (quantized → exact ints)
  def q17Knn(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceKnn(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10)

  val q17Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS qv
      |  FROM embeddings),
      |q AS (SELECT vec_id AS qid, pos, qv FROM e WHERE vec_id < 5),
      |dots AS (SELECT q.qid, e.vec_id AS nid, SUM(q.qv * e.qv) AS dot
      |         FROM q JOIN e ON q.pos = e.pos GROUP BY 1,2),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |scored AS (
      |  SELECT qid, nid,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cosine
      |  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nn ON nid = nn.vec_id
      |  WHERE qid <> nid)
      |SELECT qid, nid, rank, cosine FROM (
      |  SELECT qid, nid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
      |  FROM scored) WHERE rank <= 10""".stripMargin

  // q18: per-document token statistics
  def q18TextStats(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenStats(t(s, dir, "documents"), "doc_id", "text", "lang", "n_chars")

  val q18Sql: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
      |SELECT d.doc_id, d.lang, d.n_chars,
      |  COUNT(*) AS n_tokens,
      |  COUNT(DISTINCT t.tok) AS n_distinct,
      |  CAST(SUM(length(t.tok)) AS DOUBLE) / COUNT(*) AS avg_tok_len,
      |  CAST(COUNT(DISTINCT t.tok) AS DOUBLE) / COUNT(*) AS ttr
      |FROM documents d JOIN tk t ON d.doc_id = t.doc_id
      |GROUP BY 1,2,3""".stripMargin

  // q19: corpus quality profile per (lang, source)
  def q19Quality(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityProfile(
      t(s, dir, "documents"), "doc_id", "text", "n_chars",
      groupCols = Seq("lang", "source"))

  val q19Sql: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |per_doc AS (
      |  SELECT d.doc_id, d.lang, d.source, d.n_chars,
      |    COUNT(*) AS n_tokens,
      |    SUM(CASE WHEN t.tok IN ('the','a','of','to','and','in') THEN 1 ELSE 0 END) AS n_stop
      |  FROM documents d JOIN tk t ON d.doc_id = t.doc_id
      |  GROUP BY 1,2,3,4)
      |SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
      |  CAST(SUM(CASE WHEN n_chars >= 200 AND n_chars <= 450 AND n_stop * 20 >= n_tokens
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
      |FROM per_doc GROUP BY 1,2""".stripMargin

  /** Tiny deterministic lexicon over the fixture vocabulary — stands in for
    * per-language character-n-gram profiles; the operator plan is what is
    * under test.
    */
  private val lexiconRows: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "row" -> "en", "table" -> "en",
    "data" -> "es", "value" -> "es", "line" -> "es",
    "key" -> "fr", "hash" -> "fr", "merge" -> "fr",
    "spark" -> "de", "query" -> "de", "join" -> "de",
    "window" -> "zh", "batch" -> "zh", "stream" -> "zh")

  // q20: lexicon-based language id (argmax over per-language token hits)
  def q20LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lex = lexiconRows.toDF("tok", "lex_lang")
    val docs = t(s, dir, "documents")
    TextStats.langId(docs, "doc_id", "text", lex)
      .join(docs.select(col("doc_id"), col("lang").as("labeled_lang")), Seq("doc_id"))
      .select(col("doc_id"), col("labeled_lang"), col("detected_lang"), col("score"))
  }

  val q20Sql: String =
    """WITH lex(tok, lex_lang) AS (VALUES
      |  ('the','en'),('a','en'),('row','en'),('table','en'),
      |  ('data','es'),('value','es'),('line','es'),
      |  ('key','fr'),('hash','fr'),('merge','fr'),
      |  ('spark','de'),('query','de'),('join','de'),
      |  ('window','zh'),('batch','zh'),('stream','zh')),
      |tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |scores AS (
      |  SELECT t.doc_id, l.lex_lang, COUNT(*) AS score
      |  FROM tk t JOIN lex l ON t.tok = l.tok GROUP BY 1,2),
      |best AS (
      |  SELECT doc_id, lex_lang, score,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lex_lang ASC) AS rn
      |  FROM scores)
      |SELECT d.doc_id, d.lang AS labeled_lang,
      |  COALESCE(b.lex_lang, 'und') AS detected_lang,
      |  COALESCE(b.score, 0) AS score
      |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin

  // q21: gap-based sessionization of the event stream (30-minute gap).
  // The fixture's on-disk ts flavor has changed across driver
  // regenerations; Tables.eventsUs adapts (nanos-long / timestamp /
  // timestamp_ntz → epoch-µs long), and the session boundary compare
  // happens at µs — matching the oracle's epoch_us discipline exactly.
  def q21Sessions(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.eventsUs(s, dir)
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    Sessionize.label(events, "user_id", "ts", tieBreak = Seq("event_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchases"))
  }

  // Gap check and ordering at epoch µs (not raw ts): whatever ts flavor
  // and precision the fixture ships (it has changed across driver
  // regenerations), epoch_us pins both engines to the SAME µs values the
  // Spark side computes through Tables.tsUs.
  val q21Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flag AS (
      |  SELECT user_id, event_id, event_type, value, us,
      |    CASE WHEN lag(us) OVER w IS NULL OR us > lag(us) OVER w + 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flag)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |FROM sess GROUP BY 1,2""".stripMargin

  // q25: multimodal ingest + (stubbed) decode metadata — binary plumbing
  def q25Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.fakeDecodeMeta(
      Multimodal.ingest(t(s, dir, "documents"), "text", "image"))
      .select(
        col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.sha256").as("content_sha"),
        col("fake_width"), col("fake_height"))

  val q25Sql: String =
    """SELECT doc_id,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  sha256(text) AS content_sha,
      |  16 + octet_length(CAST(text AS BLOB)) % 64 AS fake_width,
      |  16 + (octet_length(CAST(text AS BLOB)) // 64) % 64 AS fake_height
      |FROM documents""".stripMargin

  // q26: embedding-cosine near-duplicate pairs (exact, quantized)
  def q26EmbedDup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDupPairs(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)

  val q26Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT) AS qv
      |  FROM embeddings),
      |dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.qv*b.qv) AS dot
      |         FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1,2),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1)
      |SELECT vec_a, vec_b,
      |  CAST(dot AS DOUBLE)/SQRT(CAST(na.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE)) AS cosine
      |FROM dots JOIN norms na ON vec_a=na.vec_id JOIN norms nb ON vec_b=nb.vec_id
      |WHERE CAST(dot AS DOUBLE)/SQRT(CAST(na.nrm AS DOUBLE)*CAST(nb.nrm AS DOUBLE)) >= 0.4""".stripMargin

  // q32: semi-structured extraction — JSON props column (the reference's
  // JSON type maps through warehouse JSON functions; here
  // get_json_object, codegen'd, pushes no UDF into the scan)
  def q32JsonProps(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
        count(lit(1)).as("n"))
  }

  val q32Sql: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  // q207: the Spark 4 VARIANT path for semi-structured props — parse
  // once to the binary variant encoding, typed try_variant_get
  // extraction after (the open-schema ingestion pattern that replaces
  // per-field get_json_object re-parses; at scale the parse cost is
  // paid once per row and extraction is a cheap binary probe). A
  // malformed row is PLANTED in-plan: try_parse_json nulls it instead
  // of failing the job, and the null flows through count/sum/min/max
  // exactly like DuckDB's json_valid guard.
  def q207VariantProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bad = Seq(("_bad", "{oops")).toDF("event_type", "props")
    t(s, dir, "events").select(col("event_type"), col("props"))
      .unionAll(bad)
      .select(col("event_type"),
        expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')")
          .as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_valid"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  val q207Sql: String =
    """WITH ev AS (
      |  SELECT event_type, props FROM events
      |  UNION ALL SELECT '_bad', '{oops'),
      |x AS (
      |  SELECT event_type,
      |    CASE WHEN json_valid(props)
      |      THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
      |  FROM ev)
      |SELECT event_type, count(*) AS n,
      |  count(k) AS n_valid,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM x GROUP BY 1""".stripMargin

  // q50: deterministic hash split — id-only membership (stable under
  // reruns/appends/repartitioning) via the engine-portable md5 hash, so
  // the oracle reproduces the exact assignment
  def q50HashSplit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.hashSplit(
      t(s, dir, "documents"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))

  val q50Sql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 800000 THEN 'train'
      |       WHEN h < 900000 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 1000000 AS h
      |  FROM documents)""".stripMargin

  // q48: blocked exact embedding dup pairs — same contract as q26 (the
  // escape hatch must be output-identical to the broadcast path), so it
  // shares q26's oracle verbatim
  def q48EmbedDupBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDupPairsBlocked(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4, blocks = 4)

  // q49: multimodal header round-trip — REAL PNG headers are built
  // in-plan (signature + IHDR with per-doc dimensions as big-endian
  // bytes via hex/lpad/unhex), then imageMeta decodes them back with
  // byte expressions; the oracle predicts the encoded values directly
  def q49ImageHeaders(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val w = (col("n_chars") % 512 + 16).cast("int")
    val h = (col("doc_id") % 256 + 16).cast("int")
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + IHDR chunk head
      unhex(lpad(hex(w), 8, "0")),
      unhex(lpad(hex(h), 8, "0")),
      unhex(lit("0806000000")))
    Multimodal.imageMeta(docs.withColumn("media_bytes", png))
      .select(col("doc_id"), col("image_format"), col("width"), col("height"))
  }

  val q49Sql: String =
    """SELECT doc_id, 'png' AS image_format,
      |  CAST(n_chars % 512 + 16 AS INT) AS width,
      |  CAST(doc_id % 256 + 16 AS INT) AS height
      |FROM documents""".stripMargin

  // q47: regex (BPE-ish pre-tokenizer) token statistics — the
  // non-whitespace tokenization surface: regexp_extract_all + in-row
  // array filters per token class
  def q47RegexTokens(s: SparkSession, dir: String): DataFrame =
    TextStats.regexTokenStats(t(s, dir, "documents"), "doc_id", "text")

  val q47Sql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z]+$'))) AS BIGINT) AS n_word,
      |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS BIGINT) AS n_num,
      |  CAST(len(list_filter(toks, t -> regexp_matches(t, '^[^A-Za-z0-9 ]+$'))) AS BIGINT) AS n_punct
      |FROM tk""".stripMargin

  // q46: duplicate clusters — connected components over the exact
  // Jaccard near-dup pairs, every member labeled with the component min
  // id. Oracle: transitive closure via a recursive CTE over the same
  // pair set.
  def q46DupClusters(s: SparkSession, dir: String): DataFrame =
    TextDedup.dupClusters(
      TextDedup.jaccardPairs(
        TextDedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3),
        "doc_id", threshold = 0.12, maxShingleDocs = Int.MaxValue)
        .select(col("doc_a"), col("doc_b")))

  val q46Sql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
      |  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.12),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id)
      |SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id""".stripMargin

  // q214: duplicate-cluster size histogram — the report a dedup run
  // publishes ("how big are my duplicate families?"): q46's components
  // rolled up to (cluster_size, n_clusters), plus the singleton row
  // (documents touching no near-dup pair — every pair-graph cluster
  // has size ≥ 2 by construction, so singletons are the complement).
  // Oracle = q46's recursive-CTE closure + the same rollup.
  def q214ClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cl = TextDedup.dupClusters(
      TextDedup.jaccardPairs(
        TextDedup.shingles(docs, "doc_id", "text", n = 3),
        "doc_id", threshold = 0.12, maxShingleDocs = Int.MaxValue)
        .select(col("doc_a"), col("doc_b")))
    val hist = cl.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singletons = docs.agg(count(lit(1)).as("_n"))
      .crossJoin(broadcast(cl.agg(count(lit(1)).as("_c"))))
      .select(lit(1L).as("cluster_size"),
        (col("_n") - col("_c")).as("n_clusters"))
    hist.unionAll(singletons)
  }

  val q214Sql: String = {
    // q46's closure verbatim, then the size rollup
    val marker =
      "SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY id"
    require(q46Sql.endsWith(marker), "q46Sql final SELECT moved")
    q46Sql.stripSuffix(marker).trim + ",\n" +
      """cl AS (SELECT id AS doc_id, MIN(lab) AS canonical_id
        |       FROM reach GROUP BY id),
        |szs AS (SELECT canonical_id, count(*) AS sz FROM cl GROUP BY 1),
        |hist AS (SELECT sz AS cluster_size, count(*) AS n_clusters
        |         FROM szs GROUP BY 1)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(n_clusters AS BIGINT) AS n_clusters FROM hist
        |UNION ALL
        |SELECT 1, CAST((SELECT count(*) FROM documents)
        |  - (SELECT count(*) FROM cl) AS BIGINT)""".stripMargin
  }

  // q51: benchmark-contamination gate — every corpus document scored by
  // how many of its distinct 5-grams appear in a held-out "benchmark"
  // slice (a deterministic 2% hash sample of the fixture, so the oracle
  // reproduces the exact split). Bench gram set is broadcast.
  def q51Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val bench = graft.pipeline.Sampling.hashSample(docs, "doc_id", 0.02)
    val corpus = docs.join(bench.select(col("doc_id")), Seq("doc_id"), "left_anti")
    TextDedup.contamination(corpus, bench, "doc_id", "text", n = 5)
  }

  val q51Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |        || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |g2 AS (SELECT doc_id, shingle FROM g WHERE shingle IS NOT NULL),
      |h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 1000000 AS hh
      |  FROM documents),
      |bench AS (SELECT doc_id FROM h WHERE hh < 20000),
      |corpus AS (SELECT doc_id FROM h WHERE hh >= 20000),
      |bg AS (SELECT DISTINCT shingle FROM g2 JOIN bench USING (doc_id))
      |SELECT g2.doc_id, COUNT(*) AS n_grams, COUNT(bg.shingle) AS n_hit,
      |  CAST(COUNT(bg.shingle) AS DOUBLE) / COUNT(*) AS hit_frac
      |FROM g2 JOIN corpus USING (doc_id)
      |LEFT JOIN bg ON g2.shingle = bg.shingle
      |GROUP BY g2.doc_id""".stripMargin

  // q52: Gopher-style repetition/symbol quality signals, computed in-row
  // (top-token share via a fold over the sorted token array — no
  // explode/shuffle; the oracle recomputes them relationally)
  def q52Repetition(s: SparkSession, dir: String): DataFrame =
    TextStats.repetitionStats(t(s, dir, "documents"), "doc_id", "text")

  val q52Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1,2),
      |top AS (SELECT doc_id, MAX(c) AS top_tok_count FROM tc GROUP BY 1),
      |nt AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tk GROUP BY 1),
      |bg0 AS (
      |  SELECT doc_id,
      |    tok || ' ' || lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      |  FROM tk),
      |bg AS (SELECT doc_id, bigram FROM bg0 WHERE bigram IS NOT NULL),
      |bc AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |         COUNT(*) - COUNT(DISTINCT bigram) AS n_dup_bigrams
      |  FROM bg GROUP BY 1),
      |sym AS (
      |  SELECT doc_id, length(text) AS n_chars,
      |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
      |      AS n_symbol_chars
      |  FROM documents)
      |SELECT d.doc_id, nt.n_tokens, top.top_tok_count,
      |  COALESCE(bc.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(bc.n_dup_bigrams, 0) AS n_dup_bigrams,
      |  sym.n_symbol_chars, sym.n_chars,
      |  CASE WHEN nt.n_tokens > 0
      |       THEN CAST(top.top_tok_count AS DOUBLE) / nt.n_tokens END AS top_tok_frac,
      |  CASE WHEN COALESCE(bc.n_bigrams, 0) > 0
      |       THEN CAST(bc.n_dup_bigrams AS DOUBLE) / bc.n_bigrams END AS dup_bigram_frac,
      |  CASE WHEN sym.n_chars > 0
      |       THEN CAST(sym.n_symbol_chars AS DOUBLE) / sym.n_chars END AS symbol_frac
      |FROM documents d
      |JOIN nt USING (doc_id) JOIN top USING (doc_id)
      |LEFT JOIN bc USING (doc_id) JOIN sym USING (doc_id)""".stripMargin

  // q53: deterministic global corpus shuffle — dense md5-order positions
  // assigned shard-locally + offset (no single-partition window); the
  // oracle's one-window ROW_NUMBER must match the sharded answer exactly
  def q53Shuffle(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.deterministicShuffle(
      t(s, dir, "documents"), "doc_id", seed = "r5", shards = 64)
      .select(col("doc_id"), col("shuffle_pos"))

  val q53Sql: String =
    """SELECT doc_id,
      |  ROW_NUMBER() OVER (ORDER BY md5('r5:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
      |    AS shuffle_pos
      |FROM documents""".stripMargin

  // q54: one kept representative per duplicate cluster — pairs from the
  // exact shared-8-gram join (df-cap ∞ HERE ONLY: oracle entry; the
  // operator default stays bounded), clusters from dupClusters, winner
  // by (n_chars desc, doc_id asc). Singletons keep themselves, so
  // is_kept = 1 rows ARE the deduplicated corpus.
  def q54ClusterReps(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = TextDedup.sharedShinglePairs(
      TextDedup.shingles(docs, "doc_id", "text", n = 8),
      "doc_id", minShared = 1, maxShingleDocs = Int.MaxValue)
      .select(col("doc_a"), col("doc_b"))
    TextDedup.clusterRepresentatives(docs, pairs, "doc_id", "n_chars")
      .select(col("doc_id"), col("canonical_id"), col("n_chars"),
        col("is_kept").cast("int").as("is_kept"))
  }

  val q54Sql: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |        || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
      |        || ' ' || lead(tok,5) OVER w || ' ' || lead(tok,6) OVER w
      |        || ' ' || lead(tok,7) OVER w AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id),
      |labels AS (SELECT id AS doc_id, MIN(lab) AS canonical_id FROM reach GROUP BY 1),
      |m AS (
      |  SELECT d.doc_id, COALESCE(l.canonical_id, d.doc_id) AS canonical_id, d.n_chars
      |  FROM documents d LEFT JOIN labels l USING (doc_id))
      |SELECT doc_id, canonical_id, n_chars,
      |  CASE WHEN ROW_NUMBER() OVER (
      |         PARTITION BY canonical_id ORDER BY n_chars DESC, doc_id ASC) = 1
      |       THEN 1 ELSE 0 END AS is_kept
      |FROM m""".stripMargin

  // ---- LSH / approximate variants: no SQL oracle (driver rows-only
  // check); recall vs the exact answer is asserted in PipelineSpec -------

  // q27: MinHash-LSH near-dup pairs (banded candidates + exact verify)
  // q213: the portable SimHash near-dup path — md5-derived token
  // hashes, the same pigeonhole banding and exact hamming verify as
  // q29 (whose codegen'd xxhash64 fingerprint stays the production
  // default, rows-only by design). The oracle rebuilds bit sums,
  // fingerprints (kept as two 32-bit halves — DuckDB's << checks the
  // sign-bit overflow Spark wraps), band slices and hamming.
  def q213SimhashPortable(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(
      TextDedup.simhashPortable(t(s, dir, "documents"), "doc_id", "text"),
      "doc_id", maxHamming = 3)

  val q213Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS hi,
      |    CAST(concat('0x', substring(md5(tok), 9, 8)) AS BIGINT) AS lo
      |  FROM tk2),
      |bits AS (
      |  SELECT doc_id, bb.b AS b,
      |    SUM(((CASE WHEN bb.b >= 32 THEN hi >> (bb.b - 32)
      |          ELSE lo >> bb.b END) & 1) * 2 - 1) AS s
      |  FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
      |  GROUP BY 1, 2),
      |halves AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN s > 0 AND b >= 32
      |      THEN CAST(1 AS BIGINT) << CAST(b - 32 AS INT) ELSE 0 END)
      |      AS BIGINT) AS fhi,
      |    CAST(SUM(CASE WHEN s > 0 AND b < 32
      |      THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END)
      |      AS BIGINT) AS flo
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, bj.j AS band_id,
      |    CASE bj.j WHEN 0 THEN flo & 65535
      |      WHEN 1 THEN (flo >> 16) & 65535
      |      WHEN 2 THEN fhi & 65535
      |      ELSE (fhi >> 16) & 65535 END AS band_bits
      |  FROM halves CROSS JOIN (SELECT unnest(range(4)) AS j) bj),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bands x JOIN bands y
      |    ON x.band_id = y.band_id AND x.band_bits = y.band_bits
      |    AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(bit_count(xor(a.fhi, b.fhi)) + bit_count(xor(a.flo, b.flo))
      |    AS INT) AS hamming
      |FROM cand
      |JOIN halves a ON doc_a = a.doc_id
      |JOIN halves b ON doc_b = b.doc_id
      |WHERE bit_count(xor(a.fhi, b.fhi)) + bit_count(xor(a.flo, b.flo)) <= 3"""
      .stripMargin

  def q27MinhashLsh(s: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairs(
      TextDedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3),
      "doc_id", threshold = 0.5)

  // q219: incremental near-dup ingest — the nightly batch (fresh docs +
  // q117-style re-crawls) against the corpus's STORED portable MinHash
  // signatures: the corpus never re-shingles or re-hashes, candidates
  // meet cross-set on band equality, exact verify re-reads only
  // candidate corpus docs. The near-dup sibling of q117's exact-hash
  // incremental dedup; the oracle rebuilds both sides' signature
  // chains with the embedded permutation constants (q211's md5 ring).
  def q219MinhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val shC = TextDedup.shingles(corpus, "doc_id", "text", n = 3)
    val shN = TextDedup.shingles(batch, "doc_id", "text", n = 3)
    val sigC = TextDedup.minhashSignatures(shC, "doc_id", numPerms = 64,
      portable = true)
    TextDedup.minhashPairsAcross(shN, sigC, shC, "doc_id",
      threshold = 0.5, portable = true)
  }

  val q219Sql: String = {
    val perms = TextDedup.minhashPerms(64)
      .zipWithIndex.map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH all0 AS (
       |  SELECT 'c' AS side, doc_id, text FROM documents WHERE doc_id < 250
       |  UNION ALL
       |  SELECT 'n', doc_id, text FROM documents WHERE doc_id >= 250
       |  UNION ALL
       |  SELECT 'n', doc_id + 10000, text FROM documents WHERE doc_id < 30),
       |tk AS (
       |  SELECT side, doc_id,
       |    generate_subscripts(string_split(text,' '),1) AS pos,
       |    unnest(string_split(text,' ')) AS tok
       |  FROM all0),
       |sh AS (
       |  SELECT DISTINCT side, doc_id,
       |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
       |      AS shingle
       |  FROM tk WINDOW w AS (PARTITION BY side, doc_id ORDER BY pos)),
       |sh2 AS (SELECT side, doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
       |h AS (
       |  SELECT side, doc_id, shingle,
       |    CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT) AS hv
       |  FROM sh2),
       |perms AS (SELECT * FROM (VALUES $perms) p(i, a, b)),
       |sig AS (
       |  SELECT side, doc_id, i, min((hv * a + b) % 4294967296) AS mh
       |  FROM h CROSS JOIN perms GROUP BY 1, 2, 3),
       |bands AS (
       |  SELECT side, doc_id, i // 4 AS band_id,
       |    CAST(list(mh ORDER BY i) AS VARCHAR) AS bk
       |  FROM sig GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM bands n JOIN bands c
       |    ON n.band_id = c.band_id AND n.bk = c.bk
       |  WHERE n.side = 'n' AND c.side = 'c'),
       |sz AS (SELECT side, doc_id, count(*) AS n FROM sh2 GROUP BY 1, 2),
       |inter AS (
       |  SELECT cand.doc_a, cand.doc_b, count(*) AS n_common
       |  FROM cand
       |  JOIN sh2 a ON a.side = 'n' AND a.doc_id = cand.doc_a
       |  JOIN sh2 b ON b.side = 'c' AND b.doc_id = cand.doc_b
       |    AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.side = 'n' AND doc_a = sa.doc_id
       |JOIN sz sb ON sb.side = 'c' AND doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5"""
      .stripMargin
  }

  // q211: the PORTABLE MinHash-LSH twin — identical permutations,
  // banding and exact verify as q27, with the base row hash swapped
  // from xxhash64 (cheapest, Spark-only) to the 32-bit md5 prefix, so
  // the whole signature → band → candidate → verify chain is
  // bit-reproducible in DuckDB and the banded-LSH path gets a
  // hash-exact driver check (q27 stays recall-bounded rows-only by
  // design — xxhash64 is not portable). The oracle embeds the SAME
  // (a, b) permutation constants the operator draws.
  def q211MinhashPortable(s: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairs(
      TextDedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 3),
      "doc_id", threshold = 0.5, portable = true)

  val q211Sql: String = {
    val perms = TextDedup.minhashPerms(64)
    val permRows = perms.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
    s"""WITH tk AS (
       |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
       |         unnest(string_split(text,' ')) AS tok
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS shingle
       |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
       |h AS (
       |  SELECT doc_id, shingle,
       |    CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT) AS hv
       |  FROM sh2),
       |perms AS (SELECT * FROM (VALUES $permRows) p(i, a, b)),
       |sig AS (
       |  SELECT doc_id, i, min((hv * a + b) % 4294967296) AS mh
       |  FROM h CROSS JOIN perms GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band_id,
       |    CAST(list(mh ORDER BY i) AS VARCHAR) AS band_key
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_key = y.band_key
       |    AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
       |  FROM cand c
       |  JOIN sh2 a ON a.doc_id = c.doc_a
       |  JOIN sh2 b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter JOIN sz sa ON doc_a = sa.doc_id
       |JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5"""
      .stripMargin
  }

  // q28: ANN via random-hyperplane LSH + exact re-rank
  def q28AnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.annLsh(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10)

  /** q28's oracle — a round-10 UPGRADE from rows-only: every stage of
    * annLsh (quantized vectors, integer plane dots, sign-bit buckets,
    * candidate equi-join, exact re-rank) is integer-deterministic, so
    * the whole path rebuilds in DuckDB with the 8×8×64 quantized plane
    * constants embedded as a VALUES table. Rows-only was never a math
    * limitation — only the constants needed embedding.
    */
  val q28Sql: String = {
    val planeRows = Similarity.planeRows(8, 8, 64)
      .map { case (t, b, p, w) => s"($t,$b,$p,$w)" }.mkString(",")
    s"""WITH e AS (
       |  SELECT vec_id, generate_subscripts(embedding,1) AS pos,
       |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0) AS BIGINT)
       |      AS qv
       |  FROM embeddings),
       |pl AS (SELECT * FROM (VALUES $planeRows) p(tbl, bit, pos, w)),
       |dots AS (
       |  SELECT e.vec_id, pl.tbl, pl.bit, SUM(e.qv * pl.w) AS dot
       |  FROM e JOIN pl ON e.pos = pl.pos
       |  GROUP BY 1, 2, 3),
       |bk AS (
       |  SELECT vec_id, tbl,
       |    SUM(CASE WHEN dot > 0 THEN (1 << bit) ELSE 0 END) AS bucket
       |  FROM dots GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
       |dots2 AS (
       |  SELECT cand.qid, cand.nid, SUM(a.qv * b.qv) AS dot
       |  FROM cand
       |  JOIN e a ON a.vec_id = cand.qid
       |  JOIN e b ON b.vec_id = cand.nid AND b.pos = a.pos
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT qid, nid,
       |    CAST(dot AS DOUBLE)
       |      / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cosine
       |  FROM dots2 JOIN norms nq ON qid = nq.vec_id
       |  JOIN norms nn ON nid = nn.vec_id)
       |SELECT qid, nid, rank, cosine FROM (
       |  SELECT qid, nid, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC)
       |      AS rank
       |  FROM scored) WHERE rank <= 10""".stripMargin
  }

  // q218: the PORTABLE IVF twin — q31's Lloyd training REPLAYED in the
  // oracle: md5-ordered init sample, three recursive-CTE iterations
  // (assignment = integer argmin with cluster tie-break, means =
  // floor(avg) — DuckDB allows aggregation + windows in the recursive
  // term, q190's precedent), then final lists, nprobe probes and the
  // exact re-rank. The portable operator throws LOUDLY if a cluster
  // ever empties (the single-self-reference CTE cannot carry a
  // previous centroid), so the oracle contract is self-enforcing.
  // With q211/q213/q28/q217 this closes the set: every non-sketch
  // algorithmic operator in the engine now has a hash-exact
  // driver-checked form.
  def q218AnnIvfPortable(s: SparkSession, dir: String): DataFrame =
    Similarity.annIvf(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10, portable = true)

  val q218Sql: String =
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
      |probes AS (
      |  SELECT vec_id AS qid, cluster FROM (
      |    SELECT vec_id, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster)
      |        AS rn
      |    FROM fscore WHERE vec_id < 5) t WHERE rn <= 4),
      |cand AS (
      |  SELECT DISTINCT p.qid, l.vec_id AS nid
      |  FROM probes p JOIN lists l ON p.cluster = l.cluster
      |  WHERE l.vec_id <> p.qid),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |dots2 AS (
      |  SELECT c.qid, c.nid, SUM(a.qv * b.qv) AS dot
      |  FROM cand c
      |  JOIN e a ON a.vec_id = c.qid
      |  JOIN e b ON b.vec_id = c.nid AND b.pos = a.pos
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT qid, nid,
      |    CAST(dot AS DOUBLE)
      |      / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cosine
      |  FROM dots2 JOIN norms nq ON qid = nq.vec_id
      |  JOIN norms nn ON nid = nn.vec_id)
      |SELECT qid, nid, rank, cosine FROM (
      |  SELECT qid, nid, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC)
      |      AS rank
      |  FROM scored) t WHERE rank <= 10""".stripMargin

  // q224: IVF-PQ — the billion-vector store layout on top of q218's
  // replayable training: the coarse k-means replays VERBATIM (same
  // recursive CTE), a second recursive CTE trains all 8 per-subspace
  // codebooks at once (subspace axis as a column), codes are the
  // argmin per (vector, subspace), the query LUT is one grouped dot
  // per (query, subspace, codeword), and ADC scores are m integer
  // lookups summed. All-integer with deterministic tie-breaks, so
  // codebooks, assignments AND the top-k are hash-exact driver-checked.
  def q224AnnIvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.annIvfPq(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10, portable = true)

  val q224Sql: String =
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
      |probes AS (
      |  SELECT vec_id AS qid, cluster FROM (
      |    SELECT vec_id, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster)
      |        AS rn
      |    FROM fscore WHERE vec_id < 5) t WHERE rn <= 4),
      |cand AS (
      |  SELECT DISTINCT p.qid, l.vec_id AS nid
      |  FROM probes p JOIN lists l ON p.cluster = l.cluster
      |  WHERE l.vec_id <> p.qid),
      |es AS MATERIALIZED (
      |  SELECT vec_id, CAST((pos - 1) // 8 AS INT) AS mi,
      |    ((pos - 1) % 8) + 1 AS spos, qv
      |  FROM e),
      |pinit AS (
      |  SELECT vec_id, rn - 1 AS cluster FROM (
      |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
      |    FROM (
      |      SELECT DISTINCT vec_id,
      |        CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)),
      |          1, 8)) AS BIGINT) % 1000000 AS h
      |      FROM e) u0) u1 WHERE rn <= 8),
      |pcent(iter, mi, cluster, spos, v) AS (
      |  SELECT 0, es.mi, i.cluster, es.spos, es.qv
      |  FROM pinit i JOIN es ON es.vec_id = i.vec_id
      |  UNION ALL
      |  SELECT pts.iter, pts.mi, pts.cluster, pts.spos,
      |    CAST(FLOOR(AVG(pts.qv)) AS BIGINT)
      |  FROM (
      |    SELECT asg.iter, asg.mi, asg.cluster, e2.spos, e2.qv
      |    FROM (
      |      SELECT iter, vec_id, mi, cluster FROM (
      |        SELECT iter, vec_id, mi, cluster,
      |          ROW_NUMBER() OVER (PARTITION BY iter, vec_id, mi
      |            ORDER BY score, cluster) AS rn
      |        FROM (
      |          SELECT c.iter + 1 AS iter, e1.vec_id, c.mi, c.cluster,
      |            SUM(c.v * c.v) - 2 * SUM(e1.qv * c.v) AS score
      |          FROM pcent c JOIN es e1
      |            ON e1.mi = c.mi AND e1.spos = c.spos
      |          WHERE c.iter < 2
      |          GROUP BY 1, 2, 3, 4) sc) rk
      |      WHERE rn = 1) asg
      |    JOIN es e2 ON e2.vec_id = asg.vec_id AND e2.mi = asg.mi) pts
      |  GROUP BY 1, 2, 3, 4),
      |fpc AS MATERIALIZED (
      |  SELECT mi, cluster, spos, v FROM pcent WHERE iter = 2),
      |pscore AS (
      |  SELECT es.vec_id, f.mi, f.cluster,
      |    SUM(f.v * f.v) - 2 * SUM(es.qv * f.v) AS score
      |  FROM es JOIN fpc f ON es.mi = f.mi AND es.spos = f.spos
      |  GROUP BY 1, 2, 3),
      |pcodes AS (
      |  SELECT vec_id, mi, cluster AS code FROM (
      |    SELECT vec_id, mi, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, mi
      |        ORDER BY score, cluster) AS rn
      |    FROM pscore) t WHERE rn = 1),
      |lut AS (
      |  SELECT q.vec_id AS qid, f.mi, f.cluster, SUM(q.qv * f.v) AS dot
      |  FROM es q JOIN fpc f ON q.mi = f.mi AND q.spos = f.spos
      |  WHERE q.vec_id < 5
      |  GROUP BY 1, 2, 3),
      |adc AS (
      |  SELECT c.qid, c.nid, CAST(SUM(l.dot) AS BIGINT) AS adc_score
      |  FROM cand c
      |  JOIN pcodes pc ON pc.vec_id = c.nid
      |  JOIN lut l ON l.qid = c.qid AND l.mi = pc.mi
      |    AND l.cluster = pc.code
      |  GROUP BY 1, 2)
      |SELECT qid, nid, rank, adc_score FROM (
      |  SELECT qid, nid, adc_score,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY adc_score DESC, nid ASC) AS rank
      |  FROM adc) t WHERE rank <= 10""".stripMargin

  // q249: SemDeDup — semantic dedup with the pair stage bounded by
  // k-means clusters (Abbas et al. 2023). Oracle: q218's Lloyd-training
  // recursive CTE VERBATIM (same init, 3 iterations, same tie-breaks)
  // → final assignment lists → exact within-cluster cosine pairs at
  // 0.4 → q46's transitive-closure CTE → min-id keeps + the cluster
  // audit column. The keep rule is the documented min-id divergence
  // from the paper's lowest-centroid-similarity pick (scaladoc).
  def q249SemDeDup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDeDup(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.4, nlist = 16, iters = 3, portable = true)

  val q249Sql: String =
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
      |lists AS MATERIALIZED (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cluster)
      |        AS rn
      |    FROM fscore) t WHERE rn = 1),
      |norms AS (SELECT vec_id, SUM(qv*qv) AS nrm FROM e GROUP BY 1),
      |pr AS (
      |  SELECT la.vec_id AS va, lb.vec_id AS vb
      |  FROM lists la JOIN lists lb
      |    ON la.cluster = lb.cluster AND la.vec_id < lb.vec_id),
      |dots AS (
      |  SELECT pr.va, pr.vb, SUM(a.qv * b.qv) AS dot
      |  FROM pr JOIN e a ON a.vec_id = pr.va
      |  JOIN e b ON b.vec_id = pr.vb AND b.pos = a.pos
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT va, vb FROM dots
      |  JOIN norms na ON va = na.vec_id JOIN norms nb ON vb = nb.vec_id
      |  WHERE CAST(dot AS DOUBLE)
      |    / SQRT(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
      |edges AS (
      |  SELECT va AS src, vb AS dst FROM pairs
      |  UNION SELECT vb, va FROM pairs),
      |reach(id, lab) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
      |comp AS (SELECT id, MIN(lab) AS canonical_id FROM reach GROUP BY id)
      |SELECT v.vec_id,
      |  COALESCE(c.canonical_id, v.vec_id) AS canonical_id,
      |  CASE WHEN COALESCE(c.canonical_id, v.vec_id) = v.vec_id
      |       THEN 1 ELSE 0 END AS is_kept,
      |  l.cluster
      |FROM embeddings v
      |LEFT JOIN comp c ON c.id = v.vec_id
      |JOIN lists l ON l.vec_id = v.vec_id""".stripMargin

  // q31: ANN via IVF (k-means inverted lists + probe + exact re-rank)
  def q31AnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.annIvf(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") < 5, k = 10)

  // q29: SimHash fingerprints + banded hamming-near pairs
  def q29SimhashPairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(
      TextDedup.simhash(t(s, dir, "documents"), "doc_id", "text"),
      "doc_id", maxHamming = 8)

  // q30: winnowing fingerprints (rolling-hash document signatures)
  def q30Fingerprints(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(t(s, dir, "documents"), "doc_id", "text")

  // q217: the PORTABLE winnowing twin — q30's gram → window-min →
  // distinct chain on the 32-bit md5 ring, so the whole fingerprint
  // selection is rebuilt in DuckDB: positional 5-gram hashes, 4-wide
  // window minima (single window when a short doc has 1-3 grams),
  // distinct per document. q30's xxhash64 form stays the cheap
  // production default.
  def q217FingerprintsPortable(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(t(s, dir, "documents"), "doc_id", "text",
      portable = true)

  val q217Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g0 AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
      |  FROM tk WHERE len(toks) >= 5),
      |g AS (
      |  SELECT doc_id, i,
      |    CAST(concat('0x', substring(md5(
      |      array_to_string(toks[i:i+4], ' ')), 1, 8)) AS BIGINT) AS h
      |  FROM g0),
      |ng AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |wins AS (
      |  SELECT doc_id,
      |    unnest(range(1, CASE WHEN n >= 4 THEN n - 2 ELSE 2 END)) AS w
      |  FROM ng),
      |wm AS (
      |  SELECT w.doc_id, w.w, MIN(g.h) AS fp
      |  FROM wins w JOIN g ON g.doc_id = w.doc_id
      |    AND g.i >= w.w AND g.i <= w.w + 3
      |  GROUP BY 1, 2)
      |SELECT DISTINCT doc_id, fp AS fingerprint FROM wm""".stripMargin

  // q101: deflate-compression quality signal — rows-only by design
  // (deflate output length is implementation-specific; no cross-engine
  // oracle can hash it). Ordering/bounds properties — repetitive text
  // compresses below prose, ratios bounded, batch-size invariance — are
  // asserted in PipelineSpec/ChunkPackSpec instead.
  def q101CompressionSignal(s: SparkSession, dir: String): DataFrame =
    TextStats.compressionSignal(t(s, dir, "documents"), "doc_id", "text")

  // q317: quantile normalization of document lengths across sources —
  // after it, every source slice has the identical length distribution.
  // The oracle replays the within-slice ranks, the ceil-div order-
  // statistic lookups and the single mean division.
  def q317QuantileNormalize(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.quantileNormalize(
      t(s, dir, "documents"), "source", "doc_id", "n_chars")

  val q317Sql: String =
    """WITH r AS (
      |  SELECT source, doc_id, n_chars AS v,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rk
      |  FROM documents),
      |sz AS (SELECT source AS t, CAST(COUNT(*) AS BIGINT) AS nt
      |       FROM r GROUP BY 1),
      |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM sz),
      |lk AS (
      |  SELECT r.source, r.doc_id, r.v, oth.t,
      |    (r.rk * oth.nt + own.nt - 1) // own.nt AS tr
      |  FROM r JOIN sz own ON own.t = r.source CROSS JOIN sz oth),
      |tv AS (SELECT source AS t, rk AS tr, v AS tv FROM r),
      |agg AS (
      |  SELECT lk.source, lk.doc_id, MAX(lk.v) AS v,
      |    CAST(SUM(tv.tv) AS BIGINT) AS sm
      |  FROM lk JOIN tv ON tv.t = lk.t AND tv.tr = lk.tr
      |  GROUP BY 1, 2)
      |SELECT source, doc_id, v AS n_chars,
      |  CAST(CAST(CAST(sm AS DOUBLE) /
      |    CAST((SELECT s FROM ns) AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS norm_score
      |FROM agg""".stripMargin

  // q318: first-fit-decreasing packing of documents into 2000-char
  // bins over 16 md5 shards (sized so the maxShardRows guard holds
  // through the 10x scale sidecar). The oracle replays the identical
  // sorted first-fit fold as a per-shard recursive CTE with list
  // state.
  def q318PackFfd(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.packFirstFit(
      t(s, dir, "documents"), "doc_id", "n_chars",
      capacity = 2000L, shards = 16)

  val q318Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, n_chars AS sz,
      |    (CAST(concat('0x', substring(md5('ffd:' ||
      |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000)
      |      * 16 // 1000000 AS shard
      |  FROM documents),
      |o AS (SELECT id, sz, shard,
      |        ROW_NUMBER() OVER (PARTITION BY shard
      |          ORDER BY sz DESC, id ASC) AS rn,
      |        COUNT(*) OVER (PARTITION BY shard) AS n
      |      FROM d),
      |ff AS (
      |  SELECT shard, n, CAST(0 AS BIGINT) AS done,
      |    CAST([] AS BIGINT[]) AS loads, CAST([] AS INT[]) AS asg
      |  FROM (SELECT DISTINCT shard, n FROM o)
      |  UNION ALL
      |  SELECT ff.shard, ff.n, ff.done + 1,
      |    CASE WHEN list_filter(range(1, len(ff.loads) + 1),
      |        i -> ff.loads[i] + o.sz <= 2000)[1] IS NULL
      |      THEN list_append(ff.loads, CAST(o.sz AS BIGINT))
      |      ELSE list_transform(ff.loads, (l, j) ->
      |        CASE WHEN j = list_filter(range(1, len(ff.loads) + 1),
      |            i -> ff.loads[i] + o.sz <= 2000)[1]
      |          THEN l + o.sz ELSE l END) END,
      |    list_append(ff.asg, CAST(COALESCE(
      |      list_filter(range(1, len(ff.loads) + 1),
      |        i -> ff.loads[i] + o.sz <= 2000)[1],
      |      len(ff.loads) + 1) AS INT))
      |  FROM ff JOIN o ON o.shard = ff.shard AND o.rn = ff.done + 1),
      |fin AS (SELECT * FROM ff WHERE done = n)
      |SELECT o.id AS doc_id, o.sz AS n_chars, o.shard AS pack_shard,
      |  CAST(fin.asg[CAST(o.rn AS INT)] AS BIGINT) AS pack_bin,
      |  fin.loads[fin.asg[CAST(o.rn AS INT)]] AS bin_fill
      |FROM o JOIN fin ON fin.shard = o.shard""".stripMargin

  // q342: content-defined chunking — rolling-window Rabin–Karp
  // boundaries (w=16, divisor=64), insert/delete-stable chunk table.
  // The oracle replays the identical mod-2³¹−1 window hash with the
  // same precomputed 257^j mod M literals.
  def q342CdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.cdcChunks(
      t(s, dir, "documents"), "doc_id", "text")

  val q342Sql: String =
    """WITH pw AS (
      |  SELECT [1, 257, 66049, 16974593, 67503107, 168429323,
      |    336663071, 623063367, 1213495441, 483199522, 1775709275,
      |    1090750511, 1150007217, 1346595130, 330081243,
      |    1079017218] AS p),
      |d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
      |st AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1, length(text) + 1), i ->
      |      CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))
      |      AS codes
      |  FROM d),
      |bd AS (
      |  SELECT doc_id, text,
      |    list_filter(range(1, length(text) + 1), i ->
      |      i >= 16 AND
      |      (list_sum(list_transform(range(0, 16), j ->
      |        codes[CAST(i - j AS INTEGER)] *
      |        p[CAST(j + 1 AS INTEGER)])) % 2147483647) % 64 = 0) AS b
      |  FROM st CROSS JOIN pw),
      |ck AS (
      |  SELECT doc_id, text,
      |    list_filter(
      |      list_transform(range(1, len(starts) + 1), k ->
      |        {'s': starts[CAST(k AS INTEGER)],
      |         'e': ends[CAST(k AS INTEGER)]}),
      |      c -> c.s <= c.e) AS fl
      |  FROM (
      |    SELECT doc_id, text,
      |      list_concat([CAST(1 AS BIGINT)],
      |        list_transform(b, x -> x + 1)) AS starts,
      |      list_concat(b, [CAST(length(text) AS BIGINT)]) AS ends
      |    FROM bd)),
      |ex AS (
      |  SELECT doc_id, text,
      |    unnest(list_transform(range(1, len(fl) + 1), k ->
      |      {'ci': k, 's': fl[CAST(k AS INTEGER)].s,
      |       'e': fl[CAST(k AS INTEGER)].e})) AS u
      |  FROM ck)
      |SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_idx,
      |  CAST(u.s AS BIGINT) AS chunk_start,
      |  CAST(u.e - u.s + 1 AS BIGINT) AS chunk_len,
      |  md5(substr(text, CAST(u.s AS INTEGER),
      |    CAST(u.e - u.s + 1 AS INTEGER))) AS chunk_md5
      |FROM ex""".stripMargin

  // q343: CDC chunk-level near-dup pairs — bucketed on chunk_md5 with
  // boilerplate df-pruning; edit-tolerant overlap fractions.
  def q343CdcDup(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.cdcDupPairs(
      t(s, dir, "documents"), "doc_id", "text")

  val q343Sql: String =
    """WITH pw AS (
      |  SELECT [1, 257, 66049, 16974593, 67503107, 168429323,
      |    336663071, 623063367, 1213495441, 483199522, 1775709275,
      |    1090750511, 1150007217, 1346595130, 330081243,
      |    1079017218] AS p),
      |d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
      |st AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1, length(text) + 1), i ->
      |      CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))
      |      AS codes
      |  FROM d),
      |bd AS (
      |  SELECT doc_id, text,
      |    list_filter(range(1, length(text) + 1), i ->
      |      i >= 16 AND
      |      (list_sum(list_transform(range(0, 16), j ->
      |        codes[CAST(i - j AS INTEGER)] *
      |        p[CAST(j + 1 AS INTEGER)])) % 2147483647) % 64 = 0) AS b
      |  FROM st CROSS JOIN pw),
      |ck AS (
      |  SELECT doc_id, text,
      |    list_filter(
      |      list_transform(range(1, len(starts) + 1), k ->
      |        {'s': starts[CAST(k AS INTEGER)],
      |         'e': ends[CAST(k AS INTEGER)]}),
      |      c -> c.s <= c.e) AS fl
      |  FROM (
      |    SELECT doc_id, text,
      |      list_concat([CAST(1 AS BIGINT)],
      |        list_transform(b, x -> x + 1)) AS starts,
      |      list_concat(b, [CAST(length(text) AS BIGINT)]) AS ends
      |    FROM bd)),
      |ex AS (
      |  SELECT doc_id, text, unnest(fl) AS u FROM ck),
      |chunks AS (
      |  SELECT DISTINCT doc_id,
      |    md5(substr(text, CAST(u.s AS INTEGER),
      |      CAST(u.e - u.s + 1 AS INTEGER))) AS h
      |  FROM ex),
      |pruned AS (
      |  SELECT c.* FROM chunks c
      |  JOIN (SELECT h FROM chunks GROUP BY h
      |        HAVING COUNT(*) <= 100) f ON c.h = f.h),
      |perdoc AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nch
      |  FROM chunks GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared_chunks
      |  FROM pruned a JOIN pruned b
      |    ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT doc_a, doc_b, n_shared_chunks,
      |  CAST(CAST(CAST(n_shared_chunks AS DOUBLE) /
      |    CAST(pa.nch AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS overlap_a,
      |  CAST(CAST(CAST(n_shared_chunks AS DOUBLE) /
      |    CAST(pb.nch AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS overlap_b
      |FROM pairs
      |JOIN perdoc pa ON pa.doc_id = doc_a
      |JOIN perdoc pb ON pb.doc_id = doc_b""".stripMargin

  // q344: simplified (centroid) silhouette per embedding label — the
  // clustering-quality score in the scalable centroid form; the
  // denominator-cleared integer distance makes it hash-exact.
  def q344Silhouette(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidSilhouette(
      t(s, dir, "embeddings"), "vec_id", "label", "embedding")

  val q344Sql: String =
    """WITH q AS (
      |  SELECT vec_id AS id, CAST(label AS BIGINT) AS l,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
      |  FROM embeddings),
      |sums AS (
      |  SELECT l, unnest(range(len(ql))) AS d, unnest(ql) AS x FROM q),
      |sg AS (SELECT l, d, CAST(SUM(x) AS BIGINT) AS s
      |       FROM sums GROUP BY 1, 2),
      |np AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1),
      |ce AS (SELECT l AS cl, list(s ORDER BY d) AS sarr
      |       FROM sg GROUP BY l),
      |cen AS (SELECT ce.cl, ce.sarr, np.n
      |        FROM ce JOIN np ON np.l = ce.cl),
      |dists AS (
      |  SELECT q.id, q.l, c.cl,
      |    CAST(CAST(sqrt(CAST(list_sum(list_transform(
      |      range(1, len(ql) + 1), i ->
      |      CAST(c.n * ql[CAST(i AS INTEGER)] -
      |        c.sarr[CAST(i AS INTEGER)] AS HUGEINT) *
      |      CAST(c.n * ql[CAST(i AS INTEGER)] -
      |        c.sarr[CAST(i AS INTEGER)] AS HUGEINT)))
      |      AS DOUBLE)) / CAST(c.n AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS dist
      |  FROM q CROSS JOIN cen c),
      |pp AS (
      |  SELECT id, l,
      |    MAX(CASE WHEN cl = l THEN dist END) AS a,
      |    MIN(CASE WHEN cl <> l THEN dist END) AS b
      |  FROM dists GROUP BY 1, 2),
      |sc AS (
      |  SELECT id, l,
      |    CASE WHEN GREATEST(a, b) > 0 THEN
      |      CAST(CAST((b - a) / GREATEST(a, b) AS DECIMAL(28,6))
      |        AS DOUBLE)
      |    ELSE 0.0 END AS s
      |  FROM pp)
      |SELECT l AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
      |  CAST(CAST(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS mean_silhouette
      |FROM sc GROUP BY 1""".stripMargin

  // q418: Davies-Bouldin index over the labeled embeddings — the
  // cluster-vs-most-confusable-neighbor quality score beside q344's
  // per-point silhouette (lower is better; the k-sweep readout).
  // Oracle replays the q344 centroid discipline: quantized grid,
  // cleared own-cluster scatter, cleared centroid-pair distances,
  // worst-ratio max and the window mean.
  def q418DaviesBouldin(s: SparkSession, dir: String): DataFrame =
    Similarity.daviesBouldin(
      t(s, dir, "embeddings"), "vec_id", "label", "embedding")

  val q418Sql: String =
    """WITH q AS (
      |  SELECT vec_id AS id, CAST(label AS BIGINT) AS l,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
      |  FROM embeddings),
      |sums AS (
      |  SELECT l, unnest(range(len(ql))) AS d, unnest(ql) AS x FROM q),
      |sg AS (SELECT l, d, CAST(SUM(x) AS BIGINT) AS s
      |       FROM sums GROUP BY 1, 2),
      |np AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1),
      |ce AS (SELECT l AS cl, list(s ORDER BY d) AS sarr
      |       FROM sg GROUP BY l),
      |cen AS (SELECT ce.cl, ce.sarr, np.n
      |        FROM ce JOIN np ON np.l = ce.cl),
      |own AS (
      |  SELECT q.l,
      |    CAST(CAST(sqrt(CAST(list_sum(list_transform(
      |      range(1, len(ql) + 1), i ->
      |      CAST(c.n * ql[CAST(i AS INTEGER)] -
      |        c.sarr[CAST(i AS INTEGER)] AS HUGEINT) *
      |      CAST(c.n * ql[CAST(i AS INTEGER)] -
      |        c.sarr[CAST(i AS INTEGER)] AS HUGEINT)))
      |      AS DOUBLE)) / CAST(c.n AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS dist
      |  FROM q JOIN cen c ON c.cl = q.l),
      |scat AS (
      |  SELECT l, CAST(COUNT(*) AS BIGINT) AS n_points,
      |    CAST(CAST(CAST(SUM(CAST(dist AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS scatter
      |  FROM own GROUP BY 1),
      |cd AS (
      |  SELECT a.cl AS la, b.cl AS lb,
      |    CAST(CAST(sqrt(CAST(list_sum(list_transform(
      |      range(1, len(a.sarr) + 1), i ->
      |      (CAST(b.n AS HUGEINT) * a.sarr[CAST(i AS INTEGER)] -
      |       CAST(a.n AS HUGEINT) * b.sarr[CAST(i AS INTEGER)]) *
      |      (CAST(b.n AS HUGEINT) * a.sarr[CAST(i AS INTEGER)] -
      |       CAST(a.n AS HUGEINT) * b.sarr[CAST(i AS INTEGER)])))
      |      AS DOUBLE)) /
      |      (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS dij
      |  FROM cen a JOIN cen b ON a.cl <> b.cl),
      |rt AS (
      |  SELECT cd.la,
      |    CASE WHEN dij > 0 THEN
      |      CAST(CAST((sa.scatter + sb.scatter) / dij
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS r
      |  FROM cd JOIN scat sa ON sa.l = cd.la
      |  JOIN scat sb ON sb.l = cd.lb),
      |worst AS (SELECT la AS l, MAX(r) AS worst_ratio
      |          FROM rt GROUP BY 1)
      |SELECT s.l AS label, s.n_points, s.scatter, w.worst_ratio,
      |  CAST(CAST(CAST(SUM(CAST(w.worst_ratio AS DECIMAL(28,6)))
      |      OVER () AS DOUBLE) /
      |    CAST(COUNT(*) OVER () AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS db_index
      |FROM scat s JOIN worst w ON w.l = s.l""".stripMargin

  // q345: exact KNN-Shapley valuation of the training embeddings
  // against the held-out sixth (vec_id % 17 = 0) — per-example value
  // under the KNN utility via Jia et al.'s O(N log N) closed form.
  def q345KnnShapley(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.pipeline.Valuation.knnShapley(
      emb.filter(col("vec_id") % 17 =!= 0),
      emb.filter(col("vec_id") % 17 === 0),
      "vec_id", "embedding", "label", k = 5)
  }

  val q345Sql: String =
    """WITH q AS (
      |  SELECT vec_id AS id, CAST(label AS BIGINT) AS y,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
      |  FROM embeddings),
      |tr AS (SELECT * FROM q WHERE id % 17 <> 0),
      |te AS (SELECT * FROM q WHERE id % 17 = 0),
      |p AS (
      |  SELECT tr.id AS tid, te.id AS eid,
      |    CASE WHEN tr.y = te.y THEN 1 ELSE 0 END AS m,
      |    list_sum(list_transform(range(1, len(tr.ql) + 1), i ->
      |      CAST(tr.ql[CAST(i AS INTEGER)] -
      |        te.ql[CAST(i AS INTEGER)] AS HUGEINT) *
      |      CAST(tr.ql[CAST(i AS INTEGER)] -
      |        te.ql[CAST(i AS INTEGER)] AS HUGEINT))) AS d2
      |  FROM tr CROSS JOIN te),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY eid
      |      ORDER BY d2 ASC, tid ASC) AS i,
      |    COUNT(*) OVER (PARTITION BY eid) AS n
      |  FROM p),
      |inc AS (
      |  SELECT *,
      |    CASE WHEN i < n THEN CAST(floor(
      |      (CAST(m - LEAD(m) OVER (PARTITION BY eid ORDER BY i)
      |        AS DOUBLE) * CAST(LEAST(5, i) AS DOUBLE)) /
      |      (5.0 * CAST(i AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
      |      AS DECIMAL(28,6))
      |    ELSE CAST(0 AS DECIMAL(28,6)) END AS ic,
      |    MAX(CASE WHEN i = n THEN CAST(floor(CAST(m AS DOUBLE) /
      |      CAST(n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |      AS DECIMAL(28,6)) END)
      |      OVER (PARTITION BY eid) AS sbase
      |  FROM r),
      |s AS (
      |  SELECT tid, eid,
      |    sbase + SUM(ic) OVER (PARTITION BY eid ORDER BY i DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sv
      |  FROM inc)
      |SELECT tid AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_test,
      |  CAST(CAST(floor(CAST(SUM(CAST(sv AS DECIMAL(28,6))) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |    AS DECIMAL(28,6)) AS DOUBLE)
      |    AS shapley
      |FROM s GROUP BY 1""".stripMargin

  // q347: DBSCAN over the embeddings (Clustering.dbscan) — density
  // clustering with explicit noise, exact quantized-integer ε-pairs,
  // component-min cluster ids, min-core-neighbor border attachment
  // (the deterministic pin on textbook DBSCAN's visit-order tie). The
  // oracle replays pairs → degrees → cores → recursive-CTE components
  // → border min-attach; hash-exact including the role strings.
  // The pair stage sizes its blocks from the corpus (autoBlocks — each
  // broadcast side ~64 MB): a fixed blocks=8 at fixture scale was 52s
  // of B(B+1)/2 branch-join overhead vs 4.5s derived; the pair SET is
  // block-invariant (ClusteringSpec), so the oracle is untouched.
  def q347Dbscan(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Clustering.dbscanAuto(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      eps2 = 1380000L, minPts = 5)

  val q347Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(range(1, len(a.q) + 1), i ->
      |    (a.q[CAST(i AS INTEGER)] - b.q[CAST(i AS INTEGER)]) *
      |    (a.q[CAST(i AS INTEGER)] - b.q[CAST(i AS INTEGER)])))
      |    <= 1380000),
      |sym AS (SELECT va AS s, vb AS d FROM pr
      |        UNION SELECT vb, va FROM pr),
      |deg AS (SELECT s, CAST(COUNT(*) + 1 AS BIGINT) AS nn
      |        FROM sym GROUP BY 1),
      |pts AS (SELECT e.vec_id, COALESCE(deg.nn, 1) AS nn
      |        FROM e LEFT JOIN deg ON deg.s = e.vec_id),
      |core AS (SELECT vec_id FROM pts WHERE nn >= 5),
      |ce AS (SELECT sym.s, sym.d FROM sym
      |       JOIN core c1 ON c1.vec_id = sym.s
      |       JOIN core c2 ON c2.vec_id = sym.d),
      |reach(id, lab) AS (
      |  SELECT s, s FROM ce
      |  UNION
      |  SELECT ce.s, r.lab FROM ce JOIN reach r ON ce.d = r.id),
      |comp AS (SELECT id, MIN(lab) AS cl FROM reach GROUP BY id),
      |corecl AS (SELECT c.vec_id, COALESCE(comp.cl, c.vec_id) AS cl
      |           FROM core c LEFT JOIN comp ON comp.id = c.vec_id),
      |bord AS (SELECT sym.s AS vec_id, MIN(corecl.cl) AS bcl
      |         FROM sym JOIN corecl ON corecl.vec_id = sym.d
      |         GROUP BY 1)
      |SELECT p.vec_id, p.nn AS n_neighbors,
      |  CASE WHEN cc.vec_id IS NOT NULL THEN 'core'
      |       WHEN b.bcl IS NOT NULL THEN 'border'
      |       ELSE 'noise' END AS role,
      |  COALESCE(cc.cl, b.bcl) AS cluster
      |FROM pts p
      |LEFT JOIN corecl cc ON cc.vec_id = p.vec_id
      |LEFT JOIN bord b ON b.vec_id = p.vec_id""".stripMargin

  // q352: ANN-fed DBSCAN (Clustering.dbscanAnn) — q347's clustering
  // with the O(N²/blocks) exact pair stage swapped for LSH-bucketed
  // candidates verified at the exact quantized ε (the q163 playbook:
  // same oracle, recall-1.0 precondition asserted in ClusteringSpec,
  // so the composition reproduces q347 bit-for-bit at the fixture SFs;
  // the recall < 1 undercount law is documented on euclideanPairsAnn).
  def q352DbscanAnn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Clustering.dbscanAnn(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      eps2 = 1380000L, minPts = 5)

  // q482: auto-dialed ANN DBSCAN (Clustering.dbscanAnnAuto) — q352
  // with the frozen 32×2 fixture config replaced by the lshAutoConfig
  // derivation from (count, ε-implied cosine floor): the q243
  // playbook, VERDICT r15 #3. recall = 1−10⁻⁵ because byte-equality
  // is the contract here: at the family default 0.999 the expected
  // boundary-pair misses at fixture pair counts (~750) is ~0.8 and
  // one pair DID drop (measured); at 10⁻⁵ expected misses ≈ 0.008
  // and the derived config's empirical recall is 1.0 at every
  // committed SF (deterministic md5 planes — asserted per-SF in
  // ClusteringSpec). Same oracle as q347/q352 verbatim.
  def q482DbscanAnnAuto(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Clustering.dbscanAnnAuto(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      eps2 = 1380000L, minPts = 5, recall = 0.99999)

  // q483: auto-dialed ANN hubness (Similarity.hubnessAnnAuto) — q445
  // with the frozen 32×2 config replaced by the lshAutoConfig
  // derivation at the caller-named neighbor-cosine floor (0.2 — the
  // fixture's measured 5-NN floor is 0.23 at every committed SF).
  // Same oracle as q360/q445 verbatim; per-SF byte-equality to the
  // exact hubness asserted in PipelineSpec.
  def q483HubnessAnnAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.hubnessAnnAuto(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 5, floorCosine = 0.2)

  // q380: stratified weighted sampling without replacement
  // (Sampling.stratifiedWeightedTopK) — per-language Efraimidis–
  // Spirakis draw ∝ n_chars via derived Gumbel noise; the corpus-
  // mixing sample, reproducible by construction (md5 noise).
  def q380StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedWeightedTopK(
      t(s, dir, "documents").filter(col("n_chars") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      "lang", "doc_id", "n_chars", k = 20)

  val q380Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 0),
      |h AS (SELECT *,
      |    (CAST(CAST(concat('0x', substring(md5('eswr:' ||
      |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) + 0.5) / 1000000.0 AS u
      |  FROM d),
      |sc AS (SELECT doc_id, lang, n_chars,
      |    CAST(CAST(ln(CAST(n_chars AS DOUBLE)) - ln(-ln(u))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS samp_score
      |  FROM h),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY samp_score DESC, doc_id ASC) AS samp_rank
      |  FROM sc)
      |SELECT doc_id, lang, n_chars, samp_score, samp_rank,
      |  CAST(samp_rank <= 20 AS INTEGER) AS kept
      |FROM r""".stripMargin

  // q382: JL random projection (Similarity.randomProjection) — the
  // 64→8 ±1-sign sketch with the sign matrix DERIVED from md5 (never
  // materialized, rebuilt bit-identically by any engine); exact
  // integers end to end, zero shuffles.
  def q382RandomProjection(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(t(s, dir, "embeddings"),
      "vec_id", "embedding", inDims = 64, outDims = 8)

  val q382Sql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
      |  FROM embeddings),
      |sg AS (SELECT j, i,
      |    CASE WHEN CAST(concat('0x', substring(md5('rp:' ||
      |      CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM (SELECT unnest(range(0, 8)) AS j),
      |       (SELECT unnest(range(1, 65)) AS i))
      |SELECT q.vec_id, sg.j AS dim,
      |  CAST(SUM(ql[CAST(sg.i AS INTEGER)] * sg.s) AS BIGINT) AS value
      |FROM q CROSS JOIN sg GROUP BY 1, 2""".stripMargin

  // q386: clustering agreement (Stats.clusterAgreement) — ARI + NMI
  // of the ground-truth embedding labels against the 3-plane sign-
  // pattern bucket (the cheapest LSH-style clustering); the metric
  // pair that evaluates ANY clustering the engine produces.
  def q386ClusterAgreement(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.clusterAgreement(
      t(s, dir, "embeddings").select(col("label"),
        ((element_at(col("embedding"), 1) > 0.0f).cast("int") * 4 +
          (element_at(col("embedding"), 2) > 0.0f).cast("int") * 2 +
          (element_at(col("embedding"), 3) > 0.0f).cast("int"))
          .as("bucket")),
      "label", "bucket")

  val q386Sql: String =
    """WITH d AS (
      |  SELECT CAST(label AS VARCHAR) AS a,
      |    CAST((CASE WHEN embedding[1] > 0.0 THEN 4 ELSE 0 END +
      |      CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END +
      |      CASE WHEN embedding[3] > 0.0 THEN 1 ELSE 0 END)
      |      AS VARCHAR) AS b
      |  FROM embeddings),
      |cont AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
      |         FROM d GROUP BY 1, 2),
      |ma AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ai
      |       FROM cont GROUP BY 1),
      |mb AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS bj
      |       FROM cont GROUP BY 1),
      |n1 AS (SELECT CAST(SUM(ai) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS ka,
      |    SUM(CAST(ai AS HUGEINT) * (ai - 1) // 2) AS sa
      |  FROM ma),
      |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS kb,
      |    SUM(CAST(bj AS HUGEINT) * (bj - 1) // 2) AS sb
      |  FROM mb),
      |sij AS (SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1) // 2) AS s
      |        FROM cont),
      |ti AS (SELECT SUM(CAST(CAST(CAST(nij AS DOUBLE) *
      |    ln(CAST(n1.n AS DOUBLE) * CAST(nij AS DOUBLE) /
      |      (CAST(ai AS DOUBLE) * CAST(bj AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS i6
      |  FROM cont JOIN ma ON ma.a = cont.a
      |  JOIN mb ON mb.b = cont.b CROSS JOIN n1),
      |ha AS (SELECT SUM(CAST(CAST(-CAST(ai AS DOUBLE) *
      |    ln(CAST(ai AS DOUBLE) / CAST(n1.n AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS h6
      |  FROM ma CROSS JOIN n1),
      |hb AS (SELECT SUM(CAST(CAST(-CAST(bj AS DOUBLE) *
      |    ln(CAST(bj AS DOUBLE) / CAST(n1.n AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS h6
      |  FROM mb CROSS JOIN n1),
      |f AS (SELECT n, ka, kb, sa, sb, sij.s AS sij,
      |    CAST(n AS HUGEINT) * (n - 1) // 2 AS cn2,
      |    ti.i6, ha.h6 AS ha6, hb.h6 AS hb6
      |  FROM n1 CROSS JOIN n2 CROSS JOIN sij CROSS JOIN ti
      |  CROSS JOIN ha CROSS JOIN hb)
      |SELECT n AS n_rows, ka AS n_clusters_a, kb AS n_clusters_b,
      |  CASE WHEN cn2 * (sa + sb) - 2 * sa * sb <> 0 THEN
      |    CAST(CAST(CAST(2 * (cn2 * sij - sa * sb) AS DOUBLE) /
      |      CAST(cn2 * (sa + sb) - 2 * sa * sb AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS ari,
      |  CASE WHEN ha6 > 0 AND hb6 > 0 THEN
      |    CAST(CAST(CAST(i6 AS DOUBLE) /
      |      sqrt(CAST(ha6 AS DOUBLE) * CAST(hb6 AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS nmi
      |FROM f""".stripMargin

  // q390: exact weighted percentiles (Stats.weightedPercentiles) —
  // byte-weighted doc-length quartiles per language ("the median
  // byte lives in a doc of length X"); pure integer comparisons.
  def q390WeightedPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.weightedPercentiles(
      t(s, dir, "documents"),
      "lang", "doc_id", "n_chars", "n_chars")

  val q390Sql: String =
    """WITH b AS (
      |  SELECT lang AS k, doc_id AS id,
      |    CAST(n_chars AS BIGINT) AS v, CAST(n_chars AS BIGINT) AS w
      |  FROM documents WHERE n_chars > 0),
      |c AS (SELECT k, v,
      |    SUM(w) OVER (PARTITION BY k ORDER BY v ASC, id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
      |  FROM b),
      |t AS (SELECT k, CAST(SUM(w) AS BIGINT) AS tw FROM b GROUP BY 1),
      |x AS (SELECT c.k, q, v, cw, tw
      |  FROM c JOIN t ON t.k = c.k,
      |    (SELECT unnest([250, 500, 750, 900]) AS q)
      |  WHERE cw * 1000 >= q * tw)
      |SELECT k AS lang, CAST(q AS BIGINT) AS q_permille,
      |  CAST(MIN(v) AS BIGINT) AS value,
      |  CAST(MAX(tw) AS BIGINT) AS total_weight
      |FROM x GROUP BY 1, 2""".stripMargin

  // q391: Chao1 vocabulary richness + Good–Turing coverage per
  // language (Stats.chao1) — how many types the slice REALLY has and
  // how complete the sample is; the tokenizer-vocab sizing pair.
  def q391Chao1(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.chao1(t(s, dir, "documents"), "lang", "text")

  val q391Sql: String =
    """WITH tk AS (
      |  SELECT lang AS k,
      |    unnest(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS t
      |  FROM documents),
      |tc AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tk GROUP BY 1, 2),
      |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM tc GROUP BY 1)
      |SELECT k AS lang, n_types, n_tokens, f1, f2,
      |  CAST(CAST(CAST(n_types AS DOUBLE) +
      |    CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE) /
      |    (2.0 * CAST(f2 + 1 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS chao1,
      |  CASE WHEN n_tokens > 0 THEN
      |    CAST(CAST(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS coverage
      |FROM a""".stripMargin

  // q357: MTLD lexical diversity (TextStats.mtld) — factor-counting
  // TTR with the integer trigger 25·types < 18·tokens, exact-rational
  // partial factor, forward+backward mean. The oracle replays both
  // sequential passes as recursive CTEs carrying the current segment's
  // distinct-token list (the q346 viterbi lockstep-join discipline).
  def q357Mtld(s: SparkSession, dir: String): DataFrame =
    TextStats.mtld(t(s, dir, "documents"), "doc_id", "text",
      maxTokens = 200)

  val q357Sql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    (list_filter(string_split(text, ' '), w -> w <> ''))[1:200]
      |      AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, list_reverse(toks) AS rtoks,
      |        CAST(len(toks) AS BIGINT) AS nt
      |      FROM d),
      |fw(doc_id, i, f, seg, st) AS (
      |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |    CAST([] AS VARCHAR[]), CAST(0 AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT n.doc_id, fw.i + 1,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(fw.seg,
      |        n.toks[CAST(fw.i + 1 AS INTEGER)]) THEN fw.seg
      |      ELSE list_append(fw.seg, n.toks[CAST(fw.i + 1 AS INTEGER)])
      |      END) < 18 * (fw.st + 1)
      |      THEN fw.f + 1 ELSE fw.f END,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(fw.seg,
      |        n.toks[CAST(fw.i + 1 AS INTEGER)]) THEN fw.seg
      |      ELSE list_append(fw.seg, n.toks[CAST(fw.i + 1 AS INTEGER)])
      |      END) < 18 * (fw.st + 1)
      |      THEN CAST([] AS VARCHAR[])
      |      ELSE CASE WHEN list_contains(fw.seg,
      |        n.toks[CAST(fw.i + 1 AS INTEGER)]) THEN fw.seg
      |      ELSE list_append(fw.seg, n.toks[CAST(fw.i + 1 AS INTEGER)])
      |      END END,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(fw.seg,
      |        n.toks[CAST(fw.i + 1 AS INTEGER)]) THEN fw.seg
      |      ELSE list_append(fw.seg, n.toks[CAST(fw.i + 1 AS INTEGER)])
      |      END) < 18 * (fw.st + 1)
      |      THEN CAST(0 AS BIGINT) ELSE fw.st + 1 END
      |  FROM fw JOIN n ON n.doc_id = fw.doc_id AND fw.i < n.nt),
      |bw(doc_id, i, f, seg, st) AS (
      |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |    CAST([] AS VARCHAR[]), CAST(0 AS BIGINT) FROM n
      |  UNION ALL
      |  SELECT n.doc_id, bw.i + 1,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(bw.seg,
      |        n.rtoks[CAST(bw.i + 1 AS INTEGER)]) THEN bw.seg
      |      ELSE list_append(bw.seg, n.rtoks[CAST(bw.i + 1 AS INTEGER)])
      |      END) < 18 * (bw.st + 1)
      |      THEN bw.f + 1 ELSE bw.f END,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(bw.seg,
      |        n.rtoks[CAST(bw.i + 1 AS INTEGER)]) THEN bw.seg
      |      ELSE list_append(bw.seg, n.rtoks[CAST(bw.i + 1 AS INTEGER)])
      |      END) < 18 * (bw.st + 1)
      |      THEN CAST([] AS VARCHAR[])
      |      ELSE CASE WHEN list_contains(bw.seg,
      |        n.rtoks[CAST(bw.i + 1 AS INTEGER)]) THEN bw.seg
      |      ELSE list_append(bw.seg, n.rtoks[CAST(bw.i + 1 AS INTEGER)])
      |      END END,
      |    CASE WHEN 25 * len(CASE WHEN list_contains(bw.seg,
      |        n.rtoks[CAST(bw.i + 1 AS INTEGER)]) THEN bw.seg
      |      ELSE list_append(bw.seg, n.rtoks[CAST(bw.i + 1 AS INTEGER)])
      |      END) < 18 * (bw.st + 1)
      |      THEN CAST(0 AS BIGINT) ELSE bw.st + 1 END
      |  FROM bw JOIN n ON n.doc_id = bw.doc_id AND bw.i < n.nt),
      |fin AS (
      |  SELECT n.doc_id, n.nt,
      |    CASE WHEN fw.st = 0 AND fw.f > 0 THEN
      |      CAST(CAST(CAST(n.nt AS DOUBLE) / CAST(fw.f AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |    WHEN 7 * fw.st * fw.f + 25 * (fw.st - len(fw.seg)) > 0 THEN
      |      CAST(CAST(CAST(7 * fw.st * n.nt AS DOUBLE) /
      |        CAST(7 * fw.st * fw.f + 25 * (fw.st - len(fw.seg))
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS mf,
      |    CASE WHEN bw.st = 0 AND bw.f > 0 THEN
      |      CAST(CAST(CAST(n.nt AS DOUBLE) / CAST(bw.f AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |    WHEN 7 * bw.st * bw.f + 25 * (bw.st - len(bw.seg)) > 0 THEN
      |      CAST(CAST(CAST(7 * bw.st * n.nt AS DOUBLE) /
      |        CAST(7 * bw.st * bw.f + 25 * (bw.st - len(bw.seg))
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS mb
      |  FROM n
      |  JOIN fw ON fw.doc_id = n.doc_id AND fw.i = n.nt
      |  JOIN bw ON bw.doc_id = n.doc_id AND bw.i = n.nt)
      |SELECT doc_id, nt AS n_tokens, mf AS mtld_fwd, mb AS mtld_bwd,
      |  CAST(CAST(CAST((CAST(floor(mf * 1000000.0 + 0.5) AS BIGINT) +
      |    CAST(floor(mb * 1000000.0 + 0.5) AS BIGINT) + 1) // 2
      |    AS DOUBLE) / 1000000.0 AS DECIMAL(28,6)) AS DOUBLE) AS mtld
      |FROM fin""".stripMargin

  // q358: Gries DP dispersion of tokens across sources
  // (TextStats.dpDispersion) — how evenly each token spreads over
  // corpus parts; exact decimal numerators, one d6 division.
  def q358DpDispersion(s: SparkSession, dir: String): DataFrame =
    TextStats.dpDispersion(t(s, dir, "documents"), "text", "source",
      minCount = 20L)

  val q358Sql: String =
    """WITH tk AS (
      |  SELECT source AS p,
      |    unnest(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS tok
      |  FROM documents),
      |tp AS (SELECT tok, p, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM tk GROUP BY 1, 2),
      |tt AS (SELECT tok, CAST(SUM(n) AS BIGINT) AS ft FROM tp
      |       GROUP BY 1 HAVING SUM(n) >= 20),
      |pa AS (SELECT p, CAST(SUM(n) AS BIGINT) AS fi FROM tp GROUP BY 1),
      |co AS (SELECT CAST(SUM(fi) AS BIGINT) AS f FROM pa)
      |SELECT tp.tok, tt.ft AS n_total,
      |  CAST(CAST((CAST(SUM(ABS(CAST(tp.n AS HUGEINT) * co.f -
      |    CAST(pa.fi AS HUGEINT) * tt.ft)) AS DOUBLE) +
      |    CAST(tt.ft AS DOUBLE) * CAST(co.f - SUM(pa.fi) AS DOUBLE)) /
      |    (2.0 * CAST(tt.ft AS DOUBLE) * CAST(co.f AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS dp
      |FROM tp JOIN tt USING (tok) JOIN pa USING (p) CROSS JOIN co
      |GROUP BY tp.tok, tt.ft, co.f""".stripMargin

  // q359: winnowing fingerprints (TextDedup.winnowFingerprints, the
  // MOSS selection) over a 1-in-5 doc sample — k-gram rolling hashes,
  // per-window min with the rightmost-tie rule, dedup. The oracle
  // replays the fold with list_reduce (left fold + <= ⇒ rightmost).
  def q359Winnowing(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextDedup.winnowFingerprints(
      t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
      "doc_id", "text", k = 5, window = 4)

  val q359Sql: String =
    """WITH pw AS (
      |  SELECT [1, 257, 66049, 16974593, 67503107] AS p),
      |d AS (SELECT doc_id, text FROM documents
      |      WHERE doc_id % 5 = 0 AND length(text) >= 5),
      |st AS (
      |  SELECT doc_id,
      |    list_transform(range(1, length(text) + 1), i ->
      |      CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))
      |      AS codes
      |  FROM d),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(codes) - 3), i ->
      |      list_sum(list_transform(range(0, 5), j ->
      |        codes[CAST(i + j AS INTEGER)] * p[CAST(j + 1 AS INTEGER)]))
      |        % 2147483647) AS h
      |  FROM st CROSS JOIN pw),
      |sel AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      range(1, greatest(CAST(2 AS BIGINT), len(h) - 2)), w ->
      |      list_reduce(list_transform(range(CAST(w AS INTEGER),
      |        CAST(least(w + 3, len(h)) + 1 AS INTEGER)), i ->
      |        {m: CAST(h[CAST(i AS INTEGER)] AS BIGINT),
      |         p: CAST(i AS BIGINT)}),
      |        (acc, x) -> CASE WHEN x.m <= acc.m THEN x ELSE acc END)))
      |      AS u
      |  FROM hs)
      |SELECT DISTINCT doc_id, u.p AS pos, u.m AS fingerprint
      |FROM sel""".stripMargin

  // q360: kNN-graph hubness audit (Similarity.hubness) — per-vector
  // in-degree of the exact cosine top-5 graph, anti-hub zeros kept.
  // The oracle replays q17's quantized cosine ranking over the whole
  // corpus and rolls up in-degrees with a zero-preserving left join.
  def q360Hubness(s: SparkSession, dir: String): DataFrame =
    Similarity.hubness(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5)

  // q445: ANN-fed hubness (Similarity.hubnessAnn) — q360's in-degree
  // audit with the O(N²) all-queries kNN stage swapped for the LSH
  // bucket self-join + exact cosine re-rank (the q352/q163 playbook:
  // same oracle verbatim, recall-1.0 precondition asserted per-SF in
  // PipelineSpec — in-degree is a pure function of the kNN frame, so
  // recall 1.0 ⇒ byte-equal; the undercount law below it is
  // documented on knnGraphAnn). Never all-pairs by plan (pinned in
  // PlanShapeSpec).
  def q445HubnessAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.hubnessAnn(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5)

  val q360Sql: String =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |    CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000.0)
      |      AS BIGINT) AS qv
      |  FROM embeddings),
      |dots AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
      |           SUM(a.qv * b.qv) AS dot
      |         FROM e a JOIN e b ON a.pos = b.pos
      |         WHERE a.vec_id <> b.vec_id GROUP BY 1, 2),
      |norms AS (SELECT vec_id, SUM(qv * qv) AS nrm FROM e GROUP BY 1),
      |scored AS (
      |  SELECT qid, nid,
      |    CAST(dot AS DOUBLE) /
      |      SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE))
      |      AS cosine
      |  FROM dots
      |  JOIN norms nq ON qid = nq.vec_id
      |  JOIN norms nn ON nid = nn.vec_id),
      |topk AS (
      |  SELECT nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY cosine DESC, nid ASC) AS rank
      |    FROM scored) WHERE rank <= 5),
      |deg AS (SELECT nid, CAST(COUNT(*) AS BIGINT) AS d
      |        FROM topk GROUP BY 1)
      |SELECT v.vec_id, COALESCE(deg.d, 0) AS in_degree
      |FROM embeddings v LEFT JOIN deg ON deg.nid = v.vec_id""".stripMargin

  // q361: shuffle-key skew advisor (Profile.skewAdvisor) — heavy keys
  // with exact counts, d6 share and the ⌈n/target⌉ salt factor that
  // would level each one.
  def q361SkewAdvisor(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.skewAdvisor(t(s, dir, "events"),
      Seq("event_type"), targetRowsPerTask = 5000L, topK = 10)

  val q361Sql: String =
    """WITH c AS (
      |  SELECT CAST(event_type AS VARCHAR) AS key,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot,
      |        CAST(COUNT(*) AS BIGINT) AS k
      |      FROM c),
      |r AS (SELECT key, n_rows,
      |        ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS rank
      |      FROM c)
      |SELECT CAST(rank AS BIGINT) AS rank, key, n_rows,
      |  CAST(CAST(CAST(n_rows AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS share,
      |  CAST((n_rows + 4999) // 5000 AS BIGINT) AS suggested_salt,
      |  tot AS total_rows, k AS distinct_keys
      |FROM r CROSS JOIN t WHERE rank <= 10""".stripMargin

  // q348: MMR diverse top-5 (Similarity.mmrSelect) — greedy
  // relevance/diversity re-rank inside a per-query top-20 window, all
  // comparisons on fixed-point longs (r6/m6 at 10⁶, step scores at
  // 10¹²). The oracle replays the greedy fold as a recursive CTE whose
  // state is the selected (index, score) list, with the same
  // struct-max (s6, −cid) tie rule.
  def q348Mmr(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrSelect(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") % 17 === 0, topN = 20, k = 5,
      lambda = 0.5)

  val q348Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      |  FROM embeddings),
      |n AS (SELECT vec_id, q,
      |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nrm
      |  FROM e),
      |qs AS (SELECT vec_id AS query_id, q AS qq, nrm AS qn
      |       FROM n WHERE vec_id % 17 = 0),
      |cs AS (SELECT vec_id AS cid, q AS cq, nrm AS cn
      |       FROM n WHERE vec_id % 17 <> 0),
      |sc AS (
      |  SELECT query_id, cid, cq, cn,
      |    CAST(floor(CAST(list_sum(list_transform(range(1, len(cq) + 1),
      |      i -> cq[CAST(i AS INTEGER)] * qq[CAST(i AS INTEGER)]))
      |      AS DOUBLE) * 1000000.0 /
      |      sqrt(CAST(cn AS DOUBLE) * CAST(qn AS DOUBLE))) AS BIGINT)
      |      AS r6
      |  FROM cs CROSS JOIN qs),
      |wnd AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY r6 DESC, cid ASC) AS rk
      |  FROM sc),
      |cand AS (
      |  SELECT query_id,
      |    list({rk: rk, cid: cid, cq: cq, cn: cn, r6: r6}
      |      ORDER BY rk) AS cands
      |  FROM wnd WHERE rk <= 20 GROUP BY query_id),
      |step(query_id, cands, s, sel) AS (
      |  SELECT query_id, cands, 0,
      |    CAST([] AS STRUCT(i INTEGER, s6 BIGINT)[])
      |  FROM cand
      |  UNION ALL
      |  SELECT query_id, cands, s + 1,
      |    list_append(sel, (
      |      SELECT {i: p.i, s6: p.s6} FROM (
      |        SELECT list_max(list_filter(list_transform(cands,
      |          (c, i0) ->
      |          CASE WHEN len(list_filter(sel, e -> e.i = i0)) > 0
      |          THEN NULL
      |          ELSE {s6: 500000 * c.r6 - 500000 * COALESCE(
      |              list_max(list_transform(sel, e ->
      |                CAST(floor(CAST(list_sum(list_transform(
      |                  range(1, len(c.cq) + 1), ii ->
      |                  c.cq[CAST(ii AS INTEGER)] *
      |                  cands[e.i].cq[CAST(ii AS INTEGER)]))
      |                  AS DOUBLE) * 1000000.0 /
      |                  sqrt(CAST(c.cn AS DOUBLE) *
      |                    CAST(cands[e.i].cn AS DOUBLE)))
      |                  AS BIGINT))), 0),
      |            negid: -c.cid, i: i0}
      |          END), x -> x IS NOT NULL)) AS p)))
      |  FROM step WHERE s < 5),
      |fin AS (SELECT query_id, cands, sel FROM step WHERE s = 5)
      |SELECT f.query_id, u.j AS rank,
      |  f.cands[f.sel[u.j].i].cid AS vec_id,
      |  CAST(CAST(CAST(f.sel[u.j].s6 AS DOUBLE) / 1000000000000.0
      |    AS DECIMAL(28,6)) AS DOUBLE) AS score
      |FROM fin f, (SELECT CAST(unnest(range(1, 6)) AS INTEGER) AS j) u
      |WHERE u.j <= len(f.sel)""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q390_weighted_percentiles", q390WeightedPercentiles, Some(q390Sql)),
    Entry("q391_chao1", q391Chao1, Some(q391Sql)),
    Entry("q386_cluster_agreement", q386ClusterAgreement, Some(q386Sql)),
    Entry("q382_random_projection", q382RandomProjection, Some(q382Sql)),
    Entry("q380_stratified_sample", q380StratifiedSample, Some(q380Sql)),
    Entry("q361_skew_advisor", q361SkewAdvisor, Some(q361Sql)),
    Entry("q360_hubness", q360Hubness, Some(q360Sql)),
    Entry("q445_hubness_ann", q445HubnessAnn, Some(q360Sql)),
    Entry("q359_winnowing", q359Winnowing, Some(q359Sql)),
    Entry("q358_dp_dispersion", q358DpDispersion, Some(q358Sql)),
    Entry("q357_mtld", q357Mtld, Some(q357Sql)),
    Entry("q352_dbscan_ann", q352DbscanAnn, Some(q347Sql)),
    Entry("q482_dbscan_ann_auto", q482DbscanAnnAuto, Some(q347Sql)),
    Entry("q483_hubness_ann_auto", q483HubnessAnnAuto, Some(q360Sql)),
    Entry("q348_mmr", q348Mmr, Some(q348Sql)),
    Entry("q347_dbscan", q347Dbscan, Some(q347Sql)),
    Entry("q345_knn_shapley", q345KnnShapley, Some(q345Sql)),
    Entry("q344_silhouette", q344Silhouette, Some(q344Sql)),
    Entry("q418_davies_bouldin", q418DaviesBouldin, Some(q418Sql)),
    Entry("q343_cdc_dup_pairs", q343CdcDup, Some(q343Sql)),
    Entry("q342_cdc_chunks", q342CdcChunks, Some(q342Sql)),
    Entry("q317_quantile_normalize", q317QuantileNormalize, Some(q317Sql)),
    Entry("q318_pack_ffd", q318PackFfd, Some(q318Sql)),
    Entry("q15_dedup_exact", q15DedupExact, Some(q15Sql)),
    Entry("q16_ngram_jaccard", q16NgramJaccard, Some(q16Sql)),
    Entry("q275_containment", q275Containment, Some(q275Sql)),
    Entry("q282_card_audit", q282CardAudit, Some(q282Sql)),
    Entry("q284_percentile_gate", q284PercentileGate, Some(q284Sql)),
    Entry("q17_knn", q17Knn, Some(q17Sql)),
    Entry("q18_text_stats", q18TextStats, Some(q18Sql)),
    Entry("q19_quality", q19Quality, Some(q19Sql)),
    Entry("q20_lang_id", q20LangId, Some(q20Sql)),
    Entry("q21_sessions", q21Sessions, Some(q21Sql)),
    Entry("q25_multimodal", q25Multimodal, Some(q25Sql)),
    Entry("q26_embed_dup", q26EmbedDup, Some(q26Sql)),
    Entry("q32_json_props", q32JsonProps, Some(q32Sql)),
    Entry("q207_variant_props", q207VariantProps, Some(q207Sql)),
    Entry("q46_dup_clusters", q46DupClusters, Some(q46Sql)),
    Entry("q47_regex_tokens", q47RegexTokens, Some(q47Sql)),
    Entry("q48_embed_dup_blocked", q48EmbedDupBlocked, Some(q26Sql)), // identical contract to q26
    Entry("q49_image_headers", q49ImageHeaders, Some(q49Sql)),
    Entry("q50_hash_split", q50HashSplit, Some(q50Sql)),
    Entry("q51_contamination", q51Contamination, Some(q51Sql)),
    Entry("q52_repetition", q52Repetition, Some(q52Sql)),
    Entry("q53_shuffle", q53Shuffle, Some(q53Sql)),
    Entry("q54_cluster_reps", q54ClusterReps, Some(q54Sql)),
    Entry("q57_pii_scrub", q57PiiScrub, Some(q57Sql)),
    Entry("q60_tfidf_terms", q60TfidfTerms, Some(q60Sql)),
    Entry("q61_stratified_sample", q61StratifiedSample, Some(q61Sql)),
    Entry("q64_approx_distinct", q64ApproxDistinct, None),
    Entry("q65_approx_quantiles", q65ApproxQuantiles, None),
    Entry("q71_frame_sample", q71FrameSample, Some(q71Sql)),
    Entry("q73_heavy_hitters", q73HeavyHitters, None),
    Entry("q76_edit_near_dup", q76EditNearDup, Some(q76Sql)),
    Entry("q255_entity_resolution", q255EntityResolution, Some(q255Sql)),
    Entry("q80_weighted_sample", q80WeightedSample, Some(q80Sql)),
    Entry("q81_imageio_round_trip", q81ImageioRoundTrip, Some(q81Sql)),
    Entry("q82_sql_functions", q82SqlFunctions, Some(q82Sql)),
    Entry("q87_embed_centroids", q87EmbedCentroids, Some(q87Sql)),
    Entry("q92_array_funcs", q92ArrayFuncs, Some(q92Sql)),
    Entry("q93_image_ahash", q93ImageAhash, Some(q93Sql)),
    Entry("q223_jpeg_profile", q223JpegProfile, None),
    Entry("q95_audio_stats", q95AudioStats, Some(q95Sql)),
    Entry("q99_chunking", q99Chunking, Some(q99Sql)),
    Entry("q100_sequence_packing", q100SequencePacking, Some(q100Sql)),
    Entry("q27_minhash_lsh", q27MinhashLsh, None),
    Entry("q211_minhash_portable", q211MinhashPortable, Some(q211Sql)),
    Entry("q213_simhash_portable", q213SimhashPortable, Some(q213Sql)),
    Entry("q214_cluster_sizes", q214ClusterSizes, Some(q214Sql)),
    Entry("q217_fingerprints_portable", q217FingerprintsPortable, Some(q217Sql)),
    Entry("q218_ann_ivf_portable", q218AnnIvfPortable, Some(q218Sql)),
    Entry("q249_semdedup", q249SemDeDup, Some(q249Sql)),
    Entry("q224_ann_ivfpq_portable", q224AnnIvfPq, Some(q224Sql)),
    Entry("q219_minhash_incremental", q219MinhashIncremental, Some(q219Sql)),
    Entry("q28_ann_lsh", q28AnnLsh, Some(q28Sql)),
    Entry("q31_ann_ivf", q31AnnIvf, None),
    Entry("q29_simhash_pairs", q29SimhashPairs, None),
    Entry("q101_compression_signal", q101CompressionSignal, None),
    // lossless ⇒ q16's SQL
    Entry("q112_jaccard_prefix", q112JaccardPrefix, Some(jaccardOracle(0.5))),
    Entry("q117_incremental_dedup", q117IncrementalDedup, Some(q117Sql)),
    Entry("q119_training_prep", q119TrainingPrep, Some(q119Sql)),
    Entry("q120_image_resize", q120ImageResize, Some(q120Sql)),
    Entry("q121_audio_decimate", q121AudioDecimate, Some(q121Sql)),
    Entry("q122_gif_frames", q122GifFrames, Some(q122Sql)),
    Entry("q30_fingerprints", q30Fingerprints, None))

  // q57: PII scrub — the fixture text contains no PII, so the entry
  // plants deterministic doc_id-derived PII in-plan (an email, an IPv4,
  // a long digit run — IDENTICAL expressions on both engines), then
  // runs the stage-ordered scrub. The oracle checks the risky part:
  // that the regex subset really does behave identically in Java's
  // engine (Spark) and RE2 (DuckDB), global replace included, and that
  // counts are stage-ordered (the planted digits inside the email
  // count as the email, not again as a number).
  def q57PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
      lit(".7 id "), (col("doc_id") + 1234567L).cast("string"))
    TextClean.scrubPii(
      t(s, dir, "documents").select(col("doc_id"), planted.as("text")),
      "text")
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        col("n_digit_runs"), col("scrubbed_text"))
  }

  val q57Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |      || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
      |      || '.7 id ' || CAST(doc_id + 1234567 AS VARCHAR) AS t0
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(t0,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |      '<EMAIL>', 'g') AS t1
      |  FROM aug),
      |s2 AS (
      |  SELECT doc_id, n_emails,
      |    CAST(len(regexp_extract_all(t1,
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
      |    regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
      |      '<IP>', 'g') AS t2
      |  FROM s1)
      |SELECT doc_id, n_emails, n_ips,
      |  CAST(len(regexp_extract_all(t2, '[0-9]{7,}')) AS BIGINT) AS n_digit_runs,
      |  regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g') AS scrubbed_text
      |FROM s2""".stripMargin

  // q60: per-document top-3 TF-IDF terms. The oracle checks the whole
  // pipeline shape (explode → tf → df → join → per-doc top-k) on the
  // integer-deterministic columns; the tf_idf double itself is excluded
  // because its ln() is libm-dependent in the last ulp (the RANK never
  // depends on it — see TextStats.topTermsTfIdf).
  def q60TfidfTerms(s: SparkSession, dir: String): DataFrame =
    TextStats.topTermsTfIdf(t(s, dir, "documents"), "doc_id", "text", k = 3)
      .withColumnRenamed("rank", "term_rank")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("term_rank"))

  val q60Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |                       ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)
      |      AS term_rank
      |  FROM tf JOIN dfreq USING (term))
      |SELECT doc_id, term, tf, df, CAST(term_rank AS BIGINT) AS term_rank
      |FROM ranked WHERE term_rank <= 3""".stripMargin

  // q61: stratified deterministic downsample — rebalance by language
  // (dominant 'en' cut to 25%, rare 'zh' kept whole, default 50%),
  // salted so membership is independent of the q50 split on the same
  // ids. The oracle recomputes the salted portable hash and the
  // per-stratum threshold.
  def q61StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.stratifiedSample(
      t(s, dir, "documents"), "doc_id", "lang",
      rates = Seq("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5, salt = "s1")
      .select(col("doc_id"), col("lang"))

  val q61Sql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substring(md5('s1:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 1000000 AS h
      |  FROM documents)
      |WHERE h < CASE lang WHEN 'en' THEN 250000
      |                    WHEN 'zh' THEN 1000000 ELSE 500000 END""".stripMargin

  // q71: deterministic frame sampling — every 7th frame index up to the
  // stub-decoded frame count, exploded one row per sampled frame (the
  // explode-before-decode shape that parallelizes per frame). Integer-
  // deterministic end to end, so fully oracle-checkable.
  def q71FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.fakeDecodeMeta(
        Multimodal.ingest(t(s, dir, "documents"), "text", "video")),
      stride = 7)
      .select(col("doc_id"), col("fake_n_frames"), col("frame_idx"))

  val q71Sql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(1 + octet_length(CAST(text AS BLOB)) % 30 AS INT) AS fake_n_frames
      |  FROM documents)
      |SELECT doc_id, fake_n_frames,
      |  CAST(unnest(generate_series(0, fake_n_frames - 1, 7)) AS INT) AS frame_idx
      |FROM f""".stripMargin

  // q73: Misra-Gries heavy hitters over the token stream — the custom
  // mergeable Aggregator (functions/HeavyHitters.scala). Declared
  // rows-only: which low-frequency counters survive depends on merge
  // order, so no cross-engine oracle for THIS fold; the support
  // guarantee (every term above n/(k+1) present, estimates = lower
  // bounds within budget) is asserted in PipelineSpec, and q222 is the
  // order-independent one-merge MG form that IS hash-exact checkable.
  def q73HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.functions.HeavyHitters.heavyHitters(
      graft.pipeline.TextStats.tokens(t(s, dir, "documents"), "text")
        .toDF("tok"),
      "tok", k = 32)

  // q76: edit-distance-verified near-dup pairs — shared-8-gram
  // candidates (∞ df-cap HERE because the oracle must be exact; the
  // operator default is bounded), then exact Levenshtein ≤ 200. Checks
  // that both engines' levenshtein implementations agree character for
  // character on real text.
  def q76EditNearDup(s: SparkSession, dir: String): DataFrame =
    TextDedup.editVerifiedPairs(
      t(s, dir, "documents"), "doc_id", "text",
      n = 8, minShared = 3, maxDist = 200, maxShingleDocs = Int.MaxValue)

  val q76Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, generate_subscripts(string_split(text,' '),1) AS pos,
      |         unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
      |        || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w
      |        || ' ' || lead(tok,5) OVER w || ' ' || lead(tok,6) OVER w
      |        || ' ' || lead(tok,7) OVER w AS shingle
      |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      |  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT p.doc_a, p.doc_b, p.n_shared,
      |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
      |FROM pairs p
      |JOIN documents da ON p.doc_a = da.doc_id
      |JOIN documents db ON p.doc_b = db.doc_id
      |WHERE levenshtein(da.text, db.text) <= 200""".stripMargin

  // q255: blocked entity resolution on part names — planted perturbed
  // twins (every 20th part re-keyed with its 4th name char dropped,
  // same brand+size so blocking catches it; identical expression in
  // the oracle), (p_brand, p_size) blocking, codegen'd Jaro-Winkler ≥
  // 0.88 + exact Levenshtein. The 0.88 cut sits 4.5e-4 from the
  // nearest fixture pair (measured) — far beyond cross-engine ulp
  // noise; jw is d6-truncated at the output contract point.
  def q255EntityResolution(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val base = p.select(col("p_partkey").as("pk"), col("p_name").as("nm"),
      col("p_brand"), col("p_size"))
    val shadow = p.filter(col("p_partkey") % 20 === 0)
      .select((col("p_partkey") + 1000000L).as("pk"),
        concat(col("p_name").substr(lit(1), lit(3)),
          col("p_name").substr(lit(5), length(col("p_name")))).as("nm"),
        col("p_brand"), col("p_size"))
    graft.pipeline.EntityResolution.blockedPairs(
      base.unionByName(shadow), "pk", "nm",
      blockCols = Seq("p_brand", "p_size"), jwMin = 0.88)
  }

  val q255Sql: String =
    """WITH base AS (
      |  SELECT p_partkey AS pk, p_name AS nm, p_brand, p_size FROM part
      |  UNION ALL
      |  SELECT p_partkey + 1000000,
      |    substring(p_name, 1, 3) || substring(p_name, 5),
      |    p_brand, p_size
      |  FROM part WHERE p_partkey % 20 = 0),
      |nrm AS (SELECT pk, lower(trim(nm)) AS nm, p_brand, p_size FROM base)
      |SELECT a.pk AS id_a, b.pk AS id_b,
      |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lev,
      |  CAST(CAST(jaro_winkler_similarity(a.nm, b.nm) AS DECIMAL(28,6))
      |    AS DOUBLE) AS jw
      |FROM nrm a JOIN nrm b
      |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.pk < b.pk
      |WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.88""".stripMargin

  // q80: weighted sample — keep probability proportional to document
  // length (clamped), id-deterministic via the salted portable hash.
  // The rate is one integer division, so the oracle reproduces it
  // bit-for-bit.
  def q80WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.weightedSample(
      t(s, dir, "documents"), "doc_id",
      rate = col("n_chars") / 1000.0, salt = "w1")
      .select(col("doc_id"), col("n_chars"))

  val q80Sql: String =
    """SELECT doc_id, n_chars FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(concat('0x', substring(md5('w1:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 1000000 AS h
      |  FROM documents)
      |WHERE h < LEAST(GREATEST(n_chars / 1000.0, 0.0), 1.0) * 1000000""".stripMargin

  // q64/q65: sketch profiling — approx distinct users and approx value
  // quantiles per event type. Declared rows-only entries (sketch
  // estimates are engine-specific, so no DuckDB oracle can hash-match
  // them); error bounds vs the exact answers are asserted in
  // PipelineSpec, the same methodology as the LSH/ANN entries.
  def q64ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketches.approxDistinctByKey(
      t(s, dir, "events"), "event_type", "user_id", rsd = 0.02)

  def q65ApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sketches.approxQuantilesByKey(
      t(s, dir, "events"), "event_type", "value", probs = Seq(0.5, 0.95))

  // q81: REAL codec round-trip — encodeImagesBatched compresses a
  // deterministic pixel pattern through the JDK's javax.imageio PNG
  // writer IN the plan; the payload is then decoded two independent
  // ways: (a) imageMeta's byte-expression header parse and (b)
  // imageioDecodeBatch's full pixel decode (the default codec of
  // decodeImagesBatched). The entry emits the decoded dimensions plus
  // the header-parse agreement flag; the oracle predicts the spec
  // dimensions directly, so a pass certifies encoder, header parser and
  // pixel decoder all agree on real compressed bytes. (The decoded
  // pixel CHECKSUM is cross-checked against the generative formula in
  // PipelineSpec — it has no SQL-expressible oracle.)
  def q81ImageioRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").select(
      col("doc_id"),
      (col("n_chars") % 48 + 8).cast("int").as("spec_w"),
      (col("doc_id") % 48 + 8).cast("int").as("spec_h"))
    val encoded = Multimodal.encodeImagesBatched(specs, "doc_id", "spec_w", "spec_h")
    val hdr = Multimodal.imageMeta(encoded)
      .select(col("doc_id"), col("image_format"),
        col("width").as("hdr_w"), col("height").as("hdr_h"))
    val dec = Multimodal.decodeImagesBatched(encoded, "doc_id")
      .toDF("doc_id", "dec_w", "dec_h", "pix_checksum")
    hdr.join(dec, "doc_id").select(
      col("doc_id"), col("image_format"),
      col("dec_w").as("width"), col("dec_h").as("height"),
      (col("dec_w") === col("hdr_w") && col("dec_h") === col("hdr_h"))
        .as("hdr_agrees"))
  }

  val q81Sql: String =
    """SELECT doc_id, 'png' AS image_format,
      |  CAST(n_chars % 48 + 8 AS INT) AS width,
      |  CAST(doc_id % 48 + 8 AS INT) AS height,
      |  TRUE AS hdr_agrees
      |FROM documents""".stripMargin

  // q82: the SQL-REGISTERED custom expressions — this entry computes
  // through `spark.sql` text, so `long_array_dot` must resolve via the
  // FunctionRegistry (GraftExtensions.install path), not the Column API.
  // Two dots per vector over the quantized embedding (norm² and a dot
  // with its own reversal — asymmetric, so argument ORDER matters); the
  // DuckDB oracle reproduces the integer arithmetic with list_transform
  // + list_sum. A pass certifies registration, the parser→Expression
  // bridge, and the codegen'd loop itself, cross-engine.
  def q82SqlFunctions(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftExtensions.install(s)
    t(s, dir, "embeddings").createOrReplaceTempView("q82_embeddings")
    s.sql(
      """SELECT vec_id,
        |  long_array_dot(ql, ql) AS norm_sq,
        |  long_array_dot(ql, reverse(ql)) AS rev_dot
        |FROM (
        |  SELECT vec_id,
        |    transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
        |  FROM q82_embeddings)""".stripMargin)
  }

  val q82Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS ql
      |  FROM embeddings)
      |SELECT vec_id,
      |  CAST(list_sum(list_transform(ql, x -> x * x)) AS BIGINT) AS norm_sq,
      |  CAST(list_sum(list_transform(range(1, len(ql) + 1),
      |    i -> ql[i] * ql[len(ql) + 1 - i])) AS BIGINT) AS rev_dot
      |FROM q""".stripMargin

  // q87: per-label embedding centroids, dimension-wise
  // (Similarity.centroids: posexplode + map-side-combined (label, dim)
  // aggregation; decimal-sum discipline makes the mean bit-stable across
  // partitionings). The DuckDB oracle zips two parallel unnests — value
  // and subscript — then averages with the same decimal cast.
  def q87EmbedCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")

  val q87Sql: String =
    """WITH x AS (
      |  SELECT label, unnest(range(len(embedding))) AS dim_idx,
      |    unnest(embedding) AS e
      |  FROM embeddings)
      |SELECT label, dim_idx,
      |  CAST(sum(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
      |    / count(*) AS centroid,
      |  count(*) AS n
      |FROM x GROUP BY label, dim_idx""".stripMargin

  // q92: higher-order array function battery over the embedding column —
  // sort+index, lambda filter, transform+fold, zip_with+reverse — the
  // in-row array surface a vector pipeline leans on, all codegen-capable
  // built-ins, cross-checked against DuckDB's list functions. Fold sums
  // go through DECIMAL(28,6) with the accumulator re-cast each step
  // (decimal addition widens precision; an unstable accumulator type
  // would fail analysis), so both engines' folds are order-exact.
  def q92ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val dec0 = lit(0).cast("decimal(28,6)")
    def d(c: Column): Column = c.cast("double")
    val e = col("embedding")
    t(s, dir, "embeddings").select(
      col("vec_id"),
      d(sort_array(e, asc = false).getItem(0)).as("top1"),
      d(sort_array(e, asc = false).getItem(1)).as("top2"),
      d(sort_array(e, asc = false).getItem(2)).as("top3"),
      size(filter(e, v => v > lit(0.0))).cast("bigint").as("n_pos"),
      d(aggregate(e, dec0,
        (acc, x) => (acc + abs(d(x)).cast("decimal(28,6)")).cast("decimal(28,6)")))
        .as("l1_norm"),
      d(aggregate(
        zip_with(e, reverse(e), (x, y) => (d(x) * d(y)).cast("decimal(28,6)")),
        dec0, (acc, x) => (acc + x).cast("decimal(28,6)")))
        .as("rev_dot"))
  }

  val q92Sql: String =
    """SELECT vec_id,
      |  CAST(list_sort(embedding, 'DESC')[1] AS DOUBLE) AS top1,
      |  CAST(list_sort(embedding, 'DESC')[2] AS DOUBLE) AS top2,
      |  CAST(list_sort(embedding, 'DESC')[3] AS DOUBLE) AS top3,
      |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      |  CAST(list_sum(list_transform(embedding,
      |    x -> CAST(abs(CAST(x AS DOUBLE)) AS DECIMAL(28,6)))) AS DOUBLE)
      |    AS l1_norm,
      |  CAST(list_sum(list_transform(range(1, len(embedding) + 1),
      |    i -> CAST(CAST(embedding[i] AS DOUBLE)
      |      * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE)
      |      AS DECIMAL(28,6)))) AS DOUBLE) AS rev_dot
      |FROM embeddings""".stripMargin

  // q93: perceptual aHash over REAL compressed pixels — encode the
  // deterministic pattern at per-doc dimensions to actual PNG bytes,
  // decode through javax.imageio, and average-hash the decoded raster
  // (Multimodal.aHashImagesBatched). The DuckDB oracle has NO image
  // codec: it rebuilds every hash arithmetically from the synthetic
  // pixel formula over an exploded (x, y) grid — so a pass proves the
  // codec round-trip is pixel-exact AND the hash arithmetic is
  // engine-portable. The all-integer pipeline (BT.601 luma, floor-div
  // cell grid) makes that cross-engine equality exact, not approximate.
  def q93ImageAhash(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").select(
      col("doc_id"),
      (col("n_chars") % 48 + 8).cast("int").as("spec_w"),
      (col("doc_id") % 48 + 8).cast("int").as("spec_h"))
    val encoded = Multimodal.encodeImagesBatched(specs, "doc_id", "spec_w", "spec_h")
    Multimodal.aHashImagesBatched(encoded, "doc_id").toDF()
  }

  val q93Sql: String =
    """WITH spec AS (
      |  SELECT doc_id, CAST(n_chars % 48 + 8 AS BIGINT) AS w,
      |    CAST(doc_id % 48 + 8 AS BIGINT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM spec),
      |gray AS (
      |  SELECT doc_id,
      |    ((y * 8) // h) * 8 + (x * 8) // w AS cell,
      |    (299 * ((rgb >> 16) & 255) + 587 * ((rgb >> 8) & 255)
      |      + 114 * (rgb & 255)) // 1000 AS luma
      |  FROM (
      |    SELECT doc_id, w, h, i % w AS x, i // w AS y,
      |      (doc_id * 2654435761 + (i % w) * 7919 + (i // w) * 104729)
      |        & 16777215 AS rgb
      |    FROM px)),
      |cells AS (
      |  SELECT doc_id, cell, sum(luma) // count(*) AS ca
      |  FROM gray GROUP BY 1, 2),
      |m AS (SELECT doc_id, sum(ca) // 64 AS mean FROM cells GROUP BY 1)
      |SELECT c.doc_id,
      |  CAST(sum(CASE WHEN ca >= mean AND cell >= 32
      |      THEN CAST(1 AS BIGINT) << CAST(cell - 32 AS INT) ELSE 0 END)
      |    AS BIGINT) AS ahash_hi,
      |  CAST(sum(CASE WHEN ca >= mean AND cell < 32
      |      THEN CAST(1 AS BIGINT) << CAST(cell AS INT) ELSE 0 END)
      |    AS BIGINT) AS ahash_lo
      |FROM cells c JOIN m USING (doc_id) GROUP BY 1""".stripMargin

  // q223: JPEG — the dominant format of a real web crawl, and the one
  // lossy member of the codec matrix (PNG/BMP/GIF/WAV are bit-exact).
  // Encode the q93 synthetic pattern through the JDK JPEG writer at
  // quality 0.85, decode ONCE, emit dims + aHash. DECLARED ROWS-ONLY:
  // lossy coefficient quantization makes pixel values
  // implementation-specific, so no arithmetic pixel oracle can exist —
  // the exact-by-contract surface is container dimensions and
  // perceptual stability, both pinned in PipelineSpec (dims match the
  // spec table; aHash within a few Hamming bits of the lossless PNG
  // encode and across quality levels).
  def q223JpegProfile(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").select(
      col("doc_id"),
      (col("n_chars") % 48 + 8).cast("int").as("spec_w"),
      (col("doc_id") % 48 + 8).cast("int").as("spec_h"))
    val encoded = Multimodal.encodeJpegBatched(
      specs, "doc_id", "spec_w", "spec_h", quality = 0.85f)
    Multimodal.jpegProfileBatched(encoded, "doc_id").toDF()
  }

  // q95: WAV PCM sample decode — the audio twin of q93: encode the
  // deterministic PCM16 signal into REAL canonical WAV bytes, parse the
  // header with audioMeta's byte expressions AND decode the samples in
  // the batched codec, reducing to all-integer stats. The DuckDB oracle
  // has no audio reader: it rebuilds count/floor-mean-square/peak from
  // the sample formula, so a pass proves the byte round-trip is
  // sample-exact. Completes the multimodal decode story: image headers
  // (q49), image pixels (q81/q93), audio samples (here).
  def q95AudioStats(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").select(
      col("doc_id"), (col("n_chars") % 1500 + 100).cast("int").as("n_spec"))
    val wav = Multimodal.encodeWavBatched(specs, "doc_id", "n_spec")
    val hdr = Multimodal.audioMeta(wav)
      .select(col("doc_id"), col("audio_format"),
        col("sample_rate"), col("n_channels"))
    hdr.join(Multimodal.audioStatsBatched(wav, "doc_id").toDF(), "doc_id")
      .select(col("doc_id"), col("audio_format"), col("sample_rate"),
        col("n_channels"), col("n_samples"), col("mean_square"), col("peak"))
  }

  val q95Sql: String =
    """WITH spec AS (
      |  SELECT doc_id, CAST(n_chars % 1500 + 100 AS BIGINT) AS n
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, n,
      |    ((doc_id * 31 + unnest(range(n)) * 2654435761) & 65535) - 32768 AS smp
      |  FROM spec)
      |SELECT doc_id, 'wav' AS audio_format, 16000 AS sample_rate,
      |  1 AS n_channels,
      |  CAST(max(n) AS BIGINT) AS n_samples,
      |  CAST(sum(smp * smp) // max(n) AS BIGINT) AS mean_square,
      |  CAST(max(abs(smp)) AS BIGINT) AS peak
      |FROM v GROUP BY doc_id""".stripMargin

  // q121: REAL audio decimation — encode the synthetic PCM16 signal,
  // decimate ×4 (truncated-average sample boxes: JVM `/` and DuckDB `//`
  // both truncate toward zero), then integer stats over the RESULT.
  // The oracle rebuilds the decimated samples from the input formula:
  // decode, the decimation kernel and the WAV re-encode round-trip must
  // be sample-exact. The header parse pins the new sample rate.
  def q121AudioDecimate(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").select(
      col("doc_id"), (col("n_chars") % 1500 + 100).cast("int").as("n_spec"))
    val wav = Multimodal.encodeWavBatched(specs, "doc_id", "n_spec")
    val dec = Multimodal.decimateWavBatched(wav, "doc_id", factor = 4)
    val hdr = Multimodal.audioMeta(dec)
      .select(col("doc_id"), col("sample_rate"))
    hdr.join(Multimodal.audioStatsBatched(dec, "doc_id").toDF(), "doc_id")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"),
        col("mean_square"), col("peak"))
  }

  val q121Sql: String =
    """WITH spec AS (
      |  SELECT doc_id, CAST(n_chars % 1500 + 100 AS BIGINT) AS n
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, unnest(range(n)) AS i,
      |    ((doc_id * 31 + unnest(range(n)) * 2654435761) & 65535) - 32768 AS smp
      |  FROM spec),
      |d AS (
      |  SELECT doc_id, i // 4 AS oi, sum(smp) // count(*) AS osmp
      |  FROM v GROUP BY doc_id, i // 4)
      |SELECT doc_id, 4000 AS sample_rate,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(osmp * osmp) // count(*) AS BIGINT) AS mean_square,
      |  CAST(max(abs(osmp)) AS BIGINT) AS peak
      |FROM d GROUP BY doc_id""".stripMargin

  // q122: REAL multi-frame (animated GIF) round-trip — the video-modality
  // frame path through an actual codec: encode doc_id%5+2 full frames of
  // the two-color pattern, decode with getNumImages + per-frame raster
  // reads, reduce each frame to its white-pixel count. The oracle
  // rebuilds frame counts AND every frame's white count from the
  // pattern formula — container framing, palette round-trip and frame
  // rasters must all be exact. Docs capped at 100.
  def q122GifFrames(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), (col("doc_id") % 5 + 2).cast("int").as("nf"))
    val gifs = Multimodal.encodeGifAnimBatched(specs, "doc_id", "nf", 16, 16)
    Multimodal.decodeGifFramesBatched(gifs, "doc_id").toDF()
  }

  val q122Sql: String =
    """WITH ids AS (
      |  SELECT doc_id, doc_id % 5 + 2 AS nf
      |  FROM documents WHERE doc_id < 100),
      |fr AS (SELECT doc_id, nf, unnest(range(nf)) AS f FROM ids),
      |px AS (
      |  SELECT doc_id, nf, f,
      |    CASE WHEN (doc_id * 31 + f * 7 + gx.x * 3 + gy.y) % 5 < 2
      |         THEN 1 ELSE 0 END AS wht
      |  FROM fr,
      |    (SELECT unnest(range(16)) AS x) gx,
      |    (SELECT unnest(range(16)) AS y) gy)
      |SELECT doc_id, CAST(f AS INT) AS frame_idx,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  CAST(sum(wht) AS BIGINT) AS white_count
      |FROM px GROUP BY doc_id, f, nf""".stripMargin

  // q99: document chunking — fixed-width character chunks with overlap
  // (TextStats.chunkDocuments: in-row explode + substr, zero shuffles).
  // The oracle rebuilds every chunk with generate_series + substring —
  // chunk COUNT, boundaries and text must all agree.
  def q99Chunking(s: SparkSession, dir: String): DataFrame =
    TextStats.chunkDocuments(
      t(s, dir, "documents"), "doc_id", "text",
      chunkChars = 200, overlapChars = 50)

  val q99Sql: String =
    """WITH n AS (
      |  SELECT doc_id, text,
      |    greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS BIGINT)) AS nc
      |  FROM documents)
      |SELECT doc_id, unnest(range(nc)) AS chunk_idx,
      |  substring(text, CAST(unnest(range(nc)) * 150 + 1 AS INT), 200) AS chunk_text
      |FROM n""".stripMargin

  // q100: contiguous sequence packing — every document lands in the
  // capacity-sized bin where it starts in the doc_id-ordered size
  // stream (Sampling.packContiguous: sharded running sums + broadcast
  // offsets, NO single-partition window). The oracle computes the same
  // prefix with one global window — the sharded answer must equal it
  // exactly, the same law deterministicShuffle's oracle pins.
  def q100SequencePacking(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.packContiguous(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      orderCol = "doc_id", sizeCol = "n_chars", capacity = 8192L)
      .select(col("doc_id"), col("n_chars"), col("pack_prefix"), col("seq_bin"))

  val q100Sql: String =
    """SELECT doc_id, n_chars,
      |  CAST(sum(n_chars) OVER w - n_chars AS BIGINT) AS pack_prefix,
      |  CAST((sum(n_chars) OVER w - n_chars) // 8192 AS BIGINT) AS seq_bin
      |FROM documents
      |WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin

  // q120: REAL image resize through the codec — 16×16 synthetic PNGs
  // box-averaged to 8×8 (integer floor per channel), re-encoded, then
  // pixel-explode decoded to one row per RESIZED pixel. The oracle
  // rebuilds every resized pixel value from the synthetic-pattern
  // formula + the same 2×2 box-average arithmetic: codec decode, the
  // resize kernel and the re-encode round-trip must all be pixel-exact
  // for 6400 rows to hash-match. Documents capped at 100 to bound the
  // pixel-row count.
  def q120ImageResize(s: SparkSession, dir: String): DataFrame = {
    val specs = t(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"), lit(16).as("spec_w"), lit(16).as("spec_h"))
    val encoded = Multimodal.encodeImagesBatched(specs, "doc_id", "spec_w", "spec_h")
    val resized = Multimodal.resizeImagesBatched(encoded, "doc_id", 8, 8)
    Multimodal.decodePixelsBatched(resized, "doc_id").toDF()
  }

  val q120Sql: String =
    """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
      |grid AS (
      |  SELECT doc_id, ox.x, oy.y, dx.dx, dy.dy,
      |    ((doc_id * 2654435761 + (2*ox.x + dx.dx) * 7919
      |      + (2*oy.y + dy.dy) * 104729) & 16777215) AS v
      |  FROM ids,
      |    (SELECT unnest(range(8)) AS x) ox,
      |    (SELECT unnest(range(8)) AS y) oy,
      |    (SELECT unnest(range(2)) AS dx) dx,
      |    (SELECT unnest(range(2)) AS dy) dy)
      |SELECT doc_id, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
      |  CAST(((sum((v >> 16) & 255) // 4) << 16)
      |     | ((sum((v >> 8) & 255) // 4) << 8)
      |     | (sum(v & 255) // 4) AS INT) AS rgb
      |FROM grid GROUP BY doc_id, x, y""".stripMargin

  // q119: the END-TO-END training-data prep chain in one entry —
  // deterministic global shuffle → contiguous sequence packing over the
  // shuffled order → hash split — all three operators composed, and the
  // oracle rebuilds the ENTIRE chain (row_number over the md5 order,
  // prefix-sum bins over that order, md5 split) in one SQL statement:
  // every intermediate is deterministic, so composition stays hash-exact.
  def q119TrainingPrep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val shuffled = graft.pipeline.Sampling.deterministicShuffle(
      docs, "doc_id", seed = "r7", shards = 64)
    val packed = graft.pipeline.Sampling.packContiguous(
      shuffled, orderCol = "shuffle_pos", sizeCol = "n_chars",
      capacity = 8192L)
    val split = graft.pipeline.Sampling.hashSplit(
      packed, "doc_id",
      Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
    split.select(col("doc_id"), col("shuffle_pos"), col("seq_bin"),
      col("split"))
  }

  val q119Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY md5('r7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
      |      AS shuffle_pos
      |  FROM documents),
      |pk AS (
      |  SELECT doc_id, shuffle_pos,
      |    CAST((sum(n_chars) OVER w - n_chars) // 8192 AS BIGINT) AS seq_bin
      |  FROM sh WINDOW w AS (ORDER BY shuffle_pos ROWS UNBOUNDED PRECEDING))
      |SELECT doc_id, shuffle_pos, seq_bin,
      |  CASE WHEN h < 900000 THEN 'train'
      |       WHEN h < 950000 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT *,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 1000000 AS h
      |  FROM pk)""".stripMargin
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.functions.ByteEntropy
import graft.ops.{Profile, ZOrder}
import graft.pipeline.Behavior
import graft.pipeline.Exact.d6

/** Behavioral-analytics and data-quality profiling entries: funnel /
  * transition / retention over the events fixture (the questions a team
  * asks right after sessionization) and histogram / outlier / entropy
  * profiling (the data-quality snapshot before a corpus ships).
  *
  * All exact with cross-engine oracles. Determinism notes per entry —
  * the common discipline: timestamps at epoch-µs longs ([[Tables.tsUs]]'s
  * schema-adaptive read, matching the oracles' `epoch_us`), bucket and
  * period arithmetic on INTEGERS (`div`, never `/`), doubles only
  * where both engines derive them from identical exact values.
  */
object Analytics extends QueryFile {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.eventsUs(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_us"))

  private val dayUs = 86400L * 1000 * 1000

  // q102: sequential funnel signup → click → purchase within 24h of the
  // signup, greedy-first binding (Behavior.funnelUsers). 24h makes the
  // span bind at sf0.01 (150 → 65 → 15 users), so the oracle checks the
  // span arithmetic, not just presence of each event type.
  def q102Funnel(s: SparkSession, dir: String): DataFrame =
    Behavior.funnelCounts(ev(s, dir), "user_id", "event_type", "ts_us",
      steps = Seq("signup", "click", "purchase"), maxSpan = dayUs)

  val q102Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t1
      |       FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, s1.t1, min(e.ts_us) AS t2
      |       FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts_us > s1.t1
      |         AND e.ts_us <= s1.t1 + 86400000000 GROUP BY 1, 2),
      |s3 AS (SELECT e.user_id, min(e.ts_us) AS t3
      |       FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
      |         AND e.ts_us <= s2.t1 + 86400000000 GROUP BY 1)
      |SELECT 1 AS step_idx, 'signup' AS step_name,
      |       (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin

  // q103: Markov transition counts over each user's event sequence,
  // ordered by (ts_us, event_id) — the tiebreaker makes the sequence
  // deterministic in BOTH engines when two events share a µs.
  def q103Transitions(s: SparkSession, dir: String): DataFrame =
    Behavior.transitions(ev(s, dir), "user_id", "event_type", "ts_us",
      tieCol = "event_id")

  val q103Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS to_type
      |  FROM e)
      |SELECT from_type, to_type, count(*) AS n_transitions
      |FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  // q104: cohort retention on 6-hour periods (6h binds at sf0.01: 854
  // varied cells across 8 cohorts; a weekly grid is all-ones). Period
  // ids via integer `div` — double division of epoch-µs sits within a
  // few ulp of bucket boundaries.
  def q104CohortRetention(s: SparkSession, dir: String): DataFrame =
    Behavior.cohortRetention(ev(s, dir), "user_id", "ts_us",
      periodLen = 6L * 3600 * 1000 * 1000)

  val q104Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS period
      |  FROM events),
      |c AS (SELECT user_id, min(period) AS cohort FROM p GROUP BY 1)
      |SELECT c.cohort AS cohort_period, p.period - c.cohort AS period_offset,
      |  count(DISTINCT p.user_id) AS n_users
      |FROM p JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin

  // q105: equi-width histogram of document lengths via width_bucket
  // ([0,600) in 12 buckets of 50). The oracle reproduces SQL-standard
  // width_bucket with integer arithmetic ((12·x) // 600 + 1), exact
  // because the bucket quotient x/50 is never within an ulp of an
  // integer unless it IS one.
  def q105LengthHistogram(s: SparkSession, dir: String): DataFrame =
    Profile.histogram(t(s, dir, "documents"), "n_chars",
      lo = 0.0, hi = 600.0, nBuckets = 12)

  val q105Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN n_chars < 0 THEN 0
      |              WHEN n_chars >= 600 THEN 13
      |              ELSE (12 * n_chars) // 600 + 1 END AS bucket
      |  FROM documents)
      |SELECT bucket,
      |  CASE WHEN bucket BETWEEN 1 AND 12
      |       THEN (bucket - 1) * CAST(50.0 AS DOUBLE) END AS lo_edge,
      |  CASE WHEN bucket BETWEEN 1 AND 12
      |       THEN bucket * CAST(50.0 AS DOUBLE) END AS hi_edge,
      |  count(*) AS n_rows
      |FROM b GROUP BY 1""".stripMargin

  // q106: Tukey-fence outliers per event type. Values quantized to
  // integer CENTS first (the fixture's `value` carries 2 decimals), so
  // quartiles interpolate exact doubles at binary-exact fractions
  // (p·(n−1) mod 1 ∈ {0,.25,.5,.75}) and the fences are exact
  // eighth-cents — bit-identical in any IEEE engine REGARDLESS of each
  // engine's interpolation formula shape. Raw doubles would leave the
  // strict fence comparison one ulp from flipping.
  def q106IqrOutliers(s: SparkSession, dir: String): DataFrame =
    Profile.iqrOutliers(
      ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents")),
      keys = Seq("event_type"), valueCol = "value_cents", factor = 1.5)

  val q106Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |f AS (SELECT event_type,
      |        quantile_cont(CAST(cents AS DOUBLE), 0.25) AS q1,
      |        quantile_cont(CAST(cents AS DOUBLE), 0.75) AS q3
      |      FROM e GROUP BY 1),
      |g AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo,
      |             q3 + 1.5 * (q3 - q1) AS hi FROM f)
      |SELECT e.event_type, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN CAST(cents AS DOUBLE) < lo
      |                  OR CAST(cents AS DOUBLE) > hi
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(CAST(min(lo) AS DECIMAL(28,6)) AS DOUBLE) AS lo_fence,
      |  CAST(CAST(min(hi) AS DECIMAL(28,6)) AS DOUBLE) AS hi_fence
      |FROM e JOIN g USING (event_type) GROUP BY 1""".stripMargin

  // q107: per-document Shannon entropy (bits/symbol) through the
  // codegen'd ByteEntropy expression — zero shuffles; the oracle
  // recomputes it with DuckDB's entropy() aggregate over exploded
  // characters (byte ≡ char on the ASCII fixture; asserted ASCII-only
  // at entry construction would cost a pass, so documented instead).
  // Both sides round through DECIMAL(28,6): the two engines sum the
  // histogram in different orders.
  def q107ByteEntropy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        d6(ByteEntropy.byteEntropy(col("text"))).as("entropy_bits"))

  val q107Sql: String =
    """WITH c AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
      |SELECT doc_id,
      |  CAST(CAST(entropy(ch) AS DECIMAL(28,6)) AS DOUBLE) AS entropy_bits
      |FROM c GROUP BY doc_id""".stripMargin

  // q108: corpus character histogram — the alphabet/charset QA snapshot
  // (mojibake and encoding junk surface as unexpected symbols). Spark's
  // split(text, '') keeps a trailing '' (Java split, limit −1), DuckDB's
  // string_split does not — hence the explicit filter.
  def q108CharHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("ch"))
      .agg(count(lit(1)).as("n_occurrences"))

  val q108Sql: String =
    """SELECT ch, count(*) AS n_occurrences
      |FROM (SELECT unnest(string_split(text, '')) AS ch FROM documents)
      |GROUP BY ch""".stripMargin

  // q110: Z-order (Morton) keys over two bounded join/filter dimensions
  // — the data-skipping sort key behind ZOrder.layoutByZOrder (locality
  // and file-pruning proved in ZOrderSpec; this entry pins the key
  // arithmetic cross-engine). 8 bits per dimension; the oracle rebuilds
  // the interleave with explicit shift/mask terms.
  def q110ZorderKey(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_partkey") % 256).as("zx"),
        (col("l_suppkey") % 256).as("zy"))
      .withColumn("zkey", ZOrder.zKey(col("zx"), col("zy"), bits = 8))

  val q110Sql: String = {
    val terms = (0 until 8).flatMap(i => Seq(
      s"(((zx >> $i) & 1) << ${2 * i})",
      s"(((zy >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH b AS (
       |  SELECT l_orderkey, l_linenumber,
       |    l_partkey % 256 AS zx, l_suppkey % 256 AS zy FROM lineitem)
       |SELECT l_orderkey, l_linenumber, zx, zy, $terms AS zkey FROM b""".stripMargin
  }

  // q111: gaps-and-islands activity streaks per user on the 6h period
  // grid (q104's period arithmetic feeding the classic period −
  // row_number() island id). Longest-streak start ties break to the
  // earliest — deterministic in both engines.
  def q111Streaks(s: SparkSession, dir: String): DataFrame =
    Behavior.streaks(ev(s, dir), "user_id", "ts_us",
      periodLen = 6L * 3600 * 1000 * 1000)

  val q111Sql: String =
    """WITH p AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS period
      |  FROM events),
      |isl AS (
      |  SELECT user_id, period,
      |    period - row_number() OVER (PARTITION BY user_id ORDER BY period)
      |      AS isl_id
      |  FROM p),
      |runs AS (
      |  SELECT user_id, count(*) AS len, min(period) AS start
      |  FROM isl GROUP BY user_id, isl_id),
      |runs2 AS (
      |  SELECT *, max(len) OVER (PARTITION BY user_id) AS mx FROM runs)
      |SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak_len,
      |  min(CASE WHEN len = mx THEN start END) AS max_streak_start
      |FROM runs2 GROUP BY user_id""".stripMargin

  // q113: key-skew diagnostic over the lineitem part key — top-10 keys
  // by count with deterministic (count DESC, key ASC) tie-break, share
  // decimal-rounded. The read before a salted-join decision.
  def q113KeySkew(s: SparkSession, dir: String): DataFrame =
    Profile.keySkew(t(s, dir, "lineitem"), "l_partkey", topK = 10)

  val q113Sql: String =
    """WITH c AS (
      |  SELECT l_partkey, count(*) AS n_rows FROM lineitem
      |  WHERE l_partkey IS NOT NULL GROUP BY 1),
      |t AS (SELECT sum(n_rows) AS total FROM c)
      |SELECT l_partkey, n_rows,
      |  CAST(CAST(CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS share
      |FROM (SELECT * FROM c ORDER BY n_rows DESC, l_partkey LIMIT 10)
      |CROSS JOIN t""".stripMargin

  // q114: winsorized event values — q106's fences applied as a clip
  // (same cent quantization ⇒ same exact eighth-cent fences; every
  // output value is either the original integer or an exact fence).
  def q114Winsorize(s: SparkSession, dir: String): DataFrame =
    Profile.winsorizeIqr(
      ev(s, dir).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents")),
      keys = Seq("event_type"), valueCol = "value_cents", factor = 1.5)
      .select(col("event_id"), col("event_type"), col("value_cents"),
        col("value_cents_winsorized"))

  val q114Sql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS value_cents FROM events),
      |f AS (SELECT event_type,
      |        quantile_cont(CAST(value_cents AS DOUBLE), 0.25) AS q1,
      |        quantile_cont(CAST(value_cents AS DOUBLE), 0.75) AS q3
      |      FROM e GROUP BY 1),
      |g AS (SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo,
      |             q3 + 1.5 * (q3 - q1) AS hi FROM f)
      |SELECT event_id, e.event_type, value_cents,
      |  LEAST(GREATEST(CAST(value_cents AS DOUBLE), lo), hi)
      |    AS value_cents_winsorized
      |FROM e JOIN g USING (event_type)""".stripMargin

  // q116: unigram LM quality score — the corpus is its own model; each
  // doc's per-token log-likelihood (exp(−avg) = unigram perplexity).
  // avg_logprob d6-rounded: ln() may differ by an ulp across engines.
  def q116UnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val out = graft.pipeline.TextStats.unigramLogProb(
      t(s, dir, "documents"), "doc_id", "text")
    out.select(col("doc_id"), col("n_tokens"),
      d6(col("avg_logprob")).as("avg_logprob"))
  }

  val q116Sql: String =
    """WITH tk AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tk2 AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
      |c AS (SELECT tok, count(*) AS cnt FROM tk2 GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(CAST(sum(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
      |      / count(*) AS DECIMAL(28,6)) AS DOUBLE) AS avg_logprob
      |FROM tk2 JOIN c USING (tok) CROSS JOIN t
      |GROUP BY doc_id""".stripMargin

  // q118: per-key top-k through the CUSTOM physical operator
  // (TopKPerKeyExec: one Exchange + bounded heaps, no sort) — the
  // LogicalPlan/SparkStrategy/SparkPlan extension point driver-checked
  // against DuckDB's window formulation. Total order via the
  // (price DESC, orderkey, linenumber) tie-break.
  def q118TopkPerKey(s: SparkSession, dir: String): DataFrame =
    graft.ops.TopK.perKey(
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice")),
      keyCols = Seq("l_returnflag"),
      orderBy = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc),
      k = 5)

  val q118Sql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM (SELECT l_returnflag, l_orderkey, l_linenumber,
      |          l_extendedprice FROM lineitem))
      |WHERE rn <= 5""".stripMargin

  // q133: per-key correlation/covariance between event value (cents)
  // and hour-of-day — the "does the metric move with time" profiling
  // read. Both engines accumulate co-moments in their own order and
  // merge shape; the inputs are identical integers and the sums stay
  // ≤ 2^53-exact territory relative to d6, so d6 rounding pins it.
  def q133GroupCorr(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").cast("double").as("cents"),
        (expr("ts_us div 3600000000") % 24).cast("double").as("hr"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        d6(corr(col("cents"), col("hr"))).as("corr_value_hour"),
        d6(covar_samp(col("cents"), col("hr"))).as("covar_value_hour"))

  val q133Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS cents,
      |    CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
      |      AS DOUBLE) AS hr
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(CAST(corr(cents, hr) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS corr_value_hour,
      |  CAST(CAST(covar_samp(cents, hr) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS covar_value_hour
      |FROM e GROUP BY 1""".stripMargin

  // q154: robust (median/MAD) outlier statistics per event type — the
  // heavy-tail-immune sibling of q106's Tukey fences. Values quantize
  // to integer cents (q106's discipline) so both medians interpolate
  // exact doubles; the modified z-score 0.6745·(c−med)/MAD compares
  // against 3.5 (Iglewicz-Hoaglin) on bit-identical inputs, so the
  // outlier count is deterministic cross-engine. MAD = 0 (a majority
  // of identical values) guards to zero outliers.
  def q154RobustMad(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").cast("double").as("c"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("percentile(c, 0.5)").as("med"))
    val dev = e.join(med, "event_type")
      .select(col("event_type"), col("c"), col("med"),
        abs(col("c") - col("med")).as("ad"))
    val st = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), expr("percentile(ad, 0.5)").as("mad"),
        max(col("med")).as("med"))
    val outl = dev.drop("med").join(st, "event_type")
      .filter(col("mad") > 0 &&
        abs(lit(0.6745) * (col("c") - col("med")) / col("mad")) > 3.5)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_outliers"))
    st.join(outl, Seq("event_type"), "left")
      .select(col("event_type"), col("n"),
        d6(col("med")).as("median_cents"), d6(col("mad")).as("mad_cents"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }

  val q154Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) AS c
      |  FROM events),
      |med AS (SELECT event_type, quantile_cont(c, 0.5) AS med
      |        FROM e GROUP BY 1),
      |dev AS (SELECT e.event_type, c, med, abs(c - med) AS ad
      |        FROM e JOIN med USING (event_type)),
      |st AS (SELECT event_type, count(*) AS n,
      |         quantile_cont(ad, 0.5) AS mad, max(med) AS med
      |       FROM dev GROUP BY 1),
      |outl AS (
      |  SELECT dev.event_type, count(*) AS n_outliers
      |  FROM dev JOIN st USING (event_type)
      |  WHERE st.mad > 0
      |    AND abs(0.6745 * (dev.c - st.med) / st.mad) > 3.5
      |  GROUP BY 1)
      |SELECT st.event_type, st.n,
      |  CAST(CAST(st.med AS DECIMAL(28,6)) AS DOUBLE) AS median_cents,
      |  CAST(CAST(st.mad AS DECIMAL(28,6)) AS DOUBLE) AS mad_cents,
      |  coalesce(outl.n_outliers, 0) AS n_outliers
      |FROM st LEFT JOIN outl USING (event_type)""".stripMargin

  // q134: equi-depth decile assignment of document lengths through
  // Profile.quantileBuckets — the scale-correct ntile (boundaries
  // broadcast, assignment in-row; a global ORDER BY window would
  // serialize the corpus through one partition). Boundaries rounded to
  // 4 decimals both sides: decile fractions aren't binary-exact and the
  // two engines' interpolation FORMULAS differ in shape by ulps.
  def q134QuantileBuckets(s: SparkSession, dir: String): DataFrame =
    Profile.quantileBuckets(
      t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "n_chars", nBuckets = 10)

  val q134Sql: String =
    """WITH b AS (
      |  SELECT list_transform(
      |    quantile_cont(CAST(n_chars AS DOUBLE),
      |      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    q -> round(q, 4)) AS bs
      |  FROM documents)
      |SELECT doc_id, n_chars,
      |  CAST(len(list_filter((SELECT bs FROM b),
      |    q -> q <= CAST(n_chars AS DOUBLE))) AS BIGINT) AS bucket
      |FROM documents""".stripMargin

  // q182: per-user inter-arrival burstiness — gap count/min/max plus
  // d6-rounded mean and coefficient of variation, moments from EXACT
  // integer sums (Σg long, Σg² through DECIMAL — a µs gap squared
  // overflows BIGINT in both engines) with the final double arithmetic
  // written in the identical order on both sides.
  def q182InterArrival(s: SparkSession, dir: String): DataFrame =
    Behavior.interArrivalStats(ev(s, dir), "user_id", "ts_us")

  val q182Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |g0 AS (
      |  SELECT user_id,
      |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) - ts_us AS gap
      |  FROM e),
      |g AS (SELECT user_id, gap FROM g0 WHERE gap IS NOT NULL),
      |a AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(gap) AS BIGINT) AS s1,
      |    SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS s2,
      |    MIN(gap) AS min_gap, MAX(gap) AS max_gap
      |  FROM g GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT user_id, n + 1 AS n_events, min_gap, max_gap,
      |  s1 // n AS mean_gap_us,
      |  CAST(CAST(
      |    SQRT(GREATEST(
      |      (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0))
      |    / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS cv_gap
      |FROM a""".stripMargin

  // q183: hourly event-rate anomalies per event type — each hour bucket
  // vs its trailing-24h mean/σ at τ=3. The anomaly flag is an exact
  // INTEGER inequality over the frame's sums (no float boundary can
  // flip it); mean and z are d6 doubles computed in identical order on
  // both sides, NULL during the <12-bucket warm-up and (for z) on
  // zero-variance frames.
  def q183RateAnomalies(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.rateAnomalies(
      ev(s, dir), Seq("event_type"), "ts_us", bucketUs = 3600L * 1000 * 1000)

  val q183Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b FROM events),
      |c AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |wnd AS (
      |  SELECT event_type, b, c,
      |    COUNT(c) OVER w AS n,
      |    CAST(SUM(c) OVER w AS BIGINT) AS s1,
      |    CAST(SUM(c*c) OVER w AS BIGINT) AS s2
      |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY b
      |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, b * 3600000000 AS bucket_start_us,
      |  c AS n_events, n AS n_baseline,
      |  CASE WHEN n >= 12 THEN
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS baseline_mean,
      |  CASE WHEN n >= 12 AND
      |      (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0.0 THEN
      |    CAST(CAST(
      |      (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z_score,
      |  CASE WHEN n >= 12 AND
      |    (n*c - s1) * (n*c - s1) * (n - 1) > 9 * n * (n*s2 - s1*s1)
      |    THEN 1 ELSE 0 END AS is_anomaly
      |FROM wnd""".stripMargin

  // q186: top-20 session paths — the most common first-10-event-type
  // sequences across 30-minute-gap sessions (q21's session rule).
  // Event order inside a path ties by event_id, the top-k cuts on the
  // unique (count DESC, path ASC) key, so the strings and the cut are
  // deterministic on both sides.
  def q186SessionPaths(s: SparkSession, dir: String): DataFrame =
    Behavior.sessionPaths(ev(s, dir), "user_id", "event_type", "ts_us",
      gap = "1800000000" /* 30 min in µs over the long ts */,
      tieBreak = Seq("event_id"))

  val q186Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |flag AS (
      |  SELECT user_id, event_id, event_type, us,
      |    CASE WHEN lag(us) OVER w IS NULL OR us > lag(us) OVER w + 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type, us,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flag),
      |first10 AS (
      |  SELECT user_id, session_id, event_type, us, event_id
      |  FROM sess
      |  QUALIFY row_number() OVER (PARTITION BY user_id, session_id
      |    ORDER BY us, event_id) <= 10),
      |paths AS (
      |  SELECT user_id, session_id,
      |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
      |  FROM first10 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1
      |QUALIFY row_number() OVER (ORDER BY COUNT(*) DESC, path ASC) <= 20""".stripMargin

  // q187: time-to-convert — q102's funnel bindings, but the delay
  // DISTRIBUTION per step instead of the headcount: exact integer
  // min/max µs plus exact sort-based p50/p90 over delays in SECONDS
  // (µs-magnitude d6 is cross-engine-unstable; see q182's note).
  def q187FunnelDelays(s: SparkSession, dir: String): DataFrame =
    Behavior.funnelDelays(ev(s, dir), "user_id", "event_type", "ts_us",
      steps = Seq("signup", "click", "purchase"), maxSpan = dayUs)

  val q187Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t1
      |       FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, s1.t1, min(e.ts_us) AS t2
      |       FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts_us > s1.t1
      |         AND e.ts_us <= s1.t1 + 86400000000 GROUP BY 1, 2),
      |s3 AS (SELECT e.user_id, s2.t1, min(e.ts_us) AS t3
      |       FROM e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2
      |         AND e.ts_us <= s2.t1 + 86400000000 GROUP BY 1, 2),
      |d2 AS (SELECT t2 - t1 AS d FROM s2),
      |d3 AS (SELECT t3 - t1 AS d FROM s3)
      |SELECT 2 AS step_idx, 'click' AS step_name, COUNT(*) AS n_users,
      |  MIN(d) AS min_delay_us, MAX(d) AS max_delay_us,
      |  CAST(CAST(quantile_cont(CAST(d AS DOUBLE) / 1000000.0, 0.5)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS p50_delay_s,
      |  CAST(CAST(quantile_cont(CAST(d AS DOUBLE) / 1000000.0, 0.9)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS p90_delay_s
      |FROM d2
      |UNION ALL
      |SELECT 3, 'purchase', COUNT(*), MIN(d), MAX(d),
      |  CAST(CAST(quantile_cont(CAST(d AS DOUBLE) / 1000000.0, 0.5)
      |    AS DECIMAL(28,6)) AS DOUBLE),
      |  CAST(CAST(quantile_cont(CAST(d AS DOUBLE) / 1000000.0, 0.9)
      |    AS DECIMAL(28,6)) AS DOUBLE)
      |FROM d3""".stripMargin

  // q250: Poisson-bootstrap percentile CI for the corpus mean document
  // length — the uncertainty band a curation report puts next to its
  // point estimate. 200 replicates, each a deterministic md5-seeded
  // Poisson(1) reweighting of the full corpus (the distributed
  // bootstrap: no global resample coordination); the oracle replays
  // every weight from the same integer inverse-CDF thresholds, so the
  // whole band is hash-exact.
  def q250BootstrapCi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.bootstrapCI(
      t(s, dir, "documents"), "doc_id", "n_chars", reps = 200)

  val q250Sql: String =
    """WITH r AS (SELECT unnest(generate_series(0, 199)) AS rep),
      |w AS (
      |  SELECT rep, n_chars,
      |    CASE
      |      WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
      |      WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
      |      WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
      |      WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
      |      ELSE 8 END AS wt
      |  FROM (
      |    SELECT r.rep, d.doc_id, d.n_chars,
      |      CAST(concat('0x', substring(md5('boot' || CAST(r.rep AS VARCHAR)
      |        || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |        % 1000000 AS u
      |    FROM r CROSS JOIN documents d) t0),
      |m AS (
      |  SELECT rep,
      |    CAST(CAST(CAST(SUM(wt * n_chars) AS DOUBLE)
      |      / CAST(SUM(wt) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS mn
      |  FROM w GROUP BY 1),
      |rk AS (
      |  SELECT mn, ROW_NUMBER() OVER (ORDER BY mn ASC, rep ASC) AS rk
      |  FROM m),
      |b AS (
      |  SELECT MIN(CASE WHEN rk = 5 THEN mn END) AS ci_low,
      |         MIN(CASE WHEN rk = 196 THEN mn END) AS ci_high
      |  FROM rk),
      |base AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS est_mean
      |  FROM documents)
      |SELECT n_rows, CAST(200 AS BIGINT) AS n_reps, est_mean,
      |  ci_low, ci_high
      |FROM base CROSS JOIN b""".stripMargin

  // q251: Welch two-sample t-test on an md5-hash-assigned A/B split of
  // users, metric = events per user. A null experiment by construction
  // (both arms draw from one population), so the entry doubles as an
  // A/A sanity readout; exact-integer sufficient statistics make the
  // t and Welch-df hash-exact. significant uses the documented normal
  // approximation to the 5% critical value.
  def q251AbTtest(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("arm",
        (graft.pipeline.Sampling.portableHash(col("user_id"), "ab")
          >= 500000L).cast("int"))
    graft.pipeline.Stats.welchTTest(perUser, "arm", "n_events")
  }

  val q251Sql: String =
    """WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CASE WHEN CAST(concat('0x', substring(md5('ab:' ||
      |      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      >= 500000 THEN 1 ELSE 0 END AS arm
      |  FROM events GROUP BY 1),
      |agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN n_events ELSE 0 END) AS BIGINT)
      |      AS s0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN n_events ELSE 0 END) AS BIGINT)
      |      AS s1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN n_events * n_events ELSE 0 END)
      |      AS BIGINT) AS q0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN n_events * n_events ELSE 0 END)
      |      AS BIGINT) AS q1
      |  FROM pu),
      |d AS (
      |  SELECT n0, n1,
      |    CAST(s0 AS DOUBLE) / n0 AS m0, CAST(s1 AS DOUBLE) / n1 AS m1,
      |    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * (CAST(s0 AS DOUBLE)
      |      / n0)) / (n0 - 1.0) AS v0,
      |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE)
      |      / n1)) / (n1 - 1.0) AS v1
      |  FROM agg),
      |e AS (
      |  SELECT n0, n1, m0, m1, v0, v1, v0 / n0 AS se0, v1 / n1 AS se1
      |  FROM d)
      |SELECT n0 AS n_a, n1 AS n_b,
      |  CAST(CAST(m0 AS DECIMAL(28,6)) AS DOUBLE) AS mean_a,
      |  CAST(CAST(m1 AS DECIMAL(28,6)) AS DOUBLE) AS mean_b,
      |  CAST(CAST(v0 AS DECIMAL(28,6)) AS DOUBLE) AS var_a,
      |  CAST(CAST(v1 AS DECIMAL(28,6)) AS DOUBLE) AS var_b,
      |  CAST(CAST((m0 - m1) / SQRT(se0 + se1) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS t_stat,
      |  CAST(CAST(POW(se0 + se1, 2.0) /
      |    (POW(se0, 2.0) / (n0 - 1.0) + POW(se1, 2.0) / (n1 - 1.0))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS welch_df,
      |  CAST(CASE WHEN ABS((m0 - m1) / SQRT(se0 + se1)) >= 1.959964
      |    THEN 1 ELSE 0 END AS INT) AS significant
      |FROM e""".stripMargin

  // q256: population-drift monitor — PSI between the first and second
  // half of the event stream (epoch split at the in-plan midpoint
  // timestamp, the pure-integer inequality ts·2 ≥ mn+mx so no division
  // touches the split), over one categorical dimension (event_type)
  // and one fixed-width numeric one (50-unit value buckets — fixed
  // width, not quantiles, so bucket edges are engine-independent
  // IEEE ops). Laplace-smoothed shares; per-bucket terms d6 at the
  // contract point; dimension PSI as a decimal sum of truncated terms.
  def q256DriftMonitor(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val bounds = e.agg(min(col("ts_us")).as("_mn"), max(col("ts_us")).as("_mx"))
    val flagged = e.crossJoin(broadcast(bounds))
      .withColumn("is_cur", col("ts_us") * 2 >= col("_mn") + col("_mx"))
    graft.pipeline.Stats.psiDrift(flagged, "is_cur", Seq(
      "event_type" -> col("event_type"),
      "value_bucket" -> floor(col("value") / 50.0).cast("long")))
  }

  val q256Sql: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |bd AS (SELECT MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM e),
      |f AS (
      |  SELECT e.event_type, e.value, (e.ts_us * 2 >= bd.mn + bd.mx) AS cur
      |  FROM e CROSS JOIN bd),
      |c1 AS (
      |  SELECT event_type AS bucket,
      |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM f GROUP BY 1),
      |c2 AS (
      |  SELECT CAST(CAST(floor(value / 50.0) AS BIGINT) AS VARCHAR) AS bucket,
      |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
      |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM f GROUP BY 1),
      |s1 AS (
      |  SELECT 'event_type' AS dim, bucket, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE)
      |      / CAST(SUM(n_ref) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |    CAST(n_cur + 1 AS DOUBLE)
      |      / CAST(SUM(n_cur) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM c1),
      |s2 AS (
      |  SELECT 'value_bucket' AS dim, bucket, n_ref, n_cur,
      |    CAST(n_ref + 1 AS DOUBLE)
      |      / CAST(SUM(n_ref) OVER () + COUNT(*) OVER () AS DOUBLE) AS p,
      |    CAST(n_cur + 1 AS DOUBLE)
      |      / CAST(SUM(n_cur) OVER () + COUNT(*) OVER () AS DOUBLE) AS q
      |  FROM c2),
      |t1 AS (
      |  SELECT dim, bucket, n_ref, n_cur,
      |    CAST(CAST(p AS DECIMAL(28,6)) AS DOUBLE) AS p_ref,
      |    CAST(CAST(q AS DECIMAL(28,6)) AS DOUBLE) AS p_cur,
      |    CAST(CAST((p - q) * ln(p / q) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS psi_term
      |  FROM s1
      |  UNION ALL
      |  SELECT dim, bucket, n_ref, n_cur,
      |    CAST(CAST(p AS DECIMAL(28,6)) AS DOUBLE),
      |    CAST(CAST(q AS DECIMAL(28,6)) AS DOUBLE),
      |    CAST(CAST((p - q) * ln(p / q) AS DECIMAL(28,6)) AS DOUBLE)
      |  FROM s2)
      |SELECT dim, bucket, n_ref, n_cur, p_ref, p_cur, psi_term,
      |  CAST(SUM(CAST(psi_term AS DECIMAL(28,6)))
      |    OVER (PARTITION BY dim) AS DOUBLE) AS psi
      |FROM t1""".stripMargin

  // q262: pass@k estimator (Chen et al. 2021) — 40 planted "problems"
  // (user_id % 40), per-event sample verdicts from the portable md5
  // hash (≈25% pass), the paper's product-form estimator at k=1/5/10.
  // The oracle replays every per-problem product left-to-right.
  def q262PassAtK(s: SparkSession, dir: String): DataFrame = {
    val samples = ev(s, dir).select(
      (col("user_id") % 40).as("problem_id"),
      (graft.pipeline.Sampling.portableHash(col("event_id"), "pak")
        < 250000L).cast("int").as("passed"))
    graft.pipeline.Stats.passAtK(samples, "problem_id", "passed",
      Seq(1, 5, 10))
  }

  val q262Sql: String =
    """WITH sm AS (
      |  SELECT user_id % 40 AS problem_id,
      |    CASE WHEN CAST(concat('0x', substring(md5('pak:' ||
      |      CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      < 250000 THEN 1 ELSE 0 END AS passed
      |  FROM events),
      |agg AS (
      |  SELECT problem_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
      |    CAST(SUM(passed) AS BIGINT) AS n_correct
      |  FROM sm GROUP BY 1),
      |pk AS (
      |  SELECT a.problem_id, a.n_samples, a.n_correct, x.k,
      |    CASE WHEN a.n_samples < x.k THEN NULL
      |      ELSE CAST(CAST(1.0 - list_aggregate(
      |        list_transform(generate_series(0, x.k - 1), i ->
      |          CAST(a.n_samples - a.n_correct - i AS DOUBLE)
      |            / CAST(a.n_samples - i AS DOUBLE)), 'product')
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS p
      |  FROM agg a CROSS JOIN (VALUES (1), (5), (10)) x(k))
      |SELECT problem_id, n_samples, n_correct,
      |  MAX(CASE WHEN k = 1 THEN p END) AS pass_at_1,
      |  MAX(CASE WHEN k = 5 THEN p END) AS pass_at_5,
      |  MAX(CASE WHEN k = 10 THEN p END) AS pass_at_10
      |FROM pk GROUP BY 1, 2, 3""".stripMargin

  // q263: Mann-Whitney U on the q251 A/B split — the nonparametric
  // reading of the same experiment (per-user event counts are
  // heavy-tailed; the rank test is the robust readout). The oracle
  // replays the doubled-rank integer arithmetic and the tie-corrected
  // normal approximation in the identical expression order.
  def q263MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("arm",
        (graft.pipeline.Sampling.portableHash(col("user_id"), "ab")
          >= 500000L).cast("int"))
    graft.pipeline.Stats.mannWhitneyU(perUser, "arm", "n_events")
  }

  val q263Sql: String =
    """WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CASE WHEN CAST(concat('0x', substring(md5('ab:' ||
      |      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      >= 500000 THEN 1 ELSE 0 END AS arm
      |  FROM events GROUP BY 1),
      |bv AS (
      |  SELECT n_events AS v,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS t
      |  FROM pu GROUP BY 1),
      |r AS (
      |  SELECT c0, c1, t,
      |    COALESCE(SUM(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM bv),
      |agg AS (
      |  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c1 * (2 * cb + t + 1)) AS BIGINT) AS r1x2,
      |    CAST(SUM(t * t * t - t) AS BIGINT) AS ties
      |  FROM r),
      |d AS (
      |  SELECT n0, n1,
      |    r1x2 - n1 * (n1 + 1) AS u1x2,
      |    2 * n0 * n1 - (r1x2 - n1 * (n1 + 1)) AS u0x2,
      |    CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
      |      ((CAST(n0 + n1 AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE)
      |        / (CAST(n0 + n1 AS DOUBLE) * (CAST(n0 + n1 AS DOUBLE) - 1.0)))
      |      AS varu
      |  FROM agg)
      |SELECT n0 AS n_a, n1 AS n_b,
      |  CAST(CAST(CAST(u0x2 AS DOUBLE) / 2.0 AS DECIMAL(28,6)) AS DOUBLE)
      |    AS u_a,
      |  CAST(CAST(CAST(u1x2 AS DOUBLE) / 2.0 AS DECIMAL(28,6)) AS DOUBLE)
      |    AS u_b,
      |  CAST(CAST((CAST(u1x2 AS DOUBLE) - CAST(n0 AS DOUBLE) *
      |      CAST(n1 AS DOUBLE)) / (2.0 * sqrt(varu)) AS DECIMAL(28,6))
      |    AS DOUBLE) AS z_stat,
      |  CAST(CASE WHEN abs((CAST(u1x2 AS DOUBLE) - CAST(n0 AS DOUBLE) *
      |      CAST(n1 AS DOUBLE)) / (2.0 * sqrt(varu))) >= 1.959964
      |    THEN 1 ELSE 0 END AS INT) AS significant
      |FROM d""".stripMargin

  // q264: Benjamini-Hochberg FDR over 50 planted per-slice p-values
  // (md5-uniform ppm, so every threshold comparison is boundary-clean)
  // at q = 0.10 — step-up cutoff, monotone adjusted p-values, reject
  // set. The oracle replays rank, k* and the reverse cumulative min.
  def q264BhFdr(s: SparkSession, dir: String): DataFrame = {
    val hyp = ev(s, dir)
      .select((col("user_id") % 50).as("slice_id")).distinct()
      .withColumn("p_raw",
        graft.pipeline.Sampling.portableHash(col("slice_id"), "bh")
          .cast("double") / 1000000.0)
    graft.pipeline.Stats.bhFdr(hyp, "slice_id", "p_raw", q = 0.10)
  }

  val q264Sql: String =
    """WITH hyp AS (
      |  SELECT DISTINCT user_id % 50 AS slice_id FROM events),
      |p AS (
      |  SELECT slice_id,
      |    CAST(CAST(concat('0x', substring(md5('bh:' ||
      |      CAST(slice_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) / 1000000.0 AS pv
      |  FROM hyp),
      |rk AS (
      |  SELECT slice_id, pv,
      |    CAST(row_number() OVER (ORDER BY pv ASC, slice_id ASC)
      |      AS BIGINT) AS rank,
      |    COUNT(*) OVER () AS m
      |  FROM p),
      |ks AS (
      |  SELECT COALESCE(MAX(CASE WHEN pv * m <= CAST(rank AS DOUBLE) * 0.10
      |    THEN rank END), 0) AS kstar FROM rk),
      |adj AS (
      |  SELECT slice_id, pv, rank, m,
      |    MIN(pv * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
      |      OVER (ORDER BY rank DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
      |  FROM rk)
      |SELECT a.slice_id,
      |  CAST(CAST(a.pv AS DECIMAL(28,6)) AS DOUBLE) AS p_value,
      |  a.rank,
      |  CAST(CAST(LEAST(a.padj, 1.0) AS DECIMAL(28,6)) AS DOUBLE) AS p_adj,
      |  CAST(CASE WHEN a.rank <= ks.kstar THEN 1 ELSE 0 END AS INT)
      |    AS rejected
      |FROM adj a CROSS JOIN ks""".stripMargin

  // q265: Cohen's kappa between two planted raters over documents —
  // rater A buckets by length div 100 (capped at 3); rater B agrees
  // except on every doc_id % 7 < 2, where its reading shifts one
  // bucket up — so observed agreement ~5/7 against a skewed marginal.
  // The oracle rebuilds the confusion marginals and the identical
  // kappa arithmetic.
  def q265CohensKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = least(floor(length(col("text")) / 100).cast("long"), lit(3L))
    val b = least(floor((length(col("text")) +
      when(col("doc_id") % 7 < 2, 100).otherwise(0)) / 100).cast("long"),
      lit(3L))
    graft.pipeline.Stats.cohensKappa(
      docs.select(a.as("rater_a"), b.as("rater_b")), "rater_a", "rater_b")
  }

  val q265Sql: String =
    """WITH rt AS (
      |  SELECT
      |    LEAST(CAST(floor(length(text) / 100) AS BIGINT), 3) AS a,
      |    LEAST(CAST(floor((length(text) +
      |      CASE WHEN doc_id % 7 < 2 THEN 100 ELSE 0 END) / 100)
      |      AS BIGINT), 3) AS b
      |  FROM documents),
      |conf AS (SELECT CAST(a AS VARCHAR) AS a, CAST(b AS VARCHAR) AS b,
      |         CAST(COUNT(*) AS BIGINT) AS n FROM rt GROUP BY 1, 2),
      |agg AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tot,
      |    CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS agree
      |  FROM conf),
      |ma AS (SELECT a AS k, SUM(n) AS na FROM conf GROUP BY 1),
      |mb AS (SELECT b AS k, SUM(n) AS nb FROM conf GROUP BY 1),
      |pe AS (SELECT COALESCE(CAST(SUM(na * nb) AS BIGINT), 0) AS penum
      |       FROM ma JOIN mb USING (k))
      |SELECT agg.tot AS n_items,
      |  CAST(CAST(CAST(agree AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS po,
      |  CAST(CAST(CAST(penum AS DOUBLE) /
      |    (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pe,
      |  CAST(CAST((CAST(agree AS DOUBLE) / CAST(tot AS DOUBLE) -
      |    CAST(penum AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))
      |    / (1.0 - CAST(penum AS DOUBLE) /
      |      (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS kappa
      |FROM agg CROSS JOIN pe""".stripMargin

  // q268: k-anonymity audit over the customer quasi-identifier pair
  // (nation, market segment) at k = 10 — every equivalence class with
  // its size and violation flag; the release gate reads the flags.
  def q268KAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.kAnonymity(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)

  val q268Sql: String =
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(COUNT(*) AS BIGINT) AS n_records,
      |  CAST(CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS INT)
      |    AS is_violation
      |FROM customer GROUP BY 1, 2""".stripMargin

  // q276: Fleiss' kappa over THREE planted raters (q265's pair
  // extended): rater 1 buckets length div 100 (cap 3); raters 2/3
  // shift one bucket up on disjoint id slices (doc_id % 7 < 2 and
  // doc_id % 5 = 0). The oracle rebuilds n_ij, the exact integer
  // sums and the identical kappa expression order.
  def q276FleissKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def bucket(shiftWhen: Column) =
      least(floor((length(col("text")) +
        when(shiftWhen, 100).otherwise(0)) / 100).cast("long"), lit(3L))
    graft.pipeline.Stats.fleissKappa(
      docs.select(col("doc_id"),
        bucket(lit(false)).as("r1"),
        bucket(col("doc_id") % 7 < 2).as("r2"),
        bucket(col("doc_id") % 5 === 0).as("r3")),
      "doc_id", Seq("r1", "r2", "r3"))
  }

  val q276Sql: String =
    """WITH rt AS (
      |  SELECT doc_id,
      |    LEAST(CAST(floor(length(text) / 100) AS BIGINT), 3) AS r1,
      |    LEAST(CAST(floor((length(text) +
      |      CASE WHEN doc_id % 7 < 2 THEN 100 ELSE 0 END) / 100)
      |      AS BIGINT), 3) AS r2,
      |    LEAST(CAST(floor((length(text) +
      |      CASE WHEN doc_id % 5 = 0 THEN 100 ELSE 0 END) / 100)
      |      AS BIGINT), 3) AS r3
      |  FROM documents),
      |v AS (
      |  SELECT doc_id, CAST(r1 AS VARCHAR) AS c FROM rt
      |  UNION ALL SELECT doc_id, CAST(r2 AS VARCHAR) FROM rt
      |  UNION ALL SELECT doc_id, CAST(r3 AS VARCHAR) FROM rt),
      |nij AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM v GROUP BY 1, 2),
      |pi AS (SELECT doc_id, SUM(n * n) AS s2 FROM nij GROUP BY 1),
      |ct AS (SELECT CAST(SUM(cj * cj) AS BIGINT) AS sc2 FROM
      |       (SELECT c, SUM(n) AS cj FROM nij GROUP BY 1) x),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS ni,
      |       CAST(SUM(s2) AS BIGINT) AS ss2 FROM pi)
      |SELECT ag.ni AS n_items, CAST(3 AS BIGINT) AS n_raters,
      |  CAST(CAST((CAST(ag.ss2 AS DOUBLE) - CAST(ag.ni AS DOUBLE) * 3)
      |    / ((CAST(ag.ni AS DOUBLE) * 3) * 2.0) AS DECIMAL(28,6))
      |    AS DOUBLE) AS p_bar,
      |  CAST(CAST(CAST(ct.sc2 AS DOUBLE) /
      |    ((CAST(ag.ni AS DOUBLE) * 3) * (CAST(ag.ni AS DOUBLE) * 3))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS p_e,
      |  CAST(CAST(((CAST(ag.ss2 AS DOUBLE) - CAST(ag.ni AS DOUBLE) * 3)
      |      / ((CAST(ag.ni AS DOUBLE) * 3) * 2.0)
      |    - CAST(ct.sc2 AS DOUBLE) /
      |      ((CAST(ag.ni AS DOUBLE) * 3) * (CAST(ag.ni AS DOUBLE) * 3)))
      |    / (1.0 - CAST(ct.sc2 AS DOUBLE) /
      |      ((CAST(ag.ni AS DOUBLE) * 3) * (CAST(ag.ni AS DOUBLE) * 3)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS kappa
      |FROM ag CROSS JOIN ct""".stripMargin

  // q277: l-diversity audit over the q268 classes with the account-
  // balance band (floor(acctbal/2000), 6 ordinal bands) as the
  // sensitive attribute at l = 3. The oracle rebuilds the per-class
  // value histogram, the d6-before-sum entropy terms and exp.
  def q277LDiversity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.lDiversity(
      t(s, dir, "customer").withColumn("bal_band",
        floor(col("c_acctbal") / lit(2000.0)).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 3)

  val q277Sql: String =
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR) AS sv
      |  FROM customer),
      |pv AS (SELECT c_nationkey, c_mktsegment, sv,
      |         CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3),
      |wn AS (SELECT *, SUM(c) OVER
      |         (PARTITION BY c_nationkey, c_mktsegment) AS n FROM pv)
      |SELECT c_nationkey, c_mktsegment,
      |  CAST(MAX(n) AS BIGINT) AS n_records,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_l,
      |  CAST(CAST(exp(CAST(SUM(CAST(
      |      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |        ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      AS DECIMAL(28,6))) AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS entropy_l,
      |  CAST(CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS INT)
      |    AS is_violation
      |FROM wn GROUP BY 1, 2""".stripMargin

  // q278: t-closeness over the same classes/attribute at t = 0.25 —
  // the EMD of each class's band distribution against the global one.
  // The oracle replays the classes x domain grid, the per-class
  // cumulative windows and the exact integer numerators (HUGEINT
  // there, decimal(38,0) in the engine).
  def q278TCloseness(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.tCloseness(
      t(s, dir, "customer").withColumn("bal_band",
        floor(col("c_acctbal") / lit(2000.0)).cast("long")),
      Seq("c_nationkey", "c_mktsegment"), "bal_band", threshold = 0.25)

  val q278Sql: String =
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS v FROM customer),
      |dom AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS g FROM b GROUP BY 1),
      |dom2 AS (SELECT v, g,
      |    CAST((SELECT COUNT(*) FROM dom) AS BIGINT) AS m,
      |    CAST((SELECT SUM(g) FROM dom) AS BIGINT) AS gn FROM dom),
      |cls AS (SELECT c_nationkey, c_mktsegment,
      |          CAST(COUNT(*) AS BIGINT) AS n_records FROM b GROUP BY 1, 2),
      |pv AS (SELECT c_nationkey, c_mktsegment, v,
      |         CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_records,
      |    d.v, d.g, d.m, d.gn, COALESCE(pv.c, 0) AS c
      |  FROM cls CROSS JOIN dom2 d
      |  LEFT JOIN pv ON pv.c_nationkey = cls.c_nationkey
      |    AND pv.c_mktsegment = cls.c_mktsegment AND pv.v = d.v),
      |cum AS (
      |  SELECT c_nationkey, c_mktsegment, n_records, m, gn,
      |    ABS(CAST(SUM(c) OVER w AS HUGEINT) * gn -
      |        CAST(SUM(g) OVER w AS HUGEINT) * n_records) AS num
      |  FROM grid WINDOW w AS (
      |    PARTITION BY c_nationkey, c_mktsegment ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT c_nationkey, c_mktsegment, n_records,
      |  CAST(CAST(CAST(SUM(num) AS DOUBLE) /
      |    (CAST(n_records AS DOUBLE) * CAST(MAX(gn) AS DOUBLE) *
      |     CAST(MAX(m) - 1 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS t,
      |  CAST(CASE WHEN CAST(CAST(CAST(SUM(num) AS DOUBLE) /
      |    (CAST(n_records AS DOUBLE) * CAST(MAX(gn) AS DOUBLE) *
      |     CAST(MAX(m) - 1 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) > 0.25
      |    THEN 1 ELSE 0 END AS INT) AS is_violation
      |FROM cum GROUP BY 1, 2, 3""".stripMargin

  // q279: EWMA control chart over the daily per-type event volumes —
  // the ingestion-health monitor. Half-life weights are exact binary
  // 2^-j literals; the oracle replays the identical lag chain, the
  // d6-summed MAD scale and the 3-sigma alarm bar.
  def q279EwmaChart(s: SparkSession, dir: String): DataFrame = {
    // day as yyyy-MM-dd STRING (sorts identically to the date; the
    // parquet/DuckDB date flavors would stringify differently in the
    // driver compare)
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
    graft.pipeline.Stats.ewmaControlChart(
      daily, "event_type", "day", "n_events")
  }

  val q279Sql: String = {
    val terms = (1 to 8).map { j =>
      (s"lag(x, $j) OVER w", math.pow(2.0, -(j - 1)).toString)
    }
    // fixed left-assoc chains, mirroring the engine's reduce(_ + _)
    val num = terms.map { case (l, w) =>
      s"CASE WHEN $l IS NOT NULL THEN CAST($l AS DOUBLE) * $w ELSE 0.0 END"
    }.mkString(" +\n      ")
    val den = terms.map { case (l, w) =>
      s"CASE WHEN $l IS NOT NULL THEN $w ELSE 0.0 END"
    }.mkString(" +\n      ")
    val nh = terms.map { case (l, _) =>
      s"CASE WHEN $l IS NOT NULL THEN 1 ELSE 0 END"
    }.mkString(" +\n      ")
    s"""WITH daily AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |lv AS (
       |  SELECT event_type, day, x,
       |    CAST($nh AS INT) AS n_hist,
       |    ($num) AS num,
       |    ($den) AS den
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
       |mu AS (SELECT event_type,
       |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
       |  FROM daily GROUP BY 1),
       |sg AS (SELECT d.event_type,
       |    CAST(SUM(CAST(ABS(CAST(d.x AS DOUBLE) - mu.mu)
       |      AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |      AS sigma
       |  FROM daily d JOIN mu USING (event_type) GROUP BY 1)
       |SELECT lv.event_type, lv.day, lv.x AS n_events, lv.n_hist,
       |  CAST(CAST(CASE WHEN lv.n_hist = 0 THEN NULL
       |    ELSE lv.num / lv.den END AS DECIMAL(28,6)) AS DOUBLE) AS ewma,
       |  CAST(CAST(sg.sigma AS DECIMAL(28,6)) AS DOUBLE) AS sigma,
       |  CAST(CASE WHEN lv.n_hist > 0 AND
       |    ABS(CAST(lv.x AS DOUBLE) -
       |      CAST(CAST(lv.num / lv.den AS DECIMAL(28,6)) AS DOUBLE)) >
       |    3.0 * CAST(CAST(sg.sigma AS DECIMAL(28,6)) AS DOUBLE)
       |    THEN 1 ELSE 0 END AS INT) AS is_alarm
       |FROM lv JOIN sg USING (event_type)""".stripMargin
  }

  // q289: first/last-touch conversion attribution over the event
  // stream — journeys reset at each purchase; the journey's first and
  // last non-purchase events credit their types. The oracle replays
  // the strictly-prior conversion count and both row_number picks.
  def q289Attribution(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Behavior.attribution(t(s, dir, "events"),
      "user_id", "event_id", "ts", "event_type", convType = "purchase")

  val q289Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events),
      |j AS (
      |  SELECT *, COALESCE(SUM(conv) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
      |  FROM e),
      |tch AS (
      |  SELECT user_id, jid, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, jid
      |      ORDER BY ts, event_id) AS rf,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, jid
      |      ORDER BY ts DESC, event_id DESC) AS rl
      |  FROM j WHERE conv = 0),
      |cv AS (SELECT user_id, jid FROM j WHERE conv = 1),
      |cr AS (
      |  SELECT f.event_type AS t, 'f' AS m
      |  FROM cv JOIN (SELECT user_id, jid, event_type FROM tch
      |                WHERE rf = 1) f USING (user_id, jid)
      |  UNION ALL
      |  SELECT l.event_type, 'l'
      |  FROM cv JOIN (SELECT user_id, jid, event_type FROM tch
      |                WHERE rl = 1) l USING (user_id, jid))
      |SELECT t AS event_type,
      |  CAST(SUM(CASE WHEN m = 'f' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS first_touch,
      |  CAST(SUM(CASE WHEN m = 'l' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS last_touch
      |FROM cr GROUP BY 1""".stripMargin

  // q293: Bradley-Terry strengths over head-to-head "games" between
  // event types (consecutive events per user; higher value wins, value
  // ties break to the lexicographically smaller type), 3 MM rounds.
  // The oracle replays the fit in a recursive CTE that carries the
  // strength vector as ONE packed (keys, values) row per iteration —
  // the single-self-reference workaround the Lloyd replay cannot use
  // for pairwise terms (p_i AND p_j from one iteration = list lookups,
  // never a second recursive reference).
  def q293BradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").as("t"), col("value").as("v"))
      .withColumn("nt", lead(col("t"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .filter(col("nt").isNotNull && col("nt") =!= col("t"))
    val firstWins = col("v") > col("nv") ||
      (col("v") === col("nv") && col("t") < col("nt"))
    val games = ev.select(
      when(firstWins, col("t")).otherwise(col("nt")).as("winner"),
      when(firstWins, col("nt")).otherwise(col("t")).as("loser"))
    graft.pipeline.Stats.bradleyTerry(games, "winner", "loser", iters = 3)
  }

  val q293Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT event_type AS t, value AS v,
      |    lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT CASE WHEN v > nv OR (v = nv AND t < nt) THEN t ELSE nt END
      |           AS w,
      |         CASE WHEN v > nv OR (v = nv AND t < nt) THEN nt ELSE t END
      |           AS l
      |  FROM e WHERE nt IS NOT NULL AND nt <> t),
      |pairs AS (SELECT w, l, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM g GROUP BY 1, 2),
      |wins AS (SELECT w AS i, CAST(SUM(n) AS BIGINT) AS wi
      |         FROM pairs GROUP BY 1),
      |losses AS (SELECT l AS i, CAST(SUM(n) AS BIGINT) AS li
      |           FROM pairs GROUP BY 1),
      |items AS (
      |  SELECT COALESCE(wins.i, losses.i) AS i,
      |    COALESCE(wi, 0) AS n_wins,
      |    COALESCE(wi, 0) + COALESCE(li, 0) AS n_games
      |  FROM wins FULL OUTER JOIN losses ON wins.i = losses.i),
      |und AS (
      |  SELECT i, j, CAST(SUM(n) AS BIGINT) AS nij FROM (
      |    SELECT w AS i, l AS j, n FROM pairs
      |    UNION ALL SELECT l, w, n FROM pairs) x GROUP BY 1, 2),
      |p(iter, ks, vs) AS (
      |  SELECT 0,
      |    (SELECT list(i ORDER BY i) FROM items),
      |    (SELECT list(CAST(1.0 AS DOUBLE) ORDER BY i) FROM items)
      |  UNION ALL
      |  SELECT p.iter + 1, list(q.i ORDER BY q.i),
      |    list(CAST(CAST(q.pr / q.tot AS DECIMAL(28,6)) AS DOUBLE)
      |         ORDER BY q.i)
      |  FROM p, LATERAL (
      |    SELECT x.i, x.pr,
      |      CAST(SUM(CAST(x.pr AS DECIMAL(28,6))) OVER () AS DOUBLE) AS tot
      |    FROM (
      |      SELECT it.i,
      |        CASE WHEN it.n_wins = 0 OR d.den IS NULL THEN 0.0
      |             ELSE CAST(CAST(CAST(it.n_wins AS DOUBLE) / d.den
      |               AS DECIMAL(28,6)) AS DOUBLE) END AS pr
      |      FROM items it LEFT JOIN (
      |        SELECT u.i, CAST(SUM(CAST(CAST(u.nij AS DOUBLE) /
      |            (p.vs[list_position(p.ks, u.i)] +
      |             p.vs[list_position(p.ks, u.j)])
      |          AS DECIMAL(28,6))) AS DOUBLE) AS den
      |        FROM und u GROUP BY u.i) d ON it.i = d.i) x) q
      |  WHERE p.iter < 3
      |  GROUP BY p.iter)
      |SELECT it.i AS item, it.n_wins, it.n_games,
      |  f.vs[list_position(f.ks, it.i)] AS strength
      |FROM items it CROSS JOIN (SELECT ks, vs FROM p WHERE iter = 3) f"""
      .stripMargin

  // q294: split-conformal gate at alpha = 0.1 — even doc_ids calibrate
  // (score = n_chars), odd doc_ids are gated. The oracle replays the
  // ceil((n+1)(1-alpha)) rank, the (score, id) order statistic and the
  // coverage flags.
  def q294ConformalGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    graft.pipeline.Stats.conformalGate(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "n_chars", alpha = 0.1)
  }

  val q294Sql: String =
    """WITH calset AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
      |  WHERE doc_id % 2 = 0),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
      |        LEAST(CAST(CEIL(CAST(COUNT(*) + 1 AS DOUBLE) * 0.9)
      |          AS BIGINT), CAST(COUNT(*) AS BIGINT)) AS k_rank
      |      FROM calset),
      |r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s, doc_id) - 1 AS rnk
      |      FROM calset),
      |q AS (SELECT r.s AS qhat, n.n_cal, n.k_rank
      |      FROM r, n WHERE r.rnk = n.k_rank - 1)
      |SELECT d.doc_id, d.n_chars, q.qhat, q.n_cal, q.k_rank,
      |  CAST(CASE WHEN CAST(d.n_chars AS DOUBLE) <= q.qhat
      |    THEN 1 ELSE 0 END AS INT) AS is_covered
      |FROM documents d CROSS JOIN q WHERE d.doc_id % 2 = 1""".stripMargin

  // q295: isotonic (PAV) calibration of "is English" against document
  // length over 12 bins — the all-integer leftmost-violator trajectory
  // replayed in a recursive CTE that carries the pool lists as one
  // packed row (the q293 single-self-reference trick, now with
  // data-dependent termination: recursion ends when no adjacent pair
  // cross-multiplies into a violation).
  def q295Isotonic(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.isotonicCalibrate(
      t(s, dir, "documents").select(col("n_chars"),
        (col("lang") === "en").cast("int").as("y")),
      "n_chars", "y", nBuckets = 12)

  val q295Sql: String =
    """WITH RECURSIVE b AS (
      |  SELECT MIN(CAST(n_chars AS DOUBLE)) AS lo,
      |         MAX(CAST(n_chars AS DOUBLE)) AS hi FROM documents),
      |t AS (
      |  SELECT CASE WHEN b.hi = b.lo THEN 1
      |    ELSE LEAST(12, GREATEST(1,
      |      CAST(FLOOR((CAST(n_chars AS DOUBLE) - b.lo) * 12
      |        / (b.hi - b.lo)) + 1 AS BIGINT))) END AS bucket,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents CROSS JOIN b),
      |tb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(y) AS BIGINT) AS np FROM t GROUP BY 1),
      |pav(iter, plo, phi, psp, pn) AS (
      |  SELECT 0,
      |    (SELECT list(bucket ORDER BY bucket) FROM tb),
      |    (SELECT list(bucket ORDER BY bucket) FROM tb),
      |    (SELECT list(np ORDER BY bucket) FROM tb),
      |    (SELECT list(n ORDER BY bucket) FROM tb)
      |  UNION ALL
      |  SELECT iter + 1,
      |    list_concat(list_concat(plo[1:j-1], [plo[j]]), plo[j+2:]),
      |    list_concat(list_concat(phi[1:j-1], [phi[j+1]]), phi[j+2:]),
      |    list_concat(list_concat(psp[1:j-1], [psp[j] + psp[j+1]]),
      |      psp[j+2:]),
      |    list_concat(list_concat(pn[1:j-1], [pn[j] + pn[j+1]]),
      |      pn[j+2:])
      |  FROM (
      |    SELECT *, list_filter(generate_series(1, len(psp) - 1),
      |      i -> psp[i] * pn[i+1] > psp[i+1] * pn[i])[1] AS j
      |    FROM pav) x WHERE x.j IS NOT NULL),
      |fin AS (SELECT plo, phi, psp, pn FROM pav
      |        ORDER BY iter DESC LIMIT 1),
      |pools AS (
      |  SELECT plo[k] AS lo, phi[k] AS hi, psp[k] AS sp, pn[k] AS cnt
      |  FROM (SELECT unnest(generate_series(1, len(psp))) AS k,
      |          plo, phi, psp, pn FROM fin) e)
      |SELECT tb.bucket, tb.n, tb.np AS n_pos,
      |  CAST(CAST(CAST(tb.np AS DOUBLE) / CAST(tb.n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS raw_rate,
      |  CAST(CAST(CAST(p.sp AS DOUBLE) / CAST(p.cnt AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS fitted_rate
      |FROM tb JOIN pools p ON tb.bucket BETWEEN p.lo AND p.hi"""
      .stripMargin

  // q298: Fellegi-Sunter EM over blocked customer pairs — three
  // agreement fields (same balance band, close balance, custkey
  // residue), 4 EM rounds. The oracle replays the whole fit in a
  // recursive CTE over the 8-row pattern table: per round the d6
  // gamma, the EXACT 6-dp moment terms, the d6 + clamp M-step.
  def q298FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val a = c.select(col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"), col("c_custkey").as("ka"),
      col("c_acctbal").as("ba"))
    val bb = c.select(col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"), col("c_custkey").as("kb"),
      col("c_acctbal").as("bb"))
    val pr = a.join(bb, Seq("nk", "seg")).filter(col("ka") < col("kb"))
      .select(
        (floor(col("ba") / 2000.0) === floor(col("bb") / 2000.0))
          .as("a1"),
        (abs(col("ba") - col("bb")) < lit(500.0)).as("a2"),
        (col("ka") % 10 === col("kb") % 10).as("a3"))
    graft.pipeline.EntityResolution.fellegiSunterEM(
      pr, Seq("a1", "a2", "a3"), iters = 4)
  }

  val q298Sql: String =
    """WITH RECURSIVE pr AS (
      |  SELECT
      |    CASE WHEN floor(a.c_acctbal / 2000.0) =
      |      floor(b.c_acctbal / 2000.0) THEN 1 ELSE 0 END AS a1,
      |    CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500.0
      |      THEN 1 ELSE 0 END AS a2,
      |    CASE WHEN a.c_custkey % 10 = b.c_custkey % 10
      |      THEN 1 ELSE 0 END AS a3
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey
      |   AND a.c_mktsegment = b.c_mktsegment
      |   AND a.c_custkey < b.c_custkey),
      |pt AS (SELECT a1, a2, a3, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM pr GROUP BY 1, 2, 3),
      |em(iter, p, m1, m2, m3, u1, u2, u3) AS (
      |  SELECT 0, CAST(0.1 AS DOUBLE),
      |    CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE),
      |    CAST(0.2 AS DOUBLE), CAST(0.2 AS DOUBLE), CAST(0.2 AS DOUBLE)
      |  UNION ALL
      |  SELECT iter + 1,
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(sgc AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(g1 AS DOUBLE) / CAST(sgc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(g2 AS DOUBLE) / CAST(sgc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(g3 AS DOUBLE) / CAST(sgc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(h1 AS DOUBLE) / CAST(sngc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(h2 AS DOUBLE) / CAST(sngc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE))),
      |    LEAST(0.999999, GREATEST(0.000001, CAST(CAST(
      |      CAST(h3 AS DOUBLE) / CAST(sngc AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE)))
      |  FROM (
      |    SELECT iter,
      |      SUM(gc) AS sgc, SUM(ngc) AS sngc, SUM(c) AS n,
      |      SUM(CASE WHEN a1 = 1 THEN gc ELSE 0 END) AS g1,
      |      SUM(CASE WHEN a2 = 1 THEN gc ELSE 0 END) AS g2,
      |      SUM(CASE WHEN a3 = 1 THEN gc ELSE 0 END) AS g3,
      |      SUM(CASE WHEN a1 = 1 THEN ngc ELSE 0 END) AS h1,
      |      SUM(CASE WHEN a2 = 1 THEN ngc ELSE 0 END) AS h2,
      |      SUM(CASE WHEN a3 = 1 THEN ngc ELSE 0 END) AS h3
      |    FROM (
      |      SELECT iter, a1, a2, a3, c,
      |        CAST(gamma * c AS DECIMAL(28,6)) AS gc,
      |        CAST(CAST(CAST(1.0 - gamma AS DECIMAL(28,6)) AS DOUBLE)
      |          * c AS DECIMAL(28,6)) AS ngc
      |      FROM (
      |        SELECT em.iter, pt.a1, pt.a2, pt.a3, pt.c,
      |          CAST(CAST(
      |            (em.p *
      |             (CASE WHEN pt.a1 = 1 THEN em.m1 ELSE 1.0 - em.m1 END) *
      |             (CASE WHEN pt.a2 = 1 THEN em.m2 ELSE 1.0 - em.m2 END) *
      |             (CASE WHEN pt.a3 = 1 THEN em.m3 ELSE 1.0 - em.m3 END))
      |            /
      |            ((em.p *
      |             (CASE WHEN pt.a1 = 1 THEN em.m1 ELSE 1.0 - em.m1 END) *
      |             (CASE WHEN pt.a2 = 1 THEN em.m2 ELSE 1.0 - em.m2 END) *
      |             (CASE WHEN pt.a3 = 1 THEN em.m3 ELSE 1.0 - em.m3 END))
      |            +
      |            ((1.0 - em.p) *
      |             (CASE WHEN pt.a1 = 1 THEN em.u1 ELSE 1.0 - em.u1 END) *
      |             (CASE WHEN pt.a2 = 1 THEN em.u2 ELSE 1.0 - em.u2 END) *
      |             (CASE WHEN pt.a3 = 1 THEN em.u3 ELSE 1.0 - em.u3 END)))
      |            AS DECIMAL(28,6)) AS DOUBLE) AS gamma
      |        FROM em CROSS JOIN pt WHERE em.iter < 4) e0) e1
      |    GROUP BY iter) ms),
      |fin AS (SELECT * FROM em WHERE iter = 4)
      |SELECT pt.a1, pt.a2, pt.a3, pt.c AS n_pairs,
      |  CAST(CAST(
      |    (f.p *
      |     (CASE WHEN pt.a1 = 1 THEN f.m1 ELSE 1.0 - f.m1 END) *
      |     (CASE WHEN pt.a2 = 1 THEN f.m2 ELSE 1.0 - f.m2 END) *
      |     (CASE WHEN pt.a3 = 1 THEN f.m3 ELSE 1.0 - f.m3 END))
      |    /
      |    ((f.p *
      |     (CASE WHEN pt.a1 = 1 THEN f.m1 ELSE 1.0 - f.m1 END) *
      |     (CASE WHEN pt.a2 = 1 THEN f.m2 ELSE 1.0 - f.m2 END) *
      |     (CASE WHEN pt.a3 = 1 THEN f.m3 ELSE 1.0 - f.m3 END))
      |    +
      |    ((1.0 - f.p) *
      |     (CASE WHEN pt.a1 = 1 THEN f.u1 ELSE 1.0 - f.u1 END) *
      |     (CASE WHEN pt.a2 = 1 THEN f.u2 ELSE 1.0 - f.u2 END) *
      |     (CASE WHEN pt.a3 = 1 THEN f.u3 ELSE 1.0 - f.u3 END)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS gamma,
      |  CAST(CAST(
      |    ln((CASE WHEN pt.a1 = 1 THEN f.m1 ELSE 1.0 - f.m1 END) *
      |       (CASE WHEN pt.a2 = 1 THEN f.m2 ELSE 1.0 - f.m2 END) *
      |       (CASE WHEN pt.a3 = 1 THEN f.m3 ELSE 1.0 - f.m3 END)) -
      |    ln((CASE WHEN pt.a1 = 1 THEN f.u1 ELSE 1.0 - f.u1 END) *
      |       (CASE WHEN pt.a2 = 1 THEN f.u2 ELSE 1.0 - f.u2 END) *
      |       (CASE WHEN pt.a3 = 1 THEN f.u3 ELSE 1.0 - f.u3 END))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS weight
      |FROM pt CROSS JOIN fin f""".stripMargin

  // q299: CUPED over per-user event value (pre = first half of the
  // time range, post = second; arms by user parity). The oracle
  // replays the integer midpoint split, the decimal per-user sums,
  // the pooled theta and both adjusted outputs.
  def q299Cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val us = Tables.tsUs(ev, "ts")
    val mid = ev.agg(min(us).as("_a"), max(us).as("_b"))
      .select(expr("(_a + _b) div 2").as("_mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(us < col("_mid"),
          col("value").cast("decimal(28,6)"))), lit(0).cast("decimal(28,6)"))
          .cast("double").as("pre"),
        coalesce(sum(when(us >= col("_mid"),
          col("value").cast("decimal(28,6)"))), lit(0).cast("decimal(28,6)"))
          .cast("double").as("post"))
      .withColumn("arm", (col("user_id") % 2).cast("int"))
    graft.pipeline.Stats.cuped(perUser, "arm", "pre", "post")
  }

  // q300: difference-in-differences on event values — treated = even
  // users, post = second half of the time range.
  def q300DiD(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val us = Tables.tsUs(ev, "ts")
    val mid = ev.agg(min(us).as("_a"), max(us).as("_b"))
      .select(expr("(_a + _b) div 2").as("_mid"))
    graft.pipeline.Stats.diffInDiff(
      ev.crossJoin(broadcast(mid))
        .select((col("user_id") % 2 === 0).as("treated"),
          (us >= col("_mid")).as("post"), col("value")),
      "treated", "post", "value")
  }

  // q301: EXACT Shapley channel attribution over purchase journeys —
  // the coalition game on the 4 non-purchase event types. The oracle
  // enumerates all 2^k subsets with bitmask membership, integer
  // s!(k−s−1)! weights and one closing division by k!.
  def q301Shapley(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Behavior.shapleyAttribution(t(s, dir, "events"),
      "user_id", "event_id", "ts", "event_type", convType = "purchase")

  val q299Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS m FROM e),
      |pu AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
      |    CAST(COALESCE(SUM(CASE WHEN us < m
      |      THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS x,
      |    CAST(COALESCE(SUM(CASE WHEN us >= m
      |      THEN CAST(value AS DECIMAL(28,6)) END), 0) AS DOUBLE) AS y
      |  FROM e CROSS JOIN mid GROUP BY 1, 2),
      |pool AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(28,6))) AS sx,
      |    SUM(CAST(y AS DECIMAL(28,6))) AS sy,
      |    SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6))
      |      AS DECIMAL(38,6))) AS sxx,
      |    SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
      |      AS DECIMAL(38,6))) AS sxy
      |  FROM pu),
      |prm AS (
      |  SELECT
      |    CAST(CAST((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) -
      |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |        (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) /
      |      (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
      |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |        (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS theta,
      |    CAST(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS xbar
      |  FROM pool),
      |arm AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
      |    SUM(CAST(x AS DECIMAL(28,6))) AS ax,
      |    SUM(CAST(y AS DECIMAL(28,6))) AS ay,
      |    SUM(CAST(CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
      |      AS DECIMAL(38,6))) AS ayy,
      |    SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
      |      AS DECIMAL(38,6))) AS axy,
      |    SUM(CAST(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6))
      |      AS DECIMAL(38,6))) AS axx
      |  FROM pu GROUP BY 1)
      |SELECT arm, n_units,
      |  CAST(CAST(CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_raw,
      |  CAST(CAST(CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |    theta * (CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE) - xbar)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_adj,
      |  theta,
      |  CASE WHEN CAST(ayy AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |      (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) *
      |      (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) <= 0.0
      |    THEN 0.0
      |    ELSE CAST(CAST(1.0 -
      |      (CAST(ayy AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |        (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) *
      |        (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) -
      |       2.0 * theta *
      |        (CAST(axy AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |         (CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE)) *
      |         (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE))) +
      |       theta * theta *
      |        (CAST(axx AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |         (CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE)) *
      |         (CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE)))) /
      |      (CAST(ayy AS DOUBLE) / CAST(n_units AS DOUBLE) -
      |        (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) *
      |        (CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS var_reduction
      |FROM arm CROSS JOIN prm""".stripMargin

  val q300Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
      |  FROM events),
      |mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS m FROM e),
      |f AS (
      |  SELECT user_id % 2 = 0 AS t, us >= m AS p,
      |    CAST(value AS DECIMAL(28,6)) AS v
      |  FROM e CROSS JOIN mid)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(CAST(CAST(SUM(CASE WHEN t AND NOT p THEN v END) AS DOUBLE) /
      |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_t_pre,
      |  CAST(CAST(CAST(SUM(CASE WHEN t AND p THEN v END) AS DOUBLE) /
      |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_t_post,
      |  CAST(CAST(CAST(SUM(CASE WHEN NOT t AND NOT p THEN v END)
      |      AS DOUBLE) /
      |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_c_pre,
      |  CAST(CAST(CAST(SUM(CASE WHEN NOT t AND p THEN v END) AS DOUBLE) /
      |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_c_post,
      |  CAST(CAST(
      |    (CAST(SUM(CASE WHEN t AND p THEN v END) AS DOUBLE) /
      |      CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS DOUBLE) -
      |     CAST(SUM(CASE WHEN t AND NOT p THEN v END) AS DOUBLE) /
      |      CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS DOUBLE))
      |    -
      |    (CAST(SUM(CASE WHEN NOT t AND p THEN v END) AS DOUBLE) /
      |      CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS DOUBLE) -
      |     CAST(SUM(CASE WHEN NOT t AND NOT p THEN v END) AS DOUBLE) /
      |      CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
      |        AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS did
      |FROM f""".stripMargin

  val q301Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events),
      |j AS (
      |  SELECT *, COALESCE(SUM(conv) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid
      |  FROM e),
      |ch AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) - 1 AS ci FROM
      |       (SELECT DISTINCT event_type AS c FROM j WHERE conv = 0) x),
      |kk AS (SELECT CAST(COUNT(*) AS INT) AS k FROM ch),
      |tm AS (
      |  SELECT j.user_id, j.jid,
      |    CAST(SUM(DISTINCT (CAST(1 AS BIGINT) << ch.ci)) AS BIGINT)
      |      AS mask
      |  FROM j JOIN ch ON j.event_type = ch.c WHERE j.conv = 0
      |  GROUP BY 1, 2),
      |cv AS (SELECT user_id, jid FROM j WHERE conv = 1),
      |jm AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM cv JOIN tm USING (user_id, jid) GROUP BY 1),
      |subs AS (SELECT unnest(generate_series(0,
      |           (SELECT (CAST(1 AS BIGINT) << k) - 1 FROM kk))) AS s),
      |v AS (
      |  SELECT s, COALESCE(SUM(CASE WHEN (jm.mask & subs.s) = jm.mask
      |    THEN jm.cnt END), 0) AS v
      |  FROM subs LEFT JOIN jm ON TRUE GROUP BY s),
      |nj AS (
      |  SELECT ch.c, ch.ci,
      |    CAST(COALESCE(SUM(CASE WHEN
      |      (jm.mask & (CAST(1 AS BIGINT) << ch.ci)) <> 0
      |      THEN jm.cnt END), 0) AS BIGINT) AS n_journeys
      |  FROM ch LEFT JOIN jm ON TRUE GROUP BY 1, 2),
      |phi AS (
      |  SELECT ch.c AS event_type, ch.ci,
      |    SUM(factorial(bit_count(v0.s)) *
      |        factorial(kk.k - bit_count(v0.s) - 1) *
      |        (v1.v - v0.v)) AS num,
      |    MAX(kk.k) AS k
      |  FROM ch CROSS JOIN kk
      |  JOIN v v0 ON (v0.s & (CAST(1 AS BIGINT) << ch.ci)) = 0
      |  JOIN v v1 ON v1.s = (v0.s | (CAST(1 AS BIGINT) << ch.ci))
      |  GROUP BY 1, 2)
      |SELECT phi.event_type, nj.n_journeys,
      |  CAST(CAST(CAST(phi.num AS DOUBLE) /
      |    CAST(factorial(phi.k) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS shapley
      |FROM phi JOIN nj ON phi.ci = nj.ci""".stripMargin

  // q302: Kaplan-Meier churn curve — per-user activity span in DAYS,
  // churned iff the last event precedes the corpus end by > 7 days
  // (later actives are right-censored). The oracle replays the
  // distinct-duration risk sets and the d6 log-domain product.
  def q302KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val us = Tables.tsUs(ev, "ts")
    val spans = ev.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = ev.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select(expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(7L * day)).cast("int").as("churned"))
    graft.pipeline.Stats.kaplanMeier(users, "duration_days", "churned")
  }

  val q302Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |d AS (
      |  SELECT (l - f) // 86400000000 AS duration,
      |    CASE WHEN mx - l > 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT duration, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(ev) AS BIGINT) AS n_events
      |        FROM d GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER (ORDER BY duration
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |        AS BIGINT) AS n_risk FROM byt),
      |t AS (
      |  SELECT *,
      |    CASE WHEN n_events = 0 THEN CAST(0.0 AS DECIMAL(28,6))
      |         WHEN n_events = n_risk THEN NULL
      |         ELSE CAST(ln(1.0 - CAST(n_events AS DOUBLE) /
      |           CAST(n_risk AS DOUBLE)) AS DECIMAL(28,6)) END AS lt,
      |    CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS z
      |  FROM r)
      |SELECT duration, n_risk, n_events,
      |  CAST(n - n_events AS BIGINT) AS n_censored,
      |  CASE WHEN SUM(z) OVER w > 0 THEN 0.0
      |    ELSE CAST(CAST(exp(CAST(COALESCE(SUM(lt) OVER w,
      |      CAST(0 AS DECIMAL(28,6))) AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS survival
      |FROM t WINDOW w AS (ORDER BY duration
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // q303: sample-ratio-mismatch chi-square for the user-parity split
  // against the 50/50 design.
  def q303Srm(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.srmCheck(
      t(s, dir, "events").select((col("user_id") % 2).cast("string")
        .as("arm")),
      "arm", Map("0" -> 0.5, "1" -> 0.5))

  val q303Sql: String =
    """WITH c AS (
      |  SELECT CAST(user_id % 2 AS VARCHAR) AS arm,
      |    CAST(COUNT(*) AS BIGINT) AS n_obs
      |  FROM events GROUP BY 1),
      |s AS (SELECT arm, n_obs, 0.5 AS share,
      |        CAST(SUM(n_obs) OVER () AS DOUBLE) AS tot FROM c)
      |SELECT arm, n_obs,
      |  CAST(CAST(share * tot AS DECIMAL(28,6)) AS DOUBLE) AS expected,
      |  CAST(CAST((CAST(n_obs AS DOUBLE) - share * tot) *
      |    (CAST(n_obs AS DOUBLE) - share * tot) / (share * tot)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS chi2_term,
      |  CAST(CAST(CAST(SUM(CAST((CAST(n_obs AS DOUBLE) - share * tot) *
      |    (CAST(n_obs AS DOUBLE) - share * tot) / (share * tot)
      |    AS DECIMAL(28,6))) OVER () AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS chi2,
      |  CAST(COUNT(*) OVER () - 1 AS BIGINT) AS dof
      |FROM s""".stripMargin

  // q304: decile lift/gains table — documents ranked by length,
  // positives = English. The oracle replays the (score desc, id) rank,
  // the integer band edges and the cumulative capture/lift chain.
  def q304LiftTable(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.liftTable(
      t(s, dir, "documents").select(col("doc_id"),
        col("n_chars"), (col("lang") === "en").cast("int").as("y")),
      "doc_id", "n_chars", "y", nBuckets = 10)

  val q304Sql: String =
    """WITH sc AS (
      |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) - 1
      |        AS rk FROM sc),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot,
      |        CAST(SUM(y) AS BIGINT) AS pos FROM sc),
      |b AS (
      |  SELECT (rk * 10) // tot + 1 AS band,
      |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
      |    MAX(tot) AS tot, MAX(pos) AS pos
      |  FROM r CROSS JOIN t GROUP BY 1)
      |SELECT band, n, n_pos,
      |  CAST(CAST(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rate,
      |  CASE WHEN pos = 0 THEN 0.0 ELSE
      |    CAST(CAST(CAST(SUM(n_pos) OVER w AS DOUBLE) /
      |      CAST(pos AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS cum_capture,
      |  CASE WHEN pos = 0 THEN 0.0 ELSE
      |    CAST(CAST((CAST(SUM(n_pos) OVER w AS DOUBLE) /
      |      CAST(SUM(n) OVER w AS DOUBLE)) /
      |      (CAST(pos AS DOUBLE) / CAST(tot AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS cum_lift
      |FROM b WINDOW w AS (ORDER BY band
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // q305: Cramér's V between language and source — are the two
  // document facets independent? The oracle replays cells, margins,
  // expected counts and the d6 chi-square terms.
  def q305CramersV(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cramersV(t(s, dir, "documents"),
      "lang", "source")

  val q305Sql: String =
    """WITH obs AS (
      |  SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |cells AS (
      |  SELECT ga.a, gb.b, COALESCE(obs.o, 0) AS o
      |  FROM (SELECT DISTINCT a FROM obs) ga
      |  CROSS JOIN (SELECT DISTINCT b FROM obs) gb
      |  LEFT JOIN obs USING (a, b)),
      |m AS (
      |  SELECT a, b, o,
      |    SUM(o) OVER (PARTITION BY a) AS ra,
      |    SUM(o) OVER (PARTITION BY b) AS cb,
      |    SUM(o) OVER () AS n
      |  FROM cells),
      |t AS (
      |  SELECT n,
      |    CAST((CAST(o AS DOUBLE) -
      |        CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
      |          CAST(n AS DOUBLE)) *
      |      (CAST(o AS DOUBLE) -
      |        CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) /
      |          CAST(n AS DOUBLE)) /
      |      (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
      |      AS DECIMAL(28,6)) AS t6,
      |    a, b
      |  FROM m),
      |agg AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
      |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
      |    SUM(t6) AS chi FROM t)
      |SELECT n_rows, n_a, n_b,
      |  CAST(CAST(CAST(chi AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS chi2,
      |  (n_a - 1) * (n_b - 1) AS dof,
      |  CAST(CAST(sqrt(CAST(chi AS DOUBLE) /
      |    (CAST(n_rows AS DOUBLE) *
      |     CAST(LEAST(n_a - 1, n_b - 1) AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS cramers_v
      |FROM agg""".stripMargin

  // q306: McNemar over q265's two planted raters read as binary
  // verdicts (bucket > 0) — did rater 2's shift change verdicts
  // asymmetrically?
  def q306McNemar(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    def bucket(shiftWhen: Column) =
      least(floor((length(col("text")) +
        when(shiftWhen, 100).otherwise(0)) / 100).cast("long"), lit(3L))
    graft.pipeline.Stats.mcnemar(
      docs.select((bucket(lit(false)) > 0L).as("a"),
        (bucket(col("doc_id") % 7 < 2) > 0L).as("b")),
      "a", "b")
  }

  val q306Sql: String =
    """WITH v AS (
      |  SELECT
      |    LEAST(CAST(floor(length(text) / 100) AS BIGINT), 3) > 0 AS a,
      |    LEAST(CAST(floor((length(text) +
      |      CASE WHEN doc_id % 7 < 2 THEN 100 ELSE 0 END) / 100)
      |      AS BIGINT), 3) > 0 AS b
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_10,
      |  CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_01,
      |  CASE WHEN SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) +
      |      SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) = 0 THEN 0.0
      |    ELSE CAST(CAST(CAST(
      |      (SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) -
      |       SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) *
      |      (SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) -
      |       SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)) AS DOUBLE) /
      |      CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) +
      |       SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS chi2
      |FROM v""".stripMargin

  // q272: Gini concentration of per-user event counts — how unevenly
  // activity spreads over the user base (the data-mix inequality
  // diagnostic). The oracle replays the doubled-rank closed form and
  // the single final division.
  def q272Gini(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    graft.pipeline.Stats.giniConcentration(perUser, "n_events")
  }

  val q272Sql: String =
    """WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
      |bv AS (SELECT n_events AS v, CAST(COUNT(*) AS BIGINT) AS m
      |       FROM pu GROUP BY 1),
      |r AS (
      |  SELECT v, m,
      |    COALESCE(SUM(m) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
      |  FROM bv),
      |agg AS (
      |  SELECT CAST(SUM(m) AS BIGINT) AS n,
      |    CAST(SUM(v * m) AS BIGINT) AS tot,
      |    CAST(SUM(v * (m * (2 * a + m + 1))) AS BIGINT) AS rsum
      |  FROM r)
      |SELECT n AS n_keys, tot AS total,
      |  CAST(CAST(CAST(rsum - (n + 1) * tot AS DOUBLE) /
      |    (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) AS DECIMAL(28,6))
      |    AS DOUBLE) AS gini
      |FROM agg""".stripMargin

  // q307: two-sample Kolmogorov-Smirnov on document length between the
  // doc_id-parity arms — an A/A shape test (D should be small, p large).
  // The oracle replays the exact integer ECDF-gap maximum and the
  // 20-term Kolmogorov series with d6-rounded terms.
  def q307KsTest(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.ksTest(
      t(s, dir, "documents").select((col("doc_id") % 2).as("arm"),
        col("n_chars")),
      "arm", "n_chars")

  val q307Sql: String =
    """WITH v AS (
      |  SELECT doc_id % 2 AS arm, n_chars AS v FROM documents),
      |bv AS (
      |  SELECT v, CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM v GROUP BY 1),
      |c AS (
      |  SELECT
      |    CAST(SUM(c0) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS a0,
      |    CAST(SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS a1
      |  FROM bv),
      |t AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
      |        CAST(SUM(c1) AS BIGINT) AS n1 FROM bv),
      |m AS (
      |  SELECT MAX(ABS(a0 * n1 - a1 * n0)) AS dnum,
      |    MAX(n0) AS n0, MAX(n1) AS n1
      |  FROM c CROSS JOIN t),
      |s AS (
      |  SELECT n0 AS n_a, n1 AS n_b, dnum AS d_numerator,
      |    CAST(CAST(CAST(dnum AS DOUBLE) /
      |      (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) AS d_stat
      |  FROM m),
      |l AS (
      |  SELECT n_a, n_b, d_numerator, d_stat,
      |    CAST(CAST((sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d_stat
      |      AS DECIMAL(28,6)) AS DOUBLE) AS lambda
      |  FROM (SELECT s.*, CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
      |          CAST(n_a + n_b AS DOUBLE) AS ne FROM s)),
      |ser AS (
      |  SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
      |    MAX(d_numerator) AS d_numerator, MAX(d_stat) AS d_stat,
      |    MAX(lambda) AS lambda,
      |    SUM(CAST(CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END *
      |      exp(((-2.0 * k) * k * lambda) * lambda) AS DECIMAL(28,6)))
      |      AS q
      |  FROM l CROSS JOIN (SELECT unnest(range(1, 21)) AS k))
      |SELECT n_a, n_b, d_numerator, d_stat, lambda,
      |  CASE WHEN lambda < 0.3 THEN 1.0
      |    ELSE CAST(CAST(LEAST(1.0, GREATEST(0.0,
      |      2.0 * CAST(q AS DOUBLE))) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS p_value
      |FROM ser""".stripMargin

  // q308: Spearman rank correlation between per-user activity count and
  // active-span days — does being active longer track doing more? The
  // oracle replays the doubled average ranks and the HUGEINT-exact
  // sufficient sums.
  def q308Spearman(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        expr("(max(ts_us) - min(ts_us)) div 86400000000").as("y"))
    graft.pipeline.Stats.spearmanRho(perUser, "x", "y")
  }

  val q308Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |u AS (SELECT user_id, COUNT(*) AS x,
      |        (MAX(us) - MIN(us)) // 86400000000 AS y FROM e GROUP BY 1),
      |bx AS (SELECT x AS v, COUNT(*) AS m FROM u GROUP BY 1),
      |rx AS (SELECT v, 2 * COALESCE(SUM(m) OVER (ORDER BY v
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + m + 1 AS r2 FROM bx),
      |by_ AS (SELECT y AS v, COUNT(*) AS m FROM u GROUP BY 1),
      |ry AS (SELECT v, 2 * COALESCE(SUM(m) OVER (ORDER BY v
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         + m + 1 AS r2 FROM by_),
      |j AS (SELECT rx.r2 AS a, ry.r2 AS b
      |      FROM u JOIN rx ON u.x = rx.v JOIN ry ON u.y = ry.v),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(a) AS HUGEINT) AS sx, CAST(SUM(b) AS HUGEINT) AS sy,
      |    CAST(SUM(a * b) AS HUGEINT) AS sxy,
      |    CAST(SUM(a * a) AS HUGEINT) AS sxx,
      |    CAST(SUM(b * b) AS HUGEINT) AS syy
      |  FROM j),
      |st AS (
      |  SELECT CAST(n AS BIGINT) AS n_rows,
      |    CAST(CAST(CAST(n * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |           CAST(n * syy - sy * sy AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) AS rho
      |  FROM agg),
      |tt AS (
      |  SELECT n_rows, rho,
      |    rho * sqrt((CAST(n_rows AS DOUBLE) - 2.0) /
      |      GREATEST(1e-12, 1.0 - rho * rho)) AS t
      |  FROM st)
      |SELECT n_rows, rho,
      |  CAST(CAST(t AS DECIMAL(28,6)) AS DOUBLE) AS t_stat,
      |  CAST(ABS(t) >= 1.959964 AS INT) AS significant
      |FROM tt""".stripMargin

  // q309: Kendall tau-b between DISCRETIZED per-user activity (total
  // count div 5) and purchase count — does more activity concord with
  // more purchases? Contingency-grid pair counting; the oracle replays
  // cells, strictly-ordered cell pairs and the exact tie-corrected
  // denominator.
  def q309Kendall(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val perUser = e.groupBy(col("user_id"))
      .agg((count(lit(1)).cast("long") / 5L).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    graft.pipeline.Stats.kendallTau(perUser, "x", "y")
  }

  val q309Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type FROM events),
      |u AS (SELECT user_id, COUNT(*) // 5 AS x,
      |        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |          END) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS m
      |          FROM u GROUP BY 1, 2),
      |p AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN a.y < b.y THEN CAST(a.m * b.m AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS conc,
      |    CAST(SUM(CASE WHEN a.y > b.y THEN CAST(a.m * b.m AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS disc
      |  FROM cells a JOIN cells b ON a.x < b.x),
      |tx AS (SELECT CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS n1 FROM
      |         (SELECT SUM(m) AS t FROM cells GROUP BY x)),
      |ty AS (SELECT CAST(SUM(t * (t - 1) // 2) AS HUGEINT) AS n2 FROM
      |         (SELECT SUM(m) AS t FROM cells GROUP BY y)),
      |nt AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM cells),
      |agg AS (SELECT * FROM p CROSS JOIN tx CROSS JOIN ty CROSS JOIN nt)
      |SELECT n AS n_rows,
      |  CAST(conc AS BIGINT) AS n_concordant,
      |  CAST(disc AS BIGINT) AS n_discordant,
      |  CAST(CAST(CAST(conc - disc AS DOUBLE) /
      |    sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - n1 AS DOUBLE) *
      |         CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - n2 AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS tau_b
      |FROM agg""".stripMargin

  // q310: Benford first-digit audit of document lengths — the fixture's
  // narrow-range lengths deviate hard from Benford (high chi2), which
  // is exactly the signal the audit exists to raise. The oracle replays
  // the string-derived digits, d6 expected shares and the SRM-pattern
  // chi-square chain.
  def q310Benford(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.benfordAudit(t(s, dir, "documents"), "n_chars")

  val q310Sql: String =
    """WITH c AS (
      |  SELECT CAST(substring(CAST(n_chars AS VARCHAR), 1, 1) AS INT)
      |      AS digit,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents WHERE n_chars > 0 GROUP BY 1),
      |sp AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
      |f AS (SELECT sp.digit, COALESCE(c.c, CAST(0 AS BIGINT)) AS n_obs
      |      FROM sp LEFT JOIN c USING (digit)),
      |t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM f),
      |b AS (
      |  SELECT digit, n_obs, n,
      |    CAST(CAST(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS exp_share,
      |    CAST(CAST(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS obs_share
      |  FROM f CROSS JOIN t),
      |g AS (
      |  SELECT digit, n_obs, exp_share, obs_share,
      |    CAST((CAST(n_obs AS DOUBLE) - exp_share * CAST(n AS DOUBLE)) *
      |      (CAST(n_obs AS DOUBLE) - exp_share * CAST(n AS DOUBLE)) /
      |      (exp_share * CAST(n AS DOUBLE)) AS DECIMAL(28,6)) AS t6,
      |    CAST(ABS(obs_share - exp_share) AS DECIMAL(28,6)) AS a6
      |  FROM b)
      |SELECT digit, n_obs, exp_share, obs_share,
      |  CAST(t6 AS DOUBLE) AS chi2_term,
      |  CAST(CAST(CAST(SUM(t6) OVER () AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS chi2,
      |  CAST(CAST(CAST(SUM(a6) OVER () AS DOUBLE) / 9.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS mad
      |FROM g""".stripMargin

  // q311: always-valid mSPRT trajectory over the user-parity A/A split,
  // daily periods, value quantized to cents (floor(value*100)). An A/A
  // stream should keep p_always_valid at 1 — and the oracle replays the
  // full cumulative-sufficient-statistic chain either way.
  def q311Msprt(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    graft.pipeline.Stats.msprt(
      e.select((col("user_id") % 2).as("arm"),
        floor(col("value") * 100).cast("long").as("v"),
        expr("ts_us div 86400000000").as("day")),
      "arm", "v", "day", tau2 = 10000.0)
  }

  val q311Sql: String =
    """WITH e AS (
      |  SELECT user_id % 2 AS arm,
      |    CAST(floor(value * 100) AS BIGINT) AS v,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period
      |  FROM events),
      |byp AS (
      |  SELECT period,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS pn0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pn1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS ps0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS ps1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT) *
      |      CAST(v AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS HUGEINT)
      |      AS pq0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT) *
      |      CAST(v AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS HUGEINT)
      |      AS pq1
      |  FROM e GROUP BY 1),
      |cum AS (
      |  SELECT period,
      |    CAST(SUM(pn0) OVER w AS BIGINT) AS n0,
      |    CAST(SUM(pn1) OVER w AS BIGINT) AS n1,
      |    CAST(SUM(ps0) OVER w AS HUGEINT) AS s0,
      |    CAST(SUM(ps1) OVER w AS HUGEINT) AS s1,
      |    CAST(SUM(pq0) OVER w AS HUGEINT) AS q0,
      |    CAST(SUM(pq1) OVER w AS HUGEINT) AS q1
      |  FROM byp WINDOW w AS (ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |st AS (
      |  SELECT period, n0, n1,
      |    ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) /
      |        CAST(n0 AS DOUBLE)) +
      |     (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
      |        CAST(n1 AS DOUBLE))) /
      |      (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0) AS sg,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
      |      CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS dl,
      |    2.0 * CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) /
      |      (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS ne
      |  FROM cum),
      |lm AS (
      |  SELECT period, n0, n1, sg, dl,
      |    n0 >= 2 AND n1 >= 2 AND sg > 0.0 AS ok,
      |    sqrt((2.0 * sg) / ((2.0 * sg) + ne * 10000.0)) *
      |      exp(ne * ne * 10000.0 * dl * dl /
      |        (2.0 * (2.0 * sg) * ((2.0 * sg) + ne * 10000.0))) AS lam
      |  FROM st),
      |p AS (
      |  SELECT period, n0 AS n_a, n1 AS n_b,
      |    CASE WHEN ok THEN CAST(CAST(dl AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS delta,
      |    CASE WHEN ok THEN CAST(CAST(sg AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS sigma2,
      |    CASE WHEN ok THEN CAST(CAST(lam AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS lambda,
      |    CASE WHEN ok THEN LEAST(1.0,
      |      CAST(CAST(1.0 / lam AS DECIMAL(28,6)) AS DOUBLE))
      |      ELSE 1.0 END AS praw
      |  FROM lm)
      |SELECT period, n_a, n_b, delta, sigma2, lambda,
      |  MIN(praw) OVER (ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS p_always_valid,
      |  CAST(MIN(praw) OVER (ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 0.05
      |    AS INT) AS significant
      |FROM p""".stripMargin

  // q312: Holt level+trend forecast of daily per-type event volumes
  // (alpha = beta = 1/2 — the exact-integer trajectory), horizon 3.
  // The oracle replays the scaled integer recurrence as a recursive
  // CTE in HUGEINT.
  def q312Holt(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val daily = e.groupBy(col("event_type"),
        expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    graft.ops.Timeseries.holtForecast(daily, "event_type", "day", "y",
      horizon = 3)
  }

  val q312Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT event_type AS key,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t
      |  FROM events),
      |s AS (SELECT key, t, CAST(COUNT(*) AS BIGINT) AS y
      |      FROM e GROUP BY 1, 2),
      |o AS (SELECT key, t, y,
      |        ROW_NUMBER() OVER (PARTITION BY key ORDER BY t) AS rn,
      |        COUNT(*) OVER (PARTITION BY key) AS n
      |      FROM s),
      |tr AS (
      |  SELECT a.key, a.n, CAST(2 AS BIGINT) AS done,
      |    CAST(b.y AS HUGEINT) AS l, CAST(b.y - a.y AS HUGEINT) AS b,
      |    CAST(1 AS HUGEINT) AS p
      |  FROM o a JOIN o b ON a.key = b.key AND a.rn = 1 AND b.rn = 2
      |  UNION ALL
      |  SELECT tr.key, tr.n, tr.done + 1,
      |    2 * tr.p * o.y + 2 * tr.l + 2 * tr.b,
      |    tr.p * o.y - tr.l + 3 * tr.b,
      |    4 * tr.p
      |  FROM tr JOIN o ON o.key = tr.key AND o.rn = tr.done + 1),
      |fin AS (SELECT * FROM tr WHERE done = n)
      |SELECT key, n AS n_obs,
      |  CAST(CAST(CAST(l AS DOUBLE) / CAST(p AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS level,
      |  CAST(CAST(CAST(b AS DOUBLE) / CAST(p AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS trend,
      |  CAST(h AS INT) AS h,
      |  CAST(CAST((CAST(l AS DOUBLE) + CAST(h AS DOUBLE) *
      |    CAST(b AS DOUBLE)) / CAST(p AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS forecast
      |FROM fin CROSS JOIN (SELECT unnest(range(1, 4)) AS h)""".stripMargin

  // q319: Theil-Sen robust trend of daily event volume (30 points, 435
  // pairwise slopes). The oracle replays the exact-integer slopes and
  // the q154 median convention.
  def q319TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(expr("ts_us div 86400000000").as("d"))
      .agg(count(lit(1)).as("y"))
    graft.pipeline.Stats.theilSen(daily, "d", "y")
  }

  val q319Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |pts AS (SELECT d AS x, CAST(COUNT(*) AS BIGINT) AS y
      |        FROM e GROUP BY 1),
      |pr AS (SELECT CAST(b.y - a.y AS DOUBLE) /
      |         CAST(b.x - a.x AS DOUBLE) AS s
      |       FROM pts a JOIN pts b ON a.x < b.x),
      |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |        CAST(CAST(median(s) AS DECIMAL(28,6)) AS DOUBLE) AS slope
      |      FROM pr),
      |r AS (SELECT m.n_pairs, m.slope,
      |        CAST(y AS DOUBLE) - m.slope * CAST(x AS DOUBLE) AS rr
      |      FROM pts CROSS JOIN m)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_points, n_pairs, slope,
      |  CAST(CAST(median(rr) AS DECIMAL(28,6)) AS DOUBLE) AS intercept
      |FROM r GROUP BY n_pairs, slope""".stripMargin

  // q320: CUSUM drift alarm over daily event volume — baseline = first
  // 7 days, k = 50 permille, h = 500 permille of the baseline mean. The
  // oracle replays the integer prefix-sum/running-extremum closed form.
  def q320Cusum(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cusum(
      ev(s, dir).select(expr("ts_us div 86400000000").as("day"),
        lit(1L).as("one")),
      "day", "one")

  val q320Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS period
      |  FROM events),
      |byp AS (SELECT period, CAST(COUNT(*) AS BIGINT) AS x
      |        FROM e GROUP BY 1),
      |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY period) AS rn
      |       FROM byp),
      |b AS (SELECT CAST(SUM(x) AS BIGINT) AS t FROM rk WHERE rn <= 7),
      |c AS (
      |  SELECT period, x, t,
      |    CAST(SUM(7000 * x - 1050 * t) OVER w AS BIGINT) AS c,
      |    CAST(SUM(7000 * x - 950 * t) OVER w AS BIGINT) AS dd
      |  FROM rk CROSS JOIN b
      |  WINDOW w AS (ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT period, x, t, c, dd,
      |    MIN(LEAST(c, 0)) OVER w2 AS mn,
      |    MAX(GREATEST(dd, 0)) OVER w2 AS mx
      |  FROM c WINDOW w2 AS (ORDER BY period
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT period, x,
      |  CAST(CAST(CAST(c - mn AS DOUBLE) / 7000.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS s_pos,
      |  CAST(CAST(CAST(mx - dd AS DOUBLE) / 7000.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS s_neg,
      |  CAST(c - mn >= 500 * t AS INT) AS alarm_pos,
      |  CAST(mx - dd >= 500 * t AS INT) AS alarm_neg
      |FROM s""".stripMargin

  // q321: additive seasonal decomposition of per-type 6h volumes with
  // period 4 (the daily cycle) — 2x4 centered MA trend, per-phase
  // centered seasonal means, residuals. All d6-before-decimal-sum.
  def q321Seasonal(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.seasonalDecompose(buckets, "event_type", "b",
      "x", period = 4)
  }

  val q321Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t)
      |         AS rn,
      |         COUNT(*) OVER (PARTITION BY k) AS nk
      |       FROM s),
      |tr AS (
      |  SELECT k, t, x, rn, nk,
      |    CAST((rn - 1) % 4 AS INT) AS phase,
      |    CASE WHEN rn > 2 AND rn <= nk - 2 THEN
      |      CAST(CAST(CAST(lag(x, 2) OVER wo + 2 * SUM(x) OVER win +
      |        lead(x, 2) OVER wo AS DOUBLE) / 8.0 AS DECIMAL(28,6))
      |        AS DOUBLE)
      |    END AS trend
      |  FROM rk
      |  WINDOW wo AS (PARTITION BY k ORDER BY t),
      |    win AS (PARTITION BY k ORDER BY t
      |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
      |pm AS (
      |  SELECT k, phase,
      |    CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) - trend
      |      AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS pmv
      |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
      |ctr AS (
      |  SELECT k,
      |    CAST(CAST(CAST(SUM(CAST(pmv AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS cv
      |  FROM pm GROUP BY 1)
      |SELECT tr.k AS event_type, tr.t AS b, tr.x, tr.phase, tr.trend,
      |  CASE WHEN pm.pmv IS NOT NULL THEN
      |    CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE)
      |  END AS seasonal,
      |  CASE WHEN tr.trend IS NOT NULL AND pm.pmv IS NOT NULL THEN
      |    CAST(CAST(CAST(tr.x AS DOUBLE) - tr.trend -
      |      CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE)
      |  END AS residual
      |FROM tr
      |LEFT JOIN pm ON pm.k = tr.k AND pm.phase = tr.phase
      |JOIN ctr ON ctr.k = tr.k""".stripMargin

  // q328: Hill tail index of per-user activity — how heavy is the
  // power-user tail? Top-51 order statistics, d6 log-ratios, exact
  // decimal sum.
  def q328Hill(s: SparkSession, dir: String): DataFrame = {
    val perUser = ev(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
    graft.pipeline.Stats.hillTailIndex(perUser, "x", k = 50)
  }

  val q328Sql: String =
    """WITH pu AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |top AS (SELECT x FROM pu WHERE x > 0 ORDER BY x DESC LIMIT 51),
      |th AS (SELECT MIN(x) AS thr, COUNT(*) AS nt FROM top),
      |terms AS (
      |  SELECT CASE WHEN x > thr THEN
      |      CAST(ln(CAST(x AS DOUBLE) / CAST(thr AS DOUBLE))
      |        AS DECIMAL(28,6))
      |    ELSE CAST(0 AS DECIMAL(28,6)) END AS t6, thr
      |  FROM top CROSS JOIN th),
      |agg AS (SELECT MAX(thr) AS threshold, SUM(t6) AS s6 FROM terms),
      |g AS (
      |  SELECT CAST(50 AS BIGINT) AS k, threshold,
      |    CAST(CAST(CAST(s6 AS DOUBLE) / 50.0 AS DECIMAL(28,6))
      |      AS DOUBLE) AS hill_gamma
      |  FROM agg)
      |SELECT k, threshold, hill_gamma,
      |  CASE WHEN hill_gamma > 0.0 THEN
      |    CAST(CAST(1.0 / hill_gamma AS DECIMAL(28,6)) AS DOUBLE)
      |  END AS tail_alpha
      |FROM g""".stripMargin

  // q329: Laplace-mechanism noisy count release per (lang, source) at
  // epsilon = 1 — the DP release mechanics with md5-seeded noise (the
  // documented reproducibility trade). The oracle replays the
  // inverse-CDF draw and the floor(x+0.5) post-processing.
  def q329DpRelease(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.dpNoisyCounts(t(s, dir, "documents"),
      Seq("lang", "source"), epsilon = 1.0)

  val q329Sql: String =
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |u AS (
      |  SELECT lang, source, n,
      |    (CAST(CAST(concat('0x', substring(md5('dp:' || lang || '|' ||
      |      source), 1, 8)) AS BIGINT) % 1000000 AS DOUBLE) + 0.5)
      |      / 1000000.0 AS u
      |  FROM c),
      |z AS (
      |  SELECT lang, source, n,
      |    CAST(CAST((-(1.0 / 1.0) * sign(u - 0.5)) *
      |      ln(1.0 - 2.0 * abs(u - 0.5)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS noise6
      |  FROM u)
      |SELECT lang, source,
      |  GREATEST(CAST(0 AS BIGINT),
      |    CAST(floor(CAST(n AS DOUBLE) + noise6 + 0.5) AS BIGINT))
      |    AS noisy_count,
      |  1.0 AS epsilon
      |FROM z""".stripMargin

  // q330: IPF raking weights that rebalance the corpus to uniform
  // language shares (0.2 each) AND uniform source shares (0.05 each)
  // simultaneously — 10 alternating margin-scaling rounds, every
  // weight d6 after its division. The oracle replays the trajectory as
  // a packed-cell-list recursive CTE with decimal margin sums.
  def q330Raking(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val sources = (0 until 20).map(i => s"src$i")
    graft.pipeline.Stats.rakeWeights(t(s, dir, "documents"),
      "lang", "source",
      rowTargets = langs.map(_ -> 0.2).toMap,
      colTargets = sources.map(_ -> 0.05).toMap)
  }

  val q330Sql: String =
    """WITH RECURSIVE c AS (
      |  SELECT lang AS r, source AS c, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c),
      |init AS (
      |  SELECT list({'r': r, 'c': c, 'n': n,
      |      'w': CAST(1.0 AS DOUBLE)}
      |    ORDER BY r, c) AS cells
      |  FROM c),
      |rake(it, cells) AS (
      |  SELECT 0, cells FROM init
      |  UNION ALL
      |  SELECT w1.it + 1,
      |    list_transform(w1.cells1, x -> {'r': x.r, 'c': x.c, 'n': x.n,
      |      'w': CASE WHEN CAST(list_sum(list_transform(
      |          list_filter(w1.cells1, y -> y.c = x.c),
      |          y -> CAST(y.w AS DECIMAL(28,6)) * y.n)) AS DOUBLE) = 0.0
      |        THEN 0.0
      |        ELSE CAST(CAST(x.w * (0.05 * w1.total) /
      |          CAST(list_sum(list_transform(
      |            list_filter(w1.cells1, y -> y.c = x.c),
      |            y -> CAST(y.w AS DECIMAL(28,6)) * y.n)) AS DOUBLE)
      |          AS DECIMAL(28,6)) AS DOUBLE) END})
      |  FROM (
      |    SELECT it, tot.total,
      |      list_transform(cells, x -> {'r': x.r, 'c': x.c, 'n': x.n,
      |        'w': CASE WHEN CAST(list_sum(list_transform(
      |            list_filter(cells, y -> y.r = x.r),
      |            y -> CAST(y.w AS DECIMAL(28,6)) * y.n)) AS DOUBLE) = 0.0
      |          THEN 0.0
      |          ELSE CAST(CAST(x.w * (0.2 * tot.total) /
      |            CAST(list_sum(list_transform(
      |              list_filter(cells, y -> y.r = x.r),
      |              y -> CAST(y.w AS DECIMAL(28,6)) * y.n)) AS DOUBLE)
      |            AS DECIMAL(28,6)) AS DOUBLE) END}) AS cells1
      |    FROM rake, tot WHERE it < 10) w1),
      |fin AS (SELECT cells FROM rake ORDER BY it DESC LIMIT 1),
      |ux AS (SELECT unnest(cells) AS x FROM fin)
      |SELECT x.r AS lang, x.c AS source, CAST(x.n AS BIGINT) AS n_rows,
      |  x.w AS weight
      |FROM ux""".stripMargin

  // q331: Krippendorff's alpha over a partial-coverage rating design —
  // 3 raters, each rating 2/3 of the docs ((doc_id + r) % 3 != 0), value
  // = a perturbed length bucket so raters genuinely disagree. The
  // oracle replays the coincidence terms with d6-per-unit rationals.
  def q331Krippendorff(s: SparkSession, dir: String): DataFrame = {
    val raters = s.range(0, 3).select(col("id").as("r"))
    val ratings = t(s, dir, "documents")
      .crossJoin(broadcast(raters))
      .filter((col("doc_id") + col("r")) % 3 =!= 0)
      .select(col("doc_id"),
        least(expr("(n_chars + r * 17) div 100"), lit(5L)).as("v"))
    graft.pipeline.Stats.krippendorffAlpha(ratings, "doc_id", "v")
  }

  val q331Sql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    LEAST((n_chars + rr.r * 17) // 100, 5) AS v
      |  FROM documents CROSS JOIN (SELECT unnest(range(3)) AS r) rr
      |  WHERE (doc_id + rr.r) % 3 <> 0),
      |byuv AS (SELECT doc_id AS u, CAST(v AS VARCHAR) AS v,
      |           CAST(COUNT(*) AS BIGINT) AS nuv
      |         FROM r GROUP BY 1, 2),
      |wm AS (SELECT *, CAST(SUM(nuv) OVER (PARTITION BY u) AS BIGINT)
      |         AS mu FROM byuv),
      |f AS (SELECT * FROM wm WHERE mu >= 2),
      |agg AS (
      |  SELECT CAST(SUM(nuv) AS BIGINT) AS n,
      |    SUM(CAST(CAST(nuv * (nuv - 1) AS DOUBLE) /
      |      CAST(mu - 1 AS DOUBLE) AS DECIMAL(28,6))) AS occ6
      |  FROM f),
      |mg AS (
      |  SELECT CAST(SUM(nc * (nc - 1)) AS BIGINT) AS epairs,
      |    CAST(COUNT(*) AS BIGINT) AS ncl
      |  FROM (SELECT v, CAST(SUM(nuv) AS BIGINT) AS nc
      |        FROM f GROUP BY 1)),
      |st AS (
      |  SELECT n AS n_ratings, ncl AS n_classes,
      |    CAST(CAST(CAST(occ6 AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS a_o,
      |    CAST(CAST(CAST(epairs AS DOUBLE) /
      |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS a_e
      |  FROM agg CROSS JOIN mg)
      |SELECT n_ratings, n_classes, a_o, a_e,
      |  CAST(CAST((a_o - a_e) / (1.0 - a_e) AS DECIMAL(28,6))
      |    AS DOUBLE) AS alpha
      |FROM st""".stripMargin

  // q332: class-balanced weights over document languages at beta =
  // 0.999 — the effective-number re-weighting for the training mix.
  def q332ClassBalance(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.classBalancedWeights(
      t(s, dir, "documents"), "lang")

  val q332Sql: String =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM documents GROUP BY 1),
      |e AS (
      |  SELECT lang, n_rows,
      |    CAST(CAST((1.0 - exp(CAST(n_rows AS DOUBLE) * ln(0.999))) /
      |      (1.0 - 0.999) AS DECIMAL(28,6)) AS DOUBLE) AS eff_n
      |  FROM c),
      |w AS (SELECT *, CAST(CAST(1.0 / eff_n AS DECIMAL(28,6))
      |        AS DOUBLE) AS wr FROM e),
      |t AS (SELECT SUM(CAST(wr AS DECIMAL(28,6))) AS s,
      |        CAST(COUNT(*) AS BIGINT) AS cc FROM w)
      |SELECT lang, n_rows, eff_n,
      |  CAST(CAST(wr * CAST(cc AS DOUBLE) / CAST(s AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS weight
      |FROM w CROSS JOIN t""".stripMargin

  // q333: mutual-information token selection for the English/non-English
  // label — which tokens' presence says the most about the class. The
  // oracle replays the 2x2 tables and d6 MI terms.
  def q333InfoGain(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.infoGainTokens(
      t(s, dir, "documents").withColumn("lang_en",
        (col("lang") === "en").cast("int")),
      "doc_id", "text", "lang_en", topK = 30, minDocs = 5)

  val q333Sql: String =
    """WITH d AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |    text
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, y,
      |    unnest(list_distinct(list_filter(string_split(text, ' '),
      |      t -> t <> ''))) AS tok
      |  FROM d),
      |pt AS (SELECT tok, CAST(SUM(y) AS BIGINT) AS a,
      |         CAST(SUM(1 - y) AS BIGINT) AS b
      |       FROM p GROUP BY 1),
      |tt AS (SELECT CAST(SUM(y) AS BIGINT) AS n1,
      |         CAST(SUM(1 - y) AS BIGINT) AS n0 FROM d),
      |j AS (
      |  SELECT tok, a, b, n1 - a AS c, n0 - b AS dd, n1, n0
      |  FROM pt CROSS JOIN tt WHERE a + b >= 5),
      |m AS (
      |  SELECT tok, a, b,
      |    (CASE WHEN a > 0 THEN CAST(CAST(a AS DOUBLE) /
      |        CAST(n1 + n0 AS DOUBLE) * ln(CAST(a AS DOUBLE) *
      |        CAST(n1 + n0 AS DOUBLE) / (CAST(a + b AS DOUBLE) *
      |        CAST(n1 AS DOUBLE))) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END +
      |     CASE WHEN b > 0 THEN CAST(CAST(b AS DOUBLE) /
      |        CAST(n1 + n0 AS DOUBLE) * ln(CAST(b AS DOUBLE) *
      |        CAST(n1 + n0 AS DOUBLE) / (CAST(a + b AS DOUBLE) *
      |        CAST(n0 AS DOUBLE))) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END +
      |     CASE WHEN c > 0 THEN CAST(CAST(c AS DOUBLE) /
      |        CAST(n1 + n0 AS DOUBLE) * ln(CAST(c AS DOUBLE) *
      |        CAST(n1 + n0 AS DOUBLE) / (CAST(c + dd AS DOUBLE) *
      |        CAST(n1 AS DOUBLE))) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END +
      |     CASE WHEN dd > 0 THEN CAST(CAST(dd AS DOUBLE) /
      |        CAST(n1 + n0 AS DOUBLE) * ln(CAST(dd AS DOUBLE) *
      |        CAST(n1 + n0 AS DOUBLE) / (CAST(c + dd AS DOUBLE) *
      |        CAST(n0 AS DOUBLE))) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS mi6
      |  FROM j)
      |SELECT tok AS token, a AS n_pos_docs, b AS n_neg_docs,
      |  CAST(CAST(CAST(mi6 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS mutual_info
      |FROM m ORDER BY mutual_info DESC, token ASC LIMIT 30""".stripMargin

  // q334: ROC AUC + average precision of a deterministic document score
  // against the English label — (n_chars·7 + doc_id) % 101 guarantees
  // heavy score TIES (101 distinct values over the corpus), so the
  // entry exercises the midrank/threshold-step handling, not just the
  // easy untied path. The oracle replays the denominator-cleared 2U and
  // the d6-per-threshold AP terms.
  def q334RocAuc(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.rocPrAuc(
      t(s, dir, "documents")
        .select(((col("n_chars") * 7 + col("doc_id")) % 101).as("score"),
          (col("lang") === "en").cast("long").as("y")),
      "score", "y")

  val q334Sql: String =
    """WITH d AS (
      |  SELECT (n_chars * 7 + doc_id) % 101 AS s,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
      |        CAST(SUM(y) AS BIGINT) AS p
      |      FROM d GROUP BY 1),
      |w AS (
      |  SELECT s, n, p,
      |    COALESCE(SUM(n - p) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS negbelow,
      |    SUM(p) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    SUM(n - p) OVER (ORDER BY s DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      |  FROM g),
      |tot AS (
      |  SELECT CAST(SUM(p) AS BIGINT) AS n1,
      |    CAST(SUM(n - p) AS BIGINT) AS n0,
      |    SUM(CAST(p * (2 * negbelow + (n - p)) AS DECIMAL(38,0))) AS u2
      |  FROM w),
      |ap AS (
      |  SELECT SUM(CASE WHEN p > 0 THEN
      |      CAST(CAST(p AS DOUBLE) * CAST(tp AS DOUBLE) /
      |        (CAST(n1 AS DOUBLE) * CAST(tp + fp AS DOUBLE))
      |        AS DECIMAL(28,6))
      |    ELSE CAST(0 AS DECIMAL(28,6)) END) AS ap6
      |  FROM w CROSS JOIN tot)
      |SELECT n1 AS n_pos, n0 AS n_neg,
      |  CAST(CAST(CAST(u2 AS DOUBLE) /
      |    (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS auc,
      |  CAST(CAST(CAST(ap6 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS avg_precision
      |FROM tot CROSS JOIN ap""".stripMargin

  // q335: 1-Wasserstein distance between the English and Chinese
  // n_chars distributions — "how many characters did the length
  // distribution move", in character units. The oracle replays the
  // merged-grid integer form Σ|C_a·n_b − C_b·n_a|·Δx.
  def q335Wasserstein(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.wasserstein1(
      t(s, dir, "documents"), "n_chars", "lang", "en", "zh")

  val q335Sql: String =
    """WITH d AS (
      |  SELECT n_chars AS v, lang FROM documents
      |  WHERE lang IN ('en', 'zh')),
      |g AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ca,
      |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cb
      |  FROM d GROUP BY 1),
      |c AS (
      |  SELECT v,
      |    SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    LEAD(v) OVER (ORDER BY v) - v AS dx
      |  FROM g),
      |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |          CAST(SUM(cb) AS BIGINT) AS nb FROM g)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST(SUM(CASE WHEN dx IS NOT NULL THEN
      |      CAST(abs(cuma * nb - cumb * na) * dx AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT)
      |    AS w1_scaled,
      |  CAST(CAST(CAST(SUM(CASE WHEN dx IS NOT NULL THEN
      |      CAST(abs(cuma * nb - cumb * na) * dx AS DECIMAL(38,0))
      |    ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) /
      |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS w1
      |FROM c CROSS JOIN tot
      |GROUP BY na, nb""".stripMargin

  // q338: one-way ANOVA of n_chars across languages — does language
  // explain document length, and how much (η²/ω²)? The oracle replays
  // the exact sufficient statistics and the d6-per-group Σ S_g²/n_g
  // decimal sum.
  def q338Anova(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.anovaOneWay(
      t(s, dir, "documents"), "lang", "n_chars")

  val q338Sql: String =
    """WITH g AS (
      |  SELECT lang AS gr, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(n_chars AS DECIMAL(38,0))) AS s,
      |    SUM(CAST(n_chars AS DECIMAL(38,0)) *
      |        CAST(n_chars AS DECIMAL(38,0))) AS q
      |  FROM documents GROUP BY 1),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(n) AS BIGINT) AS nt, SUM(s) AS st, SUM(q) AS qt,
      |    SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
      |      CAST(n AS DOUBLE) AS DECIMAL(28,6))) AS ssg6
      |  FROM g),
      |b AS (
      |  SELECT k, nt,
      |    CAST(CAST(CAST(ssg6 AS DOUBLE) -
      |      CAST(st AS DOUBLE) * CAST(st AS DOUBLE) /
      |      CAST(nt AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS ssb,
      |    CAST(CAST(CAST(qt AS DOUBLE) - CAST(ssg6 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ssw
      |  FROM a)
      |SELECT k AS k_groups, nt AS n_rows,
      |  ssb AS ss_between, ssw AS ss_within,
      |  CASE WHEN ssw > 0 THEN CAST(CAST(
      |    (ssb / CAST(k - 1 AS DOUBLE)) /
      |    (ssw / CAST(nt - k AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |  END AS f_stat,
      |  CASE WHEN ssb + ssw > 0 THEN CAST(CAST(ssb / (ssb + ssw)
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS eta2,
      |  CASE WHEN ssw > 0 THEN CAST(CAST(
      |    (ssb - CAST(k - 1 AS DOUBLE) * (ssw / CAST(nt - k AS DOUBLE)))
      |    / (ssb + ssw + ssw / CAST(nt - k AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS omega2
      |FROM b""".stripMargin

  // q340: fairness audit of a deterministic length-flavored gate
  // against a deterministic outcome label, sliced by language — the
  // 80%-rule table (dp_ratio) + equalized-odds gaps. Both the gate and
  // the label are exact integer functions of (doc_id, n_chars), so the
  // confusion tables replay exactly.
  def q340Fairness(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.fairnessAudit(
      t(s, dir, "documents")
        .withColumn("p",
          ((col("doc_id") * 7 + col("n_chars")) % 5 < 2).cast("long"))
        .withColumn("y",
          ((col("doc_id") + col("n_chars")) % 3 === 0).cast("long")),
      "lang", "p", "y")

  val q340Sql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CASE WHEN (doc_id * 7 + n_chars) % 5 < 2 THEN 1 ELSE 0 END
      |      AS p,
      |    CASE WHEN (doc_id + n_chars) % 3 = 0 THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |g AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(p) AS BIGINT) AS sel, CAST(SUM(y) AS BIGINT) AS pos,
      |    CAST(SUM(p * y) AS BIGINT) AS tp,
      |    CAST(SUM(p * (1 - y)) AS BIGINT) AS fp
      |  FROM d GROUP BY 1),
      |r AS (
      |  SELECT lang, n AS n_rows, sel AS n_selected,
      |    CAST(CAST(CAST(sel AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sel_rate,
      |    CASE WHEN pos > 0 THEN CAST(CAST(CAST(tp AS DOUBLE) /
      |      CAST(pos AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS tpr,
      |    CASE WHEN n - pos > 0 THEN CAST(CAST(CAST(fp AS DOUBLE) /
      |      CAST(n - pos AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END
      |      AS fpr,
      |    pos, tp, fp
      |  FROM g),
      |ref AS (
      |  SELECT MAX(sel_rate) AS maxsel,
      |    CAST(SUM(pos) AS BIGINT) AS post,
      |    CAST(SUM(tp) AS BIGINT) AS tpt,
      |    CAST(SUM(fp) AS BIGINT) AS fpt,
      |    CAST(SUM(n_rows) AS BIGINT) AS nt
      |  FROM r)
      |SELECT lang, n_rows, n_selected, sel_rate,
      |  CASE WHEN maxsel > 0 THEN
      |    CAST(CAST(sel_rate / maxsel AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS dp_ratio,
      |  tpr, fpr,
      |  CASE WHEN tpr IS NOT NULL AND post > 0 THEN
      |    CAST(CAST(tpr - CAST(CAST(CAST(tpt AS DOUBLE) /
      |      CAST(post AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS tpr_gap,
      |  CASE WHEN fpr IS NOT NULL AND nt - post > 0 THEN
      |    CAST(CAST(fpr - CAST(CAST(CAST(fpt AS DOUBLE) /
      |      CAST(nt - post AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS fpr_gap
      |FROM r CROSS JOIN ref""".stripMargin

  // q346: two-state HMM Viterbi decode of each user's event sequence
  // (Behavior.viterbiDecode) — browse/buy regime segmentation under
  // integer tropical-semiring scores. The oracle replays the DP as a
  // recursive CTE whose per-step state is the two (score, backtracked
  // path) pairs, with the same >=-prefers-state-0 tie discipline, so
  // the decoded path strings are hash-exact. The emission table joins
  // LEFT with COALESCE(e,0) to mirror the operator's open-vocabulary
  // default (unknown event types score (0,0) and stay in the path) —
  // an inner join would silently drop users on out-of-map types.
  def q346Viterbi(s: SparkSession, dir: String): DataFrame =
    Behavior.viterbiDecode(ev(s, dir), "user_id", "event_type",
      "ts_us", "event_id",
      emit = Seq(("view", 2L, -1L), ("click", 1L, 1L),
        ("signup", 0L, 1L), ("error", 1L, 0L), ("purchase", -2L, 3L)),
      start = (0L, -1L), trans = (1L, -1L, -1L, 1L),
      stateNames = ("A", "B"), maxLen = 100)

  val q346Sql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS i
      |  FROM events),
      |obs AS (SELECT * FROM ev WHERE i <= 100),
      |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs
      |      FROM obs GROUP BY 1),
      |em AS (SELECT * FROM (VALUES
      |  ('view', 2, -1), ('click', 1, 1), ('signup', 0, 1),
      |  ('error', 1, 0), ('purchase', -2, 3)) t(et, e0, e1)),
      |r AS (
      |  SELECT o.user_id, o.i,
      |    CAST(0 + COALESCE(em.e0, 0) AS BIGINT) AS s0,
      |    CAST(-1 + COALESCE(em.e1, 0) AS BIGINT) AS s1,
      |    'A' AS p0, 'B' AS p1
      |  FROM obs o LEFT JOIN em ON em.et = o.event_type
      |  WHERE o.i = 1
      |  UNION ALL
      |  SELECT o.user_id, o.i,
      |    GREATEST(r.s0 + 1, r.s1 - 1) + COALESCE(em.e0, 0),
      |    GREATEST(r.s0 - 1, r.s1 + 1) + COALESCE(em.e1, 0),
      |    (CASE WHEN r.s0 + 1 >= r.s1 - 1 THEN r.p0 ELSE r.p1 END)
      |      || 'A',
      |    (CASE WHEN r.s0 - 1 >= r.s1 + 1 THEN r.p0 ELSE r.p1 END)
      |      || 'B'
      |  FROM r
      |  JOIN obs o ON o.user_id = r.user_id AND o.i = r.i + 1
      |  LEFT JOIN em ON em.et = o.event_type)
      |SELECT r.user_id, n.n_obs,
      |  CAST(CASE WHEN r.s0 >= r.s1 THEN r.s0 ELSE r.s1 END AS BIGINT)
      |    AS best_score,
      |  CASE WHEN r.s0 >= r.s1 THEN r.p0 ELSE r.p1 END AS path
      |FROM r JOIN n ON n.user_id = r.user_id AND r.i = n.n_obs""".stripMargin

  // q349: pairwise association rules over user×day event baskets
  // (Behavior.associationRules) — support/confidence/lift with integer
  // counts and one d6 division per metric; broadcast 1-row basket
  // total, basket-keyed pair self-join.
  def q349AssocRules(s: SparkSession, dir: String): DataFrame =
    Behavior.associationRules(
      ev(s, dir).withColumn("day", expr("ts_us div 86400000000")),
      basketCols = Seq("user_id", "day"), itemCol = "event_type",
      minCount = 2L)

  val q349Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    event_type
      |  FROM events WHERE event_type IS NOT NULL),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
      |       FROM (SELECT DISTINCT user_id, day FROM b)),
      |ic AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM b GROUP BY 1),
      |pc AS (
      |  SELECT a.event_type AS antecedent, c.event_type AS consequent,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |    AND a.event_type <> c.event_type
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT antecedent, consequent, n_both,
      |  CAST(CAST(CAST(n_both AS DOUBLE) / CAST(nb.n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS support,
      |  CAST(CAST(CAST(n_both AS DOUBLE) / CAST(ia.n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS confidence,
      |  CAST(CAST(CAST(n_both * nb.n AS DOUBLE) /
      |    CAST(ia.n * ic2.n AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS lift
      |FROM pc
      |JOIN ic ia ON ia.event_type = pc.antecedent
      |JOIN ic ic2 ON ic2.event_type = pc.consequent
      |CROSS JOIN nb""".stripMargin

  // q350: sample ACF (lags 1..6) of per-type 6h event volumes
  // (Timeseries.acf) — denominator-cleared integer deviations
  // d_t = n·x_t − S, decimal(38,0)/HUGEINT product sums, one d6
  // division per (type, lag). The corrgram over the same buckets
  // q321 decomposes.
  def q350Acf(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.acf(buckets, "event_type", "b", "x", maxLag = 6)
  }

  val q350Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx
      |       FROM s GROUP BY 1),
      |d AS (SELECT s.k, s.t, st.n, st.n * s.x - st.sx AS dv
      |      FROM s JOIN st ON st.k = s.k),
      |l AS (SELECT k, n, dv,
      |    lag(dv, 1) OVER w AS l1, lag(dv, 2) OVER w AS l2,
      |    lag(dv, 3) OVER w AS l3, lag(dv, 4) OVER w AS l4,
      |    lag(dv, 5) OVER w AS l5, lag(dv, 6) OVER w AS l6
      |  FROM d WINDOW w AS (PARTITION BY k ORDER BY t)),
      |den AS (SELECT k, SUM(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT))
      |          AS dn, MAX(n) AS n
      |        FROM l GROUP BY 1),
      |pr AS (
      |  SELECT k, u.lg,
      |    CAST(dv AS HUGEINT) * CAST(CASE u.lg
      |      WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
      |      WHEN 4 THEN l4 WHEN 5 THEN l5 ELSE l6 END AS HUGEINT) AS p
      |  FROM l, (SELECT unnest(range(1, 7)) AS lg) u),
      |num AS (SELECT k, lg, SUM(p) AS nm FROM pr WHERE p IS NOT NULL
      |        GROUP BY 1, 2)
      |SELECT num.k AS event_type, CAST(num.lg AS INTEGER) AS lag,
      |  den.n AS n_periods,
      |  CASE WHEN den.dn > 0 THEN
      |    CAST(CAST(CAST(num.nm AS DOUBLE) / CAST(den.dn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS acf
      |FROM num JOIN den ON den.k = num.k""".stripMargin

  // q351: stationary distribution of the event-type Markov chain
  // (Behavior.stationaryDistribution) — 30 fixed-point power-iteration
  // steps at scale 10⁶, floor-quantized each step, all in-row on the
  // collected (states, cells) row. The oracle replays the full
  // iteration as a recursive CTE; DuckDB's 1-based lambda index feeds
  // rs[i] directly where Spark reads element_at(_rs, i+1).
  def q351Stationary(s: SparkSession, dir: String): DataFrame =
    Behavior.stationaryDistribution(ev(s, dir), "user_id", "event_type",
      "ts_us", "event_id")

  val q351Sql: String =
    """WITH RECURSIVE tr AS (
      |  SELECT event_type AS f,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t
      |  FROM events),
      |c AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n FROM tr
      |      WHERE t IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT
      |    list_sort(list_distinct(flatten([list(f), list(t)]))) AS st,
      |    list({f: f, t: t, n: n}) AS cells
      |  FROM c),
      |m2 AS (SELECT st, cells, CAST(len(st) AS BIGINT) AS k,
      |    list_transform(st, si -> COALESCE(list_sum(list_transform(
      |      list_filter(cells, x -> x.f = si), x -> x.n)), 0)) AS rs
      |  FROM m),
      |m3 AS (SELECT st, cells, k, rs,
      |    flatten(list_transform(st, (si, i) ->
      |      list_transform(st, sj ->
      |        CASE WHEN rs[CAST(i AS INTEGER)] = 0 THEN
      |          CASE WHEN si = sj THEN 1000000 ELSE 0 END
      |        ELSE CAST(floor(CAST(COALESCE(list_sum(list_transform(
      |          list_filter(cells, x -> x.f = si AND x.t = sj),
      |          x -> x.n)), 0) AS DOUBLE) * 1000000.0 /
      |          CAST(rs[CAST(i AS INTEGER)] AS DOUBLE)) AS BIGINT)
      |        END))) AS p6
      |  FROM m2),
      |it AS (
      |  SELECT 0 AS s,
      |    (SELECT list_transform(st, x -> CAST(floor(1000000.0 /
      |      CAST(k AS DOUBLE)) AS BIGINT)) FROM m3) AS pi
      |  UNION ALL
      |  SELECT it.s + 1,
      |    list_transform(range(0, m3.k), j ->
      |      CAST(floor(CAST(list_sum(list_transform(range(0, m3.k), i ->
      |        it.pi[CAST(i + 1 AS INTEGER)] *
      |        m3.p6[CAST(i * m3.k + j + 1 AS INTEGER)])) AS DOUBLE)
      |        / 1000000.0) AS BIGINT)) AS pi
      |  FROM it, m3 WHERE it.s < 30)
      |SELECT unnest((SELECT st FROM m3)) AS event_type,
      |  CAST(CAST(CAST(unnest(pi) AS DOUBLE) / 1000000.0
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pi
      |FROM it WHERE s = 30""".stripMargin

  // the chi-square 95% critical-value CASE, generated from the SAME
  // Stats.chiSq95 literal table the operators compare against — one
  // source of truth for both engines
  private def chiCase(dfExpr: String): String =
    s"CASE $dfExpr " + graft.pipeline.Stats.chiSq95.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
      .mkString(" ") + " END"

  // q353: Kruskal–Wallis H across document languages on n_chars
  // (Stats.kruskalWallis) — rank one-way ANOVA, midranks in doubled
  // units, d6-per-group R²/n terms, tie-corrected, chi-square table
  // significance. The oracle replays ranks via the cumulative window
  // over the (group, value) frame.
  def q353Kruskal(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.kruskalWallis(
      t(s, dir, "documents"), "lang", "n_chars")

  val q353Sql: String =
    s"""WITH gv AS (
      |  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |bv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY 1),
      |r AS (SELECT v,
      |    2 * COALESCE(SUM(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t + 1 AS r2
      |  FROM bv),
      |ties AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie FROM bv),
      |bg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
      |         SUM(CAST(c AS HUGEINT) * r2) AS r2s
      |       FROM gv JOIN r USING (v) GROUP BY 1),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |        CAST(SUM(n) AS BIGINT) AS nt,
      |        SUM(CAST(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE) /
      |          (4.0 * CAST(n AS DOUBLE)) AS DECIMAL(28,6))) AS rr6
      |      FROM bg),
      |f AS (SELECT k, nt,
      |    CAST(CAST(12.0 / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE)
      |      + 1.0)) * CAST(rr6 AS DOUBLE) - 3.0 * (CAST(nt AS DOUBLE)
      |      + 1.0) AS DECIMAL(28,6)) AS DOUBLE) AS h,
      |    CAST(CAST(1.0 - CAST(tie AS DOUBLE) /
      |      CAST(CAST(nt AS HUGEINT) * nt * nt - nt AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS tc
      |  FROM a, ties),
      |f2 AS (SELECT k, nt, h,
      |    CAST(CAST(h / tc AS DECIMAL(28,6)) AS DOUBLE) AS hc
      |  FROM f)
      |SELECT k AS k_groups, nt AS n_rows, h AS h_stat,
      |  hc AS h_corrected,
      |  CASE WHEN k - 1 <= 30 THEN
      |    CAST(hc >= ${chiCase("k - 1")} AS INTEGER) END AS significant
      |FROM f2""".stripMargin

  // q354: Brown–Forsythe variance-homogeneity test across languages
  // (Stats.brownForsythe) — ANOVA F on |x − group median| with the
  // median in exact doubled units (two order statistics via cumulative
  // counts), so everything before the final F is integer.
  def q354BrownForsythe(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.brownForsythe(
      t(s, dir, "documents"), "lang", "n_chars")

  val q354Sql: String =
    """WITH gv AS (
      |  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |cumt AS (SELECT g, v, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |    SUM(c) OVER (PARTITION BY g) AS n
      |  FROM gv),
      |med AS (SELECT g,
      |    MAX(CASE WHEN cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + c
      |      THEN v END) +
      |    MAX(CASE WHEN cb < n // 2 + 1 AND n // 2 + 1 <= cb + c
      |      THEN v END) AS med2
      |  FROM cumt GROUP BY g),
      |z AS (SELECT gv.g, c, ABS(2 * v - med2) AS z2
      |      FROM gv JOIN med ON med.g = gv.g),
      |bg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
      |         SUM(CAST(c AS HUGEINT) * z2) AS s,
      |         SUM(CAST(c AS HUGEINT) * z2 * z2) AS q
      |       FROM z GROUP BY 1),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |        CAST(SUM(n) AS BIGINT) AS nt,
      |        SUM(s) AS st, SUM(q) AS qt,
      |        SUM(CAST(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
      |          CAST(n AS DOUBLE) AS DECIMAL(28,6))) AS ssg6
      |      FROM bg),
      |st2 AS (SELECT k, nt,
      |    CAST(CAST(CAST(ssg6 AS DOUBLE) - CAST(st AS DOUBLE) *
      |      CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ssb,
      |    CAST(CAST(CAST(qt AS DOUBLE) - CAST(ssg6 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ssw
      |  FROM a)
      |SELECT k AS k_groups, nt AS n_rows, ssb AS ss_between,
      |  ssw AS ss_within,
      |  CASE WHEN ssw > 0 THEN
      |    CAST(CAST((ssb / CAST(k - 1 AS DOUBLE)) /
      |      (ssw / CAST(nt - k AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |  END AS f_stat
      |FROM st2""".stripMargin

  // q355: Friedman rank test — 40 user buckets (blocks) × 5 event
  // types (systems) on per-cell event counts (Stats.friedmanTest):
  // the "k models × n prompts" eval-table test, complete-block
  // enforced loudly, per-item midranks, tie-corrected chi-square.
  def q355Friedman(s: SparkSession, dir: String): DataFrame = {
    val cells = ev(s, dir)
      .groupBy((col("user_id") % 40).as("item"),
        col("event_type").as("sys"))
      .agg(count(lit(1)).as("v"))
    graft.pipeline.Stats.friedmanTest(cells, "item", "sys", "v")
  }

  val q355Sql: String =
    s"""WITH cells AS (
      |  SELECT user_id % 40 AS i, event_type AS sys,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |iv AS (SELECT i, v, CAST(COUNT(*) AS BIGINT) AS t
      |       FROM cells GROUP BY 1, 2),
      |r AS (SELECT i, v,
      |    2 * COALESCE(SUM(t) OVER (PARTITION BY i ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t + 1 AS r2
      |  FROM iv),
      |ties AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
      |           AS tie FROM iv),
      |aud AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n,
      |          CAST(COUNT(DISTINCT sys) AS BIGINT) AS k
      |        FROM cells),
      |bs AS (SELECT sys, SUM(CAST(r2 AS HUGEINT)) AS r2s
      |       FROM cells JOIN r ON r.i = cells.i AND r.v = cells.v
      |       GROUP BY 1),
      |a AS (SELECT SUM(CAST(CAST(r2s AS DOUBLE) * CAST(r2s AS DOUBLE)
      |        / 4.0 AS DECIMAL(28,6))) AS rr6
      |      FROM bs),
      |f AS (SELECT n, k,
      |    CAST(CAST(12.0 / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE) *
      |      (CAST(k AS DOUBLE) + 1.0)) * CAST(rr6 AS DOUBLE) -
      |      3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS q,
      |    CAST(CAST(1.0 - CAST(tie AS DOUBLE) / (CAST(n AS DOUBLE) *
      |      CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
      |      - 1.0)) AS DECIMAL(28,6)) AS DOUBLE) AS tc
      |  FROM a, ties, aud),
      |f2 AS (SELECT n, k, q,
      |    CASE WHEN tc > 0 THEN
      |      CAST(CAST(q / tc AS DECIMAL(28,6)) AS DOUBLE) END AS qc
      |  FROM f)
      |SELECT n AS n_items, k AS k_systems, q AS q_stat,
      |  qc AS q_corrected,
      |  CASE WHEN qc IS NOT NULL AND k - 1 <= 30 THEN
      |    CAST(qc >= ${chiCase("k - 1")} AS INTEGER) END AS significant
      |FROM f2""".stripMargin

  // q356: Ljung–Box whiteness test over the q350 volume buckets
  // (Timeseries.ljungBox) — the one-number rollup of the corrgram:
  // Q = n(n+2)·Σ ρ_k²/(n−k) on the d6 ρ values acf emits, fixed
  // chi-square literal at df = maxLag.
  def q356LjungBox(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.ljungBox(buckets, "event_type", "b", "x",
      maxLag = 6)
  }

  val q356Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx
      |       FROM s GROUP BY 1),
      |d AS (SELECT s.k, s.t, st.n, st.n * s.x - st.sx AS dv
      |      FROM s JOIN st ON st.k = s.k),
      |l AS (SELECT k, n, dv,
      |    lag(dv, 1) OVER w AS l1, lag(dv, 2) OVER w AS l2,
      |    lag(dv, 3) OVER w AS l3, lag(dv, 4) OVER w AS l4,
      |    lag(dv, 5) OVER w AS l5, lag(dv, 6) OVER w AS l6
      |  FROM d WINDOW w AS (PARTITION BY k ORDER BY t)),
      |den AS (SELECT k, SUM(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT))
      |          AS dn, MAX(n) AS n
      |        FROM l GROUP BY 1),
      |pr AS (
      |  SELECT k, u.lg,
      |    CAST(dv AS HUGEINT) * CAST(CASE u.lg
      |      WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
      |      WHEN 4 THEN l4 WHEN 5 THEN l5 ELSE l6 END AS HUGEINT) AS p
      |  FROM l, (SELECT unnest(range(1, 7)) AS lg) u),
      |num AS (SELECT k, lg, SUM(p) AS nm FROM pr WHERE p IS NOT NULL
      |        GROUP BY 1, 2),
      |acf AS (
      |  SELECT num.k, CAST(num.lg AS INTEGER) AS lg, den.n,
      |    CASE WHEN den.dn > 0 THEN
      |      CAST(CAST(CAST(num.nm AS DOUBLE) / CAST(den.dn AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS rho
      |  FROM num JOIN den ON den.k = num.k),
      |lb AS (
      |  SELECT k, MAX(n) AS n_periods, CAST(COUNT(rho) AS BIGINT)
      |      AS n_lags,
      |    SUM(CAST(rho * rho / CAST(n - lg AS DOUBLE)
      |      AS DECIMAL(28,6))) AS q6
      |  FROM acf GROUP BY 1),
      |lb2 AS (
      |  SELECT k, n_periods, n_lags,
      |    CASE WHEN n_lags = 6 THEN
      |      CAST(CAST(CAST(n_periods AS DOUBLE) *
      |        (CAST(n_periods AS DOUBLE) + 2.0) * CAST(q6 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS qs
      |  FROM lb)
      |SELECT k AS event_type, n_periods, n_lags,
      |  CAST(6 AS BIGINT) AS df, qs AS q_stat,
      |  CASE WHEN qs IS NOT NULL THEN
      |    CAST(qs >= 12.591587 AS INTEGER) END AS significant
      |FROM lb2""".stripMargin

  // q362: cross-correlation function view→purchase over 6h volume
  // buckets (Timeseries.ccf) — lead-lag attribution with the acf
  // determinism contract doubled (denominator-cleared integer
  // deviations, decimal product sums, one d6 per lag).
  def q362Ccf(s: SparkSession, dir: String): DataFrame = {
    // the global-series key is DERIVED from data (empty substring of
    // the bucket), not a literal: a foldable constant key would let
    // Catalyst collapse ccf's stats equi-join into a CartesianProduct
    // (the PlanLintSpec screen)
    val b = ev(s, dir)
      .groupBy(expr("ts_us div 21600000000").as("b"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      .withColumn("k", substring(col("b").cast("string"), 1, 0))
    graft.ops.Timeseries.ccf(b, "k", "b", "x", "y", maxLag = 6)
  }

  val q362Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS xv,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS yv
      |  FROM events),
      |s AS (SELECT t, CAST(SUM(xv) AS BIGINT) AS x,
      |        CAST(SUM(yv) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(y) AS BIGINT) AS sy
      |       FROM s),
      |d AS (SELECT s.t, st.n, st.n * s.x - st.sx AS dx,
      |        st.n * s.y - st.sy AS dy
      |      FROM s CROSS JOIN st),
      |l AS (SELECT n, dy, dx AS l0,
      |    lag(dx, 1) OVER w AS l1, lag(dx, 2) OVER w AS l2,
      |    lag(dx, 3) OVER w AS l3, lag(dx, 4) OVER w AS l4,
      |    lag(dx, 5) OVER w AS l5, lag(dx, 6) OVER w AS l6
      |  FROM d WINDOW w AS (ORDER BY t)),
      |den AS (SELECT SUM(CAST(l0 AS HUGEINT) * l0) AS dnx,
      |          SUM(CAST(dy AS HUGEINT) * dy) AS dny, MAX(n) AS n
      |        FROM l),
      |pr AS (
      |  SELECT u.lg,
      |    CAST(dy AS HUGEINT) * CAST(CASE u.lg
      |      WHEN 0 THEN l0 WHEN 1 THEN l1 WHEN 2 THEN l2
      |      WHEN 3 THEN l3 WHEN 4 THEN l4 WHEN 5 THEN l5
      |      ELSE l6 END AS HUGEINT) AS p
      |  FROM l, (SELECT unnest(range(0, 7)) AS lg) u),
      |num AS (SELECT lg, SUM(p) AS nm FROM pr WHERE p IS NOT NULL
      |        GROUP BY 1)
      |SELECT '' AS k, CAST(num.lg AS INTEGER) AS lag,
      |  den.n AS n_periods,
      |  CASE WHEN den.dnx > 0 AND den.dny > 0 THEN
      |    CAST(CAST(CAST(num.nm AS DOUBLE) /
      |      sqrt(CAST(den.dnx AS DOUBLE) * CAST(den.dny AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS ccf
      |FROM num CROSS JOIN den""".stripMargin

  // q363: Nelson–Aalen cumulative hazard over the q302 churn frame
  // (Stats.nelsonAalen) — the hazard-scale sibling of Kaplan–Meier,
  // fully log/exp-free: d6 increments + decimal cumulative sum.
  def q363NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select(expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(7L * day)).cast("int").as("churned"))
    graft.pipeline.Stats.nelsonAalen(users, "duration_days", "churned")
  }

  val q363Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |d AS (
      |  SELECT (l - f) // 86400000000 AS duration,
      |    CASE WHEN mx - l > 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT duration, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(ev) AS BIGINT) AS n_events
      |        FROM d GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER (ORDER BY duration
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |        AS BIGINT) AS n_risk FROM byt),
      |t AS (SELECT *,
      |    CAST(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |      AS DECIMAL(28,6)) AS trm
      |  FROM r)
      |SELECT duration, n_risk, n_events,
      |  CAST(n - n_events AS BIGINT) AS n_censored,
      |  CAST(CAST(CAST(SUM(trm) OVER w AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS cum_hazard
      |FROM t WINDOW w AS (ORDER BY duration
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  // q364: Cochran's Q — 30 user buckets × 5 event types, pass = the
  // bucket logged ≥ 15 events of that type (Stats.cochranQ): the
  // binary Friedman for "which models solve which prompts" tables.
  def q364CochranQ(s: SparkSession, dir: String): DataFrame = {
    val cells = ev(s, dir)
      .groupBy((col("user_id") % 30).as("item"),
        col("event_type").as("sys"))
      .agg((count(lit(1)) >= 15L).cast("long").as("x"))
    graft.pipeline.Stats.cochranQ(cells, "item", "sys", "x")
  }

  val q364Sql: String =
    s"""WITH cells AS (
      |  SELECT user_id % 30 AS i, event_type AS sys,
      |    CASE WHEN COUNT(*) >= 15 THEN 1 ELSE 0 END AS x
      |  FROM events GROUP BY 1, 2),
      |cj AS (SELECT sys, CAST(SUM(x) AS BIGINT) AS c FROM cells
      |       GROUP BY 1),
      |ri AS (SELECT i, CAST(SUM(x) AS BIGINT) AS r FROM cells
      |       GROUP BY 1),
      |sa AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS c2,
      |         CAST(SUM(c) AS BIGINT) AS nt,
      |         CAST(COUNT(*) AS BIGINT) AS k
      |       FROM cj),
      |ia AS (SELECT SUM(CAST(r AS HUGEINT) * r) AS r2,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |       FROM ri),
      |f AS (SELECT n, k, nt,
      |    (CAST(k AS HUGEINT) - 1) *
      |      (CAST(k AS HUGEINT) * c2 - CAST(nt AS HUGEINT) * nt) AS num,
      |    CAST(k AS HUGEINT) * nt - r2 AS den
      |  FROM sa CROSS JOIN ia),
      |f2 AS (SELECT n, k, nt,
      |    CASE WHEN den > 0 THEN
      |      CAST(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS q
      |  FROM f)
      |SELECT n AS n_items, k AS k_systems, nt AS n_passes,
      |  q AS q_stat,
      |  CASE WHEN q IS NOT NULL AND k - 1 <= 30 THEN
      |    CAST(q >= ${chiCase("k - 1")} AS INTEGER) END AS significant
      |FROM f2""".stripMargin

  // q365: Kendall's W concordance over the q355 Friedman frame
  // (Stats.kendallW) — the effect size next to Friedman's p-value;
  // exact integer deviations in doubled-rank units, one d6.
  def q365KendallW(s: SparkSession, dir: String): DataFrame = {
    val cells = ev(s, dir)
      .groupBy((col("user_id") % 40).as("item"),
        col("event_type").as("sys"))
      .agg(count(lit(1)).as("v"))
    graft.pipeline.Stats.kendallW(cells, "item", "sys", "v")
  }

  val q365Sql: String =
    """WITH cells AS (
      |  SELECT user_id % 40 AS i, event_type AS sys,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |iv AS (SELECT i, v, CAST(COUNT(*) AS BIGINT) AS t
      |       FROM cells GROUP BY 1, 2),
      |r AS (SELECT i, v,
      |    2 * COALESCE(SUM(t) OVER (PARTITION BY i ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + t + 1 AS r2
      |  FROM iv),
      |ties AS (SELECT COALESCE(SUM(CAST(t AS HUGEINT) * t * t - t), 0)
      |           AS tie FROM iv),
      |aud AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n,
      |          CAST(COUNT(DISTINCT sys) AS BIGINT) AS k
      |        FROM cells),
      |bs AS (SELECT sys, SUM(CAST(r2 AS HUGEINT)) AS r2s
      |       FROM cells JOIN r ON r.i = cells.i AND r.v = cells.v
      |       GROUP BY 1),
      |a AS (SELECT SUM((r2s - CAST(n AS HUGEINT) * (k + 1)) *
      |        (r2s - CAST(n AS HUGEINT) * (k + 1))) AS s4
      |      FROM bs CROSS JOIN aud),
      |f AS (SELECT n, k,
      |    CAST(n AS HUGEINT) * n * k * (CAST(k AS HUGEINT) * k - 1) -
      |      CAST(n AS HUGEINT) * tie AS den
      |  FROM aud CROSS JOIN ties)
      |SELECT n AS n_items, k AS k_systems,
      |  CASE WHEN den > 0 THEN
      |    CAST(CAST(CAST(3 * s4 AS DOUBLE) / CAST(den AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS w
      |FROM a CROSS JOIN f""".stripMargin

  // q366: per-token Fano-factor burstiness (TextStats.fanoFactor) —
  // variance-to-mean of per-document counts with exact zeros via the
  // closed form; the within-document concentration axis next to
  // q358's across-part dispersion.
  def q366Fano(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.fanoFactor(t(s, dir, "documents"),
      "doc_id", "text", minCount = 20L)

  val q366Sql: String =
    """WITH tk AS (
      |  SELECT doc_id AS d,
      |    unnest(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS tok
      |  FROM documents),
      |td AS (SELECT tok, d, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM tk GROUP BY 1, 2),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |tt AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS s,
      |         CAST(COUNT(*) AS BIGINT) AS ndoc,
      |         SUM(CAST(c AS HUGEINT) * c) AS q2
      |       FROM td GROUP BY 1 HAVING SUM(c) >= 20)
      |SELECT tok, s AS n_total, ndoc AS n_docs,
      |  CASE WHEN n > 1 THEN
      |    CAST(CAST(CAST(CAST(n AS HUGEINT) *
      |      (CAST(n AS HUGEINT) * q2 - CAST(s AS HUGEINT) * s)
      |      AS DOUBLE) /
      |      (CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS fano
      |FROM tt CROSS JOIN nd""".stripMargin

  // q367: PACF (Timeseries.pacf) over the q350 volume buckets —
  // Durbin–Levinson on the d6 ACF with every stored coefficient
  // d6-rounded, so the oracle replays the recursion exactly (state =
  // the φ row, carried through a recursive CTE; pacf_k is each step's
  // last φ element — no separate diagonal list needed because the
  // recursion RETAINS all step rows).
  def q367Pacf(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.pacf(buckets, "event_type", "b", "x",
      maxLag = 6)
  }

  val q367Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx
      |       FROM s GROUP BY 1),
      |d AS (SELECT s.k, s.t, st.n, st.n * s.x - st.sx AS dv
      |      FROM s JOIN st ON st.k = s.k),
      |l AS (SELECT k, n, dv,
      |    lag(dv, 1) OVER w AS l1, lag(dv, 2) OVER w AS l2,
      |    lag(dv, 3) OVER w AS l3, lag(dv, 4) OVER w AS l4,
      |    lag(dv, 5) OVER w AS l5, lag(dv, 6) OVER w AS l6
      |  FROM d WINDOW w AS (PARTITION BY k ORDER BY t)),
      |den AS (SELECT k, SUM(CAST(dv AS HUGEINT) * CAST(dv AS HUGEINT))
      |          AS dn, MAX(n) AS n
      |        FROM l GROUP BY 1),
      |pr AS (
      |  SELECT k, u.lg,
      |    CAST(dv AS HUGEINT) * CAST(CASE u.lg
      |      WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
      |      WHEN 4 THEN l4 WHEN 5 THEN l5 ELSE l6 END AS HUGEINT) AS p
      |  FROM l, (SELECT unnest(range(1, 7)) AS lg) u),
      |num AS (SELECT k, lg, SUM(p) AS nm FROM pr WHERE p IS NOT NULL
      |        GROUP BY 1, 2),
      |acf AS (
      |  SELECT num.k, num.lg, den.n,
      |    CASE WHEN den.dn > 0 THEN
      |      CAST(CAST(CAST(num.nm AS DOUBLE) / CAST(den.dn AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS rho
      |  FROM num JOIN den ON den.k = num.k),
      |rl AS (SELECT k AS key, MAX(n) AS n_periods,
      |         CAST(COUNT(rho) AS BIGINT) AS nl,
      |         list(rho ORDER BY lg) AS p
      |       FROM acf GROUP BY 1),
      |dl(key, step, arr, bad) AS (
      |  SELECT key, CAST(1 AS BIGINT), [p[1]], p[1] IS NULL
      |  FROM rl WHERE nl = 6
      |  UNION ALL
      |  SELECT rl.key, dl.step + 1,
      |    (SELECT CASE WHEN dl.bad OR t.den = 0 THEN dl.arr
      |       ELSE list_append(list_transform(range(1, dl.step + 1),
      |         j -> CAST(CAST(dl.arr[CAST(j AS INTEGER)] - t.pk *
      |           dl.arr[CAST(dl.step + 1 - j AS INTEGER)]
      |           AS DECIMAL(28,6)) AS DOUBLE)), t.pk) END
      |     FROM (SELECT den,
      |         CASE WHEN den = 0 THEN NULL ELSE
      |           CAST(CAST(num / den AS DECIMAL(28,6)) AS DOUBLE) END
      |           AS pk
      |       FROM (SELECT
      |         rl.p[CAST(dl.step + 1 AS INTEGER)] -
      |           list_sum(list_transform(range(1, dl.step + 1), j ->
      |             dl.arr[CAST(j AS INTEGER)] *
      |             rl.p[CAST(dl.step + 1 - j AS INTEGER)])) AS num,
      |         1.0 - list_sum(list_transform(range(1, dl.step + 1),
      |           j -> dl.arr[CAST(j AS INTEGER)] *
      |           rl.p[CAST(j AS INTEGER)])) AS den) tt) t),
      |    dl.bad OR (SELECT den = 0 FROM (SELECT
      |      1.0 - list_sum(list_transform(range(1, dl.step + 1), j ->
      |        dl.arr[CAST(j AS INTEGER)] * rl.p[CAST(j AS INTEGER)]))
      |      AS den) x)
      |  FROM dl JOIN rl ON rl.key = dl.key AND dl.step < 6)
      |SELECT dl.key AS event_type, CAST(dl.step AS INTEGER) AS lag,
      |  rl.n_periods,
      |  CASE WHEN dl.bad THEN NULL
      |    ELSE dl.arr[CAST(dl.step AS INTEGER)] END AS pacf
      |FROM dl JOIN rl USING (key)
      |UNION ALL
      |SELECT key, CAST(u.lg AS INTEGER), n_periods, NULL
      |FROM rl, (SELECT unnest(range(1, 7)) AS lg) u
      |WHERE nl < 6""".stripMargin

  // q368: lag-1 Granger causality view→purchase (Timeseries.granger)
  // — do views' past values improve the purchase forecast beyond its
  // own past? Exact decimal sufficient sums, Cramer closed form, d6
  // staging at rss_r/rss_u/f.
  def q368Granger(s: SparkSession, dir: String): DataFrame = {
    val b = ev(s, dir)
      .groupBy(expr("ts_us div 21600000000").as("b"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      .withColumn("k", lit("all"))
    graft.ops.Timeseries.granger(b, "k", "b", "x", "y")
  }

  val q368Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS xv,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS yv
      |  FROM events),
      |s AS (SELECT t, CAST(SUM(xv) AS BIGINT) AS x,
      |        CAST(SUM(yv) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |l AS (SELECT y, lag(y, 1) OVER (ORDER BY t) AS u,
      |        lag(x, 1) OVER (ORDER BY t) AS v
      |      FROM s),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(u AS HUGEINT)) AS su,
      |    SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(y AS HUGEINT) * u) AS syu,
      |    SUM(CAST(y AS HUGEINT) * v) AS syv,
      |    SUM(CAST(u AS HUGEINT) * u) AS suu,
      |    SUM(CAST(u AS HUGEINT) * v) AS suv,
      |    SUM(CAST(v AS HUGEINT) * v) AS svv
      |  FROM l WHERE u IS NOT NULL),
      |c AS (SELECT n,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
      |    CAST(n * syu - su * sy AS DOUBLE) AS cuy,
      |    CAST(n * syv - sv * sy AS DOUBLE) AS cvy,
      |    CAST(n * suu - su * su AS DOUBLE) AS cuu,
      |    CAST(n * suv - su * sv AS DOUBLE) AS cuv,
      |    CAST(n * svv - sv * sv AS DOUBLE) AS cvv
      |  FROM a),
      |f AS (SELECT 'all' AS k, n AS n_obs,
      |    CASE WHEN cuu > 0 THEN
      |      CAST(CAST(cyy - cuy * cuy / cuu AS DECIMAL(28,6))
      |        AS DOUBLE) END AS rss_r,
      |    CASE WHEN cuu * cvv - cuv * cuv > 0 THEN
      |      CAST(CAST(cyy -
      |        (cuy * cvv - cvy * cuv) / (cuu * cvv - cuv * cuv) * cuy -
      |        (cvy * cuu - cuy * cuv) / (cuu * cvv - cuv * cuv) * cvy
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS rss_u
      |  FROM c),
      |f2 AS (SELECT k, n_obs, rss_r, rss_u,
      |    CASE WHEN rss_u > 0 THEN
      |      CAST(CAST((rss_r - rss_u) /
      |        (rss_u / CAST(n_obs - 3 AS DOUBLE)) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS f
      |  FROM f)
      |SELECT k, n_obs, rss_r, rss_u, f AS f_stat,
      |  CASE WHEN f IS NOT NULL THEN
      |    CAST(f >= 3.841459 AS INTEGER) END AS significant
      |FROM f2""".stripMargin

  // q369: 2×2 odds/risk ratio with the Woolf z-test — does the
  // user-parity slice convert to purchase differently?
  // (Stats.oddsRatio; Haldane correction auto-applies and is flagged.)
  def q369OddsRatio(s: SparkSession, dir: String): DataFrame = {
    val pu = ev(s, dir).groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("long")).as("y"))
      .select((col("user_id") % 2).as("e"), col("y"))
    graft.pipeline.Stats.oddsRatio(pu, "e", "y")
  }

  val q369Sql: String =
    """WITH pu AS (
      |  SELECT user_id % 2 AS e,
      |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1
      |      ELSE 0 END) > 0 THEN 1 ELSE 0 END AS y
      |  FROM events GROUP BY user_id),
      |t4 AS (SELECT CAST(SUM(e * y) AS BIGINT) AS a,
      |    CAST(SUM(e * (1 - y)) AS BIGINT) AS b,
      |    CAST(SUM((1 - e) * y) AS BIGINT) AS c,
      |    CAST(SUM((1 - e) * (1 - y)) AS BIGINT) AS d
      |  FROM pu),
      |cz AS (SELECT a, b, c, d,
      |    CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 1 ELSE 0 END
      |      AS corr
      |  FROM t4),
      |dd AS (SELECT a, b, c, d, corr,
      |    2 * a + corr AS a2, 2 * b + corr AS b2,
      |    2 * c + corr AS c2, 2 * d + corr AS d2
      |  FROM cz),
      |m AS (SELECT a AS n_exposed_pos, b AS n_exposed_neg,
      |    c AS n_control_pos, d AS n_control_neg, corr AS corrected,
      |    CAST(CAST(CAST(CAST(a2 AS HUGEINT) * d2 AS DOUBLE) /
      |      CAST(CAST(b2 AS HUGEINT) * c2 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS odds_ratio,
      |    CAST(CAST(CAST(CAST(a2 AS HUGEINT) * (c2 + d2) AS DOUBLE) /
      |      CAST(CAST(c2 AS HUGEINT) * (a2 + b2) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS risk_ratio,
      |    a2, b2, c2, d2
      |  FROM dd),
      |w AS (SELECT *,
      |    CAST(CAST(ln(odds_ratio) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS lor,
      |    CAST(CAST(sqrt(2.0 / CAST(a2 AS DOUBLE) +
      |      2.0 / CAST(b2 AS DOUBLE) + 2.0 / CAST(c2 AS DOUBLE) +
      |      2.0 / CAST(d2 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS se
      |  FROM m),
      |z AS (SELECT *,
      |    CAST(CAST(lor / se AS DECIMAL(28,6)) AS DOUBLE) AS zs
      |  FROM w)
      |SELECT n_exposed_pos, n_exposed_neg, n_control_pos,
      |  n_control_neg, corrected, odds_ratio, risk_ratio,
      |  zs AS z_stat,
      |  CAST(abs(zs) >= 1.959964 AS INTEGER) AS significant
      |FROM z""".stripMargin

  // q370: Dunning G² keyness of English vs non-English documents
  // (TextStats.g2Keyness) — which tokens distinguish the slice;
  // d6-per-ln-term, exact-integer direction.
  def q370G2Keyness(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextStats.g2Keyness(t(s, dir, "documents"), "text",
      col("lang") === "en", minCount = 20L)

  val q370Sql: String =
    """WITH tk AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s,
      |    unnest(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS tok
      |  FROM documents),
      |tp AS (SELECT tok, CAST(SUM(s) AS BIGINT) AS na,
      |         CAST(SUM(1 - s) AS BIGINT) AS nb
      |       FROM tk GROUP BY 1
      |       HAVING SUM(s) + SUM(1 - s) >= 20),
      |tot AS (SELECT CAST(SUM(s) AS BIGINT) AS ta,
      |          CAST(SUM(1 - s) AS BIGINT) AS tb
      |        FROM tk)
      |SELECT tok, na AS n_a, nb AS n_b,
      |  CAST(CAST(2.0 * CAST(
      |    (CASE WHEN na > 0 THEN
      |      CAST(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE) /
      |        (CAST(na + nb AS DOUBLE) * CAST(ta AS DOUBLE) /
      |         (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))))
      |        AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END +
      |     CASE WHEN nb > 0 THEN
      |      CAST(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE) /
      |        (CAST(na + nb AS DOUBLE) * CAST(tb AS DOUBLE) /
      |         (CAST(ta AS DOUBLE) + CAST(tb AS DOUBLE))))
      |        AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS g2,
      |  CAST(sign(CAST(na AS HUGEINT) * tb - CAST(nb AS HUGEINT) * ta)
      |    AS INTEGER) AS direction
      |FROM tp CROSS JOIN tot""".stripMargin

  // q371: conditional entropy + uncertainty coefficient of the
  // event-type bigram chain (Behavior.transitionEntropy) — "how
  // Markov is this stream": the predictability readout next to
  // q351's stationary mix.
  def q371TransitionEntropy(s: SparkSession, dir: String): DataFrame =
    Behavior.transitionEntropy(ev(s, dir), "user_id", "event_type",
      "ts_us", "event_id")

  val q371Sql: String =
    """WITH tr AS (
      |  SELECT event_type AS f,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t
      |  FROM events),
      |c AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n FROM tr
      |      WHERE t IS NOT NULL GROUP BY 1, 2),
      |rx AS (SELECT f, CAST(SUM(n) AS BIGINT) AS nx FROM c GROUP BY 1),
      |my AS (SELECT t, CAST(SUM(n) AS BIGINT) AS m FROM c GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |          CAST(COUNT(DISTINCT f) AS BIGINT) AS kf
      |        FROM c),
      |hc AS (SELECT SUM(CAST(CAST(n AS DOUBLE) *
      |          ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
      |          AS DECIMAL(28,6))) AS h6
      |       FROM c JOIN rx USING (f)),
      |hm AS (SELECT SUM(CAST(CAST(m AS DOUBLE) *
      |          ln(CAST(nn AS DOUBLE) / CAST(m AS DOUBLE))
      |          AS DECIMAL(28,6))) AS h6,
      |         MAX(nn) AS nn, MAX(kf) AS kf
      |       FROM my CROSS JOIN tot),
      |f AS (SELECT nn AS n_transitions, kf AS n_states,
      |    CAST(CAST(CAST(hm.h6 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS h_next,
      |    CAST(CAST(CAST(hc.h6 AS DOUBLE) / CAST(nn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS h_cond
      |  FROM hm CROSS JOIN hc)
      |SELECT n_transitions, n_states, h_next, h_cond,
      |  CASE WHEN h_next > 0 THEN
      |    CAST(CAST((h_next - h_cond) / h_next AS DECIMAL(28,6))
      |      AS DOUBLE) END AS uncertainty_coeff
      |FROM f""".stripMargin

  // q372: forecast scorecard (Timeseries.forecastAccuracy) — a
  // 3-bucket moving-average forecast of each event type's 6h volume,
  // scored with MAE / WMAPE / MASE against the season-4 naive
  // (6h buckets ⇒ season 4 = daily). MASE < 1 = the MA earns its keep.
  def q372ForecastAccuracy(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(-3, -1)
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
      .withColumn("f",
        when(count(col("x")).over(w) === 3L,
          (sum(col("x")).over(w).cast("double") / lit(3.0))
            .cast("decimal(28,6)").cast("double")))
    graft.ops.Timeseries.forecastAccuracy(buckets, "event_type", "b",
      "x", "f", season = 4)
  }

  val q372Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |fc AS (SELECT k, t, x,
      |    CASE WHEN COUNT(x) OVER w = 3 THEN
      |      CAST(CAST(CAST(SUM(x) OVER w AS DOUBLE) / 3.0
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS f
      |  FROM s WINDOW w AS (PARTITION BY k ORDER BY t
      |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
      |al AS (SELECT k, t, x, f,
      |    lag(x, 4) OVER (PARTITION BY k ORDER BY t) AS xl
      |  FROM fc WHERE f IS NOT NULL),
      |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_obs,
      |    SUM(CAST(abs(CAST(x AS DOUBLE) - f) AS DECIMAL(28,6)))
      |      AS e6,
      |    CAST(SUM(abs(x)) AS BIGINT) AS sa,
      |    CAST(COUNT(xl) AS BIGINT) AS nn,
      |    CAST(SUM(abs(x - xl)) AS BIGINT) AS sn
      |  FROM al GROUP BY 1),
      |m AS (SELECT k, n_obs,
      |    CAST(CAST(CAST(e6 AS DOUBLE) / CAST(n_obs AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mae,
      |    CASE WHEN sa > 0 THEN
      |      CAST(CAST(CAST(e6 AS DOUBLE) / CAST(sa AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS wmape,
      |    CASE WHEN nn > 0 AND sn > 0 THEN
      |      CAST(CAST(CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS nmae
      |  FROM a)
      |SELECT k AS event_type, n_obs, mae, wmape,
      |  CASE WHEN nmae IS NOT NULL THEN
      |    CAST(CAST(mae / nmae AS DECIMAL(28,6)) AS DOUBLE) END AS mase
      |FROM m""".stripMargin

  // q373: Wald–Wolfowitz runs test on each event type's 6h volumes
  // (Timeseries.runsTest) — above/below-median sign randomness, the
  // regime-stickiness check next to q356's Ljung–Box.
  def q373RunsTest(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.runsTest(buckets, "event_type", "b", "x")
  }

  val q373Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |kv AS (SELECT k, x AS v, CAST(COUNT(*) AS BIGINT) AS c
      |       FROM s GROUP BY 1, 2),
      |cum AS (SELECT k, v, c,
      |    COALESCE(SUM(c) OVER (PARTITION BY k ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
      |    SUM(c) OVER (PARTITION BY k) AS n
      |  FROM kv),
      |med AS (SELECT k,
      |    MAX(CASE WHEN cb < (n + 1) // 2 AND (n + 1) // 2 <= cb + c
      |      THEN v END) +
      |    MAX(CASE WHEN cb < n // 2 + 1 AND n // 2 + 1 <= cb + c
      |      THEN v END) AS med2
      |  FROM cum GROUP BY k),
      |sg AS (SELECT s.k, s.t,
      |    CASE WHEN 2 * s.x > med2 THEN 1
      |         WHEN 2 * s.x < med2 THEN -1 END AS sgn
      |  FROM s JOIN med ON med.k = s.k),
      |sg2 AS (SELECT * FROM sg WHERE sgn IS NOT NULL),
      |rn AS (SELECT k, sgn,
      |    CASE WHEN lag(sgn) OVER w IS NULL OR lag(sgn) OVER w <> sgn
      |      THEN 1 ELSE 0 END AS brk
      |  FROM sg2 WINDOW w AS (PARTITION BY k ORDER BY t)),
      |a AS (SELECT k, CAST(SUM(brk) AS BIGINT) AS n_runs,
      |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_above,
      |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_below
      |  FROM rn GROUP BY 1),
      |z AS (SELECT k, n_runs, n_above, n_below,
      |    CASE WHEN n_above > 0 AND n_below > 0 AND
      |      2.0 * n_above * n_below * (2.0 * n_above * n_below -
      |        (CAST(n_above AS DOUBLE) + n_below)) /
      |      ((CAST(n_above AS DOUBLE) + n_below) *
      |       (CAST(n_above AS DOUBLE) + n_below) *
      |       (CAST(n_above AS DOUBLE) + n_below - 1.0)) > 0 THEN
      |      CAST(CAST((CAST(n_runs AS DOUBLE) -
      |        (2.0 * n_above * n_below /
      |         (CAST(n_above AS DOUBLE) + n_below) + 1.0)) /
      |        sqrt(2.0 * n_above * n_below * (2.0 * n_above * n_below -
      |          (CAST(n_above AS DOUBLE) + n_below)) /
      |        ((CAST(n_above AS DOUBLE) + n_below) *
      |         (CAST(n_above AS DOUBLE) + n_below) *
      |         (CAST(n_above AS DOUBLE) + n_below - 1.0)))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS zs
      |  FROM a)
      |SELECT k AS event_type, n_runs, n_above, n_below, zs AS z_stat,
      |  CASE WHEN zs IS NOT NULL THEN
      |    CAST(abs(zs) >= 1.959964 AS INTEGER) END AS significant
      |FROM z""".stripMargin

  // q374: Mann–Kendall trend test on the same volumes
  // (Timeseries.mannKendall) — the significance partner of q319's
  // Theil–Sen slope; exact integer S + tie spectrum, one d6 z.
  def q374MannKendall(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.mannKendall(buckets, "event_type", "b", "x")
  }

  val q374Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |nn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1),
      |pr AS (SELECT a.k, CAST(SUM(sign(b.x - a.x)) AS BIGINT) AS ss
      |       FROM s a JOIN s b ON a.k = b.k AND a.t < b.t
      |       GROUP BY 1),
      |tie AS (SELECT k,
      |    COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)), 0)
      |      AS tsum
      |  FROM (SELECT k, x AS v, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM s GROUP BY 1, 2) GROUP BY 1),
      |j AS (SELECT nn.k, nn.n, COALESCE(pr.ss, 0) AS ss, tie.tsum
      |      FROM nn LEFT JOIN pr ON pr.k = nn.k
      |      JOIN tie ON tie.k = nn.k),
      |v AS (SELECT k, n, ss,
      |    CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5) - tsum
      |      AS DOUBLE) / 18.0 AS vs
      |  FROM j),
      |z AS (SELECT k, n, ss,
      |    CASE WHEN vs > 0 THEN
      |      CAST(CAST(CAST(CASE WHEN ss > 0 THEN ss - 1
      |        WHEN ss < 0 THEN ss + 1 ELSE 0 END AS DOUBLE) / sqrt(vs)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS zs
      |  FROM v)
      |SELECT k AS event_type, n AS n_periods, ss AS s_stat,
      |  zs AS z_stat,
      |  CASE WHEN zs IS NOT NULL THEN
      |    CAST(abs(zs) >= 1.959964 AS INTEGER) END AS significant
      |FROM z""".stripMargin

  // q375: DFT periodogram (Timeseries.periodogram) over the q350
  // volume buckets — spectral power per integer frequency + the
  // dominant-cycle flag; the frequency-domain partner of q350/q367.
  def q375Periodogram(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.periodogram(buckets, "event_type", "b", "x",
      maxFreq = 24)
  }

  val q375Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sm
      |       FROM s GROUP BY 1),
      |d AS (SELECT s.k, st.n,
      |    ROW_NUMBER() OVER (PARTITION BY s.k ORDER BY s.t) - 1 AS i,
      |    st.n * s.x - st.sm AS dv
      |  FROM s JOIN st ON st.k = s.k),
      |f AS (SELECT k,
      |    unnest(range(1, LEAST(24, n // 2) + 1)) AS fq
      |  FROM st),
      |tm AS (SELECT d.k, f.fq, d.n,
      |    CAST(CAST(dv AS DOUBLE) *
      |      CAST(CAST(cos(2.0 * pi() * CAST(fq AS DOUBLE) *
      |        CAST(i AS DOUBLE) / CAST(d.n AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(38,6)) AS tc,
      |    CAST(CAST(dv AS DOUBLE) *
      |      CAST(CAST(sin(2.0 * pi() * CAST(fq AS DOUBLE) *
      |        CAST(i AS DOUBLE) / CAST(d.n AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(38,6)) AS tsn
      |  FROM d JOIN f ON f.k = d.k),
      |a AS (SELECT k, fq, MAX(n) AS np,
      |    SUM(tc) AS cc, SUM(tsn) AS ss
      |  FROM tm GROUP BY 1, 2),
      |p AS (SELECT k, fq, np,
      |    CAST(CAST((CAST(cc AS DOUBLE) * CAST(cc AS DOUBLE) +
      |      CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
      |      (CAST(np AS DOUBLE) * CAST(np AS DOUBLE) *
      |       CAST(np AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS power
      |  FROM a)
      |SELECT k AS event_type, fq AS freq, np AS n_periods,
      |  CAST(CAST(CAST(np AS DOUBLE) / CAST(fq AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS period_buckets,
      |  power,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY k
      |    ORDER BY power DESC, fq ASC) = 1 AS INTEGER) AS is_peak
      |FROM p""".stripMargin

  // q376: Haar-wavelet energy spectrum (Timeseries.haarEnergy) over
  // the first 32 volume buckets — which time scale carries the
  // variance; integer-exact details, one d6 per energy/share.
  def q376HaarEnergy(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.haarEnergy(buckets, "event_type", "b", "x",
      levels = 5)
  }

  val q376Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |h AS (SELECT k, x,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) - 1 AS i
      |  FROM s),
      |hd AS (SELECT * FROM h WHERE i < 32),
      |fl AS (SELECT k FROM hd GROUP BY k HAVING COUNT(*) = 32),
      |lv AS (SELECT hd.k, hd.i, hd.x, unnest(range(1, 6)) AS j
      |       FROM hd JOIN fl ON fl.k = hd.k),
      |co AS (SELECT k, j, i >> CAST(j AS INTEGER) AS m,
      |    CAST(SUM(CASE WHEN (i >> CAST(j - 1 AS INTEGER)) % 2 = 0
      |      THEN x ELSE -x END) AS BIGINT) AS d
      |  FROM lv GROUP BY 1, 2, 3),
      |en AS (SELECT k, j, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
      |    SUM(CAST(d AS HUGEINT) * d) AS e2
      |  FROM co GROUP BY 1, 2),
      |sc AS (SELECT *, e2 * CAST(pow(2.0, 5 - j) AS BIGINT) AS es
      |       FROM en),
      |tt AS (SELECT k, SUM(es) AS tot FROM sc GROUP BY 1)
      |SELECT sc.k AS event_type, CAST(j AS INTEGER) AS level, n_coeffs,
      |  CAST(CAST(CAST(e2 AS DOUBLE) / pow(2.0, CAST(j AS DOUBLE))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS energy,
      |  CASE WHEN tot > 0 THEN
      |    CAST(CAST(CAST(es AS DOUBLE) / CAST(tot AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS share
      |FROM sc JOIN tt ON tt.k = sc.k""".stripMargin

  // q377: Hurst exponent by R/S analysis (Timeseries.hurst) —
  // long-range dependence of the volume series at window sizes
  // 8/16/32; integer-exact ranges, d6 per block R/S and per log point.
  def q377Hurst(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.hurst(buckets, "event_type", "b", "x",
      windows = Seq(8, 16, 32))
  }

  val q377Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |b AS (SELECT k, x,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY t) - 1 AS i
      |  FROM s),
      |wb AS (SELECT k, i, x, w, i // w AS bl, i % w AS p
      |       FROM b CROSS JOIN (SELECT unnest([8, 16, 32]) AS w)),
      |bs AS (SELECT k, w, bl, CAST(SUM(x) AS BIGINT) AS sm
      |       FROM wb GROUP BY 1, 2, 3 HAVING COUNT(*) = w),
      |ib AS (SELECT wb.k, wb.w, wb.bl, wb.p,
      |    wb.w * SUM(wb.x) OVER (PARTITION BY wb.k, wb.w, wb.bl
      |      ORDER BY wb.p ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) - (wb.p + 1) * bs.sm AS z,
      |    wb.w * wb.x - bs.sm AS d
      |  FROM wb JOIN bs ON bs.k = wb.k AND bs.w = wb.w
      |    AND bs.bl = wb.bl),
      |rs AS (SELECT k, w, bl,
      |    GREATEST(MAX(z), 0) - LEAST(MIN(z), 0) AS r,
      |    SUM(CAST(d AS HUGEINT) * d) AS d2
      |  FROM ib GROUP BY 1, 2, 3
      |  HAVING SUM(CAST(d AS HUGEINT) * d) > 0),
      |rs6 AS (SELECT k, w,
      |    CAST(CAST(CAST(r AS DOUBLE) * sqrt(CAST(w AS DOUBLE)) /
      |      sqrt(CAST(d2 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS rsv
      |  FROM rs),
      |pw AS (SELECT k, w, CAST(COUNT(*) AS BIGINT) AS nb,
      |    SUM(CAST(rsv AS DECIMAL(28,6))) AS rss
      |  FROM rs6 GROUP BY 1, 2),
      |pts AS (SELECT k, w,
      |    CAST(CAST(ln(CAST(w AS DOUBLE)) / ln(2.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS lx,
      |    CAST(CAST(ln(CAST(CAST(CAST(rss AS DOUBLE) /
      |      CAST(nb AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)) / ln(2.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ly
      |  FROM pw),
      |mn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_scales,
      |    CAST(CAST(CAST(SUM(CAST(lx AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS mx,
      |    CAST(CAST(CAST(SUM(CAST(ly AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS my
      |  FROM pts GROUP BY 1),
      |sl AS (SELECT pts.k,
      |    SUM(CAST((lx - mx) * (ly - my) AS DECIMAL(28,6))) AS nm,
      |    SUM(CAST((lx - mx) * (lx - mx) AS DECIMAL(28,6))) AS dn
      |  FROM pts JOIN mn ON mn.k = pts.k GROUP BY 1)
      |SELECT mn.k AS event_type, n_scales,
      |  CASE WHEN n_scales >= 2 AND dn > 0 THEN
      |    CAST(CAST(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS hurst
      |FROM mn JOIN sl ON sl.k = mn.k""".stripMargin

  // q378: rank-SAX symbolization (Timeseries.saxRank) — each volume
  // series PAA'd into 8 spans, span means ntile-ranked into an 'a'-'d'
  // word; the shape index for motif grouping, exact (no rounding).
  def q378SaxWord(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.saxRank(buckets, "event_type", "b", "x",
      segments = 8, alphabet = 4)
  }

  val q378Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1),
      |b AS (SELECT s.k, st.n, s.x,
      |    ROW_NUMBER() OVER (PARTITION BY s.k ORDER BY s.t) - 1 AS i
      |  FROM s JOIN st ON st.k = s.k),
      |sg AS (SELECT k, (i * 8) // n AS seg,
      |    CAST(SUM(x) AS BIGINT) AS sm, CAST(COUNT(*) AS BIGINT) AS c,
      |    MAX(n) AS n
      |  FROM b GROUP BY 1, 2),
      |nt AS (SELECT k, seg, n,
      |    ntile(4) OVER (PARTITION BY k
      |      ORDER BY CAST(sm AS DOUBLE) / CAST(c AS DOUBLE), seg) AS q
      |  FROM sg)
      |SELECT k AS event_type, MAX(n) AS n_periods,
      |  CAST(COUNT(*) AS BIGINT) AS n_segments,
      |  string_agg(substr('abcdefghijklmnopqrstuvwxyz', q, 1), ''
      |    ORDER BY seg) AS sax_word
      |FROM nt GROUP BY 1""".stripMargin

  // q381: grouped k-fold audit (Sampling.groupKFold) — events fold by
  // USER hash (entity-respecting CV: a user never straddles folds —
  // that law is structural, membership being a pure function of
  // user_id); the audit reports per-(fold, event_type) volume and
  // entity counts so fold balance is inspectable.
  def q381GroupKfold(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.groupKFold(ev(s, dir), "user_id", k = 5)
      .groupBy(col("fold"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  val q381Sql: String =
    """WITH f AS (
      |  SELECT event_type, user_id,
      |    CAST(concat('0x', substring(md5('fold:' ||
      |      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 1000000 % 5 AS fold
      |  FROM events)
      |SELECT fold, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM f GROUP BY 1, 2""".stripMargin

  // q383: DTW distance between every pair of event types' DAILY
  // volume series (Timeseries.dtw) — elastic shape matching next to
  // q362's rigid lead-lag CCF; integer DP, one d6 on the norm.
  def q383Dtw(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.dtw(buckets, "event_type", "b", "x")
  }

  val q383Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |arr AS (SELECT k, list(x ORDER BY t) AS v FROM s GROUP BY 1),
      |pr AS (SELECT a.k AS ka, b.k AS kb, a.v AS va, b.v AS vb
      |       FROM arr a JOIN arr b ON a.k < b.k),
      |it AS (
      |  SELECT ka, kb, CAST(0 AS BIGINT) AS i,
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(vb) + 1),
      |        x -> CAST(1000000000000000 AS BIGINT))) AS dp
      |  FROM pr
      |  UNION ALL
      |  SELECT it.ka, it.kb, it.i + 1,
      |    list_prepend(CAST(1000000000000000 AS BIGINT),
      |      list_transform(range(1, len(pr.vb) + 1), j ->
      |        list_min(list_transform(range(1, j + 1), kk ->
      |          list_sum(list_transform(range(kk, j + 1), l ->
      |            abs(pr.va[CAST(it.i + 1 AS INTEGER)] -
      |              pr.vb[CAST(l AS INTEGER)]))) +
      |          least(dp[CAST(kk AS INTEGER)],
      |            dp[CAST(kk + 1 AS INTEGER)])))))
      |  FROM it JOIN pr ON pr.ka = it.ka AND pr.kb = it.kb
      |  WHERE it.i < len(pr.va))
      |SELECT it.ka AS key_a, it.kb AS key_b,
      |  CAST(len(pr.va) AS BIGINT) AS n_a,
      |  CAST(len(pr.vb) AS BIGINT) AS n_b,
      |  CAST(dp[len(pr.vb) + 1] AS BIGINT) AS dtw,
      |  CAST(CAST(CAST(dp[len(pr.vb) + 1] AS DOUBLE) /
      |    CAST(len(pr.va) + len(pr.vb) AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS dtw_norm
      |FROM it JOIN pr ON pr.ka = it.ka AND pr.kb = it.kb
      |WHERE it.i = len(pr.va)""".stripMargin

  // q385: Population Stability Index (Stats.psi) — value drift of
  // each event type between the first 15 fixture days (reference)
  // and the rest (current), binned by the reference deciles; the
  // reference-anchored drift report next to q256/q335.
  def q385Psi(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).withColumn("_day", expr("ts_us div 86400000000"))
    val lo = e.agg(min(col("_day")).as("_d0"))
    graft.pipeline.Stats.psi(
      e.crossJoin(broadcast(lo))
        .withColumn("is_ref", col("_day") < col("_d0") + 15L),
      "event_type", "event_id", "value", "is_ref", bins = 10)
  }

  val q385Sql: String =
    """WITH d0 AS (
      |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
      |    AS lo FROM events),
      |b AS (
      |  SELECT event_type AS k, event_id AS id,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS v,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 < lo + 15 AS r
      |  FROM events CROSS JOIN d0),
      |ref AS (SELECT * FROM b WHERE r),
      |nr AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM ref GROUP BY 1),
      |rk AS (SELECT ref.k, v,
      |    ROW_NUMBER() OVER (PARTITION BY ref.k
      |      ORDER BY v ASC, id ASC) AS rn, nr.n
      |  FROM ref JOIN nr ON nr.k = ref.k),
      |ed AS (SELECT k, v AS ev, kk
      |  FROM rk, (SELECT unnest(range(1, 10)) AS kk)
      |  WHERE rn = CAST(ceil(kk * n / 10.0) AS BIGINT)),
      |edges AS (SELECT k, list(ev ORDER BY kk) AS es
      |          FROM ed GROUP BY 1),
      |bn AS (SELECT b.k, 1 + len(list_filter(edges.es, e -> b.v > e))
      |    AS bin, b.r
      |  FROM b JOIN edges ON edges.k = b.k),
      |cnt AS (SELECT k, bin,
      |    CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS cr,
      |    CAST(SUM(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS cc
      |  FROM bn GROUP BY 1, 2),
      |tot AS (SELECT k, CAST(SUM(cr) AS BIGINT) AS nrr,
      |    CAST(SUM(cc) AS BIGINT) AS ncc
      |  FROM cnt GROUP BY 1),
      |terms AS (SELECT cnt.k,
      |    CAST(CAST((CAST(cc + 1 AS DOUBLE) / CAST(ncc + 10 AS DOUBLE) -
      |      CAST(cr + 1 AS DOUBLE) / CAST(nrr + 10 AS DOUBLE)) *
      |      ln((CAST(cc + 1 AS DOUBLE) / CAST(ncc + 10 AS DOUBLE)) /
      |        (CAST(cr + 1 AS DOUBLE) / CAST(nrr + 10 AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6)) AS t6,
      |    CAST(CAST((1.0 / CAST(ncc + 10 AS DOUBLE) -
      |      1.0 / CAST(nrr + 10 AS DOUBLE)) *
      |      ln((1.0 / CAST(ncc + 10 AS DOUBLE)) /
      |        (1.0 / CAST(nrr + 10 AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6)) AS et6
      |  FROM cnt JOIN tot ON tot.k = cnt.k
      |  WHERE nrr > 0 AND ncc > 0),
      |agg AS (SELECT k, SUM(t6) AS s6,
      |    CAST(COUNT(*) AS BIGINT) AS nb, MAX(et6) AS et
      |  FROM terms GROUP BY 1)
      |SELECT tot.k AS event_type, nrr AS n_ref, ncc AS n_cur,
      |  CASE WHEN nrr > 0 AND ncc > 0 THEN
      |    CAST(CAST(CAST(s6 AS DOUBLE) +
      |      CAST(10 - nb AS DOUBLE) * CAST(et AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS psi
      |FROM tot LEFT JOIN agg ON agg.k = tot.k""".stripMargin

  // q387: two-sample Cramér–von Mises (Stats.cramerVonMises) —
  // weekday vs weekend value distributions per event type; the
  // whole-CDF drift integral next to q307's single-gap KS.
  def q387Cvm(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cramerVonMises(
      ev(s, dir).withColumn("is_weekday",
        (expr("ts_us div 86400000000") + 3L) % 7L < 5L),
      "event_type", "event_id", "value", "is_weekday")

  val q387Sql: String =
    """WITH b AS (
      |  SELECT event_type AS k, event_id AS id,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS v,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 < 5
      |      AS x
      |  FROM events),
      |rk AS (SELECT k, x,
      |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY v ASC, id ASC)
      |      AS r,
      |    ROW_NUMBER() OVER (PARTITION BY k, x ORDER BY v ASC, id ASC)
      |      AS i
      |  FROM b),
      |a AS (SELECT k,
      |    CAST(SUM(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS n_x,
      |    CAST(SUM(CASE WHEN x THEN 0 ELSE 1 END) AS BIGINT) AS n_y,
      |    SUM(CASE WHEN x THEN CAST(r - i AS HUGEINT) * (r - i)
      |      ELSE 0 END) AS ux,
      |    SUM(CASE WHEN x THEN 0
      |      ELSE CAST(r - i AS HUGEINT) * (r - i) END) AS uy
      |  FROM rk GROUP BY 1),
      |t AS (SELECT k, n_x, n_y,
      |    CASE WHEN n_x > 0 AND n_y > 0 THEN
      |      CAST(CAST(
      |        CAST(CAST(n_x AS HUGEINT) * ux + CAST(n_y AS HUGEINT) * uy
      |          AS DOUBLE) /
      |        (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) *
      |         (CAST(n_x AS DOUBLE) + CAST(n_y AS DOUBLE))) -
      |        (4.0 * CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) - 1.0) /
      |        (6.0 * (CAST(n_x AS DOUBLE) + CAST(n_y AS DOUBLE)))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS ts
      |  FROM a)
      |SELECT k AS event_type, n_x, n_y, ts AS t_stat,
      |  CASE WHEN ts IS NOT NULL THEN
      |    CAST(ts >= 0.461 AS INTEGER) END AS significant
      |FROM t""".stripMargin

  // q389: two-regressor OLS battery (Stats.ols2) — value (milli-
  // quantized) on hour-of-day + epoch-day per event type: the
  // seasonality-plus-trend regression report (slopes, R², t stats).
  def q389Ols2(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.ols2(
      ev(s, dir).select(col("event_type"),
        floor(col("value").cast("double") * 1000.0).as("y"),
        expr("(ts_us div 3600000000) % 24").as("x1"),
        expr("ts_us div 86400000000").as("x2")),
      "event_type", "y", "x1", "x2")

  val q389Sql: String =
    """WITH b AS (
      |  SELECT event_type AS k,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS y,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS u,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS v
      |  FROM events),
      |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(u AS HUGEINT)) AS su,
      |    SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy,
      |    SUM(CAST(y AS HUGEINT) * u) AS syu,
      |    SUM(CAST(y AS HUGEINT) * v) AS syv,
      |    SUM(CAST(u AS HUGEINT) * u) AS suu,
      |    SUM(CAST(u AS HUGEINT) * v) AS suv,
      |    SUM(CAST(v AS HUGEINT) * v) AS svv
      |  FROM b GROUP BY 1),
      |c AS (SELECT k, n,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
      |    CAST(n * syu - su * sy AS DOUBLE) AS c1y,
      |    CAST(n * syv - sv * sy AS DOUBLE) AS c2y,
      |    CAST(n * suu - su * su AS DOUBLE) AS c11,
      |    CAST(n * suv - su * sv AS DOUBLE) AS c12,
      |    CAST(n * svv - sv * sv AS DOUBLE) AS c22
      |  FROM a),
      |d AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c),
      |e AS (SELECT k, n, cyy, c1y, c2y, c11, c22, det,
      |    CASE WHEN det > 0 AND cyy > 0 THEN
      |      CAST(CAST((c1y * c22 - c2y * c12) / det
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS b1,
      |    CASE WHEN det > 0 AND cyy > 0 THEN
      |      CAST(CAST((c2y * c11 - c1y * c12) / det
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS b2
      |  FROM d),
      |f AS (SELECT k, n, b1, b2, c11, c22, det,
      |    CASE WHEN b1 IS NOT NULL THEN
      |      CAST(CAST((cyy - b1 * c1y - b2 * c2y) / CAST(n AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS rss,
      |    CASE WHEN b1 IS NOT NULL THEN
      |      CAST(CAST((b1 * c1y + b2 * c2y) / cyy
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS r2
      |  FROM e),
      |g AS (SELECT k, n, b1, b2, r2, c11, c22, det,
      |    CASE WHEN rss IS NOT NULL THEN
      |      CAST(CAST(rss / CAST(n - 3 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS sig2
      |  FROM f)
      |SELECT k AS event_type, n AS n_obs, b1 AS slope_x1,
      |  b2 AS slope_x2, r2,
      |  CASE WHEN b1 IS NOT NULL AND sig2 > 0 THEN
      |    CAST(CAST(b1 / CAST(CAST(sqrt(sig2 * CAST(n AS DOUBLE) *
      |      c22 / det) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS t_x1,
      |  CASE WHEN b2 IS NOT NULL AND sig2 > 0 THEN
      |    CAST(CAST(b2 / CAST(CAST(sqrt(sig2 * CAST(n AS DOUBLE) *
      |      c11 / det) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS t_x2
      |FROM g""".stripMargin

  // q392: Platt scaling (Stats.plattScaling) — calibrate "value
  // predicts purchase" into a probability with 6 in-plan Newton
  // rounds; the parametric calibrator next to q295's isotonic and
  // q324's calibration error. Oracle = the same 6 rounds as chained
  // CTEs, generated programmatically (the q220 trainer discipline).
  def q392Platt(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.plattScaling(
      ev(s, dir).select(col("value").as("score"),
        (col("event_type") === "purchase").cast("long").as("y")),
      "score", "y", steps = 6)

  val q392Sql: String = {
    def d6(x: String) = s"CAST(CAST($x AS DECIMAL(28,6)) AS DOUBLE)"
    def d28(x: String) = s"CAST(${d6(x)} AS DECIMAL(28,6))"
    val sig = "1.0 / (1.0 + exp(-(a * s + b)))"
    val steps = (1 to 6).map { k =>
      s"""s$k AS (SELECT
         |    SUM(${d28(s"($sig - y) * s")}) AS g1,
         |    SUM(${d28(s"$sig - y")}) AS g2,
         |    SUM(${d28(s"$sig * (1.0 - $sig) * s * s")}) AS h11,
         |    SUM(${d28(s"$sig * (1.0 - $sig) * s")}) AS h12,
         |    SUM(${d28(s"$sig * (1.0 - $sig)")}) AS h22,
         |    MAX(a) AS a0, MAX(b) AS b0
         |  FROM bb CROSS JOIN p${k - 1}),
         |p$k AS (SELECT
         |  CASE WHEN CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) -
         |    CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE) > 0 THEN
         |    ${d6("a0 - (CAST(g1 AS DOUBLE) * CAST(h22 AS DOUBLE) - " +
                "CAST(g2 AS DOUBLE) * CAST(h12 AS DOUBLE)) / " +
                "(CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - " +
                "CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE))")} END AS a,
         |  CASE WHEN CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) -
         |    CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE) > 0 THEN
         |    ${d6("b0 - (CAST(g2 AS DOUBLE) * CAST(h11 AS DOUBLE) - " +
                "CAST(g1 AS DOUBLE) * CAST(h12 AS DOUBLE)) / " +
                "(CAST(h11 AS DOUBLE) * CAST(h22 AS DOUBLE) - " +
                "CAST(h12 AS DOUBLE) * CAST(h12 AS DOUBLE))")} END AS b
         |  FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH bb AS (
       |  SELECT CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT)
       |      / 1000.0 AS s,
       |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
       |  FROM events),
       |p0 AS (SELECT 0.0 AS a, 0.0 AS b),
       |$steps
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       |  MAX(a) AS a, MAX(b) AS b,
       |  CASE WHEN MAX(a) IS NOT NULL THEN
       |    ${d6("CAST(SUM(" + d28("-(y * ln(" + sig + ") + " +
              "(1.0 - y) * ln(1.0 - (" + sig + ")))") +
              ") AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} END
       |    AS log_loss
       |FROM bb CROSS JOIN p6""".stripMargin
  }

  // q393: Cox proportional hazards (Stats.coxPh) — per-user time to
  // first purchase (censored at fixture end), covariate = distinct
  // active days, three user-id cohorts; the MODEL tier over q302's
  // Kaplan–Meier and q363's Nelson–Aalen. Oracle = the same Newton
  // rounds as generated chained CTEs (the q392 Platt discipline).
  def q393CoxPh(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"), col("event_type"),
      expr("ts_us div 86400000000").as("day"))
    val u = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("t0"),
        min(when(col("event_type") === "purchase", col("day")))
          .as("tp"),
        countDistinct(col("day")).as("days"))
    val mx = e.agg(max(col("day")).as("tmax"))
    val frame = u.crossJoin(broadcast(mx))
      .select((col("user_id") % 3L).as("cohort"),
        (coalesce(col("tp"), col("tmax")) - col("t0")).as("t"),
        col("tp").isNotNull.cast("long").as("d"),
        col("days").as("x"))
    graft.pipeline.Stats.coxPh(frame, "cohort", "t", "d", "x",
      steps = 6)
  }

  val q393Sql: String = {
    def d6(x: String) = s"CAST(CAST($x AS DECIMAL(28,6)) AS DOUBLE)"
    def d28(x: String) = s"CAST(${d6(x)} AS DECIMAL(28,6))"
    val ex = "exp(beta * CAST(x AS DOUBLE))"
    val steps = (1 to 6).map { k =>
      s"""g$k AS (SELECT bb.k, t,
         |    SUM(${d28(ex)}) AS w0,
         |    SUM(${d28(s"CAST(x AS DOUBLE) * $ex")}) AS w1,
         |    SUM(${d28(s"CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * $ex")})
         |      AS w2,
         |    CAST(SUM(d) AS BIGINT) AS dc,
         |    CAST(SUM(d * x) AS BIGINT) AS dx, MAX(beta) AS b0
         |  FROM bb JOIN p${k - 1} p ON p.k = bb.k GROUP BY 1, 2),
         |c$k AS (SELECT k, dc, dx, b0,
         |    CAST(SUM(w0) OVER w AS DOUBLE) AS s0,
         |    CAST(SUM(w1) OVER w AS DOUBLE) AS s1,
         |    CAST(SUM(w2) OVER w AS DOUBLE) AS s2
         |  FROM g$k WINDOW w AS (PARTITION BY k ORDER BY t DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |a$k AS (SELECT k,
         |    SUM(${d28("CAST(dx AS DOUBLE) - CAST(dc AS DOUBLE) * " +
                "(s1 / s0)")}) AS uu,
         |    SUM(${d28("CAST(dc AS DOUBLE) * (s2 / s0 - " +
                "(s1 / s0) * (s1 / s0))")}) AS ii,
         |    MAX(b0) AS b0
         |  FROM c$k WHERE dc > 0 GROUP BY 1),
         |p$k AS (SELECT k,
         |  CASE WHEN CAST(ii AS DOUBLE) > 0 THEN
         |    ${d6("b0 + CAST(uu AS DOUBLE) / CAST(ii AS DOUBLE)")}
         |  END AS beta FROM a$k)""".stripMargin
    }.mkString(",\n")
    val seSql = d6("1.0 / sqrt(CAST(ii AS DOUBLE))")
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
       |  FROM events),
       |u AS (SELECT user_id, MIN(day) AS t0,
       |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS tp,
       |    CAST(COUNT(DISTINCT day) AS BIGINT) AS days
       |  FROM e GROUP BY 1),
       |mx AS (SELECT MAX(day) AS tmax FROM e),
       |bb AS (SELECT user_id % 3 AS k,
       |    COALESCE(tp, tmax) - t0 AS t,
       |    CAST(CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS BIGINT) AS d,
       |    days AS x
       |  FROM u CROSS JOIN mx),
       |p0 AS (SELECT DISTINCT k, 0.0 AS beta FROM bb),
       |$steps,
       |gf AS (SELECT bb.k, t,
       |    SUM(${d28(ex)}) AS w0,
       |    SUM(${d28(s"CAST(x AS DOUBLE) * $ex")}) AS w1,
       |    SUM(${d28(s"CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * $ex")})
       |      AS w2,
       |    CAST(SUM(d) AS BIGINT) AS dc
       |  FROM bb JOIN p6 p ON p.k = bb.k GROUP BY 1, 2),
       |cf AS (SELECT k, dc,
       |    CAST(SUM(w0) OVER w AS DOUBLE) AS s0,
       |    CAST(SUM(w1) OVER w AS DOUBLE) AS s1,
       |    CAST(SUM(w2) OVER w AS DOUBLE) AS s2
       |  FROM gf WINDOW w AS (PARTITION BY k ORDER BY t DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |af AS (SELECT k,
       |    SUM(${d28("CAST(dc AS DOUBLE) * (s2 / s0 - " +
              "(s1 / s0) * (s1 / s0))")}) AS ii
       |  FROM cf WHERE dc > 0 GROUP BY 1),
       |st AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(SUM(d) AS BIGINT) AS ne FROM bb GROUP BY 1)
       |SELECT st.k AS cohort, nr AS n_rows, ne AS n_events,
       |  p.beta AS beta,
       |  CASE WHEN p.beta IS NOT NULL THEN
       |    ${d6("exp(p.beta)")} END AS hazard_ratio,
       |  CASE WHEN p.beta IS NOT NULL AND CAST(ii AS DOUBLE) > 0 THEN
       |    $seSql END AS se,
       |  CASE WHEN p.beta IS NOT NULL AND CAST(ii AS DOUBLE) > 0 THEN
       |    ${d6(s"p.beta / $seSql")} END AS z
       |FROM st LEFT JOIN p6 p ON p.k = st.k
       |LEFT JOIN af ON af.k = st.k""".stripMargin
  }

  // q395: two-group log-rank test (Stats.logRank) over the q302 churn
  // frame, groups = user-id parity (an A/A-style split, so the test
  // SHOULD read non-significant). Oracle replays the duration-keyed
  // group-conditional sums, both reverse-cumulative risk windows and
  // the d6 E/V term chain.
  def q395LogRank(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select((col("user_id") % 2L).as("grp"),
        expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(7L * day)).cast("int")
          .as("churned"))
    graft.pipeline.Stats.logRank(users, "duration_days", "churned",
      "grp")
  }

  val q395Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |du AS (
      |  SELECT user_id % 2 AS g, (l - f) // 86400000000 AS t,
      |    CASE WHEN mx - l > 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(g) AS BIGINT) AS n1,
      |    CAST(SUM(ev) AS BIGINT) AS d,
      |    CAST(SUM(ev * g) AS BIGINT) AS d1
      |  FROM du GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER w AS BIGINT) AS nr,
      |    CAST(SUM(n1) OVER w AS BIGINT) AS n1r
      |  FROM byt WINDOW w AS (ORDER BY t
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |trm AS (SELECT d1,
      |    CAST(CAST(d AS DOUBLE) *
      |      (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE))
      |      AS DECIMAL(28,6)) AS et,
      |    CAST(CASE WHEN nr > 1 THEN
      |      CAST(CAST(CAST(d AS DOUBLE) *
      |        (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE)) *
      |        (1.0 - CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE)) *
      |        CAST(nr - d AS DOUBLE) / CAST(nr - 1 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |      ELSE 0.0 END AS DECIMAL(28,6)) AS vt
      |  FROM r WHERE d > 0),
      |a AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
      |    SUM(et) AS e1, SUM(vt) AS v FROM trm),
      |zz AS (SELECT o1, CAST(e1 AS DOUBLE) AS e1d,
      |    CAST(v AS DOUBLE) AS vd,
      |    CASE WHEN CAST(v AS DOUBLE) > 0 THEN
      |      CAST(CAST((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE)) /
      |        sqrt(CAST(v AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS z FROM a)
      |SELECT o1 AS n_events_g1, e1d AS expected_g1, vd AS variance, z,
      |  CASE WHEN z IS NOT NULL THEN
      |    CAST(CAST(z * z AS DECIMAL(28,6)) AS DOUBLE) END AS chi2,
      |  CASE WHEN z IS NOT NULL THEN
      |    CAST(CAST(CAST(z * z AS DECIMAL(28,6)) AS DOUBLE)
      |      >= 3.841459 AS INT) ELSE 0 END AS significant
      |FROM zz""".stripMargin

  // q396: Jarque–Bera normality gate (Stats.jarqueBera) on per-user
  // event counts, keyed by event type — counts are Poisson-ish, so the
  // gate should REJECT normality on the big types. Oracle replays the
  // exact decimal power sums and the n-cleared central-moment ratios.
  def q396JarqueBera(s: SparkSession, dir: String): DataFrame = {
    val perUser = t(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
    graft.pipeline.Stats.jarqueBera(perUser, "event_type", "n_ev")
  }

  val q396Sql: String = {
    def hd(x: String) = s"CAST($x AS HUGEINT)"
    """WITH pu AS (
      |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(HX) AS s1, SUM(HX * HX) AS s2,
      |    SUM(HX * HX * HX) AS s3, SUM(HX * HX * HX * HX) AS s4
      |  FROM pu GROUP BY 1),
      |m AS (SELECT event_type, n,
      |    CAST(HN * s2 - s1 * s1 AS DOUBLE) AS m2,
      |    CAST(HN * HN * s3 - 3 * HN * s1 * s2 + 2 * s1 * s1 * s1
      |      AS DOUBLE) AS m3,
      |    CAST(HN * HN * HN * s4 - 4 * HN * HN * s1 * s3
      |      + 6 * HN * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
      |      AS DOUBLE) AS m4,
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean
      |  FROM a),
      |sk AS (SELECT event_type, n, mean,
      |    CASE WHEN m2 > 0 THEN
      |      CAST(CAST(m3 / (m2 * sqrt(m2)) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS skewness,
      |    CASE WHEN m2 > 0 THEN
      |      CAST(CAST(m4 / (m2 * m2) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS kurtosis
      |  FROM m),
      |jb AS (SELECT *, CASE WHEN skewness IS NOT NULL THEN
      |    CAST(CAST(CAST(n AS DOUBLE) / 6.0 *
      |      (skewness * skewness +
      |       (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS jb
      |  FROM sk)
      |SELECT event_type, n AS n_obs, mean, skewness, kurtosis, jb,
      |  CASE WHEN jb IS NOT NULL THEN CAST(jb >= 5.991459 AS INT)
      |    ELSE 0 END AS rejected
      |FROM jb"""
      .replace("HX", hd("x")).replace("HN", hd("n")).stripMargin
  }

  // q397: restricted mean survival time (Stats.rmst) at a 30-day
  // horizon over the q302 churn frame — "expected active days in the
  // first month". Oracle replays q302's KM chain plus the lead-window
  // step areas.
  def q397Rmst(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select(expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(7L * day)).cast("int")
          .as("churned"))
    graft.pipeline.Stats.rmst(users, "duration_days", "churned", 30L)
  }

  val q397Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |d AS (
      |  SELECT (l - f) // 86400000000 AS duration,
      |    CASE WHEN mx - l > 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT duration, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(ev) AS BIGINT) AS n_events
      |        FROM d GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER (ORDER BY duration
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |        AS BIGINT) AS n_risk FROM byt),
      |t AS (
      |  SELECT *,
      |    CASE WHEN n_events = 0 THEN CAST(0.0 AS DECIMAL(28,6))
      |         WHEN n_events = n_risk THEN NULL
      |         ELSE CAST(ln(1.0 - CAST(n_events AS DOUBLE) /
      |           CAST(n_risk AS DOUBLE)) AS DECIMAL(28,6)) END AS lt,
      |    CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS z
      |  FROM r),
      |km AS (
      |  SELECT duration, n_risk,
      |    CASE WHEN SUM(z) OVER w > 0 THEN 0.0
      |      ELSE CAST(CAST(exp(CAST(COALESCE(SUM(lt) OVER w,
      |        CAST(0 AS DECIMAL(28,6))) AS DOUBLE)) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS survival
      |  FROM t WINDOW w AS (ORDER BY duration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |led AS (
      |  SELECT duration, n_risk, survival,
      |    COALESCE(LEAD(duration) OVER (ORDER BY duration), 30)
      |      AS nxt
      |  FROM km),
      |stepped AS (
      |  SELECT duration, n_risk, survival,
      |    CAST(survival * CAST(LEAST(nxt, 30) - duration AS DOUBLE)
      |      AS DECIMAL(28,6)) AS term
      |  FROM led WHERE duration < 30),
      |a AS (SELECT LEAST(MIN(duration), 30) AS t1, SUM(term) AS area,
      |    MAX(n_risk) AS n_at_risk
      |  FROM stepped)
      |SELECT CAST(30 AS BIGINT) AS tau, n_at_risk,
      |  CAST(CAST(CAST(COALESCE(t1, 30) AS DOUBLE) +
      |    CAST(COALESCE(area, CAST(0 AS DECIMAL(28,6))) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rmst
      |FROM a""".stripMargin

  // q400: two-sample Poisson rate test (Stats.poissonRateTest) per
  // event type — first fixture half vs second (equal exposures by
  // construction, p = 1/2), the "did this event type's RATE change?"
  // readout. Oracle replays the midpoint split and the one-d6 z chain.
  def q400PoissonRate(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val mm = evt.agg(min(us).as("_mn"), max(us).as("_mx"))
    val flagged = evt.crossJoin(broadcast(mm))
      .select(col("event_type"),
        ((us * 2L) >= (col("_mn") + col("_mx"))).cast("int").as("arm"))
    graft.pipeline.Stats.poissonRateTest(flagged, "event_type", "arm",
      exposure0 = 1L, exposure1 = 1L)
  }

  val q400Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |mm AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
      |f AS (SELECT event_type,
      |    CASE WHEN us * 2 >= mn + mx THEN 1 ELSE 0 END AS a
      |  FROM e CROSS JOIN mm),
      |ag AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(a) AS BIGINT) AS x1 FROM f GROUP BY 1)
      |SELECT event_type, CAST(n - x1 AS BIGINT) AS x0, x1,
      |  CAST(CAST(CAST(n - x1 AS DOUBLE) / 1.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS rate0,
      |  CAST(CAST(CAST(x1 AS DOUBLE) / 1.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS rate1,
      |  CASE WHEN n > 0 THEN
      |    CAST(CAST((CAST(x1 AS DOUBLE) - CAST(n AS DOUBLE) * 0.5) /
      |      sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS z,
      |  CASE WHEN n > 0 THEN
      |    CAST(abs(CAST(CAST((CAST(x1 AS DOUBLE) -
      |      CAST(n AS DOUBLE) * 0.5) /
      |      sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5) AS DECIMAL(28,6))
      |      AS DOUBLE)) >= 1.959964 AS INT) ELSE 0 END AS significant
      |FROM ag""".stripMargin

  // q403: Bartlett's variance-homogeneity test (Stats.bartlett) of
  // document length across languages — the normal-theory partner of
  // q354's Brown–Forsythe (and q396's Jarque–Bera is the validity
  // pre-flight). Oracle replays the cleared variances, the d6-per-ln
  // terms and the staged correction chain.
  def q403Bartlett(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.bartlett(t(s, dir, "documents"), "lang",
      "n_chars")

  val q403Sql: String = {
    """WITH per AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
      |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
      |      AS s2
      |  FROM documents GROUP BY 1),
      |m AS (SELECT lang, n,
      |    CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE) AS mm
      |  FROM per),
      |vi AS (SELECT lang, n, mm,
      |    CAST(CAST(mm / CAST(n * (n - 1) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS v
      |  FROM m),
      |st AS (SELECT n, v,
      |    CAST(CAST(CAST(mm / CAST(n AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS DECIMAL(28,6)) AS pool,
      |    CAST(CAST(CAST(1.0 / CAST(n - 1 AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS DECIMAL(28,6)) AS inv
      |  FROM vi),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(n) AS BIGINT) AS n_total,
      |    SUM(pool) AS poolsum, SUM(inv) AS invsum,
      |    SUM(CASE WHEN v > 0 THEN
      |      CAST(CAST(CAST(CAST(n - 1 AS DOUBLE) *
      |        CAST(CAST(ln(v) AS DECIMAL(28,6)) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) END)
      |      AS lnsum,
      |    CAST(SUM(CASE WHEN v <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS degen
      |  FROM st),
      |sp AS (SELECT *,
      |    CAST(n_total - k AS DOUBLE) AS nk,
      |    CAST(CAST(CAST(poolsum AS DOUBLE) /
      |      CAST(n_total - k AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS sp2
      |  FROM roll),
      |tt AS (SELECT k, n_total, sp2,
      |    CASE WHEN k >= 2 AND degen = 0 THEN
      |      CAST(CAST((nk * CAST(CAST(ln(sp2) AS DECIMAL(28,6))
      |          AS DOUBLE) - CAST(lnsum AS DOUBLE)) /
      |        CAST(CAST(1.0 + (CAST(invsum AS DOUBLE) - 1.0 / nk) /
      |          (3.0 * CAST(k - 1 AS DOUBLE)) AS DECIMAL(28,6))
      |          AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS t_stat
      |  FROM sp)
      |SELECT k, n_total, sp2 AS pooled_var, t_stat,
      |  CASE WHEN t_stat IS NOT NULL THEN
      |    CAST(t_stat >= CHI95 AS INT) END AS significant
      |FROM tt""".replace("CHI95", chiCase("k - 1")).stripMargin
  }

  // q404: Neyman optimal allocation (Sampling.neymanAllocation) of a
  // 10k-row sampling budget across return-flag strata on the price
  // metric — the annotation-budget planning table. Oracle replays the
  // cleared variances, IEEE sqrt, the d6 share and the floor.
  def q404Neyman(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    graft.pipeline.Sampling.neymanAllocation(li, "l_returnflag",
      "cents", budget = 10000L)
  }

  val q404Sql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS h,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x
      |  FROM lineitem),
      |per AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_pop,
      |    SUM(CAST(x AS HUGEINT)) AS s1,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
      |  FROM li GROUP BY 1),
      |m AS (SELECT h, n_pop,
      |    CAST(CAST(n_pop AS HUGEINT) * s2 - s1 * s1 AS DOUBLE) AS mm
      |  FROM per),
      |sd AS (SELECT h, n_pop,
      |    CASE WHEN n_pop >= 2 AND mm > 0 THEN
      |      CAST(CAST(sqrt(CAST(CAST(mm /
      |        CAST(n_pop * (n_pop - 1) AS DOUBLE) AS DECIMAL(28,6))
      |        AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      ELSE 0.0 END AS sd
      |  FROM m),
      |w AS (SELECT h, n_pop, sd,
      |    CAST(CAST(CAST(CAST(n_pop AS DOUBLE) * sd AS DECIMAL(28,6))
      |      AS DOUBLE) AS DECIMAL(28,6)) AS wt
      |  FROM sd),
      |tw AS (SELECT *, CAST(SUM(wt) OVER () AS DOUBLE) AS wsum FROM w)
      |SELECT h AS l_returnflag, n_pop, sd,
      |  CASE WHEN wsum > 0 THEN
      |    CAST(CAST(CAST(wt AS DOUBLE) / wsum AS DECIMAL(28,6))
      |      AS DOUBLE) END AS share,
      |  CASE WHEN wsum > 0 THEN
      |    CAST(floor(10000.0 * CAST(CAST(CAST(wt AS DOUBLE) / wsum
      |      AS DECIMAL(28,6)) AS DOUBLE)) AS BIGINT)
      |    ELSE 0 END AS n_alloc
      |FROM tw""".stripMargin

  // q405: OLS influence diagnostics (Stats.olsInfluence) on the daily
  // event-volume trend — leverage, residual, Cook's D and the 4/n
  // screening flag per day; the "which days is this slope standing
  // on" audit beside q319's Theil–Sen. Oracle replays the cleared
  // sufficient stats and the fixed per-row d6 chains.
  def q405OlsInfluence(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("volume"))
    graft.pipeline.Stats.olsInfluence(daily, "day", "volume")
  }

  val q405Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT day AS x, CAST(COUNT(*) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM d),
      |cl AS (SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS clxx,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS clxy,
      |    CAST(n AS HUGEINT) * syy - sy * sy AS clyy
      |  FROM ag),
      |j AS (SELECT d.x, d.y, cl.* FROM d CROSS JOIN cl),
      |st AS (SELECT x, y, n,
      |    CAST(clxx AS DOUBLE) > 0 AS ok,
      |    CAST(clxy AS DOUBLE) / CAST(clxx AS DOUBLE) AS b,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(1.0 / CAST(n AS DOUBLE) +
      |      CAST((CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - sx) *
      |           (CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - sx)
      |        AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * clxx AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS lev,
      |    CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd,
      |    (CAST(clyy AS DOUBLE) - CAST(clxy AS DOUBLE) *
      |      CAST(clxy AS DOUBLE) / CAST(clxx AS DOUBLE)) /
      |      CAST(n AS DOUBLE) AS sse
      |  FROM j),
      |rr AS (SELECT x, y, n, ok, lev,
      |    CAST(CAST(CAST(y AS DOUBLE) -
      |      ((syd - b * sxd) / nd + b * CAST(x AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS resid,
      |    CAST(CAST(sse / (nd - 2.0) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS mse
      |  FROM st),
      |cd AS (SELECT x AS day, y AS volume, n AS n_obs,
      |    CASE WHEN ok THEN lev END AS leverage,
      |    CASE WHEN ok THEN resid END AS residual,
      |    CASE WHEN ok AND mse > 0 THEN
      |      CAST(CAST(resid * resid * lev /
      |        (2.0 * mse * (1.0 - lev) * (1.0 - lev))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS cooks_d
      |  FROM rr)
      |SELECT day, volume, n_obs, leverage, residual, cooks_d,
      |  CASE WHEN cooks_d IS NOT NULL THEN
      |    CAST(cooks_d > 4.0 / CAST(n_obs AS DOUBLE) AS INT)
      |    ELSE 0 END AS influential
      |FROM cd""".stripMargin

  // q408: Cohen's d / Hedges' g effect size (Stats.cohensD) between
  // the user-parity arms on per-user total spend cents — the
  // magnitude readout beside q251's Welch significance. Oracle
  // replays the arm-conditional cleared sums and the staged d6 chain.
  def q408CohensD(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val units = evt.groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select((col("user_id") % 2L).as("arm"), col("x"))
    graft.pipeline.Stats.cohensD(units, "arm", "x")
  }

  val q408Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS a,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |ag AS (SELECT
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    SUM(CASE WHEN a = 0 THEN CAST(x AS HUGEINT) END) AS s0,
      |    SUM(CASE WHEN a = 1 THEN CAST(x AS HUGEINT) END) AS s1,
      |    SUM(CASE WHEN a = 0 THEN CAST(x AS HUGEINT) *
      |      CAST(x AS HUGEINT) END) AS q0,
      |    SUM(CASE WHEN a = 1 THEN CAST(x AS HUGEINT) *
      |      CAST(x AS HUGEINT) END) AS q1
      |  FROM u),
      |m AS (SELECT n0, n1, s0, s1,
      |    CAST(n0 AS HUGEINT) * q0 - s0 * s0 AS m0,
      |    CAST(n1 AS HUGEINT) * q1 - s1 * s1 AS m1
      |  FROM ag),
      |st AS (SELECT n0, n1,
      |    CAST(CAST(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean0,
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean1,
      |    CAST(CAST(sqrt(CAST(CAST(
      |      CAST((CAST(CAST(CAST(m0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |          AS DECIMAL(28,6)) AS DECIMAL(28,6)) +
      |        CAST(CAST(CAST(m1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |          AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS DOUBLE) /
      |        (CAST(n0 + n1 AS DOUBLE) - 2.0)
      |      AS DECIMAL(28,6)) AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS pooled_sd
      |  FROM m),
      |dd AS (SELECT n0, n1, mean0, mean1, pooled_sd,
      |    CASE WHEN pooled_sd > 0 THEN
      |      CAST(CAST((mean1 - mean0) / pooled_sd AS DECIMAL(28,6))
      |        AS DOUBLE) END AS d
      |  FROM st)
      |SELECT n0, n1, mean0, mean1, pooled_sd, d,
      |  CASE WHEN d IS NOT NULL THEN
      |    CAST(CAST(d * (1.0 - 3.0 /
      |      (4.0 * CAST(n0 + n1 AS DOUBLE) - 9.0)) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS hedges_g
      |FROM dd""".stripMargin

  // q409: Gumbel block-maxima fit with 10- and 100-period return
  // levels (Timeseries.gumbelReturnLevels) over daily peak spend —
  // the extreme-value capacity question a mean + p99 understates.
  // Oracle replays the moment fit, the shared literals and the
  // staged ln/d6 chain.
  def q409Gumbel(s: SparkSession, dir: String): DataFrame = {
    val frame = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.ops.Timeseries.gumbelReturnLevels(frame, "day", "cents")
  }

  val q409Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mx AS (SELECT day, MAX(cents) AS m FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |    SUM(CAST(m AS HUGEINT)) AS s1,
      |    SUM(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS s2
      |  FROM mx),
      |st AS (SELECT n_blocks,
      |    CAST(CAST(n_blocks AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
      |      AS cl,
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean_max
      |  FROM ag),
      |pr AS (SELECT n_blocks,
      |    CASE WHEN n_blocks >= 2 AND cl > 0 THEN mean_max END
      |      AS mean_max,
      |    CASE WHEN n_blocks >= 2 AND cl > 0 THEN
      |      CAST(CAST(
      |        CAST(CAST(sqrt(CAST(CAST(cl /
      |          CAST(n_blocks * (n_blocks - 1) AS DOUBLE)
      |          AS DECIMAL(28,6)) AS DOUBLE)) AS DECIMAL(28,6))
      |          AS DOUBLE) * sqrt(6.0) / pi()
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS beta
      |  FROM st),
      |mu AS (SELECT n_blocks, mean_max, beta,
      |    CASE WHEN beta IS NOT NULL THEN
      |      CAST(CAST(mean_max - 0.5772156649 * beta AS DECIMAL(28,6))
      |        AS DOUBLE) END AS mu
      |  FROM pr)
      |SELECT n_blocks, mean_max, beta, mu,
      |  CASE WHEN beta IS NOT NULL THEN
      |    CAST(CAST(mu - beta * CAST(CAST(ln(
      |      -CAST(CAST(ln(0.9) AS DECIMAL(28,6)) AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS rl_10,
      |  CASE WHEN beta IS NOT NULL THEN
      |    CAST(CAST(mu - beta * CAST(CAST(ln(
      |      -CAST(CAST(ln(0.99) AS DECIMAL(28,6)) AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS rl_100
      |FROM mu""".stripMargin

  // q416: pairwise Welch contrasts with Bonferroni control
  // (Stats.pairwiseContrasts) across languages on document length —
  // the post-hoc "WHICH pairs differ" after q338/q353 say "they
  // differ", family-wise honest. Oracle replays the per-group cleared
  // stats, the Welch z and the shared erfc polynomial.
  def q416PairwiseContrasts(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.pairwiseContrasts(
      t(s, dir, "documents"), "lang", "n_chars")

  val q416Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH per AS (
       |  SELECT lang AS g, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
       |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
       |      AS s2
       |  FROM documents GROUP BY 1),
       |st AS (SELECT g, n,
       |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
       |      AS DECIMAL(28,6)) AS DOUBLE) AS m,
       |    CAST(CAST(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
       |      / CAST(n * (n - 1) AS DOUBLE) AS DECIMAL(28,6))
       |      AS DOUBLE) AS v
       |  FROM per),
       |pr AS (SELECT a.g AS group_a, b.g AS group_b,
       |    a.n AS n_a, b.n AS n_b, a.m AS mean_a, b.m AS mean_b,
       |    CASE WHEN a.v / CAST(a.n AS DOUBLE) +
       |        b.v / CAST(b.n AS DOUBLE) > 0 THEN
       |      CAST(CAST((a.m - b.m) / sqrt(a.v / CAST(a.n AS DOUBLE) +
       |        b.v / CAST(b.n AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
       |    END AS z
       |  FROM st a JOIN st b ON a.g < b.g),
       |pm AS (SELECT *, CAST(COUNT(*) OVER () AS BIGINT)
       |    AS m_comparisons FROM pr),
       |pv AS (SELECT *, CASE WHEN z IS NOT NULL THEN
       |    CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_raw
       |  FROM pm),
       |pb AS (SELECT *, CASE WHEN p_raw IS NOT NULL THEN
       |    CAST(CAST(LEAST(1.0,
       |      p_raw * CAST(m_comparisons AS DOUBLE)) AS DECIMAL(28,6))
       |      AS DOUBLE) END AS p_bonf
       |  FROM pv)
       |SELECT group_a, group_b, n_a, n_b, mean_a, mean_b, z,
       |  m_comparisons, p_raw, p_bonf,
       |  CASE WHEN p_bonf IS NOT NULL THEN
       |    CAST(p_bonf <= 0.05 AS INT) ELSE 0 END AS significant
       |FROM pb""".stripMargin
  }

  // q417: BH-FDR over the q400 per-event-type Poisson-rate z battery
  // (Stats.zBatteryFdr) — the portable erfc-polynomial p-values feed
  // the existing q264 step-up machinery; the multiple-testing layer
  // over the module's per-test flags. Oracle rebuilds the battery,
  // the polynomial and the rank/k*/adjusted-p chain.
  def q417BhFdr(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val mm = evt.agg(min(us).as("_mn"), max(us).as("_mx"))
    val flagged = evt.crossJoin(broadcast(mm))
      .select(col("event_type"),
        ((us * 2L) >= (col("_mn") + col("_mx"))).cast("int").as("arm"))
    val battery = graft.pipeline.Stats.poissonRateTest(flagged,
      "event_type", "arm", 1L, 1L)
      .select(col("event_type"), col("z"))
    graft.pipeline.Stats.zBatteryFdr(battery, "event_type", "z",
      q = 0.05)
  }

  val q417Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH e AS (
       |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |mm AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
       |f AS (SELECT event_type,
       |    CASE WHEN us * 2 >= mn + mx THEN 1 ELSE 0 END AS a
       |  FROM e CROSS JOIN mm),
       |ag AS (SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a) AS BIGINT) AS x1 FROM f GROUP BY 1),
       |bat AS (SELECT k,
       |    CASE WHEN n > 0 THEN
       |      CAST(CAST((CAST(x1 AS DOUBLE) - CAST(n AS DOUBLE) * 0.5) /
       |        sqrt(CAST(n AS DOUBLE) * 0.5 * 0.5) AS DECIMAL(28,6))
       |        AS DOUBLE) END AS z
       |  FROM ag),
       |pv AS (SELECT k, z,
       |    CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) AS p_raw
       |  FROM bat),
       |rk AS (SELECT *,
       |    CAST(ROW_NUMBER() OVER (ORDER BY p_raw, k) AS BIGINT)
       |      AS rank,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS m FROM pv),
       |ks AS (SELECT *,
       |    COALESCE(MAX(CASE WHEN p_raw * m <=
       |        CAST(rank AS DOUBLE) * 0.05 THEN rank END) OVER (), 0)
       |      AS kstar,
       |    CAST(CAST(LEAST(
       |      MIN(p_raw * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
       |        OVER (ORDER BY rank DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |      1.0) AS DECIMAL(28,6)) AS DOUBLE) AS p_adj
       |  FROM rk)
       |SELECT k AS event_type, z,
       |  CAST(CAST(p_raw AS DECIMAL(28,6)) AS DOUBLE) AS p_value,
       |  rank, p_adj,
       |  CAST(rank <= kstar AS INT) AS rejected
       |FROM ks""".stripMargin
  }

  // q419: risk ratio + risk difference with 95% CIs (Stats.riskRatio)
  // for finished status on above-median order value — the
  // epidemiologist's 2×2 beside q369's odds ratio (which exaggerates
  // on common outcomes) and q411's stratified pool. Oracle replays
  // the cells and every d6 stage.
  def q419RiskRatio(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select((col("o_orderstatus") === "F").cast("int").as("arm"),
        (col("o_totalprice") >= 250000.0).cast("int").as("outcome"))
    graft.pipeline.Stats.riskRatio(o, "arm", "outcome")
  }

  val q419Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g,
      |    CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |ag AS (SELECT CAST(SUM(g * y) AS BIGINT) AS a,
      |    CAST(SUM(g * (1 - y)) AS BIGINT) AS bb,
      |    CAST(SUM((1 - g) * y) AS BIGINT) AS c,
      |    CAST(SUM((1 - g) * (1 - y)) AS BIGINT) AS dd FROM b),
      |st AS (SELECT a, bb, c, dd,
      |    CAST(a + bb AS DOUBLE) AS n1, CAST(c + dd AS DOUBLE) AS n0,
      |    CAST(CAST(CAST(a AS DOUBLE) / CAST(a + bb AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS r1,
      |    CAST(CAST(CAST(c AS DOUBLE) / CAST(c + dd AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS r0
      |  FROM ag),
      |rr AS (SELECT *,
      |    CAST(CAST(r1 / r0 AS DECIMAL(28,6)) AS DOUBLE) AS rrv,
      |    CAST(CAST(sqrt(1.0 / CAST(a AS DOUBLE) - 1.0 / n1 +
      |      1.0 / CAST(c AS DOUBLE) - 1.0 / n0) AS DECIMAL(28,6))
      |      AS DOUBLE) AS seln,
      |    CAST(CAST(r1 - r0 AS DECIMAL(28,6)) AS DOUBLE) AS rd,
      |    CAST(CAST(sqrt(r1 * (1.0 - r1) / n1 +
      |      r0 * (1.0 - r0) / n0) AS DECIMAL(28,6)) AS DOUBLE) AS serd
      |  FROM st),
      |ln2 AS (SELECT *,
      |    CAST(CAST(ln(rrv) AS DECIMAL(28,6)) AS DOUBLE) AS lnrr
      |  FROM rr)
      |SELECT CAST(a + bb AS BIGINT) AS n_exposed,
      |  CAST(c + dd AS BIGINT) AS n_unexposed,
      |  r1 AS risk_exposed, r0 AS risk_unexposed,
      |  CASE WHEN a > 0 AND c > 0 THEN rrv END AS risk_ratio,
      |  CASE WHEN a > 0 AND c > 0 THEN
      |    CAST(CAST(exp(lnrr - 1.959964 * seln) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS rr_ci_low,
      |  CASE WHEN a > 0 AND c > 0 THEN
      |    CAST(CAST(exp(lnrr + 1.959964 * seln) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS rr_ci_high,
      |  rd AS risk_diff,
      |  CAST(CAST(rd - 1.959964 * serd AS DECIMAL(28,6)) AS DOUBLE)
      |    AS rd_ci_low,
      |  CAST(CAST(rd + 1.959964 * serd AS DECIMAL(28,6)) AS DOUBLE)
      |    AS rd_ci_high
      |FROM ln2""".stripMargin

  // q441: quantile-quantile drift table (Stats.qqDriftTable) between
  // the reference and current fixture halves per event type — WHERE
  // the value distribution moved (q385's PSI says how much); picks
  // are exact order statistics by the q385 rank convention. Oracle
  // replays both slices' picks and the full-outer line-up.
  def q441QqDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .withColumn("_day", expr("ts_us div 86400000000"))
    val lo = e.agg(min(col("_day")).as("_d0"))
    val flagged = e.crossJoin(broadcast(lo))
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 1000.0).cast("long").as("v"),
        (col("_day") < col("_d0") + 15L).as("is_ref"))
    graft.pipeline.Stats.qqDriftTable(flagged, "event_type",
      "event_id", "v", "is_ref")
  }

  val q441Sql: String =
    """WITH d0 AS (
      |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
      |    AS lo FROM events),
      |b AS (
      |  SELECT event_type AS k, event_id AS id,
      |    CAST(floor(CAST(value AS DOUBLE) * 1000.0) AS BIGINT) AS v,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 < lo + 15 AS r
      |  FROM events CROSS JOIN d0),
      |rp AS (
      |  SELECT k, kk, v
      |  FROM (SELECT k, v,
      |      ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, id) AS rn,
      |      COUNT(*) OVER (PARTITION BY k) AS n
      |    FROM b WHERE r) t,
      |    (SELECT unnest(range(1, 10)) AS kk)
      |  WHERE rn = CAST(ceil(kk * n / 10.0) AS BIGINT)),
      |cp AS (
      |  SELECT k, kk, v
      |  FROM (SELECT k, v,
      |      ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, id) AS rn,
      |      COUNT(*) OVER (PARTITION BY k) AS n
      |    FROM b WHERE NOT r) t,
      |    (SELECT unnest(range(1, 10)) AS kk)
      |  WHERE rn = CAST(ceil(kk * n / 10.0) AS BIGINT))
      |SELECT COALESCE(rp.k, cp.k) AS event_type,
      |  CAST(COALESCE(rp.kk, cp.kk) AS INT) AS quantile,
      |  rp.v AS ref_q, cp.v AS cur_q,
      |  cp.v - rp.v AS shift
      |FROM rp FULL OUTER JOIN cp
      |  ON cp.k = rp.k AND cp.kk = rp.kk""".stripMargin

  // q442: pairwise correlation matrix (Stats.corrMatrix) over the
  // daily volume/spend/users metrics — the redundancy map before
  // q421's partial digs into a triangle; all pairs in ONE aggregate.
  // Oracle replays the cleared sums and unions the three rows.
  def q442CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("volume"), sum(col("cents")).as("spend"),
        countDistinct(col("user_id")).as("users"))
    graft.pipeline.Stats.corrMatrix(daily,
      Seq("volume", "spend", "users"))
  }

  val q442Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS volume,
      |    CAST(SUM(cents) AS BIGINT) AS spend,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
      |  FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(volume AS HUGEINT)) AS sv,
      |    SUM(CAST(spend AS HUGEINT)) AS ss,
      |    SUM(CAST(users AS HUGEINT)) AS su,
      |    SUM(CAST(volume AS HUGEINT) * CAST(volume AS HUGEINT))
      |      AS svv,
      |    SUM(CAST(spend AS HUGEINT) * CAST(spend AS HUGEINT)) AS sss,
      |    SUM(CAST(users AS HUGEINT) * CAST(users AS HUGEINT)) AS suu,
      |    SUM(CAST(spend AS HUGEINT) * CAST(users AS HUGEINT)) AS ssu,
      |    SUM(CAST(spend AS HUGEINT) * CAST(volume AS HUGEINT))
      |      AS ssv,
      |    SUM(CAST(users AS HUGEINT) * CAST(volume AS HUGEINT))
      |      AS suv
      |  FROM d),
      |cl AS (SELECT n,
      |    CAST(CAST(n AS HUGEINT) * svv - sv * sv AS DOUBLE) AS cvv,
      |    CAST(CAST(n AS HUGEINT) * sss - ss * ss AS DOUBLE) AS css,
      |    CAST(CAST(n AS HUGEINT) * suu - su * su AS DOUBLE) AS cuu,
      |    CAST(CAST(n AS HUGEINT) * ssu - ss * su AS DOUBLE) AS csu,
      |    CAST(CAST(n AS HUGEINT) * ssv - ss * sv AS DOUBLE) AS csv,
      |    CAST(CAST(n AS HUGEINT) * suv - su * sv AS DOUBLE) AS cuv
      |  FROM ag)
      |SELECT 'spend' AS metric_a, 'users' AS metric_b, n AS n_obs,
      |  CASE WHEN css > 0 AND cuu > 0 THEN
      |    CAST(CAST(csu / sqrt(css * cuu) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS r FROM cl
      |UNION ALL
      |SELECT 'spend', 'volume', n,
      |  CASE WHEN css > 0 AND cvv > 0 THEN
      |    CAST(CAST(csv / sqrt(css * cvv) AS DECIMAL(28,6))
      |      AS DOUBLE) END FROM cl
      |UNION ALL
      |SELECT 'users', 'volume', n,
      |  CASE WHEN cuu > 0 AND cvv > 0 THEN
      |    CAST(CAST(cuv / sqrt(cuu * cvv) AS DECIMAL(28,6))
      |      AS DOUBLE) END FROM cl""".stripMargin

  // q443: RFM segmentation (Behavior.rfmSegments) — recency/
  // frequency/monetary quintile codes per user rolled to segment
  // counts; exact rank arithmetic, no NTILE nondeterminism. Oracle
  // replays the per-user metrics, the ceil-rank codes and the
  // rollup.
  def q443Rfm(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .select(col("user_id"),
        expr("ts_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.pipeline.Behavior.rfmSegments(e, "user_id", "day", "cents")
  }

  val q443Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mx AS (SELECT MAX(day) AS gmx FROM e),
      |per AS (SELECT user_id AS u, gmx - MAX(day) AS rec,
      |    CAST(COUNT(*) AS BIGINT) AS f,
      |    CAST(SUM(cents) AS BIGINT) AS m
      |  FROM e CROSS JOIN mx GROUP BY 1, gmx),
      |coded AS (SELECT u,
      |    CAST(ceil(5 * ROW_NUMBER() OVER (ORDER BY rec, u) /
      |      CAST(COUNT(*) OVER () AS DOUBLE)) AS BIGINT) AS r_code,
      |    CAST(ceil(5 * ROW_NUMBER() OVER (ORDER BY f, u) /
      |      CAST(COUNT(*) OVER () AS DOUBLE)) AS BIGINT) AS f_code,
      |    CAST(ceil(5 * ROW_NUMBER() OVER (ORDER BY m, u) /
      |      CAST(COUNT(*) OVER () AS DOUBLE)) AS BIGINT) AS m_code
      |  FROM per),
      |seg AS (SELECT r_code, f_code, m_code,
      |    CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM coded GROUP BY 1, 2, 3)
      |SELECT r_code, f_code, m_code, n_users,
      |  CAST(CAST(CAST(n_users AS DOUBLE) /
      |    CAST(SUM(n_users) OVER () AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS user_frac
      |FROM seg""".stripMargin

  // q444: DAU/WAU stickiness (Behavior.dauMauStickiness, 7-day
  // window) — per day, the share of the trailing-week audience that
  // showed up that day; the engagement-intensity ratio beside q104's
  // cohort retention. Oracle replays the distinct frame, the range
  // join and the two distinct counts.
  def q444Stickiness(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .select(col("user_id"),
        expr("ts_us div 86400000000").as("day"))
    graft.pipeline.Behavior.dauMauStickiness(e, "user_id", "day",
      window = 7)
  }

  val q444Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id AS u,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      |  FROM events),
      |days AS (SELECT DISTINCT d AS day FROM e),
      |j AS (SELECT days.day, e.u, e.d
      |  FROM days JOIN e ON e.d <= days.day AND e.d > days.day - 7),
      |g AS (SELECT day,
      |    CAST(COUNT(DISTINCT CASE WHEN d = day THEN u END)
      |      AS BIGINT) AS dau,
      |    CAST(COUNT(DISTINCT u) AS BIGINT) AS mau
      |  FROM j GROUP BY 1)
      |SELECT day, dau, mau,
      |  CAST(CAST(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS stickiness
      |FROM g""".stripMargin

  // q435: Wilcoxon signed-rank (Stats.wilcoxonSignedRank) on paired
  // per-user half-spend (first vs second fixture half, dollars) —
  // "did spend move WITHIN users?", the nonparametric paired partner
  // of q263's Mann–Whitney. Oracle replays the |d| cells, doubled
  // midranks and the tie-corrected z.
  private def halfSpendPairs(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val mm = evt.agg(min(us).as("_mn"), max(us).as("_mx"))
    evt.crossJoin(broadcast(mm))
      .select(col("user_id"),
        when((us * 2L) < (col("_mn") + col("_mx")),
          round(col("value") * 100).cast("long")).otherwise(0L)
          .as("_c1"),
        when((us * 2L) >= (col("_mn") + col("_mx")),
          round(col("value") * 100).cast("long")).otherwise(0L)
          .as("_c2"))
      .groupBy(col("user_id"))
      .agg((sum(col("_c1")) / 100L).cast("long").as("x"),
        (sum(col("_c2")) / 100L).cast("long").as("y"))
  }

  private val halfSpendSql: String =
    """e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |mm AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
      |u AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN us * 2 < mn + mx THEN cents ELSE 0 END)
      |      // 100 AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN us * 2 >= mn + mx THEN cents ELSE 0 END)
      |      // 100 AS BIGINT) AS y
      |  FROM e CROSS JOIN mm GROUP BY 1)""".stripMargin

  def q435Wilcoxon(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.wilcoxonSignedRank(
      halfSpendPairs(s, dir), "x", "y")

  val q435Sql: String =
    s"""WITH $halfSpendSql,
      |d AS (SELECT x - y AS d FROM u),
      |z AS (SELECT CAST(COUNT(*) AS BIGINT) AS nz FROM d WHERE d = 0),
      |cells AS (SELECT abs(d) AS ad, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS npos
      |  FROM d WHERE d <> 0 GROUP BY 1),
      |rk AS (SELECT *, COALESCE(SUM(n) OVER (ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS below
      |  FROM cells),
      |ag AS (SELECT
      |    COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n_nonzero,
      |    COALESCE(CAST(SUM(npos) AS BIGINT), 0) AS n_positive,
      |    COALESCE(SUM(CAST(npos AS HUGEINT) *
      |      CAST(2 * below + n + 1 AS HUGEINT)), 0) AS w2,
      |    COALESCE(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) *
      |      CAST(n AS HUGEINT) - CAST(n AS HUGEINT)), 0) AS tie
      |  FROM rk)
      |SELECT n_nonzero, nz AS n_zero, n_positive,
      |  CAST(w2 AS BIGINT) AS w2_doubled,
      |  CASE WHEN n_nonzero >= 1 AND
      |      CAST(n_nonzero AS DOUBLE) *
      |      (CAST(n_nonzero AS DOUBLE) + 1.0) *
      |      (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 6.0 -
      |      CAST(tie AS DOUBLE) / 12.0 > 0 THEN
      |    CAST(CAST((CAST(w2 AS DOUBLE) -
      |      CAST(n_nonzero AS DOUBLE) *
      |      (CAST(n_nonzero AS DOUBLE) + 1.0) / 2.0) /
      |      sqrt(CAST(n_nonzero AS DOUBLE) *
      |        (CAST(n_nonzero AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 6.0 -
      |        CAST(tie AS DOUBLE) / 12.0) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS z,
      |  CASE WHEN n_nonzero >= 1 AND
      |      CAST(n_nonzero AS DOUBLE) *
      |      (CAST(n_nonzero AS DOUBLE) + 1.0) *
      |      (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 6.0 -
      |      CAST(tie AS DOUBLE) / 12.0 > 0 THEN
      |    CAST(abs(CAST(CAST((CAST(w2 AS DOUBLE) -
      |      CAST(n_nonzero AS DOUBLE) *
      |      (CAST(n_nonzero AS DOUBLE) + 1.0) / 2.0) /
      |      sqrt(CAST(n_nonzero AS DOUBLE) *
      |        (CAST(n_nonzero AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n_nonzero AS DOUBLE) + 1.0) / 6.0 -
      |        CAST(tie AS DOUBLE) / 12.0) AS DECIMAL(28,6))
      |      AS DOUBLE)) >= 1.959964 AS INT) ELSE 0 END AS significant
      |FROM ag CROSS JOIN z""".stripMargin

  // q436: Hodges–Lehmann pseudo-median (Stats.hodgesLehmann) of the
  // paired half-spend differences — the robust "typical shift" to
  // quote beside q435's p-value. Oracle replays the doubled Walsh
  // cells and the lower-weighted-median pick.
  def q436HodgesLehmann(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.hodgesLehmann(
      halfSpendPairs(s, dir).select((col("x") - col("y")).as("d")),
      "d")

  val q436Sql: String =
    s"""WITH $halfSpendSql,
      |d AS (SELECT x - y AS v FROM u),
      |cells AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM d GROUP BY 1),
      |walsh AS (
      |  SELECT a.v + b.v AS s2,
      |    CAST(SUM(CASE WHEN a.v = b.v THEN
      |      CAST(a.n AS HUGEINT) * (CAST(a.n AS HUGEINT) + 1) / 2
      |      ELSE CAST(a.n AS HUGEINT) * CAST(b.n AS HUGEINT) END)
      |      AS HUGEINT) AS w
      |  FROM cells a JOIN cells b ON a.v <= b.v
      |  GROUP BY 1),
      |rk AS (SELECT *, SUM(w) OVER (ORDER BY s2
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER () AS tot
      |  FROM walsh)
      |SELECT CAST(MAX(tot) AS BIGINT) AS n_walsh_pairs,
      |  CAST(CAST(CAST(MIN(s2) AS DOUBLE) / 2.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS pseudo_median
      |FROM rk WHERE CAST(cum AS BIGINT) >=
      |  CAST(floor(CAST(tot + 1 AS DOUBLE) / 2.0) AS BIGINT)"""
      .stripMargin

  // q437: paired sign test (Stats.signTest) on the same half-spend
  // pairs — the assumption-free floor under q435; p from the shared
  // erfc polynomial. Oracle replays the sign counts and the
  // continuity-corrected z.
  def q437SignTest(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.signTest(halfSpendPairs(s, dir), "x", "y")

  val q437Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH $halfSpendSql,
      |d AS (SELECT x - y AS d FROM u),
      |ag AS (SELECT
      |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_positive,
      |    CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_negative,
      |    CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_zero
      |  FROM d),
      |zz AS (SELECT *,
      |    CASE WHEN n_positive + n_negative >= 1 THEN
      |      CAST(CAST(
      |        sign(CAST(2 * n_positive - (n_positive + n_negative)
      |          AS DOUBLE)) *
      |        GREATEST(0.0, abs(CAST(2 * n_positive -
      |          (n_positive + n_negative) AS DOUBLE)) - 1.0) /
      |        sqrt(CAST(n_positive + n_negative AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM ag),
      |pp AS (SELECT *, CASE WHEN z IS NOT NULL THEN
      |    CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM zz)
      |SELECT n_positive, n_negative, n_zero, z, p_value,
      |  CASE WHEN p_value IS NOT NULL THEN
      |    CAST(p_value <= 0.05 AS INT) ELSE 0 END AS significant
      |FROM pp""".stripMargin
  }

  // q438: seasonal/trend strength scorecard
  // (Timeseries.decompositionStrength) over the q321 decomposition —
  // Hyndman's F_s/F_t per event type, the "should the forecaster
  // model the season" branch input. Oracle replays q321's chain plus
  // the two-pass d6 variances.
  def q438DecompStrength(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.decompositionStrength(buckets, "event_type",
      "b", "x", period = 4)
  }

  val q438Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY t)
      |         AS rn,
      |         COUNT(*) OVER (PARTITION BY k) AS nk
      |       FROM s),
      |tr AS (
      |  SELECT k, t, x, rn, nk,
      |    CAST((rn - 1) % 4 AS INT) AS phase,
      |    CASE WHEN rn > 2 AND rn <= nk - 2 THEN
      |      CAST(CAST(CAST(lag(x, 2) OVER wo + 2 * SUM(x) OVER win +
      |        lead(x, 2) OVER wo AS DOUBLE) / 8.0 AS DECIMAL(28,6))
      |        AS DOUBLE)
      |    END AS trend
      |  FROM rk
      |  WINDOW wo AS (PARTITION BY k ORDER BY t),
      |    win AS (PARTITION BY k ORDER BY t
      |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
      |pm AS (
      |  SELECT k, phase,
      |    CAST(CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) - trend
      |      AS DECIMAL(28,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS pmv
      |  FROM tr WHERE trend IS NOT NULL GROUP BY 1, 2),
      |ctr AS (
      |  SELECT k,
      |    CAST(CAST(CAST(SUM(CAST(pmv AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS cv
      |  FROM pm GROUP BY 1),
      |dcmp AS (
      |  SELECT tr.k,
      |    CAST(CAST(CAST(tr.x AS DOUBLE) - tr.trend -
      |      CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS r,
      |    CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE) +
      |      CAST(CAST(CAST(tr.x AS DOUBLE) - tr.trend -
      |        CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) AS sr,
      |    tr.trend +
      |      CAST(CAST(CAST(tr.x AS DOUBLE) - tr.trend -
      |        CAST(CAST(pm.pmv - ctr.cv AS DECIMAL(28,6)) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) AS tr2
      |  FROM tr
      |  LEFT JOIN pm ON pm.k = tr.k AND pm.phase = tr.phase
      |  JOIN ctr ON ctr.k = tr.k
      |  WHERE tr.trend IS NOT NULL AND pm.pmv IS NOT NULL),
      |mn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_interior,
      |    CAST(CAST(CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS mr,
      |    CAST(CAST(CAST(SUM(CAST(sr AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS msr,
      |    CAST(CAST(CAST(SUM(CAST(tr2 AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS mtr
      |  FROM dcmp GROUP BY 1),
      |vr AS (SELECT dcmp.k, MAX(n_interior) AS n_interior,
      |    CAST(CAST(CAST(SUM(CAST(CAST(CAST((r - mr) * (r - mr)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)))
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS vrr,
      |    CAST(CAST(CAST(SUM(CAST(CAST(CAST((sr - msr) * (sr - msr)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)))
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS vsr,
      |    CAST(CAST(CAST(SUM(CAST(CAST(CAST((tr2 - mtr) * (tr2 - mtr)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)))
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS vtr
      |  FROM dcmp JOIN mn ON mn.k = dcmp.k GROUP BY 1)
      |SELECT k AS event_type, n_interior,
      |  CASE WHEN vsr > 0 THEN
      |    CAST(CAST(GREATEST(0.0, 1.0 - vrr / vsr) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS seasonal_strength,
      |  CASE WHEN vtr > 0 THEN
      |    CAST(CAST(GREATEST(0.0, 1.0 - vrr / vtr) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS trend_strength
      |FROM vr""".stripMargin

  // q439: split-half reliability with Spearman–Brown
  // (Stats.splitHalfReliability) — correlate each user's even/odd
  // event-id spend halves and project full-length reliability; the
  // quick "is per-user spend stable enough to rank by" beside q420's
  // alpha. Oracle replays the conditional half sums and the cleared
  // Pearson chain.
  def q439SplitHalf(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
      .select(col("user_id"), (col("event_id") % 2L).as("half"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.pipeline.Stats.splitHalfReliability(evt, "user_id", "half",
      "cents")
  }

  val q439Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id % 2 AS h,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |per AS (SELECT user_id,
      |    CAST(SUM(CASE WHEN h = 0 THEN cents ELSE 0 END) AS BIGINT)
      |      AS a,
      |    CAST(SUM(CASE WHEN h = 1 THEN cents ELSE 0 END) AS BIGINT)
      |      AS b
      |  FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
      |    SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
      |    SUM(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
      |    SUM(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS sbb,
      |    SUM(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS sab
      |  FROM per),
      |rr AS (SELECT n_units,
      |    CASE WHEN CAST(CAST(n_units AS HUGEINT) * saa - sa * sa
      |        AS DOUBLE) > 0 AND
      |        CAST(CAST(n_units AS HUGEINT) * sbb - sb * sb
      |        AS DOUBLE) > 0 THEN
      |      CAST(CAST(
      |        CAST(CAST(n_units AS HUGEINT) * sab - sa * sb AS DOUBLE)
      |        / sqrt(CAST(CAST(n_units AS HUGEINT) * saa - sa * sa
      |            AS DOUBLE) *
      |          CAST(CAST(n_units AS HUGEINT) * sbb - sb * sb
      |            AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) END
      |      AS half_r
      |  FROM ag)
      |SELECT n_units, half_r,
      |  CASE WHEN half_r IS NOT NULL AND half_r > -1.0 THEN
      |    CAST(CAST(2.0 * half_r / (1.0 + half_r) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS spearman_brown
      |FROM rr""".stripMargin

  // q430: two-sample energy distance (Stats.energyDistance) between
  // the user-parity arms on spend cents — the every-moment-sensitive
  // drift metric beside KS q307 / CvM q387 / W1 q335, computed EXACT
  // in 1-D via gap-weighted crossing counts (no pair join). Oracle
  // replays the sorted-gap identity and the d6 means.
  def q430EnergyDistance(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select((col("user_id") % 2L).cast("int").as("arm"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.pipeline.Stats.energyDistance(e, "arm", "cents")
  }

  val q430Sql: String =
    """WITH b AS (
      |  SELECT CAST(user_id % 2 AS INT) AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |bv AS (SELECT v,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c1
      |  FROM b GROUP BY 1),
      |cm AS (SELECT v,
      |    CAST(SUM(c0) OVER wo AS BIGINT) AS a0,
      |    CAST(SUM(c1) OVER wo AS BIGINT) AS a1,
      |    CAST(SUM(c0) OVER () AS BIGINT) AS n0,
      |    CAST(SUM(c1) OVER () AS BIGINT) AS n1,
      |    LEAD(v) OVER (ORDER BY v) - v AS gap
      |  FROM bv WINDOW wo AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |ag AS (SELECT
      |    SUM(CAST(gap AS HUGEINT) * (CAST(a0 AS HUGEINT) *
      |      CAST(n1 - a1 AS HUGEINT) + CAST(a1 AS HUGEINT) *
      |      CAST(n0 - a0 AS HUGEINT))) AS sab,
      |    SUM(CAST(gap AS HUGEINT) * (CAST(a0 AS HUGEINT) *
      |      CAST(n0 - a0 AS HUGEINT) + CAST(a0 AS HUGEINT) *
      |      CAST(n0 - a0 AS HUGEINT))) AS saa2,
      |    SUM(CAST(gap AS HUGEINT) * (CAST(a1 AS HUGEINT) *
      |      CAST(n1 - a1 AS HUGEINT) + CAST(a1 AS HUGEINT) *
      |      CAST(n1 - a1 AS HUGEINT))) AS sbb2,
      |    MAX(n0) AS n_a, MAX(n1) AS n_b
      |  FROM cm WHERE gap IS NOT NULL),
      |st AS (SELECT n_a, n_b,
      |    CAST(CAST(CAST(COALESCE(sab, 0) AS DOUBLE) /
      |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS e_cross,
      |    CAST(CAST(CAST(COALESCE(saa2, 0) AS DOUBLE) /
      |      (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS e_within_a,
      |    CAST(CAST(CAST(COALESCE(sbb2, 0) AS DOUBLE) /
      |      (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS e_within_b
      |  FROM ag)
      |SELECT n_a, n_b, e_cross, e_within_a, e_within_b,
      |  CAST(CAST(GREATEST(0.0,
      |    2.0 * e_cross - e_within_a - e_within_b) AS DECIMAL(28,6))
      |    AS DOUBLE) AS energy_dist
      |FROM st""".stripMargin

  // q431: Poisson regression (Stats.poissonRegression) of daily
  // volume on the day index, per event type — "is this stream
  // growing exponentially, and at what daily rate ratio?"; the count
  // GLM beside q389's OLS, fit by the q392/q393 in-plan Newton
  // discipline. Oracle = the same warm-started rounds as generated
  // chained CTEs.
  def q431PoissonReg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .select(col("event_type"),
        expr("ts_us div 86400000000").as("day"))
    val mn = e.agg(min(col("day")).as("_m"))
    val daily = e.crossJoin(broadcast(mn))
      .groupBy(col("event_type"), (col("day") - col("_m")).as("x"))
      .agg(count(lit(1)).as("y"))
    graft.pipeline.Stats.poissonRegression(daily, "event_type", "x",
      "y", steps = 6)
  }

  val q431Sql: String = {
    def d6(x: String) = s"CAST(CAST($x AS DECIMAL(28,6)) AS DOUBLE)"
    def d28(x: String) = s"CAST(${d6(x)} AS DECIMAL(28,6))"
    val lam = "exp(a + b * CAST(x AS DOUBLE))"
    val steps = (1 to 6).map { k =>
      s"""g$k AS (SELECT bb.k,
         |    SUM(${d28(s"CAST(y AS DOUBLE) - $lam")}) AS ua,
         |    SUM(${d28(s"CAST(x AS DOUBLE) * (CAST(y AS DOUBLE) - " +
              s"$lam)")}) AS ub,
         |    SUM(${d28(lam)}) AS i00,
         |    SUM(${d28(s"CAST(x AS DOUBLE) * $lam")}) AS i01,
         |    SUM(${d28(s"CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * " +
              s"$lam")}) AS i11,
         |    MAX(a) AS a0, MAX(b) AS b0, MAX(clxx) AS clxx
         |  FROM bb JOIN p${k - 1} p ON p.k = bb.k GROUP BY 1),
         |p$k AS (SELECT k, clxx,
         |  CASE WHEN clxx > 0 AND
         |      CAST(i00 AS DOUBLE) * CAST(i11 AS DOUBLE) -
         |      CAST(i01 AS DOUBLE) * CAST(i01 AS DOUBLE) > 0 THEN
         |    ${d6("a0 + (CAST(ua AS DOUBLE) * CAST(i11 AS DOUBLE) - " +
              "CAST(ub AS DOUBLE) * CAST(i01 AS DOUBLE)) / " +
              "(CAST(i00 AS DOUBLE) * CAST(i11 AS DOUBLE) - " +
              "CAST(i01 AS DOUBLE) * CAST(i01 AS DOUBLE))")} END AS a,
         |  CASE WHEN clxx > 0 AND
         |      CAST(i00 AS DOUBLE) * CAST(i11 AS DOUBLE) -
         |      CAST(i01 AS DOUBLE) * CAST(i01 AS DOUBLE) > 0 THEN
         |    ${d6("b0 + (CAST(ub AS DOUBLE) * CAST(i00 AS DOUBLE) - " +
              "CAST(ua AS DOUBLE) * CAST(i01 AS DOUBLE)) / " +
              "(CAST(i00 AS DOUBLE) * CAST(i11 AS DOUBLE) - " +
              "CAST(i01 AS DOUBLE) * CAST(i01 AS DOUBLE))")} END AS b
         |  FROM g$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
       |  FROM events),
       |mn AS (SELECT MIN(day) AS m FROM e),
       |bb AS (SELECT event_type AS k, day - m AS x,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM e CROSS JOIN mn GROUP BY 1, 2),
       |nn AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(CAST(COUNT(*) AS HUGEINT) *
       |      SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) -
       |      SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT))
       |      AS DOUBLE) AS clxx
       |  FROM bb GROUP BY 1),
       |p0 AS (SELECT k, clxx,
       |    ${d6("ln(CAST(sy + 1 AS DOUBLE) / CAST(n AS DOUBLE))")}
       |      AS a, 0.0 AS b
       |  FROM nn),
       |$steps
       |SELECT nn.k AS event_type, nn.n AS n_obs,
       |  p.a AS intercept, p.b AS slope,
       |  CASE WHEN p.b IS NOT NULL THEN ${d6("exp(p.b)")} END
       |    AS rate_ratio
       |FROM nn LEFT JOIN p6 p ON p.k = nn.k""".stripMargin
  }

  // q432: post-stratified mean (Stats.postStratifiedMean) of document
  // length under a KNOWN population language mix — the estimation
  // half of survey sampling (q404's Neyman designs, this corrects);
  // the crawl's lang mix rarely matches the target population's.
  // Oracle replays the weight join and the per-term-d6 weighted sums.
  def q432PostStratified(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.postStratifiedMean(
      t(s, dir, "documents"), "lang", "n_chars",
      Map("en" -> 0.5, "de" -> 0.125, "fr" -> 0.125, "es" -> 0.125,
        "zh" -> 0.125))

  val q432Sql: String =
    """WITH per AS (
      |  SELECT lang AS h, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(n_chars AS HUGEINT)) AS s1,
      |    SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
      |      AS s2
      |  FROM documents GROUP BY 1),
      |ws AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.125),
      |    ('fr', 0.125), ('es', 0.125), ('zh', 0.125)) AS t(h, w)),
      |j AS (SELECT per.h, n, s1, s2, w
      |      FROM per JOIN ws ON ws.h = per.h),
      |st AS (SELECT h, n, w,
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS m,
      |    CASE WHEN n >= 2 THEN
      |      CAST(CAST(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1
      |        AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS v
      |  FROM j),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
      |    CAST(SUM(n) AS BIGINT) AS n_sample,
      |    SUM(CAST(floor(w * m * 1000000.0 + 0.5) / 1000000.0
      |      AS DECIMAL(28,6))) AS wm,
      |    SUM(CAST(floor(w * w * v / CAST(n AS DOUBLE) * 1000000.0
      |      + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS wv,
      |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS degen
      |  FROM st)
      |SELECT k_strata, n_sample,
      |  CAST(CAST(CAST(wm AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS ps_mean,
      |  CASE WHEN degen = 0 THEN
      |    CAST(CAST(sqrt(CAST(wv AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS ps_se
      |FROM roll""".stripMargin

  // q433: two-proportion sample-size planning table
  // (Stats.sampleSizePlanner) — per-arm n to detect each relative
  // MDE on the above-median-order rate at alpha 5% / power 80%; the
  // pre-launch staple beside q251's readout and q303's SRM. Oracle
  // replays the baseline aggregate and the fixed z-literal chain.
  def q433SampleSize(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select((col("o_totalprice") >= 250000.0).cast("int")
        .as("outcome"))
    graft.pipeline.Stats.sampleSizePlanner(o, "outcome",
      Seq(0.01, 0.02, 0.05, 0.10, -0.05))
  }

  val q433Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END
      |    AS y FROM orders),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baseline,
      |    CAST(SUM(y) AS BIGINT) AS pos FROM b),
      |p0 AS (SELECT n_baseline,
      |    CAST(CAST(CAST(pos AS DOUBLE) / CAST(n_baseline AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p0
      |  FROM ag),
      |grid AS (SELECT unnest([-0.05, 0.01, 0.02, 0.05, 0.10])
      |    AS relative_mde),
      |rows_ AS (SELECT n_baseline, p0, relative_mde,
      |    CAST(CAST(p0 * (1.0 + relative_mde) AS DECIMAL(28,6))
      |      AS DOUBLE) AS p1
      |  FROM p0 CROSS JOIN grid),
      |st AS (SELECT *,
      |    CAST(CAST((p0 + p1) / 2.0 AS DECIMAL(28,6)) AS DOUBLE)
      |      AS pbar
      |  FROM rows_)
      |SELECT n_baseline, p0, relative_mde, p1,
      |  CASE WHEN p1 > 0 AND p1 < 1 AND p0 > 0 AND p0 < 1 THEN
      |    CAST(ceil(CAST(CAST(
      |      (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar)) +
      |       0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))) *
      |      (1.959964 * sqrt(2.0 * pbar * (1.0 - pbar)) +
      |       0.841621 * sqrt(p0 * (1.0 - p0) + p1 * (1.0 - p1))) /
      |      ((p1 - p0) * (p1 - p0)) AS DECIMAL(28,6)) AS DOUBLE))
      |      AS BIGINT) END AS n_per_arm
      |FROM st""".stripMargin

  // q434: Kuiper two-sample test (Stats.kuiperTest) of the
  // hour-of-day mix between the user-parity arms — the cyclic-domain
  // variant of q307's KS (V = D⁺ + D⁻ weights tails and middle
  // equally; hour 23 vs 0 is a 1-hour gap, not 23). Oracle replays
  // the cleared cumulative extrema and the Stephens series.
  def q434Kuiper(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsUs(s, dir)
      .select((col("user_id") % 2L).cast("int").as("arm"),
        (expr("ts_us div 3600000000") % 24L).as("hour"))
    graft.pipeline.Stats.kuiperTest(e, "arm", "hour")
  }

  val q434Sql: String =
    """WITH b AS (
      |  SELECT CAST(user_id % 2 AS INT) AS arm,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS v
      |  FROM events),
      |bv AS (SELECT v,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c1
      |  FROM b GROUP BY 1),
      |cm AS (SELECT
      |    CAST(SUM(c0) OVER wo AS BIGINT) AS a0,
      |    CAST(SUM(c1) OVER wo AS BIGINT) AS a1
      |  FROM bv WINDOW wo AS (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(SUM(c1) AS BIGINT) AS n1 FROM bv),
      |ag AS (SELECT GREATEST(MAX(a0 * n1 - a1 * n0), 0) AS dplus,
      |    GREATEST(MAX(-(a0 * n1 - a1 * n0)), 0) AS dminus,
      |    MAX(n0) AS n_a, MAX(n1) AS n_b
      |  FROM cm CROSS JOIN tot),
      |st AS (SELECT n_a, n_b, dplus, dminus,
      |    CAST(CAST(CAST(dplus + dminus AS DOUBLE) /
      |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS v_stat
      |  FROM ag),
      |lm AS (SELECT *,
      |    CAST(CAST((sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
      |      CAST(n_a + n_b AS DOUBLE)) + 0.155 +
      |      0.24 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
      |      CAST(n_a + n_b AS DOUBLE))) * v_stat AS DECIMAL(28,6))
      |      AS DOUBLE) AS lambda
      |  FROM st),
      |sr AS (SELECT *, CAST(SER AS DOUBLE) AS series FROM lm)
      |SELECT n_a, n_b, dplus AS d_plus_numerator,
      |  dminus AS d_minus_numerator, v_stat, lambda,
      |  CASE WHEN lambda < 0.4 THEN 1.0
      |    ELSE CAST(CAST(LEAST(1.0, GREATEST(0.0, 2.0 * series))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |FROM sr""".stripMargin
      .replace("SER", (1 to 20).map(k =>
        s"CAST((4.0 * ${k * k} * lambda * lambda - 1.0) * " +
          s"exp(-2.0 * ${k * k} * lambda * lambda) AS DECIMAL(28,6))")
        .mkString("(", " + ", ")"))

  // q425: quality-filter threshold sweep (Sampling.thresholdSweep) —
  // the docs/tokens survival curve over a length-score grid; the
  // "where do we set the cut" planning table computed in ONE corpus
  // pass. Oracle replays the conditional sums per grid point.
  def q425ThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("n_chars"),
      size(filter(split(col("text"), " "), x => length(x) > 0))
        .cast("long").as("n_toks"))
    graft.pipeline.Sampling.thresholdSweep(d, "n_chars", "n_toks",
      Seq(0L, 200L, 400L, 600L, 800L, 1000L))
  }

  val q425Sql: String =
    """WITH d AS (
      |  SELECT n_chars AS sc,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
      |      AS BIGINT) AS w
      |  FROM documents),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(w) AS BIGINT) AS wt FROM d),
      |grid AS (SELECT unnest([0, 200, 400, 600, 800, 1000])
      |    AS threshold),
      |sw AS (SELECT threshold,
      |    CAST(SUM(CASE WHEN sc >= threshold THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_kept,
      |    CAST(COALESCE(SUM(CASE WHEN sc >= threshold THEN w
      |      ELSE 0 END), 0) AS BIGINT) AS w_kept
      |  FROM grid CROSS JOIN d GROUP BY 1)
      |SELECT CAST(threshold AS BIGINT) AS threshold, n_kept, w_kept,
      |  CAST(CAST(CAST(n_kept AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS doc_frac,
      |  CASE WHEN wt > 0 THEN
      |    CAST(CAST(CAST(w_kept AS DOUBLE) / CAST(wt AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS weight_frac
      |FROM sw CROSS JOIN tot""".stripMargin

  // q427: binary-classifier confusion panel (Stats.confusionPanel)
  // for the "big value predicts purchase" rule — accuracy, balanced
  // accuracy, P/R/F1 and the imbalance-honest MCC in one row. Oracle
  // replays the cells and every d6 stage.
  def q427ConfusionPanel(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select((col("event_type") === "purchase").cast("int")
        .as("label"),
        (col("value") >= 30.0).cast("int").as("pred"))
    graft.pipeline.Stats.confusionPanel(e, "label", "pred")
  }

  val q427Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
      |      AS y,
      |    CASE WHEN value >= 30.0 THEN 1 ELSE 0 END AS p
      |  FROM events),
      |ag AS (SELECT CAST(SUM(y * p) AS BIGINT) AS tp,
      |    CAST(SUM((1 - y) * p) AS BIGINT) AS fp,
      |    CAST(SUM(y * (1 - p)) AS BIGINT) AS fn,
      |    CAST(SUM((1 - y) * (1 - p)) AS BIGINT) AS tn FROM b),
      |st AS (SELECT tp, fp, fn, tn,
      |    CAST(CAST(CAST(tp + tn AS DOUBLE) /
      |      CAST(tp + fp + fn + tn AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS accuracy,
      |    CASE WHEN tp + fn > 0 THEN
      |      CAST(CAST(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS recall,
      |    CASE WHEN tn + fp > 0 THEN
      |      CAST(CAST(CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS specificity,
      |    CASE WHEN tp + fp > 0 THEN
      |      CAST(CAST(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS precision,
      |    CASE WHEN CAST(CAST(tp + fp AS HUGEINT) *
      |        CAST(tp + fn AS HUGEINT) * CAST(tn + fp AS HUGEINT) *
      |        CAST(tn + fn AS HUGEINT) AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(CAST(tp AS HUGEINT) * CAST(tn AS HUGEINT)
      |          - CAST(fp AS HUGEINT) * CAST(fn AS HUGEINT)
      |          AS DOUBLE) /
      |        sqrt(CAST(CAST(tp + fp AS HUGEINT) *
      |          CAST(tp + fn AS HUGEINT) * CAST(tn + fp AS HUGEINT) *
      |          CAST(tn + fn AS HUGEINT) AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS mcc
      |  FROM ag)
      |SELECT tp, fp, fn, tn, accuracy, recall, specificity,
      |  precision, mcc,
      |  CASE WHEN recall IS NOT NULL AND specificity IS NOT NULL THEN
      |    CAST(CAST((recall + specificity) / 2.0 AS DECIMAL(28,6))
      |      AS DOUBLE) END AS balanced_accuracy,
      |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
      |      AND precision + recall > 0 THEN
      |    CAST(CAST(2.0 * precision * recall / (precision + recall)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS f1
      |FROM st""".stripMargin

  // q428: Page's ordered trend test (Stats.pageTrend) — do the three
  // event-id thirds of per-user spend trend in order? (They
  // shouldn't: the thirds are an arbitrary split, so this is an
  // A/A-style null read beside q355's Friedman.) Oracle replays the
  // zero-filled blocks, the doubled midranks and the exact L/E/Var.
  def q428PageTrend(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
      .select(col("user_id"), (col("event_id") % 3L).as("third"),
        round(col("value") * 100).cast("long").as("cents"))
    val cells = evt.groupBy(col("user_id"), col("third"))
      .agg(sum(col("cents")).as("x"))
    val grid = cells.select(col("user_id")).distinct()
      .crossJoin(broadcast(cells.select(col("third")).distinct()))
      .join(cells, Seq("user_id", "third"), "left")
      .select(col("user_id"), col("third"),
        coalesce(col("x"), lit(0L)).as("x"))
    graft.pipeline.Stats.pageTrend(grid, "user_id", "third", "x")
  }

  val q428Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id % 3 AS third,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |cells AS (SELECT user_id AS i, third AS j,
      |    CAST(SUM(cents) AS BIGINT) AS x
      |  FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT uu.i, tt.j, COALESCE(cells.x, 0) AS x
      |  FROM (SELECT DISTINCT i FROM cells) uu
      |  CROSS JOIN (SELECT DISTINCT j FROM cells) tt
      |  LEFT JOIN cells ON cells.i = uu.i AND cells.j = tt.j),
      |r2 AS (
      |  SELECT a.i, a.j,
      |    2 * SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END) +
      |    SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) + 1 AS r2
      |  FROM grid a JOIN grid b ON a.i = b.i
      |  GROUP BY 1, 2),
      |bysys AS (SELECT j, CAST(SUM(r2) AS BIGINT) AS rs2
      |          FROM r2 GROUP BY 1),
      |widx AS (SELECT j, rs2,
      |    CAST(ROW_NUMBER() OVER (ORDER BY j) AS BIGINT) AS w
      |  FROM bysys),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_systems,
      |    SUM(CAST(w AS HUGEINT) * CAST(rs2 AS HUGEINT)) AS l2
      |  FROM widx),
      |it AS (SELECT CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items
      |       FROM grid),
      |fin AS (SELECT n_items, k_systems,
      |    CAST(l2 AS DOUBLE) AS l2d,
      |    CAST(n_items AS DOUBLE) * CAST(k_systems AS DOUBLE) *
      |      (CAST(k_systems AS DOUBLE) + 1.0) *
      |      (CAST(k_systems AS DOUBLE) + 1.0) / 2.0 AS e2,
      |    CAST(n_items AS DOUBLE) * CAST(k_systems AS DOUBLE) *
      |      CAST(k_systems AS DOUBLE) *
      |      (CAST(k_systems AS DOUBLE) + 1.0) *
      |      (CAST(k_systems AS DOUBLE) * CAST(k_systems AS DOUBLE)
      |        - 1.0) / 36.0 AS var2
      |  FROM roll CROSS JOIN it)
      |SELECT n_items, k_systems, l2d AS l2_doubled,
      |  CASE WHEN k_systems >= 3 AND var2 > 0 THEN
      |    CAST(CAST((l2d - e2) / sqrt(var2) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS z,
      |  CASE WHEN k_systems >= 3 AND var2 > 0 THEN
      |    CAST(abs(CAST(CAST((l2d - e2) / sqrt(var2)
      |      AS DECIMAL(28,6)) AS DOUBLE)) >= 1.959964 AS INT)
      |    ELSE 0 END AS significant
      |FROM fin""".stripMargin

  // q429: Goodman–Kruskal gamma + Somers' D (Stats.ordinalAssociation)
  // of the 50k-value band against the priority order — the directed
  // ordinal pair beside q309's symmetric tau-b (Somers' D is the
  // scorecard Gini convention). Oracle replays the guarded cell
  // pairs and both d6 ratios.
  def q429OrdinalAssoc(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast("long")
        .as("dose"),
        floor(col("o_totalprice") / 50000.0).cast("long").as("band"))
    graft.pipeline.Stats.ordinalAssociation(o, "dose", "band")
  }

  val q429Sql: String =
    """WITH b AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
      |    CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS y
      |  FROM orders),
      |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM b GROUP BY 1, 2),
      |pr AS (
      |  SELECT
      |    COALESCE(SUM(CASE WHEN a.x < c.x AND a.y < c.y THEN
      |      CAST(a.n AS HUGEINT) * CAST(c.n AS HUGEINT) END), 0)
      |      AS cc,
      |    COALESCE(SUM(CASE WHEN a.x < c.x AND a.y > c.y THEN
      |      CAST(a.n AS HUGEINT) * CAST(c.n AS HUGEINT) END), 0)
      |      AS dd,
      |    COALESCE(SUM(CASE WHEN a.x < c.x AND a.y = c.y THEN
      |      CAST(a.n AS HUGEINT) * CAST(c.n AS HUGEINT) END), 0)
      |      AS ty
      |  FROM cells a JOIN cells c
      |    ON a.x < c.x OR (a.x = c.x AND a.y < c.y))
      |SELECT CAST(cc AS BIGINT) AS concordant,
      |  CAST(dd AS BIGINT) AS discordant,
      |  CAST(ty AS BIGINT) AS ties_y_only,
      |  CASE WHEN CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE) > 0 THEN
      |    CAST(CAST((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
      |      (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS gamma,
      |  CASE WHEN CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE) +
      |      CAST(ty AS DOUBLE) > 0 THEN
      |    CAST(CAST((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) /
      |      (CAST(cc AS DOUBLE) + CAST(dd AS DOUBLE) +
      |       CAST(ty AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS somers_d
      |FROM pr""".stripMargin

  // q420: Cronbach's alpha (Stats.cronbachAlpha) of the five per-user
  // event-type activity counts — do the activity channels move
  // together enough to average into one engagement score? Oracle
  // replays the zero-filled grid and both cleared-variance chains.
  def q420Cronbach(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), lit(1L).as("one"))
    graft.pipeline.Stats.cronbachAlpha(evt, "user_id", "event_type",
      "one")
  }

  val q420Sql: String =
    """WITH cells AS (
      |  SELECT user_id AS u, event_type AS i,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT uu.u, ii.i, COALESCE(cells.x, 0) AS x
      |  FROM (SELECT DISTINCT u FROM cells) uu
      |  CROSS JOIN (SELECT DISTINCT i FROM cells) ii
      |  LEFT JOIN cells ON cells.u = uu.u AND cells.i = ii.i),
      |iv AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS s1,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
      |  FROM grid GROUP BY 1),
      |ivv AS (SELECT i,
      |    CAST(CAST(CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE)
      |      / CAST(n * (n - 1) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS v
      |  FROM iv),
      |ivr AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_items,
      |    SUM(CAST(v AS DECIMAL(28,6))) AS sumvi FROM ivv),
      |tt AS (SELECT u, CAST(SUM(x) AS BIGINT) AS tot
      |       FROM grid GROUP BY 1),
      |tv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
      |    SUM(CAST(tot AS HUGEINT)) AS s1,
      |    SUM(CAST(tot AS HUGEINT) * CAST(tot AS HUGEINT)) AS s2
      |  FROM tt),
      |tvv AS (SELECT n_units,
      |    CAST(CAST(CAST(CAST(n_units AS HUGEINT) * s2 - s1 * s1
      |      AS DOUBLE) / CAST(n_units * (n_units - 1) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS vt
      |  FROM tv)
      |SELECT k_items, n_units,
      |  CAST(CAST(CAST(sumvi AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS sum_item_var,
      |  vt AS total_var,
      |  CASE WHEN vt > 0 THEN
      |    CAST(CAST(CAST(k_items AS DOUBLE) /
      |      CAST(k_items - 1 AS DOUBLE) *
      |      (1.0 - CAST(sumvi AS DOUBLE) / vt) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS alpha
      |FROM ivr CROSS JOIN tvv""".stripMargin

  // q421: partial correlation (Stats.partialCorrelation) of daily
  // volume and daily spend given daily distinct users — is the
  // volume↔spend correlation anything more than both tracking user
  // count? Oracle replays the one-pass cleared sums and the staged
  // d6 r chain.
  def q421PartialCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"),
        col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("volume"), sum(col("cents")).as("spend"),
        countDistinct(col("user_id")).as("users"))
    graft.pipeline.Stats.partialCorrelation(daily, "volume", "spend",
      "users")
  }

  val q421Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |d AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(cents) AS BIGINT) AS y,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS z
      |  FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(z AS HUGEINT)) AS sz,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
      |    SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)) AS sxz,
      |    SUM(CAST(y AS HUGEINT) * CAST(z AS HUGEINT)) AS syz
      |  FROM d),
      |cl AS (SELECT n,
      |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS clxx,
      |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS clyy,
      |    CAST(CAST(n AS HUGEINT) * szz - sz * sz AS DOUBLE) AS clzz,
      |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS clxy,
      |    CAST(CAST(n AS HUGEINT) * sxz - sx * sz AS DOUBLE) AS clxz,
      |    CAST(CAST(n AS HUGEINT) * syz - sy * sz AS DOUBLE) AS clyz
      |  FROM ag),
      |rr AS (SELECT n,
      |    CASE WHEN clxx > 0 AND clyy > 0 THEN
      |      CAST(CAST(clxy / sqrt(clxx * clyy) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS r_xy,
      |    CASE WHEN clxx > 0 AND clzz > 0 THEN
      |      CAST(CAST(clxz / sqrt(clxx * clzz) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS r_xz,
      |    CASE WHEN clyy > 0 AND clzz > 0 THEN
      |      CAST(CAST(clyz / sqrt(clyy * clzz) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS r_yz
      |  FROM cl)
      |SELECT n, r_xy, r_xz, r_yz,
      |  CASE WHEN r_xy IS NOT NULL AND r_xz IS NOT NULL
      |      AND r_yz IS NOT NULL
      |      AND (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0 THEN
      |    CAST(CAST((r_xy - r_xz * r_yz) /
      |      sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS r_partial
      |FROM rr""".stripMargin

  // q422: Jonckheere–Terpstra ordered trend (Stats.jonckheereTerpstra)
  // of the 50k-value band against the priority dose — the continuous-
  // outcome partner of q412's Cochran–Armitage, tie-corrected
  // Hollander–Wolfe variance. Oracle replays the doubled-unit cell
  // pairs and all three variance terms.
  def q422Jonckheere(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast("long")
        .as("dose"),
        floor(col("o_totalprice") / 50000.0).cast("long").as("band"))
    graft.pipeline.Stats.jonckheereTerpstra(o, "dose", "band")
  }

  val q422Sql: String =
    """WITH b AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS d,
      |    CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS v
      |  FROM orders),
      |cells AS (SELECT d, v, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM b GROUP BY 1, 2),
      |st AS (SELECT COALESCE(SUM(
      |    ci.n * cj.n * (CASE WHEN ci.v < cj.v THEN 2 ELSE 1 END)),
      |    0) AS st
      |  FROM cells ci JOIN cells cj
      |    ON ci.d < cj.d AND ci.v <= cj.v),
      |pd AS (SELECT d, CAST(SUM(n) AS BIGINT) AS nd
      |       FROM cells GROUP BY 1),
      |ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_doses,
      |    CAST(SUM(nd) AS BIGINT) AS n_total,
      |    SUM(CAST(nd AS HUGEINT) * CAST(nd AS HUGEINT)) AS sn2,
      |    SUM(CAST(nd AS HUGEINT) * (CAST(nd AS HUGEINT) - 1) *
      |      (2 * CAST(nd AS HUGEINT) + 5)) AS a2,
      |    SUM(CAST(nd AS HUGEINT) * (CAST(nd AS HUGEINT) - 1)) AS c1,
      |    SUM(CAST(nd AS HUGEINT) * (CAST(nd AS HUGEINT) - 1) *
      |      (CAST(nd AS HUGEINT) - 2)) AS b1
      |  FROM pd),
      |tsp AS (SELECT v, CAST(SUM(n) AS BIGINT) AS tv
      |        FROM cells GROUP BY 1),
      |ts AS (SELECT
      |    SUM(CAST(tv AS HUGEINT) * (CAST(tv AS HUGEINT) - 1) *
      |      (2 * CAST(tv AS HUGEINT) + 5)) AS a3,
      |    SUM(CAST(tv AS HUGEINT) * (CAST(tv AS HUGEINT) - 1)) AS c2,
      |    SUM(CAST(tv AS HUGEINT) * (CAST(tv AS HUGEINT) - 1) *
      |      (CAST(tv AS HUGEINT) - 2)) AS b2
      |  FROM tsp),
      |fin AS (SELECT k_doses, n_total, st,
      |    CAST(st AS DOUBLE) AS j2,
      |    CAST(CAST(n_total AS HUGEINT) * CAST(n_total AS HUGEINT)
      |      - sn2 AS DOUBLE) AS e2,
      |    CAST(CAST(n_total AS HUGEINT) *
      |        (CAST(n_total AS HUGEINT) - 1) *
      |        (2 * CAST(n_total AS HUGEINT) + 5) - a2 - a3 AS DOUBLE)
      |      / 72.0 +
      |    CAST(b1 AS DOUBLE) * CAST(b2 AS DOUBLE) /
      |      (36.0 * CAST(n_total AS DOUBLE) *
      |       (CAST(n_total AS DOUBLE) - 1.0) *
      |       (CAST(n_total AS DOUBLE) - 2.0)) +
      |    CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE) /
      |      (8.0 * CAST(n_total AS DOUBLE) *
      |       (CAST(n_total AS DOUBLE) - 1.0)) AS varj
      |  FROM st CROSS JOIN ds CROSS JOIN ts)
      |SELECT k_doses, n_total, CAST(st AS BIGINT) AS j2_doubled,
      |  CASE WHEN k_doses >= 2 AND varj > 0 THEN
      |    CAST(CAST((j2 / 2.0 - e2 / 4.0) / sqrt(varj)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z,
      |  CASE WHEN k_doses >= 2 AND varj > 0 THEN
      |    CAST(abs(CAST(CAST((j2 / 2.0 - e2 / 4.0) / sqrt(varj)
      |      AS DECIMAL(28,6)) AS DOUBLE)) >= 1.959964 AS INT)
      |    ELSE 0 END AS significant
      |FROM fin""".stripMargin

  // q423: Harrell's C-index (Stats.harrellC) — does per-user activity
  // breadth (distinct active days) predict churn ORDER on the q302
  // frame? The discrimination readout for q393's Cox model family.
  // Oracle replays the (time,event,score) cells and the doubled-unit
  // comparable-pair join.
  def q423HarrellC(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select(col("user_id"),
      expr("ts_us div 86400000000").as("day"))
    val spans = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("_f"), max(col("day")).as("_l"),
        countDistinct(col("day")).as("score"))
    val mx = e.agg(max(col("day")).as("_mx"))
    val users = spans.crossJoin(broadcast(mx))
      .select((col("_l") - col("_f")).as("t"),
        (col("_mx") - col("_l") > 7L).cast("int").as("d"),
        col("score"))
    graft.pipeline.Stats.harrellC(users, "t", "d", "score")
  }

  val q423Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |u AS (SELECT user_id, MIN(day) AS f, MAX(day) AS l,
      |    CAST(COUNT(DISTINCT day) AS BIGINT) AS score
      |  FROM e GROUP BY 1),
      |mx AS (SELECT MAX(day) AS mx FROM e),
      |d AS (SELECT l - f AS t,
      |    CASE WHEN mx - l > 7 THEN 1 ELSE 0 END AS ev, score
      |  FROM u CROSS JOIN mx),
      |cells AS (SELECT t, ev, score, CAST(COUNT(*) AS BIGINT) AS n
      |          FROM d GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT a.n * b.n AS np,
      |    CASE WHEN a.score > b.score THEN 2
      |         WHEN a.score = b.score THEN 1 ELSE 0 END AS w
      |  FROM cells a JOIN cells b ON a.ev = 1 AND a.t < b.t),
      |ag AS (SELECT COALESCE(CAST(SUM(np) AS BIGINT), 0)
      |    AS n_comparable,
      |  COALESCE(CAST(SUM(np * w) AS BIGINT), 0) AS d2
      |  FROM pairs)
      |SELECT n_comparable,
      |  CASE WHEN n_comparable > 0 THEN
      |    CAST(CAST(CAST(d2 AS DOUBLE) /
      |      (2.0 * CAST(n_comparable AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS c_index
      |FROM ag""".stripMargin

  // q424: ICC(1,1) (Stats.icc) — split each user's spend into three
  // event-id thirds and ask what fraction of variance is BETWEEN
  // users vs measurement noise; the continuous reliability readout
  // beside q420's alpha. Oracle replays the zero-filled design and
  // the exact ANOVA decomposition.
  def q424Icc(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
      .select(col("user_id"), (col("event_id") % 3L).as("third"),
        round(col("value") * 100).cast("long").as("cents"))
    val cells = evt.groupBy(col("user_id"), col("third"))
      .agg(sum(col("cents")).as("x"))
    val grid = cells.select(col("user_id")).distinct()
      .crossJoin(broadcast(
        cells.select(col("third")).distinct()))
      .join(cells, Seq("user_id", "third"), "left")
      .select(col("user_id"), coalesce(col("x"), lit(0L)).as("x"))
    graft.pipeline.Stats.icc(grid, "user_id", "x")
  }

  val q424Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id % 3 AS third,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |cells AS (SELECT user_id, third, CAST(SUM(cents) AS BIGINT) AS x
      |          FROM e GROUP BY 1, 2),
      |grid AS (
      |  SELECT uu.user_id, COALESCE(cells.x, 0) AS x
      |  FROM (SELECT DISTINCT user_id FROM cells) uu
      |  CROSS JOIN (SELECT DISTINCT third FROM cells) tt
      |  LEFT JOIN cells ON cells.user_id = uu.user_id
      |    AND cells.third = tt.third),
      |per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
      |  FROM grid GROUP BY 1),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
      |    CAST(MAX(k) AS BIGINT) AS k_per_unit,
      |    SUM(s) AS gs, SUM(q) AS gq, SUM(s * s) AS sst
      |  FROM per),
      |ms AS (SELECT n_units, k_per_unit,
      |    CAST(CAST((CAST(sst AS DOUBLE) /
      |        CAST(k_per_unit AS DOUBLE) -
      |      CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE) /
      |        CAST(n_units * k_per_unit AS DOUBLE)) /
      |      CAST(n_units - 1 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS msb,
      |    CAST(CAST((CAST(gq AS DOUBLE) -
      |      CAST(sst AS DOUBLE) / CAST(k_per_unit AS DOUBLE)) /
      |      CAST(n_units * (k_per_unit - 1) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS msw
      |  FROM roll)
      |SELECT n_units, k_per_unit, msb, msw,
      |  CASE WHEN msb + CAST(k_per_unit - 1 AS DOUBLE) * msw > 0 THEN
      |    CAST(CAST((msb - msw) /
      |      (msb + CAST(k_per_unit - 1 AS DOUBLE) * msw)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS icc
      |FROM ms""".stripMargin

  // q410: single best mean-shift changepoint (Stats.changepoint) on
  // the daily event-volume series — WHERE the level broke and the
  // before/after means; q320's CUSUM alarms, this locates. Oracle
  // replays the prefix-sum candidates and the earliest-max tie rule.
  def q410Changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("volume"))
    graft.pipeline.Stats.changepoint(daily, "day", "volume")
  }

  val q410Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT day AS t, CAST(COUNT(*) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |cum AS (SELECT t,
      |    CAST(COUNT(*) OVER wo AS BIGINT) AS k,
      |    SUM(CAST(y AS HUGEINT)) OVER wo AS l1,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER wo AS l2,
      |    CAST(COUNT(*) OVER wa AS BIGINT) AS n,
      |    SUM(CAST(y AS HUGEINT)) OVER wa AS s1,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER wa AS s2
      |  FROM d WINDOW
      |    wo AS (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND UNBOUNDED FOLLOWING)),
      |cands AS (SELECT t, k, l1, n, s1,
      |    CAST(CAST((
      |      (CASE WHEN n > 0 THEN CAST(CAST(n AS HUGEINT) * s2
      |          - s1 * s1 AS DOUBLE) / CAST(n AS DOUBLE)
      |        ELSE 0.0 END) -
      |      (CASE WHEN k > 0 THEN CAST(CAST(k AS HUGEINT) * l2
      |          - l1 * l1 AS DOUBLE) / CAST(k AS DOUBLE)
      |        ELSE 0.0 END) -
      |      (CASE WHEN n - k > 0 THEN
      |          CAST(CAST(n - k AS HUGEINT) * (s2 - l2)
      |            - (s1 - l1) * (s1 - l1) AS DOUBLE) /
      |          CAST(n - k AS DOUBLE)
      |        ELSE 0.0 END)) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS red
      |  FROM cum WHERE k < n),
      |mx AS (SELECT *, MAX(red) OVER () AS m FROM cands),
      |best AS (SELECT n, MIN(t) AS split_at, MAX(m) AS r
      |  FROM mx WHERE red = m GROUP BY n)
      |SELECT b.split_at, c.k AS n_left,
      |  CAST(c.n - c.k AS BIGINT) AS n_right,
      |  CAST(CAST(CAST(c.l1 AS DOUBLE) / CAST(c.k AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_left,
      |  CAST(CAST(CAST(c.s1 - c.l1 AS DOUBLE) /
      |    CAST(c.n - c.k AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS mean_right,
      |  b.r AS sse_reduction_per_n
      |FROM best b JOIN cands c ON c.t = b.split_at""".stripMargin

  // q411: Mantel–Haenszel pooled odds ratio (Stats.mantelHaenszel) of
  // finished status on above-median order value, stratified by
  // priority — the Simpson's-paradox-proof 2×2 beside q369's single
  // table. Oracle replays the per-stratum R/S/P/Q d6 terms and the
  // RBG SE chain.
  def q411MantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority").as("stratum"),
        (col("o_orderstatus") === "F").cast("int").as("arm"),
        (col("o_totalprice") >= 250000.0).cast("int").as("outcome"))
    graft.pipeline.Stats.mantelHaenszel(o, "stratum", "arm", "outcome")
  }

  val q411Sql: String =
    """WITH b AS (
      |  SELECT o_orderpriority AS s,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g,
      |    CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |per AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(g * y) AS BIGINT) AS a,
      |    CAST(SUM(g * (1 - y)) AS BIGINT) AS bb,
      |    CAST(SUM((1 - g) * y) AS BIGINT) AS c,
      |    CAST(SUM((1 - g) * (1 - y)) AS BIGINT) AS dd
      |  FROM b GROUP BY 1),
      |tm AS (SELECT
      |    CAST(CAST(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) /
      |      CAST(n AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS r,
      |    CAST(CAST(CAST(bb AS DOUBLE) * CAST(c AS DOUBLE) /
      |      CAST(n AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS ss,
      |    CAST(CAST(CAST(a + dd AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p,
      |    CAST(CAST(CAST(bb + c AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS q
      |  FROM per),
      |st AS (SELECT CAST(r AS DECIMAL(28,6)) AS r,
      |    CAST(ss AS DECIMAL(28,6)) AS ss,
      |    CAST(CAST(CAST(p * r AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS pr,
      |    CAST(CAST(CAST(p * ss + q * r AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS psqr,
      |    CAST(CAST(CAST(q * ss AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS qs
      |  FROM tm),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
      |    CAST(SUM(r) AS DOUBLE) AS sr, CAST(SUM(ss) AS DOUBLE) AS sss,
      |    CAST(SUM(pr) AS DOUBLE) AS spr,
      |    CAST(SUM(psqr) AS DOUBLE) AS spsqr,
      |    CAST(SUM(qs) AS DOUBLE) AS sqs
      |  FROM st),
      |fin AS (SELECT k_strata,
      |    CASE WHEN sr > 0 AND sss > 0 THEN
      |      CAST(CAST(sr / sss AS DECIMAL(28,6)) AS DOUBLE) END
      |      AS or_mh,
      |    CASE WHEN sr > 0 AND sss > 0 THEN
      |      CAST(CAST(ln(CAST(CAST(sr / sss AS DECIMAL(28,6))
      |        AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) END AS ln_or,
      |    CASE WHEN sr > 0 AND sss > 0 THEN
      |      CAST(CAST(sqrt(spr / (2.0 * sr * sr) +
      |        spsqr / (2.0 * sr * sss) +
      |        sqs / (2.0 * sss * sss)) AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS se
      |  FROM roll),
      |zz AS (SELECT *, CASE WHEN se IS NOT NULL AND se > 0 THEN
      |    CAST(CAST(ln_or / se AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM fin)
      |SELECT k_strata, or_mh, ln_or, se, z,
      |  CASE WHEN z IS NOT NULL THEN CAST(abs(z) >= 1.959964 AS INT)
      |    ELSE 0 END AS significant
      |FROM zz""".stripMargin

  // q412: Cochran–Armitage trend test (Stats.cochranArmitage) — is
  // the above-median-value rate monotone in the priority band (doses
  // 1..5)? The ordered-alternative test a plain k-group chi-square
  // wastes power on. Oracle replays the exact integer U and variance.
  def q412CochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).cast("long")
        .as("dose"),
        (col("o_totalprice") >= 250000.0).cast("int").as("outcome"))
    graft.pipeline.Stats.cochranArmitage(o, "dose", "outcome")
  }

  val q412Sql: String =
    """WITH b AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
      |    CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS y
      |  FROM orders),
      |per AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS r
      |  FROM b GROUP BY 1),
      |roll AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_doses,
      |    CAST(SUM(n) AS BIGINT) AS n_total,
      |    CAST(SUM(r) AS BIGINT) AS n_cases,
      |    SUM(CAST(w AS HUGEINT) * CAST(r AS HUGEINT)) AS swr,
      |    SUM(CAST(w AS HUGEINT) * CAST(n AS HUGEINT)) AS swn,
      |    SUM(CAST(w AS HUGEINT) * CAST(w AS HUGEINT) *
      |      CAST(n AS HUGEINT)) AS swwn
      |  FROM per)
      |SELECT k_doses, n_total, n_cases,
      |  CASE WHEN k_doses >= 2 AND n_cases > 0 AND n_cases < n_total
      |      AND CAST(CAST(n_total AS HUGEINT) * swwn - swn * swn
      |        AS DOUBLE) > 0 THEN
      |    CAST(CAST(
      |      CAST(CAST(n_total AS HUGEINT) * swr -
      |        CAST(n_cases AS HUGEINT) * swn AS DOUBLE) /
      |      sqrt(CAST(n_cases AS DOUBLE) *
      |        CAST(n_total - n_cases AS DOUBLE) *
      |        CAST(CAST(n_total AS HUGEINT) * swwn - swn * swn
      |          AS DOUBLE) / CAST(n_total AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z,
      |  CASE WHEN k_doses >= 2 AND n_cases > 0 AND n_cases < n_total
      |      AND CAST(CAST(n_total AS HUGEINT) * swwn - swn * swn
      |        AS DOUBLE) > 0 THEN
      |    CAST(abs(CAST(CAST(
      |      CAST(CAST(n_total AS HUGEINT) * swr -
      |        CAST(n_cases AS HUGEINT) * swn AS DOUBLE) /
      |      sqrt(CAST(n_cases AS DOUBLE) *
      |        CAST(n_total - n_cases AS DOUBLE) *
      |        CAST(CAST(n_total AS HUGEINT) * swwn - swn * swn
      |          AS DOUBLE) / CAST(n_total AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE)) >= 1.959964 AS INT)
      |    ELSE 0 END AS significant
      |FROM roll""".stripMargin

  // q413: Chapman capture-recapture estimate (Stats.captureRecapture)
  // of the document universe from two overlapping deterministic
  // "crawl" passes — the unseen-DOCUMENT coverage estimate beside
  // q327's unseen-token mass. Oracle replays the counts and the
  // bias-corrected estimator with its Seber band.
  def q413CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select((col("doc_id") % 2L === 0L).cast("int").as("in_a"),
        (col("doc_id") % 3L =!= 0L).cast("int").as("in_b"))
    graft.pipeline.Stats.captureRecapture(d, "in_a", "in_b")
  }

  val q413Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS bb
      |  FROM documents),
      |ag AS (SELECT CAST(SUM(a) AS BIGINT) AS n1,
      |    CAST(SUM(bb) AS BIGINT) AS n2,
      |    CAST(SUM(a * bb) AS BIGINT) AS m FROM b),
      |st AS (SELECT n1, n2, m,
      |    CAST(CAST((CAST(n1 AS DOUBLE) + 1.0) *
      |      (CAST(n2 AS DOUBLE) + 1.0) / (CAST(m AS DOUBLE) + 1.0)
      |      - 1.0 AS DECIMAL(28,6)) AS DOUBLE) AS est,
      |    CAST(CAST((CAST(n1 AS DOUBLE) + 1.0) *
      |      (CAST(n2 AS DOUBLE) + 1.0) *
      |      (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE)) *
      |      (CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE)) /
      |      ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0) *
      |       (CAST(m AS DOUBLE) + 2.0)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS v
      |  FROM ag)
      |SELECT n1, n2, m AS m_overlap, est AS n_estimated,
      |  v AS variance,
      |  CAST(CAST(est - 1.959964 * sqrt(v) AS DECIMAL(28,6))
      |    AS DOUBLE) AS ci_low,
      |  CAST(CAST(est + 1.959964 * sqrt(v) AS DECIMAL(28,6))
      |    AS DOUBLE) AS ci_high
      |FROM st""".stripMargin

  // q414: Newey–West HAC-robust trend inference
  // (Timeseries.neweyWestSlope, Bartlett kernel, 3 lags) on the daily
  // event-volume slope — the autocorrelation-honest SE beside q405's
  // point audit and q374's nonparametric trend. Oracle replays the
  // score series, the lag windows and the kernel-weighted sum.
  def q414NeweyWest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.eventsUs(s, dir)
      .select(expr("ts_us div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("volume"))
    graft.ops.Timeseries.neweyWestSlope(daily, "day", "volume",
      lags = 3)
  }

  val q414Sql: String =
    """WITH e AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT day AS t, CAST(COUNT(*) AS BIGINT) AS y
      |      FROM e GROUP BY 1),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(t AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS sxx,
      |    SUM(CAST(t AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      |  FROM d),
      |cl AS (SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS clxx,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS clxy
      |  FROM ag),
      |j AS (SELECT d.t, d.y, cl.* FROM d CROSS JOIN cl),
      |sc AS (SELECT t, n, clxx, clxy,
      |    CAST(CAST(
      |      (CAST(CAST(n AS HUGEINT) * CAST(t AS HUGEINT) - sx
      |        AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(y AS DOUBLE) -
      |        ((CAST(sy AS DOUBLE) -
      |          (CAST(clxy AS DOUBLE) / CAST(clxx AS DOUBLE)) *
      |          CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) +
      |         (CAST(clxy AS DOUBLE) / CAST(clxx AS DOUBLE)) *
      |          CAST(t AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS v
      |  FROM j),
      |ld AS (SELECT *,
      |    LEAD(v, 1) OVER wo AS v1, LEAD(v, 2) OVER wo AS v2,
      |    LEAD(v, 3) OVER wo AS v3
      |  FROM sc WINDOW wo AS (ORDER BY t)),
      |gm AS (SELECT MAX(n) AS n, MAX(clxx) AS clxx,
      |    MAX(clxy) AS clxy,
      |    SUM(CAST(CAST(CAST(v * v AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS g0,
      |    SUM(CAST(CAST(CAST(v * v1 AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS g1,
      |    SUM(CAST(CAST(CAST(v * v2 AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS g2,
      |    SUM(CAST(CAST(CAST(v * v3 AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS g3
      |  FROM ld),
      |st AS (SELECT n,
      |    CASE WHEN CAST(clxx AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(clxy AS DOUBLE) / CAST(clxx AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS slope,
      |    CASE WHEN CAST(clxx AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(g0 AS DOUBLE) +
      |        2.0 * 0.75 * CAST(g1 AS DOUBLE) +
      |        2.0 * 0.5 * CAST(g2 AS DOUBLE) +
      |        2.0 * 0.25 * CAST(g3 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS s_hac,
      |    CASE WHEN CAST(clxx AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(clxx AS DOUBLE) / CAST(n AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS sxxn
      |  FROM gm),
      |se AS (SELECT n AS n_obs, slope, s_hac,
      |    CASE WHEN sxxn IS NOT NULL AND s_hac > 0 THEN
      |      CAST(CAST(sqrt(s_hac / (sxxn * sxxn)) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS se_hac
      |  FROM st)
      |SELECT n_obs, slope, s_hac, se_hac,
      |  CASE WHEN se_hac IS NOT NULL THEN
      |    CAST(CAST(slope / se_hac AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS t_hac
      |FROM se""".stripMargin

  // q398: Fisher's exact test (Stats.fisherExact) on a guard-bounded
  // order slice — finished status × top priority, the small-sample
  // exact companion to q369's odds ratio / q370's G². Oracle replays
  // the d6-ln-factorial table, the hypergeometric k enumeration and
  // the two-sided d6-pmf inclusion rule.
  def q398FisherExact(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderkey") % 100L === 0L)
      .select((col("o_orderstatus") === "F").cast("int").as("g"),
        col("o_orderpriority").startsWith("1").cast("int").as("y"))
    graft.pipeline.Stats.fisherExact(o, "g", "y")
  }

  val q398Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS g,
      |    CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS y
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(g * y) AS BIGINT) AS a,
      |    CAST(SUM(g) AS BIGINT) AS r1,
      |    CAST(SUM(y) AS BIGINT) AS c1 FROM b),
      |ms AS (SELECT unnest(generate_series(0, n)) AS m FROM ag),
      |lnf AS (SELECT m,
      |    SUM(CASE WHEN m <= 1 THEN CAST(0 AS DECIMAL(28,6))
      |      ELSE CAST(CAST(CAST(ln(CAST(m AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) END)
      |      OVER (ORDER BY m
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS lnfact
      |  FROM ms),
      |ks AS (SELECT n, a, r1, c1, n - r1 AS r2, n - c1 AS c2,
      |    unnest(generate_series(GREATEST(0, c1 - (n - r1)),
      |      LEAST(r1, c1))) AS k
      |  FROM ag),
      |j AS (SELECT ks.n, ks.a, ks.r1, ks.c1, ks.k,
      |    CAST(f1.lnfact + f2.lnfact + f3.lnfact + f4.lnfact
      |      - fn.lnfact - fk.lnfact - fa.lnfact - fb.lnfact
      |      - fc.lnfact AS DOUBLE) AS lp
      |  FROM ks
      |  JOIN lnf f1 ON f1.m = ks.r1
      |  JOIN lnf f2 ON f2.m = ks.r2
      |  JOIN lnf f3 ON f3.m = ks.c1
      |  JOIN lnf f4 ON f4.m = ks.c2
      |  JOIN lnf fn ON fn.m = ks.n
      |  JOIN lnf fk ON fk.m = ks.k
      |  JOIN lnf fa ON fa.m = ks.r1 - ks.k
      |  JOIN lnf fb ON fb.m = ks.c1 - ks.k
      |  JOIN lnf fc ON fc.m = ks.r2 - ks.c1 + ks.k),
      |p AS (SELECT *,
      |    CAST(CAST(exp(lp) AS DECIMAL(28,6)) AS DOUBLE) AS pmf
      |  FROM j),
      |o AS (SELECT *, MAX(CASE WHEN k = a THEN pmf END) OVER ()
      |    AS obs FROM p)
      |SELECT n, a, r1, c1,
      |  MAX(CASE WHEN k = a THEN pmf END) AS pmf_observed,
      |  CAST(CAST(CAST(SUM(CASE WHEN pmf <= obs THEN
      |      CAST(pmf AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS p_two_sided,
      |  CAST(CAST(CAST(CAST(SUM(CASE WHEN pmf <= obs THEN
      |      CAST(pmf AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) <= 0.05 AS INT) AS significant
      |FROM o GROUP BY 1, 2, 3, 4""".stripMargin

  // q399: smoothed target encoding (Stats.targetEncode) of order
  // priority against the order value in cents (m = 100 pseudo-count
  // prior) — the categorical feature-prep table a tabular trainer
  // joins back before fitting. Oracle replays the exact decimal sums
  // and the two-d6 shrinkage chain.
  def q399TargetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    graft.pipeline.Stats.targetEncode(o, "o_orderpriority", "cents",
      m = 100.0)
  }

  val q399Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS c,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
      |  FROM orders),
      |pc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(y AS HUGEINT)) AS sy
      |  FROM o GROUP BY 1),
      |g AS (SELECT CAST(CAST(CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS gmean FROM o)
      |SELECT c AS o_orderpriority, n,
      |  CAST(CAST(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS raw_mean,
      |  gmean AS global_mean,
      |  CAST(CAST((CAST(sy AS DOUBLE) + 100.0 * gmean) /
      |    (CAST(n AS DOUBLE) + 100.0) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS encoded
      |FROM pc CROSS JOIN g""".stripMargin

  // q446: Holm–Bonferroni step-down FWER control (Stats.holmBonferroni)
  // over 40 planted per-slice p-values (md5-uniform ppm — boundary-
  // clean thresholds) at α = 0.05 — q264's FWER sibling. The oracle
  // replays rank, the first step-down failure and the running max.
  def q446Holm(s: SparkSession, dir: String): DataFrame = {
    val hyp = ev(s, dir)
      .select((col("user_id") % 40).as("slice_id")).distinct()
      .withColumn("p_raw",
        graft.pipeline.Sampling.portableHash(col("slice_id"), "holm")
          .cast("double") / 1000000.0)
    graft.pipeline.Stats.holmBonferroni(hyp, "slice_id", "p_raw",
      alpha = 0.05)
  }

  val q446Sql: String =
    """WITH hyp AS (
      |  SELECT DISTINCT user_id % 40 AS slice_id FROM events),
      |p AS (
      |  SELECT slice_id,
      |    CAST(CAST(concat('0x', substring(md5('holm:' ||
      |      CAST(slice_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) / 1000000.0 AS pv
      |  FROM hyp),
      |rk AS (
      |  SELECT slice_id, pv,
      |    CAST(row_number() OVER (ORDER BY pv ASC, slice_id ASC)
      |      AS BIGINT) AS rank,
      |    COUNT(*) OVER () AS m
      |  FROM p),
      |ks AS (
      |  SELECT COALESCE(MIN(CASE WHEN pv * CAST(m - rank + 1 AS DOUBLE)
      |      > 0.05 THEN rank - 1 END), MAX(rank)) AS kstar
      |  FROM rk),
      |adj AS (
      |  SELECT slice_id, pv, rank,
      |    MAX(LEAST(pv * CAST(m - rank + 1 AS DOUBLE), 1.0))
      |      OVER (ORDER BY rank ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
      |  FROM rk)
      |SELECT a.slice_id,
      |  CAST(CAST(a.pv AS DECIMAL(28,6)) AS DOUBLE) AS p_value,
      |  a.rank,
      |  CAST(CAST(a.padj AS DECIMAL(28,6)) AS DOUBLE) AS p_adj,
      |  CAST(CASE WHEN a.rank <= ks.kstar THEN 1 ELSE 0 END AS INT)
      |    AS rejected
      |FROM adj a CROSS JOIN ks""".stripMargin

  // q447: Cliff's delta ordinal effect size (Stats.cliffsDelta)
  // between the user_id-parity arms on per-user cent totals — q408's
  // nonparametric partner; pair counts assembled from the value-cell
  // midrank frame, never a pair join. The oracle replays the doubled-
  // midrank U and the two exact rationals.
  def q447CliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"))
      .select((col("user_id") % 2L).as("arm"), col("x"))
    graft.pipeline.Stats.cliffsDelta(units, "arm", "x")
  }

  val q447Sql: String =
    """WITH u AS (
      |  SELECT user_id % 2 AS a,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT x,
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM u GROUP BY x),
      |r AS (
      |  SELECT x, c0, c1, c0 + c1 AS t,
      |    COALESCE(SUM(c0 + c1) OVER (ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM c),
      |ag AS (
      |  SELECT CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(SUM(c1) AS BIGINT) AS n1,
      |    SUM(CAST(c1 AS HUGEINT) *
      |      CAST(2 * cb + t + 1 AS HUGEINT)) AS r1x2
      |  FROM r),
      |g AS (SELECT n0, n1,
      |    r1x2 - CAST(n1 AS HUGEINT) * CAST(n1 + 1 AS HUGEINT) AS u1x2
      |  FROM ag),
      |d AS (SELECT n0, n1,
      |    CAST(CAST(CAST(u1x2 - CAST(n0 AS HUGEINT) *
      |        CAST(n1 AS HUGEINT) AS DOUBLE) /
      |      CAST(CAST(n0 AS HUGEINT) * CAST(n1 AS HUGEINT) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS delta,
      |    CAST(CAST(CAST(u1x2 AS DOUBLE) /
      |      (2.0 * CAST(CAST(n0 AS HUGEINT) * CAST(n1 AS HUGEINT)
      |        AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) AS cl_effect
      |  FROM g)
      |SELECT n0, n1, delta, cl_effect,
      |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
      |       WHEN abs(delta) < 0.33 THEN 'small'
      |       WHEN abs(delta) < 0.474 THEN 'medium'
      |       ELSE 'large' END AS magnitude
      |FROM d""".stripMargin

  // q448: single-instrument IV / 2SLS (Stats.ivEstimator) — the
  // user_id%3 instrument moving per-user event exposure, outcome the
  // cent total; first-stage F with the Staiger–Stock weak flag. The
  // oracle replays the cleared HUGEINT cross-moments.
  def q448Iv(s: SparkSession, dir: String): DataFrame = {
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
      .select(when(col("user_id") % 3 === 0, 1L).otherwise(0L).as("z"),
        col("x"), col("y"))
    graft.pipeline.Stats.ivEstimator(units, "z", "x", "y")
  }

  val q448Sql: String =
    """WITH u AS (
      |  SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS z,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(z AS HUGEINT)) AS sz, SUM(CAST(x AS HUGEINT)) AS sx,
      |    SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS szz,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(z AS HUGEINT) * CAST(x AS HUGEINT)) AS szx,
      |    SUM(CAST(z AS HUGEINT) * CAST(y AS HUGEINT)) AS szy
      |  FROM u),
      |cl AS (
      |  SELECT n,
      |    CAST(n AS HUGEINT) * szz - sz * sz AS Szz,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS Sxx,
      |    CAST(n AS HUGEINT) * szx - sz * sx AS Szx,
      |    CAST(n AS HUGEINT) * szy - sz * sy AS Szy
      |  FROM ag),
      |fin AS (
      |  SELECT n,
      |    CASE WHEN Szx <> 0 THEN
      |      CAST(CAST(CAST(Szy AS DOUBLE) / CAST(Szx AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS beta_iv,
      |    CASE WHEN Szz > 0 THEN
      |      CAST(CAST(CAST(Szx AS DOUBLE) / CAST(Szz AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS pi_first_stage,
      |    CASE WHEN Szx <> 0 AND
      |        CAST(Szz * Sxx - Szx * Szx AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(n - 2 AS DOUBLE) * CAST(Szx AS DOUBLE) *
      |        CAST(Szx AS DOUBLE) /
      |        CAST(Szz * Sxx - Szx * Szx AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS f_first_stage
      |  FROM cl)
      |SELECT n, beta_iv, pi_first_stage, f_first_stage,
      |  CAST(CASE WHEN f_first_stage IS NOT NULL THEN
      |    CASE WHEN f_first_stage < 10.0 THEN 1 ELSE 0 END
      |    ELSE 1 END AS INT) AS weak_instrument
      |FROM fin""".stripMargin

  // q449: Breusch–Pagan heteroskedasticity gate (Stats.breuschPagan)
  // on per-user (exposure, cent total) — LM = n·R² of the scaled
  // squared-residual regression, χ²₁ p via the shared erfc
  // polynomial. The oracle replays both OLS stages on the identical
  // d6 grid.
  def q449BreuschPagan(s: SparkSession, dir: String): DataFrame = {
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    graft.pipeline.Stats.breuschPagan(units, "x", "y")
  }

  val q449Sql: String = {
    val pChain = graft.pipeline.Stats.normalTwoSidedPSql("sqrt(lm)")
    s"""WITH u AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      |  FROM u),
      |pr AS (
      |  SELECT n, sx, sy,
      |    CAST(CAST(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS b
      |  FROM ag),
      |pa AS (
      |  SELECT n, b,
      |    CAST(CAST((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) /
      |      CAST(n AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS a
      |  FROM pr),
      |res AS (
      |  SELECT u.x,
      |    CAST(CAST(CAST(CAST(u.y AS DOUBLE) - pa.a -
      |        pa.b * CAST(u.x AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) *
      |      CAST(CAST(CAST(u.y AS DOUBLE) - pa.a -
      |        pa.b * CAST(u.x AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) /
      |      1000000.0 AS DECIMAL(18,6)) AS uu
      |  FROM u CROSS JOIN pa),
      |aux AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(uu) AS su,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x AS DECIMAL(18,0)) * uu) AS sxu,
      |    SUM(CAST(uu AS DECIMAL(19,6)) * CAST(uu AS DECIMAL(19,6)))
      |      AS suu
      |  FROM res),
      |mo AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(su AS DOUBLE) AS sxuc,
      |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS sxxc,
      |    CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) -
      |      CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS suuc
      |  FROM aux),
      |lmv AS (
      |  SELECT n,
      |    CASE WHEN suuc > 0 THEN
      |      CAST(CAST(CAST(n AS DOUBLE) *
      |        CAST(CAST(sxuc * sxuc / (sxxc * suuc) AS DECIMAL(28,6))
      |          AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      ELSE 0.0 END AS lm
      |  FROM mo),
      |pv AS (
      |  SELECT n, lm,
      |    CASE WHEN lm > 0 THEN
      |      CAST(CAST($pChain AS DECIMAL(28,6)) AS DOUBLE)
      |      ELSE 1.0 END AS p_value
      |  FROM lmv)
      |SELECT n, lm AS lm_stat, p_value,
      |  CAST(CASE WHEN p_value < 0.05 THEN 1 ELSE 0 END AS INT)
      |    AS heteroskedastic
      |FROM pv""".stripMargin
  }

  // q450: Chow structural-break test (Stats.chowTest) — did the
  // daily count→revenue line move between the first and second half
  // of the events month? F emitted with dfs, no portable F CDF
  // pretended. The oracle replays the one split-keyed aggregate and
  // the three cleared SSEs.
  def q450Chow(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
      .select((dayofmonth(col("day")) > 15).cast("long").as("seg"),
        col("x"), col("y"))
    graft.pipeline.Stats.chowTest(days, "seg", "x", "y")
  }

  val q450Sql: String =
    """WITH d AS (
      |  SELECT CASE WHEN extract(day FROM CAST(ts AS DATE)) > 15
      |      THEN 1 ELSE 0 END AS g,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY CAST(ts AS DATE)),
      |ag AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) END) AS sx0,
      |    SUM(CASE WHEN g = 0 THEN CAST(y AS HUGEINT) END) AS sy0,
      |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) *
      |      CAST(x AS HUGEINT) END) AS sxx0,
      |    SUM(CASE WHEN g = 0 THEN CAST(x AS HUGEINT) *
      |      CAST(y AS HUGEINT) END) AS sxy0,
      |    SUM(CASE WHEN g = 0 THEN CAST(y AS HUGEINT) *
      |      CAST(y AS HUGEINT) END) AS syy0,
      |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) END) AS sx1,
      |    SUM(CASE WHEN g = 1 THEN CAST(y AS HUGEINT) END) AS sy1,
      |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) *
      |      CAST(x AS HUGEINT) END) AS sxx1,
      |    SUM(CASE WHEN g = 1 THEN CAST(x AS HUGEINT) *
      |      CAST(y AS HUGEINT) END) AS sxy1,
      |    SUM(CASE WHEN g = 1 THEN CAST(y AS HUGEINT) *
      |      CAST(y AS HUGEINT) END) AS syy1
      |  FROM d),
      |st AS (
      |  SELECT n0 + n1 AS n, n0, n1,
      |    CAST(CAST(CAST((CAST(n0 AS HUGEINT) * sxx0 - sx0 * sx0) *
      |        (CAST(n0 AS HUGEINT) * syy0 - sy0 * sy0) -
      |        (CAST(n0 AS HUGEINT) * sxy0 - sx0 * sy0) *
      |        (CAST(n0 AS HUGEINT) * sxy0 - sx0 * sy0) AS DOUBLE) /
      |      CAST(CAST(n0 AS HUGEINT) *
      |        (CAST(n0 AS HUGEINT) * sxx0 - sx0 * sx0) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sse0,
      |    CAST(CAST(CAST((CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1) *
      |        (CAST(n1 AS HUGEINT) * syy1 - sy1 * sy1) -
      |        (CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1) *
      |        (CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1) AS DOUBLE) /
      |      CAST(CAST(n1 AS HUGEINT) *
      |        (CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sse1,
      |    CAST(CAST(CAST((CAST(n0 + n1 AS HUGEINT) * (sxx0 + sxx1) -
      |        (sx0 + sx1) * (sx0 + sx1)) *
      |        (CAST(n0 + n1 AS HUGEINT) * (syy0 + syy1) -
      |        (sy0 + sy1) * (sy0 + sy1)) -
      |        (CAST(n0 + n1 AS HUGEINT) * (sxy0 + sxy1) -
      |        (sx0 + sx1) * (sy0 + sy1)) *
      |        (CAST(n0 + n1 AS HUGEINT) * (sxy0 + sxy1) -
      |        (sx0 + sx1) * (sy0 + sy1)) AS DOUBLE) /
      |      CAST(CAST(n0 + n1 AS HUGEINT) *
      |        (CAST(n0 + n1 AS HUGEINT) * (sxx0 + sxx1) -
      |        (sx0 + sx1) * (sx0 + sx1)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sse_pooled
      |  FROM ag)
      |SELECT n, n0, n1, sse_pooled, sse0, sse1,
      |  CASE WHEN sse0 + sse1 > 0 THEN
      |    CAST(CAST(((sse_pooled - (sse0 + sse1)) / 2.0) /
      |      ((sse0 + sse1) / CAST(n - 4 AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS f_stat,
      |  CAST(2 AS BIGINT) AS df1, CAST(n - 4 AS BIGINT) AS df2
      |FROM st""".stripMargin

  // q451: Herfindahl–Hirschman concentration of event traffic per
  // event type across users (Stats.hhiConcentration) — HHI points,
  // the firm-count-floor-free HHI*, CR4. The oracle replays the firm
  // aggregate, the HUGEINT share rationals and the top-4 rank cut.
  def q451Hhi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.hhiConcentration(
      ev(s, dir).select(col("event_type"), col("user_id"),
        lit(1L).as("w")),
      "event_type", "user_id", "w", topK = 4)

  val q451Sql: String =
    """WITH f AS (
      |  SELECT event_type AS m, user_id AS fm,
      |    CAST(COUNT(*) AS BIGINT) AS fx
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT m, fm, fx, row_number() OVER (PARTITION BY m
      |    ORDER BY fx DESC, fm ASC) AS rk
      |  FROM f),
      |a AS (
      |  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_firms,
      |    CAST(SUM(fx) AS BIGINT) AS total,
      |    SUM(CAST(fx AS HUGEINT) * CAST(fx AS HUGEINT)) AS q,
      |    CAST(SUM(CASE WHEN rk <= 4 THEN fx ELSE 0 END) AS BIGINT)
      |      AS topk
      |  FROM r GROUP BY 1)
      |SELECT m AS event_type, n_firms, total,
      |  CASE WHEN total > 0 THEN
      |    CAST(CAST(10000.0 * CAST(q AS DOUBLE) /
      |      CAST(CAST(total AS HUGEINT) * CAST(total AS HUGEINT)
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS hhi,
      |  CASE WHEN total > 0 AND n_firms > 1 THEN
      |    CAST(CAST(CAST(CAST(n_firms AS HUGEINT) * q -
      |        CAST(total AS HUGEINT) * CAST(total AS HUGEINT)
      |        AS DOUBLE) /
      |      CAST(CAST(total AS HUGEINT) * CAST(total AS HUGEINT) *
      |        CAST(n_firms - 1 AS HUGEINT) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS hhi_normalized,
      |  CASE WHEN total > 0 THEN
      |    CAST(CAST(CAST(topk AS DOUBLE) / CAST(total AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS cr4
      |FROM a""".stripMargin

  // q452: Theil T inequality with between/within decomposition
  // (Stats.theilDecomposition) of document character mass across
  // languages — how much of corpus concentration is cross-language.
  // The oracle replays the d6-per-ln-term sums and the share chain.
  def q452Theil(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.theilDecomposition(
      t(s, dir, "documents").filter(col("n_chars") > 0)
        .select(col("lang"), col("n_chars")),
      "lang", "n_chars")

  val q452Sql: String =
    """WITH b AS (
      |  SELECT lang AS g, n_chars AS x FROM documents WHERE n_chars > 0),
      |gg AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(x) AS BIGINT) AS sg,
      |    SUM(CAST(CAST(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS xlx
      |  FROM b GROUP BY 1),
      |t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
      |        CAST(SUM(sg) AS BIGINT) AS s FROM gg),
      |st AS (
      |  SELECT g, ng, sg, n, s,
      |    CAST(CAST(CAST(ng AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS pop_share,
      |    CAST(CAST(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS income_share,
      |    CAST(CAST(CAST(xlx AS DOUBLE) / CAST(sg AS DOUBLE) -
      |      ln(CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS theil_within
      |  FROM gg CROSS JOIN t)
      |SELECT g AS lang, ng AS n, sg AS total, pop_share, income_share,
      |  theil_within,
      |  CAST(CAST(income_share * CAST(CAST(
      |    ln((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) /
      |      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS between_term,
      |  CAST(CAST(income_share * theil_within AS DECIMAL(28,6))
      |    AS DOUBLE) AS within_contrib
      |FROM st""".stripMargin

  // q453: Atkinson welfare indices ε=1/ε=2 per language
  // (Stats.atkinsonIndices) over the same character mass — the
  // bottom-weighted complements of q452. The oracle replays the
  // d6-per-term log/reciprocal sums and the fixed closing order.
  def q453Atkinson(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.atkinsonIndices(
      t(s, dir, "documents").filter(col("n_chars") > 0)
        .select(col("lang"), col("n_chars")),
      "lang", "n_chars")

  val q453Sql: String =
    """WITH b AS (
      |  SELECT lang AS g, n_chars AS x FROM documents WHERE n_chars > 0),
      |ag AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s,
      |    SUM(CAST(CAST(ln(CAST(x AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DECIMAL(28,6))) AS lnsum,
      |    SUM(CAST(CAST(1000000.0 / CAST(x AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6))) AS rsum
      |  FROM b GROUP BY 1),
      |st AS (
      |  SELECT g, n, s,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean6,
      |    CAST(CAST(exp(CAST(lnsum AS DOUBLE) / CAST(n AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS geo6,
      |    CAST(CAST(1000000.0 * CAST(n AS DOUBLE) /
      |      CAST(rsum AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS harm6
      |  FROM ag)
      |SELECT g AS lang, n, s AS total, mean6 AS mean,
      |  CAST(CAST(1.0 - geo6 / mean6 AS DECIMAL(28,6)) AS DOUBLE) AS a1,
      |  CAST(CAST(1.0 - harm6 / mean6 AS DECIMAL(28,6)) AS DOUBLE) AS a2
      |FROM st""".stripMargin

  // q454: Palma ratio + tail shares per language (Stats.palmaShares)
  // — top-10% vs bottom-40% character mass under the exact
  // (x asc, doc_id asc) rank convention. The oracle replays the rank
  // blocks and the four exact block sums.
  def q454Palma(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.palmaShares(
      t(s, dir, "documents").select(col("lang"), col("doc_id"),
        col("n_chars")),
      "lang", "doc_id", "n_chars")

  val q454Sql: String =
    """WITH b AS (
      |  SELECT lang AS g, doc_id AS id, n_chars AS x FROM documents),
      |r AS (
      |  SELECT g, id, x,
      |    CAST(row_number() OVER (PARTITION BY g
      |      ORDER BY x ASC, id ASC) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY g) AS n
      |  FROM b),
      |a AS (
      |  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS total,
      |    CAST(SUM(CASE WHEN rk <= CAST(floor(CAST(n AS DOUBLE) * 0.4)
      |      AS BIGINT) THEN x ELSE 0 END) AS BIGINT) AS b40,
      |    CAST(SUM(CASE WHEN rk > CAST(floor(CAST(n AS DOUBLE) * 0.9)
      |      AS BIGINT) THEN x ELSE 0 END) AS BIGINT) AS t10,
      |    CAST(SUM(CASE WHEN rk <= CAST(floor(CAST(n AS DOUBLE) * 0.2)
      |      AS BIGINT) THEN x ELSE 0 END) AS BIGINT) AS b20,
      |    CAST(SUM(CASE WHEN rk > CAST(floor(CAST(n AS DOUBLE) * 0.8)
      |      AS BIGINT) THEN x ELSE 0 END) AS BIGINT) AS t20
      |  FROM r GROUP BY 1)
      |SELECT g AS lang, n, total,
      |  CASE WHEN total > 0 THEN
      |    CAST(CAST(CAST(b40 AS DOUBLE) / CAST(total AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS bottom40_share,
      |  CASE WHEN total > 0 THEN
      |    CAST(CAST(CAST(t10 AS DOUBLE) / CAST(total AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS top10_share,
      |  CASE WHEN b40 > 0 THEN
      |    CAST(CAST(CAST(t10 AS DOUBLE) / CAST(b40 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS palma_ratio,
      |  CASE WHEN b20 > 0 THEN
      |    CAST(CAST(CAST(t20 AS DOUBLE) / CAST(b20 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS quintile_ratio
      |FROM a""".stripMargin

  // q455: turning-points randomness test (Timeseries.turningPointsTest)
  // over the 6-hour event-count series per type — strict interior
  // extrema vs the 2(n−2)/3 iid expectation. The oracle replays the
  // lag/lead comparison and the fixed moment chain.
  def q455TurningPoints(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.turningPointsTest(buckets, "event_type", "b", "x")
  }

  val q455Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |w AS (
      |  SELECT k, x,
      |    lag(x) OVER (PARTITION BY k ORDER BY t ASC) AS pv,
      |    lead(x) OVER (PARTITION BY k ORDER BY t ASC) AS fv
      |  FROM s),
      |a AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN pv IS NOT NULL AND fv IS NOT NULL AND
      |      ((x > pv AND x > fv) OR (x < pv AND x < fv))
      |      THEN 1 ELSE 0 END) AS BIGINT) AS nt
      |  FROM w GROUP BY 1),
      |st AS (
      |  SELECT k, n, nt,
      |    CASE WHEN n >= 3 THEN
      |      CAST(CAST(2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS expected,
      |    CASE WHEN n >= 3 AND
      |        (16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0 > 0 THEN
      |      CAST(CAST((CAST(nt AS DOUBLE) -
      |        2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0) /
      |        sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM a),
      |pp AS (
      |  SELECT k, n, nt, expected, z,
      |    CASE WHEN z IS NOT NULL THEN
      |      CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM st)
      |SELECT k AS event_type, n, nt AS n_turning, expected, z, p_value,
      |  CAST(CASE WHEN p_value IS NOT NULL AND p_value <= 0.05
      |    THEN 1 ELSE 0 END AS INT) AS significant
      |FROM pp""".stripMargin
  }

  // q456: Bartels rank von Neumann randomness test
  // (Timeseries.bartelsRankVonNeumann) on the same series — doubled
  // midranks make numerator/denominator exact integers. The oracle
  // replays the two windows and the exact Bartels variance.
  def q456Bartels(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.bartelsRankVonNeumann(
      buckets, "event_type", "b", "x")
  }

  val q456Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT k, t,
      |    2 * CAST(rank() OVER (PARTITION BY k ORDER BY x ASC)
      |      AS BIGINT) + COUNT(*) OVER (PARTITION BY k, x) - 1 AS r2,
      |    COUNT(*) OVER (PARTITION BY k) AS n
      |  FROM s),
      |w AS (
      |  SELECT k, n, r2,
      |    lead(r2) OVER (PARTITION BY k ORDER BY t ASC) AS r2n
      |  FROM r),
      |a AS (
      |  SELECT k, CAST(MAX(n) AS BIGINT) AS n,
      |    SUM(CASE WHEN r2n IS NOT NULL THEN
      |      CAST(r2 - r2n AS HUGEINT) * CAST(r2 - r2n AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS nm,
      |    SUM(CAST(r2 - n - 1 AS HUGEINT) *
      |      CAST(r2 - n - 1 AS HUGEINT)) AS dn
      |  FROM w GROUP BY 1),
      |st AS (
      |  SELECT k, n,
      |    CASE WHEN n >= 4 AND dn > 0 THEN
      |      CAST(CAST(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS rvn
      |  FROM a),
      |zz AS (
      |  SELECT k, n, rvn,
      |    CASE WHEN rvn IS NOT NULL THEN
      |      CAST(CAST((rvn - 2.0) / sqrt(4.0 * (CAST(n AS DOUBLE) - 2.0) *
      |        (5.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
      |         2.0 * CAST(n AS DOUBLE) - 9.0) /
      |        (5.0 * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) *
      |         (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 1.0)))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM st),
      |pp AS (
      |  SELECT k, n, rvn, z,
      |    CASE WHEN z IS NOT NULL THEN
      |      CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM zz)
      |SELECT k AS event_type, n, rvn, z, p_value,
      |  CAST(CASE WHEN p_value IS NOT NULL AND p_value <= 0.05
      |    THEN 1 ELSE 0 END AS INT) AS significant
      |FROM pp""".stripMargin
  }

  // q457: KPSS level-stationarity statistic (Timeseries.kpssTest) on
  // the same series at 4 Bartlett lags — the exact-rational collapsed
  // form η = ΣP²·(L+1)/(n·E). The oracle replays the cleared
  // partial sums and the integer Bartlett assembly.
  def q457Kpss(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.kpssTest(buckets, "event_type", "b", "x",
      lags = 4)
  }

  val q457Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |c AS (
      |  SELECT k, t,
      |    COUNT(*) OVER (PARTITION BY k) * x -
      |      SUM(x) OVER (PARTITION BY k) AS cc,
      |    COUNT(*) OVER (PARTITION BY k) AS n
      |  FROM s),
      |w AS (
      |  SELECT k, n, cc,
      |    SUM(cc) OVER (PARTITION BY k ORDER BY t ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
      |    lead(cc, 1) OVER (PARTITION BY k ORDER BY t ASC) AS c1,
      |    lead(cc, 2) OVER (PARTITION BY k ORDER BY t ASC) AS c2,
      |    lead(cc, 3) OVER (PARTITION BY k ORDER BY t ASC) AS c3,
      |    lead(cc, 4) OVER (PARTITION BY k ORDER BY t ASC) AS c4
      |  FROM c),
      |a AS (
      |  SELECT k, CAST(MAX(n) AS BIGINT) AS n,
      |    SUM(CAST(pp AS HUGEINT) * CAST(pp AS HUGEINT)) AS spp,
      |    SUM(CAST(cc AS HUGEINT) * CAST(cc AS HUGEINT)) AS g0,
      |    SUM(CASE WHEN c1 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g1,
      |    SUM(CASE WHEN c2 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c2 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g2,
      |    SUM(CASE WHEN c3 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c3 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g3,
      |    SUM(CASE WHEN c4 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c4 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g4
      |  FROM w GROUP BY 1),
      |ee AS (
      |  SELECT k, n,
      |    spp,
      |    5 * g0 + 2 * (4 * g1 + 3 * g2 + 2 * g3 + 1 * g4) AS e
      |  FROM a)
      |SELECT k AS event_type, n, CAST(4 AS INT) AS lags,
      |  CASE WHEN e > 0 THEN
      |    CAST(CAST(CAST(spp * 5 AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * e AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS eta,
      |  CAST(CASE WHEN e > 0 THEN
      |    CASE WHEN CAST(CAST(CAST(spp * 5 AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * e AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) <= 0.463 THEN 1 ELSE 0 END
      |    ELSE 1 END AS INT) AS stationary
      |FROM ee""".stripMargin

  // q458: Cox–Stuart trend test (Timeseries.coxStuartTrend) on the
  // same series — first-half/second-half sign pairs with signTest's
  // continuity correction. The oracle replays the offset pairing.
  def q458CoxStuart(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.coxStuartTrend(buckets, "event_type", "b", "x")
  }

  val q458Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT k, x,
      |    CAST(row_number() OVER (PARTITION BY k ORDER BY t ASC)
      |      AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY k) AS n
      |  FROM s),
      |pr AS (
      |  SELECT a.k, a.x AS xa, b.x AS xb
      |  FROM r a JOIN r b
      |    ON a.k = b.k AND b.rn = a.rn + (a.n + 1) // 2),
      |ag AS (
      |  SELECT k,
      |    CAST(SUM(CASE WHEN xb > xa THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_up,
      |    CAST(SUM(CASE WHEN xb < xa THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_down
      |  FROM pr GROUP BY 1),
      |st AS (
      |  SELECT k, n_up, n_down,
      |    CASE WHEN n_up + n_down >= 1 THEN
      |      CAST(CAST(
      |        CASE WHEN n_up - n_down > 0 THEN 1.0
      |             WHEN n_up - n_down < 0 THEN -1.0 ELSE 0.0 END *
      |        GREATEST(0.0, abs(CAST(n_up - n_down AS DOUBLE)) - 1.0) /
      |        sqrt(CAST(n_up + n_down AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM ag),
      |pp AS (
      |  SELECT k, n_up, n_down, z,
      |    CASE WHEN z IS NOT NULL THEN
      |      CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM st)
      |SELECT k AS event_type, n_up, n_down, z, p_value,
      |  CASE WHEN p_value IS NOT NULL AND p_value <= 0.05 THEN
      |    CASE WHEN n_up > n_down THEN 'up' ELSE 'down' END
      |  ELSE 'none' END AS trend
      |FROM pp""".stripMargin
  }

  // q459: Diebold–Mariano equal-accuracy test
  // (Timeseries.dieboldMariano) — naive lag-1 vs seasonal lag-4
  // (same 6h slot, previous day) forecasts of the per-type series,
  // squared-error loss, HAC variance at 2 Bartlett lags via the KPSS
  // cleared form. The oracle replays the error frame and the exact
  // integer HAC assembly.
  def q459DieboldMariano(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("b").asc)
    val errs = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
      .withColumn("_l1", lag(col("x"), 1).over(w))
      .withColumn("_l4", lag(col("x"), 4).over(w))
      .filter(col("_l1").isNotNull && col("_l4").isNotNull)
      .select(col("event_type"), col("b"),
        (col("x") - col("_l1")).as("e1"),
        (col("x") - col("_l4")).as("e2"))
    graft.ops.Timeseries.dieboldMariano(errs, "event_type", "b",
      "e1", "e2", lags = 2)
  }

  val q459Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("dm_stat")
    s"""WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |er AS (
      |  SELECT k, t,
      |    x - lag(x, 1) OVER (PARTITION BY k ORDER BY t ASC) AS e1,
      |    x - lag(x, 4) OVER (PARTITION BY k ORDER BY t ASC) AS e2
      |  FROM s),
      |dd AS (
      |  SELECT k, t, e1 * e1 - e2 * e2 AS d
      |  FROM er WHERE e1 IS NOT NULL AND e2 IS NOT NULL),
      |c AS (
      |  SELECT k, t,
      |    COUNT(*) OVER (PARTITION BY k) AS n,
      |    SUM(d) OVER (PARTITION BY k) AS sd,
      |    COUNT(*) OVER (PARTITION BY k) * d -
      |      SUM(d) OVER (PARTITION BY k) AS cc
      |  FROM dd),
      |w AS (
      |  SELECT k, n, sd, cc,
      |    lead(cc, 1) OVER (PARTITION BY k ORDER BY t ASC) AS c1,
      |    lead(cc, 2) OVER (PARTITION BY k ORDER BY t ASC) AS c2
      |  FROM c),
      |a AS (
      |  SELECT k, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(MAX(sd) AS BIGINT) AS sd,
      |    SUM(CAST(cc AS HUGEINT) * CAST(cc AS HUGEINT)) AS g0,
      |    SUM(CASE WHEN c1 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g1,
      |    SUM(CASE WHEN c2 IS NOT NULL THEN CAST(cc AS HUGEINT) *
      |      CAST(c2 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS g2
      |  FROM w GROUP BY 1),
      |ee AS (
      |  SELECT k, n, sd, 3 * g0 + 2 * (2 * g1 + 1 * g2) AS e
      |  FROM a),
      |st AS (
      |  SELECT k, n,
      |    CAST(CAST(CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean_loss_diff,
      |    CASE WHEN e > 0 THEN
      |      CAST(CAST(CAST(sd AS DOUBLE) * CAST(n AS DOUBLE) *
      |        sqrt(3.0) / sqrt(CAST(e AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS dm_stat
      |  FROM ee),
      |pp AS (
      |  SELECT k, n, mean_loss_diff, dm_stat,
      |    CASE WHEN dm_stat IS NOT NULL THEN
      |      CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM st)
      |SELECT k AS event_type, n, mean_loss_diff, dm_stat, p_value,
      |  CAST(CASE WHEN p_value IS NOT NULL AND p_value <= 0.05 THEN
      |    CASE WHEN mean_loss_diff > 0 THEN 2 ELSE 1 END
      |  ELSE 0 END AS INT) AS better_model
      |FROM pp""".stripMargin
  }

  // q460: pinball quantile-forecast scorecard
  // (Timeseries.pinballScorecard) — P10/P50/P90 of daily counts from
  // the first 20 days' exact order statistics, scored on the last
  // 10 days with all-integer ppm loss terms. The oracle replays the
  // rank picks and the exact term sums.
  def q460Pinball(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.pinballScorecard(daily, "event_type", "day",
      "x", splitT = 19743L)
  }

  val q460Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |tr AS (
      |  SELECT k, x,
      |    CAST(row_number() OVER (PARTITION BY k
      |      ORDER BY x ASC, t ASC) AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY k) AS n
      |  FROM s WHERE t < 19743),
      |q AS (SELECT CAST(unnest([100000, 500000, 900000]) AS BIGINT)
      |        AS q_ppm),
      |pd AS (
      |  SELECT tr.k, q.q_ppm, CAST(tr.n AS BIGINT) AS n_train,
      |    tr.x AS prediction
      |  FROM tr CROSS JOIN q
      |  WHERE tr.rk = (q.q_ppm * tr.n + 999999) // 1000000),
      |te AS (SELECT k, x FROM s WHERE t >= 19743),
      |tm AS (
      |  SELECT pd.k, pd.q_ppm, pd.n_train, pd.prediction,
      |    CASE WHEN te.x - pd.prediction >= 0 THEN
      |      CAST(pd.q_ppm AS HUGEINT) *
      |        CAST(te.x - pd.prediction AS HUGEINT)
      |    ELSE CAST(pd.q_ppm - 1000000 AS HUGEINT) *
      |        CAST(te.x - pd.prediction AS HUGEINT) END AS term
      |  FROM te JOIN pd ON te.k = pd.k)
      |SELECT k AS event_type, q_ppm, n_train,
      |  CAST(COUNT(*) AS BIGINT) AS n_test, prediction,
      |  CAST(CAST(CAST(SUM(term) AS DOUBLE) /
      |    (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pinball_loss
      |FROM tm GROUP BY 1, 2, 3, 5""".stripMargin

  // q464: Shewhart X̄/R control chart (Timeseries.xbarRChart) — the
  // 6h series in day-sized subgroups of 4 against the A2/D3/D4
  // limits. The oracle replays the subgroup split and the d6 limit
  // chain with the same published constants.
  def q464XbarR(s: SparkSession, dir: String): DataFrame = {
    val buckets = ev(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 21600000000").as("b"))
      .agg(count(lit(1)).as("x"))
    graft.ops.Timeseries.xbarRChart(buckets, "event_type", "b", "x",
      subgroupSize = 4)
  }

  val q464Sql: String =
    """WITH e AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS t
      |  FROM events),
      |s AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2),
      |r AS (
      |  SELECT k, x,
      |    row_number() OVER (PARTITION BY k ORDER BY t ASC) AS rn
      |  FROM s),
      |sg AS (
      |  SELECT k,
      |    CAST(floor(CAST(rn - 1 AS DOUBLE) / 4.0) AS BIGINT) AS subgroup,
      |    CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(MAX(x) - MIN(x) AS BIGINT) AS r
      |  FROM r GROUP BY 1, 2),
      |xb AS (
      |  SELECT k, subgroup, r,
      |    CAST(CAST(CAST(sx AS DOUBLE) / 4.0 AS DECIMAL(28,6))
      |      AS DOUBLE) AS xbar
      |  FROM sg WHERE nn = 4),
      |g AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_subgroups,
      |    CAST(CAST(CAST(SUM(CAST(xbar AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS grand_mean,
      |    CAST(CAST(CAST(SUM(CAST(r AS HUGEINT)) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS r_bar
      |  FROM xb GROUP BY 1),
      |li AS (
      |  SELECT xb.k, xb.subgroup, xb.xbar, xb.r, g.n_subgroups,
      |    g.grand_mean, g.r_bar,
      |    CAST(CAST(g.grand_mean + 0.729 * g.r_bar AS DECIMAL(28,6))
      |      AS DOUBLE) AS ucl_xbar,
      |    CAST(CAST(g.grand_mean - 0.729 * g.r_bar AS DECIMAL(28,6))
      |      AS DOUBLE) AS lcl_xbar,
      |    CAST(CAST(2.282 * g.r_bar AS DECIMAL(28,6)) AS DOUBLE)
      |      AS ucl_r,
      |    CAST(CAST(0.0 * g.r_bar AS DECIMAL(28,6)) AS DOUBLE) AS lcl_r
      |  FROM xb JOIN g ON g.k = xb.k)
      |SELECT k AS event_type, subgroup, xbar, r, n_subgroups,
      |  grand_mean, r_bar, ucl_xbar, lcl_xbar, ucl_r, lcl_r,
      |  CAST(CASE WHEN xbar > ucl_xbar OR xbar < lcl_xbar
      |    THEN 1 ELSE 0 END AS INT) AS xbar_out,
      |  CAST(CASE WHEN CAST(r AS DOUBLE) > ucl_r OR
      |    CAST(r AS DOUBLE) < lcl_r THEN 1 ELSE 0 END AS INT) AS r_out
      |FROM li""".stripMargin

  // q465: process capability Cp/Cpk (Stats.processCapability) of
  // daily per-type volumes against a (30, 110) spec band. The oracle
  // replays the cleared variance and the d6 index chain.
  def q465Capability(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    graft.pipeline.Stats.processCapability(daily, "event_type", "x",
      lsl = 30L, usl = 110L)
  }

  val q465Sql: String =
    """WITH d AS (
      |  SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |ag AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
      |  FROM d GROUP BY 1),
      |g AS (
      |  SELECT k, n, s, CAST(n AS HUGEINT) * q - s * s AS m
      |  FROM ag),
      |st AS (
      |  SELECT k, n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean,
      |    CASE WHEN m > 0 THEN
      |      CAST(CAST(sqrt(CAST(CAST(CAST(m AS DOUBLE) /
      |        CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
      |          AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS stddev
      |  FROM g)
      |SELECT k AS event_type, n, mean, stddev,
      |  CASE WHEN stddev IS NOT NULL THEN
      |    CAST(CAST(80.0 / (6.0 * stddev) AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS cp,
      |  CASE WHEN stddev IS NOT NULL THEN
      |    CAST(CAST(LEAST(110.0 - mean, mean - 30.0) / (3.0 * stddev)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS cpk,
      |  CAST(CASE WHEN stddev IS NOT NULL AND
      |    CAST(CAST(LEAST(110.0 - mean, mean - 30.0) / (3.0 * stddev)
      |      AS DECIMAL(28,6)) AS DOUBLE) >= 1.33
      |    THEN 1 ELSE 0 END AS INT) AS capable
      |FROM st""".stripMargin

  // q466: delta-method ratio-metric CI (Stats.ratioMetricCI) for
  // cents-per-event clustered by user — per-unit sums then ONE
  // sufficient-stats aggregate. The oracle replays the cleared
  // covariance chain in the identical double order.
  def q466RatioCI(s: SparkSession, dir: String): DataFrame = {
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("x"),
        count(lit(1)).as("y"))
    graft.pipeline.Stats.ratioMetricCI(units, "x", "y")
  }

  val q466Sql: String =
    """WITH u AS (
      |  SELECT CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |      AS x,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM u),
      |cl AS (
      |  SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS Sxx,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS Sxy,
      |    CAST(n AS HUGEINT) * syy - sy * sy AS Syy
      |  FROM ag),
      |st AS (
      |  SELECT n, sx, sy,
      |    CAST(CAST(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ratio,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
      |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) AS dnn,
      |    CAST(Sxx AS DOUBLE) AS dxx, CAST(Sxy AS DOUBLE) AS dxy,
      |    CAST(Syy AS DOUBLE) AS dyy
      |  FROM cl),
      |se AS (
      |  SELECT n, sx, sy, ratio,
      |    CAST(CAST(sqrt(GREATEST(
      |      (dxx / dnn - 2.0 * ratio * (dxy / dnn) +
      |       ratio * ratio * (dyy / dnn)) /
      |      (CAST(n AS DOUBLE) * ybar * ybar), 0.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS se
      |  FROM st)
      |SELECT n, CAST(sx AS BIGINT) AS sum_num,
      |  CAST(sy AS BIGINT) AS sum_den, ratio, se,
      |  CAST(CAST(ratio - 1.959964 * se AS DECIMAL(28,6)) AS DOUBLE)
      |    AS ci_low,
      |  CAST(CAST(ratio + 1.959964 * se AS DECIMAL(28,6)) AS DOUBLE)
      |    AS ci_high
      |FROM se""".stripMargin

  // q467: Aalen–Johansen cumulative incidence (Stats.aalenJohansen)
  // — 1-day-inactivity churn split into two competing causes by user
  // parity, later
  // actives censored; CIFs ride the all-cause KM product. The oracle
  // replays q302's KM chain plus the per-cause increment sums.
  def q467AalenJohansen(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select(expr(s"(_l - _f) div ${day}L").as("duration_days"),
        when(col("_mx") - col("_l") > lit(day),
          lit(1L) + col("user_id") % 2L).otherwise(lit(0L)).as("cause"))
    graft.pipeline.Stats.aalenJohansen(users, "duration_days", "cause")
  }

  val q467Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |d AS (
      |  SELECT (l - f) // 86400000000 AS duration,
      |    CASE WHEN mx - l > 86400000000 THEN 1 + user_id % 2
      |         ELSE 0 END AS c
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT duration, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_events
      |        FROM d GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER (ORDER BY duration
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |        AS BIGINT) AS n_risk FROM byt),
      |t AS (
      |  SELECT *,
      |    CASE WHEN n_events = 0 THEN CAST(0.0 AS DECIMAL(28,6))
      |         WHEN n_events = n_risk THEN NULL
      |         ELSE CAST(ln(1.0 - CAST(n_events AS DOUBLE) /
      |           CAST(n_risk AS DOUBLE)) AS DECIMAL(28,6)) END AS lt,
      |    CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS z
      |  FROM r),
      |km AS (
      |  SELECT duration, n_risk,
      |    CASE WHEN SUM(z) OVER w > 0 THEN 0.0
      |      ELSE CAST(CAST(exp(CAST(COALESCE(SUM(lt) OVER w,
      |        CAST(0 AS DECIMAL(28,6))) AS DOUBLE)) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS survival
      |  FROM t WINDOW w AS (ORDER BY duration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |wp AS (
      |  SELECT duration, n_risk,
      |    COALESCE(lag(survival) OVER (ORDER BY duration), 1.0)
      |      AS surv_prev
      |  FROM km),
      |ca AS (SELECT duration, c AS cause, CAST(COUNT(*) AS BIGINT)
      |        AS n_events
      |       FROM d WHERE c > 0 GROUP BY 1, 2),
      |j AS (
      |  SELECT ca.duration, ca.cause, wp.n_risk, ca.n_events,
      |    wp.surv_prev,
      |    CAST(CAST(wp.surv_prev * CAST(ca.n_events AS DOUBLE) /
      |      CAST(wp.n_risk AS DOUBLE) AS DECIMAL(28,6))
      |      AS DECIMAL(28,6)) AS inc
      |  FROM ca JOIN wp ON wp.duration = ca.duration)
      |SELECT duration, cause, n_risk, n_events, surv_prev,
      |  CAST(CAST(CAST(SUM(inc) OVER (PARTITION BY cause
      |    ORDER BY duration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS cif
      |FROM j""".stripMargin

  // q468: actuarial life table (Stats.lifeTable) — 3-day intervals of
  // the churn cohort with the half-interval censoring adjustment on
  // doubled counts. The oracle replays the doubled-integer chain and
  // the log-domain start-survival product.
  def q468LifeTable(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select(expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(day)).cast("int")
          .as("churned"))
    graft.pipeline.Stats.lifeTable(users, "duration_days", "churned",
      width = 3L)
  }

  val q468Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |d AS (
      |  SELECT ((l - f) // 86400000000) // 3 AS i,
      |    CASE WHEN mx - l > 86400000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byi AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(ev) AS BIGINT) AS n_events
      |        FROM d GROUP BY 1),
      |st AS (
      |  SELECT *, CAST(n - n_events AS BIGINT) AS n_censored,
      |    CAST(SUM(n) OVER (ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |      AS BIGINT) AS n_enter
      |  FROM byi),
      |n2 AS (
      |  SELECT *, 2 * n_enter - n_censored AS nn2 FROM st),
      |t AS (
      |  SELECT *,
      |    CASE WHEN n_events = 0 THEN CAST(0.0 AS DECIMAL(28,6))
      |         WHEN 2 * n_events >= nn2 THEN NULL
      |         ELSE CAST(ln(CAST(nn2 - 2 * n_events AS DOUBLE) /
      |           CAST(nn2 AS DOUBLE)) AS DECIMAL(28,6)) END AS lt,
      |    CASE WHEN 2 * n_events >= nn2 THEN 1 ELSE 0 END AS z
      |  FROM n2)
      |SELECT i AS interval, CAST(i * 3 AS BIGINT) AS t_start,
      |  n_enter, n_events, n_censored,
      |  CAST(CAST(2 * CAST(n_events AS DOUBLE) / CAST(nn2 AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS q_interval,
      |  CASE WHEN nn2 > n_events THEN
      |    CAST(CAST(2 * CAST(n_events AS DOUBLE) /
      |      (3.0 * CAST(nn2 - n_events AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS hazard_rate,
      |  CASE WHEN COALESCE(SUM(z) OVER wb, 0) > 0 THEN 0.0
      |    ELSE CAST(CAST(exp(CAST(COALESCE(SUM(lt) OVER wb,
      |      CAST(0 AS DECIMAL(28,6))) AS DOUBLE)) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS surv_start
      |FROM t WINDOW wb AS (ORDER BY i
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin

  // q469: Hoeffding's D dependence (Stats.hoeffdingsD) between
  // per-user event exposure and cent totals — the non-monotone
  // association gate beside Pearson/Spearman/Kendall. The oracle
  // replays the pair pass with the same ½-credit codes and the one
  // closing rational.
  def q469HoeffdingsD(s: SparkSession, dir: String): DataFrame = {
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("value") * 100).cast("long")).as("y"))
    graft.pipeline.Stats.hoeffdingsD(units, "x", "y")
  }

  val q469Sql: String =
    """WITH u AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |ids AS (
      |  SELECT x, y, row_number() OVER (ORDER BY x ASC, y ASC) AS id,
      |    COUNT(*) OVER () AS n
      |  FROM u),
      |pj AS (
      |  SELECT a.id, CAST(MAX(a.n) AS BIGINT) AS n,
      |    CAST(SUM((CASE WHEN b.x < a.x THEN 2
      |              WHEN b.x = a.x THEN 1 ELSE 0 END) *
      |             (CASE WHEN b.y < a.y THEN 2
      |              WHEN b.y = a.y THEN 1 ELSE 0 END)) AS BIGINT) AS q4,
      |    CAST(SUM(CASE WHEN b.x < a.x THEN 2
      |             WHEN b.x = a.x THEN 1 ELSE 0 END) + 2 AS BIGINT)
      |      AS r2,
      |    CAST(SUM(CASE WHEN b.y < a.y THEN 2
      |             WHEN b.y = a.y THEN 1 ELSE 0 END) + 2 AS BIGINT)
      |      AS s2
      |  FROM ids a JOIN ids b ON a.id <> b.id
      |  GROUP BY a.id),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    SUM(CAST(q4 AS HUGEINT) * CAST(q4 - 4 AS HUGEINT)) AS s1,
      |    SUM(CAST(r2 - 2 AS HUGEINT) * CAST(r2 - 4 AS HUGEINT) *
      |        CAST(s2 - 2 AS HUGEINT) * CAST(s2 - 4 AS HUGEINT)) AS s2s,
      |    SUM(CAST(r2 - 4 AS HUGEINT) * CAST(s2 - 4 AS HUGEINT) *
      |        CAST(q4 AS HUGEINT)) AS s3
      |  FROM pj)
      |SELECT n,
      |  CAST(CAST(30.0 * CAST(
      |    (CAST(n AS HUGEINT) - 2) * (CAST(n AS HUGEINT) - 3) * s1 +
      |    s2s - 2 * (CAST(n AS HUGEINT) - 2) * s3 AS DOUBLE) /
      |    CAST(16 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1) *
      |    (CAST(n AS HUGEINT) - 2) * (CAST(n AS HUGEINT) - 3) *
      |    (CAST(n AS HUGEINT) - 4) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS hoeffding_d
      |FROM ag""".stripMargin

  // q470: Welch heteroskedastic one-way ANOVA (Stats.welchAnova) of
  // per-event cents across event types — W*, df1 and the fractional
  // Welch–Satterthwaite df2, no fake F CDF. The oracle replays the
  // weight chain in the identical d6 stage order.
  def q470WelchAnova(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.welchAnova(
      ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x")),
      "event_type", "x")

  val q470Sql: String =
    """WITH b AS (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |gg AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
      |  FROM b GROUP BY 1),
      |pg AS (
      |  SELECT g, n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean,
      |    CAST(CAST(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS var
      |  FROM gg),
      |pw AS (
      |  SELECT g, n, mean, var,
      |    CAST(CAST(CAST(n AS DOUBLE) / var AS DECIMAL(28,6))
      |      AS DOUBLE) AS w
      |  FROM pg),
      |ro AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    SUM(CAST(w AS DECIMAL(28,6))) AS wsum,
      |    SUM(CAST(CAST(CAST(w * mean AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS wm
      |  FROM pw),
      |mw AS (
      |  SELECT k, wsum,
      |    CAST(CAST(CAST(wm AS DOUBLE) / CAST(wsum AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mweighted
      |  FROM ro),
      |af AS (
      |  SELECT MAX(mw.k) AS k,
      |    SUM(CAST(CAST(CAST(pw.w * (pw.mean - mw.mweighted) *
      |      (pw.mean - mw.mweighted) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS num,
      |    SUM(CAST(CAST(CAST((1.0 - pw.w / CAST(mw.wsum AS DOUBLE)) *
      |      (1.0 - pw.w / CAST(mw.wsum AS DOUBLE)) /
      |      CAST(pw.n - 1 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6))) AS lamsum
      |  FROM pw CROSS JOIN mw),
      |lm AS (
      |  SELECT k, num,
      |    CAST(CAST(3.0 * CAST(lamsum AS DOUBLE) /
      |      (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS lam
      |  FROM af)
      |SELECT k,
      |  CAST(CAST((CAST(num AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) /
      |    (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0) * lam / 3.0)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS w_stat,
      |  CAST(k - 1 AS BIGINT) AS df1,
      |  CAST(CAST(1.0 / lam AS DECIMAL(28,6)) AS DOUBLE) AS df2
      |FROM lm""".stripMargin

  // q471: Mood's median test (Stats.moodMedianTest) — do the event
  // types straddle the pooled cent median evenly? χ² vs the shared
  // 95% critical table (df 4 → 9.487729 in the oracle). The oracle
  // replays the exact lower-median pick and the d6 cell terms.
  def q471MoodMedian(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.moodMedianTest(
      ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x")),
      "event_type", "x")

  val q471Sql: String =
    """WITH b AS (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT g, x,
      |    CAST(row_number() OVER (ORDER BY x ASC, g ASC) AS BIGINT)
      |      AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM b),
      |md AS (SELECT x AS med FROM r WHERE rk = (n + 1) // 2),
      |ct AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN x > med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_above,
      |    CAST(MAX(med) AS BIGINT) AS pooled_median
      |  FROM b CROSS JOIN md GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
      |         CAST(SUM(n_above) AS BIGINT) AS ta,
      |         CAST(COUNT(*) AS BIGINT) AS k FROM ct),
      |tm AS (
      |  SELECT g, ct.n, n_above, pooled_median, tt.k,
      |    CASE WHEN tt.ta > 0 AND tt.ta < tt.tn THEN
      |      CAST(CAST(
      |        (CAST(n_above AS DOUBLE) - CAST(ct.n AS DOUBLE) *
      |          (CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE))) *
      |        (CAST(n_above AS DOUBLE) - CAST(ct.n AS DOUBLE) *
      |          (CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE))) /
      |        (CAST(ct.n AS DOUBLE) *
      |          (CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE))) +
      |        (CAST(ct.n - n_above AS DOUBLE) - CAST(ct.n AS DOUBLE) *
      |          (1.0 - CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE))) *
      |        (CAST(ct.n - n_above AS DOUBLE) - CAST(ct.n AS DOUBLE) *
      |          (1.0 - CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE))) /
      |        (CAST(ct.n AS DOUBLE) *
      |          (1.0 - CAST(tt.ta AS DOUBLE) / CAST(tt.tn AS DOUBLE)))
      |        AS DECIMAL(28,6)) AS DECIMAL(28,6)) END AS term
      |  FROM ct CROSS JOIN tt),
      |ag AS (
      |  SELECT CAST(MAX(k) - 1 AS BIGINT) AS df,
      |    CAST(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS chi2
      |  FROM tm)
      |SELECT tm.g AS event_type, tm.n, tm.n_above, tm.pooled_median,
      |  ag.df, ag.chi2,
      |  CAST(CASE WHEN ag.chi2 IS NOT NULL AND
      |    ag.chi2 >= 9.487729 THEN 1 ELSE 0 END AS INT) AS significant
      |FROM tm CROSS JOIN ag""".stripMargin

  // q472: Ansari–Bradley scale test (Stats.ansariBradley) — are the
  // user-parity arms equally dispersed in cents? Inward-ranking
  // doubled scores with the general tie-robust linear-rank moments.
  // The oracle replays the score window and the exact E/Var chain.
  def q472AnsariBradley(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.ansariBradley(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        round(col("value") * 100).cast("long").as("x")),
      "arm", "x")

  val q472Sql: String = {
    val p = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH b AS (
      |  SELECT user_id % 2 AS a, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT a, x,
      |    2 * CAST(rank() OVER (ORDER BY x ASC) AS BIGINT) +
      |      COUNT(*) OVER (PARTITION BY x) - 1 AS r2,
      |    COUNT(*) OVER () AS n
      |  FROM b),
      |sc AS (
      |  SELECT a, n, LEAST(r2, 2 * (n + 1) - r2) AS s2 FROM r),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a = 1 THEN s2 ELSE 0 END) AS BIGINT)
      |      AS ab2,
      |    SUM(CAST(s2 AS HUGEINT)) AS ss,
      |    SUM(CAST(s2 AS HUGEINT) * CAST(s2 AS HUGEINT)) AS ssq
      |  FROM sc),
      |st AS (
      |  SELECT n, n0, n1,
      |    CAST(CAST(CAST(ab2 AS DOUBLE) / 2.0 AS DECIMAL(28,6))
      |      AS DOUBLE) AS ab_stat,
      |    CASE WHEN CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) *
      |      (CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE) -
      |       CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |       (CAST(n AS DOUBLE) - 1.0)) > 0 THEN
      |      CAST(CAST((CAST(ab2 AS DOUBLE) - CAST(n1 AS DOUBLE) *
      |        CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) /
      |        sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) *
      |          (CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE) -
      |           CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
      |          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |           (CAST(n AS DOUBLE) - 1.0)))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS z
      |  FROM ag),
      |pp AS (
      |  SELECT n, n0, n1, ab_stat, z,
      |    CASE WHEN z IS NOT NULL THEN
      |      CAST(CAST($p AS DECIMAL(28,6)) AS DOUBLE) END AS p_value
      |  FROM st)
      |SELECT n, n0, n1, ab_stat, z, p_value,
      |  CAST(CASE WHEN p_value IS NOT NULL AND p_value <= 0.05
      |    THEN 1 ELSE 0 END AS INT) AS significant
      |FROM pp""".stripMargin
  }

  // q473: Lin's concordance correlation (Stats.linConcordance) —
  // does each user's second-half spend AGREE with the first half
  // (y = x), not merely correlate? CCC, Pearson r and the bias term.
  // The oracle replays the cleared moments and the shared-n² forms.
  def q473LinCcc(s: SparkSession, dir: String): DataFrame = {
    val split = 1705363200000000L // 2024-01-16T00:00Z in epoch micros
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(sum(when(col("ts_us") < split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    graft.pipeline.Stats.linConcordance(units, "x", "y")
  }

  val q473Sql: String =
    """WITH u AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM u),
      |cl AS (
      |  SELECT n, sx, sy,
      |    CAST(n AS HUGEINT) * sxx - sx * sx AS Sxx,
      |    CAST(n AS HUGEINT) * sxy - sx * sy AS Sxy,
      |    CAST(n AS HUGEINT) * syy - sy * sy AS Syy
      |  FROM ag),
      |st AS (
      |  SELECT n, Sxx, Syy,
      |    CAST(Sxx + Syy + (sx - sy) * (sx - sy) AS DOUBLE) AS den,
      |    CASE WHEN CAST(Sxx + Syy + (sx - sy) * (sx - sy) AS DOUBLE)
      |      > 0 THEN
      |      CAST(CAST(2.0 * CAST(Sxy AS DOUBLE) /
      |        CAST(Sxx + Syy + (sx - sy) * (sx - sy) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS ccc,
      |    CASE WHEN Sxx > 0 AND Syy > 0 THEN
      |      CAST(CAST(CAST(Sxy AS DOUBLE) /
      |        sqrt(CAST(Sxx AS DOUBLE) * CAST(Syy AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE) END AS pearson_r
      |  FROM cl)
      |SELECT n, ccc, pearson_r,
      |  CASE WHEN ccc IS NOT NULL AND pearson_r IS NOT NULL AND
      |    pearson_r <> 0 THEN
      |    CAST(CAST(ccc / pearson_r AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS bias_correction
      |FROM st""".stripMargin

  // q474: Bland–Altman agreement limits (Stats.blandAltman) on the
  // same half-month spend pairs — bias, ±1.959964·SD limits and the
  // strictly-outside count. The oracle replays the cleared SD and
  // the boundary convention.
  def q474BlandAltman(s: SparkSession, dir: String): DataFrame = {
    val split = 1705363200000000L
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(sum(when(col("ts_us") < split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    graft.pipeline.Stats.blandAltman(units, "x", "y")
  }

  val q474Sql: String =
    """WITH u AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) -
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS d
      |  FROM events GROUP BY user_id),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(d AS HUGEINT)) AS s,
      |    SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS q
      |  FROM u),
      |st AS (
      |  SELECT n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS bias,
      |    CAST(CAST(sqrt(CAST(CAST(
      |      CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS sd_diff
      |  FROM ag),
      |li AS (
      |  SELECT n, bias, sd_diff,
      |    CAST(CAST(bias - 1.959964 * sd_diff AS DECIMAL(28,6))
      |      AS DOUBLE) AS lower_limit,
      |    CAST(CAST(bias + 1.959964 * sd_diff AS DECIMAL(28,6))
      |      AS DOUBLE) AS upper_limit
      |  FROM st)
      |SELECT li.n, li.bias, li.sd_diff, li.lower_limit, li.upper_limit,
      |  (SELECT CAST(COUNT(*) FILTER (CAST(u.d AS DOUBLE) <
      |    li.lower_limit OR CAST(u.d AS DOUBLE) > li.upper_limit)
      |    AS BIGINT) FROM u) AS n_outside
      |FROM li""".stripMargin

  // q475: Gwet's AC1 agreement (Stats.gwetAC1) between the two
  // planted raters (q265's construction, shift on doc_id % 9 < 2) —
  // the skew-robust kappa. The oracle replays the pooled marginals
  // and the d6-per-category chance sum.
  def q475GwetAc1(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val a = least(floor(length(col("text")) / 100).cast("long"), lit(3L))
    val b = least(floor((length(col("text")) +
      when(col("doc_id") % 9 < 2, 100).otherwise(0)) / 100).cast("long"),
      lit(3L))
    graft.pipeline.Stats.gwetAC1(
      docs.select(a.as("rater_a"), b.as("rater_b")),
      "rater_a", "rater_b")
  }

  val q475Sql: String =
    """WITH rt AS (
      |  SELECT
      |    CAST(LEAST(CAST(floor(length(text) / 100) AS BIGINT), 3)
      |      AS VARCHAR) AS a,
      |    CAST(LEAST(CAST(floor((length(text) +
      |      CASE WHEN doc_id % 9 < 2 THEN 100 ELSE 0 END) / 100)
      |      AS BIGINT), 3) AS VARCHAR) AS b
      |  FROM documents),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
      |           AS agree
      |       FROM rt),
      |cats AS (
      |  SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |    SELECT a AS c FROM rt UNION ALL SELECT b FROM rt)
      |  GROUP BY 1),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         CAST(SUM(cnt) AS BIGINT) AS tot FROM cats),
      |pis AS (
      |  SELECT CAST(CAST(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS pi, k
      |  FROM cats CROSS JOIN kk),
      |ea AS (
      |  SELECT CAST(MAX(k) AS BIGINT) AS k,
      |    SUM(CAST(CAST(CAST(pi * (1.0 - pi) AS DECIMAL(28,6))
      |      AS DOUBLE) AS DECIMAL(28,6))) AS esum
      |  FROM pis),
      |st AS (
      |  SELECT nn.n, ea.k,
      |    CAST(CAST(CAST(agree AS DOUBLE) / CAST(nn.n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS po,
      |    CASE WHEN ea.k > 1 THEN
      |      CAST(CAST(CAST(esum AS DOUBLE) / CAST(ea.k - 1 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE) ELSE 0.0 END AS pe_gwet
      |  FROM nn CROSS JOIN ea)
      |SELECT n AS n_items, k AS n_categories, po, pe_gwet,
      |  CASE WHEN pe_gwet < 1.0 THEN
      |    CAST(CAST((po - pe_gwet) / (1.0 - pe_gwet) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS ac1
      |FROM st""".stripMargin

  // q477: rank-biased overlap (Retrieval.rankBiasedOverlap) between
  // the first-half and second-half user spend rankings — the
  // top-weighted "did the leaderboard head move" readout at p = 0.9,
  // depth 20. The oracle inlines the SAME Scala-computed p^{d−1}/d
  // weight literals so both engines share every double bit.
  //
  // Rank plumbing (VERDICT r17 #2 — the last raw-row global-window
  // residue): RBO@20 only reads ranks ≤ 20, so each side's head comes
  // from a TakeOrderedAndProject top-`depth` (the q113 keySkew
  // discipline — map-side partial top-k, never a global sort of the
  // users frame). Ranks 1..depth within a head equal the global ranks
  // exactly (the head IS the first `depth` rows of the total order);
  // every user outside a head carries rank > depth and contributes 0
  // to every term, so the depth+1 sentinel on the union-pivoted frame
  // is term-for-term identical to the old full ranking — the oracle
  // replays the plain full-ranking SQL verbatim.
  def q477Rbo(s: SparkSession, dir: String): DataFrame = {
    val split = 1705363200000000L
    val depth = 20
    val W = org.apache.spark.sql.expressions.Window
    val units = ev(s, dir).groupBy(col("user_id"))
      .agg(sum(when(col("ts_us") < split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("ts_us") >= split,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    def head(metric: String, rk: String): DataFrame = {
      val ord = Seq(col(metric).desc, col("user_id").asc)
      // the row_number window runs over the ≤depth-row limit frame —
      // bounded by the code literal, not the corpus
      units.orderBy(ord: _*).limit(depth)
        .select(col("user_id"),
          row_number().over(W.partitionBy(lit(1)).orderBy(ord: _*))
            .as(rk))
    }
    val ranked = head("x", "_ra")
      .select(col("user_id"), col("_ra"),
        lit(null).cast("int").as("_rb"))
      .unionByName(head("y", "_rb")
        .select(col("user_id"), lit(null).cast("int").as("_ra"),
          col("_rb")))
      .groupBy(col("user_id"))
      .agg(coalesce(min(col("_ra")), lit(depth + 1)).as("rank_a"),
        coalesce(min(col("_rb")), lit(depth + 1)).as("rank_b"))
    graft.pipeline.Retrieval.rankBiasedOverlap(ranked,
      "rank_a", "rank_b", p = 0.9, depth = depth)
  }

  val q477Sql: String = {
    val xs = (1 to 20).map(d =>
      s"CAST(SUM(CASE WHEN ra <= $d AND rb <= $d THEN 1 ELSE 0 END) " +
        s"AS BIGINT) AS x$d").mkString(", ")
    val terms = (1 to 20).map(d =>
      "CAST(CAST(" + graft.pipeline.Retrieval.rboWeightSql(0.9, d) +
        s" * CAST(x$d AS DOUBLE) AS DECIMAL(28,6)) AS DECIMAL(28,6))")
      .mkString(" + ")
    val oneMinusP = (1.0 - 0.9).toString
    s"""WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) <
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
      |      1705363200000000 THEN CAST(round(value * 100) AS BIGINT)
      |      ELSE 0 END) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |r AS (
      |  SELECT
      |    row_number() OVER (ORDER BY x DESC, user_id ASC) AS ra,
      |    row_number() OVER (ORDER BY y DESC, user_id ASC) AS rb
      |  FROM u),
      |ag AS (SELECT $xs FROM r)
      |SELECT CAST(20 AS INT) AS depth, 0.9 AS p,
      |  x20 AS overlap_at_depth,
      |  CAST(CAST(CAST(x20 AS DOUBLE) / 20.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS agreement_at_depth,
      |  CAST(CAST($oneMinusP * CAST($terms AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS rbo
      |FROM ag""".stripMargin
  }

  // q478: Cohen's h proportion effect size (Stats.cohensH) of the
  // purchase rate between the user-parity arms — the arcsine-
  // stabilized gap beside the raw z. The oracle replays the exact
  // rationals and the d6 φ chain.
  def q478CohensH(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cohensH(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        (col("event_type") === "purchase").cast("long").as("x")),
      "arm", "x")

  val q478Sql: String =
    """WITH b AS (
      |  SELECT user_id % 2 AS a,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      |  FROM events),
      |ag AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN a = 0 THEN x ELSE 0 END) AS BIGINT) AS s0,
      |    CAST(SUM(CASE WHEN a = 1 THEN x ELSE 0 END) AS BIGINT) AS s1
      |  FROM b),
      |st AS (
      |  SELECT n0, n1,
      |    CAST(CAST(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p0,
      |    CAST(CAST(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p1,
      |    CAST(CAST(
      |      CAST(CAST(2.0 * asin(sqrt(CAST(s1 AS DOUBLE) /
      |        CAST(n1 AS DOUBLE))) AS DECIMAL(28,6)) AS DOUBLE) -
      |      CAST(CAST(2.0 * asin(sqrt(CAST(s0 AS DOUBLE) /
      |        CAST(n0 AS DOUBLE))) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS h
      |  FROM ag)
      |SELECT n0, n1, p0, p1, h,
      |  CASE WHEN abs(h) < 0.2 THEN 'negligible'
      |       WHEN abs(h) < 0.5 THEN 'small'
      |       WHEN abs(h) < 0.8 THEN 'medium'
      |       ELSE 'large' END AS magnitude
      |FROM st""".stripMargin

  // q479: indirect-standardization SMR (Stats.smrIndirect) — does
  // the odd-parity cohort purchase more than the even-parity
  // reference predicts once the time-of-day mix is held fixed?
  // Strata = the four 6-hour day slots. The oracle replays the
  // stratum rates and the d6 expected terms.
  def q479Smr(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.smrIndirect(
      ev(s, dir).select(
        (expr("ts_us div 21600000000") % 4L).as("slot"),
        col("user_id"),
        (col("event_type") === "purchase").cast("long").as("x")),
      "slot", col("user_id") % 2L === 0L, "x")

  val q479Sql: String =
    """WITH b AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) % 4
      |      AS s,
      |    user_id % 2 = 0 AS ref,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      |  FROM events),
      |bys AS (
      |  SELECT s,
      |    CAST(SUM(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nref,
      |    CAST(SUM(CASE WHEN ref THEN x ELSE 0 END) AS BIGINT)
      |      AS dref,
      |    CAST(SUM(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nstu,
      |    CAST(SUM(CASE WHEN NOT ref THEN x ELSE 0 END) AS BIGINT)
      |      AS dstu
      |  FROM b GROUP BY 1),
      |ex AS (
      |  SELECT s, dstu,
      |    CASE WHEN nstu > 0 THEN
      |      CAST(CAST(CAST(nstu AS DOUBLE) *
      |        CAST(CAST(CAST(dref AS DOUBLE) / CAST(nref AS DOUBLE)
      |          AS DECIMAL(28,6)) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DECIMAL(28,6))
      |      ELSE CAST(0 AS DECIMAL(28,6)) END AS expd
      |  FROM bys),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    CAST(SUM(dstu) AS BIGINT) AS observed,
      |    SUM(expd) AS expsum
      |  FROM ex)
      |SELECT n_strata, observed,
      |  CAST(CAST(CAST(expsum AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS expected,
      |  CASE WHEN expsum > 0 THEN
      |    CAST(CAST(CAST(observed AS DOUBLE) / CAST(expsum AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS smr
      |FROM ag""".stripMargin

  // q480: Benjamini–Yekutieli FDR (Stats.byFdr) — q264's step-up
  // under arbitrary dependence: the harmonic c(m) factor accumulates
  // d6(1/i) terms in a decimal window sum. Same planted p-value
  // construction, salt "by".
  def q480ByFdr(s: SparkSession, dir: String): DataFrame = {
    val hyp = ev(s, dir)
      .select((col("user_id") % 40).as("slice_id")).distinct()
      .withColumn("p_raw",
        graft.pipeline.Sampling.portableHash(col("slice_id"), "by")
          .cast("double") / 1000000.0)
    graft.pipeline.Stats.byFdr(hyp, "slice_id", "p_raw", q = 0.10)
  }

  val q480Sql: String =
    """WITH hyp AS (
      |  SELECT DISTINCT user_id % 40 AS slice_id FROM events),
      |p AS (
      |  SELECT slice_id,
      |    CAST(CAST(concat('0x', substring(md5('by:' ||
      |      CAST(slice_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) / 1000000.0 AS pv
      |  FROM hyp),
      |rk AS (
      |  SELECT slice_id, pv,
      |    CAST(row_number() OVER (ORDER BY pv ASC, slice_id ASC)
      |      AS BIGINT) AS rank,
      |    COUNT(*) OVER () AS m
      |  FROM p),
      |cc AS (
      |  SELECT slice_id, pv, rank, m,
      |    CAST(SUM(CAST(CAST(CAST(1.0 / CAST(rank AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS DECIMAL(28,6))) OVER ()
      |      AS DOUBLE) AS c
      |  FROM rk),
      |ks AS (
      |  SELECT COALESCE(MAX(CASE WHEN pv * CAST(m AS DOUBLE) * c <=
      |    CAST(rank AS DOUBLE) * 0.10 THEN rank END), 0) AS kstar
      |  FROM cc),
      |adj AS (
      |  SELECT slice_id, pv, rank, c,
      |    MIN(LEAST(pv * CAST(m AS DOUBLE) * c /
      |      CAST(rank AS DOUBLE), 1.0))
      |      OVER (ORDER BY rank DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
      |  FROM cc)
      |SELECT a.slice_id,
      |  CAST(CAST(a.pv AS DECIMAL(28,6)) AS DOUBLE) AS p_value,
      |  a.rank,
      |  CAST(CAST(a.c AS DECIMAL(28,6)) AS DOUBLE) AS c_m,
      |  CAST(CAST(a.padj AS DECIMAL(28,6)) AS DOUBLE) AS p_adj,
      |  CAST(CASE WHEN a.rank <= ks.kstar THEN 1 ELSE 0 END AS INT)
      |    AS rejected
      |FROM adj a CROSS JOIN ks""".stripMargin

  // q481: trimmed/winsorized mean panel (Stats.trimmedStats) of
  // per-event cents per type at a 10% trim — the robust-location
  // readout beside the raw mean. The oracle replays the exact rank
  // blocks and the clamped order statistics.
  def q481TrimmedStats(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.trimmedStats(
      ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x")),
      "event_type", "x", trimPpm = 100000L)

  val q481Sql: String =
    """WITH b AS (
      |  SELECT event_type AS k, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT k, x,
      |    CAST(row_number() OVER (PARTITION BY k ORDER BY x ASC)
      |      AS BIGINT) AS rk,
      |    COUNT(*) OVER (PARTITION BY k) AS n
      |  FROM b),
      |g AS (SELECT *, (100000 * n) // 1000000 AS gg FROM r),
      |ag AS (
      |  SELECT k, CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(MAX(gg) AS BIGINT) AS n_trimmed,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CASE WHEN rk > gg AND rk <= n - gg
      |      THEN CAST(x AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)
      |      AS smid,
      |    CAST(MAX(CASE WHEN rk = gg + 1 THEN x END) AS BIGINT) AS lo,
      |    CAST(MAX(CASE WHEN rk = n - gg THEN x END) AS BIGINT) AS hi
      |  FROM g GROUP BY 1)
      |SELECT k AS event_type, n, n_trimmed,
      |  CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_raw,
      |  CAST(CAST(CAST(smid AS DOUBLE) /
      |    CAST(n - 2 * n_trimmed AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS mean_trimmed,
      |  CAST(CAST(CAST(smid + CAST(n_trimmed AS HUGEINT) *
      |      CAST(lo AS HUGEINT) + CAST(n_trimmed AS HUGEINT) *
      |      CAST(hi AS HUGEINT) AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS mean_winsorized
      |FROM ag""".stripMargin

  // q484: Brunner–Munzel test (Stats.brunnerMunzel) — do odd-user
  // events stochastically dominate even-user events in cents, judged
  // with per-arm placement variances (the nonparametric
  // Behrens–Fisher gate q103's MWU can't give)? The oracle replays
  // the doubled-midrank placements, the cleared per-arm variances and
  // the fixed double assembly.
  def q484BrunnerMunzel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.brunnerMunzel(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        round(col("value") * 100).cast("long").as("x")),
      "arm", "x")

  val q484Sql: String =
    """WITH b AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS a,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |r AS (
      |  SELECT a,
      |    CAST(2 * rank() OVER (ORDER BY x ASC) +
      |      COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS gr2,
      |    CAST(2 * rank() OVER (PARTITION BY a ORDER BY x ASC) +
      |      COUNT(*) OVER (PARTITION BY a, x) - 1 AS BIGINT) AS ar2
      |  FROM b),
      |q AS (SELECT a, gr2, gr2 - ar2 AS q2 FROM r),
      |pa AS (
      |  SELECT a, CAST(COUNT(*) AS BIGINT) AS na,
      |    SUM(CAST(gr2 AS HUGEINT)) AS sr,
      |    SUM(CAST(q2 AS HUGEINT)) AS sq
      |  FROM q GROUP BY 1),
      |cl AS (
      |  SELECT q.a,
      |    SUM((CAST(pa.na AS HUGEINT) * q.q2 - pa.sq) *
      |        (CAST(pa.na AS HUGEINT) * q.q2 - pa.sq)) AS cs
      |  FROM q JOIN pa ON pa.a = q.a GROUP BY 1),
      |pv AS (
      |  SELECT pa.a, pa.na, pa.sr,
      |    CAST(CAST(CAST(cl.cs AS DOUBLE) /
      |      (4.0 * CAST(pa.na AS DOUBLE) * CAST(pa.na AS DOUBLE) *
      |       (CAST(pa.na AS DOUBLE) - 1.0)) AS DECIMAL(28,6))
      |      AS DOUBLE) AS v
      |  FROM pa JOIN cl ON cl.a = pa.a),
      |one AS (
      |  SELECT MAX(CASE WHEN a = 0 THEN na END) AS n0,
      |    MAX(CASE WHEN a = 1 THEN na END) AS n1,
      |    MAX(CASE WHEN a = 0 THEN sr END) AS sr0,
      |    MAX(CASE WHEN a = 1 THEN sr END) AS sr1,
      |    MAX(CASE WHEN a = 0 THEN v END) AS v0,
      |    MAX(CASE WHEN a = 1 THEN v END) AS v1
      |  FROM pv),
      |d AS (
      |  SELECT n0, n1,
      |    CAST(sr0 AS DOUBLE) / (2.0 * CAST(n0 AS DOUBLE)) AS rb0,
      |    CAST(sr1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS rb1,
      |    CAST(n0 AS DOUBLE) * v0 AS nv0,
      |    CAST(n1 AS DOUBLE) * v1 AS nv1
      |  FROM one)
      |SELECT n0, n1,
      |  CAST(CAST((rb1 - (CAST(n1 AS DOUBLE) + 1.0) / 2.0) /
      |    CAST(n0 AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS p_hat,
      |  CASE WHEN nv0 + nv1 > 0.0 THEN
      |    CAST(CAST(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
      |      (rb1 - rb0) /
      |      ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
      |       sqrt(nv0 + nv1)) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS bm_stat,
      |  CASE WHEN nv0 + nv1 > 0.0 THEN
      |    CAST(CAST((nv0 + nv1) * (nv0 + nv1) /
      |      (nv0 * nv0 / (CAST(n0 AS DOUBLE) - 1.0) +
      |       nv1 * nv1 / (CAST(n1 AS DOUBLE) - 1.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS df
      |FROM d""".stripMargin

  // q485: Quade test (Stats.quadeTest) — blocked by day-of-week
  // (ts_us div 86400000000 % 7), do the event types differ in total
  // daily cents once the informative days weigh more? The oracle
  // replays the cell build, both doubled midrank windows and the
  // cleared F rational.
  def q485Quade(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.quadeTest(
      Tables.eventsUs(s, dir).select(
          expr("ts_us div 86400000000 % 7").as("dow"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("dow"), col("event_type"))
        .agg(sum(col("cents")).as("x")),
      "dow", "event_type", "x")

  val q485Sql: String =
    """WITH c AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 % 7 AS b,
      |    event_type AS t,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |k AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k,
      |        CAST(COUNT(DISTINCT b) AS BIGINT) AS nb FROM c),
      |r AS (
      |  SELECT c.b, c.t, k.k, k.nb,
      |    CAST(2 * rank() OVER (PARTITION BY c.b ORDER BY c.x ASC) +
      |      COUNT(*) OVER (PARTITION BY c.b, c.x) - 1 AS BIGINT) AS r2,
      |    MAX(c.x) OVER (PARTITION BY c.b) -
      |      MIN(c.x) OVER (PARTITION BY c.b) AS rng
      |  FROM c CROSS JOIN k),
      |bl AS (
      |  SELECT b, CAST(2 * rank() OVER (ORDER BY rng ASC) +
      |      COUNT(*) OVER (PARTITION BY rng) - 1 AS BIGINT) AS q2
      |  FROM (SELECT DISTINCT b, rng FROM r)),
      |tt AS (
      |  SELECT r.t, r.nb,
      |    CAST(bl.q2 AS HUGEINT) * CAST(r.r2 - (r.k + 1) AS HUGEINT)
      |      AS s
      |  FROM r JOIN bl ON bl.b = r.b),
      |pt AS (
      |  SELECT t, MAX(nb) AS nb, SUM(s) AS sj, SUM(s * s) AS tq
      |  FROM tt GROUP BY 1),
      |ro AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k2, MAX(nb) AS nb,
      |    SUM(tq) AS a, SUM(sj * sj) AS bsum
      |  FROM pt)
      |SELECT pt.t AS treatment, CAST(pt.sj AS BIGINT) AS s4,
      |  CASE WHEN CAST(ro.nb AS HUGEINT) * ro.a - ro.bsum > 0 THEN
      |    CAST(CAST((CAST(ro.nb AS DOUBLE) - 1.0) *
      |      CAST(ro.bsum AS DOUBLE) /
      |      CAST(CAST(ro.nb AS HUGEINT) * ro.a - ro.bsum AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS f_stat,
      |  CAST(ro.k2 - 1 AS BIGINT) AS df1,
      |  CAST((ro.nb - 1) * (ro.k2 - 1) AS BIGINT) AS df2
      |FROM pt CROSS JOIN ro""".stripMargin

  // q486: binary diagnostic-test panel (Stats.diagnosticPanel) — how
  // well does "cents >= 5000" predict a purchase event?
  // Sens/spec with Wilson 95% bounds, predictive values, LR±,
  // Youden's J and the DOR off one exact 2×2. The oracle replays the
  // cells and the z = 1.96 Wilson assembly in the identical order.
  def q486DiagnosticPanel(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.diagnosticPanel(
      ev(s, dir).select(
        (col("event_type") === "purchase").cast("int").as("truth"),
        (round(col("value") * 100).cast("long") >= 5000L).cast("int")
          .as("pred")),
      "truth", "pred")

  val q486Sql: String = {
    val z = "1.96"
    val z2 = (1.96 * 1.96).toString
    s"""WITH b AS (
      |  SELECT CAST(event_type = 'purchase' AS INT) AS t,
      |    CAST(CAST(round(value * 100) AS BIGINT) >= 5000 AS INT) AS p
      |  FROM events),
      |ag AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tn,
      |    CAST(SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fn
      |  FROM b),
      |st AS (
      |  SELECT tp, fp, tn, fn,
      |    CASE WHEN tp + fn > 0 THEN CAST(CAST(
      |      CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS sensitivity,
      |    CASE WHEN tp + fn > 0 THEN CAST(CAST(
      |      ((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) +
      |        $z2 / (2.0 * CAST(tp + fn AS DOUBLE))) -
      |       $z * sqrt((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) *
      |         (1.0 - CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) +
      |         $z2 / (4.0 * CAST(tp + fn AS DOUBLE))) /
      |         CAST(tp + fn AS DOUBLE))) /
      |      (1.0 + $z2 / CAST(tp + fn AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS sens_lo,
      |    CASE WHEN tp + fn > 0 THEN CAST(CAST(
      |      ((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) +
      |        $z2 / (2.0 * CAST(tp + fn AS DOUBLE))) +
      |       $z * sqrt((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) *
      |         (1.0 - CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) +
      |         $z2 / (4.0 * CAST(tp + fn AS DOUBLE))) /
      |         CAST(tp + fn AS DOUBLE))) /
      |      (1.0 + $z2 / CAST(tp + fn AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS sens_hi,
      |    CASE WHEN tn + fp > 0 THEN CAST(CAST(
      |      CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS specificity,
      |    CASE WHEN tn + fp > 0 THEN CAST(CAST(
      |      ((CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) +
      |        $z2 / (2.0 * CAST(tn + fp AS DOUBLE))) -
      |       $z * sqrt((CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) *
      |         (1.0 - CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) +
      |         $z2 / (4.0 * CAST(tn + fp AS DOUBLE))) /
      |         CAST(tn + fp AS DOUBLE))) /
      |      (1.0 + $z2 / CAST(tn + fp AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS spec_lo,
      |    CASE WHEN tn + fp > 0 THEN CAST(CAST(
      |      ((CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) +
      |        $z2 / (2.0 * CAST(tn + fp AS DOUBLE))) +
      |       $z * sqrt((CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) *
      |         (1.0 - CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE)) +
      |         $z2 / (4.0 * CAST(tn + fp AS DOUBLE))) /
      |         CAST(tn + fp AS DOUBLE))) /
      |      (1.0 + $z2 / CAST(tn + fp AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS spec_hi,
      |    CASE WHEN tp + fp > 0 THEN CAST(CAST(
      |      CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS ppv,
      |    CASE WHEN tn + fn > 0 THEN CAST(CAST(
      |      CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS npv
      |  FROM ag)
      |SELECT st.*,
      |  CASE WHEN specificity IS NOT NULL AND specificity < 1.0 AND
      |      sensitivity IS NOT NULL THEN
      |    CAST(CAST(sensitivity / (1.0 - specificity)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS lr_plus,
      |  CASE WHEN specificity IS NOT NULL AND specificity > 0.0 AND
      |      sensitivity IS NOT NULL THEN
      |    CAST(CAST((1.0 - sensitivity) / specificity
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS lr_minus,
      |  CASE WHEN sensitivity IS NOT NULL AND specificity IS NOT NULL
      |      THEN CAST(CAST(sensitivity + specificity - 1.0
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS youden_j,
      |  CASE WHEN fp > 0 AND fn > 0 THEN
      |    CAST(CAST(CAST(tp * tn AS DOUBLE) / CAST(fp * fn AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS dor
      |FROM st""".stripMargin
  }

  // q487: Hosmer–Lemeshow calibration test (Stats.hosmerLemeshow) —
  // a deterministic md5-derived ppm score judged as a "purchase
  // probability" across 10 risk deciles (a score that ISN'T a
  // calibrated probability should fail, and does). The oracle replays
  // the (prob, id) total-order decile cut and the exact rational χ²
  // terms; df 8 judged against the shared 15.507313 critical literal.
  def q487HosmerLemeshow(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.hosmerLemeshow(
      ev(s, dir).select(col("event_id"),
        graft.pipeline.Sampling.portableHash(col("event_id"), "hl")
          .as("p_ppm"),
        (col("event_type") === "purchase").cast("int").as("y")),
      "event_id", "p_ppm", "y", groups = 10)

  val q487Sql: String =
    """WITH b AS (
      |  SELECT event_id,
      |    CAST(concat('0x', substring(md5('hl:' ||
      |      CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS p,
      |    CAST(event_type = 'purchase' AS INT) AS y
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY p ASC, event_id ASC)
      |      AS BIGINT) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM b),
      |g AS (SELECT *, ((rk - 1) * 10) // n AS grp FROM r),
      |ag AS (
      |  SELECT grp AS cal_group, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS obs_events,
      |    SUM(CAST(p AS HUGEINT)) AS sp
      |  FROM g GROUP BY 1),
      |tm AS (
      |  SELECT cal_group, n, obs_events,
      |    CAST(CAST(CAST(sp AS DOUBLE) / 1000000.0 AS DECIMAL(28,6))
      |      AS DOUBLE) AS exp_events,
      |    CASE WHEN sp > 0 AND sp < CAST(n AS HUGEINT) * 1000000 THEN
      |      CAST(CAST(CAST(
      |        (CAST(obs_events AS HUGEINT) * 1000000 - sp) *
      |        (CAST(obs_events AS HUGEINT) * 1000000 - sp) *
      |        CAST(n AS HUGEINT) AS DOUBLE) /
      |        CAST(sp * (CAST(n AS HUGEINT) * 1000000 - sp) AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DECIMAL(28,6)) END AS term,
      |    CASE WHEN sp > 0 AND sp < CAST(n AS HUGEINT) * 1000000
      |      THEN 0 ELSE 1 END AS degen
      |  FROM ag),
      |ch AS (
      |  SELECT CASE WHEN SUM(degen) = 0 THEN
      |    CAST(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) END AS chi2
      |  FROM tm)
      |SELECT tm.cal_group, tm.n, tm.obs_events, tm.exp_events,
      |  ch.chi2, CAST(8 AS BIGINT) AS df,
      |  CASE WHEN ch.chi2 IS NOT NULL THEN
      |    CAST(ch.chi2 >= 15.507313 AS INT) END AS significant
      |FROM tm CROSS JOIN ch""".stripMargin

  // q488: c-chart (Timeseries.cChart) — daily error-event counts
  // against Poisson ±3σ limits around the mean; days with zero
  // errors don't enter the frame (the chart monitors observed
  // inspection units). The oracle replays the d6 centre and the
  // fixed-order limits.
  def q488CChart(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.cChart(
      Tables.eventsUs(s, dir).filter(col("event_type") === "error")
        .groupBy(expr("ts_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_errors")),
      "day", "n_errors")

  val q488Sql: String =
    """WITH u AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS unit,
      |    CAST(COUNT(*) AS BIGINT) AS n_defects
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |cb AS (
      |  SELECT CAST(CAST(CAST(SUM(CAST(n_defects AS HUGEINT))
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) AS c_bar
      |  FROM u)
      |SELECT u.unit, u.n_defects, cb.c_bar,
      |  CAST(CAST(cb.c_bar + 3.0 * sqrt(cb.c_bar) AS DECIMAL(28,6))
      |    AS DOUBLE) AS ucl,
      |  CAST(CAST(greatest(0.0, cb.c_bar - 3.0 * sqrt(cb.c_bar))
      |    AS DECIMAL(28,6)) AS DOUBLE) AS lcl,
      |  CAST(CAST(u.n_defects AS DOUBLE) >
      |      CAST(CAST(cb.c_bar + 3.0 * sqrt(cb.c_bar)
      |        AS DECIMAL(28,6)) AS DOUBLE) OR
      |    CAST(u.n_defects AS DOUBLE) <
      |      CAST(CAST(greatest(0.0, cb.c_bar - 3.0 * sqrt(cb.c_bar))
      |        AS DECIMAL(28,6)) AS DOUBLE) AS INT) AS out_of_control
      |FROM u CROSS JOIN cb""".stripMargin

  // q489: u-chart (Timeseries.uChart) — daily error RATE per event
  // with per-day limits ū ± 3√(ū/nᵢ): busier days get tighter
  // limits. The oracle replays the d6 rate/limit chain.
  def q489UChart(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.uChart(
      Tables.eventsUs(s, dir)
        .groupBy(expr("ts_us div 86400000000").as("day"))
        .agg(sum((col("event_type") === "error").cast("long"))
          .as("n_errors"), count(lit(1)).as("n_events")),
      "day", "n_errors", "n_events")

  val q489Sql: String =
    """WITH u AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS unit,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_defects,
      |    CAST(COUNT(*) AS BIGINT) AS n_units
      |  FROM events GROUP BY 1),
      |ub AS (
      |  SELECT CAST(CAST(CAST(SUM(CAST(n_defects AS HUGEINT))
      |    AS DOUBLE) / CAST(SUM(CAST(n_units AS HUGEINT)) AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS u_bar
      |  FROM u),
      |st AS (
      |  SELECT u.unit, u.n_defects, u.n_units,
      |    CAST(CAST(CAST(u.n_defects AS DOUBLE) /
      |      CAST(u.n_units AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS uu,
      |    ub.u_bar,
      |    CAST(CAST(ub.u_bar + 3.0 *
      |      sqrt(ub.u_bar / CAST(u.n_units AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS ucl,
      |    CAST(CAST(greatest(0.0, ub.u_bar - 3.0 *
      |      sqrt(ub.u_bar / CAST(u.n_units AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS lcl
      |  FROM u CROSS JOIN ub)
      |SELECT unit, n_defects, n_units, uu AS u, u_bar, ucl, lcl,
      |  CAST(uu > ucl OR uu < lcl AS INT) AS out_of_control
      |FROM st""".stripMargin

  // q490: permutation entropy (Timeseries.permutationEntropy) of each
  // event type's 6h-bucket cents series at m = 3 — the ordinal
  // complexity readout (trend→0, noise→1). The oracle replays the
  // stable-tie pairwise-comparison pattern ids and the d6-per-term
  // entropy with the inlined ln(3!) literal.
  def q490PermEntropy(s: SparkSession, dir: String): DataFrame =
    graft.ops.Timeseries.permutationEntropy(
      Tables.eventsUs(s, dir)
        .groupBy(col("event_type"),
          expr("ts_us div 21600000000").as("b"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x")),
      "event_type", "b", "x", m = 3)

  val q490Sql: String = {
    val ln6 = math.log(6.0).toString
    s"""WITH c AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000 AS b,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |ld AS (
      |  SELECT k, x,
      |    lead(x, 1) OVER (PARTITION BY k ORDER BY b ASC) AS x1,
      |    lead(x, 2) OVER (PARTITION BY k ORDER BY b ASC) AS x2
      |  FROM c),
      |pat AS (
      |  SELECT k,
      |    CAST(CASE WHEN x1 < x THEN 1 ELSE 0 END +
      |      CASE WHEN x2 < x THEN 2 ELSE 0 END +
      |      CASE WHEN x2 < x1 THEN 4 ELSE 0 END AS BIGINT) AS p
      |  FROM ld WHERE x2 IS NOT NULL),
      |ct AS (
      |  SELECT k, p, CAST(COUNT(*) AS BIGINT) AS c,
      |    SUM(COUNT(*)) OVER (PARTITION BY k) AS n
      |  FROM pat GROUP BY 1, 2),
      |tm AS (
      |  SELECT k, n,
      |    CAST(CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DECIMAL(28,6)) AS term
      |  FROM ct),
      |ag AS (
      |  SELECT k, CAST(MAX(n) AS BIGINT) AS n_windows,
      |    CAST(COUNT(*) AS BIGINT) AS n_patterns,
      |    CAST(CAST(-CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS entropy
      |  FROM tm GROUP BY 1)
      |SELECT k AS event_type, n_windows, n_patterns, entropy,
      |  CAST(CAST(entropy / $ln6 AS DECIMAL(28,6)) AS DOUBLE)
      |    AS pe_norm
      |FROM ag""".stripMargin
  }

  // q491: Lorenz curve (Stats.lorenzCurve) — cumulative spend share
  // of users by spend decile (the curve q272's Gini summarizes). The
  // oracle replays the (value, unit) total order, the exact cut
  // ranks and the d6 shares.
  def q491Lorenz(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.lorenzCurve(
      ev(s, dir).groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y")),
      "user_id", "y", points = 10)

  val q491Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT user_id, y,
      |    CAST(row_number() OVER (ORDER BY y ASC, user_id ASC)
      |      AS BIGINT) AS rk,
      |    COUNT(*) OVER () AS n,
      |    SUM(CAST(y AS HUGEINT)) OVER (ORDER BY y ASC, user_id ASC
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(CAST(y AS HUGEINT)) OVER () AS tot
      |  FROM u),
      |p AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS point)
      |SELECT p.point,
      |  CAST(CAST(CAST(p.point AS DOUBLE) / 10.0 AS DECIMAL(28,6))
      |    AS DOUBLE) AS pop_share,
      |  r.rk AS n_cum,
      |  CASE WHEN r.tot > 0 THEN
      |    CAST(CAST(CAST(r.cum AS DOUBLE) / CAST(r.tot AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS value_share
      |FROM r JOIN p ON r.rk = (p.point * r.n) // 10""".stripMargin

  // q492: Kakwani progressivity (Stats.kakwani) — is purchase spend
  // more concentrated among high-total-spend users than total spend
  // itself? K = C_purchase − G_total off ONE total-order rank. The
  // oracle replays the shared closed form.
  def q492Kakwani(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.kakwani(
      ev(s, dir).groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("t")),
      "user_id", "y", "t")

  val q492Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN
      |      CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS t
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT y, t,
      |    CAST(row_number() OVER (ORDER BY y ASC, user_id ASC)
      |      AS BIGINT) AS rk
      |  FROM u),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(t AS HUGEINT)) AS st,
      |    SUM(CAST(rk AS HUGEINT) * CAST(y AS HUGEINT)) AS sry,
      |    SUM(CAST(rk AS HUGEINT) * CAST(t AS HUGEINT)) AS srt
      |  FROM r),
      |ix AS (
      |  SELECT n,
      |    CASE WHEN sy > 0 THEN CAST(CAST(
      |      CAST(2 * sry - CAST(n + 1 AS HUGEINT) * sy AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * sy AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS gini_base,
      |    CASE WHEN st > 0 THEN CAST(CAST(
      |      CAST(2 * srt - CAST(n + 1 AS HUGEINT) * st AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * st AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS conc_contrib
      |  FROM ag)
      |SELECT n, gini_base, conc_contrib,
      |  CASE WHEN gini_base IS NOT NULL AND conc_contrib IS NOT NULL
      |    THEN CAST(CAST(conc_contrib - gini_base AS DECIMAL(28,6))
      |      AS DOUBLE) END AS kakwani
      |FROM ix""".stripMargin

  // q493: Anderson–Darling normality (Stats.andersonDarling) of
  // per-event cents — the tail-weighted gate (heavily skewed spend
  // should FAIL, and does). The oracle replays the d6(√d6) sd chain,
  // the shared erfc Φ, and the value-grouped substitution form
  // (j = n+1−i folds the reverse term onto the same value run, so
  // per-run closed-form index weights replace the rank self-join;
  // per-run d6 is the documented granularity — the class-6 rewrite).
  def q493AndersonDarling(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.andersonDarling(
      ev(s, dir).select(round(col("value") * 100).cast("long").as("x")),
      "x")

  val q493Sql: String = {
    val pz = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH b AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS x FROM events),
      |v AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM b GROUP BY 1),
      |r AS (
      |  SELECT x, t,
      |    CAST(COALESCE(SUM(t) OVER (ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb,
      |    CAST(SUM(t) OVER () AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT) * CAST(t AS HUGEINT)) OVER () AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT) *
      |      CAST(t AS HUGEINT)) OVER () AS q
      |  FROM v),
      |mz AS (
      |  SELECT x, t, cb, n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean,
      |    CAST(CAST(sqrt(CAST(CAST(
      |      CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sd
      |  FROM r),
      |z AS (
      |  SELECT x, t, cb, n, mean, sd,
      |    CASE WHEN sd > 0.0 THEN CAST(CAST(
      |      (CAST(x AS DOUBLE) - mean) / sd AS DECIMAL(28,6))
      |      AS DOUBLE) END AS z
      |  FROM mz),
      |ph AS (
      |  SELECT t, cb, n, mean, sd,
      |    CASE WHEN z >= 0.0 THEN 1.0 - $pz / 2.0
      |      ELSE $pz / 2.0 END AS phi
      |  FROM z),
      |w AS (
      |  SELECT n, mean, sd, phi,
      |    CAST(cb + t AS HUGEINT) * CAST(cb + t AS HUGEINT) -
      |      CAST(cb AS HUGEINT) * CAST(cb AS HUGEINT) AS w1,
      |    CAST(t AS HUGEINT) * CAST(2 * n + 1 AS HUGEINT) -
      |      (CAST(cb + t AS HUGEINT) * CAST(cb + t + 1 AS HUGEINT) -
      |       CAST(cb AS HUGEINT) * CAST(cb + 1 AS HUGEINT)) AS w2,
      |    CASE WHEN phi > 0.0 AND phi < 1.0 AND sd > 0.0
      |      THEN 1 ELSE 0 END AS ok
      |  FROM ph),
      |tm AS (
      |  SELECT n, mean, sd, ok,
      |    CASE WHEN ok = 1 THEN CAST(
      |      CAST(w1 AS DOUBLE) * ln(phi) +
      |      CAST(w2 AS DOUBLE) * ln(1.0 - phi)
      |      AS DECIMAL(28,6)) END AS term
      |  FROM w),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n, MAX(mean) AS mean,
      |    MAX(sd) AS sd, SUM(1 - ok) AS bad, SUM(term) AS tsum
      |  FROM tm),
      |a2s AS (
      |  SELECT n, mean, sd,
      |    CASE WHEN bad = 0 THEN CAST(CAST(
      |      -CAST(n AS DOUBLE) - CAST(tsum AS DOUBLE) /
      |      CAST(n AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END AS a2
      |  FROM ag)
      |SELECT n, mean, sd, a2,
      |  CASE WHEN a2 IS NOT NULL THEN CAST(CAST(a2 *
      |    (1.0 + 4.0 / CAST(n AS DOUBLE) -
      |     25.0 / CAST(n * n AS DOUBLE)) AS DECIMAL(28,6))
      |    AS DOUBLE) END AS a2_star,
      |  CASE WHEN a2 IS NOT NULL THEN CAST(CAST(CAST(a2 *
      |    (1.0 + 4.0 / CAST(n AS DOUBLE) -
      |     25.0 / CAST(n * n AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |    >= 0.787 AS INT) END AS significant
      |FROM a2s""".stripMargin
  }

  // q494: G-test of independence (Stats.gTest) — likelihood-ratio
  // association between event type and user parity (the Pearson q305
  // table's Dunning sibling). The oracle replays the cells, margins
  // and d6 log terms.
  def q494GTest(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.gTest(
      ev(s, dir).select(col("event_type"),
        (col("user_id") % 2L).as("parity")),
      "event_type", "parity")

  val q494Sql: String =
    s"""WITH c AS (
      |  SELECT CAST(event_type AS VARCHAR) AS a,
      |    CAST(user_id % 2 AS VARCHAR) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT a, b, o,
      |    SUM(o) OVER (PARTITION BY a) AS ra,
      |    SUM(o) OVER (PARTITION BY b) AS cb,
      |    SUM(o) OVER () AS nn
      |  FROM c),
      |tm AS (
      |  SELECT a, b, nn,
      |    CAST(CAST(2.0 * CAST(o AS DOUBLE) *
      |      ln(CAST(CAST(o AS HUGEINT) * CAST(nn AS HUGEINT)
      |           AS DOUBLE) /
      |         CAST(CAST(ra AS HUGEINT) * CAST(cb AS HUGEINT)
      |           AS DOUBLE)) AS DECIMAL(28,6)) AS DECIMAL(28,6))
      |      AS term
      |  FROM m),
      |ag AS (
      |  SELECT CAST(MAX(nn) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT a) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT b) AS BIGINT) AS n_cols,
      |    CAST(CAST(CAST(SUM(term) AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) AS g_stat
      |  FROM tm)
      |SELECT n, n_rows, n_cols, g_stat,
      |  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS df,
      |  CAST(g_stat >= ${chiCase(
      "CAST((n_rows - 1) * (n_cols - 1) AS BIGINT)")} AS INT)
      |    AS significant
      |FROM ag""".stripMargin

  // q495: two-proportion difference with the Newcombe hybrid-score CI
  // (Stats.twoProportionDiff) — purchase-rate gap between user-parity
  // arms with per-arm Wilson bounds composed into the interval. The
  // oracle replays the single-division Wilson forms and the fixed
  // assembly.
  def q495TwoPropDiff(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.twoProportionDiff(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        (col("event_type") === "purchase").cast("int").as("y")),
      "arm", "y")

  val q495Sql: String = {
    val z = "1.96"
    val z2 = (1.96 * 1.96).toString
    def wil(x: String, n: String, up: Boolean): String = {
      val ph = s"(CAST($x AS DOUBLE) / CAST($n AS DOUBLE))"
      val nD = s"CAST($n AS DOUBLE)"
      val sign = if (up) "+" else "-"
      s"""CAST(CAST((($ph + $z2 / (2.0 * $nD)) $sign
         |      $z * sqrt(($ph * (1.0 - $ph) + $z2 / (4.0 * $nD)) /
         |        $nD)) / (1.0 + $z2 / $nD)
         |      AS DECIMAL(28,6)) AS DOUBLE)""".stripMargin
    }
    s"""WITH b AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS a,
      |    CAST(event_type = 'purchase' AS INT) AS y
      |  FROM events),
      |ag AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN a = 0 THEN y ELSE 0 END) AS BIGINT) AS x0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN a = 1 THEN y ELSE 0 END) AS BIGINT) AS x1
      |  FROM b),
      |st AS (
      |  SELECT n0, x0, n1, x1,
      |    CAST(CAST(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p0,
      |    ${wil("x0", "n0", up = false)} AS l0,
      |    ${wil("x0", "n0", up = true)} AS u0,
      |    CAST(CAST(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS p1,
      |    ${wil("x1", "n1", up = false)} AS l1,
      |    ${wil("x1", "n1", up = true)} AS u1
      |  FROM ag),
      |fin AS (
      |  SELECT n0, x0, p0, n1, x1, p1,
      |    CAST(CAST(p1 - p0 AS DECIMAL(28,6)) AS DOUBLE) AS diff,
      |    CAST(CAST((p1 - p0) - sqrt((p1 - l1) * (p1 - l1) +
      |      (u0 - p0) * (u0 - p0)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS ci_lo,
      |    CAST(CAST((p1 - p0) + sqrt((u1 - p1) * (u1 - p1) +
      |      (p0 - l0) * (p0 - l0)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS ci_hi
      |  FROM st)
      |SELECT *, CAST(ci_lo > 0.0 OR ci_hi < 0.0 AS INT)
      |  AS significant
      |FROM fin""".stripMargin
  }

  // q496: Gumbel block-maxima fit + return levels (Stats.gumbelFit)
  // over each event type's DAILY MAX cents — "what 1-in-100-day spike
  // should this type budget for". The oracle replays the moment fit
  // with the identical √6/π, γ and per-T quantile literals.
  def q496GumbelFit(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.gumbelFit(
      Tables.eventsUs(s, dir)
        .groupBy(col("event_type"), expr("ts_us div 86400000000")
          .as("day"))
        .agg(max(round(col("value") * 100).cast("long")).as("x")),
      "event_type", "x", returnPeriods = Seq(10, 100))

  val q496Sql: String = {
    val s6p = (math.sqrt(6.0) / math.Pi).toString
    val eul = "0.5772156649015329"
    val y10 = (-math.log(-math.log(1.0 - 1.0 / 10))).toString
    val y100 = (-math.log(-math.log(1.0 - 1.0 / 100))).toString
    s"""WITH m AS (
      |  SELECT event_type AS k,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
      |  FROM m GROUP BY 1),
      |st AS (
      |  SELECT k, n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean_max,
      |    CAST(CAST(sqrt(CAST(CAST(
      |      CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS sd
      |  FROM g),
      |pm AS (
      |  SELECT k, n, mean_max,
      |    CASE WHEN sd > 0.0 THEN
      |      CAST(CAST(sd * $s6p AS DECIMAL(28,6)) AS DOUBLE) END
      |      AS sigma
      |  FROM st),
      |wm AS (
      |  SELECT k, n, mean_max, sigma,
      |    CASE WHEN sigma IS NOT NULL THEN
      |      CAST(CAST(mean_max - $eul * sigma AS DECIMAL(28,6))
      |        AS DOUBLE) END AS mu
      |  FROM pm)
      |SELECT k AS event_type, n, mean_max, mu, sigma,
      |  t.rp AS return_period,
      |  CASE WHEN sigma IS NOT NULL THEN
      |    CAST(CAST(mu + sigma * t.y AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS return_level
      |FROM wm CROSS JOIN (VALUES (CAST(10 AS BIGINT), $y10),
      |  (CAST(100 AS BIGINT), $y100)) AS t(rp, y)""".stripMargin
  }

  // q497: required A/B sample size per arm (Stats.powerTwoProportions)
  // for detecting 1/2/5/10% relative purchase-rate lifts off the
  // observed base rate — exact integer ppm scenarios, published
  // z literals. The oracle replays the closed chain.
  def q497PowerTwoProps(s: SparkSession, dir: String): DataFrame = {
    val base = ev(s, dir).agg(
      sum((col("event_type") === "purchase").cast("long")).as("x"),
      count(lit(1)).as("n"))
      .select(expr("(x * 1000000L) div n").as("p0_ppm"))
    val lifts = Seq(10000L, 20000L, 50000L, 100000L)
    val scen = base
      .select(col("p0_ppm"),
        explode(array(lifts.map(lit): _*)).as("lift"))
      .select(col("p0_ppm"),
        expr("(p0_ppm * (1000000L + lift)) div 1000000L").as("p1_ppm"))
    graft.pipeline.Stats.powerTwoProportions(scen, "p0_ppm", "p1_ppm")
  }

  val q497Sql: String = {
    val zA = "1.959964"
    val zB = "0.841621"
    s"""WITH r AS (
      |  SELECT CAST((CAST(SUM(CASE WHEN event_type = 'purchase'
      |      THEN 1 ELSE 0 END) AS HUGEINT) * 1000000) //
      |    CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS p0ppm
      |  FROM events),
      |l AS (SELECT CAST(unnest([10000, 20000, 50000, 100000])
      |  AS BIGINT) AS lift),
      |sc AS (
      |  SELECT p0ppm,
      |    CAST((CAST(p0ppm AS HUGEINT) * (1000000 + lift)) // 1000000
      |      AS BIGINT) AS p1ppm
      |  FROM r CROSS JOIN l),
      |d AS (
      |  SELECT p0ppm, p1ppm,
      |    CAST(p0ppm AS DOUBLE) / 1000000.0 AS p0d,
      |    CAST(p1ppm AS DOUBLE) / 1000000.0 AS p1d,
      |    CAST(p0ppm + p1ppm AS DOUBLE) / 2000000.0 AS pb
      |  FROM sc)
      |SELECT
      |  CAST(CAST(p0d AS DECIMAL(28,6)) AS DOUBLE) AS p0,
      |  CAST(CAST(p1d AS DECIMAL(28,6)) AS DOUBLE) AS p1,
      |  CAST(CAST(p1d - p0d AS DECIMAL(28,6)) AS DOUBLE) AS diff,
      |  CASE WHEN p0ppm <> p1ppm THEN CAST(ceil(
      |    (($zA * sqrt(2.0 * pb * (1.0 - pb)) +
      |      $zB * sqrt(p0d * (1.0 - p0d) + p1d * (1.0 - p1d))) /
      |      abs(p1d - p0d)) *
      |    (($zA * sqrt(2.0 * pb * (1.0 - pb)) +
      |      $zB * sqrt(p0d * (1.0 - p0d) + p1d * (1.0 - p1d))) /
      |      abs(p1d - p0d))) AS BIGINT) END AS n_required
      |FROM d""".stripMargin
  }

  // q498: classical item analysis (Stats.itemAnalysis) — 20 user-
  // bucket "raters" × 5 event-type "items" on a parity score grid
  // completed by construction (missing cells score 0): per-item
  // difficulty + rest-score point-biserial discrimination. The
  // oracle replays the grid build, rater totals and the cleared
  // Pearson form.
  def q498ItemAnalysis(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir).select((col("user_id") % 20L).as("r"),
      col("event_type").as("i"))
    val cnt = e.groupBy(col("r"), col("i")).agg(count(lit(1)).as("c"))
    val grid = e.select(col("r")).distinct()
      .crossJoin(e.select(col("i")).distinct())
      .join(cnt, Seq("r", "i"), "left")
      .select(col("r"), col("i"),
        (coalesce(col("c"), lit(0L)) % 2L).as("y"))
    graft.pipeline.Stats.itemAnalysis(grid, "r", "i", "y")
  }

  val q498Sql: String =
    """WITH e AS (
      |  SELECT CAST(user_id % 20 AS BIGINT) AS r, event_type AS i
      |  FROM events),
      |cnt AS (SELECT r, i, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM e GROUP BY 1, 2),
      |rs AS (SELECT DISTINCT r FROM e),
      |its AS (SELECT DISTINCT i FROM e),
      |grid AS (
      |  SELECT rs.r, its.i, COALESCE(cnt.c, 0) % 2 AS y
      |  FROM rs CROSS JOIN its
      |  LEFT JOIN cnt ON cnt.r = rs.r AND cnt.i = its.i),
      |tot AS (SELECT r, CAST(SUM(y) AS BIGINT) AS t
      |        FROM grid GROUP BY 1),
      |g2 AS (
      |  SELECT grid.i, grid.y, tot.t - grid.y AS rest
      |  FROM grid JOIN tot ON tot.r = grid.r),
      |ag AS (
      |  SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST(rest AS HUGEINT)) AS sx,
      |    SUM(CAST(rest AS HUGEINT) * CAST(rest AS HUGEINT)) AS sxx,
      |    SUM(CAST(rest AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
      |  FROM g2 GROUP BY 1)
      |SELECT i AS item, n AS n_raters,
      |  CAST(CAST(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS difficulty,
      |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx > 0 AND
      |      CAST(n AS HUGEINT) * sy - CAST(sy AS HUGEINT) * sy > 0
      |    THEN CAST(CAST(
      |      CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |      sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
      |        CAST(CAST(n AS HUGEINT) * sy - CAST(sy AS HUGEINT) * sy
      |          AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS discrimination
      |FROM ag""".stripMargin

  // q499: quadratic-weighted kappa (Stats.weightedKappa) between two
  // deterministic ordinal spend bands — ordered disagreement costs
  // (i−j)². The oracle replays the single exact rational.
  def q499WeightedKappa(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.weightedKappa(
      ev(s, dir).select(
        round(col("value") * 100).cast("long").as("cents"))
        .select(expr("least(4L, cents div 10000L)").as("ra"),
          expr("least(4L, (cents * 3L) div 20000L)").as("rb")),
      "ra", "rb")

  val q499Sql: String =
    """WITH bb AS (
      |  SELECT least(4, CAST(round(value * 100) AS BIGINT) // 10000)
      |      AS a,
      |    least(4, (CAST(round(value * 100) AS BIGINT) * 3) // 20000)
      |      AS b
      |  FROM events),
      |c AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
      |      FROM bb GROUP BY 1, 2),
      |m AS (
      |  SELECT a, b, o,
      |    SUM(o) OVER (PARTITION BY a) AS ra,
      |    SUM(o) OVER (PARTITION BY b) AS cb,
      |    SUM(o) OVER () AS n
      |  FROM c),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n_items,
      |    SUM(CAST((a - b) AS HUGEINT) * CAST((a - b) AS HUGEINT) *
      |      CAST(o AS HUGEINT)) AS num,
      |    SUM(CAST((a - b) AS HUGEINT) * CAST((a - b) AS HUGEINT) *
      |      CAST(ra AS HUGEINT) * CAST(cb AS HUGEINT)) AS den
      |  FROM m)
      |SELECT n_items,
      |  CASE WHEN den > 0 THEN CAST(CAST(1.0 -
      |    CAST(CAST(n_items AS HUGEINT) * num AS DOUBLE) /
      |    CAST(den AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS kappa_w
      |FROM ag""".stripMargin

  // q500: TOST mean-equivalence (Stats.tostMeans) — are the parity
  // arms' mean cents equivalent within ±50? Both one-sided z tests
  // must clear 1.644854. The oracle replays the d6 chain and the
  // one-sided erfc p-values.
  def q500Tost(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.tostMeans(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        round(col("value") * 100).cast("long").as("x")),
      "arm", "x", margin = 50.0)

  val q500Sql: String = {
    val pzL = graft.pipeline.Stats.normalTwoSidedPSql("t_lower")
    val pzU = graft.pipeline.Stats.normalTwoSidedPSql("t_upper")
    s"""WITH b AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS a,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |pa AS (
      |  SELECT a, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS s,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
      |  FROM b GROUP BY 1),
      |pv AS (
      |  SELECT a, n,
      |    CAST(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,6)) AS DOUBLE) AS mean,
      |    CAST(CAST(
      |      CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
      |      CAST(CAST(n AS HUGEINT) * CAST(n - 1 AS HUGEINT)
      |        AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE) AS var
      |  FROM pa),
      |one AS (
      |  SELECT MAX(CASE WHEN a = 0 THEN n END) AS n0,
      |    MAX(CASE WHEN a = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN a = 0 THEN mean END) AS mean0,
      |    MAX(CASE WHEN a = 1 THEN mean END) AS mean1,
      |    MAX(CASE WHEN a = 0 THEN var END) AS v0,
      |    MAX(CASE WHEN a = 1 THEN var END) AS v1
      |  FROM pv),
      |st AS (
      |  SELECT n0, mean0, n1, mean1,
      |    CAST(CAST(mean1 - mean0 AS DECIMAL(28,6)) AS DOUBLE)
      |      AS diff,
      |    CASE WHEN v0 / CAST(n0 AS DOUBLE) +
      |        v1 / CAST(n1 AS DOUBLE) > 0.0 THEN
      |      CAST(CAST(sqrt(v0 / CAST(n0 AS DOUBLE) +
      |        v1 / CAST(n1 AS DOUBLE)) AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS se
      |  FROM one),
      |ts AS (
      |  SELECT *, 50.0 AS margin,
      |    CASE WHEN se IS NOT NULL THEN
      |      CAST(CAST((diff + 50.0) / se AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS t_lower,
      |    CASE WHEN se IS NOT NULL THEN
      |      CAST(CAST((50.0 - diff) / se AS DECIMAL(28,6)) AS DOUBLE)
      |      END AS t_upper
      |  FROM st)
      |SELECT n0, mean0, n1, mean1, diff, se, margin, t_lower, t_upper,
      |  CASE WHEN t_lower IS NOT NULL THEN
      |    CAST(CAST(CASE WHEN t_lower >= 0.0 THEN $pzL / 2.0
      |      ELSE 1.0 - $pzL / 2.0 END AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS p_lower,
      |  CASE WHEN t_upper IS NOT NULL THEN
      |    CAST(CAST(CASE WHEN t_upper >= 0.0 THEN $pzU / 2.0
      |      ELSE 1.0 - $pzU / 2.0 END AS DECIMAL(28,6)) AS DOUBLE) END
      |    AS p_upper,
      |  CASE WHEN t_lower IS NOT NULL THEN
      |    CAST(t_lower >= 1.644854 AND t_upper >= 1.644854 AS INT) END
      |    AS equivalent
      |FROM ts""".stripMargin
  }

  // q501: rank-distance panel (Retrieval.rankDistance) — how far
  // apart are the spend-ranked and volume-ranked event-type orders?
  // Footrule + Kendall distance with exact normalizers. The oracle
  // replays the permutation build and the guarded pair count.
  def q501RankDistance(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val m = ev(s, dir).groupBy(col("event_type"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sc"),
        count(lit(1)).as("c"))
    val ranked = m.select(col("event_type"),
      row_number().over(W.orderBy(col("sc").desc, col("event_type").asc))
        .cast("long").as("ra"),
      row_number().over(W.orderBy(col("c").desc, col("event_type").asc))
        .cast("long").as("rb"))
    graft.pipeline.Retrieval.rankDistance(ranked, "event_type",
      "ra", "rb")
  }

  val q501Sql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    SUM(CAST(round(value * 100) AS BIGINT)) AS sc,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (ORDER BY sc DESC, event_type ASC)
      |      AS BIGINT) AS ra,
      |    CAST(row_number() OVER (ORDER BY c DESC, event_type ASC)
      |      AS BIGINT) AS rb
      |  FROM m),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(ABS(ra - rb)) AS BIGINT) AS footrule
      |  FROM r),
      |p AS (
      |  SELECT CAST(SUM(CASE WHEN a.rb > b.rb THEN 1 ELSE 0 END)
      |      AS BIGINT) AS kd,
      |    CAST(COUNT(*) AS BIGINT) AS np
      |  FROM r a JOIN r b ON a.ra < b.ra)
      |SELECT f.n, f.footrule,
      |  CASE WHEN f.n > 1 THEN CAST(CAST(
      |    CAST(f.footrule AS DOUBLE) /
      |    CAST((f.n * f.n) // 2 AS DOUBLE) AS DECIMAL(28,6))
      |    AS DOUBLE) END AS footrule_norm,
      |  COALESCE(p.kd, 0) AS kendall_distance,
      |  CASE WHEN f.n > 1 THEN CAST(CAST(
      |    CAST(p.kd AS DOUBLE) / CAST(p.np AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS kendall_norm
      |FROM f CROSS JOIN p""".stripMargin

  // q502: decile gain/lift table (Stats.gainLiftTable) — cents as a
  // purchase-targeting score: per band, response rate, lift vs base
  // and cumulative capture. The oracle replays the descending
  // total-order cut and the one-division lift rational.
  def q502GainLift(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.gainLiftTable(
      ev(s, dir).select(col("event_id"),
        round(col("value") * 100).cast("long").as("score"),
        (col("event_type") === "purchase").cast("int").as("y")),
      "event_id", "score", "y", groups = 10)

  val q502Sql: String =
    """WITH b AS (
      |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
      |    CAST(event_type = 'purchase' AS INT) AS y
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY s DESC, event_id ASC)
      |      AS BIGINT) AS rk,
      |    COUNT(*) OVER () AS n
      |  FROM b),
      |g AS (SELECT *, ((rk - 1) * 10) // n AS grp FROM r),
      |ag AS (
      |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS n_resp,
      |    CAST(MAX(n) AS BIGINT) AS tot
      |  FROM g GROUP BY 1),
      |cm AS (
      |  SELECT *,
      |    SUM(n_resp) OVER () AS tot_resp,
      |    SUM(n_resp) OVER (ORDER BY grp ASC ROWS UNBOUNDED PRECEDING)
      |      AS cum_resp
      |  FROM ag)
      |SELECT CAST(grp + 1 AS BIGINT) AS band, n, n_resp,
      |  CAST(CAST(CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) AS resp_rate,
      |  CASE WHEN tot_resp > 0 THEN CAST(CAST(
      |    CAST(CAST(n_resp AS HUGEINT) * tot AS DOUBLE) /
      |    CAST(CAST(n AS HUGEINT) * tot_resp AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS lift,
      |  CAST(cum_resp AS BIGINT) AS cum_resp,
      |  CASE WHEN tot_resp > 0 THEN CAST(CAST(
      |    CAST(cum_resp AS DOUBLE) / CAST(tot_resp AS DOUBLE)
      |    AS DECIMAL(28,6)) AS DOUBLE) END AS cum_capture
      |FROM cm""".stripMargin

  // q503: cost-sensitive optimal threshold (Stats.optimalThreshold)
  // — the cents cutoff maximizing 30·TP − 10·FP − 5·FN for predicting
  // purchases, lowest winning threshold on ties. The oracle replays
  // the distinct-score cumulative counts and the exact window max.
  def q503OptimalThreshold(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.optimalThreshold(
      ev(s, dir).select(round(col("value") * 100).cast("long")
          .as("score"),
        (col("event_type") === "purchase").cast("int").as("y")),
      "score", "y", benefitTp = 30L, costFp = 10L, costFn = 5L)

  val q503Sql: String =
    """WITH b AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS s,
      |    CAST(event_type = 'purchase' AS INT) AS y
      |  FROM events),
      |bs AS (
      |  SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(y) AS BIGINT) AS p
      |  FROM b GROUP BY 1),
      |cm AS (
      |  SELECT s,
      |    SUM(p) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
      |      AS tp,
      |    SUM(n - p) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
      |      AS fp,
      |    SUM(p) OVER () AS pos, SUM(n - p) OVER () AS neg
      |  FROM bs),
      |ut AS (
      |  SELECT s, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |    CAST(pos AS BIGINT) AS pos,
      |    CAST(30 * tp - 10 * fp - 5 * (pos - tp) AS BIGINT) AS u
      |  FROM cm),
      |mx AS (SELECT MAX(u) AS umax FROM ut),
      |win AS (
      |  SELECT ut.* FROM ut CROSS JOIN mx WHERE ut.u = mx.umax),
      |fin AS (SELECT * FROM win WHERE s = (SELECT MIN(s) FROM win))
      |SELECT s AS threshold, tp + fp AS n_pred_pos, tp, fp,
      |  pos - tp AS fn, u AS utility,
      |  CAST(-5 * pos AS BIGINT) AS base_utility
      |FROM fin""".stripMargin

  // q504: Cucconi location-scale test (Stats.cucconiTest) — did odd
  // vs even user parity move the cents distribution's center OR
  // spread (an A/A-style split: should read non-significant)? The
  // oracle replays the value-grouped doubled-midrank squares, the
  // no-tie moment standardization and the ρ-combined C with
  // p = e^{−C}.
  def q504Cucconi(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.cucconiTest(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        round(col("value") * 100).cast("long").as("x")),
      "arm", "x")

  val q504Sql: String =
    """WITH b AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS a,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |v AS (
      |  SELECT x,
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM b GROUP BY 1),
      |r AS (
      |  SELECT c0, c1,
      |    CAST(2 * COALESCE(SUM(c0 + c1) OVER (ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
      |      (c0 + c1) + 1 AS BIGINT) AS r2,
      |    CAST(SUM(c0 + c1) OVER () AS BIGINT) AS n
      |  FROM v),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(SUM(c1) AS BIGINT) AS n1,
      |    SUM(CAST(c1 AS HUGEINT) * CAST(r2 AS HUGEINT) *
      |      CAST(r2 AS HUGEINT)) AS u4,
      |    SUM(CAST(c1 AS HUGEINT) * CAST(2 * (n + 1) - r2 AS HUGEINT) *
      |      CAST(2 * (n + 1) - r2 AS HUGEINT)) AS v4
      |  FROM r),
      |st AS (
      |  SELECT n0 AS n_a, n1 AS n_b,
      |    CAST(CAST((CAST(u4 AS DOUBLE) -
      |      2.0 * CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n AS DOUBLE) + 1.0) / 3.0) /
      |      (4.0 * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
      |        (CAST(n AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n AS DOUBLE) + 1.0) *
      |        (8.0 * CAST(n AS DOUBLE) + 11.0) / 180.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS u_star,
      |    CAST(CAST((CAST(v4 AS DOUBLE) -
      |      2.0 * CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n AS DOUBLE) + 1.0) / 3.0) /
      |      (4.0 * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
      |        (CAST(n AS DOUBLE) + 1.0) *
      |        (2.0 * CAST(n AS DOUBLE) + 1.0) *
      |        (8.0 * CAST(n AS DOUBLE) + 11.0) / 180.0))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS v_star,
      |    2.0 * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 4.0) /
      |      ((2.0 * CAST(n AS DOUBLE) + 1.0) *
      |       (8.0 * CAST(n AS DOUBLE) + 11.0)) - 1.0 AS rho
      |  FROM ag),
      |cc AS (
      |  SELECT n_a, n_b, u_star, v_star,
      |    CAST(CAST((u_star * u_star + v_star * v_star -
      |      2.0 * rho * u_star * v_star) /
      |      (2.0 * (1.0 - rho * rho)) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS cucconi_c
      |  FROM st),
      |pp AS (
      |  SELECT n_a, n_b, u_star, v_star, cucconi_c,
      |    CAST(CAST(exp(-cucconi_c) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS p_value
      |  FROM cc)
      |SELECT n_a, n_b, u_star, v_star, cucconi_c, p_value,
      |  CAST(p_value <= 0.05 AS INT) AS significant
      |FROM pp""".stripMargin

  // q505: Lepage location-scale omnibus (Stats.lepageTest) — the
  // Wilcoxon z and Ansari–Bradley z off ONE value-grouped pass,
  // combined as χ²(2), on the same parity arms as q504 (its
  // correlation-modeling sibling). The oracle replays both parent
  // chains verbatim from the shared distinct-value frame.
  def q505Lepage(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.lepageTest(
      ev(s, dir).select((col("user_id") % 2L).as("arm"),
        round(col("value") * 100).cast("long").as("x")),
      "arm", "x")

  val q505Sql: String =
    """WITH b AS (
      |  SELECT CAST(user_id % 2 AS BIGINT) AS a,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |v AS (
      |  SELECT x,
      |    CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM b GROUP BY 1),
      |r AS (
      |  SELECT c0, c1, c0 + c1 AS t,
      |    CAST(2 * COALESCE(SUM(c0 + c1) OVER (ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
      |      (c0 + c1) + 1 AS BIGINT) AS r2,
      |    CAST(SUM(c0 + c1) OVER () AS BIGINT) AS n
      |  FROM v),
      |s2 AS (
      |  SELECT c0, c1, t, r2, n,
      |    LEAST(r2, 2 * (n + 1) - r2) AS s2
      |  FROM r),
      |ag AS (
      |  SELECT CAST(MAX(n) AS BIGINT) AS n,
      |    CAST(SUM(c0) AS BIGINT) AS n0,
      |    CAST(SUM(c1) AS BIGINT) AS n1,
      |    SUM(CAST(c1 AS HUGEINT) * CAST(r2 AS HUGEINT)) AS r1x2,
      |    SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) *
      |      CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS ties,
      |    CAST(SUM(c1 * s2) AS BIGINT) AS ab2,
      |    SUM(CAST(t AS HUGEINT) * CAST(s2 AS HUGEINT)) AS ss,
      |    SUM(CAST(t AS HUGEINT) * CAST(s2 AS HUGEINT) *
      |      CAST(s2 AS HUGEINT)) AS ssq
      |  FROM s2),
      |zz AS (
      |  SELECT n0 AS n_a, n1 AS n_b,
      |    CASE WHEN CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
      |      ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) + 1.0) -
      |       CAST(ties AS DOUBLE) /
      |       ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
      |        (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0))) > 0.0
      |    THEN CAST(CAST(
      |      (CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) -
      |       CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) /
      |      (2.0 * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0 *
      |        ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) + 1.0) -
      |         CAST(ties AS DOUBLE) /
      |         ((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) *
      |          (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 1.0)))))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z_wilcoxon,
      |    CASE WHEN CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) *
      |      (CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE) -
      |       CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
      |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |       (CAST(n AS DOUBLE) - 1.0)) > 0.0
      |    THEN CAST(CAST(
      |      (CAST(ab2 AS DOUBLE) - CAST(n1 AS DOUBLE) *
      |        CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) /
      |      sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) *
      |        (CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE) -
      |         CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
      |         (CAST(n AS DOUBLE) - 1.0)))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z_ansari
      |  FROM ag)
      |SELECT n_a, n_b, z_wilcoxon, z_ansari,
      |  CASE WHEN z_wilcoxon IS NOT NULL AND z_ansari IS NOT NULL
      |    THEN CAST(CAST(z_wilcoxon * z_wilcoxon +
      |      z_ansari * z_ansari AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS lepage_l,
      |  CASE WHEN z_wilcoxon IS NOT NULL AND z_ansari IS NOT NULL
      |    THEN CAST(CAST(CAST(z_wilcoxon * z_wilcoxon +
      |      z_ansari * z_ansari AS DECIMAL(28,6)) AS DOUBLE)
      |      >= 5.991459 AS INT) ELSE 0 END AS significant
      |FROM zz""".stripMargin

  // q506: Gehan–Breslow generalized Wilcoxon (Stats.gehanWilcoxon) —
  // q395's churn frame under the EARLY-difference weighting (w = n_t):
  // the A/A parity split should stay non-significant under both
  // weightings. The oracle replays the n_t-weighted U/V term chain.
  def q506Gehan(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val spans = evt.groupBy(col("user_id"))
      .agg(min(us).as("_f"), max(us).as("_l"))
    val mx = evt.agg(max(us).as("_mx"))
    val day = 86400000000L
    val users = spans.crossJoin(broadcast(mx))
      .select((col("user_id") % 2L).as("grp"),
        expr(s"(_l - _f) div ${day}L").as("duration_days"),
        (col("_mx") - col("_l") > lit(7L * day)).cast("int")
          .as("churned"))
    graft.pipeline.Stats.gehanWilcoxon(users, "duration_days",
      "churned", "grp")
  }

  val q506Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |uu AS (SELECT user_id, MIN(us) AS f, MAX(us) AS l FROM e
      |       GROUP BY 1),
      |mx AS (SELECT MAX(us) AS mx FROM e),
      |du AS (
      |  SELECT user_id % 2 AS g, (l - f) // 86400000000 AS t,
      |    CASE WHEN mx - l > 604800000000 THEN 1 ELSE 0 END AS ev
      |  FROM uu CROSS JOIN mx),
      |byt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(g) AS BIGINT) AS n1,
      |    CAST(SUM(ev) AS BIGINT) AS d,
      |    CAST(SUM(ev * g) AS BIGINT) AS d1
      |  FROM du GROUP BY 1),
      |r AS (SELECT *, CAST(SUM(n) OVER w AS BIGINT) AS nr,
      |    CAST(SUM(n1) OVER w AS BIGINT) AS n1r
      |  FROM byt WINDOW w AS (ORDER BY t
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      |trm AS (SELECT d1,
      |    CAST(CAST(nr AS DOUBLE) * (CAST(d1 AS DOUBLE) -
      |      CAST(d AS DOUBLE) *
      |      (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS ut,
      |    CAST(CASE WHEN nr > 1 THEN
      |      CAST(CAST(CAST(nr AS DOUBLE) * CAST(nr AS DOUBLE) *
      |        CAST(d AS DOUBLE) *
      |        (CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE)) *
      |        (1.0 - CAST(n1r AS DOUBLE) / CAST(nr AS DOUBLE)) *
      |        CAST(nr - d AS DOUBLE) / CAST(nr - 1 AS DOUBLE)
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |      ELSE 0.0 END AS DECIMAL(28,6)) AS vt
      |  FROM r WHERE d > 0),
      |a AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
      |    SUM(ut) AS u, SUM(vt) AS v FROM trm),
      |zz AS (SELECT o1, CAST(u AS DOUBLE) AS ud,
      |    CAST(v AS DOUBLE) AS vd,
      |    CASE WHEN CAST(v AS DOUBLE) > 0 THEN
      |      CAST(CAST(CAST(u AS DOUBLE) / sqrt(CAST(v AS DOUBLE))
      |        AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS z FROM a)
      |SELECT o1 AS n_events_g1, ud AS u_gehan, vd AS variance, z,
      |  CASE WHEN z IS NOT NULL THEN
      |    CAST(CAST(z * z AS DECIMAL(28,6)) AS DOUBLE) END AS chi2,
      |  CASE WHEN z IS NOT NULL THEN
      |    CAST(CAST(CAST(z * z AS DECIMAL(28,6)) AS DOUBLE)
      |      >= 3.841459 AS INT) ELSE 0 END AS significant
      |FROM zz""".stripMargin

  // q507: Dunn's post-hoc pairwise rank test (Stats.dunnTest) — after
  // q353's Kruskal–Wallis says the event types differ on cents, WHICH
  // pairs differ, Bonferroni-held at the 10 comparisons. The oracle
  // replays the value-grouped midranks, the tie-corrected variance
  // factor and the erfc p chain.
  def q507Dunn(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Stats.dunnTest(
      ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x")),
      "event_type", "x")

  val q507Sql: String = {
    val pz = graft.pipeline.Stats.normalTwoSidedPSql("z")
    s"""WITH b AS (
      |  SELECT CAST(event_type AS VARCHAR) AS g,
      |    CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |c AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c
      |      FROM b GROUP BY 1, 2),
      |v AS (SELECT x, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY 1),
      |r AS (
      |  SELECT x,
      |    CAST(2 * COALESCE(SUM(t) OVER (ORDER BY x ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) +
      |      t + 1 AS BIGINT) AS r2
      |  FROM v),
      |tt AS (SELECT CAST(SUM(t) AS BIGINT) AS nn,
      |    SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) *
      |      CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS tie
      |  FROM v),
      |pg AS (
      |  SELECT c.g, CAST(SUM(c.c) AS BIGINT) AS ng,
      |    SUM(CAST(c.c AS HUGEINT) * CAST(r.r2 AS HUGEINT)) AS sr
      |  FROM c JOIN r ON r.x = c.x GROUP BY 1),
      |pr AS (
      |  SELECT g, ng,
      |    CAST(CAST(CAST(sr AS DOUBLE) / (2.0 * CAST(ng AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS rbar
      |  FROM pg),
      |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM pr),
      |p AS (
      |  SELECT pa.g AS group_a, pb.g AS group_b, pa.ng AS n_a,
      |    pb.ng AS n_b, pa.rbar AS mean_rank_a, pb.rbar AS mean_rank_b
      |  FROM pr pa CROSS JOIN pr pb WHERE pa.g < pb.g),
      |zz AS (
      |  SELECT p.*,
      |    CASE WHEN CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) /
      |      12.0 - CAST(tie AS DOUBLE) /
      |      (12.0 * (CAST(nn AS DOUBLE) - 1.0)) > 0.0
      |    THEN CAST(CAST(
      |      (mean_rank_a - mean_rank_b) /
      |      sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0) /
      |        12.0 - CAST(tie AS DOUBLE) /
      |        (12.0 * (CAST(nn AS DOUBLE) - 1.0))) *
      |        (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |      AS DECIMAL(28,6)) AS DOUBLE) END AS z,
      |    CAST((k * (k - 1)) // 2 AS DOUBLE) AS m
      |  FROM p CROSS JOIN tt CROSS JOIN kk),
      |pp AS (
      |  SELECT group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b,
      |    z,
      |    CASE WHEN z IS NOT NULL THEN
      |      CAST(CAST($pz AS DECIMAL(28,6)) AS DOUBLE) END AS p_value,
      |    m
      |  FROM zz),
      |pb AS (
      |  SELECT group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b,
      |    z, p_value,
      |    CASE WHEN p_value IS NOT NULL THEN
      |      CAST(CAST(LEAST(1.0, p_value * m) AS DECIMAL(28,6))
      |        AS DOUBLE) END AS p_bonferroni
      |  FROM pp)
      |SELECT group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b,
      |  z, p_value, p_bonferroni,
      |  CAST(CASE WHEN p_bonferroni IS NOT NULL AND
      |    p_bonferroni <= 0.05 THEN 1 ELSE 0 END AS INT)
      |    AS significant
      |FROM pb""".stripMargin
  }

  // q508: Storey q-values (Stats.storeyQValues) over the same planted
  // md5-uniform p frame family as q264's BH walk (salt "st", 50
  // slices, λ = 0.5) — π₀ estimated from the flat tail scales the BH
  // walk down. The oracle replays the tail count, the rank walk and
  // the reverse running min.
  def q508Storey(s: SparkSession, dir: String): DataFrame = {
    val hyp = ev(s, dir)
      .select((col("user_id") % 50).as("slice_id")).distinct()
      .withColumn("p_raw",
        graft.pipeline.Sampling.portableHash(col("slice_id"), "st")
          .cast("double") / 1000000.0)
    graft.pipeline.Stats.storeyQValues(hyp, "slice_id", "p_raw",
      lambdaPermille = 500)
  }

  val q508Sql: String =
    """WITH hyp AS (
      |  SELECT DISTINCT user_id % 50 AS slice_id FROM events),
      |p AS (
      |  SELECT slice_id,
      |    CAST(CAST(concat('0x', substring(md5('st:' ||
      |      CAST(slice_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) / 1000000.0 AS pv
      |  FROM hyp),
      |rk AS (
      |  SELECT slice_id, pv,
      |    CAST(row_number() OVER (ORDER BY pv ASC, slice_id ASC)
      |      AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m,
      |    CAST(SUM(CASE WHEN pv > 0.5 THEN 1 ELSE 0 END) OVER ()
      |      AS BIGINT) AS tail
      |  FROM p),
      |pi AS (
      |  SELECT *,
      |    CAST(CAST(LEAST(1.0, CAST(tail AS DOUBLE) /
      |      (0.5 * CAST(m AS DOUBLE))) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS pi0
      |  FROM rk),
      |adj AS (
      |  SELECT slice_id, pv, rank, pi0,
      |    MIN(pi0 * CAST(m AS DOUBLE) * pv / CAST(rank AS DOUBLE))
      |      OVER (ORDER BY rank DESC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qraw
      |  FROM pi),
      |qq AS (
      |  SELECT slice_id,
      |    CAST(CAST(pv AS DECIMAL(28,6)) AS DOUBLE) AS p_value,
      |    rank, pi0,
      |    CAST(CAST(LEAST(qraw, 1.0) AS DECIMAL(28,6)) AS DOUBLE)
      |      AS q_value
      |  FROM adj)
      |SELECT slice_id, p_value, rank, pi0, q_value,
      |  CAST(q_value <= 0.05 AS INT) AS significant
      |FROM qq""".stripMargin

  // q509: meta-analytic combiners (Stats.metaCombine) over 10 planted
  // per-slice z-scores (md5-ppm mapped to (−2.5, 2.5)) — Stouffer's
  // direction-aware pooled Z beside Fisher's direction-blind χ²(2m).
  // The oracle replays the erfc p per z, the d6 log terms and both
  // assemblies.
  def q509MetaCombine(s: SparkSession, dir: String): DataFrame = {
    val zf = ev(s, dir)
      .select((col("user_id") % 10).as("slice_id")).distinct()
      .withColumn("z",
        (graft.pipeline.Sampling.portableHash(col("slice_id"), "mc")
          .cast("double") - 500000.0) / 200000.0)
    graft.pipeline.Stats.metaCombine(zf, "z")
  }

  val q509Sql: String = {
    val pz = graft.pipeline.Stats.normalTwoSidedPSql("z")
    val pzS = graft.pipeline.Stats.normalTwoSidedPSql("stouffer_z")
    s"""WITH hyp AS (
      |  SELECT DISTINCT user_id % 10 AS slice_id FROM events),
      |zf AS (
      |  SELECT slice_id,
      |    (CAST(CAST(concat('0x', substring(md5('mc:' ||
      |      CAST(slice_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
      |      AS DOUBLE) - 500000.0) / 200000.0 AS z
      |  FROM hyp),
      |pp AS (
      |  SELECT z,
      |    CAST(CAST($pz AS DECIMAL(28,6)) AS DOUBLE) AS p
      |  FROM zf),
      |tm AS (
      |  SELECT z, p,
      |    CASE WHEN p > 0.0 THEN 1 ELSE 0 END AS ok,
      |    CASE WHEN p > 0.0 THEN
      |      CAST(CAST(-2.0 * ln(p) AS DECIMAL(28,6)) AS DECIMAL(28,6))
      |      END AS f
      |  FROM pp),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |    SUM(CAST(z AS DECIMAL(28,6))) AS zsum,
      |    SUM(1 - ok) AS bad, SUM(f) AS fsum
      |  FROM tm),
      |st AS (
      |  SELECT m,
      |    CAST(CAST(CAST(zsum AS DOUBLE) / sqrt(CAST(m AS DOUBLE))
      |      AS DECIMAL(28,6)) AS DOUBLE) AS stouffer_z,
      |    bad, fsum
      |  FROM ag)
      |SELECT m, stouffer_z,
      |  CAST(CAST($pzS AS DECIMAL(28,6)) AS DOUBLE) AS stouffer_p,
      |  CASE WHEN bad = 0 THEN
      |    CAST(CAST(CAST(fsum AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    END AS fisher_chi2,
      |  CAST(2 * m AS BIGINT) AS fisher_df,
      |  CASE WHEN bad = 0 THEN
      |    CAST(CAST(CAST(CAST(fsum AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) >= ${chiCase("CAST(2 * m AS BIGINT)")} AS INT)
      |    END AS fisher_significant
      |FROM st""".stripMargin
  }

  // q510: Bowker symmetry test (Stats.bowkerTest) — per user, did the
  // LAST event's type move away from the FIRST event's type
  // asymmetrically (k×k McNemar over the deterministic
  // (ts, event_id)-ordered endpoints)? The oracle replays the
  // endpoint pick, the swapped-cell pairing and the d6 term chain.
  def q510Bowker(s: SparkSession, dir: String): DataFrame = {
    val evt = t(s, dir, "events")
    val us = Tables.tsUs(evt, "ts")
    val fl = evt
      .select(col("user_id"), us.as("_us"), col("event_id"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("_us"), col("event_id"), col("event_type")))
          .as("_f"),
        max(struct(col("_us"), col("event_id"), col("event_type")))
          .as("_l"))
      .select(col("_f.event_type").as("first_type"),
        col("_l.event_type").as("last_type"))
    graft.pipeline.Stats.bowkerTest(fl, "first_type", "last_type")
  }

  val q510Sql: String =
    s"""WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_id, event_type
      |  FROM events),
      |o AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY us ASC, event_id ASC) AS rf,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY us DESC, event_id DESC) AS rl
      |  FROM e),
      |fl AS (
      |  SELECT f.event_type AS a, l.event_type AS b
      |  FROM (SELECT user_id, event_type FROM o WHERE rf = 1) f
      |  JOIN (SELECT user_id, event_type FROM o WHERE rl = 1) l
      |    USING (user_id)),
      |c AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM fl GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_items FROM c),
      |fw AS (SELECT a, b, n AS nij FROM c WHERE a < b),
      |rv AS (SELECT b AS a, a AS b, n AS nji FROM c WHERE a > b),
      |pr AS (
      |  SELECT COALESCE(fw.nij, 0) AS nij, COALESCE(rv.nji, 0) AS nji
      |  FROM fw FULL OUTER JOIN rv
      |    ON rv.a = fw.a AND rv.b = fw.b),
      |ag AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS df,
      |    SUM(CAST(CAST((nij - nji) * (nij - nji) AS DOUBLE) /
      |      CAST(nij + nji AS DOUBLE) AS DECIMAL(28,6))) AS chi
      |  FROM pr)
      |SELECT tot.n_items,
      |  CAST(CAST(CAST(ag.chi AS DOUBLE) AS DECIMAL(28,6)) AS DOUBLE)
      |    AS chi2,
      |  ag.df,
      |  CASE WHEN ag.chi IS NOT NULL THEN
      |    CAST(CAST(CAST(CAST(ag.chi AS DOUBLE) AS DECIMAL(28,6))
      |      AS DOUBLE) >= ${chiCase("ag.df")} AS INT) END
      |    AS significant
      |FROM ag CROSS JOIN tot""".stripMargin

  def entries: Seq[Entry] = Seq(
    Entry("q504_cucconi", q504Cucconi, Some(q504Sql)),
    Entry("q505_lepage", q505Lepage, Some(q505Sql)),
    Entry("q506_gehan_wilcoxon", q506Gehan, Some(q506Sql)),
    Entry("q507_dunn", q507Dunn, Some(q507Sql)),
    Entry("q508_storey_q", q508Storey, Some(q508Sql)),
    Entry("q509_meta_combine", q509MetaCombine, Some(q509Sql)),
    Entry("q510_bowker", q510Bowker, Some(q510Sql)),
    Entry("q501_rank_distance", q501RankDistance, Some(q501Sql)),
    Entry("q502_gain_lift", q502GainLift, Some(q502Sql)),
    Entry("q503_optimal_threshold", q503OptimalThreshold, Some(q503Sql)),
    Entry("q498_item_analysis", q498ItemAnalysis, Some(q498Sql)),
    Entry("q499_weighted_kappa", q499WeightedKappa, Some(q499Sql)),
    Entry("q500_tost", q500Tost, Some(q500Sql)),
    Entry("q495_two_prop_diff", q495TwoPropDiff, Some(q495Sql)),
    Entry("q496_gumbel_fit", q496GumbelFit, Some(q496Sql)),
    Entry("q497_power_two_props", q497PowerTwoProps, Some(q497Sql)),
    Entry("q491_lorenz", q491Lorenz, Some(q491Sql)),
    Entry("q492_kakwani", q492Kakwani, Some(q492Sql)),
    Entry("q493_anderson_darling", q493AndersonDarling, Some(q493Sql)),
    Entry("q494_g_test", q494GTest, Some(q494Sql)),
    Entry("q487_hosmer_lemeshow", q487HosmerLemeshow, Some(q487Sql)),
    Entry("q488_c_chart", q488CChart, Some(q488Sql)),
    Entry("q489_u_chart", q489UChart, Some(q489Sql)),
    Entry("q490_perm_entropy", q490PermEntropy, Some(q490Sql)),
    Entry("q484_brunner_munzel", q484BrunnerMunzel, Some(q484Sql)),
    Entry("q485_quade", q485Quade, Some(q485Sql)),
    Entry("q486_diagnostic_panel", q486DiagnosticPanel, Some(q486Sql)),
    Entry("q480_by_fdr", q480ByFdr, Some(q480Sql)),
    Entry("q481_trimmed_stats", q481TrimmedStats, Some(q481Sql)),
    Entry("q477_rbo", q477Rbo, Some(q477Sql)),
    Entry("q478_cohens_h", q478CohensH, Some(q478Sql)),
    Entry("q479_smr", q479Smr, Some(q479Sql)),
    Entry("q470_welch_anova", q470WelchAnova, Some(q470Sql)),
    Entry("q471_mood_median", q471MoodMedian, Some(q471Sql)),
    Entry("q472_ansari_bradley", q472AnsariBradley, Some(q472Sql)),
    Entry("q473_lin_ccc", q473LinCcc, Some(q473Sql)),
    Entry("q474_bland_altman", q474BlandAltman, Some(q474Sql)),
    Entry("q475_gwet_ac1", q475GwetAc1, Some(q475Sql)),
    Entry("q467_aalen_johansen", q467AalenJohansen, Some(q467Sql)),
    Entry("q468_life_table", q468LifeTable, Some(q468Sql)),
    Entry("q469_hoeffdings_d", q469HoeffdingsD, Some(q469Sql)),
    Entry("q464_xbar_r", q464XbarR, Some(q464Sql)),
    Entry("q465_capability", q465Capability, Some(q465Sql)),
    Entry("q466_ratio_ci", q466RatioCI, Some(q466Sql)),
    Entry("q455_turning_points", q455TurningPoints, Some(q455Sql)),
    Entry("q456_bartels_rvn", q456Bartels, Some(q456Sql)),
    Entry("q457_kpss", q457Kpss, Some(q457Sql)),
    Entry("q458_cox_stuart", q458CoxStuart, Some(q458Sql)),
    Entry("q459_diebold_mariano", q459DieboldMariano, Some(q459Sql)),
    Entry("q460_pinball", q460Pinball, Some(q460Sql)),
    Entry("q451_hhi", q451Hhi, Some(q451Sql)),
    Entry("q452_theil", q452Theil, Some(q452Sql)),
    Entry("q453_atkinson", q453Atkinson, Some(q453Sql)),
    Entry("q454_palma", q454Palma, Some(q454Sql)),
    Entry("q446_holm", q446Holm, Some(q446Sql)),
    Entry("q447_cliffs_delta", q447CliffsDelta, Some(q447Sql)),
    Entry("q448_iv", q448Iv, Some(q448Sql)),
    Entry("q449_breusch_pagan", q449BreuschPagan, Some(q449Sql)),
    Entry("q450_chow", q450Chow, Some(q450Sql)),
    Entry("q395_log_rank", q395LogRank, Some(q395Sql)),
    Entry("q396_jarque_bera", q396JarqueBera, Some(q396Sql)),
    Entry("q397_rmst", q397Rmst, Some(q397Sql)),
    Entry("q398_fisher_exact", q398FisherExact, Some(q398Sql)),
    Entry("q400_poisson_rate", q400PoissonRate, Some(q400Sql)),
    Entry("q403_bartlett", q403Bartlett, Some(q403Sql)),
    Entry("q404_neyman", q404Neyman, Some(q404Sql)),
    Entry("q405_ols_influence", q405OlsInfluence, Some(q405Sql)),
    Entry("q408_cohens_d", q408CohensD, Some(q408Sql)),
    Entry("q409_gumbel", q409Gumbel, Some(q409Sql)),
    Entry("q410_changepoint", q410Changepoint, Some(q410Sql)),
    Entry("q411_mantel_haenszel", q411MantelHaenszel, Some(q411Sql)),
    Entry("q412_cochran_armitage", q412CochranArmitage, Some(q412Sql)),
    Entry("q413_capture_recapture", q413CaptureRecapture, Some(q413Sql)),
    Entry("q414_newey_west", q414NeweyWest, Some(q414Sql)),
    Entry("q416_pairwise_contrasts", q416PairwiseContrasts, Some(q416Sql)),
    Entry("q417_bh_fdr", q417BhFdr, Some(q417Sql)),
    Entry("q419_risk_ratio", q419RiskRatio, Some(q419Sql)),
    Entry("q420_cronbach", q420Cronbach, Some(q420Sql)),
    Entry("q421_partial_corr", q421PartialCorr, Some(q421Sql)),
    Entry("q422_jonckheere", q422Jonckheere, Some(q422Sql)),
    Entry("q423_harrell_c", q423HarrellC, Some(q423Sql)),
    Entry("q424_icc", q424Icc, Some(q424Sql)),
    Entry("q425_threshold_sweep", q425ThresholdSweep, Some(q425Sql)),
    Entry("q430_energy_distance", q430EnergyDistance, Some(q430Sql)),
    Entry("q435_wilcoxon", q435Wilcoxon, Some(q435Sql)),
    Entry("q441_qq_drift", q441QqDrift, Some(q441Sql)),
    Entry("q442_corr_matrix", q442CorrMatrix, Some(q442Sql)),
    Entry("q443_rfm", q443Rfm, Some(q443Sql)),
    Entry("q444_stickiness", q444Stickiness, Some(q444Sql)),
    Entry("q436_hodges_lehmann", q436HodgesLehmann, Some(q436Sql)),
    Entry("q437_sign_test", q437SignTest, Some(q437Sql)),
    Entry("q438_decomp_strength", q438DecompStrength, Some(q438Sql)),
    Entry("q439_split_half", q439SplitHalf, Some(q439Sql)),
    Entry("q431_poisson_reg", q431PoissonReg, Some(q431Sql)),
    Entry("q432_post_stratified", q432PostStratified, Some(q432Sql)),
    Entry("q433_sample_size", q433SampleSize, Some(q433Sql)),
    Entry("q434_kuiper", q434Kuiper, Some(q434Sql)),
    Entry("q427_confusion_panel", q427ConfusionPanel, Some(q427Sql)),
    Entry("q428_page_trend", q428PageTrend, Some(q428Sql)),
    Entry("q429_ordinal_assoc", q429OrdinalAssoc, Some(q429Sql)),
    Entry("q399_target_encode", q399TargetEncode, Some(q399Sql)),
    Entry("q393_cox_ph", q393CoxPh, Some(q393Sql)),
    Entry("q392_platt", q392Platt, Some(q392Sql)),
    Entry("q389_ols2", q389Ols2, Some(q389Sql)),
    Entry("q385_psi", q385Psi, Some(q385Sql)),
    Entry("q387_cvm", q387Cvm, Some(q387Sql)),
    Entry("q383_dtw", q383Dtw, Some(q383Sql)),
    Entry("q381_group_kfold", q381GroupKfold, Some(q381Sql)),
    Entry("q378_sax_word", q378SaxWord, Some(q378Sql)),
    Entry("q377_hurst", q377Hurst, Some(q377Sql)),
    Entry("q376_haar_energy", q376HaarEnergy, Some(q376Sql)),
    Entry("q375_periodogram", q375Periodogram, Some(q375Sql)),
    Entry("q374_mann_kendall", q374MannKendall, Some(q374Sql)),
    Entry("q373_runs_test", q373RunsTest, Some(q373Sql)),
    Entry("q372_forecast_accuracy", q372ForecastAccuracy, Some(q372Sql)),
    Entry("q371_transition_entropy", q371TransitionEntropy, Some(q371Sql)),
    Entry("q370_g2_keyness", q370G2Keyness, Some(q370Sql)),
    Entry("q369_odds_ratio", q369OddsRatio, Some(q369Sql)),
    Entry("q368_granger", q368Granger, Some(q368Sql)),
    Entry("q367_pacf", q367Pacf, Some(q367Sql)),
    Entry("q366_fano", q366Fano, Some(q366Sql)),
    Entry("q365_kendall_w", q365KendallW, Some(q365Sql)),
    Entry("q364_cochran_q", q364CochranQ, Some(q364Sql)),
    Entry("q363_nelson_aalen", q363NelsonAalen, Some(q363Sql)),
    Entry("q362_ccf", q362Ccf, Some(q362Sql)),
    Entry("q356_ljung_box", q356LjungBox, Some(q356Sql)),
    Entry("q355_friedman", q355Friedman, Some(q355Sql)),
    Entry("q354_brown_forsythe", q354BrownForsythe, Some(q354Sql)),
    Entry("q353_kruskal", q353Kruskal, Some(q353Sql)),
    Entry("q351_stationary", q351Stationary, Some(q351Sql)),
    Entry("q350_acf", q350Acf, Some(q350Sql)),
    Entry("q349_assoc_rules", q349AssocRules, Some(q349Sql)),
    Entry("q346_viterbi", q346Viterbi, Some(q346Sql)),
    Entry("q340_fairness", q340Fairness, Some(q340Sql)),
    Entry("q338_anova", q338Anova, Some(q338Sql)),
    Entry("q334_roc_auc", q334RocAuc, Some(q334Sql)),
    Entry("q335_wasserstein", q335Wasserstein, Some(q335Sql)),
    Entry("q331_krippendorff", q331Krippendorff, Some(q331Sql)),
    Entry("q332_class_balance", q332ClassBalance, Some(q332Sql)),
    Entry("q333_info_gain", q333InfoGain, Some(q333Sql)),
    Entry("q328_hill_tail", q328Hill, Some(q328Sql)),
    Entry("q329_dp_release", q329DpRelease, Some(q329Sql)),
    Entry("q330_raking", q330Raking, Some(q330Sql)),
    Entry("q319_theil_sen", q319TheilSen, Some(q319Sql)),
    Entry("q320_cusum", q320Cusum, Some(q320Sql)),
    Entry("q321_seasonal", q321Seasonal, Some(q321Sql)),
    Entry("q310_benford", q310Benford, Some(q310Sql)),
    Entry("q311_msprt", q311Msprt, Some(q311Sql)),
    Entry("q312_holt", q312Holt, Some(q312Sql)),
    Entry("q307_ks_test", q307KsTest, Some(q307Sql)),
    Entry("q308_spearman", q308Spearman, Some(q308Sql)),
    Entry("q309_kendall_tau", q309Kendall, Some(q309Sql)),
    Entry("q250_bootstrap_ci", q250BootstrapCi, Some(q250Sql)),
    Entry("q256_drift_monitor", q256DriftMonitor, Some(q256Sql)),
    Entry("q251_ab_ttest", q251AbTtest, Some(q251Sql)),
    Entry("q262_pass_at_k", q262PassAtK, Some(q262Sql)),
    Entry("q263_mann_whitney", q263MannWhitney, Some(q263Sql)),
    Entry("q264_bh_fdr", q264BhFdr, Some(q264Sql)),
    Entry("q265_cohens_kappa", q265CohensKappa, Some(q265Sql)),
    Entry("q268_k_anonymity", q268KAnonymity, Some(q268Sql)),
    Entry("q272_gini", q272Gini, Some(q272Sql)),
    Entry("q276_fleiss_kappa", q276FleissKappa, Some(q276Sql)),
    Entry("q277_l_diversity", q277LDiversity, Some(q277Sql)),
    Entry("q278_t_closeness", q278TCloseness, Some(q278Sql)),
    Entry("q279_ewma_chart", q279EwmaChart, Some(q279Sql)),
    Entry("q289_attribution", q289Attribution, Some(q289Sql)),
    Entry("q293_bradley_terry", q293BradleyTerry, Some(q293Sql)),
    Entry("q294_conformal_gate", q294ConformalGate, Some(q294Sql)),
    Entry("q295_isotonic", q295Isotonic, Some(q295Sql)),
    Entry("q298_fellegi_sunter", q298FellegiSunter, Some(q298Sql)),
    Entry("q299_cuped", q299Cuped, Some(q299Sql)),
    Entry("q300_did", q300DiD, Some(q300Sql)),
    Entry("q301_shapley", q301Shapley, Some(q301Sql)),
    Entry("q302_kaplan_meier", q302KaplanMeier, Some(q302Sql)),
    Entry("q303_srm", q303Srm, Some(q303Sql)),
    Entry("q304_lift_table", q304LiftTable, Some(q304Sql)),
    Entry("q305_cramers_v", q305CramersV, Some(q305Sql)),
    Entry("q306_mcnemar", q306McNemar, Some(q306Sql)),
    Entry("q133_group_corr", q133GroupCorr, Some(q133Sql)),
    Entry("q134_quantile_buckets", q134QuantileBuckets, Some(q134Sql)),
    Entry("q154_robust_mad", q154RobustMad, Some(q154Sql)),
    Entry("q102_funnel", q102Funnel, Some(q102Sql)),
    Entry("q103_transitions", q103Transitions, Some(q103Sql)),
    Entry("q104_cohort_retention", q104CohortRetention, Some(q104Sql)),
    Entry("q105_length_histogram", q105LengthHistogram, Some(q105Sql)),
    Entry("q106_iqr_outliers", q106IqrOutliers, Some(q106Sql)),
    Entry("q107_byte_entropy", q107ByteEntropy, Some(q107Sql)),
    Entry("q108_char_histogram", q108CharHistogram, Some(q108Sql)),
    Entry("q110_zorder_key", q110ZorderKey, Some(q110Sql)),
    Entry("q111_streaks", q111Streaks, Some(q111Sql)),
    Entry("q113_key_skew", q113KeySkew, Some(q113Sql)),
    Entry("q114_winsorize", q114Winsorize, Some(q114Sql)),
    Entry("q116_unigram_logprob", q116UnigramLogprob, Some(q116Sql)),
    Entry("q118_topk_per_key", q118TopkPerKey, Some(q118Sql)),
    Entry("q182_interarrival", q182InterArrival, Some(q182Sql)),
    Entry("q183_rate_anomalies", q183RateAnomalies, Some(q183Sql)),
    Entry("q186_session_paths", q186SessionPaths, Some(q186Sql)),
    Entry("q187_funnel_delays", q187FunnelDelays, Some(q187Sql)))
}

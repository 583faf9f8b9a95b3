package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.{dec, d28, d6}
import graft.pipeline.Stats.{cleared, crossMoments}

/** Time-series regularization: resample irregular events onto a fixed
  * grid per key, materializing empty buckets and carrying values across
  * gaps — the feature-engineering step ("daily activity per user, zeros
  * for silent days, last-known value forward") that plain GROUP BY can't
  * produce because it has no rows for the gaps.
  */
object Timeseries {

  /** Per-key fixed-step resample of an event stream with gap fill:
    * one output row for EVERY `stepUs` bucket between the key's first
    * and last event (inclusive), carrying
    *   - `n_events`      events in the bucket (0 for gaps),
    *   - `total_value`   exact-decimal sum of `valueCol` (0.0 for gaps),
    *   - `ffill_value`   the most recent non-gap bucket's total, carried
    *                     forward (never null: the grid starts at a bucket
    *                     with data).
    *
    * Scale shape: one aggregate on (keys, bucket) — map-side combinable —
    * then the grid EXPLODES from per-key (min, max) bounds, so the dense
    * timeline is generated distributed, never enumerated on the driver;
    * a left join puts sparse aggregates onto it and ONE per-key ordered
    * window does the forward fill. Grid length per key = its active time
    * range / step: size `stepUs` so that range/step stays sane (a year of
    * dailies = 365 rows/key) — a too-fine step inflates output, not
    * shuffle width.
    */
  def resampleFfill(
      df: DataFrame,
      keys: Seq[String],
      tsUsCol: String,
      stepUs: Long,
      valueCol: String): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    require(stepUs > 0, "stepUs must be positive")
    def dsum(c: Column): Column = sum(c.cast("decimal(28,6)")).cast("double")
    // timestamps bucket at epoch µs (a bare long cast would be SECONDS
    // — off by 10^6 against stepUs); numerics are taken as µs longs
    val tsUs = df.schema(tsUsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType => unix_micros(col(tsUsCol))
      case _ => col(tsUsCol).cast("long")
    }
    val kcols = keys.map(col)
    val agg = df
      .withColumn("_g_b", floor(tsUs / stepUs).cast("long"))
      .groupBy(kcols :+ col("_g_b"): _*)
      .agg(count(lit(1)).as("_g_n"), dsum(col(valueCol)).as("_g_tv"))
    val grid = agg.groupBy(kcols: _*)
      .agg(min(col("_g_b")).as("_g_lo"), max(col("_g_b")).as("_g_hi"))
      .select(kcols :+ explode(sequence(col("_g_lo"), col("_g_hi"))).as("_g_b"): _*)
    val w = Window.partitionBy(kcols: _*).orderBy(col("_g_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, keys :+ "_g_b", "left")
      .select(kcols ++ Seq(
        (col("_g_b") * stepUs).as("bucket_start_us"),
        coalesce(col("_g_n"), lit(0L)).as("n_events"),
        coalesce(col("_g_tv"), lit(0.0)).as("total_value"),
        last(col("_g_tv"), ignoreNulls = true).over(w).as("ffill_value")): _*)
  }

  /** Per-key TIME-WEIGHTED average of a piecewise-constant signal:
    * each observation's value holds until the next observation, so
    *
    *   twa(k) = Σ_i v_i·(t_{i+1} − t_i) / (t_last − t_first)
    *
    * — the correct mean for irregularly-sampled state (a gauge, a
    * price, a queue depth), where the arithmetic mean over-weights
    * bursts of samples. Keys with fewer than two observations are
    * OMITTED from the output (zero elapsed time carries no average).
    *
    * One keyed lead() window (single exchange); the weighted sum runs
    * through DECIMAL (value×duration products summed in engine order
    * otherwise) and one final double division. Duration units cancel,
    * so any monotone integer timestamp works.
    */
  def timeWeightedAvg(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      tieCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val kcols = keys.map(col)
    val w = Window.partitionBy(kcols: _*)
      .orderBy((tsCol +: tieCols).map(col): _*)
    val nextTs = lead(col(tsCol), 1).over(w)
    val seg = df
      .withColumn("_g_dur", (nextTs - col(tsCol)).cast("double"))
      .filter(col("_g_dur").isNotNull)
    seg.groupBy(kcols: _*)
      .agg(
        (sum((col(valueCol).cast("double") * col("_g_dur"))
            .cast("decimal(28,6)")).cast("double") /
          sum(col("_g_dur").cast("decimal(28,6)")).cast("double"))
          .as("twa"),
        count(lit(1)).cast("long").as("n_segments"))
  }

  /** Calendar-dimension generator: one row per day spanning
    * [min, max] of `dateCol`, with the attributes every reporting model
    * joins on — year / quarter / month / day, ISO day-of-week, ISO
    * week, weekend and month-boundary flags. The date itself surfaces
    * as an ISO `yyyy-MM-dd` STRING (`date_key`) — the join-key form
    * that is render-identical across engines and file formats.
    *
    * The day-of-week is pure arithmetic — `((days_since_epoch + 3)
    * mod 7) + 1` (epoch day 0 was a Thursday = ISO 4) — rather than an
    * engine dow() whose week-start convention varies; ISO week uses
    * Spark's weekofyear (ISO-8601, matching DuckDB's week()).
    *
    * Scale: the bounds are an in-plan 1-row aggregate (never
    * collected); sequence() explodes the span from that one row — a
    * century of days is ~36k rows, so single-task generation is
    * correct at any corpus size (repartition downstream if a join
    * needs it spread).
    */
  def dateDim(df: DataFrame, dateCol: String): DataFrame = {
    val d = col("d")
    val isoDow = ((datediff(d, to_date(lit("1970-01-01"))) + 3) % 7) + 1
    df.agg(min(col(dateCol).cast("date")).as("_g_lo"),
        max(col(dateCol).cast("date")).as("_g_hi"))
      .select(explode(sequence(col("_g_lo"), col("_g_hi"),
        expr("interval 1 day"))).as("d"))
      .select(
        date_format(d, "yyyy-MM-dd").as("date_key"),
        year(d).cast("long").as("year"),
        quarter(d).cast("long").as("quarter"),
        month(d).cast("long").as("month"),
        dayofmonth(d).cast("long").as("day"),
        isoDow.cast("long").as("iso_dow"),
        weekofyear(d).cast("long").as("iso_week"),
        (isoDow >= 6).cast("int").as("is_weekend"),
        (d === trunc(d, "month")).cast("int").as("is_month_start"),
        (d === last_day(d)).cast("int").as("is_month_end"))
  }

  /** Event-RATE anomaly detection: per key, bucket the stream into
    * fixed windows, compare each bucket's count against the trailing
    * `baselineBuckets` buckets' mean/σ, and flag buckets whose z-score
    * magnitude exceeds `tau` — the ops alarm for traffic spikes and
    * outages (a dead source flatlining, a scraper bursting).
    *
    * Determinism discipline: the anomaly PREDICATE is evaluated in
    * exact integer arithmetic —
    *
    *   |z| > τ  ⟺  (n·c − S1)²·(n−1) > τ²·n·(n·S2 − S1²)
    *
    * over the trailing frame's exact sums (S1, S2, n are window sums
    * of integer counts), so the flag can NEVER flicker on a float
    * boundary; the reported z itself is a d6 double for humans. The
    * predicate (and S2 itself) runs in decimal(38,0), not long — at
    * 100 TB a bucket count c can reach ~10⁹, where (n·c)² ≈ 10²²
    * silently wraps 2⁶³ and would flip the flag; 38 digits cover
    * c ≤ ~10¹⁶ at the default 24-bucket frame. Var=0
    * frames flag exactly when c ≠ mean (RHS 0 < LHS). Buckets with
    * fewer than `minBaseline` trailing observations emit z NULL and
    * flag 0 (warm-up). The trailing frame is a RANGE frame over bucket
    * NUMBERS, so missing (empty) buckets simply don't contribute —
    * densify upstream with [[resampleFfill]] when zeros should count.
    *
    * Two exchanges, by design: the event-sized aggregate shuffles on
    * the FINE (key, bucket) pair — low-cardinality keys (a handful of
    * event types over 100 TB) would hot-spot a key-only shuffle — and
    * only the aggregated frame (≤ keys × buckets rows) re-shuffles on
    * the key for the sliding RANGE frame, whose sums are O(1) per row.
    */
  def rateAnomalies(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      bucketUs: Long,
      baselineBuckets: Int = 24,
      minBaseline: Int = 12,
      tau: Int = 3): DataFrame = {
    require(bucketUs > 0 && baselineBuckets >= 1 && tau >= 1,
      "bucketUs, baselineBuckets and tau must be positive")
    require(minBaseline >= 2, "minBaseline must be >= 2 (sample variance)")
    val kcols = keys.map(col)
    val counts = df
      .select(kcols :+ expr(s"`$tsCol` div ${bucketUs}L").as("_g_b"): _*)
      .groupBy(kcols :+ col("_g_b"): _*)
      .agg(count(lit(1)).as("_g_c"))
    val w = Window.partitionBy(kcols: _*).orderBy(col("_g_b"))
      .rangeBetween(-baselineBuckets.toLong, -1L)
    val c = col("_g_c")
    val n = col("_g_n")
    val s1 = col("_g_s1")
    val s2 = col("_g_s2")
    // exact predicate in decimal(38,0): long wraps at c ≈ 3·10⁹ here
    val cD = dec(c)
    val nD = dec(n)
    val s1D = dec(s1)
    val s2D = dec(s2)
    val lhs = (nD * cD - s1D) * (nD * cD - s1D) * (nD - dec(lit(1L)))
    val rhs = dec(lit(tau.toLong * tau)) * nD * (nD * s2D - s1D * s1D)
    val mean = s1.cast("double") / n.cast("double")
    val varS = (n.cast("double") * s2.cast("double") -
      s1.cast("double") * s1.cast("double")) /
      (n.cast("double") * (n.cast("double") - lit(1.0)))
    val z = (c.cast("double") - mean) / sqrt(varS)
    counts
      .withColumn("_g_n", count(c).over(w))
      .withColumn("_g_s1", sum(c).over(w))
      .withColumn("_g_s2", sum(dec(c) * dec(c)).over(w))
      .select(kcols ++ Seq(
        (col("_g_b") * bucketUs).as("bucket_start_us"),
        c.as("n_events"),
        n.as("n_baseline"),
        when(n >= minBaseline,
          mean.cast("decimal(28,6)").cast("double")).as("baseline_mean"),
        when(n >= minBaseline && varS > 0.0,
          z.cast("decimal(28,6)").cast("double")).as("z_score"),
        when(n >= minBaseline && lhs > rhs, 1).otherwise(0)
          .as("is_anomaly")): _*)
  }

  /** Holt double-exponential smoothing (level + linear trend) per
    * series, with an h-step-ahead forecast — the one-line capacity /
    * volume projection a monitoring pipeline wants next to its current
    * rates. Smoothing constants are FIXED at α = β = 1/2, which makes
    * the whole trajectory EXACT INTEGER arithmetic: with
    * l_t = (y_t + l_{t−1} + b_{t−1})/2 and b_t = (l_t − l_{t−1} + b_{t−1})/2,
    * the scaled state L = 4^t·l, B = 4^t·b follows
    *
    *   L_t = 2P·y + 2L + 2B,   B_t = P·y − L + 3B,   P_t = 4P
    *
    * (P = 4^{t−1}) — integer-closed, so both engines replay the exact
    * same trajectory and only the final divisions round (d6). Init:
    * l = y₁, b = y₁ − y₀ at the second observation.
    *
    * Contract (loud in-plan guards): integer metric with |y| ≤ 1e6,
    * series length in [2, maxLen] with maxLen ≤ 48 — 4^46·1e6 ≈ 5·10³³
    * stays inside decimal(38,0)/HUGEINT. Series are collected per key
    * (bounded by maxLen — the same bounded-list contract as the
    * tokenizer trainers), folded in-row by an aggregate HOF, and the
    * horizon explodes in-row: one key-keyed exchange total, any number
    * of series.
    */
  def holtForecast(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      horizon: Int = 3,
      maxLen: Int = 48): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    require(maxLen >= 2 && maxLen <= 48,
      s"maxLen must be in [2, 48], got $maxLen")
    val series = df
      .select(col(keyCol).cast("string").as("key"),
        struct(col(timeCol).cast("long").as("t"),
          col(valueCol).cast("long").as("y")).as("_p"))
      .groupBy(col("key"))
      .agg(sort_array(collect_list(col("_p"))).as("_ser"))
    val n = size(col("_ser"))
    val guarded = series.withColumn("_ser",
      when(n >= 2 && n <= maxLen &&
          forall(col("_ser"), p => abs(p.getField("y")) <= 1000000L),
          col("_ser"))
        .otherwise(raise_error(concat(
          lit(s"holtForecast: series must have 2..$maxLen points with "),
          lit("|y| <= 1e6; key="), col("key"), lit(" n="),
          n.cast("string")))))
    // state: (L, B, P) scaled by 4^t — see scaladoc; fold over items[2..]
    val folded = guarded.withColumn("_st",
      aggregate(
        slice(col("_ser"), lit(3), greatest(size(col("_ser")) - 2, lit(0))),
        struct(
          element_at(col("_ser"), 2).getField("y").cast("decimal(38,0)")
            .as("l"),
          (element_at(col("_ser"), 2).getField("y") -
            element_at(col("_ser"), 1).getField("y")).cast("decimal(38,0)")
            .as("b"),
          lit(1L).cast("decimal(38,0)").as("p")),
        (st, pt) => {
          val y = pt.getField("y").cast("decimal(38,0)")
          val nl = (st.getField("p") * y * lit(2) + st.getField("l") * 2 +
            st.getField("b") * 2).cast("decimal(38,0)")
          val nb = (st.getField("p") * y - st.getField("l") +
            st.getField("b") * 3).cast("decimal(38,0)")
          struct(nl.as("l"), nb.as("b"),
            (st.getField("p") * 4).cast("decimal(38,0)").as("p"))
        }))
    // after T fold steps the stored p is 4^T (init 4^0, ×4 per step),
    // exactly the scale of L and B — including T = 0 (p = 1)
    val denFix = col("_st").getField("p").cast("double")
    val nObs = size(col("_ser")).cast("long")
    val lvl = col("_st").getField("l").cast("double") / denFix
    val trd = col("_st").getField("b").cast("double") / denFix
    folded
      .select(col("key"), nObs.as("n_obs"),
        d6(lvl).as("level"), d6(trd).as("trend"),
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("_st"), denFix.as("_den"))
      .withColumn("forecast",
        d6((col("_st").getField("l").cast("double") +
          col("h").cast("double") * col("_st").getField("b").cast("double"))
          / col("_den")))
      .drop("_st", "_den")
  }

  /** Classical additive seasonal decomposition x = trend + seasonal +
    * residual per series — the monitoring primitive that separates "we
    * always dip at 3am" from "volume is actually falling": alarms on
    * the RESIDUAL don't re-fire every night.
    *
    *   - trend: centered moving average of length `period` (for even
    *     periods the standard 2×p MA: half-weight endpoints) — computed
    *     as an INTEGER window numerator over the raw values with ONE
    *     d6 division, defined only where the full window exists;
    *   - seasonal: per-phase mean of (x − trend), then centered to sum
    *     ~0 over the period — both means are decimal sums of d6 values
    *     (order-free) with one d6 division each;
    *   - residual = x − trend − seasonal.
    *
    * Rows are phase-indexed by their within-series RANK (timeCol-
    * ordered, ties broken undefined — use unique times), so gaps in
    * the time axis shift phases: densify with [[resampleFfill]] first
    * when buckets can be empty.
    *
    * Scale shape: per-series windows (series = one key's rows — the
    * bounded-series class, like [[holtForecast]] but window-based so
    * thousands of points per key are fine) and one phase-keyed
    * aggregate broadcast back. Output: (keyCol, timeCol, valueCol,
    * phase, trend, seasonal, residual).
    */
  def seasonalDecompose(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val base = df.select(col(keyCol).cast("string").as("key"),
      col(timeCol).cast("long").as("t"), col(valueCol).cast("long").as("x"))
    val wOrd = Window.partitionBy(col("key")).orderBy(col("t"))
    val half = period / 2
    val (num, den) =
      if (period % 2 == 1) {
        val w = wOrd.rowsBetween(-half, half)
        (sum(col("x")).over(w), period.toLong)
      } else {
        // 2×p MA: x_{-h} + 2·(middle) + x_{+h} over 2p
        val wIn = wOrd.rowsBetween(-(half - 1), half - 1)
        val lo = lag(col("x"), half).over(wOrd)
        val hi = lead(col("x"), half).over(wOrd)
        (lo + lit(2L) * sum(col("x")).over(wIn) + hi, 2L * period)
      }
    val ranked = base
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_nk", count(lit(1)).over(
        Window.partitionBy(col("key"))
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      .withColumn("phase", ((col("_rn") - 1L) % period).cast("int"))
      .withColumn("trend",
        when(col("_rn") > half && col("_rn") <= col("_nk") - half,
          d6(num.cast("double") / den.toDouble)))
    val det6 = (col("x").cast("double") - col("trend"))
      .cast("decimal(28,6)")
    val phaseMeans = ranked
      .filter(col("trend").isNotNull)
      .groupBy(col("key"), col("phase"))
      .agg(count(lit(1)).as("_pm_n"), sum(det6).as("_pm_s"))
      .select(col("key"), col("phase"),
        d6(col("_pm_s").cast("double") / col("_pm_n").cast("double"))
          .as("_pm"))
    val centers = phaseMeans
      .groupBy(col("key"))
      .agg(count(lit(1)).as("_c_n"),
        sum(col("_pm").cast("decimal(28,6)")).as("_c_s"))
      .select(col("key"),
        d6(col("_c_s").cast("double") / col("_c_n").cast("double"))
          .as("_ctr"))
    ranked
      .join(phaseMeans, Seq("key", "phase"), "left")
      .join(broadcast(centers), Seq("key"))
      .withColumn("seasonal",
        when(col("_pm").isNotNull, d6(col("_pm") - col("_ctr"))))
      .withColumn("residual",
        when(col("trend").isNotNull && col("seasonal").isNotNull,
          d6(col("x").cast("double") - col("trend") - col("seasonal"))))
      .select(col("key").as(keyCol), col("t").as(timeCol),
        col("x").as(valueCol), col("phase"), col("trend"),
        col("seasonal"), col("residual"))
  }

  /** Sample autocorrelation function per key: for each lag k = 1..
    * `maxLag`, r_k = Σ_t (x_t−x̄)(x_{t−k}−x̄) / Σ_t (x_t−x̄)² over the
    * key's series in `tCol` order — the diagnostic that tells a
    * volume-monitoring pipeline whether its daily/6h cycle is real and
    * how fast shocks decay (and, as a corrgram, feeds ARIMA order
    * picks).
    *
    * Exactness (the cross-engine contract): the series must be
    * INTEGER-valued (counts — enforced by a long cast). Deviations are
    * denominator-cleared: d_t = n·x_t − S is a long, products go
    * through decimal(38,0) (d² can pass 2⁶³), and r_k is ONE double
    * division of two exact decimal sums, d6-quantized. The n² factor
    * cancels between numerator and denominator, so clearing changes
    * nothing but exactness. Constant series (zero variance) → NULL.
    *
    * Scale shape: one (key, t) aggregate upstream of the call; here
    * one per-key stats aggregate, ONE ordered window pass producing
    * all maxLag lagged deviations, an explode bounded by maxLag, and
    * one (key, lag) aggregate — per-key windows are the bounded-series
    * contract shared with [[seasonalDecompose]] (a key's series fits a
    * partition; series length is time-range/step, not corpus size).
    */
  def acf(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val stats = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_n"), sum(col(xCol).cast("long")).as("_s"))
    val dev = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .join(stats, Seq("_k"))
      .withColumn("_d", col("_n") * col("_x") - col("_s"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val lagged = dev.select(
      Seq(col("_k"), col("_n"), col("_d")) ++
        (1 to maxLag).map(k => lag(col("_d"), k).over(w).as(s"_l$k")): _*)
    val den = lagged.groupBy(col("_k"))
      .agg(sum(dec(dec(col("_d")) * dec(col("_d")))).as("_den"),
        max(col("_n")).as("_n"))
    val prods = lagged.select(col("_k"),
      explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"),
          dec(dec(col("_d")) * dec(col(s"_l$k"))).as("p"))): _*))
        .as("_e"))
      .select(col("_k"), col("_e.lag").as("lag"), col("_e.p").as("p"))
      .filter(col("p").isNotNull)
    prods.groupBy(col("_k"), col("lag"))
      .agg(sum(col("p")).as("_num"))
      .join(den, Seq("_k"))
      .select(col("_k").as(keyCol), col("lag"),
        col("_n").as("n_periods"),
        when(col("_den") > 0,
          d6(col("_num").cast("double") / col("_den").cast("double")))
          .as("acf"))
  }

  /** Ljung–Box portmanteau whiteness test per series — "is anything
    * LEFT in the autocorrelations?", the one-number rollup of [[acf]]'s
    * corrgram (Ljung & Box 1978) that an anomaly/forecast pipeline runs
    * on its residuals or raw volumes before trusting an i.i.d.
    * assumption:
    *
    *   Q = n(n+2) · Σ_{k=1..K} ρ_k²/(n−k)
    *
    * built ON the d6 ρ_k values [[acf]] already emits (the composition
    * IS the determinism argument: each term ρ_k²/(n−k) d6-rounds before
    * the order-free decimal sum, then Q closes with one more d6).
    * `significant` compares Q to the fixed [[Stats.chiSq95]] literal at
    * df = K (the raw-series convention; for model residuals subtract
    * the fitted parameter count offline — df is reported). A series too
    * short for all K lags (n ≤ K) or with zero variance (ρ NULL)
    * answers NULL q_stat, not a crash — the [[acf]] convention.
    *
    * Scale shape: [[acf]]'s plan + ONE key-rollup of the ≤ keys×K
    * corrgram frame. Nothing new touches the corpus.
    */
  /** Partial autocorrelation function (PACF) via Durbin–Levinson —
    * the Box–Jenkins order-selection diagnostic next to [[acf]]: the
    * lag-k partial correlation with lags 1..k−1 regressed out, so an
    * AR(p) series cuts off sharply after lag p where the raw ACF only
    * decays. Input contract and output shape mirror [[acf]]:
    * (key, lag 1..maxLag, n_periods, pacf).
    *
    * REPLAYABLE-TRAINING class determinism (q218's discipline): the
    * recursion runs on [[acf]]'s d6 ρ values and every stored
    * coefficient d6-rounds —
    *
    *   φ_kk = d6((ρ_k − Σ_j φ_{k−1,j}·ρ_{k−j}) /
    *              (1 − Σ_j φ_{k−1,j}·ρ_j))
    *   φ_kj = d6(φ_{k−1,j} − φ_kk·φ_{k−1,k−j})
    *
    * — so an independent engine replays the trajectory bit-for-bit. A
    * zero denominator (perfectly predictable series) answers NULL from
    * that lag on; a series too short for all maxLag lags (or with zero
    * variance) answers NULL at every lag — the [[acf]] convention.
    *
    * Scale shape: [[acf]]'s plan + one per-key rollup to a single
    * (maxLag ≤ 30)-element row and an in-row O(K²) fold — the
    * corrgram, not the corpus, pays for the recursion.
    */
  def pacf(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30,
      s"maxLag must be in [1,30], got $maxLag")
    val rho = acf(df, keyCol, tCol, xCol, maxLag)
    val perKey = rho.groupBy(col(keyCol))
      .agg(max(col("n_periods")).as("n_periods"),
        count(col("acf")).as("_nl"),
        array_sort(collect_list(struct(col("lag"), col("acf").as("r"))))
          .as("_ra"))
    val K = maxLag
    // rho as a plain 1-indexed array, lambda-bound below
    val rhoArr = "transform(_ra, s -> s.r)"
    val d6 = (x: String) => s"CAST(CAST(($x) AS DECIMAL(28,6)) AS DOUBLE)"
    // Durbin–Levinson fold: acc = (arr = φ_{k-1,·}, kk = diagonal so
    // far, bad = poisoned by a zero denominator). Each step binds
    // (num, den) — and then φ_kk — through the one-element-transform
    // idiom.
    val init = "named_struct(" +
      "'arr', array(element_at(p, 1)), " +
      "'kk', array(element_at(p, 1)), " +
      "'bad', element_at(p, 1) IS NULL)"
    val poisoned = "named_struct(" +
      "'arr', acc.arr, " +
      "'kk', concat(acc.kk, array(CAST(NULL AS DOUBLE))), " +
      "'bad', true)"
    val numDen = "named_struct(" +
      "'n', element_at(p, k) - aggregate(sequence(1, k - 1), " +
      "CAST(0.0 AS DOUBLE), (s, j) -> s + element_at(acc.arr, j) * " +
      "element_at(p, k - j)), " +
      "'d', 1.0 - aggregate(sequence(1, k - 1), CAST(0.0 AS DOUBLE), " +
      "(s, j) -> s + element_at(acc.arr, j) * element_at(p, j)))"
    val applyPk = "element_at(transform(array(" +
      d6("nd.n / nd.d") + "), pk -> named_struct(" +
      "'arr', concat(transform(sequence(1, k - 1), j -> " +
      d6("element_at(acc.arr, j) - pk * element_at(acc.arr, k - j)") +
      "), array(pk)), " +
      "'kk', concat(acc.kk, array(pk)), " +
      "'bad', false)), 1)"
    val step = s"(acc, k) -> CASE WHEN acc.bad THEN $poisoned ELSE " +
      s"element_at(transform(array($numDen), nd -> " +
      s"CASE WHEN nd.d = 0.0 THEN $poisoned ELSE $applyPk END), 1) END"
    val fold =
      if (K == 1)
        s"element_at(transform(array($rhoArr), " +
          "p -> array(element_at(p, 1))), 1)"
      else
        s"element_at(transform(array($rhoArr), " +
          s"p -> aggregate(sequence(2, $K), $init, $step)), 1).kk"
    val complete = perKey.withColumn("_kk",
      when(col("_nl") === K.toLong, expr(fold))
        .otherwise(expr(
          s"transform(sequence(1, $K), i -> CAST(NULL AS DOUBLE))")))
    complete
      .select(col(keyCol), col("n_periods"),
        posexplode(col("_kk")).as(Seq("_p", "pacf")))
      .select(col(keyCol), (col("_p") + 1).as("lag"),
        col("n_periods"), col("pacf"))
  }

  /** Sample cross-correlation function ρ_xy(lag) for lag 0..maxLag —
    * [[acf]]'s two-series twin: "does series x LEAD series y by k
    * buckets?" (views → purchases, deploys → errors). ρ_xy(k)
    * correlates x_{t−k} with y_t, so a peak at k > 0 reads as x
    * leading y by k periods — the lead–lag attribution a funnel or
    * incident pipeline wants before any causal claim.
    *
    * The [[acf]] determinism contract, doubled: deviations are
    * denominator-cleared integers (dx = n·x − Sx, dy = n·y − Sy — the
    * n² cancels in the ratio), lag products sum in decimal(38,0), the
    * denominator √(Σdx²·Σdy²) is one sqrt of an exact product, and
    * each (key, lag) closes with ONE d6 division. Zero variance on
    * either side answers NULL. Both series must ride the SAME bucket
    * spine — join/densify upstream ([[resampleFfill]]) so a missing
    * bucket is an explicit zero, not a silent skip.
    *
    * Scale shape: one stats aggregate + ONE ordered per-key window
    * emitting all lags + a (key, lag) aggregate — [[acf]]'s plan with
    * a second value column along for the ride.
    */
  def ccf(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      yCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    val stats = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_n"),
        sum(col(xCol).cast("long")).as("_sx"),
        sum(col(yCol).cast("long")).as("_sy"))
    val dev = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
      .join(stats, Seq("_k"))
      .withColumn("_dx", col("_n") * col("_x") - col("_sx"))
      .withColumn("_dy", col("_n") * col("_y") - col("_sy"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val lagged = dev.select(
      Seq(col("_k"), col("_n"), col("_dx"), col("_dy")) ++
        (0 to maxLag).map(k =>
          lag(col("_dx"), k).over(w).as(s"_l$k")): _*)
    val den = lagged.groupBy(col("_k"))
      .agg(sum(dec(dec(col("_dx")) * dec(col("_dx")))).as("_denx"),
        sum(dec(dec(col("_dy")) * dec(col("_dy")))).as("_deny"),
        max(col("_n")).as("_n"))
    val prods = lagged.select(col("_k"),
      explode(array((0 to maxLag).map(k =>
        struct(lit(k).as("lag"),
          dec(dec(col("_dy")) * dec(col(s"_l$k"))).as("p"))): _*))
        .as("_e"))
      .select(col("_k"), col("_e.lag").as("lag"), col("_e.p").as("p"))
      .filter(col("p").isNotNull)
    prods.groupBy(col("_k"), col("lag"))
      .agg(sum(col("p")).as("_num"))
      .join(den, Seq("_k"))
      .select(col("_k").as(keyCol), col("lag"),
        col("_n").as("n_periods"),
        when(col("_denx") > 0 && col("_deny") > 0,
          d6(col("_num").cast("double") /
            sqrt(col("_denx").cast("double") *
              col("_deny").cast("double")))).as("ccf"))
  }

  /** Wald–Wolfowitz runs test per series — randomness of the
    * above/below-median pattern: too FEW runs = sticky regimes
    * (autocorrelation, level shifts), too MANY = oscillation. The
    * cheap sanity check next to [[ljungBox]]: distribution-free, and
    * it catches sign-pattern structure a correlation test can miss.
    *
    * Exact until the one d6 z: the per-key median is computed in
    * DOUBLED units (two order statistics over the per-key
    * distinct-value frame — the brownForsythe machinery), values
    * EQUAL to the median drop (the standard convention), the run
    * count R and the above/below counts n₊/n₋ are integers, and
    *
    *   z = (R − μ)/σ,  μ = 2n₊n₋/n + 1,
    *   σ² = 2n₊n₋(2n₊n₋ − n) / (n²(n−1))
    *
    * evaluates in one fixed double order with d6 at z. Degenerate
    * series (n₊ = 0 or n₋ = 0 after the drop) answer NULL.
    * `significant` is the fixed |z| ≥ 1.959964.
    *
    * Scale shape: one (key, value) aggregate for the median, one
    * ordered per-key window for the run boundaries, ONE keyed rollup.
    */
  def runsTest(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String): DataFrame = {
    val W = Window
    val byKV = df.groupBy(col(keyCol).as("_k"),
        col(xCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val wg = W.partitionBy(col("_k")).orderBy(col("_v"))
      .rowsBetween(W.unboundedPreceding, -1)
    val cum = byKV.select(col("_k"), col("_v"), col("_c"),
      coalesce(sum(col("_c")).over(wg), lit(0L)).as("_cb"))
      .join(byKV.groupBy(col("_k")).agg(sum(col("_c")).as("_n")),
        Seq("_k"))
    val lo = floor((col("_n") + 1L) / lit(2.0)).cast("long")
    val hi = floor(col("_n") / lit(2.0)).cast("long") + 1L
    val med = cum.groupBy(col("_k"))
      .agg((max(when(col("_cb") < lo && lo <= col("_cb") + col("_c"),
          col("_v"))) +
        max(when(col("_cb") < hi && hi <= col("_cb") + col("_c"),
          col("_v")))).as("_med2"))
    val signed = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .join(med, Seq("_k"))
      .withColumn("_s", when(lit(2L) * col("_x") > col("_med2"), 1)
        .when(lit(2L) * col("_x") < col("_med2"), -1))
      .filter(col("_s").isNotNull)
    val wo = W.partitionBy(col("_k")).orderBy(col("_t"))
    val runs = signed
      .withColumn("_brk",
        when(lag(col("_s"), 1).over(wo).isNull ||
          lag(col("_s"), 1).over(wo) =!= col("_s"), 1L).otherwise(0L))
    val agg = runs.groupBy(col("_k"))
      .agg(sum(col("_brk")).as("n_runs"),
        sum(when(col("_s") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("_s") === -1, 1L).otherwise(0L)).as("n_below"))
    val np = col("n_above").cast("double")
    val nm = col("n_below").cast("double")
    val n = np + nm
    val mu = lit(2.0) * np * nm / n + 1.0
    val sig2 = lit(2.0) * np * nm * (lit(2.0) * np * nm - n) /
      (n * n * (n - 1.0))
    val z = when(col("n_above") > 0L && col("n_below") > 0L &&
        sig2 > 0.0,
      d6((col("n_runs").cast("double") - mu) / sqrt(sig2)))
    agg.select(col("_k").as(keyCol), col("n_runs"), col("n_above"),
      col("n_below"), z.as("z_stat"),
      when(z.isNotNull, (abs(z) >= 1.959964).cast("int"))
        .as("significant"))
  }

  /** Mann–Kendall trend test per series — the significance partner of
    * [[theilSen]]'s slope (the standard pairing in environmental /
    * ops monitoring): S = Σ_{i<j} sign(x_j − x_i) counts concordant
    * minus discordant time pairs, distribution-free and robust to
    * spikes that wreck OLS trend tests.
    *
    * Exact: S and the tie spectrum are integers — S from an in-row
    * O(n²) fold over the collected per-key series (bounded LOUDLY by
    * `maxPeriods`; series length is the bucketed-time axis, not the
    * corpus), ties from the (key, value) count frame; the normal
    * approximation
    *
    *   Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18
    *   z = (S ∓ 1)/√Var  (continuity-corrected, 0 at S = 0)
    *
    * closes with ONE d6. `significant` is |z| ≥ 1.959964; a series
    * with Var = 0 (all values tied) answers NULL.
    *
    * Scale shape: one ordered per-key collect to a guarded row +
    * in-row pair fold, one (key, value) aggregate for ties — the
    * series frame pays, never the corpus.
    */
  def mannKendall(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxPeriods: Int = 512): DataFrame = {
    require(maxPeriods >= 3, s"maxPeriods must be >= 3, got $maxPeriods")
    val series = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .groupBy(col("_k"))
      .agg(array_sort(collect_list(struct(col("_t"), col("_x"))))
        .as("_sr"))
    // loud in-plan guard on the USED column
    val guarded = series.withColumn("_sr",
      when(size(col("_sr")) <= maxPeriods, col("_sr"))
        .otherwise(raise_error(concat(
          lit("mannKendall: series of "),
          size(col("_sr")).cast("string"),
          lit(s" periods exceeds maxPeriods=$maxPeriods — widen the " +
            "buckets or raise the bound")))
          .cast("array<struct<_t:bigint,_x:bigint>>")))
    val sExpr = "aggregate(sequence(1, size(_sr) - 1), CAST(0 AS BIGINT)," +
      " (acc, i) -> acc + aggregate(sequence(CAST(i AS INT) + 1, " +
      "size(_sr)), CAST(0 AS BIGINT), (a2, j) -> a2 + " +
      "CAST(sign(element_at(_sr, j)._x - element_at(_sr, i)._x) " +
      "AS BIGINT)))"
    val withS = guarded.select(col("_k"),
      size(col("_sr")).cast("long").as("n_periods"),
      when(size(col("_sr")) >= 2, expr(sExpr)).otherwise(lit(0L))
        .as("s_stat"))
    val ties = df.groupBy(col(keyCol).as("_k"),
        col(xCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_t"))
      .groupBy(col("_k"))
      .agg(coalesce(sum(dec(col("_t")) * dec(col("_t") - 1L) *
        dec(lit(2L) * col("_t") + 5L)), dec(lit(0L))).as("_tsum"))
    val joined = withS.join(ties, Seq("_k"))
    val nD = dec(col("n_periods"))
    val varS = ((nD * dec(col("n_periods") - 1L) *
      dec(lit(2L) * col("n_periods") + 5L) - col("_tsum")))
      .cast("double") / lit(18.0)
    val corr = when(col("s_stat") > 0L, col("s_stat") - 1L)
      .when(col("s_stat") < 0L, col("s_stat") + 1L)
      .otherwise(lit(0L))
    val z = when(varS > 0.0, d6(corr.cast("double") / sqrt(varS)))
    joined.select(col("_k").as(keyCol), col("n_periods"),
      col("s_stat"), z.as("z_stat"),
      when(z.isNotNull, (abs(z) >= 1.959964).cast("int"))
        .as("significant"))
  }

  /** Forecast accuracy battery — MAE, WMAPE and MASE (Hyndman &
    * Koehler 2006) per series, the scale-free scorecard for ANY
    * forecast column ([[holt]]'s, a seasonal-naive, an external
    * model's): WMAPE normalizes by actual volume (comparable across
    * series sizes), MASE by the in-window seasonal-naive error
    * (< 1 = beats naive — THE threshold a forecast must clear to earn
    * its complexity).
    *
    * Determinism: each |a_t − f_t| d6-rounds before the order-free
    * decimal sum (forecasts are doubles by nature); the naive
    * reference |a_t − a_{t−season}| is exact integers; mae, the naive
    * mae, wmape and mase are each ONE d6 division in a fixed staged
    * chain (mase = d6(mae / naive_mae) over the two already-d6
    * values). Rows with a NULL forecast (warm-up) are excluded first;
    * the naive lag runs over the surviving per-key frame. A series
    * with no naive pairs or zero naive error answers NULL mase; zero
    * actual volume answers NULL wmape.
    *
    * Scale shape: one ordered per-key window (the seasonal lag) +
    * ONE keyed aggregate.
    */
  def forecastAccuracy(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      actualCol: String,
      forecastCol: String,
      season: Int = 1): DataFrame = {
    require(season >= 1, s"season must be >= 1, got $season")
    val base = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(actualCol).cast("long").as("_a"),
        col(forecastCol).cast("double").as("_f"))
      .filter(col("_f").isNotNull)
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val lagged = base
      .withColumn("_al", lag(col("_a"), season).over(w))
    val errTerm = abs(col("_a").cast("double") - col("_f"))
      .cast("decimal(28,6)")
    val agg = lagged.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_obs"),
        sum(errTerm).as("_e6"),
        sum(abs(col("_a"))).as("_sa"),
        count(col("_al")).as("_nn"),
        sum(abs(col("_a") - col("_al"))).as("_sn"))
    val mae = d6(col("_e6").cast("double") / col("n_obs").cast("double"))
    val staged = agg.select(col("_k").as(keyCol), col("n_obs"),
      mae.as("mae"),
      when(col("_sa") > 0L,
        d6(col("_e6").cast("double") / col("_sa").cast("double")))
        .as("wmape"),
      when(col("_nn") > 0L && col("_sn") > 0L,
        d6(col("_sn").cast("double") / col("_nn").cast("double")))
        .as("_nmae"))
    staged.select(col(keyCol), col("n_obs"), col("mae"), col("wmape"),
      when(col("_nmae").isNotNull, d6(col("mae") / col("_nmae")))
        .as("mase"))
  }

  /** Lag-1 Granger causality — the F-test behind "do x's past values
    * improve the forecast of y beyond y's own past?": compare the
    * restricted regression y_t ~ y_{t−1} against the unrestricted
    * y_t ~ y_{t−1} + x_{t−1} on the same aligned window, F =
    * (RSS_r − RSS_u)/(RSS_u/(n−3)). The quantitative step after
    * [[ccf]]'s lead-lag picture (correlation at a lag is NOT
    * incremental predictive value — this is).
    *
    * Sufficient statistics are EXACT decimal(38,0) raw sums over the
    * aligned rows ([[Stats.crossMoments]], shared with [[Stats.ols2]]);
    * the [[Stats.cleared]] centered forms stay decimal,
    * and the closed-form OLS algebra (Cramer on the 2×2 normal
    * equations) runs in ONE fixed double expression order with d6 at
    * rss_r, rss_u and f_stat — engine-replayable because every input
    * to the double chain is an exact integer. F is invariant to the
    * n-scaling of the centered sums, so no division is needed before
    * the ratio. `significant` uses the asymptotic F(1,∞) = χ²(1) 5%
    * bound 3.841459 (documented: exact only as n grows; at the
    * bucketed-series sizes this targets, n ≥ 100s, the gap is < 2%).
    * Degenerate inputs answer NULL f (zero u-variance or collinear
    * regressors); n < 4 fails loudly.
    *
    * Scale shape: one ordered per-key window (the lag) + ONE keyed
    * aggregate — nothing wider than the series frame.
    */
  def granger(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val lagged = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
      .withColumn("_u", lag(col("_y"), 1).over(w))
      .withColumn("_v", lag(col("_x"), 1).over(w))
      .filter(col("_u").isNotNull)
    val agg = crossMoments(lagged.groupBy(col("_k")), "_n",
      "y", "u", "v", "yy", "yu", "yv", "uu", "uv", "vv")
    val checked = agg.withColumn("_n",
      when(col("_n") >= 4L, col("_n"))
        .otherwise(raise_error(concat(
          lit("granger: need >= 4 aligned observations, got "),
          col("_n").cast("string"))).cast("long")))
    // centered sums (×n — F is invariant to the common scaling)
    def c2(sab: String, sa: String, sb: String): Column =
      cleared("_n", sab, sa, sb).cast("double")
    val syy = c2("_syy", "_sy", "_sy")
    val suy = c2("_syu", "_su", "_sy")
    val svy = c2("_syv", "_sv", "_sy")
    val suu = c2("_suu", "_su", "_su")
    val suv = c2("_suv", "_su", "_sv")
    val svv = c2("_svv", "_sv", "_sv")
    val det = suu * svv - suv * suv
    val b = (suy * svv - svy * suv) / det
    val cc = (svy * suu - suy * suv) / det
    val rssR = when(suu > 0.0, d6(syy - suy * suy / suu))
    val rssU = when(det > 0.0, d6(syy - b * suy - cc * svy))
    val staged = checked.select(col("_k").as(keyCol),
      col("_n").as("n_obs"), rssR.as("rss_r"), rssU.as("rss_u"))
    val f = when(col("rss_u") > 0.0,
      d6((col("rss_r") - col("rss_u")) /
        (col("rss_u") / (col("n_obs") - 3L).cast("double"))))
    staged.select(col(keyCol), col("n_obs"), col("rss_r"), col("rss_u"),
      f.as("f_stat"),
      when(f.isNotNull, (f >= 3.841459).cast("int")).as("significant"))
  }

  def ljungBox(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30,
      s"maxLag must be in [1,30] (chi-square table bound), got $maxLag")
    val rho = acf(df, keyCol, tCol, xCol, maxLag)
    val term = (col("acf") * col("acf") /
      (col("n_periods") - col("lag")).cast("double"))
      .cast("decimal(28,6)")
    val agg = rho.groupBy(col(keyCol))
      .agg(max(col("n_periods")).as("n_periods"),
        count(col("acf")).as("n_lags"),
        sum(term).as("_q6"))
    val n = col("n_periods").cast("double")
    val q = when(col("n_lags") === maxLag.toLong,
      d6(n * (n + 2.0) * col("_q6").cast("double")))
    agg.select(col(keyCol), col("n_periods"), col("n_lags"),
      lit(maxLag).cast("long").as("df"),
      q.as("q_stat"),
      when(q.isNotNull,
        (q >= graft.pipeline.Stats.chiSq95(maxLag - 1)).cast("int"))
        .as("significant"))
  }

  /** Discrete-Fourier periodogram per series — the frequency-domain
    * partner of [[acf]]: raw spectral power I(k) at integer frequencies
    * k = 1..min(`maxFreq`, ⌊n/2⌋) over the key's `tCol`-ordered series,
    * plus the dominant cycle (`is_peak`) — "is the 6h/daily cycle real,
    * and which period carries the energy?" (Schuster 1898; the
    * volume-seasonality detector a monitoring pipeline runs before
    * committing to a seasonal forecast model).
    *
    * Determinism contract: the trig factors cos/sin(2πki/n) are each
    * d6-QUANTIZED (both engines evaluate libm cos/sin of the identical
    * double argument — the d6 collapse absorbs the ≤1-ulp libm spread);
    * deviations are denominator-cleared integers d_i = n·x_i − S, the
    * products d_i·trig go through decimal(38,6) (order-free sums), and
    * I(k) = (C² + S²)/n³ closes with ONE d6. Constant series → power 0
    * at every k. `is_peak` marks the max-power frequency (ties → lowest
    * k), a per-key window over the ≤maxFreq-row corrgram frame.
    *
    * Scale shape: one per-key stats aggregate, the (series × freq)
    * frame from a bounded per-key sequence explode (n·maxFreq rows per
    * key — the bucketed-time axis squared, never the corpus), one
    * (key, freq) aggregate, one tiny per-key ranking window.
    */
  def periodogram(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxFreq: Int): DataFrame = {
    require(maxFreq >= 1 && maxFreq <= 512,
      s"maxFreq must be in [1,512], got $maxFreq")
    def d386(c: Column) = c.cast("decimal(38,6)")
    val stats = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_n"), sum(col(xCol).cast("long")).as("_s"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val dev = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .join(stats, Seq("_k"))
      .withColumn("_i", row_number().over(w).cast("long") - 1L)
      .withColumn("_d", col("_n") * col("_x") - col("_s"))
    val freqs = stats
      .select(col("_k"),
        explode(sequence(lit(1L),
          least(lit(maxFreq.toLong), floor(col("_n") / 2).cast("long"))))
          .as("_f"))
    // identical double-expression order on both engines:
    // 2.0 * pi * f * i / n   (left-assoc), then ONE d6 on the trig value
    val ang = lit(2.0) * lit(math.Pi) * col("_f").cast("double") *
      col("_i").cast("double") / col("_n").cast("double")
    val terms = dev.join(freqs, Seq("_k"))
      .select(col("_k"), col("_f"), col("_n"),
        d386(col("_d").cast("double") * d6(cos(ang))).as("_tc"),
        d386(col("_d").cast("double") * d6(sin(ang))).as("_ts"))
    val agg = terms.groupBy(col("_k"), col("_f"))
      .agg(max(col("_n")).as("n_periods"),
        sum(col("_tc")).as("_cc"), sum(col("_ts")).as("_ss"))
    val n3 = col("n_periods").cast("double") *
      col("n_periods").cast("double") * col("n_periods").cast("double")
    val pw = Window.partitionBy(col("_k"))
      .orderBy(col("power").desc, col("_f").asc)
    agg
      .select(col("_k"), col("_f"), col("n_periods"),
        d6((col("_cc").cast("double") * col("_cc").cast("double") +
          col("_ss").cast("double") * col("_ss").cast("double")) / n3)
          .as("power"))
      .withColumn("is_peak", (row_number().over(pw) === 1).cast("int"))
      .select(col("_k").as(keyCol), col("_f").as("freq"),
        col("n_periods"),
        d6(col("n_periods").cast("double") / col("_f").cast("double"))
          .as("period_buckets"),
        col("power"), col("is_peak"))
  }

  /** Haar-wavelet energy spectrum per series — where the variance
    * lives across time scales: unnormalized Haar detail coefficients
    * d_{j,m} = Σ_{first half of block m} x − Σ_{second half} over the
    * first 2^`levels` buckets of the key's `tCol`-ordered series, level
    * j blocks of 2^j buckets; energy_j = Σ_m d²/2^j (the ⟨h,h⟩ = 2^j
    * normalization). A burst detector reads high fine-level energy, a
    * drifting series high coarse-level energy — the multi-resolution
    * complement of [[periodogram]]'s global frequencies.
    *
    * EXACT: integer series → every coefficient and raw energy is an
    * integer (decimal(38,0) squares); the level share re-scales to the
    * common 2^levels denominator (e_j·2^(levels−j), still integer), so
    * `energy` and `share` are each ONE d6 division of exact integers.
    * Keys with fewer than 2^levels buckets are OMITTED (documented:
    * a partial dyadic frame has no complete coefficient set).
    *
    * Scale shape: one per-key ordered window (row_number), a bounded
    * `levels`-way explode of the 2^levels-row head frame, two keyed
    * aggregates — the dyadic frame pays, never the corpus.
    */
  def haarEnergy(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      levels: Int): DataFrame = {
    require(levels >= 1 && levels <= 16,
      s"levels must be in [1,16], got $levels")
    val len = 1L << levels
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val head = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_i", row_number().over(w).cast("long") - 1L)
      .filter(col("_i") < len)
    val full = head.groupBy(col("_k"))
      .agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") === len)
      .select(col("_k"))
    val lv = head.join(full, Seq("_k"))
      .select(col("_k"), col("_i"), col("_x"),
        explode(sequence(lit(1), lit(levels))).as("_j"))
    // sign: +1 on the first half of the level-j block, -1 on the second
    val sign = when(
      expr("shiftright(_i, cast(_j - 1 as int))") % 2L === 0L,
      lit(1L)).otherwise(lit(-1L))
    val coef = lv
      .withColumn("_m", expr("shiftright(_i, cast(_j as int))"))
      .groupBy(col("_k"), col("_j"), col("_m"))
      .agg(sum(sign * col("_x")).as("_d"))
    val energy = coef.groupBy(col("_k"), col("_j"))
      .agg(count(lit(1)).as("n_coeffs"),
        sum(dec(col("_d")) * dec(col("_d"))).as("_e"))
      .withColumn("_es",
        col("_e") * dec(pow(lit(2.0), lit(levels) - col("_j"))
          .cast("long")))
    val tot = energy.groupBy(col("_k"))
      .agg(sum(col("_es")).as("_tot"))
    energy.join(tot, Seq("_k"))
      .select(col("_k").as(keyCol), col("_j").as("level"),
        col("n_coeffs"),
        d6(col("_e").cast("double") /
          pow(lit(2.0), col("_j").cast("double"))).as("energy"),
        when(col("_tot") > 0,
          d6(col("_es").cast("double") / col("_tot").cast("double")))
          .as("share"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis — long-range
    * dependence in one number (Hurst 1951; Mandelbrot & Wallis 1969):
    * H ≈ 0.5 = memoryless, H > 0.5 = persistent trends, H < 0.5 =
    * mean-reverting. Per key: split the `tCol`-ordered series into
    * full blocks of each window size in `windows`, compute each
    * block's rescaled range R/S, average per size, and fit the slope
    * of log2(mean R/S) on log2(size) — the slope IS H.
    *
    * Determinism: within a block, the cumulative deviation
    * z_t = w·Σ_{i≤t}x_i − (t+1)·S and the cleared deviations
    * d_t = w·x_t − S are exact integers, so R/S =
    * (max z − min z)·√w / √(Σd²) is ONE double chain closed by d6;
    * block means and the two log2 values d6-round before the 2–3-point
    * least-squares slope (d6-rounded terms, order-free decimal sums,
    * one final d6). Zero-variance blocks are excluded; keys with
    * fewer than 2 window sizes yielding blocks answer NULL `hurst`.
    *
    * Scale shape: |windows| bounded explodes of the series frame, one
    * windowed cumulative sum per (key, size, block), two keyed
    * aggregates, and a per-key ≤|windows|-element in-row fold — the
    * series frame pays |windows|×, never the corpus.
    */
  def hurst(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      windows: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ >= 4),
      s"windows must be non-empty, each >= 4, got $windows")
    require(windows.distinct.size == windows.size, "windows must be distinct")
    val wOrd = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val base = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_i", row_number().over(wOrd).cast("long") - 1L)
      .select(col("_k"), col("_i"), col("_x"),
        explode(array(windows.map(w => lit(w.toLong)): _*)).as("_w"))
      .withColumn("_b", floor(col("_i") / col("_w")).cast("long"))
      .withColumn("_p", col("_i") % col("_w"))
    val blockStats = base.groupBy(col("_k"), col("_w"), col("_b"))
      .agg(count(lit(1)).as("_bn"), sum(col("_x")).as("_bs"))
      .filter(col("_bn") === col("_w"))
    val wCum = Window.partitionBy(col("_k"), col("_w"), col("_b"))
      .orderBy(col("_p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBlock = base.join(blockStats, Seq("_k", "_w", "_b"))
      .withColumn("_z",
        col("_w") * sum(col("_x")).over(wCum) - (col("_p") + 1L) * col("_bs"))
      .withColumn("_d", col("_w") * col("_x") - col("_bs"))
    val rs = inBlock.groupBy(col("_k"), col("_w"), col("_b"))
      .agg(max(col("_z")).as("_zmax"), min(col("_z")).as("_zmin"),
        sum(dec(col("_d")) * dec(col("_d"))).as("_d2"))
      .filter(col("_d2") > 0)
      // R includes the anchored origin z_{-1} = 0 of the cumulative walk
      .select(col("_k"), col("_w"),
        d6((greatest(col("_zmax"), lit(0L)) -
          least(col("_zmin"), lit(0L))).cast("double") *
          sqrt(col("_w").cast("double")) /
          sqrt(col("_d2").cast("double"))).as("_rs"))
    val perW = rs.groupBy(col("_k"), col("_w"))
      .agg(count(lit(1)).as("_nb"),
        sum(col("_rs").cast("decimal(28,6)")).as("_rss"))
      .select(col("_k"), col("_w"), col("_nb"),
        d6(log(col("_w").cast("double")) / log(lit(2.0))).as("_lx"),
        d6(log(d6(col("_rss").cast("double") / col("_nb").cast("double"))) /
          log(lit(2.0))).as("_ly"))
    val folded = perW.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_scales"),
        d6(sum(col("_lx").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("_mx"),
        d6(sum(col("_ly").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("_my"),
        collect_list(struct(col("_w"), col("_lx"), col("_ly"))).as("_pts"))
    val num = expr("aggregate(array_sort(_pts), CAST(0 AS DECIMAL(38,6))," +
      " (a, p) -> CAST(a + CAST((p._lx - _mx) * (p._ly - _my)" +
      " AS DECIMAL(28,6)) AS DECIMAL(38,6)))")
    val den = expr("aggregate(array_sort(_pts), CAST(0 AS DECIMAL(38,6))," +
      " (a, p) -> CAST(a + CAST((p._lx - _mx) * (p._lx - _mx)" +
      " AS DECIMAL(28,6)) AS DECIMAL(38,6)))")
    folded.select(col("_k").as(keyCol), col("n_scales"),
      when(col("n_scales") >= 2L && den > 0,
        d6(num.cast("double") / den.cast("double"))).as("hurst"))
  }

  /** Rank-SAX symbolization per series — the Symbolic Aggregate
    * approXimation (Lin et al. 2003) with EMPIRICAL-RANK breakpoints:
    * the `tCol`-ordered series is piecewise-aggregate-approximated
    * into `segments` equal spans (seg = ⌊i·segments/n⌋), each span's
    * mean is ranked, and ntile(`alphabet`) assigns the symbol — so
    * the word "aadbcc…" indexes the series' SHAPE for motif grouping
    * / cheap whole-series matching without any Gaussian assumption
    * (the classic SAX breakpoints assume z-normal data; ranks don't).
    *
    * EXACT: segment ids are integer arithmetic, span means are one
    * correctly-rounded double division of exact integers (compared,
    * never accumulated), ntile ties break on the segment id — every
    * engine replays the identical word; no rounding contract needed.
    * Series shorter than `segments` produce fewer, still-ordered
    * spans (documented: seg ids skip, the word just shortens).
    *
    * Scale shape: one per-key stats aggregate, one (key, segment)
    * aggregate, one ≤segments-row ranking window and one per-key
    * word rollup — the segment frame pays, never the corpus.
    */
  def saxRank(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      segments: Int = 8,
      alphabet: Int = 4): DataFrame = {
    require(segments >= 2 && segments <= 64,
      s"segments must be in [2,64], got $segments")
    require(alphabet >= 2 && alphabet <= 26,
      s"alphabet must be in [2,26], got $alphabet")
    val stats = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_t"))
    val seg = df
      .select(col(keyCol).as("_k"), col(tCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .join(stats, Seq("_k"))
      .withColumn("_i", row_number().over(w).cast("long") - 1L)
      .withColumn("_sg",
        floor((col("_i") * segments.toLong) / col("_n")).cast("long"))
      .groupBy(col("_k"), col("_sg"))
      .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_c"),
        max(col("_n")).as("_n"))
    val wr = Window.partitionBy(col("_k"))
      .orderBy((col("_s").cast("double") / col("_c").cast("double")).asc,
        col("_sg").asc)
    val sym = seg
      .withColumn("_nt", ntile(alphabet).over(wr))
      .withColumn("_sym",
        expr("substr('abcdefghijklmnopqrstuvwxyz', _nt, 1)"))
    sym.groupBy(col("_k"))
      .agg(max(col("_n")).as("n_periods"),
        count(lit(1)).as("n_segments"),
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(_sg, _sym))), p -> p._sym)"), "").as("sax_word"))
      .select(col("_k").as(keyCol), col("n_periods"),
        col("n_segments"), col("sax_word"))
  }

  /** Dynamic-time-warping distance between every PAIR of keys' series
    * — the elastic-alignment distance (Sakoe & Chiba 1978) that
    * matches series by SHAPE even when their features drift in phase;
    * the alignment partner of [[ccf]]'s rigid lead-lag: ccf asks "at
    * which fixed shift do they correlate", dtw asks "how far apart are
    * they under the best monotone warp".
    *
    * EXACT: integer series ⇒ |a_i − b_j| step costs and the DP
    * minimum are integers — no rounding contract at all; `dtw_norm` =
    * dtw/(n_a+n_b) is the ONE d6. The DP is an in-row fold carrying
    * the previous row (O(n·m) steps, O(n·m²) with append copies),
    * bounded LOUDLY by `maxPeriods` per series — pairs × series², so
    * widen buckets before raising the bound.
    *
    * Scale shape: one ordered per-key collect to a guarded row, a
    * keys×keys/2 self-join of the TINY per-key frame (the series
    * frame, never the corpus), then pure in-row compute. The self-join
    * is quadratic in SERIES COUNT, so that count is guarded too:
    * `maxKeys` raises loudly (in-plan, before any pair forms) when the
    * key column turns out corpus-cardinality (user_id instead of an
    * event type) — this operator compares a bounded panel of series,
    * not a population; shard or pre-bucket keys before raising it.
    */
  def dtw(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      maxPeriods: Int = 128,
      maxKeys: Int = 1000): DataFrame = {
    require(maxPeriods >= 2 && maxPeriods <= 512,
      s"maxPeriods must be in [2,512], got $maxPeriods")
    require(maxKeys >= 2, s"maxKeys must be >= 2, got $maxKeys")
    val series = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .groupBy(col("_k"))
      .agg(array_sort(collect_list(struct(col("_t"), col("_x"))))
        .as("_sr"))
      .withColumn("_sr",
        when(size(col("_sr")) <= maxPeriods, col("_sr"))
          .otherwise(raise_error(concat(
            lit("dtw: series of "), size(col("_sr")).cast("string"),
            lit(s" periods exceeds maxPeriods=$maxPeriods — widen the " +
              "buckets or raise the bound")))
            .cast("array<struct<_t:bigint,_x:bigint>>")))
      .select(col("_k"), expr("transform(_sr, p -> p._x)").as("_v"))
    // loud key-count guard, in-plan so it fires before any pair forms
    // and survives pruning (the guard column is the one the DP reads)
    val nk = series.agg(count(lit(1)).as("_nk"))
    val guarded = series.crossJoin(broadcast(nk))
      .withColumn("_v",
        when(col("_nk") <= maxKeys, col("_v"))
          .otherwise(raise_error(concat(
            lit("dtw: "), col("_nk").cast("string"),
            lit(s" series exceed maxKeys=$maxKeys — the pair stage is " +
              "keys²/2; bucket or shard the key column before " +
              "raising the bound")))
            .cast("array<bigint>")))
      .drop("_nk")
    val pairs = guarded.select(col("_k").as("key_a"), col("_v").as("_va"))
      .join(guarded.select(col("_k").as("key_b"), col("_v").as("_vb")),
        col("key_a") < col("key_b"))
    val inf = "CAST(1000000000000000 AS BIGINT)"
    val dp = s"aggregate(sequence(1, size(_va)), " +
      s"concat(array(CAST(0 AS BIGINT)), " +
      s"transform(sequence(1, size(_vb)), x -> $inf)), " +
      s"(pr, i) -> aggregate(sequence(1, size(_vb)), array($inf), " +
      "(nr, j) -> array_append(nr, " +
      "abs(element_at(_va, i) - element_at(_vb, j)) + " +
      "least(element_at(pr, j), element_at(pr, j + 1), " +
      "element_at(nr, j)))), " +
      "fin -> element_at(fin, size(_vb) + 1))"
    pairs
      .select(col("key_a"), col("key_b"),
        size(col("_va")).cast("long").as("n_a"),
        size(col("_vb")).cast("long").as("n_b"),
        expr(dp).as("dtw"))
      .withColumn("dtw_norm",
        d6(col("dtw").cast("double") /
          (col("n_a") + col("n_b")).cast("double")))
  }

  /** Gumbel extreme-value fit over block maxima (Gumbel 1958, method
    * of moments) with return levels — the capacity-planning question
    * asked properly: "what daily peak should we expect once a decade?"
    * is an EXTREME-VALUE quantile, and extrapolating it from a mean
    * and a p99 understates it badly; the Fisher–Tippett theorem says
    * block maxima converge to a GEV, and the Gumbel member is the
    * standard light-tailed default. β = s·√6/π, μ = m − γ·β,
    * z_T = μ − β·ln(−ln(1 − 1/T)) for each return period T.
    *
    * Determinism: block-max sufficient sums are exact decimal; the
    * sample sd takes IEEE-exact sqrt over a d6 input; √6, π and the
    * Euler–Mascheroni γ are shared literals; each ln lands in a d6
    * stage; μ, β and every return level close in one d6 each.
    * Fewer than 2 blocks or zero spread answer NULL (no tail to fit).
    *
    * Scale shape: one block-keyed max aggregate (map-side combine) →
    * ONE 1-row moment aggregate → return-period literals expand
    * in-row. The block frame is time-scale bounded, not corpus bound.
    */
  def gumbelReturnLevels(
      df: DataFrame,
      blockCol: String,
      xCol: String,
      returnPeriods: Seq[Long] = Seq(10L, 100L)): DataFrame = {
    require(returnPeriods.nonEmpty && returnPeriods.forall(_ >= 2L),
      s"return periods must all be >= 2, got $returnPeriods")
    val maxima = df.groupBy(col(blockCol).as("_b"))
      .agg(max(col(xCol).cast("long")).as("_m"))
    val agg = maxima.agg(count(lit(1)).as("n_blocks"),
      sum(dec(col("_m"))).as("_s1"),
      sum(dec(col("_m")) * dec(col("_m"))).as("_s2"))
    val cl = (dec(col("n_blocks")) * col("_s2") -
      col("_s1") * col("_s1")).cast("double")
    val sd = d6(sqrt(d6(cl /
      (col("n_blocks") * (col("n_blocks") - 1L)).cast("double"))))
    val mean = d6(col("_s1").cast("double") /
      col("n_blocks").cast("double"))
    val ok = col("n_blocks") >= 2L && cl > 0.0
    val withParams = agg.select(col("n_blocks"),
      when(ok, mean).as("mean_max"),
      when(ok, d6(sd * sqrt(lit(6.0)) / lit(math.Pi))).as("beta"))
      .withColumn("mu",
        when(col("beta").isNotNull,
          d6(col("mean_max") - lit(0.5772156649) * col("beta"))))
    returnPeriods.foldLeft(withParams) { (acc, t) =>
      val p = 1.0 - 1.0 / t.toDouble
      acc.withColumn(s"rl_$t",
        when(col("beta").isNotNull,
          d6(col("mu") - col("beta") *
            d6(log(-d6(log(lit(p))))))))
    }
  }

  /** Newey–West HAC-robust slope inference for a simple time trend
    * y ~ a + b·t (Newey & West 1987, Bartlett kernel): the OLS slope
    * with a standard error that survives AUTOCORRELATED residuals —
    * on daily volumes the iid SE is typically 2-5× too small, and
    * "significant trend!" readouts born of that are the classic
    * time-series false positive ([[graft.pipeline.Stats.olsInfluence]]
    * audits the points; this audits the INFERENCE).
    *
    * Var(b̂) = S_L / (Σx̃²)², S_L = γ₀ + 2·Σ_{l≤L}(1−l/(L+1))·γ_l over
    * score autocovariances γ_l = Σ vᵢvᵢ₊ₗ, vᵢ = x̃ᵢ·eᵢ.
    *
    * Determinism: cleared sufficient decimals give b and residuals in
    * fixed double chains (one d6 each); each score vᵢ = d6(x̃ᵢ·eᵢ)
    * with x̃ᵢ = (n·tᵢ−St)/n exact-over-one-division; lag products d6
    * before decimal sums; kernel weights are exact rationals; SE and
    * t close the staged chain (IEEE sqrt). n < lags+4 fails loudly;
    * zero x-variance answers NULL.
    *
    * Scale shape: one 1-row aggregate broadcast back, one ordered
    * window carrying `lags` leads over the (bounded-by-contract)
    * series frame, one 1-row rollup.
    */
  def neweyWestSlope(
      df: DataFrame,
      orderCol: String,
      yCol: String,
      lags: Int = 3): DataFrame = {
    require(lags >= 1 && lags <= 32, s"lags in [1,32], got $lags")
    val base = df.select(col(orderCol).cast("long").as("_t"),
      col(yCol).cast("long").as("_y"))
    val agg = base.agg(count(lit(1)).as("_n"),
      sum(dec(col("_t"))).as("_sx"), sum(dec(col("_y"))).as("_sy"),
      sum(dec(col("_t")) * dec(col("_t"))).as("_sxx"),
      sum(dec(col("_t")) * dec(col("_y"))).as("_sxy"))
      .select(when(col("_n") >= lags + 4L, col("_n"))
        .otherwise(raise_error(concat(lit("neweyWestSlope: n = "),
          col("_n").cast("string"),
          lit(s" < lags+4 = ${lags + 4}"))).cast("long")).as("_n"),
        col("_sx"), col("_sy"),
        (dec(col("_n")) * col("_sxx") - col("_sx") * col("_sx"))
          .as("_clxx"),
        (dec(col("_n")) * col("_sxy") - col("_sx") * col("_sy"))
          .as("_clxy"))
    val j = base.crossJoin(broadcast(agg))
    val nD = col("_n").cast("double")
    val clxxD = col("_clxx").cast("double")
    val b = col("_clxy").cast("double") / clxxD
    val a = (col("_sy").cast("double") - b * col("_sx").cast("double")) /
      nD
    val xt = (dec(col("_n")) * dec(col("_t")) - col("_sx"))
      .cast("double") / nD
    val e = col("_y").cast("double") - (a + b * col("_t").cast("double"))
    val scored = j.select(col("_t"), col("_n"), col("_clxx"),
      col("_clxy"), d6(xt * e).as("_v"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("_t").asc)
    val withLeads = (1 to lags).foldLeft(scored) { (acc, l) =>
      acc.withColumn(s"_v$l", lead(col("_v"), l).over(wOrd))
    }
    val aggCols = Seq(max(col("_n")).as("_n"),
      max(col("_clxx")).as("_clxx"), max(col("_clxy")).as("_clxy"),
      sum(d28(d6(col("_v") * col("_v")))).as("_g0")) ++
      (1 to lags).map(l =>
        sum(d28(d6(col("_v") * col(s"_v$l")))).as(s"_g$l"))
    val gammas = withLeads.agg(aggCols.head, aggCols.tail: _*)
    // S = γ₀ + 2·Σ (1 − l/(L+1))·γ_l — weights are exact rationals
    val sL = (1 to lags).foldLeft(col("_g0").cast("double")) {
      (acc, l) =>
        acc + lit(2.0) * lit(1.0 - l.toDouble / (lags + 1).toDouble) *
          col(s"_g$l").cast("double")
    }
    val clxxD2 = col("_clxx").cast("double")
    val nD2 = col("_n").cast("double")
    val sxx = clxxD2 / nD2
    val ok = clxxD2 > 0.0
    val staged = gammas.select(col("_n").as("n_obs"),
      when(ok, d6(col("_clxy").cast("double") / clxxD2)).as("slope"),
      when(ok, d6(sL)).as("s_hac"),
      when(ok, d6(sxx)).as("_sxx"))
    staged
      .withColumn("se_hac",
        when(col("_sxx").isNotNull && col("s_hac") > 0.0,
          d6(sqrt(col("s_hac") / (col("_sxx") * col("_sxx"))))))
      .withColumn("t_hac",
        when(col("se_hac").isNotNull,
          d6(col("slope") / col("se_hac"))))
      .drop("_sxx")
  }

  /** Seasonal/trend strength scorecard (Hyndman & Athanasopoulos,
    * FPP3 §4.3) over [[seasonalDecompose]]'s additive split:
    * F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) per key — the one-row answer
    * to "is this series actually seasonal / actually trending, and
    * how much", which is what a seasonality-aware scheduler or a
    * forecast-model picker branches on (F_s > ~0.64 is the usual
    * "model the season" bar).
    *
    * Determinism: the decomposition's trend/seasonal/residual columns
    * are already d6-quantized (q321's contract); variances run the
    * two-pass d6 discipline — mean = d6(Σd28(v)/n), then
    * Var = d6(Σd28(d6((v−mean)²))/n) — population variance over the
    * interior rows (documented). Keys whose interior variance of S+R
    * (or T+R) is 0 answer NULL for that strength.
    *
    * Scale shape: seasonalDecompose's windows + TWO keyed aggregates
    * over the interior frame.
    */
  def decompositionStrength(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      period: Int): DataFrame = {
    val dc = seasonalDecompose(df, keyCol, timeCol, valueCol, period)
      .filter(col("residual").isNotNull)
      .select(col(keyCol).as("_k"), col("residual").as("_r"),
        (col("seasonal") + col("residual")).as("_sr"),
        (col("trend") + col("residual")).as("_tr"))
    val means = dc.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_interior"),
        d6(sum(d28(col("_r"))).cast("double") /
          count(lit(1)).cast("double")).as("_mr"),
        d6(sum(d28(col("_sr"))).cast("double") /
          count(lit(1)).cast("double")).as("_msr"),
        d6(sum(d28(col("_tr"))).cast("double") /
          count(lit(1)).cast("double")).as("_mtr"))
    val joined = dc.join(broadcast(means), Seq("_k"))
    def variance(v: Column, m: Column): Column =
      d6(sum(d28(d6((v - m) * (v - m)))).cast("double") /
        count(lit(1)).cast("double"))
    val vars = joined.groupBy(col("_k"))
      .agg(max(col("n_interior")).as("n_interior"),
        variance(col("_r"), col("_mr")).as("_vr"),
        variance(col("_sr"), col("_msr")).as("_vsr"),
        variance(col("_tr"), col("_mtr")).as("_vtr"))
    vars.select(col("_k").as(keyCol), col("n_interior"),
      when(col("_vsr") > 0.0,
        d6(greatest(lit(0.0), lit(1.0) - col("_vr") / col("_vsr"))))
        .as("seasonal_strength"),
      when(col("_vtr") > 0.0,
        d6(greatest(lit(0.0), lit(1.0) - col("_vr") / col("_vtr"))))
        .as("trend_strength"))
  }

  /** Turning-points randomness test per key (Kendall 1973): count the
    * strict interior extrema of the time-ordered series — under iid
    * randomness E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90, so too few
    * turns means trend/momentum and too many means alternation — the
    * cheapest "is this metric stream iid noise" gate next to
    * [[runsTest]] (which sees level, not shape).
    *
    * Strict extrema only: a plateau point (equal to either neighbor)
    * is NOT a turn — the documented tie convention; heavy ties bias T
    * down, use [[bartelsRankVonNeumann]] there. Determinism: T is an
    * exact integer off two lag/lead comparisons; E and Var are exact
    * rationals of n evaluated in one double order; z ONE d6, p the
    * shared erfc polynomial. n < 3 answers NULL z.
    *
    * Scale shape: one per-key ordered window (lag+lead) + one keyed
    * rollup — no self-join, corpus shuffles once on the key.
    */
  def turningPointsTest(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String): DataFrame = {
    val w = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    val rows = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_p", lag(col("_x"), 1).over(w))
      .withColumn("_f", lead(col("_x"), 1).over(w))
      .withColumn("_turn",
        when(col("_p").isNotNull && col("_f").isNotNull &&
          ((col("_x") > col("_p") && col("_x") > col("_f")) ||
           (col("_x") < col("_p") && col("_x") < col("_f"))), 1L)
          .otherwise(0L))
    val agg = rows.groupBy(col("_k"))
      .agg(count(lit(1)).as("n"), sum(col("_turn")).as("n_turning"))
    val nD = col("n").cast("double")
    val e = lit(2.0) * (nD - 2.0) / 3.0
    val v = (lit(16.0) * nD - 29.0) / 90.0
    val staged = agg.select(col("_k").as(keyCol), col("n"),
      col("n_turning"),
      when(col("n") >= 3L, d6(e)).as("expected"),
      when(col("n") >= 3L && v > 0.0,
        d6((col("n_turning").cast("double") - e) / sqrt(v))).as("z"))
    staged
      .withColumn("p_value", when(col("z").isNotNull,
        d6(graft.pipeline.Stats.normalTwoSidedP(col("z")))))
      .withColumn("significant", when(col("p_value").isNotNull,
        (col("p_value") <= 0.05).cast("int")).otherwise(lit(0)))
  }

  /** Bartels rank von Neumann randomness test per key (Bartels 1982)
    * — the rank version of the von Neumann successive-difference
    * ratio: RVN = Σ(rᵢ−rᵢ₊₁)²/Σ(rᵢ−r̄)² over the time order, E = 2
    * under randomness, small means trend, large means alternation.
    * The tie-robust complement of [[turningPointsTest]].
    *
    * Exactness: DOUBLED midranks (2·minrank + ties − 1) keep every
    * rank an integer; their mean is EXACTLY n+1, so numerator and
    * denominator are exact integer sums (the doubling cancels in the
    * ratio) and RVN is one exact rational → ONE d6; z uses the exact
    * Bartels variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²) in a fixed
    * double order → d6, p the shared erfc polynomial. A constant
    * series (zero denominator) answers NULL; n < 4 answers NULL.
    *
    * Scale shape: two per-key windows (value midranks, time
    * neighbor) + one keyed rollup — no self-join.
    */
  def bartelsRankVonNeumann(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String): DataFrame = {
    val wv = Window.partitionBy(col("_k")).orderBy(col("_x").asc)
    val we = Window.partitionBy(col("_k"), col("_x"))
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    val rows = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_r2",
        lit(2L) * rank().over(wv).cast("long") +
          count(lit(1)).over(we) - 1L)
      .withColumn("_r2next", lead(col("_r2"), 1).over(wt))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_k"))))
    val agg = rows.groupBy(col("_k"))
      .agg(max(col("_n")).as("n"),
        sum(when(col("_r2next").isNotNull,
          dec(col("_r2") - col("_r2next")) *
            dec(col("_r2") - col("_r2next"))).otherwise(dec(lit(0L))))
          .as("_nm"),
        sum(dec(col("_r2") - col("_n") - 1L) *
          dec(col("_r2") - col("_n") - 1L)).as("_dn"))
    val nD = col("n").cast("double")
    val rvn = d6(col("_nm").cast("double") / col("_dn").cast("double"))
    val variance = lit(4.0) * (nD - 2.0) *
      (lit(5.0) * nD * nD - lit(2.0) * nD - 9.0) /
      (lit(5.0) * nD * (nD + 1.0) * (nD - 1.0) * (nD - 1.0))
    val staged = agg.select(col("_k").as(keyCol), col("n"),
      when(col("n") >= 4L && col("_dn") > 0L, rvn).as("rvn"))
      .withColumn("z", when(col("rvn").isNotNull,
        d6((col("rvn") - 2.0) / sqrt(variance))))
    staged
      .withColumn("p_value", when(col("z").isNotNull,
        d6(graft.pipeline.Stats.normalTwoSidedP(col("z")))))
      .withColumn("significant", when(col("p_value").isNotNull,
        (col("p_value") <= 0.05).cast("int")).otherwise(lit(0)))
  }

  /** KPSS level-stationarity statistic per key (Kwiatkowski,
    * Phillips, Schmidt & Shin 1992) — the null-reversed partner of
    * the ADF-style gate: HERE the null IS stationarity, so a small η
    * supports "this metric is mean-stable" positively instead of
    * merely failing to reject a unit root. η = Σᵢ Sᵢ²/(n²·σ̂²_lrv)
    * with Sᵢ the partial sums of demeaned values and σ̂²_lrv the
    * Bartlett-kernel long-run variance at `lags`.
    *
    * EXACT RATIONAL FORM: with cᵢ = n·xᵢ − Σx (cleared demeaning),
    * Pᵢ = Σ_{j≤i} cⱼ and G_l = Σᵢ cᵢcᵢ₊_l, the whole statistic
    * collapses to η = ΣPᵢ²·(L+1)/(n·E) with
    * E = (L+1)·G₀ + 2·Σ_{l≤L}(L+1−l)·G_l — every term an exact
    * decimal integer (the Bartlett weights clear against L+1), so η
    * is ONE exact rational → ONE d6. No float accumulates anywhere.
    * `stationary` flags η ≤ 0.463 (the 5% level-case critical
    * value). A constant series (E = 0) answers NULL η with
    * stationary = 1 (a constant is stationary by inspection).
    *
    * Scale shape: per-key count/sum windows, one ordered cumsum
    * window carrying L lead columns, one keyed rollup — no
    * self-join; L is a small literal.
    */
  def kpssTest(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      lags: Int = 4): DataFrame = {
    require(lags >= 0 && lags <= 32, s"lags in [0,32], got $lags")
    val wk = Window.partitionBy(col("_k"))
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    val base = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_n", count(lit(1)).over(wk))
      .withColumn("_s", dec(sum(dec(col("_x"))).over(wk)))
      // clearing in decimal(38,0) (ADVICE r15, the dieboldMariano
      // fix): n·x − Σx in raw longs wraps silently past ~2^63; the
      // decimal form overflows loudly instead
      .withColumn("_c", dec(dec(col("_n")) * dec(col("_x")) - col("_s")))
      .withColumn("_p", dec(sum(col("_c")).over(
        wt.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    val withLeads = (1 to lags).foldLeft(base) { (d, l) =>
      d.withColumn(s"_c$l", lead(col("_c"), l).over(wt))
    }
    val gCols = (1 to lags).map { l =>
      sum(when(col(s"_c$l").isNotNull, dec(col("_c")) * dec(col(s"_c$l")))
        .otherwise(dec(lit(0L)))).as(s"_g$l")
    }
    val aggCols = Seq(max(col("_n")).as("n"),
      sum(dec(col("_p")) * dec(col("_p"))).as("_pp"),
      sum(dec(col("_c")) * dec(col("_c"))).as("_g0")) ++ gCols
    val agg = withLeads.groupBy(col("_k"))
      .agg(aggCols.head, aggCols.tail: _*)
    val eExpr = (1 to lags).foldLeft(
      dec(lit(lags + 1L)) * col("_g0")) { (acc, l) =>
      acc + dec(lit(2L * (lags + 1 - l))) * col(s"_g$l")
    }
    val withE = agg.withColumn("_e", eExpr)
    val eta = d6((col("_pp") * dec(lit(lags + 1L))).cast("double") /
      (dec(col("n")) * col("_e")).cast("double"))
    withE.select(col("_k").as(keyCol), col("n"),
        lit(lags).as("lags"),
        when(col("_e") > 0L, eta).as("eta"))
      .withColumn("stationary",
        when(col("eta").isNotNull, (col("eta") <= 0.463).cast("int"))
          .otherwise(lit(1)))
  }

  /** Cox–Stuart trend test per key (Cox & Stuart 1955): pair each
    * point of the first half with its partner offset ⌈n/2⌉ ahead
    * (middle point dropped when n is odd) and sign-test the pairs —
    * the assumption-free "is it drifting" gate that needs no rank
    * machinery, robust to any monotone transform.
    *
    * Determinism: plus/minus counts are exact (ties dropped, the
    * sign-test convention); z uses [[graft.pipeline.Stats.signTest]]'s
    * continuity correction verbatim (sign(raw)·max(0,|raw|−1)/√m on
    * raw = plus − minus) → ONE d6, p the shared erfc polynomial.
    * All pairs tied (m = 0) answers NULL z.
    *
    * Scale shape: one per-key rank window + ONE keyed equi-join on
    * (key, rank+offset) — the join frame is the series frame.
    */
  def coxStuartTrend(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String): DataFrame = {
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    val ranked = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_rn", row_number().over(wt).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_k"))))
    val off = expr("(_n + 1) div 2") // integer division: ceil(n/2)
    val a = ranked.select(col("_k"), col("_rn"), col("_x").as("_xa"),
      (col("_rn") + off).as("_match"))
    val b = ranked.select(col("_k"), col("_rn").as("_match"),
      col("_x").as("_xb"))
    val pairs = a.join(b, Seq("_k", "_match"))
    val agg = pairs.groupBy(col("_k"))
      .agg(sum((col("_xb") > col("_xa")).cast("long")).as("n_up"),
        sum((col("_xb") < col("_xa")).cast("long")).as("n_down"))
    val m = col("n_up") + col("n_down")
    val raw = (col("n_up") - col("n_down")).cast("double")
    val staged = agg.select(col("_k").as(keyCol), col("n_up"),
      col("n_down"),
      when(m >= 1L, d6(signum(raw) *
        greatest(lit(0.0), abs(raw) - lit(1.0)) /
        sqrt(m.cast("double")))).as("z"))
    staged
      .withColumn("p_value", when(col("z").isNotNull,
        d6(graft.pipeline.Stats.normalTwoSidedP(col("z")))))
      .withColumn("trend", when(col("p_value").isNotNull &&
          col("p_value") <= 0.05,
        when(col("n_up") > col("n_down"), lit("up")).otherwise(lit("down")))
        .otherwise(lit("none")))
  }

  /** Diebold–Mariano equal-forecast-accuracy test per key (Diebold &
    * Mariano 1995) under squared-error loss: is model 1's error
    * series really worse than model 2's, accounting for the
    * autocorrelation forecast errors always carry? The missing
    * inference step behind every forecast-scorecard comparison
    * (q372 ranks losses; this says whether the gap is real).
    *
    * The loss differential dᵢ = e₁ᵢ² − e₂ᵢ² is exact integer; its
    * HAC variance reuses [[kpssTest]]'s cleared Bartlett form —
    * cᵢ = n·dᵢ − Σd, G_l = Σcᵢcᵢ₊_l,
    * E = (L+1)G₀ + 2Σ(L+1−l)G_l — making
    * DM = Σd·n·√(L+1)/√E with every input exact (ONE d6, erfc p).
    * A zero-variance differential (E = 0) answers NULL.
    * `better_model` names the winner (1/2) at p ≤ 0.05, else 0.
    *
    * Scale shape: identical to kpssTest — windows + one rollup, no
    * self-join.
    */
  def dieboldMariano(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      e1Col: String,
      e2Col: String,
      lags: Int = 2): DataFrame = {
    require(lags >= 0 && lags <= 32, s"lags in [0,32], got $lags")
    val wk = Window.partitionBy(col("_k"))
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    // squares and clearing in decimal(38,0) from the start (ADVICE
    // r15): |e| above ~3e9 would silently wrap a raw long e² in Spark
    // while the DuckDB oracle's HUGEINT path stays exact — decimal
    // arithmetic instead overflows LOUDLY under ANSI if it ever
    // exceeds 38 digits
    val e1 = dec(col(e1Col).cast("long"))
    val e2 = dec(col(e2Col).cast("long"))
    val base = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        dec(e1 * e1 - e2 * e2).as("_d"))
      .withColumn("_n", count(lit(1)).over(wk))
      .withColumn("_sd", dec(sum(col("_d")).over(wk)))
      .withColumn("_c", dec(dec(col("_n")) * col("_d") - col("_sd")))
    val withLeads = (1 to lags).foldLeft(base) { (d, l) =>
      d.withColumn(s"_c$l", lead(col("_c"), l).over(wt))
    }
    val gCols = (1 to lags).map { l =>
      sum(when(col(s"_c$l").isNotNull, dec(col("_c")) * dec(col(s"_c$l")))
        .otherwise(dec(lit(0L)))).as(s"_g$l")
    }
    val aggCols = Seq(max(col("_n")).as("n"), max(col("_sd")).as("_sdt"),
      sum(dec(col("_c")) * dec(col("_c"))).as("_g0")) ++ gCols
    val agg = withLeads.groupBy(col("_k"))
      .agg(aggCols.head, aggCols.tail: _*)
    val eExpr = (1 to lags).foldLeft(
      dec(lit(lags + 1L)) * col("_g0")) { (acc, l) =>
      acc + dec(lit(2L * (lags + 1 - l))) * col(s"_g$l")
    }
    val withE = agg.withColumn("_e", eExpr)
    val dm = d6(col("_sdt").cast("double") * col("n").cast("double") *
      sqrt(lit((lags + 1).toDouble)) / sqrt(col("_e").cast("double")))
    val staged = withE.select(col("_k").as(keyCol), col("n"),
      d6(col("_sdt").cast("double") / col("n").cast("double"))
        .as("mean_loss_diff"),
      when(col("_e") > 0L, dm).as("dm_stat"))
    staged
      .withColumn("p_value", when(col("dm_stat").isNotNull,
        d6(graft.pipeline.Stats.normalTwoSidedP(col("dm_stat")))))
      .withColumn("better_model",
        when(col("p_value").isNotNull && col("p_value") <= 0.05,
          when(col("mean_loss_diff") > 0.0, lit(2)).otherwise(lit(1)))
          .otherwise(lit(0)))
  }

  /** Quantile-forecast pinball (quantile-loss) scorecard per key:
    * predict each requested quantile from the TRAIN window's exact
    * order statistics (rank ⌈q·n⌉ under the (x asc, t asc) total
    * order — the q385/q441 convention, no interpolation) and score it
    * on the TEST window with pinball loss
    * L_q = mean(max(q·(y−ŷ), (q−1)·(y−ŷ))) — the proper scoring rule
    * for quantiles, and the standard judge for P10/P50/P90 capacity
    * forecasts.
    *
    * Quantiles arrive as PPM integers, so every per-row loss term is
    * an EXACT integer (ppm·D or (ppm−10⁶)·D on integer D = y−ŷ) and
    * the mean is one exact rational → ONE d6. Keys must appear in
    * both windows (inner join — a key with no train rows has no
    * prediction to score; documented). `splitT` is the first TEST
    * time.
    *
    * Scale shape: one train rank window, a ≤|quantiles|-row literal
    * frame broadcast into the rank pick, one keyed test rollup.
    */
  def pinballScorecard(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      splitT: Long,
      quantilesPpm: Seq[Long] = Seq(100000L, 500000L, 900000L)): DataFrame = {
    require(quantilesPpm.nonEmpty &&
      quantilesPpm.forall(q => q > 0L && q < 1000000L),
      s"quantilesPpm must be in (0,1e6), got $quantilesPpm")
    require(quantilesPpm.distinct.size == quantilesPpm.size,
      "quantilesPpm must be distinct")
    val wt = Window.partitionBy(col("_k"))
      .orderBy(col("_x").asc, col("_t").asc)
    val base = df.select(col(keyCol).as("_k"),
      col(tCol).cast("long").as("_t"), col(xCol).cast("long").as("_x"))
    val train = base.filter(col("_t") < splitT)
      .withColumn("_rk", row_number().over(wt).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_k"))))
    val session = df.sparkSession
    import session.implicits._
    val qf = quantilesPpm.toDF("q_ppm")
    val preds = train.crossJoin(broadcast(qf))
      .filter(col("_rk") ===
        expr("(q_ppm * _n + 999999) div 1000000"))
      .select(col("_k"), col("q_ppm"), col("_n").as("n_train"),
        col("_x").as("prediction"))
    val test = base.filter(col("_t") >= splitT)
    test.join(preds, Seq("_k"))
      .withColumn("_diff", col("_x") - col("prediction"))
      .withColumn("_term", when(col("_diff") >= 0L,
          dec(col("q_ppm")) * dec(col("_diff")))
        .otherwise(dec(col("q_ppm") - 1000000L) * dec(col("_diff"))))
      .groupBy(col("_k"), col("q_ppm"))
      .agg(max(col("n_train")).as("n_train"),
        count(lit(1)).as("n_test"),
        max(col("prediction")).as("prediction"),
        sum(col("_term")).as("_lsum"))
      .select(col("_k").as(keyCol), col("q_ppm"), col("n_train"),
        col("n_test"), col("prediction"),
        d6(col("_lsum").cast("double") /
          (col("n_test").cast("double") * lit(1000000.0)))
          .as("pinball_loss"))
  }

  /** Shewhart X̄/R control chart per key (Shewhart 1931): partition
    * the time-ordered series into consecutive subgroups of
    * `subgroupSize`, chart each subgroup's mean and range against the
    * R̄-derived 3σ limits (X̄̄ ± A₂R̄; D₃R̄/D₄R̄) — the classic SPC
    * readout, and the batch twin of the EWMA/CUSUM monitors
    * (q320/q329): those catch small sustained shifts, this catches
    * the big special-cause excursions subgroup by subgroup.
    *
    * The A₂/D₃/D₄ constants are the published n = 2..10 table
    * (Montgomery, Introduction to SQC) as code literals — `subgroupSize`
    * outside that range is loud. An incomplete final subgroup is
    * DROPPED (documented — partial ranges would understate R̄).
    * Determinism: subgroup assignment is exact integer division on
    * the per-key time rank; means are exact rationals → d6; ranges
    * exact longs; the grand stats and limits close in fixed d6
    * stages. Output one row per subgroup with the shared limits and
    * both out-of-control flags.
    *
    * Scale shape: one rank window, one subgroup aggregate, one keyed
    * rollup broadcast back — corpus shuffles once on the key.
    */
  def xbarRChart(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      subgroupSize: Int = 5): DataFrame = {
    val consts: Map[Int, (Double, Double, Double)] = Map(
      2 -> (1.88, 0.0, 3.267), 3 -> (1.023, 0.0, 2.574),
      4 -> (0.729, 0.0, 2.282), 5 -> (0.577, 0.0, 2.114),
      6 -> (0.483, 0.0, 2.004), 7 -> (0.419, 0.076, 1.924),
      8 -> (0.373, 0.136, 1.864), 9 -> (0.337, 0.184, 1.816),
      10 -> (0.308, 0.223, 1.777))
    require(consts.contains(subgroupSize),
      s"subgroupSize must be in 2..10 (published A2/D3/D4 table), " +
        s"got $subgroupSize")
    val (a2, dd3, dd4) = consts(subgroupSize)
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    val sub = df
      .select(col(keyCol).as("_k"), col(tCol).cast("long").as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_sg",
        floor((row_number().over(wt) - 1) / lit(subgroupSize))
          .cast("long"))
      .groupBy(col("_k"), col("_sg"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        (max(col("_x")) - min(col("_x"))).as("r"))
      .filter(col("_n") === subgroupSize)
      .withColumn("xbar",
        d6(col("_s").cast("double") / lit(subgroupSize.toDouble)))
    val grand = sub.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_subgroups"),
        d6(sum(col("xbar").cast("decimal(28,6)")).cast("double") /
          count(lit(1)).cast("double")).as("grand_mean"),
        d6(sum(col("r").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).as("r_bar"))
    sub.join(grand, Seq("_k"))
      .select(col("_k").as(keyCol), col("_sg").as("subgroup"),
        col("xbar"), col("r"), col("n_subgroups"),
        col("grand_mean"), col("r_bar"),
        d6(col("grand_mean") + lit(a2) * col("r_bar")).as("ucl_xbar"),
        d6(col("grand_mean") - lit(a2) * col("r_bar")).as("lcl_xbar"),
        d6(lit(dd4) * col("r_bar")).as("ucl_r"),
        d6(lit(dd3) * col("r_bar")).as("lcl_r"))
      .withColumn("xbar_out",
        (col("xbar") > col("ucl_xbar") || col("xbar") < col("lcl_xbar"))
          .cast("int"))
      .withColumn("r_out",
        (col("r").cast("double") > col("ucl_r") ||
          col("r").cast("double") < col("lcl_r")).cast("int"))
  }

  /** c-chart (Shewhart attribute chart for defect COUNTS per equal-
    * size inspection unit): centre c̄ = mean defects per unit, limits
    * c̄ ± 3·√c̄ (Poisson ±3σ), flag units outside. The error-budget
    * monitor beside [[xbarRChart]]'s continuous twin — crawl errors
    * per cycle, schema violations per batch.
    *
    * Determinism: c̄ is one exact rational → ONE d6; limits assemble
    * FROM the d6'd centre in one fixed double order → ONE d6 each
    * (LCL clamps at 0); the flag compares exact counts to the d6
    * limits. Negative counts are loud.
    *
    * Scale shape: one 1-row aggregate broadcast back over the units
    * frame. Output per unit: (unit, n_defects, c_bar, ucl, lcl,
    * out_of_control).
    */
  def cChart(
      df: DataFrame,
      unitCol: String,
      countCol: String): DataFrame = {
    val cnt = when(col(countCol).cast("long") >= 0L,
      col(countCol).cast("long"))
      .otherwise(raise_error(concat(lit("cChart: negative count "),
        col(countCol).cast("string"))).cast("long"))
    val base = df.select(col(unitCol).as("unit"), cnt.as("n_defects"))
    val tot = base.agg(count(lit(1)).as("_nu"),
      sum(dec(col("n_defects"))).as("_sc"))
      .select(d6(col("_sc").cast("double") / col("_nu").cast("double"))
        .as("c_bar"))
    base.crossJoin(broadcast(tot))
      .withColumn("ucl", d6(col("c_bar") +
        lit(3.0) * sqrt(col("c_bar"))))
      .withColumn("lcl", d6(greatest(lit(0.0),
        col("c_bar") - lit(3.0) * sqrt(col("c_bar")))))
      .select(col("unit"), col("n_defects"), col("c_bar"), col("ucl"),
        col("lcl"),
        (col("n_defects").cast("double") > col("ucl") ||
          col("n_defects").cast("double") < col("lcl")).cast("int")
          .as("out_of_control"))
  }

  /** u-chart ([[cChart]] for UNEQUAL inspection-unit sizes): rate
    * ū = Σdefects/Σopportunities, per-unit limits ū ± 3·√(ū/nᵢ) —
    * bigger units get tighter limits, which is why a raw c-chart
    * misleads the moment batch sizes drift. Defects-per-1000-events,
    * violations-per-GB.
    *
    * Determinism: ū ONE d6; per-unit rate uᵢ ONE d6; limits from the
    * d6'd ū in one fixed double order → ONE d6 each (LCL clamps at 0);
    * flags compare d6 rates to d6 limits. Non-positive unit sizes and
    * negative counts are loud.
    *
    * Scale shape: one 1-row aggregate broadcast back. Output per
    * unit: (unit, n_defects, n_units, u, u_bar, ucl, lcl,
    * out_of_control).
    */
  def uChart(
      df: DataFrame,
      unitCol: String,
      countCol: String,
      sizeCol: String): DataFrame = {
    val cnt = when(col(countCol).cast("long") >= 0L,
      col(countCol).cast("long"))
      .otherwise(raise_error(concat(lit("uChart: negative count "),
        col(countCol).cast("string"))).cast("long"))
    val sz = when(col(sizeCol).cast("long") > 0L,
      col(sizeCol).cast("long"))
      .otherwise(raise_error(concat(lit("uChart: unit size "),
        col(sizeCol).cast("string"), lit(" must be positive")))
        .cast("long"))
    val base = df.select(col(unitCol).as("unit"), cnt.as("n_defects"),
      sz.as("n_units"))
    val tot = base.agg(sum(dec(col("n_defects"))).as("_sc"),
        sum(dec(col("n_units"))).as("_sn"))
      .select(d6(col("_sc").cast("double") / col("_sn").cast("double"))
        .as("u_bar"))
    base.crossJoin(broadcast(tot))
      .withColumn("u", d6(col("n_defects").cast("double") /
        col("n_units").cast("double")))
      .withColumn("ucl", d6(col("u_bar") +
        lit(3.0) * sqrt(col("u_bar") / col("n_units").cast("double"))))
      .withColumn("lcl", d6(greatest(lit(0.0), col("u_bar") -
        lit(3.0) * sqrt(col("u_bar") / col("n_units").cast("double")))))
      .select(col("unit"), col("n_defects"), col("n_units"), col("u"),
        col("u_bar"), col("ucl"), col("lcl"),
        (col("u") > col("ucl") || col("u") < col("lcl")).cast("int")
          .as("out_of_control"))
  }

  /** Permutation entropy per key (Bandt & Pompe 2002): Shannon
    * entropy of the ordinal patterns of m consecutive values — the
    * model-free complexity readout that separates trending, periodic
    * and noisy metric series at O(n) cost (a monotone series uses ONE
    * pattern → entropy 0; white noise uses all m! evenly → normalized
    * entropy 1). The regime classifier in front of the heavier
    * forecast/changepoint machinery.
    *
    * Determinism: ordinal patterns use the STABLE tie rule (equal
    * values rank by time position — Bandt–Pompe's convention), so a
    * pattern is exactly the vector of strict pairwise comparisons
    * x_j < x_i (i < j), folded into an integer id; only complete
    * windows count. Pattern counts are exact longs; each entropy term
    * is ONE d6 of p·ln p (the q386 NMI discipline), summed in
    * decimal; normalization divides by the ln(m!) literal → ONE d6.
    * Keys with fewer than m points emit no row.
    *
    * Scale shape: one ordered per-key window carrying m−1 leads + one
    * (key, pattern) aggregate (≤ m! patterns per key) + a keyed
    * rollup. `m` is a small code literal (2..5 — loud outside).
    */
  def permutationEntropy(
      df: DataFrame,
      keyCol: String,
      tCol: String,
      xCol: String,
      m: Int = 3): DataFrame = {
    require(m >= 2 && m <= 5, s"m in [2,5], got $m")
    val wt = Window.partitionBy(col("_k")).orderBy(col("_t").asc)
    // loud NULL contract (ADVICE r16): an interior NULL x would fall
    // through every `x_j < x_i` comparison to the 0 branch and bias
    // the pattern id silently — only the LAST lead is null-checked
    // for window completeness, so a mid-window NULL passes. Raise
    // instead, matching the file's loud cast convention.
    val xLoud = when(col(xCol).cast("long").isNotNull,
      col(xCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("permutationEntropy: NULL x at key "),
        col(keyCol).cast("string"),
        lit(" — ordinal patterns need every value present")))
        .cast("long"))
    val base = df.select(col(keyCol).as("_k"),
      col(tCol).cast("long").as("_t"), xLoud.as("_x"))
    val withLeads = (1 until m).foldLeft(base) { (d, l) =>
      d.withColumn(s"_x$l", lead(col("_x"), l).over(wt))
    }
    def at(i: Int): Column = if (i == 0) col("_x") else col(s"_x${i}")
    val pairs = for { i <- 0 until m; j <- (i + 1) until m } yield (i, j)
    val pattern = pairs.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, ((i, j), idx)) =>
        acc + when(at(j) < at(i), lit(1L << idx)).otherwise(lit(0L))
    }
    val complete = withLeads.filter(col(s"_x${m - 1}").isNotNull)
      .select(col("_k"), pattern.as("_pat"))
    val counts = complete.groupBy(col("_k"), col("_pat"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_n", sum(col("_c")).over(
        Window.partitionBy(col("_k"))))
    val lnFact = math.log((1 to m).product.toDouble)
    counts
      .withColumn("_term", d6(
        (col("_c").cast("double") / col("_n").cast("double")) *
          log(col("_c").cast("double") / col("_n").cast("double"))))
      .groupBy(col("_k"))
      .agg(max(col("_n")).as("n_windows"),
        count(lit(1)).as("n_patterns"),
        d6(-sum(d28(col("_term"))).cast("double")).as("entropy"))
      .select(col("_k").as(keyCol), col("n_windows"),
        col("n_patterns"),
        col("entropy"),
        d6(col("entropy") / lit(lnFact)).as("pe_norm"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Exact.d6

/** Dataset profiling: per-column row/null/distinct counts in ONE pass —
  * the data-quality snapshot an ETL framework prints before/after a
  * load (the engine sibling of the introspection + standard-test
  * machinery in graft.db.SparkDatabase).
  */
object Profile {

  /** One row per profiled column: (column_name, n_rows, n_nulls,
    * n_distinct). Exact counts, all integers — engine-portable.
    *
    * Single aggregation pass: the multi-countDistinct plans as one
    * Expand (x ncols data growth) — the exact-answer price. At corpus
    * scale swap the distinct counts for
    * [[graft.pipeline.Sketches.approxDistinctByKey]]-style HLL
    * aggregates, which profile in one narrow pass; exact is the right
    * default for the test-oracle contract. n_distinct ignores nulls
    * (COUNT DISTINCT semantics on both engines).
    */
  def columnProfile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(", ")}")
    val aggs = count(lit(1)).as("_g_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_g_nn_$c"),
      countDistinct(col(c)).as(s"_g_nd_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"),
        col("_g_rows").as("n_rows"),
        col(s"_g_nn_$c").as("n_nulls"),
        col(s"_g_nd_$c").as("n_distinct"))): _*)).as("_g_p"))
      .select(col("_g_p.*"))
  }

  /** Equi-width histogram via `width_bucket`: bucket 1..nBuckets covers
    * [lo, hi) in equal widths, bucket 0 is underflow and nBuckets+1
    * overflow (SQL-standard semantics). Output: (bucket, lo_edge,
    * hi_edge, n_rows); NULL edges on the open under/overflow buckets,
    * empty buckets absent (a LEFT JOIN against a bucket spine adds
    * them when a dense axis is wanted).
    *
    * One partial-aggregated groupBy whose exchange carries ≤ nBuckets+2
    * rows per partition — profiling cost is one scan at any corpus
    * scale. Edge values are lo + bucket·(hi−lo)/n in double, the same
    * IEEE expression an oracle engine evaluates.
    */
  def histogram(
      df: DataFrame,
      valueCol: String,
      lo: Double,
      hi: Double,
      nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val inRange = col("bucket") >= 1 && col("bucket") <= nBuckets
    df.select(expr(
        s"width_bucket(CAST(`$valueCol` AS DOUBLE), $lo, $hi, $nBuckets)")
        .as("bucket"))
      .filter(col("bucket").isNotNull) // NULL input falls in no bucket
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"))
      .select(
        col("bucket"),
        when(inRange, lit(lo) + (col("bucket") - 1) * ((hi - lo) / nBuckets))
          .as("lo_edge"),
        when(inRange, lit(lo) + col("bucket") * ((hi - lo) / nBuckets))
          .as("hi_edge"),
        col("n_rows"))
  }

  /** Equi-depth (quantile) bucket assignment — the scale-correct form
    * of `ntile` over a whole table: a global-ORDER-BY window serializes
    * the corpus through ONE partition, while this computes the
    * `nBuckets − 1` boundary values once (exact sort-based percentile)
    * and assigns every row IN-ROW by counting boundaries ≤ its value —
    * a broadcast of (nBuckets−1) doubles plus a pure projection. The
    * curriculum-binning step of a training pipeline (order by quality
    * decile) and the histogram whose buckets hold equal mass instead of
    * equal width ([[histogram]]'s complement).
    *
    * Cross-engine determinism: decile fractions are not binary-exact,
    * and Spark's `(1−g)·a + g·b` interpolation differs in SHAPE from
    * DuckDB's `a + g·(b−a)` — up to a few ulps on identical data — so
    * boundaries are rounded to 4 decimals before comparison; with
    * integer-quantized inputs every boundary's fractional part is a
    * multiple of the interpolation fraction, safely away from the
    * rounding cliff. Equal-to-boundary rows go UP a bucket (boundary
    * intervals are left-open). Buckets run 0..nBuckets−1. At 100 TB
    * swap the exact percentile for approx_percentile; assignment is
    * unchanged.
    */
  def quantileBuckets(
      df: DataFrame,
      valueCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val bounds = df.agg(
      expr(s"percentile(CAST(`$valueCol` AS DOUBLE), array(${probs.mkString(",")}))")
        .as("_g_bs"))
      .select(transform(col("_g_bs"), b => round(b, 4)).as("_g_bs"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        size(filter(col("_g_bs"), b => b <= col(valueCol).cast("double")))
          .cast("long"))
      .drop("_g_bs")
  }

  /** Key-skew diagnostic: the top-K keys by row count with their share
    * of the table — the number a pipeline reads before deciding whether
    * a join needs [[Joins.salted]] or AQE skew handling. Output:
    * (key, n_rows, share), ordered ties broken by key ascending so the
    * cut is deterministic. NULL keys are excluded (engines disagree on
    * NULL ordering; count them via [[columnProfile]]'s null column).
    *
    * Scale shape: one partial-agg groupBy, then `orderBy().limit(K)` —
    * Spark plans TakeOrderedAndProject (per-partition top-K merged on
    * the driver, K rows each), NEVER a single-partition global sort —
    * and the grand total rides in as a 1-row crossJoin (broadcast),
    * the in-plan-N pattern.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("_g_total"))
    counts.orderBy(col("n_rows").desc, col(keyCol).asc).limit(topK)
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("n_rows"),
        (col("n_rows") / col("_g_total"))
          .cast("decimal(28,6)").cast("double").as("share"))
  }

  /** Winsorization at the Tukey fences: the TRANSFORM twin of
    * [[iqrOutliers]] — every row survives, but the value column is
    * clipped into [q1 − factor·IQR, q3 + factor·IQR] per key (the
    * standard outlier-robust normalization before aggregating noisy
    * numeric features). Adds `<valueCol>_winsorized`; NULL values pass
    * through NULL.
    *
    * Same exactness discipline as [[iqrOutliers]]: feed integer-
    * quantized values (e.g. cents) and the quartiles interpolate at
    * binary-exact fractions, making the fences — and therefore every
    * clipped value — bit-identical across engines.
    */
  def winsorizeIqr(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      factor: Double = 1.5): DataFrame = {
    require(keys.nonEmpty, "winsorizeIqr needs at least one key column")
    require(factor >= 0, s"factor must be non-negative, got $factor")
    val reserved = Seq("_g_q1", "_g_q3", "_g_lo", "_g_hi")
    reserved.foreach(n => require(!df.columns.contains(n),
      s"reserved column name in input: $n"))
    val v = col(valueCol).cast("double")
    val fences = df.groupBy(keys.map(col): _*)
      .agg(
        percentile(v, lit(0.25)).as("_g_q1"),
        percentile(v, lit(0.75)).as("_g_q3"))
      .select(keys.map(col) ++ Seq(
        (col("_g_q1") - (col("_g_q3") - col("_g_q1")) * factor).as("_g_lo"),
        (col("_g_q3") + (col("_g_q3") - col("_g_q1")) * factor).as("_g_hi")): _*)
    df.join(broadcast(fences), keys)
      // guard the NULL case explicitly: greatest/least SKIP nulls (in
      // Spark and DuckDB both), which would clip a NULL to the fence
      .withColumn(s"${valueCol}_winsorized",
        when(v.isNotNull, least(greatest(v, col("_g_lo")), col("_g_hi"))))
      .drop("_g_lo", "_g_hi")
  }

  /** Tukey-fence outlier report per key: exact quartiles (sort-based
    * `percentile`, the [[columnProfile]] exactness contract), fences at
    * q1 − factor·IQR / q3 + factor·IQR, and the count of rows outside
    * them. Output per key: (keys…, n_rows, n_outliers, lo_fence,
    * hi_fence), fences rounded through DECIMAL(28,6) for cross-engine
    * display; the COMPARISON uses the raw double fences (both engines
    * derive them from identical order statistics with the same IEEE
    * arithmetic, so the cut is deterministic).
    *
    * Two passes over the keyed data: one percentile aggregate (the
    * exact-answer price — swap in approx_percentile at corpus scale for
    * a one-pass sketch), one broadcast join back (the fence frame is
    * one row per key) + count aggregate.
    */
  def iqrOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      factor: Double = 1.5): DataFrame = {
    require(keys.nonEmpty, "iqrOutliers needs at least one key column")
    require(factor >= 0, s"factor must be non-negative, got $factor")
    val reserved = Seq("_g_q1", "_g_q3", "_g_lo", "_g_hi")
    reserved.foreach(n => require(!df.columns.contains(n),
      s"reserved column name in input: $n"))
    val v = col(valueCol).cast("double")
    val fences = df.groupBy(keys.map(col): _*)
      .agg(
        percentile(v, lit(0.25)).as("_g_q1"),
        percentile(v, lit(0.75)).as("_g_q3"))
      .select(keys.map(col) ++ Seq(
        (col("_g_q1") - (col("_g_q3") - col("_g_q1")) * factor).as("_g_lo"),
        (col("_g_q3") + (col("_g_q3") - col("_g_q1")) * factor).as("_g_hi")): _*)
    df.join(broadcast(fences), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(v < col("_g_lo") || v > col("_g_hi"), 1L).otherwise(0L))
          .as("n_outliers"),
        d6(first(col("_g_lo"))).as("lo_fence"),
        d6(first(col("_g_hi"))).as("hi_fence"))
  }

  /** k-anonymity audit over a quasi-identifier combination (Sweeney
    * 2002) — the re-identification pre-flight a dataset release runs
    * BEFORE shipping rows that carry demographic-ish columns: every
    * equivalence class (distinct quasi-identifier tuple) smaller than
    * `k` is a re-identification risk, because an attacker who knows a
    * subject's quasi-identifiers narrows them to < k candidate rows.
    *
    * One quasi-key-keyed aggregate (map-side combined; the class table
    * is bounded by the quasi-identifier domain product, not the row
    * count). NULL quasi values form their own class (groupBy
    * null-bucket semantics on both engines — a missing attribute is
    * itself identifying). Output per equivalence class:
    * (quasi cols…, n_records, is_violation) — `is_violation` = 1 iff
    * n_records < k; the dataset is k-anonymous over these columns iff
    * no row has it set. Suppression/generalisation is the caller's
    * remediation — the audit names exactly which classes to act on.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one column")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_records"))
      .withColumn("is_violation", (col("n_records") < k).cast("int"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the attack
    * [[kAnonymity]] misses: an equivalence class can hold ≥ k rows yet
    * leak the sensitive attribute outright when every row agrees on it
    * (homogeneity attack). Per class this reports BOTH published
    * notions: distinct l (count of distinct sensitive values) and
    * entropy l (exp of the Shannon entropy of the class's sensitive
    * distribution — the stricter bar: a class 99%-dominated by one
    * diagnosis has high distinct l but entropy l ≈ 1).
    *
    * Two key-bounded aggregates: (quasi, sensitive)-keyed counts, then
    * a quasi-keyed rollup — the exchanges carry class×value rows, never
    * the raw table. Entropy terms go through the decimal(28,6) sum
    * discipline (each −(c/n)·ln(c/n) is d6-rounded BEFORE summing) so
    * the sum is order-free and engine-portable; entropy_l = exp(H) is
    * d6 at the output contract. NULL sensitive values count as a value
    * of their own (an absent diagnosis still discloses). `is_violation`
    * = 1 iff distinct_l < l — the original "well-represented" bar;
    * entropy_l is reported for the caller's stricter gate.
    *
    * Output per class: (quasi cols…, n_records, distinct_l, entropy_l,
    * is_violation).
    */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one quasi column")
    require(l >= 2, s"l must be >= 2, got $l")
    val qc = quasiCols.map(col)
    val perValue = df.groupBy(
        (qc :+ col(sensitiveCol).cast("string").as("_sv")): _*)
      .agg(count(lit(1)).as("_c"))
    val withN = perValue
      .withColumn("_n", sum(col("_c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(qc: _*)))
    val p = col("_c").cast("double") / col("_n").cast("double")
    withN
      .withColumn("_h6", (-p * log(p)).cast("decimal(28,6)"))
      .groupBy(qc: _*)
      .agg(max(col("_n")).as("n_records"),
        count(lit(1)).as("distinct_l"),
        d6(exp(sum(col("_h6")).cast("double"))).as("entropy_l"))
      .withColumn("is_violation", (col("distinct_l") < l).cast("int"))
  }

  /** t-closeness audit (Li et al. 2007) — the refinement after
    * [[lDiversity]]: a class can be diverse yet still leak by SKEW
    * (e.g. 50% rare-disease in a class vs 1% globally). For an ORDERED
    * sensitive attribute the published distance is the Earth Mover's
    * Distance with unit ground distance between adjacent values:
    *
    *   t(class) = Σ_i |CumP_i − CumQ_i| / (m − 1)
    *
    * over the m global distinct values in order (P = class
    * distribution, Q = global). Classes with t above `threshold` are
    * flagged.
    *
    * Shape: the value domain (m rows, with global counts) broadcasts
    * against the class list — the working frame is classes × m, linear
    * in the class count and ORDINAL-SIZED in m, never row-scaled; a
    * lazy raise_error fires if m exceeds `maxDomain` (the regime bar:
    * t-closeness is defined for ordinal/bucketed attributes — bucket
    * first for continuous ones). Cumulative sums run per class over the
    * value order (class-partitioned windows). |CumP − CumQ| terms are
    * exact integer cross-differences (c_i·N − g_i·n over the common
    * denominator n·N) accumulated as decimals, ONE division at the end,
    * d6 at the contract.
    *
    * Output per class: (quasi cols…, n_records, t, is_violation).
    */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      threshold: Double,
      maxDomain: Int = 10000): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi column")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    val W = org.apache.spark.sql.expressions.Window
    val qc = quasiCols.map(col)
    val sv = col(sensitiveCol).cast("long")
    // global value domain with global counts (m rows; guard the regime)
    val domain = df.groupBy(sv.as("_v")).agg(count(lit(1)).as("_g"))
      .withColumn("_m", count(lit(1)).over(
        W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("_g", when(col("_m") <= maxDomain, col("_g"))
        .otherwise(raise_error(concat(lit("tCloseness: sensitive domain "),
          col("_m"), lit(s" exceeds maxDomain=$maxDomain — bucket the " +
            "attribute first"))).cast("long")))
      .withColumn("_gn", sum(col("_g")).over(
        W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val classes = df.groupBy(qc: _*).agg(count(lit(1)).as("n_records"))
    val perValue = df.groupBy((qc :+ sv.as("_v")): _*)
      .agg(count(lit(1)).as("_c"))
    val grid = classes.crossJoin(broadcast(domain))
      .join(perValue, quasiCols :+ "_v", "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val wOrd = W.partitionBy(qc: _*).orderBy(col("_v").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // |CumP − CumQ| = |cum_c·N − cum_g·n| / (n·N); the numerator runs
    // in decimal(38,0) (cum_c·N can pass long range at corpus scale —
    // exact 38-digit integers instead of a silent wrap), the
    // denominator as double factors
    val num = abs(sum(col("_c")).over(wOrd).cast("decimal(38,0)") *
      col("_gn") -
      sum(col("_g")).over(wOrd).cast("decimal(38,0)") * col("n_records"))
    grid
      .withColumn("_num", num)
      .groupBy((qc :+ col("n_records")): _*)
      .agg((sum(col("_num")).cast("double") /
          (col("n_records").cast("double") *
            first(col("_gn")).cast("double") *
            (first(col("_m")) - lit(1L)).cast("double")))
        .as("_t"))
      .select((qc :+ col("n_records") :+ d6(col("_t")).as("t") :+
        (d6(col("_t")) > threshold).cast("int").as("is_violation")): _*)
  }

  /** Laplace-mechanism noisy count release — the ε-differential-privacy
    * shape for publishing per-group counts (each group count's
    * sensitivity is 1, so Lap(1/ε) noise gives ε-DP), with the
    * standard post-processing (round, clamp at 0).
    *
    * The noise draw is md5-SEEDED (inverse-CDF Laplace from the salted
    * portable hash of the group key): u = (h + 0.5)/10⁶ ∈ (0,1),
    * noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|). DOCUMENTED TRADE: seeded
    * noise makes releases reproducible and cross-engine-checkable —
    * the library's determinism contract — but a real privacy release
    * MUST swap in true randomness (and fresh randomness per release);
    * with a fixed salt the mechanism is only as private as the salt is
    * secret. The operator is the release MECHANICS (sensitivity-scaled
    * noise, post-processing, epsilon bookkeeping), test-vectored.
    *
    * One group aggregate + in-row noise — no extra exchange. Output:
    * (keyCols…, noisy_count, epsilon).
    */
  def dpNoisyCounts(
      df: DataFrame,
      keyCols: Seq[String],
      epsilon: Double,
      salt: String = "dp"): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
    val keyStr = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val u = (graft.pipeline.Sampling.portableHash(keyStr, salt)
      .cast("double") + 0.5) / 1000000.0
    val centered = u - 0.5
    val noise = -(lit(1.0) / epsilon) *
      signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered))
    // floor(x + 0.5), not round(): Spark rounds half-up, DuckDB
    // half-away-from-zero — floor+0.5 is the same arithmetic in both
    counts.select(keyCols.map(col) ++ Seq(
      greatest(lit(0L),
        floor(col("_n").cast("double") + d6(noise) + 0.5).cast("long"))
        .as("noisy_count"),
      lit(epsilon).as("epsilon")): _*)
  }

  /** Benford first-digit audit of a positive integer metric — the
    * classic fabricated-data / pipeline-bug detector: naturally
    * occurring multi-magnitude quantities follow P(d) = log₁₀(1+1/d),
    * and a slice that deviates hard (constant defaults, truncated
    * loads, synthetic fill) shows up as a large chi-square / MAD.
    *
    * Determinism: the first significant digit is taken from the DECIMAL
    * STRING of the long value (substring, no float log10 near
    * power-of-10 boundaries); expected shares are d6-rounded before any
    * multiplication; the chi-square follows [[graft.pipeline.Stats]]'
    * SRM pattern (d6 terms, decimal window total). Non-positive rows
    * are excluded and counted. One value scan + a 9-row frame — no
    * corpus-sized shuffle beyond the digit aggregate.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val v = col(valueCol).cast("long")
    val counts = df.filter(v > 0L)
      .groupBy(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .agg(count(lit(1)).as("_c"))
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val filled = spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("_c"), lit(0L)).as("n_obs"))
    val tot = filled.agg(sum(col("n_obs")).as("_n"))
    val base = filled.crossJoin(broadcast(tot))
    val guard = when(col("_n") > 0L, col("n_obs"))
      .otherwise(raise_error(
        lit("benfordAudit: no positive values to audit")).cast("long"))
    val nD = col("_n").cast("double")
    val expShare = d6(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
    val obsShare = d6(col("n_obs").cast("double") / nD)
    val staged = base.select(col("digit"), guard.as("n_obs"), col("_n"),
      expShare.as("exp_share"), obsShare.as("obs_share"))
    val expN = col("exp_share") * col("_n").cast("double")
    val term6 = ((col("n_obs").cast("double") - expN) *
      (col("n_obs").cast("double") - expN) / expN).cast("decimal(28,6)")
    val absDiff6 = abs(col("obs_share") - col("exp_share"))
      .cast("decimal(28,6)")
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    staged
      .withColumn("chi2_term", d6(term6))
      .withColumn("chi2", d6(sum(term6).over(w).cast("double")))
      .withColumn("mad", d6(sum(absDiff6).over(w).cast("double") / 9.0))
      .drop("_n")
  }

  /** Shuffle-key skew advisor — the pre-flight a 100 TB join/groupBy
    * deserves: per candidate shuffle key, the heavy hitters with their
    * corpus share and the SALT FACTOR that would level them. A key
    * holding share s of N rows puts s·N rows in one reducer task no
    * matter how many partitions exist; the standard fix is salting the
    * key into ⌈n_key / targetRowsPerTask⌉ sub-keys ([[graft.queries
    * .Pipeline]]'s q70 salted-join pattern) — this emits that number
    * per offender instead of leaving it to folklore.
    *
    * Exact counts; `share` is the one d6 division; `suggested_salt` is
    * exact integer ⌈n/target⌉ (1 = no salting needed). Output: the
    * top-`topK` keys by (count desc, key asc — total order), each with
    * (key, n_rows, share, suggested_salt, rank), plus the global row
    * and distinct-key counts carried on every row for the report.
    *
    * Scale shape: ONE key aggregate (map-side combined), a 1-row
    * broadcast total, and a top-k window over the key-count frame —
    * the advisor never shuffles wider than the aggregate it advises.
    */
  def skewAdvisor(
      df: DataFrame,
      keyCols: Seq[String],
      targetRowsPerTask: Long,
      topK: Int = 10): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    require(targetRowsPerTask >= 1, "targetRowsPerTask must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    val key = concat_ws("", keyCols.map(c => col(c).cast("string")): _*)
    val counts = df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum(col("n_rows")).as("_n"),
      count(lit(1)).as("_k"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_rows").desc, col("key").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("key"), col("n_rows"),
        d6(col("n_rows").cast("double") / col("_n").cast("double"))
          .as("share"),
        ((col("n_rows") + targetRowsPerTask - 1L) / targetRowsPerTask)
          .cast("long").as("suggested_salt"),
        col("_n").as("total_rows"), col("_k").as("distinct_keys"))
  }
}

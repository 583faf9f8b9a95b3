package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._
import graft.pipeline.Exact.{dec, d28, d6}

/** Statistical inference over corpus/product metrics: bootstrap
  * confidence intervals and two-sample significance tests — the
  * numbers a data-curation report or an A/B readout puts NEXT to a
  * point estimate so a downstream decision knows how much to trust it.
  *
  * Reference capability: sayn users hand-write these as SQL task
  * SELECTs over warehouse data (sayn/tasks/sql.py); here they are
  * first-class operators with engine-portable determinism (md5-seeded
  * resampling, exact integer sufficient statistics) so results are
  * reproducible across engines and partitionings.
  *
  * Shared stages. Each repeated statistical step is defined once, and
  * the operators are built from these (InventorySpec fails on a local
  * copy of the midrank window, the cross-moment aggregate or the
  * p-value rank):
  *   - value cells and ranks: [[twoArmValueCells]] (0/1 arm counts per
  *     distinct value), [[cumBelow]], [[doubledMidrank]] and
  *     [[valueTotal]] over such a frame, [[groupRankSums]] (k groups)
  *     and [[completeBlocks]] (per-item ranks of a block design);
  *   - the Ansari–Bradley statistic: [[inwardScore2]],
  *     [[inwardScoreSums]] and [[inwardScoreZ]];
  *   - exact moments: [[crossMoments]] and [[cleared]], and the one-way
  *     ANOVA table [[anovaSums]];
  *   - contingency tables: [[observedCells]] and [[contingencyMargins]];
  *   - multiple testing: [[rankedP]] over [[guardedP]];
  *   - survival: [[durationRisk]] and the two-group [[riskSets]];
  *   - global order: [[shardedTotalOrder]].
  */
object Stats {

  /** Poisson(1) draw from the portable md5 hash — the standard
    * distributed-bootstrap reweighting (Poisson bootstrap: resampling
    * n-out-of-n with replacement ≈ independent Poisson(1) weights per
    * row, which needs NO global coordination). The inverse-CDF
    * thresholds are fixed integer literals over the [0, 1e6) hash
    * range, so every engine draws the identical weight for the same
    * (id, replicate); truncation at weight 8 discards ~1e-9 of mass.
    */
  private def poissonWeight(id: Column, rep: Column): Column = {
    val u = conv(substring(md5(
        concat(lit("boot"), rep.cast("string"), lit(":"),
          id.cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") % 1000000L
    // cumulative Poisson(1) × 1e6, floored: P(≤k) for k = 0..7
    val cdf = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L)
    // fold REVERSED so the smallest threshold is the OUTERMOST when():
    // cumulative conditions must test k = 0 first
    cdf.zipWithIndex.reverse.foldLeft(lit(8): Column) {
      case (acc, (thr, k)) => when(u < thr, lit(k.toLong)).otherwise(acc)
    }.cast("long")
  }

  /** Percentile-bootstrap confidence interval for the MEAN of an
    * integer-valued per-row metric: `reps` Poisson-bootstrap
    * replicates, each a deterministically reweighted full-corpus mean,
    * and the (α/2, 1−α/2) percentile band over the replicate means.
    * Output is ONE row: (n_rows, n_reps, est_mean, ci_low, ci_high).
    *
    * Integer metrics only (counts, lengths, scores×10⁶): the weighted
    * sums are then EXACT longs, so replicate means are identical
    * across engines and summation orders, and only the final divisions
    * round (d6). A double metric would make every partial sum
    * order-dependent — quantize it first.
    *
    * Scale shape: the corpus is read once; the replicate axis is an
    * in-row explode (corpus × reps rows exist only inside one
    * hash-aggregate with map-side combine, so the exchange carries
    * ≤ reps partial rows per partition — never corpus × reps). The
    * percentile rank runs over the `reps`-row replicate frame (a
    * bounded single-partition window, the 1-row-scalar class). At
    * 100 TB with reps = 40 this is one scan + one 40-row shuffle.
    */
  def bootstrapCI(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      reps: Int = 40,
      alpha: Double = 0.05): DataFrame = {
    require(reps >= 4, s"reps must be >= 4, got $reps")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val lo = math.ceil(alpha / 2 * reps).toLong.max(1L)
    val hi = reps + 1L - lo
    val x = col(valueCol).cast("long")
    val perRep = df
      .select(col(idCol), x.as("_x"),
        explode(sequence(lit(0), lit(reps - 1))).as("_rep"))
      .select(col("_rep"), col("_x"),
        poissonWeight(col(idCol), col("_rep")).as("_w"))
      .groupBy(col("_rep"))
      .agg(sum(col("_w") * col("_x")).as("_swx"), sum(col("_w")).as("_sw"))
      .select(col("_rep"),
        d6(col("_swx").cast("double") / col("_sw").cast("double"))
          .as("_m"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_m").asc, col("_rep").asc)
    val ranked = perRep.withColumn("_rk", row_number().over(w))
    val bounds = ranked
      .agg(
        min(when(col("_rk") === lo, col("_m"))).as("ci_low"),
        min(when(col("_rk") === hi, col("_m"))).as("ci_high"))
    val base = df.agg(
      count(lit(1)).as("n_rows"),
      d6(sum(x).cast("double") / count(lit(1))).as("est_mean"))
    base.crossJoin(broadcast(bounds))
      .select(col("n_rows"), lit(reps.toLong).as("n_reps"),
        col("est_mean"), col("ci_low"), col("ci_high"))
  }

  /** Welch's two-sample t-test on an integer-valued per-unit metric —
    * the unequal-variance A/B readout. Input: one row per experimental
    * unit with a 0/1 `armCol` and the metric; output ONE row with per-
    * arm sufficient statistics and the test:
    *
    *   t  = (m₀ − m₁) / √(v₀/n₀ + v₁/n₁)
    *   df = (v₀/n₀ + v₁/n₁)² / ((v₀/n₀)²/(n₀−1) + (v₁/n₁)²/(n₁−1))
    *
    * (Welch–Satterthwaite). `significant` flags |t| ≥ 1.959964 — the
    * NORMAL approximation to the two-sided 5% critical value, the
    * documented simplification: an exact t-quantile needs the
    * incomplete beta function, which is neither in Spark nor portable;
    * at the n ≫ 30 scale this operator targets the two are equal to
    * 3 decimals.
    *
    * Determinism: n, Σx, Σx² accumulate as EXACT longs (integer metric
    * contract, as [[bootstrapCI]]); means/variances/t derive in one
    * fixed expression order and round d6. ONE aggregate over units —
    * conditional sums per arm, no join, no shuffle beyond it.
    *
    * Degenerate arms fail LOUDLY: an arm with < 2 units has no sample
    * variance ((n−1) = 0 → silent NaN/null t_stat), so the plan embeds
    * a conditional raise_error on the arm counts — the lazy-frame
    * analogue of the library's require() discipline (counts are only
    * known at execution, so a driver-side require can't see them).
    */
  def welchTTest(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val arm = col(armCol).cast("int")
    def side(a: Int, c: Column) = sum(when(arm === a, c).otherwise(lit(0L)))
    val agg = df.agg(
      side(0, lit(1L)).as("_n0"), side(1, lit(1L)).as("_n1"),
      side(0, x).as("_s0"), side(1, x).as("_s1"),
      side(0, x * x).as("_q0"), side(1, x * x).as("_q1"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val m0 = col("_s0").cast("double") / n0
    val m1 = col("_s1").cast("double") / n1
    val v0 = (col("_q0").cast("double") - col("_s0").cast("double") * m0) /
      (n0 - 1.0)
    val v1 = (col("_q1").cast("double") - col("_s1").cast("double") * m1) /
      (n1 - 1.0)
    val se0 = v0 / n0
    val se1 = v1 / n1
    val t = (m0 - m1) / sqrt(se0 + se1)
    val dfW = pow(se0 + se1, 2.0) /
      (pow(se0, 2.0) / (n0 - 1.0) + pow(se1, 2.0) / (n1 - 1.0))
    val armGuard = when(col("_n0") >= 2L && col("_n1") >= 2L, col("_n0"))
      .otherwise(raise_error(concat(
        lit("welchTTest: each arm needs >= 2 units for a sample "),
        lit("variance; got n_a="), col("_n0").cast("string"),
        lit(" n_b="), col("_n1").cast("string"))).cast("long"))
    agg.select(
      armGuard.as("n_a"), col("_n1").as("n_b"),
      d6(m0).as("mean_a"), d6(m1).as("mean_b"),
      d6(v0).as("var_a"), d6(v1).as("var_b"),
      d6(t).as("t_stat"), d6(dfW).as("welch_df"),
      (abs(t) >= 1.959964).cast("int").as("significant"))
  }

  /** Population-drift report between a reference and a current slice
    * of the same frame — the dataset-monitoring gate a recurring
    * ingest runs BEFORE shipping a new training mix (has the source /
    * length / score distribution moved since the last accepted
    * snapshot?). Per bucket and dimension: counts, Laplace-smoothed
    * shares, and the PSI contribution; every row also carries its
    * dimension's total PSI (the alarm number — industry folklore:
    * < 0.1 stable, 0.1–0.25 drifting, > 0.25 act).
    *
    * PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) — the symmetrized KL
    * divergence. Add-one (Laplace) smoothing on COUNTS, not share
    * clipping: p = (c_ref+1)/(N_ref+B) keeps every share an exact
    * rational (no ε-clip float compare), totals over the OBSERVED
    * bucket union B, so one-sided buckets contribute finite terms.
    * Documented divergence from clip-at-1e-4 textbook PSI.
    *
    * Float discipline: counts/totals are exact longs; shares divide
    * once to double in fixed order; the per-bucket term is d6-truncated
    * at its contract point, and the dimension PSI is a DECIMAL sum of
    * the truncated terms — so cross-engine ln() ulp drift is absorbed
    * per-bucket and cannot accumulate (q192/q203's discipline).
    *
    * Scale shape: one groupBy exchange per dimension over bucket keys
    * (map-side combined — exchange carries B partials per partition,
    * never rows); the share/PSI arithmetic runs on the B-row aggregate
    * inside unpartitioned windows over that bounded frame (the
    * 1-row-scalar class — B is bucket cardinality, not corpus). The
    * input is scanned once per dimension; pre-cache upstream of a
    * many-dimension report.
    */
  def psiDrift(
      df: DataFrame,
      curCol: String,
      dims: Seq[(String, Column)]): DataFrame = {
    require(dims.nonEmpty, "psiDrift needs at least one dimension")
    val cur = col(curCol).cast("boolean")
    val perDim = dims.map { case (dimName, bucket) =>
      val cnt = df.groupBy(bucket.cast("string").as("bucket"))
        .agg(
          sum(when(cur, lit(0L)).otherwise(lit(1L))).as("n_ref"),
          sum(when(cur, lit(1L)).otherwise(lit(0L))).as("n_cur"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val tRef = sum(col("n_ref")).over(w)
      val tCur = sum(col("n_cur")).over(w)
      val b = count(lit(1)).over(w)
      val p = (col("n_ref") + lit(1L)).cast("double") /
        (tRef + b).cast("double")
      val q = (col("n_cur") + lit(1L)).cast("double") /
        (tCur + b).cast("double")
      val term = d6((p - q) * log(p / q))
      val withTerm = cnt.select(
        lit(dimName).as("dim"), col("bucket"),
        col("n_ref"), col("n_cur"),
        d6(p).as("p_ref"), d6(q).as("p_cur"), term.as("psi_term"))
      withTerm.withColumn("psi",
        sum(col("psi_term").cast("decimal(28,6)")).over(w)
          .cast("double"))
    }
    perDim.reduce(_ unionByName _)
  }

  /** Fleiss' kappa (1971) — chance-corrected agreement for N ≥ 2
    * raters, generalizing [[cohensKappa]] beyond pairs: the labeling-
    * pool health check when every item carries several independent
    * annotations. With n_ij = raters assigning category j to item i,
    * R raters, N items:
    *
    *   P̄  = (Σ_ij n_ij² − N·R) / (N·R·(R−1))
    *   P̄e = Σ_j (Σ_i n_ij)² / (N·R)²
    *   κ  = (P̄ − P̄e) / (1 − P̄e)
    *
    * Every sum is an exact integer (the squares stay well inside long
    * range for any real annotation pool); the three ratios and κ
    * derive in one fixed expression order, d6. The degenerate P̄e = 1
    * edge (all raters constant on one category) reports κ = 1 when
    * agreement is perfect, else fails loudly — [[cohensKappa]]'s
    * convention.
    *
    * Scale shape: one (item, category)-keyed aggregate (map-side
    * combined), one category rollup, one 1-row combine. Output ONE
    * row: (n_items, n_raters, p_bar, p_e, kappa).
    */
  def fleissKappa(
      df: DataFrame,
      itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2, "fleissKappa needs >= 2 rater columns")
    val r = raterCols.size
    val votes = raterCols.map(rc =>
        df.select(col(itemCol).as("_it"), col(rc).cast("string").as("_cat")))
      .reduce(_ unionByName _)
    val nij = votes.groupBy(col("_it"), col("_cat"))
      .agg(count(lit(1)).as("_n"))
    val perItem = nij.groupBy(col("_it"))
      .agg(sum(col("_n") * col("_n")).as("_s2"))
    val catTot = nij.groupBy(col("_cat"))
      .agg(sum(col("_n")).as("_cj"))
      .agg(sum(col("_cj") * col("_cj")).as("_sc2"))
    val agg = perItem.agg(count(lit(1)).as("_ni"), sum(col("_s2")).as("_ss2"))
      .crossJoin(broadcast(catTot))
    val nD = col("_ni").cast("double")
    val nr = nD * r
    val pBar = (col("_ss2").cast("double") - nr) / (nr * (r - 1).toDouble)
    val pE = col("_sc2").cast("double") / (nr * nr)
    val kappa = when(col("_sc2") === col("_ni") * col("_ni") * (r.toLong * r),
        when(col("_ss2") === col("_ni") * (r.toLong * r), lit(1.0))
          .otherwise(raise_error(lit(
            "fleissKappa: chance agreement is 1 (all raters constant) " +
              "with imperfect observed agreement — kappa undefined"))
            .cast("double")))
      .otherwise((pBar - pE) / (lit(1.0) - pE))
    agg.select(
      col("_ni").as("n_items"), lit(r.toLong).as("n_raters"),
      d6(pBar).as("p_bar"), d6(pE).as("p_e"), d6(kappa).as("kappa"))
  }

  /** Jensen–Shannon divergence between a reference and a current slice
    * over one categorical dimension — the BOUNDED drift monitor next
    * to [[psiDrift]]: JS = ½KL(p‖m) + ½KL(q‖m) with m = (p+q)/2 lives
    * in [0, ln 2] whatever happens, so a brand-new bucket moves the
    * needle finitely where raw KL would blow up — the number a
    * dashboard alarms on when distributions can gain/lose support
    * between snapshots.
    *
    * Same estimation contract as [[psiDrift]]: add-one (Laplace)
    * smoothing on COUNTS over the observed bucket union (shares stay
    * exact rationals), per-bucket terms d6-truncated at their contract
    * point, dimension total as a DECIMAL sum of truncated terms.
    * Scale shape: one bucket-keyed map-side-combined aggregate; the
    * windows run over the bucket-domain-bounded count table.
    *
    * Output per bucket: (bucket, n_ref, n_cur, p_ref, p_cur, js_term,
    * js) — `js` repeats the dimension total on every row
    * ([[psiDrift]]'s reporting convention).
    */
  def jsDrift(
      df: DataFrame,
      curCol: String,
      bucket: Column): DataFrame = {
    val cur = col(curCol).cast("boolean")
    val cnt = df.groupBy(bucket.cast("string").as("bucket"))
      .agg(
        sum(when(cur, lit(0L)).otherwise(lit(1L))).as("n_ref"),
        sum(when(cur, lit(1L)).otherwise(lit(0L))).as("n_cur"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val p = (col("n_ref") + lit(1L)).cast("double") /
      (sum(col("n_ref")).over(w) + count(lit(1)).over(w)).cast("double")
    val q = (col("n_cur") + lit(1L)).cast("double") /
      (sum(col("n_cur")).over(w) + count(lit(1)).over(w)).cast("double")
    val m = (p + q) / 2.0
    val term = d6((p * log(p / m) + q * log(q / m)) / 2.0)
    cnt.select(col("bucket"), col("n_ref"), col("n_cur"),
        d6(p).as("p_ref"), d6(q).as("p_cur"), term.as("js_term"))
      .withColumn("js",
        sum(col("js_term").cast("decimal(28,6)")).over(w).cast("double"))
  }

  /** Gini concentration coefficient of a per-key integer metric — the
    * inequality diagnostic a data-mix report runs over domain token
    * shares or per-user activity (G = 0: perfectly even; → 1: one key
    * holds everything):
    *
    *   G = Σ_i (2i − n − 1)·x_(i) / (n·Σx)   (x ascending, 1-based i)
    *
    * EXACT integer numerator via the [[mannWhitneyU]] doubled-rank
    * trick: keys collapse to one row per distinct metric VALUE v with
    * multiplicity m_v, a value-run's positions a+1..a+m contribute
    * v·(m·(2a + m + 1) − m·(n+1)) — closed form, no per-key window;
    * the cumulative runs over the value-domain-bounded distinct-value
    * table. One double division at the end, d6.
    *
    * Output ONE row: (n_keys, total, gini).
    */
  def giniConcentration(
      df: DataFrame,
      valueCol: String): DataFrame = {
    val byVal = df
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_m"))
    val agg = byVal
      .select(col("_v"), col("_m"),
        (col("_m") * doubledMidrank("_v", "_m")).as("_ri"))
      .agg(
        sum(col("_m")).as("_n"),
        sum(col("_v") * col("_m")).as("_tot"),
        sum(col("_v") * col("_ri")).as("_rsum"))
    // Σ(2i−n−1)x_i = Σ v·(2·Σi_run) − (n+1)·Σx, with Σ over runs
    val num = col("_rsum") - (col("_n") + 1L) * col("_tot")
    val guard = when(col("_n") >= 1L && col("_tot") >= 1L, col("_n"))
      .otherwise(raise_error(lit(
        "giniConcentration: needs at least one key and a positive " +
          "metric total")).cast("long"))
    agg.select(
      guard.as("n_keys"), col("_tot").as("total"),
      d6(num.cast("double") /
        (col("_n").cast("double") * col("_tot").cast("double")))
        .as("gini"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test on an
    * integer-valued per-unit metric — the NONPARAMETRIC A/B readout
    * next to [[welchTTest]]: no normality assumption, robust to the
    * heavy-tailed metrics (session lengths, token counts) where a
    * t-test's mean is the wrong summary.
    *
    * Rank arithmetic is EXACT: pooled rows collapse to one row per
    * distinct metric VALUE (the integer-metric contract bounds that
    * table by the value domain, the GK-sketch frame class — so the
    * cumulative window over it is domain-bounded, not corpus-bounded),
    * and tied ranks are handled in DOUBLED units ([[doubledMidrank]]),
    * so R₁, U₀, U₁ come out of integer sums. The normal approximation
    *
    *   z = (2U₁ − n₀n₁) / 2σ,   σ² = n₀n₁/12 · ((n+1) − Σ(t³−t)/(n(n−1)))
    *
    * (tie-corrected, no continuity correction — documented choice, the
    * ±0.5 correction is negligible at the n ≫ 20 scale this targets)
    * is computed in one fixed expression order and d6-rounded;
    * `significant` flags |z| ≥ 1.959964 ([[welchTTest]]'s two-sided 5%
    * convention). Degenerate inputs (an empty arm, or every unit tied
    * on one value → σ = 0) fail loudly via in-plan raise_error.
    *
    * Output ONE row: (n_a, n_b, u_a, u_b — the U statistics in halves
    * as exact doubles — z_stat, significant).
    */
  def mannWhitneyU(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val agg = twoArmValueCells(df, "mannWhitneyU", armCol, valueCol)
      .select(col("_c0"), col("_c1"), col("_t"),
        doubledMidrank("_x", "_t").as("_r2"))
      .agg(
        sum(col("_c0")).as("_n0"), sum(col("_c1")).as("_n1"),
        sum(col("_c1") * col("_r2")).as("_r1x2"),
        sum(col("_t") * col("_t") * col("_t") - col("_t")).as("_ties"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val n = n0 + n1
    val u1x2 = col("_r1x2") - col("_n1") * (col("_n1") + 1L) // exact long
    val u0x2 = lit(2L) * col("_n0") * col("_n1") - u1x2
    val varU = n0 * n1 / 12.0 *
      ((n + 1.0) - col("_ties").cast("double") / (n * (n - 1.0)))
    val ok = col("_n0") >= 1L && col("_n1") >= 1L &&
      col("_ties") < (col("_n0") + col("_n1")) *
        (col("_n0") + col("_n1")) * (col("_n0") + col("_n1")) -
        (col("_n0") + col("_n1"))
    // gated by the guard's condition: with σ = 0 the division would
    // raise DIVIDE_BY_ZERO before the guard could name the cause
    val z = when(ok,
      (u1x2.cast("double") - n0 * n1) / (lit(2.0) * sqrt(varU)))
    val guard = when(ok, col("_n0"))
      .otherwise(raise_error(concat(
        lit("mannWhitneyU: need both arms non-empty and at least two "),
        lit("distinct metric values (sigma would be 0); got n_a="),
        col("_n0").cast("string"), lit(" n_b="),
        col("_n1").cast("string"))).cast("long"))
    agg.select(
      guard.as("n_a"), col("_n1").as("n_b"),
      d6(u0x2.cast("double") / 2.0).as("u_a"),
      d6(u1x2.cast("double") / 2.0).as("u_b"),
      d6(z).as("z_stat"),
      (abs(z) >= 1.959964).cast("int").as("significant"))
  }

  /** pass@k estimator (Chen et al. 2021, arXiv:2107.03374 §2.1) — the
    * unbiased combinatorial estimator every code-generation eval
    * reports: given n samples per problem of which c passed,
    *
    *   pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i=0}^{k−1} (n−c−i)/(n−i)
    *
    * computed as the PRODUCT form (the paper's own numerically-stable
    * recommendation — binomials overflow long before n reaches real
    * sample counts), one fixed left-to-right fold per k, d6-rounded.
    * A problem with fewer than k samples has no unbiased estimate and
    * returns an explicit NULL (not a silently-biased clamp); when
    * every sample failed the product is 1 (pass@k = 0), and when
    * n − c < k some factor is 0 (pass@k = 1) — both exact.
    *
    * ONE aggregate over samples (problem-keyed, map-side combined)
    * then in-row products: no joins, no windows, any corpus size.
    * Output per problem: (problemCol, n_samples, n_correct,
    * pass_at_<k> per requested k).
    */
  def passAtK(
      df: DataFrame,
      problemCol: String,
      correctCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be >= 1: $ks")
    val agg = df.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(col(correctCol).cast("long")).as("n_correct"))
    val n = col("n_samples")
    val c = col("n_correct")
    val cols = ks.map { k =>
      val prod = aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
        (acc, i) => acc * (n - c - i).cast("double") / (n - i).cast("double"))
      when(n < k, lit(null).cast("double"))
        .otherwise(d6(lit(1.0) - prod)).as(s"pass_at_$k")
    }
    agg.select(col(problemCol) +: n +: c +: cols: _*)
  }

  /** Benjamini–Hochberg FDR control (step-up, 1995) over a table of
    * hypothesis p-values — the multiple-testing gate a per-domain /
    * per-slice monitoring report needs before acting on its
    * "significant" rows (m slices at α = .05 yield m/20 false alarms
    * uncorrected).
    *
    * Ranks are (p ASC, key ASC) — deterministic under ties; the
    * step-up cutoff k* = max{ i : p_i ≤ i·q/m } is ONE aggregate over
    * the ranked frame broadcast back (no driver collect), and the
    * monotone adjusted p-value p̃_i = min_{j ≥ i} (m·p_j/j) is the
    * reverse cumulative min. Both windows run over the HYPOTHESIS
    * table — m rows, report-sized by construction (one row per
    * domain/slice), not corpus-sized; the corpus-sized work producing
    * the p-values happens upstream.
    *
    * Output per hypothesis: (keyCol, p_value, rank, p_adj,
    * rejected) — `rejected` = 1 iff rank ≤ k*.
    */
  def bhFdr(
      df: DataFrame,
      keyCol: String,
      pCol: String,
      q: Double): DataFrame = {
    require(q > 0 && q < 1, s"q in (0,1), got $q")
    val W = org.apache.spark.sql.expressions.Window
    val ranked = rankedP(df, keyCol, pCol, "bhFdr")
    val kStar = ranked
      .agg(coalesce(max(when(
        col("p_value") * col("_m") <= col("rank").cast("double") * q,
        col("rank"))), lit(0L)).as("_kstar"))
    val padj = min(col("p_value") * col("_m").cast("double") /
        col("rank").cast("double"))
      .over(W.orderBy(col("rank").desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    ranked
      .withColumn("p_adj", d6(least(padj, lit(1.0))))
      .crossJoin(broadcast(kStar))
      .select(col(keyCol), d6(col("p_value")).as("p_value"), col("rank"),
        col("p_adj"),
        (col("rank") <= col("_kstar")).cast("int").as("rejected"))
  }

  /** Cohen's kappa inter-rater agreement over two categorical label
    * columns — the annotation-quality gate a labeling pipeline runs
    * before trusting a rater pool (raw percent agreement overstates
    * quality whenever the label distribution is skewed; kappa
    * subtracts the chance-agreement floor):
    *
    *   κ = (p_o − p_e) / (1 − p_e),   p_e = Σ_k p_A(k)·p_B(k)
    *
    * ONE (a, b)-keyed aggregate over the label-domain-bounded
    * confusion table; all counts exact longs, the two probabilities
    * and κ derive in one fixed expression order, d6-rounded. Perfect
    * chance agreement (p_e = 1: both raters constant on the same
    * label) is the 0/0 edge — reported as κ = 1 when p_o = 1 (total
    * agreement) per convention, else fails loudly.
    *
    * Output ONE row: (n_items, po, pe, kappa).
    */
  def cohensKappa(
      df: DataFrame,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val conf = df.groupBy(col(raterACol).cast("string").as("_a"),
        col(raterBCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_n"))
    val agg = conf.agg(
      sum(col("_n")).as("_tot"),
      sum(when(col("_a") === col("_b"), col("_n")).otherwise(0L)).as("_agree"))
    val margA = conf.groupBy(col("_a").as("_k")).agg(sum(col("_n")).as("_na"))
    val margB = conf.groupBy(col("_b").as("_k")).agg(sum(col("_n")).as("_nb"))
    val pe = margA.join(margB, Seq("_k"), "inner")
      .agg(coalesce(sum(col("_na") * col("_nb")), lit(0L)).as("_peNum"))
    val j = agg.crossJoin(broadcast(pe))
    val tot = col("_tot").cast("double")
    val po = col("_agree").cast("double") / tot
    val peD = col("_peNum").cast("double") / (tot * tot)
    val kappa = when(col("_peNum") === col("_tot") * col("_tot"),
        when(col("_agree") === col("_tot"), lit(1.0))
          .otherwise(raise_error(lit(
            "cohensKappa: chance agreement is 1 (both raters constant) " +
              "with imperfect observed agreement — kappa undefined"))
            .cast("double")))
      .otherwise((po - peD) / (lit(1.0) - peD))
    j.select(
      col("_tot").as("n_items"),
      d6(po).as("po"), d6(peD).as("pe"), d6(kappa).as("kappa"))
  }

  /** EWMA control chart (Roberts 1959) over per-key integer series —
    * the drift/spike monitor an ingestion pipeline runs on its daily
    * volume counts: flag the points where today's value breaks away
    * from the exponentially-weighted level predicted by STRICT history.
    *
    * The level is the TRUNCATED EWMA over the last `horizon` points
    * with decay λ = 1/2 fixed BY DESIGN: the weights 2^{-j} are exact
    * binary doubles, so weight·count products and their fixed-order sum
    * are error-free on every IEEE engine — an arbitrary λ would smear
    * the hash-exact contract across pow() implementations. Truncation
    * at `horizon` (default 8, residual weight 2^-8 ≈ 0.4%) also keeps
    * the plan a fixed fan of `lag`s instead of an unbounded running
    * recurrence:
    *
    *   ewma_t = Σ_{j=1..H} 2^{-(j-1)} x_{t-j} / Σ_{j avail} 2^{-(j-1)}
    *
    * (series-start points normalise over the lags that exist; the
    * first point has no history → NULL level, no alarm). The alarm bar
    * is `nSigma` × a per-key robust scale — the mean absolute
    * deviation from the key mean, accumulated through the
    * decimal(28,6)-before-sum discipline so the sum is order-free.
    *
    * Shape: ONE key-partitioned window pass (H lags in a single window
    * spec) + one key-keyed aggregate for the scale — two key-bounded
    * exchanges, no global window, partition count = |keys| × series
    * length like every per-entity op here.
    *
    * Output per (key, order) row: (keyCol, orderCol, valueCol, n_hist,
    * ewma, sigma, is_alarm).
    */
  def ewmaControlChart(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      horizon: Int = 8,
      nSigma: Double = 3.0): DataFrame = {
    require(horizon >= 1 && horizon <= 32,
      s"horizon must be in [1,32], got $horizon")
    require(nSigma > 0, s"nSigma must be positive, got $nSigma")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(keyCol)).orderBy(col(orderCol).asc)
    val x = col(valueCol).cast("long")
    // exact binary weights 2^{-(j-1)}, fixed left-assoc sum order —
    // the oracle replays the identical chain
    val terms = (1 to horizon).map { j =>
      val wt = math.pow(2.0, -(j - 1)).toString.toDouble
      (lag(x, j).over(w), lit(wt))
    }
    val num = terms.map { case (l, wt) =>
      when(l.isNotNull, l.cast("double") * wt).otherwise(lit(0.0))
    }.reduce(_ + _)
    val den = terms.map { case (l, wt) =>
      when(l.isNotNull, wt).otherwise(lit(0.0))
    }.reduce(_ + _)
    val nHist = terms.map { case (l, _) =>
      when(l.isNotNull, 1).otherwise(0)
    }.reduce(_ + _)
    val keyed = df
      .withColumn("_nh", nHist)
      .withColumn("_ewma",
        when(col("_nh") === 0, lit(null).cast("double"))
          .otherwise(num / den))
    // per-key robust scale: mean absolute deviation from the key mean
    // (sum/count mean is one exact IEEE division; |x−mean| terms are
    // d6-rounded BEFORE summing — the order-free dsum discipline)
    val means = df.groupBy(col(keyCol))
      .agg(sum(x).as("_sx"), count(lit(1)).as("_nx"))
      .select(col(keyCol),
        (col("_sx").cast("double") / col("_nx").cast("double")).as("_mu"),
        col("_nx"))
    val scale = df.join(means, Seq(keyCol))
      .withColumn("_ad6",
        abs(x.cast("double") - col("_mu")).cast("decimal(28,6)"))
      .groupBy(col(keyCol))
      .agg((sum(col("_ad6")).cast("double") /
        first(col("_nx")).cast("double")).as("_sigma"))
    keyed.join(scale, Seq(keyCol))
      .select(col(keyCol), col(orderCol), col(valueCol),
        col("_nh").as("n_hist"),
        d6(col("_ewma")).as("ewma"),
        d6(col("_sigma")).as("sigma"),
        (col("_nh") > 0 &&
          abs(x.cast("double") - d6(col("_ewma"))) >
            lit(nSigma) * d6(col("_sigma"))).cast("int").as("is_alarm"))
  }

  /** Cramér's V association strength between two categoricals (with
    * the χ² it derives from) — "are language and source independent?"
    * asked properly: V = sqrt(χ²/(N·min(r−1, c−1))) ∈ [0,1], the
    * effect size a contingency report needs NEXT to the test statistic
    * (χ² alone grows with N; V doesn't).
    *
    * One (a, b)-keyed aggregate (r·c bounded), margins from two
    * rollups, expected counts e = (rowTot·colTot)/N as one division
    * per cell, χ² terms d6-rounded before the order-free decimal sum,
    * sqrt at the contract. Output ONE row: (n_rows, n_a, n_b, chi2,
    * dof, cramers_v).
    */
  def cramersV(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    // the FULL r×c grid, not just observed cells: an empty cell still
    // contributes (0 − e)²/e — dropping it understates χ² (a perfect
    // 2×2 association would read V ≈ 0.71 instead of 1)
    val observed = df.groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_o"))
    val cells = contingencyMargins(observed.select(col("_a")).distinct()
      .crossJoin(broadcast(observed.select(col("_b")).distinct()))
      .join(observed, Seq("_a", "_b"), "left")
      .withColumn("_o", coalesce(col("_o"), lit(0L))), "_n")
    val e = col("_ra").cast("double") * col("_cb").cast("double") /
      col("_n").cast("double")
    val term = (col("_o").cast("double") - e) *
      (col("_o").cast("double") - e) / e
    cells
      .withColumn("_t6", term.cast("decimal(28,6)"))
      .agg(max(col("_n")).as("n_rows"),
        countDistinct(col("_a")).as("n_a"),
        countDistinct(col("_b")).as("n_b"),
        sum(col("_t6")).as("_chi"))
      .select(col("n_rows"), col("n_a"), col("n_b"),
        d6(col("_chi").cast("double")).as("chi2"),
        ((col("n_a") - 1L) * (col("n_b") - 1L)).as("dof"),
        d6(sqrt(col("_chi").cast("double") /
          (col("n_rows").cast("double") *
            least(col("n_a") - 1L, col("n_b") - 1L).cast("double"))))
          .as("cramers_v"))
  }

  /** McNemar's test statistic for PAIRED binary outcomes (1947) — did
    * the new model change the SAME items' verdicts, beyond symmetric
    * noise? Only the discordant cells matter: with b = (old right,
    * new wrong) and c = (old wrong, new right),
    *
    *   χ² = (b − c)² / (b + c)
    *
    * Exact integers until the single division (d6); b + c = 0 (no
    * disagreements at all) reports 0.0 — nothing to test. Output ONE
    * row: (n_pairs, n_10, n_01, chi2).
    */
  def mcnemar(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    df.agg(count(lit(1)).as("n_pairs"),
        sum(when(a && !b, 1L).otherwise(0L)).as("n_10"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n_01"))
      .select(col("n_pairs"), col("n_10"), col("n_01"),
        when(col("n_10") + col("n_01") === 0L, lit(0.0))
          .otherwise(d6(
            ((col("n_10") - col("n_01")) * (col("n_10") - col("n_01")))
              .cast("double") /
              (col("n_10") + col("n_01")).cast("double"))).as("chi2"))
  }

  /** Sharded total-order machinery (SCALING.md class 6) — the exact
    * global (key, tie) rank WITHOUT a single-partition window: keys
    * shard by an exact monotone integral range map (`div` on
    * decimal(38,0) — no floating rounding anywhere near a shard
    * boundary), each shard ranks locally under its own
    * `row_number()`, and a ≤(shards+1)-row broadcast offset table
    * lifts local ranks to global ranks. Optionally the same pass
    * carries an exact decimal cumulative sum of `cumCol` in rank
    * order (per-shard running sum + broadcast shard-prefix totals —
    * decimal addition is exact, so the regrouping changes nothing).
    * This is [[liftTable]]'s/conformalGate's prefix pattern factored
    * once, so the class-6 rewrite lands in one place (VERDICT r16 #6).
    *
    * Contract: input carries `_sk` (long sort key; NULLs allowed and
    * placed exactly where the engines' windows put them — first
    * ascending, last descending — via dedicated end shards) and `_tb`
    * (tie-break, any orderable type; (key, tie) must be unique for
    * ranks to be reproducible). Every other column passes through.
    * Output adds `_grk` (1-based long global rank), `_n` (total row
    * count) and — when `cumCol` is set — `_gcum` (inclusive
    * decimal(38,0) cumulative of `cumCol` in rank order). `_grk` is
    * EXACTLY the one-window `row_number()` over (_sk, _tb) — the
    * sharded-equals-global law is pinned in StatsSpec — so consumers'
    * oracles keep replaying a plain SQL window verbatim.
    *
    * Optionally the total order runs PER GROUP (`groupCols`): bounds,
    * shard maps and offsets are then all keyed by the group, the rank
    * window partitions on (group, shard), and `_grk`/`_n`/`_gcum` are
    * the group's own rank/count/cumulative — exactly the one-window-
    * per-group `row_number().over(partitionBy(group).orderBy(_sk,
    * _tb))`. The offsets broadcast is groups×shards rows, so the
    * grouped form is for the class-6 FEW-GROUP hazard (a handful of
    * groups over a unit corpus — SCALING.md); corpus-cardinality
    * groups should keep the plain group-partitioned window, which
    * already distributes. Group matching is null-safe (`<=>`), so a
    * NULL group ranks as its own group exactly as a window partition
    * would.
    *
    * `shards` is a CEILING, not the shard count: the effective count
    * dials IN-PLAN from the bounds row as ⌈n / rowsPerShard⌉ clamped
    * to [2, shards] (VERDICT r17 #3 — 64 micro-shards on a report-
    * sized frame is pure fixed overhead), and ranks are exact for ANY
    * shard count because the range map is monotone whatever the
    * divisor (the shard-count-invariant law in StatsSpec).
    *
    * Determinism contract (ADVICE r17): bounds, local ranks and
    * offsets derive from SEPARATE scans of the same input plan, so
    * the input must be deterministic under re-evaluation (the repo's
    * standing discipline — seeded hashes, no unseeded rand);
    * materialize upstream first if it is not (rfmSegments'
    * localCheckpoint pattern).
    *
    * Scale shape: one bounds/count aggregate ((groups)-row broadcast),
    * ONE shard-partitioned sort of the corpus, one ≤groups×shards-row
    * offsets frame (broadcast). Max-task work is corpus/shards at any
    * scale; a constant-key input collapses to one shard (data
    * degeneracy — a constant key carries no order to distribute; ties
    * still break deterministically on `_tb`).
    */
  private[pipeline] def shardedTotalOrder(
      rows: DataFrame,
      desc: Boolean = false,
      cumCol: Option[String] = None,
      shards: Int = 64,
      groupCols: Seq[String] = Nil,
      rowsPerShard: Long = 65536L): DataFrame = {
    require(shards >= 2 && shards <= 4096,
      s"shards in [2,4096], got $shards")
    require(rowsPerShard >= 1L, s"rowsPerShard >= 1, got $rowsPerShard")
    val W = org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val boundsAggs = Seq(min(col("_sk")).as("_lo"),
      max(col("_sk")).as("_hi"), count(lit(1)).as("_n"))
    // per-(group) bounds; the join back is null-safe on the group so a
    // NULL group behaves exactly like a window partition value
    val bounds =
      if (groupCols.isEmpty) rows.agg(boundsAggs.head, boundsAggs.tail: _*)
      else rows.groupBy(g: _*).agg(boundsAggs.head, boundsAggs.tail: _*)
        .select((groupCols.map(c => col(c).as(s"_bg_$c")) ++
          Seq(col("_lo"), col("_hi"), col("_n"))): _*)
    val withBounds =
      if (groupCols.isEmpty) rows.crossJoin(broadcast(bounds))
      else rows.join(broadcast(bounds),
          groupCols.map(c => col(c) <=> col(s"_bg_$c")).reduce(_ && _))
        .drop(groupCols.map(c => s"_bg_$c"): _*)
    // exact integral shard map, monotone in the sort direction; NULL
    // keys take the end shard matching the engines' window placement
    // (nulls first ascending, last descending). _nsh is the dialed
    // shard count — in-plan integer arithmetic off the bounds count.
    val spanned = withBounds
      .withColumn("_nsh", greatest(lit(2L), least(lit(shards.toLong),
        expr(s"(_n + ${rowsPerShard - 1L}L) div ${rowsPerShard}L"))))
      .withColumn("_skn",
        if (desc) dec(col("_hi")) - dec(col("_sk"))
        else dec(col("_sk")) - dec(col("_lo")))
      .withColumn("_skd", dec(col("_hi")) - dec(col("_lo")) + lit(1L))
      .withColumn("_shard",
        when(col("_sk").isNull,
          if (desc) col("_nsh") else lit(-1L))
          .otherwise(
            expr("CAST((_skn * _nsh) div _skd AS BIGINT)")))
      .drop("_lo", "_hi", "_nsh", "_skn", "_skd")
    val ord =
      if (desc) Seq(col("_sk").desc, col("_tb").asc)
      else Seq(col("_sk").asc, col("_tb").asc)
    val shardKeys = g :+ col("_shard")
    val wLoc = W.partitionBy(shardKeys: _*).orderBy(ord: _*)
    val local = cumCol match {
      case Some(c) => spanned
        .withColumn("_lrk", row_number().over(wLoc).cast("long"))
        .withColumn("_lcum", sum(dec(col(c))).over(
          wLoc.rowsBetween(W.unboundedPreceding, W.currentRow)))
      case None => spanned
        .withColumn("_lrk", row_number().over(wLoc).cast("long"))
    }
    val offAgg = cumCol match {
      case Some(c) => spanned.groupBy(shardKeys: _*)
        .agg(count(lit(1)).as("_sc"), sum(dec(col(c))).as("_sv"))
      case None => spanned.groupBy(shardKeys: _*)
        .agg(count(lit(1)).as("_sc"))
    }
    // ≤(shards+1)-row frame per group: its own cumulative window is
    // bounded by the shard-count code literal, not the corpus
    val wOff0 =
      if (groupCols.isEmpty) W.orderBy(col("_shard").asc)
      else W.partitionBy(g: _*).orderBy(col("_shard").asc)
    val wOff = wOff0.rowsBetween(W.unboundedPreceding, W.currentRow)
    val offKeep = groupCols.map(c => col(c).as(s"_og_$c")) :+
      col("_shard")
    val offsets = (cumCol match {
      case Some(_) => offAgg.select(offKeep ++ Seq(
        (sum(col("_sc")).over(wOff) - col("_sc")).as("_rkoff"),
        (sum(col("_sv")).over(wOff) - col("_sv")).as("_cumoff")): _*)
      case None => offAgg.select(offKeep :+
        (sum(col("_sc")).over(wOff) - col("_sc")).as("_rkoff"): _*)
    })
    val joinCond = (groupCols.map(c => local(c) <=> offsets(s"_og_$c")) :+
      (local("_shard") === offsets("_shard"))).reduce(_ && _)
    val joined = local.join(broadcast(offsets), joinCond)
      .drop(offsets("_shard"))
      .drop(groupCols.map(c => s"_og_$c"): _*)
      .withColumn("_grk", col("_rkoff") + col("_lrk"))
    (cumCol match {
      case Some(_) => joined
        .withColumn("_gcum", col("_cumoff") + col("_lcum"))
        .drop("_lcum", "_cumoff")
      case None => joined
    }).drop("_shard", "_lrk", "_rkoff")
  }

  /** Decile lift / gains table — the model-eval report every scored
    * targeting pipeline prints: rank rows by score descending, split
    * into `nBuckets` equal-count bands, and per band report the
    * positive rate, the CUMULATIVE capture of all positives, and the
    * cumulative lift over the base rate. "The top decile captures 43%
    * of positives at 3.1× base" is this table's first row.
    *
    * Ranks come from the sharded (score desc, id asc) prefix pattern
    * (conformalGate's — per-shard windows + broadcast offsets, NO
    * global window); band = rank·B div n is exact integer arithmetic,
    * so band edges are engine-independent. Cumulatives run over the
    * B-row band table; rates/lift/capture are d6 at the contract.
    * Ties split across band edges by the deterministic id order — the
    * documented equal-COUNT (not equal-score) contract.
    *
    * Output per band (1-based, band 1 = highest scores): (band, n,
    * n_pos, rate, cum_capture, cum_lift).
    */
  def liftTable(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets in [2,1000], got $nBuckets")
    val W = org.apache.spark.sql.expressions.Window
    val shards = 64
    val scored = df.select(col(idCol).as("_lid"),
      col(scoreCol).cast("double").as("_s"),
      col(labelCol).cast("long").as("_y"))
    val bounds = scored.agg(min(col("_s")).as("_lo"),
      max(col("_s")).as("_hi"))
    // shard monotone in DESCENDING score so (shard asc, local rank)
    // is the global (score desc, id asc) order
    val sharded = scored.crossJoin(broadcast(bounds))
      .withColumn("_shard", least(lit(shards - 1L),
        floor((col("_hi") - col("_s")) * shards /
          (col("_hi") - col("_lo") + 1d)).cast("long")))
      .drop("_lo", "_hi")
    val localRank = row_number().over(
      W.partitionBy(col("_shard"))
        .orderBy(col("_s").desc, col("_lid").asc)).cast("long") - 1L
    val offsets = sharded.groupBy(col("_shard"))
      .agg(count(lit(1)).as("_n"))
      .select(col("_shard"),
        (sum(col("_n")).over(W.orderBy(col("_shard"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)) - col("_n"))
          .as("_offset"))
    val n = scored.agg(count(lit(1)).as("_tot"),
      sum(col("_y")).as("_pos"))
    val banded = sharded.withColumn("_lr", localRank)
      .join(broadcast(offsets), Seq("_shard"))
      .crossJoin(broadcast(n))
      .withColumn("band",
        expr(s"((_offset + _lr) * $nBuckets) div _tot") + 1L)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"),
        first(col("_tot")).as("_tot"), first(col("_pos")).as("_pos"))
    val wOrd = W.partitionBy(lit(1)).orderBy(col("band").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cumPos = sum(col("n_pos")).over(wOrd)
    val cumN = sum(col("n")).over(wOrd)
    banded.select(col("band"), col("n"), col("n_pos"),
      d6(col("n_pos").cast("double") / col("n").cast("double")).as("rate"),
      when(col("_pos") === 0L, lit(0.0))
        .otherwise(d6(cumPos.cast("double") / col("_pos").cast("double")))
        .as("cum_capture"),
      when(col("_pos") === 0L, lit(0.0))
        .otherwise(d6((cumPos.cast("double") / cumN.cast("double")) /
          (col("_pos").cast("double") / col("_tot").cast("double"))))
        .as("cum_lift"))
  }

  /** The distinct-duration table of a survival estimator: one row per
    * `duration` with its `_n` rows, `n_events`, `n_censored` and
    * `n_risk`. At-risk = everyone with duration ≥ t, a reverse
    * cumulative window over the distinct-duration table (discrete-scale
    * bounded by contract).
    */
  private def durationRisk(df: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    df.groupBy(col(durationCol).cast("long").as("duration"))
      .agg(count(lit(1)).as("_n"),
        sum(col(eventCol).cast("long")).as("n_events"))
      .withColumn("n_censored", col("_n") - col("n_events"))
      .withColumn("n_risk", sum(col("_n")).over(
        W.partitionBy(lit(1)).orderBy(col("duration").asc)
          .rowsBetween(W.currentRow, W.unboundedFollowing)))
  }

  /** Kaplan–Meier product-limit survival curve (1958) — the churn /
    * retention-duration estimator with right-censoring done correctly
    * (naive "fraction still here at t" over-counts users who simply
    * haven't had time to churn):
    *
    *   S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)
    *
    * over the DISTINCT event times, dᵢ = events at tᵢ, nᵢ = at-risk
    * (duration ≥ tᵢ, censored or not). The product runs in the log
    * domain with d6-rounded terms BEFORE the cumulative sum (the
    * order-free decimal discipline), exp at the contract, so the
    * curve replays exactly cross-engine.
    *
    * Contract: durations on a DISCRETE scale (days, not micros — the
    * curve table and its cumulative window are sized by the distinct
    * duration count; bucket first, as every survival report does).
    * Censored rows (eventCol = 0) enter the risk set, never the event
    * count; S stays 1.0 through censored-only times.
    *
    * Output per distinct duration: (duration, n_risk, n_events,
    * n_censored, survival).
    */
  def kaplanMeier(
      df: DataFrame,
      durationCol: String,
      eventCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val withRisk = durationRisk(df, durationCol, eventCol)
    // a time where EVERYONE at risk churns sends S to exactly 0 — the
    // log domain can't carry that (ln 0); such rows contribute a NULL
    // term (skipped by the sum) and a zero flag that pins S(t) = 0
    // from there on
    val term = when(col("n_events") === 0L, lit(0.0).cast("decimal(28,6)"))
      .when(col("n_events") === col("n_risk"),
        lit(null).cast("decimal(28,6)"))
      .otherwise(log(lit(1.0) -
        col("n_events").cast("double") / col("n_risk").cast("double"))
        .cast("decimal(28,6)"))
    val upTo = W.partitionBy(lit(1)).orderBy(col("duration").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    withRisk
      .withColumn("_lt", term)
      .withColumn("_z",
        when(col("n_events") === col("n_risk"), 1L).otherwise(0L))
      .withColumn("survival",
        when(sum(col("_z")).over(upTo) > 0L, lit(0.0))
          .otherwise(d6(exp(
            coalesce(sum(col("_lt")).over(upTo),
              lit(0).cast("decimal(28,6)")).cast("double")))))
      .select(col("duration"), col("n_risk"), col("n_events"),
        col("n_censored"), col("survival"))
  }

  /** Nelson–Aalen cumulative-hazard estimator — [[kaplanMeier]]'s
    * sibling on the HAZARD scale: H(t) = Σ_{s ≤ t} d_s/n_s over the
    * same (duration, event) frame. Where KM answers "what fraction
    * survives to t", the cumulative hazard reads as accumulated churn
    * PRESSURE — its slope is the hazard rate, and plotting Ĥ against
    * parametric forms (linear ⇒ constant rate, convex ⇒ aging) is the
    * standard model-choice diagnostic KM's product form hides. Also
    * the numerically-preferred estimator under heavy ties.
    *
    * MORE portable than KM: no log/exp anywhere — each increment
    * d_s/n_s is ONE d6 division, the running sum is an order-fixed
    * decimal cumulative window, and the reported hazard closes with
    * one d6. Same discrete-duration contract (the window runs over the
    * distinct-duration table, bounded by the time scale, not the
    * corpus).
    */
  def nelsonAalen(
      df: DataFrame,
      durationCol: String,
      eventCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val upTo = W.partitionBy(lit(1)).orderBy(col("duration").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val term = (col("n_events").cast("double") /
      col("n_risk").cast("double")).cast("decimal(28,6)")
    durationRisk(df, durationCol, eventCol)
      .withColumn("cum_hazard", d6(sum(term).over(upTo).cast("double")))
      .select(col("duration"), col("n_risk"), col("n_events"),
        col("n_censored"), col("cum_hazard"))
  }

  /** Sample-ratio-mismatch check (the first thing an experimentation
    * platform validates before reading ANY metric): Pearson χ² of the
    * observed arm counts against the design ratios. The statistic is
    * exact-rational arithmetic — (o·R − r·N)² / (e·R²) terms with
    * integer numerators where R = Σ ratios as scaled integers — here
    * computed as the standard double chain with d6-rounded terms
    * before the order-free decimal sum. The caller compares against
    * the χ²(k−1) critical value (3.84 at α=.05 for two arms — a
    * CONSTANT, so no CDF in the plan).
    *
    * Output per arm: (armCol, n_obs, expected, chi2_term, chi2, dof).
    */
  def srmCheck(
      df: DataFrame,
      armCol: String,
      designShares: Map[String, Double]): DataFrame = {
    require(designShares.nonEmpty, "designShares must be non-empty")
    require(math.abs(designShares.values.sum - 1.0) < 1e-9,
      s"designShares must sum to 1, got ${designShares.values.sum}")
    val spark = df.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val shares = designShares.toSeq.toDF("_arm", "_share")
    val counts = df.groupBy(col(armCol).cast("string").as("_arm"))
      .agg(count(lit(1)).as("n_obs"))
      .join(shares, Seq("_arm"), "full_outer")
      .select(col("_arm"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        coalesce(col("_share"),
          raise_error(concat(lit("srmCheck: arm "), col("_arm"),
            lit(" not in the design"))).cast("double")).as("_share"))
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val expected = col("_share") * sum(col("n_obs")).over(wAll).cast("double")
    val term = d6((col("n_obs").cast("double") - expected) *
      (col("n_obs").cast("double") - expected) / expected)
    counts
      .withColumn("expected", d6(expected))
      .withColumn("chi2_term", term)
      .withColumn("chi2", d6(sum(col("chi2_term").cast("decimal(28,6)"))
        .over(wAll).cast("double")))
      .withColumn("dof", (count(lit(1)).over(wAll) - 1L).cast("long"))
      .select(col("_arm").as(armCol), col("n_obs"), col("expected"),
        col("chi2_term"), col("chi2"), col("dof"))
  }

  /** CUPED variance reduction (Deng et al. 2013, the industry-standard
    * experiment-sensitivity fix): adjust each unit's experiment-period
    * metric by its PRE-period covariate, Y' = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) — same mean, variance shrunk by the squared
    * correlation, so the same experiment detects effects ~1/(1−ρ²)
    * sooner. Reports per arm the raw and adjusted means plus the
    * variance-reduction share.
    *
    * Moments come from ONE aggregate of exact decimal sums (ΣX, ΣY,
    * ΣX², ΣXY, ΣY² as decimal(38,6) over d6-rounded inputs — the dsum
    * discipline, so cov/var are order-free); θ is pooled across arms
    * (the published estimator — computing it per arm would bias the
    * adjustment), derived in one fixed expression order, d6 at every
    * output. Degenerate var(X) = 0 fails loudly (no covariate signal —
    * CUPED is the wrong tool).
    *
    * Output per arm: (armCol, n_units, mean_raw, mean_adj, theta,
    * var_reduction).
    */
  def cuped(
      df: DataFrame,
      armCol: String,
      preCol: String,
      postCol: String): DataFrame = {
    val x6 = col(preCol).cast("decimal(28,6)")
    val y6 = col(postCol).cast("decimal(28,6)")
    val pooled = df.agg(
      count(lit(1)).as("_n"),
      sum(x6).as("_sx"), sum(y6).as("_sy"),
      sum((x6 * x6).cast("decimal(38,6)")).as("_sxx"),
      sum((x6 * y6).cast("decimal(38,6)")).as("_sxy"))
    val nD = col("_n").cast("double")
    val varX = col("_sxx").cast("double") / nD -
      (col("_sx").cast("double") / nD) * (col("_sx").cast("double") / nD)
    val covXY = col("_sxy").cast("double") / nD -
      (col("_sx").cast("double") / nD) * (col("_sy").cast("double") / nD)
    val thetaRaw = when(varX <= 0.0,
        raise_error(lit("cuped: var(pre) = 0 — no covariate signal"))
          .cast("double"))
      .otherwise(covXY / varX)
    val params = pooled.select(
      d6(thetaRaw).as("theta"),
      d6(col("_sx").cast("double") / nD).as("_xbar"),
      d6(varX).as("_varx"), d6(covXY).as("_covxy"))
    val perArm = df.groupBy(col(armCol))
      .agg(count(lit(1)).as("n_units"),
        sum(x6).as("_ax"), sum(y6).as("_ay"),
        sum((y6 * y6).cast("decimal(38,6)")).as("_ayy"),
        sum((x6 * y6).cast("decimal(38,6)")).as("_axy"),
        sum((x6 * x6).cast("decimal(38,6)")).as("_axx"))
      .crossJoin(broadcast(params))
    val an = col("n_units").cast("double")
    val meanY = col("_ay").cast("double") / an
    val meanX = col("_ax").cast("double") / an
    // per-arm var(Y) and var(Y') from the same moment set: var(Y') =
    // var(Y) − 2θcov + θ²var(X), all per-arm centered
    val aVarY = col("_ayy").cast("double") / an - meanY * meanY
    val aVarX = col("_axx").cast("double") / an - meanX * meanX
    val aCov = col("_axy").cast("double") / an - meanX * meanY
    val adjVar = aVarY - lit(2.0) * col("theta") * aCov +
      col("theta") * col("theta") * aVarX
    perArm.select(col(armCol), col("n_units"),
      d6(meanY).as("mean_raw"),
      d6(meanY - col("theta") * (meanX - col("_xbar"))).as("mean_adj"),
      col("theta"),
      when(aVarY <= 0.0, lit(0.0))
        .otherwise(d6(lit(1.0) - adjVar / aVarY)).as("var_reduction"))
  }

  /** Difference-in-differences (the canonical 2×2): treatment effect =
    * (treated_post − treated_pre) − (control_post − control_pre) from
    * four exact-decimal-summed cell means, one aggregate, d6 at the
    * contract. The causal-reading caveat (parallel trends) is the
    * caller's; the arithmetic is this.
    *
    * Output ONE row: (n_rows, mean_t_pre, mean_t_post, mean_c_pre,
    * mean_c_post, did).
    */
  def diffInDiff(
      df: DataFrame,
      treatedCol: String,
      postCol: String,
      valueCol: String): DataFrame = {
    val v6 = col(valueCol).cast("decimal(28,6)")
    val t = col(treatedCol).cast("boolean")
    val p = col(postCol).cast("boolean")
    def cell(ct: Boolean, cp: Boolean, nm: String) = Seq(
      sum(when(t === ct && p === cp, v6)).as(s"_s$nm"),
      sum(when(t === ct && p === cp, 1L).otherwise(0L)).as(s"_n$nm"))
    val cells = cell(true, false, "tp") ++ cell(true, true, "tq") ++
      cell(false, false, "cp") ++ cell(false, true, "cq")
    val agg = df.agg(count(lit(1)).as("n_rows"), cells: _*)
    def mean(nm: String) =
      col(s"_s$nm").cast("double") / col(s"_n$nm").cast("double")
    agg.select(col("n_rows"),
      d6(mean("tp")).as("mean_t_pre"), d6(mean("tq")).as("mean_t_post"),
      d6(mean("cp")).as("mean_c_pre"), d6(mean("cq")).as("mean_c_post"),
      d6((mean("tq") - mean("tp")) - (mean("cq") - mean("cp"))).as("did"))
  }

  /** Split-conformal prediction gate (Vovk et al.; the Angelopoulos &
    * Bates 2021 tutorial form) — the DISTRIBUTION-FREE way to turn any
    * model score into a calibrated accept/flag decision: from a held-out
    * calibration set of nonconformity scores s₁..s_n, the threshold is
    * the ⌈(n+1)(1−α)⌉-th smallest score; a test row whose score is ≤
    * that threshold is covered with probability ≥ 1−α under
    * exchangeability, NO model assumptions. The production use: gate a
    * classifier's outputs so at most ~α of in-distribution traffic gets
    * flagged for review.
    *
    * The order statistic comes from [[graft.pipeline.Sampling
    * .packContiguous]] unit-size ranks — sharded prefix sums, NO global
    * window over the calibration frame (the naive percentile would drag
    * every score through one WindowExec partition); the k-th row is one
    * filter + 1-row broadcast. Ties: the k-th smallest under the total
    * (score, idCol) order — idCol makes rank assignment deterministic,
    * and the threshold COMPARISON uses the score value alone, so tied
    * scores gate identically. k = ⌈(n+1)(1−α)⌉ is one IEEE
    * double product + ceil, identical cross-engine; n < k (tiny
    * calibration sets at strict α) clamps to n and is reported.
    *
    * Output: test rows as (idCol, scoreCol, qhat, is_covered) plus the
    * calibration metadata columns (n_cal, k_rank) on every row — the
    * audit trail a gate decision needs.
    */
  def conformalGate(
      cal: DataFrame,
      test: DataFrame,
      idCol: String,
      scoreCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val W = org.apache.spark.sql.expressions.Window
    val shards = 64
    // sharded (score, id) rank — packContiguous's discipline with the
    // ORDER key being the score: shard boundaries are monotone in
    // score (ties stay inside one shard), local windows rank
    // (score, id), per-shard counts broadcast back as offsets — no
    // global window over the calibration frame
    val scored = cal.select(col(idCol).as("_cid"),
      col(scoreCol).cast("double").as("_s"))
    val bounds = scored.agg(min(col("_s")).as("_lo"), max(col("_s")).as("_hi"))
    val sharded = scored.crossJoin(broadcast(bounds))
      .withColumn("_shard", least(lit(shards - 1L),
        floor((col("_s") - col("_lo")) * shards /
          (col("_hi") - col("_lo") + 1d)).cast("long")))
      .drop("_lo", "_hi")
    val localRank = row_number().over(
      W.partitionBy(col("_shard")).orderBy(col("_s").asc, col("_cid").asc))
      .cast("long") - 1L
    val offsets = sharded.groupBy(col("_shard"))
      .agg(count(lit(1)).as("_n"))
      .select(col("_shard"),
        (sum(col("_n")).over(W.orderBy(col("_shard"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)) - col("_n"))
          .as("_offset"))
    val ranked = sharded.withColumn("_lr", localRank)
      .join(broadcast(offsets), Seq("_shard"))
      .select(col("_s"), (col("_offset") + col("_lr")).as("_rank"))
    val n = cal.agg(count(lit(1)).as("n_cal"),
      ceil((count(lit(1)) + lit(1L)).cast("double") * lit(1.0 - alpha))
        .cast("long").as("_k0"))
      .select(col("n_cal"), least(col("_k0"), col("n_cal")).as("k_rank"))
    val qhat = ranked
      .join(broadcast(n), expr("_rank = k_rank - 1"))
      .select(col("_s").as("qhat"), col("n_cal"), col("k_rank"))
    test.select(col(idCol), col(scoreCol))
      .crossJoin(broadcast(qhat))
      .withColumn("is_covered",
        (col(scoreCol).cast("double") <= col("qhat")).cast("int"))
  }

  /** Isotonic calibration via pool-adjacent-violators (Ayer et al.
    * 1955; the sklearn `IsotonicRegression` recipe) — fit a MONOTONE
    * score→rate mapping: bucket the scores into `nBuckets` equal-width
    * bins, then repeatedly merge adjacent pools whose empirical
    * positive rates violate monotonicity, always the LEFTMOST
    * violation first (a deterministic merge policy — classic PAV is
    * order-free in its fixpoint, but the replay contract needs one
    * canonical trajectory).
    *
    * EXACT until the output contract: pool rates are integer ratios
    * (Σ label / Σ count) and every violation test cross-multiplies —
    * s_i·n_{i+1} > s_{i+1}·n_i — so the fit involves NO floating point
    * at all; the fitted rate d6-rounds only in the emitted table. The
    * PAV loop runs driver-side over the B-row bucket table (bounded
    * collect — the Lloyd/bradleyTerry class-5 contract; B ≤ 1000
    * enforced), ≤ B−1 merges.
    *
    * Output one row per ORIGINAL bucket: (bucket, n, n_pos, raw_rate,
    * fitted_rate) — `fitted_rate` is its pool's pooled rate, monotone
    * non-decreasing in bucket; apply with a broadcast join on the
    * caller's bucketed scores. Empty buckets simply don't exist in the
    * table (the group-by only sees occupied bins); a constant score
    * column collapses to bin 1.
    */
  def isotonicCalibrate(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets must be in [2,1000], got $nBuckets")
    val spark = df.sparkSession
    import spark.implicits._
    val s = col(scoreCol).cast("double")
    val b = df.agg(min(s).as("_lo"), max(s).as("_hi"))
    val bucket = when(col("_hi") === col("_lo"), lit(1L))
      .otherwise(least(lit(nBuckets.toLong), greatest(lit(1L),
        (floor((s - col("_lo")) * nBuckets / (col("_hi") - col("_lo"))) + 1L)
          .cast("long"))))
    val table = df.crossJoin(broadcast(b))
      .select(bucket.as("bucket"), col(labelCol).cast("long").as("_y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_pos"))
    // PAV over the bounded bucket table: pools as (loBucket, hiBucket,
    // sumPos, count), leftmost violation merged each step, all-integer
    // comparisons
    case class Pool(lo: Long, hi: Long, sp: Long, n: Long)
    var pools = table.orderBy(col("bucket").asc)
      .collect()
      .map(r => Pool(r.getLong(0), r.getLong(0), r.getLong(2), r.getLong(1)))
      .toVector
    var merged = true
    while (merged) {
      val i = pools.indices.dropRight(1).find(i =>
        pools(i).sp * pools(i + 1).n > pools(i + 1).sp * pools(i).n)
      i match {
        case Some(j) =>
          val m = Pool(pools(j).lo, pools(j + 1).hi,
            pools(j).sp + pools(j + 1).sp, pools(j).n + pools(j + 1).n)
          pools = (pools.take(j) :+ m) ++ pools.drop(j + 2)
        case None => merged = false
      }
    }
    val fitted = pools.flatMap(p =>
      (p.lo to p.hi).map(bk => (bk, p.sp, p.n)))
      .toDF("bucket", "_psp", "_pn")
    table.join(broadcast(fitted), Seq("bucket"))
      .select(col("bucket"), col("n"), col("n_pos"),
        d6(col("n_pos").cast("double") / col("n").cast("double"))
          .as("raw_rate"),
        d6(col("_psp").cast("double") / col("_pn").cast("double"))
          .as("fitted_rate"))
  }

  /** Bradley–Terry strengths from pairwise outcomes (Bradley & Terry
    * 1952) via the classic MM update (Hunter 2004) — the arena-style
    * leaderboard fit: given win/loss games between items, the strength
    * vector p with
    *
    *   p_i ← w_i / Σ_j n_ij / (p_i + p_j),   then p ← p / Σ p
    *
    * run for `iters` rounds from the uniform start. REPLAYABLE-TRAINING
    * class (the q218 Lloyd / q225 gradient discipline): every
    * per-opponent term d6-rounds BEFORE the order-free decimal sum, the
    * update and the normalization each close with one d6 — so an
    * independent engine replays the trajectory bit-for-bit, and the
    * oracle checks the FIT, not just the report.
    *
    * Scale shape: games collapse once to the (i, j) pair-count table
    * (one corpus-sized exchange); each round is one item-keyed
    * aggregate over that pair table with the current p broadcast —
    * driver state is the ITEM-bounded p vector (class-5 bounded state,
    * Lloyd's contract), enforced LOUDLY at `maxItems` (default 10 000:
    * a leaderboard regime — the per-round collect is O(items), never
    * corpus-sized). Items with zero wins fit to 0 (their true MLE
    * limit); ties are not modeled — filter or split them upstream.
    *
    * Output per item: (item, n_wins, n_games, strength), strength from
    * the final normalized round.
    */
  def bradleyTerry(
      games: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 5,
      maxItems: Int = 10000): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(maxItems >= 2, s"maxItems must be >= 2, got $maxItems")
    val spark = games.sparkSession
    import spark.implicits._
    val pairs = games.select(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"))
      .groupBy(col("_w"), col("_l")).agg(count(lit(1)).as("_n"))
      .cache()
    val wins = pairs.groupBy(col("_w").as("_i")).agg(sum(col("_n")).as("_wi"))
    val losses = pairs.groupBy(col("_l").as("_i")).agg(sum(col("_n")).as("_li"))
    val items = wins.join(losses, Seq("_i"), "full_outer")
      .select(col("_i"),
        coalesce(col("_wi"), lit(0L)).as("n_wins"),
        (coalesce(col("_wi"), lit(0L)) + coalesce(col("_li"), lit(0L)))
          .as("n_games"))
    // undirected opponent edges with the pair's total game count
    val und = pairs.select(col("_w").as("_i"), col("_l").as("_j"), col("_n"))
      .unionByName(
        pairs.select(col("_l").as("_i"), col("_w").as("_j"), col("_n")))
      .groupBy(col("_i"), col("_j")).agg(sum(col("_n")).as("_nij"))
      .cache()
    val itemIds = items.select(col("_i")).as[String].collect()
    // the rakeWeights discipline: the per-round collect is legal ONLY
    // because the taxonomy is bounded — make the bound loud, not a
    // silent driver OOM at a corpus-sized item vocabulary
    require(itemIds.length <= maxItems,
      s"bradleyTerry: ${itemIds.length} items > maxItems $maxItems — " +
        "this MM fit collects the item vector per round; it is for " +
        "bounded leaderboards, not corpus-sized vocabularies")
    var p: Map[String, Double] = itemIds.map(_ -> 1.0).toMap
    for (_ <- 0 until iters) {
      val pDf = broadcast(p.toSeq.toDF("_i", "_pi"))
      val denTerms = und
        .join(pDf, Seq("_i"))
        .join(pDf.select(col("_i").as("_j"), col("_pi").as("_pj")),
          Seq("_j"))
        .withColumn("_t6", (col("_nij").cast("double") /
          (col("_pi") + col("_pj"))).cast("decimal(28,6)"))
        .groupBy(col("_i")).agg(sum(col("_t6")).cast("double").as("_den"))
      val raw = items.join(denTerms, Seq("_i"), "left")
        .select(col("_i"),
          when(col("n_wins") === 0L || col("_den").isNull, lit(0.0))
            .otherwise(d6(col("n_wins").cast("double") / col("_den")))
            .as("_pr"))
        .collect().map(r => r.getString(0) -> r.getDouble(1))
      // normalize to Σp = 1 with a d6-rounded total (order-free: the
      // total is a decimal sum of the already-d6 strengths)
      val tot = raw.map { case (_, v) => BigDecimal(v) }.sum.toDouble
      p = raw.map { case (k, v) =>
        k -> BigDecimal(v / tot).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      }.toMap
    }
    val finalP = broadcast(p.toSeq.toDF("_i", "strength"))
    items.join(finalP, Seq("_i"))
      .select(col("_i").as("item"), col("n_wins"), col("n_games"),
        col("strength"))
  }

  /** Two-sample Kolmogorov–Smirnov test on an integer-valued metric with
    * a 0/1 `armCol` — the distribution-shape companion to [[welchTTest]]
    * (means) and [[mannWhitneyU]] (stochastic dominance): D is the max
    * ECDF gap, so it catches variance/shape shifts a mean test misses
    * entirely (the classic A/B failure mode: a change that speeds up
    * half the users and slows down the other half).
    *
    * Determinism: D is computed as an EXACT integer maximum before any
    * division — per distinct value, the ECDF gap is
    * |cum0·n1 − cum1·n0| (all longs), and d_stat = max/(n0·n1) rounds
    * once (d6). The p-value is the asymptotic Kolmogorov series
    * (Numerical Recipes form: λ = (√ne + 0.12 + 0.11/√ne)·D,
    * Q = 2·Σ_{k=1..20} (−1)^{k−1} e^{−2k²λ²}) with each term d6-rounded
    * BEFORE the decimal sum, so both engines add identical values in
    * any order. λ < 0.3 clamps to p = 1 (Q(0.3) ≈ 0.99988; below it
    * the truncated series hasn't converged); at λ ≥ 0.3 the tail past
    * k=20 is < e^{−72} — far below d6.
    *
    * Scale shape: one value-keyed aggregate (map-side combined), then
    * the cumulative window over the DISTINCT-value frame — the same
    * value-grouped-runs discipline as [[mannWhitneyU]] (bounded by the
    * metric's cardinality, not the corpus). Empty arms, and an arm
    * that is not 0/1 (NULL included), fail loudly.
    */
  def ksTest(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val arm = flag01("ksTest", "arm flag", col(armCol), "int")
    val byVal = df
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(
        sum(when(arm === 0, 1L).otherwise(0L)).as("_c0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("_c1"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = byVal
      .select(sum(col("_c0")).over(w).as("_a0"),
        sum(col("_c1")).over(w).as("_a1"))
    val tot = byVal.agg(sum(col("_c0")).as("_n0"), sum(col("_c1")).as("_n1"))
    val agg = cum.crossJoin(broadcast(tot))
      .agg(
        max(abs(col("_a0") * col("_n1") - col("_a1") * col("_n0")))
          .as("_dnum"),
        max(col("_n0")).as("_n0"), max(col("_n1")).as("_n1"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val dStat = d6(col("_dnum").cast("double") / (n0 * n1))
    val guard = when(col("_n0") >= 1L && col("_n1") >= 1L, col("_n0"))
      .otherwise(raise_error(concat(
        lit("ksTest: both arms must be non-empty; got n_a="),
        col("_n0").cast("string"), lit(" n_b="),
        col("_n1").cast("string"))).cast("long"))
    val staged = agg.select(guard.as("n_a"), col("_n1").as("n_b"),
      col("_dnum").as("d_numerator"), dStat.as("d_stat"))
    val ne = col("n_a").cast("double") * col("n_b").cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val lam = d6((sqrt(ne) + 0.12 + lit(0.11) / sqrt(ne)) * col("d_stat"))
    val withLam = staged.withColumn("lambda", lam)
    // Σ (−1)^{k−1}·d6(e^{−2k²λ²}) as a decimal fold: term values are
    // identical across engines after d6, and decimal addition is
    // order-independent, so the 20-term sum is bit-exact.
    val series = (1 to 20).foldLeft(lit(BigDecimal(0)).cast("decimal(28,6)")) {
      case (acc, k) =>
        val sign = if (k % 2 == 1) 1.0 else -1.0
        acc + (lit(sign) * exp(lit(-2.0 * k * k) *
          col("lambda") * col("lambda"))).cast("decimal(28,6)")
    }
    // λ < 0.3 → p = 1 exactly: Q(0.3) ≈ 0.99988 ≈ 1 at d6 scale, and
    // the truncated alternating series needs ~λ⁻¹ terms to converge
    // there (at λ = 0 the 20-term partial sum is 0 — catastrophically
    // wrong without the clamp)
    withLam.select(col("n_a"), col("n_b"), col("d_numerator"),
      col("d_stat"), col("lambda"),
      when(col("lambda") < 0.3, lit(1.0))
        .otherwise(d6(least(lit(1.0), greatest(lit(0.0),
          lit(2.0) * series.cast("double"))))).as("p_value"))
  }

  /** Spearman rank correlation between two integer-valued per-row
    * metrics — the monotone-association readout (does quality score
    * track document length?) that is robust to any monotone
    * transformation of either metric, where Pearson is not.
    *
    * Tie handling is the standard average-rank convention, kept EXACT
    * by working in DOUBLED ranks: a value with `a` rows strictly below
    * it and multiplicity `m` has 2·rank = 2a + m + 1, an integer. All
    * five sufficient sums (Σx, Σy, Σxy, Σx², Σy² over doubled ranks)
    * accumulate as decimal(38,0) — exact integers in any summation
    * order at any corpus size (n·Σ(2r)² ≤ 4n⁴ needs > long past
    * n ≈ 40k) — and rho derives in one fixed expression order, d6.
    *
    * Scale shape: two value-keyed aggregates with cumulative windows
    * over their DISTINCT-value frames (the [[mannWhitneyU]]
    * value-grouped-runs discipline), two broadcast-size rank maps
    * joined back to the rows, ONE final aggregate. A constant column
    * (zero rank variance) fails loudly.
    */
  def spearmanRho(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    def rank2Map(c: String): DataFrame = {
      val byVal = df.groupBy(col(c).cast("long").as("_v"))
        .agg(count(lit(1)).as("_m"))
      byVal.select(col("_v"), doubledMidrank("_v", "_m").as("_r2"))
    }
    val rx = rank2Map(xCol).withColumnRenamed("_v", "_vx")
      .withColumnRenamed("_r2", "_rx2")
    val ry = rank2Map(yCol).withColumnRenamed("_v", "_vy")
      .withColumnRenamed("_r2", "_ry2")
    val rows = df
      .select(col(xCol).cast("long").as("_vx"),
        col(yCol).cast("long").as("_vy"))
      .join(rx, Seq("_vx")).join(ry, Seq("_vy"))
    def dsum(c: Column) = sum(c.cast("decimal(38,0)"))
    val agg = rows.agg(
      count(lit(1)).cast("decimal(38,0)").as("_n"),
      dsum(col("_rx2")).as("_sx"), dsum(col("_ry2")).as("_sy"),
      dsum(col("_rx2") * col("_ry2")).as("_sxy"),
      dsum(col("_rx2") * col("_rx2")).as("_sxx"),
      dsum(col("_ry2") * col("_ry2")).as("_syy"))
    val vx = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val vy = col("_n") * col("_syy") - col("_sy") * col("_sy")
    val cov = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val guard = when(vx > 0 && vy > 0, col("_n").cast("long"))
      .otherwise(raise_error(concat(
        lit("spearmanRho: a constant column has no rank variance "),
        lit("(rho undefined); n="), col("_n").cast("string"))).cast("long"))
    val rho = d6(cov.cast("double") /
      sqrt(vx.cast("double") * vy.cast("double")))
    val staged = agg.select(guard.as("n_rows"), rho.as("rho"))
    val n = col("n_rows").cast("double")
    val t = col("rho") * sqrt((n - 2.0) /
      greatest(lit(1e-12), lit(1.0) - col("rho") * col("rho")))
    staged.select(col("n_rows"), col("rho"),
      d6(t).as("t_stat"),
      (abs(t) >= 1.959964).cast("int").as("significant"))
  }

  /** Kendall rank correlation (τ-b, the tie-corrected form) between two
    * DISCRETIZED per-row metrics — the concordance companion to
    * [[spearmanRho]] with a direct probabilistic reading (P(concordant)
    * − P(discordant) among comparable pairs).
    *
    * Pair counting is reduced to the CONTINGENCY GRID: rows collapse to
    * (x, y) cells with multiplicities, and concordant/discordant counts
    * are Σ m·m' over cell pairs with both coordinates strictly ordered
    * — exact integers in decimal(38,0) (n² scale). The cell-pair join
    * is the one quadratic step, so the operator REQUIRES bounded
    * cardinality: a loud in-plan guard fails past `maxCells` distinct
    * cells (the [[Profile.tCloseness]] grid discipline — discretize
    * first, the intended use for corpus metrics). Ties use the exact
    * τ-b denominator from the x / y margins.
    *
    * Scale shape: one cell aggregate (map-side combined, corpus-sized
    * scan), then all remaining work on the ≤ maxCells² bounded frame.
    */
  def kendallTau(
      df: DataFrame,
      xCol: String,
      yCol: String,
      maxCells: Int = 4096): DataFrame = {
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    val cells = df.groupBy(col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"))
      .agg(count(lit(1)).as("_m"))
    val nCells = cells.agg(count(lit(1)).as("_nc"))
    val guarded = cells.crossJoin(broadcast(nCells))
      .withColumn("_m", when(col("_nc") <= maxCells, col("_m"))
        .otherwise(raise_error(concat(
          lit(s"kendallTau: > $maxCells distinct (x,y) cells ("),
          col("_nc").cast("string"),
          lit(") — discretize the metrics first"))).cast("long")))
      .drop("_nc")
    val a = guarded.select(col("_x").as("_xa"), col("_y").as("_ya"),
      col("_m").as("_ma"))
    val b = guarded.select(col("_x").as("_xb"), col("_y").as("_yb"),
      col("_m").as("_mb"))
    def dsum(c: Column) = coalesce(sum(c.cast("decimal(38,0)")),
      lit(BigDecimal(0)).cast("decimal(38,0)"))
    // strictly-ordered cell pairs, counted once (xa < xb); the join is
    // the documented bounded contract point (≤ maxCells² pair rows)
    val pairs = a.join(b, col("_xa") < col("_xb"))
      .agg(
        dsum(when(col("_ya") < col("_yb"), col("_ma") * col("_mb"))
          .otherwise(lit(0L))).as("_conc"),
        dsum(when(col("_ya") > col("_yb"), col("_ma") * col("_mb"))
          .otherwise(lit(0L))).as("_disc"))
    val xTies = guarded.groupBy(col("_x"))
      .agg(sum(col("_m")).as("_tx"))
      .agg(dsum(col("_tx") * (col("_tx") - 1L) / 2L).as("_n1"))
    val yTies = guarded.groupBy(col("_y"))
      .agg(sum(col("_m")).as("_ty"))
      .agg(dsum(col("_ty") * (col("_ty") - 1L) / 2L).as("_n2"))
    val nTot = guarded.agg(sum(col("_m")).as("_n"))
    val agg = pairs.crossJoin(broadcast(xTies))
      .crossJoin(broadcast(yTies)).crossJoin(broadcast(nTot))
    val n0 = (col("_n") * (col("_n") - 1L) / 2L).cast("decimal(38,0)")
    val den = (n0 - col("_n1")).cast("double") *
      (n0 - col("_n2")).cast("double")
    val guard2 = when(n0 > col("_n1") && n0 > col("_n2"),
        col("_n").cast("long"))
      .otherwise(raise_error(concat(
        lit("kendallTau: a constant column makes tau-b undefined; n="),
        col("_n").cast("string"))).cast("long"))
    agg.select(
      guard2.as("n_rows"),
      col("_conc").cast("long").as("n_concordant"),
      col("_disc").cast("long").as("n_discordant"),
      d6((col("_conc") - col("_disc")).cast("double") / sqrt(den))
        .as("tau_b"))
  }

  /** Theil–Sen robust trend: slope = median of all pairwise slopes
    * (y₂−y₁)/(x₂−x₁), intercept = median of (y − m·x) — the
    * outlier-proof alternative to least squares (breakdown point 29%
    * vs 0%): one corrupted day in a month of volume data moves OLS
    * arbitrarily, Theil–Sen not at all.
    *
    * Pair enumeration is O(n²), so the operator REQUIRES a bounded
    * series (`maxPoints`, loud in-plan guard — the [[kendallTau]]
    * bounded-frame discipline): it trends the AGGREGATED axis (daily
    * totals, period metrics), not raw rows — aggregate first, the
    * intended use. Slopes are exact-integer divisions (deterministic
    * bits); medians are `percentile(·, 0.5)` (the q154 convention,
    * DuckDB `median`-compatible), the median slope d6-rounds before
    * the residual pass so intercept inputs are engine-identical.
    *
    * Output one row: (n_points, n_pairs, slope, intercept).
    */
  def theilSen(
      df: DataFrame,
      xCol: String,
      yCol: String,
      maxPoints: Int = 2000): DataFrame = {
    require(maxPoints >= 2, s"maxPoints must be >= 2, got $maxPoints")
    val pts = df.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val nPts = pts.agg(count(lit(1)).as("_n"))
    val guarded = pts.crossJoin(broadcast(nPts))
      .withColumn("_x",
        when(col("_n").between(2, maxPoints), col("_x"))
          .otherwise(raise_error(concat(
            lit(s"theilSen: need 2..$maxPoints points, got "),
            col("_n").cast("string"))).cast("long")))
      .drop("_n")
    val b = guarded.select(col("_x").as("_x2"), col("_y").as("_y2"))
    val pairs = guarded.join(b, col("_x") < col("_x2"))
      .select(((col("_y2") - col("_y")).cast("double") /
        (col("_x2") - col("_x")).cast("double")).as("_slope"))
    val mSlope = pairs.agg(count(lit(1)).as("n_pairs"),
      d6(expr("percentile(_slope, 0.5)")).as("slope"))
    val resid = guarded.crossJoin(broadcast(mSlope))
      .select(col("n_pairs"), col("slope"),
        (col("_y").cast("double") - col("slope") * col("_x").cast("double"))
          .as("_r"))
    resid.groupBy(col("n_pairs"), col("slope"))
      .agg(count(lit(1)).as("n_points"),
        d6(expr("percentile(_r, 0.5)")).as("intercept"))
      .select(col("n_points"), col("n_pairs"), col("slope"),
        col("intercept"))
  }

  /** CUSUM change detection (Page 1954) over a period-keyed integer
    * metric — the sequential drift alarm that catches small persistent
    * shifts an outlier gate never sees. Baseline μ₀ is the mean of the
    * first `baselinePeriods` periods (phase-I estimate, in-plan);
    * allowance k and threshold h are permille OF μ₀.
    *
    * Everything is EXACT INTEGER arithmetic via common-denominator
    * scaling (denominator 1000·W·T-free): with T = Σ baseline values
    * and W = baselinePeriods, the scaled one-sided statistics are
    *
    *   S⁺*_n = C_n − min_{j≤n} C_j,  C_n = Σ_{i≤n} (1000·W·x_i − (1000+k‰)·T)
    *   S⁻*_n = max_{j≤n} D_j − D_n,  D_n = Σ_{i≤n} (1000·W·x_i − (1000−k‰)·T)
    *
    * (the prefix-sum/running-extremum closed form of the max(0, ·)
    * recursion), and the alarms compare S* against h‰·W·T — integers
    * end to end, so both engines agree bit-for-bit; only the reported
    * s_pos/s_neg (descaled d6) round. Cumulative windows run over the
    * PERIOD-grouped frame (bounded by period count).
    *
    * Output per period: (period, x, s_pos, s_neg, alarm_pos,
    * alarm_neg); baseline periods are included in the scan.
    */
  def cusum(
      df: DataFrame,
      periodCol: String,
      valueCol: String,
      baselinePeriods: Int = 7,
      kPermille: Int = 50,
      hPermille: Int = 500): DataFrame = {
    require(baselinePeriods >= 1, "baselinePeriods must be >= 1")
    require(kPermille >= 0 && kPermille < 1000,
      s"kPermille in [0, 1000), got $kPermille")
    require(hPermille > 0, s"hPermille must be positive, got $hPermille")
    val byP = df.groupBy(col(periodCol).cast("long").as("period"))
      .agg(sum(col(valueCol).cast("long")).as("x"))
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.orderBy(col("period"))
    val wCum = wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val ranked = byP.withColumn("_rn", row_number().over(wOrd))
    val base = ranked.filter(col("_rn") <= baselinePeriods)
      .agg(sum(col("x")).as("_t"), count(lit(1)).as("_w"))
    val guarded = ranked.crossJoin(broadcast(base))
      .withColumn("_t",
        when(col("_w") === baselinePeriods && col("_t") > 0L, col("_t"))
          .otherwise(raise_error(concat(
            lit(s"cusum: need >= $baselinePeriods periods with a "),
            lit("positive baseline sum; got w="),
            col("_w").cast("string"), lit(" t="),
            col("_t").cast("string"))).cast("long")))
    val scale = lit(1000L) * lit(baselinePeriods.toLong)
    val cPos = sum(scale * col("x") -
      lit(1000L + kPermille) * col("_t")).over(wCum)
    val dNeg = sum(scale * col("x") -
      lit(1000L - kPermille) * col("_t")).over(wCum)
    val staged = guarded.select(col("period"), col("x"), col("_t"),
      cPos.as("_c"), dNeg.as("_d"))
    val runMin = min(least(col("_c"), lit(0L))).over(wCum)
    val runMax = max(greatest(col("_d"), lit(0L))).over(wCum)
    val sPos = col("_c") - runMin
    val sNeg = runMax - col("_d")
    val hScaled = lit(hPermille.toLong) * col("_t")
    staged
      .select(col("period"), col("x"),
        d6(sPos.cast("double") / scale.cast("double")).as("s_pos"),
        d6(sNeg.cast("double") / scale.cast("double")).as("s_neg"),
        (sPos >= hScaled).cast("int").as("alarm_pos"),
        (sNeg >= hScaled).cast("int").as("alarm_neg"))
  }

  /** Krippendorff's alpha (nominal) — the inter-rater agreement
    * coefficient that, unlike [[cohensKappa]]/[[fleissKappa]],
    * tolerates MISSING ratings (every unit contributes whatever pairs
    * it has, weighted 1/(m_u−1)) — the realistic regime of a labeling
    * campaign where raters overlap only partially:
    *
    *   A_o = Σ_c o_cc / n,   A_e = Σ_c n_c(n_c−1) / (n(n−1)),
    *   α   = (A_o − A_e) / (1 − A_e)
    *
    * over the coincidence matrix o_ck = Σ_u n_uc·n_uk·[c≠k ∨ −1]/(m_u−1)
    * (diagonal: n_uc(n_uc−1)/(m_u−1)). Units with a single rating are
    * excluded (no pairable information), the standard treatment.
    *
    * Determinism: per-unit coincidence terms are rationals with
    * denominator (m_u−1) — each d6-rounds BEFORE the decimal sums
    * (order-free); n and the class margins stay exact integers; the
    * three closing divisions are d6. One (unit, value)-keyed aggregate
    * then value-keyed rollups — no pair explosion.
    */
  def krippendorffAlpha(
      df: DataFrame,
      unitCol: String,
      valueCol: String): DataFrame = {
    val byUV = df.groupBy(col(unitCol).as("_u"),
        col(valueCol).cast("string").as("_v"))
      .agg(count(lit(1)).as("_nuv"))
    val withM = byUV.withColumn("_mu",
      sum(col("_nuv")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("_u"))))
      .filter(col("_mu") >= 2L)
    // diagonal coincidence o_cc contribution: n_uc(n_uc-1)/(m_u-1), d6
    val diag6 = ((col("_nuv") * (col("_nuv") - 1L)).cast("double") /
      (col("_mu") - 1L).cast("double")).cast("decimal(28,6)")
    val agg = withM.agg(
      sum(col("_nuv")).as("_n"),
      sum(diag6).as("_occ6"))
    val margins = withM.groupBy(col("_v"))
      .agg(sum(col("_nuv")).as("_nc"))
      .agg(sum(col("_nc") * (col("_nc") - 1L)).as("_epairs"),
        count(lit(1)).as("_nclasses"))
    val j = agg.crossJoin(broadcast(margins))
    val n = col("_n").cast("double")
    val aO = d6(col("_occ6").cast("double") / n)
    val aE = d6(col("_epairs").cast("double") / (n * (n - lit(1.0))))
    val staged = j.select(col("_n").as("n_ratings"),
      col("_nclasses").as("n_classes"), aO.as("a_o"), aE.as("a_e"))
    val guard = when(col("a_e") < 1.0, col("n_ratings"))
      .otherwise(raise_error(lit(
        "krippendorffAlpha: single-class data makes alpha undefined "
          + "(A_e = 1)")).cast("long"))
    staged.select(guard.as("n_ratings"), col("n_classes"),
      col("a_o"), col("a_e"),
      d6((col("a_o") - col("a_e")) / (lit(1.0) - col("a_e")))
        .as("alpha"))
  }

  /** Class-balanced weights by effective number of samples (Cui et al.
    * 2019): weight ∝ (1−β)/(1−β^{n_c}) — the re-weighting that
    * saturates instead of exploding on rare classes (as n_c grows,
    * marginal samples overlap; β ≈ 1−1/N controls the saturation).
    * The training-mix answer to "upweight rare languages, but not by
    * the raw 1/n cliff".
    *
    * β^n computes as exp(n·ln β) — ONE fixed expression shape both
    * engines evaluate identically after d6; weights normalize to mean
    * 1 over classes (Σ w_c = C) with d6 at each of the three steps.
    * One label-keyed aggregate; everything after is classes-sized.
    */
  def classBalancedWeights(
      df: DataFrame,
      labelCol: String,
      beta: Double = 0.999): DataFrame = {
    require(beta > 0 && beta < 1, s"beta in (0,1), got $beta")
    val counts = df.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_rows"))
    val effN = d6((lit(1.0) - exp(col("n_rows").cast("double") *
      math.log(beta))) / (1.0 - beta))
    val raw = d6(lit(1.0) / effN)
    val staged = counts.select(col(labelCol), col("n_rows"),
      effN.as("eff_n"), raw.as("_w"))
    val tot = staged.agg(sum(col("_w").cast("decimal(28,6)")).as("_s"),
      count(lit(1)).as("_c"))
    staged.crossJoin(broadcast(tot))
      .select(col(labelCol), col("n_rows"), col("eff_n"),
        d6(col("_w") * col("_c").cast("double") /
          col("_s").cast("double")).as("weight"))
  }

  /** Hill tail-index estimator over a positive integer metric — the
    * standard heavy-tail diagnostic (Hill 1975): over the top k order
    * statistics x₍₁₎ ≥ … ≥ x₍ₖ₎ with threshold x₍ₖ₊₁₎,
    *
    *   γ̂ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₖ₊₁₎),   α̂ = 1/γ̂
    *
    * α̂ ≈ 1–2: extreme heavy tail (a few users/domains dominate —
    * budget caps and salting are mandatory); α̂ > 3: tails thin enough
    * that mean-based sizing works. Complements [[TextStats.zipfFit]]
    * (which fits the whole rank spectrum; Hill measures just the tail,
    * where the operational risk lives).
    *
    * Determinism: the top-(k+1) VALUE multiset is order-unique (sorted
    * by value alone), each log-ratio is d6-rounded before the decimal
    * sum, one division each for γ̂/α̂. Scale shape: ONE TakeOrdered
    * top-(k+1) (no global sort), then a (k+1)-row frame.
    */
  def hillTailIndex(
      df: DataFrame,
      valueCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val v = col(valueCol).cast("long")
    val top = df.filter(v > 0L).select(v.as("_x"))
      .orderBy(col("_x").desc).limit(k + 1)
    val nTop = top.agg(count(lit(1)).as("_nt"), min(col("_x")).as("_thr"))
    val guarded = top.crossJoin(broadcast(nTop))
      .withColumn("_thr",
        when(col("_nt") === (k + 1).toLong, col("_thr"))
          .otherwise(raise_error(concat(
            lit(s"hillTailIndex: need > $k positive values, got "),
            col("_nt").cast("string"))).cast("long")))
    val term6 = when(col("_x") > col("_thr"),
        log(col("_x").cast("double") / col("_thr").cast("double"))
          .cast("decimal(28,6)"))
      .otherwise(lit(BigDecimal(0)).cast("decimal(28,6)"))
    val agg = guarded.agg(max(col("_thr")).as("threshold"),
      sum(term6).as("_s6"))
    val gamma = d6(col("_s6").cast("double") / k.toDouble)
    agg.select(lit(k.toLong).as("k"), col("threshold"),
        gamma.as("hill_gamma"))
      .withColumn("tail_alpha",
        when(col("hill_gamma") > 0.0, d6(lit(1.0) / col("hill_gamma"))))
  }

  /** Iterative-proportional-fitting (raking) weights over a 2-facet
    * contingency table — reweight a corpus so its (row, col) margins
    * match TARGET shares (Deming–Stephan 1940): the declarative answer
    * to "make the training mix 25% per language AND match this source
    * distribution" when the two constraints interact.
    *
    * `iters` fixed alternating margin-scaling rounds (row then col)
    * over the cell table; every scaled weight d6-rounds, margin sums
    * are decimal (order-free), so the whole trajectory is
    * engine-replayable. Cells with zero target share rake to 0.
    *
    * Scale shape: ONE corpus-sized cell aggregate; the IPF rounds run
    * driver-side over the ≤ `maxCells`-guarded cell table (the
    * Bradley–Terry/Fellegi–Sunter class-5 discipline — zero per-round
    * jobs). Output per cell: (rowCol, colCol, n_rows, weight) where
    * `weight` multiplies a row's contribution so weighted margins hit
    * the targets.
    */
  def rakeWeights(
      df: DataFrame,
      rowCol: String,
      colCol: String,
      rowTargets: Map[String, Double],
      colTargets: Map[String, Double],
      iters: Int = 10,
      maxCells: Int = 4096): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(rowTargets.nonEmpty && colTargets.nonEmpty, "targets required")
    require(math.abs(rowTargets.values.sum - 1.0) < 1e-9 &&
      math.abs(colTargets.values.sum - 1.0) < 1e-9,
      "target shares must each sum to 1")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.groupBy(col(rowCol).cast("string").as("_r"),
        col(colCol).cast("string").as("_c"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(cells.length <= maxCells,
      s"rakeWeights: ${cells.length} cells > maxCells $maxCells")
    val total = cells.map(_._3).sum.toDouble
    // weights start at 1; each phase scales every cell's weight by
    // (target total) / (current weighted margin), d6 after the division
    var w = cells.map(_ => 1.0)
    var it = 0
    while (it < iters) {
      val rowSums = cells.zip(w).groupBy(_._1._1)
        .map { case (r, xs) =>
          r -> xs.map { case ((_, _, n), wi) =>
            // wi is d6-rounded: setScale(6) reproduces the oracle's
            // DECIMAL(28,6) value exactly (a bare BigDecimal(double)
            // would carry the full binary expansion instead)
            BigDecimal(wi).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
              BigDecimal(n)
          }.sum.toDouble
        }
      w = cells.zip(w).map { case ((r, _, _), wi) =>
        val tgt = rowTargets.getOrElse(r, 0.0) * total
        val cur = rowSums(r)
        if (tgt == 0.0 || cur == 0.0) 0.0 else d6(wi * tgt / cur)
      }
      val colSums = cells.zip(w).groupBy(_._1._2)
        .map { case (c, xs) =>
          c -> xs.map { case ((_, _, n), wi) =>
            BigDecimal(wi).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
              BigDecimal(n)
          }.sum.toDouble
        }
      w = cells.zip(w).map { case ((_, c, _), wi) =>
        val tgt = colTargets.getOrElse(c, 0.0) * total
        val cur = colSums(c)
        if (tgt == 0.0 || cur == 0.0) 0.0 else d6(wi * tgt / cur)
      }
      it += 1
    }
    cells.zip(w).toSeq
      .map { case ((r, c, n), wi) => (r, c, n, wi) }
      .toDF(rowCol, colCol, "n_rows", "weight")
  }

  /** Brier score + expected/maximum calibration error over a scored
    * binary-outcome frame — the one-row answer to "can I trust these
    * probabilities?" that belongs next to any trained scorer's AUC.
    * Scores arrive FIXED-POINT in [0, 10⁶] (the q225/q226 classifier's
    * score6 convention), which makes every numerator exact:
    *
    *   brier = Σ (s6 − 10⁶·y)² / (n·10¹²)
    *   ece   = Σ_b |10⁶·pos_b − Σ s6_b| / (n·10⁶)     (equal-width bins)
    *   mce   = max_b d6(|10⁶·pos_b − Σ s6_b| / (n_b·10⁶))
    *
    * — integer sums (decimal(38,0)), one d6 division each; the ECE
    * numerator |10⁶·pos_b − Σs6_b| IS n_b·|accuracy − confidence|
    * cleared of both denominators. One score scan + one `bins`-row
    * aggregate at any corpus size.
    */
  def calibrationError(
      df: DataFrame,
      scoreCol: String,
      yCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val s6 = col(scoreCol).cast("long")
    val y = col(yCol).cast("long")
    val binned = df
      .select(least(floor(s6.cast("double") * bins / 1000000.0)
          .cast("long"), lit(bins - 1L)).as("_b"),
        s6.as("_s"), y.as("_y"))
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos"),
        sum(dec(col("_s"))).as("_ss"),
        sum(dec((col("_s") - lit(1000000L) * col("_y")) *
          (col("_s") - lit(1000000L) * col("_y")))).as("_sq"))
    val gap = abs(dec(lit(1000000L) * col("_pos")) - col("_ss"))
    val agg = binned.agg(
      sum(col("_n")).as("n_rows"),
      sum(col("_sq")).as("_sqTot"),
      sum(gap).as("_gapTot"),
      max(d6(gap.cast("double") /
        (col("_n").cast("double") * 1000000.0))).as("mce"))
    val n = col("n_rows").cast("double")
    agg.select(col("n_rows"),
      d6(col("_sqTot").cast("double") / (n * 1.0e12)).as("brier"),
      d6(col("_gapTot").cast("double") / (n * 1000000.0)).as("ece"),
      col("mce"))
  }

  /** Always-valid sequential A/B test — the mixture SPRT (mSPRT,
    * Johari/Pekelis/Walsh 2015) over a period-keyed two-arm metric
    * stream: unlike [[welchTTest]], the p-value trajectory may be
    * PEEKED AT after every period and stopped on without inflating the
    * false-positive rate (p_n is a running min of 1/Λ_n, and Λ_n is a
    * test martingale under H₀).
    *
    * Per period the cumulative two-sample statistic uses the normal
    * mixture with prior variance `tau2`:
    *
    *   n    = 2·N₀N₁/(N₀+N₁)          (effective per-arm size)
    *   V    = 2σ̂²                     (pooled, cumulative)
    *   Λ    = √(V/(V+nτ²)) · exp(n²τ²δ²/(2V(V+nτ²)))
    *   p_n  = min(p_{n−1}, 1/Λ)
    *
    * Determinism: per-period sums are EXACT (long counts, decimal(38,0)
    * Σx and Σx² of the integer metric — quantize doubles first);
    * cumulative sums run over the PERIOD-grouped frame (bounded by the
    * period count, not the corpus); δ, σ̂², Λ and p derive in one fixed
    * expression order and round d6. Periods before both arms have ≥ 2
    * observations and a positive variance report NULL stats with p = 1
    * (no evidence yet), not an error — a monitoring stream must start
    * somewhere.
    */
  def msprt(
      df: DataFrame,
      armCol: String,
      valueCol: String,
      periodCol: String,
      tau2: Double = 0.0001,
      alpha: Double = 0.05): DataFrame = {
    require(tau2 > 0, s"tau2 must be positive, got $tau2")
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val arm = col(armCol).cast("int")
    val x = col(valueCol).cast("long")
    val byP = df.groupBy(col(periodCol).cast("long").as("period"))
      .agg(
        sum(when(arm === 0, 1L).otherwise(0L)).as("_pn0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("_pn1"),
        sum(when(arm === 0, dec(x)).otherwise(dec(lit(0L)))).as("_ps0"),
        sum(when(arm === 1, dec(x)).otherwise(dec(lit(0L)))).as("_ps1"),
        sum(when(arm === 0, dec(x) * dec(x)).otherwise(
          dec(lit(0L)).cast("decimal(38,0)"))).as("_pq0"),
        sum(when(arm === 1, dec(x) * dec(x)).otherwise(
          dec(lit(0L)).cast("decimal(38,0)"))).as("_pq1"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("period"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = byP.select(col("period"),
      sum(col("_pn0")).over(w).as("_n0"),
      sum(col("_pn1")).over(w).as("_n1"),
      sum(col("_ps0")).over(w).as("_s0"),
      sum(col("_ps1")).over(w).as("_s1"),
      sum(col("_pq0")).over(w).as("_q0"),
      sum(col("_pq1")).over(w).as("_q1"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val s0 = col("_s0").cast("double")
    val s1 = col("_s1").cast("double")
    val q0 = col("_q0").cast("double")
    val q1 = col("_q1").cast("double")
    val sigma2 = ((q0 - s0 * s0 / n0) + (q1 - s1 * s1 / n1)) /
      (n0 + n1 - 2.0)
    val valid = col("_n0") >= 2L && col("_n1") >= 2L && sigma2 > 0.0
    val delta = s1 / n1 - s0 / n0
    val nEff = lit(2.0) * n0 * n1 / (n0 + n1)
    val vv = lit(2.0) * sigma2
    val bb = vv + nEff * lit(tau2)
    val lam = sqrt(vv / bb) *
      exp(nEff * nEff * lit(tau2) * delta * delta / (lit(2.0) * vv * bb))
    val pRaw = when(valid, least(lit(1.0), d6(lit(1.0) / lam)))
      .otherwise(lit(1.0))
    val staged = cum.select(col("period"),
      col("_n0").as("n_a"), col("_n1").as("n_b"),
      when(valid, d6(delta)).as("delta"),
      when(valid, d6(sigma2)).as("sigma2"),
      when(valid, d6(lam)).as("lambda"),
      pRaw.as("_p"))
    val wMin = org.apache.spark.sql.expressions.Window.orderBy(col("period"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    staged
      .withColumn("p_always_valid", min(col("_p")).over(wMin))
      .withColumn("significant",
        (col("p_always_valid") <= alpha).cast("int"))
      .drop("_p")
  }

  /** ROC AUC (tie-corrected Mann–Whitney form) + threshold-stepped
    * average precision over a scored binary-outcome frame — the ranking
    * half of the scorer report card that [[calibrationError]]'s
    * probability half belongs next to. A quality classifier that gates
    * a corpus (q225/q226) is USED as a ranker (keep the top-X%), so
    * AUC/AP — not accuracy — are the metrics that predict what the gate
    * does to the mix.
    *
    * Ties are handled exactly, not by arbitrary ordering: group rows by
    * DISTINCT score, then
    *
    *   2U  = Σ_s p_s·(2·negBelow_s + (n_s − p_s))        (midrank form)
    *   AUC = 2U / (2·n₁·n₀)
    *   AP  = Σ_s d6( p_s·TP_s / (n₁·(TP_s + FP_s)) )      (desc cumsum)
    *
    * — every numerator an exact integer (decimal(38,0) sums), one d6
    * division for AUC, d6-per-term decimal sum for AP, so both engines
    * replay the identical value regardless of row order within a tie.
    *
    * Scale shape: ONE score-keyed aggregate (corpus → distinct-score
    * frame), then global windows over that frame — bounded by score
    * CARDINALITY, not corpus size. Scores here are fixed-point/integer
    * (the score6 convention caps cardinality at 10⁶+1); for an
    * unbounded-cardinality double score, quantize first — the d6 world
    * already concedes 1e-6 resolution.
    */
  def rocPrAuc(
      df: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val byScore = df
      .select(col(scoreCol).cast("long").as("_s"),
        col(labelCol).cast("long").as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_p"))
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("_s"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("_s").desc)
    val staged = byScore.select(col("_s"), col("_n"), col("_p"),
      coalesce(sum(col("_n") - col("_p"))
        .over(wAsc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)).as("_negBelow"),
      sum(col("_p")).over(wDesc).as("_tp"),
      sum(col("_n") - col("_p")).over(wDesc).as("_fp"))
    val tot = staged.agg(
      sum(col("_p")).as("_n1"), sum(col("_n") - col("_p")).as("_n0"),
      sum(dec(col("_p") * (lit(2L) * col("_negBelow") +
        (col("_n") - col("_p"))))).as("_u2"))
    val guarded = staged.crossJoin(broadcast(tot))
      .withColumn("_n1",
        when(col("_n1") > 0L && col("_n0") > 0L, col("_n1"))
          .otherwise(raise_error(lit(
            "rocPrAuc: need at least one positive and one negative"))
            .cast("long")))
    val apTerm = when(col("_p") > 0L,
        (col("_p").cast("double") * col("_tp").cast("double") /
          (col("_n1").cast("double") *
            (col("_tp") + col("_fp")).cast("double")))
          .cast("decimal(28,6)"))
      .otherwise(lit(BigDecimal(0)).cast("decimal(28,6)"))
    guarded
      .groupBy(col("_n1"), col("_n0"), col("_u2"))
      .agg(sum(apTerm).as("_ap6"))
      .select(col("_n1").as("n_pos"), col("_n0").as("n_neg"),
        d6(col("_u2").cast("double") /
          (lit(2.0) * col("_n1").cast("double") *
            col("_n0").cast("double")))
          .as("auc"),
        d6(col("_ap6").cast("double")).as("avg_precision"))
  }

  /** The one-way ANOVA sums of squares from per-group sufficient
    * statistics `byG` (`_n` rows, `_s` = Σx, `_q` = Σx², exact): ONE row
    * (k_groups, n_rows, ss_between, ss_within) with
    * SSB = Σ_g S_g²/n_g − S²/N and SSW = Q − Σ_g S_g²/n_g. Each S_g²/n_g
    * term is d6-rounded before the order-free decimal sum. k < 2 or
    * N ≤ k raises, naming `op`.
    */
  private def anovaSums(byG: DataFrame, op: String): DataFrame = {
    val agg = byG.agg(
      count(lit(1)).as("_k"), sum(col("_n")).as("_nt"),
      sum(col("_s")).as("_st"), sum(col("_q")).as("_qt"),
      // d6-per-term decimal sum: order-free, engine-portable
      sum((col("_s").cast("double") * col("_s").cast("double") /
        col("_n").cast("double")).cast("decimal(28,6)")).as("_ssg6"))
    val checked = agg.withColumn("_k",
      when(col("_k") >= 2L && col("_nt") > col("_k"), col("_k"))
        .otherwise(raise_error(concat(
          lit(s"$op: need >= 2 groups and N > k, got k="),
          col("_k").cast("string"), lit(", N="),
          col("_nt").cast("string"))).cast("long")))
    val nT = col("_nt").cast("double")
    val ssb = d6(col("_ssg6").cast("double") -
      col("_st").cast("double") * col("_st").cast("double") / nT)
    val ssw = d6(col("_qt").cast("double") - col("_ssg6").cast("double"))
    checked.select(col("_k").as("k_groups"),
      col("_nt").as("n_rows"), ssb.as("ss_between"), ssw.as("ss_within"))
  }

  /** One-way ANOVA over an integer metric grouped by a categorical
    * column — the k-arm generalisation of [[welchTTest]]: "do these k
    * slices (languages, sources, experiment arms) share a mean, and how
    * much of the variance does the slicing explain?" F is the test
    * statistic; η² (variance explained) and the less-biased ω² are the
    * effect sizes a curation report should quote alongside it.
    *
    * Sufficient statistics are EXACT — per-group (n, Σx, Σx²) as
    * decimal(38,0) over the long-cast metric — and the derived values
    * evaluate in ONE fixed expression order with d6 at each reported
    * value:
    *
    *   SSB = Σ_g S_g²/n_g − S²/N    SSW = Q − Σ_g S_g²/n_g
    *   F   = (SSB/(k−1)) / (SSW/(N−k))
    *   η²  = SSB/(SSB+SSW)          ω² = (SSB−(k−1)·MSW)/(SST+MSW)
    *
    * Degenerate designs answer, not crash: SSW = 0 (all groups
    * constant) reports NULL F (infinite evidence is not a number);
    * k < 2 or N ≤ k raises loudly — that is a caller bug, not data.
    *
    * Scale shape: ONE group-keyed aggregate, then a k-row frame; no
    * window, no second pass over the corpus.
    */
  def anovaOneWay(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val byG = df.groupBy(col(groupCol).cast("string").as("_g"))
      .agg(count(lit(1)).as("_n"), sum(dec(x)).as("_s"),
        sum(dec(x) * dec(x)).as("_q"))
    val staged = anovaSums(byG, "anovaOneWay")
    val dfB = (col("k_groups") - 1L).cast("double")
    val dfW = (col("n_rows") - col("k_groups")).cast("double")
    val msw = col("ss_within") / dfW
    staged.select(col("k_groups"), col("n_rows"),
      col("ss_between"), col("ss_within"),
      when(col("ss_within") > 0.0,
        d6((col("ss_between") / dfB) / msw)).as("f_stat"),
      when(col("ss_between") + col("ss_within") > 0.0,
        d6(col("ss_between") /
          (col("ss_between") + col("ss_within")))).as("eta2"),
      when(col("ss_within") > 0.0,
        d6((col("ss_between") - dfB * msw) /
          (col("ss_between") + col("ss_within") + msw))).as("omega2"))
  }

  /** Per-group fairness audit of a binary gate — selection rate,
    * TPR/FPR, demographic-parity ratio and equalized-odds gaps by a
    * protected/slice attribute. A corpus gate (quality filter, C4
    * rule, trained classifier) is a POLICY; this is the table that
    * says which languages/sources it throttles and whether its error
    * rates are balanced — the audit regulators and data-governance
    * reviews ask for by name (80%-rule = dp_ratio ≥ 0.8).
    *
    * All counts exact; every rate is ONE d6 division; cross-group
    * references (max selection rate, overall TPR/FPR) are computed
    * from the SAME d6 rates via a 1-row broadcast, so
    *
    *   dp_ratio = d6(sel_rate / max_g sel_rate)
    *   tpr_gap  = d6(tpr − overall_tpr),  fpr_gap likewise
    *
    * replay identically cross-engine. Groups with no positives (or no
    * negatives) report NULL tpr/tpr_gap (fpr/fpr_gap) — missing
    * strata answer NULL, not 0, so a dashboard can tell "balanced"
    * from "unmeasurable". Overall TPR/FPR come from the GLOBAL
    * confusion counts (micro, not group-averaged).
    *
    * Scale shape: ONE group-keyed aggregate + a 1-row broadcast back;
    * group cardinality bounds everything after the first pass.
    */
  def fairnessAudit(
      df: DataFrame,
      groupCol: String,
      predCol: String,
      labelCol: String): DataFrame = {
    val p = col(predCol).cast("long")
    val y = col(labelCol).cast("long")
    val byG = df.groupBy(col(groupCol).cast("string").as(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(p).as("_sel"),
        sum(y).as("_pos"),
        sum(p * y).as("_tp"),
        sum(p * (lit(1L) - y)).as("_fp"))
    val rates = byG.select(col(groupCol), col("n_rows"),
      col("_sel").as("n_selected"),
      d6(col("_sel").cast("double") / col("n_rows").cast("double"))
        .as("sel_rate"),
      when(col("_pos") > 0L,
        d6(col("_tp").cast("double") / col("_pos").cast("double")))
        .as("tpr"),
      when(col("n_rows") - col("_pos") > 0L,
        d6(col("_fp").cast("double") /
          (col("n_rows") - col("_pos")).cast("double"))).as("fpr"),
      col("_pos"), col("_tp"), col("_fp"))
    val ref = rates.agg(max(col("sel_rate")).as("_maxSel"),
      sum(col("_pos")).as("_posT"), sum(col("_tp")).as("_tpT"),
      sum(col("_fp")).as("_fpT"),
      sum(col("n_rows")).as("_nT"))
    val withRef = rates.crossJoin(broadcast(ref))
      .withColumn("_oTpr",
        when(col("_posT") > 0L, d6(col("_tpT").cast("double") /
          col("_posT").cast("double"))))
      .withColumn("_oFpr",
        when(col("_nT") - col("_posT") > 0L,
          d6(col("_fpT").cast("double") /
            (col("_nT") - col("_posT")).cast("double"))))
    withRef.select(col(groupCol), col("n_rows"), col("n_selected"),
      col("sel_rate"),
      when(col("_maxSel") > 0.0,
        d6(col("sel_rate") / col("_maxSel"))).as("dp_ratio"),
      col("tpr"), col("fpr"),
      when(col("tpr").isNotNull && col("_oTpr").isNotNull,
        d6(col("tpr") - col("_oTpr"))).as("tpr_gap"),
      when(col("fpr").isNotNull && col("_oFpr").isNotNull,
        d6(col("fpr") - col("_oFpr"))).as("fpr_gap"))
  }

  /** 1-Wasserstein (earth-mover) distance between two integer-metric
    * slices — the drift number that, unlike KS (q307, sup-gap only) or
    * PSI/JS (q256/q271, binned), reports HOW FAR mass moved in metric
    * units: "the n_chars distribution shifted by ≈ 23 characters",
    * directly actionable for length-budget and packing decisions.
    *
    * Over the merged distinct-value grid with inclusive cumulative
    * counts C_a/C_b and gaps Δx to the next value,
    *
    *   W₁·n_a·n_b = Σ_v |C_a(v)·n_b − C_b(v)·n_a| · Δx(v)
    *
    * — the denominator-cleared form is an EXACT integer (decimal(38,0)
    * sum), so the only rounding is the final d6 division. Both the
    * scaled integer and the normalized distance are reported.
    *
    * Scale shape: one value-keyed aggregate (corpus → distinct-value
    * frame), one global window over that frame — bounded by metric
    * cardinality (quantize unbounded doubles first, as [[rocPrAuc]]).
    */
  def wasserstein1(
      df: DataFrame,
      valueCol: String,
      groupCol: String,
      groupA: String,
      groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    val g = col(groupCol).cast("string")
    val byV = df
      .filter(g === groupA || g === groupB)
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(sum(when(g === groupA, 1L).otherwise(0L)).as("_ca"),
        sum(when(g === groupB, 1L).otherwise(0L)).as("_cb"))
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("_v"))
    val cum = byV.select(col("_v"),
      sum(col("_ca")).over(wAsc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
        .as("_cumA"),
      sum(col("_cb")).over(wAsc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
        .as("_cumB"),
      (lead(col("_v"), 1).over(wAsc) - col("_v")).as("_dx"))
    val tot = byV.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"))
    val guarded = cum.crossJoin(broadcast(tot))
      .withColumn("_na",
        when(col("_na") > 0L && col("_nb") > 0L, col("_na"))
          .otherwise(raise_error(lit(
            s"wasserstein1: both slices must be non-empty " +
              s"($groupA vs $groupB)")).cast("long")))
    val term = when(col("_dx").isNotNull,
        dec(abs(col("_cumA") * col("_nb") - col("_cumB") * col("_na")) *
          col("_dx")))
      .otherwise(dec(lit(0L)))
    guarded
      .groupBy(col("_na"), col("_nb"))
      .agg(sum(term).as("_w1s"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        // BIGINT output (comparison convention); overflows only past
        // W1·n_a·n_b > 2^63 — sample the slices before that regime
        col("_w1s").cast("long").as("w1_scaled"),
        d6(col("_w1s").cast("double") /
          (col("_na").cast("double") * col("_nb").cast("double")))
          .as("w1"))
  }

  /** Upper 5% chi-square critical values for df 1..30 (the standard
    * published table, 6 decimals) — the fixed-literal significance
    * convention of [[welchTTest]]'s 1.959964 extended to the
    * chi-square-distributed rank tests below. df > 30 reports NULL
    * `significant` (compute the p-value offline) rather than shipping
    * an incomplete approximation.
    */
  private[graft] val chiSq95: Seq[Double] = Seq(
    3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
    12.591587, 14.067140, 15.507313, 16.918978, 18.307038,
    19.675138, 21.026070, 22.362032, 23.684791, 24.995790,
    26.296228, 27.587112, 28.869299, 30.143527, 31.410433,
    32.670573, 33.924438, 35.172462, 36.415029, 37.652484,
    38.885139, 40.113272, 41.337138, 42.556968, 43.772972)

  private[graft] def chiSq95Col(dfCol: Column): Column =
    chiSq95.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (v, i)) => when(dfCol === (i + 1).toLong, lit(v))
        .otherwise(acc)
    }

  /** Kruskal–Wallis H (rank one-way ANOVA) over an integer metric and
    * a categorical slice — the k-group generalisation of
    * [[mannWhitneyU]] and the nonparametric sibling of [[anovaOneWay]]:
    * "do these k slices share a location?" without the normality
    * assumption the heavy-tailed curation metrics break.
    *
    * Rank arithmetic is EXACT in [[mannWhitneyU]]'s doubled units: the
    * pooled corpus collapses to one row per (group, value), midranks
    * are the [[doubledMidrank]] of the DISTINCT-value frame, and each
    * group's rank sum is an exact decimal(38,0) ([[groupRankSums]]).
    * The statistic
    *
    *   H = 12/(N(N+1)) · Σ_j R_j²/n_j − 3(N+1)
    *
    * d6-rounds each group's R_j²/n_j term BEFORE the order-free
    * decimal sum (the [[anovaOneWay]] `_ssg6` discipline); the tie
    * correction divides by C = 1 − Σ(t³−t)/(N³−N) in one more fixed
    * step. `significant` compares h_corrected against the
    * [[chiSq95]] literal for df = k−1 (NULL past df 30). Degenerate
    * inputs fail loudly: k < 2, N ≤ k, or every row tied on one value
    * (C = 0).
    *
    * Scale shape: one (group, value) aggregate, one value-keyed
    * window over the DISTINCT-value frame (value-domain bounded — the
    * GK-sketch frame class), one group rollup. No corpus-sized window.
    */
  def kruskalWallis(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val byGV = df.groupBy(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val byV = byGV.groupBy(col("_v")).agg(sum(col("_c")).as("_t"))
    val tiesRow = byV.agg(tieSum.as("_ties"))
    val byG = groupRankSums(byGV, byV, "_v", "_n", "_r2s")
    val agg = byG.agg(
      count(lit(1)).as("_k"), sum(col("_n")).as("_nt"),
      // d6-per-group R_j²/n_j (R_j = R2_j/2): order-free decimal sum
      sum((col("_r2s").cast("double") * col("_r2s").cast("double") /
        (lit(4.0) * col("_n").cast("double"))).cast("decimal(28,6)"))
        .as("_rr6"))
      .crossJoin(broadcast(tiesRow))
    val nD = col("_nt").cast("double")
    val maxTies = dec(col("_nt")) * dec(col("_nt")) * dec(col("_nt")) -
      dec(col("_nt"))
    val checked = agg.withColumn("_k",
      when(col("_k") >= 2L && col("_nt") > col("_k") &&
          col("_ties") < maxTies, col("_k"))
        .otherwise(raise_error(concat(
          lit("kruskalWallis: need >= 2 groups, N > k and at least two "),
          lit("distinct values, got k="), col("_k").cast("string"),
          lit(", N="), col("_nt").cast("string"))).cast("long")))
    val h = d6(lit(12.0) / (nD * (nD + 1.0)) *
      col("_rr6").cast("double") - lit(3.0) * (nD + 1.0))
    val c = d6(lit(1.0) -
      col("_ties").cast("double") / maxTies.cast("double"))
    val staged = checked.select(col("_k").as("k_groups"),
      col("_nt").as("n_rows"), h.as("h_stat"), c.as("_tc"))
    val hc = d6(col("h_stat") / col("_tc"))
    staged.select(col("k_groups"), col("n_rows"), col("h_stat"),
      hc.as("h_corrected"),
      when(chiSq95Col(col("k_groups") - 1L).isNotNull,
        (hc >= chiSq95Col(col("k_groups") - 1L)).cast("int"))
        .as("significant"))
  }

  /** The complete-block design of a k-system, n-item rank test:
    *   - `base` (`_i` item, `_sys` system, `_v` value);
    *   - `ranked` (`_i`, `_v`, `_r2`): the doubled midrank of each value
    *     within its item, the per-item form of [[doubledMidrank]] (the
    *     window partitions by item, so its frame is k-bounded);
    *   - `tiesRow`: the 1-row tie term `_ties` = Σ_items Σ(t³ − t);
    *   - `audit`: the 1-row block audit (`_cells`, `_maxDup`, `_n` items,
    *     `_k` systems). n distinct items, k distinct systems and every
    *     (item, system) exactly once ⟺ cells = n·k and no duplicate
    *     cell; callers raise on anything else.
    */
  private def completeBlocks(df: DataFrame, itemCol: String,
      systemCol: String, valueCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = df.select(col(itemCol).cast("string").as("_i"),
      col(systemCol).cast("string").as("_sys"),
      col(valueCol).cast("long").as("_v"))
    val byIV = base.groupBy(col("_i"), col("_v"))
      .agg(count(lit(1)).as("_t"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("_i")).orderBy(col("_v"))
      .rowsBetween(W.unboundedPreceding, -1)
    val ranked = byIV.select(col("_i"), col("_v"),
      (lit(2L) * coalesce(sum(col("_t")).over(w), lit(0L)) +
        col("_t") + 1L).as("_r2"))
    val tiesRow = byIV.agg(coalesce(sum(
      dec(col("_t")) * dec(col("_t")) * dec(col("_t")) - dec(col("_t"))),
      dec(lit(0L))).as("_ties"))
    val audit = base.groupBy(col("_i"), col("_sys"))
      .agg(count(lit(1)).as("_dup"))
      .agg(count(lit(1)).as("_cells"), max(col("_dup")).as("_maxDup"),
        countDistinct(col("_i")).as("_n"),
        countDistinct(col("_sys")).as("_k"))
    (base, ranked, tiesRow, audit)
  }

  /** Friedman rank test for k systems scored on the same n items
    * (blocks) — THE eval-table test: "n prompts each scored by k
    * models; do the models differ?" Classic repeated-measures
    * nonparametrics (Friedman 1937), tie-corrected.
    *
    * Within each item the k scores midrank in doubled units (the
    * per-item twin of [[mannWhitneyU]]'s pooled ranking — the window
    * partitions by ITEM and the frame is k-bounded); each system's
    * rank sum R2_j is an exact decimal. The statistic
    *
    *   Q = 12/(nk(k+1)) · Σ_j R_j² − 3n(k+1)
    *
    * d6-rounds per-system R_j² terms before the decimal sum, then the
    * tie correction divides by C = 1 − Σ_items Σ(t³−t)/(nk(k²−1)).
    * `significant` compares q_corrected to [[chiSq95]] at df = k−1.
    *
    * Complete-block contract, enforced LOUDLY in-plan: every item
    * must score every system exactly once — a missing or duplicated
    * (item, system) cell raises with the offending counts (an
    * incomplete design needs Skillings–Mack, a different test).
    *
    * Scale shape: one (item, value) aggregate + k-bounded per-item
    * windows + one system rollup; items stream, systems bound state.
    */
  def friedmanTest(
      df: DataFrame,
      itemCol: String,
      systemCol: String,
      valueCol: String): DataFrame = {
    val (base, ranked, tiesRow, audit) =
      completeBlocks(df, itemCol, systemCol, valueCol)
    val bySys = base.join(ranked, Seq("_i", "_v"))
      .groupBy(col("_sys"))
      .agg(sum(dec(col("_r2"))).as("_r2s"))
    val agg = bySys.agg(
      sum((col("_r2s").cast("double") * col("_r2s").cast("double") /
        lit(4.0)).cast("decimal(28,6)")).as("_rr6"))
      .crossJoin(broadcast(audit))
      .crossJoin(broadcast(tiesRow))
    val checked = agg.withColumn("_k",
      when(col("_k") >= 2L && col("_n") >= 2L && col("_maxDup") === 1L &&
          col("_cells") === col("_n") * col("_k"), col("_k"))
        .otherwise(raise_error(concat(
          lit("friedmanTest: need a complete block design (every item "),
          lit("scores every system exactly once) with k >= 2 systems "),
          lit("and n >= 2 items; got n_items="), col("_n").cast("string"),
          lit(", k_systems="), col("_k").cast("string"),
          lit(", cells="), col("_cells").cast("string"),
          lit(", max_dup="), col("_maxDup").cast("string")))
          .cast("long")))
    val nD = col("_n").cast("double")
    val kD = col("_k").cast("double")
    val q = d6(lit(12.0) / (nD * kD * (kD + 1.0)) *
      col("_rr6").cast("double") - lit(3.0) * nD * (kD + 1.0))
    val c = d6(lit(1.0) - col("_ties").cast("double") /
      (nD * kD * (kD * kD - 1.0)))
    val staged = checked.select(col("_n").as("n_items"),
      col("_k").as("k_systems"), q.as("q_stat"), c.as("_tc"))
    val qc = when(col("_tc") > 0.0, d6(col("q_stat") / col("_tc")))
    staged.select(col("n_items"), col("k_systems"), col("q_stat"),
      qc.as("q_corrected"),
      when(qc.isNotNull &&
          chiSq95Col(col("k_systems") - 1L).isNotNull,
        (qc >= chiSq95Col(col("k_systems") - 1L)).cast("int"))
        .as("significant"))
  }

  /** Cochran's Q test — the BINARY [[friedmanTest]]: k systems scored
    * pass/fail on the same n items ("which of these k models solve
    * which prompts?"), complete blocks, testing whether the pass rates
    * differ. The statistic is EXACT integers up to the one d6 close:
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * with C_j the per-system pass totals, R_i the per-item pass
    * totals, N total passes. Items every system passes (or fails)
    * contribute nothing; when ALL items are like that the denominator
    * is 0 and q_stat answers NULL. `significant` compares against
    * [[chiSq95]] at df = k−1. Non-binary values and incomplete/
    * duplicated blocks fail loudly in-plan.
    *
    * Scale shape: one (item, system) pass aggregate, then system and
    * item rollups — nothing wider than the cell frame.
    */
  def cochranQ(
      df: DataFrame,
      itemCol: String,
      systemCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(itemCol).cast("string").as("_i"),
      col(systemCol).cast("string").as("_sys"),
      col(valueCol).cast("long").as("_x"))
    val audit = base.groupBy(col("_i"), col("_sys"))
      .agg(count(lit(1)).as("_dup"), max(col("_x")).as("_mx"),
        min(col("_x")).as("_mn"))
      .agg(count(lit(1)).as("_cells"), max(col("_dup")).as("_maxDup"),
        countDistinct(col("_i")).as("_n"),
        countDistinct(col("_sys")).as("_k"),
        max(col("_mx")).as("_gmx"), min(col("_mn")).as("_gmn"))
    val bySys = base.groupBy(col("_sys")).agg(sum(col("_x")).as("_cj"))
    val byItem = base.groupBy(col("_i")).agg(sum(col("_x")).as("_ri"))
    val sysAgg = bySys.agg(sum(dec(col("_cj")) * dec(col("_cj")))
      .as("_c2"), sum(col("_cj")).as("_nt"))
    val itemAgg = byItem.agg(sum(dec(col("_ri")) * dec(col("_ri")))
      .as("_r2"))
    val agg = sysAgg.crossJoin(broadcast(itemAgg))
      .crossJoin(broadcast(audit))
    val checked = agg.withColumn("_k",
      when(col("_k") >= 2L && col("_n") >= 2L && col("_maxDup") === 1L &&
          col("_cells") === col("_n") * col("_k") &&
          col("_gmn") >= 0L && col("_gmx") <= 1L, col("_k"))
        .otherwise(raise_error(concat(
          lit("cochranQ: need a complete block design of BINARY 0/1 "),
          lit("outcomes (every item scores every system exactly once), "),
          lit("k >= 2, n >= 2; got n_items="), col("_n").cast("string"),
          lit(", k_systems="), col("_k").cast("string"),
          lit(", cells="), col("_cells").cast("string"),
          lit(", max_dup="), col("_maxDup").cast("string"),
          lit(", value range ["), col("_gmn").cast("string"),
          lit(","), col("_gmx").cast("string"), lit("]")))
          .cast("long")))
    val kD = dec(col("_k"))
    val num = (kD - lit(1L).cast("decimal(38,0)")) *
      (kD * col("_c2") - dec(col("_nt")) * dec(col("_nt")))
    val den = kD * dec(col("_nt")) - col("_r2")
    val q = when(den > 0L, d6(num.cast("double") / den.cast("double")))
    checked.select(col("_n").as("n_items"), col("_k").as("k_systems"),
      col("_nt").as("n_passes"), q.as("q_stat"),
      when(q.isNotNull && chiSq95Col(col("_k") - 1L).isNotNull,
        (q >= chiSq95Col(col("_k") - 1L)).cast("int"))
        .as("significant"))
  }

  /** 2×2 association audit — odds ratio, risk ratio and the Woolf
    * log-OR z-test for a binary exposure × binary outcome ("does the
    * treated/flagged/exposed slice convert differently?"): the
    * epidemiology-standard readout a gate audit quotes next to
    * [[fairnessAudit]]'s rates. Haldane–Anscombe correction (+0.5 to
    * every cell) applies automatically when ANY cell is zero —
    * reported in the `corrected` flag, never silent.
    *
    * Determinism: the four cells are exact counts held in DOUBLED
    * units (so the +0.5 correction stays integral: a2 = 2a or 2a+1);
    * OR and RR are each ONE d6 division of exact decimal products;
    * the Woolf chain stages d6 at log_or, se and z (ln/sqrt are
    * libm-calls, but d6 staging absorbs the last-ulp divergence — the
    * naiveBayes log-prob discipline). `significant` is the fixed
    * two-sided 5% bound |z| ≥ 1.959964. Non-binary inputs or an empty
    * table fail loudly.
    *
    * Scale shape: ONE aggregate over the corpus — four conditional
    * sums — then a 1-row frame.
    */
  def oddsRatio(
      df: DataFrame,
      exposureCol: String,
      outcomeCol: String): DataFrame = {
    val e = col(exposureCol).cast("long")
    val y = col(outcomeCol).cast("long")
    val agg = df.agg(
      sum(e * y).as("_a"), sum(e * (lit(1L) - y)).as("_b"),
      sum((lit(1L) - e) * y).as("_c"),
      sum((lit(1L) - e) * (lit(1L) - y)).as("_d"),
      count(lit(1)).as("_n"),
      max(greatest(e, y)).as("_mx"), min(least(e, y)).as("_mn"))
    // guard embedded in the USED _a column (not the pruned-away _n —
    // the stationaryDistribution in-plan-guard discipline)
    val checked = agg.withColumn("_a",
      when(col("_n") >= 1L && col("_mn") >= 0L && col("_mx") <= 1L,
        col("_a"))
        .otherwise(raise_error(concat(
          lit("oddsRatio: need a non-empty table of BINARY 0/1 "),
          lit("exposure and outcome; got n="), col("_n").cast("string"),
          lit(", value range ["), col("_mn").cast("string"), lit(","),
          col("_mx").cast("string"), lit("]"))).cast("long")))
    val anyZero = col("_a") === 0L || col("_b") === 0L ||
      col("_c") === 0L || col("_d") === 0L
    def cell(c: Column): Column =
      when(anyZero, lit(2L) * c + 1L).otherwise(lit(2L) * c)
    val staged = checked.select(
      col("_a").as("n_exposed_pos"), col("_b").as("n_exposed_neg"),
      col("_c").as("n_control_pos"), col("_d").as("n_control_neg"),
      anyZero.cast("int").as("corrected"),
      cell(col("_a")).as("_a2"), cell(col("_b")).as("_b2"),
      cell(col("_c")).as("_c2"), cell(col("_d")).as("_d2"))
    val or = d6((dec(col("_a2")) * dec(col("_d2"))).cast("double") /
      (dec(col("_b2")) * dec(col("_c2"))).cast("double"))
    val rr = d6((dec(col("_a2")) * dec(col("_c2") + col("_d2")))
      .cast("double") /
      (dec(col("_c2")) * dec(col("_a2") + col("_b2"))).cast("double"))
    val staged2 = staged.withColumn("odds_ratio", or)
      .withColumn("risk_ratio", rr)
      .withColumn("_logOr", d6(log(col("odds_ratio"))))
      .withColumn("_se", d6(sqrt(
        lit(2.0) / col("_a2").cast("double") +
          lit(2.0) / col("_b2").cast("double") +
          lit(2.0) / col("_c2").cast("double") +
          lit(2.0) / col("_d2").cast("double"))))
    val z = d6(col("_logOr") / col("_se"))
    staged2.select(
      col("n_exposed_pos"), col("n_exposed_neg"),
      col("n_control_pos"), col("n_control_neg"), col("corrected"),
      col("odds_ratio"), col("risk_ratio"),
      z.as("z_stat"),
      (abs(z) >= 1.959964).cast("int").as("significant"))
  }

  /** Kendall's coefficient of concordance W — the EFFECT SIZE next to
    * [[friedmanTest]]'s p-value: how strongly do the n items' rankings
    * of k systems agree, on [0, 1] (1 = every item ranks the systems
    * identically). Tie-corrected (midranks):
    *
    *   W = 3·Σ_j (R2_j − n(k+1))² / (n²k(k²−1) − n·ΣT)
    *
    * with R2_j the doubled rank sums (so the deviations are exact
    * integers), ΣT = Σ_items Σ(t³−t). EXACT rational → ONE d6. The
    * denominator is 0 only when every item ties all k systems — W is
    * undefined there and answers NULL. Same complete-block loud audit
    * as Friedman.
    */
  def kendallW(
      df: DataFrame,
      itemCol: String,
      systemCol: String,
      valueCol: String): DataFrame = {
    val (base, ranked, tiesRow, audit) =
      completeBlocks(df, itemCol, systemCol, valueCol)
    val bySys = base.join(ranked, Seq("_i", "_v"))
      .groupBy(col("_sys"))
      .agg(sum(col("_r2")).as("_r2s"))
    val agg = bySys
      .crossJoin(broadcast(audit))
      .select(col("_r2s"), col("_n"), col("_k"), col("_cells"),
        col("_maxDup"),
        (dec(col("_r2s")) - dec(col("_n")) * dec(col("_k") + 1L))
          .as("_d"))
      .groupBy(col("_n"), col("_k"), col("_cells"), col("_maxDup"))
      .agg(sum(col("_d") * col("_d")).as("_s4"))
      .crossJoin(broadcast(tiesRow))
    val checked = agg.withColumn("_k",
      when(col("_k") >= 2L && col("_n") >= 1L && col("_maxDup") === 1L &&
          col("_cells") === col("_n") * col("_k"), col("_k"))
        .otherwise(raise_error(concat(
          lit("kendallW: need a complete block design (every item "),
          lit("scores every system exactly once) with k >= 2 systems; "),
          lit("got n_items="), col("_n").cast("string"),
          lit(", k_systems="), col("_k").cast("string"),
          lit(", cells="), col("_cells").cast("string"),
          lit(", max_dup="), col("_maxDup").cast("string")))
          .cast("long")))
    val nD = dec(col("_n"))
    val kD = dec(col("_k"))
    val den = nD * nD * kD * (kD * kD - lit(1L).cast("decimal(38,0)")) -
      nD * col("_ties")
    val wStat = when(den > 0L,
      d6((lit(3L).cast("decimal(38,0)") * col("_s4")).cast("double") /
        den.cast("double")))
    checked.select(col("_n").as("n_items"), col("_k").as("k_systems"),
      wStat.as("w"))
  }

  /** Brown–Forsythe variance-homogeneity test (Levene's test with the
    * MEDIAN center — the robust form): one-way ANOVA F on the absolute
    * deviations z_ij = |x_ij − median_j|. The pre-flight check for
    * [[anovaOneWay]]/[[welchTTest]] ("are the arms' spreads even
    * comparable?") and a drift alarm in its own right — a slice whose
    * VARIANCE moved while its mean held is invisible to every mean
    * test.
    *
    * Everything before the final F is exact integers: the per-group
    * median is computed in DOUBLED units (med2 = x_(⌈n/2⌉) + x_(⌊n/2⌋₊₁),
    * two order statistics picked by cumulative counts over the
    * per-group distinct-value frame — integral even for even n), so
    * z2 = |2x − med2| is integer; F on z2 equals F on z because the
    * ANOVA ratio is scale-invariant. Sufficient stats and the F/η²
    * assembly follow [[anovaOneWay]] verbatim (d6-per-group decimal
    * sums, NULL F on zero within-variance, loud k/N guards).
    *
    * Scale shape: one (group, value) aggregate; medians and z-stats
    * ride value-domain-bounded frames (GK-sketch class); one final
    * k-row rollup. The corpus is touched ONCE.
    */
  def brownForsythe(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val byGV = df.groupBy(col(groupCol).cast("string").as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = byGV.select(col("_g"), col("_v"), col("_c"),
      coalesce(sum(col("_c")).over(wg), lit(0L)).as("_cb"))
      .join(byGV.groupBy(col("_g")).agg(sum(col("_c")).as("_n")),
        Seq("_g"))
    // the two middle order statistics (1-indexed ⌈n/2⌉ and ⌊n/2⌋+1):
    // a value v covers position p iff cumBefore < p ≤ cumBefore + t
    val lo = floor((col("_n") + 1L) / lit(2.0)).cast("long")
    val hi = floor(col("_n") / lit(2.0)).cast("long") + 1L
    val med = cum.groupBy(col("_g"), col("_n"))
      .agg((max(when(col("_cb") < lo && lo <= col("_cb") + col("_c"),
          col("_v"))) +
        max(when(col("_cb") < hi && hi <= col("_cb") + col("_c"),
          col("_v")))).as("_med2"))
      .select(col("_g"), col("_med2"))
    val z = byGV.join(med, Seq("_g"))
      .select(col("_g"), col("_c"),
        abs(lit(2L) * col("_v") - col("_med2")).as("_z2"))
    val byG = z.groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
        sum(dec(col("_c")) * dec(col("_z2"))).as("_s"),
        sum(dec(col("_c")) * dec(col("_z2")) * dec(col("_z2"))).as("_q"))
    val staged = anovaSums(byG, "brownForsythe")
    val dfB = (col("k_groups") - 1L).cast("double")
    val dfW = (col("n_rows") - col("k_groups")).cast("double")
    staged.select(col("k_groups"), col("n_rows"),
      col("ss_between"), col("ss_within"),
      when(col("ss_within") > 0.0,
        d6((col("ss_between") / dfB) / (col("ss_within") / dfW)))
        .as("f_stat"))
  }

  /** Population Stability Index per key — THE industry drift score
    * between a reference and a current slice of a numeric feature:
    * bin by the REFERENCE deciles (rank-exact order statistics), then
    * PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref), with +1 Laplace
    * smoothing on the bin counts so empty bins score finitely
    * (< 0.1 stable / 0.1–0.2 drifting / > 0.2 shifted — the credit-
    * scoring rule of thumb). The monitoring partner of q256's drift
    * battery: JS/Wasserstein compare distributions symmetrically; PSI
    * is the binned, reference-anchored report reviewers expect.
    *
    * Determinism: values quantize to the floor(v·1000) grid; bin
    * edges are EXACT reference order statistics at ranks ⌈k·n/B⌉
    * (ties resolved by the total (value, id) order); assignment is
    * integer comparison against the ≤B−1 edge literals; each PSI
    * term d6-rounds before the order-free decimal sum and the total
    * closes with ONE d6. Keys missing either slice answer NULL.
    *
    * Scale shape: one per-key ordered rank window over the REFERENCE
    * slice (edges = B−1 rows kept), broadcast edges onto the corpus
    * scan, one (key, slice, bin) aggregate + keyed rollup — the bin
    * frame pays, never the corpus.
    */
  def psi(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      isRefCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins must be in [2,100], got $bins")
    val binned = psiBinCounts(df, keyCol, idCol, valueCol, isRefCol, bins)
    val tot = binned.groupBy(col("_k"))
      .agg(sum(col("_cr")).as("_nr"), sum(col("_cc")).as("_nc"))
    // Laplace: p = (c+1)/(n+B) over ALL B bins — absent bins
    // contribute the constant term on each side, added in closed form
    val withTot = binned.join(tot, Seq("_k"))
      .filter(col("_nr") > 0L && col("_nc") > 0L)
    val pr = (col("_cr") + 1L).cast("double") /
      (col("_nr") + bins.toLong).cast("double")
    val pc = (col("_cc") + 1L).cast("double") /
      (col("_nc") + bins.toLong).cast("double")
    val term = d6((pc - pr) * log(pc / pr)).cast("decimal(28,6)")
    val prEmpty = lit(1.0) / (col("_nr") + bins.toLong).cast("double")
    val pcEmpty = lit(1.0) / (col("_nc") + bins.toLong).cast("double")
    val emptyTerm = d6((pcEmpty - prEmpty) * log(pcEmpty / prEmpty))
      .cast("decimal(28,6)")
    tot.join(
      withTot.groupBy(col("_k"))
        .agg(sum(term).as("_s"), count(lit(1)).as("_nbins"),
          max(emptyTerm).as("_et")),
      Seq("_k"), "left")
      .select(col("_k").as(keyCol), col("_nr").as("n_ref"),
        col("_nc").as("n_cur"),
        when(col("_nr") > 0L && col("_nc") > 0L,
          d6(col("_s").cast("double") +
            (lit(bins.toLong) - col("_nbins")).cast("double") *
              col("_et"))).as("psi"))
  }

  /** The binned-counts stage [[psi]] is built on, public so a
    * streaming twin can stage the identical (key, bin) count frame:
    * reference-decile edges from exact rank order statistics, integer
    * bin assignment against the broadcast edge literals, one
    * (key, bin) aggregate of reference/current counts. Output:
    * (_k, _bin, _cr, _cc); keys with no reference rows are absent
    * (no deciles to bin by — the documented omission).
    */
  def psiBinCounts(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      isRefCol: String,
      bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins must be in [2,100], got $bins")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("_k"),
      col(idCol).as("_id"),
      floor(col(valueCol).cast("double") * 1000.0).cast("long").as("_v"),
      col(isRefCol).cast("boolean").as("_r"))
    val ref = base.filter(col("_r"))
    val wr = W.partitionBy(col("_k")).orderBy(col("_v").asc, col("_id").asc)
    val nRef = ref.groupBy(col("_k")).agg(count(lit(1)).as("_n"))
    // edge k (k = 1..B-1) = the ⌈k·n/B⌉-th order statistic
    val ranked = ref.withColumn("_rn", row_number().over(wr))
      .join(nRef, Seq("_k"))
      .withColumn("_edge",
        explode(expr(s"filter(transform(sequence(1, ${bins - 1}), " +
          s"k -> IF(_rn = CAST(ceil(k * _n / ${bins}.0) AS BIGINT), " +
          "k, -1)), k -> k >= 0)")))
      .select(col("_k"), col("_edge"), col("_v").as("_ev"))
    val edges = ranked.groupBy(col("_k"))
      .agg(expr("transform(array_sort(collect_list(" +
        "struct(_edge, _ev))), p -> p._ev)").as("_edges"))
    base.join(broadcast(edges), Seq("_k"))
      .withColumn("_bin",
        expr("1 + aggregate(_edges, CAST(0 AS BIGINT), " +
          "(a, e) -> a + IF(_v > e, 1, 0))"))
      .groupBy(col("_k"), col("_bin"))
      .agg(sum(when(col("_r"), 1L).otherwise(0L)).as("_cr"),
        sum(when(!col("_r"), 1L).otherwise(0L)).as("_cc"))
  }

  /** Clustering-agreement scores between two labelings of the same
    * rows — Adjusted Rand Index (Hubert & Arabie 1985) and Normalized
    * Mutual Information (sqrt normalization): THE evaluation pair for
    * any clustering this engine produces (DBSCAN q347, LPA q384,
    * Lloyd codebooks) against ground truth or against each other.
    * ARI = 1 exact agreement, ≈ 0 chance; NMI ∈ [0,1].
    *
    * Determinism: the contingency table and all C(x,2) pair counts
    * are EXACT integers, so ARI is ONE d6 division of cleared decimal
    * forms — ari = 2(c2·Σij − Σa·Σb) / (c2(Σa+Σb) − 2·Σa·Σb); NMI's
    * ln terms d6-round each before order-free decimal sums and the
    * final ratio is one d6 (n·ln-form: I and H computed in the
    * n-scaled basis where every log argument is a ratio of integers).
    * Degenerate splits (a single cluster on either side → H = 0 or
    * the ARI denominator 0) answer NULL for that score.
    *
    * Scale shape: one (labelA, labelB) contingency aggregate
    * (map-side combinable), two marginal rollups, three 1-row frames
    * — the label-pair frame pays, never the corpus.
    */
  def clusterAgreement(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    def c2(c: Column) = dec(c) * dec(c - 1L) / lit(2)
    val cont = df.select(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_nij"))
    val ma = cont.groupBy(col("_a")).agg(sum(col("_nij")).as("_ai"))
    val mb = cont.groupBy(col("_b")).agg(sum(col("_nij")).as("_bj"))
    val n1 = ma.agg(sum(col("_ai")).as("_n"),
      count(lit(1)).as("n_clusters_a"), sum(c2(col("_ai"))).as("_sa"))
    val n2 = mb.agg(count(lit(1)).as("n_clusters_b"),
      sum(c2(col("_bj"))).as("_sb"))
    val sij = cont.agg(sum(c2(col("_nij"))).as("_sij"))
    // NMI in the n-scaled basis: I·n = Σij nij·ln(n·nij/(ai·bj)),
    // H_a·n = −Σ ai·ln(ai/n) — every ln argument a ratio of exact
    // integers; each term d6 before the decimal sum
    val termI = cont.join(ma, Seq("_a")).join(mb, Seq("_b"))
      .crossJoin(broadcast(n1.select(col("_n"))))
      .select(d6(col("_nij").cast("double") *
        log(col("_n").cast("double") * col("_nij").cast("double") /
          (col("_ai").cast("double") * col("_bj").cast("double"))))
        .cast("decimal(28,6)").as("_ti"))
      .agg(sum(col("_ti")).as("_i6"))
    val ha = ma.crossJoin(broadcast(n1.select(col("_n"))))
      .select(d6(-col("_ai").cast("double") *
        log(col("_ai").cast("double") / col("_n").cast("double")))
        .cast("decimal(28,6)").as("_th"))
      .agg(sum(col("_th")).as("_ha6"))
    val hb = mb.crossJoin(broadcast(n1.select(col("_n"))))
      .select(d6(-col("_bj").cast("double") *
        log(col("_bj").cast("double") / col("_n").cast("double")))
        .cast("decimal(28,6)").as("_th"))
      .agg(sum(col("_th")).as("_hb6"))
    val joined = n1.crossJoin(broadcast(n2))
      .crossJoin(broadcast(sij)).crossJoin(broadcast(termI))
      .crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
    val cn2 = c2(col("_n"))
    val ariNum = lit(2) * (cn2 * col("_sij") - col("_sa") * col("_sb"))
    val ariDen = cn2 * (col("_sa") + col("_sb")) -
      lit(2) * col("_sa") * col("_sb")
    joined.select(col("_n").as("n_rows"),
      col("n_clusters_a"), col("n_clusters_b"),
      when(ariDen =!= 0,
        d6(ariNum.cast("double") / ariDen.cast("double"))).as("ari"),
      when(col("_ha6") > 0 && col("_hb6") > 0,
        d6(col("_i6").cast("double") /
          sqrt(col("_ha6").cast("double") * col("_hb6").cast("double"))))
        .as("nmi"))
  }

  /** Two-sample Cramér–von Mises test per key — the whole-
    * distribution partner of [[wasserstein1]] and the KS entry:
    * where KS reads the single worst CDF gap, CvM integrates the
    * squared gap over the WHOLE range, so it catches spread/tail
    * drift KS under-weights. Anderson's two-sample form:
    *
    *   U = n·Σ_i (r_i − i)² + m·Σ_j (s_j − j)²
    *   T = U/(n·m·(n+m)) − (4nm − 1)/(6(n+m))
    *
    * with r/s = ranks in the combined sample. Ranks use the TOTAL
    * (value, id) order — a deterministic tie resolution, documented:
    * under heavy ties T depends on the id order within a tie run
    * (the doubled-unit midrank refinement is not worth the formula's
    * asymptotics being tie-approximate anyway). U and both rank sums
    * are EXACT integers; T is one fixed double chain closed by d6;
    * `significant` is T ≥ 0.461 (the asymptotic 5% point).
    *
    * Scale shape: one per-key ordered rank window + per-slice
    * position windows + ONE keyed aggregate — the series frame pays.
    */
  def cramerVonMises(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      inXCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("_k"), col(idCol).as("_id"),
      floor(col(valueCol).cast("double") * 1000.0).cast("long").as("_v"),
      col(inXCol).cast("boolean").as("_x"))
    val wAll = W.partitionBy(col("_k"))
      .orderBy(col("_v").asc, col("_id").asc)
    val wSlice = W.partitionBy(col("_k"), col("_x"))
      .orderBy(col("_v").asc, col("_id").asc)
    val ranked = base
      .withColumn("_r", row_number().over(wAll).cast("long"))
      .withColumn("_i", row_number().over(wSlice).cast("long"))
    val agg = ranked.groupBy(col("_k"))
      .agg(sum(when(col("_x"), 1L).otherwise(0L)).as("n_x"),
        sum(when(!col("_x"), 1L).otherwise(0L)).as("n_y"),
        sum(when(col("_x"),
          dec((col("_r") - col("_i"))) * dec(col("_r") - col("_i")))
          .otherwise(dec(lit(0L)))).as("_ux"),
        sum(when(!col("_x"),
          dec((col("_r") - col("_i"))) * dec(col("_r") - col("_i")))
          .otherwise(dec(lit(0L)))).as("_uy"))
    val n = col("n_x").cast("double")
    val m = col("n_y").cast("double")
    val u = (dec(col("n_x")) * col("_ux") + dec(col("n_y")) * col("_uy"))
      .cast("double")
    val t = when(col("n_x") > 0L && col("n_y") > 0L,
      d6(u / (n * m * (n + m)) -
        (lit(4.0) * n * m - 1.0) / (lit(6.0) * (n + m))))
    agg.select(col("_k").as(keyCol), col("n_x"), col("n_y"),
      t.as("t_stat"),
      when(t.isNotNull, (t >= 0.461).cast("int")).as("significant"))
  }

  /** Exact WEIGHTED percentiles per key — the corpus-planning form of
    * a quantile: "the median BYTE lives in a document of length X"
    * (value = doc length, weight = bytes), "the p90 training token
    * comes from a source of quality Y". Plain percentiles answer
    * per-ROW questions; weighted ones answer per-UNIT questions, and
    * at 100 TB the unit (bytes, tokens) is what capacity planning
    * bills.
    *
    * EXACT: integer weights accumulate in a cumulative window over
    * the total (value, id) order; the percentile q‰ picks the FIRST
    * value whose cumulative weight clears q·W/1000 — compared as
    * cumw·1000 ≥ q‰·W, pure integers, no division anywhere. One row
    * per (key, q‰).
    *
    * Scale shape: one per-key ordered cumulative window + one keyed
    * total + a bounded |qs| explode and a first-hit min — the sorted
    * key frame pays once for ALL requested percentiles.
    */
  def weightedPercentiles(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      weightCol: String,
      qsPermille: Seq[Int] = Seq(250, 500, 750, 900)): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 1 && q <= 999),
      s"each q must be in [1,999] permille, got $qsPermille")
    require(qsPermille.distinct.size == qsPermille.size,
      "qs must be distinct")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("_k"), col(idCol).as("_id"),
      col(valueCol).cast("long").as("_v"),
      col(weightCol).cast("long").as("_w"))
      .filter(col("_w") > 0L)
    val wc = W.partitionBy(col("_k"))
      .orderBy(col("_v").asc, col("_id").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = base.withColumn("_cw", sum(col("_w")).over(wc))
    val tot = base.groupBy(col("_k")).agg(sum(col("_w")).as("_tw"))
    cum.join(tot, Seq("_k"))
      .select(col("_k"), col("_v"), col("_cw"), col("_tw"),
        explode(array(qsPermille.map(q => lit(q.toLong)): _*)).as("_q"))
      .filter(col("_cw") * 1000L >= col("_q") * col("_tw"))
      .groupBy(col("_k"), col("_q"))
      .agg(min(col("_v")).as("value"), max(col("_tw")).as("total_weight"))
      .select(col("_k").as(keyCol), col("_q").as("q_permille"),
        col("value"), col("total_weight"))
  }

  /** Chao1 vocabulary-richness estimate per key — "how many distinct
    * types does this corpus REALLY have, counting the ones we haven't
    * seen yet": chao1 = V + f1(f1−1)/(2(f2+1)) (the bias-corrected
    * form, finite even with no doubletons) from the frequency-of-
    * frequency table, plus Good–Turing sample coverage 1 − f1/N — the
    * capacity-planning pair for tokenizer vocab sizing and dedup-rate
    * forecasting (Chao 1984; the abundance twin of q327's Good–Turing
    * smoothing, which re-estimates probabilities rather than richness).
    *
    * EXACT integer sufficient stats (V, f1, f2, N); chao1 and
    * coverage each ONE d6.
    *
    * Scale shape: token aggregate → (key, freq) aggregate → keyed
    * rollup; all map-side combinable.
    */
  def chao1(
      df: DataFrame,
      keyCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(keyCol).as("_k"),
      explode(expr(TextStats.wordArraySql(textCol)))
        .as("_t"))
    val tc = tok.groupBy(col("_k"), col("_t"))
      .agg(count(lit(1)).as("_c"))
    tc.groupBy(col("_k"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("_c")).as("n_tokens"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("_c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("_k").as(keyCol), col("n_types"), col("n_tokens"),
        col("f1"), col("f2"),
        d6(col("n_types").cast("double") +
          col("f1").cast("double") * (col("f1") - 1L).cast("double") /
            (lit(2.0) * (col("f2") + 1L).cast("double"))).as("chao1"),
        when(col("n_tokens") > 0L,
          d6(lit(1.0) - col("f1").cast("double") /
            col("n_tokens").cast("double"))).as("coverage"))
  }

  /** Platt scaling — fit p = σ(a·score + b) by `steps` full Newton
    * iterations (Platt 1999): the parametric calibrator next to
    * q295's isotonic (monotone, non-parametric) and q324's
    * calibration ERROR (which only measures): this one FIXES an
    * uncalibrated score column so thresholds mean probabilities.
    *
    * REPLAYABLE-TRAINING determinism (the q218/q220 discipline):
    * scores snap to the floor(·1000) grid; every per-row gradient /
    * Hessian / loss term d6-rounds before its order-free decimal sum;
    * (a, b) re-d6 after each Newton update — an independent engine
    * replays the whole trajectory bit-for-bit. exp's libm ulp spread
    * is absorbed by the per-term d6 (the established cos/sin
    * contract). A singular Hessian (constant scores or one-class
    * labels) poisons (a, b) to NULL — answer, not crash.
    *
    * Scale shape: `steps` chained [corpus aggregate → 1-row broadcast
    * params] rounds, ENTIRELY in-plan (no driver collect): each round
    * is one map-side-combinable aggregate; the final row adds the
    * d6 log-loss at the fitted params.
    */
  def plattScaling(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      steps: Int = 6): DataFrame = {
    require(steps >= 1 && steps <= 12,
      s"steps must be in [1,12], got $steps")
    val base = df.select(
      (floor(col(scoreCol).cast("double") * 1000.0).cast("long")
        .cast("double") / 1000.0).as("_s"),
      flag01("plattScaling", "label", col(labelCol), "double").as("_y"))
    var params = df.sparkSession.range(1)
      .select(lit(0.0).as("_a"), lit(0.0).as("_b"))
    (1 to steps).foreach { _ =>
      val j = base.crossJoin(broadcast(params))
      val p = lit(1.0) / (lit(1.0) + exp(-(col("_a") * col("_s") + col("_b"))))
      val w = p * (lit(1.0) - p)
      val sums = j.agg(
        sum(d28(d6((p - col("_y")) * col("_s")))).as("_g1"),
        sum(d28(d6(p - col("_y")))).as("_g2"),
        sum(d28(d6(w * col("_s") * col("_s")))).as("_h11"),
        sum(d28(d6(w * col("_s")))).as("_h12"),
        sum(d28(d6(w))).as("_h22"),
        max(col("_a")).as("_a0"), max(col("_b")).as("_b0"))
      val g1 = col("_g1").cast("double")
      val g2 = col("_g2").cast("double")
      val h11 = col("_h11").cast("double")
      val h12 = col("_h12").cast("double")
      val h22 = col("_h22").cast("double")
      val det = h11 * h22 - h12 * h12
      params = sums.select(
        when(det > 0.0,
          d6(col("_a0") - (g1 * h22 - g2 * h12) / det)).as("_a"),
        when(det > 0.0,
          d6(col("_b0") - (g2 * h11 - g1 * h12) / det)).as("_b"))
    }
    val fin = base.crossJoin(broadcast(params))
    val pf = lit(1.0) / (lit(1.0) + exp(-(col("_a") * col("_s") + col("_b"))))
    fin.agg(count(lit(1)).as("n_rows"),
      sum(col("_y").cast("long")).as("n_pos"),
      max(col("_a")).as("a"), max(col("_b")).as("b"),
      sum(d28(d6(-(col("_y") * log(pf) +
        (lit(1.0) - col("_y")) * log(lit(1.0) - pf))))).as("_ll"))
      .select(col("n_rows"), col("n_pos"), col("a"), col("b"),
        when(col("a").isNotNull,
          d6(col("_ll").cast("double") / col("n_rows").cast("double")))
          .as("log_loss"))
  }

  /** One-covariate Cox proportional-hazards fit per key (Breslow tie
    * handling, `steps` full Newton rounds on the partial likelihood)
    * — the MODEL tier of the survival family: q302's Kaplan–Meier
    * and q363's Nelson–Aalen describe "when do they convert/churn";
    * Cox answers "does this covariate CHANGE the hazard, and by what
    * ratio" (Cox 1972). Output per key: β, hazard_ratio = e^β, the
    * observed-information SE and Wald z.
    *
    * REPLAYABLE-TRAINING determinism (q392's Platt discipline):
    * covariates are integer-quantized; per-row risk terms e^(βx),
    * x·e^(βx), x²·e^(βx) each d6 before per-time decimal sums; risk
    * sets are reverse-cumulative DECIMAL sums over the distinct-time
    * frame; each event-time's score/information contribution d6s
    * before the order-free decimal rollup; β re-d6s per round. An
    * engine replaying the chain reproduces the trajectory bit-for-bit
    * (exp's libm ulp absorbed per-term). Non-positive information
    * (no events, or a constant covariate) poisons β to NULL.
    *
    * Scale shape: `steps` chained rounds of [corpus-frame projection
    * → (key, time) aggregate → per-key ordered cumulative window →
    * keyed rollup → ≤keys-row broadcast params]; the distinct-time
    * frame (the bucketed survival axis, never the corpus) carries the
    * windows. No driver collect.
    */
  def coxPh(
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      eventCol: String,
      xCol: String,
      steps: Int = 6): DataFrame = {
    require(steps >= 1 && steps <= 12,
      s"steps must be in [1,12], got $steps")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("_k"),
      col(timeCol).cast("long").as("_t"),
      flag01("coxPh", "event flag", col(eventCol)).as("_d"),
      col(xCol).cast("long").as("_x"))
    var params = base.groupBy(col("_k"))
      .agg(count(lit(1)).as("_nr"), sum(col("_d")).as("_ne"))
      .withColumn("_beta", lit(0.0))
    val wRev = W.partitionBy(col("_k")).orderBy(col("_t").desc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def risk(j: DataFrame): DataFrame = {
      val e = exp(col("_beta") * col("_x").cast("double"))
      val perT = j.groupBy(col("_k"), col("_t"))
        .agg(sum(d28(d6(e))).as("_w0"),
          sum(d28(d6(col("_x").cast("double") * e))).as("_w1"),
          sum(d28(d6(col("_x").cast("double") *
            col("_x").cast("double") * e))).as("_w2"),
          sum(col("_d")).as("_dc"),
          sum(col("_d") * col("_x")).as("_dx"),
          max(col("_beta")).as("_b0"))
      perT
        .withColumn("_s0", sum(col("_w0")).over(wRev).cast("double"))
        .withColumn("_s1", sum(col("_w1")).over(wRev).cast("double"))
        .withColumn("_s2", sum(col("_w2")).over(wRev).cast("double"))
    }
    (1 to steps).foreach { _ =>
      val j = base.join(
        broadcast(params.select(col("_k"), col("_beta"))), Seq("_k"))
      val cum = risk(j).filter(col("_dc") > 0L)
      val r = col("_s1") / col("_s0")
      val ut = d6(col("_dx").cast("double") -
        col("_dc").cast("double") * r)
      val it = d6(col("_dc").cast("double") *
        (col("_s2") / col("_s0") - r * r))
      val agg = cum.groupBy(col("_k"))
        .agg(sum(d28(ut)).as("_uu"), sum(d28(it)).as("_ii"),
          max(col("_b0")).as("_b0"))
      params = params.drop("_beta").join(
        agg.select(col("_k"),
          when(col("_ii").cast("double") > 0.0,
            d6(col("_b0") + col("_uu").cast("double") /
              col("_ii").cast("double"))).as("_beta")),
        Seq("_k"), "left")
    }
    // observed information at the FITTED beta → SE and Wald z
    val jf = base.join(
      broadcast(params.select(col("_k"), col("_beta"))), Seq("_k"))
    val cumF = risk(jf).filter(col("_dc") > 0L)
    val rF = col("_s1") / col("_s0")
    val itF = d6(col("_dc").cast("double") *
      (col("_s2") / col("_s0") - rF * rF))
    val infoF = cumF.groupBy(col("_k"))
      .agg(sum(d28(itF)).as("_if"))
    params.join(infoF, Seq("_k"), "left")
      .select(col("_k").as(keyCol), col("_nr").as("n_rows"),
        col("_ne").as("n_events"), col("_beta").as("beta"),
        when(col("_beta").isNotNull, d6(exp(col("_beta"))))
          .as("hazard_ratio"),
        when(col("_beta").isNotNull && col("_if").cast("double") > 0.0,
          d6(lit(1.0) / sqrt(col("_if").cast("double")))).as("se"),
        when(col("_beta").isNotNull && col("_if").cast("double") > 0.0,
          d6(col("_beta") /
            d6(lit(1.0) / sqrt(col("_if").cast("double"))))).as("z"))
  }

  /** Two-regressor OLS battery per key — y ~ b0 + b1·x1 + b2·x2 with
    * the full report an analyst reads: slopes, R², and per-slope t
    * statistics. [[Timeseries.granger]] runs this regression
    * internally for ONE question (does x add predictive value); this
    * is the general-purpose surface — seasonality + trend on volumes,
    * treatment + covariate on metrics — for any integer-valued y/x
    * (the module's exact-sufficient-stats contract; quantize first).
    *
    * Determinism: all ten raw sums are exact decimal(38,0)
    * ([[crossMoments]]); the [[cleared]] centered forms stay decimal;
    * slopes, rss, r², σ² and each t close in ONE FIXED staged d6 chain
    * (Cramer on the 2×2 normal equations; Var(b̂1) = σ²·n·s22/det in
    * the cleared basis). Collinear regressors or zero y-variance
    * answer NULL (det/syy guards); n < 4 fails loudly.
    *
    * Scale shape: ONE keyed aggregate over the corpus — ten sums with
    * map-side combine; everything after runs on the keys frame.
    */
  def ols2(
      df: DataFrame,
      keyCol: String,
      yCol: String,
      x1Col: String,
      x2Col: String): DataFrame = {
    val base = df.select(col(keyCol).as("_k"),
      col(yCol).cast("long").as("_y"),
      col(x1Col).cast("long").as("_u"), col(x2Col).cast("long").as("_v"))
    val agg = crossMoments(base.groupBy(col("_k")), "_n",
      "y", "u", "v", "yy", "yu", "yv", "uu", "uv", "vv")
    val checked = agg.withColumn("_n",
      when(col("_n") >= 4L, col("_n"))
        .otherwise(raise_error(concat(
          lit("ols2: need >= 4 observations, got "),
          col("_n").cast("string"))).cast("long")))
    def c2(sab: String, sa: String, sb: String): Column =
      cleared("_n", sab, sa, sb).cast("double")
    val syy = c2("_syy", "_sy", "_sy")
    val s1y = c2("_syu", "_su", "_sy")
    val s2y = c2("_syv", "_sv", "_sy")
    val s11 = c2("_suu", "_su", "_su")
    val s12 = c2("_suv", "_su", "_sv")
    val s22 = c2("_svv", "_sv", "_sv")
    val det = s11 * s22 - s12 * s12
    val ok = det > 0.0 && syy > 0.0
    val b1 = when(ok, d6((s1y * s22 - s2y * s12) / det))
    val b2 = when(ok, d6((s2y * s11 - s1y * s12) / det))
    val staged = checked.select(col("_k"), col("_n"),
      syy.as("_cyy"), s1y.as("_c1y"), s2y.as("_c2y"),
      s11.as("_c11"), s12.as("_c12"), s22.as("_c22"),
      det.as("_det"), b1.as("slope_x1"), b2.as("slope_x2"))
    val n = col("_n").cast("double")
    val rss = when(col("slope_x1").isNotNull,
      d6((col("_cyy") - col("slope_x1") * col("_c1y") -
        col("slope_x2") * col("_c2y")) / n))
    val staged2 = staged.select(col("_k"), col("_n"),
      col("slope_x1"), col("slope_x2"),
      col("_cyy"), col("_c1y"), col("_c2y"), col("_c11"), col("_c22"),
      col("_det"), rss.as("_rss"),
      when(col("slope_x1").isNotNull,
        d6((col("slope_x1") * col("_c1y") +
          col("slope_x2") * col("_c2y")) / col("_cyy"))).as("r2"))
    val sigma2 = when(col("_rss").isNotNull,
      d6(col("_rss") / (col("_n") - 3L).cast("double")))
    val staged3 = staged2.select(col("_k"), col("_n"),
      col("slope_x1"), col("slope_x2"), col("r2"),
      col("_c11"), col("_c22"), col("_det"),
      sigma2.as("_sig2"))
    def tStat(b: Column, sOther: Column): Column =
      when(b.isNotNull && col("_sig2") > 0.0,
        d6(b / d6(sqrt(col("_sig2") * col("_n").cast("double") *
          sOther / col("_det")))))
    staged3.select(col("_k").as(keyCol), col("_n").as("n_obs"),
      col("slope_x1"), col("slope_x2"), col("r2"),
      tStat(col("slope_x1"), col("_c22")).as("t_x1"),
      tStat(col("slope_x2"), col("_c11")).as("t_x2"))
  }

  /** The two-group risk sets of a survival test: one row per event
    * time `_t` (`_d` > 0) with its rows `_n`, group-1 rows `_n1`, events
    * `_d` and group-1 events `_d1`, and the at-risk counts `_nr`/`_n1r`
    * (everyone with duration ≥ t, a reverse cumulative window over the
    * distinct-duration frame). The group flag must be 0/1 — loud,
    * naming `op`.
    */
  private def riskSets(df: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, op: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val g = flag01(op, "group flag", col(groupCol))
    val byT = df
      .select(col(durationCol).cast("long").as("_t"),
        col(eventCol).cast("long").as("_d"), g.as("_g"))
      .groupBy(col("_t"))
      .agg(count(lit(1)).as("_n"), sum(col("_g")).as("_n1"),
        sum(col("_d")).as("_d"), sum(col("_d") * col("_g")).as("_d1"))
    val wRev = W.partitionBy(lit(1)).orderBy(col("_t").asc)
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    byT
      .withColumn("_nr", sum(col("_n")).over(wRev))
      .withColumn("_n1r", sum(col("_n1")).over(wRev))
      .filter(col("_d") > 0L)
  }

  /** Two-group log-rank test (Mantel 1966) — "do these two survival
    * curves differ?", the hypothesis-test partner of [[kaplanMeier]]
    * (curve), [[nelsonAalen]] (hazard) and [[coxPh]] (model): at every
    * distinct event time pool both groups, compare group-1's observed
    * event count against its at-risk-proportional expectation, and sum
    * the hypergeometric variance. Z = (O₁−E₁)/√V, χ² = Z² against
    * χ²(1) (3.84 at 5% — a constant, no CDF in the plan).
    *
    * Determinism: O₁ is an exact long; each E₁ₜ/Vₜ term is ONE d6
    * (fixed multiply-divide order) summed in decimal; Z and χ² close
    * with one d6 each (χ² squares the already-d6 Z). Rows with zero
    * pooled events contribute nothing; a time where n_risk = 1 has
    * zero variance by the (n−d)/(n−1) factor's 0/0 → skipped via the
    * d=n guard arithmetic (term is 0 there since n−d = 0).
    *
    * Scale shape: ONE (duration)-keyed aggregate with group-conditional
    * sums, two reverse-cumulative windows over the distinct-duration
    * frame (time-scale bounded, not corpus bounded), one global rollup.
    * The group flag must be 0/1 — anything else fails loudly in-plan.
    */
  def logRank(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      groupCol: String): DataFrame = {
    val risk = riskSets(df, durationCol, eventCol, groupCol, "logRank")
    val p1 = col("_n1r").cast("double") / col("_nr").cast("double")
    val eTerm = d6(col("_d").cast("double") * p1)
    val vTerm = when(col("_nr") > 1L,
      d6(col("_d").cast("double") * p1 * (lit(1.0) - p1) *
        (col("_nr") - col("_d")).cast("double") /
        (col("_nr") - 1L).cast("double")))
      .otherwise(lit(0.0))
    val agg = risk.agg(
      sum(col("_d1")).as("o1"),
      sum(d28(eTerm)).as("_e1"), sum(d28(vTerm)).as("_v"))
    agg.select(col("o1").as("n_events_g1"),
      col("_e1").cast("double").as("expected_g1"),
      col("_v").cast("double").as("variance"),
      when(col("_v").cast("double") > 0.0,
        d6((col("o1").cast("double") - col("_e1").cast("double")) /
          sqrt(col("_v").cast("double")))).as("z"))
      .withColumn("chi2",
        when(col("z").isNotNull, d6(col("z") * col("z"))))
      .withColumn("significant",
        when(col("chi2").isNotNull,
          (col("chi2") >= 3.841459).cast("int")).otherwise(lit(0)))
  }

  /** Jarque–Bera normality test per key (Jarque & Bera 1980) — the
    * moment-based "is this metric even roughly normal?" gate an
    * analyst runs BEFORE trusting a t-test/ANOVA readout: JB =
    * n/6·(skew² + (kurt−3)²/4) against χ²(2) (5.991459 at 5%).
    *
    * Determinism: the four raw power sums are exact decimal(38,0)
    * (module contract: integer-valued metric — quantize first), and
    * the n-cleared central forms stay exact decimal — M₂ = nS₂−S₁²,
    * M₃ = n²S₃−3nS₁S₂+2S₁³, M₄ = n³S₄−4n²S₁S₃+6nS₁²S₂−3S₁⁴. The
    * n-powers CANCEL in both ratios (skew = M₃/M₂^{3/2}, kurt =
    * M₄/M₂²), so each closes in ONE d6 from exact inputs; JB re-d6s
    * from the d6'd skew/kurt. Zero variance answers NULL. The x⁴ sum
    * bounds the regime: |x| ≤ ~3e7 at a billion rows keeps S₄ inside
    * 38 digits — counts/cents/day metrics, not raw microseconds.
    *
    * Scale shape: ONE keyed aggregate (map-side combinable) → k-row
    * frame; everything after is per-key scalar arithmetic.
    */
  def jarqueBera(
      df: DataFrame,
      keyCol: String,
      xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val agg = df.groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("_n"),
        sum(dec(x)).as("_s1"), sum(dec(x) * dec(x)).as("_s2"),
        sum(dec(x) * dec(x) * dec(x)).as("_s3"),
        sum(dec(x) * dec(x) * dec(x) * dec(x)).as("_s4"))
    val n = dec(col("_n"))
    val m2 = (n * col("_s2") - col("_s1") * col("_s1")).cast("double")
    val m3 = (n * n * col("_s3") -
      lit(3).cast("decimal(38,0)") * n * col("_s1") * col("_s2") +
      lit(2).cast("decimal(38,0)") * col("_s1") * col("_s1") *
        col("_s1")).cast("double")
    val m4 = (n * n * n * col("_s4") -
      lit(4).cast("decimal(38,0)") * n * n * col("_s1") * col("_s3") +
      lit(6).cast("decimal(38,0)") * n * col("_s1") * col("_s1") *
        col("_s2") -
      lit(3).cast("decimal(38,0)") * col("_s1") * col("_s1") *
        col("_s1") * col("_s1")).cast("double")
    val staged = agg.select(col("_k"), col("_n"),
      d6(col("_s1").cast("double") / col("_n").cast("double"))
        .as("mean"),
      when(m2 > 0.0, d6(m3 / (m2 * sqrt(m2)))).as("skewness"),
      when(m2 > 0.0, d6(m4 / (m2 * m2))).as("kurtosis"))
    staged.select(col("_k").as(keyCol), col("_n").as("n_obs"),
      col("mean"), col("skewness"), col("kurtosis"),
      when(col("skewness").isNotNull,
        d6(col("_n").cast("double") / 6.0 *
          (col("skewness") * col("skewness") +
            (col("kurtosis") - 3.0) * (col("kurtosis") - 3.0) / 4.0)))
        .as("jb"))
      .withColumn("rejected",
        when(col("jb").isNotNull,
          (col("jb") >= 5.991459).cast("int")).otherwise(lit(0)))
  }

  /** Restricted mean survival time (Royston & Parmar 2013) — the area
    * under the [[kaplanMeier]] step curve up to a horizon τ: "expected
    * days alive in the first τ days", the single-number survival
    * summary that stays valid when hazards cross (where a hazard
    * ratio misleads) and the standard churn-cost input (RMST × value
    * per active day). S is right-continuous, so the area is
    * 1·t₍₁₎ + Σ S(tᵢ)·(min(tᵢ₊₁,τ) − tᵢ) over event times below τ.
    *
    * Determinism: the leading all-alive segment is an exact integer;
    * each step term d6s S(tᵢ)·width (S already d6 from kaplanMeier),
    * terms sum in decimal, one closing d6. Scale shape: kaplanMeier's
    * windows plus ONE lead window over the same distinct-duration
    * frame — nothing new touches the corpus.
    */
  def rmst(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      tau: Long): DataFrame = {
    require(tau > 0L, s"tau must be positive, got $tau")
    val W = org.apache.spark.sql.expressions.Window
    val km = kaplanMeier(df, durationCol, eventCol)
    val wOrd = W.partitionBy(lit(1)).orderBy(col("duration").asc)
    val stepped = km
      .withColumn("_next",
        coalesce(lead(col("duration"), 1).over(wOrd), lit(tau)))
      .filter(col("duration") < tau)
      .withColumn("_w",
        (least(col("_next"), lit(tau)) - col("duration")).cast("double"))
      .withColumn("_term", d6(col("survival") * col("_w")))
    // an empty post-filter frame (every event time ≥ τ) means S = 1 on
    // all of [0, τ): RMST is exactly τ
    val agg = stepped.agg(
      least(min(col("duration")), lit(tau)).as("_t1"),
      sum(d28(col("_term"))).as("_area"),
      max(col("n_risk")).as("n_at_risk"))
    agg.select(lit(tau).as("tau"), col("n_at_risk"),
      d6(coalesce(col("_t1"), lit(tau)).cast("double") +
        coalesce(col("_area"), lit(0).cast("decimal(28,6)"))
          .cast("double")).as("rmst"))
  }

  /** Quantile–quantile drift table — WHERE did the distribution move?
    * [[psiDrift]]/[[hellingerDrift]] answer "how much"; this lines up
    * the reference and current slices' deciles side by side so the
    * report reads "the p90 moved +40, the median didn't" — the
    * operating-point diagnosis behind a drift alarm. Quantile picks
    * use the q385 order-statistic convention (rank = ⌈k·n/10⌉ over
    * the (value, id) total order), so every picked value is an exact
    * corpus element, not an interpolation.
    *
    * Determinism: picks are exact integers; only the reported diff
    * is arithmetic (exact long). Scale shape: one rank window per
    * slice over (key, slice)-partitioned data + a 9-row-per-key
    * equi-join.
    */
  def qqDriftTable(
      df: DataFrame,
      keyCol: String,
      idCol: String,
      valueCol: String,
      refCol: String,
      quantiles: Int = 10): DataFrame = {
    require(quantiles >= 2 && quantiles <= 100,
      s"quantiles in [2,100], got $quantiles")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol).as("_k"),
      col(idCol).as("_id"), col(valueCol).cast("long").as("_v"),
      col(refCol).cast("boolean").as("_r"))
    def picks(slice: DataFrame, out: String): DataFrame = {
      val w = W.partitionBy(col("_k")).orderBy(col("_v").asc,
        col("_id").asc)
      val ranked = slice
        .withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(W.partitionBy(col("_k"))))
      val ks = (1 until quantiles).map(lit(_))
      ranked.select(col("_k"), col("_v"), col("_rn"), col("_n"),
          explode(array(ks: _*)).as("_q"))
        .filter(col("_rn") === ceil(col("_q") * col("_n") /
          lit(quantiles.toDouble)).cast("long"))
        .select(col("_k"), col("_q"), col("_v").as(out))
    }
    val r = picks(base.filter(col("_r")), "ref_q")
    val c = picks(base.filter(!col("_r")), "cur_q")
    r.join(c, Seq("_k", "_q"), "full_outer")
      .select(col("_k").as(keyCol), col("_q").as("quantile"),
        col("ref_q"), col("cur_q"),
        (col("cur_q") - col("ref_q")).as("shift"))
  }

  /** Pairwise Pearson correlation matrix over k named metric columns
    * — the one-glance redundancy map an analyst reads before feeding
    * metrics to a model or picking covariates ([[partialCorrelation]]
    * then digs into any suspicious triangle). k is a code-level
    * literal list, so all k(k+1)/2 sufficient products ride ONE
    * aggregate (map-side combinable) and the matrix unpivots in-plan.
    *
    * Determinism: cleared decimal sums per pair, each r one d6 with
    * IEEE sqrt; zero-variance margins answer NULL for their pairs.
    */
  def corrMatrix(
      df: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16,
      s"need 2..16 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val base = df.select(cols.map(c => col(c).cast("long").as(c)): _*)
    val sums = Seq(count(lit(1)).as("_n")) ++
      cols.map(c => sum(dec(col(c))).as(s"_s_$c")) ++
      cols.flatMap(a => cols.filter(_ >= a).map(b =>
        sum(dec(col(a)) * dec(col(b))).as(s"_p_${a}_$b")))
    val agg = base.agg(sums.head, sums.tail: _*)
    def cl(a: String, b: String): Column = {
      val (x, y) = if (a <= b) (a, b) else (b, a)
      (dec(col("_n")) * col(s"_p_${x}_$y") -
        col(s"_s_$a") * col(s"_s_$b")).cast("double")
    }
    val rows = for {
      a <- cols; b <- cols if a < b
    } yield struct(lit(a).as("metric_a"), lit(b).as("metric_b"),
      when(cl(a, a) > 0.0 && cl(b, b) > 0.0,
        d6(cl(a, b) / sqrt(cl(a, a) * cl(b, b)))).as("r"))
    agg.select(col("_n").as("n_obs"),
        explode(array(rows: _*)).as("_row"))
      .select(col("_row.metric_a").as("metric_a"),
        col("_row.metric_b").as("metric_b"), col("n_obs"),
        col("_row.r").as("r"))
  }

  /** Wilcoxon signed-rank test for PAIRED samples (Wilcoxon 1945) —
    * "did the metric move WITHIN subjects?": ranks of |differences|
    * with the positive-rank sum against its null, the nonparametric
    * partner of a paired t and the within-subject complement of
    * [[mannWhitneyU]] (which compares independent groups). Zeros
    * drop (reported); ties take midranks with the tie-corrected
    * variance.
    *
    * Exactness: doubled midranks over (|d|) value cells keep 2W⁺
    * exact integer; E[2W⁺] = n(n+1)/2 and Var(2W⁺) =
    * n(n+1)(2n+1)/6 − Σ(t³−t)/12 assemble from exact decimals; ONE
    * d6 closes z. All-zero differences answer NULL. Value-domain
    * bounded windows (quantize big metrics first).
    */
  def wilcoxonSignedRank(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val diff = df.select((col(xCol).cast("long") -
      col(yCol).cast("long")).as("_d"))
    val zeros = diff.filter(col("_d") === 0L)
      .agg(count(lit(1)).as("_nz"))
    val cells = diff.filter(col("_d") =!= 0L)
      .groupBy(abs(col("_d")).as("_ad"))
      .agg(count(lit(1)).as("_n"),
        sum((col("_d") > 0L).cast("long")).as("_npos"))
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_ad").asc)
    val ranked = cells
      .withColumn("_below", coalesce(sum(col("_n")).over(
        wOrd.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_r2", lit(2L) * col("_below") + col("_n") + lit(1L))
    val agg = ranked.agg(
      coalesce(sum(col("_n")), lit(0L)).as("n_nonzero"),
      coalesce(sum(col("_npos")), lit(0L)).as("n_positive"),
      coalesce(sum(dec(col("_npos")) * dec(col("_r2"))),
        lit(0).cast("decimal(38,0)")).as("_w2"),
      coalesce(sum(dec(col("_n")) * dec(col("_n")) * dec(col("_n")) -
        dec(col("_n"))), lit(0).cast("decimal(38,0)")).as("_tie"))
    val n = col("n_nonzero")
    val nD = n.cast("double")
    val e2 = nD * (nD + 1.0) / 2.0
    val var2 = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 6.0 -
      col("_tie").cast("double") / 12.0
    agg.crossJoin(broadcast(zeros))
      .select(col("n_nonzero"), col("_nz").as("n_zero"),
        col("n_positive"), col("_w2").cast("long").as("w2_doubled"),
        when(n >= 1L && var2 > 0.0,
          d6((col("_w2").cast("double") - e2) / sqrt(var2))).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Paired sign test — the assumption-free floor under
    * [[wilcoxonSignedRank]]: only the SIGN of each within-pair
    * difference counts, so it survives arbitrary outliers and ordinal
    * scales. Continuity-corrected normal approximation; the two-sided
    * p comes from the shared [[normalTwoSidedP]] erfc polynomial.
    *
    * Exactness: sign counts are exact longs; z takes ONE d6 over
    * sign(2·pos−n)·max(0, |2·pos−n|−1)/√n; p one more. All-tied
    * input answers NULL.
    */
  def signTest(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val diff = df.select((col(xCol).cast("long") -
      col(yCol).cast("long")).as("_d"))
    val agg = diff.agg(
      sum((col("_d") > 0L).cast("long")).as("n_positive"),
      sum((col("_d") < 0L).cast("long")).as("n_negative"),
      sum((col("_d") === 0L).cast("long")).as("n_zero"))
    val n = col("n_positive") + col("n_negative")
    val raw = lit(2L) * col("n_positive") - n
    val zExpr = d6(signum(raw.cast("double")) *
      greatest(lit(0.0), abs(raw.cast("double")) - lit(1.0)) /
      sqrt(n.cast("double")))
    val staged = agg.select(col("n_positive"), col("n_negative"),
      col("n_zero"), when(n >= 1L, zExpr).as("z"))
    staged
      .withColumn("p_value",
        when(col("z").isNotNull, d6(normalTwoSidedP(col("z")))))
      .withColumn("significant",
        when(col("p_value").isNotNull,
          (col("p_value") <= 0.05).cast("int")).otherwise(lit(0)))
  }

  /** Hodges–Lehmann pseudo-median (Hodges & Lehmann 1963) — the
    * median of all Walsh averages (xᵢ+xⱼ)/2, i ≤ j: the LOCATION
    * estimate behind [[wilcoxonSignedRank]] and the robust "typical
    * shift" to quote next to its p-value (30% efficiency premium
    * over the plain median at the normal, immune to a fat tail the
    * mean isn't).
    *
    * Exactness: Walsh sums stay DOUBLED integers over (value) cells —
    * same-cell pairs weigh n(n+1)/2 at 2v, cross pairs n₁n₂ at
    * v₁+v₂; the lower weighted median picks by exact cumulative-
    * weight comparison (2·cumW ≥ T+1 convention) and the estimate
    * closes in ONE d6 halving. The cell-pair stage is quadratic —
    * loud maxCells (quantize first).
    */
  def hodgesLehmann(
      df: DataFrame,
      xCol: String,
      maxCells: Long = 10000L): DataFrame = {
    require(maxCells >= 2L && maxCells <= 1000000L,
      s"maxCells in [2,1e6], got $maxCells")
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val rawCells = df.groupBy(col(xCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_n"))
    val cells = rawCells.withColumn("_nc", count(lit(1)).over(wAll))
      .select(col("_v"),
        when(col("_nc") <= maxCells, col("_n"))
          .otherwise(raise_error(concat(
            lit("hodgesLehmann: "), col("_nc").cast("string"),
            lit(s" value cells > maxCells=$maxCells — quantize " +
              "first"))).cast("long")).as("_n"))
    val a = cells.select(col("_v").as("_va"), col("_n").as("_na"))
    val b = cells.select(col("_v").as("_vb"), col("_n").as("_nb"))
    val walsh = a.join(b, col("_va") <= col("_vb"))
      .select((col("_va") + col("_vb")).as("_s2"),
        when(col("_va") === col("_vb"),
          (dec(col("_na")) * (dec(col("_na")) + lit(1)) / lit(2))
            .cast("decimal(38,0)"))
          .otherwise(dec(col("_na")) * dec(col("_nb"))).as("_w"))
      .groupBy(col("_s2")).agg(sum(col("_w")).as("_w"))
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_s2").asc)
    val upTo = wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val ranked = walsh
      .withColumn("_cum", sum(col("_w")).over(upTo))
      .withColumn("_tot", sum(col("_w")).over(wAll))
    // LOWER weighted median: position floor((T+1)/2) — the
    // "2·cum ≥ T+1" shortcut over-shoots on even T
    ranked
      .filter(col("_cum").cast("long") >=
        floor((col("_tot").cast("long") + lit(1L)) / lit(2.0))
          .cast("long"))
      .agg(min(col("_s2")).as("_med2"),
        max(col("_tot")).cast("long").as("n_walsh_pairs"))
      .select(col("n_walsh_pairs"),
        d6(col("_med2").cast("double") / 2.0).as("pseudo_median"))
  }

  /** Split-half reliability with the Spearman–Brown step-up
    * (Spearman 1910; Brown 1910) — the quick sibling of
    * [[cronbachAlpha]]: correlate two deterministic halves of each
    * unit's measurements, then project the full-length reliability
    * 2r/(1+r). The "is this metric stable enough to rank users by"
    * one-liner when items don't exist (alpha needs an item design;
    * this needs only a 0/1 half flag).
    *
    * Determinism: half sums per unit are exact (conditional sums —
    * missing halves read 0 by the same zero-fill reading as alpha);
    * the Pearson r comes from one aggregate of cleared decimals with
    * IEEE sqrt + one d6; Spearman–Brown takes one more. Degenerate
    * variance or r = −1 answers NULL. Flags must be 0/1 — loud.
    */
  def splitHalfReliability(
      df: DataFrame,
      unitCol: String,
      halfCol: String,
      xCol: String): DataFrame = {
    val half = flag01("splitHalfReliability", "half flag", col(halfCol))
    val per = df.select(col(unitCol).as("_u"), half.as("_h"),
        col(xCol).cast("long").as("_x"))
      .groupBy(col("_u"))
      .agg(sum(when(col("_h") === 0L, col("_x")).otherwise(0L))
        .as("_a"),
        sum(when(col("_h") === 1L, col("_x")).otherwise(0L)).as("_b"))
    val agg = crossMoments(per.groupBy(), "n_units",
      "a", "b", "aa", "bb", "ab")
    val claa = cleared("n_units", "_saa", "_sa", "_sa").cast("double")
    val clbb = cleared("n_units", "_sbb", "_sb", "_sb").cast("double")
    val clab = cleared("n_units", "_sab", "_sa", "_sb").cast("double")
    val r = when(claa > 0.0 && clbb > 0.0,
      d6(clab / sqrt(claa * clbb)))
    val staged = agg.select(col("n_units"), r.as("half_r"))
    staged.withColumn("spearman_brown",
      when(col("half_r").isNotNull && col("half_r") > -1.0,
        d6(lit(2.0) * col("half_r") / (lit(1.0) + col("half_r")))))
  }

  /** Two-sample energy distance in 1-D (Székely & Rizzo 2004):
    * D² = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — zero iff the distributions
    * are IDENTICAL, sensitive to every moment (where KS/CvM weight
    * the middle and [[wasserstein1]] is location-dominated). The
    * drift metric to reach for when "same mean, fatter tail" must
    * not pass.
    *
    * EXACT in 1-D, no pair join: each absolute-difference double sum
    * rewrites over the sorted distinct-value frame as
    * Σ gapₖ·[belowA·(m−belowB) + belowB·(n−belowA)]-style crossing
    * counts — integers end to end (decimal for the gap products);
    * the three means take one d6 each, D² one more (clamped at 0
    * against d6 crumbs). Value-DOMAIN-bounded windows (quantize
    * first — the kruskalWallis contract). Empty arms fail loudly.
    */
  def energyDistance(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val arm = col(armCol).cast("int")
    val byVal = df
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(sum(when(arm === 0, 1L).otherwise(0L)).as("_c0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("_c1"))
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_v").asc)
    val upTo = wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cum = byVal
      .withColumn("_a0", sum(col("_c0")).over(upTo))
      .withColumn("_a1", sum(col("_c1")).over(upTo))
      .withColumn("_n0", sum(col("_c0")).over(wAll))
      .withColumn("_n1", sum(col("_c1")).over(wAll))
      .withColumn("_gap",
        (lead(col("_v"), 1).over(wOrd) - col("_v")))
      .filter(col("_gap").isNotNull)
    // Σ|a−b| over A×B = Σ_k gap_k·[cumA_k·(m−cumB_k)+cumB_k·(n−cumA_k)]
    def crossSum(ca: Column, cb: Column, nA: Column,
        nB: Column): Column =
      sum(dec(col("_gap")) * (dec(ca) * dec(nB - cb) +
        dec(cb) * dec(nA - ca)))
    val agg = cum.agg(
      crossSum(col("_a0"), col("_a1"), col("_n0"), col("_n1"))
        .as("_sab"),
      crossSum(col("_a0"), col("_a0"), col("_n0"), col("_n0"))
        .as("_saa2"),
      crossSum(col("_a1"), col("_a1"), col("_n1"), col("_n1"))
        .as("_sbb2"),
      max(col("_n0")).as("n_a"), max(col("_n1")).as("n_b"))
    val nD = col("n_a").cast("double")
    val mD = col("n_b").cast("double")
    val ok = col("n_a") >= 1L && col("n_b") >= 1L
    // divisions live INSIDE the guard branch: ANSI division by an
    // empty arm must not race the raise_error in the same projection
    def guarded(c: Column): Column = when(ok, c)
      .otherwise(raise_error(concat(
        lit("energyDistance: both arms must be non-empty; got n_a="),
        col("n_a").cast("string"), lit(" n_b="),
        col("n_b").cast("string"))).cast("double"))
    // within-group crossing formula double-counts (it IS the full
    // ordered double sum), which is exactly what E|X−X′| = S/n² needs
    val eab = d6(coalesce(col("_sab"), lit(0).cast("decimal(38,0)"))
      .cast("double") / (nD * mD))
    val eaa = d6(coalesce(col("_saa2"), lit(0).cast("decimal(38,0)"))
      .cast("double") / (nD * nD))
    val ebb = d6(coalesce(col("_sbb2"), lit(0).cast("decimal(38,0)"))
      .cast("double") / (mD * mD))
    agg.select(col("n_a"), col("n_b"),
      guarded(eab).as("e_cross"), guarded(eaa).as("e_within_a"),
      guarded(ebb).as("e_within_b"))
      .withColumn("energy_dist",
        d6(greatest(lit(0.0),
          lit(2.0) * col("e_cross") - col("e_within_a") -
            col("e_within_b"))))
  }

  /** Poisson regression with one covariate, fit by in-plan Newton
    * (the [[plattScaling]]/[[coxPh]] trainer discipline): per key,
    * λ = exp(a + b·x) maximizing the Poisson likelihood of integer
    * counts — "is this event type's daily volume growing
    * EXPONENTIALLY, and at what rate?" exp(b) is the per-x-unit rate
    * ratio, the right model for counts where OLS on ln(y) chokes on
    * zeros.
    *
    * Determinism: each round's score/information sums take d6 per
    * term (absorbing exp's ulp) into decimal sums; the 2×2 Newton
    * solve (Cramer) and the (a,b) update re-d6 per round — generated
    * chained CTEs on the oracle side. Zero x-variance or a singular
    * information matrix answers NULL. steps is FIXED (deterministic
    * round count).
    *
    * Scale shape per round: ONE keyed aggregate (map-side combine) →
    * ≤keys-row broadcast params; no driver collect.
    */
  def poissonRegression(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      yCol: String,
      steps: Int = 6): DataFrame = {
    require(steps >= 1 && steps <= 12, s"steps in [1,12], got $steps")
    val base = df.select(col(keyCol).as("_k"),
      col(xCol).cast("long").as("_x"),
      when(col(yCol).cast("long") >= 0L, col(yCol).cast("long"))
        .otherwise(raise_error(concat(
          lit("poissonRegression: negative count "),
          col(yCol).cast("string"))).cast("long")).as("_y"))
    // warm start at the null model a₀ = ln(ȳ) (+1 smoothing so an
    // all-zero key stays finite), b₀ = 0 — Newton from a = 0 on
    // large counts overshoots into exp overflow before it can turn
    def decl(c: Column) = c.cast("decimal(38,0)")
    // exact zero-x-variance detection: the d6-rounded information
    // sums leave det ~1e-6 relative on a CONSTANT x (not ~0), so the
    // singularity gate must come from the exact integer spread
    var params = base.groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_sy"),
        sum(decl(col("_x"))).as("_sx"),
        sum(decl(col("_x")) * decl(col("_x"))).as("_sxx"))
      .withColumn("_clxx",
        (decl(col("_n")) * col("_sxx") - col("_sx") * col("_sx"))
          .cast("double"))
      .withColumn("_a",
        d6(log((col("_sy") + lit(1L)).cast("double") /
          col("_n").cast("double"))))
      .withColumn("_b", lit(0.0))
      .drop("_sy").drop("_sx").drop("_sxx")
    (1 to steps).foreach { _ =>
      val j = base.join(broadcast(params.select(col("_k"), col("_a"),
        col("_b"), col("_clxx"))), Seq("_k"))
      val lam = exp(col("_a") + col("_b") * col("_x").cast("double"))
      val agg = j.groupBy(col("_k"))
        .agg(sum(d28(d6(col("_y").cast("double") - lam))).as("_ua"),
          sum(d28(d6(col("_x").cast("double") *
            (col("_y").cast("double") - lam)))).as("_ub"),
          sum(d28(d6(lam))).as("_i00"),
          sum(d28(d6(col("_x").cast("double") * lam))).as("_i01"),
          sum(d28(d6(col("_x").cast("double") *
            col("_x").cast("double") * lam))).as("_i11"),
          max(col("_a")).as("_a0"), max(col("_b")).as("_b0"),
          max(col("_clxx")).as("_clxx"))
      val det = col("_i00").cast("double") * col("_i11").cast("double") -
        col("_i01").cast("double") * col("_i01").cast("double")
      val detOk = col("_clxx") > 0.0 && det > 0.0
      val da = (col("_ua").cast("double") * col("_i11").cast("double") -
        col("_ub").cast("double") * col("_i01").cast("double")) / det
      val db = (col("_ub").cast("double") * col("_i00").cast("double") -
        col("_ua").cast("double") * col("_i01").cast("double")) / det
      params = params.drop("_a").drop("_b").join(
        agg.select(col("_k"),
          when(detOk, d6(col("_a0") + da)).as("_a"),
          when(detOk, d6(col("_b0") + db)).as("_b")),
        Seq("_k"), "left")
    }
    params.select(col("_k").as(keyCol), col("_n").as("n_obs"),
      col("_a").as("intercept"), col("_b").as("slope"),
      when(col("_b").isNotNull, d6(exp(col("_b")))).as("rate_ratio"))
  }

  /** Post-stratified mean with design-based SE (the estimation half
    * of survey sampling; [[graft.pipeline.Sampling.neymanAllocation]]
    * is the design half): reweight per-stratum sample means by KNOWN
    * population shares — the correction applied when the sample's
    * strata mix doesn't match the population's (quota panels,
    * convenience crawls): ȳ_ps = Σ Wₕ·ȳₕ,
    * SE² = Σ Wₕ²·s²ₕ/nₕ.
    *
    * Determinism: per-stratum sufficient sums exact decimal; means
    * and variances one d6 each; the weighted sums run per-term-d6 →
    * decimal; SE takes IEEE sqrt + d6. A stratum in the population
    * map but absent from the sample fails LOUDLY (its mean is
    * unestimable — collapse strata upstream); sample strata not in
    * the map fail loudly too (unknown weight). Single-row strata
    * contribute NULL variance → NULL SE overall (documented).
    *
    * Scale shape: ONE keyed aggregate, full-outer-joined to the weight map
    * (a few rows; Spark cannot broadcast either side of a full outer join).
    */
  def postStratifiedMean(
      df: DataFrame,
      stratumCol: String,
      xCol: String,
      populationShares: Map[String, Double]): DataFrame = {
    require(populationShares.nonEmpty, "populationShares is empty")
    require(math.abs(populationShares.values.sum - 1.0) < 1e-9,
      s"shares must sum to 1, got ${populationShares.values.sum}")
    val spark = df.sparkSession
    import spark.implicits._
    val shares = populationShares.toSeq.toDF("_h", "_w")
    val x = col(xCol).cast("long")
    val per = df.groupBy(col(stratumCol).cast("string").as("_h"))
      .agg(count(lit(1)).as("_n"), sum(dec(x)).as("_s1"),
        sum(dec(x) * dec(x)).as("_s2"))
      .join(shares, Seq("_h"), "full_outer")
      .select(col("_h"),
        coalesce(col("_n"),
          raise_error(concat(lit("postStratifiedMean: stratum "),
            col("_h"), lit(" has population weight but no sample " +
              "rows — collapse strata upstream"))).cast("long"))
          .as("_n"),
        col("_s1"), col("_s2"),
        coalesce(col("_w"),
          raise_error(concat(lit("postStratifiedMean: stratum "),
            col("_h"), lit(" not in the population map")))
            .cast("double")).as("_w"))
    val mean = d6(col("_s1").cast("double") / col("_n").cast("double"))
    val v = when(col("_n") >= 2L,
      d6((dec(col("_n")) * col("_s2") - col("_s1") * col("_s1"))
        .cast("double") /
        (col("_n") * (col("_n") - 1L)).cast("double")))
    val staged = per.select(col("_h"), col("_n"), col("_w"),
      mean.as("_m"), v.as("_v"))
    // weighted terms quantize via floor(x·10⁶+0.5) — population
    // shares are typically powers of two (1/2, 1/8), putting w·m on
    // BINARY-EXACT decimal halves where HALF_UP and half-even engines
    // split (the q345 lesson); floor-in-double-space is identical
    // everywhere
    def f6(c: Column): Column =
      floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val roll = staged.agg(count(lit(1)).as("k_strata"),
      sum(col("_n")).as("n_sample"),
      sum(d28(f6(col("_w") * col("_m")))).as("_wm"),
      sum(d28(f6(col("_w") * col("_w") * col("_v") /
        col("_n").cast("double")))).as("_wv"),
      sum(when(col("_v").isNull, 1L).otherwise(0L)).as("_degen"))
    roll.select(col("k_strata"), col("n_sample"),
      d6(col("_wm").cast("double")).as("ps_mean"),
      when(col("_degen") === 0L,
        d6(sqrt(col("_wv").cast("double")))).as("ps_se"))
  }

  /** Two-proportion sample-size planning table (the experimentation-
    * platform pre-launch staple): for each candidate relative MDE,
    * the per-arm n needed to detect baseline·(1+MDE) at α = 5%
    * two-sided, power 80% — the canonical
    * n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀+p₁q₁))²/(p₁−p₀)² formula with
    * the two z's as shared literals (1.959964, 0.841621).
    *
    * The baseline p₀ comes from DATA (one exact-count aggregate);
    * everything after runs on the MDE grid frame. Determinism: p₀,
    * each p₁, the radicals and n close in fixed d6 stages (IEEE
    * sqrt); ceil gives the integer n. MDEs pushing p₁ out of (0,1)
    * answer NULL. Outcome must be 0/1 — loud.
    */
  def sampleSizePlanner(
      df: DataFrame,
      outcomeCol: String,
      relativeMdes: Seq[Double]): DataFrame = {
    require(relativeMdes.nonEmpty && relativeMdes.size <= 100,
      s"need 1..100 MDEs, got ${relativeMdes.size}")
    require(relativeMdes.forall(m => m != 0.0),
      "a zero MDE needs infinite n")
    val y = flag01("sampleSizePlanner", "outcome flag", col(outcomeCol))
    val base = df.select(y.as("_y"))
      .agg(count(lit(1)).as("n_baseline"), sum(col("_y")).as("_pos"))
      .withColumn("p0",
        d6(col("_pos").cast("double") /
          col("n_baseline").cast("double")))
    val grid = explode(array(relativeMdes.sorted.map(lit(_)): _*))
    val rows = base.select(col("n_baseline"), col("p0"),
      grid.as("relative_mde"))
    val p1 = d6(col("p0") * (lit(1.0) + col("relative_mde")))
    val withP1 = rows.withColumn("p1", p1)
    val pbar = d6((col("p0") + col("p1")) / 2.0)
    val zA = lit(1.959964)
    val zB = lit(0.841621)
    val num = zA * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      zB * sqrt(col("p0") * (lit(1.0) - col("p0")) +
        col("p1") * (lit(1.0) - col("p1")))
    val ok = col("p1") > 0.0 && col("p1") < 1.0 &&
      col("p0") > 0.0 && col("p0") < 1.0
    withP1.withColumn("n_per_arm",
      when(ok, ceil(d6(num * num /
        ((col("p1") - col("p0")) * (col("p1") - col("p0")))))
        .cast("long")))
  }

  /** Kuiper two-sample test — [[ksTest]]'s rotation-invariant sibling:
    * V = D⁺ + D⁻ weights the TAILS as heavily as the middle (KS's
    * max|·| is mid-distribution dominated) and is the standard choice
    * for cyclic domains (hour-of-day, day-of-week mixes). Same
    * cleared-integer machinery as ksTest: both one-sided extrema are
    * exact integer numerators over the shared denominator; V takes
    * ONE d6; significance via the Stephens 1970 asymptotic series at
    * the shared effective-n correction.
    */
  def kuiperTest(
      df: DataFrame,
      armCol: String,
      valueCol: String): DataFrame = {
    val arm = flag01("kuiperTest", "arm flag", col(armCol), "int")
    val byVal = df
      .groupBy(col(valueCol).cast("long").as("_v"))
      .agg(sum(when(arm === 0, 1L).otherwise(0L)).as("_c0"),
        sum(when(arm === 1, 1L).otherwise(0L)).as("_c1"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(col("_v"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = byVal
      .select(sum(col("_c0")).over(w).as("_a0"),
        sum(col("_c1")).over(w).as("_a1"))
    val tot = byVal.agg(sum(col("_c0")).as("_n0"),
      sum(col("_c1")).as("_n1"))
    val signed = col("_a0") * col("_n1") - col("_a1") * col("_n0")
    val agg = cum.crossJoin(broadcast(tot))
      .agg(greatest(max(signed), lit(0L)).as("_dplus"),
        greatest(max(-signed), lit(0L)).as("_dminus"),
        max(col("_n0")).as("_n0"), max(col("_n1")).as("_n1"))
    val guard = when(col("_n0") >= 1L && col("_n1") >= 1L, col("_n0"))
      .otherwise(raise_error(concat(
        lit("kuiperTest: both arms must be non-empty; got n_a="),
        col("_n0").cast("string"), lit(" n_b="),
        col("_n1").cast("string"))).cast("long"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val vStat = d6((col("_dplus") + col("_dminus")).cast("double") /
      (n0 * n1))
    val staged = agg.select(guard.as("n_a"), col("_n1").as("n_b"),
      col("_dplus").as("d_plus_numerator"),
      col("_dminus").as("d_minus_numerator"), vStat.as("v_stat"))
    val ne = col("n_a").cast("double") * col("n_b").cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    // Stephens 1970: p = Σ 2(4k²λ²−1)e^{−2k²λ²}, λ = V·(√ne+0.155+
    // 0.24/√ne); the same clamp discipline as ksTest
    val lam = d6((sqrt(ne) + 0.155 + lit(0.24) / sqrt(ne)) *
      col("v_stat"))
    val withLam = staged.withColumn("lambda", lam)
    val series = (1 to 20).foldLeft(
      lit(BigDecimal(0)).cast("decimal(28,6)")) {
      case (acc, k) =>
        acc + ((lit(4.0 * k * k) * col("lambda") * col("lambda") -
          lit(1.0)) * exp(lit(-2.0 * k * k) *
          col("lambda") * col("lambda"))).cast("decimal(28,6)")
    }
    withLam.select(col("n_a"), col("n_b"), col("d_plus_numerator"),
      col("d_minus_numerator"), col("v_stat"), col("lambda"),
      when(col("lambda") < 0.4, lit(1.0))
        .otherwise(d6(least(lit(1.0), greatest(lit(0.0),
          lit(2.0) * series.cast("double"))))).as("p_value"))
  }

  /** Binary-classifier confusion panel — accuracy, balanced accuracy,
    * precision/recall/F1 and Matthews correlation from one confusion
    * table: the metrics a filter-model card quotes. MCC is the one
    * that stays honest under class imbalance (a 99%-negative corpus
    * scores 0.99 accuracy for the all-negative classifier; MCC scores
    * it 0), which is why it leads the panel.
    *
    * Determinism: cells are exact longs; every rate one d6; MCC's
    * denominator product runs in decimal(38,0) before ONE IEEE sqrt
    * (counts to ~3e9 stay exact). Degenerate margins answer NULL for
    * the affected metrics only. Flags must be 0/1 — loud.
    *
    * Scale shape: ONE 1-row corpus aggregate.
    */
  def confusionPanel(
      df: DataFrame,
      labelCol: String,
      predCol: String): DataFrame = {
    val base = df.select(
      flag01("confusionPanel", "label flag", col(labelCol)).as("_y"),
      flag01("confusionPanel", "prediction flag", col(predCol)).as("_p"))
    val agg = base.agg(
      sum(col("_y") * col("_p")).as("tp"),
      sum((lit(1L) - col("_y")) * col("_p")).as("fp"),
      sum(col("_y") * (lit(1L) - col("_p"))).as("fn"),
      sum((lit(1L) - col("_y")) * (lit(1L) - col("_p"))).as("tn"))
    val n = (col("tp") + col("fp") + col("fn") + col("tn"))
      .cast("double")
    val tpr = d6(col("tp").cast("double") /
      (col("tp") + col("fn")).cast("double"))
    val tnr = d6(col("tn").cast("double") /
      (col("tn") + col("fp")).cast("double"))
    val prec = d6(col("tp").cast("double") /
      (col("tp") + col("fp")).cast("double"))
    val mccDen = (dec(col("tp") + col("fp")) *
      dec(col("tp") + col("fn")) * dec(col("tn") + col("fp")) *
      dec(col("tn") + col("fn"))).cast("double")
    val mccNum = (dec(col("tp")) * dec(col("tn")) -
      dec(col("fp")) * dec(col("fn"))).cast("double")
    val staged = agg.select(col("tp"), col("fp"), col("fn"), col("tn"),
      d6((col("tp") + col("tn")).cast("double") / n).as("accuracy"),
      when(col("tp") + col("fn") > 0L, tpr).as("recall"),
      when(col("tn") + col("fp") > 0L, tnr).as("specificity"),
      when(col("tp") + col("fp") > 0L, prec).as("precision"),
      when(mccDen > 0.0, d6(mccNum / sqrt(mccDen))).as("mcc"))
    staged
      .withColumn("balanced_accuracy",
        when(col("recall").isNotNull && col("specificity").isNotNull,
          d6((col("recall") + col("specificity")) / 2.0)))
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
          col("precision") + col("recall") > 0.0,
          d6(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall")))))
  }

  /** Page's trend test for ordered alternatives in a complete block
    * design (Page 1963) — [[friedmanTest]] asks "do the k systems
    * differ AT ALL across items"; Page asks the sharper ordered
    * question "do they improve MONOTONICALLY in the hypothesized
    * order" (checkpoint k beats checkpoint k−1 beats …), which is
    * the actual claim behind a training-progress table. L = Σ j·Rⱼ
    * over within-item midranks, normal-approximated.
    *
    * Determinism: midranks in doubled units keep L exact integer;
    * E[2L] = b·k(k+1)²/2 and Var(2L) = 4·Var(L) =
    * b·k²(k+1)(k²−1)/36 are exact integer formulas; ONE d6 closes z.
    * Midranks under ties keep the no-ties variance (documented
    * approximation — heavy ties inflate |z| slightly). The complete-
    * block contract is enforced IN-PLAN (the friedman discipline);
    * doses are the integer system order. k < 3 answers NULL (Page
    * needs ≥ 3 ordered systems).
    *
    * Scale shape: item-partitioned k-bounded rank windows + one
    * system rollup — the friedman machinery pointed at the ordered
    * alternative.
    */
  def pageTrend(
      df: DataFrame,
      itemCol: String,
      systemCol: String,
      xCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cells = df.groupBy(col(itemCol).as("_i"),
        col(systemCol).cast("long").as("_j"))
      .agg(count(lit(1)).as("_c"), sum(col(xCol).cast("long")).as("_x"))
    // complete-block + no-duplicate audit, embedded in the USED _x.
    // _kmax rides a DISTRIBUTED max (1-row broadcast) — the r17 form
    // windowed the (item, system) cells frame unpartitioned, an
    // item-scaling frame through one task (the corpus-wide class-6
    // law caught it in r18; the hoeffdingsD treatment)
    val kmax = cells.groupBy(col("_i")).agg(count(lit(1)).as("_ki"))
      .agg(max(col("_ki")).as("_kmax"))
    val audited = cells
      .withColumn("_k", count(lit(1)).over(W.partitionBy(col("_i"))))
      .crossJoin(broadcast(kmax))
      .select(col("_i"), col("_j"),
        when(col("_c") === 1L && col("_k") === col("_kmax"), col("_x"))
          .otherwise(raise_error(concat(
            lit("pageTrend: item "), col("_i").cast("string"),
            lit(" is not a complete single-measurement block (count "),
            col("_c").cast("string"), lit(", systems "),
            col("_k").cast("string"), lit(" of "),
            col("_kmax").cast("string"), lit(")"))).cast("long"))
          .as("_x"),
        col("_kmax").as("_k"))
    // doubled midranks within item: 2·rank = 2·below + ties + 1 per
    // tied member → rank_sum trick via cumulative counts on the
    // (item, value) frame
    val wIt = W.partitionBy(col("_i")).orderBy(col("_x").asc)
    val ranked = audited
      .withColumn("_below", coalesce(
        count(lit(1)).over(wIt.rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
    // doubled midrank among k values with ties: 2r = 2·(#strictly
    // below) + (#tied) + 1 — compute tie count per (item, value)
    val wTie = W.partitionBy(col("_i"), col("_x"))
    val r2 = ranked
      .withColumn("_tied", count(lit(1)).over(wTie))
      .withColumn("_mnBelow", min(col("_below")).over(wTie))
      .withColumn("_r2",
        lit(2L) * col("_mnBelow") + col("_tied") + lit(1L))
    val bySys = r2.groupBy(col("_j"))
      .agg(sum(col("_r2")).as("_rs2"), max(col("_k")).as("_k"))
    // order index of each system (1..k by the system value order)
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_j").asc)
    val withIdx = bySys.withColumn("_w", row_number().over(wOrd)
      .cast("long"))
    val roll = withIdx.agg(max(col("_k")).as("k_systems"),
      sum(dec(col("_w")) * dec(col("_rs2"))).as("_l2"),
      count(lit(1)).as("_ks"))
    val items = audited.select(col("_i")).distinct()
      .agg(count(lit(1)).as("n_items"))
    val joined = roll.crossJoin(broadcast(items))
    val b = col("n_items").cast("double")
    val k = col("k_systems").cast("double")
    val e2 = b * k * (k + 1.0) * (k + 1.0) / 2.0
    val var2 = b * k * k * (k + 1.0) * (k * k - 1.0) / 36.0
    joined.select(col("n_items"), col("k_systems"),
      col("_l2").cast("double").as("l2_doubled"),
      when(col("k_systems") >= 3L && var2 > 0.0,
        d6((col("_l2").cast("double") - e2) / sqrt(var2))).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Goodman–Kruskal gamma and Somers' D for two ordinal columns —
    * the DIRECTED ordinal-association pair beside [[kendallTau]]'s
    * symmetric tau-b: gamma ignores all ties (the optimist), Somers'
    * D_y|x charges y-ties against the prediction (the score-card
    * convention — for a binary y it IS the credit-scoring Gini,
    * 2·AUC−1). Same contingency-cell machinery and loud maxCells
    * guard as kendallTau.
    *
    * Determinism: concordant/discordant/tie pair counts are exact
    * decimal from the guarded cells² join; each ratio one d6.
    * All-tied denominators answer NULL.
    */
  def ordinalAssociation(
      df: DataFrame,
      xCol: String,
      yCol: String,
      maxCells: Long = 10000L): DataFrame = {
    require(maxCells >= 4L && maxCells <= 1000000L,
      s"maxCells in [4,1e6], got $maxCells")
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val rawCells = df.select(col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_n"))
    val cells = rawCells.withColumn("_nc", count(lit(1)).over(wAll))
      .select(col("_x"), col("_y"),
        when(col("_nc") <= maxCells, col("_n"))
          .otherwise(raise_error(concat(
            lit("ordinalAssociation: "), col("_nc").cast("string"),
            lit(s" cells > maxCells=$maxCells — quantize first")))
          .cast("long")).as("_n"))
    val a = cells.select(col("_x").as("_xa"), col("_y").as("_ya"),
      col("_n").as("_na"))
    val bb = cells.select(col("_x").as("_xb"), col("_y").as("_yb"),
      col("_n").as("_nb"))
    val pairs = a.join(bb,
      col("_xa") < col("_xb") ||
        (col("_xa") === col("_xb") && col("_ya") < col("_yb")))
    val agg = pairs.agg(
      coalesce(sum(when(col("_xa") < col("_xb") &&
        col("_ya") < col("_yb"),
        dec(col("_na")) * dec(col("_nb")))), lit(0).cast("decimal(38,0)"))
        .as("_cc"),
      coalesce(sum(when(col("_xa") < col("_xb") &&
        col("_ya") > col("_yb"),
        dec(col("_na")) * dec(col("_nb")))), lit(0).cast("decimal(38,0)"))
        .as("_dd"),
      coalesce(sum(when(col("_xa") < col("_xb") &&
        col("_ya") === col("_yb"),
        dec(col("_na")) * dec(col("_nb")))), lit(0).cast("decimal(38,0)"))
        .as("_ty"))
    val c = col("_cc").cast("double")
    val d = col("_dd").cast("double")
    val ty = col("_ty").cast("double")
    agg.select(col("_cc").cast("long").as("concordant"),
      col("_dd").cast("long").as("discordant"),
      col("_ty").cast("long").as("ties_y_only"),
      when(c + d > 0.0, d6((c - d) / (c + d))).as("gamma"),
      when(c + d + ty > 0.0, d6((c - d) / (c + d + ty)))
        .as("somers_d"))
  }

  /** Cronbach's alpha internal-consistency reliability (Cronbach
    * 1951): do k measurements of the same units move TOGETHER? α =
    * k/(k−1)·(1 − Σ itemVar / totalVar). The instrument-reliability
    * gate before averaging k quality heuristics / k probe scores into
    * one number — an α near 0 says the composite is noise.
    *
    * The unit × item grid is zero-filled to a COMPLETE design (a
    * missing (unit, item) cell means "measured 0", the right reading
    * for count/sum measurements; for genuinely-missing ratings use
    * [[krippendorffAlpha]]). Determinism: per-item and total-score
    * variances are cleared exact decimals, one d6 each, item
    * variances decimal-summed; α closes in one d6. Zero total
    * variance answers NULL; k < 2 or < 2 units fail loudly.
    *
    * Scale shape: one (unit, item) aggregate, a units × k zero-fill
    * join (k bounded by contract), one item-keyed and one unit-keyed
    * variance aggregate → 1 row.
    */
  def cronbachAlpha(
      df: DataFrame,
      unitCol: String,
      itemCol: String,
      xCol: String): DataFrame = {
    val cells = df.groupBy(col(unitCol).as("_u"),
        col(itemCol).cast("string").as("_i"))
      .agg(sum(col(xCol).cast("long")).as("_x"))
    val units = cells.select(col("_u")).distinct()
    val items = cells.select(col("_i")).distinct()
    val grid = units.crossJoin(broadcast(items))
      .join(cells, Seq("_u", "_i"), "left")
      .select(col("_u"), col("_i"),
        coalesce(col("_x"), lit(0L)).as("_x"))
    def varOf(g: DataFrame, key: Column, v: Column): DataFrame =
      g.groupBy(key.as("_k"))
        .agg(count(lit(1)).as("_n"), sum(dec(v)).as("_s1"),
          sum(dec(v) * dec(v)).as("_s2"))
        .select(col("_k"), col("_n"),
          when(col("_n") >= 2L,
            d6((dec(col("_n")) * col("_s2") - col("_s1") * col("_s1"))
              .cast("double") /
              (col("_n") * (col("_n") - 1L)).cast("double")))
            .otherwise(raise_error(lit(
              "cronbachAlpha: need >= 2 units")).cast("double"))
            .as("_v"))
    val itemVars = varOf(grid, col("_i"), col("_x"))
      .agg(count(lit(1)).as("k_items"),
        sum(d28(col("_v"))).as("_sumVi"))
      .select(when(col("k_items") >= 2L, col("k_items"))
        .otherwise(raise_error(lit(
          "cronbachAlpha: need >= 2 items")).cast("long"))
        .as("k_items"), col("_sumVi"))
    val totals = grid.groupBy(col("_u"))
      .agg(sum(col("_x")).as("_tot"))
    val totalVar = varOf(totals, lit("all"), col("_tot"))
      .select(col("_n").as("n_units"), col("_v").as("_vt"))
    itemVars.crossJoin(broadcast(totalVar))
      .select(col("k_items"), col("n_units"),
        d6(col("_sumVi").cast("double")).as("sum_item_var"),
        col("_vt").as("total_var"),
        when(col("_vt") > 0.0,
          d6(col("k_items").cast("double") /
            (col("k_items") - 1L).cast("double") *
            (lit(1.0) - col("_sumVi").cast("double") / col("_vt"))))
          .as("alpha"))
  }

  /** First-order partial correlation r_xy·z (Fisher 1924) — the
    * correlation of x and y with z HELD CONSTANT: the first
    * confounder check on any "x drives y" correlation readout
    * (volume↔spend is trivial if both just track user count; the
    * partial asks what's left once z is removed):
    * r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)).
    *
    * Determinism: all three Pearson r's come from one aggregate of
    * exact cleared decimal sums, each r one d6 (IEEE sqrt of the
    * exact cleared product); the partial closes in one more d6. Any
    * zero-variance margin or a degenerate (|r| = 1) conditioning
    * answers NULL. Scale shape: ONE 1-row aggregate.
    */
  def partialCorrelation(
      df: DataFrame,
      xCol: String,
      yCol: String,
      zCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val z = col(zCol).cast("long")
    val agg = df.agg(count(lit(1)).as("n"),
      sum(dec(x)).as("_sx"), sum(dec(y)).as("_sy"),
      sum(dec(z)).as("_sz"),
      sum(dec(x) * dec(x)).as("_sxx"), sum(dec(y) * dec(y)).as("_syy"),
      sum(dec(z) * dec(z)).as("_szz"),
      sum(dec(x) * dec(y)).as("_sxy"), sum(dec(x) * dec(z)).as("_sxz"),
      sum(dec(y) * dec(z)).as("_syz"))
    def cl(sab: Column, sa: Column, sb: Column): Column =
      (dec(col("n")) * sab - sa * sb).cast("double")
    def r(sab: Column, sa: Column, sb: Column, claa: Column,
        clbb: Column): Column =
      when(claa > 0.0 && clbb > 0.0,
        d6(cl(sab, sa, sb) / sqrt(claa * clbb)))
    val clxx = cl(col("_sxx"), col("_sx"), col("_sx"))
    val clyy = cl(col("_syy"), col("_sy"), col("_sy"))
    val clzz = cl(col("_szz"), col("_sz"), col("_sz"))
    val staged = agg.select(col("n"),
      r(col("_sxy"), col("_sx"), col("_sy"), clxx, clyy).as("r_xy"),
      r(col("_sxz"), col("_sx"), col("_sz"), clxx, clzz).as("r_xz"),
      r(col("_syz"), col("_sy"), col("_sz"), clyy, clzz).as("r_yz"))
    val den = (lit(1.0) - col("r_xz") * col("r_xz")) *
      (lit(1.0) - col("r_yz") * col("r_yz"))
    staged.withColumn("r_partial",
      when(col("r_xy").isNotNull && col("r_xz").isNotNull &&
        col("r_yz").isNotNull && den > 0.0,
        d6((col("r_xy") - col("r_xz") * col("r_yz")) / sqrt(den))))
  }

  /** Jonckheere–Terpstra ordered-alternative test (Jonckheere 1954)
    * — is a CONTINUOUS metric monotone in an ordered dose? The
    * partner of [[cochranArmitage]] (binary outcome) and the ordered
    * upgrade of [[kruskalWallis]] (which ignores the dose order): J =
    * Σ_{i<j} U(i,j), normal-approximated with the full
    * Hollander–Wolfe tie-corrected variance.
    *
    * Exactness: J is counted in DOUBLED units (ties count 1, wins 2)
    * via per-value cumulative-count windows — integers end to end;
    * E[2J] = (N²−Σnᵢ²)/2 exact; the three variance terms assemble
    * from exact decimal dose/tie spectra; ONE d6 closes z. Degenerate
    * designs (one dose, all values tied) answer NULL.
    *
    * Scale shape: a (dose, value) cell aggregate, one per-dose
    * cumulative window over the value-DOMAIN-bounded cell frame
    * (quantize unbounded metrics first — the kruskalWallis
    * contract), a doses×values×doses contribution join bounded by
    * the same domains, dose/value rollups.
    */
  def jonckheereTerpstra(
      df: DataFrame,
      doseCol: String,
      xCol: String,
      maxCells: Long = 10000L): DataFrame = {
    require(maxCells >= 4L && maxCells <= 1000000L,
      s"maxCells in [4,1e6], got $maxCells")
    val W = org.apache.spark.sql.expressions.Window
    val rawCells = df.select(col(doseCol).cast("long").as("_d"),
        col(xCol).cast("long").as("_v"))
      .groupBy(col("_d"), col("_v"))
      .agg(count(lit(1)).as("_n"))
    // the pair stage is quadratic in (dose, value) cells BY CONTRACT
    // — loud guard (the kendallTau discipline); quantize first
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cells = rawCells.withColumn("_nc", count(lit(1)).over(wAll))
      .select(col("_d"), col("_v"),
        when(col("_nc") <= maxCells, col("_n"))
          .otherwise(raise_error(concat(
            lit("jonckheereTerpstra: "), col("_nc").cast("string"),
            lit(s" distinct (dose,value) cells > maxCells=$maxCells" +
              " — quantize the metric"))).cast("long")).as("_n"))
    val ci = cells.select(col("_d").as("_di"), col("_v").as("_vi"),
      col("_n").as("_ni"))
    val cj = cells.select(col("_d").as("_dj"), col("_v").as("_vj"),
      col("_n").as("_nj"))
    val contrib = ci.join(cj,
        col("_di") < col("_dj") && col("_vi") <= col("_vj"))
      .select((col("_ni") * col("_nj") *
        when(col("_vi") < col("_vj"), lit(2L)).otherwise(lit(1L)))
        .as("_c"))
    val ties = contrib.agg(
      coalesce(sum(when(col("_c") > 0L, col("_c"))), lit(0L))
        .as("_st"))
    val perDose = cells.groupBy(col("_d"))
      .agg(sum(col("_n")).as("_nd"))
    val doseStats = perDose.agg(count(lit(1)).as("k_doses"),
      sum(col("_nd")).as("n_total"),
      sum(dec(col("_nd")) * dec(col("_nd"))).as("_sn2"),
      sum(dec(col("_nd")) * (dec(col("_nd")) - lit(1)) *
        (lit(2) * dec(col("_nd")) + lit(5))).as("_a2"),
      sum(dec(col("_nd")) * (dec(col("_nd")) - lit(1)))
        .as("_c1"),
      sum(dec(col("_nd")) * (dec(col("_nd")) - lit(1)) *
        (dec(col("_nd")) - lit(2))).as("_b1"))
    val tieStats = cells.groupBy(col("_v"))
      .agg(sum(col("_n")).as("_tv"))
      .agg(sum(dec(col("_tv")) * (dec(col("_tv")) - lit(1)) *
        (lit(2) * dec(col("_tv")) + lit(5))).as("_a3"),
        sum(dec(col("_tv")) * (dec(col("_tv")) - lit(1)))
          .as("_c2"),
        sum(dec(col("_tv")) * (dec(col("_tv")) - lit(1)) *
          (dec(col("_tv")) - lit(2))).as("_b2"))
    val joined = ties
      .crossJoin(broadcast(doseStats)).crossJoin(broadcast(tieStats))
    val nD = col("n_total").cast("double")
    val j2 = col("_st").cast("double")
    val e2 = (dec(col("n_total")) * dec(col("n_total")) - col("_sn2"))
      .cast("double")
    val aTerm = (dec(col("n_total")) * (dec(col("n_total")) - lit(1)) *
      (lit(2) * dec(col("n_total")) + lit(5)) - col("_a2") -
      col("_a3")).cast("double") / 72.0
    val bTerm = col("_b1").cast("double") * col("_b2").cast("double") /
      (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0))
    val cTerm = col("_c1").cast("double") * col("_c2").cast("double") /
      (lit(8.0) * nD * (nD - 1.0))
    val varJ = aTerm + bTerm + cTerm
    val ok = col("k_doses") >= 2L
    joined.select(col("k_doses"), col("n_total"),
      col("_st").as("j2_doubled"),
      when(ok && varJ > 0.0,
        d6((j2 / 2.0 - e2 / 4.0) / sqrt(varJ))).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Harrell's concordance index for survival risk scores (Harrell
    * 1982) — "does a higher risk score actually mean earlier churn?":
    * among comparable pairs (the earlier time is an observed event),
    * the fraction where the score ranks them correctly, ties worth
    * half. THE standard discrimination readout for [[coxPh]]'s
    * linear predictor (c = 0.5 random, 1.0 perfect).
    *
    * Exactness: pairs count in doubled units over (time, event,
    * score) CELLS — concordant 2, score-tie 1 — so c =
    * doubled/(2·comparable) takes ONE d6. The cell-pair join is
    * quadratic in distinct (time, score) cells BY CONTRACT: a loud
    * maxCells guard (the [[kendallTau]] discipline) — quantize
    * continuous scores first.
    *
    * Scale shape: one cell aggregate, one guarded cells² join, one
    * 1-row rollup.
    */
  def harrellC(
      df: DataFrame,
      timeCol: String,
      eventCol: String,
      scoreCol: String,
      maxCells: Long = 10000L): DataFrame = {
    require(maxCells >= 4L && maxCells <= 1000000L,
      s"maxCells in [4,1e6], got $maxCells")
    val ev = flag01("harrellC", "event flag", col(eventCol))
    val cells = df.select(col(timeCol).cast("long").as("_t"),
        ev.as("_e"), col(scoreCol).cast("long").as("_s"))
      .groupBy(col("_t"), col("_e"), col("_s"))
      .agg(count(lit(1)).as("_n"))
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val guarded = cells.withColumn("_nc", count(lit(1)).over(wAll))
      .select(col("_t"), col("_e"), col("_s"),
        when(col("_nc") <= maxCells, col("_n"))
          .otherwise(raise_error(concat(
            lit("harrellC: "), col("_nc").cast("string"),
            lit(s" distinct (time,event,score) cells > maxCells=" +
              s"$maxCells — quantize the score"))).cast("long"))
          .as("_n"))
    val a = guarded.select(col("_t").as("_ta"), col("_e").as("_ea"),
      col("_s").as("_sa"), col("_n").as("_na"))
    val b = guarded.select(col("_t").as("_tb"), col("_s").as("_sb"),
      col("_n").as("_nb"))
    // comparable: a is an observed event strictly earlier than b
    val pairs = a.filter(col("_ea") === 1L)
      .join(b, col("_ta") < col("_tb"))
      .select((col("_na") * col("_nb")).as("_np"),
        when(col("_sa") > col("_sb"), lit(2L))
          .when(col("_sa") === col("_sb"), lit(1L))
          .otherwise(lit(0L)).as("_w"))
    pairs.agg(coalesce(sum(col("_np")), lit(0L)).as("n_comparable"),
      coalesce(sum(col("_np") * col("_w")), lit(0L)).as("_d2"))
      .select(col("n_comparable"),
        when(col("n_comparable") > 0L,
          d6(col("_d2").cast("double") /
            (lit(2.0) * col("n_comparable").cast("double"))))
          .as("c_index"))
  }

  /** Intraclass correlation ICC(1,1) (Shrout & Fleiss 1979, one-way
    * random) — what fraction of measurement variance is BETWEEN
    * units rather than within-unit noise? The continuous-scale
    * reliability readout beside [[cronbachAlpha]] (consistency of a
    * composite) and [[cohensKappa]] (categorical agreement):
    * ICC = (MSB − MSW)/(MSB + (k−1)·MSW) from the one-way ANOVA
    * decomposition over a COMPLETE unit × measurement design
    * (enforced loudly in-plan).
    *
    * Determinism: SSB/SSW assemble from exact cleared decimals
    * (per-unit totals and the grand total), MSB/MSW/ICC close in
    * fixed d6 stages. Zero between+within variance answers NULL.
    * Scale shape: one (unit) aggregate with per-unit sums, one 1-row
    * rollup.
    */
  def icc(
      df: DataFrame,
      unitCol: String,
      xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val per = df.groupBy(col(unitCol).as("_u"))
      .agg(count(lit(1)).as("_k"), sum(dec(x)).as("_s"),
        sum(dec(x) * dec(x)).as("_q"))
    // complete-design audit rides a DISTRIBUTED max (1-row broadcast)
    // — the r17 form windowed the per-unit frame unpartitioned, a
    // corpus-scaling frame through one task (the corpus-wide class-6
    // law caught it in r18; the hoeffdingsD treatment)
    val audited = per
      .crossJoin(broadcast(per.agg(max(col("_k")).as("_kmax"))))
      .select(col("_u"),
        when(col("_k") === col("_kmax"), col("_k"))
          .otherwise(raise_error(concat(
            lit("icc: unit "), col("_u").cast("string"), lit(" has "),
            col("_k").cast("string"), lit(" measurements, others "),
            col("_kmax").cast("string"),
            lit(" — the one-way ICC needs a complete design")))
            .cast("long")).as("_k"),
        col("_s"), col("_q"))
    val roll = audited.agg(count(lit(1)).as("n_units"),
      max(col("_k")).as("k_per_unit"),
      sum(col("_s")).as("_gs"), sum(col("_q")).as("_gq"),
      sum(col("_s") * col("_s")).as("_sst"))
    val n = col("n_units")
    val k = col("k_per_unit")
    val nTot = (n * k).cast("double")
    // SSB = Σ Tᵤ²/k − G²/(nk); SSW = Σx² − Σ Tᵤ²/k (exact-decimal
    // numerators, fixed double chain)
    val ssb = col("_sst").cast("double") / k.cast("double") -
      col("_gs").cast("double") * col("_gs").cast("double") / nTot
    val ssw = col("_gq").cast("double") -
      col("_sst").cast("double") / k.cast("double")
    val msb = d6(ssb / (n - 1L).cast("double"))
    val msw = d6(ssw / (n * (k - 1L)).cast("double"))
    val guarded = roll.select(
      when(n >= 2L, n).otherwise(raise_error(lit(
        "icc: need >= 2 units")).cast("long")).as("n_units"),
      when(k >= 2L, k).otherwise(raise_error(lit(
        "icc: need >= 2 measurements per unit")).cast("long"))
        .as("k_per_unit"),
      msb.as("msb"), msw.as("msw"))
    guarded.withColumn("icc",
      when(col("msb") + (col("k_per_unit") - 1L).cast("double") *
        col("msw") > 0.0,
        d6((col("msb") - col("msw")) /
          (col("msb") + (col("k_per_unit") - 1L).cast("double") *
            col("msw")))))
  }

  /** Hellinger distance between the reference and current slices over
    * one categorical/bucketed dimension — the bounded, SYMMETRIC,
    * triangle-inequality-honest drift metric beside [[psiDrift]]
    * (unbounded, asymmetric-ish) and [[jsDrift]] (bounded, not a
    * metric): H = √(1 − Σ√(pᵢqᵢ)) ∈ [0,1]. Being a true metric makes
    * Hellinger the one you can THRESHOLD TRANSITIVELY across many
    * slices (d(a,c) ≤ d(a,b)+d(b,c)) — the multi-snapshot drift
    * matrix use case.
    *
    * Same Laplace-smoothed shares as the siblings (+1 per bucket, so
    * an unseen bucket never zeroes the affinity). Determinism: each
    * √(pq) term is IEEE-exact sqrt over one shared double product,
    * d6 before the decimal sum; H takes one more d6 (the 1−Σ
    * difference clamps at 0 against d6 crumbs). Scale shape: ONE
    * bucket-keyed aggregate + windows over the bucket frame.
    */
  def hellingerDrift(
      df: DataFrame,
      curCol: String,
      bucket: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cur = col(curCol).cast("boolean")
    val cnt = df.groupBy(bucket.cast("string").as("bucket"))
      .agg(sum(when(cur, lit(0L)).otherwise(lit(1L))).as("n_ref"),
        sum(when(cur, lit(1L)).otherwise(lit(0L))).as("n_cur"))
    val w = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val p = (col("n_ref") + lit(1L)).cast("double") /
      (sum(col("n_ref")).over(w) + count(lit(1)).over(w)).cast("double")
    val q = (col("n_cur") + lit(1L)).cast("double") /
      (sum(col("n_cur")).over(w) + count(lit(1)).over(w)).cast("double")
    cnt
      .withColumn("p_ref", d6(p))
      .withColumn("p_cur", d6(q))
      .withColumn("bc_term", d6(sqrt(p * q)))
      .withColumn("hellinger",
        d6(sqrt(greatest(lit(0.0),
          lit(1.0) - sum(d28(col("bc_term"))).over(w)
            .cast("double")))))
  }

  /** Two-sided normal p-value via the Abramowitz–Stegun 7.1.26 erfc
    * polynomial (|error| ≤ 1.5e-7): p = erfc(|z|/√2). Spark has no
    * erf builtin, and libm erf would not be engine-portable anyway —
    * a FIXED shared polynomial in both engines is; the caller d6s the
    * result (absorbing exp's last ulp). */
  private[graft] def normalTwoSidedP(z: Column): Column = {
    val x = abs(z) / lit(math.sqrt(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t + lit(-1.453152027)) * t +
      lit(1.421413741)) * t + lit(-0.284496736)) * t +
      lit(0.254829592)) * t
    poly * exp(-(x * x))
  }

  /** The identical erfc chain as DuckDB SQL text — oracle twin of
    * [[normalTwoSidedP]]; keep the operation ORDER in lockstep. */
  private[graft] def normalTwoSidedPSql(zExpr: String): String = {
    val x = s"(abs($zExpr) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(((((1.061405429 * $t + -1.453152027) * $t + 1.421413741) * " +
      s"$t + -0.284496736) * $t + 0.254829592) * $t * " +
      s"exp(-($x * $x)))"
  }

  /** All pairwise Welch mean contrasts with Bonferroni control — the
    * POST-HOC step after [[anovaOneWay]]/[[kruskalWallis]] says "the
    * groups differ": WHICH pairs differ, with the family-wise error
    * held at α across all k(k−1)/2 comparisons. The first multiple-
    * testing-honest readout in the corpus: p-values come from the
    * shared erfc polynomial, not a table.
    *
    * Determinism: per-group sufficient sums exact decimal; means and
    * variances one d6 each (cleared forms); z per pair one d6 over
    * the fixed Welch chain; p = d6(erfc poly); Bonferroni-adjusted
    * p = d6(min(1, p·m)). A zero-variance-both-sides pair answers
    * NULL z. Scale shape: ONE keyed aggregate → a groups² pair frame
    * (group cardinality bounded by contract).
    */
  def pairwiseContrasts(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val per = df.groupBy(col(groupCol).cast("string").as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(dec(x)).as("_s1"), sum(dec(x) * dec(x)).as("_s2"))
      .select(col("_g"),
        when(col("_n") >= 2L, col("_n"))
          .otherwise(raise_error(concat(
            lit("pairwiseContrasts: group "), col("_g"),
            lit(" has fewer than 2 rows"))).cast("long")).as("_n"),
        col("_s1"), col("_s2"))
      .select(col("_g"), col("_n"),
        d6(col("_s1").cast("double") / col("_n").cast("double"))
          .as("_m"),
        d6((dec(col("_n")) * col("_s2") - col("_s1") * col("_s1"))
          .cast("double") /
          (col("_n") * (col("_n") - 1L)).cast("double")).as("_v"))
    val a = per.select(col("_g").as("group_a"), col("_n").as("n_a"),
      col("_m").as("mean_a"), col("_v").as("_va"))
    val b = per.select(col("_g").as("group_b"), col("_n").as("n_b"),
      col("_m").as("mean_b"), col("_v").as("_vb"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val se2 = col("_va") / col("n_a").cast("double") +
      col("_vb") / col("n_b").cast("double")
    val pairs = a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .withColumn("z", when(se2 > 0.0,
        d6((col("mean_a") - col("mean_b")) / sqrt(se2))))
      .withColumn("m_comparisons", count(lit(1)).over(w))
      .withColumn("p_raw",
        when(col("z").isNotNull, d6(normalTwoSidedP(col("z")))))
      .withColumn("p_bonf",
        when(col("p_raw").isNotNull,
          d6(least(lit(1.0),
            col("p_raw") * col("m_comparisons").cast("double")))))
      .withColumn("significant",
        when(col("p_bonf").isNotNull,
          (col("p_bonf") <= 0.05).cast("int")).otherwise(lit(0)))
    pairs.select(col("group_a"), col("group_b"), col("n_a"),
      col("n_b"), col("mean_a"), col("mean_b"), col("z"),
      col("m_comparisons"), col("p_raw"), col("p_bonf"),
      col("significant"))
  }

  /** z-battery front-end to [[bhFdr]]: turn a table of z-scored tests
    * into BH-controlled discoveries — p = d6(erfc(|z|/√2)) via the
    * shared [[normalTwoSidedP]] polynomial (Spark has no erf; a FIXED
    * polynomial is the engine-portable route), then the existing
    * step-up machinery (q264). This is the layer the module's
    * per-test `significant` flags deliberately don't provide: run
    * twenty drift/rate tests and "3 significant at 5%" is EXPECTED
    * noise; BH holds the false-discovery rate instead.
    *
    * Output = [[bhFdr]]'s (key, p_value, rank, p_adj, rejected)
    * plus the originating z. Scale shape: the battery frame is m
    * TESTS — tiny by construction; everything here is windows over
    * it.
    */
  def zBatteryFdr(
      df: DataFrame,
      keyCol: String,
      zCol: String,
      q: Double = 0.05): DataFrame = {
    val withP = df.select(col(keyCol), col(zCol).cast("double").as("z"))
      .withColumn("_p_raw", d6(normalTwoSidedP(col("z"))))
    bhFdr(withP, keyCol, "_p_raw", q)
      .join(withP.select(col(keyCol), col("z")), Seq(keyCol))
      .select(col(keyCol), col("z"), col("p_value"), col("rank"),
        col("p_adj"), col("rejected"))
  }

  /** Risk ratio and risk difference with 95% CIs from a 2×2
    * (arm × outcome) — the EPIDEMIOLOGIST'S pair to the odds ratio
    * (q369) and [[mantelHaenszel]]: when the outcome isn't rare, the
    * OR exaggerates and the risk ratio is what a decision-maker
    * actually means by "1.4× more likely". RR CI on the log scale
    * (Katz 1978), RD CI on the linear scale (Wald).
    *
    * Determinism: cells are exact longs; risks, RR, ln RR, both SEs
    * and every CI bound close in fixed d6 stages (IEEE sqrt, ln/exp
    * d6-absorbed). A zero cell making RR/its SE undefined (a = 0 or
    * c = 0) answers NULL RR fields; the risk DIFFERENCE survives
    * zero cells and is always reported. Flags must be 0/1 — loud.
    *
    * Scale shape: ONE 1-row aggregate over the corpus.
    */
  def riskRatio(
      df: DataFrame,
      armCol: String,
      outcomeCol: String): DataFrame = {
    val base = df.select(
      flag01("riskRatio", "arm flag", col(armCol)).as("_g"),
      flag01("riskRatio", "outcome flag", col(outcomeCol)).as("_y"))
    val agg = base.agg(
      sum(col("_g") * col("_y")).as("_a"),
      sum(col("_g") * (lit(1L) - col("_y"))).as("_b"),
      sum((lit(1L) - col("_g")) * col("_y")).as("_c"),
      sum((lit(1L) - col("_g")) * (lit(1L) - col("_y"))).as("_d"))
    val n1 = (col("_a") + col("_b")).cast("double")
    val n0 = (col("_c") + col("_d")).cast("double")
    val r1 = d6(col("_a").cast("double") / n1)
    val r0 = d6(col("_c").cast("double") / n0)
    val okRr = col("_a") > 0L && col("_c") > 0L
    val rr = d6(r1 / r0)
    val lnRr = d6(log(rr))
    val seLn = d6(sqrt(
      lit(1.0) / col("_a").cast("double") - lit(1.0) / n1 +
        lit(1.0) / col("_c").cast("double") - lit(1.0) / n0))
    val rd = d6(r1 - r0)
    val seRd = d6(sqrt(
      r1 * (lit(1.0) - r1) / n1 + r0 * (lit(1.0) - r0) / n0))
    agg.select(
      (col("_a") + col("_b")).as("n_exposed"),
      (col("_c") + col("_d")).as("n_unexposed"),
      r1.as("risk_exposed"), r0.as("risk_unexposed"),
      when(okRr, rr).as("risk_ratio"),
      when(okRr, d6(exp(lnRr - lit(1.959964) * seLn))).as("rr_ci_low"),
      when(okRr, d6(exp(lnRr + lit(1.959964) * seLn)))
        .as("rr_ci_high"),
      rd.as("risk_diff"),
      d6(rd - lit(1.959964) * seRd).as("rd_ci_low"),
      d6(rd + lit(1.959964) * seRd).as("rd_ci_high"))
  }

  /** Single best mean-shift changepoint by binary segmentation (the
    * one-split core of Scott & Knott 1974 / binary-seg CPD): over an
    * ordered bounded series, the split minimizing SSE_left+SSE_right —
    * equivalently maximizing the variance explained by "the level
    * CHANGED here". [[cusum]] ALARMS on drift; this LOCATES the break
    * and sizes the before/after levels — the incident-timeline
    * question ("when did volume actually shift?").
    *
    * Determinism: prefix sums are order-fixed decimal cumulative
    * windows over exact integers; each candidate's SSE terms close in
    * one d6; the winner is picked by exact comparison against the
    * window max of those d6 scores with the EARLIEST split on ties
    * (min over the equal-score rows — no argmax nondeterminism).
    * Scale shape: one ordered cumulative window + one all-rows window
    * over the (bounded-by-contract) ordered frame. Series of n < 4
    * fail loudly; a constant series reports zero reduction at the
    * first split.
    */
  def changepoint(
      df: DataFrame,
      orderCol: String,
      yCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_t").asc)
    val upTo = wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val base = df.select(col(orderCol).cast("long").as("_t"),
      col(yCol).cast("long").as("_y"))
    val cum = base
      .withColumn("_k", count(lit(1)).over(upTo))
      .withColumn("_l1", sum(dec(col("_y"))).over(upTo))
      .withColumn("_l2", sum(dec(col("_y")) * dec(col("_y")))
        .over(upTo))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_s1", sum(dec(col("_y"))).over(wAll))
      .withColumn("_s2", sum(dec(col("_y")) * dec(col("_y")))
        .over(wAll))
      .select(col("_t"), col("_k"), col("_l1"), col("_l2"),
        when(col("_n") >= 4L, col("_n"))
          .otherwise(raise_error(concat(lit("changepoint: n = "),
            col("_n").cast("string"), lit(" < 4"))).cast("long"))
          .as("_n"),
        col("_s1"), col("_s2"))
    def sse(k: Column, l1: Column, l2: Column): Column =
      when(k > 0L,
        (dec(k) * l2 - l1 * l1).cast("double") / k.cast("double"))
        .otherwise(lit(0.0))
    val cands = cum.filter(col("_k") < col("_n"))
      .withColumn("_sseL",
        sse(col("_k"), col("_l1"), col("_l2")))
      .withColumn("_sseR",
        sse(col("_n") - col("_k"), col("_s1") - col("_l1"),
          col("_s2") - col("_l2")))
      .withColumn("_sseT",
        sse(col("_n"), col("_s1"), col("_s2")))
      .withColumn("_red",
        d6((col("_sseT") - col("_sseL") - col("_sseR")) /
          col("_n").cast("double")))
    // winner by two window filters (max score, then earliest t among
    // ties) — no self-join, no argmax nondeterminism
    cands
      .withColumn("_mx", max(col("_red")).over(wAll))
      .filter(col("_red") === col("_mx"))
      .withColumn("_mnT", min(col("_t")).over(wAll))
      .filter(col("_t") === col("_mnT"))
      .select(col("_t").as("split_at"), col("_k").as("n_left"),
        (col("_n") - col("_k")).as("n_right"),
        d6(col("_l1").cast("double") / col("_k").cast("double"))
          .as("mean_left"),
        d6((col("_s1") - col("_l1")).cast("double") /
          (col("_n") - col("_k")).cast("double")).as("mean_right"),
        col("_red").as("sse_reduction_per_n"))
  }

  /** Mantel–Haenszel pooled odds ratio across strata (Mantel &
    * Haenszel 1959) with the Robins–Breslow–Greenland SE — the
    * confounding-adjusted 2×2 readout: "does the treatment move the
    * outcome once we stop comparing apples to oranges?" Pooling the
    * per-stratum tables by their MH weights defeats Simpson's
    * paradox, which is exactly the trap a naive q369-style single
    * 2×2 falls into on stratified traffic.
    *
    * OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ); Var(ln OR) per RBG 1986. Every
    * per-stratum R/S/P/Q term closes in one d6 before its decimal
    * sum; the ratio, ln, SE and z each take one more d6 (ln absorbs
    * libm). Zero ΣR or ΣS (no discordant evidence anywhere) answers
    * NULL. Arms/outcomes must be 0/1 — loud otherwise.
    *
    * Scale shape: ONE (stratum)-keyed aggregate with conditional
    * sums → strata-row frame → 1-row rollup.
    */
  def mantelHaenszel(
      df: DataFrame,
      stratumCol: String,
      armCol: String,
      outcomeCol: String): DataFrame = {
    val base = df.select(col(stratumCol).cast("string").as("_s"),
      flag01("mantelHaenszel", "arm flag", col(armCol)).as("_g"),
      flag01("mantelHaenszel", "outcome flag", col(outcomeCol)).as("_y"))
    val per = base.groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_g") * col("_y")).as("_a"),
        sum(col("_g") * (lit(1L) - col("_y"))).as("_b"),
        sum((lit(1L) - col("_g")) * col("_y")).as("_c"),
        sum((lit(1L) - col("_g")) * (lit(1L) - col("_y"))).as("_d"))
    val nD = col("_n").cast("double")
    val r = d6(col("_a").cast("double") * col("_d").cast("double") / nD)
    val s = d6(col("_b").cast("double") * col("_c").cast("double") / nD)
    val p = d6((col("_a") + col("_d")).cast("double") / nD)
    val q = d6((col("_b") + col("_c")).cast("double") / nD)
    val staged = per.select(
      d28(r).as("_r"), d28(s).as("_sS"),
      d28(d6(p * r)).as("_pr"),
      d28(d6(p * s + q * r)).as("_psqr"),
      d28(d6(q * s)).as("_qs"))
    val roll = staged.agg(count(lit(1)).as("k_strata"),
      sum(col("_r")).as("_sr"), sum(col("_sS")).as("_ss"),
      sum(col("_pr")).as("_spr"), sum(col("_psqr")).as("_spsqr"),
      sum(col("_qs")).as("_sqs"))
    val sr = col("_sr").cast("double")
    val ss = col("_ss").cast("double")
    val ok = sr > 0.0 && ss > 0.0
    val orMh = d6(sr / ss)
    val se = d6(sqrt(
      col("_spr").cast("double") / (lit(2.0) * sr * sr) +
        col("_spsqr").cast("double") / (lit(2.0) * sr * ss) +
        col("_sqs").cast("double") / (lit(2.0) * ss * ss)))
    val staged2 = roll.select(col("k_strata"),
      when(ok, orMh).as("or_mh"),
      when(ok, d6(log(orMh))).as("ln_or"),
      when(ok, se).as("se"))
    staged2
      .withColumn("z",
        when(col("se").isNotNull && col("se") > 0.0,
          d6(col("ln_or") / col("se"))))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Cochran–Armitage trend test (Cochran 1954; Armitage 1955) — is
    * a binary outcome's rate MONOTONE in an ordered dose? The
    * dose-response question a plain k-group χ² wastes power on by
    * ignoring the ordering: document-quality band vs dedup-survival,
    * user-tenure band vs churn. Scores are the integer dose values
    * themselves.
    *
    * Determinism: everything up to the final division is EXACT
    * integer/decimal — U = N·Σwr − R·Σwn, Var·N = R(N−R)(NΣw²n −
    * (Σwn)²)/N assembled from exact decimal sums; z closes in ONE d6
    * over U/√(that), and z² is the χ²(1) statistic. Degenerate
    * designs (R = 0, R = N, single dose level) answer NULL.
    *
    * Scale shape: ONE dose-keyed aggregate → doses-row frame → 1-row
    * rollup.
    */
  def cochranArmitage(
      df: DataFrame,
      doseCol: String,
      outcomeCol: String): DataFrame = {
    val y = flag01("cochranArmitage", "outcome flag", col(outcomeCol))
    val per = df.select(col(doseCol).cast("long").as("_w"), y.as("_y"))
      .groupBy(col("_w"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_r"))
    val roll = per.agg(count(lit(1)).as("k_doses"),
      sum(col("_n")).as("n_total"), sum(col("_r")).as("n_cases"),
      sum(dec(col("_w")) * dec(col("_r"))).as("_swr"),
      sum(dec(col("_w")) * dec(col("_n"))).as("_swn"),
      sum(dec(col("_w")) * dec(col("_w")) * dec(col("_n")))
        .as("_swwn"))
    val nT = col("n_total")
    val rT = col("n_cases")
    val u = (dec(nT) * col("_swr") - dec(rT) * col("_swn"))
      .cast("double")
    val spread = (dec(nT) * col("_swwn") - col("_swn") * col("_swn"))
      .cast("double")
    // z = U / √(R(N−R)·spread/N): the binomial-variance CA form with
    // everything inside the radical exact until the one division
    val varU = rT.cast("double") * (nT - rT).cast("double") *
      spread / nT.cast("double")
    val ok = col("k_doses") >= 2L && rT > 0L && rT < nT
    roll.select(col("k_doses"), col("n_total"), col("n_cases"),
      when(ok && spread > 0.0, d6(u / sqrt(varU))).as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Chapman capture–recapture population estimate (Chapman 1951) —
    * "how big is the corpus we can only SAMPLE?": two overlapping
    * capture passes (two crawls, two dedup probes) estimate the
    * unseen total from their overlap: N̂ = (n₁+1)(n₂+1)/(m+1) − 1,
    * the bias-corrected Lincoln–Petersen. The coverage-estimation
    * partner of [[graft.pipeline.TextStats]]'s Good–Turing unseen
    * mass (q327) — that asks about unseen TOKENS, this about unseen
    * DOCUMENTS.
    *
    * Determinism: capture counts are exact longs; N̂, the Seber
    * variance and the symmetric 95% band each close in one d6
    * (IEEE sqrt). Zero overlap answers estimates but NULL variance is
    * avoided by Chapman's +1 smoothing — the band is still reported;
    * flags must be 0/1, loud otherwise.
    *
    * Scale shape: ONE 1-row aggregate over the corpus.
    */
  def captureRecapture(
      df: DataFrame,
      flagACol: String,
      flagBCol: String): DataFrame = {
    val base = df.select(
      flag01("captureRecapture", "capture A flag", col(flagACol)).as("_a"),
      flag01("captureRecapture", "capture B flag", col(flagBCol)).as("_b"))
    val agg = base.agg(sum(col("_a")).as("n1"), sum(col("_b")).as("n2"),
      sum(col("_a") * col("_b")).as("m_overlap"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val m = col("m_overlap").cast("double")
    val est = d6((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0)
    val v = d6((n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m) /
      ((m + 1.0) * (m + 1.0) * (m + 2.0)))
    val staged = agg.select(col("n1"), col("n2"), col("m_overlap"),
      est.as("n_estimated"), v.as("variance"))
    staged
      .withColumn("ci_low",
        d6(col("n_estimated") - lit(1.959964) *
          sqrt(col("variance"))))
      .withColumn("ci_high",
        d6(col("n_estimated") + lit(1.959964) *
          sqrt(col("variance"))))
  }

  /** OLS influence diagnostics for a simple regression y ~ a + b·x
    * (Cook 1977): per-point leverage hᵢ, residual, and Cook's
    * distance Dᵢ = rᵢ²·hᵢ / (2·MSE·(1−hᵢ)²) — "which days/points is
    * this trend line actually standing on?", the audit run before
    * trusting any fitted slope ([[ols2]], [[theilSen]]) on a frame
    * with possible anomalies. Flags Dᵢ > 4/n (the standard screening
    * cut).
    *
    * Determinism: sufficient sums are exact decimal; leverage's
    * numerator (n·xᵢ−Sx)² and denominator n·(nSxx−Sx²) stay exact
    * decimal, h closes in one d6 over the fixed 1/n + num/den chain;
    * b, a, residuals and MSE follow fixed double chains from the
    * cleared decimals with one d6 each; D re-d6s from the d6'd r/h.
    * SSE uses the closed form (cl_yy − cl_xy²/cl_xx)/n — no second
    * data pass. n < 4 fails loudly in-plan; zero x-variance answers
    * NULL diagnostics.
    *
    * Scale shape: ONE 1-row aggregate broadcast back over the frame —
    * per-row arithmetic after that. Run it on BOUNDED frames (daily
    * rollups, per-key aggregates), not raw events: the OUTPUT is
    * row-per-input-point by construction.
    */
  def olsInfluence(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val base = df.select(x.as("_x"), y.as("_y"))
    val agg = crossMoments(base.groupBy(), "_n", "x", "y", "xx", "xy", "yy")
      .select(when(col("_n") >= 4L, col("_n"))
        .otherwise(raise_error(concat(lit("olsInfluence: n = "),
          col("_n").cast("string"), lit(" < 4"))).cast("long")).as("_n"),
        col("_sx"), col("_sy"),
        cleared("_n", "_sxx", "_sx", "_sx").as("_clxx"),
        cleared("_n", "_sxy", "_sx", "_sy").as("_clxy"),
        cleared("_n", "_syy", "_sy", "_sy").as("_clyy"))
    val j = base.crossJoin(broadcast(agg))
    val nD = col("_n").cast("double")
    val clxx = col("_clxx").cast("double")
    val b = col("_clxy").cast("double") / clxx
    val a = (col("_sy").cast("double") - b * col("_sx").cast("double")) /
      nD
    val hNum = (dec(col("_n")) * dec(col("_x")) - col("_sx"))
    val lev = d6(lit(1.0) / nD +
      (hNum * hNum).cast("double") /
        (dec(col("_n")) * col("_clxx")).cast("double"))
    val resid = d6(col("_y").cast("double") -
      (a + b * col("_x").cast("double")))
    val sse = (col("_clyy").cast("double") -
      col("_clxy").cast("double") * col("_clxy").cast("double") /
        clxx) / nD
    val mse = d6(sse / (nD - 2.0))
    val ok = clxx > 0.0
    val staged = j.select(col("_x").as(xCol), col("_y").as(yCol),
      col("_n").as("n_obs"),
      when(ok, lev).as("leverage"),
      when(ok, resid).as("residual"),
      when(ok, mse).as("_mse"))
    staged
      .withColumn("cooks_d",
        when(col("_mse") > 0.0,
          d6(col("residual") * col("residual") * col("leverage") /
            (lit(2.0) * col("_mse") *
              (lit(1.0) - col("leverage")) *
              (lit(1.0) - col("leverage"))))))
      .withColumn("influential",
        when(col("cooks_d").isNotNull,
          (col("cooks_d") > lit(4.0) / col("n_obs").cast("double"))
            .cast("int")).otherwise(lit(0)))
      .drop("_mse")
  }

  /** `c` as a 0/1 flag of type `as`; any other value, NULL included,
    * fails the query loudly with `<fn>: <what> <value> is not 0/1` (a
    * NULL shows as `NULL`). (The optimizer drops the second cast to
    * `long` of the default.)
    */
  private def flag01(fn: String, what: String, c: Column,
      as: String = "long"): Column =
    when(c.cast("long").isin(0L, 1L), c.cast("long").cast(as))
      .otherwise(raise_error(concat(lit(s"$fn: $what "),
        coalesce(c.cast("string"), lit("NULL")), lit(" is not 0/1"))).cast(as))

  /** The value-grouped frame of a two-arm rank test (the `mannWhitneyU`
    * discipline, docs/SCALING.md class 6): one row per distinct `_x`
    * (`xCol` as `long`) with the per-arm counts `_c0`/`_c1` and the
    * run length `_t`. Midranks are constant on a value run, so every
    * rank statistic of the two arms is a function of these counts.
    */
  private def twoArmValueCells(df: DataFrame, fn: String, armCol: String,
      xCol: String): DataFrame =
    df.select(flag01(fn, "arm flag", col(armCol)).as("_a"),
        col(xCol).cast("long").as("_x"))
      .groupBy(col("_x"))
      .agg(sum(when(col("_a") === 0L, 1L).otherwise(0L)).as("_c0"),
        sum(when(col("_a") === 1L, 1L).otherwise(0L)).as("_c1"))
      .withColumn("_t", col("_c0") + col("_c1"))

  /** The rows of every value run below this one: over a value-cell frame
    * (one row per distinct `x`, run length in `t`), the cumulative `Σ t`
    * over the rows strictly before, in `x` order, and 0 on the first run.
    * The window runs over the distinct values, never over raw rows.
    */
  private[pipeline] def cumBelow(x: String, t: String): Column = {
    val W = org.apache.spark.sql.expressions.Window
    coalesce(sum(col(t)).over(W.orderBy(col(x).asc)
      .rowsBetween(W.unboundedPreceding, -1)), lit(0L))
  }

  /** Twice the midrank of each value run: 2·[[cumBelow]] + t + 1. A run
    * of t tied values at positions b+1 .. b+t has average rank
    * b + (t+1)/2, so the doubled rank is an integer and every rank sum
    * built from it is exact.
    */
  private[pipeline] def doubledMidrank(x: String, t: String): Column =
    lit(2L) * cumBelow(x, t) + col(t) + 1L

  /** The total `Σ t` of a value-cell frame, on every row: a whole-frame
    * window in the same `x` order as [[cumBelow]], so both share one
    * sort.
    */
  private[pipeline] def valueTotal(x: String, t: String): Column = {
    val W = org.apache.spark.sql.expressions.Window
    sum(col(t)).over(W.orderBy(col(x).asc)
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
  }

  /** The tie term Σ(t³ − t) of a value-cell frame, exact in decimal. */
  private def tieSum: Column =
    sum(dec(col("_t")) * dec(col("_t")) * dec(col("_t")) - dec(col("_t")))

  /** Per-group rank sums of a k-sample rank test: `cells` holds one row
    * per (`_g`, `x`) with count `_c`, and `totals` the run length `_t`
    * per `x`. Each cell joins its value's [[doubledMidrank]]; per group,
    * `n` is the count and `r2s` the exact doubled rank sum Σ c·r₂.
    */
  private def groupRankSums(cells: DataFrame, totals: DataFrame, x: String,
      n: String, r2s: String): DataFrame =
    cells.join(totals.select(col(x), doubledMidrank(x, "_t").as("_r2")),
        Seq(x))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as(n),
        sum(dec(col("_c")) * dec(col("_r2"))).as(r2s))

  /** The doubled Ansari–Bradley inward score of a value run,
    * min(r₂, 2(n+1) − r₂), from its [[doubledMidrank]] `_r2` and the
    * frame total `_n`: extremes score low from both ends.
    */
  private def inwardScore2: Column =
    least(col("_r2"), lit(2L) * (col("_n") + 1L) - col("_r2"))

  /** The Ansari–Bradley sums over value runs: `_ab2` = arm-1 score sum,
    * `_ss` = Σ t·s₂ and `_ssq` = Σ t·s₂², all in doubled units.
    */
  private def inwardScoreSums: Seq[Column] = Seq(
    sum(col("_c1") * col("_s2")).as("_ab2"),
    sum(dec(col("_t")) * dec(col("_s2"))).as("_ss"),
    sum(dec(col("_t")) * dec(col("_s2")) * dec(col("_s2"))).as("_ssq"))

  /** Ansari–Bradley z off [[inwardScoreSums]] by the general two-sample
    * linear-rank form: E = n₁·S/n, Var = n₁n₀(n·Σs² − S²)/(n²(n−1));
    * zero variance answers NULL. `n`, `n0`, `n1` as doubles.
    */
  private def inwardScoreZ(n: Column, n0: Column, n1: Column): Column = {
    val e2 = n1 * col("_ss").cast("double") / n
    val var2 = n1 * n0 *
      (n * col("_ssq").cast("double") -
        col("_ss").cast("double") * col("_ss").cast("double")) /
      (n * n * (n - 1.0))
    when(var2 > 0.0, d6((col("_ab2").cast("double") - e2) / sqrt(var2)))
  }

  /** Exact cross-moments in ONE aggregate of `g`: the row count as `n`,
    * then per term, in the caller's order, `_s<term>`: a one-letter term
    * `a` sums dec(`_a`), a two-letter term `ab` sums dec(`_a`)·dec(`_b`).
    * Every sum is an exact decimal(38,0), so it is order-free.
    */
  private[graft] def crossMoments(g: RelationalGroupedDataset, n: String,
      terms: String*): DataFrame =
    g.agg(count(lit(1)).as(n), terms.map { t =>
      sum(t.map(c => dec(col(s"_$c"))).reduce(_ * _)).as(s"_s$t")
    }: _*)

  /** The cleared cross-moment n·Σab − Σa·Σb = n²·cov(a, b) of
    * [[crossMoments]] columns: exact, and free of the 1/n a mean would
    * round.
    */
  private[graft] def cleared(n: String, sab: String, sa: String,
      sb: String): Column =
    dec(col(n)) * col(sab) - col(sa) * col(sb)

  /** Observed contingency cells: the count `_o` per (`_a`, `_b`). */
  private def observedCells(df: DataFrame, a: Column, b: Column): DataFrame =
    df.select(a.as("_a"), b.as("_b"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_o"))

  /** Contingency `cells` (`_a`, `_b`, count `_o`) with the row margin
    * `_ra`, the column margin `_cb` and the grand total `n` on every
    * cell, as windows over the r·c-bounded cell frame.
    */
  private def contingencyMargins(cells: DataFrame, n: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    cells
      .withColumn("_ra", sum(col("_o")).over(W.partitionBy(col("_a"))))
      .withColumn("_cb", sum(col("_o")).over(W.partitionBy(col("_b"))))
      .withColumn(n, sum(col("_o")).over(W.partitionBy(lit(1))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
  }

  /** p-value column with the loud NULL/NaN guard shared by the
    * multiple-testing family (ADVICE r15): Spark windows rank NULLs
    * FIRST ascending while DuckDB ranks them LAST, so an unguarded
    * NULL p silently shifts every rank and p_adj across engines —
    * raise instead (the arm-flag guard convention). The guard rides
    * the ranked p column itself, so Catalyst cannot prune it. */
  private def guardedP(pCol: String, keyCol: String, op: String): Column = {
    val pRaw = col(pCol).cast("double")
    when(pRaw.isNotNull && !isnan(pRaw), pRaw)
      .otherwise(raise_error(concat(
        lit(s"$op: NULL/NaN p_value at key "), col(keyCol).cast("string"),
        lit(" — Spark ranks NULLs first, DuckDB last; clean the " +
          "hypothesis table"))).cast("double"))
  }

  /** The hypothesis table of the multiple-testing family: (keyCol,
    * [[guardedP]] as `p_value`, `rank` = row_number over (p, key) —
    * deterministic under tied p — and the hypothesis count `_m`). Both
    * windows run over the report-sized hypothesis table.
    */
  private def rankedP(df: DataFrame, keyCol: String, pCol: String,
      op: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    df.select(col(keyCol), guardedP(pCol, keyCol, op).as("p_value"))
      .withColumn("rank", row_number()
        .over(W.orderBy(col("p_value").asc, col(keyCol).asc)).cast("long"))
      .withColumn("_m", count(lit(1)).over(
        W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
  }

  /** Cohen's d / Hedges' g standardized effect size between two arms
    * (Cohen 1988; Hedges 1981) — the "how BIG is the difference"
    * readout that belongs NEXT to [[welchTTest]]'s "is it real":
    * pooled-SD mean difference, plus the small-sample bias-corrected
    * g = d·(1 − 3/(4N−9)). An A/B readout quoting only p is
    * half-blind; this is the other half.
    *
    * Determinism: per-arm sufficient sums exact decimal; the pooled
    * variance assembles from cleared Mᵢ/nᵢ terms (each one d6, decimal
    * sum) over n₀+n₁−2; means, sp, d and g close in fixed d6 stages
    * (IEEE-exact sqrt). Either arm constant-and-tiny such that
    * sp = 0 answers NULL d. Arms must be 0/1 — loud otherwise; an arm
    * with n < 2 is loud too (no variance to pool).
    *
    * Scale shape: ONE aggregate with arm-conditional sums → 1-row
    * arithmetic.
    */
  def cohensD(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    val arm = flag01("cohensD", "arm flag", col(armCol))
    val x = col(xCol).cast("long")
    val base = df.select(arm.as("_a"), x.as("_x"))
    val agg = base.agg(
      sum(when(col("_a") === 0L, 1L).otherwise(0L)).as("_n0"),
      sum(when(col("_a") === 1L, 1L).otherwise(0L)).as("_n1"),
      sum(when(col("_a") === 0L, dec(col("_x")))).as("_s0"),
      sum(when(col("_a") === 1L, dec(col("_x")))).as("_s1"),
      sum(when(col("_a") === 0L, dec(col("_x")) * dec(col("_x"))))
        .as("_q0"),
      sum(when(col("_a") === 1L, dec(col("_x")) * dec(col("_x"))))
        .as("_q1"))
    def guardN(c: Column): Column =
      when(c >= 2L, c).otherwise(raise_error(concat(
        lit("cohensD: an arm has "), c.cast("string"),
        lit(" rows (< 2) — no variance to pool"))).cast("long"))
    val g2 = agg.select(guardN(col("_n0")).as("_n0"),
      guardN(col("_n1")).as("_n1"),
      col("_s0"), col("_s1"),
      (dec(col("_n0")) * col("_q0") - col("_s0") * col("_s0"))
        .as("_m0"),
      (dec(col("_n1")) * col("_q1") - col("_s1") * col("_s1"))
        .as("_m1"))
    // (nᵢ−1)s²ᵢ = Mᵢ/nᵢ; sp² = (M₀/n₀ + M₁/n₁)/(n₀+n₁−2)
    val poolNum = (d28(d6(col("_m0").cast("double") /
      col("_n0").cast("double"))) +
      d28(d6(col("_m1").cast("double") / col("_n1").cast("double"))))
      .cast("double")
    val nTot = (col("_n0") + col("_n1")).cast("double")
    val sp = d6(sqrt(d6(poolNum / (nTot - 2.0))))
    val m0 = d6(col("_s0").cast("double") / col("_n0").cast("double"))
    val m1 = d6(col("_s1").cast("double") / col("_n1").cast("double"))
    val staged = g2.select(col("_n0").as("n0"), col("_n1").as("n1"),
      m0.as("mean0"), m1.as("mean1"), sp.as("pooled_sd"))
    staged
      .withColumn("d",
        when(col("pooled_sd") > 0.0,
          d6((col("mean1") - col("mean0")) / col("pooled_sd"))))
      .withColumn("hedges_g",
        when(col("d").isNotNull,
          d6(col("d") * (lit(1.0) - lit(3.0) /
            (lit(4.0) * (col("n0") + col("n1")).cast("double") -
              lit(9.0))))))
  }

  /** Two-sample Poisson rate comparison per key (the conditional
    * binomial "C-test", Przyborowski & Wilenski 1940): did the event
    * RATE change between two exposure windows? Conditioned on the
    * total count n = x₀+x₁, x₁ ~ Binomial(n, t₁/(t₀+t₁)) under equal
    * rates — the test reduces to a one-sample binomial z against the
    * exposure share, sidestepping any rate nuisance parameter. The
    * incident-response question ("did this error type spike after the
    * deploy?") asked properly when counts are small-to-moderate.
    *
    * Exposures are caller-supplied integer window lengths (same unit
    * both sides). Determinism: counts are exact longs, p = t₁/(t₀+t₁)
    * is one double division both engines share, and z closes in ONE
    * d6 over the fixed (x₁−n·p)/√(n·p·(1−p)) chain. n = 0 answers
    * NULL z. Normal approximation — document the n ≳ 20 regime;
    * below that use [[fisherExact]] on the 2×2 against exposure.
    *
    * Scale shape: ONE keyed aggregate (map-side combine) → k-row
    * scalar arithmetic.
    */
  def poissonRateTest(
      df: DataFrame,
      keyCol: String,
      armCol: String,
      exposure0: Long,
      exposure1: Long): DataFrame = {
    require(exposure0 > 0L && exposure1 > 0L,
      s"exposures must be positive, got ($exposure0, $exposure1)")
    val arm = flag01("poissonRateTest", "arm flag", col(armCol))
    val p = exposure1.toDouble / (exposure0 + exposure1).toDouble
    val agg = df.select(col(keyCol).as("_k"), arm.as("_a"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("n"), sum(col("_a")).as("x1"))
      .withColumn("x0", col("n") - col("x1"))
    agg.select(col("_k").as(keyCol), col("x0"), col("x1"),
      d6(col("x0").cast("double") / lit(exposure0.toDouble))
        .as("rate0"),
      d6(col("x1").cast("double") / lit(exposure1.toDouble))
        .as("rate1"),
      when(col("n") > 0L,
        d6((col("x1").cast("double") - col("n").cast("double") * lit(p))
          / sqrt(col("n").cast("double") * lit(p) * lit(1.0 - p))))
        .as("z"))
      .withColumn("significant",
        when(col("z").isNotNull, (abs(col("z")) >= 1.959964).cast("int"))
          .otherwise(lit(0)))
  }

  /** Bartlett's test of variance homogeneity across k groups
    * (Bartlett 1937) — the normal-theory sibling of [[brownForsythe]]:
    * more powerful when the metric really is normal, famously fragile
    * when it isn't (run [[jarqueBera]] first — that's the documented
    * pairing). T = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C against
    * χ²(k−1) from the shared 95% literal table.
    *
    * Determinism: per-group sufficient sums are exact decimal; the
    * cleared central form Mᵢ = nᵢΣx² − (Σx)² stays exact; s²ᵢ and the
    * pooled numerator terms Mᵢ/nᵢ each close in one d6 before decimal
    * sums; every ln lands in its own d6 (libm-ulp absorption); the
    * Bartlett correction C and T close the fixed staged chain. Any
    * group with nᵢ < 2 fails loudly in-plan; a zero-variance group
    * answers NULL T (ln 0 undefined — variance-equality is already
    * falsified by inspection there).
    *
    * Scale shape: ONE keyed aggregate → k-row frame → 1-row rollup.
    */
  def bartlett(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val x = col(xCol).cast("long")
    val per = df.groupBy(col(groupCol).cast("string").as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(dec(x)).as("_s1"), sum(dec(x) * dec(x)).as("_s2"))
      .select(col("_g"),
        when(col("_n") >= 2L, col("_n"))
          .otherwise(raise_error(concat(
            lit("bartlett: group "), col("_g"),
            lit(" has fewer than 2 rows"))).cast("long")).as("_n"),
        (dec(col("_n")) * col("_s2") - col("_s1") * col("_s1"))
          .cast("double").as("_m"))
    // s²ᵢ = Mᵢ/(nᵢ(nᵢ−1)); pooled numerator term = Mᵢ/nᵢ = (nᵢ−1)s²ᵢ
    val vi = d6(col("_m") /
      (col("_n") * (col("_n") - 1L)).cast("double"))
    val staged = per.select(col("_n"), col("_m"), vi.as("_vi"),
      d28(d6(col("_m") / col("_n").cast("double"))).as("_pool"),
      d28(d6(lit(1.0) / (col("_n") - 1L).cast("double"))).as("_inv"))
    val roll = staged.agg(count(lit(1)).as("k"),
      sum(col("_n")).as("n_total"),
      sum(col("_pool")).as("_poolsum"),
      sum(col("_inv")).as("_invsum"),
      sum(when(col("_vi") > 0.0,
        d28(d6((col("_n") - 1L).cast("double") *
          d6(log(col("_vi")))))).otherwise(lit(null)
        .cast("decimal(28,6)"))).as("_lnsum"),
      sum((col("_vi") <= 0.0).cast("long")).as("_degenerate"))
    val nk = (col("n_total") - col("k")).cast("double")
    val sp2 = d6(col("_poolsum").cast("double") / nk)
    val tRaw = when(col("k") >= 2L && col("_degenerate") === 0L,
      d6((nk * d6(log(sp2)) - col("_lnsum").cast("double")) /
        d6(lit(1.0) + (col("_invsum").cast("double") - lit(1.0) / nk) /
          (lit(3.0) * (col("k") - 1L).cast("double")))))
    roll.select(col("k"), col("n_total"), sp2.as("pooled_var"),
      tRaw.as("t_stat"))
      .withColumn("significant",
        when(col("t_stat").isNotNull,
          (col("t_stat") >= chiSq95Col(col("k") - 1L)).cast("int")))
  }

  /** Fisher's exact test on a 2×2 contingency table (Fisher 1935) —
    * the SMALL-SAMPLE independence test the asymptotic battery
    * ([[srmCheck]]'s χ², the G² keyness, the q369 odds ratio's normal
    * CI) is invalid for: exact hypergeometric enumeration conditioned
    * on the margins, two-sided by summing every table whose
    * probability does not exceed the observed one.
    *
    * Small-sample BY CONTRACT: pmf enumeration is O(margin) and the
    * ln-factorial table is O(n), so n is loudly capped (in-plan
    * raise_error) at maxN — Fisher's regime IS small tables; past the
    * cap the χ²/G² machinery is the right tool. Determinism: the
    * ln-factorial table is a cumulative DECIMAL sum of d6(ln i) terms
    * (absorbing libm's last-ulp spread), every ln-pmf is exact decimal
    * arithmetic over it, each pmf closes in one d6 after exp, and the
    * two-sided inclusion rule compares those d6-quantized pmfs with
    * plain ≤ (R's 1+1e-7 tolerance is unnecessary once both sides are
    * 6-decimal quantized — the documented convention).
    *
    * Scale shape: ONE corpus aggregate for the four cell counts; the
    * ln-factorial frame (≤ maxN rows) and the k-enumeration frame
    * (≤ min(r1,c1) rows) are both guard-bounded; joins against them
    * broadcast.
    */
  def fisherExact(
      df: DataFrame,
      groupCol: String,
      outcomeCol: String,
      maxN: Long = 10000L): DataFrame = {
    require(maxN >= 2L && maxN <= 100000L,
      s"maxN must be in [2,100000], got $maxN")
    val W = org.apache.spark.sql.expressions.Window
    val base = df.select(
      flag01("fisherExact", "group flag", col(groupCol)).as("_g"),
      flag01("fisherExact", "outcome flag", col(outcomeCol)).as("_y"))
    val agg = base.agg(count(lit(1)).as("_rawn"),
      sum(col("_g") * col("_y")).as("a"),
      sum(col("_g")).as("r1"), sum(col("_y")).as("c1"))
      .select(when(col("_rawn") <= maxN, col("_rawn"))
        .otherwise(raise_error(concat(lit("fisherExact: n = "),
          col("_rawn").cast("string"),
          lit(s" exceeds maxN = $maxN — use the asymptotic tests")))
          .cast("long")).as("n"),
        col("a"), col("r1"), col("c1"))
    // ln-factorial table over 0..n: cumulative decimal sum of d6(ln i)
    val lnf = agg.select(explode(sequence(lit(0L), col("n"))).as("m"))
      .withColumn("_t", when(col("m") <= 1L,
        lit(0).cast("decimal(28,6)"))
        .otherwise(d28(d6(log(col("m").cast("double"))))))
      .withColumn("lnfact", sum(col("_t")).over(
        W.partitionBy(lit(1)).orderBy(col("m").asc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("m"), col("lnfact"))
    def at(m: Column, alias: String): DataFrame =
      broadcast(lnf).select(col("m").as(s"_m_$alias"),
        col("lnfact").as(alias))
    val ks = agg
      .withColumn("r2", col("n") - col("r1"))
      .withColumn("c2", col("n") - col("c1"))
      .withColumn("k", explode(sequence(
        greatest(lit(0L), col("c1") - col("r2")),
        least(col("r1"), col("c1")))))
    val joined = ks
      .join(at(col("m"), "lf_r1"), col("r1") === col("_m_lf_r1"))
      .join(at(col("m"), "lf_r2"), col("r2") === col("_m_lf_r2"))
      .join(at(col("m"), "lf_c1"), col("c1") === col("_m_lf_c1"))
      .join(at(col("m"), "lf_c2"), col("c2") === col("_m_lf_c2"))
      .join(at(col("m"), "lf_n"), col("n") === col("_m_lf_n"))
      .join(at(col("m"), "lf_k"), col("k") === col("_m_lf_k"))
      .join(at(col("m"), "lf_r1k"),
        col("r1") - col("k") === col("_m_lf_r1k"))
      .join(at(col("m"), "lf_c1k"),
        col("c1") - col("k") === col("_m_lf_c1k"))
      .join(at(col("m"), "lf_rest"),
        col("r2") - col("c1") + col("k") === col("_m_lf_rest"))
    val lnPmf = (col("lf_r1") + col("lf_r2") + col("lf_c1") +
      col("lf_c2") - col("lf_n") - col("lf_k") - col("lf_r1k") -
      col("lf_c1k") - col("lf_rest")).cast("double")
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val pmfs = joined.withColumn("_pmf", d6(exp(lnPmf)))
      .withColumn("_obs",
        max(when(col("k") === col("a"), col("_pmf"))).over(wAll))
    pmfs
      .withColumn("_inc", when(col("_pmf") <= col("_obs"),
        d28(col("_pmf"))).otherwise(lit(0).cast("decimal(28,6)")))
      .groupBy(col("n"), col("a"), col("r1"), col("c1"))
      .agg(max(when(col("k") === col("a"), col("_pmf")))
        .as("pmf_observed"),
        d6(sum(col("_inc")).cast("double")).as("p_two_sided"))
      .withColumn("significant",
        (col("p_two_sided") <= 0.05).cast("int"))
  }

  /** Smoothed target encoding (Micci-Barreca 2001) — the categorical
    * feature-prep step every tabular training pipeline runs: replace
    * category c with a shrunk mean (Σy_c + m·ȳ)/(n_c + m), pulling
    * rare categories toward the global mean so the encoding doesn't
    * memorize noise. Emits the per-category encoding TABLE (join it
    * back to rows); m is the pseudo-count prior strength.
    *
    * Determinism: per-category and global sums are exact
    * decimal(38,0) (integer-valued target — quantize first); the
    * global mean closes in one d6 and the encoding in one more
    * (fixed (Σ + m·ȳ)/(n + m) order). Scale shape: ONE keyed
    * aggregate + a 1-row broadcast global — the output is
    * category-cardinality sized.
    */
  def targetEncode(
      df: DataFrame,
      catCol: String,
      yCol: String,
      m: Double = 100.0): DataFrame = {
    require(m >= 0.0, s"smoothing m must be >= 0, got $m")
    val y = col(yCol).cast("long")
    val base = df.select(col(catCol).cast("string").as("_c"), y.as("_y"))
    val perCat = base.groupBy(col("_c"))
      .agg(count(lit(1)).as("n"), sum(dec(col("_y"))).as("_sy"))
    val global = base.agg(count(lit(1)).as("_gn"),
      sum(dec(col("_y"))).as("_gs"))
    perCat.crossJoin(broadcast(
      global.select(d6(col("_gs").cast("double") /
        col("_gn").cast("double")).as("_gmean"))))
      .select(col("_c").as(catCol), col("n"),
        d6(col("_sy").cast("double") / col("n").cast("double"))
          .as("raw_mean"),
        col("_gmean").as("global_mean"),
        d6((col("_sy").cast("double") + lit(m) * col("_gmean")) /
          (col("n").cast("double") + lit(m))).as("encoded"))
  }

  /** Holm–Bonferroni step-down multiple-testing adjustment (Holm
    * 1979) — [[bhFdr]]'s FWER sibling: controls the probability of
    * ANY false rejection (the regime for a handful of confirmatory
    * hypotheses) where BH controls the false-discovery RATE (the
    * regime for exploratory sweeps). Step-down: walk the p-values
    * ascending, reject while p₍ᵢ₎ ≤ α/(m−i+1), stop at the first
    * failure — everything after it is retained regardless of its own
    * threshold. Adjusted p₍ᵢ₎ = max_{j≤i} min(1, (m−j+1)·p₍ⱼ₎)
    * (running max keeps the adjusted sequence monotone).
    *
    * Determinism: rank ties break on the key; (m−i+1)·p is one double
    * product per row; the running max and the stop rank are exact
    * integer/boolean logic; outputs close in d6. Scale shape: both
    * windows run over the HYPOTHESIS table (report-sized by
    * construction), exactly as [[bhFdr]].
    *
    * Output per hypothesis: (keyCol, p_value, rank, p_adj, rejected).
    */
  def holmBonferroni(
      df: DataFrame,
      keyCol: String,
      pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha in (0,1), got $alpha")
    val W = org.apache.spark.sql.expressions.Window
    val ranked = rankedP(df, keyCol, pCol, "holmBonferroni")
    // k* = rank just before the first step-down failure (m if none)
    val kStar = ranked
      .agg(coalesce(min(when(
          col("p_value") * (col("_m") - col("rank") + 1L).cast("double")
            > alpha,
          col("rank") - 1L)), max(col("rank"))).as("_kstar"))
    val padj = max(least(
        col("p_value") * (col("_m") - col("rank") + 1L).cast("double"),
        lit(1.0)))
      .over(W.orderBy(col("rank").asc)
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    ranked
      .withColumn("p_adj", d6(padj))
      .crossJoin(broadcast(kStar))
      .select(col(keyCol), d6(col("p_value")).as("p_value"), col("rank"),
        col("p_adj"),
        (col("rank") <= col("_kstar")).cast("int").as("rejected"))
  }

  /** Cliff's delta ordinal effect size between two arms (Cliff 1993)
    * — the nonparametric partner of [[cohensD]]: δ = (#(x₁>x₀) −
    * #(x₁<x₀)) / (n₀·n₁), the probability a treatment draw beats a
    * control draw minus the reverse; robust to every monotone
    * transform of the metric. Also emits the common-language effect
    * size CL = P(x₁>x₀) + ½P(x₁=x₀) (= the Mann–Whitney U ratio) and
    * the Romano et al. 2006 magnitude label (|δ| < .147 negligible,
    * < .33 small, < .474 medium, else large).
    *
    * NEVER the pair join: the pair counts assemble from the VALUE
    * CELL frame (one row per distinct metric value — midrank
    * machinery shared with the Mann–Whitney chain): with the
    * [[doubledMidrank]] r₂, Σ over arm-1 cells of c₁·r₂ gives 2·R₁, and 2·U₁ = 2·R₁ − n₁(n₁+1) is an exact
    * integer, so δ = (2·U₁ − n₀n₁)/(n₀n₁) is one exact rational →
    * ONE d6 (CL likewise). Arms must be 0/1 — loud otherwise; an
    * empty arm is loud (no pairs to compare).
    *
    * Scale shape: one cell aggregate (map-side combine), a
    * cells-frame cumulative window, one 1-row rollup.
    */
  def cliffsDelta(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    val cells = twoArmValueCells(df, "cliffsDelta", armCol, xCol)
      .withColumn("_cb", cumBelow("_x", "_t"))
    val agg = cells.agg(
      sum(col("_c0")).as("_n0"), sum(col("_c1")).as("_n1"),
      sum(dec(col("_c1")) * dec(lit(2L) * col("_cb") + col("_t") + 1L))
        .as("_r1x2"))
    def guardN(tag: String)(c: Column): Column =
      when(c >= 1L, c).otherwise(raise_error(
        lit(s"cliffsDelta: arm $tag is empty — no pairs to compare"))
        .cast("long"))
    val g = agg.select(guardN("0")(col("_n0")).as("_n0"),
      guardN("1")(col("_n1")).as("_n1"),
      (col("_r1x2") - dec(col("_n1")) * dec(col("_n1") + 1L))
        .as("_u1x2"))
    val pairs = dec(col("_n0")) * dec(col("_n1"))
    g.select(col("_n0").as("n0"), col("_n1").as("n1"),
        d6((col("_u1x2") - pairs).cast("double") /
          pairs.cast("double")).as("delta"),
        d6(col("_u1x2").cast("double") /
          (lit(2.0) * pairs.cast("double"))).as("cl_effect"))
      .withColumn("magnitude",
        when(abs(col("delta")) < 0.147, lit("negligible"))
          .when(abs(col("delta")) < 0.33, lit("small"))
          .when(abs(col("delta")) < 0.474, lit("medium"))
          .otherwise(lit("large")))
  }

  /** Single-instrument IV / two-stage-least-squares estimator
    * (Wright 1928; the Wald 1940 grouping estimator when z is
    * binary): β_IV = S_zy / S_zx over the [[cleared]] cross-moments
    * S_ab — the causal slope of y on x when x is
    * endogenous but z moves x and touches y ONLY through x. Also
    * emits the first-stage slope π = S_zx/S_zz and the first-stage
    * F = (n−2)·S_zx² / (S_zz·S_xx − S_zx²) with the Staiger–Stock
    * F < 10 weak-instrument flag — the diagnostic without which an
    * IV readout is uninterpretable.
    *
    * Determinism: z, x, y are integer metrics; every S is exact
    * DECIMAL(38,0); relevance is gated on the EXACT integer spread
    * S_zx ≠ 0 (the poissonRegression det-gate discipline — no float
    * epsilon), with S_zx = 0 answering NULL β/F rather than a 0/0;
    * β, π, F each close in ONE d6. n < 3 is loud (no df for the
    * first-stage F).
    *
    * Scale shape: ONE aggregate of six decimal sums (map-side
    * combine) → 1-row arithmetic.
    */
  def ivEstimator(
      df: DataFrame,
      zCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(zCol).cast("long").as("_z"),
      col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
    val agg = crossMoments(base.groupBy(), "_n",
      "z", "x", "y", "zz", "xx", "zx", "zy")
    val n = when(col("_n") >= 3L, col("_n"))
      .otherwise(raise_error(concat(lit("ivEstimator: "),
        col("_n").cast("string"),
        lit(" rows (< 3) — no df for the first-stage F")))
        .cast("long"))
    val g = agg.select(n.as("n"),
      cleared("_n", "_szz", "_sz", "_sz").as("_Szz"),
      cleared("_n", "_sxx", "_sx", "_sx").as("_Sxx"),
      cleared("_n", "_szx", "_sz", "_sx").as("_Szx"),
      cleared("_n", "_szy", "_sz", "_sy").as("_Szy"))
    val rel = col("_Szx") =!= lit(0L).cast("decimal(38,0)")
    val fDen = (col("_Szz") * col("_Sxx") - col("_Szx") * col("_Szx"))
      .cast("double")
    g.select(col("n"),
      when(rel, d6(col("_Szy").cast("double") /
        col("_Szx").cast("double"))).as("beta_iv"),
      when(col("_Szz") > 0L, d6(col("_Szx").cast("double") /
        col("_Szz").cast("double"))).as("pi_first_stage"),
      when(rel && fDen > 0.0,
        d6((col("n") - 2L).cast("double") *
          col("_Szx").cast("double") * col("_Szx").cast("double") /
          fDen)).as("f_first_stage"))
      .withColumn("weak_instrument",
        when(col("f_first_stage").isNotNull,
          (col("f_first_stage") < 10.0).cast("int")).otherwise(lit(1)))
  }

  /** Breusch–Pagan heteroskedasticity test (Breusch & Pagan 1979,
    * Koenker's studentized LM form): fit y ~ x by OLS, regress the
    * squared residuals on x, and LM = n·R²_aux ~ χ²₁ under
    * homoskedasticity — the gate that decides whether the OLS
    * standard errors next door ([[olsInfluence]], [[neweyWestSlope]])
    * can be trusted unrobustified.
    *
    * Determinism: the OLS slope/intercept come from exact cleared
    * decimals, each residual eᵢ = y − a − bx closes in d6 per row and
    * uᵢ = d6(eᵢ²/10⁶) (the scale cut keeps u² inside exact decimal
    * range; R² — hence LM — is invariant to any positive rescaling of
    * the response) is a d6-grid DECIMAL(18,6) whose sums and squares
    * are exact decimals; the cleared auxiliary moments then run in
    * double over those exact sums in a fixed order, R² =
    * S_xu²/(S_xx·S_uu), LM closes in ONE d6 and p is the shared
    * [[normalTwoSidedP]] polynomial at √LM (P(χ²₁ > LM) = 2(1−Φ(√LM))
    * — identical literals both engines). Degenerate inputs are gated
    * exactly: S_xx = 0 (constant regressor) is loud; S_uu ≤ 0
    * (homoskedastic residual grid) answers LM = 0, p = 1.
    *
    * Scale shape: one aggregate → broadcast 1-row params → one
    * projection for residuals → one aggregate → 1-row arithmetic.
    */
  def breuschPagan(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val agg = crossMoments(base.groupBy(), "_n", "x", "y", "xx", "xy")
    val sxxC = cleared("_n", "_sxx", "_sx", "_sx")
    val sxyC = cleared("_n", "_sxy", "_sx", "_sy")
    val params = agg.select(col("_n"), col("_sx"), col("_sy"),
      when(sxxC =!= lit(0L).cast("decimal(38,0)"), sxxC)
        .otherwise(raise_error(
          lit("breuschPagan: constant regressor — zero x spread"))
          .cast("decimal(38,0)")).as("_Sxx"),
      sxyC.as("_Sxy"))
      .select(col("_n"),
        d6(col("_Sxy").cast("double") / col("_Sxx").cast("double"))
          .as("_b"),
        col("_sx"), col("_sy"))
      .withColumn("_a", d6((col("_sy").cast("double") -
        col("_b") * col("_sx").cast("double")) /
        col("_n").cast("double")))
    val resid = base.crossJoin(broadcast(params))
      .withColumn("_e", d6(col("_y").cast("double") -
        col("_a") - col("_b") * col("_x").cast("double")))
      .withColumn("_u",
        d6(col("_e") * col("_e") / lit(1000000.0)).cast("decimal(18,6)"))
    val aux = resid.agg(count(lit(1)).as("n"),
      sum(dec(col("_x"))).as("_sx"), sum(col("_u")).as("_su"),
      sum(dec(col("_x")) * dec(col("_x"))).as("_sxx"),
      sum(col("_x").cast("decimal(18,0)") * col("_u")).as("_sxu"),
      sum(col("_u") * col("_u")).as("_suu"))
    val nD = col("n").cast("double")
    val sxuC = nD * col("_sxu").cast("double") -
      col("_sx").cast("double") * col("_su").cast("double")
    val sxxC2 = (dec(col("n")) * col("_sxx") - col("_sx") * col("_sx"))
      .cast("double")
    val suuC = nD * col("_suu").cast("double") -
      col("_su").cast("double") * col("_su").cast("double")
    val r2 = d6(sxuC * sxuC / (sxxC2 * suuC))
    val lm = when(suuC > 0.0, d6(nD * r2)).otherwise(lit(0.0))
    aux.select(col("n"), lm.as("lm_stat"))
      .withColumn("p_value",
        when(col("lm_stat") > 0.0,
          d6(normalTwoSidedP(sqrt(col("lm_stat"))))).otherwise(lit(1.0)))
      .withColumn("heteroskedastic",
        (col("p_value") < 0.05).cast("int"))
  }

  /** Chow structural-break test (Chow 1960): do the two regimes a 0/1
    * split column marks share ONE regression line, or did
    * (intercept, slope) move? F = ((SSE_p − SSE₀ − SSE₁)/2) /
    * ((SSE₀+SSE₁)/(n−4)) against F(2, n−4) — the deploy/policy-change
    * readout for "did the relationship itself shift", the regression
    * sibling of the mean-shift changepoint q410.
    *
    * Determinism: ONE split-keyed aggregate of exact decimal
    * sufficient stats; pooled stats are the segment SUMS (exact —
    * nothing is computed twice); each SSE = (S_xx·S_yy − S_xy²) /
    * (n·S_xx) evaluates the cleared-decimal numerator EXACTLY and
    * closes in one d6; F in one more d6. The F statistic and dfs are
    * emitted WITHOUT a p-value — Spark and DuckDB share no portable
    * F CDF, and a polynomial one would pretend precision the
    * approximation lacks; judge it against the caller's critical
    * value. Guards: each segment needs n ≥ 3 and nonzero EXACT x
    * spread (loud), split values must be 0/1 (loud); a zero pooled
    * residual (perfect joint fit) answers NULL F.
    *
    * Scale shape: ONE aggregate (map-side combine) → 1-row
    * arithmetic.
    */
  def chowTest(
      df: DataFrame,
      splitCol: String,
      xCol: String,
      yCol: String): DataFrame = {
    val seg = flag01("chowTest", "split flag", col(splitCol))
    val base = df.select(seg.as("_g"), col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    def sums(pred: Column, tag: String): Seq[Column] = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"_n$tag"),
      sum(when(pred, dec(col("_x")))).as(s"_sx$tag"),
      sum(when(pred, dec(col("_y")))).as(s"_sy$tag"),
      sum(when(pred, dec(col("_x")) * dec(col("_x")))).as(s"_sxx$tag"),
      sum(when(pred, dec(col("_x")) * dec(col("_y")))).as(s"_sxy$tag"),
      sum(when(pred, dec(col("_y")) * dec(col("_y")))).as(s"_syy$tag"))
    val cols = sums(col("_g") === 0L, "0") ++ sums(col("_g") === 1L, "1")
    val agg = base.agg(cols.head, cols.tail: _*)
    def sse(n: Column, sx: Column, sy: Column, sxx: Column,
        sxy: Column, syy: Column, tag: String): Column = {
      val nOk = when(n >= 3L, n).otherwise(raise_error(concat(
        lit(s"chowTest: segment $tag has "), n.cast("string"),
        lit(" rows (< 3)"))).cast("long"))
      val sxxC = dec(nOk) * sxx - sx * sx
      val sxxG = when(sxxC =!= lit(0L).cast("decimal(38,0)"), sxxC)
        .otherwise(raise_error(
          lit(s"chowTest: segment $tag has zero x spread"))
          .cast("decimal(38,0)"))
      val syyC = dec(n) * syy - sy * sy
      val sxyC = dec(n) * sxy - sx * sy
      // SSE = (SxxC·SyyC − SxyC²) / (n·SxxC) — exact decimal numerator
      d6((sxxG * syyC - sxyC * sxyC).cast("double") /
        (dec(n) * sxxG).cast("double"))
    }
    val st = agg.select(
      (col("_n0") + col("_n1")).as("n"),
      col("_n0").as("n0"), col("_n1").as("n1"),
      sse(col("_n0"), col("_sx0"), col("_sy0"), col("_sxx0"),
        col("_sxy0"), col("_syy0"), "0").as("sse0"),
      sse(col("_n1"), col("_sx1"), col("_sy1"), col("_sxx1"),
        col("_sxy1"), col("_syy1"), "1").as("sse1"),
      sse(col("_n0") + col("_n1"), col("_sx0") + col("_sx1"),
        col("_sy0") + col("_sy1"), col("_sxx0") + col("_sxx1"),
        col("_sxy0") + col("_sxy1"), col("_syy0") + col("_syy1"),
        "pooled").as("sse_pooled"))
    val rss = col("sse0") + col("sse1")
    st.select(col("n"), col("n0"), col("n1"),
      col("sse_pooled"), col("sse0"), col("sse1"),
      when(rss > 0.0,
        d6(((col("sse_pooled") - rss) / lit(2.0)) /
          (rss / (col("n") - 4L).cast("double")))).as("f_stat"),
      lit(2L).as("df1"), (col("n") - 4L).as("df2"))
  }

  /** Herfindahl–Hirschman concentration per market (Herfindahl 1950;
    * the DOJ/FTC merger-screen statistic): HHI = 10⁴·Σsᵢ² over firm
    * shares, the normalized HHI* = (HHI/10⁴ − 1/n)/(1 − 1/n) that
    * removes the firm-count floor, and the top-`topK` concentration
    * ratio CR_k — the "is this traffic/market/vocabulary dominated by
    * a few heads" readout (the corpus twin: source concentration of a
    * crawl, where a high HHI means a handful of domains own the
    * data).
    *
    * Determinism: firm masses are exact long sums (negatives loud);
    * Σxᵢ² is exact DECIMAL(38,0), so HHI = 10⁴·Q/T² and
    * HHI* = (n·Q − T²)/(T²·(n−1)) are exact rationals → ONE d6 each;
    * CR_k sums the top-k exact masses under the (mass desc, firm asc)
    * total order → one more d6. A single-firm market answers NULL
    * HHI* (no 1/n floor to remove); an empty-mass market (T = 0)
    * answers NULL everywhere.
    *
    * Scale shape: one (market, firm) aggregate (map-side combine),
    * one market-keyed rollup, one rank window over the FIRM frame for
    * CR_k.
    */
  def hhiConcentration(
      df: DataFrame,
      marketCol: String,
      firmCol: String,
      xCol: String,
      topK: Int = 4): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val W = org.apache.spark.sql.expressions.Window
    val x = when(col(xCol).cast("long") >= 0L, col(xCol).cast("long"))
      .otherwise(raise_error(concat(lit("hhiConcentration: mass "),
        col(xCol).cast("string"), lit(" is negative"))).cast("long"))
    val firms = df
      .select(col(marketCol).as("_m"), col(firmCol).as("_f"), x.as("_x"))
      .groupBy(col("_m"), col("_f")).agg(sum(col("_x")).as("_fx"))
      .withColumn("_rk", row_number().over(
        W.partitionBy(col("_m"))
          .orderBy(col("_fx").desc, col("_f").asc)))
    val agg = firms.groupBy(col("_m"))
      .agg(count(lit(1)).as("n_firms"), sum(col("_fx")).as("total"),
        sum(dec(col("_fx")) * dec(col("_fx"))).as("_q"),
        sum(when(col("_rk") <= topK, col("_fx")).otherwise(0L))
          .as("_top"))
    val t2 = dec(col("total")) * dec(col("total"))
    agg.select(col("_m").as(marketCol), col("n_firms"), col("total"),
      when(col("total") > 0L,
        d6(lit(10000.0) * col("_q").cast("double") / t2.cast("double")))
        .as("hhi"),
      when(col("total") > 0L && col("n_firms") > 1L,
        d6((dec(col("n_firms")) * col("_q") - t2).cast("double") /
          (t2 * dec(col("n_firms") - 1L)).cast("double")))
        .as("hhi_normalized"),
      when(col("total") > 0L,
        d6(col("_top").cast("double") / col("total").cast("double")))
        .as(s"cr$topK"))
  }

  /** Theil T inequality index with its exact between/within-group
    * decomposition (Theil 1967) — the ONE inequality measure that
    * splits additively: T = T_between + Σ_g (income share)·T_g, so a
    * corpus/revenue concentration readout can say HOW MUCH of the
    * inequality lives across groups (languages, sources, regions)
    * versus inside them. Output one row per group: population and
    * income shares, the within-group Theil T_g, the group's between
    * term (s_g·ln(μ_g/μ)) and its within contribution s_g·T_g.
    *
    * Requires x > 0 (Theil is undefined at zero/negative mass —
    * loud). Determinism: all sums exact (long/decimal); each ln term
    * closes in d6 PER ROW before its decimal sum (the bartlett/
    * g2Keyness discipline), group and global means are exact
    * rationals evaluated in one double order; T_g = (1/S_g)·Σ_i
    * d6(xᵢ·ln(xᵢ·N_g/S_g)) … cleared to avoid subtracting big logs.
    *
    * Scale shape: one (group)-keyed row-term aggregate (map-side
    * combine) + a broadcast 1-row global frame — corpus never
    * reshuffles twice.
    */
  def theilDecomposition(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val x = when(col(xCol).cast("long") > 0L, col(xCol).cast("long"))
      .otherwise(raise_error(concat(lit("theilDecomposition: mass "),
        col(xCol).cast("string"), lit(" is not positive"))).cast("long"))
    val base = df.select(col(groupCol).as("_g"), x.as("_x"))
    // per-group: N_g, S_g, and Σ x·ln x with the d6-per-term contract
    val g = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("_ng"), sum(dec(col("_x"))).as("_sg"),
        sum(d28(d6(col("_x").cast("double") *
          log(col("_x").cast("double"))))).as("_xlx"))
    val tot = g.agg(sum(col("_ng")).as("_n"), sum(col("_sg")).as("_s"))
    val withTot = g.crossJoin(broadcast(tot))
    val muG = col("_sg").cast("double") / col("_ng").cast("double")
    val mu = col("_s").cast("double") / col("_n").cast("double")
    // T_g = (Σ x ln x)/S_g − ln μ_g  (exact-sum form of
    // (1/S_g)Σ x ln(x/μ_g))
    val tg = d6(col("_xlx").cast("double") /
      col("_sg").cast("double") - log(muG))
    val incShare = d6(col("_sg").cast("double") / col("_s").cast("double"))
    withTot.select(col("_g").as(groupCol),
      col("_ng").as("n"), col("_sg").cast("long").as("total"),
      d6(col("_ng").cast("double") / col("_n").cast("double"))
        .as("pop_share"),
      incShare.as("income_share"),
      tg.as("theil_within"),
      d6(incShare * d6(log(muG / mu))).as("between_term"),
      d6(incShare * tg).as("within_contrib"))
  }

  /** Atkinson inequality indices at ε = 1 and ε = 2 per group
    * (Atkinson 1970) — the welfare-grounded complements of
    * [[theilDecomposition]]: A₁ = 1 − geomean/μ (how much total mass
    * society would give up for equality under log utility) and the
    * harder-bottom-weighted A₂ = 1 − harmonic mean/μ. Requires x > 0
    * (loud).
    *
    * Determinism: A₁'s log sum and A₂'s reciprocal sum both run on
    * the d6-per-term contract (reciprocals PRE-SCALED to 10⁶/x so the
    * d6 grid keeps 12 significant digits for cent-scale masses) into
    * exact decimal sums; the closing exp/divisions run in one fixed
    * order, one d6 per output. Scale shape: ONE keyed aggregate
    * (map-side combine) → k-row arithmetic.
    */
  def atkinsonIndices(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val x = when(col(xCol).cast("long") > 0L, col(xCol).cast("long"))
      .otherwise(raise_error(concat(lit("atkinsonIndices: mass "),
        col(xCol).cast("string"), lit(" is not positive"))).cast("long"))
    val base = df.select(col(groupCol).as("_g"), x.as("_x"))
    val agg = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(dec(col("_x"))).as("_s"),
        sum(d28(d6(log(col("_x").cast("double"))))).as("_lnsum"),
        sum(d28(d6(lit(1000000.0) / col("_x").cast("double"))))
          .as("_rsum"))
    val mu = col("_s").cast("double") / col("n").cast("double")
    val geo = exp(col("_lnsum").cast("double") / col("n").cast("double"))
    val harm = lit(1000000.0) * col("n").cast("double") /
      col("_rsum").cast("double")
    agg.select(col("_g").as(groupCol), col("n"),
      col("_s").cast("long").as("total"),
      d6(mu).as("mean"),
      d6(lit(1.0) - d6(geo) / d6(mu)).as("a1"),
      d6(lit(1.0) - d6(harm) / d6(mu)).as("a2"))
  }

  /** Palma ratio and tail income shares per group (Palma 2011; Cobham
    * & Sumner 2013): the top-10% share over the bottom-40% share —
    * the inequality headline that tracks where distributions actually
    * move (the middle 50% is empirically stable), plus both raw
    * shares and the top-20/bottom-20 quintile ratio. The corpus
    * reading: how much of the token/revenue mass the head sources own
    * against the long tail.
    *
    * Cutoff convention (documented, exact): under the (x asc, id asc)
    * total order, the bottom block is the first floor(0.4·n) rows
    * (resp. floor(0.2·n)) and the top block is the rows above
    * floor(0.9·n) (resp. floor(0.8·n)) — integer arithmetic, no
    * interpolation, ties broken by id. Requires x ≥ 0 (loud). Block
    * sums are exact longs; each share and ratio is ONE d6; an empty
    * bottom block (or zero bottom mass) answers NULL ratios.
    *
    * Scale shape: one PER-GROUP sharded rank pass
    * ([[shardedTotalOrder]] with groupCols — SCALING.md class 6: the
    * group axis is a handful of segments over a unit corpus, so a
    * plain group-partitioned window would serialize each group
    * through one task; sharding within the group caps max-task work
    * at group/shards) + one keyed rollup. Same exact ranks and counts
    * as the per-group `row_number()` window, per the sharded-equals-
    * one-window law.
    */
  def palmaShares(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      xCol: String): DataFrame = {
    val x = when(col(xCol).cast("long") >= 0L, col(xCol).cast("long"))
      .otherwise(raise_error(concat(lit("palmaShares: mass "),
        col(xCol).cast("string"), lit(" is negative"))).cast("long"))
    val ranked = shardedTotalOrder(
      df.select(col(groupCol).as("_g"), col(idCol).as("_tb"),
          x.as("_sk"))
        .withColumn("_x", col("_sk")),
      groupCols = Seq("_g"))
      .withColumnRenamed("_grk", "_rk")
    val agg = ranked.groupBy(col("_g"))
      .agg(max(col("_n")).as("n"), sum(col("_x")).as("total"),
        sum(when(col("_rk") <= floor(col("_n") * 0.4).cast("long"),
          col("_x")).otherwise(0L)).as("_b40"),
        sum(when(col("_rk") > floor(col("_n") * 0.9).cast("long"),
          col("_x")).otherwise(0L)).as("_t10"),
        sum(when(col("_rk") <= floor(col("_n") * 0.2).cast("long"),
          col("_x")).otherwise(0L)).as("_b20"),
        sum(when(col("_rk") > floor(col("_n") * 0.8).cast("long"),
          col("_x")).otherwise(0L)).as("_t20"))
    agg.select(col("_g").as(groupCol), col("n"), col("total"),
      when(col("total") > 0L, d6(col("_b40").cast("double") /
        col("total").cast("double"))).as("bottom40_share"),
      when(col("total") > 0L, d6(col("_t10").cast("double") /
        col("total").cast("double"))).as("top10_share"),
      when(col("_b40") > 0L, d6(col("_t10").cast("double") /
        col("_b40").cast("double"))).as("palma_ratio"),
      when(col("_b20") > 0L, d6(col("_t20").cast("double") /
        col("_b20").cast("double"))).as("quintile_ratio"))
  }

  /** Process capability indices per key (Juran 1974; the Six Sigma
    * Cp/Cpk pair): Cp = (USL−LSL)/6s asks whether the SPREAD fits the
    * spec band, Cpk = min(USL−μ, μ−LSL)/3s asks whether the CENTERED
    * process fits — Cpk < Cp means the mean has drifted off target.
    * The SLA/latency-budget reading: can this pipeline stage hold its
    * p99 budget, and is it centered or riding the edge?
    *
    * Determinism: sufficient sums exact decimal; the sample variance
    * assembles from the cleared form S/(n(n−1)) (S = n·Σx²−(Σx)²
    * exact), s closes in d6(√d6(·)); μ, Cp, Cpk each ONE d6. Zero
    * spread (S = 0) answers NULL indices (a dead-constant process has
    * no capability ratio); n < 2 is loud; USL ≤ LSL is loud.
    *
    * Scale shape: ONE keyed aggregate (map-side combine) → k-row
    * arithmetic.
    */
  def processCapability(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      lsl: Long,
      usl: Long): DataFrame = {
    require(usl > lsl, s"need usl > lsl, got ($lsl, $usl)")
    val base = df.select(col(keyCol).as("_k"),
      col(xCol).cast("long").as("_x"))
    val agg = base.groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_x"))).as("_s"),
        sum(dec(col("_x")) * dec(col("_x"))).as("_q"))
    val n = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("processCapability: key "),
        col("_k").cast("string"), lit(" has "),
        col("_n").cast("string"), lit(" rows (< 2)"))).cast("long"))
    val g = agg.select(col("_k"), n.as("n"), col("_s"),
      (dec(col("_n")) * col("_q") - col("_s") * col("_s")).as("_m"))
    val mu = d6(col("_s").cast("double") / col("n").cast("double"))
    val s = d6(sqrt(d6(col("_m").cast("double") /
      (dec(col("n")) * dec(col("n") - 1L)).cast("double"))))
    val staged = g.select(col("_k").as(keyCol), col("n"),
      mu.as("mean"), when(col("_m") > 0L, s).as("stddev"))
    staged
      .withColumn("cp", when(col("stddev").isNotNull,
        d6(lit((usl - lsl).toDouble) / (lit(6.0) * col("stddev")))))
      .withColumn("cpk", when(col("stddev").isNotNull,
        d6(least(lit(usl.toDouble) - col("mean"),
          col("mean") - lit(lsl.toDouble)) /
          (lit(3.0) * col("stddev")))))
      .withColumn("capable", when(col("cpk").isNotNull,
        (col("cpk") >= 1.33).cast("int")).otherwise(lit(0)))
  }

  /** Delta-method CI for a ratio-of-sums metric clustered by unit
    * (Fieller/Taylor linearization — the revenue-per-session /
    * cost-per-token readout done honestly): R̂ = ΣX/ΣY with
    * Var(R̂) ≈ (s²_x − 2R̂·s_xy + R̂²·s²_y)/(n·Ȳ²) over PER-UNIT sums,
    * because rows within a user/session correlate and a row-level
    * variance is a fiction (the Deng et al. 2017 metric framework).
    *
    * Determinism: the caller supplies exact per-unit integer sums;
    * ONE aggregate collects exact decimal sufficient stats; R̂ is one
    * d6; the [[cleared]] covariances S_ab stay exact decimal and the variance chain closes in a fixed double order →
    * d6 se; the CI uses the caller's z (default 1.959964, the corpus
    * convention). ΣY = 0 is loud (no ratio); n < 2 is loud; zero
    * variance answers se = 0 with a degenerate CI.
    *
    * Scale shape: ONE aggregate (map-side combine) → 1-row
    * arithmetic.
    */
  def ratioMetricCI(
      df: DataFrame,
      numCol: String,
      denCol: String,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val base = df.select(col(numCol).cast("long").as("_x"),
      col(denCol).cast("long").as("_y"))
    val agg = crossMoments(base.groupBy(), "_n", "x", "y", "xx", "xy", "yy")
    val n = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("ratioMetricCI: "),
        col("_n").cast("string"), lit(" units (< 2)"))).cast("long"))
    val sy = when(col("_sy") =!= lit(0L).cast("decimal(38,0)"), col("_sy"))
      .otherwise(raise_error(
        lit("ratioMetricCI: denominator total is zero — no ratio"))
        .cast("decimal(38,0)"))
    val g = agg.select(n.as("n"), col("_sx"), sy.as("_sy2"),
      cleared("_n", "_sxx", "_sx", "_sx").as("_Sxx"),
      cleared("_n", "_sxy", "_sx", "_sy").as("_Sxy"),
      cleared("_n", "_syy", "_sy", "_sy").as("_Syy"))
    val nD = col("n").cast("double")
    val r = d6(col("_sx").cast("double") / col("_sy2").cast("double"))
    val yBar = col("_sy2").cast("double") / nD
    val denomNN = nD * (nD - 1.0)
    val varR = (col("_Sxx").cast("double") / denomNN -
      lit(2.0) * r * (col("_Sxy").cast("double") / denomNN) +
      r * r * (col("_Syy").cast("double") / denomNN)) /
      (nD * yBar * yBar)
    val se = d6(sqrt(greatest(varR, lit(0.0))))
    g.select(col("n"), col("_sx").cast("long").as("sum_num"),
        col("_sy2").cast("long").as("sum_den"), r.as("ratio"),
        se.as("se"))
      .withColumn("ci_low", d6(col("ratio") - lit(z) * col("se")))
      .withColumn("ci_high", d6(col("ratio") + lit(z) * col("se")))
  }

  /** Aalen–Johansen cumulative incidence under competing risks
    * (Aalen & Johansen 1978): when a unit can exit for MORE than one
    * reason (churn-to-competitor vs churn-to-inactivity; failure vs
    * replacement), 1 − KM per cause OVERSTATES every cause's risk —
    * the honest per-cause probability is CIF_k(t) = Σ_{s≤t}
    * Ŝ(s⁻)·d_k(s)/n(s) with Ŝ the ALL-cause Kaplan–Meier. `causeCol`:
    * 0 = censored, ≥ 1 = competing causes (negatives loud).
    *
    * Determinism: risk sets and per-cause event counts are exact
    * longs; Ŝ rides [[kaplanMeier]]'s d6 log-domain product verbatim
    * (zero-pin included); S(s⁻) is one lag (default 1); each CIF
    * increment closes in d6 before its decimal cumulative sum. Output
    * one row per (duration, cause) with ≥ 1 event of that cause:
    * (duration, cause, n_risk, n_events, surv_prev, cif) — the CIFs
    * across causes + Ŝ(t) partition 1 at every t.
    *
    * Scale shape: the duration axis is bounded by contract (the KM
    * argument); one extra (duration, cause) aggregate + a per-cause
    * cumulative window.
    */
  def aalenJohansen(
      df: DataFrame,
      durationCol: String,
      causeCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cause = when(col(causeCol).cast("long") >= 0L,
      col(causeCol).cast("long"))
      .otherwise(raise_error(concat(lit("aalenJohansen: cause "),
        col(causeCol).cast("string"), lit(" is negative"))).cast("long"))
    val base = df.select(col(durationCol).cast("long").as("_t"),
      cause.as("_c"))
    val km = kaplanMeier(
      base.select(col("_t").as("duration"),
        (col("_c") > 0L).cast("long").as("event")),
      "duration", "event")
    val wOrd = W.partitionBy(lit(1)).orderBy(col("duration").asc)
    val withPrev = km.withColumn("surv_prev",
      coalesce(lag(col("survival"), 1).over(wOrd), lit(1.0)))
    val causes = base.filter(col("_c") > 0L)
      .groupBy(col("_t").as("duration"), col("_c").as("cause"))
      .agg(count(lit(1)).as("n_events"))
    val wC = W.partitionBy(col("cause")).orderBy(col("duration").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    causes
      .join(withPrev.select(col("duration"), col("n_risk"),
        col("surv_prev")), Seq("duration"))
      .withColumn("_inc", d28(d6(col("surv_prev") *
        col("n_events").cast("double") / col("n_risk").cast("double"))))
      .withColumn("cif", d6(sum(col("_inc")).over(wC).cast("double")))
      .select(col("duration"), col("cause"), col("n_risk"),
        col("n_events"), col("surv_prev"), col("cif"))
  }

  /** Actuarial life table (Berkson & Gage 1950): group durations into
    * fixed `width` intervals and estimate per-interval conditional
    * exit probability, hazard rate and start-of-interval survival,
    * with the standard half-interval censoring adjustment
    * n′ = n − c/2 (a unit censored inside the interval was at risk
    * for half of it, on average). The cohort-report sibling of the
    * event-time [[kaplanMeier]]: coarser, but readable as "month 3
    * loses 12% of who enters it".
    *
    * Exactness: DOUBLED effective counts keep everything integer —
    * n′2 = 2n − c, q = 2d/n′2 (ONE d6), hazard = 2d/(w·(n′2 − d))
    * (ONE d6), p = (n′2 − 2d)/n′2 an exact rational whose log runs
    * through the d6 log-domain product discipline (zero-pin when an
    * interval exhausts its cohort). Intervals with no entrants don't
    * appear (n is a reverse-cumulative count, so coverage is
    * contiguous from 0 to the max duration). Output per interval:
    * (interval, t_start, n_enter, n_events, n_censored, q_interval,
    * hazard_rate, surv_start).
    */
  def lifeTable(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      width: Long): DataFrame = {
    require(width > 0L, s"width must be positive, got $width")
    val W = org.apache.spark.sql.expressions.Window
    // exact integer bucketing (ADVICE r15): `div` matches the oracle's
    // `//` bit-for-bit for non-negative durations; negatives (where
    // trunc and floor diverge) are loudly rejected — a life table has
    // no negative time axis. Double `/`+cast would also double-round
    // near 2^53.
    // NULL durations keep flowing to the NULL interval bucket (the
    // pre-r16 cross-engine agreement — ADVICE r16: the negative guard
    // must not swallow NULLs into a NULL-message raise); only a
    // genuinely negative duration is loud
    val durRaw = col(durationCol).cast("long")
    val base = df.select(
      when(durRaw >= 0L || durRaw.isNull, durRaw)
        .otherwise(raise_error(concat(
          lit("lifeTable: negative duration "), durRaw.cast("string"),
          lit(" — interval bucketing assumes durations >= 0")))
          .cast("long")).as("_dur"),
      col(eventCol).cast("long").as("_e"))
      .select(expr(s"_dur div ${width}L").as("_i"), col("_e"))
    val byI = base.groupBy(col("_i"))
      .agg(count(lit(1)).as("_n"), sum(col("_e")).as("n_events"))
      .withColumn("n_censored", col("_n") - col("n_events"))
    val wOrd = W.partitionBy(lit(1)).orderBy(col("_i").asc)
    val nEnter = sum(col("_n")).over(
      wOrd.rowsBetween(W.currentRow, W.unboundedFollowing))
    val st = byI.withColumn("n_enter", nEnter)
      .withColumn("_n2", lit(2L) * col("n_enter") - col("n_censored"))
    val term = when(col("n_events") === 0L, lit(0.0).cast("decimal(28,6)"))
      .when(lit(2L) * col("n_events") >= col("_n2"),
        lit(null).cast("decimal(28,6)"))
      .otherwise(log((col("_n2") - lit(2L) * col("n_events"))
        .cast("double") / col("_n2").cast("double")).cast("decimal(28,6)"))
    val before = wOrd.rowsBetween(W.unboundedPreceding, -1)
    st
      .withColumn("_lt", term)
      .withColumn("_z",
        when(lit(2L) * col("n_events") >= col("_n2"), 1L).otherwise(0L))
      .withColumn("surv_start",
        when(coalesce(sum(col("_z")).over(before), lit(0L)) > 0L,
          lit(0.0))
          .otherwise(d6(exp(
            coalesce(sum(col("_lt")).over(before),
              lit(0).cast("decimal(28,6)")).cast("double")))))
      .select(col("_i").as("interval"),
        (col("_i") * lit(width)).as("t_start"),
        col("n_enter"), col("n_events"), col("n_censored"),
        d6(lit(2L) * col("n_events").cast("double") /
          col("_n2").cast("double")).as("q_interval"),
        when(col("_n2") > col("n_events"),
          d6(lit(2L) * col("n_events").cast("double") /
            (lit(width.toDouble) *
              (col("_n2") - col("n_events")).cast("double"))))
          .as("hazard_rate"),
        col("surv_start"))
  }

  /** Hoeffding's D dependence statistic (Hoeffding 1948) — the
    * classic test that sees NON-MONOTONE association Pearson,
    * Spearman and Kendall are all blind to (a V-shape, a circle):
    * D ∈ [−0.5, 1] measures the L² distance between the joint rank
    * distribution and independence. Midrank tie handling (the ½
    * credits — Hollander & Wolfe's convention, matching R's
    * `hoeffd`).
    *
    * EXACT INTEGER FORM: per row, the pair pass accumulates
    * q4ᵢ = Σ_{j≠i}(2φₓ)(2φᵧ) (φ = 1 below / ½ tie / 0 above) and the
    * doubled midranks r2ᵢ = Σ2φₓ + 2, s2ᵢ = Σ2φᵧ + 2 — all exact
    * longs — so D1 = Σq4(q4−4)/16, D2 = Σ(r2−2)(r2−4)(s2−2)(s2−4)/16
    * and D3 = Σ(r2−4)(s2−4)q4/16 share one /16 that folds into the
    * closing rational: D = 30·((n−2)(n−3)S1 + S2 − 2(n−2)S3) /
    * (16·n(n−1)(n−2)(n−3)(n−4)) — ONE d6, no p-value pretended (the
    * null distribution is tabulated, not normal).
    *
    * The pair pass is O(n²) BY DEFINITION — guarded LOUDLY by
    * `maxRows` (the dtw/bradleyTerry discipline): this runs on
    * report-sized unit frames, not the corpus. n < 5 is loud (the
    * denominator needs n−4 > 0). The count comes from a DISTRIBUTED
    * aggregate (1-row broadcast) and the guard rides the id window's
    * own sort key, so an oversized corpus refuses at the map side —
    * BEFORE the single-partition id sort, which therefore only ever
    * sees ≤ maxRows rows (the loud-bound class of SCALING.md class 6).
    */
  def hoeffdingsD(
      df: DataFrame,
      xCol: String,
      yCol: String,
      maxRows: Long = 10000L): DataFrame = {
    require(maxRows >= 5L, s"maxRows must be >= 5, got $maxRows")
    val W = org.apache.spark.sql.expressions.Window
    val raw = df.select(col(xCol).cast("long").as("_x0"),
      col(yCol).cast("long").as("_y"))
    val cnt = raw.agg(count(lit(1)).as("_n"))
    val base = raw.crossJoin(broadcast(cnt))
      .withColumn("_x",
        when(col("_n") >= 5L && col("_n") <= maxRows, col("_x0"))
          .otherwise(raise_error(concat(lit("hoeffdingsD: n = "),
            col("_n").cast("string"),
            lit(s" outside [5, maxRows=$maxRows] — the pair pass is " +
              "n²; aggregate to a bounded unit frame first")))
            .cast("long")))
      .withColumn("_id", row_number().over(
        W.partitionBy(lit(1)).orderBy(col("_x").asc, col("_y").asc))
        .cast("long"))
    val a = base.select(col("_id"), col("_x"), col("_y"), col("_n"))
    val b = base.select(col("_id").as("_jd"), col("_x").as("_xj"),
      col("_y").as("_yj"))
    val codex = when(col("_xj") < col("_x"), 2L)
      .when(col("_xj") === col("_x"), 1L).otherwise(0L)
    val codey = when(col("_yj") < col("_y"), 2L)
      .when(col("_yj") === col("_y"), 1L).otherwise(0L)
    val perI = a.join(b, col("_id") =!= col("_jd"))
      .groupBy(col("_id"))
      .agg(max(col("_n")).as("_n"),
        sum(codex * codey).as("_q4"),
        (sum(codex) + 2L).as("_r2"),
        (sum(codey) + 2L).as("_s2"))
    val agg = perI.agg(max(col("_n")).as("n"),
      sum(dec(col("_q4")) * dec(col("_q4") - 4L)).as("_s1"),
      sum(dec(col("_r2") - 2L) * dec(col("_r2") - 4L) *
        dec(col("_s2") - 2L) * dec(col("_s2") - 4L)).as("_s2s"),
      sum(dec(col("_r2") - 4L) * dec(col("_s2") - 4L) *
        dec(col("_q4"))).as("_s3"))
    val nD = dec(col("n"))
    val num = (nD - 2L) * (nD - 3L) * col("_s1") + col("_s2s") -
      lit(2L).cast("decimal(38,0)") * (nD - 2L) * col("_s3")
    val den = lit(16L).cast("decimal(38,0)") * nD * (nD - 1L) *
      (nD - 2L) * (nD - 3L) * (nD - 4L)
    agg.select(col("n"),
      d6(lit(30.0) * num.cast("double") / den.cast("double"))
        .as("hoeffding_d"))
  }

  /** Welch's heteroskedastic one-way ANOVA (Welch 1951) — the k-group
    * mean comparison that [[anovaOneWay]] gets wrong when group
    * variances differ (the Behrens–Fisher regime): weights wᵢ = nᵢ/s²ᵢ
    * replace the pooled variance, and the W* statistic with its
    * Welch–Satterthwaite df₂ is what [[welchTTest]] is to the pooled t.
    * Emits W*, df₁ = k−1 and the fractional df₂ — no portable F CDF
    * pretended (the chowTest convention).
    *
    * Determinism: per-group sufficient sums exact decimal; s²ᵢ one d6
    * each (cleared form); every subsequent reduction (Σw, weighted
    * mean, numerator, the λ term) closes in fixed d6 stages. Guards:
    * every group needs n ≥ 2 (loud) and s² > 0 (loud — a constant
    * group gives an infinite weight); k < 2 is loud.
    *
    * Scale shape: one keyed aggregate → one k-row rollup.
    */
  def welchAnova(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("_g"),
      col(xCol).cast("long").as("_x"))
    val g = base.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_x"))).as("_s"),
        sum(dec(col("_x")) * dec(col("_x"))).as("_q"))
    val n = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("welchAnova: group "),
        col("_g").cast("string"), lit(" has "),
        col("_n").cast("string"), lit(" rows (< 2)"))).cast("long"))
    val mC = dec(col("_n")) * col("_q") - col("_s") * col("_s")
    val m = when(mC > 0L, mC)
      .otherwise(raise_error(concat(lit("welchAnova: group "),
        col("_g").cast("string"),
        lit(" has zero variance — infinite weight")))
        .cast("decimal(38,0)"))
    val perG = g.select(col("_g"), n.as("_n2"), col("_s"),
        m.as("_m"))
      .select(col("_g"), col("_n2"),
        d6(col("_s").cast("double") / col("_n2").cast("double"))
          .as("_mean"),
        d6(col("_m").cast("double") /
          (dec(col("_n2")) * dec(col("_n2") - 1L)).cast("double"))
          .as("_var"))
      .select(col("_g"), col("_n2"), col("_mean"), col("_var"),
        d6(col("_n2").cast("double") / col("_var")).as("_w"))
    val roll = perG.agg(count(lit(1)).as("k"),
      sum(d28(col("_w"))).as("_wsum"),
      sum(d28(d6(col("_w") * col("_mean")))).as("_wm"))
    val kOk = when(col("k") >= 2L, col("k"))
      .otherwise(raise_error(lit("welchAnova: needs >= 2 groups"))
        .cast("long"))
    val withTot = perG.crossJoin(broadcast(
      roll.select(kOk.as("k"), col("_wsum"), col("_wm"))))
      .withColumn("_mw",
        d6(col("_wm").cast("double") / col("_wsum").cast("double")))
    val aggF = withTot.agg(max(col("k")).as("k"),
      max(col("_wsum")).as("_wsum"),
      max(col("_mw")).as("_mw"),
      sum(d28(d6(col("_w") *
        (col("_mean") - col("_mw")) * (col("_mean") - col("_mw")))))
        .as("_num"),
      sum(d28(d6(
        (lit(1.0) - col("_w") / col("_wsum").cast("double")) *
        (lit(1.0) - col("_w") / col("_wsum").cast("double")) /
        (col("_n2") - 1L).cast("double")))).as("_lam"))
    val kD = col("k").cast("double")
    val lam = d6(lit(3.0) * col("_lam").cast("double") /
      (kD * kD - 1.0))
    // Λ = Σ(1−wᵢ/W)²/(nᵢ−1); lam = 3Λ/(k²−1), so the denominator
    // 1 + 2(k−2)Λ/(k²−1) = 1 + 2(k−2)·lam/3 and df₂ = 1/lam
    aggF.select(col("k"),
      d6((col("_num").cast("double") / (kD - 1.0)) /
        (lit(1.0) + lit(2.0) * (kD - 2.0) * lam / lit(3.0)))
        .as("w_stat"),
      (col("k") - 1L).as("df1"),
      d6(lit(1.0) / lam).as("df2"))
  }

  /** Mood's median test (Mood 1950): does each group straddle the
    * POOLED median the way independence predicts? The bluntest —
    * and most outlier-proof — k-group location gate: only the
    * above/below-median counts matter, so a single wild value can't
    * move it at all. The χ² with k−1 df is judged against the shared
    * 95% critical-value table (the ljungBox convention).
    *
    * Determinism: the pooled median is the EXACT lower-median order
    * statistic — rank ⌈n/2⌉ of the total order, located WITHOUT
    * ranking any row: the value at that rank depends only on the
    * per-value counts, so the distinct-value cumulative frame (the
    * [[mannWhitneyU]] value-grouped discipline, SCALING.md class 6)
    * pins it as the unique value run whose cumulative count straddles
    * the target rank. No interpolation; counts are exact longs;
    * expected cells and χ² terms close in d6. A degenerate split
    * (every value on one side, e.g. a heavily repeated median)
    * answers NULL χ².
    *
    * Scale shape: one value-keyed aggregate + a cumulative window
    * over the domain-bounded distinct-value frame (the median pick,
    * a 1-row broadcast) + one keyed aggregate + a k-row rollup.
    */
  def moodMedianTest(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("_g"),
      col(xCol).cast("long").as("_x"))
    // the lower-median value run: cumBefore < ⌈n/2⌉ ≤ cumBefore + t
    val med = base.groupBy(col("_x"))
      .agg(count(lit(1)).as("_t"))
      .withColumn("_cb", cumBelow("_x", "_t"))
      .withColumn("_n", valueTotal("_x", "_t"))
      .filter(col("_cb") < expr("(_n + 1) div 2") &&
        col("_cb") + col("_t") >= expr("(_n + 1) div 2"))
      .select(col("_x").as("_med"))
    val counted = base.crossJoin(broadcast(med))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum((col("_x") > col("_med")).cast("long")).as("n_above"),
        max(col("_med")).as("_med"))
    val tot = counted.agg(sum(col("n")).as("_tn"),
      sum(col("n_above")).as("_ta"), count(lit(1)).as("_k"))
    val j = counted.crossJoin(broadcast(tot))
    val pAbove = col("_ta").cast("double") / col("_tn").cast("double")
    val eA = col("n").cast("double") * pAbove
    val eB = col("n").cast("double") * (lit(1.0) - pAbove)
    val term = d6(
      (col("n_above").cast("double") - eA) *
        (col("n_above").cast("double") - eA) / eA +
      ((col("n") - col("n_above")).cast("double") - eB) *
        ((col("n") - col("n_above")).cast("double") - eB) / eB)
    val perG = j.select(col("_g").as(groupCol), col("n"),
      col("n_above"), col("_med").cast("long").as("pooled_median"),
      when(col("_ta") > 0L && col("_ta") < col("_tn"), d28(term))
        .as("_t"),
      (col("_k") - 1L).as("_df"))
    val agg = perG.agg(max(col("_df")).as("df"),
      sum(col("_t")).as("_chi"), max(col("pooled_median")).as("pm"))
    perG.select(col(groupCol), col("n"), col("n_above"),
        col("pooled_median"))
      .crossJoin(broadcast(agg.select(col("df"),
        d6(col("_chi").cast("double")).as("chi2"))))
      .withColumn("significant",
        when(col("chi2").isNotNull,
          (col("chi2") >= chiSq95Col(col("df"))).cast("int"))
          .otherwise(lit(0)))
  }

  /** Ansari–Bradley scale test (Ansari & Bradley 1960): are two
    * groups equally DISPERSED around a common median? Scores rank
    * inward from both ends (extremes score low), so a group hogging
    * the tails collects a small score sum — the rank cousin of
    * [[brownForsythe]] with zero variance assumptions. Midrank ties
    * via the general two-sample linear-rank form: with doubled
    * scores s2 = min(r2, 2(n+1) − r2), E = n₁·S/n and
    * Var = n₁n₂(n·Σs² − S²)/(n²(n−1)) stay EXACT integers/rationals,
    * z closes in ONE d6, p is the shared erfc polynomial.
    *
    * Groups must be 0/1 (loud); zero score variance (all scores
    * equal — degenerate spread) answers NULL z.
    *
    * Scale shape: the corpus collapses to ONE row per distinct value
    * FIRST (the [[mannWhitneyU]] value-grouped discipline, SCALING.md
    * class 6 — the doubled midrank, and hence the inward score, is
    * constant on a value run); the cumulative window runs over the
    * domain-bounded distinct-value frame, then one 1-row rollup.
    */
  def ansariBradley(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    // the doubled midrank and inward score are constant per value run
    val cells = twoArmValueCells(df, "ansariBradley", armCol, xCol)
      .withColumn("_r2", doubledMidrank("_x", "_t"))
      .withColumn("_n", valueTotal("_x", "_t"))
      .withColumn("_s2", inwardScore2)
    val agg = cells.agg(max(col("_n")).as("n"),
      sum(col("_c1")).as("n1") +: sum(col("_c0")).as("n0") +:
        inwardScoreSums: _*)
    val staged = agg.select(col("n"), col("n0"), col("n1"),
      d6(col("_ab2").cast("double") / 2.0).as("ab_stat"),
      inwardScoreZ(col("n").cast("double"), col("n0").cast("double"),
        col("n1").cast("double")).as("z"))
    staged
      .withColumn("p_value", when(col("z").isNotNull,
        d6(normalTwoSidedP(col("z")))))
      .withColumn("significant", when(col("p_value").isNotNull,
        (col("p_value") <= 0.05).cast("int")).otherwise(lit(0)))
  }

  /** Lin's concordance correlation coefficient (Lin 1989) — the
    * agreement statistic Pearson's r silently overstates: r rewards
    * any linear relation, CCC = 2s_xy/(s²_x + s²_y + (x̄−ȳ)²) rewards
    * only y = x, decomposing as CCC = r·C_b with C_b the bias term
    * penalising scale and location shifts. The model-vs-model /
    * rater-vs-gold continuous-agreement readout next to the
    * categorical kappas.
    *
    * Determinism: ONE aggregate of exact decimal cross-moments; the
    * cleared forms share one denominator convention (n², population
    * moments — documented; CCC is a ratio so the n²s cancel), each
    * output one d6. Degenerate spreads (both variances and the mean
    * gap zero) answer NULL. n < 2 is loud.
    */
  def linConcordance(
      df: DataFrame,
      xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val agg = crossMoments(base.groupBy(), "_n", "x", "y", "xx", "xy", "yy")
    val n = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("linConcordance: "),
        col("_n").cast("string"), lit(" rows (< 2)"))).cast("long"))
    val g = agg.select(n.as("n"), col("_sx"), col("_sy"),
      cleared("_n", "_sxx", "_sx", "_sx").as("_Sxx"),
      cleared("_n", "_sxy", "_sx", "_sy").as("_Sxy"),
      cleared("_n", "_syy", "_sy", "_sy").as("_Syy"))
    // cleared mean gap: n²(x̄−ȳ)² = (Σx−Σy)²·1 — scaled n² like the S's
    val gap = (col("_sx") - col("_sy")) * (col("_sx") - col("_sy"))
    val den = (col("_Sxx") + col("_Syy") + gap).cast("double")
    val ccc = d6(lit(2.0) * col("_Sxy").cast("double") / den)
    val r = d6(col("_Sxy").cast("double") /
      sqrt(col("_Sxx").cast("double") * col("_Syy").cast("double")))
    g.select(col("n"),
        when(den > 0.0, ccc).as("ccc"),
        when(col("_Sxx") > 0L && col("_Syy") > 0L, r)
          .as("pearson_r"))
      .withColumn("bias_correction",
        when(col("ccc").isNotNull && col("pearson_r").isNotNull &&
          col("pearson_r") =!= 0.0,
          d6(col("ccc") / col("pearson_r"))))
  }

  /** Bland–Altman agreement limits (Bland & Altman 1986): the mean
    * paired difference (bias) and bias ± z·SD limits, plus how many
    * pairs fall outside — the method-comparison readout that answers
    * "can measurement B replace A" where a correlation can't (two
    * instruments can correlate at .99 and still disagree by a
    * constant). z defaults to 1.959964 (the corpus convention).
    *
    * Determinism: differences are exact longs; the SD assembles from
    * the cleared form → d6(√d6(·)); bias and both limits one d6
    * each; the outside count compares exact longs against the d6
    * limits (documented boundary convention: strictly outside).
    * n < 2 is loud. Scale shape: TWO aggregates (moments, then the
    * outside count against the broadcast 1-row limits).
    */
  def blandAltman(
      df: DataFrame,
      xCol: String,
      yCol: String,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val base = df.select((col(xCol).cast("long") -
      col(yCol).cast("long")).as("_d"))
    val agg = base.agg(count(lit(1)).as("_n"),
      sum(dec(col("_d"))).as("_s"),
      sum(dec(col("_d")) * dec(col("_d"))).as("_q"))
    val n = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("blandAltman: "),
        col("_n").cast("string"), lit(" pairs (< 2)"))).cast("long"))
    val g = agg.select(n.as("n"), col("_s"),
      (dec(col("_n")) * col("_q") - col("_s") * col("_s")).as("_m"))
    val bias = d6(col("_s").cast("double") / col("n").cast("double"))
    val sd = d6(sqrt(d6(col("_m").cast("double") /
      (dec(col("n")) * dec(col("n") - 1L)).cast("double"))))
    val lims = g.select(col("n"), bias.as("bias"), sd.as("sd_diff"))
      .withColumn("lower_limit", d6(col("bias") - lit(z) * col("sd_diff")))
      .withColumn("upper_limit", d6(col("bias") + lit(z) * col("sd_diff")))
    val outside = base.crossJoin(broadcast(lims))
      .agg(sum((col("_d").cast("double") < col("lower_limit") ||
        col("_d").cast("double") > col("upper_limit")).cast("long"))
        .as("n_outside"))
    lims.crossJoin(broadcast(outside))
  }

  /** Gwet's AC1 chance-corrected agreement (Gwet 2008) — the kappa
    * that doesn't fall into the kappa paradox: when one label
    * dominates, [[cohensKappa]]'s p_e approaches 1 and kappa
    * collapses even at near-perfect raw agreement; AC1's chance term
    * e = Σ_k π_k(1−π_k)/(K−1) (π = pooled marginal) stays calibrated.
    * Quote both: kappa for balanced tasks, AC1 when the labels skew.
    *
    * Determinism: ONE label-domain-bounded aggregate; p_o and each
    * π_k are exact rationals; e sums d6-per-category terms in
    * decimal; AC1 closes in one d6. A single observed category
    * (K = 1, e = 0) degenerates to AC1 = p_o (documented).
    */
  def gwetAC1(
      df: DataFrame,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val base = df.select(col(raterACol).cast("string").as("_a"),
      col(raterBCol).cast("string").as("_b"))
    val n = base.agg(count(lit(1)).as("_n"),
      sum((col("_a") === col("_b")).cast("long")).as("_agree"))
    val cats = base.select(explode(array(col("_a"), col("_b")))
        .as("_c"))
      .groupBy(col("_c")).agg(count(lit(1)).as("_cnt"))
    val k = cats.agg(count(lit(1)).as("_k"),
      sum(col("_cnt")).as("_tot"))
    val pis = cats.crossJoin(broadcast(k))
      .select(d6(col("_cnt").cast("double") /
        col("_tot").cast("double")).as("_pi"), col("_k"))
    val eAgg = pis.agg(max(col("_k")).as("_k"),
      sum(d28(d6(col("_pi") * (lit(1.0) - col("_pi"))))).as("_esum"))
    val j = n.crossJoin(broadcast(eAgg))
    val po = d6(col("_agree").cast("double") / col("_n").cast("double"))
    val e = when(col("_k") > 1L,
      d6(col("_esum").cast("double") / (col("_k") - 1L).cast("double")))
      .otherwise(lit(0.0))
    j.select(col("_n").as("n_items"), col("_k").as("n_categories"),
        po.as("po"), e.as("pe_gwet"))
      .withColumn("ac1",
        when(col("pe_gwet") < 1.0,
          d6((col("po") - col("pe_gwet")) /
            (lit(1.0) - col("pe_gwet")))))
  }


  /** Cohen's h effect size for two proportions (Cohen 1988, ch. 6) —
    * the arcsine-stabilized gap h = 2·asin(√p₁) − 2·asin(√p₀) that
    * makes proportion differences COMPARABLE across baselines (a
    * 1%→2% move and a 50%→60% move both read in the same units,
    * where raw differences don't): the effect-size partner of the
    * two-proportion z the way [[cohensD]] partners [[welchTTest]].
    *
    * Determinism: arm counts exact longs; each proportion is one
    * exact rational; each φ = 2·asin(√p) closes in d6 (asin/√ are
    * shared-libm one-call chains, d6 absorbs the last ulp); h one
    * more d6, with the Cohen .2/.5/.8 magnitude label off the d6
    * value. Arms must be 0/1 and outcomes 0/1 (loud); an empty arm
    * is loud. Scale shape: ONE aggregate → 1-row arithmetic.
    */
  def cohensH(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    val arm = flag01("cohensH", "arm flag", col(armCol))
    val x = flag01("cohensH", "outcome", col(xCol))
    val base = df.select(arm.as("_a"), x.as("_x"))
    val agg = base.agg(
      sum(when(col("_a") === 0L, 1L).otherwise(0L)).as("_n0"),
      sum(when(col("_a") === 1L, 1L).otherwise(0L)).as("_n1"),
      sum(when(col("_a") === 0L, col("_x")).otherwise(0L)).as("_s0"),
      sum(when(col("_a") === 1L, col("_x")).otherwise(0L)).as("_s1"))
    def guardN(tag: String)(c: Column): Column =
      when(c >= 1L, c).otherwise(raise_error(
        lit(s"cohensH: arm $tag is empty")).cast("long"))
    val g = agg.select(guardN("0")(col("_n0")).as("n0"),
      guardN("1")(col("_n1")).as("n1"), col("_s0"), col("_s1"))
    val p0 = col("_s0").cast("double") / col("n0").cast("double")
    val p1 = col("_s1").cast("double") / col("n1").cast("double")
    val phi0 = d6(lit(2.0) * asin(sqrt(p0)))
    val phi1 = d6(lit(2.0) * asin(sqrt(p1)))
    g.select(col("n0"), col("n1"),
        d6(p0).as("p0"), d6(p1).as("p1"),
        d6(phi1 - phi0).as("h"))
      .withColumn("magnitude",
        when(abs(col("h")) < 0.2, lit("negligible"))
          .when(abs(col("h")) < 0.5, lit("small"))
          .when(abs(col("h")) < 0.8, lit("medium"))
          .otherwise(lit("large")))
  }

  /** Standardized morbidity/mortality ratio via indirect
    * standardization (the classic occupational-epi SMR; Breslow &
    * Day 1987 vol. II): observed study-group events over the events
    * EXPECTED if the reference group's per-stratum rates applied to
    * the study group's stratum exposures — the confounder-honest way
    * to compare a cohort's conversion/failure rate against a
    * baseline population with a different stratum mix. `refPred`
    * marks the reference rows; everything else is the study group.
    *
    * Determinism: stratum counts exact longs; each reference rate is
    * one d6 rational; each expected term d6(n_study·rate) enters a
    * decimal sum; SMR closes in one d6. Strata present only in the
    * study group are LOUD (no reference rate to borrow — the
    * classic silent-bias hole); zero expected (reference all-null
    * outcomes) answers NULL SMR. Output ONE row: (n_strata,
    * observed, expected, smr).
    *
    * Scale shape: one (stratum × arm) aggregate + 1-row rollup.
    */
  def smrIndirect(
      df: DataFrame,
      strataCol: String,
      refPred: Column,
      eventCol: String): DataFrame = {
    val x = flag01("smrIndirect", "outcome", col(eventCol))
    val base = df.select(col(strataCol).as("_s"),
      refPred.cast("boolean").as("_ref"), x.as("_x"))
    val byS = base.groupBy(col("_s"))
      .agg(sum(when(col("_ref"), 1L).otherwise(0L)).as("_nref"),
        sum(when(col("_ref"), col("_x")).otherwise(0L)).as("_dref"),
        sum(when(!col("_ref"), 1L).otherwise(0L)).as("_nstu"),
        sum(when(!col("_ref"), col("_x")).otherwise(0L)).as("_dstu"))
    val guarded = byS.withColumn("_nref",
      when(col("_nstu") === 0L || col("_nref") > 0L, col("_nref"))
        .otherwise(raise_error(concat(lit("smrIndirect: stratum "),
          col("_s").cast("string"),
          lit(" has study rows but no reference rows — no rate to " +
            "borrow"))).cast("long")))
    val rate = d6(col("_dref").cast("double") /
      col("_nref").cast("double"))
    val agg = guarded
      .withColumn("_exp",
        when(col("_nstu") > 0L,
          d28(d6(col("_nstu").cast("double") * rate)))
          .otherwise(lit(0).cast("decimal(28,6)")))
      .agg(count(lit(1)).as("n_strata"),
        sum(col("_dstu")).as("observed"),
        sum(col("_exp")).as("_expsum"))
    agg.select(col("n_strata"), col("observed"),
      d6(col("_expsum").cast("double")).as("expected"),
      when(col("_expsum") > 0,
        d6(col("observed").cast("double") /
          col("_expsum").cast("double"))).as("smr"))
  }

  /** Benjamini–Yekutieli FDR control (Benjamini & Yekutieli 2001) —
    * [[bhFdr]] under ARBITRARY dependence: BH's guarantee needs
    * positive dependence, and correlated hypotheses (overlapping
    * slices, nested segments — the normal analytics case) can break
    * it; BY pays the harmonic factor c(m) = Σ_{i≤m} 1/i for a
    * guarantee that holds under any joint distribution. Step-up:
    * k* = max{i : p₍ᵢ₎·m·c(m) ≤ i·q}; adjusted p is the reverse
    * running min of min(1, p·m·c(m)/rank).
    *
    * Determinism: rank ties break on the key; c(m) accumulates
    * d6(1/i) terms in a decimal window sum (identical both engines —
    * no float-order ambiguity); the threshold comparison and the
    * adjusted chain run in one fixed double order; outputs close in
    * d6. Scale shape: windows over the report-sized HYPOTHESIS
    * table, exactly as [[bhFdr]].
    */
  def byFdr(
      df: DataFrame,
      keyCol: String,
      pCol: String,
      q: Double): DataFrame = {
    require(q > 0 && q < 1, s"q in (0,1), got $q")
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val ranked = rankedP(df, keyCol, pCol, "byFdr")
      .withColumn("_c", sum(d28(d6(lit(1.0) /
        col("rank").cast("double")))).over(wAll).cast("double"))
    val scaled = col("p_value") * col("_m").cast("double") * col("_c")
    val kStar = ranked
      .agg(coalesce(max(when(
          scaled <= col("rank").cast("double") * q, col("rank"))),
        lit(0L)).as("_kstar"))
    val padj = min(least(scaled / col("rank").cast("double"), lit(1.0)))
      .over(W.orderBy(col("rank").desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    ranked
      .withColumn("p_adj", d6(padj))
      .crossJoin(broadcast(kStar))
      .select(col(keyCol), d6(col("p_value")).as("p_value"), col("rank"),
        d6(col("_c")).as("c_m"), col("p_adj"),
        (col("rank") <= col("_kstar")).cast("int").as("rejected"))
  }

  /** Trimmed and winsorized means per key at a ppm trim fraction —
    * the robust-location panel: the f-trimmed mean DROPS the
    * floor(f·n) most extreme values each side, the winsorized mean
    * CLAMPS them to the surviving order statistics (Tukey 1962;
    * winsorization keeps n for downstream variance formulas, the
    * trim doesn't). The heavy-tail metric readout next to the raw
    * mean that one fat outlier can't own.
    *
    * Determinism: g = (ppm·n) div 10⁶ is exact integer arithmetic;
    * ranks order by value (a tie straddling the cut drops/keeps
    * EQUAL values, so every block sum is value-deterministic);
    * block sums exact decimal; the two order statistics are exact
    * picks; each mean ONE d6. Over-trimming (n − 2g < 1) is loud;
    * so is trimPpm ≥ 500000 (trimming everything).
    *
    * Scale shape: one per-key rank window + one keyed conditional
    * rollup — no self-join.
    */
  def trimmedStats(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      trimPpm: Long = 100000L): DataFrame = {
    require(trimPpm >= 0L && trimPpm < 500000L,
      s"trimPpm in [0, 5e5), got $trimPpm")
    val W = org.apache.spark.sql.expressions.Window
    val ranked = df
      .select(col(keyCol).as("_k"), col(xCol).cast("long").as("_x"))
      .withColumn("_rk", row_number().over(
        W.partitionBy(col("_k")).orderBy(col("_x").asc)).cast("long"))
      .withColumn("_n", count(lit(1)).over(W.partitionBy(col("_k"))))
      .withColumn("_g", expr(s"($trimPpm * _n) div 1000000"))
    val agg = ranked.groupBy(col("_k"))
      .agg(max(col("_n")).as("n"), max(col("_g")).as("n_trimmed"),
        sum(dec(col("_x"))).as("_s"),
        sum(when(col("_rk") > col("_g") &&
          col("_rk") <= col("_n") - col("_g"), dec(col("_x")))
          .otherwise(dec(lit(0L)))).as("_smid"),
        max(when(col("_rk") === col("_g") + 1L, col("_x"))).as("_lo"),
        max(when(col("_rk") === col("_n") - col("_g"), col("_x")))
          .as("_hi"))
    val kept = col("n") - lit(2L) * col("n_trimmed")
    val guarded = agg.withColumn("_smid",
      when(kept >= 1L, col("_smid"))
        .otherwise(raise_error(concat(lit("trimmedStats: key "),
          col("_k").cast("string"), lit(" over-trimmed — "),
          kept.cast("string"), lit(" values left")))
          .cast("decimal(38,0)")))
    guarded.select(col("_k").as(keyCol), col("n"), col("n_trimmed"),
      d6(col("_s").cast("double") / col("n").cast("double"))
        .as("mean_raw"),
      d6(col("_smid").cast("double") / kept.cast("double"))
        .as("mean_trimmed"),
      d6((col("_smid") + dec(col("n_trimmed")) * dec(col("_lo")) +
        dec(col("n_trimmed")) * dec(col("_hi"))).cast("double") /
        col("n").cast("double")).as("mean_winsorized"))
  }

  /** Decile gain/lift table — the targeting readout behind every
    * "contact the top 20% by model score" decision: cut the
    * (score DESC, id) total order into G equal-count bands and report
    * each band's response rate, lift vs the base rate, and cumulative
    * capture — [[rocPrAuc]] summarizes ranking quality in one number,
    * this says what the budgeted action actually yields.
    *
    * Determinism: bands cut the exact total order (ties broken by id —
    * the corpus pick convention); counts exact; rate/lift/capture ONE
    * d6 each off exact rationals (lift = (resp·n)/(n_g·total_resp) in
    * one division). Labels must be 0/1 — loud; zero total responders
    * answers NULL lift/capture. Output one row per band (band 1 = top
    * scores): (band, n, n_resp, resp_rate, lift, cum_resp,
    * cum_capture).
    *
    * Scale shape: the sharded (score desc, id) rank
    * ([[shardedTotalOrder]] — SCALING.md class 6, never a raw-row
    * global window) + one band aggregate + a G-row cumulative window.
    */
  def gainLiftTable(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      groups: Int = 10): DataFrame = {
    require(groups >= 2, s"groups must be >= 2, got $groups")
    val W = org.apache.spark.sql.expressions.Window
    val y = flag01("gainLiftTable", "label", col(labelCol))
    val ranked = shardedTotalOrder(
      df.select(col(idCol).as("_tb"),
        col(scoreCol).cast("long").as("_sk"), y.as("_y")),
      desc = true)
      .withColumn("_g", expr(s"((_grk - 1) * ${groups}L) div _n"))
    val byG = ranked.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("n_resp"),
        max(col("_n")).as("_tot"))
    val wCum = W.partitionBy(lit(1)).orderBy(col("_g").asc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    byG
      .withColumn("_totResp", sum(col("n_resp")).over(wAll))
      .withColumn("cum_resp", sum(col("n_resp")).over(wCum))
      .select((col("_g") + 1L).as("band"), col("n"), col("n_resp"),
        d6(col("n_resp").cast("double") / col("n").cast("double"))
          .as("resp_rate"),
        when(col("_totResp") > 0L,
          d6((dec(col("n_resp")) * dec(col("_tot"))).cast("double") /
            (dec(col("n")) * dec(col("_totResp"))).cast("double")))
          .as("lift"),
        col("cum_resp"),
        when(col("_totResp") > 0L,
          d6(col("cum_resp").cast("double") /
            col("_totResp").cast("double"))).as("cum_capture"))
  }

  /** Cost-sensitive optimal score threshold: sweep every distinct
    * score as a "predict positive when score ≥ t" cutoff and pick the
    * one maximizing utility = b_tp·TP − c_fp·FP − c_fn·FN — the
    * decision layer [[rocPrAuc]] deliberately leaves open (AUC is
    * threshold-free; shipping a classifier isn't). Reported against
    * the all-negative baseline utility −c_fn·P.
    *
    * Determinism: TP/FP at each candidate come from exact descending
    * cumulative counts over the distinct-score frame; utilities are
    * exact integers (long coefficients); the winner is the exact
    * window max with the LOWEST winning threshold as tie rule (the
    * [[changepoint]] discipline — no argmax nondeterminism). Labels
    * 0/1 — loud; both classes must appear — loud.
    *
    * Scale shape: one score-keyed aggregate + windows over the
    * distinct-score frame (cardinality-bounded — quantize unbounded
    * scores). Output ONE row: (threshold, n_pred_pos, tp, fp, fn,
    * utility, base_utility).
    */
  def optimalThreshold(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      benefitTp: Long,
      costFp: Long,
      costFn: Long): DataFrame = {
    require(benefitTp >= 0L && costFp >= 0L && costFn >= 0L,
      "coefficients must be non-negative")
    val W = org.apache.spark.sql.expressions.Window
    val y = flag01("optimalThreshold", "label", col(labelCol))
    val byScore = df.select(col(scoreCol).cast("long").as("_s"),
        y.as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_p"))
    val wDesc = W.partitionBy(lit(1)).orderBy(col("_s").desc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val staged = byScore
      .withColumn("_tp", sum(col("_p")).over(wDesc))
      .withColumn("_fp", sum(col("_n") - col("_p")).over(wDesc))
      .withColumn("_pos", sum(col("_p")).over(wAll))
      .withColumn("_neg", sum(col("_n") - col("_p")).over(wAll))
    val guarded = staged.withColumn("_pos",
      when(col("_pos") > 0L && col("_neg") > 0L, col("_pos"))
        .otherwise(raise_error(lit(
          "optimalThreshold: need at least one positive and one " +
            "negative label")).cast("long")))
    val util = guarded.withColumn("_u",
      lit(benefitTp) * col("_tp") - lit(costFp) * col("_fp") -
        lit(costFn) * (col("_pos") - col("_tp")))
    val withMax = util
      .withColumn("_umax", max(col("_u")).over(wAll))
      .filter(col("_u") === col("_umax"))
      .withColumn("_smin", min(col("_s")).over(wAll))
      .filter(col("_s") === col("_smin"))
    withMax.select(col("_s").as("threshold"),
      (col("_tp") + col("_fp")).as("n_pred_pos"),
      col("_tp").as("tp"), col("_fp").as("fp"),
      (col("_pos") - col("_tp")).as("fn"),
      col("_u").as("utility"),
      (lit(-costFn) * col("_pos")).as("base_utility"))
  }

  /** Classical item analysis over a complete (rater × item) 0/1 score
    * grid: per-item DIFFICULTY (fraction correct) and DISCRIMINATION
    * (point-biserial correlation between the item score and each
    * rater's REST score, i.e. total minus this item) — the eval-set
    * curation readout that flags broken items: near-0/1 difficulty
    * says the item measures nothing, low or negative discrimination
    * says it disagrees with the rest of the test (miskeyed/ambiguous).
    *
    * Determinism: the complete-grid contract is enforced in-plan
    * (every rater scores every item exactly once — loud otherwise,
    * the [[friedmanTest]] audit); rest scores are exact integers; the
    * point-biserial is the cleared integer Pearson form
    * (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) → ONE d6. Zero variance
    * on either side answers NULL discrimination. Scores must be 0/1 —
    * loud.
    *
    * Scale shape: one rater-keyed window (totals) + one item-keyed
    * aggregate. Output per item: (item, n_raters, difficulty,
    * discrimination).
    */
  def itemAnalysis(
      df: DataFrame,
      raterCol: String,
      itemCol: String,
      scoreCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val y = flag01("itemAnalysis", "score", col(scoreCol))
    val base = df.select(col(raterCol).as("_r"), col(itemCol).as("_i"),
        y.as("_y"))
      .withColumn("_dup", count(lit(1)).over(
        W.partitionBy(col("_r"), col("_i"))))
      .withColumn("_ni", count(lit(1)).over(W.partitionBy(col("_r"))))
      .withColumn("_k", size(collect_set(col("_i")).over(
        W.partitionBy(lit(1)))).cast("long"))
      .withColumn("_chk",
        when(col("_dup") === 1L && col("_ni") === col("_k"), col("_y"))
          .otherwise(raise_error(concat(
            lit("itemAnalysis: incomplete grid at rater "),
            col("_r").cast("string"), lit(" (items scored "),
            col("_ni").cast("string"), lit(" of "),
            col("_k").cast("string"),
            lit(", max duplicate "), col("_dup").cast("string"),
            lit(")"))).cast("long")))
      .withColumn("_tot", sum(col("_chk")).over(
        W.partitionBy(col("_r"))))
      .withColumn("_rest", col("_tot") - col("_chk"))
    val byItem = base.groupBy(col("_i"))
      .agg(count(lit(1)).as("n_raters"),
        sum(col("_chk")).as("_sy"),
        sum(dec(col("_rest"))).as("_sx"),
        sum(dec(col("_rest")) * dec(col("_rest"))).as("_sxx"),
        sum(dec(col("_rest")) * dec(col("_chk"))).as("_sxy"))
    val n = dec(col("n_raters"))
    val varY = n * dec(col("_sy")) - dec(col("_sy")) * dec(col("_sy"))
    val varX = n * col("_sxx") - col("_sx") * col("_sx")
    val cov = n * col("_sxy") - col("_sx") * dec(col("_sy"))
    byItem.select(col("_i").as("item"), col("n_raters"),
      d6(col("_sy").cast("double") / col("n_raters").cast("double"))
        .as("difficulty"),
      when(varX > 0L && varY > 0L,
        d6(cov.cast("double") /
          sqrt(varX.cast("double") * varY.cast("double"))))
        .as("discrimination"))
  }

  /** Quadratic-weighted Cohen's kappa over two ORDINAL raters
    * (integer categories): disagreement weighted by (i−j)², so a
    * 1-vs-5 clash costs 16× a 1-vs-2 — the agreement statistic for
    * ordered quality scores where plain [[cohensKappa]] treats every
    * miss as equal. κ_w = 1 − n·Σ(i−j)²·O_ij / Σ(i−j)²·rᵢ·cⱼ (the
    * (k−1)² weight scale cancels).
    *
    * Determinism: the whole statistic is ONE exact integer/decimal
    * rational off the (a, b) contingency aggregate → ONE d6. A zero
    * expected-disagreement denominator (both raters collapsed onto
    * one shared category) answers NULL. Categories must be integral — loud on non-integer
    * strings (cast contract).
    *
    * Scale shape: one cell aggregate (grid bounded by category
    * cardinalities) + margin joins on the cells frame. Output ONE
    * row: (n_items, kappa_w).
    */
  def weightedKappa(
      df: DataFrame,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val cells = contingencyMargins(observedCells(df,
      col(raterACol).cast("long"), col(raterBCol).cast("long")), "_n")
    val d2 = dec(col("_a") - col("_b")) * dec(col("_a") - col("_b"))
    val agg = cells.agg(max(col("_n")).as("n_items"),
      sum(d2 * dec(col("_o"))).as("_num"),
      sum(d2 * dec(col("_ra")) * dec(col("_cb"))).as("_den"))
    agg.select(col("n_items"),
      when(col("_den") > 0L,
        d6(lit(1.0) - (dec(col("n_items")) * col("_num")).cast("double") /
          col("_den").cast("double"))).as("kappa_w"))
  }

  /** TOST mean-equivalence test (Schuirmann 1987, large-sample z
    * form): are two arm means equivalent within ±margin? Two
    * one-sided tests — t_lower = (d + m)/se against d > −m and
    * t_upper = (m − d)/se against d < m — BOTH must clear the
    * one-sided 5% critical 1.644854; p-values from the shared erfc
    * polynomial. The non-inferiority gate a "this refactor didn't
    * move the metric" claim actually needs (a non-significant t-test
    * is NOT evidence of equivalence).
    *
    * Determinism: per-arm exact decimal sums; means/variances in the
    * [[welchAnova]] d6 chain; se, both statistics and p-values ONE d6
    * each in fixed double order. Zero pooled variance answers NULL
    * statistics with the means still reported; arms must be 0/1 with
    * ≥ 2 rows each — loud; margin must be positive.
    *
    * Scale shape: ONE corpus aggregate. Output ONE row: (n0, mean0,
    * n1, mean1, diff, se, margin, t_lower, t_upper, p_lower, p_upper,
    * equivalent).
    */
  def tostMeans(
      df: DataFrame,
      armCol: String,
      xCol: String,
      margin: Double): DataFrame = {
    require(margin > 0.0, s"margin must be positive, got $margin")
    val arm = flag01("tostMeans", "arm flag", col(armCol))
    val agg = df.select(arm.as("_a"), col(xCol).cast("long").as("_x"))
      .groupBy(col("_a"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_x"))).as("_s"),
        sum(dec(col("_x")) * dec(col("_x"))).as("_q"))
    val nOk = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("tostMeans: arm "),
        col("_a").cast("string"), lit(" has "),
        col("_n").cast("string"), lit(" rows (< 2)"))).cast("long"))
    val per = agg.select(col("_a"), nOk.as("_n"), col("_s"), col("_q"))
      .withColumn("_mean",
        d6(col("_s").cast("double") / col("_n").cast("double")))
      .withColumn("_var", d6(
        (dec(col("_n")) * col("_q") - col("_s") * col("_s"))
          .cast("double") /
          (dec(col("_n")) * dec(col("_n") - 1L)).cast("double")))
    val one = per.agg(
      max(when(col("_a") === 0L, col("_n"))).as("_n0"),
      max(when(col("_a") === 1L, col("_n"))).as("_n1"),
      max(when(col("_a") === 0L, col("_mean"))).as("mean0"),
      max(when(col("_a") === 1L, col("_mean"))).as("mean1"),
      max(when(col("_a") === 0L, col("_var"))).as("_v0"),
      max(when(col("_a") === 1L, col("_var"))).as("_v1"))
    def need(c: Column, a: Int) = when(c.isNotNull, c)
      .otherwise(raise_error(lit(s"tostMeans: arm $a is empty"))
        .cast("long"))
    val se2 = col("_v0") / need(col("_n0"), 0).cast("double") +
      col("_v1") / need(col("_n1"), 1).cast("double")
    val staged = one.select(col("_n0").as("n0"), col("mean0"),
        col("_n1").as("n1"), col("mean1"),
        d6(col("mean1") - col("mean0")).as("diff"),
        when(se2 > 0.0, d6(sqrt(se2))).as("se"))
      .withColumn("margin", lit(margin))
      .withColumn("t_lower", when(col("se").isNotNull,
        d6((col("diff") + lit(margin)) / col("se"))))
      .withColumn("t_upper", when(col("se").isNotNull,
        d6((lit(margin) - col("diff")) / col("se"))))
    // one-sided p = P(Z > t): erfc/2 for t ≥ 0, 1 − erfc/2 below
    def pOne(t: Column) = when(t >= 0.0,
      normalTwoSidedP(t) / lit(2.0))
      .otherwise(lit(1.0) - normalTwoSidedP(t) / lit(2.0))
    staged
      .withColumn("p_lower", when(col("t_lower").isNotNull,
        d6(pOne(col("t_lower")))))
      .withColumn("p_upper", when(col("t_upper").isNotNull,
        d6(pOne(col("t_upper")))))
      .withColumn("equivalent", when(col("t_lower").isNotNull,
        (col("t_lower") >= 1.644854 && col("t_upper") >= 1.644854)
          .cast("int")))
  }

  /** Two-proportion difference with the Newcombe hybrid-score interval
    * (Newcombe 1998, method 10): d = p₁ − p₀ bounded by composing the
    * per-arm Wilson score intervals — the CI that stays honest at
    * extreme rates and small arms where the Wald interval collapses
    * to zero width. The effect-SIZE companion of q478's Cohen's h:
    * h says how big in transformed units, this says how big in raw
    * rate points with an interval.
    *
    * Determinism: exact per-arm counts off ONE aggregate; p, each
    * Wilson bound (single-division form, z = 1.96 literals), the
    * difference and both CI ends are ONE d6 each, assembled in one
    * fixed double order. `significant` flags a CI excluding 0. Arms
    * and flags must be 0/1 and arms non-empty — loud.
    *
    * Scale shape: ONE corpus aggregate. Output ONE row:
    * (n0, x0, p0, n1, x1, p1, diff, ci_lo, ci_hi, significant).
    */
  def twoProportionDiff(
      df: DataFrame,
      armCol: String,
      flagCol: String): DataFrame = {
    val z = 1.96
    val agg = df.select(
      flag01("twoProportionDiff", armCol, col(armCol)).as("_a"),
      flag01("twoProportionDiff", flagCol, col(flagCol)).as("_y"))
      .agg(
        sum(when(col("_a") === 0L, 1L).otherwise(0L)).as("_n0raw"),
        sum(when(col("_a") === 0L, col("_y")).otherwise(0L)).as("x0"),
        sum(when(col("_a") === 1L, 1L).otherwise(0L)).as("_n1raw"),
        sum(when(col("_a") === 1L, col("_y")).otherwise(0L)).as("x1"))
    def needArm(c: Column, a: Int) = when(c > 0L, c)
      .otherwise(raise_error(lit(s"twoProportionDiff: arm $a is empty"))
        .cast("long"))
    val withN = agg.select(needArm(col("_n0raw"), 0).as("n0"), col("x0"),
      needArm(col("_n1raw"), 1).as("n1"), col("x1"))
    def wilson(num: Column, den: Column, up: Boolean) = {
      val n = den.cast("double")
      val ph = num.cast("double") / n
      val dn = lit(1.0) + lit(z * z) / n
      val centerNum = ph + lit(z * z) / (lit(2.0) * n)
      val halfNum = lit(z) * sqrt((ph * (lit(1.0) - ph) +
        lit(z * z) / (lit(4.0) * n)) / n)
      d6((if (up) centerNum + halfNum else centerNum - halfNum) / dn)
    }
    val staged = withN.select(col("n0"), col("x0"), col("n1"), col("x1"),
      d6(col("x0").cast("double") / col("n0").cast("double")).as("p0"),
      wilson(col("x0"), col("n0"), up = false).as("_l0"),
      wilson(col("x0"), col("n0"), up = true).as("_u0"),
      d6(col("x1").cast("double") / col("n1").cast("double")).as("p1"),
      wilson(col("x1"), col("n1"), up = false).as("_l1"),
      wilson(col("x1"), col("n1"), up = true).as("_u1"))
    staged.select(col("n0"), col("x0"), col("p0"),
        col("n1"), col("x1"), col("p1"),
        d6(col("p1") - col("p0")).as("diff"),
        d6((col("p1") - col("p0")) - sqrt(
          (col("p1") - col("_l1")) * (col("p1") - col("_l1")) +
            (col("_u0") - col("p0")) * (col("_u0") - col("p0"))))
          .as("ci_lo"),
        d6((col("p1") - col("p0")) + sqrt(
          (col("_u1") - col("p1")) * (col("_u1") - col("p1")) +
            (col("p0") - col("_l0")) * (col("p0") - col("_l0"))))
          .as("ci_hi"))
      .withColumn("significant",
        (col("ci_lo") > 0.0 || col("ci_hi") < 0.0).cast("int"))
  }

  /** Gumbel (type-I extreme value) fit over per-key block maxima via
    * the method of moments, with return levels — the tail-risk
    * readout "what daily-max spend do we see once per 100 days":
    * σ̂ = s·√6/π, μ̂ = x̄ − γ·σ̂ (γ the Euler–Mascheroni constant),
    * r_T = μ̂ + σ̂·y_T with y_T = −ln(−ln(1 − 1/T)) the Gumbel
    * quantile factor. Feed it block maxima (the caller's aggregation
    * — daily/hourly max per key).
    *
    * Determinism: exact decimal sufficient sums; x̄ and the
    * [[processCapability]] d6(√d6) sd chain; σ̂ ONE d6 with the √6/π
    * Scala literal; μ̂ ONE d6 with the γ literal; each return level
    * ONE d6 with the per-T y_T computed at plan-build time (return
    * periods are code literals) and inlined identically in the
    * oracle. Constant maxima (s = 0) answer NULL σ̂/levels; n < 2 is
    * loud; return periods must be ≥ 2 (T = 1 has no finite quantile).
    *
    * Scale shape: ONE keyed aggregate + an in-plan literal unpivot
    * (one row per (key, T)). Output: (key, n, mean_max, mu, sigma,
    * return_period, return_level).
    */
  def gumbelFit(
      df: DataFrame,
      keyCol: String,
      xCol: String,
      returnPeriods: Seq[Int] = Seq(10, 100)): DataFrame = {
    require(returnPeriods.nonEmpty && returnPeriods.forall(_ >= 2),
      s"return periods must all be >= 2, got $returnPeriods")
    require(returnPeriods.distinct.size == returnPeriods.size,
      "return periods must be distinct")
    val euler = 0.5772156649015329
    val sqrt6OverPi = math.sqrt(6.0) / math.Pi
    val g = df.select(col(keyCol).as("_k"), col(xCol).cast("long").as("_x"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_x"))).as("_s"),
        sum(dec(col("_x")) * dec(col("_x"))).as("_q"))
    val nOk = when(col("_n") >= 2L, col("_n"))
      .otherwise(raise_error(concat(lit("gumbelFit: key "),
        col("_k").cast("string"), lit(" has "),
        col("_n").cast("string"), lit(" maxima (< 2)"))).cast("long"))
    val staged = g.select(col("_k"), nOk.as("n"), col("_s"), col("_q"))
      .withColumn("mean_max",
        d6(col("_s").cast("double") / col("n").cast("double")))
      .withColumn("_sd", d6(sqrt(d6(
        (dec(col("n")) * col("_q") - col("_s") * col("_s"))
          .cast("double") /
          (dec(col("n")) * dec(col("n") - 1L)).cast("double")))))
      .withColumn("sigma",
        when(col("_sd") > 0.0, d6(col("_sd") * lit(sqrt6OverPi))))
      .withColumn("mu",
        when(col("sigma").isNotNull,
          d6(col("mean_max") - lit(euler) * col("sigma"))))
    val rows = returnPeriods.map { t =>
      val yT = -math.log(-math.log(1.0 - 1.0 / t))
      struct(lit(t.toLong).as("return_period"),
        when(col("sigma").isNotNull,
          d6(col("mu") + col("sigma") * lit(yT))).as("return_level"))
    }
    staged.select(col("_k").as(keyCol), col("n"), col("mean_max"),
        col("mu"), col("sigma"), explode(array(rows: _*)).as("_r"))
      .select(col(keyCol), col("n"), col("mean_max"), col("mu"),
        col("sigma"), col("_r.return_period").as("return_period"),
        col("_r.return_level").as("return_level"))
  }

  /** Required per-arm sample size for a two-proportion z-test
    * (closed form, α = .05 two-sided / power = .80 one-sided
    * literals): n = ⌈((z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀+p₁q₁)) / |δ|)²⌉
    * — the experiment-design answer to "how long must this A/B run",
    * evaluated over a frame of (p₀, p₁) scenarios in PPM. The design
    * partner of q478's after-the-fact effect size.
    *
    * Determinism: probabilities arrive as exact PPM longs (loud
    * outside (0, 10⁶)); p̄ is one exact rational; the z constants
    * 1.959964 / 0.841621 are the shared published literals; n is one
    * fixed double chain → ceil → long. δ = 0 answers NULL (no finite
    * n distinguishes equal rates).
    *
    * Scale shape: pure in-row projection (class 1 — no exchange).
    * Output per scenario row: (p0, p1, diff, n_required).
    */
  def powerTwoProportions(
      df: DataFrame,
      p0PpmCol: String,
      p1PpmCol: String): DataFrame = {
    val zA = 1.959964
    val zB = 0.841621
    def ppm(cn: String) = when(col(cn).cast("long") > 0L &&
        col(cn).cast("long") < 1000000L, col(cn).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"powerTwoProportions: $cn "), col(cn).cast("string"),
        lit(" outside (0, 1000000)"))).cast("long"))
    val base = df.select(ppm(p0PpmCol).as("_p0"), ppm(p1PpmCol).as("_p1"))
    val p0 = col("_p0").cast("double") / lit(1.0e6)
    val p1 = col("_p1").cast("double") / lit(1.0e6)
    val pBar = (col("_p0") + col("_p1")).cast("double") / lit(2.0e6)
    val delta = p1 - p0
    val nReq = ceil(
      ((lit(zA) * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar)) +
        lit(zB) * sqrt(p0 * (lit(1.0) - p0) + p1 * (lit(1.0) - p1))) /
        abs(delta)) *
      ((lit(zA) * sqrt(lit(2.0) * pBar * (lit(1.0) - pBar)) +
        lit(zB) * sqrt(p0 * (lit(1.0) - p0) + p1 * (lit(1.0) - p1))) /
        abs(delta))).cast("long")
    base.select(d6(p0).as("p0"), d6(p1).as("p1"),
      d6(delta).as("diff"),
      when(col("_p0") =!= col("_p1"), nReq).as("n_required"))
  }

  /** Lorenz curve points — the cumulative-share table behind every
    * inequality readout ([[giniConcentration]] reports the area
    * summary; this is the curve itself): after sorting units by
    * value ascending, L(i/points) = share of total value held by the
    * bottom i/points of units. The "what fraction of the corpus do
    * the bottom half of domains contribute" readout a mix policy
    * reads directly.
    *
    * Determinism: the order is the (value, unit) TOTAL order (the
    * corpus pick convention — ties deterministic); cut ranks are
    * exact integers kᵢ = (i·n) div points; cumulative sums exact
    * decimals; each share ONE d6. Negative values are loud (shares
    * would not be monotone); n < points is loud (cuts would repeat).
    *
    * Scale shape: the sharded rank + exact sharded cumulative
    * ([[shardedTotalOrder]] with its decimal prefix carry — SCALING.md
    * class 6, never a raw-row global window) + an in-row cut-rank
    * test (each rank knows the unique point it could cut — no
    * points-fold explode) + a 1-row totals broadcast. Output one row
    * per point: (point, pop_share, n_cum, value_share).
    */
  def lorenzCurve(
      df: DataFrame,
      unitCol: String,
      valueCol: String,
      points: Int = 10): DataFrame = {
    require(points >= 2, s"points must be >= 2, got $points")
    val y = when(col(valueCol).cast("long") >= 0L,
      col(valueCol).cast("long"))
      .otherwise(raise_error(concat(lit("lorenzCurve: negative value "),
        col(valueCol).cast("string"))).cast("long"))
    val tot = df.select(y.as("_y0"))
      .agg(sum(dec(col("_y0"))).as("_tot"))
    val ranked = shardedTotalOrder(
      df.select(col(unitCol).as("_tb"), y.as("_sk"),
        y.as("_y")),
      cumCol = Some("_y"))
      .crossJoin(broadcast(tot))
    val guarded = ranked.withColumn("_n",
      when(col("_n") >= points.toLong, col("_n"))
        .otherwise(raise_error(concat(
          lit(s"lorenzCurve: n = "), col("_n").cast("string"),
          lit(s" < points = $points — cut ranks would repeat")))
          .cast("long")))
    // rank k is a cut iff the SMALLEST point p with (p·n) div P ≥ k —
    // p = ⌈k·P/n⌉ — lands exactly on k; with n ≥ P (guarded) the cut
    // ranks are strictly increasing, so the point is unique per rank
    guarded
      .withColumn("point",
        expr(s"(_grk * ${points}L + _n - 1) div _n"))
      .filter(col("point") <= points.toLong &&
        col("_grk") === expr(s"(point * _n) div ${points}L"))
      .select(col("point"),
        d6(col("point").cast("double") / lit(points.toDouble))
          .as("pop_share"),
        col("_grk").as("n_cum"),
        when(col("_tot") > 0L,
          d6(col("_gcum").cast("double") / col("_tot").cast("double")))
          .as("value_share"))
  }

  /** Kakwani progressivity index (Kakwani 1977): K = C_t − G_y, the
    * concentration index of a "contribution" column (tax, purchases,
    * premium traffic) RANKED BY the base column (income, total
    * activity) minus the base column's own Gini. K > 0 means the
    * contribution is more concentrated among the base-rich than the
    * base itself — progressive; K < 0 regressive. The mix-policy
    * fairness readout next to [[lorenzCurve]].
    *
    * Determinism: ONE (base, unit) total order supplies the ranks for
    * both indices (Gini and concentration share the closed form
    * (2Σr·v − (n+1)Σv)/(n·Σv) — exact integer/decimal rationals →
    * ONE d6 each, K one more). Negative values in either column are
    * loud; zero totals answer NULL. Ties follow the total-order
    * convention (documented; deterministic).
    *
    * Scale shape: the sharded (base, unit) rank
    * ([[shardedTotalOrder]], SCALING.md class 6 — same exact ranks as
    * a global window, never its single-task sort) + ONE corpus
    * aggregate. Output ONE row: (n, gini_base, conc_contrib, kakwani).
    */
  def kakwani(
      df: DataFrame,
      unitCol: String,
      baseCol: String,
      contribCol: String): DataFrame = {
    def pos(cn: String) = when(col(cn).cast("long") >= 0L,
      col(cn).cast("long"))
      .otherwise(raise_error(concat(lit(s"kakwani: negative $cn "),
        col(cn).cast("string"))).cast("long"))
    val ranked = shardedTotalOrder(
      df.select(col(unitCol).as("_tb"), pos(baseCol).as("_sk"),
        pos(contribCol).as("_t")))
    val agg = ranked.agg(count(lit(1)).as("n"),
      sum(dec(col("_sk"))).as("_sy"), sum(dec(col("_t"))).as("_st"),
      sum(dec(col("_grk")) * dec(col("_sk"))).as("_sry"),
      sum(dec(col("_grk")) * dec(col("_t"))).as("_srt"))
    def index(srv: Column, sv: Column) = when(sv > 0L,
      d6((dec(lit(2L)) * srv -
        dec(col("n") + 1L) * sv).cast("double") /
        (dec(col("n")) * sv).cast("double")))
    agg.select(col("n"),
        index(col("_sry"), col("_sy")).as("gini_base"),
        index(col("_srt"), col("_st")).as("conc_contrib"))
      .withColumn("kakwani",
        when(col("gini_base").isNotNull && col("conc_contrib").isNotNull,
          d6(col("conc_contrib") - col("gini_base"))))
  }

  /** Anderson–Darling one-sample normality test (case 4: mean and
    * variance estimated) — the tail-sensitive goodness-of-fit gate
    * the KS statistic blunts (AD weights the tails by 1/(F(1−F)),
    * which is where metric distributions actually fail normality):
    * A² = −n − (1/n)·Σ(2i−1)·[ln Φ(zᵢ) + ln(1−Φ(z_{n+1−i}))], with
    * the small-sample correction A*² = A²·(1 + 4/n − 25/n²) judged
    * against the 0.787 5% critical value (Stephens 1974).
    *
    * Determinism: exact decimal sufficient sums off ONE value-keyed
    * aggregate; mean and sd close in the [[processCapability]]
    * d6(√d6) chain; each z ONE d6; Φ via the shared
    * [[normalTwoSidedP]] erfc polynomial. The rank sum collapses to
    * the DISTINCT-VALUE frame (the [[mannWhitneyU]] discipline,
    * SCALING.md class 6) by the index substitution j = n+1−i —
    *   Σᵢ(2i−1)[lnΦ(zᵢ) + ln(1−Φ(z_{n+1−i}))]
    *     = Σᵢ[(2i−1)·lnΦ(zᵢ) + (2n+1−2i)·ln(1−Φ(zᵢ))]
    * — which both removes the rank-key self-join and makes the weight
    * of a tied run [a, b] closed-form: Σ(2i−1) = b²−(a−1)² and
    * Σ(2n+1−2i) = t(2n+1) − (b(b+1) − (a−1)a), exact integers off the
    * cumulative window over the distinct-value frame. Each run's term
    * w₁·lnΦ(z) + w₂·ln(1−Φ(z)) takes ONE d6 (the per-RUN granularity
    * is the documented contract; the oracle replays it), terms sum in
    * decimal; A² and A*² one d6 each. A z extreme enough that Φ
    * saturates to 0/1 in doubles (|z| ≳ 8) makes its log infinite —
    * the whole statistic answers NULL (the outlier IS the answer).
    * Constant series (sd 0) answer NULL; n < 8 is loud (the
    * correction and critical value need a minimal sample).
    *
    * Scale shape: one value-keyed aggregate (map-side combined) + a
    * cumulative window over the domain-bounded distinct-value frame +
    * a 1-row rollup. No raw-row window, no self-join.
    */
  def andersonDarling(
      df: DataFrame,
      xCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byVal = df.select(col(xCol).cast("long").as("_x"))
      .groupBy(col("_x"))
      .agg(count(lit(1)).as("_t"))
    val wFrame = W.orderBy(col("_x").asc)
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val cells = byVal
      .withColumn("_cb", cumBelow("_x", "_t"))
      .withColumn("_n", valueTotal("_x", "_t"))
      .withColumn("_s", sum(dec(col("_x")) * dec(col("_t")))
        .over(wFrame))
      .withColumn("_q", sum(dec(col("_x")) * dec(col("_x")) *
        dec(col("_t"))).over(wFrame))
    val nOk = when(col("_n") >= 8L, col("_n"))
      .otherwise(raise_error(concat(lit("andersonDarling: n = "),
        col("_n").cast("string"), lit(" < 8"))).cast("long"))
    val withZ = cells
      .withColumn("_n", nOk)
      .withColumn("_mean",
        d6(col("_s").cast("double") / col("_n").cast("double")))
      .withColumn("_sd", d6(sqrt(d6(
        (dec(col("_n")) * col("_q") - col("_s") * col("_s"))
          .cast("double") /
          (dec(col("_n")) * dec(col("_n") - 1L)).cast("double")))))
      .withColumn("_z",
        when(col("_sd") > 0.0,
          d6((col("_x").cast("double") - col("_mean")) / col("_sd"))))
    val p = normalTwoSidedP(col("_z"))
    val phi = when(col("_z") >= 0.0, lit(1.0) - p / lit(2.0))
      .otherwise(p / lit(2.0))
    // run [a, b] = [cb+1, cb+t]: closed-form odd/even index sums
    // w1 = b² − (a−1)², w2 = t(2n+1) − (b(b+1) − (a−1)a) — exact
    val a1 = dec(col("_cb"))          // a − 1
    val b = dec(col("_cb") + col("_t"))
    val w1 = b * b - a1 * a1
    val w2 = dec(col("_t")) * dec(lit(2L) * col("_n") + 1L) -
      (b * (b + lit(1L)) - a1 * (a1 + lit(1L)))
    val terms = withZ
      .withColumn("_phi", phi)
      .withColumn("_ok",
        (col("_phi") > 0.0 && col("_phi") < 1.0 &&
          col("_sd") > 0.0).cast("long"))
      .withColumn("_term",
        when(col("_ok") === 1L,
          d6(w1.cast("double") * log(col("_phi")) +
            w2.cast("double") * log(lit(1.0) - col("_phi")))))
    val agg = terms.agg(max(col("_n")).as("n"),
      max(col("_mean")).as("mean"), max(col("_sd")).as("sd"),
      sum(lit(1L) - col("_ok")).as("_bad"),
      sum(d28(col("_term"))).as("_tsum"))
    val nD = col("n").cast("double")
    val a2 = d6(-nD - col("_tsum").cast("double") / nD)
    val staged = agg.select(col("n"), col("mean"), col("sd"),
      when(col("_bad") === 0L, a2).as("a2"))
    staged.select(col("n"), col("mean"), col("sd"), col("a2"),
      when(col("a2").isNotNull,
        d6(col("a2") * (lit(1.0) + lit(4.0) / col("n").cast("double") -
          lit(25.0) / (col("n") * col("n")).cast("double"))))
        .as("a2_star"))
      .withColumn("significant", when(col("a2_star").isNotNull,
        (col("a2_star") >= 0.787).cast("int")))
  }

  /** G-test of independence (likelihood-ratio χ²) over a two-way
    * contingency table: G = 2·Σ O·ln(O/E) — [[cramersV]]'s Pearson
    * sibling with better behavior at small expected counts and exact
    * additivity across table collapses (the property that makes it
    * the standard corpus-linguistics association gate, Dunning 1993).
    * Zero cells contribute exactly 0.
    *
    * Determinism: all counts exact longs off ONE (a, b) aggregate;
    * each cell term is ONE d6 of 2·O·ln(O·n/(rowTot·colTot)) — the
    * ratio inside the log is one exact rational; terms sum in
    * decimal; df = (r−1)(c−1) judged against the shared [[chiSq95]]
    * table (NULL past 30). Needs ≥ 2 rows and ≥ 2 cols — loud.
    *
    * Scale shape: one cell aggregate (grid bounded by the facet
    * cardinalities) + margin windows + a 1-row rollup. Output ONE
    * row: (n, n_rows, n_cols, g_stat, df, significant).
    */
  def gTest(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = contingencyMargins(observedCells(df,
        col(aCol).cast("string"), col(bCol).cast("string")), "_nn")
      .withColumn("_term", d6(lit(2.0) * col("_o").cast("double") *
        log((dec(col("_o")) * dec(col("_nn"))).cast("double") /
          (dec(col("_ra")) * dec(col("_cb"))).cast("double"))))
    val agg = cells.agg(max(col("_nn")).as("n"),
      countDistinct(col("_a")).as("n_rows"),
      countDistinct(col("_b")).as("n_cols"),
      sum(d28(col("_term"))).as("_g"))
    val dims = when(col("n_rows") >= 2L && col("n_cols") >= 2L,
      (col("n_rows") - 1L) * (col("n_cols") - 1L))
      .otherwise(raise_error(concat(
        lit("gTest: contingency table is "),
        col("n_rows").cast("string"), lit("x"),
        col("n_cols").cast("string"),
        lit(" — needs >= 2 rows and >= 2 cols"))).cast("long"))
    agg.select(col("n"), col("n_rows"), col("n_cols"),
        d6(col("_g").cast("double")).as("g_stat"), dims.as("df"))
      .withColumn("significant",
        when(chiSq95Col(col("df")).isNotNull,
          (col("g_stat") >= chiSq95Col(col("df"))).cast("int")))
  }

  /** Hosmer–Lemeshow calibration test (Hosmer & Lemeshow 1980) — the
    * inference partner of the q324 expected-calibration-error readout:
    * group predictions into G equal-count risk groups and judge
    * observed-vs-expected event counts as χ² with G−2 df. The gate a
    * quality-score or dedup-confidence model runs before its scores
    * are used as probabilities.
    *
    * Determinism: probabilities arrive as exact PPM longs (0..10⁶ —
    * loud otherwise); the risk groups cut the (prob, id) TOTAL order
    * (the corpus pick convention), so membership is reproducible; each
    * group's χ² term collapses to the exact rational
    * (obs·10⁶ − Σp)²·n_g / (Σp·(n_g·10⁶ − Σp)) → ONE d6, summed d28.
    * A degenerate group (Σp = 0 or Σp = n_g·10⁶: expected 0 or n
    * events) makes the term infinite — the whole χ² answers NULL, the
    * group table still reports. Significance against the shared
    * [[chiSq95]] table (NULL past df 30).
    *
    * Scale shape: the sharded (prob, id) rank ([[shardedTotalOrder]],
    * SCALING.md class 6) + one group aggregate + a G-row rollup.
    * Output one row per risk group:
    * (cal_group, n, obs_events, exp_events, chi2, df, significant).
    */
  def hosmerLemeshow(
      df: DataFrame,
      idCol: String,
      probPpmCol: String,
      labelCol: String,
      groups: Int = 10): DataFrame = {
    require(groups >= 3, s"groups must be >= 3 (df = G-2), got $groups")
    val W = org.apache.spark.sql.expressions.Window
    val p = when(col(probPpmCol).cast("long").between(0L, 1000000L),
      col(probPpmCol).cast("long"))
      .otherwise(raise_error(concat(
        lit("hosmerLemeshow: prob_ppm "),
        col(probPpmCol).cast("string"),
        lit(" outside [0, 1000000]"))).cast("long"))
    val y = flag01("hosmerLemeshow", "label", col(labelCol))
    // risk groups cut the sharded (prob, id) total order
    // ([[shardedTotalOrder]], SCALING.md class 6 — same exact ranks
    // as the old raw-row global window, never its single-task sort)
    val ranked = shardedTotalOrder(
      df.select(col(idCol).as("_tb"), p.as("_sk"), y.as("_y")))
      .withColumn("_g",
        expr(s"((_grk - 1) * ${groups}L) div _n"))
    val byG = ranked.groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("obs_events"),
        sum(dec(col("_sk"))).as("_sp"))
    val spOk = col("_sp") > 0L &&
      col("_sp") < dec(col("n")) * dec(lit(1000000L))
    val num = dec(col("obs_events")) * dec(lit(1000000L)) - col("_sp")
    val term = when(spOk,
      d6((num * num * dec(col("n"))).cast("double") /
        (col("_sp") * (dec(col("n")) * dec(lit(1000000L)) - col("_sp")))
          .cast("double")))
    val staged = byG.select(col("_g").as("cal_group"), col("n"),
      col("obs_events"), d6(col("_sp").cast("double") / 1.0e6)
        .as("exp_events"),
      term.as("_term"), when(spOk, 0L).otherwise(1L).as("_degen"))
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val withChi = staged
      .withColumn("_ndeg", sum(col("_degen")).over(wAll))
      .withColumn("chi2",
        when(col("_ndeg") === 0L,
          d6(sum(d28(col("_term"))).over(wAll).cast("double"))))
      .withColumn("df", lit(groups.toLong - 2L))
    withChi.select(col("cal_group"), col("n"), col("obs_events"),
      col("exp_events"), col("chi2"), col("df"),
      when(col("chi2").isNotNull && chiSq95Col(col("df")).isNotNull,
        (col("chi2") >= chiSq95Col(col("df"))).cast("int"))
        .as("significant"))
  }

  /** Brunner–Munzel test (Brunner & Munzel 2000) — the nonparametric
    * Behrens–Fisher answer [[mannWhitneyU]] can't give: MWU's variance
    * assumes exchangeable arms, so unequal arm SPREADS inflate its
    * false-positive rate; BM studentizes the same stochastic-superiority
    * estimand p̂ = P(X₀<X₁) + ½P(X₀=X₁) by the PLACEMENT variances of
    * each arm separately, with a Welch–Satterthwaite df. The robust
    * two-arm gate when treatment changes the variance too (it usually
    * does).
    *
    * Determinism: the corpus collapses to ONE row per distinct metric
    * value FIRST (the [[mannWhitneyU]] value-grouped discipline —
    * SCALING.md class 6: both the global and within-arm DOUBLED
    * midranks are constant on (arm, value) cells, so the statistic is
    * a function of per-(arm, value) counts); midranks come off the
    * domain-bounded cumulative window over that frame as exact
    * integers; placements q₂ = R₂ − r₂ exact; per-arm placement
    * variance via the cleared integer form Σ(n_a·q₂ − Σq₂)²/(4·n_a²·
    * (n_a−1)) — assembled from the algebraically identical one-pass
    * expansion n_a²·Σc·q₂² − n_a·(Σc·q₂)², same exact integer — →
    * ONE d6 each; p̂, W and df assemble from exact rational rank means
    * and the two d6 variances in one fixed double order → ONE d6 each.
    * Arms must be 0/1 and hold ≥ 2 rows — loud otherwise; zero pooled
    * placement variance (complete separation) answers NULL W/df with
    * p̂ still reported. No t-CDF is faked: the statistic and
    * fractional df are the contract (the q470 Welch convention).
    *
    * Scale shape: one (value)-keyed aggregate (map-side combined) +
    * cumulative windows over the distinct-value frame (value-domain
    * bounded, the GK-sketch frame class — never a raw-row global
    * window) + one 1-row rollup. Output ONE row:
    * (n0, n1, p_hat, bm_stat, df).
    */
  def brunnerMunzel(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    // pooled and within-arm doubled midranks per value run
    val cells = twoArmValueCells(df, "brunnerMunzel", armCol, xCol)
      .withColumn("_cbt", cumBelow("_x", "_t"))
      .withColumn("_cb0", cumBelow("_x", "_c0"))
      .withColumn("_cb1", cumBelow("_x", "_c1"))
      .withColumn("_gr2", lit(2L) * col("_cbt") + col("_t") + 1L)
      .withColumn("_q20",
        col("_gr2") - (lit(2L) * col("_cb0") + col("_c0") + 1L))
      .withColumn("_q21",
        col("_gr2") - (lit(2L) * col("_cb1") + col("_c1") + 1L))
    val one0 = cells.agg(
      sum(col("_c0")).as("_n0r"), sum(col("_c1")).as("_n1r"),
      sum(dec(col("_c0")) * dec(col("_gr2"))).as("_sr0"),
      sum(dec(col("_c1")) * dec(col("_gr2"))).as("_sr1"),
      sum(dec(col("_c0")) * dec(col("_q20"))).as("_sq0"),
      sum(dec(col("_c1")) * dec(col("_q21"))).as("_sq1"),
      sum(dec(col("_c0")) * dec(col("_q20")) * dec(col("_q20")))
        .as("_qq0"),
      sum(dec(col("_c1")) * dec(col("_q21")) * dec(col("_q21")))
        .as("_qq1"))
    // empty-arm and n<2 stay loud (the old per-arm guard, now riding
    // the rollup scalars); a missing arm reads count 0 here, never NULL
    def nOk(c: Column, a: Int) = when(c >= 2L, c)
      .otherwise(raise_error(concat(lit(s"brunnerMunzel: arm $a has "),
        coalesce(c, lit(0L)).cast("string"), lit(" rows (< 2)")))
        .cast("long"))
    // cleared per-arm placement variance, one-pass expansion:
    // Σc(n_a·q₂ − Σcq₂)² = n_a²·Σc·q₂² − n_a·(Σc·q₂)²
    def vArm(na: Column, sq: Column, qq: Column): Column = {
      val cs = dec(na) * dec(na) * qq - dec(na) * sq * sq
      d6(cs.cast("double") /
        (lit(4.0) * na.cast("double") * na.cast("double") *
          (na.cast("double") - 1.0)))
    }
    val one = one0.select(
      nOk(col("_n0r"), 0).as("_n0"), nOk(col("_n1r"), 1).as("_n1"),
      col("_sr0"), col("_sr1"),
      vArm(col("_n0r"), col("_sq0"), col("_qq0")).as("_v0"),
      vArm(col("_n1r"), col("_sq1"), col("_qq1")).as("_v1"))
    val n0 = col("_n0").cast("double")
    val n1 = col("_n1").cast("double")
    val rb0 = col("_sr0").cast("double") / (lit(2.0) * n0)
    val rb1 = col("_sr1").cast("double") / (lit(2.0) * n1)
    val nv0 = n0 * col("_v0")
    val nv1 = n1 * col("_v1")
    val se2 = nv0 + nv1
    one.select(col("_n0").as("n0"), col("_n1").as("n1"),
      d6((rb1 - (n1 + 1.0) / 2.0) / n0).as("p_hat"),
      when(se2 > 0.0,
        d6(n0 * n1 * (rb1 - rb0) / ((n0 + n1) * sqrt(se2))))
        .as("bm_stat"),
      when(se2 > 0.0,
        d6(se2 * se2 /
          (nv0 * nv0 / (n0 - 1.0) + nv1 * nv1 / (n1 - 1.0)))).as("df"))
  }

  /** Quade test (Quade 1979) — the blocked k-treatment rank test that
    * WEIGHTS blocks by their range: Friedman treats a block where
    * treatments barely differ the same as one where they differ wildly;
    * Quade lets the informative blocks speak louder, which is the right
    * default for per-day / per-segment treatment scorecards where some
    * slices simply move more. Requires one observation per
    * (block, treatment) cell and every block complete — loud otherwise.
    *
    * Determinism: within-block DOUBLED midranks r₂ and DOUBLED
    * midranks Q₂ of the block ranges (exact integer ranges) make
    * T = Q₂·(r₂ − (k+1)) = 4·S_ij exact integers; the scale cancels in
    * F = (b−1)·ΣS_j² / (b·ΣT² − ΣS_j²) — one exact rational → ONE d6.
    * Perfect cross-block agreement (denominator 0) answers NULL F (the
    * statistic is +∞ by convention there). Output one row per
    * treatment: (treatment, s4 = 4·S_j, f_stat, df1, df2) — the signed
    * s4 column ranks the treatments the test just judged.
    *
    * Scale shape: per-block rank windows + a blocks-frame range rank +
    * two rollups; everything is (blocks × treatments)-sized.
    */
  def quadeTest(
      df: DataFrame,
      blockCol: String,
      treatCol: String,
      xCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cell = df.select(col(blockCol).as("_b"), col(treatCol).as("_t"),
        col(xCol).cast("long").as("_x"))
      .withColumn("_dup", count(lit(1)).over(
        W.partitionBy(col("_b"), col("_t"))))
      .select(col("_b"), col("_t"),
        when(col("_dup") === 1L, col("_x"))
          .otherwise(raise_error(concat(
            lit("quadeTest: duplicate cell (block "),
            col("_b").cast("string"), lit(", treatment "),
            col("_t").cast("string"), lit(")"))).cast("long")).as("_x"))
    val kFrame = cell.select(col("_t").as("_kt"), col("_b").as("_kb"))
      .agg(countDistinct(col("_kt")).as("_k"),
        countDistinct(col("_kb")).as("_nb"))
    val ranked = cell.crossJoin(broadcast(kFrame))
      .withColumn("_bk", count(lit(1)).over(W.partitionBy(col("_b"))))
      .withColumn("_kok",
        when(col("_bk") === col("_k") && col("_k") >= 2L &&
            col("_nb") >= 2L, col("_k"))
          .otherwise(raise_error(concat(lit("quadeTest: block "),
            col("_b").cast("string"), lit(" holds "),
            col("_bk").cast("string"), lit(" of "),
            col("_k").cast("string"),
            lit(" treatments (design must be complete, k >= 2, " +
              "blocks >= 2)"))).cast("long")))
      .withColumn("_r2",
        lit(2L) * rank().over(
          W.partitionBy(col("_b")).orderBy(col("_x").asc)).cast("long") +
          count(lit(1)).over(W.partitionBy(col("_b"), col("_x"))) - 1L)
      .withColumn("_rng",
        max(col("_x")).over(W.partitionBy(col("_b"))) -
          min(col("_x")).over(W.partitionBy(col("_b"))))
    val blocks = ranked.select(col("_b"), col("_rng")).distinct()
      .withColumn("_q2",
        lit(2L) * rank().over(
          W.partitionBy(lit(1)).orderBy(col("_rng").asc)).cast("long") +
          count(lit(1)).over(W.partitionBy(col("_rng"))) - 1L)
    // fresh names at this boundary: `_t`/`_nb` also live inside the
    // joined subtrees (blocks derives from ranked), and a groupBy
    // above the unresolved Project would re-resolve them ambiguously
    // under lazy analysis
    val t = ranked.join(broadcast(blocks.select(col("_b"), col("_q2"))),
        Seq("_b"))
      .select(col("_t").as("_tt"), col("_nb").as("_tnb"),
        (dec(col("_q2")) * dec(col("_r2") - (col("_kok") + 1L)))
          .as("_T"))
    val perTreat = t.groupBy(col("_tt"))
      .agg(max(col("_tnb")).as("_nb"), sum(col("_T")).as("_sj"),
        sum(col("_T") * col("_T")).as("_tq"), count(lit(1)).as("_ck"))
    // whole-frame windows over the k-row treatment frame (no
    // self-join: a crossJoin of perTreat with its own aggregate
    // resolves ambiguously under lazy analysis)
    val wAll = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val withRoll = perTreat
      .withColumn("_kk", count(lit(1)).over(wAll))
      .withColumn("_a", sum(col("_tq")).over(wAll))
      .withColumn("_bsum", sum(col("_sj") * col("_sj")).over(wAll))
    val bD = col("_nb").cast("double")
    val denom = dec(col("_nb")) * col("_a") - col("_bsum")
    withRoll.select(col("_tt").as("treatment"),
      col("_sj").cast("long").as("s4"),
      when(denom > 0L,
        d6(((bD - 1.0) * col("_bsum").cast("double")) /
          denom.cast("double"))).as("f_stat"),
      (col("_kk") - 1L).as("df1"),
      ((col("_nb") - 1L) * (col("_kk") - 1L)).as("df2"))
  }

  /** Binary diagnostic-test panel — the full 2×2 readout a classifier
    * gate needs beyond accuracy: sensitivity/specificity with Wilson
    * 95% intervals (Wilson 1927 — the score interval that behaves at
    * extreme rates where Wald collapses), predictive values, likelihood
    * ratios LR± (the prevalence-free transfer numbers), Youden's J and
    * the diagnostic odds ratio.
    *
    * Determinism: four exact count cells from ONE aggregate; every
    * rate is one exact rational → ONE d6; Wilson bounds assemble from
    * exact counts and the z = 1.96 literal in one fixed double order →
    * ONE d6 each. Undefined readouts answer NULL rather than faking:
    * sens/spec need a positive/negative truth row, LR+ needs spec < 1,
    * LR− needs spec > 0, DOR needs fp·fn > 0. Truth and prediction
    * must be 0/1 flags — loud otherwise.
    *
    * Scale shape: ONE corpus aggregate (map-side combine), everything
    * after on one row. Output ONE row.
    */
  def diagnosticPanel(
      df: DataFrame,
      truthCol: String,
      predCol: String): DataFrame = {
    val z = 1.96
    val agg = df.select(
      flag01("diagnosticPanel", s"$truthCol flag", col(truthCol)).as("_t"),
      flag01("diagnosticPanel", s"$predCol flag", col(predCol)).as("_p"))
      .agg(
        sum(when(col("_t") === 1L && col("_p") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("_t") === 0L && col("_p") === 1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("_t") === 0L && col("_p") === 0L, 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("_t") === 1L && col("_p") === 0L, 1L).otherwise(0L))
          .as("fn"))
    def rate(num: Column, den: Column) =
      when(den > 0L, d6(num.cast("double") / den.cast("double")))
    def wilson(num: Column, den: Column, up: Boolean) = {
      val n = den.cast("double")
      val ph = num.cast("double") / n
      val dn = lit(1.0) + lit(z * z) / n
      // ONE division at the end (the numerator sum/difference first)
      // so the oracle's single-division form mirrors bit-for-bit
      val centerNum = ph + lit(z * z) / (lit(2.0) * n)
      val halfNum = lit(z) * sqrt((ph * (lit(1.0) - ph) +
        lit(z * z) / (lit(4.0) * n)) / n)
      when(den > 0L,
        d6((if (up) centerNum + halfNum else centerNum - halfNum) / dn))
    }
    val nPos = col("tp") + col("fn")
    val nNeg = col("tn") + col("fp")
    val staged = agg.select(col("tp"), col("fp"), col("tn"), col("fn"),
      rate(col("tp"), nPos).as("sensitivity"),
      wilson(col("tp"), nPos, up = false).as("sens_lo"),
      wilson(col("tp"), nPos, up = true).as("sens_hi"),
      rate(col("tn"), nNeg).as("specificity"),
      wilson(col("tn"), nNeg, up = false).as("spec_lo"),
      wilson(col("tn"), nNeg, up = true).as("spec_hi"),
      rate(col("tp"), col("tp") + col("fp")).as("ppv"),
      rate(col("tn"), col("tn") + col("fn")).as("npv"))
    staged.select(col("*"),
      when(col("specificity").isNotNull && col("specificity") < 1.0 &&
          col("sensitivity").isNotNull,
        d6(col("sensitivity") / (lit(1.0) - col("specificity"))))
        .as("lr_plus"),
      when(col("specificity").isNotNull && col("specificity") > 0.0 &&
          col("sensitivity").isNotNull,
        d6((lit(1.0) - col("sensitivity")) / col("specificity")))
        .as("lr_minus"),
      when(col("sensitivity").isNotNull && col("specificity").isNotNull,
        d6(col("sensitivity") + col("specificity") - lit(1.0)))
        .as("youden_j"),
      when(col("fp") > 0L && col("fn") > 0L,
        d6((col("tp") * col("tn")).cast("double") /
          (col("fp") * col("fn")).cast("double"))).as("dor"))
  }

  /** Cucconi two-sample location-scale test (Cucconi 1968; Marozzi
    * 2009's revival) — ONE rank statistic that reacts to a shift in
    * EITHER the center or the spread: U standardizes the sum of
    * squared ranks of arm 1, V the sum of squared CONTRARY ranks
    * (n+1−R), and C = (U*² + V*² − 2ρU*V*)/(2(1−ρ²)) combines them
    * with their known negative correlation ρ = 2(n²−4)/((2n+1)(8n+11))
    * − 1. Predates and (per Marozzi's power study) generally beats
    * the Lepage combination it's usually compared with; asymptotic
    * null P(C > c) = e^{−c}, so the p-value is one exp — no CDF table.
    *
    * Determinism: the corpus collapses to the distinct-value frame
    * FIRST (the [[mannWhitneyU]] value-grouped discipline, SCALING.md
    * class 6); DOUBLED midranks keep U4 = Σc₁·r₂² and V4 =
    * Σc₁·(2(n+1)−r₂)² exact decimal (U4 = 4U, so the no-tie moments
    * scale by 4/16 in the fixed standardization chain); U*, V*, C and
    * p = e^{−C} take ONE d6 each. Midrank tie handling is the
    * documented convention (the exact no-tie moments make C
    * tie-APPROXIMATE — the cramerVonMises trade, stated not hidden).
    * Arms must be 0/1 with both non-empty and n ≥ 3 (ρ = −1 at n = 2
    * degenerates the denominator) — loud otherwise.
    *
    * Scale shape: one value-keyed aggregate (map-side combined) + a
    * cumulative window over the domain-bounded distinct-value frame +
    * one 1-row rollup. Output ONE row:
    * (n_a, n_b, u_star, v_star, cucconi_c, p_value, significant).
    */
  def cucconiTest(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    val cells = twoArmValueCells(df, "cucconiTest", armCol, xCol)
      .withColumn("_r2", doubledMidrank("_x", "_t"))
      .withColumn("_n", valueTotal("_x", "_t"))
      .withColumn("_k2", lit(2L) * (col("_n") + 1L) - col("_r2"))
    val agg = cells.agg(max(col("_n")).as("_nr"),
      sum(col("_c0")).as("_n0"), sum(col("_c1")).as("_n1"),
      sum(dec(col("_c1")) * dec(col("_r2")) * dec(col("_r2")))
        .as("_u4"),
      sum(dec(col("_c1")) * dec(col("_k2")) * dec(col("_k2")))
        .as("_v4"))
    val guarded = agg.select(
      when(col("_n0") >= 1L && col("_n1") >= 1L && col("_nr") >= 3L,
        col("_n0"))
        .otherwise(raise_error(concat(
          lit("cucconiTest: need both arms non-empty and n >= 3; "),
          lit("got n_a="), coalesce(col("_n0"), lit(0L)).cast("string"),
          lit(" n_b="), coalesce(col("_n1"), lit(0L)).cast("string"),
          lit(" n="), coalesce(col("_nr"), lit(0L)).cast("string")))
          .cast("long")).as("n_a"),
      col("_n1").as("n_b"), col("_nr").as("_n"),
      col("_u4"), col("_v4"))
    val n = col("_n").cast("double")
    val n0 = col("n_a").cast("double")
    val n1 = col("n_b").cast("double")
    // no-tie moments in the 4× doubled-square units: E[U4] = 4E[U],
    // sd[U4] = 4·sd[U]; fixed multiply-divide order, shared by the
    // oracle verbatim
    val eU4 = lit(2.0) * n1 * (n + 1.0) * (lit(2.0) * n + 1.0) / 3.0
    val sdU4 = lit(4.0) * sqrt(n0 * n1 * (n + 1.0) *
      (lit(2.0) * n + 1.0) * (lit(8.0) * n + 11.0) / 180.0)
    val uStar = d6((col("_u4").cast("double") - eU4) / sdU4)
    val vStar = d6((col("_v4").cast("double") - eU4) / sdU4)
    val rho = lit(2.0) * (n * n - 4.0) /
      ((lit(2.0) * n + 1.0) * (lit(8.0) * n + 11.0)) - 1.0
    val staged = guarded.select(col("n_a"), col("n_b"),
      uStar.as("u_star"), vStar.as("v_star"), rho.as("_rho"))
    val c = d6((col("u_star") * col("u_star") +
      col("v_star") * col("v_star") -
      lit(2.0) * col("_rho") * col("u_star") * col("v_star")) /
      (lit(2.0) * (lit(1.0) - col("_rho") * col("_rho"))))
    staged
      .withColumn("cucconi_c", c)
      .withColumn("p_value", d6(exp(-col("cucconi_c"))))
      .select(col("n_a"), col("n_b"), col("u_star"), col("v_star"),
        col("cucconi_c"), col("p_value"),
        (col("p_value") <= 0.05).cast("int").as("significant"))
  }

  /** Lepage two-sample location-scale test (Lepage 1971): L = z_W² +
    * z_AB², the Wilcoxon rank-sum z ([[mannWhitneyU]]'s, tie-corrected)
    * plus the Ansari–Bradley dispersion z ([[ansariBradley]]'s),
    * combined as χ²(2) — the classical "did the treatment move the
    * center OR the spread" omnibus next to [[cucconiTest]] (which
    * models the correlation between its two halves instead of assuming
    * the components independent; Lepage's W and AB statistics ARE
    * asymptotically independent, which is why the plain sum works).
    *
    * Determinism: BOTH component z's assemble from the SAME
    * value-grouped pass (one distinct-value frame, one cumulative
    * window — SCALING.md class 6), each replaying its parent
    * operator's exact integer/d6 chain verbatim; L is one more d6;
    * `significant` is L ≥ 5.991459 (the shared χ²(2) literal,
    * [[jarqueBera]]'s). Degenerate spreads (either component's
    * variance 0 — every unit tied, or every inward score equal)
    * answer NULL L rather than faking a 0. Arms must be 0/1 and both
    * non-empty — loud.
    *
    * Scale shape: one value-keyed aggregate + a cumulative window over
    * the domain-bounded distinct-value frame + one 1-row rollup —
    * [[mannWhitneyU]]'s plan, paying once for both components.
    */
  def lepageTest(
      df: DataFrame,
      armCol: String,
      xCol: String): DataFrame = {
    val cells = twoArmValueCells(df, "lepageTest", armCol, xCol)
      .withColumn("_r2", doubledMidrank("_x", "_t"))
      .withColumn("_n", valueTotal("_x", "_t"))
      .withColumn("_s2", inwardScore2)
    val agg = cells.agg(max(col("_n")).as("_nr"),
      Seq(sum(col("_c0")).as("_n0"), sum(col("_c1")).as("_n1"),
        sum(dec(col("_c1")) * dec(col("_r2"))).as("_r1x2"),
        tieSum.as("_ties")) ++ inwardScoreSums: _*)
    val guarded = agg.select(
      when(col("_n0") >= 1L && col("_n1") >= 1L, col("_n0"))
        .otherwise(raise_error(concat(
          lit("lepageTest: need both arms non-empty; got n_a="),
          coalesce(col("_n0"), lit(0L)).cast("string"), lit(" n_b="),
          coalesce(col("_n1"), lit(0L)).cast("string"))).cast("long"))
        .as("n_a"),
      col("_n1").as("n_b"), col("_nr").as("_n"),
      col("_r1x2"), col("_ties"), col("_ab2"), col("_ss"), col("_ssq"))
    val n0 = col("n_a").cast("double")
    val n1 = col("n_b").cast("double")
    val n = n0 + n1
    // Wilcoxon component — mannWhitneyU's exact chain verbatim
    val u1x2 = col("_r1x2") - dec(col("n_b")) * dec(col("n_b") + 1L)
    val varU = n0 * n1 / 12.0 *
      ((n + 1.0) - col("_ties").cast("double") / (n * (n - 1.0)))
    val zW = when(varU > 0.0,
      d6((u1x2.cast("double") - n0 * n1) / (lit(2.0) * sqrt(varU))))
    val staged = guarded.select(col("n_a"), col("n_b"), zW.as("z_wilcoxon"),
      inwardScoreZ(col("_n").cast("double"), n0, n1).as("z_ansari"))
    staged
      .withColumn("lepage_l",
        when(col("z_wilcoxon").isNotNull && col("z_ansari").isNotNull,
          d6(col("z_wilcoxon") * col("z_wilcoxon") +
            col("z_ansari") * col("z_ansari"))))
      .withColumn("significant",
        when(col("lepage_l").isNotNull,
          (col("lepage_l") >= 5.991459).cast("int")).otherwise(lit(0)))
  }

  /** Gehan–Breslow generalized Wilcoxon test (Gehan 1965; Breslow
    * 1970) — [[logRank]]'s early-difference-weighted sibling: the
    * log-rank weighs every event time equally (power against
    * proportional hazards), Gehan weights each time by the pooled
    * at-risk count n_t, so EARLY separation — onboarding churn, first-
    * week abandonment — dominates where late-tail noise would dilute
    * the log-rank. Run both; they disagree exactly when the hazard
    * gap moves over time.
    *
    * Determinism: the same duration-keyed frame as [[logRank]]; each
    * weighted term U_t = n_t·(d₁ₜ − dₜ·p₁ₜ) and V_t = n_t²·v_t takes
    * ONE d6 (fixed multiply order) and sums in decimal; z, χ² one d6
    * each, judged at the shared 3.841459 χ²(1) literal. Zero total
    * variance (no events, or a single event time exhausting the risk
    * set) answers NULL z. Group flags must be 0/1 — loud.
    *
    * Scale shape: ONE duration-keyed aggregate + two reverse-cumulative
    * windows over the distinct-duration frame (discrete-scale bounded
    * by the survival-family contract) + one 1-row rollup.
    */
  def gehanWilcoxon(
      df: DataFrame,
      durationCol: String,
      eventCol: String,
      groupCol: String): DataFrame = {
    val risk = riskSets(df, durationCol, eventCol, groupCol,
      "gehanWilcoxon")
    val p1 = col("_n1r").cast("double") / col("_nr").cast("double")
    val uTerm = d6(col("_nr").cast("double") *
      (col("_d1").cast("double") - col("_d").cast("double") * p1))
    val vTerm = when(col("_nr") > 1L,
      d6(col("_nr").cast("double") * col("_nr").cast("double") *
        col("_d").cast("double") * p1 * (lit(1.0) - p1) *
        (col("_nr") - col("_d")).cast("double") /
        (col("_nr") - 1L).cast("double")))
      .otherwise(lit(0.0))
    val agg = risk.agg(
      sum(col("_d1")).as("n_events_g1"),
      sum(d28(uTerm)).as("_u"), sum(d28(vTerm)).as("_v"))
    agg.select(col("n_events_g1"),
      col("_u").cast("double").as("u_gehan"),
      col("_v").cast("double").as("variance"),
      when(col("_v").cast("double") > 0.0,
        d6(col("_u").cast("double") /
          sqrt(col("_v").cast("double")))).as("z"))
      .withColumn("chi2",
        when(col("z").isNotNull, d6(col("z") * col("z"))))
      .withColumn("significant",
        when(col("chi2").isNotNull,
          (col("chi2") >= 3.841459).cast("int")).otherwise(lit(0)))
  }

  /** Dunn's post-hoc pairwise rank test (Dunn 1964) with Bonferroni
    * control — the step AFTER [[kruskalWallis]] says "the k groups
    * differ": WHICH pairs differ, judged on mean midranks against the
    * tie-corrected pooled rank variance. The rank-based sibling of
    * [[pairwiseContrasts]] (which contrasts MEANS — wrong tool when
    * KW was chosen precisely because means weren't trusted).
    *
    * Determinism: global DOUBLED midranks come off the distinct-value
    * cumulative frame (the [[mannWhitneyU]] value-grouped discipline,
    * SCALING.md class 6 — the (group, value) cell aggregate carries
    * each group's rank mass exactly); mean ranks R̄_g = Σc·r₂/(2n_g)
    * take ONE d6; the shared variance factor A = N(N+1)/12 −
    * ΣT/(12(N−1)) and each pair's z close in fixed double chains →
    * ONE d6; p from the shared erfc polynomial; Bonferroni p·m at
    * m = k(k−1)/2 capped at 1 (the [[pairwiseContrasts]] convention).
    * Every value tied (A = 0) answers NULL z. k < 2 emits an EMPTY
    * pair table — there is no pair to contrast, and an in-plan raise
    * cannot ride a frame with zero rows (documented, the
    * answer-not-crash convention). A NULL group raises LOUDLY
    * (ADVICE r17): such rows would inflate N and the tie term while
    * appearing in no pair, silently deflating every z.
    *
    * Scale shape: one (group, value) cell aggregate + a cumulative
    * window over the domain-bounded distinct-value frame + a k-row
    * group frame self-paired through a broadcast (k² grid, group
    * cardinality bounded by contract) — never a raw-row window.
    * Output one row per unordered pair (group_a < group_b as strings):
    * (group_a, group_b, n_a, n_b, mean_rank_a, mean_rank_b, z,
    * p_value, p_bonferroni, significant).
    */
  def dunnTest(
      df: DataFrame,
      groupCol: String,
      xCol: String): DataFrame = {
    // NULL group raises loudly (ADVICE r17: a NULL group would inflate
    // N and the tie term while vanishing from every output pair — both
    // `<` orderings fail — silently deflating all z's; the file's
    // loud-cast convention)
    val cells = df.select(
      when(col(groupCol).isNotNull, col(groupCol).cast("string"))
        .otherwise(raise_error(lit(
          "dunnTest: NULL group — rows with a NULL group would count " +
            "into N and the tie correction but appear in no pair; " +
            "filter or recode them first"))).as("_g"),
      col(xCol).cast("long").as("_x"))
      .groupBy(col("_g"), col("_x"))
      .agg(count(lit(1)).as("_c"))
    val byVal = cells.groupBy(col("_x")).agg(sum(col("_c")).as("_t"))
    val tot = byVal.agg(sum(col("_t")).as("_N"), tieSum.as("_T"))
    val perG = groupRankSums(cells, byVal, "_x", "_ng", "_sr")
      .withColumn("_rbar",
        d6(col("_sr").cast("double") /
          (lit(2.0) * col("_ng").cast("double"))))
    val k = perG.agg(count(lit(1)).as("_k"))
    val a = perG.select(col("_g").as("group_a"), col("_ng").as("n_a"),
      col("_rbar").as("mean_rank_a"))
    val b = perG.select(col("_g").as("group_b"), col("_ng").as("n_b"),
      col("_rbar").as("mean_rank_b"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("group_a") < col("group_b"))
      .crossJoin(broadcast(tot.crossJoin(k)))
    val nD = col("_N").cast("double")
    val aFac = nD * (nD + 1.0) / 12.0 -
      col("_T").cast("double") / (lit(12.0) * (nD - 1.0))
    val se = sqrt(aFac * (lit(1.0) / col("n_a").cast("double") +
      lit(1.0) / col("n_b").cast("double")))
    val z = when(aFac > 0.0,
      d6((col("mean_rank_a") - col("mean_rank_b")) / se))
    // integral divide (ADVICE r17): k(k−1) is always even, so `div`
    // matches the oracle's `//` exactly with no double-division detour
    val m = expr("(_k * (_k - 1)) div 2").cast("double")
    val staged = pairs.select(col("group_a"), col("group_b"),
      col("n_a"), col("n_b"), col("mean_rank_a"), col("mean_rank_b"),
      z.as("z"), m.as("_m"))
    val p = when(col("z").isNotNull, d6(normalTwoSidedP(col("z"))))
    staged
      .withColumn("p_value", p)
      .withColumn("p_bonferroni",
        when(col("p_value").isNotNull,
          d6(least(lit(1.0), col("p_value") * col("_m")))))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("mean_rank_a"), col("mean_rank_b"), col("z"),
        col("p_value"), col("p_bonferroni"),
        when(col("p_bonferroni").isNotNull,
          (col("p_bonferroni") <= 0.05).cast("int")).otherwise(lit(0))
          .as("significant"))
  }

  /** Storey q-values (Storey 2002) — the positive-FDR upgrade of
    * [[bhFdr]]: BH implicitly assumes EVERY hypothesis is null
    * (π₀ = 1), so when a real fraction of tests carry signal it
    * overpays; Storey estimates π₀ = #{p > λ}/((1−λ)·m) from the flat
    * tail of the p histogram and scales the BH walk by it, and the
    * q-value of test i is the smallest pFDR at which it would be
    * called. q(i) = min_{j ≥ i} π₀·m·p_(j)/j, capped at 1.
    *
    * Determinism: the rank walk and reverse running min follow
    * [[bhFdr]]'s exact machinery on the (p, id) total order; π₀ is
    * one d6 off exact counts (capped at 1); each q one d6. λ is a
    * PERMILLE code literal (loud outside [1, 999]). NULL/NaN p fails
    * loudly (the shared FDR-family guard). π₀ = 0 (no p above λ —
    * everything looks signal) sends every q to 0 by the formula;
    * documented, not clamped (Storey's own recommendation of a
    * λ-smoothed floor is a modeling choice this operator does not
    * silently make).
    *
    * Scale shape: windows over the HYPOTHESIS frame — one row per
    * TEST, not per observation (the FDR-family contract; SCALING.md
    * class 6 trivial member). Output per test:
    * (keyCol, p_value, rank, pi0, q_value, significant at q ≤ 0.05).
    */
  def storeyQValues(
      df: DataFrame,
      keyCol: String,
      pCol: String,
      lambdaPermille: Int = 500): DataFrame = {
    require(lambdaPermille >= 1 && lambdaPermille <= 999,
      s"lambdaPermille in [1,999], got $lambdaPermille")
    val W = org.apache.spark.sql.expressions.Window
    val lam = lambdaPermille.toDouble / 1000.0
    val ranked = rankedP(df, keyCol, pCol, "storeyQValues")
      .withColumn("_tail", sum((col("p_value") > lam).cast("long"))
        .over(W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("pi0", d6(least(lit(1.0),
        col("_tail").cast("double") /
          (lit(1.0 - lam) * col("_m").cast("double")))))
    val qRaw = min(col("pi0") * col("_m").cast("double") *
        col("p_value") / col("rank").cast("double"))
      .over(W.orderBy(col("rank").desc)
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    ranked
      .withColumn("q_value", d6(least(qRaw, lit(1.0))))
      .select(col(keyCol), d6(col("p_value")).as("p_value"),
        col("rank"), col("pi0"), col("q_value"),
        (col("q_value") <= 0.05).cast("int").as("significant"))
  }

  /** Meta-analytic evidence combiners over a frame of per-test
    * z-scores — "five slices each read z ≈ 1.5: is the POOLED
    * evidence significant?" Two classical answers, both reported:
    * Stouffer's Z = Σzᵢ/√m (direction-aware — opposite signs cancel,
    * the right default for one-sided replication questions) and
    * Fisher's χ² = −2Σln pᵢ with 2m df (direction-blind — a strong
    * effect in EITHER direction drives it). They disagree exactly
    * when effects conflict in sign; report both, read both.
    *
    * Determinism: pᵢ = d6 of the shared [[normalTwoSidedP]] erfc
    * polynomial per z; each −2·ln pᵢ term ONE d6, summed decimal;
    * Stouffer assembles from the exact decimal Σz in one fixed chain
    * → ONE d6, its p one more d6. A pᵢ that saturates to 0 (|z| ≳ 8
    * under the polynomial) makes its log infinite — Fisher answers
    * NULL (the [[andersonDarling]] outlier convention; Stouffer still
    * reports). Fisher significance judges against the shared
    * [[chiSq95]] table — NULL past df 30 (m > 15), documented.
    * z values must be non-NULL — loud; m ≥ 2 — loud.
    *
    * Scale shape: ONE aggregate over the TEST frame (one row per
    * test — the FDR-family contract). Output ONE row: (m, stouffer_z,
    * stouffer_p, fisher_chi2, fisher_df, fisher_significant).
    */
  def metaCombine(
      df: DataFrame,
      zCol: String): DataFrame = {
    val z = when(col(zCol).cast("double").isNotNull &&
      !isnan(col(zCol).cast("double")), col(zCol).cast("double"))
      .otherwise(raise_error(lit(
        "metaCombine: NULL/NaN z — combiners need every test's score"))
        .cast("double"))
    val base = df.select(z.as("_z"))
      .withColumn("_p", d6(normalTwoSidedP(col("_z"))))
      .withColumn("_ok", (col("_p") > 0.0).cast("long"))
      .withColumn("_f",
        when(col("_ok") === 1L, d6(lit(-2.0) * log(col("_p")))))
    val agg = base.agg(count(lit(1)).as("_mRaw"),
      sum(d28(col("_z"))).as("_zsum"),
      sum(lit(1L) - col("_ok")).as("_bad"),
      sum(d28(col("_f"))).as("_fsum"))
    val m = when(col("_mRaw") >= 2L, col("_mRaw"))
      .otherwise(raise_error(concat(lit("metaCombine: m = "),
        coalesce(col("_mRaw"), lit(0L)).cast("string"),
        lit(" tests (< 2) — nothing to combine"))).cast("long"))
    val staged = agg.select(m.as("m"), col("_zsum"), col("_bad"),
      col("_fsum"))
    val zS = d6(col("_zsum").cast("double") /
      sqrt(col("m").cast("double")))
    val staged2 = staged.select(col("m"), col("_bad"), col("_fsum"),
      zS.as("stouffer_z"))
    staged2.select(col("m"), col("stouffer_z"),
      d6(normalTwoSidedP(col("stouffer_z"))).as("stouffer_p"),
      when(col("_bad") === 0L,
        d6(col("_fsum").cast("double"))).as("fisher_chi2"),
      (lit(2L) * col("m")).as("fisher_df"))
      .withColumn("fisher_significant",
        when(col("fisher_chi2").isNotNull &&
          chiSq95Col(col("fisher_df")).isNotNull,
          (col("fisher_chi2") >= chiSq95Col(col("fisher_df")))
            .cast("int")))
  }

  /** Bowker's test of symmetry (Bowker 1948) — [[mcnemar]] for k × k:
    * did the new model/rater move the SAME items' labels
    * asymmetrically, beyond noise? χ² = Σ_{i<j} (n_ij − n_ji)² /
    * (n_ij + n_ji): each unordered label pair contributes its
    * McNemar cell, df = the number of CONTRIBUTING pairs (pairs with
    * n_ij + n_ji = 0 carry no information and drop from both the sum
    * and the df — the degenerate-safe convention R's mcnemar.test
    * refuses with NaN; documented).
    *
    * Determinism: one (a, b) cell aggregate over the label-domain-
    * bounded confusion table; the i<j pairing is an exact self-join
    * on swapped cells (string label order, deterministic); each term
    * is ONE d6 of an exact integer rational, summed decimal; judged
    * against the shared [[chiSq95]] table (NULL past df 30).
    *
    * Scale shape: ONE keyed aggregate → a ≤k²-row cell frame
    * self-paired through a broadcast — the grid-bounded class.
    * Output ONE row: (n_items, chi2, df, significant) — df IS the
    * contributing-pair count.
    */
  def bowkerTest(
      df: DataFrame,
      aCol: String,
      bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .agg(count(lit(1)).as("_n"))
    val tot = cells.agg(sum(col("_n")).as("n_items"))
    val fwd = cells.filter(col("_a") < col("_b"))
      .select(col("_a"), col("_b"), col("_n").as("_nij"))
    val rev = cells.filter(col("_a") > col("_b"))
      .select(col("_b").as("_a"), col("_a").as("_b"),
        col("_n").as("_nji"))
    val pairs = fwd.join(rev, Seq("_a", "_b"), "full_outer")
      .withColumn("_nij", coalesce(col("_nij"), lit(0L)))
      .withColumn("_nji", coalesce(col("_nji"), lit(0L)))
    val term = d6(((col("_nij") - col("_nji")) *
      (col("_nij") - col("_nji"))).cast("double") /
      (col("_nij") + col("_nji")).cast("double"))
    val agg = pairs.agg(count(lit(1)).as("df"),
      sum(d28(term)).as("_chi"))
    agg.crossJoin(broadcast(tot))
      .select(col("n_items"),
        d6(col("_chi").cast("double")).as("chi2"), col("df"))
      .withColumn("significant",
        when(col("chi2").isNotNull && chiSq95Col(col("df")).isNotNull,
          (col("chi2") >= chiSq95Col(col("df"))).cast("int")))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.{dec, d28, d6}

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Membership depends ONLY on the row's id — never on rand(), row order,
  * or partitioning — so splits are stable under reruns, appends and
  * repartitioning: a document assigned to `test` stays in `test` as the
  * corpus grows (the leakage guarantee `df.sample`/`randomSplit` cannot
  * give), and an incremental run reproduces exactly the prior
  * assignments. Pure projections/filters: zero shuffles at any scale.
  */
object Sampling {

  /** Engine-portable uniform hash in [0, 1e6): the first 8 hex chars of
    * md5 over the id rendered as text. md5 is bit-identical across
    * engines and versions — unlike engine-native hashes (xxhash64
    * variants/seeds differ) — which is what makes assignments both
    * oracle-checkable and portable if a split is recomputed outside
    * Spark.
    */
  def portableHash(c: Column): Column = portableHash(c, "")

  /** Salted variant: different `salt`s give INDEPENDENT assignments over
    * the same ids — a sample drawn for one purpose must not correlate
    * with the train/val/test split or another sample (unsalted, a 10%
    * sample is exactly the first tenth of the `train` hash range).
    * Empty salt hashes the bare id (the pre-salt wire format, so
    * existing splits stay stable).
    */
  def portableHash(c: Column, salt: String): Column = {
    val keyed =
      if (salt.isEmpty) c.cast("string")
      else concat(lit(salt), lit(":"), c.cast("string"))
    conv(substring(md5(keyed.cast("binary")), 1, 8), 16, 10)
      .cast("long") % 1000000L
  }

  /** Add a `split` column assigning each row to a named fraction by hash
    * threshold, e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`.
    * Fractions must sum to 1 (±1e-9); thresholds are cumulative, so the
    * boundary rounding error is sub-ppm.
    */
  def hashSplit(
      df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitOf(col(idCol), splits))

  /** The split assignment as a COLUMN over any id expression — the
    * factored heart of [[hashSplit]]. Because membership is a pure
    * function of the id, any frame that carries ids can recover splits
    * IN-ROW: no join against a split table, ever.
    */
  def splitOf(id: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val h = portableHash(id)
    val bounds = splits.zip(splits.scanLeft(0.0)(_ + _._2).tail)
      .map { case ((n, _), cum) => (n, math.round(cum * 1000000L)) }
    bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((n, b), acc) => when(h < b, n).otherwise(acc)
    }
  }

  /** SPLIT-LEAKAGE AUDIT: given a near-duplicate pair frame (`aCol`,
    * `bCol`) and a hash-split definition, count pairs by (split_a,
    * split_b) — the audit a training pipeline publishes to prove its
    * test set is not contaminated by train-side near-duplicates (a
    * cross-split near-dup pair IS leakage: the model sees the test
    * document's twin during training). The deterministic hash split
    * makes both memberships recoverable IN-ROW from the pair's own ids
    * ([[splitOf]]) — zero joins, zero extra shuffles beyond the tiny
    * rollup. Compare [[hashSplit]]-by-id with the GROUPED split
    * (`q173`'s operator), which prevents this leakage by construction.
    */
  def splitLeakageAudit(
      pairs: DataFrame, aCol: String, bCol: String,
      splits: Seq[(String, Double)]): DataFrame =
    pairs
      .withColumn("split_a", splitOf(col(aCol), splits))
      .withColumn("split_b", splitOf(col(bCol), splits))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_cross", (col("split_a") =!= col("split_b")).cast("int"))

  /** EXACT fixed-size stratified sample: exactly min(n, |stratum|) rows
    * per stratum, deterministically — the sample a rate-based draw
    * ([[stratifiedSample]]) cannot promise (a rate gives a BINOMIAL
    * count; an eval set needs "exactly 1000 per language"). Membership
    * = the n smallest salted portable hashes within the stratum, so
    * the draw is uniform, reproducible across reruns/partitionings,
    * and independent (per salt) of every other sample or split.
    * Output adds `sample_rank` (1-based hash-order position, a
    * deterministic row id within the sample).
    *
    * Executes through the custom TopKPerKeyExec physical operator
    * (q118's): one exchange on the stratum key into bounded n-row
    * heaps — the corpus is never sorted, per-stratum or otherwise.
    */
  def fixedSizeStratifiedSample(
      df: DataFrame, idCol: String, strataCol: String, n: Int,
      salt: String = "fixed"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val withHash = df.withColumn("_h", portableHash(col(idCol), salt))
    graft.ops.TopK.perKey(withHash, Seq(strataCol),
        Seq(col("_h").asc, col(idCol).asc), n)
      .withColumn("sample_rank",
        row_number().over(Window.partitionBy(col(strataCol))
          .orderBy(col("_h").asc, col(idCol).asc)).cast("long"))
      .drop("_h")
  }

  /** Deterministic downsample: keep rows whose hash falls under `rate`.
    * Nested samples: a 1% sample is a subset of the 10% sample of the
    * same corpus (thresholds nest), which makes scaling experiments
    * comparable.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double): DataFrame = {
    require(rate >= 0 && rate <= 1, "rate in [0,1]")
    df.filter(portableHash(col(idCol)) < math.round(rate * 1000000L))
  }

  /** Deterministic stratified downsample: a per-stratum keep rate
    * (rebalancing a skewed corpus — e.g. downsample the dominant
    * language hard, keep the rest), with the same id-only determinism as
    * [[hashSample]]. Strata absent from `rates` keep `defaultRate`.
    * Pure filter — zero shuffles; `salt` decorrelates from other
    * hash-derived assignments on the same ids.
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String,
      rates: Seq[(String, Double)], defaultRate: Double,
      salt: String = ""): DataFrame = {
    (defaultRate +: rates.map(_._2)).foreach(r =>
      require(r >= 0 && r <= 1, s"rate must be in [0,1], got $r"))
    val h = portableHash(col(idCol), salt)
    val bound = rates.foldRight(lit(math.round(defaultRate * 1000000L)): Column) {
      case ((s, r), acc) =>
        when(col(stratumCol) === s, math.round(r * 1000000L)).otherwise(acc)
    }
    df.filter(h < bound)
  }

  /** Deterministic weighted (importance) sample: each row's keep
    * probability is its OWN `rate` expression, clamped to [0,1] — the
    * quality-proportional downsample ("keep good documents more often")
    * with the same id-only determinism as [[hashSample]]: reruns,
    * appends and repartitioning never change membership, and the same
    * row keeps the same fate as long as its rate doesn't change. Pure
    * filter, zero shuffles. The rate expression must be deterministic
    * and engine-portable for the oracle to reproduce it (integer inputs
    * + a single division are; chained float math is not).
    */
  def weightedSample(
      df: DataFrame, idCol: String, rate: Column,
      salt: String = ""): DataFrame =
    df.filter(portableHash(col(idCol), salt) <
      least(greatest(rate, lit(0.0)), lit(1.0)) * 1000000L)

  /** Domain-mix (token-budget) sample: downsample each domain to its
    * TARGET SHARE of a global size budget — the data-mixing step that
    * turns a raw crawl's accidental domain distribution into the
    * curated mixture a training run actually wants. Each domain `d`
    * keeps rows at rate
    *
    *   r_d = min(1, budget · weight_d / size_d)
    *
    * where size_d = Σ `sizeCol` over the domain, so the EXPECTED kept
    * size per domain is budget·weight_d (clamped when the domain is
    * too small to fill its share — under-represented domains keep
    * everything; the shortfall is reported, not silently rebalanced).
    * Membership is [[hashSample]]'s salted portable hash on the row id:
    * deterministic across reruns, appends and partitionings, and
    * independent of any other sample or split drawn with a different
    * salt. Domains absent from `weights` are dropped (weight 0).
    *
    * Scale shape: one domain-keyed partial aggregate for the sizes
    * (≤ |domains| rows), the per-domain rate frame broadcast back, and
    * a pure filter — the corpus itself never shuffles. Output keeps the
    * input columns plus `keep_rate`.
    */
  def budgetMixSample(
      df: DataFrame,
      idCol: String,
      domainCol: String,
      sizeCol: String,
      weights: Map[String, Double],
      budget: Long,
      salt: String = "mix"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(w => w >= 0 && !w.isNaN),
      "weights must be non-negative")
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF(domainCol, "_g_w")
    val rates = df.groupBy(col(domainCol))
      .agg(sum(col(sizeCol)).cast("double").as("_g_tot"))
      .join(wdf, domainCol)
      .select(col(domainCol),
        least(lit(1.0), lit(budget.toDouble) * col("_g_w") / col("_g_tot"))
          .as("keep_rate"))
    df.join(broadcast(rates), domainCol)
      .filter(portableHash(col(idCol), salt) < col("keep_rate") * 1000000L)
  }

  /** Deterministic global shuffle: assign every row a dense position
    * 0..N-1 in md5-order of (seed, id) — the training-data shuffle that
    * is reproducible across reruns and engines (same seed → same
    * permutation; a new seed → an independent one).
    *
    * Scale shape: a single global row_number() window would serialize
    * the whole corpus through ONE partition. Instead positions are
    * assigned shard-locally and offset: rows hash into `shards` groups,
    * each shard ranks its own rows in parallel (a window PER SHARD, so
    * partition size is corpus/shards), and shard offsets come from a
    * `shards`-row count table joined back by broadcast. Total order =
    * offset + local rank, identical to the one-window answer. Size
    * `shards` ≥ cluster cores; skew is impossible (md5 is uniform).
    */
  /** Contiguous sequence packing: assign each row the capacity-sized bin
    * where it STARTS in the `orderCol`-ordered concatenation of `sizeCol`
    * units — the crude-but-standard way a training pipeline groups
    * documents into fixed-budget sequences without splitting them.
    * Output adds `pack_prefix` (the row's exclusive running-size offset)
    * and `seq_bin` (= pack_prefix div capacity).
    *
    * Same no-single-partition-window discipline as
    * [[deterministicShuffle]]: rows shard by a MONOTONIC range map over
    * `orderCol` (any contiguous split yields the same prefix sums, so
    * boundary rounding is harmless), the running sum runs per shard, and
    * per-shard totals become broadcast offsets — the global prefix is
    * exact at any scale with no global window.
    *
    * Contract: `orderCol` numeric and row-unique (ties would make the
    * concatenation order — hence the bins — undefined); sizes ≥ 0.
    */
  def packContiguous(
      df: DataFrame,
      orderCol: String,
      sizeCol: String,
      capacity: Long,
      shards: Int = 64): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(shards > 0 && shards <= (1 << 20),
      s"shards must be in (0, 2^20], got $shards")
    val reserved = Seq("_lo", "_hi", "_shard", "_n", "_offset")
      .intersect(df.columns.toSeq)
    require(reserved.isEmpty,
      s"reserved column names in input: ${reserved.mkString(", ")}")
    val bounds = df.agg(
      min(col(orderCol)).cast("double").as("_lo"),
      max(col(orderCol)).cast("double").as("_hi"))
    val sharded = df.crossJoin(broadcast(bounds))
      .withColumn("_shard", least(
        lit(shards - 1L),
        floor((col(orderCol).cast("double") - col("_lo")) * shards /
          (col("_hi") - col("_lo") + 1d)).cast("long")))
      .drop("_lo", "_hi")
    val localPrefix = sum(col(sizeCol)).over(
      Window.partitionBy(col("_shard")).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
      col(sizeCol)
    val counts = sharded.groupBy(col("_shard"))
      .agg(sum(col(sizeCol)).as("_n"))
    val offsets = counts.select(col("_shard"),
      (sum(col("_n")).over(
        Window.orderBy(col("_shard"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("_n")).as("_offset"))
    sharded
      .join(broadcast(offsets), Seq("_shard"))
      .withColumn("pack_prefix", (col("_offset") + localPrefix).cast("long"))
      .withColumn("seq_bin", expr(s"pack_prefix div $capacity"))
      .drop("_shard", "_offset")
  }

  def deterministicShuffle(
      df: DataFrame, idCol: String, seed: String = "0",
      shards: Int = 64): DataFrame = {
    require(shards > 0, "shards must be positive")
    // exactness precondition for the comment below: prefix < 2^32, so
    // shards ≤ 2^20 keeps prefix*shards < 2^52 (double-exact); 2^20
    // shards is far beyond any cluster's core count anyway
    require(shards <= (1 << 20), s"shards must be <= 2^20, got $shards")
    val h = md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))
      .cast("binary"))
    // shard = RANGE of the hash prefix, not prefix % shards: lowercase
    // fixed-width hex sorts identically as string and as number, so
    // (shard asc, _h asc) is the same total order as plain (_h asc) —
    // the sharded positions equal the one-window answer exactly.
    // prefix*shards < 2^52, so the double division is exact.
    val prefix = conv(substring(col("_h"), 1, 8), 16, 10).cast("long")
    val sharded = df.withColumn("_h", h)
      .withColumn("_shard",
        floor(prefix * shards / lit(4294967296L)).cast("long"))
    val localRank = row_number().over(
      Window.partitionBy(col("_shard")).orderBy(col("_h"), col(idCol)))
    val counts = sharded.groupBy(col("_shard"))
      .agg(count(lit(1)).as("_n"))
    val offsets = counts.select(col("_shard"),
      (sum(col("_n")).over(
        Window.orderBy(col("_shard"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - col("_n")).as("_offset"))
    sharded
      .join(broadcast(offsets), Seq("_shard"))
      .withColumn("shuffle_pos", col("_offset") + localRank - 1)
      .drop("_h", "_shard", "_offset")
  }

  /** COVERAGE CUT (the top-p / nucleus rule applied to corpus curation):
    * rank members by integer weight descending and keep the smallest
    * prefix whose weights cover at least `pNum/pDen` of the total — the
    * pruning decision "which domains make up 90 % of the tokens" (and
    * the long tail you can drop or down-weight). `keys` partitions the
    * cut (pass Nil for one global cut).
    *
    * The keep predicate is EXACT integer arithmetic: a member is kept
    * iff the weight sum STRICTLY BEFORE it (rank order: weight DESC,
    * id ASC — fully deterministic) hasn't yet reached the target, i.e.
    * `pDen·cum_before < pNum·total` — so the member that crosses the
    * threshold is included and nothing after it is, and no float
    * boundary decides membership. Output adds rank, exact cumulative
    * weight, the d6 cumulative share, and the keep flag (the caller
    * filters; emitting the tail too is what makes the report useful).
    *
    * One exchange on `keys` serves both windows; totals ride the same
    * partition (no broadcast needed). Weight ties are ordered by id, so
    * re-runs cut identically.
    */
  def coverageCut(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      weightCol: String,
      pNum: Long,
      pDen: Long): DataFrame = {
    require(pDen > 0 && pNum >= 0 && pNum <= pDen,
      s"need 0 <= pNum/pDen <= 1, got $pNum/$pDen")
    val kcols = keys.map(col)
    val order = Window.partitionBy(kcols: _*)
      .orderBy(col(weightCol).desc, col(idCol).asc)
    val whole = Window.partitionBy(kcols: _*)
    val w = col(weightCol).cast("long")
    val cum = sum(w).over(
      order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val total = sum(w).over(whole)
    df.select(kcols ++ Seq(col(idCol), w.as(weightCol)): _*)
      .withColumn("rank", row_number().over(order).cast("long"))
      .withColumn("cum_weight", cum)
      .withColumn("_g_total", total)
      .select(kcols ++ Seq(col(idCol), col(weightCol), col("rank"),
        col("cum_weight"),
        (col("cum_weight").cast("double") / col("_g_total").cast("double"))
          .cast("decimal(28,6)").cast("double").as("cum_share"),
        (lit(pDen) * (col("cum_weight") - col(weightCol)) <
          lit(pNum) * col("_g_total")).cast("int").as("is_kept")): _*)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023): score every raw document by how much more likely
    * its hashed-unigram bag is under a small TARGET exemplar corpus
    * than under the raw corpus itself — the cheap proxy-free way to
    * tilt a 100 TB crawl toward a domain you only have examples of.
    *
    * Tokens hash into `nBuckets` buckets via the salted [[portableHash]]
    * (md5 — engine-portable, so the oracle rebuilds every bucket
    * bit-identically). With add-`alpha` smoothing over bucket counts,
    * each bucket carries
    *
    *   λ_b = ln((t_b+α)/(T+αB)) − ln((r_b+α)/(R+αB))
    *
    * and a document's log importance weight is Σ λ_bucket(token) over
    * its token OCCURRENCES. Output: (`idCol`, `n_tokens`, `logw`) for
    * every raw document with ≥ 1 token; the caller rounds (d6) before
    * ranking — ln may differ an ulp across engines (q116's discipline).
    *
    * Scale shape: two token-bucket partial aggregates (≤ B rows each on
    * the exchange), the λ frame built by a B-row outer join and
    * BROADCAST back onto the exploded tokens (the corpus-sized side
    * never shuffles to meet it), then one doc-keyed partial-aggregating
    * sum — the only corpus-sized exchange, carrying (id, partial-sum)
    * pairs. Nothing is collected to the driver.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int,
      alpha: Double = 1.0,
      salt: String = "dsir"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(alpha > 0, s"alpha must be > 0 (smoothing), got $alpha")
    def toks(df: DataFrame, keep: Column*): DataFrame =
      TextStats.wordRows(df, textCol, keep)
        .withColumn("_b", portableHash(col("tok"), salt) % nBuckets)
    val rawT = toks(raw, col(idCol))
    // ONE tagged union-aggregate instead of joining two per-side count
    // frames: a full-outer join of the B-row frames would plan a
    // sort-merge join (full outer can't broadcast) and a third
    // exchange; the union counts both sides in a single pass and
    // covers target-only buckets for free (an external exemplar set
    // need not be a subset of the raw corpus's vocabulary)
    val joined = rawT.select(col("_b"), lit(1L).as("_r"), lit(0L).as("_t"))
      .unionAll(toks(target)
        .select(col("_b"), lit(0L).as("_r"), lit(1L).as("_t")))
      .groupBy(col("_b"))
      .agg(sum(col("_r")).as("_r"), sum(col("_t")).as("_t"))
    val totals = joined.agg(
      sum(col("_r")).as("_gr"), sum(col("_t")).as("_gt"))
    val lam = joined.crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((col("_t") + alpha) / (col("_gt") + alpha * nBuckets)) -
          log((col("_r") + alpha) / (col("_gr") + alpha * nBuckets)))
          .as("_lam"))
    rawT.join(broadcast(lam), Seq("_b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_lam")).as("logw"))
  }

  /** TEMPERATURE-SCALED mixture shares (the multilingual-sampling α of
    * mBERT/XLM-R, the domain-temperature of Pile-style mixes): domain
    * d's target share ∝ n_d^alpha for alpha ∈ (0, 1] — alpha = 1 keeps
    * the corpus's natural proportions, alpha → 0 flattens toward
    * uniform, so low-resource domains are up-weighted without ever
    * repeating data the way raw upsampling would.
    *
    * Determinism discipline: pow() may differ an ulp across engines
    * AND the share denominator is a float sum whose order Spark does
    * not fix — so each n^alpha is d6-QUANTIZED first and the
    * denominator sums those quanta as exact DECIMALs (order-free);
    * only the final division is float, d6-rounded. Output per domain:
    * (`domainCol`, n, share, temp_share).
    *
    * One |domains|-row partial aggregate; the totals ride a 1-row
    * broadcast. The corpus never shuffles.
    */
  def temperatureShares(
      df: DataFrame, domainCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
      .withColumn("_w", pow(col("n").cast("double"), lit(alpha))
        .cast("decimal(28,6)"))
    val tot = counts.agg(sum(col("n")).as("_tn"), sum(col("_w")).as("_tw"))
    counts.crossJoin(broadcast(tot))
      .select(col(domainCol), col("n"),
        d6(col("n").cast("double") / col("_tn").cast("double")).as("share"),
        d6(col("_w").cast("double") / col("_tw").cast("double"))
          .as("temp_share"))
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151) —
    * the fairness-first alternative to [[temperatureShares]]: spread a
    * total token budget `B` as EVENLY as possible across domains,
    * subject to a per-domain repeat cap of `maxEpochs` passes over its
    * `n_d` tokens. The exact water-filling solution: b_d = min(cap_d,
    * L) with cap_d = maxEpochs·n_d and waterline L chosen so
    * Σ b_d = B; when B exceeds total capacity every domain saturates
    * and the surplus is reported, not silently redistributed.
    *
    * Closed form, no iteration: over domains sorted by cap ascending
    * (ties by domain — the window runs on the domain-count-bounded
    * table), the first k domains saturate iff cap_k·(D−k) ≤ B − s_k
    * (s = running cap sum) — an ALL-INTEGER monotone predicate, so
    * k* = max passing rank is one aggregate broadcast back, and
    * L = (B − s_{k*})/(D − k*) is the only float (one division, d6).
    *
    * Output per domain: (domainCol, n_tokens, cap, budget, epochs,
    * saturated) — `epochs` = budget/n_d is the repeat factor the
    * sampler actually applies; Σ budget = min(B, Σ cap) by
    * construction.
    */
  def unimaxBudgets(
      df: DataFrame,
      domainCol: String,
      weightCol: String,
      totalBudget: Long,
      maxEpochs: Int): DataFrame = {
    require(totalBudget >= 1, s"totalBudget must be >= 1, got $totalBudget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val W = org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(domainCol))
      .agg(sum(col(weightCol).cast("long")).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * maxEpochs)
    val wOrd = W.orderBy(col("cap").asc, col(domainCol).asc)
    val ranked = counts
      .withColumn("_i", row_number().over(wOrd).cast("long"))
      .withColumn("_s", sum(col("cap")).over(
        wOrd.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("_d", count(lit(1)).over(
        W.partitionBy(lit(1))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val kStar = ranked.agg(
      coalesce(max(when(
        col("cap") * (col("_d") - col("_i")) <= lit(totalBudget) - col("_s"),
        col("_i"))), lit(0L)).as("_k"),
      max(when(col("cap") * (col("_d") - col("_i")) <=
          lit(totalBudget) - col("_s"), col("_s"))).as("_sk"))
    val dMinusK = col("_d") - col("_k")
    val waterline = (lit(totalBudget) - coalesce(col("_sk"), lit(0L)))
      .cast("double") / dMinusK.cast("double")
    val budget = when(dMinusK === 0L, col("cap").cast("double"))
      .otherwise(least(col("cap").cast("double"), waterline))
    ranked.crossJoin(broadcast(kStar))
      .select(col(domainCol), col("n_tokens"), col("cap"),
        d6(budget).as("budget"),
        d6(budget / col("n_tokens").cast("double")).as("epochs"),
        (col("_i") <= col("_k")).cast("int").as("saturated"))
  }

  /** ROUND-ROBIN INTERLEAVE: the deterministic curriculum schedule that
    * feeds training one document per domain in rotation (position p of
    * every domain before position p+1 of any, domains in lexicographic
    * order within a round; domains that run out simply drop from later
    * rounds). `schedule_rank` is exactly `row_number() OVER (ORDER BY
    * pos, domain)` — but computed WITHOUT a global single-partition
    * window: rank(p, d) = Σ_d' min(n_d', p−1) + |{d' ≤ d : n_d' ≥ p}|,
    * an in-row fold over the broadcast per-domain count list on top of
    * the per-domain position window (the only exchange). The count
    * list is a bounded driver-side literal (the IVF-centroid contract:
    * |domains| ≤ `maxDomains`, loudly enforced).
    */
  def interleave(
      df: DataFrame, idCol: String, domainCol: String,
      maxDomains: Int = 1000): DataFrame = {
    val wd = Window.partitionBy(col(domainCol)).orderBy(col(idCol).asc)
    // Bound BEFORE collecting (ADVICE r10): limit(maxDomains+1) caps what
    // reaches the driver, so the guard fires without first materialising
    // an unbounded count list. The key is read via get(0).toString so a
    // non-string domain column fails loudly here, not deep in getString.
    val rawCounts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_n"))
      .limit(maxDomains + 1).collect()
    require(rawCounts.length <= maxDomains,
      s"interleave: >${maxDomains} domains exceeds maxDomains=$maxDomains" +
        " — raise the cap or pre-bucket the domain column")
    val counts = rawCounts
      .map(r => Option(r.get(0)).map(_.toString).orNull -> r.getLong(1))
      .sortBy(_._1)
    val pos = col("pos")
    val base = counts.map { case (_, n) => least(lit(n), pos - 1L) }
      .reduceLeft[Column](_ + _)
    val off = counts.map { case (d, n) =>
      when(lit(d) <= col(domainCol) && lit(n) >= pos, 1L).otherwise(0L)
    }.reduceLeft[Column](_ + _)
    df.withColumn("pos", row_number().over(wd).cast("long"))
      .withColumn("schedule_rank", (base + off).cast("long"))
  }

  /** Gumbel-top-k: draw `k` rows WITHOUT replacement with probability
    * proportional to exp(`logWeightCol`) — the resampling half of DSIR
    * (and of any softmax-weighted corpus draw). The Gumbel-max trick
    * makes it a ranking problem: perturb each log-weight with an
    * independent Gumbel noise term and keep the k largest, which is
    * distributionally exactly weighted sampling without replacement
    * (Vieira 2014). Noise is DERIVED, not drawn: u = (h+0.5)/10^6 from
    * the salted [[portableHash]] of the id, g = −ln(−ln u) — so the
    * sample is reproducible across reruns, engines and partitionings,
    * and a different `salt` yields an independent redraw.
    *
    * Output: input columns + `score` (d6-rounded BEFORE the cut, id
    * tie-break — the top-k boundary can't sit on a float ulp). Plan
    * shape: pure projection + TakeOrderedAndProject — no global sort,
    * no shuffle of the unselected mass.
    */
  def gumbelTopK(
      df: DataFrame,
      idCol: String,
      logWeightCol: String,
      k: Int,
      salt: String = "gumbel"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (portableHash(col(idCol), salt).cast("double") + 0.5) / 1000000.0
    val score = (col(logWeightCol) - log(-log(u)))
      .cast("decimal(28,6)").cast("double")
    df.withColumn("score", score)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-group percentile gate — "keep the top `keepFrac` of every
    * domain BY ITS OWN score distribution": the curation cut that a
    * single global quality threshold gets wrong, because score
    * distributions differ by domain and a global bar silently empties
    * the low-scoring domains (the FineWeb/DCLM lesson — filter within
    * strata, then mix). Deterministic: rank by (score desc, id asc) so
    * ties break stably, keep rank ≤ floor(keepFrac · n_group) with a
    * minimum of 1 per non-empty group (a domain never vanishes
    * outright; the mixer decides extinction, not the gate).
    *
    * Shape: ONE group-partitioned window (rank + count in the same
    * spec) — per-group work, no global ordering anywhere. keepFrac·n is
    * one double product; identical IEEE floor on every engine. Rows
    * are flagged, not dropped: (…, n_group, grp_rank, kept) — audits
    * read the 0s, the pipeline filters kept = 1.
    */
  def percentileGate(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      scoreCol: String,
      keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0,1], got $keepFrac")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val wAll = W.partitionBy(col(groupCol))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val nKeep = greatest(lit(1L),
      floor(col("n_group").cast("double") * lit(keepFrac)).cast("long"))
    df.withColumn("n_group", count(lit(1)).over(wAll))
      .withColumn("grp_rank", row_number().over(w).cast("long"))
      .withColumn("kept", (col("grp_rank") <= nKeep).cast("int"))
  }

  /** Quantile normalization across slices (the Bolstad 2003 method,
    * generalized to unequal slice sizes by order-statistic lookup):
    * each row's integer score is replaced by the MEAN over all slices
    * of the value at its own quantile position — after which every
    * slice has the same score distribution. The ensemble-fusion step
    * for heterogeneous quality scorers: slice = scorer (or domain),
    * and the normalized scores become comparable across slices.
    *
    * Per row with within-slice rank r of n_s, the looked-up order
    * statistic in slice t is rank ⌈r·n_t/n_s⌉ — EXACT integer
    * arithmetic ((r·n_t + n_s − 1) div n_s); the mean over slices is
    * the one division, d6. Ranks are (score, id)-ordered: total and
    * deterministic under ties.
    *
    * Scale shape: per-slice rank windows (one window per slice — the
    * [[percentileGate]] group-window discipline; shard-rank them first
    * if a single slice outgrows a partition), a broadcast slice-size
    * frame, a ×S row fan-out (S = slice count — the [[vocabOverlap]]
    * bounded-fan-out class) and ONE (slice, rank) equi-join back.
    * Output: (sliceCol, idCol, scoreCol, norm_score) — one row per
    * INPUT row: duplicate ids within a slice are legal and normalize
    * independently at their own ranks (the fan-in aggregate keys on
    * the unique within-slice rank, never the id).
    */
  def quantileNormalize(
      df: DataFrame,
      sliceCol: String,
      idCol: String,
      scoreCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(sliceCol))
      .orderBy(col("_q_v").asc, col(idCol).asc)
    val ranked = df
      .select(col(sliceCol), col(idCol), col(scoreCol).cast("long")
        .as("_q_v"))
      .withColumn("_q_r", row_number().over(w).cast("long"))
    val sizes = ranked.groupBy(col(sliceCol).as("_q_t"))
      .agg(count(lit(1)).as("_q_nt"))
    val nSlices = sizes.agg(count(lit(1)).as("_q_s"))
    val own = sizes.select(col("_q_t").as(sliceCol),
      col("_q_nt").as("_q_ns"))
    val lookups = ranked
      .join(broadcast(own), Seq(sliceCol))
      .crossJoin(broadcast(sizes))
      .withColumn("_q_tr",
        expr("(_q_r * _q_nt + _q_ns - 1) div _q_ns"))
    val targets = ranked.select(col(sliceCol).as("_q_t"),
      col("_q_r").as("_q_tr"), col("_q_v").as("_q_tv"))
    // the fan-in aggregate keys on the within-slice RANK (unique by
    // construction), not the id: a duplicate id inside a slice is two
    // distinct ranked rows and must normalize independently — an
    // id-keyed groupBy would silently merge them (sum over 2S lookups
    // divided by S) into a wrong norm_score
    lookups
      .join(targets, Seq("_q_t", "_q_tr"))
      .groupBy(col(sliceCol), col("_q_r"), col(idCol), col("_q_v"))
      .agg(sum(col("_q_tv")).as("_q_sum"))
      .crossJoin(broadcast(nSlices))
      .select(col(sliceCol), col(idCol), col("_q_v").as(scoreCol),
        d6(col("_q_sum").cast("double") / col("_q_s").cast("double"))
          .as("norm_score"))
  }

  /** First-fit-decreasing sequence packing: group documents into
    * fixed-capacity bins with far less padding than [[packContiguous]]'s
    * order-preserving chunking — the length-aware batching step before
    * a training run (FFD wastes ≤ 22% of OPT in the worst case and
    * ~2-4% in practice vs. arbitrary-order first-fit).
    *
    * FFD is inherently sequential, so packing runs independently per
    * md5-assigned SHARD: items hash into `shards` groups, each shard
    * sorts its items (size desc, id asc) and folds them through the
    * classic first-fit scan — a typed `flatMapGroups` with MUTABLE
    * loads (the documented imperative boundary, same class as
    * TopKPerKeyExec): a Catalyst `aggregate` HOF was measured 752×
    * at the 10× sidecar because immutable array state copies O(n)
    * per element — the per-shard scan is O(items·bins) in Scala and
    * O(items²·bins) as an expression. `maxShardRows` guards the
    * per-group buffer, loudly. Bin ids are shard-local; global bin
    * identity is (pack_shard, pack_bin). Shard-local packing costs at
    * most one partially-empty bin per shard vs. global FFD — size
    * `shards` so each shard holds ≥ ~100× capacity of items and the
    * overhead vanishes; the parallelism is exactly the salted-shard
    * discipline of [[deterministicShuffle]].
    *
    * Items larger than `capacity` fail LOUDLY (in-plan guard) — they
    * cannot pack; truncate or split upstream.
    *
    * Output: one row per item — (idCol, sizeCol, pack_shard, pack_bin,
    * bin_fill) with bin_fill the packed bin's total size.
    */
  def packFirstFit(
      df: DataFrame,
      idCol: String,
      sizeCol: String,
      capacity: Long,
      shards: Int = 64,
      maxShardRows: Int = 4096,
      salt: String = "ffd"): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(shards > 0 && shards <= (1 << 20),
      s"shards in (0, 2^20], got $shards")
    require(maxShardRows > 0, s"maxShardRows must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val sharded = df.select(
        col(idCol).cast("string").as("_q_id"),
        col(sizeCol).cast("long").as("_q_sz"),
        (portableHash(col(idCol), salt) * shards / lit(1000000L))
          .cast("long").as("pack_shard"))
      .as[(String, Long, Long)]
    val packed = sharded.groupByKey(_._3).flatMapGroups {
      (shard: Long, rows: Iterator[(String, Long, Long)]) =>
        val items = rows.map { case (id, sz, _) => (id, sz) }.toArray
        require(items.length <= maxShardRows,
          s"packFirstFit: shard $shard has ${items.length} rows " +
            s"> maxShardRows $maxShardRows — raise shards")
        items.foreach { case (id, sz) =>
          require(sz >= 0 && sz <= capacity,
            s"packFirstFit: item $id size $sz exceeds capacity " +
              s"$capacity (or is negative) — truncate or split upstream")
        }
        // FFD: size desc, id asc; classic first-fit with mutable loads
        val sorted = items.sortBy { case (id, sz) => (-sz, id) }
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        val asg = new Array[Int](sorted.length)
        var i = 0
        while (i < sorted.length) {
          val sz = sorted(i)._2
          var b = 0
          while (b < loads.length && loads(b) + sz > capacity) b += 1
          if (b == loads.length) loads += sz else loads(b) += sz
          asg(i) = b + 1
          i += 1
        }
        sorted.iterator.zipWithIndex.map { case ((id, sz), k) =>
          (id, sz, shard, asg(k).toLong, loads(asg(k) - 1))
        }
    }
    packed.toDF(idCol, sizeCol, "pack_shard", "pack_bin", "bin_fill")
  }

  /** Stratified weighted sampling WITHOUT replacement — `k` rows PER
    * stratum with probability ∝ `weightCol` (Efraimidis & Spirakis
    * 2006, in the Gumbel-max form that [[gumbelTopK]] uses globally):
    * perturb each row's ln(weight) with derived Gumbel noise and keep
    * the per-stratum top k. THE corpus-mixing draw — "per language,
    * prefer long/high-quality docs, but keep the draw a sample, not a
    * deterministic top-k" — and reproducible: noise is a pure function
    * of (salt, id), so reruns, engines and partitionings agree, and a
    * different salt is an independent redraw.
    *
    * Rows are flagged, not dropped (`samp_rank`, `kept`) — audits read
    * the 0s. The score d6-rounds BEFORE the rank cut with an id
    * tie-break, so the boundary can't sit on a float ulp (the
    * [[gumbelTopK]] contract). Non-positive weights fail loudly (a
    * zero weight has no ln; filter first).
    *
    * Scale shape: pure projection + ONE stratum-partitioned window —
    * per-stratum work only; no global ordering, no driver round-trip.
    */
  def stratifiedWeightedTopK(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String = "eswr"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val W = org.apache.spark.sql.expressions.Window
    val wOk = when(col(weightCol).cast("double") > 0.0,
      col(weightCol).cast("double"))
      .otherwise(raise_error(concat(
        lit("stratifiedWeightedTopK: non-positive weight for id "),
        col(idCol).cast("string"),
        lit(" — filter or floor weights first"))).cast("double"))
    val u = (portableHash(col(idCol), salt).cast("double") + 0.5) /
      1000000.0
    val score = (log(wOk) - log(-log(u)))
      .cast("decimal(28,6)").cast("double")
    val w = W.partitionBy(col(stratumCol))
      .orderBy(col("samp_score").desc, col(idCol).asc)
    df.withColumn("samp_score", score)
      .withColumn("samp_rank", row_number().over(w).cast("long"))
      .withColumn("kept", (col("samp_rank") <= k.toLong).cast("int"))
  }

  /** Grouped k-fold assignment — the cross-validation split that
    * respects entity boundaries: fold = portable hash of the GROUP
    * (user, session, domain), so all of an entity's rows land in one
    * fold and no fold ever trains on an entity it validates on (the
    * group-leakage law [[splitOf]] enforces for train/test, here for
    * k-fold). Deterministic, engine-portable (md5), salted for
    * independent re-splits.
    *
    * Scale shape: a pure in-row projection — membership is a function
    * of the group id, so ANY frame carrying the group recovers its
    * fold without a join against a fold table; zero shuffles.
    */
  def groupKFold(
      df: DataFrame,
      groupCol: String,
      k: Int,
      salt: String = "fold"): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    df.withColumn("fold",
      (portableHash(col(groupCol), salt) % k.toLong).cast("long"))
  }

  /** Neyman optimal allocation (Neyman 1934) — how to SPLIT a fixed
    * labeling/sampling budget across strata so the stratified mean's
    * variance is minimal: nₕ ∝ Nₕ·Sₕ (big AND internally-varied
    * strata earn more samples). The planning table an eval-set or
    * annotation budget is built from, and the design-side complement
    * of [[fixedSizeStratifiedSample]] (which executes a given
    * per-stratum quota).
    *
    * Determinism: per-stratum sufficient sums are exact decimal; the
    * cleared variance Mₕ = NₕΣx²−(Σx)² stays exact; Sₕ = √(Mₕ/(Nₕ(Nₕ−1)))
    * uses IEEE-exact sqrt over a d6 input; the weight NₕSₕ, its share
    * and the floor(budget·share) allocation are each one fixed d6 /
    * integer step. Single-row strata and zero-variance strata carry
    * weight 0 (no spread to sample for — documented; seed them
    * manually if coverage matters). All-degenerate input answers NULL
    * shares. Floor rounding under-spends by < k samples by design
    * (largest-remainder seat-filling is a POLICY choice left to the
    * caller; the report carries the exact d6 share to do it with).
    *
    * Scale shape: ONE keyed aggregate (map-side combine) → k-row
    * frame + a 1-row broadcast total.
    */
  def neymanAllocation(
      df: DataFrame,
      stratumCol: String,
      xCol: String,
      budget: Long): DataFrame = {
    require(budget > 0L, s"budget must be positive, got $budget")
    val x = col(xCol).cast("long")
    val per = df.groupBy(col(stratumCol).cast("string").as("_h"))
      .agg(count(lit(1)).as("n_pop"),
        sum(dec(x)).as("_s1"), sum(dec(x) * dec(x)).as("_s2"))
      .withColumn("_m",
        (dec(col("n_pop")) * col("_s2") - col("_s1") * col("_s1"))
          .cast("double"))
      .withColumn("sd",
        when(col("n_pop") >= 2L && col("_m") > 0.0,
          d6(sqrt(d6(col("_m") /
            (col("n_pop") * (col("n_pop") - 1L)).cast("double")))))
          .otherwise(lit(0.0)))
      .withColumn("_w", d28(d6(col("n_pop").cast("double") * col("sd"))))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("_wsum", sum(col("_w")).over(wAll).cast("double"))
      .select(col("_h").as(stratumCol), col("n_pop"), col("sd"),
        when(col("_wsum") > 0.0,
          d6(col("_w").cast("double") / col("_wsum"))).as("share"))
      .withColumn("n_alloc",
        when(col("share").isNotNull,
          floor(lit(budget.toDouble) * col("share")).cast("long"))
          .otherwise(lit(0L)))
  }

  /** Quality-filter threshold sweep — the planning curve behind every
    * "where do we set the cut?" decision: for each candidate
    * threshold, how many documents and how much token mass survive a
    * `score ≥ t` filter? Reading the knee of this curve is how a
    * curation pipeline picks its operating point BEFORE burning a
    * full filtering pass at each candidate.
    *
    * Determinism: kept counts/weights are exact longs (conditional
    * sums); fractions close in one d6 each. Scale shape: ONE corpus
    * aggregate computing ALL thresholds as conditional sums
    * (map-side combinable — 2·T cells per partition, not T corpus
    * passes), unpivoted to a T-row frame in-plan.
    */
  def thresholdSweep(
      df: DataFrame,
      scoreCol: String,
      weightCol: String,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.size <= 1000,
      s"need 1..1000 thresholds, got ${thresholds.size}")
    require(thresholds.distinct.size == thresholds.size,
      "thresholds must be distinct")
    val sc = col(scoreCol).cast("long")
    val w = col(weightCol).cast("long")
    val sorted = thresholds.sorted
    val aggs = Seq(count(lit(1)).as("_n"), sum(w).as("_w")) ++
      sorted.zipWithIndex.flatMap { case (t, i) =>
        Seq(sum(when(sc >= t, 1L).otherwise(0L)).as(s"_n$i"),
          sum(when(sc >= t, w).otherwise(0L)).as(s"_w$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = sorted.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("threshold"), col(s"_n$i").as("n_kept"),
        coalesce(col(s"_w$i"), lit(0L)).as("w_kept"))
    }
    one.select(col("_n"), col("_w"),
        explode(array(rows: _*)).as("_r"))
      .select(col("_r.threshold").as("threshold"),
        col("_r.n_kept").as("n_kept"),
        col("_r.w_kept").as("w_kept"),
        d6(col("_r.n_kept").cast("double") / col("_n").cast("double"))
          .as("doc_frac"),
        when(col("_w") > 0L,
          d6(col("_r.w_kept").cast("double") / col("_w").cast("double")))
          .as("weight_frac"))
  }
}

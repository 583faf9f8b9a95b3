package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Exact.{d28, d6}

/** Trained quality classifier — the CCNet/GPT-3 curation move the
  * heuristic gates (TextStats.qualityFilter, the C4 gate) lead up to:
  * distill a labeling rule into a LINEAR model over hashed bag-of-words
  * features, then score the whole corpus with the learned weights. The
  * reference has no model surface at all (sayn delegates SQL); this is
  * the §2e family member that turns the engine's token statistics into
  * a trainable/scoreable filter.
  *
  * Everything is FIXED-POINT INTEGER arithmetic, so the entire training
  * run — features, margins, sigmoids, gradients, weight trajectory — is
  * bit-reproducible and replayable as a chained-CTE oracle (the q218
  * k-means / q220 BPE portable-training contract, applied to gradient
  * descent):
  *
  *   - features: x_b = trunc(S_F · B · count_b / n_tokens) for md5-ring
  *     hashed unigram buckets b < B (Sampling.portableHash — the DSIR
  *     bucket family), plus a constant bias feature x_B = S_F. The B
  *     factor puts bucket features on the bias's unit scale (mean
  *     occupied-bucket frequency is ~1/B) — without it the bias axis
  *     has ~B² times the curvature of the bucket axes and full-batch
  *     GD is stability-capped into crawling. Features are then
  *     MEAN-CENTERED per bucket (μ_b = trunc(Σ_i x_ib / N), bias
  *     uncentered): with an imbalanced label, uncentered features give
  *     every bucket a common gradient drift ∝ (p₁−p₀)·E[x_b] that
  *     swamps the per-bucket class-mean difference which IS the
  *     signal; centering routes the drift to the bias weight. Both
  *     measured on the fixture: uncentered plateaus at majority-class
  *     accuracy, centered reaches ~0.80 against a 0.55 majority.
  *     Zero-token documents are excluded (unlearnable, and n ≥ 1
  *     keeps the division total).
  *   - weights: integers at scale S_W = 10^6, init 0.
  *   - margin: M = Σ_b W_b·x_b (exact long; |M| ≤ (B+1)·|W|max·S_F),
  *     reduced to sigma scale by m6 = truncDiv(M, S_F).
  *   - sigmoid: the FAST (rational) sigmoid σ(m) = (1 + m/(1+|m|))/2 —
  *     chosen over 1/(1+e^-m) because it is exact in integer
  *     arithmetic: s6 = (S_W·(P + m6)) div (2P) with P = S_W + |m6|,
  *     a non-negative integer division both engines truncate
  *     identically. exp() would put a transcendental on the replay
  *     boundary (ulp divergence flips a d6 quantization — the q182
  *     lesson), and the fast sigmoid is itself standard practice.
  *   - full-batch GD step: e_i = s6_i − S_W·y_i; g_b = Σ_i e_i·x_ib;
  *     W_b ← W_b − truncDiv(lrNum·g_b, S_F·N). One corpus pass per
  *     step; the gradient is a (B+1)-row bounded collect that becomes
  *     the next step's broadcast weight literal (the Lloyd-iteration
  *     discipline of Similarity.lloydTrain).
  *
  * truncDiv(a, d) = (a − a % d) / d — truncation toward zero written in
  * operators whose semantics Spark and DuckDB share for either sign
  * (`%` keeps the dividend's sign in both), so the oracle needs no
  * floor-vs-trunc caveats. The remaining double division is exact: all
  * numerators stay far below 2^53 and are integer multiples of their
  * divisors after the remainder subtraction.
  *
  * Scale shape (docs/SCALING.md): featurization is two id-keyed
  * exchanges ((id, bucket) count, then the per-doc dense vector build —
  * per-doc state is B+1 longs); each GD step is ONE corpus pass whose
  * only exchange is the map-side-combined (B+1)-row gradient aggregate;
  * scoring is pure in-row work against the broadcast weight literal.
  * Overflow headroom: |g_b| ≤ S_W·S_F·N ≈ 10^10·N, so longs hold to
  * N ≈ 10^8 documents per training shard; past that the gradient
  * aggregate switches to decimal(38,0) (same truncation contract) —
  * noted rather than done, because training shards that size are
  * already sampled in practice.
  */
object Classifier {

  private val SF = 10000L // feature scale
  private val SW = 1000000L // weight / sigmoid scale

  /** trunc-toward-zero division by positive `d`, portable across
    * engines for either sign of `a` (see object scaladoc).
    */
  private def truncDiv(a: Column, d: Long): Column =
    ((a - a % lit(d)) / lit(d)).cast("long")

  /** Column-divisor variant (divisor must be positive). */
  private def truncDivC(a: Column, d: Column): Column =
    ((a - a % d) / d).cast("long")

  /** Per-document dense feature vector: (`idCol`, y, n_tokens, xvec)
    * with xvec = [x_0 … x_{B−1}, bias S_F]. `labelCol` is any 0/1
    * expression over the document row (it may read `textCol`).
    */
  def hashedFeatures(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int, salt: String): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val toks = df
      .select(col(idCol), labelCol.cast("long").as("y"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("_b", Sampling.portableHash(col("tok"), salt) % nBuckets)
    toks.groupBy(col(idCol), col("y"), col("_b"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol), col("y"))
      .agg(map_from_entries(collect_list(struct(col("_b"), col("_c"))))
        .as("_m"), sum(col("_c")).as("n_tokens"))
      .select(col(idCol), col("y"), col("n_tokens"),
        concat(
          transform(sequence(lit(0), lit(nBuckets - 1)), p =>
            floor(lit(SF * nBuckets) * coalesce(
              element_at(col("_m"), p.cast("long")), lit(0L))
              / col("n_tokens")).cast("long")),
          array(lit(SF))).as("xvec"))
  }

  /** In-row margin of a feature vector against a weight literal. */
  private def marginOf(xvec: Column, w: Seq[Long]): Column =
    aggregate(zip_with(xvec, typedlit(w), (x, wc) => x * wc),
      lit(0L), (acc, v) => acc + v)

  /** Fixed-point fast sigmoid of a margin column (sigma scale S_W):
    * s6 = (S_W·(P + m6)) div (2P), P = S_W + |m6|. The numerator is
    * non-negative by construction (P + m6 = S_W + |m6| + m6 ≥ S_W).
    */
  private def sigma6(margin: Column): Column = {
    val m6 = truncDiv(margin, SF)
    val p = lit(SW) + abs(m6)
    truncDivC(lit(SW) * (p + m6), lit(2L) * p)
  }

  /** Runs `steps` full-batch GD steps and returns the weight
    * TRAJECTORY: (step, bucket, weight) for step ∈ [1, steps], bucket ∈
    * [0, B] (bucket B = bias). The trajectory — not just the final
    * weights — is the oracle surface: a replay divergence pinpoints the
    * exact step it appears in.
    */
  def trainLogistic(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int = 128, steps: Int = 8, lrNum: Long = 2L,
      salt: String = "qlr"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (trace, _, _) = trainInternal(
      df, idCol, textCol, labelCol, nBuckets, steps, lrNum, salt)
    trace.toDF("step", "bucket", "weight")
  }

  /** Per-bucket corpus means (trunc), bias entry pinned to 0 so the
    * bias feature stays uncentered — centering removes the common
    * gradient drift an imbalanced label otherwise injects into every
    * bucket (the signal is the per-bucket class-mean DIFFERENCE; the
    * shared mean rides the bias weight instead). One posexplode
    * aggregate, (B+1)-row bounded collect.
    */
  private def bucketMeans(feat: DataFrame, n: Long): Array[Long] = {
    val sums = feat
      .select(posexplode(col("xvec")).as(Seq("_p", "_x")))
      .groupBy(col("_p")).agg(sum(col("_x")).as("_s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val b = sums.keys.max
    Array.tabulate(b + 1)(p =>
      if (p == b) 0L else { val s = sums(p); (s - s % n) / n })
  }

  private def centered(feat: DataFrame, mu: Array[Long]): DataFrame =
    feat.withColumn("xvec",
      zip_with(col("xvec"), typedlit(mu.toSeq), (x, m) => x - m))

  /** Shared trainer: returns (trajectory rows, final weights, means). */
  private[pipeline] def trainInternal(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int, steps: Int, lrNum: Long, salt: String)
      : (Seq[(Int, Int, Long)], Array[Long], Array[Long]) = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(lrNum >= 1, s"lrNum must be >= 1, got $lrNum")
    // the featurized corpus is read steps+2 times (count, means, one
    // pass per GD step) — cache it rather than re-running the explode +
    // two featurization exchanges each pass. Per-doc state is (id, y,
    // n, B+1 longs) ≈ 8B+small per doc: ~1 GB per 10^6 docs at B=128,
    // MEMORY_AND_DISK so a 100 TB corpus spills instead of evicting.
    val feat0 = hashedFeatures(df, idCol, textCol, labelCol, nBuckets, salt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = feat0.count()
    require(n > 0, "trainLogistic: no documents with at least one token")
    val mu = bucketMeans(feat0, n)
    val feat = centered(feat0, mu)
    var w = Array.fill(nBuckets + 1)(0L)
    val trace = Seq.newBuilder[(Int, Int, Long)]
    for (st <- 1 to steps) {
      // e = s6 − S_W·y in-row, then the (B+1)-row gradient aggregate —
      // the step's only exchange, map-side combined
      val grad = feat
        .select((sigmaOf(col("xvec"), w) - lit(SW) * col("y")).as("_e"),
          posexplode(col("xvec")).as(Seq("_p", "_x")))
        .groupBy(col("_p"))
        .agg(sum(col("_e") * col("_x")).as("_g"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = w.indices.map { b =>
        val g = grad.getOrElse(b, 0L)
        val num = lrNum * g
        val den = SF * n
        w(b) - (num - num % den) / den // trunc toward zero (Scala /)
      }.toArray
      w.indices.foreach(b => trace += ((st, b, w(b))))
    }
    feat0.unpersist(false)
    (trace.result(), w, mu)
  }

  private def sigmaOf(xvec: Column, w: Array[Long]): Column =
    sigma6(marginOf(xvec, w.toIndexedSeq))

  /** A fitted model: final weights + the feature means they were
    * trained against (scoring must center with the SAME means).
    */
  final case class LogisticModel(
      weights: Array[Long], means: Array[Long], nBuckets: Int, salt: String)

  /** Fit and return the model (the publishable artifact a batch
    * training job hands to the ingest-time scorer).
    */
  def fitLogistic(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int = 128, steps: Int = 8, lrNum: Long = 2L,
      salt: String = "qlr"): LogisticModel =
    fitLogisticTraced(
      df, idCol, textCol, labelCol, nBuckets, steps, lrNum, salt)._2

  /** Fit returning BOTH the weight trajectory rows (step, bucket,
    * weight) and the model — the one-training form the entry-layer
    * model registry caches so the trajectory entry, the scorers and
    * the funnel share a single training run.
    */
  def fitLogisticTraced(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int = 128, steps: Int = 8, lrNum: Long = 2L,
      salt: String = "qlr"): (Seq[(Int, Int, Long)], LogisticModel) = {
    val (trace, w, mu) = trainInternal(
      df, idCol, textCol, labelCol, nBuckets, steps, lrNum, salt)
    (trace, LogisticModel(w, mu, nBuckets, salt))
  }

  /** Score documents with a fitted model using PURE IN-ROW work — no
    * exchange at all: the token→bucket hash, per-bucket counts,
    * centering, margin and sigmoid are all higher-order-function
    * expressions over the text column, and the model rides in as
    * literals. Produces bit-identical rows to [[scoreLogistic]] (same
    * integer arithmetic, counts from the same tokenization), which is
    * what lets a STREAMING ingest score statelessly per micro-batch
    * row and still hash-match the batch oracle. Cost note: the
    * per-token md5 is computed once per token; the bucket-count build
    * is O(B·n_tokens) integer compares per document.
    */
  /** The single-pass hashed bag-of-words of `textCol` under the
    * model's (B, salt): `[count_0 … count_{B−1}, n_tokens]`. Bind this
    * ONCE with withColumn before feeding [[scoreFromCounts]] — the
    * kernel is the per-row cost center and the codebase does not rely
    * on codegen subexpression elimination.
    */
  def bucketCountsFor(textCol: Column, model: LogisticModel): Column = {
    require(model.weights.length == model.nBuckets + 1 &&
      model.means.length == model.nBuckets + 1,
      s"model arrays must be length nBuckets+1=${model.nBuckets + 1}")
    graft.functions.HashedBucketCounts.bucketCounts(
      textCol, model.nBuckets, model.salt)
  }

  /** Fixed-point sigmoid score from a bound [[bucketCountsFor]]
    * column: length-normalize (the trunc fixed-point features), center
    * with the model means, margin against the weight literal, sigmoid.
    * All in-row; the only remaining lambdas run over B+1-length arrays
    * (not per token). Null when n_tokens = 0 (unscoreable by the
    * featurization contract; the guard keeps the division total).
    */
  def scoreFromCounts(cn: Column, model: LogisticModel): Column = {
    val b = model.nBuckets
    val n = element_at(cn, b + 1)
    val xRaw = concat(
      transform(slice(cn, 1, b), c =>
        floor(lit(SF * b) * c / n).cast("long")),
      array(lit(SF)))
    val xvec = zip_with(xRaw, typedlit(model.means.toSeq), (x, m) => x - m)
    when(n > 0L, sigma6(marginOf(xvec, model.weights.toIndexedSeq)))
  }

  def scoreRowwise(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      model: LogisticModel): DataFrame = {
    val b = model.nBuckets
    df.withColumn("_g_cn", bucketCountsFor(col(textCol), model))
      .withColumn("_g_nt", element_at(col("_g_cn"), b + 1))
      .filter(col("_g_nt") > 0L)
      .select(col(idCol), labelCol.cast("long").as("y"),
        col("_g_nt").as("n_tokens"),
        scoreFromCounts(col("_g_cn"), model).as("score6"))
      .withColumn("pred", (col("score6") >= lit(SW / 2)).cast("long"))
  }

  /** Train, then score every document with the FINAL weights: (`idCol`,
    * y, n_tokens, score6, pred) where score6 ∈ [0, S_W] is the
    * fixed-point sigmoid and pred = 1 iff score6 ≥ S_W/2. Scoring is
    * pure in-row work over the featurization (the weight vector rides
    * in as a literal).
    */
  def scoreLogistic(
      df: DataFrame, idCol: String, textCol: String, labelCol: Column,
      nBuckets: Int = 128, steps: Int = 8, lrNum: Long = 2L,
      salt: String = "qlr"): DataFrame = {
    val (_, w, mu) = trainInternal(
      df, idCol, textCol, labelCol, nBuckets, steps, lrNum, salt)
    centered(
      hashedFeatures(df, idCol, textCol, labelCol, nBuckets, salt), mu)
      .select(col(idCol), col("y"), col("n_tokens"),
        sigmaOf(col("xvec"), w).as("score6"))
      .withColumn("pred", (col("score6") >= lit(SW / 2)).cast("long"))
  }

  private def toks(df: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        col(labelCol).cast("string").as("_l"),
        explode(split(col(textCol), " ")).as("_tok"))
      .filter(col("_tok") =!= "")

  /** Multinomial Naive Bayes model over whitespace tokens with add-one
    * (Laplace) smoothing — the fastText-style MULTI-CLASS companion to
    * the binary logistic gate ([[trainLogistic]]): language/source/
    * domain routing where the label has more than two values and the
    * closed-form count model needs no gradient loop at all. Training IS
    * one aggregation pass — the 100 TB story is exactly "the model is a
    * GROUP BY":
    *
    *   logp(t·c) = d6( ln( (count(t,c)+1) / (Σ_t count(t,c) + |V|) ) )
    *
    * with |V| the cross-class distinct-token vocabulary. Every input to
    * the ln is an exact integer ratio evaluated in ONE expression shape,
    * so both engines d6-round the identical double.
    *
    * Output: (`labelCol`, token, token_count, logp) — vocabulary×classes
    * rows (only observed pairs; absent pairs take the per-class default
    * ln(1/(n_c+|V|)) at score time, see [[naiveBayesScore]]).
    *
    * Scale shape: one token explode → one (label, token) aggregate +
    * one label aggregate + one distinct-token count, all broadcast-
    * joined back onto the vocabulary-sized model frame. No window, no
    * driver loop, no iteration.
    */
  def naiveBayesModel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame = {
    val tk = toks(df, idCol, textCol, labelCol)
    val pairs = tk.groupBy(col("_l"), col("_tok"))
      .agg(count(lit(1)).as("token_count"))
    val classTotals = pairs.groupBy(col("_l"))
      .agg(sum(col("token_count")).as("_nl"))
    val vocab = pairs.select(col("_tok")).distinct()
      .agg(count(lit(1)).as("_v"))
    pairs
      .join(broadcast(classTotals), "_l")
      .crossJoin(broadcast(vocab))
      .select(col("_l").as(labelCol), col("_tok").as("token"),
        col("token_count"),
        d6(log((col("token_count") + 1L).cast("double") /
          (col("_nl") + col("_v")).cast("double"))).as("logp"))
  }

  /** Train a [[naiveBayesModel]] on the frame's own labels, then score
    * every document and emit the argmax class:
    *
    *   score(d·c) = d6(ln(docs_c/D)) + Σ_t tf(d,t) · logp(t·c)
    *
    * with unseen-in-class tokens taking the per-class default
    * d6(ln(1/(n_c+|V|))). All terms are decimal(28,6) EXACTLY (tf is an
    * integer multiplier on a d6 value; the sum is decimal), so the
    * per-class scores — and therefore the argmax — are engine-portable
    * bit-for-bit; ties break to the lexicographically smallest class.
    *
    * Output: (`idCol`, pred, score, is_correct) per document — empty
    * (zero-token) documents score on priors alone.
    *
    * Scale shape: the model/prior/default frames are vocabulary- and
    * classes-sized (broadcast); the corpus-sized work is one token
    * explode, a ×|classes| bounded fan-out, one (doc, class) aggregate
    * and a doc-keyed argmax window. |classes| is assumed dashboard-small
    * (languages, sources); a 10⁴-class taxonomy wants a top-candidates
    * prefilter first, which this signature deliberately does not hide.
    */
  def naiveBayesScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame = {
    val tk = toks(df, idCol, textCol, labelCol)
    val pairs = tk.groupBy(col("_l"), col("_tok"))
      .agg(count(lit(1)).as("_c"))
    val classTotals = pairs.groupBy(col("_l")).agg(sum(col("_c")).as("_nl"))
    val vocab = pairs.select(col("_tok")).distinct()
      .agg(count(lit(1)).as("_v"))
    val model = pairs
      .join(broadcast(classTotals), "_l")
      .crossJoin(broadcast(vocab))
      .select(col("_l").as("_cl"), col("_tok"),
        d6(log((col("_c") + 1L).cast("double") /
          (col("_nl") + col("_v")).cast("double"))).as("logp"))
    val nDocs = df.agg(count(lit(1)).as("_d"))
    val classes = df.groupBy(col(labelCol).cast("string").as("_cl"))
      .agg(count(lit(1)).as("_dc"))
      .join(broadcast(classTotals.withColumnRenamed("_l", "_cl")),
        Seq("_cl"), "left") // a class of only empty docs still scores
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(nDocs))
      .select(col("_cl"),
        d28(d6(log(col("_dc").cast("double") / col("_d").cast("double"))))
          .as("_prior6"),
        d28(d6(log(lit(1.0) /
          (coalesce(col("_nl"), lit(0L)) + col("_v")).cast("double"))))
          .as("_dflt6"))
    val docTf = tk.groupBy(col("_id"), col("_tok"))
      .agg(count(lit(1)).as("_tf"))
    val terms = docTf.crossJoin(broadcast(classes.select(
        col("_cl"), col("_dflt6"))))
      .join(broadcast(model), Seq("_cl", "_tok"), "left")
      .groupBy(col("_id"), col("_cl"))
      .agg(sum(col("_tf") * d28(coalesce(col("logp"),
        col("_dflt6").cast("double")))).as("_tsum"))
    val base = df.select(col(idCol).as("_id"),
        col(labelCol).cast("string").as("_y"))
      .crossJoin(broadcast(classes.select(col("_cl"), col("_prior6"))))
      .join(terms, Seq("_id", "_cl"), "left")
      .select(col("_id"), col("_y"), col("_cl"),
        (col("_prior6") + coalesce(col("_tsum"),
          lit(BigDecimal(0)).cast("decimal(28,6)"))).as("_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id"))
      .orderBy(col("_score").desc, col("_cl").asc)
    base.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("_id").as(idCol), col("_cl").as("pred"),
        d6(col("_score").cast("double")).as("score"),
        (col("_cl") === col("_y")).cast("int").as("is_correct"))
  }
}

package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.Exact.d28

/** Training-data valuation — which examples HELP. The reference has no
  * model surface at all (sayn delegates SQL; see SURVEY §2e intro);
  * this family turns the engine's embedding/label columns into
  * per-example value scores a curation pipeline can rank and cut by,
  * complementing the influence-free heuristics (Moore–Lewis q274, DSIR
  * q192) with a model-grounded score.
  */
object Valuation {

  /** Exact KNN-Shapley (Jia et al. 2019, PVLDB 12(11) — closed form
    * for the Shapley value of each training point under a KNN utility):
    * for ONE test point with training points ranked by distance
    * α₁ … α_N (nearest first) and m_i = 1[y_{α_i} = y_test],
    *
    *   s_{α_N} = m_N / N
    *   s_{α_i} = s_{α_{i+1}} + (m_i − m_{i+1})·min(K, i)/(K·i)
    *
    * — the O(N log N) recurrence that makes Shapley values (otherwise
    * exponential) computable at corpus scale. Reported per training
    * point: the mean over the test set (d6).
    *
    * Determinism: distances are EXACT integers (quantized q167-style,
    * squared-L2 over longs); ranking ties break by training id; each
    * recurrence increment d6-rounds and the suffix sum runs over
    * decimals, so the whole trajectory is engine-replayable.
    *
    * Scale shape: the test side is a BROADCAST query block (the q17 /
    * q197 discipline: test sets are eval-sized by contract, loud
    * `maxTest` guard); the corpus-sized work is one broadcast
    * nested-loop scoring pass (in-row codegen'd dot products), one
    * per-test-point rank window (keyed, not global), one windowed
    * suffix sum over the same partitioning, and one train-keyed mean.
    * This is the EXACT baseline of its family — at extreme N per test
    * point, feed the ranked frame from ANN candidates instead (the
    * q163/q243 composition), keeping the recurrence unchanged.
    */
  def knnShapley(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      embCol: String,
      labelCol: String,
      k: Int = 5,
      maxTest: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def quant(df: DataFrame, prefix: String): DataFrame =
      df.select(col(idCol).as(s"${prefix}_id"),
        col(labelCol).cast("long").as(s"${prefix}_y"),
        transform(col(embCol), Similarity.quantize(_)).as(s"${prefix}_q"))
    val tr = quant(train, "t")
    val teRaw = quant(test, "e")
    val teCount = teRaw.agg(count(lit(1)).as("_nTest"))
    val te = teRaw.crossJoin(broadcast(teCount))
      .withColumn("e_y",
        when(col("_nTest") <= maxTest.toLong, col("e_y"))
          .otherwise(raise_error(concat(
            lit(s"knnShapley: test set larger than maxTest=$maxTest ("),
            col("_nTest").cast("string"),
            lit(") — sample it or raise the bound"))).cast("long")))
      .drop("_nTest")
    val dist2 = aggregate(
      zip_with(col("t_q"), col("e_q"), (a, b) =>
        ((a - b) * (a - b)).cast("decimal(38,0)")),
      lit(0L).cast("decimal(38,0)"),
      (acc, v) => (acc + v).cast("decimal(38,0)"))
    val pairs = tr.crossJoin(broadcast(te))
      .select(col("t_id"), col("e_id"),
        (col("t_y") === col("e_y")).cast("long").as("_m"),
        dist2.as("_d2"))
    val wRank = Window.partitionBy(col("e_id"))
      .orderBy(col("_d2").asc, col("t_id").asc)
    val ranked = pairs
      .withColumn("_i", row_number().over(wRank))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("e_id"))))
    // recurrence increment between rank i and i+1 (0 at the base rank
    // N). Quantization is floor(x·10⁶ + 0.5) — the q329 convention —
    // NOT a decimal cast: increments like ±min(K,i)/(K·i) hit
    // binary-exact half values (e.g. 1/128 · 1 = 0.0078125) where
    // HALF_UP and half-even engines disagree; floor is unambiguous.
    def r6(c: Column): Column =
      (floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
        .cast("decimal(28,6)")
    val wNext = Window.partitionBy(col("e_id")).orderBy(col("_i").asc)
    val mNext = lead(col("_m"), 1).over(wNext)
    val incr = when(col("_i") < col("_n"),
        r6(((col("_m") - mNext).cast("double") *
          least(lit(k.toLong), col("_i").cast("long")).cast("double")) /
          (lit(k.toDouble) * col("_i").cast("double"))))
      .otherwise(lit(BigDecimal(0)).cast("decimal(28,6)"))
    val base = r6(col("_m").cast("double") / col("_n").cast("double"))
    val withIncr = ranked.select(col("t_id"), col("e_id"), col("_i"),
      col("_n"), incr.as("_inc"),
      max(when(col("_i") === col("_n"), base))
        .over(Window.partitionBy(col("e_id"))).as("_sBase"))
    // s_i = s_N + Σ_{j=i}^{N−1} inc_j : suffix sum over rank desc
    val wSuffix = Window.partitionBy(col("e_id"))
      .orderBy(col("_i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perPair = withIncr
      .withColumn("_s", col("_sBase") + sum(col("_inc")).over(wSuffix))
    perPair.groupBy(col("t_id").as(idCol))
      .agg(count(lit(1)).as("n_test"),
        sum(d28(col("_s"))).as("_sv"))
      .select(col(idCol), col("n_test"),
        // floor-convention here too: Σs/n lands on exact half values
        // (the decimal sum has 6 dp), where decimal-cast engines
        // disagree; floor over the identical double is unambiguous
        r6(col("_sv").cast("double") / col("n_test").cast("double"))
          .cast("double").as("shapley"))
  }
}

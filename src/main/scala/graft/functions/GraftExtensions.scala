package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Spark-native registration of graft's custom Catalyst expressions as
  * SQL functions, so `spark.sql("... simhash64(split(text, ' ')) ...")`
  * works anywhere the Column API does — the `SparkSessionExtensions`
  * integration point for engine libraries (the same mechanism
  * Delta/Iceberg use):
  *
  *   - builder path: `withExtensions(new GraftExtensions)` on a
  *     session builder, or `--conf spark.sql.extensions=
  *     graft.functions.GraftExtensions` (zero-arg class, conf-loadable);
  *   - live path: [[GraftExtensions.install]] registers the same
  *     functions on an already-built session (sayn-style embedders get
  *     their session from the host app).
  *
  * Both paths share one descriptor list, so SQL and Column callers hit
  * the identical codegen'd expression — not a UDF shadow.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // flag-gated rewrites (no-ops unless the session opts in)
    ext.injectOptimizerRule(ApproxDistinctRewrite)
    // planner strategy for graft's custom logical nodes (TopKPerKey)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {

  private def one(name: String)(f: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name),
      args => {
        if (args.length != 1) throw new IllegalArgumentException(
          s"$name takes exactly 1 argument, got ${args.length}")
        f(args.head)
      })

  private def two(name: String)(f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name),
      args => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"$name takes exactly 2 arguments, got ${args.length}")
        f(args(0), args(1))
      })

  /** One descriptor per custom expression; the single source for both
    * registration paths.
    */
  val descriptors: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    one("simhash64")(SimHash64(_)),
    one("byte_entropy")(ByteEntropy(_)),
    one("nfc_normalize")(NfcNormalize(_)),
    one("accent_strip")(AccentStrip(_)),
    one("script_counts")(ScriptCounts(_)),
    one("lz78_phrases")(Lz78Phrases(_)),
    two("long_array_dot")(LongArrayDot(_, _)),
    two("jaro_winkler")(JaroWinkler(_, _)))

  /** Register on a live session (idempotent: re-registration replaces,
    * and the optimizer rule is appended once). The rule goes through
    * `spark.experimental.extraOptimizations` — the live-session analog
    * of `injectOptimizerRule` for sessions the caller didn't build.
    */
  def install(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, builder) =>
      GraftSqlBridge.registerFunction(spark, id, info, builder)
    }
    // extraOptimizations/extraStrategies are plain vars on the session:
    // serialize the check-then-append so concurrent install() calls
    // can't double-register or drop each other's entry
    GraftExtensions.synchronized {
      val existing = spark.experimental.extraOptimizations
      if (!existing.exists(_.isInstanceOf[ApproxDistinctRewrite]))
        spark.experimental.extraOptimizations =
          existing :+ ApproxDistinctRewrite(spark)
      val strategies = spark.experimental.extraStrategies
      if (!strategies.exists(_ eq graft.plans.TopKStrategy))
        spark.experimental.extraStrategies =
          strategies :+ graft.plans.TopKStrategy
    }
  }
}

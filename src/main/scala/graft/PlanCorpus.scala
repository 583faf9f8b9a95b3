package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import scala.util.Try

/** One corpus entry, built once and planned under the static-plan
  * convention of [[PlanCorpus]].
  */
final class PlannedEntry private[graft] (df: DataFrame) {

  /** The AQE-off query execution; its `executedPlan` is already planned. */
  val execution: QueryExecution = PlanCorpus.staticExecution(df)

  /** The executed plan followed by every subquery plan. */
  def plans: Seq[SparkPlan] = PlanCorpus.withSubqueries(execution.executedPlan)

  /** The same analyzed plan re-planned with auto-broadcast off, so the
    * only broadcasts left are the code's explicit `broadcast()` hints.
    * The entry is not rebuilt.
    */
  lazy val plansNoAutoBroadcast: Seq[SparkPlan] =
    PlanCorpus.staticPlans(df, PlanCorpus.noAutoBroadcast)
}

/** The static physical plans of the corpus entries, under one convention:
  * the `executedPlan` with AQE off (the exchanges EnsureRequirements
  * inserts are present, and no adaptive wrapper hides them) plus every
  * subquery plan. A plan is always taken by re-planning the frame's
  * analyzed logical plan with `sessionState.executePlan`, so it does not
  * depend on the settings the frame was built under, and a temp view
  * the build dropped again is not looked up twice. `graft.Explain`
  * prints from here, and the plan-law suites read the same plans.
  */
object PlanCorpus {

  /** Auto-broadcast off: only explicit `broadcast()` hints broadcast. */
  val noAutoBroadcast: (String, String) =
    "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** The entries that write no tables while they are built, by name. */
  def readOnly: Seq[String] =
    SparkEntry.queries.keys.filterNot(SparkEntry.mutating).toSeq.sorted

  /** Builds each named entry once with `build` and plans it. A failure to
    * build or plan becomes that entry's `Failure`; the rest go on.
    */
  def plan(names: Seq[String])(build: String => DataFrame)
      : Iterator[(String, Try[PlannedEntry])] =
    names.iterator.map(n => n -> Try(new PlannedEntry(build(n))))

  /** `df`'s analyzed plan planned with AQE off (and `conf` set), the
    * executed plan forced before the settings are restored.
    */
  def staticExecution(df: DataFrame, conf: (String, String)*)
      : QueryExecution = {
    val spark = df.sparkSession
    val settings = ("spark.sql.adaptive.enabled" -> "false") +: conf
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val qe = spark.sessionState.executePlan(df.queryExecution.analyzed)
      qe.executedPlan
      qe
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The static plans of `df`: its executed plan and every subquery plan. */
  def staticPlans(df: DataFrame, conf: (String, String)*): Seq[SparkPlan] =
    withSubqueries(staticExecution(df, conf: _*).executedPlan)

  private[graft] def withSubqueries(p: SparkPlan): Seq[SparkPlan] =
    p +: p.subqueriesAll
}

package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.state.StateStore
import scala.util.{Failure, Success}

/** Plan-inspection tool: prints the formatted static physical plan (the
  * AQE-off executed plan of [[PlanCorpus]], the one the plan laws check)
  * for the named queries (all non-mutating ones, when none given) at
  * SPARK_GRAFT_SF_DIR. The mutating ETL entries run real table writes
  * during DataFrame construction, so they are excluded unless named
  * explicitly. What to look for: PushedFilters/ReadSchema on scans,
  * exchanges, broadcast vs shuffled joins, and WholeStageCodegen span
  * width.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local()
    val names = if (args.nonEmpty) args.toSeq else PlanCorpus.readOnly
    PlanCorpus.plan(names)(SparkEntry.queries(_)(spark, sfDir)).foreach {
      case (n, planned) =>
        println(s"\n==== $n ====")
        planned match {
          case Success(e) => println(e.execution.explainString(FormattedMode))
          case Failure(e) => println(s"failed: ${e.getMessage}")
        }
    }
    // the streaming entries leave StateStore maintenance scheduled; stop
    // it first, or it can fire after the SparkEnv is gone
    StateStore.stop()
    spark.stop()
  }
}

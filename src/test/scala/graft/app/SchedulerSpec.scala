package graft.app

import graft.SparkSpec
import graft.core.DbObjectCompiler
import graft.core.Result.Result
import graft.core.TaskFailed
import graft.db.SparkDatabase
import graft.tasks.{RunArguments, TaskContext, TaskStatus, UserTask}
import scala.collection.mutable

/** The one scheduler behaves the same at every `jobs` value: same skip
  * rule, same statuses, same `[i/n]` numbering.
  */
class SchedulerSpec extends SparkSpec {

  lazy val db = new SparkDatabase(spark)

  private class Capture extends EventListener {
    val events = mutable.ArrayBuffer.empty[RunEvent]
    override def onEvent(e: RunEvent): Unit = synchronized { events += e }
  }

  private object Boom extends UserTask {
    override def run(ctx: TaskContext): Result[Unit] = Left(TaskFailed("boom"))
  }

  private def task(name: String, typ: String, parents: String*) =
    TaskSpec(name, "g", Map("type" -> typ) ++
      (if (parents.nonEmpty) Map("parents" -> parents) else Map.empty))

  private def run(
      specs: Seq[TaskSpec], args: RunArguments): (RunReport, Seq[RunEvent]) = {
    val cap = new Capture
    val app = new App(db, new DbObjectCompiler("spark"),
      userTasks = Map("c_rtbad" -> Boom))
    val Right(report) = app.run(specs, args, Tracker(cap))
    (report, cap.events.toSeq)
  }

  test("a config-failed parent outside the selection skips its child at any jobs") {
    val specs = Seq(task("a_cfgbad", "nope"), task("b_child", "dummy", "a_cfgbad"))
    for (jobs <- Seq(1, 4)) {
      val (report, _) = run(specs, RunArguments(include = Seq("b_child"), jobs = jobs))
      assert(report.order == Seq("b_child"))
      assert(report.statuses("b_child") == TaskStatus.Skipped, s"jobs = $jobs")
    }
  }

  test("jobs = 1 event sequence; jobs = 4 gives the same statuses and indices") {
    val specs = Seq(
      task("a_cfgbad", "nope"),
      task("b_ok", "dummy"),
      task("c_rtbad", "user"),
      task("d_child", "dummy", "c_rtbad"),
      task("e_ok", "dummy", "b_ok"))
    def trace(events: Seq[RunEvent]) = events.collect {
      case RunEvent.TaskStarted(t, i, n, _) => s"start:$t:$i/$n"
      case RunEvent.TaskFinished(t, s, _, _, _) => s"finish:$t:$s"
    }
    val (serial, serialEvents) = run(specs, RunArguments(jobs = 1))
    assert(trace(serialEvents) == Seq(
      "finish:a_cfgbad:failed", "start:b_ok:2/5", "finish:b_ok:succeeded",
      "start:c_rtbad:3/5", "finish:c_rtbad:failed", "finish:d_child:skipped",
      "start:e_ok:5/5", "finish:e_ok:succeeded"))
    val (par, parEvents) = run(specs, RunArguments(jobs = 4))
    assert(par.statuses == serial.statuses)
    def starts(events: Seq[String]) = events.filter(_.startsWith("start:")).toSet
    assert(starts(trace(parEvents)) == starts(trace(serialEvents)))
  }
}

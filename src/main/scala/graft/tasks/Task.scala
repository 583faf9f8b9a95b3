package graft.tasks

import graft.core.{Compiler, ConfigError, DbObject, DbObjectCompiler, Result}
import graft.core.Result.Result
import graft.db.SparkDatabase
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task lifecycle states (sayn/tasks/task.py:13-28). */
sealed abstract class TaskStatus(val name: String)
object TaskStatus {
  case object Configuring extends TaskStatus("configuring")
  case object ReadyForSetup extends TaskStatus("ready_for_setup")
  case object SettingUp extends TaskStatus("setting_up")
  case object Ready extends TaskStatus("ready")
  case object Executing extends TaskStatus("executing")
  case object Succeeded extends TaskStatus("succeeded")
  case object Failed extends TaskStatus("failed")
  case object Skipped extends TaskStatus("skipped")
  case object NotInQuery extends TaskStatus("not_in_query")
}

/** Arguments of one engine invocation (sayn/cli.py:253-289 defaults:
  * start/end = yesterday).
  */
final case class RunArguments(
    command: String = "run", // run | compile | test
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    fullLoad: Boolean = false,
    startDt: String = java.time.LocalDate.now().minusDays(1).toString,
    endDt: String = java.time.LocalDate.now().minusDays(1).toString,
    withTests: Boolean = false,
    failFast: Boolean = false,
    upstreamProd: Boolean = false,
    profile: Option[String] = None,
    debug: Boolean = false,
    /** Concurrent task slots. 1 = the reference's strictly-serial order
      * (app.py:611-654); >1 runs independent DAG branches as concurrent
      * Spark jobs — on a large cluster serial task order leaves executors
      * idle whenever a branch doesn't saturate the cluster.
      */
    jobs: Int = 1)

/** Everything a task runner sees: the Spark warehouse handle, the template
  * compiler, object resolution with lineage capture, and run parameters.
  * The reference's equivalent is the wiring in TaskWrapper.config +
  * the src/out Jinja globals (sayn/tasks/task_wrapper.py:128-249, 438-457).
  */
final class TaskContext(
    val name: String,
    val group: String,
    val db: SparkDatabase,
    val objects: DbObjectCompiler,
    val parameters: Map[String, Any],
    val runArgs: RunArguments,
    val tracker: TaskTracker = null,
    val compileDir: Option[java.nio.file.Path] = None,
    val templateLoader: String => Option[String] = _ => None) {

  /** Step/progress API (python.py:91-114); defaults to a no-op sink. */
  val track: TaskTracker =
    if (tracker != null) tracker else TaskTracker.noop(name)

  def spark: SparkSession = db.spark

  /** Objects this task reads / writes — populated by src()/out() side
    * effects during compilation, then used for implicit DAG edges
    * (sayn/core/app.py:419-432).
    */
  val sources: mutable.LinkedHashSet[DbObject] = mutable.LinkedHashSet.empty
  val outputs: mutable.LinkedHashSet[DbObject] = mutable.LinkedHashSet.empty

  /** Template globals (sayn/utils/compiler.py:33-37). */
  def templateParams: Map[String, Any] = parameters ++ Map(
    "full_load" -> runArgs.fullLoad,
    "start_dt" -> runArgs.startDt,
    "end_dt" -> runArgs.endDt,
    "task" -> Map("name" -> name, "group" -> group))

  /** Resolve + record a source reference (task_wrapper.py:438-447). */
  def src(obj: String): Result[String] =
    objects.fromString(obj).map { o =>
      sources += o
      objects.srcValue(o)
    }

  /** Resolve + record an output reference (task_wrapper.py:449-457). */
  def out(obj: String): Result[String] =
    objects.fromString(obj).map { o =>
      outputs += o
      objects.outValue(o)
    }

  /** Standard column tests with the debug-dump UX: on failure under
    * `--debug`, the FULL violation report (not just the 5-row sample in
    * the error) is written as headered CSV to
    * `compile/<group>/<task>_violations` — the engine analog of the
    * reference's diagnostic SELECT (standard_test_output.sql).
    */
  def standardTests(tableName: String, ddl: graft.db.Ddl): Result[Unit] = {
    val result = db.standardTests(tableName, ddl)
    if (result.isLeft && runArgs.debug)
      for {
        dir <- compileDir
        report <- db.violationReport(db.spark.table(tableName), ddl)
      } {
        val out = dir.resolve(group).resolve(s"${name}_violations")
        report.coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(out.toString)
        track.info(s"wrote full violation report to $out")
      }
    result
  }

  /** Compile a template with src/out wired in; config() kwargs (if any)
    * flow to `onConfig` on the first pass only.
    */
  def compile(
      template: String,
      allowConfig: Boolean = false,
      onConfig: Map[String, Any] => Unit = _ => ()): Result[String] = {
    var err: Option[graft.core.GraftError] = None
    def trap(f: String => Result[String])(s: String): String =
      f(s) match {
        case Right(v) => v
        case Left(e) => err = Some(e); s
      }
    val result = Compiler.compile(
      template,
      Compiler.Context(
        params = templateParams,
        src = trap(src),
        out = trap(out),
        config = onConfig,
        allowConfig = allowConfig,
        warn = track.warn,
        loader = templateLoader))
    err.map(Left(_)).getOrElse(result)
  }
}

/** A task runner: the engine's unit of work
  * (sayn/tasks/task.py:31-98 lifecycle config → setup → run/compile/test).
  */
trait TaskRunner {
  def config(ctx: TaskContext, cfg: Map[String, Any]): Result[Unit]
  def setup(): Result[Unit] = Right(())
  def run(): Result[Unit]
  /** compile-only command: render SQL without executing. */
  def compile(): Result[Seq[(String, String)]] = Right(Nil)
  def test(): Result[Unit] = Right(())
  /** `run --with-tests`: run, then test once run succeeds. */
  def runWithTests(): Result[Unit] = run().flatMap(_ => test())
}

/** No-op DAG node (sayn/tasks/dummy.py). */
final class DummyTask extends TaskRunner {
  override def config(ctx: TaskContext, cfg: Map[String, Any]): Result[Unit] = Right(())
  override def run(): Result[Unit] = Right(())
}

/** The reference's `python` task re-expressed as a Scala trait
  * (sayn/tasks/python.py:15-29, 91-114, 231-246): user code gets the full
  * TaskContext (SparkSession, loadData, params, src/out) instead of a
  * SQLAlchemy handle.
  */
trait UserTask {
  /** Parameters this task requires from project/profile/task YAML — the
    * engine analog of the reference injecting parameters *by argument
    * name* into the python callable (sayn/tasks/python.py:91-114): a
    * python function with a `foo` argument fails loudly when no `foo`
    * exists, so declared names here are validated at config time instead
    * of surfacing as a None mid-run.
    */
  def requiredParameters: Seq[String] = Nil
  def setup(ctx: TaskContext): Result[Unit] = Right(())
  def run(ctx: TaskContext): Result[Unit]
  def test(ctx: TaskContext): Result[Unit] = Right(())
}

/** Adapter running a registered UserTask through the runner lifecycle. */
final class UserTaskRunner(userTask: UserTask) extends TaskRunner {
  private var ctx: TaskContext = _
  override def config(ctx: TaskContext, cfg: Map[String, Any]): Result[Unit] = {
    this.ctx = ctx
    val missing = userTask.requiredParameters.filterNot(ctx.parameters.contains)
    if (missing.nonEmpty)
      return Left(ConfigError(s"task ${ctx.name}: missing required " +
        s"parameter(s) ${missing.mkString(", ")} (declare in project/profile " +
        "parameters, task parameters, or GRAFT_PARAMETER_* env)"))
    // declared sources/outputs make lineage explicit for python-ish tasks
    cfg.get("sources").toSeq.flatMap(asSeq).foldLeft(Right(()): Result[Unit]) {
      (acc, s) => acc.flatMap(_ => ctx.src(s.toString).map(_ => ()))
    }.flatMap { _ =>
      cfg.get("outputs").toSeq.flatMap(asSeq).foldLeft(Right(()): Result[Unit]) {
        (acc, s) => acc.flatMap(_ => ctx.out(s.toString).map(_ => ()))
      }
    }
  }
  private def asSeq(v: Any): Seq[Any] = v match {
    case xs: Seq[_] => xs
    case xs: java.util.List[_] => xs.toArray.toSeq
    case one => Seq(one)
  }
  override def setup(): Result[Unit] = userTask.setup(ctx)
  override def run(): Result[Unit] = userTask.run(ctx)
  override def test(): Result[Unit] = userTask.test(ctx)
}

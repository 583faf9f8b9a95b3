package graft.tasks

import graft.core.{ConfigError, Result}
import graft.core.Result.Result
import graft.db.Ddl

/** Data-quality test task (sayn/tasks/test.py): either a custom SQL SELECT
  * that must return no rows, or standard column tests against a table.
  * Runs on both `run` and `test` commands, like the reference.
  */
final class TestTask extends TaskRunner {

  private var ctx: TaskContext = _
  private var customSql: Option[String] = None
  private var tableRefRaw: Option[String] = None
  private var table: Option[String] = None
  private var ddl: Ddl = Ddl.empty

  override def config(ctx: TaskContext, cfg: Map[String, Any]): Result[Unit] = {
    this.ctx = ctx
    customSql = cfg.get("sql").orElse(cfg.get("file_contents")).map(_.toString)
    val tableRef = cfg.get("table").map(_.toString)
    Ddl.fromConfig(cfg, ctx.track.warn).flatMap { d =>
      ddl = d
      (customSql, tableRef) match {
        case (Some(_), _) => Right(())
        case (None, Some(t)) =>
          if (ddl.columnsWithTests.isEmpty)
            Left(ConfigError(s"task ${ctx.name}: test task on a table needs column tests"))
          else ctx.src(t).map { resolved =>
            tableRefRaw = Some(t)
            table = Some(resolved)
          }
        case (None, None) =>
          Left(ConfigError(s"task ${ctx.name}: test task needs sql or table+columns"))
      }
    }
  }

  /** Re-resolve the tested table so `--upstream-prod` (marked after all
    * configs; app.py:503-511) applies to names captured during config().
    */
  override def setup(): Result[Unit] =
    tableRefRaw match {
      case Some(t) => ctx.src(t).map { resolved => table = Some(resolved) }
      case None => Right(())
    }

  private def execute(): Result[Unit] =
    customSql match {
      case Some(sqlTemplate) =>
        ctx.compile(sqlTemplate).flatMap(ctx.db.customTest)
      case None =>
        ctx.standardTests(table.get, ddl)
    }

  override def run(): Result[Unit] = execute()
  override def test(): Result[Unit] = execute()
  /** The test is the task's run: under `run --with-tests` its query runs
    * once, not once for run and again for test.
    */
  override def runWithTests(): Result[Unit] = execute()

  override def compile(): Result[Seq[(String, String)]] =
    customSql match {
      case Some(sqlTemplate) => ctx.compile(sqlTemplate).map(s => Seq(("test", s)))
      case None => Right(Nil)
    }
}

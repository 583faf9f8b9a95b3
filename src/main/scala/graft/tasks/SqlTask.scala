package graft.tasks

import graft.core.{ConfigError, Result}
import graft.core.Result.Result
import graft.db.Ddl
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

/** The `autosql`/`sql` task family: a templated SELECT (or script)
  * materialised as view / table / incremental merge / raw script
  * (sayn/tasks/autosql.py, sayn/tasks/sql.py).
  *
  * `isAutoSql = true`  → autosql semantics: SELECT + required
  *                       materialisation table|view|incremental.
  * `isAutoSql = false` → sql semantics: default materialisation `script`
  *                       (multi-statement, executed verbatim).
  */
final class SqlTask(isAutoSql: Boolean) extends TaskRunner {

  private var ctx: TaskContext = _
  private var template: String = _
  private var materialisation: String = _
  private var destination: Option[String] = None // raw object string
  private var resolvedDst: String = _ // physical name
  private var deleteKey: Option[String] = None
  private var ddl: Ddl = Ddl.empty

  /** config() macro overrides surfaced to the wrapper (tags/parents/on_fail
    * handled there; sayn/tasks/autosql.py:241-288).
    */
  var configOverrides: Map[String, Any] = Map.empty

  override def config(ctx: TaskContext, cfg: Map[String, Any]): Result[Unit] = {
    this.ctx = ctx
    template = cfg.get("sql").orElse(cfg.get("file_contents")).map(_.toString).getOrElse("")
    if (template.isEmpty)
      return Left(ConfigError(s"task ${ctx.name}: missing sql"))
    materialisation = cfg.get("materialisation").map(_.toString)
      .getOrElse(if (isAutoSql) "" else "script")
    destination = cfg.get("destination").map(_.toString)
    deleteKey = cfg.get("delete_key").map(_.toString)

    // first compile: collects src()/out() lineage + config() overrides
    // (autosql.py:170-179; the allow_config latch, sql.py:159-165)
    val firstPass = ctx.compile(template, allowConfig = true, onConfig = { kw =>
      configOverrides = kw
      kw.get("materialisation").foreach(m => materialisation = m.toString)
      kw.get("destination").foreach(d => destination = Some(d.toString))
      kw.get("delete_key").foreach(k => deleteKey = Some(k.toString))
    })

    firstPass.flatMap { _ =>
      validate().flatMap { _ =>
        Ddl.fromConfig(cfg, ctx.track.warn).flatMap { d =>
          ddl = d
          // yaml values are templated too (task_wrapper.py:128-249), then
          // the destination resolves through out() (autosql.py:184-210)
          destination match {
            case Some(dst) =>
              ctx.compile(dst).flatMap(ctx.out).map { resolved => resolvedDst = resolved }
            case None if materialisation == "script" => Right(())
            case None =>
              Left(ConfigError(s"task ${ctx.name}: missing destination"))
          }
        }
      }
    }
  }

  private def validate(): Result[Unit] =
    materialisation match {
      case "incremental" if deleteKey.isEmpty =>
        Left(ConfigError(s"task ${ctx.name}: incremental materialisation requires delete_key"))
      case "table" | "view" if deleteKey.nonEmpty =>
        Left(ConfigError(s"task ${ctx.name}: delete_key is only valid for incremental"))
      case "script" if isAutoSql =>
        Left(ConfigError(s"task ${ctx.name}: autosql does not support script materialisation"))
      case "table" | "view" | "incremental" | "script" => Right(())
      case other =>
        Left(ConfigError(s"task ${ctx.name}: unknown materialisation '$other'"))
    }

  /** Recompile with final names; config() is inert on later passes. */
  private def recompile(): Result[String] =
    ctx.compile(template)

  override def setup(): Result[Unit] = recompile().map(_ => ())

  /** Materialisation dispatch (sayn/tasks/sql.py:368-442,
    * autosql.py:311-372): view → replace view; incremental with a missing /
    * full-load destination → full refresh; incremental → merge;
    * table → full refresh; script → execute statements.
    */
  override def run(): Result[Unit] = {
    ctx.track.startStep("compile")
    val out = recompile().flatMap { sql =>
      // step names mirror the reference's run steps (autosql.py:311-372)
      materialisation match {
        case "view" =>
          ctx.track.startStep("create_view")
          ctx.db.replaceView(resolvedDst, sql, ddl)
        case "script" =>
          ctx.track.startStep("execute_sql")
          ctx.db.execute(sql)
        case "incremental" if ctx.runArgs.fullLoad =>
          ctx.track.startStep("load_table")
          ctx.db.replaceTable(resolvedDst, sql, ddl)
        case "incremental" =>
          // one catalog fetch decides, and the write reuses it
          Result.attempt(ctx.db.destination(resolvedDst)).flatMap {
            case Some(t) if t.tableType != CatalogTableType.VIEW =>
              ctx.track.startStep("merge_table")
              ctx.db.mergeQuery(resolvedDst, sql, deleteKey.get, ddl, t)
            case current =>
              ctx.track.startStep("load_table")
              ctx.db.replaceTable(resolvedDst, sql, ddl, current)
          }
        case "table" =>
          ctx.track.startStep("load_table")
          ctx.db.replaceTable(resolvedDst, sql, ddl)
      }
    }
    ctx.track.finishCurrentStep(out.isRight)
    out
  }

  override def compile(): Result[Seq[(String, String)]] =
    recompile().map(sql => Seq((materialisation, sql)))

  /** Standard column tests declared in the DDL (run with `--with-tests`
    * or the `test` command; sayn/database/__init__.py:239-297).
    */
  override def test(): Result[Unit] =
    if (ddl.columnsWithTests.isEmpty || materialisation == "script") Right(())
    else ctx.standardTests(resolvedDst, ddl)
}

package graft.app

import graft.core._
import graft.core.Result.Result
import graft.db.SparkDatabase
import graft.tasks._
import scala.collection.mutable
import scala.util.control.NonFatal

/** One task declaration: `cfg` carries the YAML-shaped map including
  * `type`, `parents`, `tags`, `on_fail` and type-specific keys.
  */
final case class TaskSpec(name: String, group: String, cfg: Map[String, Any])

/** Execution report: statuses in execution order + failures. */
final case class RunReport(
    order: Seq[String],
    statuses: Map[String, TaskStatus],
    errors: Map[String, GraftError]) {
  def succeeded: Boolean = !statuses.values.exists(_ == TaskStatus.Failed)
  def summary: String =
    order.map(n => s"$n=${statuses(n).name}").mkString(", ")
}

/** Task lifecycle holder (sayn/tasks/task_wrapper.py): owns the runner,
  * status transitions, lineage and skip logic.
  */
final class TaskWrapper(
    val spec: TaskSpec,
    db: SparkDatabase,
    objects: DbObjectCompiler,
    parameters: Map[String, Any],
    args: RunArguments,
    userTasks: Map[String, UserTask],
    tracker: Tracker = Tracker.noop,
    compileDir: Option[java.nio.file.Path] = None,
    templateLoader: String => Option[String] = _ => None) {

  var status: TaskStatus = TaskStatus.Configuring
  var runner: TaskRunner = _
  var ctx: TaskContext = _
  var error: Option[GraftError] = None

  def name: String = spec.name
  def group: String = spec.group

  private def cfgSeq(key: String): Seq[String] =
    spec.cfg.get(key).map {
      case xs: Seq[_] => xs.map(_.toString)
      case xs: java.util.List[_] => xs.toArray.map(_.toString).toSeq
      case one => Seq(one.toString)
    }.getOrElse(Nil)

  var explicitParents: Seq[String] = Nil
  var tags: Seq[String] = Nil
  var onFail: String = "skip" // skip | no_skip (task_wrapper.py:269-300)

  /** Instantiate + configure the runner; compiles SQL and collects
    * src/out lineage (task_wrapper.py:128-249).
    */
  def config(): Result[Unit] = {
    explicitParents = cfgSeq("parents")
    tags = cfgSeq("tags")
    onFail = spec.cfg.get("on_fail").map(_.toString).getOrElse("skip")

    val taskParams = spec.cfg.get("parameters") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    ctx = new TaskContext(name, group, db, objects, parameters ++ taskParams,
      args, tracker.task(name), compileDir, templateLoader)

    val taskType = spec.cfg.get("type").map(_.toString).getOrElse("")
    val made: Result[TaskRunner] = taskType match {
      case "autosql" => Right(new SqlTask(isAutoSql = true))
      case "sql" => Right(new SqlTask(isAutoSql = false))
      case "copy" => Right(new CopyTask)
      case "test" => Right(new TestTask)
      case "dummy" => Right(new DummyTask)
      case "user" | "python" =>
        val key = spec.cfg.get("class").map(_.toString).getOrElse(name)
        userTasks.get(key) match {
          case Some(ut) => Right(new UserTaskRunner(ut))
          case None => Left(ConfigError(s"task $name: no registered user task '$key'"))
        }
      case other => Left(ConfigError(s"task $name: unknown task type '$other'"))
    }

    val result = made.flatMap { r =>
      runner = r
      // a runner that throws on a malformed value (`append: maybe`,
      // `ddl.buckets: x`) fails this task's config, not the whole run
      val configured =
        try r.config(ctx, spec.cfg)
        catch { case NonFatal(e) => Left(ConfigError(s"task $name: invalid config: $e")) }
      configured.map { _ =>
        // config() macro may add parents/tags (autosql.py:241-288)
        r match {
          case s: SqlTask =>
            explicitParents ++= s.configOverrides.get("parents").toSeq.flatMap {
              case xs: Seq[_] => xs.map(_.toString)
              case one => Seq(one.toString)
            }
            tags ++= s.configOverrides.get("tags").toSeq.flatMap {
              case xs: Seq[_] => xs.map(_.toString)
              case one => Seq(one.toString)
            }
            s.configOverrides.get("on_fail").foreach(v => onFail = v.toString)
          case _ =>
        }
      }
    }
    result match {
      case Right(_) => status = TaskStatus.ReadyForSetup; Right(())
      case Left(e) => status = TaskStatus.Failed; error = Some(e); Left(e)
    }
  }
}

/** The engine application: configure tasks, assemble the DAG (explicit +
  * implicit output→source edges), filter with the task query, then run
  * the selection in topo order with skip propagation — the Spark
  * re-expression of sayn/core/app.py:126-654. One scheduler serves every
  * `jobs` value: `jobs = 1` is the reference's serial loop
  * (app.py:611-654) and `jobs > 1` runs independent tasks concurrently
  * under the same skip rule and the same `[i/n]` numbering.
  */
final class App(
    val db: SparkDatabase,
    val objects: DbObjectCompiler,
    val parameters: Map[String, Any] = Map.empty,
    val userTasks: Map[String, UserTask] = Map.empty,
    val compileDir: Option[java.nio.file.Path] = None,
    val templateLoader: String => Option[String] = _ => None) {

  /** Configure all tasks and assemble the validated DAG (explicit +
    * implicit output→source edges, app.py:419-432). Shared by `run` and
    * `dag` (the dag-image command). Orphan sources are fine — they read
    * pre-existing tables.
    */
  private def configure(
      specs: Seq[TaskSpec], args: RunArguments, tracker: Tracker):
      Result[(Seq[TaskWrapper], Map[String, TaskWrapper], Map[String, Seq[String]])] = {
    val wrappers = specs.map(s =>
      new TaskWrapper(s, db, objects, parameters, args, userTasks, tracker,
        compileDir, templateLoader))
    val byName = wrappers.map(w => w.name -> w).toMap
    if (byName.size != wrappers.size) {
      val dups = wrappers.groupBy(_.name).collect { case (n, ws) if ws.size > 1 => n }
      return Left(ConfigError(s"duplicate task names: ${dups.toSeq.sorted.mkString(", ")}"))
    }
    wrappers.foreach(_.config())

    val producers: Map[String, String] = (for {
      w <- wrappers if w.ctx != null
      o <- w.ctx.outputs
    } yield o.key -> w.name).toMap

    val dagMap: Map[String, Seq[String]] = wrappers.map { w =>
      val implicitParents =
        if (w.ctx == null) Nil
        else w.ctx.sources.toSeq.flatMap(o => producers.get(o.key)).filter(_ != w.name)
      val known = (w.explicitParents ++ implicitParents).distinct
      w.name -> known
    }.toMap

    Dag.validate(dagMap).map(_ => (wrappers, byName, dagMap))
  }

  /** The validated task DAG (name → parents) without executing anything —
    * feeds the CLI `dag-image` command (sayn/cli.py:331).
    */
  def dag(specs: Seq[TaskSpec], args: RunArguments = RunArguments()):
      Result[Map[String, Seq[String]]] =
    configure(specs, args, Tracker.noop).map(_._3)

  def run(
      specs: Seq[TaskSpec],
      args: RunArguments = RunArguments(),
      tracker: Tracker = Tracker.noop): Result[RunReport] = {
    val runT0 = Tracker.now()
    configure(specs, args, tracker).flatMap { case (wrappers, byName, dag) =>
    for {
      meta <- Right(wrappers.map(w => w.name -> TaskQuery.TaskMeta(w.group, w.tags)).toMap)
      q <- TaskQuery.getQuery(meta, args.include, args.exclude)
      selected <- TaskQuery.apply(dag, q._1, q._2)
    } yield {
      val selectedSet = selected.toSet
      wrappers.foreach { w =>
        if (!selectedSet.contains(w.name) && w.status != TaskStatus.Failed)
          w.status = TaskStatus.NotInQuery
      }

      // 3. upstream-prod: sources not produced by this run read prod names
      // (app.py:503-511)
      if (args.upstreamProd) {
        val produced = selected.flatMap(n => byName(n).ctx.outputs.map(_.key)).toSet
        val external = for {
          n <- selected
          o <- byName(n).ctx.sources if !produced.contains(o.key)
        } yield o
        objects.setSourcesFromProd(external.toSet)
      }

      // 4. setup then execute
      tracker.emit(RunEvent.RunStarted(args.command, selected.size, Tracker.now()))
      val report = execute(selected, byName, dag, args, tracker)
      tracker.emit(RunEvent.RunFinished(
        report.succeeded, Tracker.now() - runT0, Tracker.now()))
      report
    }
    }
  }

  /** Execute one task's configured command on a pool thread. Every Spark
    * job the task triggers runs under a job group named after the task,
    * so the Spark UI / event logs attribute cluster work to engine tasks
    * — the job group is thread-local, so concurrent tasks don't clobber
    * each other's group.
    */
  private def executeOne(w: TaskWrapper, args: RunArguments): Result[Unit] = {
    val sc = db.spark.sparkContext
    sc.setJobGroup(s"graft:${w.name}",
      s"graft ${args.command} ${w.group}/${w.name}", interruptOnCancel = true)
    try w.runner.setup().flatMap { _ =>
      args.command match {
        case "run" =>
          if (args.withTests) w.runner.runWithTests() else w.runner.run()
        case "test" => w.runner.test()
        case "compile" =>
          w.runner.compile().map { steps =>
            compileDir.foreach(writeCompiled(_, w, steps))
          }
        case other =>
          Left(ConfigError(s"unknown command '$other'"))
      }
    } finally sc.clearJobGroup()
  }

  /** The one executor. Pending tasks are scanned in topo order and each
    * is resolved: failed at config, skipped, or launched on a pool of
    * `args.jobs` threads; the scan stops once every slot is taken and
    * resumes after the next completion. At `jobs = 1` this is the
    * reference's serial loop (app.py:611-654); at `jobs > 1` independent
    * tasks run as concurrent Spark jobs, which one SparkSession schedules
    * FIFO across the cluster.
    *
    * Skip rule (task_wrapper.py:269-300): a failed parent without
    * `on_fail: no_skip`, or a skipped parent, skips the child even when
    * that parent is outside the selection. A task waits only on parents
    * in the selection. failFast stops launching after a failure; tasks
    * already running finish.
    */
  private def execute(
      selected: Seq[String],
      byName: Map[String, TaskWrapper],
      dag: Map[String, Seq[String]],
      args: RunArguments,
      tracker: Tracker): RunReport = {
    val position = selected.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val pending = mutable.LinkedHashSet(selected: _*)
    val running = mutable.Set.empty[String]
    var interrupted = false
    val statuses = mutable.Map.empty[String, TaskStatus]
    val errors = mutable.Map.empty[String, GraftError]
    val completion =
      new java.util.concurrent.LinkedBlockingQueue[(String, Result[Unit], Long)]
    val slots = args.jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(slots)

    def finish(w: TaskWrapper, status: TaskStatus,
        err: Option[GraftError], t0: Long): Unit = {
      w.status = status
      statuses(w.name) = status
      err.foreach { e => w.error = Some(e); errors(w.name) = e }
      tracker.emit(RunEvent.TaskFinished(w.name, status.name,
        Tracker.now() - t0, err.map(_.toString), Tracker.now()))
    }
    def blocks(parent: String): Boolean = {
      val p = byName(parent)
      (p.status == TaskStatus.Failed && p.onFail != "no_skip") ||
        p.status == TaskStatus.Skipped
    }
    def waitsOn(parent: String): Boolean =
      pending.contains(parent) || running.contains(parent)

    def scan(): Unit =
      pending.toSeq.iterator.takeWhile(_ => running.size < slots).foreach { name =>
        val w = byName(name)
        val t0 = Tracker.now()
        if (w.status == TaskStatus.Failed) { // config failure
          pending -= name
          finish(w, TaskStatus.Failed, w.error, t0)
        } else if (interrupted || dag(name).exists(blocks)) {
          pending -= name
          finish(w, TaskStatus.Skipped, None, t0)
        } else if (!dag(name).exists(waitsOn)) {
          pending -= name
          running += name
          w.status = TaskStatus.Executing
          tracker.emit(RunEvent.TaskStarted(name, position(name), selected.size, t0))
          pool.execute(() => {
            val r =
              try executeOne(w, args)
              catch { case e: Throwable => Left(TaskFailed(e.toString, Some(e))) }
            completion.put((name, r, t0))
          })
        }
      }

    try {
      scan()
      while (running.nonEmpty) {
        val (name, result, t0) = completion.take()
        running -= name
        result match {
          case Right(_) => finish(byName(name), TaskStatus.Succeeded, None, t0)
          case Left(e) =>
            finish(byName(name), TaskStatus.Failed, Some(e), t0)
            if (args.failFast) interrupted = true
        }
        scan()
      }
    } finally pool.shutdown()
    RunReport(selected, statuses.toMap, errors.toMap)
  }

  /** compile command output: compile/<group>/<task>.sql
    * (sayn/tasks/task.py:321-338).
    */
  private def writeCompiled(
      dir: java.nio.file.Path, w: TaskWrapper, steps: Seq[(String, String)]): Unit = {
    if (steps.nonEmpty) {
      val groupDir = dir.resolve(w.group)
      java.nio.file.Files.createDirectories(groupDir)
      val text = steps.map { case (step, sql) => s"-- step: $step\n$sql" }
        .mkString("\n;\n")
      java.nio.file.Files.writeString(groupDir.resolve(s"${w.name}.sql"), text)
    }
  }
}

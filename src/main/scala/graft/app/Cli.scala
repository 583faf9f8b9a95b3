package graft.app

import graft.core.DbObjectCompiler
import graft.db.SparkDatabase
import graft.tasks.{RunArguments, UserTask}

/** Command-line entry point (sayn/cli.py surface):
  *
  *   run | compile | test | init [NAME] | dag-image
  *     [-t selector ...] [-x selector ...] [-f|--full-load]
  *     [--start-dt D] [--end-dt D] [--profile P] [--with-tests]
  *     [--fail-fast] [-u|--upstream-prod] [--project-dir DIR] [--debug]
  *
  * Exit code 1 when any task fails (cli.py:286-289). Runs log per-task
  * progress to the console and JSONL events to .graft/logs/.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val parsed = parse(args.toList)
    val projectDir = java.nio.file.Paths.get(
      parsed.getOrElse("project-dir", "."))

    if (parsed.get("command").contains("init")) {
      init(projectDir.resolve(parsed.getOrElse("arg", "graft_project")))
      return
    }

    Project.load(projectDir, parsed.get("profile")) match {
      case Left(e) =>
        System.err.println(s"config error: $e")
        sys.exit(1)
      case Right(loaded) =>
        // Hive-backed session catalog so tables/views persist across engine
        // invocations (the warehouse IS the state, like the reference —
        // SURVEY §4). Warehouse + metastore live under the project dir.
        val warehouse = projectDir.resolve(".graft").toAbsolutePath
        val partitions = sys.env.get("GRAFT_SHUFFLE_PARTITIONS").fold(32) { v =>
          v.toIntOption.filter(_ >= 1).getOrElse {
            System.err.println("config error: GRAFT_SHUFFLE_PARTITIONS " +
              s"expects a positive integer, got '$v'")
            sys.exit(1)
          }
        }
        // NOTE: the legacy nanosAsLong conf is deliberately not set:
        // silently reading a user project's TIMESTAMP(NANOS) columns as
        // bigint would change query semantics; the loud Spark error is
        // the better default. (Fixture event-time reads are instead
        // schema-adaptive — queries/Tables.tsUs.)
        val spark = graft.Session
          .builder(sys.env.getOrElse("GRAFT_MASTER", "local[*]"), partitions)
          .appName("graft")
          .config("spark.sql.warehouse.dir", warehouse.resolve("warehouse").toString)
          .config("javax.jdo.option.ConnectionURL",
            s"jdbc:derby:;databaseName=${warehouse.resolve("metastore")};create=true")
          .enableHiveSupport()
          .getOrCreate()
        spark.sparkContext.setLogLevel(
          if (parsed.contains("debug")) "INFO" else "WARN")

        val db = new SparkDatabase(spark)
        val objects = new DbObjectCompiler(
          loaded.defaultDb, loaded.stringify, loaded.prodStringify, loaded.fromProd)
        val runArgs = RunArguments(
          command = parsed.getOrElse("command", "run"),
          include = parsed.get("include").map(_.split(",").toSeq).getOrElse(Nil),
          exclude = parsed.get("exclude").map(_.split(",").toSeq).getOrElse(Nil),
          fullLoad = parsed.contains("full-load"),
          startDt = parsed.getOrElse("start-dt", RunArguments().startDt),
          endDt = parsed.getOrElse("end-dt", RunArguments().endDt),
          withTests = parsed.contains("with-tests"),
          failFast = parsed.contains("fail-fast"),
          upstreamProd = parsed.contains("upstream-prod"),
          profile = parsed.get("profile"),
          debug = parsed.contains("debug"),
          jobs = parsed.get("jobs").map { j =>
            j.toIntOption.filter(_ >= 1).getOrElse {
              System.err.println(
                s"config error: --jobs expects a positive integer, got '$j'")
              spark.stop(); sys.exit(1)
            }
          }.getOrElse(1))

        val app = new App(db, objects, loaded.parameters,
          userTasks = loadUserTasks(),
          compileDir = Some(projectDir.resolve("compile")),
          templateLoader = Project.fileLoader(projectDir))

        if (runArgs.command == "dag-image") {
          app.dag(loaded.specs, runArgs.copy(command = "compile")) match {
            case Left(e) =>
              System.err.println(s"error: $e"); spark.stop(); sys.exit(1)
            case Right(dag) =>
              val dot = projectDir.resolve("dag.dot")
              java.nio.file.Files.writeString(dot, toDot(dag))
              val svg = projectDir.resolve("dag.svg")
              java.nio.file.Files.writeString(svg, toSvg(dag))
              println(s"wrote $svg and $dot " +
                "(dot -Tpng dag.dot -o dag.png for graphviz layout)")
              spark.stop(); return
          }
        }

        // console progress + JSONL file log (sayn/logging analog)
        val logFile = projectDir.resolve(".graft").resolve("logs")
          .resolve(s"${runArgs.command}_${System.currentTimeMillis()}.jsonl")
        val tracker = Tracker(
          // color only on a real terminal: piped/CI output stays plain
          new ConsoleTracker(debug = runArgs.debug,
            color = System.console() != null),
          new FileTracker(logFile))

        val result = app.run(loaded.specs, runArgs, tracker)
        tracker.close()
        result match {
          case Left(e) =>
            System.err.println(s"error: $e")
            spark.stop(); sys.exit(1)
          case Right(report) =>
            report.errors.foreach { case (t, e) => System.err.println(s"  $t: $e") }
            spark.stop()
            sys.exit(if (report.succeeded) 0 else 1)
        }
    }
  }

  /** Graphviz DOT of the task DAG (the reference's `dag_image`,
    * sayn/cli.py:331; [[toSvg]] renders the actual image).
    */
  private[app] def toDot(dag: Map[String, Seq[String]]): String = {
    val nodes = dag.keys.toSeq.sorted.map(n => s"""  "$n";""")
    val edges = for {
      (child, parents) <- dag.toSeq.sortBy(_._1)
      p <- parents.sorted
    } yield s"""  "$p" -> "$child";"""
    (Seq("digraph graft {", "  rankdir=LR;") ++ nodes ++ edges :+ "}")
      .mkString("\n")
  }

  /** Self-contained SVG rendering of the task DAG — the reference's
    * `dag_image` produces a real image (sayn/cli.py:328 via graphviz);
    * graphviz isn't bundled here, so this renders one directly:
    * longest-path layering (a node sits one column right of its deepest
    * parent — the standard Sugiyama first phase), names sorted within a
    * column, rounded boxes, bezier edges with one shared arrowhead
    * marker. Deterministic output, zero dependencies.
    */
  private[app] def toSvg(dag: Map[String, Seq[String]]): String = {
    val layer = scala.collection.mutable.Map.empty[String, Int]
    def depth(n: String, seen: Set[String]): Int = layer.getOrElseUpdate(n, {
      val ps = dag.getOrElse(n, Nil).filterNot(seen) // cycle-safe: App validates
      if (ps.isEmpty) 0 else 1 + ps.map(depth(_, seen + n)).max
    })
    dag.keys.foreach(depth(_, Set.empty))
    val cols = layer.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (c, ns) => c -> ns.map(_._1).sorted }
    val boxH = 28
    val gapY = 22
    val colW = 190
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    // (x, y) of each node's box top-left; width from the label length
    val pos = (for {
      (c, ns) <- cols
      (n, i) <- ns.zipWithIndex
    } yield n -> (30 + c * colW, 30 + i * (boxH + gapY))).toMap
    def bw(n: String): Int = math.max(60, n.length * 8 + 16)
    val nodes = pos.toSeq.sortBy(_._1).map { case (n, (x, y)) =>
      s"""  <rect x="$x" y="$y" rx="6" width="${bw(n)}" height="$boxH"
         |   fill="#eef4fb" stroke="#3b6ea5"/>
         |  <text x="${x + bw(n) / 2}" y="${y + 19}" text-anchor="middle"
         |   font-family="monospace" font-size="13">${esc(n)}</text>""".stripMargin
    }
    val edges = for {
      (child, parents) <- dag.toSeq.sortBy(_._1)
      p <- parents.sorted
      (px, py) = pos(p)
      (cx, cy) = pos(child)
    } yield {
      val (x1, y1) = (px + bw(p), py + boxH / 2)
      val (x2, y2) = (cx, cy + boxH / 2)
      val mx = (x1 + x2) / 2
      s"""  <path d="M $x1 $y1 C $mx $y1, $mx $y2, ${x2 - 6} $y2"
         |   fill="none" stroke="#3b6ea5" marker-end="url(#g_arrow)"/>""".stripMargin
    }
    val w = 60 + cols.size * colW
    val h = 60 + (if (cols.isEmpty) 0
      else cols.map(_._2.size).max * (boxH + gapY))
    (Seq(
      s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" height="$h">""",
      """  <defs><marker id="g_arrow" markerWidth="8" markerHeight="8"""",
      """   refX="6" refY="3" orient="auto" markerUnits="strokeWidth">""",
      """   <path d="M0,0 L6,3 L0,6 z" fill="#3b6ea5"/></marker></defs>""") ++
      edges ++ nodes :+ "</svg>").mkString("\n")
  }

  /** `init NAME`: scaffold a runnable starter project (sayn/cli.py:210-214,
    * sayn/scaffolding/data/init_project reduced to its engine-relevant
    * files).
    */
  private[app] def init(dir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(dir)) {
      System.err.println(s"error: $dir already exists")
      sys.exit(1)
    }
    Files.createDirectories(dir.resolve("tasks"))
    Files.createDirectories(dir.resolve("sql"))
    Files.writeString(dir.resolve("project.yaml"),
      """default_db: spark
        |parameters:
        |  user_prefix: ""
        |presets:
        |  model:
        |    type: autosql
        |    materialisation: table
        |""".stripMargin)
    Files.writeString(dir.resolve("settings.yaml"),
      """default_profile: dev
        |profiles:
        |  dev:
        |    parameters:
        |      user_prefix: dev_
        |""".stripMargin)
    Files.writeString(dir.resolve("tasks").resolve("base.yaml"),
      """tasks:
        |  load_data:
        |    type: sql
        |    file_name: load_data.sql
        |  dim_numbers:
        |    preset: model
        |    destination: dim_numbers
        |    file_name: dim_numbers.sql
        |""".stripMargin)
    // out() records lineage so dim_numbers orders after load_data
    Files.writeString(dir.resolve("sql").resolve("load_data.sql"),
      "CREATE OR REPLACE VIEW {{ out('raw_numbers') }} AS\nSELECT id FROM RANGE(100);")
    Files.writeString(dir.resolve("sql").resolve("dim_numbers.sql"),
      "SELECT id, id % 2 = 0 AS is_even\nFROM {{ src('raw_numbers') }}")
    println(s"initialized $dir — run: graft run --project-dir $dir")
  }

  /** User tasks register via Java ServiceLoader: a project jar exposes
    * `graft.tasks.UserTask` implementations in META-INF/services (the
    * reflection-light analog of the reference's @task decorator registry,
    * sayn/tasks/python.py:231-246). Task name = simple class name
    * de-camelled, overridable with cfg `class`.
    */
  private def loadUserTasks(): Map[String, UserTask] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[UserTask]).iterator().asScala.map { ut =>
      val n = ut.getClass.getSimpleName.stripSuffix("$")
        .replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase
      n -> ut
    }.toMap
  }

  private def parse(args: List[String]): Map[String, String] = {
    val flags = Set("full-load", "with-tests", "fail-fast", "upstream-prod", "debug")
    val aliases = Map(
      "-t" -> "include", "-x" -> "exclude", "-f" -> "full-load",
      "-u" -> "upstream-prod", "-p" -> "profile")
    def norm(a: String): String =
      aliases.getOrElse(a, a.stripPrefix("--"))
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case cmd :: tail if !cmd.startsWith("-") && !acc.contains("command") =>
          go(tail, acc + ("command" -> cmd))
        case v :: tail if !v.startsWith("-") && !acc.contains("arg") =>
          go(tail, acc + ("arg" -> v)) // positional arg (init NAME)
        case a :: tail if flags.contains(norm(a)) =>
          go(tail, acc + (norm(a) -> "true"))
        case a :: v :: tail if a.startsWith("-") =>
          val key = norm(a)
          // repeated -t/-x accumulate
          val value = if (acc.contains(key)) acc(key) + "," + v else v
          go(tail, acc + (key -> value))
        case _ :: tail => go(tail, acc)
      }
    go(args, Map.empty)
  }
}

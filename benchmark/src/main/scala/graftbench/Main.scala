package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.app.{App, Project, Tracker}
import graft.core.{Compiler, DbObjectCompiler}
import graft.db.SparkDatabase
import graft.tasks.RunArguments
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** JVM half of the benchmark. Runs one workload against the public entry
  * points (`Project.load`, `App.dag`/`App.run`, `Compiler.compile`,
  * `SparkEntry.queries`) over inputs that `run.py` generated, and writes
  * every raw sample and trace record as JSON; `run.py` turns them into
  * metrics and checks the outputs (the ETL tables it leaves in the
  * warehouse, the corpus results of the first pass) in DuckDB.
  *
  * Usage: Main --workload W --seconds S --trace 0|1 --work DIR --out FILE
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Opts(workload: String, seconds: Double, trace: Boolean, work: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("out")).toAbsolutePath)
    val records = new Records
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = session(o.work)
    records.add("session", "wall_ms" -> startMs, "start_ns" -> t0, "ns" -> (System.nanoTime() - t0))
    val bench = new Bench(spark, o, records)
    try {
      o.workload match {
        case "etl_incremental" => bench.etlIncremental()
        case "corpus_mix" => bench.corpus(calibrate = false)
        case "calibrate" => bench.corpus(calibrate = true)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      records.add("process", "vm_hwm_kb" -> vmHwmKb(), "gc_ms" -> gcMs(), "jit_ms" -> jitMs(),
        "cpus" -> Runtime.getRuntime.availableProcessors, "max_heap_b" -> Runtime.getRuntime.maxMemory)
    } finally {
      Files.writeString(o.out, json.writeValueAsString(records.all))
      spark.stop()
    }
  }

  /** The session `graft run` builds (Cli): Hive catalog on a fresh
    * warehouse and Derby metastore, AQE, shuffled-hash joins preferred.
    */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hive.exec.scratchdir", work.resolve("hive-scratch").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", work.resolve("hive-local").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${work.resolve("metastore")};create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Exception => 0L }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def readJson(p: Path): Map[String, Any] =
    json.readValue(p.toFile, classOf[Map[String, Any]])

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

final class Bench(spark: SparkSession, o: Main.Opts, records: Records) {
  private val sc = spark.sparkContext
  private val db = new SparkDatabase(spark)
  private val projectDir = o.work.resolve("project")
  private val srcDir = o.work.resolve("etl_src")
  private lazy val manifest = Main.readJson(o.work.resolve("manifest.json"))
  private lazy val deltaEpoch = java.time.LocalDate.parse(manifest("delta_epoch").toString)
  private val catalog =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.externalCatalog

  // ---- tracing -------------------------------------------------------------

  /** Run `body` with the layer listeners attached when `traced`. */
  private def withTracer[A](pass: Int, traced: Boolean)(body: => A): A =
    if (!traced) body
    else {
      val tracer = new LayerTracer(records, pass, sc)
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      catalog.addListener(tracer)
      try body
      finally {
        org.apache.spark.BenchHooks.drainListeners(sc)
        catalog.removeListener(tracer)
        spark.listenerManager.unregister(tracer)
        sc.removeSparkListener(tracer)
      }
    }

  /** The timed passes, numbered from `first`: one per `perPass` seconds
    * of `--seconds`, at least two and at most `limit`. The count follows
    * from the arguments alone, not from how fast passes run: passes keep
    * getting faster as the JIT warms and the ETL tables grow with every
    * delta, so a time-boxed loop would give a faster program more, and
    * different, passes to take medians over. Alternate passes are traced
    * when tracing is on, so the tracing overhead is measured in-run.
    */
  private def timedPasses(first: Int, perPass: Double, limit: Int = Int.MaxValue)(
      pass: (Int, Boolean) => Unit): Unit = {
    val n = math.min(limit, math.max(2, math.round(o.seconds / perPass).toInt))
    for (i <- 0 until n) pass(first + i, o.trace && i % 2 == 1)
  }

  // ---- ETL -----------------------------------------------------------------

  /** The copy sources' location reaches the project as a parameter
    * (`GRAFT_PARAMETER_SRC_DIR`), so the generated files carry no path.
    */
  private def loadProject(): Project.Loaded = {
    val env = sys.env.filterNot(_._1.startsWith("GRAFT_")) +
      ("GRAFT_PARAMETER_SRC_DIR" -> srcDir.toString)
    Project.load(projectDir, None, env).fold(e => throw new IllegalStateException(e.toString), identity)
  }

  /** The run window is pinned to the day of the delta the pass lands. */
  private def runArgs(fullLoad: Boolean, jobs: Int, withTests: Boolean, delta: Int) = {
    val day = deltaEpoch.plusDays(delta).toString
    RunArguments(command = "run", fullLoad = fullLoad, startDt = day, endDt = day,
      withTests = withTests, jobs = jobs)
  }

  private def newApp(loaded: Project.Loaded): App =
    new App(db, new DbObjectCompiler(loaded.defaultDb, loaded.stringify,
      loaded.prodStringify, loaded.fromProd), loaded.parameters,
      templateLoader = Project.fileLoader(projectDir))

  /** One `graft run`: `Project.load` through `App.run` returning. */
  private def etlPass(pass: Int, phase: String, traced: Boolean, args: RunArguments): Unit = {
    withTracer(pass, traced) {
      val t0 = System.nanoTime()
      val loaded = loadProject()
      val t1 = System.nanoTime()
      val callMs = System.currentTimeMillis()
      val report = newApp(loaded).run(loaded.specs, args,
        Tracker(new OpListener(records, pass, traced)))
      val t2 = System.nanoTime()
      val r = report.fold(e => throw new IllegalStateException(e.toString), identity)
      records.add("pass", "pass" -> pass, "phase" -> phase, "traced" -> traced,
        "t0_ns" -> t0, "wall_ns" -> (t2 - t0), "load_ns" -> (t1 - t0),
        "run_call_ns" -> t1, "run_call_ms" -> callMs, "jobs" -> args.jobs,
        "start_dt" -> args.startDt,
        "errors" -> r.errors.map { case (t, e) => s"$t: $e" }.toSeq.sorted,
        "warehouse_b" -> Main.dirBytes(warehouseDir))
      if (traced) compileTemplates(pass, loaded, args.startDt)
    }
  }

  /** `compiler.*` layer metrics: every task template rendered once more
    * through `Compiler.compile` (outside the pass timing).
    */
  private def compileTemplates(pass: Int, loaded: Project.Loaded, startDt: String): Unit = {
    val templates = loaded.specs.flatMap(_.cfg.get("sql").map(_.toString))
    val params = loaded.parameters ++ Map("full_load" -> false, "start_dt" -> startDt,
      "end_dt" -> startDt)
    val t0 = System.nanoTime()
    val failed = templates.count(t => Compiler.compile(t, Compiler.Context(params = params)).isLeft)
    records.add("compile", "pass" -> pass, "templates" -> templates.size,
      "failed" -> failed, "ns" -> (System.nanoTime() - t0))
  }

  private def recordDag(): Unit = {
    val loaded = loadProject()
    val dag = newApp(loaded).dag(loaded.specs, runArgs(fullLoad = true, 1, withTests = false, 0))
      .fold(e => throw new IllegalStateException(e.toString), identity)
    records.add("dag", "parents" -> dag)
  }

  private def warehouseDir: Path = o.work.resolve("warehouse")

  /** Copy delta `k` into the copy sources (outside the timing). */
  private def applyDelta(k: Int): Unit =
    manifest("delta_tables").asInstanceOf[Seq[String]].foreach { t =>
      val name = f"part-$k%05d.parquet"
      Files.copy(o.work.resolve("deltas").resolve(t).resolve(name),
        srcDir.resolve(t).resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }

  /** Serial incremental re-run with tests over a project built during
    * set-up: pass k first lands seeded delta k and runs with the window
    * pinned to its day, so every pass merges one delta's rows. Set-up is
    * the parallel cold build (`--full-load`, `jobs = cpus`) plus one
    * parallel incremental warm-up pass; a traced run traces both, which
    * is where the parallel scheduler's metrics come from.
    */
  def etlIncremental(): Unit = {
    recordDag()
    val cpus = Runtime.getRuntime.availableProcessors
    etlPass(0, "build", o.trace, runArgs(fullLoad = true, cpus, withTests = false, 0))
    var applied = 0
    def pass(k: Int, phase: String, traced: Boolean, jobs: Int): Unit = {
      applyDelta(k)
      applied = k
      etlPass(k, phase, traced, runArgs(fullLoad = false, jobs, withTests = true, k))
    }
    // the warm-up pass runs the same tasks and code paths, only in parallel
    pass(1, "warmup", o.trace, cpus)
    timedPasses(2, Bench.EtlPassSeconds, limit = manifest("n_deltas").toString.toInt - 1)(
      (k, traced) => pass(k, "timed", traced, 1))
    records.add("state", "schema" -> "etl", "applied" -> applied)
  }

  // ---- operator corpus -----------------------------------------------------

  /** Sampled read-only corpus entries in a fixed order. The first pass
    * writes each result as parquet for the oracle check, the second is a
    * noop warm-up; timed passes build each entry and write it with
    * `format("noop")`.
    */
  def corpus(calibrate: Boolean): Unit = {
    val fixtures = o.work.resolve("fixtures").toString
    val queries = SparkEntry.queries
    val listed = Files.readAllLines(o.work.resolve("entries.txt")).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq
    // calibration with no list: every read-only entry that has an oracle
    val entries =
      if (calibrate && listed.isEmpty)
        (SparkEntry.oracleSql.keySet -- SparkEntry.mutating).toSeq.sorted
      else listed
    records.add("oracles", "sql" -> SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) })
    if (calibrate) records.add("families", "entries" -> families)
    val checkDir = o.work.resolve("check")
    def run(p: Int, phase: String, traced: Boolean)(write: (org.apache.spark.sql.DataFrame, String) => Unit): Unit =
      withTracer(p, traced) {
        val t0 = System.nanoTime()
        entries.foreach { e =>
          val a = System.nanoTime()
          try {
            sc.setJobGroup(s"bench:$e:build", e)
            val df = queries(e)(spark, fixtures)
            val b = System.nanoTime()
            sc.setJobGroup(s"bench:$e:exec", e)
            write(df, e)
            val c = System.nanoTime()
            records.add("op", "pass" -> p, "name" -> e, "status" -> "succeeded",
              "t0_ns" -> a, "t1_ns" -> c, "build_ns" -> (b - a), "exec_ns" -> (c - b))
          } catch {
            case ex: Exception =>
              records.add("op", "pass" -> p, "name" -> e, "status" -> "failed",
                "t0_ns" -> a, "t1_ns" -> System.nanoTime(), "error" -> ex.toString.take(300))
          } finally sc.clearJobGroup()
        }
        // the corpus persists no tables: its space cost is the checked outputs
        records.add("pass", "pass" -> p, "phase" -> phase, "traced" -> traced, "t0_ns" -> t0,
          "wall_ns" -> (System.nanoTime() - t0),
          "warehouse_b" -> (Main.dirBytes(warehouseDir) + Main.dirBytes(checkDir)))
      }
    run(0, "verify", traced = false) { (df, e) =>
      df.write.mode("overwrite").parquet(checkDir.resolve(e).toString)
    }
    val noop: (org.apache.spark.sql.DataFrame, String) => Unit =
      (df, _) => df.write.format("noop").mode("overwrite").save()
    // the verify pass compiles every entry once; one noop pass more warms
    // the noop write path before timing
    run(1, if (calibrate) "timed" else "warmup", traced = false)(noop)
    if (!calibrate)
      timedPasses(2, Bench.CorpusPassSeconds)((p, traced) => run(p, "timed", traced)(noop))
  }

  /** Entry name → the query file (registry object) that defines it. */
  private def families: Map[String, String] = {
    import graft.queries._
    Seq("Relational" -> Relational.all, "RelationalTpch" -> RelationalTpch.all,
      "Pipeline" -> Pipeline.all, "EtlShapes" -> EtlShapes.all,
      "StreamingEntries" -> StreamingEntries.all, "Temporal" -> Temporal.all,
      "Analytics" -> Analytics.all, "Corpus" -> Corpus.all)
      .flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap
  }
}

object Bench {
  /** Seconds of `--seconds` per timed pass. At the default 14 s the ETL
    * workload gets the two passes the run budget allows (one serial pass
    * took 12-17 s on the 4-core host the benchmark was sized on, so its
    * timed passes outlast `--seconds`) and the corpus six (about 2.3 s
    * each there).
    */
  val EtlPassSeconds = 7.0
  val CorpusPassSeconds = 2.5
}

package graft.app

import graft.SparkSpec
import graft.core.DbObjectCompiler
import graft.db.SparkDatabase
import graft.tasks.RunArguments
import scala.collection.mutable

/** Parallel (jobs > 1) executor: identical dependency/skip/on_fail
  * semantics to the serial path, with independent branches running as
  * concurrent Spark jobs.
  */
class ParallelSpec extends SparkSpec {

  lazy val db = new SparkDatabase(spark)

  private class Capture extends EventListener {
    val events = mutable.ArrayBuffer.empty[RunEvent]
    override def onEvent(e: RunEvent): Unit = synchronized { events += e }
  }

  private def sqlTask(name: String, sql: String, parents: Seq[String] = Nil) =
    TaskSpec(name, "g", Map("type" -> "sql", "sql" -> sql) ++
      (if (parents.nonEmpty) Map("parents" -> parents) else Map.empty))

  test("independent branches run concurrently and all succeed") {
    val specs = Seq(
      sqlTask("p_a", "CREATE OR REPLACE VIEW par_a AS SELECT 1 AS x"),
      sqlTask("p_b", "CREATE OR REPLACE VIEW par_b AS SELECT 2 AS x"),
      sqlTask("p_c", "CREATE OR REPLACE VIEW par_c AS SELECT 3 AS x"),
      sqlTask("p_join",
        "CREATE OR REPLACE VIEW par_j AS SELECT * FROM par_a UNION ALL " +
          "SELECT * FROM par_b UNION ALL SELECT * FROM par_c",
        parents = Seq("p_a", "p_b", "p_c")))
    val cap = new Capture
    val app = new App(db, new DbObjectCompiler("spark"))
    val Right(report) = app.run(specs, RunArguments(jobs = 3), Tracker(cap))
    assert(report.succeeded, report.errors)
    assert(spark.table("par_j").count() == 3)
    // the child started only after all three parents finished
    val order = cap.events.collect {
      case RunEvent.TaskStarted(t, _, _, _) => s"start:$t"
      case RunEvent.TaskFinished(t, _, _, _, _) => s"finish:$t"
    }
    val childStart = order.indexOf("start:p_join")
    for (p <- Seq("p_a", "p_b", "p_c"))
      assert(order.indexOf(s"finish:$p") < childStart, order)
  }

  test("parallel failure skips dependents but not independents") {
    val specs = Seq(
      sqlTask("q_bad", "SELECT definitely syntax error FROM"),
      sqlTask("q_child", "SELECT 1", parents = Seq("q_bad")),
      sqlTask("q_free", "CREATE OR REPLACE VIEW par_free AS SELECT 9 AS x"))
    val app = new App(db, new DbObjectCompiler("spark"))
    val Right(report) = app.run(specs, RunArguments(jobs = 4))
    assert(!report.succeeded)
    assert(report.statuses("q_bad").name == "failed")
    assert(report.statuses("q_child").name == "skipped")
    assert(report.statuses("q_free").name == "succeeded")
  }

  test("on_fail no_skip lets children run in parallel mode") {
    val specs = Seq(
      TaskSpec("r_bad", "g", Map("type" -> "sql",
        "sql" -> "SELECT nope FROM missing_table", "on_fail" -> "no_skip")),
      sqlTask("r_child", "CREATE OR REPLACE VIEW par_r AS SELECT 1 AS x",
        parents = Seq("r_bad")))
    val app = new App(db, new DbObjectCompiler("spark"))
    val Right(report) = app.run(specs, RunArguments(jobs = 2))
    assert(report.statuses("r_bad").name == "failed")
    assert(report.statuses("r_child").name == "succeeded")
  }

  test("failFast stops launching after a failure") {
    // chain: bad runs first; with failFast everything not yet launched skips
    val specs = Seq(
      sqlTask("s_bad", "SELECT broken FROM"),
      sqlTask("s_next", "SELECT 1", parents = Seq("s_bad")),
      sqlTask("s_tail", "SELECT 2", parents = Seq("s_next")))
    val app = new App(db, new DbObjectCompiler("spark"))
    val Right(report) = app.run(specs, RunArguments(jobs = 2, failFast = true))
    assert(report.statuses("s_bad").name == "failed")
    assert(report.statuses("s_next").name == "skipped")
    assert(report.statuses("s_tail").name == "skipped")
  }

  test("each task's Spark jobs run under its own job group") {
    import graft.core.Result.Result
    import graft.tasks.{RunArguments => RA, TaskContext, UserTask}
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    class Probe(name: String) extends UserTask {
      override def run(ctx: TaskContext): Result[Unit] = {
        seen.put(name,
          ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        Right(())
      }
    }
    val specs = Seq(
      TaskSpec("jg_a", "g", Map("type" -> "user")),
      TaskSpec("jg_b", "g", Map("type" -> "user")))
    val app = new App(db, new DbObjectCompiler("spark"),
      userTasks = Map("jg_a" -> new Probe("jg_a"), "jg_b" -> new Probe("jg_b")))
    val Right(report) = app.run(specs, RA(jobs = 2))
    assert(report.succeeded, report.errors)
    assert(seen.get("jg_a") == "graft:jg_a")
    assert(seen.get("jg_b") == "graft:jg_b")
  }

  test("partitioned merge beside a concurrent plain overwrite: no conf leak") {
    // the merge scopes partitionOverwriteMode to an isolated session; a
    // shared-session set (the old withConf) would race with this concurrent
    // task's plain overwrite — under leaked dynamic mode the overwrite
    // would keep partitions absent from the new data
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.db.Ddl
    import spark.implicits._
    val ddl = Ddl(partitionBy = Seq("p"))
    assert(db.createTable("cc_dst",
      "SELECT id, CAST(id % 4 AS INT) AS p, 'old' AS v FROM RANGE(40)", ddl).isRight)
    assert(db.createTable("cc_src",
      "SELECT id, CAST(1 AS INT) AS p, 'new' AS v FROM RANGE(0, 40, 4)", ddl).isRight)
    assert(db.createTable("cc_other",
      "SELECT id, CAST(id % 2 AS INT) AS p, 'stale' AS v FROM RANGE(10)", ddl).isRight)
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val mergeF = Future(db.mergeTables("cc_src", "cc_dst", "id", ddl))
    val overwriteF = Future {
      // overwrite with data covering ONLY p=0, several times while the
      // merge runs: static semantics must drop the p=1 partition each time
      (1 to 3).map { _ =>
        spark.sql("SELECT id, 'fresh' AS v, CAST(0 AS INT) AS p FROM RANGE(5)")
          .write.mode("overwrite").insertInto("cc_other")
        spark.table("cc_other").count()
      }
    }
    assert(Await.result(mergeF, 5.minutes).isRight)
    assert(Await.result(overwriteF, 5.minutes).forall(_ == 5L))
    assert(spark.table("cc_other").filter($"p" === 1).count() == 0)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == before)
    // and the merge itself is correct under concurrency
    assert(spark.table("cc_dst").count() == 40)
    assert(spark.table("cc_dst").filter($"v" === "new").count() == 10)
    assert(spark.table("cc_dst").groupBy($"id").count()
      .filter($"count" > 1).count() == 0)
  }

  test("parallel and serial agree on a mixed DAG") {
    // (label, m_bad's on_fail, m_b's parents, failFast); in the failFast
    // input m_b also waits on m_bad, so whether it launches does not
    // race m_a's completion against m_bad's failure
    val inputs = Seq(
      ("skip", "skip", Seq("m_a"), false),
      ("no_skip", "no_skip", Seq("m_a"), false),
      ("fail_fast", "no_skip", Seq("m_a", "m_bad"), true))
    for ((label, onFail, bParents, failFast) <- inputs) {
      def specs(tag: String) = Seq(
        sqlTask(s"m_a_$tag", s"CREATE OR REPLACE VIEW mix_a_$tag AS SELECT 1 AS x"),
        TaskSpec(s"m_bad_$tag", "g", Map("type" -> "sql",
          "sql" -> "SELECT broken FROM", "on_fail" -> onFail)),
        sqlTask(s"m_b_$tag", s"CREATE OR REPLACE VIEW mix_b_$tag AS SELECT 2 AS x",
          parents = bParents.map(p => s"${p}_$tag")),
        sqlTask(s"m_c_$tag", "SELECT 3", parents = Seq(s"m_bad_$tag")))
      val app = new App(db, new DbObjectCompiler("spark"))
      val Right(serial) = app.run(specs(s"${label}_s"),
        RunArguments(jobs = 1, failFast = failFast))
      val Right(par) = app.run(specs(s"${label}_p"),
        RunArguments(jobs = 4, failFast = failFast))
      def canon(r: RunReport, tag: String) =
        r.statuses.map { case (k, v) => k.stripSuffix(s"_$tag") -> v.name }
      assert(canon(serial, s"${label}_s") == canon(par, s"${label}_p"), label)
    }
  }
}

package graft.app

import graft.SparkSpec
import graft.core.{DbObjectCompiler, Mangling, StringifyConfig}
import graft.core.Result.Result
import graft.db.SparkDatabase
import graft.tasks._

class AppSpec extends SparkSpec {

  lazy val db = new SparkDatabase(spark)
  import spark.implicits._

  def mkApp(
      userTasks: Map[String, UserTask] = Map.empty,
      objects: DbObjectCompiler = new DbObjectCompiler("spark"),
      params: Map[String, Any] = Map.empty) =
    new App(db, objects, params, userTasks)

  // ---- minimum end-to-end slice (SURVEY §7): user-load → autosql join →
  // test, with implicit DAG edges from src()/out() lineage -----------------

  object LoadFixtures extends UserTask {
    override def run(ctx: TaskContext): Result[Unit] =
      for {
        f <- ctx.out("logs_fighters")
        b <- ctx.out("logs_battles")
        _ <- db.loadDataFrame(
          Seq(("f1", "Son Goku"), ("f2", "Gohan"), ("f3", "Vegeta"))
            .toDF("fighter_id", "fighter_name"), f, replace = true)
        _ <- db.loadDataFrame(
          Seq(("b1", "f1", "f2", "f1"), ("b2", "f1", "f3", "f3"), ("b3", "f2", "f3", "f2"))
            .toDF("battle_id", "fighter1_id", "fighter2_id", "winner_id"),
          b, replace = true)
      } yield ()
  }

  test("end-to-end: user load → autosql multi-join → standard tests") {
    val specs = Seq(
      TaskSpec("load_data", "base", Map("type" -> "user",
        "outputs" -> Seq("logs_fighters", "logs_battles"))),
      TaskSpec("f_battles", "models", Map(
        "type" -> "autosql",
        "materialisation" -> "table",
        "destination" -> "f_battles",
        "sql" ->
          """SELECT b.battle_id,
            |  f1.fighter_name || ' vs ' || f2.fighter_name AS matchup,
            |  w.fighter_name AS winner
            |FROM {{ src('logs_battles') }} b
            |LEFT JOIN {{ src('logs_fighters') }} f1 ON b.fighter1_id = f1.fighter_id
            |LEFT JOIN {{ src('logs_fighters') }} f2 ON b.fighter2_id = f2.fighter_id
            |LEFT JOIN {{ src('logs_fighters') }} w ON b.winner_id = w.fighter_id""".stripMargin,
        "columns" -> Seq(
          Map("name" -> "battle_id", "tests" -> Seq("unique", "not_null"))))))

    val Right(report) = mkApp(Map("load_data" -> LoadFixtures))
      .run(specs, RunArguments(withTests = true))
    assert(report.succeeded, report.errors)
    // implicit edge ordered load before model
    assert(report.order == Seq("load_data", "f_battles"))
    assert(rows(spark.table("f_battles")) == Set(
      Seq("b1", "Son Goku vs Gohan", "Son Goku"),
      Seq("b2", "Son Goku vs Vegeta", "Vegeta"),
      Seq("b3", "Gohan vs Vegeta", "Gohan")))
  }

  test("a src() read through {% set %} gets its implicit DAG edge") {
    object MakeSetSrc extends UserTask {
      override def run(ctx: TaskContext): Result[Unit] =
        ctx.out("set_src").flatMap(t =>
          db.loadDataFrame(Seq(1, 2).toDF("x"), t, replace = true))
    }
    // the reader is listed first: only the lineage edge orders it last
    val specs = Seq(
      TaskSpec("set_reader", "g", Map(
        "type" -> "autosql", "materialisation" -> "table",
        "destination" -> "set_reader_out",
        "sql" -> "{% set t = src('set_src') %}SELECT x FROM {{ t }}")),
      TaskSpec("set_maker", "g", Map("type" -> "user",
        "outputs" -> Seq("set_src"))))
    val Right(report) = mkApp(Map("set_maker" -> MakeSetSrc)).run(specs)
    assert(report.succeeded, report.errors)
    assert(report.order == Seq("set_maker", "set_reader"))
    assert(rows(spark.table("set_reader_out")) == Set(Seq(1), Seq(2)))
  }

  test("autosql view materialisation") {
    db.replaceTable("view_base", "SELECT 1 AS x UNION ALL SELECT 2")
    val specs = Seq(TaskSpec("a_view", "g", Map(
      "type" -> "autosql", "materialisation" -> "view",
      "destination" -> "my_view",
      "sql" -> "SELECT x * 10 AS x FROM {{ src('view_base') }}")))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    assert(db.objectType("my_view").contains("view"))
    assert(rows(spark.table("my_view")) == Set(Seq(10), Seq(20)))
  }

  test("autosql incremental: delete_key upsert keeps unmatched, replaces matched, inserts new") {
    // dst pre-exists with ids 1,2 (reference case test_task_autosql.py:70-115)
    Seq((1L, Some(1L), "x"), (2L, None: Option[Long], "y"))
      .toDF("id", "updated_at", "name").write.saveAsTable("inc_dst")
    Seq((2L, Some(2L), "y2"), (3L, Some(3L), "z"))
      .toDF("id", "updated_at", "name").write.saveAsTable("inc_src")

    val specs = Seq(TaskSpec("inc_task", "g", Map(
      "type" -> "autosql", "materialisation" -> "incremental",
      "destination" -> "inc_dst", "delete_key" -> "id",
      "sql" -> "SELECT * FROM {{ src('inc_src') }} WHERE updated_at >= 2 OR updated_at IS NULL")))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    assert(rows(spark.table("inc_dst")) == Set(
      Seq(1L, 1L, "x"),   // untouched
      Seq(2L, 2L, "y2"),  // upserted
      Seq(3L, 3L, "z")))  // inserted
  }

  test("autosql incremental with --full-load does a full refresh") {
    Seq((9L, "stale")).toDF("id", "v").write.saveAsTable("fl_dst")
    Seq((1L, "fresh")).toDF("id", "v").write.saveAsTable("fl_src")
    val specs = Seq(TaskSpec("fl_task", "g", Map(
      "type" -> "autosql", "materialisation" -> "incremental",
      "destination" -> "fl_dst", "delete_key" -> "id",
      "sql" -> "SELECT * FROM {{ src('fl_src') }}")))
    val Right(report) = mkApp().run(specs, RunArguments(fullLoad = true))
    assert(report.succeeded, report.errors)
    assert(rows(spark.table("fl_dst")) == Set(Seq(1L, "fresh")))
  }

  test("sql script task executes multiple statements") {
    val specs = Seq(TaskSpec("script", "g", Map(
      "type" -> "sql",
      "sql" ->
        """CREATE TABLE script_t AS SELECT 1 AS x;
          |INSERT INTO script_t SELECT 2;""".stripMargin)))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    assert(rows(spark.table("script_t")) == Set(Seq(1), Seq(2)))
  }

  test("config() macro overrides materialisation from within SQL") {
    val specs = Seq(TaskSpec("cfg_task", "g", Map(
      "type" -> "autosql", "materialisation" -> "table",
      "destination" -> "cfg_out",
      "sql" -> "{{ config(materialisation='view') }}SELECT 42 AS x")))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    assert(db.objectType("cfg_out").contains("view"))
  }

  test("copy full: snapshot with declared columns and rename") {
    Seq((1L, "a", "drop_me"), (2L, "b", "drop_me"))
      .toDF("id", "val", "junk").write.saveAsTable("copy_src1")
    val specs = Seq(TaskSpec("cp", "g", Map(
      "type" -> "copy", "source" -> "copy_src1", "destination" -> "copy_dst1",
      "columns" -> Seq(
        Map("name" -> "id", "type" -> "BIGINT"),
        Map("name" -> "val", "dst_name" -> "value")))))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    assert(spark.table("copy_dst1").columns.toSeq == Seq("id", "value"))
    assert(rows(spark.table("copy_dst1")) == Set(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("copy incremental: watermark extraction incl. NULL keys, delete_key merge") {
    Seq((1L, Some(10L), "v1"), (2L, Some(20L), "v2"), (3L, None: Option[Long], "v3"))
      .toDF("id", "updated_at", "v").write.saveAsTable("copy_src2")
    // dst already has id=1 (wm=10) and an old version of id=2
    Seq((1L, Some(10L), "v1"), (2L, Some(5L), "old"))
      .toDF("id", "updated_at", "v").write.saveAsTable("copy_dst2")
    val specs = Seq(TaskSpec("cp2", "g", Map(
      "type" -> "copy", "source" -> "copy_src2", "destination" -> "copy_dst2",
      "incremental_key" -> "updated_at", "delete_key" -> "id")))
    val Right(report) = mkApp().run(specs)
    assert(report.succeeded, report.errors)
    // NULL-keyed row 3 re-extracted; row 2 upserted at wm>=10... wm=10 keeps row1
    assert(rows(spark.table("copy_dst2")) == Set(
      Seq(1L, 10L, "v1"), Seq(2L, 20L, "v2"), Seq(3L, null, "v3")))
  }

  test("copy incremental stages the new rows: no table created, none left over") {
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "ts", "v").write.saveAsTable("copy_src_stage")
    Seq((1L, 10L, "old"), (2L, 20L, "old"))
      .toDF("id", "ts", "v").write.saveAsTable("copy_dst_stage")
    val specs = Seq(TaskSpec("cp_stage", "g", Map(
      "type" -> "copy", "source" -> "copy_src_stage", "destination" -> "copy_dst_stage",
      "incremental_key" -> "ts", "delete_key" -> "id")))
    val created = tablesCreatedBy {
      val Right(report) = mkApp().run(specs)
      assert(report.succeeded, report.errors)
    }
    // the rows past the watermark (ts >= 20) are staged in memory, not in
    // a tmp table, and the same-schema merge is published by a directory
    // swap, not through a graft_tmp_merge_copy_dst_stage table
    assert(created.isEmpty, created)
    assert(!db.tableExists("graft_tmp_copy_dst_stage"))
    assert(tmpDirsOf("copy_dst_stage").isEmpty)
    assert(rows(spark.table("copy_dst_stage")) ==
      Set(Seq(1L, 10L, "old"), Seq(2L, 20L, "b"), Seq(3L, 30L, "c")))
  }

  test("copy append stamps _graft_load_ts and never deletes") {
    Seq((1L, 100L)).toDF("id", "ts").write.saveAsTable("copy_src3")
    val specs = Seq(TaskSpec("cp3", "g", Map(
      "type" -> "copy", "source" -> "copy_src3", "destination" -> "copy_dst3",
      "incremental_key" -> "ts", "append" -> true)))
    val app = mkApp()
    assert(app.run(specs).exists(_.succeeded))
    // second run re-reads rows >= watermark (inclusive) and appends
    assert(app.run(specs).exists(_.succeeded))
    val dst = spark.table("copy_dst3")
    assert(dst.columns.contains("_graft_load_ts"))
    assert(dst.count() == 2) // appended, not merged
  }

  test("bad copy config fails its own task: children skip, the rest runs") {
    val base = Map("type" -> "copy", "source" -> "copy_src_bad",
      "destination" -> "copy_dst_bad", "incremental_key" -> "ts")
    val bad = Seq(
      "bad_rows" -> (base + ("delete_key" -> "id") + ("max_merge_rows" -> "abc")),
      "zero_rows" -> (base + ("delete_key" -> "id") + ("max_merge_rows" -> 0)),
      "bad_append" -> (base + ("append" -> "maybe")),
      "bad_buckets" -> (base + ("delete_key" -> "id") +
        ("ddl" -> Map("cluster" -> "id", "buckets" -> "x"))))
    val specs = bad.flatMap { case (n, cfg) =>
      Seq(TaskSpec(n, "g", cfg),
        TaskSpec(s"${n}_child", "g", Map("type" -> "dummy", "parents" -> Seq(n))))
    } :+ TaskSpec("independent", "g", Map("type" -> "dummy"))
    assert(mkApp().dag(specs).isRight)
    val Right(report) = mkApp().run(specs)
    bad.foreach { case (n, _) =>
      assert(report.statuses(n) == TaskStatus.Failed, n)
      assert(report.errors(n).kind == "config", report.errors(n))
      assert(report.statuses(s"${n}_child") == TaskStatus.Skipped, n)
    }
    assert(report.errors("zero_rows").msg.contains("max_merge_rows"))
    assert(report.errors("bad_append").msg.contains("append must be true " +
      "or false, got 'maybe'"), report.errors("bad_append"))
    assert(report.errors("bad_buckets").msg.contains("buckets must be a " +
      "positive integer, got 'x'"), report.errors("bad_buckets"))
    assert(report.statuses("independent") == TaskStatus.Succeeded)
  }

  test("a ddl that is not a map fails its task's config, naming ddl") {
    // a ddl given as a list of names (not {columns: [...]}) would
    // otherwise drop the declared column tests without a word
    val base = Map("materialisation" -> "table", "sql" -> "SELECT 1 AS id")
    val specs = Seq(
      TaskSpec("ddl_list", "g", base ++ Map("type" -> "autosql",
        "destination" -> "ddl_list_dst",
        "ddl" -> Seq(Map("name" -> "id", "tests" -> Seq("unique"))))),
      TaskSpec("ddl_text", "g", Map("type" -> "test",
        "sql" -> "SELECT 1 WHERE 1 = 0", "ddl" -> "id")),
      TaskSpec("ddl_columns", "g", base ++ Map("type" -> "autosql",
        "destination" -> "ddl_columns_dst", "columns" -> Seq("id"))))
    val Right(report) = mkApp().run(specs)
    Seq("ddl_list", "ddl_text").foreach { n =>
      assert(report.statuses(n) == TaskStatus.Failed, n)
      assert(report.errors(n).kind == "config", report.errors(n))
      assert(report.errors(n).msg.contains("ddl must be a map"),
        report.errors(n))
    }
    assert(report.statuses("ddl_columns") == TaskStatus.Succeeded,
      report.errors)
  }

  test("test task: custom sql failing surfaces offending rows") {
    db.replaceTable("t_src", "SELECT 1 AS x UNION ALL SELECT -1")
    val failing = Seq(TaskSpec("t_fail", "g", Map(
      "type" -> "test", "sql" -> "SELECT * FROM {{ src('t_src') }} WHERE x < 0")))
    val Right(report) = mkApp().run(failing)
    assert(!report.succeeded)
    val passing = Seq(TaskSpec("t_pass", "g", Map(
      "type" -> "test", "sql" -> "SELECT * FROM {{ src('t_src') }} WHERE x < -99")))
    assert(mkApp().run(passing).exists(_.succeeded))
  }

  test("run --with-tests runs a test task's query once") {
    db.replaceTable("t_once_src", "SELECT id FROM RANGE(10)")
    def jobs(task: String, where: String, withTests: Boolean): (Int, Boolean) = {
      val specs = Seq(TaskSpec(task, "g", Map(
        "type" -> "test", "sql" -> s"SELECT * FROM {{ src('t_once_src') }} WHERE $where")))
      var ok = false
      val n = jobsInGroup(s"graft:$task") {
        ok = mkApp().run(specs, RunArguments(withTests = withTests)).exists(_.succeeded)
      }
      (n, ok)
    }
    val (plain, plainOk) = jobs("t_once", "id < 0", withTests = false)
    val (tested, testedOk) = jobs("t_once", "id < 0", withTests = true)
    assert(plainOk && testedOk)
    assert(plain > 0)
    assert(tested == plain, s"$tested jobs with tests, $plain without")
    // a failing test still fails its task under --with-tests
    assert(!jobs("t_once_fail", "id >= 0", withTests = true)._2)
  }

  test("--debug dumps the FULL violation report to compile/<group>/<task>_violations") {
    // 8 duplicated ids → 8 violation rows, but the failure error samples
    // only 5; the debug dump must carry all of them
    db.replaceTable("viol_t",
      "SELECT id % 8 AS id, id AS payload FROM RANGE(16)")
    val specs = Seq(TaskSpec("viol_test", "g", Map(
      "type" -> "test", "table" -> "viol_t",
      "columns" -> Seq(Map("name" -> "id", "tests" -> Seq("unique"))))))
    val dir = java.nio.file.Files.createTempDirectory("graft_compile_")
    val app = new App(db, new DbObjectCompiler("spark"), compileDir = Some(dir))
    val Right(report) = app.run(specs, RunArguments(debug = true))
    assert(!report.succeeded)
    val dump = dir.resolve("g").resolve("viol_test_violations")
    assert(java.nio.file.Files.exists(dump))
    val rows = spark.read.option("header", "true").csv(dump.toString).collect()
    assert(rows.length == 8)
    // without --debug, no dump is written
    val dir2 = java.nio.file.Files.createTempDirectory("graft_compile_")
    val app2 = new App(db, new DbObjectCompiler("spark"), compileDir = Some(dir2))
    assert(app2.run(specs, RunArguments()).exists(!_.succeeded))
    assert(!java.nio.file.Files.exists(dir2.resolve("g").resolve("viol_test_violations")))
  }

  test("skip propagation: child of failed parent skips; on_fail no_skip runs") {
    val specs = Seq(
      TaskSpec("bad", "g", Map("type" -> "sql", "sql" -> "SELECT * FROM missing_table_xyz")),
      TaskSpec("child", "g", Map("type" -> "dummy", "parents" -> Seq("bad"))),
      TaskSpec("bad2", "g", Map(
        "type" -> "sql", "sql" -> "SELECT * FROM missing_table_xyz",
        "on_fail" -> "no_skip")),
      TaskSpec("child2", "g", Map("type" -> "dummy", "parents" -> Seq("bad2"))))
    val Right(report) = mkApp().run(specs)
    assert(report.statuses("bad") == TaskStatus.Failed)
    assert(report.statuses("child") == TaskStatus.Skipped)
    assert(report.statuses("bad2") == TaskStatus.Failed)
    assert(report.statuses("child2") == TaskStatus.Succeeded)
  }

  test("fail-fast interrupts remaining tasks") {
    val specs = Seq(
      TaskSpec("aa_bad", "g", Map("type" -> "sql", "sql" -> "SELECT * FROM missing_table_xyz")),
      TaskSpec("zz_indep", "g", Map("type" -> "dummy")))
    val Right(report) = mkApp().run(specs, RunArguments(failFast = true))
    assert(report.statuses("aa_bad") == TaskStatus.Failed)
    assert(report.statuses("zz_indep") == TaskStatus.Skipped)
  }

  test("task query selectors filter execution") {
    val specs = Seq(
      TaskSpec("up1", "g", Map("type" -> "dummy")),
      TaskSpec("mid1", "g", Map("type" -> "dummy", "parents" -> Seq("up1"))),
      TaskSpec("other1", "h", Map("type" -> "dummy")))
    val Right(report) = mkApp().run(specs, RunArguments(include = Seq("+mid1")))
    assert(report.order == Seq("up1", "mid1"))
  }

  test("dev stringify prefixes physical names; from_prod reads prod") {
    db.replaceTable("prod_src_table", "SELECT 1 AS x") // prod object
    val objects = new DbObjectCompiler(
      "spark",
      dev = StringifyConfig(table = Mangling(prefix = Some("dev"))),
      prod = StringifyConfig(),
      fromProd = Seq("prod_src_table"))
    val specs = Seq(TaskSpec("m1", "g", Map(
      "type" -> "autosql", "materialisation" -> "table",
      "destination" -> "m1_out",
      "sql" -> "SELECT x FROM {{ src('prod_src_table') }}")))
    val Right(report) = mkApp(objects = objects).run(specs)
    assert(report.succeeded, report.errors)
    assert(db.tableExists("dev_m1_out")) // out mangled
    assert(rows(spark.table("dev_m1_out")) == Set(Seq(1))) // src read prod
  }

  test("parameters flow into templates") {
    val specs = Seq(TaskSpec("p1", "g", Map(
      "type" -> "autosql", "materialisation" -> "table",
      "destination" -> "param_out",
      "sql" -> "SELECT {{ magic_number }} AS x")))
    val Right(report) = mkApp(params = Map("magic_number" -> 7)).run(specs)
    assert(report.succeeded, report.errors)
    assert(rows(spark.table("param_out")) == Set(Seq(7)))
  }

  test("compile command renders SQL without executing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compile_")
    val app = new App(db, new DbObjectCompiler("spark"), compileDir = Some(dir))
    val specs = Seq(TaskSpec("c1", "grp", Map(
      "type" -> "autosql", "materialisation" -> "table",
      "destination" -> "never_created",
      "sql" -> "SELECT 1 AS x")))
    val Right(report) = app.run(specs, RunArguments(command = "compile"))
    assert(report.succeeded, report.errors)
    assert(!db.tableExists("never_created"))
    val compiled = dir.resolve("grp").resolve("c1.sql")
    assert(java.nio.file.Files.exists(compiled))
    assert(java.nio.file.Files.readString(compiled).contains("SELECT 1 AS x"))
  }

  test("cycles and duplicate names are rejected") {
    val cyc = Seq(
      TaskSpec("ca", "g", Map("type" -> "dummy", "parents" -> Seq("cb"))),
      TaskSpec("cb", "g", Map("type" -> "dummy", "parents" -> Seq("ca"))))
    assert(mkApp().run(cyc).isLeft)
    val dup = Seq(
      TaskSpec("dd", "g", Map("type" -> "dummy")),
      TaskSpec("dd", "g", Map("type" -> "dummy")))
    assert(mkApp().run(dup).isLeft)
  }
}

package graft.db

import graft.SparkSpec
import graft.core.TestFailed
import graft.pipeline.Stage
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

class SparkDatabaseSpec extends SparkSpec {

  lazy val db = new SparkDatabase(spark)
  import spark.implicits._

  test("execute splits multi-statement scripts, honoring quotes") {
    val r = db.execute(
      """CREATE TABLE exec_t1 AS SELECT 1 AS x;
        |CREATE TABLE exec_t2 AS SELECT ';' AS s, 2 AS x;
        |-- comment with ; inside
        |INSERT INTO exec_t1 SELECT 3""".stripMargin)
    assert(r.isRight, r)
    assert(rows(spark.table("exec_t1")) == Set(Seq(1), Seq(3)))
    assert(spark.table("exec_t2").count() == 1)
  }

  test("statement splitter edge cases") {
    assert(db.splitStatements("SELECT 1") == Seq("SELECT 1"))
    assert(db.splitStatements("a; b ;; c;") == Seq("a", "b", "c"))
    assert(db.splitStatements("SELECT ';'; SELECT 2") ==
      Seq("SELECT ';'", "SELECT 2"))
    assert(db.splitStatements("SELECT 1 -- tail; not a split\n; SELECT 2") ==
      Seq("SELECT 1 -- tail; not a split", "SELECT 2"))
    assert(db.splitStatements("SELECT /* ; */ 1; SELECT 2") ==
      Seq("SELECT /* ; */ 1", "SELECT 2"))
  }

  test("readData returns rows") {
    val Right(rs) = db.readData("SELECT 1 AS a UNION ALL SELECT 2")
    assert(rs.map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("loadDataFrame replace and append modes") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
    assert(db.loadDataFrame(df, "load_t", replace = true).isRight)
    assert(spark.table("load_t").count() == 2)
    // append aligns by name even when column order differs
    val more = Seq(("z", 3L)).toDF("name", "id")
    assert(db.loadDataFrame(more, "load_t", replace = false).isRight)
    assert(rows(spark.table("load_t")) ==
      Set(Seq(1L, "x"), Seq(2L, "y"), Seq(3L, "z")))
  }

  test("createTable applies declared types as casts") {
    val ddl = Ddl(columns = Seq(
      ColumnDdl("a", dataType = Some("BIGINT")),
      ColumnDdl("b", dataType = Some("TEXT"))))
    assert(db.createTable("typed_t", "SELECT 1 AS a, 2 AS b", ddl).isRight)
    val schema = spark.table("typed_t").schema
    assert(schema("a").dataType.typeName == "long")
    assert(schema("b").dataType.typeName == "string")
  }

  test("declared TIME column materialises as STRING, values verbatim") {
    // SURVEY §1.2's documented divergence surfaced END TO END: Spark has
    // no TimeType, so a declared TIME column lands as a string table
    // column carrying the literal 'HH:MM:SS' values — and the Ddl warns.
    val ddl = Ddl(columns = Seq(ColumnDdl("t", dataType = Some("TIME"))))
    assert(ddl.typeWarnings.exists(_.contains("TIME")))
    assert(db.createTable("time_t",
      "SELECT '13:45:07' AS t UNION ALL SELECT '00:00:00' AS t", ddl).isRight)
    val tbl = spark.table("time_t")
    assert(tbl.schema("t").dataType.typeName == "string")
    assert(rows(tbl) == Set(Seq("13:45:07"), Seq("00:00:00")))
  }

  test("replaceTable is a full refresh and tolerates self-reference") {
    assert(db.replaceTable("rep_t", "SELECT 1 AS x").isRight)
    assert(db.replaceTable("rep_t", "SELECT x + 1 AS x FROM rep_t").isRight)
    assert(rows(spark.table("rep_t")) == Set(Seq(2)))
  }

  test("replaceView replaces an existing view with one AlterTable") {
    assert(db.replaceTable("alter_v_src", "SELECT 1 AS x").isRight)
    assert(db.replaceView("alter_v", "SELECT x FROM alter_v_src").isRight)
    val events = catalogEventsBy(assert(
      db.replaceView("alter_v", "SELECT x, x * 10 AS y FROM alter_v_src").isRight))
    assert(mutations(events) == Seq("alter"), events)
    assert(rows(spark.table("alter_v")) == Set(Seq(1, 10)))
    // a missing view is created, not altered
    val created = catalogEventsBy(assert(
      db.replaceView("alter_v_new", "SELECT x FROM alter_v_src").isRight))
    assert(mutations(created) == Seq("create"), created)
  }

  test("replaceView creates and replaces") {
    assert(db.replaceTable("view_src", "SELECT 1 AS x").isRight)
    assert(db.replaceView("v1", "SELECT * FROM view_src").isRight)
    assert(db.objectType("v1").contains("view"))
    assert(db.replaceView("v1", "SELECT x + 1 AS x FROM view_src").isRight)
    assert(rows(spark.table("v1")) == Set(Seq(2)))
  }

  test("mergeTables upserts on delete_key and drops the source") {
    Seq((1L, Some(1L), "old1"), (2L, None: Option[Long], "old2"))
      .toDF("id", "updated_at", "name")
      .write.saveAsTable("merge_dst")
    Seq((2L, Some(5L), "new2"), (3L, Some(6L), "new3"))
      .toDF("id", "updated_at", "name")
      .write.saveAsTable("merge_src")
    assert(db.mergeTables("merge_src", "merge_dst", "id").isRight)
    assert(rows(spark.table("merge_dst")) == Set(
      Seq(1L, 1L, "old1"),   // unmatched dst row kept
      Seq(2L, 5L, "new2"),   // matched dst row replaced
      Seq(3L, 6L, "new3")))  // new row inserted
    assert(!db.tableExists("merge_src"))
  }

  test("mergeQuery creates missing destination, then merges") {
    assert(db.mergeQuery("mq_t", "SELECT 1 AS id, 'a' AS v", "id").isRight)
    assert(rows(spark.table("mq_t")) == Set(Seq(1, "a")))
    assert(db.mergeQuery("mq_t", "SELECT 1 AS id, 'b' AS v", "id").isRight)
    assert(rows(spark.table("mq_t")) == Set(Seq(1, "b")))
  }

  test("mergeQuery stages the delta: no table created, no tmp table left") {
    assert(db.replaceTable("stage_t", "SELECT id, 'old' AS v FROM RANGE(5)").isRight)
    val created = tablesCreatedBy {
      assert(db.mergeQuery("stage_t",
        "SELECT id, 'new' AS v FROM RANGE(3, 8)", "id").isRight)
    }
    // the SELECT is staged in memory, not in a graft_tmp_stage_t catalog
    // table, and the same-schema merge is published by a directory swap,
    // not through a graft_tmp_merge_stage_t table
    assert(created.isEmpty, created)
    assert(!spark.catalog.listTables().collect()
      .exists(t => t.name.startsWith("graft_tmp_") && t.name.endsWith("stage_t")))
    assert(tmpDirsOf("stage_t").isEmpty)
    assert(rows(spark.table("stage_t")) ==
      (0L until 3L).map(i => Seq(i, "old")).toSet ++
        (3L until 8L).map(i => Seq(i, "new")))
  }

  test("mergeQuery evaluates a non-deterministic delta once") {
    assert(db.replaceTable("once_t",
      "SELECT CAST(id AS INT) AS id, 'old' AS v FROM RANGE(1000)").isRight)
    // distinct random keys in 0..999: if the delete and the insert each
    // evaluated the SELECT, they would draw different keys and leave
    // duplicates behind
    assert(db.mergeQuery("once_t",
      "SELECT DISTINCT CAST(rand() * 1000 AS INT) AS id, 'new' AS v FROM RANGE(500)",
      "id").isRight)
    val Seq(r) = spark.sql(
      "SELECT COUNT(*), COUNT(DISTINCT id), COUNT_IF(v = 'new') FROM once_t").collect().toSeq
    assert(r.getLong(0) == 1000L && r.getLong(1) == 1000L, r)
    assert(r.getLong(2) > 0L, r)
  }

  test("objectType: table, view, temp view, missing name, missing database, qualified name") {
    assert(db.replaceTable("ot_t", "SELECT 1 AS x").isRight)
    assert(db.replaceView("ot_v", "SELECT x FROM ot_t").isRight)
    spark.range(1).createOrReplaceTempView("ot_tv")
    assert(db.execute("CREATE DATABASE IF NOT EXISTS ot_db").isRight)
    assert(db.replaceTable("ot_db.ot_q", "SELECT 1 AS x").isRight)
    try {
      val expected = Seq(
        "ot_t" -> Some("table"),
        "OT_T" -> Some("table"),
        "default.ot_t" -> Some("table"),
        "ot_v" -> Some("view"),
        "ot_tv" -> Some("view"),
        "ot_missing" -> None,
        "no_such_db.ot_t" -> None,
        "ot_db.ot_q" -> Some("table"),
        "ot_q" -> None)
      expected.foreach { case (name, kind) =>
        assert(db.objectType(name) == kind, name)
        assert(db.tableExists(name) == kind.isDefined, name)
      }
    } finally {
      spark.catalog.dropTempView("ot_tv")
      spark.sql("DROP DATABASE IF EXISTS ot_db CASCADE")
    }
  }

  test("moveTable onto a view keeps the view when the source is missing") {
    assert(db.replaceTable("mvv_base", "SELECT 1 AS x").isRight)
    assert(db.replaceView("mvv_view", "SELECT x FROM mvv_base").isRight)
    assert(db.moveTable("no_such_src_table", "mvv_view").isLeft)
    assert(db.objectType("mvv_view").contains("view"))
    assert(rows(spark.table("mvv_view")) == Set(Seq(1)))
  }

  test("moveTable replaces the destination") {
    assert(db.replaceTable("mv_src", "SELECT 1 AS x").isRight)
    assert(db.replaceTable("mv_dst", "SELECT 99 AS x").isRight)
    assert(db.moveTable("mv_src", "mv_dst").isRight)
    assert(rows(spark.table("mv_dst")) == Set(Seq(1)))
    assert(!db.tableExists("mv_src"))
  }

  test("mergeTables on a partitioned destination rewrites only touched partitions") {
    val ddl = Ddl(partitionBy = Seq("p"))
    assert(db.createTable("pmerge_dst",
      "SELECT id, CAST(id % 3 AS INT) AS p, 'old' AS v FROM RANGE(9)", ddl).isRight)
    // src touches only partition p=1
    assert(db.createTable("pmerge_src",
      "SELECT id, CAST(1 AS INT) AS p, 'new' AS v FROM RANGE(1, 9, 3)", ddl).isRight)

    def partFiles(p: Int): Set[String] = {
      val loc = spark.sql("DESCRIBE TABLE EXTENDED pmerge_dst").collect()
        .find(_.getString(0) == "Location").get.getString(1)
      val dir = new java.io.File(new java.net.URI(s"$loc/p=$p"))
      Option(dir.listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    }
    val untouchedBefore = partFiles(0) ++ partFiles(2)

    assert(db.mergeTables("pmerge_src", "pmerge_dst", "id", ddl).isRight)
    // merge semantics hold: p=1 rows upserted, others untouched
    assert(spark.table("pmerge_dst").count() == 9)
    assert(rows(spark.table("pmerge_dst").filter($"p" === 1).select($"v")) ==
      Set(Seq("new")))
    assert(rows(spark.table("pmerge_dst").filter($"p" =!= 1).select($"v")) ==
      Set(Seq("old")))
    // untouched partitions' files were not rewritten
    assert(partFiles(0) ++ partFiles(2) == untouchedBefore)
    assert(!db.tableExists("pmerge_src"))
  }

  test("partitioned merge removes the stale row when a key changes partition") {
    val ddl = Ddl(partitionBy = Seq("p"))
    // id=1 lives in partition p=0; the incoming run moves it to p=1
    assert(db.createTable("pmove_dst",
      "SELECT id, CAST(id % 2 AS INT) AS p, 'old' AS v FROM RANGE(4)", ddl).isRight)
    assert(db.createTable("pmove_src",
      "SELECT CAST(0 AS BIGINT) AS id, CAST(1 AS INT) AS p, 'new' AS v", ddl).isRight)
    assert(db.mergeTables("pmove_src", "pmove_dst", "id", ddl).isRight)
    // whole-table delete semantics (merge_tables.sql): no duplicate id=0 —
    // its old p=0 row is gone, the new p=1 row is present
    assert(spark.table("pmove_dst").filter($"id" === 0).count() == 1)
    assert(rows(spark.table("pmove_dst").filter($"id" === 0).select($"p", $"v")) ==
      Set(Seq(1, "new")))
    assert(spark.table("pmove_dst").count() == 4)
  }

  test("partitioned merge clears a partition that empties entirely") {
    val ddl = Ddl(partitionBy = Seq("p"))
    // p=0 holds exactly ids 0 and 2; the incoming run moves BOTH to p=1,
    // so partition p=0 must end up empty — dynamic overwrite alone would
    // leave its old files (no p=0 rows are written) and the stale ids
    // would resurface as duplicates
    assert(db.createTable("pempty_dst",
      "SELECT id, CAST(id % 2 AS INT) AS p, 'old' AS v FROM RANGE(4)", ddl).isRight)
    assert(db.createTable("pempty_src",
      "SELECT id, CAST(1 AS INT) AS p, 'new' AS v FROM RANGE(0, 4, 2)", ddl).isRight)
    assert(db.mergeTables("pempty_src", "pempty_dst", "id", ddl).isRight)
    assert(spark.table("pempty_dst").filter($"p" === 0).count() == 0)
    assert(spark.table("pempty_dst").count() == 4)
    assert(rows(spark.table("pempty_dst").filter($"id" === 0).select($"p", $"v")) ==
      Set(Seq(1, "new")))
  }

  test("mergeTables preserves the destination's declared layout") {
    val ddl = Ddl(sortBy = Seq("id"))
    assert(db.createTable("lmerge_dst",
      "SELECT id, 'old' AS v FROM RANGE(5)", ddl).isRight)
    Seq((2L, "new")).toDF("id", "v").write.saveAsTable("lmerge_src")
    assert(db.mergeTables("lmerge_src", "lmerge_dst", "id", ddl).isRight)
    assert(spark.table("lmerge_dst").count() == 5)
    assert(rows(spark.table("lmerge_dst").filter($"id" === 2).select($"v")) ==
      Set(Seq("new")))
  }

  test("multiple unique tests share one grouping-sets pass (incl. null groups)") {
    val ddl = Ddl(columns = Seq(
      ColumnDdl("a", tests = Seq(UniqueTest)),
      ColumnDdl("b", tests = Seq(UniqueTest)),
      ColumnDdl("c", tests = Seq(NotNullTest))))
    val df = Seq(
      (1L, Some("p"), None: Option[Long]),
      (1L, Some("q"), None),
      (2L, Some("q"), Some(5L)),
      (3L, None, Some(6L)),
      (4L, None, Some(7L))).toDF("a", "b", "c")
    val report = db.violationReport(df, ddl).get
    assert(rows(report) == Set(
      Seq("1", 2L, "unique", "a"),
      Seq("q", 2L, "unique", "b"),
      Seq(null, 2L, "unique", "b"),
      Seq(null, 2L, "not_null", "c")))
    // the two unique tests run as ONE grouping-sets aggregation: exactly
    // one Expand in the optimized plan (N groupBys would have none but N
    // separate exchanges over N scans)
    val plan = report.queryExecution.optimizedPlan.toString
    assert(plan.split("Expand").length - 1 == 1, plan)
  }

  test("moveTable keeps the destination alive when the rename fails") {
    assert(db.replaceTable("atomic_dst", "SELECT 1 AS x").isRight)
    // src missing → ALTER TABLE RENAME throws → backup must be restored
    assert(db.moveTable("no_such_src_table", "atomic_dst").isLeft)
    assert(db.tableExists("atomic_dst"))
    assert(rows(spark.table("atomic_dst")) == Set(Seq(1)))
  }

  test("moveTable swaps through the catalog: no SQL command, 2 renames and 1 drop") {
    assert(db.replaceTable("cat_src", "SELECT 1 AS x").isRight)
    assert(db.replaceTable("cat_dst", "SELECT 99 AS x").isRight)
    var events = Seq.empty[org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent]
    val commands = commandsRunBy {
      events = catalogEventsBy(assert(db.moveTable("cat_src", "cat_dst").isRight))
    }
    assert(commands.isEmpty, commands)
    import org.apache.spark.sql.catalyst.catalog.{DropTableEvent, RenameTableEvent}
    val backup = db.tmpName("cat_dst", "backup_")
    assert(events.collect { case RenameTableEvent(_, from, to) => (from, to) } ==
      Seq("cat_dst" -> backup, "cat_src" -> "cat_dst"))
    assert(events.collect { case DropTableEvent(_, name) => name } == Seq(backup))
    assert(rows(spark.table("cat_dst")) == Set(Seq(1)))
    assert(!db.tableExists("cat_src") && !db.tableExists(backup))
    // with no destination, the swap is one rename and still no command
    assert(db.replaceTable("cat_src2", "SELECT 2 AS x").isRight)
    assert(commandsRunBy(assert(db.moveTable("cat_src2", "cat_new").isRight)).isEmpty)
    assert(rows(spark.table("cat_new")) == Set(Seq(2)))
  }

  test("a table cached with CACHE TABLE returns the new rows after a swap") {
    assert(db.replaceTable("cached_t", "SELECT 1 AS x").isRight)
    spark.sql("CACHE TABLE cached_t")
    val overCache = spark.table("cached_t").filter("x > 0")
    overCache.cache()
    assert(rows(spark.table("cached_t")) == Set(Seq(1)))
    assert(rows(overCache) == Set(Seq(1)))
    assert(db.replaceTable("cached_t", "SELECT 2 AS x").isRight)
    assert(rows(spark.table("cached_t")) == Set(Seq(2)))
    assert(rows(spark.sql("SELECT x FROM cached_t")) == Set(Seq(2)))
    assert(!spark.catalog.isCached("cached_t"))
  }

  test("a backup table left by an interrupted swap does not fail the next swap") {
    assert(db.replaceTable("left_t", "SELECT 1 AS x").isRight)
    val backup = db.tmpName("left_t", "backup_")
    assert(db.createTable(backup, "SELECT 0 AS x").isRight)
    assert(db.replaceTable("left_t", "SELECT 2 AS x").isRight)
    assert(rows(spark.table("left_t")) == Set(Seq(2)))
    assert(!db.tableExists(backup))
  }

  test("a publish whose frame fails mid-write keeps the old rows, leaves no directory") {
    assert(db.replaceTable("fail_t", "SELECT id FROM RANGE(3)").isRight)
    val dir = tableDir("fail_t")
    val r = db.replaceTable("fail_t",
      "SELECT CASE WHEN id = 2 THEN raise_error('boom') ELSE id END AS id FROM RANGE(5)")
    assert(r.isLeft, r)
    assert(r.left.exists(_.toString.contains("boom")), r)
    assert(rows(spark.table("fail_t")) == Set(Seq(0L), Seq(1L), Seq(2L)))
    assert(tableDir("fail_t") == dir)
    assert(tmpDirsOf("fail_t").isEmpty, tmpDirsOf("fail_t"))
  }

  test("loadDataFrame replace with a frame that fails mid-write keeps the old rows") {
    assert(db.loadDataFrame(spark.range(3).toDF("id"), "load_fail_t", replace = true).isRight)
    val dir = tableDir("load_fail_t")
    // default partitions: the other tasks of the failed job can still be
    // running when the failing one ends the write, and no staging
    // directory may be left once they have
    val r = db.loadDataFrame(spark.sql(
      "SELECT CASE WHEN id = 2 THEN raise_error('boom') ELSE id END AS id FROM RANGE(5)"),
      "load_fail_t", replace = true)
    assert(r.isLeft, r)
    assert(r.left.exists(_.toString.contains("boom")), r)
    assert(rows(spark.table("load_fail_t")) == Set(Seq(0L), Seq(1L), Seq(2L)))
    assert(tableDir("load_fail_t") == dir)
    assert(tmpDirsOf("load_fail_t").isEmpty, tmpDirsOf("load_fail_t"))
  }

  /** The delta's measured bytes and the anti-join plans of the merge of a
    * staged 100-row delta into a 2,000-row table under a broadcast
    * threshold of `threshold` bytes, after checking the rows it leaves. The delta is a join of two
    * ranges, which Spark estimates as the product of its sides: far over
    * 64 KB, however few bytes it holds.
    */
  private def mergePlans(table: String, threshold: Long): (Long, Seq[String]) = {
    assert(db.replaceTable(table, "SELECT id AS k, id AS v FROM RANGE(2000)").isRight)
    val delta = Stage.materialize(spark.sql(
      "SELECT a.id * 20 AS k, -b.id AS v FROM RANGE(100) a JOIN RANGE(100) b ON a.id = b.id"))
    assert(delta.queryExecution.optimizedPlan.stats.sizeInBytes > 64 * 1024)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, threshold)
    val plans =
      try executedPlansBy(assert(db.mergeDelta(delta, table, "k").isRight))
      finally spark.conf.set(key, prev)
    assert(spark.table(table).count() == 2000)
    assert(spark.table(table).where("v < 0").count() == 99)
    (GraftSqlBridge.checkpointedBytes(delta).get, plans.filter(_.contains("LeftAnti")))
  }

  test("an unpartitioned merge broadcasts a staged delta measured under the threshold") {
    val (bytes, plans) = mergePlans("bc_small_t", 64 * 1024)
    assert(bytes <= 64 * 1024 && plans.nonEmpty, bytes)
    plans.foreach { p =>
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti, BuildRight"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("an unpartitioned merge plans a staged delta measured over the threshold as before") {
    val (bytes, plans) = mergePlans("bc_large_t", 1024)
    assert(bytes > 1024 && plans.nonEmpty, bytes)
    plans.foreach { p =>
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("Exchange hashpartitioning"), p)
    }
  }

  /** Leave behind what a publish of `t` killed after its staging write
    * and its first rename leaves: staging and backup directories, with
    * dst's own directory moved into the backup (`dstPresent = false`) or
    * copied there (`dstPresent = true`, as if killed before the backup's
    * delete). `stage` names the staging directory: `merge_` for a merge.
    */
  private def killedPublish(t: String, dstPresent: Boolean, stage: String = ""): Unit = {
    val dir = tableDir(t)
    val fs = fileSystem(dir)
    val backup = new Path(dir.getParent, s"graft_tmp_backup_${dir.getName}")
    val staging = new Path(dir.getParent, s"graft_tmp_$stage${dir.getName}")
    if (dstPresent)
      assert(FileUtil.copy(fs, dir, fs, backup, false, fs.getConf))
    else assert(fs.rename(dir, backup))
    fs.create(new Path(staging, "part-00000-partial.parquet")).close()
    assert(tmpDirsOf(t).size == 2)
  }

  test("a killed publish's directories are repaired by the next write (dst present)") {
    assert(db.replaceTable("killed_t", "SELECT 1 AS x").isRight)
    killedPublish("killed_t", dstPresent = true)
    assert(db.replaceTable("killed_t", "SELECT x + 1 AS x FROM killed_t").isRight)
    assert(rows(spark.table("killed_t")) == Set(Seq(2)))
    assert(tmpDirsOf("killed_t").isEmpty, tmpDirsOf("killed_t"))
  }

  test("a killed publish's directories are repaired by the next write (dst missing)") {
    assert(db.replaceTable("killed2_t", "SELECT 1 AS x").isRight)
    killedPublish("killed2_t", dstPresent = false)
    // until the next write, readers see an empty table (the kill window)
    spark.catalog.refreshTable("killed2_t")
    assert(spark.table("killed2_t").count() == 0)
    // the next write restores the backup before it reads the table, so a
    // self-referencing SELECT sees the old rows
    assert(db.replaceTable("killed2_t", "SELECT x + 1 AS x FROM killed2_t").isRight)
    assert(rows(spark.table("killed2_t")) == Set(Seq(2)))
    assert(tmpDirsOf("killed2_t").isEmpty, tmpDirsOf("killed2_t"))
    // and a merge after a kill keeps every old row
    killedPublish("killed2_t", dstPresent = false, stage = "merge_")
    assert(db.mergeQuery("killed2_t", "SELECT 5 AS x", "x").isRight)
    assert(rows(spark.table("killed2_t")) == Set(Seq(2), Seq(5)))
    assert(tmpDirsOf("killed2_t").isEmpty, tmpDirsOf("killed2_t"))
  }

  test("bucketed tables (cluster ddl) join without a shuffle exchange") {
    val ddl = Ddl(clusterBy = Seq("id"), buckets = 4)
    assert(db.createTable("bk_left",
      "SELECT id, id * 2 AS a FROM RANGE(1000)", ddl).isRight)
    assert(db.createTable("bk_right",
      "SELECT id, id * 3 AS b FROM RANGE(1000)", ddl).isRight)
    // small fixtures would broadcast (also shuffle-free, but that proves
    // nothing about bucketing) — force the sort-merge path to show the
    // co-located join: both sides pre-bucketed on the key with the same
    // bucket count need NO shuffle exchange, the point of cluster/bucket
    // DDL at 100 TB where neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_left")
        .join(spark.table("bk_right"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("post hooks fire exactly once, after the destination swap") {
    val ddl = Ddl(postHooks = Seq(
      "INSERT INTO hook_log SELECT COUNT(*) FROM hook_t"))
    assert(db.execute("CREATE TABLE hook_log (n BIGINT)").isRight)
    assert(db.replaceTable("hook_t", "SELECT 1 AS x UNION ALL SELECT 2", ddl).isRight)
    // one hook row, and it observed the final table (2 rows), not a tmp
    assert(rows(spark.table("hook_log")) == Set(Seq(2L)))
    assert(db.mergeQuery("hook_t", "SELECT 3 AS x", "x", ddl).isRight)
    assert(spark.table("hook_log").count() == 2)
  }

  test("standard tests: pass on clean data") {
    Seq((1L, "a"), (2L, "b")).toDF("id", "cat").write.saveAsTable("clean_t")
    val ddl = Ddl(columns = Seq(
      ColumnDdl("id", tests = Seq(UniqueTest, NotNullTest)),
      ColumnDdl("cat", tests = Seq(AllowedValuesTest(Seq("a", "b"))))))
    assert(db.standardTests("clean_t", ddl).isRight)
  }

  test("standard tests: report duplicates, nulls, out-of-domain values") {
    Seq((Some(1L), "a"), (Some(1L), "b"), (None, "zzz"))
      .toDF("id", "cat").write.saveAsTable("dirty_t")
    val ddl = Ddl(columns = Seq(
      ColumnDdl("id", tests = Seq(UniqueTest, NotNullTest)),
      ColumnDdl("cat", tests = Seq(AllowedValuesTest(Seq("a", "b"))))))
    val Left(e: TestFailed) = db.standardTests("dirty_t", ddl)
    val report = e.offending.mkString("\n")
    assert(report.contains("unique"))
    assert(report.contains("not_null") || report.contains("allowed_values"))
  }

  test("custom test passes iff query returns no rows") {
    assert(db.customTest("SELECT 1 WHERE 1 = 0").isRight)
    assert(db.customTest("SELECT 1").isLeft)
  }

  test("partitioned create lays out partition directories") {
    val ddl = Ddl(partitionBy = Seq("p"))
    assert(db.createTable(
      "part_t", "SELECT id, id % 2 AS p FROM RANGE(10)", ddl).isRight)
    assert(spark.table("part_t").count() == 10)
    // partition column present in catalog partitioning
    val cat = spark.sql("DESCRIBE TABLE EXTENDED part_t").collect().map(_.getString(0))
    assert(cat.contains("# Partition Information"))
  }

  test("compactTable rewrites fragmented files losslessly, no-ops when compact") {
    spark.range(1000).toDF("id").repartition(16)
      .write.mode("overwrite").saveAsTable("compact_t")
    assert(spark.table("compact_t").inputFiles.length == 16)
    val r = db.compactTable("compact_t", targetRowsPerFile = 500L)
    assert(r == Right((16L, 2L, 1000L)))
    assert(spark.table("compact_t").inputFiles.length == 2)
    // content survives byte-identical
    assert(spark.table("compact_t").select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
    // already at/below target → reported as-is, nothing rewritten
    assert(db.compactTable("compact_t", 500L) == Right((2L, 2L, 1000L)))
    // invalid target is a typed error, not an exception
    assert(db.compactTable("compact_t", 0L).isLeft)
  }
}

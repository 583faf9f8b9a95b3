package graft.db

import graft.SparkSpec
import graft.core.DbObjectCompiler
import graft.tasks.{CopyTask, RunArguments, TaskContext}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The write paths on the Hive catalog that `graft run` and the benchmark
  * run on (a Derby metastore), where every catalog mutation is a metastore
  * commit. Runs in a forked JVM of its own (build.sbt).
  */
class HiveCatalogSpec extends SparkSpec {

  override protected def hiveCatalog: Boolean = true

  lazy val db = new SparkDatabase(spark)
  import spark.implicits._

  /** Runs `write`, then pins a directory-swap publish: no create, rename or
    * drop, at most one AlterTable, and no command but the data write.
    */
  private def assertPublished(write: => Unit): Unit = {
    var events = Seq.empty[ExternalCatalogEvent]
    val commands = commandsRunBy { events = catalogEventsBy(write) }
    val m = mutations(events)
    assert(m.filterNot(_ == "alter").isEmpty && m.count(_ == "alter") <= 1, events)
    assert(commands.size == 1 &&
      commands.head.startsWith("InsertIntoHadoopFsRelationCommand"), commands)
  }

  /** `t`'s catalog size estimate and the bytes of its data files. */
  private def sizes(t: String): (BigInt, Long) = {
    val dir = tableDir(t)
    val files = fileSystem(dir).listStatus(dir)
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
    (GraftSqlBridge.catalogTable(spark, t).get.stats.get.sizeInBytes, files.map(_.getLen).sum)
  }

  test("the session runs on the Hive catalog") {
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
  }

  test("a same-schema replaceTable swaps the directory and updates the statistics") {
    assert(db.replaceTable("h_rep", "SELECT id, 'a' AS v FROM RANGE(10)").isRight)
    val dir = tableDir("h_rep")
    assertPublished(assert(
      db.replaceTable("h_rep", "SELECT id, repeat('b', 100) AS v FROM RANGE(50)").isRight))
    assert(spark.table("h_rep").count() == 50)
    assert(tableDir("h_rep") == dir)
    val (stats, bytes) = sizes("h_rep")
    assert(stats == BigInt(bytes), (stats, bytes))
    assert(tmpDirsOf("h_rep").isEmpty)
  }

  test("an unpartitioned merge swaps the directory") {
    assert(db.replaceTable("h_merge", "SELECT id, 'old' AS v FROM RANGE(5)").isRight)
    assertPublished(assert(
      db.mergeQuery("h_merge", "SELECT id, 'new' AS v FROM RANGE(3, 8)", "id").isRight))
    assert(rows(spark.table("h_merge")) ==
      (0L until 3L).map(i => Seq(i, "old")).toSet ++ (3L until 8L).map(i => Seq(i, "new")))
    val (stats, bytes) = sizes("h_merge")
    assert(stats == BigInt(bytes), (stats, bytes))
    assert(tmpDirsOf("h_merge").isEmpty)
  }

  test("a full copy swaps the directory") {
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.saveAsTable("h_copy_src")
    def copy(): Unit = {
      val ctx = new TaskContext("h_copy", "test", db, new DbObjectCompiler("spark"),
        Map.empty, RunArguments())
      val task = new CopyTask
      val r = for {
        _ <- task.config(ctx, Map("source" -> "h_copy_src", "destination" -> "h_copy_dst"))
        _ <- task.setup()
        _ <- task.run()
      } yield ()
      assert(r.isRight, r)
    }
    copy()
    Seq((3L, "c")).toDF("id", "v").write.mode("append").insertInto("h_copy_src")
    assertPublished(copy())
    assert(rows(spark.table("h_copy_dst")) == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(tmpDirsOf("h_copy_dst").isEmpty)
  }

  test("a table cached with CACHE TABLE returns the new rows after a publish") {
    assert(db.replaceTable("h_cached", "SELECT 1 AS x").isRight)
    spark.sql("CACHE TABLE h_cached")
    assert(rows(spark.table("h_cached")) == Set(Seq(1)))
    assertPublished(assert(db.replaceTable("h_cached", "SELECT 2 AS x").isRight))
    assert(rows(spark.table("h_cached")) == Set(Seq(2)))
    assert(rows(spark.sql("SELECT x FROM h_cached")) == Set(Seq(2)))
    assert(!spark.catalog.isCached("h_cached"))
  }

  test("a schema change takes the catalog path and reads the new schema") {
    assert(db.replaceTable("h_schema", "SELECT 1 AS x").isRight)
    val events = catalogEventsBy(assert(
      db.replaceTable("h_schema", "SELECT 1 AS x, 'y' AS y").isRight))
    assert(mutations(events).count(_ == "create") == 1, events)
    assert(mutations(events).count(_ == "rename") == 2, events)
    assert(spark.table("h_schema").columns.toSeq == Seq("x", "y"))
    assert(rows(spark.table("h_schema")) == Set(Seq(1, "y")))
    assert(tmpDirsOf("h_schema").isEmpty)
  }

  test("replaceView replaces an existing view with one AlterTable") {
    assert(db.replaceTable("h_view_src", "SELECT 1 AS x").isRight)
    assert(db.replaceView("h_view", "SELECT x FROM h_view_src").isRight)
    val events = catalogEventsBy(assert(
      db.replaceView("h_view", "SELECT x, x + 1 AS y FROM h_view_src").isRight))
    assert(mutations(events) == Seq("alter"), events)
    assert(rows(spark.table("h_view")) == Set(Seq(1, 2)))
  }
}

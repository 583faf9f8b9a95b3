package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Entry, QueryFile}
import graft.core.DbObjectCompiler
import graft.db.{AllowedValuesTest, ColumnDdl, Ddl, SparkDatabase, UniqueTest}
import graft.tasks.{CopyTask, RunArguments, TaskContext}

/** End-to-end oracle coverage for the ETL/materialisation layer (VERDICT
  * "Oracle-cover the ETL layer"): each entry drives the REAL engine
  * operator — `mergeTables`, `CopyTask`, `violationReport` — against the
  * session catalog and returns the resulting table/report, so a regression
  * in the engine (not just in a query plan) flips the driver's CORRECTNESS
  * gate. The DuckDB oracle re-states each operator's declarative semantics
  * (merge_tables.sql / copy.py projection / standard_tests.sql).
  */
object EtlShapes extends QueryFile {

  private def fail(e: graft.core.GraftError): Nothing =
    throw new RuntimeException(e.toString)

  /** Drop a table AND its warehouse directory. A fresh session's in-memory
    * catalog forgets previous runs' tables while their managed locations
    * persist on disk, and a later saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS — so physical cleanup must not depend on the
    * catalog knowing the name.
    */
  private def dropPhysical(s: SparkSession, tables: String*): Unit = {
    tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    tables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Runs one `CopyTask` as task `name` (config → setup → run, failing on
    * the first error) and reads its `destination` back through the
    * object resolver.
    */
  private def runCopy(s: SparkSession, name: String,
      cfg: Map[String, Any]): DataFrame = {
    val objects = new DbObjectCompiler("spark")
    val ctx = new TaskContext(name, "verify", new SparkDatabase(s), objects,
      Map.empty, RunArguments())
    val task = new CopyTask
    (for {
      _ <- task.config(ctx, cfg)
      _ <- task.setup()
      _ <- task.run()
    } yield ()).left.foreach(fail)
    s.table(objects.fromString(cfg("destination").toString)
      .map(objects.outValue).fold(fail, identity))
  }

  /** q22: upsert semantics of `mergeTables` (anti-join + insert on the
    * delete key, templates/merge_tables.sql:1-12): dst = orders, src =
    * every 7th order with a changed price; result keeps unmatched dst rows
    * and replaces matched keys (tests/test_task_autosql.py:70-115 shape).
    */
  def q22Merge(s: SparkSession, dir: String): DataFrame = {
    val db = new SparkDatabase(s)
    val orders3 = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    dropPhysical(s, "q22_dst", "q22_src",
      "graft_tmp_merge_q22_dst", "graft_tmp_backup_q22_dst")
    orders3.write.mode("overwrite").saveAsTable("q22_dst")
    orders3.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .write.mode("overwrite").saveAsTable("q22_src")
    db.mergeTables("q22_src", "q22_dst", "o_orderkey").left.foreach(fail)
    s.table("q22_dst")
  }

  val q22Sql: String =
    """WITH src AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice
      |             FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = o.o_orderkey)
      |UNION ALL SELECT o_orderkey, o_custkey, o_totalprice FROM src""".stripMargin

  /** q23: full `CopyTask` run — path source, declared columns with
    * rename + cast (`dst_name`, copy.py:625-630), a published write — then
    * read the destination back.
    */
  def q23Copy(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q23_copy_dst",
      "graft_tmp_q23_copy_dst", "graft_tmp_backup_q23_copy_dst")
    runCopy(s, "q23_copy", Map[String, Any](
      "source" -> s"parquet:$dir/orders.parquet",
      "destination" -> "q23_copy_dst",
      "columns" -> Seq(
        Map("name" -> "o_orderkey", "dst_name" -> "order_id"),
        Map("name" -> "o_totalprice", "type" -> "double", "dst_name" -> "amount"),
        Map("name" -> "o_orderpriority", "dst_name" -> "priority"))))
  }

  val q23Sql: String =
    """SELECT o_orderkey AS order_id, CAST(o_totalprice AS DOUBLE) AS amount,
      |  o_orderpriority AS priority
      |FROM orders""".stripMargin

  /** q77: CopyTask over a CSV source — the non-parquet file-source path
    * (`csv:` prefix, header + schema inference + declared-type casts)
    * driver-checked end to end. The CSV is staged once from the orders
    * fixture (memoized; doubles round-trip CSV text exactly via
    * shortest-repr, and the staged columns avoid timestamp-format
    * precision traps by construction).
    */
  private val csvDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageCsv(s: SparkSession, dir: String): String =
    csvDirs.computeIfAbsent(dir, { _ =>
      val staged =
        TempDirs.tempDirCleanedAtExit(None, "graft_csv_src_").toString
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(staged)
      staged
    })

  def q77CopyCsv(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q77_csv_dst",
      "graft_tmp_q77_csv_dst", "graft_tmp_backup_q77_csv_dst")
    runCopy(s, "q77_copy_csv", Map[String, Any](
      "source" -> s"csv:${stageCsv(s, dir)}",
      "destination" -> "q77_csv_dst",
      "columns" -> Seq(
        // declared types pin what CSV inference would leave engine-specific
        Map("name" -> "o_orderkey", "type" -> "bigint", "dst_name" -> "order_id"),
        Map("name" -> "o_custkey", "type" -> "bigint", "dst_name" -> "cust_id"),
        Map("name" -> "o_orderstatus", "dst_name" -> "status"),
        Map("name" -> "o_totalprice", "type" -> "double", "dst_name" -> "amount"))))
  }

  val q77Sql: String =
    """SELECT o_orderkey AS order_id, o_custkey AS cust_id,
      |  o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS amount
      |FROM orders""".stripMargin

  /** q109: CopyTask over a JSONL source — the `json:` file-source path
    * driver-checked end to end (q77's CSV twin). Spark's json writer
    * emits one JSON object per line; doubles round-trip JSON text
    * exactly via shortest-repr, and declared types pin what inference
    * would leave engine-specific. The oracle never reads the staged
    * file: the JSONL is a deterministic projection of `orders`, so the
    * copied table must equal that same projection.
    */
  private val jsonlDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageJsonl(s: SparkSession, dir: String): String =
    jsonlDirs.computeIfAbsent(dir, { _ =>
      val staged =
        TempDirs.tempDirCleanedAtExit(None, "graft_jsonl_src_").toString
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").json(staged)
      staged
    })

  def q109CopyJsonl(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q109_jsonl_dst",
      "graft_tmp_q109_jsonl_dst", "graft_tmp_backup_q109_jsonl_dst")
    runCopy(s, "q109_copy_jsonl", Map[String, Any](
      "source" -> s"json:${stageJsonl(s, dir)}",
      "destination" -> "q109_jsonl_dst",
      "columns" -> Seq(
        Map("name" -> "o_orderkey", "type" -> "bigint", "dst_name" -> "order_id"),
        Map("name" -> "o_custkey", "type" -> "bigint", "dst_name" -> "cust_id"),
        Map("name" -> "o_orderstatus", "dst_name" -> "status"),
        Map("name" -> "o_totalprice", "type" -> "double", "dst_name" -> "amount"))))
  }

  val q109Sql: String = q77Sql // same projection contract as the CSV twin

  /** q143: CopyTask over an ORC source — the remaining `orc:` file-source
    * path (CopyTask.scala:126) driver-checked end to end. Unlike the
    * CSV/JSONL twins, ORC carries its schema: the declared types here
    * exercise the reconciliation no-op (declared == carried), and the
    * column list still drives projection + rename.
    */
  private val orcDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageOrc(s: SparkSession, dir: String): String =
    orcDirs.computeIfAbsent(dir, { _ =>
      val staged =
        TempDirs.tempDirCleanedAtExit(None, "graft_orc_src_").toString
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").orc(staged)
      staged
    })

  def q143CopyOrc(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q143_orc_dst",
      "graft_tmp_q143_orc_dst", "graft_tmp_backup_q143_orc_dst")
    runCopy(s, "q143_copy_orc", Map[String, Any](
      "source" -> s"orc:${stageOrc(s, dir)}",
      "destination" -> "q143_orc_dst",
      "columns" -> Seq(
        Map("name" -> "o_orderkey", "type" -> "bigint", "dst_name" -> "order_id"),
        Map("name" -> "o_custkey", "type" -> "bigint", "dst_name" -> "cust_id"),
        Map("name" -> "o_orderstatus", "dst_name" -> "status"),
        Map("name" -> "o_totalprice", "type" -> "double", "dst_name" -> "amount"))))
  }

  val q143Sql: String = q77Sql // same projection contract as the CSV twin

  /** q33: full incremental CopyTask run — the watermark + delete-key merge
    * path end-to-end (copy.py:632-691 semantics). The destination is
    * pre-seeded with a stale snapshot (rows with upd < 50, zeroed price);
    * the copy extracts src rows with upd >= max(dst.upd) − the reference's
    * `>=` watermark — and upserts them on the order key, so rows at the
    * watermark boundary (upd = 49) refresh and everything below stays
    * stale. Final state is pure SQL for the oracle.
    */
  def q33CopyIncremental(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q33_src", "q33_dst",
      "graft_tmp_q33_dst", "graft_tmp_merge_q33_dst", "graft_tmp_backup_q33_dst")
    val src = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_orderkey") % 100).as("upd"))
    src.write.mode("overwrite").saveAsTable("q33_src")
    src.filter(col("upd") < 50)
      .withColumn("o_totalprice", lit(0.0))
      .write.mode("overwrite").saveAsTable("q33_dst")
    runCopy(s, "q33_copy_inc", Map[String, Any](
      "source" -> "q33_src", "destination" -> "q33_dst",
      "incremental_key" -> "upd", "delete_key" -> "o_orderkey"))
  }

  val q33Sql: String =
    """WITH src AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |  o_orderkey % 100 AS upd FROM orders)
      |SELECT o_orderkey, o_custkey, 0.0 AS o_totalprice, upd FROM src WHERE upd < 49
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, upd FROM src WHERE upd >= 49""".stripMargin

  /** q24: standard column tests as a violation report (standard_tests.sql
    * shape: value, count, test type, column): unique on l_orderkey (fails —
    * lineitem has ~4 rows per order) and allowed_values on l_returnflag
    * restricted to (A, N) (fails on R rows).
    */
  def q24Violations(s: SparkSession, dir: String): DataFrame = {
    val db = new SparkDatabase(s)
    val ddl = Ddl(columns = Seq(
      ColumnDdl("l_orderkey", tests = Seq(UniqueTest)),
      ColumnDdl("l_returnflag", tests = Seq(AllowedValuesTest(Seq("A", "N"))))))
    db.violationReport(Tables(s, dir, "lineitem"), ddl)
      .getOrElse(sys.error("no tests declared"))
  }

  val q24Sql: String =
    """SELECT CAST(l_orderkey AS VARCHAR) AS value, cnt, 'unique' AS test_type,
      |  'l_orderkey' AS column_name
      |FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
      |      GROUP BY 1 HAVING COUNT(*) > 1)
      |UNION ALL
      |SELECT CAST(l_returnflag AS VARCHAR), cnt, 'allowed_values', 'l_returnflag'
      |FROM (SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem
      |      WHERE l_returnflag NOT IN ('A','N') GROUP BY 1)""".stripMargin

  /** q72: the script/materialisation chain end-to-end — a multi-statement
    * `execute` (quote/comment-aware splitting: the quoted ';' and the
    * comment must survive), a CTAS reading the first statement's output,
    * a `replaceTable` publish, and a `replaceView` — then the view is
    * read back. Upgrades execute/create_table/replace_table/replace_view
    * from ScalaTest-only to driver-checked.
    */
  def q72ScriptChain(s: SparkSession, dir: String): DataFrame = {
    val db = new SparkDatabase(s)
    dropPhysical(s, "q72_base", "q72_base2",
      "graft_tmp_q72_base2", "graft_tmp_backup_q72_base2")
    s.sql("DROP VIEW IF EXISTS q72_view")
    Tables(s, dir, "orders").createOrReplaceTempView("q72_src")
    db.execute(
      """-- stage a projected base; the quoted ';' must not split the script
        |CREATE TABLE q72_base AS
        |  SELECT o_custkey, o_orderstatus, o_totalprice, 'a;b' AS tag
        |  FROM q72_src;
        |CREATE TABLE q72_base2 AS
        |  SELECT o_custkey, o_totalprice FROM q72_base WHERE tag = 'a;b'
        |""".stripMargin).left.foreach(fail)
    db.replaceTable("q72_base2",
      "SELECT o_custkey, o_totalprice FROM q72_base WHERE o_totalprice > 1000"
    ).left.foreach(fail)
    db.replaceView("q72_view",
      "SELECT o_custkey, COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total " +
        "FROM q72_base2 GROUP BY o_custkey").left.foreach(fail)
    s.table("q72_view")
  }

  val q72Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
      |FROM orders WHERE o_totalprice > 1000
      |GROUP BY o_custkey""".stripMargin

  // q94: co-located (bucketed) join — both sides written as 8-bucket
  // tables on the join key, so the sort-merge join reads bucket i
  // against bucket i with ZERO exchanges before the join (the layout
  // trade behind `Ddl.clusterBy`: pay the shuffle once at write, join
  // shuffle-free forever after — at 100 TB the difference between
  // re-shuffling the fact table per query and never). hint("merge")
  // pins the sort-merge path so the plan shape is the bucketed one at
  // any SF (a small build side would otherwise broadcast — also
  // exchange-free, but not the layout being demonstrated).
  // BucketingSpec asserts the no-Exchange plan; the oracle only cares
  // that the join result is the plain join's.
  def q94BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q94_lineitem_b", "q94_orders_b")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("q94_lineitem_b")
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("q94_orders_b")
    val li = s.table("q94_lineitem_b")
    val o = s.table("q94_orders_b")
    li.hint("merge")
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double")
          .as("total_price"),
        count(lit(1)).as("n_items"))
  }

  val q94Sql: String =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
      |  COUNT(*) AS n_items
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o_custkey""".stripMargin


  /** q135: CopyTask over a REAL second database — supplier staged into
    * an embedded Derby instance (the JDBC engine already on the
    * classpath), then copied back through the `jdbc:` source with
    * projection + renames. This is the reference's headline feature
    * (cross-warehouse replication, sayn/tasks/copy.py) driven end to
    * end: Spark's JDBC DataSource reads Derby over a real connection,
    * and the oracle never sees Derby — the staged table is a verbatim
    * copy of `supplier`, so the copied result must equal the parquet.
    * (Incremental-watermark pushdown into the remote WHERE is pinned in
    * CopyJdbcSpec.)
    */
  private val derbyDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageDerby(s: SparkSession, dir: String): String =
    derbyDirs.computeIfAbsent(dir, { _ =>
      val db = TempDirs.tempDirCleanedAtExit(None, "graft_derby_")
        .resolve("db")
      val url = s"jdbc:derby:$db"
      Tables(s, dir, "supplier").write.format("jdbc")
        .option("url", s"$url;create=true").option("dbtable", "SUPPLIER")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode("overwrite").save()
      url
    })

  def q135CopyJdbc(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q135_jdbc_dst",
      "graft_tmp_q135_jdbc_dst", "graft_tmp_backup_q135_jdbc_dst")
    runCopy(s, "q135_copy_jdbc", Map[String, Any](
      "source" -> s"${stageDerby(s, dir)}|SUPPLIER",
      "destination" -> "q135_jdbc_dst",
      "columns" -> Seq(
        Map("name" -> "s_suppkey", "type" -> "bigint", "dst_name" -> "supp_id"),
        Map("name" -> "s_name", "dst_name" -> "name"),
        Map("name" -> "s_nationkey", "type" -> "bigint", "dst_name" -> "nation_id"),
        Map("name" -> "s_acctbal", "type" -> "double", "dst_name" -> "balance"))))
  }

  val q135Sql: String =
    """SELECT s_suppkey AS supp_id, s_name AS name,
      |  s_nationkey AS nation_id, CAST(s_acctbal AS DOUBLE) AS balance
      |FROM supplier""".stripMargin


  /** q136: INCREMENTAL CopyTask over the Derby source — the remote
    * nightly shape: destination starts from a stale slice, the copy
    * reads only past-watermark rows from the remote database (the
    * predicate lands in Derby's WHERE via JDBC pushdown, CopyJdbcSpec)
    * and delete-key-merges them in. Shares q33's algebra on a remote
    * source: the result must equal the fresh-rows-over-stale union.
    */
  private val derbyIncDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def stageDerbyInc(s: SparkSession, dir: String): String =
    derbyIncDirs.computeIfAbsent(dir, { _ =>
      val db = TempDirs.tempDirCleanedAtExit(None, "graft_derby_inc_")
        .resolve("db")
      val url = s"jdbc:derby:$db"
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (col("o_orderkey") % 100).as("upd"))
        .write.format("jdbc")
        .option("url", s"$url;create=true").option("dbtable", "ORDERS_SRC")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode("overwrite").save()
      url
    })

  def q136CopyJdbcIncremental(s: SparkSession, dir: String): DataFrame = {
    dropPhysical(s, "q136_jdbc_dst", "graft_tmp_q136_jdbc_dst",
      "graft_tmp_merge_q136_jdbc_dst", "graft_tmp_backup_q136_jdbc_dst")
    // stale destination: watermark values < 50 with zeroed prices
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        (col("o_orderkey") % 100).as("upd"))
      .filter(col("upd") < 50)
      .withColumn("o_totalprice", lit(0.0))
      .write.mode("overwrite").saveAsTable("q136_jdbc_dst")
    runCopy(s, "q136_copy_jdbc_inc", Map[String, Any](
      "source" -> s"${stageDerbyInc(s, dir)}|ORDERS_SRC",
      "destination" -> "q136_jdbc_dst",
      "incremental_key" -> "upd", "delete_key" -> "o_orderkey"))
  }

  val q136Sql: String =
    """WITH src AS (SELECT o_orderkey, o_custkey, o_totalprice,
      |  o_orderkey % 100 AS upd FROM orders)
      |SELECT o_orderkey, o_custkey, 0.0 AS o_totalprice, upd FROM src WHERE upd < 49
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, upd FROM src WHERE upd >= 49""".stripMargin

  /** q188: small-file compaction — a lineitem projection written
    * deliberately fragmented (48 files), then `compactTable` rewrites
    * it to ~3 files through the publish swap, and the destination reads
    * back content-identical (the oracle only cares that compaction is
    * LOSSLESS; the file-count mechanics are asserted in
    * SparkDatabaseSpec).
    */
  def q188Compact(s: SparkSession, dir: String): DataFrame = {
    val db = new SparkDatabase(s)
    dropPhysical(s, "q188_frag",
      "graft_tmp_q188_frag", "graft_tmp_backup_q188_frag")
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .repartition(48)
      .write.saveAsTable("q188_frag")
    db.compactTable("q188_frag", targetRowsPerFile = 20000L).left.foreach(fail)
    s.table("q188_frag")
  }

  val q188Sql: String =
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem"

  def entries: Seq[Entry] = Seq(
    Entry("q188_compact", q188Compact, Some(q188Sql), mutating = true),
    Entry("q22_merge", q22Merge, Some(q22Sql), mutating = true),
    Entry("q23_copy", q23Copy, Some(q23Sql), mutating = true),
    Entry("q24_violations", q24Violations, Some(q24Sql)),
    Entry("q33_copy_incremental", q33CopyIncremental, Some(q33Sql), mutating = true),
    Entry("q72_script_chain", q72ScriptChain, Some(q72Sql), mutating = true),
    Entry("q77_copy_csv", q77CopyCsv, Some(q77Sql), mutating = true),
    Entry("q94_bucketed_join", q94BucketedJoin, Some(q94Sql), mutating = true),
    Entry("q109_copy_jsonl", q109CopyJsonl, Some(q109Sql), mutating = true),
    Entry("q135_copy_jdbc", q135CopyJdbc, Some(q135Sql), mutating = true),
    Entry("q136_copy_jdbc_incremental", q136CopyJdbcIncremental, Some(q136Sql), mutating = true),
    Entry("q143_copy_orc", q143CopyOrc, Some(q143Sql), mutating = true))
}

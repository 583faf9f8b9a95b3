package graft.db

import graft.core.{DbError, Result, TestFailed}
import graft.core.Result.Result
import graft.pipeline.Stage
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The engine's single "warehouse connection": every ETL/materialisation
  * operator from SURVEY §2a, executed through the Spark session catalog.
  *
  * Where the reference compiles SQL strings per dialect
  * (sayn/database/__init__.py), this layer goes straight to DataFrame
  * actions so Catalyst plans the physical execution (pushdown, pruning,
  * join selection, AQE). SQL-text entry points remain (`execute`,
  * `readData`) because user tasks are SQL-first.
  */
final class SparkDatabase(val spark: SparkSession) {

  /** Name prefix of every staging table and temp view this layer creates. */
  private val tmpPrefix = "graft_tmp_"

  /** Catalog DDL without SQL text: renames, drops, and the schema (Spark
    * database) of a qualified name created on demand — the engine analog
    * of the reference's `CREATE SCHEMA` feature handling.
    */
  private lazy val catalogDdl = new GraftSqlBridge.CatalogDdl(spark)

  // ---- raw SQL surface (§2a rows 1-3) ----------------------------------

  /** Run a multi-statement script: split on top-level `;`
    * (sayn/database/__init__.py:441-448).
    */
  def execute(script: String): Result[Unit] =
    Result.sequence(splitStatements(script).map(st =>
      Result.attempt(spark.sql(st)))).map(_ => ())

  /** SELECT → local rows; tests/small results only
    * (sayn/database/__init__.py:450-467).
    */
  def readData(query: String): Result[Seq[Row]] =
    Result.attempt(spark.sql(query).collect().toSeq)

  /** Lazy query handle — the Spark analog of the reference's server-side
    * cursor stream (sayn/database/__init__.py:469-489).
    */
  def readDataStream(query: String): Result[DataFrame] =
    Result.attempt(spark.sql(query))

  // ---- loading (§2a rows 4-5) ------------------------------------------

  /** Bulk load a DataFrame into a table. Replaces the reference's
    * batched-INSERT and four warehouse-native bulk paths
    * (sayn/database/__init__.py:513-587) with one distributed parquet
    * write — bulk by construction, no driver-side batching.
    */
  def loadDataFrame(
      df: DataFrame,
      table: String,
      replace: Boolean = false,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt {
      catalogDdl.ensureDatabase(table)
      val mode = if (replace) SaveMode.Overwrite else SaveMode.Append
      if (!replace && spark.catalog.tableExists(table)) {
        // append aligns by name (schema reconciliation, copy.py:543-630)
        val cols = spark.table(table).columns
        df.select(cols.map(col).toIndexedSeq: _*)
          .write.mode(mode).insertInto(table)
      } else {
        writer(applySort(df, ddl), ddl).mode(mode).saveAsTable(table)
      }
    }

  /** Row-wise load used by user tasks (the reference's `load_data`,
    * sayn/database/__init__.py:513-587).
    */
  def loadData(
      rows: Seq[Row],
      schema: org.apache.spark.sql.types.StructType,
      table: String,
      replace: Boolean = false): Result[Unit] =
    Result.attempt(
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
    ).flatMap(loadDataFrame(_, table, replace))

  // ---- materialisation (§2a rows 6-11) -----------------------------------

  /** CTAS with physical layout (sayn/database/__init__.py:633-676,
    * templates/create_table.sql). Declared column types are applied as
    * casts; partition/cluster/sort map to partitionBy/bucketBy/
    * sortWithinPartitions. UNIQUE/NOT NULL are not enforced by Spark —
    * they surface via `standardTests`.
    *
    * Post hooks are NOT fired here: the materialisation entry points
    * (`replaceTable`/`replaceView`/`mergeQuery`) run them exactly once,
    * after the destination swap, so hooks never observe a tmp table.
    */
  def createTable(
      table: String,
      select: String,
      ddl: Ddl = Ddl.empty,
      replace: Boolean = false): Result[Unit] =
    Result.attempt {
      catalogDdl.ensureDatabase(table)
      val mode = if (replace) SaveMode.Overwrite else SaveMode.ErrorIfExists
      writer(applySort(typed(spark.sql(select), ddl), ddl), ddl)
        .mode(mode).saveAsTable(table)
    }

  /** Declared types → casts, declared order → projection; the frame as
    * it is when no column declares a type.
    */
  private def typed(df: DataFrame, ddl: Ddl): DataFrame =
    if (!ddl.columns.exists(_.dataType.isDefined)) df
    else df.select(ddl.columns.map { c =>
      c.dataType.fold(col(c.name))(t => col(c.name).cast(Ddl.sparkType(t)).as(c.name))
    }.toIndexedSeq: _*)

  /** Full-refresh materialisation (sayn/database/__init__.py:747-787).
    * CTAS into a tmp table, then [[moveTable]] swaps it in: two session-
    * catalog renames and one drop, no SQL command. A failure in the write
    * or the swap leaves the old table readable under `table`, never a
    * missing or partial destination (the reference's tmp-swap guarantee),
    * and a self-referencing SELECT reads the old table while it writes the
    * tmp one. Cached plans over `table` are un-cached by name in the swap,
    * so readers see the new rows.
    */
  def replaceTable(
      table: String,
      select: String,
      ddl: Ddl = Ddl.empty): Result[Unit] = {
    val tmp = tmpName(table)
    for {
      _ <- createTable(tmp, select, ddl, replace = true)
      _ <- moveTable(tmp, table)
      _ <- runHooks(ddl)
    } yield ()
  }

  /** (Re)create a view over the compiled SELECT
    * (sayn/database/__init__.py:789-817).
    */
  def replaceView(view: String, select: String, ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt {
      catalogDdl.ensureDatabase(view)
      spark.sql(s"CREATE OR REPLACE VIEW $view AS $select"); ()
    }.flatMap(_ => runHooks(ddl))

  /** Upsert src into dst on `deleteKey`: delete matching dst rows, insert
    * all src rows (sayn/database/__init__.py:678-699,
    * templates/merge_tables.sql). Drops src afterwards like the reference
    * (cleanup=true). The src table is read as the delta of
    * [[mergeDelta]], which holds the merge itself.
    */
  def mergeTables(
      src: String, dst: String, deleteKey: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    for {
      _ <- Result.attempt(spark.table(src)).flatMap(mergeDelta(_, dst, deleteKey, ddl))
      _ <- Result.attempt(catalogDdl.drop(src))
    } yield ()

  /** Upsert the rows of `delta` into the existing table `dst` on
    * `deleteKey` (the merge of [[mergeTables]], without a src table).
    * `delta` is read more than once (keys, anti-join, insert), so it must
    * be stable: a table scan, or a frame staged with
    * [[graft.pipeline.Stage.materialize]]. A live query would be
    * re-evaluated per read — twice-drawn non-deterministic keys, or a
    * self-referencing SELECT that sees dst mid-merge. dst's partition
    * columns come from one catalog fetch.
    *
    * Scale path: when the destination is partitioned, only the partitions
    * touched by the delta are rewritten (dynamic partition overwrite) —
    * an incremental run that ingests 0.1% of rows must not rewrite 100%
    * of a 100 TB table. "Touched" includes partitions holding dst rows
    * whose `deleteKey` reappears in the delta under a different partition
    * value, so a key that moves between partitions never leaves a stale
    * duplicate behind (matches the reference's whole-table DELETE,
    * templates/merge_tables.sql). Finding those costs one scan of dst
    * (semi-join against the distinct delta keys) but rewrites nothing
    * extra. A touched partition that empties entirely is cleared
    * explicitly (dynamic overwrite only replaces partitions present in
    * the written data, so an emptied one would otherwise keep its stale
    * files).
    *
    * Atomicity: the partitioned path commits each touched partition via
    * Spark's job commit — a failure mid-commit can leave a subset of
    * touched partitions replaced while others are stale, and concurrent
    * readers may observe that mix. Weaker than the unpartitioned
    * tmp+swap guarantee; the trade for not rewriting the full table.
    * Fallback (unpartitioned dst): anti-join + unionByName → tmp
    * (written with the declared layout) → swap. docs/ACID_MERGE.md
    * describes how an ACID table format would close the commit window.
    */
  def mergeDelta(
      delta: DataFrame, dst: String, deleteKey: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(lookup(dst).getOrElse(
      throw new IllegalStateException(s"mergeDelta: destination $dst does not exist")))
      .flatMap(t => mergeInto(delta, dst, t.partitionColumnNames, deleteKey, ddl))

  /** [[mergeDelta]] once dst's partition columns are known. */
  private def mergeInto(
      delta: DataFrame, dst: String, partCols: Seq[String], deleteKey: String,
      ddl: Ddl): Result[Unit] = {
    val partitionMerge = Result.attempt {
      // isolated session for the partitioned path: same SparkContext,
      // SAME catalog/warehouse (SharedState), but a PRIVATE SQLConf —
      // dynamic partition overwrite is scoped to this merge and can
      // neither leak into nor be clobbered by tasks the parallel executor
      // runs concurrently on the main session. (A writer-level
      // .option("partitionOverwriteMode", ...) is not forwarded by
      // insertInto, and a shared-session conf.set is exactly the race
      // the r3 review flagged.) The write runs in the session of the
      // join's dst side; the staged delta joins in from `spark`.
      val session =
        if (partCols.isEmpty) spark
        else {
          val s = spark.newSession()
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          s
        }
      val dstDf = session.table(dst)
      val dstCols = dstDf.columns.toIndexedSeq
      val srcAligned = delta.select(dstCols.map(col): _*)
      if (partCols.nonEmpty) {
        // touched = partitions present in the delta ∪ partitions of dst
        // rows whose delete key is in the delta (the key may have MOVED
        // partitions between runs — its old partition must be rewritten
        // too or the stale row survives); dynamic overwrite then replaces
        // exactly those partitions
        val srcKeys = srcAligned.select(col(deleteKey)).distinct()
        val movedParts = dstDf.join(srcKeys, Seq(deleteKey), "left_semi")
          .select(partCols.map(col): _*).distinct()
        val touchedRows = srcAligned.select(partCols.map(col): _*)
          .union(movedParts).distinct()
          .collect() // bounded: one tuple per partition touched by this batch
        // literal OR-of-ANDs predicate → STATIC partition pruning on the
        // dst scan (only touched partitions are read, no runtime DPP needed)
        val touchedPred = touchedRows.toIndexedSeq.map { r =>
          partCols.zipWithIndex
            .map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduceOption(_ || _).getOrElse(lit(false))
        val merged = dstDf.filter(touchedPred)
          .join(srcAligned, Seq(deleteKey), "left_anti")
          .unionByName(srcAligned)
          .select(dstCols.map(col): _*) // insertInto is positional
          .cache() // bounded by the incremental batch's touched partitions
        try {
          val remaining = merged.select(partCols.map(col): _*).distinct()
            .collect().map(_.toSeq).toSet
          // dynamic overwrite via the isolated session's conf (see above):
          // replaces exactly the partitions present in `merged`
          merged.write.mode(SaveMode.Overwrite).insertInto(dst)
          // a touched partition whose rows ALL merged away (every key moved
          // or was replaced elsewhere) appears nowhere in the written data,
          // so dynamic overwrite leaves its old files — DROP each such
          // partition (metadata + data for managed tables). Non-null
          // partition values only — null partition keys fall outside the
          // reference's merge contract.
          touchedRows.filterNot(r => remaining.contains(r.toSeq)).foreach { r =>
            val spec = partCols.zipWithIndex.map { case (c, i) =>
              s"$c=${sqlLiteral(r.get(i))}"
            }.mkString(", ")
            spark.sql(s"ALTER TABLE $dst DROP IF EXISTS PARTITION ($spec)")
          }
        } finally merged.unpersist()
        None
      } else {
        val merged = dstDf
          .join(srcAligned, Seq(deleteKey), "left_anti")
          .unionByName(srcAligned)
        // distinct stage name: a caller's src table may be tmpName(dst)
        val tmp = tmpName(dst, "merge_")
        writer(applySort(merged, ddl), ddl)
          .mode(SaveMode.Overwrite).saveAsTable(tmp)
        Some(tmp)
      }
    }
    partitionMerge.flatMap(_.map(moveTable(_, dst)).getOrElse(Right(())))
  }

  /** Incremental materialisation (sayn/database/__init__.py:819-846): the
    * SELECT, cast to the declared types, is evaluated once and staged with
    * [[graft.pipeline.Stage.materialize]] — no tmp catalog table — then
    * merged into the destination by [[mergeDelta]]. Staging makes a
    * self-referencing SELECT safe and keeps non-deterministic keys
    * consistent between the delete and the insert. Creates the
    * destination outright when missing; one catalog fetch answers both
    * that and dst's partition layout.
    */
  def mergeQuery(
      table: String,
      select: String,
      deleteKey: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(lookup(table)).flatMap {
      case None => replaceTable(table, select, ddl)
      case Some(t) =>
        for {
          delta <- Result.attempt(Stage.materialize(typed(spark.sql(select), ddl)))
          _ <- mergeInto(delta, table, t.partitionColumnNames, deleteKey, ddl)
          _ <- runHooks(ddl)
        } yield ()
    }

  /** Rename/swap (sayn/database/__init__.py:701-743,
    * templates/move_table.sql), on the session catalog directly (see
    * [[GraftSqlBridge.CatalogDdl]]): no SQL command is parsed or planned.
    *
    * Guarantee: no single failure leaves a table destination absent or
    * partial; a failed swap leaves the old table readable under `dst`. A
    * table destination is renamed to a backup, src is renamed to `dst`, and
    * the backup is dropped: two renames and one drop. When the second
    * rename throws (src missing included), the backup is renamed back
    * first. A backup left behind by an interrupted swap makes the first
    * rename fail with `TableAlreadyExistsException`; it is dropped and the
    * rename retried. A view destination cannot back a rename, so it is
    * dropped, but only after src is found, leaving a missing-src failure
    * with the view intact. With no destination, src is renamed outright.
    * Every name renamed away or dropped is un-cached by name first, so a
    * cached `dst` (`CACHE TABLE`) returns the new rows after the swap.
    * One catalog fetch answers dst's type; index recreation is a no-op on
    * Spark.
    */
  def moveTable(src: String, dst: String): Result[Unit] =
    Result.attempt {
      objectType(dst) match {
        case Some("view") =>
          if (!tableExists(src))
            throw new IllegalStateException(s"moveTable: source $src does not exist")
          catalogDdl.drop(dst)
          catalogDdl.rename(src, dst)
        case Some(_) =>
          val backup = tmpName(dst, "backup_")
          try catalogDdl.rename(dst, backup)
          catch {
            case _: TableAlreadyExistsException =>
              catalogDdl.drop(backup)
              catalogDdl.rename(dst, backup)
          }
          try catalogDdl.rename(src, dst)
          catch {
            case e: Throwable =>
              catalogDdl.rename(backup, dst)
              throw e
          }
          catalogDdl.drop(backup)
        case None =>
          catalogDdl.rename(src, dst)
      }
    }

  /** OPTIMIZE-style small-file compaction — the maintenance pass a
    * lakehouse runs after incremental appends fragment a table into
    * thousands of tiny files (each append under [[mergeTables]] /
    * [[loadDataFrame]] commits its own files; small files tax every
    * subsequent scan with per-file open/footer costs). Rewrites the
    * table into ceil(rows / targetRowsPerFile) files through the same
    * tmp+swap as [[replaceTable]], so a mid-compaction failure never
    * loses the destination.
    *
    * The rewrite uses coalesce, NOT repartition: compaction only ever
    * REDUCES file count, and at 100 TB the job must stay shuffle-free —
    * each output task streams its assigned input files straight
    * through. No-op (no rewrite) when the table already meets the
    * target. Unpartitioned tables only: a partitioned table's files
    * are partition-isolated, so it compacts partition-by-partition
    * with the same primitive.
    *
    * Returns (files_before, files_after, rows).
    */
  def compactTable(
      table: String, targetRowsPerFile: Long): Result[(Long, Long, Long)] = {
    if (targetRowsPerFile <= 0)
      Left(DbError(s"targetRowsPerFile must be positive, got $targetRowsPerFile"))
    else Result.attempt {
      val df = spark.table(table)
      val before = df.inputFiles.length.toLong
      val rows = df.count()
      val target = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
      (before, rows, target)
    }.flatMap { case (before, rows, target) =>
      if (before <= target) Result.ok((before, before, rows))
      else {
        val tmp = tmpName(table)
        Result.attempt {
          catalogDdl.drop(tmp)
          spark.table(table).coalesce(target.toInt).write.saveAsTable(tmp)
        }.flatMap(_ => moveTable(tmp, table))
          .map(_ => (before, target, rows))
      }
    }
  }

  // ---- introspection (§2a row 16) ----------------------------------------

  /** One catalog fetch per name (see [[objectType]]); false on any
    * failure, unparsable names included.
    */
  def tableExists(name: String): Boolean =
    try lookup(name).isDefined
    catch { case _: Exception => false }

  /** `table` / `view` / absent — drives create-vs-merge decisions
    * (sayn/database/__init__.py:190-229, 374-416). One catalog fetch: a
    * temp view answers `view` from the session catalog, any other name
    * costs one metastore `getTable`. Absent names and databases are None;
    * other catalog failures throw.
    */
  def objectType(name: String): Option[String] =
    lookup(name).map(t => if (t.tableType == CatalogTableType.VIEW) "view" else "table")

  private def lookup(name: String): Option[CatalogTable] =
    GraftSqlBridge.catalogTable(spark, name)

  def tableSchema(name: String): Option[org.apache.spark.sql.types.StructType] =
    if (tableExists(name)) Some(spark.table(name).schema) else None

  // ---- data-quality tests (§2a rows 17-19) -------------------------------

  /** Offending-values scan for one column test. Pass = empty result.
    * Mirrors the per-test SQL shape (sayn/tasks/tests/standard_tests.sql):
    * value, count, test type, column name.
    */
  private def testViolations(
      df: DataFrame, c: ColumnDdl, t: ColumnTest): DataFrame = {
    val base = t match {
      case UniqueTest =>
        df.groupBy(col(c.name)).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)
      case NotNullTest =>
        df.filter(col(c.name).isNull)
          .groupBy(col(c.name)).agg(count(lit(1)).as("cnt"))
      case AllowedValuesTest(values) =>
        df.filter(!col(c.name).isin(values.map(_.asInstanceOf[Any]): _*))
          .groupBy(col(c.name)).agg(count(lit(1)).as("cnt"))
    }
    val typeName = t match {
      case UniqueTest => "unique"
      case NotNullTest => "not_null"
      case AllowedValuesTest(_) => "allowed_values"
    }
    base.select(
      col(c.name).cast("string").as("value"),
      col("cnt"),
      lit(typeName).as("test_type"),
      lit(c.name).as("column_name"))
  }

  /** All UNIQUE tests in one pass: a grouping-sets aggregation with one
    * set per tested column, so N unique tests cost ONE scan and ONE
    * shuffle (Expand) instead of N groupBy scans — on a 100 TB table
    * whose test suite checks several key columns, that is the difference
    * between one pass over the data and one per column. Each output row
    * belongs to exactly one grouping set; grouping_id() says which
    * column, with Spark's bit order (first grouping column = highest
    * bit).
    */
  private def uniqueViolationsOnePass(
      df: DataFrame, cols: Seq[ColumnDdl]): DataFrame = {
    val n = cols.length
    val full = (1L << n) - 1
    def gidFor(i: Int): Long = full & ~(1L << (n - 1 - i))
    val agg = df
      .groupingSets(cols.map(c => Seq(col(c.name))), cols.map(c => col(c.name)): _*)
      .agg(count(lit(1)).as("cnt"), grouping_id().as("gid"))
      .filter(col("cnt") > 1)
    def pick(f: (ColumnDdl, Int) => Column): Column =
      cols.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (c, i)) => when(col("gid") === gidFor(i), f(c, i)).otherwise(acc)
      }
    agg.select(
      pick((c, _) => col(c.name).cast("string")).as("value"),
      col("cnt"),
      lit("unique").as("test_type"),
      pick((c, _) => lit(c.name)).as("column_name"))
  }

  /** Full problematic-values report for all declared column tests: every
    * offending value with its count (the reference's per-failure
    * diagnostic SELECT, sayn/tasks/tests/standard_test_output.sql:1-17).
    * None when no tests are declared. Unique tests share one
    * grouping-sets pass (see [[uniqueViolationsOnePass]]); not-null and
    * allowed-values scans union in (their filters push into the scan, so
    * they are cheap). The caller decides how much to materialise —
    * `standardTests` samples 5 rows, a debug dump can write the whole
    * report.
    */
  def violationReport(df: DataFrame, ddl: Ddl): Option[DataFrame] = {
    val withTests = ddl.columnsWithTests
    val uniqueCols = withTests.filter(_.tests.contains(UniqueTest))
    val others = for {
      c <- withTests
      t <- c.tests if t != UniqueTest
    } yield testViolations(df, c, t)
    val uniques =
      if (uniqueCols.size > 1 && uniqueCols.size <= 32)
        Seq(uniqueViolationsOnePass(df, uniqueCols))
      else uniqueCols.map(c => testViolations(df, c, UniqueTest))
    (uniques ++ others).reduceOption(_ unionByName _)
  }

  /** Run all declared column tests for a table as one unioned scan,
    * capped at 5 offending rows like the reference
    * (sayn/database/__init__.py:239-297). Left = failure with samples.
    */
  def standardTests(table: String, ddl: Ddl): Result[Unit] =
    Result.attempt {
      violationReport(spark.table(table), ddl) match {
        case None => Nil
        case Some(all) => all.limit(5).collect().toSeq
      }
    }.flatMap { offending =>
      if (offending.isEmpty) Right(())
      else
        Left(TestFailed(
          s"standard tests failed on $table",
          offending.map(r =>
            s"column=${r.getString(3)} test=${r.getString(2)} value=${r.getString(0)} count=${r.getLong(1)}")))
    }

  /** Custom SQL test: pass iff the query returns no rows; report up to 5
    * (sayn/tasks/test.py:66-175).
    */
  def customTest(query: String): Result[Unit] =
    Result.attempt(spark.sql(query).limit(5).collect().toSeq).flatMap { rows =>
      if (rows.isEmpty) Right(())
      else Left(TestFailed(
        s"custom test returned ${rows.size} row(s)",
        rows.map(_.toString)))
    }

  // ---- helpers ------------------------------------------------------------

  /** SQL literal for a static partition-spec value. */
  private def sqlLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"'$d'"
    case t: java.sql.Timestamp => s"'$t'"
    case other => other.toString
  }

  def tmpName(table: String, extra: String = ""): String = {
    val parts = table.split("\\.")
    (parts.init :+ (tmpPrefix + extra + parts.last)).mkString(".")
  }

  private def applySort(df: DataFrame, ddl: Ddl): DataFrame =
    if (ddl.sortBy.nonEmpty)
      df.sortWithinPartitions(ddl.sortBy.map(col).toIndexedSeq: _*)
    else df

  private def writer(df: DataFrame, ddl: Ddl) = {
    var w = df.write.format("parquet")
    if (ddl.partitionBy.nonEmpty) w = w.partitionBy(ddl.partitionBy: _*)
    if (ddl.clusterBy.nonEmpty) w = w.bucketBy(ddl.buckets, ddl.clusterBy.head, ddl.clusterBy.tail: _*)
    w
  }

  private def runHooks(ddl: Ddl): Result[Unit] =
    Result.sequence(ddl.postHooks.map(h => Result.attempt(spark.sql(h))))
      .map(_ => ())

  /** Split a SQL script into statements on top-level semicolons, honoring
    * quotes and comments (the engine analog of
    * sayn/database/__init__.py:441-448 + dialect overrides).
    */
  private[db] def splitStatements(script: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    val n = script.length
    var state: Char = ' ' // ' '=normal, '\''=string, '"'=quoted ident, '-'=line comment, '*'=block comment
    while (i < n) {
      val ch = script(i)
      state match {
        case ' ' =>
          if (ch == ';') { out += cur.result(); cur.clear() }
          else {
            if (ch == '\'' || ch == '"') state = ch
            else if (ch == '-' && i + 1 < n && script(i + 1) == '-') state = '-'
            else if (ch == '/' && i + 1 < n && script(i + 1) == '*') state = '*'
            cur.append(ch)
          }
        case '\'' | '"' =>
          cur.append(ch)
          if (ch == state) state = ' '
        case '-' =>
          cur.append(ch)
          if (ch == '\n') state = ' '
        case '*' =>
          cur.append(ch)
          if (ch == '/' && i > 0 && script(i - 1) == '*') state = ' '
        case _ =>
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}

package graft.db

import graft.core.{DbError, Result, TestFailed}
import graft.core.Result.Result
import graft.pipeline.Stage
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.hadoop.fs.{FileSystem, Path}

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
    * write — bulk by construction, no driver-side batching. An existing
    * table is appended to, or with `replace` rewritten by [[publish]], so
    * a frame that fails mid-write leaves the old table readable; a
    * missing one is created.
    */
  def loadDataFrame(
      df: DataFrame,
      table: String,
      replace: Boolean = false,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(destination(table)).flatMap {
      case Some(t) if !replace => appendTo(df, table, t)
      case current @ Some(_) => publish(df, table, ddl, current)
      case None =>
        Result.attempt {
          catalogDdl.ensureDatabase(table)
          val mode = if (replace) SaveMode.Overwrite else SaveMode.Append
          writer(applySort(df, ddl), ddl).mode(mode).saveAsTable(table)
        }
    }

  /** Append `df` to the existing table `table` (catalog entry `t`),
    * aligned by name (schema reconciliation, copy.py:543-630).
    */
  private[graft] def appendTo(df: DataFrame, table: String, t: CatalogTable): Result[Unit] =
    Result.attempt(df.select(t.schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Append).insertInto(table))

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
    * after the new content is published, so hooks never observe a tmp
    * table.
    */
  def createTable(
      table: String,
      select: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt {
      catalogDdl.ensureDatabase(table)
      writer(applySort(typed(spark.sql(select), ddl), ddl), ddl)
        .mode(SaveMode.ErrorIfExists).saveAsTable(table)
    }

  /** Declared types → casts, declared order → projection; the frame as
    * it is when no column declares a type.
    */
  private def typed(df: DataFrame, ddl: Ddl): DataFrame =
    if (!ddl.columns.exists(_.dataType.isDefined)) df
    else df.select(ddl.columns.map { c =>
      c.dataType.fold(col(c.name))(t => col(c.name).cast(Ddl.sparkType(t)).as(c.name))
    }.toIndexedSeq: _*)

  /** Full-refresh materialisation (sayn/database/__init__.py:747-787):
    * the SELECT, cast to the declared types, is written by [[publish]].
    * A same-schema rewrite of a managed parquet table swaps its directory
    * and costs at most one metastore mutation (the statistics update);
    * anything else is a tmp-table CTAS swapped in by the catalog renames
    * of [[moveTable]]. Either way a failure in the write or the swap
    * leaves the old table readable under `table`, never a missing or
    * partial destination (the reference's tmp-swap guarantee), and a
    * self-referencing SELECT reads the old rows while it writes the new
    * ones. Cached plans over `table` are un-cached by name, so readers see
    * the new rows. One catalog fetch for `table`.
    */
  def replaceTable(
      table: String,
      select: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(destination(table)).flatMap(replaceTable(table, select, ddl, _))

  /** [[replaceTable]] once `table`'s catalog entry is known (from
    * [[destination]]).
    */
  private[graft] def replaceTable(
      table: String, select: String, ddl: Ddl,
      current: Option[CatalogTable]): Result[Unit] =
    Result.attempt(typed(spark.sql(select), ddl))
      .flatMap(publish(_, table, ddl, current))
      .flatMap(_ => runHooks(ddl))

  /** (Re)create a view over the compiled SELECT
    * (sayn/database/__init__.py:789-817). An existing view is replaced
    * with `ALTER VIEW … AS`, one catalog mutation (`CREATE OR REPLACE
    * VIEW` is a drop and a create); any other name is created, its
    * database first when missing.
    */
  def replaceView(view: String, select: String, ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt {
      lookup(view) match {
        case Some(t) if t.tableType == CatalogTableType.VIEW && t.identifier.database.isDefined =>
          spark.sql(s"ALTER VIEW $view AS $select")
        case current =>
          if (current.isEmpty) catalogDdl.ensureDatabase(view)
          spark.sql(s"CREATE OR REPLACE VIEW $view AS $select")
      }
      ()
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
    * columns come from one catalog fetch, which the write reuses.
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
    * publish guarantee; the trade for not rewriting the full table.
    * Unpartitioned dst: anti-join + unionByName, written by [[publish]]
    * with the declared layout — a directory swap when the merged schema
    * is dst's, else a tmp table swapped in by [[moveTable]]. The anti-join
    * broadcasts a staged delta whose measured size (its checkpoint blocks
    * or files) is at most `spark.sql.autoBroadcastJoinThreshold`, so dst
    * is not shuffled; any other delta is planned from its estimate.
    * docs/ACID_MERGE.md describes how an ACID table format would close
    * the commit window.
    */
  def mergeDelta(
      delta: DataFrame, dst: String, deleteKey: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(destination(dst).getOrElse(
      throw new IllegalStateException(s"mergeDelta: destination $dst does not exist")))
      .flatMap(mergeDelta(delta, dst, _, deleteKey, ddl))

  /** [[mergeDelta]] once dst's catalog entry `t` is known (from
    * [[destination]]).
    */
  private[graft] def mergeDelta(
      delta: DataFrame, dst: String, t: CatalogTable, deleteKey: String,
      ddl: Ddl): Result[Unit] = {
    val partCols = t.partitionColumnNames
    Result.attempt {
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
        Result.ok(())
      } else {
        // a staged delta inherits its query's size estimate, however few
        // rows it holds; its measured size decides the broadcast
        val threshold = GraftSqlBridge.broadcastThreshold(spark)
        val deltaSide =
          if (GraftSqlBridge.checkpointedBytes(delta).exists(_ <= threshold)) broadcast(srcAligned)
          else srcAligned
        val merged = dstDf
          .join(deltaSide, Seq(deleteKey), "left_anti")
          .unionByName(srcAligned)
        // distinct stage name: a caller's src table may be tmpName(dst)
        publish(merged, dst, ddl, Some(t), "merge_")
      }
    }.flatten
  }

  /** Incremental materialisation (sayn/database/__init__.py:819-846): the
    * SELECT, cast to the declared types, is evaluated once and staged with
    * [[graft.pipeline.Stage.materialize]] — no tmp catalog table — then
    * merged into the destination by [[mergeDelta]]. Staging makes a
    * self-referencing SELECT safe and keeps non-deterministic keys
    * consistent between the delete and the insert. Creates the
    * destination outright when missing; one catalog fetch answers both
    * that and dst's partition layout, and the write reuses it.
    */
  def mergeQuery(
      table: String,
      select: String,
      deleteKey: String,
      ddl: Ddl = Ddl.empty): Result[Unit] =
    Result.attempt(destination(table)).flatMap {
      case None => replaceTable(table, select, ddl, None)
      case Some(t) => mergeQuery(table, select, deleteKey, ddl, t)
    }

  /** [[mergeQuery]] into the existing `table`, catalog entry `t` (from
    * [[destination]]).
    */
  private[graft] def mergeQuery(
      table: String, select: String, deleteKey: String, ddl: Ddl,
      t: CatalogTable): Result[Unit] =
    for {
      delta <- Result.attempt(Stage.materialize(typed(spark.sql(select), ddl)))
      _ <- mergeDelta(delta, table, t, deleteKey, ddl)
      _ <- runHooks(ddl)
    } yield ()

  /** Rename/swap (sayn/database/__init__.py:701-743,
    * templates/move_table.sql), on the session catalog directly (see
    * [[GraftSqlBridge.CatalogDdl]]): no SQL command is parsed or planned.
    * The public rename, and the swap of [[publish]]'s catalog path; a
    * same-schema rewrite of a managed parquet table swaps directories
    * instead and never comes here.
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
    Result.attempt(swap(src, dst, lookup(dst)))

  /** [[moveTable]] once dst's catalog entry is known. */
  private def swap(src: String, dst: String, current: Option[CatalogTable]): Unit =
    current.map(_.tableType) match {
      case Some(CatalogTableType.VIEW) =>
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

  /** The one write primitive behind every full rewrite of `dst`
    * ([[replaceTable]], the unpartitioned merge, [[compactTable]] and
    * `CopyTask`'s full copy); `current` is dst's catalog entry from
    * [[destination]], fetched once by the caller, which also repaired
    * what a killed publish left behind. `stage` is `merge_` for a merge,
    * whose source may be the tmp table `graft_tmp_<dst>`.
    *
    * Fast path, when dst is a managed, unpartitioned, unbucketed parquet
    * table, `ddl` asks for no partitioning or bucketing, and dst's catalog
    * schema is `df`'s schema taken as nullable: `df` is written as plain
    * parquet into the sibling directory `graft_tmp_<stage><t>` of dst's
    * directory `<t>`, dst's directory is renamed to `graft_tmp_backup_<t>`,
    * the staging directory is renamed into place (the backup is renamed
    * back when that throws), and the backup is deleted. dst is then
    * un-cached and refreshed by name and its statistics updated as Spark's
    * own insert does: no create, rename or drop, at most one AlterTable
    * (on Hive), and the data stays at dst's managed path. A failed write
    * deletes the staging directory and leaves dst as it was.
    *
    * Otherwise (no dst, a view, a partitioned, bucketed or external
    * table, a schema change) `df` is written with the declared layout to
    * the tmp table `graft_tmp_<stage><dst>` and swapped in by the catalog
    * renames of [[moveTable]].
    *
    * A directory rename is a metadata operation on HDFS and a local disk
    * but a copy on an object store without atomic rename, as the managed
    * rename of the catalog path already is. A process killed between the
    * two renames leaves dst's directory missing, so readers see an empty
    * table until [[destination]] repairs it at dst's next write.
    */
  private[graft] def publish(
      df: DataFrame, dst: String, ddl: Ddl, current: Option[CatalogTable],
      stage: String = ""): Result[Unit] =
    Result.attempt {
      val frame = applySort(df, ddl)
      current.filter(t => swappable(t) && ddl.partitionBy.isEmpty &&
          ddl.clusterBy.isEmpty && t.schema == GraftSqlBridge.asNullable(df.schema)) match {
        case Some(t) =>
          val dir = new Path(t.location)
          val fs = dir.getFileSystem(catalogDdl.hadoopConf)
          val staging = sibling(dir, stage)
          val backup = sibling(dir, "backup_")
          fs.delete(staging, true)
          try frame.write.mode(SaveMode.Overwrite).parquet(staging.toString)
          catch { case e: Throwable => fs.delete(staging, true); throw e }
          val hadDir = fs.exists(dir)
          if (hadDir) rename(fs, dir, backup)
          try rename(fs, staging, dir)
          catch {
            case e: Throwable =>
              if (hadDir) rename(fs, backup, dir)
              fs.delete(staging, true)
              throw e
          }
          fs.delete(backup, true)
          catalogDdl.replaced(t)
        case None =>
          if (current.isEmpty) catalogDdl.ensureDatabase(dst)
          val tmp = tmpName(dst, stage)
          writer(frame, ddl).mode(SaveMode.Overwrite).saveAsTable(tmp)
          swap(tmp, dst, current)
      }
    }

  /** A table whose content [[publish]] can replace by swapping its
    * directory: managed, unpartitioned, unbucketed parquet.
    */
  private def swappable(t: CatalogTable): Boolean =
    t.tableType == CatalogTableType.MANAGED && t.storage.locationUri.isDefined &&
      t.provider.exists(_.equalsIgnoreCase("parquet")) &&
      t.partitionColumnNames.isEmpty && t.bucketSpec.isEmpty

  /** `graft_tmp_<extra><name>` next to the table directory `dir`. */
  private def sibling(dir: Path, extra: String): Path =
    new Path(dir.getParent, tmpPrefix + extra + dir.getName)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"could not rename $from to $to")

  /** The catalog entry of a write's destination, from one fetch. For a
    * table [[publish]] can swap, the directories of a publish killed
    * midway are repaired first, before the write reads dst: with dst's
    * directory missing (killed between the two renames) the backup is
    * renamed back, and with it present a leftover backup is deleted (a
    * backup table left by an interrupted [[moveTable]] is dropped). One
    * file-system call when nothing was left behind. A leftover staging
    * directory is deleted by the next [[publish]] of its stage.
    */
  private[graft] def destination(name: String): Option[CatalogTable] = {
    val current = lookup(name)
    current.filter(swappable).foreach { t =>
      val dir = new Path(t.location)
      val fs = dir.getFileSystem(catalogDdl.hadoopConf)
      val backup = sibling(dir, "backup_")
      if (fs.exists(backup)) {
        if (!fs.exists(dir)) rename(fs, backup, dir)
        else {
          catalogDdl.drop(tmpName(name, "backup_"))
          fs.delete(backup, true)
        }
        catalogDdl.refresh(t)
      }
    }
    current
  }

  /** OPTIMIZE-style small-file compaction — the maintenance pass a
    * lakehouse runs after incremental appends fragment a table into
    * thousands of tiny files (each append under [[mergeTables]] /
    * [[loadDataFrame]] commits its own files; small files tax every
    * subsequent scan with per-file open/footer costs). Rewrites the
    * table into ceil(rows / targetRowsPerFile) files through
    * [[publish]], like [[replaceTable]], so a mid-compaction failure never
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
      val current = destination(table)
      val df = spark.table(table)
      val before = df.inputFiles.length.toLong
      val rows = df.count()
      val target = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
      (current, before, rows, target)
    }.flatMap { case (current, before, rows, target) =>
      if (before <= target) Result.ok((before, before, rows))
      else publish(spark.table(table).coalesce(target.toInt), table, Ddl.empty, current)
        .map(_ => (before, target, rows))
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

  private[graft] def lookup(name: String): Option[CatalogTable] =
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

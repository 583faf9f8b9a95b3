package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchDatabaseException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.catalog.{CatalogDatabase, CatalogTable}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.CatalogManager
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.command.CommandUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.util.HadoopFSUtils

/** Access bridge for the `private[sql]` Column↔Expression converters —
  * the standard technique for libraries that extend Spark with custom
  * Catalyst expressions (Spark's public Column API deliberately hides the
  * expression constructor since 4.0). Confined to this one object; all
  * graft code goes through [[graft.functions.GraftFunctions]].
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand custom logical nodes like
    * [[graft.plans.TopKPerKey]] to the planner.
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function on a LIVE session's FunctionRegistry
    * (`sessionState` is `private[sql]`, hence bridged here). The
    * builder-time path is `graft.functions.GraftExtensions` via
    * `spark.sql.extensions`; this covers sessions the caller didn't
    * build.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** The catalog entry behind `name` from ONE lookup, None when absent
    * (a missing database included): a temp view answers from the session
    * catalog in memory, anything else from one external-catalog
    * `getTable` — a single metastore round trip, where
    * `spark.catalog.getTable` pays an existence probe before the same
    * fetch. Names are qualified and case-folded as the analyzer does.
    */
  def catalogTable(
      spark: org.apache.spark.sql.SparkSession,
      name: String): Option[CatalogTable] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val catalog = state.catalog
    val ident = state.sqlParser.parseTableIdentifier(name)
    if (catalog.isTempView(ident)) Some(catalog.getTempViewOrPermanentTableMetadata(ident))
    else {
      val q = catalog.qualifyIdentifier(ident)
      try Some(catalog.externalCatalog.getTable(q.database.get, q.table))
      catch {
        case _: NoSuchTableException | _: NoSuchDatabaseException |
            _: NoSuchNamespaceException => None
      }
    }
  }

  /** Whether Spark's file listing skips the file or directory `name`:
    * `_`- and `.`-prefixed names (`_SUCCESS`, `.crc` files, `_temporary`)
    * and `._COPYING_` files, but not the parquet summary files
    * `_metadata` and `_common_metadata`.
    */
  def hiddenPath(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark's parquet inference reads from `file` when it reads
    * one footer (`ParquetFileFormat.mergeSchemasInParallel` for one file,
    * without the job it runs it in): the footer without row groups,
    * converted by Spark's own `readSchemaFromFooter` with the converter
    * that inference builds from the session's conf, so NTZ timestamps,
    * nanos-as-long and a stored Spark schema read as Spark reads them.
    */
  def parquetFooterSchema(
      spark: org.apache.spark.sql.SparkSession,
      file: org.apache.hadoop.fs.FileStatus): org.apache.spark.sql.types.StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    val metadata = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, metadata),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** `spark.sql.autoBroadcastJoinThreshold` in bytes (-1: off). */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold

  /** The bytes `df` holds, measured, when it is a checkpointed frame (its
    * plan a `LogicalRDD` over a checkpointed RDD): the memory and disk
    * size of its blocks as the block manager master records them for a
    * local checkpoint, the size of its files for a reliable one. None for
    * any other frame. Driver-side lookups only, no Spark job.
    */
  def checkpointedBytes(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed =>
        r.rdd.getCheckpointFile match {
          case Some(dir) =>
            val path = new org.apache.hadoop.fs.Path(dir)
            Some(path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .getContentSummary(path).getLength)
          case None =>
            val id = r.rdd.id
            Some(org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus
              .iterator.flatMap(_.rddBlocks).collect {
                case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize
              }.sum)
        }
      case _ => None
    }

  /** Waits, at most `timeoutMs`, until no job tagged `tag` is running
    * and no stage of one has an active task: the tasks a failed job's
    * cancellation killed run on until they notice, so their output
    * (`_temporary/…` of a file write) can still appear after the job's
    * exception reached the caller. Each check first drains the listener
    * bus (`private[spark]`), so the status tracker has seen every task
    * start and end posted so far. False when the bound ran out first.
    */
  def awaitTaggedTasks(sc: org.apache.spark.SparkContext, tag: String,
      timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def left: Long = (deadline - System.nanoTime()) / 1000000L
    def busy: Boolean = {
      try sc.listenerBus.waitUntilEmpty(math.max(1L, left))
      catch { case _: java.util.concurrent.TimeoutException => }
      val st = sc.statusTracker
      st.getJobIdsForTag(tag).exists(id => st.getJobInfo(id).exists { j =>
        j.status == org.apache.spark.JobExecutionStatus.RUNNING ||
          j.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))
      })
    }
    while (busy) {
      if (left <= 0) return false
      Thread.sleep(5)
    }
    true
  }

  /** `schema` with every field nullable, nested fields included: the
    * schema a data source table stores for what it was written from
    * (`StructType.asNullable` is `private[spark]`).
    */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Table DDL made straight on the session catalog: the catalog mutations
    * behind `ALTER TABLE … RENAME`, `DROP TABLE`/`DROP VIEW` and
    * `CREATE DATABASE IF NOT EXISTS`, without a SQL command to parse,
    * analyze and plan, and without the lookups those commands add around
    * the mutation. A name is parsed
    * as the analyzer does (backticks, an optional database). Before a table
    * or view is renamed away or dropped, every cached plan over it is
    * un-cached by name (cascading to cached plans that read it) and the
    * catalog's cached relation for it is refreshed, so no reader of the
    * name sees the old data afterwards.
    */
  final class CatalogDdl(spark: org.apache.spark.sql.SparkSession) {
    private val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    private val catalog = session.sessionState.catalog

    private def ident(name: String): TableIdentifier =
      session.sessionState.sqlParser.parseTableIdentifier(name)

    private def forget(id: TableIdentifier): Unit = {
      val q = catalog.qualifyIdentifier(id)
      session.sharedState.cacheManager.uncacheTableOrView(session,
        Seq(CatalogManager.SESSION_CATALOG_NAME, q.database.get, q.table),
        cascade = true, blocking = false)
      catalog.refreshTable(id)
    }

    /** The session's Hadoop configuration, for the file system of a table
      * location.
      */
    def hadoopConf: org.apache.hadoop.conf.Configuration =
      session.sessionState.newHadoopConf()

    /** After `t`'s files changed under it: un-cache and refresh it by
      * name, as before a rename.
      */
    def refresh(t: CatalogTable): Unit = forget(t.identifier)

    /** After `t`'s files were replaced in place: [[refresh]] it, then
      * update its statistics as Spark's own insert does (on Hive one
      * AlterTable, which recomputes `totalSize` from the new files; with
      * no statistics stored, none).
      */
    def replaced(t: CatalogTable): Unit = {
      refresh(t)
      CommandUtils.updateTableStats(session, t)
    }

    /** Rename `from` to `to`: throws `NoSuchTableException` when `from` is
      * missing and `TableAlreadyExistsException` when `to` exists.
      */
    def rename(from: String, to: String): Unit = {
      val f = ident(from)
      forget(f)
      catalog.renameTable(f, ident(to))
    }

    /** Drop the table or view `name`; a missing name is a no-op. */
    def drop(name: String): Unit = {
      val id = ident(name)
      forget(id)
      catalog.dropTable(id, ignoreIfNotExists = true, purge = false)
    }

    /** Create the database `name` is qualified with, when it has one that
      * does not exist yet.
      */
    def ensureDatabase(name: String): Unit =
      ident(name).database.filterNot(catalog.databaseExists).foreach { db =>
        catalog.createDatabase(
          CatalogDatabase(db, "", catalog.getDefaultDBPath(db), Map.empty),
          ignoreIfExists = true)
      }
  }
}

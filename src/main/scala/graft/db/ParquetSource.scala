package graft.db

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The one batch reader of parquet files: `spark.read.parquet(path)`
  * without the one-task Spark job its schema inference starts.
  *
  * With `spark.sql.parquet.mergeSchema` off, Spark's inference reads
  * exactly one footer: it lists `path`, skips hidden names (`_`/`.`
  * prefixes such as `_SUCCESS` and `.crc` files, but not `_metadata` and
  * `_common_metadata`), and takes `_common_metadata`, else `_metadata`,
  * else the first data file by sorted path. This reader lists `path` once
  * on the driver, reads that same footer there, converts it with Spark's
  * own footer-to-schema conversion under the session's conf, and reads
  * with that schema: `spark.read.schema(s).parquet(path)`, the same
  * relation and the same plan, with no inference job.
  *
  * It defers to plain `spark.read.parquet(path)` when `mergeSchema` is
  * on, when `path` holds glob characters or a visible subdirectory (a
  * partitioned layout, whose columns come from partition discovery), when
  * no file is left to read, and when the listing or the footer read
  * throws, so partition discovery and Spark's own errors are unchanged.
  * Nothing is cached across reads: each read lists `path` again, so files
  * that changed are seen as Spark sees them.
  */
object ParquetSource {

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's inference would give `path`, read on the driver;
    * None where [[read]] defers to Spark.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean ||
        path.exists("{}[]*?\\".contains(_))) None
    else
      try {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val visible = fs.listStatus(p).filterNot(f => GraftSqlBridge.hiddenPath(f.getPath.getName))
        if (visible.exists(_.isDirectory)) None
        else {
          val byPath = visible.sortBy(_.getPath.toString)
          val summaries = Seq("_common_metadata", "_metadata")
          summaries.flatMap(n => byPath.find(_.getPath.getName == n)).headOption
            .orElse(byPath.find(f => !summaries.contains(f.getPath.getName)))
            .map(GraftSqlBridge.parquetFooterSchema(spark, _))
        }
      } catch { case NonFatal(_) => None }
}

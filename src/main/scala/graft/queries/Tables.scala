package graft.queries

import graft.db.ParquetSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{
  DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided parquet fixtures (TESTDATA.md).
  * Registers each table as a temp view so queries can use spark.sql too.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetSource.read(spark, s"$dir/$name.parquet")

  /** Register every fixture table as a temp view for spark.sql queries. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      apply(spark, dir, n).createOrReplaceTempView(n)
    }

  // ---- schema-adaptive event-time handling -------------------------------
  //
  // The events fixture's on-disk `ts` flavor has changed across driver
  // regenerations (parquet TIMESTAMP(NANOS) read as a raw nanos long under
  // the legacy conf, then timestamp[us] read as TIMESTAMP_NTZ). Every
  // consumer goes through these helpers, which normalize any flavor to ONE
  // internal representation: epoch MICROSECONDS as a long (`ts_us`). The
  // DuckDB oracles' `epoch_us(CAST(ts AS TIMESTAMP))` matches it for every
  // flavor. All entry sessions run with spark.sql.session.timeZone=UTC, so
  // the NTZ wall-clock→instant cast is identity.

  /** Epoch-µs expression for a `ts`-flavored column of type `dt`:
    *  - long          → interpreted as epoch NANOS (the legacy
    *                    nanos-as-long read), integer-divided to µs;
    *  - timestamp     → unix_micros;
    *  - timestamp_ntz → cast to timestamp under the UTC session, then
    *                    unix_micros.
    * In-row, codegen'd, scan-stable: pure column arithmetic in all cases.
    */
  def tsUs(dt: DataType, name: String): Column = dt match {
    case LongType => expr(s"`$name` div 1000")
    case TimestampType => unix_micros(col(name))
    case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
    case other => throw new IllegalArgumentException(
      s"unsupported event-time column type for `$name`: $other " +
        "(expected BIGINT nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
  }

  def tsUs(schema: StructType, name: String): Column =
    tsUs(schema(name).dataType, name)

  def tsUs(df: DataFrame, name: String): Column = tsUs(df.schema, name)

  /** Literal rendering an epoch-µs instant back INTO a given ts flavor —
    * the inverse of [[tsUs]], for rows (e.g. stream sentinels) appended to
    * data of that flavor.
    */
  def tsLit(dt: DataType, us: Long): Column = dt match {
    case LongType => lit(math.multiplyExact(us, 1000L))
    case TimestampType => timestamp_micros(lit(us))
    case TimestampNTZType => timestamp_micros(lit(us)).cast(TimestampNTZType)
    case other => throw new IllegalArgumentException(
      s"unsupported event-time column type: $other")
  }

  /** The events fixture with `ts` normalized to epoch-µs long `ts_us`
    * (original `ts` dropped), whatever the on-disk flavor. The single
    * entry point for batch events consumers.
    */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.withColumn("ts_us", tsUs(raw, "ts")).drop("ts")
  }
}

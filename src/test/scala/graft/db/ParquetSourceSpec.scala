package graft.db

import graft.SparkSpec
import graft.queries.Tables
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** [[ParquetSource]] gives every read the schema `spark.read.parquet`
  * infers, from one footer read on the driver and with no Spark job, and
  * defers to Spark wherever inference is more than one footer.
  */
class ParquetSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = "/root/testdata/sf0.01"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Write one parquet file at `file` with the parquet schema `message`
    * and one row of int64 values.
    */
  private def writeParquet(file: String, message: String, values: Long*): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema).newGroup()
      schema.getFields.forEach(f => g.append(f.getName, values(schema.getFieldIndex(f.getName))))
      w.write(g)
    } finally w.close()
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The reader's schema is Spark's; `fast` says whether it came from the
    * driver-side footer read rather than from Spark's own path.
    */
  private def assertSparkSchema(path: String, fast: Boolean): Unit = {
    val expected = spark.read.parquet(path).schema
    assert(ParquetSource.read(spark, path).schema == expected, path)
    assert(ParquetSource.footerSchema(spark, path).isDefined == fast, path)
  }

  /** Spark jobs started while `read` builds its frame. */
  private def jobsToBuild(read: => DataFrame): Int = {
    val group = s"parquet-read-${java.util.UUID.randomUUID}"
    jobsInGroup(group) {
      spark.sparkContext.setJobGroup(group, "read")
      try read finally spark.sparkContext.clearJobGroup()
    }
  }

  test("every fixture reads with Spark's schema from its footer") {
    Tables.names.foreach(n => assertSparkSchema(s"$fixtures/$n.parquet", fast = true))
  }

  test("a Spark-written directory with _SUCCESS and .crc files reads with Spark's schema") {
    val dir = tmpDir("graft_pq_multi_") + "/t"
    (0 until 60).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "s", "d")
      .repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 3, names)
    assertSparkSchema(dir, fast = true)
    assert(ParquetSource.read(spark, dir).count() == 60)
  }

  test("the summary files win over data files, _common_metadata first") {
    val dir = tmpDir("graft_pq_summary_")
    writeParquet(s"$dir/part-0.parquet", "message m { required int64 a; }", 1L)
    writeParquet(s"$dir/_metadata", "message m { required int64 a; required int64 m; }", 1L, 2L)
    assertSparkSchema(dir, fast = true)
    assert(ParquetSource.read(spark, dir).columns.toSeq == Seq("a", "m"))
    writeParquet(s"$dir/_common_metadata",
      "message m { required int64 a; required int64 c; }", 1L, 3L)
    assertSparkSchema(dir, fast = true)
    assert(ParquetSource.read(spark, dir).columns.toSeq == Seq("a", "c"))
  }

  test("a timestamp[us] column reads as Spark infers it under both NTZ settings") {
    val file = tmpDir("graft_pq_ts_") + "/ts.parquet"
    writeParquet(file, "message m { required int64 ts (TIMESTAMP(MICROS,false)); }", 1000L)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    Seq("true" -> TimestampNTZType, "false" -> TimestampType).foreach { case (v, t) =>
      withConf(key, v) {
        assertSparkSchema(file, fast = true)
        assert(ParquetSource.read(spark, file).schema("ts").dataType == t, v)
      }
    }
  }

  test("a nanosecond timestamp reads as a long under the legacy conf, else fails as in Spark") {
    val file = tmpDir("graft_pq_nanos_") + "/ns.parquet"
    writeParquet(file, "message m { required int64 ts (TIMESTAMP(NANOS,false)); }", 1000L)
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertSparkSchema(file, fast = true)
      assert(ParquetSource.read(spark, file).schema("ts").dataType == LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val spark4 = intercept[Exception](spark.read.parquet(file))
      val ours = intercept[Exception](ParquetSource.read(spark, file))
      assert(ours.getClass == spark4.getClass && ours.getMessage == spark4.getMessage)
    }
  }

  test("a partitioned directory reads through Spark's path, partition column included") {
    val dir = tmpDir("graft_pq_part_") + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "p").write.partitionBy("p").parquet(dir)
    assertSparkSchema(dir, fast = false)
    assert(ParquetSource.read(spark, dir).columns.toSeq == Seq("id", "p"))
  }

  test("mergeSchema and glob paths read through Spark's path") {
    val dir = tmpDir("graft_pq_merge_")
    writeParquet(s"$dir/a.parquet", "message m { required int64 x; }", 1L)
    writeParquet(s"$dir/b.parquet", "message m { required int64 y; }", 2L)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assertSparkSchema(dir, fast = false)
      assert(ParquetSource.read(spark, dir).columns.toSet == Set("x", "y"))
    }
    assertSparkSchema(s"$dir/*.parquet", fast = false)
  }

  test("an empty directory fails with Spark's own error") {
    val dir = tmpDir("graft_pq_empty_")
    val spark4 = intercept[AnalysisException](spark.read.parquet(dir))
    val ours = intercept[AnalysisException](ParquetSource.read(spark, dir))
    assert(ours.getCondition == spark4.getCondition, ours)
    assert(ours.getMessage == spark4.getMessage)
  }

  test("reading a fixture starts no Spark job, where schema inference starts one") {
    assert(jobsToBuild(Tables(spark, fixtures, "orders")) == 0)
    assert(jobsToBuild(spark.read.parquet(s"$fixtures/orders.parquet")) == 1)
  }
}

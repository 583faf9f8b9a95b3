package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg+: dump only the named queries (local iteration
    // aid — the driver always passes exactly (sfDir, outDir))
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else {
        val unknown = only -- SparkEntry.queries.keySet
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(only).toMap
      }
    // the shared profile: correctness is checked under the SAME plans
    // the bench times and the CLI ships
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // fixture-schema canary: surface the events ts flavor AND every
    // fixture table's full schema in the round logs + a sidecar, so a
    // driver-side fixture regeneration shows up as a visible diff
    // instead of silently vanished entries (the round-9 failure mode:
    // events.ts flipped nanos-long → timestamp[us] and 33 entries
    // dropped out of the run). The engine adapts the ts flavor either
    // way (Tables.tsUs); this is observability, not a gate.
    try {
      val tsType =
        graft.queries.Tables(spark, sfDir, "events").schema("ts").dataType.sql
      System.err.println(s"[verify] events ts type: $tsType")
      val tables = graft.queries.Tables.names.map { n =>
        val ddl =
          try graft.queries.Tables(spark, sfDir, n).schema.toDDL
          catch { case e: Throwable => s"<unreadable: ${e.getMessage}>" }
        s"""    ${q(n)}: ${q(ddl)}"""
      }.mkString(",\n")
      Files.writeString(Paths.get(s"$outDir/ts_canary.json"),
        s"""{
           |  "events_ts_type": ${q(tsType)},
           |  "fixture_schemas": {
           |$tables
           |  }
           |}""".stripMargin)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] ts canary failed: ${e.getMessage}")
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft.db

import graft.core.{ConfigError, Result}
import graft.core.Result.Result

/** Column-level data-quality test (sayn/database/__init__.py:26-37). */
sealed trait ColumnTest
case object UniqueTest extends ColumnTest
case object NotNullTest extends ColumnTest
final case class AllowedValuesTest(values: Seq[Any]) extends ColumnTest

/** Declared column: optional warehouse type string, optional rename on copy,
  * per-column tests (sayn/database/__init__.py:20-37).
  */
final case class ColumnDdl(
    name: String,
    dataType: Option[String] = None,
    dstName: Option[String] = None,
    tests: Seq[ColumnTest] = Nil)

/** Task-level DDL (sayn/database/__init__.py:75-98 + the BigQuery/Redshift
  * physical-layout knobs, bigquery.py:23-77, redshift.py:19-94):
  *   - `partitionBy`  → Spark `PARTITIONED BY` (real partition pruning)
  *   - `clusterBy`/`buckets` → Spark bucketing (co-located joins, no shuffle)
  *   - `sortBy`       → sortWithinPartitions (Redshift sortkey analog)
  *   - `postHooks`    → SQL executed after materialisation (§2a row 20)
  * Redshift diststyle and index DDL are documented no-ops on Spark.
  */
final case class Ddl(
    columns: Seq[ColumnDdl] = Nil,
    partitionBy: Seq[String] = Nil,
    clusterBy: Seq[String] = Nil,
    buckets: Int = 32,
    sortBy: Seq[String] = Nil,
    postHooks: Seq[String] = Nil) {
  def columnsWithTests: Seq[ColumnDdl] = columns.filter(_.tests.nonEmpty)

  /** Declared types whose Spark mapping drops information — VARCHAR/CHAR
    * length (Spark STRING enforces no length) and TIME (no Spark
    * TimeType). Tasks surface these through their tracker at config time
    * so the divergence is visible instead of silent.
    */
  def typeWarnings: Seq[String] = columns.flatMap { c =>
    c.dataType.flatMap { t =>
      val up = t.trim.toUpperCase
      up.takeWhile(_ != '(') match {
        case "VARCHAR" | "CHAR" | "CHARACTER" if up.contains('(') =>
          Some(s"column ${c.name}: declared type $t maps to STRING — " +
            "the length is not enforced by Spark")
        case "TIME" =>
          Some(s"column ${c.name}: declared type $t maps to STRING " +
            "(Spark has no TIME type)")
        case _ => None
      }
    }
  }
}

object Ddl {
  val empty: Ddl = Ddl()

  /** The DDL of a task config: its `ddl:` map, or a bare `columns:` list
    * as shorthand for `ddl: {columns: ...}`; neither means no DDL. A
    * `ddl:` that is not a map fails the config rather than dropping the
    * task's declared columns and tests. Each type warning goes to `warn`.
    */
  def fromConfig(cfg: Map[String, Any], warn: String => Unit): Result[Ddl] =
    (cfg.get("ddl").orElse(cfg.get("columns").map(c => Map("columns" -> c))) match {
      case Some(m: Map[_, _]) => fromMap(m.asInstanceOf[Map[String, Any]])
      case Some(other) => Left(ConfigError(s"ddl must be a map, got: $other"))
      case None => Right(empty)
    }).map { d =>
      d.typeWarnings.foreach(warn)
      d
    }

  /** Parse the YAML-shaped map (columns may be plain names or maps with
    * name/type/dst_name/tests; tests may be strings or {allowed_values: []}).
    */
  def fromMap(m: Map[String, Any]): Result[Ddl] = {
    def strSeq(v: Any): Seq[String] = v match {
      case s: String => Seq(s)
      case xs: Seq[_] => xs.map(_.toString)
      case xs: java.util.List[_] =>
        xs.toArray.map(_.toString).toSeq
      case null => Nil
      case other => Seq(other.toString)
    }

    def parseTest(t: Any): Result[ColumnTest] = t match {
      case "unique" => Right(UniqueTest)
      case "not_null" => Right(NotNullTest)
      case tm: Map[_, _] =>
        val mm = tm.asInstanceOf[Map[String, Any]]
        mm.get("allowed_values") match {
          case Some(vs: Seq[_]) => Right(AllowedValuesTest(vs))
          case Some(vs: java.util.List[_]) =>
            Right(AllowedValuesTest(vs.toArray.toSeq))
          case _ => Left(ConfigError(s"unknown column test: $tm"))
        }
      case other => Left(ConfigError(s"unknown column test: $other"))
    }

    def parseColumn(c: Any): Result[ColumnDdl] = c match {
      case name: String => Right(ColumnDdl(name))
      case cm: Map[_, _] =>
        val mm = cm.asInstanceOf[Map[String, Any]]
        mm.get("name") match {
          case Some(name: String) =>
            val testsRaw = mm.get("tests").map {
              case xs: Seq[_] => xs
              case x => Seq(x)
            }.getOrElse(Nil)
            Result.sequence(testsRaw.map(parseTest)).map { tests =>
              ColumnDdl(
                name,
                mm.get("type").map(_.toString),
                mm.get("dst_name").map(_.toString),
                tests)
            }
          case _ => Left(ConfigError(s"column entry missing 'name': $cm"))
        }
      case other => Left(ConfigError(s"bad column entry: $other"))
    }

    val colsRaw = m.get("columns").map {
      case xs: Seq[_] => xs
      case x => Seq(x)
    }.getOrElse(Nil)

    val bucketsRaw = m.get("buckets").map(_.toString)
    val buckets = bucketsRaw.fold(Option(32))(_.toIntOption.filter(_ > 0))

    Result.sequence(colsRaw.map(parseColumn)).flatMap { cols =>
      val dups = cols.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
      if (dups.nonEmpty)
        Left(ConfigError(s"duplicate columns in ddl: ${dups.toSeq.sorted.mkString(", ")}"))
      else if (buckets.isEmpty)
        Left(ConfigError(s"ddl buckets must be a positive integer, got '${bucketsRaw.get}'"))
      else
        Right(Ddl(
          columns = cols,
          partitionBy = m.get("partition").orElse(m.get("partition_by")).map(strSeq).getOrElse(Nil),
          clusterBy = m.get("cluster").orElse(m.get("cluster_by")).map(strSeq).getOrElse(Nil),
          buckets = buckets.get,
          sortBy = m.get("sort").orElse(m.get("sorting")).map(strSeq).getOrElse(Nil),
          postHooks = m.get("post_hook").map(strSeq).getOrElse(Nil)))
    }
  }

  /** Warehouse type-string → Spark DDL type (SURVEY §1.2 mapping). */
  def sparkType(warehouseType: String): String = {
    val t = warehouseType.trim.toUpperCase
    val parens = "\\((.*)\\)".r.findFirstMatchIn(t).map(_.group(1))
    t.takeWhile(c => c != '(') match {
      case "INT" | "INTEGER" | "INT4" => "INT"
      case "BIGINT" | "INT8" | "LONG" => "BIGINT"
      case "SMALLINT" | "INT2" => "SMALLINT"
      case "TINYINT" => "TINYINT"
      case "TEXT" | "VARCHAR" | "CHAR" | "CHARACTER" | "STRING" | "UNICODE" => "STRING"
      case "FLOAT" | "FLOAT8" | "DOUBLE" | "REAL" => "DOUBLE"
      case "FLOAT4" => "FLOAT"
      case "NUMERIC" | "DECIMAL" | "NUMBER" =>
        parens.map(p => s"DECIMAL($p)").getOrElse("DECIMAL(38,18)")
      case "TIMESTAMP" | "DATETIME" | "TIMESTAMPTZ" => "TIMESTAMP"
      case "DATE" => "DATE"
      case "TIME" => "STRING" // no Spark TimeType; documented divergence
      case "BOOLEAN" | "BOOL" => "BOOLEAN"
      case "BYTES" | "BINARY" | "BLOB" | "VARBINARY" => "BINARY"
      case "INTERVAL" => "INTERVAL DAY TO SECOND"
      case "ARRAY" => "ARRAY<STRING>"
      case "JSON" => "STRING"
      case other => other // pass through; Spark DDL parser validates
    }
  }
}

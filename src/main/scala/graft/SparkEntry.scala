package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see SURVEY.md §7. Every map here is derived from the
  * one registry: each query file's `entries`, where an entry's name,
  * build function, oracle and `mutating` flag are written once.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Every registered entry: one per implemented operator from SURVEY.md
    * §2 + the LLM-data-pipeline suite (dedup / similarity / text analysis /
    * multimodal / sessionization) + end-to-end ETL operators.
    */
  lazy val entries: Seq[Entry] =
    Relational.entries ++ RelationalTpch.entries ++ Pipeline.entries ++
      EtlShapes.entries ++ StreamingEntries.entries ++ Temporal.entries ++
      Analytics.entries ++ Corpus.entries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  /** Entries whose DataFrame CONSTRUCTION executes engine writes
    * (mergeTables / CopyTask against the local catalog). Bench skips them
    * (they'd benchmark the catalog, not the engine) and Explain skips
    * them by default (a plan-inspection tool must not mutate tables).
    */
  lazy val mutating: Set[String] = entries.filter(_.mutating).map(_.name).toSet

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. LSH/approximate entries are omitted by
    * design (rows-only driver check; recall is asserted in ScalaTest).
    */
  lazy val oracleSql: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}

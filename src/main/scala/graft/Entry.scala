package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver entry, registered once in its query file.
  *
  * @param name     the key the driver, Bench and Verify call it by
  * @param build    builds the entry's DataFrame from (session, fixture dir)
  * @param oracle   DuckDB SQL over the same parquet tables whose result must
  *                 hash-equal the DataFrame's; `None` only for the declared
  *                 rows-only sketch/LSH entries (recall is asserted in
  *                 ScalaTest instead)
  * @param mutating building the DataFrame writes engine tables (merge/copy
  *                 against the local catalog), so Bench, Explain and the
  *                 plan laws skip it
  */
final case class Entry(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    mutating: Boolean = false)

/** A query file: an object whose `entries` form one family of the corpus. */
trait QueryFile {

  /** Keep this a `def` (or `lazy val`): oracles may point into other query
    * files' SQL vals, and a strict `val` read through an object-initialisation
    * cycle would capture a still-null string.
    */
  def entries: Seq[Entry]

  /** The entries' builders by name. */
  final def all: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap
}

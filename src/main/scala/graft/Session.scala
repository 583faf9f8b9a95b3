package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession profile shared by the CLI, the harness mains
  * (Bench, Verify, ScaleStress, Explain) and the test sessions, so plan
  * laws, the oracle sweep and the bench all see the plans the CLI ships.
  *
  * Settings: AQE on, UTC session time zone, and shuffled-hash preferred
  * over sort-merge when the planner's size conditions allow (build side
  * estimated ≪ the other side AND under threshold×partitions): same
  * results, no sort on either side, measured 0.43×–0.85× on the
  * join-heavy entries at sf0.1 (OPTIMIZATION_r18.md). `GRAFT_PREFER_SMJ`
  * set to `1` or `true` rolls the join preference back to sort-merge (see
  * docs/SCALING.md for the failure mode it guards). Reliable checkpoint
  * files are deleted once their frame is unreferenced
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`; Spark keeps them
  * by default), since every incremental merge stages its delta through
  * [[graft.pipeline.Stage.materialize]]. The Spark UI is left to the
  * launcher; build.sbt turns it off for forked runs and tests.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(throw
      new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  private val preferSortMergeJoin: Boolean =
    sys.env.get("GRAFT_PREFER_SMJ").exists(v => v == "1" || v == "true")

  /** The profile on `master` with `shufflePartitions` shuffle partitions;
    * callers add what is theirs (app name, catalog) and `getOrCreate()`.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.adaptive.enabled", true)
      .config("spark.sql.join.preferSortMergeJoin", preferSortMergeJoin)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", true)

  /** The harness mains' session: `local[cpus]`, one shuffle partition per
    * core.
    */
  def local(): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

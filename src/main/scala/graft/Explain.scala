package graft

/** Plan-inspection tool: prints the formatted physical plan for the named
  * queries (all non-mutating ones, when none given) at SPARK_GRAFT_SF_DIR.
  * The mutating ETL entries run real table writes during DataFrame
  * construction, so they are excluded unless named explicitly. Review
  * targets: PushedFilters/ReadSchema on scans, broadcast vs sort-merge
  * joins, and WholeStageCodegen span width.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local()
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.filterNot(SparkEntry.mutating).toSeq.sorted
    names.foreach { n =>
      println(s"\n==== $n ====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}

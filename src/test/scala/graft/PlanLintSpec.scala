package graft

import graft.PlanCorpus.staticPlans
import graft.PlanLaws.{bareGlobalSorts, cartesians, stackedExchanges}

/** Corpus-wide physical-plan lint: every non-mutating driver entry is
  * planned at sf0.001 and screened for the shapes that kill 100 TB
  * runs, institutionalizing the per-round plan audit:
  *
  *   - NO CartesianProductExec. Deliberate 1-row scalar broadcasts
  *     compile to BroadcastNestedLoopJoin (fine); a CartesianProduct
  *     means both sides were too big to broadcast — all-pairs at scale.
  *   - NO global Sort without a limit above it. TakeOrderedAndProject
  *     (top-k) is the accepted form; a bare global sort is a
  *     single-point bottleneck on the full data.
  *   - NO Exchange feeding directly into another Exchange — a
  *     double-shuffle that re-moves every row.
  *
  * Checks run on the static plans of the shared corpus ([[PlanLaws]]):
  * the AQE-off executed plan, after EnsureRequirements has inserted the
  * exchanges, including all subquery plans, so future entries are
  * pinned at plan time without executing the batch ones.
  * Streaming/iterative entries execute during construction (their loops
  * ARE construction) — the lint then sees their final frame plus
  * everything the build ran.
  */
class PlanLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Declared exceptions, each with the reason it is sound. */
  private val allowCartesian: Set[String] = Set.empty
  private val allowGlobalSort: Set[String] = Set.empty

  test("no entry plans a cartesian product, bare global sort, or stacked exchange") {
    val violations = PlanLaws.corpus(spark, dir).flatMap { case (n, planned) =>
      planned.fold(e => Seq(s"$n: failed to plan: ${e.getMessage}"), { e =>
        val cartesian = cartesians(e.plans)
        val globalSorts = bareGlobalSorts(e.plans)
        val stacked = stackedExchanges(e.plans)
        Seq(
          Option.when(cartesian.nonEmpty && !allowCartesian(n))(
            s"$n: CartesianProduct (${cartesian.size})"),
          Option.when(globalSorts.nonEmpty && !allowGlobalSort(n))(
            s"$n: global Sort without limit (${globalSorts.size})"),
          Option.when(stacked.nonEmpty)(
            s"$n: Exchange directly under Exchange (${stacked.size})")
        ).flatten
      })
    }
    assert(violations.isEmpty,
      s"\nplan lint violations:\n  ${violations.mkString("\n  ")}")
  }

  test("the lint detectors actually fire on bad plans") {
    import spark.implicits._
    // a forced non-broadcast cross join IS a CartesianProduct
    val big = spark.range(10).toDF("a")
    val cross = big.hint("shuffle_replicate_nl")
      .crossJoin(spark.range(10).toDF("b"))
    assert(cartesians(staticPlans(cross)).nonEmpty)
    // an orderBy with no limit is a global sort (descending: the
    // executed plan drops a sort that Range's ascending order satisfies)
    val sorted = spark.range(10).toDF("a").orderBy($"a".desc)
    assert(bareGlobalSorts(staticPlans(sorted)).nonEmpty)
    // ...and the corpus-approved top-k form is NOT flagged
    val topk = spark.range(10).toDF("a").orderBy($"a".desc).limit(3)
    assert(bareGlobalSorts(staticPlans(topk)).isEmpty)
  }

  test("the stacked-exchange detector fires on a repartition under a " +
      "shuffled join, which only the executed plan shows") {
    // the join's hash exchange sits directly on the round-robin one;
    // sparkPlan comes before EnsureRequirements and holds only the
    // repartition, so the old lint could not see it
    val df = spark.range(100).toDF("k").repartition(7)
      .join(spark.range(100).toDF("k"), "k")
    val qe = PlanCorpus.staticExecution(df, PlanCorpus.noAutoBroadcast)
    assert(stackedExchanges(Seq(qe.executedPlan)).nonEmpty)
    assert(stackedExchanges(Seq(qe.sparkPlan)).isEmpty)
  }

  test("the plan corpus builds each read-only entry exactly once per JVM") {
    val first = PlanLaws.corpus(spark, dir)
    val counts = PlanLaws.buildCounts
    assert(first.map(_._1) == PlanCorpus.readOnly)
    assert(counts.keySet == PlanCorpus.readOnly.toSet)
    assert(counts.values.forall(_ == 1), counts.filter(_._2 != 1))
    // a second access plans nothing and builds nothing
    assert(PlanLaws.corpus(spark, dir) eq first)
    assert(PlanLaws.buildCounts == counts)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Cast, ExprId, Expression, RaiseError}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{CollectLimitExec, FileSourceScanExec,
  GenerateExec, GlobalLimitExec, LocalTableScanExec, RDDScanExec, RangeExec,
  SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{CartesianProductExec, HashJoin}
import org.apache.spark.sql.execution.window.WindowExec
import scala.util.Try

/** The plan corpus every plan law reads, and the detectors the laws are
  * made of. The corpus is every read-only entry on the sf0.001 fixture,
  * built once per test JVM (`Test / fork` runs one) and planned by
  * [[PlanCorpus]]: the AQE-off executed plan plus its subqueries. Each
  * detector is defined here once; its firing test calls the same
  * function.
  */
object PlanLaws {

  private val builds = scala.collection.mutable.Map.empty[String, Int]
  private val corpora =
    scala.collection.mutable.Map.empty[String, Seq[(String, Try[PlannedEntry])]]

  /** The read-only corpus on the fixture at `dir`, planned, in name
    * order; built on first use.
    */
  def corpus(spark: SparkSession, dir: String)
      : Seq[(String, Try[PlannedEntry])] = synchronized {
    corpora.getOrElseUpdate(dir, PlanCorpus.plan(PlanCorpus.readOnly) { n =>
      builds(n) = builds.getOrElse(n, 0) + 1
      SparkEntry.queries(n)(spark, dir)
    }.toVector)
  }

  /** How many times each entry's DataFrame has been built, by name. */
  def buildCounts: Map[String, Int] = synchronized(builds.toMap)

  /** One corpus entry (its build or planning failure, rethrown). */
  def entry(spark: SparkSession, dir: String, name: String): PlannedEntry =
    corpus(spark, dir).collectFirst { case (`name`, e) => e.get }
      .getOrElse(sys.error(s"$name is not a read-only corpus entry"))

  // ---- lint detectors ----

  def cartesians(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(_.collect { case c: CartesianProductExec => c })

  /** Global sorts with no limit above them (top-k plans as
    * TakeOrderedAndProject, not as a Sort).
    */
  def bareGlobalSorts(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(_.collect { case s: SortExec if s.global => s })

  /** An Exchange feeding directly into another: every row moved twice. */
  def stackedExchanges(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(_.collect {
      case e: ShuffleExchangeExec
          if e.child.isInstanceOf[ShuffleExchangeExec] => e })

  // ---- the class-6 law ----

  /** Column names that mean "one row per corpus unit": an aggregate
    * keyed on one of these COLLAPSES NOTHING — its output frame scales
    * with the corpus, and feeding it into an unpartitioned window is
    * exactly the shape r17's "aggregate strictly below" test could not
    * see (q477's per-user aggregate under the global rank windows).
    */
  private val corpusKeyNames = Set("user_id", "doc_id", "vec_id",
    "event_id", "l_orderkey", "o_orderkey", "_u")

  /** r19 hardening (VERDICT r18 #7): the name set alone is blind to a
    * RENAME (`user_id AS uid` escaped it) and to GENERATED columns (a
    * `groupBy(term)` over exploded tokens collapses to the vocabulary,
    * which scales with the corpus). This walks a grouping attribute
    * back through alias chains (renames and casts of an attribute) in
    * the subtree below the aggregate; the key is corpus-scaling if the
    * chain terminates at (a) a data-leaf column whose NAME is a corpus
    * unit key, or (b) any Generate (explode) output. A key that passes
    * through a real function (hash bucket, time floor, substring)
    * stops the trace and PASSES — boundedness of derived keys is the
    * operator author's responsibility, sanctioned per-entry in the
    * whitelist with a reason when the structural test cannot see it.
    */
  def corpusScalingKey(a: BaseAggregateExec): Boolean = {
    // every node in (and referenced by) the subtree, piercing reuse
    def all(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case q => q }.flatMap {
        case r: ReusedExchangeExec => r +: all(r.child)
        case q => Seq(q)
      }
    val nodes = all(a)
    val aliasOf: Map[ExprId, Expression] =
      nodes.flatMap(_.expressions).flatMap(_.collect {
        case al: Alias => al.exprId -> al.child
      }).toMap
    // only DATA-FED generators scale: explode of a literal sequence
    // (bootstrapCI's replicate axis) references no input attribute and
    // is bounded by the code literal. (The UNBOUND generator — the
    // bound one's references are ordinals, always empty.)
    val generated: Set[ExprId] = nodes.collect {
      case g: GenerateExec if g.generator.references.nonEmpty =>
        g.generatorOutput.map(_.exprId)
    }.flatten.toSet
    val leafCols: Map[ExprId, String] = nodes
      .filter(_.children.isEmpty)
      .flatMap(_.output.map(o => o.exprId -> o.name.toLowerCase)).toMap
    // a rename or a cast keeps one key per input key: peel it and
    // keep following the attribute underneath
    def peel(e: Expression): Option[AttributeReference] = e match {
      case ar: AttributeReference => Some(ar)
      case al: Alias => peel(al.child)
      case c: Cast => peel(c.child)
      case _ => None
    }
    @annotation.tailrec
    def scaling(id: ExprId, hops: Int): Boolean =
      if (hops > 64) false
      else if (generated.contains(id)) true
      else aliasOf.get(id).map(peel) match {
        case Some(Some(ar)) => scaling(ar.exprId, hops + 1)
        case Some(None) => false // a real function — trace stops, passes
        case None => leafCols.get(id).exists(corpusKeyNames.contains)
      }
    a.groupingExpressions.exists {
      case ar: AttributeReference =>
        corpusKeyNames.contains(ar.name.toLowerCase) ||
          scaling(ar.exprId, 0)
      case g => corpusKeyNames.contains(g.name.toLowerCase)
    }
  }

  /** Bounded-frontier walk: TRUE iff every leafward path from p hits a
    * limit, a non-corpus-keyed aggregate, or a literal leaf before any
    * data leaf (`boundedLeaf` may accept more leaves). The FIRST
    * aggregate on a path decides (aggregates above a corpus-keyed one
    * may re-collapse — the survival duration frames — so only the
    * frontier matters); a corpus-keyed frontier aggregate is the q477
    * shape and fails the walk.
    */
  def bounded(p: SparkPlan,
      boundedLeaf: SparkPlan => Boolean = _ => false): Boolean = p match {
    case a: BaseAggregateExec =>
      // r19: provenance-hardened (rename + generate blind spots)
      !corpusScalingKey(a)
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec |
         _: CollectLimitExec => true
    case _: RangeExec | _: LocalTableScanExec => true // literal frames
    case r: ReusedExchangeExec => bounded(r.child, boundedLeaf)
    case leaf if leaf.children.isEmpty => boundedLeaf(leaf) // raw rows
    case other => other.children.forall(bounded(_, boundedLeaf))
  }

  /** Loud-bound clause (hoeffdingsD's class): the window input is raw BY
    * DESIGN, bounded at runtime by a raise_error guard riding a consumed
    * column, with the count from a distributed (groupless) aggregate
    * underneath.
    */
  def guarded(p: SparkPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[RaiseError]))) &&
      aggregateBelow(p, _.groupingExpressions.isEmpty)

  /** True iff an aggregate passing `keep` sits in `p`. A
    * ReusedExchangeExec is a leaf that POINTS at the collapsed subtree —
    * the search pierces it, or a reused aggregate reads as a raw frame.
    */
  def aggregateBelow(p: SparkPlan,
      keep: BaseAggregateExec => Boolean = _ => true): Boolean =
    p.collect { case a: BaseAggregateExec if keep(a) => a }.nonEmpty ||
      p.collect { case r: ReusedExchangeExec => r }
        .exists(r => aggregateBelow(r.child, keep))

  /** The class-6 law's violations: unpartitioned windows whose input is
    * neither bounded nor guarded.
    */
  def rawGlobalWindows(plans: Seq[SparkPlan]): Seq[WindowExec] =
    plans.flatMap(_.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }).filterNot(w => bounded(w.child) || guarded(w.child))

  /** The heavy-entry build-side law's walk: every hash join (broadcast
    * or shuffled) in `plans` whose build side is not [[bounded]], with
    * that build side. A materialized intermediate (localCheckpoint →
    * LogicalRDD, or a temp-dir parquet round-trip — q224's per-round
    * Lloyd centroid/codebook frames, k rows by construction) also
    * counts as bounded: shape analysis cannot cross a materialization
    * boundary, so boundedness there is the materializing operator's
    * documented contract. Only scans of the fixture at `fixture` count
    * as raw corpus rows.
    */
  def unboundedBuildSides(plans: Seq[SparkPlan], fixture: String)
      : Seq[(HashJoin, SparkPlan)] = {
    val materialized: SparkPlan => Boolean = {
      case _: RDDScanExec => true
      case f: FileSourceScanExec =>
        !f.relation.location.rootPaths.exists(_.toString.contains(fixture))
      case _ => false
    }
    plans.flatMap(_.collect {
      case j: HashJoin => (j, if (j.buildSide == BuildLeft) j.left else j.right)
    }).filterNot { case (_, build) => bounded(build, materialized) }
  }
}

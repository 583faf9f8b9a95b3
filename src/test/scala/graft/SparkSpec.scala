package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.catalog.{AlterTableEvent, CreateTableEvent, DropTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener, RenameTableEvent}
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Shared local SparkSession on the [[Session]] profile, with an isolated
  * warehouse + metastore per suite (the Spark analog of the reference's
  * sqlite :memory: fixture). Plan laws therefore check the join
  * preference the CLI, Bench and Verify run with.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val base = java.nio.file.Files.createTempDirectory("graft_test_")

  /** Whether the session runs on the Hive catalog (a Derby metastore
    * under the suite's directory), as `graft run` and the benchmark do.
    * The first session of a JVM fixes its catalog for the JVM, so a suite
    * that sets this runs in a forked JVM of its own (build.sbt's
    * `Test / testGrouping`); every other suite shares the in-memory one.
    */
  protected def hiveCatalog: Boolean = false

  lazy val spark: SparkSession = {
    val b = Session.builder("local[4]", 4)
      .appName(getClass.getSimpleName)
      .config("spark.sql.warehouse.dir", base.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${base.resolve("metastore")};create=true")
    if (hiveCatalog) b
      .config("spark.hadoop.hive.exec.scratchdir", base.resolve("hive-scratch").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", base.resolve("hive-local").toString)
      .enableHiveSupport()
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    // One JVM per sbt test run: sessions share the backing SparkContext, so
    // just clear this suite's catalog state rather than stopping Spark.
    spark.catalog.listTables().collect().foreach { t =>
      if (t.tableType == "VIEW") spark.sql(s"DROP VIEW IF EXISTS ${t.name}")
      else spark.sql(s"DROP TABLE IF EXISTS ${t.name}")
    }
    super.afterAll()
  }

  def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The external catalog's events (pre-events included) fired while
    * `body` runs, in order: the hook the benchmark's tracer counts
    * `catalog.*` with. Delivery is synchronous on the thread doing the DDL.
    */
  def catalogEventsBy(body: => Unit): Seq[ExternalCatalogEvent] = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[ExternalCatalogEvent]()
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = events.add(e)
    }
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.externalCatalog
    catalog.addListener(listener)
    try body
    finally catalog.removeListener(listener)
    events.asScala.toSeq
  }

  /** Names of the tables created while `body` runs, in order. */
  def tablesCreatedBy(body: => Unit): Seq[String] =
    catalogEventsBy(body).collect { case CreateTableEvent(_, name) => name }

  /** The table mutations among `events`, in order, as the benchmark's
    * `catalog.*` counters name them: create, drop, rename, alter.
    */
  def mutations(events: Seq[ExternalCatalogEvent]): Seq[String] = events.collect {
    case _: CreateTableEvent => "create"
    case _: DropTableEvent => "drop"
    case _: RenameTableEvent => "rename"
    case _: AlterTableEvent => "alter"
  }

  /** The directory of table `name`, from its catalog entry. */
  def tableDir(name: String): Path =
    new Path(GraftSqlBridge.catalogTable(spark, name).get.location)

  def fileSystem(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The `graft_tmp_*` directories that belong to table `name`, beside
    * its directory: staging and backup directories of a publish, and the
    * directories of tmp and backup tables.
    */
  def tmpDirsOf(name: String): Seq[String] = {
    val dir = tableDir(name)
    fileSystem(dir).listStatus(dir.getParent).map(_.getPath.getName)
      .filter(n => n.startsWith("graft_tmp_") && n.endsWith(dir.getName)).toSeq
  }

  /** Waits (bounded) until `seen` holds, after listener delivery that
    * runs behind on the listener bus.
    */
  private def await(what: String)(seen: => Boolean): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    assert(seen, s"listener never saw $what")
  }

  /** The SQL commands (queries whose analyzed plan is a `Command`, the
    * benchmark's `catalyst.commands`) the session ran while `body` runs,
    * as plan strings.
    */
  def commandsRunBy(body: => Unit): Seq[String] =
    queriesRunBy(qe => Some(qe.analyzed).collect { case c: Command => c.toString })(body)

  /** The executed plans of the queries the session ran while `body` runs,
    * as plan strings: a write's plan as it finally ran, with AQE's final
    * plan below it.
    */
  def executedPlansBy(body: => Unit): Seq[String] =
    queriesRunBy(qe => Some(qe.executedPlan.toString))(body)

  /** `describe` of each query the session ran while `body` runs, where
    * defined. Delivery is asynchronous, so a marker `SET` is run before
    * and after `body` and waited for; only what lies between the two
    * markers counts.
    */
  private def queriesRunBy(describe: QueryExecution => Option[String])(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val marker = Some(qe.analyzed.toString).filter(_.contains("graft.test.marker"))
        marker.orElse(describe(qe)).foreach(seen.add)
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    def at(id: String): Int = seen.asScala.toSeq.indexWhere(_.contains(id))
    def mark(): String = {
      val id = java.util.UUID.randomUUID.toString
      spark.sql(s"SET graft.test.marker=$id")
      await(s"marker $id")(at(id) >= 0)
      id
    }
    spark.listenerManager.register(listener)
    try {
      val before = mark()
      body
      val after = mark()
      seen.asScala.toSeq.slice(at(before) + 1, at(after))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Spark jobs started in job group `group` while `body` runs. Delivery
    * is asynchronous, so a marker job is run after `body` and waited for.
    */
  def jobsInGroup(group: String)(body: => Unit): Int = {
    val marker = s"graft-test-marker-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.atomic.AtomicBoolean()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.set(true)
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      await(s"job group $marker")(markerSeen.get)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent, ExternalCatalogEvent, ExternalCatalogEventListener}
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

  lazy val spark: SparkSession = {
    val s = Session.builder("local[4]", 4)
      .appName(getClass.getSimpleName)
      .config("spark.sql.warehouse.dir", base.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${base.resolve("metastore")};create=true")
      .getOrCreate()
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

  /** Names of the tables created while `body` runs, in order, from the
    * external catalog's create events (the hook the benchmark's tracer
    * counts `catalog.create` with).
    */
  def tablesCreatedBy(body: => Unit): Seq[String] = {
    val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new ExternalCatalogEventListener {
      override def onEvent(e: ExternalCatalogEvent): Unit = e match {
        case CreateTableEvent(_, name) => created.add(name)
        case _ =>
      }
    }
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.externalCatalog
    catalog.addListener(listener)
    try body
    finally catalog.removeListener(listener)
    created.asScala.toSeq
  }
}

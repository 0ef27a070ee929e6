package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for specs (one per suite; cheap after the
  * first JVM-wide context).
  */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.builder("local[4]").getOrCreate()

  override def afterAll(): Unit = {
    // session is JVM-shared across suites; don't stop it here
    super.afterAll()
  }
}

object SparkFixture {
  /** The specs' session settings under the given master. */
  def builder(master: String): SparkSession.Builder = SparkSession.builder()
    .master(master)
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.ext", "graft.sources.jdbc.GraftCatalog")
    .config("spark.sql.catalog.ext.url", derbyUrl)

  /** One embedded Derby database per test JVM. */
  lazy val derbyUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }
}

package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One-shot remote statements that fail: a planning lookup, a staged
  * write's move and a catalog DDL statement each fail through
  * [[RecordingDriver.failOn]]. The caller sees the documented outcome
  * and every borrowed connection is back in the pool.
  */
class OneShotFaultSpec extends AnyFunSuite with SparkFixture {

  private def injected(marker: String, afterRows: Int) =
    RecordingDriver.Fault(marker, afterRows, new java.sql.SQLException(s"injected: $marker"))

  private def withFault[A](f: RecordingDriver.Fault)(body: => A): A = {
    RecordingDriver.failOn = Some(f)
    try body finally RecordingDriver.failOn = None
  }

  private def chain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private lazy val derbyUrl: String = {
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_oneshot").toString
    s"${RecordingDriver.Prefix}derby:$dir/db;create=true"
  }
  private def derby = JdbcOptions(Map("url" -> derbyUrl, "dialect" -> "derby"))

  private lazy val derbyCatalog: Unit = {
    spark.conf.set("spark.sql.catalog.oneshot", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.oneshot.url", derbyUrl)
    spark.conf.set("spark.sql.catalog.oneshot.dialect", "derby")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS oneshot.os")
  }

  /** A failed size or statistics lookup plans the scan as if nothing
    * were known: one partition that reads every row. */
  private def planWithout(fault: RecordingDriver.Fault, o: JdbcOptions): Unit = withFault(fault) {
    val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .options(o.map).option("dbtable", "t").load()
    val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.toBatch.planInputPartitions().length == 1)
    // logged as failed, whether it failed at execute or at fetch
    assert(RecordingDriver.statements.exists { case (s, failed) => failed && s.contains(fault.marker) },
      RecordingDriver.statements)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100000L))
    assert(ConnectionPool.checkedOut(o) == 0)
  }

  test("a DuckDB stats lookup failing at fetch, or its count at execute, plans one partition") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_oneshot_duck").toString
    val o = JdbcOptions(Map("url" -> s"${RecordingDriver.Prefix}duckdb:$dir/f.duckdb",
      "dialect" -> "duckdb"))
    o.withConnection(Remote.execute(_,
      "CREATE TABLE t AS SELECT range AS id, 'v' || range AS s FROM range(100000)"))
    // the lookups are made and succeed when nothing fails
    RecordingDriver.clear()
    val plain = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .options(o.map).option("dbtable", "t").load()
    val scan = plain.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.toBatch.planInputPartitions().length >= 2)

    RecordingDriver.clear()
    planWithout(injected("stats(", afterRows = 0), o)
    RecordingDriver.clear()
    planWithout(injected("duckdb_tables()", afterRows = -1), o)
  }

  test("a staged Derby overwrite whose move fails at execute fails the job and keeps the target") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.w")
    import spark.implicits._
    (1L to 5L).map(i => (i, s"old$i")).toDF("k", "v").writeTo("oneshot.os.w").create()
    val fault = injected("""FROM "os"."w__stage_""", afterRows = -1)
    val e = withFault(fault) {
      intercept[Exception](Seq((9L, "new")).toDF("k", "v").writeTo("oneshot.os.w").overwrite(lit(true)))
    }
    assert(chain(e).exists(_.getMessage == fault.error.getMessage), e)
    assert(spark.table("oneshot.os.w").as[(Long, String)].collect().sorted.toSeq ==
      (1L to 5L).map(i => (i, s"old$i")))
    val names = spark.sql("SHOW TABLES IN oneshot.os").collect().map(_.getString(1))
    assert(!names.exists(_.contains("__stage_")), names.mkString(","))
    assert(ConnectionPool.checkedOut(derby) == 0)
  }

  test("a catalog DROP TABLE that fails returns false and keeps the table") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.gone")
    spark.sql("CREATE TABLE oneshot.os.gone (k BIGINT)")
    val catalog = new GraftCatalog
    catalog.initialize("oneshot", new CaseInsensitiveStringMap(derby.map.asJava))
    val ident = Identifier.of(Array("os"), "gone")
    withFault(injected("""DROP TABLE "os"."gone"""", afterRows = -1)) {
      assert(!catalog.dropTable(ident))
    }
    assert(catalog.tableExists(ident))
    assert(ConnectionPool.checkedOut(derby) == 0)
    assert(catalog.dropTable(ident))
    assert(!catalog.tableExists(ident))
  }
}

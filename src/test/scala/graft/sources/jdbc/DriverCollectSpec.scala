package graft.sources.jdbc

import graft.SparkFixture
import graft.plans.{DriverCollect, DriverCollectExec}
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, SparkPlan, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** A collect of one remote statement reads it on the driver
  * ([[DriverCollectExec]]): `collect`, `take`, `head` and `show` of a
  * plain scan, a collapsed join and a collapsed `EXISTS`, on Derby and
  * DuckDB, start no Spark job and return the rows the task path returns.
  * A split scan, a runtime-filtered scan and a projection that is
  * nondeterministic or holds a subquery keep the task path; a scalar
  * subquery over one remote statement reads on the driver inside it,
  * with AQE on and off. A failing
  * fetch and a result over `spark.driver.maxResultSize` fail the collect
  * and return the connection, a satisfied `take` executes one statement,
  * and the plan's metrics read as on the task path.
  */
class DriverCollectSpec extends AnyFunSuite with SparkFixture with AdaptiveSparkPlanHelper {

  private val jobsStarted = new AtomicInteger
  private val driverUpdates = new ConcurrentLinkedQueue[(Long, Long)]()
  private lazy val listener: Unit = spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobsStarted.incrementAndGet(); () }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case u: SparkListenerDriverAccumUpdates => driverUpdates.addAll(u.accumUpdates.asJava); ()
      case _ => ()
    }
  })

  /** `f`'s result and the Spark jobs it started; the listener bus is
    * drained before and after, so every job start has been counted. */
  private def jobs[A](f: => A): (A, Int) = {
    listener
    Bridge.drainListenerBus(spark.sparkContext)
    val before = jobsStarted.get()
    val a = f
    Bridge.drainListenerBus(spark.sparkContext)
    (a, jobsStarted.get() - before)
  }

  private def lines(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  private def driverCollected(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[DriverCollectExec]

  private lazy val derby: Unit = {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.dcol")
    Seq("cust", "orders", "wide").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ext.dcol.$t"))
    (1L to 60L).map(i => (i, s"c$i", (i % 3).toInt)).toDF("cid", "cname", "seg")
      .writeTo("ext.dcol.cust").create()
    (1L to 200L).map(i => (i, i % 60 + 1, i * 1.5)).toDF("oid", "ocid", "amount")
      .writeTo("ext.dcol.orders").create()
    (1L to 300L).map(i => (i, "w" * 100)).toDF("k", "body").writeTo("ext.dcol.wide").create()
  }

  private lazy val duckDir: String =
    java.nio.file.Files.createTempDirectory("graft_dcol").toString
  private lazy val duckUrl = s"${RecordingDriver.Prefix}duckdb:$duckDir/d.duckdb"

  /** Catalog `dcd` over a DuckDB file: a 140k-row fact (four ranges on
    * 4 cores), a 50-row dim and a 100-row table for the fault case. */
  private def duck(): Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    duckTables
    spark.conf.set("spark.sql.catalog.dcd", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dcd.url", duckUrl)
    spark.conf.set("spark.sql.catalog.dcd.dialect", "duckdb")
  }
  private lazy val duckTables: Unit = {
    RecordingDriver.register
    val c = JdbcOptions(Map("url" -> s"jdbc:duckdb:$duckDir/d.duckdb")).connect()
    try {
      val st = c.createStatement()
      try Seq("CREATE SCHEMA app",
        "CREATE TABLE app.fact AS SELECT range AS id, (range % 50)::INTEGER AS dim_id, " +
          "range / 4.0 AS amount FROM range(140000)",
        "CREATE TABLE app.dim AS SELECT range::INTEGER AS dim_id, 'r' || (range % 5) AS region " +
          "FROM range(50)",
        "CREATE TABLE app.faulty AS SELECT range AS k, 'v' || range AS v FROM range(100)")
        .foreach(st.execute)
      finally st.close()
    } finally c.close()
  }

  /** Every action reads on the driver, and the rows are the task path's. */
  private def checkDriverPath(df: DataFrame): Unit = {
    assert(driverCollected(df), df.queryExecution.executedPlan)
    val expected = lines(df.rdd.collect().toSeq)
    assert(expected.nonEmpty)
    val (all, j1) = jobs(df.collect())
    assert(j1 == 0)
    assert(lines(all.toSeq) == expected)
    val (two, j2) = jobs(df.take(2))
    assert(j2 == 0 && two.length == math.min(2, expected.length))
    assert(two.map(_.toString).forall(expected.contains))
    val (one, j3) = jobs(df.head())
    assert(j3 == 0 && expected.contains(one.toString))
    val (_, j4) = jobs(df.show(5))
    assert(j4 == 0)
  }

  /** The plan keeps the task path and its collect runs a job. */
  private def checkTaskPath(df: DataFrame): Array[Row] = {
    assert(!driverCollected(df), df.queryExecution.executedPlan)
    val (rows, n) = jobs(df.collect())
    assert(n >= 1)
    rows
  }

  private def scanOf(df: DataFrame): JdbcScan = df.queryExecution.executedPlan.collectFirst {
    case b: BatchScanExec => b.scan
  }.get.asInstanceOf[JdbcScan]

  test("Derby: a plain scan, a collapsed join and a collapsed EXISTS collect without a job") {
    derby
    checkDriverPath(spark.table("ext.dcol.cust"))
    checkDriverPath(spark.sql("SELECT c.cname, o.amount FROM ext.dcol.orders o " +
      "JOIN ext.dcol.cust c ON o.ocid = c.cid WHERE o.amount > 150"))
    checkDriverPath(spark.sql("SELECT c.cid, c.cname FROM ext.dcol.cust c WHERE EXISTS " +
      "(SELECT 1 FROM ext.dcol.orders o WHERE o.ocid = c.cid AND o.amount > 250)"))
  }

  test("DuckDB: a plain scan, a collapsed join and a collapsed EXISTS collect without a job") {
    duck()
    checkDriverPath(spark.table("dcd.app.dim"))
    checkDriverPath(spark.sql("SELECT d.region, COUNT(*) AS n, SUM(f.amount) AS amt " +
      "FROM dcd.app.fact f JOIN dcd.app.dim d ON f.dim_id = d.dim_id " +
      "WHERE f.id >= 1000 AND f.id < 3000 GROUP BY d.region"))
    checkDriverPath(spark.sql("SELECT d.dim_id, d.region FROM dcd.app.dim d WHERE EXISTS " +
      "(SELECT 1 FROM dcd.app.fact f WHERE f.dim_id = d.dim_id AND f.amount > 34990)"))
  }

  test("a split scan, a runtime filter, rand() and a scalar subquery keep the task path") {
    derby
    duck()
    val split = spark.table("dcd.app.fact")
    assert(split.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions.size
    }.contains(4))
    assert(checkTaskPath(split).length == 140000)

    val rnd = checkTaskPath(spark.table("ext.dcol.cust").select(col("cid"), rand(7).as("r")))
    assert(rnd.length == 60)
    val sub = checkTaskPath(spark.sql(
      "SELECT cid, (SELECT MAX(amount) FROM ext.dcol.orders) AS m FROM ext.dcol.cust"))
    assert(sub.length == 60 && sub.forall(_.getDouble(1) == 300.0))

    // the same chain with a runtime filter on its scan is not matched,
    // and executing it runs a job
    val chain = spark.table("ext.dcol.cust").queryExecution.executedPlan
      .asInstanceOf[DriverCollectExec].child
    assert(DriverCollect.chain(chain).isDefined)
    val filtered = chain.transform {
      case b: BatchScanExec => b.copy(runtimeFilters = Seq(DynamicPruningExpression(Literal.TrueLiteral)))
    }
    assert(DriverCollect.chain(filtered).isEmpty)
    assert(!DriverCollect(filtered).isInstanceOf[DriverCollectExec])
    val (rows, n) = jobs(filtered.executeCollect())
    assert(n >= 1 && rows.length == 60)
  }

  test("a scalar subquery over one remote statement reads on the driver, AQE on and off") {
    derby
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    try Seq("true", "false").foreach { aqe =>
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val df = spark.sql("SELECT cid, (SELECT MAX(amount) FROM ext.dcol.orders) AS m FROM ext.dcol.cust")
      // the outer projection holds the subquery, so it keeps its one job;
      // the subquery's pushed MAX is read without one
      val (rows, n) = jobs(df.collect())
      assert(n == 1, s"AQE $aqe")
      assert(rows.length == 60 && rows.forall(_.getDouble(1) == 300.0))
      // `Subquery +- DriverCollect`; with AQE on, the subquery's final
      // plan is `ResultQueryStage +- DriverCollect`
      val plan = df.queryExecution.executedPlan
      val subqueries = collectWithSubqueries(plan) { case s: SubqueryExec => stripAQEPlan(s.child) }
        .map { case q: QueryStageExec => q.plan; case p => p }
      assert(subqueries.length == 1 && subqueries.forall(_.isInstanceOf[DriverCollectExec]), plan)
    } finally prev.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
      spark.conf.set("spark.sql.adaptive.enabled", _))
  }

  test("a failing fetch on the driver path surfaces its error and frees the pool") {
    duck()
    val df = spark.table("dcd.app.faulty")
    assert(driverCollected(df))
    val o = scanOf(df).options
    val injected = new java.sql.SQLException("injected driver-read failure")
    RecordingDriver.failOn = Some(RecordingDriver.Fault("\"faulty\"", 10, injected))
    try {
      val (e, n) = jobs(intercept[Exception](df.collect()))
      assert(n == 0)
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.getMessage == injected.getMessage), e)
    } finally RecordingDriver.failOn = None
    assert(ConnectionPool.checkedOut(o) == 0)
    assert(df.collect().length == 100)
  }

  test("a driver-path result above spark.driver.maxResultSize fails and frees the pool") {
    derby
    val df = spark.table("ext.dcol.wide")
    assert(driverCollected(df))
    val o = scanOf(df).options
    val conf = SparkEnv.get.conf
    val prev = conf.getOption("spark.driver.maxResultSize")
    conf.set("spark.driver.maxResultSize", "4k")
    try {
      val e = intercept[org.apache.spark.SparkException](df.collect())
      assert(e.getMessage.contains("is bigger than spark.driver.maxResultSize (4.0 KiB)"), e)
      assert(ConnectionPool.checkedOut(o) == 0)
      // a small take stays under the cap
      assert(df.take(3).length == 3)
    } finally prev.fold(conf.remove("spark.driver.maxResultSize"))(conf.set("spark.driver.maxResultSize", _))
    assert(ConnectionPool.checkedOut(o) == 0)
    assert(df.collect().length == 300)
  }

  test("take(3) of an unlimited scan executes its statement once") {
    derby
    val keep = udf((s: String) => s.nonEmpty)
    for (df <- Seq(spark.table("ext.dcol.orders"),
        // a filter the scan cannot take keeps the limit in Spark: the
        // driver read stops after three rows
        spark.table("ext.dcol.orders").filter(keep(col("ocid").cast("string"))))) {
      df.queryExecution.executedPlan
      val before = JdbcCursor.executed.get()
      val (rows, n) = jobs(df.take(3))
      assert(rows.length == 3 && n == 0)
      assert(JdbcCursor.executed.get() - before == 1)
    }
  }

  test("the driver path's plan metrics read as the task path's and reach the SQL execution") {
    derby
    val keep = udf((a: Double) => a > 30.0)
    def query = spark.table("ext.dcol.orders").filter(keep(col("amount")))
    def metrics(p: SparkPlan): Seq[Long] = {
      def of[A <: SparkPlan](pf: PartialFunction[SparkPlan, A]) = p.collectFirst(pf).get
      val scan = of { case b: BatchScanExec => b }
      val c2r = of { case c: ColumnarToRowExec => c }
      val filter = of { case f: FilterExec => f }
      Seq(scan.metrics("numOutputRows").value, c2r.metrics("numOutputRows").value,
        c2r.metrics("numInputBatches").value, filter.metrics("numOutputRows").value)
    }
    val driver = query
    jobs(()) // register the listener before the collect
    driverUpdates.clear()
    val (rows, n) = jobs(driver.collect())
    assert(n == 0 && rows.length == 180)
    val onDriver = metrics(driver.queryExecution.executedPlan)
    assert(onDriver == Seq(200L, 200L, 1L, 180L))
    val task = query
    val (count, m) = jobs(task.queryExecution.toRdd.count())
    assert(count == 180 && m >= 1)
    assert(metrics(task.queryExecution.executedPlan) == onDriver)
    // the scan's row count was posted to the execution as a driver update
    val scanId = driver.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.metrics("numOutputRows").id
    }.get
    assert(driverUpdates.asScala.toSeq.contains(scanId -> 200L), driverUpdates)
  }
}

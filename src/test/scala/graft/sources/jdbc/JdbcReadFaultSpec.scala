package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Failure paths of the columnar JDBC read: a satisfied LIMIT never
  * executes the statements of the readers it did not need, and a
  * ResultSet that throws in the middle of a batch, alone or in one of
  * the column ranges of a split DuckDB read, or a range whose statement
  * fails to execute, fails the read with its own error and returns every
  * pooled connection.
  */
class JdbcReadFaultSpec extends AnyFunSuite with SparkFixture {

  private val opts = JdbcOptions(Map("url" -> SparkFixture.derbyUrl))

  private lazy val table: Unit = {
    val c = opts.connect()
    try {
      val st = c.createStatement()
      try {
        scala.util.Try(st.execute("DROP TABLE \"rfault\".\"t\""))
        scala.util.Try(st.execute("CREATE SCHEMA \"rfault\""))
        st.execute("CREATE TABLE \"rfault\".\"t\" (\"k\" BIGINT, \"v\" DECIMAL(10,2), \"s\" VARCHAR(20))")
        st.execute("INSERT INTO \"rfault\".\"t\" SELECT " +
          "CAST(ROW_NUMBER() OVER () AS BIGINT) - 1, CAST(1.5 AS DECIMAL(10,2)), 'x' " +
          "FROM SYS.SYSCOLUMNS")
        // one value the end-to-end read declares too narrow for
        st.execute("UPDATE \"rfault\".\"t\" SET \"v\" = 123.45 WHERE \"k\" = 30")
      } finally st.close()
    } finally c.close()
  }
  private lazy val rows: Long = {
    table
    val c = opts.connect()
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM \"rfault\".\"t\"")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  test("limit(1) over nproc partitions executes only the readers that produced a row") {
    assert(rows > 16)
    val n = math.max(2, Runtime.getRuntime.availableProcessors())
    val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", SparkFixture.derbyUrl).option("dbtable", "\"rfault\".\"t\"")
      .option("numpartitions", n.toString).option("partitioncolumn", "k")
      .option("lowerbound", "0").option("upperbound", rows.toString)
      .load()
    val before = JdbcCursor.executed.get()
    assert(df.limit(1).collect().length == 1)
    assert(JdbcCursor.executed.get() - before == 1)
    assert(ConnectionPool.checkedOut(opts) == 0)

    // the same through the factory directly: every partition gets a
    // reader, one is read, all are closed
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get.asInstanceOf[JdbcScan]
    val parts = scan.planInputPartitions()
    assert(parts.length == n)
    val f = scan.createReaderFactory()
    assert(parts.forall(f.supportColumnarReads))
    val readers = parts.map(f.createColumnarReader)
    val mid = JdbcCursor.executed.get()
    try assert(readers(1).next() && readers(1).get().numRows() > 0)
    finally readers.foreach(_.close())
    assert(JdbcCursor.executed.get() - mid == 1)
    assert(ConnectionPool.checkedOut(opts) == 0)
  }

  test("a ResultSet throwing mid-batch fails the columnar read cleanly and frees the pool") {
    assert(rows > 50)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DecimalType(10, 2)),
      StructField("s", StringType)))
    val sql = "SELECT \"k\", \"v\", \"s\" FROM \"rfault\".\"t\" ORDER BY \"k\""
    val failAt = 40
    // a proxy over the live ResultSet whose next() throws on row failAt
    val cursor = new JdbcCursor(opts, sql) {
      override protected def execute(stmt: java.sql.Statement, sql: String): java.sql.ResultSet = {
        val live = super.execute(stmt, sql)
        var calls = 0
        java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
          Array[Class[_]](classOf[java.sql.ResultSet]),
          (_: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
            if (m.getName == "next") {
              calls += 1
              if (calls == failAt) throw new java.sql.SQLException("injected fetch failure")
            }
            try m.invoke(live, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
          }).asInstanceOf[java.sql.ResultSet]
      }
    }
    val r = new JdbcColumnarReader(schema, cursor)
    val e = intercept[java.sql.SQLException] {
      try while (r.next()) () finally r.close()
    }
    assert(e.getMessage == "injected fetch failure")
    assert(ConnectionPool.checkedOut(opts) == 0)

    // end to end: a value that overflows the declared decimal throws
    // inside a batch fill. The collect of this one-partition read runs on
    // the driver, where the fill's error fails the collect; through
    // toRdd the same fill throws inside a Spark task and fails the job.
    // Either way no connection stays out.
    val bad = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", SparkFixture.derbyUrl).option("dbtable", "\"rfault\".\"t\"")
      .option("customschema", "v DECIMAL(2,1)").load()
    assert(bad.queryExecution.executedPlan.find(_.supportsColumnar).isDefined)
    intercept[ArithmeticException](bad.collect())
    assert(ConnectionPool.checkedOut(opts) == 0)
    val failed = intercept[Exception](bad.queryExecution.toRdd.count())
    assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), failed)
    assert(ConnectionPool.checkedOut(opts) == 0)
  }

  /** A split DuckDB read of 200k rows; `fault` makes its second range
    * fail, and the job must fail with that error, every task closing its
    * reader and returning its connection. */
  private def failOneRange(fault: String => RecordingDriver.Fault): Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_rangefault").toString
    val url = s"${RecordingDriver.Prefix}duckdb:$dir/f.duckdb"
    val o = JdbcOptions(Map("url" -> url, "dialect" -> "duckdb"))
    val c = o.connect()
    try {
      val st = c.createStatement()
      try st.execute("CREATE TABLE t AS SELECT range AS id, 'v' || range AS s FROM range(200000)")
      finally st.close()
    } finally c.close()
    val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", url).option("dialect", "duckdb").option("dbtable", "t").load()
    val parts = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get.toBatch.planInputPartitions().map(_.asInstanceOf[JdbcInputPartition])
    assert(parts.length >= 2 && parts(1).sql.contains("(\"id\" >="), parts.toSeq)

    val ended = new java.util.concurrent.CountDownLatch(parts.length)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        ended.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val injected = fault(parts(1).sql)
    RecordingDriver.failOn = Some(injected)
    try {
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[java.sql.SQLException] &&
        t.getMessage == injected.error.getMessage), e)
      // every task, failed or killed, has closed its reader once it ended
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(ConnectionPool.checkedOut(o) == 0)
    } finally {
      RecordingDriver.failOn = None
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(df.count() == 200000)
  }

  test("a ResultSet throwing in one of k column ranges fails the job with its error and frees the pool") {
    failOneRange(RecordingDriver.Fault(_, 5000, new java.sql.SQLException("injected range failure")))
  }

  test("executeQuery throwing in one of k column ranges fails the job with its error and frees the pool") {
    failOneRange(RecordingDriver.Fault(_, -1, new java.sql.SQLException("injected execute failure")))
  }
}

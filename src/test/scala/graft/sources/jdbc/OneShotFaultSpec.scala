package graft.sources.jdbc

import graft.SparkFixture
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One-shot remote statements that fail: planning lookups, write
  * bookkeeping, a staged write's move, the file swap's transfers and
  * catalog calls each fail through [[RecordingDriver.failOn]]. The
  * caller sees the classified outcome: a lookup the operation can do
  * without falls back with exactly one WARN from [[Remote.orWarn]]; any
  * other failure surfaces as itself. Every borrowed connection is back in
  * the pool afterwards.
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

  /** `body`'s result and the WARNs logged under `graft.sources.jdbc`
    * while it ran, as "logger: message". The appender runs on the
    * logging thread, so nothing is waited for. */
  private def warnings[A](body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("oneshot-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getLoggerName.startsWith("graft.sources.jdbc"))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    app.start()
    root.addAppender(app)
    try { val a = body; (a, seen.asScala.toSeq) }
    finally { root.removeAppender(app); app.stop() }
  }

  /** Exactly one WARN, from the one fallback helper, naming the lookup
    * and the error. */
  private def assertOneWarn(warns: Seq[String], what: String, error: String): Unit = {
    assert(warns.size == 1, warns)
    assert(warns.head.startsWith("graft.sources.jdbc.Remote: ") && warns.head.contains(what) &&
      warns.head.contains(error), warns)
  }

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

  private def catalog: GraftCatalog = {
    val c = new GraftCatalog
    c.initialize("oneshot", new CaseInsensitiveStringMap(derby.map.asJava))
    c
  }

  private def tableNames: Seq[String] =
    spark.sql("SHOW TABLES IN oneshot.os").collect().map(_.getString(1)).toSeq

  private def duckdb(name: String): JdbcOptions = {
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_oneshot_duck").toString
    JdbcOptions(Map("url" -> s"${RecordingDriver.Prefix}duckdb:$dir/$name.duckdb", "dialect" -> "duckdb"))
  }

  /** A failed size or statistics lookup plans the scan as if nothing
    * were known: one partition that reads every row. */
  private def planWithout(fault: RecordingDriver.Fault, o: JdbcOptions): Unit = {
    val (_, warns) = warnings(withFault(fault) {
      val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
        .options(o.map).option("dbtable", "t").load()
      val scan = df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
      assert(scan.toBatch.planInputPartitions().length == 1)
      // logged as failed, whether it failed at execute or at fetch
      assert(RecordingDriver.statements.exists { case (s, failed) => failed && s.contains(fault.marker) },
        RecordingDriver.statements)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100000L))
    })
    assertOneWarn(warns, "size lookup", fault.error.getMessage)
    assert(ConnectionPool.checkedOut(o) == 0)
  }

  test("a DuckDB stats lookup failing at fetch, or its count at execute, plans one partition") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val o = duckdb("f")
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

    // an error that is not a remote failure (a bad configuration) is
    // not a lookup to do without: planning fails with it
    val config = RecordingDriver.Fault("stats(", -1, new IllegalArgumentException("injected: config"))
    val e = withFault(config)(intercept[Exception] {
      val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
        .options(o.map).option("dbtable", "t").load()
      df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }.get
        .toBatch.planInputPartitions()
    })
    assert(chain(e).contains(config.error), e)
    assert(ConnectionPool.checkedOut(o) == 0)
  }

  test("a string-wire type lookup that fails warns once and scans without the wire") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val o = duckdb("w").withTable("t")
    o.withConnection(Remote.execute(_,
      "CREATE TABLE t AS SELECT range AS id, 'v' || range AS s FROM range(10)"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    def wire: Set[Int] = JdbcScan(o, schema, Nil, Nil, None).planInputPartitions()
      .map(_.asInstanceOf[JdbcInputPartition].utf8).reduce(_ ++ _)
    val fault = injected("WHERE 1=0", afterRows = -1)
    val (utf8, warns) = warnings(withFault(fault)(wire))
    assert(utf8.isEmpty)
    assertOneWarn(warns, "string-wire type lookup", fault.error.getMessage)
    assert(ConnectionPool.checkedOut(o) == 0)
    // nothing failed is remembered: the next scan sends the wire
    assert(wire == Set(1))
  }

  test("an expression-aggregate type probe that fails keeps the aggregate local, warning once") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.ag")
    import spark.implicits._
    (1L to 9L).map(i => (i, i * 10L)).toDF("k", "v").writeTo("oneshot.os.ag").create()
    def sums(m: Int) = {
      val df = spark.table("oneshot.os.ag").groupBy((col("k") % m).as("b")).agg(sum("v").as("s"))
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (df.queryExecution.executedPlan.toString.contains("GROUP BY"), rows)
    }
    val fault = injected("GROUP BY", afterRows = -1)
    val ((pushed, rows), warns) = warnings(withFault(fault)(sums(4)))
    assert(!pushed && rows == Seq((0L, 120L), (1L, 150L), (2L, 80L), (3L, 100L)))
    assertOneWarn(warns, "expression-aggregate type probe", fault.error.getMessage)
    // a described type Spark cannot read is no failure: local, no WARN
    val unreadable = RecordingDriver.Fault("GROUP BY", -1, new IllegalArgumentException("unsupported"))
    val ((pushed2, rows2), warns2) = warnings(withFault(unreadable)(sums(5)))
    assert(!pushed2 && rows2 == Seq((0L, 50L), (1L, 70L), (2L, 90L), (3L, 110L), (4L, 130L)))
    assert(warns2.isEmpty, warns2)
    assert(ConnectionPool.checkedOut(derby) == 0)
    assert(sums(4)._1)
  }

  test("write bookkeeping that fails warns once and keeps the write's outcome (Derby)") {
    derbyCatalog
    import spark.implicits._
    Seq("bk", "ab").foreach(t => spark.sql(s"DROP TABLE IF EXISTS oneshot.os.$t"))
    Seq((1L, "old")).toDF("k", "v").writeTo("oneshot.os.bk").create()
    Seq((1L, "old")).toDF("k", "v").writeTo("oneshot.os.ab").create()
    def rows(t: String) = spark.table(s"oneshot.os.$t").as[(Long, String)].collect().sorted.toSeq

    // a stale stage that fails to drop is kept; the overwrite commits
    derby.withConnection(Remote.execute(_, """CREATE TABLE "os"."bk__stage_1_dead" (k BIGINT)"""))
    val stale = injected("""DROP TABLE "os"."bk__stage_1_dead"""", afterRows = -1)
    val (_, w1) = warnings(withFault(stale)(Seq((2L, "new")).toDF("k", "v").writeTo("oneshot.os.bk")
      .overwrite(lit(true))))
    assertOneWarn(w1, "stale stage DROP of bk__stage_1_dead", stale.error.getMessage)
    assert(rows("bk") == Seq((2L, "new")) && tableNames.contains("bk__stage_1_dead"))
    derby.withConnection(Remote.execute(_, """DROP TABLE "os"."bk__stage_1_dead""""))

    // a post-write ANALYZE that fails leaves the committed write
    val analyze = injected("SYSCS_UPDATE_STATISTICS", afterRows = -1)
    val (_, w2) = warnings(withFault(analyze)(Seq((3L, "more")).toDF("k", "v").writeTo("oneshot.os.bk")
      .option("analyzeafterwrite", "true").append()))
    assertOneWarn(w2, "post-write ANALYZE", analyze.error.getMessage)
    assert(rows("bk") == Seq((2L, "new"), (3L, "more")))

    // an aborted overwrite whose stage fails to drop reports the job's
    // own error, not the DROP's
    val drop = injected("""DROP TABLE "os"."ab__stage_""", afterRows = -1)
    // a range, not a local relation, so the error is raised in the task
    val bad = spark.range(1, 4).select($"id".as("k"),
      when($"id" === 2, raise_error(lit("boom"))).otherwise(lit("new")).as("v"))
    val (e, w3) = warnings(withFault(drop)(
      intercept[Exception](bad.writeTo("oneshot.os.ab").overwrite(lit(true)))))
    assert(chain(e).exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    assert(!chain(e).contains(drop.error), e)
    assertOneWarn(w3, "stage DROP", drop.error.getMessage)
    assert(rows("ab") == Seq((1L, "old")))
    val left = tableNames.filter(_.startsWith("ab__stage_"))
    assert(left.size == 1, tableNames)
    derby.withConnection(Remote.execute(_, s"""DROP TABLE "os"."${left.head}""""))
    assert(ConnectionPool.checkedOut(derby) == 0)
  }

  test("a primary-key lookup that fails fails the write, not as a missing key (Derby do_nothing_all)") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.pk")
    spark.sql("CREATE TABLE oneshot.os.pk (k BIGINT NOT NULL, v STRING) TBLPROPERTIES ('primarykeys'='k')")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo("oneshot.os.pk").append()
    def upsert() = Seq((1L, "x"), (2L, "b")).toDF("k", "v").writeTo("oneshot.os.pk")
      .option("upsertmode", "do_nothing_all").append()
    val fault = injected("getPrimaryKeys(null, os, pk)", afterRows = -1)
    val (e, warns) = warnings(withFault(fault)(intercept[Exception](upsert())))
    assert(chain(e).contains(fault.error) && !chain(e).exists(t =>
      String.valueOf(t.getMessage).contains("none found")), e)
    assert(warns.isEmpty, warns)
    // a driver without the metadata call reports no key
    val unsupported =
      RecordingDriver.Fault("getPrimaryKeys", -1, new java.sql.SQLFeatureNotSupportedException("no"))
    val e2 = withFault(unsupported)(intercept[IllegalArgumentException](upsert()))
    assert(e2.getMessage.contains("none found"), e2.getMessage)
    assert(spark.table("oneshot.os.pk").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(ConnectionPool.checkedOut(derby) == 0)
    upsert()
    assert(spark.table("oneshot.os.pk").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a DuckDB restage-key lookup that fails fails a keyed overwrite before any task starts") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val o = duckdb("rk")
    spark.conf.set("spark.sql.catalog.oneshotduck", "graft.sources.jdbc.GraftCatalog")
    o.map.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.oneshotduck.$k", v) }
    spark.sql("CREATE TABLE oneshotduck.main.rk (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo("oneshotduck.main.rk").append()
    val fault = injected("duckdb_constraints()", afterRows = -1)
    RecordingDriver.clear()
    val e = withFault(fault)(intercept[Exception](
      Seq((1L, "x")).toDF("k", "v").writeTo("oneshotduck.main.rk").overwrite(lit(true))))
    // raised on the driver while planning the write: no stage, no task
    assert(chain(e).contains(fault.error), e)
    assert(!RecordingDriver.executed.exists(_.contains("__stage_")), RecordingDriver.executed)
    assert(spark.table("oneshotduck.main.rk").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
    assert(ConnectionPool.checkedOut(o) == 0)
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
    assert(!tableNames.exists(_.contains("__stage_")), tableNames.mkString(","))
    assert(ConnectionPool.checkedOut(derby) == 0)
  }

  test("a catalog DROP TABLE that fails surfaces the remote error and keeps the table") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.gone")
    spark.sql("CREATE TABLE oneshot.os.gone (k BIGINT)")
    val cat = catalog
    val ident = Identifier.of(Array("os"), "gone")
    val fault = injected("""DROP TABLE "os"."gone"""", afterRows = -1)
    val e = withFault(fault)(intercept[java.sql.SQLException](cat.dropTable(ident)))
    assert(e eq fault.error)
    assert(cat.tableExists(ident))
    assert(ConnectionPool.checkedOut(derby) == 0)
    assert(cat.dropTable(ident))
    assert(!cat.tableExists(ident))
    assert(!cat.dropTable(ident))
  }

  test("a catalog loadTable that fails on a present table surfaces the error; an absent one is not found") {
    derbyCatalog
    spark.sql("DROP TABLE IF EXISTS oneshot.os.lt")
    spark.sql("CREATE TABLE oneshot.os.lt (k BIGINT)")
    val cat = catalog
    val fault = injected(""""os"."lt" WHERE 1=0""", afterRows = -1)
    val e = withFault(fault)(
      intercept[java.sql.SQLException](cat.loadTable(Identifier.of(Array("os"), "lt"))))
    assert(e eq fault.error)
    intercept[NoSuchTableException](cat.loadTable(Identifier.of(Array("os"), "absent")))
    assert(cat.loadTable(Identifier.of(Array("os"), "lt")).schema().fieldNames.toSeq == Seq("k"))
    assert(ConnectionPool.checkedOut(derby) == 0)
  }

  test("a file-swap index or view that fails to list or to transfer is left out, warning once") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    RecordingDriver.register
    val dir = java.nio.file.Files.createTempDirectory("graft_oneshot_swap").toString
    val live = s"$dir/live.duckdb"
    val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$live")
    try Seq("CREATE TABLE s AS SELECT range AS k FROM range(5)", "CREATE INDEX ix ON s(k)",
      "CREATE VIEW vs AS SELECT k FROM s", "CREATE TABLE t (k BIGINT)").foreach(Remote.execute(c, _))
    finally c.close()
    /** Copies into a fresh staging file, returning its (indexes, views). */
    def copy(fault: RecordingDriver.Fault, n: Int): ((Long, Long), Seq[String]) = {
      val staging = JdbcOptions(Map("url" -> s"${RecordingDriver.Prefix}duckdb:$dir/stage$n.duckdb",
        "dialect" -> "duckdb"))
      staging.withConnection(Remote.execute(_, "CREATE TABLE t (k BIGINT)"))
      val (_, warns) =
        warnings(withFault(fault)(FileSwap.copyOthersAndCheckpoint(staging, live, "main", "t")))
      val counts = staging.withConnection(Remote.query(_,
        "SELECT (SELECT count(*) FROM duckdb_indexes()), " +
          "(SELECT count(*) FROM duckdb_views() WHERE NOT internal)")(rs =>
        (rs.getLong(1), rs.getLong(2)))).head
      assert(ConnectionPool.checkedOut(staging) == 0)
      ConnectionPool.retireAndDrain(staging.url)
      (counts, warns)
    }
    val listing = injected("duckdb_indexes()", afterRows = -1)
    val (kept1, w1) = copy(listing, 1)
    assertOneWarn(w1, "file-swap index listing", listing.error.getMessage)
    assert(kept1 == ((0L, 1L)))
    val transfer = injected("CREATE VIEW", afterRows = -1)
    val (kept2, w2) = copy(transfer, 2)
    assertOneWarn(w2, "file-swap view transfer", transfer.error.getMessage)
    assert(kept2 == ((1L, 0L)))
  }
}

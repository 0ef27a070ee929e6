package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-executor pool contract (reference
  * `crates/common/src/sql/db_connection_pool/mod.rs:59-64`): physical
  * connections are reused across tasks, bounded by `poolmax`, and
  * `close()` on a pooled handle releases instead of tearing down.
  */
class ConnectionPoolSpec extends AnyFunSuite with SparkFixture {

  private def opts(extra: (String, String)*): JdbcOptions =
    JdbcOptions(Map("url" -> SparkFixture.derbyUrl) ++ extra)

  test("sequential borrowers reuse one physical connection") {
    val o = opts("poolmax" -> "3")
    val before = ConnectionPool.physicalOpens(o)
    (1 to 5).foreach { _ =>
      val c = o.connect()
      val st = c.createStatement()
      st.execute("VALUES 1")
      st.close()
      c.close() // releases to the pool, must not tear down
    }
    val after = ConnectionPool.physicalOpens(o)
    assert(after - before <= 1, s"expected 1 physical open, got ${after - before}")
  }

  test("a released handle is dead; the physical connection lives on") {
    val o = opts("poolmax" -> "3")
    val c = o.connect()
    c.close()
    assert(c.isClosed)
    intercept[java.sql.SQLException](c.createStatement())
    // the underlying connection is back in the pool and still usable
    val c2 = o.connect()
    try {
      assert(!c2.isClosed)
      val st = c2.createStatement()
      st.execute("VALUES 1")
      st.close()
    } finally c2.close()
  }

  test("a connection that dies while idle is dropped at the next borrow") {
    val url = "jdbc:derby:memory:graft_pool_idle;create=true"
    val o = JdbcOptions(Map("url" -> url))
    val c = o.connect()
    c.close() // idle in the pool
    val before = ConnectionPool.physicalOpens(o)
    // shutting the database down closes every connection to it, the idle one too
    val e = intercept[java.sql.SQLException](
      java.sql.DriverManager.getConnection("jdbc:derby:memory:graft_pool_idle;shutdown=true"))
    assert(e.getSQLState == "08006", e)
    val c2 = o.connect()
    try {
      val st = c2.createStatement()
      try st.execute("VALUES 1") finally st.close()
    } finally c2.close()
    assert(ConnectionPool.physicalOpens(o) == before + 1)
    assert(ConnectionPool.checkedOut(o) == 0)
  }

  test("dynamic credentials: passwordfile re-resolves per connect, secrets redact") {
    val f = java.nio.file.Files.createTempFile("graft_pw", ".txt")
    java.nio.file.Files.writeString(f, "s3cret\n")
    assert(JdbcOptions.resolvePassword(Map("passwordfile" -> f.toString)).contains("s3cret"))
    // static password wins over the file
    assert(JdbcOptions.resolvePassword(
      Map("password" -> "x", "passwordfile" -> f.toString)).contains("x"))
    // rotation: the next physical connect reads the NEW secret
    java.nio.file.Files.writeString(f, "rotated")
    assert(JdbcOptions.resolvePassword(Map("passwordfile" -> f.toString)).contains("rotated"))
    // secrets never echo into plans/logs via toString
    val o = JdbcOptions(Map("url" -> "jdbc:derby:memory:x", "password" -> "hunter2"))
    assert(!o.toString.contains("hunter2"))
    assert(o.toString.contains("*****"))
  }

  test("4-partition parallel scan opens at most poolmax physical connections") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.pool")
    spark.sql("DROP TABLE IF EXISTS ext.pool.t")
    import spark.implicits._
    (1L to 40L).map(i => (i, i % 5)).toDF("k", "v")
      .writeTo("ext.pool.t").create()

    // poolmax=2 is its own pool identity — the counter starts fresh
    val o = opts("poolmax" -> "2")
    val before = ConnectionPool.physicalOpens(o)
    val agg = spark.read
      .option("partitioncolumn", "k")
      .option("lowerbound", "1")
      .option("upperbound", "41")
      .option("numpartitions", "4")
      .option("poolmax", "2")
      .table("ext.pool.t")
      .agg(count(lit(1)), sum(col("v"))).head()
    assert(agg.getLong(0) == 40L)
    val delta = ConnectionPool.physicalOpens(o) - before
    assert(delta >= 1 && delta <= 2,
      s"4 partition readers must share <= poolmax=2 physical connections, opened $delta")
  }

  test("remotestats COUNT(*) is cached: two plans, one remote round trip") {
    val c0 = opts().connect()
    try {
      val st = c0.createStatement()
      try {
        st.execute("CREATE SCHEMA cps")
        st.execute("CREATE TABLE cps.t1 (k BIGINT)")
        (1 to 7).foreach(i => st.execute(s"INSERT INTO cps.t1 VALUES ($i)"))
      } finally st.close()
    } finally c0.close()
    val o = opts("dbtable" -> "\"CPS\".\"T1\"", "remotestats" -> "count")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))
    JdbcScan.clearStatsCache()
    val a = JdbcScan(o, schema, where = Nil, orderBy = Nil, limit = None)
      .estimateStatistics()
    assert(a.numRows().getAsLong == 7)
    // drop the backing table: a SECOND plan over the same (url, from,
    // where) must answer from the TTL cache without touching the remote
    // — a fresh COUNT(*) would now fail, proving one round trip total
    val c1 = opts().connect()
    try {
      val st = c1.createStatement()
      try st.execute("DROP TABLE cps.t1") finally st.close()
    } finally c1.close()
    val b = JdbcScan(o, schema, where = Nil, orderBy = Nil, limit = None)
      .estimateStatistics()
    assert(b.numRows().getAsLong == 7,
      "second plan must reuse the cached remote count")
    JdbcScan.clearStatsCache()
  }

  test("attach: parsing, eager dialect validation, context identity, pool separation") {
    // named + positional entries parse; names generate where omitted
    val o = JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb",
      "attach" -> "sales=/tmp/a.duckdb,/tmp/b.duckdb"))
    assert(o.attach == Seq("sales" -> "/tmp/a.duckdb", "graft_att1" -> "/tmp/b.duckdb"))
    // generated statements: reference recipe — READ_ONLY attach + search
    // path of main-file stem and every attachment (conn.rs:225-236)
    assert(o.attachInit == Seq(
      "ATTACH IF NOT EXISTS '/tmp/a.duckdb' AS \"sales\" (READ_ONLY)",
      "ATTACH IF NOT EXISTS '/tmp/b.duckdb' AS \"graft_att1\" (READ_ONLY)",
      "SET search_path = 'm,sales,graft_att1'"))
    // federation identity: attach set changes what names resolve to, so
    // same url with different (or no) attachments is a DIFFERENT context
    val bare = JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb"))
    assert(o.computeContext != bare.computeContext)
    assert(o.computeContext ==
      JdbcOptions(o.map).computeContext, "same attach set must federate")
    // ORDER is identity too: unqualified-name resolution is
    // attach-order dependent (search_path / sqlite attach order)
    val reordered = JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb",
      "attach" -> "graft_att1=/tmp/b.duckdb,sales=/tmp/a.duckdb"))
    assert(reordered.computeContext != o.computeContext)
    // a dialect without file-attach rejects at option-parse time
    intercept[IllegalArgumentException] {
      JdbcOptions(Map("url" -> SparkFixture.derbyUrl, "attach" -> "/tmp/x.db")).attachInit
    }
    // a bare path containing '=' stays positional (not a name=path pair);
    // a named entry with an empty path is rejected eagerly
    assert(JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb",
      "attach" -> "/data/a=b.db")).attach == Seq("graft_att0" -> "/data/a=b.db"))
    intercept[IllegalArgumentException] {
      JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb", "attach" -> "sales="))
    }
    // DuckDB names a file catalog by basename minus its LAST extension,
    // whatever it is — search_path must use that name
    val ddb = JdbcOptions(Map("url" -> "jdbc:duckdb:/data/corpus.ddb",
      "attach" -> "sales=/tmp/a.duckdb"))
    assert(ddb.attachInit.last == "SET search_path = 'corpus,sales'")
    // pool separation: attach statements join the connection-init key
    assert(o.connectionInit.startsWith(o.attachInit))
    // numeric bounds reject at option-parse time, naming the option:
    // batchsize=0 would divide by zero in a DuckDB write task, poolmax=0
    // would block every connect for the full acquire timeout, and a
    // negative fetchsize would only fail at setFetchSize on an executor
    for ((k, v) <- Seq("batchsize" -> "0", "poolmax" -> "0", "fetchsize" -> "-1")) {
      val e = intercept[IllegalArgumentException] {
        JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb", k -> v))
      }
      assert(e.getMessage.contains(k), e.getMessage)
    }
    val lowest = JdbcOptions(Map("url" -> "jdbc:duckdb:/tmp/m.duckdb",
      "batchsize" -> "1", "poolmax" -> "1", "fetchsize" -> "0"))
    assert((lowest.batchSize, lowest.poolMax, lowest.fetchSize) == ((1, 1, 0)))
    // booleans and the range-partition set reject at parse time too: a
    // bad analyzeafterwrite used to throw only after the write had
    // committed, and a partial range set silently read one partition
    val base = Map("url" -> "jdbc:duckdb:/tmp/m.duckdb")
    val range = Map("partitioncolumn" -> "k", "lowerbound" -> "1", "upperbound" -> "41",
      "numpartitions" -> "4")
    for ((bad, named) <- Seq(
        Map("analyzeafterwrite" -> "yes") -> "analyzeafterwrite",
        Map("preflight" -> "1") -> "preflight",
        Map("unsupportedtypeaction" -> "strng") -> "unsupportedtypeaction",
        Map("numpartitions" -> "0") -> "numpartitions",
        (range - "partitioncolumn") -> "partitioncolumn",
        (range - "lowerbound" - "upperbound") -> "lowerbound, upperbound",
        (range + ("lowerbound" -> "42")) -> "lowerbound 42 must be <= upperbound 41")) {
      val e = intercept[IllegalArgumentException](JdbcOptions(base ++ bad))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    val legal = JdbcOptions(base ++ range + ("lowerbound" -> "41") +
      ("analyzeafterwrite" -> "TRUE") + ("preflight" -> "false"))
    assert((legal.numPartitions, legal.analyzeAfterWrite, legal.preflight) == ((4, true, false)))
    assert(JdbcOptions(base + ("numpartitions" -> "1")).numPartitions == 1)
  }
}

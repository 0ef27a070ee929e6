package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.{SQLException, SQLTransientConnectionException}

/** Write-path hardening: atomic overwrite survives mid-job task death,
  * upsert precondition is validated, Derby upserts batch, UPDATE DML
  * pushes, transient errors classify + retry.
  */
class WriteHardeningSpec extends AnyFunSuite with SparkFixture {

  test("mid-job overwrite failure leaves the target table untouched") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t1")
    import spark.implicits._
    (1L to 5L).map(i => (i, s"orig_$i")).toDF("k", "v").writeTo("ext.wh.t1").create()

    // overwrite input whose evaluation throws on k=3 mid-write
    val bad = (1L to 5L).toDF("k")
      .select($"k", when($"k" === 3, raise_error(lit("boom"))).otherwise(concat(lit("new_"), $"k")).as("v"))
    intercept[Exception] { bad.writeTo("ext.wh.t1").overwrite(lit(true)) }

    // old data must be fully intact (round-2 pre-truncate lost it here)
    assert(spark.table("ext.wh.t1").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == (1L to 5L).map(i => (i, s"orig_$i")))
    // ... and the stage table must not linger
    val tables = spark.sql("SHOW TABLES IN ext.wh").collect().map(_.getString(1))
    assert(!tables.exists(_.contains("stage")), tables.mkString(","))
  }

  test("stage GC drops only abandoned generations, never a live concurrent stage") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t7")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo("ext.wh.t7").create()
    val o = JdbcOptions(Map("url" -> SparkFixture.derbyUrl))
    val young = java.lang.Long.toHexString(System.currentTimeMillis())
    val c = o.connect()
    try {
      val st = c.createStatement()
      // timestamp 1 ms since epoch: hours past the staleness threshold
      st.executeUpdate("""CREATE TABLE "wh"."t7__stage_1_dead" (k BIGINT)""")
      // fresh timestamp: the shape of a concurrent write's live stage
      st.executeUpdate(s"""CREATE TABLE "wh"."t7__stage_${young}_live" (k BIGINT)""")
      st.close()
    } finally c.close()

    // an overwrite sweeps at factory creation
    Seq((2L, "b")).toDF("k", "v").writeTo("ext.wh.t7").overwrite(lit(true))

    val names = spark.sql("SHOW TABLES IN ext.wh").collect().map(_.getString(1))
    assert(!names.exists(_.contains("t7__stage_1_dead")), names.mkString(","))
    assert(names.exists(_.contains(s"t7__stage_${young}_live")), names.mkString(","))
    spark.sql(s"DROP TABLE ext.wh.`t7__stage_${young}_live`")
  }

  test("successful overwrite swaps atomically") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t2")
    import spark.implicits._
    (1L to 5L).map(i => (i, "old")).toDF("k", "v").writeTo("ext.wh.t2").create()
    Seq((10L, "new")).toDF("k", "v").writeTo("ext.wh.t2").overwrite(lit(true))
    assert(spark.table("ext.wh.t2").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "new")))
  }

  test("duplicate upsert keys within a batch are rejected, not silently order-dependent") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t3")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo("ext.wh.t3").create()
    val dup = Seq((7L, "x"), (7L, "y")).toDF("k", "v").coalesce(1)
    val e = intercept[Exception] {
      dup.writeTo("ext.wh.t3").option("upsertkeys", "k").append()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate upsert key")), messages(e).mkString(" | "))
    // Derby sorts its rows by key, so a duplicate 3 rows apart is caught
    // whatever the batch size, before anything commits
    val apart = Seq((7L, "x"), (3L, "p"), (4L, "q"), (7L, "y")).toDF("k", "v").coalesce(1)
    val e1 = intercept[Exception] {
      apart.writeTo("ext.wh.t3").option("upsertkeys", "k").option("batchsize", "2").append()
    }
    assert(messages(e1).exists(_.contains("duplicate upsert key")), messages(e1).mkString(" | "))
    assert(spark.table("ext.wh.t3").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a")))
    assert(ConnectionPool.checkedOut(JdbcOptions(Map("url" -> SparkFixture.derbyUrl))) == 0)

    // DuckDB checks the keys across the whole stage at the move, so
    // duplicates in DIFFERENT partitions are caught too, and nothing lands
    if (DuckDbWireSpec.driverPresent) {
      val dir = java.nio.file.Files.createTempDirectory("graft_whduck").toString
      spark.conf.set("spark.sql.catalog.whduck", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set("spark.sql.catalog.whduck.url", s"jdbc:duckdb:$dir/dup.duckdb")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS whduck.wh")
      spark.sql("CREATE TABLE whduck.wh.t3 (k BIGINT NOT NULL, v STRING) " +
        "TBLPROPERTIES ('primarykeys'='k')")
      Seq((1L, "a")).toDF("k", "v").writeTo("whduck.wh.t3").append()
      val spread = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq((7L, "x"), (8L, "z"), (7L, "y")), 3)).toDF("k", "v")
      val e2 = intercept[Exception] {
        spread.writeTo("whduck.wh.t3").option("upsertkeys", "k").append()
      }
      assert(messages(e2).exists(_.contains("duplicate upsert key")), messages(e2).mkString(" | "))
      assert(spark.table("whduck.wh.t3").collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq == Seq((1L, "a")))
      val left = spark.sql("SHOW TABLES IN whduck.wh").collect().map(_.getString(1))
      assert(!left.exists(_.contains("__stage_")), left.mkString(","))
    }
  }

  test("do-nothing upsert keeps existing rows untouched, inserts only new keys") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t8")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").writeTo("ext.wh.t8").create()
    // key 1 arrives with a DIFFERENT payload: do_nothing must not apply it
    Seq((1L, "CLOBBER"), (3L, "c")).toDF("k", "v")
      .writeTo("ext.wh.t8")
      .option("upsertkeys", "k").option("upsertmode", "do_nothing")
      .append()
    assert(spark.table("ext.wh.t8").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // idempotent: a second identical do-nothing append changes nothing
    Seq((1L, "CLOBBER"), (3L, "ZZZ")).toDF("k", "v")
      .writeTo("ext.wh.t8")
      .option("upsertkeys", "k").option("upsertmode", "do_nothing")
      .append()
    assert(spark.table("ext.wh.t8").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("analyzeafterwrite refreshes remote index statistics post-commit") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t10")
    spark.sql("CREATE TABLE ext.wh.t10 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('indexes'='v')")
    import spark.implicits._
    (1L to 500L).map(i => (i, i % 7)).toDF("k", "v")
      .writeTo("ext.wh.t10").option("analyzeafterwrite", "true").append()
    val o = JdbcOptions(Map("url" -> SparkFixture.derbyUrl))
    val c = o.connect()
    val stats = try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(
          "SELECT COUNT(*) FROM SYS.SYSSTATISTICS s " +
            "JOIN SYS.SYSTABLES t ON s.TABLEID = t.TABLEID " +
            "WHERE t.TABLENAME = 't10'")
        rs.next(); rs.getLong(1)
      } finally st.close()
    } finally c.close()
    assert(stats > 0, "expected Derby index statistics after analyzeafterwrite")
  }

  test("batched Derby upsert handles thousands of rows in both paths") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t4")
    import spark.implicits._
    (1L to 3000L).map(i => (i, s"v$i")).toDF("k", "v").writeTo("ext.wh.t4").create()
    // 1500 updates + 1500 inserts
    (1501L to 4500L).map(i => (i, s"u$i")).toDF("k", "v")
      .writeTo("ext.wh.t4").option("upsertkeys", "k").append()
    val rows = spark.table("ext.wh.t4").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 4500)
    assert(rows(1000L) == "v1000" && rows(2000L) == "u2000" && rows(4000L) == "u4000")
  }

  test("a do_nothing_all append without a PRIMARY KEY fails before any task and frees the pool") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t11")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo("ext.wh.t11").create()
    // thrown by the driver's plan itself: a failed write task would
    // arrive wrapped in the job's SparkException
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "x"), (2L, "b")).toDF("k", "v").writeTo("ext.wh.t11")
        .option("upsertmode", "do_nothing_all").append()
    }
    assert(e.getMessage.contains("needs a PRIMARY KEY"), e.getMessage)
    assert(spark.table("ext.wh.t11").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "a")))
    assert(ConnectionPool.checkedOut(JdbcOptions(Map("url" -> SparkFixture.derbyUrl))) == 0)
  }

  test("a writer that fails to start returns its connection: append to a missing table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(3)
        .write.format("graft.sources.jdbc.GraftJdbcSource")
        .option("url", SparkFixture.derbyUrl).option("dbtable", "\"wh\".\"no_such_table\"")
        .mode("append").save()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    // Derby's own error, raised by prepareStatement in the writer
    assert(messages.exists(_.contains("'wh.no_such_table' does not exist")),
      messages.mkString(" | "))
    assert(ConnectionPool.checkedOut(JdbcOptions(Map("url" -> SparkFixture.derbyUrl))) == 0)
  }

  test("a quoted table name with a dot and a doubled quote takes a do_nothing_all upsert") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wp")
    spark.sql("DROP TABLE IF EXISTS ext.wp.`a.\"b`")
    spark.sql("CREATE TABLE ext.wp.`a.\"b` (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").writeTo("ext.wp.`a.\"b`").append()
    // the key lookup must ask for the table a."b in schema wp
    Seq((1L, "CLOBBER"), (2L, "b")).toDF("k", "v").writeTo("ext.wp.`a.\"b`")
      .option("upsertmode", "do_nothing_all").append()
    assert(spark.table("ext.wp.`a.\"b`").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a bare table name lies in the connection's schema: key lookup, stage and Appender") {
    import spark.implicits._
    def exec(url: String, sql: String*): Unit = {
      val c = JdbcOptions(Map("url" -> url)).connect()
      try sql.foreach(q => c.createStatement().executeUpdate(q)) finally c.close()
    }
    def save(df: org.apache.spark.sql.DataFrame, url: String, table: String, mode: String,
        opts: (String, String)*): Unit =
      df.write.format("graft.sources.jdbc.GraftJdbcSource").option("url", url)
        .option("dbtable", table).options(opts.toMap).mode(mode).save()
    def read(url: String, table: String) = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", url).option("dbtable", table).load().collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    // Derby: an unquoted name is stored upper-case in the default schema APP
    exec(SparkFixture.derbyUrl, "CREATE TABLE WH_BARE (K BIGINT NOT NULL PRIMARY KEY, V VARCHAR(10))",
      "INSERT INTO WH_BARE VALUES (1, 'a')")
    try {
      save(Seq((1L, "CLOBBER"), (2L, "b")).toDF("K", "V"), SparkFixture.derbyUrl, "WH_BARE",
        "append", "upsertmode" -> "do_nothing_all")
      assert(read(SparkFixture.derbyUrl, "WH_BARE") == Seq((1L, "a"), (2L, "b")))
    } finally exec(SparkFixture.derbyUrl, "DROP TABLE WH_BARE")

    // DuckDB: the Appender fills a stage in schema main
    if (DuckDbWireSpec.driverPresent) {
      val dir = java.nio.file.Files.createTempDirectory("graft_whbare").toString
      val url = s"jdbc:duckdb:$dir/bare.duckdb"
      exec(url, "CREATE TABLE t_bare (k BIGINT, v VARCHAR)", "INSERT INTO t_bare VALUES (1, 'a')")
      save(Seq((2L, "b")).toDF("k", "v"), url, "t_bare", "append")
      assert(read(url, "t_bare") == Seq((1L, "a"), (2L, "b")))
    }
  }

  test("Dml.update pushes UPDATE ... SET ... WHERE remotely") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t5")
    import spark.implicits._
    (1L to 6L).map(i => (i, i * 10L)).toDF("k", "v").writeTo("ext.wh.t5").create()
    val n = Dml.update(spark, "ext.wh.t5",
      Seq("v" -> (col("v") + lit(1L))), col("k") > lit(4L))
    assert(n == 2)
    assert(spark.table("ext.wh.t5").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 51L), (6L, 61L)))
  }

  test("overwrite-by-filter replaces only matching rows, atomically") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t7")
    import spark.implicits._
    (1L to 10L).map(i => (i, i % 2, s"orig_$i")).toDF("k", "grp", "v")
      .writeTo("ext.wh.t7").create()
    Seq((101L, 1L, "new_a"), (102L, 1L, "new_b")).toDF("k", "grp", "v")
      .writeTo("ext.wh.t7").overwrite(col("grp") === 1L)
    val rows = spark.table("ext.wh.t7").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    // grp=0 untouched; grp=1 rows replaced by the two new ones
    assert(rows == Seq((2L, 0L, "orig_2"), (4L, 0L, "orig_4"), (6L, 0L, "orig_6"),
      (8L, 0L, "orig_8"), (10L, 0L, "orig_10"),
      (101L, 1L, "new_a"), (102L, 1L, "new_b")))
  }

  test("Dml.delete pushes the predicate and surfaces the affected count") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t6")
    import spark.implicits._
    (1L to 10L).map(i => (i, i % 3)).toDF("k", "m").writeTo("ext.wh.t6").create()
    val n = Dml.delete(spark, "ext.wh.t6", col("m") === lit(0L))
    assert(n == 3)
    assert(spark.table("ext.wh.t6").count() == 7)
  }

  test("Dml refuses an expression it cannot render, names it, and changes no row") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.wh")
    spark.sql("DROP TABLE IF EXISTS ext.wh.t8")
    import spark.implicits._
    (1L to 3L).map(i => (i, i * 10L)).toDF("k", "v").writeTo("ext.wh.t8").create()
    // Spark's murmur3 `hash` has no remote spelling
    val e = intercept[IllegalArgumentException] {
      Dml.update(spark, "ext.wh.t8", Seq("v" -> hash(col("k")).cast("long")), col("k") > lit(1L))
    }
    assert(e.getMessage.startsWith("expression not unparsable for derby: "), e.getMessage)
    assert(e.getMessage.contains("hash"), e.getMessage)
    assert(spark.table("ext.wh.t8").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("OnConflict statement generation: target-less, all-key degrade, parse") {
    // do_nothing_all: target-less ON CONFLICT (on_conflict.rs:32)
    val allSql = PostgresDialect.upsertStatement("\"s\".\"t\"", Seq("a", "b"), Nil,
      doNothing = true)
    assert(allSql.contains("ON CONFLICT DO NOTHING") && !allSql.contains("ON CONFLICT ("), allSql)
    // every column in the conflict target: upsert degrades to DO NOTHING
    // (on_conflict.rs:53-59)
    val degSql = PostgresDialect.upsertStatement("\"s\".\"t\"", Seq("a", "b"), Seq("a", "b"))
    assert(degSql.contains("(\"a\", \"b\") DO NOTHING"), degSql)
    assert(MySqlDialect.upsertStatement("`s`.`t`", Seq("a", "b"), Seq("a", "b"))
      .startsWith("INSERT IGNORE"))
    // normal upsert unchanged
    assert(PostgresDialect.upsertStatement("\"s\".\"t\"", Seq("a", "b"), Seq("a"))
      .contains("DO UPDATE SET \"b\" = EXCLUDED.\"b\""))
    // mode parsing: token syntax populates the keys; contradictions throw
    def opts(m: (String, String)*) = JdbcOptions(
      Map("url" -> SparkFixture.derbyUrl, "dbtable" -> "\"x\".\"y\"") ++ m)
    assert(opts("upsertmode" -> "upsert:a,b").upsertKeys == Seq("a", "b"))
    assert(opts("upsertmode" -> "upsert:a,b").upsertMode == "update")
    assert(opts("upsertmode" -> "do_nothing:a").upsertMode == "do_nothing")
    assert(opts("upsertmode" -> "do_nothing_all").upsertActive)
    assert(!opts("upsertmode" -> "do_nothing").upsertActive) // no keys -> plain append
    intercept[IllegalArgumentException](opts("upsertmode" -> "bogus"))
    intercept[IllegalArgumentException](opts("upsertmode" -> "upsert:"))
    intercept[IllegalArgumentException](
      opts("upsertmode" -> "upsert:a", "upsertkeys" -> "b"))
    intercept[IllegalArgumentException](
      opts("upsertmode" -> "do_nothing_all", "upsertkeys" -> "a"))
  }

  test("retriable-error taxonomy: transient vs permanent") {
    assert(RetriableErrors.isTransient(new SQLTransientConnectionException("x")))
    assert(RetriableErrors.isTransient(new SQLException("conn reset", "08006")))
    assert(RetriableErrors.isTransient(new SQLException("deadlock", "40001")))
    assert(RetriableErrors.isTransient(new SQLException("out of mem", "57P03")))
    assert(!RetriableErrors.isTransient(new SQLException("syntax", "42X01")))
    assert(!RetriableErrors.isTransient(new SQLException("constraint", "23505")))
    // retry loop recovers after transient failures
    var calls = 0
    val out = RetriableErrors.withRetries(3, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new SQLException("gone", "08001") else 42
    }
    assert(out == 42 && calls == 3)
    // permanent error propagates immediately
    var calls2 = 0
    intercept[SQLException] {
      RetriableErrors.withRetries(3, backoffMs = 1) {
        calls2 += 1; throw new SQLException("bad sql", "42X01")
      }
    }
    assert(calls2 == 1)
  }
}

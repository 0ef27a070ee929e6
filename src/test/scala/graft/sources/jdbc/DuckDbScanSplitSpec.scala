package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Size-aware DuckDB scans: a read with nothing pushed but the
  * projection and IS NOT NULL (a join's fact side too) splits into ranges
  * of an integer column with the same rows as one statement, every other
  * scan shape stays one partition without a failing remote statement,
  * and the catalog row count lets a small remote table broadcast while a
  * table of long strings does not. Every statement goes through
  * [[RecordingDriver]].
  */
class DuckDbScanSplitSpec extends AnyFunSuite with SparkFixture {

  private val FactRows = 200000

  private lazy val dir: String =
    java.nio.file.Files.createTempDirectory("graft_split").toString
  private def direct(file: String) = JdbcOptions(Map("url" -> s"jdbc:duckdb:$dir/$file"))

  private def exec(o: JdbcOptions, sqls: String*): Unit = {
    val c = o.connect()
    try {
      val st = c.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally c.close()
  }

  /** fact (200k rows) and a view over it in a.duckdb; a 1,000-row dim
    * and 2,000 rows of 10 kB strings in b.duckdb. */
  private lazy val tables: Unit = {
    exec(direct("a.duckdb"),
      "CREATE SCHEMA app",
      s"CREATE TABLE app.fact AS SELECT range AS id, (range % 1000)::INTEGER AS dim_id, " +
        s"range / 7.0 AS score, 't' || (range % 977) AS tag FROM range($FactRows)",
      "CREATE VIEW app.fact_v AS SELECT * FROM app.fact",
      s"COPY (SELECT * FROM app.fact) TO '$dir/fact.parquet' (FORMAT PARQUET)")
    exec(direct("b.duckdb"),
      "CREATE SCHEMA app",
      "CREATE TABLE app.dim AS SELECT range::INTEGER AS dim_id, 'r' || (range % 5) AS region " +
        "FROM range(1000)",
      "CREATE TABLE app.wide AS SELECT range::INTEGER AS dim_id, repeat('x', 10000) AS body " +
        "FROM range(2000)",
      "CREATE VIEW app.dim_v AS SELECT * FROM app.dim")
  }

  private def catalogs(): Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    RecordingDriver.register
    tables
    Seq("sa" -> "a.duckdb", "sb" -> "b.duckdb").foreach { case (n, f) =>
      spark.conf.set(s"spark.sql.catalog.$n", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$n.url", s"${RecordingDriver.Prefix}duckdb:$dir/$f")
      spark.conf.set(s"spark.sql.catalog.$n.dialect", "duckdb")
    }
  }

  /** The plan's JDBC scans (from the physical plan before adaptive
    * execution wraps it). */
  private def scans(df: DataFrame): Seq[JdbcScan] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan }
      .collect { case j: JdbcScan => j }

  private def partitions(df: DataFrame): Seq[Seq[JdbcInputPartition]] =
    scans(df).map(_.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[JdbcInputPartition]))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

  private def one(table: String): DataFrame = spark.read.option("numpartitions", "1").table(table)

  /** The ranges a default read of `rows` rows splits into: capped by the
    * session's parallelism, the default `poolmax` (8) and MaxRanges. */
  private def ranges(rows: Int): Int = Seq(spark.sparkContext.defaultParallelism, 8,
    JdbcScan.MaxRanges, rows / JdbcScan.RangeRows).min

  private def failed: Seq[String] = RecordingDriver.statements.collect { case (s, true) => s }

  test("a default read splits into column ranges and reads the rows numpartitions=1 reads") {
    catalogs()
    RecordingDriver.clear()
    val k = ranges(FactRows)
    assert(k >= 2)
    val split = spark.table("sa.app.fact")
    val parts = partitions(split)
    assert(parts.map(_.length) == Seq(k), parts)
    // id has the most distinct values; it holds no NULL, so no range has
    // the IS NULL disjunct
    assert(parts.head.head.sql.contains(s"""("id" < ${FactRows / k})"""), parts.head.head.sql)
    assert(parts.head.last.sql.contains(s"""("id" >= ${FactRows.toLong * (k - 1) / k})"""))
    assert(!parts.flatten.exists(_.sql.contains("IS NULL")))
    assert(partitions(one("sa.app.fact")).map(_.length) == Seq(1))
    val expected = rows(one("sa.app.fact"))
    assert(expected.length == FactRows)
    assert(rows(split) == expected)
    // no more ranges than the pool holds connections
    val pooled = spark.read.option("poolmax", "3").table("sa.app.fact")
    assert(partitions(pooled).map(_.length) == Seq(math.min(k, 3)))
    assert(rows(pooled) == expected)
    // a projection splits too, and runtime statements carry the wire
    val proj = spark.table("sa.app.fact").select("id", "tag")
    assert(partitions(proj).map(_.length) == Seq(k))
    assert(rows(proj) == expected.map(r => Seq(r.head, r(3))))
    assert(RecordingDriver.statements.exists(_._1.contains("duckdb_tables()")))
    assert(RecordingDriver.statements.exists(_._1.contains("stats(\"id\")")))
    assert(failed.isEmpty, failed)
  }

  test("a fact JOIN dim across two files splits the fact side despite its inferred IS NOT NULL") {
    catalogs()
    def joined(fact: DataFrame) = fact.join(spark.table("sb.app.dim"), "dim_id")
      .groupBy("region").agg(count(lit(1)).as("n"), sum("id").as("ids"))
    val join = joined(spark.table("sa.app.fact"))
    val fact = scans(join).filter(_.options.table == "\"app\".\"fact\"")
    assert(fact.map(_.where) == Seq(Seq("(\"dim_id\" IS NOT NULL)")), fact.map(_.where))
    assert(fact.map(_.planInputPartitions().length) == Seq(ranges(FactRows)))
    val expected = joined(one("sa.app.fact")).collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    assert(expected.map(_(1).asInstanceOf[Long]).sum == FactRows)
    assert(join.collect().map(_.toSeq).sortBy(_.head.toString).toSeq == expected)
  }

  test("a split column holding NULLs reads each NULL once, automatic and explicit") {
    catalogs()
    exec(direct("a.duckdb"), "CREATE OR REPLACE TABLE app.nulls AS SELECT CASE WHEN range % 10 = 0 " +
      "THEN NULL ELSE range END AS id, range::DOUBLE AS seq, 'v' || range AS s FROM range(200000)")
    val k = ranges(200000)
    val explicit = spark.read.option("partitioncolumn", "id").option("lowerbound", "0")
      .option("upperbound", "200000").option("numpartitions", k.toString)
    val expected = one("sa.app.nulls").collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Double].toLong).toSeq
    assert(expected.count(_.head == null) == 20000)
    Seq(spark.table("sa.app.nulls"), explicit.table("sa.app.nulls")).foreach { df =>
      val parts = partitions(df).flatten
      assert(parts.length == k)
      assert(parts.head.sql.contains("""OR "id" IS NULL)"""), parts.head.sql)
      assert(parts.tail.forall(!_.sql.contains("IS NULL")))
      assert(df.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Double].toLong).toSeq == expected)
    }
    // the explicit split of a column without NULLs leaves the disjunct out
    assert(!partitions(explicit.table("sa.app.fact")).flatten.exists(_.sql.contains("IS NULL")))
  }

  test("a shuffled split column reads the rows numpartitions=1 reads; no integer column, one partition") {
    catalogs()
    exec(direct("a.duckdb"),
      "CREATE OR REPLACE TABLE app.shuffled AS SELECT ((range * 7919) % 200000)::BIGINT AS k, " +
        "'v' || range AS s FROM range(200000)",
      "CREATE OR REPLACE TABLE app.noint AS SELECT range::DOUBLE AS x, 'v' || range AS s " +
        "FROM range(200000)")
    val shuffled = spark.table("sa.app.shuffled")
    assert(partitions(shuffled).map(_.length) == Seq(ranges(200000)))
    assert(partitions(shuffled).flatten.head.sql.contains(s"""("k" < ${200000 / ranges(200000)})"""))
    val expected = rows(one("sa.app.shuffled"))
    assert(expected.length == 200000 && expected.map(_.head) == (0L until 200000L))
    assert(rows(shuffled) == expected)
    val noint = spark.table("sa.app.noint")
    assert(partitions(noint).map(_.length) == Seq(1))
    assert(noint.count() == 200000)
  }

  test("one range over a clustered column is a scan filter over about n/k rows, not n") {
    catalogs()
    val k = ranges(FactRows)
    val range = partitions(spark.table("sa.app.fact")).flatten.apply(1).sql
    val c = direct("a.duckdb").connect()
    val plan = try {
      val rs = c.createStatement().executeQuery("EXPLAIN ANALYZE " + range)
      Iterator.continually(rs.next()).takeWhile(identity).map(_ => rs.getString(2)).mkString("\n")
    } finally c.close()
    // no FILTER operator over the scan; the scan itself emits the range
    assert("│\\s*FILTER\\s*│".r.findFirstIn(plan).isEmpty, plan)
    val scanned = "│\\s*(\\d+)\\s*│".r.findFirstMatchIn(plan.substring(plan.indexOf("SEQ_SCAN")))
      .map(_.group(1).toLong)
    assert(scanned.contains(FactRows.toLong / k), plan)
  }

  test("planning round trips: filtered and point scans as many as before, an eligible scan one more") {
    catalogs()
    /** Remote statements other than the scan's own, on a second run. */
    def lookups(df: => DataFrame): Int = {
      df.collect()
      RecordingDriver.clear()
      val before = JdbcCursor.executed.get()
      df.collect()
      RecordingDriver.statements.length - (JdbcCursor.executed.get() - before).toInt
    }
    def fact = spark.table("sa.app.fact")
    // the counts the rowid-split build issued: 1, 1, 2 and 5
    assert(lookups(fact.filter(col("id") >= 10 && col("id") < 30)) == 1)
    assert(lookups(fact.filter(col("id") === 42)) == 1)
    assert(lookups(fact.select("id", "tag")) == 2 + 1)
    assert(lookups(spark.sql("SELECT d.region, SUM(f.id) FROM sa.app.fact f JOIN sb.app.dim d " +
      "ON f.dim_id = d.dim_id GROUP BY d.region")) == 5 + 1)
    // an explicit split reads its column's NULL statistics: 1 before
    assert(lookups(spark.read.option("partitioncolumn", "id").option("lowerbound", "0")
      .option("upperbound", FactRows.toString).option("numpartitions", "4").table("sa.app.fact")) == 2)
  }

  test("after a DELETE leaves row-id gaps, the stale count still reads every row once") {
    catalogs()
    exec(direct("a.duckdb"), "CREATE OR REPLACE TABLE app.gappy AS SELECT * FROM app.fact",
      "DELETE FROM app.gappy WHERE id < 120000 OR id % 3 = 0")
    val k = ranges(FactRows)
    val split = spark.table("sa.app.gappy")
    assert(partitions(split).map(_.length) == Seq(k))
    val once = rows(one("sa.app.gappy"))
    assert(once.length == (120000 until FactRows).count(_ % 3 != 0))
    assert(rows(split) == once)
  }

  test("views, table functions, derived tables and pushed work plan one partition, no failed statement") {
    catalogs()
    RecordingDriver.clear()
    val fact = spark.table("sa.app.fact")
    val reader = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", s"${RecordingDriver.Prefix}duckdb:$dir/a.duckdb").option("dialect", "duckdb")
    val cases: Seq[(String, DataFrame)] = Seq(
      "view" -> spark.table("sa.app.fact_v"),
      "read_parquet" -> reader.option("dbtable", s"read_parquet('$dir/fact.parquet')").load(),
      "derived table" -> spark.sql("SELECT f.id, v.tag FROM sa.app.fact f " +
        "JOIN sa.app.fact_v v ON f.id = v.id"),
      "pushed filter" -> fact.filter(col("id") >= 10),
      "point lookup" -> fact.filter(col("id") === 42),
      "limit" -> fact.limit(5),
      "topn" -> fact.orderBy(col("score").desc).limit(5),
      "aggregate" -> fact.groupBy("dim_id").agg(sum("score")),
      "numpartitions=1" -> spark.read.option("numpartitions", "1").table("sa.app.fact"))
    cases.foreach { case (name, df) =>
      val parts = partitions(df)
      assert(parts.nonEmpty && parts.forall(_.length == 1), s"$name: $parts")
      assert(df.count() > 0, name)
    }
    assert(partitions(cases(2)._2).flatten.exists(_.sql.contains("JOIN")), "derived table collapsed")
    assert(failed.isEmpty, failed)
  }

  test("a table reached through an attach catalog counts itself; a real rowid column splits") {
    catalogs()
    // only ever attached (read-only), so no other database instance holds the file
    val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$dir/c.duckdb")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE big AS SELECT range AS id FROM range(140000)")
      st.execute("CHECKPOINT") // a read-only attach cannot replay a WAL
    } finally c.close()
    val k = ranges(140000)
    def read(table: String) = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", s"${RecordingDriver.Prefix}duckdb:$dir/a.duckdb").option("dialect", "duckdb")
      .option("attach", s"ext=$dir/c.duckdb").option("dbtable", table).load()
    RecordingDriver.clear()
    Seq("big", "ext.big", "ext.main.big").foreach { t =>
      val df = read(t)
      assert(partitions(df).map(_.length) == Seq(k), t)
      assert(df.collect().length == 140000, t)
    }
    // a real column named rowid shadows DuckDB's row id; ranged by name
    exec(direct("a.duckdb"),
      "CREATE OR REPLACE TABLE app.shadow AS SELECT range * 2 AS rowid, 'v' || range AS s FROM range(70000)")
    val shadow = spark.table("sa.app.shadow")
    val parts = partitions(shadow).flatten
    assert(parts.length == ranges(70000) && parts.head.sql.contains("\"rowid\" <"), parts)
    assert(rows(shadow) == rows(one("sa.app.shadow")))
    assert(rows(shadow).map(_.head) == (0L until 140000L by 2))
    assert(failed.isEmpty, failed)
  }

  test("a qualified name is counted from duckdb_tables() alone; a bare name still checks the views") {
    catalogs()
    RecordingDriver.clear()
    assert(scans(spark.table("sa.app.fact")).head.estimateStatistics().numRows().getAsLong == FactRows)
    val counts = RecordingDriver.statements.map(_._1).filter(_.contains("duckdb_tables()"))
    assert(counts.length == 1 && !counts.head.contains("duckdb_views()"), counts)
    exec(direct("b.duckdb"), "CREATE OR REPLACE VIEW dim_mv AS SELECT * FROM app.dim")
    RecordingDriver.clear()
    val bare = spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", s"${RecordingDriver.Prefix}duckdb:$dir/b.duckdb").option("dialect", "duckdb")
      .option("dbtable", "dim_mv").load()
    assert(scans(bare).head.estimateStatistics().numRows().isEmpty)
    assert(RecordingDriver.statements.exists(_._1.contains("duckdb_views()")))
    assert(failed.isEmpty, failed)
  }

  test("the catalog count broadcasts a 1,000-row DuckDB dim joined to a fact in another file") {
    catalogs()
    val join = spark.sql("SELECT d.region, COUNT(*) AS n FROM sa.app.fact f " +
      "JOIN sb.app.dim d ON f.dim_id = d.dim_id GROUP BY d.region")
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val stats = scans(join).map(s => s.options.table -> s.estimateStatistics()).toMap
    assert(stats("\"app\".\"dim\"").numRows().getAsLong == 1000)
    assert(stats("\"app\".\"fact\"").numRows().getAsLong == FactRows)
    assert(join.collect().map(_.getLong(1)).sum == FactRows)
    // an unknown-size side (a view) is never counted, so never broadcast
    val viewSide = spark.sql("SELECT COUNT(*) FROM sa.app.fact_v f JOIN sb.app.dim_v d " +
      "ON f.dim_id = d.dim_id")
    assert(!viewSide.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("a table of 2,000 x 10 kB strings is sized by its longest value and does not broadcast") {
    catalogs()
    val wide = scans(spark.table("sb.app.wide")).head.estimateStatistics()
    assert(wide.numRows().getAsLong == 2000)
    assert(wide.sizeInBytes().getAsLong >= 2000L * 10000, wide.sizeInBytes())
    val join = spark.sql("SELECT MAX(length(w.body)) FROM sa.app.fact_v f JOIN sb.app.wide w " +
      "ON f.dim_id = w.dim_id")
    val plan = join.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan)
  }

  test("the count is read per plan: a table that grew is planned on its new count") {
    catalogs()
    exec(direct("b.duckdb"), "CREATE OR REPLACE TABLE app.grow AS SELECT range AS id FROM range(10)")
    def counted = scans(spark.table("sb.app.grow")).head.estimateStatistics().numRows().getAsLong
    assert(counted == 10)
    exec(direct("b.duckdb"), "INSERT INTO app.grow SELECT range FROM range(10, 25)")
    assert(counted == 25)
  }
}

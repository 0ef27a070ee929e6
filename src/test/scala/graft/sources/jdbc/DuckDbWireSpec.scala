package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Live wire-level tests of the DuckDB connector: the whole DSv2 surface
  * (catalog DDL, pushdown scan, TopN, aggregate pushdown, native
  * ON CONFLICT upsert, DELETE/UPDATE, multi-file ATTACH federation)
  * executing against a real in-process DuckDB over its JDBC driver — the
  * reference's flagship connector (`crates/duckdb/src/lib.rs`), which
  * until now was validated at the SQL-semantics level only
  * (`scripts/dialect_live_check.py`).
  *
  * The driver jar is discovered from the machine-local artifact cache at
  * build time (no resolution, no network); when absent every test here
  * self-skips via `assume`.
  */
class DuckDbWireSpec extends AnyFunSuite with SparkFixture {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val available: Boolean = DuckDbWireSpec.driverPresent

  private lazy val dbPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_duck").toString
    s"$dir/wire.duckdb"
  }

  private def init(): Unit = {
    assume(available, "duckdb_jdbc driver not on classpath")
    spark.conf.set("spark.sql.catalog.duck", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.duck.url", s"jdbc:duckdb:$dbPath")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS duck.app")
  }

  test("catalog DDL + append + filter/projection pushdown on live DuckDB") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t1")
    spark.sql("CREATE TABLE duck.app.t1 (k BIGINT, name STRING, grp INT)")
    import spark.implicits._
    (1L to 20L).map(i => (i, s"name_$i", (i % 4).toInt)).toDF("k", "name", "grp")
      .writeTo("duck.app.t1").append()

    val df = spark.table("duck.app.t1").filter($"grp" === 2).select("k", "name")
    val plan = planOf(df)
    assert(plan.contains("GraftJdbcScan"))
    assert(plan.contains("\"grp\" = 2"), s"filter not pushed:\n$plan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 6L, 10L, 14L, 18L))

    // catalog discovery sees the table (DuckDB reports BASE TABLE)
    val listed = spark.sql("SHOW TABLES IN duck.app").collect().map(_.getString(1))
    assert(listed.contains("t1"), listed.mkString(","))
  }

  test("TopN + aggregate pushdown execute remotely on live DuckDB") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t2")
    import spark.implicits._
    (1L to 50L).map(i => (i, (i % 5).toInt, i * 10))
      .toDF("k", "g", "v").writeTo("duck.app.t2").create()

    val top = spark.table("duck.app.t2").orderBy($"v".desc, $"k").limit(3)
    val topPlan = planOf(top)
    assert(topPlan.contains("ORDER BY") && topPlan.contains("LIMIT 3"),
      s"TopN not pushed:\n$topPlan")
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(50L, 49L, 48L))

    val agg = spark.table("duck.app.t2").groupBy($"g")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv")).orderBy($"g")
    val aggPlan = planOf(agg)
    assert(aggPlan.contains("GROUP BY"), s"aggregate not pushed:\n$aggPlan")
    val rows = agg.collect()
    assert(rows.length == 5 && rows.forall(_.getLong(1) == 10L))
  }

  test("native ON CONFLICT upsert (update + do_nothing) over the wire") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t3")
    spark.sql("CREATE TABLE duck.app.t3 (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").writeTo("duck.app.t3").append()

    // DO UPDATE path: k=2 rewrites, k=4 inserts
    Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
      .writeTo("duck.app.t3").option("upsertkeys", "k").append()
    val afterUpdate = spark.table("duck.app.t3").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterUpdate == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))

    // DO NOTHING path: k=1 must keep "a", k=5 inserts
    Seq((1L, "CLOBBER"), (5L, "e")).toDF("k", "v")
      .writeTo("duck.app.t3").option("upsertmode", "do_nothing:k").append()
    val afterNothing = spark.table("duck.app.t3").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterNothing == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("staged overwrite of a keyed table re-inserts the keys it replaces, atomically") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t3k")
    spark.sql("CREATE TABLE duck.app.t3k (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    import spark.implicits._
    def rows = spark.table("duck.app.t3k").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    (1L to 6L).map(k => (k, s"a$k")).toDF("k", "v").writeTo("duck.app.t3k").append()

    // every key comes back: DuckDB 1.0 rejects a plain DELETE + INSERT
    // of one key inside a transaction
    (1L to 5L).map(k => (k, s"b$k")).toDF("k", "v").writeTo("duck.app.t3k").overwrite(lit(true))
    assert(rows == (1L to 5L).map(k => (k, s"b$k")))
    // by filter: 2 and 3 come back, 4 goes, 7 is new, 1 and 5 stay
    Seq((2L, "c2"), (3L, "c3"), (7L, "c7")).toDF("k", "v")
      .writeTo("duck.app.t3k").overwrite(col("k") >= 2 && col("k") < 5)
    assert(rows == Seq((1L, "b1"), (2L, "c2"), (3L, "c3"), (5L, "b5"), (7L, "c7")))
    // a key that lives outside the predicate fails the write, as the
    // plain INSERT's key violation does, and nothing changes
    val before = rows
    val e = intercept[Exception] {
      Seq((2L, "d2"), (5L, "d5")).toDF("k", "v")
        .writeTo("duck.app.t3k").overwrite(col("k") < 4)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("overwrite row key Map(k -> 5) exists outside")),
      messages.mkString(" | "))
    assert(rows == before)
  }

  test("staged overwrite of a table keyed only by a UNIQUE index restages through the index") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t3u")
    spark.sql("CREATE TABLE duck.app.t3u (k BIGINT, v STRING) TBLPROPERTIES ('indexes'='k:unique')")
    import spark.implicits._
    def rows = spark.table("duck.app.t3u").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1))).toSeq.sortBy(_.toString)
    ((1L to 4L).map(k => (Option(k), s"a$k")) :+ ((None: Option[Long]) -> "a-null"))
      .toDF("k", "v").writeTo("duck.app.t3u").append()
    RecordingDriver.register
    spark.conf.set("spark.sql.catalog.duckrec", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.duckrec.url", s"${RecordingDriver.Prefix}duckdb:$dbPath")
    spark.conf.set("spark.sql.catalog.duckrec.dialect", "duckdb")
    RecordingDriver.clear()
    // replaced keys come back, and a NULL key (which a UNIQUE index
    // admits, and which never conflicts) is replaced, not kept
    (Seq((Option(2L), "b2"), (Option(3L), "b3"), (Option(5L), "b5")) :+ ((None: Option[Long]) -> "b-null"))
      .toDF("k", "v").writeTo("duckrec.app.t3u").overwrite(lit(true))
    assert(rows == Seq((Some(2L), "b2"), (Some(3L), "b3"), (Some(5L), "b5"), (None, "b-null"))
      .sortBy(_.toString))
    // one catalog statement names the key
    assert(RecordingDriver.executed.count(_.contains("duckdb_indexes()")) == 1, RecordingDriver.executed)
    // by filter: 3 comes back, 2 goes, 1 is new, 5 and the NULL stay
    Seq((Option(1L), "c1"), (Option(3L), "c3")).toDF("k", "v")
      .writeTo("duck.app.t3u").overwrite(col("k") < 4)
    assert(rows == Seq((Some(1L), "c1"), (Some(3L), "c3"), (Some(5L), "b5"), (None, "b-null"))
      .sortBy(_.toString))
    val before = rows
    val e = intercept[Exception] {
      Seq((Option(5L), "d5")).toDF("k", "v").writeTo("duck.app.t3u").overwrite(col("k") < 4)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("overwrite row key Map(k -> 5) exists outside the overwrite " +
      "predicate (violates the UNIQUE index ix_t3u_0 of")), messages.mkString(" | "))
    assert(rows == before)
  }

  test("DELETE FROM + UPDATE DML push to live DuckDB") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t4")
    import spark.implicits._
    (1L to 10L).map(i => (i, i.toDouble)).toDF("k", "v").writeTo("duck.app.t4").create()

    spark.sql("DELETE FROM duck.app.t4 WHERE k > 8")
    assert(spark.table("duck.app.t4").count() == 8)

    Dml.update(spark, "duck.app.t4", Seq("v" -> (col("v") * lit(3.0))), col("k") <= 2)
    val vs = spark.table("duck.app.t4").orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(vs == Seq(3.0, 6.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0))
  }

  test("window functions collapse into the remote scan (ROW_NUMBER + SUM OVER)") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t5")
    import spark.implicits._
    // g: 3 groups of 4; v descending within group is deterministic
    (1L to 12L).map(i => ((i % 3).toInt, i, i * 2))
      .toDF("g", "k", "v").writeTo("duck.app.t5").create()

    import org.apache.spark.sql.expressions.{Window => W}
    val byG = W.partitionBy($"g").orderBy($"v".desc, $"k")
    val df = spark.table("duck.app.t5")
      .withColumn("rn", row_number().over(byG))
      .withColumn("gsum", sum($"v").over(W.partitionBy($"g")))
    val plan = planOf(df)
    assert(plan.contains("ROW_NUMBER() OVER"), s"window not collapsed:\n$plan")
    assert(plan.contains("SUM") && plan.contains("PARTITION BY"), plan)
    assert(!plan.contains("Window"), s"a local Window exec survived:\n$plan")

    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(3), r.getLong(4)))
    // group g: members i with i%3==g; gsum = sum(2i); rn orders by v desc
    val expected = (1L to 12L).groupBy(_ % 3).flatMap { case (g, is) =>
      val sorted = is.sortBy(-_)
      sorted.zipWithIndex.map { case (i, idx) =>
        (g.toInt, i, idx + 1, is.map(_ * 2).sum)
      }
    }.toSet
    assert(rows.toSet == expected, rows.mkString(","))

    // NEGATIVE offsets must stay LOCAL: lead(v, -1) legally behaves as
    // lag — rendering it remotely would flip the direction (review
    // finding; Lead.unapply yields the raw user-typed offset)
    val neg = spark.table("duck.app.t5").withColumn("wv", lead($"v", -1).over(byG))
    assert(planOf(neg).contains("Window"),
      s"negative-offset window must not collapse:\n${planOf(neg)}")
    val negLocal = (1L to 12L).map(i => ((i % 3).toInt, i, i * 2))
      .toDF("g", "k", "v").withColumn("wv", lead($"v", -1).over(byG))
    assert(neg.collect().map(_.mkString("|")).sorted.toSeq ==
      negLocal.collect().map(_.mkString("|")).sorted.toSeq)

    // the classic top-1-per-group: the rank filter pushes as a WHERE
    // AROUND the collapsed window subquery (remote TopK-per-group)
    val top = df.filter($"rn" === 1).select("g", "k")
    val topPlan = planOf(top)
    assert(topPlan.contains("ROW_NUMBER() OVER") && topPlan.contains("WHERE"),
      s"rank filter did not push:\n$topPlan")
    assert(top.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((0, 12L), (1, 10L), (2, 11L)))

    // TopN composes ON TOP of the collapsed window: Spark's standard
    // SupportsPushDownTopN splices ORDER BY + LIMIT around the windowed
    // derived table — window, rank filter, sort and limit all remote
    val topn = df.filter($"rn" === 1).orderBy($"gsum".desc, $"g").limit(2)
      .select("g", "k", "gsum")
    val topnPlan = planOf(topn)
    assert(topnPlan.contains("ROW_NUMBER() OVER") && topnPlan.contains("LIMIT 2"),
      s"TopN did not splice around the window subquery:\n$topnPlan")
    assert(topn.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 12L, 60L), (2, 11L, 52L)))
  }

  test("native LIST columns round-trip over the wire (text-literal bind + remote cast)") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.t6")
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1L, 2L, 3L), Seq("plain", "o'quote", "a,b")),
      (2L, Seq.empty[Long], Seq.empty[String]),
      (3L, null, null))
      .toDF("k", "nums", "strs")
    df.writeTo("duck.app.t6").create()

    val back = spark.table("duck.app.t6").orderBy("k").collect()
    assert(back(0).getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(back(0).getSeq[String](2) == Seq("plain", "o'quote", "a,b"))
    assert(back(1).getSeq[Long](1).isEmpty && back(1).getSeq[String](2).isEmpty)
    assert(back(2).isNullAt(1) && back(2).isNullAt(2))
    // and the column is a REAL list remotely, not text
    val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$dbPath")
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT typeof(nums), nums[2] FROM app.t6 WHERE k = 1")
      rs.next()
      assert(rs.getString(1) == "BIGINT[]", rs.getString(1))
      assert(rs.getLong(2) == 2L)
    } finally c.close()
  }

  test("property: random window shapes — collapsed == local execution") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.wp")
    import spark.implicits._
    val data = (1L to 40L).map(i =>
      (i, (i % 5).toInt, ((i * 7) % 13).toInt, ((i * 11) % 9).toDouble))
    data.toDF("k", "g", "v", "x").writeTo("duck.app.wp").create()
    val local = data.toDF("k", "g", "v", "x")

    import org.apache.spark.sql.expressions.{Window => W}
    def build(seed: Int, base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(seed)
      val part =
        if (rnd.nextBoolean()) Seq(col("g")) else Seq(col("g"), col("v") % 2)
      // unique k tiebreaker keeps every ranking/offset deterministic
      val oc = if (rnd.nextBoolean()) col("v") else col("x")
      val ord = Seq(if (rnd.nextBoolean()) oc.asc else oc.desc, col("k").asc)
      val w = W.partitionBy(part: _*).orderBy(ord: _*)
      val f = rnd.nextInt(6) match {
        case 0 => row_number()
        case 1 => rank()
        case 2 => sum(col("v"))
        case 3 => count(lit(1))
        case 4 => lead(col("v"), 1)
        case 5 => lag(col("x"), 2)
      }
      val df = base.withColumn("wv", f.over(w))
      if (rnd.nextBoolean()) df.filter(col("k") % 3 === 0) else df
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq

    for (seed <- 1 to 12) {
      val remote = build(seed, spark.table("duck.app.wp"))
      assert(!planOf(remote).contains("Window"),
        s"seed=$seed did not collapse:\n${planOf(remote)}")
      assert(rows(remote) == rows(build(seed, local)), s"seed=$seed diverged")
    }
  }

  test("micro-batch streaming source runs on the DuckDB wire (exactly-once)") {
    init()
    val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$dbPath")
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE app.stream_src (id BIGINT, v VARCHAR)")
      st.execute("INSERT INTO app.stream_src VALUES (1, 'a'), (2, 'b')")
      st.close()
    } finally c.close()

    val q = spark.readStream.format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", s"jdbc:duckdb:$dbPath")
      .option("dbtable", "\"app\".\"stream_src\"")
      .option("streamcolumn", "id")
      .load()
      .writeStream.format("memory").queryName("duckstream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("duckstream").count() == 2)
      val c2 = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$dbPath")
      try c2.createStatement().execute("INSERT INTO app.stream_src VALUES (3, 'c')")
      finally c2.close()
      q.processAllAvailable()
      import spark.implicits._
      assert(spark.table("duckstream").as[(Long, String)].collect().sortBy(_._1).toSeq
        == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("INTERSECT and EXCEPT collapse to one remote statement on live DuckDB") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.so")
    import spark.implicits._
    // grp is NULLABLE: set-op equality is null-safe, so a NULL group must
    // intersect with itself — exactly what IS NOT DISTINCT FROM renders
    (1L to 10L).map(i => (i, if (i % 5 == 0) null else s"g${i % 3}"))
      .toDF("k", "grp").writeTo("duck.app.so").create()

    val a = spark.table("duck.app.so").filter($"k" <= 7).select("grp")
    val b = spark.table("duck.app.so").filter($"k" >= 4).select("grp")

    val inter = a.intersect(b).orderBy("grp")
    val iPlan = planOf(inter)
    assert(iPlan.split("GraftJdbcScan").length - 1 == 1,
      s"INTERSECT did not collapse to one scan:\n$iPlan")
    assert(iPlan.contains("IS NOT DISTINCT FROM"),
      s"null-safe equality not rendered:\n$iPlan")
    assert(iPlan.contains("SELECT DISTINCT"), s"no remote DISTINCT:\n$iPlan")
    // rows 4..7 have grps g1,null,g0,g1 — intersect {g0,g1,g2,null} = all
    // (Spark ascending sort puts NULL first)
    assert(inter.collect().map(r => Option(r.getString(0)).getOrElse("NULL")).toSeq ==
      Seq("NULL", "g0", "g1", "g2"))

    val exc = a.except(b).orderBy("grp")
    val ePlan = planOf(exc)
    assert(ePlan.split("GraftJdbcScan").length - 1 == 1,
      s"EXCEPT did not collapse to one scan:\n$ePlan")
    assert(ePlan.contains("NOT EXISTS"), s"no remote NOT EXISTS:\n$ePlan")
    // a = {g1,g2,g0,g1,null,g0,g1}, b covers g0,g1,g2,null → empty
    assert(exc.collect().isEmpty)

    // …and a differing EXCEPT, to prove values flow: rows k<=4 minus k>=4
    val a2 = spark.table("duck.app.so").filter($"k" <= 4).select("k")
    val b2 = spark.table("duck.app.so").filter($"k" >= 4).select("k")
    val e2 = a2.except(b2).orderBy("k")
    assert(e2.queryExecution.executedPlan.toString
      .split("GraftJdbcScan").length - 1 == 1)
    assert(e2.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("negative control: a Derby x DuckDB join never collapses, and is still exact") {
    init()
    // one leg per ENGINE: contexts differ, so AllowedFor(context)
    // equality must refuse the merge — on two REAL engines, not a mock
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.xe")
    spark.sql("DROP TABLE IF EXISTS ext.xe.dn")
    spark.sql("DROP TABLE IF EXISTS duck.app.dr")
    import spark.implicits._
    (1L to 6L).map(i => (i, s"n$i", (i % 2).toInt)).toDF("nk", "nname", "rk")
      .writeTo("ext.xe.dn").create()
    Seq((0, "AMERICA"), (1, "EUROPE")).toDF("rk", "rname")
      .writeTo("duck.app.dr").create()

    val joined = spark.table("ext.xe.dn")
      .join(spark.table("duck.app.dr"), "rk")
      .select("nk", "nname", "rname").orderBy("nk")
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"cross-engine join must stay local:\n$plan")
    val rows = joined.collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == Seq(1L -> "EUROPE", 2L -> "AMERICA", 3L -> "EUROPE",
      4L -> "AMERICA", 5L -> "EUROPE", 6L -> "AMERICA"), rows.mkString(","))

    // mixed-context SET-OPS never merge either: the INTERSECT's semi-join
    // legs live on different engines, so two scans must remain
    val xInter = spark.table("ext.xe.dn").select("rk")
      .intersect(spark.table("duck.app.dr").select("rk")).orderBy("rk")
    val xPlan = planOf(xInter)
    assert(xPlan.split("GraftJdbcScan").length - 1 == 2,
      s"cross-engine INTERSECT must stay two scans:\n$xPlan")
    assert(xInter.collect().map(_.getInt(0)).toSeq == Seq(0, 1))
  }

  test("multi-file ATTACH federation: a cross-file join collapses to ONE remote scan") {
    init()
    val dir = java.nio.file.Files.createTempDirectory("graft_duck_att").toString
    val salesPath = s"$dir/sales.duckdb"
    val refPath = s"$dir/refdata.duckdb"
    // build the two sibling files over plain wire connections
    def seed(path: String, ddl: Seq[String]): Unit = {
      val c = java.sql.DriverManager.getConnection(s"jdbc:duckdb:$path")
      try { val st = c.createStatement(); ddl.foreach(st.execute); st.close() }
      finally c.close()
    }
    seed(salesPath, Seq(
      "CREATE TABLE sales(id BIGINT, cust BIGINT, amt DOUBLE)",
      "INSERT INTO sales SELECT r, r % 3, r * 1.5 FROM range(9) t(r)"))
    seed(refPath, Seq(
      "CREATE TABLE custs(cust BIGINT, name VARCHAR)",
      "INSERT INTO custs VALUES (0,'zero'),(1,'one'),(2,'two')"))

    def attached(table: String) = spark.read
      .format("graft.sources.jdbc.GraftJdbcSource")
      .option("url", s"jdbc:duckdb:$salesPath")
      .option("attach", s"refdata=$refPath")
      .option("dbtable", table)
      .load()

    val joined = attached("sales")
      .join(attached("\"refdata\".\"main\".\"custs\""), "cust")
      .groupBy("name").agg(sum("amt").as("total")).orderBy("name")
    val plan = planOf(joined)
    assert(plan.contains("JOIN"), s"attach federation did not collapse:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"join ran locally:\n$plan")
    val rows = joined.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows == Seq(("one", 18.0), ("two", 22.5), ("zero", 13.5)), rows.mkString(","))
  }
  test("BLOB columns: a few thousand rows round-trip, getBytes is tried once per column") {
    init()
    spark.sql("DROP TABLE IF EXISTS duck.app.blobs")
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val in = (0 until 3000).map { i =>
      (i.toLong, if (i % 97 == 0) null else Array.fill(i % 40)(rnd.nextInt(256).toByte))
    }
    in.toDF("k", "b").writeTo("duck.app.blobs").create()
    val back = spark.table("duck.app.blobs").collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
    assert(back == in.map { case (k, b) => k -> Option(b).map(_.toSeq) }.toMap)

    // DuckDB's getBytes throws NotSupported: the fill learns that on
    // the first value and reads every later one through getBlob
    var getBytesCalls = 0
    val blobOnly = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[java.sql.ResultSet]),
      (_: AnyRef, m: java.lang.reflect.Method, _: Array[AnyRef]) => m.getName match {
        case "getBytes" =>
          getBytesCalls += 1
          throw new java.sql.SQLFeatureNotSupportedException("getBytes")
        case "getBlob" => new javax.sql.rowset.serial.SerialBlob(Array[Byte](1, 2))
        case other => throw new UnsupportedOperationException(other)
      }).asInstanceOf[java.sql.ResultSet]
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.BinaryType)))
    // a binary fill consults no column metadata
    val fill = TypeMapping.fills(schema, null).head
    val v = new org.apache.spark.sql.execution.vectorized.OnHeapColumnVector(5, schema.head.dataType)
    (0 until 5).foreach { r =>
      fill(blobOnly, 1, v, r)
      assert(v.getBinary(r).toSeq == Seq[Byte](1, 2))
    }
    assert(getBytesCalls == 1)
  }

  test("the pinned driver resolves, and a plain scan fills every column from its chunks") {
    init()
    assert(DuckDbChunk.resolved)
    spark.sql("DROP TABLE IF EXISTS duck.app.chunked")
    import spark.implicits._
    val in = (0L until 5000L).map(i => (i, i * 0.5, s"s$i"))
    in.toDF("k", "d", "s").writeTo("duck.app.chunked").create()
    val before = DuckDbChunk.columnsFilled.get()
    val back = spark.read.option("numpartitions", "1").table("duck.app.chunked").collect()
    // k and d as stored, s as its UTF-8 wire BLOB
    assert(DuckDbChunk.columnsFilled.get() - before == 3)
    assert(back.map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq == in)
  }

  test("Appender-staged writes store every type exactly as prepared binds do") {
    init()
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("bo", BooleanType),
      StructField("by", ByteType), StructField("sh", ShortType),
      StructField("i", IntegerType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("dec", DecimalType(18, 2)),
      StructField("wide", DecimalType(38, 10)), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("ai", ArrayType(IntegerType)), StructField("as", ArrayType(StringType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("iv", DayTimeIntervalType())))
    def dec(s: String) = new java.math.BigDecimal(s)
    def day(s: String) = java.time.LocalDate.parse(s)
    def inst(s: String) = java.time.Instant.parse(s)
    def ldt(s: String) = java.time.LocalDateTime.parse(s)
    val rows = Seq(
      Row(1L, true, 7.toByte, 300.toShort, 42, 1.5f, 2.25, dec("12.34"),
        dec("1.0000000001"), "plain", Array[Byte](1, 2, 3), day("2024-02-29"),
        inst("2024-01-02T03:04:05.123456Z"), ldt("2024-01-02T03:04:05.123456"),
        Seq(1, 2, 3), Seq("a", "b"), Map("x" -> 1), Row(1, "s"),
        java.time.Duration.ofSeconds(90)),
      Row(2L, false, Byte.MinValue, Short.MaxValue, Int.MinValue, Float.MaxValue,
        Double.MinPositiveValue, dec("-9999999999999999.99"),
        dec("1234567890123456789012345678.0123456789"),
        "quote ' \" back\\slash, comma\nnew line \u00e9\u4e2d\uD83D\uDE00",
        (0 until 256).map(_.toByte).toArray, day("0001-01-01"),
        inst("1900-01-01T00:00:00.000001Z"), ldt("1969-12-31T23:59:59.999999"),
        Seq(null, -1), Seq("a,b", "\"q\"", null, ""), Map("k" -> null, "j" -> 2),
        Row(null, "x,y"), java.time.Duration.ofMillis(-1)),
      Row(3L, true, 0.toByte, 0.toShort, 0, -0.5f, 1e300, dec("0.00"), dec("0E-10"),
        "", Array.emptyByteArray, day("1582-10-10"), inst("2262-04-11T23:47:16.854775Z"),
        ldt("9999-12-31T23:59:59.999999"), Seq.empty[Int], Seq.empty[String],
        Map.empty[String, Int], Row(0, ""), java.time.Duration.ZERO),
      Row(4L +: Seq.fill(schema.length - 1)(null): _*))
    val df = spark.createDataFrame(rows.asJava, schema)
    spark.sql("DROP TABLE IF EXISTS duck.app.types_a")
    spark.sql("DROP TABLE IF EXISTS duck.app.types_p")
    df.writeTo("duck.app.types_a").create()
    df.limit(0).writeTo("duck.app.types_p").create()
    // the reference: the same rows bound through prepared parameters
    val po = JdbcOptions(Map("url" -> s"jdbc:duckdb:$dbPath", "dbtable" -> "\"app\".\"types_p\""))
    val w = JdbcWriterFactory(po, schema,
      TaskWrite.Prepared(JdbcWrite.insertSql(po.dialect, po.table, schema))).createWriter(0, 0)
    try {
      df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write)
      w.commit()
    } finally w.close()

    val c = JdbcOptions(Map("url" -> s"jdbc:duckdb:$dbPath")).connect()
    try {
      def count(sql: String): Long = {
        val rs = c.createStatement().executeQuery(sql)
        rs.next(); rs.getLong(1)
      }
      assert(count("SELECT COUNT(*) FROM app.types_a") == rows.size)
      assert(count("SELECT COUNT(*) FROM (SELECT * FROM app.types_a " +
        "EXCEPT ALL SELECT * FROM app.types_p)") == 0)
      assert(count("SELECT COUNT(*) FROM (SELECT * FROM app.types_p " +
        "EXCEPT ALL SELECT * FROM app.types_a)") == 0)
    } finally c.close()
  }
}

object DuckDbWireSpec {
  lazy val driverPresent: Boolean =
    try { Class.forName("org.duckdb.DuckDBDriver"); true }
    catch { case _: ClassNotFoundException => false }
}

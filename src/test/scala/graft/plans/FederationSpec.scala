package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Federation rule: joins between tables of the same Derby database
  * collapse into ONE remote SQL statement; the plan must show exactly
  * one GraftJdbcScan (reference behavior: `federation.rs:62-110`).
  */
class FederationSpec extends AnyFunSuite with SparkFixture {

  private def scanCount(df: org.apache.spark.sql.DataFrame): Int =
    "GraftJdbcScan".r.findAllIn(df.queryExecution.executedPlan.toString).length

  private def setup(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.fed")
    spark.sql("DROP TABLE IF EXISTS ext.fed.orders")
    spark.sql("DROP TABLE IF EXISTS ext.fed.cust")
    import spark.implicits._
    Seq((1L, "alice", 1), (2L, "bob", 2), (3L, "carol", 1))
      .toDF("cid", "cname", "seg").writeTo("ext.fed.cust").create()
    Seq((10L, 1L, 100.0), (11L, 1L, 250.0), (12L, 2L, 40.0), (13L, 3L, 75.0))
      .toDF("oid", "ocid", "amount").writeTo("ext.fed.orders").create()
  }

  test("two-table inner join collapses to one remote scan") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .select("oid", "cname", "amount")
      .orderBy("oid")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(" JOIN "), s"no remote JOIN in plan:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((10L, "alice", 100.0), (11L, "alice", 250.0), (12L, "bob", 40.0), (13L, "carol", 75.0)))
  }

  test("filters on join legs ride inside the collapsed SQL") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .filter($"seg" === 1 && $"amount" > 50.0)
      .select("oid", "cname")
      .orderBy("oid")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "alice"), (11L, "alice"), (13L, "carol")))
  }

  test("temporal extraction rides inside the collapsed federation SQL") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ext.fed.ev")
    import spark.implicits._
    Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("1995-06-01 08:00:00")),
      (2L, 2L, java.sql.Timestamp.valueOf("1996-06-01 09:30:00")),
      (3L, 3L, java.sql.Timestamp.valueOf("1995-01-02 10:00:00")))
      .toDF("evid", "ecid", "ets").writeTo("ext.fed.ev").create()
    val df = spark.table("ext.fed.ev")
      .join(spark.table("ext.fed.cust"), $"ecid" === $"cid")
      .filter(year($"ets") === 1995 && month($"ets") === 6)
      .select("evid", "cname")
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1,
      s"year/month filter should not break the collapse:\n$plan")
    assert(plan.contains("YEAR(") && plan.contains("MONTH("),
      s"extraction must ride remotely:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice")))
  }

  test("expression GROUP BY pushes into the collapsed federation scan") {
    setup()
    import spark.implicits._
    // join collapses first; the aggregate with an EXPRESSION argument
    // (SUM(amount * seg)) then rides the standard DSv2 pushdown into
    // the SAME collapsed statement — one scan, remote GROUP BY
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .groupBy($"seg")
      .agg(count(lit(1)).as("n"), sum($"amount" * $"seg").as("ws"))
      .orderBy("seg")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GROUP BY"), s"aggregate not pushed:\n$plan")
    assert(plan.contains("SUM("), s"weighted sum not pushed:\n$plan")
    assert(df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1, 3L, 425.0), (2, 1L, 80.0)))
  }

  test("an 11-literal IN list on a leg (Catalyst's InSet) collapses to one remote scan") {
    setup()
    import spark.implicits._
    // OptimizeIn turns an IN list of more than 10 literals into InSet
    val df = spark.table("ext.fed.orders").filter($"oid".isin(11L to 21L: _*))
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .select("oid", "cname")
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1, s"InSet leg filter broke the collapse:\n$plan")
    assert(plan.contains(" IN ("), s"IN list not remote:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((11L, "alice"), (12L, "bob"), (13L, "carol")))
  }

  test("a CASE WHEN leg filter collapses to one remote scan") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust")
        .filter(when($"seg" === 1, $"cid").otherwise($"cid" * 10) < 5), $"ocid" === $"cid")
      .select("oid", "cname")
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1, s"CASE WHEN leg filter broke the collapse:\n$plan")
    assert(plan.contains("CASE WHEN"), s"CASE WHEN not remote:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((10L, "alice"), (11L, "alice"), (13L, "carol")))
  }

  test("with ANSI mode off an arithmetic leg filter stays local, as Spark's own pushdown does") {
    setup()
    import spark.implicits._
    // non-ANSI `+` wraps on overflow where a remote engine would raise
    // or widen, so V2ExpressionBuilder translates arithmetic only in
    // ANSI mode; the leg then keeps its Spark filter and the join stays
    // two scans, with the same rows
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = spark.table("ext.fed.orders")
        .join(spark.table("ext.fed.cust").filter($"cid" + 1 > 2), $"ocid" === $"cid")
        .select("oid", "cname")
      val plan = df.queryExecution.executedPlan.toString
      // two table scans (dynamic pruning may add a third copy)
      assert(scanCount(df) >= 2 && !plan.contains(" JOIN "),
        s"a non-ANSI + must not render remotely:\n$plan")
      assert(plan.contains("Filter ((cid"), s"the + filter is not local:\n$plan")
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
        Seq((12L, "bob"), (13L, "carol")))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("a constant whose fold throws keeps the expression local instead of failing the rule") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, EvalMode,
      Literal}
    import org.apache.spark.sql.types.IntegerType
    val a = AttributeReference("a", IntegerType)()
    val u = new CatalystUnparser(graft.sources.jdbc.DerbyDialect, Map(a.exprId -> "\"a\""))
    def castInt(s: String) = Cast(Literal(s), IntegerType, None, EvalMode.ANSI)
    assert(u.expr(EqualTo(a, castInt("7")), isPredicate = true).contains("(\"a\" = 7)"))
    // ANSI CAST('x' AS INT) throws when Spark evaluates it
    assert(u.expr(EqualTo(a, castInt("x")), isPredicate = true).isEmpty)
  }

  test("three-way join collapses bottom-up into one statement") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ext.fed.seg")
    import spark.implicits._
    Seq((1, "retail"), (2, "corp")).toDF("sid", "sname").writeTo("ext.fed.seg").create()
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .join(spark.table("ext.fed.seg"), $"seg" === $"sid")
      .groupBy("sname").agg(count(lit(1)).as("n"))
      .orderBy("sname")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("corp", 1L), ("retail", 3L)))
  }

  test("left outer join preserves null extension") {
    setup()
    import spark.implicits._
    spark.sql("DELETE FROM ext.fed.orders WHERE ocid = 2")
    val df = spark.table("ext.fed.cust")
      .join(spark.table("ext.fed.orders"), $"cid" === $"ocid", "left")
      .select($"cname", $"oid")
      .orderBy($"cname", $"oid")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq(("alice", 10L), ("alice", 11L), ("bob", -1L), ("carol", 13L)))
  }

  test("same-server semi-join collapses to one remote EXISTS scan") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.cust")
      .join(spark.table("ext.fed.orders"),
        $"cid" === $"ocid" && $"amount" > 50.0, "left_semi")
      .select("cid", "cname").orderBy("cid")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EXISTS"), s"no EXISTS in remote SQL:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice"), (3L, "carol")))
  }

  test("same-server anti-join collapses to one remote NOT EXISTS scan") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.cust")
      .join(spark.table("ext.fed.orders"),
        $"cid" === $"ocid" && $"amount" > 200.0, "left_anti")
      .select("cid", "cname").orderBy("cid")
    assert(scanCount(df) == 1,
      s"expected 1 collapsed scan:\n${df.queryExecution.executedPlan}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("NOT EXISTS"), s"no NOT EXISTS in remote SQL:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "bob"), (3L, "carol")))
  }

  /** `sql`'s rows in order, after checking its scan count. */
  private def sqlRows(sql: String, scans: Int): Seq[Seq[Any]] = {
    val df = spark.sql(sql)
    assert(scanCount(df) == scans, s"expected $scans scan(s):\n${df.queryExecution.executedPlan}")
    df.collect().map(_.toSeq).toSeq
  }

  private def plan(sql: String): String = spark.sql(sql).queryExecution.executedPlan.toString

  test("a correlated SQL EXISTS collapses to one remote EXISTS scan") {
    setup()
    val q = "SELECT c.cid, c.cname FROM ext.fed.cust c WHERE c.seg > 0 AND EXISTS " +
      "(SELECT 1 FROM ext.fed.orders o WHERE o.ocid = c.cid AND o.amount > 50.0) ORDER BY c.cid"
    val p = plan(q)
    assert(p.contains("EXISTS (SELECT 1 FROM (SELECT"), p)
    assert(sqlRows(q, 1) == Seq(Seq(1L, "alice"), Seq(3L, "carol")))
  }

  test("a correlated SQL NOT EXISTS collapses to one remote NOT EXISTS scan") {
    setup()
    val q = "SELECT c.cid, c.cname FROM ext.fed.cust c WHERE NOT EXISTS " +
      "(SELECT 1 FROM ext.fed.orders o WHERE o.ocid = c.cid AND o.amount > 200.0) ORDER BY c.cid"
    val p = plan(q)
    assert(p.contains("NOT EXISTS"), p)
    assert(sqlRows(q, 1) == Seq(Seq(2L, "bob"), Seq(3L, "carol")))
  }

  test("a multi-column IN subquery collapses to one remote EXISTS scan") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ext.fed.segs")
    import spark.implicits._
    Seq((1L, 1), (2L, 1), (3L, 1), (4L, 2)).toDF("scid", "sseg").writeTo("ext.fed.segs").create()
    // bob (cid 2) matches on cid alone, not on (cid, seg)
    val q = "SELECT c.cid, c.cname FROM ext.fed.cust c WHERE (c.cid, c.seg) IN " +
      "(SELECT s.scid, s.sseg FROM ext.fed.segs s WHERE s.scid < 4) ORDER BY c.cid"
    val p = plan(q)
    assert(p.contains("WHERE EXISTS") && !p.contains("NOT EXISTS"), p)
    assert(sqlRows(q, 1) == Seq(Seq(1L, "alice"), Seq(3L, "carol")))
  }

  test("NOT IN stays local over a nullable value or column and collapses over non-nullable ones") {
    setup()
    // CREATE TABLE AS makes every column nullable; DDL keeps NOT NULL
    spark.sql("DROP TABLE IF EXISTS ext.fed.nk")
    spark.sql("DROP TABLE IF EXISTS ext.fed.nn")
    spark.sql("CREATE TABLE ext.fed.nk (nid BIGINT NOT NULL, k BIGINT)")
    spark.sql("CREATE TABLE ext.fed.nn (mid BIGINT NOT NULL)")
    spark.sql("INSERT INTO ext.fed.nk VALUES (1, 1), (2, NULL), (3, 3)")
    spark.sql("INSERT INTO ext.fed.nn VALUES (1), (2)")
    // a NULL column value rejects every row, and a NULL value rejects
    // its own row: Spark's null-aware anti join says so, NOT EXISTS not
    assert(sqlRows("SELECT cid FROM ext.fed.cust WHERE cid NOT IN (SELECT k FROM ext.fed.nk)", 2)
      .isEmpty)
    assert(sqlRows("SELECT nid FROM ext.fed.nk WHERE k NOT IN (SELECT mid FROM ext.fed.nn)", 2) ==
      Seq(Seq(3L)))
    val q = "SELECT nid FROM ext.fed.nk WHERE nid NOT IN (SELECT mid FROM ext.fed.nn)"
    val p = plan(q)
    assert(p.contains("NOT EXISTS"), p)
    assert(sqlRows(q, 1) == Seq(Seq(3L)))
  }

  test("a subquery with a pushed LIMIT or aggregate stays local") {
    setup()
    val topn = "SELECT cid, cname FROM ext.fed.cust WHERE cid IN " +
      "(SELECT ocid FROM ext.fed.orders ORDER BY amount DESC LIMIT 3) ORDER BY cid"
    val grouped = "SELECT cid, cname FROM ext.fed.cust WHERE cid IN " +
      "(SELECT ocid FROM ext.fed.orders GROUP BY ocid HAVING COUNT(*) > 1)"
    // the subquery's pushed statement, kept as its own scan under a local semi join
    for ((q, pushed, ids) <- Seq((topn, "FETCH FIRST 3 ROWS ONLY", Seq(1L, 3L)),
        (grouped, "GROUP BY", Seq(1L)))) {
      val p = plan(q)
      assert(p.contains(pushed) && p.contains("LeftSemi"), p)
      assert(spark.sql(q).collect().map(_.getLong(0)).toSeq == ids)
    }
  }

  test("TopN + OFFSET push into the collapsed federation statement") {
    setup()
    import spark.implicits._
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
      .select("oid", "cname", "amount")
      .orderBy($"amount".desc, $"oid").offset(1).limit(2)
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1, s"collapse lost under TopN:\n$plan")
    assert(plan.contains("ORDER BY") && plan.contains("OFFSET 1 ROWS") &&
      plan.contains("FETCH FIRST 2 ROWS ONLY"),
      s"TopN+offset must ride into the remote statement:\n$plan")
    // amounts desc: 250, 100, 75, 40 -> skip 1, take 2 = oids 10, 13
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq ==
      Seq((10L, 100.0), (13L, 75.0)))
  }

  test("same-server UNION ALL collapses to one remote statement") {
    setup()
    import spark.implicits._
    val a = spark.table("ext.fed.cust").filter($"seg" === 1).select("cid", "cname")
    val b = spark.table("ext.fed.cust").filter($"seg" === 2).select("cid", "cname")
    val df = a.union(b).orderBy("cid")
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1, s"union should collapse:\n$plan")
    assert(plan.contains("UNION ALL"), s"no remote UNION ALL:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
    // UNION ALL keeps duplicates (positional, same table twice — fine
    // across branches: each keeps its own FROM scope)
    val dup = spark.table("ext.fed.cust").select("cid")
      .union(spark.table("ext.fed.cust").select("cid"))
    assert(scanCount(dup) == 1 && dup.count() == 6)
  }

  test("UNION DISTINCT collapses to one remote SELECT DISTINCT statement") {
    setup()
    import spark.implicits._
    // Catalyst rewrites Distinct(Union) → Aggregate(out, out, Union);
    // the union arm collapses the branches, the distinct arm then wraps
    // the result as SELECT DISTINCT — one remote statement end to end
    val a = spark.table("ext.fed.cust").filter($"seg" === 1).select("cid", "cname")
    val b = spark.table("ext.fed.cust").select("cid", "cname")
    val df = a.union(b).distinct().orderBy("cid")
    val plan = df.queryExecution.executedPlan.toString
    assert(scanCount(df) == 1, s"union distinct should collapse:\n$plan")
    assert(plan.contains("SELECT DISTINCT"), s"no remote DISTINCT:\n$plan")
    assert(plan.contains("UNION ALL"), s"branches not collapsed:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice"), (2L, "bob"), (3L, "carol")))
  }

  test("INTERSECT stays local on a dialect without null-safe equality (Derby)") {
    setup()
    import spark.implicits._
    // Derby has no IS NOT DISTINCT FROM: the semi-join's <=> conditions
    // must refuse to unparse, leaving two scans — and exact results
    val a = spark.table("ext.fed.cust").filter($"seg" === 1).select("cid", "cname")
    val b = spark.table("ext.fed.cust").select("cid", "cname")
    val df = a.intersect(b).orderBy("cid")
    assert(scanCount(df) == 2,
      s"Derby INTERSECT must stay local:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "alice"), (3L, "carol")))
  }

  test("EXCEPT ALL / INTERSECT ALL collapse to one remote statement (live Derby)") {
    setup()
    spark.sql("DROP TABLE IF EXISTS ext.fed.baga")
    spark.sql("DROP TABLE IF EXISTS ext.fed.bagb")
    import spark.implicits._
    // bag semantics are the whole point: duplicate counts must survive
    Seq(1L, 1L, 1L, 2L, 3L).toDF("x").writeTo("ext.fed.baga").create()
    Seq(1L, 2L, 2L).toDF("x").writeTo("ext.fed.bagb").create()
    val a = spark.table("ext.fed.baga")
    val b = spark.table("ext.fed.bagb")

    val ex = a.exceptAll(b).orderBy("x")
    val pex = ex.queryExecution.executedPlan.toString
    assert(scanCount(ex) == 1, s"EXCEPT ALL should collapse:\n$pex")
    assert(pex.contains("EXCEPT ALL"), s"no remote EXCEPT ALL:\n$pex")
    assert(!pex.contains("ReplicateRows"), s"local counting plan leaked:\n$pex")
    assert(ex.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L, 3L))

    val in = a.intersectAll(b).orderBy("x")
    val pin = in.queryExecution.executedPlan.toString
    assert(scanCount(in) == 1, s"INTERSECT ALL should collapse:\n$pin")
    assert(pin.contains("INTERSECT ALL"), s"no remote INTERSECT ALL:\n$pin")
    assert(in.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // a filtered leg rides inside the collapsed statement
    val fx = a.filter($"x" > 1).exceptAll(b).orderBy("x")
    assert(scanCount(fx) == 1,
      s"filtered-leg EXCEPT ALL should collapse:\n${fx.queryExecution.executedPlan}")
    assert(fx.collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("SetOpAllRule is capability-gated: SQLite-dialect legs stay local (rule-level)") {
    import graft.sources.jdbc.{GraftJdbcTable, JdbcOptions}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.Except
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // no connection is made: the table gets an explicit schema, and the
    // rule only inspects options — exactly what makes a pure capability
    // check possible for a dialect with no live wire in this sandbox
    def rel(url: String) = {
      val schema = StructType(Seq(StructField("x", LongType)))
      val t = GraftJdbcTable("t", schema,
        JdbcOptions(Map("url" -> url, "dbtable" -> "t")))
      DataSourceV2Relation(t, Seq(AttributeReference("x", LongType)()),
        None, None, CaseInsensitiveStringMap.empty())
    }
    assert(!graft.sources.jdbc.SqliteDialect.supportsSetOpAll)
    assert(!graft.sources.jdbc.ClickHouseDialect.supportsSetOpAll)
    val sqlite = Except(rel("jdbc:sqlite:/tmp/x.db"),
      rel("jdbc:sqlite:/tmp/x.db"), isAll = true)
    assert(SetOpAllRule(sqlite).isInstanceOf[Except],
      "SQLite must keep the local ReplicateRows path")
    // same shape on a supporting dialect rewrites to a collapsed scan
    // whose derived-table SQL (in the new relation's options) carries
    // the native set-op
    val derby = Except(rel("jdbc:derby:memory:probe"),
      rel("jdbc:derby:memory:probe"), isAll = true)
    val rewritten = SetOpAllRule(derby)
    assert(!rewritten.isInstanceOf[Except], rewritten.toString)
    val derived = rewritten.collect {
      case r: DataSourceV2Relation => r.table.asInstanceOf[GraftJdbcTable]
    }
    assert(derived.size == 1 &&
      derived.head.options.map("dbtable").contains("EXCEPT ALL"),
      rewritten.toString)

    // legs whose column TYPES disagree must NOT collapse: the rule runs
    // before checkAnalysis, and collapsing an incoercible set-op would
    // hide Spark's analysis error behind the remote engine's own
    // coercion rules
    def relOf(dt: org.apache.spark.sql.types.DataType) = {
      val schema = StructType(Seq(StructField("x", dt)))
      val t = GraftJdbcTable("t", schema,
        JdbcOptions(Map("url" -> "jdbc:derby:memory:probe", "dbtable" -> "t")))
      DataSourceV2Relation(t, Seq(AttributeReference("x", dt)()),
        None, None, CaseInsensitiveStringMap.empty())
    }
    val mixed = Except(relOf(LongType),
      relOf(org.apache.spark.sql.types.BooleanType), isAll = true)
    assert(SetOpAllRule(mixed).isInstanceOf[Except],
      "type-mismatched legs must stay un-collapsed for checkAnalysis to reject")
  }

  test("ALL set-op collapse is deterministic: identical programs hit the cache") {
    setup()
    import spark.implicits._
    import graft.sources.jdbc.GraftJdbcTable
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    def prog() = spark.table("ext.fed.cust").select("cid")
      .exceptAll(spark.table("ext.fed.cust").select("cid").filter($"cid" > 1))
    // the derived-table SQL (incl. correlation aliases) must be
    // IDENTICAL across two builds of the same program — this rule runs
    // at analysis time, so a counter-unique alias would make every
    // analyzed plan unique and defeat df.cache() matching
    def derivedSql(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftJdbcTable] =>
          r.table.asInstanceOf[GraftJdbcTable].options.map("dbtable")
      }
    assert(derivedSql(prog()) == derivedSql(prog()))

    val cached = prog().cache()
    try {
      cached.count() // materialize
      val reused = prog()
      assert(reused.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        s"identical program missed the cache:\n${reused.queryExecution.optimizedPlan}")
      assert(reused.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally cached.unpersist()
  }

  test("collapse and results survive AQE (the production setting)") {
    // The local harness runs AQE off (BASELINE round-6 measurement);
    // a real cluster runs it ON. The federation rule fires at logical
    // optimization, before AQE's runtime re-planning, so the collapsed
    // scan must be identical and the results exact under both settings.
    setup()
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = spark.table("ext.fed.orders")
        .join(spark.table("ext.fed.cust"), $"ocid" === $"cid")
        .filter($"seg" === 1)
        .groupBy($"cname").agg(org.apache.spark.sql.functions.sum($"amount").as("s"))
        .orderBy("cname")
      assert(scanCount(df) == 1,
        s"AQE broke the collapse:\n${df.queryExecution.executedPlan}")
      assert(df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
        Seq(("alice", 350.0), ("carol", 75.0)))

      val ex = spark.table("ext.fed.cust").select("cid")
        .exceptAll(spark.table("ext.fed.cust").select("cid").filter($"cid" > 1))
      assert(scanCount(ex) == 1,
        s"AQE broke the ALL set-op collapse:\n${ex.queryExecution.executedPlan}")
      assert(ex.collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  /** A second, separate Derby database: a different compute context. */
  private lazy val ext2: Unit = {
    val dir2 = java.nio.file.Files.createTempDirectory("graft_derby2").toString
    spark.conf.set("spark.sql.catalog.ext2", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ext2.url", s"jdbc:derby:$dir2/db;create=true")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext2.fed")
    spark.sql("DROP TABLE IF EXISTS ext2.fed.cust")
    import spark.implicits._
    Seq((1L, "zoe")).toDF("cid", "cname").writeTo("ext2.fed.cust").create()
  }

  test("distinct servers are never merged") {
    setup()
    ext2
    import spark.implicits._
    val df = spark.table("ext.fed.orders")
      .join(spark.table("ext2.fed.cust"), $"ocid" === $"cid")
      .select("oid", "cname")
    assert(scanCount(df) == 2,
      s"distinct servers must stay separate scans:\n${df.queryExecution.executedPlan}")
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((10L, "zoe"), (11L, "zoe")))
  }

  test("a cross-server EXISTS stays local") {
    setup()
    ext2
    val q = "SELECT o.oid, o.ocid FROM ext.fed.orders o WHERE EXISTS " +
      "(SELECT 1 FROM ext2.fed.cust c WHERE c.cid = o.ocid) ORDER BY o.oid"
    val df = spark.sql(q)
    assert(scanCount(df) == 2, df.queryExecution.executedPlan.toString)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 1L), (11L, 1L)))
  }
}

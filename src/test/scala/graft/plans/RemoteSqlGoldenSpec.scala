package graft.plans

import graft.SparkFixture
import graft.sources.jdbc.{DuckDbWireSpec, Dml, RecordingDriver}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** Golden remote SQL: the exact statements the connector sends for the
  * connector benchmark's federated_lookup shapes and its Derby UPDATE,
  * the q58/q59 gate shapes, a DuckDB INTERSECT, YEAR() on Derby and
  * DuckDB and a folded date-string cast. Every expected string was
  * printed by the build before federation and `Dml` rendered through
  * the DSv2 [[graft.sources.jdbc.Unparser]]; they are pinned, never
  * regenerated, the way BenchLineGoldenSpec pins bench lines.
  *
  * Statements are what [[RecordingDriver]] saw executed, sorted (the
  * scans of one job run concurrently) and without repeats;
  * only-prepared schema probes and DuckDB's size lookups
  * (`duckdb_tables()`, `stats(..)`) are left out. The rule's `fj<N>`
  * aliases come from a JVM-wide counter, so they are renumbered by
  * first appearance.
  *
  * Two shapes differ from the parent on purpose, and the spec says so
  * where it checks them: q58's `NOT (a = 3)` leg filter now renders as
  * `(a <> 3)`, Spark's own DSv2 spelling, which a pushed scan filter
  * always had; and derby_exists, which the parent ran as two plain
  * scans and a local semi join, is now the one EXISTS statement the
  * federation rule renders for an SQL subquery.
  */
class RemoteSqlGoldenSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir: String =
    java.nio.file.Files.createTempDirectory("graft_golden").toString
  private val DerbyDb = "memory:graft_golden"

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally c.close()
  }

  /** The federated_lookup tables at toy size, with connbench's column
    * types, plus the q58/q59 gate tables and a Derby timestamp table. */
  private lazy val derby: Unit = {
    RecordingDriver.register
    exec(s"jdbc:derby:$DerbyDb;create=true",
      "CREATE SCHEMA \"app\"",
      "CREATE TABLE \"app\".\"nation\" (\"nkey\" INT NOT NULL, \"name\" VARCHAR(16))",
      "CREATE TABLE \"app\".\"cust\" (\"ckey\" BIGINT NOT NULL, \"nkey\" INT, \"bal\" DECIMAL(18,2))",
      "CREATE TABLE \"app\".\"w_append\" (\"id\" BIGINT NOT NULL, \"k\" INT, \"score\" DOUBLE, " +
        "\"amount\" DECIMAL(18,2), \"tag\" VARCHAR(16))",
      "CREATE TABLE \"app\".\"t58n\" (\"n_nationkey\" INT, \"n_name\" VARCHAR(25), \"n_regionkey\" INT)",
      "CREATE TABLE \"app\".\"t58r\" (\"r_regionkey\" INT, \"r_name\" VARCHAR(25))",
      "CREATE TABLE \"app\".\"t59\" (\"s_suppkey\" BIGINT, \"s_name\" VARCHAR(25), " +
        "\"s_nationkey\" INT, \"s_acctbal\" DOUBLE)",
      "CREATE TABLE \"app\".\"ev\" (\"evid\" BIGINT, \"nkey\" INT, \"ets\" TIMESTAMP)",
      "INSERT INTO \"app\".\"nation\" VALUES (0, 'n0'), (1, 'n1'), (2, 'n2')",
      "INSERT INTO \"app\".\"cust\" VALUES (1, 0, 9900.00), (2, 1, 10.00), (3, 2, 9843.00)",
      "INSERT INTO \"app\".\"w_append\" VALUES (1, 400, 1.5, 2.25, 'a'), (2, 600, 2.5, 3.25, 'b')",
      "INSERT INTO \"app\".\"t58n\" VALUES (0, 'n0', 1), (1, 'n1', 3), (2, 'n2', 2)",
      "INSERT INTO \"app\".\"t58r\" VALUES (1, 'r1'), (2, 'r2'), (3, 'r3')",
      "INSERT INTO \"app\".\"t59\" VALUES (1, 's1', 5, 10.0), (2, 's2', 12, 20.0)",
      "INSERT INTO \"app\".\"ev\" VALUES (1, 0, TIMESTAMP('1995-06-01 08:00:00')), " +
        "(2, 1, TIMESTAMP('1996-06-01 08:00:00'))")
    spark.conf.set("spark.sql.catalog.gd", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gd.url", s"${RecordingDriver.Prefix}derby:$DerbyDb")
    spark.conf.set("spark.sql.catalog.gd.dialect", "derby")
  }

  private lazy val duck: Unit = {
    RecordingDriver.register
    exec(s"jdbc:duckdb:$dir/w.duckdb",
      "CREATE SCHEMA app",
      "CREATE TABLE app.fact AS SELECT CAST(i AS BIGINT) AS id, CAST(i % 100 AS INTEGER) AS dim_id, " +
        "CAST(i % 400 AS DOUBLE) / 4 AS score, (i * 0.01)::DECIMAL(18,2) AS amount, " +
        "'t' || CAST(i % 50 AS VARCHAR) AS tag, " +
        "TIMESTAMP '2020-01-01 00:00:00' + to_hours(CAST(i * 7 AS BIGINT)) AS ts, " +
        "DATE '2020-01-01' + CAST(i % 1000 AS INTEGER) AS day FROM range(2000) r(i)",
      "CREATE TABLE app.dim AS SELECT CAST(i AS INTEGER) AS dim_id, " +
        "'r' || CAST(i % 12 AS VARCHAR) AS region, CAST(i * 37 % 1000 AS BIGINT) AS weight " +
        "FROM range(100) r(i)")
    spark.conf.set("spark.sql.catalog.gw", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gw.url", s"${RecordingDriver.Prefix}duckdb:$dir/w.duckdb")
    spark.conf.set("spark.sql.catalog.gw.dialect", "duckdb")
  }

  private def duckPresent(): Unit =
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")

  /** The remote statements `action` executes, normalized as above. */
  private def remoteSql(action: => Unit): Seq[String] = {
    RecordingDriver.clear()
    action
    assert(RecordingDriver.statements.forall(!_._2), RecordingDriver.statements)
    val sqls = RecordingDriver.executed
      .filterNot(s => s.contains("duckdb_tables()") || s.contains("stats("))
      .distinct
    val ids = "fj\\d+".r.findAllIn(sqls.mkString("\n")).distinct.zipWithIndex.toMap
    sqls.map("fj\\d+".r.replaceAllIn(_, m => s"fj${ids(m.matched)}")).sorted
  }

  private def query(sql: String): Seq[String] = remoteSql(spark.sql(sql).collect())

  /** The statements the parent build printed, by shape. */
  private val Parent: Map[String, Seq[String]] = Map(
    "join_collapsed" -> Seq(
      """SELECT "c3", COUNT(*) AS "agg0", SUM("c1") AS "agg1" FROM (SELECT "fj0"."c1" AS """ +
        """"c0", "fj0"."c3" AS "c1", "fj1"."dim_id" AS "c2", "fj1"."region" AS "c3" FROM """ +
        """(SELECT "fj2"."id" AS "c0", "fj2"."dim_id" AS "c1", "fj2"."score" AS "c2", """ +
        """"fj2"."amount" AS "c3", "fj2"."tag" AS "c4", "fj2"."ts" AS "c5", "fj2"."day" AS "c6" """ +
        """FROM "app"."fact" "fj2" WHERE (("fj2"."id" >= 100) AND ("fj2"."id" < 600))) "fj0" """ +
        """JOIN "app"."dim" "fj1" ON ("fj0"."c1" = "fj1"."dim_id")) "fj3" GROUP BY "c3""""),
    "topk" -> Seq(
      """SELECT "id", "score", "tag" FROM "app"."fact" WHERE ("dim_id" IS NOT NULL) AND """ +
        """("dim_id" = 7) ORDER BY "score" DESC NULLS LAST, "id" ASC NULLS FIRST LIMIT 10"""),
    "point_lookup" -> Seq(
      """SELECT q."id", q."dim_id", q."score", q."amount", encode(q."tag") AS "tag" FROM """ +
        """(SELECT "id", "dim_id", "score", "amount", "tag" FROM "app"."fact" WHERE ("id" IS """ +
        """NOT NULL) AND ("id" = 42)) AS q"""),
    "expr_agg" -> Seq(
      """SELECT ("dim_id" % 10) AS "g0", COUNT(*) AS "agg0", SUM(("score" * 2.0)) AS "agg1" """ +
        """FROM "app"."fact" WHERE ("id" IS NOT NULL) AND ("id" >= 10) AND ("id" < 900) GROUP """ +
        """BY ("dim_id" % 10)"""),
    "window_topn" -> Seq(
      """SELECT "c0", "c1", "c2" FROM (SELECT "fj0"."c1" AS "c0", "fj0"."c0" AS "c1", """ +
        """"fj0"."c2" AS "c2", ROW_NUMBER() OVER (PARTITION BY "fj0"."c1" ORDER BY "fj0"."c2" """ +
        """DESC NULLS LAST, "fj0"."c0" ASC NULLS FIRST) AS "c3" FROM (SELECT "fj1"."dim_id" AS """ +
        """"c0", "fj1"."region" AS "c1", "fj1"."weight" AS "c2" FROM "app"."dim" "fj1" WHERE """ +
        """("fj1"."dim_id" >= 5)) "fj0") "fj2" WHERE ("c3" <= 3)"""),
    "derby_exists" -> Seq(
      """SELECT "nkey", "name" FROM "app"."nation"""",
      """SELECT "nkey" FROM "app"."cust" WHERE ("bal" IS NOT NULL) AND ("bal" > 9842.17)"""),
    "derby_update" -> Seq(
      """UPDATE "app"."w_append" SET "score" = ("score" + 1.0) WHERE ("k" < 500)"""),
    "q58" -> Seq(
      """SELECT "c0", "c1", "c2" FROM (SELECT "fj0"."c0" AS "c0", "fj0"."c1" AS "c1", """ +
        """"fj0"."c4" AS "c2" FROM (SELECT "fj1"."n_nationkey" AS "c0", "fj1"."n_name" AS "c1", """ +
        """"fj1"."n_regionkey" AS "c2", "fj2"."c0" AS "c3", "fj2"."c1" AS "c4" FROM """ +
        """"app"."t58n" "fj1" JOIN (SELECT "fj3"."r_regionkey" AS "c0", "fj3"."r_name" AS "c1" """ +
        """FROM "app"."t58r" "fj3" WHERE (NOT ("fj3"."r_regionkey" = 3))) "fj2" ON """ +
        """("fj1"."n_regionkey" = "fj2"."c0")) "fj0" ORDER BY "fj0"."c0" ASC NULLS FIRST) "fj4""""),
    "q59" -> Seq(
      """UPDATE "app"."t59" SET "s_acctbal" = ("s_acctbal" * 2.0) WHERE ("s_nationkey" >= 10)"""),
    "intersect" -> Seq(
      """SELECT "c0", "c1" FROM (SELECT DISTINCT "fj0"."c0" AS "c0", "fj0"."c1" AS "c1" FROM """ +
        """(SELECT "fj1"."c0" AS "c0", "fj1"."c1" AS "c1" FROM (SELECT "fj2"."dim_id" AS "c0", """ +
        """"fj2"."region" AS "c1", "fj2"."weight" AS "c2" FROM "app"."dim" "fj2" WHERE """ +
        """("fj2"."dim_id" < 50)) "fj1" WHERE EXISTS (SELECT 1 FROM (SELECT "fj3"."dim_id" AS """ +
        """"c0", "fj3"."region" AS "c1", "fj3"."weight" AS "c2" FROM "app"."dim" "fj3" WHERE """ +
        """("fj3"."dim_id" > 20)) "fj4" WHERE (("fj1"."c0" IS NOT DISTINCT FROM "fj4"."c0") AND """ +
        """("fj1"."c1" IS NOT DISTINCT FROM "fj4"."c1")))) "fj0") "fj5""""),
    "year_derby" -> Seq(
      """SELECT "c0", "c3" FROM (SELECT "fj0"."c0" AS "c0", "fj0"."c1" AS "c1", "fj1"."nkey" """ +
        """AS "c2", "fj1"."name" AS "c3" FROM (SELECT "fj2"."evid" AS "c0", "fj2"."nkey" AS """ +
        """"c1", "fj2"."ets" AS "c2" FROM "app"."ev" "fj2" WHERE (YEAR(CAST("fj2"."ets" AS """ +
        """DATE)) = 1995)) "fj0" JOIN "app"."nation" "fj1" ON ("fj0"."c1" = "fj1"."nkey")) """ +
        """"fj3""""),
    "year_duckdb" -> Seq(
      """SELECT "c0", "c3" FROM (SELECT "fj0"."c0" AS "c0", "fj0"."c1" AS "c1", """ +
        """"fj1"."dim_id" AS "c2", "fj1"."region" AS "c3" FROM (SELECT "fj2"."id" AS "c0", """ +
        """"fj2"."dim_id" AS "c1", "fj2"."score" AS "c2", "fj2"."amount" AS "c3", "fj2"."tag" """ +
        """AS "c4", "fj2"."ts" AS "c5", "fj2"."day" AS "c6" FROM "app"."fact" "fj2" WHERE """ +
        """((EXTRACT(YEAR FROM CAST("fj2"."ts" AS DATE)) = 2021) AND ("fj2"."id" < 50))) "fj0" """ +
        """JOIN "app"."dim" "fj1" ON ("fj0"."c1" = "fj1"."dim_id")) "fj3""""),
    "date_cast" -> Seq(
      """SELECT "c0", "c3" FROM (SELECT "fj0"."c0" AS "c0", "fj0"."c1" AS "c1", """ +
        """"fj1"."dim_id" AS "c2", "fj1"."region" AS "c3" FROM (SELECT "fj2"."id" AS "c0", """ +
        """"fj2"."dim_id" AS "c1", "fj2"."score" AS "c2", "fj2"."amount" AS "c3", "fj2"."tag" """ +
        """AS "c4", "fj2"."ts" AS "c5", "fj2"."day" AS "c6" FROM "app"."fact" "fj2" WHERE """ +
        """("fj2"."day" >= DATE '2022-06-01')) "fj0" JOIN "app"."dim" "fj1" ON ("fj0"."c1" = """ +
        """"fj1"."dim_id")) "fj3""""))

  private def check(name: String, got: Seq[String],
      expected: Seq[String] => Seq[String] = identity): Unit =
    assert(got == expected(Parent(name)).sorted, s"$name:\n${got.mkString("\n")}")

  test("federated_lookup: the five DuckDB statement shapes") {
    duckPresent(); duck
    check("join_collapsed", query(
      "SELECT d.region, COUNT(*) AS n, SUM(f.amount) AS amt FROM gw.app.fact f JOIN gw.app.dim d " +
        "ON f.dim_id = d.dim_id WHERE f.id >= 100 AND f.id < 600 GROUP BY d.region"))
    check("topk", query(
      "SELECT id, score, tag FROM gw.app.fact WHERE dim_id = 7 ORDER BY score DESC, id LIMIT 10"))
    check("point_lookup", query(
      "SELECT id, dim_id, score, amount, tag FROM gw.app.fact WHERE id = 42"))
    check("expr_agg", query(
      "SELECT dim_id % 10 AS b, COUNT(*) AS n, SUM(score * 2) AS s2 FROM gw.app.fact " +
        "WHERE id >= 10 AND id < 900 GROUP BY dim_id % 10"))
    check("window_topn", query(
      "SELECT region, dim_id, weight FROM (SELECT region, dim_id, weight, " +
        "ROW_NUMBER() OVER (PARTITION BY region ORDER BY weight DESC, dim_id) AS rn " +
        "FROM gw.app.dim WHERE dim_id >= 5) t WHERE rn <= 3"))
  }

  test("federated_lookup: derby_exists with its decimal threshold") {
    derby
    // the parent's two scans, with the cust scan's pushed statement now
    // nested as the EXISTS leg of one remote statement
    check("derby_exists", query(
      "SELECT n.nkey, n.name FROM gd.app.nation n WHERE EXISTS (SELECT 1 FROM gd.app.cust c " +
        "WHERE c.nkey = n.nkey AND c.bal > 9842.17)"),
      _ => Seq(
        """SELECT "c0", "c1" FROM (SELECT "fj0"."nkey" AS "c0", "fj0"."name" AS "c1" FROM """ +
          """"app"."nation" "fj0" WHERE EXISTS (SELECT 1 FROM (SELECT "nkey" FROM "app"."cust" """ +
          """WHERE ("bal" IS NOT NULL) AND ("bal" > 9842.17)) "fj1" WHERE ("fj1"."nkey" = """ +
          """"fj0"."nkey"))) "fj2""""))
    assert(RecordingDriver.executed.size == 1, RecordingDriver.executed)
  }

  test("connector_write: Dml.update(score + 1 WHERE k < n) on Derby") {
    derby
    check("derby_update", remoteSql(Dml.update(spark, "gd.app.w_append",
      Seq("score" -> (col("score") + 1)), col("k") < 500)))
  }

  test("q58 and q59 shapes on Derby") {
    derby
    check("q58", remoteSql(spark.table("gd.app.t58n")
      .join(spark.table("gd.app.t58r"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_regionkey") =!= 3)
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey").collect()),
      _.map(_.replace("""(NOT ("fj3"."r_regionkey" = 3))""", """("fj3"."r_regionkey" <> 3)""")))
    check("q59", remoteSql(Dml.update(spark, "gd.app.t59",
      Seq("s_acctbal" -> (col("s_acctbal") * lit(2.0))), col("s_nationkey") >= lit(10))))
  }

  test("DuckDB INTERSECT renders IS NOT DISTINCT FROM") {
    duckPresent(); duck
    check("intersect", query(
      "SELECT dim_id, region FROM gw.app.dim WHERE dim_id < 50 " +
        "INTERSECT SELECT dim_id, region FROM gw.app.dim WHERE dim_id > 20"))
  }

  test("YEAR() on a join leg, Derby and DuckDB") {
    derby
    check("year_derby", query(
      "SELECT e.evid, n.name FROM gd.app.ev e JOIN gd.app.nation n ON e.nkey = n.nkey " +
        "WHERE year(e.ets) = 1995"))
    duckPresent(); duck
    check("year_duckdb", query(
      "SELECT f.id, d.region FROM gw.app.fact f JOIN gw.app.dim d ON f.dim_id = d.dim_id " +
        "WHERE year(f.ts) = 2021 AND f.id < 50"))
  }

  test("a date-string comparison folds to a date literal") {
    duckPresent(); duck
    check("date_cast", query(
      "SELECT f.id, d.region FROM gw.app.fact f JOIN gw.app.dim d ON f.dim_id = d.dim_id " +
        "WHERE f.day >= '2022-06-01'"))
  }
}

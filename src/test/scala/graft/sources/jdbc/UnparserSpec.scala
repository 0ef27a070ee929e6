package graft.sources.jdbc

import org.apache.spark.sql.connector.expressions.{Expression, Expressions, GeneralScalarExpression, NullOrdering, SortDirection}
import org.apache.spark.sql.connector.expressions.filter.{And, Or, Predicate}
import org.apache.spark.sql.graftx.TestExprs
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Golden-SQL tests for the DSv2 expression unparser — the same test
  * strategy the reference uses for its unparse layer (scan unparse
  * goldens, `crates/common/src/sql/sql_provider_datafusion/mod.rs:788-808`;
  * physical-expr→SQL goldens, `mod.rs:1214-1324`).
  */
class UnparserSpec extends AnyFunSuite {

  private val u = new Unparser(PostgresDialect)

  private def col(n: String) = TestExprs.field(n)
  private def str(s: String) = TestExprs.lit(UTF8String.fromString(s), StringType)
  private def i32(v: Int) = TestExprs.lit(v, IntegerType)

  test("comparison operators") {
    assert(u.expr(new Predicate(">", Array(col("a"), i32(5)))).contains("(\"a\" > 5)"))
    assert(u.expr(new Predicate("=", Array(col("a"), i32(5)))).contains("(\"a\" = 5)"))
    assert(u.expr(new Predicate("<>", Array(col("a"), i32(5)))).contains("(\"a\" <> 5)"))
  }

  test("null-safe equality renders through the dialect; Derby refuses it") {
    // V2ExpressionBuilder names Catalyst's EqualNullSafe "<=>"; the
    // federated INTERSECT/EXCEPT semi/anti joins are built on it
    def nse(d: Dialect) = new Unparser(d).expr(new Predicate("<=>", Array(col("a"), col("b"))))
    assert(nse(PostgresDialect).contains("(\"a\" IS NOT DISTINCT FROM \"b\")"))
    assert(nse(DuckDbDialect).contains("(\"a\" IS NOT DISTINCT FROM \"b\")"))
    assert(nse(MySqlDialect).contains("(`a` <=> `b`)"))
    assert(nse(DerbyDialect).isEmpty)
    // the refusal is whole: a conjunction holding it renders nothing
    assert(new Unparser(DerbyDialect).expr(new And(
      new Predicate("<=>", Array(col("a"), col("b"))),
      new Predicate("=", Array(col("c"), i32(1))))).isEmpty)
  }

  test("boolean composition and NOT") {
    val p = new And(
      new Predicate(">=", Array(col("a"), i32(1))),
      new Or(
        new Predicate("<", Array(col("b"), i32(2))),
        new Predicate("IS_NULL", Array(col("c")))))
    assert(u.expr(p).contains("((\"a\" >= 1) AND ((\"b\" < 2) OR (\"c\" IS NULL)))"))
    assert(u.expr(new Predicate("NOT", Array(new Predicate("IS_NOT_NULL", Array(col("x"))))))
      .contains("(NOT (\"x\" IS NOT NULL))"))
  }

  test("IN list") {
    val p = new Predicate("IN", Array(col("k"), i32(1), i32(2), i32(3)))
    assert(u.expr(p).contains("(\"k\" IN (1, 2, 3))"))
  }

  test("string predicates become escaped LIKE") {
    assert(u.expr(new Predicate("STARTS_WITH", Array(col("s"), str("PRO%MO"))))
      .contains("(\"s\" LIKE 'PRO\\%MO%' ESCAPE '\\')"))
    assert(u.expr(new Predicate("CONTAINS", Array(col("s"), str("a_b"))))
      .contains("(\"s\" LIKE '%a\\_b%' ESCAPE '\\')"))
    assert(u.expr(new Predicate("ENDS_WITH", Array(col("s"), str("x"))))
      .contains("(\"s\" LIKE '%x' ESCAPE '\\')"))
  }

  test("literals: date, timestamp, string escaping, null") {
    assert(u.literal(TestExprs.lit(19000, DateType)).contains("DATE '2022-01-08'"))
    // tz-aware TimestampType anchors the UTC text on pg: its columns
    // are TIMESTAMPTZ, and a naive literal would be read in the remote
    // SESSION zone, silently shifting pushed comparisons off-UTC
    assert(u.literal(TestExprs.lit(1609459200000000L, TimestampType))
      .contains("TIMESTAMP WITH TIME ZONE '2021-01-01 00:00:00+00'"))
    // fractional micros render zero-padded; whole seconds render none;
    // naive dialects (Derby) keep the naive form — their columns are
    // plain TIMESTAMP, read without session conversion
    assert(u.literal(TestExprs.lit(1609459200000123L, TimestampType))
      .contains("TIMESTAMP WITH TIME ZONE '2021-01-01 00:00:00.000123+00'"))
    assert(new Unparser(DerbyDialect).literal(TestExprs.lit(1609459200000000L, TimestampType))
      .contains("TIMESTAMP '2021-01-01 00:00:00'"))
    assert(u.literal(TestExprs.lit(UTF8String.fromString("o'hare"), StringType))
      .contains("'o''hare'"))
    assert(u.literal(TestExprs.lit(null, IntegerType)).contains("NULL"))
  }

  test("CAST renders the dialect type name; unsupported target rejects") {
    val c = new org.apache.spark.sql.connector.expressions.Cast(col("a"), LongType)
    assert(u.expr(new Predicate(">", Array(c, i32(5))))
      .contains("(CAST(\"a\" AS BIGINT) > 5)"))
    val bad = new org.apache.spark.sql.connector.expressions.Cast(
      col("a"), CalendarIntervalType)
    assert(u.expr(new Predicate(">", Array(bad, i32(5)))).isEmpty)
  }

  test("sort orders render direction and null ordering") {
    val asc = Expressions.sort(col("a"), SortDirection.ASCENDING, NullOrdering.NULLS_LAST)
    assert(u.sort(asc).contains("\"a\" ASC NULLS LAST"))
    val desc = Expressions.sort(col("b"), SortDirection.DESCENDING, NullOrdering.NULLS_FIRST)
    assert(u.sort(desc).contains("\"b\" DESC NULLS FIRST"))
  }

  test("untranslatable expressions are rejected, not mangled") {
    assert(u.expr(new Predicate("WIDTH_BUCKET", Array(col("a")))).isEmpty)
    // subexpression failure poisons the whole predicate
    val mixed = new And(
      new Predicate(">", Array(col("a"), i32(1))),
      new Predicate("WIDTH_BUCKET", Array(col("b"))))
    assert(u.expr(mixed).isEmpty)
  }

  test("portable scalar functions render; CONCAT is dialect-routed") {
    def fn(name: String, args: Expression*): Expression =
      new GeneralScalarExpression(name, args.toArray)
    assert(u.expr(new Predicate(">", Array(fn("SQRT", col("a")), i32(2))))
      .contains("(SQRT(\"a\") > 2)"))
    assert(u.expr(fn("CEIL", col("a"))).contains("CEILING(\"a\")"))
    assert(u.expr(fn("FLOOR", col("a"))).contains("FLOOR(\"a\")"))
    assert(u.expr(fn("TRIM", col("s"))).contains("TRIM(\"s\")"))
    assert(u.expr(fn("SUBSTRING", col("s"), i32(2), i32(3)))
      .contains("SUBSTR(\"s\", 2, 3)"))
    assert(u.expr(fn("CONCAT", col("s"), col("t")))
      .contains("(\"s\" || \"t\")"))
    val my = new Unparser(MySqlDialect)
    assert(my.expr(fn("CONCAT", col("s"), col("t")))
      .contains("CONCAT(`s`, `t`)"))
  }

  test("EXTRACT is dialect-routed; engine-specific fields never push") {
    import org.apache.spark.sql.connector.expressions.Extract
    def ex(f: String) = new Extract(f, col("ts"))
    // ANSI engines: EXTRACT(field FROM x)
    assert(u.expr(ex("YEAR")).contains("EXTRACT(YEAR FROM \"ts\")"))
    assert(u.expr(ex("QUARTER")).contains("EXTRACT(QUARTER FROM \"ts\")"))
    // Derby: function form, no QUARTER
    val de = new Unparser(DerbyDialect)
    assert(de.expr(ex("MONTH")).contains("MONTH(\"ts\")"))
    assert(de.expr(ex("QUARTER")).isEmpty)
    // SQLite: strftime + integer cast
    val sq = new Unparser(SqliteDialect)
    assert(sq.expr(ex("YEAR")).contains("CAST(strftime('%Y', \"ts\") AS INTEGER)"))
    // SQLite has no typed literals — `DATE '…'` is a parse error on the
    // real engine (dialect_live_check); temporal literals render as the
    // bare ISO string, which compares correctly against TEXT storage.
    assert(sq.literal(TestExprs.lit(19000, DateType)).contains("'2022-01-08'"))
    assert(sq.literal(TestExprs.lit(1609459200000000L, TimestampNTZType))
      .contains("'2021-01-01 00:00:00'"))
    // week/dow numbering is engine-specific -> stays in Spark everywhere
    assert(u.expr(ex("DAY_OF_WEEK")).isEmpty && u.expr(ex("WEEK")).isEmpty)
    // composed: EXTRACT inside a comparison predicate
    assert(u.expr(new Predicate("=", Array(ex("YEAR"), i32(1995))))
      .contains("(EXTRACT(YEAR FROM \"ts\") = 1995)"))
  }

  test("modulo is dialect-routed: % operator vs Derby MOD()") {
    val m = new GeneralScalarExpression("%", Array(col("a"), i32(3)))
    assert(u.expr(m).contains("(\"a\" % 3)"))
    assert(new Unparser(DerbyDialect).expr(m).contains("MOD(\"a\", 3)"))
  }

  test("dialect quoting differs per dialect") {
    val my = new Unparser(MySqlDialect)
    assert(my.expr(col("a")).contains("`a`"))
    assert(u.expr(col("a")).contains("\"a\""))
  }
}

/** Dialect-quirk goldens (reference: `mysql_window.rs:76-120` and
  * `sqlite_interval.rs` inline tests).
  */
class DialectSpec extends AnyFunSuite {

  test("mysql repair handles NULLS FIRST/LAST without changing results") {
    // MySQL defaults: ASC→nulls first, DESC→nulls last — those two
    // spellings strip; the other two must REWRITE (a blanket strip
    // silently reorders, e.g. ASC NULLS LAST would return NULL rows
    // first instead of the smallest non-null values)
    val sql = "SELECT rank() OVER (ORDER BY a DESC NULLS LAST) FROM t ORDER BY b NULLS FIRST"
    assert(MySqlDialect.repairSql(sql) ==
      "SELECT rank() OVER (ORDER BY a DESC) FROM t ORDER BY b")
    assert(MySqlDialect.repairSql("ORDER BY `c` ASC NULLS LAST") ==
      "ORDER BY `c` IS NULL, `c` ASC")
    assert(MySqlDialect.repairSql("ORDER BY `c` DESC NULLS FIRST") ==
      "ORDER BY `c` IS NOT NULL, `c` DESC")
    assert(MySqlDialect.repairSql("ORDER BY c NULLS LAST LIMIT 5") ==
      "ORDER BY c IS NULL, c LIMIT 5")
  }

  test("mysql string literals double backslashes (LIKE escapes survive)") {
    // MySQL literals treat backslash as an escape char — the rendered
    // LIKE pattern and its ESCAPE clause must double them
    assert(MySqlDialect.stringLiteral("""%10\%%""") == """'%10\\%%'""")
    val mu = new Unparser(MySqlDialect)
    import org.apache.spark.sql.graftx.TestExprs
    assert(mu.expr(new Predicate("CONTAINS", Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("s"),
      TestExprs.lit(UTF8String.fromString("10%"), StringType))))
      .contains("(`s` LIKE '%10\\\\%%' ESCAPE '\\\\')"))
  }

  test("sqlite repair rewrites interval addition to datetime()") {
    assert(SqliteDialect.repairSql("WHERE ts + INTERVAL '3' DAY > x") ==
      "WHERE datetime(ts, '+3 days') > x")
  }

  test("derby limit clause uses FETCH FIRST") {
    assert(DerbyDialect.limitClause(7) == "FETCH FIRST 7 ROWS ONLY")
  }

  test("upsert statement generation per dialect") {
    val pg = PostgresDialect.upsertStatement("t", Seq("k", "v"), Seq("k"))
    assert(pg.contains("ON CONFLICT (\"k\") DO UPDATE SET \"v\" = EXCLUDED.\"v\""))
    val my = MySqlDialect.upsertStatement("t", Seq("k", "v"), Seq("k"))
    assert(my.contains("ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)"))
    assertThrows[UnsupportedOperationException](
      DerbyDialect.upsertStatement("t", Seq("k", "v"), Seq("k")))
  }

  test("do-nothing upsert mode per dialect (reference on_conflict.rs:14)") {
    assert(PostgresDialect.upsertStatement("t", Seq("k", "v"), Seq("k"), doNothing = true)
      .endsWith("ON CONFLICT (\"k\") DO NOTHING"))
    assert(MySqlDialect.upsertStatement("t", Seq("k", "v"), Seq("k"), doNothing = true)
      .startsWith("INSERT IGNORE INTO t"))
    // Derby probes existence with a value-preserving touch-UPDATE
    assert(DerbyDialect.touchStatement("t", Seq("k", "v"), Seq("k")) ==
      "UPDATE t SET \"v\" = \"v\" WHERE \"k\" = ?")
    // key-only tables touch the key itself (still a no-op)
    assert(DerbyDialect.touchStatement("t", Seq("k"), Seq("k")) ==
      "UPDATE t SET \"k\" = \"k\" WHERE \"k\" = ?")
  }

  test("type names: decimal bounds and nested fallback") {
    assert(PostgresDialect.typeName(DecimalType(12, 2)) == "DECIMAL(12,2)")
    // pg arrays are native element[] since the array-mapping change;
    // only nested-of-nested falls back to the JSON TEXT compromise
    assert(PostgresDialect.typeName(ArrayType(IntegerType)) == "INTEGER[]")
    assert(PostgresDialect.typeName(ArrayType(ArrayType(IntegerType))) == "TEXT")
    assert(PostgresDialect.typeName(MapType(StringType, LongType)) == "TEXT")
    assertThrows[IllegalArgumentException](DerbyDialect.typeName(DecimalType(38, 10)))
    assert(SqliteDialect.typeName(DecimalType(12, 2)) == "REAL")
  }

  test("postgres/duckdb type names (reference pg schema.rs:60-90)") {
    assert(PostgresDialect.typeName(BinaryType) == "BYTEA")
    assert(PostgresDialect.typeName(TimestampType) == "TIMESTAMPTZ")
    assert(PostgresDialect.typeName(TimestampNTZType) == "TIMESTAMP")
    assert(DuckDbDialect.typeName(BinaryType) == "BLOB")
    assert(DuckDbDialect.upsertStatement("t", Seq("k", "v"), Seq("k"), doNothing = true)
      .endsWith("ON CONFLICT (\"k\") DO NOTHING"))
  }

  test("post-write analyze statement per dialect (reference write.rs:990)") {
    assert(DuckDbDialect.analyzeStatement("s", "t").contains("ANALYZE \"s\".\"t\""))
    assert(MySqlDialect.analyzeStatement("s", "t").contains("ANALYZE TABLE `s`.`t`"))
    assert(DerbyDialect.analyzeStatement("S", "T10").contains(
      "CALL SYSCS_UTIL.SYSCS_UPDATE_STATISTICS('S', 'T10', NULL)"))
    assert(ClickHouseDialect.analyzeStatement("s", "t").isEmpty)
  }

  test("url dispatch") {
    assert(Dialect.forUrl("jdbc:postgresql://h/db") == PostgresDialect)
    assert(Dialect.forUrl("jdbc:derby:/tmp/x") == DerbyDialect)
    assert(Dialect.forUrl("jdbc:mysql://h/db") == MySqlDialect)
    assert(Dialect.forUrl("jdbc:clickhouse://h:8123/db") == ClickHouseDialect)
  }

  test("clickhouse type names, quoting, and insert-as-upsert") {
    assert(ClickHouseDialect.typeName(LongType) == "Int64")
    assert(ClickHouseDialect.typeName(TimestampType) == "DateTime64(6)")
    assert(ClickHouseDialect.typeName(ArrayType(IntegerType)) == "String")
    assert(ClickHouseDialect.quote("a`b") == "`a``b`")
    assert(ClickHouseDialect.upsertStatement("t", Seq("k", "v"), Seq("k")) ==
      "INSERT INTO t (`k`, `v`) VALUES (?, ?)")
  }
}

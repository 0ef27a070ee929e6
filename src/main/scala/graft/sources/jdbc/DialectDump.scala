package graft.sources.jdbc

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Extract, GeneralScalarExpression, Cast => V2Cast}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dumps the SQL each dialect GENERATES — DDL from the full type
  * breadth, every upsert mode, limit/offset composition, and the
  * unparser's rendered WHERE clauses — as one JSON line, so
  * `scripts/dialect_live_check.py` can EXECUTE the duckdb/postgres
  * dialect output against a live DuckDB (the one non-Derby engine
  * available in this environment; the reference validates its dialects
  * against Docker databases the same way,
  * `core/tests/docker/mod.rs:53-100`).
  *
  * This closes the "golden-tested SQL generators that never touched a
  * real server" gap for the Postgres-family dialects to the extent the
  * sandbox allows: statements are accepted, executed, and their
  * semantics (conflict modes, offsets, LIKE escapes, EXTRACT/MOD
  * routing) checked against an independent engine's results.
  */
object DialectDump {

  private def lit(v: Any, dt: DataType) = Bridge.v2Literal(v, dt)
  private def col(n: String) = Expressions.column(n)
  private def fn(name: String, args: Expression*) =
    new GeneralScalarExpression(name, args.toArray)
  private def eq(a: Expression, b: Expression) = new Predicate("=", Array(a, b))

  /** (label, rendered-or-skipped WHERE clause, columns it touches). */
  private def whereSamples(d: Dialect): Seq[(String, Option[String])] = {
    val u = new Unparser(d)
    Seq(
      "eq_long" -> u.expr(eq(col("k"), lit(5L, LongType))),
      "in_int" -> u.expr(new Predicate("IN",
        Array(col("i"), lit(1, IntegerType), lit(3, IntegerType)))),
      "like_escaped" -> u.expr(new Predicate("CONTAINS",
        Array(col("s"), lit(UTF8String.fromString("x%y"), StringType)))),
      "starts_with" -> u.expr(new Predicate("STARTS_WITH",
        Array(col("s"), lit(UTF8String.fromString("v_"), StringType)))),
      "mod_routed" -> u.expr(eq(fn("%", col("k"), lit(3L, LongType)), lit(1L, LongType))),
      "extract_year" -> u.expr(eq(
        new Extract("YEAR", col("dt")), lit(1995, IntegerType))),
      "cast_double_gt" -> u.expr(new Predicate(">",
        Array(new V2Cast(col("dec"), DoubleType), lit(3.5d, DoubleType)))),
      "arith_case" -> u.expr(eq(
        fn("CASE_WHEN",
          new Predicate(">", Array(fn("+", col("k"), lit(1L, LongType)), lit(5L, LongType))),
          lit(1, IntegerType), lit(0, IntegerType)),
        lit(1, IntegerType))),
      "upper_concat" -> u.expr(eq(
        fn("UPPER", fn("CONCAT", col("s"), lit(UTF8String.fromString("!"), StringType))),
        lit(UTF8String.fromString("V_2!"), StringType))),
      "substring" -> u.expr(eq(
        fn("SUBSTRING", col("s"), lit(1, IntegerType), lit(2, IntegerType)),
        lit(UTF8String.fromString("v_"), StringType))),
      "coalesce_abs" -> u.expr(eq(
        fn("COALESCE", fn("ABS", fn("-", col("k"), lit(9L, LongType))), lit(0L, LongType)),
        lit(1L, LongType))),
      "date_literal" -> u.expr(new Predicate(">=",
        Array(col("dt"), lit(9131, DateType)))), // 1995-01-01 epoch-day
      "ts_literal" -> u.expr(new Predicate("<",
        Array(col("ts"), lit(820454400000000L, TimestampNTZType)))), // 1996-01-01 UTC micros
      // null-safe equality spelling (gates the INTERSECT/EXCEPT
      // federation collapse), from Catalyst's `<=>` as the federation
      // rule renders it: the CASE synthesizes a NULL remotely, so a
      // non-null-safe `=` would count 0 — the live engines prove the
      // IS NOT DISTINCT FROM / IS spellings really match NULL to NULL
      "nullsafe_eq" -> {
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe,
          EqualTo, If, Literal}
        val i = AttributeReference("i", IntegerType)()
        val nullIf3 = If(EqualTo(i, Literal(3)), Literal(null, IntegerType), i)
        new graft.plans.CatalystUnparser(d, Map(i.exprId -> d.quote("i")))
          .expr(EqualNullSafe(nullIf3, Literal(null, IntegerType)), isPredicate = true)
      }
    )
  }

  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("b", BooleanType),
      StructField("i", IntegerType),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(18, 2)),
      StructField("s", StringType),
      StructField("dt", DateType),
      StructField("ts", TimestampNTZType),
      StructField("bin", BinaryType),
      // exercises the native-array DDL path (duckdb/postgres render
      // BIGINT[]; sqlite falls back to JSON TEXT) live
      StructField("arr", ArrayType(LongType))))
    val cols = schema.fields.map(_.name).toSeq

    val m = new ObjectMapper()
    val root = m.createObjectNode()
    for (d <- Seq(DuckDbDialect, PostgresDialect, SqliteDialect)) {
      val t = d.quote("dlc_t")
      val o = root.putObject(d.name)
      o.put("table", t)
      // PK clause exactly as GraftCatalog renders the `primarykeys`
      // table property — ON CONFLICT (k) on a real engine REQUIRES the
      // constraint (live-check finding; Derby's update-else-insert
      // fallback never surfaced it)
      o.put("create",
        s"CREATE TABLE $t (${d.columnDefs(schema)}, PRIMARY KEY (${d.quote("k")}))")
      o.put("insert", s"INSERT INTO $t (${cols.map(d.quote).mkString(", ")}) " +
        s"VALUES (${schema.fields.map(f => d.insertPlaceholder(f.dataType)).mkString(", ")})")
      // upserts bind the scalar columns only: live DuckDB (the checking
      // engine) cannot UPDATE a LIST column inside ON CONFLICT, and a
      // key+payload upsert over scalars is the representative case
      val upCols = cols.filterNot(_ == "arr")
      o.put("upsert_update", d.upsertStatement(t, upCols, Seq("k")))
      o.put("upsert_nothing", d.upsertStatement(t, upCols, Seq("k"), doNothing = true))
      o.put("upsert_all", d.upsertStatement(t, upCols, Nil, doNothing = true))
      o.put("upsert_degenerate", d.upsertStatement(t, Seq("k"), Seq("k")))
      o.put("topn", s"SELECT ${d.quote("k")} FROM $t ORDER BY ${d.quote("k")} DESC " +
        d.limitOffsetClause(Some(3), Some(2)))
      // the streaming source's rate-capped watermark probe
      // (JdbcMicroBatchStream.maxWatermark): max of the first N
      // unprocessed keys — seed keys 1..8, lower bound 2, cap 3 → 5
      o.put("stream_probe",
        s"SELECT MAX(graft_w) FROM (SELECT ${d.quote("k")} AS graft_w FROM $t " +
          s"WHERE ${d.quote("k")} > 2 ORDER BY ${d.quote("k")} " +
          d.limitOffsetClause(Some(3), None) + ") graft_lim")
      o.put("analyze", d.analyzeStatement("main", "dlc_t").orNull)
      // sorted-derived-table SQL exactly as the federation rule's Sort
      // arm renders it (parenthesized ORDER BY with explicit direction
      // AND nulls placement over a derived leg) — the capability claim
      // behind `supportsSortedDerivedTable` executed LIVE with an
      // exact-row-order assertion; NULLIF synthesizes NULLs so the
      // NULLS LAST placement is proven, not assumed
      if (d.supportsSortedDerivedTable) {
        def q(s: String) = d.quote(s)
        o.put("sorted_derived",
          s"SELECT ${q("c0")}, ${q("c1")} FROM (" +
            s"SELECT ${q("g0")}.${q("c0")} AS ${q("c0")}, " +
            s"${q("g0")}.${q("c1")} AS ${q("c1")} " +
            s"FROM (SELECT NULLIF(${q("i")}, 3) AS ${q("c0")}, " +
            s"${q("k")} AS ${q("c1")} FROM $t) ${q("g0")} " +
            s"ORDER BY ${q("g0")}.${q("c0")} DESC NULLS LAST, " +
            s"${q("g0")}.${q("c1")} ASC NULLS FIRST) ${q("fjs")}")
      }
      // window-collapse SQL exactly as the federation rule's Window arm
      // renders it (CatalystUnparser.windowExpr — explicit NULLS
      // ordering, frames only on aggregates), executed live with
      // semantic assertions on all three engines
      if (d.supportsWindowFunctions) {
        import org.apache.spark.sql.catalyst.expressions.{
          AttributeReference, Ascending, Descending, SortOrder, Literal,
          WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame,
          UnspecifiedFrame, RowFrame, UnboundedPreceding, CurrentRow,
          RowNumber, Lead}
        import org.apache.spark.sql.catalyst.expressions.aggregate.{
          AggregateExpression, Complete, Sum}
        val aK = AttributeReference("k", LongType)()
        val aI = AttributeReference("i", IntegerType)()
        val cu = new graft.plans.CatalystUnparser(d,
          Map(aK.exprId -> d.quote("k"), aI.exprId -> d.quote("i")))
        val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
        val w = o.putObject("window")
        def put(label: String, rendered: Option[String]): Unit = rendered match {
          case Some(r) => w.put(label, d.repairSql(
            s"SELECT ${d.quote("k")}, $r AS wv FROM $t ORDER BY 1"))
          case None => w.putNull(label)
        }
        put("rownum", cu.windowExpr(WindowExpression(RowNumber(),
          WindowSpecDefinition(Seq(aI), Seq(SortOrder(aK, Descending)), frame))))
        put("runsum", cu.windowExpr(WindowExpression(
          AggregateExpression(Sum(aK), Complete, isDistinct = false),
          WindowSpecDefinition(Seq(aI), Seq(SortOrder(aK, Ascending)), frame))))
        put("lead", cu.windowExpr(WindowExpression(
          Lead(aK, Literal(1), Literal(null, LongType), ignoreNulls = false),
          WindowSpecDefinition(Seq(aI), Seq(SortOrder(aK, Ascending)), UnspecifiedFrame))))
      }
      // bag-semantics set-op SQL exactly as SetOpAllRule renders it
      // (c0 branch aliases, derived-table correlation name) — the live
      // check executes it with counts that DISTINGUISH ALL from
      // DISTINCT semantics, and proves the capability gate matches the
      // engine on the one dialect that opts out (sqlite rejects ALL)
      if (d.supportsSetOpAll) {
        val so = o.putObject("setop_all")
        def branch(whereSql: String) =
          s"SELECT ${d.quote("i")} AS ${d.quote("c0")} FROM $t$whereSql"
        val b = branch(s" WHERE ${d.quote("k")} <= 6")
        so.put("intersect_all",
          s"SELECT COUNT(*) FROM (${branch("")} INTERSECT ALL $b) ${d.quote("fj0")}")
        so.put("except_all",
          s"SELECT COUNT(*) FROM (${branch("")} EXCEPT ALL $b) ${d.quote("fj0")}")
      } else o.putNull("setop_all")
      val ws = o.putObject("where")
      whereSamples(d).foreach {
        case (label, Some(sql)) => ws.put(label, s"SELECT COUNT(*) FROM $t WHERE $sql")
        case (label, None) => ws.putNull(label)
      }
    }
    // multi-database ATTACH statements (reference: DuckDB attachments +
    // search path, crates/duckdb/src/conn.rs:102-230): the live check
    // creates two real database files, runs these against a third
    // connection, and joins tables across all three through it
    for ((d, suffix) <- Seq(DuckDbDialect -> "duckdb", SqliteDialect -> "sqlite")) {
      val att = root.putArray(s"attach_${d.name}")
      val opts = JdbcOptions(Map(
        "url" -> s"jdbc:${d.name}:/tmp/graft_dlc_main.$suffix",
        "dbtable" -> "t_main",
        "attach" -> s"sales=/tmp/graft_dlc_sales.$suffix,/tmp/graft_dlc_ref.$suffix"))
      opts.attachInit.foreach(att.add)
      att.add(opts.computeContext) // last element: the federation context key
    }

    // session-settings registry output (engine-agnostic SET statements;
    // the live check executes them in DuckDB and reads current_setting)
    val st = root.putArray("settings")
    SessionSettings.statements(Map(
      "memory_limit" -> "2GB",
      "preserve_insertion_order" -> "false",
      "temp_directory" -> "/tmp/graft_dlc_tmp")).foreach(st.add)

    // One line on stdout; sbt prefixes "[info] " which the reader strips.
    // scalastyle:off println
    println(root.toString)
    // scalastyle:on println
  }
}

package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The column shapes outside the flat fills read columnar across batch
  * edges: DuckDB LIST columns, `pincolumns` catch-all projections on
  * Derby and DuckDB that fold TIME and LIST columns, a composite text
  * column declared as a STRUCT and a BIGINT declared as an interval.
  * Each table holds 10k rows with NULLs at rows 4095-4097, so nested
  * child vectors are reset and refilled across three batches; each
  * read is checked against the generator and must scan columnar.
  */
class ColumnarShapesSpec extends AnyFunSuite with SparkFixture {
  import ColumnarShapesSpec._

  private def exec(o: JdbcOptions, sqls: String*): Unit = {
    val c = o.connect()
    try {
      val st = c.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally c.close()
  }

  private def read(url: String, table: String, extra: (String, String)*): DataFrame =
    spark.read.format("graft.sources.jdbc.GraftJdbcSource")
      .options((Seq("url" -> url, "dbtable" -> table) ++ extra).toMap).load()

  /** Collected rows ordered by the first (id) column, nested values as lists. */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] = {
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar), df.queryExecution.executedPlan)
    def plain(v: Any): Any = v match {
      case s: scala.collection.Seq[_] => s.toList
      case r: Row => r.toSeq.map(plain).toList
      case x => x
    }
    df.collect().toSeq.map(_.toSeq.map(plain)).sortBy(_.head.asInstanceOf[Long])
  }

  private def assertRows(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = rowsOf(df)
    assert(got.length == Rows)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"read $g, generated $e") }
  }

  // ---- Derby: TIME folded into a catch-all, composite text, interval --

  private val derby = JdbcOptions(Map("url" -> SparkFixture.derbyUrl))

  private lazy val derbyTable: Unit = {
    scala.util.Try(exec(derby, "DROP TABLE \"shape\".\"t\""))
    scala.util.Try(exec(derby, "CREATE SCHEMA \"shape\""))
    exec(derby, "CREATE TABLE \"shape\".\"t\" (\"id\" BIGINT, \"s\" VARCHAR(20), " +
      "\"d\" DOUBLE, \"tm\" TIME, \"comp\" VARCHAR(100), \"dur\" BIGINT)")
    val c = derby.connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO \"shape\".\"t\" VALUES (?,?,?,?,?,?)")
      (0 until Rows).foreach { r =>
        ps.setLong(1, r)
        if (NullRows(r)) {
          ps.setNull(2, java.sql.Types.VARCHAR); ps.setNull(3, java.sql.Types.DOUBLE)
          ps.setNull(4, java.sql.Types.TIME); ps.setNull(5, java.sql.Types.VARCHAR)
          ps.setNull(6, java.sql.Types.BIGINT)
        } else {
          ps.setString(2, s"s$r")
          ps.setDouble(3, r / 4.0)
          ps.setTime(4, java.sql.Time.valueOf(time(r)))
          ps.setString(5, composite(r))
          ps.setLong(6, durMicros(r))
        }
        ps.addBatch()
        if (r % 1000 == 999) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
      c.setAutoCommit(true)
    } finally c.close()
  }

  test("Derby: a catch-all folding a TIME column reads columnar across batch edges") {
    derbyTable
    val df = read(SparkFixture.derbyUrl, "\"shape\".\"t\"", "pincolumns" -> "id,s")
    assert(df.schema.fieldNames.toSeq == Seq("id", "s", "data"))
    // folded alphabetically: comp, d, dur, tm
    assertRows(df, (0 until Rows).map { r =>
      if (NullRows(r)) Seq(r.toLong, null, """{"comp":null,"d":null,"dur":null,"tm":null}""")
      else Seq(r.toLong, s"s$r",
        s"""{"comp":${json(composite(r))},"d":${r / 4.0},"dur":${durMicros(r)},""" +
          s""""tm":"1970-01-01T${hms(time(r))}Z"}""")
    })
  }

  test("Derby: composite text declared as a STRUCT reads columnar across batch edges") {
    derbyTable
    val df = read(SparkFixture.derbyUrl, "\"shape\".\"t\"",
      "customschema" -> "comp STRUCT<a: INT, b: STRING, f: BOOLEAN>").select("id", "comp")
    assert(df.schema("comp").dataType.isInstanceOf[StructType])
    assertRows(df, (0 until Rows).map { r =>
      Seq(r.toLong, if (NullRows(r)) null else List(r, if (r % 7 == 0) null else s"name $r, x", r % 2 == 0))
    })
  }

  test("Derby: a BIGINT declared as an interval reads columnar across batch edges") {
    derbyTable
    val df = read(SparkFixture.derbyUrl, "\"shape\".\"t\"",
      "customschema" -> "dur INTERVAL DAY TO SECOND").select("id", "dur")
    assert(df.schema("dur").dataType == DayTimeIntervalType())
    assertRows(df, (0 until Rows).map { r =>
      Seq(r.toLong, if (NullRows(r)) null else java.time.Duration.ofNanos(durMicros(r) * 1000L))
    })
  }

  // ---- DuckDB: LIST columns, plain and folded -------------------------

  private lazy val duckUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_duckshape").toString
    s"jdbc:duckdb:$dir/shapes.duckdb"
  }

  private lazy val duckTable: Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val nulls = s"i IN (${NullRows.mkString(",")})"
    // element 1 is NULL on every third row; every fifth list is empty
    def list(elem: String, tpe: String) =
      s"CASE WHEN $nulls THEN NULL WHEN i % 5 = 0 THEN []::$tpe[] ELSE " +
        s"list_transform(generate_series(0, i % 4), j -> " +
        s"CASE WHEN j = 1 AND i % 3 = 0 THEN NULL ELSE $elem END) END"
    exec(JdbcOptions(Map("url" -> duckUrl)),
      "CREATE SCHEMA IF NOT EXISTS app",
      "CREATE OR REPLACE TABLE app.shapes AS SELECT i AS id, " +
        s"CASE WHEN $nulls THEN NULL ELSE 's' || i END AS s, " +
        s"CASE WHEN $nulls THEN NULL ELSE TIME '00:00:00' + to_seconds(i % 86400) END AS tm, " +
        s"${list("(i * 10 + j)::INTEGER", "INTEGER")} AS ints, " +
        s"${list("'v' || i || '_' || j || 'é😀'", "VARCHAR")} AS strs " +
        "FROM range(10000) t(i)")
  }

  private def ints(r: Int): List[Any] =
    if (NullRows(r)) null
    else if (r % 5 == 0) Nil
    else (0 to r % 4).map(j => if (j == 1 && r % 3 == 0) null else r * 10 + j).toList
  private def strs(r: Int): List[Any] =
    if (NullRows(r)) null
    else if (r % 5 == 0) Nil
    else (0 to r % 4).map(j => if (j == 1 && r % 3 == 0) null else s"v${r}_${j}é😀").toList

  test("DuckDB: INTEGER[] and VARCHAR[] LIST columns read columnar across batch edges") {
    duckTable
    val df = read(duckUrl, "app.shapes").select("id", "ints", "strs")
    assert(df.schema("ints").dataType == ArrayType(IntegerType) &&
      df.schema("strs").dataType == ArrayType(StringType), df.schema)
    assertRows(df, (0 until Rows).map(r => Seq(r.toLong, ints(r), strs(r))))
  }

  test("DuckDB: a catch-all folding TIME and LIST columns reads columnar across batch edges") {
    duckTable
    val df = read(duckUrl, "app.shapes", "pincolumns" -> "id,s")
    assert(df.schema.fieldNames.toSeq == Seq("id", "s", "data"))
    def arr(xs: List[Any], render: Any => String) =
      if (xs == null) "null" else xs.map(x => if (x == null) "null" else render(x)).mkString("[", ",", "]")
    assertRows(df, (0 until Rows).map { r =>
      if (NullRows(r)) Seq(r.toLong, null, """{"ints":null,"strs":null,"tm":null}""")
      else Seq(r.toLong, s"s$r",
        s"""{"ints":${arr(ints(r), _.toString)},"strs":${arr(strs(r), x => json(x.toString))},""" +
          s""""tm":"1970-01-01T${hms(java.time.LocalTime.ofSecondOfDay(r % 86400))}Z"}""")
    })
  }
}

object ColumnarShapesSpec {
  private val Rows = 10000
  private val NullRows = Set(4095, 4096, 4097)

  private def time(r: Int): java.time.LocalTime = java.time.LocalTime.of(r % 24, r % 60, r % 60)
  private def hms(t: java.time.LocalTime): String =
    f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"

  /** pg composite text: a quoted member with a comma, an empty (NULL)
    * member on every seventh row, t/f booleans. */
  private def composite(r: Int): String =
    s"($r,${if (r % 7 == 0) "" else s""""name $r, x""""},${if (r % 2 == 0) "t" else "f"})"

  private def durMicros(r: Int): Long = r * 1000003L

  /** A JSON string literal of text holding no control characters. */
  private def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

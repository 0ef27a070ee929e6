package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Nested-type JSON storage and the UnsupportedTypeAction knob
  * (reference type breadth: `statement.rs:233-1010` nested→JSON for
  * text stores; `crates/common/src/lib.rs:23-30` action enum).
  */
class TypeBreadthSpec extends AnyFunSuite with SparkFixture {

  test("toJson renders nested Catalyst values deterministically") {
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Array[Any](1L, null, 3L))
    assert(TypeMapping.toJson(ArrayType(LongType), arr) == "[1,null,3]")
    val struct = new GenericInternalRow(Array[Any](UTF8String.fromString("a\"b"), 2.5))
    val st = StructType(Seq(StructField("s", StringType), StructField("d", DoubleType)))
    assert(TypeMapping.toJson(st, struct) == """{"s":"a\"b","d":2.5}""")
    val map = new ArrayBasedMapData(
      new GenericArrayData(Array[Any](UTF8String.fromString("k1"))),
      new GenericArrayData(Array[Any](7L)))
    assert(TypeMapping.toJson(MapType(StringType, LongType), map) == """{"k1":7}""")
  }

  test("nested columns round-trip to Derby as JSON text") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.tb")
    spark.sql("DROP TABLE IF EXISTS ext.tb.t1")
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b"), Map("x" -> 1L), ("inner", 2L)),
      (2L, Seq.empty[String], Map.empty[String, Long], ("w", 9L)))
      .toDF("k", "arr", "m", "st")
    df.writeTo("ext.tb.t1").create()
    val back = spark.table("ext.tb.t1").orderBy("k").collect()
    // read-back schema is text (introspection sees VARCHAR)
    assert(spark.table("ext.tb.t1").schema.fields.drop(1).forall(_.dataType == StringType))
    assert(back(0).getString(1) == """["a","b"]""")
    assert(back(0).getString(2) == """{"x":1}""")
    assert(back(0).getString(3) == """{"_1":"inner","_2":2}""")
    assert(back(1).getString(1) == "[]")
    assert(back(1).getString(2) == "{}")
  }

  test("TIME columns read as epoch-day timestamps (documented §1.2 choice)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.tb")
    val o = JdbcOptions(Map("url" -> graft.SparkFixture.derbyUrl))
    val c = o.connect()
    try {
      val st = c.createStatement()
      try {
        try st.executeUpdate("""DROP TABLE "tb"."t5"""") catch { case _: java.sql.SQLException => }
        st.executeUpdate("""CREATE TABLE "tb"."t5" ("k" BIGINT, "tm" TIME)""")
        st.executeUpdate("""INSERT INTO "tb"."t5" VALUES (1, TIME('13:45:30'))""")
      } finally st.close()
    } finally c.close()
    val df = spark.table("ext.tb.t5")
    assert(df.schema("tm").dataType == TimestampType)
    val ts = df.collect()(0).getTimestamp(1)
    assert(ts.toString == "1970-01-01 13:45:30.0", ts.toString)
  }

  test("day-time intervals store as BIGINT micros and round-trip by value") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.tb")
    spark.sql("DROP TABLE IF EXISTS ext.tb.t6")
    import spark.implicits._
    val df = Seq((1L, java.time.Duration.ofMinutes(90))).toDF("k", "d")
    assert(df.schema("d").dataType.isInstanceOf[DayTimeIntervalType])
    df.writeTo("ext.tb.t6").create()
    // introspection sees the documented BIGINT-micros representation
    val back = spark.table("ext.tb.t6")
    assert(back.schema("d").dataType == LongType)
    assert(back.collect()(0).getLong(1) == 90L * 60 * 1000000)
  }

  test("unsupportedtypeaction=error refuses, =string stores text, =ignore drops") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.tb")
    import spark.implicits._
    val df = Seq((1L, BigDecimal("12345678901234567890.123456")))
      .toDF("k", "big")
      .select(col("k"), col("big").cast(DecimalType(38, 6)).as("big"))

    // error (default): Derby caps DECIMAL precision at 31
    spark.sql("DROP TABLE IF EXISTS ext.tb.t2")
    val e = intercept[Exception] { df.writeTo("ext.tb.t2").create() }
    assert(e.getMessage.contains("unsupportedtypeaction"), e.getMessage)

    // string: stored as text via Spark's store-assignment cast
    spark.sql("DROP TABLE IF EXISTS ext.tb.t3")
    df.writeTo("ext.tb.t3").tableProperty("unsupportedtypeaction", "string").create()
    val r = spark.table("ext.tb.t3").collect()(0)
    assert(r.getString(1) == "12345678901234567890.123456")

    // ignore: column dropped from the table
    spark.sql("DROP TABLE IF EXISTS ext.tb.t4")
    spark.sql("CREATE TABLE ext.tb.t4 (k BIGINT, big DECIMAL(38,6)) " +
      "TBLPROPERTIES ('unsupportedtypeaction'='ignore')")
    assert(spark.table("ext.tb.t4").schema.fieldNames.toSeq == Seq("k"))
  }

  // --- pg composite / enum / range read mapping (reference
  // arrow_sql_gen/schema.rs:53-107,240 + composite.rs). No pg JDBC
  // driver exists in this sandbox, so the schema mapping runs over stub
  // metadata shaped exactly as pgjdbc reports these types, and the text
  // parsers are pinned to literals produced by a REAL postgres
  // (scripts/dialect_live_check.py asserts pg emits these exact forms).

  private def stubMd(cols: (String, Int, String)*): java.sql.ResultSetMetaData = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[java.sql.ResultSetMetaData]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = {
          def i = args(0).asInstanceOf[Integer] - 1
          m.getName match {
            case "getColumnCount" => Integer.valueOf(cols.length)
            case "getColumnLabel" => cols(i)._1
            case "getColumnType" => Integer.valueOf(cols(i)._2)
            case "getColumnTypeName" => cols(i)._3
            case "getPrecision" | "getScale" => Integer.valueOf(0)
            case "isNullable" =>
              Integer.valueOf(java.sql.ResultSetMetaData.columnNullable)
            case other => throw new UnsupportedOperationException(other)
          }
        }
      }).asInstanceOf[java.sql.ResultSetMetaData]
  }

  test("pg enum / composite / range columns map per the reference's table") {
    val md = stubMd(
      ("mood", java.sql.Types.OTHER, "mood_enum"),          // enum → string
      ("span", java.sql.Types.OTHER, "int4range"),          // range → struct
      ("tspan", java.sql.Types.OTHER, "tsrange"),
      ("addr", java.sql.Types.STRUCT, "addr_t"),            // composite → text by default
      ("pos", java.sql.Types.OTHER, "point"),               // point → struct<x,y>
      ("k", java.sql.Types.BIGINT, "int8"))
    val base = TypeMapping.schemaOf(md, PostgresDialect)
    assert(base("mood").dataType == StringType)
    assert(base("pos").dataType ==
      StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType))))
    // pg point text "(1.5,2.5)" parses through the composite reader
    val pt = TypeMapping.parseComposite("(1.5,2.5)",
      base("pos").dataType.asInstanceOf[StructType])
    assert(pt.getDouble(0) == 1.5 && pt.getDouble(1) == 2.5)
    assert(base("span").dataType ==
      TypeMapping.rangeStruct(IntegerType))
    assert(base("tspan").dataType == TypeMapping.rangeStruct(TimestampType))
    assert(base("addr").dataType == StringType)
    assert(base("k").dataType == LongType)
    // the declared-schema escape hatch upgrades the composite to a
    // typed struct (customschema option → applyOverrides)
    val declared = StructType.fromDDL("addr STRUCT<street: STRING, zip: INT>")
    assert(TypeMapping.applyOverrides(base, declared)("addr").dataType ==
      declared("addr").dataType)
  }

  test("BIT reads as boolean on every dialect but DuckDB, whose BIT is a bitstring") {
    // pg bit(1) / MySQL BIT(1) (and TINYINT(1) under Connector/J's
    // tinyInt1isBit) report Types.BIT; DuckDB's BIT reports it too
    val md = stubMd(("pg", java.sql.Types.BIT, "bit"), ("my", java.sql.Types.BIT, "BIT"),
      ("tiny", java.sql.Types.BIT, "TINYINT"), ("u", java.sql.Types.JAVA_OBJECT, "UUID"))
    Seq(PostgresDialect, MySqlDialect, DerbyDialect, SqliteDialect, ClickHouseDialect).foreach { d =>
      val e = intercept[IllegalArgumentException](TypeMapping.schemaOf(md, d))
      assert(e.getMessage.contains("unsupported JDBC type 2000"), s"${d.name}: ${e.getMessage}")
      val sch = TypeMapping.schemaOf(md, d, unsupportedAsString = true)
      assert(Seq("pg", "my", "tiny").forall(sch(_).dataType == BooleanType), s"${d.name}: $sch")
    }
    val duck = TypeMapping.schemaOf(md, DuckDbDialect)
    assert(duck.map(_.dataType) == Seq(StringType, StringType, BooleanType, StringType), duck)
  }

  test("decimal wider than 38 rejects by default, reads as text under =string") {
    // pg numeric(76,0) — the Decimal256 case (SURVEY §1.2: reject or
    // string, never a silent clamp that corrupts wide values)
    val md = stubMd(("big", java.sql.Types.NUMERIC, "numeric"))
    val e = intercept[IllegalArgumentException](TypeMapping.schemaOf(md76(md), PostgresDialect))
    assert(e.getMessage.contains("unsupportedtypeaction=string"))
    assert(TypeMapping.schemaOf(md76(md), PostgresDialect, unsupportedAsString = true)("big")
      .dataType == StringType)
    // the option surfaces on JdbcOptions for both read call sites
    assert(JdbcOptions(Map("url" -> "jdbc:derby:memory:x",
      "unsupportedtypeaction" -> "string")).readUnsupportedAsString)
    assert(!JdbcOptions(Map("url" -> "jdbc:derby:memory:x")).readUnsupportedAsString)
  }

  /** Same stub but precision/scale report 76/0 (Decimal256 width). */
  private def md76(inner: java.sql.ResultSetMetaData): java.sql.ResultSetMetaData = {
    import java.lang.reflect.{InvocationHandler, Method, Proxy}
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[java.sql.ResultSetMetaData]),
      new InvocationHandler {
        override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "getPrecision" => Integer.valueOf(76)
            case "getScale" => Integer.valueOf(0)
            case _ =>
              if (args == null) m.invoke(inner) else m.invoke(inner, args: _*)
          }
      }).asInstanceOf[java.sql.ResultSetMetaData]
  }

  test("composite text literals parse into declared structs (pg output syntax)") {
    val st = StructType.fromDDL(
      "street STRING, zip INT, ok BOOLEAN, score DOUBLE").asInstanceOf[StructType]
    // literal forms cross-pinned against real pg in dialect_live_check
    // (pg quotes fields containing spaces; unquoted also parses)
    val r = TypeMapping.parseComposite("""("42 Elm St",94110,t,1.5)""", st)
    assert(r.getUTF8String(0).toString == "42 Elm St")
    assert(r.getInt(1) == 94110 && r.getBoolean(2) && r.getDouble(3) == 1.5)
    // quoting: embedded comma/quote/backslash, "" escape; empty field = NULL
    val q = TypeMapping.parseComposite("""("a, ""b"" c",,f,0)""", st)
    assert(q.getUTF8String(0).toString == """a, "b" c""")
    assert(q.isNullAt(1) && !q.getBoolean(2))
    // quoted empty string is "", NOT null
    val e = TypeMapping.parseComposite("""("",1,t,2)""", st)
    assert(!e.isNullAt(0) && e.getUTF8String(0).toString == "")
    // nested composite recurses
    val nested = StructType(Seq(
      StructField("name", StringType),
      StructField("inner", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType))))))
    val n = TypeMapping.parseComposite("""(x,"(1,y)")""", nested)
    assert(n.getStruct(1, 2).getInt(0) == 1)
    assert(n.getStruct(1, 2).getUTF8String(1).toString == "y")
  }

  test("hive-style type strings declare remote column types via customschema") {
    // the reference carries an 893-line Hive type-text lexer/parser
    // (arrow_sql_gen/hive_schema.rs) for declared partition schemas;
    // Spark ships that parser natively — Hive type syntax IS Spark's
    // DDL syntax (DataType.fromDDL) — so the customschema option IS the
    // hive-schema path, nested/mixed-case forms included.
    val o = JdbcOptions(Map("url" -> "jdbc:derby:memory:x",
      "customschema" ->
        ("addr STRUCT<street: STRING, zip: INT>, tags ARRAY<BIGINT>, " +
          "attrs MAP<STRING, INT>, note string")))
    val cs = o.customSchema.get
    assert(cs("addr").dataType ==
      StructType(Seq(StructField("street", StringType), StructField("zip", IntegerType))))
    assert(cs("tags").dataType == ArrayType(LongType))
    assert(cs("attrs").dataType == MapType(StringType, IntegerType))
    assert(cs("note").dataType == StringType)
    // deep nesting (the reference's parser recurses to depth 100)
    val deep = JdbcOptions(Map("url" -> "jdbc:derby:memory:x",
      "customschema" -> "c struct<a: array<struct<m: map<string, array<int>>>>>"))
    assert(deep.customSchema.get("c").dataType.isInstanceOf[StructType])
    // a malformed declaration fails eagerly at option-parse time
    intercept[Exception] {
      JdbcOptions(Map("url" -> "jdbc:derby:memory:x",
        "customschema" -> "bad struct<")).customSchema
    }
  }

  test("range text literals parse with bounds and inclusivity") {
    val r = TypeMapping.parseRange("[1,10)", IntegerType)
    assert(r.getInt(0) == 1 && r.getInt(1) == 10)
    assert(r.getBoolean(2) && !r.getBoolean(3))
    val unb = TypeMapping.parseRange("(,5]", LongType)
    assert(unb.isNullAt(0) && unb.getLong(1) == 5L)
    assert(!unb.getBoolean(2) && unb.getBoolean(3))
    val empty = TypeMapping.parseRange("empty", IntegerType)
    assert(empty.isNullAt(0) && empty.isNullAt(1))
    assert(!empty.getBoolean(2) && !empty.getBoolean(3))
    // timestamp bounds arrive quoted from pg; values are UTC-exact
    // regardless of the executor JVM's default zone
    val ts = TypeMapping.parseRange(
      """["2020-01-15 10:00:00","2020-02-01 00:00:00")""", TimestampType)
    assert(ts.getLong(0) ==
      java.time.Instant.parse("2020-01-15T10:00:00Z").getEpochSecond * 1000000L)
    assert(!ts.isNullAt(1) && ts.getBoolean(2) && !ts.getBoolean(3))
    // tstzrange text carries a UTC-offset suffix — pg emits e.g. +00 /
    // -08 / +05:30; the instant must anchor to THAT offset
    val tz = TypeMapping.parseRange(
      """["2020-01-15 10:00:00+00","2020-02-01 02:00:00-08")""", TimestampType)
    assert(tz.getLong(0) ==
      java.time.Instant.parse("2020-01-15T10:00:00Z").getEpochSecond * 1000000L)
    assert(tz.getLong(1) ==
      java.time.Instant.parse("2020-02-01T10:00:00Z").getEpochSecond * 1000000L)
    val half = TypeMapping.parseRange(
      """["2020-01-15 10:00:00+05:30",)""", TimestampType)
    assert(half.getLong(0) ==
      java.time.Instant.parse("2020-01-15T04:30:00Z").getEpochSecond * 1000000L)
    assert(half.isNullAt(1))
  }
}

package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The columnar reader, built directly over a statement, returns the
  * values the spec inserted for every flat type on Derby and on DuckDB,
  * at the default batch size and behind a 3-row first batch: NULLs on
  * both sides of the 4096-row batch edge, calendar-switch and year-1
  * dates, the widest decimals each engine holds, surrogate pairs, NaN.
  * DuckDB DATE values read through the driver's `LocalDate` as
  * proleptic day numbers, exact where `getDate` shifts, in every
  * statement a scan sends. DuckDB's string wire (VARCHAR sent as
  * `encode(..)` BLOBs) returns the bytes `getString` would, leaves UUID,
  * ENUM and JSON columns alone, and keeps pushed filters, range splits
  * and TopN exact.
  */
class JdbcReaderIdentitySpec extends AnyFunSuite with SparkFixture {
  import JdbcReaderIdentitySpec._

  private val Rows = 10000
  private val NullRows = Set(4095, 4096, 4097)

  private def exec(o: JdbcOptions, sqls: String*): Unit = {
    val c = o.connect()
    try {
      val st = c.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally c.close()
  }

  /** Read the statement at the default batch size and behind a 3-row
    * first batch, assert both batch as expected and return the
    * `expected` rows, and return the rows. */
  private def readsExpected(o: JdbcOptions, schema: StructType, sql: String,
      expected: Seq[Seq[Any]], utf8: Set[Int] = Set.empty): Seq[Seq[Any]] = {
    val (cols, sizes) = viaBatches(new JdbcColumnarReader(schema, new JdbcCursor(o, sql), utf8), schema)
    val (small, smallSizes) =
      viaBatches(new JdbcColumnarReader(schema, new JdbcCursor(o, sql), utf8, 3), schema)
    assert(expected.length == Rows && cols.length == Rows)
    assert(sizes == Seq(4096, 4096, Rows - 8192))
    assert(smallSizes == Seq(3, 4096, 4096, Rows - 8195))
    expected.indices.foreach { r =>
      assert(cols(r) == expected(r), s"row $r: read ${cols(r)}, inserted ${expected(r)}")
      assert(small(r) == expected(r), s"row $r (3-row first batch)")
    }
    NullRows.foreach(r => assert(cols(r).tail.forall(_ == null), s"row $r: ${cols(r)}"))
    cols
  }

  private def vectorSchema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  test("Derby: both readers agree on every vectorizable type across batch edges") {
    val o = JdbcOptions(Map("url" -> SparkFixture.derbyUrl))
    scala.util.Try(exec(o, "DROP TABLE \"rid\".\"t\""))
    scala.util.Try(exec(o, "CREATE SCHEMA \"rid\""))
    exec(o, "CREATE TABLE \"rid\".\"t\" (\"id\" BIGINT, \"bo\" BOOLEAN, \"ti\" SMALLINT, " +
      "\"sm\" SMALLINT, \"i\" INT, \"l\" BIGINT, \"re\" REAL, \"d\" DOUBLE, " +
      "\"dec\" DECIMAL(31,6), \"dsm\" DECIMAL(9,2), \"s\" VARCHAR(200), " +
      "\"b\" VARCHAR(64) FOR BIT DATA, \"da\" DATE, \"ts\" TIMESTAMP, \"tm\" TIME)")
    val c = o.connect()
    try {
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO \"rid\".\"t\" VALUES (?,?,?,?,?,?,?,?,?,?,?,?,?,?,?)")
      (0 until Rows).foreach { r =>
        ps.setLong(1, r)
        if (NullRows(r)) (2 to 15).foreach(p => ps.setNull(p, derbyTypes(p - 2)))
        else {
          ps.setBoolean(2, r % 3 == 0)
          ps.setShort(3, (r % 256 - 128).toShort)
          ps.setShort(4, (r * 7 % 65536 - 32768).toShort)
          ps.setInt(5, if (r == 1) Int.MinValue else r * 2654435)
          ps.setLong(6, if (r == 2) Long.MaxValue else r.toLong * 1000000007L)
          ps.setFloat(7, r / 7.0f)
          ps.setDouble(8, if (r == 4) Double.MinPositiveValue else r / 3.0)
          ps.setBigDecimal(9, if (r == 5) new java.math.BigDecimal("9999999999999999999999999.999999")
            else java.math.BigDecimal.valueOf(r.toLong * 1000003L, 6))
          ps.setBigDecimal(10, java.math.BigDecimal.valueOf(r.toLong - 5000, 2))
          ps.setString(11, edgeString(r))
          ps.setBytes(12, Array.tabulate(r % 64)(j => (j * 37 + r).toByte))
          ps.setDate(13, java.sql.Date.valueOf(edgeDate(r)))
          ps.setTimestamp(14, java.sql.Timestamp.valueOf(edgeDate(r).atTime(r % 24, r % 60, 7, r * 1000)))
          ps.setTime(15, java.sql.Time.valueOf(java.time.LocalTime.of(r % 24, r % 60, r % 60)))
        }
        ps.addBatch()
        if (r % 1000 == 999) ps.executeBatch()
      }
      ps.executeBatch()
      c.commit()
      c.setAutoCommit(true)
    } finally c.close()
    val schema = vectorSchema("id" -> LongType, "bo" -> BooleanType, "ti" -> ByteType,
      "sm" -> ShortType, "i" -> IntegerType, "l" -> LongType, "re" -> FloatType,
      "d" -> DoubleType, "dec" -> DecimalType(31, 6), "dsm" -> DecimalType(9, 2),
      "s" -> StringType, "b" -> BinaryType, "da" -> DateType, "ts" -> TimestampType,
      "ntz" -> TimestampNTZType, "tm" -> TimestampType)
    val sql = "SELECT \"id\", \"bo\", \"ti\", \"sm\", \"i\", \"l\", \"re\", \"d\", \"dec\", " +
      "\"dsm\", \"s\", \"b\", \"da\", \"ts\", \"ts\" AS \"ntz\", \"tm\" FROM \"rid\".\"t\" ORDER BY \"id\""
    // the inserted values, in the reader's value forms: the bound
    // java.sql objects go through Spark's own conversions
    val expected = (0 until Rows).map { r =>
      if (NullRows(r)) r.toLong +: Seq.fill(schema.length - 1)(null)
      else {
        val ts = DateTimeUtils.fromJavaTimestamp(
          java.sql.Timestamp.valueOf(edgeDate(r).atTime(r % 24, r % 60, 7, r * 1000)))
        Seq(r.toLong, r % 3 == 0, (r % 256 - 128).toByte, (r * 7 % 65536 - 32768).toShort,
          if (r == 1) Int.MinValue else r * 2654435,
          if (r == 2) Long.MaxValue else r.toLong * 1000000007L,
          java.lang.Float.floatToRawIntBits(r / 7.0f),
          java.lang.Double.doubleToRawLongBits(if (r == 4) Double.MinPositiveValue else r / 3.0),
          if (r == 5) new java.math.BigDecimal("9999999999999999999999999.999999")
          else java.math.BigDecimal.valueOf(r.toLong * 1000003L, 6),
          java.math.BigDecimal.valueOf(r.toLong - 5000, 2),
          edgeString(r).getBytes(UTF_8).toSeq,
          Array.tabulate(r % 64)(j => (j * 37 + r).toByte).toSeq,
          DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(edgeDate(r))), ts, ts,
          java.time.LocalTime.of(r % 24, r % 60, r % 60).toNanoOfDay / 1000L)
      }
    }
    val rows = readsExpected(o, schema, sql, expected)
    assert(rows(1)(4) == Int.MinValue && rows(2)(5) == Long.MaxValue)
    assert(rows(8)(6) == java.lang.Float.floatToRawIntBits(8 / 7.0f))
    assert(rows(5)(8) == new java.math.BigDecimal("9999999999999999999999999.999999"))
    assert(rows(7)(10) == edgeString(7).getBytes(UTF_8).toSeq)
    assert(rows(9)(12) == java.time.LocalDate.parse("2000-01-10").toEpochDay.toInt)
    // TIME lands on the epoch day through getTime
    assert(rows(10)(15) == java.time.LocalTime.of(10, 10, 10).toNanoOfDay / 1000L)
  }

  private lazy val duckUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_duckid").toString
    s"jdbc:duckdb:$dir/identity.duckdb"
  }
  private def duck = JdbcOptions(Map("url" -> duckUrl))

  /** 10k rows of every DuckDB column type the vector fills cover. */
  private lazy val duckTable: Unit = {
    val nulls = NullRows.mkString(",")
    exec(duck,
      "CREATE SCHEMA IF NOT EXISTS app",
      "CREATE OR REPLACE TABLE app.v AS SELECT range AS id, range % 3 = 0 AS bo, " +
        "(range % 256 - 128)::TINYINT AS ti, (range * 7 % 65536 - 32768)::SMALLINT AS sm, " +
        "(range * 2654435 % 2147483647)::INTEGER AS i, range * 1000000007 AS l, " +
        "(range / 7.0)::REAL AS re, range / 3.0 AS d, " +
        "(range * 1000003 / 1000000.0)::DECIMAL(38,10) AS dec, " +
        "((range - 5000) / 100.0)::DECIMAL(18,2) AS dsm, " +
        "'v_' || range || CASE WHEN range % 3 = 0 THEN 'é😀' ELSE '' END AS s, " +
        "encode(repeat('b', (range % 64)::INTEGER)) AS b, " +
        "DATE '2000-01-01' + (range % 9000)::INTEGER AS da, " +
        "TIMESTAMP '2000-01-01 00:00:00' + to_microseconds(range * 1000003) AS ts, " +
        "TIME '00:00:00' + to_seconds(range % 86400) AS tm " +
        "FROM range(10000)",
      s"UPDATE app.v SET bo = NULL, ti = NULL, sm = NULL, i = NULL, l = NULL, re = NULL, " +
        s"d = NULL, dec = NULL, dsm = NULL, s = NULL, b = NULL, da = NULL, ts = NULL, " +
        s"tm = NULL WHERE id IN ($nulls)",
      "UPDATE app.v SET dec = '1234567890123456789012345678.0123456789'::DECIMAL(38,10), " +
        "da = DATE '1582-10-10', ts = TIMESTAMP '1582-10-10 12:34:56.789012', " +
        "s = 'x😀😀y中' WHERE id = 1",
      "UPDATE app.v SET dec = '-9999999999999999999999999999.9999999999'::DECIMAL(38,10), " +
        "da = DATE '0001-01-01', ts = TIMESTAMP '0001-01-01 00:00:00.000001', s = '' WHERE id = 2",
      "UPDATE app.v SET s = 'nul' || chr(0) || 'inside' WHERE id = 3",
      "UPDATE app.v SET s = repeat('ab😀', 17000) WHERE id = 4",
      "UPDATE app.v SET re = '-0.0'::REAL, d = 'NaN'::DOUBLE WHERE id = 5")
  }

  private def duckInit(): Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    duckTable
  }

  private val duckSchema = vectorSchema("id" -> LongType, "bo" -> BooleanType,
    "ti" -> ByteType, "sm" -> ShortType, "i" -> IntegerType, "l" -> LongType,
    "re" -> FloatType, "d" -> DoubleType, "dec" -> DecimalType(38, 10),
    "dsm" -> DecimalType(18, 2), "s" -> StringType, "b" -> BinaryType, "da" -> DateType,
    "ts" -> TimestampType, "ntz" -> TimestampNTZType, "tm" -> TimestampType)
  private val duckSql = "SELECT \"id\", \"bo\", \"ti\", \"sm\", \"i\", \"l\", \"re\", \"d\", " +
    "\"dec\", \"dsm\", \"s\", \"b\", \"da\", \"ts\", \"ts\" AS \"ntz\", \"tm\" FROM app.v ORDER BY \"id\""

  private def epochDay(iso: String): Int = java.time.LocalDate.parse(iso).toEpochDay.toInt

  /** What the SQL that built `app.v` inserted, row by row: the range
    * formulas, then the edge-row UPDATEs. Timestamps are the local
    * date-times through Spark's own conversion, as the reader's are. */
  private lazy val duckExpected: Seq[Seq[Any]] = {
    def micros(iso: String): Long =
      DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf(java.time.LocalDateTime.parse(iso)))
    def dec(x: String) = new java.math.BigDecimal(x)
    val ts0 = micros("2000-01-01T00:00:00")
    (0 until Rows).map { r =>
      if (NullRows(r)) r.toLong +: Seq.fill(duckSchema.length - 1)(null)
      else {
        val ts = r match {
          case 1 => micros("1582-10-10T12:34:56.789012")
          case 2 => micros("0001-01-01T00:00:00.000001")
          case _ => ts0 + r * 1000003L
        }
        Seq(r.toLong, r % 3 == 0, (r % 256 - 128).toByte, (r * 7 % 65536 - 32768).toShort,
          (r.toLong * 2654435 % 2147483647).toInt, r.toLong * 1000000007L,
          java.lang.Float.floatToRawIntBits(if (r == 5) -0.0f else (r / 7.0).toFloat),
          java.lang.Double.doubleToRawLongBits(if (r == 5) Double.NaN else r / 3.0),
          r match {
            case 1 => dec("1234567890123456789012345678.0123456789")
            case 2 => dec("-9999999999999999999999999999.9999999999")
            case _ => java.math.BigDecimal.valueOf(r.toLong * 1000003L, 6).setScale(10)
          },
          java.math.BigDecimal.valueOf(r.toLong - 5000, 2),
          (r match {
            case 1 => "x😀😀y中"
            case 2 => ""
            case 3 => "nul\u0000inside"
            case 4 => "ab😀" * 17000
            case _ => s"v_$r" + (if (r % 3 == 0) "é😀" else "")
          }).getBytes(UTF_8).toSeq,
          Seq.fill(r % 64)('b'.toByte),
          r match {
            case 1 => epochDay("1582-10-10")
            case 2 => epochDay("0001-01-01")
            case _ => epochDay("2000-01-01") + r % 9000
          },
          ts, ts, (r % 86400) * 1000000L)
      }
    }
  }

  test("DuckDB: both readers agree on every vectorizable type, plain and over the string wire") {
    duckInit()
    val plain = readsExpected(duck, duckSchema, duckSql, duckExpected)
    assert(plain(1)(8) == new java.math.BigDecimal("1234567890123456789012345678.0123456789"))
    assert(plain(2)(8) == new java.math.BigDecimal("-9999999999999999999999999999.9999999999"))
    assert(plain(9)(12) == epochDay("2000-01-10"))
    // the day numbers are proleptic Gregorian, Spark's own DateType
    // values, where getDate's hybrid calendar shifts pre-1582 dates
    val da = duckSchema.fieldNames.indexOf("da")
    assert(plain(1)(da) == epochDay("1582-10-10") && plain(1)(da) == -141432)
    assert(plain(2)(da) == epochDay("0001-01-01"))
    // the string wire: the dialect wraps the VARCHAR column, and the
    // reader reads the same values through it
    val names = duckSchema.fieldNames.toSeq
    val (wireSql, utf8) = DuckDbDialect.utf8Wire(duckSql, names,
      n => SchemaProjection.remote(duck.withTable("app.v")).typeNames.get(n))
    assert(utf8 == Set(names.indexOf("s")), wireSql)
    assert(wireSql.contains("encode(q.\"s\") AS \"s\""), wireSql)
    readsExpected(duck, duckSchema, wireSql, duckExpected, utf8)
  }

  test("DuckDB dates: infinity and -infinity read as the extreme day numbers, never NULL") {
    duckInit()
    val schema = vectorSchema("id" -> LongType, "da" -> DateType)
    val sql = "SELECT * FROM (VALUES (0, DATE 'infinity'), (1, DATE '-infinity'), " +
      "(2, NULL::DATE), (3, DATE '1582-10-10')) AS t(\"id\", \"da\") ORDER BY \"id\""
    val expected = Seq(Seq(0L, Int.MaxValue), Seq(1L, -Int.MaxValue), Seq(2L, null),
      Seq(3L, epochDay("1582-10-10")))
    val (cols, _) = viaBatches(new JdbcColumnarReader(schema, new JdbcCursor(duck, sql)), schema)
    assert(cols == expected)
  }

  test("DuckDB string wire: bytes equal getString's for empty, NULL, NUL, 100 kB and 4-byte UTF-8") {
    duckInit()
    val schema = vectorSchema("id" -> LongType, "s" -> StringType)
    val sql = "SELECT \"id\", \"s\" FROM app.v WHERE \"id\" < 10 OR \"id\" IN (4095, 4096) ORDER BY \"id\""
    val (wireSql, utf8) = DuckDbDialect.utf8Wire(sql, Seq("id", "s"), Map("s" -> "VARCHAR").get)
    val expected = {
      val c = duck.connect()
      try {
        val rs = c.createStatement().executeQuery(sql)
        val out = ArrayBuffer.empty[Seq[Any]]
        while (rs.next())
          out += Seq(rs.getLong(1), Option(rs.getString(2)).map(_.getBytes(UTF_8).toSeq).orNull)
        out.toSeq
      } finally c.close()
    }
    val (cols, _) = viaBatches(new JdbcColumnarReader(schema, new JdbcCursor(duck, wireSql), utf8), schema)
    assert(cols == expected)
    val byId = expected.map(r => r.head -> r(1)).toMap
    assert(byId(2L) == Seq.empty[Byte])
    assert(byId(4095L) == null)
    assert(byId(3L) == "nul\u0000inside".getBytes(UTF_8).toSeq)
    assert(byId(4L).asInstanceOf[Seq[Byte]].length == 17000 * 6)
    assert(byId(1L) == "x😀😀y中".getBytes(UTF_8).toSeq)
  }

  private def duckCatalog(): Unit = {
    duckInit()
    spark.conf.set("spark.sql.catalog.did", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.did.url", duckUrl)
    // the read-side option leaves the types it reads as text alone
    spark.conf.set("spark.sql.catalog.did.unsupportedtypeaction", "string")
  }

  private def partitionSql(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .flatMap(_.scan.toBatch.planInputPartitions().map(_.asInstanceOf[JdbcInputPartition].sql))

  private def oracle(sql: String): Seq[Seq[Any]] = {
    val c = duck.connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i) match {
        case null => null
        case s: String => s
        case x: java.lang.Number => x.longValue()
        case x => x.toString
      })
      out.toSeq
    } finally c.close()
  }

  private def sparkRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case null => null
      case x: java.lang.Number => x.longValue()
      case x => x
    })

  /** UUID, ENUM and JSON columns (DuckDB reports all three as JAVA_OBJECT). */
  private lazy val oddTable: Unit = exec(duck,
    "DROP TABLE IF EXISTS app.odd",
    "DROP TYPE IF EXISTS mood",
    "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')",
    "CREATE TABLE app.odd (id BIGINT, u UUID, e mood, j JSON, s VARCHAR)",
    "INSERT INTO app.odd SELECT range, CASE WHEN range % 5 = 0 THEN NULL ELSE " +
      "('00000000-0000-0000-0000-' || lpad(range::VARCHAR, 12, '0'))::UUID END, " +
      "(['sad', 'ok', 'happy'])[range % 3 + 1]::mood, " +
      "CASE WHEN range % 4 = 0 THEN NULL ELSE ('{\"k\":' || range || '}')::JSON END, " +
      "'s' || range FROM range(50)")
  private val oddOracle = "SELECT id, u::VARCHAR, e::VARCHAR, j::VARCHAR, s FROM app.odd ORDER BY id"

  /** A catalog over the DuckDB file with default options. */
  private def defaultCatalog(): Unit = {
    duckInit()
    spark.conf.set("spark.sql.catalog.ddef", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ddef.url", duckUrl)
  }

  test("UUID, ENUM and JSON columns load with default options; HUGEINT still refuses") {
    defaultCatalog()
    oddTable
    val df = spark.table("ddef.app.odd")
    assert(df.schema.fields.drop(1).forall(_.dataType == StringType), df.schema)
    assert(sparkRows(df.orderBy("id")) == oracle(oddOracle))
    // the other JAVA_OBJECT types keep the refusal
    exec(duck, "CREATE OR REPLACE TABLE app.huge (id BIGINT, h HUGEINT)")
    val e = intercept[Exception](spark.table("ddef.app.huge").schema)
    assert(e.getMessage.contains("unsupported JDBC type 2000"), e.getMessage)
  }

  test("DuckDB dates are exact under a pushed TopN, a pushed aggregate and a pushed filter") {
    duckCatalog()
    def days(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.toRdd.map(_.getInt(0)).collect().toSeq
    def pushed(df: org.apache.spark.sql.DataFrame, clause: String): Unit = {
      val sqls = partitionSql(df)
      assert(sqls.nonEmpty && sqls.forall(_.contains(clause)), sqls)
    }
    val v = spark.table("did.app.v")
    val top = v.select("da").orderBy(col("da").asc_nulls_last).limit(2)
    pushed(top, "ORDER BY")
    assert(days(top) == Seq(epochDay("0001-01-01"), epochDay("1582-10-10")))
    val agg = v.filter(col("id") === 1).agg(min("da"), max("da"))
    pushed(agg, "MIN(")
    assert(days(agg) == Seq(epochDay("1582-10-10")))
    // a pushed DATE literal (rendered proleptic) matches the value read
    val eq = v.filter(col("da") === lit("1582-10-10").cast("date")).select("da")
    pushed(eq, "WHERE")
    assert(days(eq) == Seq(epochDay("1582-10-10")))
  }

  test("DuckDB BIT bitstrings read as their text; BOOLEAN still reads as boolean") {
    defaultCatalog()
    exec(duck, "CREATE OR REPLACE TABLE app.bits (id INTEGER, b BIT, bo BOOLEAN)",
      "INSERT INTO app.bits VALUES (1, '101', true), (2, '0', false), (3, NULL, NULL)")
    val df = spark.table("ddef.app.bits").orderBy("id")
    assert(df.schema("b").dataType == StringType && df.schema("bo").dataType == BooleanType)
    assert(df.collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1, "101", true), Seq(2, "0", false), Seq(3, null, null)))
  }

  test("UUID, ENUM and JSON columns read as strings are not wrapped and still read") {
    duckCatalog()
    oddTable
    val df = spark.table("did.app.odd")
    val sqls = partitionSql(df)
    assert(sqls.nonEmpty && sqls.forall(_.contains("encode(q.\"s\") AS \"s\"")), sqls)
    Seq("u", "e", "j").foreach(c =>
      assert(!sqls.exists(_.contains(s"encode(q.\"$c\")")), s"$c wrapped: $sqls"))
    assert(df.schema.fields.drop(1).forall(_.dataType == StringType), df.schema)
    assert(sparkRows(df.orderBy("id")) == oracle(oddOracle))
  }

  test("string wire: a pushed string filter, a numpartitions split and a string TopN are exact") {
    duckCatalog()
    val all = oracle("SELECT id, s FROM app.v ORDER BY id")
    // pushed filters stay inside the wrapped statement
    val eq = spark.table("did.app.v").filter(col("s") === "v_6é😀").select("id", "s")
    assert(partitionSql(eq).forall(q => q.contains("encode(q.\"s\")") && q.contains("WHERE")),
      partitionSql(eq))
    assert(sparkRows(eq) == all.filter(_(1) == "v_6é😀"))
    val like = spark.table("did.app.v").filter(col("s").startsWith("v_12")).select("id", "s")
    assert(sparkRows(like).sortBy(_.head.asInstanceOf[Long]) ==
      all.filter(r => r(1) != null && r(1).asInstanceOf[String].startsWith("v_12")))
    // range split: every partition wraps its own range statement
    val split = spark.read.options(Map("numpartitions" -> "4", "partitioncolumn" -> "id",
      "lowerbound" -> "0", "upperbound" -> "10000")).table("did.app.v").select("id", "s")
    val splitSql = partitionSql(split)
    assert(splitSql.length == 4 && splitSql.forall(_.contains("encode(q.\"s\")")), splitSql)
    assert(sparkRows(split).sortBy(_.head.asInstanceOf[Long]) == all)
    // a pushed ORDER BY keeps the plain statement, and the TopN is exact
    val top = spark.table("did.app.v").orderBy(col("s").desc, col("id")).limit(7).select("id", "s")
    val topSql = partitionSql(top)
    assert(topSql.forall(q => q.contains("ORDER BY") && !q.contains("encode(")), topSql)
    val expected = all.filter(_(1) != null).sortWith { (a, b) =>
      val c = UTF8String.fromString(a(1).asInstanceOf[String])
        .compareTo(UTF8String.fromString(b(1).asInstanceOf[String]))
      c > 0 || (c == 0 && a.head.asInstanceOf[Long] < b.head.asInstanceOf[Long])
    }.take(7)
    assert(sparkRows(top) == expected)
  }
}

object JdbcReaderIdentitySpec {
  private val derbyTypes = Seq(java.sql.Types.BOOLEAN, java.sql.Types.SMALLINT,
    java.sql.Types.SMALLINT, java.sql.Types.INTEGER, java.sql.Types.BIGINT,
    java.sql.Types.REAL, java.sql.Types.DOUBLE, java.sql.Types.DECIMAL,
    java.sql.Types.DECIMAL, java.sql.Types.VARCHAR, java.sql.Types.VARBINARY,
    java.sql.Types.DATE, java.sql.Types.TIMESTAMP, java.sql.Types.TIME)

  private def edgeDate(r: Int): java.time.LocalDate = r match {
    case 1 => java.time.LocalDate.parse("1582-10-10")
    case 2 => java.time.LocalDate.parse("0001-01-01")
    case _ => java.time.LocalDate.parse("2000-01-01").plusDays(r % 9000)
  }

  private def edgeString(r: Int): String = r match {
    case 6 => ""
    case 7 => "x😀😀y中"
    case _ => s"v_$r" + (if (r % 3 == 0) "é😀" else "")
  }

  /** A comparable value: bytes as Seq, decimals with their scale,
    * floating point by raw bits. */
  private def norm(row: InternalRow, schema: StructType): Seq[Any] =
    schema.fields.indices.map { i =>
      if (row.isNullAt(i)) null
      else row.get(i, schema(i).dataType) match {
        case b: Array[Byte] => b.toSeq
        case u: UTF8String => u.getBytes.toSeq
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case f: Float => java.lang.Float.floatToRawIntBits(f)
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case x => x
      }
    }

  def viaBatches(r: PartitionReader[ColumnarBatch], schema: StructType): (Seq[Seq[Any]], Seq[Int]) =
    try {
      val out = ArrayBuffer.empty[Seq[Any]]
      val sizes = ArrayBuffer.empty[Int]
      while (r.next()) {
        val b = r.get()
        sizes += b.numRows()
        b.rowIterator().asScala.foreach(row => out += norm(row, schema))
      }
      (out.toSeq, sizes.toSeq)
    } finally r.close()
}

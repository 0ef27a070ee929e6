package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** DuckDB's chunk fills ([[DuckDbChunk]]) fill exactly the vectors the
  * getter fills do. Every statement is read twice, through the chunk and
  * with `chunkFills = false`, at the default batch size and behind a
  * 3-row first batch, and the two reads must match value for value:
  * NULLs at DuckDB's 2048-row chunk edge and at the 4096-row batch edge,
  * pre-1582 and year-1 dates and timestamps, DATE ±infinity, the widest
  * decimals each covered width holds, BLOBs and wire strings that are
  * empty, hold NUL or 4-byte UTF-8, or run to 100 kB, and a `pincolumns`
  * catch-all folding chunk-filled columns. TIMESTAMP values convert, and
  * `-infinity` fails, as on the getter path. A declared type that differs
  * from the remote one, wider decimals, TIME and UUID keep their getter
  * fills. A fetch fault in a multi-chunk scan fails the read with its
  * own error and returns the connection.
  */
class DuckDbChunkFillSpec extends AnyFunSuite with SparkFixture {
  import JdbcReaderIdentitySpec.viaBatches

  private val Rows = 10000
  private val NullRows = Set(2047, 2048, 4095, 4096, 4097)

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_chunk").toString
  private def duck = JdbcOptions(Map("url" -> s"jdbc:duckdb:$dir/chunk.duckdb"))

  private def exec(o: JdbcOptions, sqls: String*): Unit = {
    val c = o.connect()
    try {
      val st = c.createStatement()
      try sqls.foreach(st.execute) finally st.close()
    } finally c.close()
  }

  /** One column of every type the chunk fills cover, and four they do not. */
  private lazy val table: Unit = {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    exec(duck,
      "CREATE TABLE t AS SELECT range AS id, range % 3 = 0 AS bo, " +
        "(range % 256 - 128)::TINYINT AS ti, (range * 7 % 65536 - 32768)::SMALLINT AS sm, " +
        "(range * 2654435 % 2147483647)::INTEGER AS i, range * 1000000007 AS l, " +
        "(range / 7.0)::FLOAT AS f, range / 3.0 AS d, " +
        "((range % 19999 - 9999) / 10.0)::DECIMAL(4,1) AS d4, " +
        "((range * 7919 % 1999999999 - 999999999) / 1000.0)::DECIMAL(9,3) AS d9, " +
        "((range - 5000) * 1234567.89)::DECIMAL(18,2) AS d18, " +
        "(range * 1000003 / 1000000.0)::DECIMAL(38,10) AS d38, " +
        "DATE '2000-01-01' + (range % 9000)::INTEGER AS da, " +
        "TIMESTAMP '2000-01-01 00:00:00' + to_microseconds(range * 1000003) AS ts, " +
        "'v_' || range || CASE WHEN range % 3 = 0 THEN 'é😀' ELSE '' END AS s, " +
        "encode(repeat('b', (range % 64)::INTEGER)) AS b, " +
        "TIME '00:00:00' + to_seconds(range % 86400) AS tm, " +
        "('00000000-0000-0000-0000-' || lpad(range::VARCHAR, 12, '0'))::UUID AS u " +
        "FROM range(10000)",
      s"UPDATE t SET bo = NULL, ti = NULL, sm = NULL, i = NULL, l = NULL, f = NULL, d = NULL, " +
        "d4 = NULL, d9 = NULL, d18 = NULL, d38 = NULL, da = NULL, ts = NULL, s = NULL, b = NULL, " +
        s"tm = NULL, u = NULL WHERE id IN (${NullRows.mkString(",")})",
      "UPDATE t SET da = DATE '1582-10-10', ts = TIMESTAMP '1582-10-10 12:34:56.789012', " +
        "d4 = 999.9, d9 = 999999.999, d18 = 9999999999999999.99, l = 9223372036854775807, " +
        "i = 2147483647, s = 'x😀😀y中', b = '\\x00\\xFF'::BLOB WHERE id = 1",
      "UPDATE t SET da = DATE '0001-01-01', ts = TIMESTAMP '0001-01-01 00:00:00.000001', " +
        "d4 = -999.9, d9 = -999999.999, d18 = -9999999999999999.99, l = -9223372036854775808, " +
        "i = -2147483648, s = '', b = ''::BLOB WHERE id = 2",
      "UPDATE t SET da = DATE 'infinity', s = 'nul' || chr(0) || 'inside', " +
        "b = 'a\\x00b'::BLOB WHERE id = 3",
      "UPDATE t SET da = DATE '-infinity', s = repeat('ab😀', 17000), " +
        "b = encode(repeat('z', 100000)) WHERE id = 4",
      "UPDATE t SET f = '-0.0'::FLOAT, d = 'NaN'::DOUBLE, " +
        "ts = TIMESTAMP '1969-12-31 23:59:59.999999' WHERE id = 5",
      "UPDATE t SET ts = TIMESTAMP '2021-03-14 02:30:00', da = DATE '1969-12-31' WHERE id = 6")
  }

  private val cols = Seq("id" -> LongType, "bo" -> BooleanType, "ti" -> ShortType,
    "sm" -> ShortType, "i" -> IntegerType, "l" -> LongType, "f" -> FloatType,
    "d" -> DoubleType, "d4" -> DecimalType(4, 1), "d9" -> DecimalType(9, 3),
    "d18" -> DecimalType(18, 2), "d38" -> DecimalType(38, 10), "da" -> DateType,
    "ts" -> TimestampType, "s" -> StringType, "b" -> BinaryType, "tm" -> TimestampType,
    "u" -> StringType, "tb" -> ByteType)
  private val schema = StructType(cols.map { case (n, t) => StructField(n, t) })
  private val sql = cols.map(_._1).map {
    case "tb" => "\"ti\" AS \"tb\""
    case n => s""""$n""""
  }.mkString("SELECT ", ", ", " FROM t ORDER BY \"id\"")
  private def at(names: String*): Seq[Int] = names.map(n => cols.indexWhere(_._1 == n) + 1)
  /** Every column but the wide decimal, the VARCHAR (off the wire), TIME and UUID. */
  private val covered = at("id", "bo", "ti", "sm", "i", "l", "f", "d", "d4", "d9", "d18",
    "da", "ts", "b", "tb")

  /** Reads `sql` through the chunk and through the getters, at both first
    * batch sizes; asserts the reads agree and the chunk filled exactly
    * `chunked`; returns the rows. */
  private def agree(schema: StructType, sql: String, chunked: Seq[Int], utf8: Set[Int] = Set.empty,
      catchAll: Option[(String, StructType)] = None): Seq[Seq[Any]] = {
    table
    def read(first: Int, chunk: Boolean) = {
      val r = new JdbcColumnarReader(schema, new JdbcCursor(duck, sql), utf8, first, catchAll, chunk)
      val (rows, sizes) = viaBatches(r, schema)
      assert(r.chunkColumns == (if (chunk) chunked else Nil))
      (rows, sizes)
    }
    val (getters, sizes) = read(JdbcColumnarReader.BatchRows, chunk = false)
    assert(getters.length == Rows && sizes == Seq(4096, 4096, Rows - 8192))
    val (chunks, _) = read(JdbcColumnarReader.BatchRows, chunk = true)
    val (small, smallSizes) = read(3, chunk = true)
    assert(smallSizes == Seq(3, 4096, 4096, Rows - 8195))
    getters.indices.foreach { r =>
      assert(chunks(r) == getters(r), s"row $r: chunk ${chunks(r)}, getters ${getters(r)}")
      assert(small(r) == getters(r), s"row $r (3-row first batch)")
    }
    getters
  }

  test("the pinned driver resolves every member the chunk fills read") {
    table
    assert(DuckDbChunk.resolved)
  }

  test("chunk fills equal getter fills for every covered type across chunk and batch edges") {
    val rows = agree(schema, sql, covered)
    NullRows.foreach(r => assert(rows(r).tail.forall(_ == null), s"row $r: ${rows(r)}"))
    def col(n: String) = cols.indexWhere(_._1 == n)
    assert(rows(3)(col("da")) == Int.MaxValue && rows(4)(col("da")) == -Int.MaxValue)
    assert(rows(1)(col("da")) == -141432) // 1582-10-10, proleptic
    assert(rows(1)(col("d18")) == new java.math.BigDecimal("9999999999999999.99"))
    assert(rows(2)(col("l")) == Long.MinValue)
    assert(rows(4)(col("b")).asInstanceOf[Seq[Byte]].length == 100000)
  }

  test("timestamps convert as the getter path converts them in a non-UTC JVM too") {
    val zone = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try agree(StructType(schema.take(1) :+ schema("ts") :+ schema("da")),
      "SELECT \"id\", \"ts\", \"da\" FROM t ORDER BY \"id\"", Seq(1, 2, 3))
    finally java.util.TimeZone.setDefault(zone)
  }

  test("TIMESTAMP infinity reads and -infinity fails as on the getter path, by JVM zone") {
    table
    val schema = StructType(Seq(StructField("ts", TimestampType)))
    def read(value: String, chunk: Boolean) = viaBatches(new JdbcColumnarReader(schema,
      new JdbcCursor(duck, s"SELECT TIMESTAMP '$value' AS \"ts\""), chunkFills = chunk), schema)._1
    // the UTC test JVM: 'infinity' converts to Long.MaxValue exactly
    assert(read("infinity", chunk = true) == Seq(Seq(Long.MaxValue)))
    assert(read("infinity", chunk = false) == Seq(Seq(Long.MaxValue)))
    def overflows(value: String): Unit = Seq(true, false).foreach { chunk =>
      val e = intercept[ArithmeticException](read(value, chunk))
      assert(e.getMessage == "long overflow", e)
    }
    overflows("-infinity")
    // behind UTC, 'infinity' overflows too
    val zone = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try overflows("infinity") finally java.util.TimeZone.setDefault(zone)
  }

  test("wire strings read from the chunk with the bytes getBlob returns") {
    val (wireSql, utf8) = DuckDbDialect.utf8Wire(sql, cols.map(_._1), Map("s" -> "VARCHAR").get)
    assert(utf8 == Set(cols.indexWhere(_._1 == "s")), wireSql)
    agree(schema, wireSql, (covered ++ at("s")).sorted, utf8)
  }

  test("a pincolumns catch-all folds chunk-filled columns into the same JSON") {
    val folded = StructType(Seq("l", "d18", "da", "ts", "b", "tm").map(n => schema(n)))
    val out = StructType(Seq(schema("id"), StructField("rest", StringType)))
    val rows = agree(out, "SELECT \"id\", \"l\", \"d18\", \"da\", \"ts\", \"b\", \"tm\" FROM t ORDER BY \"id\"",
      Seq(1, 2, 3, 4, 5, 6), catchAll = Some("rest" -> folded))
    assert(new String(rows(7)(1).asInstanceOf[Seq[Byte]].toArray, "UTF-8") ==
      """{"l":7000000049,"d18":-6164197474.77,"da":"2000-01-08","ts":"2000-01-01T00:00:07.000021Z",""" +
      """"b":"YmJiYmJiYg==","tm":"1970-01-01T00:00:07Z"}""")
  }

  test("a declared type change, a wider decimal, TIME and UUID keep their getter fills") {
    // customschema's overlay: l as text, d18 widened, da as text
    val declared = StructType(Seq(StructField("id", LongType), StructField("l", StringType),
      StructField("d18", DecimalType(20, 4)), StructField("da", StringType),
      StructField("d38", DecimalType(38, 10)), StructField("tm", TimestampType),
      StructField("u", StringType)))
    agree(declared, "SELECT \"id\", \"l\", \"d18\", \"da\", \"d38\", \"tm\", \"u\" FROM t ORDER BY \"id\"",
      Seq(1))
  }

  test("a fetch fault in a multi-chunk scan surfaces with its message and frees the pool") {
    table
    RecordingDriver.register
    val url = s"${RecordingDriver.Prefix}duckdb:$dir/chunk.duckdb"
    val o = JdbcOptions(Map("url" -> url, "dialect" -> "duckdb"))
    val df = spark.read.format("graft.sources.jdbc.GraftJdbcSource").option("url", url)
      .option("dialect", "duckdb").option("dbtable", "t").option("numpartitions", "1").load()
      .select("id", "l", "d18", "ts")
    val before = DuckDbChunk.columnsFilled.get()
    assert(df.collect().length == Rows)
    assert(DuckDbChunk.columnsFilled.get() - before == 4)
    val injected = new java.sql.SQLException("injected fetch fault after two chunks")
    RecordingDriver.failOn = Some(RecordingDriver.Fault("\"d18\", \"ts\"", 2 * 2048 + 5, injected))
    try {
      Seq[() => Any](() => df.collect(), () => df.queryExecution.toRdd.count()).foreach { read =>
        val e = intercept[Exception](read())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(_.getMessage == injected.getMessage), e)
        assert(ConnectionPool.checkedOut(o) == 0)
      }
    } finally RecordingDriver.failOn = None
  }
}

package graft.sources.jdbc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.sql.{PreparedStatement, ResultSet, ResultSetMetaData, Types}

/** Bidirectional JDBC ⇄ Catalyst type + value mapping.
  *
  * The Spark-native analog of the reference's per-connector
  * `arrow_sql_gen` modules (e.g.
  * `crates/postgres/src/arrow_sql_gen/schema.rs:53-107`,
  * `crates/mysql/src/arrow_sql_gen.rs:703-760`): the reference maps wire
  * types ⇄ Arrow; we map JDBC ⇄ Catalyst. Reads fill Spark column
  * vectors ([[fills]]) that the scan hands over as `ColumnarBatch`es, as
  * the reference streams Arrow record batches; writes bind from
  * `InternalRow`s.
  *
  * Unlike the reference's INSERT path, which renders every value to a SQL
  * literal (`statement.rs:186-1055`), writes bind through JDBC
  * `PreparedStatement` parameters — no literal rendering, no SQL
  * injection surface, and the remote driver batches natively (the design
  * difference called out in SURVEY §2.6 W11).
  */
object TypeMapping {

  /** JDBC SQL type → Catalyst type (reference: schema.rs introspection). */
  def catalystType(sqlType: Int, precision: Int, scale: Int): DataType = sqlType match {
    case Types.BIT | Types.BOOLEAN => BooleanType
    case Types.TINYINT | Types.SMALLINT => ShortType
    case Types.INTEGER => IntegerType
    case Types.BIGINT => LongType
    case Types.REAL => FloatType
    case Types.FLOAT | Types.DOUBLE => DoubleType
    case Types.NUMERIC | Types.DECIMAL =>
      // documented SURVEY §1.2 choice (reference statement.rs:248-270):
      // a decimal wider than Spark's 38 (pg numeric / Decimal256) is
      // REJECTED, or read as its exact string form under
      // `unsupportedtypeaction=string` — never silently clamped (a
      // clamp corrupts values that actually use the width)
      if (precision == 0) DecimalType.SYSTEM_DEFAULT
      else if (precision > DecimalType.MAX_PRECISION || scale > DecimalType.MAX_SCALE)
        throw new IllegalArgumentException(
          s"decimal($precision,$scale) exceeds Spark's DECIMAL(38,38) " +
            "(set unsupportedtypeaction=string to read it as text)")
      else DecimalType(precision, scale)
    case Types.CHAR | Types.VARCHAR | Types.LONGVARCHAR | Types.NCHAR |
         Types.NVARCHAR | Types.LONGNVARCHAR | Types.CLOB | Types.SQLXML => StringType
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY | Types.BLOB => BinaryType
    case Types.DATE => DateType
    // DOCUMENTED CHOICE (SURVEY §1.2): TIME maps to TimestampType on the
    // epoch day — lossless and orderable; the metadata-aware [[fills]]
    // pins the date component to 1970-01-01 (drivers disagree: Derby's
    // getTimestamp-over-TIME uses the current date). The reference
    // models Time32/Time64 distinctly (statement.rs:327-407); Spark has
    // no time-of-day type.
    case Types.TIMESTAMP | Types.TIME => TimestampType
    case Types.TIMESTAMP_WITH_TIMEZONE => TimestampType
    case other => throw new IllegalArgumentException(s"unsupported JDBC type $other")
  }

  /** Element type of a JDBC ARRAY column from the driver's type NAME
    * (the int code alone cannot carry it): Postgres `_int4`-style
    * prefixed names (`arrow_sql_gen/schema.rs:163-190` maps the same
    * wire names), `INTEGER ARRAY`/`int4[]`-style composed names from
    * H2/pgjdbc-family drivers. Unknown element names fall back to
    * string elements (values render via toString).
    */
  def arrayElementType(typeName: String): DataType = {
    val n = Option(typeName).getOrElse("").trim.toLowerCase
    val elem =
      if (n.startsWith("_")) n.drop(1)                      // pg wire: _int4
      else if (n.endsWith("[]")) n.dropRight(2).trim        // pgjdbc: int4[]
      else if (n.endsWith(" array")) n.dropRight(6).trim    // h2: INTEGER ARRAY
      else n
    elem match {
      case "bool" | "boolean" => BooleanType
      case "int2" | "smallint" => ShortType
      case "int4" | "int" | "integer" | "serial" => IntegerType
      case "int8" | "bigint" | "bigserial" => LongType
      case "float4" | "real" => FloatType
      case "float8" | "double" | "double precision" => DoubleType
      case "numeric" | "decimal" => DecimalType.SYSTEM_DEFAULT
      case _ => StringType
    }
  }

  /** Bound element type of a named Postgres range type
    * (reference `arrow_sql_gen/schema.rs:240` maps int4range →
    * Struct{lower,upper}; same table here).
    */
  def rangeElementType(typeName: String): DataType = typeName.toLowerCase match {
    case "int4range" => IntegerType
    case "int8range" => LongType
    case "numrange" => DecimalType.SYSTEM_DEFAULT
    case "daterange" => DateType
    case "tsrange" | "tstzrange" => TimestampType
    case _ => StringType
  }

  /** The Catalyst shape a range column reads as: typed bounds plus
    * inclusivity flags (`[1,10)` → (1, 10, true, false); unbounded or
    * `empty` bounds are null).
    */
  def rangeStruct(elem: DataType): StructType = StructType(Seq(
    StructField("lower", elem), StructField("upper", elem),
    StructField("lower_inc", BooleanType, nullable = false),
    StructField("upper_inc", BooleanType, nullable = false)))

  private def isRangeStruct(st: StructType): Boolean =
    st.fields.map(_.name).sameElements(Array("lower", "upper", "lower_inc", "upper_inc"))

  /** Introspect a query's result schema (reference `get_schema`,
    * `dbconnection.rs:216-239`: prepared-statement metadata).
    *
    * Database-specific types beyond the JDBC core set map per the
    * reference's pg table (`arrow_sql_gen/schema.rs:53-107,240`,
    * `composite.rs`): a named range (`Types.OTHER`, name `*range`) →
    * [[rangeStruct]]; an enum or any other `Types.OTHER` → StringType
    * (the reference reads enums as dictionary-of-string — Spark has no
    * dictionary type, the string IS the semantic value); a composite
    * (`Types.STRUCT`) → its raw `(a,"b c",…)` text literal by default,
    * or a parsed StructType when the caller DECLARES the shape via
    * [[applyOverrides]] (the `customschema` option — the
    * declared-schema escape hatch, since JDBC metadata does not expose
    * composite member types portably). The `dialect` corrects types its
    * driver misreports ([[Dialect.readType]]).
    */
  def schemaOf(md: ResultSetMetaData, dialect: Dialect,
      unsupportedAsString: Boolean = false): StructType = StructType(
    (1 to md.getColumnCount).map { i =>
      val name = md.getColumnLabel(i)
      val jdbcType = md.getColumnType(i)
      val dt = dialect.readType(jdbcType, typeName(md, i)).getOrElse(jdbcType match {
        case Types.ARRAY =>
          ArrayType(arrayElementType(md.getColumnTypeName(i)), containsNull = true)
        case Types.STRUCT => StringType
        case Types.OTHER =>
          val tn = typeName(md, i).toLowerCase
          if (tn.endsWith("range")) rangeStruct(rangeElementType(tn))
          // pg point "(x,y)" → struct<x,y> (reference maps it to
          // FixedSizeList[2] of f64, schema.rs:66; a named struct is the
          // Catalyst idiom — parseComposite reads the same text form)
          else if (tn == "point") StructType(Seq(
            StructField("x", DoubleType), StructField("y", DoubleType)))
          else StringType
        case t =>
          try catalystType(t, md.getPrecision(i), md.getScale(i))
          catch {
            // `unsupportedtypeaction=string` on the READ side: the exact
            // text form instead of a refused column (reference
            // UnsupportedTypeAction::String, crates/common/src/lib.rs:23-30)
            case e: IllegalArgumentException if unsupportedAsString => StringType
          }
      })
      StructField(name, dt, md.isNullable(i) != ResultSetMetaData.columnNoNulls)
    })

  private def typeName(md: ResultSetMetaData, i: Int): String =
    Option(md.getColumnTypeName(i)).getOrElse("").trim.toUpperCase

  /** Overlay declared column types (`customschema` option) onto an
    * introspected schema by case-insensitive name; undeclared columns
    * keep their introspected types.
    */
  def applyOverrides(base: StructType, declared: StructType): StructType =
    StructType(base.map { f =>
      declared.find(_.name.equalsIgnoreCase(f.name))
        .map(d => f.copy(dataType = d.dataType)).getOrElse(f)
    })

  /** A Blob column's bytes, null for SQL NULL. */
  private def blobBytes(rs: ResultSet, i: Int): Array[Byte] = {
    val b = rs.getBlob(i)
    if (b == null) null else b.getBytes(1, b.length().toInt)
  }

  /** `getBytes`, unless the driver serves binary only through a Blob:
    * DuckDB's JDBC driver throws NotSupported on `getBytes` (live-wire
    * finding). The choice is made on the column's first value and kept,
    * so a BLOB scan does not throw and catch once per value.
    */
  private final class BinaryBytes extends ((ResultSet, Int) => Array[Byte]) {
    private var viaBlob = false
    override def apply(rs: ResultSet, i: Int): Array[Byte] =
      if (viaBlob) blobBytes(rs, i)
      else
        try rs.getBytes(i)
        catch {
          case _: java.sql.SQLFeatureNotSupportedException =>
            viaBlob = true
            blobBytes(rs, i)
        }
  }

  /** Split a pg composite/range body on top-level commas, honoring
    * double-quoted segments with `""` and backslash escapes (the output
    * syntax in the pg docs, "Composite Type Input and Output Syntax").
    * Returns raw field texts, null for empty unquoted fields.
    */
  private def splitTopLevel(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var quoted = false    // this field used quotes (so "" means empty string, not NULL)
    var inQ = false
    var i = 0
    def flush(): Unit = {
      out += (if (!quoted && cur.length == 0) null else cur.toString)
      cur.setLength(0); quoted = false
    }
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQ) {
        if (c == '"' && i + 1 < body.length && body.charAt(i + 1) == '"') { cur.append('"'); i += 1 }
        else if (c == '"') inQ = false
        else if (c == '\\' && i + 1 < body.length) { cur.append(body.charAt(i + 1)); i += 1 }
        else cur.append(c)
      } else c match {
        case '"' => inQ = true; quoted = true
        case '\\' if i + 1 < body.length => cur.append(body.charAt(i + 1)); i += 1
        case ',' => flush()
        case other => cur.append(other)
      }
      i += 1
    }
    flush()
    out.toSeq
  }

  /** One pg text field → Catalyst value of the target type. */
  private def fromText(s: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(s)
    case BooleanType => s == "t" || s == "true"
    case ShortType => s.trim.toShort
    case IntegerType => s.trim.toInt
    case LongType => s.trim.toLong
    case FloatType => s.trim.toFloat
    case DoubleType => s.trim.toDouble
    case d: DecimalType => Decimal(new java.math.BigDecimal(s.trim), d.precision, d.scale)
    case DateType => DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(s.trim))
    case TimestampType | TimestampNTZType => timestampMicros(s.trim)
    case nested: StructType => parseComposite(s, nested)
    case other => throw new IllegalArgumentException(s"composite field type $other")
  }

  /** pg timestamp text → epoch micros, timezone-exactly: a trailing
    * UTC offset (`+00`, `-08:00` — tstzrange / timestamptz composite
    * members carry one) anchors the instant; naive text is interpreted
    * as UTC, matching the session timezone this engine pins — NEVER the
    * executor JVM's default zone (`Timestamp.valueOf` would shift
    * values on any non-UTC host).
    */
  private def timestampMicros(s: String): Long = {
    val OffsetTail = "([+-]\\d{2}(?::?\\d{2})?)$".r
    val (body, offset) = OffsetTail.findFirstIn(s) match {
      case Some(o) => (s.dropRight(o.length), java.time.ZoneOffset.of(o))
      case None => (s, java.time.ZoneOffset.UTC)
    }
    val ldt = java.time.LocalDateTime.parse(
      body.trim.replace(' ', 'T'),
      java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    val inst = ldt.toInstant(offset)
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L
  }

  /** `(1,"a b",t)` → InternalRow per the declared struct; empty fields
    * are NULL (pg semantics). Nested composites recurse (their quoting
    * unwraps one level per depth).
    */
  private[jdbc] def parseComposite(text: String, st: StructType): InternalRow = {
    val t = text.trim
    require(t.startsWith("(") && t.endsWith(")"), s"not a composite literal: $text")
    val fields = splitTopLevel(t.substring(1, t.length - 1))
    val row = new GenericInternalRow(st.length)
    var i = 0
    while (i < st.length) {
      val raw = if (i < fields.length) fields(i) else null
      row.update(i, if (raw == null) null else fromText(raw, st.fields(i).dataType))
      i += 1
    }
    row
  }

  /** `[1,10)` / `empty` / `(,5]` → (lower, upper, lower_inc, upper_inc);
    * unbounded or empty-range bounds are NULL.
    */
  private[jdbc] def parseRange(text: String, elem: DataType): InternalRow = {
    val t = text.trim
    val row = new GenericInternalRow(4)
    if (t.equalsIgnoreCase("empty")) {
      row.update(2, false); row.update(3, false)
      return row
    }
    require(t.length >= 3 && "[(".contains(t.head) && "])".contains(t.last),
      s"not a range literal: $text")
    val bounds = splitTopLevel(t.substring(1, t.length - 1))
    require(bounds.length == 2, s"range must have two bounds: $text")
    def bound(s: String): Any = if (s == null || s.isEmpty) null else fromText(s, elem)
    row.update(0, bound(bounds.head))
    row.update(1, bound(bounds(1)))
    row.update(2, t.head == '[' && row.isNullAt(0) == false)
    row.update(3, t.last == ']' && row.isNullAt(1) == false)
    row
  }

  private def isTime(md: ResultSetMetaData, i: Int): Boolean =
    md.getColumnType(i + 1) == Types.TIME

  /** TIME on the epoch day: micros since midnight. */
  private def microsOfDay(t: java.sql.Time): Long = t.toLocalTime.toNanoOfDay / 1000L

  /** Whether the driver's object for DATE column `i` is a
    * `java.time.LocalDate` (DuckDB's is). Its day number is exact:
    * `getDate` builds a `java.sql.Date` in the hybrid Julian calendar,
    * which shifts dates before 1582-10-15 by up to ten days (DuckDB
    * `DATE '1582-10-10'` read as day -141422, not -141432) and turns
    * DuckDB's `infinity` into a garbage date, where the LocalDate reads
    * 2147483647 (`-infinity`: -2147483647). It also costs half as much
    * (probed, 250k DuckDB dates: about 20 ms against 40 ms).
    */
  private def localDates(md: ResultSetMetaData, i: Int): Boolean =
    md.getColumnClassName(i + 1) == "java.time.LocalDate"

  private def localDate(rs: ResultSet, p: Int): java.time.LocalDate =
    rs.getObject(p).asInstanceOf[java.time.LocalDate]

  /** One column fill: the current ResultSet row's value at position
    * `p` into row `r` of a column vector.
    */
  trait Fill {
    def apply(rs: ResultSet, p: Int, v: WritableColumnVector, r: Int): Unit
  }

  /** Column fills for a result schema, one typed driver call per
    * column, refined by the LIVE ResultSet metadata: a remote TIME
    * column (mapped to TimestampType per the documented §1.2 choice)
    * reads `getTime` and lands on the EPOCH DAY deterministically —
    * JDBC drivers disagree on the date component of `getTimestamp` over
    * TIME (Derby uses the current date). A DATE column whose driver
    * hands out `java.time.LocalDate` objects reads that object
    * ([[localDates]]). Positions in `utf8` hold string values that
    * arrive as a Blob of their UTF-8 bytes ([[Dialect.utf8Wire]]).
    * Primitive getters test `wasNull`; object getters test the returned
    * reference. Array and struct values go into their child vectors
    * through [[append]], so rows are filled in order.
    *
    * Over a DuckDB `chunk`, a column whose value is stored in the form
    * Spark needs reads it from the fetched vectors instead, with no
    * driver call ([[chunkFill]]). The fills run in column order for every
    * row, so the first such column positions the chunk for the row.
    */
  def fills(schema: StructType, md: ResultSetMetaData,
      utf8: Set[Int] = Set.empty, chunk: Option[DuckDbChunk] = None): Array[Fill] = {
    val fromChunk = schema.fields.indices.map(i =>
      chunk.flatMap(chunkFill(_, i + 1, schema(i).dataType, typeName(md, i + 1), utf8(i))))
    val lead = fromChunk.indexWhere(_.isDefined)
    getterFills(schema, md, utf8).zipWithIndex.map {
      case (_, i) if i == lead =>
        val c = chunk.get
        val fill = fromChunk(i).get
        (rs, p, v, r) => { c.sync(); fill(rs, p, v, r) }
      case (getter, i) => fromChunk(i).getOrElse(getter)
    }
  }

  /** DuckDB's TIMESTAMP micros as the getter path reads them: the
    * driver's `DuckDBTimestamp.toSqlTimestamp` (floor seconds and
    * nanos, a UTC `LocalDateTime`, `Timestamp.valueOf` in the JVM's
    * zone), then Spark's `fromJavaTimestamp`. */
  private def duckTimestamp(micros: Long): Long =
    DateTimeUtils.fromJavaTimestamp(java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)))

  /** The chunk fill of column `p` when its Catalyst type and its DuckDB
    * type name agree exactly, each filling what its getter fill would:
    * fixed-width numbers and DATE days as stored (the `LocalDate` →
    * `toEpochDay` path gives the stored day), DECIMAL(p <= 18) as its
    * stored unscaled value, TIMESTAMP through [[duckTimestamp]], and
    * BLOB bytes (binary, or a string on the wire) copied from the
    * value's buffer with no `Blob`. Any other pairing, a `customschema`
    * type change included, keeps its getter fill.
    */
  private def chunkFill(c: DuckDbChunk, p: Int, dt: DataType, name: String,
      wire: Boolean): Option[Fill] = {
    // each case is its own Fill class over its registered column, so
    // every call stays monomorphic and no value is boxed
    def of(fill: c.Column => Fill): Option[Fill] = Some(fill(c.column(p)))
    (dt, name) match {
      case (BooleanType, "BOOLEAN") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putBoolean(r, x.byte == 1))
      case (ByteType, "TINYINT") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putByte(r, x.byte))
      case (ShortType, "TINYINT") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putShort(r, x.byte.toShort))
      case (ShortType, "SMALLINT") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putShort(r, x.short))
      case (IntegerType, "INTEGER") | (DateType, "DATE") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putInt(r, x.int))
      case (LongType, "BIGINT") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putLong(r, x.long))
      case (FloatType, "FLOAT") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putFloat(r, x.float))
      case (DoubleType, "DOUBLE") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putDouble(r, x.double))
      case (TimestampType, "TIMESTAMP") =>
        of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putLong(r, duckTimestamp(x.long)))
      // DuckDB stores DECIMAL(p <= 4) in 2 bytes, (p <= 9) in 4, (p <= 18) in 8;
      // Spark's vector holds p <= 9 as an int, p <= 18 as a long
      case (d: DecimalType, _) if d.precision <= 18 && name == s"DECIMAL(${d.precision},${d.scale})" =>
        if (d.precision <= 4) of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putInt(r, x.short))
        else if (d.precision <= 9) of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putInt(r, x.int))
        else of(x => (_, _, v, r) => if (x.isNull) v.putNull(r) else v.putLong(r, x.long))
      case (BinaryType, "BLOB") | (StringType, "BLOB") if dt == BinaryType || wire =>
        var buf = new Array[Byte](64)
        of(x => (_, _, v, r) =>
          if (x.isNull) v.putNull(r)
          else {
            val b = x.blob
            val n = b.capacity
            if (buf.length < n) buf = new Array[Byte](math.max(n, buf.length * 2))
            b.get(0, buf, 0, n)
            v.putByteArray(r, buf, 0, n)
          })
      case _ => None
    }
  }

  private def getterFills(schema: StructType, md: ResultSetMetaData, utf8: Set[Int]): Array[Fill] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      def bytes(read: (ResultSet, Int) => Array[Byte]): Fill = (rs, p, v, r) => {
        val b = read(rs, p)
        if (b == null) v.putNull(r) else v.putByteArray(r, b, 0, b.length)
      }
      f.dataType match {
        case BooleanType => (rs, p, v, r) => {
          val x = rs.getBoolean(p); if (rs.wasNull()) v.putNull(r) else v.putBoolean(r, x)
        }
        case ByteType => (rs, p, v, r) => {
          val x = rs.getByte(p); if (rs.wasNull()) v.putNull(r) else v.putByte(r, x)
        }
        case ShortType => (rs, p, v, r) => {
          val x = rs.getShort(p); if (rs.wasNull()) v.putNull(r) else v.putShort(r, x)
        }
        case IntegerType => (rs, p, v, r) => {
          val x = rs.getInt(p); if (rs.wasNull()) v.putNull(r) else v.putInt(r, x)
        }
        // durations live as BIGINT micros remotely (reference maps Duration
        // to a big-integer column, statement.rs:313-326,1302)
        case LongType | _: DayTimeIntervalType => (rs, p, v, r) => {
          val x = rs.getLong(p); if (rs.wasNull()) v.putNull(r) else v.putLong(r, x)
        }
        case FloatType => (rs, p, v, r) => {
          val x = rs.getFloat(p); if (rs.wasNull()) v.putNull(r) else v.putFloat(r, x)
        }
        case DoubleType => (rs, p, v, r) => {
          val x = rs.getDouble(p); if (rs.wasNull()) v.putNull(r) else v.putDouble(r, x)
        }
        case d: DecimalType => (rs, p, v, r) => {
          val x = rs.getBigDecimal(p)
          if (x == null) v.putNull(r) else v.putDecimal(r, Decimal(x, d.precision, d.scale), d.precision)
        }
        case StringType if utf8(i) => bytes(blobBytes)
        case StringType => bytes((rs, p) => {
          val s = rs.getString(p)
          if (s == null) null else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        })
        case BinaryType => bytes(new BinaryBytes)
        case DateType if localDates(md, i) => (rs, p, v, r) => {
          val x = localDate(rs, p)
          if (x == null) v.putNull(r) else v.putInt(r, x.toEpochDay.toInt)
        }
        case DateType => (rs, p, v, r) => {
          val x = rs.getDate(p)
          if (x == null) v.putNull(r) else v.putInt(r, DateTimeUtils.fromJavaDate(x))
        }
        case TimestampType | TimestampNTZType if isTime(md, i) => (rs, p, v, r) => {
          val x = rs.getTime(p)
          if (x == null) v.putNull(r) else v.putLong(r, microsOfDay(x))
        }
        case TimestampType | TimestampNTZType => (rs, p, v, r) => {
          val x = rs.getTimestamp(p)
          if (x == null) v.putNull(r) else v.putLong(r, DateTimeUtils.fromJavaTimestamp(x))
        }
        // native JDBC ARRAY columns (reference pg arrays -> List,
        // `arrow_sql_gen/schema.rs:163-190`); elements arrive boxed
        case at @ ArrayType(et, _) => (rs, p, v, _) => {
          val a = rs.getArray(p)
          append(v, at, if (a == null) null
            else new GenericArrayData(a.getArray.asInstanceOf[Array[AnyRef]].map(fromBoxed(et, _))))
        }
        // composite / range / point columns arrive as their pg text
        // literal (JDBC exposes no portable member accessor), parsed into
        // the declared struct — the read half of the reference's composite.rs
        case st: StructType => (rs, p, v, _) => {
          val x = rs.getString(p)
          append(v, st, if (x == null) null
            else if (isRangeStruct(st)) parseRange(x, st.fields(0).dataType)
            else parseComposite(x, st))
        }
        case other => throw new IllegalArgumentException(s"unsupported read type $other")
      }
    }

  /** Appends `value`, a Catalyst value of `dt`, as the next element of
    * `v`, children included, in the layout Spark's own
    * `RowToColumnConverter` writes. The nested-value writer of both
    * scan readers: a vector written through it is written only through
    * it, so that its next element is the next row.
    */
  def append(v: WritableColumnVector, dt: DataType, value: Any): Unit = dt match {
    case st: StructType =>
      v.appendStruct(value == null) // a NULL struct appends NULL children itself
      if (value != null) {
        val row = value.asInstanceOf[InternalRow]
        st.fields.indices.foreach { i =>
          val t = st.fields(i).dataType
          append(v.getChild(i), t, if (row.isNullAt(i)) null else row.get(i, t))
        }
      }
    case _ if value == null => v.appendNull()
    case ArrayType(et, _) =>
      val a = value.asInstanceOf[ArrayData]
      v.appendArray(a.numElements())
      (0 until a.numElements()).foreach(j =>
        append(v.arrayData(), et, if (a.isNullAt(j)) null else a.get(j, et)))
    case BooleanType => v.appendBoolean(value.asInstanceOf[Boolean])
    case ShortType => v.appendShort(value.asInstanceOf[Short])
    case IntegerType | DateType => v.appendInt(value.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType => v.appendLong(value.asInstanceOf[Long])
    case FloatType => v.appendFloat(value.asInstanceOf[Float])
    case DoubleType => v.appendDouble(value.asInstanceOf[Double])
    case d: DecimalType => v.putDecimal(v.appendNotNull(), value.asInstanceOf[Decimal], d.precision)
    case StringType =>
      val b = value.asInstanceOf[UTF8String].getBytes
      v.appendByteArray(b, 0, b.length)
  }

  /** Boxed JDBC element → Catalyst element (null-safe). */
  private def fromBoxed(et: DataType, v: AnyRef): Any = {
    if (v == null) return null
    et match {
      case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
      case ShortType => v.asInstanceOf[java.lang.Number].shortValue()
      case IntegerType => v.asInstanceOf[java.lang.Number].intValue()
      case LongType => v.asInstanceOf[java.lang.Number].longValue()
      case FloatType => v.asInstanceOf[java.lang.Number].floatValue()
      case DoubleType => v.asInstanceOf[java.lang.Number].doubleValue()
      case d: DecimalType =>
        Decimal(v.asInstanceOf[java.math.BigDecimal], d.precision, d.scale)
      case StringType => UTF8String.fromString(v.toString)
      case other => throw new IllegalArgumentException(s"unsupported array element $other")
    }
  }

  /** One column setter: InternalRow position → PreparedStatement bind. */
  type Setter = (PreparedStatement, InternalRow, Int, Int) => Unit

  /** Dialect-aware setter: engines with native array support
    * ([[Dialect.supportsNativeArrays]]) bind ArrayType through
    * `Connection.createArrayOf` instead of the nested-as-JSON text
    * fallback; everything else delegates to [[setter]].
    */
  def setter(dt: DataType, dialect: Dialect): Setter = dt match {
    // text bind (DuckDB: its JDBC driver reads arrays but has no
    // createArrayOf — the array binds as JSON and the insert
    // placeholder casts it back to the native list type remotely; the
    // same toJson renderer as the nested-as-JSON fallback, so element
    // encoding cannot drift between the two paths)
    case at @ ArrayType(_, _) if dialect.supportsNativeArrays &&
        dialect.arrayBindAsText && dialect.supportsArrayElement(at.elementType) =>
      (ps, row, f, p) => {
        if (row.isNullAt(f)) ps.setNull(p, Types.VARCHAR)
        else ps.setString(p, toJson(at, row.get(f, at)))
      }
    // native path ONLY for elements the dialect can bind — everything
    // else (nested-of-nested, temporal elements) keeps the JSON-text
    // fallback its DDL maps to TEXT
    case ArrayType(et, _) if dialect.supportsNativeArrays &&
        dialect.supportsArrayElement(et) =>
      val elemName = dialect.arrayElementName(et)
      (ps, row, f, p) => {
        val arr = row.getArray(f)
        if (arr == null) ps.setNull(p, Types.ARRAY)
        else {
          val boxed = new Array[AnyRef](arr.numElements())
          var j = 0
          while (j < boxed.length) {
            boxed(j) =
              if (arr.isNullAt(j)) null
              else et match {
                case BooleanType => java.lang.Boolean.valueOf(arr.getBoolean(j))
                case ShortType => java.lang.Short.valueOf(arr.getShort(j))
                case IntegerType => java.lang.Integer.valueOf(arr.getInt(j))
                case LongType => java.lang.Long.valueOf(arr.getLong(j))
                case FloatType => java.lang.Float.valueOf(arr.getFloat(j))
                case DoubleType => java.lang.Double.valueOf(arr.getDouble(j))
                case d: DecimalType => arr.getDecimal(j, d.precision, d.scale).toJavaBigDecimal
                case StringType => arr.getUTF8String(j).toString
                case other => throw new IllegalArgumentException(
                  s"unsupported array element $other")
              }
            j += 1
          }
          ps.setArray(p, ps.getConnection.createArrayOf(elemName, boxed))
        }
      }
    case other => setter(other)
  }

  def setter(dt: DataType): Setter = dt match {
    case BooleanType => (ps, row, f, p) => ps.setBoolean(p, row.getBoolean(f))
    case ByteType => (ps, row, f, p) => ps.setByte(p, row.getByte(f))
    case ShortType => (ps, row, f, p) => ps.setShort(p, row.getShort(f))
    case IntegerType => (ps, row, f, p) => ps.setInt(p, row.getInt(f))
    case LongType => (ps, row, f, p) => ps.setLong(p, row.getLong(f))
    case FloatType => (ps, row, f, p) => ps.setFloat(p, row.getFloat(f))
    case DoubleType => (ps, row, f, p) => ps.setDouble(p, row.getDouble(f))
    case d: DecimalType =>
      (ps, row, f, p) => ps.setBigDecimal(p, row.getDecimal(f, d.precision, d.scale).toJavaBigDecimal)
    case StringType => (ps, row, f, p) => ps.setString(p, row.getUTF8String(f).toString)
    // nested types bind as their JSON text rendering (reference
    // statement.rs:82-104 nested→JSON for SQLite/MySQL)
    case t @ (_: ArrayType | _: MapType | _: StructType) =>
      (ps, row, f, p) => ps.setString(p, toJson(t, row.get(f, t)))
    case BinaryType => (ps, row, f, p) => ps.setBytes(p, row.getBinary(f))
    case DateType =>
      (ps, row, f, p) => ps.setDate(p, DateTimeUtils.toJavaDate(row.getInt(f)))
    case TimestampType | TimestampNTZType =>
      (ps, row, f, p) => ps.setTimestamp(p, DateTimeUtils.toJavaTimestamp(row.getLong(f)))
    case _: DayTimeIntervalType =>
      (ps, row, f, p) => ps.setLong(p, row.getLong(f)) // micros
    case other => throw new IllegalArgumentException(s"unsupported write type $other")
  }

  /** Catalyst value → compact JSON text, for nested types stored as
    * TEXT columns (the reference's SQLite/MySQL compromise,
    * `statement.rs:82-104`: lists/structs render to JSON strings).
    * Deterministic: no whitespace, struct fields in schema order,
    * map keys in map order, binary as base64.
    */
  def toJson(dt: DataType, v: Any): String = {
    if (v == null) return "null"
    dt match {
      case StringType => jsonString(v.asInstanceOf[UTF8String].toString)
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           BooleanType => v.toString
      case _: DayTimeIntervalType => v.toString // micros
      case d: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.toPlainString
      case DateType =>
        jsonString(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
      case TimestampType | TimestampNTZType =>
        jsonString(DateTimeUtils.microsToInstant(v.asInstanceOf[Long]).toString)
      case BinaryType =>
        jsonString(java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
      case ArrayType(et, _) =>
        val ad = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until ad.numElements()).map { i =>
          if (ad.isNullAt(i)) "null" else toJson(et, ad.get(i, et))
        }.mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        val md = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = md.keyArray()
        val vs = md.valueArray()
        (0 until md.numElements()).map { i =>
          val key = kt match {
            case StringType => jsonString(ks.get(i, kt).asInstanceOf[UTF8String].toString)
            case _ => jsonString(String.valueOf(ks.get(i, kt)))
          }
          val value = if (vs.isNullAt(i)) "null" else toJson(vt, vs.get(i, vt))
          s"$key:$value"
        }.mkString("{", ",", "}")
      case st: StructType =>
        val row = v.asInstanceOf[InternalRow]
        st.fields.zipWithIndex.map { case (f, i) =>
          val value = if (row.isNullAt(i)) "null" else toJson(f.dataType, row.get(i, f.dataType))
          s"${jsonString(f.name)}:$value"
        }.mkString("{", ",", "}")
      case other => jsonString(String.valueOf(v))
    }
  }

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def jdbcType(dt: DataType): Int = jdbcType(dt, DerbyDialect)

  /** Dialect-aware: native-array engines bind null arrays as ARRAY. */
  def jdbcType(dt: DataType, dialect: Dialect): Int = dt match {
    case _: ArrayType if dialect.supportsNativeArrays => Types.ARRAY
    case _: ArrayType | _: MapType | _: StructType => Types.VARCHAR
    case BooleanType => Types.BOOLEAN
    case ByteType | ShortType => Types.SMALLINT
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case FloatType => Types.REAL
    case DoubleType => Types.DOUBLE
    case _: DecimalType => Types.DECIMAL
    case StringType => Types.VARCHAR
    case BinaryType => Types.BLOB
    case DateType => Types.DATE
    case TimestampType | TimestampNTZType => Types.TIMESTAMP
    case _: DayTimeIntervalType => Types.BIGINT
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }
}

package graft.sources.jdbc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._

import java.lang.reflect.{InvocationTargetException, Method}
import java.sql.Connection

/** DuckDB bulk-load writer: appends one task's rows into the write's
  * stage table through the driver's `DuckDBAppender`, each row tagged
  * with the Spark task id in [[JdbcWrite.TaskColumn]].
  *
  * The reference bulk-loads its DuckDB sink with the Appender
  * (`crates/duckdb/src/write.rs:388-712`); JDBC prepared batches run
  * row at a time inside the driver. Two probed facts of the v1.0
  * Appender shape the design: it ignores the connection's transaction
  * (rows appended after `setAutoCommit(false)` survive `rollback()`),
  * and it cannot target TEMP tables. So rows land in a real stage table
  * and become visible only when [[JdbcBatchWrite.commit]] moves the
  * COMMITTED tasks' rows into the target in one transaction — a failed
  * or retried attempt's flushed rows carry a task id no commit names.
  *
  * The driver is reached through `Connection.unwrap` (the pool proxy
  * passes it through) and called reflectively ([[DuckDbAppender]]), so
  * the build compiles without the optional DuckDB jar. Values convert
  * exactly as the prepared-statement setters ([[TypeMapping.setter]])
  * would bind them; DATE, BLOB and nested values, which the v1.0
  * Appender has no method for, and decimals are appended as text that
  * DuckDB casts.
  */
final class DuckDbAppendWriter(options: JdbcOptions, schema: StructType, conn: Connection,
    ns: String, table: String, taskId: Long)
  extends DataWriter[InternalRow] {

  private val appender = DuckDbAppender.open(conn, ns, table)
  private val appends = schema.fields.map(f => appender.appendOf(f.dataType))
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    appender.beginRow()
    var i = 0
    while (i < appends.length) {
      if (row.isNullAt(i)) appender.appendNull() else appends(i)(row, i)
      i += 1
    }
    appender.appendLong(taskId)
    appender.endRow()
    total += 1
    if (total % options.batchSize == 0) appender.flush()
  }

  override def commit(): WriterCommitMessage = {
    appender.close()
    JdbcCommit(total, Some(taskId))
  }

  /** Flushed rows stay in the stage under this attempt's task id, which
    * no job commit names; the job's commit or abort drops the stage. */
  override def abort(): Unit = ()

  override def close(): Unit =
    try appender.close()
    catch { case _: java.sql.SQLException => () } // abort path: rows are discarded anyway
    finally conn.close()
}

/** Reflective handle on one `org.duckdb.DuckDBAppender`. */
private[jdbc] final class DuckDbAppender private (target: AnyRef) {
  import DuckDbAppender.{call, methods => m}

  private var closed = false

  def beginRow(): Unit = call(m.beginRow, target)
  def endRow(): Unit = call(m.endRow, target)
  def flush(): Unit = call(m.flush, target)
  def appendNull(): Unit = call(m.string, target, null: String)
  def appendLong(v: Long): Unit = call(m.long, target, java.lang.Long.valueOf(v))
  def close(): Unit = if (!closed) { closed = true; call(m.close, target) }

  private def text(v: String): Unit = call(m.string, target, v)

  /** One non-null column append, converted like [[TypeMapping.setter]]. */
  def appendOf(dt: DataType): (InternalRow, Int) => Unit = dt match {
    case BooleanType => (r, i) => call(m.boolean, target, java.lang.Boolean.valueOf(r.getBoolean(i)))
    case ByteType => (r, i) => call(m.short, target, java.lang.Short.valueOf(r.getByte(i).toShort))
    case ShortType => (r, i) => call(m.short, target, java.lang.Short.valueOf(r.getShort(i)))
    case IntegerType => (r, i) => call(m.int, target, java.lang.Integer.valueOf(r.getInt(i)))
    case LongType | _: DayTimeIntervalType => (r, i) => appendLong(r.getLong(i)) // intervals: micros
    case FloatType => (r, i) => call(m.float, target, java.lang.Float.valueOf(r.getFloat(i)))
    case DoubleType => (r, i) => call(m.double, target, java.lang.Double.valueOf(r.getDouble(i)))
    // the exact plain text of the bound BigDecimal, which DuckDB casts to
    // the same value: appendBigDecimal calls back into the BigDecimal
    // from native code and measured ~4x slower per value than this
    case d: DecimalType => (r, i) =>
      text(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
    case StringType => (r, i) => text(r.getUTF8String(i).toString)
    case TimestampType | TimestampNTZType => (r, i) =>
      call(m.timestamp, target, DateTimeUtils.toJavaTimestamp(r.getLong(i)).toLocalDateTime)
    // the prepared path binds a java.sql.Date the driver reads through
    // toLocalDate; its ISO text casts to the same day
    case DateType => (r, i) => text(DateTimeUtils.toJavaDate(r.getInt(i)).toLocalDate.toString)
    case BinaryType => (r, i) => text(DuckDbAppender.blobText(r.getBinary(i)))
    // nested values: the JSON text the prepared path binds; native LIST
    // columns are staged as that text and cast in the move
    // ([[Dialect.insertValueSql]])
    case t @ (_: ArrayType | _: MapType | _: StructType) => (r, i) =>
      text(TypeMapping.toJson(t, r.get(i, t)))
    case other => throw new IllegalArgumentException(s"unsupported write type $other")
  }
}

private[jdbc] object DuckDbAppender {

  /** The driver's methods, resolved once per JVM on first use. */
  private final class Methods {
    private val connClass = Class.forName("org.duckdb.DuckDBConnection")
    private val cls = Class.forName("org.duckdb.DuckDBAppender")
    val unwrapTarget: Class[_] = connClass
    val create: Method = connClass.getMethod("createAppender", classOf[String], classOf[String])
    val beginRow: Method = cls.getMethod("beginRow")
    val endRow: Method = cls.getMethod("endRow")
    val flush: Method = cls.getMethod("flush")
    val close: Method = cls.getMethod("close")
    private def append(t: Class[_]): Method = cls.getMethod("append", t)
    val boolean: Method = append(java.lang.Boolean.TYPE)
    val short: Method = append(java.lang.Short.TYPE)
    val int: Method = append(java.lang.Integer.TYPE)
    val long: Method = append(java.lang.Long.TYPE)
    val float: Method = append(java.lang.Float.TYPE)
    val double: Method = append(java.lang.Double.TYPE)
    val string: Method = append(classOf[String])
    val timestamp: Method = cls.getMethod("appendLocalDateTime", classOf[java.time.LocalDateTime])
  }

  private lazy val methods = new Methods

  private def call(m: Method, target: AnyRef): Unit =
    try m.invoke(target)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def call(m: Method, target: AnyRef, arg: AnyRef): Unit =
    try m.invoke(target, arg)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** An Appender on table `t` of schema `ns`. */
  def open(conn: Connection, ns: String, t: String): DuckDbAppender = {
    val duck = conn.unwrap(methods.unwrapTarget).asInstanceOf[AnyRef]
    val app =
      try methods.create.invoke(duck, ns, t)
      catch { case e: InvocationTargetException => throw e.getCause }
    new DuckDbAppender(app)
  }

  private val Hex = "0123456789ABCDEF".toCharArray

  /** `\xHH` per byte: the escape text DuckDB's VARCHAR→BLOB cast reads
    * back to exactly these bytes. */
  private[jdbc] def blobText(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 4)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(4 * i) = '\\'; out(4 * i + 1) = 'x'
      out(4 * i + 2) = Hex(v >> 4); out(4 * i + 3) = Hex(v & 0xf)
      i += 1
    }
    new String(out)
  }
}

package graft.sources.jdbc

import org.apache.spark.internal.Logging

import java.lang.reflect.Field
import java.nio.{ByteBuffer, ByteOrder}
import java.sql.ResultSet
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** The DuckDB driver's fetched chunk under one ResultSet: the column
  * vectors `rs.next()` has already fetched, read in place.
  *
  * DuckDB's JDBC getters read these same vectors, but each one first
  * runs the ResultSet's `synchronized isClosed()`, `wasNull()` takes the
  * lock again, and DECIMAL, TIMESTAMP and BLOB values come back as new
  * objects. The reference reads DuckDB as Arrow batches with no call
  * per value (`crates/duckdb/src/conn.rs:528`); [[TypeMapping.fills]]
  * reads a column from here when its stored form is the value Spark
  * needs, and through the getters otherwise.
  *
  * The vectors are direct buffers over native memory that DuckDB frees
  * at the next fetch and at close. So [[sync]] runs once per row, after
  * `rs.next()` positioned it and before any column is read, and reloads
  * every column's buffers when that `next()` fetched a new chunk (the
  * driver builds a new vector array per fetch). Nothing reads a column
  * before the row's sync, and no fill runs after the reader closes.
  *
  * The driver's private members are resolved reflectively once per JVM
  * ([[DuckDbChunk.of]]), as [[DuckDbAppender]] reaches the Appender, so
  * the build compiles without the DuckDB jar.
  */
private[jdbc] final class DuckDbChunk private (rs: AnyRef, m: DuckDbChunk.Members) {
  private var chunk: Array[AnyRef] = _
  private var row = 0
  private val columns = ArrayBuffer.empty[Column]

  /** Column `p` (1-based) of the current row; registered columns are
    * reloaded together on every new chunk. */
  def column(p: Int): Column = {
    val c = new Column(p - 1)
    columns += c
    DuckDbChunk.columnsFilled.incrementAndGet()
    c
  }

  /** The 1-based positions of the registered columns (a spec hook). */
  def positions: Seq[Int] = columns.map(_.at + 1).toSeq

  /** Positions on the row the last `rs.next()` made current. */
  def sync(): Unit = {
    val c = m.chunk.get(rs).asInstanceOf[Array[AnyRef]]
    if (c ne chunk) {
      chunk = c
      columns.foreach(col => col.load(c(col.at)))
    }
    row = m.index.getInt(rs) - 1
  }

  /** One vector's buffers: the null mask, the fixed-width values as a
    * little-endian view of `constlen_data`, and the per-value objects of
    * a variable-width vector (a `ByteBuffer` per BLOB value). */
  final class Column private[DuckDbChunk] (private[DuckDbChunk] val at: Int) {
    private var nulls: Array[Boolean] = _
    private var fixed: ByteBuffer = _
    private var varlen: Array[AnyRef] = _

    private[DuckDbChunk] def load(v: AnyRef): Unit = {
      nulls = m.nulls.get(v).asInstanceOf[Array[Boolean]]
      val data = m.fixed.get(v).asInstanceOf[ByteBuffer]
      fixed = if (data == null) null else data.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      varlen = m.varlen.get(v).asInstanceOf[Array[AnyRef]]
    }

    def isNull: Boolean = nulls(row)
    def byte: Byte = fixed.get(row)
    def short: Short = fixed.getShort(row << 1)
    def int: Int = fixed.getInt(row << 2)
    def long: Long = fixed.getLong(row << 3)
    def float: Float = fixed.getFloat(row << 2)
    def double: Double = fixed.getDouble(row << 3)
    /** A BLOB value: its bytes are `[0, capacity)`, as the driver's
      * `Blob` reads them. */
    def blob: ByteBuffer = varlen(row).asInstanceOf[ByteBuffer]
  }
}

private[jdbc] object DuckDbChunk extends Logging {

  /** The driver members the fills read, each checked for its type. */
  private final class Members {
    private def field(cls: Class[_], name: String, tpe: Class[_]): Field = {
      val f = cls.getDeclaredField(name)
      if (f.getType != tpe)
        throw new NoSuchFieldException(s"${cls.getName}.$name is a ${f.getType.getName}, not ${tpe.getName}")
      f.setAccessible(true)
      f
    }
    val resultSet: Class[_] = Class.forName("org.duckdb.DuckDBResultSet")
    private val vector = Class.forName("org.duckdb.DuckDBVector")
    val chunk: Field = field(resultSet, "current_chunk", java.lang.reflect.Array.newInstance(vector, 0).getClass)
    val index: Field = field(resultSet, "chunk_idx", java.lang.Integer.TYPE)
    val nulls: Field = field(vector, "nullmask", classOf[Array[Boolean]])
    val fixed: Field = field(vector, "constlen_data", classOf[ByteBuffer])
    val varlen: Field = field(vector, "varlen_data", classOf[Array[AnyRef]])
  }

  /** Resolved on the first DuckDB scan; a member that does not resolve
    * (another driver version) logs one WARN naming it, and every DuckDB
    * column then reads through its getter. */
  private lazy val members: Option[Members] =
    try Some(new Members)
    catch {
      case e @ (_: ReflectiveOperationException | _: RuntimeException) =>
        logWarning(s"DuckDB scans read through the JDBC getters: driver member not found " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})")
        None
    }

  /** Whether this JVM's DuckDB driver has every member the fills read. */
  private[jdbc] def resolved: Boolean = members.isDefined

  /** Columns registered for chunk fills in this JVM (a spec hook). */
  private[jdbc] val columnsFilled = new AtomicLong

  /** The chunk under `rs` when it is (or wraps) a DuckDB ResultSet and
    * the driver's members resolved. `rs.unwrap` reaches the driver's
    * own ResultSet through wrappers, whose `next()` still runs. */
  def of(rs: ResultSet): Option[DuckDbChunk] =
    members.filter(m => rs.isWrapperFor(m.resultSet))
      .map(m => new DuckDbChunk(rs.unwrap(m.resultSet).asInstanceOf[AnyRef], m))
}

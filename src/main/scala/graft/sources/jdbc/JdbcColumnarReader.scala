package graft.sources.jdbc

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

import java.nio.charset.StandardCharsets.UTF_8

/** The JDBC scan reader: fills reused `OnHeapColumnVector`s straight
  * from the ResultSet, `BatchRows` rows per `ColumnarBatch`, with one
  * typed fill per column chosen when the statement opens
  * ([[TypeMapping.fills]]). The reference streams Arrow record batches
  * out of every provider the same way
  * (`sql_provider_datafusion/mod.rs:657-684`).
  *
  * The vectors are allocated on the first row, so a reader that never
  * produces one allocates nothing; the first batch holds at most
  * `firstBatchRows`, the pushed limit, so a small result does not pay
  * for 4096-row vectors. `DocumentColumnarReader` is the in-tree
  * sibling.
  *
  * With a `catchAll` projection the statement selects the pinned
  * survivors followed by every folded remote column. Those are filled
  * like any other; after each fill, one pass renders every row's folded
  * columns, read back from their vectors, as one sorted-key JSON object
  * string into the catch-all vector (the reference's `project_row`,
  * `schema_projection.rs`). No folded columns at all → the catch-all
  * reads as SQL NULL.
  *
  * A DuckDB statement's columns read from the driver's fetched chunk
  * where [[TypeMapping.fills]] allows ([[DuckDbChunk]]); `chunkFills =
  * false` keeps every column on its getter, the reference read the
  * identity specs compare the chunk fills against.
  */
final class JdbcColumnarReader(
    schema: StructType,
    cursor: JdbcCursor,
    utf8: Set[Int] = Set.empty,
    firstBatchRows: Int = JdbcColumnarReader.BatchRows,
    catchAll: Option[(String, StructType)] = None,
    chunkFills: Boolean = true) extends PartitionReader[ColumnarBatch] {

  // output position of the catch-all, and the columns it folds
  private val foldAt = catchAll.fold(-1)(ca => schema.fieldNames.indexWhere(_.equalsIgnoreCase(ca._1)))
  private val rest = catchAll.fold(new StructType())(_._2)
  // what the statement selects
  private val physical =
    if (foldAt < 0) schema else StructType(schema.fields.patch(foldAt, Nil, 1) ++ rest.fields)

  private lazy val chunk =
    if (chunkFills && cursor.options.dialect == DuckDbDialect) DuckDbChunk.of(cursor.rs) else None
  private lazy val fills = TypeMapping.fills(physical, cursor.rs.getMetaData, utf8, chunk)
  private var vectors: Array[OnHeapColumnVector] = _
  private var folded: OnHeapColumnVector = _
  private var restBatch: ColumnarBatch = _
  private var batch: ColumnarBatch = _
  private var capacity = 0
  private var exhausted = false

  private def allocate(rows: Int): Unit = {
    release()
    capacity = rows
    vectors = OnHeapColumnVector.allocateColumns(rows, physical)
    val out: Array[ColumnVector] =
      if (foldAt < 0) vectors.map(v => v: ColumnVector)
      else {
        folded = new OnHeapColumnVector(rows, StringType)
        val pinned = physical.length - rest.length
        restBatch = new ColumnarBatch(vectors.drop(pinned).map(v => v: ColumnVector))
        vectors.take(foldAt) ++ (folded +: vectors.slice(foldAt, pinned))
      }
    batch = new ColumnarBatch(out)
  }

  override def next(): Boolean = {
    if (exhausted) return false
    val rs = cursor.rs
    if (!rs.next()) { exhausted = true; return false }
    // rows beyond a first batch sized to the pushed limit: continue at
    // the full batch size
    if (vectors == null) allocate(firstBatchRows)
    else if (capacity < JdbcColumnarReader.BatchRows) allocate(JdbcColumnarReader.BatchRows)
    else vectors.foreach(_.reset())
    val n = fills.length
    var r = 0
    var more = true
    while (more) {
      var i = 0
      while (i < n) { fills(i)(rs, i + 1, vectors(i), r); i += 1 }
      r += 1
      more = r < capacity && rs.next()
    }
    if (r < capacity) exhausted = true
    if (folded != null) fold(r)
    batch.setNumRows(r)
    true
  }

  private def fold(rows: Int): Unit = {
    folded.reset()
    restBatch.setNumRows(rows)
    var r = 0
    while (r < rows) {
      if (rest.isEmpty) folded.putNull(r)
      else {
        val b = TypeMapping.toJson(rest, restBatch.getRow(r)).getBytes(UTF_8)
        folded.putByteArray(r, b, 0, b.length)
      }
      r += 1
    }
  }

  override def get(): ColumnarBatch = batch

  /** The 1-based statement columns read from a DuckDB chunk (a spec hook). */
  private[jdbc] def chunkColumns: Seq[Int] = chunk.fold(Seq.empty[Int])(_.positions)

  private def release(): Unit =
    if (vectors != null) { vectors.foreach(_.close()); if (folded != null) folded.close() }

  override def close(): Unit = try release() finally cursor.close()
}

object JdbcColumnarReader {
  /** Rows per ColumnarBatch (the reference's 4,000-row wire chunking). */
  val BatchRows = 4096

  def firstBatchRows(limit: Option[Int]): Int =
    limit.fold(BatchRows)(n => math.max(1, math.min(n, BatchRows)))
}

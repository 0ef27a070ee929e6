package graft.sources.jdbc

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Columnar JDBC reader: fills reused `OnHeapColumnVector`s straight
  * from the ResultSet, `BatchRows` rows per `ColumnarBatch`, with one
  * typed fill per column chosen when the statement opens
  * ([[TypeMapping.fills]]). The row path instead boxes every value into
  * a `GenericInternalRow` that Spark then projects to an `UnsafeRow`.
  * The reference streams Arrow record batches out of every provider the
  * same way (`sql_provider_datafusion/mod.rs:657-684`).
  *
  * The vectors are allocated on the first row, so a reader that never
  * produces one allocates nothing; the first batch holds at most
  * `firstBatchRows`, the pushed limit, so a small result does not pay
  * for 4096-row vectors. `DocumentColumnarReader` is the in-tree
  * sibling.
  */
final class JdbcColumnarReader(
    schema: StructType,
    cursor: JdbcCursor,
    utf8: Set[Int] = Set.empty,
    firstBatchRows: Int = JdbcColumnarReader.BatchRows) extends PartitionReader[ColumnarBatch] {

  private lazy val fills = TypeMapping.fills(schema, cursor.rs.getMetaData, utf8)
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var capacity = 0
  private var exhausted = false

  private def allocate(rows: Int): Unit = {
    if (batch != null) batch.close()
    capacity = rows
    vectors = OnHeapColumnVector.allocateColumns(rows, schema)
    batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
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
    batch.setNumRows(r)
    true
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit =
    try { if (batch != null) batch.close() } finally cursor.close()
}

object JdbcColumnarReader {
  /** Rows per ColumnarBatch (the reference's 4,000-row wire chunking). */
  val BatchRows = 4096

  def firstBatchRows(limit: Option[Int]): Int =
    limit.fold(BatchRows)(n => math.max(1, math.min(n, BatchRows)))
}

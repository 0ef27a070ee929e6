package graft.sources.document

import graft.sources.jdbc.JdbcColumnarReader.BatchRows
import graft.sources.jdbc.TypeMapping
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** The document scan reader, for batch and micro-batch scans: fills
  * `OnHeapColumnVector`s straight from the parsed documents, `BatchRows`
  * docs per `ColumnarBatch` — the DSv2 columnar read path (SURVEY §4.2;
  * the reference streams Arrow RecordBatches the same way,
  * `sql_provider_datafusion/mod.rs:657-684`, and chunks its wire reads
  * at 4,000 rows, `postgres/src/conn.rs:443`, which `BatchRows`
  * mirrors).
  *
  * The vectors are allocated on the first document, so a partition that
  * yields none allocates nothing, and reused (reset per fill) after
  * that; the first batch holds at most `firstBatchRows`, the pushed
  * limit. A declared type that [[DocConverter.toCatalyst]] does not
  * read comes back NULL.
  */
final class DocumentColumnarReader(
    schema: StructType,
    options: Map[String, String],
    cursor: DocumentCursor,
    firstBatchRows: Int = BatchRows) extends PartitionReader[ColumnarBatch] {

  private val conv = new DocConverter(schema, options)
  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var capacity = 0
  private var closed = false

  private def allocate(rows: Int): Unit = {
    if (batch != null) batch.close()
    capacity = rows
    vectors = OnHeapColumnVector.allocateColumns(rows, schema)
    batch = new ColumnarBatch(vectors.map(v =>
      v: org.apache.spark.sql.vectorized.ColumnVector))
  }

  override def next(): Boolean = {
    var doc = cursor.nextDoc()
    if (doc == null) return false
    if (vectors == null) allocate(firstBatchRows)
    else if (capacity < BatchRows) allocate(BatchRows)
    else vectors.foreach(_.reset())
    var r = 0
    while (doc != null) {
      var i = 0
      while (i < schema.length) {
        put(i, r, conv.fieldValue(doc, i))
        i += 1
      }
      r += 1
      doc = if (r < capacity) cursor.nextDoc() else null
    }
    batch.setNumRows(r)
    true
  }

  private def put(i: Int, r: Int, value: Any): Unit = {
    val v = vectors(i)
    schema.fields(i).dataType match {
      case at: ArrayType => TypeMapping.append(v, at, value) // NULL included
      case _ if value == null => v.putNull(r)
      case BooleanType => v.putBoolean(r, value.asInstanceOf[Boolean])
      case IntegerType => v.putInt(r, value.asInstanceOf[Int])
      case LongType => v.putLong(r, value.asInstanceOf[Long])
      case DoubleType => v.putDouble(r, value.asInstanceOf[Double])
      case t: DecimalType =>
        v.putDecimal(r, value.asInstanceOf[Decimal], t.precision)
      case StringType =>
        val b = value.asInstanceOf[UTF8String].getBytes
        v.putByteArray(r, b, 0, b.length)
    }
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = if (!closed) {
    closed = true
    try { if (batch != null) batch.close() } finally cursor.close()
  }
}

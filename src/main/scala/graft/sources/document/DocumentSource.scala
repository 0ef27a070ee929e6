package graft.sources.document

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** Document-store connector over JSON-lines "collections" — the
  * Spark-native re-expression of the reference's MongoDB module
  * (`crates/mongodb/src/table.rs:27-118`): schema inference by sampling
  * (S6/§1.3), declared-schema merge, JSON catch-all projection, and
  * filter pushdown translated to a document-filter (P5) that executes
  * on the "server side" of the boundary (here: inside the partition
  * reader, before rows reach Spark).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.document.DocumentSource")
  *     .option("path", "/data/events_jsonl")
  *     .option("samplesize", "100")          // docs sampled for inference
  *     .option("declared", "k BIGINT")       // optional declared overrides
  *     .option("jsonobject", "rest")         // optional catch-all column
  *     .load()
  * }}}
  *
  * Scale: one input partition per file — a 100 TB collection sharded
  * into N files scans with N-way parallelism; inference reads only the
  * first `samplesize` docs of the lexicographically-first files.
  */
class DocumentSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  private def opts(m: CaseInsensitiveStringMap): Map[String, String] =
    m.asCaseSensitiveMap().asScala.map { case (k, v) => k.toLowerCase -> v }.toMap

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DocumentTable.resolveSchema(opts(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val m = properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap
    DocumentTable(schema, m)
  }
}

object DocumentTable {
  private[document] val mapper = new ObjectMapper()

  private[document] def files(path: String): Seq[Path] = {
    val p = Paths.get(path)
    val all =
      if (Files.isDirectory(p)) {
        // Files.list holds a directory handle until closed — a
        // streaming source calls this every trigger, so relying on GC
        // leaks one FD per micro-batch
        val st = Files.list(p)
        try st.iterator().asScala.toSeq
          .filter(f => Files.isRegularFile(f))
          .filterNot(f => f.getFileName.toString.startsWith("_") ||
            f.getFileName.toString.startsWith("."))
        finally st.close()
      } else Seq(p)
    all.sortBy(_.getFileName.toString)
  }

  /** Sample-infer + declared-merge + optional catch-all projection. */
  def resolveSchema(o: Map[String, String]): StructType = {
    val path = o.getOrElse("path",
      throw new IllegalArgumentException("document source needs option 'path'"))
    val sampleSize = o.getOrElse("samplesize", "100").toInt
    // read each file's contribution eagerly and CLOSE it — a lazy
    // lines() iterator abandoned by take(sampleSize) keeps its reader
    // (and FD) open until GC
    val sample = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = files(path).iterator
      while (buf.size < sampleSize && it.hasNext) {
        val r = Files.newBufferedReader(it.next(), StandardCharsets.UTF_8)
        try {
          val lines = r.lines().iterator()
          while (buf.size < sampleSize && lines.hasNext) {
            val line = lines.next()
            if (line.nonEmpty) buf += line
          }
        } finally r.close()
      }
      buf.toSeq.map(mapper.readTree)
    }
    val inferred = SchemaInference.infer(sample,
      o.getOrElse("flattendepth", "0").toInt)
    val declared = o.get("declared").map(StructType.fromDDL)
    val merged = SchemaInference.mergeDeclared(inferred, declared)
    o.get("jsonobject") match {
      case None => merged
      case Some(catchAll) =>
        // declared columns stay their own columns; everything else is
        // folded into ONE JSON string column (schema_projection.rs:1-70)
        val pinned = declared.map(_.fieldNames.toSet).getOrElse(Set.empty)
        StructType(
          merged.fields.filter(f => pinned.contains(f.name)) :+
            StructField(catchAll, StringType, nullable = true))
    }
  }
}

final case class DocumentTable(schema0: StructType, options: Map[String, String])
  extends Table with SupportsRead {

  override def name(): String = s"documents(${options.getOrElse("path", "?")})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new DocumentScanBuilder(schema0, options)
}

final class DocumentScanBuilder(tableSchema: StructType, options: Map[String, String])
  extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownV2Filters
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var schema = tableSchema
  private var pushed: Array[Predicate] = Array.empty
  private var filter: Option[FilterDoc] = None
  private var limit: Option[Int] = None
  private var sort: Seq[FilterDoc.SortKey] = Nil

  override def pruneColumns(required: StructType): Unit =
    schema = if (required.isEmpty) StructType(tableSchema.take(1)) else required

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val translated = predicates.map(p => p -> FilterDoc.translate(p))
    val ok = translated.collect { case (p, Some(d)) => (p, d) }
    pushed = ok.map(_._1)
    filter = ok.map(_._2).toSeq match {
      case Nil => None
      case Seq(one) => Some(one)
      case many => Some(FilterDoc.and(many))
    }
    translated.collect { case (p, None) => p }
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed: Boolean = true

  // The Mongo sort-document analog: each partition returns its rows in
  // pushed-sort order truncated to n, and Spark's TopK merge above
  // (isPartiallyPushed) finalizes across partitions — the reference's
  // Inexact contract.
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val keys = orders.toSeq.map { o =>
      FilterDoc.fieldOf(o.expression).map(p => FilterDoc.SortKey(
        p,
        o.direction == SortDirection.ASCENDING,
        o.nullOrdering == NullOrdering.NULLS_FIRST))
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) {
      sort = keys.map(_.get)
      limit = Some(n)
      true
    } else false
  }

  override def build(): Scan =
    DocumentScan(schema, tableSchema, options, filter, limit, sort)
}

final case class DocumentScan(
    schema: StructType,
    tableSchema: StructType,
    options: Map[String, String],
    filter: Option[FilterDoc],
    limit: Option[Int],
    sort: Seq[FilterDoc.SortKey] = Nil) extends Scan with Batch
    with SupportsReportStatistics {

  override def readSchema(): StructType = schema

  /** Optimizer statistics from file metadata — the same signal Spark's
    * own file sources report: total byte size of the collection's files
    * (no extra I/O, just the directory listing the scan needs anyway).
    * A small document collection can therefore broadcast in a join
    * against a large fact table. Row count stays unknown (counting
    * would require reading every file).
    */
  override def estimateStatistics(): Statistics = {
    val bytes =
      try DocumentTable.files(options("path")).map(f => Files.size(f)).sum
      catch { case _: Exception => -1L }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (bytes >= 0) java.util.OptionalLong.of(math.max(1L, bytes))
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"GraftDocumentScan(${options.getOrElse("path", "?")}) " +
      s"[filter=${filter.map(_.json).getOrElse("{}")} " +
      s"sort=[${sort.map(_.json).mkString(", ")}] limit=${limit.getOrElse(-1)}]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    DocumentTable.files(options("path"))
      .map(f => DocumentPartition(f.toString): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    DocumentReaderFactory(schema, options, filter, limit, sort)

  /** Streaming read of an append-only collection directory: each new
    * file is a new micro-batch partition (SURVEY §2.7's extension seam —
    * "scan → MicroBatchStream on the same DSv2 tables"; the reference
    * is batch-only, every exec `Boundedness::Bounded`). The pushed
    * filter document applies to streamed batches exactly as to batch
    * scans. Offsets are a LEXICOGRAPHIC FILE-NAME WATERMARK (the
    * greatest processed name), not an index into the re-sorted listing —
    * an index would re-emit an already-processed file whenever a new one
    * sorts before it. A batch covers names in (start, end], so a file
    * can never be read twice; producers must write monotonically
    * increasing names (standard part-file naming) — a late file sorting
    * below the watermark is ignored, never duplicated.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new DocumentMicroBatchStream(schema, options, filter)
}

/** `lastFile` = greatest processed file name; "" before any batch. */
final case class DocumentFileOffset(lastFile: String)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    DocumentTable.mapper.createObjectNode().put("lastFile", lastFile).toString
}

final class DocumentMicroBatchStream(
    schema: StructType,
    options: Map[String, String],
    filter: Option[FilterDoc])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  private def fileList: Seq[Path] = DocumentTable.files(options("path"))

  override def initialOffset(): Offset = DocumentFileOffset("")

  override def latestOffset(): Offset =
    DocumentFileOffset(fileList.lastOption.map(_.getFileName.toString).getOrElse(""))

  override def deserializeOffset(json: String): Offset =
    DocumentFileOffset(DocumentTable.mapper.readTree(json).get("lastFile").asText())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[DocumentFileOffset].lastFile
    val to = end.asInstanceOf[DocumentFileOffset].lastFile
    fileList
      .filter { f =>
        val n = f.getFileName.toString
        n > from && n <= to
      }
      .map(f => DocumentPartition(f.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DocumentReaderFactory(schema, options, filter, None, Nil)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class DocumentPartition(file: String) extends InputPartition

/** Batch and micro-batch scans both read columnar (SURVEY §4.2's
  * improvement note; reference anchor: Arrow-native RecordBatch
  * streaming end to end, `sql_provider_datafusion/mod.rs:657-684`): the
  * document source owns its format, so it fills column vectors directly
  * instead of emitting one InternalRow per doc.
  */
final case class DocumentReaderFactory(
    schema: StructType,
    options: Map[String, String],
    filter: Option[FilterDoc],
    limit: Option[Int],
    sort: Seq[FilterDoc.SortKey] = Nil) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new DocumentColumnarReader(schema, options,
      new DocumentCursor(options, filter, limit, sort,
        partition.asInstanceOf[DocumentPartition].file),
      graft.sources.jdbc.JdbcColumnarReader.firstBatchRows(limit))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("document scans read columnar batches only")
}

/** Streams one JSONL file and yields the documents that survive the
  * pushed filter/sort/limit — the "server side" of a real document
  * store's find(filter).sort(doc).limit(n).
  */
final class DocumentCursor(
    options: Map[String, String],
    filter: Option[FilterDoc],
    limit: Option[Int],
    sort: Seq[FilterDoc.SortKey],
    file: String) {

  import DocumentTable.mapper

  private val reader = java.nio.file.Files.newBufferedReader(
    java.nio.file.Paths.get(file), StandardCharsets.UTF_8)
  private var emitted = 0

  private def matches(doc: JsonNode): Boolean = filter.forall(_.matches(doc))

  // Pushed sort: this partition's matches, ordered and truncated.
  private lazy val sorted: Iterator[JsonNode] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val doc = mapper.readTree(line)
        if (matches(doc)) buf += doc
      }
      line = reader.readLine()
    }
    val ordered = buf.sorted(FilterDoc.ordering(sort))
    limit.map(n => ordered.take(n)).getOrElse(ordered).iterator
  }

  /** Next surviving document, or null when exhausted. */
  def nextDoc(): JsonNode = {
    if (sort.nonEmpty) return if (sorted.hasNext) sorted.next() else null
    if (limit.exists(emitted >= _)) return null
    var line = reader.readLine()
    while (line != null) {
      if (line.nonEmpty) {
        val doc = mapper.readTree(line)
        if (matches(doc)) {
          emitted += 1
          return doc
        }
      }
      line = reader.readLine()
    }
    null
  }

  def close(): Unit = reader.close()
}

/** Field extraction + JSON→Catalyst conversion per the resolved schema. */
final class DocConverter(schema: StructType, options: Map[String, String]) {
  import DocumentTable.mapper

  private val catchAll = options.get("jsonobject")
  private val pinned: Set[String] =
    options.get("declared").map(StructType.fromDDL(_).fieldNames.toSet).getOrElse(Set.empty)
  // flattendepth > 0 ⇒ dotted column names are paths into nested docs
  private val flatten = options.getOrElse("flattendepth", "0").toInt > 0

  private def renderCatchAll(doc: JsonNode): String = {
    // sorted-key JSON object of every field not claimed by a pinned column
    val names = doc.fieldNames().asScala.toSeq.filterNot(pinned.contains).sorted
    val obj = mapper.createObjectNode()
    names.foreach(n => obj.set[JsonNode](n, doc.get(n)))
    mapper.writeValueAsString(obj)
  }

  private def lookup(doc: JsonNode, name: String): JsonNode =
    if (!flatten) doc.get(name)
    else name.split('.').foldLeft(doc) { (n, part) =>
      if (n == null) null else n.get(part)
    }

  /** Catalyst value of field `i` of the schema for `doc` (null-safe). */
  def fieldValue(doc: JsonNode, i: Int): Any = {
    val f = schema.fields(i)
    if (catchAll.contains(f.name)) UTF8String.fromString(renderCatchAll(doc))
    else toCatalyst(lookup(doc, f.name), f.dataType)
  }

  def toCatalyst(n: JsonNode, dt: DataType): Any = {
    if (n == null || n.isNull) return null
    dt match {
      case BooleanType => n.asBoolean()
      case IntegerType => n.asInt()
      case LongType => n.asLong()
      case DoubleType => n.asDouble()
      // SchemaInference maps integers beyond int64 to DecimalType(38,0);
      // convert exactly (null only on true precision overflow, mirroring
      // Spark's own decimal overflow behavior)
      case t: DecimalType if n.isNumber =>
        try Decimal(n.decimalValue().setScale(t.scale), t.precision, t.scale)
        catch { case _: ArithmeticException => null }
      case StringType =>
        UTF8String.fromString(if (n.isTextual) n.asText() else mapper.writeValueAsString(n))
      case ArrayType(StringType, _) if n.isArray =>
        new GenericArrayData(n.elements().asScala.map { e =>
          UTF8String.fromString(if (e.isTextual) e.asText() else mapper.writeValueAsString(e))
        }.toArray[Any])
      case _ => null
    }
  }
}

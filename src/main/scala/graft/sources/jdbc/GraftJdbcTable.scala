package graft.sources.jdbc

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** One external JDBC-backed table: readable with pushdown, writable
  * (append / truncate-overwrite / upsert), deletable, truncatable.
  *
  * The DSv2 re-expression of the reference's writable `TableProvider`
  * (read provider + sink wrapper, e.g. `PostgresTableWriter`
  * `crates/postgres/src/write.rs:28-96`) plus its DML sinks
  * (`DELETE FROM … WHERE` via `DeletionSink`,
  * `crates/common/src/util/dml.rs:19-49`): `deleteWhere` unparses the
  * pushed predicates to dialect SQL exactly like `filters_to_sql`.
  */
final case class GraftJdbcTable(
    ident: String,
    schema0: StructType,
    options: JdbcOptions)
  extends Table with SupportsRead with SupportsWrite with SupportsDeleteV2 {

  override def name(): String = ident
  override def schema(): StructType = schema0

  override def capabilities(): util.Set[TableCapability] = {
    // a pincolumns-projected table is READ-ONLY: its exposed shape no
    // longer matches the remote table, so a write through it would have
    // to invert the catch-all fold — refuse at the capability level
    if (options.pinColumns.isDefined)
      return Set[TableCapability](TableCapability.BATCH_READ).asJava
    val base = Set(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // incremental readStream when a watermark column is declared
    (if (options.streamColumn.isDefined) base + TableCapability.MICRO_BATCH_READ
     else base).asJava
  }

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // Merge per-read options (fetchsize, partitioncolumn, …) over table opts.
    val merged = JdbcOptions(options.map ++
      caseInsensitiveOptions.asScala.map { case (k, v) => k.toLowerCase -> v })
    new JdbcScanBuilder(merged, schema0)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val merged = JdbcOptions(options.map ++
      info.options().asScala.map { case (k, v) => k.toLowerCase -> v })
    new JdbcWriteBuilder(merged, info.schema())
  }

  private def unparser = new Unparser(options.dialect)

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    options.pinColumns.isEmpty && // projected tables are read-only
      predicates.forall(p => unparser.expr(p).isDefined)

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val u = unparser
    val where = predicates.toSeq.map(p => u.expr(p).get)
    options.withConnection(Remote.execute(_, s"DELETE FROM ${options.table}" +
      (if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", ""))))
  }

  override def truncateTable(): Boolean = {
    deleteWhere(Array.empty)
    true
  }
}

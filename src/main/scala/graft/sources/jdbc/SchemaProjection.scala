package graft.sources.jdbc

import org.apache.spark.sql.types._

import scala.collection.concurrent.TrieMap

/** Connector-agnostic schema projection: pin some remote columns, fold
  * the rest into ONE catch-all JSON string column.
  *
  * The JDBC-side re-expression of the reference's generic
  * `SchemaProjection` (`crates/common/src/schema_projection.rs:1-70`),
  * which until now this repo carried only on the document source: a
  * user with a 400-column remote table declares `pincolumns=a,b,c` and
  * reads `a, b, c, data` where `data` is a sorted-key JSON object of
  * everything else (the reference's BTreeMap ordering). Pinned columns
  * keep their remote types and their full pushdown surface (filters,
  * TopN, aggregates); the catch-all is assembled row-by-row in the
  * reader from the remaining remote columns via [[TypeMapping.toJson]]
  * and never participates in pushdown.
  */
object SchemaProjection {

  /** The exposed (projected) schema: pinned columns in declared order
    * with their remote types — a pin the remote table lacks falls back
    * to nullable STRING, the reference's `field_for` Utf8 fallback —
    * plus the catch-all string column last.
    */
  def project(base: StructType, o: JdbcOptions): StructType = o.pinColumns match {
    case None => base
    case Some(pins) =>
      val byName = base.fields.map(f => f.name.toLowerCase -> f).toMap
      val pinned = pins.map(p =>
        byName.getOrElse(p.toLowerCase, StructField(p, StringType, nullable = true)))
      StructType(pinned :+ StructField(o.catchAllColumn, StringType, nullable = true))
  }

  /** The remote columns folded into the catch-all, ALPHABETICAL by name
    * (the reference's BTreeMap gives the catch-all object sorted, stable
    * keys — `schema_projection.rs` `catchall_keys_are_sorted`).
    */
  def restFields(base: StructType, pins: Seq[String]): StructType =
    StructType(base.fields
      .filterNot(f => pins.exists(_.equalsIgnoreCase(f.name)))
      .sortBy(_.name))

  /** A remote statement's columns: their schema and each column's
    * driver type name (lower-cased label → type name). */
  final case class Described(schema: StructType, typeNames: Map[String, String])

  private val described = TrieMap.empty[(String, String), Described]

  /** Test hook: statements cached. */
  private[jdbc] def cachedCount: Int = described.size

  /** Prepared-statement metadata of `sql` (the reference's `get_schema`,
    * `dbconnection.rs:216-239`), cached per compute context + statement;
    * `refresh` prepares it again. A statement over a federated derived
    * table (`derivedalias`) is never cached: its FROM carries the
    * query's fresh correlation names and literals, so no later query
    * asks for it again.
    */
  def describe(o: JdbcOptions, sql: String, refresh: Boolean = false): Described = {
    def load(): Described = o.withConnection(Remote.describe(_, sql) { md =>
      Described(
        TypeMapping.schemaOf(md, o.dialect, unsupportedAsString = o.readUnsupportedAsString),
        (1 to md.getColumnCount).map(i =>
          md.getColumnLabel(i).toLowerCase -> md.getColumnTypeName(i)).toMap)
    })
    val key = (o.computeContext, sql)
    if (o.map.contains("derivedalias")) load()
    else if (!refresh) described.getOrElseUpdate(key, load())
    else { val d = load(); described.put(key, d); d }
  }

  /** The UNPROJECTED remote relation behind `o.fromClause`. */
  def remote(o: JdbcOptions, refresh: Boolean = false): Described =
    describe(o, s"SELECT * FROM ${o.fromClause} WHERE 1=0", refresh)

  /** The schema a catalog table or a source read exposes, introspected
    * afresh so a remote ALTER shows on the next load: the remote
    * columns, the `customschema` overlay (column-NAME-keyed), then the
    * `pincolumns` projection.
    */
  def exposed(o: JdbcOptions): StructType = {
    val base = remote(o, refresh = true).schema
    project(o.customSchema.map(TypeMapping.applyOverrides(base, _)).getOrElse(base), o)
  }
}

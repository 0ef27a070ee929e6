package graft.sources.jdbc

import org.apache.spark.sql.types._

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

  /** The UNPROJECTED remote schema, from prepared-statement
    * introspection (cached per compute context + FROM clause).
    */
  def fullRemoteSchema(o: JdbcOptions): StructType =
    JdbcOptions.schemaCache.getOrElseUpdate(
      (o.computeContext, "full:" + o.fromClause), {
        val c = o.connect()
        try {
          val ps = c.prepareStatement(s"SELECT * FROM ${o.fromClause} WHERE 1=0")
          try TypeMapping.schemaOf(ps.getMetaData, o.dialect,
            unsupportedAsString = o.readUnsupportedAsString)
          finally ps.close()
        } finally c.close()
      })
}

package graft.sources.jdbc

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** Catalog-free entry point: `spark.read.format(...)` over any remote
  * table, parameterized table, or TABLE-FUNCTION result.
  *
  * The Spark analog of the reference's function-as-table sources (S3:
  * DuckDB `read_csv_auto(...)` exposed as a table,
  * `crates/duckdb/src/sql_table.rs:30-60,296-307`; S5: ClickHouse
  * parameterized views via `tableargs`): `dbtable` may be any
  * FROM-clause expression the remote dialect accepts —
  *
  * {{{
  *   spark.read.format("graft.sources.jdbc.GraftJdbcSource")
  *     .option("url", "jdbc:derby:/path/db")
  *     .option("dbtable", "TABLE (SYSCS_DIAG.SPACE_TABLE()) AS T")
  *     .load()
  * }}}
  *
  * Schema comes from prepared-statement introspection of the expression
  * itself (`SELECT * FROM <expr> WHERE 1=0` — the reference's
  * `get_schema`, `dbconnection.rs:216-239`), and the full pushdown
  * surface (projection / filters / TopN / aggregates) applies because
  * the result is the same [[GraftJdbcTable]] the catalog serves.
  */
class GraftJdbcSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SchemaProjection.exposed(JdbcOptions.fromJava(options.asCaseSensitiveMap()))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = JdbcOptions(properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
    GraftJdbcTable(o.table, schema, o)
  }
}

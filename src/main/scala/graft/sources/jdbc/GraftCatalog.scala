package graft.sources.jdbc

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.sql.Connection
import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Catalog plugin exposing a remote JDBC database's schemas and tables,
  * with CREATE/DROP TABLE DDL generation from Spark schemas.
  *
  * Register with:
  * {{{
  *   spark.sql.catalog.ext     = graft.sources.jdbc.GraftCatalog
  *   spark.sql.catalog.ext.url = jdbc:derby:/path/to/db;create=true
  * }}}
  * then `SELECT * FROM ext.app.mytable` just works.
  *
  * The Spark-native analog of the reference's `DatabaseCatalogProvider`
  * auto-discovery (`crates/common/src/common.rs:17-100`: list remote
  * schemas → tables → lazily build providers) and its
  * `CREATE EXTERNAL TABLE` factories (`crates/postgres/src/lib.rs:201-320`
  * — DDL from the Arrow schema inside a transaction, W9/W14). Discovery
  * goes through JDBC `DatabaseMetaData`, the wire-level equivalent of
  * the reference's information_schema queries (`dbconnection.rs:153-204`).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.internal.Logging {

  private var catalogName: String = _
  private var options: JdbcOptions = _
  private def dialect: Dialect = options.dialect

  override def initialize(name: String, opts: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    options = JdbcOptions.fromJava(opts.asCaseSensitiveMap())
    // interrupted-file-swap recovery runs before the first connection
    // (reference boots `recover_database_file_generations` before pool
    // creation, `crates/duckdb/src/lib.rs:59`)
    options.duckdbFile.foreach { f =>
      val r = FileSwap.recover(f)
      if (r.adopted.nonEmpty || r.removed.nonEmpty)
        logInfo(s"file-swap recovery for $f: adopted=${r.adopted} removed=${r.removed}")
    }
  }

  override def name(): String = catalogName

  private def withConn[A](f: Connection => A): A = {
    val c = options.connect()
    try f(c) finally c.close()
  }

  /** `ns.table` rendered as quoted dialect SQL; Derby folds unquoted
    * identifiers to upper-case, so we quote exactly what the user wrote.
    */
  private def qualified(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).map(dialect.quote).mkString(".")

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = withConn { c =>
    val rs = c.getMetaData.getSchemas
    val out = ArrayBuffer.empty[Array[String]]
    while (rs.next()) out += Array(rs.getString("TABLE_SCHEM"))
    rs.close()
    out.toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      listNamespaces().exists(_.head.equalsIgnoreCase(namespace.head))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = withConn { c =>
    val st = c.createStatement()
    try st.executeUpdate(s"CREATE SCHEMA ${dialect.quote(namespace.head)}")
    finally st.close()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    withConn { c =>
      val st = c.createStatement()
      try { st.executeUpdate(s"DROP SCHEMA ${dialect.quote(namespace.head)} RESTRICT"); true }
      finally st.close()
    }

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = withConn { c =>
    val schemaPat = if (namespace.isEmpty) null else namespace.head
    val rs = c.getMetaData.getTables(null, schemaPat, "%", Dialect.TableTypes)
    val out = ArrayBuffer.empty[Identifier]
    while (rs.next())
      out += Identifier.of(Array(rs.getString("TABLE_SCHEM")), rs.getString("TABLE_NAME"))
    rs.close()
    out.toArray
  }

  /** Existence via catalog metadata, not a probe-SELECT: a probe that
    * swallows every SQLException reads a permission error as "table
    * absent". getTables treats `_`/`%` as pattern wildcards, so the
    * returned names are compared exactly.
    */
  override def tableExists(ident: Identifier): Boolean = withConn { c =>
    val ns = if (ident.namespace().isEmpty) null else ident.namespace().head
    val rs = c.getMetaData.getTables(null, ns, ident.name(), Dialect.TableTypes)
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME") == ident.name() &&
          (ns == null || rs.getString("TABLE_SCHEM") == ns)
      found
    } finally rs.close()
  }

  /** A catalog-level `customschema` overlays every table with a
    * matching column name: declare only names that are unambiguous
    * across the namespace. */
  override def loadTable(ident: Identifier): Table = {
    val o = options.withTable(qualified(ident))
    val schema =
      try SchemaProjection.exposed(o)
      catch { case _: java.sql.SQLException => throw new NoSuchTableException(ident) }
    GraftJdbcTable(ident.toString, schema, o)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val props = properties.asScala
    // UnsupportedTypeAction (reference `crates/common/src/lib.rs:23-30`:
    // Error | Warn | Ignore | String): what to do with a column whose
    // type the dialect cannot store. `string` stores it as text (the
    // returned schema says StringType, so Spark's store-assignment cast
    // renders values); `ignore`/`warn` drop the column; `error` (the
    // default) refuses the DDL.
    val action = props.get("unsupportedtypeaction")
      .orElse(options.map.get("unsupportedtypeaction"))
      .getOrElse("error").toLowerCase
    val resolved: Seq[(org.apache.spark.sql.types.StructField, String)] =
      schema.fields.toSeq.flatMap { f =>
        if (dialect.supportsType(f.dataType)) Some(f -> dialect.typeName(f.dataType))
        else action match {
          case "string" =>
            Some(f.copy(dataType = org.apache.spark.sql.types.StringType) -> dialect.stringType)
          case "ignore" => None
          case "warn" =>
            logWarning(
              s"dropping column ${f.name} (${f.dataType}) — " +
                s"unsupported by ${dialect.name}")
            None
          case _ => throw new IllegalArgumentException(
            s"${f.name}: type ${f.dataType} unsupported by ${dialect.name} " +
              "(set unsupportedtypeaction=string|warn|ignore to override)")
        }
      }
    val cols = resolved.map { case (f, tn) =>
      s"${dialect.quote(f.name)} $tn${if (f.nullable) "" else " NOT NULL"}"
    }.mkString(", ")
    val outSchema = StructType(resolved.map(_._1))
    // primary key + index DDL from table properties (reference W9/W10).
    val pk = props.get("primarykeys").orElse(props.get("primaryKeys"))
      .map(_.split(",").map(k => dialect.quote(k.trim)).mkString(", PRIMARY KEY (", ", ", ")"))
      .getOrElse("")
    withConn { c =>
      val st = c.createStatement()
      try {
        st.executeUpdate(s"CREATE TABLE ${qualified(ident)} ($cols$pk)")
        // index spec: `cols[:unique];cols…` — the `:unique` suffix is the
        // reference IndexBuilder's unique flag (statement.rs:1104-1121)
        props.get("indexes").foreach { ix =>
          ix.split(";").filter(_.nonEmpty).zipWithIndex.foreach { case (spec, i) =>
            val (colList, unique) = spec.split(":") match {
              case Array(cs, m) if m.trim.equalsIgnoreCase("unique") => (cs, true)
              case _ => (spec, false)
            }
            val cs = colList.split(",").map(k => dialect.quote(k.trim)).mkString(", ")
            st.executeUpdate(
              s"CREATE ${if (unique) "UNIQUE " else ""}INDEX " +
                s"${dialect.quote(s"ix_${ident.name}_$i")} ON ${qualified(ident)} ($cs)")
          }
        }
      } finally st.close()
    }
    val tblOpts = options.withTable(qualified(ident)).map ++
      props.get("upsertkeys").map("upsertkeys" -> _)
    GraftJdbcTable(ident.toString, outSchema, JdbcOptions(tblOpts))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("alterTable")

  override def dropTable(ident: Identifier): Boolean =
    try {
      withConn { c =>
        val st = c.createStatement()
        try st.executeUpdate(s"DROP TABLE ${qualified(ident)}") finally st.close()
      }
      true
    } catch { case _: java.sql.SQLException => false }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    withConn { c =>
      val st = c.createStatement()
      try st.executeUpdate(dialect.renameTableSql(qualified(oldIdent), newIdent.name))
      finally st.close()
    }
}

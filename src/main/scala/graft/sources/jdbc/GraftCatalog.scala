package graft.sources.jdbc

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
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

  /** `ns.table` rendered as quoted dialect SQL; Derby folds unquoted
    * identifiers to upper-case, so we quote exactly what the user wrote.
    */
  private def qualified(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).map(dialect.quote).mkString(".")

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = options.withConnection { c =>
    Remote.rows(c.getMetaData.getSchemas)(rs => Array(rs.getString("TABLE_SCHEM"))).toArray
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
      metadata: util.Map[String, String]): Unit =
    options.withConnection(Remote.execute(_, s"CREATE SCHEMA ${dialect.quote(namespace.head)}"))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val sql = s"DROP SCHEMA ${dialect.quote(namespace.head)} RESTRICT"
    options.withConnection(Remote.execute(_, sql))
    true
  }

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val schemaPat = if (namespace.isEmpty) null else namespace.head
    options.withConnection { c =>
      Remote.rows(c.getMetaData.getTables(null, schemaPat, "%", Dialect.TableTypes))(rs =>
        Identifier.of(Array(rs.getString("TABLE_SCHEM")), rs.getString("TABLE_NAME"))).toArray
    }
  }

  /** Existence via catalog metadata, not a probe-SELECT: a probe that
    * swallows every SQLException reads a permission error as "table
    * absent". getTables treats `_`/`%` as pattern wildcards, so the
    * returned names are compared exactly.
    */
  override def tableExists(ident: Identifier): Boolean = options.withConnection { c =>
    val ns = if (ident.namespace().isEmpty) null else ident.namespace().head
    Remote.rows(c.getMetaData.getTables(null, ns, ident.name(), Dialect.TableTypes))(rs =>
      rs.getString("TABLE_NAME") == ident.name() &&
        (ns == null || rs.getString("TABLE_SCHEM") == ns)).contains(true)
  }

  /** A catalog-level `customschema` overlays every table with a
    * matching column name: declare only names that are unambiguous
    * across the namespace. A failed introspection reads as "no such
    * table" only when the catalog metadata says the table is absent; a
    * lock timeout or a lost connection surfaces as itself. */
  override def loadTable(ident: Identifier): Table = {
    val o = options.withTable(qualified(ident))
    val schema =
      try SchemaProjection.exposed(o)
      catch { case e: java.sql.SQLException =>
        if (tableExists(ident)) throw e else throw new NoSuchTableException(ident)
      }
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
      .fold(options)(a => JdbcOptions(options.map + ("unsupportedtypeaction" -> a)))
      .unsupportedTypeAction
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
    // index spec: `cols[:unique];cols…` — the `:unique` suffix is the
    // reference IndexBuilder's unique flag (statement.rs:1104-1121)
    val indexes = props.get("indexes").toSeq.flatMap(_.split(";").filter(_.nonEmpty).zipWithIndex)
      .map { case (spec, i) =>
        val (colList, unique) = spec.split(":") match {
          case Array(cs, m) if m.trim.equalsIgnoreCase("unique") => (cs, true)
          case _ => (spec, false)
        }
        val cs = colList.split(",").map(k => dialect.quote(k.trim)).mkString(", ")
        s"CREATE ${if (unique) "UNIQUE " else ""}INDEX " +
          s"${dialect.quote(s"ix_${ident.name}_$i")} ON ${qualified(ident)} ($cs)"
      }
    options.withConnection { c =>
      (s"CREATE TABLE ${qualified(ident)} ($cols$pk)" +: indexes).foreach(Remote.execute(c, _))
    }
    val tblOpts = options.withTable(qualified(ident)).map ++
      props.get("upsertkeys").map("upsertkeys" -> _)
    GraftJdbcTable(ident.toString, outSchema, JdbcOptions(tblOpts))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("alterTable")

  /** False only when the table does not exist: Spark's `DropTableExec`
    * discards the result, so a failed DROP must throw to be seen. */
  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      options.withConnection(Remote.execute(_, s"DROP TABLE ${qualified(ident)}"))
      true
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val sql = dialect.renameTableSql(qualified(oldIdent), newIdent.name)
    options.withConnection(Remote.execute(_, sql))
  }
}

package graft.sources.jdbc

import java.sql.{Connection, DriverManager}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Connection options for an external JDBC-backed table.
  *
  * Mirrors the reference's per-connector option surface
  * (`crates/postgres/src/lib.rs:201-320` parses connection params,
  * on_conflict mode and index specs from the CREATE EXTERNAL TABLE
  * OPTIONS map); here the same map arrives through DSv2 table properties
  * / `spark.sql.catalog.<name>.*` settings.
  *
  * `computeContext` is the federation key: two tables may only be
  * collapsed into one remote query when their canonical contexts are
  * equal — the reference's `JoinPushDown::AllowedFor(context)`
  * (`crates/common/src/sql/db_connection_pool/mod.rs:49-57`).
  */
final case class JdbcOptions(map: Map[String, String]) extends Serializable {
  private def req(k: String): String = map.getOrElse(k,
    throw new IllegalArgumentException(s"missing option '$k'"))

  /** A bounded integer option, checked here so a bad value fails on the
    * driver when the options are parsed, not later inside a task. */
  private def intAtLeast(k: String, default: Int, min: Int): Int = {
    val v = map.get(k).map(_.toInt).getOrElse(default)
    if (v < min)
      throw new IllegalArgumentException(s"$k must be >= $min, got $v")
    v
  }

  /** A true/false option (default false), checked when the options are
    * parsed for the same reason. */
  private def bool(k: String): Boolean = map.get(k).exists { v =>
    v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(s"$k must be true or false, got '$v'"))
  }

  /** An option that takes one of `values`, case-insensitively, the
    * first by default; checked when the options are parsed. */
  private def oneOf(k: String, values: String*): String = {
    val v = map.get(k).fold(values.head)(_.toLowerCase)
    if (!values.contains(v))
      throw new IllegalArgumentException(s"$k must be ${values.mkString(" | ")}, got '$v'")
    v
  }

  val url: String = req("url")
  val table: String = map.getOrElse("dbtable", map.getOrElse("table", ""))
  val dialect: Dialect =
    map.get("dialect").map(Dialect.forName).getOrElse(Dialect.forUrl(url))

  /** Rows per fetch from the remote cursor (reference streams 4000-row
    * chunks, `crates/postgres/src/conn.rs:443`). */
  val fetchSize: Int = intAtLeast("fetchsize", 4000, 0)
  /** Rows per INSERT batch on the write path (rows per Appender flush
    * on DuckDB's staged writes). */
  val batchSize: Int = intAtLeast("batchsize", 1000, 1)

  /** Range-partitioned parallel scan (our scale improvement over the
    * reference's always-1-partition SQL scans, `mod.rs:313`). */
  val partitionColumn: Option[String] = map.get("partitioncolumn")
  val lowerBound: Option[Long] = map.get("lowerbound").map(_.toLong)
  val upperBound: Option[Long] = map.get("upperbound").map(_.toLong)
  val numPartitions: Int = intAtLeast("numpartitions", 1, 1)
  // a partial set would silently read one partition, and a one-partition
  // scan still refuses aggregate pushdown and keeps TopN partial
  if (numPartitions > 1) {
    val missing = Seq("partitioncolumn", "lowerbound", "upperbound").filterNot(map.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"numpartitions=$numPartitions requires ${missing.mkString(", ")}")
  }
  for (lo <- lowerBound; hi <- upperBound if lo > hi)
    throw new IllegalArgumentException(s"lowerbound $lo must be <= upperbound $hi")

  /** Incremental streaming: the monotonically increasing numeric column
    * whose max value is the micro-batch watermark ([[JdbcMicroBatchStream]]).
    * Setting it makes the table MICRO_BATCH_READ-capable.
    */
  val streamColumn: Option[String] = map.get("streamcolumn")

  /** Approximate max rows per streaming micro-batch (admission control);
    * unset = drain everything available each trigger.
    */
  val streamRate: Option[Int] = {
    val v = map.get("streamrate").map(_.toInt)
    if (v.exists(_ <= 0))
      throw new IllegalArgumentException(s"streamrate must be positive, got ${v.get}")
    if (v.isDefined && streamColumn.isEmpty)
      throw new IllegalArgumentException("streamrate requires streamcolumn")
    v
  }

  /** Watermark lag in stream-column units: the delivered offset stays
    * this far behind the observed max, tolerating commit-order skew on
    * tied values (timestamp columns). 0 (default) for strictly
    * monotonic keys.
    */
  val streamLag: Long = {
    val v = map.get("streamlag").map(_.toLong).getOrElse(0L)
    if (v < 0)
      throw new IllegalArgumentException(s"streamlag must be >= 0, got $v")
    if (v > 0 && streamColumn.isEmpty)
      throw new IllegalArgumentException("streamlag requires streamcolumn")
    v
  }

  /** Conflict handling for appends — the reference's full OnConflict
    * surface (`on_conflict.rs:21-26,113-140`). Accepted `upsertmode`
    * values: `update` | `do_nothing` (conflict target from
    * `upsertkeys`), the reference's token syntax `upsert:c1,c2` /
    * `do_nothing:c1,c2` (the colon list IS the conflict target), and
    * `do_nothing_all` (no target: any constraint violation skips the
    * row). Parsed into (base mode, target columns).
    */
  private val upsertParsed: (String, Seq[String]) = {
    val m = map.getOrElse("upsertmode", "update")
    def cols(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    m.split(":", 2) match {
      case Array(b @ ("update" | "do_nothing" | "do_nothing_all")) => (b, Nil)
      case Array("upsert" | "update", c) if cols(c).nonEmpty => ("update", cols(c))
      case Array("do_nothing", c) if cols(c).nonEmpty => ("do_nothing", cols(c))
      case _ => throw new IllegalArgumentException(
        "upsertmode must be update | do_nothing | do_nothing_all | " +
          s"upsert:cols | do_nothing:cols, got '$m'")
    }
  }

  val upsertMode: String = upsertParsed._1

  /** Upsert key columns (reference `on_conflict.rs:22-105`): when set,
    * appends become upserts keyed on these columns. Either the explicit
    * `upsertkeys` option or the `upsertmode` colon list; both only when
    * they agree.
    */
  val upsertKeys: Seq[String] = {
    val explicit =
      map.get("upsertkeys").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val fromMode = upsertParsed._2
    if (explicit.nonEmpty && fromMode.nonEmpty &&
      explicit.map(_.toLowerCase) != fromMode.map(_.toLowerCase))
      throw new IllegalArgumentException(
        s"upsertkeys $explicit contradicts upsertmode target $fromMode")
    if (upsertMode == "do_nothing_all" && explicit.nonEmpty)
      throw new IllegalArgumentException(
        "do_nothing_all takes no conflict target; drop upsertkeys or use do_nothing:cols")
    if (fromMode.nonEmpty) fromMode else explicit
  }

  /** Appends run through the conflict-aware writer at all: keyed modes
    * need a target; `do_nothing_all` is active with none. */
  val upsertActive: Boolean = upsertKeys.nonEmpty || upsertMode == "do_nothing_all"

  /** The database FILE behind an in-process file-backed url, when there
    * is one (`jdbc:duckdb:/path/db.duckdb`); None = in-memory or a
    * served engine.
    */
  val duckdbFile: Option[String] =
    if (url.startsWith("jdbc:duckdb:"))
      Some(url.stripPrefix("jdbc:duckdb:").split(';').head)
        // ":memory:" (and any ":named:" form) is NOT a file: fileswap
        // against it would stage into a named in-memory database and
        // fail only at the rename, after all data was written
        .filter(p => p.nonEmpty && !p.startsWith(":"))
    else None

  /** Overwrite strategy (W4/W5). `staged` (default): rows are replaced
    * inside the live store via the atomic staged-table swap. `fileswap`
    * (file-backed DuckDB only): the refresh is staged into a FRESH
    * database file that is atomically renamed over the live one —
    * reclaiming the space of every prior refresh, which the in-place
    * form cannot (reference `crates/duckdb/src/write_settings.rs:12-36`,
    * `file_swap.rs`). Validated eagerly on the driver.
    */
  val overwriteMode: String = {
    val v = oneOf("overwritemode", "staged", "fileswap")
    if (v == "fileswap" && (dialect != DuckDbDialect || duckdbFile.isEmpty))
      throw new IllegalArgumentException(
        "overwritemode=fileswap needs a file-backed DuckDB url " +
          s"(jdbc:duckdb:/path/db.duckdb); got '$url'")
    v
  }

  /** Max pooled physical connections per executor JVM for this identity
    * (reference sizes its bb8/r2d2 pools the same way,
    * `db_connection_pool/mod.rs:59-64`). */
  val poolMax: Int = intAtLeast("poolmax", 8, 1)

  /** Planning-time statistics for the Spark optimizer: "none" (default)
    * leaves the relation unknown-size (Spark assumes huge and never
    * broadcasts it); "count" issues ONE remote `SELECT COUNT(*)` —
    * with the pushed predicates applied — per planned scan, so a small
    * remote table (a dimension in a cross-source join) gets
    * broadcast like a local one. The reference has no analog (DataFusion
    * receives no row counts from its providers); this is a Spark-first
    * planner integration like the range-partitioned scan.
    */
  val remoteStats: String = oneOf("remotestats", "none", "count")

  /** UnsupportedTypeAction (reference `crates/common/src/lib.rs:23-30`):
    * `error` (default) | `string` | `warn` | `ignore`, validated eagerly.
    * On reads, `string` reads a column whose type Spark cannot hold
    * exactly (e.g. pg numeric wider than 38 — Decimal256) as its exact
    * text form instead of refusing the scan; catalog CREATE TABLE
    * applies all four ([[GraftCatalog.createTable]]).
    */
  val unsupportedTypeAction: String =
    oneOf("unsupportedtypeaction", "error", "string", "warn", "ignore")
  val readUnsupportedAsString: Boolean = unsupportedTypeAction == "string"

  /** Declared column types overlaying schema introspection (DDL
    * string, e.g. `addr STRUCT<street: STRING, zip: INT>`): the
    * declared-schema escape hatch for database-specific types JDBC
    * metadata cannot describe — pg composites parse into the declared
    * struct shape (reference `composite.rs` reads composites into
    * typed Arrow structs the same way). Validated eagerly.
    */
  val customSchema: Option[org.apache.spark.sql.types.StructType] =
    map.get("customschema").map(org.apache.spark.sql.types.StructType.fromDDL)

  /** Schema projection (reference `crates/common/src/schema_projection
    * .rs:1-70`): `pincolumns=a,b,c` keeps the named remote columns as
    * their own typed columns and collapses EVERY other remote column
    * into one catch-all JSON string column ([[catchAllColumn]]) — the
    * wide-table escape hatch: a 400-column remote table reads as
    * `a, b, c, data` without declaring 400 fields. Validated eagerly:
    * duplicates and a pin named like the catch-all fail at option-parse
    * time on the driver.
    */
  val pinColumns: Option[Seq[String]] = map.get("pincolumns").map { spec =>
    val pins = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (pins.isEmpty)
      throw new IllegalArgumentException("pincolumns: at least one column required")
    val dups = pins.groupBy(_.toLowerCase).collect { case (k, vs) if vs.sizeIs > 1 => k }
    if (dups.nonEmpty)
      throw new IllegalArgumentException(
        s"pincolumns: duplicate column(s): ${dups.mkString(", ")}")
    pins
  }

  /** The catch-all column's exposed name (only meaningful with
    * `pincolumns`); reference `JSON_OBJECT_MARKER` column. */
  val catchAllColumn: String = {
    val n = map.getOrElse("catchallcolumn", "data")
    if (pinColumns.exists(_.exists(_.equalsIgnoreCase(n))))
      throw new IllegalArgumentException(
        s"catchallcolumn '$n' collides with a pinned column")
    n
  }

  /** Parameterized table arguments (reference: ClickHouse
    * parameterized views, `crates/common/src/util/table_arg_replace.rs:10-80`
    * rewrites `FROM t` → `FROM t(p1 = v1, …)`). When set, every
    * generated scan renders the argument list after the table name.
    */
  val tableArgs: Option[String] = map.get("tableargs")

  /** The FROM-clause rendering of this table for generated SCAN SQL:
    * plain name, `name(args)` for parameterized tables, or any
    * table-valued expression the dialect accepts (reference S3: DuckDB
    * `read_csv(...)` CTE tables, `crates/duckdb/src/sql_table.rs:30-60`).
    * Writes/DML always target the bare `table`.
    */
  def fromClause: String = tableArgs.map(a => s"$table($a)").getOrElse(table)

  /** Validated per-connection `SET` statements + raw `sessioninit`
    * tail ([[SessionSettings]], the reference's DuckDB settings
    * registry analog). Computed eagerly: a bad value fails HERE, on
    * the driver at option-parse time, not as N executor task failures.
    */
  val sessionSettings: Seq[String] = SessionSettings.statements(map)

  /** Sibling database files attached to every physical connection
    * (reference: DuckDB multi-database ATTACH,
    * `crates/duckdb/src/conn.rs:102-230`). `attach=path1,path2` gets
    * generated names `graft_att0…`; `attach=sales=/a.db,ref=/b.db`
    * names them — either way tables resolve unqualified (search path /
    * attach order) or qualified as `name.table`.
    */
  val attach: Seq[(String, String)] = {
    // `name=path` only when the prefix is a plain identifier — a bare
    // path containing '=' (e.g. /data/a=b.db) stays positional; a named
    // entry with an empty path is a configuration error, caught HERE
    // (driver, option-parse time), not as a confusing connect failure
    val Named = "^([A-Za-z_][A-Za-z0-9_]*)=(.*)$".r
    map.get("attach").map { spec =>
      spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.zipWithIndex.map {
        case (Named(n, p), _) =>
          if (p.isEmpty) throw new IllegalArgumentException(
            s"attach: empty path for attachment '$n'")
          (n, p)
        case (e, i) => (s"graft_att$i", e)
      }
    }.getOrElse(Nil)
  }

  /** The main database's name for search-path purposes: DuckDB names a
    * file-backed catalog by the basename truncated at its FIRST dot
    * (probed live: `a.sf0.01.duckdb` → catalog `a`), else `memory`.
    */
  private def mainDbName: String = {
    val path = url.substring(url.lastIndexOf(':') + 1)
    val base = path.substring(path.lastIndexOf('/') + 1).split('?').head
    val stem = base.split('.').head
    if (stem.isEmpty) "memory" else stem
  }

  /** Attach statements rendered by the dialect — validated eagerly so
    * `attach=` on a dialect without file-attach fails at option-parse
    * time on the driver. */
  val attachInit: Seq[String] = dialect.attachStatements(mainDbName, attach)

  /** Everything a fresh physical connection runs before first use:
    * file attachments first (they define name resolution), then the
    * validated session settings. */
  def connectionInit: Seq[String] = attachInit ++ sessionSettings

  /** Canonical identity of the remote compute context. Two tables may
    * only federate into one remote statement when these are EQUAL —
    * and an attach set changes what a name resolves to, so it is part
    * of the identity (same url, different attachments ≠ same context).
    * The list is NOT sorted: unqualified-name resolution is
    * attach-ORDER dependent (DuckDB search_path, SQLite attach order),
    * so the same files in a different order are a different context.
    */
  def computeContext: String =
    if (attach.isEmpty) url
    else url + "#attach=" + attach.map { case (n, p) => s"$n=$p" }.mkString(",")

  def withTable(t: String): JdbcOptions = JdbcOptions(map + ("dbtable" -> t))

  /** Opt-in connect-time validation ([[Preflight]] — the reference's
    * `ns_lookup.rs` analog): URL-shape check, file-path existence for
    * embedded engines, DNS + bounded TCP probe for servers. */
  val preflight: Boolean = bool("preflight")

  /** Refresh the remote table's statistics after a committed write. */
  val analyzeAfterWrite: Boolean = bool("analyzeafterwrite")

  /** A pooled connection for this identity; `close()` returns it to the
    * per-JVM pool ([[ConnectionPool]]) instead of tearing it down.
    */
  def connect(): Connection = {
    if (preflight) Preflight.ensure(this)
    ConnectionPool.acquire(this)
  }

  /** `f` on a pooled connection, returned to the pool on every path. */
  def withConnection[A](f: Connection => A): A = {
    val c = connect()
    try f(c) finally c.close()
  }

  /** Credentials never echo into plans, logs, or error messages (the
    * reference wraps every secret option, `util/secrets.rs`). */
  override def toString: String =
    s"JdbcOptions(${map.map { case (k, v) =>
      if (JdbcOptions.SecretKeys(k)) s"$k -> *****" else s"$k -> $v"
    }.mkString(", ")})"
}

object JdbcOptions {
  def fromJava(m: java.util.Map[String, String]): JdbcOptions =
    JdbcOptions(m.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)

  /** Open a PHYSICAL connection (pool-internal; everything else should
    * go through [[JdbcOptions.connect]] and get a pooled one). Derby's
    * embedded driver needs no registration on JDK 17 (auto-loaded via
    * the service registry). Establishment is retried on transient
    * failures (connection loss / resource limits) — cheaper than a full
    * Spark task retry re-streaming the partition.
    */
  private[jdbc] def physicalConnect(url: String, opts: Map[String, String]): Connection =
    RetriableErrors.withRetries(3) {
      val props = new Properties()
      opts.get("user").foreach(props.setProperty("user", _))
      resolvePassword(opts).foreach(props.setProperty("password", _))
      DriverManager.getConnection(url, props)
    }

  private[jdbc] val SecretKeys = Set("password")

  /** Dynamic credential resolution (the reference's `PasswordProvider`,
    * `db_connection_pool/mod.rs:21-48`): a static `password`, else
    * `passwordfile` (re-read at every physical connect, so rotation
    * takes effect without restarting executors), else `passwordenv`.
    */
  private[jdbc] def resolvePassword(opts: Map[String, String]): Option[String] =
    opts.get("password")
      .orElse(opts.get("passwordfile").map(f =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)),
          java.nio.charset.StandardCharsets.UTF_8).trim))
      .orElse(opts.get("passwordenv").flatMap(sys.env.get))
}

package graft.sources.jdbc

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{ArrayType, StructType}

import java.sql.Connection

/** DSv2 write path for external JDBC tables: append, ATOMIC staged
  * overwrite, and keyed upsert.
  *
  * Re-expresses the reference's `DataSink` trio (`PostgresDataSink`
  * `crates/postgres/src/write.rs:106-218`, `SqliteDataSink`,
  * `DuckDBDataSink`) in Spark's distributed commit model: the reference
  * streams all batches through ONE transaction on one thread; Spark runs
  * one `DataWriter` per partition, each with its own transaction, and the
  * driver's `BatchWrite.commit` finalizes.
  *
  * Overwrite is ATOMIC via a staged table (the reference's
  * `__data_<ts>` + view-swap pattern, `crates/duckdb/src/creator.rs:220-520`):
  * partition writers fill `<table>__stage`, and only `commit()` runs the
  * DELETE + INSERT-SELECT + DROP swap inside one remote transaction — a
  * task failure mid-job leaves the target completely untouched (the
  * round-2 driver-side pre-truncate lost data on mid-job failure).
  *
  * Each write is planned once, on the driver ([[JdbcBatchWrite]]):
  * where task rows land, the statement a task prepares ([[TaskWrite]])
  * and the conflict target, which is read and checked against the
  * written columns before any task starts (reference
  * `constraints.rs:28-95`). The writers only bind, flush and commit.
  * A keyed upsert REQUIRES a hash-clustered distribution on its keys,
  * so one key lands in exactly one partition transaction, and Derby's
  * writer, which sees its rows sorted by key, rejects a repeated key.
  * DuckDB's staged upserts need no shuffle: the move checks uniqueness
  * across the whole stage. Every stage is a plain append, so an overwrite
  * ignores the upsert options.
  *
  * Scale: rows bind into JDBC `PreparedStatement` batches of
  * `batchSize` (prepared-path throughput is the one performance result
  * the reference publishes — `benches/sqlite_insert_benchmark.rs`), and
  * N partitions write concurrently, which the reference cannot do.
  *
  * DuckDB writes of every kind (append, upsert, staged overwrite,
  * fileswap build) bulk-load through the driver's Appender instead
  * ([[DuckDbAppendWriter]]) into one task-tagged stage per job, and the
  * job commit moves the committed tasks' rows in one transaction — so
  * DuckDB appends and upserts are atomic across partitions, while the
  * other dialects' appends and upserts commit per partition.
  */
final class JdbcWriteBuilder(options: JdbcOptions, schema: StructType)
  extends WriteBuilder with SupportsOverwriteV2 {

  // None = plain append; Some(Nil) = replace everything (truncate);
  // Some(conds) = replace only rows matching the conjunction.
  private var overwriteWhere: Option[Seq[String]] = None
  private def unparser = new Unparser(options.dialect)

  override def canOverwrite(predicates: Array[Predicate]): Boolean =
    predicates.forall(p => unparser.expr(p).isDefined)

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    val rendered = predicates.toSeq.map(p => unparser.expr(p).getOrElse(
      throw new UnsupportedOperationException(
        s"overwrite predicate not unparsable for ${options.dialect.name}: $p")))
    // ALWAYS_TRUE renders "(1 = 1)"; normalize to the truncate form
    overwriteWhere = Some(rendered.filterNot(_ == "(1 = 1)"))
    this
  }

  override def build(): Write = new JdbcWrite(options, schema, overwriteWhere)
}

object JdbcWrite {
  /** Stage column holding the Spark task id that appended each row. */
  private[jdbc] val TaskColumn = "__task"

  /** `INSERT INTO table (cols) VALUES (..)`, one bind per column. */
  private[jdbc] def insertSql(d: Dialect, table: String, schema: StructType): String =
    s"INSERT INTO $table (${schema.fields.map(f => d.quote(f.name)).mkString(", ")}) " +
      s"VALUES (${schema.fields.map(f => d.insertPlaceholder(f.dataType)).mkString(", ")})"
}

/** The Write hands Spark its [[JdbcBatchWrite]]'s distribution rules. */
final class JdbcWrite(options: JdbcOptions, schema: StructType,
    overwrite: Option[Seq[String]])
  extends Write with RequiresDistributionAndOrdering {

  private val batch = JdbcBatchWrite(options, schema, overwrite)

  override def requiredDistribution(): Distribution = batch.distribution
  override def requiredNumPartitions(): Int = batch.numPartitions
  override def requiredOrdering(): Array[SortOrder] = batch.ordering
  override def toBatch: BatchWrite = batch
}

/** One JDBC write, planned once on the driver. `overwrite`: None =
  * append, an upsert when the options name one; Some(conds) = atomic
  * replace of the rows matching `conds` (everything when empty) via the
  * staged swap. The factory carries a finished [[TaskWrite]], so no
  * writer decides anything.
  */
final case class JdbcBatchWrite(options: JdbcOptions, schema: StructType,
    overwrite: Option[Seq[String]])
  extends BatchWrite with Logging {
  import JdbcBatchWrite.Upsert

  private val d = options.dialect
  private val cols = schema.fieldNames.toSeq

  /** The one reading of the upsert options. An overwrite replaces rows
    * and ignores them on every dialect: its stage is a plain append. */
  private val upsert: Option[Upsert] =
    if (overwrite.isDefined || !options.upsertActive) None
    else Some(Upsert(options.upsertKeys, doNothing = options.upsertMode != "update"))
  /** DuckDB writes of every kind bulk-load through the Appender
    * ([[DuckDbAppendWriter]]) into a stage whose rows carry the task id. */
  private val tagged = d == DuckDbDialect
  /** Partition writers fill [[stageTable]] instead of the target. */
  private val staged = overwrite.isDefined || tagged

  /** W5: this overwrite rebuilds the whole database FILE and swaps it
    * over the live path ([[FileSwap]]) instead of staging a table inside
    * the live store. Validated by [[JdbcOptions.overwriteMode]] to be
    * file-backed DuckDB.
    */
  private val fileswap = overwrite.isDefined && options.overwriteMode == "fileswap"

  private def clustered(cs: Seq[String]): Distribution =
    Distributions.clustered(cs.map(c => Expressions.column(c): Expression).toArray)

  // One upsert key -> one partition transaction: the precondition the
  // reference's constraint validation protects is guaranteed by Spark's
  // shuffle instead of hoped for. DuckDB's staged upserts need no
  // shuffle: their move checks key uniqueness across the whole stage.
  private[jdbc] def distribution: Distribution = upsert match {
    case Some(u) if u.keys.nonEmpty && !tagged => clustered(u.keys)
    // do_nothing_all has no explicit keys, but Spark rejects a partition
    // count over an unspecified distribution — cluster on all columns;
    // with numPartitions = 1 everything lands in the one writer.
    case Some(_) if d.singleWriterUpserts => clustered(cols)
    case _ => Distributions.unspecified()
  }

  // Embedded Derby serializes concurrent update-else-insert writers on
  // page locks: N upsert writers each spend the lock-wait timeout
  // instead of writing (measured: a 4-writer upsert of a tiny batch
  // took 20 s vs 0.5 s single-writer — AQE's small-input coalescing had
  // been masking it). Page-lock stores get ONE writer for upserts; true
  // row-lock servers keep key-clustered parallel writers.
  private[jdbc] def numPartitions: Int =
    if (upsert.isDefined && d.singleWriterUpserts) 1 else 0 // 0 = no requirement

  /** Derby's update-else-insert sees its rows sorted by the conflict
    * target, so a duplicate key arrives next to its twin and
    * [[DerbyUpsertWriter]] rejects it whatever `batchsize` is. */
  private[jdbc] def ordering: Array[SortOrder] =
    if (upsert.isEmpty || d != DerbyDialect) Array.empty
    else conflictKeys.map(k =>
      Expressions.sort(Expressions.column(k), SortDirection.ASCENDING)).toArray

  /** Schema and name of the target as written (`"ns"."t"`, `ns.t`; a
    * bare `t` lies in the connection's current schema): the one parse
    * behind the stage's name, the stale-stage sweep, the primary-key
    * lookup, ANALYZE and the file swap. None for FROM text that names
    * no one- or two-part table.
    */
  private lazy val target: Option[(String, String)] = Dialect.nameParts(options.table).collect {
    case Seq(t) => (options.withConnection(_.getSchema), t)
    case Seq(ns, t) => (ns, t)
  }
  private def targetParts: (String, String) = target.getOrElse(throw new IllegalArgumentException(
    s"cannot stage a write to ${options.table}: not a one- or two-part table name"))

  /** `t__stage_<millisHex>_<nanoHex>` beside the target. The per-write
    * unique id (reference stages into `__data_<ts>`,
    * `creator.rs:220-520`) keeps two concurrent writes of the same table
    * from clobbering each other's stage; it is fixed per BatchWrite
    * instance so factory, commit and abort all address the same stage.
    * The leading wall-clock segment is what [[dropStaleStages]] reads to
    * GC only ABANDONED generations.
    */
  private val stageSuffix = s"__stage_${java.lang.Long.toHexString(System.currentTimeMillis())}" +
    s"_${java.lang.Long.toHexString(System.nanoTime())}"
  private lazy val (stageNs, stageName) = (targetParts._1, targetParts._2 + stageSuffix)
  private lazy val stageTable: String = d.quoted(Seq(stageNs, stageName))

  private val livePath: String = options.duckdbFile.getOrElse("")
  /** Fresh generation file (`…refresh.<ms>-<seq>.building`) — fixed per
    * BatchWrite so factory, commit and abort address the same staging
    * database; plus the live file's identity at write start, for the
    * out-of-band replacement abort.
    */
  private val buildingPath: String =
    if (fileswap) FileSwap.newBuildingPath(livePath) else ""
  private val liveIdentity: Option[FileSwap.FileIdentity] =
    if (fileswap) FileSwap.identityOf(livePath) else None
  private def stagingUrl: String = s"jdbc:duckdb:$buildingPath"
  /** Writer/commit options pointed at the staging file; sibling
    * attachments stay off it (the refresh touches ONE database). */
  private def stagingOpts: JdbcOptions =
    JdbcOptions(options.map - "attach" + ("url" -> stagingUrl))

  /** GC stage generations left by CRASHED runs (reference GCs previous
    * `__data_<ts>` generations the same way, `creator.rs:220-520`) —
    * but only those older than [[JdbcBatchWrite.StaleStageAgeMs]], read
    * from the wall-clock segment of the suffix. Sweeping every stage at
    * factory creation would delete the LIVE stage of a concurrent
    * write of the same table, which the per-write unique suffix
    * exists to protect; an in-flight write is always far younger than
    * the threshold. Unparseable suffixes (pre-timestamp format) are
    * treated as abandoned.
    */
  private def dropStaleStages(c: Connection): Unit = {
    val (ns, t) = targetParts
    val stages = c.getMetaData.getTables(null, ns, t + "__stage_%", Dialect.TableTypes)
    val stale = Remote.rows(stages)(_.getString("TABLE_NAME"))
    val now = System.currentTimeMillis()
    stale.foreach { s =>
      val bornAt =
        try java.lang.Long.parseLong(s.stripPrefix(t + "__stage_").takeWhile(_ != '_'), 16)
        catch { case _: NumberFormatException => 0L }
      if (now - bornAt > JdbcBatchWrite.StaleStageAgeMs)
        Remote.orWarn(s"stale stage DROP of $s", ())(
          Remote.execute(c, s"DROP TABLE ${d.quoted(Seq(ns, s))}"))
    }
  }

  /** The target's PRIMARY KEY columns in key order, from JDBC metadata:
    * fileswap re-creates them on the refreshed table (the reference's
    * TableManager rebuilds constraints), and they are Derby's
    * do_nothing_all conflict target. A driver without the metadata call
    * reports none; any other remote error fails the write, which must
    * not rebuild a table without its key.
    */
  private def primaryKey: Seq[String] = target.fold(Seq.empty[String]) { case (ns, t) =>
    try options.withConnection(c => Remote.rows(c.getMetaData.getPrimaryKeys(null, ns, t))(rs =>
      (rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME"))).sortBy(_._1).map(_._2))
    catch { case _: java.sql.SQLFeatureNotSupportedException => Nil }
  }

  /** The key a DuckDB staged overwrite restages rows through
    * ([[moveStaged]]), as (description, columns): the table's PRIMARY
    * KEY, or else its first UNIQUE index over plain columns, which
    * DuckDB 1.0 also takes as an ON CONFLICT target (probed). One
    * catalog statement, made before any task starts; None where the
    * table has no such key. A remote error fails the write.
    */
  private lazy val restageKey: Option[(String, Seq[String])] = target.flatMap { case (ns, t) =>
    options.withConnection(Remote.query(_, DuckDbDialect.uniqueKeysSql(ns, t))(rs =>
      (rs.getString(1), rs.getString(2))))
      .collectFirst(Function.unlift { case (what, text) => DuckDbDialect.keyColumns(text).map(what -> _) })
  }

  /** The conflict target as written column names, checked before any
    * task starts: an upsert's explicit keys, or for Derby's
    * update-else-insert under do_nothing_all the table's PRIMARY KEY
    * (the remote constraint IS the target of the reference's target-less
    * `ON CONFLICT DO NOTHING`, `on_conflict.rs:32`, which the other
    * dialects run as such: no target); and the [[restageKey]] of a
    * DuckDB table that a staged overwrite replaces rows of.
    */
  private lazy val conflictKeys: Seq[String] = {
    val (keys, from) = upsert match {
      case Some(u) if u.keys.isEmpty && d == DerbyDialect =>
        val pk = primaryKey
        if (pk.isEmpty) throw new IllegalArgumentException(
          s"do_nothing_all needs a PRIMARY KEY on ${options.table} (none found)")
        (pk, "the table PRIMARY KEY")
      case Some(u) => (u.keys, "upsertkeys")
      case None if tagged && overwrite.isDefined && !fileswap =>
        // a key column the write leaves to its DEFAULT restages no key
        val key = restageKey.fold(Seq.empty[String])(_._2)
        (if (key.forall(k => cols.exists(_.equalsIgnoreCase(k)))) key else Nil, "")
      case None => (Nil, "")
    }
    keys.map(k => cols.find(_.equalsIgnoreCase(k)).getOrElse(throw new IllegalArgumentException(
      s"key column '$k' (from $from) is not among the written columns " +
        cols.mkString("[", ", ", "]"))))
  }

  /** What every task runs, once the conflict target is read and
    * checked: DuckDB appends to the stage; any other stage and a plain
    * append INSERT; an upsert runs the dialect's upsert, or on Derby,
    * which has neither ON CONFLICT nor MERGE over VALUES, an UPDATE by
    * key and an INSERT of the rows it missed.
    */
  private def taskWrite: TaskWrite = {
    val keys = conflictKeys
    upsert match {
      case _ if tagged =>
        if (cols.exists(_.equalsIgnoreCase(JdbcWrite.TaskColumn)))
          throw new IllegalArgumentException(
            s"column name '${JdbcWrite.TaskColumn}' is reserved for DuckDB write staging")
        TaskWrite.Appender(stageNs, stageName)
      case None =>
        TaskWrite.Prepared(JdbcWrite.insertSql(d, if (staged) stageTable else options.table, schema))
      case Some(u) if d == DerbyDialect =>
        val keyIdx = keys.map(cols.indexOf)
        // No non-key column leaves nothing to update: the reference
        // degrades such an upsert to DO NOTHING (`on_conflict.rs:53-59`).
        val doNothing = u.doNothing || cols.forall(keys.contains)
        TaskWrite.UpdateElseInsert(
          if (doNothing) DerbyDialect.touchStatement(options.table, cols, keys)
          else DerbyDialect.updateStatement(options.table, cols, keys),
          (if (doNothing) Nil else cols.indices.filterNot(keyIdx.contains)) ++ keyIdx,
          JdbcWrite.insertSql(d, options.table, schema), keyIdx)
      case Some(u) =>
        TaskWrite.Prepared(d.upsertStatement(options.table, cols, keys, u.doNothing,
          placeholders = schema.fields.map(f => d.insertPlaceholder(f.dataType)).toSeq))
    }
  }

  /** Stage DDL. Appender stages add the task column, and keep native
    * LIST columns as the JSON text the move casts
    * ([[Dialect.insertValueSql]]); constraints are left to the target.
    */
  private def createStage(c: Connection): Unit = {
    val defs =
      if (!tagged) d.columnDefs(schema)
      else (schema.fields.map { f =>
        val t = f.dataType match {
          case _: ArrayType => d.stringType
          case other => d.typeName(other)
        }
        s"${d.quote(f.name)} $t"
      } :+ s"${d.quote(JdbcWrite.TaskColumn)} BIGINT").mkString(", ")
    Remote.execute(c, s"CREATE TABLE $stageTable ($defs)")
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // planned first: a bad conflict target fails before anything is created
    val task = taskWrite
    if (fileswap) {
      // stage into a FRESH database file: namespace + table shell first
      val pk = primaryKey
      val pkClause =
        if (pk.isEmpty) ""
        else pk.map(d.quote).mkString(", PRIMARY KEY (", ", ", ")")
      stagingOpts.withConnection { c =>
        if (stageNs != "main") Remote.execute(c, s"CREATE SCHEMA IF NOT EXISTS ${d.quote(stageNs)}")
        Remote.execute(c, s"CREATE TABLE ${options.table} (${d.columnDefs(schema)}$pkClause)")
        createStage(c)
      }
      JdbcWriterFactory(stagingOpts, schema, task)
    } else {
      if (staged) options.withConnection { c =>
        dropStaleStages(c)
        createStage(c)
      }
      JdbcWriterFactory(options, schema, task)
    }
  }

  /** The staged commit, inside one remote transaction on `c`: delete
    * the target's rows matching `replace` (every row when empty), move
    * the stage's rows into `options.table` and drop the stage. A
    * task-tagged stage moves only the rows of the committed `tasks`, an
    * upsert through the dialect's ON CONFLICT after a uniqueness check
    * of its keys across the whole stage.
    *
    * DuckDB 1.0 rejects a key deleted and inserted again in one
    * transaction (its unique index checks eagerly; probed), so a DuckDB
    * overwrite of a keyed table keeps the rows whose key is restaged and
    * updates them through ON CONFLICT, once no such row is found outside
    * `replace`, where a plain INSERT would have hit the key.
    */
  private def moveStaged(c: Connection, tasks: Seq[Long], replace: Option[Seq[String]]): Unit = {
    def where(conds: Seq[String]) = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val fromStage = s"FROM $stageTable" +
      where(if (tagged) Seq(s"${d.quote(JdbcWrite.TaskColumn)} IN ${tasks.mkString("(", ", ", ")")}")
        else Nil)
    val ks = conflictKeys.map(d.quote).mkString(", ")
    // a NULL key never conflicts (a UNIQUE key may hold several), so a
    // target row with one is replaced, never kept
    val restaged = conflictKeys.map(k => s"${d.quote(k)} IS NOT NULL AND ").mkString("(", "", "") +
      s"row($ks) IN (SELECT row($ks) $fromStage))"
    val keyed = replace.isDefined && conflictKeys.nonEmpty && tasks.nonEmpty
    c.setAutoCommit(false)
    val kept = if (keyed) Seq(s"NOT $restaged") else Nil
    replace.foreach(conds =>
      Remote.execute(c, s"DELETE FROM ${options.table}" + where(conds ++ kept)))
    if (!tagged || tasks.nonEmpty) {
      if (upsert.isDefined && conflictKeys.nonEmpty)
        assertNoKey(c, s"SELECT $ks $fromStage GROUP BY $ks HAVING COUNT(*) > 1 LIMIT 1",
          k => s"duplicate upsert key $k within one write " +
            "(reference enforces pre-write uniqueness; fix the input or drop duplicates)")
      replace.filter(conds => keyed && conds.nonEmpty).foreach(conds =>
        assertNoKey(c, s"SELECT $ks FROM ${options.table} WHERE " +
          s"${conds.mkString("(", " AND ", ")")} IS NOT TRUE AND $restaged LIMIT 1",
          k => s"overwrite row key $k exists outside the overwrite predicate " +
            s"(violates the ${restageKey.fold("key")(_._1)} of ${options.table})"))
      val values = schema.fields.map(f => d.insertValueSql(f.dataType, d.quote(f.name)))
      Remote.execute(c, s"INSERT INTO ${options.table} (${cols.map(d.quote).mkString(", ")}) " +
        s"SELECT ${values.mkString(", ")} $fromStage" +
        (if (upsert.isDefined || keyed)
          d.onConflictClause(cols, conflictKeys, doNothing = upsert.exists(_.doNothing)) else ""))
    }
    Remote.execute(c, s"DROP TABLE $stageTable")
    c.commit()
  }

  /** Fails the move with `message` of the conflict key of the first row
    * `sql` returns, if it returns any. */
  private def assertNoKey(c: Connection, sql: String, message: Map[String, AnyRef] => String): Unit =
    Remote.query(c, sql)(rs =>
      conflictKeys.indices.map(i => conflictKeys(i) -> rs.getObject(i + 1)).toMap
    ).headOption.foreach(k => throw new IllegalStateException(message(k)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case JdbcCommit(n, _) => n }.sum
    val tasks = messages.toSeq.collect { case JdbcCommit(_, Some(t)) => t }
    if (fileswap) {
      // the refreshed table takes the committed tasks' staged rows first
      stagingOpts.withConnection(moveStaged(_, tasks, None))
      // predicate overwrite under fileswap: the rows the predicate does
      // NOT match ride from the live file into the refreshed table, so
      // the swap is still a complete database. IS NOT TRUE, not NOT(…):
      // the staged path's DELETE removes only rows where the predicate
      // is TRUE, so a NULL-valued predicate row SURVIVES there — the
      // three-valued spelling keeps the two strategies value-identical
      val preserve = overwrite.get match {
        case Nil => None
        case conds => Some(conds.mkString("(", " AND ", ") IS NOT TRUE"))
      }
      // gate→drain→copy→swap in one guarded window: see FileSwap.commitSwap
      val (ns, t) = targetParts
      FileSwap.commitSwap(stagingOpts, stagingUrl, buildingPath,
        options.url, livePath, liveIdentity, ns, t,
        preserveWhere = preserve, targetCols = cols.map(d.quote))
    } else if (staged) options.withConnection { c =>
      // the atomic swap: matching rows are replaced in ONE remote txn
      moveStaged(c, tasks, overwrite)
    }
    logInfo(s"graft-jdbc write committed: $rows rows into ${options.table}")
    // Post-write statistics refresh (reference duckdb/write.rs:990):
    // opt-in, best-effort — a stats failure never fails a committed write.
    if (options.analyzeAfterWrite)
      target.flatMap { case (ns, t) => d.analyzeStatement(ns, t) }.foreach { sql =>
        Remote.orWarn(s"post-write ANALYZE of ${options.table}", ())(
          options.withConnection(Remote.execute(_, sql)))
      }
  }

  /** Drops the stage; a remote failure warns and never replaces the
    * job's own error. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (fileswap) FileSwap.discardStaging(stagingUrl, buildingPath)
    else if (staged) Remote.orWarn(s"stage DROP of $stageTable on abort", ())(
      options.withConnection(Remote.execute(_, s"DROP TABLE $stageTable")))
}

object JdbcBatchWrite {
  /** Stages older than this are abandoned (no write runs for an
    * hour); younger ones may belong to a live concurrent write. */
  private[jdbc] val StaleStageAgeMs: Long = 60L * 60 * 1000

  /** An upsert's conflict handling; no `keys` = do_nothing_all. */
  private final case class Upsert(keys: Seq[String], doNothing: Boolean)
}

/** One task's committed row count; appender-staged tasks also name
  * the task id their staged rows carry. */
final case class JdbcCommit(rows: Long, taskId: Option[Long] = None) extends WriterCommitMessage

/** What one task does with its rows, as [[JdbcBatchWrite]] planned it. */
sealed trait TaskWrite extends Serializable

object TaskWrite {
  /** A batched prepared statement: a plain INSERT or the dialect's upsert. */
  final case class Prepared(sql: String) extends TaskWrite

  /** Derby's upsert: a batched `update` binding the columns at
    * `updateBind`, then a batched `insert` of the rows it matched none
    * of; `keys` are the conflict target's positions. */
  final case class UpdateElseInsert(update: String, updateBind: Seq[Int], insert: String,
      keys: Seq[Int]) extends TaskWrite

  /** DuckDB's Appender on `ns`.`table`, each row tagged with the task id. */
  final case class Appender(ns: String, table: String) extends TaskWrite
}

final case class JdbcWriterFactory(options: JdbcOptions, schema: StructType, task: TaskWrite)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val conn = options.connect()
    // Spark closes only a writer it got: one that fails to start returns its connection here
    try task match {
      case TaskWrite.Prepared(sql) => new JdbcRowWriter(options, schema, conn, sql)
      case p: TaskWrite.UpdateElseInsert => new DerbyUpsertWriter(options, schema, conn, p)
      case TaskWrite.Appender(ns, t) => new DuckDbAppendWriter(options, schema, conn, ns, t, taskId)
    } catch { case e: Throwable => conn.close(); throw e }
  }
}

/** Batched INSERT (or dialect upsert) inside one partition transaction. */
final class JdbcRowWriter(options: JdbcOptions, schema: StructType, conn: Connection, sql: String)
  extends DataWriter[InternalRow] {

  conn.setAutoCommit(false)
  private val ps = conn.prepareStatement(sql)
  private val setters = schema.fields.map(f => TypeMapping.setter(f.dataType, options.dialect))
  private val sqlTypes = schema.fields.map(f => TypeMapping.jdbcType(f.dataType, options.dialect))
  private var inBatch = 0
  private var total = 0L

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < setters.length) {
      if (row.isNullAt(i)) ps.setNull(i + 1, sqlTypes(i))
      else setters(i)(ps, row, i, i + 1)
      i += 1
    }
    ps.addBatch()
    total += 1
    inBatch += 1
    if (inBatch >= options.batchSize) flush()
  }

  private def flush(): Unit =
    if (inBatch > 0) { ps.executeBatch(); inBatch = 0 }

  override def commit(): WriterCommitMessage = {
    flush()
    conn.commit()
    JdbcCommit(total)
  }

  override def abort(): Unit = conn.rollback()

  override def close(): Unit = {
    try ps.close() finally conn.close()
  }
}

/** Derby has no ON CONFLICT / MERGE-over-VALUES: batched UPDATE by key,
  * then batched INSERT for the rows no UPDATE matched — two round trips
  * per `batchSize` chunk instead of two per ROW. Key uniqueness is
  * VALIDATED (reference `constraints.rs:28-95`), not assumed: the rows
  * arrive sorted by key ([[JdbcBatchWrite.ordering]]), in one partition
  * ([[JdbcBatchWrite.distribution]]), so each row's key is compared with
  * the previous row's.
  *
  * In `upsertmode=do_nothing` the first pass is a value-preserving
  * touch-UPDATE ([[DerbyDialect.touchStatement]]) used purely as a
  * batched existence probe: rows it matched keep their current values,
  * rows it missed INSERT — the reference's do-nothing conflict mode.
  */
final class DerbyUpsertWriter(options: JdbcOptions, schema: StructType, conn: Connection,
    plan: TaskWrite.UpdateElseInsert) extends DataWriter[InternalRow] {

  conn.setAutoCommit(false)
  private val setters = schema.fields.map(f => TypeMapping.setter(f.dataType, DerbyDialect))
  private val sqlTypes = schema.fields.map(f => TypeMapping.jdbcType(f.dataType, DerbyDialect))
  private val insertPs = conn.prepareStatement(plan.insert)
  private val updatePs =
    try conn.prepareStatement(plan.update) catch { case e: Throwable => insertPs.close(); throw e }

  // current chunk, buffered as row copies (batchSize-bounded memory)
  private val chunk = new scala.collection.mutable.ArrayBuffer[InternalRow]()
  private var total = 0L
  private var lastKey: Option[Seq[Any]] = None

  private def bind(ps: java.sql.PreparedStatement, row: InternalRow, order: Seq[Int]): Unit =
    order.zipWithIndex.foreach { case (f, p) =>
      if (row.isNullAt(f)) ps.setNull(p + 1, sqlTypes(f))
      else setters(f)(ps, row, f, p + 1)
    }

  override def write(row: InternalRow): Unit = {
    val r = row.copy()
    // constraint validation: a repeated key would make the
    // update-else-insert outcome order-dependent (NULL keys compare equal)
    val k = plan.keys.map(i => if (r.isNullAt(i)) null else r.get(i, schema(i).dataType))
    if (lastKey.contains(k))
      throw new IllegalStateException(
        s"duplicate upsert key ${plan.keys.map(schema(_).name).zip(k).toMap} within one " +
          "write (reference enforces pre-write uniqueness; fix the input or drop duplicates)")
    lastKey = Some(k)
    chunk += r
    total += 1
    if (chunk.length >= options.batchSize) flushChunk()
  }

  private def flushChunk(): Unit = {
    if (chunk.isEmpty) return
    chunk.foreach { row => bind(updatePs, row, plan.updateBind); updatePs.addBatch() }
    val updated = updatePs.executeBatch()
    chunk.zip(updated).foreach { case (row, n) =>
      if (n == 0) { bind(insertPs, row, schema.indices); insertPs.addBatch() }
    }
    insertPs.executeBatch()
    chunk.clear()
  }

  override def commit(): WriterCommitMessage = {
    flushChunk()
    conn.commit()
    JdbcCommit(total)
  }
  override def abort(): Unit = conn.rollback()
  override def close(): Unit = {
    try { updatePs.close(); insertPs.close() } finally conn.close()
  }
}

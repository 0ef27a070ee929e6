package graft.sources.jdbc

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
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
  * Upsert correctness is enforced, not assumed (reference
  * `constraints.rs:28-95`): the Write REQUIRES a hash-clustered
  * distribution on the upsert keys, so one key lands in exactly one
  * partition transaction, and each writer validates per-chunk key
  * uniqueness before executing its batch. DuckDB's staged upserts need
  * no shuffle: the move checks uniqueness across the whole stage.
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
  private[jdbc] val QuotedPair = "\"(.*)\"\\.\"(.*)\"".r

  /** Stage column holding the Spark task id that appended each row. */
  private[jdbc] val TaskColumn = "__task"

  /** Writes that bulk-load through [[DuckDbAppendWriter]] into a
    * task-tagged stage, whatever their kind. */
  private[jdbc] def appenderStaged(o: JdbcOptions): Boolean = o.dialect == DuckDbDialect
}

final class JdbcWrite(options: JdbcOptions, schema: StructType,
    overwrite: Option[Seq[String]])
  extends Write with RequiresDistributionAndOrdering {

  // One upsert key -> one partition transaction: the precondition the
  // reference's constraint validation protects is guaranteed by Spark's
  // shuffle instead of hoped for. Appender-staged upserts need no
  // shuffle: their move checks key uniqueness across the whole stage.
  override def requiredDistribution(): Distribution =
    if (options.upsertKeys.nonEmpty && !JdbcWrite.appenderStaged(options))
      Distributions.clustered(options.upsertKeys.map(k => Expressions.column(k)).toArray)
    else if (options.upsertActive && options.dialect.singleWriterUpserts)
      // do_nothing_all has no explicit keys, but Spark rejects a partition
      // count over an unspecified distribution — cluster on all columns;
      // with requiredNumPartitions = 1 everything lands in the one writer.
      Distributions.clustered(schema.fields.map(f => Expressions.column(f.name): 
        org.apache.spark.sql.connector.expressions.Expression))
    else Distributions.unspecified()

  // Embedded Derby serializes concurrent update-else-insert writers on
  // page locks: N upsert writers each spend the lock-wait timeout
  // instead of writing (measured: a 4-writer upsert of a tiny batch
  // took 20 s vs 0.5 s single-writer — AQE's small-input coalescing had
  // been masking it). Page-lock stores get ONE writer for upserts; true
  // row-lock servers keep key-clustered parallel writers.
  override def requiredNumPartitions(): Int =
    if (options.upsertActive && options.dialect.singleWriterUpserts) 1
    else 0 // 0 = no requirement

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = JdbcBatchWrite(options, schema, overwrite)
}

/** `overwrite`: None = append; Some(conds) = atomic replace of the rows
  * matching `conds` (everything when empty) via the staged swap.
  * Appender-staged (DuckDB) writes stage every kind, append and upsert
  * included, and move only the committed tasks' rows.
  */
final case class JdbcBatchWrite(options: JdbcOptions, schema: StructType,
    overwrite: Option[Seq[String]])
  extends BatchWrite with Logging {
  import JdbcWrite.QuotedPair

  private def truncate: Boolean = overwrite.isDefined
  private def appenderStaged: Boolean = JdbcWrite.appenderStaged(options)
  /** Partition writers fill [[stageTable]] instead of the target. */
  private def staged: Boolean = truncate || appenderStaged

  /** W5: this overwrite rebuilds the whole database FILE and swaps it
    * over the live path ([[FileSwap]]) instead of staging a table inside
    * the live store. Validated by [[JdbcOptions.overwriteMode]] to be
    * file-backed DuckDB.
    */
  private def fileswap: Boolean = truncate && options.overwriteMode == "fileswap"

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

  /** `"ns"."t"` → `"ns"."t__stage_<millisHex>_<nanoHex>"` (suffix inside
    * the final quote). The per-write unique id (reference stages into
    * `__data_<ts>`, `creator.rs:220-520`) keeps two concurrent
    * writes of the same table from clobbering each other's stage;
    * the id is fixed per BatchWrite instance so factory, commit and
    * abort all address the same stage. The leading wall-clock segment is
    * what [[dropStaleStages]] reads to GC only ABANDONED generations.
    */
  private val stageTable: String = {
    val t = options.table
    val suffix = s"__stage_${java.lang.Long.toHexString(System.currentTimeMillis())}" +
      s"_${java.lang.Long.toHexString(System.nanoTime())}"
    if (t.endsWith("\"")) t.dropRight(1) + suffix + "\"" else t + suffix
  }

  private def withConn[A](f: Connection => A): A = {
    val c = options.connect()
    try f(c) finally c.close()
  }

  private def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

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
  private def dropStaleStages(c: Connection): Unit = options.table match {
    case QuotedPair(ns, t) =>
      val rs = c.getMetaData.getTables(null, ns, t + "__stage_%", Dialect.TableTypes)
      val stale = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) stale += rs.getString("TABLE_NAME")
      rs.close()
      val now = System.currentTimeMillis()
      val d = options.dialect
      stale.foreach { s =>
        val bornAt =
          try java.lang.Long.parseLong(
            s.stripPrefix(t + "__stage_").takeWhile(_ != '_'), 16)
          catch { case _: NumberFormatException => 0L }
        if (now - bornAt > JdbcBatchWrite.StaleStageAgeMs)
          try exec(c, s"DROP TABLE ${d.quote(ns)}.${d.quote(s)}")
          catch { case _: java.sql.SQLException => }
      }
    case _ => () // non-catalog table string; nothing to sweep
  }

  /** Live table's PRIMARY KEY columns (fileswap re-creates it on the
    * refreshed table — reference's TableManager rebuilds constraints);
    * best-effort: engines without the metadata call report none.
    */
  private def livePrimaryKey(ns: String, t: String): Seq[String] =
    try withConn { c =>
      val pk = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
      val rs = c.getMetaData.getPrimaryKeys(null, ns, t)
      while (rs.next()) pk += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
      rs.close()
      pk.sortBy(_._1).map(_._2).toSeq
    } catch { case _: java.sql.SQLException => Nil }

  /** Stage DDL. Appender stages add the task column, and keep native
    * LIST columns as the JSON text the move casts
    * ([[Dialect.insertValueSql]]); constraints are left to the target.
    */
  private def createStage(c: Connection): Unit = {
    val d = options.dialect
    val cols =
      if (!appenderStaged) d.columnDefs(schema)
      else {
        if (schema.fields.exists(_.name.equalsIgnoreCase(JdbcWrite.TaskColumn)))
          throw new IllegalArgumentException(
            s"column name '${JdbcWrite.TaskColumn}' is reserved for DuckDB write staging")
        (schema.fields.map { f =>
          val t = f.dataType match {
            case _: ArrayType => d.stringType
            case other => d.typeName(other)
          }
          s"${d.quote(f.name)} $t"
        } :+ s"${d.quote(JdbcWrite.TaskColumn)} BIGINT").mkString(", ")
      }
    exec(c, s"CREATE TABLE $stageTable ($cols)")
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (fileswap) {
      // stage into a FRESH database file: namespace + table shell first
      val d = options.dialect
      val pk = options.table match {
        case QuotedPair(ns, t) => livePrimaryKey(ns, t)
        case _ => Nil
      }
      val pkClause =
        if (pk.isEmpty) ""
        else pk.map(d.quote).mkString(", PRIMARY KEY (", ", ", ")")
      val c = stagingOpts.connect()
      try {
        options.table match {
          case QuotedPair(ns, _) if ns != "main" =>
            exec(c, s"CREATE SCHEMA IF NOT EXISTS ${d.quote(ns)}")
          case _ => ()
        }
        exec(c, s"CREATE TABLE ${options.table} (${d.columnDefs(schema)}$pkClause)")
        createStage(c)
      } finally c.close()
      return JdbcWriterFactory(stagingOpts.withTable(stageTable), schema)
    }
    if (staged) withConn { c =>
      dropStaleStages(c)
      createStage(c)
    }
    val target = if (staged) options.withTable(stageTable) else options
    JdbcWriterFactory(target, schema)
  }

  /** The staged commit, inside one remote transaction on `c`: replace
    * the rows matching `deleteWhere` (when given), move the stage's rows
    * into `options.table` and drop the stage. An appender stage moves
    * only the rows of the committed `tasks`, an upsert through the
    * dialect's ON CONFLICT after a uniqueness check of its keys across
    * the whole stage.
    */
  private def moveStaged(c: Connection, tasks: Seq[Long], deleteWhere: Option[String]): Unit = {
    val d = options.dialect
    val fromStage = s"FROM $stageTable" + (if (!appenderStaged) ""
      else s" WHERE ${d.quote(JdbcWrite.TaskColumn)} IN ${tasks.mkString("(", ", ", ")")}")
    val upsert = options.upsertActive && !truncate
    c.setAutoCommit(false)
    deleteWhere.foreach(w => exec(c, s"DELETE FROM ${options.table}$w"))
    if (!appenderStaged || tasks.nonEmpty) {
      if (upsert && options.upsertKeys.nonEmpty) assertUniqueStagedKeys(c, fromStage)
      val cols = schema.fields.map(f => d.quote(f.name)).mkString(", ")
      val values = schema.fields.map(f => d.insertValueSql(f.dataType, d.quote(f.name)))
      exec(c, s"INSERT INTO ${options.table} ($cols) SELECT ${values.mkString(", ")} $fromStage" +
        (if (upsert) d.onConflictClause(schema.fields.map(_.name).toSeq, options.upsertKeys,
          doNothing = options.upsertMode != "update") else ""))
    }
    exec(c, s"DROP TABLE $stageTable")
    c.commit()
  }

  /** One key per upsert write: duplicates would make the outcome
    * order-dependent (the reference validates uniqueness before writing,
    * `constraints.rs:28-95`; the Derby writer checks per chunk). */
  private def assertUniqueStagedKeys(c: Connection, fromStage: String): Unit = {
    val keys = options.upsertKeys
    val ks = keys.map(options.dialect.quote).mkString(", ")
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT $ks $fromStage GROUP BY $ks HAVING COUNT(*) > 1 LIMIT 1")
      if (rs.next()) {
        val dup = keys.indices.map(i => keys(i) -> rs.getObject(i + 1)).toMap
        throw new IllegalStateException(
          s"duplicate upsert key $dup within one write " +
            "(reference enforces pre-write uniqueness; fix the input or drop duplicates)")
      }
    } finally st.close()
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case JdbcCommit(n, _) => n }.sum
    val tasks = messages.toSeq.collect { case JdbcCommit(_, Some(t)) => t }
    if (fileswap) {
      val (ns, t) = options.table match {
        case QuotedPair(n0, t0) => (n0, t0)
        case bare => ("main", bare.toString)
      }
      // the refreshed table takes the committed tasks' staged rows first
      val c = stagingOpts.connect()
      try moveStaged(c, tasks, None) finally c.close()
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
      FileSwap.commitSwap(stagingOpts, stagingUrl, buildingPath,
        options.url, livePath, liveIdentity, ns, t,
        preserveWhere = preserve,
        targetCols = schema.fields.map(f => options.dialect.quote(f.name)).toSeq)
    } else if (staged) withConn { c =>
      // the atomic swap: matching rows are replaced in ONE remote txn
      moveStaged(c, tasks, overwrite.map {
        case Nil => ""
        case conds => conds.mkString(" WHERE ", " AND ", "")
      })
    }
    logInfo(s"graft-jdbc write committed: $rows rows into ${options.table}")
    // Post-write statistics refresh (reference duckdb/write.rs:990):
    // opt-in, best-effort — a stats failure never fails a committed write.
    if (options.analyzeAfterWrite)
      options.table match {
        case QuotedPair(ns, t) =>
          options.dialect.analyzeStatement(ns, t).foreach { sql =>
            try withConn(exec(_, sql))
            catch { case e: java.sql.SQLException =>
              logWarning(s"post-write ANALYZE failed for ${options.table}: ${e.getMessage}")
            }
          }
        case _ => ()
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    if (fileswap) FileSwap.discardStaging(stagingUrl, buildingPath)
    else if (staged) withConn { c =>
      try exec(c, s"DROP TABLE $stageTable") catch { case _: java.sql.SQLException => }
    }
}

object JdbcBatchWrite {
  /** Stages older than this are abandoned (no write runs for an
    * hour); younger ones may belong to a live concurrent write. */
  private[jdbc] val StaleStageAgeMs: Long = 60L * 60 * 1000
}

/** One task's committed row count; appender-staged tasks also name
  * the task id their staged rows carry. */
final case class JdbcCommit(rows: Long, taskId: Option[Long] = None) extends WriterCommitMessage

final case class JdbcWriterFactory(options: JdbcOptions, schema: StructType)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (JdbcWrite.appenderStaged(options)) new DuckDbAppendWriter(options, schema, taskId)
    else if (options.upsertActive && options.dialect == DerbyDialect)
      new DerbyUpsertWriter(options, schema)
    else new JdbcRowWriter(options, schema)
}

/** Batched INSERT (or dialect upsert) inside one partition transaction. */
class JdbcRowWriter(options: JdbcOptions, schema: StructType)
  extends DataWriter[InternalRow] {

  protected val conn: Connection = options.connect()
  conn.setAutoCommit(false)

  private val d = options.dialect
  private val cols = schema.fields.map(_.name).toSeq
  private val insertSql =
    if (options.upsertActive)
      d.upsertStatement(options.table, cols, options.upsertKeys,
        doNothing = options.upsertMode != "update",
        placeholders = schema.fields.map(f => d.insertPlaceholder(f.dataType)).toSeq)
    else
      s"INSERT INTO ${options.table} (${cols.map(d.quote).mkString(", ")}) " +
        s"VALUES (${schema.fields.map(f => d.insertPlaceholder(f.dataType)).mkString(", ")})"
  private val ps = conn.prepareStatement(insertSql)
  private val setters = schema.fields.map(f => TypeMapping.setter(f.dataType, d))
  private val sqlTypes = schema.fields.map(f => TypeMapping.jdbcType(f.dataType, d))
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

  protected def flush(): Unit =
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
  * per `batchSize` chunk instead of two per ROW. Chunk key uniqueness is
  * VALIDATED (reference `constraints.rs:28-95`), not assumed; the
  * cross-partition half of that precondition is enforced by
  * [[JdbcWrite.requiredDistribution]].
  *
  * In `upsertmode=do_nothing` the first pass is a value-preserving
  * touch-UPDATE ([[DerbyDialect.touchStatement]]) used purely as a
  * batched existence probe: rows it matched keep their current values,
  * rows it missed INSERT — the reference's do-nothing conflict mode.
  */
final class DerbyUpsertWriter(options: JdbcOptions, schema: StructType)
  extends DataWriter[InternalRow] {

  private val conn: Connection = options.connect()
  conn.setAutoCommit(false)

  private val d = DerbyDialect
  private val cols = schema.fields.map(_.name).toSeq
  /** `do_nothing_all` carries no explicit target: the probe keys are the
    * table's PRIMARY KEY, resolved once from JDBC metadata (the remote
    * constraint IS the conflict target in the reference's target-less
    * `ON CONFLICT DO NOTHING`, `on_conflict.rs:32`).
    */
  private val keys: Seq[String] =
    if (options.upsertKeys.nonEmpty) options.upsertKeys
    else {
      val pk = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
      options.table match {
        case JdbcWrite.QuotedPair(ns, t) =>
          val rs = conn.getMetaData.getPrimaryKeys(null, ns, t)
          while (rs.next()) pk += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
          rs.close()
        case _ => ()
      }
      if (pk.isEmpty) throw new IllegalArgumentException(
        s"do_nothing_all needs a PRIMARY KEY on ${options.table} (none found)")
      pk.sortBy(_._1).map(_._2).toSeq
    }
  // No non-key column leaves nothing to update: the reference degrades
  // such an upsert to DO NOTHING (`on_conflict.rs:53-59`).
  private val doNothing = options.upsertMode != "update" ||
    cols.forall(c => keys.exists(_.equalsIgnoreCase(c)))
  private val keyIdx = keys.map { k =>
    val i = cols.indexWhere(_.equalsIgnoreCase(k))
    if (i < 0) throw new IllegalArgumentException(
      s"upsert key column '$k' (from ${if (options.upsertKeys.isEmpty) "the table PRIMARY KEY"
        else "upsertkeys"}) is not among the written columns ${cols.mkString("[", ", ", "]")}")
    i
  }.toArray
  private val colIdx = cols.zipWithIndex.toMap
  private val setters = schema.fields.map(f => TypeMapping.setter(f.dataType, d))
  private val sqlTypes = schema.fields.map(f => TypeMapping.jdbcType(f.dataType, d))

  private val updatePs = conn.prepareStatement(
    if (doNothing) d.touchStatement(options.table, cols, keys)
    else d.updateStatement(options.table, cols, keys))
  private val insertPs = conn.prepareStatement(
    s"INSERT INTO ${options.table} (${cols.map(d.quote).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})")

  // current chunk, buffered as row copies (batchSize-bounded memory)
  private val chunk = new scala.collection.mutable.ArrayBuffer[InternalRow]()
  private var total = 0L

  private def bind(ps: java.sql.PreparedStatement, row: InternalRow,
      order: Seq[String]): Unit = {
    order.zipWithIndex.foreach { case (c, p) =>
      val f = colIdx(c)
      if (row.isNullAt(f)) ps.setNull(p + 1, sqlTypes(f))
      else setters(f)(ps, row, f, p + 1)
    }
  }

  override def write(row: InternalRow): Unit = {
    chunk += row.copy()
    total += 1
    if (chunk.length >= options.batchSize) flushChunk()
  }

  private def keyOf(row: InternalRow): Seq[Any] =
    keyIdx.toSeq.map(i => if (row.isNullAt(i)) null else row.get(i, schema.fields(i).dataType))

  private def flushChunk(): Unit = {
    if (chunk.isEmpty) return
    // constraint validation: duplicate keys inside one chunk would make
    // the update-else-insert outcome order-dependent
    val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
    chunk.foreach { row =>
      val k = keyOf(row)
      if (!seen.add(k))
        throw new IllegalStateException(
          s"duplicate upsert key ${keys.zip(k).toMap} within one write batch " +
            s"(reference enforces pre-write uniqueness; fix the input or drop duplicates)")
    }
    val nonKeys = cols.filterNot(c => keys.exists(_.equalsIgnoreCase(c)))
    val updateBind = if (doNothing) keys else nonKeys ++ keys
    chunk.foreach { row => bind(updatePs, row, updateBind); updatePs.addBatch() }
    val updated = updatePs.executeBatch()
    chunk.zip(updated).foreach { case (row, n) =>
      if (n == 0) { bind(insertPs, row, cols); insertPs.addBatch() }
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

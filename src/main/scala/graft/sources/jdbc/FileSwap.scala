package graft.sources.jdbc

import org.apache.spark.internal.Logging

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

/** Full-refresh database **file swap** for file-backed DuckDB tables —
  * the W5 capability (reference `crates/duckdb/src/file_swap.rs:1-60`,
  * `write.rs:429-438`), re-expressed over JDBC.
  *
  * An in-place overwrite rewrites the table inside the live database
  * file; DuckDB only reclaims dropped-table space at a CHECKPOINT, and
  * checkpointing a live instance under load either fails (plain) or
  * aborts other transactions (FORCE) — so the live file grows without
  * bound under repeated full refreshes. The swap path instead:
  *
  *  1. **Stage** — partition writers stream the refreshed data into a
  *     fresh `.refresh.<millis>-<seq>.building` database file; the live
  *     file serves queries untouched.
  *  2. **Copy** — at commit, with the live identity's pool GATED and
  *     drained (the reference pauses writers for this step,
  *     `file_swap.rs:17,36` — pooled JDBC cannot tell a reader checkout
  *     from a writer one, so both pause), the staging instance ATTACHes
  *     the live file READ_ONLY and copies every *other* table (and,
  *     best-effort, the views) into itself; the refreshed table's stale
  *     rows are deliberately left behind — that is where space is
  *     reclaimed.
  *  3. **Checkpoint** — the staging file checkpoints and closes, leaving
  *     a compact, WAL-free, self-contained database; the `.building`
  *     suffix drops off (the generation is now *complete*).
  *  4. **Swap** — the live identity's connection pool retires and
  *     drains, the live WAL (if any) is neutralized by a final
  *     checkpoint of the retiring instance, and the generation file is
  *     atomically renamed over the live path. A fresh connection
  *     observes the new file; in-flight readers drain against the old
  *     inode (the rename never disturbs them).
  *
  * JDBC-level divergence from the reference, documented deliberately:
  * the reference PRAGMA-disables checkpoint-on-shutdown on the
  * retiring instance — unreachable through pooled JDBC, so the
  * retiring WAL is neutralized by an explicit drained-instance
  * CHECKPOINT instead. Copied tables keep their PRIMARY KEYs (stored
  * DDL, not CTAS) and secondary indexes/views transfer best-effort.
  *
  * Like the reference's in-process DuckDB, a file-backed database is
  * single-machine by nature: writers and the committing driver must
  * share a filesystem (local[*] or a shared mount). The swap itself is
  * driver-side and O(other tables), not O(refreshed data).
  */
object FileSwap extends Logging {

  private[jdbc] val GenerationInfix = ".refresh."
  private[jdbc] val BuildingSuffix = ".building"
  private val WalSuffix = ".wal"

  /** Monotonic per-process sequence + millis timestamp: generation names
    * never collide within a process (reference `file_swap.rs:70-78`).
    */
  private val generationSeq = new AtomicLong(0)

  private[jdbc] def walOf(p: String): String = p + WalSuffix

  /** The ONE parser of a generation filename's `<millis>-<seq>` stamp
    * (tail after `livePath.refresh.`, suffixes and all) — shared by the
    * recovery age gate and the adoption ordering so the two can never
    * disagree about a name. Unparseable pieces read as 0 (ancient /
    * oldest).
    */
  private[jdbc] def generationStamp(nameTail: String): (Long, Long) = {
    def num(t: String): Long = {
      val d = t.takeWhile(_.isDigit)
      if (d.isEmpty) 0L else try d.toLong catch { case _: NumberFormatException => 0L }
    }
    nameTail.split("-", 2) match {
      case Array(ms, sq) => (num(ms), num(sq))
      case _ => (num(nameTail), 0L)
    }
  }

  /** A fresh `.building` staging path for `livePath`. */
  private[jdbc] def newBuildingPath(livePath: String): String =
    s"$livePath$GenerationInfix${System.currentTimeMillis()}-" +
      s"${generationSeq.getAndIncrement()}$BuildingSuffix"

  /** The stable identity of the file at `path`, used to detect
    * out-of-band replacement between stage start and swap (the
    * reference's dev+inode `file_identity`, `conn.rs:77-92`, guarded by
    * its pool's open descriptor). Pooled JDBC may have NO connection
    * open to pin the inode against reuse, so the creation time joins
    * the key: a deleted-and-recreated file differs even when the
    * filesystem hands the inode straight back. None = missing.
    */
  private[jdbc] final case class FileIdentity(key: AnyRef,
      created: java.nio.file.attribute.FileTime,
      modified: java.nio.file.attribute.FileTime) {
    /** On filesystems without birth-time support the JDK reports
      * last-modified AS creationTime, so `created == modified` flags a
      * snapshot whose creation stamp moves with every routine touch
      * (sibling write, checkpoint) — useless as identity. A genuinely
      * never-modified file also reads equal; falling back to
      * fileKey-only there merely drops the inode-reuse refinement.
      */
    def birthTimeTrustworthy: Boolean = created != modified
  }

  private[jdbc] def identityOf(path: String): Option[FileIdentity] = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      Some(FileIdentity(a.fileKey(), a.creationTime(), a.lastModifiedTime()))
    } else None
  }

  /** Identity comparison that tolerates birth-time-unsupported
    * filesystems: when either snapshot's creation stamp is
    * indistinguishable from its mtime, only the fileKey decides —
    * otherwise a routine touch of the live file between write start and
    * commit would spuriously abort every fileswap.
    */
  private[jdbc] def identityMatches(a: Option[FileIdentity], b: Option[FileIdentity]): Boolean =
    (a, b) match {
      case (None, None) => true
      case (Some(x), Some(y)) =>
        x.key == y.key &&
          (x.created == y.created || !x.birthTimeTrustworthy || !y.birthTimeTrustworthy)
      case _ => false
    }

  private def deleteIfExists(path: String): Boolean =
    Files.deleteIfExists(Paths.get(path))

  /** Step 2+3: copy every non-target table (and best-effort the views)
    * from the live file into the staging instance, then checkpoint so
    * the staging file is complete and WAL-free. Runs on a STAGING
    * connection (`stagingOpts`); `targetNs`/`targetTable` is the
    * refreshed table whose stale copy stays behind.
    */
  private[jdbc] def copyOthersAndCheckpoint(stagingOpts: JdbcOptions, livePath: String,
      targetNs: String, targetTable: String,
      preserveWhere: Option[String] = None, targetCols: Seq[String] = Nil): Unit = {
    val d = stagingOpts.dialect
    stagingOpts.withConnection { c =>
      Remote.execute(c,
        s"ATTACH IF NOT EXISTS ${d.stringLiteral(livePath)} AS \"graft_live\" (READ_ONLY)")
      try {
        // overwrite-by-filter under fileswap: non-matching live rows of
        // the TARGET table ride into the refreshed copy
        preserveWhere.foreach { keep =>
          val cols = targetCols.mkString(", ")
          Remote.execute(c, s"INSERT INTO ${d.quoted(Seq(targetNs, targetTable))} ($cols) " +
            s"SELECT $cols FROM ${d.quoted(Seq("graft_live", targetNs, targetTable))} " +
            s"WHERE $keep")
        }
        // every other base table rides over WITH its constraints: the
        // stored CREATE TABLE text (duckdb_tables().sql — carries
        // PRIMARY KEY; DuckDB 1.0 has no post-hoc ADD CONSTRAINT, so a
        // bare CTAS would silently strip the PK and break later
        // upserts on the sibling) + INSERT-SELECT for the rows
        // (reference file_swap step 2)
        val tables = Remote.query(c,
          "SELECT schema_name, table_name, sql FROM duckdb_tables() " +
            "WHERE database_name = 'graft_live' AND NOT internal")(rs =>
          (rs.getString(1), rs.getString(2), rs.getString(3)))
        tables.foreach { case (ns, t, ddl) =>
          if (!(ns.equalsIgnoreCase(targetNs) && t.equalsIgnoreCase(targetTable))) {
            if (ns != "main") Remote.execute(c, s"CREATE SCHEMA IF NOT EXISTS ${d.quote(ns)}")
            Remote.execute(c, ddl)
            Remote.execute(c, s"INSERT INTO ${d.quoted(Seq(ns, t))} " +
              s"SELECT * FROM ${d.quoted(Seq("graft_live", ns, t))}")
          }
        }
        // secondary indexes ride over from their stored DDL (reference
        // copies "every other table, view, and index", file_swap.rs
        // step 2), then the views, whose stored SQL references names as
        // originally written, which resolve identically post-swap. Both
        // best-effort: one that fails to list or to transfer is left out.
        for ((kind, list) <- Seq(
            "index" -> "SELECT sql FROM duckdb_indexes() WHERE database_name = 'graft_live'",
            "view" -> ("SELECT sql FROM duckdb_views() WHERE database_name = 'graft_live' " +
              "AND NOT internal")))
          Remote.orWarn(s"file-swap $kind listing", Seq.empty[String])(
            Remote.query(c, list)(_.getString(1))).filter(_ != null).foreach(ddl =>
            Remote.orWarn(s"file-swap $kind transfer ($ddl)", ())(Remote.execute(c, ddl)))
      } finally Remote.execute(c, "DETACH \"graft_live\"")
      Remote.execute(c, "CHECKPOINT")
    }
  }

  /** The whole commit sequence: gate → drain → copy → checkpoint →
    * swap, with the live url's pool gate latched for the ENTIRE
    * copy→rename window. The reference runs its sibling copy "under
    * the pool's exclusive write gate (writers are paused)"
    * (`file_swap.rs:17,36`); gating only from the rename onward would
    * leave a lost-write window — a sibling-table write committed to the
    * live file after its snapshot was copied would be silently
    * discarded when the generation is renamed over it. JDBC has no
    * read/write checkout distinction, so the gate pauses readers too;
    * the cost is O(other tables), same as the copy itself.
    */
  private[jdbc] def commitSwap(stagingOpts: JdbcOptions, stagingUrl: String,
      buildingPath: String, liveUrl: String, livePath: String,
      liveIdentity: Option[FileIdentity], targetNs: String, targetTable: String,
      preserveWhere: Option[String], targetCols: Seq[String],
      drainTimeoutMs: Long = 15000): Unit = {
    ConnectionPool.gate(liveUrl)
    try {
      drainOrAbort(liveUrl, stagingUrl, buildingPath, drainTimeoutMs)
      copyOthersAndCheckpoint(stagingOpts, livePath, targetNs, targetTable,
        preserveWhere, targetCols)
      swapIntoLive(stagingUrl, buildingPath, liveUrl, livePath, liveIdentity, drainTimeoutMs)
    } finally ConnectionPool.ungate(liveUrl)
  }

  /** Drain the live identity or ABORT the swap. Proceeding with
    * connections still checked out is not merely "they finish against
    * the retiring instance": the driver caches ONE database instance
    * per path while any connection is open, so a straggler would pin
    * every FRESH post-ungate checkout to the pre-swap instance with no
    * error — indefinite stale reads. Aborting (retriably) leaves the
    * live file untouched and the refresh repeatable.
    */
  private def drainOrAbort(liveUrl: String, stagingUrl: String, buildingPath: String,
      timeoutMs: Long = 15000): Unit =
    if (!ConnectionPool.retireAndDrain(liveUrl, timeoutMs)) {
      discardStaging(stagingUrl, buildingPath)
      throw new java.sql.SQLTransientConnectionException(
        s"file-swap aborted: connections to $liveUrl were still checked out after the " +
          "drain window; a straggler would pin fresh readers to the pre-swap instance. " +
          "The live file is untouched; retry the refresh.")
    }

  /** Step 4: retire+drain both identities, neutralize the live WAL,
    * rename `.building` → complete generation → atomically over the live
    * path. Throws if the live file changed identity since `liveIdentity`
    * was recorded (out-of-band replacement ⇒ the refresh is stale).
    * The caller holds the live url's pool gate ([[commitSwap]]): a
    * checkout between drain and rename would re-instantiate the per-path
    * instance over the old inode and pin later readers to stale data.
    */
  private[jdbc] def swapIntoLive(stagingUrl: String, buildingPath: String,
      liveUrl: String, livePath: String, liveIdentity: Option[FileIdentity],
      drainTimeoutMs: Long = 15000): Unit = {
    ConnectionPool.retireAndDrain(stagingUrl)

    if (!identityMatches(identityOf(livePath), liveIdentity)) {
      deleteIfExists(buildingPath); deleteIfExists(walOf(buildingPath))
      throw new IllegalStateException(
        s"file-swap aborted: $livePath was replaced out-of-band during the refresh " +
          "(reference file_swap.rs aborts identically); the live file is untouched")
    }

    drainOrAbort(liveUrl, stagingUrl, buildingPath, drainTimeoutMs)
    // A WAL at the live path belongs to the RETIRING generation; were it
    // left behind, the next open of the NEW file would replay foreign
    // WAL. The drained instance checkpoints it away (divergence (a) in
    // the scaladoc); a fresh single connection can always checkpoint.
    if (Files.exists(Paths.get(walOf(livePath)))) {
      scala.util.Using.resource(JdbcOptions.physicalConnect(liveUrl, Map.empty))(
        Remote.execute(_, "CHECKPOINT"))
      ConnectionPool.retireAndDrain(liveUrl)
      if (deleteIfExists(walOf(livePath)))
        logWarning(s"file-swap: removed a live WAL that survived the retiring checkpoint")
    }

    val completed = buildingPath.stripSuffix(BuildingSuffix)
    Files.move(Paths.get(buildingPath), Paths.get(completed),
      StandardCopyOption.ATOMIC_MOVE)
    deleteIfExists(walOf(buildingPath))
    Files.move(Paths.get(completed), Paths.get(livePath),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    logInfo(s"file-swap: $livePath refreshed from generation " +
      buildingPath.stripSuffix(BuildingSuffix).substring(livePath.length))
  }

  /** Drop an abandoned staging file (write abort / failed commit). */
  private[jdbc] def discardStaging(stagingUrl: String, buildingPath: String): Unit = {
    ConnectionPool.retireAndDrain(stagingUrl)
    deleteIfExists(buildingPath)
    deleteIfExists(walOf(buildingPath))
  }

  /** The outcome of boot-time generation recovery. */
  final case class Recovery(adopted: Option[String], removed: Seq[String])

  /** Recover from an interrupted swap, before any pool exists for
    * `livePath` (reference `recover_database_file_generations`,
    * `file_swap.rs:104-120`). Every DELETION is age-gated on the
    * filename's millis stamp ([[JdbcBatchWrite.StaleStageAgeMs]]):
    * recovery runs at CATALOG initialize, which is lazy and can fire
    * while another catalog over the same file has a swap in flight —
    * that swap's young `.building` and just-completed generation must
    * survive the sweep. Rules, in order:
    *  - STALE `*.refresh.*.building` files (and WALs) are incomplete
    *    staging output from a crashed swap: deleted.
    *  - If the live file exists it is authoritative: stale completed
    *    generations are deleted.
    *  - Otherwise the newest completed generation (by millis-seq) is
    *    adopted — renamed to the live path; older ones are deleted. A
    *    generation with a leftover WAL never checkpointed cleanly and is
    *    treated as incomplete.
    */
  def recover(livePath: String): Recovery = {
    val live = Paths.get(livePath)
    val dir = Option(live.getParent).getOrElse(Paths.get("."))
    if (!Files.isDirectory(dir)) return Recovery(None, Nil)
    val prefix = live.getFileName.toString + GenerationInfix
    val siblings: Seq[Path] = {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toList
      } finally s.close()
    }
    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    def rm(p: Path): Unit = if (Files.deleteIfExists(p)) removed += p.toString

    // Deletions are AGE-GATED: a catalog can initialize (lazily, at any
    // time) while another catalog over the SAME file has a swap in
    // flight — its young `.building` staging file and its
    // just-completed generation must survive this sweep. Only files
    // older than the stale threshold (no swap runs for an hour;
    // unparseable stamps count as ancient) are crash leftovers.
    def bornAt(p: Path): Long =
      generationStamp(p.getFileName.toString.stripPrefix(prefix))._1
    val now = System.currentTimeMillis()
    def stale(p: Path): Boolean = now - bornAt(p) > JdbcBatchWrite.StaleStageAgeMs

    val (incomplete, rest) = siblings.partition { p =>
      val n = p.getFileName.toString
      n.endsWith(BuildingSuffix) || n.endsWith(BuildingSuffix + WalSuffix)
    }
    incomplete.filter(stale).foreach(rm)
    val (wals, candidates0) = rest.partition(_.getFileName.toString.endsWith(WalSuffix))
    // a completed-looking generation whose WAL survived never closed
    // cleanly: incomplete, out it goes with its WAL
    val tainted = candidates0.filter(p => Files.exists(Paths.get(walOf(p.toString))))
    tainted.filter(stale).foreach(rm); wals.filter(stale).foreach(rm)
    val candidates = candidates0.filterNot(tainted.contains)

    if (Files.exists(live)) {
      candidates.filter(stale).foreach(rm); Recovery(None, removed.toList)
    }
    else if (candidates.isEmpty) Recovery(None, removed.toList)
    else {
      def genKey(p: Path): (Long, Long) =
        generationStamp(p.getFileName.toString.stripPrefix(prefix))
      val newest = candidates.maxBy(genKey)
      // same age gate as every other deletion: a YOUNG older generation
      // can belong to another catalog's in-flight swap over this path
      candidates.filterNot(_ == newest).filter(stale).foreach(rm)
      Files.move(newest, live, StandardCopyOption.ATOMIC_MOVE)
      logInfo(s"file-swap recovery: adopted ${newest.getFileName} as $livePath")
      Recovery(Some(newest.toString), removed.toList)
    }
  }
}

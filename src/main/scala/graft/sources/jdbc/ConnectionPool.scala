package graft.sources.jdbc

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, SQLException, SQLTransientConnectionException}
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Per-executor (per-JVM) JDBC connection pool, keyed by the canonical
  * connection identity (url, user, password, poolmax).
  *
  * The reference's central abstraction is a per-connector connection
  * pool (`crates/common/src/sql/db_connection_pool/mod.rs:59-64` — bb8 /
  * r2d2 per backend); without one, every short Spark task opens a fresh
  * physical connection, and at 1000 executors a scan of small partitions
  * becomes a connection storm against the remote database. Spark ships
  * table options to executors as plain maps, so the pool is a JVM-wide
  * lazily-populated singleton keyed by those options — the
  * `transient lazy` per-executor pattern SURVEY §1.1 prescribes.
  *
  * [[JdbcOptions.connect]] returns a PROXY whose `close()` releases the
  * physical connection back to the pool (after resetting autocommit), so
  * every reader / writer / catalog call site pools transparently and a
  * leaked proxy can be released exactly once. Liveness is checked once
  * per borrow (`isValid` when an idle connection is taken), and when
  * `poolmax` connections are already checked out, acquisition blocks up
  * to [[AcquireTimeoutSec]] and then fails with a retriable
  * `SQLTransientConnectionException` (classified by [[RetriableErrors]])
  * instead of deadlocking the task.
  */
object ConnectionPool {

  /** Max seconds a borrower waits for a permit before failing retriably. */
  val AcquireTimeoutSec = 60L

  private final case class Key(url: String, user: String, password: String, max: Int,
      sessionInit: Seq[String])

  // The key uses the credential SPEC (file path / env name), not the
  // resolved secret — a rotated passwordfile keeps hitting one pool.
  // Connection-init statements (attachments + session settings) join
  // the key: two tables on the same server with different settings or
  // attach sets must never share a physical connection.
  private def keyOf(o: JdbcOptions): Key =
    Key(o.url, o.map.getOrElse("user", ""),
      o.map.getOrElse("password",
        o.map.getOrElse("passwordfile", o.map.getOrElse("passwordenv", ""))),
      o.poolMax, o.connectionInit)

  private final class Pool(key: Key, opts: Map[String, String]) {
    private val idle = new ConcurrentLinkedQueue[Connection]()
    private val permits = new Semaphore(key.max, true)
    val opened = new AtomicLong(0)
    /** A retired pool closes connections on release instead of idling
      * them, so a drained identity holds no file descriptors (the
      * DuckDB file-swap repoint needs the per-path instance fully gone
      * before the new file becomes visible to a fresh connection).
      */
    @volatile var retired = false

    /** Connections borrowed and not yet released. */
    def checkedOut: Int = key.max - permits.availablePermits()

    /** Close all idle connections now; report whether every permit is
      * home (nothing checked out).
      */
    def drain(): Boolean = {
      var c = idle.poll()
      while (c != null) { closeQuietly(c); c = idle.poll() }
      permits.availablePermits() == key.max
    }

    def acquire(): Connection = {
      if (!permits.tryAcquire(AcquireTimeoutSec, TimeUnit.SECONDS))
        throw new SQLTransientConnectionException(
          s"connection pool exhausted (${key.max} in use) for ${key.url}")
      try {
        var c = idle.poll()
        while (c != null && !isLive(c)) { closeQuietly(c); c = idle.poll() }
        if (c == null) {
          c = JdbcOptions.physicalConnect(key.url, opts)
          // apply validated session settings to the fresh physical
          // connection (the reference applies its registry per
          // connection the same way, settings.rs:188-218); a rejected
          // statement must close the just-opened connection, not leak
          // its socket across task retries
          if (key.sessionInit.nonEmpty) {
            try {
              val st = c.createStatement()
              try key.sessionInit.foreach(st.execute) finally st.close()
            } catch { case t: Throwable => closeQuietly(c); throw t }
          }
          opened.incrementAndGet()
        }
        c
      } catch { case t: Throwable => permits.release(); throw t }
    }

    def release(c: Connection): Unit =
      try { if (!retired && reset(c)) idle.offer(c) else closeQuietly(c) }
      finally permits.release()

    /** Back to autocommit, warnings cleared; false → do not reuse. Only
      * `isClosed` is checked here: the next borrow's `isValid` catches a
      * connection that dies while idle, and DuckDB's `isValid` is a query. */
    private def reset(c: Connection): Boolean =
      try {
        if (c.isClosed) false
        else {
          if (!c.getAutoCommit) { c.rollback(); c.setAutoCommit(true) }
          c.clearWarnings()
          true
        }
      } catch { case _: Throwable => false }

    private def isLive(c: Connection): Boolean =
      try !c.isClosed && c.isValid(2) catch { case _: Throwable => false }

    private def closeQuietly(c: Connection): Unit =
      try c.close() catch { case _: Throwable => () }
  }

  private val pools = TrieMap.empty[Key, Pool]

  private def poolFor(o: JdbcOptions): Pool =
    pools.getOrElseUpdate(keyOf(o), new Pool(keyOf(o), o.map))

  /** URLs currently inside a file-swap window: a fresh checkout between
    * the drain and the rename would re-instantiate the per-path DuckDB
    * instance over the OLD inode and pin every later reader to stale
    * data — so checkouts for a gated url WAIT for the swap to finish
    * (the reference's pool repoint is atomic in-process,
    * `file_swap.rs` step 4; this gate is the JDBC equivalent).
    */
  private val gated = TrieMap.empty[String, java.util.concurrent.CountDownLatch]

  private[jdbc] def gate(url: String): Unit = {
    gated.putIfAbsent(url, new java.util.concurrent.CountDownLatch(1)); ()
  }

  private[jdbc] def ungate(url: String): Unit =
    gated.remove(url).foreach(_.countDown())

  /** Borrow a physical connection and wrap it so `close()` releases it
    * back to this pool; all other Connection methods delegate.
    *
    * The gate is re-checked AFTER the pool borrow: a thread that passed
    * the first check just before `gate()` was installed would otherwise
    * create a fresh pool during the drain-to-rename window — a pool the
    * swap's earlier retire snapshot never saw, pinning every later
    * reader to the pre-swap instance. Ordering makes the re-check
    * sound: this pool entered the map BEFORE the re-check, so if the
    * re-check sees no gate, any later swap's retire pass (which runs
    * after its gate()) will see and retire this pool.
    */
  def acquire(o: JdbcOptions): Connection = {
    def awaitGate(): Unit = gated.get(o.url).foreach { l =>
      if (!l.await(AcquireTimeoutSec, TimeUnit.SECONDS))
        throw new SQLTransientConnectionException(
          s"file swap did not finish within ${AcquireTimeoutSec}s for ${o.url}")
    }
    var attempt = 0
    var pool: Pool = null
    var real: Connection = null
    while (real == null) {
      awaitGate()
      pool = poolFor(o)
      val c = pool.acquire()
      if (gated.contains(o.url) || pool.retired) {
        // raced a swap: this pool (and its just-opened connection to
        // the PRE-swap file) must die, not idle — a pool created after
        // the swap's retire snapshot is invisible to the swap, so
        // releasing into it would hand the stale connection out again
        // after the gate lifts. Retire it ourselves and drop it from
        // the map; release then closes the connection.
        pool.retired = true
        pools.remove(keyOf(o), pool)
        pool.release(c)
        attempt += 1
        if (attempt > 100)
          throw new SQLTransientConnectionException(
            s"file swaps kept gating ${o.url} across $attempt borrow attempts")
      } else real = c
    }
    val handler = new InvocationHandler {
      @volatile private var released = false
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef =
        m.getName match {
          case "close" =>
            if (!released) { released = true; pool.release(real) }
            null
          case "isClosed" if released => java.lang.Boolean.TRUE
          case "toString" => s"PooledConnection($real)"
          case _ =>
            if (released)
              throw new SQLException("connection already returned to the pool")
            try {
              if (args == null) m.invoke(real)
              else m.invoke(real, args: _*)
            } catch { case e: InvocationTargetException => throw e.getCause }
        }
    }
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[Connection]), handler).asInstanceOf[Connection]
  }

  /** Physical connections ever opened for this identity (test hook: a
    * q56-style N-partition scan must open ≤ poolmax of these).
    */
  private[jdbc] def physicalOpens(o: JdbcOptions): Long =
    pools.get(keyOf(o)).map(_.opened.get()).getOrElse(0L)

  /** Connections of this identity currently borrowed (test hook: a
    * finished job, failed or not, must have returned every one).
    */
  private[jdbc] def checkedOut(o: JdbcOptions): Int =
    pools.get(keyOf(o)).map(_.checkedOut).getOrElse(0)

  /** Retire every pool of `url` and wait (bounded) for full drain.
    *
    * The DuckDB file-swap repoint (reference `file_swap.rs` step 4 —
    * "atomically repoint the connection pool") maps onto JDBC like
    * this: the driver caches ONE database instance per path while any
    * connection to it is open, so a fresh connection observes a swapped
    * file only after the last old connection closes. Retiring closes
    * all idle connections immediately and makes checked-out ones close
    * on release; the wait gives in-flight readers a drain window.
    * Returns true when fully drained; false = timeout expired with
    * borrowers still out (they keep reading the retiring instance and
    * a fresh checkout sees the new file only after they finish —
    * exactly the reference's "in-flight readers drain against the old
    * instance" semantics, stretched over the drain window).
    */
  private[jdbc] def retireAndDrain(url: String, timeoutMs: Long = 15000): Boolean = {
    val targets = pools.toSeq.filter(_._1.url == url)
    targets.foreach { case (k, p) => p.retired = true; pools.remove(k) }
    val deadline = System.currentTimeMillis() + timeoutMs
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      done = targets.forall(_._2.drain())
      if (!done) Thread.sleep(50)
    }
    done || targets.forall(_._2.drain())
  }
}

package graft.sources.jdbc

import org.apache.spark.internal.Logging

import java.sql.{Connection, ResultSet, ResultSetMetaData, SQLException}

/** One-shot remote statements: DDL, DML, catalog and planning lookups
  * that run once on a borrowed connection ([[JdbcOptions.withConnection]])
  * and hand back a count or a few rows. The reference sends every such
  * call through its one `DbConnection` trait (`dbconnection.rs:46-151`);
  * this is the JDBC seam for the same job, so a statement and its
  * ResultSet are closed on every path. Scans stream through
  * [[JdbcCursor]] and writers bind prepared statements instead.
  *
  * It is also the one place a remote failure is classified
  * (the reference's `retriable_error.rs:19-60`): a lookup the operation
  * can do without runs through [[orWarn]]; any other remote error
  * propagates to the caller.
  */
object Remote extends Logging {

  /** Runs `sql` on one statement: `execute`, because DuckDB's ATTACH,
    * DETACH and CHECKPOINT are not updates. Returns the update count,
    * -1 when the statement produced rows or none is reported. */
  def execute(c: Connection, sql: String): Int = {
    val st = c.createStatement()
    try { st.execute(sql); st.getUpdateCount } finally st.close()
  }

  /** Every row of query `sql`, each read by `row`. */
  def query[A](c: Connection, sql: String)(row: ResultSet => A): Seq[A] = {
    val st = c.createStatement()
    try rows(st.executeQuery(sql))(row) finally st.close()
  }

  /** Drains `rs` (a query's or a `DatabaseMetaData` call's) through
    * `row`, closing it on every path. */
  def rows[A](rs: ResultSet)(row: ResultSet => A): Seq[A] =
    try {
      val out = Vector.newBuilder[A]
      while (rs.next()) out += row(rs)
      out.result()
    } finally rs.close()

  /** The result columns of `sql`, read by `f` from a prepared statement
    * that is never executed. */
  def describe[A](c: Connection, sql: String)(f: ResultSetMetaData => A): A = {
    val ps = c.prepareStatement(sql)
    try f(ps.getMetaData) finally ps.close()
  }

  /** `lookup`, or `fallback` when it fails remotely: a `SQLException`
    * logs one WARN naming `what` and the error. For lookups that
    * planning or write bookkeeping can do without; any other exception
    * propagates. */
  def orWarn[A](what: String, fallback: => A)(lookup: => A): A =
    try lookup
    catch { case e: SQLException =>
      logWarning(s"graft-jdbc: $what failed, going on without it: $e")
      fallback
    }
}

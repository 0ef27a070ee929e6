package graft.sources.jdbc

import java.sql.{Connection, ResultSet}

/** One-shot remote statements: DDL, DML, catalog and planning lookups
  * that run once on a borrowed connection ([[JdbcOptions.withConnection]])
  * and hand back a count or a few rows. The reference sends every such
  * call through its one `DbConnection` trait (`dbconnection.rs:46-151`);
  * this is the JDBC seam for the same job, so a statement and its
  * ResultSet are closed on every path. Scans stream through
  * [[JdbcCursor]] and writers bind prepared statements instead.
  */
object Remote {

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
}

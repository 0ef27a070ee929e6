package graft.sources.jdbc

import graft.plans.CatalystUnparser
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Remote DML that Spark's DataFrame API has no verb for:
  * `UPDATE t SET … WHERE …` (reference `UpdateSink`,
  * `crates/common/src/util/dml.rs:126-165`, DuckDB impl
  * `write.rs:281-385`).
  *
  * Assignments and predicate are Spark `Column`s over the table's
  * columns; they are unparsed to one dialect SQL statement executed
  * remotely — no data moves through Spark at all (the whole point of
  * pushed DML at 100 TB).
  */
object Dml {

  /** Execute `UPDATE table SET assignments WHERE where` on the remote
    * store backing the catalog table `name`; returns affected-row count.
    */
  def update(spark: SparkSession, name: String,
      assignments: Seq[(String, Column)], where: Column): Long =
    remote(spark, name, where) { (t, sqlOf) =>
      val sets = assignments
        .map { case (col, v) => s"${t.options.dialect.quote(col)} = ${sqlOf(v)}" }.mkString(", ")
      s"UPDATE ${t.options.table} SET $sets"
    }

  /** Execute `DELETE FROM table WHERE where` remotely; returns the
    * affected-row count (the reference's `CountExec` result for DML,
    * `crates/common/src/util/count_exec.rs:14-70` — Spark SQL's
    * `DELETE FROM` path cannot surface it, this API does).
    */
  def delete(spark: SparkSession, name: String, where: Column): Long =
    remote(spark, name, where)((t, _) => s"DELETE FROM ${t.options.table}")

  /** Resolve catalog table `name` to its graft JDBC table, build one
    * statement with `sqlOf` rendering Columns over that table in its
    * dialect, append ` WHERE <where>` and execute it remotely.
    */
  private def remote(spark: SparkSession, name: String, where: Column)(
      statement: (GraftJdbcTable, Column => String) => String): Long = {
    val df = spark.table(name)
    val rel = df.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftJdbcTable] => r
    }.getOrElse(throw new IllegalArgumentException(
      s"$name is not a graft JDBC table"))
    val t = rel.table.asInstanceOf[GraftJdbcTable]
    val d = t.options.dialect

    // Resolve each Column through a throwaway projection on the SAME
    // relation instance, so attribute ids line up and type coercion is
    // the analyzer's, not ours.
    def analyzed(c: Column): Expression =
      df.select(c).queryExecution.analyzed.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head match {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
            case e => e
          }
      }.getOrElse(throw new IllegalArgumentException(s"cannot analyze $c"))

    val unparser = new CatalystUnparser(d, rel.output.map(a => a.exprId -> d.quote(a.name)).toMap)
    def sqlOf(c: Column, isPredicate: Boolean): String =
      unparser.expr(analyzed(c), isPredicate).getOrElse(
        throw new IllegalArgumentException(s"expression not unparsable for ${d.name}: $c"))
    val head = statement(t, sqlOf(_, isPredicate = false))
    val sql = s"$head WHERE ${sqlOf(where, isPredicate = true)}"
    t.options.withConnection(Remote.execute(_, sql)).toLong
  }
}

package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.DriverManager

/** Remote metadata has one introspection and one cache
  * ([[SchemaProjection.describe]]): every catalog load and source
  * inference re-reads a table, so scans follow a remote ALTER, and an
  * expression aggregate's type probe is one entry per statement shape,
  * not per literal set.
  */
class RemoteMetadataSpec extends AnyFunSuite with SparkFixture {

  private def derby(sql: String): Unit = {
    val c = DriverManager.getConnection(SparkFixture.derbyUrl)
    try {
      val st = c.createStatement()
      try st.execute(sql) finally st.close()
    } finally c.close()
  }

  test("a pinned table follows a remote DROP COLUMN and ADD COLUMN (Derby)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.meta")
    spark.sql("DROP TABLE IF EXISTS ext.meta.alt")
    import spark.implicits._
    Seq((1L, "a", 10, "x"), (2L, "b", 20, "y")).toDF("id", "name", "n", "tag")
      .writeTo("ext.meta.alt").create()
    spark.conf.set("spark.sql.catalog.pmeta", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pmeta.url", SparkFixture.derbyUrl)
    spark.conf.set("spark.sql.catalog.pmeta.pincolumns", "id,name")
    def folded(): Seq[String] =
      spark.table("pmeta.meta.alt").orderBy("id").collect().map(_.getString(2)).toSeq

    assert(folded() == Seq("""{"n":10,"tag":"x"}""", """{"n":20,"tag":"y"}"""))
    // the catch-all scan must stop selecting the dropped column
    derby("ALTER TABLE \"meta\".\"alt\" DROP COLUMN \"tag\"")
    assert(folded() == Seq("""{"n":10}""", """{"n":20}"""))
    derby("ALTER TABLE \"meta\".\"alt\" ADD COLUMN \"extra\" INT")
    assert(folded() == Seq("""{"extra":null,"n":10}""", """{"extra":null,"n":20}"""))
  }

  test("an expression aggregate's type probe is prepared once across literal sets (Derby)") {
    RecordingDriver.register
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.meta")
    spark.sql("DROP TABLE IF EXISTS ext.meta.g")
    import spark.implicits._
    (1L to 9L).map(i => (i, i * 10L)).toDF("k", "v").writeTo("ext.meta.g").create()
    spark.conf.set("spark.sql.catalog.rmeta", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rmeta.url",
      RecordingDriver.Prefix + SparkFixture.derbyUrl.stripPrefix("jdbc:"))
    spark.conf.set("spark.sql.catalog.rmeta.dialect", "derby")
    def sums(lo: Long): Seq[(Long, Long)] = spark.table("rmeta.meta.g")
      .filter(col("k") > lo).groupBy((col("k") % 3).as("b")).agg(sum("v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

    RecordingDriver.clear()
    assert(sums(1L) == Seq((0L, 180L), (1L, 110L), (2L, 150L)))
    assert(sums(2L) == Seq((0L, 180L), (1L, 110L), (2L, 130L)))
    val grouped = RecordingDriver.statements.map(_._1).filter(_.contains("GROUP BY"))
    // both aggregates ran remotely, each with its own pushed WHERE …
    assert(RecordingDriver.executed.filter(_.contains("GROUP BY")).distinct.size == 2, grouped)
    // … and the probe, without the WHERE, was prepared once
    assert(grouped.count(!_.contains("WHERE")) == 1, grouped)
  }
}

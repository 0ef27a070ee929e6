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

  test("a federated expression aggregate's type probe is not cached per literal set (Derby)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ext.meta")
    Seq("fact", "dim").foreach(t => spark.sql(s"DROP TABLE IF EXISTS ext.meta.$t"))
    import spark.implicits._
    (1L to 40L).map(i => (i, i % 20, i * 10L)).toDF("fid", "fdim", "v").writeTo("ext.meta.fact").create()
    (0L until 20L).map(i => (i, s"d$i")).toDF("dim_id", "name").writeTo("ext.meta.dim").create()
    def sums(lo: Long) = spark.table("ext.meta.fact").filter(col("v") > lo)
      .join(spark.table("ext.meta.dim"), col("fdim") === col("dim_id"))
      .groupBy((col("dim_id") % 10).as("b")).agg(sum("v").as("s"))
    val first = sums(0L)
    val plan = first.queryExecution.executedPlan.toString
    assert("GraftJdbcScan".r.findAllIn(plan).length == 1 && plan.contains("GROUP BY"), plan)
    assert(first.collect().map(_.getLong(1)).sum == (1L to 40L).map(_ * 10L).sum)
    // each literal set is a new derived FROM with fresh correlation
    // names: its probe runs, and nothing is left behind in the cache
    val cached = SchemaProjection.cachedCount
    (1 to 20).foreach { i =>
      assert(sums(i * 10L).collect().map(_.getLong(1)).sum == (i + 1L to 40L).map(_ * 10L).sum)
    }
    assert(SchemaProjection.cachedCount == cached)
  }
}

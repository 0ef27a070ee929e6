package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized aggregate-pushdown equivalence: GROUP BY plans whose
  * aggregates push into the remote SQL (live Derby AND live DuckDB)
  * must produce the same rows as the identical plan over an in-memory
  * mirror — NULL-skipping
  * aggregate semantics, empty groups, filters below the aggregate, and
  * the distinct flavors included. (The single golden is q57; this
  * sweeps the combinations.) AVG over the BIGINT `v` and SUM over the
  * REAL `f` must stay local: Derby's integer AVG divides as integers and
  * a remote REAL sum accumulates in single precision.
  */
class AggPushdownPropertySpec extends AnyFunSuite with SparkFixture {

  private lazy val rows: Seq[(Int, java.lang.Long, java.lang.Double, java.lang.Float)] =
    (1 to 60).map { i =>
      val g = i % 5
      val v: java.lang.Long = if (i % 7 == 0) null else Long.box((i * 11 % 23).toLong)
      val d: java.lang.Double = if (i % 9 == 0) null else Double.box((i * 13 % 17) * 1.5)
      val f: java.lang.Float = if (i % 8 == 0) null else Float.box((i * 7 % 11) * 1.1f)
      (g, v, d, f)
    }

  private def setup(catalog: String): String = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.ap")
    spark.sql(s"DROP TABLE IF EXISTS $catalog.ap.t")
    import spark.implicits._
    rows.toDF("g", "v", "d", "f").writeTo(s"$catalog.ap.t").create()
    s"$catalog.ap.t"
  }

  private def aggs(rnd: Random): Seq[Column] = {
    val pool: Seq[() => Column] = Seq(
      () => count(lit(1)).as(s"a${rnd.nextInt()}"),
      () => count(col("v")).as(s"a${rnd.nextInt()}"),
      () => countDistinct(col("v")).as(s"a${rnd.nextInt()}"),
      () => sum(col("v")).as(s"a${rnd.nextInt()}"),
      () => min(col("d")).as(s"a${rnd.nextInt()}"),
      () => max(col("v")).as(s"a${rnd.nextInt()}"),
      () => avg(col("d")).as(s"a${rnd.nextInt()}"),
      () => sum_distinct(col("v")).as(s"a${rnd.nextInt()}"),
      () => avg(col("v")).as(s"a${rnd.nextInt()}"),
      () => sum(col("f")).as(s"a${rnd.nextInt()}"))
    (0 to rnd.nextInt(3)).map(_ => pool(rnd.nextInt(pool.length))())
  }

  private def build(df: DataFrame, seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val filtered =
      if (rnd.nextBoolean()) df.filter(col("v") % 3 =!= 1 || col("v").isNull) else df
    val as = aggs(new Random(seed * 31))
    if (rnd.nextBoolean()) filtered.groupBy("g").agg(as.head, as.tail: _*)
    else filtered.agg(as.head, as.tail: _*) // global aggregate
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def sweep(name: String): Unit = {
    import spark.implicits._
    val local = rows.toDF("g", "v", "d", "f")
    for (seed <- 1 to 25) {
      val got = sortedRows(build(spark.table(name), seed))
      val want = sortedRows(build(local, seed))
      assert(got == want, s"seed=$seed diverged:\n got=$got\nwant=$want")
    }
  }

  test("random GROUP BY aggregates: pushed Derby scan == in-memory mirror") {
    sweep(setup("ext"))
  }

  // Same sweep on the flagship connector's live wire: DuckDB evaluates
  // the pushed SUM/AVG/COUNT(DISTINCT) SQL itself, so NULL-skipping and
  // distinct semantics are checked against the real engine, not Derby.
  test("random GROUP BY aggregates: pushed live-DuckDB scan == in-memory mirror") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_apduck").toString
    spark.conf.set("spark.sql.catalog.apduck", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.apduck.url", s"jdbc:duckdb:$dir/sweep.duckdb")
    sweep(setup("apduck"))
  }
}

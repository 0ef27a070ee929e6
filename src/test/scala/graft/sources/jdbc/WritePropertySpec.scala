package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized write-path state machine: a sequence of random upserts
  * (update and do-nothing modes), pushed DELETEs, pushed UPDATEs and
  * overwrites-by-filter that carry upsert options (which an overwrite
  * ignores) applied to a keyed remote table must leave EXACTLY the
  * state an in-memory model predicts after every step — the
  * cross-operation interactions (upsert over deleted keys, do-nothing
  * over updated rows, update of just-upserted values) that the
  * per-operation goldens in WriteHardeningSpec cannot enumerate. Runs
  * on both live wires: Derby (update-else-insert conflict handling) and
  * DuckDB (native ON CONFLICT), whose conflict machinery shares no code.
  */
class WritePropertySpec extends AnyFunSuite with SparkFixture {

  private def state(table: String): Map[Long, (Long, String)] =
    spark.table(table).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap

  private def machine(catalog: String): Unit = {
    val table = s"$catalog.wp.t"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.wp")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    import spark.implicits._
    // PK on k so the target-less do_nothing_all arm has a constraint to hit
    spark.sql(s"CREATE TABLE $table (k BIGINT NOT NULL, v BIGINT, s STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    Seq((1L, 10L, "seed")).toDF("k", "v", "s").writeTo(table).append()
    var model = Map(1L -> (10L, "seed"))

    val rnd = new Random(2026)
    for (step <- 1 to 36) {
      rnd.nextInt(7) match {
        case 0 => // upsert (update mode)
          val batch = (1 to 1 + rnd.nextInt(4)).map { _ =>
            val k = rnd.nextInt(12).toLong
            (k, rnd.nextInt(100).toLong, s"u$step")
          }.distinctBy(_._1)
          batch.toDF("k", "v", "s").writeTo(table)
            .option("upsertkeys", "k").append()
          batch.foreach { case (k, v, s) => model += k -> (v, s) }
        case 1 => // upsert (do-nothing mode): only new keys land
          val batch = (1 to 1 + rnd.nextInt(4)).map { _ =>
            val k = rnd.nextInt(12).toLong
            (k, rnd.nextInt(100).toLong, s"n$step")
          }.distinctBy(_._1)
          batch.toDF("k", "v", "s").writeTo(table)
            .option("upsertkeys", "k").option("upsertmode", "do_nothing").append()
          batch.foreach { case (k, v, s) =>
            if (!model.contains(k)) model += k -> (v, s)
          }
        case 2 => // pushed DELETE WHERE
          val lo = rnd.nextInt(12).toLong
          spark.sql(s"DELETE FROM $table WHERE k >= $lo AND k < ${lo + 3}")
          model = model.filterNot { case (k, _) => k >= lo && k < lo + 3 }
        case 3 => // pushed UPDATE SET v = v + 1 WHERE k % 2 = par
          val par = rnd.nextInt(2)
          Dml.update(spark, table, Seq("v" -> (col("v") + 1)),
            col("k") % 2 === par)
          model = model.map { case (k, (v, s)) =>
            k -> (if (k % 2 == par) (v + 1, s) else (v, s))
          }
        case 4 => // reference token syntax: the colon list IS the target
          val batch = (1 to 1 + rnd.nextInt(4)).map { _ =>
            val k = rnd.nextInt(12).toLong
            (k, rnd.nextInt(100).toLong, s"t$step")
          }.distinctBy(_._1)
          batch.toDF("k", "v", "s").writeTo(table)
            .option("upsertmode", "upsert:k").append()
          batch.foreach { case (k, v, s) => model += k -> (v, s) }
        case 5 => // do_nothing_all: the PK constraint decides, conflicts skip
          val batch = (1 to 1 + rnd.nextInt(4)).map { _ =>
            val k = rnd.nextInt(12).toLong
            (k, rnd.nextInt(100).toLong, s"a$step")
          }.distinctBy(_._1)
          batch.toDF("k", "v", "s").writeTo(table)
            .option("upsertmode", "do_nothing_all").append()
          batch.foreach { case (k, v, s) =>
            if (!model.contains(k)) model += k -> (v, s)
          }
        case 6 => // overwrite-by-filter: a plain replace, whatever the upsert options say
          val lo = rnd.nextInt(12).toLong
          val batch = (1 to 1 + rnd.nextInt(3)).map { _ =>
            val k = lo + rnd.nextInt(3)
            (k, rnd.nextInt(100).toLong, s"o$step")
          }.distinctBy(_._1)
          val w = batch.toDF("k", "v", "s").writeTo(table)
          (if (rnd.nextBoolean()) w.option("upsertmode", "do_nothing_all")
           else w.option("upsertkeys", "k")).overwrite(col("k") >= lo && col("k") < lo + 3)
          model = model.filterNot { case (k, _) => k >= lo && k < lo + 3 } ++
            batch.map { case (k, v, s) => k -> (v, s) }
      }
      assert(state(table) == model, s"diverged after step $step")
    }
  }

  test("random upsert/delete/update sequences: remote state == model (Derby)") {
    machine("ext")
  }

  test("random upsert/delete/update sequences: remote state == model (live DuckDB)") {
    assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_wpduck").toString
    spark.conf.set("spark.sql.catalog.wpduck", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wpduck.url", s"jdbc:duckdb:$dir/sweep.duckdb")
    machine("wpduck")
  }
}

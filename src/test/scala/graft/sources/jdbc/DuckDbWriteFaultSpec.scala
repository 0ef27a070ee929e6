package graft.sources.jdbc

import graft.SparkFixture
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicLong

/** Injected task failures on the DuckDB write path, under `local[4,2]`
  * so a failed task is retried once. The Appender commits its flushes
  * outside any transaction, so these specs pin what the task-tagged
  * stage guarantees instead: a retried partition's flushed first
  * attempt never reaches the target, and a write that fails on every
  * attempt leaves the target, the schema and the connection pool as
  * they were.
  *
  * The specs need their own SparkContext (the retry count is fixed when
  * a context starts), so the JVM-shared spec session is stopped first;
  * the next suite's [[SparkFixture]] starts a fresh one.
  */
class DuckDbWriteFaultSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var session: SparkSession = _
  private def spark: SparkSession = session

  private lazy val url: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_duckfault").toString
    s"jdbc:duckdb:$dir/fault.duckdb"
  }
  private def opts = JdbcOptions(Map("url" -> url))

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (DuckDbWireSpec.driverPresent) {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
      session = SparkFixture.builder("local[4,2]").getOrCreate()
      spark.conf.set("spark.sql.catalog.fd", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set("spark.sql.catalog.fd.url", url)
      // small flushes: a failing attempt has committed stage rows first
      spark.conf.set("spark.sql.catalog.fd.batchsize", "50")
      spark.sql("CREATE NAMESPACE IF NOT EXISTS fd.app")
    }
  }

  override def afterAll(): Unit =
    try if (session != null) {
      session.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    } finally super.afterAll()

  private def init(): Unit = assume(DuckDbWireSpec.driverPresent, "duckdb_jdbc driver not on classpath")

  private def stageTables(): Seq[String] = {
    val c = opts.connect()
    try {
      val rs = c.getMetaData.getTables(null, "app", "%__stage_%", Dialect.TableTypes)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) out += rs.getString("TABLE_NAME")
      rs.close()
      out.toSeq
    } finally c.close()
  }

  private def rows(table: String): Seq[(Long, String)] =
    spark.table(table).collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  /** 4000 rows in 4 partitions; `v` fails in partition 2 at k = 2500
    * (its 501st row) on the attempts `fails` selects. */
  private def input(fails: Int => Boolean) = {
    val u = udf { (k: Long) =>
      val tc = TaskContext.get()
      if (k == 2500L && fails(tc.attemptNumber())) {
        DuckDbWriteFaultSpec.flushedBeforeFailure.set(DuckDbWriteFaultSpec.stagedRowsOf(
          tc.taskAttemptId()))
        throw new IllegalStateException(s"injected failure, attempt ${tc.attemptNumber()}")
      }
      s"v$k"
    }.asNondeterministic()
    spark.range(0, 4000, 1, 4).select(col("id").as("k"), u(col("id")).as("v"))
  }

  test("a retried partition's flushed first attempt lands exactly once (append + upsert)") {
    init()
    DuckDbWriteFaultSpec.url = url
    spark.sql("DROP TABLE IF EXISTS fd.app.once")
    spark.sql("CREATE TABLE fd.app.once (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")

    DuckDbWriteFaultSpec.flushedBeforeFailure.set(-1)
    input(_ == 0).writeTo("fd.app.once").append()
    // the first attempt had flushed its 500 rows into the stage
    assert(DuckDbWriteFaultSpec.flushedBeforeFailure.get() == 500)
    assert(rows("fd.app.once") == (0L until 4000L).map(k => (k, s"v$k")))

    // an upsert over the same keys: replaced in place, still one row each
    DuckDbWriteFaultSpec.flushedBeforeFailure.set(-1)
    input(_ == 0).select(col("k"), concat(col("v"), lit("u")).as("v"))
      .writeTo("fd.app.once").option("upsertkeys", "k").append()
    assert(DuckDbWriteFaultSpec.flushedBeforeFailure.get() == 500)
    assert(rows("fd.app.once") == (0L until 4000L).map(k => (k, s"v${k}u")))

    assert(stageTables().isEmpty, stageTables().mkString(","))
    assert(ConnectionPool.checkedOut(opts) == 0)
  }

  test("a write failing on every attempt leaves target, schema and pool as they were") {
    init()
    DuckDbWriteFaultSpec.url = url
    spark.sql("DROP TABLE IF EXISTS fd.app.fail")
    spark.sql("CREATE TABLE fd.app.fail (k BIGINT NOT NULL, v STRING) " +
      "TBLPROPERTIES ('primarykeys'='k')")
    val s = spark
    import s.implicits._
    val before = (2400L until 2600L).map(k => (k, s"old$k"))
    before.toDF("k", "v").writeTo("fd.app.fail").append()

    val writes: Seq[(String, org.apache.spark.sql.DataFrame => Unit)] = Seq(
      "append" -> (_.writeTo("fd.app.fail").append()),
      "upsert" -> (_.writeTo("fd.app.fail").option("upsertkeys", "k").append()),
      "overwrite" -> (_.writeTo("fd.app.fail").overwrite(col("k") >= 2500)))
    writes.foreach { case (kind, write) =>
      DuckDbWriteFaultSpec.flushedBeforeFailure.set(-1)
      val e = intercept[Exception](write(input(_ => true)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected failure")), kind)
      assert(DuckDbWriteFaultSpec.flushedBeforeFailure.get() == 500, kind)
      assert(rows("fd.app.fail") == before, kind)
      assert(stageTables().isEmpty, s"$kind: ${stageTables().mkString(",")}")
      assert(ConnectionPool.checkedOut(opts) == 0, kind)
    }
    // a bad option fails when the options are parsed, before any task
    // runs: no injected failure fired and nothing was staged or moved
    DuckDbWriteFaultSpec.flushedBeforeFailure.set(-1)
    val bad = intercept[IllegalArgumentException](
      input(_ => true).writeTo("fd.app.fail").option("analyzeafterwrite", "yes").append())
    assert(bad.getMessage.contains("analyzeafterwrite"), bad.getMessage)
    assert(DuckDbWriteFaultSpec.flushedBeforeFailure.get() == -1)
    assert(rows("fd.app.fail") == before)
    assert(stageTables().isEmpty, stageTables().mkString(","))
  }
}

object DuckDbWriteFaultSpec {
  /** Rows the failing attempt had staged (visible to another connection)
    * when it threw; -1 = no injected failure ran. */
  val flushedBeforeFailure = new AtomicLong(-1)
  @volatile var url: String = _

  def stagedRowsOf(taskAttemptId: Long): Long = {
    val c = JdbcOptions(Map("url" -> url)).connect()
    try {
      val rs = c.getMetaData.getTables(null, "app", "%__stage_%", Dialect.TableTypes)
      var n = 0L
      while (rs.next()) {
        val st = c.createStatement()
        val q = st.executeQuery(
          s"""SELECT COUNT(*) FROM "app"."${rs.getString("TABLE_NAME")}" """ +
            s"""WHERE "${JdbcWrite.TaskColumn}" = $taskAttemptId""")
        q.next(); n += q.getLong(1)
        st.close()
      }
      rs.close()
      n
    } finally c.close()
  }
}

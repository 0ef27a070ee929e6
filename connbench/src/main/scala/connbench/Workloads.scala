package connbench

import graft.sources.jdbc.Dml
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** What a run knows: the session, the final data build, the seed. */
final class Ctx(val spark: SparkSession, val remote: Remote, val sizes: Sizes,
    val seed: Long, val cpus: Int, val scale: Double) {
  private val memo = scala.collection.mutable.Map.empty[String, Expect]

  /** Oracle results are deterministic per key: compute each once. */
  def expect(key: String)(f: => Expect): () => Expect = () => memo.getOrElseUpdate(key, f)
}

/** Expected output of an operation: a digest or sorted result lines. */
sealed trait Expect
final case class DigestIs(d: Digest) extends Expect
final case class LinesAre(l: Vector[String]) extends Expect

/** One operation instance. `prepare` and `expected` are never timed.
  * A query step builds a DataFrame (parsing and analysis happen there),
  * plans it and materializes it; a write step runs one write call.
  */
sealed trait Step {
  def kind: String
  def prepare(): Unit = ()
}

/** `materialize` runs the plan and reduces its output to what the
  * oracle is compared with; `crossed` maps that output to the number of
  * rows that crossed the connector boundary. */
final case class QueryStep(kind: String, df: () => DataFrame,
    materialize: DataFrame => Expect, expected: () => Expect,
    crossed: Expect => Long) extends Step

object QueryStep {
  /** Bulk scans: a per-partition digest, so no rows reach the driver. */
  val digest: DataFrame => Expect = df => DigestIs(Digest.ofDataFrame(df))
  /** Small results: collected and canonicalized. */
  val collect: DataFrame => Expect = df => LinesAre(Digest.lines(df.collect()))
}

/** `run` returns the rows it moved across the boundary; `expected` is
  * computed in `prepare` (from the pre-state) and checked against the
  * post-state digest read back over plain JDBC. */
final class WriteStep(val kind: String, pre: () => Unit, val run: () => Long,
    val expected: () => Digest, val actual: () => Digest,
    val traced: Option[WriteTrace]) extends Step {
  override def prepare(): Unit = pre()
}

/** The write a traced run drives directly through the connector's write
  * entry points, into a scratch table of the same engine. */
final case class WriteTrace(catalog: String, table: String, rows: Seq[Row],
    options: Map[String, String], reset: () => Unit)

object Workloads {
  val names: Seq[String] =
    Seq("connector_scan", "federated_lookup", "connector_write", "curation_suite")

  /** Cycles run before the measured phase, so that it starts near the
    * JIT's steady state instead of on its slope. Short lookups spend their
    * time in planner code that the JIT keeps compiling for about 50 cycles
    * (their latency halves over them); a bulk scan cycle is 40% slower
    * the first time after the cold one and a write cycle 10%. */
  def warmupCycles(workload: String): Int = workload match {
    case "federated_lookup" => 36
    case "connector_scan" => 3
    case "connector_write" => 2
    case _ => 1
  }

  def register(spark: SparkSession, r: Remote): Unit = {
    def cat(name: String, url: String, extra: (String, String)*): Unit = {
      spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.jdbc.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.url", url)
      extra.foreach { case (k, v) => spark.conf.set(s"spark.sql.catalog.$name.$k", v) }
    }
    // one DuckDB worker per statement: the embedded "remote" shares the
    // host's cores with Spark's nproc task threads, and a parallel DuckDB
    // pipeline under each of them would oversubscribe the cores
    cat("dw", r.duckUrl, "batchsize" -> "10000", "sessioninit" -> "SET threads = 1")
    cat("dw2", r.duck2Url, "sessioninit" -> "SET threads = 1")
    cat("db", r.derbyUrl)
  }

  /** The operation cycle of a workload. Literals come from `rnd`, which
    * the caller seeds per cycle, so repeated cycles issue distinct
    * statements. */
  def cycle(w: String, c: Ctx, rnd: SplittableRandom): IndexedSeq[Step] = w match {
    case "connector_scan"   => scan(c, rnd)
    case "federated_lookup" => lookup(c, rnd)
    case "connector_write"  => write(c, rnd)
    case "curation_suite"   => suite(c, rnd)
  }

  // ---- curation_suite ----------------------------------------------------

  /** The suite's queries in a seeded order. Each result is checked against
    * the query's DuckDB oracle the first time it runs and against that
    * checked result afterwards. */
  private def suite(c: Ctx, rnd: SplittableRandom): IndexedSeq[Step] = {
    val dir = c.remote.suiteDir
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(rnd.nextLong()))
      .shuffle(Suite.queries)
    order.map { case (id, name) =>
      QueryStep(id, () => graft.SparkEntry.queries(name)(c.spark, dir.getAbsolutePath),
        df => LinesAre(Suite.lines(df.columns.toSeq, df.collect().toSeq.map(_.toSeq))),
        c.expect(name)(LinesAre(withConn(Suite.oracleConnection(dir))(Suite.oracleLines(_, name)))),
        rowsOf)
    }.toIndexedSeq
  }

  // ---- connector_scan ----------------------------------------------------

  private val factCols: Seq[(String, DataType)] = Seq(
    "id" -> LongType, "dim_id" -> IntegerType, "score" -> DoubleType,
    "amount" -> DecimalType(18, 2), "tag" -> StringType, "ts" -> TimestampType,
    "day" -> DateType)
  private val projCols = Seq("id", "score", "amount", "ts")
  private val derbyCols: Seq[(String, DataType)] = Seq(
    "\"id\"" -> LongType, "\"dim_id\"" -> IntegerType, "\"score\"" -> DoubleType,
    "\"amount\"" -> DecimalType(18, 2), "\"tag\"" -> StringType)

  private def scan(c: Ctx, rnd: SplittableRandom): IndexedSeq[Step] = {
    val s = c.spark
    val r = c.remote
    def duckDigest(key: String, cols: Seq[(String, DataType)]) = c.expect(key)(DigestIs(
      withConn(r.duck())(Digest.oracle(_, "app.fact", cols))))
    val full = duckDigest("full", factCols)
    val proj = duckDigest("proj", factCols.filter(p => projCols.contains(p._1)))
    def partitioned = s.read
      .option("partitioncolumn", "id").option("lowerbound", "0")
      .option("upperbound", c.sizes.factRows.toString)
      .option("numpartitions", c.cpus.toString)
      .table("dw.app.fact")
    val lo = rnd.nextInt(800)
    val joinSql = "SELECT d.region, COUNT(*) AS n, SUM(f.amount) AS amt FROM %s f " +
      "JOIN %s d ON f.dim_id = d.dim_id GROUP BY d.region"
    val full1p = QueryStep("scan_full_1p", () => s.table("dw.app.fact"), QueryStep.digest, full, rowsOf)
    // the slowest operation runs twice per cycle, so it holds a quarter of
    // the samples and latency_p90_ms falls inside its cluster rather than
    // on the edge between it and the next slowest
    IndexedSeq(
      full1p,
      QueryStep("scan_full_np", () => partitioned, QueryStep.digest, full, rowsOf),
      QueryStep("scan_proj_1p", () => s.table("dw.app.fact").select(projCols.map(col): _*),
        QueryStep.digest, proj, rowsOf),
      QueryStep("scan_proj_np", () => partitioned.select(projCols.map(col): _*),
        QueryStep.digest, proj, rowsOf),
      // fact and dim live in different DuckDB files: the join can never
      // collapse, so the fact side streams through the reader
      QueryStep("cross_join_agg",
        () => s.sql(joinSql.format("dw.app.fact", "dw2.app.dim")), QueryStep.collect,
        c.expect("cross")(LinesAre(withConn(r.duck())(Digest.oracleLines(_,
          joinSql.format("app.fact", "app.dim"))))),
        _ => c.sizes.factRows + c.sizes.dimRows),
      full1p,
      QueryStep("derby_scan", () => s.table("db.app.dfact"), QueryStep.digest,
        c.expect("derby")(DigestIs(withConn(r.derby())(
          Digest.oracle(_, "\"app\".\"dfact\"", derbyCols, derby = true)))), rowsOf),
      QueryStep("doc_scan", () => s.read.format("graft.sources.document.DocumentSource")
          .option("path", r.docsDir.getAbsolutePath).load()
          .filter(col("k") >= lo && col("k") < lo + 200)
          .select("id", "k", "name", "score"),
        QueryStep.digest, c.expect(s"doc$lo")(DigestIs(docDigest(c, lo, lo + 200))), rowsOf)
    )
  }

  private def rowsOf(e: Expect): Long = e match {
    case DigestIs(d) => d.values.head.toLong
    case LinesAre(l) => l.size.toLong
  }

  /** Expected digest of the filtered documents, from the generator. */
  private def docDigest(c: Ctx, lo: Int, hi: Int): Digest = {
    var n, ids, ks, names = 0L
    var score = 0.0
    var i = 0L
    while (i < c.sizes.docs) {
      val d = Data.doc(i, c.seed)
      if (d.k >= lo && d.k < hi) {
        n += 1; ids += d.id; ks += d.k; names += d.name.length; score += d.score
      }
      i += 1
    }
    Digest(Vector(n.toString, ids.toString, ks.toString, names.toString, Digest.canon(score)))
  }

  // ---- federated_lookup --------------------------------------------------

  /** Fill each `{}` of a query template in turn (the templates hold `%`). */
  private def fill(tpl: String, names: String*): String =
    names.foldLeft(tpl)((t, n) => t.replaceFirst("\\{\\}", n))

  /** Each lookup cycle draws one of this many seeded literal sets, so
    * statements recur the way a dashboard's do: the measured phase sees
    * a fixed share of first-time statements (planning, code generation,
    * JIT) instead of only first-time ones. */
  private val LiteralSets = 8

  private def lookup(c: Ctx, cycleRnd: SplittableRandom): IndexedSeq[Step] = {
    val rnd = new SplittableRandom(c.seed * 7919L + cycleRnd.nextInt(LiteralSets))
    val s = c.spark
    val r = c.remote
    val n = c.sizes.factRows
    def duckQuery(kind: String, sql: String, oracle: String): QueryStep =
      QueryStep(kind, () => s.sql(sql), QueryStep.collect,
        c.expect(oracle)(LinesAre(withConn(r.duck())(Digest.oracleLines(_, oracle)))),
        rowsOf)
    val lo = rnd.nextLong(math.max(1L, n - 20000))
    val w = math.min(20000L, n)
    val join = "SELECT d.region, COUNT(*) AS n, SUM(f.amount) AS amt FROM {} f JOIN {} d " +
      s"ON f.dim_id = d.dim_id WHERE f.id >= $lo AND f.id < ${lo + w} GROUP BY d.region"
    val dimKey = rnd.nextInt(c.sizes.dimRows)
    val topk = "SELECT id, score, tag FROM {} WHERE dim_id = " + dimKey +
      " ORDER BY score DESC, id LIMIT 10"
    val key = rnd.nextLong(n)
    val point = s"SELECT id, dim_id, score, amount, tag FROM {} WHERE id = $key"
    val lo2 = rnd.nextLong(math.max(1L, n - 50000))
    val expr = "SELECT dim_id % 10 AS b, COUNT(*) AS n, SUM(score * 2) AS s2 FROM {} " +
      s"WHERE id >= $lo2 AND id < ${lo2 + math.min(50000L, n)} GROUP BY dim_id % 10"
    val from = rnd.nextInt(math.max(1, c.sizes.dimRows / 2))
    val window = "SELECT region, dim_id, weight FROM (SELECT region, dim_id, weight, " +
      "ROW_NUMBER() OVER (PARTITION BY region ORDER BY weight DESC, dim_id) AS rn " +
      s"FROM {} WHERE dim_id >= $from) t WHERE rn <= 3"
    // 1-2% of customers clear the threshold, about 4-8 per nation: nearly
    // every nation qualifies whatever the literal, so the result size (and
    // rows_per_s) does not swing with the seed, while the remote semi-join
    // still searches the customer table for every nation
    val bal = "98" + (10 + rnd.nextInt(90)).toString + "." + (10 + rnd.nextInt(90)).toString
    val exists = "SELECT n.nkey, n.name FROM {} n WHERE EXISTS (SELECT 1 FROM {} c " +
      s"WHERE c.nkey = n.nkey AND c.bal > $bal)"
    val derbyExists = "SELECT n.\"nkey\", n.\"name\" FROM \"app\".\"nation\" n WHERE EXISTS " +
      "(SELECT 1 FROM \"app\".\"cust\" c WHERE c.\"nkey\" = n.\"nkey\" AND c.\"bal\" > " + bal + ")"
    IndexedSeq(
      duckQuery("join_collapsed", fill(join, "dw.app.fact", "dw.app.dim"),
        fill(join, "app.fact", "app.dim")),
      duckQuery("topk", fill(topk, "dw.app.fact"), fill(topk, "app.fact")),
      duckQuery("point_lookup", fill(point, "dw.app.fact"), fill(point, "app.fact")),
      duckQuery("expr_agg", fill(expr, "dw.app.fact"), fill(expr, "app.fact")),
      duckQuery("window_topn", fill(window, "dw.app.dim"), fill(window, "app.dim")),
      QueryStep("derby_exists", () => s.sql(fill(exists, "db.app.nation", "db.app.cust")),
        QueryStep.collect,
        c.expect(derbyExists)(LinesAre(withConn(r.derby())(Digest.oracleLines(_, derbyExists)))),
        rowsOf)
    )
  }

  // ---- connector_write ---------------------------------------------------

  val writeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("k", IntegerType),
    StructField("score", DoubleType), StructField("amount", DecimalType(18, 2)),
    StructField("tag", StringType)))
  private val writeCols: Seq[(String, DataType)] = writeSchema.fields.map(f => f.name -> f.dataType).toSeq
  private def q(c: String) = "\"" + c + "\""
  private val derbyWriteCols = writeCols.map { case (n, t) => q(n) -> t }

  /** Seeded input row `id`; `salt` separates a cycle's batches. */
  def inputRow(id: Long, seed: Long, salt: Long): Row = {
    val h = Data.mix(id * 0x9E3779B97F4A7C15L ^ (seed * 1000003L + salt))
    Row(id, ((h >>> 3) % 1000).toInt, ((h >>> 13) % 40000) / 4.0,
      java.math.BigDecimal.valueOf((h >>> 30) % 10000000L, 2), "w" + ((h >>> 50) % 977))
  }

  def digestOf(rows: Seq[Row]): Digest = {
    var ids, ks, cents, tags = 0L
    var score = 0.0
    rows.foreach { r =>
      ids += r.getLong(0); ks += r.getInt(1); score += r.getDouble(2)
      cents += r.getDecimal(3).unscaledValue().longValueExact(); tags += r.getString(4).length
    }
    Digest(Vector(rows.size.toString, ids.toString, ks.toString, Digest.canon(score),
      cents.toString, tags.toString))
  }

  def plus(a: Digest, b: Digest): Digest = Digest(a.values.zip(b.values).map { case (x, y) =>
    new java.math.BigDecimal(x).add(new java.math.BigDecimal(y)).stripTrailingZeros().toPlainString
  })

  /** Canonicalize an oracle digest the way `plus` renders its sums. */
  private def norm(d: Digest): Digest = Digest(d.values.map(v =>
    new java.math.BigDecimal(v).stripTrailingZeros().toPlainString))

  def writeSizes(scale: Double): Map[String, Int] = {
    def n(x: Int) = math.max(10, math.round(x * scale).toInt)
    Map("duck_append" -> n(20000), "derby_append" -> n(20000), "duck_upsert" -> n(1000),
      "derby_upsert" -> n(2000), "duck_overwrite" -> n(10000), "prefill" -> n(10000))
  }

  /** Target tables of the write workload, created over plain JDBC. */
  def createWriteTables(r: Remote): Unit = {
    val cols = "id BIGINT NOT NULL, k INTEGER, score DOUBLE, amount DECIMAL(18,2), tag VARCHAR"
    withConn(r.duck()) { d =>
      Data.exec(d, "CREATE SCHEMA IF NOT EXISTS app")
      Seq("w_append", "w_trace").foreach(t => Data.exec(d, s"CREATE TABLE app.$t ($cols)"))
      Seq("w_upsert", "w_trace_up").foreach(t =>
        Data.exec(d, s"CREATE TABLE app.$t ($cols, PRIMARY KEY (id))"))
      Data.exec(d, s"CREATE TABLE app.w_ow ($cols)")
    }
    val dcols = """"id" BIGINT NOT NULL, "k" INT, "score" DOUBLE, "amount" DECIMAL(18,2), "tag" VARCHAR(16)"""
    withConn(r.derby()) { d =>
      Data.exec(d, "CREATE SCHEMA \"app\"")
      Seq("w_append", "w_trace").foreach(t =>
        Data.exec(d, s"""CREATE TABLE "app"."$t" ($dcols)"""))
      // keyed like the DuckDB targets: the upsert's UPDATE-by-key probes
      // an index instead of scanning the table once per row
      Seq("w_upsert", "w_trace_up").foreach(t =>
        Data.exec(d, s"""CREATE TABLE "app"."$t" ($dcols, PRIMARY KEY ("id"))"""))
    }
  }

  private def insertRows(c: java.sql.Connection, table: String, rows: Seq[Row]): Unit = {
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
    rows.foreach { r =>
      ps.setLong(1, r.getLong(0)); ps.setInt(2, r.getInt(1)); ps.setDouble(3, r.getDouble(2))
      ps.setBigDecimal(4, r.getDecimal(3)); ps.setString(5, r.getString(4)); ps.addBatch()
    }
    ps.executeBatch(); ps.close(); c.commit(); c.setAutoCommit(true)
  }

  /** DuckDB prefill as 1000-row VALUES statements (its JDBC batches run
    * row by row). */
  private def duckPrefill(c: java.sql.Connection, table: String, rows: Seq[Row]): Unit =
    rows.grouped(1000).foreach { g =>
      Data.exec(c, s"INSERT INTO $table VALUES " + g.map { r =>
        s"(${r.getLong(0)}, ${r.getInt(1)}, ${r.getDouble(2)}, ${r.getDecimal(3).toPlainString}, '${r.getString(4)}')"
      }.mkString(", "))
    }

  private def write(c: Ctx, rnd: SplittableRandom): IndexedSeq[Step] = {
    val s = c.spark
    val r = c.remote
    val sz = writeSizes(c.scale)
    val salt = rnd.nextLong()
    def rows(from: Long, n: Int, sl: Long) = (from until from + n).map(inputRow(_, c.seed, sl))
    def frame(rs: Seq[Row]) = s.createDataFrame(rs.asJava, writeSchema)
    def duckDigest(t: String, where: String = "") = norm(withConn(r.duck())(
      Digest.oracle(_, s"app.$t", writeCols, where)))
    def derbyDigest(t: String, where: String = "", cols: Seq[(String, DataType)] = derbyWriteCols) =
      norm(withConn(r.derby())(Digest.oracle(_, s""""app"."$t"""", cols, where, derby = true)))
    // traced runs drive appends into w_trace and upserts into w_trace_up
    def traceOf(cat: String, reset: () => Unit, in: Seq[Row], opts: Map[String, String]) =
      Some(WriteTrace(cat, if (opts.isEmpty) "w_trace" else "w_trace_up", in, opts, reset))
    def traceReset(cat: String, t: String): () => Unit =
      if (cat == "db") () => withConn(r.derby())(Data.exec(_, s"""DELETE FROM "app"."$t""""))
      else () => withConn(r.duck())(Data.exec(_, s"DELETE FROM app.$t"))

    def append(kind: String, cat: String, n: Int, reset: () => Unit,
        digest: () => Digest, resetTrace: () => Unit): WriteStep = {
      val in = rows(0, n, salt)
      var df: DataFrame = null
      new WriteStep(kind, () => { reset(); df = frame(in) },
        () => { df.writeTo(s"$cat.app.w_append").append(); n.toLong },
        () => digestOf(in), digest, traceOf(cat, resetTrace, in, Map.empty))
    }

    def upsert(kind: String, cat: String, n: Int, prefill: Seq[Row] => Unit,
        kept: String => Digest, digest: () => Digest, resetTrace: () => Unit): WriteStep = {
      // half the keys exist (prefilled), half are new
      val pre = rows(0, n, salt ^ 1)
      val in = rows(n / 2, n, salt ^ 2)
      var df: DataFrame = null
      var exp: Digest = null
      val id = if (cat == "db") q("id") else "id"
      new WriteStep(kind, () => {
          prefill(pre)
          exp = plus(kept(s"NOT ($id >= ${n / 2} AND $id < ${n / 2 + n})"), digestOf(in))
          df = frame(in)
        },
        () => { df.writeTo(s"$cat.app.w_upsert").option("upsertkeys", "id").append(); n.toLong },
        () => exp, digest, traceOf(cat, () => { resetTrace(); prefillTrace(cat, pre) },
          in, Map("upsertkeys" -> "id")))
    }

    def prefillTrace(cat: String, pre: Seq[Row]): Unit =
      if (cat == "db") withConn(r.derby())(insertRows(_, "\"app\".\"w_trace_up\"", pre))
      else withConn(r.duck())(duckPrefill(_, "app.w_trace_up", pre))

    val duckAppend = append("duck_append", "dw", sz("duck_append"),
      () => withConn(r.duck())(Data.exec(_, "DELETE FROM app.w_append")),
      () => duckDigest("w_append"), traceReset("dw", "w_trace"))
    val derbyAppend = append("derby_append", "db", sz("derby_append"),
      () => withConn(r.derby())(Data.exec(_, "DELETE FROM \"app\".\"w_append\"")),
      () => derbyDigest("w_append"), traceReset("db", "w_trace"))
    val duckUpsert = upsert("duck_upsert", "dw", sz("duck_upsert"),
      pre => withConn(r.duck()) { d =>
        Data.exec(d, "DELETE FROM app.w_upsert"); duckPrefill(d, "app.w_upsert", pre) },
      where => duckDigest("w_upsert", where), () => duckDigest("w_upsert"),
      traceReset("dw", "w_trace_up"))
    val derbyUpsert = upsert("derby_upsert", "db", sz("derby_upsert"),
      pre => withConn(r.derby()) { d =>
        Data.exec(d, "DELETE FROM \"app\".\"w_upsert\""); insertRows(d, "\"app\".\"w_upsert\"", pre) },
      where => derbyDigest("w_upsert", where), () => derbyDigest("w_upsert"),
      traceReset("db", "w_trace_up"))

    // staged overwrite-by-filter: rows with k < cut are replaced
    val owN = sz("duck_overwrite")
    val cut = 300 + rnd.nextInt(400)
    val owPre = rows(0, sz("prefill"), salt ^ 3)
    val owIn = rows(sz("prefill"), owN, salt ^ 4)
    var owDf: DataFrame = null
    var owExp: Digest = null
    val overwrite = new WriteStep("duck_overwrite", () => {
        withConn(r.duck()) { d => Data.exec(d, "DELETE FROM app.w_ow"); duckPrefill(d, "app.w_ow", owPre) }
        owExp = plus(duckDigest("w_ow", s"NOT (k < $cut)"), digestOf(owIn))
        owDf = frame(owIn)
      },
      () => { owDf.writeTo("dw.app.w_ow").overwrite(col("k") < cut); owN.toLong },
      () => owExp, () => duckDigest("w_ow"), None)

    // DELETE … WHERE on the overwritten table
    val del = 600 + rnd.nextInt(300)
    var delExp: Digest = null
    val delete = new WriteStep("duck_delete",
      () => { delExp = duckDigest("w_ow", s"NOT (k >= $del)") },
      () => { s.sql(s"DELETE FROM dw.app.w_ow WHERE k >= $del"); 0L },
      () => delExp, () => duckDigest("w_ow"), None)

    // Dml.update on the Derby append target: score + 1 where k < upd
    val upd = 100 + rnd.nextInt(800)
    var updExp: Digest = null
    val update = new WriteStep("derby_update",
      () => { updExp = derbyDigest("w_append", cols = derbyWriteCols.updated(2,
        s"""CASE WHEN "k" < $upd THEN "score" + 1 ELSE "score" END""" -> DoubleType)) },
      () => { Dml.update(s, "db.app.w_append", Seq("score" -> (col("score") + 1)), col("k") < upd); 0L },
      () => updExp, () => derbyDigest("w_append"), None)

    IndexedSeq(duckAppend, derbyAppend, duckUpsert, derbyUpsert, overwrite, delete, update)
  }

  def withConn[A](c: java.sql.Connection)(f: java.sql.Connection => A): A =
    try f(c) finally c.close()
}

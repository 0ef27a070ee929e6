package graft.plans

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Randomized equivalence: for random leg shapes (filters, projections)
  * and join/union/set-op compositions over SAME-SERVER tables (live
  * Derby, and live DuckDB when the cached driver jar exists), the
  * federation-collapsed result must equal the identical DataFrame
  * program over in-memory mirrors of the same data — null-extension
  * semantics, duplicate preservation and filter placement included.
  * Plan-shape goldens live in FederationSpec; this spec hunts the
  * combinations nobody thought to write down.
  */
class FederationPropertySpec extends AnyFunSuite with SparkFixture {

  private lazy val custRows =
    (1L to 12L).map(i => (i, s"name_$i", (i % 4).toInt, (i * 7 % 10) * 10.0))
  private lazy val ordRows =
    (1L to 30L).map(i => (100 + i, i % 15 + 1, (i * 13 % 9) * 25.0))

  private def setup(catalog: String): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.fp")
    spark.sql(s"DROP TABLE IF EXISTS $catalog.fp.cust")
    spark.sql(s"DROP TABLE IF EXISTS $catalog.fp.ord")
    import spark.implicits._
    custRows.toDF("cid", "cname", "seg", "bal").writeTo(s"$catalog.fp.cust").create()
    ordRows.toDF("oid", "ocid", "amount").writeTo(s"$catalog.fp.ord").create()
  }

  /** The same logical leg over either the remote table or its mirror.
    * Filters past the first three render only through the DSv2
    * expression renderer: CASE WHEN with unary minus, COALESCE with
    * division, one-argument math, an 11-literal IN list (Catalyst's
    * InSet) and, on the string-keyed cust leg, UPPER/LOWER/TRIM/CONCAT/
    * SUBSTRING under LIKE prefix/suffix/contains. Literals stay off the
    * values' boundaries wherever a remote engine could round differently.
    */
  private def leg(base: DataFrame, rnd: Random, numCol: String,
      keep: Seq[String]): DataFrame = {
    var df = base
    val num = col(numCol)
    val key = col(keep.head)
    val text = keep.find(_ == "cname").map(col)
    rnd.nextInt(8) match {
      case 0 => ()
      case 1 => df = df.filter(num > lit(rnd.nextInt(200).toDouble))
      case 2 => df = df.filter(num > lit(rnd.nextInt(150).toDouble) ||
        key % 3 === lit(rnd.nextInt(3)))
      case 3 => df = df.filter(
        when(num > lit(rnd.nextInt(150).toDouble), key).otherwise(-key) > lit(2))
      case 4 => df = df.filter(
        coalesce(num, lit(0.0)) / lit(2.0) > lit(rnd.nextInt(150) / 2.0))
      case 5 => df = df.filter(sqrt(num) > lit(rnd.nextInt(12) + 0.5) ||
        abs(num - lit(50.0)) < lit(20.0))
      case 6 => df = df.filter(key.isin(rnd.shuffle((1L to 30L).toList).take(11): _*))
      case 7 => df = df.filter(text.fold(-key < lit(-6L)) { t =>
        upper(t).startsWith("NAME_1") || lower(t).endsWith("_2") ||
          (trim(concat(lit(" "), t)).contains("e_") && substring(t, 6, 1) =!= lit("3"))
      })
    }
    if (rnd.nextBoolean()) df = df.select(keep.map(col): _*)
    df
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private val joinTypes = Seq("inner", "left", "right", "left_semi", "left_anti", "cross")

  // self-contained per (seed, tables): fresh Randoms inside, so the
  // remote and local sides build the IDENTICAL plan shape
  private def build(seed: Int, cust: DataFrame, ord: DataFrame): DataFrame = {
    val shape = new Random(seed)
    val rnd = new Random(seed * 1000)
    val l = leg(cust, rnd, "bal", Seq("cid", "cname", "seg"))
    val r = leg(ord, rnd, "amount", Seq("ocid", "amount"))
    shape.nextInt(7) match {
      case 0 => // join
        val jt = joinTypes(shape.nextInt(joinTypes.length))
        if (jt == "cross") l.crossJoin(r)
        else l.join(r, col("cid") === col("ocid"), jt)
      case 1 => // self-union of the cust leg (positional UNION ALL)
        val l2 = leg(cust, new Random(seed * 2000), "bal", Seq("cid", "cname", "seg"))
        l.select("cid").union(l2.select("cid"))
      case 2 => // join then filter above the collapse
        l.join(r, col("cid") === col("ocid"), "left")
          .filter(col("cid") % 2 === 1)
      case 3 => // DISTINCT set-op between two cust legs (collapses on
        // dialects with a null-safe equality spelling; Derby stays local
        // — the result must be identical either way)
        val a = leg(cust, new Random(seed * 3000), "bal", Seq("cid", "cname", "seg"))
          .select("cid", "seg")
        val b = cust.filter(col("seg") =!= lit(shape.nextInt(4))).select("cid", "seg")
        if (shape.nextBoolean()) a.intersect(b) else a.except(b)
      case 4 => // UNION DISTINCT via the distinct-Aggregate rewrite
        val l2 = leg(cust, new Random(seed * 2000), "bal", Seq("cid", "cname", "seg"))
        l.select("cid", "seg").union(l2.select("cid", "seg")).distinct()
      case 5 => // bag-semantics ALL set-op between two cust legs —
        // collapses pre-rewrite (SetOpAllRule) on dialects with native
        // INTERSECT ALL / EXCEPT ALL (Derby AND DuckDB both have them);
        // duplicate COUNTS must match the local ReplicateRows plan
        // exactly, which is the whole bag-semantics contract
        val a = leg(cust, new Random(seed * 3000), "bal", Seq("cid", "cname", "seg"))
          .select("seg") // seg repeats across cids → real duplicate bags
        val b = cust.filter(col("seg") =!= lit(shape.nextInt(4))).select("seg")
        if (shape.nextBoolean()) a.intersectAll(b) else a.exceptAll(b)
      case 6 => // three-branch chain with MIXED ALL/DISTINCT set-ops
        // (r10 verdict 7b): stresses SetOpAllRule's deterministic alias
        // allocation under nesting — the inner collapse's derived table
        // becomes a LEG of the outer one — and the interleaving of the
        // pre-rewrite ALL collapse with the optimizer-time DISTINCT
        // rewrites. Duplicate counts must match Spark's local plans
        // through both layers.
        val a = leg(cust, new Random(seed * 3000), "bal", Seq("cid", "cname", "seg"))
          .select("seg")
        val b = cust.filter(col("seg") =!= lit(shape.nextInt(4))).select("seg")
        val c = leg(cust, new Random(seed * 5000), "bal", Seq("cid", "cname", "seg"))
          .select("seg")
        val ops = Seq[(DataFrame, DataFrame) => DataFrame](
          _.intersectAll(_), _.exceptAll(_), _.intersect(_), _.except(_), _.union(_))
        val op1 = ops(shape.nextInt(ops.length))
        val op2 = ops(shape.nextInt(ops.length))
        op2(op1(a, b), c)
    }
  }

  private def sweep(catalog: String): Unit = {
    import spark.implicits._
    val custLocal = custRows.toDF("cid", "cname", "seg", "bal")
    val ordLocal = ordRows.toDF("oid", "ocid", "amount")
    for (seed <- 1 to 40) {
      val remote = build(seed, spark.table(s"$catalog.fp.cust"), spark.table(s"$catalog.fp.ord"))
      val local = build(seed, custLocal, ordLocal)
      assert(rows(remote) == rows(local), s"seed=$seed diverged")
    }
  }

  test("random join/union/set-op shapes: collapsed == local execution (Derby)") {
    setup("ext")
    sweep("ext")
  }

  // On live DuckDB the case-3/4 shapes actually COLLAPSE (null-safe
  // equality exists), so the sweep checks the generated set-op SQL's
  // semantics on the real engine, not just the local fallback.
  test("random join/union/set-op shapes: collapsed == local execution (live DuckDB)") {
    assume(graft.sources.jdbc.DuckDbWireSpec.driverPresent,
      "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_fpduck").toString
    spark.conf.set("spark.sql.catalog.fpduck", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fpduck.url", s"jdbc:duckdb:$dir/sweep.duckdb")
    setup("fpduck")
    sweep("fpduck")
  }

  // ---- SQL EXISTS / IN subqueries -----------------------------------
  // NULL keys on both sides; `id` is NOT NULL (DDL, not CREATE TABLE AS,
  // which would make it nullable), so NOT IN over it may collapse.

  private lazy val subA =
    (1L to 14L).map(i => (i, if (i % 5 == 0) None else Some((i % 6).toInt), (i * 7 % 10) * 10.0))
  private lazy val subB =
    (1L to 16L).map(i => (i * 3 % 19, if (i % 4 == 0) None else Some((i % 7).toInt), (i * 13 % 9) * 25.0))

  private def setupSub(catalog: String): Unit = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.fp")
    import spark.implicits._
    for ((t, rows, num) <- Seq(("sa", subA, "v"), ("sb", subB, "w"))) {
      spark.sql(s"DROP TABLE IF EXISTS $catalog.fp.$t")
      spark.sql(s"CREATE TABLE $catalog.fp.$t (id BIGINT NOT NULL, k INT, $num DOUBLE)")
      rows.toDF("id", "k", num).writeTo(s"$catalog.fp.$t").append()
    }
  }

  /** One drawn subquery statement over tables `a` and `b`, and whether
    * it must collapse: all but a NOT IN over the nullable `k`, or over
    * an `id` the remote schema reports nullable (`idNullable`). */
  private def subquery(seed: Int, a: String, b: String, idNullable: Boolean): (String, Boolean) = {
    val rnd = new Random(seed)
    val outer = if (rnd.nextBoolean()) s" AND x.v > ${rnd.nextInt(90) + 5}.0" else ""
    val inner = if (rnd.nextBoolean()) s" AND y.w > ${rnd.nextInt(200) + 5}.0" else ""
    val corr = Seq("y.k = x.k", "y.id = x.id", "y.k = x.k AND y.w > x.v")(rnd.nextInt(3))
    val (keys, cols) = Seq(("x.k", "y.k"), ("x.id", "y.id"), ("(x.id, x.k)", "y.id, y.k"))(rnd.nextInt(3))
    val correlatedIn = if (rnd.nextBoolean()) " AND y.w > x.v" else ""
    val (pred, collapses) = rnd.nextInt(4) match {
      case 0 => (s"EXISTS (SELECT 1 FROM $b y WHERE $corr$inner)", true)
      case 1 => (s"NOT EXISTS (SELECT 1 FROM $b y WHERE $corr$inner)", true)
      case 2 => (s"$keys IN (SELECT $cols FROM $b y WHERE y.id >= 0$inner$correlatedIn)", true)
      case _ => (s"$keys NOT IN (SELECT $cols FROM $b y WHERE y.id >= 0$inner)",
        keys == "x.id" && !idNullable)
    }
    (s"SELECT x.id, x.k, x.v FROM $a x WHERE x.id >= 0$outer AND $pred", collapses)
  }

  private def sweepSub(catalog: String, idNullable: Boolean): Unit = {
    import spark.implicits._
    assert(Seq("sa", "sb").map(t => spark.table(s"$catalog.fp.$t").schema("id").nullable)
      .forall(_ == idNullable))
    subA.toDF("id", "k", "v").createOrReplaceTempView("fps_a")
    subB.toDF("id", "k", "w").createOrReplaceTempView("fps_b")
    for (seed <- 1 to 40) {
      val (sql, collapses) = subquery(seed, s"$catalog.fp.sa", s"$catalog.fp.sb", idNullable)
      val remote = spark.sql(sql)
      val p = remote.queryExecution.executedPlan.toString
      assert(("GraftJdbcScan".r.findAllIn(p).length == 1) == collapses, s"seed=$seed $sql\n$p")
      assert(rows(remote) == rows(spark.sql(subquery(seed, "fps_a", "fps_b", idNullable)._1)),
        s"seed=$seed diverged: $sql")
    }
  }

  test("random SQL EXISTS / NOT EXISTS / IN / NOT IN with NULL keys: collapsed == local (Derby)") {
    setupSub("ext")
    sweepSub("ext", idNullable = false)
  }

  test("random SQL EXISTS / NOT EXISTS / IN / NOT IN with NULL keys: collapsed == local (live DuckDB)") {
    assume(graft.sources.jdbc.DuckDbWireSpec.driverPresent,
      "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_fpsub").toString
    spark.conf.set("spark.sql.catalog.fpsub", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fpsub.url", s"jdbc:duckdb:$dir/sub.duckdb")
    setupSub("fpsub")
    // DuckDB's driver reports a NOT NULL column nullable, so NOT IN
    // stays local there whatever the key
    sweepSub("fpsub", idNullable = true)
  }

  test("ORDER BY over a collapsed set-op chain ships remotely and arrives ordered (live DuckDB)") {
    assume(graft.sources.jdbc.DuckDbWireSpec.driverPresent,
      "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_fpsort").toString
    spark.conf.set("spark.sql.catalog.fpsort", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fpsort.url", s"jdbc:duckdb:$dir/sort.duckdb")
    setup("fpsort")
    import spark.implicits._
    val custLocal = custRows.toDF("cid", "cname", "seg", "bal")
    def program(cust: DataFrame): DataFrame = {
      val a = cust.select("cid", "seg")
      val b = cust.filter(col("seg") =!= 2).select("cid", "seg")
      val c = cust.filter(col("bal") > 20).select("cid", "seg")
      // three-branch: ALL inner, ALL outer — then a global sort above
      a.intersectAll(b).exceptAll(c)
        .orderBy(col("seg").desc, col("cid").asc)
    }
    val remote = program(spark.table("fpsort.fp.cust"))
    val p = remote.queryExecution.executedPlan.toString
    // the pin (verdict 7b): the whole three-branch chain is ONE remote
    // statement carrying both native ALL set-ops AND the ORDER BY; no
    // local Sort exec survives
    assert("GraftJdbcScan".r.findAllIn(p).length == 1,
      s"three-branch chain did not collapse to one scan:\n$p")
    assert(p.contains("INTERSECT ALL") && p.contains("EXCEPT ALL"), p)
    assert(p.contains("ORDER BY"), s"sort did not ship remotely:\n$p")
    assert(!p.contains("Sort ["), s"a local Sort exec survived:\n$p")
    // ordered equivalence ON THE WIRE: collected row ORDER (not just the
    // sorted multiset) must equal the local plan's, which keeps its Sort
    val got = remote.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val exp = program(custLocal).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == exp, s"remote order diverged:\ngot $got\nexp $exp")
  }

  test("LIMIT above a collapsed sorted set-op pushes into the same scan — remote TopN (live DuckDB)") {
    assume(graft.sources.jdbc.DuckDbWireSpec.driverPresent,
      "duckdb_jdbc driver not on classpath")
    val dir = java.nio.file.Files.createTempDirectory("graft_fptopn").toString
    spark.conf.set("spark.sql.catalog.fptopn", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fptopn.url", s"jdbc:duckdb:$dir/topn.duckdb")
    setup("fptopn")
    import spark.implicits._
    val custLocal = custRows.toDF("cid", "cname", "seg", "bal")
    def program(cust: DataFrame): DataFrame =
      cust.select("cid", "seg")
        .intersectAll(cust.filter(col("seg") =!= 2).select("cid", "seg"))
        .orderBy(col("cid").desc).limit(3)
    val remote = program(spark.table("fptopn.fp.cust"))
    val p = remote.queryExecution.executedPlan.toString
    // ORDER BY collapsed into the derived leg AND the limit pushed onto
    // the same scan: ordered remote stream + remote LIMIT = remote TopN
    assert("GraftJdbcScan".r.findAllIn(p).length == 1, p)
    assert(p.contains("ORDER BY"), s"sort not remote:\n$p")
    assert(p.toLowerCase.contains("limit"), s"limit not pushed:\n$p")
    assert(!p.contains("Sort ["), s"local sort survived:\n$p")
    val got = remote.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val exp = program(custLocal).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == exp, s"remote TopN diverged:\ngot $got\nexp $exp")
  }

  test("ORDER BY over a collapsed set-op ships remotely and arrives ordered (live Derby)") {
    // was the negative control until r12: SortedDerivedDerbySpec's live
    // probe showed Derby preserves derived-table ORDER BY (exact order,
    // NULLS placement included), so DerbyDialect.supportsSortedDerivedTable
    // flipped true and this test now pins the POSITIVE path end-to-end
    // on the second live wire. The remaining capability-false dialects
    // (MySQL documents the ignore; ClickHouse unprobed) have no live
    // engine here — their Sort-kept-local behavior rides the
    // capability gate itself (FederationRule keeps the Sort unless the
    // dialect opts in) plus the partitioned-scan negative below.
    setup("ext")
    val a = spark.table("ext.fp.cust").select("seg")
    val b = spark.table("ext.fp.cust").filter(col("seg") =!= 1).select("seg")
    val df = a.intersectAll(b).orderBy(col("seg").desc)
    val p = df.queryExecution.executedPlan.toString
    // the ALL set-op collapses AND the ORDER BY rides the derived leg:
    // one remote statement, no local Sort exec surviving
    assert(p.contains("INTERSECT ALL"), p)
    assert(p.contains("ORDER BY"), s"sort did not ship to capable Derby:\n$p")
    assert(!p.contains("Sort ["), s"local sort survived:\n$p")
    val got = df.collect().map(_.getInt(0)).toSeq
    assert(got == got.sorted.reverse, s"result not ordered: $got")
  }

  test("a stale Sort-under-limit tag never suppresses the Sort collapse (tags re-derived per apply)") {
    // The rule runs to fixpoint and tags survive node copies: if a limit
    // another rule eliminated left its Sort tagged, the plan would get
    // NEITHER a remote ORDER BY nor a TopN. Stage exactly that hazard —
    // pre-set the tag on a Sort that has NO limit above it — and assert
    // the collapse still happens because apply() clears before tagging.
    setup("ext")
    val a = spark.table("ext.fp.cust").select("seg")
    val b = spark.table("ext.fp.cust").filter(col("seg") =!= 2).select("seg")
    val df = a.intersectAll(b).orderBy(col("seg").asc)
    val tagField = FederationRule.getClass.getDeclaredFields
      .find(_.getName.contains("SortUnderLimit"))
      .getOrElse(fail("SortUnderLimit tag field not found"))
    tagField.setAccessible(true)
    val tag = tagField.get(FederationRule)
      .asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]]
    df.queryExecution.analyzed.foreach {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.setTagValue(tag, ())
      case _ => ()
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ORDER BY"), s"stale tag suppressed the Sort collapse:\n$p")
    assert(!p.contains("Sort ["), s"local sort survived under a stale tag:\n$p")
    val got = df.collect().map(_.getInt(0)).toSeq
    assert(got == got.sorted, s"result not ordered: $got")
  }
}

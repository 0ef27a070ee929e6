package graft.sources.document

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftx.TestExprs
import org.apache.spark.sql.connector.expressions.filter.{And, Predicate}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Inference/unification suite mirroring the reference's
  * (`crates/mongodb/src/utils/schema.rs:364-401`), declared-merge rules
  * (`util/schema.rs:18-56`), filter-doc goldens
  * (`utils/expression.rs:385-520`), and an end-to-end JSONL read with
  * pushdown through the DSv2 source.
  */
class DocumentSpec extends AnyFunSuite with SparkFixture {

  private val M = new ObjectMapper()
  private def docs(lines: String*) = lines.map(M.readTree)

  test("simple types infer directly; fields sort by name; all nullable") {
    val s = SchemaInference.infer(docs(
      """{"s": "x", "i": 5, "d": 1.5, "b": true}"""))
    assert(s.fieldNames.toSeq == Seq("b", "d", "i", "s"))
    assert(s("b").dataType == BooleanType && s("d").dataType == DoubleType &&
      s("i").dataType == IntegerType && s("s").dataType == StringType)
    assert(s.fields.forall(_.nullable))
  }

  test("numeric promotion: int ∨ long → long, int/long ∨ double → double") {
    val s = SchemaInference.infer(docs(
      """{"a": 1, "b": 1, "c": 9999999999}""",
      """{"a": 9999999999, "b": 2.5, "c": 0.5}"""))
    assert(s("a").dataType == LongType)
    assert(s("b").dataType == DoubleType)
    assert(s("c").dataType == DoubleType)
  }

  test("null unifies to the other type; conflicts fall back to string") {
    val s = SchemaInference.infer(docs(
      """{"a": null, "b": 5, "c": null}""",
      """{"a": 7, "b": "x", "c": null}"""))
    assert(s("a").dataType == IntegerType)
    assert(s("b").dataType == StringType) // int ∨ string → string
    assert(s("c").dataType == StringType) // never seen non-null → string
  }

  test("arrays become array<string>, nested documents become JSON strings") {
    val s = SchemaInference.infer(docs(
      """{"tags": [1, "foo", true], "meta": {"x": 1}}"""))
    assert(s("tags").dataType == ArrayType(StringType, containsNull = true))
    assert(s("meta").dataType == StringType)
  }

  test("flattendepth produces typed dotted columns to depth k, JSON past it") {
    val sample = docs("""{"a": 1, "p": {"k": 5, "s": "x", "deep": {"z": 1}}}""")
    val s0 = SchemaInference.infer(sample)
    assert(s0("p").dataType == StringType) // depth 0: nested → JSON string
    val s1 = SchemaInference.infer(sample, flattenDepth = 1)
    assert(s1.fieldNames.toSeq == Seq("a", "p.deep", "p.k", "p.s"))
    assert(s1("p.k").dataType == IntegerType)
    assert(s1("p.s").dataType == StringType)
    assert(s1("p.deep").dataType == StringType) // past the limit → JSON
    val s2 = SchemaInference.infer(sample, flattenDepth = 2)
    assert(s2("p.deep.z").dataType == IntegerType)
    // unification still applies per dotted name
    val mixed = SchemaInference.infer(docs(
      """{"p": {"k": 1}}""", """{"p": {"k": 2.5}}"""), flattenDepth = 1)
    assert(mixed("p.k").dataType == DoubleType)
  }

  test("end-to-end flatten: typed read + pushed filter on a dotted column") {
    val dir = Files.createTempDirectory("graft_docs_flat").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"id": 1, "p": {"k": 10, "s": "lo"}}
        |{"id": 2, "p": {"k": 90, "s": "hi"}}
        |""".stripMargin)
    val df = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).option("flattendepth", "1").load()
    assert(df.schema.fieldNames.toSeq == Seq("id", "p.k", "p.s"))
    val hi = df.filter(col("`p.k`") > 50)
    val plan = hi.queryExecution.executedPlan.toString
    assert(plan.contains(""""p.k": {"$gt": 50}"""), s"dotted filter not pushed:\n$plan")
    assert(hi.collect().map(r => (r.getInt(0), r.getString(2))).toSeq == Seq((2, "hi")))
  }

  test("scan reports file-size statistics so small collections broadcast") {
    val dir = Files.createTempDirectory("graft_docs_stats").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"k": 1, "dim": "a"}
        |{"k": 2, "dim": "b"}
        |""".stripMargin)
    def collection = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
    // unit level: sizeInBytes equals the collection's file bytes
    val scan = DocumentScan(collection.schema, collection.schema,
      Map("path" -> dir), None, None)
    val expected = java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/d.jsonl"))
    assert(scan.estimateStatistics().sizeInBytes().getAsLong == expected)
    // plan level: the tiny collection broadcasts against a big fact
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
      val fact = spark.range(0, 200000).select(col("id").as("k"))
      val j = fact.join(collection, "k")
      assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"small collection should broadcast:\n${j.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("missing fields across documents are unioned") {
    val s = SchemaInference.infer(docs("""{"a": 1}""", """{"b": "x"}"""))
    assert(s.fieldNames.toSeq == Seq("a", "b"))
  }

  test("declared merge: override in place, keep inferred-only, append declared-only") {
    val inferred = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType)))
    val declared = StructType(Seq(
      StructField("b", LongType), StructField("z", DoubleType)))
    val merged = SchemaInference.mergeDeclared(inferred, Some(declared))
    assert(merged.fieldNames.toSeq == Seq("a", "b", "z"))
    assert(merged("b").dataType == LongType)
    assert(merged("z").dataType == DoubleType)
  }

  // ---- filter-doc translation goldens ------------------------------------

  private def ref(n: String) = TestExprs.field(n)
  private def i32(v: Int) = TestExprs.lit(v, IntegerType)
  private def str(s: String) = TestExprs.lit(UTF8String.fromString(s), StringType)

  test("comparisons render $op documents; operand flip for lit-op-col") {
    assert(FilterDoc.translate(new Predicate("=", Array(ref("k"), i32(5))))
      .map(_.json).contains("""{"k": {"$eq": 5}}"""))
    assert(FilterDoc.translate(new Predicate(">", Array(ref("k"), i32(5))))
      .map(_.json).contains("""{"k": {"$gt": 5}}"""))
    // 5 < k  ≡  k > 5
    assert(FilterDoc.translate(new Predicate("<", Array(i32(5), ref("k"))))
      .map(_.json).contains("""{"k": {"$gt": 5}}"""))
  }

  test("boolean composition renders $and/$or/$nor") {
    val p = new And(
      new Predicate(">=", Array(ref("a"), i32(1))),
      new Predicate("IS_NULL", Array(ref("b"))))
    assert(FilterDoc.translate(p).map(_.json).contains(
      """{"$and": [{"a": {"$gte": 1}}, {"b": {"$eq": null}}]}"""))
    assert(FilterDoc.translate(
      new Predicate("NOT", Array(new Predicate("=", Array(ref("a"), i32(2))))))
      .map(_.json).contains("""{"$nor": [{"a": {"$eq": 2}}]}"""))
  }

  test("IN renders $in; LIKE-shaped predicates render escaped $regex") {
    assert(FilterDoc.translate(
      new Predicate("IN", Array(ref("k"), i32(1), i32(2))))
      .map(_.json).contains("""{"k": {"$in": [1, 2]}}"""))
    assert(FilterDoc.translate(
      new Predicate("STARTS_WITH", Array(ref("s"), str("a.b"))))
      .map(_.json).contains("""{"s": {"$regex": "^a\\.b"}}"""))
  }

  test("nested references render dotted paths; untranslatable stays in Spark") {
    val nested = TestExprs.field("props", "k")
    assert(FilterDoc.translate(new Predicate("=", Array(nested, i32(1))))
      .map(_.json).contains("""{"props.k": {"$eq": 1}}"""))
    assert(FilterDoc.translate(new Predicate("SQRT", Array(ref("a")))).isEmpty)
  }

  test("filter evaluation matches dotted paths and type coercion") {
    val d = M.readTree("""{"k": 7, "s": "click", "props": {"k": 60}}""")
    def doc(p: Predicate) = FilterDoc.translate(p).get
    assert(doc(new Predicate(">", Array(ref("k"), i32(5)))).matches(d))
    assert(!doc(new Predicate(">", Array(ref("k"), i32(9)))).matches(d))
    assert(doc(new Predicate("=", Array(ref("s"), str("click")))).matches(d))
    assert(doc(new Predicate(">=", Array(TestExprs.field("props", "k"), i32(50)))).matches(d))
  }

  test("pushed int64 compares are exact beyond 2^53 (no double rounding)") {
    // 2^53 + 1: a double-rounded compare collides it with 2^53 — and the
    // predicate is reported exactly-pushed, so Spark would not re-check
    val d = M.readTree("""{"k": 9007199254740993}""")
    def doc(p: Predicate) = FilterDoc.translate(p).get
    val exact = TestExprs.lit(9007199254740993L, LongType)
    val neighbor = TestExprs.lit(9007199254740992L, LongType)
    assert(doc(new Predicate("=", Array(ref("k"), exact))).matches(d))
    assert(!doc(new Predicate("=", Array(ref("k"), neighbor))).matches(d))
    assert(doc(new Predicate(">", Array(ref("k"), neighbor))).matches(d))
    assert(!doc(new Predicate("<", Array(ref("k"), neighbor))).matches(d))
  }

  test("integers beyond int64 infer DecimalType(38,0) and read back exactly") {
    val dir = Files.createTempDirectory("graft_docs_dec").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"id": 1, "big": 123456789012345678901234567890}""" + "\n")
    val df = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
    assert(df.schema("big").dataType == DecimalType(38, 0))
    assert(df.select("big").head().getDecimal(0).toBigInteger.toString ==
      "123456789012345678901234567890")
  }

  test("TopN pushdown renders a sort document and truncates server-side") {
    val dir = Files.createTempDirectory("graft_docs_sort").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      (1 to 20).map(i => s"""{"id": $i, "score": ${(i * 7) % 13}}""").mkString("\n"))
    val df = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
      .orderBy(col("score").desc, col("id")).limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("""sort=[{"score": -1}, {"id": 1}]"""), plan)
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      (1 to 20).map(i => (i, (i * 7) % 13)).sortBy(t => (-t._2, t._1)).take(3))
  }

  test("streaming read: each new file becomes a micro-batch, filter still pushed") {
    val dir = Files.createTempDirectory("graft_docs_stream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/p1.jsonl"),
      """{"id": 1, "kind": "a"}
        |{"id": 2, "kind": "b"}
        |""".stripMargin)
    val stream = spark.readStream.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
      .filter(col("kind") === "a")
    val q = stream.writeStream.format("memory")
      .queryName("doc_stream_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("doc_stream_out").collect().map(_.getInt(0)).toSeq == Seq(1))
      // a new file arrives -> exactly one new micro-batch with its rows
      Files.writeString(java.nio.file.Paths.get(s"$dir/p2.jsonl"),
        """{"id": 3, "kind": "a"}
          |{"id": 4, "kind": "b"}
          |""".stripMargin)
      q.processAllAvailable()
      assert(spark.table("doc_stream_out").collect().map(_.getInt(0)).sorted.toSeq ==
        Seq(1, 3))
      // a LATE file sorting before the watermark must never re-emit
      // already-processed files (offsets are a name watermark, not an
      // index into the re-sorted listing); it is skipped, not duplicated
      Files.writeString(java.nio.file.Paths.get(s"$dir/p0.jsonl"),
        """{"id": 5, "kind": "a"}""" + "\n")
      Files.writeString(java.nio.file.Paths.get(s"$dir/p3.jsonl"),
        """{"id": 6, "kind": "a"}""" + "\n")
      q.processAllAvailable()
      assert(spark.table("doc_stream_out").collect().map(_.getInt(0)).sorted.toSeq ==
        Seq(1, 3, 6))
    } finally q.stop()
  }

  // ---- end-to-end through the DSv2 source --------------------------------

  test("JSONL read: inference, pushdown filter, catch-all projection") {
    val dir = Files.createTempDirectory("graft_docs").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.jsonl"),
      """{"id": 1, "kind": "a", "score": 0.5, "meta": {"x": 1}}
        |{"id": 2, "kind": "b", "score": 1.5, "meta": {"x": 2}}
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/part2.jsonl"),
      """{"id": 3, "kind": "a", "score": 2.5, "meta": {"x": 3}}
        |""".stripMargin)

    val df = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
    assert(df.schema.fieldNames.toSeq == Seq("id", "kind", "meta", "score"))
    assert(df.schema("meta").dataType == StringType)

    val filtered = df.filter(col("kind") === "a").select("id", "score")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("$eq"), s"filter not pushed into doc scan:\n$plan")
    assert(filtered.collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      Seq((1, 0.5), (3, 2.5)))

    // catch-all: pin id, fold the rest into one JSON column
    val pinned = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).option("declared", "id BIGINT")
      .option("jsonobject", "rest").load()
    assert(pinned.schema.fieldNames.toSeq == Seq("id", "rest"))
    val r1 = pinned.filter(col("id") === 1).collect()(0)
    assert(r1.getLong(0) == 1L)
    assert(r1.getString(1) == """{"kind":"a","meta":{"x":1},"score":0.5}""")
  }

  test("batch and micro-batch scans are columnar and read the generator's rows") {
    val dir = Files.createTempDirectory("graft_docs_col").toString
    // > 1 batch (BatchRows = 4096) with nulls, arrays, decimals, strings
    val sb = new StringBuilder
    for (i <- 1 to 10000) {
      val tags = if (i % 7 == 0) "null" else s"""["t${i % 5}", "u${i % 3}"]"""
      val big = if (i % 11 == 0) "null" else s"${i}00000000000000000000"
      sb.append(s"""{"id": $i, "name": "doc_$i", "ok": ${i % 2 == 0}, """ +
        s""""score": ${i / 4.0}, "tags": $tags, "big": $big}""").append('\n')
    }
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.jsonl"), sb.toString)
    // the generator's rows, in the inferred (name-sorted) column order
    val expected = (1 to 10000).map { i =>
      List(if (i % 11 == 0) null else new java.math.BigDecimal(s"${i}00000000000000000000"),
        i, s"doc_$i", i % 2 == 0, i / 4.0,
        if (i % 7 == 0) null else List(s"t${i % 5}", s"u${i % 3}"))
    }.sortBy(_.toString)
    def rowsOf(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.toSeq.map {
      case s: Seq[_] => s.toList
      case v => v
    }.toList).sortBy(_.toString)

    val dfC = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
    assert(dfC.schema.fieldNames.toSeq == Seq("big", "id", "name", "ok", "score", "tags"))
    val scans = dfC.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      s"document batch scan should be columnar:\n${dfC.queryExecution.executedPlan}")
    val rowsC = rowsOf(dfC.collect())
    assert(rowsC.length == 10000 && rowsC.sameElements(expected))

    // a micro-batch stream scan reads columnar too, the same rows
    val q = spark.readStream.format("graft.sources.document.DocumentSource")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("doc_col_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val streamScans = plan.collect {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }
      assert(streamScans.nonEmpty && streamScans.forall(_.supportsColumnar), plan)
      assert(rowsOf(spark.table("doc_col_stream").collect()).sameElements(expected))
    } finally q.stop()

    // a declared type the converter does not read still reads as NULL
    val declared = spark.read.format("graft.sources.document.DocumentSource")
      .option("path", dir).option("declared", "name TIMESTAMP").load()
    assert(declared.schema("name").dataType == TimestampType)
    assert(declared.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.forall(_.supportsColumnar))
    val names = declared.select("id", "name").collect()
    assert(names.length == 10000 && names.forall(_.isNullAt(1)))

    // pushed filter + limit still apply on the columnar path
    val f = dfC.filter(col("ok") === true).limit(17)
    assert(f.count() == 17)
    val idsEven = dfC.filter(col("ok") === true).collect().map(_.getAs[Int]("id"))
    assert(idsEven.length == 5000 && idsEven.forall(_ % 2 == 0))
  }
}

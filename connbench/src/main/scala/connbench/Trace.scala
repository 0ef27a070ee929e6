package connbench

import graft.sources.jdbc.{GraftJdbcTable, JdbcScan}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.connbench.Internals
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsWrite, TableCatalog}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.sql.util.{CaseInsensitiveStringMap, QueryExecutionListener}
import org.apache.spark.unsafe.types.UTF8String

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one operation share `op`; `parent` is
  * -1 for a root. Synthetic spans are sums of many short intervals (the
  * per-row fetch and conversion calls) laid end to end.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long,
    attrs: Seq[(String, String)]) {
  def dur: Long = end - start
}

/** Task and job totals from a benchmark-side listener. */
final class ExecListener extends SparkListener {
  @volatile var jobs, tasks, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot: Array[Long] = synchronized(Array(jobs, tasks, cpuNs, gcMs, shuffleBytes, spillBytes))
}

/** Collects the query executions Spark runs inside write calls, whose
  * planning is otherwise out of reach. */
final class QeListener extends QueryExecutionListener {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drain(): Seq[QueryExecution] = Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
}

/** The traced run: records spans in memory, drives each layer's public
  * entry points directly, and reduces both into per-layer metrics.
  */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  val exec = new ExecListener
  val qes = new QeListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(qes)

  // wall-clock phase times (ms) are mapped onto the nanoTime axis
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def reserve(): Int = { nextId += 1; nextId }
  def add(id: Int, op: Int, name: String, parent: Int, start: Long, end: Long,
      attrs: (String, String)*): Unit = spans += Span(id, op, name, parent, start, end, attrs)
  def timed[A](op: Int, name: String, parent: Int)(f: Int => A): A = {
    val id = reserve()
    val t0 = System.nanoTime()
    val a = f(id)
    add(id, op, name, parent, t0, System.nanoTime())
    a
  }

  // ---- per-layer accumulators --------------------------------------------
  private val acc = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit = acc.getOrElseUpdate(k, ArrayBuffer.empty) += v
  private def sum(k: String): Double = acc.get(k).map(_.sum).getOrElse(0.0)
  private def median(k: String): Double = acc.get(k).filter(_.nonEmpty).map(Stats.median(_)).getOrElse(0.0)

  def beforeOp(): (Array[Long], Long) = {
    Internals.drainListeners(spark)
    qes.drain()
    (exec.snapshot, CodeGenerator.compileTime)
  }

  /** Spark execution and codegen deltas of one operation of `kind`
    * that took `ns`. */
  def afterOp(before: (Array[Long], Long), kind: String, ns: Long): Unit = {
    Internals.drainListeners(spark)
    val now = exec.snapshot
    val d = now.zip(before._1).map { case (a, b) => (a - b).toDouble }
    Seq("exec.jobs", "exec.tasks", "exec.cpu_ns", "exec.gc_ms", "exec.shuffle", "exec.spill")
      .zip(d).foreach { case (k, v) => note(k, v) }
    note("codegen.ns", (CodeGenerator.compileTime - before._2).toDouble)
    note("ops", 1)
    note("op.ns", ns.toDouble)
    note(s"kind.$kind.ns", ns.toDouble)
    note(s"kind.$kind.shuffle", d(4))
  }

  /** Analysis, optimization and physical-planning spans from the
    * tracker, as children of `parent`. */
  def phases(op: Int, parent: Int, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    Seq("analysis" -> "plans.analysis", "optimization" -> "plans.optimization",
      "planning" -> "plans.planning").foreach { case (k, name) =>
      ph.get(k).foreach { p =>
        add(reserve(), op, name, parent, msToNs(p.startTimeMs), msToNs(p.endTimeMs))
        note(name, p.durationMs.toDouble)
      }
    }
  }

  /** Plan shape of one query: remote scans, collapse, local joins. */
  def planShape(qe: QueryExecution): String = {
    val plan = qe.executedPlan
    val scans = jdbcScans(plan)
    note("plans.remote_scans", scans.size.toDouble)
    val rels = qe.analyzed.collect {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftJdbcTable] =>
        r.table.asInstanceOf[GraftJdbcTable].options.computeContext
    }
    rels.groupBy(identity).collect { case (ctx, rs) if rs.size > 1 => ctx }.foreach { ctx =>
      note("plans.eligible", 1)
      note("plans.collapsed", if (scans.count(_.options.computeContext == ctx) == 1) 1 else 0)
    }
    val joins = plan.collect { case p if p.nodeName.endsWith("Join") => p.nodeName }
    note("plans.local_joins", joins.size.toDouble)
    if (joins.nonEmpty) joins.mkString(",") else if (scans.nonEmpty) "remote" else "none"
  }

  private def jdbcScans(plan: SparkPlan): Seq[JdbcScan] =
    plan.collect { case b: BatchScanExec => b.scan }.collect { case j: JdbcScan => j }

  /** Drive the catalog, the pool and every scan of a query plan directly. */
  def driveQuery(op: Int, parent: Int, qe: QueryExecution, returned: Long): Unit = {
    qe.analyzed.foreach {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftJdbcTable] =>
        for (cat <- r.catalog; ident <- r.identifier) {
          timed(op, "jdbc.catalog.load_table", parent) { _ =>
            val t0 = System.nanoTime()
            cat.asInstanceOf[TableCatalog].loadTable(ident)
            note("catalog.ns", (System.nanoTime() - t0).toDouble)
          }
        }
        timed(op, "jdbc.pool.acquire", parent) { _ =>
          val t0 = System.nanoTime()
          val c = r.table.asInstanceOf[GraftJdbcTable].options.connect()
          note("pool.ns", (System.nanoTime() - t0).toDouble)
          c.close()
        }
      case _ => ()
    }
    var jdbcRows = 0L
    qe.executedPlan.collect { case b: BatchScanExec => b.scan }.foreach {
      case j: JdbcScan =>
        note("jdbc.calls", 1)
        val b = j.toBatch
        val parts = b.planInputPartitions()
        note("read.partitions", parts.length.toDouble)
        val f = b.createReaderFactory()
        parts.foreach(p => jdbcRows += driveReader(op, parent, "jdbc.read", f, p))
      case s if s.getClass.getName.startsWith("graft.sources.document") =>
        val b = s.toBatch
        val f = b.createReaderFactory()
        b.planInputPartitions().foreach(p => driveReader(op, parent, "document.read", f, p))
      case _ => ()
    }
    if (jdbcRows > 0) { note("read.fetched", jdbcRows.toDouble); note("read.returned", returned.toDouble) }
  }

  /** createReader → next/get, timing open (to the first row), fetch
    * (`next`) and conversion (`get`) separately. Returns rows read. */
  private def driveReader(op: Int, parent: Int, layer: String, f: PartitionReaderFactory,
      p: InputPartition): Long = {
    val id = reserve()
    val t0 = System.nanoTime()
    var rows = 0L
    var fetch, convert = 0L
    val open =
      if (f.supportColumnarReads(p)) {
        val r = f.createColumnarReader(p)
        try {
          var more = r.next()
          val o = System.nanoTime() - t0
          while (more) {
            val a = System.nanoTime()
            rows += r.get().numRows()
            val b = System.nanoTime()
            more = r.next()
            convert += b - a; fetch += System.nanoTime() - b
          }
          o
        } finally r.close()
      } else {
        val r = f.createReader(p)
        try {
          var more = r.next()
          val o = System.nanoTime() - t0
          var sink = 0
          while (more) {
            val a = System.nanoTime()
            val row: InternalRow = r.get()
            sink += row.numFields
            val b = System.nanoTime()
            more = r.next()
            convert += b - a; fetch += System.nanoTime() - b
            rows += 1
          }
          o
        } finally r.close()
      }
    val t1 = System.nanoTime()
    add(id, op, layer, parent, t0, t1, "rows" -> rows.toString)
    add(reserve(), op, s"$layer.open", id, t0, t0 + open, "synthetic" -> "true")
    add(reserve(), op, s"$layer.fetch", id, t0 + open, t0 + open + fetch, "synthetic" -> "true")
    add(reserve(), op, s"$layer.convert", id, t0 + open + fetch, t0 + open + fetch + convert,
      "synthetic" -> "true")
    note(s"$layer.rows", rows.toDouble)
    note(s"$layer.fetch_ns", fetch.toDouble)
    note(s"$layer.convert_ns", convert.toDouble)
    note(s"$layer.open_ns", open.toDouble)
    note(s"$layer.total_ns", (t1 - t0).toDouble)
    rows
  }

  /** Drive one write through the connector's write entry points into a
    * scratch table: loadTable → newWriteBuilder → createWriter → write
    * per row → commit → BatchWrite.commit. */
  def driveWrite(op: Int, parent: Int, w: WriteTrace, rowSchema: StructType): Unit = {
    w.reset()
    note("jdbc.calls", 1)
    val rows = w.rows.map(toInternal)
    timed(op, "jdbc.write", parent) { wid =>
      val cat = Internals.tableCatalog(spark, w.catalog)
      val table = timed(op, "jdbc.catalog.load_table", wid) { _ =>
        val t0 = System.nanoTime()
        val t = cat.loadTable(Identifier.of(Array("app"), w.table))
        note("catalog.ns", (System.nanoTime() - t0).toDouble)
        t
      }
      timed(op, "jdbc.pool.acquire", wid) { _ =>
        val t0 = System.nanoTime()
        val c = table.asInstanceOf[GraftJdbcTable].options.connect()
        note("pool.ns", (System.nanoTime() - t0).toDouble)
        c.close()
      }
      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap = new CaseInsensitiveStringMap(w.options.asJava)
        override def queryId(): String = s"trace-$op"
        override def schema(): StructType = rowSchema
      }
      val batch = table.asInstanceOf[SupportsWrite].newWriteBuilder(info).build().toBatch
      val factory = batch.createBatchWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
      val t0 = System.nanoTime()
      val writer = factory.createWriter(0, 0L)
      val t1 = System.nanoTime()
      rows.foreach(writer.write)
      val t2 = System.nanoTime()
      val msg: WriterCommitMessage = writer.commit()
      writer.close()
      val t3 = System.nanoTime()
      batch.commit(Array(msg))
      val t4 = System.nanoTime()
      add(reserve(), op, "jdbc.write.create_writer", wid, t0, t1)
      add(reserve(), op, "jdbc.write.bind", wid, t1, t2)
      add(reserve(), op, "jdbc.write.task_commit", wid, t2, t3)
      add(reserve(), op, "jdbc.write.job_commit", wid, t3, t4)
      note("write.bind_ns", (t2 - t1).toDouble)
      note("write.rows", rows.size.toDouble)
      note("write.task_commit_ns", (t3 - t2).toDouble)
      note("write.job_commit_ns", (t4 - t3).toDouble)
      val kind = if (w.options.contains("upsertkeys")) "upsert" else "append"
      note(s"write.$kind.rows", rows.size.toDouble)
      note(s"write.$kind.ns", (t4 - t0).toDouble)
    }
  }

  private def toInternal(r: Row): InternalRow = InternalRow(r.getLong(0), r.getInt(1),
    r.getDouble(2), Decimal(r.getDecimal(3), 18, 2), UTF8String.fromString(r.getString(4)))

  def noteLatency(traced: Boolean, ns: Long): Unit =
    note(if (traced) "latency.traced" else "latency.untraced", ns.toDouble)

  // ---- reduction ---------------------------------------------------------

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** The per-layer metrics, by name, with their units. */
  def metrics(docsPerScan: Long, suite: Boolean): Seq[(String, Double, String)] = {
    val ops = sum("ops")
    val jdbcRows = sum("jdbc.read.rows")
    val docReturned = sum("document.read.rows")
    val docReads = acc.get("document.read.rows").map(_.size).getOrElse(0)
    def rate(k: String) = ratio(sum(s"write.$k.rows"), sum(s"write.$k.ns") / 1e9)
    Seq(
      ("jdbc.read.fetch_ns_per_row", ratio(sum("jdbc.read.fetch_ns"), jdbcRows), "ns/row"),
      ("jdbc.read.convert_ns_per_row", ratio(sum("jdbc.read.convert_ns"), jdbcRows), "ns/row"),
      ("jdbc.read.open_ms", median("jdbc.read.open_ns") / 1e6, "ms"),
      ("jdbc.read.rows_fetched_per_returned", ratio(sum("read.fetched"), sum("read.returned")), "ratio"),
      ("jdbc.read.partitions", ratio(sum("read.partitions"), acc.get("read.partitions").map(_.size).getOrElse(0).toDouble), "count"),
      ("jdbc.calls_per_op", ratio(sum("jdbc.calls"), ops), "count"),
      ("jdbc.pool.acquire_ms", median("pool.ns") / 1e6, "ms"),
      ("jdbc.catalog.load_table_ms", median("catalog.ns") / 1e6, "ms"),
      ("jdbc.write.bind_ns_per_row", ratio(sum("write.bind_ns"), sum("write.rows")), "ns/row"),
      ("jdbc.write.task_commit_ms", median("write.task_commit_ns") / 1e6, "ms"),
      ("jdbc.write.job_commit_ms", median("write.job_commit_ns") / 1e6, "ms"),
      ("jdbc.write.append_rows_per_s", rate("append"), "rows/s"),
      ("jdbc.write.upsert_rows_per_s", rate("upsert"), "rows/s"),
      ("plans.analysis_ms", median("plans.analysis"), "ms"),
      ("plans.optimization_ms", median("plans.optimization"), "ms"),
      ("plans.physical_ms", median("plans.planning"), "ms"),
      ("plans.remote_scans_per_query", ratio(sum("plans.remote_scans"), acc.get("plans.remote_scans").map(_.size).getOrElse(0).toDouble), "count"),
      ("plans.collapsed_ratio", ratio(sum("plans.collapsed"), sum("plans.eligible")), "ratio"),
      ("plans.local_joins_per_query", ratio(sum("plans.local_joins"), acc.get("plans.local_joins").map(_.size).getOrElse(0).toDouble), "count"),
      ("spark.codegen.compile_ms", ratio(sum("codegen.ns") / 1e6, ops), "ms"),
      ("document.read_ns_per_doc", ratio(sum("document.read.total_ns"), docReads.toDouble * docsPerScan), "ns/doc"),
      ("document.docs_scanned_per_returned", ratio(docReads.toDouble * docsPerScan, docReturned), "ratio"),
      ("spark.exec.jobs_per_op", ratio(sum("exec.jobs"), ops), "count"),
      ("spark.exec.tasks_per_op", ratio(sum("exec.tasks"), ops), "count"),
      ("spark.exec.task_cpu_ms", ratio(sum("exec.cpu_ns") / 1e6, ops), "ms"),
      ("spark.exec.gc_ms", ratio(sum("exec.gc_ms"), ops), "ms"),
      ("spark.exec.shuffle_write_bytes", ratio(sum("exec.shuffle"), ops), "bytes"),
      ("spark.exec.spill_bytes", ratio(sum("exec.spill"), ops), "bytes"),
      ("trace.jdbc_read_share", ratio(sum("jdbc.read.fetch_ns") + sum("jdbc.read.convert_ns"), sum("op.ns")), "ratio"),
      ("trace.overhead_ratio", ratio(median("latency.traced"), median("latency.untraced")), "ratio"),
      ("trace.traced_latency_p50_ms", median("latency.traced") / 1e6, "ms"),
      ("trace.untraced_latency_p50_ms", median("latency.untraced") / 1e6, "ms")
    ) ++ (if (!suite) Nil else operatorMetrics)
  }

  /** Per-query time and exchange bytes of the curation suite. */
  private def operatorMetrics: Seq[(String, Double, String)] =
    Suite.queries.map { case (id, _) =>
      (s"operators.${id}_ms", median(s"kind.$id.ns") / 1e6, "ms")
    } ++ Suite.queries.collect { case (id, _) if Suite.shuffleTracked(id) =>
      (s"operators.${id}_shuffle_bytes", median(s"kind.$id.shuffle"), "bytes")
    }

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimes: Seq[(String, Double)] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    spans.groupBy(s => Tracer.layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0L, s.dur - childSum.getOrElse(s.id, 0L))).sum / 1e6
    }.toSeq.sortBy(_._1)
  }

  def write(spansFile: File): Unit = {
    spansFile.getParentFile.mkdirs()
    val w = Files.newBufferedWriter(spansFile.toPath, StandardCharsets.UTF_8)
    try spans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString
      w.write(s"""{"id":${s.id},"op":${s.op},"name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        s""""start_ns":${s.start - baseNs},"end_ns":${s.end - baseNs}$attrs}""")
      w.write('\n')
    } finally w.close()
  }
}

object Tracer {
  /** Layer of a span name: `jdbc.read.fetch` → `jdbc.read`. */
  def layerOf(name: String): String = name.split('.').toList match {
    case "jdbc" :: l :: _ => s"jdbc.$l"
    case "spark" :: l :: _ => s"spark.$l"
    case l :: _ => l
    case Nil => name
  }
}

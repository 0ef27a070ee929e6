package connbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
    case c => c.toString
  }

  /** A finite double as JSON, with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    runDir: File, out: File, traceDir: File, scale: Double,
    wrongChecksum: Boolean, cpus: Int, check: Option[String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      new File(get("run-dir")), new File(get("out")),
      new File(m.getOrElse("trace-dir", get("run-dir"))),
      m.getOrElse("scale", "1").toDouble,
      m.getOrElse("wrong-checksum", "0") == "1",
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.get("check"))
  }
}

/** One sample of the timed phase. */
final case class Sample(kind: String, ns: Long, cpuNs: Long, rows: Long, traced: Boolean = false)

/** The benchmark's JVM side: set up, warm up, run the closed loop, check
  * every operation against its oracle, and write one result line.
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Long = os.getProcessCpuTime

  private val Builds = 3
  private var attempted = 0L
  private var failed = 0L

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a.runDir.mkdirs()
    val spark = session(a)
    val code =
      try a.check match {
        case Some("derby-catalog") => derbyCatalogCheck(spark, a)
        case Some(other) => throw new IllegalArgumentException(s"unknown check $other")
        case None => run(spark, a)
      } finally spark.stop()
    System.exit(code)
  }

  def session(a: Args): SparkSession = SparkSession.builder()
    .master(s"local[${a.cpus}]")
    .appName("connbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", a.cpus.toString)
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.local.dir", new File(a.runDir, "spark-local").getAbsolutePath)
    .config("spark.sql.warehouse.dir", new File(a.runDir, "warehouse").getAbsolutePath)
    .config("spark.shuffle.compress", "false")
    .config("spark.locality.wait", "0s")
    .getOrCreate()

  /** Creates and round-trips a Derby table through the connector's
    * catalog under exactly this main's JVM settings (default locale
    * untouched). Exit 0 on success. */
  def derbyCatalogCheck(spark: SparkSession, a: Args): Int = {
    spark.conf.set("spark.sql.catalog.chk", "graft.sources.jdbc.GraftCatalog")
    spark.conf.set("spark.sql.catalog.chk.url", "jdbc:derby:memory:connbench_check;create=true")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chk.app")
    spark.sql("CREATE TABLE chk.app.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO chk.app.t VALUES (1, 'a'), (2, 'b')")
    val n = spark.table("chk.app.t").count()
    println(s"derby-catalog rows=$n")
    if (n == 2) 0 else 1
  }

  def run(spark: SparkSession, a: Args): Int = {
    require(Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sparkStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sizes = Sizes.forWorkload(a.workload, a.scale, a.cpus)
    val suiteSizes = Suite.sizes(Suite.Fraction * a.scale)

    // three seeded builds of the remote data, each into a fresh
    // directory; the median time is reported, the last build is used
    val buildTimes = ArrayBuffer.empty[Double]
    var remote: Remote = null
    (1 to Builds).foreach { i =>
      if (remote != null) { remote.dropDerby(); Data.deleteTree(remote.dir) }
      val t0 = System.nanoTime()
      remote = Data.build(new File(a.runDir, s"data$i"), s"connbench_$i", sizes, a.seed)
      if (a.workload == "connector_write") Workloads.createWriteTables(remote)
      if (a.workload == "curation_suite") Suite.build(remote.suiteDir, suiteSizes, a.seed)
      buildTimes += (System.nanoTime() - t0) / 1e9
    }
    Workloads.register(spark, remote)
    val ctx = new Ctx(spark, remote, sizes, a.seed, a.cpus, a.scale)

    // warm-up: whole cycles (numbered 0, -1, -2, ...), checked like every
    // other; their operation time (not the oracles' time) counts towards
    // set-up
    val warmS = (0 until Workloads.warmupCycles(a.workload)).map { i =>
      runCycle(ctx, a, -i, None, corrupt = a.wrongChecksum && i == 0).map(_.ns).sum
    }.sum / 1e9
    val setupS = sparkStartS + Stats.median(buildTimes) + warmS

    val info = s"""{"run":{"workload":"${a.workload}","seed":${a.seed},"trace":${a.trace},""" +
      s""""cpus":${a.cpus},"heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
      s""""jdk":"${Json.esc(System.getProperty("java.version"))}","scale":${Json.num(a.scale)},""" +
      s""""sizes":${sizes.asJson},"suite_sizes":${suiteSizes.asJson},"write_sizes":"${Workloads.writeSizes(a.scale).toSeq.sorted.mkString(" ")}",""" +
      s""""build_s":[${buildTimes.map(Json.num).mkString(",")}],""" +
      s""""spark_start_s":${Json.num(sparkStartS)},"warmup_s":${Json.num(warmS)}}}"""

    val calStart = calMs()
    resetPeakRss()
    val loop0 = System.nanoTime()
    val (gc0, jit0) = (gcMillis(), jitMillis())
    var measured: Seq[Sample] = Nil
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        measured = phase(ctx, a, a.seconds, None)
        endToEnd(measured, setupS)
      } else {
        // traced and untraced cycles alternate, so both see the same
        // warm-up state and the difference is the tracing overhead
        val tracer = new Tracer(spark)
        measured = phase(ctx, a, a.seconds, Some(tracer))
        val (traced, plain) = measured.partition(_.traced)
        plain.foreach(s => tracer.noteLatency(traced = false, s.ns))
        traced.foreach(s => tracer.noteLatency(traced = true, s.ns))
        val base = s"${a.workload}-seed${a.seed}"
        tracer.write(new File(a.traceDir, s"$base.spans.jsonl"))
        val summary = s"""{"workload":"${a.workload}","seed":${a.seed},""" +
          s""""self_ms":{${tracer.selfTimes.map { case (l, v) => s""""$l":${Json.num(v)}""" }.mkString(",")}},""" +
          s""""untraced":{${endToEnd(plain, setupS).map(m => s""""${m._1}":${Json.num(m._2)}""").mkString(",")}},""" +
          s""""traced":{${endToEnd(traced, setupS).map(m => s""""${m._1}":${Json.num(m._2)}""").mkString(",")}}}"""
        Files.write(new File(a.traceDir, s"$base.summary.json").toPath,
          (summary + "\n").getBytes(StandardCharsets.UTF_8))
        tracer.metrics(sizes.docs, a.workload == "curation_suite")
      }

    val loopS = (System.nanoTime() - loop0) / 1e9
    val (gcMs, jitMs) = (gcMillis() - gc0, jitMillis() - jit0)
    val calEnd = calMs()
    val perKind = measured.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      s""""$k":[${ss.map(x => Json.num(x.ns / 1e6)).mkString(",")}]"""
    }.mkString(",")
    val record = info.dropRight(2) + s""","loop_s":${Json.num(loopS)},""" +
      s""""measured_s":${Json.num(measured.map(_.ns).sum / 1e9)},"samples":${measured.size},""" +
      s""""loop_gc_ms":$gcMs,"loop_jit_ms":$jitMs,""" +
      s""""cal_ms":[${Json.num(calStart)},${Json.num(calEnd)}],"status":"${Json.esc(scala.io.Source.fromFile("/proc/self/status").getLines().filter(l => l.startsWith("Vm") || l.startsWith("Rss")).mkString(";"))}","kind_ms":{$perKind}}}"""
    remote.dropDerby()
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",") +
      "}}"
    Files.write(a.out.toPath, (record + "\n" + result + "\n").getBytes(StandardCharsets.UTF_8))
    if (failed == 0) 0 else 1
  }

  /** Whole cycles until `seconds` of operation time have been measured
    * (or a wall-clock guard trips). With a tracer, every other cycle is
    * traced. */
  private def phase(c: Ctx, a: Args, seconds: Double, tracer: Option[Tracer]): Seq[Sample] = {
    val out = ArrayBuffer.empty[Sample]
    val wall0 = System.nanoTime()
    var cycle = 1
    var measured = 0L
    while ((measured < seconds * 1e9 || (tracer.isDefined && cycle % 2 == 1)) &&
      System.nanoTime() - wall0 < (seconds * 4 + 20) * 1e9) {
      val s = runCycle(c, a, cycle, tracer.filter(_ => cycle % 2 == 0), corrupt = false)
      out ++= s
      measured += s.map(_.ns).sum
      cycle += 1
    }
    out.toSeq
  }

  private def runCycle(c: Ctx, a: Args, cycle: Int, tracer: Option[Tracer],
      corrupt: Boolean): Seq[Sample] = {
    val rnd = new SplittableRandom(a.seed * 1000003L + cycle)
    Workloads.cycle(a.workload, c, rnd).zipWithIndex.flatMap { case (step, i) =>
      attempted += 1
      try {
        step.prepare()
        val opId = cycle * 100 + i
        val wrong = corrupt && i == 0
        val (sample, verdict) = step match {
          case q: QueryStep => runQuery(c, q, opId, tracer, wrong)
          case w: WriteStep => runWrite(c, w, opId, tracer, wrong)
        }
        verdict match {
          case Some(why) =>
            failed += 1
            System.err.println(s"connbench: FAILED ${step.kind} (cycle $cycle): $why")
            None
          case None => Some(sample)
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"connbench: FAILED ${step.kind} (cycle $cycle): $e")
          e.printStackTrace()
          None
      }
    }
  }

  private def runQuery(c: Ctx, q: QueryStep, op: Int, tracer: Option[Tracer],
      wrong: Boolean): (Sample, Option[String]) = {
    val before = tracer.map(_.beforeOp())
    val cpu0 = cpuNow()
    val t0 = System.nanoTime()
    val (got, qe, shape) = tracer match {
      case None =>
        val df = q.df()
        (q.materialize(df), null, "")
      case Some(t) =>
        val root = t.reserve()
        val p = t.reserve()
        val p0 = System.nanoTime()
        val df = q.df()
        val qe = df.queryExecution
        qe.executedPlan
        t.add(p, op, "plans", root, p0, System.nanoTime())
        t.phases(op, p, qe)
        val r = t.timed(op, "spark.exec", root)(_ => q.materialize(df))
        val shape = t.planShape(qe)
        t.add(root, op, "op", -1, t0, System.nanoTime(), "kind" -> q.kind, "join_strategy" -> shape)
        (r, qe, shape)
    }
    val t1 = System.nanoTime()
    val cpu1 = cpuNow()
    val rows = q.crossed(got)
    tracer.foreach { t =>
      t.afterOp(before.get, q.kind, t1 - t0)
      t.timed(op, "layers", -1)(id => t.driveQuery(op, id, qe, rowsReturned(got)))
    }
    val exp = q.expected() match {
      case DigestIs(d) if wrong => DigestIs(Digest.wrong(d))
      case LinesAre(l) if wrong => LinesAre(l :+ "wrong")
      case e => e
    }
    val verdict = if (exp == got) None else Some(s"expected $exp, got $got")
    (Sample(q.kind, t1 - t0, cpu1 - cpu0, rows, tracer.isDefined), verdict)
  }

  private def rowsReturned(e: Expect): Long = e match {
    case DigestIs(d) => d.values.head.toLong
    case LinesAre(l) => l.size.toLong
  }


  private def runWrite(c: Ctx, w: WriteStep, op: Int, tracer: Option[Tracer],
      wrong: Boolean): (Sample, Option[String]) = {
    val before = tracer.map(_.beforeOp())
    val cpu0 = cpuNow()
    val t0 = System.nanoTime()
    val rows = tracer match {
      case None => w.run()
      case Some(t) =>
        val root = t.reserve()
        val n = t.timed(op, "spark.exec", root)(_ => w.run())
        t.add(root, op, "op", -1, t0, System.nanoTime(), "kind" -> w.kind)
        n
    }
    val t1 = System.nanoTime()
    val cpu1 = cpuNow()
    tracer.foreach { t =>
      t.afterOp(before.get, w.kind, t1 - t0)
      // planning of the write's own query executions, from the listener
      t.qes.drain().foreach { qe =>
        val p = t.reserve()
        t.phases(op, p, qe)
        val kids = t.spans.filter(_.parent == p)
        if (kids.nonEmpty) t.add(p, op, "plans", -1, kids.map(_.start).min, kids.map(_.end).max)
      }
    }
    val exp = if (wrong) Digest.wrong(w.expected()) else w.expected()
    val got = w.actual()
    tracer.foreach(t => w.traced.foreach(wt =>
      t.timed(op, "layers", -1)(id => t.driveWrite(op, id, wt, Workloads.writeSchema))))
    val verdict = if (exp == got) None else Some(s"expected $exp, got $got")
    (Sample(w.kind, t1 - t0, cpu1 - cpu0, rows, tracer.isDefined), verdict)
  }

  /** Host canary: a fixed single-threaded integer loop, timed before and
    * after the measured phase, so a reader can tell a slow host phase
    * from a slow program. Recorded in the run record, never a metric. */
  private def calMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Collect the set-up garbage, then restart the kernel's peak-RSS
    * counter from the current RSS, so the reported peak belongs to the
    * measured phase rather than to set-up. */
  private def resetPeakRss(): Unit = {
    System.gc()
    try Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII))
    catch { case _: java.io.IOException => () } // older kernels: the peak then includes set-up
  }

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def endToEnd(samples: Seq[Sample], setupS: Double): Seq[(String, Double, String)] = {
    val lat = samples.map(_.ns / 1e6)
    val totalS = samples.map(_.ns).sum / 1e9
    val n = samples.size.toDouble
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", if (totalS > 0) n / totalS else 0.0, "1/s"),
      ("rows_per_s", if (totalS > 0) samples.map(_.rows).sum / totalS else 0.0, "rows/s"),
      ("latency_p50_ms", Stats.median(lat), "ms"),
      ("latency_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("cpu_s_per_op", if (n > 0) samples.map(_.cpuNs).sum / 1e9 / n else 0.0, "s"),
      ("peak_rss_mb", peakRssMb(), "MB")
    )
  }
}

package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line ([[BenchRecord.render]]) with per-query wall seconds.
  *
  * Materialization is a full write to the no-op DSv2 sink — every column
  * is produced and every operator (including final sorts) executes, unlike
  * a `count()` which lets Catalyst prune columns and drop ordering.
  * Failures are loud: the error lands on stderr, the query is listed in
  * `"failed"`, and the exit code is non-zero when anything failed.
  *
  * Stall-proofing: this host shows intermittent multi-minute stalls
  * unrelated to the plans (BASELINE.md records 410.8 s vs 56.3 s
  * back-to-back on identical code), so each query is timed
  * SPARK_GRAFT_REPS times (default 3) and the reported number is the
  * per-query median. Reps are cold: the cache is cleared before each
  * rep's timer starts, so persist()-using queries pay their
  * materialization in every rep. Full per-rep wall/gc/cpu detail goes to
  * stderr; the line carries what lets a reader tell a host stall from a
  * plan regression without this machine:
  *   - `"diag"`: for the ≤ 2 most suspicious queries, [best rep, worst
  *     rep, GC % of wall, CPU cores busy] — a best rep near the isolated
  *     median proves the slow reps were host phase, a high GC share proves
  *     heap pressure, cores busy ≪ parallelism proves starvation;
  *   - `"g"`/`"w"`: GC seconds in the timed phase (capped 9) and the
  *     untimed warm pass (capped 99) — a slow warm pass flags a degraded
  *     host before any timed rep. When cal is present they ride as its
  *     elements 3 and 4 instead;
  *   - `"iso"`: one cold isolated re-run at suite end for each query whose
  *     median exceeds 2× its own best rep (the intra-run stall signature)
  *     or 2× its median in the last committed BENCH_r*.json at the same sf
  *     (a uniform slowdown leaves median ≈ best, so the first trigger
  *     cannot catch it), both by > 0.5 s. An isolated number near the best
  *     rep convicts the suite median as host phase; one near the median
  *     convicts the plan. It is evidence beside the median, never a
  *     replacement;
  *   - `"cal"`: [start, end] host canary — the mean observed/floor ratio of
  *     isolated cold shots of two code-frozen floor queries, right after
  *     the warm pass and right after the timed suite. A uniform host phase
  *     reads cal ≈ 1.2–1.5 with no per-query flag; a real regression
  *     reads cal ≈ 1.0. sf0.1 only, where the floors are documented, per
  *     core count ([[calFloors]]); at a core count without floors cal is
  *     the raw mean in seconds and is never retried. A degraded start is
  *     retried after waiting the phase out and the retry count rides as
  *     element 5; a degraded end is re-probed after the iso pass and the
  *     re-probe rides as element 6.
  *
  * Every wall guard below cuts against the driver's 590 s kill, so a
  * degraded host costs reps, iso shots or cal points, never the line.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Iso-slot candidate order (unit-pinned by BenchContractSpec — this
    * path fires only on degraded runs): prev-round regressions first, by
    * ratio to the previous committed median, so a 4.8× inflation of a
    * 0.5 s query outranks a 2× of a big one; then stall-flagged queries.
    * A stall flag already carries exonerating evidence (its best rep and
    * diag), a uniform regression none without its iso shot.
    */
  def isoOrder(stallFlagged: Seq[String],
      regressed: Seq[(String, Double, Double)]): Seq[String] =
    (regressed.sortBy { case (_, med, prev) => -med / prev }
      .map(_._1) ++ stallFlagged).distinct

  /** Iso wall deadlines, seconds since bench start: regression movers
    * keep shooting 45 s past the stall-flag cutoff, since they carry no
    * evidence without their shot. Both sit under the driver's 590 s kill
    * with the line print's margin.
    */
  val IsoDeadlineRegression = 550.0
  val IsoDeadlineStall = 505.0

  /** The bench id: a query name's leading "qNN". */
  def qid(name: String): String = name.takeWhile(_ != '_')

  /** Scan a committed artifact's `"queries":{…}` body into qNN-keyed
    * medians. Accepts both key spellings, "q157" and the prefix-less
    * "157" of r17–r19 artifacts, normalizing to qNN, so the regression
    * trigger stays armed against either (unit-pinned by BenchContractSpec).
    */
  private[graft] def scanMedians(body: String): Map[String, Double] =
    "\"q?(\\d+)\":([0-9.]+)".r.findAllMatchIn(body)
      .map(m => "q" + m.group(1) -> m.group(2).toDouble).toMap

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Isolated q01 and q08 medians at sf0.1 (BASELINE.md "Cal floors"),
    * keyed by the session's local[N] core count.
    */
  val calFloors: Map[Int, Seq[(String, Double)]] = Map(
    32 -> Seq("q01" -> 0.54, "q08" -> 1.04),
    4 -> Seq("q01" -> 1.07, "q08" -> 1.81))

  /** The committed local session, shared by Bench and PlanDump so dumped
    * plans are the plans the bench times. SPARK_GRAFT_CPUS (local[N]),
    * SPARK_GRAFT_SHUFFLE (shuffle partitions), SPARK_GRAFT_MAXPART (split
    * bytes) and SPARK_GRAFT_CONF ("k=v;k=v" extra confs for A/B runs,
    * e.g. `spark.sql.adaptive.enabled=true`) override the defaults.
    */
  def session(): SparkSession = {
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4 is the measured knee at sf0.1 (round 6, 3-rep cold medians on
      // the multi-stage dedup subset: 32 → 15.1 s, 8 → 11.0 s, 4 → 8.2 s,
      // 2 → 7.9 s but with floor-query regressions): per-task launch
      // overhead dominates at this scale. A cluster sizes this to
      // executors × cores.
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "4"))
      // 1 MB splits so scan and sort stages use every core at bench scale
      // (sf0.1 lineitem is one 10.8 MB file); inert once files exceed it
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", (1 << 20).toString))
      .config("spark.sql.files.openCostInBytes", "65536")
      // single JVM: shuffle blocks and persist() intermediates live in the
      // page cache and local heap, so compressing them is pure CPU (A/B
      // r11: comparable-41 15.99 → 15.62 s) and locality waits mean
      // nothing. All three belong on for a multi-node deployment.
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.locality.wait", "0s")
      // AQE off for this single-JVM harness: at 4 initial partitions the
      // heavy/floor subset runs 13.0 s with AQE vs 8.5 s without, and the
      // 48g re-probe agreed (BASELINE.md). On a cluster AQE belongs on.
      .config("spark.sql.adaptive.enabled", "false")
      // 167 queries cycle ~1000 distinct codegen units; at the default
      // 100-entry cache every warm/cal/iso/first-rep execution re-pays
      // Janino compilation (interleaved A/B: 555 → 498 s wall)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registered queries in name order, narrowed to `only` when given. A
    * pattern matches a query iff it equals the full name or its qNN id,
    * so "q1" selects q1_* only, never q10..q19.
    */
  def select(only: Option[Seq[String]]): Seq[(String, Query)] = {
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    only.fold(all)(pats => all.filter { case (n, _) => pats.exists(p => p == n || p == qid(n)) })
  }

  /** One cold materialization: wall seconds, GC seconds, process-CPU
    * seconds, and the failure if it threw. */
  private final case class Shot(wall: Double, gcSec: Double, cpuSec: Double, error: Option[Throwable])

  /** Admit isolated shots in candidate order while the line still has
    * room for each at its widest; `shoot` returns a shot's wall seconds,
    * or None when it was shed or failed (a failed shot's time-to-failure
    * would read as a fast isolated run). */
  private[graft] def admitIso(r: BenchRecord, candidates: Seq[String])(
      shoot: String => Option[Double]): BenchRecord =
    candidates.foldLeft(r) { (r, name) =>
      if (!BenchRecord.fits(r.copy(iso = r.iso :+ (name -> 9.9)))) {
        System.err.println(s"[bench] $name isolated SKIPPED (line budget)")
        r
      } else shoot(name).fold(r)(wall => r.copy(iso = r.iso :+ (name -> wall)))
    }

  /** Previous-round medians: the newest committed BENCH_r*.json whose line
    * ran at the same sf (a sf0.01 iteration run must never be "regressed"
    * against a sf0.1 artifact). The driver wraps the line as an escaped
    * JSON string, so quotes are unescaped before the scan.
    */
  private def prevMedians(dir: java.io.File, sfName: String): Map[String, Double] = {
    val sf = sfName.stripPrefix("sf")
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(-_.getName.replaceAll("\\D", "").toInt)
      .iterator.map { f =>
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
            .replace("\\\"", "\"")
          val tag = "\"queries\":{"
          val qs = txt.indexOf(tag)
          // three sf spellings: "sf0.1" (r≤15), "0.1" (r16–r19) and a bare
          // number closing the line (`"sf":0.1}` — the driver wrapper's own
          // `"sf": 0.1` field has a space and cannot cross-match)
          val sfMatch = txt.contains("\"sf\":\"" + sfName + "\"") ||
            txt.contains("\"sf\":\"" + sf + "\"") || txt.contains("\"sf\":" + sf + "}")
          if (qs < 0 || !sfMatch) None
          else {
            System.err.println(s"[bench] regression baseline: ${f.getName}")
            Some(scanMedians(txt.substring(qs + tag.length, txt.indexOf('}', qs + tag.length))))
          }
        } catch { case _: Throwable => None }
      }.collectFirst { case Some(m) => m }.getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val benchStart = System.nanoTime()
    def elapsed = (System.nanoTime() - benchStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    val spark = session()
    val selected = select(only)
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    def shot(fn: Query): Shot = {
      // release persisted intermediates BEFORE the timer, so every shot
      // pays full materialization and persist() never accumulates into
      // storage-memory eviction
      graft.operators.GraftCache.releaseAll()
      spark.catalog.clearCache()
      val (gc0, cpu0, t0) = (gcMillis(), cpuNanos(), System.nanoTime())
      val error =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      Shot(wall, (gcMillis() - gc0) / 1e3, (cpuNanos() - cpu0) / 1e9, error)
    }
    // ANN index artifacts persist under $TMPDIR across invocations; wipe
    // them so every run trains and builds from the parquet inputs itself
    // (the untimed warm pass pays the build)
    graft.operators.AnnIndex.wipePersistedRoot()
    // untimed warm pass: JIT, codegen caches, parquet footers and the page
    // cache reach steady state first; the timed pass reports failures
    val warm0 = System.nanoTime()
    selected.foreach { case (_, fn) => shot(fn) }
    val warmSec = (System.nanoTime() - warm0) / 1e9
    // q01 and q08: code frozen since r10. Their floors depend on the
    // core count, so a host whose count has no floor reports the raw
    // canary (mean seconds) and never retries.
    val floors = calFloors.get(cpus)
    if (floors.isEmpty && sfName == "sf0.1")
      System.err.println(s"[bench] no cal floors for local[$cpus]: cal is raw seconds, no retries")
    val canaries = floors.getOrElse(Seq("q01" -> 1.0, "q08" -> 1.0))
    def calPoint(): Option[Double] = if (sfName != "sf0.1") None else {
      val ratios = canaries.flatMap { case (id, floor) =>
        selected.find(q => qid(q._1) == id).flatMap { case (name, fn) =>
          val s = shot(fn)
          if (s.error.nonEmpty) { System.err.println(s"[bench] cal $name FAILED, dropped"); None }
          else {
            System.err.println(f"[bench] cal $name ${s.wall}%.3f (ratio ${s.wall / floor}%.2f)")
            Some(s.wall / floor)
          }
        }
      }
      if (ratios.isEmpty) None else Some(ratios.sum / ratios.size)
    }
    def degraded(cal: Option[Double]): Boolean =
      floors.isDefined && cal.exists(_ > BenchRecord.Degraded)
    // a degraded start canary waits the phase out: ≤ 3 × 30 s, never
    // past 240 s elapsed
    var calStart = calPoint()
    var calRetries = 0
    while (calRetries < 3 && degraded(calStart) && elapsed < 240.0) {
      System.err.println(f"[bench] cal-start ${calStart.get}%.2f > 1.3 - " +
        f"host phase; waiting 30 s before re-probe (retry ${calRetries + 1})")
      Thread.sleep(30000L)
      calRetries += 1
      calStart = calPoint()
    }
    val failed = mutable.ArrayBuffer.empty[String]
    val gcTimed0 = gcMillis()
    val stats = selected.map { case (name, fn) =>
      // past 420 s / 480 s later reps are shed; every query keeps one
      val repsHere =
        if (elapsed > 480.0) 1.min(reps) else if (elapsed > 420.0) 2.min(reps) else reps
      if (repsHere < reps)
        System.err.println(s"[bench] $name reps degraded to $repsHere (wall budget)")
      val shots = (1 to repsHere).map { _ =>
        val s = shot(fn)
        s.error.filterNot(_ => failed.contains(name)).foreach { e =>
          failed += name
          System.err.println(s"[bench] $name FAILED: $e")
          e.printStackTrace()
        }
        s
      }
      System.err.println(s"[bench] $name reps=" +
        shots.map(s => f"${s.wall}%.3f").mkString(",") +
        " gc=" + shots.map(s => f"${s.gcSec}%.2f").mkString(",") +
        " cpu=" + shots.map(s => f"${s.cpuSec}%.1f").mkString(","))
      val walls = shots.map(_.wall).sorted
      val wallSum = math.max(walls.sum, 1e-9)
      QueryStat(name, walls(walls.length / 2), walls.head, walls.last,
        math.min(99L, math.round(100.0 * shots.map(_.gcSec).sum / wallSum)),
        shots.map(_.cpuSec).sum / wallSum)
    }
    val gcTimedSec = (gcMillis() - gcTimed0) / 1e3
    // skipped near the kill: a one-point cal still says what the host
    // looked like when the medians started
    val calEnd = if (elapsed > 540.0) None else calPoint()
    val measured = BenchRecord(stats, failed.toSeq, only, calStart, calEnd, calRetries,
      None, gcTimedSec, warmSec, sfName, Nil)
    val prev = prevMedians(new java.io.File(sys.env.getOrElse("SPARK_GRAFT_PREV_DIR", ".")), sfName)
    val flaggedStall = stats
      .filter(q => q.median > 2 * q.best && q.median - q.best > 0.5).sortBy(-_.median)
    val regressed = stats.flatMap(q => prev.get(qid(q.name)).collect {
      case p if q.median > 2 * p && q.median - p > 0.5 => (q.name, q.median, p)
    })
    val rung = BenchRecord.rung(measured)
    if (rung != BenchRecord.Rungs.head)
      System.err.println(s"[bench] medians precision rung t2=$rung (line budget)")
    val regressedNames = regressed.map(_._1).toSet
    val medianOf = stats.map(q => q.name -> q.median).toMap
    val fnOf = selected.toMap
    val withIso = admitIso(measured,
        isoOrder(flaggedStall.map(_.name), regressed).take(16)) { name =>
      val deadline = if (regressedNames(name)) IsoDeadlineRegression else IsoDeadlineStall
      if (elapsed + math.max(medianOf(name), 1.0) > deadline) {
        System.err.println(s"[bench] $name isolated SKIPPED (wall budget)")
        None
      } else {
        val s = shot(fnOf(name))
        s.error match {
          case Some(e) => System.err.println(s"[bench] $name isolated FAILED: $e"); None
          case None => System.err.println(f"[bench] $name isolated=${s.wall}%.3f"); Some(s.wall)
        }
      }
    }
    // the end re-probe runs last, so its bounded sleeps spend only the
    // line-print margin, never the iso window: a clean re-probe says the
    // end degradation postdated the timed suite
    var calEndReprobe: Option[Double] = None
    var endReprobes = 0
    while (endReprobes < 2 && degraded(calEndReprobe.orElse(calEnd)) && elapsed < 530.0) {
      System.err.println(f"[bench] cal-end ${calEndReprobe.orElse(calEnd).get}%.2f" +
        f" > 1.3 - re-probing after 30 s (end re-probe ${endReprobes + 1})")
      Thread.sleep(30000L)
      endReprobes += 1
      calEndReprobe = calPoint()
    }
    println(BenchRecord.render(withIso.copy(calEndReprobe = calEndReprobe)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}

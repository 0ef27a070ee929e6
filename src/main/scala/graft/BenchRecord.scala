package graft

import java.util.Locale

/** One query's timed reps: median, best and worst rep wall seconds, GC
  * share of the summed rep wall (%, capped 99) and process-CPU cores busy.
  */
final case class QueryStat(name: String, median: Double, best: Double,
    worst: Double, gcPct: Long, cores: Double)

/** Everything Bench measured that its stdout line reports. `sf` is the
  * data directory's basename; `gcSec` is JVM GC time in the timed phase
  * and `warmSec` the untimed warm pass; `iso` holds the admitted isolated
  * re-measure shots in admission order; `failed` is in first-failure
  * order. The cal fields are host-canary ratios (see [[Bench]]).
  */
final case class BenchRecord(
    queries: Seq[QueryStat],
    failed: Seq[String],
    only: Option[Seq[String]],
    calStart: Option[Double],
    calEnd: Option[Double],
    calRetries: Int,
    calEndReprobe: Option[Double],
    gcSec: Double,
    warmSec: Double,
    sf: String,
    iso: Seq[(String, Double)])

/** The bench line: a pure function of a [[BenchRecord]].
  *
  * The collector keeps the last 2000 chars of output; after the line come
  * its newline and sbt's ~74 B success trailer, so the line must fit
  * [[LineBudget]]. Every fit decision renders a worst-case variant of the
  * record and measures that string — there is no byte-width model to
  * drift from the assembler:
  *   - rung: the widest per-query precision whose line fits with no iso,
  *     no diag and a pending end re-probe at its widest;
  *   - iso admission ([[fits]]): a candidate shot, valued at its widest,
  *     still fits beside the shots already admitted;
  *   - diag: 2 → 1 → 0 entries on the final line.
  * At the narrowest rung every value renders in ≤ 3 chars, which is the
  * worst case BenchContractSpec pins.
  */
object BenchRecord {
  val LineBudget = 1918
  /** fqAt thresholds, widest first: two decimals below t2. */
  val Rungs = Seq(10.0, 2.5, 1.0, 0.5, 0.0)
  /** A cal ratio above this reads as a degraded host. */
  val Degraded = 1.3

  def render(r: BenchRecord): String = {
    val t2 = rung(r)
    Seq(2, 1, 0).map(line(r, t2, _)).find(_.length <= LineBudget)
      .getOrElse(line(r, t2, 0))
  }

  def rung(r: BenchRecord): Double = {
    val bare = widest(r.copy(iso = Nil))
    Rungs.find(line(bare, _, 0).length <= LineBudget).getOrElse(Rungs.last)
  }

  /** Whether the line still fits at its rung, with no diag and the end
    * re-probe at its widest. */
  def fits(r: BenchRecord): Boolean =
    line(widest(r), rung(r), 0).length <= LineBudget

  // a degraded end canary is re-probed after the iso pass, appending to
  // the cal array, so every fit decision reserves the re-probe's width
  private def widest(r: BenchRecord) =
    if (r.calEnd.exists(_ > Degraded)) r.copy(calEndReprobe = Some(9.9)) else r

  /** The one line assembler: per-query medians at rung `t2`, at most
    * `diag` diag entries. */
  def line(r: BenchRecord, t2: Double, diag: Int): String = {
    def str(s: String) = "\"" + s + "\""
    def arr(vs: Seq[String]) = vs.mkString("[", ",", "]")
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    // diag/iso keys drop the "q" so a "qNN":number scan of the line can
    // never read an isolated shot as a median
    def rid(name: String) = Bench.qid(name).stripPrefix("q")
    // diag: stall outliers (worst rep > 2× median and > 2 s over it)
    // first, then the largest medians ≥ 1 s
    val (stalls, rest) = r.queries.partition(q =>
      q.worst > 2 * q.median && q.worst - q.median > 2.0)
    val diagEntries = (stalls ++ rest.filter(_.median >= 1.0).sortBy(-_.median))
      .take(diag).map(q => rid(q.name) ->
        arr(Seq(fqAt(q.best, 10.0), fc(q.worst), q.gcPct.toString, fc(q.cores))))
    val (g, w) = (math.min(9, math.round(r.gcSec)), math.min(99, math.round(r.warmSec)))
    // cal ratios cap at 9.9 and render at one decimal: they are read
    // against 1.3 / 2× thresholds. A missing end renders null so a lone
    // point says which end it measured; the retry count is rendered
    // (even as 0) whenever a re-probe follows, so position identifies it.
    def ratio(v: Double) = fqAt(math.min(v, 9.9), 0.0)
    val calPresent = r.calStart.nonEmpty || r.calEnd.nonEmpty
    val cal = Seq(r.calStart, r.calEnd).map(_.fold("null")(ratio)) ++
      Seq(g.toString, w.toString) ++
      (if (r.calRetries > 0 || r.calEndReprobe.nonEmpty) Seq(r.calRetries.toString)
       else Nil) ++
      r.calEndReprobe.map(ratio)
    val sf = r.sf.stripPrefix("sf")
    obj(Seq("metric" -> str("t"),
        "value" -> fqAt(r.queries.map(_.median).sum, t2),
        "unit" -> str("sec")) ++
      r.only.map(o => "only" -> arr(o.map(str))) ++
      Seq("queries" -> obj(r.queries.map(q => Bench.qid(q.name) -> fqAt(q.median, t2)))) ++
      Option.when(diagEntries.nonEmpty)("diag" -> obj(diagEntries)) ++
      Option.when(r.iso.nonEmpty)("iso" -> obj(r.iso.map { case (n, v) => rid(n) -> fc(v) })) ++
      (if (calPresent) Seq("cal" -> arr(cal))
       else Seq("g" -> g.toString, "w" -> w.toString)) ++
      Option.when(r.failed.nonEmpty)("failed" -> arr(r.failed.map(str))) ++
      Seq("sf" -> (if (sf.matches("\\d+(\\.\\d+)?")) sf else str(sf))))
  }

  private def fmt(pattern: String, v: Double) = pattern.formatLocal(Locale.ROOT, v)

  /** Two decimals below `t2`, one below 10 s, whole seconds past that;
    * tiered by the RENDERED width (9.995 rounds to "10.00"), ≤ 3 chars at
    * every magnitude on the t2 = 0 rung, trailing zeros stripped. */
  private def fqAt(v: Double, t2: Double): String = {
    var s = fmt(if (v < t2) "%.2f" else "%.1f", v)
    if (s.length > 4) s = fmt("%.1f", v)
    if (s.length > 4) s = fmt("%.0f", v)
    if (t2 == 0.0 && s.length > 3) s = fmt("%.0f", v)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    else s
  }

  /** One decimal below 10, whole numbers above, ≤ 3 chars (capped 99). */
  private def fc(v: Double): String = {
    val s = fmt(if (v < 10) "%.1f" else "%.0f", v)
    if (s.length <= 3) s else fmt("%.0f", math.min(v, 99.0))
  }
}

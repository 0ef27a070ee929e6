package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts the bench/verify harness depends on. The collecting
  * harness keeps only ~2 KB of process-output tail and parses ONE JSON
  * line from it (BENCH_r04/r05 were truncated to `parsed: null` when
  * the line hit 7 KB) — these assertions fail a regression here before
  * a round's numbers are silently lost.
  */
class BenchContractSpec extends AnyFunSuite {

  private def qid(name: String) = name.takeWhile(_ != '_')

  test("qNN ids are unique (bench JSON keys + SPARK_GRAFT_ONLY matching)") {
    val ids = SparkEntry.all.map(q => qid(q.name))
    val dups = ids.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicate bench ids: ${dups.mkString(",")}")
  }

  test("worst-case bench JSON line fits the collector tail BESIDE sbt's trailer") {
    // Budget: the collector keeps the LAST 2000 chars of output. After
    // the line: its own newline (1) + sbt's success trailer, worst
    // observed shape "[success] Total time: 1234 s (20:34), completed
    // Dec 28, 2026, 12:59:59 PM" + newline = 74. Before the line:
    // nothing (outputStrategy = StdoutOutput). True budget therefore
    // 2000 − 75 = 1925; the renderer admits against the stricter
    // BenchRecord.LineBudget 1918 (margin for an exotic trailer).
    // Worst line: the guaranteed-fit rung renders every value in ≤ 3
    // chars; iso, diag, failed and only all yield to zero; cal at its
    // widest (start/end 9.9, g 9, w 99, retry count 3, end re-probe
    // 9.9). Medians of 590/N s — the driver's 590 s kill bounds the
    // total — render in 3 chars from the 2.5 rung down, so the renderer
    // itself produces that line:
    //   {"metric":"t","value":590,"unit":"sec",
    //   "queries":{"q01":3.5,…,"q167":3.5},"cal":[9.9,9.9,9,99,3,9.9],"sf":0.1}
    // 1825 B at 167 gates: 93 B under the 1918 admission budget, ~8
    // future gates at 11 B each before the renderer needs another trim.
    val gates = SparkEntry.all.size
    val worst = BenchRecord(
      SparkEntry.all.map(q => QueryStat(q.name, 590.0 / gates, 0, 0, 0, 0)),
      Nil, None, Some(9.9), Some(9.9), 3, Some(9.9), 9, 99, "sf0.1", Nil)
    val line = BenchRecord.line(worst, BenchRecord.rung(worst), diag = 0)
    assert(line.contains("\"value\":590,") &&
      line.endsWith("\"cal\":[9.9,9.9,9,99,3,9.9],\"sf\":0.1}"), line)
    // 1825 B at 167 gates; each later gate adds `,"qNNN":3.5` = 11 B
    assert(line.length == 1825 + 11 * (gates - 167),
      s"worst-case line is ${line.length} B at $gates gates — the renderer " +
        "changed; re-derive the worst case before committing")
    assert(line.length <= BenchRecord.LineBudget - 90,
      s"worst-case line ${line.length} B leaves < 90 B headroom " +
        "under the 1918 admission budget; trim the renderer before adding gates")
    assert(BenchRecord.render(worst).length <= BenchRecord.LineBudget)
  }

  test("iso wall budget is reserved for regression movers (r17 verdict #1)") {
    // regressions carry NO exonerating evidence without their shot —
    // their deadline must strictly exceed the stall-flag deadline, and
    // both must leave the 590 s driver kill real margin for the line
    assert(Bench.IsoDeadlineRegression > Bench.IsoDeadlineStall)
    assert(Bench.IsoDeadlineRegression <= 560.0)
  }

  test("iso candidates: evidence-less regressions first by ratio-vs-prev, then stall flags (r14 verdict item 2)") {
    // the path only fires on degraded runs — pin its ordering here so
    // the guarantee doesn't wait for one. Regressions carry NO
    // exonerating evidence without an iso shot, so they outrank stall
    // flags (which already carry their own best rep + diag context);
    // within regressions, q122-style: a 4.8× inflation of a small query
    // must outrank a 2.0× of a big one.
    val regressed = Seq(
      ("q104_tpch_q4", 1.28, 0.64),        // 2.0× on a bigger median
      ("q122_hard_negatives", 2.39, 0.50), // 4.8×
      ("q103_tpch_q15", 1.22, 0.32))       // 3.8×
    val got = Bench.isoOrder(Seq("q123_jdbc_expr_agg"), regressed)
    assert(got == Seq("q122_hard_negatives", "q103_tpch_q15",
      "q104_tpch_q4", "q123_jdbc_expr_agg"), got.toString)
    // a query both stall-flagged and regressed appears once, in the
    // regression (evidence-needing) position
    val dup = Bench.isoOrder(Seq("q122_hard_negatives"), regressed)
    assert(dup.head == "q122_hard_negatives" && dup.count(_ == "q122_hard_negatives") == 1)
  }

  test("prev-round matcher accepts both key spellings (r17 prefix-drop transition)") {
    // r≤16 artifacts carry "q157":1.86; r17+ lines carry "157":0.9 —
    // both must normalize to qNN or the regression trigger silently
    // disarms for exactly one transition round
    val old = Bench.scanMedians("\"q01\":0.54,\"q157\":1.86")
    val neu = Bench.scanMedians("\"01\":0.55,\"157\":0.9")
    assert(old == Map("q01" -> 0.54, "q157" -> 1.86), old.toString)
    assert(neu == Map("q01" -> 0.55, "q157" -> 0.9), neu.toString)
  }

  test("every query has a distinct name and every oracle aliases no bare aggregates") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    // driver compare sorts columns by NAME: an unaliased aggregate like
    // sum(x) would never match the Spark column; cheap lint for the
    // obvious cases
    SparkEntry.oracleSql.foreach { case (n, sql) =>
      assert(!sql.toLowerCase.matches(""".*select [^,]*\((?!\*)[^)]*\)\s*(,|from).*""") ||
        sql.toLowerCase.contains(" as "),
        s"$n: oracle seems to project an unaliased expression")
    }
  }
}

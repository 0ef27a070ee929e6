package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's query and table names resolve against the registries.
  * A stale name would otherwise surface only at run time, after an N×
  * dataset has been built. Pure name checks: no Spark job, no data.
  */
class ScaleProbeFamiliesSpec extends AnyFunSuite {

  test("every family query is a registered query and every fact table a testdata table") {
    for ((op, f) <- ScaleProbe.families) {
      assert(Tables.names.contains(f.table), s"$op: unknown fact table ${f.table}")
      assert(f.shiftCols.nonEmpty, s"$op: no shifted key column")
      for (q <- f.queries)
        assert(SparkEntry.queries.contains(q), s"$op: unknown query $q")
    }
  }

  test("relational and textlayout query sets resolve") {
    val qids = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    for (q <- ScaleProbe.relationalQueries)
      assert(qids.contains(q), s"relational: unknown qid $q")
    for (q <- ScaleProbe.textLayoutQueries)
      assert(SparkEntry.queries.contains(q), s"textlayout: unknown query $q")
  }

  test("an unknown op fails before Spark starts, listing the valid ops") {
    val e = intercept[IllegalArgumentException] {
      ScaleProbe.main(Array("/nonexistent", "2", "no_such_op"))
    }
    assert(e.getMessage.contains("no_such_op"), e.getMessage)
    for (op <- ScaleProbe.families.keys ++ Seq("relational", "textlayout", "neardup"))
      assert(e.getMessage.contains(op), e.getMessage)
  }
}

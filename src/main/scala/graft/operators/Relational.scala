package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator coverage per SURVEY.md §2.9: projection-only scan,
  * predicate pushdown, IN/LIKE, TopK, joins (incl. semi/anti/multi-way),
  * aggregation, windows, set ops, rollup, scalar subqueries.
  *
  * The reference executes none of these itself — it pushes them to the
  * remote engine or leaves them to DataFusion
  * (reference `SURVEY.md §2.4`, `crates/common/src/sql/sql_provider_datafusion/mod.rs:219-228`).
  * Here Spark SQL *is* the engine; every query is declared with the
  * DataFrame API so Catalyst handles pruning/pushdown/join planning.
  *
  * Scale notes (100 TB design):
  *   - dimension tables (region/nation/supplier/part) are explicitly
  *     `broadcast()` so fact-table joins never shuffle the big side;
  *   - aggregations are partial-aggregated map-side by Spark automatically
  *     (hash aggregate with partial merge) — no collect-to-driver anywhere;
  *   - all money arithmetic routes through DECIMAL(18,2) so results are
  *     scale-independent and bit-stable (also avoids double-summation
  *     order-dependence across partitions/executors — a correctness
  *     property at ANY cluster size, not just for the oracle).
  */
object Relational {
  private val D = DecimalType(18, 2)
  private def dec(c: Column): Column = c.cast(D)
  /** Money as exact int64 cents: per-row rounding is the oracle's
    * DECIMAL(18,2) cast, the aggregation buffer a primitive long. */
  private def cents(c: Column): Column = (dec(c) * lit(100)).cast("long")
  /** Exact decimal division then ONE double rounding — valid for every
    * int64 cents sum, not just those under 2^53 (q06's note). */
  private def money(sumCents: Column): Column =
    (sumCents.cast(DecimalType(28, 0)) / lit(100)).cast("double")
  // Session-timezone-based parse (UTC via config): identical row selection
  // to the DuckDB oracle's naive timestamps on any host timezone.
  private def ts(s: String): Column = to_timestamp(lit(s))

  /** TPC-H revenue: SUM(extprice · (1 − discount)), exact in DECIMAL,
    * DOUBLE only at the very end (both engines round the same exact
    * value, so even ORDER BY revenue is hash-stable).
    */
  private def revenue: Column =
    sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double")
  private val revenueSql: String =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  def queries: Seq[Q] = Seq(
    Q("q01_pruned_scan",
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("q02_filter_pushdown",
      "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem " +
        "WHERE l_quantity > 30 AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00' " +
        "ORDER BY l_orderkey, l_linenumber") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 30 && col("l_shipdate") < ts("1996-01-01 00:00:00"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("q03_in_like",
      "SELECT p_partkey, p_brand, p_type, p_retailprice FROM part " +
        "WHERE p_brand IN ('Brand#11','Brand#22','Brand#33') AND p_type LIKE 'S%' " +
        "ORDER BY p_partkey") { (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33") &&
          col("p_type").like("S%"))
        .select("p_partkey", "p_brand", "p_type", "p_retailprice")
        .orderBy("p_partkey")
    },

    Q("q04_topk",
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10) // plans as TakeOrderedAndProject: per-partition top-k, no full sort
    },

    Q("q05_join_agg",
      "SELECT o_orderkey, o_orderpriority, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'O' GROUP BY o_orderkey, o_orderpriority " +
        "ORDER BY o_orderkey") { (s, dir) =>
      val o = Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "O")
      val l = Tables.load(s, dir, "lineitem")
      // A/B'd r12 and kept as-is: pre-aggregating lineitem per orderkey
      // BELOW the join (the q12/q90 Expand trick's sibling) measured
      // 0.78 → 1.20 s at sf0.1 — the orders side broadcasts here, so
      // the join costs no shuffle and the pre-agg only adds a stage.
      // The pre-agg form wins exactly when the join itself must
      // shuffle (orderkey-grouped facts past broadcast reach); at that
      // scale AQE's SMJ choice is the signal to revisit.
      o.join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy("o_orderkey")
    },

    Q("q06_agg_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val discPrice = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
      // Linear money sums accumulate as int64 CENTS: the per-row value is
      // still rounded by the same DECIMAL(18,2) cast the oracle declares,
      // but the aggregation buffer is a primitive long instead of the
      // +10-precision (128-bit) decimal Spark promotes SUM(DECIMAL) to.
      // The 6-ROW output converts back through exact decimal division
      // (S/100 has exactly 2 decimals — value-exact at the result scale,
      // q28's pattern) so the double cast is the SINGLE correctly
      // rounded conversion of the same rational the oracle rounds, for
      // EVERY int64 sum — not just those under 2^53 (a double-then-
      // divide conversion would round twice past that, and 100 TB
      // groups cross it). The two PRODUCT terms stay in DECIMAL: their
      // per-row rounding semantics (scale-4 cast, scale-6 product) are
      // part of the declared result and have no exact integer carrier.
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          money(sum(cents(col("l_quantity")))).as("sum_qty"),
          money(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(discPrice * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
          (money(sum(cents(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    Q("q07_window_rank",
      "SELECT c_custkey, c_nationkey, c_acctbal, " +
        "RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk " +
        "FROM customer ORDER BY c_nationkey, rnk, c_custkey") { (s, dir) =>
      val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          rank().over(w).as("rnk"))
        .orderBy(col("c_nationkey"), col("rnk"), col("c_custkey"))
    },

    // The window order carries l_quantity as the FINAL tiebreaker:
    // (l_orderkey, l_linenumber) is NOT unique in the generated data
    // (sf0.1 has ~118k duplicate pairs), and a running sum over a
    // non-total order is engine-order-dependent — two same-key rows
    // with quantities 16 and 13 yield prefix 7731 or 7728 depending on
    // which lands first. Ordering by the summed value itself makes the
    // prefix-sum multiset well-defined under any duplicate pattern.
    Q("q08_window_running",
      "SELECT l_suppkey, l_orderkey, l_linenumber, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey " +
        "ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty " +
        "FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty") { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(dec(col("l_quantity"))).over(w).cast("double").as("running_qty"))
        // running_qty as final tiebreaker: (l_orderkey, l_linenumber) is
        // not unique, and tied rows carry different running sums — without
        // it the presentation order is engine-dependent (r6 advice).
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    },

    Q("q09_setops",
      "SELECT nkey FROM (SELECT c_nationkey AS nkey FROM customer INTERSECT " +
        "SELECT s_nationkey AS nkey FROM supplier) ORDER BY nkey") { (s, dir) =>
      val c = Tables.load(s, dir, "customer").select(col("c_nationkey").as("nkey"))
      val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").as("nkey"))
      c.intersect(sup).orderBy("nkey")
    },

    Q("q10_semi_join",
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F') " +
        "ORDER BY c_custkey") { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    Q("q11_anti_join",
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P') " +
        "ORDER BY c_custkey") { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },

    // ROLLUP via pre-aggregation: Spark executes ROLLUP/CUBE as an
    // Expand that replicates EVERY input row once per grouping set
    // (×3 here) before the hash aggregate — at 100 TB that triples the
    // fact-table flow for subtotals derivable from the finest level.
    // Aggregating by (flag, status) FIRST (600 k → 6 rows; the partial
    // long-cents sums re-sum exactly, q06's argument) and rolling up
    // the 6-row frame computes the identical result with the Expand
    // applied to 6 rows instead of the fact table. Valid because the
    // grouping keys are non-null in this data model — with nullable
    // keys the re-aggregation would conflate data-NULL groups with
    // subtotal rows (use grouping_id at the outer level, as q90 does).
    Q("q12_rollup",
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"),
          sum(cents(col("l_quantity"))).as("pq"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("pn")).as("n"),
          money(sum(col("pq"))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    // Full CUBE with ANSI GROUPING() labels (q12 covers ROLLUP): all
    // four grouping combinations, gid = the standard bitmask (bit set ⇔
    // the column is aggregated away in that row). Same pre-aggregation
    // shape as q12 — the Expand (×4 here) runs over the 6-row partial
    // frame, never the fact table; grouping_id is computed at the CUBE
    // level so subtotal rows stay distinguishable regardless of data.
    Q("q90_cube_grouping",
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"),
          sum(cents(col("l_quantity"))).as("pq"))
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("pn")).as("n"),
          money(sum(col("pq"))).as("sum_qty"),
          grouping_id("l_returnflag", "l_linestatus").as("gid"))
        .select("l_returnflag", "l_linestatus", "n", "sum_qty", "gid")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // Threshold compared multiplicatively (price * N > total) — exact integer/
    // decimal math on both engines, no division rounding in row selection.
    Q("q13_scalar_subquery",
      "SELECT p_partkey, p_retailprice FROM part WHERE " +
        "CAST(p_retailprice AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM part) > " +
        "(SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2))) FROM part) " +
        "ORDER BY p_partkey") { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      val agg = p.agg(count(lit(1)).as("cnt"), sum(dec(col("p_retailprice"))).as("tot"))
      p.crossJoin(broadcast(agg))
        .filter(dec(col("p_retailprice")) * col("cnt") > col("tot"))
        .select("p_partkey", "p_retailprice").orderBy("p_partkey")
    },

    Q("q14_multi_join",
      "SELECT n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE r_name IN ('ASIA','EUROPE') " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name") { (s, dir) =>
      val r = Tables.load(s, dir, "region").filter(col("r_name").isin("ASIA", "EUROPE"))
      val n = Tables.load(s, dir, "nation")
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = Tables.load(s, dir, "lineitem")
      // Star-join order matters at scale: reduce ORDERS through the
      // broadcast dim chain FIRST (region filter × customer-nation map
      // drops ~60% of orders on top of the date filter), THEN join the
      // 2-column survivor set to lineitem. The old shape shuffled the
      // full date-filtered orders against lineitem and only then applied
      // the dims — at 100× that unfiltered fact-fact join was the whole
      // 5.9 s (vs DuckDB 1.9 s).
      // The reduction is a LEFT SEMI join deliberately: without CBO
      // stats, Catalyst estimates an inner join's output from the size
      // PRODUCT (which made it broadcast the pruned LINEITEM side — the
      // fact table — as the "smaller" build), while a semi join's
      // estimate stays = the orders side. That keeps the planner
      // scale-adaptive on the fact join: at bench SFs the reduced orders
      // set broadcasts and lineitem never shuffles; at 100× the estimate
      // crosses the threshold and it becomes a shuffle join of a
      // 2-column 12%-survivor set instead of the full orders table.
      // n_name is recovered ABOVE the fact join from the same broadcast
      // dim map (the exchange is reused).
      val dims = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name")
      val o2 = o.join(broadcast(dims), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")
      // The fact join stays declarative: at bench SFs and (with the
      // deployment-sized broadcast threshold ScaleProbe's relational op
      // sets) at 100×, Catalyst broadcasts the survivor set and lineitem
      // runs scan → probe → partial agg in ONE whole-stage pipeline — no
      // fact shuffle, measured 6.1 s cold / 2.5 s warm at 100× vs 8.9 s
      // for the unreduced SMJ. Past broadcast reach (≫10⁸ surviving
      // orders) the planner falls back to a shuffle join of the
      // 2-column survivor set; at that scale add the
      // graft_might_contain bloom pre-filter (q137) on l_orderkey —
      // COMMITTED NEGATIVE at 100× (BENCH100_r15 q14_bloom_lever): the
      // bloom variant measured 2.4× the committed shape (4.8–5.1 s vs
      // 2.0–2.5 s, healthy-phase run, signature-identical) because the
      // eager bloom build + 60 M-row pre-probe costs ~3 s where the
      // LongHashedRelation probe it relieves costs ~1.5 s total — while
      // the survivor set is broadcastable the bloom can only lose,
      // which is why it is NOT hardwired here.
      l.join(o2, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("n_name")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    Q("q15_distinct",
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders ORDER BY 1, 2") { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    },

    Q("q16_case_scalar",
      "SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN l_quantity > 40 THEN 'high' WHEN l_quantity > 20 THEN 'mid' ELSE 'low' END AS qty_band, " +
        "UPPER(l_returnflag) AS rf, COALESCE(NULLIF(l_linestatus, 'O'), 'X') AS ls " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_quantity") > 40, "high")
            .when(col("l_quantity") > 20, "mid").otherwise("low").as("qty_band"),
          upper(col("l_returnflag")).as("rf"),
          coalesce(nullif(col("l_linestatus"), lit("O")), lit("X")).as("ls"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    Q("q17_events_hourly",
      "SELECT DATE_TRUNC('hour', ts) AS hour_ts, event_type, COUNT(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2") { (s, dir) =>
      // events.ts is TIMESTAMP(NANOS) in parquet: with nanosAsLong (set in
      // Verify/Bench session builders) it reads as Long nanos; integer-divide
      // to µs (`div`, not `/` — double division loses ulps above 2^53).
      val ev = Tables.load(s, dir, "events")
      val tsCol =
        if (ev.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else col("ts")
      ev.groupBy(date_trunc("hour", tsCol).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy("hour_ts", "event_type")
    },

    // TPC-H Q3 (shipping priority): selective 3-way join, grouped
    // revenue, top-10. Revenue sums ride DECIMAL (exact) and only the
    // final value casts to DOUBLE, so ORDER BY revenue is ordering
    // identical exactly-representable values in both engines.
    Q("q20_tpch_q3",
      "SELECT l_orderkey, " + revenueSql + " AS revenue, o_orderdate, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10") { (s, dir) =>
      val c = Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderdate") < ts("1997-06-01 00:00:00"))
      val l = Tables.load(s, dir, "lineitem").filter(col("l_shipdate") > ts("1997-06-01 00:00:00"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(desc("revenue"), col("l_orderkey")).limit(10)
    },

    // TPC-H Q5 (local supplier volume): 6-table star with the
    // customer-nation = supplier-nation co-location condition.
    Q("q21_tpch_q5",
      "SELECT n_name, " + revenueSql + " AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name") { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
      Tables.load(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
        .join(Tables.load(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue.as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    },

    // TPC-H Q10 (returned items): customers ranked by lost revenue in
    // one half-year of 'R'-flagged lineitems.
    Q("q22_tpch_q10",
      "SELECT c_custkey, c_name, " + revenueSql + " AS revenue, " +
        "CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20") { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-07-01 00:00:00"))
      Tables.load(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue.as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal").cast("double").as("c_acctbal"), col("n_name"))
        .orderBy(desc("revenue"), col("c_custkey")).limit(20)
    },

    // TPC-H Q18 (large-volume orders): IN-subquery over an aggregated
    // stream — plans as a semi-join against the HAVING-filtered
    // per-order quantity totals, a shape no other gate exercises.
    Q("q23_tpch_q18",
      "SELECT c_custkey, c_name, o_orderkey, o_orderdate, " +
        "CAST(o_totalprice AS DOUBLE) AS o_totalprice, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey " +
        "HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 280) " +
        "GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25") { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
      val big = l.groupBy("l_orderkey")
        .agg(sum(dec(col("l_quantity"))).as("q"))
        .filter(col("q") > 280).select(col("l_orderkey").as("bk"))
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(big, col("o_orderkey") === col("bk"), "left_semi")
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("double").as("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(25)
    },

    // TPC-H Q7 (volume shipping): the nation dimension joins TWICE
    // (supplier side and customer side) with a symmetric two-nation OR
    // predicate, grouped by shipment year — dimension-reuse + temporal
    // grouping in one gate.
    Q("q24_tpch_q7",
      "SELECT supp_nation, cust_nation, l_year, " + revenueSql + " AS revenue FROM (" +
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "EXTRACT(year FROM l_shipdate)::BIGINT AS l_year, l_extendedprice, l_discount " +
        "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') " +
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))) " +
        "GROUP BY supp_nation, cust_nation, l_year " +
        "ORDER BY supp_nation, cust_nation, l_year") { (s, dir) =>
      val n1 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n1k"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("n2k"), col("n_name").as("cust_nation"))
      Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(Tables.load(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(n1, col("s_nationkey") === col("n1k"))
        .join(n2, col("c_nationkey") === col("n2k"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(revenue.as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // TPC-H Q22 (global sales opportunity): dormant high-balance
    // customers — an anti-join against recent orders gated by a
    // global-aggregate threshold. The threshold compare is
    // multiplicative (`acctbal * n > sum`) in exact DECIMAL, so row
    // selection never touches FP division; the 1-row stats frame is
    // broadcast, the anti-join is the only fact-side shuffle.
    Q("q25_tpch_q22",
      "WITH pos AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n " +
        "FROM customer WHERE c_acctbal > 0) " +
        "SELECT n_name, COUNT(*) AS numcust, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal " +
        "FROM customer CROSS JOIN pos JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pos.n > pos.s " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY n_name ORDER BY n_name") { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val stats = c.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("s"), count(lit(1)).as("n"))
      val recent = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("2000-01-01 00:00:00"))
        .select("o_custkey")
      c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(stats))
        .filter(dec(col("c_acctbal")) * col("n") > col("s"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
        .orderBy("n_name")
    },

    // TPC-H Q11 (important stock): per-supplier revenue HAVING-filtered
    // against a share of the global total. Both sides of the HAVING stay
    // exact DECIMAL (×200 is an exact integer scale), so the share cut
    // is bit-stable; the 1-row total broadcasts.
    // The global total re-aggregates the supplier-sized `rev` frame
    // (exact DECIMAL sums are associative), so lineitem is scanned ONCE
    // — at 100 TB the second fact scan is the cost that matters.
    Q("q26_tpch_q11",
      "WITH rev AS (SELECT s_suppkey, s_name, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2), " +
        "tot AS (SELECT SUM(v) AS t FROM rev) " +
        "SELECT s_suppkey, s_name, CAST(v AS DOUBLE) AS value " +
        "FROM rev CROSS JOIN tot WHERE v * 200 > t " +
        "ORDER BY value DESC, s_suppkey") { (s, dir) =>
      val rev = GraftCache.track(Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("v")))
      val total = rev.agg(sum(col("v")).as("t"))
      rev.crossJoin(broadcast(total))
        .filter(col("v") * 200 > col("t"))
        .select(col("s_suppkey"), col("s_name"), col("v").cast("double").as("value"))
        .orderBy(desc("value"), col("s_suppkey"))
    },

    // TPC-H Q12 (shipping modes / priority classes): join + conditional
    // CASE aggregation. DuckDB SUM(INT) returns HUGEINT, so both counts
    // are cast to BIGINT in the oracle (the r6 lesson, VERDICT.md §wrong).
    Q("q27_tpch_q12",
      "SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag") { (s, dir) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem")
          .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
            col("l_shipdate") < ts("1998-01-01 00:00:00")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(high, 1).otherwise(0)).cast("long").as("high_line_count"),
          sum(when(!high, 1).otherwise(0)).cast("long").as("low_line_count"))
        .orderBy("l_returnflag")
    },

    // TPC-H Q14 (promotion effect): monthly promo revenue share. Both
    // sums are exact DECIMAL; the share is ONE double division of two
    // exactly-representable values (same rounding in both engines).
    Q("q28_tpch_q14",
      "SELECT CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS mon, " +
        "CAST(100 * SUM(CASE WHEN p_type = 'PROMO' THEN " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) " +
        "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
        "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS promo_share, " +
        "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY 1 ORDER BY 1") { (s, dir) =>
      // q06's int64 trick, applied to BOTH sums: the per-row value is
      // still the oracle's DECIMAL(18,4) product cast, but it
      // accumulates as exact long TEN-THOUSANDTHS ((18,4) × 10⁴ is
      // integral; sums sit far under 2^63), so the month aggregate runs
      // primitive buffers instead of two 128-bit decimal sums over the
      // joined stream. The 12-ROW output converts back to exact DECIMAL
      // (S/10⁴ has exactly 4 decimals — the division is value-exact at
      // the result scale) so the ×100 and the double casts round the
      // SAME exact rationals the oracle rounds, at zero per-row cost.
      val discPrice = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
      val tenK = (discPrice * lit(10000)).cast("long")
      def asDec4(c: Column): Column = c.cast(DecimalType(28, 0)) / lit(10000)
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("mon"))
        .agg(
          sum(when(col("p_type") === "PROMO", tenK).otherwise(lit(0L))).as("num_tk"),
          sum(tenK).as("den_tk"))
        .select(col("mon"),
          ((asDec4(col("num_tk")) * 100).cast("double") /
            asDec4(col("den_tk")).cast("double")).as("promo_share"),
          asDec4(col("den_tk")).cast("double").as("total_rev"))
        .orderBy("mon")
    },

    // TPC-H Q16 (parts/supplier relationship): COUNT(DISTINCT) per part
    // attribute triple with NOT-IN/≠ exclusion filters — the one
    // distinct-aggregate shape the relational gates didn't yet pin.
    Q("q29_tpch_q16",
      "SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM part JOIN lineitem ON p_partkey = l_partkey " +
        "WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO' " +
        "AND p_size IN (1,5,9,13,17,21,25,29) " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size") { (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#11" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .join(Tables.load(s, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    },

    // Window-function breadth in ONE window (one exchange + sort):
    // ntile, percent_rank, cume_dist, nth_value, lag-with-default.
    // (l_orderkey, l_linenumber) is NOT unique (duplicate lineitems
    // exist), so l_quantity joins the window order: remaining ties are
    // identical in every column a window function here pulls, making
    // the output multiset order-independent; percent_rank and cume_dist
    // are single IEEE divisions of exact integer ranks.
    // The supplier-subset gate (suppkey ≡ 0 mod 10) drops whole window
    // partitions, never rows within one — every function still sees
    // full partitions, but the output (and the presentation sort) is
    // a tenth of the fact table instead of all of it.
    Q("q101_window_breadth",
      "SELECT l_suppkey, l_orderkey, l_linenumber, " +
        "NTILE(4) OVER w AS qtile, " +
        "percent_rank() OVER w AS pr, " +
        "cume_dist() OVER w AS cd, " +
        "first_value(l_orderkey) OVER w AS first_ok, " +
        "nth_value(l_orderkey, 3) OVER w AS third_ok, " +
        "lag(l_quantity, 2, -1) OVER w AS lag2 " +
        "FROM lineitem WHERE l_suppkey % 10 = 0 " +
        "WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber, l_quantity) " +
        "ORDER BY l_suppkey, l_orderkey, l_linenumber") { (s, dir) =>
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_suppkey") % 10 === 0)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          ntile(4).over(w).cast("long").as("qtile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first(col("l_orderkey")).over(w).as("first_ok"),
          nth_value(col("l_orderkey"), 3).over(w).as("third_ok"),
          lag(col("l_quantity"), 2, -1).over(w).as("lag2"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },

    // TPC-H Q17 (small-quantity-order revenue): correlated per-part
    // average as a threshold. avg = sum/cnt is never divided — the
    // predicate is the multiplicative `qty · 5 · cnt < sum` in exact
    // DECIMAL, so row selection is FP-free. The per-part stats frame is
    // part-BOUNDED (one row per part key — a dim-bounded aggregate
    // under the warehouse model where facts grow ~linearly and dims
    // don't), so it is declared broadcast EXPLICITLY: Catalyst's size
    // estimate for an aggregate derives from its fact-table child and
    // lands ~4 decades above the true 20 k rows, which at best demotes
    // the join to a fact-sorting SMJ and at a raised broadcast
    // threshold can flip the BUILD side to the probe leg (measured at
    // 100×: 22.5 s with that flip vs 9.6 s SMJ — the estimate, not the
    // data, was choosing the join).
    // The 3-column lineitem projection feeds BOTH the stats aggregate
    // and the probe side — and is deliberately NOT persisted: the r14
    // starprof A/B overturned the r11 "scan once" rule on BOTH layouts
    // at 100× (cents: cache 2.2–2.8 s vs rescan 1.0–1.5; original:
    // cache 5.5–5.6 vs rescan 4.1–5.0) and is at worst neutral at
    // sf0.1 (1.02 → 0.94 s cold median, SPARK_GRAFT_ONLY=q102, 5
    // reps). Building the columnar cache costs a full write+read
    // of 60 M rows; re-scanning a 3-column parquet projection costs a
    // fraction of that, and cold reps pay the cache build EVERY time.
    // The cache pays only when the recomputation is expensive relative
    // to its materialized size (q41's filtered-shingle set), not for a
    // cheap column-pruned scan.
    Q("q102_tpch_q17",
      "SELECT p_brand, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price, " +
        "COUNT(*) AS n " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "JOIN (SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1) s ON pk = l_partkey " +
        "WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq " +
        "GROUP BY p_brand ORDER BY p_brand") { (s, dir) =>
      val l = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val stats = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(dec(col("l_quantity"))).as("sq"), count(lit(1)).as("cnt"))
      l.join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(stats), col("pk") === col("l_partkey"))
        .filter(dec(col("l_quantity")) * 5 * col("cnt") < col("sq"))
        .groupBy("p_brand")
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("total_price"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    },

    // TPC-H Q15 (top supplier): argmax against an aggregated stream —
    // suppliers whose half-year revenue EQUALS the global max. The
    // equality compare stays in exact DECIMAL (double only for output),
    // so the argmax set is bit-stable; the 1-row max broadcasts.
    Q("q103_tpch_q15",
      "WITH rev AS (SELECT l_suppkey AS sk, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00' GROUP BY 1), " +
        "mx AS (SELECT MAX(r) AS m FROM rev) " +
        "SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_rev " +
        "FROM supplier JOIN rev ON s_suppkey = sk CROSS JOIN mx " +
        "WHERE r = m ORDER BY s_suppkey") { (s, dir) =>
      val rev = GraftCache.track(Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-07-01 00:00:00"))
        .groupBy(col("l_suppkey").as("sk"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("r")))
      val mx = rev.agg(max(col("r")).as("m"))
      Tables.load(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("sk"))
        .crossJoin(broadcast(mx))
        .filter(col("r") === col("m"))
        .select(col("s_suppkey"), col("s_name"), col("r").cast("double").as("total_rev"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q4 (order-priority checking): EXISTS with a non-equi
    // correlated predicate → left-semi join keyed on the order key with
    // the inequality riding along. The testdata has no commit/receipt
    // dates, so "late" is shipped >60 days after the order date — same
    // semi-join shape, same pushdown surface.
    Q("q104_tpch_q4",
      "SELECT o_orderpriority, COUNT(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY 1 ORDER BY 1") { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-04-01 00:00:00"))
        .join(Tables.load(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q6 (forecasting revenue): the canonical
    // filter-everything-aggregate-one-row query. All three predicates
    // reach the parquet scan as pushed filters; the sum is exact
    // DECIMAL (map-side partial agg → one row to the driver).
    Q("q105_tpch_q6",
      "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, COUNT(*) AS n " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n"))
    },

    // TPC-H Q19 (discounted revenue): a 3-branch disjunction mixing
    // build-side (p_brand, p_size) and probe-side (l_quantity)
    // predicates. The join key stays a clean equi-join — the OR rides
    // as a post-join filter — so the broadcast hash join survives and
    // the disjunction stays inside whole-stage codegen.
    Q("q106_tpch_q19",
      "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, COUNT(*) AS n " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) " +
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")),
          col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"), count(lit(1)).as("n"))
    },

    // TPC-H Q13 (customer distribution): LEFT OUTER JOIN with a
    // filter in the join condition (not a WHERE — zero-order customers
    // must survive), then a histogram of the per-customer counts.
    // COUNT(o_orderkey) skips the nulls the outer join manufactures.
    Q("q107_tpch_q13",
      "SELECT c_count, COUNT(*) AS custdist FROM (" +
        "SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer " +
        "LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) t " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC") { (s, dir) =>
      Tables.load(s, dir, "customer")
        .join(Tables.load(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // TPC-H Q21 (suppliers who kept orders waiting): the hardest
    // subquery shape — EXISTS(other supplier on the order) AND NOT
    // EXISTS(other LATE supplier on the order) → one semi + one anti
    // join, both equi-keyed on the order key with the supplier
    // inequality riding along. "Late" adapts to shipped >100 days
    // after the order date (no receipt/commit dates in the testdata).
    // The late frame feeds both the probe side and the anti side, so
    // it is persisted once instead of re-scanning lineitem⋈orders.
    Q("q108_tpch_q21",
      "SELECT s_name, COUNT(*) AS numwait FROM lineitem l1 " +
        "JOIN supplier ON s_suppkey = l1.l_suppkey " +
        "JOIN orders ON o_orderkey = l1.l_orderkey " +
        "WHERE o_orderstatus = 'F' AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
        "AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_shipdate > o3.o_orderdate + INTERVAL 100 DAY) " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100") { (s, dir) =>
      val ordF = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val late = GraftCache.track(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAYS"))
        .select("l_orderkey", "l_suppkey"))
      val others = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      late
        .join(others, col("ok2") === col("l_orderkey") &&
          col("sk2") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers, col("ok3") === col("l_orderkey") &&
          col("sk3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(100)
    },

    // TPC-H Q8 (national market share): the 8-table star with nation
    // joined twice (customer region gate, supplier nation tag) and a
    // conditional-share aggregate. Numerator and denominator are both
    // exact DECIMAL; the single IEEE division of their double casts is
    // the only FP step, identical in both engines (same q28 discipline).
    Q("q109_tpch_q8",
      "SELECT o_year, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
        "CAST(SUM(vol) AS DOUBLE) AS mkt_share FROM (" +
        "SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS vol, " +
        "n2.n_name AS supp_nation " +
        "FROM part JOIN lineitem ON p_partkey = l_partkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t " +
        "GROUP BY o_year ORDER BY o_year") { (s, dir) =>
      val vol = (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
      val zero = lit(0).cast(DecimalType(18, 4))
      val custNation = Tables.load(s, dir, "nation")
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val suppNation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      // q14's star discipline, r13: the customer/region legs GATE orders
      // (no customer column is projected, and c_custkey is unique, so
      // the inner joins were semantically a semi filter) — reduce ORDERS
      // through the broadcast dim chain FIRST and the customer joins
      // vanish from the fact path entirely. The date+region survivor
      // set (~12% of orders, 2 columns) then joins lineitem
      // declaratively: at bench SFs and (with the deployment-sized
      // threshold) at 100× Catalyst broadcasts it and the part-probed
      // fact never shuffles — measured back-to-back at 100×: 5.29 →
      // 3.21 s cold (−40%). The toy-scale trade is the q14 one: the
      // reduction adds a stage that costs ~0.3 s at sf0.1 isolated and
      // buys 2 s at 100×. The semi join keeps the orders-side size
      // estimate, exactly the q14 scale-adaptivity note.
      val eurCust = Tables.load(s, dir, "customer")
        .join(broadcast(custNation), col("c_nationkey") === col("cnk"))
        .select("c_custkey")
      val o2 = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
        .join(broadcast(eurCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_orderdate")
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_type") === "ECONOMY")),
          col("p_partkey") === col("l_partkey"))
        .join(o2, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(zero))
            .cast("double").as("num"),
          sum(vol).cast("double").as("den"))
        .select(col("o_year"), (col("num") / col("den")).as("mkt_share"))
        .orderBy("o_year")
    },

    // TPC-H Q9 (product-type profit): part-name LIKE gate on the star,
    // profit by supplier nation × order year. The testdata has no
    // partsupp/supplycost, so profit is the discounted price — the join
    // topology (part gate → lineitem → supplier → nation, orders for
    // the year) is what this query pins.
    Q("q110_tpch_q9",
      "SELECT n_name AS nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit FROM (" +
        "SELECT n_name, EXTRACT(year FROM o_orderdate)::BIGINT AS o_year, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS amount " +
        "FROM part JOIN lineitem ON p_partkey = l_partkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE p_name LIKE '%red%') t " +
        "GROUP BY n_name, o_year ORDER BY nation, o_year DESC") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_name").like("%red%"))),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.load(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_profit"))
        .orderBy(col("nation"), desc("o_year"))
    },

    // TPC-H Q2 (minimum-cost supplier): the correlated scalar-MIN
    // subquery. No partsupp in the testdata, so "cost" is the cheapest
    // observed lineitem price per (part, supplier) — the per-part
    // global-min equality join is the shape that matters. MIN never
    // sums, so double is already exact; the per-part min frame derives
    // from the persisted cost frame (one lineitem scan total).
    Q("q111_tpch_q2",
      "WITH cost AS (SELECT l_partkey AS pk, l_suppkey AS sk, MIN(l_extendedprice) AS c " +
        "FROM lineitem GROUP BY 1, 2), " +
        "mn AS (SELECT pk AS mpk, MIN(c) AS m FROM cost GROUP BY 1) " +
        "SELECT p_partkey, s_suppkey, s_name, c AS cost FROM cost " +
        "JOIN mn ON mpk = pk JOIN part ON p_partkey = pk JOIN supplier ON s_suppkey = sk " +
        "WHERE p_size = 15 AND c = m ORDER BY p_partkey, s_suppkey LIMIT 100") { (s, dir) =>
      val cost = GraftCache.track(Tables.load(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(min(col("l_extendedprice")).as("c")))
      val mn = cost.groupBy(col("pk").as("mpk")).agg(min(col("c")).as("m"))
      cost.join(mn, col("mpk") === col("pk"))
        .filter(col("c") === col("m"))
        .join(broadcast(Tables.load(s, dir, "part").filter(col("p_size") === 15)),
          col("p_partkey") === col("pk"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("s_suppkey") === col("sk"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"), col("c").as("cost"))
        .orderBy("p_partkey", "s_suppkey")
        .limit(100)
    },

    // TPC-H Q20 (potential part promotion): nested IN — suppliers whose
    // shipped volume of LIKE-gated parts crossed a threshold. The inner
    // IN becomes a broadcast join against the filtered part keys; the
    // outer IN a left-semi against the HAVING-filtered aggregate (small
    // → AQE broadcasts it). The threshold compares in exact DECIMAL.
    Q("q112_tpch_q20",
      "SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (" +
        "SELECT l_suppkey FROM lineitem " +
        "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%') " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY l_suppkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 120) " +
        "ORDER BY s_suppkey") { (s, dir) =>
      val eligible = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00"))
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_name").like("red%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(dec(col("l_quantity"))).as("sq"))
        .filter(col("sq") > 120)
        .select(col("l_suppkey").as("esk"))
      Tables.load(s, dir, "supplier")
        .join(eligible, col("s_suppkey") === col("esk"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // Manual Bloom runtime filter (graft_bloom_agg / graft_might_contain
    // — Spark's native InjectRuntimeFilter expressions, exposed for
    // plans whose build side exceeds the auto-injection size heuristic;
    // see q14's Scaladoc for when the trade pays). The bloom PRE-filters
    // the probe scan before the exact semi join, so false positives are
    // discarded and the result is oracle-exact unconditionally — the
    // property that makes a bloom usable as a runtime filter at all.
    // At 100 TB: bloom build is one small aggregate over the selective
    // key set; the probe side drops ~90% of rows at the scan, BEFORE
    // the semi join's shuffle. The regime where this PLAN WINS is
    // measured, not argued (BASELINE "Round-12: bloom semi-join REGIME
    // curve"): fingerprint-keyed membership with row content in the
    // shuffle — at 100 M docs × 10 M md5 keys the bloom plan runs
    // 8.9 s vs 14.5 s shuffle-hash and 25.0 s forced broadcast, and
    // the crossover from broadcast sits near 10⁶–10⁷ keys exactly as
    // the q14 analysis predicted.
    Q("q137_bloom_runtime_filter",
      "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders " +
        "WHERE EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey AND l_quantity > 45) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority") { (s, dir) =>
      // cache KEPT — the r14 persist-rule A/B measured the exception:
      // unlike q102's rescan win, dropping this track cost 0.95 → 1.16 s
      // (sf0.1 cold median). The frame is a cheap filter, but one
      // consumer is a SCALAR SUBQUERY (the bloom build) that runs
      // eagerly before the main plan — uncached, the filter scan runs
      // serially-then-again rather than twice inside one scheduled
      // plan, and the cache's single materialization wins. Rule nuance:
      // count the CONSUMERS' execution structure, not just recompute
      // cost.
      val keys = GraftCache.track(Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 45).select("l_orderkey"))
      keys.createOrReplaceTempView("graft_q137_keys")
      Tables.load(s, dir, "orders")
        .filter(expr("graft_might_contain((SELECT graft_bloom_agg(l_orderkey, " +
          "1000000) FROM graft_q137_keys), o_orderkey)"))
        // SHUFFLE_HASH, not SMJ: a semi join needs only key presence, so
        // sorting both sides (12.4 s at 100× — 15 M orders + 6 M keys)
        // buys nothing a per-partition hash set doesn't; the hint is
        // size-independent (build = each partition's slice of the keys)
        .join(keys.hint("shuffle_hash"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }
  )
}

package graft.sources.jdbc

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

/** DSv2 scan over an external JDBC table with projection / predicate /
  * limit / TopK pushdown and optional range-partitioned parallelism.
  *
  * The Spark-native re-expression of the reference's `SqlTable.scan` →
  * `SqlExec` pipeline (`crates/common/src/sql/sql_provider_datafusion/
  * mod.rs:122-165,278-334`): Catalyst's `V2ScanRelationPushDown` drives
  * the same per-filter Exact/Unsupported decision the reference makes in
  * `supports_filters_pushdown` (`mod.rs:211-217`) — a predicate the
  * [[Unparser]] cannot render stays in Spark, so partial pushdown is
  * never a correctness risk. TopK pushdown mirrors `try_pushdown_sort`
  * (`mod.rs:516-585`) including its safety property: Spark keeps a local
  * `TakeOrderedAndProject` above the scan, so the remote ORDER BY only
  * reduces transferred rows.
  *
  * Scale: the reference's SQL scans are always 1 partition
  * (`mod.rs:313`). Here `partitionColumn/lowerBound/upperBound/
  * numPartitions` splits the scan into range predicates executed by N
  * executors concurrently — the improvement SURVEY §4.2 calls out. On a
  * dialect with table statistics (DuckDB), an unfiltered read splits
  * by an integer column's range without any option, and the row count
  * sizes the scan for Spark's join planning ([[JdbcScan]]).
  */
final class JdbcScanBuilder(options: JdbcOptions, tableSchema: StructType)
  extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownV2Filters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownOffset
    with SupportsPushDownAggregates {

  private val unparser = new Unparser(options.dialect)
  private var schema: StructType = tableSchema

  /** Pins declared but absent from the remote table (lower-cased). The
    * exposed schema gives them the reference's Utf8 fallback
    * (`schema_projection.rs` `field_for`); the scan renders them as a
    * typed NULL (null-for-missing-field semantics) and they are excluded
    * from every pushdown surface exactly like the catch-all column.
    * Cheap: [[SchemaProjection.remote]] is cached per compute context +
    * FROM.
    */
  private lazy val ghostPins: Set[String] = options.pinColumns match {
    case None => Set.empty
    case Some(pins) =>
      val remote = SchemaProjection.remote(options).schema
      pins.filterNot(p => remote.fields.exists(_.name.equalsIgnoreCase(p)))
        .map(_.toLowerCase).toSet
  }

  /** With a pincolumns projection, the catch-all column — and any ghost
    * pin — has no remote existence: any pushdown piece referencing one
    * must refuse (the rendered `"data"` would be a remote unknown-column
    * error). Truly-remote pinned columns keep the whole pushdown surface.
    */
  private def touchesCatchAll(e: Expression): Boolean =
    options.pinColumns.isDefined && {
      val ca = options.catchAllColumn
      def walk(x: Expression): Boolean = x match {
        case n: NamedReference => n.fieldNames.exists(f =>
          f.equalsIgnoreCase(ca) || ghostPins(f.toLowerCase))
        case other => other.children().exists(walk)
      }
      walk(e)
    }
  private var pushedSql: Seq[String] = Nil
  private var pushed: Array[Predicate] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBy: Seq[String] = Nil
  private var sortIsPartial = false
  private var aggSelect: Seq[String] = Nil // rendered "expr AS alias" items
  private var groupBySql: Seq[String] = Nil
  private var aggSchema: Option[StructType] = None

  override def pruneColumns(required: StructType): Unit = {
    // Once an aggregate is pushed, the scan's output IS the aggregate
    // schema — ignore later pruning passes (same as Spark's own JDBC v2).
    if (aggSchema.isDefined) return
    // Empty required schema (e.g. COUNT(*)) keeps one narrow column so the
    // generated SQL stays valid — the reference synthesizes `SELECT 1`
    // (`mod.rs:255-276`); we project the first column and let Spark count.
    schema =
      if (required.isEmpty) StructType(tableSchema.take(1)) else required
  }

  // ---- aggregate pushdown (SURVEY §4.1 "whole-subplan federation":
  // the GROUP BY leg; reference unparses aggregates to remote SQL via
  // datafusion-federation, `federation.rs:62-110`) -----------------------

  private def fieldOf(e: Expression): Option[StructField] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      tableSchema.fields.find(_.name.equalsIgnoreCase(f.fieldNames.head))
    case _ => None
  }

  /** The one table of aggregates whose remote value would differ from
    * Spark's, which therefore stay local on every path. AVG of integers
    * is integer division in many dialects (Derby included), so AVG pushes
    * only over a plain DOUBLE column. A FLOAT sum accumulates in single
    * precision remotely where Spark widens each value to double, so a
    * SUM over a FLOAT column stays local, and so does one whose remote
    * result type (`described`, for an expression argument) is FLOAT.
    */
  private def agrees(f: AggregateFunc, described: Option[DataType] = None): Boolean = f match {
    case a: Avg => fieldOf(a.column).exists(_.dataType == DoubleType)
    case s: Sum => !(fieldOf(s.column).map(_.dataType) ++ described).exists(_ == FloatType)
    case _ => true
  }

  /** Spark's expected result type for a completely-pushed aggregate over
    * a plain column — the scan schema must match what the optimizer
    * substitutes, or it inserts casts (or worse, mis-types rows read from
    * JDBC). None sends the aggregate to [[translateGeneral]].
    */
  private def aggResultType(f: AggregateFunc): Option[DataType] = f match {
    case _: CountStar => Some(LongType)
    case _: Count => Some(LongType)
    case s: Sum => fieldOf(s.column).map(_.dataType).flatMap {
      case ByteType | ShortType | IntegerType | LongType => Some(LongType)
      case DoubleType => Some(DoubleType)
      case d: DecimalType =>
        Some(DecimalType(math.min(DecimalType.MAX_PRECISION, d.precision + 10), d.scale))
      case _ => None
    }
    case m: Min => fieldOf(m.column).map(_.dataType)
    case m: Max => fieldOf(m.column).map(_.dataType)
    case _: Avg => Some(DoubleType)
    case _ => None
  }

  private def isDistinctAgg(f: AggregateFunc): Boolean = f match {
    case c: Count => c.isDistinct
    case s: Sum => s.isDistinct
    case a: Avg => a.isDistinct
    case _ => false
  }

  /** The pushed statement's SELECT items, GROUP BY keys and scan schema,
    * or None to keep the aggregate local. The [[agrees]] guard applies
    * first; then GROUP BY keys and aggregate arguments that are all plain
    * columns take [[aggResultType]]'s types, and anything else goes to
    * [[translateGeneral]].
    */
  private def translate(agg: Aggregation): Option[(Seq[String], Seq[String], StructType)] = {
    // catch-all references cannot exist remotely — whole aggregate stays local
    if (agg.groupByExpressions.exists(touchesCatchAll) ||
      agg.aggregateExpressions.exists(touchesCatchAll)) return None
    if (!agg.aggregateExpressions.forall(agrees(_))) return None
    // Derby cannot evaluate two DISTINCT aggregates in one statement
    // ("Multiple DISTINCT aggregates are not supported") — such plans
    // stay local over the scanned rows. Found by AggPushdownPropertySpec.
    if (!options.dialect.supportsMultipleDistinctAggregates &&
      agg.aggregateExpressions.count(isDistinctAgg) > 1) return None
    val grpFields = agg.groupByExpressions.toSeq.map(fieldOf)
    val aggTypes = agg.aggregateExpressions.toSeq.map(aggResultType)
    val aggSqls = agg.aggregateExpressions.toSeq.map(unparser.agg)
    if (aggSqls.exists(_.isEmpty)) return None
    if (grpFields.exists(_.isEmpty) || aggTypes.exists(_.isEmpty))
      return translateGeneral(agg, aggSqls.map(_.get))
    val d = options.dialect
    val grpCols = grpFields.map(_.get)
    val sel =
      grpCols.map(f => d.quote(f.name)) ++
        aggSqls.zipWithIndex.map { case (s, i) => s"${s.get} AS ${d.quote(s"agg$i")}" }
    val schema = StructType(
      grpCols.map(f => StructField(f.name, f.dataType, nullable = true)) ++
        aggTypes.zipWithIndex.map { case (t, i) => StructField(s"agg$i", t.get, nullable = true) })
    Some((sel, grpCols.map(f => d.quote(f.name)), schema))
  }

  /** Probe outcomes by statement: Spark asks [[supportCompletePushDown]]
    * and then [[pushAggregation]] about one aggregate, and a probe that
    * fails is made, and warned about, once. */
  private val probed = scala.collection.mutable.Map.empty[String, Option[StructType]]

  /** General-expression aggregate pushdown: GROUP BY keys and aggregate
    * arguments that are rendered EXPRESSIONS (`YEAR(ts)`, `SUM(a * b)`)
    * rather than plain columns. The result types of such expressions
    * are the REMOTE engine's business (Derby's YEAR() is INTEGER,
    * another dialect's EXTRACT may be BIGINT), so the scan schema comes
    * from prepared-statement introspection of the generated statement —
    * the same source of truth Spark's own JDBC v2 uses
    * (`JDBCRDD.getQueryOutputSchema`); `V2ScanRelationPushDown` then
    * casts the scan's columns to the plan's expected types positionally.
    * The probe leaves out the pushed WHERE, which cannot change result
    * types, so one introspection serves every literal set. A remote
    * failure (with a WARN), a described type Spark cannot read, or a SUM
    * whose described type [[agrees]] refuses keeps the aggregate local.
    */
  private def translateGeneral(agg: Aggregation,
      aggSqls: Seq[String]): Option[(Seq[String], Seq[String], StructType)] = {
    val d = options.dialect
    val grpSqls = agg.groupByExpressions.toSeq.map(unparser.expr)
    if (grpSqls.exists(_.isEmpty)) return None
    val sel =
      grpSqls.zipWithIndex.map { case (s, i) => s"${s.get} AS ${d.quote(s"g$i")}" } ++
        aggSqls.zipWithIndex.map { case (s, i) => s"$s AS ${d.quote(s"agg$i")}" }
    val group = grpSqls.map(_.get)
    val groupClause = if (group.isEmpty) "" else group.mkString(" GROUP BY ", ", ", "")
    val probe = d.repairSql(s"SELECT ${sel.mkString(", ")} FROM ${options.fromClause}$groupClause")
    val described = probed.getOrElseUpdate(probe,
      try Remote.orWarn("expression-aggregate type probe", Option.empty[StructType])(
        Some(SchemaProjection.describe(options, probe).schema))
      catch { case _: IllegalArgumentException => None })
    described.filter(schema => agg.aggregateExpressions.toSeq.zipWithIndex.forall {
      case (f, i) => agrees(f, Some(schema(group.size + i).dataType))
    }).map((sel, group, _))
  }

  // Complete-only pushdown: with one input partition the remote result
  // IS the final aggregate (the reference's federation executes the
  // whole GROUP BY remotely for the same reason). Partial/merge pushdown
  // across range partitions is deliberately not claimed.
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    options.numPartitions <= 1 && translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    if (options.numPartitions > 1) false
    else translate(agg) match {
      case Some((sel, grp, sch)) =>
        aggSelect = sel; groupBySql = grp; aggSchema = Some(sch)
        true
      case None => false
    }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val rendered = predicates.map(p =>
      p -> (if (touchesCatchAll(p)) None else unparser.expr(p)))
    pushed = rendered.collect { case (p, Some(_)) => p }
    pushedSql = rendered.collect { case (_, Some(s)) => s }.toSeq
    rendered.collect { case (p, None) => p }
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def pushLimit(n: Int): Boolean = {
    // After an aggregate is pushed, sort/limit expressions reference the
    // aggregate's output attributes, which have no stable remote name —
    // keep them in Spark.
    if (aggSchema.isDefined) return false
    limit = Some(n)
    true
  }

  // Partial: the remote engine orders its rows but Spark still runs the
  // final TopK merge (exactly the reference's Inexact contract, A2).
  override def isPartiallyPushed: Boolean = sortIsPartial || options.numPartitions > 1

  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (aggSchema.isDefined) return false
    // a sort key on the catch-all column has no remote rendering
    if (orders.exists(o => touchesCatchAll(o.expression()))) return false
    val rendered = orders.toSeq.map(unparser.sort)
    if (rendered.forall(_.isDefined)) {
      orderBy = rendered.map(_.get)
      limit = Some(n)
      // Single JDBC cursor => the remote ORDER BY + FETCH is the exact
      // answer and Spark may drop its local TopN (same contract as
      // Spark's own JDBC v2). Range-split scans re-sort locally.
      sortIsPartial = options.numPartitions > 1
      true
    } else false
  }

  /** OFFSET is accepted only when the remote result is exactly the
    * rows Spark must see: one partition (a per-partition OFFSET skips
    * rows per range split), a pushed total ORDER (Spark only pushes
    * offset below a fully-pushed TopN, and an unsorted remote OFFSET
    * would be nondeterministic anyway), and a pushed limit strictly
    * above the offset. Spark's contract is take-limit-THEN-skip-offset
    * (it pushes limit = n + m for `offset(m).limit(n)`), which SQL's
    * skip-then-take renders as `OFFSET m` + `FETCH FIRST (limit - m)`
    * — composed in [[JdbcScan.sqlFor]]. Spark removes its local Offset
    * when this returns true.
    */
  override def pushOffset(n: Int): Boolean = {
    if (aggSchema.isDefined || options.numPartitions > 1 || orderBy.isEmpty ||
      !limit.exists(_ > n)) false
    else { offset = Some(n); true }
  }

  override def build(): Scan = {
    // pincolumns projection: when the surviving schema still carries the
    // catch-all column, the scan must fetch every non-pinned remote
    // column and fold it in the reader (alphabetical — reference
    // BTreeMap ordering). Pruned-away catch-all = a plain pinned scan.
    val catchAll: Option[(String, StructType)] =
      if (aggSchema.isDefined) None
      else options.pinColumns.flatMap { pins =>
        schema.fields.find(_.name.equalsIgnoreCase(options.catchAllColumn)).map { _ =>
          (options.catchAllColumn,
            SchemaProjection.restFields(SchemaProjection.remote(options).schema, pins))
        }
      }
    // an automatic split: nothing pushed but the projection and IS NOT
    // NULL conjuncts (Spark infers them on join keys), no explicit split
    val splittable = aggSchema.isEmpty && orderBy.isEmpty && limit.isEmpty && offset.isEmpty &&
      catchAll.isEmpty && pushed.forall(_.name == "IS_NOT_NULL") &&
      !options.map.contains("numpartitions") && options.partitionColumn.isEmpty
    JdbcScan(options, aggSchema.getOrElse(schema), pushedSql, orderBy, limit,
      aggSelect, groupBySql, pushedOffset = offset, catchAll = catchAll,
      ghostPins = if (aggSchema.isDefined) Set.empty else ghostPins,
      splitColumns = tableSchema.fields.toSeq.filter(f => splittable && !ghostPins(f.name.toLowerCase) &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType)).map(_.name))
  }
}

final case class JdbcScan(
    options: JdbcOptions,
    schema: StructType,
    where: Seq[String],
    orderBy: Seq[String],
    limit: Option[Int],
    aggSelect: Seq[String] = Nil,
    groupBy: Seq[String] = Nil,
    pushedOffset: Option[Int] = None,
    catchAll: Option[(String, StructType)] = None,
    ghostPins: Set[String] = Set.empty,
    splitColumns: Seq[String] = Nil) extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics with Logging {

  override def readSchema(): StructType = schema

  /** The remote row count of the base table this scan reads
    * ([[Dialect.baseTableRowsSql]]): one catalog lookup per planned
    * scan, made only when a split or Spark's statistics ask, and never
    * cached across plans, so a table that grew is never planned on a
    * stale count. None for anything but a plain base table, for an
    * aggregate or catch-all scan (their rows are not the table's), and
    * on a remote error.
    */
  private lazy val tableRows: Option[Long] =
    if (aggSelect.nonEmpty || catchAll.isDefined) None
    else options.dialect.baseTableRowsSql(options.fromClause).flatMap { sql =>
      JdbcScan.remoteRows(options, sql) match {
        case Seq(Seq(n)) => n.flatMap(_.toLongOption)
        case _ => None
      }
    }

  private def varying = schema.fields.toSeq.filter(f => (f.dataType == StringType ||
    f.dataType == BinaryType) && !ghostPins(f.name.toLowerCase) && !catchAll.exists(_._1 == f.name))

  /** Remote statistics ([[Dialect.columnStatsSql]]) of the string
    * columns [[rowBytes]] sizes and of the split candidates: one
    * statement, made when first needed; empty where the dialect keeps
    * none and on a remote error. */
  private lazy val colStats: Map[String, ColumnStats] = {
    val cols = (varying.map(_.name) ++ splitColumns ++ options.partitionColumn).distinct
    options.dialect.columnStatsSql(options.fromClause, cols).filter(_ => cols.nonEmpty).toSeq
      .flatMap(sql => JdbcScan.remoteRows(options, sql).take(1))
      .flatMap(row => cols.zip(row).collect { case (c, Some(t)) => c -> options.dialect.columnStats(t) })
      .toMap
  }

  /** Bytes per row of the output schema over a counted base table:
    * Spark's 8-byte row header, each fixed-width column's default size,
    * and each string or binary column's longest value plus 8 from the
    * remote statistics, so a table of long strings never looks small.
    * None when any string width is unknown.
    */
  private def rowBytes: Option[Long] = {
    val widths = varying.map(f => colStats.get(f.name).flatMap(_.maxBytes))
    if (widths.exists(_.isEmpty)) None
    else Some(8L + widths.flatten.map(_ + 8L).sum + schema.fields.filterNot(varying.contains)
      .map(_.dataType.defaultSize.toLong).sum)
  }

  /** Optimizer statistics. `remotestats=count` issues one remote
    * COUNT(*) over the SAME pushed predicates this scan carries (exact,
    * cached for a short TTL) and sizes rows at the schema's default
    * width. Otherwise a counted base table ([[tableRows]]) reports its
    * row count, an upper bound under a pushed filter, and rows ×
    * [[rowBytes]] as its size, so a small remote table broadcasts and a
    * table of long strings does not. Unknown (Spark's conservative
    * default) when an aggregate was pushed (base-row counts would
    * overstate the grouped output), for any scan that is not a counted
    * base table, or on a remote error.
    */
  private lazy val stats: Statistics = {
    def of(rows: Option[Long], size: Option[Long]): Statistics = new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        size.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
    if (aggSelect.nonEmpty) of(None, None)
    else if (options.remoteStats == "count") {
      val whereClause =
        if (where.isEmpty) "" else where.mkString(" WHERE ", " AND ", "")
      val countSql = s"SELECT COUNT(*) FROM ${options.fromClause}$whereClause"
      val n = JdbcScan.cachedCount(options.url + "\u0000" + countSql) {
        val cnt = JdbcScan.remoteRows(options, countSql).headOption
          .flatMap(_.headOption.flatten).flatMap(_.toLongOption)
        cnt.foreach(c => logInfo(s"graft-jdbc stats: $countSql -> $c rows"))
        cnt
      }
      of(n, n.map(r => math.max(1L, r * schema.defaultSize)))
    } else of(tableRows, tableRows.flatMap(n => rowBytes.map(w => math.max(1L, n * w))))
  }

  override def estimateStatistics(): Statistics = stats

  override def description(): String = s"GraftJdbcScan(${options.table}) [$sql]"

  // Runtime filters (DPP / semi-join reduction, SURVEY §4.1: the
  // physical-phase filter injection P3 maps to this in Spark): join-key
  // values discovered at RUNTIME arrive here before partitions are
  // planned and splice into the remote WHERE — the reference's
  // `insert_where_clause` string surgery (`mod.rs:442-479,609-655`),
  // driven by Spark instead of hand-rolled plan mutation.
  private var runtimeWhere: Seq[String] = Nil

  /** Runtime filters must never compose with a pushed fetch: SQL applies
    * WHERE before ORDER BY/FETCH, so splicing a join-driven runtime
    * predicate under a pushed LIMIT/OFFSET would return "top-n of the
    * filtered rows" instead of "filtered top-n" — and with the complete
    * TopN/Offset pushdown (A2/A3) no local operator remains to repair it.
    * Same guard shape as the pushed-aggregate case.
    */
  private def fetchIsPushed: Boolean = limit.isDefined || pushedOffset.isDefined

  override def filterAttributes(): Array[NamedReference] =
    if (aggSelect.nonEmpty || fetchIsPushed) Array.empty // no remote names / fetch pushed
    else schema.fields
      .filterNot(f => catchAll.exists(_._1.equalsIgnoreCase(f.name)) ||
        ghostPins(f.name.toLowerCase))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(predicates: Array[Predicate]): Unit = {
    if (fetchIsPushed || aggSelect.nonEmpty) return // see filterAttributes
    val u = new Unparser(options.dialect)
    runtimeWhere = runtimeWhere ++ predicates.toSeq.flatMap(p => u.expr(p))
  }

  /** The single remote SQL statement, before per-partition range splicing. */
  def sql: String = sqlFor(None)

  /** [[sql]] when the scan pushed only a projection and a WHERE, so its
    * rows are the statement's rows wherever it is nested (the federation
    * rule nests a pushed subquery scan as a derived table); None when an
    * aggregate, ORDER BY, LIMIT, OFFSET, catch-all fold, ghost pin or
    * runtime filter shapes them. */
  def plainSql: Option[String] =
    if (aggSelect.isEmpty && orderBy.isEmpty && limit.isEmpty && pushedOffset.isEmpty &&
      catchAll.isEmpty && ghostPins.isEmpty && runtimeWhere.isEmpty) Some(sql)
    else None

  private def sqlFor(rangePred: Option[String]): String = {
    val d = options.dialect
    // A ghost pin (declared but absent remotely) renders as a typed NULL
    // aliased to its exposed name — the reference's null-for-missing-field
    // semantics — instead of a quoted column the remote would reject.
    // Dialect-routed: MySQL/ClickHouse CAST grammars reject their own
    // DDL string type.
    def colSql(name: String): String =
      if (ghostPins(name.toLowerCase)) d.nullColumnSql(name)
      else d.quote(name)
    val cols =
      if (aggSelect.nonEmpty) aggSelect.mkString(", ")
      else catchAll match {
        // pinned survivors first, then every folded remote column; a
        // degenerate all-empty projection renders the reference's
        // synthetic SELECT 1
        case Some((ca, rest)) =>
          val sel = schema.fields.filterNot(_.name.equalsIgnoreCase(ca))
            .map(f => colSql(f.name)) ++ rest.fields.map(f => d.quote(f.name))
          if (sel.isEmpty) "1" else sel.mkString(", ")
        case None => schema.fields.map(f => colSql(f.name)).mkString(", ")
      }
    val conds = where ++ runtimeWhere ++ rangePred
    val whereClause =
      if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val group =
      if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ", ", "")
    val order =
      if (orderBy.isEmpty) "" else orderBy.mkString(" ORDER BY ", ", ", "")
    // Spark's pushed limit is the take-BEFORE-skip count; SQL's
    // LIMIT/OFFSET skips first, so the rendered fetch is limit - offset.
    val lim =
      if (limit.isEmpty && pushedOffset.isEmpty) ""
      else " " + d.limitOffsetClause(
        limit.map(n => n - pushedOffset.getOrElse(0)), pushedOffset)
    d.repairSql(s"SELECT $cols FROM ${options.fromClause}$whereClause$group$order$lim")
  }

  override def toBatch: Batch = this

  /** Incremental streaming read ([[JdbcMicroBatchStream]]): pushed
    * predicates and pruned columns ride into every micro-batch; fetch
    * pushdowns cannot occur on the streaming path (Spark pushes no
    * TopN/limit/aggregate into an unbounded scan), so the guard is an
    * invariant check, not a policy.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val wcol = options.streamColumn.getOrElse(throw new IllegalStateException(
      "streaming read requires streamcolumn=<monotonically increasing numeric column>"))
    require(aggSelect.isEmpty && orderBy.isEmpty && limit.isEmpty && pushedOffset.isEmpty,
      "fetch/aggregate pushdown cannot compose with a streaming scan")
    // NULL watermark values fall outside every (start, end] range and
    // are never delivered — surface the hazard once, at stream start
    schema.fields.find(_.name.equalsIgnoreCase(wcol)).filter(_.nullable).foreach { _ =>
      logWarning(s"graft-jdbc stream: column '$wcol' is nullable — rows with a " +
        "NULL watermark value are never delivered (declare it NOT NULL)")
    }
    new JdbcMicroBatchStream(options, schema, where, wcol)
  }

  /** A split scan's range predicates, each read in its own remote
    * transaction; empty: one statement. An explicit `partitioncolumn`
    * split takes its bounds; an automatic one (`splitColumns`, no runtime
    * filter, a counted table of two [[JdbcScan.RangeRows]] or more) the
    * stats min/max of the integer column with the most distinct values,
    * in min(parallelism, `poolmax`, [[JdbcScan.MaxRanges]], rows /
    * RangeRows) ranges. */
  private def ranges: Seq[String] =
    (options.partitionColumn, options.lowerBound, options.upperBound) match {
      case (Some(col), Some(lo), Some(hi)) if options.numPartitions > 1 =>
        JdbcScan.ranges(options.dialect, col, lo, hi, options.numPartitions,
          colStats.get(col).forall(_.hasNull))
      case _ if splitColumns.isEmpty || runtimeWhere.nonEmpty => Nil
      case _ => tableRows.filter(_ >= 2L * JdbcScan.RangeRows).toSeq.flatMap { n =>
        val k = Seq(JdbcScan.defaultParallelism.toLong, options.poolMax.toLong,
          JdbcScan.MaxRanges.toLong, n / JdbcScan.RangeRows).min.toInt
        val ranged = if (k < 2) Nil else splitColumns.flatMap(c => colStats.get(c).collect {
          case s @ ColumnStats(Some(lo), Some(hi), _, _, _) => (c, lo, hi, s) })
        ranged.maxByOption(_._4.distinct.getOrElse(0L)).toSeq.flatMap { case (c, lo, hi, s) =>
          JdbcScan.ranges(options.dialect, c, lo, BigInt(hi) + 1, k, s.hasNull) }
      }
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val preds: Seq[Option[String]] = ranges.map(Some(_))
    (if (preds.isEmpty) Seq(None) else preds).zipWithIndex
      .map { case (r, i) => partition(sqlFor(r), i): InputPartition }.toArray
  }

  /** A partition sends its statement through the dialect's string wire
    * ([[Dialect.utf8Wire]]) when the scan is a plain projection: an
    * aggregate or a pushed ORDER BY must stay the outermost statement,
    * and the catch-all fold reads its columns by remote position. A
    * federated derived table is skipped too: each literal set is a new
    * FROM, so its type lookup would cost a remote round trip per query
    * for a result of a few rows. [[sql]] and [[description]] stay the
    * logical statement; the reader logs the one it sends.
    */
  private def partition(sql: String, idx: Int): JdbcInputPartition =
    if (aggSelect.nonEmpty || orderBy.nonEmpty || catchAll.isDefined ||
        options.map.contains("derivedalias")) JdbcInputPartition(sql, idx)
    else {
      val (wire, utf8) = options.dialect.utf8Wire(sql, schema.fieldNames.toSeq, remoteType)
      JdbcInputPartition(wire, idx, utf8)
    }

  /** A column's remote type name, for string columns whose rendering
    * the wire may change: not a ghost pin, not declared by `customschema`.
    * A failed lookup scans without the string wire.
    */
  private lazy val remoteTypes: Map[String, String] =
    Remote.orWarn("string-wire type lookup", Map.empty[String, String])(
      SchemaProjection.remote(options).typeNames)
  private def remoteType(name: String): Option[String] =
    if (ghostPins(name.toLowerCase) ||
      !schema.fields.exists(f => f.name == name && f.dataType == StringType) ||
      options.customSchema.exists(_.fields.exists(_.name.equalsIgnoreCase(name)))) None
    else remoteTypes.get(name.toLowerCase)

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  override def createReaderFactory(): PartitionReaderFactory =
    JdbcReaderFactory(options, schema, catchAll, limit)
}

object JdbcScan {
  /** Rows per range of an automatic split: eight columnar batches, so
    * each range amortizes its statement and connection. */
  val RangeRows: Int = 8 * JdbcColumnarReader.BatchRows

  /** Most ranges of an automatic split. DuckDB applies a column range
    * inside its table scan, where a clustered column's range skips the
    * row groups outside it. Four are measured on 4 vCPUs; more are not. */
  val MaxRanges: Int = 4

  /** `k` predicates splitting `col` at even steps over [lo, hi), exact
    * so no step overflows. The first is open below and the last above,
    * so every value lands in one range whatever the bounds; NULL lands in
    * the first when `nulls` (DuckDB cannot prune by that disjunct). */
  private def ranges(d: Dialect, col: String, lo: BigInt, hi: BigInt, k: Int,
      nulls: Boolean): Seq[String] = {
    val q = d.quote(col)
    val edges = None +: (1 until k).map(i => Some(lo + (hi - lo).max(0) * i / k)) :+ None
    edges.zip(edges.tail).zipWithIndex.map { case ((a, b), i) =>
      val p = (a.map(v => s"$q >= $v") ++ b.map(v => s"$q < $v")).mkString(" AND ")
      if (i == 0 && nulls) s"($p OR $q IS NULL)" else s"($p)"
    }
  }

  /** The session's default parallelism (1 without a session). */
  private def defaultParallelism: Int = {
    import org.apache.spark.sql.SparkSession
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.defaultParallelism).getOrElse(1)
  }

  /** Every row of a size or statistics statement as nullable texts;
    * empty on a remote error, so a failed lookup plans the scan as if
    * nothing were known. */
  private def remoteRows(o: JdbcOptions, sql: String): Seq[Seq[Option[String]]] =
    Remote.orWarn(s"size lookup ($sql)", Seq.empty[Seq[Option[String]]])(
      o.withConnection(Remote.query(_, sql)(rs =>
        (1 to rs.getMetaData.getColumnCount).map(i => Option(rs.getString(i))))))

  /** Driver-side remote COUNT(*) cache: every action plans a fresh scan,
    * so without this each action over the same (connection, FROM, WHERE)
    * re-issues a blocking remote count at planning time (ADVICE r6).
    * Short TTL keeps estimates fresh for mutating tables; bounded size.
    * A failed count (None) is not cached.
    */
  private val statsTtlMs = 30000L
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private[jdbc] def cachedCount(key: String)(compute: => Option[Long]): Option[Long] = {
    val now = System.currentTimeMillis()
    val hit = statsCache.get(key)
    if (hit != null && now - hit._2 < statsTtlMs) Some(hit._1)
    else {
      val n = compute
      n.foreach { c =>
        if (statsCache.size > 1024) statsCache.clear()
        statsCache.put(key, (c, now))
      }
      n
    }
  }

  /** Test hook. */
  private[jdbc] def clearStatsCache(): Unit = statsCache.clear()

}

/** One remote statement; `utf8` lists the output positions whose
  * strings arrive as UTF-8 bytes ([[Dialect.utf8Wire]]). */
final case class JdbcInputPartition(sql: String, idx: Int, utf8: Set[Int] = Set.empty)
  extends InputPartition

/** Every partition reads columnar ([[JdbcColumnarReader]]); `limit`
  * caps the first batch's allocation.
  */
final case class JdbcReaderFactory(options: JdbcOptions, schema: StructType,
    catchAll: Option[(String, StructType)] = None, limit: Option[Int] = None)
  extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[JdbcInputPartition]
    new JdbcColumnarReader(schema, new JdbcCursor(options, p.sql), p.utf8,
      JdbcColumnarReader.firstBatchRows(limit), catchAll)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("JDBC scans read columnar batches only")
}

/** One partition's remote statement, opened on first use: a reader
  * that never asks for a row never executes it. `fetchSize`-row chunks
  * stream from the remote (reference: Postgres 4000-row chunking,
  * `conn.rs:443`).
  */
class JdbcCursor(val options: JdbcOptions, sql: String) extends Logging {
  // per-resource open flags guard close(): forcing the lazies there
  // would EXECUTE the remote query for readers that never produced a
  // row — e.g. the N−1 tasks a satisfied LIMIT kills before their
  // first next() would each fire a full remote scan just to close it
  // (and a lazy whose initializer THREW must never be re-forced)
  @volatile private var connOpened = false
  @volatile private var stmtOpened = false
  @volatile private var rsOpened = false
  private lazy val conn = {
    val c = options.connect(); connOpened = true; c
  }
  private lazy val stmt = {
    val s = conn.createStatement()
    stmtOpened = true
    s.setFetchSize(options.fetchSize)
    s
  }
  lazy val rs: java.sql.ResultSet = {
    logInfo(s"graft-jdbc scan: $sql")
    JdbcCursor.executed.incrementAndGet()
    val r = execute(stmt, sql)
    rsOpened = true
    r
  }

  /** The one remote call; a spec overrides it to inject a failing ResultSet. */
  protected def execute(stmt: java.sql.Statement, sql: String): java.sql.ResultSet =
    stmt.executeQuery(sql)

  def close(): Unit = {
    try { if (rsOpened) rs.close() }
    finally {
      try { if (stmtOpened) stmt.close() }
      finally { if (connOpened) conn.close() }
    }
  }
}

object JdbcCursor {
  /** Test hook: scan statements executed in this JVM. */
  private[jdbc] val executed = new java.util.concurrent.atomic.AtomicLong
}

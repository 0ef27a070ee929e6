package graft.plans

import graft.sources.jdbc.{GraftJdbcTable, JdbcOptions, JdbcScan}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.concurrent.atomic.AtomicInteger

/** Federation: collapse a join between tables of the SAME remote server
  * into one remote SQL statement, executed as a single
  * [[GraftJdbcTable]] scan.
  *
  * The Spark re-expression of datafusion-federation's plan rewrite
  * (reference `crates/common/src/sql/sql_provider_datafusion/
  * federation.rs:62-110`): subtrees are grouped by compute context —
  * the canonical connection identity — and only merged when contexts
  * are EQUAL, the reference's `JoinPushDown::AllowedFor(context)`
  * guarantee that two distinct servers can never be merged
  * (`db_connection_pool/mod.rs:49-57`).
  *
  * Mechanics: the rule runs in the operator-optimization batch, before
  * `V2ScanRelationPushDown`. It recognizes collapsible legs —
  * `DataSourceV2Relation(GraftJdbcTable)` (or a plain pushed scan of
  * one, below), optionally under attribute-only `Project`s and
  * unparsable `Filter`s — and rewrites
  *
  * {{{ Join(legL, legR, jt, cond) }}}
  *
  * into a Project over a NEW `DataSourceV2Relation` whose table is a
  * derived-table SQL string `(SELECT … FROM l JOIN r ON …) alias`.
  * Filters wrap their leg as a derived subquery (not a WHERE on the
  * join) so outer-join null-extension semantics are preserved exactly.
  * Output columns get stable aliases c0..cN; the outer Project restores
  * the original attribute ids so the parent plan is untouched.
  *
  * Because the result is again a relation over a GraftJdbcTable:
  *   - multi-way joins collapse bottom-up to ONE remote statement;
  *   - Catalyst's normal DSv2 pushdown then drives projection pruning,
  *     residual filters, TopN and whole-GROUP-BY aggregation into the
  *     SAME collapsed scan (SURVEY §3.2's "remaining plan executes
  *     locally" — here the remainder rides the standard pushdown path).
  *
  * SQL `EXISTS` and `IN` subqueries reach the rule as a `Filter` over
  * the outer relation, not as a join: Catalyst's RewriteSubquery batch
  * (RewritePredicateSubquery) builds the semi or anti join only after
  * the operator-optimization batch this rule is injected into, and after
  * "Early Filter and Projection Push-Down". Two earlier batches shape
  * what the rule sees. "Pullup Correlated Expressions" moves the
  * correlation (`c.k = n.k`) into the subquery expression's join
  * condition, and the "Subquery" batch then runs the whole optimizer,
  * DSv2 pushdown included, over the subquery's plan. So the outer leg is
  * an unpushed `DataSourceV2Relation`, while the subquery leg is a
  * pushed `DataSourceV2ScanRelation` whose [[JdbcScan.plainSql]] nests
  * as a derived table. The Filter arm builds the join Catalyst would
  * build and collapses it through the semi/anti arm, or leaves the
  * Filter as it was.
  *
  * At 100 TB this is the difference between shipping two tables through
  * the cluster and shipping one pre-joined, pre-filtered result set.
  */
object FederationRule extends Rule[LogicalPlan] with PredicateHelper {

  private val counter = new AtomicInteger()
  private[plans] def fresh(): String = s"fj${counter.getAndIncrement()}"

  /** Marks a Sort that feeds a LIMIT/OFFSET chain: those must stay in
    * the plan for Spark's DSv2 TopN+offset pushdown, which renders the
    * FULL `ORDER BY … OFFSET f ROWS FETCH FIRST n ROWS ONLY` remotely.
    * If the Sort arm collapsed the ORDER BY into the derived leg first,
    * the later pushdown would see a bare limit+offset with no Sort and
    * could only push the limit — dragging the OFFSET to a local
    * CollectLimit and shipping offset+n rows instead of n (caught by
    * FederationSpec's TopN+OFFSET pin when Derby gained the
    * sorted-derived capability in r12).
    */
  private val SortUnderLimit =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Unit]("graft.sortUnderLimit")

  /** One collapsible leg: FROM-clause SQL + attribute rendering map.
    * `topAlias` is the leg's outermost correlation name — two legs with
    * the same topAlias (the same derived table joined to itself) cannot
    * share a FROM scope and are left uncollapsed.
    */
  private[plans] case class Leaf(
      ctx: String,
      opts: JdbcOptions,
      from: String,
      attrs: Map[ExprId, String],
      visible: Seq[Attribute],
      topAlias: String) {

    /** `SELECT [DISTINCT] <col> AS "c0", … FROM <from><tail>` over `cols`
      * (default: the visible columns): position names each output
      * column, as [[wrap]] expects. With an `alias`, the statement is a
      * derived table of that correlation name.
      */
    def select(cols: Seq[String] = visible.map(a => attrs(a.exprId)), tail: String = "",
        distinct: Boolean = false, alias: Option[String] = None): String = {
      val d = opts.dialect
      val list = cols.zipWithIndex.map { case (s, i) => s"$s AS ${d.quote(s"c$i")}" }
      val sql = s"SELECT ${if (distinct) "DISTINCT " else ""}${list.mkString(", ")} FROM $from$tail"
      alias.fold(sql)(a => s"($sql) ${d.quote(a)}")
    }
  }

  /** `newAlias` allocates correlation names for the leaf's derived
    * tables. The optimizer path uses the global [[fresh]] counter
    * (aliases land only in OPTIMIZED plans, so cache lookup — which
    * canonicalizes ANALYZED plans — is unaffected); [[SetOpAllRule]]
    * rewrites at analysis time and passes a DETERMINISTIC per-collapse
    * allocator instead, so two identical programs produce identical
    * analyzed plans and `df.cache()` still matches.
    */
  private[plans] def leafOf(plan: LogicalPlan,
      newAlias: () => String = () => fresh()): Option[Leaf] = plan match {
    // Analyzer-time plans (SetOpAllRule runs post-hoc resolution, before
    // the optimizer strips these) wrap relations in SubqueryAlias; it
    // only affects name scoping, attribute identity is by exprId.
    case SubqueryAlias(_, child) => leafOf(child, newAlias)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftJdbcTable] =>
      val t = r.table.asInstanceOf[GraftJdbcTable]
      // A pincolumns-projected table exposes a catch-all JSON column
      // that does NOT exist remotely: collapsing such a leg would render
      // `alias."data"` into the remote SQL (unknown-column error — or,
      // worse, silently read a real remote column of that name instead
      // of the JSON fold). JdbcScan.touchesCatchAll refuses this at the
      // DSv2 pushdown layer; refuse it here too so projected tables
      // always take the standard scan path, where the fold is built.
      if (t.options.pinColumns.isDefined) None
      else {
      val d = t.options.dialect
      t.options.map.get("derivedalias") match {
        // A previously-collapsed subquery: `(SELECT …) "fjK"` is already
        // aliased — reference its embedded correlation name directly.
        case Some(embedded) =>
          Some(Leaf(
            t.options.computeContext,
            t.options,
            // fromClause, not table: parameterized tables (tableargs)
            // must render their argument list in federated SQL too
            t.options.fromClause,
            r.output.map(a => a.exprId -> s"${d.quote(embedded)}.${d.quote(a.name)}").toMap,
            r.output,
            embedded))
        case None =>
          val alias = newAlias()
          Some(Leaf(
            t.options.computeContext,
            t.options,
            s"${t.options.fromClause} ${d.quote(alias)}",
            r.output.map(a => a.exprId -> s"${d.quote(alias)}.${d.quote(a.name)}").toMap,
            r.output,
            alias))
      }
      }

    // A pushed scan (a subquery's leg, see the scaladoc): its statement
    // nests as a derived table when it pushed only a projection and a
    // WHERE; its columns keep their remote names.
    case s: DataSourceV2ScanRelation if s.relation.table.isInstanceOf[GraftJdbcTable] =>
      s.scan match {
        case scan: JdbcScan => scan.plainSql.map { sql =>
          val d = scan.options.dialect
          val alias = newAlias()
          Leaf(
            scan.options.computeContext,
            scan.options,
            s"($sql) ${d.quote(alias)}",
            s.output.zip(scan.readSchema().fields).map { case (a, f) =>
              a.exprId -> s"${d.quote(alias)}.${d.quote(f.name)}"
            }.toMap,
            s.output,
            alias)
        }
        case _ => None
      }

    // Attribute-only projections narrow the visible column set.
    case Project(items, child) =>
      leafOf(child, newAlias).flatMap { l =>
        val mapped: Seq[Option[(Attribute, String)]] = items.map {
          case a: AttributeReference => l.attrs.get(a.exprId).map(a -> _)
          case al @ Alias(c: AttributeReference, _) =>
            l.attrs.get(c.exprId).map(al.toAttribute -> _)
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        else Some(l.copy(
          attrs = mapped.flatten.map { case (a, s) => a.exprId -> s }.toMap,
          visible = mapped.flatten.map(_._1)))
      }

    // A filter wraps its leg as a derived subquery, so the predicate
    // applies BEFORE any outer join's null extension — exact semantics
    // for every join type.
    case Filter(cond, child) =>
      leafOf(child, newAlias).flatMap { l =>
        new CatalystUnparser(l.opts.dialect, l.attrs).expr(cond, isPredicate = true).map { w =>
          val d = l.opts.dialect
          val alias = newAlias()
          Leaf(
            l.ctx, l.opts,
            l.select(tail = s" WHERE $w", alias = Some(alias)),
            l.visible.zipWithIndex.map { case (a, i) =>
              a.exprId -> s"${d.quote(alias)}.${d.quote(s"c$i")}"
            }.toMap,
            l.visible,
            alias)
        }
      }

    case _ => None
  }

  private def joinKeyword(jt: JoinType, opts: JdbcOptions): Option[String] = jt match {
    case Inner => Some("JOIN")
    case Cross => Some("CROSS JOIN")
    case LeftOuter => Some("LEFT JOIN")
    case RightOuter => Some("RIGHT JOIN")
    case FullOuter if opts.dialect.supportsFullOuterJoin => Some("FULL JOIN")
    case _ => None
  }

  /** Wrap a finished derived-table SQL string as a fresh relation whose
    * outer Project restores the original attribute ids. Shared by the
    * join and union collapse arms.
    */
  private[plans] def wrap(out: Seq[Attribute], opts: JdbcOptions, derived: String,
      alias: String): LogicalPlan = {
    val fields = out.zipWithIndex.map { case (a, i) =>
      StructField(s"c$i", a.dataType, a.nullable)
    }
    val tbl = GraftJdbcTable(
      s"federated:${opts.computeContext}",
      StructType(fields),
      // drop tableargs: the derived table already embeds the original
      // FROM (with its args); keeping the option would re-render the
      // argument list after the derived alias — invalid SQL
      JdbcOptions(opts.withTable(derived).map
        - "tableargs" + ("derivedalias" -> alias)))
    val newOut = out.zipWithIndex.map { case (a, i) =>
      AttributeReference(s"c$i", a.dataType, a.nullable)()
    }
    val rel = DataSourceV2Relation(
      tbl, newOut, None, None, CaseInsensitiveStringMap.empty())
    Project(
      out.zip(newOut).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId)
      },
      rel)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // pre-pass: tag every Sort reachable from a limit/offset node
    // through only limit/offset nodes (the shapes the DSv2 TopN pushdown
    // recognizes) so the Sort arm leaves them for that stronger path.
    // Tags are RE-DERIVED from scratch each application (clear first):
    // the rule runs to fixpoint inside an optimizer batch, tags survive
    // node copies, and a limit another rule eliminated between
    // applications must release its Sort back to the Sort arm — a stale
    // tag would leave the plan with neither a remote ORDER BY nor a TopN.
    plan.foreach {
      case s: Sort => s.unsetTagValue(SortUnderLimit)
      case _ => ()
    }
    plan.foreach { node =>
      def tagSortBelow(p: LogicalPlan): Unit = p match {
        case s: Sort => s.setTagValue(SortUnderLimit, ())
        case l: GlobalLimit => tagSortBelow(l.child)
        case l: LocalLimit => tagSortBelow(l.child)
        case o: Offset => tagSortBelow(o.child)
        case _ => ()
      }
      node match {
        case l: GlobalLimit => tagSortBelow(l.child)
        case l: LocalLimit => tagSortBelow(l.child)
        case o: Offset => tagSortBelow(o.child)
        case _ => ()
      }
    }
    applyCollapse(plan)
  }

  private def applyCollapse(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Same-server UNION ALL collapses into one remote statement — each
    // branch keeps its own FROM scope, so duplicate correlation names
    // across branches are fine (unlike the join arm). Spark's `union`
    // is positional UNION ALL; byName/allowMissing variants and
    // Distinct-above stay local.
    case u @ Union(children, false, false) if children.length >= 2 =>
      val leaves = children.map(c => leafOf(c))
      val collapsed = if (leaves.forall(_.isDefined)) {
        val ls = leaves.map(_.get)
        // u.output.nonEmpty: a fully-pruned union (bare COUNT above it)
        // would render empty SELECT lists — those plans stay local,
        // where each branch still scans one narrow column
        if (u.output.nonEmpty && ls.map(_.ctx).distinct.sizeIs == 1 &&
          ls.forall(_.visible.length == u.output.length)) {
          val opts = ls.head.opts
          val alias = fresh()
          Some(wrap(u.output, opts,
            s"(${ls.map(_.select()).mkString(" UNION ALL ")}) ${opts.dialect.quote(alias)}",
            alias))
        } else None
      } else None
      collapsed.getOrElse(u)

    // Same-server WINDOW collapse: every window expression of the node
    // renders from its own embedded spec (Catalyst already groups
    // compatible specs into one Window node), producing
    // `(SELECT cols…, fn() OVER (…) AS cK… FROM leg) alias`. The
    // reference federation ships any same-source subplan its unparser
    // can express (federation.rs:62-110); windows are the one relational
    // shape Spark's own DSv2 pushdown has no API for, so the rule covers
    // them. A Filter above (rank <= k) then pushes into the collapsed
    // scan as a plain WHERE via the standard pushdown path — at scale
    // that turns a full-table shuffle-sort into a remote TopK-per-group.
    case w @ Window(wes, _, _, child, _) if wes.nonEmpty =>
      val collapsed = for {
        l <- leafOf(child)
        if l.opts.dialect.supportsWindowFunctions
        u = new CatalystUnparser(l.opts.dialect, l.attrs)
        rendered <- {
          val rs = wes.map {
            case al @ Alias(we: WindowExpression, _) =>
              u.windowExpr(we).map(al.toAttribute -> _)
            case _ => None
          }
          if (rs.forall(_.isDefined)) Some(rs.map(_.get)) else None
        }
      } yield {
        val alias = fresh()
        val cols = l.visible.map(a => l.attrs(a.exprId)) ++ rendered.map(_._2)
        wrap(l.visible ++ rendered.map(_._1), l.opts, l.select(cols, alias = Some(alias)), alias)
      }
      collapsed.getOrElse(w)

    // DISTINCT collapse: Catalyst rewrites `Distinct` (and the distinct
    // halves of UNION / INTERSECT / EXCEPT — ReplaceDistinctWithAggregate,
    // ReplaceIntersectWithSemiJoin, ReplaceExceptWithAntiJoin, all in the
    // Replace Operators batch that runs BEFORE this rule) into an
    // Aggregate whose grouping and result sets are the same bare
    // attributes with no aggregate functions. Over a collapsible leg that
    // is exactly `SELECT DISTINCT …` — so, because transformUp collapses
    // the Union / semi-join / anti-join underneath FIRST, a whole
    // `a INTERSECT b` / `a EXCEPT b` / `a UNION b` between same-context
    // scans becomes ONE remote statement. (INTERSECT ALL / EXCEPT ALL
    // never reach this rule: [[SetOpAllRule]] collapses them
    // pre-rewrite on capable dialects; elsewhere they stay local as
    // Catalyst's ReplicateRows counting plans.)
    case agg: Aggregate
        if agg.groupingExpressions.nonEmpty &&
          agg.groupingExpressions.forall(_.isInstanceOf[Attribute]) &&
          agg.aggregateExpressions.forall(_.isInstanceOf[Attribute]) &&
          agg.groupingExpressions.map(_.asInstanceOf[Attribute].exprId).toSet ==
            agg.aggregateExpressions.map(_.asInstanceOf[Attribute].exprId).toSet =>
      val collapsed = for {
        l <- leafOf(agg.child)
        outAttrs = agg.aggregateExpressions.map(_.asInstanceOf[Attribute])
        if outAttrs.forall(a => l.attrs.contains(a.exprId))
      } yield {
        val alias = fresh()
        val cols = outAttrs.map(a => l.attrs(a.exprId))
        wrap(outAttrs, l.opts, l.select(cols, distinct = true, alias = Some(alias)), alias)
      }
      collapsed.getOrElse(agg)

    // Global-Sort collapse over an ALREADY-FEDERATED leg (r10 verdict
    // 7a): `(a INTERSECT ALL b) ORDER BY x` ships the ORDER BY inside
    // the one remote statement instead of pulling the set-op result
    // into a local sort. Three guards make this exact, not hopeful:
    //   - only derived legs (a collapsed set-op/join/window — raw-table
    //     Sort+LIMIT must keep riding the DSv2 TopN pushdown path);
    //   - only dialects where a parenthesized ORDER BY is documented or
    //     live-probed to survive the enclosing SELECT
    //     ([[graft.sources.jdbc.Dialect.supportsSortedDerivedTable]]);
    //   - only single-partition scans (a range-partitioned read
    //     interleaves partitions and no remote ORDER BY can survive
    //     that — exactly why the reference's always-1-partition scans
    //     can always ship sorts, mod.rs:313).
    // Direction AND null ordering render explicitly (engines disagree
    // on defaults). A bare LIMIT above still pushes into the collapsed
    // scan afterwards; a Sort that feeds a LIMIT/OFFSET chain is tagged
    // [[SortUnderLimit]] by the pre-pass and SKIPPED here — the DSv2
    // TopN pushdown renders the stronger full-remote
    // `ORDER BY … OFFSET … FETCH …` for those.
    case s @ Sort(order, true, child, _) if s.getTagValue(SortUnderLimit).isEmpty =>
      val collapsed = for {
        l <- leafOf(child)
        if l.opts.map.contains("derivedalias")
        if l.opts.dialect.supportsSortedDerivedTable
        if l.opts.partitionColumn.isEmpty
        if l.visible.map(_.exprId) == s.output.map(_.exprId)
        u = new CatalystUnparser(l.opts.dialect, l.attrs)
        keys <- {
          val ks = order.map(u.sortOrder)
          if (ks.forall(_.isDefined)) Some(ks.map(_.get)) else None
        }
      } yield {
        val alias = fresh()
        wrap(s.output, l.opts,
          l.select(tail = s" ORDER BY ${keys.mkString(", ")}", alias = Some(alias)), alias)
      }
      collapsed.getOrElse(s)

    case j: Join => collapseJoin(j).getOrElse(j)

    // SQL EXISTS / IN subqueries (see the scaladoc for why they arrive
    // here as a Filter): each subquery conjunct becomes the semi or anti
    // join RewritePredicateSubquery would build, over the outer leg that
    // keeps the other conjuncts, and collapses through the join arm. All
    // of them collapse, or the Filter stays as it was for Catalyst.
    case f @ Filter(cond, child) if SubqueryExpression.hasSubquery(cond) =>
      val (subs, rest) = splitConjunctivePredicates(cond).partition(SubqueryExpression.hasSubquery)
      val outer: LogicalPlan = rest.reduceOption(And).fold(child)(Filter(_, child))
      subs.foldLeft(Option(outer)) { (acc, c) =>
        acc.flatMap(subqueryJoin(_, c)).flatMap(collapseJoin)
      }.getOrElse(f)
  }

  /** The semi or anti join RewritePredicateSubquery builds for one
    * subquery conjunct over `outer`, or None for a shape left to it: any
    * subquery but EXISTS and IN, and a null-aware NOT IN (a NULL value or
    * column there rejects the row, which no NOT EXISTS says), so NOT IN
    * only when every value and column is non-nullable. IN becomes EXISTS
    * with `value = column` conjuncts: exact under a WHERE, where NULL and
    * FALSE both drop the row.
    */
  private def subqueryJoin(outer: LogicalPlan, conjunct: Expression): Option[Join] = {
    def join(sub: LogicalPlan, jt: JoinType, conds: Seq[Expression]) =
      Join(outer, sub, jt, conds.reduceOption(And), JoinHint.NONE)
    def keys(values: Seq[Expression], q: ListQuery) =
      values.zip(q.childOutputs).map { case (v, c) => EqualTo(v, c) }
    conjunct match {
      case Exists(sub, _, _, jc, _) => Some(join(sub, LeftSemi, jc))
      case Not(Exists(sub, _, _, jc, _)) => Some(join(sub, LeftAnti, jc))
      case InSubquery(vs, q) => Some(join(q.plan, LeftSemi, keys(vs, q) ++ q.joinCond))
      case Not(InSubquery(vs, q)) if !(vs ++ q.childOutputs).exists(_.nullable) =>
        Some(join(q.plan, LeftAnti, keys(vs, q) ++ q.joinCond))
      case _ => None
    }
  }

  private def collapseJoin(j: Join): Option[LogicalPlan] = {
    val Join(left, right, jt, cond, _) = j
    for {
      l <- leafOf(left)
      r <- leafOf(right)
      // never merge distinct servers (AllowedFor(context) equality)
      if l.ctx == r.ctx
      // a derived table joined with itself would duplicate its
      // correlation name in one FROM scope (for EXISTS the inner
      // alias would shadow the outer reference)
      if l.topAlias != r.topAlias
      body <- jt match {
        // Semi/anti joins have no JOIN keyword rendering; they
        // collapse as (NOT) EXISTS derived tables — the reference
        // federation collapses any same-server subplan the dialect
        // can express (federation.rs:62-110), and EXISTS is the
        // standard SQL spelling of semi-join semantics (null
        // conditions keep the anti-join row, exactly like Spark).
        case LeftSemi | LeftAnti =>
          val kw = if (jt == LeftAnti) "NOT EXISTS" else "EXISTS"
          cond match {
            case Some(c) =>
              new CatalystUnparser(l.opts.dialect, l.attrs ++ r.attrs)
                .expr(c, isPredicate = true)
                .map(w => s"${l.from} WHERE $kw (SELECT 1 FROM ${r.from} WHERE $w)")
            case None =>
              Some(s"${l.from} WHERE $kw (SELECT 1 FROM ${r.from})")
          }
        case _ =>
          for {
            kw <- joinKeyword(jt, l.opts)
            onSql <- cond match {
              case Some(c) =>
                new CatalystUnparser(l.opts.dialect, l.attrs ++ r.attrs)
                  .expr(c, isPredicate = true).map(s => s" ON $s")
              case None if jt == Cross => Some("")
              case None => None
            }
          } yield s"${l.from} $kw ${r.from}$onSql"
      }
    } yield {
      val alias = fresh()
      // semi/anti output is the left leg only; the combined map
      // still covers every output attribute in all join shapes
      val joined = l.copy(from = body, attrs = l.attrs ++ r.attrs, visible = j.output)
      wrap(j.output, l.opts, joined.select(alias = Some(alias)), alias)
    }
  }
}

/** Bag-semantics set-op federation: collapse same-server
  * `INTERSECT ALL` / `EXCEPT ALL` into one remote statement.
  *
  * The DISTINCT set-op forms reach [[FederationRule]] as the semi/anti
  * join + distinct-Aggregate trees Catalyst's Replace Operators batch
  * produces, and collapse there. The ALL forms instead rewrite to
  * `Generate(ReplicateRows …)` counting plans (`RewriteExceptAll` /
  * `RewriteIntersectAll`) — a shape no remote SQL corresponds to — and
  * Replace Operators runs BEFORE every optimizer extension point. So
  * this rule intercepts PRE-rewrite, as a post-hoc resolution rule: at
  * that point the plan still holds the `Except`/`Intersect` nodes with
  * `isAll=true`, and a same-compute-context pair of collapsible legs
  * renders directly as the reference unparser would
  * (`crates/common/src/sql/sql_provider_datafusion/federation.rs:62-110`
  * ships arbitrary set-op subplans). Capability-gated per dialect
  * ([[graft.sources.jdbc.Dialect.supportsSetOpAll]]); unsupported
  * dialects keep Spark's local ReplicateRows plan.
  *
  * NULL semantics match by construction: SQL set ops group NULLs as
  * equal on every engine, exactly like Spark's counting rewrite.
  *
  * At scale the collapse ships only the bag difference/intersection
  * instead of both full tables — same argument as the join collapse.
  */
object SetOpAllRule extends Rule[LogicalPlan] {
  import FederationRule.{leafOf, wrap}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case s @ Except(left, right, true) =>
      collapse(s, "EXCEPT ALL", left, right).getOrElse(s)
    case s @ Intersect(left, right, true) =>
      collapse(s, "INTERSECT ALL", left, right).getOrElse(s)
  }

  private def collapse(op: LogicalPlan, kw: String, left: LogicalPlan,
      right: LogicalPlan): Option[LogicalPlan] = {
    // deterministic per-collapse alias allocation: identical programs
    // must yield identical ANALYZED plans (this rule runs at analysis
    // time, so a counter-unique alias would defeat `df.cache()` plan
    // matching). Distinct correlation names within one statement, same
    // names across identical statements.
    var n = -1
    val det = () => { n += 1; s"g$n" }
    for {
      l <- leafOf(left, det)
      r <- leafOf(right, det)
      // never merge distinct servers (AllowedFor(context) equality)
      if l.ctx == r.ctx
      if l.opts.dialect.supportsSetOpAll
      // positional arity must line up on both branches (type coercion
      // already ran — WidenSetOperationTypes precedes post-hoc rules)
      if op.output.nonEmpty
      if l.visible.length == op.output.length &&
        r.visible.length == op.output.length
      // and the leg COLUMN TYPES must already agree: this rule runs
      // BEFORE checkAnalysis, so an incoercible set-op (bool vs int)
      // still holds its raw legs here — collapsing it would hide the
      // analysis error and ship a query the remote engine coerces by
      // ITS rules. Legs that coerced successfully carry Cast-Projects,
      // which leafOf already refuses, so equal leg types is exactly
      // the collapsible set.
      if l.visible.map(_.dataType) == r.visible.map(_.dataType) &&
        l.visible.map(_.dataType) == op.output.map(_.dataType)
    } yield {
      // content-derived outer alias: deterministic for identical
      // programs (cache matching), distinct for distinct set-ops (so
      // an outer join of two different collapsed set-ops keeps
      // distinct topAliases and can itself collapse; two copies of the
      // SAME set-op share the alias and the join arm's self-join guard
      // correctly refuses, exactly like any other self-joined leg)
      // each branch is its own FROM scope: a self-set-op's duplicate
      // correlation names are fine (unlike the join arm)
      val body = s"${l.select()} $kw ${r.select()}"
      val alias = "gs" + java.lang.Integer.toHexString(body.hashCode)
      wrap(op.output, l.opts, s"($body) ${l.opts.dialect.quote(alias)}", alias)
    }
  }
}

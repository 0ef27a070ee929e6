package graft.plans

import graft.sources.jdbc.{Dialect, Unparser}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.util.V2ExpressionBuilder

import scala.util.Try

/** Catalyst `Expression` → dialect SQL, for the federation rule and
  * [[graft.sources.jdbc.Dml]].
  *
  * Scalars have one renderer, [[graft.sources.jdbc.Unparser]]: a
  * Catalyst tree reaches it through Spark's own `V2ExpressionBuilder`,
  * the converter `V2ScanRelationPushDown` uses to feed the scan
  * builder, so a federated filter or join condition renders exactly as
  * a pushed scan filter does. Column references resolve through
  * `attrSql`, the caller's ExprId → rendered-SQL map, so the same
  * attribute renders as `"f0"."col"` or a derived-table alias depending
  * on where its leaf landed in the generated query. Windows have no
  * DSv2 form and are rendered here around that renderer.
  *
  * All-or-nothing per expression (reference: a filter the dialect cannot
  * render is never partially pushed,
  * `crates/common/src/sql/sql_provider_datafusion/mod.rs:352-424`).
  */
final class CatalystUnparser(dialect: Dialect, attrSql: Map[ExprId, String]) {

  /** Each attribute's name inside the converted tree: unique per ExprId,
    * where plain names repeat across join legs. */
  private def refName(id: ExprId): String = s"#${id.id}"

  private val unparser = {
    val byName = attrSql.map { case (id, sql) => refName(id) -> sql }
    new Unparser(dialect, {
      case Seq(name) => byName.get(name)
      case _ => None
    })
  }

  /** SQL for `e`, or None when any part of it cannot render: each
    * attribute is renamed to [[refName]], `V2ExpressionBuilder` converts
    * the tree, and [[Unparser.expr]] renders it, resolving the names
    * through `attrSql`. The builder evaluates every foldable subtree to
    * its literal inside Spark (analyzer-inserted casts included), so a
    * remote engine never parses Spark's cast text; a fold that throws
    * keeps `e` local. `isPredicate` spells a bare boolean column as
    * `(c = TRUE)`.
    */
  def expr(e: Expression, isPredicate: Boolean = false): Option[String] = {
    val named = e.transform { case a: AttributeReference => a.withName(refName(a.exprId)) }
    Try(new V2ExpressionBuilder(named, isPredicate).build()).toOption.flatten
      .flatMap(unparser.expr)
  }

  /** ORDER BY key with the direction AND null ordering always explicit:
    * engines disagree on defaults (Postgres ASC puts nulls LAST, Spark
    * FIRST), so implicit null placement silently reorders; the MySQL
    * dialect's repairSql rewrites the explicit spelling to its
    * emulation (reference `mysql_window.rs:44-73`).
    */
  def sortOrder(so: SortOrder): Option[String] =
    expr(so.child).map { s =>
      val dir = so.direction match {
        case Ascending => "ASC"
        case Descending => "DESC"
      }
      val nulls = so.nullOrdering match {
        case NullsFirst => "NULLS FIRST"
        case NullsLast => "NULLS LAST"
      }
      s"$s $dir $nulls"
    }

  /** A complete `fn(...) OVER (PARTITION BY … ORDER BY … [frame])`
    * rendering, or None when any piece is outside the translatable set
    * (all-or-nothing, like [[expr]]).
    *
    * Ranking/offset functions omit the frame clause (Catalyst attaches
    * their implied frame, which MySQL REJECTS on ranking functions and
    * every engine ignores); aggregate functions render the plan's frame
    * explicitly when it is one of the exactly-portable shapes.
    */
  def windowExpr(we: WindowExpression): Option[String] = {
    val spec = we.windowSpec
    val (fnSql, needsFrame): (Option[String], Boolean) = we.windowFunction match {
      case _: RowNumber => (Some("ROW_NUMBER()"), false)
      case _: Rank => (Some("RANK()"), false)
      case _: DenseRank => (Some("DENSE_RANK()"), false)
      // only POSITIVE literal offsets push: Lead/Lag.unapply yield the
      // raw user-typed inputOffset, so lead(c, -1) (legal, behaves as
      // lag) must stay local rather than render as the wrong direction
      case Lead(in, Literal(off: Int, _), default, false) if off > 0 =>
        (offsetFn("LEAD", in, off, default), false)
      case Lag(in, Literal(off: Int, _), default, false) if off > 0 =>
        (offsetFn("LAG", in, off, default), false)
      case AggregateExpression(fn, _, false, None, _) =>
        val sql = fn match {
          case Sum(c, _) => expr(c).map(s => s"SUM($s)")
          case Min(c) => expr(c).map(s => s"MIN($s)")
          case Max(c) => expr(c).map(s => s"MAX($s)")
          case Count(Seq(Literal(1, _))) => Some("COUNT(*)")
          case Count(Seq(c)) => expr(c).map(s => s"COUNT($s)")
          case _ => None
        }
        (sql, true)
      case _ => (None, false)
    }
    for {
      f <- fnSql
      parts <- all(spec.partitionSpec)
      orders <- {
        val rendered = spec.orderSpec.map(sortOrder)
        if (rendered.forall(_.isDefined)) Some(rendered.map(_.get)) else None
      }
      frame <- frameSql(spec.frameSpecification, needsFrame)
    } yield {
      val clauses = Seq(
        if (parts.isEmpty) "" else s"PARTITION BY ${parts.mkString(", ")}",
        if (orders.isEmpty) "" else s"ORDER BY ${orders.mkString(", ")}",
        frame).filter(_.nonEmpty)
      s"$f OVER (${clauses.mkString(" ")})"
    }
  }

  /** LEAD/LAG with a positive literal offset (the caller's guard). */
  private def offsetFn(kw: String, in: Expression, n: Int,
      default: Expression): Option[String] = {
    val d = default match {
      case Literal(null, _) => Some(None)
      case l: Literal => expr(l).map(Some(_))
      case _ => None
    }
    for { i <- expr(in); ds <- d }
      yield ds.fold(s"$kw($i, $n)")(s => s"$kw($i, $n, $s)")
  }

  /** Only the exactly-portable frames render; anything else refuses the
    * pushdown rather than risking engine-specific frame semantics.
    */
  private def frameSql(frame: WindowFrame, wanted: Boolean): Option[String] =
    if (!wanted) Some("")
    else frame match {
      case UnspecifiedFrame => Some("")
      case SpecifiedWindowFrame(ft, lo, hi) =>
        val kw = ft match { case RowFrame => "ROWS"; case RangeFrame => "RANGE" }
        def bound(b: Expression): Option[String] = b match {
          case UnboundedPreceding => Some("UNBOUNDED PRECEDING")
          case UnboundedFollowing => Some("UNBOUNDED FOLLOWING")
          case CurrentRow => Some("CURRENT ROW")
          case _ => None
        }
        for { l <- bound(lo); h <- bound(hi) } yield s"$kw BETWEEN $l AND $h"
      case _ => None
    }

  private def all(es: Seq[Expression]): Option[Seq[String]] = {
    val rendered = es.map(expr(_))
    if (rendered.forall(_.isDefined)) Some(rendered.map(_.get)) else None
  }
}

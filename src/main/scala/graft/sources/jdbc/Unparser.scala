package graft.sources.jdbc

import org.apache.spark.sql.connector.expressions.{Expression, GeneralScalarExpression, Literal, NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** DataSource V2 expression → dialect SQL unparser.
  *
  * The translatable set mirrors the reference's `Exact`-pushdown surface
  * (`crates/common/src/sql/sql_provider_datafusion/mod.rs:352-424`):
  * column refs, literals, binary comparisons/arithmetic, AND/OR/NOT,
  * IS (NOT) NULL, IN, LIKE-shaped string predicates, CASE WHEN and a few
  * total functions. Anything else returns None and the filter stays in
  * Spark — per-predicate partial pushdown, never a correctness risk.
  *
  * It is the only code that maps a scalar operator to SQL: federation
  * and DML reach it through `V2ExpressionBuilder`
  * ([[graft.plans.CatalystUnparser]]). `column` renders a reference's
  * name parts; the default quotes a single-part name.
  */
final class Unparser(dialect: Dialect, column: Seq[String] => Option[String])
    extends Serializable {

  def this(dialect: Dialect) = this(dialect, {
    // multi-part references are NESTED STRUCT FIELDS (pt.x) — rendering
    // them as a dotted identifier chain makes the remote parse "pt" as
    // a table alias; the predicate must stay on the Spark side
    case Seq(name) => Some(dialect.quoted(Seq(name)))
    case _ => None
  })

  def sort(o: SortOrder): Option[String] = expr(o.expression).map { e =>
    val dir = if (o.direction == SortDirection.ASCENDING) "ASC" else "DESC"
    val nulls =
      if (o.nullOrdering == NullOrdering.NULLS_FIRST) "NULLS FIRST" else "NULLS LAST"
    s"$e $dir $nulls"
  }

  def agg(f: AggregateFunc): Option[String] = f match {
    case c: Count =>
      expr(c.column).map(e => s"COUNT(${if (c.isDistinct) "DISTINCT " else ""}$e)")
    case _: CountStar => Some("COUNT(*)")
    case s: Sum =>
      expr(s.column).map(e => s"SUM(${if (s.isDistinct) "DISTINCT " else ""}$e)")
    case m: Min => expr(m.column).map(e => s"MIN($e)")
    case m: Max => expr(m.column).map(e => s"MAX($e)")
    case a: Avg =>
      expr(a.column).map(e => s"AVG(${if (a.isDistinct) "DISTINCT " else ""}$e)")
    case _ => None
  }

  def expr(e: Expression): Option[String] = e match {
    case f: NamedReference => column(f.fieldNames.toSeq)
    case l: Literal[_] => literal(l)
    case c: org.apache.spark.sql.connector.expressions.Cast
        if dialect.supportsType(c.dataType) =>
      expr(c.expression).map(s => s"CAST($s AS ${dialect.typeName(c.dataType)})")
    case g: GeneralScalarExpression => scalar(g)
    // Temporal field extraction (Catalyst year()/month()/extract(...)
    // arrive as V2 Extract); rendering is dialect-routed — ANSI EXTRACT,
    // Derby YEAR()..SECOND(), SQLite strftime — and engine-specific
    // numberings (DAY_OF_WEEK, WEEK) are never pushed.
    case x: org.apache.spark.sql.connector.expressions.Extract =>
      expr(x.source).flatMap(s => dialect.extractSql(x.field, s))
    case _ => None
  }

  private def kids(g: GeneralScalarExpression): Option[Seq[String]] = {
    val rendered = g.children.map(expr)
    if (rendered.forall(_.isDefined)) Some(rendered.toSeq.map(_.get)) else None
  }

  private def binary(op: String, g: GeneralScalarExpression): Option[String] =
    kids(g).collect { case Seq(a, b) => s"($a $op $b)" }

  private def scalar(g: GeneralScalarExpression): Option[String] = g.name match {
    case "=" | "<>" | "<" | "<=" | ">" | ">=" => binary(g.name, g)
    // Catalyst `<=>`; INTERSECT/EXCEPT rewrite to semi/anti joins on it
    case "<=>" => kids(g).collect { case Seq(a, b) => dialect.nullSafeEqSql(a, b) }.flatten
    case "!=" => binary("<>", g)
    case "+" | "-" if g.children.length == 2 => binary(g.name, g)
    case "-" => kids(g).collect { case Seq(a) => s"(- $a)" }
    case "*" | "/" => binary(g.name, g)
    case "%" => kids(g).collect { case Seq(a, b) => dialect.modSql(a, b) }
    case "AND" | "OR" => binary(g.name, g)
    case "NOT" => kids(g).collect { case Seq(a) => s"(NOT $a)" }
    case "IS_NULL" => kids(g).collect { case Seq(a) => s"($a IS NULL)" }
    case "IS_NOT_NULL" => kids(g).collect { case Seq(a) => s"($a IS NOT NULL)" }
    case "IN" => kids(g).collect {
      case xs if xs.length >= 2 => s"(${xs.head} IN (${xs.tail.mkString(", ")}))"
    }
    case "ALWAYS_TRUE" => Some("(1 = 1)")
    case "ALWAYS_FALSE" => Some("(1 = 0)")
    case "STARTS_WITH" => likePattern(g, pre = "", post = "%")
    case "ENDS_WITH" => likePattern(g, pre = "%", post = "")
    case "CONTAINS" => likePattern(g, pre = "%", post = "%")
    case "ABS" => kids(g).collect { case Seq(a) => s"ABS($a)" }
    case "COALESCE" => kids(g).map(xs => s"COALESCE(${xs.mkString(", ")})")
    case "UPPER" => kids(g).collect { case Seq(a) => s"UPPER($a)" }
    case "LOWER" => kids(g).collect { case Seq(a) => s"LOWER($a)" }
    // one-arg math/string functions spelled identically in every target
    // dialect (Derby is the least common denominator: no ROUND/POWER)
    case "SQRT" | "EXP" | "LN" | "FLOOR" | "LTRIM" | "RTRIM" =>
      kids(g).collect { case Seq(a) => s"${g.name}($a)" }
    case "CEIL" => kids(g).collect { case Seq(a) => s"CEILING($a)" }
    case "TRIM" => kids(g).collect { case Seq(a) => s"TRIM($a)" }
    // SUBSTR(s, pos[, len]) is the portable spelling (ANSI SUBSTRING's
    // FROM/FOR form is not accepted by every target)
    case "SUBSTRING" => kids(g).collect {
      case Seq(s, p) => s"SUBSTR($s, $p)"
      case Seq(s, p, l) => s"SUBSTR($s, $p, $l)"
    }
    case "CONCAT" => kids(g).filter(_.lengthIs >= 2).map(dialect.concatSql)
    case "CASE_WHEN" => kids(g).map { xs =>
      val (branches, tail) = (xs.dropRight(xs.length % 2), xs.takeRight(xs.length % 2))
      val whens = branches.grouped(2)
        .map { case Seq(c, v) => s"WHEN $c THEN $v" }.mkString(" ")
      val els = tail.headOption.map(e => s" ELSE $e").getOrElse("")
      s"(CASE $whens$els END)"
    }
    case _ => None
  }

  /** STARTS_WITH/ENDS_WITH/CONTAINS with a *literal* pattern → LIKE with
    * `\`-escaped wildcards (the reference escapes LIKE patterns the same
    * way for Mongo regexes, `utils/expression.rs:43-236`).
    */
  private def likePattern(g: GeneralScalarExpression, pre: String, post: String): Option[String] =
    (g.children.lift(0).flatMap(expr), g.children.lift(1)) match {
      case (Some(col), Some(l: Literal[_])) if l.dataType == StringType =>
        val raw = l.value.asInstanceOf[UTF8String].toString
        val esc = raw.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        // the escape-char literal routes through the dialect too: MySQL
        // literals backslash-escape, so a hardcoded '\' is unterminated
        Some(s"($col LIKE ${dialect.stringLiteral(pre + esc + post)} " +
          s"ESCAPE ${dialect.stringLiteral("\\")})")
      case _ => None
    }

  /** Literal rendering from Catalyst internal values, UTC-normalized. */
  def literal(l: Literal[_]): Option[String] = {
    if (l.value == null) return Some("NULL")
    l.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           _: DecimalType => Some(l.value.toString)
      case BooleanType => Some(if (l.value.asInstanceOf[Boolean]) "TRUE" else "FALSE")
      case StringType =>
        Some(dialect.stringLiteral(l.value.asInstanceOf[UTF8String].toString))
      case DateType =>
        Some(dialect.dateLiteralSql(
          LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong).toString))
      // NTZ renders identically: the micros are already wall-clock
      // (found by scripts/dialect_live_check.py — an unrenderable NTZ
      // literal silently kept timestamp predicates local)
      case TimestampType | TimestampNTZType =>
        // Always render full seconds (LocalTime.toString drops ":00"
        // seconds, producing e.g. `TIMESTAMP '… 00:00'` which Derby and
        // other strict dialects reject); fractional micros only if set.
        val micros = l.value.asInstanceOf[Long]
        val i = Instant.EPOCH.plusSeconds(Math.floorDiv(micros, 1000000L))
          .plusNanos(Math.floorMod(micros, 1000000L) * 1000L)
        val t = LocalDateTime.ofInstant(i, ZoneOffset.UTC)
        val base = t.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
        val frac = Math.floorMod(micros, 1000000L)
        val fracStr = if (frac == 0L) "" else f".$frac%06d"
        // tz-aware TimestampType renders through the ZONED hook: the
        // text is UTC wall time, and a dialect whose column type is
        // timestamptz (Postgres) must anchor the literal to +00 or the
        // remote session timezone silently shifts pushed comparisons
        if (l.dataType == TimestampType)
          Some(dialect.zonedTimestampLiteralSql(s"$base$fracStr"))
        else Some(dialect.timestampLiteralSql(s"$base$fracStr"))
      case _ => None
    }
  }
}

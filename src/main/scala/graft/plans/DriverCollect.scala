package graft.plans

import graft.sources.jdbc.JdbcScan
import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, PlanExpression, Predicate, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftx.Bridge

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

/** Collects a query that is one remote statement by reading it on the
  * driver, without a Spark job.
  *
  * The reference runs a federated statement in-process and streams its
  * batches straight to the caller
  * (`crates/common/src/sql/sql_provider_datafusion/mod.rs:278-334`). In
  * Spark, `collect` of the same one-partition scan schedules a job with
  * one task, and for a lookup of a few rows that scheduling is most of
  * its latency. This node sits at the root of a plan whose child is a
  * [[DriverCollect.Chain]]. `executeCollect` and `executeTake(n)` open
  * the scan's one partition through its own reader factory, so the
  * statement is the one a task would send, apply the chain's filters and
  * projections to its rows, stop after `n` rows and close the reader.
  * The collected rows count against `spark.driver.maxResultSize` as a
  * task's result does.
  *
  * `doExecute` is the child's, so `toRdd`, `df.rdd`, writes and caching
  * run tasks as before. A driver read is not a job: `cancelJobGroup`
  * does not reach it.
  */
final case class DriverCollectExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    DriverCollect.chain(child).fold(super.executeCollect())(c => executeQuery(read(c, Int.MaxValue)))

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty
    else DriverCollect.chain(child).fold(super.executeTake(n))(c => executeQuery(read(c, n)))

  /** At most `n` rows of the chain's one statement. The scan's, the
    * columnar-to-row transition's and each filter's metrics count as they
    * do in a task and are posted to the SQL execution. */
  private def read(c: DriverCollect.Chain, n: Int): Array[InternalRow] = {
    val scanRows = c.scan.longMetric("numOutputRows")
    val c2rRows = c.c2r.longMetric("numOutputRows")
    val c2rBatches = c.c2r.longMetric("numInputBatches")
    val stages: Array[InternalRow => InternalRow] = c.ops.map {
      case f: FilterExec =>
        val p = Predicate.create(f.condition, f.child.output)
        val kept = f.longMetric("numOutputRows")
        (r: InternalRow) => if (p.eval(r)) { kept += 1; r } else null
      case p: ProjectExec =>
        val u = UnsafeProjection.create(p.projectList, p.child.output)
        (r: InternalRow) => u(r)
    }.toArray
    val unsafe: InternalRow => UnsafeRow = c.ops.lastOption match {
      case Some(_: ProjectExec) => _.asInstanceOf[UnsafeRow]
      case _ =>
        val u = UnsafeProjection.create(output, output)
        (r: InternalRow) => u(r)
    }
    val max = Bridge.maxResultSize(sparkContext)
    val out = ArrayBuffer.empty[InternalRow]
    var bytes = 0L
    val reader = c.scan.readerFactory.createColumnarReader(c.scan.inputPartitions.head)
    try {
      while (out.length < n && reader.next()) {
        val batch = reader.get()
        scanRows += batch.numRows
        c2rRows += batch.numRows
        c2rBatches += 1
        val it = batch.rowIterator()
        while (out.length < n && it.hasNext) {
          var r = it.next()
          var i = 0
          while (r != null && i < stages.length) { r = stages(i)(r); i += 1 }
          if (r != null) {
            val row = unsafe(r).copy()
            bytes += row.getSizeInBytes
            if (max > 0 && bytes > max)
              throw new SparkException(s"Total size of serialized results of 1 tasks " +
                s"(${Bridge.bytesToString(bytes)}) is bigger than spark.driver.maxResultSize " +
                s"(${Bridge.bytesToString(max)})")
            out += row
          }
        }
      }
    } finally {
      reader.close()
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
        (c.scan +: c.c2r +: c.ops).flatMap(_.metrics.values))
    }
    out.toArray
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DriverCollectExec =
    copy(child = newChild)
}

/** Puts a [[DriverCollectExec]] at the root of a plan that is a [[Chain]],
  * or under a root `CollectLimitExec` over one (`show`, `head`, `take`).
  * It runs after the columnar transitions, so the transition is in place,
  * and before whole-stage codegen, which [[chain]] looks through.
  */
object DriverCollect extends Rule[SparkPlan] {

  /** Zero or more `FilterExec`/`ProjectExec` (`ops`, bottom-up) over a
    * `ColumnarToRowExec` over a `BatchScanExec` of a [[JdbcScan]] with one
    * input partition and no runtime filters. Every expression of `ops` is
    * deterministic and holds no subquery. */
  final case class Chain(ops: Seq[SparkPlan], c2r: ColumnarToRowExec, scan: BatchScanExec)

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case l: CollectLimitExec if chain(l.child).isDefined =>
      l.withNewChildren(Seq(DriverCollectExec(l.child)))
    case p if chain(p).isDefined => DriverCollectExec(p)
    case p => p
  }

  private def local(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]])

  def chain(plan: SparkPlan): Option[Chain] = {
    @tailrec def walk(p: SparkPlan, ops: List[SparkPlan]): Option[Chain] = p match {
      case w: WholeStageCodegenExec => walk(w.child, ops)
      case a: InputAdapter => walk(a.child, ops)
      case f: FilterExec if local(f.condition) => walk(f.child, f :: ops)
      case pr: ProjectExec if pr.projectList.forall(local) => walk(pr.child, pr :: ops)
      case c: ColumnarToRowExec => scanOf(c.child).map(Chain(ops, c, _))
      case _ => None
    }
    walk(plan, Nil)
  }

  @tailrec private def scanOf(p: SparkPlan): Option[BatchScanExec] = p match {
    case a: InputAdapter => scanOf(a.child)
    case b: BatchScanExec if b.scan.isInstanceOf[JdbcScan] && b.runtimeFilters.isEmpty &&
        b.inputPartitions.size == 1 => Some(b)
    case _ => None
  }
}

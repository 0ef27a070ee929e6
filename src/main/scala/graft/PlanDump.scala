package graft

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence artifact (plans/rNN/<query>_<suffix>.txt).
  * Plan SHAPE is timing-independent, so this runs fine inside degraded
  * host phases where bench numbers are junk.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * (no names = every declared query; a name matches as in
  * SPARK_GRAFT_ONLY). The session is Bench's, overrides included, so the
  * captured plans are the plans the bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    val sel = Bench.select(if (args.length > 3) Some(args(3).split(',').toSeq) else None)
    // ALL-JOBS capture: the final-plan dump hides eager sub-jobs (model
    // builds, localCheckpoints, scalar subqueries executed during query
    // CONSTRUCTION). With SPARK_GRAFT_ALLJOBS=1 each query is EXECUTED
    // (noop sink) with a QueryExecutionListener attached, and every job's
    // formatted plan lands in one `<name>_<suffix>.txt` — so committed
    // exchange counts match execution, not just the last job.
    val allJobs = sys.env.get("SPARK_GRAFT_ALLJOBS").contains("1")
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        captured.add(funcName ->
          qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    // the count the captured plans are checked against: named SQL
    // executions that ended (each one is owed a listener callback), and
    // the Spark jobs they ran
    val namedExecutions = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
            if org.apache.spark.sql.graftx.Bridge.executionName(end).isDefined =>
          namedExecutions.incrementAndGet()
        case _ => ()
      }
    }
    if (allJobs) {
      spark.listenerManager.register(listener)
      spark.sparkContext.addSparkListener(counter)
    }
    sel.foreach { case (name, fn) =>
      try {
        captured.clear()
        namedExecutions.set(0)
        jobs.set(0)
        val df = fn(spark, sfDir)
        val txt =
          if (!allJobs) df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          else {
            df.write.format("noop").mode("overwrite").save()
            // the execution-listener bus is async: wait until every event
            // posted so far has been delivered, so no late plan is missed
            // or attributed to the next query
            org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
            val sb = new StringBuilder
            var i = 0
            val it = captured.iterator()
            while (it.hasNext) {
              val (fn0, plan) = it.next()
              i += 1
              sb.append(s"=== job $i ($fn0) ===\n").append(plan).append("\n\n")
            }
            val expected = namedExecutions.get()
            System.err.println(s"[plandump] $name: expected $expected plans, " +
              s"captured $i (${jobs.get()} Spark jobs)" + (if (i != expected) " MISMATCH" else ""))
            sb.append(s"=== total jobs captured: $i ===\n").toString
          }
        val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] $name -> $p (${txt.length} B)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      } finally {
        graft.operators.GraftCache.releaseAll()
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}

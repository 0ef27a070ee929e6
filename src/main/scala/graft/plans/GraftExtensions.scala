package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Session extensions entry point: registers the federation optimizer
  * rule (same-compute-context subplan collapse — the Spark analog of
  * datafusion-federation's plan rewrite, reference
  * `crates/common/src/sql/sql_provider_datafusion/federation.rs:62-110`)
  * and the physical rule that collects a one-statement plan on the
  * driver ([[DriverCollect]]).
  *
  * Register with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => FederationRule)
    // ALL set-ops must be caught BEFORE the optimizer's Replace
    // Operators batch rewrites them to ReplicateRows counting plans —
    // post-hoc resolution is the last hook that still sees them.
    e.injectPostHocResolutionRule(_ => SetOpAllRule)
    e.injectColumnar(_ => new ColumnarRule {
      override def postColumnarTransitions: Rule[SparkPlan] = DriverCollect
    })
    GraftFunctions.register(e)
  }
}

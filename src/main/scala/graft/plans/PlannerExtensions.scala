package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** graft's planner extensions. [[graft.GraftSession]] installs them:
  * per session when graft first sees it (appended to
  * `spark.experimental`), or deployment-wide through
  * [[graft.GraftExtensions]] (the rules as pre-CBO rules, after
  * operator optimization). Both may be active on one session; the
  * strategies and the rules are idempotent, so running either twice
  * changes nothing. */
object PlannerExtensions {

  /** The optimizer rules, in the order they run. */
  val Rules: Seq[Rule[LogicalPlan]] = Seq(OrderAwareWindowExchange, JsonFieldRewrite)

  /** The planner strategies, in the order they are tried. */
  val Strategies: Seq[SparkStrategy] = Seq(TopKStrategy, SampleFreeSort)
}

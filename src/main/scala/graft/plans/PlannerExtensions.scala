package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** graft's planner extensions, installed one of two ways:
  *
  *   - per session, lazily: [[install]] appends them to
  *     `spark.experimental` (the strategies to `extraStrategies`, the
  *     rules to `extraOptimizations`, which run after every built-in
  *     optimizer batch). Called by every table load and by
  *     `GraftOps.topKPerKey`, so a plain session picks them up before
  *     its first graft plan is optimized;
  *   - deployment-wide: [[inject]] from [[graft.GraftExtensions]] (the
  *     rules as pre-CBO rules, after operator optimization).
  *
  * Both paths may be active on one session; the strategies and the
  * rules are idempotent, so running either twice changes nothing.
  *
  * Locking convention (ADVICE r12): the install's check-then-append
  * synchronizes on `spark.experimental`. External code that also
  * mutates `extraStrategies`/`extraOptimizations` at runtime must take
  * the same monitor, or a concurrent interleave can append a duplicate
  * entry (harmless to planning, but the lists stop being canonical).
  * Extension-based installs never race: they run once at session
  * build. */
object PlannerExtensions {

  /** The optimizer rules, in the order they run. */
  val Rules: Seq[Rule[LogicalPlan]] = Seq(OrderAwareWindowExchange, JsonFieldRewrite)

  /** The planner strategies, in the order they are tried. */
  val Strategies: Seq[SparkStrategy] = Seq(TopKStrategy, SampleFreeSort)

  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      Strategies.foreach { s =>
        if (!x.extraStrategies.contains(s))
          x.extraStrategies = x.extraStrategies :+ s
      }
      Rules.foreach { r =>
        if (!x.extraOptimizations.contains(r))
          x.extraOptimizations = x.extraOptimizations :+ r
      }
    }
  }

  def inject(ext: SparkSessionExtensions): Unit = {
    Strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    Rules.foreach(r => ext.injectPreCBORule(_ => r))
  }
}

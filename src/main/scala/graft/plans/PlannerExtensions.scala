package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** graft's planner extensions, installed one of two ways:
  *
  *   - per session, lazily: [[install]] appends them to
  *     `spark.experimental` (the strategy to `extraStrategies`, the
  *     rule to `extraOptimizations`, which run after every built-in
  *     optimizer batch). Called by every table load and by
  *     `GraftOps.topKPerKey`, so a plain session picks them up before
  *     its first graft plan is optimized;
  *   - deployment-wide: [[inject]] from [[graft.GraftExtensions]] (the
  *     rule as a pre-CBO rule, after operator optimization).
  *
  * Both paths may be active on one session; the strategy and the rule
  * are idempotent, so running either twice changes nothing.
  *
  * Locking convention (ADVICE r12): the install's check-then-append
  * synchronizes on `spark.experimental`. External code that also
  * mutates `extraStrategies`/`extraOptimizations` at runtime must take
  * the same monitor, or a concurrent interleave can append a duplicate
  * entry (harmless to planning, but the lists stop being canonical).
  * Extension-based installs never race: they run once at session
  * build. */
object PlannerExtensions {

  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(TopKStrategy))
        x.extraStrategies = x.extraStrategies :+ TopKStrategy
      if (!x.extraOptimizations.contains(OrderAwareWindowExchange))
        x.extraOptimizations = x.extraOptimizations :+ OrderAwareWindowExchange
    }
  }

  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPreCBORule(_ => OrderAwareWindowExchange)
  }
}

package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.StructType

/** What graft keeps for one SparkSession. `GraftSession(spark)` returns
  * it, and creating it — the first time graft sees the session — is
  * graft's whole per-session install, done once:
  *
  *   - every `graft_*` SQL function ([[GraftSession.functions]]) is
  *     registered as a temp function, replacing any foreign one of the
  *     same name (one WARN per displaced name, which deserves the log
  *     line);
  *   - the planner strategies and optimizer rules of
  *     [[graft.plans.PlannerExtensions]] are appended to
  *     `spark.experimental` (the rules to `extraOptimizations`, which
  *     run after every built-in optimizer batch);
  *   - parquet output timestamps are written as µs, not legacy INT96
  *     nanos, so dumped results carry the physical type the DuckDB
  *     oracle produces.
  *
  * Table loads (through [[Tables.readCached]]), the prepared surface
  * and every `GraftOps` operator reach the record before their first
  * `graft_*` expression, so no caller needs a setup call. The
  * deployment-wide path is [[GraftSession.inject]] (from
  * [[GraftExtensions]]), which injects the same functions and planner
  * extensions at session build; both may be active on one session, and
  * the rules and strategies are idempotent.
  *
  * Records are keyed on the session REFERENCE, not its applicationId:
  * `newSession()`/`cloneSession()` share one SparkContext but carry
  * their own conf and function registry, and a DataFrame runs under the
  * session that built it. The key is weak, so a long-lived host minting
  * a session per request drops each record with its session. That only
  * holds while the record never reaches its key: a DataFrame strongly
  * references its session, so a strong DataFrame value would pin the
  * weak key forever (the WeakHashMap trap). The record therefore holds
  * every DataFrame through a WeakReference, and the one session it
  * holds strongly, the bloom clone, is a `newSession()` child that does
  * not reference its parent.
  */
final class GraftSession private {

  /** Cached parquet scans by path. The schema is held strongly (a
    * StructType references no session), so a collected scan rebuilds
    * with the known schema: no footer re-read, no inference job. */
  private[graft] val scans =
    TrieMap.empty[String, (StructType, WeakReference[DataFrame])]

  /** Prepared DataFrames by (corpus dir, query). */
  private[graft] val prepared =
    new ConcurrentHashMap[(String, String), WeakReference[DataFrame]]()

  private var bloom: SparkSession = _

  /** The conf-scoped child session of `Joins.joinBloomPrune`, minted by
    * `mint` on first use and then kept. */
  private[graft] def bloomSession(mint: => SparkSession): SparkSession = synchronized {
    if (bloom == null) bloom = mint
    bloom
  }
}

object GraftSession {

  /** Every graft SQL function: the native scalar expressions and the
    * Misra–Gries aggregate. The install and [[inject]] both read it. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    graft.functions.VectorExprs.builders ++ graft.functions.SketchAggs.builders

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, GraftSession]())

  /** The record of `spark`. The first call installs graft into the
    * session; racing first callers block until the install is done. */
  def apply(spark: SparkSession): GraftSession =
    sessions.computeIfAbsent(spark, s => install(s))

  private def install(spark: SparkSession): GraftSession = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in") }
    // A `cloneSession()` child inherits its parent's lists. External
    // code that also mutates them at runtime should take the same
    // monitor, or an interleave can append a duplicate entry.
    val x = spark.experimental
    x.synchronized {
      x.extraStrategies ++= plans.PlannerExtensions.Strategies.filterNot(x.extraStrategies.contains)
      x.extraOptimizations ++= plans.PlannerExtensions.Rules.filterNot(x.extraOptimizations.contains)
    }
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new GraftSession
  }

  /** The deployment-wide path: the same functions and planner
    * extensions, injected at session build (the rules as pre-CBO
    * rules, after operator optimization). */
  def inject(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    plans.PlannerExtensions.Strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    plans.PlannerExtensions.Rules.foreach(r => ext.injectPreCBORule(_ => r))
  }

  /** Sets `kv` on `spark`'s conf around `f`, then restores each key
    * (unsetting one that had no value). It mutates the given session:
    * a query planned on it concurrently sees the overrides, so the
    * scored bloom query runs on its own clone instead. */
  private[graft] def withConfs[T](spark: SparkSession,
      kv: Seq[(String, String)])(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prepared-statement surface: memoize the BUILT DataFrame per
  * (session, sf, query) so repeat invocations skip the builder and its
  * eager per-Dataset analysis — the per-invocation fixed cost
  * the r12 A/B measured at 0.02–0.22 s on the sub-second shapes
  * (NOTES, r12). This is the shape a serving engine uses: plan once,
  * execute many.
  *
  * What reuse does and does NOT skip: a later action on the memoized
  * Dataset (e.g. `.count()`) constructs a NEW QueryExecution over the
  * already-analyzed plan — fresh RDDs and fresh shuffle ids — so the
  * query's jobs re-run in full every time (the r13 A/B measured equal
  * task counts fresh-vs-memoized); only the builder + analysis work is
  * saved. Never call actions on a QueryExecution cached across runs —
  * same RDD lineage would let the scheduler skip completed shuffle map
  * stages and the "timing" would measure only the result stage.
  *
  * Queries whose BUILDER performs per-invocation work that is itself
  * the thing under test are never memoized: the streaming family runs
  * its micro-batches inside the builder (the timed restart path), and
  * the round-trip/compaction scans write a fresh scratch copy each
  * call. For those `df` is just a fresh build.
  */
object Prepared {
  /** Keyed on the SESSION REFERENCE, not applicationId: `newSession()`/
    * `cloneSession()` share one SparkContext (same applicationId) but
    * carry their own conf and function registry, and a DataFrame is
    * bound to the session that built it — an applicationId key would
    * hand session B a plan that executes under session A's conf (r13
    * advice). The outer key is WEAK and the cached DataFrames are held
    * through WeakReferences — the same discipline as Tables.cache, and
    * for the same reason: a DataFrame strongly references its session,
    * so a strong value would pin the weak key forever (the documented
    * WeakHashMap trap) and a serving host minting per-request
    * `newSession()`s would accumulate one stratum per session for the
    * JVM's lifetime (r14 verdict #5). A collected entry rebuilds via
    * the (pure, repeat-invocation-silent — PreparedSuite) builder:
    * driver-only work, no Spark jobs. Callers that time repeat
    * executions go through Bench.warmPin + Bench.timeCount (Bench's
    * sweep, CrossoverProbe and ScaleSweep via CrossoverProbe.timeShapes),
    * which pin the warm-built plans strongly for the sweep's duration so
    * a GC can't inject a rebuild into a timed sample. */
  private val cache = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String),
      java.lang.ref.WeakReference[DataFrame]]]()

  private def stratum(spark: SparkSession) = cache.synchronized {
    var m = cache.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[(String, String),
        java.lang.ref.WeakReference[DataFrame]]()
      cache.put(spark, m)
    }
    m
  }

  /** Builders with per-invocation side effects (the work IS the
    * query). DECLARED AT THE OWNING MODULE (r13 verdict: a future
    * write-path query added to a family but not to a central list here
    * would be silently memoized into a no-op timing) — each family
    * exports `sideEffecting` next to its `queries` map and SparkEntry
    * unions them; PreparedSuite pins behaviorally that every
    * undeclared builder is re-invocation-silent (zero jobs, zero new
    * scratch dirs on a repeat build). */
  def sideEffecting: Set[String] = graft.SparkEntry.sideEffecting

  /** The memoized (or, for side-effecting builders, fresh) DataFrame
    * for a SURVEY §2 query key. Thread-safe; concurrent first callers
    * block on one fill (ConcurrentHashMap.compute holds the bin lock
    * for the build). Builders must never call back into `df`: a
    * nested compute on this map can deadlock on a shared bin. Every
    * caller today is harness-level (Bench/Verify/probes). */
  def df(spark: SparkSession, sf: String, name: String): DataFrame = {
    val build = graft.SparkEntry.queries(name)
    if (sideEffecting(name)) build(spark, sf)
    else {
      var out: DataFrame = null
      stratum(spark).compute((sf, name), (_, ref) => {
        val live = if (ref == null) null else ref.get
        out = if (live != null) live else build(spark, sf)
        new java.lang.ref.WeakReference(out)
      })
      out
    }
  }
}

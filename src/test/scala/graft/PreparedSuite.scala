package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Contract of the prepared-statement surface (api/Prepared): pure
  * builders memoize per (session, sf, query); side-effecting builders
  * never do; and — the honesty invariant the bench rests on — an
  * action on the memoized DataFrame still RUNS the query (fresh
  * QueryExecution, fresh shuffle ids), it only skips builder+analysis.
  */
class PreparedSuite extends SparkTestBase {

  test("pure queries return the same DataFrame object on repeat calls") {
    val a = api.Prepared.df(spark, sf, "agg_q1_pricing")
    val b = api.Prepared.df(spark, sf, "agg_q1_pricing")
    assert(a eq b, "prepared lookup rebuilt a pure query")
    // distinct sf → distinct prepared plan
    val c = api.Prepared.df(spark, sf01, "agg_q1_pricing")
    assert(!(a eq c), "prepared cache conflated scale factors")
  }

  test("side-effecting builders are never memoized") {
    // scan_csv_roundtrip writes a fresh scratch copy per call — the
    // write IS the query; memoizing it would time a no-op.
    val a = api.Prepared.df(spark, sf, "scan_csv_roundtrip")
    val b = api.Prepared.df(spark, sf, "scan_csv_roundtrip")
    assert(!(a eq b), "side-effecting builder was memoized")
    assert(api.Prepared.sideEffecting("ev_tumbling_stream") &&
      api.Prepared.sideEffecting("scan_compact"),
      "exclusion set lost a side-effecting query")
    assert(api.Prepared.sideEffecting.forall(SparkEntry.queries.contains),
      "exclusion set names a query that no longer exists")
  }

  test("prepared cache is per-session, not per-application") {
    // newSession() shares the SparkContext (same applicationId) but has
    // its own conf and function registry — an applicationId-keyed cache
    // would hand it a DataFrame bound to the ORIGINAL session, whose
    // actions then run under that session's conf (r13 advice, medium).
    val s2 = spark.newSession()
    GraftSession(s2)
    val a = api.Prepared.df(spark, sf, "agg_q1_pricing")
    val b = api.Prepared.df(s2, sf, "agg_q1_pricing")
    assert(!(a eq b), "prepared cache conflated sessions sharing a context")
    assert(b.sparkSession eq s2, "prepared plan bound to the wrong session")
    assert(a.sparkSession eq spark, "original session lost its own binding")
  }

  test("a discarded session's prepared stratum is collectable (serving-host leak guard)") {
    // r14 verdict #5: the cache once held strong session keys for the
    // JVM's lifetime — correct for the bench/verify processes, but a
    // long-lived host minting `newSession()` per request (the serving
    // pattern the API documents) would accumulate one stratum per
    // session forever. The GraftSession record holds the scan cache
    // and the prepared plans weakly; this pins that a session used
    // ONLY through the prepared surface becomes unreachable once the
    // caller drops it.
    def mint(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val s = spark.newSession()
      GraftSession(s)
      api.Prepared.df(s, sf, "agg_q1_pricing")
      new java.lang.ref.WeakReference(s)
    }
    val ref = mint()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    var i = 0
    while (ref.get != null && i < 100) { System.gc(); Thread.sleep(20); i += 1 }
    assert(ref.get == null,
      "prepared cache pinned a discarded session — a serving host " +
        "minting per-request sessions would accumulate strata forever")
  }

  test("prepared lookups stay memoized while the caller holds the plan") {
    // The weak-value flip side: memoization must still hold across a
    // GC when the caller retains the DataFrame (the bench's warm-pin
    // discipline) — a dropped-entry rebuild here would break `a eq b`.
    val a = api.Prepared.df(spark, sf, "agg_q1_pricing")
    System.gc()
    val b = api.Prepared.df(spark, sf, "agg_q1_pricing")
    assert(a eq b, "a GC evicted a prepared plan the caller still holds")
  }

  test("bloom's conf-scoped clone is per-parent-session (r14 advice)") {
    // An applicationId-keyed clone cache would hand every session
    // sharing the SparkContext a single clone built from the FIRST
    // caller's newSession() — the same conflation hazard the prepared
    // cache fixed. Two parents must get two clones, each a child of
    // its own parent's context but a distinct session.
    val s2 = spark.newSession()
    GraftSession(s2)
    val d1 = operators.Joins.joinBloomPrune(spark, sf)
    val d2 = operators.Joins.joinBloomPrune(s2, sf)
    assert(!(d1.sparkSession eq d2.sparkSession),
      "two parent sessions shared one conf-scoped bloom clone")
    // and the clone is memoized per parent, not re-minted per call
    val d1b = operators.Joins.joinBloomPrune(spark, sf)
    assert(d1.sparkSession eq d1b.sparkSession,
      "repeat bloom builds minted a fresh clone for the same parent")
  }

  test("every UNdeclared builder is repeat-invocation-silent (the declaration-site convention)") {
    // The hazard (r13 verdict #2): a future write-path builder not in
    // its family's `sideEffecting` set would be memoized and its timed
    // samples would measure a no-op re-count of the first invocation's
    // scratch output. Behavioral pin: after a warm build (FitOnce
    // caches filled), a SECOND raw build of every query NOT declared
    // side-effecting must launch zero Spark jobs and allocate zero new
    // scratch dirs — i.e. memoizing it changes nothing it measures.
    val pure = (SparkEntry.queries.keySet -- api.Prepared.sideEffecting)
      .toSeq.sorted
    pure.foreach(n => SparkEntry.queries(n)(spark, sf))
    // Drain the async listener bus deterministically (r14 advice: the
    // former fixed sleeps could let a late-delivered warm-loop job
    // event land inside the measured window under CI load): events
    // still queued here would be delivered to the listener added below
    // and counted as measured-loop jobs.
    org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    val scratch0 = Tables.scratchAllocs.get
    spark.sparkContext.addSparkListener(l)
    val offenders = try {
      // Per-query deltas are DIAGNOSTIC attribution only (the async
      // bus can land a job event in the next query's window); the
      // binding assertion is the drained sweep total below.
      val perQuery = pure.map { n =>
        val j0 = jobs.get; val s0 = Tables.scratchAllocs.get
        SparkEntry.queries(n)(spark, sf)
        n -> ((jobs.get - j0) + (Tables.scratchAllocs.get - s0))
      }
      // one deterministic bus drain for the whole sweep
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      perQuery.filter(_._2 > 0).map(_._1) ++
        (if (jobs.get > 0 || Tables.scratchAllocs.get > scratch0)
          Seq(s"(sweep total: jobs=${jobs.get}, " +
            s"scratch=${Tables.scratchAllocs.get - scratch0})")
         else Seq.empty)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(offenders.isEmpty,
      s"builders with undeclared per-invocation side effects: $offenders — " +
        "declare them in the owning family's sideEffecting set")
    // Validate the guard FIRES (both-ways rule): a declared write-path
    // builder allocates fresh scratch on every call.
    val s0 = Tables.scratchAllocs.get
    SparkEntry.queries("scan_csv_roundtrip")(spark, sf)
    assert(Tables.scratchAllocs.get > s0,
      "scratch counter failed to observe a declared write-path build — " +
        "the convention pin above is not actually armed")
  }

  test("a corpus table and a path read of the same file share one cached scan") {
    // Tables' loaders and readCached key on the parquet path, so a
    // read-back of a corpus file reuses the loader's scan and starts no
    // schema-inference job.
    val s2 = spark.newSession()
    val t = Tables.lineitem(s2, sf)
    org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val r = try {
      val df = Tables.readCached(s2, s"$sf/lineitem.parquet")
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      df
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0, s"path read of a loaded table started ${jobs.get} job(s)")
    assert(r eq t, "path read rebuilt the loader's scan")
  }

  test("memoized re-count matches a fresh build and actually runs jobs") {
    val name = "join_5way_q5"
    val fresh = SparkEntry.queries(name)(spark, sf).count()
    val memo = api.Prepared.df(spark, sf, name)
    memo.count() // first action on the memoized object
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        { tasks.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val again = memo.count()
      org.apache.spark.GraftTestHooks.drainListenerBus(spark.sparkContext)
      assert(again == fresh, "memoized result diverged from fresh build")
      // The anti-pattern this guards: re-using a cached QueryExecution
      // would let the scheduler skip completed shuffle map stages and
      // "time" only the result stage. A fresh count() on the memoized
      // Dataset must schedule real tasks every call.
      assert(tasks.get() > 0,
        "re-count on the memoized DataFrame scheduled zero tasks — " +
          "the timed path is no longer executing the query")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

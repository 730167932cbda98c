package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Concurrency contract of the fit-once layer (r17 verdict #4): the
  * "fit once per session, serve many" story is load-bearing in a dozen
  * operator scaladocs but was only exercised by a free-running race.
  * These cases use DETERMINISTIC interleavings (latches, not sleeps):
  *
  *  - single-fill: racing first callers on one key run the fill exactly
  *    once; late callers block until it completes and all observe the
  *    one result;
  *  - per-key isolation: a blocked fill on one key does not serialize
  *    an independent key, and no caller is ever served another key's
  *    value (the stale-path cross-serve);
  *  - cleanup isolation: an external scratch-dir cleanup racing a fill
  *    (the tmp-cleaner scenario) cannot disturb it — every fill owns a
  *    fresh private tempdir, pinned by deleting a completed sibling
  *    fit's scratch while another fill is mid-write;
  *  - session multiplexing: two SparkSessions over one context racing
  *    the fit-backed query families (ANN, dedup, graph, bucketed join)
  *    re-fit NOTHING once warm (scratch-allocation counter is flat) and
  *    match their serial results row for row;
  *  - nesting and failure: a fill may fill other keys of the same
  *    store, re-entering its own key throws, and a failed scratch fill
  *    leaves neither its directory nor an entry behind.
  */
class FitOnceSuite extends SparkTestBase {

  test("racing first callers fill exactly once and all see the one result") {
    val fo = new FitOnce[String, String]
    val fills = new AtomicInteger(0)
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(9)
    try {
      // 8 racers on "a": the first computeIfAbsent wins the bin lock and
      // runs the fill; it parks on `release` so the interleaving is
      // pinned — every other racer is provably concurrent, not late.
      val racers = (1 to 8).map { i =>
        pool.submit(new Callable[String] {
          def call(): String = fo("a") {
            fills.incrementAndGet()
            entered.countDown()
            release.await(60, TimeUnit.SECONDS)
            "fitted-a"
          }
        })
      }
      assert(entered.await(30, TimeUnit.SECONDS), "no racer entered the fill")
      // Independent key on an independent hash bin ("a"->bin1, "b"->bin2
      // under CHM's spread at default capacity): must complete WHILE
      // key "a"'s fill is still parked — fills are per-key, not global.
      val b = pool.submit(new Callable[String] {
        def call(): String = fo("b")("fitted-b")
      })
      assert(b.get(30, TimeUnit.SECONDS) == "fitted-b",
        "independent key blocked behind an unrelated in-flight fill")
      assert(fills.get() == 1, s"racing callers ran the fill ${fills.get()} times")
      release.countDown()
      racers.foreach(r => assert(r.get(30, TimeUnit.SECONDS) == "fitted-a",
        "a racer observed something other than the single fill's result"))
      assert(fills.get() == 1, "a late caller re-ran the fill after completion")
      // The fitted value is served without re-fill forever after.
      assert(fo("a")(fail("refit after completion")) == "fitted-a")
    } finally pool.shutdown()
  }

  test("concurrent fills on distinct keys never cross-serve") {
    val fo = new FitOnce[Int, String]
    val pool = Executors.newFixedThreadPool(16)
    try {
      val start = new CountDownLatch(1)
      val futs = (0 until 64).map { i =>
        val k = i % 16
        pool.submit(new Callable[(Int, String)] {
          def call(): (Int, String) = {
            start.await(30, TimeUnit.SECONDS)
            (k, fo(k)(s"v$k"))
          }
        })
      }
      start.countDown()
      futs.foreach { f =>
        val (k, v) = f.get(30, TimeUnit.SECONDS)
        assert(v == s"v$k", s"key $k was cross-served $v")
      }
    } finally pool.shutdown()
  }

  test("an external cleanup of a finished fit's scratch cannot disturb an in-flight fill") {
    import org.apache.spark.sql.functions._
    // Fit 1 completes and its scratch parquet exists; fit 2 starts
    // writing; BETWEEN fit 2's start and its write (latch-pinned) the
    // cleanup deletes fit 1's dir wholesale. Fit 2's artifact and
    // read-back must be unaffected: scratch dirs are private per fill
    // (Files.createTempDirectory), so no cleanup of one can alias
    // another. This is the tmp-cleaner interleaving, made deterministic.
    val fo = new FitOnce[String, String]
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val p1 = fo("fit1") {
      val d = Tables.scratchDir("graft_fitonce_t_").resolve("out").toString
      df.write.parquet(d); d
    }
    assert(spark.read.parquet(p1).count() == 100)
    val fillStarted = new CountDownLatch(1)
    val cleanupDone = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fit2 = pool.submit(new Callable[String] {
        def call(): String = fo("fit2") {
          val d = Tables.scratchDir("graft_fitonce_t_").resolve("out").toString
          fillStarted.countDown()
          assert(cleanupDone.await(60, TimeUnit.SECONDS), "cleanup never ran")
          df.write.parquet(d); d
        }
      })
      assert(fillStarted.await(30, TimeUnit.SECONDS))
      // The "cleaner": remove fit 1's whole scratch root mid-fill-2.
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm)
        f.delete(): Unit
      }
      rm(java.nio.file.Paths.get(p1).getParent.toFile)
      cleanupDone.countDown()
      val p2 = fit2.get(60, TimeUnit.SECONDS)
      assert(spark.read.parquet(p2).count() == 100,
        "in-flight fill's artifact was disturbed by a sibling cleanup")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1)),
        "test setup: fit1's scratch should be gone")
    } finally pool.shutdown()
  }

  test("a nested chain of 24 keys on one instance fills each key exactly once") {
    // Every fill fills the next key down the chain on the SAME
    // instance, as the q3/q5 dim fill measures its gate and the IVF
    // assignment trains its centroids in the one store. A fill run
    // inside ConcurrentHashMap.computeIfAbsent fails this with
    // "Recursive update".
    val fo = new FitOnce[String, Int]
    val fills = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    def fit(i: Int): Int = fo(s"k$i") {
      fills.computeIfAbsent(s"k$i", _ => new AtomicInteger).incrementAndGet()
      if (i == 0) 0 else fit(i - 1) + 1
    }
    assert(fit(23) == 23)
    assert(fit(23) == 23 && fit(11) == 11, "a filled key was not served")
    assert((0 to 23).map(i => fills.get(s"k$i").get) == Seq.fill(24)(1),
      s"fill counts per key: $fills")
  }

  test("a failed scratch fill leaves no directory and no entry; the next call refits") {
    val scope = s"fitonce-suite-${System.nanoTime}"
    val df = spark.range(10).toDF("id")
    val fills = new AtomicInteger(0)
    var dirs = Seq.empty[java.nio.file.Path]
    def fit(fail: Boolean): String =
      FitOnce.scratch(spark, scope, "FitOnceSuite.out", "graft_fitonce_t_") { d =>
        fills.incrementAndGet()
        dirs :+= d
        val p = d.resolve("out").toString
        df.write.parquet(p)
        if (fail) throw new IllegalStateException("injected fill failure")
        p
      }
    val e = intercept[IllegalStateException](fit(fail = true))
    assert(e.getMessage == "injected fill failure")
    assert(dirs.size == 1 && !java.nio.file.Files.exists(dirs.head),
      s"the failed fill left ${dirs.head} on disk")
    val p = fit(fail = false)
    assert(fills.get == 2, "the failed fill left an entry: the next call did not refit")
    assert(spark.read.parquet(p).count() == 10)
    assert(fit(fail = true) == p && fills.get == 2, "the refit was not served")
  }

  test("a fill that re-enters its own key throws instead of hanging") {
    val fo = new FitOnce[String, Int]
    val pool = Executors.newSingleThreadExecutor()
    try {
      val f = pool.submit(new Callable[Int] {
        def call(): Int = fo("self")(fo("self")(1) + 1)
      })
      val e = intercept[java.util.concurrent.ExecutionException](
        f.get(30, TimeUnit.SECONDS))
      assert(e.getCause.isInstanceOf[IllegalStateException], s"threw ${e.getCause}")
      assert(fo("self")(7) == 7, "the failed re-entrant fill left an entry")
    } finally pool.shutdownNow()
  }

  test("scratch dirs share one shutdown hook") {
    val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
    f.setAccessible(true)
    def hooks: Int = f.get(null).asInstanceOf[java.util.Map[_, _]].size
    Tables.dropScratch(Tables.scratchDir("graft_fitonce_t_"))
    val before = hooks
    (1 to 3).foreach(_ => Tables.dropScratch(Tables.scratchDir("graft_fitonce_t_")))
    assert(hooks == before, s"shutdown hooks grew from $before to $hooks")
  }

  test("two sessions racing the fit-backed families re-fit nothing once warm") {
    // llm_ann_ivf (k-means fit), llm_near_dedup (signature checkpoint),
    // graph_pagerank (adjacency checkpoint), join_bucketed (bucketed
    // lake) — each keyed (applicationId, sf), so a second session over
    // the same context must SHARE the fits, and a warm race must
    // allocate zero new scratch dirs (a nonzero delta means a racing
    // caller re-fit or a stale path was rebuilt).
    val names = Seq("llm_ann_ivf", "llm_near_dedup", "graph_pagerank",
      "join_bucketed")
    def rows(s: org.apache.spark.sql.SparkSession, n: String): Seq[String] =
      SparkEntry.queries(n)(s, sf).collect().map(_.toString).sorted.toSeq
    val serial = names.map(n => n -> rows(spark, n)).toMap   // warms all fits
    val other = spark.newSession()
    val before = Tables.scratchAllocs.get()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futs = for (s <- Seq(spark, other); n <- names) yield
        (n, pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = rows(s, n)
        }))
      futs.foreach { case (n, f) =>
        assert(f.get(300, TimeUnit.SECONDS) == serial(n),
          s"$n diverged across sessions under a warm race")
      }
    } finally pool.shutdown()
    val delta = Tables.scratchAllocs.get() - before
    assert(delta == 0,
      s"warm cross-session race allocated $delta new scratch dirs — a fit re-ran")
  }

  // -------------------------------------------------------------------
  // r18 advice (high): tfidfTopTerms' fit key must carry DATA identity,
  // not just plan shape — two same-schema corpora in one application
  // collided on the canonical-plan hash and the second was served the
  // first corpus's materialized TF artifact.
  // -------------------------------------------------------------------

  test("tfidfTopTerms on two same-schema local corpora does not cross-serve") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta alpha"), (2L, "beta beta alpha zeta"))
      .toDF("id", "text")
    val b = Seq((1L, "gamma delta gamma"), (2L, "delta delta epsilon"))
      .toDF("id", "text")
    val ta = graft.api.GraftOps.tfidfTopTerms(a, "id", "text", 3).collect()
    val tb = graft.api.GraftOps.tfidfTopTerms(b, "id", "text", 3).collect()
    val termsA = ta.map(_.getAs[String]("term")).toSet
    val termsB = tb.map(_.getAs[String]("term")).toSet
    assert(termsA.subsetOf(Set("alpha", "beta", "zeta")), s"corpus A terms: $termsA")
    assert(termsB.subsetOf(Set("gamma", "delta", "epsilon")),
      s"corpus B was served a stale TF artifact — terms: $termsB")
    // df must come from corpus B's own document frequencies: delta is
    // in both B docs (df=2), gamma/epsilon in one each (df=1).
    val dfByTerm = tb.map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(dfByTerm.get("delta").contains(2L) &&
      dfByTerm.get("gamma").contains(1L),
      s"corpus B document frequencies are stale: $dfByTerm")
    // Same local frame again: identical rows (the local-data hash is
    // deterministic, so the fit is served, not re-run — and even a
    // re-fit must reproduce the rows bit-for-bit).
    val tb2 = graft.api.GraftOps.tfidfTopTerms(b, "id", "text", 3).collect()
    assert(tb2.map(_.toString).toSeq == tb.map(_.toString).toSeq)
  }

  test("tfidfTopTerms parquet identity: same path reuses the fit, sibling path refits") {
    import spark.implicits._
    val root = Tables.scratchDir("graft_tfid_id_")
    val p1 = root.resolve("c1").toString
    val p2 = root.resolve("c2").toString
    Seq((1L, "red blue red"), (2L, "blue blue green")).toDF("id", "text")
      .write.parquet(p1)
    Seq((1L, "cyan teal cyan"), (2L, "teal teal navy")).toDF("id", "text")
      .write.parquet(p2)
    val r1 = graft.api.GraftOps
      .tfidfTopTerms(spark.read.parquet(p1), "id", "text", 2).collect()
    val before = Tables.scratchAllocs.get()
    // A fresh read of the SAME path is a new plan object but the same
    // data identity — the materialized TF must be served, not re-fit.
    val r1b = graft.api.GraftOps
      .tfidfTopTerms(spark.read.parquet(p1), "id", "text", 2).collect()
    assert(Tables.scratchAllocs.get() == before,
      "re-reading the same parquet path re-materialized the TF artifact")
    assert(r1b.map(_.toString).toSeq == r1.map(_.toString).toSeq)
    // The sibling path has the same schema and the same plan shape —
    // only the rootPaths differ. It must fit ITS OWN artifact.
    val r2 = graft.api.GraftOps
      .tfidfTopTerms(spark.read.parquet(p2), "id", "text", 2).collect()
    val terms2 = r2.map(_.getAs[String]("term")).toSet
    assert(terms2.subsetOf(Set("cyan", "teal", "navy")),
      s"sibling-path corpus was served the first corpus's TF: $terms2")
  }

  test("tfidfTopTerms with no stable leaf identity fits fresh and never caches") {
    // OneRowRelation (spark.sql with no FROM) has no data identity —
    // leafDataIdentity must refuse, and tfidfTopTerms must still
    // answer correctly by fitting fresh per call.
    val q = spark.sql("SELECT 1 AS id, 'solo solo uno' AS text")
    assert(graft.api.GraftOps.leafDataIdentity(q.queryExecution.analyzed).isEmpty,
      "OneRowRelation should have no stable identity")
    val before = Tables.scratchAllocs.get()
    val r1 = graft.api.GraftOps.tfidfTopTerms(q, "id", "text", 2).collect()
    val r2 = graft.api.GraftOps.tfidfTopTerms(q, "id", "text", 2).collect()
    assert(Tables.scratchAllocs.get() - before >= 2,
      "an unidentifiable frame was cached — stale-serve risk")
    assert(r1.map(_.getAs[String]("term")).toSet == Set("solo", "uno"))
    assert(r2.map(_.toString).toSeq == r1.map(_.toString).toSeq)
  }

  test("leafDataIdentity distinguishes data, not just schema") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "text")
    val b = Seq((1L, "y")).toDF("id", "text")
    val ia = graft.api.GraftOps.leafDataIdentity(a.queryExecution.analyzed)
    val ib = graft.api.GraftOps.leafDataIdentity(b.queryExecution.analyzed)
    assert(ia.isDefined && ib.isDefined && ia != ib,
      s"same-schema local corpora share an identity: $ia")
    val pq = spark.read.parquet(s"$sf/documents.parquet")
    val ip = graft.api.GraftOps.leafDataIdentity(pq.queryExecution.analyzed)
    assert(ip.exists(_.contains("documents.parquet")),
      s"parquet identity should carry the root path: $ip")
  }
}

package graft

/** Partition-count invariance certificate. The oracle gate only ever
  * runs at 4 shuffle partitions (Verify, local[4]) while the timed
  * sweep runs at 32 (Bench, local[32]) — so a result that depends on
  * partitioning (an under-specified tie-break, an arrival-order
  * window, a per-partition id) would pass the gate and silently time
  * DIFFERENT answers than were scored. The determinism rules (D1–D11)
  * exist to make that impossible; this suite pins them behaviorally:
  * a representative batch query per family re-runs in a sibling
  * session (`newSession` — same SparkContext, separate SQLConf) with
  * a prime shuffle-partition count and must collect the EXACT same
  * rows in the EXACT same order (the driver's compare is
  * order-sensitive). Streaming entries are excluded: their
  * checkpoints are keyed per application, so a sibling session
  * trivially replays the same committed output. */
class DeterminismSuite extends SparkTestBase {

  private val sample = Seq(
    "agg_q1_pricing",     // decimal-exact aggregate
    "agg_argmax",         // struct-max tie-break
    "win_rfm_segment",    // global ntile with custkey tiebreak (D3)
    "win_topk_per_group", // custom heap exec vs window semantics
    "topk_limit",         // TakeOrderedAndProject under AQE
    "join_5way_q5",       // multi-join + agg
    "join_salted_skew",   // salted two-phase agg must re-merge cleanly
    "ev_session",         // session_window assembly
    "ev_dedup",           // keep-first row_number dedup
    "llm_exact_dedup",    // digest-keyed dedup keeper choice
    "llm_near_dedup",     // LSH banding + exact-Jaccard verify
    "llm_ann_ivf",        // k-means fit + cell pair search
    "llm_langid",         // top-20 marker extraction tie-breaks
    "llm_seq_pack",       // partitioned cumsum packing
    "set_except_all",     // multiset semantics
    "fn_hash")            // hash family raw values

  private def assertSameRows(label: String, alt: org.apache.spark.sql.SparkSession): Unit = {
    GraftSession(alt)
    for (name <- sample) {
      val base = SparkEntry.queries(name)(spark, sf).collect()
      val other = SparkEntry.queries(name)(alt, sf).collect()
      assert(base.length == other.length,
        s"$name: row count differs under $label " +
          s"(${base.length} vs ${other.length})")
      base.zip(other).zipWithIndex.foreach { case ((b, o), i) =>
        assert(b == o,
          s"$name: row $i differs under $label:\n base: $b\n  alt: $o")
      }
    }
  }

  test("results are shuffle-partition-count invariant (Verify@4 vs Bench@32)") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "13")
    assertSameRows("13 shuffle partitions", alt)
  }

  /** AQE is a timing decision, not a semantic one: Bench and Verify run
    * with it on, and a deployment may turn it off. Runtime re-planning
    * (coalesced exchanges, switched join strategies) must never reach
    * row values or order. */
  test("results are AQE-invariant (the bench AQE knob changes timing only)") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.adaptive.enabled", "false")
    assertSameRows("AQE off", alt)
  }
  test("money doubles are exactly 2-dp — the dec()/cents-sum precondition") {
    // D2/D7 cast raw doubles to DECIMAL(12,2) and ev_tumbling sums in
    // integer cents; BOTH are exact only because every money-ish
    // double in the corpus is an exact 2-dp value (measured once in
    // r1, relied on ever since). A corpus regeneration that ships
    // >2-dp values would make those paths silently lossy — this gate
    // makes the precondition fail loudly instead. sf0.001 suffices:
    // all SFs come from one generator.
    import org.apache.spark.sql.functions.expr
    val checks = Seq(
      "events" -> "value", "lineitem" -> "l_extendedprice",
      "lineitem" -> "l_quantity", "lineitem" -> "l_discount",
      "lineitem" -> "l_tax", "orders" -> "o_totalprice",
      "customer" -> "c_acctbal", "supplier" -> "s_acctbal",
      "part" -> "p_retailprice")
    // Threshold 1e-3 (in x·100 units): a genuine 3rd decimal digit
    // shifts x·100 by ≥ 0.1, while double-representation noise of an
    // exact 2-dp value stays ≤ ulp(x·100)/2 ≈ 4e-9 even at the
    // corpus' largest magnitudes (measured max 3.7e-9 on
    // o_totalprice ~3e5 — a 1e-9 first cut false-flagged exactly
    // that). Orders of magnitude of separation on both sides.
    checks.foreach { case (t, c) =>
      val bad = spark.read.parquet(s"$sf/$t.parquet")
        .filter(expr(s"abs($c * 100 - round($c * 100)) > 1e-3")).count()
      assert(bad == 0,
        s"$t.$c carries non-2-dp values - dec()/cents-sum preconditions broken")
    }
  }

}

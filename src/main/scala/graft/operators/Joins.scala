package graft.operators

import graft.{GraftSession, Tables}
import graft.Tables.{dec, rate, tsLit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3): equi/broadcast/multi-way/outer/
  * semi/anti/theta-range/as-of/cross.
  *
  * Scale notes: dimension tables (region/nation/part/supplier) are
  * explicitly broadcast so the fact-side never shuffles for them; the
  * big fact⋈fact joins shuffle on their equi keys, which AQE re-plans
  * at runtime (skew split, partition coalescing). The theta/range and
  * as-of joins pre-aggregate / pre-filter their inputs so the
  * quadratic part runs on bounded per-key groups, not raw fact tables.
  */
object Joins {

  /** Plain equi inner join orders⋈customer — Catalyst picks the
    * physical strategy (SMJ/shuffled-hash/broadcast by stats). */
  def joinInner2Way(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Explicit broadcast of the part dimension: no shuffle of lineitem,
    * map-side hash join at any fact-table scale. part itself scales
    * with SF (≈ SF × 20 k rows), so like every SF-scaling side the
    * hint applies only below the measured BYTE cap ([[Gates]] — part
    * carries two string columns, so a row cap tuned for 2-column dims
    * would admit ~6× the bytes here); past it the join degrades to the
    * shuffle join AQE picks. */
  def joinBroadcast(spark: SparkSession, sf: String): DataFrame =
    joinBroadcastPlan(spark, sf, Gates.BroadcastByteCap)

  private[graft] def joinBroadcastPlan(spark: SparkSession, sf: String,
      broadcastByteCap: Long): DataFrame = {
    val l = Tables.lineitem(spark, sf)
    val p = Tables.part(spark, sf)
    val pGated = Gates.gatedBroadcast(spark, sf, "part_dim", broadcastByteCap)(p)
    l.join(pGated, l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("p_brand")
  }

  /** TPC-H-Q5-style 6-table chain with region filter, under the
    * fact-stream discipline (same as [[SortSet.q3RevenuePlan]]):
    * lineitem is the FACT and must be the streamed probe, never a
    * broadcast build. The r1–r7 shape (`o⨝c⨝l`) let Catalyst hash the
    * pruned 600 k-row lineitem scan as the build side of every probe
    * — under the auto-broadcast estimate at sf0.1, and exactly the
    * relation that stops fitting first at real SF. Here the fact is
    * the left/streamed side throughout and the SF-scaling sides
    * (customer, the orders⨝customer dim, supplier — all ∝ SF) carry
    * the broadcast hint only below the measured byte cap; nation (25)
    * and region (5) are fixed-size and stay unconditional. Past the
    * cap the fold degrades to the shuffle join AQE picks — PlanSuite
    * pins both sides of the gate and that no BroadcastExchange ever
    * contains the lineitem scan. */
  def join5WayQ5(spark: SparkSession, sf: String): DataFrame =
    join5WayQ5Plan(spark, sf, SortSet.BroadcastDimCap)

  /** The dim BUILD's join plan (pre-checkpoint), parameterized on the
    * broadcast gate — same PlanSuite-visibility rationale as
    * [[SortSet.q3DimPlan]]: timed runs only scan the checkpoint, so the
    * `q5_cust` gate is pinned through this function instead. */
  private[graft] def q5DimPlan(spark: SparkSession, sf: String,
      broadcastByteCap: Long): DataFrame = {
    // The ASIA region predicate is pushed INTO the dim build (a
    // broadcast semi against the fixed 25-row nation ⨝ region): Q5's
    // region filter reaches customers only through the join graph, so
    // Catalyst cannot push it statically, and an unfiltered dim is 5×
    // the rows for entries that can never match. The ×100 crossover
    // corpus made the cost concrete: a 15M-row dim passed the 256 MB
    // byte gate and every one of 60M fact rows probed its ~360 MB
    // hashed relation (cache-miss per probe). Filtered, the dim is 5×
    // smaller at every SF and the gate trips 5× later. The semi's
    // broadcast side is nation⨝region — fixed-size, hinted
    // unconditionally like the fold's own nation/region joins.
    val asiaNations = Tables.nation(spark, sf)
      .join(broadcast(Tables.region(spark, sf)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val c = Tables.customer(spark, sf)
      .join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"), "left_semi")
    val o = Tables.orders(spark, sf)
    val cGated = Gates.gatedBroadcast(spark, sf, "q5_cust", broadcastByteCap)(c)
    o.join(cGated, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
  }

  /** The orders⨝customer Q5 dim (o_orderkey, c_nationkey),
    * checkpointed to scratch parquet once per (session, sf) — same
    * fit-once discipline (and same rationale) as [[SortSet.q3Dim]]:
    * the subtree is a pure function of (session, sf), rebuilt on
    * every invocation otherwise. Built with the default gate — the
    * cap changes plan shape, never rows. */
  private def q5Dim(spark: SparkSession, sf: String): DataFrame =
    graft.FitOnce.checkpoint(spark, sf, "Joins.q5dim", "graft_q5dim_", "dim")(
      q5DimPlan(spark, sf, SortSet.BroadcastDimCap))

  /** The join fold, parameterized on the broadcast gate so PlanSuite
    * can pin the plan on BOTH sides of the threshold. */
  private[graft] def join5WayQ5Plan(spark: SparkSession, sf: String,
      broadcastByteCap: Long): DataFrame = {
    val l = Tables.lineitem(spark, sf)
    val s = Tables.supplier(spark, sf)
    val n = Tables.nation(spark, sf)
    val r = Tables.region(spark, sf).filter(col("r_name") === "ASIA")
    def gate(tag: String)(df: DataFrame): DataFrame =
      Gates.gatedBroadcast(spark, sf, tag, broadcastByteCap)(df)
    // Join ORDER is selectivity-first (the ×100 crossover finding):
    // supplier (small map, cache-resident probes) then the fixed
    // nation ⨝ region-ASIA pair cut the fact stream to ~1/5 BEFORE it
    // probes the big orders⨝customer dim — the one SF-scaling hashed
    // relation. The dim join carries the c_nationkey = s_nationkey
    // equi-condition (same inner-join conjunction, relocated).
    l.join(gate("q5_supp")(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(gate("q5_dim")(q5Dim(spark, sf)),
        col("l_orderkey") === col("o_orderkey")
          && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** Left outer join with null-extension: per-customer order stats,
    * customers with no orders keep count 0 / null sum. */
  def joinLeft(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("order_cnt"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy("c_custkey")
  }

  /** Full outer join on intersecting key domains: right-only rows get
    * null supplier columns; null ordering is explicit (D4). */
  def joinFull(spark: SparkSession, sf: String): DataFrame = {
    val s = Tables.supplier(spark, sf)
    val c = Tables.customer(spark, sf)
    s.join(c, s("s_suppkey") === c("c_custkey"), "full_outer")
      .select(col("s_suppkey"), col("s_name"), col("c_custkey"), col("c_name"))
      .orderBy(asc_nulls_first("s_suppkey"), asc_nulls_first("c_custkey"))
  }

  /** Left-semi: customers WITH at least one order (EXISTS). */
  def joinSemi(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti: customers WITHOUT orders (NOT EXISTS — not NOT IN,
    * which has the null trap). */
  def joinAnti(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Non-equi range join over pre-aggregated daily event counts: the
    * quadratic BNLJ runs on ~30 rows per side, not 100k events —
    * the aggregate-first shape is the 100 TB scale path.
    *
    * The build side is explicitly broadcast (BroadcastNestedLoopJoin
    * over the ~30-row aggregate) instead of the round-2 `.cache()` of
    * the shared lineage: no cached RDD lingers after the query (the
    * teardown test pins this), at the price of aggregating events
    * twice — two cheap keyed scans beat a persistent cache slot that
    * nothing releases. */
  def joinThetaRange(spark: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(spark, sf)
      .groupBy(Tables.ntz(date_trunc("day", col("ts2"))).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.select(col("d").as("a_d"), col("cnt").as("a_cnt"))
    val b = daily.select(col("d").as("b_d"), col("cnt").as("b_cnt"))
    a.join(broadcast(b), col("b_d") >= col("a_d")
        && col("b_d") <= col("a_d") + expr("INTERVAL 3 DAYS"))
      .groupBy(col("a_d"))
      .agg(count(lit(1)).as("ndays"), sum(col("b_cnt")).as("cnt4"))
      .orderBy("a_d")
  }

  /** Bucketed interval join — the scale path for event-level range
    * joins that joinThetaRange's aggregate-first BNLJ cannot express:
    * for each purchase, count same-user clicks in the preceding hour.
    * The range condition is decomposed into an equi-join on (user_id,
    * hour bucket): each click is exploded into its own bucket and the
    * next (covering every purchase whose 1-hour look-back can reach
    * it), the join is keyed hash-parallel, and the exact window
    * predicate filters inside the join condition. 2× click fan-out
    * buys a pure equi-shuffle — no nested loop at any scale. */
  def joinRangeBucket(spark: SparkSession, sf: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = Tables.events(spark, sf).withColumn("us", expr("ts div 1000"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("us").as("p_us"),
        (col("us") - (col("us") % hourUs)).as("p_bk"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("us").as("c_us"),
        (col("us") - (col("us") % hourUs)).as("c_bk"))
      .withColumn("bk", explode(array(col("c_bk"), col("c_bk") + hourUs)))
    p.join(c,
        col("user_id") === col("c_uid") && col("p_bk") === col("bk")
          && col("c_us") >= col("p_us") - hourUs && col("c_us") <= col("p_us"),
        "left_outer")
      .groupBy(col("p_id"))
      .agg(count(col("c_us")).as("clicks_1h"))
      .orderBy("p_id")
  }

  /** As-of join: for each purchase event, the most recent click of the
    * same user at or before it. Spark has no native ASOF JOIN; the
    * range-join + row_number()=1 idiom is deterministic and shuffles
    * once on user_id. */
  def joinAsof(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts2").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
        col("ts2").as("c_ts"))
    val w = Window.partitionBy("p_id").orderBy(desc("c_ts"), desc("c_id"))
    p.join(c, col("user_id") === col("c_uid") && col("c_ts") <= col("p_ts"),
        "left_outer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("p_id", "user_id", "p_ts", "c_id", "c_ts")
      .orderBy("p_id")
  }

  /** Salted SKEWED join — the join-side twin of agg_salted_skew: every
    * events row carries one of only 5 event_type keys, so an unsalted
    * shuffle join lands 20% of the fact table on each of 5 reducers no
    * matter how many partitions exist. Salting replicates each dim row
    * across `S` salt values and gives each fact row a deterministic
    * hash salt, turning 5 hot keys into 5×S uniform cells. The dim is
    * hinted shuffle-hash (broadcast would hide the skew problem being
    * demonstrated — at real scale the dim that needs this is too big
    * to broadcast). Salting is invisible in the result, which the
    * plain-join oracle confirms. */
  def joinSaltedSkew(spark: SparkSession, sf: String): DataFrame = {
    val salts = 8
    val ev = Tables.events(spark, sf)
      .withColumn("_salt", pmod(xxhash64(col("event_id")), lit(salts)))
    // Derived 5-row dim with a computed attribute; a real deployment
    // would read it from a table — the join/salting shape is the same.
    val dim = Tables.events(spark, sf)
      .select(col("event_type").as("t")).distinct()
      .withColumn("t_len", length(col("t")))
      .withColumn("_s", explode(sequence(lit(0), lit(salts - 1))))
    ev.join(dim.hint("shuffle_hash"),
        col("event_type") === col("t") && col("_salt") === col("_s"))
      .groupBy(col("event_type"), col("t_len"))
      .agg(count(lit(1)).as("cnt"),
        sum(Tables.dec(col("value"))).cast("double").as("sum_val"))
      .orderBy("event_type")
  }

  /** Cartesian product of the two smallest dims. */
  def joinCross(spark: SparkSession, sf: String): DataFrame =
    Tables.region(spark, sf).select("r_name")
      .crossJoin(Tables.nation(spark, sf).select("n_name"))
      .orderBy("r_name", "n_name")

  /** Correlated LATERAL aggregate subquery — per customer, their order
    * count and max order price computed "for this row" in the
    * subquery. Catalyst DECORRELATES this into a plain aggregate +
    * equi-join (no per-row re-execution — the nested-loop reading is
    * the semantic model, not the plan), so it runs at the same cost as
    * writing the join by hand; a scalar-aggregate lateral produces
    * exactly one row per outer row, so zero-order customers surface
    * with cnt 0 / NULL max rather than disappearing. SQL entry point:
    * LATERAL has no Scala DSL surface. */
  def joinLateral(spark: SparkSession, sf: String): DataFrame = {
    Tables.customer(spark, sf).createOrReplaceTempView("customer")
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    spark.sql(
      "SELECT c_custkey, c_mktsegment, cnt, max_price " +
        "FROM customer, LATERAL (SELECT COUNT(o_orderkey) AS cnt, " +
        "MAX(o_totalprice) AS max_price FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey")
  }

  /** Correlated SCALAR subquery in the projection — the other half of
    * the decorrelation surface next to [[joinLateral]]'s FROM-clause
    * form: a per-row COUNT and a per-row semi-membership flag, both
    * referencing the outer key. Catalyst rewrites each into a left
    * outer / existence join on the correlation key before planning, so
    * the executed plan is two keyed joins against pre-aggregated
    * partials — no per-row re-execution, the only shape that survives
    * at scale. */
  def subqScalarCorr(spark: SparkSession, sf: String): DataFrame = {
    Tables.customer(spark, sf).createOrReplaceTempView("customer")
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    spark.sql(
      "SELECT c_custkey, " +
        "(SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders, " +
        "EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT') AS has_urgent " +
        "FROM customer ORDER BY c_custkey")
  }

  /** One-time bucketed-table registration per (session, sf): both
    * join sides written bucketed by the join key into session scratch
    * (external-table path, in-memory catalog) — the write-once cost a
    * lakehouse pays at ingest so every later join is co-located. */
  private def bucketedTables(spark: SparkSession, sf: String): (String, String) =
    graft.FitOnce.scratch(spark, sf, "Joins.bucketed", "graft_bkt_") { dir =>
      val tag = sf.replaceAll("[^a-zA-Z0-9]", "_")
      val (li, ord) = (s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag")
      Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite")
        .option("path", dir.resolve(li).toString)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(li)
      Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite")
        .option("path", dir.resolve(ord).toString)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ord)
      (li, ord)
    }

  /** Co-located bucketed join — the flagship shuffle-avoidance
    * technique at 100 TB: both sides pre-bucketed by the join key (the
    * ingest-time cost a lakehouse pays once), so the fact-fact
    * SortMergeJoin reads bucket i against bucket i with NO exchange on
    * either side — the plan property PlanSuite pins. The merge hint
    * keeps the demonstration honest at test scale (a 2-column orders
    * side would otherwise auto-broadcast, which bucketing is precisely
    * the escape from when both sides are fact-sized). Revenue math is
    * exact decimal (D7). */
  def joinBucketed(spark: SparkSession, sf: String): DataFrame = {
    val (li, ord) = bucketedTables(spark, sf)
    spark.table(li).hint("merge")
      .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Confs the bloom demo needs at PLAN time (exposed for PlanSuite):
    * the runtime-filter optimizer sizes its decision for cluster scans
    * (application side ≥ 10 GB by default), so the thresholds are
    * lowered to make the sf-scale demo take the 100 TB plan; broadcast
    * is disabled because a broadcast-able dim needs no bloom — the
    * target shape is a shuffle join whose fact side is pre-filtered. */
  private[graft] val bloomConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The join under the bloom runtime filter: lineitem ⋈ the urgent
    * orders, revenue-profiled per return flag. Catalyst's
    * InjectRuntimeFilter plants `might_contain(bloom(o_orderkey))` on
    * the LINEITEM SCAN — rows whose order key cannot be on the
    * filtered build side are dropped before the shuffle, which at
    * 100 TB is the difference between shuffling the whole fact table
    * and shuffling the ~20% that survives the semi-filter. The bloom
    * is a compact byte-array aggregate broadcast to every scan task
    * (false positives only cost shuffle rows; the join stays exact). */
  private[graft] def bloomJoinPlan(spark: SparkSession, sf: String): DataFrame = {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Scored wrapper. The returned DataFrame is deliberately BOUND to
    * the conf-scoped clone: a Dataset optimizes and executes under the
    * session that built it, the clone's bloom/broadcast overrides are
    * set once and never change, and the shared session's confs are
    * never touched (r5 advisory) — so the lazy plan is safe and every
    * action runs the REAL runtime-filtered join. (Until r14 this
    * builder materialized the join to scratch per call and returned
    * the read-back — an undeclared per-invocation side effect that the
    * r13 prepared path silently memoized, timing a re-scan of the
    * first call's output instead of the join. PlanSuite pins
    * `might_contain` on the plan.) */
  def joinBloomPrune(spark: SparkSession, sf: String): DataFrame = {
    // Cloned session: shares the SparkContext (and so the scratch
    // state) but owns its SQL conf — the bloom/broadcast overrides
    // can never leak into a query planned concurrently on the shared
    // session (r5 advisory). One clone per parent session, kept in the
    // parent's GraftSession record, so repeat builds never mint a fresh
    // session (plus its scan cache) per call.
    val scoped = GraftSession(spark).bloomSession {
      val s = spark.newSession()
      bloomConfs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    bloomJoinPlan(scoped, sf).orderBy("l_returnflag")
  }

  /** Dynamic partition pruning: supplier laid out one directory per
    * nation (the selective-dimension layout of scan_partitioned_prune,
    * session-cached), joined to the nation dim filtered to one region.
    * The filter sits on the DIM side — statically the fact scan has no
    * predicate — so Catalyst injects a dynamicpruning subquery into
    * the fact's PartitionFilters, reusing the dim broadcast: only the
    * ~5 of 25 nation directories that survive the region filter are
    * ever opened. At 100 TB this is partition-level I/O elimination
    * decided at RUN time — the lakehouse complement of the bloom
    * filter's row-level pruning (PlanSuite pins both). */
  def joinDppPrune(spark: SparkSession, sf: String): DataFrame = {
    val fact = Tables.readCached(spark, dppSupplierDir(spark, sf))
    val dim = Tables.nation(spark, sf)
      .join(broadcast(Tables.region(spark, sf)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"))
    fact.join(dim, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
      .orderBy("n_name")
  }

  private def dppSupplierDir(spark: SparkSession, sf: String): String =
    graft.FitOnce.scratch(spark, sf, "Joins.dpp", "graft_dpp_") { dir =>
      val path = dir.resolve("supplier").toString
      graft.sources.Sinks.writePartitioned(
        Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey")),
        path, Seq("s_nationkey"))
      path
    }

  /** NOT IN with a nullable probe key — the three-valued-logic corner
    * every SQL engine must get right: a NULL probe key can never
    * satisfy NOT IN (NULL <> x is unknown), so those rows vanish —
    * the classic footgun vs the NULL-keeping anti join. Spark plans
    * this as a BroadcastHashJoin in null-aware anti mode (single-key
    * NOT IN, broadcastable build side) rather than the quadratic
    * BroadcastNestedLoopJoin fallback — PlanSuite pins it. At scale
    * the probe side streams map-side against the broadcast set, no
    * shuffle. */
  def joinNullAwareAnti(spark: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    Tables.supplier(spark, sf).createOrReplaceTempView("supplier")
    spark.sql(
      "SELECT l_returnflag, COUNT(*) AS n_kept " +
        "FROM (SELECT l_returnflag, NULLIF(l_suppkey % 100, 7) AS k " +
        "FROM lineitem) " +
        // DISTINCT is semantics-free under NOT IN (set membership) but
        // load-bearing at scale: Spark has no shuffle null-aware anti
        // join — the IN-set MUST broadcast — so the build side is
        // reduced to its value domain (≤ 100 values here at any SF)
        // before the exchange instead of shipping every supplier row.
        "WHERE k NOT IN (SELECT DISTINCT s_suppkey % 100 FROM supplier " +
        "WHERE s_acctbal < 0) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
  }

  /** Interval-OVERLAP join decomposed to an equi-join — the
    * two-sided extension of join_range_bucket's point-in-interval
    * bucketing: urgent pending orders vs low-priority orders, each
    * carrying a 7-day activity interval [d, d+7), paired when the
    * intervals overlap, profiled per month. Each interval explodes to
    * the ≤ 2 week-buckets it touches; candidates equi-join on the
    * bucket (co-partitioned, no theta join anywhere) and the exact
    * overlap predicate filters. At 100 TB this is the only shape that
    * scales: candidate count ∝ bucket co-occupancy, never |A|×|B|,
    * and the bucket key shuffles both sides once.
    *
    * Canonical-bucket dedup (r19): a pair whose intervals overlap can
    * meet in both of its shared week-buckets, so each pair is KEPT
    * only in the week of greatest(ad, bd) — the overlap's start,
    * which lies inside both intervals and hence among both sides'
    * ≤ 2 emitted buckets, so exactly one copy survives. The previous
    * shape collapsed the duplicates with a distinct() over the full
    * pair set instead — a second full shuffle plus an external sort
    * of every candidate pair, which is also where the ×10 starved
    * gate OOM'd it (162 M pairs × 2 through a sort-based fallback in
    * a 2.4 GB execution pool; the canonical-bucket filter deletes
    * that operator from the plan rather than tuning it). */
  def joinIntervalOverlap(spark: SparkSession, sf: String): DataFrame = {
    val day0 = to_date(lit("1970-01-01"))
    def iv(df: DataFrame, key: String, dcol: String) = df
      .select(col(key), datediff(to_date(col(dcol)), day0).as("d"),
        trunc(col(dcol), "month").as("mon"))
      .select(col(key), col("d"), col("mon"),
        explode(array_distinct(array(expr("d div 7"),
          expr("(d + 6) div 7")))).as("bk"))
    val a = iv(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "P"),
      "o_orderkey", "o_orderdate")
      .toDF("akey", "ad", "mon", "bk")
    val b = iv(Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "5-LOW"),
      "o_orderkey", "o_orderdate")
      .select(col("o_orderkey").as("bkey"), col("d").as("bd"), col("bk"))
    a.join(b, Seq("bk"))
      .filter(col("bd") < col("ad") + 7 && col("ad") < col("bd") + 7 &&
        col("bk") === expr("greatest(ad, bd) div 7"))
      .groupBy(col("mon")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("mon")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_interval_overlap" -> joinIntervalOverlap,
    "join_null_aware_anti" -> joinNullAwareAnti,
    "join_bloom_prune" -> joinBloomPrune,
    "join_dpp_prune" -> joinDppPrune,
    "join_bucketed" -> joinBucketed,
    "subq_scalar_corr" -> subqScalarCorr,
    "join_lateral" -> joinLateral,
    "join_inner_2way" -> joinInner2Way,
    "join_broadcast" -> joinBroadcast,
    "join_5way_q5" -> join5WayQ5,
    "join_left" -> joinLeft,
    "join_full" -> joinFull,
    "join_semi" -> joinSemi,
    "join_anti" -> joinAnti,
    "join_theta_range" -> joinThetaRange,
    "join_range_bucket" -> joinRangeBucket,
    "join_asof" -> joinAsof,
    "join_salted_skew" -> joinSaltedSkew,
    "join_cross" -> joinCross
  )

  val oracle: Map[String, String] = Map(
    // The oracle states overlap DIRECTLY as the quadratic theta join —
    // independent of the bucket decomposition it audits.
    "join_interval_overlap" ->
      ("WITH a AS (SELECT o_orderkey AS akey, CAST(o_orderdate AS DATE) AS adt, " +
        "date_trunc('month', CAST(o_orderdate AS DATE)) AS mon FROM orders " +
        "WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'P'), " +
        "b AS (SELECT o_orderkey AS bkey, CAST(o_orderdate AS DATE) AS bdt " +
        "FROM orders WHERE o_orderpriority = '5-LOW') " +
        "SELECT mon, COUNT(*) AS n_pairs FROM a JOIN b " +
        "ON b.bdt < a.adt + 7 AND a.adt < b.bdt + 7 " +
        "GROUP BY mon ORDER BY mon"),
    // Identical NOT IN text: both engines must drop the NULL-key rows
    // by three-valued logic, not keep them like an anti join would.
    "join_null_aware_anti" ->
      ("SELECT l_returnflag, COUNT(*) AS n_kept " +
        "FROM (SELECT l_returnflag, NULLIF(l_suppkey % 100, 7) AS k " +
        "FROM lineitem) " +
        "WHERE k NOT IN (SELECT DISTINCT s_suppkey % 100 FROM supplier " +
        "WHERE s_acctbal < 0) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "join_bloom_prune" ->
      ("SELECT l_returnflag, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // The oracle reads the ORIGINAL supplier table: the hive layout
    // must be a pure physical change — any row loss in the partitioned
    // write (or a partition-column type drift) hash-fails here.
    "join_dpp_prune" ->
      ("SELECT n_name, COUNT(*) AS n_suppliers, " +
        "CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name"),
    // The oracle reads the ORIGINAL tables: bucketing must be a pure
    // physical-layout change — any row loss/dup in the bucketed write
    // hash-fails here.
    "join_bucketed" ->
      ("SELECT o_orderpriority, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "subq_scalar_corr" ->
      ("SELECT c_custkey, " +
        "(SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders, " +
        "EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderpriority = '1-URGENT') AS has_urgent " +
        "FROM customer ORDER BY c_custkey"),
    "join_inner_2way" ->
      "SELECT o_orderkey, c_custkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey",
    "join_broadcast" ->
      "SELECT p_brand, COUNT(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand ORDER BY p_brand",
    "join_5way_q5" ->
      ("SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey " +
        "AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "join_left" ->
      ("SELECT c_custkey, COUNT(o_orderkey) AS order_cnt, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey ORDER BY c_custkey"),
    "join_full" ->
      ("SELECT s_suppkey, s_name, c_custkey, c_name FROM supplier " +
        "FULL JOIN customer ON s_suppkey = c_custkey " +
        "ORDER BY s_suppkey NULLS FIRST, c_custkey NULLS FIRST"),
    "join_semi" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "join_anti" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "join_theta_range" ->
      ("WITH daily AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS d, COUNT(*) AS cnt FROM events GROUP BY 1) " +
        "SELECT a.d AS a_d, COUNT(*) AS ndays, CAST(SUM(b.cnt) AS BIGINT) AS cnt4 FROM daily a JOIN daily b " +
        "ON b.d >= a.d AND b.d <= a.d + INTERVAL 3 DAY GROUP BY a.d ORDER BY a_d"),
    // The bucket decomposition is invisible in the result: the oracle
    // is the plain range join (DuckDB plans its own IEJoin).
    "join_range_bucket" ->
      ("SELECT p.event_id AS p_id, COUNT(c.ts) AS clicks_1h " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON c.user_id = p.user_id " +
        "AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR " +
        "AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP) " +
        "GROUP BY p.event_id ORDER BY p_id"),
    "join_asof" ->
      ("SELECT p_id, user_id, p_ts, c_id, c_ts FROM (" +
        "SELECT p.event_id AS p_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS p_ts, " +
        "c.event_id AS c_id, CAST(c.ts AS TIMESTAMP) AS c_ts, " +
        "row_number() OVER (PARTITION BY p.event_id ORDER BY CAST(c.ts AS TIMESTAMP) DESC, c.event_id DESC) AS rn " +
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON c.user_id = p.user_id AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) t " +
        "WHERE rn = 1 ORDER BY p_id"),
    "join_cross" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name",
    "join_lateral" ->
      ("SELECT c_custkey, c_mktsegment, cnt, max_price " +
        "FROM customer, LATERAL (SELECT COUNT(o_orderkey) AS cnt, " +
        "MAX(o_totalprice) AS max_price FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey"),
    // Salting is invisible in the result: the oracle is the plain
    // join/aggregate over the same derived dim attribute.
    "join_salted_skew" ->
      ("SELECT event_type, CAST(length(event_type) AS INTEGER) AS t_len, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_val " +
        "FROM events GROUP BY event_type ORDER BY event_type")
  )
}

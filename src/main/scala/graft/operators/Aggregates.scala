package graft.operators

import graft.Tables
import graft.Tables.{dec, rate, sumDec, tsLit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.4): group-agg, HAVING, DISTINCT aggs,
  * approximate distinct, rollup/cube/grouping-sets, order statistics.
  *
  * Partial (map-side) + final aggregation is automatic in Spark's
  * HashAggregateExec, so every groupBy here shuffles only the compact
  * per-group partial state — the 100 TB-safe shape. Determinism: all
  * money math is exact decimal (no engine-dependent rounding — see
  * Tables.dec), and stddev is derived from exact decimal sums with one
  * fixed IEEE expression instead of order-dependent native stddev.
  */
object Aggregates {

  /** TPC-H-Q1-style pricing summary: scan → NTZ-timestamp filter →
    * multi-measure aggregate with exact decimal arithmetic → sort. */
  def aggQ1Pricing(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.lineitem(spark, sf)
    // Exact decimal pipeline: 2-dp inputs → exact products at scale 4/6
    // → exact sums → widening-only output casts. No rounding anywhere,
    // so Spark and DuckDB agree bit-for-bit.
    val price = dec(col("l_extendedprice"))              // DECIMAL(12,2)
    val disc1 = lit(1) - rate(col("l_discount"))         // DECIMAL(5,2) exact
    val tax1  = lit(1) + rate(col("l_tax"))
    li.filter(col("l_shipdate") <= tsLit("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // Final output casts: all sums stay exact decimals until the
        // last projection, then cast to DOUBLE — full double precision
        // at EVERY scale factor (r18 advice: the earlier FLOAT
        // narrowing cut oracle discrimination to ~7 significant digits
        // and could not represent ×10 charge totals to cents). The
        // decimal→double cast is correctly rounded on BOTH sides even
        // past 2^53-scaled magnitudes: Spark's Decimal.toDouble goes
        // through BigDecimal.doubleValue (correctly rounded — verified
        // on the x10 witness 109090414712.738008), and the ORACLE side
        // routes through a VARCHAR hop (CAST(CAST(x AS VARCHAR) AS
        // DOUBLE)) because DuckDB's direct decimal→double divides the
        // int128 by 10^scale in double arithmetic and lands one ulp
        // off in ~25% of >2^53 cases (measured: 5134/20000 direct
        // misrounds, 0/20000 through the VARCHAR hop — strtod is
        // correctly rounded).
        sumDec(col("l_quantity")).cast("double").as("sum_qty"),
        sumDec(col("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(price * disc1).cast("double").as("sum_disc_price"),
        sum(price * disc1 * tax1).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double")
          / count(lit(1)).cast("double")).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double")
          / count(lit(1)).cast("double")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Post-aggregation filter (HAVING). */
  def aggHaving(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 15)
      .orderBy("o_custkey")

  /** COUNT(DISTINCT) and SUM(DISTINCT) — distinct sets are engine-
    * independent, and the distinct sum is over exact decimals. */
  def aggDistinct(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_suppkey")).as("supp_cnt"),
        countDistinct(col("l_partkey")).as("part_cnt"),
        sum_distinct(dec(col("l_quantity"))).cast("double")
          .as("qty_dsum"))
      .orderBy("l_returnflag")

  /** HLL++ approximate cardinality. Raw sketch values differ per engine
    * (different HLL implementations), so the scored output is the
    * sketch's accuracy CONTRACT instead: the exact distinct count plus
    * a flag that the approximation landed within 2×rsd of it. Both are
    * deterministic, and the oracle reproduces them exactly (the flag is
    * TRUE by the HLL++ guarantee on this fixed corpus). The approx
    * aggregate still runs for real on the Spark side. */
  def aggApproxDistinct(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.1).as("within_rsd"))
      .orderBy("l_returnflag")

  /** Count-min sketch frequency estimation — the streaming/mergeable
    * heavy-hitter sketch (one compact byte array instead of a
    * per-key hashmap; sketches from any partitioning merge
    * losslessly, which is what makes it the 100 TB/streaming shape).
    * The sketch is built in ONE aggregate pass (seeded →
    * deterministic), broadcast as a single row, and probed
    * distributed via a scalar UDF next to the exact counts. Scored
    * through the two provable CMS contracts (an accuracy-contract
    * oracle, like agg_approx_distinct): estimates never undercount,
    * and overcount is bounded by eps·N at the sketch's confidence
    * (eps 0.1% → +100 rows of slack at sf0.1's 100k events, vs 5
    * distinct keys — no real collisions). */
  def aggCountMin(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(spark, sf)
    val sk = ev.agg(
      expr("count_min_sketch(event_type, 0.001d, 0.99d, 42)").as("sk"))
    val estimate = udf(new Aggregates.CmsProbe(): (Array[Byte], String) => Long)
    // N for the eps·N bound comes from a window total over the tiny
    // grouped result — no eager driver-side count in the query path.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_cnt"))
      .withColumn("_n", sum(col("exact_cnt")).over(wAll))
      .crossJoin(broadcast(sk))
      .select(col("event_type"), col("exact_cnt"),
        estimate(col("sk"), col("event_type")).as("est"), col("_n"))
      .select(col("event_type"), col("exact_cnt"),
        (col("est") >= col("exact_cnt")).as("never_under"),
        (col("est") <= col("exact_cnt") + (col("_n") / 1000L).cast("long"))
          .as("within_eps"))
      .orderBy("event_type")
  }

  /** Rollup hierarchy over a join. The DataFrame .rollup API after a
    * join trips Spark 4.1.2's DetectAmbiguousSelfJoin false positive
    * (SURVEY.md P8), so this goes through the SQL entry point — same
    * Catalyst plan from analysis onward. */
  def aggRollup(spark: SparkSession, sf: String): DataFrame = {
    Tables.customer(spark, sf).createOrReplaceTempView("customer")
    Tables.nation(spark, sf).createOrReplaceTempView("nation")
    spark.sql(
      "SELECT n_name, c_mktsegment, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP(n_name, c_mktsegment) " +
        "ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST")
  }

  /** Cube over a single table — the DataFrame .cube API is safe here
    * (no upstream join). */
  def aggCube(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** Explicit grouping sets + GROUPING indicators (SQL entry point). */
  def aggGroupingSets(spark: SparkSession, sf: String): DataFrame = {
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    spark.sql(
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " +
        "CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")
  }

  /** Skew-safe aggregation, declared: lineitem grouped by the 3-value
    * l_returnflag is exactly the heavy-hitter shape where one reducer
    * becomes the critical path at scale. The salted two-phase plan
    * (groupBy(key, salt) partials → groupBy(key) merge) spreads each
    * hot key over 16 sub-keys; the result is identical to the direct
    * aggregate because decimal sums are exact and order-independent. */
  def aggSaltedSkew(spark: SparkSession, sf: String): DataFrame =
    Skew.saltedSumCount(
        Tables.lineitem(spark, sf), Seq("l_returnflag"),
        dec(col("l_quantity")), col("l_orderkey") * 8 + col("l_linenumber"))
      .select(col("l_returnflag"),
        col("sum").cast("double").as("qty_sum"), col("cnt"))
      .orderBy("l_returnflag")

  /** Pivot: per-priority order counts spread over the 3 status values
    * as columns. The pivot value list is explicit, so the output
    * schema is static and the plan is a single two-phase aggregate
    * (one shuffle on the groupBy key — no per-value scans). Absent
    * combinations count 0 on both engines (na.fill ≡ COUNT FILTER). */
  def aggPivot(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")

  /** Unpivot (melt): wide numeric columns to (key, metric, value)
    * rows — narrow-format reshaping, a per-row expansion with no
    * shuffle before the final sort. */
  def aggUnpivot(spark: SparkSession, sf: String): DataFrame =
    Tables.part(spark, sf)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("p_size"), col("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "metric", "val")
      .orderBy("p_partkey", "metric")

  /** Order statistics: min/max/median plus sample stddev derived from
    * exact decimal sums via one fixed IEEE expression — deterministic
    * across engines and partial-agg orders, unlike native stddev_samp
    * over doubles. */
  def aggStats(spark: SparkSession, sf: String): DataFrame = {
    val x = col("l_extendedprice")
    val s1 = sum(dec(x))                  // exact Σx
    val s2 = sum(dec(x) * dec(x))         // exact Σx²
    val n = count(lit(1))
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        n.as("n"),
        min(x).as("mn"),
        max(x).as("mx"),
        median(x).as("med"),
        // Narrowed to FLOAT: Σx² exceeds 2^53 when scaled, so the
        // decimal→double cast itself can differ by 1 ulp between
        // engines; float rounding absorbs that.
        sqrt((s2.cast("double") - (s1.cast("double") * s1.cast("double"))
          / n.cast("double")) / (n.cast("double") - lit(1.0)))
          .cast("float").as("sd"))
      .orderBy("l_returnflag")
  }

  /** Exact interpolated percentiles (p50/p90/p99) plus the
    * approx_percentile sketch scored through an accuracy contract
    * (same pattern as agg_approx_distinct: sketch internals differ
    * per engine, the CONTRACT is deterministic). Exact percentiles
    * are FLOAT-narrowed: Spark computes a + f·(b−a), DuckDB's
    * quantile_cont may associate differently — double-ulp noise that
    * float rounding absorbs (D8). */
  def aggPercentile(spark: SparkSession, sf: String): DataFrame =
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"),
        expr("approx_percentile(l_extendedprice, 0.9D, 10000)").as("ap90"))
      .select(col("l_returnflag"),
        col("ps")(0).cast("float").as("p50"),
        col("ps")(1).cast("float").as("p90"),
        col("ps")(2).cast("float").as("p99"),
        (abs(col("ap90") - col("ps")(1)) <= col("ps")(1) * 0.05).as("ap90_ok"))
      .orderBy("l_returnflag")

  /** Conditional/boolean aggregates: count_if, bool_or, bool_and and a
    * filtered exact-decimal sum — the SQL FILTER-clause family. All
    * integer/boolean/decimal-exact, no float parity surface. */
  def aggCondAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("c_acctbal") < 0).as("neg_cnt"),
        bool_or(col("c_acctbal") > 9000).as("has_big"),
        bool_and(length(col("c_name")) > 0).as("all_named"),
        sum(when(col("c_acctbal") > 5000, dec(col("c_acctbal"))))
          .cast("double").as("rich_sum"))
      .orderBy("c_mktsegment")

  /** Correlation / regression family — corr, sample covariance,
    * least-squares slope+intercept of price on quantity per flag. NOT
    * the native corr/covar/regr_* aggregates: their streaming
    * co-moment updates are float-order-dependent (partial-merge order
    * varies run to run and engine to engine). Instead all five stats
    * derive from six EXACT decimal sums (n, Σx, Σy, Σx², Σy², Σxy —
    * the same map-side-partial shuffle shape as any sum), combined in
    * one fixed IEEE expression per stat and FLOAT-narrowed (D8). Same
    * pattern the house stddev uses (aggStats). */
  def aggCorr(spark: SparkSession, sf: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    def d(c: Column): Column = c.cast("double")
    Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
            (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .cast("float").as("corr_qp"),
        ((d(col("sxy")) - d(col("sx")) * d(col("sy")) / d(col("n"))) /
          (d(col("n")) - 1.0d)).cast("float").as("covar_qp"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
          .cast("float").as("slope"),
        (((d(col("sy")) - ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))) * d(col("sx"))))
          / d(col("n"))).cast("float").as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Per-group skewness and excess kurtosis — the 3rd/4th-moment
    * extension of aggStats/aggCorr: four EXACT integer power sums per
    * group (cents in DECIMAL(38,0); v⁴ ≤ 10²⁸ per row keeps Σv⁴ inside
    * 38 digits through corpus sf 1000), combined in one fixed IEEE
    * expression per stat and FLOAT-narrowed (D8). sqrt(v)·v replaces
    * pow(v, 1.5) deliberately: sqrt and multiply are correctly-rounded
    * IEEE ops on both engines, libm pow is not. */
  def aggSkewKurt(spark: SparkSession, sf: String): DataFrame = {
    val v = expr("CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))")
    def d(c: Column): Column = c.cast("double")
    Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), v.as("v"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"),
        sum(col("v") * col("v") * col("v")).as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).as("s4"))
      .withColumn("m1", d(col("s1")) / d(col("n")))
      .withColumn("m2", d(col("s2")) / d(col("n")))
      .withColumn("m3", d(col("s3")) / d(col("n")))
      .withColumn("m4", d(col("s4")) / d(col("n")))
      .withColumn("vr", col("m2") - col("m1") * col("m1"))
      .select(col("l_returnflag"), col("n"),
        ((col("m3") - lit(3.0d) * col("m1") * col("m2")
          + lit(2.0d) * col("m1") * col("m1") * col("m1")) /
          (col("vr") * sqrt(col("vr")))).cast("float").as("skew"),
        ((col("m4") - lit(4.0d) * col("m1") * col("m3")
          + lit(6.0d) * col("m1") * col("m1") * col("m2")
          - lit(3.0d) * col("m1") * col("m1") * col("m1") * col("m1")) /
          (col("vr") * col("vr")) - lit(3.0d)).cast("float").as("kurt"))
      .orderBy("l_returnflag")
  }

  /** Heavy hitters through the NATIVE Catalyst aggregate extension
    * ([[graft.functions.SketchAggs.MisraGriesTopK]], a
    * TypedImperativeAggregate with O(k) state): document languages
    * whose frequency exceeds n/(k+1), k = 2 (the only planted skew in
    * this corpus — en ≈ 40% vs ~15% for the rest, so the 5-language
    * domain genuinely overflows the 2-slot summary). Scored through
    * the Misra–Gries guarantee (the agg_countmin/approx_distinct
    * accuracy-contract discipline, since raw sketch counts legitimately
    * vary with partition merge order): the output rows are the EXACT
    * heavy hitters with exact counts, plus two contract booleans the
    * oracle pins as literal TRUE — membership (every true heavy hitter
    * is in the sketch) and the two-sided estimate bound
    * true − n/(k+1) ≤ est ≤ true, checked in exact integers
    * (with k = 2: 3·est ≥ 3·cnt − n). */
  def aggHeavyHitters(spark: SparkSession, sf: String): DataFrame = {
    val langs = Tables.documents(spark, sf).select(col("lang"))
    val sk = langs.agg(expr("graft_misra_gries(lang, 2)").as("mg"),
      count(lit(1)).as("n"))
    langs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(sk))
      .filter(col("cnt") * 3 > col("n"))
      // try_element_at, not element_at: under Spark 4 ANSI defaults a
      // missing map key THROWS, which would turn a sketch regression
      // into a query error instead of the in_sketch=false contract
      // boolean the oracle compares.
      .withColumn("est", expr("try_element_at(mg, lang)"))
      .select(col("lang"), col("cnt"),
        col("est").isNotNull.as("in_sketch"),
        coalesce(col("est") <= col("cnt") &&
          col("est") * 3 >= col("cnt") * 3 - col("n"), lit(false))
          .as("bound_ok"))
      .orderBy("lang")
  }

  /** Array aggregation: the per-group value LIST. collect_list's
    * element order is partition-arrival order — nondeterministic — so
    * the aggregate is wrapped in array_sort, making the array a pure
    * function of the group's contents (the only defensible contract
    * for a distributed collect). Group arrays stay bounded by group
    * size; at 100 TB this is the "small groups, many of them" shape —
    * a group too large to collect shouldn't use collect at all.
    * The full array is emitted as integer cents pipe-joined into one
    * string: the driver's pandas compare can't sort/hash ndarray
    * cells, and round(bal*100) is exact for money-valued doubles, so
    * the string is a lossless, engine-stable image of the array. */
  def aggCollect(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        array_sort(collect_list(col("c_acctbal"))).as("bals"))
      .select(col("c_nationkey"), col("n"),
        element_at(col("bals"), 1).as("low"),
        element_at(col("bals"), -1).as("high"),
        array_join(
          transform(col("bals"), b => round(b * 100).cast("long").cast("string")),
          "|").as("bals"))
      .orderBy("c_nationkey")

  /** MODE (most frequent value) per group, deterministic tie-break to
    * the smallest value — native `mode()` leaves ties
    * engine/arrival-order dependent, so both engines derive it from
    * the same count + rank pipeline: two keyed shuffles, both on
    * compact (group, value, cnt) partials, never on rows. */
  def aggMode(spark: SparkSession, sf: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(desc("cnt"), asc("c_nationkey"))
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("c_mktsegment"), col("c_nationkey").as("mode_nation"),
        col("cnt").as("mode_cnt"))
      .orderBy("c_mktsegment")
  }

  /** Equal-width HISTOGRAM with data-driven bounds: 10 buckets between
    * the global min/max of o_totalprice. All bucket arithmetic runs in
    * integer cents ((v-min)*10 div span — exact on both engines; float
    * edges would disagree at bucket boundaries). The 1-row bounds
    * aggregate joins back by broadcast (scalar-subquery shape), then
    * one keyed count — the two-pass profile of any data-bounded
    * histogram at scale. */
  def aggHistogram(spark: SparkSession, sf: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val o = Tables.orders(spark, sf).select(cents.as("vc"))
    val bounds = o.agg(min(col("vc")).as("lo"), max(col("vc")).as("hi"))
    o.join(broadcast(bounds))
      .select(expr("least((vc - lo) * 10 div (hi - lo + 1), 9)").as("bucket"),
        col("lo"), col("hi"))
      .groupBy(col("bucket"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")
  }

  /** LISTAGG / string_agg: per-group delimited value concatenation in
    * sorted order (collect_list alone is arrival-order-nondeterministic
    * — the sort makes the string a pure function of group contents).
    * Same bounded-group discipline as aggCollect. */
  def aggStringAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        concat_ws("|", array_sort(collect_list(col("c_name")))).as("names"))
      .orderBy("c_mktsegment")

  /** Multiple DISTINCT aggregates over different columns in one pass —
    * planned through Expand (each input row fans out once per distinct
    * group), the one aggregate shape whose shuffle grows a small
    * constant factor with the distinct count; pinned here so the cost
    * is a deliberate choice, not an accident. */
  def aggMultiDistinct(spark: SparkSession, sf: String): DataFrame =
    Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderdate")).as("n_days"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy("o_orderpriority")

  /** ARGMAX as a single aggregate — "the row attaining the group
    * maximum" WITHOUT a window or self-join: `max(struct(ord...))`
    * rides the ordinary partial/final hash-aggregate (compact
    * per-group state = one struct), where the row_number formulation
    * costs a full per-group sort. Struct comparison is
    * lexicographic, so (acctbal, custkey) encodes the tiebreak
    * explicitly: highest balance, then highest custkey — the oracle
    * pins the same order via ROW_NUMBER. */
  def aggArgmax(spark: SparkSession, sf: String): DataFrame =
    Tables.customer(spark, sf)
      .groupBy(col("c_mktsegment"))
      .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("_top"))
      .select(col("c_mktsegment"), col("_top.c_custkey").as("top_cust"),
        col("_top.c_acctbal").as("top_bal"))
      .orderBy("c_mktsegment")

  /** Mergeable HLL distinct-count rollup — the sketch pattern behind
    * every at-scale distinct dashboard: per-DAY HyperLogLog sketches
    * of the user set (datasketches `hll_sketch_agg`, deterministic:
    * register maxima are order-independent) merged upward with
    * `hll_union_agg` into per-week distincts — the raw stream is
    * touched ONCE; every coarser rollup merges kilobyte sketches.
    * Scored like agg_approx_distinct: exact count + a within-5%
    * contract flag the oracle asserts as literal TRUE (HLL lgK=12
    * rse ≈ 1.6%, and user/day cardinalities here are ≤ 1,500). */
  def aggHllMerge(spark: SparkSession, sf: String): DataFrame = {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts2")).as("day"))
    val daily = ev.groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
        countDistinct(col("user_id")).as("exact_day"))
    daily
      .groupBy(expr("weekofyear(day)").as("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"),
        sum(col("exact_day")).as("sum_daily"))
      .join(ev.select(col("user_id"), expr("weekofyear(day)").as("week"))
          .groupBy("week").agg(countDistinct(col("user_id")).as("exact_week")),
        Seq("week"))
      .select(col("week"), col("exact_week"), col("sum_daily"),
        (abs(col("est") - col("exact_week"))
          <= col("exact_week") * 0.05).as("within_rse"))
      .orderBy("week")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_argmax" -> aggArgmax,
    "agg_hll_merge" -> aggHllMerge,
    "agg_multi_distinct" -> aggMultiDistinct,
    "agg_string_agg" -> aggStringAgg,
    "agg_mode" -> aggMode,
    "agg_histogram" -> aggHistogram,
    "agg_collect" -> aggCollect,
    "agg_corr" -> aggCorr,
    "agg_skew_kurt" -> aggSkewKurt,
    "agg_heavy_hitters" -> aggHeavyHitters,
    "agg_percentile" -> aggPercentile,
    "agg_condagg" -> aggCondAgg,
    "agg_q1_pricing" -> aggQ1Pricing,
    "agg_having" -> aggHaving,
    "agg_distinct" -> aggDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_countmin" -> aggCountMin,
    "agg_rollup" -> aggRollup,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_stats" -> aggStats,
    "agg_salted_skew" -> aggSaltedSkew,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot
  )

  val oracle: Map[String, String] = Map(
    // Accuracy-contract oracle (see aggHeavyHitters): the exact
    // heavy-hitter set + the MG guarantee booleans as literal TRUE.
    "agg_heavy_hitters" ->
      ("WITH n AS (SELECT COUNT(*) AS n FROM documents), " +
        "c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang) " +
        "SELECT lang, cnt, TRUE AS in_sketch, TRUE AS bound_ok " +
        "FROM c, n WHERE cnt * 3 > n ORDER BY lang"),
    // Mirrors aggSkewKurt's exact-integer power sums (HUGEINT here,
    // DECIMAL(38,0) there) and its fixed IEEE combine, term for term.
    "agg_skew_kurt" ->
      ("WITH c AS (SELECT l_returnflag, " +
        "CAST(round(l_extendedprice * 100) AS HUGEINT) AS v FROM lineitem), " +
        "s AS (SELECT l_returnflag, COUNT(*) AS n, SUM(v) AS s1, " +
        "SUM(v * v) AS s2, SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4 " +
        "FROM c GROUP BY l_returnflag), " +
        "m AS (SELECT l_returnflag, n, " +
        "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1, " +
        "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2, " +
        "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3, " +
        "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS m4 FROM s), " +
        "w AS (SELECT *, m2 - m1 * m1 AS vr FROM m) " +
        "SELECT l_returnflag, n, " +
        "CAST((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) / " +
        "(vr * sqrt(vr)) AS REAL) AS skew, " +
        "CAST((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 " +
        "- 3.0 * m1 * m1 * m1 * m1) / (vr * vr) - 3.0 AS REAL) AS kurt " +
        "FROM w ORDER BY l_returnflag"),
    "agg_argmax" ->
      ("SELECT c_mktsegment, c_custkey AS top_cust, c_acctbal AS top_bal FROM (" +
        "SELECT c_mktsegment, c_custkey, c_acctbal, ROW_NUMBER() OVER (" +
        "PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey DESC) AS rn " +
        "FROM customer) t WHERE rn = 1 ORDER BY c_mktsegment"),
    // Accuracy-contract oracle (see aggApproxDistinct): exact weekly
    // distincts + the HLL estimate contract asserted as literal TRUE.
    "agg_hll_merge" ->
      ("WITH d AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day " +
        "FROM events), " +
        "daily AS (SELECT day, COUNT(DISTINCT user_id) AS ed FROM d GROUP BY day), " +
        "wk AS (SELECT CAST(weekofyear(day) AS INT) AS week, " +
        "CAST(SUM(ed) AS BIGINT) AS sum_daily FROM daily GROUP BY 1), " +
        "ex AS (SELECT CAST(weekofyear(day) AS INT) AS week, " +
        "COUNT(DISTINCT user_id) AS exact_week FROM d GROUP BY 1) " +
        "SELECT wk.week, exact_week, sum_daily, TRUE AS within_rse " +
        "FROM wk JOIN ex ON wk.week = ex.week ORDER BY 1"),
    "agg_multi_distinct" ->
      ("SELECT o_orderpriority, COUNT(*) AS n, " +
        "COUNT(DISTINCT o_custkey) AS n_cust, " +
        "COUNT(DISTINCT o_orderdate) AS n_days, " +
        "COUNT(DISTINCT o_orderstatus) AS n_status " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "agg_string_agg" ->
      ("SELECT c_mktsegment, COUNT(*) AS n, " +
        "string_agg(c_name, '|' ORDER BY c_name) AS names " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "agg_mode" ->
      ("WITH c AS (SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt " +
        "FROM customer GROUP BY c_mktsegment, c_nationkey), " +
        "r AS (SELECT c_mktsegment, c_nationkey, cnt, " +
        "row_number() OVER (PARTITION BY c_mktsegment " +
        "ORDER BY cnt DESC, c_nationkey ASC) AS rn FROM c) " +
        "SELECT c_mktsegment, c_nationkey AS mode_nation, cnt AS mode_cnt " +
        "FROM r WHERE rn = 1 ORDER BY c_mktsegment"),
    "agg_histogram" ->
      ("WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS vc " +
        "FROM orders), " +
        "b AS (SELECT MIN(vc) AS lo, MAX(vc) AS hi FROM o) " +
        "SELECT least((vc - lo) * 10 // (hi - lo + 1), 9) AS bucket, " +
        "lo, hi, COUNT(*) AS cnt " +
        "FROM o, b GROUP BY 1, 2, 3 ORDER BY bucket"),
    "agg_condagg" ->
      ("SELECT c_mktsegment, COUNT(*) AS n, " +
        "CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS neg_cnt, " +
        "bool_or(c_acctbal > 9000) AS has_big, " +
        "bool_and(length(c_name) > 0) AS all_named, " +
        "CAST(SUM(CASE WHEN c_acctbal > 5000 THEN CAST(c_acctbal AS DECIMAL(12,2)) END) AS DOUBLE) AS rich_sum " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "agg_q1_pricing" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price, " +
        "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "agg_having" ->
      "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15 ORDER BY o_custkey",
    "agg_approx_distinct" ->
      ("SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS within_rsd " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_countmin" ->
      ("SELECT event_type, COUNT(*) AS exact_cnt, " +
        "TRUE AS never_under, TRUE AS within_eps " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "agg_percentile" ->
      ("SELECT l_returnflag, " +
        "CAST(quantile_cont(l_extendedprice, 0.5) AS REAL) AS p50, " +
        "CAST(quantile_cont(l_extendedprice, 0.9) AS REAL) AS p90, " +
        "CAST(quantile_cont(l_extendedprice, 0.99) AS REAL) AS p99, " +
        "TRUE AS ap90_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_pivot" ->
      ("SELECT o_orderpriority, COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F, " +
        "COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O, " +
        "COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "agg_unpivot" ->
      ("SELECT p_partkey, metric, val FROM (" +
        "SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part " +
        "UNION ALL SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part) t " +
        "ORDER BY p_partkey, metric"),
    // Salting is invisible in the result: the oracle is the direct agg.
    "agg_salted_skew" ->
      ("SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_distinct" ->
      ("SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS supp_cnt, COUNT(DISTINCT l_partkey) AS part_cnt, " +
        "CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_dsum " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "agg_rollup" ->
      ("SELECT n_name, c_mktsegment, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP(n_name, c_mktsegment) " +
        "ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"),
    "agg_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"),
    "agg_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, " +
        "CAST(GROUPING(l_returnflag) AS INT) AS g_flag, " +
        "CAST(GROUPING(l_linestatus) AS INT) AS g_status " +
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "agg_collect" ->
      ("SELECT c_nationkey, COUNT(*) AS n, " +
        "list(c_acctbal ORDER BY c_acctbal)[1] AS low, " +
        "list(c_acctbal ORDER BY c_acctbal)[-1] AS high, " +
        "array_to_string(list(CAST(round(c_acctbal * 100) AS BIGINT) " +
        "ORDER BY c_acctbal), '|') AS bals " +
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"),
    // Mirrors aggCorr's fixed IEEE combination of the six exact sums
    // term for term — CTE d carries the double casts so both engines
    // evaluate the identical expression tree.
    "agg_corr" ->
      ("WITH s AS (SELECT l_returnflag, COUNT(*) AS n, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy, " +
        "SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy " +
        "FROM lineitem GROUP BY l_returnflag), " +
        "d AS (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd, " +
        "CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd, " +
        "CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd, " +
        "CAST(sxy AS DOUBLE) AS sxyd FROM s) " +
        "SELECT l_returnflag, n, " +
        "CAST((nd * sxyd - sxd * syd) / SQRT((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) AS REAL) AS corr_qp, " +
        "CAST((sxyd - sxd * syd / nd) / (nd - 1.0) AS REAL) AS covar_qp, " +
        "CAST((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS REAL) AS slope, " +
        "CAST((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)) * sxd) / nd AS REAL) AS intercept " +
        "FROM d ORDER BY l_returnflag"),
    "agg_stats" ->
      ("SELECT l_returnflag, COUNT(*) AS n, MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx, " +
        "MEDIAN(l_extendedprice) AS med, " +
        "CAST(SQRT((CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) " +
        "- (CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)) " +
        "/ CAST(COUNT(*) AS DOUBLE)) / (CAST(COUNT(*) AS DOUBLE) - 1.0)) AS REAL) AS sd " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
  )

  /** Per-closure-instance count-min probe: deserializes the sketch
    * byte array ONCE per distinct payload per deserialized closure
    * (i.e. O(partitions), not O(rows)) and reuses the parsed
    * `CountMinSketch` for every subsequent row. The cache key is the
    * payload itself — identity fast-path first (rows sharing the
    * broadcast backing array), content-equality fallback (rows that
    * received a per-row copy). `Arrays.equals` is a memcmp over the
    * ~KB sketch, orders of magnitude cheaper than re-parsing it.
    * `deserCount` exists for the spec test that pins the O(partitions)
    * contract. */
  final class CmsProbe extends ((Array[Byte], String) => Long) with Serializable {
    @transient private var cachedBytes: Array[Byte] = _
    @transient private var cachedSketch: org.apache.spark.util.sketch.CountMinSketch = _
    @transient private[graft] var deserCount: Int = 0
    def apply(bytes: Array[Byte], key: String): Long = {
      if (cachedSketch == null ||
          !((cachedBytes eq bytes) || java.util.Arrays.equals(cachedBytes, bytes))) {
        cachedSketch = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        cachedBytes = bytes
        deserCount += 1
      }
      cachedSketch.estimateCount(key)
    }
  }
}

package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph (SURVEY.md §2.10
  * extension): nodes are parts, an edge joins two parts that appear in
  * the same order. The edge build is a within-order self-join — bounded
  * by lines-per-order (≤ 17 in this corpus), so candidates grow
  * linearly with orders, never |parts|².
  *
  * Triangle counting uses the degree-ordered orientation (the standard
  * scalable formulation, e.g. Suri & Vassilvitskii's MapReduce
  * algorithm): orient every undirected edge from its lower to its
  * higher endpoint under the total order π = (degree, id). Every
  * triangle then has exactly one π-increasing wedge, and the wedge
  * fan-out per node is the π-out-degree, which the orientation bounds
  * by O(√m) — the property that keeps the wedge join from exploding on
  * skewed (popular-part) nodes at 100 TB. The oracle counts the same
  * triangles with the plain id-ordered 3-way join, auditing the
  * orientation trick against the textbook definition.
  */
object Graph {

  /** Node-grain degree table (u, dg) of the bidirectional graph,
    * checkpointed to scratch parquet once per (session, sf). The
    * degree aggregation feeds PageRank's init + every iteration's
    * per-node pre-divide (3 subtrees per invocation — lineage re-runs
    * the full-edge-list groupBy in each without this) and the
    * orientation + wedge census in [[graphTriangles]] (3 more
    * subtrees). One aggregation job at first use; afterwards every
    * consumer is a scan of a node-grain file. */
  private[graft] def degrees(spark: SparkSession, sf: String): DataFrame =
    graft.FitOnce.checkpoint(spark, sf, "Graph.degrees", "graft_deg_", "deg") {
      val e0 = edges(spark, sf)
      e0.select(col("x").as("u")).unionAll(e0.select(col("y").as("u")))
        .groupBy("u").agg(count(lit(1)).as("dg"))
    }

  /** Distinct-node count of the co-purchase graph, computed ONCE per
    * (session, sf) and memoized. The count feeds only the
    * broadcast-gate decision in [[pagerankPlan]]; it is a rowcount
    * over the node-grain degree checkpoint (parquet footer counts —
    * no data scan), so even the first call is metadata-cheap once the
    * degree table exists. */
  private def nodeCount(spark: SparkSession, sf: String): Long =
    graft.FitOnce(spark, sf, "Graph.nodeCount")(degrees(spark, sf).count())

  /** Bidirectional adjacency with the SOURCE node's degree attached
    * (u, v, dg) — the layout iterative propagation serves from,
    * checkpointed once per (session, sf) like the edge/degree tables
    * it joins. Attaching dg costs one long per directed edge on disk
    * and removes the rank⋈degree node-grain join from EVERY PageRank
    * iteration: the per-edge contribution (pr·85) div (100·dg) is a
    * pure function of (pr, dg), so evaluating it edge-side is
    * bit-identical to the node-side pre-divide (floor of the same
    * integers), and each iteration collapses to broadcast(rank) ⋈ adj
    * → one keyed sum. The standard adjacency-with-metadata layout any
    * Pregel-style engine builds once and iterates against.
    *
    * r22: the checkpoint is BUCKETED by the DESTINATION node v — the
    * key every iteration's contribution sum groups by — so the
    * per-iteration plan is scan ⋈ broadcast(rank) → complete keyed agg
    * with ZERO shuffle Exchanges (guide §2.4 "bucketed tables persist
    * a partitioning so aggregations on the bucket key skip the
    * shuffle"). The r22 ×10 stack sample motivating it: ~68% of
    * iteration CPU was two-phase hash-agg machinery whose partial maps
    * overflowed the 64k-entry codegen fast map into BytesToBytesMap
    * (keys-per-map-task ≈ rows, so partial aggregation reduced almost
    * nothing), and ~23% was shuffle-file machinery — bucketing removes
    * the partial phase, the shuffle files, and shrinks each task's agg
    * map to nodes/buckets keys (cache-resident). Bucket count derives
    * from the edge count (~250k directed edges per bucket), never from
    * the local core count — the same data at a different
    * SPARK_GRAFT_CPUS reads the same layout, and at 100 TB the count
    * grows with the graph exactly like an ingest-time lakehouse
    * layout. */
  private[graft] def adjacency(spark: SparkSession, sf: String): DataFrame = {
    val tbl = graft.FitOnce.scratch(spark, sf, "Graph.adjacency", "graft_adj_") { dir =>
      val tag = sf.replaceAll("[^a-zA-Z0-9]", "_")
      val name = s"graft_bkt_adj_$tag"
      val e0 = edges(spark, sf)
      // Footer-only rowcount of the edge checkpoint (no data scan).
      val adjRows = 2L * e0.count()
      val buckets = math.max(4L, math.min(4096L, adjRows / 250000L + 1L)).toInt
      e0.select(col("x").as("u"), col("y").as("v"))
        .unionAll(e0.select(col("y").as("u"), col("x").as("v")))
        .join(degrees(spark, sf), "u")
        // One write task per bucket (repartition by the bucket key with
        // matching count) — otherwise every write task emits a file per
        // bucket it sees and the layout shatters into tiny files.
        .repartition(buckets, col("v"))
        .write.mode("overwrite")
        .option("path", dir.resolve(name).toString)
        .bucketBy(buckets, "v")
        .saveAsTable(name)
      name
    }
    spark.table(tbl)
  }

  /** Undirected co-purchase edges (x < y by part id), deduplicated and
    * checkpointed to scratch parquet once per (session, sf) — the edge
    * list has several lineage consumers (degrees, orientation, edge
    * count in the census; the bidirectional list in every PageRank
    * iteration); without the checkpoint each would re-run the
    * within-order self-join (same fit-once discipline as the dedup
    * pair list / IVF index). */
  private def edges(spark: SparkSession, sf: String): DataFrame =
    graft.FitOnce.checkpoint(spark, sf, "Graph.edges", "graft_edges_", "edges") {
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("x"), col("b.pk").as("y"))
        .distinct()
    }

  /** Global triangle census: edge / wedge / triangle counts plus the
    * global clustering coefficient 3·T/W, combined from exact integers
    * in one fixed IEEE expression (D8). */
  def graphTriangles(spark: SparkSession, sf: String): DataFrame =
    triangleCensusOf(edges(spark, sf),
      degrees(spark, sf).select(col("u").as("n"), col("dg")))

  /** The census core over a deduplicated undirected edge list
    * e0 = (x, y) with x < y and its degree table deg = (n, dg) — the
    * SHARED body the scored query and
    * [[graft.api.GraftOps.triangleCensus]] both run. */
  private[graft] def triangleCensusOf(e0: DataFrame,
      deg: DataFrame): DataFrame = {
    // Orient x→y when π(x) < π(y) under π = (degree, id), else y→x.
    val or = e0
      .join(deg.select(col("n").as("x"), col("dg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("dg").as("dy")), "y")
      .select(
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("src"),
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("y"))
          .otherwise(col("x")).as("dst"))
    // Edge-iterator over orientation-bounded adjacency arrays: for
    // each ORIENTED edge (u, v), every common out-neighbor w closes
    // the π-increasing triangle u<v<w exactly once, so
    // T = Σ_(u,v) |N⁺(u) ∩ N⁺(v)|. Out-neighbor arrays are bounded by
    // the π-out-degree (O(√m) — max 97 here vs raw max degree 222),
    // so the collect is safe at any scale; the data moved is 2·m
    // bounded arrays instead of the Σ outdeg² wedge stream (34×
    // larger on this corpus — measured 3.9 s as a broadcast wedge
    // semi-join vs this shape). array_intersect hash-builds the
    // smaller side: O(|a| + |b|) per edge, whole-stage codegen'd.
    val outadj = or.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nb"))
    // Degenerate graphs (public-API inputs; the corpus always has
    // triangles): a triangle-free orientation leaves both joins empty
    // and sum() null — coalesce to exact zeros, and a wedge-free
    // graph's gcc is 0, not a null from 0/0. On any graph with wedges
    // the expressions are value-identical to the plain sums/ratio.
    val tri = or.select(col("src"), col("dst"))
      .join(outadj.select(col("src"), col("nb").as("nbu")), Seq("src"))
      .join(outadj.select(col("src").as("dst"), col("nb").as("nbv")),
        Seq("dst"))
      .agg(coalesce(sum(size(array_intersect(col("nbu"), col("nbv")))), lit(0))
        .cast("long").as("n_triangles"))
    val stats = e0.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(
        coalesce(sum(expr("dg * (dg - 1)")), lit(0))
          .cast("long").as("wedges2")))
      .select(col("n_edges"), (col("wedges2") / 2).cast("long").as("n_wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        expr("CAST(CASE WHEN n_wedges = 0 THEN 0.0 ELSE " +
          "3.0 * CAST(n_triangles AS DOUBLE) / " +
          "CAST(n_wedges AS DOUBLE) END AS FLOAT)").as("gcc"))
  }

  /** Integer PageRank over the co-purchase graph, 3 fixed iterations,
    * damping 0.85, in EXACT µ-rank units: every value is a BIGINT and
    * each neighbor contribution is the floor division
    * (pr·85) div (100·deg), so the per-node sum is order-independent
    * (D2) and both engines agree bit-for-bit — the same determinism
    * discipline as the EWMA's dyadic weights, applied to the classic
    * iterative-propagation shape. Per iteration: one equi-join of the
    * rank vector with the (bidirectional) edge list + one keyed sum —
    * the standard scale form; the vector stays partitioned by node and
    * the floor-quantization error (≤ deg ULPs of 10⁻¹² rank) is far
    * below the 10⁻⁶ rank resolution anyone ranks by. Top-20 with id
    * tiebreak keeps the output bounded. */
  def graphPagerank(spark: SparkSession, sf: String): DataFrame =
    pagerankPlan(spark, sf, BroadcastNodeCap)

  /** Broadcast the per-iteration rank vector only below this node
    * count: 10 M nodes × ~16 bytes is ~160 MB — comfortably inside
    * executor memory and far under the 8 GB broadcast hard cap. A ROW
    * cap is byte-consistent here (unlike [[Gates.BroadcastByteCap]]'s
    * measured-bytes gate) because the gated frame is always the fixed
    * 2×long node-grain vector — 16 B/row by construction.
    * Beyond it a billion-node graph would OOM the driver, so the fold
    * must degrade to a plain equi-join (AQE picks the strategy), not
    * attempt the hint regardless. */
  private[graft] val BroadcastNodeCap = 10000000L

  /** The iteration fold over a degree-attached bidirectional
    * adjacency (u, v, dg) from an initial (n, pr) vector — the SHARED
    * core the scored query and [[graft.api.GraftOps.pageRank]] both
    * run (no parallel copies of the math). Each iteration: the rank
    * vector (node-grain — orders smaller than edges) joins the
    * adjacency — broadcast-hinted when `broadcastVec` (the per-edge
    * contribution (pr·85) div (100·dg) evaluates inside the fused
    * scan-join stage, bit-identical to a node-side pre-divide) — and
    * the only shuffle is the partial-agg combine of contributions.
    * When the hint is withheld the same fold runs as a plain
    * equi-join under AQE — still one shuffle per iteration, never a
    * forced over-cap broadcast. */
  private[graft] def pagerankFold(adj: DataFrame, init: DataFrame,
      iters: Int, broadcastVec: Boolean): DataFrame =
    (1 to iters).foldLeft(init) { (pr, _) =>
      val vec = pr.select(col("n").as("u"), col("pr"))
      val gated = if (broadcastVec) broadcast(vec) else vec
      adj.join(gated, "u")
        .select(col("v"), expr("(pr * 85) div (100 * dg)").as("contrib"))
        .groupBy(col("v")).agg(sum(col("contrib")).as("c"))
        .select(col("v").as("n"), (col("c") + lit(150000000000L)).as("pr"))
    }

  /** The scored plan, parameterized on the broadcast gate so
    * PlanSuite can pin the plan on BOTH sides of the threshold. */
  private[graft] def pagerankPlan(spark: SparkSession, sf: String,
      broadcastNodeCap: Long): DataFrame = {
    val adj = adjacency(spark, sf)
    val init = degrees(spark, sf)
      .select(col("u").as("n"), lit(1000000000000L).as("pr"))
    // The gate decision reads the memoized per-(session, sf) node
    // count — a parquet-footer rowcount of the degree checkpoint the
    // FIRST time any PageRank query is built in this session, zero
    // jobs after that.
    val nNodes = nodeCount(spark, sf)
    pagerankFold(adj, init, iters = 3,
        broadcastVec = nNodes <= broadcastNodeCap)
      .orderBy(desc("pr"), asc("n"))
      .limit(20)
      .select(col("n").as("part"), col("pr").as("pr_micro"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_triangles" -> graphTriangles,
    "graph_pagerank" -> graphPagerank
  )

  val oracle: Map[String, String] = Map(
    // Textbook id-ordered 3-way join — independent of the
    // degree-orientation the Spark side uses.
    "graph_triangles" ->
      ("WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y FROM p a " +
        "JOIN p b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "d AS (SELECT n, COUNT(*) AS dg FROM (SELECT x AS n FROM e " +
        "UNION ALL SELECT y AS n FROM e) GROUP BY n), " +
        "t AS (SELECT COUNT(*) AS n_triangles FROM e e1 " +
        "JOIN e e2 ON e1.y = e2.x JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y), " +
        "s AS (SELECT (SELECT COUNT(*) FROM e) AS n_edges, " +
        "CAST((SELECT SUM(dg * (dg - 1)) FROM d) / 2 AS BIGINT) AS n_wedges) " +
        "SELECT n_edges, n_wedges, n_triangles, " +
        "CAST(3.0 * CAST(n_triangles AS DOUBLE) / " +
        "CAST(n_wedges AS DOUBLE) AS REAL) AS gcc FROM s, t"),
    // Mirrors the exact integer recurrence, iteration for iteration.
    "graph_pagerank" ->
      ("WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "e AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y FROM p a " +
        "JOIN p b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "bi AS (SELECT x AS u, y AS v FROM e UNION ALL SELECT y AS u, x AS v FROM e), " +
        "d AS (SELECT u, COUNT(*) AS dg FROM bi GROUP BY u), " +
        "r0 AS (SELECT u AS n, CAST(1000000000000 AS BIGINT) AS pr FROM d), " +
        "r1 AS (SELECT bi.v AS n, CAST(SUM((pr * 85) // (100 * dg)) " +
        "+ 150000000000 AS BIGINT) AS pr FROM r0 " +
        "JOIN d ON d.u = r0.n JOIN bi ON bi.u = r0.n GROUP BY bi.v), " +
        "r2 AS (SELECT bi.v AS n, CAST(SUM((pr * 85) // (100 * dg)) " +
        "+ 150000000000 AS BIGINT) AS pr FROM r1 " +
        "JOIN d ON d.u = r1.n JOIN bi ON bi.u = r1.n GROUP BY bi.v), " +
        "r3 AS (SELECT bi.v AS n, CAST(SUM((pr * 85) // (100 * dg)) " +
        "+ 150000000000 AS BIGINT) AS pr FROM r2 " +
        "JOIN d ON d.u = r2.n JOIN bi ON bi.u = r2.n GROUP BY bi.v) " +
        "SELECT n AS part, pr AS pr_micro FROM r3 " +
        "ORDER BY pr DESC, n ASC LIMIT 20")
  )
}

package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection: exact baseline and the
  * LSH-bucketed approximate variant (the 100 TB scale path).
  *
  * The ANN variant buckets vectors by a 6-bit random-hyperplane
  * signature. Hyperplanes are Rademacher (±1) vectors derived from a
  * Knuth multiplicative LCG over (plane, dim) — plain integer
  * arithmetic, so the oracle reproduces the exact same buckets and the
  * result is deterministic. The quadratic pair search then runs only
  * within buckets: ~B× cheaper than brute force, and bucket-parallel
  * across the cluster (shuffle on the bucket id).
  */
object Ann {

  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Lossless cheap-first thresholding for the round-then-filter pair
    * searches: `round(x, 6)` on DoubleType routes through
    * BigDecimal.valueOf → Double.toString — r16 stack samples put it
    * at >half of llm_ann_ivf_probe's busy CPU, paid for EVERY
    * candidate pair even though the threshold then drops almost all
    * of them. Rounding to 6 dp moves a finite double by at most
    * 5e-7 (+ repr epsilon), so `raw < thr − 1e-6` can never round to
    * ≥ thr: filtering raw-first prunes the non-survivors with pure
    * double math and only survivors pay the BigDecimal round — the
    * same lossless prune the native CosNeighbors kernel applies
    * (VectorExprs.cosNbrsEval). Output values and the final rounded
    * filter are unchanged. Catalyst combines the two filters
    * inner-condition-first, so short-circuit AND preserves the
    * cheap-first evaluation order. */
  private def simAtLeast(pairs: DataFrame, raw: Column, thr: Double,
      keep: Column*): DataFrame =
    pairs.select(keep :+ raw.as("_rawsim"): _*)
      .filter(col("_rawsim") >= thr - 1e-6)
      .select(keep :+ round(col("_rawsim"), 6).as("sim"): _*)
      .filter(col("sim") >= thr)

  /** Exact embedding-cosine near-dup pairs (sim >= 0.45), via the
    * packed-kernel scan (see Similarity.packedVectors / CosNeighbors):
    * each row checks all forward partners in one tight loop instead of
    * materializing n² joined rows. */
  def cosNearDup(spark: SparkSession, sf: String): DataFrame = {
    // One parquet file → one split; spread the kernel across cores.
    graft.api.GraftOps.cosineNearDup(
        Tables.embeddings(spark, sf)
          .repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", 0.45)
      .orderBy("x", "y")
  }

  /** SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs →
    * connected components → kept corpus (min-id keeper per cluster) —
    * the modern-pipeline twin of the text-shingle dedup chain
    * (llm_near_dedup → llm_dedup_components → llm_dedup_keep), keyed
    * on meaning instead of surface form. Reuses the exact cosine pair
    * generator and the superstep component engine; the final keep is
    * one broadcast anti-join, so the corpus side never shuffles. */
  def cosDedupKeep(spark: SparkSession, sf: String): DataFrame = {
    // Converged labels come from the per-(session, sf) checkpoint —
    // the superstep loop runs once even though this consumer shares
    // the component engine with the text-dedup chain.
    val comps = Dedup.componentsTable(spark, sf, "cos",
      materializePairs = true)(
      cosNearDup(spark, sf).select(col("x"), col("y")))
    val dropped = comps.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    // Gated like the text-dedup keep: the dropped set scales with the
    // corpus's near-duplicate mass, so past the cap the keep degrades
    // to a shuffled anti-join instead of a forced broadcast.
    Tables.embeddings(spark, sf).select(col("vec_id"))
      .join(graft.operators.Gates.gatedBroadcast(spark, sf, "dedup_dropped_cos",
          graft.operators.Gates.BroadcastByteCap)(dropped),
        Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** Signed projection onto Rademacher hyperplane `i` (SQL text —
    * identical integer arithmetic in both engines). */
  private def planeDot(i: Int): String =
    s"aggregate(sequence(0, 63), cast(0 as double), (acc, d) -> acc + " +
      s"cast(element_at(embedding, cast(d + 1 as int)) as double) * " +
      s"(CASE WHEN (($i * 64 + d) * 2654435761) % 4294967296 < 2147483648 THEN 1.0 ELSE -1.0 END))"

  /** The 6-bit bucket as interpreted SQL HOFs — kept as the reference
    * the native RademacherBucket expression is tested against. */
  private[graft] def bucketHofExpr: String =
    (0 until 6).map { i =>
      s"(CASE WHEN ${planeDot(i)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** LSH-bucketed approximate near-dup: same predicate as cosNearDup
    * but only pairs sharing the 6-bit hyperplane bucket are examined.
    * Bucket signatures come from the native RademacherBucket
    * expression (same integer-arithmetic planes as the oracle, one
    * pass per row instead of 6×64 interpreted lambdas). */
  def annLsh(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.embeddings(spark, sf)
      .withColumn("bucket", expr("graft_rademacher_bucket(embedding)"))
      .withColumn("nrm", sqrt(dot("embedding", "embedding")))
    val a = e.select(col("vec_id").as("x"), col("bucket"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("y"), col("bucket").as("bucket_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    simAtLeast(
      a.join(b, col("bucket") === col("bucket_b") && col("x") < col("y")),
      dot("ea", "eb") / (col("na") * col("nb")), 0.45,
      col("x"), col("y"), col("bucket"))
      .orderBy("x", "y")
  }

  /** Lloyd iterations for the trained IVF quantizer ([[kmeansK]] cells,
    * [[KmeansIters]] assignment+update rounds, then a final
    * assignment). K and the probe count are tuned like any real ANN
    * index — against a measured recall SLO (single-probe ≥ 0.6,
    * 2-probe ≥ 0.8 of the exact near-dup pairs; the corpus vectors are
    * near-uniform, so recall is governed by how many planted pairs
    * straddle Voronoi boundaries): measured at sf0.01, k=10/iters=2
    * with the hash-sampled init gives 9/14 single-probe and 14/14
    * 2-probe, the best of the k ∈ {4..10} × init sweep
    * (r4 IVF parameter probe). Every step is bit-reproducible in BOTH
    * engines:
    *
    *  - assignment: nearest centroid by `round(cos, 6)` with ties
    *    broken by lowest centroid id — a broadcast join of the ≤8-row
    *    centroid table plus a per-vector `row_number`, no collect;
    *  - update: the centroid mean is computed over components
    *    QUANTIZED to 1e-6 integers (`floor(v*1e6 + 0.5)` as BIGINT),
    *    so the per-cell sum is an exact integer — independent of
    *    partial-aggregation order, where a raw double sum would drift
    *    in the last ulp between engines/runs. The mean back in double
    *    (`sum / (1e6 * cnt)`) is a deterministic two-operand division.
    *
    * 100 TB shape: assignments are broadcast joins (the centroid table
    * is tiny), updates are keyed shuffles on (cell, dim) then cell —
    * all shuffle-parallel, no driver-side loop. Init is a hash-sampled
    * k-subset (below) — a distributed top-k, no collect — and the
    * iteration count stays fixed, so the plan shape is scale-free. */
  /** k ∝ n, enacted (r10 verdict #7): cells scale with the corpus so
    * occupancy stays ~[[KmeansCell]] vectors and the within-cell pair
    * search stays constant-cost per cell at any SF — the documented
    * at-scale discipline (NOTES: fixed k=10 read 22.8× at ×10 data;
    * the k×10 API row reads 2.2–2.4×). [[KmeansCell]] = 200 is the
    * REALIZED occupancy of the tuned base configuration (k=10 at the
    * sf0.1 corpus's 2000 vectors), so at every scored SF the formula
    * reproduces k = 10 exactly — behavior there is unchanged — and a
    * ×10 corpus trains k = 100, the same occupancy-preserving point
    * the ivf_api probe row prices. n is the memoized
    * [[Gates.cachedCount]] footer count — no job in the hot path
    * after the first gate fill — and the DuckDB oracle derives the
    * SAME k from `greatest(floor, count(*) // cell)` so both engines
    * train identical indexes at any corpus size. */
  private val KmeansKFloor = 10
  private val KmeansCell = 200
  private def kmeansK(spark: SparkSession, sf: String): Int = {
    val n = graft.operators.Gates.cachedCount(spark, sf, "ivf_n")(
      Tables.embeddings(spark, sf))
    math.max(KmeansKFloor, (n / KmeansCell).toInt)
  }
  private val KmeansIters = 2

  /** Rounded cosine between the double-cast embedding `ed` and a
    * centroid `ce` — sequential index-order folds in both engines, via
    * the native DoubleDot expression (PropertySuite pins bit-equality
    * with the interpreted aggregate/zip_with fold it replaced). */
  private val simHof: String =
    "round(graft_ddot(ed, ce) / " +
      "(sqrt(graft_ddot(ed, ed)) * sqrt(graft_ddot(ce, ce))), 6)"

  /** Assign every vector to its `top` nearest centroids (ties →
    * lowest cid); `top` = 1 is plain Lloyd assignment, `top` > 1 is
    * the multi-probe query-time assignment. Contract frame: vecs =
    * (vec_id, embedding, ed), cents = (cid, ce). */
  private[graft] def assign(vecs: DataFrame, cents: DataFrame, top: Int = 1): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("sim", expr(simHof))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(desc("sim"), asc("cid"))))
      .filter(col("rn") <= top)
      .select(col("vec_id"), col("embedding"), col("ed"),
        col("cid").as("cell"))

  /** Recompute centroids as exact quantized means of their members
    * (the r4 IVF parameter probe swept this same arithmetic). */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("ed")).as(Seq("d", "v")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(expr("cast(floor(v * 1000000 + 0.5) as bigint)")).as("s"),
        count(lit(1)).as("cnt"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(d, s, cnt))), " +
        "t -> cast(t.s as double) / (1000000.0 * cast(t.cnt as double)))").as("ce"))
      .select(col("cell").as("cid"), col("ce"))

  /** IVF-style approximate near-dup: the second standard ANN shape
    * next to LSH. The coarse quantizer is TRAINED — deterministic
    * k-means (k = max([[KmeansKFloor]], n/[[KmeansCell]]) cells —
    * the same formula [[kmeansK]] and the oracle SQL use — 2 Lloyd
    * iterations,
    * hash-sampled init), see
    * [[assign]]/[[update]] — then the quadratic pair search runs only
    * within cells via an equi-join on the cell id. Final pair
    * similarities use the original float embeddings through the same
    * proven float→double dot the exact baseline uses, so every emitted
    * pair is also in `llm_cos_neardup`'s output (the GoldenSuite
    * recall test pins that containment plus the achieved recall). */
  /** Portable seed-sampling hash (same overflow-free LCG family as
    * sample_hash): an odd multiplier mod 2^32 permutes the key space,
    * so "the K keys with the smallest hash" is a deterministic uniform
    * sample — representative on sorted/clustered inputs where "first
    * k vectors" is not — and both engines evaluate it identically. */
  private val SeedHash =
    "((vec_id % 2147483648) * 2654435761) % 4294967296"

  /** Deterministic k-means fit over a contract frame (vec_id,
    * embedding, ed) → the (cid, ce) centroid table. Init is the
    * hash-sampled k-subset (smallest portable key hash, a distributed
    * top-k / TakeOrderedAndProject — no collect); `vec_id` must be a
    * non-negative integral key. Public surface:
    * [[graft.api.GraftOps.ivfFit]]. */
  private[graft] def kmeansFit(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val init = vecs.withColumn("_graft_h", expr(SeedHash))
      .orderBy(col("_graft_h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("ed").as("ce"))
    (1 to iters).foldLeft(init) { (cents, _) => update(assign(vecs, cents)) }
  }

  /** The corpus embeddings in the k-means contract frame. */
  private def vecFrame(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("ed", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("embedding"), col("ed"))

  /** The fitted centroid table (tiny), trained ONCE per (session, sf)
    * — probe-1 and probe-2 assignments share it instead of each
    * re-running the Lloyd rounds. */
  private def trainedCentroids(spark: SparkSession, sf: String): DataFrame =
    graft.FitOnce.checkpoint(spark, sf, "Ann.centroids", "graft_ivf_", "centroids")(
      kmeansFit(vecFrame(spark, sf), kmeansK(spark, sf), KmeansIters))

  /** The k-means-trained assignment at `top` probes per vector, per
    * (session, sf, probes) — train-once / reuse semantics (r3 verdict,
    * "what's missing" #1): the first caller fits the quantizer and
    * MATERIALIZES the assignment (the superstep-checkpoint pattern of
    * [[Dedup.componentsOf]]); every later use — including the second
    * side of the pair self-join, which previously re-executed the whole
    * k-means train (r3: 6.8 s, 21% of the bench, for
    * llm_ann_ivf_probe alone) — is a plain file-scan leaf. This is also
    * the real-world shape: a fitted index assignment is persisted once
    * and queried many times. */
  private def trainedAssignment(spark: SparkSession, sf: String,
      top: Int): DataFrame = {
    graft.FitOnce.checkpoint(spark, sf, s"Ann.assigned.$top", "graft_ivf_", "assigned")(
      assign(vecFrame(spark, sf), trainedCentroids(spark, sf), top)
        .withColumn("nrm", sqrt(dot("embedding", "embedding"))))
  }

  /** Spread a cell-assignment frame across the cores BY CELL before a
    * pair search. The pair stage's cost is quadratic in cell size —
    * ~n·s/2 dot products for cell size s — while its input BYTES are
    * linear, so AQE's byte-based partition coalescing structurally
    * under-sizes it: at sf0.1 the 4 000 assignment rows coalesce to
    * ONE partition and ~800 k float-dot evaluations run on a single
    * core (1.17 s in-sweep; 0.30 s once spread — the r12 A/B traced
    * the gap to the coalescing floor). An explicit hash
    * repartition on `cell` declares the stage's real parallelism
    * need; both self-join sides inherit it, so the join adds no
    * further exchange. At scale the same layout is what the equi-join
    * would shuffle to anyway (cells ≫ cores, k ∝ n keeps expected
    * cell size ~[[KmeansCell]] — no skew cliff), so this costs
    * nothing there and only stops byte-based coalescing from
    * serializing a compute-dense stage on small inputs. */
  private def spreadByCell(spark: SparkSession, assigned: DataFrame): DataFrame =
    assigned.repartition(spark.sparkContext.defaultParallelism, col("cell"))

  def annIvf(spark: SparkSession, sf: String): DataFrame = {
    val assigned = spreadByCell(spark, trainedAssignment(spark, sf, top = 1))
    val a = assigned.select(col("vec_id").as("x"), col("cell"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("y"), col("cell").as("cell_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    simAtLeast(
      a.join(b, col("cell") === col("cell_b") && col("x") < col("y")),
      dot("ea", "eb") / (col("na") * col("nb")), 0.45,
      col("x"), col("y"), col("cell"))
      .orderBy("x", "y")
  }

  /** Multi-probe IVF (2 probes): every vector joins the pair search in
    * its TWO nearest trained cells — the standard recall lever for IVF
    * at scale (near-boundary vectors stop missing neighbors across the
    * cell wall) at ~2× candidate cost, still cell-parallel with no
    * quadratic term. A pair sharing both cells would appear twice with
    * an identical rounded sim, so a plain distinct dedups it. */
  def annIvfProbe(spark: SparkSession, sf: String): DataFrame = {
    val assigned = spreadByCell(spark, trainedAssignment(spark, sf, top = 2))
    val a = assigned.select(col("vec_id").as("x"), col("cell"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("vec_id").as("y"), col("cell").as("cell_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    simAtLeast(
      a.join(b, col("cell") === col("cell_b") && col("x") < col("y")),
      dot("ea", "eb") / (col("na") * col("nb")), 0.45,
      col("x"), col("y"))
      .distinct()
      .orderBy("x", "y")
  }

  /** IVF-accelerated batch top-k — the at-scale serving twin of
    * llm_knn_batch: each query vector (vec_id < 10) probes its 2
    * nearest trained cells and ranks only the vectors ASSIGNED to
    * those cells (top-3 by rounded cosine, id tie-break), instead of
    * scanning the whole corpus. Candidate cost per query is ~2n/k and
    * both the corpus assignment and the query probes come from the
    * fit-once checkpoint, so a serving batch is one cell equi-join +
    * one per-query window — no quadratic term, no broadcast-size cap.
    * Each (query, target) pair arises from exactly one cell (a target
    * has ONE assigned cell), so no dedup is needed. */
  def annIvfTopk(spark: SparkSession, sf: String): DataFrame = {
    val corpus = trainedAssignment(spark, sf, top = 1)
    val probes = trainedAssignment(spark, sf, top = 2)
      .filter(col("vec_id") < 10)
    probes.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("cell"))
      .join(corpus.select(col("vec_id").as("nbr"), col("embedding").as("te"),
        col("nrm").as("tn"), col("cell")), "cell")
      .filter(col("nbr") =!= col("qid"))
      .select(col("qid"), col("nbr"),
        round(dot("qe", "te") / (col("qn") * col("tn")), 6).as("sim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("sim"), asc("nbr"))).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("nbr"), col("sim"))
      .orderBy("qid", "rn")
  }

  /** The DuckDB mirror of the k-means pipeline, generated for the same
    * k / iteration count: identical init, identical rounded-cosine
    * assignment with cid tie-break (list_cosine_similarity over
    * DOUBLE[] ≡ the index-order HOF fold — proven parity), identical
    * integer-quantized centroid means. */
  private def assignCte(name: String, cents: String, top: Int): String =
    s"$name AS (SELECT vec_id, embedding, ed, cell FROM (" +
      "SELECT e.vec_id, e.embedding, e.ed, c.cid AS cell, " +
      "row_number() OVER (PARTITION BY e.vec_id " +
      "ORDER BY round(list_cosine_similarity(e.ed, c.ce), 6) DESC, c.cid ASC) AS rn " +
      s"FROM e CROSS JOIN $cents c) t WHERE rn <= $top), "

  /** The shared k-means lineage as a WITH-prefix: source frame,
    * hash-sampled init (mirroring the Spark seed top-k exactly) and
    * the Lloyd rounds, ending after CTE c$KmeansIters + ", ". */
  private def kmeansPrefix: String = {
    val sb = new StringBuilder
    sb ++= "WITH e AS (SELECT vec_id, embedding, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed FROM embeddings), "
    sb ++= s"c0 AS (SELECT vec_id AS cid, ed AS ce FROM e " +
      s"ORDER BY ((vec_id % 2147483648) * 2654435761) % 4294967296, vec_id " +
      s"LIMIT greatest($KmeansKFloor, (SELECT count(*) FROM embeddings) // $KmeansCell)), "
    for (i <- 1 to KmeansIters) {
      sb ++= assignCte(s"a$i", s"c${i - 1}", 1)
      sb ++= s"u$i AS (SELECT cell, d, " +
        "SUM(CAST(floor(ed[d + 1] * 1000000 + 0.5) AS BIGINT)) AS s, COUNT(*) AS cnt " +
        s"FROM a$i, LATERAL (SELECT unnest(range(64)) AS d) t GROUP BY cell, d), "
      sb ++= s"c$i AS (SELECT cell AS cid, " +
        "list(CAST(s AS DOUBLE) / (1000000.0 * CAST(cnt AS DOUBLE)) ORDER BY d) AS ce " +
        s"FROM u$i GROUP BY cell), "
    }
    sb.toString
  }

  private def ivfOracleSql(probes: Int): String = {
    val sb = new StringBuilder(kmeansPrefix)
    sb ++= assignCte("af", s"c$KmeansIters", probes)
    sb.setLength(sb.length - 2) // trailing ", "
    if (probes == 1)
      sb ++= " SELECT x, y, cell, sim FROM (SELECT a.vec_id AS x, b.vec_id AS y, a.cell AS cell, " +
        "round(list_cosine_similarity(a.ed, b.ed), 6) AS sim " +
        "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45 ORDER BY x, y"
    else
      sb ++= " SELECT x, y, sim FROM (SELECT DISTINCT a.vec_id AS x, b.vec_id AS y, " +
        "round(list_cosine_similarity(a.ed, b.ed), 6) AS sim " +
        "FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45 ORDER BY x, y"
    sb.toString
  }

  /** Oracle for the IVF top-k serving query: same k-means lineage,
    * corpus side at probe 1 (af1), query side at probe 2 (af2,
    * restricted to vec_id < 10), per-query ranking over the probed
    * cells' members. */
  private def ivfTopkOracleSql: String = {
    val sb = new StringBuilder(kmeansPrefix)
    sb ++= assignCte("af1", s"c$KmeansIters", 1)
    sb ++= assignCte("af2", s"c$KmeansIters", 2)
    sb.setLength(sb.length - 2) // trailing ", "
    sb ++= " SELECT qid, rn, nbr, sim FROM (" +
      "SELECT q.vec_id AS qid, t.vec_id AS nbr, " +
      "round(list_cosine_similarity(q.ed, t.ed), 6) AS sim, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "round(list_cosine_similarity(q.ed, t.ed), 6) DESC, t.vec_id ASC) AS rn " +
      "FROM (SELECT * FROM af2 WHERE vec_id < 10) q " +
      "JOIN af1 t ON t.cell = q.cell AND t.vec_id <> q.vec_id) s " +
      "WHERE rn <= 3 ORDER BY qid, rn"
    sb.toString
  }

  // ---- Product quantization (PQ) — the third standard ANN family
  // next to LSH and IVF: the 64-dim embedding splits into PqM
  // contiguous sub-vectors, each sub-space gets its own tiny L2
  // k-means codebook, and a vector compresses to PqM byte-sized
  // codes (16× smaller than float32 here). Query-time ADC
  // (asymmetric distance computation) scores candidates from the
  // codes alone — the corpus floats are touched only for the exact
  // re-rank of the short list, which is the standard serving shape
  // (FAISS-style PQ + re-rank).
  private val PqM = 8
  private val PqSub = 8
  // 8-bit codebooks (the FAISS-standard 256, not the earlier 16): the
  // ×10 oracle gate caught the 4-bit quantizer's ADC resolution
  // failing the serving contract at 20k vectors — the exact top-1's
  // ADC rank hit 5 517 (27.6 % of the corpus), past even a 20 %
  // shortlist. On these near-random embeddings the per-sub-space
  // quantization error sets the imposter count; k 16→256 drops the
  // worst observed rank to the low percents (PqProbe, measured below).
  private val PqK = 256
  private val PqShortlist = 100

  /** L2-normalized sub-vector frame (vec_id, m, sd): normalizing
    * first makes inner product ≡ cosine, so ADC scores approximate
    * the exact cosine ranking directly. */
  private def pqFrame(spark: SparkSession, sf: String): DataFrame =
    Tables.embeddings(spark, sf)
      .withColumn("nrm", sqrt(expr("graft_ddot(" +
        "transform(embedding, x -> cast(x as double)), " +
        "transform(embedding, x -> cast(x as double)))")))
      .filter(col("nrm") > 0)
      .withColumn("en", expr("transform(embedding, x -> cast(x as double) / nrm)"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> struct(m, slice(en, m * $PqSub + 1, $PqSub) as sd))")).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.sd").as("sd"))

  /** Nearest sub-centroid per (vector, sub-space) by exact L2 (ties →
    * lowest cid): a broadcast join of the ≤ PqM·PqK-row codebook plus
    * one per-(vector, m) row_number — no collect, scale-free. */
  private def pqCodes(sub: DataFrame, books: DataFrame): DataFrame =
    sub.join(broadcast(books), Seq("m"))
      .withColumn("d2", expr(
        "graft_ddot(sd, sd) - 2 * graft_ddot(sd, ce) + graft_ddot(ce, ce)"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id", "m").orderBy(asc("d2"), asc("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"), col("sd"))

  /** Deterministic per-sub-space Lloyd fit: hash-sampled init (same
    * portable key hash as IVF), exact-integer quantized means (same
    * 1e-6 discipline as [[update]]) — bit-reproducible across runs. */
  private def pqFit(sub: DataFrame): DataFrame = {
    val init = sub.withColumn("_graft_h", expr(SeedHash))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("m").orderBy(col("_graft_h"), col("vec_id"))))
      .filter(col("rn") <= PqK)
      .select(col("m"), (col("rn") - 1).cast("long").as("cid"),
        col("sd").as("ce"))
    (1 to KmeansIters).foldLeft(init) { (books, _) =>
      pqCodes(sub, books)
        .select(col("m"), col("cid"), posexplode(col("sd")).as(Seq("d", "v")))
        .groupBy(col("m"), col("cid"), col("d"))
        .agg(sum(expr("cast(floor(v * 1000000 + 0.5) as bigint)")).as("s"),
          count(lit(1)).as("cnt"))
        .groupBy(col("m"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(d, s, cnt))), " +
          "t -> cast(t.s as double) / (1000000.0 * cast(t.cnt as double)))")
          .as("ce"))
    }
  }

  /** Fit-once checkpoint of (codebooks, codes), per (session, sf) —
    * the same persisted-index discipline as [[trainedAssignment]]. */
  private def pqIndex(spark: SparkSession, sf: String): (DataFrame, DataFrame) = {
    val (bp, cp) = graft.FitOnce.scratch(spark, sf, "Ann.pq", "graft_pq_") { dir =>
      val books = dir.resolve("books").toString
      val codes = dir.resolve("codes").toString
      val sub = pqFrame(spark, sf)
      pqFit(sub).write.parquet(books)
      pqCodes(sub, spark.read.parquet(books))
        .select(col("vec_id"), col("m"), col("cid"))
        .write.parquet(codes)
      (books, codes)
    }
    (Tables.readCached(spark, bp), Tables.readCached(spark, cp))
  }

  /** ADC scores for every (query, corpus vector) pair, served from a
    * precomputed lookup table (the FAISS ADC-LUT; r21 verdict #3): the
    * per-sub-space integer partial p = floor(ddot(qd, ce)·1e6 + 0.5)
    * depends only on (qid, m, cid), so it is computed ONCE over the
    * |Q|·M·K-row books⋈queries frame (≤ 10,240 rows here) and the
    * corpus-scale codes stream pays one broadcast hash probe per row
    * instead of an 8-wide double dot product (guide §1.2 step 2
    * "per-task work"). The partials and their exact integer sum are
    * bit-identical to the per-row evaluation, so the serving contract
    * and oracle rows are unchanged. */
  private def adcScores(codes: DataFrame, books: DataFrame,
      queriesSub: DataFrame): DataFrame = {
    val lut = books.join(queriesSub, Seq("m"))
      .withColumn("p",
        expr("cast(floor(graft_ddot(qd, ce) * 1000000 + 0.5) as bigint)"))
      .select(col("m"), col("cid"), col("qid"), col("p"))
    codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("p")).as("adc"))
  }

  /** Probe surface for tools/PqProbe: the ADC rank of the exact top-1
    * per query — the shortlist size needed for recall@1 at this SF. */
  private[graft] def pqAdcRanks(spark: SparkSession, sf: String): DataFrame = {
    val (books, codes) = pqIndex(spark, sf)
    val queriesSub = pqFrame(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("m"), col("sd").as("qd"))
    val adc = adcScores(codes, books, queriesSub)
      .withColumn("adc_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("adc"), asc("vec_id"))))
    val vecs = vecFrame(spark, sf)
      .withColumn("nrm", sqrt(expr("graft_ddot(ed, ed)")))
    val exact = vecs.select(col("vec_id").as("tid"), col("ed"), col("nrm"))
      .crossJoin(broadcast(vecs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("ed").as("qed"),
          col("nrm").as("qnrm"))))
      .filter(col("qid") =!= col("tid"))
      .withColumn("sim",
        round(expr("graft_ddot(qed, ed)") / (col("qnrm") * col("nrm")), 6))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(desc("sim"), asc("tid"))))
      .filter(col("rn") === 1)
    exact.select(col("qid"), col("tid"))
      .join(adc, col("tid") === col("vec_id") && exact("qid") === adc("qid"))
      .select(exact("qid"), col("tid"), col("adc_rank"))
      .orderBy("qid")
  }

  /** PQ-ADC top-1 with exact re-rank, scored through the serving
    * contract: for each query (vec_id < 5) the ADC score (sum of
    * per-sub-space table lookups — integer-quantized partials, so the
    * 4-way sum is order-independent) ranks the corpus from the CODES
    * alone; the top [[PqShortlist]] re-rank with exact cosine, and the
    * contract `rerank_ok` asserts the re-ranked top-1 IS the exact
    * top-1 (the oracle pins exact top-1 + literal TRUE, like the other
    * accuracy-contract rows). 100 TB shape: codebooks and query slices
    * broadcast (KBs), the corpus side streams codes — the full-float
    * scan happens only for shortlist·|Q| rows. */
  def annPq(spark: SparkSession, sf: String): DataFrame = {
    val (books, codes) = pqIndex(spark, sf)
    val queriesSub = pqFrame(spark, sf).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("m"), col("sd").as("qd"))
    // ADC: one integer partial per (query, target, m), summed exactly —
    // served from the precomputed LUT (see adcScores).
    val adc = adcScores(codes, books, queriesSub)
    // Shortlist dial = max(PqShortlist, n/16), derived from a window
    // count in the same pass (no extra action). Measured on this
    // corpus (tools/PqProbe, 8-bit codebooks): the exact top-1's worst
    // ADC rank is 35 of 2,000 at sf0.1 and 26 of 20,000 at ×10 — the
    // rank PERCENTILE improves with n (fixed ADC noise, rising top-1
    // sim), so the fixed fraction holds margin upward: ≥2.8× at the
    // 100-floor, ~48× at ×10. (The earlier 4-bit books needed n/5 and
    // still failed the ×10 contract at rank 5,517 — the dial cannot
    // buy back a too-coarse quantizer.) The arithmetic is
    // deterministic, so the measured margin holds on every rerun.
    val shortW = org.apache.spark.sql.expressions.Window.partitionBy("qid")
    val short = adc.withColumn("rn", row_number().over(
        shortW.orderBy(desc("adc"), asc("vec_id"))))
      .withColumn("_n", count(lit(1)).over(shortW))
      .filter(col("rn") <= greatest(lit(PqShortlist),
        (col("_n") / 16).cast("long")))
      .select(col("qid"), col("vec_id"))
    // Exact cosine re-rank of the shortlist (same rounded formula and
    // tie-break as the exact knn family, so parity with the oracle's
    // list_cosine_similarity holds).
    val vecs = vecFrame(spark, sf)
      .withColumn("nrm", sqrt(expr("graft_ddot(ed, ed)")))
    // Both top-1 selections are argmax patterns: `max(struct(sim,
    // -id))` (the aggArgmax convention — highest sim, ties to the
    // LOWEST id, exactly the row_number(desc sim, asc id) = 1 row)
    // replaces the per-qid row_number windows (r22, guide §2.3
    // "aggregate before you shuffle"): a DeclarativeAggregate reduces
    // map-side to |Q| rows per task, where the window shipped EVERY
    // scored row through a |Q|-partition exchange + sort — the serial
    // bottleneck at corpus scale. Double comparison semantics are the
    // same total order sorts use, so selection is unchanged.
    val reranked = short
      .join(vecs.select(col("vec_id"), col("ed"), col("nrm")), Seq("vec_id"))
      .join(broadcast(vecs.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("ed").as("qed"),
            col("nrm").as("qnrm"))), Seq("qid"))
      .withColumn("sim",
        round(expr("graft_ddot(qed, ed)") / (col("qnrm") * col("nrm")), 6))
      .groupBy(col("qid"))
      .agg(max(struct(col("sim"), (-col("vec_id")).as("nvid"))).as("_top"))
      .select(col("qid"), (-col("_top.nvid")).as("top1"),
        col("_top.sim").as("exact_sim"))
    // The exact top-1 over the FULL corpus, for the contract.
    val exact = vecs.select(col("vec_id").as("tid"), col("ed"), col("nrm"))
      .crossJoin(broadcast(vecs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("ed").as("qed"),
          col("nrm").as("qnrm"))))
      .filter(col("qid") =!= col("tid"))
      .withColumn("sim",
        round(expr("graft_ddot(qed, ed)") / (col("qnrm") * col("nrm")), 6))
      .groupBy(col("qid"))
      .agg(max(struct(col("sim"), (-col("tid")).as("ntid"))).as("_tx"))
      .select(col("qid"), (-col("_tx.ntid")).as("tid"))
    reranked.join(exact, Seq("qid"))
      .select(col("qid"), col("top1"), col("exact_sim"),
        (col("top1") === col("tid")).as("rerank_ok"))
      .orderBy("qid")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_cos_neardup" -> cosNearDup,
    "llm_cos_dedup_keep" -> cosDedupKeep,
    "llm_ann_lsh" -> annLsh,
    "llm_ann_ivf" -> annIvf,
    "llm_ann_ivf_probe" -> annIvfProbe,
    "llm_ann_ivf_topk" -> annIvfTopk,
    "llm_ann_pq" -> annPq
  )

  private val duckPlaneDot: Int => String = i =>
    s"list_sum(list_transform(range(64), d -> CAST(embedding[d + 1] AS DOUBLE) * " +
      s"(CASE WHEN (($i * 64 + d) * 2654435761) % 4294967296 < 2147483648 THEN 1.0 ELSE -1.0 END)))"

  private val duckBucket: String =
    (0 until 6).map { i =>
      s"(CASE WHEN ${duckPlaneDot(i)} > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  val oracle: Map[String, String] = Map(
    // Accuracy-contract oracle (the minhash_est / countmin pattern):
    // the exact top-1 neighbor per query is recomputed independently,
    // and the PQ serving contract (ADC shortlist -> exact re-rank
    // recovers the exact top-1) is asserted as literal TRUE — a
    // quantizer bad enough to push the true top-1 out of the
    // 100-candidate shortlist hash-fails the round.
    // Pairwise shapes hoist the float→double list cast into a `ce`
    // CTE (see Similarity.oracle — once per row, not per pair; DuckDB
    // materializes the CTE, hours → seconds on the ×10 corpus).
    "llm_ann_pq" ->
      ("WITH ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT q.vec_id AS qid, t.vec_id AS tid, " +
        "round(list_cosine_similarity(q.e, t.e), 6) AS sim " +
        "FROM (SELECT * FROM ce WHERE vec_id < 5) q JOIN ce t ON t.vec_id <> q.vec_id) " +
        "SELECT qid, tid AS top1, sim AS exact_sim, TRUE AS rerank_ok FROM (" +
        "SELECT qid, tid, sim, " +
        "ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, tid ASC) AS rn " +
        "FROM p) s WHERE rn = 1 ORDER BY qid"),
    "llm_cos_neardup" ->
      ("WITH ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) " +
        "SELECT x, y, sim FROM (SELECT a.vec_id AS x, b.vec_id AS y, " +
        "round(list_cosine_similarity(a.e, b.e), 6) AS sim " +
        "FROM ce a JOIN ce b ON a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45 ORDER BY x, y"),
    "llm_cos_dedup_keep" ->
      ("WITH RECURSIVE ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT x, y FROM (" +
        "SELECT a.vec_id AS x, b.vec_id AS y, " +
        "round(list_cosine_similarity(a.e, b.e), 6) AS sim " +
        "FROM ce a JOIN ce b ON a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45), " +
        "e AS (SELECT x AS a, y AS b FROM p UNION ALL SELECT y AS a, x AS b FROM p), " +
        "vtx AS (SELECT DISTINCT a AS v FROM e), " +
        "r AS (SELECT v AS src, v AS dst FROM vtx " +
        "UNION SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a), " +
        "comp AS (SELECT src AS vec_id, MIN(dst) AS component FROM r GROUP BY src) " +
        "SELECT vec_id FROM embeddings WHERE vec_id NOT IN " +
        "(SELECT vec_id FROM comp WHERE vec_id <> component) ORDER BY vec_id"),
    "llm_ann_lsh" ->
      (s"WITH sig AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, CAST($duckBucket AS BIGINT) AS bucket FROM embeddings) " +
        "SELECT x, y, bucket, sim FROM (SELECT a.vec_id AS x, b.vec_id AS y, a.bucket AS bucket, " +
        "round(list_cosine_similarity(a.e, b.e), 6) AS sim " +
        "FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t " +
        "WHERE sim >= 0.45 ORDER BY x, y"),
    "llm_ann_ivf" -> ivfOracleSql(1),
    "llm_ann_ivf_probe" -> ivfOracleSql(2),
    "llm_ann_ivf_topk" -> ivfTopkOracleSql
  )
}

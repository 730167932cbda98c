package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY.md §2.10).
  *
  * The brute-force all-pairs form is the correctness baseline; its
  * scale path is blocking (LSH band buckets / IVF cells) so the
  * quadratic part runs within buckets only — see AnnLsh. Dot products
  * use higher-order functions with float→double casts on both engines
  * (P3) and similarities are rounded to 6 dp before ordering so
  * engine-internal summation ulp noise cannot reorder results.
  */
object Similarity {

  /** Sequential-order dot product in double via the native FloatDot
    * expression (graft.functions.VectorExprs) — same summation order
    * as the HOF fold and DuckDB's list math, ~10× faster. */
  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot("embedding", "embedding")))

  /** The whole vector table packed into ONE row as an array of
    * struct(vec_id, nrm, embedding), for broadcast to the cosine
    * kernels. ~0.5 MB per 1k vectors: broadcastable to ~1 M vectors,
    * beyond which llm_ann_lsh is the scale path. Joined on a constant
    * key so the plan is a BroadcastHashJoin, never a nested loop. */
  private[graft] def packedVectors(spark: SparkSession, sf: String): DataFrame = {
    graft.api.GraftOps.packVectors(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
  }

  /** Global top-10 cosine pairs — exact (identical to the brute-force
    * all-pairs result) but via the packed-kernel plan: each row scans
    * the broadcast vector table in one tight loop and emits its top-10
    * partners; the global ordered limit over the per-row top-10s is
    * provably the global top-10 (see CosTopK). No n²-row
    * materialization, no BroadcastNestedLoopJoin. */
  def knnCosine(spark: SparkSession, sf: String): DataFrame = {
    // One parquet file → one split; spread the kernel across cores.
    graft.api.GraftOps.cosineTopK(
        Tables.embeddings(spark, sf)
          .repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", 10)
      .filter(col("x") < col("y"))
      .orderBy(desc("sim"), asc("x"), asc("y"))
      .limit(10)
  }

  /** k-NN of one query vector (vec_id 0): top-3 per label. The query
    * row is a 1-row broadcast — no driver-side collect. */
  def knnQuery(spark: SparkSession, sf: String): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, sf))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val sim = round(dot("embedding", "qe") / (col("nrm") * col("qn")), 6)
    val ranked = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("label"), col("vec_id"), sim.as("sim"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("label").orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rn") <= 3)
    ranked.select(col("label"), col("rn").cast("long").as("rn"),
        col("vec_id"), col("sim"))
      .orderBy("label", "rn")
  }

  /** Batch k-NN — the serving shape: top-3 neighbors for EACH of a set
    * of query vectors (vec_id < 10) in one pass. The query rows ride
    * the same packed-broadcast kernel as the full scan (each query row
    * scans the broadcast table once, top-k per row, no n² join), so
    * batch size scales the work linearly and the whole thing is one
    * narrow stage. */
  def knnBatch(spark: SparkSession, sf: String): DataFrame = {
    Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10)
      .withColumn("_graft_j", lit(0))
      .join(broadcast(packedVectors(spark, sf)), "_graft_j")
      .select(col("vec_id").as("qid"),
        posexplode(expr("graft_cos_topk(vec_id, embedding, _graft_vs, 3)"))
          .as(Seq("pos", "p")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rn"),
        col("p.y").as("nbr"), col("p.sim").as("sim"))
      .orderBy("qid", "rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_knn_cosine" -> knnCosine,
    "llm_knn_query" -> knnQuery,
    "llm_knn_batch" -> knnBatch
  )

  // The float→double list cast is hoisted into a `ce` CTE on every
  // pairwise oracle (semantics-identical — the same cast, evaluated
  // once per ROW instead of once per PAIR): DuckDB materializes a CTE
  // referenced from both join sides, which took the ×10 gate's
  // 2×10⁸-pair shapes from hours (per-pair list allocation) to
  // seconds. Measured live on the ×10 corpus: llm_knn_cosine 5 s
  // hoisted vs >40 min un-hoisted before the run was cut.
  val oracle: Map[String, String] = Map(
    "llm_knn_cosine" ->
      ("WITH ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) " +
        "SELECT a.vec_id AS x, b.vec_id AS y, " +
        "round(list_cosine_similarity(a.e, b.e), 6) AS sim " +
        "FROM ce a JOIN ce b ON a.vec_id < b.vec_id " +
        "ORDER BY sim DESC, x ASC, y ASC LIMIT 10"),
    // Kernel ordering = (rounded sim DESC, partner id ASC), matching
    // the oracle's row_number ordering exactly (sim computed once in
    // the pair CTE; ranking over the materialized value is the same
    // total order the inline expression produced).
    "llm_knn_batch" ->
      ("WITH ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT q.vec_id AS qid, t.vec_id AS nbr, " +
        "round(list_cosine_similarity(q.e, t.e), 6) AS sim " +
        "FROM (SELECT * FROM ce WHERE vec_id < 10) q JOIN ce t ON t.vec_id <> q.vec_id) " +
        "SELECT qid, rn, nbr, sim FROM (SELECT qid, nbr, sim, " +
        "row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nbr ASC) AS rn FROM p) s " +
        "WHERE rn <= 3 ORDER BY qid, rn"),
    "llm_knn_query" ->
      ("WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0), " +
        "s AS (SELECT label, vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
        "(SELECT qe FROM q)), 6) AS sim FROM embeddings WHERE vec_id <> 0), " +
        "r AS (SELECT label, vec_id, sim, row_number() OVER (PARTITION BY label ORDER BY sim DESC, vec_id ASC) AS rn FROM s) " +
        "SELECT label, rn, vec_id, sim FROM r WHERE rn <= 3 ORDER BY label, rn")
  )
}

package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan, Window}
import org.apache.spark.sql.functions._

/** One benchmark JVM.
  *
  *   Main <workload> <warmDir> <dataDir> <outFile> <seed> <rounds> <trace 0|1> <q1,q2,...>
  *
  * Builds the session with graft.Bench's default configuration at
  * local[nproc], runs Bench's engine warm-up on `warmDir` and prints
  * [[Main.Ready]]. Then it executes every query of the list under three
  * protocols, in a seeded order per pass:
  *
  *   - cold: the first `Prepared.df` build plus the first materialization
  *     through the `noop` sink;
  *   - count: warm `Prepared.df(...).count()`;
  *   - noop: warm `Prepared.df(...).write.format("noop")` materialization.
  *
  * After one untimed count pass (the cold pass already ran the noop
  * plans once), `rounds` rounds of one count and one noop pass run. Then an untimed
  * pass digests each query's output (row count and an order-insensitive
  * hash). Raw samples go to `outFile` as JSON; the caller turns them into
  * metrics.
  *
  * With trace 1 the [[Tracer]] is attached during the cold pass and half
  * of the timed passes; the other half run untraced, so the tracing
  * overhead is measured in the same JVM. A traced round times each
  * protocol four times, so a traced run has half the rounds, rounded up.
  */
object Main {
  val Ready = "PERFBENCH_READY"

  /** The query-owning modules, by their public `queries` maps. */
  lazy val Modules: Seq[(String, Set[String])] = Seq(
    "Scans" -> graft.operators.Scans.queries.keySet,
    "Joins" -> graft.operators.Joins.queries.keySet,
    "Aggregates" -> graft.operators.Aggregates.queries.keySet,
    "SortSet" -> graft.operators.SortSet.queries.keySet,
    "Graph" -> graft.operators.Graph.queries.keySet,
    "Windows" -> graft.operators.Windows.queries.keySet,
    "Scalars" -> graft.functions.Scalars.queries.keySet,
    "Udfs" -> graft.functions.Udfs.queries.keySet,
    "Events" -> graft.streaming.Events.queries.keySet,
    "StreamDemo" -> graft.streaming.StreamDemo.queries.keySet,
    "Dedup" -> graft.llm.Dedup.queries.keySet,
    "Similarity" -> graft.llm.Similarity.queries.keySet,
    "TextStats" -> graft.llm.TextStats.queries.keySet,
    "TextHash" -> graft.llm.TextHash.queries.keySet,
    "LangId" -> graft.llm.LangId.queries.keySet,
    "Ann" -> graft.llm.Ann.queries.keySet,
    "Multimodal" -> graft.llm.Multimodal.queries.keySet,
    "Curation" -> graft.llm.Curation.queries.keySet)

  def main(args: Array[String]): Unit = {
    val Array(workload, warmDir, dataDir, outFile, seed, rounds, trace, qs) = args
    Scratch.baseline()
    val spark = setup(warmDir)
    println(Ready)
    System.out.flush()
    val out = new Run(spark, workload, dataDir, seed.toLong, rounds.toInt,
      trace == "1", qs.split(",").toSeq).execute()
    Files.writeString(Paths.get(outFile), out)
    spark.stop()
  }

  /** graft.Bench's session: the same configuration with every
    * SPARK_GRAFT_* knob at its default, and the same engine warm-up,
    * followed by a short warm-up of the harness's own. */
  def setup(warmDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", graft.Tables.scratchDir("graft_shuffle_").toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "200")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val built = uptime()
    warmUp(spark, warmDir)
    System.err.println(f"[perfbench] setup: session built at $built%.3f s, " +
      f"warm-up done at ${uptime()}%.3f s of JVM uptime")
    spark
  }

  private def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, collect_list, lit}
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/nation.parquet").groupBy("n_regionkey").count().collect()
    graft.functions.VectorExprs.register(spark)
    val v = spark.range(200).selectExpr("id",
      "transform(sequence(0, 15), i -> cast((id * 31 + i) % 97 as float) / 97) as embedding")
    val packed = v
      .selectExpr("struct(id as vec_id, sqrt(graft_dot(embedding, embedding)) as nrm, embedding) as s")
      .agg(collect_list("s").as("vs")).withColumn("j", lit(0))
    v.withColumn("j", lit(0)).join(broadcast(packed), "j")
      .selectExpr("explode(graft_cos_topk(id, embedding, vs, 3)) as p").count()
    v.withColumn("j", lit(0)).join(broadcast(packed), "j")
      .selectExpr("explode(graft_cos_nbrs(id, embedding, vs, cast(0.5 as double))) as p").count()
    val nat = spark.read.parquet(s"$dir/nation.parquet")
    nat.join(broadcast(spark.read.parquet(s"$dir/region.parquet")),
      col("n_regionkey") === col("r_regionkey")).count()
    spark.readStream.schema(nat.schema)
      .option("pathGlobFilter", "nation.parquet").parquet(dir)
      .groupBy("n_regionkey").count()
      .writeStream.format("memory").queryName("perfbench_warm_stream")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.catalog.dropTempView("perfbench_warm_stream")
    // Beyond Bench's warm-up: the query registry is loaded and the
    // protocols' own actions run once on a join, aggregate and window
    // plan over tables no query times. The first three queries of the
    // cold pass, which the seed picks, then pay about 1 s of first use
    // between them instead of 2 s.
    require(graft.SparkEntry.queries.nonEmpty && Modules.nonEmpty)
    val plan = nat.join(spark.read.parquet(s"$dir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name").agg(count(lit(1)).as("n"))
      .withColumn("rk", rank().over(org.apache.spark.sql.expressions.Window.orderBy(col("n"))))
    plan.write.format("noop").mode("overwrite").save()
    plan.count(): Unit
  }

  /** Plan nodes whose loss under `count()` marks a pruned query. */
  def heavyNodes(p: LogicalPlan): Map[String, Int] =
    p.collectWithSubqueries {
      case _: Window => "Window"
      case _: Aggregate => "Aggregate"
      case _: Join => "Join"
      case _: Generate => "Generate"
    }.groupBy(identity).map { case (k, v) => k -> v.size }
}

/** Bytes in the graft scratch directories this JVM created: entries named
  * `graft_*` under /dev/shm and java.io.tmpdir (the roots
  * graft.Tables.scratchDir uses) that did not exist when it started. `mb`
  * leaves out the shuffle directory (`graft_shuffle_*`, Spark's local
  * dir): what it holds at a given instant depends on when the
  * ContextCleaner last ran, not on the engine's own artifacts. */
object Scratch {
  private def roots: Seq[File] = Seq(new File("/dev/shm"),
    new File(System.getProperty("java.io.tmpdir"))).filter(_.isDirectory).distinct
  private def list(): Set[File] = roots.flatMap(r => Option(r.listFiles()).toSeq.flatten
    .filter(_.getName.startsWith("graft_"))).toSet
  private var before = Set.empty[File]
  def baseline(): Unit = before = list()
  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum else f.length()
  def mb(): Double = byDir().filter(_._1 != "graft_shuffle_").values.sum

  /** MB per scratch directory, keyed by its name prefix. */
  def byDir(): Map[String, Double] = (list() -- before).toSeq
    .groupMapReduce(_.getName.replaceAll("[0-9]+$", ""))(du(_) / (1024.0 * 1024.0))(_ + _)
}

/** One execution of one query under one protocol. */
final case class Exec(protocol: String, pass: Int, traced: Boolean, query: String,
    wallS: Double, buildS: Double, error: Option[String], layers: Map[String, Double])

final class Run(spark: SparkSession, workload: String, dir: String, seed: Long,
    rounds: Int, trace: Boolean, queries: Seq[String]) {
  // java.util.Random's first draws are nearly equal for nearby seeds, so
  // the seed is scrambled first; otherwise seeds 1, 2, 3... give one order.
  private val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  private val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
  private val execs = ArrayBuffer.empty[Exec]
  // (protocol, pass, timed, traced, total wall, scratch growth in MB)
  private val passes = ArrayBuffer.empty[(String, Int, Boolean, Boolean, Double, Double)]
  private val selfTest = ArrayBuffer.empty[(String, Int, Long, Long)]
  // Prepared holds its DataFrames weakly; a collected one would put a
  // rebuild into a timed sample.
  private val pinned = mutable.Map.empty[String, DataFrame]
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def countAction(df: DataFrame): Unit = df.count(): Unit
  private def noopAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs one query: `Prepared.df` then the protocol's action. */
  private def one(protocol: String, pass: Int, traced: Boolean, q: String,
      action: DataFrame => Unit): Exec = {
    val t = tracer.filter(_ => traced)
    t.foreach(_.openRoot(Seq("workload" -> workload, "protocol" -> protocol,
      "pass" -> pass.toString, "query" -> q, "seed" -> seed.toString)))
    val compile0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    var buildS = 0.0
    var analysisS = 0.0
    val err = try {
      t.foreach(_.openChild("api.build"))
      val df = graft.api.Prepared.df(spark, dir, q)
      buildS = secs(t0)
      // The builder analyzes eagerly, before any execution event; a
      // memoized DataFrame would report its first analysis again.
      if (protocol == "cold") analysisS = df.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
      pinned(q) = df
      t.foreach(_.openChild("action"))
      action(df)
      None
    } catch { case e: Throwable =>
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val wall = secs(t0)
    val layers = t.map { tr =>
      val l = tr.closeRoot(tr.now(), CodeGenerator.compileTime - compile0)
      l + ("build_s" -> buildS) + ("analysis_s" -> (l.getOrElse("analysis_s", 0.0) + analysisS))
    }.getOrElse(Map.empty)
    err.foreach(m => System.err.println(s"[perfbench] $protocol $q failed: $m"))
    val e = Exec(protocol, pass, traced, q, wall, buildS, err, layers)
    execs += e
    e
  }

  private def pass(protocol: String, index: Int, timed: Boolean, traced: Boolean,
      action: DataFrame => Unit): Unit = {
    val t = tracer.filter(_ => traced)
    t.foreach(_.attach())
    val jobs0 = t.map(_.jobsStarted).getOrElse(0L)
    val scratch0 = Scratch.mb()
    val run = rng.shuffle(queries).map(q => one(protocol, index, traced, q, action))
    t.foreach { tr =>
      tr.drain()
      selfTest += ((protocol, index, tr.jobsStarted - jobs0,
        run.map(_.layers.getOrElse("jobs", 0.0)).sum.toLong))
      tr.detach()
    }
    passes += ((protocol, index, timed, traced, run.map(_.wallS).sum, Scratch.mb() - scratch0))
  }

  def execute(): String = {
    pass("cold", 0, timed = true, traced = trace, noopAction)
    val fillS = if (trace) rebuildSavings() else 0.0
    pass("count", 0, timed = false, traced = false, countAction)
    // A fixed number of rounds: plans keep warming from round to round, so
    // stopping on the clock would give a slowed run fewer and colder
    // samples, widening the run-to-run spread.
    for (i <- 1 to (if (trace) (rounds + 1) / 2 else rounds);
         // Traced runs time each protocol traced, untraced, untraced,
         // traced, so warming within the round does not bias the overhead.
         (p, action) <- Seq("count" -> (countAction _), "noop" -> (noopAction _));
         traced <- if (trace) Seq(true, false, false, true) else Seq(false))
      pass(p, i, timed = true, traced = traced, action)
    val digests = queries.map(q => q -> digest(q))
    val pruned = if (trace) queries.count(prunedUnderCount) else 0
    val scratchMb = Scratch.mb()
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val calib = try graft.Bench.calibKernel() catch { case _: Throwable => -1.0 }
    val calibMem = try graft.Bench.calibMemKernel() catch { case _: Throwable => -1.0 }
    Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors),
      "queries" -> Json.arr(queries.map(Json.str)),
      "modules" -> Json.obj(Main.Modules.map { case (m, ks) =>
        m -> Json.arr(queries.filter(ks).map(Json.str)) }: _*),
      "executions" -> Json.arr(execs.toSeq.map { e =>
        Json.obj("protocol" -> Json.str(e.protocol), "pass" -> Json.num(e.pass),
          "traced" -> Json.bool(e.traced), "query" -> Json.str(e.query),
          "wall_s" -> Json.num(e.wallS), "build_s" -> Json.num(e.buildS),
          "error" -> e.error.map(Json.str).getOrElse("null"),
          "layers" -> Json.obj(e.layers.toSeq.sortBy(_._1).map { case (k, v) =>
            k -> Json.num(v) }: _*))
      }),
      "passes" -> Json.arr(passes.toSeq.map { case (p, i, timed, traced, total, scr) =>
        Json.obj("protocol" -> Json.str(p), "pass" -> Json.num(i),
          "timed" -> Json.bool(timed), "traced" -> Json.bool(traced),
          "total_s" -> Json.num(total), "scratch_growth_mb" -> Json.num(scr))
      }),
      "selftest_jobs" -> Json.arr(selfTest.toSeq.map { case (p, i, total, attributed) =>
        Json.obj("protocol" -> Json.str(p), "pass" -> Json.num(i),
          "pass_total" -> Json.num(total), "per_query_sum" -> Json.num(attributed))
      }),
      "digests" -> Json.obj(digests.map { case (q, d) => q -> (d match {
        case Right((rows, h)) => Json.obj("rows" -> Json.num(rows), "hash" -> Json.str(h))
        case Left(err) => Json.obj("error" -> Json.str(err))
      }) }: _*),
      "fill_s" -> Json.num(fillS),
      "pruned_queries" -> Json.num(pruned),
      "scratch_mb" -> Json.num(scratchMb),
      "scratch_dirs_mb" -> Json.obj(Scratch.byDir().toSeq.sorted.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "heap_live_mb" -> Json.num(heapMb),
      "calib_s" -> Json.num(calib),
      "calib_mem_s" -> Json.num(calibMem),
      "spans" -> tracer.map(t => Json.arr(spanRecords(t))).getOrElse("[]"))
  }

  /** First build minus a fresh rebuild with the fit-once caches hot, over
    * the builders that are not side-effecting. */
  private def rebuildSavings(): Double = {
    val firsts = execs.filter(e => e.protocol == "cold" && e.error.isEmpty)
      .map(e => e.query -> e.buildS).toMap
    queries.filterNot(graft.api.Prepared.sideEffecting).flatMap(q => firsts.get(q).map { first =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir)
      math.max(0.0, first - secs(t0))
    }).sum
  }

  /** Whether `count()` optimizes away a Window, Aggregate, Join or
    * Generate node that the materialized plan keeps. */
  private def prunedUnderCount(q: String): Boolean = pinned.get(q).exists { df =>
    !graft.api.Prepared.sideEffecting(q) && {
      val full = Main.heavyNodes(df.queryExecution.optimizedPlan)
      val counted = Main.heavyNodes(df.groupBy().count().queryExecution.optimizedPlan)
        .map { case (k, v) => k -> (if (k == "Aggregate") v - 1 else v) }
      full.exists { case (k, v) => counted.getOrElse(k, 0) < v }
    }
  }

  /** Row count and an order-insensitive content hash of a query's output. */
  private def digest(q: String): Either[String, (Long, String)] = try {
    val df = graft.api.Prepared.df(spark, dir, q)
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = named.select(xxhash64(to_json(struct(named.columns.map(col): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    Right((r.getLong(0), String.valueOf(r.get(1))))
  } catch { case e: Throwable =>
    Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
  }

  private def spanRecords(t: Tracer): Seq[String] = {
    val spans = t.spans.toSeq
    val self = Tracer.selfTimes(spans)
    spans.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start),
        "dur_ms" -> Json.num(s.end - s.start), "self_ms" -> Json.num(self(s.id))) ++
        s.attrs.map { case (k, v) => k -> Json.str(v) }: _*)
    }
  }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15)
      d.toLong.toString else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval, in milliseconds since the tracer started. */
final case class Span(id: Long, parent: Long, name: String,
    attrs: Seq[(String, String)], start: Double, end: Double)

/** In-memory tracer for one benchmark JVM, built only on Spark's public
  * listener APIs. The client thread opens a root `query` span per
  * execution with children `api.build` and `action`; the child's id rides
  * the SparkContext local property [[Tracer.SpanKey]], so every job (and
  * through it every stage and task) is attributed to the call that
  * started it. Query-execution events carry no local properties; they
  * are attributed to the open root span, which is safe because the
  * listener bus is drained before the root span closes.
  *
  * Per root span it accumulates layer quantities (jobs, stages, tasks,
  * task metrics, Catalyst phase times, WholeStageCodegen subtrees); `spans`
  * holds root, child, job and stage spans for the trace file.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  /** Guards all listener-side state, which the bus thread writes and the
    * client thread reads after a drain. */
  private val lock = new Object
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - t0Nanos) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - t0Millis).toDouble

  private var nextId = 0L
  private def newId(): Long = lock.synchronized { nextId += 1; nextId }

  /** Every closed span; guarded by `lock`. */
  val spans = ArrayBuffer.empty[Span]
  private def addSpan(s: Span): Int = lock.synchronized { spans += s; spans.length - 1 }
  private final class Open(val id: Long, val name: String,
      val attrs: Seq[(String, String)], val start: Double)
  @volatile private var root: Open = null
  private var child: Open = null
  private val rootOfChild = mutable.Map.empty[Long, Long]
  private val isBuild = mutable.Set.empty[Long]
  private val jobSpan = mutable.Map.empty[Int, Int]                 // job -> index in spans
  private val stageRoot = mutable.Map.empty[Int, (Long, Long)]       // stage -> (job span, root)
  private val acc = mutable.Map.empty[Long, Acc]
  private var jobsSeen = 0L

  final class Acc {
    val q = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stageIv = ArrayBuffer.empty[(Double, Double)]
    val taskIv = ArrayBuffer.empty[(Double, Double)]
  }
  private def accOf(root: Long) = acc.getOrElseUpdate(root, new Acc)

  def attach(): Unit = {
    sc.addSparkListener(this)
    org.apache.spark.sql.SparkSession.active.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    org.apache.spark.sql.SparkSession.active.listenerManager.unregister(this)
    sc.setLocalProperty(SpanKey, null)
  }
  def drain(): Unit = org.apache.spark.GraftSparkHooks.drainListenerBus(sc)

  /** Jobs seen while attached, over all attachments (the self-test total). */
  def jobsStarted: Long = lock.synchronized(jobsSeen)

  def openRoot(attrs: Seq[(String, String)]): Unit =
    root = new Open(newId(), "query", attrs, now())

  def openChild(name: String): Unit = {
    closeChild()
    child = new Open(newId(), name, Nil, now())
    lock.synchronized {
      rootOfChild(child.id) = root.id
      if (name == "api.build") isBuild += child.id
    }
    sc.setLocalProperty(SpanKey, child.id.toString)
  }

  private def closeChild(): Unit = if (child != null) {
    addSpan(Span(child.id, root.id, child.name, Nil, child.start, now()))
    child = null
  }

  /** Closes the root span at `endMs` (the client-measured end of the
    * call), drains the bus and returns the query's layer quantities. */
  def closeRoot(endMs: Double, compileNs: Long): Map[String, Double] = {
    closeChild()
    sc.setLocalProperty(SpanKey, null)
    val r = root
    addSpan(Span(r.id, 0L, r.name, r.attrs, r.start, endMs))
    drain()
    root = null
    lock.synchronized {
      val a = acc.remove(r.id).getOrElse(new Acc)
      val wall = (endMs - r.start) / 1e3
      val stageUnion = unionLength(a.stageIv) / 1e3
      a.q.toMap ++ Map(
        "wall_s" -> wall,
        "compile_s" -> compileNs / 1e9,
        "stage_union_s" -> stageUnion,
        "driver_gap_s" -> math.max(0.0, wall - stageUnion),
        "max_concurrent_tasks" -> maxOverlap(a.taskIv).toDouble)
    }
  }

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobsSeen += 1
    spanOf(e.properties).flatMap(s => rootOfChild.get(s).map(s -> _)).foreach {
      case (span, r) =>
        val id = newId()
        e.stageInfos.foreach(si => stageRoot(si.stageId) = (id, r))
        jobSpan(e.jobId) = addSpan(Span(id, span, "job",
          Seq("job_id" -> e.jobId.toString), fromEpoch(e.time), fromEpoch(e.time)))
        val q = accOf(r).q
        q("jobs") += 1
        if (isBuild(span)) q("fill_jobs") += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpan.remove(e.jobId).foreach(i => spans(i) = spans(i).copy(end = fromEpoch(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val si = e.stageInfo
    stageRoot.get(si.stageId).foreach { case (jobId, r) =>
      val a = accOf(r)
      a.q("stages") += 1
      for (s <- si.submissionTime; c <- si.completionTime) {
        a.stageIv += ((fromEpoch(s), fromEpoch(c)))
        addSpan(Span(newId(), jobId, "stage",
          Seq("stage_id" -> si.stageId.toString), fromEpoch(s), fromEpoch(c)))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageRoot.get(e.stageId).foreach { case (_, r) =>
      val a = accOf(r)
      a.q("tasks") += 1
      val ti = e.taskInfo
      if (ti != null) a.taskIv += ((fromEpoch(ti.launchTime), fromEpoch(ti.finishTime)))
      val m = e.taskMetrics
      if (m != null) {
        val q = a.q
        q("run_s") += m.executorRunTime / 1e3
        q("cpu_s") += m.executorCpuTime / 1e9
        q("gc_s") += m.jvmGCTime / 1e3
        q("deser_s") += m.executorDeserializeTime / 1e3
        q("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
        q("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / MB
        q("fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
        q("spill_mb") += m.diskBytesSpilled / MB
        q("input_mb") += m.inputMetrics.bytesRead / MB
        q("input_rows") += m.inputMetrics.recordsRead.toDouble
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lock.synchronized {
      val r = root
      if (r != null) {
        val q = accOf(r.id).q
        val ph = qe.tracker.phases
        def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
        q("analysis_s") += phase("analysis")
        q("optimize_s") += phase("optimization")
        q("planning_s") += phase("planning")
        q("wscg_stages") += wholeStageSubtrees(qe.executedPlan).toDouble
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  /** WholeStageCodegen subtrees in a physical plan, looking through
    * adaptive plans and query stages. */
  def wholeStageSubtrees(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => wholeStageSubtrees(a.executedPlan)
    case s: QueryStageExec => wholeStageSubtrees(s.plan)
    case w: WholeStageCodegenExec => 1 + w.children.map(wholeStageSubtrees).sum
    case o => o.children.map(wholeStageSubtrees).sum +
      o.subqueries.map(wholeStageSubtrees).sum
  }

  /** Total length of the union of intervals. */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.toSeq.sortBy(_._1)) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Largest number of intervals open at one instant. */
  def maxOverlap(iv: Iterable[(Double, Double)]): Int = {
    val ev = iv.toSeq.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var cur = 0; var best = 0
    ev.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best
  }

  /** Self time of every span: its length minus the union of its
    * children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))).filter(x => x._2 > x._1)
      s.id -> math.max(0.0, (s.end - s.start) - unionLength(iv))
    }.toMap
  }
}

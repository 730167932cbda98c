package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** At-most-once memoizer: a fill runs once per key, racing callers
  * block on it and all see its result, and independent keys never
  * wait on each other.
  *
  * The map holds a once-holder per key and the fill runs under that
  * holder's monitor, outside `ConcurrentHashMap.computeIfAbsent` (which
  * rejects a fill that fills another key of the same map). A fill may
  * fill any other key; a fill that re-enters its own key throws instead
  * of deadlocking. A fill that throws leaves its key unfilled, so the
  * next call fills again.
  */
final class FitOnce[K, V] {
  private final class Once {
    @volatile var done = false
    var value: V = _
  }
  private val m = new java.util.concurrent.ConcurrentHashMap[K, Once]()

  def apply(key: K)(fill: => V): V = {
    val once = m.computeIfAbsent(key, _ => new Once)
    if (once.done) once.value
    else {
      if (Thread.holdsLock(once))
        throw new IllegalStateException(s"fit-once fill of $key re-entered its own key")
      once.synchronized {
        if (!once.done) { once.value = fill; once.done = true }
        once.value
      }
    }
  }
}

/** The engine's one fit-once store: every session artifact (checkpoint
  * paths, trained models, gate measurements, input layouts) lives here
  * under the key (application, scope, tag). Keying on the SparkContext's
  * application id lets every session over one context share the fits;
  * `scope` is the data the artifact derives from (the corpus dir), and
  * `tag` names the artifact as `<Module>.<artifact>[.<param>]`, so two
  * modules cannot collide.
  */
object FitOnce {
  private val store = new FitOnce[(String, String, String), Any]

  /** The artifact for (scope, tag), computed by `fill` on first use. */
  def apply[V](spark: SparkSession, scope: String, tag: String)(fill: => V): V =
    store((spark.sparkContext.applicationId, scope, tag))(fill).asInstanceOf[V]

  /** An artifact `write` builds in a fresh `Tables.scratchDir(prefix)`.
    * If `write` throws, the dir is deleted and the key stays unfilled. */
  def scratch[V](spark: SparkSession, scope: String, tag: String, prefix: String)(
      write: Path => V): V =
    apply(spark, scope, tag)(inScratch(prefix)(write))

  /** `df` written once as parquet to `<scratch dir>/<child>`, served as
    * a cached scan of that checkpoint. */
  def checkpoint(spark: SparkSession, scope: String, tag: String, prefix: String,
      child: String)(df: => DataFrame): DataFrame =
    Tables.readCached(spark, scratch(spark, scope, tag, prefix)(parquet(_, child, df)))

  /** Runs `write` in a fresh scratch dir, deleting the dir if it throws. */
  private[graft] def inScratch[V](prefix: String)(write: Path => V): V = {
    val dir = Tables.scratchDir(prefix)
    try write(dir)
    catch { case t: Throwable => Tables.dropScratch(dir); throw t }
  }

  private[graft] def parquet(dir: Path, child: String, df: DataFrame): String = {
    val p = dir.resolve(child).toString
    df.write.parquet(p)
    p
  }
}

package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Deployment-wide integration of the native expression library
  * through Spark's standard extension point: with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`),
  * every session — including ones created by schedulers, notebooks or
  * thrift servers that never call graft code directly — resolves the
  * `graft_*` SQL functions without a per-session
  * [[graft.functions.VectorExprs.register]] call. The builder list is
  * shared with `register`, so the two paths can never drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorExprs.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    // Planner extensions (the top-k and sample-free sort strategies,
    // the order-aware window exchange and JSON field rules); table loads
    // also install them lazily per session, so both entry paths work.
    graft.plans.PlannerExtensions.inject(ext)
  }
}

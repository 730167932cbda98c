package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Deployment-wide integration through Spark's standard extension
  * point: with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`),
  * every session — including ones created by schedulers, notebooks or
  * thrift servers that never call graft code directly — resolves every
  * `graft_*` SQL function and plans with graft's strategies and rules
  * from its build on. It injects what [[GraftSession]]'s per-session
  * install registers, from the same lists, so the two paths cannot
  * drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftSession.inject(ext)
}

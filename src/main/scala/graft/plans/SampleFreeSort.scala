package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Sample-free global sort: a small input sorts in one partition,
  * without Spark's range-partitioner sampling job.
  *
  * A global `ORDER BY` plans a range exchange, and building its
  * partitioner runs a job that evaluates the sort's whole input once
  * more just to sample bounds. On an input small enough, AQE then
  * coalesces that exchange into one partition, so the bounds are
  * thrown away and every expression under the sort ran twice. When
  * the input's size estimate is at most what AQE would coalesce into
  * one partition anyway, this strategy plans
  *
  * {{{
  *   SortExec(global) <- ShuffleExchangeExec(SinglePartition) <- child
  * }}}
  *
  * instead: the same rows in the same order and the same final
  * partition count, one job fewer.
  *
  * AQE re-plans through the session planner with the runtime sizes of
  * finished stages (`LogicalQueryStage`), so a sort whose static
  * estimate is large (an aggregate over a join, say) switches once the
  * stage below it has run and measured small.
  *
  * It leaves the sort to the built-in range exchange when:
  *   - AQE or its partition coalescing is off;
  *   - the plan is streaming;
  *   - the estimate exceeds the size AQE coalesces into one partition:
  *     the session's `coalescePartitions.minPartitionSize`, or
  *     `advisoryPartitionSizeInBytes` when `parallelismFirst` is false;
  *   - the input already ends in one partition (a limit, or a global
  *     window or aggregate, under projections and filters): the sort
  *     needs no exchange at all there;
  *   - the input carries a repartition: its exchange is already chosen
  *     (the order-aware window exchange's range shuffle serves the
  *     sort with no sample job over the window output);
  *   - a row-multiplying node (generate, expand, join, flat-map style
  *     object or Python/R operators) sits between the sort and the
  *     nearest leaf or finished stage: its estimate is no upper bound.
  *
  * A sort under a small limit never reaches this strategy: Spark plans
  * that limit and its sort together as a top-k.
  */
object SampleFreeSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fires(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private def fires(child: LogicalPlan): Boolean =
    !child.isStreaming && !onePartition(child) && !repartitioned(child) && !multiplies(child) &&
      singlePartitionSize(SQLConf.get).exists(child.stats.sizeInBytes <= _)

  /** The input size AQE coalesces into one partition, or None when it
    * does not coalesce. */
  private def singlePartitionSize(conf: SQLConf): Option[Long] =
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) None
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else Some(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** `p` ends in a single partition already: the built-in plan sorts
    * it where it is, with no exchange to replace. */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter => onePartition(p.children.head)
    case _: GlobalLimit | _: Offset | _: Tail => true
    case w: Window => w.partitionSpec.isEmpty
    case l: WindowGroupLimit => l.partitionSpec.isEmpty
    case a: Aggregate => a.groupingExpressions.isEmpty
    case _ => false
  }

  /** A repartition anywhere in `p`, finished stages included. */
  private def repartitioned(p: LogicalPlan): Boolean = p match {
    case _: RepartitionOperation => true
    case q: LogicalQueryStage => repartitioned(q.logicalPlan)
    case _ => p.children.exists(repartitioned)
  }

  /** A row-multiplying node above the nearest leaf or finished stage. */
  private def multiplies(p: LogicalPlan): Boolean = p match {
    case _: LogicalQueryStage => false
    case _: Generate | _: Expand | _: Join => true
    case _: MapPartitions | _: MapGroups | _: CoGroup | _: FlatMapGroupsWithState => true
    case _: MapPartitionsInR | _: MapPartitionsInRWithArrow | _: FlatMapGroupsInR |
         _: FlatMapGroupsInRWithArrow => true
    case _: MapInPandas | _: MapInArrow | _: FlatMapGroupsInPandas | _: FlatMapGroupsInArrow |
         _: FlatMapCoGroupsInPandas | _: FlatMapCoGroupsInArrow |
         _: FlatMapGroupsInPandasWithState | _: BaseEvalPythonUDTF => true
    case _ => p.children.exists(multiplies)
  }
}

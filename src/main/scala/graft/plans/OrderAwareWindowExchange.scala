package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, RepartitionOperation, RepartitionByExpression, Sort, Tail, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{SORT, WINDOW}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StructType}

/** Order-aware window exchange: one range shuffle serves both the
  * windows' PARTITION BY and the result's ORDER BY.
  *
  * The shape `SELECT …, f() OVER (PARTITION BY a …) … ORDER BY a, b, c`
  * plans two exchanges by default: a hash exchange on `a` under the
  * window, then a range exchange on `(a, b, c)` over it. The range
  * exchange first runs a sample job over its input, so the window
  * chain (and the hash-shuffle read feeding it) runs twice, once for
  * the sample and once for the shuffle map stage.
  *
  * When every window of the chain (projections, filters and window
  * group limits may sit between them) partitions by the same key set
  * and the sort's leading keys are exactly that set, this rule puts a
  * range repartition on those leading sort keys (with the sort's own
  * direction and null ordering) under the chain:
  *
  * {{{
  *   Sort(a, b, c)                       Sort(a, b, c)
  *     Window(PARTITION BY a)      =>      Window(PARTITION BY a)
  *       child                               RepartitionByExpression(a)
  *                                             child
  * }}}
  *
  * `RangePartitioning(a)` satisfies both `ClusteredDistribution(a)`
  * and `OrderedDistribution(a, b, c)`, so EnsureRequirements plans the
  * one range exchange: the hash exchange, the top range exchange and
  * its sample over the window output are gone, and the sort becomes a
  * per-partition sort (removed when the window's ordering already
  * covers it). The partition count is left to the session, as for
  * any exchange EnsureRequirements would add.
  *
  * It leaves the plan alone when:
  *   - the plan is streaming;
  *   - a limit (or tail/offset) sits over the sort: that plan becomes
  *     a top-k with no range exchange to save;
  *   - a window has no PARTITION BY, or the windows' keys differ;
  *   - the leading sort keys are not exactly the partition set;
  *   - a key is or contains a floating-point value (such keys are
  *     normalized under windows later in optimization, so the range
  *     key would stop matching the window's and add a shuffle);
  *   - the chain's input is already a repartition, which also makes
  *     the rule idempotent.
  *
  * It runs after column pruning and sort elimination (installed by
  * [[PlannerExtensions]]), so a `count()` plan, whose sort and often
  * whose windows were pruned, never matches. Output is unchanged: the
  * rule only chooses where the one shuffle happens.
  */
object OrderAwareWindowExchange extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || !plan.containsAllPatterns(SORT, WINDOW)) plan
    else rewrite(plan, limited = false)

  /** `limited`: a limit operator is the nearest ancestor once
    * projections are looked through. */
  private def rewrite(plan: LogicalPlan, limited: Boolean): LogicalPlan = plan match {
    case s @ Sort(order, true, child, _) if !limited =>
      val c = rewrite(child, limited = false)
      val r = rangeUnderWindows(order, c).getOrElse(c)
      if (r eq child) s else s.copy(child = r)
    case _ =>
      val underLimit = plan match {
        case _: GlobalLimit | _: LocalLimit | _: Tail | _: Offset => true
        case _: Project => limited
        case _ => false
      }
      plan.mapChildren(rewrite(_, underLimit))
  }

  /** The chain `plan` with a range repartition on `order`'s leading
    * partition keys inserted under its lowest window, or None. */
  private def rangeUnderWindows(order: Seq[SortOrder], plan: LogicalPlan)
      : Option[LogicalPlan] = {
    val windows = chain(plan).flatMap(n => partitionSpec(n).map(n -> ExpressionSet(_)))
    if (windows.isEmpty) return None
    val keys = windows.head._2
    val prefix = order.take(keys.size)
    val lowest = windows.last._1
    val fires = keys.nonEmpty &&
      windows.forall(_._2 == keys) &&
      ExpressionSet(prefix.map(_.child)) == keys &&
      prefix.forall(o => o.deterministic && !floating(o.dataType)) &&
      !lowest.children.head.isInstanceOf[RepartitionOperation]
    if (!fires) return None
    Some(plan.transformDown {
      case w if w eq lowest =>
        w.withNewChildren(RepartitionByExpression(prefix, w.children.head, None) :: Nil)
    })
  }

  /** A window's PARTITION BY. A group limit (Spark's pushed-down
    * `rank() <= k` filter) counts as a window: its final half needs
    * the same clustering, so the range shuffle goes under it. */
  private def partitionSpec(p: LogicalPlan): Option[Seq[Expression]] = p match {
    case w: Window => Some(w.partitionSpec)
    case l: WindowGroupLimit => Some(l.partitionSpec)
    case _ => None
  }

  /** The nodes from `plan` down to its lowest window, through
    * projections and filters only. */
  private def chain(plan: LogicalPlan): Seq[LogicalPlan] = plan match {
    case _: Window | _: WindowGroupLimit | _: Project | _: Filter =>
      val below = chain(plan.children.head)
      if (partitionSpec(plan).isDefined || below.nonEmpty) plan +: below
      else Nil
    case _ => Nil
  }

  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case _ => false
  }
}

package graft.plans

import graft.functions.JsonField
import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

/** Rewrites `get_json_object(json, '$.name')` into the single-pass
  * [[graft.functions.JsonField]] kernel when the path is a literal
  * naming one top-level key (`$.` then an identifier). Any other path
  * (`$.a.b`, `$.a[0]`, `$['k']`, `$.*`) or a non-literal path keeps
  * Spark's expression. The kernel has the same type and nullability
  * and returns Spark's result on every row (rows outside its fast-path
  * grammar are evaluated by Spark's own evaluator), so output is
  * unchanged.
  *
  * It runs after column pruning (installed by [[PlannerExtensions]]),
  * so a `count()` plan that pruned the extraction never sees one. The
  * rewritten plan has no `GetJsonObject` left to match, so running the
  * rule twice changes nothing.
  */
object JsonFieldRewrite extends Rule[LogicalPlan] {

  private val TopLevelKey = """\$\.([A-Za-z_][A-Za-z0-9_]*)""".r

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case g @ GetJsonObject(json, Literal(path: UTF8String, _)) =>
        path.toString match {
          case TopLevelKey(name) => JsonField(json, name)
          case _ => g
        }
    }
}

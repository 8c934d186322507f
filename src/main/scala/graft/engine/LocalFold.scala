package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, IntegerLiteral, RowOrdering, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION

/** Folds `Sort`, `Offset`, `GlobalLimit` and `LocalLimit` over a
  * non-streaming `LocalRelation` into a `LocalRelation`, so a ranked page
  * over rows already on the driver (the graph re-rank pool, the fused
  * text batch's frames — ≤75 rows) plans as a `LocalTableScanExec`, whose
  * `executeCollect` launches no job. Spark's own `ConvertToLocalRelation`
  * folds `Project`, `Filter` and `Limit` but not `Sort` or `Offset`.
  *
  * The sort is Spark's generated row ordering (`RowOrdering.create`), so
  * the folded rows match the unfolded plan by construction: null
  * ordering, NaN greatest, −0.0 = +0.0, UTF-8 binary strings.
  */
object LocalFold extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case Sort(order, _, LocalRelation(output, data, false, _), _)
          if order.forall(o => o.child.deterministic && !unevaluable(o.child)) =>
        LocalRelation(output, data.sorted(RowOrdering.create(order, output)))
      case Offset(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.drop(n))
      case GlobalLimit(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.take(n))
      case LocalLimit(IntegerLiteral(n), LocalRelation(output, data, false, _)) =>
        LocalRelation(output, data.take(n))
    }

  // ConvertToLocalRelation's guard: subqueries and other unevaluable nodes
  // stay in the plan
  private def unevaluable(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  /** Add the rule to `spark`'s user optimizer batch, once. That batch runs
    * after Spark's own LocalRelation batch, so `ConvertToLocalRelation`
    * runs again behind the rule to fold the projections a folded sort
    * exposes. Per session: a `newSession()` starts without it.
    */
  def register(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(LocalFold))
        x.extraOptimizations = Seq(LocalFold, ConvertToLocalRelation) ++ x.extraOptimizations
    }
  }
}

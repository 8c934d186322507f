package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.graft.Bridge

/** Folds operators over non-streaming `LocalRelation`s into a
  * `LocalRelation`, so a plan over rows already on the driver (the graph
  * re-rank pool, the fused text batch's frames, a hybrid merge of ranked
  * children — ≤75 rows each) plans as a `LocalTableScanExec`, whose
  * `executeCollect` launches no job. Spark's own `ConvertToLocalRelation`
  * folds `Project`, `Filter` and `Limit`; this rule adds `Sort`, `Offset`,
  * `GlobalLimit`, `LocalLimit`, `Union`, `Aggregate` and the equi
  * `LeftSemi` join.
  *
  * Every case evaluates with Spark's own semantics, so the folded rows
  * match the unfolded plan by construction:
  *   - the sort is Spark's row ordering (`RowOrdering.create`): null
  *     ordering, NaN greatest, −0.0 = +0.0, UTF-8 binary strings;
  *   - an aggregate runs Spark's `initialValues` / `updateExpressions` /
  *     `evaluateExpression` through interpreted projections, exactly as
  *     the hash aggregate's Complete mode does, with grouping keys
  *     normalized and compared as unsafe rows like the hash aggregate's;
  *   - the semi join matches normalized keys as unsafe rows, like the
  *     hash join, and a null key never matches.
  * Only `Complete`, non-distinct `DeclarativeAggregate`s fold, never an
  * imperative one (collect_list, UDAFs); non-deterministic and
  * unevaluable expressions stay in the plan, and so do aggregate and join
  * inputs of more than [[MaxRows]] rows.
  */
object LocalFold extends Rule[LogicalPlan] {

  /** The most input rows an aggregate or a join folds: the evaluation runs
    * on the planning thread, and a ranked merge holds at most a few
    * hundred rows.
    */
  val MaxRows = 4096

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case Sort(order, _, Local(l), _) if order.forall(o => evaluable(o.child)) =>
        LocalRelation(l.output, l.data.sorted(RowOrdering.create(order, l.output)))
      case Offset(IntegerLiteral(n), Local(l)) =>
        LocalRelation(l.output, l.data.drop(n))
      case GlobalLimit(IntegerLiteral(n), Local(l)) =>
        LocalRelation(l.output, l.data.take(n))
      case LocalLimit(IntegerLiteral(n), Local(l)) =>
        LocalRelation(l.output, l.data.take(n))
      case u: Union if u.children.forall(Local.unapply(_).isDefined) =>
        LocalRelation(u.output, u.children.flatMap { case l: LocalRelation => l.data })
      case j @ ExtractEquiJoinKeys(LeftSemi, lk, rk, other, _, Local(l), Local(r), _)
          if (lk ++ rk ++ other).forall(evaluable) &&
            l.data.size + r.data.size <= MaxRows =>
        LocalRelation(j.output, semiJoin(lk, rk, other, l, r))
      case a @ Aggregate(_, _, Local(l), _) if l.data.size <= MaxRows =>
        aggregate(a, l).getOrElse(a)
    }

  private object Local {
    def unapply(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  // ConvertToLocalRelation's guard, plus determinism: subqueries and other
  // unevaluable nodes stay in the plan
  private def evaluable(e: Expression): Boolean = e.deterministic &&
    !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  private def semiJoin(
      leftKeys: Seq[Expression], rightKeys: Seq[Expression], other: Option[Expression],
      left: LocalRelation, right: LocalRelation): Seq[InternalRow] = {
    def keyOf(keys: Seq[Expression], input: Seq[Attribute]) = InterpretedUnsafeProjection
      .createProjection(BindReferences.bindReferences(keys.map(Bridge.normalizeFloats), input))
    val rightKey = keyOf(rightKeys, right.output)
    val build = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
    right.data.foreach { row =>
      val k = rightKey(row)
      if (!k.anyNull) build.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += row
    }
    val leftKey = keyOf(leftKeys, left.output)
    val cond = other.map(c =>
      InterpretedPredicate(BindReferences.bindReference(c, left.output ++ right.output)))
    val joined = new JoinedRow
    left.data.filter { row =>
      val k = leftKey(row)
      !k.anyNull && build.get(k).exists(rs =>
        cond.forall(p => rs.exists(r => p.eval(joined(row, r)))))
    }
  }

  /** The hash aggregate's Complete mode over `child`'s rows, or None when
    * an expression is not foldable. Grouping keys are normalized as the
    * physical planner normalizes them (NaN and −0.0), and a global
    * aggregate over no rows yields its one initial-value row.
    */
  private def aggregate(a: Aggregate, child: LocalRelation): Option[LocalRelation] = {
    val PhysicalAggregation(grouping, aggs, results, _) = a
    val fns = aggs.map(_.aggregateFunction).collect { case f: DeclarativeAggregate => f }
    val foldable = fns.length == aggs.length &&
      aggs.forall(ae => ae.mode == Complete && !ae.isDistinct) &&
      (grouping ++ results ++ aggs.flatMap(ae => ae.aggregateFunction.children ++ ae.filter) ++
        fns.flatMap(f => f.initialValues ++ f.updateExpressions :+ f.evaluateExpression))
        .forall(evaluable)
    if (!foldable) return None

    val buffer = fns.flatMap(_.aggBufferAttributes)
    val updates = aggs.zip(fns).flatMap { case (ae, f) =>
      ae.filter match {
        case None => f.updateExpressions
        case Some(p) => f.updateExpressions.zip(f.aggBufferAttributes).map {
          case (u, b) => If(p, u, b)
        }
      }
    }
    val init = new InterpretedMutableProjection(fns.flatMap(_.initialValues))
    val update = new InterpretedMutableProjection(updates, buffer ++ child.output)
    val evaluate = new InterpretedMutableProjection(fns.map(_.evaluateExpression), buffer)
    val result = new InterpretedMutableProjection(
      results, grouping.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
    val key = InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(
      grouping.map(Bridge.normalizeFloats), child.output))

    def fresh(): InternalRow = {
      val b = new SpecificInternalRow(buffer.map(_.dataType))
      init.target(b)(EmptyRow)
      b
    }
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    if (grouping.isEmpty) groups(key(EmptyRow).copy()) = fresh()
    val joined = new JoinedRow
    child.data.foreach { row =>
      val b = groups.getOrElseUpdate(key(row).copy(), fresh())
      update.target(b)(joined(b, row))
    }
    Some(LocalRelation(a.output, groups.iterator.map { case (k, b) =>
      result(joined(k, evaluate(b).copy())).copy()
    }.toSeq))
  }

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

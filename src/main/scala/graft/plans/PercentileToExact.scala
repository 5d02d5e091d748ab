package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GetArrayItem, Literal, NamedExpression, Slice}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.ArrayType
import graft.functions.{ExactPercentile, PercentileCounts}

/** Optimizer rule: compute Spark's exact `percentile` with
  * [[ExactPercentile]], whose answers are the same numbers.
  *
  * Rewritten: a non-DISTINCT `Percentile` (SQL `percentile`, `median`,
  * `percentile_cont`) in an `Aggregate`, over a byte, short, int, long,
  * float or double column, with a constant non-null percentage or
  * non-empty array of percentages and the constant frequency 1. Every
  * such call of one `Aggregate` over the same child with the same
  * `reverse` flag and FILTER shares one [[ExactPercentile]] over all
  * their percentages, and each call reads its entries back out of the
  * shared result (`GetArrayItem` for one percentage, `Slice` for an
  * array), so q31's p01 and p99 build and ship one buffer.
  *
  * Everything else stays with Spark: DISTINCT, decimal and interval
  * children (their keys are not longs, and an interval's result is not a
  * double), frequency columns, and `percentile_disc` (`PercentileDisc`,
  * another class). A window `percentile` is not in an `Aggregate` and is
  * not touched.
  *
  * There is no option to turn it off: for the shapes it touches the
  * result is the same (-0.0 and 0.0 are the only values Spark may return
  * with either sign, by its hash order, and they compare equal); only the
  * buffer, its serialization and the sort change.
  */
object PercentileToExact extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate => rewrite(a)
    }

  /** The percentages of a rewritable call, with whether they were an array. */
  private def percentages(p: Percentile): Option[(Seq[Double], Boolean)] = {
    // (the analyzer has cast the frequency to an integral type)
    val freqIsOne = p.frequencyExpression.foldable &&
      (p.frequencyExpression.eval() match {
        case n: Number => n.longValue == 1L
        case _ => false
      })
    if (!freqIsOne || !PercentileCounts.SupportedTypes(p.child.dataType) ||
      !p.percentageExpression.foldable) None
    else (p.percentageExpression.dataType, p.percentageExpression.eval()) match {
      case (_: ArrayType, a: ArrayData)
          if a.numElements > 0 && !(0 until a.numElements).exists(a.isNullAt) =>
        Some((a.toDoubleArray().toSeq, true))
      case (_, d: Double) => Some((Seq(d), false))
      case _ => None
    }
  }

  private def rewrite(a: Aggregate): Aggregate = {
    val calls = a.aggregateExpressions.flatMap(_.collect {
      case ae @ AggregateExpression(p: Percentile, _, false, _, _) => ae -> p
    }).distinct.flatMap { case (ae, p) => percentages(p).map(pc => (ae, p, pc)) }
    if (calls.isEmpty) return a
    val replace: Map[AggregateExpression, Expression] = calls
      .groupBy { case (ae, p, _) =>
        (p.child.canonicalized, p.reverse, ae.filter.map(_.canonicalized))
      }.values.flatMap { group =>
        val (ae0, p0, _) = group.head
        val shared = ae0.copy(
          aggregateFunction = ExactPercentile(p0.child, group.flatMap(_._3._1), p0.reverse),
          resultId = NamedExpression.newExprId)
        val offsets = group.scanLeft(0)(_ + _._3._1.size)
        group.zip(offsets).map { case ((ae, _, (ps, isArray)), off) =>
          ae -> (
            if (isArray && group.size == 1) shared
            else if (isArray) Slice(shared, Literal(off + 1), Literal(ps.size))
            else GetArrayItem(shared, Literal(off), failOnError = false))
        }
      }.toMap
    a.copy(aggregateExpressions = a.aggregateExpressions.map(_.transformDown {
      case ae: AggregateExpression if replace.contains(ae) => replace(ae)
    }.asInstanceOf[NamedExpression]))
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, ArraySort, Cast, Expression, GreaterThan, If, LambdaFunction, LessThan, Literal, Size, SortArray}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType}

/** Optimizer rule: `size(array_intersect(x, y))` →
  * `cast(sorted_intersect_count(x, y) as int)` when BOTH inputs are
  * provably sorted distinct long arrays (a literal
  * `array_sort(array_distinct(_))` / `sort_array(array_distinct(_))`
  * tree with the default ascending comparator and non-null elements).
  *
  * Why: the built-in pair builds a hash set AND materializes a throwaway
  * intersection array per row (and ArraySort itself is CodegenFallback),
  * while the rewrite is a zero-allocation codegen'd merge loop — the d5
  * candidate-verify hot path, ~3× on a 450k-pair stage at sf0.1. The
  * guard is deliberately narrow: the pattern must prove sortedness,
  * distinctness and null-freedom SYNTACTICALLY; attribute references
  * whose producing plan sorted them upstream are not matched (lineage
  * proof would need a full column-provenance analysis).
  *
  * Registered via GraftExtensions (injectOptimizerRule) at session build,
  * or `spark.experimental.extraOptimizations :+= IntersectCountRewrite`
  * on a live session. Semantics preserved exactly: `size(_, false)`
  * (non-legacy) returns null on null input, as does the cast form;
  * intersection of distinct arrays has the same cardinality under both
  * implementations.
  */
object IntersectCountRewrite extends Rule[LogicalPlan] {

  private def nonNullLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, containsNull) => !containsNull
    case _ => false
  }

  /** The BOUND form of ArraySort.defaultComparator:
    * (l, r) -> if (l < r) -1 else if (l > r) 1 else 0. Matched
    * structurally — the plan's lambda variables carry exprIds, so
    * semanticEquals against the unbound default never holds. */
  private def isDefaultComparator(f: Expression): Boolean = f match {
    case LambdaFunction(
        If(LessThan(a, b), Literal(-1, _),
          If(GreaterThan(c, d), Literal(1, _), Literal(0, _))),
        Seq(x, y), _) =>
      a.semanticEquals(x) && b.semanticEquals(y) &&
        c.semanticEquals(x) && d.semanticEquals(y)
    case _ => false
  }

  private def sortedDistinct(e: Expression): Boolean = e match {
    case ArraySort(ArrayDistinct(_), f, _) => isDefaultComparator(f)
    case SortArray(ArrayDistinct(_), Literal(true, BooleanType)) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(a, b), false)
        if nonNullLongArray(a) && nonNullLongArray(b) &&
          sortedDistinct(a) && sortedDistinct(b) =>
        Cast(SortedIntersectCount(a, b), IntegerType)
    }
}

/** AQE query-stage preparation rule: a global sort whose input is small
  * enough for AQE to coalesce its range shuffle into ONE partition anyway
  * shuffles that input straight into a single partition.
  *
  * Why: `orderBy` plans `Exchange rangepartitioning(n)`, and its
  * `RangePartitioner` first runs a sampling job that reads the sort's
  * whole input a second time to pick n-1 bounds. When the input is at
  * most `coalescePartitions.minPartitionSize`, `CoalesceShufflePartitions`
  * merges those n ranges back into one partition read by one task, so
  * the bounds buy nothing and the sample is a whole job of fixed
  * overhead. Nearly every gated query ends with a small `orderBy`.
  *
  * The size is the logical estimate of the exchange's input: on the
  * first AQE plan that is the optimizer's estimate, and on every re-plan
  * the finished upstream stages contribute their runtime bytes. An
  * estimate above the bound (a join's is the product of its inputs)
  * keeps the range shuffle. The output order is the same, and so is
  * the one partition AQE would have coalesced to; only the sample job
  * and the bounds go away.
  *
  * Not touched: exchanges a user asked for (`repartitionByRange` plans
  * origin REPARTITION_BY_NUM), partition-local sorts
  * (`sortWithinPartitions`), `orderBy` + `limit` (TakeOrderedAndProject
  * has no exchange), and plans with AQE off: the rule is registered
  * with `injectQueryStagePrepRule`, which only AQE runs. */
final case class SmallSortSinglePartition(session: SparkSession)
    extends Rule[SparkPlan] {

  /** Bytes at or below which AQE's coalescing always ends in one
    * partition (its target partition size never drops below this);
    * -1 when it does not coalesce, so that n ranges stay n partitions. */
  private def bound: Long = {
    val c = session.sessionState.conf
    if (c.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED))
      c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else -1L
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    val max = bound
    plan.transformUp {
      case sort @ SortExec(_, true,
          e @ ShuffleExchangeExec(RangePartitioning(_, n), in,
            ENSURE_REQUIREMENTS, _), _)
        if n > 1 && in.logicalLink.exists(_.stats.sizeInBytes <= max) =>
        sort.copy(child = e.copy(outputPartitioning = SinglePartition))
    }
  }
}

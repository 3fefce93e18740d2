package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — registers graft's native
  * expressions under SQL names so `spark.sql` users (and SQL-text
  * pipelines) can call them:
  *
  *   SparkSession.builder
  *     .withExtensions(new GraftExtensions)           // programmatic
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  *
  * DataFrame callers don't need this (functions.Vectors builds the
  * expression tree directly); registration is additive.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, className, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    // size(array_intersect(sorted distinct, sorted distinct)) →
    // zero-allocation merge count (see Rules.scala).
    ext.injectOptimizerRule(_ => IntersectCountRewrite)
    // a global sort of a small input shuffles into one partition
    // instead of sampling range bounds (see Rules.scala)
    ext.injectQueryStagePrepRule(SmallSortSinglePartition)
  }
}

/** Single source of truth for graft's SQL function builders — consumed by
  * both registration paths (GraftExtensions at session build, graftshim
  * .registerFunctions on a live session). */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private def binary(name: String, mk: (Expression, Expression) => Expression)
  : Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"$name expects 2 arguments, got ${children.length}")
    mk(children.head, children(1))
  }

  private def unary(name: String, mk: Expression => Expression)
  : Seq[Expression] => Expression = { children =>
    require(children.length == 1,
      s"$name expects 1 argument, got ${children.length}")
    mk(children.head)
  }

  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("float_vec_dot", classOf[FloatVecDot].getName,
      binary("float_vec_dot", FloatVecDot.apply)),
    ("media_features", classOf[MediaFeaturesOf].getName,
      unary("media_features", MediaFeaturesOf.apply)),
    ("sorted_intersect_count", classOf[SortedIntersectCount].getName,
      binary("sorted_intersect_count", SortedIntersectCount.apply)),
    ("exact_percentile", classOf[ExactPercentile].getName, { children =>
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.{Decimal, DoubleType}
      require(children.length == 2,
        s"exact_percentile expects (value, percentage), got ${children.length}")
      require(children(1).foldable,
        "exact_percentile percentage must be a literal")
      val p = children(1).eval() match {
        case n: java.lang.Number => n.doubleValue()
        case d: Decimal => d.toDouble
        case other => sys.error(s"non-numeric percentage: $other")
      }
      ExactPercentile(Cast(children.head, DoubleType), p)
    }),
  )
}

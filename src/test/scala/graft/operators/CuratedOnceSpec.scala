package graft.operators

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.SparkSpec
import graft.core.Telemetry

/** The curated corpus is built once per (session, dir): a warm call of
  * a store build (prof9) or of an ingest tick (d17) reads the
  * persisted `TextAnalysis.curated` frame and never runs the exact-dedup
  * keeper aggregate, the `groupBy(content_hash)` over the whole
  * documents table, in any of its executed plans or in the build of
  * any frame it persists for its own duration. */
class CuratedOnceSpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  /** `collect` runs the op's own result as a SQL execution too, so its
    * executed plan is recorded next to the store writes and folds. */
  private def run(op: String): Int =
    graft.SparkEntry.queries(op)(spark, dir).collect().length

  /** Every node of an executed plan, through adaptive plans and query
    * stages, and into the build plan of every frame the call cached
    * itself (a per-call persisted batch runs its chain there). A scan of
    * a frame that was cached before the call (`cachedBefore`, the ids
    * of its RDDs) is a leaf: that build ran in an earlier call. */
  private def nodes(p: SparkPlan, cachedBefore: Set[Int]): Seq[SparkPlan] =
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, cachedBefore)
      case q: QueryStageExec => nodes(q.plan, cachedBefore)
      case m: InMemoryTableScanExec =>
        val b = m.relation.cacheBuilder
        if (b.isCachedColumnBuffersLoaded &&
            cachedBefore(b.cachedColumnBuffers.id)) Seq(m)
        else m +: nodes(b.cachedPlan, cachedBefore)
      case other => other +: other.children.flatMap(nodes(_, cachedBefore))
    }

  private def keeperAggregates(rec: Telemetry.Record,
                               cachedBefore: Set[Int]): Seq[String] =
    rec.sql.flatMap(q => nodes(q.qe.executedPlan, cachedBefore).collect {
      case a: BaseAggregateExec
          if a.groupingExpressions.exists(_.name == "content_hash") =>
        s"${q.description}: ${a.simpleString(200)}"
    })

  Seq("prof9_store_health", "d17_tick_store").foreach { op =>
    test(s"a warm $op call runs no keeper aggregate") {
      run(op)
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val rec = Telemetry.capture(spark)(run(op))._2
      assert(rec.sql.nonEmpty, s"$op recorded no SQL execution")
      val found = keeperAggregates(rec, cachedBefore)
      assert(found.isEmpty, found.mkString("\n"))
    }
  }
}

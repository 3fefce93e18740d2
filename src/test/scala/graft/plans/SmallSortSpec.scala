package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftshim

import graft.SparkSpec
import graft.core.{StoreFs, Telemetry}

/** [[SmallSortSinglePartition]]: a global sort of a small input runs
  * without the range-partition sampling job; above the size bound the
  * range shuffle stays, user-asked range repartitions stay, and the
  * results do not depend on the shuffle partition count. */
class SmallSortSpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  private val ops = Seq("t2_quality", "u9_stratified_sample",
    "prof4_token_dist", "e4_daily_pivot")

  private def frame(s: SparkSession, op: String): DataFrame =
    graft.SparkEntry.queries(op)(s, dir)

  /** `collect` runs the op as a SQL execution, so its executed plan is
    * recorded. */
  private def run(s: SparkSession, op: String): Int =
    frame(s, op).collect().length

  /** A session of its own with `conf` set on top of the parent's. */
  private def isolated(conf: (String, String)*): SparkSession = {
    val iso = graftshim.isolatedSession(spark)
    conf.foreach { case (k, v) => iso.conf.set(k, v) }
    iso
  }

  /** Every node of an executed plan, through adaptive plans and query
    * stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The exchange that feeds a sort, under codegen's input adapter,
    * AQE's shuffle read and the query stage. */
  private def exchangeUnder(p: SparkPlan): SparkPlan = p match {
    case i: InputAdapter => exchangeUnder(i.child)
    case r: AQEShuffleReadExec => exchangeUnder(r.child)
    case q: QueryStageExec => exchangeUnder(q.plan)
    case other => other
  }

  /** Does any executed plan of `rec` range-partition under a global sort? */
  private def rangeSorted(rec: Telemetry.Record): Boolean =
    rec.sql.flatMap(q => nodes(q.qe.executedPlan)).exists {
      case SortExec(_, true, child, _) => exchangeUnder(child) match {
        case ShuffleExchangeExec(_: RangePartitioning, _, _, _) => true
        case _ => false
      }
      case _ => false
    }

  /** A warm call's record: the op runs once first. */
  private def warm(s: SparkSession, op: String): Telemetry.Record = {
    run(s, op)
    Telemetry.capture(spark)(run(s, op))._2
  }

  private val aboveBound = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  test("a small global sort runs no range shuffle and one job fewer") {
    val big = isolated(aboveBound -> "1")
    val noAqe = isolated("spark.sql.adaptive.enabled" -> "false")
    ops.foreach { op =>
      val small = warm(spark, op)
      val ranged = warm(big, op)
      assert(small.sql.nonEmpty, op)
      assert(!rangeSorted(small), s"$op: ${small.sql.map(_.qe.executedPlan)}")
      // above the bound the sort keeps its range shuffle, and with it
      // the sampling job
      assert(rangeSorted(ranged), s"$op: ${ranged.sql.map(_.qe.executedPlan)}")
      assert(small.jobs.size === ranged.jobs.size - 1,
        s"$op: ${small.jobs.map(_.site)} vs ${ranged.jobs.map(_.site)}")
      // only AQE runs the rule
      assert(rangeSorted(warm(noAqe, op)), op)
    }
  }

  test("d12's range-repartitioned staging keeps 2 files and 2 micro-batches") {
    val pid = ProcessHandle.current.pid
    def staged: Seq[java.io.File] =
      new java.io.File(localPath(StoreFs.base(spark))).listFiles().toSeq
        .filter(f => f.getName.startsWith("graft-stream-docs-") &&
          f.getName.endsWith(s"-r2-p$pid"))
    // stage afresh, under the rule
    staged.foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    val (_, rec) =
      Telemetry.capture(spark)(run(spark, "d12_stream_ingest_gate"))
    assert(staged.size === 1, staged)
    val files = staged.head.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 2, s"expected 2 staged stream files, got $files")
    assert(rec.batches.count(_.inputRows > 0) === 2, rec.batches)
  }

  test("results do not depend on the shuffle partition count") {
    def canonical(df: DataFrame): Seq[String] = df.collect().toSeq
      .map(_.toSeq.map {
        case d: Double => f"$d%.6g"
        case f: Float => f"${f.toDouble}%.6g"
        case v => String.valueOf(v)
      }.mkString("|")).sorted
    val one = isolated("spark.sql.shuffle.partitions" -> "1")
    val seven = isolated("spark.sql.shuffle.partitions" -> "7")
    // 7 range partitions, which AQE reads back as several tasks
    val sevenRanged = isolated("spark.sql.shuffle.partitions" -> "7",
      aboveBound -> "1")
    ops.foreach { op =>
      val rows = canonical(frame(one, op))
      assert(rows.nonEmpty, op)
      assert(canonical(frame(seven, op)) === rows, op)
      assert(canonical(frame(sevenRanged, op)) === rows, op)
    }
  }
}

package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.graftspec.BusListeners
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkSpec

/** [[Telemetry.capture]] records what the dev tools print: streams of
  * the isolated sessions, a site for every job, an end for every job,
  * and the executed plan of a replayed stream's probe write. */
class TelemetrySpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  private def run(name: String): Long =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()

  private def recorders: Int = BusListeners.names(spark.sparkContext)
    .count(_.startsWith(Telemetry.getClass.getName))

  test("a stream of an isolated session is recorded; a parent-session listener misses it") {
    val parentBatches = new java.util.concurrent.atomic.AtomicInteger()
    val parentListener = new StreamingQueryListener {
      override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
        parentBatches.incrementAndGet()
      override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(parentListener)
    // e9 streams inside Streams.withStatePartitions' cloned session
    val (_, rec) =
      try Telemetry.capture(spark)(run("e9_stream_dedup"))
      finally spark.streams.removeListener(parentListener)
    assert(rec.batches.nonEmpty, "no micro-batch recorded")
    assert(rec.peakStateRows > 0,
      s"no state rows in ${rec.batches}")
    // the capture drained the bus, so the parent listener had its turn
    assert(parentBatches.get === 0)
  }

  test("jobs are named by their label, else by their call site") {
    // a fresh copy of a committed table: its first read infers the
    // schema, which runs an unlabeled job from inside Tables
    val tmp = tmpDir("telemetry-site")
    Files.copy(Paths.get(dir, "region.parquet"),
      Paths.get(tmp, "region.parquet"))
    val (_, rec) = Telemetry.capture(spark) {
      Tables.t(spark, tmp, "region")
      Jobs.labeled(spark, "telemetry-spec label") {
        spark.range(10).count()
      }
    }
    val sites = rec.jobs.map(_.site)
    assert(sites.exists(_.contains("Tables.scala")), sites)
    assert(sites.contains("telemetry-spec label"), sites)
    assert(!sites.contains("?"), sites)
  }

  test("a job AQE submits from its own pool is named by an engine site") {
    // the read-back of d12's sink runs its AQE shuffle stages on the
    // materialization pool, whose thread's call site is a JDK frame
    val (_, rec) = Telemetry.capture(spark)(run("d12_stream_ingest_gate"))
    val sites = rec.jobs.map(_.site)
    assert(sites.nonEmpty)
    assert(!sites.exists(_.contains("CompletableFuture.java")), sites)
  }

  test("every job of the body has an end; the recorder leaves the bus") {
    assert(recorders === 0)
    val (during, rec) = Telemetry.capture(spark) {
      run("j1_left_join_agg")
      recorders
    }
    assert(during === 1)
    assert(recorders === 0)
    assert(rec.jobs.nonEmpty)
    assert(rec.jobs.forall(_.endMs.nonEmpty),
      s"jobs without an end: ${rec.jobs.filter(_.endMs.isEmpty)}")
    // a failing body removes it too
    intercept[IllegalStateException](
      Telemetry.capture(spark)(throw new IllegalStateException("body")))
    assert(recorders === 0)
  }

  /** Every node of an executed plan, through adaptive plans and query
    * stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("a replayed stream's probe write is captured with its executed plan") {
    val (_, rec) = Telemetry.capture(spark)(run("d12_stream_ingest_gate"))
    val probes = rec.sql.filter(
      _.description.matches("d12_stream_ingest_gate probe b\\d+"))
    assert(probes.nonEmpty, rec.sql.map(_.description))
    val qe = probes.last.qe
    // the LSH candidate join of the arriving docs against the index
    val bandJoins = nodes(qe.executedPlan).collect {
      case j: BaseJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)).toSet ==
            Set("band", "bh") => j
    }
    assert(bandJoins.nonEmpty, qe.explainString(FormattedMode))
    assert(qe.explainString(FormattedMode).contains("isFinalPlan=true"))
  }
}

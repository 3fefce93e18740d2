package graft.core

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one recorder the dev tools (JobProfile, ScaleRun, StreamAB,
  * PlanAudit) read: [[capture]] registers one bus-level listener for
  * the duration of a body and returns what it saw. Bus level matters:
  * the engine runs its streams and stores in isolated sessions
  * (`Streams.withStatePartitions`), and a per-session
  * `StreamingQueryListener` or `QueryExecutionListener` on the parent
  * never hears of them, while the SparkContext's listener bus carries
  * the job, SQL-execution and streaming events of every session.
  *
  * Nothing installs it by default: Bench, Verify and the tests run
  * without a recorder. */
object Telemetry {

  /** One Spark job. `site` is its `spark.job.description` label, or
    * else the description of the SQL execution it runs in, or else the
    * call site Spark names its result stage by (`parquet at
    * Tables.scala:17`). AQE submits a query's shuffle stages as jobs of
    * their own from its pool, where the call site is a JDK frame
    * (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`);
    * outside a SQL execution such a job takes the site of the query's
    * job that follows it. `endMs` is empty when the job's end never
    * reached the bus. */
  final case class Job(id: Int, site: String, startMs: Long,
                       endMs: Option[Long]) {
    def seconds: Double = endMs.fold(0.0)(e => (e - startMs) / 1e3)
  }

  /** One streaming micro-batch, from any session: its run and batch
    * id, its input rows (0 for a batch that only evicts state), its
    * `addBatch` time and the state-store components of its
    * StateOperatorProgress. */
  final case class Batch(runId: String, batchId: Long, inputRows: Long,
                         addBatchMs: Long, stateCommitMs: Long,
                         stateUpdateMs: Long, stateRemoveMs: Long,
                         stateRows: Long)

  /** One SQL execution: its description (the `Jobs.labeled` label,
    * Spark's `batch = <n>` label of a micro-batch, or the call site)
    * and the QueryExecution that ran, whose `executedPlan` is final. */
  final case class Sql(description: String, qe: QueryExecution)

  /** What one [[capture]] saw, in the order the bus delivered it.
    * `compiles` counts the generated classes Janino compiled while the
    * body ran, driver and executor side: each is a miss of Spark's
    * codegen class cache, so a warm call of a query compiles none. */
  final case class Record(jobs: Seq[Job], shuffleReadBytes: Long,
                          shuffleWriteBytes: Long, batches: Seq[Batch],
                          sql: Seq[Sql], compiles: Long) {
    def peakStateRows: Long = batches.map(_.stateRows).maxOption.getOrElse(0L)
  }

  /** Runs `body` with the recorder on the bus. Events still queued from
    * earlier work are delivered first, so none of them is recorded, and
    * every event `body` posted is delivered before the record is read. */
  def capture[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    graftshim.drainListenerBus(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val compiled0 = compiled
      val out = body
      val compiles = compiled - compiled0
      graftshim.drainListenerBus(sc)
      (out, rec.result(compiles))
    } finally sc.removeSparkListener(rec)
  }

  /** Generated classes compiled in this JVM so far: `CodeGenerator`
    * times every compile of a cache miss into this histogram. */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final class Recorder extends SparkListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val batches = mutable.ArrayBuffer[Batch]()
    private val sql = mutable.ArrayBuffer[Sql]()
    private val sqlDesc = mutable.HashMap[Long, String]()
    private var shufRead = 0L
    private var shufWrite = 0L

    def result(compiles: Long): Record = synchronized {
      // a job from Spark's pool takes the site of the next job that is
      // not one: the job of the query whose stages it ran
      var next = Option.empty[String]
      val named = jobs.values.toVector.reverse.map { j =>
        if (j.site.contains("withThreadLocalCaptured"))
          j.copy(site = next.getOrElse(j.site))
        else { next = Some(j.site); j }
      }.reverse
      Record(named, shufRead, shufWrite, batches.toVector, sql.toVector,
        compiles)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      synchronized {
        val site = prop("spark.job.description")
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => sqlDesc.get(id.toLong)).filter(_.nonEmpty))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?")
        jobs(e.jobId) = Job(e.jobId, site, e.time, None)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j =>
        jobs(e.jobId) = j.copy(endMs = Some(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) synchronized {
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { sqlDesc(x.executionId) = x.description }
      case x: SparkListenerSQLExecutionEnd =>
        graftshim.queryExecution(x).foreach { qe =>
          synchronized {
            sql += Sql(sqlDesc.remove(x.executionId).getOrElse(""), qe)
          }
        }
      case x: StreamingQueryListener.QueryProgressEvent =>
        val p = x.progress
        val ops = p.stateOperators
        val b = Batch(p.runId.toString, p.batchId, p.numInputRows,
          Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L),
          ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
          ops.map(_.allRemovalsTimeMs).sum, ops.map(_.numRowsTotal).sum)
        synchronized { batches += b }
      case _ =>
    }
  }
}

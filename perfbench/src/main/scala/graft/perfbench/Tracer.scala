package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, so harness spans
  * (nanoTime) and listener events (currentTimeMillis) share one axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: all spans of one op share `trace`; `parent` is -1 at the
  * root (the op itself). */
final case class Span(trace: Int, id: Int, parent: Int, name: String,
                      start: Double, end: Double, attr: String)

/** The traced run's collector. Its listener is installed only around the
  * traced passes; while an op runs it appends what it sees to the
  * current `OpRecord`, and [[closeOp]] (after draining the listener bus)
  * turns the record into spans and per-layer sums. Spans stay in memory
  * until [[spansOut]] is written out at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private final class OpRecord(val trace: Int, val op: String) {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = ArrayBuffer[StageRec]()
    val stageJob = mutable.HashMap[Int, Int]()
    val plans = ArrayBuffer[(String, Double, Double)]()
    val seenQe = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
    val streams = mutable.LinkedHashMap[String, StreamRec]()
    val batches = ArrayBuffer[BatchRec]()
    val tasks = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var outFiles = 0L
  }

  @volatile private var cur: OpRecord = new OpRecord(-1, "")
  private val out = ArrayBuffer[Span]()
  private val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private val batchMs = ArrayBuffer[Double]()
  private val opWrites = mutable.LinkedHashMap[String, Boolean]()

  /** One bus-level listener. SQL-execution and streaming events reach it
    * from every session; per-session QueryExecutionListener and
    * StreamingQueryListener instances would miss the isolated sessions
    * the engine runs its streams and stores in. */
  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.SqlEvents.queryExecution(x).foreach(plan)
      case x: StreamingQueryListener.QueryStartedEvent => streamStarted(x)
      case x: StreamingQueryListener.QueryProgressEvent => streamProgress(x)
      case x: StreamingQueryListener.QueryTerminatedEvent => streamEnded(x)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = cur
      r.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        r.jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, desc)
        e.stageIds.foreach(s => r.stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = cur
      r.synchronized {
        r.jobs.get(e.jobId).foreach(j => r.jobs(e.jobId) = j.copy(end = e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = cur
      val i = e.stageInfo
      r.synchronized {
        r.stages += StageRec(i.stageId, r.stageJob.getOrElse(i.stageId, -1),
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = cur
      val info = e.taskInfo
      val m = e.taskMetrics
      r.synchronized {
        val t = r.tasks
        t("n") += 1
        if (info != null && info.failed) t("failed") += 1
        if (m != null) {
          t("run_ms") += m.executorRunTime
          t("cpu_ms") += m.executorCpuTime / 1e6
          t("gc_ms") += m.jvmGCTime
          if (info != null) {
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            t("sched_ms") += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
          }
          t("shuffle_w") += m.shuffleWriteMetrics.bytesWritten
          t("shuffle_r") += m.shuffleReadMetrics.totalBytesRead
          t("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
          t("spill") += m.diskBytesSpilled
          t("in_bytes") += m.inputMetrics.bytesRead
          t("in_records") += m.inputMetrics.recordsRead
          t("out_bytes") += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val r = cur
    val files = try writtenFiles(qe.executedPlan)
      catch { case scala.util.control.NonFatal(_) => 0L }
    r.synchronized {
      if (r.seenQe.add(qe)) {
        phasesOf(qe).foreach(r.plans += _)
        r.outFiles += files
      }
    }
  }

  private def streamStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    val r = cur
    r.synchronized {
      r.streams(e.runId.toString) =
        StreamRec(epochMs(e.timestamp), Double.NaN, Option(e.name).getOrElse(""))
    }
  }

  private def streamProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val r = cur
    val p = e.progress
    def d(k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val start = epochMs(p.timestamp)
    r.synchronized {
      r.batches += BatchRec(p.runId.toString, p.batchId, start,
        start + d("triggerExecution"), d("walCommit") + d("commitOffsets"),
        p.stateOperators.map(_.commitTimeMs.toDouble).sum,
        p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    }
  }

  private def streamEnded(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val r = cur
    val now = Clock.nowMs
    r.synchronized {
      r.streams.get(e.runId.toString)
        .foreach(s => r.streams(e.runId.toString) = s.copy(end = now))
    }
  }

  def install(): Unit = spark.sparkContext.addSparkListener(sparkListener)

  def uninstall(): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def beginOp(trace: Int, op: String): Unit = cur = new OpRecord(trace, op)

  /** Closes the current op. `t0..t2` bound the builder call (t0..t1)
    * and `toRdd.count` (t1..t2); `qe` is the op's own execution, which
    * the harness runs through `toRdd` and so no listener reports. */
  def closeOp(t0: Double, t1: Double, t2: Double, qe: Option[QueryExecution],
              rows: Long): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    val r = cur
    cur = new OpRecord(-1, "")
    r.synchronized {
      qe.foreach(q => if (r.seenQe.add(q)) phasesOf(q).foreach(r.plans += _))
      record(r, t0, t1, t2, rows)
    }
  }

  private def record(r: OpRecord, t0: Double, t1: Double, t2: Double,
                     rows: Long): Unit = {
    val spans = ArrayBuffer[Span]()
    def add(parent: Int, name: String, s: Double, e: Double, attr: String): Int = {
      spans += Span(r.trace, spans.size, parent, name, s, e, attr)
      spans.size - 1
    }
    val opId = add(-1, "op", t0, t2, r.op)
    val buildId = add(opId, "queries.build", t0, t1, "")
    val execId = add(opId, "queries.exec", t1, t2, "")
    def host(t: Double): Int = if (t < t1) buildId else execId

    val streamIds = r.streams.map { case (run, s) =>
      val last = r.batches.filter(_.run == run).map(_.end)
      val end = if (!s.end.isNaN) s.end else (last :+ s.start).max
      run -> add(host(s.start), "streaming.query", s.start, end, s.name)
    }
    val batchSpans = r.batches.map { b =>
      val parent = streamIds.getOrElse(b.run, host(b.start))
      (add(parent, "streaming.batch", b.start, b.end, s"batch=${b.batchId}"), b)
    }
    def innermost(t: Double): Int = batchSpans
      .collectFirst { case (id, b) if b.start <= t && t <= b.end => id }
      .getOrElse(host(t))

    val jobs = r.jobs.values.toSeq.map(j => if (j.end.isNaN) j.copy(end = t2) else j)
    val jobIds = jobs.map { j =>
      j.id -> add(innermost(j.start), "core.Jobs.job", j.start, j.end, phaseClass(j.desc))
    }.toMap
    r.stages.foreach { s =>
      if (s.submit > 0 && s.complete >= s.submit)
        add(jobIds.getOrElse(s.job, execId), "exec.stage", s.submit, s.complete,
          s"tasks=${s.tasks}")
    }
    r.plans.foreach { case (phase, s, e) =>
      add(innermost(s), s"plans.$phase", s, e, "")
    }
    out ++= spans

    // per-layer sums
    val wall = t2 - t0
    val intervals = jobs.map(j => (j.start, j.end))
    val busy = unionLength(intervals)
    acc("queries.build_ms") += t1 - t0
    acc("queries.exec_ms") += t2 - t1
    acc("ops.rows_out") += rows
    r.plans.foreach { case (phase, s, e) => acc(s"plans.${phase}_ms") += e - s }
    acc("plans.n_plans") += r.seenQe.size
    acc("core.Jobs.n_jobs") += jobs.size
    acc("core.Jobs.n_stages") += r.stages.size
    acc("core.Jobs.job_busy_ms") += busy
    acc("core.Jobs.job_overlap_ms") += intervals.map(i => i._2 - i._1).sum - busy
    acc("core.Jobs.driver_gap_ms") += math.max(0.0, wall - busy)
    jobs.groupBy(j => phaseClass(j.desc)).foreach { case (c, js) =>
      acc(s"core.Jobs.phase.${c}_ms") += unionLength(js.map(j => (j.start, j.end)))
    }
    r.tasks.foreach { case (k, v) => acc(s"task.$k") += v }
    acc("sources.Sinks.output_files") += r.outFiles
    acc("streaming.Streams.n_streams") += r.streams.size
    acc("streaming.Streams.n_batches") += r.batches.size
    r.batches.foreach { b =>
      batchMs += b.end - b.start
      acc("streaming.Streams.state_commit_ms") += b.stateCommitMs
      acc("streaming.Streams.wal_commit_ms") += b.walMs
    }
    r.streams.foreach { case (run, s) =>
      val bs = r.batches.filter(_.run == run)
      if (bs.nonEmpty) {
        acc("streaming.Streams.start_ms") += bs.map(_.end).min - s.start
        acc("streaming.Streams.state_rows") += bs.maxBy(_.batchId).stateRows
      }
    }
    // self time per span name: duration minus the part its children cover
    val children = spans.groupBy(_.parent)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(i => i._2 > i._1)
      val self = (s.end - s.start) - unionLength(kids.toSeq)
      acc(s"self.${selfName(s.name)}_ms") += math.max(0.0, self)
    }
    val writes = r.outFiles > 0 || r.streams.nonEmpty
    opWrites(r.op) = opWrites.getOrElse(r.op, false) || writes
  }

  def spansOut: Seq[Span] = out.toSeq

  /** Ops classified from the trace: true = wrote files or ran a stream. */
  def writers: Map[String, Boolean] = opWrites.toMap

  /** Per-layer figures, each a per-pass figure over `passes` traced passes. */
  def layerMetrics(passes: Int): Map[String, Double] = {
    val n = math.max(1, passes).toDouble
    def per(k: String) = acc(k) / n
    val t = (k: String) => acc(s"task.$k")
    val mb = 1024.0 * 1024.0
    val sortedBatches = batchMs.sorted
    val fixed = Map(
      "queries.build_ms" -> per("queries.build_ms"),
      "queries.exec_ms" -> per("queries.exec_ms"),
      "plans.analysis_ms" -> per("plans.analysis_ms"),
      "plans.optimizer_ms" -> per("plans.optimization_ms"),
      "plans.planning_ms" -> per("plans.planning_ms"),
      "plans.n_plans" -> per("plans.n_plans"),
      "core.Jobs.n_jobs" -> per("core.Jobs.n_jobs"),
      "core.Jobs.n_stages" -> per("core.Jobs.n_stages"),
      "core.Jobs.n_tasks" -> t("n") / n,
      "core.Jobs.job_busy_ms" -> per("core.Jobs.job_busy_ms"),
      "core.Jobs.job_overlap_ms" -> per("core.Jobs.job_overlap_ms"),
      "core.Jobs.driver_gap_ms" -> per("core.Jobs.driver_gap_ms"),
      "exec.task_run_ms" -> t("run_ms") / n,
      "exec.task_cpu_ms" -> t("cpu_ms") / n,
      "exec.task_gc_ms" -> t("gc_ms") / n,
      "exec.sched_delay_ms" -> t("sched_ms") / n,
      "exec.tasks_failed" -> (if (t("n") > 0) t("failed") / t("n") else 0.0),
      "exec.shuffle_write_mb" -> t("shuffle_w") / mb / n,
      "exec.shuffle_read_mb" -> t("shuffle_r") / mb / n,
      "exec.shuffle_wait_ms" -> t("fetch_wait_ms") / n,
      "exec.spill_mb" -> t("spill") / mb / n,
      "sources.input_mb" -> t("in_bytes") / mb / n,
      "sources.rows_in_per_out" ->
        (if (acc("ops.rows_out") > 0) t("in_records") / acc("ops.rows_out") else 0.0),
      "sources.Sinks.output_mb" -> t("out_bytes") / mb / n,
      "sources.Sinks.output_files" -> per("sources.Sinks.output_files"),
      "sources.Sinks.write_amp" ->
        (if (t("in_bytes") > 0) t("out_bytes") / t("in_bytes") else 0.0),
      "streaming.Streams.n_streams" -> per("streaming.Streams.n_streams"),
      "streaming.Streams.n_batches" -> per("streaming.Streams.n_batches"),
      "streaming.Streams.batch_p50_ms" ->
        (if (sortedBatches.isEmpty) 0.0 else sortedBatches(sortedBatches.size / 2)),
      "streaming.Streams.batch_max_ms" -> sortedBatches.lastOption.getOrElse(0.0),
      "streaming.Streams.start_ms" -> per("streaming.Streams.start_ms"),
      "streaming.Streams.state_commit_ms" -> per("streaming.Streams.state_commit_ms"),
      "streaming.Streams.state_rows" -> per("streaming.Streams.state_rows"),
      "streaming.Streams.wal_commit_ms" -> per("streaming.Streams.wal_commit_ms"))
    val phases = PhaseClasses.map(c =>
      s"core.Jobs.phase.${c}_ms" -> per(s"core.Jobs.phase.${c}_ms"))
    val self = SelfNames.map(s => s"self.${s}_ms" -> per(s"self.${s}_ms"))
    fixed ++ phases ++ self
  }
}

object Tracer {
  final case class JobRec(id: Int, start: Double, end: Double, desc: String)
  final case class StageRec(id: Int, job: Int, submit: Double, complete: Double, tasks: Int)
  final case class StreamRec(start: Double, end: Double, name: String)
  final case class BatchRec(run: String, batchId: Long, start: Double, end: Double,
                            walMs: Double, stateCommitMs: Double, stateRows: Double)

  /** `Jobs.labeled` descriptions, normalized to a fixed set of phase
    * names (batch ids and store names stripped). Streaming micro-batch
    * jobs outside any label carry Spark's own batch description. */
  val PhaseClasses: Seq[String] = Seq("unlabeled", "write_store",
    "replace_slices_discover", "replace_slices_stale_scan", "replace_slices_stage",
    "upsert_discover", "upsert_stale_scan", "upsert_stage", "sink_stage",
    "stream_fold", "stream_probe", "stream_batch", "other")

  private val Fold = ".* fold b\\d+$".r
  private val Probe = ".* probe b\\d+$".r

  def phaseClass(desc: String): String = desc match {
    case "" => "unlabeled"
    case d if d.startsWith("writeStore[") => "write_store"
    case d if d.startsWith("replaceSlices ") || d.startsWith("upsert ") =>
      val Array(op, step) = d.split(" ", 2)
      val c = s"${if (op == "upsert") "upsert" else "replace_slices"}_${step.replace('-', '_')}"
      if (PhaseClasses.contains(c)) c else "other"
    case Fold() => "stream_fold"
    case Probe() => "stream_probe"
    case d if d.contains(" stage ") => "sink_stage"
    case d if d.contains("runId = ") || d.contains("batch = ") => "stream_batch"
    case _ => "other"
  }

  /** Span names whose self time is reported (the plan phases fold into
    * one `plans` figure). */
  val SelfNames: Seq[String] = Seq("queries.build", "queries.exec",
    "core.Jobs.job", "exec.stage", "plans", "streaming.query", "streaming.batch")

  def selfName(span: String): String =
    if (span.startsWith("plans.")) "plans" else span

  def unionLength(xs: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    xs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  def phasesOf(qe: QueryExecution): Seq[(String, Double, Double)] =
    qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }

  def writtenFiles(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case a: AdaptiveSparkPlanExec => writtenFiles(a.executedPlan)
    case q: QueryStageExec => writtenFiles(q.plan)
    case c: CommandResultExec => writtenFiles(c.commandPhysicalPlan)
    case other => other.children.map(writtenFiles).sum
  }

  def epochMs(iso: String): Double =
    java.time.Instant.parse(iso).toEpochMilli.toDouble
}

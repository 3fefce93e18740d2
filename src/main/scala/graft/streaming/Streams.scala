package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.sources.Sinks

/** Structured Streaming surface (SURVEY.md §2.11 / §7.4): the reference
  * has no streaming — its closest construct is the manual per-date
  * micro-batch backfill (scripts/spark_ops.py:177-194). This module is
  * the modernization the survey prescribes: the same incremental
  * contracts expressed as streams, plus the watermarked window agg and
  * stateful sessionization a 100 TB event pipeline needs. Batch duals
  * (oracle-checked) live in queries.Events; these share the logical
  * shapes so the specs compare against them.
  */
object Streams {

  /** Default state-partition count for stateful streaming queries.
    * Rationale: a stateful operator opens, updates,
    * and COMMITS one state-store instance per shuffle partition per
    * micro-batch, and the measured commit cost is super-linear in the
    * number of CONCURRENT instances (StreamAB A/B, BASELINE.md: at 32
    * partitions e8's 128 store commits cost 120 task-s/batch — 26×
    * the 4.7 task-s of the same query at 8 partitions; invariant to
    * provider (RocksDB vs HDFS), disk (ext4 vs tmpfs), and bounded-
    * memory setting, i.e. pure commit-path contention). State
    * partition count is also PINNED into the checkpoint at the first
    * batch — it is a deployment decision, not a leftover of the batch
    * shuffle default. Size it to state volume (~100-500 MB per
    * partition at 100 TB event scale), not to core count. */
  val defaultStatePartitions: Int = 8

  /** Run `body` against an ISOLATED CLONE of `s` whose
    * spark.sql.shuffle.partitions is pinned to the state-partition
    * count. `body` must build the whole stream — source, transforms,
    * sink, AND any frame it joins or returns — from the session it
    * receives (micro-batch planning captures the partition count from
    * that session; mixing frames across sessions is unsupported).
    *
    * Why a clone (round-11 advice): the previous implementation
    * flipped the conf on `s` itself under a JVM-wide lock, which
    * serialized concurrent stateful streams AND still let any query
    * planning concurrently on `s` OUTSIDE the lock (a d12/d13
    * micro-batch probe, a batch query) pick up the e-family's state
    * partition count. The clone shares the SparkContext/SharedState
    * and snapshots the live conf + temp views, so the flip is invisible
    * to the parent, no lock or restore is needed, concurrent stateful
    * streams plan independently — and per-call memory-sink temp views
    * registered inside `body` die with the throwaway clone instead of
    * accumulating one result set per invocation in the parent catalog
    * for the life of the session (the other round-11 advice item). */
  def withStatePartitions[T](s: SparkSession,
                             n: Int = defaultStatePartitions)
                            (body: SparkSession => T): T = {
    val iso = org.apache.spark.sql.graftshim.isolatedSession(s)
    iso.conf.set("spark.sql.shuffle.partitions", n.toString)
    body(iso)
  }

  /** Per-KEY staging monitors: concurrent stagings of DIFFERENT dirs
    * must not serialize behind each other's corpus-copy write (a
    * process-wide lock would — round-11 review); same-key callers
    * still race on one monitor for the check-then-write. */
  private val stagingLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stage `df` as a parquet dir under StoreFs.base for stream
    * replay, hardened against the check-then-write races the round-11
    * review named: the dir is keyed by `key` AND the JVM pid (two
    * JVMs never share a staging dir, so neither can observe the
    * other's half-written files or poison a shared path by dying
    * mid-write), completeness is judged by Spark's _SUCCESS marker
    * rather than bare dir existence (a killed write restages —
    * mode=overwrite clears the leftovers), and the in-JVM
    * check-then-write races on a process-wide lock. Caller shapes the
    * frame (coalesce / repartitionByRange) before passing it — file
    * layout is part of the replay contract (file count ×
    * maxFilesPerTrigger = micro-batch count) — and DECLARES that
    * layout via `shape`, which is folded into the staging key: two
    * callers staging differently-shaped frames under the same logical
    * key would otherwise silently share whichever layout was written
    * first (round-11 advice; e5/e9/e10 stage the natural layout, e6
    * stages coalesce(1), e8 stages the ordered-replay range layout —
    * previously distinguished only by convention). A fresh staging's
    * part files get strictly increasing mtimes in name order
    * ([[stampNameOrder]]), so a `maxFilesPerTrigger(1)` replay reads
    * them as the same micro-batches in every JVM. Returns the dir
    * path. */
  def stageForReplay(df: DataFrame, key: String, shape: String): String = {
    val fullKey = s"$key-$shape"
    val s = df.sparkSession
    val dir = graft.core.StoreFs.base(s) +
      s"/graft-stream-$fullKey-p${ProcessHandle.current.pid}"
    stagingLocks.computeIfAbsent(fullKey, _ => new Object).synchronized {
      if (!graft.core.StoreFs.exists(s, s"$dir/_SUCCESS")) {
        df.write.mode("overwrite").parquet(dir)
        stampNameOrder(s, dir)
      }
    }
    dir
  }

  /** Gives the part files of a staged dir strictly increasing mtimes
    * in name order. FileStreamSource replays files in mtime order, and
    * the files of one write job share their mtimes, so without the
    * stamp the tie breaks in listing order and which file becomes
    * micro-batch 0 changes from JVM to JVM. Part-NNNNN name order is
    * partition order, which for a range-partitioned staging is range
    * order (partition 0 = lowest range). Runs once per staging, in
    * the staging lock, before any reader lists the dir. */
  private def stampNameOrder(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    if (parts.nonEmpty) {
      val base = parts.map(_.getModificationTime).max
      parts.zipWithIndex.foreach { case (f, i) =>
        fs.setTimes(f.getPath, base + (i + 1) * 1000L, -1)
      }
    }
  }

  /** Stage `df` as `nFiles` EVENT-TIME-ORDERED parquet files (range
    * partitioned + sorted on `tsCol`) whose modification times strictly
    * increase with the range order. FileStreamSource replays files in
    * mtime order, so a `maxFilesPerTrigger(1)` reader consumes the
    * frame as `nFiles` micro-batches of non-decreasing event time —
    * which is what lets a WATERMARK actually advance between batches
    * and evict state. A single-file (c1) staging replays as ONE batch:
    * semantically fine for append sinks, but the watermark never moves
    * mid-batch, so a stream-stream join holds its entire input in
    * state — the round-20 sf10 sweep measured e8 at 275 s that way,
    * ~8× the bounded-state replay of the same data. The mtime stamp is
    * what makes the order deterministic: local listings are OS-order
    * and same-job writes share mtimes, so ties would otherwise replay
    * in arbitrary order and ordered batches are exactly the
    * no-late-data guarantee the watermark correctness argument needs
    * (batch i+1's min event time ≥ batch i's max, while every
    * watermark lags ≥ the join's look-back range — nothing is ever
    * dropped, so the AvailableNow output still converges to the batch
    * join the oracle computes). [[stageForReplay]] stamps every fresh
    * staging that way. */
  def stageForOrderedReplay(df: DataFrame, key: String, tsCol: String,
                            nFiles: Int): String =
    stageForReplay(
      df.repartitionByRange(nFiles, col(tsCol)).sortWithinPartitions(tsCol),
      key, s"rts$nFiles")

  /** Hourly tumbling-window counts per event_type with a watermark —
    * streaming dual of queries.Events.e2HourlyAgg. `ts` is event-time
    * (TimestampType); late data beyond the watermark is dropped. */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** One incoming event for sessionization. `ts` is an epoch count in
    * whatever unit the caller normalized to (ns from a legacy
    * nanos-as-long read, µs via core.EventTime.tsMicros) — `gap` must be
    * expressed in the same unit. */
  case class Ev(user_id: Long, ts: Long, value: Double)

  /** Open-session state carried between micro-batches. */
  case class SessState(start: Long, last: Long, n: Long, sum: Double)

  /** A closed session. `start_ts`/`end_ts` are epoch counts in whatever
    * unit the input [[Ev.ts]] carried (unit-neutral by design: ns from a
    * legacy nanos-as-long read, µs via core.EventTime.tsMicros) — the
    * names deliberately do NOT pin a unit, because the unit is the
    * caller's normalization choice, not this operator's. */
  case class Session(user_id: Long, start_ts: Long, end_ts: Long,
                     n_events: Long, sum_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState — the streaming
    * dual of queries.Events.e3Sessions (lag + running sum). A session
    * closes when a later event arrives more than `gap` after the last
    * one (`gap` is in whatever unit `Ev.ts` carries — ns from the raw
    * parquet, µs when pre-truncated for oracle parity like e6); the open
    * session stays in state across micro-batches (flushed
    * by timeout in a continuous deployment; final-open sessions are
    * intentionally unemitted under AvailableNow, mirroring the batch
    * query's "max(sess_id)" which counts them separately).
    *
    * State size = one SessState per active user — bounded by active-user
    * cardinality, the canonical mapGroupsWithState sizing rule.
    */
  def sessionize(events: Dataset[Ev], gap: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val evs = it.toSeq.sortBy(_.ts)
          var open = state.getOption
          val closed = Seq.newBuilder[Session]
          evs.foreach { e =>
            open match {
              case Some(st) if e.ts - st.last > gap =>
                closed += Session(user, st.start, st.last, st.n, st.sum)
                open = Some(SessState(e.ts, e.ts, 1L, e.value))
              case Some(st) =>
                open = Some(st.copy(last = math.max(st.last, e.ts),
                  n = st.n + 1, sum = st.sum + e.value))
              case None =>
                open = Some(SessState(e.ts, e.ts, 1L, e.value))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** THE shared multi-batch replay harness (one copy of the round-11
    * hardenings — behind d12/d13's ingest gates and s27's streaming
    * delete): stage the SHAPED arriving frame for replay (file count ×
    * maxFilesPerTrigger(1) = micro-batch count — callers shape with
    * e.g. repartitionByRange(2, key) and declare it via `shape`),
    * run `probe` per micro-batch into an idempotent batch=<id>
    * OVERWRITE sink (foreachBatch is at-least-once; a retried batch
    * rewrites its own subdir instead of duplicating rows in a shared
    * one) labeled `<tag> probe b<id>` (the label tools.PlanAudit picks
    * the executed probe plan by), and return the sink's union projected
    * to the probe's own columns.
    * The sink is a fresh version of one root per (tag, staging key)
    * ([[graft.core.StoreFs.buildVersion]]): pre-wiped (pid recycling
    * across JVM restarts must not union a killed run's stale subdirs),
    * never shared by two calls (concurrent runs in one JVM serialize
    * on the root), and retired once two newer calls have completed.
    * An empty arriving frame stages no data files → zero micro-batches
    * → no sink data: returns probe over the empty frame. */
  def replayForeachBatch(s: SparkSession, shaped: DataFrame,
                         stagingKey: String, shape: String, tag: String)
                        (probe: DataFrame => DataFrame,
                         foldEach: (DataFrame, Long) => Unit =
                           (_, _) => ()): DataFrame = {
    val streamDir = stageForReplay(shaped, stagingKey, shape)
    val (sinkDir, _) = graft.core.StoreFs.buildVersion(s,
        graft.core.StoreFs.root(s, s"$tag-sink-$stagingKey")) { sinkDir =>
      val q = s.readStream.schema(shaped.schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir)
        .writeStream
        .foreachBatch { (mb: DataFrame, batchId: Long) =>
          // index-fold side channel (d16's tick): runs INSIDE the same
          // micro-batch as the probe, with the batch id so fold writes
          // can land in their own idempotent batch=<id> subdirs; the
          // empty-fallback probe below never invokes it (a zero-batch
          // replay folds nothing)
          graft.core.Jobs.labeled(s, s"$tag fold b$batchId") {
            foldEach(mb, batchId)
          }
          val out = probe(mb)
          graft.core.Jobs.labeled(s, s"$tag probe b$batchId") {
            out.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // built ONCE: serves the empty fallback, the read-back schema and
    // the column projection; twice would pay the probe's registry side
    // effects twice on the empty path
    lazy val emptyProbe = probe(shaped.limit(0))
    // the sink holds the probe's own rows, so its schema is the probe's:
    // reading with it skips Spark's footer-inference job
    if (graft.core.StoreFs.exists(s, sinkDir))
      s.read.schema(emptyProbe.schema).parquet(sinkDir)
        // partition discovery still surfaces batch=<id> as a column —
        // project to the probe's own columns
        .select(emptyProbe.columns.toIndexedSeq.map(col): _*)
    else emptyProbe
  }

  /** Streaming backfill — the batch Ingestor's contract as a stream:
    * read available files once (Trigger.AvailableNow), and per
    * micro-batch replace each contained `sliceCol` slice of the store
    * (idempotent via Sinks.replaceSlices — a replayed batch rewrites the
    * same slices, the exactly-once pattern for this sink). */
  def ingestAvailableNow(stream: DataFrame, storePath: String,
                         checkpoint: String, sliceCol: String,
                         partCol: String): Unit = {
    val q = stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val slices = batch.select(sliceCol).distinct().collect()
          .map(_.get(0).toString).toSeq
        if (slices.nonEmpty) {
          Sinks.replaceSlices(batch.sparkSession, batch, storePath,
            sliceCol, slices, partCol)
        }
      }
      .start()
    q.awaitTermination()
  }
}

package graft.core

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so Verify / Bench / tests share identical
  * semantics-relevant config.
  *
  *  - UTC session TZ (oracle parity with DuckDB).
  *  - ANSI stays at the Spark 4 default (true) — the reference runs
  *    pyspark>=4.0.1 with the same default (SURVEY.md §1.2).
  *  - `parquet.nanosAsLong`: the testdata `events.ts` is TIMESTAMP(NANOS),
  *    which the vectorized reader rejects; read it as LongType (ns since
  *    epoch) and convert explicitly (see queries.Events).
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting is
  *    the 100 TB posture; at local-mode scale it is near-free.
  *  - shuffle.partitions defaults to the core count, not 200: at 100 TB this
  *    is cluster-sized instead, but AQE coalescing makes the static value a
  *    ceiling, not a tuning knob.
  *  - `file:` resolves to [[LocalFs]] for both the `FileSystem` and the
  *    `FileContext` API: without libhadoop, Hadoop's local filesystem forks
  *    `/bin/chmod` on every file create and every mkdir — about three
  *    child processes per file a store, sink or checkpoint writes.
  *    Registered here, before the session exists, because the JVM-wide
  *    FileSystem cache is keyed by scheme and user, not by conf.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Streaming state-store provider. DEFAULT = RocksDB: at 100 TB event
    * volume the range-join state (e8) and watermark-dedup keys (e9)
    * exceed executor heap under the HDFS-backed (in-memory) provider —
    * RocksDB spills state to local SSD and bounds block-cache memory.
    * `SPARK_GRAFT_STATESTORE=hdfs` opts back into the default provider
    * (used by StreamsSpec to test both). */
  def stateStoreProvider: String =
    sys.env.getOrElse("SPARK_GRAFT_STATESTORE", "rocksdb") match {
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state." +
          "HDFSBackedStateStoreProvider"
      case _ =>
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"
    }

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // graft's SQL functions + the size(array_intersect(sorted distinct))
      // → merge-count optimizer rule (plans.GraftExtensions / Rules.scala)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        stateStoreProvider)
      // one shared RocksDB block cache across all state partitions
      // instead of per-store unbounded LRU — the executor-memory guard
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "true")
      // commit the per-batch changelog instead of a full SST snapshot
      // (snapshots amortize in background maintenance) — cuts the
      // per-micro-batch commit cost that dominates e8's 32×4 store
      // commits; at 100 TB state it is the difference between commit
      // time scaling with STATE SIZE vs with BATCH DELTA
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      // exact percentiles (oracle parity) by default; the t-digest scale
      // path (functions.Agg) A/B-able per-run for ScaleRun evidence
      .config(graft.functions.Agg.ApproxFlag,
        sys.env.getOrElse("SPARK_GRAFT_APPROX_PCT", "false"))
      // FileOutputCommitter version — MEASURED BOTH WAYS in round 20
      // (OPTIMIZATION_r20.md): v2 (task-commit renames files straight
      // into the destination) was the candidate for the lifecycle
      // gates' many-partition-dir writes, but on the LOCAL filesystem
      // it measured consistently SLOWER (z3 4.2→5.5 s, i4 2.8→3.6 s,
      // d17 9.1→10.6 s) — v1's job commit renames one DIRECTORY per
      // task while v2 renames every FILE, and local renames are cheap
      // enough that v1's serial merge never dominates. Default stays
      // v1 (also the stronger failure contract); the env knob is the
      // deployment dial for object stores, where per-dir renames are
      // copies and v2/cloud committers win.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.env.getOrElse("SPARK_GRAFT_FOC_VERSION", "1"))
      // File-listing strategy (guide §6): above this many paths Spark
      // resolves a read's partition directories with a DISTRIBUTED
      // listing job (default threshold 32). The lifecycle stores here
      // hold 38-64 partition dirs, so every partitioned store read
      // crossed the default and paid a 32-task listing job — 0.08-0.25 s
      // of pure task scheduling per read on the LOCAL filesystem, where
      // the driver lists the same paths in microseconds (JobProfile,
      // round 21: 1-3 such jobs in every lifecycle gate). Local default
      // lists up to 4096 paths on the driver; deployments on object
      // stores / congested namenodes (where per-path listing is a slow
      // RPC and the distributed listing genuinely wins) dial it back
      // down with the env knob.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_PAR_LISTING_THRESHOLD", "4096"))
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalFs.Context].getName)

  def get(): SparkSession = {
    // reclaim dead JVMs' pid-keyed staging/store/sink dirs before any
    // of this session's queries stage their own (see TmpHygiene)
    TmpHygiene.sweepStaleOnce()
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Silence the `WindowExec: No Partition Defined` warning (round-16
    // verdict nit): the engine's single-partition windows are the
    // DOCUMENTED bounded ones — w3/w4's global running windows over the
    // small events rollup and m7/u14's corpus-wide quantile ladders
    // (BASELINE.md notes) — where a partition key would change the
    // semantics, not the scale. Every other window in the engine is
    // keyed. The filter is MESSAGE-scoped, not a logger-level cut
    // (review-pass finding: a blanket ERROR level would also swallow
    // any future, genuinely new WindowExec warning), and suppresses
    // only this one known-bounded message so the bench/verify tails
    // stay readable.
    suppressKnownBoundedWindowWarning()
    spark
  }

  private lazy val suppressKnownBoundedWindowWarning: () => Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    // (logger name, message substring) pairs to DENY — each is a known
    // benign-by-contract message, matched by CONTENT so any genuinely
    // new warning from the same logger still surfaces:
    //  - WindowExec "No Partition Defined": the engine's documented
    //    bounded single-partition windows (see above).
    //  - FileStreamSink "Assume no metadata directory": Spark checks
    //    every batch read path for stream-sink metadata and logs a full
    //    FileNotFoundException STACK TRACE when the path is a glob
    //    (r2's bronze CSV glob) — four stack traces per bench run
    //    burying the tail the driver captures; the check's outcome
    //    ("no metadata, read as plain files") is exactly the intended
    //    behavior.
    val known = Seq(
      "org.apache.spark.sql.execution.window.WindowExec" ->
        "No Partition Defined for Window operation",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink" ->
        "Assume no metadata directory")
    () => {
      // best-effort by contract (review-pass finding): an embedder may
      // route log4j-api to a non-core provider (log4j-to-slf4j, or no
      // log4j-core at all) — getContext then isn't a core
      // LoggerContext, and a cosmetic log filter must never be fatal
      // to session bootstrap
      LogManager.getContext(false) match {
        case ctx: LoggerContext =>
          val cfg = ctx.getConfiguration
          known.foreach { case (name, needle) =>
            if (cfg.getLoggerConfig(name).getName != name) {
              val lc = new LoggerConfig(name, Level.WARN, true)
              lc.addFilter(new AbstractFilter() {
                override def filter(event: LogEvent): Filter.Result =
                  if (event.getMessage.getFormattedMessage.contains(needle))
                    Filter.Result.DENY
                  else Filter.Result.NEUTRAL
              })
              cfg.addLogger(name, lc)
            }
          }
          ctx.updateLoggers()
        case _ => // non-core provider: leave the (noisy) default in place
      }
    }
  }
}

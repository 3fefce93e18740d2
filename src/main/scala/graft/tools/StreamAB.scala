package graft.tools

/** A/B harness for the streaming trio (e6/e8/e9): runs each query
  * `passes` times on the given state-store provider (run once per
  * provider and compare) and prints, per pass, the wall time next to
  * the streaming engine's own accounting from [[graft.core.Telemetry]]
  * — micro-batch count, summed addBatch duration, and the state-store
  * commit/update components from StateOperatorProgress.
  * Separates "the host was contended" (wall ≫ batch durations, commit
  * share flat) from "state-store commits got slower" (commit share
  * grows) without guessing.
  * Usage: runMain graft.tools.StreamAB [sfDir] [passes] [rocksdb|hdfs]
  */
object StreamAB {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val provider = if (args.length > 2) args(2) else "rocksdb"
    val providerClass = "org.apache.spark.sql.execution.streaming.state." +
      (provider match {
        case "rocksdb" => "RocksDBStateStoreProvider"
        case "hdfs" => "HDFSBackedStateStoreProvider"
        case other => sys.error(s"unknown provider $other (rocksdb|hdfs)")
      })
    val spark = graft.core.Sessions.get()
    // before any stream starts; the isolated stream sessions
    // (Streams.withStatePartitions) clone this session's live conf
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      providerClass)

    println(s"[streamab] provider=$provider sf=$dir " +
      s"shufflePartitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    val names = Seq("e6_stream_sessions", "e8_stream_join", "e9_stream_dedup")
    // untimed warmup pass (JIT + staging-dir writes)
    names.foreach(n =>
      graft.SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count())
    (1 to passes).foreach { pass =>
      names.foreach { name =>
        val (wall, rec) = graft.core.Telemetry.capture(spark) {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        val bs = rec.batches
        println(f"[streamab] pass=$pass q=$name%-18s wall=${wall}%6.2fs " +
          f"batches=${bs.size}%2d addBatch=${bs.map(_.addBatchMs).sum / 1e3}%6.2fs " +
          f"stateCommit=${bs.map(_.stateCommitMs).sum / 1e3}%6.2fs " +
          f"stateUpdate=${bs.map(_.stateUpdateMs).sum / 1e3}%5.2fs " +
          f"stateRemove=${bs.map(_.stateRemoveMs).sum / 1e3}%5.2fs " +
          f"stateRows=${rec.peakStateRows}")
      }
    }
    spark.stop()
  }
}

package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sources.Sinks
import graft.streaming.Streams

/** Writing files must not create processes: Hadoop's local filesystem
  * forks `/bin/chmod` per create and per mkdir when libhadoop is absent,
  * which the session's `file:` binding (core.LocalFs) avoids. */
class ForkFreeWriteSpec extends SparkSpec {

  /** Minor page faults of this process's reaped children, field 11 of
    * `/proc/self/stat`: it moves only when a child process exits and is
    * waited for, so an unchanged value means no fork ran to completion. */
  private def childFaults(): Long = {
    val stat = Files.readString(Paths.get("/proc/self/stat"))
    stat.substring(stat.lastIndexOf(')') + 2).split(' ')(8).toLong
  }

  test("a writeStore partitioned write, a compactPartitioned swap and a " +
    "checkpointed stream micro-batch spawn no child process") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")),
      "needs Linux /proc")
    val s = spark
    import s.implicits._
    val base = tmpDir("graft-forkfree")
    val docs = (0 until 400).map(i => (i % 8, i, i % 3, s"t$i"))
      .toDF("bkt", "doc_id", "chunk_idx", "text")
    val rows = Seq(("2024-01-10", 2024, "a", 1.0),
      ("2024-02-05", 2024, "b", 2.0), ("2025-01-15", 2025, "c", 3.0))
      .toDF("dt_ref", "dt_year", "key", "value")
    rows.coalesce(1).write.parquet(s"$base/in")

    def writes(tag: String): Unit = {
      val store = s"$base/$tag/store"
      Similarity.writeStore(docs, store, Seq("bkt"))
      Sinks.compactPartitioned(spark, store, "bkt")
      Streams.ingestAvailableNow(
        spark.readStream.schema(rows.schema).parquet(s"$base/in"),
        s"$base/$tag/ingest", s"$base/$tag/ckpt", "dt_ref", "dt_year")
    }
    // warm-up: one-time class init (e.g. Hadoop Shell's setsid probe)
    // may fork, and stays outside the measured window
    writes("warm")
    // so does Spark's once-per-JVM `getconf PAGESIZE`, which otherwise
    // runs at the first metrics heartbeat, 10-20 s after the context
    // starts, and could land inside the window of a short test run
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val before = childFaults()
    writes("hot")
    assert(childFaults() === before, "a write spawned a child process")
    assert(spark.read.parquet(s"$base/hot/store").count() === docs.count())
    assert(spark.read.parquet(s"$base/hot/ingest").count() === rows.count())
  }
}

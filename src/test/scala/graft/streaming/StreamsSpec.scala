package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Streaming operators vs their batch duals: windowed agg parity,
  * stateful sessionization across micro-batches, and the AvailableNow
  * ingest → replaceSlice store contract (idempotent on re-run). */
class StreamsSpec extends SparkSpec {

  import spark.implicits._

  test("hourlyCounts matches the batch groupBy on the same data") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.hourlyCounts(df).writeStream
      .format("memory").queryName("hourly").outputMode(OutputMode.Complete())
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 10:05:00"), "click", 1.0),
      (t("2024-01-01 10:55:00"), "click", 2.0),
      (t("2024-01-01 11:05:00"), "click", 4.0),
      (t("2024-01-01 10:10:00"), "view", 8.0))
    q.processAllAvailable()
    val got = spark.table("hourly")
      .select(date_format(col("hour"), "HH").cast("int").as("h"),
        col("event_type"), col("n_events"), col("sum_value"))
      .as[(Int, String, Long, Double)].collect().toSet
    q.stop()
    assert(got === Set((10, "click", 2L, 3.0), (11, "click", 1L, 4.0),
      (10, "view", 1L, 8.0)))
  }

  test("sessionize: closes sessions on gap, carries state across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Streams.Ev]
    val gapNs = 30L * 60 * 1000000000L // 30 min
    val out = Streams.sessionize(mem.toDS(), gapNs)
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    val h = 3600L * 1000000000L
    // batch 1: two close events for user 1 → one open session, nothing out
    mem.addData(Streams.Ev(1, h, 1.0), Streams.Ev(1, h + 60L * 1000000000L, 2.0))
    q.processAllAvailable()
    assert(spark.table("sess").count() === 0)
    // batch 2: event 2h later → closes the first session (n=2, sum=3)
    mem.addData(Streams.Ev(1, 3 * h, 4.0))
    q.processAllAvailable()
    val sessions = spark.table("sess")
      .as[Streams.Session].collect().toSeq
    q.stop()
    assert(sessions === Seq(
      Streams.Session(1, h, h + 60L * 1000000000L, 2, 3.0)))
  }

  test("sessionize over real events parquet agrees with the batch e3 query") {
    // stream the actual testdata events table (whatever physical ts type
    // the driver shipped — core.EventTime normalizes to µs) through the
    // stateful sessionizer; closed sessions = batch total sessions minus
    // the still-open last session of each user.
    val dir = "/root/testdata/sf0.001"
    // file sources stream DIRECTORIES; stage the single-file table into one
    val streamDir = tmpDir("realsess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(streamDir, "events.parquet"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(streamDir)
    val stream = raw
      .select(col("user_id"), graft.core.EventTime.tsMicros(raw).as("ts"),
        col("value"))
      .as[Streams.Ev]
    val gapUs = 30L * 60 * 1000000L
    val q = Streams.sessionize(stream, gapUs)
      .writeStream.format("memory").queryName("realsess")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val closed = spark.table("realsess").count()
    val batch = graft.SparkEntry.queries("e3_sessions")(spark, dir)
    val totals = batch.agg(sum("n_sessions"), count(lit(1))).head()
    val expectedClosed = totals.getLong(0) - totals.getLong(1)
    assert(closed === expectedClosed,
      s"closed=$closed, batch sessions=${totals.getLong(0)}, users=${totals.getLong(1)}")
  }

  test("append-mode windowed agg: watermark closes + evicts windows (e10 shape)") {
    // Pins the eviction boundary the e10 oracle depends on: a window
    // [h, h+1h) is emitted+evicted once the watermark (max event ms −
    // delay) reaches its END (end <= wm, checked at the exact-tie batch
    // below). Also asserts state is EVICTED, not retained — the property
    // complete mode lacks and the reason e10 runs append.
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "seg", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("seg"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("seg"), col("n"))
    val q = agg.writeStream.format("memory").queryName("e10shape")
      .outputMode(OutputMode.Append()).start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 10:30:00"), "a", 1.0))
    q.processAllAvailable()
    assert(spark.table("e10shape").count() === 0) // wm 08:30, nothing closed
    // exact tie: wm becomes 11:00:00.000 == end of window [10:00, 11:00)
    mem.addData((t("2024-01-01 13:00:00"), "a", 1.0))
    q.processAllAvailable()
    val atTie = spark.table("e10shape").count()
    // 1 ms past the tie: wm 11:00:00.001 > end strictly
    mem.addData((t("2024-01-01 13:00:00.001"), "a", 1.0))
    q.processAllAvailable()
    val past = spark.table("e10shape")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val so = q.lastProgress.stateOperators
    q.stop()
    assert(past === Set((t("2024-01-01 10:00:00"), "a", 1L)),
      s"emitted windows: $past")
    assert(atTie === 1, // end <= wm — the boundary the e10 oracle encodes
      s"eviction boundary drifted: window emitted at exact tie? count=$atTie")
    // evicted, not retained: only the open 13:00 window remains in state
    assert(so.nonEmpty && so(0).numRowsTotal === 1,
      s"state rows ${so.headOption.map(_.numRowsTotal)} != 1 open window")
  }

  test("state store is RocksDB by default; state rows bounded by active keys") {
    import scala.jdk.CollectionConverters._
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Streams.Ev]
    val gapNs = 30L * 60 * 1000000000L
    val q = Streams.sessionize(mem.toDS(), gapNs)
      .writeStream.format("memory").queryName("rocks")
      .outputMode(OutputMode.Append()).start()
    // 3 users × 60 events within the gap → state must hold exactly one
    // open session per ACTIVE USER (3 rows), never one per event — the
    // bounded-state sizing rule the 100 TB posture depends on
    mem.addData((1 to 60).map(i =>
      Streams.Ev(i % 3, i.toLong * 1000000000L, 1.0)): _*)
    q.processAllAvailable()
    val so = q.lastProgress.stateOperators
    q.stop()
    assert(so.nonEmpty, "no stateful operator reported progress")
    assert(so(0).numRowsTotal === 3,
      s"state rows ${so(0).numRowsTotal} != active users 3")
    // the provider actually engaged: RocksDB-specific custom metrics
    val keys = so(0).customMetrics.keySet().asScala
    assert(keys.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb metrics in: ${keys.mkString(", ")}")
  }

  test("ingestAvailableNow: stream-ingested store matches batch ingest; idempotent") {
    val base = tmpDir("stream")
    val inDir = s"$base/in"
    val slice = Seq(
      ("2024-01-10", 2024, "a", 1.0), ("2024-01-10", 2024, "b", 2.0),
      ("2024-02-05", 2024, "a", 3.0), ("2025-01-15", 2025, "c", 4.0),
    ).toDF("dt_ref", "dt_year", "key", "value")
    slice.write.parquet(inDir)

    def runStream(store: String, ckpt: String): Unit =
      Streams.ingestAvailableNow(
        spark.readStream.schema(slice.schema).parquet(inDir),
        store, ckpt, "dt_ref", "dt_year")

    val store = s"$base/store"
    runStream(store, s"$base/ckpt1")
    def read(p: String) = spark.read.parquet(p)
      .select("dt_ref", "dt_year", "key", "value")
      .as[(String, Int, String, Double)].collect().toSet
    val expected = Set(
      ("2024-01-10", 2024, "a", 1.0), ("2024-01-10", 2024, "b", 2.0),
      ("2024-02-05", 2024, "a", 3.0), ("2025-01-15", 2025, "c", 4.0))
    assert(read(store) === expected)
    // replay with a fresh checkpoint — replaceSlices makes it idempotent
    runStream(store, s"$base/ckpt2")
    assert(read(store) === expected)
  }

  test("stageForReplay stamps strictly increasing mtimes in part-file " +
    "name order, once, at staging time") {
    val key = s"mtime-spec-${java.util.UUID.randomUUID().toString.take(8)}"
    val shaped = spark.range(0, 300).toDF("doc_id")
      .repartitionByRange(3, col("doc_id"))
    val dir = Streams.stageForReplay(shaped, key, "r3")
    try {
      def mtimes = new java.io.File(localPath(dir)).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .map(_.lastModified).toSeq
      val first = mtimes
      assert(first.length === 3, s"expected 3 staged files: $first")
      assert(first.zip(first.tail).forall { case (a, b) => a < b },
        s"mtimes not strictly increasing in name order: $first")
      // a second call finds the staging complete and leaves it as it is
      assert(Streams.stageForReplay(shaped, key, "r3") === dir)
      assert(mtimes === first)
    } finally graft.core.StoreFs.deleteQuietly(spark, dir)
  }
}

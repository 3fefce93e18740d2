package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec
import graft.core.StoreFs

/** S5/S6/S7 sink semantics — especially the Delta-replaceWhere emulation:
  * slice replacement, idempotency, multi-partition slices, new-partition
  * arrival, and batched replacement (SURVEY.md §7.3 "hardest parity item"). */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  private def store(rows: (String, Int, String, Double)*) =
    rows.toDF("dt_ref", "dt_year", "key", "value")

  private def readStore(path: String) =
    spark.read.parquet(path)
      .select("dt_ref", "dt_year", "key", "value")
      .as[(String, Int, String, Double)].collect().toSet

  test("replaceSlice: first write creates a partitioned store") {
    val path = tmpDir("sinks") + "/store"
    Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 1.0)),
      path, "dt_ref", "2024-01-01", "dt_year")
    assert(readStore(path) === Set(("2024-01-01", 2024, "a", 1.0)))
    assert(Files.exists(Paths.get(path, "dt_year=2024")))
  }

  test("replaceSlice: replaces exactly the incoming slice, keeps others") {
    val path = tmpDir("sinks") + "/store"
    Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 1.0)),
      path, "dt_ref", "2024-01-01", "dt_year")
    Sinks.replaceSlice(spark, store(("2024-02-01", 2024, "a", 2.0)),
      path, "dt_ref", "2024-02-01", "dt_year")
    // re-run Feb with different content — Feb replaced, Jan untouched
    Sinks.replaceSlice(spark, store(("2024-02-01", 2024, "a", 9.0)),
      path, "dt_ref", "2024-02-01", "dt_year")
    assert(readStore(path) === Set(
      ("2024-01-01", 2024, "a", 1.0), ("2024-02-01", 2024, "a", 9.0)))
  }

  test("replaceSlice: re-running the same slice is idempotent") {
    val path = tmpDir("sinks") + "/store"
    val slice = store(("2024-01-01", 2024, "a", 1.0), ("2024-01-01", 2024, "b", 2.0))
    Sinks.replaceSlice(spark, slice, path, "dt_ref", "2024-01-01", "dt_year")
    val first = readStore(path)
    Sinks.replaceSlice(spark, slice, path, "dt_ref", "2024-01-01", "dt_year")
    assert(readStore(path) === first)
  }

  test("replaceSlice: untouched partitions are never rewritten") {
    val path = tmpDir("sinks") + "/store"
    Sinks.replaceSlice(spark, store(("2023-06-01", 2023, "x", 1.0)),
      path, "dt_ref", "2023-06-01", "dt_year")
    val dir2023 = Paths.get(path, "dt_year=2023")
    val before = Files.list(dir2023).toArray.map(_.toString).toSet
    Sinks.replaceSlice(spark, store(("2024-06-01", 2024, "y", 2.0)),
      path, "dt_ref", "2024-06-01", "dt_year")
    val after = Files.list(dir2023).toArray.map(_.toString).toSet
    assert(before === after) // 2023 partition files untouched
    assert(readStore(path) === Set(
      ("2023-06-01", 2023, "x", 1.0), ("2024-06-01", 2024, "y", 2.0)))
  }

  private def cdc(rows: (String, Int, Double, Long)*) =
    rows.toDF("key", "pt", "value", "seq")

  private def readUpsertStore(path: String) =
    spark.read.parquet(path)
      .select("key", "pt", "value")
      .as[(String, Int, Double)].collect().toSet

  test("upsert: keep-last de-batch, update vs insert, cross-partition " +
    "key move, idempotent re-run, untouched partitions never rewritten") {
    val path = tmpDir("sinks") + "/ups"
    Sinks.upsert(spark, cdc(("a", 1, 1.0, 0L), ("b", 1, 2.0, 0L),
      ("c", 2, 3.0, 0L), ("d", 3, 4.0, 0L)),
      path, Seq("key"), "seq", "pt")
    assert(readUpsertStore(path) === Set(
      ("a", 1, 1.0), ("b", 1, 2.0), ("c", 2, 3.0), ("d", 3, 4.0)))
    val dir3 = Paths.get(path, "pt=3")
    val before = Files.list(dir3).toArray.map(_.toString).toSet
    // batch: a updated twice (seq 2 wins), c MOVES to partition 1,
    // e inserted; d (partition 3) untouched
    val batch = cdc(("a", 1, 10.0, 1L), ("a", 1, 20.0, 2L),
      ("c", 1, 30.0, 1L), ("e", 2, 50.0, 1L))
    Sinks.upsert(spark, batch, path, Seq("key"), "seq", "pt")
    val want = Set(("a", 1, 20.0), ("b", 1, 2.0), ("c", 1, 30.0),
      ("d", 3, 4.0), ("e", 2, 50.0))
    assert(readUpsertStore(path) === want)
    // the stale pre-move copy of c (pt=2) is gone, not orphaned
    assert(spark.read.parquet(path).filter("key = 'c'").count() === 1)
    Sinks.upsert(spark, batch, path, Seq("key"), "seq", "pt") // re-run
    assert(readUpsertStore(path) === want)
    // the seq column is transport metadata — never lands in the table
    assert(!spark.read.parquet(path).columns.contains("seq"))
    val after = Files.list(dir3).toArray.map(_.toString).toSet
    assert(before === after) // pt=3 files untouched by either apply
  }

  test("upsert commit is crash-safe at EVERY rename boundary; readTable " +
    "serves the old snapshot mid-commit and the new table after recovery") {
    val batch = cdc(("a", 1, 10.0, 1L), ("a", 1, 20.0, 2L),
      ("c", 1, 30.0, 1L), ("e", 2, 50.0, 1L))
    def freshStore(path: String): Unit =
      Sinks.upsert(spark, cdc(("a", 1, 1.0, 0L), ("b", 1, 2.0, 0L),
        ("c", 2, 3.0, 0L), ("d", 3, 4.0, 0L)),
        path, Seq("key"), "seq", "pt")
    val preBatch = Set(("a", 1, 1.0), ("b", 1, 2.0), ("c", 2, 3.0),
      ("d", 3, 4.0))
    val postBatch = Set(("a", 1, 20.0), ("b", 1, 2.0), ("c", 1, 30.0),
      ("d", 3, 4.0), ("e", 2, 50.0))
    def snapshot(path: String) =
      Sinks.readTable(spark, path).select("key", "pt", "value")
        .as[(String, Int, Double)].collect().toSet
    var crashPoint = 0
    var crashed = true
    while (crashed) {
      val path = tmpDir("sinks") + s"/crash$crashPoint"
      freshStore(path)
      assert(snapshot(path) === preBatch)
      Sinks.crashBeforeRename = crashPoint
      crashed = try { Sinks.upsert(spark, batch, path, Seq("key"), "seq", "pt"); false }
      catch { case _: IllegalStateException => true }
      finally Sinks.crashBeforeRename = -1
      if (crashed) {
        // mid-commit: the marker is present, readTable must serve the
        // complete PRE-commit snapshot — never a partial mix
        assert(Files.exists(Paths.get(path, "_graft_commit")),
          s"crash point $crashPoint left no marker")
        assert(snapshot(path) === preBatch,
          s"mid-commit snapshot mixed at crash point $crashPoint")
        // recovery rolls forward to exactly the committed state
        assert(Sinks.recover(spark, path))
        assert(!Files.exists(Paths.get(path, "_graft_commit")))
        assert(readUpsertStore(path) === postBatch,
          s"recovery incomplete from crash point $crashPoint")
        assert(snapshot(path) === postBatch)
        // recovered store accepts further writes (auto-recover no-ops)
        Sinks.upsert(spark, batch, path, Seq("key"), "seq", "pt")
        assert(readUpsertStore(path) === postBatch)
      } else {
        assert(readUpsertStore(path) === postBatch)
      }
      crashPoint += 1
    }
    assert(crashPoint >= 4, s"expected >= 4 rename crash points, got $crashPoint")
  }

  test("crashed commit auto-recovers on the next write (no explicit recover)") {
    val path = tmpDir("sinks") + "/autorec"
    Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 1.0),
      ("2023-12-01", 2023, "z", 7.0)), path, "dt_ref", "ignored", "dt_year")
    Sinks.crashBeforeRename = 1 // crash mid-swap (after the first rename)
    try intercept[IllegalStateException] {
      Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 9.0)),
        path, "dt_ref", "2024-01-01", "dt_year")
    } finally Sinks.crashBeforeRename = -1
    // next write on the same table first rolls the crashed commit forward
    Sinks.replaceSlice(spark, store(("2023-12-01", 2023, "z", 8.0)),
      path, "dt_ref", "2023-12-01", "dt_year")
    assert(readStore(path) === Set(
      ("2024-01-01", 2024, "a", 9.0), ("2023-12-01", 2023, "z", 8.0)))
    assert(!Files.exists(Paths.get(path, "_graft_commit")))
  }

  test("sinks reject null and fractional partition values up front") {
    val path = tmpDir("sinks") + "/bad"
    val nullPart = Seq(("2024-01-01", Option.empty[Int], "a", 1.0))
      .toDF("dt_ref", "dt_year", "key", "value")
    Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 1.0)),
      path, "dt_ref", "2024-01-01", "dt_year")
    intercept[IllegalArgumentException] {
      Sinks.replaceSlice(spark, nullPart, path, "dt_ref", "2024-01-01", "dt_year")
    }
    val doublePart = Seq(("2024-01-01", 2024.0, "a", 1.0))
      .toDF("dt_ref", "dt_year", "key", "value")
    intercept[IllegalArgumentException] {
      Sinks.replaceSlice(spark, doublePart, path + "2", "dt_ref",
        "2024-01-01", "dt_year")
    }
  }

  test("replaceSlices: batched replacement drops all incoming slice values") {
    val path = tmpDir("sinks") + "/store"
    Sinks.replaceSlices(spark,
      store(("2024-01-01", 2024, "a", 1.0), ("2024-02-01", 2024, "b", 2.0)),
      path, "dt_ref", Seq("2024-01-01", "2024-02-01"), "dt_year")
    Sinks.replaceSlices(spark,
      store(("2024-01-01", 2024, "a", 5.0), ("2024-03-01", 2024, "c", 3.0)),
      path, "dt_ref", Seq("2024-01-01", "2024-03-01"), "dt_year")
    assert(readStore(path) === Set(
      ("2024-01-01", 2024, "a", 5.0), ("2024-02-01", 2024, "b", 2.0),
      ("2024-03-01", 2024, "c", 3.0)))
  }

  test("store reads partition-prune on dt_year (PruneFileSourcePartitions)") {
    val path = tmpDir("sinks") + "/store"
    Sinks.replaceSlice(spark, store(("2023-06-01", 2023, "x", 1.0)),
      path, "dt_ref", "2023-06-01", "dt_year")
    Sinks.replaceSlice(spark, store(("2024-06-01", 2024, "y", 2.0)),
      path, "dt_ref", "2024-06-01", "dt_year")
    val q = spark.read.parquet(path).filter(org.apache.spark.sql.functions.col("dt_year") === 2024)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters")(1).split("\n")(0).contains("dt_year"),
      s"partition filter not pruned:\n$plan")
    assert(q.count() === 1)
  }

  test("vacuum: planted victims deleted, planted survivors kept — the " +
    "standing rule for delete-by-pattern code (round-12 tmp-sweep lesson)") {
    val base = tmpDir("sinks")
    val path = base + "/store"
    Sinks.replaceSlice(spark, store(("2024-01-01", 2024, "a", 1.0)),
      path, "dt_ref", "2024-01-01", "dt_year")
    val before = readStore(path)
    val old = System.currentTimeMillis() - 7200 * 1000L
    def mk(p: String, mtime: Long): java.io.File = {
      val f = new java.io.File(p)
      f.mkdirs()
      Files.writeString(Paths.get(p, "part-0"), "x")
      assert(f.setLastModified(mtime))
      f
    }
    // victims: an aged orphan staging dir + an aged _graft_old archive
    val victimStaging = mk(s"$path-staging-dead1", old)
    val victimOld = mk(s"$path/_graft_old/tx1", old)
    // survivors: a YOUNG staging dir (may belong to an in-flight
    // writer), a sibling whose name misses the pattern, a YOUNG archive
    val freshStaging = mk(s"$path-staging-live1", System.currentTimeMillis())
    val foreign = mk(s"$base/store-other", old)
    val freshOld = mk(s"$path/_graft_old/tx2", System.currentTimeMillis())
    val removed = Sinks.vacuum(spark, path)
    assert(removed === 2, s"removed=$removed")
    assert(!victimStaging.exists(), "aged staging victim survived")
    assert(!victimOld.exists(), "aged archive victim survived")
    assert(freshStaging.exists(), "young staging dir was deleted")
    assert(foreign.exists(), "non-matching sibling was deleted")
    assert(freshOld.exists(), "young archive was deleted")
    assert(readStore(path) === before, "vacuum touched live table data")
    // marker present -> recovery owns _graft_old: vacuum must not touch
    // it even when aged
    val agedUnderMarker = mk(s"$path/_graft_old/tx3", old)
    Files.writeString(Paths.get(path, "_graft_commit"), "{}")
    try {
      assert(Sinks.vacuum(spark, path) === 0)
      assert(agedUnderMarker.exists(),
        "vacuum deleted an archive owned by a pending commit")
    } finally Files.delete(Paths.get(path, "_graft_commit"))
  }

  test("overwrite + compact preserve content; compact controls file count") {
    val path = tmpDir("sinks") + "/t"
    val df = (1 to 100).toDF("n").repartition(8)
    Sinks.overwrite(df, path)
    assert(spark.read.parquet(path).count() === 100)
    Sinks.compact(spark, path, targetFiles = 1)
    val files = Files.list(Paths.get(path)).toArray.map(_.toString)
      .filter(f => f.endsWith(".parquet"))
    assert(files.length === 1)
    assert(spark.read.parquet(path).as[Int].collect().toSet === (1 to 100).toSet)
  }

  private def walk(p: String) = Files.walk(Paths.get(p)).toArray
    .map(_.toString).sorted.toSeq
  private def partDirs(p: String) = Files.list(Paths.get(p)).toArray
    .map(_.toString).filter(_.matches(".*/k=\\d+")).sorted.toSeq
  private def partKeys(p: String) =
    partDirs(p).map(_.split("k=").last.toInt)
  private def filesIn(d: String) = Files.list(Paths.get(d)).toArray
    .map(_.toString).count(_.endsWith(".parquet"))
  private def names(p: String) = Files.list(Paths.get(p)).toArray
    .map(_.toString.split('/').last).sorted.toSeq

  test("writePartitioned compaction: appends fragment every partition " +
    "dir of a version's scratch store, the rewrite into the unpublished " +
    "version folds each to ONE file with layout + rows preserved, and a " +
    "planted sibling survives") {
    val base = tmpDir("sinks-cp")
    val root = base + "/t"
    def slice(tag: Int) =
      (1 to 30).map(n => (n % 3, tag * 100 + n)).toDF("k", "v")
    // planted survivor: a sibling table next to the store root
    val sibling = base + "/t2"
    slice(9).write.partitionBy("k").parquet(sibling)
    val siblingBefore = walk(sibling)
    var fragKeys = Seq.empty[Int]
    val (v, _) = StoreFs.buildVersion(spark, root) { v =>
      // snapshot + two appends: every k=v dir collects 3 files
      val frag = s"$v/scratch"
      slice(0).repartition(col("k")).write.partitionBy("k").parquet(frag)
      Seq(1, 2).foreach(t => slice(t).write.mode("append")
        .partitionBy("k").parquet(frag))
      fragKeys = partKeys(frag)
      assert(partDirs(frag).forall(filesIn(_) >= 3), "appends did not fragment")
      Sinks.writePartitioned(spark, spark.read.parquet(frag), s"$v/idx",
        Seq("k"), "compact")
      StoreFs.deleteQuietly(spark, frag)
    }
    assert(StoreFs.currentVersion(root) === v)
    assert(fragKeys === Seq(0, 1, 2))
    assert(partKeys(s"$v/idx") === fragKeys, "partition layout changed")
    partDirs(s"$v/idx").foreach(d =>
      assert(filesIn(d) === 1, s"$d not compacted"))
    val expected = Seq(0, 1, 2).map(slice).reduce(_ union _)
      .as[(Int, Int)].collect().sorted.toSeq
    assert(spark.read.parquet(s"$v/idx").select("k", "v")
      .as[(Int, Int)].collect().sorted.toSeq === expected)
    assert(names(v) === Seq("idx"), "scratch left in the published version")
    assert(walk(sibling) === siblingBefore, "sibling table was touched")
  }

  test("writePartitioned tombstone fold: exactly the tombstoned keys " +
    "are dropped, survivors + layout intact, emptied partition dir " +
    "absent, planted sibling survives") {
    val base = tmpDir("sinks-tomb")
    val root = base + "/t"
    // k=0..3; all of k=3's rows share key 30 → its dir must not appear
    def slice(tag: Int) =
      ((1 to 30).map(n => (n % 3, n, tag * 100 + n)) :+ (3, 30, tag))
        .toDF("k", "id", "v")
    val tomb = Seq(7, 13, 30).toDF("id") // ids spread across k=1, k=0, k=3
    val expected = slice(0).union(slice(1))
      .filter(!col("id").isin(7, 13, 30))
      .as[(Int, Int, Int)].collect().sorted.toSeq
    val sibling = base + "/t2"
    slice(9).write.partitionBy("k").parquet(sibling)
    val siblingBefore = walk(sibling)
    val (v, _) = StoreFs.buildVersion(spark, root) { v =>
      val frag = s"$v/scratch"
      slice(0).repartition(col("k")).write.partitionBy("k").parquet(frag)
      slice(1).write.mode("append").partitionBy("k").parquet(frag)
      assert(partKeys(frag) === Seq(0, 1, 2, 3))
      Sinks.writePartitioned(spark,
        Sinks.antiJoinTombstones(spark.read.parquet(frag), tomb, Seq("id")),
        s"$v/idx", Seq("k"), "fold")
    }
    assert(partKeys(s"$v/idx") === Seq(0, 1, 2),
      "k=3 (all rows tombstoned) should be gone")
    partDirs(s"$v/idx").foreach(d =>
      assert(filesIn(d) === 1, s"$d not compacted"))
    assert(spark.read.parquet(s"$v/idx").select("k", "id", "v")
      .as[(Int, Int, Int)].collect().sorted.toSeq === expected,
      "fold dropped the wrong rows")
    assert(walk(sibling) === siblingBefore, "sibling table was touched")
  }

  test("writePartitioned re-bucket: a new partition keyspace is published " +
    "as a new version while the previous one keeps the old layout; an " +
    "EMPTY rewrite is refused, publishes nothing and leaves no files; a " +
    "planted sibling survives") {
    val base = tmpDir("sinks-rw")
    val root = base + "/t"
    // old geometry: k ∈ {0,1,2}; new geometry: k ∈ {0..5} — the
    // keyspace itself changes (the re-bucket shape)
    def oldT = (1 to 30).map(n => (n % 3, n)).toDF("k", "v")
    def newT = (1 to 30).map(n => (n % 6, 1000 + n)).toDF("k", "v")
    val newRows = (1 to 30).map(n => (n % 6, 1000 + n)).sorted
    val sibling = base + "/t2"
    oldT.write.partitionBy("k").parquet(sibling)
    val siblingBefore = walk(sibling)
    def build(df: org.apache.spark.sql.DataFrame): String =
      StoreFs.buildVersion(spark, root) { v =>
        Sinks.writePartitioned(spark, df, s"$v/idx", Seq("k"), "rebucket")
      }._1
    def rows(v: String) = spark.read.parquet(s"$v/idx").select("k", "v")
      .as[(Int, Int)].collect().sorted.toSeq

    val v1 = build(oldT)
    assert(partKeys(s"$v1/idx") === Seq(0, 1, 2))
    val v2 = build(newT)
    assert(StoreFs.currentVersion(root) === v2)
    assert(partKeys(s"$v2/idx") === Seq(0, 1, 2, 3, 4, 5),
      "new keyspace did not replace the old directory layout")
    assert(rows(v2) === newRows)
    // a reader of the previous version still sees the old geometry
    assert(partKeys(s"$v1/idx") === Seq(0, 1, 2))

    // an EMPTY rewrite is refused (a schema-less dir would brick the
    // store): the guard runs on the written output, deletes it, and
    // fails the build, so nothing is published
    intercept[IllegalArgumentException](build(newT.limit(0)))
    assert(StoreFs.currentVersion(root) === v2,
      "refused empty rewrite must not publish")
    assert(rows(v2) === newRows,
      "refused empty rewrite must leave the store untouched")
    val stray = Files.walk(Paths.get(root)).toArray.map(_.toString)
      .filter(f => Files.isRegularFile(Paths.get(f)))
      .filterNot(f => f.startsWith(v1 + "/") || f.startsWith(v2 + "/"))
    assert(stray.isEmpty, s"refused rewrite left files: ${stray.toSeq}")
    assert(walk(sibling) === siblingBefore, "sibling table was touched")
  }
}

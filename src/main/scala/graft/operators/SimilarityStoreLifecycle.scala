package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables.t
import graft.functions.Portable

/** The versioned-store machinery every lifecycle gate rides
  * (round-19 split, see [[SimilarityBase]]): store root naming (the
  * versions themselves come from the one allocator,
  * [[graft.core.StoreFs.buildVersion]]), the ONE store write
  * discipline [[writeStore]], the s15 fold slices, index compaction
  * s21 and tombstone deletes s24. */
private[operators] trait SimilarityStoreLifecycle { this: Similarity.type =>

  /** Root dir of a gated lifecycle store — pid-keyed
    * ([[graft.core.StoreFs.root]]), one root per `tag` (s21
    * compaction, s24 delete fold, prof9 store profile, …) so the
    * lifecycle gates never collide on a path. Store VERSIONS live under
    * the root, built by [[graft.core.StoreFs.buildVersion]]; each
    * version holds its index under [[idxOf]]. */
  private[operators] def storeRoot(s: SparkSession, dir: String, tag: String): String =
    graft.core.StoreFs.root(s, s"$tag-store-" +
      graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet"))

  /** The index dir inside a store version. */
  private[operators] def idxOf(version: String): String = s"$version/idx"

  /** CURRENT index path of a gated lifecycle store — the version the
    * gate most recently finished building in this JVM (the serving
    * reads and the store-inspecting specs resolve through this). */
  private[operators] def idxStore(s: SparkSession, dir: String,
                                  tag: String): String =
    idxOf(graft.core.StoreFs.currentVersion(storeRoot(s, dir, tag)))

  private[operators] def s21Store(s: SparkSession, dir: String): String =
    idxStore(s, dir, "s21")

  /** THE store write discipline (one definition for every lifecycle
    * gate). Routing: [[graft.sources.Sinks.byPartition]] hashes the
    * rows on the partition columns into the session's
    * `spark.sql.shuffle.partitions` tasks (the core count), so each
    * value's rows reach a single task and every write lands exactly one
    * file per touched partition dir — the fold cadence prof9 counts and
    * s21 compacts — while the dirs spread over every core. AQE
    * coalescing is wrong for these writes, which is why the count is
    * explicit: AQE merges shuffle partitions until their BYTES fill a
    * target, but a small write's cost is per FILE (each writer task
    * opens, encodes and commits one parquet file per dir it touches,
    * ~2 ms of CPU each), and one file per bucket forbids splitting a
    * bucket across tasks, so the coalesced write ran every bucket of a
    * store in one task, in series. The in-partition (doc_id,
    * chunk_idx) sort makes each file's ROW ORDER content-deterministic
    * (shuffle fetch order is not), so for a fixed Spark/parquet/codec
    * version the written BYTES reproduce run-to-run and whichever task
    * writes a bucket — the property prof9's size readout gates on (and
    * a generally good one: stable encodings, stable min/max stats).
    * `append` = the fold writes; false = the base snapshot.
    * `overwriteDir` = the STREAMING fold writes (d17's tick, z3's
    * arrival fold), where `store` IS the write's own batch=<seq>
    * namespace: a plain whole-directory overwrite, so an at-least-once
    * foreachBatch retry REWRITES its own subdir instead of appending
    * duplicates (the idempotent batch-subdir rule). The fold only ever
    * targets a FRESH batch dir, so a dynamic partition overwrite —
    * task output staged under the whole table root, then a driver-side
    * delete-and-move per touched partition — would buy nothing over
    * writing the batch dir directly (it cost ~0.1-0.3 s of driver FS
    * work per fold write when measured). */
  private[operators] def writeStore(df: DataFrame, store: String,
                         partCols: Seq[String],
                         append: Boolean = false,
                         overwriteDir: Boolean = false,
                         rowKeyCols: Seq[String] = Seq("doc_id", "chunk_idx"))
      : Unit = {
    require(!(append && overwriteDir),
      "append and overwriteDir are different fold disciplines")
    // rowKeyCols parameterized (round-17 review): non-chunk stores
    // (ZOrder's event layout) ride the same discipline with their own
    // in-partition row key instead of forking the writer
    val sortCols = (partCols ++ rowKeyCols).map(col)
    val w = graft.sources.Sinks.byPartition(df, partCols)
      .sortWithinPartitions(sortCols: _*).write
      // pin the writer knobs the prof9 byte goldens depend on (round-16
      // advice): codec and row-group size are otherwise AMBIENT defaults
      // (spark.sql.parquet.compression.codec / parquet.block.size), so a
      // config drift would move every store's bytes at once — pinned
      // here, the golden's environment surface is the code plus the
      // Spark/parquet library version (the documented re-harvest axis).
      // Values = today's defaults, so committed goldens stay valid.
      .option("compression", "snappy")
      .option("parquet.block.size", (128L * 1024 * 1024).toString)
    val modal =
      if (overwriteDir) w.mode(org.apache.spark.sql.SaveMode.Overwrite)
      else if (append) w.mode(org.apache.spark.sql.SaveMode.Append)
      else w
    // phase label (guide §1.5): store writes dominate the lifecycle
    // gates' job lists — name them by store leaf + mode so JobProfile /
    // the UI attribute the cost
    val leaf = store.split('/').takeRight(3).mkString("/")
    val mode = if (overwriteDir) "fold" else if (append) "append"
      else "base"
    graft.core.Jobs.labeled(df.sparkSession, s"writeStore[$mode] $leaf") {
      modal.partitionBy(partCols: _*).parquet(store)
    }
  }

  /** THE in-build compaction of a lifecycle store (s21, s24, s27):
    * `fragment` writes the store as its fold cadence leaves it into a
    * scratch dir of the version `v` being built and returns the frame
    * to keep (the scratch read, minus any tombstones); that frame is
    * rewritten into [[idxOf]]`(v)` at one file per bucket dir and the
    * scratch dir is deleted, all before the version publishes — so the
    * compaction commits with the version and no reader ever sees the
    * fragmented or a half-compacted store. */
  private[operators] def compactInto(s: SparkSession, v: String)
                                    (fragment: String => DataFrame): Unit = {
    val scratch = s"$v/scratch"
    graft.sources.Sinks.writePartitioned(s, fragment(scratch), idxOf(v),
      Seq("bkt"), "compact")
    graft.core.StoreFs.deleteQuietly(s, scratch)
  }

  /** The arriving batch of the s15 fold, split into `parts` sub-batches
    * (modular cut on doc_id — deterministic, roughly even): the append
    * cadence that fragments the on-disk index s21 compacts. The batch
    * is encoded ONCE and persisted for `body`'s duration (r21 measure:
    * the lazy-slice form re-ran the chunk ∩ encode chain per append —
    * 3 chain runs for one batch of rows in s21/prof9; the persist is
    * per-INVOCATION and batch-sized, the d16 fold rationale — bounded
    * memory at any scale, freed before the gate serves. This is NOT
    * the rejected round-13 cross-query encodedBatch cache). Each
    * slice's rows and in-partition sort are unchanged, so the appended
    * files stay byte-identical (the prof9 kib golden's basis). */
  private[operators] def withS15BatchSlices[T](s: SparkSession, dir: String,
                                               parts: Long)
                                              (body: Seq[DataFrame] => T): T = {
    val batch = encodedBatch(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(slicesOf(batch, parts))
    finally batch.unpersist(false)
  }

  /** The slice FRAMES alone, lazy and unpersisted — for read-side
    * consumers (the prof9 write-discipline spec recomputes expected
    * per-write bucket sets from them); the gated append writes go
    * through [[withS15BatchSlices]]. */
  private[operators] def s15BatchSlices(s: SparkSession, dir: String,
                                        parts: Long): Seq[DataFrame] =
    slicesOf(encodedBatch(s, dir), parts)

  private def slicesOf(batch: DataFrame, parts: Long): Seq[DataFrame] =
    (0L until parts).map(r =>
      batch.filter(pmod(col("doc_id"), lit(parts)) === lit(r)))

  /** S21: RETRIEVAL-INDEX COMPACTION — the maintenance leg the s15 fold
    * cadence creates: each accepted batch APPENDS one-plus small files
    * to every touched `bkt=v` directory of the on-disk bucket-
    * partitioned index, so after N folds a probed bucket reads N files
    * (at 100 TB: a file-listing + task-launch storm on every query
    * batch). The gated query replays the whole lifecycle — snapshot
    * write of the base index partitioned by bucket, three batch
    * appends (the fragmentation), the compaction ([[compactInto]]: one
    * file per bucket, directory layout preserved, committed by the
    * version's publish), then serves the s15 query window FROM THE
    * COMPACTED STORE. Oracle = [[s15Sql]] verbatim: compaction
    * must be invisible to serving (row-identical to the refreshed
    * in-memory index ≡ full rebuild), which the spec pins alongside the
    * one-file-per-bucket layout. Cadence contract: BASELINE.md pairs
    * this with s15's fold (compact when files-per-bucket crosses the
    * read-amplification budget). Partition-column type
    * note: `bkt` round-trips through the directory name as an int —
    * cast back to long before the serving join so both gates join in
    * one keyspace. */
  val s21IndexCompaction: Q = (s, dir) => {
    val store = idxOf(graft.core.StoreFs.buildVersion(s,
        storeRoot(s, dir, "s21")) { v =>
      compactInto(s, v) { frag =>
        writeStore(baseRetrievalIndex(s, dir), frag, Seq("bkt"))
        // one file per touched bucket per fold (the writeStore
        // discipline) — fragmentation is still linear in folds (base +
        // 3 appends = up to 4 files/bucket), which the compaction erases
        withS15BatchSlices(s, dir, parts = 3L)(_.foreach(
          writeStore(_, frag, Seq("bkt"), append = true)))
        s.read.parquet(frag)
      }
    }._1)
    val idx = s.read.parquet(store)
      .withColumn("bkt", col("bkt").cast("long"))
    retrieveTopK(s15QueryFrame(s, dir), idx, planes, s10K)
  }

  /** Tombstone doc rule of the s24 delete gate: doc_id ≡ [[s24DelRes]]
    * (mod [[s24DelMod]]) — a modular cut (the d11 slice rationale)
    * that hits BOTH the base snapshot and the appended batch, so the
    * fold is exercised against rows in old and new files alike
    * (~1/9 of docs retro-dropped, the curation-revocation story). */
  private[operators] val s24DelMod = 9L
  private[operators] val s24DelRes = 4L

  /** The DELETE SET as it arrives in production — doc ids a curation
    * gate retro-dropped, metadata-scale by contract (broadcast). */
  private[operators] def s24Tombstones(s: SparkSession,
                                       dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(s24DelMod)) === lit(s24DelRes))

  /** Delete-aware serving while tombstones are PENDING (serve-through):
    * broadcast anti-join on the delete key upstream of the probe join —
    * a map-side filter on the index scan, no new shuffle, no store
    * rewrite. This is what every query batch runs between a delete
    * landing and the next compaction folding it; SimilaritySpec pins
    * serve-through ≡ serve-over-the-folded-store row-for-row. */
  private[graft] def serveThroughTombstones(q: DataFrame, idx: DataFrame,
                                            tomb: DataFrame,
                                            keyCols: Seq[String]): DataFrame =
    retrieveTopK(q,
      graft.sources.Sinks.antiJoinTombstones(idx, tomb, keyCols),
      planes, s10K)

  /** S24: INDEX DELETE / TOMBSTONE FOLD (round-13 verdict item 2) —
    * the delete leg that completes the store lifecycle s15/s21 opened:
    * append-only index stores can't rewrite a file per revoked doc, so
    * deletes land as TOMBSTONES (a metadata-scale doc-id set) and are
    * FOLDED — physically removed — at the compaction cadence the store
    * already pays for (the anti-join inside [[compactInto]]'s
    * rewrite). The gated query replays the lifecycle:
    * snapshot write of the base index (partitioned by bucket), one
    * batch append (the s15 fold), the [[s24Tombstones]] delete set
    * folded at compaction, then serves the s15 query window from the
    * folded store. Oracle = the s15 serving SQL with the delete rule
    * excluded in the index CTE (the s22 one-variable pattern: the
    * predicate is the ONLY diff), so the gate verifies
    * fold ≡ rebuild-minus-deleted end-to-end; the serve-THROUGH twin
    * ([[serveThroughTombstones]], what queries run before the fold) is
    * spec-pinned equal. Scale shape: the anti-join broadcasts the
    * delete set (map-side against the store scan inside the rewrite);
    * compaction cost is the store rewrite already budgeted by the s21
    * cadence — the delete itself adds no pass. */
  val s24IndexDelete: Q = (s, dir) => {
    val store = idxOf(graft.core.StoreFs.buildVersion(s,
        storeRoot(s, dir, "s24")) { v =>
      compactInto(s, v) { frag =>
        writeStore(baseRetrievalIndex(s, dir), frag, Seq("bkt"))
        writeStore(encodedBatch(s, dir), frag, Seq("bkt"), append = true)
        graft.sources.Sinks.antiJoinTombstones(s.read.parquet(frag),
          s24Tombstones(s, dir), Seq("doc_id"))
      }
    }._1)
    val idx = s.read.parquet(store)
      .withColumn("bkt", col("bkt").cast("long"))
    retrieveTopK(s15QueryFrame(s, dir), idx, planes, s10K)
  }

}

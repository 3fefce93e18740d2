package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Parquet sinks replicating the reference's Delta write surface
  * (SURVEY.md §2.1 S5-S8) without Delta jars.
  *
  * Scale posture: file-count control is a parameter, not a hardcoded
  * `coalesce(1)` — the reference's single-file layout is an MB-scale
  * choice; at 100 TB the default (0 = natural partitioning) keeps write
  * parallelism, and compaction is an explicit maintenance call.
  *
  * == Crash-safe commit protocol ==
  * The reference inherits ACID partition swaps from Delta's transaction
  * log (reference scripts/spark_ops.py:89,170). On plain Parquet the
  * same guarantee is rebuilt with a commit marker + rename-only swaps:
  *
  *  1. the merged partitions are written to a staging dir (side effect
  *     free — readers never see it);
  *  2. a `_graft_commit` marker (atomic create via temp-file rename) is
  *     written INSIDE the table root recording txid, staging path, and
  *     every affected `partCol=v` directory with a has-new-data flag.
  *     Underscore-prefixed paths are invisible to Spark/Parquet readers;
  *  3. each affected partition is swapped with RENAMES ONLY: current dir
  *     → `_graft_old/<txid>/partCol=v`, staged dir → current. No data is
  *     deleted before the commit point, so every intermediate crash
  *     state is recoverable;
  *  4. the marker is deleted (THE commit point), then `_graft_old` and
  *     staging are cleaned up.
  *
  * A crash anywhere in 2-4 is repaired by [[recover]] (also invoked
  * automatically at the start of every replaceSlices/upsert): the marker
  * tells it exactly which renames remain, and because the staged data
  * was complete before the marker existed, recovery always rolls
  * FORWARD idempotently to the new table state. [[readTable]] is the
  * marker-aware reader: while a commit is in flight (or crashed), it
  * serves the complete PRE-commit snapshot from `_graft_old` + untouched
  * dirs; once the marker is gone it serves the new state — old or new,
  * never a mix. (On an eventually-consistent object store the same
  * protocol needs the marker read to be strongly consistent — S3 has
  * been since 2020; the rename-per-partition cost model is the HDFS/
  * local one.)
  *
  * Single concurrent WRITER per table remains the contract (matching
  * the reference's per-table batch usage); the protocol adds crash
  * atomicity and reader consistency, not multi-writer conflict
  * resolution.
  */
object Sinks {

  /** Test hook (SinksSpec crash injection): when >= 0, the Nth swap
    * rename of the NEXT commit throws before executing (0 = crash after
    * the marker is written but before any rename). Recovery runs ignore
    * the hook. Always reset to -1 after use. */
  @volatile private[graft] var crashBeforeRename: Int = -1

  /** S5: full overwrite (schema replaced by construction on Parquet).
    * targetFiles = 0 → keep natural partitioning (scale default);
    * n > 0 → coalesce(n) (reference used 1). */
  def overwrite(df: DataFrame, path: String, targetFiles: Int = 0): Unit = {
    val out = if (targetFiles > 0) df.coalesce(targetFiles) else df
    out.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** THE rename-aside swap shared by both compaction rewrites (old
    * table → side dir, staged → table, delete side): a crash never
    * loses data — worst case the table is at the side path,
    * recoverable by hand or vacuum-visible. Each rename result is
    * CHECKED: HDFS-style FileSystems report failure by returning
    * false, not throwing, and an unchecked false here would silently
    * serve the uncompacted table while orphaning the full staged
    * rewrite. On a false the swap throws with both paths named; the
    * staged copy (and after the first rename, the side copy) stays on
    * disk for recovery — deleting either on the failure path could
    * destroy the only complete copy when the failure cause is unknown. */
  private def swapInPlace(spark: SparkSession, path: String,
                          staged: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val side = new Path(s"$path-staging-old-${UUID.randomUUID().toString.take(8)}")
    // the same test-only crash hook the marker-commit path exposes —
    // lets specs pin the documented mid-swap states (old table intact
    // before rename #0; old at side + staged complete before #1)
    def crashCheck(n: Int): Unit =
      if (crashBeforeRename == n) throw new IllegalStateException(
        s"graft test crash injection before rename #$n")
    crashCheck(0)
    require(fs.rename(new Path(path), side),
      s"swap failed: could not move $path aside to $side (staged copy kept at $staged)")
    crashCheck(1)
    require(fs.rename(new Path(staged), new Path(path)),
      s"swap failed: could not move staged $staged into $path (old table kept at $side)")
    fs.delete(side, true)
  }

  /** S7: compaction — rewrite a table at a target file count via the
    * checked rename-aside [[swapInPlace]]. */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 1): Unit = {
    val df = spark.read.parquet(path)
    // Materialize before overwriting the path being read.
    val staged = stagePath(path)
    df.coalesce(math.max(targetFiles, 1)).write.parquet(staged)
    swapInPlace(spark, path, staged)
  }

  /** PARTITION-LAYOUT-PRESERVING compaction (the Delta `OPTIMIZE`
    * analog for a `partitionBy(partCol)` table): every append to such a
    * table adds at least one file per touched `partCol=v` directory, so
    * a fold-in cadence (s15/s18-style index refresh, i-family backfill)
    * fragments each partition into one small file per batch — the
    * classic small-file problem that at 100 TB turns a partition-pruned
    * scan into a file-listing + task-launch storm. This rewrite keeps
    * the DIRECTORY layout (readers keep pruning on `partCol=v`) and
    * folds each partition's file set to exactly one file: the
    * `repartition(col(partCol))` shuffle routes every row of a
    * partition value to a single task, and `partitionBy` then emits one
    * file per value per task. Same checked rename-aside [[swapInPlace]]
    * as [[compact]] — a crash never loses data, and the swap touches
    * ONLY `path` (a sibling table next to it is never read, renamed,
    * or deleted: SinksSpec plants one and asserts survival, the
    * standing destructive-utility rule). */
  def compactPartitioned(spark: SparkSession, path: String,
                         partCol: String): Unit =
    compactPartitioned(spark, path, Seq(partCol), None, Nil)

  /** Generalized layout-preserving compaction: multi-column partition
    * layouts (`partCols` — e.g. an index store partitioned by bucket
    * AND metadata band), and an optional TOMBSTONE FOLD — the delete
    * path of an append-only store (the Delta `DELETE` + `OPTIMIZE`
    * analog): rows whose `keyCols` match a tombstone row are dropped
    * from the rewrite, so the delete is applied exactly once, at the
    * maintenance cadence the store already pays for, with no
    * read-amplifying per-file rewrite of its own. Until this fold
    * runs, readers serve THROUGH the tombstones (anti-join at read
    * time — see Similarity's delete-aware serving); after it, the
    * store physically equals a rebuild-minus-deleted and the tombstone
    * set can be retired (the caller owns the tombstone artifact's
    * lifecycle — this fold only consumes it). Tombstones are delete
    * METADATA (doc ids a curation gate retro-dropped) — broadcast by
    * contract, never corpus-sized; a partition whose rows are all
    * deleted simply has no directory in the rewrite. Same checked
    * rename-aside [[swapInPlace]]; siblings are never touched. */
  def compactPartitioned(spark: SparkSession, path: String,
                         partCols: Seq[String],
                         tombstones: Option[DataFrame],
                         keyCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "compactPartitioned needs partition columns")
    require(tombstones.isEmpty == keyCols.isEmpty,
      "tombstones and keyCols come together")
    val read = spark.read.parquet(path)
    val df = tombstones.fold(read)(t =>
      antiJoinTombstones(read, t, keyCols))
    // a fold that deletes EVERYTHING would swap in a dir holding only
    // _SUCCESS — unreadable (no schema) — and brick the store; whole-
    // store deletion is an explicit drop, not a compaction. The guard
    // is the shared staged-output check (see stageSwapChecked).
    stageSwapChecked(spark, path, df, partCols,
      "compactPartitioned")
  }

  /** WHOLE-TABLE REWRITE under a possibly DIFFERENT partition keyspace
    * — the third swap client next to [[compact]]/[[compactPartitioned]]
    * and the commit step of an index RE-BUCKET (Similarity's s26): the
    * trigger's offline job re-encodes the corpus under the new
    * geometry, so unlike compaction the staged content does not derive
    * from the old store — the caller provides it — and the directory
    * LAYOUT itself is what changes (the bucket keyspace doubles), which
    * is exactly why the commit must be the atomic swap and not an
    * in-place mutation: a partition-pruned reader must see the old
    * geometry or the new one, never a mix of `bkt=` dirs from both.
    * Same checked rename-aside [[swapInPlace]] crash contract (data is
    * never lost — worst case the old table sits at the side path with
    * the staged copy intact), and the swap touches ONLY `path`:
    * siblings survive (the standing destructive-utility rule,
    * spec-pinned like the compaction rewrites). */
  def rewritePartitioned(spark: SparkSession, path: String,
                         df: DataFrame, partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "rewritePartitioned needs partition columns")
    stageSwapChecked(spark, path, df, partCols, "rewritePartitioned")
  }

  /** The STAGE half of [[rewritePartitioned]], split out so a caller
    * can overlap the staged re-encode with other independent work —
    * production reality for a re-bucket: the offline rebuild job stages
    * its output WHILE the old store keeps serving (and, in the gated
    * replays, while the old store is still being written). Same
    * empty-output guard as the fused path; returns the staged dir for
    * [[commitStagedRewrite]]. The staged dir is a sibling of `path`
    * (`$path-staging-*`), so it never collides with a concurrent write
    * of `path` itself. */
  private[graft] def stageRewrite(spark: SparkSession, path: String,
                                  df: DataFrame,
                                  partCols: Seq[String]): String = {
    require(partCols.nonEmpty, "stageRewrite needs partition columns")
    stageChecked(spark, path, df, partCols, "rewritePartitioned")
  }

  /** The COMMIT half of [[rewritePartitioned]]: the checked
    * rename-aside swap of a dir staged by [[stageRewrite]]. Must run
    * AFTER every write of `path` has completed — the swap renames the
    * whole table dir. */
  private[graft] def commitStagedRewrite(spark: SparkSession, path: String,
                                         staged: String): Unit =
    swapInPlace(spark, path, staged)

  /** [[stageRewrite]] overlapped with an independent `base` write of
    * `path` itself (guide §2.6 — the offline re-encode stages while
    * the committed-geometry store writes), then the swap commit. Owns
    * the round-20 ADVICE cleanup: if `base` fails after the rewrite
    * staged successfully, the staged store-sized dir is deleted here
    * instead of orphaned until the next retention sweep. Failures of
    * the COMMIT itself keep everything, as swapInPlace documents — the
    * staged dir may be the only copy of the new data mid-swap. */
  private[graft] def stageRewriteOverlapped(spark: SparkSession,
                                            path: String, df: DataFrame,
                                            partCols: Seq[String])
                                           (base: => Any): Unit = {
    @volatile var staged: String = null
    val st = try {
      graft.core.Jobs.concurrently {
        val s0 = stageRewrite(spark, path, df, partCols)
        staged = s0
        s0
      } { base }._1
    } catch { case e: Throwable =>
      // concurrently awaits the stage side before propagating a base
      // failure, so `staged` is final here: non-null means the staged
      // dir exists, complete, and will never be swapped in
      if (staged != null) graft.core.StoreFs.deleteQuietly(spark, staged)
      throw e
    }
    commitStagedRewrite(spark, path, st)
  }

  /** THE guarded commit shared by every partitioned swap client
    * (compaction's tombstone fold, the re-bucket rewrite): stage the
    * partitioned write, REFUSE the swap if the staged output holds no
    * data files — swapping a schema-less dir (_SUCCESS only) in would
    * brick the store; whole-store deletion is an explicit drop, not a
    * rewrite. The guard runs on the STAGED OUTPUT, after the write
    * (round-16 advice): checking the input frame cost an extra
    * limit(1) job AND guarded the wrong thing — a frame racing to
    * empty between check and write would still have swapped an empty
    * table in; one listing of what actually swaps closes both, for ALL
    * swap clients (a review pass found the first cut fixed only one).
    * The empty staged dir is deleted before refusing: by definition it
    * holds no data, so this cannot destroy the only copy of anything
    * (unlike the swap failure paths, which keep everything). */
  private def stageSwapChecked(spark: SparkSession, path: String,
                               df: DataFrame, partCols: Seq[String],
                               what: String): Unit =
    swapInPlace(spark, path, stageChecked(spark, path, df, partCols, what))

  private def stageChecked(spark: SparkSession, path: String,
                           df: DataFrame, partCols: Seq[String],
                           what: String): String = {
    val staged = stagePath(path)
    // phase label (guide §1.5): the staged rewrite is the dominant job
    // of every swap client — name it so profilers attribute the cost
    try graft.core.Jobs.labeled(spark,
      s"$what stage ${new Path(path).getName}") {
      df.repartition(partCols.map(col): _*)
        .write.partitionBy(partCols: _*).parquet(staged)
    } catch { case e: Throwable =>
      // a failed/interrupted stage write must not orphan its partial
      // store-sized output (round-20 ADVICE) — the dir is ours alone
      // (UUID-suffixed) and holds no committed data, so delete it
      graft.core.StoreFs.deleteQuietly(spark, staged)
      throw e
    }
    val fs = new Path(staged)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a listStatus walk, not listFiles: listFiles builds each
    // LocatedFileStatus from the entry's permissions, which the local
    // filesystem loads by forking `ls -ld`
    def hasData(dir: Path): Boolean = fs.listStatus(dir).exists { st =>
      val name = st.getPath.getName
      if (st.isDirectory) hasData(st.getPath)
      else !name.startsWith("_") && !name.startsWith(".")
    }
    if (!hasData(new Path(staged))) {
      fs.delete(new Path(staged), true)
      throw new IllegalArgumentException(
        s"requirement failed: $what would swap an empty table " +
          s"into $path — refusing; drop the store explicitly instead")
    }
    staged
  }

  /** THE tombstone anti-join — one definition for the read-time
    * serve-through path (Similarity.serveThroughTombstones) and the
    * compaction fold above, so the two cannot drift apart (the s24
    * gate's core claim is their row-identity). Tombstones broadcast by
    * contract (delete sets are metadata-scale). */
  private[graft] def antiJoinTombstones(df: DataFrame, tombstones: DataFrame,
                                        keyCols: Seq[String]): DataFrame =
    df.join(
      org.apache.spark.sql.functions.broadcast(
        tombstones.select(keyCols.map(col): _*).distinct()),
      keyCols, "left_anti")

  /** S6: Delta `replaceWhere` emulation on plain Parquet — replace only
    * the `sliceCol = sliceValue` rows of a table partitioned by partCol
    * (reference scripts/spark_ops.py:169-175 writes the feature store
    * with replaceWhere dtRef='<date>' partitionBy dtYear).
    *
    * Algorithm (idempotent; crash-safe per the commit protocol above):
    *  1. first write → plain partitioned write;
    *  2. else: affected partitions = distinct partCol values in the new
    *     slice UNION partitions already holding rows of the slice values
    *     (metadata-scale collect — one value per year here). The second
    *     leg makes re-runs correct even when a corrected slice maps rows
    *     to a DIFFERENT partCol value than the prior run: the stale rows
    *     in the old partition are found and dropped, not orphaned. It
    *     costs a column-pruned scan of sliceCol only (partCol is a
    *     partition column — free), with parquet min/max skipping;
    *  3. read ONLY those partitions (partition-pruned scan), drop rows of
    *     the incoming slice value, union the new slice;
    *  4. write the merged partitions to a staging dir, then commit via
    *     the marker + rename-only swap (readers of other partitions are
    *     never touched).
    *
    * Re-running the same slice yields byte-identical content (the old
    * slice is dropped before the union every time).
    */
  def replaceSlice(spark: SparkSession, newSlice: DataFrame, path: String,
                   sliceCol: String, sliceValue: String,
                   partCol: String): Unit =
    replaceSlices(spark, newSlice, path, sliceCol, Seq(sliceValue), partCol)

  /** Batched form of [[replaceSlice]]: drop ALL incoming slice values from
    * the affected partitions, union the new slices, swap once — the
    * backfill batching lever (etl.Ingestor.execBatched). */
  def replaceSlices(spark: SparkSession, newSlices: DataFrame, path: String,
                    sliceCol: String, sliceValues: Seq[String],
                    partCol: String): Unit = {
    // Cluster rows by partCol before writing: slice frames typically
    // arrive on shuffle-partition layout (32 writer tasks × P dirs =
    // hundreds of tiny files per backfill step). One narrow shuffle of
    // slice-sized data → ~1 file per partition dir and far fewer write
    // tasks. Backfill slices are small by contract (one date's features);
    // for jumbo slices repartition(N, partCol, …) would be the lever.
    def clustered(df: DataFrame) = df.repartition(col(partCol))
    requireSimplePartCol(newSlices, partCol)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      clustered(newSlices).write.partitionBy(partCol).parquet(path)
      return
    }
    recoverIfNeeded(spark, fs, root)
    // The incoming frame is executed TWICE on this path: once for the
    // affected-partition discovery (distinct partCol) and once inside the
    // staged write. A backfill slice is typically an aggregation battery
    // over the event history (Ingestor i1: exact percentiles over a PIT
    // scan) — re-running it doubles the dominant cost of the per-date
    // loop. Persist it for the duration of the call: slices are small by
    // contract (one date's features), so this is bounded executor memory
    // at any corpus scale, and at 100 TB the slice would be a staged
    // table anyway.
    val slices = newSlices.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val incoming = graft.core.Jobs.labeled(spark, "replaceSlices discover") {
        collectPartValues(slices.select(partCol).distinct(), partCol)
      }
      require(incoming.nonEmpty, s"empty slice for $sliceCol in $sliceValues")
      val stale = graft.core.Jobs.labeled(spark, "replaceSlices stale-scan") {
        collectPartValues(
          spark.read.parquet(path)
            .filter(col(sliceCol).isin(sliceValues: _*))
            .select(partCol).distinct(), partCol)
      }
      val affected = (incoming ++ stale).distinct
      val existing = spark.read.parquet(path)
        .filter(col(partCol).isin(affected.map(_.toString): _*))
        .filter(!col(sliceCol).isin(sliceValues: _*) || col(sliceCol).isNull)
      val merged = existing.unionByName(slices)
      val staged = stagePath(path)
      graft.core.Jobs.labeled(spark, "replaceSlices stage") {
        clustered(merged).write.partitionBy(partCol).parquet(staged)
      }
      commitSwap(spark, fs, root, staged, partCol, affected.map(dirName(partCol, _)))
    } finally slices.unpersist(false)
  }

  /** Keyed MERGE (upsert) emulation on plain Parquet — the Delta
    * `MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT` surface for a
    * CDC-style updates batch: incoming rows REPLACE existing rows with
    * the same key, new keys are inserted, and the batch itself is
    * de-duplicated first (keep the row with the highest `seqCol` per
    * key — the CDC de-batching rule; `seqCol` is transport metadata and
    * is dropped from what lands in the table).
    *
    * Partition-pruned like [[replaceSlices]]: affected partitions =
    * partitions the de-batched updates land in UNION partitions
    * currently holding any updated key (found with a key-only semi
    * join — the second leg keeps re-runs correct when an update moves a
    * row ACROSS partitions: the stale copy is dropped, not orphaned).
    * Only those `partCol=v` directories are rewritten and swapped under
    * the commit-marker protocol; at 100 TB an upsert batch touching k
    * partitions costs a scan+write of k partitions, never the table.
    * Idempotent: re-running the same batch anti-joins the same keys out
    * before the union, yielding byte-identical content. */
  def upsert(spark: SparkSession, updates: DataFrame, path: String,
             keyCols: Seq[String], seqCol: String, partCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, desc, row_number}
    def clustered(df: DataFrame) = df.repartition(col(partCol))
    requireSimplePartCol(updates, partCol)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(desc(seqCol))
    val latest = updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", seqCol)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      clustered(latest).write.partitionBy(partCol).parquet(path)
      return
    }
    recoverIfNeeded(spark, fs, root)
    // `latest` (the de-batched updates, a window over the raw batch) is
    // referenced FOUR times below: incoming-partition discovery, the
    // stale-key semi join, the anti join, and the staged write. Persist
    // it for the call so the de-batch window runs once — a CDC batch is
    // small relative to the table by definition, so this is bounded
    // memory at any scale.
    val latestP = latest.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val incoming = graft.core.Jobs.labeled(spark, "upsert discover") {
        collectPartValues(latestP.select(partCol).distinct(), partCol)
      }
      val keys = latestP.select(keyCols.map(col): _*)
      val stale = graft.core.Jobs.labeled(spark, "upsert stale-scan") {
        collectPartValues(
          spark.read.parquet(path)
            .join(keys, keyCols, "left_semi")
            .select(partCol).distinct(), partCol)
      }
      val affected = (incoming ++ stale).distinct
      val kept = spark.read.parquet(path)
        .filter(col(partCol).isin(affected.map(_.toString): _*))
        .join(keys, keyCols, "left_anti")
      val merged = kept.unionByName(latestP)
      val staged = stagePath(path)
      graft.core.Jobs.labeled(spark, "upsert stage") {
        clustered(merged).write.partitionBy(partCol).parquet(staged)
      }
      // audit evidence: the CDC apply plan as EXECUTED (the staged write
      // runs on a cloned execution) — PlanAudit-gated, free otherwise
      if (graft.core.PlanEvidence.auditing) {
        val audit = clustered(merged)
        audit.queryExecution.toRdd.count()
        graft.core.PlanEvidence.record("sinks.upsert.apply",
          audit.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
      commitSwap(spark, fs, root, staged, partCol, affected.map(dirName(partCol, _)))
    } finally latestP.unpersist(false)
  }

  /** Marker-aware table read: while a commit is in flight or crashed
    * (marker present), serves the complete PRE-commit snapshot — the
    * archived `_graft_old` copy of already-swapped partitions, the
    * still-in-place copy of not-yet-swapped ones, and every untouched
    * partition. Once the marker is gone, a plain read of the (new)
    * table. Readers therefore observe old-or-new, never a mix. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMarker(fs, root) match {
      case None => spark.read.parquet(path)
      case Some(pc) =>
        val affectedDirs = pc.parts.map(_._1).toSet
        val untouched = fs.listStatus(root)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(pc.partCol + "=") &&
            !affectedDirs(st.getPath.getName))
          .map(_.getPath.toString)
        val oldTx = oldRoot(root, pc.txid)
        val stagedP = new Path(pc.staging)
        // Pre-commit copy of an affected partition: the archived dir if
        // the swap reached it; else the in-place dir — for a replaced
        // partition (hasNew) ONLY while its staged replacement still
        // exists (src gone + old gone means the in-place dir already
        // holds NEW data of a brand-new partition); for a removed
        // partition (!hasNew) the in-place dir is always pre-commit.
        val (archived, inPlace) = pc.parts.flatMap { case (d, hasNew) =>
          val old = new Path(oldTx, d)
          val dst = new Path(root, d)
          if (fs.exists(old)) Some(Left(old.toString))
          else if (fs.exists(dst) &&
            (!hasNew || fs.exists(new Path(stagedP, d))))
            Some(Right(dst.toString))
          else None
        }.partitionMap(identity)
        val reads = Seq(
          (path, untouched.toSeq ++ inPlace),
          (oldTx.toString, archived)
        ).collect { case (base, paths) if paths.nonEmpty =>
          spark.read.option("basePath", base).parquet(paths: _*)
        }
        if (reads.isEmpty) spark.read.parquet(path).limit(0)
        else reads.reduce(_ unionByName _)
    }
  }

  /** Roll a crashed commit forward to the new table state. Returns true
    * if there was anything to recover. Safe to call at any time;
    * replaceSlices/upsert call it automatically. */
  def recover(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) false else recoverIfNeeded(spark, fs, root)
  }

  /** Bucketed managed table — the co-located-join layout (SURVEY §7.4
    * scale rules): two tables bucketed by the same key into the same
    * bucket count join WITHOUT a shuffle on either side (Exchange-free
    * SortMergeJoin). At 100 TB this converts every recurring fact-fact
    * join on the bucket key from 2 shuffles to 0; the write cost is paid
    * once. Managed-table API because bucket metadata lives in the
    * catalog, not the files. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** S8: VACUUM analog — plain-Parquet overwrites already replace files,
    * so the orphans are staging dirs and `_graft_old` archives from
    * interrupted runs whose marker is gone (marker present → recovery
    * owns them); delete those older than `minAgeMs` (default 1h — NEVER
    * 0 in production: a younger staging dir may belong to an in-flight
    * writer, and deleting it mid-run loses the partition being swapped).
    * Returns the count removed. */
  def vacuum(spark: SparkSession, path: String,
             minAgeMs: Long = 3600 * 1000L): Int = {
    val p = new Path(path)
    val parent = p.getParent
    if (parent == null) return 0
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(parent)) return 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    val staging = fs.listStatus(parent).filter { st =>
      st.getPath.getName.startsWith(s"${p.getName}-staging-") &&
        st.getModificationTime < cutoff
    }
    staging.foreach(st => fs.delete(st.getPath, true))
    val oldArchives =
      if (fs.exists(p) && !fs.exists(markerPath(p)) &&
        fs.exists(new Path(p, "_graft_old")))
        fs.listStatus(new Path(p, "_graft_old"))
          .filter(_.getModificationTime < cutoff)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    oldArchives.foreach(st => fs.delete(st.getPath, true))
    staging.length + oldArchives.length
  }

  // ---------------------------------------------------------------- //
  // commit protocol internals
  // ---------------------------------------------------------------- //

  /** Pending commit recorded by the `_graft_commit` marker:
    * parts = (partition dir name, staged-replacement-exists). */
  private case class PendingCommit(txid: String, staging: String,
                                   partCol: String,
                                   parts: Seq[(String, Boolean)])

  private def markerPath(root: Path) = new Path(root, "_graft_commit")
  private def oldRoot(root: Path, txid: String) =
    new Path(root, s"_graft_old/$txid")

  private def dirName(partCol: String, v: Any): String =
    s"$partCol=${ExternalCatalogUtils.escapePathName(v.toString)}"

  /** Partition values must be non-null simple types: null writes to
    * `__HIVE_DEFAULT_PARTITION__`, and fractional/timestamp values
    * stringify differently from Hive partition-path encoding — both
    * would silently break affected-partition detection, so they are
    * rejected up front (ADVICE r6). */
  private def requireSimplePartCol(df: DataFrame, partCol: String): Unit = {
    val dt = df.schema(partCol).dataType
    val ok = dt match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           DateType | BooleanType => true
      case _ => false
    }
    require(ok, s"partition column $partCol has type ${dt.simpleString}; " +
      "sinks support non-null string/integral/date/boolean partition " +
      "columns (fractional and timestamp values do not round-trip " +
      "through Hive partition-path encoding)")
  }

  private def collectPartValues(distinctVals: DataFrame,
                                partCol: String): Seq[Any] = {
    val vs = distinctVals.collect().map(_.get(0)).toSeq
    require(!vs.contains(null),
      s"partition column $partCol contains NULL values; sinks require " +
        "non-null partition values")
    vs
  }

  private def writeMarker(fs: FileSystem, root: Path,
                          pc: PendingCommit): Unit = {
    val tmp = new Path(root, s"_graft_commit.tmp-${pc.txid}")
    val out = fs.create(tmp, true)
    val body = (Seq(pc.txid, pc.staging, pc.partCol) ++
      pc.parts.map { case (d, h) => s"$d\t$h" }).mkString("\n")
    out.write(body.getBytes("UTF-8"))
    out.close()
    fs.rename(tmp, markerPath(root)) // atomic create = publish
  }

  private def readMarker(fs: FileSystem, root: Path): Option[PendingCommit] = {
    val mp = markerPath(root)
    if (!fs.exists(mp)) return None
    val in = fs.open(mp)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    val parts = lines.drop(3).filter(_.nonEmpty).map { l =>
      val Array(d, h) = l.split("\t", 2)
      (d, h.toBoolean)
    }
    Some(PendingCommit(lines(0), lines(1), lines(2), parts))
  }

  /** Swap every affected partition via renames only; idempotent, so a
    * recovery rerun picks up exactly where a crash stopped. */
  private def applySwaps(fs: FileSystem, root: Path, pc: PendingCommit,
                         injectCrash: Boolean): Unit = {
    val stagedP = new Path(pc.staging)
    val oldTx = oldRoot(root, pc.txid)
    var renames = 0
    def doRename(a: Path, b: Path): Unit = {
      if (injectCrash && crashBeforeRename >= 0 && renames == crashBeforeRename)
        throw new IllegalStateException(
          s"graft test crash injection before rename #$renames")
      require(fs.rename(a, b), s"rename failed: $a -> $b")
      renames += 1
    }
    pc.parts.foreach { case (dir, hasNew) =>
      val src = new Path(stagedP, dir)
      val dst = new Path(root, dir)
      val old = new Path(oldTx, dir)
      if (hasNew) {
        if (fs.exists(src)) { // else: this partition's swap already done
          if (fs.exists(dst)) {
            require(!fs.exists(old),
              s"commit ${pc.txid}: both $dst and $old exist — external " +
                "interference with the table during a commit")
            fs.mkdirs(oldTx)
            doRename(dst, old)
          }
          doRename(src, dst)
        }
      } else if (fs.exists(dst) && !fs.exists(old)) {
        // partition emptied by the merge: archive (remove) its dir
        fs.mkdirs(oldTx)
        doRename(dst, old)
      }
    }
  }

  private def commitSwap(spark: SparkSession, fs: FileSystem, root: Path,
                         staged: String, partCol: String,
                         dirNames: Seq[String]): Unit = {
    val txid = UUID.randomUUID().toString.take(8)
    val stagedP = new Path(staged)
    val parts = dirNames.map(d => d -> fs.exists(new Path(stagedP, d)))
    val pc = PendingCommit(txid, staged, partCol, parts)
    writeMarker(fs, root, pc)
    applySwaps(fs, root, pc, injectCrash = true)
    fs.delete(markerPath(root), false) // THE commit point
    fs.delete(oldRoot(root, txid), true)
    fs.delete(stagedP, true)
  }

  private def recoverIfNeeded(spark: SparkSession, fs: FileSystem,
                              root: Path): Boolean =
    readMarker(fs, root) match {
      case None => false
      case Some(pc) =>
        // The marker only exists once the staged write completed, so the
        // new state is always fully materialized: roll FORWARD.
        applySwaps(fs, root, pc, injectCrash = false)
        fs.delete(markerPath(root), false)
        fs.delete(oldRoot(root, pc.txid), true)
        fs.delete(new Path(pc.staging), true)
        true
    }

  private def stagePath(path: String): String =
    s"$path-staging-${UUID.randomUUID().toString.take(8)}"
}

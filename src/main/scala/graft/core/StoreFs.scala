package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** THE filesystem seam of the store lifecycle (round-17 verdict item
  * 1): every engine-managed lifecycle artifact — versioned snapshot
  * roots (Similarity.buildStoreVersion), tick delta areas (Dedup's
  * d16/d17 ticks), streaming staging + replay sinks (Streams), and the
  * i-family backfill stores (PointInTime) — does its control-plane
  * metadata ops (exists / list / recursive delete) and resolves its
  * BASE location through this facade, via Hadoop's `FileSystem` API
  * against the session's hadoopConfiguration.
  *
  * On local[n] the base is the JVM tmpdir and every path resolves to
  * [[LocalFs.Checksummed]], graft's `LocalFileSystem` subclass that
  * sets permissions without forking `chmod` (see [[Sessions]]) —
  * byte-identical layout to the historical java.io.File behavior
  * (TmpHygiene's dead-pid janitor keeps scanning the same local dirs).
  * On a cluster, setting
  * `spark.graft.store.root=hdfs://…/graft` (or s3a://…) moves EVERY
  * lifecycle path onto the shared filesystem with no code change — the
  * "HDFS-swap seam" the store scaladocs documented, now a type instead
  * of prose. The data plane (parquet read/write, the rename-aside swap
  * in Sinks) already rides Hadoop FileSystem; this closes the metadata
  * plane, which was the last local-only convenience.
  *
  * The DESTRUCTIVE ops are QUIET by contract (never throw on FS
  * errors, report outcome by return value): the retention sweeps and
  * delta-retirement retry loops key on "is the path absent now", and
  * a transient FS error must degrade to "retry next tick", not abort
  * a tick that already folded correctly. [[exists]] is the deliberate
  * exception: callers use it to decide what to SERVE (fold deltas vs
  * empty, replay sink vs empty probe), so an FS error there must
  * surface as a failure — a swallowed exception would silently drop
  * folded data from results (round-18 review finding).
  */
object StoreFs {

  /** Base dir/URI for engine-managed lifecycle roots. Default = the
    * JVM tmpdir qualified as a `file:` URI, so the unset-key default
    * is LOCAL regardless of `fs.defaultFS`: on a cluster where
    * defaultFS is hdfs://, a scheme-less "/tmp/..." would silently
    * resolve onto HDFS while TmpHygiene's dead-pid janitor
    * (java.io.File) kept scanning local disk — orphans on the shared
    * FS would never be swept (round-18 advice). Clusters opt INTO a
    * shared FS explicitly via `spark.graft.store.root=hdfs://…`; the
    * default preserves the historical local-tmpdir behavior
    * everywhere. One conf key relocates every store at once. */
  def base(s: SparkSession): String =
    s.conf.get("spark.graft.store.root",
      "file:" + sys.props("java.io.tmpdir"))

  private def fsFor(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** NOT quiet (see object scaladoc): an FS error here must fail the
    * caller, because exists() answers "what should I serve" — a
    * swallowed error would be indistinguishable from "no data". */
  def exists(s: SparkSession, path: String): Boolean =
    fsFor(s, path).exists(new Path(path))

  /** Recursive quiet delete — never throws on FS trouble (all
    * non-fatal throwables: Hadoop throws RuntimeExceptions for
    * malformed URIs/wrong-FS paths, not just IOExceptions); returns
    * true iff the path is ABSENT afterwards (the deleteQuietly
    * contract the d16 pending-retirement loop keys on: false ⇒ keep
    * it in the retry set). */
  def deleteQuietly(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try {
      val fs = fsFor(s, path)
      fs.delete(p, true)
      !fs.exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Child base-names of a directory (empty when missing or on FS
    * error — retention sweeps retry on the next build) — the
    * version-listing primitive of the retention sweeps. */
  def listNames(s: SparkSession, path: String): Seq[String] =
    try {
      val fs = fsFor(s, path)
      val p = new Path(path)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toIndexedSeq.map(_.getPath.getName)
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
}

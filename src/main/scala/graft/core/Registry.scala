package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one registry of session-lifetime ARTIFACTS: the silver
  * frames (annotations, shingles, band and retrieval indexes, postings
  * and their stats, centroids, the ABT) and the fitted models that
  * several queries share. Each artifact is declared where it is served,
  * as a call naming it plus its build expression:
  *
  * {{{
  *   def banded(s: SparkSession, dir: String): DataFrame =
  *     Registry.frame("banded", s, dir) { ...build... }
  * }}}
  *
  * Lifecycle, the same for every artifact:
  *  - an entry is keyed by (artifact name, session, dir) and carries the
  *    CONTENT fingerprint of the dir ([[Tables.sourceFingerprint]]). A
  *    lookup whose fingerprint matches is a hit. If the driver
  *    regenerates the testdata in place, the fingerprint changes, the
  *    superseded entry is released (a frame is unpersisted) and the
  *    artifact is rebuilt against the new bytes. So the registry holds
  *    one generation per (artifact, session, dir), which bounds a
  *    long-lived driver's pinned frames across regenerations;
  *  - a build runs under its own entry's lock, never a global monitor:
  *    builds nest across artifacts (`fullTokenStats` reads
  *    `rawPostingsFull`, `ivfpqIndex` reads `pqCodes`, which reads
  *    `pqCodebooks`), and a build may wait on a thread that reads
  *    another artifact. The lock stops a racing duplicate build from
  *    double-persisting; a hit takes no lock;
  *  - the build's Spark jobs carry the label `registry <name>`, so
  *    [[Telemetry]] and `tools.JobProfile` attribute cold cost to the
  *    artifact that paid it.
  *
  * How an artifact is materialised is decided here, by its kind:
  * [[frame]] persists `MEMORY_AND_DISK` and counts, so every consumer
  * hits warm blocks; [[lazyFrame]] persists without the count, for a
  * base frame whose encode must not run until a real action needs it;
  * [[value]] keeps a driver-side value (a fitted model) with its own
  * release hook.
  *
  * A name is the artifact's identity in the shared map, so two
  * declarations of one name would serve one build's result to the
  * other; `SingleRegistrySpec` fails on a duplicated name. */
object Registry {

  private final case class Slot(name: String, session: SparkSession,
                                dir: String)

  /** One generation of one artifact. */
  private final case class Entry(fingerprint: String, value: Any,
                                 release: Any => Unit)

  /** One cell per (artifact, session, dir); its monitor is the build
    * lock, `entry` the current generation. */
  private final class Cell {
    @volatile var entry: Entry = _
  }

  private val cells = new ConcurrentHashMap[Slot, Cell]()

  private val unpersist: DataFrame => Unit = _.unpersist(false)

  /** An eagerly materialised frame: persisted `MEMORY_AND_DISK` and
    * counted inside the build. */
  def frame(name: String, s: SparkSession, dir: String)
           (build: => DataFrame): DataFrame =
    lookup(name, s, dir, unpersist) {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }

  /** A lazily materialised frame: persisted `MEMORY_AND_DISK` but not
    * counted, so its blocks fill at the first action that reads it. */
  def lazyFrame(name: String, s: SparkSession, dir: String)
               (build: => DataFrame): DataFrame =
    lookup(name, s, dir, unpersist)(
      build.persist(StorageLevel.MEMORY_AND_DISK))

  /** A driver-side value; `release` runs on a superseded generation. */
  def value[V](name: String, s: SparkSession, dir: String,
               release: V => Unit = (_: V) => ())(build: => V): V =
    lookup(name, s, dir, release)(build)

  private def lookup[V](name: String, s: SparkSession, dir: String,
                        release: V => Unit)(build: => V): V = {
    val fp = Tables.sourceFingerprint(dir)
    val cell = cells.computeIfAbsent(Slot(name, s, dir), _ => new Cell)
    val hit = cell.entry
    if (hit != null && hit.fingerprint == fp) hit.value.asInstanceOf[V]
    else cell.synchronized {
      val cur = cell.entry
      if (cur != null && cur.fingerprint == fp) cur.value.asInstanceOf[V]
      else {
        if (cur != null) {
          cell.entry = null
          cur.release(cur.value)
        }
        val v = Jobs.labeled(s, s"registry $name")(build)
        cell.entry = Entry(fp, v, release.asInstanceOf[Any => Unit])
        v
      }
    }
  }

  /** Live generations of `name` (one per (session, dir) it was built
    * for) — eviction observability for specs. */
  private[core] def size(name: String): Int =
    cells.asScala.count { case (k, c) => k.name == name && c.entry != null }
}

package graft.core

/** Cross-JVM tmp-dir hygiene for the pid-keyed staging/store/sink dirs
  * (round-11 review): pid-keying made concurrent JVMs safe — each
  * process stages its own copy — but delete-at-entry only ever touches
  * the CURRENT pid's paths, so every fresh JVM would otherwise leak a
  * full staged copy into java.io.tmpdir until the disk fills (a gate
  * campaign runs 3+ fresh JVMs per set). The sweep runs ONCE per JVM
  * (from Sessions.get, before any staging): every `graft-*-p<pid>` /
  * `graft-*-p<pid>-c<n>` entry whose pid is NO LONGER ALIVE is
  * deleted. Live pids are never touched — a genuinely concurrent JVM
  * keeps its dirs; a recycled-but-alive foreign pid merely defers the
  * cleanup to a later sweep (correctness never depends on it: every
  * path is re-judged by _SUCCESS or deleted at entry by its owner).
  * Deliberately LOCAL (java.io.File over the JVM tmpdir): this is the
  * local-disk janitor. When [[StoreFs]].base is repointed at a shared
  * filesystem, lifecycle dirs live there instead and this sweep simply
  * finds nothing — shared-FS retention is owned by the one version
  * allocator's {current, previous} vacuum ([[StoreFs.buildVersion]]).
  * The `-c<n>` suffix is the per-call sink/delta naming of older builds;
  * their dirs still need sweeping.
  */
object TmpHygiene {

  private val pat = "^graft-.*-p(\\d+)(-c\\d+)?$".r

  /** Age past which a LEGACY-format dir (graft-* with no -p<pid>
    * suffix, written by pre-round-11 builds) is reclaimed. Those names
    * carry no owner pid, so liveness can't be checked — age is the
    * only safe signal, and nothing re-reads an hours-old legacy
    * staging dir (every current build stages its own pid-keyed copy
    * at entry). Without this branch the exact disk-fill hazard the
    * sweep was added for persists for legacy leftovers forever
    * (round-11 advice). Residual assumption (documented, not proven):
    * a pre-round-11 PROCESS could in principle still be replaying a
    * >6h-old legacy dir (reads don't bump mtime) — accepted because
    * build rounds are shorter than the threshold and every current
    * build restages at entry; this branch is a MIGRATION aid and can
    * be deleted once legacy dirs are gone from the fleet's tmp.
    *
    * The match is restricted to the ENUMERATED legacy staging/sink/
    * store families — a bare `graft-*` age rule deleted the
    * long-lived GenScale data dir (/tmp/graft-sf1, deliberately
    * persistent across rounds) the first time it ran. Derived
    * DATASETS under tmp are out of scope for hygiene; only this
    * library's own disposable dirs are. */
  private val legacyPat =
    "^graft-(stream-|i\\d+-store-|[a-z0-9_]+-sink-).*$".r

  private val legacyMaxAgeMs = 6L * 3600 * 1000

  @volatile private var swept = false

  def sweepStaleOnce(): Unit = {
    if (swept) return
    synchronized {
      if (swept) return
      swept = true
      sweepNow()
    }
  }

  /** The sweep itself, once-guard bypassed — spec seam. */
  private[core] def sweepNow(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val entries = Option(tmp.listFiles()).getOrElse(Array.empty)
    entries.foreach { f =>
      f.getName match {
        case pat(pid, _) =>
          val alive = ProcessHandle.of(pid.toLong)
            .map[java.lang.Boolean](_.isAlive).orElse(false)
          if (!alive)
            org.apache.commons.io.FileUtils.deleteQuietly(f)
        case name if legacyPat.findFirstIn(name).isDefined =>
          // legacy un-pid-keyed formats: reclaim by age (see above)
          if (System.currentTimeMillis() - f.lastModified() > legacyMaxAgeMs)
            org.apache.commons.io.FileUtils.deleteQuietly(f)
        case _ => ()
      }
    }
  }
}

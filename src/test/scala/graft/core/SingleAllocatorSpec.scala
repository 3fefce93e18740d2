package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pid-keyed lifecycle dir is named by [[StoreFs.root]] and
  * versioned by [[StoreFs.buildVersion]]: a source scan of src/main
  * fails when the JVM pid is taken anywhere else, which is how a
  * private counter-and-wipe mechanism would start. The two allowed
  * exceptions run a different policy: `Streams.stageForReplay` is a
  * content-keyed staging cache judged by `_SUCCESS`, and `Bench`'s IO
  * calibration probe writes a throwaway dir it deletes itself. A
  * second scan keeps in-place swaps from coming back: store rewrites
  * write an unpublished version, so `.rename(` appears only where the
  * remaining swap mechanisms live. */
class SingleAllocatorSpec extends AnyFunSuite {

  private val allowed = Set(
    "core/StoreFs.scala" -> "root",
    "streaming/Streams.scala" -> "stageForReplay",
    "Bench.scala" -> "calibrationProbeIo")

  /** Store rewrites commit by publishing a fresh version, so a rename
    * is left only in the two commit mechanisms that still swap in
    * place: S7 `compact`'s rename-aside swap and the S6 marker
    * protocol (its per-partition swaps, and the temp-file rename that
    * creates the marker atomically). */
  private val renameAllowed = Set(
    "sources/Sinks.scala" -> "compact",
    "sources/Sinks.scala" -> "applySwaps",
    "sources/Sinks.scala" -> "writeMarker")

  private val defPat = """\bdef (\w+)""".r.unanchored
  /** A definition at object/trait member level (two-space indent). */
  private val memberDefPat = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r

  /** (file, enclosing definition, line) of every src/main line holding
    * `needle`; the owner is the nearest `owner`-matching line above. */
  private def uses(needle: String,
                   owner: scala.util.matching.Regex): Seq[(String, String, Int)] = {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(src), "src/main not in cwd")
    val files = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val rel = src.relativize(f).toString
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains(needle)).map { i =>
        val name = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
          case owner(n) => n
        }.getOrElse("<none>")
        (rel, name, i + 1)
      }
    }
  }

  private def assertOnly(found: Seq[(String, String, Int)],
                         allow: Set[(String, String)], what: String): Unit = {
    val stray = found.filterNot { case (rel, owner, _) => allow((rel, owner)) }
    assert(stray.isEmpty, what + ": " +
      stray.map { case (r, o, l) => s"$r:$l in $o" }.mkString(", "))
    // the allowed sites still exist — a stale allowlist guards nothing
    assert(found.map(u => (u._1, u._2)).toSet === allow)
  }

  test("the JVM pid keys lifecycle dirs only through StoreFs.root") {
    assertOnly(uses("ProcessHandle.current.pid", defPat), allowed,
      "pid-keyed dir outside the one allocator (name it with " +
        "StoreFs.root and version it with StoreFs.buildVersion)")
  }

  test("only S7 compact and the S6 marker protocol rename inside a " +
    "table; every other store rewrite writes a fresh StoreFs version") {
    assertOnly(uses(".rename(", memberDefPat), renameAllowed,
      "in-place rename outside Sinks.compact and the marker protocol " +
        "(write into an unpublished StoreFs.buildVersion version instead)")
  }
}

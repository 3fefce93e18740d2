package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pid-keyed lifecycle dir is named by [[StoreFs.root]] and
  * versioned by [[StoreFs.buildVersion]]: a source scan of src/main
  * fails when the JVM pid is taken anywhere else, which is how a
  * private counter-and-wipe mechanism would start. The two allowed
  * exceptions run a different policy: `Streams.stageForReplay` is a
  * content-keyed staging cache judged by `_SUCCESS`, and `Bench`'s IO
  * calibration probe writes a throwaway dir it deletes itself. */
class SingleAllocatorSpec extends AnyFunSuite {

  private val allowed = Set(
    "core/StoreFs.scala" -> "root",
    "streaming/Streams.scala" -> "stageForReplay",
    "Bench.scala" -> "calibrationProbeIo")

  private val defPat = """\bdef (\w+)""".r.unanchored

  test("the JVM pid keys lifecycle dirs only through StoreFs.root") {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(src), "src/main not in cwd")
    val files = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val uses = files.flatMap { f =>
      val rel = src.relativize(f).toString
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("ProcessHandle.current.pid"))
        .map { i =>
          // the enclosing definition: nearest `def` at or above the use
          val owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
            case defPat(name) => name
          }.getOrElse("<none>")
          (rel, owner, i + 1)
        }
    }
    val stray = uses.filterNot { case (rel, owner, _) =>
      allowed((rel, owner)) }
    assert(stray.isEmpty,
      "pid-keyed dir outside the one allocator (name it with " +
        "StoreFs.root and version it with StoreFs.buildVersion): " +
        stray.map { case (r, o, l) => s"$r:$l in $o" }.mkString(", "))
    // the allowed sites still exist — a stale allowlist guards nothing
    assert(uses.map(u => (u._1, u._2)).toSet === allowed)
  }
}

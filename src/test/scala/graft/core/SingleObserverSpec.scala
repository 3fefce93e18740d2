package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every listener the engine registers goes through [[Telemetry]]: a
  * source scan of src/main fails when a listener registration appears
  * anywhere else, which is how a tool's private listener would start
  * (and miss the streams of the isolated sessions). */
class SingleObserverSpec extends AnyFunSuite {

  private val allowed = Set("graft/core/Telemetry.scala")

  private val registration =
    ("addSparkListener|streams\\.addListener|listenerManager\\.register|" +
      "listenerBus\\.addTo").r

  test("listeners are registered only in graft/core/Telemetry.scala") {
    val src = java.nio.file.Paths.get("src/main/scala")
    assume(java.nio.file.Files.isDirectory(src), "src/main not in cwd")
    val uses = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala
        lines.indices.filter(i => registration.findFirstIn(lines(i)).nonEmpty)
          .map(i => (src.relativize(f).toString, i + 1))
      }
    val stray = uses.filterNot(u => allowed(u._1))
    assert(stray.isEmpty,
      "listener registered outside core.Telemetry (record through " +
        "Telemetry.capture instead): " +
        stray.map { case (f, l) => s"$f:$l" }.mkString(", "))
    // the allowed site still registers — a stale allowlist guards nothing
    assert(uses.map(_._1).toSet === allowed)
  }
}

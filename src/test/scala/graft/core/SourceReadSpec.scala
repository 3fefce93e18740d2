package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every source-table read goes through [[Tables.t]], whose memoized
  * schema spares the per-read inference job: a source scan of src/main
  * fails when a reader is pointed at a `$dir/<table>.parquet` path
  * anywhere else, which is how a read that pays Spark's footer job
  * would come back. A chained reader split over lines counts as one
  * statement (a line starting with `.` continues the one above). */
class SourceReadSpec extends AnyFunSuite {

  private val allowed = Set("core/Tables.scala" -> "t")

  private val defPat = """\bdef (\w+)""".r.unanchored
  private val sourceRead =
    """\bread\b.*s"\$\{?\w+\}?/[\w$]+\.parquet"""".r.unanchored

  test("source tables are read only through Tables.t") {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(src), "src/main not in cwd")
    val files = java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val uses = files.flatMap { f =>
      val rel = src.relativize(f).toString
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      // statement start -> the statement's text with its `.`-continuations
      val stmts = lines.indices.filterNot(i => lines(i).trim.startsWith("."))
        .map { i =>
          val cont = lines.indices.drop(i + 1)
            .takeWhile(j => lines(j).trim.startsWith("."))
          (i, (i +: cont).map(lines(_).trim).mkString)
        }
      stmts.collect { case (i, stmt) if sourceRead.matches(stmt) =>
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
      "source table read outside Tables.t (read it with " +
        "graft.core.Tables.t): " +
        stray.map { case (r, o, l) => s"$r:$l in $o" }.mkString(", "))
    // the allowed site still exists — a stale allowlist guards nothing
    assert(uses.map(u => (u._1, u._2)).toSet === allowed)
  }
}

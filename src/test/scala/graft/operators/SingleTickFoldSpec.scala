package graft.operators

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The ingest-tick family (d12, d13, d16–d19) runs one arrival replay
  * and one micro-batch fold body: a source scan of `Dedup.scala` fails
  * when a second member starts its own `Streams.replayForeachBatch`, or
  * persists its own copy of the fold's chunk frame (the batch-sized
  * chunk frame both index sides are encoded from), which is how a
  * per-caller copy of the tick would come back. */
class SingleTickFoldSpec extends AnyFunSuite {

  /** Each top-level member of `object Dedup` -> its code lines (scaladoc
    * and line comments dropped). A member runs from its `val`/`def` line
    * to the next one at the same indent. */
  private lazy val members: Seq[(String, Seq[String])] = {
    val f = java.nio.file.Paths.get("src/main/scala/graft/operators/Dedup.scala")
    assume(java.nio.file.Files.isRegularFile(f), "src/main not in cwd")
    val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
    val head = ("""^  (?:(?:private|protected)(?:\[\w+\])? |override |""" +
      """final )*(?:lazy )?(?:val|def) (\w+)""").r.unanchored
    val starts = lines.indices.flatMap(i => lines(i) match {
      case head(name) => Some(i -> name)
      case _ => None
    })
    starts.zip(starts.drop(1).map(_._1) :+ lines.size).map {
      case ((from, name), to) =>
        name -> lines.slice(from, to).filterNot { l =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
        }
    }
  }

  private def owners(uses: Seq[String] => Boolean): Seq[String] =
    members.collect { case (name, code) if uses(code) => name }

  test("one member of Dedup starts a stream replay") {
    val replays = owners(_.exists(_.contains("replayForeachBatch")))
    assert(replays === Seq("replayArrivals"),
      "stream replay started outside replayArrivals: " + replays)
  }

  test("one member of Dedup persists the fold's chunk frame") {
    val folds = owners(code =>
      code.exists(_.contains("c3_chunk_corpus")) &&
        code.exists(_.contains(".persist(")))
    assert(folds === Seq("batchFold"),
      "fold chunk frame persisted outside batchFold: " + folds)
  }
}

package graft.core

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session-lifetime artifact is a named entry of [[Registry]]: a
  * source scan of src/main fails when a second caching mechanism
  * appears (the old per-instance `getOrCompute`, a typed registry
  * instance, or a mutable map holding sessions or frames), and when two
  * declarations use one artifact name — in the shared map a duplicated
  * name would silently serve one build's result to the other. */
class SingleRegistrySpec extends AnyFunSuite {

  private val home = "core/Registry.scala"

  /** (path relative to src/main/scala/graft, content) of every source. */
  private lazy val sources: Seq[(String, String)] = {
    val src = java.nio.file.Paths.get("src/main/scala/graft")
    assume(java.nio.file.Files.isDirectory(src), "src/main not in cwd")
    java.nio.file.Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => (src.relativize(f).toString,
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8")))
  }

  private val mechanism = Seq(
    "getOrCompute".r,
    """\bRegistry\[""".r,
    ("""(?:\bmutable\.Map|\b\w*HashMap|\bTrieMap)\[[^\n]*\b""" +
      """(?:SparkSession|DataFrame|PipelineModel)\b""").r)

  test("artifacts are cached only in core/Registry.scala") {
    val stray = for {
      (rel, text) <- sources if rel != home
      (line, i) <- text.linesIterator.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
      if mechanism.exists(_.findFirstIn(line).nonEmpty)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(stray.isEmpty,
      "artifact cache outside core.Registry (declare a named artifact " +
        "with Registry.frame / lazyFrame / value instead): " +
        stray.mkString("; "))
  }

  test("every artifact declaration names a literal, unique artifact") {
    val call = """\bRegistry\.(?:frame|lazyFrame|value)\b""".r
    val named = ("""\bRegistry\.(?:frame|lazyFrame|value)(?:\[.*?\])?""" +
      """\(\s*"([^"]+)"""").r
    val decls = sources.filter(_._1 != home).flatMap { case (rel, text) =>
      val names = named.findAllMatchIn(text).map(_.group(1)).toSeq
      assert(names.size === call.findAllMatchIn(text).size,
        s"$rel: an artifact declared without a literal name")
      names.map(_ -> rel)
    }
    assert(decls.nonEmpty)
    val dups = decls.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, "artifact names declared twice: " +
      dups.map { case (n, ds) => s"$n in ${ds.map(_._2).mkString(", ")}" }
        .mkString("; "))
  }
}

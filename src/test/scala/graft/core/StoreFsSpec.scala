package graft.core

import graft.SparkSpec

/** StoreFs — the store-lifecycle filesystem seam: Hadoop-FileSystem
  * semantics must match the java.io.File behavior the lifecycle code
  * relied on before the seam (quiet ops, absent-after-delete contract,
  * empty listing for missing dirs), the base must default to the
  * JVM tmpdir so local layouts are unchanged, and the one version
  * allocator keeps its retention and nesting contract. */
class StoreFsSpec extends SparkSpec {

  test("base defaults to the JVM tmpdir and follows the conf key") {
    // file:-qualified so the unset-key default stays LOCAL even when
    // fs.defaultFS points at a shared FS (round-18 advice)
    assert(StoreFs.base(spark) === "file:" + sys.props("java.io.tmpdir"))
    val key = "spark.graft.store.root"
    spark.conf.set(key, "/tmp/graft-seam-test")
    try assert(StoreFs.base(spark) === "/tmp/graft-seam-test")
    finally spark.conf.unset(key)
  }

  test("exists / listNames / deleteQuietly round-trip") {
    val root = tmpDir("graft-storefs")
    assert(StoreFs.exists(spark, root))
    assert(StoreFs.listNames(spark, root) === Seq.empty)
    // nested content, then judged through the facade
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/v1/idx"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/v1/idx/part-0"), "x")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/v2"))
    assert(StoreFs.exists(spark, s"$root/v1/idx/part-0"))
    assert(StoreFs.listNames(spark, root).sorted === Seq("v1", "v2"))
    // recursive delete returns the absent-after contract
    assert(StoreFs.deleteQuietly(spark, s"$root/v1"))
    assert(!StoreFs.exists(spark, s"$root/v1"))
    assert(StoreFs.listNames(spark, root) === Seq("v2"))
    assert(StoreFs.deleteQuietly(spark, root))
  }

  test("quiet on missing paths — delete of an absent path reports absent") {
    val ghost = s"${sys.props("java.io.tmpdir")}/graft-storefs-ghost-" +
      s"${ProcessHandle.current.pid}"
    assert(!StoreFs.exists(spark, ghost))
    assert(StoreFs.deleteQuietly(spark, ghost))
    assert(StoreFs.listNames(spark, ghost) === Seq.empty)
  }

  test("buildVersion: a fresh version per build, {current, previous} " +
    "kept; a nested build of another root never vacuums the outer " +
    "build's unpublished version, and a nested build of the same root " +
    "is refused") {
    val base = tmpDir("graft-alloc")
    val (outer, inner) = (s"$base/outer", s"$base/inner")
    def mk(v: String) =
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(v))
    def names(root: String) = StoreFs.listNames(spark, root).toSet
    def leaf(v: String) = v.split('/').last
    val (first, _) = StoreFs.buildVersion(spark, outer)(mk)
    assert(StoreFs.currentVersion(outer) === first)
    val (second, innerVs) = StoreFs.buildVersion(spark, outer) { v =>
      mk(v)
      val vs = (1 to 3).map(_ => StoreFs.buildVersion(spark, inner)(mk)._1)
      intercept[IllegalArgumentException](
        StoreFs.buildVersion(spark, outer)(mk))
      assert(StoreFs.exists(spark, v),
        "an inner build's vacuum retired the outer's unpublished version")
      assert(StoreFs.currentVersion(outer) === first, "published early")
      vs
    }
    assert(StoreFs.currentVersion(outer) === second)
    assert(names(outer) === Set(first, second).map(leaf))
    assert(names(inner) === innerVs.takeRight(2).map(leaf).toSet)
    assert(StoreFs.deleteQuietly(spark, base))
  }
}

package graft.core

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Lifecycle contract of the shared artifact registry: content-keyed
  * hits, recompute on in-place regeneration, and — the part a plain
  * fingerprint key misses — eviction + release of the superseded
  * generation, so a long-lived driver never accumulates stale pinned
  * frames across source regenerations. Each artifact kind materialises
  * the way its declaration says, and artifacts neither share entries
  * nor serialise each other's builds. */
class RegistrySpec extends SparkSpec {

  private def touch(dir: String, name: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(p, content)
    // mtime granularity can swallow fast successive writes — force it
    p.toFile.setLastModified(p.toFile.lastModified() + 2000)
  }

  private def source(prefix: String): String = {
    val dir = tmpDir(prefix)
    touch(dir, "t.parquet", "v1")
    dir
  }

  test("same content hits; regeneration recomputes, evicts and releases " +
    "the superseded entry; distinct dirs are independent") {
    val dirA = source("reg-a")
    val dirB = source("reg-b")
    var computes = 0
    val released = scala.collection.mutable.ArrayBuffer[Int]()
    def get(dir: String): Int =
      Registry.value[Int]("spec-int", spark, dir, released += _) {
        computes += 1; computes
      }

    assert(get(dirA) === 1)
    assert(get(dirA) === 1) // hit: same session+dir+content
    assert(computes === 1 && released.isEmpty)

    assert(get(dirB) === 2) // other dir: own entry, no eviction
    assert(Registry.size("spec-int") === 2)

    touch(dirA, "t.parquet", "v2-regenerated") // in-place regeneration
    assert(get(dirA) === 3) // recompute against new content...
    assert(released.toSeq === Seq(1)) // ...and the stale artifact released
    assert(Registry.size("spec-int") === 2) // one generation per (session, dir)

    assert(get(dirB) === 2) // untouched dir unaffected
    assert(get(dirA) === 3)
    assert(computes === 3)
  }

  test("an eager frame is MEMORY_AND_DISK and built under its label; " +
    "its second call runs no Spark job") {
    val dir = source("reg-eager")
    var builds = 0
    def get() = Registry.frame("spec-eager", spark, dir) {
      builds += 1
      spark.range(0, 1000).toDF("id")
    }
    val (first, cold) = Telemetry.capture(spark)(get())
    assert(cold.jobs.nonEmpty, "the build did not materialise the frame")
    assert(cold.jobs.map(_.site).toSet === Set("registry spec-eager"))
    assert(first.storageLevel === StorageLevel.MEMORY_AND_DISK)

    val (second, warm) = Telemetry.capture(spark)(get())
    assert(second eq first)
    assert(warm.jobs.isEmpty, warm.jobs.map(_.site).mkString(", "))
    assert(builds === 1)
  }

  test("a superseded frame is unpersisted: its RDD leaves " +
    "sparkContext.getPersistentRDDs") {
    val dir = source("reg-evict")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val old = Registry.frame("spec-evict", spark, dir)(
      spark.range(0, 100).toDF("id"))
    val oldRdds = persisted -- before
    assert(oldRdds.nonEmpty, "the eager build cached no RDD")

    touch(dir, "t.parquet", "v2-regenerated")
    val fresh = Registry.frame("spec-evict", spark, dir)(
      spark.range(0, 200).toDF("id"))
    assert((persisted intersect oldRdds).isEmpty)
    assert(old.storageLevel === StorageLevel.NONE)
    assert(fresh.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(fresh.count() === 200)
  }

  test("a lazy frame is persisted but runs no job on its first call") {
    val dir = source("reg-lazy")
    val (df, rec) = Telemetry.capture(spark)(
      Registry.lazyFrame("spec-lazy", spark, dir)(
        spark.range(0, 100).toDF("id")))
    assert(rec.jobs.isEmpty, rec.jobs.map(_.site).mkString(", "))
    assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(df.count() === 100)
  }

  test("two artifacts on the same (session, dir) keep their own entries " +
    "and their own generations") {
    val dir = source("reg-pair")
    val released = scala.collection.mutable.ArrayBuffer[String]()
    def a(v: String) = Registry.value[String]("spec-a", spark, dir,
      released += _)(v)
    def b(v: String) = Registry.value[String]("spec-b", spark, dir,
      released += _)(v)

    assert(a("a1") === "a1")
    assert(b("b1") === "b1") // not served a's entry
    assert(a("unused") === "a1" && b("unused") === "b1")

    touch(dir, "t.parquet", "v2-regenerated")
    assert(a("a2") === "a2")
    assert(released.toSeq === Seq("a1")) // b's generation is b's to drop
    assert(b("b2") === "b2")
    assert(released.toSeq === Seq("a1", "b1"))
  }

  test("a build of one artifact completes while a thread it waits on " +
    "builds another") {
    val dir = source("reg-nest")
    implicit val ec: ExecutionContext = ExecutionContext.global
    val outer = Registry.value[String]("spec-outer", spark, dir) {
      val inner = Future(
        Registry.value[String]("spec-inner", spark, dir)("inner"))
      Await.result(inner, 60.seconds) + "+outer"
    }
    assert(outer === "inner+outer")
    assert(Registry.value[String]("spec-inner", spark, dir)("rebuilt") ===
      "inner")
  }
}

package graft.operators

import graft.SparkSpec
import graft.core.{StoreFs, Telemetry}

/** Work-counter gate for the ingest-tick family and the store builds:
  * the warm call of each of d12, d13, d16–d19, prof9 and s21 runs no
  * more Spark jobs and compiles no more generated classes than the
  * recorded ceilings. Job counts do not depend on the host's speed or
  * load, so a change that adds a job to the arrival replay, the fold,
  * the readback or a store write fails here even when its wall-time
  * cost is inside the noise of a timed run.
  *
  * The ceilings are the counts measured on the committed sf0.001
  * tables (`local[4]`), identical over repeated runs; every counter
  * listed was stable. A change that lowers a count lowers its ceiling. */
class TickJobGateSpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  /** op -> (warm-call jobs, warm-call compiles) ceilings. */
  private val ceilings = Seq(
    "d12_stream_ingest_gate" -> (18, 0L),
    "d13_stream_cluster_tag" -> (28, 0L),
    "d16_ingest_tick" -> (53, 0L),
    "d17_tick_store" -> (61, 0L),
    "d18_tick_maintain" -> (71, 0L),
    "d19_multi_tick" -> (81, 0L),
    "prof9_store_health" -> (16, 0L),
    "s21_index_compaction" -> (18, 0L))

  private def run(op: String): Long =
    graft.SparkEntry.queries(op)(spark, dir).queryExecution.toRdd.count()

  test("tick-family warm calls run no more jobs and compile no more " +
    "classes than their ceilings") {
    val base = StoreFs.base(spark)
    def roots = StoreFs.listNames(spark, base).filter(n =>
      n.startsWith("graft-") && n.endsWith(s"-p${ProcessHandle.current.pid}"))
    val before = roots.toSet
    val counts = try {
      ceilings.foreach { case (op, _) => run(op) }
      ceilings.map { case (op, _) =>
        val rec = Telemetry.capture(spark)(run(op))._2
        op -> (rec.jobs.size, rec.compiles)
      }
    } finally {
      // drop the lifecycle roots made here, so the suite leaves no
      // store behind for this JVM's later suites
      roots.filterNot(before)
        .foreach(n => StoreFs.deleteQuietly(spark, s"$base/$n"))
    }
    counts.foreach { case (op, (jobs, compiles)) =>
      info(s"$op: $jobs jobs, $compiles compiles")
    }
    val over = counts.zip(ceilings).collect {
      case ((op, (j, c)), (_, (maxJ, maxC))) if j > maxJ || c > maxC =>
        s"$op: $j jobs (ceiling $maxJ), $c compiles (ceiling $maxC)"
    }
    assert(over.isEmpty, over.mkString("; "))
  }
}

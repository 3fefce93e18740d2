package graft.core

import graft.SparkSpec

/** A warm query takes its generated code from Spark's codegen class
  * cache: once a fixed op set has run, running it again compiles no
  * generated class. That needs a cache sized to the engine's plan
  * working set (`Sessions.builder`) and one class loader for the tasks
  * of every session, including the micro-batch tasks of a stream whose
  * session is cloned per start (d12, `Streams.withStatePartitions`),
  * and plans whose join strategies do not depend on which AQE stage
  * finishes first (s32's recall joins broadcast by hint). */
class CodegenCacheSpec extends SparkSpec {

  /** The committed sf0.001 tables (run from the repository root). */
  private val dir = "perfbench/data/sf0.001"

  private val ops = Seq("a13_scalar_reduce", "j3_mixed_type_join",
    "e4_daily_pivot", "d12_stream_ingest_gate", "s32_post_event_recall")

  private def run(op: String): Long =
    graft.SparkEntry.queries(op)(spark, dir).queryExecution.toRdd.count()

  test("a warm pass compiles no generated class, micro-batch tasks included") {
    ops.foreach(run)
    val warm = ops.map(op => op -> Telemetry.capture(spark)(run(op))._2)
    val compiles = warm.map { case (op, rec) => op -> rec.compiles }
    assert(compiles.forall(_._2 == 0), compiles)
    // d12's stream ran its micro-batches inside the warm call
    assert(warm.toMap.apply("d12_stream_ingest_gate").batches.nonEmpty)
  }
}

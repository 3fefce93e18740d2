package graft.tools

/** Dev tool: attribute a query's wall time to its Spark JOBS — the
  * measurement step (guide §1) behind picking optimization targets in
  * the multi-action lifecycle queries (tick replays, store rewrites),
  * where one registry entry runs dozens of jobs and the per-query bench
  * number cannot say WHICH action carries the cost. Runs each named
  * query `reps` times (first rep warms codegen/JIT/persisted silver
  * stages), records the LAST rep with [[graft.core.Telemetry]], and
  * prints every job's duration + site (its label, else its call site),
  * sorted descending, and the generated classes the call compiled (a
  * warm call that compiles any missed Spark's codegen class cache).
  *
  * Usage: runMain graft.tools.JobProfile <name>[,name...] [sfDir] [reps]
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.Sessions.get()
    graft.core.SchemaCheck.warn(spark, sfDir)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 until reps).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        println(f"[jobprofile] $name warm rep $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      val (wall, rec) = graft.core.Telemetry.capture(spark) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val (jobs, open) = rec.jobs.partition(_.endMs.nonEmpty)
      if (open.nonEmpty)
        println(s"[jobprofile] WARN: ${open.size} job(s) never reported " +
          "JobEnd — totals below under-report them")
      println(f"\n== $name wall ${wall}%.2fs, ${jobs.size} jobs, " +
        f"job-sum ${jobs.map(_.seconds).sum}%.2fs, compiles=${rec.compiles} ==")
      jobs.sortBy(-_.seconds).take(40).foreach { j =>
        println(f"  [jobprofile] job=${j.id}%-4d ${j.seconds}%6.3fs  ${j.site}")
      }
      // jobs can overlap or leave gaps (driver-side work); group by site
      println(s"-- by callsite --")
      jobs.groupBy(_.site).toSeq.map { case (site, js) =>
        (js.map(_.seconds).sum, js.size, site)
      }.sortBy(-_._1).foreach { case (sum, n, site) =>
        println(f"  [jobprofile] ${sum}%6.3fs n=$n%-3d $site")
      }
    }
    spark.stop()
  }
}

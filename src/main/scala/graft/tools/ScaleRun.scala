package graft.tools

/** Scale-headroom harness: runs the FULL query registry against a
  * GenScale-generated ~sf1 dir, reporting per-query wall time, shuffle
  * read/write bytes, and peak streaming-state rows, as recorded by
  * [[graft.core.Telemetry]] — the measured evidence behind
  * BASELINE.md's "scale posture" claims. An optional third arg
  * restricts to queries whose name starts with the prefix (e.g. `d`
  * for the dedup battery).
  * Usage: runMain graft.tools.ScaleRun [sfDir] [passes] [prefix]
  */
object ScaleRun {

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft-sf1"
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = graft.core.Sessions.get()
    graft.core.SchemaCheck.warn(spark, dir)

    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    // third arg: a name prefix, or a comma-separated exact-name list
    // (the sf10 top-N sweep's shape — round-18 verdict item 3)
    val names =
      if (args.length > 2 && args(2).contains(','))
        args(2).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
          .map { n =>
            require(all.contains(n) || n.contains('~'), s"unknown query $n")
            n
          }
      else if (args.length > 2) all.filter(_.startsWith(args(2)))
      else all
    require(names.nonEmpty, s"no registry query matches prefix ${args(2)}")
    // s5 pre-flight cost model: candidate volume (bucket-join pairs) at
    // the committed P=6 geometry vs the planesFor-tuned one — the
    // fixed-P quadratic risk, measured.
    if (names.contains("s5_knn_join")) {
      import graft.operators.Similarity
      val n = graft.core.Tables.t(spark, dir, "embeddings").count()
      val pT = Similarity.planesFor(n)
      val vC = Similarity.s5CandidateVolume(spark, dir, 6)
      val vT = Similarity.s5CandidateVolume(spark, dir, pT)
      println(s"[scale] s5 candidates: n=$n committedP=6 -> $vC pairs; " +
        s"tuned P=$pT -> $vT pairs")
    }
    // Tuned PRODUCTION twins of the geometry-pinned gated queries: the
    // gated rows run the committed geometry their oracles embed (fixed
    // P / fixed k — quadratic at scale BY CONSTRUCTION), so the sweep
    // additionally measures the data-driven entry points SURVEY's
    // scale posture actually claims (planesFor / kForCorpus). Each
    // twin runs right after its base query so the table carries both.
    val twins: Map[String, Seq[(String, (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame)]] = Map(
      "s5_knn_join" -> Seq(("s5~planesFor",
        graft.operators.Similarity.s5TunedGeometry _)),
      "s8_semdedup" -> Seq(("s8~kForCorpus",
        graft.operators.Similarity.s8TunedK _)))
    val twinByLabel = twins.values.flatten.toMap
    (1 to passes).foreach { pass =>
      names.foreach { name =>
        // a twin label in the comma-list runs just that twin
        val runs =
          if (twinByLabel.contains(name)) Seq(name -> twinByLabel(name))
          else (name, graft.SparkEntry.queries(name)) +:
            twins.getOrElse(name, Nil)
        runs.foreach { case (label, q) =>
          val ((n, sec), rec) = graft.core.Telemetry.capture(spark) {
            val t0 = System.nanoTime()
            val n = q(spark, dir).queryExecution.toRdd.count()
            (n, (System.nanoTime() - t0) / 1e9)
          }
          println(f"[scale] pass=$pass q=$label%-20s ${sec}%7.2fs " +
            f"rows=$n%-8d " +
            f"shufR=${rec.shuffleReadBytes / 1e6}%9.1fMB " +
            f"shufW=${rec.shuffleWriteBytes / 1e6}%9.1fMB " +
            f"stateRows=${rec.peakStateRows}")
        }
      }
    }
    spark.stop()
  }
}

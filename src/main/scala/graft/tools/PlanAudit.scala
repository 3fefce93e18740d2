package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan audit dump: `explain("formatted")` for a curated set of
  * headline queries, written to stdout — the direct evidence behind
  * BASELINE.md's scale-posture claims (pushdown reaching the scan,
  * broadcast on the small side, whole-stage codegen spans, no stray
  * Exchanges). Earlier dumps (`PLANS_r9.md`…`PLANS_r19.md`) live in git
  * history; `plans/r21/` holds the per-change evidence format.
  *
  * A frame that only reads a sink (a replayed stream's verdicts, an
  * upserted table, a memory sink) hides the plan that wrote it, so the
  * dump adds the write's own executed plan, picked from the SQL
  * executions [[graft.core.Telemetry]] recorded during the run.
  *
  * Usage: runMain graft.tools.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {

  /** Headline set: one representative per scale-critical plan shape. */
  val defaults: Seq[String] = Seq(
    "q1_agg",            // partial agg + pruned scan
    "p5_pit_filter",     // predicate pushdown to parquet
    "j1_left_join_agg",  // broadcast small side
    "j10_bucketed_join", // Exchange-free sort-merge on bucketed tables
    "fs_single_pass",    // one-shuffle conditional-aggregate feature store
    "u3_keep_last",      // keyed window dedup, no global sort
    "d3_minhash_lsh",    // banded LSH join, scalars only across Exchange
    "s5_knn_join",       // bucketed candidate join + rerank
    "c3_chunk_corpus",   // curation ∩ chunking composition
    "prof2_numeric_stats", // melt + single keyed ObjectHashAggregate
    "e2_hourly_agg",     // event-time window agg (batch dual of e5)
    "j7_asof",           // union+last-carry as-of join
    "t13_tfidf",         // corpus-side TF never shuffled: broadcast DF join
    "s7_kmeans",         // map-only Lloyd assignment, broadcast centroid row
    "prof6_drift",       // melt -> bounded bin counts -> metadata-scale PSI
    "i4_upsert",         // partition-pruned CDC apply (bench top-5, r10 item 6)
    "e8_stream_join",    // watermark+range-bounded stream-stream join state
    "s8_semdedup",       // cluster-keyed prune join, no corpus cross join
    "d13_stream_cluster_tag", // persisted-index probe + broadcast centroid tag
    "s10_retrieve",      // serving: corpus streams in place, query probes broadcast
    "s11_centroid_refresh", // map-only assigns + k-row update, no corpus shuffle
    "d14_span_surgery",  // map-only span emission off the shingle silver stage
    "m7_quality_histogram", // annotation-artifact scan -> model scoring, no regex
    "s12_pq_ann",        // ADC: codes artifact streamed, M*K distance table broadcast
    "s13_ivfpq_ann",     // coarse-cell restriction + ADC over the combined artifact
    "d15_bloom_decontaminate", // map-side Bloom prescreen, exact confirm on survivors
    "prof7_embedding_drift", // two map-only assigns, k-row occupancy PSI
    "u13_quality_curriculum", // banded two-level rank, bounded offsets broadcast
    "s14_multiprobe_ivfpq", // p-nearest-cell union join over the cluster-keyed artifact
    "s15_index_refresh", // base artifact + map-only batch encode union, probes broadcast
    "s16_hybrid_rrf",    // postings-artifact token join; two top-k legs rank-fused
    "u14_trained_curriculum", // banded rank over the TRAINED score, bounded cross-tab
    "c4_trained_curation", // doc_id-keyed gate joins over persisted score+annotation artifacts
    "s17_bm25",          // raw-postings token join, broadcast corpus stats, integer BM25 sum
    "s18_sparse_refresh", // folded postings union + additive stats merge, same serving join
    "s19_hybrid_bm25",   // dense ANN + BM25 legs fused by RRF over two batch-x-k frames
    "s20_multiprobe_lsh", // hamming-2 probe ball on the s10 serving join, same artifact
    "s21_index_compaction", // serving read over the compacted bucket-partitioned store
    "s22_filtered_retrieve", // metadata pre-filter as a map-side predicate on the cached index
    "prof8_index_health", // one keyed count over the cached index + broadcast one-row aggregate
    "s23_learned_embed", // trained embedder in the swap slot, same serving join shape as s10
    "s24_index_delete",  // tombstone anti-join inside the compaction rewrite; pruned serving read
    "s25_banded_store",  // static qband partition pruning + dynamic bucket pruning on one scan
    "prof9_store_health", // O(buckets) FileSystem listing + keyed count over the store
    "s26_rebucket_rebuild", // planes+1 rebuild served through the same probe join
    "s27_stream_delete", // streamed tombstone arrival -> accumulated fold at compaction
    "s28_learned_hybrid", // trained-dense + BM25 legs fused by RRF, golden-keyed
    "d16_ingest_tick",   // one foreachBatch: verdict + tag + dense/sparse folds; readbacks off refreshed artifacts
    "d17_tick_store",    // tick folds as batch= partitions of a versioned snapshot; readbacks prune on batch
    "d18_tick_maintain", // tick -> delta+tombstone fold version -> rebucket-due readout -> pruned serving
    "d19_multi_tick",    // 3-tick converged store served through the s10 probe join
    "z1_zorder_prune",   // static Morton-cell partition pruning + pushed exact residual
    "c5_curation_funnel", // doc-keyed LEFT-join disposition CASE, O(stages x sources) aggregate
    "prof10_embedding_outliers", // constant-size per-dim partial agg, map-only distances
    "s30_version_diff",  // two doc-level count frames full-outer joined: O(docs), not O(chunks)
    "u15_cluster_split", // broadcast cluster frame LEFT join + map-side hash/CASE
    "s31_ann_recall",    // three serving legs + semi-joins over batch-x-k frames
    "s32_post_event_recall", // served + exact-twin legs off ONE rebuilt store version
    "c6_funnel_drift",   // one disposition pass -> O(sources x stages) bins -> metadata-scale PSI
    "z2_zorder_ranges",  // BIGMIN ranges as BETWEEN partition filters — the 2^20-grid serving form
    "z3_zorder_tick",    // incremental z-fold: tick under persisted bounds, maintenance fold, range-pruned serve
    "t11_bigram_lm",     // prof3-shaped: bounded-pair model agg + broadcast scoring, one per-doc shuffle (r20)
    "x6_compressed_media", // ImageIO JPEG/PNG decode in the injectable mapPartitions shape
  )

  /** The executions a sink-reading frame hides, most specific first: a
    * replayed stream's per-batch probe write
    * (`Streams.replayForeachBatch`), an upsert's staged apply
    * (`Sinks.upsert`), and a stream's micro-batch that read input, which
    * Spark labels `runId = <r>\nbatch = <n>` (a stream's last batch is
    * often a no-data batch that only evicts state, over empty
    * `LocalTableScan`s). The last execution of the first kind found
    * wins. */
  private def hidden(rec: graft.core.Telemetry.Record)
      : Seq[graft.core.Telemetry.Sql => Boolean] = {
    val withInput = rec.batches.filter(_.inputRows > 0)
      .map(b => s"\nrunId = ${b.runId}\nbatch = ${b.batchId}").toSet
    Seq(x => x.description.matches(""".* probe b\d+"""),
      _.description == "upsert stage",
      x => withInput.exists(x.description.endsWith))
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else defaults
    val spark = graft.core.Sessions.get()
    graft.core.SchemaCheck.warn(spark, dir)
    names.foreach { name =>
      // EXECUTE first: AQE only re-optimizes as stages complete, so an
      // un-executed explain shows the initial adaptive plan
      // (isFinalPlan=false) — broadcast decisions and Exchange counts
      // can differ from what actually ran (round-9 ADVICE: 12 of 13
      // committed PLANS_r9 sections were initial plans).
      val (df, rec) = graft.core.Telemetry.capture(spark) {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.queryExecution.toRdd.count()
        df
      }
      println(s"\n## $name\n")
      println("```")
      println(df.queryExecution.explainString(FormattedMode))
      println("```")
      hidden(rec).iterator
        .flatMap(p => rec.sql.filter(p).lastOption)
        .nextOption().foreach { x =>
          val label = x.description.trim.replace('\n', ' ')
          println(s"\n### $name — executed write plan ($label)\n")
          println("```")
          println(x.qe.explainString(FormattedMode))
          println("```")
        }
    }
    spark.stop()
  }
}

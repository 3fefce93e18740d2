package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Registry
import graft.core.Tables.t
import graft.functions.Portable

/** The BM25 sparse stack (round-19 split, see [[SimilarityBase]]):
  * raw postings, token/corpus statistics as additive-counter
  * artifacts, BM25 serving s17, the sparse fold s18, and the
  * dense+BM25 hybrid s19. */
private[operators] trait SimilaritySparse { this: Similarity.type =>

  /** BM25 parameters — Robertson's published defaults (k1 term-
    * frequency saturation, b length normalization). */
  private[operators] val bm25K1 = 1.2
  private[operators] val bm25B = 0.75

  /** RAW sparse postings over a chunk frame — (token, doc_id,
    * chunk_idx, tf, len): per-chunk term frequencies plus the chunk's
    * own token length, NO corpus statistic baked in. This is the
    * refresh-friendly layout (s18): tf and len are pure per-chunk
    * values, so folding a batch in is a pure APPEND, and the corpus
    * statistics BM25 needs (df per token, N, avgdl) live in a separate
    * additive stats frame ([[tokenStats]]) merged by +. Baking a
    * statistic (idf) into the postings rows was tried and deleted:
    * fine for a frozen gate, wrong shape for incremental maintenance,
    * and a redundant corpus-sized build — every sparse leg (s16 TF-IDF
    * included) now realizes its statistic query-side off this ONE
    * layout. */
  private[operators] def rawPostings(chunks: DataFrame): DataFrame =
    chunks
      // one split per chunk: the alias is computed in the Project the
      // Generate sits on, so len and the explode share the array
      // instead of re-running the regex over the corpus twice
      .withColumn("toks", split(col("chunk_text"), " "))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("toks")).as("len"),
        explode(col("toks")).as("token"))
      .groupBy("token", "doc_id", "chunk_idx", "len")
      .agg(count(lit(1)).as("tf"))

  /** ADDITIVE per-token corpus statistics of a postings frame:
    * (token, df). df is a plain count of chunks containing the token,
    * so base + batch MERGE by sum — the property that makes the
    * sparse index incrementally maintainable where centroids (s11)
    * need the weighted-fold rule. */
  private[operators] def tokenStats(post: DataFrame): DataFrame =
    post.groupBy("token").agg(count(lit(1)).as("df"))

  /** ADDITIVE corpus-population counters of a postings frame — ONE row
    * (n_chunks, len_sum), both plain sums over disjoint chunk sets, so
    * base + batch merge by +. avgdl is NOT stored: it is the realized
    * quotient round(len_sum/n_chunks, 6) at query time — storing the
    * quotient would break additivity (the s18 contract). */
  private[operators] def corpusCounts(post: DataFrame): DataFrame =
    post.select(col("doc_id"), col("chunk_idx"), col("len")).distinct()
      .agg(count(lit(1)).as("n_chunks"), sum(col("len")).as("len_sum"))

  /** BM25 top-k serving over (postings, token stats, corpus counters):
    * the QUERY side absorbs every corpus statistic first — the tiny
    * (qid, token) frame joins the vocab-keyed stats (broadcast probe,
    * stats never shuffle), crosses the one-row counters, and realizes
    * idf and avgdl per query token — so each postings shard then
    * needs ONE broadcast join: candidates = matched posting rows only,
    * map-side up to the (qid, doc, chunk) aggregation whose input is
    * Σ posting-list lengths of the query's tokens (the classic sparse-
    * retrieval bound). Term weights are integer MICRO-UNITS
    * (round(term·10⁶) as BIGINT — the s16 idf6 contract: one rounding
    * exposure per (token, chunk), then an EXACT integer sum no
    * partition order or engine can perturb); ranks tie-break
    * (doc_id, chunk_idx), keep [[s10K]].
    * Term: ln((N − df + 0.5)/(df + 0.5) + 1) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·len/avgdl)) — written with the same
    * association in the oracle SQL. */
  private[operators] def bm25TopK(qtok: DataFrame, shards: Seq[DataFrame],
                       stats: DataFrame, counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy("qid")
      .orderBy(desc("bm25_6"), col("doc_id"), col("chunk_idx"))
    val qstats = stats.join(broadcast(qtok), Seq("token"))
      .crossJoin(broadcast(counts))
      .withColumn("avgdl",
        round(col("len_sum").cast("double") / col("n_chunks"), 6))
      .withColumn("idf", log((col("n_chunks") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0)))
      .select(col("qid"), col("token"), col("idf"), col("avgdl"))
    val sat = (col("tf") * lit(bm25K1 + 1)) /
      (col("tf") + lit(bm25K1) * (lit(1.0 - bm25B)
        + lit(bm25B) * col("len") / col("avgdl")))
    // Per-shard candidate aggregation: the postings artifacts are
    // cached off a chunk-keyed build exchange, so grouping by
    // (qid, doc, chunk) — a SUPERSET of that clustering — is
    // exchange-free within a shard, and because shards hold DISJOINT
    // (doc_id, chunk_idx) sets (the s18 fold precondition) the
    // aggregation distributes over their union: aggregate each shard
    // in place, union the scored groups. Only the group-limited
    // per-qid top rows then cross an exchange for the rank window.
    val scored = shards.map { post =>
      post.join(broadcast(qstats), Seq("token"))
        .withColumn("term6",
          round(col("idf") * sat * lit(1e6)).cast("long"))
        .groupBy("qid", "doc_id", "chunk_idx")
        .agg(sum("term6").as("bm25_6"))
    }.reduce(_.unionByName(_))
    scored
      .withColumn("rk", row_number().over(wS))
      .filter(col("rk") <= s10K)
      .select(col("qid"), col("rk"), col("doc_id"), col("chunk_idx"),
        col("bm25_6"))
      .orderBy("qid", "rk")
  }

  /** Raw-postings artifact over the FULL chunk corpus: the inverted
    * index s17 serves from and the rebuild-equivalence target of the
    * s18 fold. */
  private[operators] def rawPostingsFull(s: SparkSession,
                                         dir: String): DataFrame =
    Registry.frame("rawPostingsFull", s, dir) {
      rawPostings(TextAnalysis.queries("c3_chunk_corpus")(s, dir)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text")))
    }

  /** Full-corpus (token, df) stats artifact: the vocab-bounded counter
    * frame is computed ONCE per corpus snapshot; a serving call must
    * never re-shuffle the whole postings artifact for statistics it can
    * read off a counter table. */
  private[operators] def fullTokenStats(s: SparkSession,
                                        dir: String): DataFrame =
    Registry.frame("fullTokenStats", s, dir)(
      tokenStats(rawPostingsFull(s, dir)))

  /** Full-corpus one-row (n_chunks, len_sum) counters, an artifact for
    * the same reason as [[fullTokenStats]] (the distinct over the full
    * postings artifact is a corpus-sized shuffle). */
  private[operators] def fullCorpusCounts(s: SparkSession,
                                          dir: String): DataFrame =
    Registry.frame("fullCorpusCounts", s, dir)(
      corpusCounts(rawPostingsFull(s, dir)))

  /** S17: BM25 SPARSE RANKING — the production-grade sparse leg
    * (Robertson's Okapi BM25 with k1/b defaults) over the raw postings
    * artifact: where s16's TF-IDF leg scores tf·idf linearly, BM25
    * saturates term frequency (k1) and normalizes by chunk length
    * (b·len/avgdl) — the ranking every production sparse retriever
    * actually runs. Same query set as s10/s16 (corpus-prefix queries,
    * doc_id < [[s10QueryDocs]]).
    *
    * Scale shape: the postings artifact is the inverted index and the
    * stats are PERSISTED counter artifacts built once per corpus
    * snapshot ([[fullTokenStats]] vocab-keyed, [[fullCorpusCounts]]
    * one row) — a serving call touches the corpus-sized postings
    * exactly once, via the broadcast query-side join; candidate
    * volume is Σ posting-list lengths of the query's tokens.
    * Determinism: integer micro-unit term weights (exact integer
    * sums), ranks tie-break (doc_id, chunk_idx); the whole output is
    * integer-valued, so the oracle compares exactly. */
  val s17Bm25: Q = (s, dir) =>
    bm25TopK(sparseQueryTokens(s, dir, col("doc_id") < s10QueryDocs),
      Seq(rawPostingsFull(s, dir)), fullTokenStats(s, dir),
      fullCorpusCounts(s, dir))

  /** Base-slice raw postings (the artifact serving holds BEFORE the
    * batch lands) — the s15 base-index pattern on the sparse side;
    * same [[s15Mod]]/[[s15Res]] doc split, so dense and sparse
    * maintenance tell one consistent arriving-batch story. */
  private[operators] def basePostings(s: SparkSession,
                                      dir: String): DataFrame =
    Registry.frame("basePostings", s, dir) {
      rawPostings(TextAnalysis.queries("c3_chunk_corpus")(s, dir)
        .filter(pmod(col("doc_id"), lit(s15Mod)) =!= lit(s15Res))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text")))
    }

  /** Base-side (token, df) stats artifact, kept WITH the base postings
    * (a production index ships its counter table); the refresh merges
    * against this, never re-scanning the base corpus. */
  private[operators] def baseTokenStats(s: SparkSession,
                                        dir: String): DataFrame =
    Registry.frame("baseTokenStats", s, dir)(
      tokenStats(basePostings(s, dir)))

  /** Base-side one-row (n_chunks, len_sum) counters, kept with the
    * base index for the same no-rescan reason. */
  private[operators] def baseCorpusCounts(s: SparkSession,
                                          dir: String): DataFrame =
    Registry.frame("baseCorpusCounts", s, dir)(
      corpusCounts(basePostings(s, dir)))

  /** The arriving batch's postings — the [[s15Res]] doc slice pushed
    * through the SAME chunk + encode chain as the base (encode is
    * corpus-independent: tf and len are per-chunk values). STAGED
    * (persisted) because one refresh consumes the encoded batch three
    * ways — append to postings, token-stats merge, counter merge — and
    * a production refresh encodes the arriving batch ONCE, not once
    * per consumer; O(batch) memory, same contract as s15's slice. */
  private[operators] def batchPostings(s: SparkSession, dir: String): DataFrame =
    Registry.frame("batchPostings", s, dir) {
      rawPostings(TextAnalysis.queries("c3_chunk_corpus")(s, dir)
        .filter(pmod(col("doc_id"), lit(s15Mod)) === lit(s15Res))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text")))
    }

  /** The refreshed sparse index: base postings + the batch's encoded
    * postings — pure APPEND (tf/len are per-chunk, no corpus statistic
    * rides the postings rows). Row-identical to a full rebuild
    * (spec-pinned), so the s18 gate serves through the fold against
    * the full-rebuild oracle SQL. */
  private[graft] def refreshedPostings(s: SparkSession,
                                       dir: String): DataFrame =
    basePostings(s, dir).unionByName(batchPostings(s, dir))

  /** Merged token stats: PERSISTED base counters + the batch's stats
    * summed per token — the O(vocab ∪ batch-vocab) counter merge a
    * production refresh ships instead of re-scanning the base corpus.
    * The merged frame is RE-PERSISTED (the s11 "apply the update and
    * re-persist the artifact" pattern: a refresh WRITES the new
    * counter table once; every query batch then reads it), so the
    * vocab-sized merge shuffle is refresh-time cost, not serving-time.
    * ≡ tokenStats(refreshedPostings) by df additivity over disjoint
    * chunk sets (spec-pinned). */
  private[graft] def refreshedStats(s: SparkSession,
                                    dir: String): DataFrame =
    Registry.frame("refreshedStats", s, dir) {
      baseTokenStats(s, dir)
        .withColumnRenamed("df", "df_base")
        .join(tokenStats(batchPostings(s, dir))
          .withColumnRenamed("df", "df_batch"), Seq("token"),
          "full_outer")
        .select(col("token"),
          (coalesce(col("df_base"), lit(0L))
            + coalesce(col("df_batch"), lit(0L))).as("df"))
    }

  /** Merged corpus counters: base one-row + batch one-row, summed —
    * n_chunks and len_sum are additive over disjoint chunk sets, so
    * avgdl realizes correctly from the merged counters at query time.
    * Re-persisted with [[refreshedStats]] (one row; the cost it saves
    * is the batch-side counter recompute, not the merge itself).
    * ≡ corpusCounts(refreshedPostings) (spec-pinned). */
  private[graft] def refreshedCounts(s: SparkSession,
                                     dir: String): DataFrame =
    Registry.frame("refreshedCounts", s, dir) {
      baseCorpusCounts(s, dir)
        .unionByName(corpusCounts(batchPostings(s, dir)))
        .agg(sum(col("n_chunks")).as("n_chunks"),
          sum(col("len_sum")).as("len_sum"))
    }

  /** S18: INCREMENTAL SPARSE-INDEX REFRESH — s15's operational leg for
    * the sparse side, closing the maintenance triad: centroids fold by
    * the count-weighted rule (s11), the LSH chunk index by pure append
    * (s15), and the sparse index by APPEND + ADDITIVE COUNTER MERGE —
    * postings rows are per-chunk (insert), df/N/lensum are sums over
    * disjoint chunk sets (merge by +), and idf/avgdl are REALIZED AT
    * QUERY TIME from the merged stats, never baked into the artifact.
    * The gated query serves BM25 for the [8,16) query window through
    * the folded artifacts, aggregating candidates PER SHARD (base,
    * batch) on each side's own chunk-keyed cached partitioning — the
    * (doc, chunk)-disjointness of the fold means the aggregation
    * distributes over the union, so the refresh never reintroduces a
    * corpus-sized candidate shuffle. The oracle is the full-corpus
    * BM25 SQL over that window, so the gate verifies fold ≡ rebuild
    * end-to-end (the spec additionally pins artifact row-identity). */
  val s18SparseRefresh: Q = (s, dir) =>
    bm25TopK(sparseQueryTokens(s, dir,
        col("doc_id") >= s10QueryDocs && col("doc_id") < 2 * s10QueryDocs),
      Seq(basePostings(s, dir), batchPostings(s, dir)),
      refreshedStats(s, dir), refreshedCounts(s, dir))

  /** S19: HYBRID DENSE + BM25 RETRIEVAL — the full production
    * retrieval stack: s10's dense ANN serving leg fused by RRF with
    * the BM25 sparse leg (s17), replacing s16's linear TF-IDF leg
    * with the saturated, length-normalized ranking production systems
    * actually deploy. Same query window as s10/s16/s17, same
    * [[rrfFuse]] arithmetic — so the three retrieval gates (s16 s17
    * s19) isolate exactly one variable each: fusion, sparse scoring
    * function, and their composition.
    *
    * Scale shape: both legs are the already-measured serving paths
    * (dense: corpus-side index never reshuffles; sparse: exchange-free
    * candidate aggregation over the postings artifact — see
    * [[s17Bm25]]); fusion joins two batch×k frames. Determinism:
    * both legs' ranks are integer-exact, RRF is 6-dp rounded rank
    * arithmetic the oracle recomputes verbatim. */
  val s19HybridBm25: Q = (s, dir) =>
    rrfFuse(s10DenseLeg(s, dir),
      s17Bm25(s, dir)
        .select(col("qid"), col("doc_id"), col("chunk_idx"),
          col("rk").as("sparse_rk")))

  /** Analytic candidate volume of the s5 self-join at plane count `p`:
    * Σ over (bucket, probe mask) of n_bucket · n_probedBucket — the
    * number of (query, candidate) pairs the bucket join materializes
    * (includes the n self-pairs the qid≠cid filter drops). Computed
    * from the 2^p-row histogram alone (no join over the corpus) — the
    * pre-flight cost model behind [[planesFor]], reported by the scale
    * harness so candidate growth is MEASURED, not asserted. */
  private[graft] def s5CandidateVolume(s: SparkSession, dir: String,
                                       p: Int): Long = {
    val h = t(s, dir, "embeddings")
      .select(bucketOf(col("embedding"), p).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("n"))
    val masks = 0L +: (0 until p).map(i => (1L << i))
    h.select(col("n").as("qn"),
        explode(array(masks.map(m => col("bkt").bitwiseXOR(lit(m))): _*))
          .as("pb"))
      .join(h.select(col("bkt").as("pb"), col("n").as("cn")), Seq("pb"))
      .agg(sum(col("qn") * col("cn")))
      .collect()(0).getLong(0)
  }

  // ---------------------------------------------------------------- oracles

}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Registry
import graft.core.Tables.t
import graft.functions.Portable
import graft.functions.Portable.{h60pSql, P}

/** Deduplication operators over `documents` / `embeddings` — the
  * LLM-pipeline dedup battery (SURVEY.md §7.4): exact content hash,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * All hashing uses Portable.h60 (md5-derived) so every stage is
  * re-computable by the DuckDB oracle — Spark's murmur `hash()` would be
  * faster per-row but unverifiable; at 100 TB swap Portable.h60 for
  * `xxhash64` behind a config if profile shows md5 dominating (it does not
  * at bench scale; the shuffle dominates).
  *
  * Expression staging matters here: higher-order array lambdas are
  * interpreted (no whole-stage codegen), and Catalyst inlines single-use
  * aliases — so tokens / shingles / shingle-hashes are staged via
  * withColumn and referenced MANY times downstream. CollapseProject keeps
  * multiply-referenced non-cheap aliases materialized, so `split` and the
  * md5 pass run once per row instead of once per (row × permutation).
  * Measured on d3: ~25s → sub-second at sf0.001.
  *
  * Scale posture per operator:
  *  - exact dedup: one combiner-friendly shuffle on the content hash.
  *  - MinHash: signatures are a pure map stage; LSH banding shuffles on
  *    (band, bandHash) — candidate volume is controlled by band geometry
  *    (B×R), never O(n²).
  *  - SimHash: pure map to a 32-bit signature + 16-bit halves for banding.
  *  - n-gram Jaccard: prefix-filtered inverted-index join (AllPairs
  *    family) — index bounded to per-doc prefixes, exact verify on the
  *    surviving candidates only.
  *  - embedding cosine: banded hyperplane-LSH candidates + exact rerank;
  *    the O(n²) all-pairs form survives only as the spec-side recall
  *    oracle (d6AllPairsExact).
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  private val wsPat = "\\s+"

  /** Whitespace-normalized lowercase content — the dedup canonical form. */
  private def norm(c: Column): Column =
    regexp_replace(trim(lower(c)), wsPat, " ")

  /** Shingle-hash mixing constants (coprime with prime P). */
  private val (sA, sB, sC) = (48271L, 69621L, 16807L)

  /** Stage tk (tokens), th (mod-P token hashes) and hs (mod-P 3-gram
    * shingle hashes) as materialized columns; downstream expressions
    * reference the staged attribute, not the expression tree.
    *
    * The shingle hash is an ARITHMETIC mix of the three token hashes
    * ((th_i*A + th_i+1*B + th_i+2*C) mod P, each product reduced mod P so
    * nothing exceeds 3e9·1e9 < 2^63) rather than md5 over a concatenated
    * shingle string: one md5 per TOKEN instead of one md5 + string build
    * per SHINGLE — measured ~5x on the signature stage, and identical in
    * the DuckDB oracle. */
  private[graft] def withShingleCols(df: DataFrame): DataFrame =
    df.withColumn("tk", split(trim(lower(col("text"))), wsPat))
      .withColumn("th", Portable.h60Array(col("tk"), modP = true))
      .withColumn("hs",
        when(size(col("th")) >= 3,
          Portable.shingleHashes(col("th"), sA, sB, sC))
          .otherwise(array(Portable.h60(norm(col("text"))) % P)))

  /** The shingle-stage BUILD over any (doc_id, text) frame — the
    * un-persisted computation behind [[shingled]], factored out so
    * planted-corpus specs (d14's boilerplate test) can run the
    * stage-consuming operators on synthetic frames. */
  private[graft] def buildShingleStage(docs: DataFrame): DataFrame = {
    val base = withShingleCols(docs).select(col("doc_id"), col("hs"))
    val ex = base.select(col("doc_id"),
      explode(array_distinct(col("hs"))).as("shh"))
    val docFreq = ex.groupBy("shh").agg(count(lit(1)).as("df"))
    val ranked = ex.join(docFreq, Seq("shh"))
      .select(col("doc_id"),
        (col("df") * lit(1L << 31) + col("shh")).as("rv"))
      .groupBy("doc_id").agg(array_sort(collect_list("rv")).as("sh"))
    base.join(ranked, Seq("doc_id"))
      .withColumn("n", size(col("sh")))
  }

  /** The shingle stage (one md5 pass per token), shared by d2/d3/d5:
    * each of those plans references the shingle set 2-3 times, and
    * without materialization Catalyst re-executes the scan + hash pass
    * per reference. At 100 TB this is a silver table written once per
    * corpus snapshot.
    *
    * Besides raw `hs`, it carries `sh`: the doc's distinct shingles in
    * RAREST-FIRST global order (ascending corpus document-frequency, the
    * canonical AllPairs prefix ordering — prefixes then hit rare
    * shingles, collapsing hot-shingle pair fan-out). Each element is the
    * shingle's (df, hash) PACKED into one long (df·2³¹ + hash; hash < P
    * < 2³¹, so unique per shingle and value-order == (df, hash)-order —
    * valid while df < 2³², i.e. corpora under ~4B docs). The packing
    * keeps a consistent total order AND value-sorted arrays for the
    * zero-allocation merge intersect, with no global rank window. */
  private[operators] def shingled(s: SparkSession, dir: String): DataFrame =
    Registry.frame("shingled", s, dir)(
      buildShingleStage(t(s, dir, "documents")))

  /** Stage the native batched MinHash signature (plans.MinHashSig: one
    * pass over hs for all 12 perms) as `sig`, then cheap extractions —
    * without the staging the sig tree would inline 12 times. */
  private def withSig(df: DataFrame): DataFrame =
    df.withColumn("sig", Portable.minhashSig(col("hs"), 12))

  private def minhashCols: Seq[Column] =
    (0 until 12).map(i => element_at(col("sig"), i + 1).as(s"mh$i"))

  /** D1: exact dedup — group by md5 of normalized content; keeper = min
    * doc_id per group, n_copies counts exact duplicates (sf0.1 testdata
    * plants 8). The canonical 100 TB first pass. */
  val d1Exact: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), md5(norm(col("text"))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")

  /** D2: MinHash signatures — 12 permutations over 3-word shingles, all
    * in-row array math (no shuffle before the presentation sort). */
  val d2MinhashSig: Q = (s, dir) =>
    withSig(shingled(s, dir))
      .select(col("doc_id") +: minhashCols: _*)
      .orderBy("doc_id")

  /** Broadcast `df` only when its materialized size estimate fits
    * comfortably on an executor. The join-back dimensions below (one row
    * per document: id + shingle array) sit on persisted frames, so the
    * stats are ACTUAL cached bytes, not optimizer guesses — at bench
    * scale this picks broadcast (the measured win), at 100 TB the same
    * call degrades gracefully to a shuffle join on the id instead of an
    * executor OOM. 256 MB ≈ the ceiling a 4 GB executor tolerates for a
    * build side after row-format expansion. */
  private val broadcastCeiling = 256L << 20

  private[operators] def maybeBroadcast(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes
          <= broadcastCeiling) broadcast(df)
    else df

  /** Banded signature rows (doc_id, band, bandHash): the 12-value
    * signature split into 4 bands × 3 rows, each band md5-hashed. Band
    * rows carry ONLY scalars — never the shingle sets: the band explode
    * replicates every row ×4 onto join sides, so any payload here
    * multiplies shuffle bytes by ~8× the corpus volume (PlanSpec asserts
    * no array-typed attribute crosses an Exchange). At 100 TB this is
    * the corpus's persisted LSH INDEX, bucketed by (band, bh): its
    * consumers reference it twice per plan (d3's self-join sides, d11's
    * index + probe split), and without persistence each reference
    * re-pays the 12-perm signature + band md5 over the whole corpus.
    * Scalar-only rows make it ~4 rows × 3 longs per doc — far smaller
    * than the shingle stage it derives from. */
  private[graft] def banded(s: SparkSession, dir: String): DataFrame =
    Registry.frame("banded", s, dir) {
      val sig = withSig(shingled(s, dir)).select(col("doc_id") +: minhashCols: _*)
      sig.select(col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            md5(concat_ws(",", col(s"mh${3 * b}"), col(s"mh${3 * b + 1}"),
              col(s"mh${3 * b + 2}"))).as("bh"))): _*)).as("bb"))
        .select(col("doc_id"), col("bb.band"), col("bb.bh"))
    }

  /** D3 candidate generation — self-join the banded index on
    * (band, bandHash). Shared by d3 (which joins the sets back for
    * verify) and d7. */
  private[graft] def d3Candidates(s: SparkSession, dir: String): DataFrame = {
    val b = banded(s, dir)
    b.select(col("band"), col("bh"), col("doc_id").as("a"))
      .join(b.select(col("band"), col("bh"), col("doc_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** D3: MinHash-LSH near-dup pairs — id-only banded candidates
    * ([[d3Candidates]]), then exact-Jaccard verify by joining each side's
    * sorted distinct shingle array back BY ID (d5's join-back shape: the
    * sets travel once per doc, not once per band row). The packed `sh`
    * values are an injective recoding of the distinct shingle hashes, so
    * Jaccard over `sh` equals Jaccard over `shset` — |∩| via the native
    * merge count, |∪| = na + nb − inter, zero per-pair allocation.
    * Exact dups collide on every band; near-dups with prob 1-(1-j³)⁴.
    * Empty at SFs with no near-dups — correct, not a bug. */
  val d3MinhashLsh: Q = (s, dir) => {
    val sets = shingled(s, dir).select(col("doc_id"), col("sh"), col("n"))
    d3Candidates(s, dir)
      .join(maybeBroadcast(sets.select(col("doc_id").as("a"),
        col("sh").as("sa"), col("n").as("na"))), Seq("a"))
      .join(maybeBroadcast(sets.select(col("doc_id").as("b"),
        col("sh").as("sb"), col("n").as("nb"))), Seq("b"))
      .withColumn("inter",
        graft.functions.Portable.sortedIntersectCount(col("sa"), col("sb")))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy("a", "b")
  }

  /** D4: SimHash — 32-bit signature over the staged token-hash array:
    * per bit j, sum ±1 across tokens; bit j = (sum > 0). Output includes
    * the two 16-bit halves (banding keys for a hamming<=1 join by
    * pigeonhole). */
  val d4Simhash: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("tk", split(trim(lower(col("text"))), wsPat))
      .withColumn("th", Portable.h60Array(col("tk"), modP = false))
      .select(col("doc_id"), Portable.simhash32(col("th")).as("simhash"))
      .withColumn("band_lo", col("simhash") % 65536)
      .withColumn("band_hi", shiftright(col("simhash"), 16) % 65536)
      .orderBy("doc_id")
  }

  /** d5 similarity threshold — pairs below τ are pruned (and the prefix
    * length below is derived from it). */
  private[operators] val d5Tau = 0.5

  /** D5: n-gram Jaccard near-dup with PREFIX FILTERING (the AllPairs /
    * PPJoin family): each doc's distinct shingle hashes are put in a
    * global order (ascending hash); for threshold τ, any pair with
    * jaccard >= τ must share an element within the first n-⌈τ·n⌉+1
    * shingles of EACH side — so only those prefixes are indexed and
    * self-joined, plus a size-ratio guard (jaccard <= min/max size), and
    * the full sets are intersected only for surviving candidates.
    *
    * The prefilter is EXACT (candidate set ⊇ every qualifying pair), so
    * the oracle stays the naive inverted-index SQL — two independent
    * implementations of the same semantics. This bounds the round-1 pair
    * explosion on low-vocabulary corpora: the index shrinks to ~(1-τ) of
    * the shingle volume and hot-shingle pair fan-out drops quadratically. */
  val d5NgramJaccard: Q = (s, dir) => {
    val docs = shingled(s, dir)
      .withColumn("pref_len",
        (col("n") - ceil(col("n") * lit(d5Tau)) + 1).cast("int"))
    val inv = docs.select(col("doc_id"), col("n"),
      explode(slice(col("sh"), lit(1), col("pref_len"))).as("shh"))
    val cand = inv.select(col("doc_id").as("a"), col("n").as("na"), col("shh"))
      .join(inv.select(col("doc_id").as("b"), col("n").as("nb"), col("shh")),
        Seq("shh"))
      .filter(col("a") < col("b") &&
        col("nb") >= col("na") * lit(d5Tau) &&
        col("na") >= col("nb") * lit(d5Tau))
      // no distinct here: pairs sharing k prefix shingles appear k times,
      // but measured k-factor is ~1.07 at sf0.1 — verifying duplicates and
      // deduping the few τ-passing rows beats shuffling the full pair set
      .select("a", "b")
    val sa = docs.select(col("doc_id").as("a"), col("sh").as("sa"))
    val sb = docs.select(col("doc_id").as("b"), col("sh").as("sb"))
    // Exact verify with ZERO per-pair allocation: the sets are sorted
    // distinct, so |∩| is a native merge loop (SortedIntersectCount) and
    // |∪| = na + nb − inter — array_intersect/array_union would build two
    // throwaway arrays per candidate pair and dominated this stage.
    // docs is one row per document (id + shingle array): broadcast beats
    // shuffling the (much larger) candidate-pair stream WHEN it fits, so
    // the hint is size-conditional on the persisted frame's actual bytes
    // (maybeBroadcast) — at 100 TB this becomes a shuffle join on the id.
    cand.join(maybeBroadcast(sa), Seq("a")).join(maybeBroadcast(sb), Seq("b"))
      .withColumn("inter",
        graft.functions.Portable.sortedIntersectCount(col("sa"), col("sb")))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= d5Tau)
      .distinct()
      .orderBy(desc("jaccard"), col("a"), col("b"))
      .limit(20)
  }

  // d6 banding geometry: 8 bands × 4 hyperplanes. A pair agreeing on all
  // 4 sign bits of ANY band becomes a candidate: P = 1-(1-p^4)^8 with
  // p = 1-θ/π — ≈0.99 at cosine 0.9, ≈0.79 at the 0.45 threshold floor.
  // Plane indices start at 10 to stay disjoint from Similarity.s2's 0-5.
  private val d6Bands = 8
  private val d6PlanesPerBand = 4
  private val d6PlaneOff = 10
  private val d6Dims = 64

  /** Cosine floor of the d6 near-dup battery. */
  private[operators] val d6Threshold = 0.45

  /** Sign signature of one band under an arbitrary geometry (native
    * FloatVecDot per plane — a literal plane vector, same codegen path
    * as Similarity.bucketOf). */
  private def d6BandSig(emb: Column, band: Int, planesPerBand: Int): Column =
    (0 until planesPerBand).map { j =>
      val plane = typedlit((0 until d6Dims).map(d =>
        Similarity.planeVal(d6PlaneOff + band * planesPerBand + j, d)))
      when(graft.functions.Vectors.dot(emb, plane) > 0, lit(1L << j))
        .otherwise(0L)
    }.reduce(_ + _)

  /** (vec_id, band, sig) band rows under a given geometry. */
  private[operators] def d6Banded(e: DataFrame, bands: Int,
                                  planesPerBand: Int): DataFrame =
    e.select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          d6BandSig(col("embedding"), b, planesPerBand).as("sig"))): _*))
        .as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"),
        col("bs.sig").as("sig"))

  private def d6Embeddings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding")).as("nrm"))
  }

  /** Banded-LSH near-dup pipeline under an arbitrary (bands, planes)
    * geometry — candidate band-join + exact cosine rerank.
    *
    * Candidate-stream staging is size-adaptive (measured at ~sf1, where
    * the candidate stream hits ~10⁸ rows): when the embeddings frame
    * fits an executor, the rerank joins are BROADCAST and the candidate
    * stream never shuffles at all — duplicates from multi-band
    * collisions are reranked redundantly (codegen'd dot, cheap) and
    * deduped only after the τ filter, d5's late-distinct rule. When the
    * corpus outgrows the broadcast ceiling, the candidate set is
    * distincted FIRST so the shuffle joins move each pair once. */
  private[graft] def d6WithGeometry(s: SparkSession, dir: String,
                                    bands: Int, planesPerBand: Int): DataFrame = {
    import graft.functions.Vectors
    val e = d6Embeddings(s, dir)
    val small =
      e.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastCeiling
    val banded = d6Banded(e, bands, planesPerBand)
    val cand0 = banded.select(col("band"), col("sig"), col("vec_id").as("a"))
      .join(banded.select(col("band"), col("sig"), col("vec_id").as("b")),
        Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val cand = if (small) cand0 else cand0.distinct()
    def side(df: DataFrame) = if (small) broadcast(df) else df
    val l = e.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val r = e.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    cand.join(side(l), Seq("a")).join(side(r), Seq("b"))
      .select(col("a"), col("b"),
        (Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("cosine"))
      .filter(col("cosine") >= d6Threshold)
      .distinct()
      .orderBy(desc("cosine"), col("a"), col("b"))
  }

  /** Band-geometry AUTO-TUNER — the production pre-flight for a new
    * corpus (run next to the s3 bucket-skew diagnostic): among candidate
    * geometries whose ANALYTIC recall at the threshold floor clears
    * `minRecall` (P(candidate | cos=τ) = 1-(1-p^r)^B with p = 1-θ/π,
    * the standard hyperplane-LSH collision model), pick the one with the
    * lowest MEASURED candidate-pair volume Σ n·(n-1)/2 over actual
    * (band, sig) bucket sizes — recall floor from analysis, cost from
    * data. The gated d6 stays on the committed default geometry (its
    * DuckDB oracle shares the plane constants); DedupSpec asserts the
    * tuned geometry's measured recall vs d6AllPairsExact is no worse
    * than the default's. */
  private[graft] def d6TuneGeometry(
      s: SparkSession, dir: String,
      candidates: Seq[(Int, Int)] = Seq((4, 6), (6, 5), (8, 4), (12, 3)),
      minRecall: Double = 0.75): (Int, Int) = {
    val pAgree = 1.0 - math.acos(d6Threshold) / math.Pi
    val viable = candidates.filter { case (bands, planes) =>
      1.0 - math.pow(1.0 - math.pow(pAgree, planes), bands) >= minRecall
    }
    require(viable.nonEmpty, s"no candidate geometry reaches $minRecall")
    val e = d6Embeddings(s, dir)
    viable.minBy { case (bands, planes) =>
      // Σ n·(n−1) — 2× the pair count, same argmin
      d6Banded(e, bands, planes)
        .groupBy("band", "sig").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)))
        .head().getLong(0)
    }
  }

  /** D6: embedding-cosine near-dup, candidates from BANDED hyperplane LSH
    * (d3's band-join shape on sign signatures instead of minhashes), then
    * exact cosine rerank >= 0.45 on candidate pairs only. Never O(n²):
    * the join is keyed on (band, signature) — the round-1 all-pairs form
    * survives as [[d6AllPairsExact]], the spec-side recall oracle.
    * The DuckDB oracle mirrors the banding (candidate generation is
    * probabilistic-by-design, so the gate verifies the banded semantics);
    * [[d6TuneGeometry]] is the data-driven geometry pre-flight. */
  val d6EmbeddingCosine: Q = (s, dir) =>
    d6WithGeometry(s, dir, d6Bands, d6PlanesPerBand)

  /** D7: dedup CLUSTERS — the stage after pair generation that every
    * production dedup pipeline needs: connected components over the
    * d3 candidate pairs (exact dups collide on every MinHash band), each
    * doc labeled with its cluster representative (the component's min
    * doc_id) plus the member count.
    *
    * Algorithm: iterative MIN-LABEL PROPAGATION — per round, every node
    * takes the min of its own and its neighbors' labels (one join + one
    * groupBy per round, each label frame persisted). The driver loop is
    * ORCHESTRATION (rounds ≤ graph diameter; dup-cluster diameters are
    * tiny), not data movement — convergence is detected with an
    * aggregate count, never a collect of the labels. This is the
    * standard scale form (GraphFrames CC does the same); the DuckDB
    * oracle computes the same components via a recursive-CTE transitive
    * closure — two genuinely different algorithms, one answer. */
  val d7DedupClusters: Q = (s, dir) => {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = d3MinhashLsh(s, dir).select("a", "b")
    val edges = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .persist(MEMORY_AND_DISK)
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .persist(MEMORY_AND_DISK)
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged && rounds < 50) {
      val next = labels.join(edges, col("node") === col("a"))
        .select(col("b").as("node"), col("label"))
        .union(labels.select(col("node"), col("label")))
        .groupBy("node").agg(min("label").as("label"))
        .persist(MEMORY_AND_DISK)
      val changed = next.join(labels.withColumnRenamed("label", "old"),
        Seq("node")).filter(col("label") =!= col("old")).limit(1).count()
      labels.unpersist(false)
      labels = next
      converged = changed == 0
      rounds += 1
    }
    // A non-converged exit would mean PARTIAL (wrong) labels; never return
    // them. 50 rounds >> any dup-cluster diameter — hitting this means the
    // pair stage produced a pathological chain and needs a look, not a
    // silently-wrong answer the oracle only catches at gated SFs.
    if (!converged)
      throw new IllegalStateException(
        s"d7 connected components did not converge within $rounds rounds")
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
    val out = labels.join(sizes, Seq("label"))
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
        col("n_members"))
      .orderBy("cluster_rep", "doc_id")
    edges.unpersist(false)
    out
  }

  /** Cluster-assignment silver table: d7's output. In production the CC
    * labels are written once per dedup run and read by every downstream
    * keep/drop decision; here d7 (the gated CC computation) and d8 (the
    * keep rule) share it. */
  private def clusters(s: SparkSession, dir: String): DataFrame =
    Registry.frame("clusters", s, dir)(d7DedupClusters(s, dir))

  /** D8: the KEEP RULE — the decision stage after cluster formation that
    * an actual dedup pipeline ships: per cluster, keep the member with
    * the best t2 quality score (ties → lowest doc_id), count the rest as
    * dropped. Composes d7's connected components with TextAnalysis's
    * quality model; one groupBy over cluster-count rows (tiny — cluster
    * cardinality ≪ corpus), argmax via map-side-combinable max_by.
    * Oracle: the d7 recursive-CTE closure joined to the t2 quality SQL
    * with a window argmax — different algorithms end to end. */
  val d8ClusterKeep: Q = (s, dir) => {
    val quality = TextAnalysis.t2Quality(s, dir)
      .select(col("doc_id"), col("quality_score"))
    clusters(s, dir).join(quality, Seq("doc_id"))
      .groupBy("cluster_rep")
      .agg(
        max_by(struct(col("doc_id"), col("quality_score")),
          struct(col("quality_score"), (-col("doc_id")).as("nid"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"), col("k.doc_id").as("keeper"),
        col("k.quality_score").as("keeper_quality"), col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy("cluster_rep")
  }

  /** Benchmark doc_id cutoff binding the GATED [[d9Decontaminate]] query
    * — docs below it stand in for the held-out eval set. The operator
    * itself ([[decontaminate]]) takes the benchmark as a frame: real
    * decontamination runs against an arbitrary eval suite, not a
    * doc_id prefix of the corpus. */
  private[operators] val benchCutoff = 25

  /** D9 core over pre-shingled sides: `train` = (doc_id, hs),
    * `bench` = (bench_id, hs). A training doc is contaminated if it
    * shares a 3-gram shingle with any benchmark doc; output per
    * contaminated doc: distinct shared shingles and distinct benchmark
    * docs hit (the triage columns a decontamination report needs).
    *
    * Scale shape: the benchmark n-gram set is SMALL BY DEFINITION (an
    * eval suite is KBs–MBs, not TBs) — so it broadcasts, the corpus
    * side never shuffles its shingles, and only HIT rows (rare) reach
    * the per-doc aggregation. This is the one place an unconditional
    * broadcast is structurally right, unlike the corpus-sized frames
    * d3/d5 size-condition. */
  private def decontaminateGrams(train: DataFrame,
                                 bench: DataFrame): DataFrame = {
    val benchGrams = bench.select(col("bench_id"),
      explode(array_distinct(col("hs"))).as("g"))
    val trainGrams = train.select(col("doc_id"),
      explode(array_distinct(col("hs"))).as("g"))
    trainGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** BENCHMARK DECONTAMINATION against an ARBITRARY benchmark frame —
    * the production entry point: `corpus` and `bench` are any
    * (doc_id, text) frames (the eval suite usually comes from a
    * different source entirely); both sides are shingled with the
    * shared 3-gram pipeline so a hit here means what a d2/d5 shingle
    * match means. */
  def decontaminate(corpus: DataFrame, bench: DataFrame): DataFrame =
    decontaminateGrams(
      withShingleCols(corpus).select(col("doc_id"), col("hs")),
      withShingleCols(bench)
        .select(col("doc_id").as("bench_id"), col("hs")))

  /** D9 gated query: [[decontaminate]]'s core with the benchmark frame
    * bound to the doc_id-cutoff split of the corpus (the synthetic
    * testdata has no separate eval table), riding the materialized
    * shingle silver stage shared with d2/d3/d5/t5. */
  val d9Decontaminate: Q = (s, dir) => {
    val sh = shingled(s, dir)
    decontaminateGrams(
      sh.filter(col("doc_id") >= benchCutoff)
        .select(col("doc_id"), col("hs")),
      sh.filter(col("doc_id") < benchCutoff)
        .select(col("doc_id").as("bench_id"), col("hs")))
  }

  /** Bloom geometry of [[d15BloomDecontaminate]]: expected distinct
    * benchmark grams (a safe upper bound for the committed
    * [[benchCutoff]]-doc benchmark at any testdata scale) and the bit
    * budget — 8 bits/key ≈ 2% false-positive rate. An FP costs one
    * extra row through the confirm join; it can never change the
    * answer, and Bloom false NEGATIVES are impossible by construction. */
  private[operators] val d15EstGrams = 1L << 16
  private[operators] val d15NumBits = 8L * d15EstGrams

  /** Bloom bits over a gram frame's single `g` column — Spark's OWN
    * runtime-filter aggregate (catalyst BloomFilterAggregate) reused
    * as a user-level operator: executors build partial filters, the
    * driver merges them into ONE bounded byte array (numBits/8 bytes,
    * independent of input row count — this head() is the runtime-
    * filter merge step, not a data collect), and probes take the bits
    * as a literal, exactly like an injected bloom runtime filter. */
  private[operators] def gramBloom(grams: DataFrame, estItems: Long,
                                   numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.graftshim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(graftshim.expression(col("g")),
      Literal(estItems), Literal(numBits)).toAggregateExpression()
    grams.select(graftshim.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** might_contain probe against driver-merged bloom bits (catalyst
    * BloomFilterMightContain over a binary literal — codegen'd, no
    * UDF). */
  private[operators] def bloomMightContain(bits: Array[Byte],
                                           g: Column): Column = {
    import org.apache.spark.sql.graftshim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    graftshim.column(BloomFilterMightContain(
      Literal(bits, org.apache.spark.sql.types.BinaryType),
      graftshim.expression(g)))
  }

  /** D15 core over pre-shingled sides (d9's
    * [[decontaminateGrams]] contract): Bloom-prescreen, then exact
    * confirm. */
  private def bloomDecontaminateGrams(train: DataFrame, bench: DataFrame,
      estItems: Long, numBits: Long): DataFrame = {
    val benchGrams = bench.select(col("bench_id"),
      explode(array_distinct(col("hs"))).as("g"))
    val bits = gramBloom(benchGrams.select("g"), estItems, numBits)
    val trainGrams = train.select(col("doc_id"),
      explode(array_distinct(col("hs"))).as("g"))
    trainGrams
      .filter(bloomMightContain(bits, col("g")))
      .join(maybeBroadcast(benchGrams), Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy("doc_id")
  }

  /** BLOOM-PRESCREENED DECONTAMINATION over arbitrary (doc_id, text)
    * frames — [[decontaminate]]'s semantics for the regime where the
    * benchmark no longer fits a raw broadcast set: d9's unconditional
    * broadcast is structurally right for an eval SUITE (KBs–MBs), but
    * a contamination BLOCKLIST (every past benchmark + held-out eval +
    * customer-optout n-gram, easily 10⁹+ grams) outgrows it. Two
    * phases:
    *   1. PRESCREEN — a Bloom filter over the blocklist grams
    *      (~1 byte/gram vs 8+ for raw longs) probes the corpus grams
    *      MAP-SIDE: the non-hit corpus (the overwhelming majority)
    *      never shuffles at all.
    *   2. CONFIRM — only survivors (true hits + the ~2% FP sliver)
    *      reach the exact gram-keyed join, where Bloom false
    *      positives find no partner and die.
    * The OUTPUT is therefore exactly d9's (same oracle SQL — shared
    * semantics, different physical plan), and the 100 TB cost moves
    * from `corpus-grams × shuffle` to `bloom-build + map-scan +
    * sliver-join`. */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame,
      estItems: Long = d15EstGrams,
      numBits: Long = d15NumBits): DataFrame =
    bloomDecontaminateGrams(
      withShingleCols(corpus).select(col("doc_id"), col("hs")),
      withShingleCols(bench)
        .select(col("doc_id").as("bench_id"), col("hs")),
      estItems, numBits)

  /** D15 gated query: [[bloomDecontaminateGrams]] on d9's exact split
    * of the shingle silver stage — the oracle is d9's (the operators
    * are output-equivalent by design; the spec pins the prescreen's
    * survivor-set invariants). */
  val d15BloomDecontaminate: Q = (s, dir) => {
    val sh = shingled(s, dir)
    bloomDecontaminateGrams(
      sh.filter(col("doc_id") >= benchCutoff)
        .select(col("doc_id"), col("hs")),
      sh.filter(col("doc_id") < benchCutoff)
        .select(col("doc_id").as("bench_id"), col("hs")),
      d15EstGrams, d15NumBits)
  }

  /** Round-1 exact all-pairs form — O(n²) nested loop, NOT in the query
    * registry: it is the spec-side recall oracle for [[d6EmbeddingCosine]]
    * (DedupSpec measures which exact pairs the banding recovers). */
  private[graft] val d6AllPairsExact: Q = (s, dir) => {
    import graft.functions.Vectors
    val e = t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      Vectors.norm(col("embedding")).as("nrm"))
    val a = e.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        (Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy(desc("cosine"), col("a"), col("b"))
  }

  // ---------------------------------------------------------------- oracles

  /** Shared DuckDB CTE mirroring withShingleCols: doc_id, tk, th, hs. */
  private[operators] val shingleCte =
    s"""b AS (
          SELECT doc_id,
            regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm,
            string_split_regex(trim(lower(text)), '\\s+') AS tk
          FROM documents),
        thc AS (
          SELECT doc_id, norm,
            list_transform(tk, x -> ${h60pSql("x")}) AS th
          FROM b),
        hsc AS (
          SELECT doc_id,
            CASE WHEN len(th) >= 3 THEN
              list_transform(range(1, len(th) - 1),
                i -> ((th[i] * $sA) % $P + (th[i+1] * $sB) % $P
                      + (th[i+2] * $sC) % $P) % $P)
            ELSE [${h60pSql("norm")}] END AS hs
          FROM thc)"""

  /** DuckDB twin of [[d6BandSig]]: 4 sign bits over the same literal plane
    * arrays; the plane dot folds left like FloatVecDot/list_sum, so the
    * sign (and hence the candidate set) is bit-identical across engines. */
  private def d6SigSql(band: Int): String =
    (0 until d6PlanesPerBand).map { j =>
      val p = d6PlaneOff + band * d6PlanesPerBand + j
      val arr = (0 until d6Dims).map(d => Similarity.planeVal(p, d))
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, ${d6Dims + 1}), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * ($arr)[i])) > 0 " +
        s"THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private def mhSelSql: String =
    Portable.perms.take(12).zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $P)) AS mh$i"
    }.mkString(",\n            ")

  /** Corpus document-frequency above which a shingle counts as HOT for
    * d10 (df > 1 = the span appears in at least one OTHER document). */
  private[operators] val d10HotDf = 1L

  /** D10: CROSS-DOCUMENT duplicated-span scoring — the RefinedWeb-style
    * boilerplate rule: per document, the fraction of its distinct
    * 3-gram shingles occurring in more than [[d10HotDf]] documents
    * (shared headers/footers/license blocks — the spans a curation
    * pipeline strips or downweights before training). t5 scores
    * WITHIN-doc repetition; d10 scores ACROSS-doc spans.
    *
    * Map-only over the shingle silver stage: `sh` already packs each
    * shingle's corpus df into its high bits (df·2³¹ + hash, the
    * AllPairs rarest-first ordering), so the ratio is one array scan
    * per row — the corpus-wide df aggregation was paid once, in the
    * shared stage, and NO new shuffle happens at any scale. */
  val d10HotSpans: Q = (s, dir) =>
    shingled(s, dir)
      .select(col("doc_id"),
        col("n").cast("long").as("n_distinct_shingles"),
        size(filter(col("sh"), rv => shiftright(rv, 31) > d10HotDf))
          .cast("long").as("n_hot_shingles"))
      .withColumn("hot_ratio",
        col("n_hot_shingles").cast("double") / col("n_distinct_shingles"))
      .orderBy("doc_id")

  /** D14: SPAN-LEVEL DEDUP SURGERY — d10 reports each document's
    * duplicated-span RATIO; this operator EMITS the spans themselves so
    * curation can EXCISE boilerplate instead of dropping whole
    * documents (the surgical variant of the RefinedWeb boilerplate
    * rule; round-11 verdict item 4). Per document: every MAXIMAL run of
    * consecutive HOT shingles (corpus df > [[d10HotDf]], same rule as
    * d10) becomes one span row with token offsets, char offsets, and
    * the span text, ready for `substring`-style removal.
    *
    * Offset contract: `start_tok`/`end_tok` are 0-based inclusive
    * indexes into the dedup-canonical token sequence (trim → lower →
    * split on whitespace — the domain the shingles were built from),
    * and `start_char`/`end_char` ([start, end) exclusive) index the
    * whitespace-NORMALIZED lowercase text (tokens joined by single
    * spaces), i.e. the `norm` form d1 hashes — the canonical form a
    * curation pipeline stores and edits. Raw-text offsets would be
    * ill-defined across runs of whitespace; consumers excising from
    * raw text should re-find `span_text` locally around the
    * normalized offset.
    *
    * Scale shape: map-only over the shingle silver stage joined back
    * to a tokens projection on doc_id (the only shuffle, co-keyed with
    * the persisted stage). The hot-shingle test reads the df PACKED
    * into the stage's `sh` ordering — the corpus-wide df aggregation
    * was paid once, in the shared stage, so at 100 TB this adds one
    * map pass + one doc_id join, never a new corpus-wide aggregation.
    * Run detection is pure array logic (no window, no self-join): a
    * shingle i starts a run iff hot(i) && !hot(i-1), ends one iff
    * hot(i) && !hot(i+1); zipping the two equal-length index lists
    * yields the maximal runs, and a run of shingles [s, e] covers
    * tokens [s, e+2] (3-gram width, clamped for the <3-token
    * whole-doc fallback shingle).
    *
    * DISJOINTNESS: emitted spans never overlap — the contract
    * sequential excision needs. Two hot runs separated by exactly ONE
    * cold shingle would widen into token ranges sharing a token
    * (run [s,e] reaches token e+2; a run starting at shingle e+2
    * starts at token e+2), so single-cold-shingle gaps are BRIDGED
    * before widening (hot'(i) = hot(i) ∨ (hot(i−1) ∧ hot(i+1))):
    * the bridged shingle's tokens were already covered by the union
    * of the two widened runs, so coverage is IDENTICAL and the rows
    * become disjoint. Gaps of ≥2 cold shingles yield adjacent-or-
    * separated spans and need no bridge. Output is bounded by
    * runs-per-doc (≤ shingles/2), emitted only for documents that
    * HAVE hot spans. */
  val d14SpanSurgery: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), split(trim(lower(col("text"))), wsPat).as("tk"))
    spanSurgeryCore(
      shingled(s, dir).select(col("doc_id"), col("hs"), col("sh")), toks)
  }

  /** d14's core over a pre-built shingle stage (doc_id, hs, sh) and a
    * tokens projection (doc_id, tk) — factored so the planted-
    * boilerplate spec can run it on a synthetic corpus via
    * [[buildShingleStage]]. */
  private[graft] def spanSurgeryCore(stage: DataFrame,
                                     toks: DataFrame): DataFrame = {
    stage
      .join(toks, Seq("doc_id"))
      // hot = this doc's distinct shingle hashes with corpus df above
      // the d10 threshold, unpacked from the (df<<31)+hash encoding
      .withColumn("hot",
        transform(filter(col("sh"), rv => shiftright(rv, 31) > d10HotDf),
          rv => rv % lit(1L << 31)))
      // hf(i) = is the i-th positional shingle hot (1-based element_at)
      .withColumn("hf",
        transform(col("hs"), h => array_contains(col("hot"), h)))
      .withColumn("m", size(col("hs")))
      // bridge single-cold-shingle gaps (see DISJOINTNESS above)
      .withColumn("hf2",
        transform(sequence(lit(0), col("m") - 1), i =>
          element_at(col("hf"), i + 1) ||
            (i > 0 && i < col("m") - 1 &&
              element_at(col("hf"), i) && element_at(col("hf"), i + 2))))
      .withColumn("sts",
        filter(sequence(lit(0), col("m") - 1), i =>
          element_at(col("hf2"), i + 1) &&
            (i === 0 || !element_at(col("hf2"), i))))
      .withColumn("ens",
        filter(sequence(lit(0), col("m") - 1), i =>
          element_at(col("hf2"), i + 1) &&
            (i === col("m") - 1 || !element_at(col("hf2"), i + 2))))
      .select(col("doc_id"), col("tk"),
        posexplode(zip_with(col("sts"), col("ens"),
          (a, b) => struct(a.as("st"), b.as("en")))).as(Seq("span_idx", "r")))
      .select(col("doc_id"), col("tk"),
        col("span_idx").cast("int").as("span_idx"),
        col("r.st").cast("int").as("start_tok"),
        least(col("r.en") + 2, size(col("tk")) - 1).cast("int").as("end_tok"))
      .withColumn("n_span_tokens", col("end_tok") - col("start_tok") + 1)
      .withColumn("start_char",
        aggregate(slice(col("tk"), lit(1), col("start_tok")), lit(0L),
          (acc, x) => acc + length(x) + 1))
      .withColumn("span_text",
        array_join(slice(col("tk"), col("start_tok") + 1,
          col("n_span_tokens")), " "))
      .select(col("doc_id"), col("span_idx"), col("start_tok"),
        col("end_tok"), col("n_span_tokens"), col("start_char"),
        (col("start_char") + length(col("span_text"))).as("end_char"),
        col("span_text"))
      .orderBy("doc_id", "span_idx")
  }

  /** Modulus and residue selecting the d11 incoming batch. Membership is
    * a PREDICATE parameter in spirit (an incremental pipeline passes
    * "ingest date = today"); the gated instance uses a modular slice
    * because the testdata plants duplicates at ADJACENT ids — a modular
    * slice puts one side of every planted pair in the batch and the
    * other in the index, so the gate exercises real matches, which an
    * id-range cut would structurally miss. */
  private[operators] val d11Mod = 7L
  private[operators] val d11Res = 3L

  /** The docs of arrival slice `res` of the d11 mod split. */
  private[operators] def inResidue(res: Long): Column =
    pmod(col("doc_id"), lit(d11Mod)) === lit(res)

  /** D11: INCREMENTAL dedup — screen an incoming batch against the
    * corpus LSH index withOUT re-deduping the corpus: band rows of the
    * batch probe the index's (band, bandHash) buckets, survivors verify
    * exact Jaccard by joining both sides' shingle sets back by id, and
    * every batch doc gets an ingest/drop verdict with its match count
    * and best score. This is the OPERATIONAL dedup shape at 100 TB:
    * the banded index is persisted+bucketed once (here: the shared
    * silver stage), and each arriving batch — typically orders of
    * magnitude smaller — broadcasts its band rows against it; batch-
    * internal duplicates are d1/d3's job on the batch alone. */
  val d11IncrementalDedup: Q = (s, dir) => {
    val isBatch = inResidue(d11Res)
    // One-shot form: the arriving set is expressible as a PREDICATE, so
    // both the probe side and the verdict frame stay narrow filters —
    // no id join whose build side scales with the corpus (at 100 TB the
    // full batch's id frame would blow the broadcast ceiling and
    // degrade to shuffling the 4×-corpus banded index on doc_id).
    // orderBy HERE, not in the shared probe body: every streaming
    // consumer re-sorts after its sink union, so a sort inside the
    // probe body would pay a shuffle + global sort per micro-batch for
    // row order the sink write discards.
    d11ProbeFrames(s, dir,
      banded(s, dir).filter(isBatch),
      t(s, dir, "documents").filter(isBatch).select("doc_id"))
      .orderBy("doc_id")
  }

  /** The d11 probe over an ARBITRARY frame of arriving doc ids — d12's
    * per-micro-batch streaming form. A micro-batch id frame is small by
    * construction (one trigger's worth of arrivals), so joining it into
    * the banded index broadcasts; the one-shot d11 uses the predicate
    * overload above instead. */
  private[operators] def d11Probe(s: SparkSession, dir: String,
      newIds: DataFrame): DataFrame =
    d11ProbeFrames(s, dir,
      banded(s, dir).join(maybeBroadcast(newIds), Seq("doc_id")), newIds)

  /** Shared probe body: `probeBand` = banded rows of the arriving docs,
    * `arriving` = their id frame (every arriving doc gets a verdict
    * row). The index side is always the full non-batch corpus. */
  private def d11ProbeFrames(s: SparkSession, dir: String,
      probeBand: DataFrame, arriving: DataFrame): DataFrame = {
    val b = banded(s, dir)
    val idx = b.filter(!inResidue(d11Res))
      .select(col("band"), col("bh"), col("doc_id").as("old_id"))
    val probe = probeBand
      .select(col("band"), col("bh"), col("doc_id").as("new_id"))
    val cand = idx.join(maybeBroadcast(probe), Seq("band", "bh"))
      .select("new_id", "old_id").distinct()
    val sets = shingled(s, dir).select(col("doc_id"), col("sh"), col("n"))
    val matches = cand
      .join(maybeBroadcast(sets.select(col("doc_id").as("new_id"),
        col("sh").as("sa"), col("n").as("na"))), Seq("new_id"))
      .join(maybeBroadcast(sets.select(col("doc_id").as("old_id"),
        col("sh").as("sb"), col("n").as("nb"))), Seq("old_id"))
      .withColumn("inter",
        graft.functions.Portable.sortedIntersectCount(col("sa"), col("sb")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .groupBy("new_id").agg(count(lit(1)).as("n_dups"),
        max("jaccard").as("best_jaccard"))
    arriving
      .join(matches.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"),
        "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        when(col("n_dups").isNull, "ingest").otherwise("drop").as("verdict"))
    // no final orderBy: the one-shot d11 gate sorts at its own seam and
    // every streaming consumer re-sorts after its sink union
  }

  /** D12: STREAMING INGEST GATE — the d11 screen as it actually runs in
    * production: arriving documents come in as a STREAM, and each
    * micro-batch probes the persisted corpus LSH index via
    * `foreachBatch`, appending per-doc ingest/drop verdicts to a sink
    * table. The staged batch docs are split across two files with
    * `maxFilesPerTrigger = 1`, so the AvailableNow replay genuinely
    * exercises MULTIPLE micro-batches — per-doc verdicts are
    * independent, so the union over any batch split equals the one-shot
    * d11 output, which is exactly what the shared oracle asserts.
    *
    * Scale shape: foreachBatch is the canonical stream-side pattern for
    * joins too complex for stream-static row joins (the probe is a
    * three-join + aggregate); state lives in the PERSISTED index, not
    * the stream — zero streaming state rows, and each micro-batch costs
    * O(batch × bucket occupancy), never a corpus rescan. */
  val d12StreamIngestGate: Q = (s, dir) =>
    replayArrivals(s, dir, d11Res, "d12_stream_ingest_gate")(
      mb => d11Probe(s, dir, mb.select("doc_id")))
      .orderBy("doc_id")

  /** D13: CLUSTER-TAGGED STREAMING INGEST — the operational composition
    * of the d12 gate with the PERSISTED k-means centroid artifact
    * (Similarity.kmeansCentroids): each arriving micro-batch gets the
    * d11 dedup verdict AND its semantic-cluster tag in the same
    * foreachBatch pass ([[verdictTagProbe]]), so documents land in the
    * corpus already labeled for mixture weighting / per-domain sampling
    * (the s7→u9 pipeline) without a later corpus-wide assignment job.
    *
    * Scale shape: both probed artifacts are SESSION-PERSISTED state —
    * the LSH band index for the verdict, the k-row centroid frame for
    * the tag — so the stream itself keeps ZERO state rows and each
    * micro-batch costs O(batch × bucket occupancy) + O(batch × k). */
  val d13StreamClusterTag: Q = (s, dir) =>
    replayArrivals(s, dir, d11Res, "d13_stream_cluster_tag")(
      verdictTagProbe(s, dir))
      .orderBy("doc_id")

  /** The arrival replay of every ingest tick (d12, d13, d16 and each
    * tick of [[tickStore]]): stage the docs of arrival slice `res` as a
    * 2-file parquet dir, replay it as an AvailableNow stream with
    * `maxFilesPerTrigger = 1` (genuinely multi-batch), run
    * `foldEach(mb, batchId)` and then `probe` per micro-batch into an
    * idempotent batch=<id> overwrite sink, and return the sink's union.
    * Per-doc probe outputs are batch-split invariant, which is exactly
    * what the one-shot oracles assert. The staging key carries the
    * split's mod and residue, so a changed slice never replays an old
    * staging; the harness adds the pid key, the _SUCCESS completeness
    * judgment, the in-JVM lock and the per-call sink. */
  private def replayArrivals(s: SparkSession, dir: String, res: Long,
      tag: String)(probe: DataFrame => DataFrame,
      foldEach: (DataFrame, Long) => Unit = (_, _) => ()): DataFrame = {
    val fp = graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet")
    val arriving = t(s, dir, "documents").filter(inResidue(res))
      .select("doc_id")
    graft.streaming.Streams.replayForeachBatch(s,
      arriving.repartitionByRange(2, col("doc_id")),
      s"docs-$fp-${d11Mod}m$res", shape = "r2", tag = tag)(probe, foldEach)
  }

  /** The d16 base-slice chunk corpus (non-arriving docs). */
  private def d16BaseChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.queries("c3_chunk_corpus")(s, dir)
      .filter(!inResidue(d11Res))

  /** Base-side (pre-tick) index artifacts of the d16 tick: the dense
    * retrieval index and the raw sparse postings over the NON-arriving
    * doc slice — what a serving deployment holds when the micro-batch
    * lands. The d11 slice (not s15's): the ONE arriving batch feeds
    * verdict, tag, and both folds, so the tick tells one consistent
    * story. Both are LAZY: the gated tick only touches their schema
    * (column projection + the empty-arrival fallback), its read-backs
    * come from the batch-sized delta area, so the base corpus encode
    * must not run on the gated path; the spec's refreshed-index legs
    * are the first real action. */
  private[operators] def d16BaseDense(s: SparkSession,
                                      dir: String): DataFrame =
    Registry.lazyFrame("d16BaseDense", s, dir)(
      Similarity.encodeChunks(d16BaseChunks(s, dir)))

  private[operators] def d16BasePostings(s: SparkSession,
                                         dir: String): DataFrame =
    Registry.lazyFrame("d16BasePostings", s, dir)(
      Similarity.rawPostings(d16BaseChunks(s, dir)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))))

  /** THE per-micro-batch probe of an ingest tick: the d11 dedup verdict
    * plus the semantic-cluster tag, run by d13, d16 and the store ticks.
    * The embedding lookup joins the batch id frame into the embeddings
    * table (broadcast — a trigger's worth of ids), standing in for the
    * embed-on-arrival step a production ingest runs before the tag; the
    * LEFT join keeps the verdict of a doc with no embedding (cluster
    * null). */
  private[operators] def verdictTagProbe(s: SparkSession, dir: String)
                                        (mb: DataFrame): DataFrame = {
    val ids = mb.select("doc_id")
    val v = d11Probe(s, dir, ids)
    val arrivingEmb = t(s, dir, "embeddings")
      .join(maybeBroadcast(ids.select(col("doc_id").as("vec_id"))),
        Seq("vec_id"))
      .select(col("vec_id"), col("embedding"))
    val tagged = Similarity
      .kmeansAssign(arrivingEmb, Similarity.kmeansCentroids(s, dir))
      .select(col("vec_id").as("doc_id"), col("cluster"))
    v.join(tagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_dups"), col("best_jaccard"),
        col("verdict"), col("cluster"))
  }

  /** The fold of one tick's micro-batches into both index sides — the
    * s15 dense chunk index and the s18 sparse postings — for d16 and
    * every [[tickStore]] tick. It returns the replay's `foldEach`; the
    * caller passes only its two writes, `writeDense(batchId, rows)` and
    * `writeSparse(batchId, rows)`, each of which must land one
    * micro-batch in its own idempotent batch=<id> dir (an at-least-once
    * retry rewrites its own dir — the s27 sink rule).
    *
    * A micro-batch is a CONTIGUOUS doc_id range of the arriving slice by
    * construction (range-split staging × one file per trigger), so the
    * chunk restriction is a doc_id BETWEEN + residue PREDICATE that
    * pushes down the narrow c3 chain to the parquet scan; a broadcast-
    * join restriction cannot prune the scan. The batch's chunk frame is
    * persisted for the fold's duration so both sides read one chunk-
    * chain run — batch-sized, and unpersisted before the batch commits.
    * The two writes are independent (different dirs, both pure functions
    * of the chunks), so they run concurrently: the sparse write's tasks
    * back-fill the executors the dense write's tail leaves idle. An
    * empty micro-batch folds nothing. */
  private def batchFold(s: SparkSession, dir: String, res: Long)
      (writeDense: (Long, DataFrame) => Unit,
       writeSparse: (Long, DataFrame) => Unit): (DataFrame, Long) => Unit = {
    val corpus = TextAnalysis.queries("c3_chunk_corpus")(s, dir)
    (mb, batchId) => {
      val bounds = mb.agg(min("doc_id"), max("doc_id")).collect()(0)
      if (!bounds.isNullAt(0)) {
        val chunks = corpus
          .filter(col("doc_id").between(bounds.getLong(0),
            bounds.getLong(1)) && inResidue(res))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try graft.core.Jobs.concurrently {
          writeDense(batchId, Similarity.encodeChunks(chunks))
        } {
          writeSparse(batchId, Similarity.rawPostings(chunks
            .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))))
        } finally chunks.unpersist(false)
      }
    }
  }

  /** The gated output of a single-slice tick (d16, d17): per arriving
    * doc, its verdict+tag row joined to READBACKS of what the tick's
    * folds added — chunks indexed, postings rows, token occurrences —
    * each column nonzero only if its fold actually ran, so one frame
    * gates the whole tick. The readbacks come from the BATCH-SIZED
    * deltas alone, so this is O(batch) and the base artifact is never
    * rescanned per tick (a union-then-filter form would map-scan the
    * whole base). */
  private def tickReadback(verdicts: DataFrame, denseDeltas: DataFrame,
      sparseDeltas: DataFrame): DataFrame = {
    val nChunks = denseDeltas
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val nPost = sparseDeltas
      .groupBy("doc_id").agg(count(lit(1)).as("n_postings"),
        sum("tf").as("n_tokens"))
    verdicts
      .join(nChunks, Seq("doc_id"), "left")
      .join(nPost, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_dups"), col("best_jaccard"),
        col("verdict"), col("cluster"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_postings"), lit(0L)).as("n_postings"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .orderBy("doc_id")
  }

  /** The d16 tick body — returns (gated output, post-tick dense index,
    * post-tick sparse postings) so the spec can pin tick-index ≡
    * one-shot-rebuild equivalence and serve retrieval through the
    * refreshed artifacts. */
  private[operators] def d16Tick(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame,
                                                DataFrame) = {
    val fp = graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet")
    // the delta area is a version of its own per-fp root (the one
    // allocator's {current, previous} retention): an earlier tick's
    // returned frames read their own delta version lazily, and a
    // long-lived session holds at most two encoded-slice copies
    val (deltaDir, verdicts) = graft.core.StoreFs.buildVersion(s,
        graft.core.StoreFs.root(s, s"d16-deltas-$fp")) { v =>
      replayArrivals(s, dir, d11Res, "d16_ingest_tick")(
        verdictTagProbe(s, dir),
        batchFold(s, dir, d11Res)(
          (b, dense) => dense.write.mode("overwrite")
            .parquet(s"$v/dense/batch=$b"),
          (b, sparse) => sparse.write.mode("overwrite")
            .parquet(s"$v/sparse/batch=$b")))
    }
    // post-tick serving state: base artifact + the accumulated fold
    // deltas (what s21's compaction cadence later folds physically).
    // A zero-batch replay (empty arriving slice) folds nothing and
    // writes no delta dir — serve the base artifact alone.
    def deltas(base: DataFrame, sub: String): DataFrame =
      if (graft.core.StoreFs.exists(s, s"$deltaDir/$sub"))
        s.read.parquet(s"$deltaDir/$sub")
          .select(base.columns.toIndexedSeq.map(col): _*)
      else base.limit(0)
    val denseDeltas = deltas(d16BaseDense(s, dir), "dense")
    val sparseDeltas = deltas(d16BasePostings(s, dir), "sparse")
    (tickReadback(verdicts, denseDeltas, sparseDeltas),
      d16BaseDense(s, dir).unionByName(denseDeltas),
      d16BasePostings(s, dir).unionByName(sparseDeltas))
  }

  /** D16: ONE STREAMING INGEST TICK — the arrival path a deployment
    * actually runs PER MICRO-BATCH, composed in ONE foreachBatch: the
    * d11 dedup verdict, the d13 semantic-cluster tag, the s15
    * dense-index fold, and the s18 sparse-postings fold — then serves
    * from the refreshed indexes. Each micro-batch encodes its arriving
    * docs ONCE and lands each fold in an idempotent batch=<id> delta
    * dir next to the base artifact (the production delta-area shape
    * whose physical fold-in is s21's compaction cadence); verdict+tag
    * rows accumulate through the d12 sink. The gated output is
    * [[tickReadback]] over the delta area.
    * Oracle: the composition of the stages' own one-shot duals — the
    * d13 SQL left-joined to relational recomputes of the arriving
    * slice's chunk and posting counts (every stage is batch-split
    * invariant: per-doc verdicts are independent, folds are pure
    * appends over disjoint doc sets). The spec additionally pins tick
    * indexes ≡ one-shot rebuilds row-for-row and serving equality
    * through the refreshed dense index.
    * Scale shape: zero streaming state rows (the probed artifacts are
    * persisted session state; the folds are batch-sized writes);
    * per-tick cost is O(batch × bucket occupancy) for the verdict,
    * O(batch × k) for the tag, and O(batch) encode for the folds. */
  val d16IngestTick: Q = (s, dir) => d16Tick(s, dir)._1

  // ------------------------------------------------------------------ //
  // d17/d18/d19: the ingest tick ON the versioned store lineage
  // ------------------------------------------------------------------ //

  /** Token-hash shard count of a tick store's SPARSE side: postings
    * have no low-cardinality natural partition key (token = vocab-sized,
    * doc = corpus-sized), so the store is sharded on a hash of the token
    * — a content-deterministic split that (a) gives the base snapshot
    * write `tickSparseShards` parallel writer tasks instead of one
    * (writeStore routes each partition value to a single task), and
    * (b) keeps BM25-style per-shard aggregation disjoint if a serving
    * leg ever wants it. At 100 TB this constant scales with the
    * cluster; readers project it away. */
  private[operators] val tickSparseShards = 8

  private def withTsh(post: DataFrame): DataFrame =
    post.withColumn("tsh",
      pmod(xxhash64(col("token")), lit(tickSparseShards.toLong)))

  /** The two sides of a tick store, with their partition layouts and
    * reader projections — one definition for the builder, the folds,
    * the readbacks, and the specs. Layout: `batch` LEADS (base snapshot
    * = batch=-1, each fold = its own batch=<seq> dir), so per-tick
    * readbacks prune to exactly the delta partitions and the
    * maintenance fold's "deltas absorbed" state is visible in the
    * directory tree itself. */
  private[operators] val tickDenseCols = Seq("doc_id", "chunk_idx",
    "source", "quality_score", "chunk_text", "ce", "cn", "bkt")
  private[operators] val tickSparseCols =
    Seq("token", "doc_id", "chunk_idx", "len", "tf")
  private[operators] val tickDensePart = Seq("batch", "bkt")
  private[operators] val tickSparsePart = Seq("batch", "tsh")

  /** Batch-partition ids per tick: tick i's micro-batch b folds into
    * batch = i·span + b. The gated replays stage 2 micro-batches
    * (shape r2); the span leaves production headroom and [[tickStore]]
    * REQUIRES b < span — silent cross-tick overwrite is the one
    * failure an overwrite of the batch dir would not surface. */
  private[operators] val tickBatchSpan = 100L

  /** D17 MACHINERY — ONE VERSIONED TICK STORE: d16's tick routed
    * through [[graft.core.StoreFs.buildVersion]]/[[Similarity.writeStore]]
    * so arrival folds live on the store lineage that compaction,
    * tombstone folds and re-buckets operate on — one crash/retention
    * contract (publish-on-success, {current, previous} vacuum) for the
    * whole production index lifecycle, instead of d16's delta area
    * beside the base artifact.
    *
    * One invocation = one store version holding: the base snapshot of
    * BOTH index sides (dense chunk index under batch=-1/bkt=*, sparse
    * postings under batch=-1/tsh=*), then one [[replayArrivals]] per
    * arrival slice in `arrivalResidues`, each micro-batch folding its
    * dense+sparse encode ([[batchFold]]) into its own batch=<seq> dir of
    * each side, overwritten as a whole (an at-least-once retry rewrites
    * its own dir; partition discovery reads the batch value back from
    * the dir name). `afterTick(i, store)` runs after each slice's
    * replay — the spec's convergence hook (d19 pins refreshed ≡ rebuild
    * after EVERY tick). Returns (per-tick probe unions, store path).
    *
    * Scale shape: base snapshot cost is paid once per version (the s21
    * precedent — the gated entries replay the lifecycle by design);
    * each fold is O(batch) encode + one write of batch-sized
    * partitions; readbacks and convergence checks prune on the leading
    * batch column. Nothing rescans or reshuffles the base. */
  private[operators] def tickStore(s: SparkSession, dir: String,
      tag: String, arrivalResidues: Seq[Long],
      probe: DataFrame => DataFrame,
      afterTick: (Int, String) => Unit = (_, _) => ())
      : (Seq[DataFrame], String) = {
    // the base-artifact registries are keyed to the d11 slice — every
    // tick family arrives on residues of the SAME mod split, with the
    // d11 residue always among them, so the persisted d16 base frames
    // filter down to any base here without re-encoding anything
    require(arrivalResidues.contains(d11Res) &&
      arrivalResidues.distinct == arrivalResidues &&
      arrivalResidues.forall(r => r >= 0 && r < d11Mod),
      s"tick residues must be distinct mod-$d11Mod values incl. $d11Res")
    val notArriving = arrivalResidues.map(r => !inResidue(r)).reduce(_ && _)
    val (version, ticks) = graft.core.StoreFs.buildVersion(s,
        Similarity.storeRoot(s, dir, tag)) { v =>
      val store = Similarity.idxOf(v)
      // independent sides, independent dirs: snapshot them concurrently
      // — the sparse write's shuffle reads back-fill the dense write's
      // task tail
      graft.core.Jobs.concurrently {
        Similarity.writeStore(
          d16BaseDense(s, dir).filter(notArriving)
            .withColumn("batch", lit(-1L)),
          s"$store/dense", tickDensePart)
      } {
        Similarity.writeStore(
          withTsh(d16BasePostings(s, dir).filter(notArriving))
            .withColumn("batch", lit(-1L)),
          s"$store/sparse", tickSparsePart)
      }
      arrivalResidues.zipWithIndex.map { case (res, i) =>
        // one batch dir per (tick, micro-batch): batch ids restart at 0
        // per replay, and tick i's fold must never overwrite tick i-1's
        // dirs. The span guard is load-bearing BECAUSE the write
        // overwrites its dir: an unguarded batchId >= span would land in
        // the NEXT tick's namespace and silently replace its fold
        def seq(batchId: Long): Long = {
          require(batchId >= 0 && batchId < tickBatchSpan,
            s"micro-batch id $batchId outside the per-tick span " +
              s"$tickBatchSpan — widen tickBatchSpan")
          i * tickBatchSpan + batchId
        }
        val out = replayArrivals(s, dir, res, tag)(probe,
          batchFold(s, dir, res)(
            (b, dense) => Similarity.writeStore(dense,
              s"$store/dense/batch=${seq(b)}", tickDensePart.drop(1),
              overwriteDir = true),
            (b, sparse) => Similarity.writeStore(withTsh(sparse),
              s"$store/sparse/batch=${seq(b)}", tickSparsePart.drop(1),
              overwriteDir = true)))
        afterTick(i, store)
        out
      }
    }
    (ticks, Similarity.idxOf(version))
  }

  /** A tick store side as its readers see it: the data columns plus the
    * `batch` partition column (int after dir-name round-trip) for delta
    * pruning; `bkt` recast to long so serving joins stay in one
    * keyspace (the s21 partition-column type note). */
  private[operators] def tickSide(s: SparkSession, store: String,
                                  sub: String): DataFrame = {
    val raw = s.read.parquet(s"$store/$sub")
    val dataCols = if (sub == "dense") tickDenseCols else tickSparseCols
    val projected = raw.select((dataCols :+ "batch").map(col): _*)
    if (sub == "dense")
      projected.withColumn("bkt", col("bkt").cast("long"))
    else projected
  }

  /** D17: THE TICK ON THE VERSIONED STORE — d16's successor entry: the
    * identical ingest tick (same arrival slice, same verdict+tag probe,
    * same fold encodes), with the fold deltas landing as batch=<seq>
    * partitions of a [[graft.core.StoreFs.buildVersion]] snapshot next
    * to the base artifacts instead of d16's delta area. The
    * [[tickReadback]] prunes on the leading batch partition column
    * (batch >= 0 — exactly the fold output, base partitions never
    * read). Oracle: [[d16Sql]] VERBATIM — the store lineage must be
    * invisible to results; DedupSpec additionally pins store state
    * (base + delta partitions, tick ≡ one-shot rebuild on both sides). */
  val d17TickStore: Q = (s, dir) => {
    val (ticks, store) = tickStore(s, dir, "d17_tick_store", Seq(d11Res),
      probe = verdictTagProbe(s, dir))
    tickReadback(ticks.head,
      tickSide(s, store, "dense").filter(col("batch") >= 0),
      tickSide(s, store, "sparse").filter(col("batch") >= 0))
  }

  /** The d18 maintenance pass over a freshly ticked store — split out
    * so the spec can pin store state after each leg via `afterLeg`.
    * Legs, in cadence order: (1) DELTA + TOMBSTONE FOLD — all rows of
    * both sides of the tick store `store`, minus the
    * [[Similarity.s24Tombstones]] delete set (broadcast anti-join,
    * map-side against the store scan inside the rewrite), written in
    * the single batch=-1 base layout through
    * [[graft.sources.Sinks.writePartitioned]] into ONE fresh version
    * of the fold root `storeRoot(dir, s"$tag-fold")` — the published
    * tick version is only read, and the fold version publishes once
    * both sides are written, so a failure anywhere in the fold
    * publishes nothing and leaves both tick sides as they were;
    * (2) REBUCKET-DUE readout — prof8's integer trigger rule over the
    * folded index's n_total, the check that closes the daily loop.
    * Returns the 1-row health frame and the folded store. */
  private[operators] def d18Maintain(s: SparkSession, dir: String,
      tag: String, store: String, afterLeg: String => Unit = _ => ())
      : (DataFrame, String) = {
    val tomb = Similarity.s24Tombstones(s, dir)
    val folded = Similarity.idxOf(graft.core.StoreFs.buildVersion(s,
        Similarity.storeRoot(s, dir, s"$tag-fold")) { v =>
      // one side after the other: afterLeg observes the build between
      // the dense and the sparse write
      Seq("dense", "sparse").foreach { sub =>
        val partCols = if (sub == "dense") tickDensePart else tickSparsePart
        val kept = graft.sources.Sinks
          .antiJoinTombstones(s.read.parquet(s"$store/$sub"), tomb,
            Seq("doc_id"))
          .drop("batch").withColumn("batch", lit(-1L))
        graft.sources.Sinks.writePartitioned(s, kept,
          s"${Similarity.idxOf(v)}/$sub", partCols, "fold")
        afterLeg(sub)
      }
    }._1)
    afterLeg("fold")
    val health = tickSide(s, folded, "dense")
      .agg(count(lit(1)).as("n_total"))
      .withColumn("planes_committed", lit(Similarity.planes))
      .withColumn("planes_recommended",
        expr(Similarity.planesForCaseSql("n_total")).cast("int"))
      .withColumn("rebucket_due",
        (col("planes_recommended") > lit(Similarity.planes)).cast("int"))
    afterLeg("health")
    (health, folded)
  }

  /** D18: TICK-THEN-MAINTAIN — the daily operations loop as ONE gated
    * entry: run [[d17TickStore]]'s tick
    * (same slice, same probe, same folds, own store lineage), then the
    * maintenance cadence over that store version ([[d18Maintain]]:
    * delta+tombstone fold into a fresh fold version, then the
    * rebucket-due readout), then SERVE the s15 query window from the
    * folded store with the health readout riding every row (the one-frame-
    * gates-the-whole-loop rule from d16). Oracle: the composition of
    * the stages' own duals — [[Similarity.s24Sql]] (serving over
    * rebuild-minus-deleted: base ∪ arrivals = corpus, so the ticked,
    * folded store must serve exactly what s24's lifecycle serves)
    * joined to a relational recompute of the folded index's n_total
    * and prof8's integer trigger rule. Scale shape: tick as d17; the
    * fold is the one store rewrite the maintenance cadence budgets
    * (s21/s24's cost class); health is O(metadata); serving is the
    * standard broadcast-probe join. */
  val d18TickMaintain: Q = (s, dir) => {
    val (_, store) = tickStore(s, dir, "d18_tick_maintain", Seq(d11Res),
      probe = verdictTagProbe(s, dir))
    val (health, folded) = d18Maintain(s, dir, "d18_tick_maintain", store)
    val served = Similarity.retrieveTopK(Similarity.s15QueryFrame(s, dir),
      tickSide(s, folded, "dense").drop("batch"),
      Similarity.planes, Similarity.s10K)
    served.crossJoin(broadcast(health))
      .orderBy("qid", "rk")
  }

  /** Arrival slices of the d19 multi-tick replay: three DISJOINT
    * residues of the d11 mod split, folded in three consecutive ticks.
    * Base = the remaining residues, so after the final tick the store
    * holds exactly the full corpus — the property d19's verbatim-s10
    * oracle rides on. */
  private[operators] val d19Residues = Seq(d11Res, 5L, 6L)

  /** D19: MULTI-TICK CONVERGENCE — d16/d17 replay ONE tick; this
    * entry replays THREE over disjoint arrival
    * slices into one store lineage, the compounding test that catches
    * counter-merge drift (each fold must leave the store equal to a
    * one-shot rebuild of everything folded SO FAR, not just the first).
    * The gated output serves the s10 query window from the post-3-tick
    * store; oracle = the s10 serving SQL VERBATIM (base ∪ the three
    * slices = corpus — the d15-reuses-d9 pattern: same oracle,
    * different physical path). The PER-TICK invariant — refreshed ≡
    * one-shot rebuild after EVERY tick, on both sides, plus additive
    * df/len counter-merge — is pinned by DedupSpec through
    * [[tickStore]]'s afterTick hook. Probe = identity (the verdict leg
    * is d16/d17's story; here the folds are under test). */
  val d19MultiTick: Q = (s, dir) => {
    val (_, store) = tickStore(s, dir, "d19_multi_tick", d19Residues,
      probe = identity)
    Similarity.retrieveTopK(Similarity.s10QueryFrame(s, dir),
      tickSide(s, store, "dense").drop("batch"),
      Similarity.planes, Similarity.s10K)
  }

  val queries: Map[String, Q] = Map(
    "d1_exact_dedup" -> d1Exact,
    "d2_minhash_sig" -> d2MinhashSig,
    "d3_minhash_lsh" -> d3MinhashLsh,
    "d4_simhash" -> d4Simhash,
    "d5_ngram_jaccard" -> d5NgramJaccard,
    "d6_embedding_cosine" -> d6EmbeddingCosine,
    // d7/d8 share the persisted cluster silver stage
    "d7_dedup_clusters" -> ((s, d) =>
      clusters(s, d).orderBy("cluster_rep", "doc_id")),
    "d8_cluster_keep" -> d8ClusterKeep,
    "d9_decontaminate" -> d9Decontaminate,
    "d15_bloom_decontaminate" -> d15BloomDecontaminate,
    "d10_hot_spans" -> d10HotSpans,
    "d14_span_surgery" -> d14SpanSurgery,
    "d11_incremental_dedup" -> d11IncrementalDedup,
    "d12_stream_ingest_gate" -> d12StreamIngestGate,
    "d16_ingest_tick" -> d16IngestTick,
    "d17_tick_store" -> d17TickStore,
    "d18_tick_maintain" -> d18TickMaintain,
    "d19_multi_tick" -> d19MultiTick,
    "d13_stream_cluster_tag" -> d13StreamClusterTag,
  )

  /** Shared recursive-CTE connected-components closure over the d3 LSH
    * pairs, ending in `cc(node, cluster_rep)` — the d7/d8 oracle core,
    * also composed by TextAnalysis's u15 split oracle (cluster-keyed
    * split assignment rides the same closure). */
  private[operators] lazy val ccClosureCtes: String =
    s"""pairs AS (SELECT a, b FROM ($d3OracleSql)),
        edges AS (SELECT a, b FROM pairs
                  UNION ALL SELECT b AS a, a AS b FROM pairs),
        nodes AS (SELECT DISTINCT a AS node FROM edges),
        walk(node, reach) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        cc AS (SELECT node, MIN(reach) AS cluster_rep FROM walk GROUP BY 1)"""

  private lazy val d9OracleSql: String =
    s"""WITH $shingleCte,
        bg AS (SELECT DISTINCT doc_id AS bench_id, unnest(hs) AS g
               FROM hsc WHERE doc_id < $benchCutoff),
        tg AS (SELECT DISTINCT doc_id, unnest(hs) AS g
               FROM hsc WHERE doc_id >= $benchCutoff)
        SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_hits,
          CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
        FROM tg JOIN bg USING (g)
        GROUP BY 1 ORDER BY 1"""

  private lazy val d3OracleSql: String =
      s"""WITH $shingleCte,
          sig AS (
            SELECT doc_id, list_distinct(hs) AS shset,
            $mhSelSql
            FROM hsc),
          banded AS (
            SELECT doc_id, shset, u.band,
              CASE u.band
                WHEN 0 THEN md5(mh0 || ',' || mh1 || ',' || mh2)
                WHEN 1 THEN md5(mh3 || ',' || mh4 || ',' || mh5)
                WHEN 2 THEN md5(mh6 || ',' || mh7 || ',' || mh8)
                ELSE md5(mh9 || ',' || mh10 || ',' || mh11) END AS bh
            FROM sig, (SELECT unnest(range(4)) AS band) u),
          cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
              l.shset AS sa, r.shset AS sb
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)
          SELECT a, b,
            CAST(len(list_intersect(sa, sb)) AS DOUBLE)
              / len(list_distinct(list_concat(sa, sb))) AS jaccard
          FROM cand
          WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
              / len(list_distinct(list_concat(sa, sb))) >= 0.8
          ORDER BY a, b"""

  private lazy val d11OracleSql: String =
    s"""WITH $shingleCte,
          sig AS (
            SELECT doc_id, list_distinct(hs) AS shset,
            $mhSelSql
            FROM hsc),
          banded AS (
            SELECT doc_id, shset, u.band,
              CASE u.band
                WHEN 0 THEN md5(mh0 || ',' || mh1 || ',' || mh2)
                WHEN 1 THEN md5(mh3 || ',' || mh4 || ',' || mh5)
                WHEN 2 THEN md5(mh6 || ',' || mh7 || ',' || mh8)
                ELSE md5(mh9 || ',' || mh10 || ',' || mh11) END AS bh
            FROM sig, (SELECT unnest(range(4)) AS band) u),
          cand AS (
            SELECT DISTINCT r.doc_id AS new_id, l.doc_id AS old_id,
              r.shset AS sa, l.shset AS sb
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bh = r.bh
            WHERE l.doc_id % $d11Mod <> $d11Res
              AND r.doc_id % $d11Mod = $d11Res),
          m AS (
            SELECT new_id, CAST(count(*) AS BIGINT) AS n_dups,
              max(jacc) AS best_jaccard
            FROM (
              SELECT new_id, old_id,
                CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa, sb))) AS jacc
              FROM cand)
            WHERE jacc >= 0.8 GROUP BY 1)
          SELECT d.doc_id, COALESCE(m.n_dups, 0) AS n_dups,
            m.best_jaccard,
            CASE WHEN m.new_id IS NULL THEN 'ingest' ELSE 'drop' END
              AS verdict
          FROM documents d LEFT JOIN m ON m.new_id = d.doc_id
          WHERE d.doc_id % $d11Mod = $d11Res
          ORDER BY d.doc_id"""

  /** d13 oracle: the d11 SQL left-joined to the Lloyd chain's final
    * assignment CTE (s7's cluster of each arriving doc's embedding) —
    * also the verdict+tag core of the d16 tick oracle. */
  private lazy val d13Sql: String =
    s"""WITH ${Similarity.s7ChainCtes},
        v AS (SELECT * FROM ($d11OracleSql))
        SELECT v.doc_id, v.n_dups, v.best_jaccard, v.verdict,
          af.cell AS cluster
        FROM v LEFT JOIN af ON af.vec_id = v.doc_id
        ORDER BY v.doc_id""".stripMargin

  /** d16 oracle: the d13 composition plus relational recomputes of the
    * arriving slice's fold readbacks — chunks indexed (the norm-
    * filtered cidx chain, nested because the Lloyd chain also names a
    * `c3` CTE) and posting/token counts (the raw-postings tf chain
    * over the c3 corpus). A doc the curation gate dropped has no
    * chunks: COALESCE 0 on both sides. */
  private lazy val d16Sql: String =
    s"""WITH ${Similarity.s7ChainCtes},
        v AS (SELECT * FROM ($d11OracleSql)),
        dn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
               FROM (WITH ${Similarity.cidxCtes()}
                     SELECT doc_id FROM cidx
                     WHERE doc_id % $d11Mod = $d11Res)
               GROUP BY 1),
        sp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_postings,
                 CAST(sum(tf) AS BIGINT) AS n_tokens
               FROM (WITH c3s AS (
                       SELECT * FROM (${TextAnalysis.c3Sql})),
                     ${Similarity.postingsTfCtes("c3s",
                       s"doc_id % $d11Mod = $d11Res")}
                     SELECT doc_id, tf FROM tf)
               GROUP BY 1)
        SELECT v.doc_id, v.n_dups, v.best_jaccard, v.verdict,
          af.cell AS cluster,
          COALESCE(dn.n_chunks, 0) AS n_chunks,
          COALESCE(sp.n_postings, 0) AS n_postings,
          COALESCE(sp.n_tokens, 0) AS n_tokens
        FROM v LEFT JOIN af ON af.vec_id = v.doc_id
        LEFT JOIN dn ON dn.doc_id = v.doc_id
        LEFT JOIN sp ON sp.doc_id = v.doc_id
        ORDER BY v.doc_id"""

  /** d18 oracle: the composition of the maintenance stages' own
    * duals — [[Similarity.s24Sql]] as the serving
    * leg (the ticked-then-folded store ≡ rebuild-minus-deleted: base ∪
    * arrivals = corpus, and the tombstone fold is the only row-set
    * mutation), joined to a relational recompute of the folded index's
    * row count and prof8's INTEGER re-bucket trigger rule over it
    * ([[Similarity.planesForCaseSql]] emits the same CASE text both
    * engines evaluate). */
  private lazy val d18Sql: String = {
    val kept =
      s"NOT (c3.doc_id % ${Similarity.s24DelMod} = ${Similarity.s24DelRes})"
    s"""WITH srv AS (SELECT * FROM (${Similarity.s24Sql})),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_total
              FROM (WITH ${Similarity.cidxCtes(kept)}
                    SELECT doc_id FROM cidx))
        SELECT srv.*, n.n_total,
          ${Similarity.planes} AS planes_committed,
          CAST(${Similarity.planesForCaseSql("n.n_total")} AS INT)
            AS planes_recommended,
          CAST(${Similarity.planesForCaseSql("n.n_total")} >
            ${Similarity.planes} AS INT) AS rebucket_due
        FROM srv, n ORDER BY qid, rk"""
  }

  lazy val oracle: Map[String, String] = Map(
    // Same shingle CTE; the contamination join is a plain relational
    // join in the oracle (no broadcast semantics to mirror).
    "d9_decontaminate" -> d9OracleSql,
    // d15 is output-equivalent to d9 BY DESIGN (the bloom is a pure
    // prefilter: FPs die in the exact confirm join, FNs are impossible)
    // — same oracle, different physical plan; the prescreen invariants
    // are spec-pinned in DedupSpec.
    "d15_bloom_decontaminate" -> d9OracleSql,
    // Independent plan: recomputes the df join the Spark side reads out
    // of the silver stage's packed ordering.
    "d10_hot_spans" ->
      s"""WITH $shingleCte,
          ex AS (SELECT doc_id, unnest(list_distinct(hs)) AS shh FROM hsc),
          dfreq AS (SELECT shh, CAST(count(*) AS BIGINT) AS df
                    FROM ex GROUP BY 1),
          per AS (
            SELECT e.doc_id,
              CAST(count(*) AS BIGINT) AS n_distinct_shingles,
              CAST(sum(CASE WHEN dfreq.df > $d10HotDf THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot_shingles
            FROM ex e JOIN dfreq USING (shh) GROUP BY 1)
          SELECT doc_id, n_distinct_shingles, n_hot_shingles,
            CAST(n_hot_shingles AS DOUBLE) / n_distinct_shingles AS hot_ratio
          FROM per ORDER BY doc_id""",
    // Independent plan for d14: recomputes the df table (like d10's
    // oracle), builds the hot set per doc as a plain list, and derives
    // the same run starts/ends with list logic. DuckDB list indexing is
    // 1-based like element_at; range(0, m) is the 0-based index domain.
    "d14_span_surgery" ->
      s"""WITH $shingleCte,
          ex AS (SELECT doc_id, unnest(list_distinct(hs)) AS shh FROM hsc),
          dfreq AS (SELECT shh, CAST(count(*) AS BIGINT) AS df
                    FROM ex GROUP BY 1),
          hotl AS (SELECT doc_id, list(shh) AS hl
                   FROM ex JOIN dfreq USING (shh)
                   WHERE df > $d10HotDf GROUP BY 1),
          hx AS (
            SELECT h.doc_id, b.tk, len(h.hs) AS m,
              list_transform(h.hs,
                x -> coalesce(list_contains(hotl.hl, x), false)) AS hf
            FROM hsc h JOIN b USING (doc_id)
            LEFT JOIN hotl ON hotl.doc_id = h.doc_id),
          hx2 AS (
            SELECT doc_id, tk, m,
              list_transform(range(0, m), i ->
                hf[i+1] OR (i > 0 AND i < m-1 AND hf[i] AND hf[i+2]))
                AS hf2
            FROM hx),
          runs AS (
            SELECT doc_id, tk,
              list_filter(range(0, m),
                i -> hf2[i+1] AND (i = 0 OR NOT hf2[i])) AS sts,
              list_filter(range(0, m),
                i -> hf2[i+1] AND (i = m-1 OR NOT hf2[i+2])) AS ens
            FROM hx2),
          sp AS (
            SELECT doc_id, tk,
              unnest(list_transform(range(0, len(sts)),
                k -> {'si': k, 'st': sts[k+1], 'en': ens[k+1]})) AS r
            FROM runs),
          ofs AS (
            SELECT doc_id,
              CAST(r.si AS INT) AS span_idx,
              CAST(r.st AS INT) AS start_tok,
              CAST(least(r.en + 2, len(tk) - 1) AS INT) AS end_tok,
              tk
            FROM sp),
          fin AS (
            SELECT doc_id, span_idx, start_tok, end_tok,
              end_tok - start_tok + 1 AS n_span_tokens,
              CAST(coalesce(list_sum(list_transform(tk[1:start_tok],
                x -> length(x) + 1)), 0) AS BIGINT) AS start_char,
              array_to_string(tk[start_tok+1:end_tok+1], ' ') AS span_text
            FROM ofs)
          SELECT doc_id, span_idx, start_tok, end_tok, n_span_tokens,
            start_char,
            CAST(start_char + length(span_text) AS BIGINT) AS end_char,
            span_text
          FROM fin ORDER BY doc_id, span_idx""",
    "d1_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
         min(doc_id) AS keeper, CAST(count(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper""",
    "d2_minhash_sig" ->
      s"""WITH $shingleCte
          SELECT doc_id,
            $mhSelSql
          FROM hsc ORDER BY doc_id""",
    "d3_minhash_lsh" -> d3OracleSql,
    // Batch-vs-index asymmetric band join + per-batch-doc verdict; the
    // Jaccard verify reuses d3's exact formulation so scores stay
    // hash-identical.
    "d11_incremental_dedup" -> d11OracleSql,
    // d12 is d11's streaming form: per-doc verdicts are independent, so
    // the union over micro-batches equals the one-shot output — same SQL.
    "d12_stream_ingest_gate" -> d11OracleSql,
    // d13 = d12's verdicts + the s7 final-assignment cluster of each
    // arriving doc's embedding (vec_id ≡ doc_id in the synthetic
    // testdata): the one-shot dual is the d11 SQL left-joined to the
    // Lloyd chain's final assignment CTE.
    "d13_stream_cluster_tag" -> d13Sql,
    // d16 composes the stages' own one-shot duals: every stage is
    // batch-split invariant (per-doc verdicts independent, folds pure
    // appends over disjoint doc sets), so the tick's accumulated state
    // equals the one-shot recompute — d13's SQL left-joined to
    // relational chunk/posting counts of the arriving slice.
    "d16_ingest_tick" -> d16Sql,
    // d17 gates on d16's composed dual VERBATIM: the versioned store
    // lineage must be invisible to results
    "d17_tick_store" -> d16Sql,
    "d18_tick_maintain" -> d18Sql,
    // base ∪ the three arrival slices = corpus, so the post-3-tick
    // store must serve exactly the full-corpus serving SQL (the
    // d15-reuses-d9 pattern; per-tick convergence is spec-pinned)
    "d19_multi_tick" -> Similarity.s10Sql,
    // Transitive closure via recursive CTE — a genuinely different
    // algorithm from the Spark side's min-label propagation; both must
    // land on identical components.
    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE $ccClosureCtes,
          sizes AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members
                    FROM cc GROUP BY 1)
          SELECT cc.node AS doc_id, cc.cluster_rep, s.n_members
          FROM cc JOIN sizes s USING (cluster_rep)
          ORDER BY cluster_rep, doc_id""",
    // Same recursive-CTE closure as d7, joined to the t2 quality SQL and
    // argmax'd with a window — vs the Spark side's min-label propagation
    // + map-side max_by.
    "d8_cluster_keep" ->
      s"""WITH RECURSIVE $ccClosureCtes,
          q AS (SELECT doc_id, quality_score
                FROM (${TextAnalysis.oracle("t2_quality")})),
          ranked AS (
            SELECT cc.cluster_rep, cc.node AS doc_id, q.quality_score,
              COUNT(*) OVER (PARTITION BY cc.cluster_rep) AS n_members,
              row_number() OVER (PARTITION BY cc.cluster_rep
                ORDER BY q.quality_score DESC, cc.node ASC) AS rn
            FROM cc JOIN q ON q.doc_id = cc.node)
          SELECT cluster_rep, doc_id AS keeper,
            quality_score AS keeper_quality,
            CAST(n_members AS BIGINT) AS n_members,
            CAST(n_members - 1 AS BIGINT) AS n_dropped
          FROM ranked WHERE rn = 1 ORDER BY cluster_rep""",
    "d4_simhash" ->
      s"""WITH b AS (
            SELECT doc_id,
              list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                x -> ${Portable.h60Sql("x")}) AS th
            FROM documents),
          s AS (
            SELECT doc_id,
              ${(0 until 32).map(j =>
        s"CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END").mkString(" +\n              ")} AS simhash
            FROM b)
          SELECT doc_id, simhash,
            simhash % 65536 AS band_lo,
            (simhash >> 16) % 65536 AS band_hi
          FROM s ORDER BY doc_id""",
    // Naive inverted-index form — INDEPENDENT of the Spark side's prefix
    // filter (which is exact, so both produce the same thresholded set).
    "d5_ngram_jaccard" ->
      s"""WITH $shingleCte,
          ds AS (
            SELECT DISTINCT doc_id, unnest(list_distinct(hs)) AS shh
            FROM hsc),
          counts AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
          pairs AS (
            SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
            FROM ds l JOIN ds r ON l.shh = r.shh AND l.doc_id < r.doc_id
            GROUP BY 1, 2)
          SELECT p.a, p.b,
            CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) AS jaccard
          FROM pairs p
          JOIN counts ca ON p.a = ca.doc_id
          JOIN counts cb ON p.b = cb.doc_id
          WHERE CAST(p.inter AS DOUBLE) / (ca.n + cb.n - p.inter) >= $d5Tau
          ORDER BY jaccard DESC, p.a, p.b LIMIT 20""",
    "d6_embedding_cosine" ->
      s"""WITH e AS (
           SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
           FROM embeddings),
         banded AS (
           SELECT vec_id, u.band,
             CASE u.band
               ${(0 until d6Bands - 1).map(b =>
                   s"WHEN $b THEN (${d6SigSql(b)})").mkString("\n               ")}
               ELSE (${d6SigSql(d6Bands - 1)}) END AS sig
           FROM e, (SELECT unnest(range($d6Bands)) AS band) u),
         cand AS (
           SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
           FROM banded l JOIN banded r
             ON l.band = r.band AND l.sig = r.sig AND l.vec_id < r.vec_id),
         scored AS (
           SELECT c.a, c.b,
             list_sum(list_transform(range(1, ${d6Dims + 1}),
               i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
               / (ea.nrm * eb.nrm) AS cosine
           FROM cand c
           JOIN e ea ON c.a = ea.vec_id
           JOIN e eb ON c.b = eb.vec_id)
         SELECT a, b, cosine FROM scored
         WHERE cosine >= 0.45
         ORDER BY cosine DESC, a, b""",
  )
}

package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables.t

/** Candidate-generation contracts for the bounded dedup operators added in
  * round 2 (the DuckDB oracle already pins end-to-end values; these pin
  * the RELATION between the bounded form and its exact counterpart).
  */
class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("d11 incremental dedup == d3's pairs restricted across the " +
    "batch/index boundary; every batch doc gets a verdict") {
    val isBatch = (id: Long) =>
      id % Dedup.d11Mod == Dedup.d11Res
    // expected matches per batch doc, from the independently-gated d3
    val expect = Dedup.queries("d3_minhash_lsh")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (x, y, _) => isBatch(x) && !isBatch(y) }
      .groupBy(_._1)
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._3).max) }
    val got = Dedup.queries("d11_incremental_dedup")(spark, dir).collect()
    val batchTotal = t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(Dedup.d11Mod)) === Dedup.d11Res)
      .count()
    assert(got.length.toLong === batchTotal) // verdict for EVERY batch doc
    got.foreach { r =>
      val id = r.getLong(0)
      expect.get(id) match {
        case Some((n, best)) =>
          assert(r.getLong(1) === n, s"doc $id n_dups")
          assert(math.abs(r.getDouble(2) - best) < 1e-12, s"doc $id best")
          assert(r.getString(3) === "drop")
        case None =>
          assert(r.getLong(1) === 0L && r.isNullAt(2) &&
            r.getString(3) === "ingest", s"doc $id should ingest: $r")
      }
    }
    // the slice is chosen so planted duplicate pairs straddle it — the
    // gate must exercise real drops, not a vacuous all-ingest frame
    assert(got.exists(_.getString(3) === "drop"), "no drop verdict")
  }

  test("d5 prefix filter is EXACT: equals the naive inverted-index join") {
    // Naive form: full (non-prefix) inverted index, same threshold/verify.
    val docs = Dedup.withShingleCols(t(spark, dir, "documents"))
      .select(col("doc_id"), array_sort(array_distinct(col("hs"))).as("sh"))
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("shh"))
    val cand = inv.select(col("doc_id").as("a"), col("shh"))
      .join(inv.select(col("doc_id").as("b"), col("shh")), Seq("shh"))
      .filter(col("a") < col("b")).select("a", "b").distinct()
    val naive = cand
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sa")), Seq("a"))
      .join(docs.select(col("doc_id").as("b"), col("sh").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("jaccard"))
      .filter(col("jaccard") >= Dedup.d5Tau)
      .orderBy(desc("jaccard"), col("a"), col("b")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    val pref = Dedup.queries("d5_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
    assert(pref.toSeq === naive.toSeq)
  }

  test("d6 banded candidates ⊆ exact all-pairs; recall floor holds") {
    val exact = Dedup.d6AllPairsExact(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.queries("d6_embedding_cosine")(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact),
      s"banded produced non-exact pairs: ${banded -- exact}")
    // This fixture's pairs are all WEAK (cosine 0.45-0.48, the worst case
    // for sign-LSH: P[candidate] ≈ 1-(1-p⁴)⁸ ≈ 0.79 there, → ~0.99 at
    // cosine 0.9). Deterministic planes + fixed data ⇒ fixed recall;
    // assert a conservative floor so plane/banding regressions surface.
    val recall = if (exact.isEmpty) 1.0
      else banded.size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall (${banded.size}/${exact.size})")
  }

  test("d6 geometry auto-tune: data-driven pick, recall >= default geometry") {
    val (bands, planes) = Dedup.d6TuneGeometry(spark, dir)
    // analytic recall floor must hold for the pick
    val pAgree = 1.0 - math.acos(0.45) / math.Pi
    val analytic = 1.0 - math.pow(1.0 - math.pow(pAgree, planes), bands)
    assert(analytic >= 0.75, s"tuner picked ($bands,$planes): $analytic")
    val exact = Dedup.d6AllPairsExact(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.subsetOf(exact), s"non-exact pairs: ${got -- exact}")
      if (exact.isEmpty) 1.0 else got.size.toDouble / exact.size
    }
    val tuned = recallOf(Dedup.d6WithGeometry(spark, dir, bands, planes))
    val default = recallOf(Dedup.queries("d6_embedding_cosine")(spark, dir))
    assert(tuned >= default,
      s"tuned ($bands,$planes) recall $tuned < default recall $default")
  }

  test("d9 decontaminate takes an arbitrary benchmark frame: planted " +
    "3-gram overlap detected, clean docs pass, counts exact") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely unrelated training text with no overlap at all"),
      (102L, "quick brown fox appears here too but nothing else matches"),
    ).toDF("doc_id", "text")
    // bench doc 7 shares the 3-grams of "quick brown fox" with 100/102;
    // bench doc 8 shares nothing
    val bench = Seq(
      (7L, "watch the quick brown fox run"),
      (8L, "zero common trigrams in this sentence whatsoever"),
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 100 shares "the quick brown"+"quick brown fox"; 102 "quick brown fox"
    assert(got.map(_._1).toSeq === Seq(100L, 102L))
    val byId = got.map(g => g._1 -> g).toMap
    assert(byId(100L) === ((100L, 2L, 1L)))
    assert(byId(102L) === ((102L, 1L, 1L)))
  }

  test("d15 bloom decontaminate: output ≡ d9 exactly; prescreen keeps " +
    "every true hit (no false negatives) and actually prunes") {
    import spark.implicits._
    // output equivalence on the gated split — same rows, same counts
    val d9 = graft.SparkEntry.queries("d9_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val d15 = graft.SparkEntry
      .queries("d15_bloom_decontaminate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(d15.toSeq === d9.toSeq)
    // prescreen invariants, measured on the planted d9 fixture
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "completely unrelated training text with no overlap at all"),
      (102L, "quick brown fox appears here too but nothing else matches"),
    ).toDF("doc_id", "text")
    val bench = Seq(
      (7L, "watch the quick brown fox run"),
      (8L, "zero common trigrams in this sentence whatsoever"),
    ).toDF("doc_id", "text")
    val wantExact = Dedup.decontaminate(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val gotBloom = Dedup.bloomDecontaminate(corpus, bench).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotBloom === wantExact)
    // no false negatives: every gram the exact join matches survives the
    // bloom probe; and the probe prunes the non-matching majority
    import org.apache.spark.sql.functions.{array_distinct, col, explode}
    val benchGrams = Dedup.withShingleCols(bench)
      .select(explode(array_distinct(col("hs"))).as("g"))
    val bits = Dedup.gramBloom(benchGrams,
      Dedup.d15EstGrams, Dedup.d15NumBits)
    val trainGrams = Dedup.withShingleCols(corpus)
      .select(col("doc_id"), explode(array_distinct(col("hs"))).as("g"))
    val total = trainGrams.count()
    val survivors = trainGrams
      .filter(Dedup.bloomMightContain(bits, col("g"))).count()
    val trueHits = trainGrams
      .join(benchGrams.distinct(), Seq("g")).count()
    info(s"grams: total=$total survivors=$survivors trueHits=$trueHits")
    assert(survivors >= trueHits, "bloom dropped a true hit")
    assert(survivors < total, "prescreen pruned nothing")
  }

  test("d10 hot spans: duplicated docs score 1.0, unique docs 0.0, " +
    "partial overlap in between") {
    import spark.implicits._
    val dir = tmpDir("d10-planted")
    // A and B are identical (every shingle df=2 > 1 -> ratio 1.0);
    // C is fully unique (ratio 0.0); D shares exactly its first 3-gram
    // with A/B (1 hot of 3 distinct shingles)
    Seq(
      (0L, "alpha beta gamma delta", "en", "srcX", 22),
      (1L, "alpha beta gamma delta", "en", "srcX", 22),
      (2L, "epsilon zeta eta theta", "en", "srcX", 22),
      (3L, "alpha beta gamma iota kappa", "en", "srcX", 27),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val raw = Dedup.queries("d10_hot_spans")(spark, dir).collect()
    info(raw.mkString("; "))
    val got = raw
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got(0L) === ((2L, 2L, 1.0)))
    assert(got(1L) === ((2L, 2L, 1.0)))
    assert(got(2L) === ((2L, 0L, 0.0)))
    assert(got(3L) === ((3L, 1L, 1.0 / 3)))
  }

  test("d14 span surgery: planted boilerplate emitted as exact token/char " +
    "spans; two blocks -> two spans; clean docs emit nothing") {
    import spark.implicits._
    // 200/201 share one mid-document boilerplate block with unique
    // surroundings (boundary-straddling shingles are unique, so the
    // emitted span must be EXACTLY the shared block); 203/204 share two
    // disjoint blocks (multi-span per doc); 202 shares nothing.
    val docs = Seq(
      (200L, "alpha beta gamma this footer text is shared boilerplate " +
        "everywhere delta epsilon"),
      (201L, "one two three this footer text is shared boilerplate " +
        "everywhere four five six"),
      (202L, "totally unique content without any matching parts whatsoever"),
      (203L, "common start sequence here aaa bbb ccc common ending " +
        "sequence here"),
      (204L, "common start sequence here xxx yyy zzz common ending " +
        "sequence here"),
      // 205: hot shingles 0 ("pre amble one", via 206) and 3 ("two
      // post lude", via 207) with TWO cold shingles between — no
      // bridge, two ADJACENT disjoint spans (tokens 0-2 and 3-5)
      (205L, "pre amble one two post lude"),
      (206L, "pre amble one alpha1 beta1"),
      (207L, "gamma1 delta1 two post lude"),
      // 208: hot shingles 0 ("aa bb cc", via 209) and 2-4 ("cc dd ee"
      // onward, via 210) with exactly ONE cold shingle ("bb cc dd")
      // between — un-bridged the widened spans [0,2] and [2,6] would
      // OVERLAP on token 2; the bridge must emit ONE span 0-6
      (208L, "aa bb cc dd ee ff gg"),
      (209L, "aa bb cc qq1"),
      (210L, "rr1 cc dd ee ff gg"),
    ).toDF("doc_id", "text")
    val stage = Dedup.buildShingleStage(docs)
    val toks = docs.select(col("doc_id"),
      split(trim(lower(col("text"))), "\\s+").as("tk"))
    val got = Dedup.spanSurgeryCore(stage, toks).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getLong(6), r.getString(7)))
    val boiler = "this footer text is shared boilerplate everywhere"
    assert(got.filter(_._1 == 202L).isEmpty, "clean doc must emit no spans")
    assert(got.filter(_._1 == 200L).toSeq ===
      Seq((200L, 0, 3, 9, 7, 17L, 66L, boiler)))
    assert(got.filter(_._1 == 201L).toSeq ===
      Seq((201L, 0, 3, 9, 7, 14L, 63L, boiler)))
    for (id <- Seq(203L, 204L)) {
      val sp = got.filter(_._1 == id).sortBy(_._2)
      assert(sp.map(x => (x._2, x._3, x._4, x._8)).toSeq === Seq(
        (0, 0, 3, "common start sequence here"),
        (1, 7, 10, "common ending sequence here")), s"doc $id spans")
    }
    // gap-2: adjacent but DISJOINT spans, no bridge
    assert(got.filter(_._1 == 205L).sortBy(_._2)
      .map(x => (x._3, x._4, x._8)).toSeq === Seq(
        (0, 2, "pre amble one"), (3, 5, "two post lude")), "doc 205")
    // gap-1: bridged into ONE span covering the union
    assert(got.filter(_._1 == 208L)
      .map(x => (x._3, x._4, x._8)).toSeq ===
      Seq((0, 6, "aa bb cc dd ee ff gg")), "doc 208 bridge")
    // the disjointness CONTRACT itself: within every doc, spans are
    // non-overlapping in both token and char space, in order
    got.groupBy(_._1).foreach { case (id, sp) =>
      sp.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 < b._3, s"doc $id token overlap: $a / $b")
          assert(a._7 <= b._6, s"doc $id char overlap: $a / $b")
        case _ => ()
      }
    }
    // the documented offset contract: [start_char, end_char) indexes the
    // ws-normalized lowercase text and round-trips to span_text
    val normed = docs.select(col("doc_id"),
      regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("nrm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, _, _, _, _, sc, ec, txt) =>
      assert(normed(id).substring(sc.toInt, ec.toInt) === txt,
        s"doc $id char-offset round-trip")
    }
  }

  test("d12 streaming ingest gate: union over micro-batches equals the " +
    "one-shot d11 output; replay is multi-batch by construction") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dups"),
          Option(r.getAs[java.lang.Double]("best_jaccard"))
            .map(_.doubleValue),
          r.getAs[String]("verdict"))).sortBy(_._1)
    val streamed = rows("d12_stream_ingest_gate")
    val oneShot = rows("d11_incremental_dedup")
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq)
    // the staged stream dir holds 2 data files and the reader runs
    // maxFilesPerTrigger=1, so the AvailableNow replay necessarily ran
    // >= 2 micro-batches — the per-batch independence the operator
    // documents is genuinely exercised, not a single-batch degenerate
    val fp = graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet")
    val stagedDir = new java.io.File(sys.props("java.io.tmpdir") +
      s"/graft-stream-docs-$fp-${Dedup.d11Mod}m${Dedup.d11Res}-r2" +
      s"-p${ProcessHandle.current.pid}")
    val staged = stagedDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(staged === 2, s"expected 2 staged stream files, got $staged")
    assert(new java.io.File(stagedDir, "_SUCCESS").exists(),
      "staging completeness marker missing")
  }

  test("d12 sink isolation: two CONCURRENT streaming-gate runs both " +
    "produce the exact one-shot output (per-call sink dirs, no clobber)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_dups"),
        Option(r.getAs[java.lang.Double]("best_jaccard"))
          .map(_.doubleValue),
        r.getAs[String]("verdict"))).toSeq.sortBy(_._1)
    val expected = rows(
      graft.SparkEntry.queries("d11_incremental_dedup")(spark, dir))
    val runs = Seq.fill(2)(Future(rows(
      graft.SparkEntry.queries("d12_stream_ingest_gate")(spark, dir))))
    val results = Await.result(Future.sequence(runs), 10.minutes)
    results.foreach(got => assert(got === expected))
  }

  test("replay sinks are bounded: sequential d12 calls share one sink " +
    "root that keeps {current, previous} versions") {
    (1 to 3).foreach(_ =>
      graft.SparkEntry.queries("d12_stream_ingest_gate")(spark, dir)
        .collect())
    val pid = ProcessHandle.current.pid
    // only this table's roots: a suite that ran d12 on another dir
    // earlier in this JVM left a root under its own fingerprint
    val fp = graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet")
    val roots = new java.io.File(localPath(graft.core.StoreFs.base(spark)))
      .listFiles().filter { f =>
        val n = f.getName
        n.startsWith(s"graft-d12_stream_ingest_gate-sink-docs-$fp-") &&
          (n.endsWith(s"-p$pid") || n.contains(s"-p$pid-c"))
      }
    assert(roots.length === 1,
      s"one sink root per (tag, staging key): ${roots.map(_.getName).toSeq}")
    val versions = roots.head.listFiles().map(_.getName)
      .filter(_.matches("v\\d+"))
    assert(versions.length === 2, s"sink versions kept: ${versions.toSeq}")
  }

  test("d13 cluster tag: verdict columns equal d12's; cluster equals the " +
    "s7 assignment of the arriving doc's embedding; no verdict row lost") {
    val d13 = graft.SparkEntry.queries("d13_stream_cluster_tag")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dups"),
          Option(r.getAs[java.lang.Double]("best_jaccard"))
            .map(_.doubleValue),
          r.getAs[String]("verdict"),
          Option(r.get(4)).map(_.asInstanceOf[Int]))).toMap
    val d11 = graft.SparkEntry.queries("d11_incremental_dedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dups"),
          Option(r.getAs[java.lang.Double]("best_jaccard"))
            .map(_.doubleValue),
          r.getAs[String]("verdict"))).toMap
    val clusters = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Int]("cluster")).toMap
    assert(d13.keySet === d11.keySet)
    d13.foreach { case (id, (n, bj, v, cl)) =>
      assert((n, bj, v) === d11(id), s"doc $id verdict drifted from d11")
      // vec_id ≡ doc_id range in the synthetic testdata: the tag must be
      // present and equal the corpus-wide s7 assignment
      assert(cl === clusters.get(id).map(identity),
        s"doc $id cluster $cl vs s7 ${clusters.get(id)}")
    }
  }

  test("d16 ingest tick: the tick's folded indexes are row-identical " +
    "to one-shot rebuilds (base ∪ arrivals = full corpus on both the " +
    "dense and sparse side); verdict+tag ≡ d13; serving through the " +
    "tick's dense index ≡ the s10 gate") {
    val (out, denseRefreshed, sparseRefreshed) = Dedup.d16Tick(spark, dir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // verdict+tag columns ≡ d13's gated output, row-for-row
    val vt = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_dups"),
        Option(r.getAs[java.lang.Double]("best_jaccard"))
          .map(_.doubleValue),
        r.getAs[String]("verdict"),
        Option(r.get(4)).map(_.asInstanceOf[Int]))).toMap
    val d13 = graft.SparkEntry.queries("d13_stream_cluster_tag")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dups"),
          Option(r.getAs[java.lang.Double]("best_jaccard"))
            .map(_.doubleValue),
          r.getAs[String]("verdict"),
          Option(r.get(4)).map(_.asInstanceOf[Int]))).toMap
    assert(vt === d13, "tick verdict+tag drifted from d13")
    // dense fold ≡ rebuild: the d11 base slice ∪ streamed arrivals is
    // the whole corpus, so the tick's dense index must equal the
    // full-corpus retrieval index row-for-row
    def denseKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("chunk_idx"), col("bkt"), col("cn"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).sorted.toSeq
    assert(denseKeys(denseRefreshed)
      === denseKeys(Similarity.retrievalIndex(spark, dir)),
      "tick dense index diverged from a full rebuild")
    // sparse fold ≡ rebuild on the postings artifact
    def postKeys(df: org.apache.spark.sql.DataFrame) =
      df.select(col("token"), col("doc_id"), col("chunk_idx"), col("tf"),
        col("len")).collect().map(r => (r.getString(0), r.getLong(1),
        r.getInt(2), r.getLong(3), r.getInt(4))).sorted.toSeq
    assert(postKeys(sparseRefreshed)
      === postKeys(Similarity.rawPostingsFull(spark, dir)),
      "tick sparse postings diverged from a full rebuild")
    // serving the refreshed index: the s10 query window through the
    // tick's dense artifact equals the s10 gate's own output
    val served = Similarity.retrieveTopK(
      Similarity.s10QueryFrame(spark, dir), denseRefreshed,
      Similarity.planes, 5).collect().map(_.toSeq).toSeq
    val s10 = graft.SparkEntry.queries("s10_retrieve")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served === s10,
      "serving through the tick's refreshed index diverged from s10")
  }

  // ---------------------------------------------------------------- //
  // d17/d18/d19: the tick on the versioned store lineage
  // ---------------------------------------------------------------- //

  /** Canonical row keys of a dense index frame (store reads carry the
    * batch partition column; comparisons project it away). */
  private def denseSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), col("chunk_idx"), col("bkt").cast("long"),
      col("cn")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq

  private def sparseSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("token"), col("doc_id"), col("chunk_idx"), col("tf"),
      col("len")).collect().map(r => (r.getString(0), r.getLong(1),
      r.getInt(2), r.getLong(3), r.getInt(4))).sorted.toSeq

  private def batchDirs(store: String, sub: String): Seq[Long] =
    new java.io.File(localPath(s"$store/$sub")).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).sorted.toSeq

  test("d17 tick store: fold deltas land as batch=<seq> partitions of " +
    "ONE versioned snapshot next to the base artifacts (published via " +
    "the lineage resolver); store ≡ one-shot rebuilds on both sides; " +
    "the gated output is row-identical to d16 — the store lineage is " +
    "invisible to results") {
    val (ticks, store) = Dedup.tickStore(spark, dir, "d17_tick_store",
      Seq(Dedup.d11Res),
      probe = Dedup.verdictTagProbe(spark, dir))
    assert(ticks.size === 1)
    assert(Similarity.idxStore(spark, dir, "d17_tick_store") === store,
      "built version was not the published one")
    // layout: base snapshot at batch=-1, one delta partition per
    // micro-batch (2-file staging → 2 batches), on BOTH sides
    assert(batchDirs(store, "dense") === Seq(-1L, 0L, 1L),
      s"dense layout: ${batchDirs(store, "dense")}")
    assert(batchDirs(store, "sparse") === Seq(-1L, 0L, 1L),
      s"sparse layout: ${batchDirs(store, "sparse")}")
    // store ≡ one-shot rebuilds (base ∪ arrivals = full corpus)
    assert(denseSet(Dedup.tickSide(spark, store, "dense"))
      === denseSet(Similarity.retrievalIndex(spark, dir)),
      "tick-store dense side diverged from a full rebuild")
    assert(sparseSet(Dedup.tickSide(spark, store, "sparse"))
      === sparseSet(Similarity.rawPostingsFull(spark, dir)),
      "tick-store sparse side diverged from a full rebuild")
    // the gated claim: d17's output ≡ d16's, row-for-row
    val d17 = graft.SparkEntry.queries("d17_tick_store")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val d16 = graft.SparkEntry.queries("d16_ingest_tick")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(d17 === d16, "d17 gated output diverged from d16")
  }

  test("overwriteDir fold write: an at-least-once RETRY of the same " +
    "batch=<seq> namespace fully replaces it — no duplicated or " +
    "leftover rows from the first attempt — and partition discovery " +
    "still carries the batch value from the directory name (the " +
    "idempotent batch-subdir rule, post the r21 dynamic-overwrite " +
    "replacement)") {
    val root = graft.core.StoreFs.base(spark) +
      s"/graft-foldretry-p${ProcessHandle.current.pid}"
    graft.core.StoreFs.deleteQuietly(spark, root)
    try {
      val enc = Similarity.encodeChunks(
        TextAnalysis.queries("c3_chunk_corpus")(spark, dir))
      // the "failed first attempt" writes MORE rows than the retry, so
      // surviving leftovers would be visible as extra rows
      val firstTry = enc.filter(col("doc_id") < 300)
      val retry = enc.filter(col("doc_id") < 150)
      Similarity.writeStore(firstTry, s"$root/batch=3", Seq("bkt"),
        overwriteDir = true)
      Similarity.writeStore(retry, s"$root/batch=3", Seq("bkt"),
        overwriteDir = true)
      val read = spark.read.parquet(root)
      assert(read.select("batch").distinct().collect().map(_.get(0))
        === Array(3), "batch value lost from the directory name")
      assert(read.count() === retry.count(),
        "retried fold did not fully replace its own batch dir")
    } finally graft.core.StoreFs.deleteQuietly(spark, root)
  }

  test("d18 tick-then-maintain: the fold writes a new version holding " +
    "both sides in the batch=-1 base layout with tombstoned docs " +
    "physically removed; the health readout matches the integer trigger " +
    "rule; a failure between the dense and sparse writes publishes " +
    "nothing and leaves both tick sides unchanged") {
    val tag = "d18_tick_maintain"
    val (_, store) = Dedup.tickStore(spark, dir, tag,
      Seq(Dedup.d11Res), probe = identity)
    val foldRoot = Similarity.storeRoot(spark, dir, s"$tag-fold")
    val heldFold = graft.core.StoreFs.currentVersion(foldRoot)
    val preDense = denseSet(Dedup.tickSide(spark, store, "dense"))
    val preSparse = sparseSet(Dedup.tickSide(spark, store, "sparse"))
    val preLayout = (batchDirs(store, "dense"), batchDirs(store, "sparse"))
    assert(preLayout._1.exists(_ >= 0), "tick left no delta partitions")
    // a failure after the fold's dense write, before its sparse write:
    // the fold version is never published and the tick store (only
    // ever read by the fold) keeps both sides as they were
    intercept[IllegalStateException] {
      Dedup.d18Maintain(spark, dir, tag, store, leg =>
        if (leg == "dense") throw new IllegalStateException(
          "injected failure between the dense and sparse fold writes"))
    }
    assert(graft.core.StoreFs.currentVersion(foldRoot) === heldFold,
      "a failed fold published a version")
    assert((batchDirs(store, "dense"), batchDirs(store, "sparse"))
      === preLayout, "failed fold changed the tick store layout")
    assert(denseSet(Dedup.tickSide(spark, store, "dense")) === preDense,
      "failed fold changed the dense tick side")
    assert(sparseSet(Dedup.tickSide(spark, store, "sparse")) === preSparse,
      "failed fold changed the sparse tick side")
    // the rerun folds through: single base partition, tombstoned rows
    // physically gone, survivors ≡ rebuild-minus-deleted on both sides
    val legs = scala.collection.mutable.ArrayBuffer[String]()
    val (health, folded) = Dedup.d18Maintain(spark, dir, tag, store, legs += _)
    assert(legs.toSeq === Seq("dense", "sparse", "fold", "health"))
    assert(folded === Similarity.idxStore(spark, dir, s"$tag-fold"),
      "the fold version was not published")
    assert(folded !== store)
    assert(batchDirs(folded, "dense") === Seq(-1L), "delta dirs survived")
    assert(batchDirs(folded, "sparse") === Seq(-1L), "delta dirs survived")
    val keep = pmod(col("doc_id"), lit(Similarity.s24DelMod)) =!=
      lit(Similarity.s24DelRes)
    assert(denseSet(Dedup.tickSide(spark, folded, "dense"))
      === denseSet(Similarity.retrievalIndex(spark, dir).filter(keep)),
      "folded dense side != rebuild-minus-deleted")
    assert(sparseSet(Dedup.tickSide(spark, folded, "sparse"))
      === sparseSet(Similarity.rawPostingsFull(spark, dir).filter(keep)),
      "folded sparse side != rebuild-minus-deleted")
    // health readout ≡ the prof8 trigger arithmetic over the folded rows
    val h = health.collect()(0)
    val nTotal = Similarity.retrievalIndex(spark, dir).filter(keep).count()
    assert(h.getAs[Long]("n_total") === nTotal)
    assert(h.getAs[Int]("planes_committed") === Similarity.planes)
    assert(h.getAs[Int]("planes_recommended")
      === Similarity.planesFor(nTotal))
    assert(h.getAs[Int]("rebucket_due")
      === (if (Similarity.planesFor(nTotal) > Similarity.planes) 1 else 0))
  }

  test("d19 multi-tick convergence: after EVERY tick the store equals " +
    "a one-shot rebuild of base ∪ slices-so-far on both sides (the " +
    "compounding invariant); df/len counters merge additively across " +
    "batch partitions; final serving ≡ the s10 gate") {
    val residues = Dedup.d19Residues
    val ticked = scala.collection.mutable.ArrayBuffer[Int]()
    val (_, store) = Dedup.tickStore(spark, dir, "d19_multi_tick", residues,
      probe = identity,
      afterTick = { (i, st) =>
        ticked += i
        // slices-so-far = corpus minus the residues NOT yet folded
        val excluded = residues.drop(i + 1)
        val soFar = excluded
          .map(r => pmod(col("doc_id"), lit(Dedup.d11Mod)) =!= lit(r))
          .foldLeft(lit(true))(_ && _)
        assert(denseSet(Dedup.tickSide(spark, st, "dense"))
          === denseSet(Similarity.retrievalIndex(spark, dir)
            .filter(soFar)),
          s"dense store after tick $i != rebuild of slices-so-far")
        assert(sparseSet(Dedup.tickSide(spark, st, "sparse"))
          === sparseSet(Similarity.rawPostingsFull(spark, dir)
            .filter(soFar)),
          s"sparse store after tick $i != rebuild of slices-so-far")
      })
    assert(ticked.toSeq === Seq(0, 1, 2), "not every tick ran the hook")
    // counter additivity (the s18 df/len contract, compounded): per-
    // batch-partition stats SUMMED equal the one-shot rebuild's stats —
    // the merge a production stats table performs at every fold
    val summed = spark.read.parquet(s"$store/sparse")
      .groupBy("batch", "token").agg(count(lit(1)).as("df"),
        sum(col("len")).as("ls"))
      .groupBy("token").agg(sum("df").as("df"), sum("ls").as("ls"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val rebuilt = Similarity.rawPostingsFull(spark, dir)
      .groupBy("token").agg(count(lit(1)).as("df"),
        sum(col("len")).as("ls"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(summed === rebuilt,
      "per-batch df/len sums diverged from the rebuild stats")
    // final serving through the converged store ≡ the s10 gate
    val served = graft.SparkEntry.queries("d19_multi_tick")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val s10 = graft.SparkEntry.queries("s10_retrieve")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(served === s10, "post-3-tick serving diverged from s10")
  }
}

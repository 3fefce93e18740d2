package graft.operators

import graft.SparkSpec

/** ANN quality: recall of the LSH and IVF variants against the exact
  * brute-force top-k (s1) — the measurement SURVEY §7.5.5 calls for.
  * Floors are loose (random synthetic vectors have weak cluster
  * structure); the point is the harness: recall is measured, not
  * assumed. */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def topMap(name: String, k: Int): Map[Long, Set[Long]] =
    graft.SparkEntry.queries(name)(spark, dir)
      .filter(s"rk <= $k")
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("cid")).toSet }

  private def recallAt3(ann: Map[Long, Set[Long]],
                        exact: Map[Long, Set[Long]]): Double = {
    val per = exact.keys.toSeq.map { q =>
      val a = ann.getOrElse(q, Set.empty)
      (a intersect exact(q)).size.toDouble / exact(q).size
    }
    per.sum / per.size
  }

  test("LSH (s2) and IVF (s4) recall@3 vs exact (s1) is measured and sane") {
    val exact3 = topMap("s1_cosine_topk", 3)
    val lsh = topMap("s2_lsh_ann", 3)
    val ivf = topMap("s4_ivf_ann", 3)
    val rLsh = recallAt3(lsh, exact3)
    val rIvf = recallAt3(ivf, exact3)
    info(f"recall@3: lsh=$rLsh%.2f ivf=$rIvf%.2f")
    assert(rLsh > 0.0 && rLsh <= 1.0)
    assert(rIvf > 0.0 && rIvf <= 1.0)
    // every query answered by both ANN paths
    assert(lsh.keySet === exact3.keySet)
    assert(ivf.keySet === exact3.keySet)
  }

  test("batch kNN join (s5) restricted to the query subset equals the " +
    "per-query ANN (s2); all vectors answered") {
    val s5 = graft.SparkEntry.queries("s5_knn_join")(spark, dir)
    val s2 = graft.SparkEntry.queries("s2_lsh_ann")(spark, dir)
    // identical geometry + probes: the batch self-join must agree with
    // the query-side form exactly on the shared qids
    val got = s5.filter("qid < 10").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = s2.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got === want)
    // batch form answers (nearly) the whole corpus — every vector whose
    // probed buckets contain at least one other vector gets neighbors
    val n = graft.core.Tables.t(spark, dir, "embeddings").count()
    val answered = s5.select("qid").distinct().count()
    assert(answered > n * 9 / 10, s"answered=$answered of n=$n")
  }

  test("SQ8 rerank (s6): recall@3 vs exact (s1) is high — 8-bit codes " +
    "rank candidates nearly exactly; rerank cosine never beats exact") {
    val exact3 = topMap("s1_cosine_topk", 3)
    val sq8 = topMap("s6_sq8_ann", 3)
    assert(sq8.keySet === exact3.keySet)
    val r = recallAt3(sq8, exact3)
    info(f"recall@3: sq8=$r%.2f")
    // 255-level scalar quantization distorts dot products by <1% on unit-
    // scale vectors — with 20 candidates for a top-3 answer the true
    // neighbors essentially always survive the integer pre-ranking
    assert(r >= 0.8, f"sq8 recall $r%.2f")
    // the reranked best candidate can never exceed the true best cosine
    val bestExact = graft.SparkEntry.queries("s1_cosine_topk")(spark, dir)
      .filter("rk = 1").collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Double]("cosine")).toMap
    graft.SparkEntry.queries("s6_sq8_ann")(spark, dir)
      .filter("rk = 1").collect().foreach { x =>
        assert(x.getAs[Double]("cosine")
          <= bestExact(x.getAs[Long]("qid")) + 1e-12)
      }
  }

  test("PQ ADC rerank (s12): recall@3 vs exact (s1) measured; rerank " +
    "cosine never beats exact; codes are well-formed") {
    val exact3 = topMap("s1_cosine_topk", 3)
    val pq = topMap("s12_pq_ann", 3)
    assert(pq.keySet === exact3.keySet)
    val r = recallAt3(pq, exact3)
    info(f"recall@3: pq=$r%.2f")
    // 4x16-dim subspaces at 8 codes each is a LOSSY 16-byte sketch of a
    // 256-byte vector — the ADC pre-ranking is coarser than s6's SQ8, so
    // the floor is the "much better than chance" bar (chance recall at a
    // 20-candidate shortlist over 500 vectors is ~0.04), not s6's 0.8
    assert(r >= 0.3, f"pq recall $r%.2f")
    // the reranked best candidate can never exceed the true best cosine
    val bestExact = graft.SparkEntry.queries("s1_cosine_topk")(spark, dir)
      .filter("rk = 1").collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Double]("cosine")).toMap
    graft.SparkEntry.queries("s12_pq_ann")(spark, dir)
      .filter("rk = 1").collect().foreach { x =>
        assert(x.getAs[Double]("cosine")
          <= bestExact(x.getAs[Long]("qid")) + 1e-12)
      }
    // codes: every vector encoded, M cells each, all from the trained
    // codebook of that subspace (both reads hit the session-persisted
    // artifacts)
    val books = Similarity.pqCodebooks(spark, dir).collect()
      .groupBy(_.getAs[Int]("m"))
      .map { case (m, rows) => m -> rows.map(_.getAs[Int]("cell")).toSet }
    val codes = Similarity.pqCodes(spark, dir)
      .select("vec_id", "codes").collect()
    val n = graft.core.Tables.t(spark, dir, "embeddings").count()
    assert(codes.length.toLong === n)
    codes.foreach { row =>
      val cs = row.getAs[scala.collection.Seq[Int]]("codes")
      assert(cs.length === 4)
      cs.zipWithIndex.foreach { case (c, m) =>
        assert(books(m).contains(c), s"code $c not a subspace-$m cell")
      }
    }
  }

  test("IVF-PQ (s13): every result pair shares the query's coarse cell; " +
    "every query answered; recall@3 vs exact measured; rerank ≤ exact") {
    val exact3 = topMap("s1_cosine_topk", 3)
    val ivfpq = topMap("s13_ivfpq_ann", 3)
    assert(ivfpq.keySet === exact3.keySet)
    val r = recallAt3(ivfpq, exact3)
    info(f"recall@3: ivfpq=$r%.2f")
    // two lossy layers stack (coarse cell restriction x ADC ranking) —
    // the floor is chance-exclusion only; the measured value is the point
    assert(r > 0.0 && r <= 1.0)
    // the cell restriction invariant: candidate cells == query cells
    val cells = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        x.getAs[Int]("cluster")).toMap
    graft.SparkEntry.queries("s13_ivfpq_ann")(spark, dir)
      .collect().foreach { x =>
        val (q, c) = (x.getAs[Long]("qid"), x.getAs[Long]("cid"))
        assert(cells(q) === cells(c), s"pair ($q,$c) crosses cells")
      }
    // the reranked best candidate can never exceed the true best cosine
    val bestExact = graft.SparkEntry.queries("s1_cosine_topk")(spark, dir)
      .filter("rk = 1").collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Double]("cosine")).toMap
    graft.SparkEntry.queries("s13_ivfpq_ann")(spark, dir)
      .filter("rk = 1").collect().foreach { x =>
        assert(x.getAs[Double]("cosine")
          <= bestExact(x.getAs[Long]("qid")) + 1e-12)
      }
  }

  test("multi-probe IVF-PQ (s14): recall@3 >= single-probe s13; every " +
    "pair's candidate cell is among the query's p nearest; rerank <= exact") {
    val exact3 = topMap("s1_cosine_topk", 3)
    val single = topMap("s13_ivfpq_ann", 3)
    val multi = topMap("s14_multiprobe_ivfpq", 3)
    assert(multi.keySet === exact3.keySet)
    val rS = recallAt3(single, exact3)
    val rM = recallAt3(multi, exact3)
    info(f"recall@3: ivfpq(p=1)=$rS%.2f multiprobe(p=2)=$rM%.2f")
    // the dial's contract: widening the probed union never loses recall
    // on this corpus (the ADC shortlist keeps pqCandidates slots either
    // way, and the second cell only ADDS true neighbors here)
    assert(rM >= rS, f"multi-probe recall $rM%.2f < single-probe $rS%.2f")
    // probe invariant: every candidate's coarse cell is among the
    // query's ivfProbes nearest final centroids (plain-Scala recompute
    // of the same |c|^2 - 2 q.c ranking, ties by cell)
    val cents = Similarity.kmeansCentroids(spark, dir).collect()
      .map(r => (r.getAs[Int]("cell"),
        r.getAs[scala.collection.Seq[Double]]("vec").toArray))
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
      .filter("vec_id < 10").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def probeSet(v: Array[Float]): Set[Int] =
      cents.map { case (cell, c) =>
        val n2 = c.map(x => x * x).sum
        val dot = c.indices.map(i => v(i).toDouble * c(i)).sum
        (n2 - 2.0 * dot, cell)
      }.sortBy(identity).take(2).map(_._2).toSet
    val cells = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(x => x.getAs[Long]("vec_id") ->
        x.getAs[Int]("cluster")).toMap
    graft.SparkEntry.queries("s14_multiprobe_ivfpq")(spark, dir)
      .collect().foreach { x =>
        val (q, c) = (x.getAs[Long]("qid"), x.getAs[Long]("cid"))
        assert(probeSet(emb(q)).contains(cells(c)),
          s"pair ($q,$c): cell ${cells(c)} outside the probe set")
      }
    // the reranked best candidate can never exceed the true best cosine
    val bestExact = graft.SparkEntry.queries("s1_cosine_topk")(spark, dir)
      .filter("rk = 1").collect()
      .map(x => x.getAs[Long]("qid") -> x.getAs[Double]("cosine")).toMap
    graft.SparkEntry.queries("s14_multiprobe_ivfpq")(spark, dir)
      .filter("rk = 1").collect().foreach { x =>
        assert(x.getAs[Double]("cosine")
          <= bestExact(x.getAs[Long]("qid")) + 1e-12)
      }
  }

  test("index refresh (s15): base + encoded batch is ROW-IDENTICAL to " +
    "a full rebuild; both slices non-empty; served ranks well-formed") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
          r.getAs[Long]("bkt"), r.getAs[Double]("cn"),
          r.getAs[scala.collection.Seq[Double]]("ce").toSeq)
      }.toSet
    val refreshed = Similarity.refreshedIndex(spark, dir)
    val rebuilt = Similarity.retrievalIndex(spark, dir)
    val base = Similarity.baseRetrievalIndex(spark, dir).count()
    val total = rebuilt.count()
    // the modular cut must leave real mass on BOTH sides — an empty
    // batch would make this test vacuous
    assert(base > 0 && base < total, s"degenerate split: $base of $total")
    assert(canon(refreshed) === canon(rebuilt),
      "refreshed index differs from a full rebuild")
    // served output: every rank in 1..k, rows present
    val served = graft.SparkEntry.queries("s15_index_refresh")(spark, dir)
      .collect()
    assert(served.nonEmpty)
    served.foreach { r =>
      val rk = r.getAs[Int]("rk")
      assert(rk >= 1 && rk <= 5)
      val q = r.getAs[Long]("qid")
      assert(q >= 8 && q < 16, s"unexpected qid $q")
    }
  }

  test("hybrid RRF (s16): fusion arithmetic recomputes in plain Scala; " +
    "items in BOTH legs' top-k always survive fusion; deterministic") {
    val rows = graft.SparkEntry.queries("s16_hybrid_rrf")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    // RRF recompute: rrf == round(1/(60+d) + 1/(60+s), 6) with absent
    // legs contributing 0
    rows.foreach { r =>
      def leg(c: String): Double =
        if (r.isNullAt(r.fieldIndex(c))) 0.0
        else 1.0 / (60 + r.getAs[Int](c))
      val want = BigDecimal(leg("dense_rk") + leg("sparse_rk"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf") - want) < 1e-12,
        s"rrf mismatch on $r")
    }
    // a chunk in both legs' top-k scores >= 2/(60+k) > 1/(60+1), the
    // best any single-leg item can do — so the intersection always
    // survives into the fused top-k
    val both = rows.filter(r => !r.isNullAt(r.fieldIndex("dense_rk"))
      && !r.isNullAt(r.fieldIndex("sparse_rk")))
    info(s"fused rows=${rows.length}, both-leg survivors=${both.length}")
    // TRUE intersection, computed from the two legs independently of
    // the fused output: a both-leg chunk scores >= 2/(60+k) > 1/(60+1)
    // (the best any single-leg chunk can do), so the whole
    // intersection MUST survive into the fused top-k
    val dense = graft.SparkEntry.queries("s10_retrieve")(spark, dir)
      .select("qid", "doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sparse = Similarity.s16SparseLeg(spark, dir)
      .select("qid", "doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fusedKeys = rows
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"))).toSet
    val bothKeys = both
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"))).toSet
    val intersection = dense intersect sparse
    assert(intersection.subsetOf(fusedKeys),
      s"intersection items lost in fusion: ${intersection -- fusedKeys}")
    assert(bothKeys === intersection,
      "fused both-leg markers disagree with the true leg intersection")
    // determinism: a second full evaluation returns identical rows
    val again = graft.SparkEntry.queries("s16_hybrid_rrf")(spark, dir)
      .collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("RRF k-sensitivity: at k in {10, 60, 240} the engine fusion " +
    "recomputes in plain Scala, both-leg items always survive, and " +
    "both-leg rank dominance holds independent of k") {
    val denseLeg = Similarity.s10DenseLeg(spark, dir)
    val sparseLeg = Similarity.s16SparseLeg(spark, dir)
    def legMap(rows: Array[org.apache.spark.sql.Row], rkCol: String) =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int](rkCol)).toMap
    val dRk = legMap(denseLeg.collect(), "dense_rk")
    val sRk = legMap(sparseLeg.collect(), "sparse_rk")
    val bothKeys = dRk.keySet intersect sRk.keySet
    assert(bothKeys.nonEmpty, "no both-leg items — dominance check vacuous")
    var topSets = Map.empty[Int, Set[(Long, Long, Int)]]
    Seq(10, 60, 240).foreach { k =>
      val fused = Similarity.rrfFuse(denseLeg, sparseLeg, k).collect()
      // engine scores == plain-Scala recompute at this k
      fused.foreach { r =>
        def leg(c: String): Double =
          if (r.isNullAt(r.fieldIndex(c))) 0.0
          else 1.0 / (k + r.getAs[Int](c))
        val want = BigDecimal(leg("dense_rk") + leg("sparse_rk"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getAs[Double]("rrf") - want) < 1e-12,
          s"k=$k rrf mismatch on $r")
      }
      val fusedKeys = fused.map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"))).toSet
      assert(bothKeys.subsetOf(fusedKeys),
        s"k=$k lost both-leg items: ${bothKeys -- fusedKeys}")
      // dominance: A at-or-above B in BOTH legs (same qid, one strict)
      // => A fused strictly above B — RRF's ordering contract, true
      // for EVERY k because 1/(k+r) is strictly decreasing in r
      val fusedRk = fused.map(r => (r.getAs[Long]("qid"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        r.getAs[Int]("rk")).toMap
      for {
        a <- bothKeys; b <- bothKeys
        if a._1 == b._1 && a != b
        if dRk(a) <= dRk(b) && sRk(a) <= sRk(b)
        if dRk(a) < dRk(b) || sRk(a) < sRk(b)
        rb <- fusedRk.get(b)
      } {
        // the dominated item surviving the top-k cut while its
        // dominator was cut IS a dominance violation — don't let the
        // missing key silently skip the pair
        val ra = fusedRk.getOrElse(a, fail(
          s"k=$k: $b (dominated) is in the fused top-k but its " +
            s"dominator $a was cut"))
        assert(ra < rb,
          s"k=$k: $a dominates $b in both legs but fused $ra >= $rb")
      }
      topSets += k -> fusedKeys
    }
    val j = Seq((10, 60), (60, 240)).map { case (k1, k2) =>
      val (s1, s2) = (topSets(k1), topSets(k2))
      f"J($k1,$k2)=${(s1 intersect s2).size.toDouble / (s1 union s2).size}%.2f"
    }
    info(s"fused top-set stability across k: ${j.mkString(" ")}")
  }

  test("BM25 (s17): output equals a plain-Scala recompute from the " +
    "collected postings/stats frames (same double ops, same order); " +
    "all scores positive") {
    val rows = graft.SparkEntry.queries("s17_bm25")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("bm25_6") > 0L))
    // independent recompute: same term expression, same association,
    // exact integer micro-unit sums
    val post = Similarity.rawPostingsFull(spark, dir).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[Int]("len"),
        r.getAs[Long]("tf")))
    val df = post.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val chunkLens = post.map(p => (p._2, p._3) -> p._4).toMap
    val n = chunkLens.size.toLong
    val avgdl = BigDecimal(chunkLens.values.map(_.toLong).sum.toDouble
      / chunkLens.size).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    val qtok = graft.core.Tables.t(spark, dir, "documents")
      .filter("doc_id < 8").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").take(12).distinct.toSet)
      .toMap
    val scores = collection.mutable.Map.empty[(Long, Long, Int), Long]
    val (k1, b) = (Similarity.bm25K1, Similarity.bm25B)
    for ((token, d, c, len, tf) <- post; (qid, toks) <- qtok
         if toks(token)) {
      val idf = math.log((n - df(token) + 0.5) / (df(token) + 0.5) + 1.0)
      val sat = (tf * (k1 + 1)) / (tf + k1 * ((1.0 - b) + b * len / avgdl))
      scores((qid, d, c)) = scores.getOrElse((qid, d, c), 0L) +
        math.round(idf * sat * 1e6)
    }
    val wantTop = scores.groupBy(_._1._1).map { case (q, m) =>
      q -> m.toSeq.map { case ((_, d, c), s) => (s, d, c) }
        .sortBy { case (s, d, c) => (-s, d, c) }.take(5)
    }
    val byQid = rows.groupBy(_.getAs[Long]("qid"))
    // qid coverage first: an engine that drops a whole query's rows
    // must fail here, not silently skip its wantTop entry below
    assert(byQid.keySet === wantTop.keySet,
      s"qid sets differ: engine-only ${byQid.keySet -- wantTop.keySet}, " +
        s"recompute-only ${wantTop.keySet -- byQid.keySet}")
    byQid.foreach { case (q, rs) =>
      val got = rs.sortBy(_.getAs[Int]("rk"))
        .map(r => (r.getAs[Long]("bm25_6"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_idx"))).toSeq
      assert(got === wantTop(q), s"qid $q mismatch")
    }
  }

  test("sparse refresh (s18): postings fold is row-identical to a full " +
    "rebuild; token stats merge by sum equals a stats rebuild; served " +
    "window correct") {
    def canonP(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("token"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[Int]("len"),
        r.getAs[Long]("tf"))).toSet
    val refreshed = canonP(Similarity.refreshedPostings(spark, dir))
    val rebuilt = canonP(Similarity.rawPostingsFull(spark, dir))
    assert(refreshed === rebuilt, "postings fold differs from rebuild")
    // df additivity: merged counters == stats recomputed from scratch
    val merged = Similarity.refreshedStats(spark, dir).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[Long]("df")).toMap
    val scratch = rebuilt.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(merged === scratch, "merged token stats differ from rebuild")
    // corpus-counter additivity: merged (n_chunks, len_sum) == rebuild
    val mc = Similarity.refreshedCounts(spark, dir).collect().head
    val chunks = rebuilt.map(p => (p._2, p._3) -> p._4).toMap
    assert(mc.getAs[Long]("n_chunks") === chunks.size.toLong,
      "merged n_chunks differs from rebuild")
    assert(mc.getAs[Long]("len_sum") ===
      chunks.values.map(_.toLong).sum, "merged len_sum differs")
    val served = graft.SparkEntry
      .queries("s18_sparse_refresh")(spark, dir).collect()
    assert(served.nonEmpty)
    served.foreach { r =>
      val q = r.getAs[Long]("qid")
      assert(q >= 8 && q < 16, s"unexpected qid $q")
    }
  }

  test("hybrid BM25 (s19): fused output recomputes in plain Scala from " +
    "the two legs' own gated outputs; both-leg intersection survives") {
    val k = 60
    val dense = graft.SparkEntry.queries("s10_retrieve")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int]("rk")).toMap
    val sparse = graft.SparkEntry.queries("s17_bm25")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int]("rk")).toMap
    // independent fusion recompute over the union of leg keys
    val want = (dense.keySet ++ sparse.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        val scored = keys.toSeq.map { key =>
          val rrf = BigDecimal(
            dense.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0) +
              sparse.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (key, rrf)
        }.sortBy { case ((_, d, c), rrf) => (-rrf, d, c) }.take(5)
        scored.zipWithIndex.map { case ((key, rrf), i) =>
          key -> (i + 1, rrf) }
    }
    val rows = graft.SparkEntry.queries("s19_hybrid_bm25")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
      r.getAs[Int]("chunk_idx")) ->
      (r.getAs[Int]("rk"), r.getAs[Double]("rrf"))).toMap
    assert(got === want, "fused output differs from the leg recompute")
    // 2/(60+5) > 1/(60+1): the dense∩sparse intersection must survive
    val inter = dense.keySet intersect sparse.keySet
    assert(inter.subsetOf(got.keySet),
      s"intersection lost in fusion: ${inter -- got.keySet}")
    info(s"fused rows=${rows.length}, both-leg survivors=${inter.size}")
  }

  test("prof7 embedding drift: PSI equals a plain-Scala recomputation " +
    "from the occupancy counts; counts partition the corpus") {
    val rows = graft.SparkEntry
      .queries("prof7_embedding_drift")(spark, dir).collect()
    val n = graft.core.Tables.t(spark, dir, "embeddings").count()
    assert(rows.map(r =>
      r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur")).sum === n)
    val refTot = rows.map(_.getAs[Long]("n_ref")).sum.toDouble
    val curTot = rows.map(_.getAs[Long]("n_cur")).sum.toDouble
    val eps = 1e-6
    val want = rows.map { r =>
      val p = math.max(r.getAs[Long]("n_ref") / refTot, eps)
      val q = math.max(r.getAs[Long]("n_cur") / curTot, eps)
      (q - p) * math.log(q / p)
    }.sum
    val got = rows.head.getAs[Double]("psi")
    info(f"psi=$got%.6f over ${rows.length} clusters")
    assert(math.abs(got - want) < 2e-6, s"psi $got vs recomputed $want")
    assert(rows.forall(r => r.getAs[Double]("psi") == got),
      "psi total must repeat on every row")
    assert(math.abs(rows.map(_.getAs[Double]("ref_share")).sum - 1.0)
      < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("cur_share")).sum - 1.0)
      < 1e-4)
  }

  test("data-driven plane count: planesFor scales with n; the tuned " +
    "geometry's recall@3 vs exact (s1) is no worse than the committed one") {
    // the mechanism: +1 plane per corpus doubling, clamped
    assert(Similarity.planesFor(1000) === 1)
    assert(Similarity.planesFor(1L << 40) === 24) // clamp
    assert(Similarity.planesFor(1024L * 64) ===
      Similarity.planesFor(1024L * 32) + 1)
    // at 10^9 vectors the fixed committed P=6 would put ~16M vectors per
    // bucket; the tuned P keeps the target occupancy
    assert(Similarity.planesFor(1_000_000_000L) === 20)
    val n = graft.core.Tables.t(spark, dir, "embeddings").count()
    val p = Similarity.planesFor(n)
    val exact3 = topMap("s1_cosine_topk", 3)
    val committed = topMap("s2_lsh_ann", 3)
    val tuned = Similarity.lshAnn(spark, dir, p, queriesOnly = true, k = 3)
      .collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("cid")).toSet }
    val rTuned = recallAt3(tuned, exact3)
    val rCommitted = recallAt3(committed, exact3)
    info(f"recall@3: tuned(P=$p)=$rTuned%.2f committed(P=6)=$rCommitted%.2f")
    // the tuner may only trade cost for recall when occupancy allows it —
    // never a worse answer at the same probe policy
    assert(rTuned >= rCommitted, f"tuned P=$p recall $rTuned%.2f < " +
      f"committed $rCommitted%.2f")
  }

  test("k-means (s7): matches an independent plain-Scala Lloyd's " +
    "reimplementation (same init, same iteration count) exactly") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Double]("dist2"))).toMap
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.size === emb.size)
    // reference Lloyd's: loops and Arrays, no Spark — plain sum-of-
    // squares distance (the operator ranks by the algebraically equal
    // |c|^2 - 2*v.c)
    def d2(v: Array[Double], c: Array[Double]): Double =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def nearest(v: Array[Double], cs: Map[Int, Array[Double]]): (Int, Double) =
      cs.map { case (c, cv) => (c, d2(v, cv)) }
        .minBy { case (c, d) => (d, c) }
    // same 6-dp centroid rounding as the operator (Spark round = HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents: Map[Int, Array[Double]] =
      (0 until Similarity.kmeansK).map(c => c -> emb(c.toLong)).toMap
    (1 to Similarity.kmeansIters).foreach { _ =>
      val assign = emb.map { case (id, v) => id -> nearest(v, cents)._1 }
      cents = assign.groupBy(_._2).map { case (c, m) =>
        val vs = m.keys.map(emb).toArray
        c -> Array.tabulate(64)(d => r6(vs.map(_(d)).sum / vs.length))
      }
    }
    assert(cents.size === Similarity.kmeansK,
      s"expected ${Similarity.kmeansK} non-empty clusters")
    emb.foreach { case (id, v) =>
      val (cl, dist2) = out(id)
      val (refCl, refD) = nearest(v, cents)
      assert(refCl === cl,
        s"vec $id: operator cluster $cl, reference $refCl")
      assert(math.abs(refD - dist2) < 1e-4,
        s"vec $id dist2 $dist2 vs reference $refD")
    }
  }

  test("semantic dedup (s8): verdicts match a plain-Scala within-cluster " +
    "all-pairs rederivation; keepers are the lowest-id group members") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("s8_semdedup")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Long]("n_dups"),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getAs[String]("verdict"))).toMap
    val clusters = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Int]("cluster")).toMap
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(out.size === emb.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    var prunes = 0
    emb.keys.toSeq.sorted.foreach { id =>
      val (cl, nDups, best, verdict) = out(id)
      assert(cl === clusters(id), s"vec $id cluster $cl vs s7 ${clusters(id)}")
      // lower-id same-cluster mates at/above tau (float slack: the spec's
      // unordered zip-sum differs from the operator's pinned fold by ulps,
      // so exclude pairs within 1e-9 of the threshold from the strict set)
      val mates = emb.keys.filter(o => o < id && clusters(o) == cl)
        .map(o => cos(emb(o), emb(id))).toSeq
      val surely = mates.count(_ >= Similarity.s8Tau + 1e-9)
      val maybe = mates.count(_ >= Similarity.s8Tau - 1e-9)
      assert(nDups >= surely && nDups <= maybe,
        s"vec $id n_dups $nDups outside [$surely, $maybe]")
      assert((verdict == "prune") === (nDups > 0))
      if (verdict == "prune") {
        prunes += 1
        assert(best.isDefined && math.abs(best.get - mates.max) < 1e-9,
          s"vec $id best_cosine $best vs ${mates.max}")
      } else assert(best.isEmpty, s"kept vec $id has best_cosine $best")
    }
    // the testdata plants near-dups: the prune side must be non-empty and
    // a strict minority (sanity that tau isn't degenerate either way)
    assert(prunes > 0 && prunes < emb.size / 2, s"prunes=$prunes")
    // every near-dup GROUP keeps its lowest id: a pruned vector's group
    // (it + its above-tau lower-id mates) contains at least one keeper
    // with a smaller id
    emb.keys.foreach { id =>
      if (out(id)._4 == "prune") {
        val keeperExists = emb.keys.exists(o => o < id &&
          clusters(o) == out(id)._1 && out(o)._4 == "keep" &&
          cos(emb(o), emb(id)) >= Similarity.s8Tau - 1e-9)
        // the direct keeper may itself be pruned by an even lower id —
        // walk is unnecessary: the LOWEST id of any chain has no lower
        // mates, so it is kept; existence over the whole cluster suffices
        val lowestInReach = emb.keys.filter(o =>
          clusters(o) == out(id)._1 && o < id &&
            cos(emb(o), emb(id)) >= Similarity.s8Tau - 1e-9)
        assert(keeperExists || lowestInReach.exists(o => out(o)._2 > 0),
          s"pruned vec $id has no kept (or chained) lower-id keeper")
      }
    }
  }

  test("cluster profile (s9): counts/dispersion agree with the s7 " +
    "assignment; shares partition the corpus") {
    val s7 = graft.SparkEntry.queries("s7_kmeans")(spark, dir)
      .collect().map(r => (r.getAs[Int]("cluster"), r.getAs[Double]("dist2")))
    val byCluster = s7.groupBy(_._1)
    val out = graft.SparkEntry.queries("s9_cluster_profile")(spark, dir)
      .collect().map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("share"),
          r.getAs[Double]("avg_dist2"), r.getAs[Double]("max_dist2"))).toMap
    assert(out.keySet === byCluster.keySet)
    val n = s7.length
    out.foreach { case (cl, (nv, share, avgD, maxD)) =>
      val members = byCluster(cl).map(_._2)
      assert(nv === members.length.toLong)
      assert(math.abs(share - members.length.toDouble / n) < 1e-6)
      assert(math.abs(avgD - members.sum / members.length) < 1e-5,
        s"cluster $cl avg_dist2 $avgD vs ${members.sum / members.length}")
      assert(maxD === members.max)
    }
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-4)
  }

  test("s8Banded (hot-cluster sub-partition path): pruned set ⊆ exact " +
    "s8 prunes; recall on the planted near-dups measured and floored") {
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    val exact = verdicts(graft.SparkEntry.queries("s8_semdedup")(spark, dir))
    val banded = verdicts(Similarity.s8Banded(spark, dir))
    assert(banded.keySet === exact.keySet) // every vector gets a verdict
    val exactPrunes = exact.collect { case (id, "prune") => id }.toSet
    val bandedPrunes = banded.collect { case (id, "prune") => id }.toSet
    // banded candidates are a subset of within-cluster pairs, so banded
    // prunes can never exceed the exact verdict set
    assert(bandedPrunes.subsetOf(exactPrunes),
      s"banded pruned non-duplicates: ${bandedPrunes -- exactPrunes}")
    val recall =
      if (exactPrunes.isEmpty) 1.0
      else bandedPrunes.size.toDouble / exactPrunes.size
    info(f"banded within-cluster prune recall=$recall%.2f " +
      s"(${bandedPrunes.size}/${exactPrunes.size})")
    // planted near-dups sit at cosine ~0.9+ where the committed 8x4
    // geometry's analytic collision probability is ~0.99 — a recall
    // collapse means the banding or the cluster-conjunction broke
    assert(recall >= 0.5, f"banded recall $recall%.2f")
  }

  test("s8TunedK (kForCorpus production clustering): every vector " +
    "verdicted; tuned prunes are genuine corpus near-dups; occupancy " +
    "rule and recall vs committed-k reported") {
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("verdict")).toMap
    val committed = verdicts(graft.SparkEntry.queries("s8_semdedup")(spark, dir))
    val tuned = verdicts(Similarity.s8TunedK(spark, dir))
    assert(tuned.keySet === committed.keySet) // every vector gets a verdict
    // every tuned prune is backed by a REAL lower-id corpus pair at
    // >= tau (within-cluster exact cosine can only find genuine pairs,
    // whatever the clustering) — the d6AllPairsExact ground truth
    val truePruned = graft.operators.Dedup.d6AllPairsExact(spark, dir)
      .collect().map(_.getAs[Long]("b")).toSet
    val tunedPrunes = tuned.collect { case (id, "prune") => id }.toSet
    assert(tunedPrunes.subsetOf(truePruned),
      s"tuned pruned non-duplicates: ${tunedPrunes -- truePruned}")
    val committedPrunes = committed.collect { case (id, "prune") => id }.toSet
    val recall =
      if (committedPrunes.isEmpty) 1.0
      else (tunedPrunes intersect committedPrunes).size.toDouble /
        committedPrunes.size
    info(f"tuned-k prune recall vs committed-k=$recall%.2f " +
      s"(${tunedPrunes.size}/${committedPrunes.size})")
    // planted near-dups are near-identical vectors — any Voronoi
    // partition co-locates them, so a collapse means the tuned
    // clustering or the prune join broke
    assert(recall >= 0.5, f"tuned-k recall $recall%.2f")
  }

  test("s10 retrieval serving: recall@5 vs the exact-cosine twin is " +
    "measured; every query answered; ANN scores are a subset of the " +
    "exact ranking's scores") {
    def chunks(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_idx"))).toSet
      }
    val ann = graft.SparkEntry.queries("s10_retrieve")(spark, dir).collect()
    val exact = Similarity.s10ExactTwin(spark, dir).collect()
    val annTop = chunks(ann)
    val exactTop = chunks(exact)
    assert(annTop.keySet === exactTop.keySet, "every query answered")
    val per = exactTop.keys.toSeq.map { q =>
      (annTop(q) intersect exactTop(q)).size.toDouble / exactTop(q).size
    }
    val recall = per.sum / per.size
    info(f"s10 recall@5 vs exact twin: $recall%.2f")
    // corpus-prefix queries: the query doc's own chunks share most
    // tokens with the query, land in or near its bucket, and dominate
    // the exact top-5 — multi-probe must keep recall well above chance
    assert(recall >= 0.5, f"s10 recall $recall%.2f")
    // the ANN rerank is exact within candidates: any chunk BOTH paths
    // return must carry the same cosine in both
    val exactCos = exact.map(r => (r.getAs[Long]("qid"),
      r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
      r.getAs[Double]("cosine")).toMap
    ann.foreach { r =>
      val k = (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"))
      exactCos.get(k).foreach(c =>
        assert(c === r.getAs[Double]("cosine"), s"cosine mismatch at $k"))
    }
    // the index artifact is registry-persisted: repeated serving calls
    // must reuse the same frame, not rebuild the corpus index
    assert(Similarity.retrievalIndex(spark, dir) eq
      Similarity.retrievalIndex(spark, dir))
  }

  test("multi-probe LSH serving (s20): probe-mask set is exactly the " +
    "hamming-<=2 ball; per-rank cosines dominate s10's; recall@5 vs " +
    "exact >= s10's") {
    // the mask generator IS the dial: distinct, popcount <= radius,
    // complete (1 + p + C(p,2) masks at radius 2), radius-1 subset
    val m1 = Similarity.probeMasks(6, 1)
    val m2 = Similarity.probeMasks(6, 2)
    assert(m1.size === 7 && m1.distinct.size === 7)
    assert(m2.size === 22 && m2.distinct.size === 22)
    assert(m1.toSet.subsetOf(m2.toSet))
    assert(m2.forall(m => java.lang.Long.bitCount(m) <= 2))
    assert(m2.forall(m => m == (m & 0x3fL)), "mask outside 6-plane domain")
    val s10 = graft.SparkEntry.queries("s10_retrieve")(spark, dir).collect()
    val s20 = graft.SparkEntry.queries("s20_multiprobe_lsh")(spark, dir)
      .collect()
    def byRank(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk")) ->
        r.getAs[Double]("cosine")).toMap
    val (c10, c20) = (byRank(s10), byRank(s20))
    // radius 2 probes a SUPERSET of radius 1's candidate pool and the
    // rerank is exact, so every (qid, rk) s10 fills, s20 fills with a
    // cosine at least as good — the dial can only improve the list
    assert(c10.keySet.subsetOf(c20.keySet),
      "s20 lost a (qid, rank) slot s10 served")
    c10.foreach { case (key, c) =>
      assert(c20(key) >= c - 1e-12, s"rank cosine regressed at $key")
    }
    def chunks(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_idx"))).toSet
      }
    val exactTop = chunks(Similarity.s10ExactTwin(spark, dir).collect())
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val top = chunks(rows)
      val per = exactTop.keys.toSeq.map { q =>
        (top.getOrElse(q, Set.empty) intersect exactTop(q)).size.toDouble /
          exactTop(q).size
      }
      per.sum / per.size
    }
    val (r10, r20) = (recall(s10), recall(s20))
    info(f"recall@5 vs exact twin: s10(radius1)=$r10%.2f s20(radius2)=$r20%.2f")
    assert(r20 >= r10, f"widening the probe ball lost recall: $r20%.2f < $r10%.2f")
  }

  test("filtered retrieval (s22): every row clears the quality floor; " +
    "per-rank cosines never beat unfiltered s10's; recall@5 vs the " +
    "FILTERED exact twin is measured; every qid answered") {
    import org.apache.spark.sql.functions.col
    val tau = Similarity.s22QualityFloor
    val s22 = graft.SparkEntry.queries("s22_filtered_retrieve")(spark, dir)
      .collect()
    val s10 = graft.SparkEntry.queries("s10_retrieve")(spark, dir).collect()
    assert(s22.nonEmpty)
    s22.foreach(r => assert(r.getAs[Double]("quality_score") >= tau,
      s"excluded-domain row leaked: $r"))
    // filtering can only REMOVE candidates, so the filtered rank-r
    // cosine never exceeds the unfiltered rank-r cosine (s20's
    // dominance argument, reversed)
    def byRank(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rk")) ->
        r.getAs[Double]("cosine")).toMap
    val (c22, c10) = (byRank(s22), byRank(s10))
    c22.foreach { case (key, c) =>
      c10.get(key).foreach(c10v => assert(c <= c10v + 1e-12,
        s"filtered rank beat unfiltered at $key"))
    }
    // the REAL invariant: the filtered domain can only serve a subset
    // of s10's queries (a qid whose probed buckets hold no above-floor
    // chunk legitimately returns nothing) — exact equality would pin
    // the current fixture, not the operator
    val qids10 = s10.map(_.getAs[Long]("qid")).toSet
    val qids22 = s22.map(_.getAs[Long]("qid")).toSet
    assert(qids22.subsetOf(qids10), "filtered serving invented a qid")
    assert(qids22.nonEmpty)
    info(s"filtered serving answered ${qids22.size}/${qids10.size} qids")
    // recall vs the exact twin RESTRICTED to the same filtered domain
    val exact = Similarity.s10ExactTwin(spark, dir,
      col("quality_score") >= tau).collect()
      .groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Int]("chunk_idx"))).toSet
      }
    val got = s22.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"))).toSet
    }
    val per = exact.keys.toSeq.map { q =>
      (got.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble /
        exact(q).size
    }
    val recall = per.sum / per.size
    info(f"s22 recall@5 vs filtered exact twin: $recall%.2f")
    assert(recall >= 0.5, f"filtered ANN recall collapsed: $recall%.2f")
  }

  test("index health (prof8): occupancy counts partition the index; " +
    "shares sum to 1; the integer re-bucket rule equals planesFor " +
    "across the clamp range; flag consistent") {
    val rows = graft.SparkEntry.queries("prof8_index_health")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val nTotal = rows.head.getAs[Long]("n_total")
    assert(rows.map(_.getAs[Long]("n_chunks")).sum === nTotal,
      "per-bucket counts do not partition the index")
    assert(nTotal ===
      Similarity.retrievalIndex(spark, dir).count(),
      "n_total differs from the served index row count")
    val shareSum = rows.map(_.getAs[Double]("share6")).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares sum to $shareSum")
    assert(rows.map(_.getAs[Long]("bkt")).distinct.length === rows.length)
    rows.foreach { r =>
      val bkt = r.getAs[Long]("bkt")
      assert(bkt >= 0 && bkt < (1L << 6), s"bucket outside domain: $bkt")
      assert(r.getAs[Int]("planes_recommended") ===
        Similarity.planesFor(nTotal),
        "engine recommendation differs from planesFor")
      assert((r.getAs[Int]("rebucket_due") === 1) ===
        (r.getAs[Int]("planes_recommended") > 6))
    }
    // the integer CASE rule IS planesFor, across the whole clamp range
    // (including exact powers of two, where a floating log2 could
    // double-round) — evaluated via Spark so the committed expression
    // text itself is what's pinned
    val ns = (Seq(1L, 1023L, 1024L, 1025L) ++
      (1 to 23).flatMap(p => Seq(-1L, 0L, 1L).map(1024L * (1L << p) + _)))
      .filter(_ > 0)
    import spark.implicits._
    val caseVals = ns.toDF("n")
      .selectExpr("n", s"${Similarity.planesForCaseSql("n")} AS p")
      .collect().map(r => r.getAs[Long]("n") -> r.getAs[Int]("p")).toMap
    ns.foreach(n => assert(caseVals(n) === Similarity.planesFor(n),
      s"CASE rule diverges from planesFor at n=$n"))
  }

  test("index compaction (s21): serving from the compacted on-disk store " +
    "is row-identical to s15's in-memory refreshed index; the store ends " +
    "at one file per bucket dir with no staging leftovers") {
    val s21 = graft.SparkEntry.queries("s21_index_compaction")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val s15 = graft.SparkEntry.queries("s15_index_refresh")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(s21 === s15,
      "compaction changed serving results vs the refreshed index")
    val store = new java.io.File(localPath(Similarity.s21Store(spark, dir)))
    val bktDirs = store.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("bkt="))
    assert(bktDirs.nonEmpty, "no bucket partitions on disk")
    bktDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n === 1, s"${d.getName}: $n files after compaction")
    }
    // the fragmented scratch store is deleted before the version
    // publishes: the version holds the compacted index alone
    val leftovers = store.getParentFile.listFiles().map(_.getName)
      .filter(_ != "idx")
    assert(leftovers.isEmpty, s"staging leftovers: ${leftovers.toSeq}")
  }

  test("index delete (s24): serving the tombstone-folded store equals " +
    "serve-THROUGH-tombstones over the pre-fold index row-for-row; no " +
    "tombstoned doc survives on disk and non-deleted docs do") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val folded = graft.SparkEntry.queries("s24_index_delete")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // serve-through = what query batches run BETWEEN a delete landing
    // and the next compaction folding it: anti-join at read time over
    // the same logical index content the pre-fold store holds
    val through = Similarity.serveThroughTombstones(
      Similarity.s15QueryFrame(spark, dir),
      Similarity.refreshedIndex(spark, dir),
      Similarity.s24Tombstones(spark, dir), Seq("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(folded === through,
      "serve-through and the folded store disagree")
    val store = spark.read.parquet(Similarity.idxStore(spark, dir, "s24"))
    assert(store.filter(pmod(col("doc_id"), lit(Similarity.s24DelMod))
      === lit(Similarity.s24DelRes)).count() === 0,
      "tombstoned rows survived the fold")
    assert(store.filter(pmod(col("doc_id"), lit(Similarity.s24DelMod))
      =!= lit(Similarity.s24DelRes)).count() > 0,
      "fold deleted more than the tombstone set")
  }

  test("learned-embedding serving (s23): the SAME retrieveTopK stack " +
    "serves a trained Word2Vec embedder; recall vs the exact twin under " +
    "the learned metric is measured and floored; refit is deterministic " +
    "in-session") {
    def topSets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r =>
          (r.getAs[Any]("doc_id"), r.getAs[Any]("chunk_idx"))).toSet
      }
    val served = topSets(
      graft.SparkEntry.queries("s23_learned_embed")(spark, dir).collect())
    val exact = topSets(Similarity.exactTwin(
      Similarity.s23QueryFrame(spark, dir),
      Similarity.learnedIndex(spark, dir)).collect())
    assert(served.keySet === exact.keySet,
      "served and exact answered different qids")
    val recall = exact.keys.toSeq.map { q =>
      (served(q) intersect exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    info(f"learned-metric recall@5 vs exact twin: $recall%.3f")
    // the multi-probe serving contract under the LEARNED metric — the
    // same measurement s10's spec makes under the hash metric
    assert(recall >= 0.5 && recall <= 1.0,
      f"learned-metric serving recall collapsed: $recall%.3f")
    // refit determinism (the property the golden-dispatch oracle rides
    // on): two raw fits over the same content → identical vectors
    def vecMap(m: org.apache.spark.ml.feature.Word2VecModel) =
      m.getVectors.collect().map(r => r.getString(0) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](1).toArray.toSeq).toMap
    val v1 = vecMap(Similarity.fitLearnedEmbedder(spark, dir))
    val v2 = vecMap(Similarity.fitLearnedEmbedder(spark, dir))
    assert(v1.keySet === v2.keySet, "refit changed the vocabulary")
    assert(v1 === v2, "refit changed fitted vectors — fit is not " +
      "content-deterministic; the s23 goldens would flap")
  }

  test("prof9 write discipline: after the gated lifecycle each bkt dir " +
    "holds exactly one file per write whose slice touches that bucket — " +
    "a files-count regression is attributed to writeStore, not the " +
    "prof9 oracle; the KiB readout is present and consistent") {
    val rows = graft.SparkEntry.queries("prof9_store_health")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    // expected presence per write, from the engine's own lifecycle
    // frames: base snapshot + the 3 batch-slice appends each land one
    // file in bucket b iff the slice has a chunk hashing to b
    val writes = Similarity.baseRetrievalIndex(spark, dir) +:
      Similarity.s15BatchSlices(spark, dir, Similarity.prof9Parts.toLong)
    val expected = writes
      .map(_.select("bkt").distinct().collect().map(_.getLong(0)).toSet)
      .foldLeft(Map.empty[Long, Long]) { (m, bs) =>
        bs.foldLeft(m)((mm, b) => mm.updated(b, mm.getOrElse(b, 0L) + 1L))
      }
    val store = new java.io.File(localPath(Similarity.idxStore(spark, dir, "prof9")))
    val listed = store.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .map { d =>
        d.getName.stripPrefix("bkt=").toLong ->
          d.listFiles().count(_.getName.endsWith(".parquet")).toLong
      }.toMap
    assert(listed === expected,
      "on-disk files-per-bucket diverged from one-file-per-touching-" +
        "write — the writeStore discipline regressed (maxRecordsPerFile" +
        "/AQE split?), not the prof9 oracle")
    // the engine's own files column agrees with the listing, and the
    // size readout is wired (sizes ride the same FileStatus objects)
    rows.foreach { r =>
      assert(r.getAs[Long]("files") === listed(r.getAs[Long]("bkt")))
      assert(r.getAs[Long]("kib") >= 0L)
    }
    assert(rows.map(_.getAs[Long]("kib")).sum > 0L,
      "size readout is all-zero — bytes not wired from the listing")
  }

  test("learned hybrid (s28): fused output recomputes in plain Scala " +
    "from the two legs' own outputs (learned dense + BM25); leg ranks " +
    "pass through; the dense leg IS s23's serving top-k") {
    val k = 60
    val dense = Similarity.s23DenseLeg(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int]("dense_rk")).toMap
    val sparse = graft.SparkEntry.queries("s17_bm25")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int]("rk")).toMap
    // one-variable check vs s23: the dense leg is s23's gated serving
    // output re-shaped, nothing else
    val s23 = graft.SparkEntry.queries("s23_learned_embed")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx")) -> r.getAs[Int]("rk")).toMap
    assert(dense === s23, "s28's dense leg diverged from s23's serving")
    // independent fusion recompute over the union of leg keys
    val want = (dense.keySet ++ sparse.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        val scored = keys.toSeq.map { key =>
          val rrf = BigDecimal(
            dense.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0) +
              sparse.get(key).map(r => 1.0 / (k + r)).getOrElse(0.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (key, rrf)
        }.sortBy { case ((_, d, c), rrf) => (-rrf, d, c) }.take(5)
        scored.zipWithIndex.map { case ((key, _), i) =>
          key -> (i + 1, dense.get(key), sparse.get(key)) }
    }
    val rows = graft.SparkEntry.queries("s28_learned_hybrid")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    def optInt(r: org.apache.spark.sql.Row, c: String): Option[Int] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Int](c))
    val got = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"),
      r.getAs[Int]("chunk_idx")) ->
      (r.getAs[Int]("rk"), optInt(r, "dense_rk"), optInt(r, "sparse_rk")))
      .toMap
    assert(got === want,
      "fused output differs from the two-leg recompute")
    // the dense∩sparse intersection must survive fusion (2/(60+5) >
    // 1/(60+1) — the s19 dominance argument under the learned leg)
    val inter = dense.keySet intersect sparse.keySet
    assert(inter.subsetOf(got.keySet),
      s"intersection lost in fusion: ${inter -- got.keySet}")
    info(s"fused rows=${rows.length}, both-leg survivors=${inter.size}")
  }

  test("streaming delete ingest (s27): tombstones arriving over a " +
    "genuinely multi-batch stream fold to the same served result as " +
    "s24's one-shot delete; the staged replay really is multi-batch") {
    import org.apache.spark.sql.functions.col
    val s27 = graft.SparkEntry.queries("s27_stream_delete")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val s24 = graft.SparkEntry.queries("s24_index_delete")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(s27 === s24,
      "streamed tombstone arrival changed the folded serving result")
    // multi-batch by construction: the staged replay dir holds 2 data
    // files and the stream reads maxFilesPerTrigger=1. Resolve the dir
    // through stageForReplay itself (idempotent via _SUCCESS — returns
    // the existing staging) instead of hand-rebuilding its naming.
    val fp = graft.core.Tables.sourceFingerprint(s"$dir/documents.parquet")
    val streamDir = new java.io.File(localPath(graft.streaming.Streams.stageForReplay(
      Similarity.s24Tombstones(spark, dir)
        .repartitionByRange(2, col("doc_id")),
      s"tomb-$fp-${Similarity.s24DelMod}m${Similarity.s24DelRes}",
      shape = "r2")))
    val files = Option(streamDir.listFiles()).getOrElse(Array.empty)
    val nFiles = files.count(_.getName.endsWith(".parquet"))
    assert(nFiles === 2, s"staged tombstone replay has $nFiles files")
    // and the folded store holds no tombstoned doc (the s24 invariant,
    // re-checked through the streamed path's own store)
    val store = spark.read.parquet(Similarity.idxStore(spark, dir, "s27"))
    assert(store.filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
      org.apache.spark.sql.functions.lit(Similarity.s24DelMod))
      === Similarity.s24DelRes).count() === 0)
  }

  test("re-bucket rebuild (s26): serving under the planes+1 geometry " +
    "keeps measured recall vs the exact twin; the rebuilt index actually " +
    "uses the widened keyspace and halves expected occupancy") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    def topSets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r =>
          (r.getAs[Any]("doc_id"), r.getAs[Any]("chunk_idx"))).toSet
      }
    val served = topSets(
      graft.SparkEntry.queries("s26_rebucket_rebuild")(spark, dir).collect())
    // embeddings are geometry-independent, so the exact twin under the
    // rebuilt index IS the s10 exact twin — the rebuild must not move
    // the ground truth, only the probe geometry
    val exact = topSets(Similarity.exactTwin(
      Similarity.s10QueryFrame(spark, dir),
      Similarity.rebucketIndex(spark, dir)).collect())
    val recall = exact.keys.toSeq.map { q =>
      (served.getOrElse(q, Set.empty) intersect exact(q)).size.toDouble /
        exact(q).size
    }.sum / exact.size
    info(f"recall@5 under planes+1 serving: $recall%.3f")
    // measured 0.600 on the committed fixture (2026-08-15): one more
    // plane on the TINY sf0.001 corpus over-partitions (the production
    // pairing is rebuild-after-GROWTH, which returns occupancy to
    // target rather than shrinking it) — the floor guards the serving
    // path, the multi-probe dial (s20's radius) is the recall lever
    assert(recall >= 0.4,
      f"planes+1 serving recall collapsed below its measured floor: $recall%.3f")
    // the widened keyspace is real: buckets above the old 2^6 range are
    // occupied, and the bucket count strictly exceeds the 6-plane
    // index's — i.e. expected occupancy actually dropped, which is the
    // entire point of firing the trigger
    val b7 = Similarity.rebucketIndex(spark, dir)
      .agg(countDistinct(col("bkt")), org.apache.spark.sql.functions
        .max(col("bkt"))).collect()(0)
    val b6 = Similarity.retrievalIndex(spark, dir)
      .agg(countDistinct(col("bkt"))).collect()(0).getLong(0)
    assert(b7.getLong(1) >= 64L,
      "no chunk landed above the old 2^6 keyspace — plane 7 is dead")
    assert(b7.getLong(0) > b6,
      s"rebuild did not widen the occupied bucket set (${b7.getLong(0)} vs $b6)")
    // the gate serves from the PHYSICAL rebuilt store (round-15 verdict
    // item 1): its content must equal the rebuilt index row-for-row,
    // its directory layout must carry the widened keyspace, and the
    // version dir must hold nothing but the index
    val storePath = Similarity.idxStore(spark, dir, "s26")
    val store = spark.read.parquet(storePath)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("chunk_idx"),
        col("bkt").cast("long")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(keyed(store) === keyed(Similarity.rebucketIndex(spark, dir)),
      "store content diverges from the rebuilt index")
    val bktDirs = new java.io.File(localPath(storePath)).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
      .map(_.getName.stripPrefix("bkt=").toLong)
    assert(bktDirs.exists(_ >= 64L),
      "on-disk layout did not widen past the old 2^6 keyspace")
    val leftovers = new java.io.File(localPath(storePath)).getParentFile
      .listFiles().map(_.getName).filter(_ != "idx")
    assert(leftovers.isEmpty, s"version leftovers: ${leftovers.toSeq}")
  }

  test("banded store (s25): filtered serving is row-identical to s22's " +
    "map-filter; the scan partition-prunes qband statically and bkt " +
    "dynamically with the residual predicate pushed to parquet") {
    val s25df = graft.SparkEntry.queries("s25_banded_store")(spark, dir)
    val got = s25df.collect().map(_.toSeq).toSeq
    val s22 = graft.SparkEntry.queries("s22_filtered_retrieve")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got === s22, "the banded layout changed serving results")
    val plan = s25df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // pinned to the committed CONSTANTS, not their current values — a
    // floor retune keeps these assertions aligned with the contract
    assert(plan.matches(
      s"(?s).*PartitionFilters:[^\\n]*qband[^\\n]*>= ${Similarity.s25FloorBand}.*"),
      "qband band floor is not a static partition filter")
    assert(plan.matches("(?s).*PartitionFilters:[^\\n]*dynamicpruning[^\\n]*.*"),
      "no dynamic bucket pruning on the banded store scan")
    assert(plan.matches(
      s"(?s).*PushedFilters:[^\\n]*GreaterThanOrEqual\\(quality_score," +
        s"${Similarity.s22QualityFloor}\\).*"),
      "residual quality predicate not pushed to the parquet scan")
  }

  test("banded re-bucket (s29): the geometry swap carries the band " +
    "layout — serving equals the in-memory filtered twin under planes+1, " +
    "the swapped store partitions on BOTH dims with the widened " +
    "keyspace, and the s25 pruning plan shape survives the re-bucket") {
    import org.apache.spark.sql.functions.col
    val s29df = graft.SparkEntry.queries("s29_banded_rebucket")(spark, dir)
    val got = s29df.collect().map(_.toSeq).toSeq
    // in-memory twin: the rebuilt (planes+1) index, filtered exactly —
    // the banded layout must be invisible to results (the s25 claim,
    // replayed under the new geometry)
    val twin = Similarity.retrieveTopK(
      Similarity.s10QueryFrame(spark, dir),
      Similarity.rebucketIndex(spark, dir)
        .filter(col("quality_score") >= Similarity.s22QualityFloor),
      Similarity.s26Planes, 5).collect().map(_.toSeq).toSeq
    assert(got === twin,
      "banded re-bucket serving diverged from the filtered rebuilt index")
    // the swapped store carries both partition dims, and the bucket
    // keyspace actually widened past 2^6 on disk
    val storePath = Similarity.idxStore(spark, dir, "s29")
    val bktDirs = new java.io.File(localPath(storePath)).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
    assert(bktDirs.nonEmpty)
    assert(bktDirs.map(_.getName.stripPrefix("bkt=").toLong)
      .exists(_ >= 64L), "on-disk keyspace did not widen past 2^6")
    assert(bktDirs.forall(_.listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("qband="))),
      "band dimension lost in the re-bucket rewrite")
    // the s25 plan contract survives the geometry swap: static band
    // pruning, dynamic bucket pruning, residual pushed to parquet
    val plan = s29df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.matches(
      s"(?s).*PartitionFilters:[^\\n]*qband[^\\n]*>= ${Similarity.s25FloorBand}.*"),
      "qband band floor is not a static partition filter")
    assert(plan.matches("(?s).*PartitionFilters:[^\\n]*dynamicpruning[^\\n]*.*"),
      "no dynamic bucket pruning on the re-bucketed banded store scan")
    assert(plan.matches(
      s"(?s).*PushedFilters:[^\\n]*GreaterThanOrEqual\\(quality_score," +
        s"${Similarity.s22QualityFloor}\\).*"),
      "residual quality predicate not pushed to the parquet scan")
  }

  test("lifecycle store versioning: a LAZY serving frame handed out " +
    "before a later rebuild still reads its own immutable snapshot; " +
    "vacuum retention keeps exactly the previous version") {
    // Round-15 advice: the old wipe-in-place protocol let invocation
    // N+1 delete the store invocation N's lazy frame was still reading
    // (FileNotFound / mixed-lifecycle reads) — the contract was prose.
    // Snapshot isolation makes it structural: each build lands in a
    // fresh v<n> dir; the previous version survives one rebuild.
    val first = graft.SparkEntry.queries("s25_banded_store")(spark, dir)
    val firstStore = Similarity.idxStore(spark, dir, "s25")
    graft.SparkEntry.queries("s25_banded_store")(spark, dir)
    val secondStore = Similarity.idxStore(spark, dir, "s25")
    assert(firstStore !== secondStore,
      "rebuild did not allocate a fresh store version")
    assert(new java.io.File(localPath(firstStore)).exists(),
      "previous version vacuumed while a reader could still hold it")
    // the first frame EXECUTES only now, after the rebuild — it must
    // serve its own snapshot, not race the new lifecycle
    val s22 = graft.SparkEntry.queries("s22_filtered_retrieve")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(first.collect().map(_.toSeq).toSeq === s22,
      "pre-rebuild frame did not serve its own snapshot")
    // a third rebuild retires the first version (bounded footprint —
    // the vacuum-retention window is {current, previous})
    graft.SparkEntry.queries("s25_banded_store")(spark, dir)
    assert(!new java.io.File(localPath(firstStore)).exists(),
      "vacuum retention did not retire versions beyond the window")
  }

  test("s30 version diff: reads the {current, previous} retention " +
    "window; diff reconciles with the modular slices; net-effect rule") {
    val out = Similarity.queries("s30_version_diff")(spark, dir).collect()
    // ONE published version holds both logical sides (round-17 review:
    // two real published versions would consume the whole vacuum
    // window in one invocation — a later rebuild would retire the prev
    // side under a live lazy reader)
    val store = Similarity.idxStore(spark, dir, "s30")
    assert(new java.io.File(localPath(s"$store/prev")).exists() &&
      new java.io.File(localPath(s"$store/curr")).exists(),
      "one snapshot must materialize both diff sides")
    // reconcile against the defining slices: added = arrival docs not
    // tombstoned; removed = tombstoned docs that were in previous
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val ch = r.getAs[String]("change")
      if (ch == "added") {
        assert(id % Dedup.d11Mod === Dedup.d11Res)
        assert(r.getAs[Long]("n_prev") === 0L)
      } else {
        assert(id % Similarity.s24DelMod === Similarity.s24DelRes)
        assert(r.getAs[Long]("n_curr") === 0L)
        // net-effect rule: an arriving doc that is ALSO tombstoned
        // never reports as removed (it was absent from previous too)
        assert(id % Dedup.d11Mod !== Dedup.d11Res)
      }
    }
    assert(out.map(_.getAs[String]("change")).toSet === Set("added", "removed"),
      "replayed lineage must exercise both diff directions")
    // PINNED CONTRACT (round-18 advice): the row basis for version
    // diffs is the SERVED index chain (post the encode's cn>0 drop —
    // what the store actually serves), NOT raw c3 corpus chunks. A
    // version diff answers "what changed in what the store serves";
    // zero-norm chunks can never score under cosine, so counting them
    // would report phantom changes no query can observe. Pin: every
    // added doc's n_curr equals its chunk count in retrievalIndex.
    val idxCounts = Similarity.retrievalIndex(spark, dir)
      .groupBy("doc_id").count().collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    out.filter(_.getAs[String]("change") == "added").foreach { r =>
      assert(r.getAs[Long]("n_curr") ===
        idxCounts(r.getAs[Long]("doc_id")),
        "s30 row basis must be the served index chain")
    }
  }

  test("s31 ann recall: bounded, per-variant means reconcile, " +
    "multi-probe never below single-probe") {
    val out = Similarity.queries("s31_ann_recall")(spark, dir).collect()
    val byVariant = out.groupBy(_.getAs[String]("variant"))
    assert(byVariant.keySet === Set("ivfpq_p1", s"ivfpq_p${Similarity.ivfProbes}"))
    byVariant.foreach { case (_, rows) =>
      assert(rows.length === 10) // one row per query
      rows.foreach { r =>
        val rec = r.getAs[Double]("recall")
        assert(rec >= 0.0 && rec <= 1.0)
        assert(math.abs(rec - r.getAs[Long]("n_hits").toDouble /
          Similarity.s31K) < 1e-6)
      }
      // the mean column riding each row reconciles with its rows
      val mean = rows.map(_.getAs[Double]("recall")).sum / rows.length
      rows.foreach(r =>
        assert(math.abs(r.getAs[Double]("mean_recall") - mean) < 1e-5))
    }
    // the recall/cost dial: a superset candidate pool can only help
    val m1 = byVariant("ivfpq_p1").head.getAs[Double]("mean_recall")
    val m2 = byVariant(s"ivfpq_p${Similarity.ivfProbes}")
      .head.getAs[Double]("mean_recall")
    assert(m2 >= m1, s"multi-probe mean recall $m2 below single-probe $m1")
  }

  test("store versioning under a FAILED build: retention keys on " +
    "PUBLISHED versions — a failed partial neither publishes nor " +
    "shifts the vacuum window off the version a reader still holds, " +
    "and the partial itself is retired by the next success") {
    // a published version a reader could be holding
    graft.SparkEntry.queries("s26_rebucket_rebuild")(spark, dir)
    val held = Similarity.idxStore(spark, dir, "s26")
    assert(new java.io.File(localPath(held)).exists())
    // a build of the same root that fails: the allocated version
    // stays unpublished
    intercept[IllegalStateException] {
      graft.core.StoreFs.buildVersion(spark,
        Similarity.storeRoot(spark, dir, "s26")) { _ =>
        throw new IllegalStateException("injected build failure")
      }
    }
    assert(Similarity.idxStore(spark, dir, "s26") === held,
      "a failed build must not publish")
    // the next SUCCESSFUL build keeps {new, held} — if retention were
    // keyed on allocation numbers the failed partial would shift the
    // window and delete `held` out from under its reader
    graft.SparkEntry.queries("s26_rebucket_rebuild")(spark, dir)
    val current = Similarity.idxStore(spark, dir, "s26")
    assert(current !== held)
    assert(new java.io.File(localPath(held)).exists(),
      "failed build shifted the vacuum window onto a held version")
    val versions = new java.io.File(localPath(held)).getParentFile.getParentFile
      .listFiles().filter(_.getName.startsWith("v")).map(_.getName).toSet
    val expect = Set(held, current)
      .map(p => new java.io.File(localPath(p)).getParentFile.getName)
    assert(versions === expect,
      s"vacuum left unexpected versions: $versions (want $expect)")
  }

  test("BM25 vs TF-IDF sparse legs on shared qids: overlap@5 and exact-" +
    "rank agreement are measured and floored; the production-leg claim " +
    "is quantified, not prose") {
    // Same query window (doc_id < 8), same postings artifact, same
    // tie-breaks — the ONLY variable is the scoring function (linear
    // tf·idf vs saturated, length-normalized BM25), so the measured
    // disagreement IS the scoring function's effect.
    def legMap(rows: Array[org.apache.spark.sql.Row], rkCol: String) =
      rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[Any]("doc_id"), r.getAs[Any]("chunk_idx"))
          -> r.getAs[Int](rkCol)).toMap
      }
    val tfidf = legMap(Similarity.s16SparseLeg(spark, dir).collect(),
      "sparse_rk")
    val bm25 = legMap(
      graft.SparkEntry.queries("s17_bm25")(spark, dir).collect(), "rk")
    assert(tfidf.keySet === bm25.keySet, "legs answered different qids")
    val perQid = tfidf.keys.toSeq.sorted.map { q =>
      val (a, b) = (tfidf(q), bm25(q))
      val shared = a.keySet intersect b.keySet
      val overlap = shared.size.toDouble / math.max(a.size, b.size)
      val rankMatch = if (shared.isEmpty) 0.0
        else shared.count(k => a(k) == b(k)).toDouble / shared.size
      (q, overlap, rankMatch)
    }
    val meanOverlap = perQid.map(_._2).sum / perQid.size
    val meanRankMatch = perQid.map(_._3).sum / perQid.size
    info(f"overlap@5 mean=$meanOverlap%.3f  exact-rank match on shared=" +
      f"$meanRankMatch%.3f  per-qid=${perQid.map(t => f"${t._1}:${t._2}%.1f").mkString(" ")}")
    // Floors sit just under the MEASURED values on the committed
    // fixture (deterministic legs; 2026-08-15: overlap@5 = 0.450,
    // exact-rank match on shared = 0.217 — BM25's tf saturation +
    // length normalization reorders roughly half the TF-IDF top-5,
    // which is exactly why it ships as the production leg). A postings
    // or scoring regression that collapses either leg moves these
    // sharply in one direction or the other.
    assert(meanOverlap >= 0.4 && meanOverlap <= 0.9,
      f"BM25-vs-TF-IDF top-5 overlap left its measured band: $meanOverlap%.3f")
    assert(meanRankMatch >= 0.1 && meanRankMatch <= 1.0)
    // and the two scoring functions genuinely DISAGREE — if they were
    // rank-identical the BM25 leg would be dead weight
    assert(perQid.exists(t => t._2 < 1.0 || t._3 < 1.0),
      "BM25 ranked identically to TF-IDF on every qid — suspicious")
  }

  test("s11 centroid refresh: matches a plain-Scala mini-batch update " +
    "exactly; refreshed model tracks the exact one-step union recompute " +
    "(movement tolerance); assignment parity vs that recompute is high") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val isBatch = (id: Long) => id % Similarity.s11Mod == Similarity.s11Res
    val base = emb.filter(kv => !isBatch(kv._1))
    val batch = emb.filter(kv => isBatch(kv._1))
    def d2(v: Array[Double], c: Array[Double]): Double =
      v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def nearest(v: Array[Double], cs: Map[Int, Array[Double]]): Int =
      cs.map { case (c, cv) => (c, d2(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // reference base Lloyd (the s7 test's reimplementation, base slice)
    var cents: Map[Int, Array[Double]] =
      Similarity.s11InitIds.map(id => id.toInt -> emb(id)).toMap
    (1 to Similarity.kmeansIters).foreach { _ =>
      val assign = base.map { case (id, v) => id -> nearest(v, cents) }
      // like the s7 reference: an emptied cell DROPS from the centroid
      // map (the operator's recompute is a groupBy over assigned rows —
      // keeping the stale centroid here would mask that divergence)
      cents = assign.groupBy(_._2).map { case (c, m) =>
        val vs = m.keys.map(base).toArray
        c -> Array.tabulate(64)(d => r6(vs.map(_(d)).sum / vs.size))
      }.toMap
    }
    val baseAssign = base.map { case (id, v) => id -> nearest(v, cents) }
    val batchAssign = batch.map { case (id, v) => id -> nearest(v, cents) }
    // reference mini-batch refresh: count-weighted convex combination
    val refreshed = cents.map { case (c, old) =>
      val n = baseAssign.count(_._2 == c)
      val bs = batchAssign.collect { case (id, cl) if cl == c => batch(id) }
      val m = bs.size
      c -> (if (n + m == 0) old.map(r6)
            else Array.tabulate(64)(d => r6((n * old(d) +
              bs.map(_(d)).sum) / (n + m))), n.toLong, m.toLong)
    }
    // 1) the operator output equals the reference rule exactly
    val got = graft.SparkEntry.queries("s11_centroid_refresh")(spark, dir)
      .collect().map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_base"), r.getAs[Long]("n_batch"),
          r.getAs[Double]("shift"), r.getAs[Double]("n2_new"))).toMap
    assert(got.keySet === refreshed.keySet)
    refreshed.foreach { case (c, (nv, n, m)) =>
      val (gn, gm, gShift, gN2) = got(c)
      assert(gn === n, s"cluster $c n_base")
      assert(gm === m, s"cluster $c n_batch")
      val refShift = r6(math.sqrt(d2(nv, cents(c))))
      assert(math.abs(gShift - refShift) < 1e-6, s"cluster $c shift")
      val refN2 = r6(nv.map(x => x * x).sum)
      assert(math.abs(gN2 - refN2) < 1e-6, s"cluster $c n2_new")
    }
    // 2) the refreshed model tracks the EXACT one-step recompute over
    // the union (mean of all base+batch members per cell, assigned
    // under the pre-refresh model) — the offline recompute an s7 rerun
    // would take as its next iterate
    val offline = cents.map { case (c, old) =>
      val vs = (baseAssign.collect { case (id, cl) if cl == c => base(id) }
        ++ batchAssign.collect { case (id, cl) if cl == c => batch(id) })
        .toArray
      c -> (if (vs.isEmpty) old.map(r6)
            else Array.tabulate(64)(d => r6(vs.map(_(d)).sum / vs.size)))
    }
    val moves = refreshed.map { case (c, (nv, _, _)) =>
      c -> math.sqrt(d2(nv, offline(c)))
    }
    info(s"refresh-vs-offline L2 per cluster: " +
      moves.map { case (c, v) => f"$c:$v%.4f" }.mkString(" "))
    // the two rules differ only by n·(old − current-base-mean)/(n+m) —
    // small once the base Lloyd has converged
    moves.values.foreach(v => assert(v < 0.05, f"drift $v%.4f"))
    // 3) assignment parity at convergence: the refreshed and offline
    // models must agree on (nearly) every vector's cluster
    val parity = emb.count { case (_, v) =>
      nearest(v, refreshed.map { case (c, (nv, _, _)) => c -> nv }) ==
        nearest(v, offline)
    }.toDouble / emb.size
    info(f"assignment parity refreshed-vs-offline: $parity%.4f")
    assert(parity >= 0.95, f"parity $parity%.4f")
  }

  test("s32 post-event recall: both legs read the swapped store — " +
    "store ≡ planes+1 rebuild, recall reconciles, served ⊆ exact domain") {
    val out = Similarity.queries("s32_post_event_recall")(spark, dir)
      .collect()
    assert(out.nonEmpty && out.length <= Similarity.s10QueryDocs)
    out.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - r.getAs[Long]("n_hits").toDouble /
        Similarity.s10K) < 1e-6)
    }
    val mean = out.map(_.getAs[Double]("recall")).sum / out.length
    out.foreach(r =>
      assert(math.abs(r.getAs[Double]("mean_recall") - mean) < 1e-5))
    // the post-event artifact the eval ran on IS the planes+1 rebuild:
    // swapped store content ≡ the staged rebucket index (the s26 pin,
    // re-asserted on s32's own lineage — recall measured anywhere else
    // would not adjudicate THIS store)
    val store = Similarity.idxStore(spark, dir, "s32")
    val stored = spark.read.parquet(store)
      .select("doc_id", "chunk_idx", "bkt")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[Any]("bkt").toString.toLong))
      .toSet
    val rebuilt = Similarity.rebucketIndex(spark, dir)
      .select("doc_id", "chunk_idx", "bkt")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("chunk_idx"), r.getAs[Long]("bkt")))
      .toSet
    assert(stored === rebuilt,
      "s32 store after the swap must equal the planes+1 rebuild")
  }

  test("kForCorpus: K tracks corpus size at fixed occupancy") {
    assert(Similarity.kForCorpus(1000) === 1)
    assert(Similarity.kForCorpus(4096) === 1)
    assert(Similarity.kForCorpus(4097) === 2)
    // 10^9 vectors: ~244k clusters of ~4k — the SemDeDup regime
    assert(Similarity.kForCorpus(1_000_000_000L) === 244141)
    // doubling the corpus doubles K (fixed occupancy => linear pair cost)
    assert(Similarity.kForCorpus(1L << 24) === 2 * Similarity.kForCorpus(1L << 23))
  }
}

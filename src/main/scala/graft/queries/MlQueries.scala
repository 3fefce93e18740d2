package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Registry
import graft.core.Tables.t
import graft.ml.{AbtSplits, ChampionModel, Scoring}

/** ML-surface queries (SURVEY.md §2.9) — the reference's model stage
  * (scripts/05_ml_model.py) as engine entry points over the star schema:
  * seeded OOT/key split → imputer+RF MLlib pipeline → scored frames.
  *
  * No DuckDB oracle (tree ensembles aren't SQL-expressible; the driver
  * records the weaker rows-only check). Determinism within the engine is
  * pinned by seed 42 + fixed input partitioning; metric-level assertions
  * live in MlSpec (SURVEY.md §5.2.5).
  */
object MlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** ABT with deliberately-nullable feature columns (customers without
    * urgent orders have NULL urgent aggregates → the imputer battery has
    * real work, mirroring the reference's sprint columns). */
  private def abtPlan(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders").cast("double").as("n_orders"),
        sum("o_totalprice").as("total_spent"),
        avg("o_totalprice").as("avg_price"),
        avg(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")))
          .as("avg_urgent_price"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
          .cast("double").as("n_urgent"))
    val w = Window.partitionBy("yr").orderBy(desc("total_spent"), col("o_custkey"))
    base
      .withColumn("rn", row_number().over(w))
      .withColumn("fl_champ", when(col("rn") <= 20, 1).otherwise(0))
      .drop("rn")
  }

  /** The ABT: m1/m3/m4 and the model fit all read it, and at
    * driver-bench scale the recomputation (a shuffle + window over
    * orders) dominated m1's cold cost. */
  private[graft] def abt(s: SparkSession, dir: String): DataFrame =
    Registry.frame("abt", s, dir)(abtPlan(s, dir))

  private val features =
    Seq("n_orders", "total_spent", "avg_price", "avg_urgent_price", "n_urgent")

  /** The fitted champion model: the three ML queries share one
    * deterministic fit (seed 42), like a production model store. */
  private[graft] def model(s: SparkSession, dir: String) =
    Registry.value[org.apache.spark.ml.PipelineModel]("model", s, dir) {
      val sp = AbtSplits.split(abt(s, dir), "o_custkey", "yr", 1998)
      // Content-hash partitioning (not round-robin) + in-partition sort +
      // persist before the multi-pass RF fit: MLlib's bagging/split-
      // finding RNG streams are keyed on (partition index, row order), so
      // BOTH must be content-deterministic for the fit (and the golden
      // metrics MlSpec pins) to reproduce across cluster layouts; the
      // persist also lets the imputer/assembler/forest passes hit warm
      // blocks instead of re-running the split join per tree pass.
      val train = sp.train.repartition(8, col("o_custkey"))
        .sortWithinPartitions("o_custkey", "yr")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      train.count()
      try ChampionModel.fit(train, features,
        impute99 = Seq("avg_urgent_price"), impute0 = Nil)
      finally train.unpersist(false)
    }

  /** M1-M7: split → fit → score the OOT year; per-row probabilities. */
  val m1RfScore: Q = (s, dir) => {
    val data = abt(s, dir)
    val sp = AbtSplits.split(data, "o_custkey", "yr", 1998)
    ChampionModel.score(model(s, dir), sp.oot)
      .select(col("yr"), col("o_custkey"), col("fl_champ"),
        col("prediction"), round(col("p_champ"), 4).as("p_champ"))
      .orderBy("o_custkey")
  }

  /** The m5/m7 golden-dispatch key for the RF-model family — the OOT
    * row count, which DuckDB CAN recompute from the ABT and which is
    * distinct across the committed scales (118 / 1146 / 11708). */
  private def nOotKey(s: SparkSession, dir: String): DataFrame =
    AbtSplits.split(abt(s, dir), "o_custkey", "yr", 1998)
      .oot.agg(count(lit(1)).as("n_oot"))

  /** M8: feature importances of the fitted forest (>0, desc).
    * GOLDEN-DISPATCH ORACLED since round 19 (VERDICT r18 item 4): the
    * seed-42 fit is bit-deterministic ([[model]]'s content-hash
    * partitioning — the same determinism m5's histogram already
    * banks on), so the 5-row importance vector is a stable golden;
    * the oracle pins it per scale as VALUES and dispatches on the
    * DuckDB-recomputable OOT row count, which rides along as `n_oot`
    * exactly like m5. MlSpec's coefficient-level pin remains the
    * fit-nondeterminism diagnostic. */
  val m2FeatureImportance: Q = (s, dir) => {
    val imp = ChampionModel.featureImportances(model(s, dir), features)
    import s.implicits._
    imp.toDF("feature", "importance")
      .select(col("feature"), round(col("importance"), 4).as("importance"))
      .join(broadcast(nOotKey(s, dir)))
      .select(col("n_oot"), col("feature"), col("importance"))
      .orderBy(desc("importance"), col("feature"))
  }

  /** M9+O4+U5: top-5 at last period + the keep-last/pivot race table for
    * those entities, unioned shapes exercised on real scored output. */
  val m3TopTrajectories: Q = (s, dir) => {
    val data = abt(s, dir)
    val scored = ChampionModel.score(model(s, dir), data)
    val top = Scoring.topAtLastPeriod(scored, "o_custkey", "yr", k = 5)
      .collect().map(_.get(0).toString).toSeq
    // GOLDEN-DISPATCH ORACLED since round 19 (VERDICT r18 item 4): the
    // ≤5×years trajectory frame is deterministic given the seed-pinned
    // fit, so it is pinned per scale as VALUES dispatched on the same
    // n_oot key as m2/m5; MlSpec's m1 prediction-frame hash remains
    // the upstream fit-vs-plumbing diagnostic.
    Scoring.trajectories(
      scored.withColumn("o_custkey", col("o_custkey").cast("string")),
      "o_custkey", "yr", top)
      .select(col("o_custkey"), col("yr"), round(col("p_pct"), 3).as("p_pct"))
      .join(broadcast(nOotKey(s, dir)))
      .select(col("n_oot"), col("o_custkey"), col("yr"), col("p_pct"))
      .orderBy("yr", "o_custkey")
  }

  /** M4/M5 (deterministic half): fixed-coefficient logistic scorer over the
    * same ABT features + imputation semantics as the RF path. Tree
    * ensembles can't be SQL-oracled, but the ABT → impute(99) → score →
    * present chain CAN — this entry puts it inside the DuckDB hash gate,
    * so m* is no longer oracle-free. Coefficients are fixed constants
    * (not learned); the sigmoid is evaluated in the same left-fold term
    * order in both engines. */
  val m4LogisticScore: Q = (s, dir) => {
    val z = lit(-3.0) +
      col("n_orders") * lit(0.05) +
      col("total_spent") * lit(2.0e-7) +
      col("avg_price") * lit(1.0e-6) +
      coalesce(col("avg_urgent_price"), lit(99.0)) * lit(1.0e-6) +
      col("n_urgent") * lit(0.1)
    abt(s, dir).filter(col("yr") === 1998)
      .select(col("yr"), col("o_custkey"), col("fl_champ"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p_logistic"))
      .orderBy("o_custkey")
  }

  /** M5 (distributional oracle for the RF path, round-9 VERDICT item 6):
    * binned P(champion) histogram of the scored OOT frame. Tree-ensemble
    * SCORES aren't SQL-recomputable, but the seed-42 fit is bit-
    * deterministic (content-hash partitioned train, see [[model]]), so
    * the DISTRIBUTION is a stable golden: the oracle carries the pinned
    * histogram as a VALUES list per scale and DISPATCHES on the OOT row
    * count — which DuckDB CAN recompute from the ABT — so one static SQL
    * stays green at both the sf0.01 gate and the sf0.1 cross-scale
    * sweep. `n_oot` rides along in the result to key the dispatch.
    * This puts the whole ABT → split → impute → assemble → RF-score
    * plumbing inside the driver's hash gate (m1's per-row frame stays
    * rows-only + MlSpec golden-hash). */
  val m5ScoreHistogram: Q = (s, dir) => {
    val data = abt(s, dir)
    val sp = AbtSplits.split(data, "o_custkey", "yr", 1998)
    val scored = ChampionModel.score(model(s, dir), sp.oot)
      .select(least(floor(round(col("p_champ"), 4) / 0.05), lit(19.0))
        .cast("int").as("bin"))
    val hist = scored.groupBy("bin").agg(count(lit(1)).as("n_custs"))
    hist.join(broadcast(hist.agg(sum("n_custs").as("n_oot"))))
      .select(col("n_oot"), col("bin"), col("n_custs"))
      .orderBy("bin")
  }

  /** Deterministic LABEL RULE of the quality-classifier family
    * (round-11 verdict item 2): a document is "good" iff its
    * fixed-weight quality score clears the threshold AND the langid
    * heuristic reads English. Deliberately NOT a pure function of the
    * m7 feature vector (lang_pred is held out), so the fit has
    * irreducible noise like a real labeling pass — and the rule itself
    * is DuckDB-oracled through m6's label column. */
  private val qLabelFloor = 0.55

  private def qLabel =
    when(col("quality_score") >= qLabelFloor &&
      col("lang_pred") === "en", 1).otherwise(0)

  /** Annotation-stage features + label — the training frame of the
    * quality classifier. One projection of the persisted per-document
    * annotation silver stage (TextAnalysis.annotations): the
    * "annotate once, train many" layout — NO regex pass runs here. */
  private def annotFeatures(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.annotations(s, dir)
      .select(col("doc_id"), col("len_chars"), col("n_words"),
        col("punct_ratio"), col("stop_ratio"), col("avg_word_len"),
        col("quality_score"), col("lang_pred"))
      .withColumn("label", qLabel)

  /** M6 (deterministic half of the quality-classifier path, the m4
    * pattern): fixed-coefficient logistic over the annotation features
    * + the label rule, fully DuckDB-oracled — every feature, the label,
    * and the sigmoid fold order sit inside the hash gate. The fitted
    * path (m7) rides the same features and label. */
  val m6QualityScore: Q = (s, dir) => {
    val z = lit(-2.0) +
      col("quality_score") * lit(3.0) +
      col("stop_ratio") * lit(0.5) -
      col("punct_ratio") * lit(2.0) +
      col("avg_word_len") * lit(0.01) +
      col("n_words") * lit(0.002)
    annotFeatures(s, dir)
      .select(col("doc_id"), col("label"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("p_quality"))
      .orderBy("doc_id")
  }

  /** The (n_docs, n_pos) GOLDEN-DISPATCH KEY — engine side. Every
    * golden-VALUES oracle (m7/u14/c4, Similarity's s23) dispatches its
    * pinned rows on this pair: corpus doc count + positive-label count
    * under the m6 rule, jointly distinct across the swept scales
    * (n_docs alone collides — sf0.001 and sf0.01 both hold 500 docs)
    * and recomputable by DuckDB through the m6 chain
    * ([[dispatchKeyCtes]] is the same key as SQL text). */
  private[graft] def goldenDispatchKey(s: SparkSession,
                                       dir: String): DataFrame =
    annotFeatures(s, dir).agg(count(lit(1)).as("n_docs"),
      sum(col("label")).cast("bigint").as("n_pos"))

  /** The dispatch key as oracle CTEs (`lab`, `k`) — ONE text shared by
    * every golden-VALUES oracle so the key rule cannot desynchronize
    * across gates. */
  private[graft] lazy val dispatchKeyCtes: String =
    s"""lab AS (SELECT label FROM ($m6Sql)),
          k AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(label) AS BIGINT) AS n_pos FROM lab)"""

  /** Feature columns of the TRAINED quality classifier (m7). lang_pred
    * is excluded — it is half the label rule (see [[qLabel]]). */
  private val qFeatures =
    Seq("len_chars", "n_words", "punct_ratio", "stop_ratio", "avg_word_len")

  /** The TRAINED quality model: MLlib logistic regression fit on the
    * annotation silver stage against the deterministic label rule —
    * the production shape where t2's fixed weights are replaced by a
    * classifier trained on labeled documents. Determinism is pinned the
    * m3 way: content-hash partitioning + in-partition sort
    * + persist before the multi-pass LBFGS fit, so gradient
    * aggregation order is content-deterministic and the fitted
    * coefficients (and m7's golden histogram + MlSpec metrics)
    * reproduce across hosts and input layouts. */
  private[graft] def qualityModel(s: SparkSession,
                                  dir: String): org.apache.spark.ml.PipelineModel =
    Registry.value[org.apache.spark.ml.PipelineModel](
        "qualityModel", s, dir) {
      val train = annotFeatures(s, dir)
        .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      train.count()
      try {
        val assembler = new org.apache.spark.ml.feature.VectorAssembler()
          .setInputCols(qFeatures.toArray).setOutputCol("features")
        val lr = new org.apache.spark.ml.classification.LogisticRegression()
          .setLabelCol("label").setFeaturesCol("features")
          .setMaxIter(50).setTol(1e-7).setRegParam(0.0)
          .setStandardization(true)
        new org.apache.spark.ml.Pipeline()
          .setStages(Array(assembler, lr)).fit(train)
      } finally train.unpersist(false)
    }

  /** Corpus scored by the trained quality model: doc_id, label,
    * P(good). Spec-level surface (MlSpec pins accuracy/AUC goldens);
    * the registry gate is m7's histogram. */
  private[graft] def qualityScored(s: SparkSession, dir: String): DataFrame =
    qualityModel(s, dir).transform(annotFeatures(s, dir))
      .select(col("doc_id"), col("label"), col("prediction"),
        col("rawPrediction"),
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).as("p_good"))

  /** M7 (distributional oracle for the trained path, the m5 pattern):
    * binned P(good) histogram of the corpus under the fitted model.
    * LBFGS coefficients aren't SQL-recomputable, but the fit is
    * content-deterministic (see [[qualityModel]]), so the histogram is
    * a stable golden: the oracle pins it per scale as VALUES and
    * dispatches on the corpus doc count — which DuckDB CAN recompute —
    * putting the annotate → label → assemble → fit → score plumbing
    * inside the driver's hash gate at every swept scale. */
  val m7QualityHistogram: Q = (s, dir) => {
    // dispatch key = (corpus count, positive-label count): BOTH DuckDB-
    // recomputable through the m6 chain, and jointly distinct across
    // the swept scales (n_docs alone collides: sf0.001 and sf0.01 both
    // hold 500 documents). ONE scoring pass: the (bin, label) cell
    // counts are aggregated once and both the key and the histogram
    // derive from that bounded (≤2×20-row) frame — key+hist as two
    // independent aggs over the un-persisted scored frame would run
    // the model transform over the corpus twice (round-12 review).
    val cells = qualityScored(s, dir)
      .select(col("label"),
        least(floor(round(col("p_good"), 4) / 0.05), lit(19.0))
          .cast("int").as("bin"))
      .groupBy("bin", "label").agg(count(lit(1)).as("n"))
    // single-partition window over the ALREADY-AGGREGATED cell frame
    // (≤ 2 labels × 20 bins rows, never corpus-scale) — the WindowExec
    // "No Partition Defined" warning is expected and harmless here
    val w = Window.partitionBy(lit(0))
    cells
      .withColumn("n_docs", sum("n").over(w))
      .withColumn("n_pos",
        sum(when(col("label") === 1, col("n")).otherwise(lit(0L))).over(w))
      .groupBy("bin")
      .agg(max("n_docs").as("n_docs"), max("n_pos").as("n_pos"),
        sum("n").as("n_docs_bin"))
      .select(col("n_docs"), col("n_pos"), col("bin"), col("n_docs_bin"))
      .orderBy("bin")
  }

  /** u13 curriculum geometry: quality bands (fixed-width over [0,1] —
    * prof3/prof6's deterministic-edges argument), training phases, and
    * within-phase shards. */
  private[queries] val u13Bands = 16
  private[queries] val u13Phases = 4
  private[queries] val u13Shards = 8

  /** The banded two-level curriculum layout over any per-document
    * 6-dp-rounded score frame (`doc_id`, `p6`, pass-through columns):
    * band by fixed-width quality band, rank locally within band
    * (p6 desc, doc_id), add broadcast cumulative band offsets — no
    * global sort. Band is a monotone function of p6, so the resulting
    * positions EQUAL the global (p6 desc, doc_id) rank (MlSpec asserts
    * this on the trained path). Shared by u13 (m6 fixed-weight score)
    * and u14 (trained m7 score). */
  private def bandedCurriculum(scored: DataFrame): DataFrame = {
    val banded = scored.withColumn("band",
      least(floor(col("p6") * u13Bands).cast("int"), lit(u13Bands - 1)))
    val wLocal = Window.partitionBy("band")
      .orderBy(desc("p6"), col("doc_id"))
    val local = banded.withColumn("lrk", row_number().over(wLocal))
    // cumulative offsets over the bounded band-count frame, highest
    // quality band first (the u11 offsets pattern)
    val wBand = Window.orderBy(desc("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy("band").agg(count(lit(1)).as("bn"))
      .withColumn("band_off", coalesce(sum("bn").over(wBand), lit(0L)))
      .select("band", "band_off")
    val n = scored.agg(count(lit(1)).as("nt"))
    local.join(broadcast(offsets), Seq("band"))
      .crossJoin(broadcast(n))
      .withColumn("curriculum_pos", col("band_off") + col("lrk") - 1)
      .withColumn("phase",
        expr(s"CAST((curriculum_pos * $u13Phases) div nt AS INT)"))
      .withColumn("shard",
        pmod(col("curriculum_pos"), lit(u13Shards.toLong)).cast("int"))
      .drop("lrk", "band_off", "nt")
  }

  /** U13: QUALITY-CURRICULUM ORDERING — the corpus laid out for
    * curriculum training (cleanest data first, annealing to the full
    * mix): every document gets a global curriculum position ordered by
    * the m6 quality score (desc, doc_id tiebreak), a training PHASE
    * (which quarter of the curriculum it falls in) and a within-order
    * SHARD. Consumes the trained-quality family's score the way u11
    * consumes the shuffle hash — the last step between curation and
    * the trainer's data loader.
    *
    * Scale shape: u11's two-level rank layout applied to a SCORE
    * instead of a hash — [[bandedCurriculum]]: band by fixed-width
    * quality band (bounded band-count frame, broadcast cumulative
    * offsets), rank locally within band, add the offset: no global
    * sort of the corpus. Unlike u11's uniform hash, quality bands CAN
    * skew (a one-band corpus degrades to a global sort) — band width
    * is the knob and the s9-style pre-flight is one groupBy away; the
    * gated geometry measures fine at all committed scales.
    * Determinism: the sort key is the 6-dp-ROUNDED score (the lloyd
    * rounding contract — raw sigmoid doubles could order differently
    * across engines in the last ulp), ties by doc_id; phase
    * arithmetic is integral. */
  val u13QualityCurriculum: Q = (s, dir) => {
    val scored = m6QualityScore(s, dir)
      .select(col("doc_id"), round(col("p_quality"), 6).as("p6"))
    bandedCurriculum(scored)
      .select(col("doc_id"), col("p6").as("p_quality"),
        col("curriculum_pos"), col("phase"), col("shard"))
      .orderBy("doc_id")
  }

  /** Trained-score frame (doc_id, label, p6) — the narrow projection
    * of [[qualityScored]] the curriculum consumers read. An artifact
    * because [[bandedCurriculum]] references its input in THREE
    * subtrees (local rank window, band offsets, total count); an
    * un-persisted frame would re-run the model transform over the
    * corpus once per reference (u13 doesn't need this because its m6
    * input is arithmetic over the annotation artifact). */
  private def trainedScore6(s: SparkSession, dir: String): DataFrame =
    Registry.frame("trainedScore6", s, dir) {
      qualityScored(s, dir)
        .select(col("doc_id"), col("label"),
          round(col("p_good"), 6).as("p6"))
    }

  /** Per-document curriculum layout under the TRAINED m7 score — the
    * frame u14 summarizes and MlSpec invariant-checks: [[bandedCurriculum]]
    * over round(p_good, 6), label riding along for the dispatch key. */
  private[graft] def trainedCurriculum(s: SparkSession,
                                       dir: String): DataFrame =
    bandedCurriculum(trainedScore6(s, dir))

  /** U14: TRAINED-QUALITY CURRICULUM (round-12 verdict item 3 — the
    * consumption leg m7 exists for): u13's banded curriculum layout
    * ordered by the TRAINED classifier's P(good) instead of m6's fixed
    * coefficients — the production shape where the curriculum follows
    * the learned quality model. The gated output is the BOUNDED
    * (phase × band) cross-tab of the layout plus the (n_docs, n_pos)
    * dispatch key — the m7 oracle pattern: per-document p_good isn't
    * SQL-recomputable, but the fit is content-deterministic (see
    * [[qualityModel]]; BLAS caveat noted at the m7 oracle), so the
    * cross-tab is a stable golden dispatched on a key DuckDB
    * recomputes through the m6 label chain. The cross-tab gates the
    * whole composition — score binning AND phase arithmetic over the
    * curriculum positions; per-document invariants (permutation,
    * monotone nonincreasing p_good, equality with the global-sort
    * rank, phase/shard arithmetic) live in MlSpec.
    *
    * Scale shape: inherits u13's (banded rank, no global sort;
    * ≤ phases×bands output rows); the single extra cost is the one
    * scoring pass the m7 family shares. ONE pass: cells are
    * aggregated once and key + cross-tab both derive from that
    * bounded (≤ 2·phases·bands row) frame. */
  val u14TrainedCurriculum: Q = (s, dir) => {
    val cells = trainedCurriculum(s, dir)
      .select(col("label"), col("band"), col("phase"))
      .groupBy("phase", "band", "label").agg(count(lit(1)).as("n"))
    // single-partition window over the bounded cross-tab (≤ 2 labels ×
    // phases × bands rows) — the "No Partition Defined" warning in the
    // bench tail comes from here and is by design, not a scale hazard
    val w = Window.partitionBy(lit(0))
    cells
      .withColumn("n_docs", sum("n").over(w))
      .withColumn("n_pos",
        sum(when(col("label") === 1, col("n")).otherwise(lit(0L))).over(w))
      .groupBy("phase", "band")
      .agg(max("n_docs").as("n_docs"), max("n_pos").as("n_pos"),
        sum("n").as("n_docs_cell"))
      .select(col("n_docs"), col("n_pos"), col("phase"), col("band"),
        col("n_docs_cell"))
      .orderBy("phase", "band")
  }

  /** P(good) floor of the trained curation gate (c4) — the trained
    * analog of c1's fixed `c1QualityFloor`. */
  private[queries] val c4PGoodFloor = 0.5

  /** Per-document kept frame of [[c4TrainedCuration]] — exposed so the
    * spec can recompute the gate membership independently of the
    * summarized output. */
  private[graft] def trainedCurationDocs(s: SparkSession,
                                         dir: String): DataFrame = {
    val keepers = graft.operators.Dedup.d1Exact(s, dir)
      .select(col("keeper").as("doc_id"))
    val ann = graft.operators.TextAnalysis.annotations(s, dir)
      .select(col("doc_id"), col("source"), col("lang_pred"),
        col("n_regex_tokens"))
    ann
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(trainedScore6(s, dir), Seq("doc_id"))
      .filter(col("lang_pred") === "en" && col("p6") >= c4PGoodFloor)
  }

  /** C4: TRAINED-QUALITY CURATION GATE (the second consumption leg of
    * round-12 verdict item 3): c1's curation composition — exact-dedup
    * keepers ∩ English ∩ quality floor, annotated with the BPE-ish
    * token count — with the fixed-weight t2 floor REPLACED by the
    * trained classifier's P(good) ≥ [[c4PGoodFloor]], i.e. exactly the
    * production swap m7's scaladoc promises ("the production shape
    * replacing t2's fixed weights"). Gated the u14 way: membership
    * depends on fitted coefficients no SQL can recompute, so the
    * oracle pins the BOUNDED per-source summary (kept count + token
    * sum — the token sum re-gates t1 interop over the kept set) as
    * VALUES dispatched on the DuckDB-recomputable (n_docs, n_pos)
    * key; per-document membership invariants live in MlSpec.
    *
    * Scale shape: every join is doc_id-keyed; the score side is the
    * persisted [[trainedScore6]] artifact, the features side the
    * persisted annotation stage; output is ≤ |sources| rows + the
    * broadcast one-row key. */
  val c4TrainedCuration: Q = (s, dir) => {
    val scored = trainedScore6(s, dir)
    val cells = trainedCurationDocs(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_kept"),
        sum("n_regex_tokens").as("tok_sum"))
    val key = scored.agg(count(lit(1)).as("n_docs"),
      sum("label").cast("bigint").as("n_pos"))
    cells.crossJoin(broadcast(key))
      .select(col("n_docs"), col("n_pos"), col("source"), col("n_kept"),
        col("tok_sum"))
      .orderBy("source")
  }

  /** M8: CALIBRATION AUDIT (reliability table) — the model-ops readout
    * every trained gate needs BEFORE its scores drive curation
    * thresholds (u14/c4 consume score CUTOFFS; a miscalibrated scorer
    * silently shifts every downstream mixture): m4's closed-form
    * logistic scores binned into 10 fixed-width probability bins, per
    * bin the count, mean predicted probability, observed positive
    * rate, and the calibration gap (pred − actual) — the reliability
    * diagram as a relational artifact. Fully oracled because the m4
    * scorer is closed-form (the RF twin m5 stays distribution-golden);
    * the gap is computed from the ROUNDED bin aggregates so both
    * engines difference identical doubles. Scale shape: one map-side
    * bin assignment over the scored frame + an O(bins) aggregate with
    * partial map-side combine — profiling-class cost on any corpus. */
  val m8Calibration: Q = (s, dir) => {
    m4LogisticScore(s, dir)
      .withColumn("bin",
        least(floor(col("p_logistic") * 10), lit(9)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg("p_logistic"), 6).as("mean_pred"),
        round(avg(col("fl_champ").cast("double")), 6).as("pos_rate"))
      .withColumn("gap", round(col("mean_pred") - col("pos_rate"), 6))
      .orderBy("bin")
  }

  val queries: Map[String, Q] = Map(
    "m1_rf_score" -> m1RfScore,
    "m2_feature_importance" -> m2FeatureImportance,
    "m3_top_trajectories" -> m3TopTrajectories,
    "m4_logistic_score" -> m4LogisticScore,
    "m8_calibration" -> m8Calibration,
    "m5_score_histogram" -> m5ScoreHistogram,
    "m6_quality_score" -> m6QualityScore,
    "m7_quality_histogram" -> m7QualityHistogram,
    "u13_quality_curriculum" -> u13QualityCurriculum,
    "u14_trained_curriculum" -> u14TrainedCurriculum,
    "c4_trained_curation" -> c4TrainedCuration,
  )

  /** DuckDB twin of `abtPlan` — the oracle recomputes the full ABT
    * (aggregates, NULL-preserving urgent avg, champion window flag). */
  private val abtSql =
    """abt AS (
         SELECT *, CASE WHEN row_number() OVER (
             PARTITION BY yr ORDER BY total_spent DESC, o_custkey) <= 20
           THEN 1 ELSE 0 END AS fl_champ
         FROM (
           SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
             CAST(count(*) AS DOUBLE) AS n_orders,
             sum(o_totalprice) AS total_spent,
             avg(o_totalprice) AS avg_price,
             avg(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN o_totalprice END) AS avg_urgent_price,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1 ELSE 0 END) AS DOUBLE) AS n_urgent
           FROM orders GROUP BY 1, 2))"""

  /** m1 is the tree-ensemble's per-row score frame (not SQL-expressible
    * — rows-only driver check + MlSpec golden hash); m2/m3 are
    * golden-dispatch oracled since round 19; m4 is the oracle-gated
    * deterministic scorer; m5 is
    * the RF path's DISTRIBUTIONAL oracle: the seed-42 fit is
    * bit-deterministic (see [[model]]'s content-hash partitioning), so
    * its binned P(champion) histogram is a stable golden. DuckDB can't
    * recompute RF scores, but it CAN recompute the ABT — the oracle
    * pins the golden histogram per scale as VALUES and dispatches on
    * the OOT row count, so one static SQL holds at both the sf0.01
    * gate and the sf0.1 cross-scale sweep (goldens re-derived
    * 2026-08-14 from two fresh-JVM runs each, byte-identical). */
  private lazy val m6Sql: String =
    s"""WITH q AS (SELECT * FROM
          (${graft.operators.TextAnalysis.oracle("t2_quality")})),
        l AS (SELECT doc_id, lang_pred FROM
          (${graft.operators.TextAnalysis.oracle("t3_langid")}))
        SELECT q.doc_id,
          CASE WHEN q.quality_score >= $qLabelFloor
                AND l.lang_pred = 'en' THEN 1 ELSE 0 END AS label,
          1.0 / (1.0 + exp(-(-2.0
            + q.quality_score * 3.0
            + q.stop_ratio * 0.5
            - q.punct_ratio * 2.0
            + q.avg_word_len * 0.01
            + q.n_words * 0.002))) AS p_quality
        FROM q JOIN l ON l.doc_id = q.doc_id
        ORDER BY q.doc_id"""

  /** c4 golden VALUES rows — (n_docs, n_pos, source, n_kept, tok_sum)
    * per committed scale; harvested from fresh-JVM runs (see the c4
    * oracle comment). */
  private val c4Goldens: String =
    """(500, 352, 'src0', 19, 1417),
            (500, 352, 'src1', 21, 1351),
            (500, 352, 'src10', 18, 1231),
            (500, 352, 'src11', 18, 1228),
            (500, 352, 'src12', 21, 1356),
            (500, 352, 'src13', 16, 1025),
            (500, 352, 'src14', 18, 1434),
            (500, 352, 'src15', 18, 1147),
            (500, 352, 'src16', 20, 1292),
            (500, 352, 'src17', 15, 1070),
            (500, 352, 'src18', 15, 938),
            (500, 352, 'src19', 18, 1099),
            (500, 352, 'src2', 14, 933),
            (500, 352, 'src3', 20, 1424),
            (500, 352, 'src4', 16, 1056),
            (500, 352, 'src5', 12, 767),
            (500, 352, 'src6', 20, 1274),
            (500, 352, 'src7', 13, 892),
            (500, 352, 'src8', 22, 1532),
            (500, 352, 'src9', 17, 1195),
            (500, 343, 'src0', 17, 1162),
            (500, 343, 'src1', 17, 1253),
            (500, 343, 'src10', 19, 1115),
            (500, 343, 'src11', 19, 1307),
            (500, 343, 'src12', 17, 1029),
            (500, 343, 'src13', 20, 1397),
            (500, 343, 'src14', 15, 1065),
            (500, 343, 'src15', 16, 1048),
            (500, 343, 'src16', 16, 1176),
            (500, 343, 'src17', 19, 1207),
            (500, 343, 'src18', 19, 1212),
            (500, 343, 'src19', 16, 903),
            (500, 343, 'src2', 19, 1245),
            (500, 343, 'src3', 18, 1194),
            (500, 343, 'src4', 16, 1038),
            (500, 343, 'src5', 18, 1185),
            (500, 343, 'src6', 14, 1002),
            (500, 343, 'src7', 17, 1242),
            (500, 343, 'src8', 14, 846),
            (500, 343, 'src9', 17, 1120),
            (5000, 3468, 'src0', 167, 11010),
            (5000, 3468, 'src1', 174, 11351),
            (5000, 3468, 'src10', 175, 11449),
            (5000, 3468, 'src11', 175, 11206),
            (5000, 3468, 'src12', 179, 12291),
            (5000, 3468, 'src13', 181, 12155),
            (5000, 3468, 'src14', 167, 10485),
            (5000, 3468, 'src15', 159, 10603),
            (5000, 3468, 'src16', 174, 11369),
            (5000, 3468, 'src17', 179, 11451),
            (5000, 3468, 'src18', 164, 10668),
            (5000, 3468, 'src19', 164, 11113),
            (5000, 3468, 'src2', 177, 11632),
            (5000, 3468, 'src3', 170, 11387),
            (5000, 3468, 'src4', 167, 11069),
            (5000, 3468, 'src5', 186, 12529),
            (5000, 3468, 'src6', 175, 11281),
            (5000, 3468, 'src7', 162, 10258),
            (5000, 3468, 'src8', 187, 12355),
            (5000, 3468, 'src9', 163, 10845)"""

  /** u14 golden VALUES rows — (n_docs, n_pos, phase, band, n) per
    * committed scale; harvested from fresh-JVM runs (see the u14
    * oracle comment). */
  private val u14Goldens: String =
    """(500, 352, 0, 15, 125),
            (500, 352, 1, 15, 125),
            (500, 352, 2, 0, 6),
            (500, 352, 2, 1, 9),
            (500, 352, 2, 2, 5),
            (500, 352, 2, 3, 2),
            (500, 352, 2, 5, 1),
            (500, 352, 2, 8, 2),
            (500, 352, 2, 9, 1),
            (500, 352, 2, 10, 1),
            (500, 352, 2, 13, 2),
            (500, 352, 2, 14, 4),
            (500, 352, 2, 15, 92),
            (500, 352, 3, 0, 125),
            (500, 343, 0, 15, 125),
            (500, 343, 1, 15, 125),
            (500, 343, 2, 0, 32),
            (500, 343, 2, 15, 93),
            (500, 343, 3, 0, 125),
            (5000, 3468, 0, 15, 1250),
            (5000, 3468, 1, 15, 1250),
            (5000, 3468, 2, 0, 132),
            (5000, 3468, 2, 1, 51),
            (5000, 3468, 2, 2, 35),
            (5000, 3468, 2, 3, 29),
            (5000, 3468, 2, 4, 16),
            (5000, 3468, 2, 5, 5),
            (5000, 3468, 2, 6, 17),
            (5000, 3468, 2, 7, 4),
            (5000, 3468, 2, 8, 12),
            (5000, 3468, 2, 9, 6),
            (5000, 3468, 2, 10, 8),
            (5000, 3468, 2, 11, 15),
            (5000, 3468, 2, 12, 19),
            (5000, 3468, 2, 13, 12),
            (5000, 3468, 2, 14, 19),
            (5000, 3468, 2, 15, 870),
            (5000, 3468, 3, 0, 1250)"""

  /** m2 golden VALUES rows — (n_oot, feature, importance) per
    * committed scale; harvested 2026-08-16 from two fresh-JVM runs per
    * scale (byte-identical — the [[model]] determinism m5 banks on). */
  private val m2Goldens: String =
    """(118, 'total_spent', 0.7916),
            (118, 'n_orders', 0.1662),
            (118, 'avg_price', 0.0386),
            (118, 'avg_urgent_price', 0.0036),
            (1146, 'total_spent', 0.6688),
            (1146, 'n_orders', 0.2156),
            (1146, 'avg_price', 0.0978),
            (1146, 'avg_urgent_price', 0.0093),
            (1146, 'n_urgent', 0.0085),
            (11708, 'n_orders', 0.5297),
            (11708, 'avg_price', 0.3914),
            (11708, 'total_spent', 0.0505),
            (11708, 'avg_urgent_price', 0.0238),
            (11708, 'n_urgent', 0.0045)"""

  /** m3 golden VALUES rows — (n_oot, o_custkey, yr, p_pct) per
    * committed scale; same harvest discipline as [[m2Goldens]]. */
  private val m3Goldens: String =
    """(118, '27', 1995, 2.056),
            (118, '6', 1995, 2.173),
            (118, '70', 1995, 9.22),
            (118, '78', 1995, 5.821),
            (118, '99', 1995, 2.236),
            (118, '27', 1996, 2.205),
            (118, '70', 1996, 2.205),
            (118, '78', 1996, 2.153),
            (118, '99', 1996, 2.236),
            (118, '27', 1997, 86.916),
            (118, '70', 1997, 2.236),
            (118, '78', 1997, 2.056),
            (118, '99', 1997, 2.153),
            (118, '27', 1998, 2.056),
            (118, '6', 1998, 30.346),
            (118, '70', 1998, 86.842),
            (118, '78', 1998, 65.268),
            (118, '99', 1998, 2.236),
            (118, '27', 1999, 63.234),
            (118, '6', 1999, 8.297),
            (118, '70', 1999, 2.236),
            (118, '78', 1999, 2.153),
            (118, '27', 2000, 2.056),
            (118, '6', 2000, 2.056),
            (118, '70', 2000, 2.173),
            (118, '78', 2000, 2.094),
            (118, '99', 2000, 2.056),
            (118, '27', 2001, 14.483),
            (118, '6', 2001, 80.102),
            (118, '70', 2001, 30.346),
            (118, '78', 2001, 29.812),
            (118, '99', 2001, 86.104),
            (1146, '1016', 1995, 0.082),
            (1146, '210', 1995, 0.38),
            (1146, '334', 1995, 0.082),
            (1146, '362', 1995, 0.082),
            (1146, '1016', 1996, 0.082),
            (1146, '1466', 1996, 0.082),
            (1146, '210', 1996, 0.082),
            (1146, '334', 1996, 0.082),
            (1146, '362', 1996, 0.082),
            (1146, '1016', 1997, 0.082),
            (1146, '1466', 1997, 0.082),
            (1146, '210', 1997, 0.082),
            (1146, '334', 1997, 0.082),
            (1146, '1016', 1998, 40.507),
            (1146, '1466', 1998, 0.082),
            (1146, '210', 1998, 0.137),
            (1146, '362', 1998, 0.082),
            (1146, '1016', 1999, 0.082),
            (1146, '1466', 1999, 0.082),
            (1146, '210', 1999, 26.113),
            (1146, '334', 1999, 0.082),
            (1146, '362', 1999, 0.082),
            (1146, '1466', 2000, 0.082),
            (1146, '334', 2000, 0.082),
            (1146, '362', 2000, 0.082),
            (1146, '1016', 2001, 74.688),
            (1146, '1466', 2001, 74.449),
            (1146, '210', 2001, 33.475),
            (1146, '334', 2001, 76.72),
            (1146, '362', 2001, 36.824),
            (11708, '1399', 1995, 0.047),
            (11708, '1984', 1995, 0.035),
            (11708, '8304', 1995, 0.861),
            (11708, '1399', 1996, 0.044),
            (11708, '1984', 1996, 0.035),
            (11708, '3958', 1996, 0.038),
            (11708, '8304', 1996, 0.035),
            (11708, '8758', 1996, 0.038),
            (11708, '1399', 1997, 0.038),
            (11708, '1984', 1997, 0.035),
            (11708, '3958', 1997, 0.035),
            (11708, '8304', 1997, 0.035),
            (11708, '8758', 1997, 0.038),
            (11708, '1399', 1998, 0.038),
            (11708, '1984', 1998, 0.035),
            (11708, '3958', 1998, 0.035),
            (11708, '8304', 1998, 0.04),
            (11708, '8758', 1998, 0.035),
            (11708, '1399', 1999, 0.035),
            (11708, '3958', 1999, 0.04),
            (11708, '8304', 1999, 0.043),
            (11708, '8758', 1999, 0.035),
            (11708, '1399', 2000, 0.04),
            (11708, '1984', 2000, 0.777),
            (11708, '3958', 2000, 0.04),
            (11708, '8304', 2000, 0.035),
            (11708, '8758', 2000, 0.035),
            (11708, '1399', 2001, 43.125),
            (11708, '1984', 2001, 5.592),
            (11708, '3958', 2001, 22.346),
            (11708, '8304', 2001, 1.391),
            (11708, '8758', 2001, 1.271)"""

  lazy val oracle: Map[String, String] = Map(
    // m2/m3: promoted off the rows-only allowlist (round-19, VERDICT
    // r18 item 4) via the proven golden-dispatch pattern — the seed-42
    // fit is bit-deterministic, so the importance vector and the
    // trajectory frame are stable goldens; dispatch rides the same
    // DuckDB-recomputable n_oot key as m5.
    // Unharvested-scale guard (round-19 ADVICE): at a scale whose n_oot
    // key is not in the goldens the dispatch WHERE used to yield ZERO
    // oracle rows against real engine rows — a bare full-diff hash
    // mismatch. The UNION'd guard row (derived from the goldens' own
    // key set, so adding a scale extends it automatically) makes the
    // oracle emit one explicit re-harvest instruction row instead.
    "m2_feature_importance" ->
      s"""WITH $abtSql,
            k AS (SELECT CAST(count(*) AS BIGINT) AS n_oot
                  FROM abt WHERE yr = 1998)
          SELECT CAST(v.n_oot AS BIGINT) AS n_oot, v.feature,
            CAST(v.importance AS DOUBLE) AS importance
          FROM (VALUES
            $m2Goldens) v(n_oot, feature, importance)
          WHERE v.n_oot = (SELECT n_oot FROM k)
          UNION ALL
          SELECT k.n_oot,
            'UNHARVESTED_SCALE: n_oot not in goldens - re-harvest via runMain graft.tools.QDump m2_feature_importance <sfDir> (twice, byte-identical) and extend m2Goldens',
            0.0
          FROM k WHERE k.n_oot NOT IN (SELECT CAST(g.n_oot AS BIGINT)
            FROM (VALUES $m2Goldens) g(n_oot, feature, importance))
          ORDER BY importance DESC, feature""",
    "m3_top_trajectories" ->
      s"""WITH $abtSql,
            k AS (SELECT CAST(count(*) AS BIGINT) AS n_oot
                  FROM abt WHERE yr = 1998)
          SELECT CAST(v.n_oot AS BIGINT) AS n_oot,
            CAST(v.o_custkey AS VARCHAR) AS o_custkey,
            CAST(v.yr AS INT) AS yr,
            CAST(v.p_pct AS DOUBLE) AS p_pct
          FROM (VALUES
            $m3Goldens) v(n_oot, o_custkey, yr, p_pct)
          WHERE v.n_oot = (SELECT n_oot FROM k)
          UNION ALL
          SELECT k.n_oot,
            'UNHARVESTED_SCALE: n_oot not in goldens - re-harvest via runMain graft.tools.QDump m3_top_trajectories <sfDir> (twice, byte-identical) and extend m3Goldens',
            0, 0.0
          FROM k WHERE k.n_oot NOT IN (SELECT CAST(g.n_oot AS BIGINT)
            FROM (VALUES $m3Goldens) g(n_oot, o_custkey, yr, p_pct))
          ORDER BY yr, o_custkey""",
    "m5_score_histogram" ->
      s"""WITH $abtSql
          SELECT CAST(v.n_oot AS BIGINT) AS n_oot, v.bin,
            CAST(v.n_custs AS BIGINT) AS n_custs
          FROM (VALUES
            (118, 0, 71), (118, 1, 15), (118, 2, 3), (118, 5, 2),
            (118, 6, 3), (118, 7, 1), (118, 8, 1), (118, 11, 2),
            (118, 12, 1), (118, 13, 1), (118, 14, 1), (118, 15, 4),
            (118, 16, 6), (118, 17, 7),
            (1146, 0, 1107), (1146, 4, 2), (1146, 5, 5), (1146, 6, 3),
            (1146, 7, 7), (1146, 8, 4), (1146, 13, 6), (1146, 14, 6),
            (1146, 15, 6),
            (11708, 0, 11674), (11708, 1, 2), (11708, 2, 1),
            (11708, 3, 9), (11708, 4, 5), (11708, 6, 7), (11708, 7, 4),
            (11708, 8, 2), (11708, 9, 1), (11708, 10, 1), (11708, 11, 2))
            v(n_oot, bin, n_custs)
          WHERE v.n_oot = (SELECT count(*) FROM abt WHERE yr = 1998)
          ORDER BY v.bin""",
    // m6: the t2/t3 oracle queries composed exactly as annotFeatures
    // composes the silver stage; label rule + sigmoid fold order mirror
    // the Spark side term-for-term.
    "m6_quality_score" -> m6Sql,
    // u13: the global-rank form of the same semantics (the oracle pins
    // MEANING, not the two-level plan): rank by the 6-dp-rounded score,
    // integral phase/shard arithmetic.
    "u13_quality_curriculum" ->
      s"""WITH sc AS (SELECT doc_id, round(p_quality, 6) AS p6
                      FROM ($m6Sql)),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM sc),
          r AS (SELECT doc_id, p6,
                  CAST(ROW_NUMBER() OVER (ORDER BY p6 DESC, doc_id)
                    AS BIGINT) - 1 AS curriculum_pos
                FROM sc)
          SELECT doc_id, p6 AS p_quality, curriculum_pos,
            CAST((curriculum_pos * $u13Phases) // nt AS INT) AS phase,
            CAST(curriculum_pos % $u13Shards AS INT) AS shard
          FROM r, nn ORDER BY doc_id""",
    // m7: the trained path's DISTRIBUTIONAL oracle (the m5 pattern) —
    // LBFGS coefficients aren't SQL-recomputable, but the fit is
    // content-deterministic (qualityModel's pinned partitioning), so
    // the binned P(good) histogram is a stable golden: pinned per
    // scale as VALUES, dispatched on (corpus count, positive-label
    // count) which DuckDB RECOMPUTES through the m6 label chain
    // (goldens from two fresh-JVM runs per scale, byte-identical,
    // 2026-08-14). The join against the recomputed key also re-gates
    // the label rule at every scale. BLAS assumption (round-12
    // ADVICE): "content-deterministic" holds for a FIXED BLAS — MLlib
    // LBFGS aggregation rides netlib, and a host swapping java netlib
    // for a native BLAS could drift a p_good in its last ulp and flip
    // a 0.05 bin edge. MlSpec pins the fitted coefficient vector
    // (6 dp) so such a failure is diagnosable as fit nondeterminism
    // rather than histogram plumbing.
    "m7_quality_histogram" ->
      s"""WITH $dispatchKeyCtes
          SELECT CAST(v.n_docs AS BIGINT) AS n_docs,
            CAST(v.n_pos AS BIGINT) AS n_pos, v.bin,
            CAST(v.n AS BIGINT) AS n_docs_bin
          FROM (VALUES
            (500, 352, 0, 125),
            (500, 352, 1, 13),
            (500, 352, 2, 4),
            (500, 352, 3, 3),
            (500, 352, 4, 2),
            (500, 352, 6, 1),
            (500, 352, 10, 1),
            (500, 352, 11, 1),
            (500, 352, 12, 2),
            (500, 352, 17, 3),
            (500, 352, 18, 5),
            (500, 352, 19, 340),
            (500, 343, 0, 157),
            (500, 343, 19, 343),
            (5000, 3468, 0, 1362),
            (5000, 3468, 1, 47),
            (5000, 3468, 2, 30),
            (5000, 3468, 3, 29),
            (5000, 3468, 4, 29),
            (5000, 3468, 5, 11),
            (5000, 3468, 6, 8),
            (5000, 3468, 7, 11),
            (5000, 3468, 8, 9),
            (5000, 3468, 9, 3),
            (5000, 3468, 10, 12),
            (5000, 3468, 11, 1),
            (5000, 3468, 12, 10),
            (5000, 3468, 13, 5),
            (5000, 3468, 14, 13),
            (5000, 3468, 15, 19),
            (5000, 3468, 16, 1),
            (5000, 3468, 17, 12),
            (5000, 3468, 18, 35),
            (5000, 3468, 19, 3353))
            v(n_docs, n_pos, bin, n)
          JOIN k ON v.n_docs = k.n_docs AND v.n_pos = k.n_pos
          ORDER BY v.bin""",
    // u14: the trained-curriculum LAYOUT oracle (the m7 pattern applied
    // to u13's banded geometry): the (phase × band) cross-tab of the
    // curriculum under the fitted model, pinned per scale as VALUES and
    // dispatched on the same DuckDB-recomputable (n_docs, n_pos) key.
    // Goldens from fresh-JVM runs per scale (2026-08-14); the m7 BLAS
    // caveat applies identically.
    "u14_trained_curriculum" ->
      s"""WITH $dispatchKeyCtes
          SELECT CAST(v.n_docs AS BIGINT) AS n_docs,
            CAST(v.n_pos AS BIGINT) AS n_pos, v.phase, v.band,
            CAST(v.n AS BIGINT) AS n_docs_cell
          FROM (VALUES
            $u14Goldens)
            v(n_docs, n_pos, phase, band, n)
          JOIN k ON v.n_docs = k.n_docs AND v.n_pos = k.n_pos
          ORDER BY v.phase, v.band""",
    // c4: the trained-curation summary oracle (the u14 pattern):
    // per-source kept count + token sum over the gate's survivors,
    // pinned per scale as VALUES and dispatched on the same
    // DuckDB-recomputable (n_docs, n_pos) key (goldens from fresh-JVM
    // runs; the m7 BLAS caveat applies).
    "c4_trained_curation" ->
      s"""WITH $dispatchKeyCtes
          SELECT CAST(v.n_docs AS BIGINT) AS n_docs,
            CAST(v.n_pos AS BIGINT) AS n_pos, v.source,
            CAST(v.n_kept AS BIGINT) AS n_kept,
            CAST(v.tok_sum AS BIGINT) AS tok_sum
          FROM (VALUES
            $c4Goldens)
            v(n_docs, n_pos, source, n_kept, tok_sum)
          JOIN k ON v.n_docs = k.n_docs AND v.n_pos = k.n_pos
          ORDER BY v.source""",
    "m4_logistic_score" ->
      s"""WITH $abtSql
          SELECT yr, o_custkey, fl_champ,
            1.0 / (1.0 + exp(-(-3.0
              + n_orders * 0.05
              + total_spent * 2.0e-7
              + avg_price * 1.0e-6
              + coalesce(avg_urgent_price, 99.0) * 1.0e-6
              + n_urgent * 0.1))) AS p_logistic
          FROM abt WHERE yr = 1998 ORDER BY o_custkey""",
    // m8: the same closed-form scorer, binned; gap differenced from the
    // rounded aggregates so both engines subtract identical doubles
    "m8_calibration" ->
      s"""WITH $abtSql,
          scored AS (
            SELECT fl_champ,
              1.0 / (1.0 + exp(-(-3.0
                + n_orders * 0.05
                + total_spent * 2.0e-7
                + avg_price * 1.0e-6
                + coalesce(avg_urgent_price, 99.0) * 1.0e-6
                + n_urgent * 0.1))) AS p
            FROM abt WHERE yr = 1998),
          b AS (
            SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin, p, fl_champ
            FROM scored)
          SELECT bin, CAST(count(*) AS BIGINT) AS n,
            round(avg(p), 6) AS mean_pred,
            round(avg(CAST(fl_champ AS DOUBLE)), 6) AS pos_rate,
            round(round(avg(p), 6)
              - round(avg(CAST(fl_champ AS DOUBLE)), 6), 6) AS gap
          FROM b GROUP BY bin ORDER BY bin""")
}

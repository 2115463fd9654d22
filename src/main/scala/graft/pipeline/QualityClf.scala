package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained discriminative quality classifier — the fastText/DCLM-style
  * hashed n-gram linear model (Joulin et al. 2017 "Bag of Tricks for
  * Efficient Text Classification"; Li et al. 2024 DataComp-LM ships
  * exactly this shape as its main quality filter): hashed word
  * unigram + bigram + character-trigram features, mean-pooled into a
  * `buckets`-dimensional bag, a linear model trained by full-batch
  * gradient descent on a clamped linear (delta-rule / LMS) surrogate,
  * served as one exchange-free codegen scan with the weights baked
  * into a literal array (the [[Curation.dsirWeights]] serve
  * discipline — DSIR is the "without training a classifier"
  * alternative; this is the trained path).
  *
  * EVERY number in train and serve is integer fixed-point: weights,
  * margins, and probabilities live on the 1e-6 grid, divisions are
  * truncating (Spark `div` and DuckDB `//` both truncate toward
  * zero — the verified shared contract), and the surrogate is
  * piecewise LINEAR (`p = W/2 + z div K`, error clamped to ±W)
  * instead of `exp`-based logistic — `exp` is the one cross-libm
  * drift risk the BM25 family still carries, and a gradient built
  * from it would put an environment-dependent double inside a
  * TRAINED ARTIFACT, poisoning every downstream score. With the
  * linear surrogate the whole training trajectory is exact long
  * arithmetic: any engine (the DuckDB oracle replays the full fit,
  * epoch by unrolled epoch, in CTEs) reproduces bit-identical
  * weights, and no fixture or SF re-roll can flip a score cell.
  *
  * Two training details earn their place (both measured on the
  * synthetic corpus, where they are the difference between
  * majority-class collapse and 0.95 train / 0.89 held-out accuracy):
  *
  *  - '''Common-mode gradient projection.''' Mean-pooled counts sum
  *    to exactly 1 per doc, so the all-ones weight direction is a
  *    second bias; under a weight-sized learning rate that direction
  *    oscillates (its eigenvalue is ~1 vs ~1e-3 for the rest) and
  *    drowns the discriminative signal. Each epoch subtracts the
  *    bucket-mean of the gradient (`gm = ΣG div B`) so level moves
  *    only through the bias at the bias's own rate.
  *  - '''Split learning rates.''' The bias gradient is ~100× the
  *    per-bucket gradients (classic unnormalized-feature
  *    conditioning); one shared rate either stalls the weights or
  *    detonates the bias. `lrW` and `lrB` are separate rationals.
  *
  * Scale shape (the 100 TB story): SERVING is the big-data side — one
  * scan, zero exchanges, a per-row HOF fold over the hashed feature
  * array with an array index per feature (exactly [[Curation
  * .dsirScore]]'s plan). TRAINING runs on the LABELED split, which is
  * small by nature (DCLM's fastText trains on ~400k labeled docs
  * against a multi-trillion-token corpus): per epoch it costs one
  * pass over the staged feature frame — margins need NO join (weights
  * are a literal), the gradient is one co-partitioned join plus a
  * `buckets`-bounded aggregation — and collects exactly `buckets + 1`
  * longs. The staged frames are hash-partitioned by doc id once, so
  * the per-epoch groupBy and join add no exchange. Headroom is
  * VERIFIED (the hits() rule): per-bucket gradient magnitude is
  * bounded by nTrain·1e12, so nTrain above ~9.2e6 docs fails loudly
  * with the remedy in the message instead of wrapping the long fold
  * silently while the oracle's HUGEINT keeps going.
  */
object QualityClf {

  /** Fixed-point scale of weights, margins, probabilities (1e-6 grid). */
  val ScaleW = 1000000L
  /** Fixed-point scale of the per-doc mean-pool normalization. */
  val ScaleS = 1000000L

  /** A trained model: per-bucket weights (scale [[ScaleW]]), bias, and
    * the hyperparameters that produced it (carried so a serve site
    * scores with the geometry it was trained at — `sigDiv` shapes
    * `qclf_p`).
    *
    * `maeFirst`/`maeLast` are convergence telemetry: the mean |error|
    * (scale [[ScaleW]]) of the FIRST and LAST epoch's forward pass.
    * An over-stability-bound `lrW` fails SILENTLY (period-2
    * oscillation, not an exception — the isotropy lesson's worst
    * form), and it reads here as `maeLast >= maeFirst`: check this
    * after training a new corpus shape and halve `lrW` until the MAE
    * moves down. Telemetry only — no training decision reads it, so
    * the oracle replay is unaffected.
    */
  final case class ClfModel(weights: Array[Long], bias: Long,
      epochs: Int, sigDiv: Long, lrWNum: Long, lrWDen: Long,
      lrBNum: Long, lrBDen: Long, maeFirst: Long = -1L,
      maeLast: Long = -1L) {
    def buckets: Int = weights.length
  }

  /** The feature list of a token array: word unigrams ++ word bigrams
    * (the [[Curation]] DSIR features) ++ per-token character trigrams
    * tagged `c3:` (the fastText subword signal — catches casing-free
    * junk, gibberish, and boilerplate fragments that whole-word
    * features miss). Order is irrelevant downstream (features are
    * counted, not positioned).
    */
  private[graft] def clfFeatures(toks: Column): Column = {
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val char3 = flatten(transform(toks, t =>
      when(length(t) >= 3,
        transform(sequence(lit(1), length(t) - 2),
          i => concat(lit("c3:"), t.substr(i, lit(3)))))
        .otherwise(array().cast("array<string>"))))
    concat(toks, bigrams, char3)
  }

  /** Expression-level let-binding: evaluates `v` ONCE per row and
    * hands the result to `body` as a lambda variable. Catalyst's alias
    * inlining (CollapseProject, filter pushdown) substitutes an
    * aliased expression at EVERY reference site, and lambda-bearing
    * expressions get no codegen subexpression elimination — so a
    * tokenize+md5 chain referenced from several projected columns and
    * a pushed-down predicate re-runs per reference (measured 12x on
    * the classifier's gated scoring scan). `transform` over a
    * 1-element array is the one stable public let Spark offers: the
    * input evaluates once, the lambda variable is a bound value.
    * A null `v` stays a null element (array(v) itself is never null),
    * so null propagation through `body` is unchanged.
    */
  private[graft] def letEval(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Hashed feature buckets: md5 of the feature string, first 15 hex
    * digits, mod `buckets` — the [[Curation]] bucket family, so any
    * engine with a standard MD5 reproduces the feature space.
    * The token array is let-bound: [[clfFeatures]] references it seven
    * times, and without the binding every reference re-runs the full
    * split/lower/filter tokenizer per row.
    */
  private[graft] def clfBuckets(toks: Column, buckets: Int): Column =
    letEval(toks)(t =>
      transform(clfFeatures(t), f =>
        pmod(conv(substring(md5(f), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong))))

  /** Truncating division for possibly-negative numerators — the ONE
    * integral-division semantics Spark `div` and DuckDB `//` share
    * (both truncate toward zero; floor division would disagree on
    * negatives). Operands must be resolvable inside `expr`.
    */
  private def tdiv(num: String, den: String): Column =
    expr(s"$num div $den")

  /** Train by full-batch gradient descent on the clamped-linear
    * surrogate, weights initialized to zero (deterministic — no RNG
    * anywhere).
    *
    * Per-doc forward pass: `rd = Σ_b c_b·w_b` (long), mean-pooled
    * margin `z = bias + rd div n` (tokenless docs: `z = bias`),
    * linear probe `p = W/2 + z div sigDiv`, clamped error
    * `e = clamp(p − y·W, −W, W)` (the clamp is the headroom bound,
    * not an activation — gradients keep flowing at any |z|).
    * Gradient: `G_b = Σ_docs c_b · ((e·S) div n)`, `G_0 = Σ_docs e`,
    * common-mode `gm = (Σ_b G_b) div buckets`; update
    * `w_b ← w_b − (G_b − gm)·lrWNum div (lrWDen·N·S)`,
    * `bias ← bias − G_0·lrBNum div (lrBDen·N)`. All longs, all
    * truncating — the exact arithmetic the oracle unrolls per epoch.
    *
    * `labelCol` must be 0/1 longs; rows outside {0,1} fail loudly.
    *
    * '''Choosing lrW''' (the LMS stability bound): mean-pooled
    * features scale as 1/n_doc, so the gradient curvature scales as
    * the mean SQUARED inverse doc length — corpora of short documents
    * need a proportionally smaller weight rate or the iteration
    * oscillates with period 2 instead of converging (measured: the
    * ~200-feature fixture corpus converges at lrW=1024 where a
    * ~30-feature toy corpus needs ≤256).
    *
    * '''lrWNum = 0 selects the AUTO rate''' — derived from the staged
    * feature frame itself: `lrW = max(1, sigDiv · (nTrain·S div
    * Σ_d (S div n_d)))`, i.e. sigDiv × the harmonic-mean feature
    * count. The per-bucket LMS curvature is ≈ Σ_d c²/(sigDiv·n_d²) ~
    * mean(1/n)/sigDiv (counts are mostly 1), so the stable step is ∝
    * sigDiv/mean(1/n); this sits ~2× inside the measured divergence
    * edge at both anchor corpora (200-feature: auto ≈ 800 vs edge
    * ~1600; 30-feature: auto ≈ 120 vs edge ~256). The derivation is
    * one agg of longs with truncating division — part of the exact
    * trajectory, replayed by the oracle's CTEs like every other
    * training number. Fixed explicit rates remain for callers that
    * calibrated their own.
    */
  def trainQualityClf(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 1024, epochs: Int = 12,
      sigDiv: Long = 4L, lrWNum: Long = 0L, lrWDen: Long = 1L,
      lrBNum: Long = 1L, lrBDen: Long = 1L): ClfModel = {
    require(buckets > 0 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20], got $buckets")
    require(epochs >= 1 && epochs <= 256,
      s"epochs must be in [1, 256], got $epochs")
    require(sigDiv >= 1L, s"sigDiv must be >= 1, got $sigDiv")
    require(lrWNum >= 0L && lrWDen >= 1L && lrBNum >= 1L && lrBDen >= 1L,
      "learning-rate rationals must be positive (lrWNum = 0 selects auto)")
    val spark = labeled.sparkSession
    val store = new Scratch.FrameStore(spark)
    try {
      // inline(transform(array(..))) is a Generate barrier: the
      // feature chain lands in concrete attributes (_fb, _n) computed
      // in ONE pass, instead of aliases the optimizer would inline
      // (and so re-evaluate) into each consumer — see letEval
      val base = labeled.select(col(idCol).cast("long").as("_id"),
          col(labelCol).cast("long").as("_y"),
          inline(transform(
            array(clfBuckets(TextAnalysis.tokens(col(textCol)), buckets)),
            f => struct(f.as("_fb"), size(f).cast("long").as("_n")))))
        .select(col("_id"), col("_fb"), col("_n"), col("_y"))
      // stage once, hash-partitioned by doc id: every epoch's groupBy
      // and join below reuse this partitioning exchange-free. ONE
      // feature pass: tokenize + md5-bucket is the staging cost driver
      // (measured ~16 s of the 22 s sf0.1 fit — ~600 features/doc,
      // one md5 each), so the staged frame holds the feature ARRAY and
      // both docinfo and feats derive from it cache-side instead of
      // re-running the feature scan per derived frame
      val staged = store.keep(base.repartition(col("_id")))
      val docinfo = staged.select(col("_id"), col("_n"), col("_y"))
      // HashPartitioning(_id) clusters (_id, _b) groups too (grouping
      // keys are a superset of the partitioning keys), so this groupBy
      // adds no exchange — and the epoch loop's joins stay co-located
      val feats = store.keep(staged
        .select(col("_id"), explode(col("_fb")).as("_b"))
        .groupBy(col("_id"), col("_b")).agg(count(lit(1)).as("_c")))
      val stats = docinfo.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("_y") =!= 0L && col("_y") =!= 1L, 1L)),
          lit(0L)).as("badY")).head
      val nTrain = stats.getLong(0)
      require(nTrain > 0, "trainQualityClf: empty training split")
      require(stats.getLong(1) == 0L,
        s"trainQualityClf: ${stats.getLong(1)} rows with labels outside " +
          "{0, 1} — binary labels only")
      // headroom (fail loudly, never wrap): |e| <= W (clamped) so
      // |e·S div n| <= W·S and |G_b| <= nTrain·W·S; Spark's long sum
      // wraps silently past 2^63 while the oracle's HUGEINT keeps going
      require(nTrain <= Long.MaxValue / (ScaleW * ScaleS),
        s"trainQualityClf: $nTrain training docs overflows the gradient " +
          s"headroom (need nTrain * $ScaleW * $ScaleS < 2^63, i.e. <= " +
          s"${Long.MaxValue / (ScaleW * ScaleS)}) — train on a sampled " +
          "labeled split (quality labels are bounded by labeling cost " +
          "anyway) or lower the fixed-point scales")
      // AUTO weight rate (lrWNum = 0): one agg over the staged split —
      // Σ_d (S div n_d), truncating longs, part of the replayed
      // trajectory (the oracle computes the same CTE). All-tokenless
      // splits have no weight gradient at all; any rate is a no-op, 1
      // keeps the arithmetic defined.
      val lrWn = if (lrWNum > 0L) lrWNum else {
        val invSum = docinfo.agg(coalesce(sum(when(col("_n") === 0L, 0L)
          .otherwise(expr(s"$ScaleS div _n"))), lit(0L))).head.getLong(0)
        if (invSum <= 0L) 1L
        else math.max(1L, sigDiv * (nTrain * ScaleS / invSum))
      }
      var w = Array.fill(buckets)(0L)
      var bias = 0L
      var maeFirst = -1L
      var maeLast = -1L
      for (_ <- 1 to epochs) {
        val litW = typedLit(w)
        val rd = feats
          .groupBy(col("_id"))
          .agg(sum(col("_c") * element_at(litW,
            (col("_b") + 1).cast("int"))).as("_rd"))
        val scored = docinfo.join(rd, Seq("_id"), "left")
          .withColumn("_rd", coalesce(col("_rd"), lit(0L)))
          .withColumn("_z", lit(bias) +
            when(col("_n") === 0L, 0L).otherwise(tdiv("_rd", "_n")))
          .withColumn("_p", lit(ScaleW / 2) + tdiv("_z", sigDiv.toString))
          .withColumn("_e", greatest(lit(-ScaleW), least(lit(ScaleW),
            col("_p") - col("_y") * lit(ScaleW))))
          .withColumn("_q", when(col("_n") === 0L, 0L)
            .otherwise(expr(s"(_e * $ScaleS) div _n")))
        val contrib = scored.select(col("_id"), col("_q"), col("_e"))
        // one action per epoch: per-bucket gradients plus the bias
        // gradient (bucket −1) and the |error| sum (bucket −2,
        // convergence telemetry) riding along
        val gRows = feats.join(contrib, Seq("_id"))
          .groupBy(col("_b")).agg(sum(col("_c") * col("_q")).as("_g"))
          .unionByName(contrib.agg(
            coalesce(sum(col("_e")), lit(0L)).as("_g"))
            .select(lit(-1L).as("_b"), col("_g")))
          .unionByName(contrib.agg(
            coalesce(sum(abs(col("_e"))), lit(0L)).as("_g"))
            .select(lit(-2L).as("_b"), col("_g")))
          .collect()
        val g = gRows.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        val g0 = g.getOrElse(-1, 0L)
        val mae = g.getOrElse(-2, 0L) / nTrain
        if (maeFirst < 0) maeFirst = mae
        maeLast = mae
        // BigInt divide = truncation toward zero (the shared
        // contract); also gives the lr-scaled numerators 2^63 headroom
        val gSum = (0 until buckets).foldLeft(BigInt(0))(
          (acc, b) => acc + BigInt(g.getOrElse(b, 0L)))
        val gm = gSum / buckets
        val denW = BigInt(lrWDen) * nTrain * ScaleS
        val denB = BigInt(lrBDen) * nTrain
        w = Array.tabulate(buckets)(b =>
          w(b) - ((BigInt(g.getOrElse(b, 0L)) - gm) * lrWn / denW).toLong)
        bias = bias - (BigInt(g0) * lrBNum / denB).toLong
      }
      // the model records the rate actually APPLIED (the derived one
      // under auto) — a serve/retrain site must see the realized
      // hyperparameters, not the sentinel
      ClfModel(w, bias, epochs, sigDiv, lrWn, lrWDen, lrBNum, lrBDen,
        maeFirst, maeLast)
    } finally store.release()
  }

  /** [[trainQualityClf]] memoized per (labeled plan, cols,
    * hyperparameters) — training is deterministic (no RNG, exact
    * integer trajectory), so the cache never changes a result, and
    * composed recipes (dedup → clf gate → pack) share one fit with
    * the standalone classifier query instead of re-training per
    * query. Models are small driver artifacts (buckets+1 longs).
    */
  private final val ClfCacheMax = 8
  private val clfCache = new ArtifactCache[
      (String, String, String, String, Int, Int, Long, Long, Long, Long, Long),
      ClfModel]("qualityClf", ClfCacheMax)

  def trainQualityClfCached(labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int = 1024,
      epochs: Int = 12, sigDiv: Long = 4L, lrWNum: Long = 0L,
      lrWDen: Long = 1L, lrBNum: Long = 1L, lrBDen: Long = 1L): ClfModel =
    clfCache.getOrCompute((Dedup.planKey(labeled), idCol, textCol, labelCol,
        buckets, epochs, sigDiv, lrWNum, lrWDen, lrBNum, lrBDen)) {
      trainQualityClf(labeled, idCol, textCol, labelCol, buckets,
        epochs, sigDiv, lrWNum, lrWDen, lrBNum, lrBDen)
    }

  /** Score a corpus with a trained model: ONE exchange-free codegen
    * scan — the hashed feature array folds against the literal weight
    * array (an array index per feature), mean-pool, add bias, clamp
    * the probe for presentation. Output:
    * `(idCol, n_feats, qclf_margin, qclf_p, qclf_label)`, all longs
    * on the fixed-point grid (margin ≈ logit·1e6, p ≈
    * probability·1e6, label = margin ≥ 0) — flip-immune integers.
    */
  def scoreQualityClf(docs: DataFrame, idCol: String, textCol: String,
      model: ClfModel): DataFrame = {
    val litW = typedLit(model.weights)
    // the Generate barrier (see trainQualityClf's staging): _n and _rd
    // become attributes of ONE per-row feature pass; without it a
    // downstream filter on qclf_label pushes the whole tokenize+md5
    // chain into its own predicate and each projected column inlines
    // another copy (measured 12x on q_doc_recipe2's gate)
    docs
      .select(col(idCol),
        inline(transform(
          array(clfBuckets(TextAnalysis.tokens(col(textCol)), model.buckets)),
          f => struct(size(f).cast("long").as("_n"),
            aggregate(f, lit(0L), (acc, b) =>
              acc + element_at(litW, (b + 1).cast("int"))).as("_rd")))))
      .withColumn("qclf_margin", lit(model.bias) +
        when(col("_n") === 0L, 0L).otherwise(tdiv("_rd", "_n")))
      .select(col(idCol), col("_n").as("n_feats"), col("qclf_margin"),
        greatest(lit(0L), least(lit(ScaleW), lit(ScaleW / 2) +
          tdiv("qclf_margin", model.sigDiv.toString))).as("qclf_p"),
        when(col("qclf_margin") >= 0L, 1L).otherwise(0L).as("qclf_label"))
  }
}

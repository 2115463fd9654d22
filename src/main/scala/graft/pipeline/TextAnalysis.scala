package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure column expressions (codegen'd, no UDFs) so they run at
  * scan speed and mirror 1:1 into the DuckDB oracle SQL.
  */
object TextAnalysis {

  /** Lowercased alphanumeric tokens. Same tokenizer as BM25/Dedup. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace token count (matches `\S+` runs). */
  def tokenCount(c: Column): Column = regexp_count(c, lit("\\S+")).cast("long")

  /** BPE-ish token count: letter runs, digit runs, and single
    * punctuation marks each count as one token — the usual
    * pre-tokenization granularity BPE vocabularies start from.
    */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def tokenCountBpe(c: Column): Column =
    regexp_count(lower(c), lit(BpePattern)).cast("long")

  // Marker stopword sets per language for the n-gram/stopword
  // language-ID heuristic. Score = #distinct marker words present.
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "pour", "dans", "que", "qui"),
    "es" -> Seq("el", "los", "las", "y", "un", "una", "es", "para", "por", "como"),
  )

  /** Heuristic language ID: argmax of marker-set overlap; ties resolve
    * in Markers order; no markers at all -> "und". `langId` is the
    * expression form over a raw text column — it re-tokenizes once per
    * marker set (4×), so corpus scans should use [[langIdReport]],
    * which stages the distinct-token array as an attribute first.
    */
  def langId(c: Column): Column =
    langIdOfDistinctTokens(array_distinct(tokens(c)))

  private def langIdOfDistinctTokens(dt: Column): Column = {
    val scored = Markers.map { case (l, ms) =>
      (l, size(array_intersect(dt, array(ms.map(lit): _*))))
    }
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (l, s)) => (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /** Corpus-scan language ID: one tokenization per row (staged as an
    * attribute — expression trees re-evaluate at every reference, see
    * [[repetition]]), then the marker-overlap argmax over it.
    */
  def langIdReport(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), array_distinct(tokens(col(textCol))).as("_dt"))
      .select(col(idCol), langIdOfDistinctTokens(col("_dt")).as("lang_guess"))

  /** `df` plus a language-ID column, all input columns preserved — the
    * composition shape for language-keyed curation (e.g. per-language
    * temperature mixing). The distinct-token array stages as its own
    * projection: CollapseProject keeps a non-cheap alias referenced by
    * every marker set from inlining, so tokenization runs once per row.
    */
  def withLangId(df: DataFrame, textCol: String,
      out: String = "lang_guess"): DataFrame =
    df.withColumn("_dt", array_distinct(tokens(col(textCol))))
      .withColumn(out, langIdOfDistinctTokens(col("_dt")))
      .drop("_dt")

  /** Quality metrics: char count, token count, mean token length,
    * stopword share, and a composite score in [0,1] (rounded so the
    * double arithmetic is oracle-stable). Tokens stage as an attribute
    * (one tokenization per row, not one per metric).
    */
  def qualityReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val metrics = {
      val toks = col("_t")
      val nTok = size(toks).cast("long")
      val nChars = length(col("_c")).cast("long")
      val stopHits = size(filter(toks,
        t => t.isin(Markers.head._2.map(x => x: Any): _*))).cast("long")
      val meanTokLen = round(nChars.cast("double") / greatest(nTok, lit(1L)), 4)
      // score: saturating length term + stopword presence term
      val score = round(
        least(nTok.cast("double") / lit(40.0), lit(1.0)) * 0.5 +
          least(stopHits.cast("double") * lit(10.0) / greatest(nTok, lit(1L)), lit(1.0)) * 0.5, 4)
      Seq(nChars.as("n_chars"), nTok.as("n_tokens"), stopHits.as("stop_hits"),
        meanTokLen.as("mean_tok_len"), score.as("quality"))
    }
    df.select(col(idCol), col(textCol).as("_c"), tokens(col(textCol)).as("_t"))
      .select(col(idCol) +: metrics: _*)
  }

  /** Flesch-Kincaid grade level (Kincaid et al. 1975) — the classic
    * readability signal an edu-quality curation cut keys on:
    * `0.39·(words/sentences) + 11.8·(syllables/words) − 15.59`.
    * Whole-text approximations keep it ONE codegen'd regexp scan with
    * identical counts on any RE2/Java engine: words = runs of
    * non-whitespace (EXPLICIT class — Java `\s` and RE2 `\s` disagree
    * on VT), syllables ≈ vowel-group runs `[aeiouy]+` over the
    * lowercased text, sentences ≈ runs of `[.!?]+`; each floored at 1
    * so the ratios are total and the grade is defined on fragments.
    * Counts are exact longs; the grade is the IEEE double of those
    * longs rounded to 4dp — replayable cross-engine.
    */
  def readabilityReport(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = greatest(regexp_count(col(textCol),
      lit("[^\\t\\n\\x0B\\f\\r ]+")), lit(1)).cast("long")
    val sy = greatest(regexp_count(lower(col(textCol)),
      lit("[aeiouy]+")), lit(1)).cast("long")
    val se = greatest(regexp_count(col(textCol), lit("[.!?]+")),
      lit(1)).cast("long")
    df.select(col(idCol), w.as("n_words"), se.as("n_sentences"),
      sy.as("n_syllables"))
      .withColumn("fk_grade", round(
        lit(0.39) * (col("n_words").cast("double") / col("n_sentences")) +
          lit(11.8) * (col("n_syllables").cast("double") / col("n_words")) -
          lit(15.59), 4))
  }

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set. (A rolling/shingle fingerprint for locality lives in
    * Dedup.minhashSignature.)
    */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** Corpus-level top-k n-gram frequencies — the report behind
    * contamination audits, boilerplate discovery, and tokenizer
    * corpus prep. Counts every occurrence (not per-doc distinct).
    * Scale shape: explode → hash aggregation with map-side partial
    * combine (the shuffle carries one row per DISTINCT n-gram per
    * partition, not per occurrence) → `TakeOrderedAndProject` for the
    * k heads (per-partition top-k heaps, no global sort). Ties at the
    * k boundary break on the n-gram string, so the returned SET is
    * deterministic at any parallelism.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(tokens(col(textCol)).as("_t"))
      .select(explode(graft.pipeline.Dedup.shinglesOfTokens(col("_t"), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)

  /** Per-term counts of a reference corpus, capped to the `vocab` most
    * frequent terms (ties break on the term string, so the SET is
    * deterministic at any parallelism) — the model half of
    * [[lmScoreReport]]. One explode + hash aggregation with map-side
    * partial combine, then a per-partition top-k heap
    * (TakeOrderedAndProject): the shuffle carries one row per distinct
    * term per partition and the cap keeps the resulting model
    * broadcast-sized regardless of corpus scale.
    */
  def unigramLm(df: DataFrame, textCol: String, vocab: Int): DataFrame =
    capVocab(termCounts(df, textCol), vocab)

  /** Per-term occurrence counts (the uncapped model). */
  private def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** Bounded cache of materialized term-count models, keyed by the
    * FULL canonicalized source plan + textCol (the same discipline as
    * Dedup's shingle/signature caches: a 32-bit key hash could
    * silently serve another corpus's model). The LM over a reference
    * corpus is a write-time artifact at scale — scoring queries
    * shouldn't re-aggregate the corpus per call. Entries own their
    * persisted frames; FIFO eviction unpersists.
    */
  private val LmCacheMax = 8
  private val lmCache =
    new java.util.LinkedHashMap[(String, String), DataFrame](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), DataFrame]): Boolean = {
        val evict = size() > LmCacheMax
        if (evict) e.getValue.unpersist(false)
        evict
      }
    }

  /** Cached [[termCounts]]; `eager` materializes on a miss (warm-up
    * path — the build is billed to "write time", not the first query).
    */
  def termCountsCached(df: DataFrame, textCol: String,
      eager: Boolean = true): DataFrame = {
    val key = (Dedup.planKey(df), textCol)
    var built: DataFrame = null
    val counts = lmCache.synchronized {
      val hit = lmCache.get(key)
      if (hit != null) hit
      else {
        built = termCounts(df, textCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        lmCache.put(key, built)
        Scratch.noteBuild("termCounts")
        built
      }
    }
    if (eager && (counts eq built)) counts.count()
    counts
  }

  /** Mapped-closure corpus counts — unigram occurrences AND bigram
    * occurrences over the capped-vocab `<unk>` closure — as BOUNDED
    * driver-side model tables (≤ (V+1)² + V+1 rows), memoized per
    * (corpus plan, text col, vocab) exactly like [[termCountsCached]]
    * and Bpe.trainMergesCached: at 100 TB the n-gram LM trains once at
    * write time and is SERVED to every scoring query; rebuilding it
    * per query was the fit half of both bigram scorers' cost. ONE
    * tokenize pass emits both populations from a let-bound mapped
    * array; the bounded collect splits driver-side. Keyed on the
    * canonicalized corpus plan (the bench warm-up invariant), build
    * logged to the cache ledger. NOT any query's declared result —
    * the scorers' per-doc outputs always recompute from the corpus.
    */
  private val lmBiCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), (Seq[(String, String, Long)], Seq[(String, Long)])]()

  private[graft] def mappedCorpusCountsCached(lmCorpus: DataFrame,
      lmTextCol: String, vocab: Int, topTerms: Seq[String])
      : (Seq[(String, String, Long)], Seq[(String, Long)]) =
    lmBiCache.computeIfAbsent(
      (Dedup.planKey(lmCorpus), lmTextCol, vocab), _ => {
        Scratch.noteBuild("lmMappedCounts")
        def mapped(c: Column) = transform(tokens(c), t =>
          when(t.isInCollection(topTerms), t).otherwise(lit("<unk>")))
        val rows = lmCorpus
          .select(explode(QualityClf.letEval(mapped(col(lmTextCol))) { mt =>
            val n1 = greatest(size(mt) - 1, lit(0))
            concat(
              transform(mt, t =>
                struct(lit("u").as("_k"), t.as("_w1"), lit("").as("_w2"))),
              zip_with(slice(mt, lit(1), n1), slice(mt, lit(2), n1),
                (a, b) => struct(lit("b").as("_k"), a.as("_w1"), b.as("_w2"))))
          }).as("r"))
          .select(col("r._k").as("_k"), col("r._w1").as("_w1"),
            col("r._w2").as("_w2"))
          .groupBy(col("_k"), col("_w1"), col("_w2"))
          .agg(count(lit(1)).as("_c"))
          .collect()
        (rows.filter(_.getString(0) == "b").toSeq
          .map(r => (r.getString(1), r.getString(2), r.getLong(3))),
         rows.filter(_.getString(0) == "u").toSeq
          .map(r => (r.getString(1), r.getLong(3))))
      })

  private[graft] def capVocab(counts: DataFrame, vocab: Int): DataFrame =
    counts.orderBy(col("cnt").desc, col("term")).limit(vocab)

  /** Unigram language-model score per document — the model-based
    * quality filter of CCNet-style pipelines (documents whose token
    * distribution diverges from a reference corpus score low; the
    * production counterpart swaps the unigram model for a KenLM
    * n-gram model, same pipeline shape). Output:
    * `(idCol, n_tokens, lm_logp)` where `lm_logp` is the mean
    * per-token natural log-probability (rounded for oracle-stable
    * doubles; null for token-free documents, which a filter should
    * judge by other means).
    *
    * Model: add-one smoothing over the capped vocabulary plus one
    * pooled OOV class. With `N` = total occurrences in the LM corpus,
    * `V` = kept vocab size, `oov` = occurrences outside the cap:
    * `p(t in vocab) = (cnt_t + 1) / (N + V + 1)`,
    * `p(OOV) = (oov + 1) / (N + V + 1)`.
    *
    * Scale shape: the corpus aggregates once into vocab-sized `lm0`
    * (persisted — read twice: totals + top-k); the model and its
    * 1-row totals BROADCAST to the scoring side, which is one
    * explode → (doc, term) hash aggregation (map-side combine turns
    * occurrences into per-doc distincts before the shuffle) → broadcast
    * join → per-doc aggregation. No corpus self-join, no shuffle of
    * the model side. Scoring docs ≠ LM corpus is the cross-corpus
    * (CCNet "score crawl against Wikipedia") configuration.
    */
  def lmScoreReport(docs: DataFrame, idCol: String, textCol: String,
      lmCorpus: DataFrame, lmTextCol: String, vocab: Int): DataFrame = {
    // served from the bounded model cache (a write-time artifact at
    // scale — see termCountsCached); read twice below (top-k + totals).
    // The uncapped counts are needed here (totals cover OOV mass),
    // which is why this stages termCounts rather than calling unigramLm.
    val lm0 = termCountsCached(lmCorpus, lmTextCol)
    val lmTop = capVocab(lm0, vocab)
    val tot = lm0.agg(sum(col("cnt")).as("_n")).crossJoin(
      lmTop.agg(count(lit(1)).as("_v"), sum(col("cnt")).as("_nin")))
    val occ = docs
      .select(col(idCol).as("_did"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("_did"), col("term")).agg(count(lit(1)).as("_c"))
    val scored = occ
      .join(broadcast(lmTop), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      // per-term log-probs quantize to 1e-9 longs BEFORE the per-doc
      // sum: a raw double sum is summation-order-dependent (Spark's
      // partial-agg merge order varies with shuffle arrival), so the
      // 4dp-rounded mean could flip at a rounding boundary run to run
      // or cross-engine — the BM25.quantizedSum / VectorOps.q9
      // discipline applied to the LM family. The integer numerator is
      // exact and order-free; the mean derives from it in one
      // deterministic division.
      .withColumn("_qlp",
        round(log((coalesce(col("cnt"), col("_n") - col("_nin")).cast("double") + 1.0) /
          (col("_n").cast("double") + col("_v").cast("double") + 1.0)) *
          lit(1000000000L)).cast("long"))
      .groupBy(col("_did"))
      .agg(sum(col("_c")).as("n_tokens"),
        round(sum(col("_c") * col("_qlp")).cast("double") /
          (sum(col("_c")).cast("double") * lit(1000000000.0)), 4).as("lm_logp"))
    docs.select(col(idCol))
      .join(scored.withColumnRenamed("_did", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens"))
  }

  /** Bigram language-model score per document — one modeling level up
    * from [[lmScoreReport]]'s unigram (word ORDER now matters: "the
    * cat sat" and "sat the cat" score apart), the shape CCNet's KenLM
    * filter has. Tokens outside the top-`vocab` reference terms map to
    * one `<unk>` symbol (the standard capped-vocab closure), then
    * `P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V)` with Laplace
    * smoothing, `c1` the bigram-PREFIX count (Σ_w2 c2) and `V` the
    * mapped-symbol count. Output `(idCol, n_bigrams, lm2_logp)` —
    * mean log-prob over the doc's bigram positions, 4dp; docs with
    * fewer than 2 tokens carry `n_bigrams = 0` and a null score.
    *
    * Scale shape: the vocab closure makes BOTH model tables bounded
    * artifacts — unigrams ≤ V rows, bigrams ≤ V² — so they BROADCAST
    * to the scoring scan; the corpus-side counting is one groupBy
    * whose map-side combine collapses to ≤ V² keys. The vocab itself
    * collects bounded by `vocab` and rides the token mapper as an
    * `InSet` literal.
    */
  def bigramLmScoreReport(docs: DataFrame, idCol: String, textCol: String,
      lmCorpus: DataFrame, lmTextCol: String, vocab: Int,
      maxVocab: Int = 4096): DataFrame = {
    // the "bounded driver artifact" claim below is V²-bounded by the
    // VOCAB, so the vocab itself must be bounded: vocab=50000 would
    // imply collecting up to 2.5B bigram rows — refuse up front (the
    // maxEval/maxPool discipline), don't discover it as a driver OOM
    require(vocab >= 1 && vocab <= maxVocab,
      s"vocab $vocab outside [1, $maxVocab]: the bigram table collects " +
        "up to vocab² rows to the driver; raise maxVocab only with the " +
        "memory to hold it")
    val topTerms = capVocab(termCountsCached(lmCorpus, lmTextCol), vocab)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val vSize = topTerms.size + 1
    def mapped(c: Column) = transform(tokens(c), t =>
      when(t.isInCollection(topTerms), t).otherwise(lit("<unk>")))
    // the mapped token array is LET-BOUND (QualityClf.letEval): the
    // zip_with/slice bigram shape references it four times (two
    // slices, size twice through n1), and alias inlining would re-run
    // the tokenize + 200-string InSet map per reference — the same
    // multi-referenced-lambda-Column trap the classifier hit (§4.4's
    // JVM sibling; r16 item 3)
    def bigrams(c: Column): Column = QualityClf.letEval(mapped(c)) { mt =>
      val n1 = greatest(size(mt) - 1, lit(0))
      zip_with(slice(mt, lit(1), n1), slice(mt, lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    // model tables served from the bounded memo (one tokenize pass,
    // shared with the interpolated scorer — see mappedCorpusCountsCached)
    val (biCounts, _) =
      mappedCorpusCountsCached(lmCorpus, lmTextCol, vocab, topTerms)
    val spark = docs.sparkSession
    import spark.implicits._
    val corpusBi = biCounts.toDF("_w1", "_w2", "_c2")
    val corpusPre = biCounts.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toSeq.toDF("_w1", "_c1")
    val docBi = docs
      .select(col(idCol).as("_did"), explode(bigrams(col(textCol))).as("bg"))
      .select(col("_did"), col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
      .groupBy(col("_did"), col("_w1"), col("_w2")).agg(count(lit(1)).as("_c"))
    val scored = docBi
      .join(broadcast(corpusBi), Seq("_w1", "_w2"), "left")
      .join(broadcast(corpusPre), Seq("_w1"), "left")
      // same 1e-9 integer-numerator discipline as lmScoreReport: the
      // per-doc mean must not depend on double summation order
      .withColumn("_qlp",
        round(log((coalesce(col("_c2"), lit(0L)).cast("double") + 1.0) /
          (coalesce(col("_c1"), lit(0L)).cast("double") + vSize.toDouble)) *
          lit(1000000000L)).cast("long"))
      .groupBy(col("_did"))
      .agg(sum(col("_c")).as("n_bigrams"),
        round(sum(col("_c") * col("_qlp")).cast("double") /
          (sum(col("_c")).cast("double") * lit(1000000000.0)), 4).as("lm2_logp"))
    docs.select(col(idCol))
      .join(scored.withColumnRenamed("_did", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** Jelinek-Mercer interpolated bigram LM scoring (Jelinek & Mercer
    * 1980 — the interpolation family KenLM-style filters actually
    * ship, one smoothing level up from [[bigramLmScoreReport]]'s
    * add-one): each bigram position scores
    * `ln( λ·c2/c1 + (1−λ)·(cu(w2)+1)/(N+V) )` — the maximum-
    * likelihood bigram estimate backed off toward the add-one unigram,
    * so an unseen CONTINUATION (c2 = 0 under a seen context) degrades
    * to unigram mass instead of the flat 1/(c1+V) floor, and an
    * unseen CONTEXT (c1 = 0) backs off entirely. Same capped-vocab
    * `<unk>` closure, same broadcast-bounded model tables (unigrams
    * ≤ V+1 rows ride along with the ≤ V² bigram table), same
    * 1e-9-integer-numerator mean discipline as the other LM scorers.
    * Output `(idCol, n_bigrams, lmi_logp)`; sub-2-token docs carry
    * `n_bigrams = 0` and a null score.
    */
  def interpolatedLmScoreReport(docs: DataFrame, idCol: String,
      textCol: String, lmCorpus: DataFrame, lmTextCol: String,
      vocab: Int, lambda: Double = 0.75,
      maxVocab: Int = 4096): DataFrame = {
    require(vocab >= 1 && vocab <= maxVocab,
      s"vocab $vocab outside [1, $maxVocab]: the bigram table collects " +
        "up to vocab² rows to the driver")
    require(lambda > 0.0 && lambda < 1.0, s"lambda in (0,1), got $lambda")
    val topTerms = capVocab(termCountsCached(lmCorpus, lmTextCol), vocab)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val vSize = topTerms.size + 1
    def mapped(c: Column) = transform(tokens(c), t =>
      when(t.isInCollection(topTerms), t).otherwise(lit("<unk>")))
    // let-bound like bigramLmScoreReport's (four references otherwise
    // re-run tokenize + the InSet map per row per reference)
    def bigrams(c: Column): Column = QualityClf.letEval(mapped(c)) { mt =>
      val n1 = greatest(size(mt) - 1, lit(0))
      zip_with(slice(mt, lit(1), n1), slice(mt, lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    // ONE corpus pass for BOTH model tables (was two: a bigram scan +
    // a unigram scan, each re-tokenizing the corpus — §1.2 "don't
    // compute things twice"), served from the bounded memo shared with
    // the plain bigram scorer (mappedCorpusCountsCached). Counts are
    // identical to the two-scan form by construction.
    val (biCounts, uniRows) =
      mappedCorpusCountsCached(lmCorpus, lmTextCol, vocab, topTerms)
    val spark = docs.sparkSession
    import spark.implicits._
    val corpusBi = biCounts.toDF("_w1", "_w2", "_c2")
    val corpusPre = biCounts.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toSeq.toDF("_w1", "_c1")
    // mapped-unigram counts (≤ V+1 rows) + the scalar token total:
    // the (1−λ) leg's add-one distribution over the SAME closure
    val nTok = uniRows.map(_._2).sum
    val uniCounts = uniRows.toDF("_w2", "_cu")
    val docBi = docs
      .select(col(idCol).as("_did"), explode(bigrams(col(textCol))).as("bg"))
      .select(col("_did"), col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
      .groupBy(col("_did"), col("_w1"), col("_w2")).agg(count(lit(1)).as("_c"))
    // probability assembled in the EXACT double shape the oracle
    // mirrors: (λ·c2)/c1 + (1−λ)·((cu+1)/(N+V)) — IEEE ops in the
    // same order are bit-deterministic, then ln quantizes to the
    // 1e-9 grid before the order-free integer sum
    val pMl = when(coalesce(col("_c1"), lit(0L)) === 0L, lit(0.0))
      .otherwise(lit(lambda) * coalesce(col("_c2"), lit(0L)).cast("double") /
        col("_c1").cast("double"))
    val pUni = lit(1.0 - lambda) *
      ((coalesce(col("_cu"), lit(0L)).cast("double") + 1.0) /
        lit(nTok.toDouble + vSize.toDouble))
    val scored = docBi
      .join(broadcast(corpusBi), Seq("_w1", "_w2"), "left")
      .join(broadcast(corpusPre), Seq("_w1"), "left")
      .join(broadcast(uniCounts), Seq("_w2"), "left")
      .withColumn("_qlp",
        round(log(pMl + pUni) * lit(1000000000L)).cast("long"))
      .groupBy(col("_did"))
      .agg(sum(col("_c")).as("n_bigrams"),
        round(sum(col("_c") * col("_qlp")).cast("double") /
          (sum(col("_c")).cast("double") * lit(1000000000.0)), 4).as("lmi_logp"))
    docs.select(col(idCol))
      .join(scored.withColumnRenamed("_did", idCol), Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
  }

  /** Corpus-health report per source: type/token statistics — the
    * quick diagnostic a curation run reads BEFORE committing to
    * heavier passes (a collapsing type-token ratio flags template
    * spam / dedup failures; a collapsing hapax fraction flags
    * boilerplate floods — natural text keeps roughly half its types
    * as hapax legomena under Zipf). Per source: document count, token
    * count, distinct types, hapax count (types occurring once), and
    * the 4dp type-token + hapax-fraction ratios (rounded so both
    * engines emit identical doubles). One explode → (source, term)
    * hash aggregation → one per-source aggregation; the doc count
    * rides a separate tiny agg joined back — nothing quadratic.
    */
  def corpusHealthReport(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val tc = df.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("_c"))
      .groupBy(col("source"))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    val docs = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    docs.join(tc, Seq("source"), "left")
      .na.fill(0L, Seq("n_tokens", "n_types", "n_hapax"))
      .withColumn("ttr", when(col("n_tokens") > 0,
        round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 4)))
      .withColumn("hapax_frac", when(col("n_types") > 0,
        round(col("n_hapax").cast("double") /
          col("n_types").cast("double"), 4)))
  }

  /** Vocabulary drift between two corpus snapshots — the monitoring
    * op behind "did the new crawl shift the token distribution?": the
    * per-term KL(new‖old) contribution `p·ln(p/q)` over the REFERENCE
    * corpus's capped-vocab closure (`p`/`q` = add-one term frequencies
    * in new/old; out-of-vocab mass pools in `<unk>`, so NOVEL terms
    * surface there). Positive contributions are terms the new corpus
    * over-represents, negative under-represents; their sum is the
    * total divergence. Contributions quantize to 1e-9 longs (the LM
    * discipline — order-free integer totals, engine-replayable
    * ordering). Output: `(term, c_old, c_new, contrib_q)` — one row
    * per vocab symbol, ≤ vocab+1 rows.
    *
    * Scale shape: two explode→groupBy term counts (each collapses to
    * ≤ V+1 keys map-side), two 1-row totals broadcast, one bounded
    * full-outer join on the tiny term tables. Nothing quadratic,
    * nothing collected but the vocab itself.
    */
  def vocabularyDrift(oldDf: DataFrame, newDf: DataFrame,
      textCol: String, vocab: Int): DataFrame = {
    require(vocab >= 1, s"vocab must be >= 1, got $vocab")
    val refTop = capVocab(termCountsCached(oldDf, textCol), vocab)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val vSize = refTop.size + 1
    def mapped(c: Column) = transform(tokens(c), t =>
      when(t.isInCollection(refTop), t).otherwise(lit("<unk>")))
    def counts(df: DataFrame, as: String) = df
      .select(explode(mapped(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as(as))
    val co = counts(oldDf, "c_old")
    val cn = counts(newDf, "c_new")
    val p = (coalesce(col("c_new"), lit(0L)).cast("double") + 1.0) /
      (col("_nn").cast("double") + lit(vSize.toDouble))
    val q = (coalesce(col("c_old"), lit(0L)).cast("double") + 1.0) /
      (col("_no").cast("double") + lit(vSize.toDouble))
    // token totals as whole-frame window sums over the JOINED term
    // table (≤ V+1 rows — single-partition by design): totals as
    // separate aggregates would re-tokenize both corpora a second
    // time, Catalyst does not deduplicate the common subplans
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    co.join(cn, Seq("term"), "full_outer")
      .withColumn("_no",
        sum(coalesce(col("c_old"), lit(0L))).over(all))
      .withColumn("_nn",
        sum(coalesce(col("c_new"), lit(0L))).over(all))
      .withColumn("contrib_q",
        round(p * log(p / q) * lit(1000000000L)).cast("long"))
      .select(col("term"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"),
        col("contrib_q"))
  }

  /** Overlapping token-window chunks per document — the segmentation
    * step ahead of embedding/RAG indexing and fixed-context
    * pre-training. Chunk i covers tokens `[i·stride, i·stride +
    * chunkSize)` with `stride = chunkSize - overlap`; every token
    * lands in at least one chunk and the last chunk may be short.
    * Output: `(idCol, chunk_idx, chunk_text, n_tokens)`, token-free
    * documents contribute no rows.
    *
    * One projection + one generator over the staged token array — no
    * shuffle at all; chunking a 100 TB corpus is a single scan whose
    * output feeds the embedding stage.
    */
  def chunkReport(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize): $overlap vs $chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn("_nw", size(col("_t")).cast("long"))
      .where(col("_nw") > 0)
      .withColumn("_nc", when(col("_nw") <= chunkSize, lit(1L))
        .otherwise(ceil((col("_nw") - chunkSize).cast("double") / stride)
          .cast("long") + 1L))
      .select(col(idCol), col("_t"), col("_nw"),
        explode(sequence(lit(0L), col("_nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("_t"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize.toLong), col("_nw") - col("chunk_idx") * stride)
          .as("n_tokens"))
  }

  /** Top-k tf-idf keywords per document — the tagging/routing signal a
    * curation pipeline uses for topic bucketing and per-domain mixing.
    * Output: `(idCol, term, rank, score)`, k rows per document with at
    * least one token; `score = tf · ln(N / df)` rounded so ranking and
    * values are oracle-stable, ranks breaking ties on the term string.
    *
    * Scale shape: explode → (doc, term) hash aggregation (map-side
    * combine), term-keyed join against the vocab-sized document
    * frequencies, then a per-doc window for the k heads. Two shuffles
    * (by term, then by doc), both linear in distinct (doc, term) pairs;
    * the doc count rides in as a broadcast 1-row frame.
    */
  def keywordReport(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val occ = df.select(col(idCol).as("_did"), explode(tokens(col(textCol))).as("term"))
    val tf = occ.groupBy(col("_did"), col("term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("_tf").cast("double") *
        log(col("_n").cast("double") / col("_df").cast("double")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_did")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("_did").as(idCol), col("term"), col("rank"), col("score"))
  }

  /** [[keywordReport]] with the DOCUMENT UNIT redefined as a group —
    * the topic-labeling half of semantic clustering: feed it
    * `(cluster, text)` rows (a k-means assignment joined back to the
    * corpus) and each cluster gets its k most characteristic terms by
    * cluster-level tf-idf, where df counts the CLUSTERS containing a
    * term and N is the number of distinct groups. Rows never
    * concatenate per group — tf is a (group, term) hash aggregation
    * over the exploded tokens, so the shape is [[keywordReport]]'s
    * (two shuffles, map-side combine), not a giant-string build.
    * Ties break on the term string; scores round to 4dp (per-row
    * expression — no order-dependent double sum).
    */
  def groupKeywordReport(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    val occ = df.select(col(groupCol).as("_did"),
      explode(tokens(col(textCol))).as("term"))
    val tf = occ.groupBy(col("_did"), col("term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val n = df.select(col(groupCol)).distinct().agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("_tf").cast("double") *
        log(col("_n").cast("double") / col("_df").cast("double")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_did")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("_did").as(groupCol), col("term"), col("rank"), col("score"))
  }

  /** In-document repetition metrics (MassiveText/Gopher-style
    * duplicate-n-gram filters): the share of n-grams that are repeats
    * of an earlier n-gram in the SAME document, for n = 1..3. High
    * values flag boilerplate, keyword stuffing, and generation loops —
    * the standard pre-training quality cut alongside [[qualityReport]].
    *
    * `dup_frac(n) = 1 - |distinct n-grams| / |n-grams|`, rounded for
    * oracle-stable doubles; 0 for empty docs. No shuffle, no UDF.
    * Documents shorter than n tokens shingle to one whole-text n-gram
    * (Dedup.shinglesOfTokens), so their dup fraction is 0 by
    * construction.
    *
    * Shape, tuned stage by stage at sf0.1 (56 s → 1.x s):
    *  - STAGED projections (tokens, then token hashes, then n-gram
    *    hashes, then metrics): expression trees re-evaluate at every
    *    reference — no hoisting across higher-order-function lambdas,
    *    and a Column used twice IS the tree twice — so each array
    *    materializes as an attribute before anything references it
    *    per-element (inlining everything measured 56 s; CollapseProject
    *    keeps multi-referenced non-cheap aliases staged).
    *  - Distinct over LONGS, not strings: `array_distinct` on string
    *    arrays is a quadratic UTF8-compare loop per row; on longs a
    *    primitive probe (staged strings still measured 7.0 s).
    *  - Hash each TOKEN once (56-bit md5, the engine's shared hash
    *    family), then combine n-gram hashes arithmetically —
    *    `h(a,b) = 5·h(a)+h(b)`, `h(a,b,c) = 25·h(a)+5·h(b)+h(c)`,
    *    overflow-free in a signed 64 at 56-bit inputs (31·2^56 < 2^61)
    *    so the DuckDB oracle (which ERRORS on BIGINT overflow, unlike
    *    Spark's silent wrap) mirrors it verbatim. Hashing every
    *    shingle string separately is 3× the hashing work at any scale.
    * Steady-state (codegen-warm): ~0.6 s for the full corpus scan at
    * sf0.1 on local[32].
    */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def h56(s: Column): Column =
      conv(substring(md5(s), 1, 14), 16, 10).cast("long")
    // n-gram hash combine over the token-hash array at position i
    // (1-based element_at); whole-text fallback matches
    // shinglesOfTokens's short-doc convention
    def ngramHashes(th: Column, t: Column, n: Int): Column = {
      val weights = Seq.iterate(1L, n)(_ * 5).reverse // 25, 5, 1
      when(size(th) >= n,
        transform(sequence(lit(0), size(th) - n), i =>
          weights.zipWithIndex.map { case (w, k) =>
            element_at(th, i + k + 1) * w
          }.reduce(_ + _)))
        .otherwise(array(h56(concat_ws(" ", t))))
    }
    def dupFrac(a: Column): Column =
      when(size(a) > 0,
        round(lit(1.0) - size(array_distinct(a)).cast("double") / size(a), 4))
        .otherwise(lit(0.0))
    df.select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol), col("_t"), size(col("_t")).cast("long").as("n_words"),
        transform(col("_t"), s => h56(s)).as("_th"))
      .select(col(idCol), col("n_words"), col("_th"),
        ngramHashes(col("_th"), col("_t"), 2).as("_bh"),
        ngramHashes(col("_th"), col("_t"), 3).as("_gh"))
      .select(col(idCol), col("n_words"),
        dupFrac(col("_th")).as("dup_word_frac"),
        dupFrac(col("_bh")).as("dup_bigram_frac"),
        dupFrac(col("_gh")).as("dup_trigram_frac"))
  }

  /** Gopher-style quality rule flags (Rae et al. 2021 §A1.1 repurposed
    * for this corpus): per doc, the rule inputs plus a composite
    * `keep` verdict. Rules kept to the subset whose signals are
    * non-degenerate on whitespace-token corpora:
    *   - word count within [minWords, maxWords];
    *   - mean word length within [3, 10] chars;
    *   - >= 2 distinct English stopwords present (the "ghost page"
    *     guard);
    *   - >= 80% of words contain an alphabetic character.
    * Pure column expressions over ONE staged tokenization — a codegen
    * scan, no shuffle; at 100 TB this runs at parquet-read speed and
    * composes with any downstream filter pushdown.
    */
  def gopherReport(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val stop = Markers.head._2
    df.select(col(idCol), col(textCol).as("_c"),
      split(col(textCol), "\\s+").as("_w"))
      .select(col(idCol), col("_c"),
        filter(col("_w"), w => w =!= "").as("_w"))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_words"),
        round(length(regexp_replace(col("_c"), "\\s", ""))
          .cast("double") / greatest(size(col("_w")), lit(1)).cast("double"), 6)
          .as("mean_word_len"),
        size(array_intersect(array_distinct(transform(col("_w"), w => lower(w))),
          array(stop.map(lit): _*))).cast("long").as("stop_hits"),
        round(size(filter(col("_w"), w => w.rlike("[A-Za-z]")))
          .cast("double") / greatest(size(col("_w")), lit(1)).cast("double"), 6)
          .as("alpha_frac"))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("stop_hits") >= 2L && col("alpha_frac") >= 0.8)
  }

  /** Bigram collocations by pointwise mutual information: the top-k
    * adjacent word pairs whose co-occurrence most exceeds the
    * independence expectation. Directional convention: p(x) counts x
    * as a LEFT element, p(y) counts y as a RIGHT element, p(x,y) over
    * all adjacent pairs; `pmi_ratio = c_xy * N / (c_x * c_y)` is the
    * e^PMI odds ratio — emitted instead of the log so the output is a
    * SINGLE exact-integer division (bit-identical across engines; log
    * libm implementations are not).
    *
    * Scale shape: bigrams via a zip of the token array with its own
    * tail (codegen, no posexplode self-join), ONE hash aggregation
    * with map-side partial combine to distinct-pair counts — computed
    * ONCE: the marginals are full-partition window sums over that
    * frame (re-aggregation joins would each recompute the pair pass;
    * column pruning makes the branches non-identical, so
    * ReuseExchange does NOT rescue them — measured), and the grand
    * total comes from a separate scan-only doc aggregation (sum of
    * per-doc pair counts == sum of c_xy), broadcast as one row.
    * Window partitions are per-WORD — bounded by the vocabulary's
    * bigram fan-out, never corpus-sized. Top-k via
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    * Ties break lexicographically on the pair.
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = df.select(tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= 2)
      .select(explode(zip_with(
        slice(col("_t"), lit(1), size(col("_t")) - 1),
        slice(col("_t"), lit(2), size(col("_t")) - 1),
        (a, b) => struct(a.as("x"), b.as("y")))).as("_p"))
      .select(col("_p")("x").as("x"), col("_p")("y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
    val tot = df.select(tokens(col(textCol)).as("_t"))
      .select(greatest(size(col("_t")) - 1, lit(0)).cast("long").as("_m"))
      .agg(sum(col("_m")).as("_n"))
    pc.withColumn("c_x", sum(col("c_xy")).over(Window.partitionBy(col("x"))))
      .withColumn("c_y", sum(col("c_xy")).over(Window.partitionBy(col("y"))))
      .where(col("c_xy") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("c_xy"),
        ((col("c_xy") * col("_n")).cast("double") / (col("c_x") * col("c_y")))
          .as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Heavy hitters over the corpus token stream via the mergeable
    * Misra-Gries summary ([[graft.functions.FreqItemsAgg]]): at most
    * `k` rows `(item, est, dec)` where `est <= true <= est + dec` for
    * every item (absent items have est 0) and `dec <= N/(k+1)`.
    *
    * The sketchy sibling of [[topNgrams]]: the exact aggregation
    * ships one row per distinct token per partition; this ships ONE
    * k-counter summary per partition regardless of vocabulary size —
    * the right shape when the distinct-token table itself is the
    * bottleneck (100 TB web corpora have billions of distinct
    * "tokens" once URLs/numbers/typos are in the stream).
    */
  def heavyHitters(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = df.select(explode(tokens(col(textCol))).as("w"))
      .select(col("w")).as(org.apache.spark.sql.Encoders.STRING)
    toks.select(graft.functions.FreqItemsAgg(k).toColumn)
      .toDF("sk")
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"),
        col("e.dec").as("dec"))
  }
}

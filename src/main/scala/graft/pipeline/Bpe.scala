package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real merge-table BPE: deterministic byte-pair-encoding merge
  * training over the corpus's word-frequency table, plus application
  * of a trained merge list (token segmentation / budget counting for
  * [[Packing]]). Replaces the regex approximation
  * [[TextAnalysis.tokenCountBpe]] with actual learned merges.
  *
  * Algorithm (classic BPE, Sennrich et al. 2016 "Neural Machine
  * Translation of Rare Words with Subword Units"): pre-tokenize to
  * lowercase alphanumeric words (the same tokenizer as BM25/Dedup, so
  * one vocabulary serves the whole engine), aggregate to a word
  * -> frequency table, seed each word as its character sequence, then
  * `k` times: count adjacent token pairs weighted by word frequency,
  * merge the most frequent pair everywhere (ties break on count DESC,
  * then pair lexicographically ASC — fully deterministic at any
  * parallelism).
  *
  * Scale shape: every pass is ONE distributed aggregation over the
  * distinct-WORD table (the vocabulary), which is sublinear in corpus
  * size (heavy-tailed: ~millions of types for a 100 TB web corpus vs
  * trillions of tokens). Only the 1-row argmax reaches the driver per
  * iteration, so training cost is k small shuffles — and at real
  * scale one trains on a corpus sample anyway. Application is a pure
  * per-row expression chain (codegen'd, no UDF): k literal
  * `replace()` calls over the delimited state string.
  *
  * State encoding: each token wrapped in `_…_` and concatenated, e.g.
  * "ab" -> "_a__b_". `_` cannot occur inside a token (tokens are
  * [a-z0-9]+, closed under concatenation), so a merge of pair (l, r)
  * is exactly `replace(state, "_l__r_", "_lr_")`: left-to-right
  * non-overlapping replacement == BPE's greedy left-to-right merge,
  * and a one-pass-per-merge sweep in priority order equals the
  * iterative algorithm because a merge's constituents exist only
  * after all earlier merges have been applied.
  */
object Bpe {

  /** Word -> initial character-delimited state ("ab" -> "_a__b_"). */
  def initState(word: Column): Column =
    regexp_replace(word, "(.)", "_$1_")

  /** GPT-2-STYLE byte-level pretokenizer, lookahead-free so the SAME
    * pattern runs under Java regex (Spark) and RE2 (DuckDB) with
    * identical leftmost-first alternation: a letter/digit/punctuation
    * run optionally claims ONE preceding space (GPT-2's ` ?` idiom);
    * leftover whitespace runs stay their own pretokens. Deviation from
    * the exact GPT-2 pattern, documented: no `'s|'t|…` contraction
    * branch and no `\s+(?!\S)` trailing-space lookahead (RE2 has no
    * lookahead) — contractions fall to the punctuation branch. Case is
    * PRESERVED (byte-level BPE never lowercases). Whitespace is the
    * EXPLICIT class `[\t\n\x0B\f\r ]`, not `\s`: Java's `\s` includes
    * vertical tab (U+000B) while RE2's does not, so a `\s`-based
    * pattern tokenizes a VT-bearing document differently in the two
    * engines — the explicit class is Java-`\s`-identical and pins RE2
    * to the same set.
    */
  val BytePretokRegex = " ?\\p{L}+| ?\\p{N}+" +
    "| ?[^\\t\\n\\x0B\\f\\r \\p{L}\\p{N}]+|[\\t\\n\\x0B\\f\\r ]+"

  /** Pretoken -> initial byte-delimited state: the token's UTF-8 bytes
    * as 2-char uppercase-hex symbols ("ab" -> "_61__62_"). Hex symbols
    * are [0-9A-F]+ — closed under concatenation and `_`-free, so the
    * whole `replace`-sweep machinery (applyMerges/stateTokenCount)
    * carries over unchanged; a merged symbol is just a longer hex
    * string naming the merged byte run.
    */
  def byteInitState(tok: Column): Column =
    regexp_replace(hex(encode(tok, "UTF-8")), "(..)", "_$1_")

  /** Byte-level pretoken array of a text column. */
  def bytePretokens(text: Column): Column =
    regexp_extract_all(text, lit(BytePretokRegex), lit(0))

  /** Apply an ordered merge list to a state column (codegen'd literal
    * replace chain).
    */
  def applyMerges(state: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(state) { case (e, (l, r)) =>
      call_function("replace", e, lit(s"_${l}__${r}_"), lit(s"_$l$r" + "_"))
    }

  /** Token count of a state string: tokens = segments between `__`
    * after trimming the outer delimiters; empty state counts 0.
    */
  def stateTokenCount(state: Column): Column =
    when(length(state) === 0, lit(0L))
      .otherwise(size(split(trim(state, "_"), "__")).cast("long"))

  /** Vocabularies at or below this row count train driver-locally:
    * the distributed loop costs k scheduler round-trips + shuffles
    * over a table that usually fits in one task. Even a 100 TB web
    * corpus has ~1e7 word types, so the LOCAL path is the common one
    * — exactly how production BPE trainers work (the corpus-sized
    * stage is the word-count aggregation; the merge loop runs on the
    * collected type table). The distributed loop remains the fallback
    * for pathological vocabularies.
    */
  val LocalTrainVocabLimit = 2000000L

  /** Train `k` merges over `docs(textCol)`. Returns (rank, left,
    * right) with rank 1-based in merge-priority order; may return
    * fewer than `k` when the vocabulary runs out of adjacent pairs.
    */
  def trainMerges(docs: DataFrame, textCol: String, k: Int): Seq[(Int, String, String)] =
    trainMergesOver(docs
        .select(explode(TextAnalysis.tokens(col(textCol))).as("w")),
      initState, charSeedLocal, k)

  /** BYTE-LEVEL training: GPT-2-style pretokens (case preserved,
    * spaces attached — [[BytePretokRegex]]), merges learned over
    * UTF-8 byte symbols. The loop, tie-break, and replace-sweep are
    * the word-level machinery verbatim; only the pretokenizer and the
    * seed alphabet differ.
    */
  def trainByteMerges(docs: DataFrame, textCol: String,
      k: Int): Seq[(Int, String, String)] =
    trainMergesOver(docs
        .select(explode(bytePretokens(col(textCol))).as("w")),
      byteInitState, byteSeedLocal, k)

  private def trainMergesOver(words: DataFrame, seed: Column => Column,
      seedLocal: String => Array[String], k: Int): Seq[(Int, String, String)] = {
    val wordFreq = words
      .groupBy("w").agg(count(lit(1)).as("f"))
      .persist()
    try {
      if (wordFreq.count() <= LocalTrainVocabLimit)
        return trainMergesLocal(
          wordFreq.collect().map(r => (seedLocal(r.getString(0)), r.getLong(1))), k)
      var st = wordFreq.select(seed(col("w")).as("s"), col("f"))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      var i = 1
      var exhausted = false
      while (i <= k && !exhausted) {
        val t = split(trim(col("s"), "_"), "__")
        val n1 = greatest(size(t) - 1, lit(0))
        val pair = explode(zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
          (x, y) => struct(x.as("l"), y.as("r"))))
        val top = st.select(col("f"), pair.as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("f").as("sf"))
          .orderBy(col("sf").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r) = (top(0).getString(0), top(0).getString(1))
          merges += ((i, l, r))
          st = st.withColumn("s", applyMerges(col("s"), Seq((l, r))))
          i += 1
        }
      }
      merges.toSeq
    } finally wordFreq.unpersist()
  }

  /** Driver-local merge loop over a collected (word, freq) vocabulary
    * — bit-identical to the distributed loop: pair counts sum word
    * frequencies at every adjacent position (overlaps included), the
    * argmax breaks ties count-DESC then pair-lex-ASC, and merging is
    * greedy left-to-right non-overlapping (== the `replace` sweep).
    */
  private def trainMergesLocal(vocab: Array[(Array[String], Long)],
      k: Int): Seq[(Int, String, String)] = {
    var states: Array[(Array[String], Long)] = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var i = 1
    var exhausted = false
    while (i <= k && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      states.foreach { case (syms, f) =>
        var j = 0
        while (j < syms.length - 1) {
          val key = (syms(j), syms(j + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((i, l, r))
        states = states.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
                out += l + r; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, f)
          }
        }
        i += 1
      }
    }
    merges.toSeq
  }

  /** [[trainMerges]] memoized per (canonicalized source plan, text
    * column, k) — the merge table is a write-time artifact of the
    * corpus (like IVF centroids or BM25 postings), not something to
    * retrain per query. Keyed on Dedup.planKey (canonical plan + file
    * listing digest + local-data digest): a bare canonicalized string
    * makes two same-schema corpora from DIFFERENT directories key
    * together and silently share a merge table.
    */
  def trainMergesCached(docs: DataFrame, textCol: String,
      k: Int): Seq[(Int, String, String)] =
    mergeCache.getOrCompute(Dedup.planKey(docs) + "|" + textCol + "|" + k)(
      trainMerges(docs, textCol, k))

  private final val MergeCacheMax = 16
  private val mergeCache =
    new ArtifactCache[String, Seq[(Int, String, String)]]("bpeMerges", MergeCacheMax)

  /** The trained merge table as a DataFrame; columns avoid the SQL
    * reserved words rank/left/right for oracle portability.
    */
  def mergeTable(spark: SparkSession, docs: DataFrame, textCol: String,
      k: Int): DataFrame = {
    import spark.implicits._
    trainMergesCached(docs, textCol, k).toDF("merge_rank", "lhs", "rhs")
      .select(col("merge_rank").cast("int"), col("lhs"), col("rhs"))
  }

  /** The BPE token stream of a text column under a trained merge list:
    * each word segmented into its learned subwords (in order), words
    * concatenated — the encode step that makes the merge table usable
    * as a tokenizer, not just a budget counter. Pure per-row expression
    * (no UDF, no shuffle); empty/word-free text yields an empty array.
    */
  def encodeTokens(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(TextAnalysis.tokens(text),
      w => split(trim(applyMerges(initState(w), merges), "_"), "__")))

  /** Greedy left-to-right non-overlapping application of ONE merge
    * over a symbol array — the array form of one
    * `replace(state, "_l__r_", "_lr_")` sweep. Bit-identical: symbols
    * are `_`-free, so the delimited pattern only matches at symbol
    * boundaries, and `String.replace` scans left-to-right continuing
    * AFTER each replacement — exactly this loop (BpeSpec asserts the
    * equivalence against the expression chain).
    */
  private def sweepLocal(syms: Array[String], l: String,
      r: String): Array[String] =
    if (syms.length < 2) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
          out += l + r; j += 2
        } else { out += syms(j); j += 1 }
      }
      out.toArray
    }

  /** Token count of one seeded word under the ordered merge chain. */
  private[graft] def countTokensLocal(seed: Array[String],
      merges: Array[(String, String)]): Long = {
    var syms = seed
    var i = 0
    while (i < merges.length && syms.length > 1) {
      syms = sweepLocal(syms, merges(i)._1, merges(i)._2)
      i += 1
    }
    syms.length.toLong
  }

  private[graft] val charSeedLocal: String => Array[String] =
    w => w.map(_.toString).toArray
  private[graft] val byteSeedLocal: String => Array[String] =
    w => w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => f"${b & 0xff}%02X")

  /** Executor-static word-type memo, keyed by merge-chain fingerprint
    * then word: a web corpus' word stream is zipfian, so the merge
    * chain runs once per TYPE per executor and every later occurrence
    * is a map hit. Bounded per chain; words past the cap compute
    * without memoizing (correctness unaffected).
    */
  private val MemoCapPerChain = 1 << 20
  /** Distinct merge chains memoized at once — a long-lived server that
    * keeps retraining (new chain fingerprint per train) must not grow
    * one memo map per historical chain forever. LRU by last-use tick:
    * the (MaxMemoChains+1)-th chain evicts the least-recently-USED
    * one, so the live chain always stays memoized and stale chains'
    * maps are released instead of pinned (correctness unaffected
    * either way — the memo is a pure cache). The HIT path — once per
    * row across all 32 executor threads — is a lock-free map read
    * plus one volatile tick write; the lock is taken only to INSERT a
    * new chain (rare: once per retrain), where a <=16-entry scan
    * picks the eviction victim.
    */
  private val MaxMemoChains = 16
  private final class ChainMemo {
    val map = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var lastUse: Long = 0L
  }
  private val memoTick = new java.util.concurrent.atomic.AtomicLong()
  private val countMemos =
    new java.util.concurrent.ConcurrentHashMap[String, ChainMemo]()

  private[graft] def memoFor(fp: String)
      : java.util.concurrent.ConcurrentHashMap[String, java.lang.Long] = {
    val hit = countMemos.get(fp)
    if (hit != null) { hit.lastUse = memoTick.incrementAndGet(); hit.map }
    else countMemos.synchronized {
      val again = countMemos.get(fp)
      if (again != null) {
        again.lastUse = memoTick.incrementAndGet(); again.map
      } else {
        while (countMemos.size >= MaxMemoChains) {
          var lruK: String = null; var lruT = Long.MaxValue
          countMemos.forEach { (k, v) =>
            if (v.lastUse < lruT) { lruT = v.lastUse; lruK = k }
          }
          countMemos.remove(lruK)
        }
        val m = new ChainMemo
        m.lastUse = memoTick.incrementAndGet()
        countMemos.put(fp, m)
        m.map
      }
    }
  }

  private def sumCountsUdf(fp: String, merges: Array[(String, String)],
      seed: String => Array[String]) =
    udf((ws: Seq[String]) => {
      if (ws == null) 0L
      else {
        val memo = memoFor(fp)
        var total = 0L
        val it = ws.iterator
        while (it.hasNext) {
          val w = it.next()
          val c = memo.get(w)
          if (c != null) total += c
          else {
            val v = countTokensLocal(seed(w), merges)
            if (memo.size < MemoCapPerChain) memo.put(w, v)
            total += v
          }
        }
        total
      }
    })

  private def chainFp(kind: String, merges: Array[(String, String)]): String =
    // \u0000 / \u0001 separators: merge symbols never contain control
    // chars, so ("ab","c") and ("a","bc") fingerprint apart
    kind + "\u0000" +
      merges.map { case (l, r) => l + "\u0001" + r }.mkString("\u0000")

  /** Per-doc BPE token count under a trained merge list: every doc
    * keeps a row (docs with no words count 0). ONE scan, zero
    * shuffles, zero joins: tokenization stays a Catalyst expression
    * and the per-word chain runs in a memoized UDF over the token
    * array (word-TYPE memo above). This replaced the pure
    * `aggregate`-over-replace-chain expression
    * ([[tokenCountReportExpr]]): that form billed k literal `replace`
    * sweeps per word OCCURRENCE and was the worst sf0.01 -> sf0.1
    * scaler in the corpus (7.1x on 10x rows); higher-order functions
    * never enter whole-stage codegen anyway, so the UDF gives up
    * nothing there.
    */
  def tokenCountReport(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], out: String = "bpe_tokens"): DataFrame = {
    val ms = merges.toArray
    docs.select(col(idCol), coalesce(
      sumCountsUdf(chainFp("w", ms), ms, charSeedLocal)(
        TextAnalysis.tokens(col(textCol))),
      lit(0L)).as(out))
  }

  /** The pure-expression form of [[tokenCountReport]] — kept as the
    * parity reference (BpeSpec asserts it agrees with the memoized
    * path on mixed corpora).
    */
  private[graft] def tokenCountReportExpr(docs: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)],
      out: String = "bpe_tokens"): DataFrame =
    docs.select(col(idCol), coalesce(
      aggregate(TextAnalysis.tokens(col(textCol)), lit(0L),
        (acc, w) => acc + stateTokenCount(applyMerges(initState(w), merges))),
      lit(0L)).as(out))

  /** Train-then-count in one call (the `queries()` entry shape). */
  def trainAndCount(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    tokenCountReport(docs, idCol, textCol,
      trainMergesCached(docs, textCol, k).map { case (_, l, r) => (l, r) })

  /** [[trainByteMerges]] memoized like [[trainMergesCached]]. */
  def trainByteMergesCached(docs: DataFrame, textCol: String,
      k: Int): Seq[(Int, String, String)] =
    mergeCache.getOrCompute(
        "bytes|" + Dedup.planKey(docs) + "|" + textCol + "|" + k,
        "bpeByteMerges")(trainByteMerges(docs, textCol, k))

  /** Per-doc BYTE-LEVEL BPE token count — the budget production
    * tokenizers actually bill (whitespace and case included, every
    * byte accounted). Same one-scan zero-shuffle memoized shape as
    * [[tokenCountReport]] (pretoken TYPES repeat just as heavily).
    */
  def byteTokenCountReport(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], out: String = "bpe_bytes_tokens"): DataFrame = {
    val ms = merges.toArray
    docs.select(col(idCol), coalesce(
      sumCountsUdf(chainFp("b", ms), ms, byteSeedLocal)(
        bytePretokens(col(textCol))),
      lit(0L)).as(out))
  }

  /** Expression form of [[byteTokenCountReport]] — parity reference. */
  private[graft] def byteTokenCountReportExpr(docs: DataFrame, idCol: String,
      textCol: String, merges: Seq[(String, String)],
      out: String = "bpe_bytes_tokens"): DataFrame =
    docs.select(col(idCol), coalesce(
      aggregate(bytePretokens(col(textCol)), lit(0L),
        (acc, w) => acc + stateTokenCount(applyMerges(byteInitState(w), merges))),
      lit(0L)).as(out))

  /** Train-then-count, byte-level (the `queries()` entry shape). */
  def trainAndCountBytes(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    byteTokenCountReport(docs, idCol, textCol,
      trainByteMergesCached(docs, textCol, k).map { case (_, l, r) => (l, r) })

  /** Persist a trained merge table as a parquet artifact — the BPE
    * analogue of the IVF-centroid / BM25-postings write-time artifacts
    * (`search.IndexArtifacts`): train once in the write/index job,
    * serve counts everywhere else without retraining.
    */
  def saveMerges(spark: SparkSession, path: String,
      merges: Seq[(Int, String, String)]): Unit = {
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a merge table saved by [[saveMerges]], in rank order. */
  def loadMerges(spark: SparkSession, path: String): Seq[(Int, String, String)] =
    spark.read.parquet(path).orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq

  /** Generated DuckDB oracle: the identical computation as unrolled
    * CTEs (one `(pairs, argmax, replace)` triple per iteration; the
    * argmax CTE is single-row, so the application chain references it
    * as scalar subqueries — empty iterations coalesce to a
    * never-matching `~` pattern). `table` must expose `textCol`.
    */
  def oracleMergesSql(table: String, textCol: String, k: Int): String =
    oracleCtes(table, textCol, k) + " " +
      (1 to k).map(i =>
        s"SELECT $i AS merge_rank, l AS lhs, r AS rhs FROM m$i")
        .mkString(" UNION ALL ") + " ORDER BY merge_rank"

  def oracleCountSql(table: String, idCol: String, textCol: String,
      k: Int, out: String = "bpe_tokens"): String =
    oracleCountChain(table, idCol, textCol, k, out) + " " +
      s"SELECT d.$idCol, CAST(coalesce(dc.$out, 0) AS BIGINT) AS $out " +
      s"FROM $table d LEFT JOIN dc ON d.$idCol = dc.$idCol"

  /** The training CTEs plus the per-doc count CTE `dc` — an open WITH
    * chain for oracles that keep computing past the counts (e.g.
    * BPE-budget sequence packing).
    */
  def oracleCountChain(table: String, idCol: String, textCol: String,
      k: Int, out: String = "bpe_tokens"): String =
    oracleCtes(table, textCol, k) +
      s", dw AS (SELECT $idCol, unnest(regexp_extract_all(lower($textCol), " +
      s"'[a-z0-9]+')) AS w FROM $table)" +
      s", dc AS (SELECT $idCol, sum(len(string_split(trim(${appSql(k)}, '_'), '__'))) " +
      s"AS $out FROM dw GROUP BY $idCol)"

  /** Generated oracle for [[encodeTokens]] joined to one string per
    * doc: the same merge-application chain inside a per-word lambda,
    * flattened in word order (tokens are [a-z0-9]+, so the space join
    * is lossless).
    */
  def oracleEncodeSql(table: String, idCol: String, textCol: String,
      k: Int, out: String = "bpe_text"): String =
    oracleCtes(table, textCol, k) +
      // words unnest to rows (lockstep unnest keeps the position — the
      // merge chain's scalar subqueries cannot live inside a lambda),
      // segment per row, then re-join in word order; wordless docs
      // come back as '' via the left join
      s", dw AS (SELECT $idCol, unnest(ws) AS w, " +
      s"unnest(range(1, len(ws) + 1)) AS pos FROM (SELECT $idCol, " +
      s"regexp_extract_all(lower($textCol), '[a-z0-9]+') AS ws FROM $table))" +
      s", ag AS (SELECT $idCol, string_agg(array_to_string(" +
      s"string_split(trim(${appSql(k)}, '_'), '__'), ' '), ' ' ORDER BY pos) " +
      s"AS $out FROM dw GROUP BY $idCol) " +
      s"SELECT d.$idCol, coalesce(ag.$out, '') AS $out " +
      s"FROM $table d LEFT JOIN ag ON d.$idCol = ag.$idCol"

  /** The merge-application chain over a word expression `w` (shared by
    * the count and encode oracles).
    */
  private def appSql(k: Int): String = appSqlGen(k, wordSeedSql)

  private def appSqlGen(k: Int, seed: String): String =
    (1 to k).foldLeft(seed) { (e, i) =>
      s"replace($e, coalesce((SELECT '_'||l||'__'||r||'_' FROM m$i), '~'), " +
        s"coalesce((SELECT '_'||l||r||'_' FROM m$i), '~'))"
    }

  /** Word-level pretokenizer/seed SQL (the BM25/Dedup tokenizer). */
  private def wordPretokSql(textCol: String): String =
    s"regexp_extract_all(lower($textCol), '[a-z0-9]+')"
  private val wordSeedSql = "regexp_replace(w, '(.)', '_\\1_', 'g')"

  /** Byte-level pretokenizer/seed SQL — the SAME lookahead-free
    * [[BytePretokRegex]] (RE2 and Java regex agree on leftmost-first
    * alternation here), UTF-8 bytes as uppercase hex pairs in both
    * engines (DuckDB `hex(encode(w))` == Spark `hex(encode(w,'UTF-8'))`).
    */
  private def bytePretokSql(textCol: String): String =
    s"regexp_extract_all($textCol, '$BytePretokRegex')"
  private val byteSeedSql =
    "regexp_replace(hex(encode(w)), '(..)', '_\\1_', 'g')"

  private def oracleCtes(table: String, textCol: String, k: Int): String =
    oracleCtesGen(table, textCol, k, wordPretokSql, wordSeedSql)

  private def oracleCtesGen(table: String, textCol: String, k: Int,
      pretok: String => String, seed: String): String = {
    val head = Seq(
      s"WITH w0 AS MATERIALIZED (SELECT w, count(*) AS f FROM (SELECT " +
        s"unnest(${pretok(textCol)}) AS w " +
        s"FROM $table) GROUP BY w)",
      s"s0 AS MATERIALIZED (SELECT $seed AS s, f FROM w0)")
    val iters = (1 to k).flatMap { i =>
      val p = i - 1
      Seq(
        s"t$i AS MATERIALIZED (SELECT string_split(trim(s, '_'), '__') AS t, f FROM s$p)",
        s"p$i AS MATERIALIZED (SELECT l, r, sum(f) AS sf FROM (SELECT " +
          s"unnest(list_slice(t, 1, len(t)-1)) AS l, " +
          s"unnest(list_slice(t, 2, len(t))) AS r, f FROM t$i) GROUP BY l, r)",
        s"m$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY sf DESC, l ASC, r ASC LIMIT 1)",
        s"s$i AS MATERIALIZED (SELECT replace(s, " +
          s"coalesce((SELECT '_'||l||'__'||r||'_' FROM m$i), '~'), " +
          s"coalesce((SELECT '_'||l||r||'_' FROM m$i), '~')) AS s, f FROM s$p)")
    }
    (head ++ iters).mkString(", ")
  }

  /** Generated oracle for [[trainAndCountBytes]]: the byte-level CTE
    * chain (pretokens case-preserved, hex byte symbols) ending in the
    * per-doc count. Whitespace-only and empty docs coalesce to 0 via
    * the LEFT JOIN exactly like the word-level count oracle.
    */
  def oracleByteCountSql(table: String, idCol: String, textCol: String,
      k: Int, out: String = "bpe_bytes_tokens"): String =
    oracleCtesGen(table, textCol, k, bytePretokSql, byteSeedSql) +
      s", dw AS (SELECT $idCol, unnest(${bytePretokSql(textCol)}) AS w " +
      s"FROM $table)" +
      s", dc AS (SELECT $idCol, sum(len(string_split(trim(" +
      s"${appSqlGen(k, byteSeedSql)}, '_'), '__'))) " +
      s"AS $out FROM dw GROUP BY $idCol) " +
      s"SELECT d.$idCol, CAST(coalesce(dc.$out, 0) AS BIGINT) AS $out " +
      s"FROM $table d LEFT JOIN dc ON d.$idCol = dc.$idCol"
}

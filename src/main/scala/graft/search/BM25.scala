package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 text relevance (the reference enables a BM25 index by default:
  * helix-cli/src/config.rs:174-175; search steps dsl.rs:2834-2847).
  *
  * Okapi BM25 with Lucene's idf: k1 = 1.2, b = 0.75,
  *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
  *   tfNorm  = tf*(k1+1) / (tf + k1*(1 - b + b*len/avgLen))
  *
  * All column math (codegen'd); postings are built per-query restricted
  * to the query's terms so the shuffled data is tiny. At 100 TB the
  * same scoring runs against a PRE-BUILT postings table partitioned by
  * term (see buildIndex) instead of tokenizing at query time.
  */
object BM25 {
  val K1 = 1.2
  val B = 0.75
  /** Tokenizer shared by index + query: lowercase, split on non-alphanumerics. */
  val TokenSplit = "[^a-z0-9]+"

  def tokenize(s: String): Seq[String] =
    s.toLowerCase.split(TokenSplit).filter(_.nonEmpty).toSeq

  private def ensurePar(df: DataFrame): DataFrame =
    graft.pipeline.Dedup.ensureParallelism(df)

  /** The rows of `post` whose `_term` is one of `terms`, as one `InSet`:
    * the plan's code is then the same for any number of query terms.
    */
  private def queryTerms(post: DataFrame, terms: Seq[String]): DataFrame =
    post.where(graft.functions.ParamLiteral.isIn(post, "_term", terms))

  /** Per-document postings restricted to `terms`: (_id, len, term, tf). */
  private def postings(df: DataFrame, textCol: String, terms: Seq[String]): DataFrame = {
    val toks = filter(split(lower(col(textCol)), TokenSplit), t => t =!= "")
    queryTerms(ensurePar(df).select(col("_id"), toks.as("_toks"))
      .select(col("_id"), size(col("_toks")).as("_len"), explode(col("_toks")).as("_term")),
      terms)
      .groupBy(col("_id"), col("_len"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
  }

  /** Write-time inverted index artifact for the scale path:
    * term -> (doc, tf) postings plus a one-row corpus-stats frame.
    * With `tenantCol`, postings carry the tenant and stats are computed
    * PER TENANT (each tenant is its own corpus — idf/avglen must match
    * what on-the-fly scoring of the tenant-filtered corpus produces).
    */
  def buildIndex(df: DataFrame, textCol: String,
      tenantCol: Option[String] = None): (DataFrame, DataFrame) = {
    val toks = filter(split(lower(col(textCol)), TokenSplit), t => t =!= "")
    val tcols = tenantCol.toSeq.map(c => col(c).as("_tenant"))
    val post = df.select(Seq(col("_id"), toks.as("_toks")) ++ tcols: _*)
      .select(Seq(col("_id"), size(col("_toks")).as("_len"),
        explode(col("_toks")).as("_term")) ++ tenantCol.map(_ => col("_tenant")).toSeq: _*)
      .groupBy((Seq(col("_term"), col("_id"), col("_len")) ++
        tenantCol.map(_ => col("_tenant")).toSeq): _*)
      .agg(count(lit(1)).as("_tf"))
    val lens = df.select(Seq(col("_id"),
      size(filter(split(lower(col(textCol)), TokenSplit), t => t =!= "")).as("_len")) ++
      tcols: _*)
    val stats = tenantCol match {
      case Some(_) => lens.groupBy(col("_tenant"))
        .agg(count(lit(1)).as("_n"), avg(col("_len")).as("_avglen"))
      case None => lens.agg(count(lit(1)).as("_n"), avg(col("_len")).as("_avglen"))
    }
    (post, stats)
  }

  /** Scores + a handle on the cached tokenized corpus so callers can
    * unpersist once their result is materialized.
    */
  private def scoreWithHandle(df: DataFrame, textCol: String,
      query: String): (DataFrame, DataFrame) = {
    val terms = tokenize(query).distinct
    require(terms.nonEmpty, "empty query")
    val toksCol = filter(split(lower(col(textCol)), TokenSplit), t => t =!= "")
    val toks = ensurePar(df).select(col("_id"), toksCol.as("_toks"))
      .withColumn("_len", size(col("_toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    toks.count() // eager: stats and postings race on this cache otherwise
    val stats = toks.agg(count(lit(1)).as("_n"), avg(col("_len")).as("_avglen"))
    val post = queryTerms(toks
      .select(col("_id"), col("_len"), explode(col("_toks")).as("_term")), terms)
      .groupBy(col("_id"), col("_len"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dfreq = post.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val idf = log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5))
    val tfNorm = (col("_tf") * lit(K1 + 1)) /
      (col("_tf") + lit(K1) * (lit(1 - B) + lit(B) * col("_len") / col("_avglen")))
    val scores = post.join(dfreq, "_term").crossJoin(stats)
      .withColumn("_termScore", idf * tfNorm)
      .groupBy(col("_id")).agg(quantizedSum(col("_termScore")).as("_bm25"))
    (scores, toks)
  }

  /** The BM25 aggregation grid: per-TERM scores quantize to 1e-9 longs
    * and SUM exactly, then the total derives back to a double. Two
    * flake classes die here at once: (1) a raw double sum is
    * summation-order-dependent, and Spark's partial-agg merge order
    * varies with shuffle arrival — same engine, same data, different
    * last ULP run to run; (2) ordering top-k on a raw cross-engine
    * double is the exact rank-boundary near-tie class that flipped the
    * r12 margin-mining driver rows (see VectorOps.q9). The integer sum
    * is order-free and replays in any engine; the derived double is
    * `qsum / 1e9` — monotone and injective for every realistic score
    * (qsum ≪ 2^53), so ordering by it IS ordering by the exact sum,
    * and `$score` consumers still read a double. Oracles mirror the
    * per-term rounding inside their SUM.
    */
  private def quantizedSum(termScore: org.apache.spark.sql.Column) =
    sum(round(termScore * lit(1000000000L)).cast("long")) /
      lit(1000000000.0)

  /** Scores every matching document; returns (_id, _bm25). The corpus
    * is tokenized ONCE (cached). NOTE: the cache lives until the session
    * evicts it — use topK/topKScores (which release it) in serving paths.
    */
  def score(df: DataFrame, textCol: String, query: String): DataFrame =
    scoreWithHandle(df, textCol, query)._1

  /** Top-k rows of `df` by BM25 relevance of `textCol` to `query`.
    * With keepScore the relevance stays available as `_score`
    * (the `$score` virtual field). The k result rows are materialized
    * eagerly (localCheckpoint) so the tokenized-corpus cache can be
    * released before returning — a long-running gateway would otherwise
    * accumulate one persisted corpus per query.
    */
  def topK(df: DataFrame, textCol: String, query: String, k: Int,
      keepScore: Boolean = false): DataFrame = {
    val (scores, toks) = scoreWithHandle(df, textCol, query)
    val top = df.join(scores, "_id")
      .orderBy(col("_bm25").desc, col("_id").asc)
      .limit(k)
    val named = if (keepScore) top.withColumnRenamed("_bm25", "_score") else top.drop("_bm25")
    val out = graft.pipeline.Scratch.stable(named)
    toks.unpersist(false)
    out
  }

  /** Exact PHRASE search: top-k docs by occurrence count of the
    * query's consecutive token sequence (`_id`, `phrase_tf`), ties on
    * id. Bag-of-words BM25 cannot distinguish "new york" from "york
    * new"; this positional match can.
    *
    * Positional-postings formulation: ONE codegen'd posexplode scan
    * derives `(doc, position, token)`, each phrase term j keeps only
    * ITS token's positions anchored to the window start (`pos - j`),
    * and an m-way equi-join on `(doc, start)` leaves exactly the
    * aligned windows — overlapping occurrences included (a
    * replace()-based count misses adjacent matches sharing the
    * boundary token). The per-term filter cuts the corpus token stream
    * to the phrase terms' postings BEFORE any shuffle — the same
    * selectivity a positional index serves, without requiring one; a
    * per-window array-lambda scan (the obvious HOF form) runs
    * INTERPRETED per token and measured ~6 s where this plan is
    * sub-second at sf0.1.
    */
  /** Superset pre-filter for the positional scans: every token
    * [[tokenize]] emits is a contiguous substring of `lower(text)`
    * (the split on `[^a-z0-9]+` does no further normalization), so
    * requiring the lowered text to CONTAIN each query term keeps
    * every doc whose token list has all of them. The positional
    * posexplode then runs over the matching sliver instead of the
    * corpus — the contains pass is one codegen'd scan, and the
    * sliver is what a term-partitioned positional index would hand
    * a 1000-executor cluster anyway.
    */
  private def containsAllTerms(df: DataFrame, textCol: String,
      terms: Seq[String]): DataFrame =
    df.where(terms.distinct
      .map(t => contains(lower(col(textCol)), lit(t)))
      .reduce(_ && _))

  def phraseTopK(df: DataFrame, textCol: String, phrase: String,
      k: Int): DataFrame = {
    val terms = tokenize(phrase)
    require(terms.nonEmpty, "empty phrase")
    val pos = ensurePar(containsAllTerms(df, textCol, terms))
      .select(col("_id"),
        posexplode(graft.pipeline.TextAnalysis.tokens(col(textCol)))
          .as(Seq("_p", "_w")))
    val parts = terms.zipWithIndex.map { case (t, j) =>
      pos.where(col("_w") === lit(t))
        .select(col("_id"), (col("_p") - j).as("_s"))
    }
    parts.reduce((a, b) => a.join(b, Seq("_id", "_s")))
      .groupBy(col("_id"))
      .agg(count(lit(1)).cast("long").as("phrase_tf"))
      .orderBy(col("phrase_tf").desc, col("_id").asc)
      .limit(k)
  }

  /** Proximity (NEAR) search: top-k docs where `termA` and `termB`
    * co-occur within `window` token positions, ranked by their MINIMAL
    * distance (`_id`, `near_dist`), ties on id — the relevance signal
    * between bag-of-words (any distance) and exact phrase (distance
    * enforced AND order enforced). Same positional-postings shape as
    * [[phraseTopK]]: one posexplode scan, each term's positions
    * filtered BEFORE the shuffle, one equi-join on the doc id, one
    * min-aggregation; the per-doc pair fan-out is tfA·tfB — query-term
    * frequencies, not corpus size.
    */
  def nearTopK(df: DataFrame, textCol: String, termA: String, termB: String,
      window: Int, k: Int): DataFrame = {
    val (ta, tb) = (tokenize(termA), tokenize(termB))
    require(ta.length == 1 && tb.length == 1,
      s"nearTopK takes single terms, got '$termA' / '$termB'")
    require(ta.head != tb.head, "NEAR of a term with itself is degenerate")
    require(window >= 1, s"window must be >= 1, got $window")
    val pos = ensurePar(containsAllTerms(df, textCol, Seq(ta.head, tb.head)))
      .select(col("_id"),
        posexplode(graft.pipeline.TextAnalysis.tokens(col(textCol)))
          .as(Seq("_p", "_w")))
    pos.where(col("_w") === lit(ta.head))
      .select(col("_id"), col("_p").as("_pa"))
      .join(pos.where(col("_w") === lit(tb.head))
        .select(col("_id"), col("_p").as("_pb")), Seq("_id"))
      .groupBy(col("_id"))
      .agg(min(abs(col("_pa") - col("_pb"))).cast("long").as("near_dist"))
      .where(col("near_dist") <= window)
      .orderBy(col("near_dist").asc, col("_id").asc)
      .limit(k)
  }

  /** Top-k (_id, score) pairs — for callers that want the relevance. */
  def topKScores(df: DataFrame, textCol: String, query: String, k: Int): DataFrame = {
    val (scores, toks) = scoreWithHandle(df, textCol, query)
    val out = graft.pipeline.Scratch.stable(
      scores.orderBy(col("_bm25").desc, col("_id").asc).limit(k))
    toks.unpersist(false)
    out
  }

  /** Score against a PRE-BUILT index (postings + stats from buildIndex):
    * the serving path once a text index is declared — no query-time
    * tokenization at all; only the query terms' postings are read
    * (term-partitioned at scale = partition-pruned scan).
    */
  def scoreFromIndex(post: DataFrame, stats: DataFrame, query: String): DataFrame = {
    val terms = tokenize(query).distinct
    require(terms.nonEmpty, "empty query")
    val qPost = queryTerms(post, terms)
    val dfreq = qPost.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val idf = log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5))
    val tfNorm = (col("_tf") * lit(K1 + 1)) /
      (col("_tf") + lit(K1) * (lit(1 - B) + lit(B) * col("_len") / col("_avglen")))
    qPost.join(dfreq, "_term").crossJoin(stats)
      .withColumn("_termScore", idf * tfNorm)
      .groupBy(col("_id")).agg(quantizedSum(col("_termScore")).as("_bm25"))
  }
}

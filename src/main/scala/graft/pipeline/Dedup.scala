package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.search.VectorOps

/** Deduplication strategies for training-data pipelines, smallest to
  * largest hammer. All are shuffle-conscious:
  *  - exact: one hash-aggregate on a digest (map-side partial agg);
  *  - minhash/LSH: band-bucket join — candidate pairs only, never the
  *    full n² cross product;
  *  - simhash: 64-bit signature, self-join on signature bands;
  *  - n-gram Jaccard: shared-shingle equi-join (inverted-index style);
  *  - embedding cosine: brute pairs under a threshold at small n,
  *    cluster-bucketed (IVF) at scale.
  *
  * Hashes that must match the DuckDB oracle use md5 hex substrings
  * compared AS STRINGS (lexicographic min == uniform minhash) — both
  * engines produce identical md5 hex, so signatures agree bit-for-bit.
  */
object Dedup {

  def tokens(c: Column): Column = TextAnalysis.tokens(c)

  /** Small inputs often arrive as one parquet split; fan the rows out
    * before CPU-heavy tokenize/hash stages. No-op when the input is
    * already well-partitioned (the 100 TB case).
    *
    * Sizing reads the optimizer's byte estimate (file sizes for scans)
    * rather than `df.rdd.getNumPartitions` — converting to an RDD
    * forces a full extra physical planning of the input per call. The
    * estimate errs large on joins/aggregates, which errs toward the
    * no-op — exactly the posture a big input wants.
    */
  private[graft] def ensureParallelism(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estSplits = df.queryExecution.optimizedPlan.stats.sizeInBytes /
      BigInt(maxSplit.max(1L))
    if (estSplits < p / 2) df.repartition(p) else df
  }

  /** Word n-gram shingles over an ALREADY-TOKENIZED array column;
    * whole text when < n tokens. Taking the token array (not the raw
    * text) matters: expression trees re-evaluate repeated subtrees, so
    * inlining the regex tokenizer here would re-split the text once per
    * shingle position.
    */
  def shinglesOfTokens(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*)))
      .otherwise(array(concat_ws(" ", t)))

  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS local
    * fingerprinting scheme): hash every k-gram, slide a window of `w`
    * consecutive k-gram hashes, and select each window's MINIMUM —
    * the distinct selected hashes are the doc's fingerprints. The
    * guarantee winnowing adds over plain shingle sampling: any shared
    * run of at least `k + w - 1` tokens yields at least one SHARED
    * selected fingerprint, while only ~2/(w+1) of all k-grams are
    * kept. Docs with >= 1 k-gram but < w windows fall back to their
    * single global minimum. Pure column expressions (one staged
    * tokenization, codegen'd); empty/short docs yield an empty array.
    */
  def winnowKgramHashes(t: Column, k: Int): Column = {
    def h56(s: Column): Column =
      conv(substring(md5(s), 1, 14), 16, 10).cast("long")
    when(size(t) >= k, transform(sequence(lit(0), size(t) - k),
      i => h56(concat_ws(" ", slice(t, i + 1, lit(k))))))
      .otherwise(array().cast("array<long>"))
  }

  /** Window-min selection over a STAGED k-gram hash array. The hash
    * array must be its own attribute (a select alias), NOT inlined:
    * `slice(gh, j, w)` inside the window lambda re-evaluates whatever
    * expression `gh` is per window — an inlined hash array turns the
    * doc's md5 work quadratic (measured: 346 s for the corpus pass
    * that runs in ~1 s staged). [[winnowPairs]] stages it; compose
    * these two helpers the same way.
    */
  def winnowFromHashes(gh: Column, w: Int): Column =
    when(size(gh) >= w,
      array_distinct(transform(sequence(lit(0), size(gh) - w),
        j => array_min(slice(gh, j + 1, lit(w))))))
      .otherwise(when(size(gh) >= 1, array(array_min(gh)))
        .otherwise(array().cast("array<long>")))

  /** Single-column convenience form (inlined — fine for one-off/small
    * inputs; corpus scans MUST go through the staged [[winnowPairs]]
    * path, see [[winnowFromHashes]]).
    */
  def winnowFingerprints(t: Column, k: Int, w: Int): Column =
    winnowFromHashes(winnowKgramHashes(t, k), w)

  /** Candidate near-dup pairs by SHARED winnowed fingerprints: an
    * inverted-index equi-join on the fingerprint value — never
    * all-pairs — keeping pairs that share at least `minShared`
    * selections. Fingerprints appearing in more than `maxDf` docs are
    * dropped first (boilerplate stop-fingerprints), the same document-
    * frequency discipline as the shingle paths. Output:
    * `(id_a, id_b, n_shared)`.
    */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val fps = winnowFingerprintSetCached(df, textCol, idCol, k, w)
    val kept =
      if (maxDf == Int.MaxValue) fps
      else fps.withColumn("_df",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("_fp"))))
        .where(col("_df") <= maxDf).drop("_df")
    val a = kept.select(col("_id").as("id_a"), col("_fp"))
    val b = kept.select(col("_id").as("id_b"), col("_fp"))
    a.join(b, Seq("_fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Distinct (doc, winnow fingerprint) pairs, memoized per
    * (canonicalized source plan, textCol, idCol, k, w) — write-time
    * material exactly like the shingle/MinHash/SimHash artifacts: the
    * selected-fingerprint inverted index is what a 100 TB deployment
    * stores at ingest, and the query-time knobs (`maxDf`, `minShared`)
    * apply DOWNSTREAM of it, so every winnowing query serves from one
    * build. Tokens and k-gram hashes are staged as attributes inside
    * (each lambda slices a computed ARRAY — the r9
    * inlined-expression-quadratic fix). LRU-bounded, unpersists on
    * evict, cleared by [[clearShingleCache]].
    */
  def winnowFingerprintSetCached(df: DataFrame, textCol: String,
      idCol: String, k: Int, w: Int, eager: Boolean = true): DataFrame = {
    val (fps, built) = winnowFpCache.getOrBuild(
        (planKey(df), s"$textCol|$idCol", k, w)) {
      df.select(col(idCol).as("_id"), tokens(col(textCol)).as("_t"))
        .select(col("_id"), winnowKgramHashes(col("_t"), k).as("_gh"))
        .select(col("_id"),
          explode(winnowFromHashes(col("_gh"), w)).as("_fp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) fps.count()
    fps
  }

  private val winnowFpCache = ArtifactCache.frames[(String, String, Int, Int)](
    "winnowFingerprintSet", ShingleCacheMax)

  /** Exact dedup: canonical (min) id per distinct text digest. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("_digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)

  /** Distinct (id, shingle) pairs — the shared inverted-index shape.
    * Tokenization runs in its own projection so the regex split
    * executes once per document, not once per shingle reference.
    */
  def shingleSet(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("_did"), tokens(col(textCol)).as("_t"))
      .select(col("_did"), explode(shinglesOfTokens(col("_t"), n)).as("_sh"))
      .distinct()

  /** Like shingleSet but with each shingle replaced by its 60-bit md5
    * hash BEFORE the distinct: the shuffle moves 8-byte longs instead
    * of strings and every downstream equi-join runs on long keys. The
    * oracle derives identical hashes, so set sizes/intersections agree
    * exactly (identical collisions on both sides; p(collision) ~
    * |shingles|²/2^61).
    */
  /** Executor-local mirror of [[shingleHashSet]]'s hashing for
    * row-preserving stream predicates: the SAME tokens (lower,
    * `[^a-z0-9]+` split, empties dropped), the SAME shingle rule
    * (n-grams; whole text when < n tokens), the SAME 15-hex-digit md5
    * prefix hash — StreamingSpec pins hash-identity against the
    * distributed build. Tokenless text returns EMPTY (the ingest
    * filters' pass-through marker) where the distributed build would
    * emit the hash of "" for a corpus row; a no-token row contains
    * nothing measurable, so a filter must not drop it.
    */
  def shingleHashesOfText(text: String, n: Int): Seq[Long] = {
    if (text == null) return Seq.empty
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)
    if (toks.isEmpty) return Seq.empty
    val shingles =
      if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(toks.mkString(" "))
    shingles.distinct.map { sh =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
  }

  def shingleHashSet(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("_did"), tokens(col(textCol)).as("_t"))
      .select(col("_did"), explode(shinglesOfTokens(col("_t"), n)).as("_s0"))
      .select(col("_did"),
        conv(substring(md5(col("_s0")), 1, 15), 16, 10).cast("long").as("_sh"))
      .distinct()

  /** Bounded cache of materialized shingle sets, keyed by the source
    * plan + (textCol, idCol, n). The shingle set is the shared artifact
    * of every dedup variant (minhash, ngram, …) — at scale it is a
    * write-time table; here, running two dedup ops over the same corpus
    * builds it once. Entries own their persisted frames; eviction (LRU
    * past `ShingleCacheMax`) unpersists.
    */
  private final val ShingleCacheMax = 8
  private val shingleCache = ArtifactCache.frames[(String, String, Int)](
    "shingleHashSet", ShingleCacheMax)

  /** Cache key for a plan-keyed artifact ([[ArtifactCache]]): the FULL
    * canonicalized plan string PLUS a name for the CONTENT of every
    * leaf the canonical string leaves out — a hash of each in-memory
    * LocalRelation's rows, a digest of each file relation's file
    * listing, the id of each RDD-backed leaf. The plan string prints a
    * LocalRelation as its SCHEMA only — two same-shaped in-memory
    * frames with different rows would silently share one artifact
    * (caught by SuffixDedupSpec's cross-validation: a cached
    * dup-position frame served another corpus's positions).
    *
    * A file source is named by the listing its relation was resolved
    * with (every file's path, length and modification time), not by
    * its root path: a fresh read of a directory that gained, lost or
    * rewrote files keys apart from the earlier read, while re-reads of
    * an unchanged directory — and reuse of one frame — still hit.
    */
  private[graft] def planKey(df: DataFrame): String = {
    // ANALYZED, not logical: Spark 4 defers source resolution, so a
    // raw read's logical plan is one `UnresolvedDataSource ... paths:
    // 1 provided` node — EVERY parquet read of any path stringifies
    // identically there
    val canon = df.queryExecution.analyzed.canonicalized
    // 128-bit MD5 over the rows' string forms plus the row count — a
    // 32-bit Seq.hashCode would make two same-schema in-memory frames
    // collide at birthday-bound odds and silently share an artifact
    val localData = canon.collect {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val md = java.security.MessageDigest.getInstance("MD5")
        lr.data.foreach(r => md.update(r.toString.getBytes("UTF-8")))
        lr.data.length.toString + ":" +
          md.digest().map("%02x".format(_)).mkString
    }
    // a LogicalRelation's canonical string does NOT include its file
    // paths — two same-schema parquet reads of DIFFERENT directories
    // canonicalize identically (observed: an sf0.1 artifact answered an
    // sf1 corpus's query), and root paths alone miss files added to or
    // rewritten in one directory between reads (a stale row count and
    // term-count model were served). Name each file relation by its
    // listing.
    val fileData = canon.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location match {
              case idx: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =>
                listingDigest(df.sparkSession, idx)
              case idx => idx.rootPaths.mkString(",")
            }
          case other => other.toString
        }
      case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        v2.table.name()
    }
    // RDD-backed leaves (foreachBatch micro-batches, Dataset-from-RDD)
    // canonicalize by SCHEMA only — without this, every micro-batch of
    // a stream shares one plan string and a plan-keyed cache serves
    // batch 1's artifact to batch 2 (observed: a cached µ-unit staging
    // let a near-duplicate sail through semanticIngestKeep). The RDD
    // id is unique per SparkContext, so RDD-backed frames never
    // cache-hit each other — correct, since each batch is new data.
    val rddData = canon.collect {
      case lrdd: org.apache.spark.sql.execution.LogicalRDD =>
        "rdd:" + lrdd.rdd.id
      case erdd: org.apache.spark.sql.execution.ExternalRDD[_] =>
        "rdd:" + erdd.rdd.id
    }
    canon.toString +
      (if (localData.isEmpty) "" else localData.mkString("|local:", ",", "")) +
      (if (fileData.isEmpty) "" else fileData.mkString("|files:", ",", "")) +
      (if (rddData.isEmpty) "" else rddData.mkString("|rdds:", ",", ""))
  }

  /** MD5 over the (path, length, mtime) of every file `idx` lists —
    * `allFiles` reads the listing the read already built, no new
    * listing call.
    *
    * Spark's own plan cache matches file scans by ROOT PATH
    * (`InMemoryFileIndex.equals`), so an artifact persisted over an
    * earlier listing of the same directory would still answer a fresh
    * read's plan. When a root-path set shows a listing other than the
    * last one seen, the persisted data over it is refreshed
    * (`refreshByPath`) before anything new is built on it.
    */
  private def listingDigest(spark: org.apache.spark.sql.SparkSession,
      idx: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex)
      : String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    idx.allFiles().map(f =>
      s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
      .foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    val digest = md.digest().map("%02x".format(_)).mkString
    val roots = idx.rootPaths.map(_.toString).sorted
    // bounded: past the cap the history restarts (a change to a
    // directory first seen before the restart then goes undetected)
    if (listingSeen.size > ListingSeenMax) listingSeen.clear()
    val seen = listingSeen.put(roots.mkString(","), digest)
    if (seen != null && seen != digest)
      roots.foreach(spark.catalog.refreshByPath)
    digest
  }

  private final val ListingSeenMax = 4096
  private val listingSeen =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** `eager = false` skips the materializing count on a cache MISS —
    * valid only when the caller's own next action reads the frame
    * exactly once before any self-join fans out over it (the persist
    * then populates during that action with no duplicate compute).
    *
    * Keyed by the FULL canonicalized source plan, not a 32-bit hash —
    * a hash collision would silently serve another corpus's shingles.
    * A changed directory keys apart on a FRESH read (see [[planKey]]);
    * a frame whose files change underneath it keeps the key of the
    * listing it was read with.
    * The eager count runs OUTSIDE the cache lock so a build doesn't
    * block other dedup calls for a whole Spark job; a concurrent
    * reader may briefly duplicate compute, never see wrong data.
    */
  def shingleHashSetCached(df: DataFrame, textCol: String, idCol: String, n: Int,
      eager: Boolean = true): DataFrame = {
    val (ss, built) = shingleCache.getOrBuild((planKey(df),
      s"$textCol|$idCol", n)) {
      shingleHashSet(df, textCol, idCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) ss.count()
    ss
  }

  /** MinHash signatures (+ shingle-set size) per doc, cached like the
    * shingle set: at 100 TB the signature is a per-doc column written
    * at ingest (the reference's vector/text indexes are the same
    * write-time trade), so serving latency doesn't re-aggregate the
    * corpus's shingles per query. Key includes the hash-family params;
    * lifecycle owned by the bounded cache (LRU unpersist).
    */
  private val sigCache = ArtifactCache.frames[(String, String, Int, Int)](
    "minhashSignature", ShingleCacheMax)

  /** Signature artifact: mh0..mhK + `_sz` per `_did`. On a cache miss
    * the aggregation reads the (cached) shingle set once; `eager`
    * materializes it immediately (warm-up path).
    */
  def minhashSignatureCached(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, eager: Boolean = true): DataFrame = {
    val (sig, built) = sigCache.getOrBuild((planKey(df),
      s"$textCol|$idCol", n, numHashes)) {
      val ss = shingleHashSetCached(df, textCol, idCol, n, eager = false)
      val aggs = minhashSeeds(numHashes).zipWithIndex.map { case (seed, j) =>
        min(col("_sh").bitwiseXOR(lit(seed))).as(s"mh$j")
      } :+ count(lit(1)).as("_sz") // set size rides the same agg —
      // the verify stage reads it from here, not a second shingle scan
      ss.groupBy(col("_did")).agg(aggs.head, aggs.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) sig.count()
    sig
  }

  private val arrCache = ArtifactCache.frames[(String, String, Int)](
    "shingleArray", ShingleCacheMax)

  /** Per-doc shingle-hash ARRAY artifact (`_did`, `_sha`) — the same
    * write-time material as [[shingleHashSetCached]] in the row shape
    * candidate VERIFICATION wants: one codegen'd `array_intersect`
    * per candidate pair replaces a per-shingle pair aggregation
    * (grouped from the exploded set once, then cached; array length is
    * doc-bounded like every shingle structure here).
    */
  def shingleArrayCached(df: DataFrame, textCol: String, idCol: String,
      n: Int, eager: Boolean = true): DataFrame = {
    val (arr, built) = arrCache.getOrBuild(
        (planKey(df), s"$textCol|$idCol", n)) {
      shingleHashSetCached(df, textCol, idCol, n, eager = false)
        .groupBy(col("_did"))
        .agg(collect_list(col("_sh")).as("_sha"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) arr.count()
    arr
  }

  /** Drop (and unpersist) every cached dedup artifact: shingle sets and
    * arrays, signatures, winnowing fingerprints, duplicated-position
    * and window-count frames, and minhash cluster tables.
    */
  def clearShingleCache(): Unit =
    Seq(shingleCache, arrCache, sigCache, simhashSigCache, winnowFpCache, dupPosCache,
      clusterCache).foreach(_.clear())

  /** Fixed xor-seed family: one md5 per shingle, `numHashes` derived
    * hashes via xor with golden-ratio seeds (60-bit, positive longs).
    * The same constants are inlined into the DuckDB oracle SQL.
    */
  def minhashSeeds(numHashes: Int): Seq[Long] =
    (0 until numHashes).map(j => (j.toLong * 0x9E3779B97F4A7C15L) & ((1L << 60) - 1))

  /** MinHash signature: numHashes columns `mh0..mhK`, each
    * min over the doc's shingles of (md5_60bit(shingle) xor seed_j).
    */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val ss = shingleSet(df, textCol, idCol, n)
    val base = conv(substring(md5(col("_sh")), 1, 15), 16, 10).cast("long")
    val withBase = ss.withColumn("_h", base)
    val aggs = minhashSeeds(numHashes).zipWithIndex.map { case (seed, j) =>
      min(col("_h").bitwiseXOR(lit(seed))).as(s"mh$j")
    }
    withBase.groupBy(col("_did")).agg(aggs.head, aggs.tail: _*)
  }

  /** Stream all ordered (id_a < id_b) element pairs of an ASCENDING-
    * sorted `_ids` array column — the in-task expansion of a group's
    * pair set. Two chained explodes (element, then its tail slice) keep
    * per-row memory at O(d) — the id array the collect_list buffer
    * already held — while the d(d-1)/2 pairs STREAM through the stage
    * the way a self-join's outputs would; a single flatten-of-pairs
    * expression would materialize all d²/2 structs in one value. The
    * per-key work bound is the same as the equi-join formulation (one
    * join task owned all d² outputs of a hot key anyway), minus two
    * shuffle legs and the id_a >= id_b half the join computed only to
    * discard. Output columns: id_a, id_b (element type preserved).
    */
  private[graft] def explodePairs(grouped: DataFrame): DataFrame =
    grouped.select(col("_ids"), posexplode(col("_ids")).as(Seq("_i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("_ids"), col("_i") + lit(2),
          size(col("_ids")) - col("_i") - 1)).as("id_b"))

  /** All ordered pairs of elements sharing a key, with BOUNDED per-task
    * memory — the one pair-generation primitive every dedup variant
    * routes through. Semantics match a naive
    * `groupBy(keys).collect_list -> explodePairs`: each unordered
    * element pair under each key is emitted exactly once (columns
    * id_a < id_b, element type preserved), so intersection counts
    * (one row per shared key) still fall out of a downstream groupBy.
    *
    * Memory bound: a key with n <= cap elements aggregates into one
    * collect_list buffer (≤ cap entries) and pair-explodes in-task —
    * the cheap path, one co-partitioned join + agg. A key with n > cap
    * elements NEVER materializes a collect_list: its elements hash-split
    * into nb = ceil(n/cap) sub-buckets and pairs form per unordered
    * sub-bucket PAIR through an equi-join on (keys, p, q) — the largest
    * single join block is cap², spread over ~nb²/2 tasks, so a
    * boilerplate band key owned by 1M docs costs many bounded tasks
    * instead of one 1M-element aggregation buffer (the same skew guard
    * as embeddingPairs' MaxClusterBlock split). A row in sub-bucket b
    * enters side A under keys (b, q) for q >= b and side B under (p, b)
    * for p <= b; a pair in buckets (x <= y) meets at exactly (x, y) —
    * twice (A/B swapped) iff x == y, which the `p < q || id_a < id_b`
    * filter reduces to once.
    *
    * The up-front count aggregation doubles as singleton pruning: only
    * rows under keys with n > 1 survive the join, so unique shingles —
    * the vast majority of an inverted index — never reach the
    * collect_list shuffle at all.
    *
    * `maxKeyDf` additionally DROPS keys with n > maxKeyDf (the
    * ngramJaccardPairs document-frequency cap); the default keeps
    * every key, bounding memory without changing the pair set.
    */
  private[graft] def boundedKeyPairs(items: DataFrame, keyCols: Seq[String],
      elemCol: String, cap: Int = MaxClusterBlock,
      maxKeyDf: Int = Int.MaxValue): DataFrame = {
    val keys = keyCols.map(col)
    var counts = items.groupBy(keys: _*).agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
    if (maxKeyDf != Int.MaxValue) counts = counts.where(col("_n") <= maxKeyDf)
    val withN = items.join(counts, keyCols)
    val small = explodePairs(withN.where(col("_n") <= cap)
      .groupBy(keys: _*)
      .agg(sort_array(collect_list(col(elemCol))).as("_ids")))
    val big = withN.where(col("_n") > cap)
      .withColumn("_nb", ceil(col("_n") / lit(cap.toDouble)).cast("int"))
      .withColumn("_bkt", pmod(hash(col(elemCol)), col("_nb")))
    val aSide = big.select(keys ++ Seq(col("_bkt").as("_p"),
      explode(sequence(col("_bkt"), col("_nb") - 1)).as("_q"),
      col(elemCol).as("_ea")): _*)
    val bSide = big.select(keys ++ Seq(
      explode(sequence(lit(0), col("_bkt"))).as("_p"),
      col("_bkt").as("_q"), col(elemCol).as("_eb")): _*)
    val bigPairs = aSide.join(bSide, keyCols ++ Seq("_p", "_q"))
      .where((col("_p") < col("_q")) || (col("_ea") < col("_eb")))
      .select(least(col("_ea"), col("_eb")).as("id_a"),
        greatest(col("_ea"), col("_eb")).as("id_b"))
    small.union(bigPairs)
  }

  /** Cross-side variant of [[boundedKeyPairs]]: every (element of `a`,
    * element of `b`) pair sharing a key, with the same bounded-memory
    * guarantee and NO within-side pairs. Both inputs carry `keyCols`
    * plus an element column named `elemCol`; output columns are
    * `id_a` (always from `a`) and `id_b` (always from `b`).
    *
    * Shape: per-key counts from both sides join into one key-meta frame
    * (an inner join — keys present on only one side are pruned before
    * any data shuffles, the cross analogue of singleton pruning). Each
    * side hash-splits a key's elements into ceil(n/cap) sub-buckets;
    * an `a` row in bucket p replicates across `b`'s buckets (key, p, *)
    * and a `b` row in bucket q across (key, *, q), so a cross pair
    * meets at exactly one (p, q) join key and the largest single join
    * block is cap² — a boilerplate key shared by 1M docs on each side
    * costs many bounded tasks, never one 10¹²-pair task. In the common
    * na = nb = 1 case both sides emit one row — zero overhead.
    */
  private[graft] def boundedCrossPairs(a: DataFrame, b: DataFrame,
      keyCols: Seq[String], elemCol: String,
      cap: Int = MaxClusterBlock): DataFrame = {
    val keys = keyCols.map(col)
    val meta = a.groupBy(keys: _*).agg(count(lit(1)).as("_cna"))
      .join(b.groupBy(keys: _*).agg(count(lit(1)).as("_cnb")), keyCols)
      .select(keys
        :+ ceil(col("_cna") / lit(cap.toDouble)).cast("int").as("_na")
        :+ ceil(col("_cnb") / lit(cap.toDouble)).cast("int").as("_nb"): _*)
    val aSide = a.join(meta, keyCols)
      .select(keys ++ Seq(pmod(hash(col(elemCol)), col("_na")).as("_p"),
        explode(sequence(lit(0), col("_nb") - 1)).as("_q"),
        col(elemCol).as("id_a")): _*)
    val bSide = b.join(meta, keyCols)
      .select(keys ++ Seq(explode(sequence(lit(0), col("_na") - 1)).as("_p"),
        pmod(hash(col(elemCol)), col("_nb")).as("_q"),
        col(elemCol).as("id_b")): _*)
    aSide.join(bSide, keyCols ++ Seq("_p", "_q")).select("id_a", "id_b")
  }

  /** Cross-corpus exact n-gram Jaccard near-dup pairs — the incremental
    * dedup shape: `dfB` is a NEW batch (a fresh crawl) deduped against
    * the EXISTING corpus `dfA` without ever re-pairing `dfA` against
    * itself. Output: (id_a from A, id_b from B) with
    * Jaccard(shingles_a, shingles_b) >= num/den.
    *
    * Scale posture: candidates come from the shared-shingle inverted
    * cross join ([[boundedCrossPairs]] — keys pruned to shingles present
    * on BOTH sides before any pair forms, hot shingles sub-bucketed),
    * so cost is proportional to cross-corpus shingle overlap, not
    * |A|×|B|. Re-running per ingest batch touches each batch once —
    * the standing corpus's shingle set is a write-time artifact
    * (shingleHashSetCached locally; a persisted table at 100 TB).
    */
  def crossJaccardPairs(dfA: DataFrame, dfB: DataFrame, textCol: String,
      idCol: String, n: Int, num: Int, den: Int): DataFrame =
    crossFromShingleSets(
      shingleHashSetCached(dfA, textCol, idCol, n),
      shingleHashSetCached(dfB, textCol, idCol, n), num, den)

  /** One-table variant of [[crossJaccardPairs]] for when the standing
    * corpus and the new batch live in the SAME table, split by a
    * predicate over the id column: both sides' shingle sets come from
    * ONE shared scan/build (side filters over the unified artifact)
    * instead of two independent builds — half the tokenize/shuffle
    * work, one cached artifact for the union instead of one per side.
    */
  def crossJaccardPairsFused(all: DataFrame, textCol: String, idCol: String,
      isNewBatch: Column => Column, n: Int, num: Int, den: Int): DataFrame = {
    val ss = shingleHashSetCached(all, textCol, idCol, n)
    crossFromShingleSets(ss.where(!isNewBatch(col("_did"))),
      ss.where(isNewBatch(col("_did"))), num, den)
  }

  private def crossFromShingleSets(ssA: DataFrame, ssB: DataFrame,
      num: Int, den: Int): DataFrame = {
    crossInterSizes(ssA, ssB)
      .where(col("_inter") * den >= (col("_sza") + col("_szb") - col("_inter")) * num)
      .select("id_a", "id_b")
  }

  /** Shared cross-side intersection frame: `(id_a, id_b, _inter,
    * _sza, _szb)` for every A-side/B-side doc pair sharing >= 1
    * shingle — the symmetric-Jaccard and directional-containment
    * cross gates both read it.
    */
  private def crossInterSizes(ssA: DataFrame, ssB: DataFrame): DataFrame = {
    def sizes(ss: DataFrame, out: String) =
      ss.groupBy(col("_did")).agg(count(lit(1)).as(out))
    boundedCrossPairs(ssA, ssB, Seq("_sh"), "_did")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_inter"))
      .join(sizes(ssA, "_sza").withColumnRenamed("_did", "id_a"), "id_a")
      .join(sizes(ssB, "_szb").withColumnRenamed("_did", "id_b"), "id_b")
  }

  /** Incremental [[containmentPairs]]: directional containment between
    * a standing corpus and a NEW batch living in the same table, split
    * by `isNewBatch` over the id — one shared shingle artifact, no
    * within-side pairs (a new doc near-contained in ANY standing doc,
    * or swallowing one, is what an ingest gate acts on). Output rows
    * `(id_in, id_sup)` may point either way across the split.
    */
  def containmentPairsCrossFused(all: DataFrame, textCol: String,
      idCol: String, isNewBatch: Column => Column, n: Int,
      num: Int, den: Int): DataFrame = {
    val ss = shingleHashSetCached(all, textCol, idCol, n)
    val arr = shingleArrayCached(all, textCol, idCol, n)
    val cands = prefixFilteredCrossCands(
      ss.where(!isNewBatch(col("_did"))),
      ss.where(isNewBatch(col("_did"))), num, den)
    val j = cands
      .join(arr.select(col("_did").as("id_a"), col("_sha").as("_seta")), "id_a")
      .join(arr.select(col("_did").as("id_b"), col("_sha").as("_setb")), "id_b")
      .withColumn("_inter",
        size(array_intersect(col("_seta"), col("_setb"))).cast("long"))
    // one evaluation of j for both directions — see
    // emitContainmentDirections (the union form re-ran the
    // candidate⋈array⋈array + intersect subtree per direction)
    Scratch.stable(emitContainmentDirections(j, num, den))
  }

  /** LSH banding: pairs of ids sharing at least one band of the
    * signature. One aggregation groups ids per (band_idx, band_key)
    * bucket and pairs explode in-task — no self-join, so the signature
    * frame is read exactly ONCE (no persist/eager-count needed to stop
    * a self-join recomputing both sides).
    *
    * `dedup = false` skips the distinct (one whole shuffle): callers
    * that verify candidates and dedup the (far smaller) verified output
    * don't need candidate-level uniqueness.
    */
  def lshCandidates(sig: DataFrame, numHashes: Int, bands: Int,
      dedup: Boolean = true): DataFrame = {
    val rows = numHashes / bands
    val banded = sig.select(col("_did"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("bi"),
        concat_ws("|", (b * rows until (b + 1) * rows).map(j => col(s"mh$j")): _*).as("bk"))
    }: _*)).as("_b")).select(col("_did"), col("_b.bi").as("bi"), col("_b.bk").as("bk"))
    val joined = boundedKeyPairs(banded, Seq("bi", "bk"), "_did")
    if (dedup) joined.distinct() else joined
  }

  /** Band-key expressions shared by every LSH consumer: band `b`'s key
    * is `concat_ws("|", b, mh_{b·r} … mh_{b·r+r-1})` with `mhOf(j)`
    * supplying the j-th signature component. Centralized so batch
    * bucketing and the streaming per-row formulation below cannot
    * drift (a key mismatch silently degrades recall to zero).
    */
  def bandKeyExprs(numHashes: Int, bands: Int, mhOf: Int => Column): Seq[Column] = {
    val rows = numHashes / bands
    (0 until bands).map { b =>
      concat_ws("|", lit(b) +: (b * rows until (b + 1) * rows).map(mhOf): _*)
    }
  }

  /** Per-row MinHash band keys as a staged expression pipeline — no
    * explode, no aggregation, no shuffle: the signature formulation for
    * STREAMING ingest, where [[minhashSignatureCached]]'s per-corpus
    * groupBy is unavailable. Each stage lands in its own projection
    * (tokens → distinct shingle hashes → signature → band keys) so
    * nothing re-evaluates per reference; keys are bit-identical to the
    * batch artifact's (same shingle hash family, same seeds, same
    * [[bandKeyExprs]]).
    */
  def withMinhashBandKeys(df: DataFrame, textCol: String, n: Int,
      numHashes: Int, bands: Int, out: String = "_bands"): DataFrame =
    df.withColumn("_t0", tokens(col(textCol)))
      .withColumn("_sha0", array_distinct(transform(
        shinglesOfTokens(col("_t0"), n),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"))))
      .withColumn("_mh0", array(minhashSeeds(numHashes).map(seed =>
        array_min(transform(col("_sha0"), h => h.bitwiseXOR(lit(seed))))): _*))
      .withColumn(out, array(bandKeyExprs(numHashes, bands,
        j => element_at(col("_mh0"), j + 1)): _*))
      .drop("_t0", "_sha0", "_mh0")

  /** MinHash+LSH near-dup pairs, LSH candidates verified by exact
    * Jaccard >= num/den (integer cross-multiply: float-free, oracle-stable).
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      numHashes: Int, bands: Int, num: Int, den: Int): DataFrame = {
    // both artifacts are write-time per-doc material from their bounded
    // caches. sig stays lazy (candidate generation below reads it
    // exactly once, filling the persist); arr is EAGER because the
    // verification plan reads it on BOTH join sides — two concurrent
    // branches over an unfilled persist would each recompute the build.
    val sig = minhashSignatureCached(df, textCol, idCol, n, numHashes, eager = false)
    val arr = shingleArrayCached(df, textCol, idCol, n)
    // candidate pairs: duplicates from multi-band collisions removed
    // BEFORE the array join (one shuffle of the tiny pair set) so each
    // pair ships its two shingle arrays exactly once
    val cands = lshCandidates(sig, numHashes, bands, dedup = false).distinct()
    Scratch.stable(verifyJaccard(cands, arr, num, den))
  }

  /** Fuzzy near-dup pairs verified by EDIT DISTANCE: the same LSH band
    * candidates as [[minhashPairs]] (recall machinery shared — one
    * signature artifact serves both verifiers), verified by
    * `levenshtein(text_a, text_b) <= maxDist`. Character-level edit
    * distance catches small in-place edits (typo fixes, date stamps,
    * template fills) that set-based Jaccard treats the same as larger
    * rewrites; the threshold form of Spark's levenshtein abandons a
    * pair's DP early once `maxDist` is exceeded, so verification cost
    * is O(len · maxDist) per candidate, not O(len²). Pair volume is
    * LSH-bounded — the quadratic never touches the corpus.
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, bands: Int, maxDist: Int): DataFrame = {
    val sig = minhashSignatureCached(df, textCol, idCol, n, numHashes, eager = false)
    val cands = lshCandidates(sig, numHashes, bands, dedup = false).distinct()
    val txt = df.select(col(idCol), col(textCol))
    Scratch.stable(cands
      .join(txt.select(col(idCol).as("id_a"), col(textCol).as("_ta")), "id_a")
      .join(txt.select(col(idCol).as("id_b"), col(textCol).as("_tb")), "id_b")
      .where(levenshtein(col("_ta"), col("_tb"), maxDist) =!= -1)
      .select("id_a", "id_b"))
  }

  /** Exact-Jaccard verification of candidate pairs against the per-doc
    * shingle-array artifact: one codegen'd `array_intersect` per pair
    * (doc-bounded arrays), not a per-shingle pair aggregation — at
    * scale the artifact side shuffles by id once (or broadcasts when
    * small), and no candidate-subset semi-join / groupBy stages are
    * needed at all. Integer cross-multiply keeps the >= num/den check
    * float-free (oracle-stable).
    */
  private def verifyJaccard(cands: DataFrame, arr: DataFrame,
      num: Int, den: Int): DataFrame =
    cands
      .join(arr.select(col("_did").as("id_a"), col("_sha").as("_seta")), "id_a")
      .join(arr.select(col("_did").as("id_b"), col("_sha").as("_setb")), "id_b")
      // PPJoin length filter, evaluated BEFORE the O(|A|+|B|)
      // intersect (the predicate references only sizes, so it sits
      // below the _inter projection): J >= num/den implies
      // den·min(|A|,|B|) >= num·max — candidates failing it cannot
      // pass the exact gate, so the output is unchanged
      .where(least(size(col("_seta")), size(col("_setb"))).cast("long") * den >=
        greatest(size(col("_seta")), size(col("_setb"))).cast("long") * num)
      .withColumn("_inter",
        size(array_intersect(col("_seta"), col("_setb"))).cast("long"))
      .where(col("_inter") * den >=
        (size(col("_seta")).cast("long") + size(col("_setb")) - col("_inter")) * num)
      .select("id_a", "id_b")

  /** Span-level duplication report (the signal behind substring-level
    * dedup à la "Deduplicating Training Data Makes Language Models
    * Better"): per document, how many of its n-gram POSITIONS carry a
    * shingle that also appears in at least one OTHER document. High
    * `dup_span_frac` with low whole-doc similarity marks shared
    * boilerplate (headers, licenses, templates) that pair-level dedup
    * keeps.
    *
    * Output: `(idCol, n_spans, n_dup_spans, dup_span_frac)` —
    * positions, not distinct shingles (a phrase repeated 10× counts
    * 10 spans). Scale shape: explode positions → global shingle
    * document-frequency (hash agg with map-side combine) → join back
    * on the 8-byte shingle hash → per-doc count. Two shuffles, both
    * linear in corpus shingle volume; no pairs are ever materialized,
    * so there is no quadratic blow-up to cap.
    */
  def dupSpans(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val pos = ensureParallelism(df)
      .select(col(idCol).as("_did"), tokens(col(textCol)).as("_t"))
      .select(col("_did"), explode(shinglesOfTokens(col("_t"), n)).as("_s0"))
      .select(col("_did"),
        conv(substring(md5(col("_s0")), 1, 15), 16, 10).cast("long").as("_sh"))
    val docFreq = pos.select("_did", "_sh").distinct()
      .groupBy(col("_sh")).agg(count(lit(1)).as("_df"))
    pos.join(docFreq, "_sh")
      .groupBy(col("_did").as(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("_df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Per-position n-token windows (NOT deduped — position matters):
    * `(_did, _nw, _p, _sh)` with `_p` the 0-based window start and the
    * short-doc fallback window at position 0, mirroring
    * [[shinglesOfTokens]].
    */
  private def windowPositions(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    ensureParallelism(df)
      .select(col(idCol).as("_did"), tokens(col(textCol)).as("_t"))
      .select(col("_did"), size(col("_t")).cast("long").as("_nw"),
        posexplode(shinglesOfTokens(col("_t"), n)).as(Seq("_p", "_s0")))
      .select(col("_did"), col("_nw"), col("_p").cast("long").as("_p"),
        conv(substring(md5(col("_s0")), 1, 15), 16, 10).cast("long").as("_sh"))

  /** 0-based window-start positions whose n-token window occurs >= 2
    * times in the corpus (ANY occurrences — within-doc repeats count,
    * unlike [[dupSpans]]' cross-document frequency). Served from a
    * bounded plan-keyed cache: span extraction and span stripping both
    * read this frame, and at scale it is a write-time artifact of the
    * same family as the shingle sets and minhash signatures.
    */
  private val dupPosCache = ArtifactCache.frames[(String, String, Int)](
    "duplicatedPositions", ShingleCacheMax)

  private[graft] def duplicatedPositionsCached(df: DataFrame, textCol: String,
      idCol: String, n: Int, eager: Boolean = true): DataFrame = {
    val (out, built) = dupPosCache.getOrBuild((planKey(df),
      s"$textCol|$idCol", n)) {
      val pos = windowPositions(df, textCol, idCol, n)
      val occ = pos.groupBy(col("_sh")).agg(count(lit(1)).as("_c"))
        .where(col("_c") >= 2)
      pos.join(occ, "_sh").select(col("_did"), col("_nw"), col("_p"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) out.count()
    out
  }

  /** Maximal duplicated token spans — the extraction step of
    * substring-level dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2021): runs of consecutive
    * window starts whose n-token window occurs >= 2 times anywhere in
    * the corpus merge into one maximal span per run. Output:
    * `(idCol, span_start, span_end, span_tokens)` — inclusive 0-based
    * token indexes, clipped to the document.
    *
    * COVERAGE-EXACT relative to the suffix-array formulation: a token
    * is inside a duplicated n-window iff it is inside a verbatim
    * repeat of length >= n, so the covered token set (and therefore
    * [[stripDupSpans]]) is identical to Lee et al.'s — proved against
    * the suffix-ranking path by SuffixDedupSpec's cross-validation.
    * What the window merge does NOT provide is the per-repeat
    * inventory (which string repeats, how far): that is
    * [[SuffixDedup.maximalRepeats]].
    *
    * Scale shape: position explode → window-hash aggregation (map-side
    * combine) → join back → per-doc gaps-and-islands (one window
    * function over positions). All linear in corpus token count; no
    * pairs, no concatenated-corpus structure.
    */
  def dupSpanExtract(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    spansFromPositions(duplicatedPositionsCached(df, textCol, idCol, n),
      idCol, n)

  /** Gaps-and-islands merge of duplicated window starts `(_did, _nw,
    * _p)` into maximal spans (shared by the batch and cross-batch
    * extract paths).
    */
  private def spansFromPositions(dupPos: DataFrame, idCol: String,
      n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_did")).orderBy(col("_p"))
    dupPos
      .withColumn("_grp", col("_p") - row_number().over(w))
      .groupBy(col("_did"), col("_grp"))
      .agg(min(col("_p")).as("span_start"),
        least(max(col("_p")) + (n - 1), max(col("_nw")) - 1).as("span_end"))
      .select(col("_did").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The rewrite terminal of substring-level dedup: every token
    * covered by some duplicated n-window is cut, and the survivors
    * re-join into `clean_text` (untouched docs pass through verbatim).
    * Per-doc duplicated positions aggregate into one array (bounded by
    * the doc's own token count — the same order as the token array
    * itself) and the cut is a per-row filter: token i survives iff no
    * duplicated window start p satisfies p <= i <= p+n-1. No
    * corpus-shaped state beyond the window-hash aggregation.
    */
  def stripDupSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    stripFromPositions(df, duplicatedPositionsCached(df, textCol, idCol, n),
      textCol, idCol, n)

  private def stripFromPositions(df: DataFrame, positions: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val dupPos = positions
      .groupBy(col("_did")).agg(sort_array(collect_list(col("_p"))).as("_ps"))
      .withColumnRenamed("_did", idCol)
    df.join(dupPos, Seq(idCol), "left")
      .select(col(idCol), col("_ps"), tokens(col(textCol)).as("_t"),
        col(textCol))
      .select(col(idCol),
        when(col("_ps").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("_t"), (t, i) =>
              !exists(col("_ps"), p =>
                p <= i.cast("long") && i.cast("long") <= p + (n - 1))),
            " "))
          .as("clean_text"))
  }

  /** Standing-corpus window-hash occurrence counts `(_sh, _cc)` — the
    * durable artifact incremental span dedup probes (same family as
    * the shingle sets / minhash signatures: built once at write time,
    * keyed by the corpus plan). At 100 TB this is a table partitioned
    * by hash, maintained additively on ingest.
    */
  private[graft] def windowCountsCached(corpus: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    val (out, built) = dupPosCache.getOrBuild((planKey(corpus),
      s"wc|$textCol|$idCol", n), "windowCounts") {
      windowCountBuilds.incrementAndGet()
      windowPositions(corpus, textCol, idCol, n)
        .groupBy(col("_sh")).agg(count(lit(1)).as("_cc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (built) out.count()
    out
  }

  /** From-scratch window-count artifact builds — test visibility for
    * the additive-maintenance contract ([[ingestWindowCounts]]): k
    * successive ingests must build the full-corpus artifact ONCE, not
    * k times.
    */
  private[graft] val windowCountBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Additive maintenance of the window-count artifact on ingest —
    * the compaction path that makes the "maintained additively"
    * contract of [[windowCountsCached]] real instead of aspirational:
    * the new standing corpus' artifact is `old artifact ⊎ counts(batch)`
    * (one full-outer count merge — one pass over the BATCH plus a
    * hash-keyed aggregation of two count frames), never a re-tokenize
    * of the standing corpus. Returns the new standing-corpus frame
    * (`corpus ∪ batch`); the merged artifact is cached under THAT
    * frame's plan key, so the caller's next
    * [[dupSpanExtractCross]]/[[stripDupSpansCross]] against the
    * returned frame probes the merged artifact directly.
    *
    * Size stays linear by construction: the artifact has one row per
    * DISTINCT window hash of the union (counts merge, rows don't
    * multiply), and the bounded cache unpersists superseded
    * generations LRU — k successive ingests pin at most
    * ShingleCacheMax generations and build the corpus from scratch
    * exactly once.
    */
  def ingestWindowCounts(corpus: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val old = windowCountsCached(corpus, textCol, idCol, n)
    val next = corpus.unionAll(batch)
    dupPosCache.getOrCompute((planKey(next), s"wc|$textCol|$idCol", n),
        "windowCounts") {
      val merged = old
        .unionAll(windowPositions(batch, textCol, idCol, n)
          .groupBy(col("_sh")).agg(count(lit(1)).as("_cc")))
        .groupBy(col("_sh")).agg(sum(col("_cc")).as("_cc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      merged.count() // materialize BEFORE any superseded unpersist
      merged
    }
    next
  }

  /** Cross-batch duplicated positions of the NEW batch against
    * (new ∪ standing corpus): a new-batch window start is duplicated
    * iff its window hash occurs >= 2 times in total — within the
    * batch, against the corpus, or both. The corpus side is served
    * from its window-count ARTIFACT ([[windowCountsCached]]), so an
    * ingest pays one pass over the batch plus a hash-keyed join
    * against the artifact — the [[crossJaccardPairs]] discipline
    * applied to spans; the standing corpus is never re-tokenized.
    */
  private def crossDuplicatedPositions(newDf: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame = {
    val newPos = windowPositions(newDf, textCol, idCol, n)
    val counts = windowCountsCached(corpus, textCol, idCol, n)
    val dupSh = newPos.groupBy(col("_sh")).agg(count(lit(1)).as("_cn"))
      .join(counts, Seq("_sh"), "left")
      .where(col("_cn") + coalesce(col("_cc"), lit(0L)) >= 2)
      .select("_sh")
    newPos.join(dupSh, Seq("_sh"), "left_semi")
      .select(col("_did"), col("_nw"), col("_p"))
  }

  /** Incremental [[dupSpanExtract]]: maximal duplicated spans of the
    * NEW batch only, counting occurrences across new ∪ corpus. Equals
    * the batch run over the union restricted to the new docs.
    */
  def dupSpanExtractCross(newDf: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame =
    spansFromPositions(
      crossDuplicatedPositions(newDf, corpus, textCol, idCol, n), idCol, n)

  /** Incremental [[stripDupSpans]]: rewrite the NEW batch with its
    * duplicated spans (vs new ∪ corpus) cut; corpus docs untouched.
    */
  def stripDupSpansCross(newDf: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int): DataFrame =
    stripFromPositions(newDf,
      crossDuplicatedPositions(newDf, corpus, textCol, idCol, n),
      textCol, idCol, n)

  /** CCNet-style line-level boilerplate removal: segment each doc into
    * fixed-`wordsPerLine` "lines", count each line string's occurrences
    * across the WHOLE corpus, drop every line seen more than `maxDf`
    * times (navigation chrome, cookie banners, license footers — the
    * lines that repeat verbatim across pages), and reassemble the
    * survivors in order. Complements span dedup: spans cut shared
    * SUBSTRINGS between doc pairs; this cuts corpus-frequent UNITS
    * everywhere at once with one groupBy — no pair join at all, so the
    * cost envelope is two shuffles (line counts + doc reassembly)
    * regardless of how many docs share a line. Docs whose every line
    * is boilerplate survive with empty text (the caller's length
    * filter owns dropping them).
    *
    * Corpora with real newlines segment on them upstream; the fixed
    * word window here is the segmentation for single-line word-stream
    * corpora. Output: `(idCol, clean_text, n_lines, n_kept)`.
    */
  def boilerplateStrip(df: DataFrame, textCol: String, idCol: String,
      wordsPerLine: Int = 12, maxDf: Long = 1): DataFrame = {
    require(wordsPerLine > 0, s"wordsPerLine must be > 0, got $wordsPerLine")
    val w = wordsPerLine
    val lines = df.select(col(idCol), split(col(textCol), " ").as("_ws"))
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, (size(_ws) + ${w - 1}) div $w - 1), " +
          s"i -> array_join(slice(_ws, i * $w + 1, $w), ' '))"))
          .as(Seq("_li", "_line")))
    val kept = lines
      .join(lines.groupBy(col("_line")).agg(count(lit(1)).as("_df"))
          .where(col("_df") <= maxDf).select("_line"),
        Seq("_line"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(_li, _line))), " +
          "x -> x._line), ' ')").as("clean_text"))
    df.select(col(idCol),
        expr(s"cast((size(split($textCol, ' ')) + ${w - 1}) div $w as long)")
          .as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact n-gram Jaccard pairs via shared-shingle inverted join
    * (no LSH recall loss; the candidate set is docs sharing >= 1 shingle).
    *
    * `maxShingleDf` caps the document frequency of shingles used for
    * CANDIDATE GENERATION — the skew guard at scale: one boilerplate
    * shingle shared by 1M docs would otherwise force a 10^12-pair join.
    * Verification always computes exact Jaccard over the FULL shingle
    * sets, so a capped run only loses pairs whose every shared shingle
    * is ultra-common (Jaccard of such pairs is near-0 anyway). The
    * default (MaxValue) is fully exact.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      num: Int, den: Int, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val ss = shingleHashSetCached(df, textCol, idCol, n)
    val arr = shingleArrayCached(df, textCol, idCol, n)
    // prefix-filtered candidates (lossless: J >= num/den implies
    // containment >= num/den of each side — see prefixFilteredCands);
    // verification is exact against FULL shingle arrays either way.
    // Symmetric Jaccard additionally admits the prefix-prefix index.
    val cands = prefixFilteredCands(ss, num, den, maxShingleDf,
      prefixIndex = true)
    Scratch.stable(verifyJaccard(cands, arr, num, den))
  }

  /** PPJoin-style PREFIX-FILTERED candidate pairs (Xiao, Wang, Lin &
    * Yu, WWW 2008): rank each doc's shingles in a GLOBAL canonical
    * order (df asc, hash asc) and probe only the doc's first
    * `floor(|S| · (den-num)/den) + 1` — its rarest — shingles against
    * the full inverted index. LOSSLESS for any gate that implies
    * containment `>= num/den` of at least one side (both directional
    * containment and Jaccard `>= num/den`, since
    * `J <= |A∩B|/|A|`): a passing pair misses at most
    * `(1 - num/den)·|A|` of A's shingles, so by pigeonhole one PREFIX
    * shingle of A is in B. The candidate set is therefore a SUBSET of
    * the all-shared-shingles set with identical verified output — but
    * the probes are each doc's RAREST shingles, so the
    * `Σ df²` hot-shingle quadratic collapses to `Σ_prefix df`.
    * Measured: exact containment on a 10×-duplicated 50k-doc corpus
    * fell from 531 s (all-shared-shingle candidates) to seconds.
    * `maxKeyDf` still applies to the index side as the stop-word
    * discipline (that part stays potentially lossy, as documented on
    * every caller).
    */
  private def prefixFilteredCands(ss: DataFrame, num: Int, den: Int,
      maxKeyDf: Int = Int.MaxValue,
      prefixIndex: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = ss.groupBy(col("_sh")).agg(count(lit(1)).as("_dfq"))
    val capped =
      if (maxKeyDf == Int.MaxValue) ss.join(dfreq, "_sh")
      else ss.join(dfreq.where(col("_dfq") <= maxKeyDf), "_sh")
    val ranked = capped.withColumn("_rk",
      row_number().over(
        Window.partitionBy(col("_did")).orderBy(col("_dfq"), col("_sh"))))
    val sizes = ss.groupBy(col("_did")).agg(count(lit(1)).as("_sz"))
    val probe = ranked.join(sizes, "_did")
      .where(col("_rk") <=
        expr(s"(_sz * ${den - num}) div $den") + 1)
      .select(col("_sh"), col("_did").as("_probe"))
    // index side:
    //  - prefixIndex (SYMMETRIC-Jaccard callers only): PREFIX-PREFIX
    //    join, the full PPJoin candidate rule — if J(A,B) >= num/den,
    //    both prefixes (length |S| - ceil(num/den·|S|) + 1) must share
    //    an element, so indexing only prefix rows loses no passing
    //    pair and the candidate volume drops by the non-prefix
    //    occurrence mass. NOT valid for directional containment: A's
    //    prefix witness lands anywhere in B, so containment callers
    //    keep the full index.
    //  - uncapped full index: probe the cached artifact directly (the
    //    dfreq join exists only to apply maxKeyDf; uncapped it keeps
    //    every row).
    //  - capped: keep the df-capped index — its documented loss
    //    semantics ("pairs whose every shared shingle is ultra-
    //    common") must not silently become prefix-conditioned (the
    //    oracle mirrors the former).
    val indexRows =
      if (prefixIndex && maxKeyDf == Int.MaxValue)
        probe.select(col("_sh"), col("_probe").as("_other"))
      else if (maxKeyDf == Int.MaxValue)
        ss.select(col("_sh"), col("_did").as("_other"))
      else capped.select(col("_sh"), col("_did").as("_other"))
    probe
      .join(indexRows, Seq("_sh"))
      .where(col("_probe") =!= col("_other"))
      .select(least(col("_probe"), col("_other")).as("id_a"),
        greatest(col("_probe"), col("_other")).as("id_b"))
      .distinct()
  }

  /** Cross-corpus form of [[prefixFilteredCands]]: A-side prefixes
    * probe B's full index and vice versa (a passing pair implies
    * containment of at least one side, whose prefix then hits the
    * other side's index). Output `(id_a, id_b)` distinct with id_a
    * from `ssA`, id_b from `ssB`. The canonical shingle order uses
    * the UNION df (order choice affects pruning, not correctness).
    */
  private def prefixFilteredCrossCands(ssA: DataFrame, ssB: DataFrame,
      num: Int, den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = ssA.unionAll(ssB).groupBy(col("_sh"))
      .agg(count(lit(1)).as("_dfq"))
    def probesOf(ss: DataFrame): DataFrame = {
      val ranked = ss.join(dfreq, "_sh").withColumn("_rk",
        row_number().over(
          Window.partitionBy(col("_did")).orderBy(col("_dfq"), col("_sh"))))
      val sizes = ss.groupBy(col("_did")).agg(count(lit(1)).as("_sz"))
      ranked.join(sizes, "_did")
        .where(col("_rk") <= expr(s"(_sz * ${den - num}) div $den") + 1)
        .select(col("_sh"), col("_did"))
    }
    val aProbesB = probesOf(ssA).withColumnRenamed("_did", "id_a")
      .join(ssB.select(col("_sh"), col("_did").as("id_b")), Seq("_sh"))
    val bProbesA = probesOf(ssB).withColumnRenamed("_did", "id_b")
      .join(ssA.select(col("_sh"), col("_did").as("id_a")), Seq("_sh"))
    aProbesB.select("id_a", "id_b")
      .unionAll(bProbesA.select("id_a", "id_b"))
      .distinct()
  }

  /** ASYMMETRIC shingle containment pairs: `(id_in, id_sup)` where
    * `|S(id_in) ∩ S(id_sup)| · den >= num · |S(id_in)|` — doc `id_in`'s
    * n-gram set is (near-)contained in `id_sup`'s. Catches what
    * symmetric Jaccard structurally cannot: a short doc embedded
    * verbatim in a much longer one (quoted article, README pasted into
    * a monorepo dump) has Jaccard ≈ |A|/|B| → 0 but containment ≈ 1.
    * Near-identical docs emit BOTH directions — each row is one
    * directional claim, and the dedup policy downstream usually drops
    * `id_in` (the contained doc carries no novel n-grams).
    *
    * Same bounded machinery as [[ngramJaccardPairs]]: df-capped
    * shared-shingle candidates, then exact verification against full
    * shingle arrays — one intersection computes both directions.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
      num: Int, den: Int, maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val ss = shingleHashSetCached(df, textCol, idCol, n)
    val arr = shingleArrayCached(df, textCol, idCol, n)
    val cands = prefixFilteredCands(ss, num, den, maxShingleDf)
    val j = cands
      .join(arr.select(col("_did").as("id_a"), col("_sha").as("_seta")), "id_a")
      .join(arr.select(col("_did").as("id_b"), col("_sha").as("_setb")), "id_b")
      .withColumn("_inter",
        size(array_intersect(col("_seta"), col("_setb"))).cast("long"))
    Scratch.stable(emitContainmentDirections(j, num, den))
  }

  /** Both directional containment claims from ONE evaluation of the
    * verified-candidate frame: the union-of-two-filters form put the
    * candidate⋈array⋈array + array_intersect subtree in TWO plan
    * branches (no cross-branch CSE — the class that cost triangles
    * 2.8× in r16), so every candidate paid the intersection twice.
    * A generator over a conditionally-built row array emits 0, 1 or 2
    * directions per candidate in one pass (the explode(array(..))
    * corner-count shape, §1.2/§2.4).
    */
  private def emitContainmentDirections(j: DataFrame, num: Int,
      den: Int): DataFrame =
    j.select(explode(filter(array(
        struct((col("_inter") * den >=
          size(col("_seta")).cast("long") * num).as("_keep"),
          col("id_a").as("id_in"), col("id_b").as("id_sup")),
        struct((col("_inter") * den >=
          size(col("_setb")).cast("long") * num).as("_keep"),
          col("id_b").as("id_in"), col("id_a").as("id_sup"))),
        r => r("_keep"))).as("_dir"))
      .select(col("_dir.id_in").as("id_in"), col("_dir.id_sup").as("id_sup"))

  /** Connected components over an undirected near-dup pair set:
    * every doc that appears in some pair gets the MIN id of its
    * component as `cluster_id` — the canonical-representative step a
    * dedup pipeline runs after pair generation (keep one doc per
    * cluster, drop the rest).
    *
    * Min-label propagation: per round, one equi-join (edges ⋈ labels)
    * + one min-aggregation, each round's frame kept through the shared
    * iterative-pass store (lineage truncated; reliable scratch parquet
    * under `graft.scratch.dir` on a cluster — [[Scratch.FrameStore]]). Rounds =
    * component diameter; near-dup components are band/shingle-overlap
    * near-cliques, so this converges in 1-3 rounds in practice.
    * `maxIter` bounds pathological chains — when the bound is hit
    * before the fingerprint converges, the result would be PARTIALLY
    * merged (multiple representatives per true component), so instead
    * of returning it silently this escalates to `dupClustersStar`
    * (O(log n) rounds regardless of chain length) and logs the
    * escalation. The convergence probe reads the just-materialized
    * checkpoint, so it costs no recompute.
    */
  /** Constraint barrier for the star/propagation rounds: an RDD
    * round-trip yields a LogicalRDD with NO inherited constraints.
    * Catalyst's Union constraint rewrite throws `key not found:
    * <attr>` when a swapped-alias self-union child carries constraints
    * referencing non-output attributes inherited from deep lineage
    * (observed on co-occurrence pair frames over parquet joins —
    * GraphAlgos.connectedComponents); localCheckpoint does NOT help,
    * it preserves the origin constraints.
    */
  private def constraintBarrier(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  def dupClusters(pairs0: DataFrame, maxIter: Int = 20): DataFrame = {
    val pairs = constraintBarrier(pairs0)
    // per-round frames go through the shared iterative-pass store:
    // localCheckpoint locally, reliable scratch parquet on a cluster
    // (graft.scratch.dir) — see Scratch.FrameStore
    val store = new Scratch.FrameStore(pairs.sparkSession)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = store.keep(edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")))
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("_nmin"))
      val next = store.keep(labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("_nmin"), col("lbl"))).as("lbl"),
          (coalesce(col("_nmin"), col("lbl")) < col("lbl")).as("_chg")))
      converged = next.where(col("_chg")).isEmpty
      labels = next.drop("_chg")
      round += 1
    }
    edges.unpersist(false)
    if (!converged) {
      // partial merge would diverge from the transitive-closure oracle —
      // never return it; the star variant converges on any topology
      logNonConvergence(round)
      store.release()
      return dupClustersStar(pairs)
    }
    val out = Scratch.stable(labels.select(col("id").as("doc_id"),
      col("lbl").as("cluster_id")))
    store.release()
    out
  }

  /** Visible seam for the maxIter escalation (tests count invocations):
    * number of ESCALATION EVENTS (one per non-converged dupClusters
    * call), not propagation rounds.
    */
  @volatile private[graft] var escalationCount: Long = 0L
  private def logNonConvergence(rounds: Int): Unit = {
    escalationCount += 1
    System.err.println(
      s"[graft.Dedup] dupClusters hit maxIter=$rounds without converging; " +
        "escalating to dupClustersStar (O(log n) rounds)")
  }

  /** Terminal step of the dedup pipeline: the corpus with every
    * non-canonical near-dup member dropped — docs in no pair survive,
    * and each dup cluster keeps exactly its min-id representative.
    * One anti-join against the (tiny) non-representative set; the
    * corpus itself is never shuffled.
    */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dedupCorpusByClusters(df, idCol, dupClusters(pairs))

  /** [[dedupCorpus]] against an already-computed cluster table — the
    * share point for consumers riding [[minhashClustersCached]]. */
  def dedupCorpusByClusters(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val drop = clusters.where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** MinHash near-dup clusters of a corpus, memoized per
    * (canonicalized corpus plan, all MinHash/Jaccard params) — the
    * dedup DECISION TABLE is write-time material exactly like the
    * signature artifact it derives from: five consumer queries
    * (keep / keep-best / the two composed recipes / cluster-safe
    * split) each re-ran the identical candidate generation + exact
    * verification + star-contraction per invocation. dupClusters'
    * output is already a stabilized (checkpointed) frame, so the cache
    * holds plain references — dropping one on eviction releases its
    * blocks through the ContextCleaner like any discarded stable
    * frame. `q_doc_dup_clusters`, whose declared RESULT is this very
    * frame, deliberately stays on the uncached direct call.
    */
  def minhashClustersCached(df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int, bands: Int, num: Int, den: Int): DataFrame =
    clusterCache.getOrCompute(
        (planKey(df), textCol, idCol, n, numHashes, bands, num, den)) {
      dupClusters(
        minhashPairs(df, textCol, idCol, n, numHashes, bands, num, den))
    }

  private final val ClusterCacheMax = 8
  private val clusterCache = new ArtifactCache[
    (String, String, String, Int, Int, Int, Int, Int), DataFrame](
    "minhashClusters", ClusterCacheMax)

  /** [[dedupCorpus]] with a QUALITY-chosen representative: per
    * near-dup cluster keep the member with the highest `scoreCol` in
    * `scores` (ties to the lower id) instead of the lowest id — the
    * keep-best-of-cluster policy production dedup actually wants
    * (the highest-quality copy of a template survives, not an
    * arbitrary one). Non-clustered docs always survive.
    *
    * Cost over [[dedupCorpus]]: one join of the cluster table (only
    * clustered docs — a small fraction of the corpus) against the
    * score table, and one per-cluster window over that joined frame.
    * The corpus itself still pays exactly one anti-join.
    */
  def dedupCorpusByScore(df: DataFrame, idCol: String, pairs: DataFrame,
      scores: DataFrame, scoreCol: String): DataFrame =
    dedupCorpusByScoreClusters(df, idCol, dupClusters(pairs), scores,
      scoreCol)

  /** [[dedupCorpusByScore]] against an already-computed cluster table
    * (see [[minhashClustersCached]]). */
  def dedupCorpusByScoreClusters(df: DataFrame, idCol: String,
      clusters: DataFrame, scores: DataFrame, scoreCol: String): DataFrame = {
    val scored = clusters.join(
      scores.select(col(idCol).as("doc_id"), col(scoreCol).as("_sc")),
      Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("_sc").desc, col("doc_id").asc)
    val reps = scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1).select(col("doc_id"))
    val losers = clusters.select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the scale escalation dupClusters documents: label
    * propagation needs diameter rounds, this needs O(log n) regardless
    * of chain length, so a 100 TB corpus whose near-dup pairs form
    * long chains (evolving templates, quoted-reply email threads)
    * still converges in a handful of shuffles.
    *
    * Each round is two groupBy-min aggregations + equi-joins; each
    * round's frame is kept through the shared iterative-pass store
    * exactly like dupClusters.
    * Convergence = canonical edge set stable (count + 64-bit hash sum —
    * both read off the just-materialized checkpoint, no recompute).
    * Output schema matches dupClusters: (doc_id, cluster_id) with
    * cluster_id = component minimum.
    */
  def dupClustersStar(pairs0: DataFrame, maxIter: Int = 30): DataFrame = {
    val pairs = constraintBarrier(pairs0)
    val store = new Scratch.FrameStore(pairs.sparkSession)
    val nodes = store.keep(pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct())
    // canonical orientation: u = larger endpoint, v = smaller
    var edges = store.keep(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    // set fingerprint: count + xor of row hashes (xor is duplicate-
    // sensitive only in pairs, and the edge set is distinct; sum would
    // overflow under ANSI arithmetic)
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = sig(edges)
    var round = 0
    var converged = false
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    while (!converged && round < maxIter) {
      // Round shape: the old form computed each star's neighborhood
      // minimum as a groupBy + equi-join back onto the edge frame —
      // two operators, the frame referenced in two plan branches (the
      // join probe re-ran per branch; no cross-branch CSE) — plus a
      // redundant mid-round distinct. A partition window attaches the
      // group min in ONE pass over ONE exchange (§2.4: window keyed
      // like the aggregation needs no second shuffle), the explode
      // replaces the self-union, and the one terminal distinct
      // canonicalizes the round (the dropped `ls` distinct was
      // correctness-free: the window min is duplicate-insensitive and
      // duplicate survivors die in the terminal distinct anyway).
      // large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
      val bidir = edges.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("_e"))
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
      val ls = bidir
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      // small-star on (u > v) orientation: u and all its smaller
      // neighbors link to the minimum of that closed neighborhood
      val ss = store.keep(ls
        .withColumn("m", min(col("v")).over(wU))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(greatest(col("e.a"), col("e.b")).as("u"),
          least(col("e.a"), col("e.b")).as("v"))
        .where(col("u") =!= col("v")).distinct())
      val cur = sig(ss)
      converged = cur == prev
      prev = cur
      edges = ss
      round += 1
    }
    val out = Scratch.stable(nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(col("id").as("doc_id"), coalesce(col("v"), col("id")).as("cluster_id")))
    store.release()
    out
  }

  /** SimHash geometry shared with the DuckDB oracle: 60 bits (md5-hex
    * prefix), 4 bands of 15 bits.
    */
  val SimhashBits = 60
  val SimhashBands = 4
  val SimhashBandBits: Int = SimhashBits / SimhashBands

  /** 60-bit SimHash over tokens. The token hash is an md5-hex prefix
    * (not xxhash64) so the oracle reproduces signatures bit-for-bit.
    * Vote per bit: sum(+w if bit set else -w); bit set in the signature
    * iff the vote is positive.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = ensureParallelism(df)
      .select(col(idCol).as("_did"), tokens(col(textCol)).as("_t"))
      .select(col("_did"), explode(col("_t")).as("_t"))
      .groupBy("_did", "_t").agg(count(lit(1)).as("_w"))
      .withColumn("_h", conv(substring(md5(col("_t")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(1) === 1, col("_w"))
        .otherwise(-col("_w"))).as(s"_v$i")
    }
    val voted = tok.groupBy(col("_did")).agg(votes.head, votes.tail: _*)
    val sig = (0 until SimhashBits).map(i =>
      when(col(s"_v$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    voted.select(col("_did").as(idCol), sig.as("simhash"))
  }

  /** Banded-Hamming candidate pairs over a 64-bit-or-less hash column —
    * the ONE blocking shape shared by the SimHash text path and the
    * image/audio/video perceptual paths. The hash splits into `bands`
    * contiguous bands of `bandBits` bits; candidates equi-join on an
    * equal (band index, band value) key, and by pigeonhole any pair
    * within Hamming distance `maxHam <= bands - 1` leaves at least one
    * band untouched — in that regime the band join is LOSSLESS
    * blocking. For `maxHam > bands - 1` (the SimHash candidate-recall
    * regime) the same blocking is a deliberate LSH approximation and
    * the caller's oracle must mirror the band condition. Either way it
    * is never all-pairs. The join itself runs through
    * [[boundedKeyPairs]], so a hot band value (a degenerate corpus
    * where one band is constant) splits into capped cap² sub-blocks
    * instead of one n² task — the cap is structural, not optional.
    * Verification is exact `bit_count(xor)` on the distinct
    * candidates. Output: `(id_a, id_b, hamming)` with `id_a < id_b`.
    */
  private[graft] def bandedHammingPairs(hashes: DataFrame, idCol: String,
      hashCol: String, bands: Int, bandBits: Int, maxHam: Int,
      cap: Int = MaxClusterBlock): DataFrame = {
    require(bands > 0 && bandBits > 0 && bands * bandBits <= 64,
      s"bands x bandBits must fit a long, got $bands x $bandBits")
    require(maxHam >= 0, s"maxHam must be non-negative, got $maxHam")
    val mask = (1L << bandBits) - 1
    // each element carries (id, hash); struct ordering is by leading
    // field, so boundedKeyPairs still yields id_a < id_b. The grouped
    // read touches the hash frame ONCE — no persist needed.
    val banded = hashes.select(
      struct(col(idCol).as("i"), col(hashCol).as("s")).as("_e"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("bi"),
          shiftright(col(hashCol), b * bandBits).bitwiseAND(mask).as("bk"))
      }: _*)).as("_b"))
      .select(col("_e"), col("_b.bi").as("bi"), col("_b.bk").as("bk"))
    // pair generation runs the COMPILED block loop
    // (functions.HammingBlockPairs), not the generic join: a hot band
    // value (low-entropy hash bits — measured 5600 of 6664 frame
    // hashes sharing one 16-bit band on the media corpus, ~31M
    // candidates) would pay Spark's per-row production cost for every
    // candidate the XOR+popcount immediately discards; here blocks
    // arrive as cap-bounded (id, hash) arrays — the boundedKeyPairs
    // grouping and sub-bucket split verbatim, same memory guarantee —
    // and only Hamming survivors become rows. The id-level guard
    // keeps the duplicate-id contract the join formulation had.
    val counts = banded.groupBy(col("bi"), col("bk"))
      .agg(count(lit(1)).as("_n")).where(col("_n") > 1)
    val withN = banded.join(counts, Seq("bi", "bk"))
    // first-agreeing-band emission (the generator's banded mode) makes
    // the output duplicate-free across bands BY CONSTRUCTION — the
    // former `.distinct()` was a full extra shuffle of the survivor
    // volume spent collapsing cross-band copies (§2.4 of the
    // optimization guide: remove shuffles outright). Exact because
    // every caller keys elements by unique ids (scaladoc contract).
    val gen = (a: Column, b: Column, self: Column, bi: Column) =>
      graft.functions.HammingBlockPairs(a, b, self, lit(false), lit(maxHam),
        bi, lit(bandBits), lit(bands))
    val small = withN.where(col("_n") <= cap)
      .groupBy(col("bi"), col("bk"))
      .agg(sort_array(collect_list(col("_e"))).as("_arr"))
      .select(gen(col("_arr"), col("_arr"), lit(true), col("bi")))
    val buckets = withN.where(col("_n") > cap)
      .withColumn("_nb", ceil(col("_n") / lit(cap.toDouble)).cast("int"))
      .withColumn("_bkt", pmod(hash(col("_e")), col("_nb")))
      .groupBy(col("bi"), col("bk"), col("_bkt"))
      .agg(sort_array(collect_list(col("_e"))).as("_arr"))
    val big = buckets.select(col("bi"), col("bk"),
        col("_bkt").as("_p"), col("_arr").as("_aa"))
      .join(buckets.select(col("bi"), col("bk"),
        col("_bkt").as("_q"), col("_arr").as("_ab")), Seq("bi", "bk"))
      .where(col("_p") <= col("_q"))
      .select(gen(col("_aa"), col("_ab"), col("_p") === col("_q"), col("bi")))
    small.unionByName(big)
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b", "hamming")
  }

  /** [[simhash]] memoized per (canonicalized source plan, textCol,
    * idCol) — the signature frame is a write-time artifact exactly
    * like the MinHash signatures: one 60-bit signature column serves
    * every near-dup query over the corpus, so serving shouldn't
    * re-tokenize and re-vote 60 bit positions per query. Persisted
    * MEMORY_AND_DISK; plan-keyed so bench warm-up at another SF keys
    * apart; lifecycle owned by the bounded cache (LRU unpersist).
    */
  def simhashCached(df: DataFrame, textCol: String, idCol: String,
      eager: Boolean = true): DataFrame = {
    val (sig, built) = simhashSigCache.getOrBuild((planKey(df), textCol, idCol)) {
      simhash(df, textCol, idCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (eager && built) sig.count()
    sig
  }

  private val simhashSigCache = ArtifactCache.frames[(String, String, String)](
    "simhash", ShingleCacheMax)

  /** Cross-corpus variant of [[bandedHammingPairs]]: every (A element,
    * B element) pair within Hamming distance `maxHam`, with NO
    * within-side pairs — the incremental-dedup shape (a new batch
    * against the standing corpus without re-pairing the corpus
    * against itself). Same band blocking (lossless at
    * `maxHam <= bands - 1` by pigeonhole), same bounded-memory
    * guarantee via [[boundedCrossPairs]] (a hot band value splits
    * into cap² cross blocks). Output: `(id_a from A, id_b from B,
    * hamming)`.
    */
  private[graft] def bandedHammingCrossPairs(hashesA: DataFrame,
      hashesB: DataFrame, idCol: String, hashCol: String, bands: Int,
      bandBits: Int, maxHam: Int, cap: Int = MaxClusterBlock): DataFrame = {
    require(bands > 0 && bandBits > 0 && bands * bandBits <= 64,
      s"bands x bandBits must fit a long, got $bands x $bandBits")
    require(maxHam >= 0, s"maxHam must be non-negative, got $maxHam")
    val mask = (1L << bandBits) - 1
    def banded(hs: DataFrame) = hs.select(
      struct(col(idCol).as("i"), col(hashCol).as("s")).as("_e"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("bi"),
          shiftright(col(hashCol), b * bandBits).bitwiseAND(mask).as("bk"))
      }: _*)).as("_b"))
      .select(col("_e"), col("_b.bi").as("bi"), col("_b.bk").as("bk"))
    // the compiled-block discipline of bandedHammingPairs, cross-side:
    // per-key bucket arrays from both sides (the boundedCrossPairs
    // sub-bucket split — na x nb block rows per key, each block
    // cap-bounded), the inner key join prunes keys absent on either
    // side before any array builds, and the generator emits only
    // Hamming survivors with id_a always from side A (oriented mode —
    // no within-side pairs by construction)
    val bA = banded(hashesA); val bB = banded(hashesB)
    val meta = bA.groupBy(col("bi"), col("bk")).agg(count(lit(1)).as("_cna"))
      .join(bB.groupBy(col("bi"), col("bk")).agg(count(lit(1)).as("_cnb")),
        Seq("bi", "bk"))
      .select(col("bi"), col("bk"),
        ceil(col("_cna") / lit(cap.toDouble)).cast("int").as("_na"),
        ceil(col("_cnb") / lit(cap.toDouble)).cast("int").as("_nb"))
    val aBuckets = bA.join(meta, Seq("bi", "bk"))
      .withColumn("_p", pmod(hash(col("_e")), col("_na")))
      .groupBy(col("bi"), col("bk"), col("_p"))
      .agg(collect_list(col("_e")).as("_aa"))
    val bBuckets = bB.join(meta, Seq("bi", "bk"))
      .withColumn("_q", pmod(hash(col("_e")), col("_nb")))
      .groupBy(col("bi"), col("bk"), col("_q"))
      .agg(collect_list(col("_e")).as("_ab"))
    // first-agreeing-band emission: duplicate-free across bands by
    // construction (see bandedHammingPairs), so no `.distinct()`
    // shuffle over the survivor volume
    aBuckets.join(bBuckets, Seq("bi", "bk"))
      .select(graft.functions.HammingBlockPairs(col("_aa"), col("_ab"),
        lit(false), lit(true), lit(maxHam),
        col("bi"), lit(bandBits), lit(bands)))
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup candidate pairs: equal 15-bit band (4 bands) then
    * exact Hamming distance <= maxDist via bit_count(xor) — the
    * [[bandedHammingPairs]] blocking shape over the cached signature
    * artifact.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, maxDist: Int): DataFrame = {
    val sig = simhashCached(df, textCol, idCol)
    Scratch.stable(bandedHammingPairs(sig, idCol, "simhash",
        SimhashBands, SimhashBandBits, maxDist)
      .select("id_a", "id_b"))
  }

  /** Above this row count the exact brute path auto-switches to the
    * IVF-bucketed join. The bound is WORK, not driver memory (the
    * broadcast is only n·dim floats): brute is n²·dim/2 pair-dots of
    * pure streaming compute with no shuffle, while the IVF path
    * shuffles ~n^1.5 candidate rows carrying full vectors — so brute
    * WINS below the crossover despite its quadratic flops. Measured
    * at dim=64 on the r12 scaling corpus: n=20k brute 4.0 s vs
    * IVF-bucketed 6.8 s; extrapolating both curves (n² flops vs
    * n^1.5 shuffled bytes) puts the crossover near 2^16 rows.
    * RE-MEASURED after the fused CosinePair expression landed (it
    * speeds the bucketed verify, not the brute kernel): 20k 2.9 vs
    * 9.5 s, 40k 4.5 vs 5.9 s, 65k 11.0 vs 5.4 s — the crossover sits
    * ~45-65k, and at the bound brute pays ≤2× for EXACT pairs, so the
    * bound stands (exactness is the tiebreaker inside the noise
    * band; IVF train time, not the verify, now dominates the
    * bucketed constant). Above
    * the limit the quadratic term dominates any constant and the
    * bucketed join is the only shape that survives 100 TB.
    *
    * Semantics note: the auto path is EXACT below the limit and
    * approximate (pairs form only within an IVF cluster) above it, so
    * moving the limit moves the exact/approximate boundary — corpora
    * in the 65,537-100,000 band that previously took the exact kernel
    * now take the bucketed join. Callers needing exactness in that
    * band pin `bruteForce = Some(true)` (as the oracle-exact
    * `q_embed_keep` does); `q_embed_keep_ivf` gates the bucketed
    * path's pair recall >= 0.9 at its served similarity grade.
    */
  val BruteForcePairLimit = 65536L

  /** One cluster's pair-join block is capped at this many rows per
    * side: a cluster of m rows splits into ceil(m/cap) sub-buckets and
    * pairs form per sub-bucket PAIR, so the largest single join block
    * is cap² comparisons — no degenerate cluster (e.g. near-zero
    * vectors all landing on one centroid) can put an m² blow-up into
    * one task.
    */
  val MaxClusterBlock = 4096

  /** Row counts for path selection, keyed by the canonicalized source
    * plan (bounded LRU): embeddingPairs needs the count once per
    * corpus, not one count job per call. At 100 TB this is table
    * metadata the catalog already knows — recounting per query is the
    * anti-pattern this cache removes.
    */
  private final val RowCountCacheMax = 32
  private val rowCountCache =
    new ArtifactCache[String, java.lang.Long]("rowCount", RowCountCacheMax)

  /** Pre-populate the row-count cache for `df`. The count is a table
    * statistic the catalog already holds at 100 TB (written at ingest
    * time); warming it here is the local stand-in for reading catalog
    * stats, so serving-path latency carries no counting job.
    */
  def warmRowCount(df: DataFrame): Long = cachedCount(df)

  private def cachedCount(df: DataFrame): Long =
    rowCountCache.getOrCompute(planKey(df))(df.count()).longValue()

  /** IVF cluster count for an n-row dedup corpus: sqrt(n), floored at
    * 64 (the standard IVF sizing). A FIXED cluster count would leave
    * ~n/nlist rows per cluster and ~n²/nlist intra-cluster comparisons —
    * the sub-bucket cap bounds per-task memory but not total work.
    * sqrt keeps expected cluster size ~sqrt(n), so total pair work
    * stays ~n^1.5, not n².
    */
  def ivfNlistFor(n: Long): Int =
    math.max(64, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Embedding near-dup pairs: cosine >= threshold. Exact broadcast
    * kernel under `BruteForcePairLimit` rows; IVF cluster-bucketed join
    * above it (pairs only form inside a cluster — the 100 TB path).
    * Pass `bruteForce` explicitly to pin a path (the default decides by
    * cached/hinted row count so no caller can accidentally collect a
    * 100 TB table), `rowCountHint` when the caller already knows the
    * size (catalog statistics).
    *
    * Skew guard: clusters larger than `maxClusterBlock` are hash-split
    * into sub-buckets and the pair join runs per unordered sub-bucket
    * PAIR — total work is unchanged (all intra-cluster pairs are still
    * compared) but the largest single join block is maxClusterBlock²,
    * spread over ~(m/cap)² tasks instead of one.
    */
  def embeddingPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bruteForce: Option[Boolean] = None,
      rowCountHint: Option[Long] = None,
      maxClusterBlock: Int = MaxClusterBlock): DataFrame = {
    lazy val n = rowCountHint.getOrElse(cachedCount(df))
    val brute = bruteForce.getOrElse(n <= BruteForcePairLimit)
    if (brute) {
      VectorOps.cosinePairsBroadcast(df, vecCol, idCol, threshold)
    } else {
      val model = VectorOps.trainIvfCached(df.withColumnRenamed(idCol, "_id")
        .withColumnRenamed(vecCol, "_v"), "_v", nlist = ivfNlistFor(n))
      // clusters are assigned on the float view (blocking only decides
      // WHERE pairs meet); the θ-gate itself reads the µ-unit integer
      // vector so the emitted SET is on the exact-dot contract
      val stagedU = VectorOps.stagedUnitCached(
        df.select(col(idCol), col(vecCol)), idCol, vecCol)
        .select(col(idCol).as("_aid"), col("_uq"))
      val assigned = VectorOps.assignCluster(
        df.select(col(idCol).as("_aid"), col(vecCol).as("_v")), "_v", model.centroids)
        .join(stagedU, "_aid")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-cluster sub-bucket count (nlist rows -> broadcast join)
      val nb = assigned.groupBy(col("_cluster"))
        .agg(ceil(count(lit(1)) / lit(maxClusterBlock.toDouble)).cast("int").as("_nb"))
      val bucketed = assigned.join(broadcast(nb), Seq("_cluster"))
        .withColumn("_bkt", pmod(hash(col("_aid")), col("_nb")))
      // every unordered sub-bucket pair (p <= q) is one join key: side A
      // emits its row under keys (bkt, q) for q >= bkt, side B under
      // (p, bkt) for p <= bkt — a pair of rows in buckets (x <= y)
      // meets at exactly (x, y) (twice, A/B swapped, iff x == y; the
      // `p < q || id_a < id_b` filter keeps each pair once). In the
      // common nb=1 case both sides emit (0,0) once — zero overhead.
      val aSide = bucketed.select(col("_cluster"), col("_bkt").as("_p"),
        explode(sequence(col("_bkt"), col("_nb") - 1)).as("_q"),
        col("_aid").as("id_a"), col("_uq").as("_ua"))
      val bSide = bucketed.select(col("_cluster"),
        explode(sequence(lit(0), col("_bkt"))).as("_p"),
        col("_bkt").as("_q"), col("_aid").as("id_b"), col("_uq").as("_ub"))
      val out = aSide.join(bSide, Seq("_cluster", "_p", "_q"))
        .where((col("_p") < col("_q")) || (col("id_a") < col("id_b")))
        .where(VectorOps.intDotCol(col("_ua"), col("_ub"))
          >= VectorOps.thetaQ(threshold))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
      val stable = Scratch.stable(out)
      assigned.unpersist(false)
      stable
    }
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pairs found WITHIN k-means clusters only — the
    * quadratic cosine search is confined to semantically-coherent
    * blocks, so k tunes the work the same way IVF's nlist does
    * (Σ·cluster² vs n²; k ≈ n/target_block keeps blocks constant-size
    * as the corpus grows). Clustering is [[VectorOps.kmeansQuantized]]
    * — integer-exact and replayable on any engine — so an oracle can
    * rebuild the exact same blocks; pair generation routes through
    * [[boundedKeyPairs]] with `cluster` as the key, which means a
    * skewed cluster hash-splits into cap² sub-blocks instead of one
    * giant collect buffer (the structural cap every other near-dup
    * family here shares). Emitted pairs carry id_a < id_b and the
    * shared cluster; the θ-gate is the EXACT integer dot of µ-unit
    * quantized vectors against `round(θ·1e12)` — no float in the
    * selection, so the pair set is bit-stable on any engine.
    *
    * By construction this misses cross-cluster near-dups (a pair
    * split by a k-means boundary) — the SemDeDup trade: recall is
    * bounded by clustering quality, cost by k. The unclustered exact
    * path ([[embeddingPairs]]) is the recall oracle to gate against.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, theta: Double,
      cap: Int = MaxClusterBlock): DataFrame = {
    // cached halves (the r15 weak-item fix): the µ-unit corpus and the
    // k-means assignment are WRITE-TIME material shared by the whole
    // pairs/keep/report family — re-deriving them per query was the
    // measured ~2.8× SemDeDup regression
    val asgn = VectorOps.kmeansQuantizedCached(df, idCol, vecCol, k, iters)
    // the θ-gate reads the µ-unit integer vector (the exact-dot
    // contract — cluster blocks decide WHERE pairs meet, the long dot
    // decides WHETHER, and no engine can flip an integer comparison)
    val items = VectorOps.stagedUnitCached(
        df.select(col(idCol).cast("long").as(idCol), col(vecCol)),
        idCol, vecCol)
      .join(asgn, idCol)
      .select(col("cluster"), struct(col(idCol).as("_sid"), col("_uq"),
        col("cluster").as("_cl")).as("_elem"))
    // struct ordering leads with _sid, so explodePairs' sorted output
    // yields id_a._sid < id_b._sid for free (ids are distinct); the
    // shared cluster rides inside the element because boundedKeyPairs
    // projects its key columns away
    boundedKeyPairs(items, Seq("cluster"), "_elem", cap)
      .where(VectorOps.intDotCol(col("id_a._uq"), col("id_b._uq"))
        >= VectorOps.thetaQ(theta))
      .select(col("id_a._cl").as("cluster"), col("id_a._sid").as("id_a"),
        col("id_b._sid").as("id_b"))
  }

  /** Incremental SemDeDup — the cross form of [[semanticDedupPairs]]:
    * a NEW batch deduped against the STANDING corpus without ever
    * re-pairing the corpus with itself. The corpus trains the k-means
    * centroids once (a k×dim long artifact); the batch assigns to
    * THOSE centroids (no retrain — the incremental contract every
    * other cross-dedup here follows), and corpus×batch pairs form only
    * within shared clusters through [[boundedCrossPairs]] (both-side
    * cluster pruning, cap² cross blocks). Output:
    * (cluster, id_a from corpus, id_b from batch) at cosine ≥ θ —
    * `id_b`'s distinct set is the batch rows already represented.
    */
  def semanticDedupCrossPairs(corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int, theta: Double,
      cap: Int = MaxClusterBlock): DataFrame = {
    val cents = VectorOps.kmeansCentroidsCached(corpus, idCol, vecCol,
      k, iters)
    semanticDedupCrossPairsSeeded(cents, corpus, batch, idCol, vecCol,
      theta, cap)
  }

  /** [[semanticDedupCrossPairs]] against ALREADY-TRAINED centroids —
    * the repeated-ingest form: a streaming/foreachBatch caller trains
    * the k×dim centroid artifact ONCE at filter construction and
    * assigns every micro-batch to the same standing blocks (per-batch
    * retraining would both waste the Lloyd scans and drift the block
    * boundaries between batches). */
  def semanticDedupCrossPairsSeeded(cents: Array[Seq[Long]],
      corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, theta: Double,
      cap: Int = MaxClusterBlock): DataFrame = {
    // only the STANDING corpus rides the µ-unit cache (write-time
    // material reused batch after batch); the batch is fresh data —
    // caching it would add a persist boundary (and its exchanges) per
    // micro-batch for a frame read exactly once
    def items(df: DataFrame, cached: Boolean) = {
      val asgn = VectorOps.kmeansAssignQuantized(df, idCol, vecCol, cents)
      val sel = df.select(col(idCol).cast("long").as(idCol), col(vecCol))
      val su = if (cached) VectorOps.stagedUnitCached(sel, idCol, vecCol)
        else VectorOps.stagedUnit(sel, idCol, vecCol)
      su.join(asgn, idCol)
        .select(col("cluster"), struct(col(idCol).as("_sid"),
          col("_uq"), col("cluster").as("_cl")).as("_elem"))
    }
    boundedCrossPairs(items(corpus, cached = true),
      items(batch, cached = false), Seq("cluster"),
      "_elem", cap)
      .where(VectorOps.intDotCol(col("id_a._uq"), col("id_b._uq"))
        >= VectorOps.thetaQ(theta))
      .select(col("id_a._cl").as("cluster"), col("id_a._sid").as("id_a"),
        col("id_b._sid").as("id_b"))
  }

  /** Pre-flight telemetry for [[semanticDedupPairs]]: per-cluster row
    * counts and the implied within-cluster pair volume `n·(n−1)/2` —
    * what a caller reads to calibrate k BEFORE committing to the full
    * quadratic pass (total pair volume is the cost driver; the largest
    * block is the skew the cap machinery will sub-split). One
    * k-means assignment + one groupBy; k rows out.
    */
  def semanticDedupReport(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame =
    VectorOps.kmeansQuantizedCached(df, idCol, vecCol, k, iters)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("n_pairs", expr("n_rows * (n_rows - 1) div 2"))
      .select(col("cluster"), col("n_rows"), col("n_pairs"))

  /** Closes the [[semanticDedupReport]] loop: the smallest k whose
    * implied within-cluster pair volume Σ nᵢ(nᵢ−1)/2 fits
    * `pairBudget` — chosen from the one-agg report alone, so NO
    * quadratic pair work runs until k is fixed. Probes double from
    * `minK` until the budget holds, then binary-search the smallest
    * conforming k in the last doubling interval (pair volume is not
    * strictly monotone in k — Lloyd reshuffles boundaries — so the
    * result is the smallest CONFORMING PROBE, exact under
    * monotonicity); each probe costs one k-means train + one groupBy,
    * ≈ 2·log₂(kMax/minK) probes total. Refuses (require) when even
    * `maxK` can't meet the budget — on a corpus with a giant
    * duplicate blob no k separates, the honest answers are a bigger
    * budget or an exact-dedup pre-pass, not a silent overrun (the
    * maxPool/maxEval refuse-don't-spill discipline).
    */
  def calibrateSemDedupK(df: DataFrame, idCol: String, vecCol: String,
      pairBudget: Long, iters: Int, minK: Int = 2,
      maxK: Int = 4096): Int = {
    require(pairBudget >= 0, s"pairBudget must be >= 0, got $pairBudget")
    require(minK >= 1 && maxK >= minK, s"need 1 <= minK <= maxK: $minK, $maxK")
    // k can't exceed the row count (k-means seeds k rows)
    val kCap = math.min(maxK.toLong, cachedCount(df)).toInt
    require(kCap >= 1, "calibrateSemDedupK on an empty corpus")
    // probes run UNCACHED (kmeansQuantized, not the Cached form): each
    // probe is a different k, so caching would only churn the shared
    // assignment LRU and evict the entries the committed pass reuses
    def volume(k: Int): Long =
      VectorOps.kmeansQuantized(df, idCol, vecCol, k, iters)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_rows"))
        .withColumn("n_pairs", expr("n_rows * (n_rows - 1) div 2"))
        .agg(sum(col("n_pairs"))).head.getLong(0)
    var k = math.min(minK, kCap)
    var v = volume(k)
    if (v <= pairBudget) return k
    // doubling phase: first k that conforms bounds the search above
    // (long doubling — an Int k*2 overflows negative near 2^31)
    var lo = k // largest known non-conforming
    while (v > pairBudget && k < kCap) {
      lo = k
      k = math.min(k.toLong * 2L, kCap.toLong).toInt
      v = volume(k)
    }
    require(v <= pairBudget,
      s"pair budget $pairBudget unreachable at maxK=$kCap (implied pairs $v)" +
        " — raise the budget or exact-dedup the duplicate mass first")
    var hi = k // smallest known conforming
    while (hi - lo > 1) {
      val mid = lo + (hi - lo) / 2
      if (volume(mid) <= pairBudget) hi = mid else lo = mid
    }
    hi
  }

  /** [[semanticDedupKeep]] with k chosen by [[calibrateSemDedupK]]
    * from a PAIR BUDGET instead of hand-picked — the auto-sizing
    * entry point, mirroring how the IVF serving tiers calibrate
    * nprobe/refine from a recall target instead of shipping magic
    * numbers. The caller states the quadratic work it can afford
    * (`pairBudget` — at corpus scale, executors × per-task pair
    * throughput × time budget); calibration probes the one-agg report
    * until the implied within-cluster pair volume fits, then the
    * single committed dedup pass runs at that k. Refuses (the
    * calibrate contract) when even `maxK` can't meet the budget.
    * Returns (kept ids, the calibrated k).
    */
  def semanticDedupKeepBudget(df: DataFrame, idCol: String,
      vecCol: String, pairBudget: Long, iters: Int, theta: Double,
      cap: Int = MaxClusterBlock, minK: Int = 2,
      maxK: Int = 4096): (DataFrame, Int) = {
    val k = calibrateSemDedupK(df, idCol, vecCol, pairBudget, iters,
      minK, maxK)
    (semanticDedupKeep(df, idCol, vecCol, k, iters, theta, cap), k)
  }

  /** The keep-set form of [[semanticDedupPairs]]: a row is DROPPED iff
    * a smaller-id row in the same cluster is cosine-θ-similar —
    * deterministic min-id-wins, the same tie rule every exact-dedup
    * keeper here uses. Each dropped row's witness may itself be
    * dropped (witness chains of θ-edges bottom out at a kept row), so
    * like connected-component dedup this prunes θ-CHAINS to one
    * representative — stricter than one-per-θ-ball; callers wanting
    * ball semantics post-filter pairs against the kept set. Returns
    * the kept ids. */
  def semanticDedupKeep(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, theta: Double,
      cap: Int = MaxClusterBlock): DataFrame = {
    val dropped = semanticDedupPairs(df, idCol, vecCol, k, iters, theta,
      cap).select(col("id_b")).distinct()
    df.select(col(idCol).cast("long").as(idCol))
      .join(dropped, col(idCol) === col("id_b"), "left_anti")
  }
}

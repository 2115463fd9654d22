package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.pipeline.ArtifactCache

/** Streaming extension (beyond reference parity — the reference has no
  * streaming surface, SURVEY §2.9; its local default storage is even
  * ephemeral). This module makes the graph ingestible and analyzable as
  * Structured Streaming flows:
  *  - continuous AddN/AddE ingest into the per-label parquet layout;
  *  - watermarked windowed aggregation over an event stream;
  *  - custom per-key state via flatMapGroupsWithState (sessionization).
  */
object GraphStream {

  /** Normalize an arbitrary streaming frame into the node-table shape
    * (`_id`, `_label`, props…) and return an appending writer into the
    * store's per-label layout (`root/nodes/<label>/`). Partitioned by
    * id-hash bucket so a 1000-executor writer doesn't produce one file
    * per trigger per executor in the same directory.
    */
  def nodeIngest(stream: DataFrame, label: String, idCol: String,
      root: String, buckets: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] = {
    stream
      .withColumn("_id", col(idCol).cast("long"))
      .withColumn("_label", lit(label))
      .withColumn("_bucket", pmod(hash(col("_id")), lit(buckets)))
      .writeStream
      .format("parquet")
      .option("path", s"$root/nodes/$label")
      .option("checkpointLocation", s"$root/_checkpoints/nodes_$label")
      .partitionBy("_bucket")
      .outputMode(OutputMode.Append())
  }

  /** Same for edges: (`_id`, `_label`, `_src`, `_dst`, props…),
    * bucketed by `_src` hash — adjacency scans prune to the bucket.
    */
  def edgeIngest(stream: DataFrame, label: String, idCol: String,
      srcCol: String, dstCol: String, root: String,
      buckets: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] = {
    stream
      .withColumn("_id", col(idCol).cast("long"))
      .withColumn("_label", lit(label))
      .withColumn("_src", col(srcCol).cast("long"))
      .withColumn("_dst", col(dstCol).cast("long"))
      .withColumn("_bucket", pmod(hash(col("_src")), lit(buckets)))
      .writeStream
      .format("parquet")
      .option("path", s"$root/edges/$label")
      .option("checkpointLocation", s"$root/_checkpoints/edges_$label")
      .partitionBy("_bucket")
      .outputMode(OutputMode.Append())
  }

  /** Watermarked tumbling-window counts per event type — the canonical
    * late-data-tolerant streaming aggregation over the `events` shape
    * (ts, event_type, value).
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup for document ingest: drop rows whose text
    * digest was already seen within the watermark horizon. The state
    * store holds one md5 per distinct document inside the horizon —
    * the streaming half of `pipeline.Dedup.exact`, for dedup-at-ingest
    * in a training-data pipeline (duplicates cluster in time: crawl
    * re-fetches, retry storms).
    */
  def streamingDedup(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("_digest", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Near-dup filtering at ingest: drop stream rows whose MinHash
    * signature shares any LSH band with the STANDING corpus — the
    * streaming half of `pipeline.Dedup.minhashPairs`, guarding a
    * training corpus against re-crawled boilerplate before it lands.
    *
    * Plan shape: the corpus side is the write-time signature artifact
    * ([[graft.pipeline.Dedup.minhashSignatureCached]]) reduced to a
    * Bloom filter of its band keys (built ONCE at filter construction
    * — `bands × |corpus|` keys; ~1.2 GB at 10⁹ keys / 1% fpp, a
    * broadcast-sized sketch even for a billion-doc corpus). The stream
    * side computes band keys per row with
    * [[graft.pipeline.Dedup.withMinhashBandKeys]] — a pure staged
    * expression, no shuffle, no state store — and keeps rows none of
    * whose keys might be in the corpus. Bloom false positives drop a
    * clean doc at rate ≤ `bands × fpp` (tune `fpp` down for precious
    * data); false negatives don't exist, so nothing near-duplicate
    * slips through that batch LSH would have caught.
    */
  def nearDupIngestFilter(stream: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int = 3, numHashes: Int = 6,
      bands: Int = 3, fpp: Double = 0.01): DataFrame = {
    import graft.pipeline.Dedup
    val sig = Dedup.minhashSignatureCached(corpus, textCol, idCol, n, numHashes)
    val keyed = sig.select(explode(array(Dedup.bandKeyExprs(numHashes, bands,
      j => col(s"mh$j")): _*)).as("_k"))
    val hits = bloomHitsUdf(stream, keyed, fpp)
    Dedup.withMinhashBandKeys(stream, textCol, n, numHashes, bands, "_bands")
      .where(!hits(col("_bands")))
      .drop("_bands")
  }

  /** The shared corpus-side Bloom build + probe UDF of the three
    * ingest filters: `keyed` (one string key column `_k`) pins across
    * the sizing count and the Bloom build — without the persist, both
    * actions would recompute the full upstream key derivation (for
    * media, that is the codec-CPU decode of the whole corpus) — then
    * broadcasts, and the returned UDF tests an array of keys against
    * the filter. One place owns sizing, persist level, and probe
    * semantics.
    */
  private def buildBloom(stream: DataFrame, keyed: DataFrame, fpp: Double)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] = {
    val pinned =
      keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try pinned.stat.bloomFilter("_k", math.max(pinned.count(), 1L), fpp)
      finally pinned.unpersist(false)
    stream.sparkSession.sparkContext.broadcast(bloom)
  }

  private def bloomHitsUdf(stream: DataFrame, keyed: DataFrame,
      fpp: Double): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bloomB = buildBloom(stream, keyed, fpp)
    udf((ks: Seq[String]) =>
      ks != null && ks.exists(bloomB.value.mightContainString))
  }

  /** Media near-dup filtering at ingest — the multimodal mirror of
    * [[nearDupIngestFilter]]: drop stream media rows whose perceptual
    * hash (image aHash63 / audio envelope / video multi-frame) shares
    * any 16-bit band with the STANDING corpus, so a re-uploaded,
    * lightly-recompressed, or leading-frame-trimmed asset never lands
    * twice.
    *
    * Plan shape: the corpus side reduces its hash frame to a Bloom
    * filter of `(band, value)` keys, built once at filter
    * construction and broadcast (`4 x |corpus|` keys — broadcast-sized
    * even for a billion-asset corpus). The stream side decodes and
    * hashes each payload in a row-preserving predicate — no shuffle,
    * no state store — and keeps rows none of whose band keys might be
    * in the corpus. Pigeonhole gives ZERO false negatives at Hamming
    * <= 3 (a true near-dup always shares an untouched band); false
    * positives (a shared band without a near-dup, or a Bloom hit) drop
    * a clean asset at a bounded small rate — the same
    * conservative-drop trade the text filter makes. Undecodable
    * payloads pass through (they are not duplicates of anything).
    */
  def mediaNearDupIngestFilter(stream: DataFrame, corpus: DataFrame,
      modality: String, binCol: String = "content",
      fpp: Double = 0.01, imageHashKind: String = "ahash",
      videoWinnowWindow: Option[Int] = None): DataFrame = {
    import graft.pipeline.Multimodal
    require(imageHashKind == "ahash" || imageHashKind == "dhash",
      s"imageHashKind must be ahash|dhash, got $imageHashKind")
    val bands = 4; val bandBits = 16
    // video keys on up to MediaFilterFrames sampled frames per clip
    // (both sides), not just the first: a trimmed or bumper-prefixed
    // re-upload keeps most of its sampled frames identical to the
    // standing clip, so it still shares a band and drops — the ingest
    // mirror of Multimodal.videoMultiFrameNearDupPairs. With
    // `videoWinnowWindow = Some(w)` both sides key on WINNOW-selected
    // frames instead (the ingest mirror of
    // Multimodal.videoWinnowedNearDupPairs): ordinal sample indices
    // are a function of clip LENGTH, so a re-cut longer than the
    // sample spacing lines no probes up with the corpus keys and the
    // re-upload slips through — content-anchored selection keys the
    // same frames on both cuts. `imageHashKind = "dhash"` probes the
    // gradient hash instead of the mean-threshold one — the arm that
    // still catches a smooth illumination re-grade.
    val hs = modality match {
      case "image" if imageHashKind == "dhash" =>
        Multimodal.dHash63(corpus).select(col("dhash").as("_h"))
      case "image" => Multimodal.aHash63(corpus).select(col("ahash").as("_h"))
      case "audio" =>
        Multimodal.audioEnvHash63(corpus).select(col("ehash").as("_h"))
      case "video" => videoWinnowWindow match {
        case Some(w) => Multimodal.videoWinnowedFrameHashes63(corpus, w)
          .select(col("fhash").as("_h"))
        case None => Multimodal.videoFrameHashes63(corpus, MediaFilterFrames)
          .select(col("fhash").as("_h"))
      }
      case m => throw new IllegalArgumentException(
        s"modality must be image|audio|video, got $m")
    }
    val hashesOf: Array[Byte] => Seq[Long] = modality match {
      case "image" if imageHashKind == "dhash" =>
        b => Multimodal.imageDHashOf(b).toSeq
      case "image" => b => Multimodal.imageHashOf(b).toSeq
      case "audio" => b => Multimodal.audioHashOf(b).toSeq
      case _ => videoWinnowWindow match {
        case Some(w) => b => Multimodal.videoWinnowedHashesOf(b, w)
        case None => b => Multimodal.videoHashesOf(b, MediaFilterFrames)
      }
    }
    bandBloomDropFilter(stream, hs, hashesOf, binCol, fpp)
  }

  /** The one owner of the band-Bloom drop semantics every perceptual-
    * hash ingest filter shares: the corpus hash frame (single column
    * `_h`) reduces to a broadcast Bloom of (band, value) keys; each
    * stream row decodes to `hashesOf(bytes)` hashes and drops when at
    * least `min(2, n_hashes)` of them share a band with the corpus —
    * any-hit for single-hash probes (image/audio: the pigeonhole
    * near-dup condition), >= 2 hit frames for multi-hash probes
    * (video: a single chance band collision on one of 8 frames must
    * not drop a fresh clip, and 8 frames' keys saturate the
    * (band, value) space 8x faster than one, so the any-hit rule
    * would over-drop). Undecodable payloads (empty hash seq) pass
    * through — they are not duplicates of anything.
    */
  private def bandBloomDropFilter(stream: DataFrame, corpusHashes: DataFrame,
      hashesOf: Array[Byte] => Seq[Long], binCol: String,
      fpp: Double): DataFrame = {
    import graft.pipeline.Multimodal
    val bands = 4; val bandBits = 16
    val keyed = corpusHashes.where(col("_h").isNotNull)
      .select(explode(bandKeyCols(col("_h"), bands, bandBits)).as("_k"))
    val bloomB = buildBloom(stream, keyed, fpp)
    val dropRow = udf((bytes: Array[Byte]) => {
      val hs = hashesOf(bytes)
      if (hs.isEmpty) false
      else {
        val need = math.min(2, hs.size)
        var hit = 0
        val it = hs.iterator
        while (it.hasNext && hit < need) {
          val h = it.next()
          if (Multimodal.bandKeysOfHash(h, bands, bandBits)
              .exists(bloomB.value.mightContainString)) hit += 1
        }
        hit >= need
      }
    })
    stream.where(!dropRow(col(binCol)))
  }

  /** Frames sampled per clip by the video arm of
    * [[mediaNearDupIngestFilter]] — corpus build and stream probe must
    * agree on the sampler.
    */
  private val MediaFilterFrames = 8

  /** CROSS-MODALITY thumbnail filtering at ingest — the streaming
    * mirror of [[graft.pipeline.Multimodal.thumbnailPairs]]: drop
    * stream IMAGE rows whose aHash63 shares any 16-bit band with a
    * sampled FRAME of the standing video corpus, so a poster/key
    * frame re-uploaded as a standalone image never lands next to the
    * clip it came from. Per-modality filters are blind to this family
    * by construction — the image corpus has never seen the frame.
    *
    * Plan shape: the corpus side reduces its per-frame hash frame
    * (up to [[MediaFilterFrames]] sampled frames per clip, the same
    * sampler as the video arm) to a broadcast Bloom of (band, value)
    * keys; the stream side decodes and hashes each image payload in a
    * row-preserving predicate — no shuffle, no state store. An image
    * can only match frame-wise, so the gate is any-hit (the
    * single-hash rule the image arm uses, not the video arm's
    * >=2-frames gate — there is ONE image hash to probe). Pigeonhole
    * gives zero false negatives at Hamming <= 3; undecodable payloads
    * pass through.
    */
  def thumbnailIngestFilter(stream: DataFrame, videoCorpus: DataFrame,
      binCol: String = "content", fpp: Double = 0.01): DataFrame = {
    import graft.pipeline.Multimodal
    val frames = Multimodal.videoFrameHashes63(videoCorpus, MediaFilterFrames)
      .select(col("fhash").as("_h"))
    bandBloomDropFilter(stream, frames,
      b => Multimodal.imageHashOf(b).toSeq, binCol, fpp)
  }

  /** TRIM-ROBUST audio near-dup filtering at ingest — the streaming
    * mirror of [[graft.pipeline.Multimodal.audioShingleNearDupPairs]],
    * complementing [[mediaNearDupIngestFilter]]'s envelope-band arm
    * the way the multi-frame probe complements the video key-frame:
    * the corpus reduces to a broadcast Bloom of its symbol-shingle
    * hashes, and a stream row drops when at least `minFrac` of ITS
    * shingles might be in the corpus — approximate Jaccard
    * CONTAINMENT, which a leading-trim cannot evade (the surviving
    * symbols are verbatim corpus symbols). A fraction gate rather
    * than any-hit: quiet/constant windows produce shingles shared by
    * unrelated clips, and a single-shingle trigger would drop fresh
    * content wholesale. Undecodable or shingle-less payloads pass
    * through (not duplicates of anything).
    */
  def audioShingleIngestFilter(stream: DataFrame, corpus: DataFrame,
      binCol: String = "content", n: Int = 3, minFrac: Double = 0.6,
      win: Int = 4, stride: Int = 2, fpp: Double = 0.01): DataFrame = {
    import graft.pipeline.{Dedup, Multimodal}
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac in (0,1]: $minFrac")
    // the cached symbols frame keeps downstream plan keys stable, and
    // the shingle artifact it feeds is already persisted+counted by
    // its own cache — the two jobs below (count + bloom build) read
    // that cache; no second persist layer
    val keyed = Dedup.shingleHashSetCached(
        Multimodal.audioSymbolsCached(corpus, win, stride)
          .where(col("symbols").isNotNull),
        "symbols", "media_id", n)
      .select(col("_sh").cast("string").as("_k"))
    val bloom = keyed.stat.bloomFilter("_k",
      math.max(keyed.count(), 1L), fpp)
    val bloomB = stream.sparkSession.sparkContext.broadcast(bloom)
    val hitFrac = udf((bytes: Array[Byte]) => {
      val shs = Multimodal.audioShingleHashesOf(bytes, n, win, stride)
      if (shs.isEmpty) -1.0 // pass-through marker
      else shs.count(h =>
        bloomB.value.mightContainString(h.toString)).toDouble / shs.size
    })
    stream.where(hitFrac(col(binCol)) < minFrac)
  }

  /** TEXT containment filtering at ingest — the streaming arm of
    * `Dedup.containmentPairs`: drop stream docs whose shingle set is
    * >= `minFrac` contained in the standing corpus's shingle universe
    * (a quoted article, a README pasted into a dump — high containment
    * with possibly LOW symmetric Jaccard, which is exactly what
    * [[nearDupIngestFilter]]'s band probe under-catches for short-in-
    * long). Corpus side: the cached shingle artifact reduces to one
    * broadcast Bloom of shingle hashes; stream side: a row-preserving
    * predicate re-hashes via `Dedup.shingleHashesOfText` (pinned
    * hash-identical to the distributed build) and measures the hit
    * fraction — no shuffle, no state store. Bloom false positives
    * inflate containment slightly (conservative drop, same trade as
    * every ingest filter); tokenless rows pass through.
    */
  def containmentIngestFilter(stream: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, n: Int = 3, minFrac: Double = 0.8,
      fpp: Double = 0.01): DataFrame = {
    import graft.pipeline.Dedup
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac in (0,1]: $minFrac")
    // the shingle artifact cache already persists+counts the frame;
    // the sizing count and the Bloom build both read that cache
    val keyed = Dedup.shingleHashSetCached(corpus, textCol, idCol, n)
      .select(col("_sh").cast("string").as("_k"))
    val bloom = keyed.stat.bloomFilter("_k", math.max(keyed.count(), 1L), fpp)
    val bloomB = stream.sparkSession.sparkContext.broadcast(bloom)
    val hitFrac = udf((text: String) => {
      val shs = Dedup.shingleHashesOfText(text, n)
      if (shs.isEmpty) -1.0 // pass-through marker
      else shs.count(h =>
        bloomB.value.mightContainString(h.toString)).toDouble / shs.size
    })
    stream.where(hitFrac(col(textCol)) < minFrac)
  }

  /** The (band, value) key array of a 63-bit hash column — the column
    * form of `Multimodal.bandKeysOfHash` (same "b:v" strings), so a
    * corpus-side Bloom build and a stream-side probe agree by
    * construction.
    */
  private def bandKeyCols(sig: Column, bands: Int, bandBits: Int): Column =
    array((0 until bands).map(b => concat_ws(":", lit(b),
      shiftright(sig, b * bandBits).bitwiseAND((1L << bandBits) - 1))): _*)

  /** EMBEDDING near-dup filtering at ingest — the third arm of the
    * near-dup matrix (text [[nearDupIngestFilter]], media
    * [[mediaNearDupIngestFilter]], and now vectors): drop stream rows
    * whose sign-random-projection signature
    * ([[graft.search.VectorOps.signSignature63]], Charikar cosine
    * LSH) shares any 16-bit band with the standing corpus — a
    * re-embedded or trivially-perturbed document never lands twice.
    *
    * Plan shape: the corpus side reduces its signature frame to a
    * broadcast Bloom of `(band, value)` keys (built once, persisted
    * across the sizing count and the build); the stream side computes
    * the signature as a pure integer expression per row — no UDF
    * decode, no shuffle, no state store. Signature Hamming estimates
    * ANGLE (P[bit differs] = θ/π), so band-sharing is the
    * probabilistic cosine-near-dup gate: near-identical directions
    * share bands with near-certainty; the drop is conservative by the
    * same trade as the text filter.
    *
    * Degenerate vectors (wrong length, null, NaN/Inf — the kernel
    * signs all of them to 0L by contract) PASS THROUGH, mirroring the
    * media filter's "undecodable payloads pass through" rule: they
    * are not duplicates of anything measurable, and they are excluded
    * from the corpus Bloom build for the same reason. Without both
    * exclusions, one malformed corpus vector (an `inDim`
    * misconfiguration, embedding-model dim drift) would collide every
    * malformed stream row on signature 0 and silently discard the
    * whole stream.
    */
  def embeddingNearDupIngestFilter(stream: DataFrame, corpus: DataFrame,
      vecCol: String, inDim: Int, fpp: Double = 0.01): DataFrame = {
    import graft.search.VectorOps
    val bands = 4; val bandBits = 16
    val keyed = VectorOps.signSignature63(corpus, vecCol, "_srp", inDim)
      .where(col("_srp") =!= 0L)
      .select(explode(bandKeyCols(col("_srp"), bands, bandBits)).as("_k"))
    val hits = bloomHitsUdf(stream, keyed, fpp)
    VectorOps.signSignature63(stream, vecCol, "_srp", inDim)
      .where(col("_srp") === 0L ||
        !hits(bandKeyCols(col("_srp"), bands, bandBits)))
      .drop("_srp")
  }

  /** SemDeDup at ingest — the micro-batch arm of
    * [[graft.pipeline.Dedup.semanticDedupCrossPairs]], for use inside
    * `writeStream.foreachBatch` (an EXACT θ-cosine check against the
    * standing corpus is a join, not a per-row predicate, so unlike
    * the Bloom filters above it composes at the micro-batch level):
    *
    * {{{
    * val keep = GraphStream.semanticIngestKeep(corpus, "id", "v", k, it, θ)
    * stream.writeStream.foreachBatch { (b, _) => keep(b).write.…(…) }
    * }}}
    *
    * The k-means centroids train ONCE here at filter construction
    * (the bounded k×dim artifact) and every micro-batch assigns to
    * the SAME standing blocks — per-batch retraining would waste the
    * Lloyd scans and drift block boundaries between batches. Each
    * batch then pairs against the corpus only within shared clusters
    * through the capped cross machinery and keeps the rows with NO
    * θ-neighbor — exactly the batch semantics of
    * semanticDedupCrossPairs, so batch == stream parity holds by
    * construction (spec-pinned). Degenerate vectors carry null
    * cosines, fail the θ gate, and pass through — the filter family's
    * uniform "not a duplicate of anything measurable" rule.
    *
    * Like SemDeDup itself this dedups the batch against the CORPUS,
    * not against other rows of the same micro-batch (and the corpus
    * frame is read per batch — at scale, a cluster-partitioned stored
    * table whose scan prunes to the batch's clusters).
    */
  def semanticIngestKeep(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, theta: Double,
      cap: Int = graft.pipeline.Dedup.MaxClusterBlock)
      : DataFrame => DataFrame = {
    import graft.search.VectorOps
    val cents = VectorOps.kmeansCentroidsQuantized(corpus, idCol, vecCol,
      k, iters)
    batch => {
      val dropped = graft.pipeline.Dedup.semanticDedupCrossPairsSeeded(
          cents, corpus, batch, idCol, vecCol, theta, cap)
        .select(col("id_b")).distinct()
      batch.join(dropped, col(idCol).cast("long") === col("id_b"),
        "left_anti")
    }
  }

  /** Prototypicality filtering at ingest — the streaming arm of
    * [[graft.search.VectorOps.prototypicalityPrune]] (Sorscher 2022),
    * for the abundant-data regime where only HARD examples are worth
    * storing: keep stream rows whose exact integer distance to their
    * assigned standing centroid is at least the reference corpus's
    * per-cluster prune boundary (the smallest distance the reference
    * prune KEPT in that cluster). Unlike the dedup filters this is a
    * pure per-row column predicate — centroids and boundaries bake
    * into the expression at construction (k×dim literals + one CASE
    * over k clusters), so the stream side has NO state store, NO
    * shuffle, NO foreachBatch, exactly the [[dsirIngestFilter]] shape.
    *
    * Parity: on the reference corpus itself the kept set equals
    * `prototypicalityPrune`'s whenever kept distances are unique at
    * the boundary (the prune breaks exact-distance ties by id, which
    * a per-row threshold cannot see — boundary ties admit the extra
    * tied rows). A cluster whose reference prune kept NOTHING keeps
    * nothing here either; rows whose distance is null (NaN components,
    * wrong vector length) drop — an unmeasurable row is never "hard",
    * the same contract as tokenless rows under the DSIR filter.
    */
  def protoIngestFilter(stream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int,
      keepNum: Int, keepDen: Int): DataFrame = {
    import graft.search.VectorOps
    // ONE Lloyd training; the boundary pass scores the corpus against
    // the same centroid artifact instead of retraining
    val cents = VectorOps.kmeansCentroidsQuantized(corpus, idCol,
      vecCol, k, iters)
    val bounds = VectorOps.prototypicalityPruneSeeded(corpus, idCol,
        vecCol, cents, keepNum, keepDen)
      .groupBy(col("cluster")).agg(min(col("proto_dist")).as("_b"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    // boundaries as ONE literal array indexed by the winning cluster —
    // a per-cluster CASE would re-embed the whole argmin expression in
    // every arm (the k-quadratic tree blow-up assignFrame documents)
    val boundArr: Seq[Long] =
      cents.indices.map(j => bounds.getOrElse(j, Long.MaxValue))
    // NaN components must never reach the µ-unit quantization: under
    // ANSI the double->long cast THROWS (killing the stream on one
    // garbage row), under legacy casting NaN becomes 0 — a fabricated
    // far-away vector that would pass as maximally hard. The lazy
    // `when` guards evaluation itself (CaseWhen only evaluates the
    // matched branch), so unmeasurable rows carry a null struct and
    // fail the comparison; wrong-length vectors null out inside the
    // aggregate on their own. The guard covers ALL non-finite values,
    // not just NaN: an Inf component quantizes to Long.MaxValue and
    // the squared-diff aggregate wraps, so a garbage row could pass as
    // maximally 'hard' — the exact fabricated-far-away failure this
    // gate exists to stop (finiteVec = the knn kernels' degenerate
    // exclusion, shared contract)
    val measurable = graft.search.VectorOps.finiteVec(col(vecCol))
    val cols = stream.columns.map(col)
    stream
      .withColumn("_best", when(measurable, VectorOps.assignStruct(
        VectorOps.quantizeVec(col(vecCol)), cents)))
      .where(col("_best").getField("d") >=
        element_at(typedLit(boundArr), col("_best").getField("j") + 1))
      .select(cols: _*)
  }

  /** Margin-criterion bitext mining at ingest — the streaming arm of
    * [[graft.search.VectorOps.marginMiningQuantized]] (Artetxe &
    * Schwenk 2019), for use inside `writeStream.foreachBatch` (like
    * [[semanticIngestKeep]], the criterion is a join against a
    * standing corpus, not a per-row predicate):
    *
    * {{{
    * val mine = GraphStream.marginMineIngest(srcRef, tgt, "id", "v", k, θq)
    * stream.writeStream.foreachBatch { (b, _) => mine(b).write.…(…) }
    * }}}
    *
    * The margin needs both neighborhoods: `Σfwd(x)` over the target
    * corpus is batch-local (each source's own top-k — computable per
    * micro-batch), but `Σbwd(y)` ranges over "all sources" — ill-posed
    * on a stream, so it is pinned HERE at filter construction to the
    * reference source corpus `srcRef` ([[graft.search.VectorOps
    * .marginBackwardSums]], materialized once and cached; at serving
    * scale, a stored table partitioned by target id — rebuild when
    * the source distribution moves, exactly like the DSIR refit
    * rule). Each micro-batch then runs one forward kNN scan + one
    * integer window and emits its rows' best targets at
    * `margin_q >= minMarginQ` — (src_id, tgt_id, margin_q). Because
    * `Σfwd` depends only on the row and the standing corpus, mining a
    * union of micro-batches equals mining them separately: batch ==
    * stream parity by construction (spec-pinned), and with the
    * streamed rows == `srcRef` the output is exactly the batch
    * miner's, thresholded.
    */
  def marginMineIngest(srcRef: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, minMarginQ: Long): DataFrame => DataFrame = {
    import graft.search.VectorOps
    import graft.pipeline.Dedup
    val (backSums, built) = backSumCache.getOrBuild(
        (Dedup.planKey(srcRef), Dedup.planKey(tgt), idCol, vecCol, k)) {
      VectorOps.marginBackwardSums(srcRef, tgt, idCol, vecCol, k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // materialize the standing artifact once, not per batch
    if (built) backSums.count()
    batch => VectorOps.marginMineBatch(batch, tgt, backSums, idCol,
      vecCol, k, minMarginQ)
  }

  /** LRU-bounded like GraphAlgos.projCache: a long-lived ingest
    * server that rebuilds margin filters (the doc's "rebuild when the
    * source distribution moves" rule) must not accumulate persisted
    * back-sum tables; eviction unpersists the frame it owns.
    *
    * Liveness contract (documented, not tracked): a filter closure
    * returned by [[marginMineIngest]] holds its back-sums DataFrame by
    * reference, so after >4 DISTINCT filters are constructed the
    * oldest filters' standing tables are unpersisted underneath them —
    * they keep working (Spark recomputes the backward kNN lineage per
    * micro-batch) but degrade from a cached-read to a full recompute,
    * a perf cliff with no correctness loss. A deployment that really
    * serves >4 concurrent margin filters should raise BackSumCacheMax
    * or pin its own persisted tables and call [[graft.search.VectorOps
    * .marginMineBatch]] directly; reference-counting closures here
    * would trade that documented cliff for unbounded executor memory
    * on the same workload. */
  private final val BackSumCacheMax = 4
  private val backSumCache =
    ArtifactCache.frames[(String, String, String, String, Int)](
      "graphBackSum", BackSumCacheMax)

  /** Quantile gating at ingest — the streaming arm of
    * [[graft.pipeline.Curation.quantileGate]]: the reference corpus's
    * exact pNum/pDen threshold collects ONCE at construction (one
    * long) and the stream keeps rows at or above it — a pure column
    * predicate, no state, no shuffle (the dsirIngestFilter shape).
    * Same semantics as re-running the batch gate with the reference
    * corpus's threshold: the cutoff is pinned to the REFERENCE
    * distribution (streams have no global quantile), so like the DSIR
    * and margin filters, rebuild when the distribution moves. Null
    * values never pass (the batch gate's null contract). Refuses an
    * empty/all-null reference — there is no threshold to pin.
    */
  def quantileGateIngestFilter(stream: DataFrame, corpus: DataFrame,
      valCol: String, pNum: Int, pDen: Int): DataFrame = {
    import graft.pipeline.Curation
    val thr = Curation.quantileGate(
        corpus.select(lit(0L).as("_qid"), col(valCol)), "_qid", valCol,
        pNum, pDen)
      .agg(min(col(valCol)).as("_t")).head
    require(!thr.isNullAt(0),
      "quantileGateIngestFilter: empty or all-null reference corpus")
    stream.where(col(valCol) >= lit(thr.get(0)))
  }

  /** Corpus drift monitoring at ingest — the streaming arm of
    * [[graft.pipeline.TextAnalysis.vocabularyDrift]]: every
    * micro-batch yields ITS OWN per-term KL(batch‖reference)
    * contribution table against a standing reference corpus, the
    * alerting signal behind "this crawl shard looks nothing like the
    * corpus" (a spiking `<unk>` row = novel vocabulary, a large
    * positive term = topical skew). The reference side — vocab
    * closure, term counts, token total — collects ONCE at
    * construction (bounded ≤ vocab+1 rows, the centroid-artifact
    * class) and bakes into literals, so each batch costs one
    * explode→groupBy over its own tokens and a join against the
    * literal vocab frame; no state store, nothing re-read per batch.
    * Per-batch output rows match [[TextAnalysis.vocabularyDrift]]
    * (ref, batch) exactly — same closure, same add-one arithmetic,
    * same 1e-9 grid (parity spec-pinned).
    */
  def driftIngestMonitor(ref: DataFrame, textCol: String,
      vocab: Int): DataFrame => DataFrame = {
    import graft.pipeline.TextAnalysis
    require(vocab >= 1, s"vocab must be >= 1, got $vocab")
    val refTop = TextAnalysis.capVocab(
        TextAnalysis.termCountsCached(ref, textCol), vocab)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val vSize = refTop.size + 1
    def mapped(c: Column) = transform(TextAnalysis.tokens(c), t =>
      when(t.isInCollection(refTop), t).otherwise(lit("<unk>")))
    val refCounts: Map[String, Long] = ref
      .select(explode(mapped(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val no = refCounts.values.sum
    val symbols = (refTop :+ "<unk>").toSeq
    batch => {
      val cn = batch.select(explode(mapped(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c_new"))
      val base = batch.sparkSession.range(1)
        .select(explode(typedLit(symbols)).as("term"))
        .withColumn("c_old",
          coalesce(element_at(typedLit(refCounts), col("term")), lit(0L)))
      val p = (coalesce(col("c_new"), lit(0L)).cast("double") + 1.0) /
        (col("_nn").cast("double") + lit(vSize.toDouble))
      val q = (col("c_old").cast("double") + 1.0) /
        (lit(no.toDouble) + lit(vSize.toDouble))
      // batch token total as a whole-frame window sum over the joined
      // ≤vocab+1-row table — a separate aggregate would tokenize the
      // batch twice (the vocabularyDrift fix, batch-side)
      val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      base.join(cn, Seq("term"), "left")
        .withColumn("_nn",
          sum(coalesce(col("c_new"), lit(0L))).over(all))
        // symbols silent on BOTH sides don't drift (and don't appear
        // in the batch form's full-outer either — exact parity)
        .where(col("c_old") + coalesce(col("c_new"), lit(0L)) > 0)
        .withColumn("contrib_q",
          round(p * log(p / q) * lit(1000000000L)).cast("long"))
        .select(col("term"), col("c_old"),
          coalesce(col("c_new"), lit(0L)).as("c_new"), col("contrib_q"))
    }
  }

  /** The COMPOSED ingest curation recipe — the streaming analogue of
    * `q_doc_recipe`, wiring the independently-gated arms into the one
    * per-batch chain a crawl-ingest deployment actually runs over
    * (id, text, embedding) rows:
    *
    *   1. length gate — keep rows whose token count is at/above the
    *      reference corpus's exact pNum/pDen quantile (the
    *      [[quantileGateIngestFilter]] arm; threshold pinned ONCE at
    *      construction — one long);
    *   2. semantic dedup — drop survivors θ-near the standing corpus
    *      within shared k-means blocks ([[semanticIngestKeep]];
    *      centroids train once);
    *   3. drift telemetry TAP — every batch also yields its
    *      KL(batch‖reference) table ([[driftIngestMonitor]]);
    *      telemetry never gates.
    *
    * Order is load-bearing: the pure-predicate gate runs FIRST so the
    * join-shaped dedup only pays for survivors; the drift monitor
    * reads the RAW batch — the alert is about what ARRIVES, a shard
    * whose junk the gate happens to absorb must still trip it.
    * Returns `batch => (kept, driftReport)`. Batch == stream parity
    * holds arm-by-arm (each arm's own contract), hence for the
    * composition: union-of-batches curates row-for-row like one
    * batch. Rebuild when the reference distribution moves (the DSIR
    * refit rule, shared by every pinned-artifact filter here).
    */
  def curationIngestRecipe(ref: DataFrame, idCol: String, textCol: String,
      vecCol: String, pNum: Int, pDen: Int, k: Int, iters: Int,
      theta: Double, vocab: Int): DataFrame => (DataFrame, DataFrame) = {
    import graft.pipeline.{Curation, TextAnalysis}
    val ntok = (c: Column) => size(TextAnalysis.tokens(c)).cast("long")
    val thrRow = Curation.quantileGate(
        ref.select(lit(0L).as("_qid"), ntok(col(textCol)).as("_ntok")),
        "_qid", "_ntok", pNum, pDen)
      .agg(min(col("_ntok")).as("_t")).head
    require(!thrRow.isNullAt(0),
      "curationIngestRecipe: empty or all-null reference corpus")
    val thr = thrRow.getLong(0)
    val dedupKeep = semanticIngestKeep(ref, idCol, vecCol, k, iters, theta)
    val drift = driftIngestMonitor(ref, textCol, vocab)
    batch => {
      val gated = batch.where(ntok(col(textCol)) >= lit(thr))
      (dedupKeep(gated), drift(batch))
    }
  }

  /** The FULL streaming pretraining-shard pipeline: length-quantile
    * gate → semantic dedup → sequence packing, per micro-batch — what
    * [[curationIngestRecipe]] curates, packed into fixed-window
    * training sequences as it arrives. Per batch it returns
    * `(packed, drift)`: `packed` = `(doc_id, bucket, seq, n_tok)`
    * sequence assignments of the batch's SURVIVORS (gate first, then
    * the join-shaped dedup, exactly the recipe's order; window-capped
    * counts — split long docs upstream with [[graft.pipeline.Packing
    * .packByCountsSplit]] mechanics if conservation is needed),
    * `drift` = the recipe's raw-batch telemetry tap.
    *
    * Open bins persist ACROSS batches like [[packIngest]]: each
    * bucket's `(seq, fill)` carries in recipe state (nBuckets·2
    * longs), so a sequence keeps filling over micro-batch boundaries
    * and an id-ordered stream packs exactly like the batch form on
    * the union corpus (spec-pinned parity). The batch-side plan is
    * the [[graft.pipeline.Packing]] shape — one hash exchange on the
    * shard key, one stateful in-partition scan — with the per-bucket
    * state seeded from the carried bins and the batch's FINAL bins
    * collected back (bounded: nBuckets rows). State lives in the
    * recipe closure, not Spark's state store — the foreachBatch
    * trade. DURABILITY: pass `statePath` and each batch checkpoints
    * the open bins (nBuckets·(seq, fill) longs — a tiny text
    * artifact) with a write-tmp-then-atomic-rename, and a NEW recipe
    * constructed with the same path restores them — a restart resumes
    * packing mid-bin instead of silently re-anchoring seq numbering
    * (spec-pinned: kill/rebuild mid-stream equals the uninterrupted
    * run). The checkpoint lands after the batch's state collect, so a
    * crash INSIDE a batch replays that one batch — for the
    * batch-id-keyed commit that makes such a replay idempotent, use
    * [[curationShardRecipeTx]]; or [[packIngest]] directly when
    * Spark-managed checkpointed state is required and the gate/dedup
    * arms are applied upstream.
    */
  def curationShardRecipe(ref: DataFrame, idCol: String, textCol: String,
      vecCol: String, pNum: Int, pDen: Int, k: Int, iters: Int,
      theta: Double, vocab: Int, window: Long, nBuckets: Int,
      statePath: Option[String] = None)
      : DataFrame => (DataFrame, DataFrame) = {
    require(window > 0, s"window must be positive, got $window")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import graft.pipeline.TextAnalysis
    val base = curationIngestRecipe(ref, idCol, textCol, vecCol,
      pNum, pDen, k, iters, theta, vocab)
    val openBins = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    statePath.foreach(p => openBins ++= loadBinState(p))
    batch => {
      val (kept, drift) = base(batch)
      val packedIn = kept.select(col(idCol).cast("long").as("doc_id"),
        least(size(TextAnalysis.tokens(col(textCol))).cast("long"),
          lit(window)).as("_tc"))
      val packed = packBatchSeeded(packedIn, window, nBuckets, openBins)
      statePath.foreach(p => saveBinState(p, openBins))
      (packed, drift)
    }
  }

  /** EXACTLY-ONCE form of [[curationShardRecipe]]: the closure takes
    * the sink's `batchId` (foreachBatch hands it over) and the state
    * checkpoint is keyed by it — closing the crash-inside-a-batch
    * replay window the post-batch form documents. The file stores
    * `(batchId, preState, postState)`; on invocation the seed is
    * chosen by id:
    *
    *   - `batchId == committed id` → REPLAY: seed from `preState`.
    *     The packer is deterministic (sorted (bucket, doc_id) scan),
    *     so the replayed batch reproduces byte-identical assignments
    *     and re-commits the same post-state — idempotent no matter
    *     where the previous attempt died.
    *   - new `batchId` → seed from `postState` (the normal advance).
    *
    * Structured Streaming's contract is that only the LAST
    * un-committed batch replays, so an id older than the committed
    * one means the caller paired the recipe with the wrong sink
    * checkpoint — refused loudly rather than silently forking the
    * packing history. Combined with an idempotent (batch-id-keyed)
    * sink this makes the whole gate→dedup→pack chain exactly-once:
    * state and output both replay to the same bytes.
    */
  def curationShardRecipeTx(ref: DataFrame, idCol: String, textCol: String,
      vecCol: String, pNum: Int, pDen: Int, k: Int, iters: Int,
      theta: Double, vocab: Int, window: Long, nBuckets: Int,
      statePath: String): (DataFrame, Long) => (DataFrame, DataFrame) = {
    require(window > 0, s"window must be positive, got $window")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import graft.pipeline.TextAnalysis
    val base = curationIngestRecipe(ref, idCol, textCol, vecCol,
      pNum, pDen, k, iters, theta, vocab)
    val lock = new Object
    var committed: Option[(Long, Map[Long, (Long, Long)], Map[Long, (Long, Long)])] =
      loadTxBinState(statePath)
    (batch, batchId) => lock.synchronized {
      committed.foreach { case (id, _, _) =>
        require(batchId >= id,
          s"curationShardRecipeTx: batch $batchId is older than the " +
            s"committed frontier $id in $statePath — only the last " +
            "batch can replay; this recipe is paired with the wrong " +
            "sink checkpoint")
      }
      val seed = committed match {
        case Some((id, pre, _)) if id == batchId => pre // replay
        case Some((_, _, post)) => post
        case None => Map.empty[Long, (Long, Long)]
      }
      val (kept, drift) = base(batch)
      val bins = scala.collection.mutable.Map.empty[Long, (Long, Long)] ++ seed
      val packedIn = kept.select(col(idCol).cast("long").as("doc_id"),
        least(size(TextAnalysis.tokens(col(textCol))).cast("long"),
          lit(window)).as("_tc"))
      // packBatchSeeded materializes the batch before returning, so
      // `bins` holds the FINAL post-state when the commit below runs
      val packed = packBatchSeeded(packedIn, window, nBuckets, bins)
      saveTxBinState(statePath, batchId, seed, bins.toMap)
      committed = Some((batchId, seed, bins.toMap))
      (packed, drift)
    }
  }

  private def saveTxBinState(path: String, batchId: Long,
      pre: Map[Long, (Long, Long)], post: Map[Long, (Long, Long)]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def sec(m: Map[Long, (Long, Long)]) = m.toSeq.sortBy(_._1)
      .map { case (b, (s, f)) => s"$b $s $f" }
    val body = (Seq(s"txbatch $batchId", "pre") ++ sec(pre) ++
      Seq("post") ++ sec(post)).mkString("", "\n", "\n")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def loadTxBinState(path: String)
      : Option[(Long, Map[Long, (Long, Long)], Map[Long, (Long, Long)])] = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (!Files.exists(p)) return None
    val lines = Files.readString(p).linesIterator.filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("txbatch "),
      s"$path is not a transactional bin-state file (use a fresh path " +
        "for curationShardRecipeTx — the post-batch statePath format " +
        "carries no batch id and cannot distinguish a replay)")
    val id = lines.head.stripPrefix("txbatch ").toLong
    def parse(ls: Seq[String]) = ls.map { l =>
      val a = l.split(" ")
      require(a.length == 3, s"corrupt bin-state line in $path: '$l'")
      a(0).toLong -> (a(1).toLong, a(2).toLong)
    }.toMap
    val rest = lines.tail
    require(rest.headOption.contains("pre"), s"corrupt tx bin-state $path")
    val (preLs, postSec) = rest.tail.span(_ != "post")
    require(postSec.headOption.contains("post"),
      s"corrupt tx bin-state $path")
    Some((id, parse(preLs), parse(postSec.tail)))
  }

  /** Atomic open-bin checkpoint: one `bucket seq fill` line per bin,
    * written to `<path>.tmp` and renamed over `path` (rename is the
    * atomicity unit — a crash mid-write leaves the previous good
    * state). Tiny by construction (nBuckets rows), so a per-batch
    * rewrite costs microseconds next to the batch's Spark jobs.
    */
  private def saveBinState(path: String,
      bins: scala.collection.Map[Long, (Long, Long)]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val body = bins.toSeq.sortBy(_._1)
      .map { case (b, (s, f)) => s"$b $s $f" }.mkString("", "\n", "\n")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def loadBinState(path: String): Map[Long, (Long, Long)] = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).map { l =>
      val a = l.split(" ")
      require(a.length == 3, s"corrupt bin-state line in $path: '$l'")
      a(0).toLong -> (a(1).toLong, a(2).toLong)
    }.toMap
  }

  /** One micro-batch of the shard packer: [[graft.pipeline.Packing]]'s
    * shard-then-pack scan seeded per bucket from `openBins`, emitting
    * the batch's assignments and updating `openBins` with each touched
    * bucket's final `(seq, fill)` (sentinel rows ride the same scan —
    * one job, one bounded collect).
    */
  private def packBatchSeeded(docs: DataFrame, window: Long,
      nBuckets: Int, openBins: scala.collection.mutable.Map[Long, (Long, Long)])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val spark = docs.sparkSession
    val init = spark.sparkContext.broadcast(openBins.toMap)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("bucket", LongType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("n_tok", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val w = window
    // the batch packers' checkedIdExpr contract, enforced here too:
    // doc_id = -1 is this scan's IN-BAND bin-state sentinel, so a
    // negative (or null) stream id must refuse loudly — silently it
    // would be dropped from the packed output AND misparsed as a
    // bin-state row, corrupting openBins for its bucket
    val checkedId = when(col("doc_id").isNull || col("doc_id") < 0L,
        raise_error(concat(
          lit("GraphStream: stream 'doc_id' must be a non-negative id " +
            "(doc_id = -1 is the packer's bin-state sentinel), got: "),
          coalesce(col("doc_id").cast("string"), lit("null")))).cast("long"))
      .otherwise(col("doc_id"))
    val raw = docs
      .select(checkedId.as("doc_id"),
        pmod(checkedId, lit(nBuckets.toLong))
        .as("bucket"), col("_tc").as("n_tok"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
      .mapPartitions { rows =>
        // doc rows + one sentinel (doc_id = -1, bucket, seq, fill) per
        // touched bucket, emitted on bucket change / exhaustion
        new Iterator[Row] {
          private var cur = Long.MinValue
          private var sq = 0L
          private var fill = 0L
          private var queued: Row = null
          private var finalized = false
          private def place(t: Long): Unit =
            if (sq == 0L) { sq = 1L; fill = t }
            else if (fill + t <= w) fill += t
            else { sq += 1L; fill = t }
          def hasNext: Boolean = queued != null || rows.hasNext ||
            (cur != Long.MinValue && !finalized)
          def next(): Row = {
            if (queued != null) { val r = queued; queued = null; return r }
            if (!rows.hasNext) {
              finalized = true
              return Row(-1L, cur, sq, fill)
            }
            val r = rows.next()
            val id = r.getLong(0); val b = r.getLong(1); val t = r.getLong(2)
            if (b != cur) {
              val st = if (cur != Long.MinValue) Row(-1L, cur, sq, fill)
                else null
              cur = b
              val s0 = init.value.getOrElse(b, (0L, 0L))
              sq = s0._1; fill = s0._2
              place(t)
              val doc = Row(id, b, sq, t)
              if (st != null) { queued = doc; st } else doc
            } else { place(t); Row(id, b, sq, t) }
          }
        }
      }(enc)
    val all = graft.pipeline.Scratch.stable(raw)
    val newStates = all.where(col("doc_id") < 0L)
      .select(col("bucket"), col("seq"), col("n_tok")).collect()
    openBins.synchronized {
      newStates.foreach(r =>
        openBins(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    }
    all.where(col("doc_id") >= 0L)
  }

  /** Retrieval-quality monitoring at ingest — the streaming arm of
    * [[graft.search.RankEval]]: each micro-batch of serving-log RUN
    * rows (query_id, doc_id, rank) yields ONE corpus-summary row
    * (n_queries, mrr_q, mean_ndcg_q, map_q — the exact integer
    * fixed-point metrics) against a standing qrels table — the
    * "retrieval quality of live traffic just dropped" alert, the
    * measurement sibling of [[driftIngestMonitor]] (that one watches
    * the input distribution; this one watches the RANKER's output
    * quality). Qrels pin once at construction (persisted,
    * MEMORY_AND_DISK — a write-time eval artifact); each batch costs
    * the one runs×qrels equi-join + per-query windows/aggs of
    * `rankEvalReport`. Per-batch summaries equal the batch form on
    * that batch's rows by construction — the metrics are per-query,
    * so a batch IS its own eval universe (spec-pinned; note the
    * summary is per-BATCH, not a running mean over the stream —
    * alerting wants the fresh window, and integer means of means
    * would not compose anyway).
    *
    * The pinned qrels route through a plan-keyed LRU cache (the
    * [[backSumCache]] discipline): re-constructing the monitor —
    * or constructing many against the same eval set — reuses one
    * persisted table, and a server cycling through distinct qrels
    * frames evicts-and-unpersists past the cap instead of
    * accumulating pinned tables for its lifetime.
    */
  def rankEvalIngestMonitor(qrels: DataFrame, k: Int)
      : DataFrame => DataFrame = {
    import graft.search.RankEval
    val (pinned, built) =
      qrelsCache.getOrBuild(graft.pipeline.Dedup.planKey(qrels)) {
        qrels
          .select(col("query_id").cast("long").as("query_id"),
            col("doc_id").cast("long").as("doc_id")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    if (built) pinned.count() // materialize once, outside the lock
    batch => RankEval.rankEvalSummary(
      RankEval.rankEvalReport(batch, pinned, k))
  }

  /** Bounded standing-qrels cache for [[rankEvalIngestMonitor]] —
    * same eviction contract as [[backSumCache]]: >cap distinct qrels
    * frames degrade the oldest to recompute-on-next-construction,
    * never to unbounded pinned memory. */
  private final val QrelsCacheMax = 4
  private val qrelsCache = ArtifactCache.frames[String]("qrels", QrelsCacheMax)

  /** DSIR quality filtering at ingest — the domain-shaping arm of the
    * filter family (the dedup arms drop what the corpus has SEEN; this
    * drops what the target domain doesn't WANT): keep stream rows
    * whose DSIR importance log-weight
    * ([[graft.pipeline.Curation.dsirWeights]]) is at least `minLogw`.
    * The target/raw distributions are fitted from BATCH corpora at
    * filter-construction time and bake into one literal log-ratio
    * array, so the stream side is a pure per-row codegen expression —
    * tokenizer + hash fold — with NO state store, NO shuffle, NO UDF,
    * and nothing broadcast per micro-batch. Tokenless rows score 0.0
    * and so are dropped at any positive threshold (an empty document
    * is never target-domain data). Re-fit by rebuilding the filter
    * when the target corpus moves.
    */
  def dsirIngestFilter(stream: DataFrame, textCol: String,
      raw: DataFrame, rawTextCol: String,
      target: DataFrame, targetTextCol: String,
      minLogw: Double, buckets: Int = 1024): DataFrame = {
    import graft.pipeline.{Curation, TextAnalysis}
    val ratio = Curation.dsirLogRatio(raw, rawTextCol, target,
      targetTextCol, buckets)
    stream
      .withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("_fb", Curation.dsirBuckets(col("_toks"), buckets))
      .where(Curation.dsirScore(col("_fb"), ratio) >= minLogw)
      .drop("_toks", "_fb")
  }

  /** Trained-classifier quality filtering at ingest — the serving arm
    * of [[graft.pipeline.QualityClf]] and the trained sibling of
    * [[dsirIngestFilter]] (DSIR weights without training; this gates
    * on a model someone DID train): keep stream rows whose
    * `qclf_margin` is at least `minMarginQ` (the 1e-6 fixed-point
    * logit grid — 0 is the decision boundary, positive thresholds
    * demand confidence). The weights bake into one literal-array
    * codegen fold at construction — a pure per-row column predicate:
    * NO state store, NO shuffle, NO foreachBatch, the dsirIngestFilter
    * shape exactly, so it composes anywhere in a streaming plan. Same
    * scoring arithmetic as the batch scan (spec-pinned parity); like
    * every pinned-artifact filter here, rebuild when the model
    * retrains. Tokenless rows score `bias` and pass iff the PRIOR
    * clears the threshold — the model's honest answer for a row with
    * no features.
    */
  def qualityClfIngestFilter(stream: DataFrame, textCol: String,
      model: graft.pipeline.QualityClf.ClfModel,
      minMarginQ: Long = 0L): DataFrame = {
    import graft.pipeline.{QualityClf, TextAnalysis}
    val litW = typedLit(model.weights)
    // one inline predicate — no withColumn round-trip, so a user
    // stream that happens to carry columns named like our scratch
    // space is never overwritten-then-dropped. The bucket array is
    // let-bound (QualityClf.letEval) so the feature pass runs once
    // even though size and the weight fold both read it (`div` is the
    // registered IntegralDivide function: the same truncating
    // semantics as the trainer's `a div b` SQL)
    val margin = QualityClf.letEval(
      QualityClf.clfBuckets(TextAnalysis.tokens(col(textCol)),
        model.buckets)) { fb =>
      val n = size(fb).cast("long")
      val rd = aggregate(fb, lit(0L), (acc, b) =>
        acc + element_at(litW, (b + 1).cast("int")))
      lit(model.bias) +
        when(n === 0L, 0L).otherwise(call_function("div", rd, n))
    }
    stream.where(margin >= lit(minMarginQ))
  }

  /** Watermarked stream-stream interval join — the streaming mirror
    * of `pipeline.Temporal.rangeJoin`: each right event joins the
    * left events of the same key whose timestamp falls in
    * `[r.ts - beforeSec, r.ts + afterSec]` (click→purchase
    * attribution at ingest). Both sides carry the same watermark, and
    * the time-range predicate bounds the state store exactly as
    * Structured Streaming requires for state cleanup — without the
    * range condition the join would buffer both streams forever.
    * Inputs need columns `(keyCol, tsCol, ...)`; output prefixes the
    * sides' payloads `l_` / `r_`.
    */
  def streamRangeJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, beforeSec: Long, afterSec: Long,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r, expr(
      s"l_$keyCol = r_$keyCol AND " +
        s"l_$tsCol >= r_$tsCol - INTERVAL $beforeSec SECONDS AND " +
        s"l_$tsCol <= r_$tsCol + INTERVAL $afterSec SECONDS"))
  }

  /** Streaming heavy hitters: a mergeable Misra-Gries summary
    * ([[graft.functions.FreqItemsAgg]]'s reduce/merge) maintained as
    * `mapGroupsWithState` per-key state over `buckets` hash shards of
    * the item stream. Each micro-batch folds its items into the
    * shard's standing summary and emits the shard's current top
    * estimates (item, est, dec); merging the shard summaries
    * downstream (their certificates ADD, the mergeable-summaries
    * property) yields corpus-wide heavy hitters. Sharding keeps state
    * bounded at `buckets * k` counters and spreads the fold — the
    * same shuffle-one-summary-not-the-stream shape as the batch
    * aggregate.
    *
    * CONSUMER CONTRACT (Update mode): every micro-batch re-emits each
    * touched shard's full CUMULATIVE summary, so summing all emitted
    * rows across batches double-counts every earlier batch. The output
    * is keyed for exactly this: take, per `shard`, only the rows with
    * the highest `seq` (that shard's latest summary — `seq` increments
    * once per fold, and MG counters are NOT monotone so a max-per-item
    * shortcut is wrong), then union the shards (each item hashes to
    * exactly one shard; the dec certificates add).
    */
  def streamingHeavyHitters(items: Dataset[String], k: Int,
      buckets: Int = 8): Dataset[graft.functions.FreqShardEst] = {
    import items.sparkSession.implicits._
    val agg = graft.functions.FreqItemsAgg(k)
    items.groupByKey(it => math.floorMod(it.hashCode, buckets))
      .flatMapGroupsWithState[(graft.functions.FreqBuf, Long),
          graft.functions.FreqShardEst](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (shard, its, state: GroupState[(graft.functions.FreqBuf, Long)]) =>
          val (b0, seq0) = state.getOption.getOrElse((agg.zero, 0L))
          val b = its.foldLeft(b0)(agg.reduce)
          val seq = seq0 + 1
          state.update((b, seq))
          agg.finish(b).iterator.map(e =>
            graft.functions.FreqShardEst(shard, seq, e.item, e.est, e.dec))
      }
  }

  final case class PackDoc(doc_id: Long, bucket: Long, n_tok: Long)
  final case class PackedDoc(doc_id: Long, bucket: Long, seq: Long,
    n_tok: Long)

  /** Streaming sequence packing — the stateful arm of
    * [[graft.pipeline.Packing.packByCountsKeyed]]: each shard key
    * (id-mod bucket or semantic topic) keeps ONE open bin
    * `(seq, fill)` as `flatMapGroupsWithState` state, so training
    * sequences keep filling ACROSS micro-batches instead of leaking
    * padding at every batch boundary (the thing a per-batch pack
    * cannot avoid). Docs pack in id order WITHIN a batch (the group
    * iterator sorts — bounded by the group's batch slice); across
    * batches, arrival order is the pack order — the append-log
    * contract every streaming ingest here shares. Counts cap at
    * `window` like the batch form. Parity: streaming a corpus in id-
    * ordered batches equals the batch pack exactly (spec-pinned);
    * out-of-order arrival packs a different — still window-valid —
    * layout, which is the honest semantics of packing an infinite
    * stream. State: two longs per LIVE shard key.
    */
  def packIngest(docs: Dataset[PackDoc], window: Long)
      : Dataset[PackedDoc] = {
    require(window > 0, s"window must be positive, got $window")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.bucket)
      .flatMapGroupsWithState[(Long, Long), PackedDoc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (bucket, its, state: GroupState[(Long, Long)]) =>
          var (seq, fill) = state.getOption.getOrElse((0L, 0L))
          val out = its.toSeq.sortBy(_.doc_id).map { d =>
            val t = math.min(d.n_tok, window)
            if (seq == 0L) { seq = 1L; fill = t }
            else if (fill + t <= window) fill += t
            else { seq += 1L; fill = t }
            PackedDoc(d.doc_id, bucket, seq, t)
          }
          state.update((seq, fill))
          out.iterator
      }
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionUpdate(user_id: Long, events: Long, closed: Boolean)

  /** Per-user session tracking — the flatMapGroupsWithState pattern for
    * custom streaming state (SURVEY §2.9: KeyValueGroupedDataset custom
    * state). Sessions close on an explicit "end" event; running counts
    * stream out in Update mode. (An idle-gap variant would add
    * ProcessingTimeTimeout; kept explicit here so batch tests are
    * deterministic.)
    */
  def sessionize(events: Dataset[SessionEvent]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, SessionUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, evs, state: GroupState[Long]) =>
          val batch = evs.toSeq
          val ends = batch.count(_.event_type == "end")
          val n = state.getOption.getOrElse(0L) + batch.size - ends
          if (ends > 0) {
            state.remove()
            Iterator(SessionUpdate(uid, n, closed = true))
          } else {
            state.update(n)
            Iterator(SessionUpdate(uid, n, closed = false))
          }
      }
  }
}

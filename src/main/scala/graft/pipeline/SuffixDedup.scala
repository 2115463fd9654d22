package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** EXACT substring-level dedup — the suffix-array formulation of
  * "Deduplicating Training Data Makes Language Models Better" (Lee et
  * al. 2021), distributed: every reported token is inside some run of
  * >= `n` tokens that repeats VERBATIM elsewhere in the corpus (within
  * or across documents), and reported spans are maximal unions of such
  * runs. [[Dedup.dupSpanExtract]] is the fast window-merge relaxation
  * of this (every n-window of a span duplicated somewhere, possibly
  * with different partners); this module closes that gap — the
  * write-time exact pass.
  *
  * Suffixes are DOC-LOCAL (the distributed equivalent of Lee et al.'s
  * unique-separator concatenation: no match crosses a doc boundary),
  * and tokens compare by their 60-bit md5 value — any fixed total
  * order on the alphabet yields a valid suffix ordering.
  *
  * Two physical plans, chosen by the longest document:
  *
  * PRIMARY (docs <= `graft.suffix.maxSliceTokens`, default 8192 —
  * the chunk-bounded corpora this engine stores; cf.
  * [[TextAnalysis.chunk]]):
  *  1. Hash every position's n-token window; one aggregation finds
  *     windows occurring >= 2 times. Positions with a unique window
  *     have dupLen < n: they can never report and never affect a
  *     reporting position's answer (any LCP >= n partner shares the
  *     n-token window), so they are DROPPED outright — at web scale
  *     the overwhelming majority of positions, discarded for the cost
  *     of one map-side-combined count.
  *  2. ONE global sort of the retained positions by their remaining
  *     suffix (token-hash slice), EXECUTED ONCE. Lexicographic array
  *     order groups equal-window positions contiguously, so
  *     suffix-array adjacency within the retained set is exact for
  *     every LCP >= n.
  *  3. dupLen(p) = max(LCP with sort-predecessor, with successor),
  *     computed in the same single pass over the sort output: interior
  *     rows emit compactly (no suffix), each partition's first/last
  *     rows keep their suffix and are collected (bounded by partition
  *     count) for a driver-side cross-partition LCP fix-up broadcast
  *     into a second map over the small pass output. The sorted slice
  *     frame itself is never persisted — peak memory is the sort's own
  *     spillable execution buffers.
  *  HARD ASSUMPTION: the sort shuffles each retained position's
  *  remaining tokens — O(retained positions × doc length) bytes moved
  *  (not resident). The same bound the LCP stage of any formulation
  *  pays; unbounded documents must chunk first or take the fallback.
  *
  * FALLBACK (unbounded documents): KR prefix-refinement. Positions
  * rank by the COUNT of strictly-smaller suffixes at the current
  * horizon (so a tie block occupies the contiguous rank interval
  * [base, base+size)); each round extends the horizon ×4 by keying on
  * (rank(p), rank(p+h), rank(p+2h), rank(p+3h)) and re-ranks
  * BLOCK-LOCALLY — new rank = base + rows in strictly smaller
  * sub-blocks, a grouped count + block-partitioned running sum, no
  * global sort in any round. Rows freeze (final rank) once their
  * sub-block is a singleton or the horizon covers their remaining
  * suffix; later rounds touch only the shrinking tied set. Frozen KR
  * ranks stay valid as other blocks refine: splits never move a
  * suffix across another block's boundary.
  *
  * Scale posture: one aggregation + one global sort of the retained
  * minority (primary path). Level frames persist through
  * `Scratch.FrameStore`: `localCheckpoint` locally (executor-resident),
  * or RELIABLE scratch parquet on a real cluster (`graft.scratch.dir`)
  * so losing an executor mid-pass cannot strand a lineage-truncated
  * frame.
  */
object SuffixDedup {

  private val Fan = 4

  /** Positions that can participate in a >= `n`-token repeat, with
    * their maximal duplicated-substring length: `(_did, _len, _p,
    * _dl)` — `_dl` = length of the longest token run starting at `_p`
    * that occurs >= 2 times in the corpus. Positions whose n-token
    * window is unique corpus-wide (dupLen < n, can never report) are
    * omitted.
    */
  private def dupLengths(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val spark = df.sparkSession
    val store = new Scratch.FrameStore(spark)
    val maxSliceTokens = spark.conf.getOption("graft.suffix.maxSliceTokens")
      .map(_.toInt).getOrElse(8192)

    // hashed token arrays, built ONCE and reused by the position
    // explode AND the LCP computation (tokenize + per-token md5 is the
    // dominant per-pass cost)
    val toksH = store.keep(Dedup.ensureParallelism(df)
      .select(col(idCol).as("_did"),
        transform(TextAnalysis.tokens(col(textCol)),
          t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")).as("_th"))
      .where(size(col("_th")) > 0))

    val statsRow = toksH.agg(max(size(col("_th")))).head()
    val maxLen = if (statsRow.isNullAt(0)) 0L else statsRow.getInt(0).toLong

    val out =
      if (maxLen <= maxSliceTokens) sliceSortPath(spark, toksH, n)
      else rankRefinePath(spark, store, toksH, n)
    store.release()
    out
  }

  /** PRIMARY path: dup-window hash filter, ONE global sort of the
    * retained suffix slices executed ONCE, partition-local adjacent-LCP
    * scan, driver-side fix-up of the <= 2·partitions boundary pairs.
    *
    * The sorted slice frame — the pass's only O(retained positions ×
    * doc length) object — is never persisted: the single scan over it
    * emits COMPACT rows (id, len, p, within-partition dupLen) for
    * interior positions and keeps a suffix copy only on each
    * partition's first/last row. Those boundary rows are collected
    * (bounded by partition count), their cross-partition LCPs computed
    * on the driver, and the corrections broadcast into a second map
    * over the SMALL persisted pass output. Peak memory is therefore
    * the sort's own execution buffers (spillable, managed) plus the
    * compact output — the earlier shape (persist the sorted slices,
    * run the scan as a second job) held the full slice frame in
    * storage memory and thrashed everything else in a shared session.
    */
  private def sliceSortPath(spark: SparkSession, toksH: DataFrame, n: Int): DataFrame = {
    // n-token window hash per position; a 64-bit collision can only
    // RETAIN a unique-window position (its exact LCPs stay < n and it
    // reports nothing) — never lose a duplicated one
    val pos = toksH
      .select(col("_did"), size(col("_th")).cast("long").as("_len"), col("_th"),
        explode(sequence(lit(0), size(col("_th")) - 1)).as("_p0"))
      .select(col("_did"), col("_len"), col("_p0").cast("long").as("_p"),
        xxhash64(slice(col("_th"), col("_p0") + 1, lit(n))).as("_kh"))
    val dupKeys = pos.groupBy(col("_kh")).agg(count(lit(1)).as("_c"))
      .where(col("_c") >= 2).select("_kh")
    val retained = pos.join(dupKeys, "_kh").select("_did", "_len", "_p")
    // lineage of the sorted frame stays rooted at the KEPT toksH
    // (checkpoint or scratch parquet), so a lost sort partition
    // recomputes deterministically (range bounds are sampled once per
    // plan) without materializing the slice frame anywhere
    // r17 audit note: leading the sort with the first two suffix
    // tokens as scalar keys (same total order, codegen'd prefix
    // comparisons) was measured — slice-sort+scan stayed 1.0-2.1 s,
    // within the rep band; the stage's cost is the LCP scan + row
    // conversion, not the array comparator. Kept the plain form.
    val sorted = retained.join(toksH, "_did")
      .select(col("_did"), col("_len"), col("_p"),
        slice(col("_th"), col("_p") + 1,
          (col("_len") - col("_p")).cast("int")).as("_sfx"))
      .orderBy(col("_sfx"))

    def sfx(r: Row): Seq[Long] = r.getSeq[Long](3)
    def lcpOf(a: Seq[Long], b: Seq[Long]): Long = {
      val m = math.min(a.length, b.length)
      var l = 0
      while (l < m && a(l) == b(l)) l += 1
      l.toLong
    }
    // roles: 0 = interior (no suffix carried), 1 = partition first,
    // 2 = partition last, 3 = both (single-row partition)
    val passed = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        var prevSfx: Seq[Long] = null
        var isFirst = true
        new Iterator[(Int, Int, Row, Seq[Long], Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Int, Int, Row, Seq[Long], Long) = {
            val cur = buf.next()
            val cs = sfx(cur)
            val withPrev = if (prevSfx == null) 0L else lcpOf(prevSfx, cs)
            val withNext = if (buf.hasNext) lcpOf(cs, sfx(buf.head)) else 0L
            prevSfx = cs
            val isLast = !buf.hasNext
            val role = (if (isFirst) 1 else 0) | (if (isLast) 2 else 0)
            isFirst = false
            (pi, role, Row(cur.get(0), cur.getLong(1), cur.getLong(2)),
              if (role == 0) null else cs, math.max(withPrev, withNext))
          }
        }
      }
    }
    passed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // boundary fix-up: adjacent (last of partition i, first of next
    // non-empty partition j) pairs — computed on the driver from the
    // collected boundary rows, bounded by 2 × partition count
    val boundary = passed.filter(_._2 != 0)
      .map { case (pi, role, r, s, dl) => (pi, role, r, s, dl) }.collect()
    val byPart = boundary.groupBy(_._1)
    val partsInOrder = byPart.keys.toArray.sorted
    val corr = scala.collection.mutable.HashMap.empty[(Any, Long), Long]
    var k = 0
    while (k < partsInOrder.length - 1) {
      val left = byPart(partsInOrder(k)).find(e => (e._2 & 2) != 0).get
      val right = byPart(partsInOrder(k + 1)).find(e => (e._2 & 1) != 0).get
      val l = lcpOf(left._4, right._4)
      def bump(e: (Int, Int, Row, Seq[Long], Long)): Unit = {
        val key = (e._3.get(0), e._3.getLong(2))
        corr(key) = math.max(corr.getOrElse(key, 0L), l)
      }
      bump(left); bump(right)
      k += 1
    }
    val bcCorr = spark.sparkContext.broadcast(corr.toMap)
    val outRdd = passed.map { case (_, role, r, _, dl) =>
      val fixed =
        if (role == 0) dl
        else math.max(dl,
          bcCorr.value.getOrElse((r.get(0), r.getLong(2)), 0L))
      Row(r.get(0), r.getLong(1), r.getLong(2), fixed)
    }
    val schema = StructType(toksH.schema("_did") +:
      Seq(StructField("_len", LongType, nullable = false),
        StructField("_p", LongType, nullable = false),
        StructField("_dl", LongType, nullable = false)))
    val out = Scratch.stable(spark.createDataFrame(outRdd, schema))
    passed.unpersist(false)
    out
  }

  /** FALLBACK path for corpora with documents too long to slice: KR
    * prefix-refinement (see the class doc), rounds over the shrinking
    * tied set only, no global sort in any round.
    */
  private def rankRefinePath(spark: SparkSession, store: Scratch.FrameStore,
      toksH: DataFrame, n: Int): DataFrame = {
    val pos = toksH
      .select(col("_did"), size(col("_th")).cast("long").as("_len"), col("_th"),
        explode(sequence(lit(0), size(col("_th")) - 1)).as("_p0"))
      .select(col("_did"), col("_len"), col("_p0").cast("long").as("_p"),
        slice(col("_th"), col("_p0") + 1, lit(n)).as("_ka"))

    // ---- level 0: KR ranks from ONE global sort of the distinct keys.
    // rank(key) = count of positions with strictly smaller keys — the
    // per-partition prefix-sum pattern (partition subtotals collected,
    // offsets broadcast) over the range-sorted (key, count) frame.
    val keyCnt = pos.groupBy(col("_ka")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_ka"))
    val kcRdd = keyCnt.rdd
    kcRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = kcRdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator(i -> it.map(_.getLong(1)).sum)
    }.collect().toMap
    val offsets = (0 until kcRdd.getNumPartitions)
      .scanLeft(0L)((acc, i) => acc + partSums.getOrElse(i, 0L))
    val rankedRdd = kcRdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val row = Row(r.get(0), acc, r.getLong(1))
        acc += r.getLong(1)
        row
      }
    }
    val ranked0 = spark.createDataFrame(rankedRdd, StructType(Seq(
      keyCnt.schema("_ka"),
      StructField("_r", LongType, nullable = false),
      StructField("_c", LongType, nullable = false))))

    val rem = col("_len") - col("_p")
    val level0 = store.keep(pos.join(ranked0, Seq("_ka"))
      .select(col("_did"), col("_len"), col("_p"), col("_r"),
        (col("_c") >= 2).as("_dup")))
    kcRdd.unpersist(false)

    // retained = positions in a >= 2-member key block; of those, the
    // ones whose whole remaining suffix fits inside the key are final
    // already (identical-tail ties — frozen, still in the SA)
    val frozenLookups = ArrayBuffer(
      level0.where(!col("_dup") || rem <= n).select("_did", "_p", "_r"))
    val saFrames = ArrayBuffer(
      level0.where(col("_dup") && rem <= n).select("_did", "_len", "_p", "_r"))
    var active = level0.where(col("_dup") && rem > n)
      .select("_did", "_len", "_p", "_r")
    var activeCnt = active.count()

    // ---- refinement rounds: block-local, over the tied set only
    var h = n.toLong
    while (activeCnt > 0) {
      if (h > (1L << 40)) throw new IllegalStateException(
        s"SuffixDedup failed to converge (horizon $h, $activeCnt tied)")
      val horizon = h * Fan
      // continuation ranks for the 3 lookahead offsets via ONE join
      // against the full rank set (frozen frames + current active)
      val lookup = (frozenLookups.toSeq :+ active.select("_did", "_p", "_r"))
        .reduce(_ unionByName _)
      val wanted = active
        .select(col("_did"), col("_p"), col("_len"),
          posexplode(array((1 until Fan).map(j => col("_p") + lit(j * h)): _*)))
        .withColumnRenamed("pos", "_j").withColumnRenamed("col", "_q")
        .where(col("_q") < col("_len"))
        .select("_did", "_p", "_j", "_q")
      val contAggs = (0 until Fan - 1).map(j =>
        max(when(col("_j") === j, col("_cr"))).as(s"_c${j + 1}"))
      val conts = wanted
        .join(lookup.select(col("_did"), col("_p").as("_q"),
          col("_r").as("_cr")), Seq("_did", "_q"))
        .groupBy(col("_did"), col("_p"))
        .agg(contAggs.head, contAggs.tail: _*)
      val keyCols = (1 until Fan).map(j => col(s"_c$j"))
      val keyed = active.join(conts, Seq("_did", "_p"), "left")
        .select(col("_did") +: col("_len") +: col("_p") +: col("_r") +:
          (1 until Fan).map(j =>
            coalesce(col(s"_c$j"), lit(-1L)).as(s"_c$j")): _*)
      // KR refinement: new rank = block base + rows in strictly
      // smaller sub-blocks. Grouped first so the block-partitioned
      // window ranks DISTINCT continuation tuples, not occurrences.
      val grouped = keyed.groupBy(col("_r") +: keyCols: _*)
        .agg(count(lit(1)).as("_sc"))
      val wB = Window.partitionBy(col("_r")).orderBy(keyCols: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val based = grouped.withColumn("_rn",
        col("_r") + coalesce(sum(col("_sc")).over(wB), lit(0L)))
      val refined = store.keep(
        keyed.join(based, "_r" +: (1 until Fan).map(j => s"_c$j"))
          .select(col("_did"), col("_len"), col("_p"),
            col("_rn").as("_r"),
            (col("_sc") === 1 || col("_len") - col("_p") <= horizon)
              .as("_frz")))
      val frozen = refined.where(col("_frz"))
        .select("_did", "_len", "_p", "_r")
      frozenLookups += frozen.select("_did", "_p", "_r")
      saFrames += frozen
      active = refined.where(!col("_frz")).select("_did", "_len", "_p", "_r")
      activeCnt = active.count()
      h = horizon
    }

    // ---- suffix-array adjacency over the retained positions (ranks
    // tie only for fully identical suffixes; (did, p) breaks those
    // arbitrarily — the LCP below is exact either way)
    val ordered = saFrames.reduce(_ unionByName _)
      .orderBy(col("_r"), col("_did"), col("_p"))
      .select("_did", "_len", "_p")
    val saRdd = ordered.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    val sa = spark.createDataFrame(saRdd, ordered.schema.add("_i", LongType))
    val adj = sa.select(col("_did").as("_ad"), col("_len").as("_al"),
      col("_p").as("_ap"), col("_i"))
      .join(sa.select(col("_did").as("_bd"), col("_len").as("_bl"),
        col("_p").as("_bp"), (col("_i") - 1).as("_i")), "_i")

    // LCP of each adjacent pair, computed WITHIN-ROW against the two
    // docs' hashed token arrays. HARD ASSUMPTION (same as the primary
    // path's slices): O(adjacent pairs × doc length) intermediate —
    // acceptable because this path only runs for rare giant-document
    // corpora where the ALTERNATIVE (per-level greedy descent, 2 joins
    // per level) costs ~20 extra shuffles of the adjacency frame
    // (measured 3× end-to-end).
    val toksA = toksH.select(col("_did").as("_ad"), col("_th").as("_ta"))
    val toksB = toksH.select(col("_did").as("_bd"), col("_th").as("_tb"))
    val maxCmp = least(col("_al") - col("_ap"), col("_bl") - col("_bp"))
    val lcp = aggregate(
      sequence(lit(0L), maxCmp - 1),
      lit(0L),
      (acc, i) => when(acc === i &&
        element_at(col("_ta"), (col("_ap") + i + 1).cast("int")) ===
          element_at(col("_tb"), (col("_bp") + i + 1).cast("int")),
        acc + 1).otherwise(acc))
    val pairs = adj.join(toksA, "_ad").join(toksB, "_bd")
      .withColumn("_l", when(maxCmp <= 0, lit(0L)).otherwise(lcp))
      .select(col("_ad"), col("_al"), col("_ap"), col("_bd"), col("_bl"),
        col("_bp"), col("_l"))

    val out = Scratch.stable(pairs.select(col("_ad").as("_did"),
      col("_al").as("_len"), col("_ap").as("_p"), col("_l"))
      .unionByName(pairs.select(col("_bd").as("_did"), col("_bl").as("_len"),
        col("_bp").as("_p"), col("_l")))
      .groupBy(col("_did"), col("_len"), col("_p"))
      .agg(max(col("_l")).as("_dl")))
    out
  }

  /** Maximal repeated substrings — the per-repeat INVENTORY only a
    * suffix structure can produce: one row per occurrence `[p, p+L)`
    * of a verbatim-repeated token run with `L >= n` that is maximal
    * (right-maximal because `L = dupLen(p)` is the longest repeat
    * starting at `p`; left-maximal unless the previous position's
    * repeat extends over it, i.e. unless `dupLen(p-1) = dupLen(p)+1`).
    * Output: `(idCol, rep_start, rep_len, rep_text)` with the repeated
    * run's text — the boilerplate/template report behind Lee et al.'s
    * analysis, which the window-merge path cannot express (it knows
    * positions are covered, not WHICH string repeats or how far).
    */
  def maximalRepeats(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("_did")).orderBy(col("_p"))
    // dupLengths omits positions that cannot reach dupLen >= n; a gap
    // before `_p` therefore means dupLen(p-1) < n <= dupLen(p), which
    // never suppresses left-maximality — only a true p-1 row can.
    val reps = dupLengths(df, textCol, idCol, n)
      .withColumn("_prevP", lag(col("_p"), 1).over(w))
      .withColumn("_prev", lag(col("_dl"), 1).over(w))
      .where(col("_dl") >= n &&
        (col("_prev").isNull || col("_prevP") =!= col("_p") - 1 ||
          col("_prev") <= col("_dl")))
      .select(col("_did"), col("_p"), col("_dl"))
    val toks = df.select(col(idCol).as("_did"),
      TextAnalysis.tokens(col(textCol)).as("_t"))
    reps.join(toks, "_did")
      .select(col("_did").as(idCol), col("_p").as("rep_start"),
        col("_dl").as("rep_len"),
        array_join(slice(col("_t"), col("_p").cast("int") + 1,
          col("_dl").cast("int")), " ").as("rep_text"))
  }

  /** Maximal EXACT duplicated spans: `(idCol, span_start, span_end,
    * span_tokens)`, inclusive 0-based token indexes — the union of all
    * verbatim-repeated runs of >= `n` tokens, merged per doc. For
    * documents of >= `n` tokens this coverage provably equals the
    * window-merge path's ([[Dedup.dupSpanExtract]]): a token inside a
    * duplicated n-window is inside a verbatim n-repeat and vice versa —
    * pinned by the cross-check spec, which validates both
    * implementations against each other. (Unlike the window path there
    * is no short-document fallback: a run shorter than `n` never
    * reports, exactly Lee et al.'s threshold semantics.)
    */
  def exactDupSpanExtract(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    mergeIntervals(intervals(df, textCol, idCol, n), idCol)

  private def intervals(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    dupLengths(df, textCol, idCol, n)
      .where(col("_dl") >= n)
      .select(col("_did"), col("_p").as("_s"), (col("_p") + col("_dl") - 1).as("_e"))

  private def mergeIntervals(iv: DataFrame, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("_did")).orderBy(col("_s"), col("_e"))
    val prevMax = max(col("_e")).over(w.rowsBetween(Long.MinValue, -1))
    iv.withColumn("_new",
        when(prevMax.isNull || col("_s") > prevMax + 1, 1).otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("_did"), col("_grp"))
      .agg(min(col("_s")).as("span_start"), max(col("_e")).as("span_end"))
      .select(col("_did").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Rewrite terminal: every token inside an exact duplicated span is
    * cut; survivors re-join into `clean_text` (untouched docs pass
    * through verbatim).
    */
  def exactStripDupSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val spans = mergeIntervals(intervals(df, textCol, idCol, n), idCol)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("_spans"))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol), col("_spans"),
        TextAnalysis.tokens(col(textCol)).as("_t"), col(textCol))
      .select(col(idCol),
        when(col("_spans").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("_t"), (t, i) =>
              !exists(col("_spans"), sp =>
                sp("s") <= i.cast("long") && i.cast("long") <= sp("e"))),
            " "))
          .as("clean_text"))
  }
}

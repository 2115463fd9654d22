package graft

import org.apache.spark.sql.functions._
import graft.search.{BM25, Hybrid, VectorOps}

/** Vector + BM25 search kernels (replacements for the reference's HNSW
  * m=16/ef_search=768 and default-on BM25 — BASELINE.md).
  */
class SearchSpec extends GraftSuite {

  private def vecs(n: Int, dim: Int) = {
    val s = spark
    import s.implicits._
    // deterministic clustered vectors: cluster c at e_c + small offset
    (0 until n).map { i =>
      val c = i % 8
      val v = Array.tabulate(dim)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7))
      (i.toLong, v.toSeq)
    }.toDF("_id", "emb")
  }

  test("brute-force top-k matches exact ranking") {
    val df = vecs(200, 16)
    val q = Seq.tabulate(16)(j => if (j == 3) 1.0 else 0.0)
    val top = VectorOps.bruteForceTopK(df, "emb", q, 5).select("_id").collect().map(_.getLong(0))
    // all results must be from cluster 3 (ids ≡ 3 mod 8)
    assert(top.forall(_ % 8 == 3))
    assert(top.length == 5)
  }

  test("IVF top-k recalls the brute-force result on clustered data") {
    val df = vecs(400, 16).cache()
    val q = Seq.tabulate(16)(j => if (j == 5) 1.0 else 0.0)
    val brute = VectorOps.bruteForceTopK(df, "emb", q, 10)
      .select("_id").collect().map(_.getLong(0)).toSet
    val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    val ivf = VectorOps.ivfTopK(df, "emb", model, q, 10, nprobe = 3)
      .select("_id").collect().map(_.getLong(0)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("cosinePairsBroadcast equals the declarative crossJoin result") {
    val df = vecs(80, 8)
    val kernel = VectorOps.cosinePairsBroadcast(df, "emb", "_id", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = df.select(col("_id").as("id_a"), col("emb").as("_va"))
    val b = df.select(col("_id").as("id_b"), col("emb").as("_vb"))
    val declarative = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .where(VectorOps.cosineSimCols(col("_va"), col("_vb")) >= 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == declarative)
    assert(kernel.nonEmpty)
  }

  test("cosinePairsBroadcast refuses an over-cap corpus, naming the auto-switching entry point") {
    // the kernel collects its whole staged set — a direct caller on a
    // big frame must hit a loud bound (the intDotTopK discipline), not
    // a driver OOM; embeddingPairs remains the auto-switching entry
    val s = spark
    val big = s.range(graft.pipeline.Dedup.BruteForcePairLimit + 1)
      .select(col("id").as("_id"),
        array(lit(1.0f), (col("id") % 97).cast("float") / 100f).as("emb"))
    val ex = intercept[IllegalArgumentException] {
      VectorOps.cosinePairsBroadcast(big, "emb", "_id", 0.999)
    }
    assert(ex.getMessage.contains("embeddingPairs"),
      s"refusal must route the caller to the scalable path: ${ex.getMessage}")
  }

  test("knnJoin matches the declarative crossJoin + rank result") {
    val df = vecs(120, 8).cache()
    val queries = df.where(col("_id") < 6)
    val kernel = VectorOps.knnJoin(df, queries, "emb", "_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // selection contract: the 1e-9 quantized grid, id tie-break (the
    // cross-engine replay discipline — see VectorOps.q9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("_s") * lit(1000000000L)).cast("long").desc,
        col("neighbor_id").asc)
    val declarative = df.select(col("_id").as("neighbor_id"), col("emb").as("_vn"))
      .crossJoin(queries.select(col("_id").as("query_id"), col("emb").as("_vq")))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_s", VectorOps.cosineSimCols(col("_vn"), col("_vq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 4).select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kernel == declarative)
    assert(kernel.size == 24) // 6 queries x 4 neighbors
    df.unpersist()
  }

  test("knnJoinIvf prunes scoring yet recalls >= 0.9 of exact neighbors") {
    val df = vecs(400, 16).cache()
    val queries = df.where(col("_id") < 8)
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    val ivf = VectorOps.knnJoinIvf(df, queries, "emb", "_id", k = 5, model, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF knn-join recall too low: $recall")
    df.unpersist()
  }

  test("knnJoinDistributed at nprobe=nlist equals knnJoin rank-for-rank; pruned recalls >= 0.9") {
    val df = vecs(400, 16).cache()
    val queries = df.where(col("_id") < 8)
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    // full probe: the shuffle-based plan must reproduce the broadcast
    // plan exactly, including the (score desc, id asc) tie-break
    val full = VectorOps.knnJoinDistributed(df, queries, "emb", "_id",
      k = 5, model, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact, s"full-probe mismatch: ${full.diff(exact)} / ${exact.diff(full)}")
    // pruned probe: approximate, recall-bounded like knnJoinIvf
    val pruned = VectorOps.knnJoinDistributed(df, queries, "emb", "_id",
      k = 5, model, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(t => (t._1, t._2))
    val recall = (exactPairs intersect pruned).size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"distributed knn-join recall too low: $recall")
    // the top-k is computed by the distributed window (rank-limit
    // pushed into WindowGroupLimit, partial before the exchange), not
    // by a driver-side heap over collected queries
    val plan = VectorOps.knnJoinDistributed(df, queries, "emb", "_id",
      k = 5, model, nprobe = 3).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    df.unpersist()
  }

  test("hardNegatives: nearest different-label rows, null-safe, distributed parity") {
    val s = spark
    import s.implicits._
    val df = vecs(120, 8).withColumn("lab",
      when(col("_id") % 3 === 0, lit(null).cast("string"))
        .otherwise((col("_id") % 2).cast("string"))).cache()
    val queries = df.where(col("_id").isin(1L, 2L, 3L))
    val got = VectorOps.hardNegatives(df, queries, "emb", "_id", "lab", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // declarative mirror: cross join + null-safe label inequality +
    // rank on the q9 selection grid (this fixture's structured vectors
    // tie within 1e-9, so the grid's id tie-break is load-bearing)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("_s") * lit(1000000000L)).cast("long").desc,
        col("neighbor_id").asc)
    val declarative = df.select(col("_id").as("neighbor_id"),
        col("emb").as("_vn"), col("lab").as("_ln"))
      .crossJoin(queries.select(col("_id").as("query_id"),
        col("emb").as("_vq"), col("lab").as("_lq")))
      .where(col("neighbor_id") =!= col("query_id") &&
        !(col("_ln") <=> col("_lq")))
      .withColumn("_s", VectorOps.cosineSimCols(col("_vn"), col("_vq")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 4).select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == declarative,
      s"kernel vs declarative: ${got.diff(declarative)} / ${declarative.diff(got)}")
    // every returned neighbor's label differs null-safely from its query's
    val labOf = df.select("_id", "lab").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (q, nb, _) =>
      assert(labOf(q) != labOf(nb), // Scala == is null-safe: null==null shares
        s"pair ($q, $nb) shares label ${labOf(q)}")
    }
    // null-label query: its negatives are exactly the NON-null-label rows
    val nullQ = got.filter(_._1 == 3L).map(_._2)
    assert(nullQ.nonEmpty && nullQ.forall(labOf(_) != null),
      s"null-label query must skip null-label corpus rows: $nullQ")
    // distributed path (over-cap reroute arm) agrees with the kernel
    val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    val dist = VectorOps.knnJoinDistributed(df, queries, "emb", "_id",
      k = 4, model, nprobe = 8, excludeSelf = true,
      excludeLabelCol = Some("lab"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dist == got, s"distributed parity: ${dist.diff(got)} / ${got.diff(dist)}")
    df.unpersist()
  }

  test("centroidDistances: exact integer label geometry, canonical pairs") {
    val s = spark
    import s.implicits._
    // label 0 centroid = mean of (1,0) and (3,0) = (2e6, 0) in µ-units;
    // label 1 = (0, 1e6); label 2 coincides with label 1
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(3.0f, 0.0f)),
      (3L, 1, Seq(0.0f, 1.0f)),
      (4L, 2, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = VectorOps.centroidDistances(df, "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val e = 1000000L
    assert(got == Map(
      (0L, 1L) -> (2 * e * 2 * e + e * e),
      (0L, 2L) -> (2 * e * 2 * e + e * e),
      (1L, 2L) -> 0L), s"got $got")
    // a single label has no pairs
    assert(VectorOps.centroidDistances(
      df.where(col("label") === 0), "embedding", "label").count() == 0)
  }

  test("mmrRerank diversifies: near-duplicate of the top pick is deferred") {
    val s = spark
    import s.implicits._
    // axis-aligned pool: 10/11 are near-identical high-relevance twins,
    // 20 is orthogonal with lower relevance — pure relevance ranks
    // (10, 11, 20); MMR must interleave (10, 20, 11)
    val pool = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f), 0.99),
      (11L, Seq(0.999f, 0.01f, 0.0f), 0.98),
      (20L, Seq(0.0f, 1.0f, 0.0f), 0.60)
    ).toDF("id", "v", "rel")
    val got = VectorOps.mmrRerank(pool, "id", "v", "rel", k = 3)
      .collect().sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    assert(got == Seq(10L, 20L, 11L), s"MMR order: $got")
    // k beyond the pool stops at pool size
    val all = VectorOps.mmrRerank(pool, "id", "v", "rel", k = 99)
    assert(all.count() == 3)
    // lambda = 1 ignores redundancy -> pure relevance order
    val rel = VectorOps.mmrRerank(pool, "id", "v", "rel", k = 3, lambda = 1.0)
      .collect().sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    assert(rel == Seq(10L, 11L, 20L), s"lambda=1 order: $rel")
    // all-negative similarities: the redundancy max stays negative (no
    // clamp at 0), so the opposite vector is REWARDED after the first
    // pick and beats a same-direction twin despite lower relevance
    val neg = Seq(
      (1L, Seq(1.0f, 0.0f), 0.9),
      (2L, Seq(0.98f, 0.199f), 0.89), // cos to 1 ~ 0.98
      (3L, Seq(-1.0f, 0.0f), 0.1)     // cos to 1 = -1
    ).toDF("id", "v", "rel")
    val got2 = VectorOps.mmrRerank(neg, "id", "v", "rel", k = 2)
      .collect().sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    assert(got2 == Seq(1L, 3L), s"negative-sim order: $got2")
    // over-cap pool is refused, not collected
    val big = spark.range(0, 50).select(col("id"),
      array(lit(1.0f), lit(0.0f)).as("v"), lit(0.5).as("rel"))
    intercept[IllegalArgumentException] {
      VectorOps.mmrRerank(big, "id", "v", "rel", k = 3, maxPool = 10)
    }
    // degenerate candidates (zero-norm vector -> NaN cosines) are never
    // pickable and cannot hijack a pick with an unpenalized score
    val degen = Seq(
      (1L, Seq(1.0f, 0.0f), 0.9),
      (2L, Seq(0.0f, 0.0f), 0.99), // zero norm, top relevance
      (3L, Seq(0.0f, 1.0f), 0.3)
    ).toDF("id", "v", "rel")
    val dg = VectorOps.mmrRerank(degen, "id", "v", "rel", k = 3)
      .collect().sortBy(_.getLong(1)).map(_.getLong(0)).toSeq
    assert(dg == Seq(1L, 3L), s"zero-norm candidate must be skipped: $dg")
    // an all-degenerate pool returns empty instead of crashing
    assert(VectorOps.mmrRerank(degen.where(col("id") === 2),
      "id", "v", "rel", k = 2).count() == 0)
  }

  test("Hybrid.rrfFuse: quantized RRF sums, cross-list promotion, tie-break") {
    val s = spark
    import s.implicits._
    val lex = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "rank")
    val sem = Seq((12L, 1L), (13L, 2L), (10L, 3L)).toDF("id", "rank")
    val got = Hybrid.rrfFuse(Seq(lex, sem), "id", "rank", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    def c(r: Long) = 1000000000000L / (60 + r)
    val expect = Map(10L -> (c(1) + c(3)), 11L -> c(2), 12L -> (c(3) + c(1)),
      13L -> c(2))
    got.foreach { case (id, v) => assert(v == expect(id), s"$id: $v") }
    // docs in both lists outrank single-list docs; 11 vs 13 tie at c(2)
    // breaks by id
    assert(got.map(_._1).toSeq == Seq(10L, 12L, 11L, 13L), s"order: ${got.toSeq}")
    // k truncates after the tie-break order
    val top2 = Hybrid.rrfFuse(Seq(lex, sem), "id", "rank", k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(10L, 12L))
  }

  test("knnJoin/pqKnnJoin auto-escalate over-cap query sides to the distributed join") {
    val df = vecs(400, 16).cache()
    val queries = df.where(col("_id") < 12) // 12 rows > cap of 8
    val before = spark.conf.getOption("graft.search.knnQueryBatchMax")
    // exact result from the (unescalated) broadcast path
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      spark.conf.set("graft.search.knnQueryBatchMax", "8")
      val e0 = VectorOps.knnEscalations.get()
      // exact contract: the reroute probes all clusters -> rank-for-rank
      // equal to the broadcast path, never a driver collect of queries
      val rerouted = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(VectorOps.knnEscalations.get() == e0 + 1,
        "over-cap knnJoin must take the distributed path")
      assert(rerouted == exact,
        s"escalated exact join must be rank-for-rank equal: " +
          s"${rerouted.diff(exact)} / ${exact.diff(rerouted)}")
      // IVF-model variant: identical candidate condition in both
      // formulations -> bit-equal at the same nprobe
      val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
      spark.conf.set("graft.search.knnQueryBatchMax", "65536")
      val ivfSmall = VectorOps.knnJoinIvf(df, queries, "emb", "_id",
        k = 5, model, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.conf.set("graft.search.knnQueryBatchMax", "8")
      val e1 = VectorOps.knnEscalations.get()
      val ivfBig = VectorOps.knnJoinIvf(df, queries, "emb", "_id",
        k = 5, model, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(VectorOps.knnEscalations.get() == e1 + 1)
      assert(ivfBig == ivfSmall, "IVF escalation must keep the candidate set")
      // PQ path: reroute ranks by exact cosine, so it recalls >= the
      // ADC path; assert recall vs exact neighbors and the counter
      val pq = VectorOps.trainPq(df, "emb", m = 4, ks = 16)
      val coded = VectorOps.encodePq(df, "emb", pq)
      val e2 = VectorOps.knnEscalations.get()
      val pqBig = VectorOps.pqKnnJoin(coded, queries, "emb", "_id",
        k = 5, pq, refine = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(VectorOps.knnEscalations.get() == e2 + 1,
        "over-cap pqKnnJoin must take the distributed path")
      val exactPairs = exact.map(t => (t._1, t._2))
      val recall = (exactPairs intersect pqBig).size.toDouble / exactPairs.size
      assert(recall >= 0.9, s"escalated pq join recall too low: $recall")
    } finally {
      before match {
        case Some(v) => spark.conf.set("graft.search.knnQueryBatchMax", v)
        case None => spark.conf.unset("graft.search.knnQueryBatchMax")
      }
    }
    df.unpersist()
  }

  test("integer-dot knn family: brute replay, label modes, escalation parity, mmr replay") {
    val df = vecs(120, 16)
      .withColumn("lbl", (col("_id") % 3).cast("int")).cache()
    val queries = df.where(col("_id") < 12)
    // pure-JVM integer reference replay (the oracle arithmetic)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def unitQ(a: Array[Float]): Array[Long] = {
      val q = a.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val nrm = math.floor(math.sqrt(q.map(x => x * x).sum.toDouble)).toLong
      if (nrm == 0L) q.map(_ => 0L)
      else q.map(x => ((x * 1000000L).toDouble / nrm).toLong)
    }
    val unit = rows.map { case (id, v, _) => id -> unitQ(v) }.toMap
    val lbl = rows.map { case (id, _, l) => id -> l }.toMap
    def d(a: Long, b: Long): Long =
      unit(a).indices.map(i => unit(a)(i) * unit(b)(i)).sum
    val qids = rows.map(_._1).filter(_ < 12)
    val all = rows.map(_._1)
    def refTopK(k: Int, label: Boolean): Set[(Long, Long, Long)] =
      qids.flatMap { q =>
        all.filter(c => c != q && (!label || lbl(c) != lbl(q)))
          .map(c => (c, d(q, c)))
          .sortBy { case (c, s) => (-s, c) }.take(k).zipWithIndex
          .map { case ((c, _), i) => (q, c, (i + 1).toLong) }
      }.toSet
    val knn = VectorOps.intKnnJoin(df, queries, "_id", "emb", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(knn == refTopK(5, label = false),
      "intKnnJoin must equal the integer replay")
    val hn = VectorOps.intHardNegatives(df, queries, "_id", "emb", "lbl", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hn == refTopK(4, label = true),
      "intHardNegatives must equal the label-gated integer replay")
    // labeled passthrough: same ranks as intKnnJoin + correct labels
    val lab = VectorOps.intKnnJoinLabeled(df, queries, "_id", "emb",
      "lbl", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(4), r.getString(5))).toSet
    assert(lab.map(t => (t._1, t._2, t._3)) == knn)
    assert(lab.forall { case (q, c, _, ql, nl) =>
      ql == lbl(q).toString && nl == lbl(c).toString })
    // escalation parity: the distributed all-cluster reroute is
    // rank-for-rank equal (same exact long key, same tie-break)
    val before = spark.conf.getOption("graft.search.knnQueryBatchMax")
    try {
      spark.conf.set("graft.search.knnQueryBatchMax", "8")
      val e0 = VectorOps.knnEscalations.get()
      val rerouted = VectorOps.intKnnJoin(df, queries, "_id", "emb", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(VectorOps.knnEscalations.get() == e0 + 1,
        "over-cap intKnnJoin must take the distributed path")
      assert(rerouted == knn, s"escalated integer join must be " +
        s"rank-for-rank equal: ${rerouted.diff(knn)} / ${knn.diff(rerouted)}")
      val hnR = VectorOps.intHardNegatives(df, queries, "_id", "emb",
        "lbl", k = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(hnR == hn, "escalated label gate must match")
    } finally {
      before match {
        case Some(v) => spark.conf.set("graft.search.knnQueryBatchMax", v)
        case None => spark.conf.unset("graft.search.knnQueryBatchMax")
      }
    }
    // mmrRerankInt: hand replay of the greedy integer walk
    val pool = VectorOps.stagedUnit(df.where(col("_id") < 16), "_id", "emb")
      .withColumn("relq", VectorOps.intDotCol(col("_uq"),
        typedLit(unit(0L))))
    val got = VectorOps.mmrRerankInt(pool, "_id", "_uq", "relq", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._2)
    val ids = (0L until 16L).toArray
    val rel = ids.map(i => i -> d(0L, i)).toMap
    var sel = Vector.empty[Long]
    val ms = scala.collection.mutable.Map.empty[Long, Long]
    (1 to 6).foreach { step =>
      val cands = ids.filterNot(sel.contains)
      val best = cands.map { i =>
        (i, rel(i) - (if (step == 1) 0L else ms(i)))
      }.sortBy { case (i, s) => (-s, i) }.head._1
      sel :+= best
      cands.filter(_ != best).foreach { i =>
        val s = d(i, best)
        if (!ms.contains(i) || s > ms(i)) ms(i) = s
      }
    }
    assert(got == sel.zipWithIndex.map { case (id, i) =>
      (id, (i + 1).toLong) },
      s"mmrRerankInt must equal the integer greedy replay: $got vs $sel")
    df.unpersist()
  }

  test("intDotTopK headroom guard: over-magnitude components fail loudly on both paths") {
    val s = spark
    import s.implicits._
    // max|c| * max|q| * dim >> 2^63: the long fold would wrap silently
    // (the oracle errors on HUGEINT -> BIGINT) — the kernel must throw
    val big = 3000000000000000000L // 3e18
    val frame = Seq(
      (1L, Array(big, -big, big, -big)),
      (2L, Array(big, big, -big, big)),
      (3L, Array(-big, big, big, big))).toDF("_id", "uq")
    val broad = intercept[Exception] {
      VectorOps.intDotTopK(frame, frame, "_id", "uq", k = 2).collect()
    }
    assert(broad.getMessage != null && broad.getMessage.contains("headroom"),
      s"broadcast path must name the headroom contract: ${broad.getMessage}")
    val before = spark.conf.getOption("graft.search.knnQueryBatchMax")
    try {
      spark.conf.set("graft.search.knnQueryBatchMax", "1")
      val dist = intercept[Exception] {
        VectorOps.intDotTopK(frame, frame, "_id", "uq", k = 2).collect()
      }
      assert(dist.getMessage != null && dist.getMessage.contains("headroom"),
        s"distributed path must name the headroom contract: ${dist.getMessage}")
    } finally {
      before match {
        case Some(v) => spark.conf.set("graft.search.knnQueryBatchMax", v)
        case None => spark.conf.unset("graft.search.knnQueryBatchMax")
      }
    }
    // in-headroom magnitudes still pass (mu-unit scale): no false trips
    val ok = Seq((1L, Array(1000000L, 0L, 0L, 0L)),
      (2L, Array(0L, 1000000L, 0L, 0L))).toDF("_id", "uq")
    assert(VectorOps.intDotTopK(ok, ok, "_id", "uq", k = 1,
      excludeSelf = true).count() == 2L)
  }

  test("trainPq is bit-reproducible and encodePq emits m in-range byte codes") {
    val df = vecs(300, 16).cache()
    val a = VectorOps.trainPq(df, "emb", m = 4, ks = 16, iters = 4)
    val b = VectorOps.trainPq(df.repartition(7), "emb", m = 4, ks = 16, iters = 4)
    assert(a.subDim == 4 && a.m == 4 && a.ks == 16)
    (0 until a.m).foreach { s =>
      (0 until a.ks).foreach { c =>
        assert(java.util.Arrays.equals(a.codebooks(s)(c), b.codebooks(s)(c)),
          s"codebook ($s,$c) differs across runs")
      }
    }
    assert(a.compressionX == 16.0) // 16 dims x 4B -> 4 codes x 1B
    val enc = VectorOps.encodePq(df, "emb", a)
    val codes = enc.select("pq_code").collect().map(_.getSeq[Byte](0))
    assert(codes.forall(_.length == 4))
    // stored offset by -128: all codes decode to [0, ks)
    assert(codes.forall(_.forall(cd => (cd + 128) >= 0 && (cd + 128) < 16)))
    df.unpersist()
  }

  test("PqAdcScore expression equals the driver-side table-lookup sum") {
    val df = vecs(120, 16)
    val model = VectorOps.trainPq(df, "emb", m = 4, ks = 16, iters = 4)
    val q = Seq.tabulate(16)(j => math.cos(j + 0.5))
    val t = VectorOps.adcTable(q, model)
    val enc = VectorOps.encodePq(df, "emb", model)
    val got = enc.select(col("_id"),
      graft.functions.PqAdcScore(col("pq_code"), t, model.ks).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val codes = enc.select(col("_id"), col("pq_code")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(got.keySet == codes.keySet)
    codes.foreach { case (id, code) =>
      val manual = code.iterator.zipWithIndex
        .map { case (cd, s) => t(s * model.ks + (cd + 128)) }.sum
      assert(got(id) == manual, s"id $id: ${got(id)} vs $manual")
    }
  }

  test("pqTopK (ADC scan + exact re-rank) recalls brute-force top-k") {
    val df = vecs(400, 16).cache()
    val q = Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0)
    val brute = VectorOps.bruteForceTopK(df, "emb", q, 10)
      .select("_id").collect().map(_.getLong(0)).toSet
    val model = VectorOps.trainPq(df, "emb", m = 4, ks = 32, iters = 4)
    val enc = VectorOps.encodePq(df, "emb", model)
    val pq = VectorOps.pqTopK(enc, "emb", model, q, k = 10, refine = 4)
      .select("_id").collect().map(_.getLong(0)).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.9, s"PQ recall too low: $recall")
    df.unpersist()
  }

  test("pqKnnJoin with refine covering the corpus is bit-equal to exact knnJoin") {
    val df = vecs(150, 8).cache()
    val queries = df.where(col("_id") < 5)
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val model = VectorOps.trainPq(df, "emb", m = 4, ks = 8, iters = 3)
    val enc = VectorOps.encodePq(df, "emb", model)
    // refine spans the whole corpus -> candidates = every non-self row,
    // and the exact re-rank stage reproduces knnJoin bit-for-bit
    val pq = VectorOps.pqKnnJoin(enc, queries, "emb", "_id", k = 4, model,
      refine = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq == exact)
    df.unpersist()
  }

  test("calibrateRefine: serving at the calibrated depth meets the target on the calibration batch") {
    val df = vecs(400, 16).cache()
    val model = VectorOps.trainPq(df, "emb", m = 4, ks = 16, iters = 4)
    val enc = VectorOps.encodePq(df, "emb", model)
    val calib = df.where(col("_id") >= 100)
      .orderBy(xxhash64(col("emb")), col("_id")).limit(32)
    val target = 1.0
    val refine = VectorOps.calibrateRefine(df, enc, "emb", "_id", model,
      k = 5, targetRecall = target, calibQueries = calib)
    assert(refine >= 1 && refine <= 64)
    // by construction: every exact neighbor's ADC rank <= k*refine, so
    // the serving path at that depth recalls 100% of the calib batch
    val exact = VectorOps.knnJoin(df, calib, "emb", "_id", k = 5,
      excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.pqKnnJoin(enc, calib, "emb", "_id", k = 5, model,
      refine = refine, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= target, s"calibrated refine=$refine missed target: $recall")
    df.unpersist()
  }

  test("pqKnnJoin at serving refine recalls >= 0.9 of exact neighbors") {
    val df = vecs(400, 16).cache()
    val queries = df.where(col("_id") < 8)
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = VectorOps.trainPq(df, "emb", m = 4, ks = 32, iters = 4)
    val enc = VectorOps.encodePq(df, "emb", model)
    val pq = VectorOps.pqKnnJoin(enc, queries, "emb", "_id", k = 5, model,
      refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ knn-join recall too low: $recall")
    df.unpersist()
  }

  test("pqKnnJoinIvf composes cluster pruning with ADC and recalls >= 0.9") {
    val df = vecs(400, 16).cache()
    val queries = df.where(col("_id") < 8)
    val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = VectorOps.trainPq(df, "emb", m = 4, ks = 32, iters = 4)
    val enc = VectorOps.encodePq(df, "emb", pq)
    val ivf = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    val got = VectorOps.pqKnnJoinIvf(enc, queries, "emb", "_id", k = 5,
      pq, ivf, nprobe = 3, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF-PQ knn-join recall too low: $recall")
    // with every cluster probed and refine covering the corpus, the
    // composition degrades to the exact join bit-for-bit
    val full = VectorOps.pqKnnJoinIvf(enc, queries, "emb", "_id", k = 5,
      pq, ivf, nprobe = 8, refine = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    df.unpersist()
  }

  test("PQ/IVF write-time artifact caches serve the same artifact, keyed by plan") {
    val df = vecs(200, 16)
    val (m1, e1) = VectorOps.trainEncodePqCached(df, "emb", m = 4, ks = 16)
    val (m2, e2) = VectorOps.trainEncodePqCached(vecs(200, 16), "emb", m = 4, ks = 16)
    assert(m1 eq m2, "same plan must hit the cached PQ model")
    assert(e1 eq e2, "same plan must hit the persisted encoding")
    // a different corpus (different LocalRelation content) must miss
    val (m3, _) = VectorOps.trainEncodePqCached(vecs(201, 16), "emb", m = 4, ks = 16)
    assert(!(m1 eq m3), "different corpus must not share the artifact")
    val i1 = VectorOps.trainIvfCached(df, "emb", nlist = 8, iters = 2)
    val i2 = VectorOps.trainIvfCached(vecs(200, 16), "emb", nlist = 8, iters = 2)
    assert(i1 eq i2, "same plan must hit the cached IVF model")
    val calib = df.where(col("_id") >= 100).limit(16)
    val r1 = VectorOps.calibrateRefineCached(df, e1, "emb", "_id", m1,
      k = 5, targetRecall = 0.9, calibQueries = calib)
    val r2 = VectorOps.calibrateRefineCached(df, e1, "emb", "_id", m1,
      k = 5, targetRecall = 0.9, calibQueries = calib)
    assert(r1 == r2 && r1 >= 1)
  }

  test("fused CosineToQuery expression is bit-equal with the HOF formulation") {
    val df = vecs(150, 16)
    val q = Seq.tabulate(16)(j => math.sin(j + 1.0))
    val fused = df.select(col("_id"),
      graft.functions.CosineToQuery(col("emb"), q).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hof = df.select(col("_id"), HofReference.cosineSimHof(col("emb"), q).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fused.keySet == hof.keySet)
    fused.foreach { case (k, v) => assert(v == hof(k), s"id $k: $v vs ${hof(k)}") }
  }

  test("SrpSignature native kernel equals the HOF formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val dim = 16
    // random floats (incl. negatives and near-zero), plus a
    // length-mismatch row (zip_with null-padding -> 0 signature)
    val rows = (0 until 150).map { i =>
      val d = if (i == 149) dim - 3 else dim
      (i.toLong, Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val df = rows.toDF("vec_id", "v")
    def m(out: org.apache.spark.sql.DataFrame) =
      out.select("vec_id", "_sig").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = m(VectorOps.signSignature63(df, "v", "_sig", dim))
    val hof = m(HofReference.signSignature63Hof(df, "v", "_sig", dim))
    assert(native == hof, s"${native.size} sigs; first diff: " +
      native.find { case (k, v) => hof(k) != v })
    assert(native(149L) == 0L, "length-mismatch row must sign to 0")
    assert(native.values.toSet.size > 100, "signatures must discriminate")
    // double-element arrays take the same path
    val ddf = rows.take(20).map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("vec_id", "v")
    assert(m(VectorOps.signSignature63(ddf, "v", "_sig", dim)) ==
      m(HofReference.signSignature63Hof(ddf, "v", "_sig", dim)))
    // a vector containing a NULL element signs to 0 on BOTH paths (the
    // zip_with null-padding contract)
    val nulled = Seq((900L, Seq.tabulate(dim)(i => if (i == 3) null
      else java.lang.Float.valueOf(0.5f)))).toDF("vec_id", "v")
    assert(m(VectorOps.signSignature63(nulled, "v", "_sig", dim)) ==
      m(HofReference.signSignature63Hof(nulled, "v", "_sig", dim)))
    assert(m(VectorOps.signSignature63(nulled, "v", "_sig", dim))(900L) == 0L)
    // non-finite elements degenerate to signature 0 BY CONTRACT in the
    // kernel (the HOF form's ANSI cast would throw — a poisoned ingest
    // row must never kill a streaming filter)
    val weird = Seq(
      (901L, Seq.tabulate(dim)(i => java.lang.Float.valueOf(
        if (i == 0) Float.NaN else 0.25f))),
      (902L, Seq.tabulate(dim)(i => java.lang.Float.valueOf(
        if (i == 1) Float.PositiveInfinity else -0.25f))))
      .toDF("vec_id", "v")
    val wNative = m(VectorOps.signSignature63(weird, "v", "_sig", dim))
    assert(wNative == Map(901L -> 0L, 902L -> 0L), s"$wNative")
  }

  test("roundHalfUp equals Spark round+cast on adversarial doubles") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // the traps: exact .5 ties (HALF_UP away from zero), the famous
    // 0.49999999999999994 (floor(d+0.5) misrounds it), values whose
    // shortest decimal repr sits just off a tie, and scale-sized
    // magnitudes from the quantizer's working range
    val vals = Seq(0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
      -0.49999999999999994, 1.0000000000000002, 999999.5, -999999.5,
      123456.49999999999, 0.0, -0.0) ++
      Seq.fill(200)((rnd.nextDouble() * 2 - 1) * 1e6)
    val fromSpark = vals.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("i", "d")
      .select(col("i"), round(col("d")).cast("long").as("r"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(graft.functions.SrpSignature.roundHalfUp(v) == fromSpark(i),
        s"$v: kernel ${graft.functions.SrpSignature.roundHalfUp(v)} " +
          s"vs spark ${fromSpark(i)}")
    }
  }

  test("NearestCentroid matches the literal-argmin formulation bit-for-bit") {
    val df = vecs(200, 16)
    val rnd = new scala.util.Random(7)
    val cents = Array.fill(13)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val kernel = VectorOps.assignCluster(df, "emb", cents)
      .select("_id", "_cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the previous formulation: literal centroid arrays, argmin via
    // array_position(array_min) — the reference semantics being preserved
    val dists = array(cents.map { c =>
      aggregate(zip_with(col("emb"), array(c.map(lit): _*),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x)
    }: _*)
    val literal = df.withColumn("_cluster",
      (array_position(dists, array_min(dists)) - 1).cast("int"))
      .select("_id", "_cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kernel == literal)
    assert(kernel.values.toSet.size > 1)
  }

  private def uniformVecs(n: Int, dim: Int) = {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random vectors with NO cluster structure —
    // the adversarial case for IVF pruning
    (0 until n).map { i =>
      val r = new scala.util.Random(i * 2654435761L)
      (i.toLong, Array.fill(dim)(r.nextFloat() * 2 - 1).toSeq)
    }.toDF("_id", "emb")
  }

  test("calibrated nprobe: strong pruning on clustered data, honest on uniform") {
    val clustered = vecs(400, 16).cache()
    val cm = VectorOps.trainIvf(clustered, "emb", nlist = 16, iters = 2)
    val calibC = clustered.where(col("_id") >= 100)
      .orderBy(xxhash64(col("_id")), col("_id")).limit(48)
    val npC = VectorOps.calibrateNprobe(clustered, "emb", "_id", cm,
      k = 10, targetRecall = 0.95, calibQueries = calibC)
    // 8 true clusters over 16 lists: a handful of probes must suffice
    assert(npC <= 8, s"clustered corpus calibrated to nprobe=$npC")

    val uniform = uniformVecs(400, 16).cache()
    val um = VectorOps.trainIvf(uniform, "emb", nlist = 16, iters = 2)
    val calibU = uniform.where(col("_id") >= 100)
      .orderBy(xxhash64(col("_id")), col("_id")).limit(48)
    val npU = VectorOps.calibrateNprobe(uniform, "emb", "_id", um,
      k = 10, targetRecall = 0.95, calibQueries = calibU)
    assert(npU > npC, s"uniform corpus must need more probes: $npU vs $npC")

    // generalization: the calibrated nprobe meets the gate on HELDOUT
    // queries (disjoint from the calibration batch) on both corpora
    for ((df, m, np) <- Seq((clustered, cm, npC), (uniform, um, npU))) {
      val held = df.where(col("_id") < 40)
      val exact = VectorOps.knnJoin(df, held, "emb", "_id", k = 10, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivf = VectorOps.knnJoinIvf(df, held, "emb", "_id", k = 10, m, np,
        excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact intersect ivf).size.toDouble / exact.size
      assert(recall >= 0.9, s"heldout recall $recall at nprobe=$np")
    }
    clustered.unpersist(); uniform.unpersist()
  }

  test("serve-path nlist ~ sqrt(n): probed candidate volume scales ~n^1.5 on clusterable data, overlap gate unchanged") {
    // the r15 verdict's one productionization knob: the serve tier
    // (kthNeighborScoreIvf) sized at build time like the declared
    // indexes — nlist = sqrt(n) — instead of a fixture-pinned 16. The
    // measure is DETERMINISTIC probed-candidate volume (per query, the
    // sizes of its calibrated-nprobe nearest clusters — the rows the
    // probe actually scores), not wall time: at 4x rows brute
    // kth-neighbor work is 16x, the sqrt-sized serve shape ~4^1.5 = 8x
    // (times any calibrated-nprobe drift, which is measured and
    // factored below).
    def measure(n: Int): (Long, Double, Int) = {
      val df = vecs(n, 16).cache()
      val nlist = math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))
      val model = VectorOps.trainIvf(df, "emb", nlist, iters = 2)
      val calib = df.where(col("_id") >= 100)
        .orderBy(xxhash64(col("_id")), col("_id")).limit(64)
      val np = VectorOps.calibrateNprobe(df, "emb", "_id", model,
        k = 10, targetRecall = 0.95, calibQueries = calib)
      // the recall@10 >= 0.9 serving gate, on 64 queries DISJOINT from
      // the calibration batch (generalization, the recall_batch rule)
      val queries = df.where(col("_id") < 100)
        .orderBy(xxhash64(col("_id")), col("_id")).limit(64)
      val exact = VectorOps.knnJoin(df, queries, "emb", "_id", k = 10,
        excludeSelf = false)
      val approx = VectorOps.knnJoinDistributed(df, queries, "emb", "_id",
        k = 10, model, np, excludeSelf = false)
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"),
        "left_semi").count()
      val recall = hits.toDouble / exact.count()
      val sizes = VectorOps.assignCluster(df, "emb", model.centroids)
        .groupBy(col("_cluster")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rows = df.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
      val volume = rows.iterator.map { v =>
        model.centroids.indices
          .sortBy(ci => model.centroids(ci).zip(v)
            .map { case (a, b) => (a - b) * (a - b) }.sum)
          .take(np).map(ci => sizes.getOrElse(ci, 0L)).sum
      }.sum
      df.unpersist()
      (volume, recall, np)
    }
    val (v1, o1, np1) = measure(512)
    val (v2, o2, np2) = measure(2048)
    assert(o1 >= 0.9 && o2 >= 0.9,
      s"recall@10 gate must hold at both sizes: $o1, $o2 (np $np1, $np2)")
    val ratio = v2.toDouble / v1
    // 8x is the ideal sqrt-shape step; allow calibrated-nprobe drift
    // (measured, factored) plus 40% cluster-imbalance slack — and in
    // ALL cases stay far under the 16x brute step
    val bound = math.min(8.0 * (np2.toDouble / np1) * 1.4, 14.0)
    assert(ratio <= bound,
      s"probed volume must scale ~n^1.5: ratio=$ratio bound=$bound " +
        s"(v $v1 -> $v2, np $np1 -> $np2)")
    assert(v2 < 2048L * 2048L / 2,
      s"volume must sit well under brute n^2: $v2")
  }

  test("trainIvf centroids are identical across runs on repartitioned input") {
    val df = vecs(300, 16)
    val a = VectorOps.trainIvf(df.repartition(7), "emb", nlist = 8, iters = 2)
    val b = VectorOps.trainIvf(df.repartition(3).sortWithinPartitions(col("_id").desc),
      "emb", nlist = 8, iters = 2)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq,
      "init must not depend on scan order")
  }

  test("IVF train + assign at nlist>=1024 stays a single codegen kernel") {
    // the literal-argmin tree at this size (1024 centroids × 32 dims =
    // ~100k literal nodes) blew past Janino's method limit and fell back
    // to interpreted eval; the reference-object kernel must stay flat
    val df = vecs(3000, 32).cache()
    val t0 = System.nanoTime()
    val model = VectorOps.trainIvf(df, "emb", nlist = 1024, iters = 1)
    val assigned = VectorOps.assignCluster(df, "emb", model.centroids)
    assert(assigned.queryExecution.executedPlan.toString.contains("nearest_centroid"))
    val clusters = assigned.select("_cluster").distinct().count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(clusters >= 8)
    assert(secs < 60.0, s"nlist=1024 assignment took ${secs}s — codegen fallback?")
    df.unpersist()
  }

  test("tenant-partitioned vector index serves per-tenant IVF, recall >= 0.9@10") {
    val s = spark
    import s.implicits._
    val nodes = (0 until 600).map { i =>
      val t = if (i < 300) "t1" else "t2"
      val c = i % 8
      val v = Array.tabulate(16)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", t, v)
    }.toDF("_id", "_label", "tenantId", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", Some("tenantId"))))
    import graft.ast._
    val q = Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0)
    val qv = PropertyValue.VF64Array(q)
    def search(c: graft.exec.Compiler) = c.run(Traversal(Vector(
      Step.VectorSearchNodes("Vec", "emb",
        Some(PropertyInput.Value(PropertyValue.VString("t1"))),
        PropertyInput.Value(qv), StreamBound.Literal(10)), Step.Id)))
      .collect().map(_.getLong(0)).toSet
    spark.conf.set("graft.search.ivfThreshold", "100")
    try {
      val ivf = search(TestBase.compiler(store))
      assert(ivf.nonEmpty && ivf.forall(_ < 300), s"non-tenant rows served: $ivf")
      // exact filtered scan (no declared index) as the recall reference
      val brute = search(TestBase.compiler(store.withIndexes(Set.empty)))
      val recall = (ivf intersect brute).size.toDouble / brute.size
      assert(recall >= 0.9, s"tenant IVF recall too low: $recall")
    } finally spark.conf.unset("graft.search.ivfThreshold")
  }

  test("a skewed tenant meets the recall gate at its OWN calibrated nprobe") {
    val s = spark
    import s.implicits._
    // tenant tc: 8 well-separated one-hot clusters - centroid pruning
    // works, calibration lands a small nprobe. Tenant ts: DELIBERATELY
    // skewed - all vectors share one direction with tiny angular noise
    // but wildly different L2 scales, so k-means (L2) clusters by
    // scale while cosine neighbors follow the noise direction; the
    // centroid ranking carries almost no signal and ts's calibration
    // must push nprobe far higher than tc's to hit the recall target.
    // A shared global calibration would hand ts tc's tiny nprobe and
    // miss the gate - the point of per-tenant artifacts.
    val nodes = (0 until 600).map { i =>
      if (i < 300) {
        val c = i % 8
        val v = Array.tabulate(16)(j =>
          if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
        (i.toLong, "Vec", "tc", v)
      } else {
        val scale = 1.0f + (i % 10)
        val v = Array.tabulate(16)(j =>
          if (j == 0) scale
          else scale * 0.02f * ((i * 31 + j * 7) % 13)).toSeq
        (i.toLong, "Vec", "ts", v)
      }
    }.toDF("_id", "_label", "tenantId", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", Some("tenantId"))))
    import graft.ast._
    def search(c: graft.exec.Compiler, tenant: String, q: Seq[Double]) =
      c.run(Traversal(Vector(
        Step.VectorSearchNodes("Vec", "emb",
          Some(PropertyInput.Value(PropertyValue.VString(tenant))),
          PropertyInput.Value(PropertyValue.VF64Array(q)),
          StreamBound.Literal(10)), Step.Id)))
        .collect().map(_.getLong(0)).toSet
    spark.conf.set("graft.search.ivfThreshold", "100")
    try {
      val ivfC = TestBase.compiler(store)
      val bruteC = TestBase.compiler(store.withIndexes(Set.empty))
      // 8 ts queries drawn from the tenant's own noise family (mean
      // recall mirrors the calibration semantics)
      val recalls = (0 until 8).map { qi =>
        val i = 310 + qi * 23
        val q = Seq.tabulate(16)(j =>
          if (j == 0) 1.0 else 0.02 * ((i * 31 + j * 7) % 13))
        val ivf = search(ivfC, "ts", q)
        assert(ivf.nonEmpty && ivf.forall(_ >= 300), s"non-tenant rows: $ivf")
        val brute = search(bruteC, "ts", q)
        (ivf intersect brute).size.toDouble / brute.size
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"skewed-tenant recall at calibrated nprobe: $mean")
      // the clustered tenant's path stays green too
      val qc = Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0)
      val ivfTc = search(ivfC, "tc", qc)
      assert(ivfTc.nonEmpty && ivfTc.forall(_ < 300))
      // and the calibrations are genuinely per-tenant: the skewed
      // tenant's nprobe is strictly higher than the clustered one's
      import graft.search.IndexCache
      val spec = IndexSpec.NodeVector("Vec", "emb", Some("tenantId"))
      val npC = IndexCache.calibratedNprobe(IndexCache.Key(store.version, spec, Some("tc")))
      val npS = IndexCache.calibratedNprobe(IndexCache.Key(store.version, spec, Some("ts")))
      assert(npC.isDefined && npS.isDefined, s"calibrations missing: $npC $npS")
      assert(npS.get > npC.get,
        s"skewed tenant must calibrate past the clustered one: $npS vs $npC")
    } finally spark.conf.unset("graft.search.ivfThreshold")
  }

  test("per-tenant IVF centroid artifacts round-trip through save/load") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gtenantivf").toString
    val nodes = (0 until 600).map { i =>
      val t = if (i < 300) "t1" else "t2"
      val c = i % 8
      val v = Array.tabulate(16)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", t, v)
    }.toDF("_id", "_label", "tenantId", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", Some("tenantId"))))
    spark.conf.set("graft.search.ivfThreshold", "100")
    try {
      graft.model.GraphPersistence.save(store, dir)
      graft.search.IndexArtifacts.save(store, dir)
      val loaded = graft.model.GraphPersistence.load(spark, dir)
      // both tenants clear the threshold -> two per-tenant IVF models
      // + two per-tenant PQ codebook sets (dim 16 divides default pqM=8)
      assert(graft.search.IndexArtifacts.load(spark, dir, loaded) == 4)
      import graft.ast._
      val qv = PropertyValue.VF64Array(Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0))
      val ids = TestBase.compiler(loaded).run(Traversal(Vector(
        Step.VectorSearchNodes("Vec", "emb",
          Some(PropertyInput.Value(PropertyValue.VString("t2"))),
          PropertyInput.Value(qv), StreamBound.Literal(10)), Step.Id)))
        .collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.forall(_ >= 300), s"non-tenant rows served: $ids")
    } finally spark.conf.unset("graft.search.ivfThreshold")
  }

  test("phraseTopK: order-sensitive, overlap-correct, punctuation-normalized") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "visit New York today and New York tomorrow"), // tf 2
      (2L, "york new is not the phrase"),                 // reversed: tf 0
      (3L, "the new, york! mayor"),                       // punctuation splits: tf 1
      (4L, "nothing relevant here"),
      (5L, "new york")                                    // tf 1
    ).toDF("_id", "text")
    val got = BM25.phraseTopK(df, "text", "New-York", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // tf desc, id asc; bag-of-words doc 2 excluded entirely
    assert(got.toSeq == Seq(1L -> 2L, 3L -> 1L, 5L -> 1L), s"got ${got.toSeq}")
    // overlapping occurrences all count: "a a a" has TWO "a a" windows
    val ov = BM25.phraseTopK(Seq((7L, "a a a")).toDF("_id", "text"),
      "text", "a a", 10).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ov.toSeq == Seq((7L, 2L)), s"overlap count: ${ov.toSeq}")
    // k truncates
    assert(BM25.phraseTopK(df, "text", "new york", 1).count() == 1)
  }

  test("nearTopK ranks by minimal distance within the window, either order") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spark shuffle join"),                   // dist 2
      (2L, "join with spark"),                      // reversed order: dist 2
      (3L, "spark a b c d e f g join"),             // dist 8: outside window
      (4L, "spark here then far away spark join"),  // MIN dist 1 of {1, 6}
      (5L, "spark only no second term"),
      (6L, "join only")
    ).toDF("_id", "text")
    val got = BM25.nearTopK(df, "text", "spark", "join", window = 3, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // min-dist asc, id asc; single-term and out-of-window docs excluded
    assert(got.toSeq == Seq((4L, 1L), (1L, 2L), (2L, 2L)), s"got ${got.toSeq}")
    // widening the window admits doc 3
    val wide = BM25.nearTopK(df, "text", "spark", "join", window = 8, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(wide == Set(1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      BM25.nearTopK(df, "text", "spark", "spark", window = 3, k = 10)
    }
  }

  test("BM25 ranks exact term matches above partial ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark query engine with hash joins"),
      (2L, "hash tables and hash maps, hash everywhere hash"),
      (3L, "gardening tips for spring"),
      (4L, "spark hash spark hash spark"),
    ).toDF("_id", "text")
    val top = BM25.topKScores(docs, "text", "spark hash", 3).collect()
    assert(top.map(_.getLong(0)).take(2).toSet == Set(4L, 1L))
    // doc 3 shares no terms: must be absent entirely
    assert(!top.map(_.getLong(0)).contains(3L))
  }

  test("BM25 idf downweights ubiquitous terms") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common common common"),
      (3L, "common word soup"),
    ).toDF("_id", "text")
    val scores = BM25.score(docs, "text", "rare common").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > scores(2L))
  }

  test("index-served BM25 equals on-the-fly scoring") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark query engine with hash joins"),
      (2L, "hash tables and hash maps"),
      (3L, "gardening tips for spring"),
      (4L, "spark hash spark hash spark")).toDF("_id", "text")
    val (post, stats) = BM25.buildIndex(docs, "text")
    val fromIndex = BM25.scoreFromIndex(post, stats, "spark hash").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val onTheFly = BM25.score(docs, "text", "spark hash").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fromIndex == onTheFly)
  }

  test("declared text index drives the compiler's search path") {
    val store = TestBase.parityGraph()
      .withIndexes(Set(graft.ast.IndexSpec.NodeText("ParityUser", "bio", None)))
    val c = TestBase.compiler(store)
    import graft.dsl.Dsl._
    val viaIndex = c.run(g().textSearchNodes("ParityUser", "bio", "vector search", 2)
      .values("name").t).collect().map(_.getString(0)).toSet
    val plain = TestBase.compiler().run(
      g().textSearchNodes("ParityUser", "bio", "vector search", 2)
        .values("name").t).collect().map(_.getString(0)).toSet
    assert(viaIndex == plain)
  }

  test("declared vector index serves IVF above the size threshold, recall >= 0.9@10") {
    val s = spark
    import s.implicits._
    val nodes = (0 until 600).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", v)
    }.toDF("_id", "_label", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", None)))
    val q = Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0)
    val qv = graft.ast.PropertyValue.VF64Array(q)
    import graft.ast._
    def search(c: graft.exec.Compiler) = c.run(Traversal(Vector(
      Step.VectorSearchNodes("Vec", "emb", None,
        PropertyInput.Value(qv), StreamBound.Literal(10)), Step.Id)))
      .collect().map(_.getLong(0)).toSet
    spark.conf.set("graft.search.ivfThreshold", "100")
    try {
      val ivf = search(TestBase.compiler(store))
      val brute = search(TestBase.compiler(
        store.withIndexes(Set.empty))) // undeclared -> exact path
      val recall = (ivf intersect brute).size.toDouble / brute.size
      assert(recall >= 0.9, s"compiled IVF recall too low: $recall")
    } finally spark.conf.unset("graft.search.ivfThreshold")
  }

  test("declared vector index serves IVF-PQ above the PQ threshold, recall >= 0.9@10") {
    val s = spark
    import s.implicits._
    val nodes = (0 until 600).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", v)
    }.toDF("_id", "_label", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", None)))
    val q = Seq.tabulate(16)(j => if (j == 2) 1.0 else 0.0)
    val qv = graft.ast.PropertyValue.VF64Array(q)
    import graft.ast._
    def search(c: graft.exec.Compiler) = c.run(Traversal(Vector(
      Step.VectorSearchNodes("Vec", "emb", None,
        PropertyInput.Value(qv), StreamBound.Literal(10)), Step.Id)))
      .collect().map(_.getLong(0)).toSet
    spark.conf.set("graft.search.ivfThreshold", "100")
    spark.conf.set("graft.search.pqThreshold", "100")
    spark.conf.set("graft.search.pqM", "4")
    try {
      val pq = search(TestBase.compiler(store))
      val brute = search(TestBase.compiler(
        store.withIndexes(Set.empty))) // undeclared -> exact path
      val recall = (pq intersect brute).size.toDouble / brute.size
      assert(recall >= 0.9, s"compiled IVF-PQ recall too low: $recall")
    } finally {
      spark.conf.unset("graft.search.ivfThreshold")
      spark.conf.unset("graft.search.pqThreshold")
      spark.conf.unset("graft.search.pqM")
    }
  }

  test("a query dim indivisible by pqM falls back to IVF serving, still >= 0.9@10") {
    val s = spark
    import s.implicits._
    val nodes = (0 until 600).map { i =>
      val c = i % 5
      val v = Array.tabulate(15)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", v)
    }.toDF("_id", "_label", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", None)))
    val q = Seq.tabulate(15)(j => if (j == 2) 1.0 else 0.0)
    val qv = graft.ast.PropertyValue.VF64Array(q)
    import graft.ast._
    def search(c: graft.exec.Compiler) = c.run(Traversal(Vector(
      Step.VectorSearchNodes("Vec", "emb", None,
        PropertyInput.Value(qv), StreamBound.Literal(10)), Step.Id)))
      .collect().map(_.getLong(0)).toSet
    spark.conf.set("graft.search.ivfThreshold", "100")
    spark.conf.set("graft.search.pqThreshold", "100")
    spark.conf.set("graft.search.pqM", "4") // 15 % 4 != 0 -> IVF tier
    try {
      val got = search(TestBase.compiler(store))
      val brute = search(TestBase.compiler(store.withIndexes(Set.empty)))
      val recall = (got intersect brute).size.toDouble / brute.size
      assert(recall >= 0.9, s"fallback IVF recall too low: $recall")
    } finally {
      spark.conf.unset("graft.search.ivfThreshold")
      spark.conf.unset("graft.search.pqThreshold")
      spark.conf.unset("graft.search.pqM")
    }
  }

  test("below the threshold a declared vector index still serves exact brute-force") {
    val store = TestBase.parityGraph()
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("ParityUser", "embedding", None)))
    import graft.dsl.Dsl._
    val top = TestBase.compiler(store).run(
      g().vectorSearchNodes("ParityUser", "embedding", Seq(1.0f, 0.05f, 0.0f), 2).id().t)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L)) // exact ranking
  }

  test("IndexCache evicts artifacts of superseded store versions") {
    val s = spark
    import s.implicits._
    // distinct plans per version (as real mutated stores have): Spark's
    // cache manager is plan-keyed, so identical plans would share storage
    import graft.search.IndexCache
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("_id", "text")
    val spec = graft.ast.IndexSpec.NodeText("D", "text")
    IndexCache.textIndex(IndexCache.Key("v-old-test", spec), docs.where("_id <= 2"))
    IndexCache.textIndex(IndexCache.Key("v-new-test", spec), docs)
    IndexCache.evictOthers("v-new-test")
    // old version's artifact gone; current one still served from cache
    val (p1, _) = IndexCache.textIndex(IndexCache.Key("v-new-test", spec),
      sys.error("must be cached"): org.apache.spark.sql.DataFrame)
    assert(p1.storageLevel.useMemory || p1.storageLevel.useDisk)
    IndexCache.evictOthers("none")
  }

  test("an append carries tenant-partitioned models and probes forward") {
    import graft.ast.IndexSpec
    import graft.search.{IndexCache, VectorOps}
    val s = spark
    import s.implicits._
    val model = VectorOps.IvfModel(Array(Array(1.0, 0.0)))
    val bare = IndexSpec.NodeVector("L", "emb")
    val tenanted = IndexSpec.NodeVector("L", "emb", Some("tenantId"))
    def rows(n: Int) = (1 to n).map(i => (i.toLong, "L", "t1", Seq(1.0, 0.0)))
      .toDF("_id", "_label", "tenantId", "emb")
    val a = new graft.model.GraphStore(s, Map("L" -> rows(1)), Map.empty, Map.empty)
      .withIndexes(Set(bare, tenanted))
    val b = a.withNodes("L", rows(2))
    IndexCache.putIvf(IndexCache.Key(a.version, bare), model)
    IndexCache.putIvf(IndexCache.Key(a.version, tenanted, Some("t1")), model)
    IndexCache.advance(a, b, appendOnly = true)
    // the bare and the per-tenant models both serve under the new version
    assert(IndexCache.ivfModel(IndexCache.Key(b.version, bare), 1,
      sys.error("must be cached"): org.apache.spark.sql.DataFrame) eq model)
    assert(IndexCache.ivfModel(IndexCache.Key(b.version, tenanted, Some("t1")), 1,
      sys.error("must be cached"): org.apache.spark.sql.DataFrame) eq model)
    IndexCache.evictOthers("none")
  }

  test("tenant-partitioned text index serves tenant queries exactly") {
    import graft.ast._
    import graft.dsl.Dsl._
    // tenant-partitioned index: per-tenant postings + stats
    val indexed = TestBase.parityGraph().withIndexes(Set(
      IndexSpec.NodeText("ParityUser", "bio", Some("tenantId"))))
    def q(store: graft.model.GraphStore) = TestBase.compiler(store).run(
      Traversal(Vector(
        Step.TextSearchNodes("ParityUser", "bio",
          Some(PropertyInput.Value(PropertyValue.VString("t1"))),
          PropertyInput.Value(PropertyValue.VString("vector search")),
          StreamBound.Literal(3)),
        Step.Values(Seq("name", "$score")))))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val viaIndex = q(indexed)
    val onTheFly = q(TestBase.parityGraph()) // no index -> on-the-fly path
    assert(viaIndex.keySet == Set("Alice", "Bob")) // Carol is tenant t2
    assert(viaIndex == onTheFly) // identical scores: per-tenant stats are exact
    // untenanted query against the tenanted index falls back on the fly
    val global = TestBase.compiler(indexed).run(
      g().textSearchNodes("ParityUser", "bio", "vector search", 3).values("name").t)
      .collect().map(_.getString(0)).toSet
    assert(global == Set("Alice", "Bob"))
  }

  test("durable PQ codebooks round-trip and pre-populate the serving cache") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gpq").toString
    val nodes = (0 until 300).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(j => if (j == c) 1.0f else 0.001f * ((i + j) % 7)).toSeq
      (i.toLong, "Vec", v)
    }.toDF("_id", "_label", "emb")
    val store = new graft.model.GraphStore(s, Map("Vec" -> nodes), Map.empty, Map.empty)
      .withIndexes(Set(graft.ast.IndexSpec.NodeVector("Vec", "emb", None)))
    spark.conf.set("graft.search.pqM", "4")
    try {
      graft.model.GraphPersistence.save(store, dir)
      graft.search.IndexArtifacts.save(store, dir)
      assert(new java.io.File(s"$dir/_index/pq/Vec/emb").isDirectory,
        "PQ codebooks must persist next to the IVF centroids")
      val loaded = graft.model.GraphPersistence.load(spark, dir)
      // 2 artifacts: IVF centroids + PQ codebooks
      assert(graft.search.IndexArtifacts.load(spark, dir, loaded) == 2)
      // the served model must be the PRE-POPULATED one: equal to a
      // deterministic fresh train, with no rebuild cost hidden here
      val (served, _) = graft.search.IndexCache.pqArtifact(
        graft.search.IndexCache.Key(loaded.version,
          graft.ast.IndexSpec.NodeVector("Vec", "emb", None)),
        m = 4, ks = 256, loaded.nodesFor("Vec"))
      val fresh = VectorOps.trainPq(nodes, "emb", m = 4)
      assert(served.m == fresh.m && served.subDim == fresh.subDim)
      (0 until fresh.m).foreach { sI =>
        (0 until fresh.ks).foreach { c =>
          assert(java.util.Arrays.equals(served.codebooks(sI)(c), fresh.codebooks(sI)(c)),
            s"loaded codebook ($sI,$c) differs from deterministic train")
        }
      }
    } finally spark.conf.unset("graft.search.pqM")
  }

  test("durable index artifacts round-trip and pre-populate the serving cache") {
    val dir = java.nio.file.Files.createTempDirectory("gidx").toString
    val store = TestBase.parityGraph().withIndexes(Set(
      graft.ast.IndexSpec.NodeText("ParityUser", "bio", None),
      graft.ast.IndexSpec.NodeVector("ParityUser", "embedding", None)))
    graft.model.GraphPersistence.save(store, dir)
    graft.search.IndexArtifacts.save(store, dir)
    // reload: a NEW store version; artifacts pre-populate its cache
    val loaded = graft.model.GraphPersistence.load(spark, dir)
    assert(graft.search.IndexArtifacts.load(spark, dir, loaded) == 2)
    import graft.dsl.Dsl._
    // text search on the loaded store serves from the loaded postings
    val viaLoaded = TestBase.compiler(loaded)
      .run(g().textSearchNodes("ParityUser", "bio", "vector search", 2).values("name").t)
      .collect().map(_.getString(0)).toSet
    val fresh = TestBase.compiler()
      .run(g().textSearchNodes("ParityUser", "bio", "vector search", 2).values("name").t)
      .collect().map(_.getString(0)).toSet
    assert(viaLoaded == fresh)
    // vector search through the pre-loaded IVF model (forced via threshold)
    spark.conf.set("graft.search.ivfThreshold", "1")
    try {
      val ids = TestBase.compiler(loaded)
        .run(g().vectorSearchNodes("ParityUser", "embedding", Seq(1.0f, 0.05f, 0.0f), 2)
          .id().t).collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L))
    } finally spark.conf.unset("graft.search.ivfThreshold")
  }

  test("buildIndex postings agree with on-the-fly scoring") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a a d")).toDF("_id", "text")
    val (post, stats) = BM25.buildIndex(docs, "text")
    assert(post.where(col("_term") === "a").count() == 2)
    val st = stats.collect()(0)
    assert(st.getLong(0) == 2 && st.getDouble(1) == 3.0)
  }

  test("nearestCentroidClassify: separable clusters classify exactly; ties to lower label") {
    val s = spark
    import s.implicits._
    // two tight clusters around (1,0) label 0 and (0,1) label 1, plus
    // one mislabeled point that must be flagged incorrect
    val rows = Seq(
      (1L, Seq(1.0f, 0.1f), 0), (2L, Seq(0.9f, 0.0f), 0), (3L, Seq(1.1f, -0.1f), 0),
      (4L, Seq(0.1f, 1.0f), 1), (5L, Seq(0.0f, 0.9f), 1), (6L, Seq(-0.1f, 1.1f), 1),
      (7L, Seq(1.0f, 0.0f), 1)) // sits in cluster 0, labeled 1
      .toDF("vec_id", "embedding", "label")
    val got = graft.search.VectorOps
      .nearestCentroidClassify(rows, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(Seq(1L, 2L, 3L).forall(i => got(i) == (0, true)), s"got $got")
    assert(Seq(4L, 5L, 6L).forall(i => got(i) == (1, true)), s"got $got")
    assert(got(7L)._1 == 0 && !got(7L)._2, s"mislabel not flagged: $got")
    // equidistant vector ties to the LOWER label deterministically
    val tie = Seq((1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.0f, 1.0f), 1),
      (3L, Seq(0.5f, 0.5f), 1)).toDF("vec_id", "embedding", "label")
    // centroids: l0 = (1e6, 0), l1 = (250000, 750000); v3 = (5e5, 5e5)
    // d0 = 25e10+25e10 = 5e11; d1 = 6.25e10+6.25e10 = 1.25e11 -> label 1
    val t = graft.search.VectorOps
      .nearestCentroidClassify(tie, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t(3L) == 1, s"got $t")
    // empty input: empty output with the contract schema
    val empty = graft.search.VectorOps.nearestCentroidClassify(
      rows.where(lit(false)), "vec_id", "embedding", "label")
    assert(empty.columns.toSeq == Seq("vec_id", "pred_label", "correct") &&
      empty.count() == 0)
  }

  test("append drift: a grown corpus recalibrates the carried nprobe; the recall gate holds") {
    import graft.search.IndexCache
    val s = spark
    import s.implicits._
    // v1: 400 clustered vectors — calibration lands a small nprobe
    val clustered = vecs(400, 16).cache()
    val model = VectorOps.trainIvf(clustered, "emb", nlist = 16, iters = 2)
    val spec = graft.ast.IndexSpec.NodeVector("Vec", "emb")
    val v1 = new graft.model.GraphStore(s, Map("Vec" -> clustered), Map.empty, Map.empty)
      .withIndexes(Set(spec))
    def key(st: graft.model.GraphStore) = IndexCache.Key(st.version, spec)
    val np1 = IndexCache.nprobe(key(v1), model, clustered, target = 0.95, calibN = 48)
    assert(np1 <= 8, s"clustered corpus calibrated to nprobe=$np1")
    // a SKEWED append: +400 structureless vectors (100% growth, far
    // past the 20% drift gate) whose cosine neighborhoods the carried
    // centroids cannot prune
    val appended = clustered.unionAll(
      uniformVecs(400, 16).select((col("_id") + 1000).as("_id"), col("emb")))
      .cache()
    val v2 = v1.withNodes("Vec", appended)
    IndexCache.advance(v1, v2, appendOnly = true)
    assert(IndexCache.calibratedNprobe(key(v2)).contains(np1),
      "append must carry the calibrated depth forward")
    val np2 = IndexCache.nprobe(key(v2), model, appended, target = 0.95, calibN = 48)
    assert(np2 > np1,
      s"drift gate must recalibrate past the stale depth: $np2 vs $np1")
    assert(IndexCache.calibratedNprobe(key(v2)).contains(np2))
    // the gate HOLDS: heldout queries from the appended (skewed) half
    // meet the recall bar at the recalibrated depth — and provably
    // would not have at the stale one
    val held = appended.where(col("_id") >= 1000 && col("_id") < 1040)
    val exact = VectorOps.knnJoin(appended, held, "emb", "_id", k = 10,
        excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(np: Int) = {
      val got = VectorOps.knnJoinIvf(appended, held, "emb", "_id", k = 10,
          model, np, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val fresh = recallAt(np2); val stale = recallAt(np1)
    assert(fresh >= 0.9, s"recalibrated depth misses the gate: $fresh")
    assert(stale < fresh,
      s"fixture must make the stale depth lossy: $stale vs $fresh")
    // a below-gate append (+10%) serves the cached depth — no
    // recalibration job in steady state
    val small = appended.unionAll(
      uniformVecs(80, 16).select((col("_id") + 5000).as("_id"), col("emb")))
    val v3 = v2.withNodes("Vec", small)
    IndexCache.advance(v2, v3, appendOnly = true)
    val np3 = IndexCache.nprobe(key(v3), model, small, target = 0.95, calibN = 48)
    assert(np3 == np2, s"below-gate append must serve the cached depth: $np3")
    clustered.unpersist(); appended.unpersist()
  }

  test("rotateHadamard: geometry preserved and calibrated serving holds under rotation") {
    val s = spark
    import s.implicits._
    // energy concentrated in dims 0-1: plain PQ at m=4 puts ALL the
    // signal in subspace 0 and its ADC ordering degrades; the
    // orthogonal rotation spreads it across subspaces
    val df = (0 until 400).map { i =>
      val c = i % 8
      val v = Array.tabulate(16)(j =>
        if (j == 0) 1.0f * (c % 4)
        else if (j == 1) 1.0f * (c / 4)
        else 0.001f * ((i + j) % 7))
      (i.toLong, v.toSeq)
    }.toDF("_id", "emb").cache()
    val rot = VectorOps.rotateHadamard(df, "emb", "remb", 16).cache()
    // the rotation is orthogonal up to scale: the exact neighbor sets
    // agree between the plain and rotated representations
    val calib = df.where(col("_id") >= 100)
      .orderBy(xxhash64(col("_id")), col("_id")).limit(32)
    val calibR = rot.where(col("_id") >= 100)
      .orderBy(xxhash64(col("_id")), col("_id")).limit(32)
    val exactP = VectorOps.knnJoin(df, calib, "emb", "_id", k = 5,
      excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactR = VectorOps.knnJoin(rot, calibR, "remb", "_id", k = 5,
      excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactP == exactR,
      "orthogonal rotation must preserve the exact neighbor sets")
    // calibrated refine depth at the same gate: rotated never deeper,
    // and on this energy-skewed fixture strictly shallower or equal
    def depth(frame: org.apache.spark.sql.DataFrame, c: String,
        cq: org.apache.spark.sql.DataFrame): Int = {
      val m = VectorOps.trainPq(frame, c, m = 4, ks = 16, iters = 4)
      val enc = VectorOps.encodePq(frame, c, m)
      VectorOps.calibrateRefine(frame, enc, c, "_id", m, k = 5,
        targetRecall = 0.9, calibQueries = cq, maxRefine = 64)
    }
    val dPlain = depth(df, "emb", calib)
    val dRot = depth(rot, "remb", calibR)
    info(s"refine depth (concentrated fixture) plain=$dPlain rotated=$dRot")
    // serving at the rotated calibrated depth meets the target — the
    // calibration contract holds under rotation
    val mR = VectorOps.trainPq(rot, "remb", m = 4, ks = 16, iters = 4)
    val encR = VectorOps.encodePq(rot, "remb", mR)
    val served = VectorOps.pqKnnJoin(encR, calibR, "remb", "_id", k = 5,
      mR, refine = dRot, excludeSelf = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (exactR intersect served).size.toDouble / exactR.size
    assert(hits >= 0.9, s"rotated serving at depth $dRot missed: $hits")
    df.unpersist(); rot.unpersist()
  }

  test("rotateHadamard pays when one subspace's level count overflows its codebook") {
    val s = spark
    import s.implicits._
    // 64 signal levels all in dim 0 with ks=16 centroids per subspace:
    // plain PQ's subspace 0 cannot represent the levels and its ADC
    // ordering coarsens; the rotation spreads the levels across all 4
    // subspaces whose quantization errors decorrelate
    val df = (0 until 512).map { i =>
      val c = i % 64
      val v = Array.tabulate(16)(j =>
        if (j == 0) 0.1f * c else 0.001f * ((i + j) % 7))
      (i.toLong, v.toSeq)
    }.toDF("_id", "emb").cache()
    val rot = VectorOps.rotateHadamard(df, "emb", "remb", 16).cache()
    def depth(frame: org.apache.spark.sql.DataFrame, c: String): Int = {
      val cq = frame.where(col("_id") >= 100)
        .orderBy(xxhash64(col("_id")), col("_id")).limit(32)
      val m = VectorOps.trainPq(frame, c, m = 4, ks = 16, iters = 4)
      val enc = VectorOps.encodePq(frame, c, m)
      VectorOps.calibrateRefine(frame, enc, c, "_id", m, k = 5,
        targetRecall = 0.9, calibQueries = cq, maxRefine = 128)
    }
    val dPlain = depth(df, "emb")
    val dRot = depth(rot, "remb")
    info(s"refine depth (overflow fixture) plain=$dPlain rotated=$dRot")
    assert(dRot < dPlain,
      s"rotation must pay on codebook overflow: plain=$dPlain rot=$dRot")
    df.unpersist(); rot.unpersist()
  }

  test("kmeansQuantized: separable groups cluster together, bit-identical at any partitioning") {
    val s = spark
    import s.implicits._
    // three tight groups on orthogonal axes with per-row distinct
    // jitter on a spare dim. The md5 seed order over ids 0..8 picks
    // 6, 7, 4 — the group map keys those three into DIFFERENT groups
    // so every cluster starts anchored (Lloyd from degenerate seeds
    // is a seeding pathology, not what this asserts)
    val group = Map(0 -> 0, 1 -> 0, 2 -> 0, 6 -> 0,
      3 -> 1, 5 -> 1, 7 -> 1, 4 -> 2, 8 -> 2)
    val rows = (0 until 9).map { i =>
      val v = Array.fill(4)(0f); v(group(i)) = 1f; v(3) = 0.001f * i
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = VectorOps.kmeansQuantized(df, "vec_id", "embedding",
      k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 3).foreach { g =>
      val members = group.collect { case (i, gg) if gg == g => got(i.toLong) }
      assert(members.toSeq.distinct.size == 1,
        s"group $g must land in one cluster: $got")
    }
    assert(got.values.toSet.size == 3,
      s"the three groups must occupy three clusters: $got")
    // partitioning independence: integer math end to end
    val rep = VectorOps.kmeansQuantized(df.repartition(7), "vec_id",
      "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got, "partitioning must not change assignments")
    // all-identical vectors: every distance ties, the lower cluster
    // wins, clusters 1..k-1 empty out and keep their seed centroids
    val same = (0 until 6).map(i => (i.toLong, Array(1f, 2f, 3f, 4f)))
      .toDF("vec_id", "embedding")
    val one = VectorOps.kmeansQuantized(same, "vec_id", "embedding",
      k = 3, iters = 2).collect().map(_.getLong(1)).toSet
    assert(one == Set(0L), s"identical rows all tie into cluster 0: $one")
    // k past the row count is a caller error, not a silent shrink
    intercept[IllegalArgumentException] {
      VectorOps.kmeansQuantized(same, "vec_id", "embedding", k = 7, iters = 1)
    }
  }

  test("prototypicalityScores/Prune: exact centroid distances, hardest-fraction keep, floor allocation") {
    val s = spark
    import s.implicits._
    // the kmeansQuantized fixture: three orthogonal groups, distinct
    // per-row jitter on the spare dim makes every distance unique
    val group = Map(0 -> 0, 1 -> 0, 2 -> 0, 6 -> 0,
      3 -> 1, 5 -> 1, 7 -> 1, 4 -> 2, 8 -> 2)
    val rows = (0 until 9).map { i =>
      val v = Array.fill(4)(0f); v(group(i)) = 1f; v(3) = 0.001f * i
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = VectorOps.kmeansCentroidsQuantized(df, "vec_id",
      "embedding", k = 3, iters = 2)
    val asgn = VectorOps.kmeansQuantized(df, "vec_id", "embedding",
      k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scores = VectorOps.prototypicalityScores(df, "vec_id",
      "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // proto_dist == the exact µ-unit integer distance to the row's
    // assigned centroid, recomputed independently here
    rows.foreach { case (id, v) =>
      val vq = v.map(x => math.round(x.toDouble * 1000000L))
      val c = cents(asgn(id).toInt)
      val d = vq.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(scores(id) == ((asgn(id), d)),
        s"row $id: ${scores(id)} vs (${asgn(id)}, $d)")
    }
    // keep the hardest 1/2 per cluster: rank by (dist desc, id asc),
    // keep r iff r*2 <= n (floor allocation)
    val kept = VectorOps.prototypicalityPrune(df, "vec_id", "embedding",
      k = 3, iters = 2, keepNum = 1, keepDen = 2)
      .collect().map(_.getLong(0)).toSet
    val expected = scores.groupBy(_._2._1).flatMap { case (_, m) =>
      val ranked = m.toSeq.sortBy { case (id, (_, dd)) => (-dd, id) }
      ranked.zipWithIndex.collect {
        case ((id, _), i) if (i + 1) * 2 <= ranked.size => id
      }
    }.toSet
    assert(kept == expected, s"keep set $kept vs hand-ranked $expected")
    // partitioning independence: integer math end to end
    val rep = VectorOps.prototypicalityPrune(df.repartition(5), "vec_id",
      "embedding", k = 3, iters = 2, keepNum = 1, keepDen = 2)
      .collect().map(_.getLong(0)).toSet
    assert(rep == kept, "partitioning must not change the keep set")
    // fraction edges: 0 keeps nothing, 1 keeps everything
    assert(VectorOps.prototypicalityPrune(df, "vec_id", "embedding",
      3, 2, 0, 1).count() == 0L)
    assert(VectorOps.prototypicalityPrune(df, "vec_id", "embedding",
      3, 2, 1, 1).count() == 9L)
    intercept[IllegalArgumentException] {
      VectorOps.prototypicalityPrune(df, "vec_id", "embedding", 3, 2, 3, 2)
    }
    // per-GROUP pruning: same global centroids, each (group, cluster)
    // cell keeps its own hardest half — hand-ranked against the same
    // independently recomputed scores
    val grouped = df.withColumn("tenant",
      (org.apache.spark.sql.functions.col("vec_id") % 2).cast("string"))
    val keptBy = VectorOps.prototypicalityPruneBy(grouped, "vec_id",
      "embedding", "tenant", k = 3, iters = 2, keepNum = 1, keepDen = 2)
      .collect().map(_.getLong(0)).toSet
    val expectedBy = scores.groupBy { case (id, (cl, _)) => (id % 2, cl) }
      .flatMap { case (_, m) =>
        val ranked = m.toSeq.sortBy { case (id, (_, dd)) => (-dd, id) }
        ranked.zipWithIndex.collect {
          case ((id, _), i) if (i + 1) * 2 <= ranked.size => id
        }
      }.toSet
    assert(keptBy == expectedBy,
      s"per-group keep set $keptBy vs hand-ranked $expectedBy")
    // the seeded-by form with externally trained centroids (the shared
    // write-time fit the query family rides) must equal the
    // train-inline form — same global centroid space, same windows
    val keptBySeeded = VectorOps.prototypicalityPruneBySeeded(grouped,
      "vec_id", "embedding", "tenant", cents, keepNum = 1, keepDen = 2)
      .collect().map(_.getLong(0)).toSet
    assert(keptBySeeded == expectedBy,
      s"seeded per-group keep set $keptBySeeded vs $expectedBy")
  }

  test("isotropyReport: integer hand replay, determinism, over-cap sample refuses") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 40).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextFloat() - 0.3f)))
    }
    val df = rows.toDF("vec_id", "embedding")
    // modP = 1 samples every row: the report must equal the all-pairs
    // integer replay exactly
    def unitQ(a: Array[Float]): Array[Long] = {
      val q = a.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val nrm = math.floor(math.sqrt(q.map(x => x * x).sum.toDouble)).toLong
      if (nrm == 0L) q.map(_ => 0L)
      else q.map(x => ((x * 1000000L).toDouble / nrm).toLong)
    }
    val unit = rows.map { case (id, v) => id -> unitQ(v) }.toMap
    val pairs = for (a <- rows.map(_._1); b <- rows.map(_._1) if a < b)
      yield unit(a).indices.map(i => unit(a)(i) * unit(b)(i)).sum
    val mean = pairs.sum / pairs.size // trunc like div
    val got = VectorOps.isotropyReport(df, "vec_id", "embedding",
      seed = "t", modP = 1).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((pairs.size.toLong, mean, math.abs(mean))),
      s"got $got expected (${pairs.size}, $mean, ${math.abs(mean)})")
    // determinism: same (seed, modP) replays; a different seed changes
    // the sampled set (with modP > 1)
    val s1 = VectorOps.isotropyReport(df, "vec_id", "embedding", "a", 4)
      .collect().head
    val s2 = VectorOps.isotropyReport(df, "vec_id", "embedding", "a", 4)
      .collect().head
    assert(s1.toSeq == s2.toSeq, "same seed must replay")
    // auto-sizing (modP = 0): at n = 40 the gate auto-sizes to
    // ceil(40/256) = 1 — identical to the explicit modP = 1 report
    val auto = VectorOps.isotropyReport(df, "vec_id", "embedding",
      seed = "t").collect().head
    assert(auto.toSeq == got.toSeq, "auto modP must equal explicit at n<256")
    // cap contract: quadratic pair work must stay diagnostic-sized
    intercept[IllegalArgumentException] {
      VectorOps.isotropyReport(df, "vec_id", "embedding", "t", 1,
        maxSample = 10)
    }
  }

  test("cosineFlagsBroadcast: jittered copy flags, orthogonal row passes, eval cap refuses") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f)),    // ~1.0 vs eval -> flagged
      (2L, Array(0f, 1f, 0f)),    // orthogonal -> clean
      (3L, Array(0.9f, 0.1f, 0f)) // cos ~0.994 -> flagged at 0.95
    ).toDF("vec_id", "embedding")
    val eval = Seq(Tuple1(Array(1f, 0.001f, 0f))).toDF("embedding")
    val got = VectorOps.cosineFlagsBroadcast(corpus, eval, "embedding",
      "vec_id", threshold = 0.95).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"flag set must be exactly {1,3}: $got")
    // empty eval set flags nothing
    assert(VectorOps.cosineFlagsBroadcast(corpus, eval.where(lit(false)),
      "embedding", "vec_id", 0.5).count() == 0)
    // an over-cap eval side is refused, never spilled through collect
    val bigEval = (0 until 4).map(i => Tuple1(Array(i.toFloat, 1f, 0f)))
      .toDF("embedding")
    intercept[IllegalArgumentException] {
      VectorOps.cosineFlagsBroadcast(corpus, bigEval, "embedding",
        "vec_id", 0.5, maxEval = 2)
    }
  }

  test("marginMiningQuantized: hand-replayed margins, hub demotion, partitioning independence") {
    val s = spark
    import s.implicits._
    // t5 is a HUB: cosine-closest to BOTH sources, so raw-cosine argmax
    // picks it for s2 — the margin criterion must demote it (its
    // backward neighborhood is uniformly strong) in favor of t3
    val srcRows = Seq((0L, Array(1f, 0f)), (2L, Array(0.6f, 0.8f)))
    val tgtRows = Seq((1L, Array(1f, 0f)), (3L, Array(0f, 1f)),
      (5L, Array(0.8f, 0.6f)))
    val srcDf = srcRows.toDF("vec_id", "embedding")
    val tgtDf = tgtRows.toDF("vec_id", "embedding")
    val k = 2
    // reference replay with the engine's exact INTEGER arithmetic
    // (the r14 contract: no float anywhere — µ-unit quantized
    // normalization then exact long dot products, so the replay is a
    // pure integer function of the fixture floats)
    def unitQ(a: Array[Float]): Array[Long] = {
      val q = a.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val n2 = q.map(x => x * x).sum
      val nrm = math.floor(math.sqrt(n2.toDouble)).toLong
      if (nrm == 0L) q.map(_ => 0L)
      else q.map(x => ((x * 1000000L).toDouble / nrm).toLong)
    }
    def qc(a: Array[Float], b: Array[Float]): Long = {
      val (ua, ub) = (unitQ(a), unitQ(b))
      ua.indices.map(i => ua(i) * ub(i)).sum
    }
    val fwdTop = srcRows.map { case (sid, sv) =>
      sid -> tgtRows.map { case (tid, tv) => (tid, qc(sv, tv)) }
        .sortBy { case (tid, c) => (-c, tid) }.take(k)
    }.toMap
    val bwdTop = tgtRows.map { case (tid, tv) =>
      tid -> srcRows.map { case (sid, sv) => (sid, qc(tv, sv)) }
        .sortBy { case (sid, c) => (-c, sid) }.take(k)
    }.toMap
    val sa = srcRows.map { case (sid, _) => sid ->
      fwdTop(sid).map(_._2).sum }.toMap
    val sb = tgtRows.map { case (tid, _) => tid ->
      bwdTop(tid).map(_._2).sum }.toMap
    val expected = srcRows.map { case (sid, _) =>
      val best = fwdTop(sid).map { case (tid, c) =>
        (tid, 2L * k * c - sa(sid) - sb(tid))
      }.sortBy { case (tid, m) => (-m, tid) }.head
      (sid, best._1, best._2)
    }.toSet
    val got = VectorOps.marginMiningQuantized(srcDf, tgtDf, "vec_id",
      "embedding", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"got $got expected $expected")
    // the hub effect the margin exists for: s2's raw-cosine argmax IS
    // the hub t5, but its margin winner is t3
    assert(fwdTop(2L).head._1 == 5L, "fixture must make t5 s2's raw argmax")
    assert(got.exists { case (sid, tid, _) => sid == 2L && tid == 3L },
      s"margin must demote the hub for s2: $got")
    // positive margin for the genuinely-matched source
    assert(got.exists { case (sid, _, m) => sid == 0L && m > 0L })
    // partitioning independence: integer margins end to end
    val rep = VectorOps.marginMiningQuantized(srcDf.repartition(5),
      tgtDf.repartition(3), "vec_id", "embedding", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rep == got, "partitioning must not change mined pairs")
  }

  test("CosinePair fused expression: bit-equal with the HOF reference, null contract, interpreted parity") {
    val s = spark
    import s.implicits._
    // adversarial values: negatives, zeros, subnormal-ish smalls, a
    // zero vector (NaN via 0/0), mixed magnitudes
    val rnd = new scala.util.Random(7)
    val base = (0 until 64).map { i =>
      val v = Array.fill(16)((rnd.nextFloat() - 0.5f) * (if (i % 7 == 0) 1e-6f else 10f))
      v(0) += 1e-9f // keep norms nonzero: the HOF throws under ANSI on 0/0
      (i.toLong, v)
    }
    val pairs = base.flatMap { case (ia, va) =>
      base.take(8).map { case (ib, vb) => (ia * 100 + ib, va, vb) } }
    val df = pairs.toDF("pid", "va", "vb")
    val both = df.select(col("pid"),
      VectorOps.cosineSimCols(col("va"), col("vb")).as("fused"),
      HofReference.cosineSimColsHof(col("va"), col("vb")).as("hof"))
      .collect()
    both.foreach { r =>
      val f = r.getDouble(1); val h = r.getDouble(2)
      assert(java.lang.Double.doubleToRawLongBits(f) ==
        java.lang.Double.doubleToRawLongBits(h),
        s"pid ${r.getLong(0)}: fused $f != hof $h (bitwise)")
    }
    // null contract parity: null array, null element, length mismatch
    val edge = Seq(
      (1L, Array(1f, 2f), null.asInstanceOf[Array[Float]]),
      (3L, Array(1f, 2f), Array(3f, 4f, 5f))
    ).toDF("pid", "va", "vb")
      .union(Seq((2L, Seq(Some(1f), None), Seq(Some(3f), Some(4f))))
        .toDF("pid", "va", "vb"))
    val er = edge.select(col("pid"),
      VectorOps.cosineSimCols(col("va"), col("vb")).as("fused"),
      HofReference.cosineSimColsHof(col("va"), col("vb")).as("hof"))
      .collect()
    er.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"pid ${r.getLong(0)}: fused null=${r.isNullAt(1)} hof null=${r.isNullAt(2)}")
      assert(r.isNullAt(1), s"pid ${r.getLong(0)} must be null")
    }
    // degenerate vectors: the documented deliberate divergence — the
    // HOF under ANSI throws on the zero-norm division, and a raw NaN
    // would PASS every >= theta filter (Spark compares NaN greater
    // than everything); the fused form returns NULL, which fails
    // every threshold and ranks nulls-last
    val zdf = Seq(
      (9L, Array(0f, 0f), Array(1f, 2f)),
      (10L, Array(Float.NaN, 1f), Array(1f, 2f))
    ).toDF("pid", "va", "vb")
    val zr = zdf.select(col("pid"),
      VectorOps.cosineSimCols(col("va"), col("vb")).as("c"),
      (VectorOps.cosineSimCols(col("va"), col("vb")) >= 0.0).as("gate"))
      .collect()
    zr.foreach { r =>
      assert(r.isNullAt(1), s"pid ${r.getLong(0)} must be null, got $r")
      assert(r.isNullAt(2) || !r.getBoolean(2),
        s"pid ${r.getLong(0)}: a degenerate row must never pass a threshold")
    }
    intercept[Exception] {
      zdf.where(col("pid") === 9L)
        .select(HofReference.cosineSimColsHof(col("va"), col("vb"))).collect()
    }
    // interpreted eval matches the codegen'd DataFrame result
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    val (_, va0, vb0) = pairs.head
    val lit1 = CatLit.create(va0, ArrayType(FloatType, false))
    val lit2 = CatLit.create(vb0, ArrayType(FloatType, false))
    val interp = graft.functions.CosinePair(lit1, lit2)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Double]
    val fromDf = both.find(_.getLong(0) == pairs.head._1).get.getDouble(1)
    assert(java.lang.Double.doubleToRawLongBits(interp) ==
      java.lang.Double.doubleToRawLongBits(fromDf),
      s"interpreted $interp != codegen $fromDf")
  }

  test("IntDotProduct fused expression: bit-equal with the HOF fold, null/overflow contract, interpreted parity") {
    val s = spark
    import s.implicits._
    // value parity over adversarial longs: negatives, zeros, mixed
    // magnitudes up to the mu-unit ceiling (1e6) and beyond
    val rnd = new scala.util.Random(13)
    val base = (0 until 48).map { i =>
      (i.toLong, Array.fill(24)(
        (rnd.nextLong() % 2000003L) * (if (i % 5 == 0) 1L else 7L)))
    }
    val pairs = base.flatMap { case (ia, va) =>
      base.take(6).map { case (ib, vb) => (ia * 100 + ib, va, vb) } }
    val both = pairs.toDF("pid", "va", "vb").select(col("pid"),
      VectorOps.intDotCol(col("va"), col("vb")).as("fused"),
      HofReference.intDotColHof(col("va"), col("vb")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"pid ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}")
    }
    // null contract: null array, null element, length mismatch (both
    // directions), empty arrays -> the HOF's exact outcomes
    val edge = Seq(
      (1L, Array(1L, 2L), null.asInstanceOf[Array[Long]]),
      (3L, Array(1L, 2L), Array(3L, 4L, 5L)),
      (4L, Array(1L, 2L, 3L), Array(3L, 4L)),
      (5L, Array.empty[Long], Array.empty[Long])
    ).toDF("pid", "va", "vb")
      .union(Seq((2L, Seq(Some(1L), None), Seq(Some(3L), Some(4L))))
        .toDF("pid", "va", "vb"))
    val er = edge.select(col("pid"),
      VectorOps.intDotCol(col("va"), col("vb")).as("fused"),
      HofReference.intDotColHof(col("va"), col("vb")).as("hof"))
      .collect()
    er.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2),
        s"pid ${r.getLong(0)}: fused null=${r.isNullAt(1)} hof null=${r.isNullAt(2)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"pid ${r.getLong(0)}: $r")
    }
    assert(er.find(_.getLong(0) == 5L).exists(r => !r.isNullAt(1) &&
      r.getLong(1) == 0L), "empty arrays must fold to the zero element")
    // ANSI overflow parity: a product past 2^63 throws in BOTH forms
    // (loud, never wraps) — even with an earlier null pair, because
    // zip_with materializes every product before the fold
    val ovr = Seq((9L, Seq(Some(1L), Some(Long.MaxValue)),
      Seq(None: Option[Long], Some(2L)))).toDF("pid", "va", "vb")
    intercept[Exception] {
      ovr.select(VectorOps.intDotCol(col("va"), col("vb"))).collect()
    }
    intercept[Exception] {
      ovr.select(HofReference.intDotColHof(col("va"), col("vb"))).collect()
    }
    // ...but a sum that would only overflow AFTER a null pair stays
    // null-poisoned and silent in both forms
    val post = Seq((11L, Seq(None: Option[Long], Some(Long.MaxValue), Some(Long.MaxValue)),
      Seq(Some(1L), Some(1L), Some(1L)))).toDF("pid", "va", "vb")
    val pr = post.select(VectorOps.intDotCol(col("va"), col("vb")).as("f"),
      HofReference.intDotColHof(col("va"), col("vb")).as("h")).collect()
    assert(pr.head.isNullAt(0) && pr.head.isNullAt(1),
      s"post-null sums must poison, not throw: ${pr.head}")
    // interpreted eval matches the codegen'd result
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.types._
    val (_, va0, vb0) = pairs.head
    val lit1 = CatLit.create(va0, ArrayType(LongType, false))
    val lit2 = CatLit.create(vb0, ArrayType(LongType, false))
    val interp = graft.functions.IntDotProduct(lit1, lit2)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
    assert(interp == both.find(_.getLong(0) == pairs.head._1).get.getLong(1),
      "interpreted eval diverges from codegen")
  }

  test("kthNeighborScore: brute-replayed scores, planted outlier ranks last") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // 20 rows in two tight groups + one planted isolate on a spare axis
    val rows = (0 until 20).map { i =>
      val v = Array.fill(8)(rnd.nextFloat() * 0.01f)
      if (i == 19) v(7) = 10f else v(i % 2) = 1f
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 4
    val expected = rows.map { case (id, v) =>
      val kth = rows.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cos(v, ov)) }
        .sortBy { case (oid, c) => (-c, oid) }(Ordering.Tuple2(
          Ordering.Double.TotalOrdering, Ordering.Long))(k - 1)
      id -> math.round(kth._2 * 1000000000L)
    }.toMap
    val got = VectorOps.kthNeighborScore(df, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"got $got expected $expected")
    // the planted isolate has the LOWEST kth cosine
    assert(got.minBy(_._2)._1 == 19L, s"isolate must rank most isolated: $got")
    // partitioning independence
    val rep = VectorOps.kthNeighborScore(df.repartition(7), "vec_id",
      "embedding", k).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got)
  }

  test("marginMiningMutual: one-directional bests drop, mutual pair survives") {
    val s = spark
    import s.implicits._
    // both sources' forward best is t1, but t1's backward best is s0 —
    // so s2's (2,1) is one-directional and must be dropped, and since
    // s2's own favorite is taken, s2 contributes NO mutual pair;
    // t3's backward best (s2) is likewise not s2's forward best
    val srcDf = Seq((0L, Array(1f, 0.001f)), (2L, Array(0.9f, 0.436f)))
      .toDF("vec_id", "embedding")
    val tgtDf = Seq((1L, Array(1f, 0f)), (3L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val fwd = VectorOps.marginMiningQuantized(srcDf, tgtDf, "vec_id",
      "embedding", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fwd == Set((0L, 1L), (2L, 1L)),
      s"fixture must make both sources prefer t1: $fwd")
    val mutual = VectorOps.marginMiningMutual(srcDf, tgtDf, "vec_id",
      "embedding", k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mutual == Set((0L, 1L)), s"mutual must keep only (0,1): $mutual")
    // mutual is a subset of the forward bests by construction
    assert(mutual.subsetOf(fwd))
  }

  test("margin integer contract: real-corpus replay is float-free and summation-order-free") {
    // The r12/r13 driver flakes were last-ULP cosine drift on a
    // DIFFERENT DuckDB binary flipping a q9 grid cell (judge-measured:
    // selected candidates 1.4e-13-in-cosine from a boundary). The r14
    // contract removes the float: this test proves it on the REAL
    // sf0.001 corpus by (a) replaying the full miner in pure JVM
    // integer arithmetic (BigInt dots — no double anywhere past the
    // per-component quantization) and demanding exact set equality,
    // and (b) mechanically verifying the oracle-side claim that
    // list_dot_product over the quantized unit vectors is exact in
    // ANY summation order: every component product and every partial
    // sum stays below 2^53, so double accumulation in any permutation
    // yields the identical integer.
    val s = spark
    val rows = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // the oracle's quantize-normalize, replayed in exact JVM integers
    // (BigDecimal HALF_UP == Spark round == DuckDB round on every
    // double — the q9 shortest-decimal argument)
    def unitQ(a: Array[Float]): Array[Long] = {
      val q = a.map(x => BigDecimal(x.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val nrm = math.floor(math.sqrt(
        q.map(x => BigInt(x) * BigInt(x)).sum.toDouble)).toLong
      if (nrm == 0L) q.map(_ => 0L)
      else q.map(x => ((x * 1000000L).toDouble / nrm).toLong)
    }
    val unit = rows.map { case (id, v) => id -> unitQ(v) }.toMap
    val src = rows.filter(_._1 % 2 == 0).map(_._1)
    val tgt = rows.filter(_._1 % 2 == 1).map(_._1)
    val k = 4
    def dotB(a: Array[Long], b: Array[Long]): BigInt =
      a.indices.map(i => BigInt(a(i)) * BigInt(b(i))).sum
    // (a) full-miner replay in BigInt
    val qc = (for (si <- src; ti <- tgt)
      yield (si, ti) -> dotB(unit(si), unit(ti))).toMap
    def topK(keys: Seq[Long], per: Long => Seq[(Long, BigInt)]) =
      keys.map(x => x -> per(x).sortBy { case (o, c) => (-c, o) }.take(k)).toMap
    val fwd = topK(src.toSeq, x => tgt.toSeq.map(t => t -> qc((x, t))))
    val bwd = topK(tgt.toSeq, y => src.toSeq.map(t => t -> qc((t, y))))
    val sa = fwd.map { case (x, c) => x -> c.map(_._2).sum }
    val sb = bwd.map { case (y, c) => y -> c.map(_._2).sum }
    val expected = src.toSeq.map { x =>
      val best = fwd(x).map { case (t, c) =>
        (t, BigInt(2 * k) * c - sa(x) - sb(t)) }
        .sortBy { case (t, m) => (-m, t) }.head
      (x, best._1, best._2.toLong)
    }.toSet
    val sDf = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = VectorOps.marginMiningQuantized(
        sDf.where(org.apache.spark.sql.functions.col("vec_id") % 2 === 0),
        sDf.where(org.apache.spark.sql.functions.col("vec_id") % 2 === 1),
        "vec_id", "embedding", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"engine diverged from the pure-integer replay: ${got.diff(expected)}")
    // (b) order-free double accumulation: headroom + permutation sweep
    val rnd = new scala.util.Random(11)
    val sample = rnd.shuffle(qc.keys.toList).take(200)
    sample.foreach { case (si, ti) =>
      val (a, b) = (unit(si), unit(ti))
      val prods = a.indices.map(i => a(i).toDouble * b(i).toDouble)
      // every product and every possible partial-sum magnitude is an
      // integer below 2^53 — the exactness precondition
      assert(prods.forall(p => math.abs(p) < 9.007199254740992e15 && p == math.rint(p)))
      assert(prods.map(math.abs).sum < 9.007199254740992e15)
      val exact = dotB(a, b)
      val orders = (0 until 20).map(_ => rnd.shuffle(prods.toList)) ++
        Seq(prods.toList.reverse, prods.toList)
      orders.foreach { o =>
        assert(BigInt(o.sum.toLong) == exact,
          s"summation order changed the dot for ($si,$ti)")
      }
    }
  }

  test("degenerate vectors are not neighbors: uniform NULL contract across knn paths") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // 12 healthy rows + one zero-norm row (id 99) + one NaN row (id 98)
    val healthy = (0 until 12).map { i =>
      val v = Array.fill(8)(rnd.nextFloat() * 0.01f); v(i % 2) = 1f
      (i.toLong, v)
    }
    val rows = healthy ++ Seq(
      (99L, Array.fill(8)(0f)),
      (98L, { val v = Array.fill(8)(1f); v(0) = Float.NaN; v }))
    val df = rows.toDF("vec_id", "embedding")
    val k = 4
    // kthNeighborScore: degenerates absent, healthy rows score against
    // HEALTHY neighbors only (the brute replay over the healthy set)
    val got = VectorOps.kthNeighborScore(df, "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(99L) && !got.contains(98L),
      s"degenerate rows must be absent: $got")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = healthy.map { case (id, v) =>
      val kth = healthy.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cos(v, ov)) }
        .sortBy { case (oid, c) => (-c, oid) }(Ordering.Tuple2(
          Ordering.Double.TotalOrdering, Ordering.Long))(k - 1)
      id -> math.round(kth._2 * 1000000000L)
    }.toMap
    assert(got == expected,
      s"degenerates must not displace true neighbors: $got vs $expected")
    // knnJoin itself: no degenerate id ever appears as a neighbor, and
    // no query_id for the degenerate rows
    val nn = VectorOps.knnJoin(df, df, "embedding", "vec_id", k).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!nn.exists { case (q, n) => n == 99L || n == 98L },
      "degenerate rows must never rank as neighbors")
    assert(!nn.exists { case (q, _) => q == 99L || q == 98L },
      "degenerate query rows have no neighbors")
    // cosineSim (vector-vs-query) carries the same contract: null for
    // a zero-norm row, so it fails thresholds and sorts last
    val relRows = df.select(col("vec_id"),
      VectorOps.cosineSim(col("embedding"),
        Seq.fill(8)(1.0)).as("rel")).collect()
    relRows.foreach { r =>
      val id = r.getLong(0)
      if (id == 99L || id == 98L) assert(r.isNullAt(1), s"id $id must be null")
      else assert(!r.isNullAt(1) && !r.getDouble(1).isNaN)
    }
    // mmrRerank over a pool containing a null-rel row must not crash
    // and must never pick the degenerate
    val pool = df.select(col("vec_id").as("id"), col("embedding").as("v"),
      VectorOps.cosineSim(col("embedding"), Seq.fill(8)(1.0)).as("rel"))
    val picks = VectorOps.mmrRerank(pool, "id", "v", "rel", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(picks.size == 5 && !picks.contains(99L) && !picks.contains(98L),
      s"mmr must skip degenerates: $picks")
  }

  test("knnJoinScored._score is bit-equal to CosinePair; _qscore is its q9 grid cell") {
    // the margin/outlier paths consume the kernel's score instead of
    // joining vectors back — this spec closes the "bit-equal by
    // construction" claim: re-evaluate every scored pair through the
    // fused CosinePair expression and compare RAW BITS, over a random
    // corpus + planted exact twins (grid ties) + degenerates
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    val healthy = (0 until 40).map { i =>
      (i.toLong, Array.fill(12)(rnd.nextFloat() * 2f - 1f))
    }
    val twins = Seq((100L, healthy(3)._2.clone()), (101L, healthy(7)._2.clone()))
    val degenerates = Seq((98L, Array.fill(12)(0f)),
      (97L, { val v = Array.fill(12)(1f); v(2) = Float.NaN; v }))
    val df = (healthy ++ twins ++ degenerates).toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 6 || col("vec_id") === 98L)
    def checkParity(scored: org.apache.spark.sql.DataFrame): Unit = {
      val rows = scored
        .join(df.select(col("vec_id").as("query_id"),
          col("embedding").as("_qv")), "query_id")
        .join(df.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("_nv")), "neighbor_id")
        .withColumn("_pair", VectorOps.cosineSimCols(col("_qv"), col("_nv")))
        .select("query_id", "neighbor_id", "_score", "_qscore", "_pair")
        .collect()
      assert(rows.length == 6 * 5, s"expected 6 healthy queries x k=5: ${rows.length}")
      rows.foreach { r =>
        assert(!r.isNullAt(4),
          s"degenerate pair survived selection: ${r.getLong(0)} -> ${r.getLong(1)}")
        val sc = r.getDouble(2); val qsc = r.getLong(3); val pair = r.getDouble(4)
        assert(java.lang.Double.doubleToRawLongBits(sc) ==
          java.lang.Double.doubleToRawLongBits(pair),
          s"kernel _score != CosinePair for (${r.getLong(0)}, ${r.getLong(1)}): $sc vs $pair")
        assert(qsc == VectorOps.q9(sc),
          s"_qscore off its q9 grid cell for (${r.getLong(0)}, ${r.getLong(1)}): $qsc vs ${VectorOps.q9(sc)}")
      }
      // the planted twins tie with their originals on the grid; the id
      // tie-break must put the ORIGINAL (smaller id) first wherever
      // both rank
      val byQuery = rows.groupBy(_.getLong(0))
      byQuery.foreach { case (qid, rs) =>
        val ids = rs.map(_.getLong(1)).toSet
        Seq((3L, 100L), (7L, 101L)).foreach { case (orig, twin) =>
          // (skip when the original IS the query — excludeSelf drops it
          // while its identical twin legitimately ranks)
          if (qid != orig && ids.contains(twin)) assert(ids.contains(orig),
            s"twin $twin ranked without its smaller-id original $orig: $ids")
        }
      }
    }
    // broadcast heap kernel
    checkParity(VectorOps.knnJoinScored(df, queries, "embedding", "vec_id", k = 5))
    // label passthrough: same ranks as knnJoin, labels equal to the
    // two-join-back formulation it replaces (kernel + distributed)
    val lab = df.withColumn("lab", (col("vec_id") % 3).cast("string"))
    val viaKernel = VectorOps.knnJoinLabeled(lab, lab.where(col("vec_id") < 6),
        "embedding", "vec_id", "lab", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSet
    val plain = VectorOps.knnJoin(lab, lab.where(col("vec_id") < 6),
      "embedding", "vec_id", k = 5)
    val viaJoins = plain
      .join(lab.select(col("vec_id").as("query_id"),
        col("lab").as("_ql")), "query_id")
      .join(lab.select(col("vec_id").as("neighbor_id"),
        col("lab").as("_nl")), "neighbor_id")
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getLong(r.fieldIndex("neighbor_id")),
        r.getLong(r.fieldIndex("rank")),
        r.getString(r.fieldIndex("_ql")),
        r.getString(r.fieldIndex("_nl")))).toSet
    assert(viaKernel == viaJoins,
      s"labeled kernel vs join-backs: ${viaKernel.diff(viaJoins)} / ${viaJoins.diff(viaKernel)}")
    // distributed reroute at full probe — same contract, same columns
    val model = VectorOps.trainIvf(df.where(col("vec_id") <= 101L &&
      col("vec_id") =!= 97L && col("vec_id") =!= 98L), "embedding", nlist = 4, iters = 2)
    checkParity(VectorOps.knnJoinDistributed(df, queries, "embedding",
      "vec_id", k = 5, model, nprobe = 4, excludeSelf = true,
      excludeLabelCol = None, keepScore = true))
  }

  test("q9 equals Spark's executed round(x*1e9) on random and boundary-adversarial doubles") {
    // the selection grid's load-bearing claim: the JVM heap kernels
    // (q9) and the declarative windows (q9Col -> Spark round) can
    // never disagree on a value's grid cell. Ground truth here is the
    // EXECUTED Spark expression, not a reimplementation.
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(97)
    val random = Seq.fill(4000)(rnd.nextDouble() * 2.2 - 1.1)
    // adversarial: cosines whose scaled form sits within ulps of a
    // half-grid boundary z + 0.5 — where floor(x+0.5)'s addition
    // rounding diverges from true half-away rounding
    val boundary = for {
      z <- Seq(0L, 1L, 2L, 7L, 999999999L, -1L, -2L, -999999999L)
      shift <- -3 to 3
    } yield {
      var x = (z + 0.5) / 1e9
      val dir = if (shift >= 0) Double.MaxValue else Double.MinValue
      for (_ <- 0 until math.abs(shift)) x = math.nextAfter(x, dir)
      x
    }
    // the classic pathology class: x where x + 0.5 rounds across the
    // integer despite x < z + 0.5 exactly
    val pathological = Seq(0.49999999999999994 / 1e9,
      (1L << 40) * 1.0 / 1e9, -0.49999999999999994 / 1e9)
    val values = (random ++ boundary ++ pathological).distinct
    val executed = values.toDF("x")
      .select(col("x"), round(col("x") * lit(1000000000L)).cast("long").as("q"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    values.foreach { v =>
      assert(VectorOps.q9(v) == executed(v),
        s"q9($v) = ${VectorOps.q9(v)} but Spark round gives ${executed(v)}")
    }
  }

  test("kthNeighborScoreIvf: full probe equals exact; pruned probe keeps the isolation set") {
    val df = vecs(400, 16).cache()
    val exact = VectorOps.kthNeighborScore(df, "_id", "emb", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val model = VectorOps.trainIvf(df, "emb", nlist = 8, iters = 2)
    // nprobe = nlist: every cluster probed -> bit-equal with exact
    val full = VectorOps.kthNeighborScoreIvf(df, "_id", "emb", k = 4,
        model, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == exact, s"full-probe mismatch: ${full.size} vs ${exact.size}")
    // pruned probe: scores can only DROP (a missed neighbor inflates
    // isolation — kth_qcos is a lower bound... on similarity, so the
    // quantized cosine can only be <= the exact one), and the exact
    // bottom-20 overlaps the approximate bottom-20 at >= 0.8
    val pruned = VectorOps.kthNeighborScoreIvf(df, "_id", "emb", k = 4,
        model, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pruned.foreach { case (id, q) =>
      assert(q <= exact(id), s"pruned kth score above exact for $id")
    }
    def bottom(m: Map[Long, Long], n: Int) =
      m.toSeq.sortBy { case (id, q) => (q, id) }.take(n).map(_._1).toSet
    val overlap = (bottom(exact, 20) intersect bottom(pruned, 20)).size
    assert(overlap >= 16, s"isolation-set overlap too low: $overlap/20")
    df.unpersist()
  }

  test("RankEval: hand-computed MRR/hits/nDCG, k cap, no-rel zeros, duplicate qrels") {
    val s = spark
    import s.implicits._
    import graft.search.RankEval
    val k = 10
    val w = RankEval.dcgWeights(k)
    val cw = RankEval.cumDcgWeights(k)
    assert(w.head == 1000000000L) // w(1) = 1e9 / log2(2)
    assert(cw(1) == w(0) + w(1))
    val runs = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L), (1L, 13L, 4L),
      (1L, 14L, 11L), // beyond k: relevant but MUST not count
      (2L, 10L, 1L), (2L, 11L, 2L),
      (3L, 10L, 1L), (3L, 11L, 2L), (3L, 12L, 3L)
    ).toDF("query_id", "doc_id", "rank")
    val rels = Seq(
      (1L, 11L), (1L, 11L), // duplicate qrel collapses
      (1L, 13L), (1L, 99L), // 99 never retrieved
      (1L, 14L),            // retrieved only past k
      (3L, 10L), (3L, 11L), (3L, 12L)
    ).toDF("query_id", "doc_id")
    def collectRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    val got = collectRows(RankEval.rankEvalReport(runs, rels, k))
    // q1: rel hits at ranks 2 and 4; n_rel = 4 (11,13,99,14); idcg =
    // cum(4); AP: P@2 = 1/2, P@4 = 2/4 -> apsum = 1e9, div min(4,10)
    val dcg1 = w(1) + w(3)
    val ap1 = (1000000000L * 1L / 2L + 1000000000L * 2L / 4L) / 4L
    assert(got(1L) == ((2L, 4L, 2L, 500000000L, dcg1,
      dcg1 * 1000000L / cw(3), ap1)), s"${got(1L)}")
    // q2: no qrels at all -> all zeros
    assert(got(2L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)), s"${got(2L)}")
    // q3: perfect ranking -> ndcg exactly 1e6, AP exactly 1e9
    assert(got(3L) == ((3L, 3L, 1L, 1000000000L, cw(2), 1000000L,
      1000000000L)), s"${got(3L)}")
    val sum = RankEval.rankEvalSummary(
      RankEval.rankEvalReport(runs, rels, k)).head
    assert(sum.getLong(0) == 3L)
    assert(sum.getLong(1) == (500000000L + 0L + 1000000000L) / 3L)
    assert(sum.getLong(2) ==
      (dcg1 * 1000000L / cw(3) + 0L + 1000000L) / 3L)
    assert(sum.getLong(3) == (ap1 + 0L + 1000000000L) / 3L)
    // partitioning independence: exact integers at any layout
    val rep = collectRows(
      RankEval.rankEvalReport(runs.repartition(7), rels.repartition(3), k))
    assert(rep == got)
    // A/B summary: run B degrades q1 (first relevant pushed to rank 3)
    // and q3 (2 of 3 relevants dropped from the top-k), q2 stays
    // all-zero -> wins_a = 2, losses_a = 0, ties = 1; means trunc-div
    val runsB = Seq(
      (1L, 90L, 1L), (1L, 91L, 2L), (1L, 11L, 3L),
      (2L, 92L, 1L),
      (3L, 10L, 1L), (3L, 93L, 2L), (3L, 94L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val repA = RankEval.rankEvalReport(runs, rels, k)
    val repB = RankEval.rankEvalReport(runsB, rels, k)
    val ab = RankEval.rankEvalAbSummary(repA, repB).head
    val gb = collectRows(repB)
    assert(ab.getLong(0) == 3L && ab.getLong(1) == 2L &&
      ab.getLong(2) == 0L && ab.getLong(3) == 1L,
      s"wins/losses/ties: $ab (B per-query: $gb)")
    assert(ab.getLong(4) == (500000000L + 0L + 1000000000L) / 3L,
      "mrr_a must equal run A's own summary")
    assert(ab.getLong(5) ==
      (gb(1L)._4 + gb(2L)._4 + gb(3L)._4) / 3L, s"mrr_b: $ab")
  }

  test("marginMiningIvf: all-clusters probe equals the exact miner; pruning is deterministic and recall-bounded") {
    val df = vecs(240, 16).cache()
    val srcE = df.where(col("_id") % 2 === 0).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    val tgtE = df.where(col("_id") % 2 === 1).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    val exact = VectorOps.marginMiningQuantized(srcE, tgtE, "vec_id",
        "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe = nlist probes every cluster: candidate sets equal the
    // brute kernel's, so pairs AND margins must be bit-equal — the
    // blocking decides only WHERE candidates come from
    val allProbe = VectorOps.marginMiningIvf(srcE, tgtE, "vec_id",
        "embedding", k = 4, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allProbe == exact,
      s"all-clusters IVF mining must equal the exact miner: " +
        s"${allProbe.diff(exact)} / ${exact.diff(allProbe)}")
    // pruned probe: deterministic (same set on a different
    // partitioning) and recall-bounded against the exact argmaxes
    val pruned = VectorOps.marginMiningIvf(srcE, tgtE, "vec_id",
        "embedding", k = 4, nlist = 8, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prunedRep = VectorOps.marginMiningIvf(srcE.repartition(7), tgtE,
        "vec_id", "embedding", k = 4, nlist = 8, nprobe = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(prunedRep == pruned, "partitioning must not change the mined set")
    val exactPairs = exact.map(t => (t._1, t._2))
    val prunedPairs = pruned.map(t => (t._1, t._2))
    val overlap = exactPairs.intersect(prunedPairs).size
    assert(overlap * 100 >= exactPairs.size * 60,
      s"pruned mining recall collapsed: $overlap of ${exactPairs.size}")
    intercept[IllegalArgumentException] {
      VectorOps.marginMiningIvf(srcE, tgtE, "vec_id", "embedding",
        k = 4, nlist = 8, nprobe = 9)
    }
    df.unpersist()
  }

  test("marginMiningPq: full-candidate pool equals the exact miner; pruned pool is deterministic and recall-bounded") {
    val df = vecs(240, 16).cache()
    val srcE = df.where(col("_id") % 2 === 0).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    val tgtE = df.where(col("_id") % 2 === 1).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    val exact = VectorOps.marginMiningQuantized(srcE, tgtE, "vec_id",
        "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cand = the whole other side: the ADC pool covers everything, the
    // integer re-rank IS intDotTopK's selection — pairs AND margins
    // bit-equal to the exact miner (ADC decides only the POOL)
    val full = VectorOps.marginMiningPq(srcE, tgtE, "vec_id",
        "embedding", k = 4, cand = 120)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact,
      s"full-pool PQ mining must equal the exact miner: " +
        s"${full.diff(exact)} / ${exact.diff(full)}")
    // pruned pool (the production shape): deterministic across
    // partitionings, argmax recall bounded against the exact miner
    val pruned = VectorOps.marginMiningPq(srcE, tgtE, "vec_id",
        "embedding", k = 4, cand = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prunedRep = VectorOps.marginMiningPq(srcE.repartition(7), tgtE,
        "vec_id", "embedding", k = 4, cand = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(prunedRep == pruned, "partitioning must not change the mined set")
    val exactPairs = exact.map(t => (t._1, t._2))
    val overlap = exactPairs.intersect(pruned.map(t => (t._1, t._2))).size
    assert(overlap * 100 >= exactPairs.size * 60,
      s"PQ-pool mining recall collapsed: $overlap of ${exactPairs.size}")
    intercept[IllegalArgumentException] {
      VectorOps.marginMiningPq(srcE, tgtE, "vec_id", "embedding",
        k = 4, cand = 3)
    }
    df.unpersist()
  }

  test("marginMiningPq with IVF masks: full probe bit-equals the unpruned form; pruned probe is deterministic") {
    val df = vecs(240, 16).cache()
    val srcE = df.where(col("_id") % 2 === 0).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    val tgtE = df.where(col("_id") % 2 === 1).select(col("_id").as("vec_id"),
      col("emb").as("embedding"))
    def run(nlist: Int, np: Int, s: org.apache.spark.sql.DataFrame = srcE) =
      VectorOps.marginMiningPq(s, tgtE, "vec_id", "embedding",
        k = 4, cand = 16, ivfNlist = nlist, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe == nlist: every mask covers the corpus, the candidate
    // pool is the unpruned pool, pairs AND margins bit-equal
    val unpruned = run(0, 0)
    assert(run(8, 8) == unpruned,
      "full-probe IVF masks must not change the mined set")
    // pruned (the production shape): deterministic across
    // partitionings, and still a subset-quality pool the in-plan
    // overlap gate measures (recall asserted by the query's gate, not
    // a flaky bound here)
    val pruned = run(8, 4)
    assert(run(8, 4, srcE.repartition(7)) == pruned,
      "partitioning must not change the IVF-pruned mined set")
    intercept[IllegalArgumentException] {
      VectorOps.marginMiningPq(srcE, tgtE, "vec_id", "embedding",
        k = 4, cand = 16, ivfNlist = 8, nprobe = 0)
    }
    df.unpersist()
  }

  test("appendText stays EXACTLY fresh under repeated heavy appends — no staleness to gate") {
    // The vector tiers carry an append-drift gate because IVF
    // centroids are a LOSSY trained artifact (appends degrade recall
    // until a recalibration). The text artifact has no analogue BY
    // CONSTRUCTION: postings carry no idf (df derives at query time
    // from the unioned postings) and corpus stats merge in closed
    // form (N' = N + n_delta, avglen' exactly re-weighted) — so an
    // appended artifact IS the cold rebuild of the grown corpus.
    // This spec is that claim, enforced: two successive appends that
    // double then triple the corpus serve scores BIT-EQUAL to a
    // fresh build on the same rows, for every doc and two queries.
    val s = spark
    import s.implicits._
    import graft.search.{BM25, IndexCache}
    // dyadic lengths: every avg is exact in double on BOTH the
    // closed-form merge and the direct mean, so equality is exact
    val a = Seq((1L, "red fox runs fast"), (2L, "red red dog naps now"))
      .toDF("_id", "text")
    val d1 = Seq((3L, "fox fox fox den sleeps well today yes"),
      (4L, "dog dog dog dog barks loud at dawn")).toDF("_id", "text")
    val d2 = Seq((5L, "red den"), (6L, "fox now")).toDF("_id", "text")
    def scores(post: org.apache.spark.sql.DataFrame,
        stats: org.apache.spark.sql.DataFrame, q: String) =
      BM25.scoreFromIndex(post, stats, q).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val spec = graft.ast.IndexSpec.NodeText("D", "text")
    val vap0 = new graft.model.GraphStore(s, Map("D" -> a), Map.empty, Map.empty)
      .withIndexes(Set(spec))
    def key(st: graft.model.GraphStore) = IndexCache.Key(st.version, spec)
    def merged(st: graft.model.GraphStore) =
      IndexCache.textIndex(key(st), sys.error("must be cached"): org.apache.spark.sql.DataFrame)
    IndexCache.textIndex(key(vap0), a)
    val builds0 = IndexCache.textBuilds.get()
    val u1 = a.unionByName(d1)
    val vap1 = vap0.withNodes("D", u1)
    IndexCache.advance(vap0, vap1, appendOnly = true)
    assert(scala.util.Try(merged(vap1)).isSuccess, "first append must take the merge path")
    val u2 = u1.unionByName(d2)
    val vap2 = vap1.withNodes("D", u2)
    IndexCache.advance(vap1, vap2, appendOnly = true)
    assert(scala.util.Try(merged(vap2)).isSuccess, "second append must take the merge path")
    val (pApp, sApp) = merged(vap2)
    // the whole chain cost one delta-build per append, zero rebuilds
    // of the standing corpus through textIndex
    assert(IndexCache.textBuilds.get() == builds0,
      "appends must never trigger a full textIndex rebuild")
    val (pCold, sCold) = BM25.buildIndex(u2, "text")
    // stats exactly equal (N and the closed-form avgdl)
    val mApp = sApp.collect()(0)
    val mCold = sCold.collect()(0)
    assert(mApp.getLong(0) == mCold.getLong(0) &&
      mApp.getDouble(1) == mCold.getDouble(1),
      s"stats must merge exactly: $mApp vs $mCold")
    for (q <- Seq("red fox", "dog den now")) {
      val gotApp = scores(pApp, sApp, q)
      val gotCold = scores(pCold, sCold, q)
      assert(gotApp == gotCold,
        s"appended artifact must serve the rebuild's exact scores " +
          s"for '$q': $gotApp vs $gotCold")
    }
    IndexCache.evictOthers("none")
  }
}

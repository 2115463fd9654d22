package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.search.VectorOps
import graft.pipeline.{Dedup, GraphAlgos, Multimodal}

/** Intra-JVM A/B measurement harness: times an old formulation against
  * its replacement INTERLEAVED in one SparkSession (GC'd noop-sink
  * reps, medians), so ambient drift hits both sides equally. This is
  * the only comparison that works on this host (bursty CPU steal makes
  * cross-JVM before/after timings unusable — same-binary readings
  * swung 7.5→93.8 s; see OPTIMIZATION_r16.md "Measurement
  * environment"). The old formulations below are kept verbatim as the
  * measured baselines of the r16 rewrites; edit the pair list when
  * probing a new change.
  */
object ProbeAB {
  def time(f: => DataFrame): Double = {
    System.gc()
    val t0 = System.nanoTime()
    f.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // args: [reps] [pairName...] — names select pairs (r17 set by
    // default); "r16" selects the r16 baseline set. Parsed before any
    // Spark work; a non-numeric first argument is a pair name.
    val repsArg = args.headOption.flatMap(_.toIntOption)
    val reps = repsArg.getOrElse(5)
    require(reps > 0, s"reps must be positive, got $reps")
    val nameArgs = args.drop(repsArg.size).toSet
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = spark

    def emb = s.read.parquet(s"$d/embeddings.parquet")

    def gateOld(exact: DataFrame, approx: DataFrame, keys: Seq[String]): DataFrame = {
      val nInter = exact.join(approx, keys, "left_semi")
        .agg(count(lit(1)).as("_ni"))
      exact.agg(count(lit(1)).as("n_exact")).crossJoin(nInter)
        .select(col("n_exact"),
          (col("_ni") * 100L >= col("n_exact") * 85L).cast("double")
            .as("recall_gate"))
    }
    def gateNew(exact: DataFrame, approx: DataFrame, keys: Seq[String]): DataFrame = {
      val marked = approx.select(keys.map(col) :+ lit(1).as("_hit"): _*)
      exact.join(marked, keys, "left")
        .agg(count(lit(1)).as("_total"), count(col("_hit")).as("_hits"))
        .select(col("_total").as("n_exact"),
          (col("_hits") * 100L >= col("_total") * 85L).cast("double")
            .as("recall_gate"))
    }

    def minePq(old: Boolean): DataFrame = {
      val e = emb
      val srcE = e.where(col("vec_id") % 2 === 0)
      val tgtE = e.where(col("vec_id") % 2 === 1)
      val exact = VectorOps.marginMiningQuantized(srcE, tgtE,
        "vec_id", "embedding", k = 4)
      val pq = VectorOps.marginMiningPq(srcE, tgtE,
        "vec_id", "embedding", k = 4, cand = 16)
      if (old) gateOld(exact, pq, Seq("src_id", "tgt_id"))
      else gateNew(exact, pq, Seq("src_id", "tgt_id"))
    }
    def mineIvf(old: Boolean): DataFrame = {
      val e = emb
      val srcE = e.where(col("vec_id") % 2 === 0)
      val tgtE = e.where(col("vec_id") % 2 === 1)
      val exact = VectorOps.marginMiningQuantized(srcE, tgtE,
        "vec_id", "embedding", k = 4)
      val ivf = VectorOps.marginMiningIvf(srcE, tgtE,
        "vec_id", "embedding", k = 4, nlist = 16, nprobe = 12)
      if (old) gateOld(exact, ivf, Seq("src_id", "tgt_id"))
      else gateNew(exact, ivf, Seq("src_id", "tgt_id"))
    }

    def docsDf = s.read.parquet(s"$d/documents.parquet")

    // --- r16 second-session probes ---
    // triangle corner count: 3-way unionAll of the closure join (old)
    // vs one explode pass (new); the co-occurrence projection is the
    // shared cached input, so the probe isolates the tail
    def triEdges = GraphAlgos.coOccurrenceCached(
      s.read.parquet(s"$d/lineitem.parquet")
        .where(col("l_partkey") % 20 === 0)
        .select(col("l_partkey").as("p"), col("l_orderkey").as("o")),
      "p", "o")
    def triOld: DataFrame = {
      val edges = triEdges
      val deg = edges.select(col("id_a").as("node_id"))
        .unionAll(edges.select(col("id_b").as("node_id")))
        .groupBy("node_id").agg(count(lit(1)).as("degree"))
      val withDeg = edges
        .join(deg.select(col("node_id").as("id_a"), col("degree").as("_da")), "id_a")
        .join(deg.select(col("node_id").as("id_b"), col("degree").as("_db")), "id_b")
      val lowFirst = col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("id_a") < col("id_b"))
      val oriented = withDeg.select(
        when(lowFirst, col("id_a")).otherwise(col("id_b")).as("_lo"),
        when(lowFirst, struct(col("_db").as("d"), col("id_b").as("i")))
          .otherwise(struct(col("_da").as("d"), col("id_a").as("i"))).as("_hiK"))
        .select(col("_lo"), col("_hiK"), col("_hiK").getField("i").as("_hi"))
      val w1 = oriented.select(col("_lo"), col("_hiK").as("_vK"), col("_hi").as("_v"))
      val w2 = oriented.select(col("_lo"), col("_hiK").as("_wK"), col("_hi").as("_w"))
      val wedges = w1.join(w2, Seq("_lo")).where(col("_vK") < col("_wK"))
        .select(col("_lo"), col("_v"), col("_w"))
      val closing = oriented.select(col("_lo").as("_v"), col("_hi").as("_w"))
      val tris = wedges.join(closing, Seq("_v", "_w"))
      tris.select(col("_lo").as("node_id"))
        .unionAll(tris.select(col("_v").as("node_id")))
        .unionAll(tris.select(col("_w").as("node_id")))
        .groupBy("node_id").agg(count(lit(1)).as("triangles"))
    }
    def triNew: DataFrame = GraphAlgos.triangleCounts(triEdges)

    // banded Hamming cross (multi-frame video): legacy emit-all
    // generator + survivor `.distinct()` (old) vs first-agreeing-band
    // emission, no dedup shuffle (new); frame hashes ride the shared
    // media cache on both sides
    def mfSides: (DataFrame, DataFrame) = {
      val base = docsDf.select("doc_id")
      val batch = Multimodal.mediaFromIdsCached(
        base.select((col("doc_id") + 9000).as("doc_id")), "doc_id",
        only = Some("video"))
      val corpus = Multimodal.mediaFromIdsCached(base, "doc_id",
        only = Some("video"))
      def fh(df: DataFrame) = Multimodal.videoFrameHashes63(df, 8).select(
        (col("media_id") * 64 + col("frame_slot")).as("_fid"),
        col("fhash").as("_h"))
      (fh(batch), fh(corpus))
    }
    def oldCrossPairs(hashesA: DataFrame, hashesB: DataFrame): DataFrame = {
      val (bands, bandBits, maxHam, cap) = (4, 16, 3, Dedup.MaxClusterBlock)
      val mask = (1L << bandBits) - 1
      def banded(hs: DataFrame) = hs.select(
        struct(col("_fid").as("i"), col("_h").as("s")).as("_e"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("bi"),
            shiftright(col("_h"), b * bandBits).bitwiseAND(mask).as("bk"))
        }: _*)).as("_b"))
        .select(col("_e"), col("_b.bi").as("bi"), col("_b.bk").as("bk"))
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
      aBuckets.join(bBuckets, Seq("bi", "bk"))
        .select(graft.functions.HammingBlockPairs(col("_aa"), col("_ab"),
          lit(false), lit(true), lit(maxHam)))
        .select("id_a", "id_b", "hamming").distinct()
    }
    def crossMfOld: DataFrame = {
      val (hashesA, hashesB) = mfSides
      oldCrossPairs(hashesA, hashesB)
        .select(shiftright(col("id_a"), 6).as("id_a"),
          shiftright(col("id_b"), 6).as("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_matched"))
        .where(col("n_matched") >= 2)
    }
    def crossMfNew: DataFrame = {
      val base = docsDf.select("doc_id")
      Multimodal.videoMultiFrameCrossPairs(
        Multimodal.mediaFromIdsCached(
          base.select((col("doc_id") + 9000).as("doc_id")), "doc_id",
          only = Some("video")),
        Multimodal.mediaFromIdsCached(base, "doc_id", only = Some("video")),
        maxHam = 3, k = 8, minMatches = 2)
    }

    // image near-dup: legacy emit-all + distinct (old) vs first-band
    // emission (new) — the bench read 1.44 -> 3.41 on a loaded box;
    // this probe decides load vs regression
    def imgHashes = {
      val base = docsDf.select("doc_id")
      Multimodal.aHash63(Multimodal.mediaFromIdsCached(base, "doc_id",
        only = Some("image"))).where(col("ahash").isNotNull)
    }
    def bandedSelfOld(hs0: DataFrame, idC: String, hC: String): DataFrame = {
      val (bands, bandBits, maxHam, cap) = (4, 16, 3, Dedup.MaxClusterBlock)
      val mask = (1L << bandBits) - 1
      val banded = hs0.select(
        struct(col(idC).as("i"), col(hC).as("s")).as("_e"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("bi"),
            shiftright(col(hC), b * bandBits).bitwiseAND(mask).as("bk"))
        }: _*)).as("_b"))
        .select(col("_e"), col("_b.bi").as("bi"), col("_b.bk").as("bk"))
      val counts = banded.groupBy(col("bi"), col("bk"))
        .agg(count(lit(1)).as("_n")).where(col("_n") > 1)
      val withN = banded.join(counts, Seq("bi", "bk"))
      val gen = (a: Column, b: Column, self: Column) =>
        graft.functions.HammingBlockPairs(a, b, self, lit(false), lit(maxHam))
      val small = withN.where(col("_n") <= cap)
        .groupBy(col("bi"), col("bk"))
        .agg(sort_array(collect_list(col("_e"))).as("_arr"))
        .select(gen(col("_arr"), col("_arr"), lit(true)))
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
        .select(gen(col("_aa"), col("_ab"), col("_p") === col("_q")))
      small.unionByName(big)
        .where(col("id_a") =!= col("id_b"))
        .select("id_a", "id_b", "hamming").distinct()
    }
    def imgOld: DataFrame = bandedSelfOld(imgHashes, "media_id", "ahash")
    def imgNew: DataFrame = Multimodal.imageNearDupPairs(
      Multimodal.mediaFromIdsCached(docsDf.select("doc_id"), "doc_id",
        only = Some("image")), maxHam = 3)

    // star-contraction CC: the old groupBy+join round body (inline,
    // verbatim) vs the window-based round body now in dupClustersStar;
    // driven through the q_doc_dup_clusters_star pair generator
    def ccPairs: DataFrame = {
      val ids = docsDf.select(col("doc_id"))
      ids.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .where(col("id_a") % 40 =!= 39)
        .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    }
    def ccOld: DataFrame = {
      val pairs0 = ccPairs
      val store = new graft.pipeline.Scratch.FrameStore(s)
      val nodes = store.keep(pairs0.select(col("id_a").as("id"))
        .union(pairs0.select(col("id_b").as("id"))).distinct())
      var edges = store.keep(pairs0
        .select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .where(col("u") =!= col("v")).distinct())
      def sig(e: DataFrame): (Long, Long) = {
        val r = e.agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
        (r.getLong(0), r.getLong(1))
      }
      var prev = sig(edges)
      var round = 0
      var converged = false
      while (!converged && round < 30) {
        val bidir = edges.select(col("u"), col("v"))
          .union(edges.select(col("v").as("u"), col("u").as("v")))
        val lsMin = bidir.groupBy(col("u"))
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        val ls = bidir.join(lsMin, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .where(col("u") =!= col("v")).distinct()
        val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
        val ss = store.keep(ls.join(ssMin, "u")
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
      val out = graft.pipeline.Scratch.stable(
        nodes.join(edges, nodes("id") === edges("u"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("v"), col("id")).as("cluster_id")))
      store.release()
      out
    }
    def ccNew: DataFrame = Dedup.dupClustersStar(ccPairs)

    // thumbnail cross pairs: the bench flagged a possible mover here
    def thumbSides: (DataFrame, DataFrame) = {
      val base = docsDf.select("doc_id")
      val ih = Multimodal.aHash63(Multimodal.mediaFromIdsCached(base,
          "doc_id", only = Some("image")))
        .where(col("ahash").isNotNull)
        .select(col("media_id").as("_fid"), col("ahash").as("_h"))
      val fh = Multimodal.videoFrameHashes63(
        Multimodal.mediaFromIdsCached(base, "doc_id", only = Some("video")), 8)
        .select((col("media_id") * 64 + col("frame_slot")).as("_fid"),
          col("fhash").as("_h"))
      (ih, fh)
    }
    def thumbOld: DataFrame = {
      val (ih, fh) = thumbSides
      oldCrossPairs(ih, fh)
        .select(col("id_a").as("image_id"),
          shiftright(col("id_b"), 6).as("video_id"), col("hamming"))
        .groupBy("image_id", "video_id")
        .agg(min(col("hamming")).cast("int").as("best_hamming"))
    }
    def thumbNew: DataFrame = {
      val base = docsDf.select("doc_id")
      Multimodal.thumbnailPairs(
        Multimodal.mediaFromIdsCached(base, "doc_id", only = Some("image")),
        Multimodal.mediaFromIdsCached(base, "doc_id", only = Some("video")),
        maxHam = 3, k = 8)
    }

    // keep-set dedup: per-query pairs+CC rebuild (old) vs the shared
    // memoized cluster table (new); first new rep pays the build, the
    // median reads the steady state every later consumer sees
    def keepOld: DataFrame =
      Dedup.dedupCorpus(docsDf, "doc_id",
        Dedup.minhashPairs(docsDf, "text", "doc_id",
          n = 3, numHashes = 6, bands = 3, num = 3, den = 10))
        .select("doc_id")
    def keepNew: DataFrame =
      Dedup.dedupCorpusByClusters(docsDf, "doc_id",
        Dedup.minhashClustersCached(docsDf, "text", "doc_id",
          n = 3, numHashes = 6, bands = 3, num = 3, den = 10))
        .select("doc_id")

    // ---- r17 probes: old formulations verbatim from the r16 tag ----
    import graft.pipeline.{Temporal, TextAnalysis, Curation}
    import org.apache.spark.sql.expressions.Window

    def lm2Old: DataFrame = {
      val vocab = 200
      val topTerms = TextAnalysis.capVocab(
        TextAnalysis.termCountsCached(docsDf, "text"), vocab)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      val vSize = topTerms.size + 1
      def mapped(c: Column) = transform(TextAnalysis.tokens(c), t =>
        when(t.isInCollection(topTerms), t).otherwise(lit("<unk>")))
      def bigrams(c: Column): Column = {
        val mt = mapped(c)
        val n1 = greatest(size(mt) - 1, lit(0))
        zip_with(slice(mt, lit(1), n1), slice(mt, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))
      }
      val biCounts = docsDf.select(explode(bigrams(col("text"))).as("bg"))
        .select(col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
        .groupBy(col("_w1"), col("_w2")).agg(count(lit(1)).as("_c2"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      import s.implicits._
      val corpusBi = biCounts.toSeq.toDF("_w1", "_w2", "_c2")
      val corpusPre = biCounts.groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toSeq.toDF("_w1", "_c1")
      val docBi = docsDf
        .select(col("doc_id").as("_did"), explode(bigrams(col("text"))).as("bg"))
        .select(col("_did"), col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
        .groupBy(col("_did"), col("_w1"), col("_w2")).agg(count(lit(1)).as("_c"))
      val scored = docBi
        .join(broadcast(corpusBi), Seq("_w1", "_w2"), "left")
        .join(broadcast(corpusPre), Seq("_w1"), "left")
        .withColumn("_qlp",
          round(log((coalesce(col("_c2"), lit(0L)).cast("double") + 1.0) /
            (coalesce(col("_c1"), lit(0L)).cast("double") + vSize.toDouble)) *
            lit(1000000000L)).cast("long"))
        .groupBy(col("_did"))
        .agg(sum(col("_c")).as("n_bigrams"),
          round(sum(col("_c") * col("_qlp")).cast("double") /
            (sum(col("_c")).cast("double") * lit(1000000000.0)), 4).as("lm2_logp"))
      docsDf.select(col("doc_id"))
        .join(scored.withColumnRenamed("_did", "doc_id"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bigrams"))
    }
    def lm2New: DataFrame = TextAnalysis.bigramLmScoreReport(
      docsDf, "doc_id", "text", docsDf, "text", vocab = 200)

    def lmiOld: DataFrame = {
      val (vocab, lambda) = (200, 0.75)
      val topTerms = TextAnalysis.capVocab(
        TextAnalysis.termCountsCached(docsDf, "text"), vocab)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      val vSize = topTerms.size + 1
      def mapped(c: Column) = transform(TextAnalysis.tokens(c), t =>
        when(t.isInCollection(topTerms), t).otherwise(lit("<unk>")))
      def bigrams(c: Column): Column = {
        val mt = mapped(c)
        val n1 = greatest(size(mt) - 1, lit(0))
        zip_with(slice(mt, lit(1), n1), slice(mt, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))
      }
      val biCounts = docsDf.select(explode(bigrams(col("text"))).as("bg"))
        .select(col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
        .groupBy(col("_w1"), col("_w2")).agg(count(lit(1)).as("_c2"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      import s.implicits._
      val corpusBi = biCounts.toSeq.toDF("_w1", "_w2", "_c2")
      val corpusPre = biCounts.groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toSeq.toDF("_w1", "_c1")
      val uniRows = docsDf
        .select(explode(mapped(col("text"))).as("_w2"))
        .groupBy(col("_w2")).agg(count(lit(1)).as("_cu"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val nTok = uniRows.map(_._2).sum
      val uniCounts = uniRows.toSeq.toDF("_w2", "_cu")
      val docBi = docsDf
        .select(col("doc_id").as("_did"), explode(bigrams(col("text"))).as("bg"))
        .select(col("_did"), col("bg.w1").as("_w1"), col("bg.w2").as("_w2"))
        .groupBy(col("_did"), col("_w1"), col("_w2")).agg(count(lit(1)).as("_c"))
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
      docsDf.select(col("doc_id"))
        .join(scored.withColumnRenamed("_did", "doc_id"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_bigrams"))
    }
    def lmiNew: DataFrame = TextAnalysis.interpolatedLmScoreReport(
      docsDf, "doc_id", "text", docsDf, "text", vocab = 200, lambda = 0.75)

    def dsirBucketsOld(toks: Column, buckets: Int): Column = {
      val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>"))
      transform(concat(toks, bigrams), f =>
        pmod(conv(substring(md5(f), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)))
    }
    def dsirOld: DataFrame = {
      val buckets = 256
      val raw = docsDf.where(col("doc_id") % 7 =!= 0)
      val target = docsDf.where(col("doc_id") % 7 === 0)
      def logProbs(df0: DataFrame): Array[Double] = {
        val counts = df0.select(TextAnalysis.tokens(col("text")).as("_toks"))
          .select(explode(dsirBucketsOld(col("_toks"), buckets)).as("_b"))
          .groupBy("_b").count().collect()
          .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        val n = counts.valuesIterator.sum.toDouble
        Array.tabulate(buckets)(b =>
          math.log((counts.getOrElse(b, 0L) + 1.0) / (n + buckets)))
      }
      val lp = logProbs(target)
      val lq = logProbs(raw)
      val ratio = Array.tabulate(buckets)(b => BigDecimal(lp(b) - lq(b))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      raw
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), dsirBucketsOld(col("_toks"), ratio.length).as("_fb"))
        .select(col("doc_id"), size(col("_fb")).cast("long").as("n_feats"),
          Curation.dsirScore(col("_fb"), ratio).as("dsir_logw"))
    }
    def dsirNew: DataFrame = Curation.dsirWeightsSplit(docsDf, "doc_id",
      "text", id => id % 7 === 0, buckets = 256)

    def eventsDf = {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$d/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    }
    def covisitOf(items: DataFrame): DataFrame =
      Dedup.boundedKeyPairs(items, Seq("user_id", "session_seq"), "event_type")
        .select(col("id_a").as("type_a"), col("id_b").as("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_sessions"))
    def covisitOld: DataFrame = {
      val ev = eventsDf
      covisitOf(Temporal.sessionize(ev, "user_id", "ts",
          "event_id", gapSec = 21600)
        .join(ev.select(col("event_id"), col("event_type")), "event_id")
        .select(col("user_id"), col("session_seq"), col("event_type"))
        .distinct())
    }
    def covisitNew: DataFrame = {
      covisitOf(Temporal.sessionize(eventsDf, "user_id", "ts",
          "event_id", gapSec = 21600, carryCols = Seq("event_type"))
        .select(col("user_id"), col("session_seq"), col("event_type"))
        .distinct())
    }

    // walks are built ONCE (randomWalks returns a checkpointed frame):
    // the probe isolates the skip-gram pair stage, not the walk build
    lazy val walksShared: DataFrame = GraphAlgos.randomWalks(
      GraphAlgos.coOccurrenceCached(
        s.read.parquet(s"$d/lineitem.parquet")
          .where(col("l_partkey") % 100 === 0)
          .select(col("l_partkey").as("p"), col("l_orderkey").as("o")),
        "p", "o"), steps = 3, walksPerNode = 2, seed = "w1")
    def wpOld: DataFrame = {
      val window = 2
      val a = walksShared.select(col("start_id").as("_s"), col("walk").as("_w"),
        col("step").as("_p1"), col("node").as("center"))
      val b = walksShared.select(col("start_id").as("_s"), col("walk").as("_w"),
        col("step").as("_p2"), col("node").as("context"))
      a.join(b, Seq("_s", "_w"))
        .where(col("_p1") =!= col("_p2") &&
          abs(col("_p1") - col("_p2")) <= window)
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n"))
    }
    def wpNew: DataFrame = GraphAlgos.walkSkipGramPairs(walksShared, window = 2)

    // old prefixFilteredCands (verbatim: index side re-joins dfreq even
    // when uncapped) + old verifyJaccard — vs the library path
    def oldPrefixCands(ss: DataFrame, num: Int, den: Int): DataFrame = {
      val dfreq = ss.groupBy(col("_sh")).agg(count(lit(1)).as("_dfq"))
      val capped = ss.join(dfreq, "_sh")
      val ranked = capped.withColumn("_rk",
        row_number().over(
          Window.partitionBy(col("_did")).orderBy(col("_dfq"), col("_sh"))))
      val sizes = ss.groupBy(col("_did")).agg(count(lit(1)).as("_sz"))
      val probe = ranked.join(sizes, "_did")
        .where(col("_rk") <= expr(s"(_sz * ${den - num}) div $den") + 1)
        .select(col("_sh"), col("_did").as("_probe"))
      probe
        .join(capped.select(col("_sh"), col("_did").as("_other")), Seq("_sh"))
        .where(col("_probe") =!= col("_other"))
        .select(least(col("_probe"), col("_other")).as("id_a"),
          greatest(col("_probe"), col("_other")).as("id_b"))
        .distinct()
    }
    def oldVerifyJaccard(cands: DataFrame, arr: DataFrame,
        num: Int, den: Int): DataFrame =
      cands
        .join(arr.select(col("_did").as("id_a"), col("_sha").as("_seta")), "id_a")
        .join(arr.select(col("_did").as("id_b"), col("_sha").as("_setb")), "id_b")
        .withColumn("_inter",
          size(array_intersect(col("_seta"), col("_setb"))).cast("long"))
        .where(col("_inter") * den >=
          (size(col("_seta")).cast("long") + size(col("_setb")) - col("_inter")) * num)
        .select("id_a", "id_b")
    def ngramOld: DataFrame = {
      val ss = Dedup.shingleHashSetCached(docsDf, "text", "doc_id", 3)
      val arr = Dedup.shingleArrayCached(docsDf, "text", "doc_id", 3)
      graft.pipeline.Scratch.stable(
        oldVerifyJaccard(oldPrefixCands(ss, 3, 10), arr, 3, 10))
    }
    def ngramNew: DataFrame =
      Dedup.ngramJaccardPairs(docsDf, "text", "doc_id", n = 3, num = 3, den = 10)

    // old containmentPairsCrossFused: union-of-two-filters emit (the
    // verify subtree evaluated per direction) vs the one-pass generator
    def oldCrossFusedContainment: DataFrame = {
      val (n, num, den) = (3, 4, 5)
      val isNewBatch = (c: Column) => c % 2 === 1
      val ss = Dedup.shingleHashSetCached(docsDf, "text", "doc_id", n)
      val arr = Dedup.shingleArrayCached(docsDf, "text", "doc_id", n)
      val ssA = ss.where(!isNewBatch(col("_did")))
      val ssB = ss.where(isNewBatch(col("_did")))
      val dfreq = ssA.unionAll(ssB).groupBy(col("_sh"))
        .agg(count(lit(1)).as("_dfq"))
      def probesOf(ss0: DataFrame): DataFrame = {
        val ranked = ss0.join(dfreq, "_sh").withColumn("_rk",
          row_number().over(
            Window.partitionBy(col("_did")).orderBy(col("_dfq"), col("_sh"))))
        val sizes = ss0.groupBy(col("_did")).agg(count(lit(1)).as("_sz"))
        ranked.join(sizes, "_did")
          .where(col("_rk") <= expr(s"(_sz * ${den - num}) div $den") + 1)
          .select(col("_sh"), col("_did"))
      }
      val aProbesB = probesOf(ssA).withColumnRenamed("_did", "id_a")
        .join(ssB.select(col("_sh"), col("_did").as("id_b")), Seq("_sh"))
      val bProbesA = probesOf(ssB).withColumnRenamed("_did", "id_b")
        .join(ssA.select(col("_sh"), col("_did").as("id_a")), Seq("_sh"))
      val cands = aProbesB.select("id_a", "id_b")
        .unionAll(bProbesA.select("id_a", "id_b"))
        .distinct()
      val j = cands
        .join(arr.select(col("_did").as("id_a"), col("_sha").as("_seta")), "id_a")
        .join(arr.select(col("_did").as("id_b"), col("_sha").as("_setb")), "id_b")
        .withColumn("_inter",
          size(array_intersect(col("_seta"), col("_setb"))).cast("long"))
      val aInB = j
        .where(col("_inter") * den >= size(col("_seta")).cast("long") * num)
        .select(col("id_a").as("id_in"), col("id_b").as("id_sup"))
      val bInA = j
        .where(col("_inter") * den >= size(col("_setb")).cast("long") * num)
        .select(col("id_b").as("id_in"), col("id_a").as("id_sup"))
      graft.pipeline.Scratch.stable(aInB.unionAll(bInA))
    }
    def crossFusedContainmentNew: DataFrame =
      Dedup.containmentPairsCrossFused(docsDf, "text", "doc_id",
        id => id % 2 === 1, n = 3, num = 4, den = 5)

    // decontam family: text-scanning form (old — re-tokenizes 90% of
    // the corpus per query) vs the shingle-artifact-serving form
    def decontamAttrOld: DataFrame =
      graft.pipeline.Decontam.attribution(
        docsDf.where(col("doc_id") % 10 =!= 7),
        docsDf.where(col("doc_id") % 10 === 7), "text", "doc_id", n = 3)
    def decontamAttrNew: DataFrame = {
      val ss = Dedup.shingleHashSetCached(docsDf, "text", "doc_id", 3)
      graft.pipeline.Decontam.attributionFromShingles(
        ss.where(col("_did") % 10 =!= 7),
        ss.where(col("_did") % 10 === 7))
    }
    def decontamKeepOld: DataFrame =
      graft.pipeline.Decontam.decontaminate(
        docsDf.where(col("doc_id") % 10 =!= 7),
        docsDf.where(col("doc_id") % 10 === 7), "text", "doc_id", n = 3)
        .select("doc_id")
    def decontamKeepNew: DataFrame = {
      val ss = Dedup.shingleHashSetCached(docsDf, "text", "doc_id", 3)
      graft.pipeline.Decontam.decontaminateFromShingles(
        docsDf.where(col("doc_id") % 10 =!= 7),
        ss.where(col("_did") % 10 =!= 7),
        ss.where(col("_did") % 10 === 7), "doc_id")
        .select("doc_id")
    }

    // same formulation on BOTH sides: records the ambient swing band
    // of q_media_audio_shingle_pairs (r16 verdict item 7 — its five
    // r16 bench runs spanned 0.7-1.8 s on untouched code)
    def audioShingle: DataFrame = Multimodal.audioShingleNearDupPairs(
      Multimodal.mediaFromIdsCached(docsDf.select("doc_id"), "doc_id",
        only = Some("audio")), n = 3, num = 6, den = 10)

    val r16Pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("keep_clusters", () => keepOld, () => keepNew),
      ("thumb", () => thumbOld, () => thumbNew),
      ("cc_star", () => ccOld, () => ccNew),
      ("img_neardup", () => imgOld, () => imgNew),
      ("tri", () => triOld, () => triNew),
      ("cross_mf", () => crossMfOld, () => crossMfNew))

    val r17Pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("lm2", () => lm2Old, () => lm2New),
      ("lmi", () => lmiOld, () => lmiNew),
      ("dsir", () => dsirOld, () => dsirNew),
      ("covisit", () => covisitOld, () => covisitNew),
      ("walk_pairs", () => wpOld, () => wpNew),
      ("ngram_pairs", () => ngramOld, () => ngramNew),
      ("containment_cross",
        () => oldCrossFusedContainment, () => crossFusedContainmentNew),
      ("decontam_attr", () => decontamAttrOld, () => decontamAttrNew),
      ("decontam_keep", () => decontamKeepOld, () => decontamKeepNew),
      ("audio_shingle_band", () => audioShingle, () => audioShingle))

    val pairs =
      if (nameArgs.contains("r16")) r16Pairs
      else if (nameArgs.nonEmpty)
        (r17Pairs ++ r16Pairs).filter(p => nameArgs.contains(p._1))
      else r17Pairs
    require(pairs.nonEmpty, s"no A/B pair named ${nameArgs.mkString(", ")}")

    pairs.foreach { case (_, a, b) => time(a()); time(b()) }
    pairs.foreach { case (name, a, b) =>
      val ta = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tb = scala.collection.mutable.ArrayBuffer.empty[Double]
      (1 to reps).foreach { _ => ta += time(a()); tb += time(b()) }
      def med(x: Seq[Double]) = x.sorted.apply(x.length / 2)
      println(f"[ab] $name old=${med(ta.toSeq)}%.2f new=${med(tb.toSeq)}%.2f " +
        s"oldreps=${ta.map(x => f"$x%.2f").mkString(",")} " +
        s"newreps=${tb.map(x => f"$x%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.dsl.Dsl._
import graft.exec.Compiler
import graft.model.TestGraph

/** Physical-plan audits of the compiled traversal plans against the
  * driver's parquet-backed store: predicates must reach the parquet
  * scan as PushedFilters and projections must prune ReadSchema — the
  * two properties that decide whether a 100 TB scan reads 100 TB or a
  * column slice of the matching row groups.
  */
class PlanShapeSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def compiled(tr: graft.dsl.Tr): DataFrame =
    new Compiler(TestGraph(spark, dir)).run(tr.t)

  /** The parquet scans of `df`'s final plan; with `broadcast`, only the
    * scans under a broadcast exchange (the build sides of hash joins).
    */
  private def scans(df: DataFrame, broadcast: Boolean = false): Seq[FileSourceScanExec] = {
    df.collect() // finalize adaptive plans so stages are resolved
    def walk(p: org.apache.spark.sql.execution.SparkPlan, built: Boolean): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan, built)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, built)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          walk(r.child, built)
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          walk(b.child, built = true)
        case s: FileSourceScanExec => if (built || !broadcast) Seq(s) else Nil
        case other =>
          other.children.flatMap(walk(_, built)) ++ other.subqueries.flatMap(walk(_, built))
      }
    walk(df.queryExecution.executedPlan, built = false)
  }

  test("NWhere predicate pushes to the parquet scan") {
    val df = compiled(
      g().nWithLabelWhere("Customer", gt("c_acctbal", 5000.0))
        .values("c_custkey", "c_acctbal"))
    val cust = scans(df).filter(_.metadata("Location").contains("customer"))
    assert(cust.nonEmpty, "expected a customer parquet scan")
    val pushed = cust.map(_.metadata("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan(c_acctbal,5000.0)"),
      s"predicate not pushed: $pushed")
  }

  test("Values projection prunes the scan to the referenced columns") {
    val df = compiled(
      g().nWithLabel("Part").values("p_partkey", "p_size"))
    val part = scans(df).filter(_.metadata("Location").contains("part"))
    assert(part.nonEmpty)
    val schema = part.map(_.metadata("ReadSchema")).mkString
    // only the projected columns survive — notably NOT p_name/p_comment
    assert(schema.contains("p_partkey") && schema.contains("p_size"),
      s"projected columns missing: $schema")
    assert(!schema.contains("p_name") && !schema.contains("p_comment"),
      s"scan reads unprojected columns: $schema")
  }

  test("label-pinned count prunes every other node table from the plan") {
    val df = compiled(g().nWithLabel("Customer").count())
    val locs = scans(df).map(_.metadata("Location")).mkString
    assert(locs.contains("customer"))
    Seq("orders", "lineitem", "part", "supplier", "nation", "region",
      "documents", "events").foreach { other =>
      assert(!locs.contains(other), s"label pin failed to prune $other: $locs")
    }
  }

  test("navigation scans read only the join/id columns of the edge table") {
    val df = compiled(g().nWithLabel("Customer").out("PLACED").count())
    val all = scans(df)
    assert(all.nonEmpty)
    // count() over navigation needs ids, not payload columns like
    // o_comment / c_comment
    val schemas = all.map(_.metadata("ReadSchema")).mkString
    assert(!schemas.contains("c_comment") && !schemas.contains("o_comment"),
      s"navigation count reads payload columns: $schemas")
  }

  test("BPE token counting stays one exchange-free scan (word and byte level)") {
    // the per-doc counts are pure per-row expression chains: any
    // Exchange in the APPLICATION plan means the replace-chain
    // regressed to the explode+groupBy+join shape it replaced
    // (training runs up front, outside the counted plan)
    import graft.pipeline.Bpe
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = Bpe.trainMergesCached(docs, "text", 4)
      .map { case (_, l, r) => (l, r) }
    val bmerges = Bpe.trainByteMergesCached(docs, "text", 4)
      .map { case (_, l, r) => (l, r) }
    for (df <- Seq(
        Bpe.tokenCountReport(docs, "doc_id", "text", merges),
        Bpe.byteTokenCountReport(docs, "doc_id", "text", bmerges))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"BPE count plan shuffles: $plan")
      assert(scans(df).size == 1, "BPE count must be ONE corpus scan")
    }
  }

  test("SRP signature is one exchange-free codegen'd scan") {
    // the native SrpSignature kernel must stay INSIDE whole-stage
    // codegen (the HOF aggregate/zip_with form it replaced never
    // codegens); any Exchange means the signature stopped being a
    // per-row expression
    import graft.search.VectorOps
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = VectorOps.signSignature63(emb, "embedding", "srp", inDim = 64)
      .select("vec_id", "srp")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"SRP scan shuffles: $plan")
    assert(scans(df).size == 1, "SRP must be ONE corpus scan")
    // `*(n)` prefixes mark WholeStageCodegen spans in the executed
    // plan's string form: the Project carrying the signature must be
    // inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("srp_signature") && l.trim.startsWith("*(")),
      s"SRP kernel fell out of codegen: $plan")
  }

  test("DSIR scoring is one exchange-free scan over the raw corpus") {
    // the two corpus distributions collect at BUILD time (bounded by
    // the bucket count) and bake into a literal log-ratio array, so
    // SERVING a weight per document must be a single codegen'd scan:
    // any Exchange means the lookup regressed to a join
    import graft.pipeline.Curation
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = Curation.dsirWeights(
      docs.where(col("doc_id") % 7 =!= 0), "doc_id", "text",
      docs.where(col("doc_id") % 7 === 0), "text", buckets = 256)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"DSIR weight scan shuffles: $plan")
    assert(scans(df).size == 1, "DSIR scoring must be ONE raw-corpus scan")
  }

  test("staged L2 normalization computes the norm aggregate exactly once") {
    import graft.search.VectorOps
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = VectorOps.l2NormalizeQuantizedStaged(emb, "embedding", "nv")
      .select("vec_id", "nv")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"norm scan shuffles: $plan")
    assert(scans(df).size == 1, "norm must be ONE corpus scan")
    // the inlined Column form embeds the O(dim) norm aggregate under
    // EVERY element of the output transform (dim+1 occurrences); the
    // staged form must reference the attribute — exactly one aggregate
    // in the whole plan
    val aggs = "aggregate\\(".r.findAllIn(plan).size
    assert(aggs == 1, s"norm aggregate inlined $aggs times: $plan")
  }

  /** Exchange/join-node counts of a finalized adaptive plan, including
    * subqueries; reused exchanges count under their own key (physical
    * work happens once).
    */
  private def planProfile(df: DataFrame): Map[String, Int] = {
    df.collect() // finalize AQE
    val counts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[
        org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          counts("reused") += 1
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          counts("shuffle") += 1
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          counts("broadcast") += 1
        case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          counts("smj") += 1
        case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          counts("bhj") += 1
        case _ =>
      }
      p match {
        case _: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        case _: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    counts.toMap.withDefaultValue(0)
  }

  test("bucketed tables co-locate: join + aggregation on the bucket key plan ZERO exchanges") {
    import org.apache.spark.sql.functions.{col, sum}
    import graft.model.BucketedTables
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    BucketedTables.writeBucketed(orders, "b_orders", s"$tmp/orders",
      "o_orderkey", 8)
    BucketedTables.writeBucketed(li, "b_lineitem", s"$tmp/lineitem",
      "l_orderkey", 8)
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable broadcast so the join SHAPE (not the small sf) is tested:
    // at 100 TB neither side broadcasts — co-location is what remains
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def agg(o: org.apache.spark.sql.DataFrame,
          l: org.apache.spark.sql.DataFrame) =
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey").agg(sum("l_quantity").as("qty"))
      val bucketed = agg(BucketedTables.table(s, "b_orders"),
        BucketedTables.table(s, "b_lineitem"))
      val prof = planProfile(bucketed)
      assert(prof("shuffle") == 0,
        s"co-located join/agg must not exchange: $prof")
      // negative control: the SAME pipeline over plain parquet shuffles
      // both join sides (same session, same confs — the bucket metadata
      // is the only difference)
      val plainProf = planProfile(agg(orders, li))
      assert(plainProf("shuffle") >= 2,
        s"control should shuffle both sides: $plainProf")
      // and the layouts agree on the answer
      val a = bucketed.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val b = agg(orders, li).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(a == b, "bucketed and plain layouts must agree")
      // catalog entries are session-scoped but the files are external:
      // a re-REGISTERED table (the fresh-session path) keeps the
      // co-location plan fact
      BucketedTables.register(s, "b_orders", s"$tmp/orders", "o_orderkey", 8,
        "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE")
      val reProf = planProfile(agg(BucketedTables.table(s, "b_orders"),
        BucketedTables.table(s, "b_lineitem")))
      assert(reProf("shuffle") == 0,
        s"re-registered bucketed table lost co-location: $reProf")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.sql("DROP TABLE IF EXISTS b_orders")
      s.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucketed graph persistence co-locates the adjacency join on reload") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.model.{EdgeMeta, GraphPersistence, GraphStore}
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-bstore").toString
    val customers = s.read.parquet(s"$dir/customer.parquet")
      .withColumn("_id", col("c_custkey").cast("long"))
      .withColumn("_label", lit("Customer"))
    val placed = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").cast("long").as("_id"),
        lit("PLACED").as("_label"),
        col("o_custkey").cast("long").as("_src"),
        col("o_custkey").cast("long").as("_dst"),
        col("o_totalprice"))
    val store = new GraphStore(s, Map("Customer" -> customers),
      Map("PLACED" -> placed),
      Map("PLACED" -> EdgeMeta(Set("Customer"), Set("Customer"))))
    GraphPersistence.save(store, s"$tmp/plain")
    GraphPersistence.save(store, s"$tmp/bucketed", bucketBy = Some(8))
    val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def nav(root: String) = new Compiler(GraphPersistence.load(s, root))
        .run(g().nWithLabel("Customer").outE("PLACED").count().t)
      val plainDf = nav(s"$tmp/plain"); val bDf = nav(s"$tmp/bucketed")
      val (plainProf, bProf) = (planProfile(plainDf), planProfile(bDf))
      // the plain layout shuffles both sides of `_id = _src`; the
      // bucketed layout's placement is a plan fact and the join runs
      // on co-located buckets
      assert(bProf("shuffle") < plainProf("shuffle"),
        s"bucketed reload lost co-location: bucketed=$bProf plain=$plainProf")
      assert(plainDf.collect().head.getLong(0) == bDf.collect().head.getLong(0),
        "layouts must agree on the traversal result")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      s.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_"))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    }
  }

  test("AQE splits a skewed join at runtime when thresholds are sized to the data") {
    // The 100 TB skew story is two-layer: owned operators salt
    // explicitly (Temporal's saltBuckets), and everything else rides
    // AQE's runtime skew split — which only fires when the skew
    // thresholds are sized to the deployment's partition sizes. This
    // pins the latter: a hot-key join at test scale, thresholds sized
    // down to match, must show a skew-split SortMergeJoin in the
    // finalized adaptive plan (the same conf recipe scaled up is the
    // production setting).
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // key 0 carries ~200k rows; 999 other keys carry one each
      val hot = s.range(200000).select(lit(0L).as("k"), col("id").as("v"))
      val rest = s.range(1, 1000).select(col("id").as("k"), col("id").as("v"))
      val left = hot.unionByName(rest)
      val right = s.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join: $plan")
    } finally restore.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("exchange budgets hold for the round-12 media near-dup additions") {
    // The four queries added after the r12 artifact cut (incremental
    // media cross, winnowed video, gradient dHash, cross-modality
    // thumbnail) all ride the capped banded-Hamming machinery; their
    // plans must stay in the banded shape — a regression to an
    // unbanded pair join (cartesian / SortMergeJoin explosion) fails
    // here, not in the bench diff.
    // maxSmj: the cross-corpus banded paths join the two sides'
    // cap-bounded bucket-ARRAY frames on the band key — an
    // aggregate x aggregate join that rides the SAME (bi, bk) shuffle
    // as the aggs (zero extra exchange, co-partitioned), so it plans
    // as ONE mid-stage SortMergeJoin AQE has no boundary stats to
    // convert. That co-partitioned SMJ is the plan we'd WANT at
    // 100 TB (neither side is broadcastable when both corpora are
    // large); the unbanded-explosion regression this pin exists for
    // would blow the shuffle budget, not hide in it.
    // (budgets hold for BOTH suite orders: a cold-cache isolated run
    // carries the media-artifact build exchanges that a full-suite
    // run's warmed TableCache absorbs, and the cache boundary also
    // decides whether AQE gets the stats to broadcast the block join)
    // r17 (verdict item 8): the single "both suite orders" ceiling is
    // split per CACHE STATE, probed per query before profiling. Warm
    // ceilings are the exact counts measured with every needed media
    // artifact pinned; cold ceilings keep the r16-measured values (the
    // artifact-build exchanges an isolated run carries). A query whose
    // modalities are warm must meet the tight budget — a regression
    // can no longer hide in cold-order slack.
    val ids = spark.read.parquet(s"$dir/documents.parquet").select("doc_id")
    def allWarm(modalities: Seq[String]): Boolean = modalities.forall(m =>
      graft.pipeline.Multimodal.mediaCacheHas(ids, "doc_id", Some(m)))
    // per query: the WARM ceiling is the exchange count measured in an
    // isolated spec run with the query's media artifacts pinned; the
    // COLD ceiling is the retained r16 value.
    //   q_media_cross             warm 4, cold 5 (r16)
    //   q_media_video_neardup_wf  warm 4, cold 5 (r16)
    //   q_media_dhash_pairs       warm 2, cold 5 (r16)
    //   q_media_thumb_pairs       warm 5, cold 5 (r16) — two
    //     modalities' banded paths meet, so its warm count IS the r16
    //     ceiling
    //   q_media_cross_video_mf    warm 5, cold 6 (r16)
    val budgets: Seq[(String, Seq[String], Int, Int, Boolean, Int)] = Seq(
      ("q_media_cross", Seq("image"), 5, 4, true, 1),
      ("q_media_video_neardup_wf", Seq("video"), 5, 4, true, 1),
      ("q_media_dhash_pairs", Seq("image"), 5, 2, true, 1),
      ("q_media_thumb_pairs", Seq("image", "video"), 5, 5, true, 1),
      ("q_media_cross_video_mf", Seq("video"), 6, 5, true, 1))
    budgets.foreach {
      case (name, modalities, coldMax, warmMax, needsBroadcast, maxSmj) =>
        val warm = allWarm(modalities)
        val maxShuffles = if (warm) warmMax else coldMax
        val prof = planProfile(SparkEntry.queries(name)(spark, dir))
        info(s"$name (warm=$warm) -> $prof")
        assert(prof("shuffle") <= maxShuffles,
          s"$name (warm=$warm) shuffles ${prof("shuffle")} > budget " +
            s"$maxShuffles ($prof)")
        assert(prof("smj") <= maxSmj,
          s"$name regressed to SortMergeJoin: $prof")
        if (needsBroadcast)
          assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
  }

  test("q_media_audio_shingle_pairs holds its banded-prefix plan shape") {
    // r17 (verdict item 7): this query's bench seconds swing 0.7-1.8 s
    // across runs with untouched code (ambient — the intra-JVM A/B
    // band is ±15%, ProbeAB audio_shingle_band), and it had no
    // structural pin, so a real plan regression was indistinguishable
    // from its band. At sf0.001 the final profile is EMPTY (no audio
    // near-dup pairs exist, so AQE empty-propagates the whole tree —
    // the q_graph_linkpred all-empty precedent); the ceiling is
    // therefore a cartesian/SMJ-explosion backstop, and the timing
    // pin lives in ProbeAB's audio_shingle_band pair at sf0.1.
    val prof = planProfile(
      SparkEntry.queries("q_media_audio_shingle_pairs")(spark, dir))
    info(s"q_media_audio_shingle_pairs -> $prof")
    assert(prof("shuffle") <= 8,
      s"audio shingle pairs shuffles ${prof("shuffle")} > 8 ($prof)")
    assert(prof("smj") == 0,
      s"audio shingle pairs regressed to SortMergeJoin: $prof")
  }

  test("exchange budgets hold for the r12 late additions") {
    // Ceilings measured at HEAD on sf0.001. Zero-budget queries serve
    // one codegen'd scan (blocklist, semantic decontam, the final
    // k-means assignment) or a stabilized frame (LPA) — a shuffle
    // appearing there is a regression, not noise.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      ("q_doc_blocklist", 0, false),
      ("q_embed_decontam_sem", 0, false),
      ("q_embed_kmeans", 0, false),
      ("q_graph_lpa", 0, false),
      ("q_doc_lm2_score", 3, true),
      ("q_vector_pq_rot_recall", 8, false),
      ("q_embed_semdedup_pairs", 2, true),
      ("q_embed_semdedup_keep", 4, true),
      // +1 over the r12 ceiling (6 → 7): the corpus side now reads the
      // CACHED µ-unit staging (the r15 SemDeDup-regression fix), and
      // its one-time bucketed-by-id materialization exchange shows in
      // the first plan — write-time layout cost at 100 TB, traded
      // against re-quantizing the standing corpus per micro-batch
      ("q_embed_semdedup_cross", 7, true),
      // outlier reads the kernel's _qscore directly since knnJoinScored
      // landed: ONE knn scan + select, no vector join-backs — so no
      // broadcast join remains to require (the better plan)
      ("q_embed_outlier", 1, false),
      // purity: labels ride the kernel scan (knnJoinLabeled) — one
      // scan + one window + one groupBy, no corpus join-backs (the
      // two-join-back formulation it replaced measured 2 more)
      ("q_embed_knn_purity", 2, false),
      ("q_doc_readability", 0, false))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
  }

  test("exchange budgets hold for the r13 second-wave additions") {
    // Ceilings measured at HEAD on sf0.001. proto_prune is ONE
    // assignment scan + the per-cluster window (kmeans trains in
    // separate bounded-artifact actions); cluster_budget adds one
    // broadcast token join; walks serve the stabilized corpus (the
    // hop joins ran through the iterative store — an exchange HERE
    // would mean the stabilization regressed); walk_pairs is the
    // self-join (AQE broadcasts one side at this scale) + the pair
    // groupBy; lmi carries lm2's three plus the in-plan mapped-unigram
    // aggregation its fourth broadcast table needs.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      ("q_embed_proto_prune", 1, false),
      ("q_embed_cluster_budget", 1, true),
      ("q_graph_walks", 0, false),
      // weighted walks: same served shape — every hop an equi-join of
      // the fixed-size frontier vs the pinned weighted adjacency (the
      // interval predicate is a join residual, never a frontier blowup)
      ("q_graph_walks_w", 0, false),
      ("q_graph_walk_pairs", 2, true),
      // lm2's three shuffles exactly — the unigram table collects once
      // and broadcasts like the bigram tables (a live frame measured
      // one more: it re-tokenized the corpus for its total's action)
      ("q_doc_lmi_score", 3, true))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
  }

  test("exchange budgets hold for the r13 third-wave additions") {
    // Ceilings measured at HEAD on sf0.001. recipe = the whole
    // curation pipeline in one tree (pairs + clusters + quality +
    // budget window); triplets = pair agg + the knn-side exchanges;
    // len_gate = the value groupBy + the collapsed-histogram window
    // (single-partition by design: it windows over DISTINCT VALUES,
    // not rows). drift is pinned below — its full-outer join of the
    // two ≤V+1-row term tables plans as an SMJ (full outer cannot
    // broadcast), bounded by the vocab, not the corpus.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      ("q_doc_recipe", 4, true),
      ("q_embed_triplets", 2, true),
      ("q_doc_len_gate", 2, false))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
    // drift's totals are whole-frame window sums over the joined
    // ≤V+1-row term table (separate total aggregates measured one more
    // shuffle each — they re-tokenized both corpora a second time)
    // hits serves its stabilized frame (the per-round joins ran
    // through the iterative store — an exchange here would mean the
    // stabilization regressed); health is the (source, term) agg +
    // per-source agg + the tiny doc-count broadcast join
    val wave4: Seq[(String, Int, Boolean)] = Seq(
      ("q_graph_hits", 0, false),
      ("q_doc_health", 3, true),
      ("q_doc_len_gate_src", 2, true),
      // the whole incremental pipeline (diff full-outer + fresh gate +
      // shingle chains + cross join-verify) in one tree
      ("q_doc_incr_dedup", 7, true))
    wave4.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
    val drift = planProfile(SparkEntry.queries("q_doc_drift")(spark, dir))
    info(s"q_doc_drift -> $drift")
    assert(drift("shuffle") <= 3,
      s"q_doc_drift shuffles ${drift("shuffle")} > 3 ($drift)")
    assert(drift("smj") <= 1,
      s"q_doc_drift gained an SMJ beyond the vocab-bounded full outer: $drift")
  }

  test("exchange budget: the margin miners on the integer-dot contract") {
    // since the r14 integer-dot rebase the two directions read the
    // PERSISTED staged unit-vector frames (stagedUnitCached), so
    // cross-plan sharing happens at the cached-frame level instead of
    // exchange reuse, and the sum joins broadcast (the sum tables are
    // |src|/|tgt|-row aggregates of the bounded candidate set); at a
    // corpus scale where they stop broadcasting, the join key is
    // already the candidate shuffle key — SMJ degrades gracefully
    val prof = planProfile(
      SparkEntry.queries("q_embed_margin_mine")(spark, dir))
    info(s"q_embed_margin_mine -> $prof")
    assert(prof("shuffle") <= 4, s"shuffle budget exceeded: $prof")
    assert(prof("smj") <= 1, s"more than the one margin-join SMJ: $prof")
    assert(prof("bhj") >= 1, s"candidate-set joins lost broadcast: $prof")
    // the mutual form adds the backward window + argmax join
    val mprof = planProfile(
      SparkEntry.queries("q_embed_margin_mutual")(spark, dir))
    info(s"q_embed_margin_mutual -> $mprof")
    assert(mprof("shuffle") <= 7, s"shuffle budget exceeded: $mprof")
    assert(mprof("smj") <= 1, s"more than the one margin-join SMJ: $mprof")
    assert(mprof("bhj") >= 1, s"candidate-set joins lost broadcast: $mprof")
  }

  test("exchange budgets hold for the round-14 additions") {
    // Ceilings measured at HEAD on sf0.001. The integer-dot analytics
    // read the PERSISTED staged unit-vector frame (stagedUnitCached),
    // so their kernels cost one scan + one k-bounded window shuffle;
    // yield adds the margin pipeline's bounded joins; components adds
    // the CC iteration's per-round exchanges (bounded by the
    // min-label/star rounds on the mutual graph); ab runs two full
    // metric pipes; the per-source variants pay their group join.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      // isotropy's pair join is a broadcast NESTED-LOOP (id-inequality
      // predicate over the bounded sample — no equi key to hash on),
      // so the broadcast shows without a BHJ node
      ("q_embed_isotropy", 1, false),
      ("q_embed_margin_yield", 5, true),
      // components' iterative passes run behind the FrameStore lineage
      // cuts (the CC operator's own gated shape) — the SERVED plan is
      // a checkpoint scan, exchange-free by contract
      ("q_embed_knn_components", 0, false),
      ("q_embed_proto_prune_src", 3, true),
      ("q_embed_cluster_budget_src", 3, true))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
  }

  test("exchange budget: q_eval_rank tolerates its one co-partitioned SMJ") {
    // runs x qrels equi-join + nRel/AP/main aggregations + report
    // joins, all query-keyed; the qrels side broadcasts here only
    // because the 32-query batch is tiny. The AP-sum report join runs
    // on the query_id partitioning BOTH sides already carry for their
    // own window/groupBy — an SMJ there adds zero exchanges and scales
    // with per-query aggregate tables a broadcast could not.
    val prof = planProfile(SparkEntry.queries("q_eval_rank")(spark, dir))
    info(s"q_eval_rank -> $prof")
    assert(prof("shuffle") <= 7, s"shuffle budget exceeded: $prof")
    assert(prof("smj") <= 1, s"more than the one report-join SMJ: $prof")
    assert(prof("bhj") >= 1, s"q_eval_rank lost its broadcast join: $prof")
    // the A/B comparison runs TWO metric pipes and inherits the same
    // co-partitioned AP-report SMJ; heavy exchange reuse keeps the
    // second pipe cheap
    val ab = planProfile(SparkEntry.queries("q_eval_ab")(spark, dir))
    info(s"q_eval_ab -> $ab")
    assert(ab("shuffle") <= 8, s"shuffle budget exceeded: $ab")
    assert(ab("smj") <= 2, s"more than the per-pipe report SMJs: $ab")
    assert(ab("bhj") >= 1, s"q_eval_ab lost its broadcast joins: $ab")
  }

  test("exchange budgets hold for the retrieval/dedup/graph additions after r12") {
    // Ceilings measured at HEAD on sf0.001. The three zero-budget
    // queries serve from a stabilized frame (Scratch.stable) — their
    // pair generation/greedy walk ran at build time, so the SERVED
    // plan is exchange-free by contract.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      ("q_doc_line_dedup", 2, true),  // line-df semi-join broadcasts
      ("q_doc_containment", 0, false),
      ("q_doc_containment_cross", 0, false),
      ("q_graph_linkpred", 7, true),  // degree joins broadcast
      ("q_text_hybrid_rrf", 3, false),
      ("q_embed_hard_neg", 1, false), // one window over heap partials
      ("q_embed_mmr", 0, false),
      ("q_doc_split_safe", 2, true),  // cluster-map join broadcasts
      ("q_graph_harmonic", 1, false), // one groupBy over served dists
      ("q_doc_fertility", 1, true),
      ("q_text_phrase", 2, true),  // positional joins broadcast
      ("q_text_near", 2, true),
      ("q_event_decay", 2, false), // anchor broadcast + one hash agg
      ("q_event_covisit", 4, true))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      info(s"$name -> $prof")
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      // the broadcast guard exists to catch a small side silently
      // regressing to a shuffle join — an ALL-EMPTY profile is not
      // that: it means AQE empty-propagated the entire serve plan
      // (q_graph_linkpred at sf0.001 has zero cn>=2 survivors, and
      // the cached wedge frame's known row count lets AQE collapse
      // every downstream join to an empty local relation)
      val anyPlanWork =
        prof("shuffle") + prof("smj") + prof("bhj") + prof("broadcast")
      if (needsBroadcast)
        assert(prof("bhj") >= 1 || anyPlanWork == 0,
          s"$name lost its broadcast join: $prof")
    }
  }

  test("exchange budgets hold for the 10 most expensive headline queries") {
    // Per-query shuffle-count ceilings (measured at HEAD on sf0.001)
    // plus broadcast-ness requirements: the r11 perf wins came from
    // artifact caching and broadcast shapes that nothing structurally
    // protected — a regression to a shuffling plan must fail HERE, not
    // in the bench diff two rounds later. Ceilings are <= (a warmer
    // cache can only remove exchanges); the two iterative cluster
    // queries serve from a stabilized (checkpointed) frame, so their
    // SERVED plan is exchange-free by contract — the O(log n)
    // iteration ran at build time behind Scratch.stable.
    val budgets: Seq[(String, Int, Boolean)] = Seq(
      // (query, max shuffles in the served plan, requires a broadcast join)
      ("q_doc_dup_clusters_star", 0, false),
      ("q_doc_dup_clusters", 0, false),
      ("q_graph_tri", 19, true),
      ("q_doc_decontam_attr", 4, true), // broadcast eval shingles
      ("q_doc_repeats", 1, true),
      ("q_media_audio_neardup", 3, true),
      ("q_doc_keep_best", 3, true),
      ("q_doc_mix_lang", 2, true),
      ("q_doc_decontam_keep", 3, true), // broadcast eval shingles
      ("q_doc_keep", 2, true))
    budgets.foreach { case (name, maxShuffles, needsBroadcast) =>
      val prof = planProfile(SparkEntry.queries(name)(spark, dir))
      assert(prof("shuffle") <= maxShuffles,
        s"$name shuffles ${prof("shuffle")} > budget $maxShuffles ($prof)")
      // none of these queries joins two large sides at serving scale:
      // a SortMergeJoin here means a small side stopped broadcasting
      assert(prof("smj") == 0, s"$name regressed to SortMergeJoin: $prof")
      if (needsBroadcast)
        assert(prof("bhj") >= 1, s"$name lost its broadcast join: $prof")
    }
  }

  test("exchange budget: quality-classifier SERVE is one exchange-free scan") {
    // the 100 TB contract of QualityClf.scoreQualityClf: weights bake
    // into a literal array, so scoring the corpus is one codegen scan
    // — no shuffle, no join, no broadcast (the dsirScore serve shape).
    // Profiled with a synthetic model so the pin isolates the SERVE
    // plan from the (labeled-split-sized) training phase.
    import graft.pipeline.QualityClf
    val model = QualityClf.ClfModel(
      Array.tabulate(1024)(b => (b * 37 % 101) - 50L), bias = 1234L,
      epochs = 1, sigDiv = 4L, lrWNum = 1024L, lrWDen = 1L,
      lrBNum = 1L, lrBDen = 1L)
    val served = QualityClf.scoreQualityClf(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", model)
    val prof = planProfile(served)
    info(s"q_doc_quality_clf serve -> $prof")
    assert(prof("shuffle") == 0 && prof("smj") == 0 && prof("bhj") == 0 &&
      prof("broadcast") == 0,
      s"quality-clf serve must stay a single exchange-free scan: $prof")
  }

  test("a stored-route hop hashes its frontier, not the Order label; a small target is still built") {
    import graft.ast.{Expr, Predicate, PropertyValue}
    val key = 7L
    val hop = new Compiler(TestGraph(spark, dir), Map("key" -> PropertyValue.VI64(key))).run(
      g().nWithLabelWhere("Customer", Predicate.EqExpr("c_custkey", Expr.Param("key")))
        .out("PLACED").values("o_orderkey", "o_totalprice").t)
    val built = scans(hop, broadcast = true).map(_.metadata("ReadSchema"))
    assert(built.nonEmpty && !built.exists(_.contains("o_totalprice")),
      s"the far join hashes the Order rows: $built")
    def bag(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    assert(bag(hop) == bag(spark.read.parquet(s"$dir/orders.parquet")
      .where(s"o_custkey = $key").select("o_orderkey", "o_totalprice")))
    // a whole-label hop into a smaller label keeps hashing the target
    val toPart = compiled(g().nWithLabel("Lineitem").out("OF_PART").values("p_size"))
    val partBuilt = scans(toPart, broadcast = true).map(_.metadata("ReadSchema"))
    assert(partBuilt.exists(_.contains("p_size")), s"Part is not the build side: $partBuilt")
  }

  test("an Ids source into Order reads only the Order relation once ranges are stamped") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val store = TestGraph(spark, dir)
    val orders = store.nodesFor("Order").select("_id").limit(2).collect().map(_.getLong(0))
    val comp = new Compiler(store, writeEnabled = true)
    // the first write scans for the id seed and stamps every label's range
    comp.run(g().addN("Customer", "c_custkey" -> graft.ast.PropertyValue.VI64(9999999L)).t)
    val df = comp.run(g().n(orders.toSeq: _*).values("o_orderkey").t)
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    val read = leaves.collect { case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
      h.location.rootPaths.mkString(",") }
    assert(read.size == leaves.size && read.forall(_.contains("orders")),
      s"expected only the orders relation: $leaves")
    assert(df.count() == orders.length)
  }
}

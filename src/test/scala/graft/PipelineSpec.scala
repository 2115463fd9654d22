package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Curation, Decontam, Dedup, GraphAlgos, Multimodal, TextAnalysis}

/** Training-data pipeline operators: dedup family, text analysis,
  * multimodal plumbing.
  */
class PipelineSpec extends GraftSuite {

  private def docs() = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
      (3L, "completely different text about database engines and queries"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (5L, "der schnelle braune fuchs springt und der hund ist nicht froh"),
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps one id per distinct text") {
    val kept = Dedup.exact(docs(), "text", "doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 collapses into 1
  }

  test("ngram jaccard finds near-dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs(), "text", "doc_id", n = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard with a shingle df-cap still verifies against full sets") {
    // docs 1/2/4 are near-dups with many shared shingles; cap df at 3 so
    // only the ubiquitous shingles drop from candidate generation — true
    // near-dup pairs survive because verification uses full sets
    val capped = Dedup.ngramJaccardPairs(docs(), "text", "doc_id",
      n = 3, num = 6, den = 10, maxShingleDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs(), "text", "doc_id", n = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == exact) // at df-cap 3 nothing real is lost on this corpus
  }

  test("minhash LSH candidates include true near-dups and verification filters") {
    val pairs = Dedup.minhashPairs(docs(), "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical docs share every band
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("boundedKeyPairs: sub-bucket split matches the naive pair set") {
    val s = spark
    import s.implicits._
    // random multi-occupancy keys; cap=4 forces most keys through the
    // big-path sub-bucket join, whose pair set must equal the naive
    // collect_list -> explodePairs expansion (exactly once per key)
    val rnd = new scala.util.Random(42)
    val items = (1 to 400).map(_ => (rnd.nextInt(12), rnd.nextInt(200).toLong))
      .distinct.toDF("k", "e")
    def naive(): Set[(Int, Long, Long)] = {
      val byK = items.collect().map(r => (r.getInt(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      byK.toSeq.flatMap { case (k, es) =>
        for (i <- es.indices; j <- (i + 1) until es.length) yield (k, es(i), es(j))
      }.toSet
    }
    // key rides along so per-key multiplicity is also checked (the
    // intersection-count contract: one pair row per shared key)
    val keyed = Dedup.boundedKeyPairs(
      items.select(col("k"), struct(col("k").as("kk"), col("e").as("ee")).as("_el")),
      Seq("k"), "_el", cap = 4)
      .select(col("id_a.kk"), col("id_a.ee"), col("id_b.ee"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(keyed.length == keyed.toSet.size) // exactly once per key
    assert(keyed.toSet == naive())
  }

  test("boundedKeyPairs: a 50k-element degenerate bucket completes with bounded buffers") {
    val s = spark
    import s.implicits._
    // one band key owned by 50k docs — the boilerplate-corpus case that
    // used to build one 50k-element collect_list buffer and emit 1.25B
    // pairs from a single task. With the default cap (4096) the largest
    // aggregation buffer is cap entries and the largest join block cap²,
    // spread over ~ (50000/4096)²/2 tasks; the full pair stream still
    // comes out exactly once each.
    val n = 50000L
    val items = s.range(n).select(lit(0).as("k"), col("id").as("e"))
    val cnt = Dedup.boundedKeyPairs(items, Seq("k"), "e").count()
    assert(cnt == n * (n - 1) / 2)
  }

  test("dup clusters: connected components with min-id representatives") {
    val s = spark
    import s.implicits._
    // components: {1,2,3} via a chain (diameter 2 — needs propagation,
    // not just direct neighbors), {10,11,12} via a triangle, {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // a long chain exercises multi-round convergence
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotChain = Dedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("dupClusters rounds spill to graft.scratch.dir; results unchanged") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch").toString
    s.conf.set("graft.scratch.dir", dir)
    s.conf.set("graft.scratch.keep", "true")
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
      val clusters = Dedup.dupClusters(pairs)
      val got = clusters.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 20L -> 20L, 21L -> 20L))
      val frames = new java.io.File(dir).list().toSeq
      // round frames plus the terminal one, each in its own directory
      assert(frames.count(_.startsWith("frame_")) >= 2, s"expected round frames under $dir: $frames")
      // the TERMINAL result must live in reliable storage too
      // (Scratch.stable parquet), not only the per-round FrameStore
      assert(clusters.inputFiles.nonEmpty &&
        clusters.inputFiles.forall(_.contains(s"$dir/frame_")),
        s"expected the result to read a stable frame under $dir")
    } finally {
      s.conf.unset("graft.scratch.dir")
      s.conf.unset("graft.scratch.keep")
    }
  }

  test("dupClusters escalates to the star variant instead of returning a partial merge") {
    val s = spark
    import s.implicits._
    // diameter-15 chain with maxIter=3: label propagation CANNOT converge,
    // so the result must come from the dupClustersStar escalation and
    // still be the exact transitive closure — never a partial merge
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = Dedup.escalationCount
    val got = Dedup.dupClusters(chain, maxIter = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 15L).map(_ -> 0L).toMap)
    assert(Dedup.escalationCount == before + 1)
  }

  test("capPerSource is deterministic and bounded per source") {
    val s = spark
    import s.implicits._
    val small = (1L to 30L).map(i => (i, s"s${i % 3}", s"doc $i")).toDF("doc_id", "source", "text")
    val grown = (1L to 60L).map(i => (i, s"s${i % 3}", s"doc $i")).toDF("doc_id", "source", "text")
    val keptSmall = Curation.capPerSource(small, "source", "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptGrown = Curation.capPerSource(grown, "source", "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptSmall.size == 15) // 3 sources x 5
    assert(keptGrown.size == 15)
    // growth only SWAPS docs when a new doc hashes earlier; the kept
    // set stays a deterministic function of the corpus (re-runs agree)
    val again = Curation.capPerSource(grown, "source", "doc_id", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == keptGrown)
    val stats = Curation.sourceStats(small, "source", "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L))
  }

  test("dedupCorpus keeps unpaired docs and one representative per cluster") {
    val s = spark
    import s.implicits._
    val corpus = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 5L), (5L, 7L), (3L, 9L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpus(corpus, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // {2,5,7} keeps 2; {3,9} keeps 3; everything unpaired survives
    assert(kept == Set(1L, 2L, 3L, 4L, 6L, 8L, 10L))
  }

  test("dupClustersStar: O(log n) rounds on a chain label propagation can't afford") {
    val s = spark
    import s.implicits._
    // a 64-node chain has diameter 63: label propagation would need 63
    // rounds; the star alternation must finish well inside maxIter=12
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClustersStar(chain, maxIter = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("dupClustersStar agrees with label propagation on a mixed graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // random components: 12 groups of random internal edges + isolates
    val pairs = (0 until 12).flatMap { g =>
      val ids = (0 until 6).map(i => (g * 100 + i).toLong)
      (0 until 7).map { _ =>
        val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2)
    }.toDF("id_a", "id_b")
    val prop = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.dupClustersStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == prop)
    assert(star.nonEmpty)
  }

  test("boundedCrossPairs: sub-bucketed cross join matches the naive cross set") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val a = (1 to 300).map(_ => (rnd.nextInt(10), rnd.nextInt(150).toLong))
      .distinct.toDF("k", "_e")
    val b = (1 to 300).map(_ => (rnd.nextInt(10), (1000 + rnd.nextInt(150)).toLong))
      .distinct.toDF("k", "_e")
    def naive(): Seq[(Long, Long)] = {
      val ka = a.collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      val kb = b.collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      (ka.keySet & kb.keySet).toSeq.flatMap(k =>
        for (x <- ka(k).toSeq.map(_._2); y <- kb(k).toSeq.map(_._2)) yield (x, y))
    }
    // cap=4 pushes most keys through the 2-D sub-bucket replication;
    // each cross pair must come out exactly once PER SHARED KEY
    val got = Dedup.boundedCrossPairs(a, b, Seq("k"), "_e", cap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.sorted == naive().sorted)
  }

  test("pair primitives match naive semantics across caps (randomized)") {
    val s = spark
    import s.implicits._
    // the two primitives under every dedup variant, swept across caps
    // that force all paths: all-small (big cap), all-big (cap 1), mixed
    val rnd = new scala.util.Random(123)
    for (trial <- 1 to 3; cap <- Seq(1, 3, 4096)) {
      val nKeys = 1 + rnd.nextInt(6)
      val a = (1 to 150).map(_ => (rnd.nextInt(nKeys), rnd.nextInt(80).toLong))
        .distinct.toDF("k", "_e")
      val b = (1 to 150).map(_ => (rnd.nextInt(nKeys), (500 + rnd.nextInt(80)).toLong))
        .distinct.toDF("k", "_e")
      val ka = a.collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      val kb = b.collect().map(r => (r.getInt(0), r.getLong(1))).groupBy(_._1)
      val naiveSelf = ka.toSeq.flatMap { case (_, es) =>
        val v = es.map(_._2).sorted
        for (i <- v.indices; j <- (i + 1) until v.length) yield (v(i), v(j))
      }.sorted
      val gotSelf = Dedup.boundedKeyPairs(a, Seq("k"), "_e", cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(gotSelf == naiveSelf, s"self pairs diverged at cap=$cap trial=$trial")
      val naiveCross = (ka.keySet & kb.keySet).toSeq.flatMap(k =>
        for (x <- ka(k).toSeq.map(_._2); y <- kb(k).toSeq.map(_._2)) yield (x, y)).sorted
      val gotCross = Dedup.boundedCrossPairs(a, b, Seq("k"), "_e", cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(gotCross == naiveCross, s"cross pairs diverged at cap=$cap trial=$trial")
    }
  }

  test("crossJaccardPairs pairs new-batch docs against the standing corpus only") {
    val all = docs()
    val pairs = Dedup.crossJaccardPairs(
      all.where(col("doc_id") % 2 === 0), all.where(col("doc_id") % 2 === 1),
      "text", "doc_id", n = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 (even, corpus) vs 1 (odd, batch) are exact dups -> cross pair;
    // 2 (even) vs 1 (odd) are near-dups -> cross pair; no within-side
    // pair (1,2 or 2,4 style) and no unrelated doc
    assert(pairs == Set((4L, 1L), (2L, 1L)))
    // the fused single-table form produces the identical pair set from
    // ONE shared shingle build
    val fused = Dedup.crossJaccardPairsFused(all, "text", "doc_id",
      id => id % 2 === 1, n = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fused == pairs)
  }

  test("lmScoreReport: common-token docs outscore rare-token docs; OOV pooled") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran to the mat"),
      (3L, "the dog sat on the rug"),
      (4L, ""), // token-free doc -> null score, n_tokens 0
    ).toDF("doc_id", "text")
    // the standalone model builder caps by count-then-term
    val lm = TextAnalysis.unigramLm(corpus, "text", vocab = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(lm.toSeq == Seq(("the", 6L), ("cat", 2L)))
    val r = TextAnalysis.lmScoreReport(corpus, "doc_id", "text", corpus, "text", vocab = 8)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), if (x.isNullAt(2)) Double.NaN else x.getDouble(2))).toMap
    assert(r(4L)._1 == 0L && r(4L)._2.isNaN)
    assert(r(1L)._1 == 6L)
    assert(Seq(1L, 2L, 3L).forall(i => r(i)._2 < 0.0))
    // lm0: the=6, cat=2, sat=2, on=2, mat=2, dog=1, ran=1, rug=1, to=1;
    // vocab cap 8 drops only 'to' (cnt-then-term order) -> OOV pool = 1.
    // Doc 1 is all high-count in-vocab tokens; doc 2 spends tokens on
    // ran (cnt 1) and to (OOV) -> strictly lower mean log-prob.
    assert(r(1L)._2 > r(2L)._2)
    // hand-check doc 1 against the add-one formula: N=18, V=8, D=27
    val d = 18.0 + 8.0 + 1.0
    def lp(c: Double) = math.log((c + 1.0) / d)
    val exp1 = (2 * lp(6) + 4 * lp(2)) / 6.0
    assert(math.abs(r(1L)._2 -
      BigDecimal(exp1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("keywordReport ranks distinctive terms above ubiquitous ones") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "apple apple banana the the the"),
      (2L, "the the banana cherry"),
      (3L, "the banana"),
    ).toDF("doc_id", "text")
    val kw = TextAnalysis.keywordReport(corpus, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> (r.getString(1), r.getDouble(3)))
      .toMap
    // 'the'/'banana' appear in every doc -> idf 0; unique terms dominate
    assert(kw((1L, 1L))._1 == "apple")
    assert(math.abs(kw((1L, 1L))._2 - 2.1972) < 1e-9) // 2·ln(3) rounded
    assert(kw((2L, 1L))._1 == "cherry")
    // zero-idf terms tie at 0.0 and order by term string
    assert(kw((1L, 2L)) == ("banana", 0.0) && kw((1L, 3L)) == ("the", 0.0))
    assert(kw((3L, 1L)) == ("banana", 0.0) && kw((3L, 2L)) == ("the", 0.0))
    assert(!kw.contains((3L, 3L))) // only 2 distinct terms in doc 3
  }

  test("chunkReport windows tokens with overlap; every token is covered") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b"),                            // shorter than one chunk
      (3L, ""),                               // token-free -> no rows
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkReport(corpus, "doc_id", "text",
      chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(rows == Set(
      (1L, 0L, "t0 t1 t2 t3", 4L),
      (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t6 t7 t8 t9", 4L),
      (2L, 0L, "a b", 2L)))
    // an 11th token forces a short trailing chunk
    val tail = TextAnalysis.chunkReport(
      Seq((9L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text"),
      "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(tail.contains((3L, "t9 t10", 2L)))
  }

  test("quantizeInt8: round-trip error bounded by scale/2; zero vector safe") {
    val s = spark
    import s.implicits._
    import graft.search.VectorOps
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-2.54f, 1.27f, 0.635f, 2.54f)),
    ).toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(vecs, "embedding").collect()
      .map(r => r.getLong(0) -> (r.getDouble(r.fieldIndex("q_scale")),
        r.getSeq[Byte](r.fieldIndex("q_vec")))).toMap
    assert(q(1L)._1 == 1.0 / 127.0)
    assert(q(1L)._2 == Seq[Byte](127, -64, 32, 0)) // round(±k·127)
    assert(q(2L)._1 == 0.0 && q(2L)._2.forall(_ == 0))
    // extreme components hit ±127 exactly; error ≤ scale/2 everywhere
    assert(q(3L)._2.head == -127 && q(3L)._2.last == 127)
    for ((id, (scale, qv)) <- q if id != 2L) {
      val orig = vecs.where(col("vec_id") === id)
        .head().getSeq[Float](1).map(_.toDouble)
      orig.zip(qv).foreach { case (v, b) =>
        assert(math.abs(v - b * scale) <= scale / 2 + 1e-12) }
    }
  }

  test("l2NormalizeQuantized: fixed-point unit vectors, direction preserved, zero safe") {
    val s = spark
    import s.implicits._
    import graft.search.VectorOps
    val vecs = Seq(
      (1L, Seq(3.0f, 4.0f)),               // norm 5 -> (0.6, 0.8)
      (2L, Seq(0.0f, 0.0f)),               // zero vector
      (3L, Seq(-1.0f, 1.0f, 2.0f, -2.0f)), // mixed signs
    ).toDF("vec_id", "embedding")
    val got = vecs.select(col("vec_id"),
      VectorOps.l2NormalizeQuantized(col("embedding")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(600000L, 800000L))
    assert(got(2L) == Seq(0L, 0L))
    // unit length at the fixed point, within quantization slack
    for (v <- got.values if v.exists(_ != 0)) {
      val n2 = v.map(x => x.toDouble * x).sum
      assert(math.abs(math.sqrt(n2) - 1000000.0) < 10.0, s"norm of $v")
    }
    // sign/direction preserved componentwise
    assert(got(3L).map(_.sign) == Seq(-1L, 1L, 1L, -1L))
    // the attribute-staged corpus form is bit-equal to the Column form
    val staged = VectorOps.l2NormalizeQuantizedStaged(vecs, "embedding", "n")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(staged == got, s"staged $staged vs inlined $got")
  }

  test("normalizeUrl canonicalizes case, ports, slashes, tracking params, fragments") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // case soup + www + default port + trailing slash + tracking +
      // unsorted params + fragment -> one canonical form
      ("HTTPS://WWW.Site.COM:443/A/b/?utm_source=x&b=2&a=1#frag",
        "https://site.com/A/b?a=1&b=2"),
      ("https://site.com/A/b?a=1&b=2", "https://site.com/A/b?a=1&b=2"),
      // path case is preserved; only scheme/host lower
      ("HTTP://Example.org/CaseSensitive", "http://example.org/CaseSensitive"),
      // root path == no path; :80 drops; all-tracking query drops its ?
      ("http://example.org:80/?utm_campaign=c&gclid=123", "http://example.org"),
      ("http://example.org", "http://example.org"),
      // only the SCHEME'S default port drops: http on 443 (and https
      // on 80) is a genuinely non-default port and stays
      ("http://example.org:443/x", "http://example.org:443/x"),
      ("https://example.org:80/x", "https://example.org:80/x"),
      ("https://example.org:443/x", "https://example.org/x"),
      // ref= and fbclid= drop; real params survive sorted
      ("https://a.io/p?ref=tw&z=1&fbclid=f&m=2", "https://a.io/p?m=2&z=1"),
      // www only strips as a LEADING label
      ("https://notwww.example.com/x", "https://notwww.example.com/x"),
      // non-absolute input passes through lowercased
      ("not a url", "not a url"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), graft.pipeline.Curation.normalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"'$in' -> '${got(in)}', want '$want'")
    }
    // dedup: two pairs collapse (the site.com pair and the example.org
    // pair), so 8 raw urls keep 6 canonical representatives
    val kept = graft.pipeline.Curation.urlDedup(
      cases.map(_._1).zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("doc_id", "url"), "url", "doc_id")
    assert(kept.count() == cases.length - 2)
    assert(kept.where(col("url_canon") === "https://site.com/A/b?a=1&b=2")
      .head().getLong(1) == 0L) // min-id representative
  }

  test("randomProject: exact integer linearity, balanced signs, distance preservation") {
    val s = spark
    import s.implicits._
    import graft.search.VectorOps
    val d = 64; val m = 16
    // sign matrix is deterministic and roughly balanced (md5 parity)
    val ones = (for (i <- 0 until d; j <- 0 until m) yield
      VectorOps.rpSign(i, j)).count(_ == 1L)
    assert(math.abs(ones - d * m / 2) < d * m / 5, s"skewed signs: $ones")
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(d)(rnd.nextInt(200).toFloat - 100f)
    val (a, b) = (vec(), vec())
    val sum = a.zip(b).map { case (x, y) => x + y }
    def proj(vs: Seq[(Long, Seq[Float])]): Map[Long, Seq[Long]] =
      VectorOps.randomProject(vs.toDF("vec_id", "embedding"),
        "embedding", "rv", d, m)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    val p = proj(Seq((1L, a), (2L, b), (3L, sum)))
    // integer-valued inputs quantize exactly -> projection is exactly
    // linear: rp(a + b) == rp(a) + rp(b) component-wise
    assert(p(3L) == p(1L).zip(p(2L)).map { case (x, y) => x + y },
      s"linearity broke: ${p(3L)}")
    // JL distance preservation (sanity, generous tolerance): the
    // expected squared projected distance is m * ||a-b||^2 at the
    // quantization scale
    val trueD2 = a.zip(b).map { case (x, y) =>
      val dd = (x - y).toDouble * 1000000L; dd * dd }.sum
    val projD2 = p(1L).zip(p(2L)).map { case (x, y) =>
      val dd = (x - y).toDouble; dd * dd }.sum
    val ratio = projD2 / (m * trueD2)
    assert(ratio > 0.3 && ratio < 3.0, s"JL distortion off: $ratio")
  }

  test("RAG loop: chunk, engine-embedded ingest, text vector search finds the source chunk") {
    import graft.ast._
    import graft.ast.PropertyValue._
    import graft.exec.{BatchExecutor, Compiler}
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "spark streaming handles late data with watermarks and stateful operators over unbounded event time"),
      (2L, "the recipe for fresh pasta needs flour eggs salt and a long patient kneading of the dough"),
    ).toDF("doc_id", "text")
    // pipeline side: token-window chunks; engine side: bulk AddN with
    // the chunk text written INTO the vector-indexed property — the
    // engine embeds at write (Embedder hook), the client ships no vector
    val chunks = TextAnalysis.chunkReport(corpus, "doc_id", "text",
      chunkSize = 8, overlap = 2)
      .collect().map(r => VObject(Map(
        "d" -> VI64(r.getLong(0)), "i" -> VI64(r.getLong(1)),
        "t" -> VString(r.getString(2)))))
    assert(chunks.length > 2)
    val batch = Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("ix"), Traversal(Vector(
        Step.CreateVectorIndexNodes("Chunk", "embedding", None))))),
      BatchEntry.ForEach("chunks", Seq(
        BatchEntry.Query(NamedQuery(Some("made"), Traversal(Vector(Step.AddN("Chunk", Seq(
          "doc_id" -> PropertyInput.FromExpr(Expr.Param("d")),
          "chunk_idx" -> PropertyInput.FromExpr(Expr.Param("i")),
          "chunk_text" -> PropertyInput.FromExpr(Expr.Param("t")),
          "embedding" -> PropertyInput.FromExpr(Expr.Param("t")))))))))),
    ), returns = Nil, write = true)
    val out = new BatchExecutor(TestBase.parityGraph(),
      Map("chunks" -> VArray(chunks.toSeq))).execute(batch)
    // retrieval with a TEXT query (embedded engine-side the same way)
    val hit = new Compiler(out.store).run(Traversal(Vector(
      Step.VectorSearchNodes("Chunk", "embedding", None,
        PropertyInput.Value(VString("a recipe for fresh pasta with flour and eggs")),
        StreamBound.Literal(1)),
      Step.Values(Seq("chunk_text")))))
      .collect().map(_.getString(0))
    assert(hit.length == 1 && hit.head.contains("pasta"), s"got: ${hit.mkString}")
  }

  test("asofJoin: latest right value at-or-before each left row, per key") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Temporal
    val left = Seq( // (event_id, user, ts)
      (100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 20L),
      (103L, 2L, 7L), (104L, 3L, 9L),
    ).toDF("event_id", "user_id", "ts")
    val right = Seq( // (user, ts, value)
      (1L, 10L, 1.5), (1L, 10L, 2.5), // tie at ts=10 -> max wins
      (1L, 15L, 3.5),
      (2L, 8L, 9.0), // after user 2's only left row
    ).toDF("user_id", "ts", "value")
    val got = Temporal.asofJoin(left, right, "user_id", "ts", "event_id", "value")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    assert(got(100L).isNaN)   // before any purchase
    assert(got(101L) == 2.5)  // equal ts is inclusive; tie -> max
    assert(got(102L) == 3.5)  // latest prior (ts=15)
    assert(got(103L).isNaN)   // right row is later (ts 8 > 7)
    assert(got(104L).isNaN)   // key with no right rows at all
  }

  test("rollingCount counts trailing-window peers, excluding self") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Temporal
    val ev = Seq( // (id, user, epoch-sec ts)
      (1L, 1L, 1000L), (2L, 1L, 1500L), (3L, 1L, 4000L), (4L, 1L, 4000L),
      (5L, 2L, 1000L),
    ).toDF("event_id", "user_id", "tsec")
      .select(col("event_id"), col("user_id"), col("tsec").cast("timestamp").as("ts"))
    val got = Temporal.rollingCount(ev, "user_id", "ts", "event_id", windowSec = 3600)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(
      1L -> 0L, // nothing before
      2L -> 1L, // id 1 within 3600s
      3L -> 3L, // ids 1 (3000s back) + 2 (2500s) + equal-ts peer id 4
      4L -> 3L, // symmetric: equal-ts peers count each other
      5L -> 0L))
  }

  test("asofJoin: a matched right row with NULL value yields NULL, not an older value") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Temporal
    val left = Seq((100L, 1L, 20L)).toDF("event_id", "user_id", "ts")
    val right = Seq( // latest right row (ts=15) has a NULL value
      (1L, 5L, Some(1.5)), (1L, 15L, Option.empty[Double]),
    ).toDF("user_id", "ts", "value")
    val got = Temporal.asofJoin(left, right, "user_id", "ts", "event_id", "value")
      .collect()
    assert(got.length == 1 && got(0).isNullAt(3),
      s"matched NULL must propagate, got ${got(0)}")
  }

  test("rollingCount frame boundary is µs-precise, not second-truncated") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Temporal
    // id 2 sits 3600.000001s after id 1: OUTSIDE a µs-precise window,
    // but a whole-second cast would truncate both to :00 and count it.
    // id 3 sits exactly 3600s after id 1: inclusive boundary, counted.
    val ev = Seq(
      (1L, 1L, 1000000500L),          // t0 (epoch 1000s + 500µs)
      (2L, 1L, 4600000501L),          // t0 + 3600.000001s
      (3L, 1L, 4600000500L),          // t0 + 3600s exactly
    ).toDF("event_id", "user_id", "tmicros")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("tmicros")).as("ts"))
    val got = Temporal.rollingCount(ev, "user_id", "ts", "event_id", windowSec = 3600)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("cross-batch span dedup equals the batch run restricted to the new docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "the standing corpus has its own content here"),
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "one two alpha beta gamma delta seven eight"), // dups vs corpus
      (3L, "purely novel text with no duplicate windows at all"),
      (5L, "shared within batch only phrase xyz"),
      (7L, "another shared within batch only phrase abc"), // dups vs doc 5
    ).toDF("doc_id", "text")
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cross = spans(Dedup.dupSpanExtractCross(fresh, corpus, "text", "doc_id", 3))
    val batch = spans(Dedup.dupSpanExtract(fresh.unionByName(corpus),
      "text", "doc_id", 3).where(col("doc_id") % 2 === 1))
    assert(cross == batch, s"cross=$cross batch=$batch")
    assert(cross.exists(_._1 == 1L)) // corpus-vs-new duplication found
    assert(cross.exists(_._1 == 5L) && cross.exists(_._1 == 7L)) // within-batch
    assert(!cross.exists(_._1 == 3L)) // novel doc untouched

    // strip path: same equality on the rewritten text
    val cleanCross = Dedup.stripDupSpansCross(fresh, corpus, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cleanBatch = Dedup.stripDupSpans(fresh.unionByName(corpus),
      "text", "doc_id", 3).where(col("doc_id") % 2 === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleanCross == cleanBatch)
    assert(cleanCross(3L) == "purely novel text with no duplicate windows at all")
  }

  test("k successive ingests maintain the window-count artifact additively: one corpus build, exact counts, linear size") {
    val s = spark
    import s.implicits._
    def docs(ids: Range, salt: String) = ids.map(i =>
      (i.toLong, s"common preamble tokens here $salt body $i alpha beta gamma " +
        s"unique$i tail ${i % 3}")).toDF("doc_id", "text")
    var standing: org.apache.spark.sql.DataFrame = docs(0 until 40, "corpus")
    val builds0 = Dedup.windowCountBuilds.get()
    // 3 successive ingests: each probes the STANDING artifact, then
    // folds its batch in additively — the standing corpus must never
    // be re-tokenized after its one initial build
    (1 to 3).foreach { k =>
      val batch = docs(100 * k until 100 * k + 10, s"batch$k")
      val spans = Dedup.dupSpanExtractCross(batch, standing,
        "text", "doc_id", 3)
      assert(spans.count() > 0, s"ingest $k found no cross spans")
      standing = Dedup.ingestWindowCounts(standing, batch,
        "text", "doc_id", 3)
    }
    assert(Dedup.windowCountBuilds.get() - builds0 == 1,
      "k ingests must build the corpus artifact exactly once")
    // exactness: the 3-generation merged artifact equals a from-scratch
    // build over the same final union (distinct plan => fresh build)
    val merged = Dedup.windowCountsCached(standing, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.windowCountsCached(standing.repartition(3),
        "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == scratch,
      s"additive artifact diverged: ${merged.size} vs ${scratch.size}")
    // linear size: one row per DISTINCT window hash (counts merge,
    // rows don't multiply across generations)
    assert(merged.size == scratch.size && merged.values.sum == scratch.values.sum)
    // and the incremental cross probe over the returned standing frame
    // equals the batch run restricted to the new docs
    val nextBatch = docs(900 until 905, "batch2") // re-salts batch2 text
    val cross = Dedup.dupSpanExtractCross(nextBatch, standing,
        "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchRun = Dedup.dupSpanExtract(nextBatch.unionByName(standing),
        "text", "doc_id", 3).where(col("doc_id") >= 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cross == batchRun, s"cross=$cross batch=$batchRun")
  }

  test("dupSpanExtract merges duplicated windows into maximal spans; strip cuts them") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two alpha beta gamma delta seven eight"),
      (3L, "repeat me repeat me repeat"), // within-doc repeat
      (4L, "Totally UNIQUE content, here!"),
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpanExtract(corpus, "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans == Set(
      (1L, 0L, 3L, 4L), // "alpha beta gamma delta" (windows 0,1 merge)
      (2L, 2L, 5L, 4L), // same phrase at offset 2
      (3L, 0L, 2L, 3L), (3L, 2L, 4L, 3L), // "repeat me repeat" twice, non-adjacent starts
    ))
    val clean = Dedup.stripDupSpans(corpus, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) == "epsilon zeta")
    assert(clean(2L) == "one two seven eight")
    assert(clean(3L) == "") // all five tokens covered
    assert(clean(4L) == "Totally UNIQUE content, here!") // untouched: raw passthrough
  }

  test("simhash pairs exact dups at distance 0") {
    val pairs = Dedup.simhashPairs(docs(), "text", "doc_id", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("embedding cosine pairs via broadcast kernel") {
    val s = spark
    import s.implicits._
    val embs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(embs, "embedding", "vec_id", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding pairs: IVF-bucketed path finds the same close pairs as brute") {
    val s = spark
    import s.implicits._
    // 30 groups of 4 identical vectors: in-group cosine = 1.0, cross-group
    // <= ~0.99 — identical vectors always share an IVF cluster, so the
    // bucketed path must have zero recall loss vs brute
    val embs = (0 until 120).map { i =>
      val grp = i / 4
      val c = grp % 8
      val v = Array.tabulate(8)(j =>
        if (j == c) 1.0f else if (j == (c + 1 + grp / 8) % 8) 0.1f else 0.0f).toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val brute = Dedup.embeddingPairs(embs, "embedding", "vec_id", 0.999,
        bruteForce = Some(true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Dedup.embeddingPairs(embs, "embedding", "vec_id", 0.999,
        bruteForce = Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size == 30 * 6) // within-group pairs only
    assert(ivf == brute)
  }

  test("embedding pairs: degenerate one-cluster corpus stays capped and exact") {
    val s = spark
    import s.implicits._
    // all-same-vector corpus: every row lands on one centroid, so an
    // uncapped cluster join would form n² pairs in ONE task — the
    // sub-bucket cap must spread the (inherently quadratic) output over
    // ~(n/cap)² blocks while producing each pair exactly once
    val n = 1200
    val embs = (0 until n).map(i => (i.toLong, Seq(1.0f, 0.5f, 0.25f, 0.0f)))
      .toDF("vec_id", "embedding")
    val t0 = System.nanoTime()
    val pairs = Dedup.embeddingPairs(embs, "embedding", "vec_id", 0.99,
      bruteForce = Some(false), maxClusterBlock = 128)
    val cnt = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cnt == n.toLong * (n - 1) / 2, s"expected all pairs once, got $cnt")
    assert(pairs.distinct().count() == cnt) // no duplicates from the bucket join
    assert(secs < 120.0, s"degenerate corpus took ${secs}s")
  }

  test("embedding pairs IVF sizing scales with corpus count") {
    assert(Dedup.ivfNlistFor(1000L) == 64)          // floor
    assert(Dedup.ivfNlistFor(1000000L) == 1000)     // sqrt
    assert(Dedup.ivfNlistFor(1000000000L) == 31623) // ~n/31k rows per cluster
  }

  test("language id picks marker-rich language (expression and staged report agree)") {
    val r = docs().select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "en" && r(5L) == "de")
    val staged = TextAnalysis.langIdReport(docs(), "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(staged == r)
  }

  test("token count, quality metrics, fingerprint") {
    val d = docs()
    val tc = d.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))
      .where(col("doc_id") === 1L).collect()(0).getLong(1)
    assert(tc == 13L)
    val q = TextAnalysis.qualityReport(d, "doc_id", "text")
      .where(col("doc_id") === 1L).collect()(0)
    assert(q.getLong(2) == 13L) // n_tokens
    assert(q.getLong(3) == 3L)  // stop hits: "the" x3
    val fp = d.select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(2L))
  }

  test("curation: PII scrub redacts urls, emails, and phone shapes") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "contact me at jane.doe@example.com or 555-123-4567 today"),
      (2L, "see https://example.com/a?b=c#d and http://x.io for details"),
      (3L, "clean text with no identifiers at all"),
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), Curation.scrubPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "contact me at <EMAIL> or <PHONE> today")
    assert(got(2L) == "see <URL> and <URL> for details")
    assert(got(3L) == "clean text with no identifiers at all")
  }

  test("curation: hash sampling is deterministic and membership is stable under growth") {
    val s = spark
    import s.implicits._
    val small = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val big = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def sample(df: org.apache.spark.sql.DataFrame) =
      Curation.hashSample(df, "doc_id", 3, 10).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val s1 = sample(small)
    assert(s1 == sample(small)) // deterministic
    // a doc's membership never changes as the corpus grows
    assert(sample(big).filter(_ <= 200L) == s1)
    // roughly 30%
    assert(s1.size > 30 && s1.size < 90)
  }

  test("curation: split assignment is total, deterministic, and proportional-ish") {
    val s = spark
    import s.implicits._
    val df = (1L to 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val cuts = Seq(("train", 90), ("val", 95), ("test", 100))
    val counts = Curation.splitAssign(df, "doc_id", cuts, 100)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L)
    assert(counts("train") > 800L && counts("val") > 10L && counts("test") > 10L)
  }

  test("curation: corpus stats computes exact percentiles") {
    val s = spark
    import s.implicits._
    // token counts 1..5 -> p50 = 3.0 exactly
    val df = (1 to 5).map(n => (n.toLong, Seq.fill(n)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Curation.corpusStats(df, "text").collect()(0)
    assert(r.getAs[Long]("docs") == 5L)
    assert(r.getAs[Double]("p50_tokens") == 3.0)
    assert(r.getAs[Long]("total_chars") == (1 to 5).map(n => 2 * n - 1).sum.toLong)
  }

  test("multimodal: feature extraction keeps schema + adds fixed-dim features") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val out = Multimodal.extractFeatures(media, dim = 16)
    assert(out.columns.contains("features"))
    val f = out.select("features").collect()
    assert(f.forall(_.getSeq[Float](0).length == 16))
    // deterministic: same input bytes -> same features
    val again = Multimodal.extractFeatures(media, dim = 16)
      .select("media_id", "features").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val first = out.select("media_id", "features").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again == first)
  }

  test("multimodal: resize updates image meta only; frame sampling explodes videos") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val resized = Multimodal.resizeImages(media, 224, 224)
    val img = resized.where(col("modality") === "image").select("meta.width").distinct().collect()
    assert(img.map(_.getInt(0)).toSeq == Seq(224))
    val aud = resized.where(col("modality") === "audio").select("meta.width").distinct().collect()
    assert(aud.map(_.getInt(0)).length > 1)
    val frames = Multimodal.sampleFrames(media, stride = 10)
    assert(frames.where(col("modality") =!= "video").count() == 0)
    assert(frames.count() > media.where(col("modality") === "video").count())
  }

  test("multimodal: mediaFromIds payloads decode back to the id-formula pixels") {
    val s = spark
    import s.implicits._
    val ids = (0L to 30L).toDF("doc_id")
    val media = Multimodal.mediaFromIds(ids, "doc_id")
    val got = Multimodal.pixelChecksum(media.where(col("modality") === "image"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expect(id: Long): Long = {
      val w = (id % 13 + 1).toInt; val h = (id % 7 + 1).toInt
      (for (y <- 0 until h; x <- 0 until w) yield
        ((id * 37 + x * 5 + y * 11) % 255) * 65536L +
          ((id * 13 + x) % 255) * 256L + ((id * 7 + y) % 255)).sum
    }
    assert(got.keySet == (0L to 30L).filter(_ % 3 == 0).toSet)
    got.foreach { case (id, cs) => assert(cs == expect(id), s"media_id $id") }
  }

  test("multimodal: WAV encode -> decode roundtrip is sample-exact; audioChecksum matches formula") {
    val s = spark
    import s.implicits._
    // direct roundtrip
    val samples = Array.tabulate(777)(k => ((k * 131 % 65536) - 32768).toShort)
    val decoded = Multimodal.decodeAudio(Multimodal.encodeWav(samples, 8000))
    assert(decoded.exists { case (rate, ch, got) =>
      rate == 8000 && ch == 1 && got.sameElements(samples)
    })
    // distributed: mediaFromIds audio rows decode to the id formula
    val ids = (0L to 30L).toDF("doc_id")
    val got = Multimodal.audioChecksum(
      Multimodal.mediaFromIds(ids, "doc_id").where(col("modality") === "audio"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def expect(id: Long): Long =
      (0 until (id % 50 + 10).toInt).map(k => (id * 31 + k * 7) % 65536 - 32768).sum
    assert(got.keySet == (0L to 30L).filter(_ % 3 == 1).toSet)
    got.foreach { case (id, (sum, n, rate)) =>
      assert(sum == expect(id) && n == id % 50 + 10 && rate == 16000L, s"id $id")
    }
    // real audio features: the decoded-envelope path, not the byte fallback
    val feats = Multimodal.extractFeatures(
      Multimodal.mediaFromIds(ids, "doc_id").where(col("modality") === "audio"),
      dim = 8).select("features").head().getSeq[Float](0)
    assert(feats.length == 8 && feats.exists(_ > 0.0f))
  }

  test("multimodal: AVI DIB mux -> demux roundtrip is pixel-exact; MJPEG decodes") {
    def frame(seed: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((seed * 31 + x * 7 + y * 3) % 0xFFFFFF))
      img
    }
    val frames = (0 until 4).map(f => frame(f + 1, 11, 5)) // odd width: stride padding
    val avi = Multimodal.encodeAvi(frames, fps = 10)
    val Some((w, h, got)) = Multimodal.decodeVideo(avi)
    assert((w, h, got.length) == (11, 5, 4))
    for (f <- 0 until 4; y <- 0 until 5; x <- 0 until 11)
      assert((got(f).getRGB(x, y) & 0xFFFFFF) == (frames(f).getRGB(x, y) & 0xFFFFFF),
        s"frame $f pixel ($x,$y)")
    // MJPEG: lossy, so assert container geometry + decodability, not pixels
    val mjpeg = Multimodal.encodeAvi(frames, fps = 10, mjpeg = true)
    val Some((mw, mh, mgot)) = Multimodal.decodeVideo(mjpeg)
    assert((mw, mh, mgot.length) == (11, 5, 4))
    assert(mgot.forall(f => f.getWidth == 11 && f.getHeight == 5))
    // unknown containers refuse to demux (byte fallback stays in charge)
    assert(Multimodal.decodeVideo(Array.fill[Byte](64)(7)).isEmpty)
    assert(Multimodal.decodeVideo("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Multimodal.decodeVideo(null).isEmpty)
  }

  test("multimodal: video checksum + probe follow the real demuxed container") {
    val s = spark
    import s.implicits._
    val ids = (0L to 30L).toDF("doc_id")
    val vids = Multimodal.mediaFromIds(ids, "doc_id")
      .where(col("modality") === "video")
    val got = Multimodal.videoChecksum(vids).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def expect(id: Long, f: Long): Long = {
      val w = (id % 13 + 1).toInt; val h = (id % 7 + 1).toInt
      (for (y <- 0 until h; x <- 0 until w) yield
        ((id * 37 + x * 5 + y * 11 + f * 3) % 255) * 65536L +
          ((id * 13 + x + f) % 255) * 256L + ((id * 7 + y + 2 * f) % 255)).sum
    }
    val videoIds = (0L to 30L).filter(_ % 3 == 2)
    assert(got.keySet == videoIds.flatMap(id =>
      (0L until (id % 5 + 2)).map(id -> _)).toSet)
    got.foreach { case ((id, f), cs) =>
      assert(cs == expect(id, f), s"media_id $id frame $f") }
    // probe corrects the declared n_frames from the real container
    val probed = Multimodal.probeVideoMeta(vids)
      .select("media_id", "meta.n_frames", "meta.format").collect()
    probed.foreach { r =>
      assert(r.getInt(1) == (r.getLong(0) % 5 + 2).toInt)
      assert(r.getString(2) == "avi-decodable")
    }
    // feature extraction runs the real decode path on video rows
    val feats = Multimodal.extractFeatures(vids, dim = 12)
      .select("features").collect()
    assert(feats.forall(_.getSeq[Float](0).length == 12))
  }

  test("dupSpans counts cross-doc duplicated positions, not distinct shingles") {
    val r = Dedup.dupSpans(docs(), "text", "doc_id", n = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // doc 1 and its exact dup 4: every trigram position duplicated
    assert(r(1L) == ((11L, 11L, 1.0))) // 13 tokens -> 11 trigram positions
    assert(r(4L) == ((11L, 11L, 1.0)))
    // doc 3 and 5 share no trigrams with anything
    assert(r(3L)._2 == 0L && r(3L)._3 == 0.0)
    assert(r(5L)._2 == 0L)
    // doc 2 differs from 1 only in the last word: just the final
    // trigram position is unique, the other 10 duplicate
    assert(r(2L)._1 == 11L && r(2L)._2 == 10L)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the eval set") {
    val s = spark
    import s.implicits._
    val corpus = docs() // 1/2/4 share trigrams; 3 and 5 are disjoint from eval
    val eval = Seq((100L, "fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val hits = Decontam.contamination(corpus, eval, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 2L, 4L)) // share "fox jumps over" etc.
    assert(hits(1L) == hits(4L)) // exact dups overlap identically
    val kept = Decontam.decontaminate(corpus, eval, "text", "doc_id", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L))
  }

  test("attribution reports per-eval-doc train overlap breadth") {
    val s = spark
    import s.implicits._
    val corpus = docs()
    val eval = Seq(
      (100L, "fox jumps over the lazy dog today"),   // leaks into 1/2/4
      (101L, "nothing here matches the training corpus vocabulary"))
      .toDF("doc_id", "text")
    val attr = Decontam.attribution(corpus, eval, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(attr.keySet == Set(100L), s"got $attr") // 101 clean -> absent
    assert(attr(100L)._1 == 3L) // three train docs touch it
    assert(attr(100L)._2 >= 1L)
  }

  test("decontamination broadcasts the eval side; corpus side has no shuffle before the join") {
    val s = spark
    import s.implicits._
    val eval = Seq((100L, "fox jumps over the lazy dog today")).toDF("doc_id", "text")
    val plan = Decontam.contamination(docs(), eval, "text", "doc_id", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"eval side must broadcast:\n$plan")
  }

  test("repetition metrics: dup fractions match hand counts and bound [0,1]") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"), // 4 words 1 distinct; 3 bigrams 1 distinct
      (2L, "all words here differ"), // no repeats
      (3L, ""), // empty: all fractions 0
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L) == ((4L, 0.75, 0.6667, 0.5))) // bigram frac rounds to 4dp
    assert(m(2L) == ((4L, 0.0, 0.0, 0.0)))
    assert(m(3L) == ((0L, 0.0, 0.0, 0.0)))
  }

  test("topNgrams counts occurrences with a deterministic tie-break at the k boundary") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "red fox red fox blue sky"),
      (2L, "blue sky over the hill"),
    ).toDF("doc_id", "text")
    val top = TextAnalysis.topNgrams(df, "text", n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "red fox" x2, "blue sky" x2, then the count-1 ties in string order
    assert(top(0) == ("blue sky", 2L) || top(1) == ("blue sky", 2L))
    assert(top.take(2).map(_._1).toSet == Set("red fox", "blue sky"))
    assert(top(2) == ("fox blue", 1L)) // first count-1 bigram alphabetically
    // the plan takes per-partition top-k heaps, not a global sort
    val plan = TextAnalysis.topNgrams(df, "text", 2, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sampleByRates keeps per-source rates and ignores other sources' rate changes") {
    val s = spark
    import s.implicits._
    val df = (0L until 400L).map(i => (i, s"src${i % 4}", s"text $i")).toDF("doc_id", "source", "text")
    val a = Curation.sampleByRates(df, "source", "doc_id",
      Map("src0" -> 10, "src1" -> 2), defaultNum = 1, den = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // rate 10/10 keeps every src0 row
    assert((0L until 400L by 4).forall(a.contains))
    // re-weighting src1 must not churn the other sources' kept sets
    val b = Curation.sampleByRates(df, "source", "doc_id",
      Map("src0" -> 10, "src1" -> 7), defaultNum = 1, den = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.filter(_ % 4 != 1) == b.filter(_ % 4 != 1))
    assert(a.filter(_ % 4 == 1).subsetOf(b)) // higher rate only adds
  }

  test("dsirWeights ranks target-domain docs above off-domain; feature count and degenerate contracts hold; Gumbel sample replays") {
    val s = spark
    import s.implicits._
    val chemWords = Seq("acid", "base", "molecule", "reaction", "catalyst",
      "ion", "bond", "electron", "oxide", "solvent")
    val astroWords = Seq("galaxy", "orbit", "nebula", "quasar", "pulsar",
      "comet", "asteroid", "cluster", "parallax", "supernova")
    def sentence(ws: Seq[String], salt: Int): String =
      (0 until 12).map(i => ws((i * 7 + salt) % ws.size)).mkString(" ")
    // target corpus: pure chemistry
    val target = (0L until 8L).map(i => (i, sentence(chemWords, i.toInt)))
      .toDF("doc_id", "text")
    // raw corpus: 6 chem docs, 6 astro docs, one tokenless doc
    val raw = ((0L until 6L).map(i => (i, sentence(chemWords, i.toInt + 3))) ++
      (10L until 16L).map(i => (i, sentence(astroWords, i.toInt))) ++
      Seq((20L, "!!! ???"))).toDF("doc_id", "text").repartition(7)
    val w = Curation.dsirWeights(raw, "doc_id", "text", target, "text",
      buckets = 128).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 12 tokens -> 12 unigrams + 11 bigrams
    assert(w(0L)._1 == 23L, s"n_feats must be 2n-1: ${w(0L)}")
    assert(w(20L) == ((0L, 0.0)), s"tokenless doc contract: ${w(20L)}")
    val chemMin = (0L until 6L).map(w(_)._2).min
    val astroMax = (10L until 16L).map(w(_)._2).max
    assert(chemMin > astroMax + 1.0,
      s"target-domain docs must outrank clearly: $chemMin vs $astroMax")
    // weights are partitioning-independent (pure hash arithmetic)
    val w1 = Curation.dsirWeights(raw.repartition(2), "doc_id", "text",
      target, "text", buckets = 128).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w1 == w, "weights must not depend on partitioning")
    // Gumbel-top-k: exact size, 1-based dense ranks, replayable; with
    // these weight gaps the selection is the chem side
    val sel = Curation.dsirSample(raw, "doc_id", "text", target, "text",
      k = 6, seed = "t1", buckets = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sel.length == 6 && sel.map(_._2).sorted.sameElements(1L to 6L),
      s"ranks must be 1..6: ${sel.toSeq}")
    assert(sel.map(_._1).forall(_ < 6L),
      s"selection must be the target-domain docs: ${sel.toSeq}")
    val sel2 = Curation.dsirSample(raw.repartition(3), "doc_id", "text",
      target, "text", k = 6, seed = "t1", buckets = 128).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sel2.sorted.sameElements(sel.sorted), "sample must replay exactly")
    // a different seed redraws the Gumbel noise but keeps determinism
    val sel3 = Curation.dsirSample(raw, "doc_id", "text", target, "text",
      k = 6, seed = "t2", buckets = 128).collect().map(_.getLong(0)).toSet
    assert(sel3.size == 6)
  }

  test("tokenBudgetSelect keeps the best-first prefix within each source's token budget") {
    val s = spark
    import s.implicits._
    // src A: quality order b(9) > a(8) > c(7); tokens 60/50/40.
    // budget 120: b(60) + a(110) fit, c would reach 150 -> dropped.
    // src B unlisted -> default budget 45: e(0.9, 40) fits, d(0.5, 10)
    // would reach 50 -> dropped EVEN THOUGH it alone fits (prefix
    // rule, not knapsack)
    val df = Seq(
      (1L, "A", 50L, 0.8), (2L, "A", 60L, 0.9), (3L, "A", 40L, 0.7),
      (4L, "B", 10L, 0.5), (5L, "B", 40L, 0.9))
      .toDF("doc_id", "source", "n_tokens", "quality").repartition(5)
    val got = Curation.tokenBudgetSelect(df, "source", "doc_id",
        "n_tokens", "quality", Map("A" -> 120L), defaultBudget = 45L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got == Map(2L -> 60L, 1L -> 110L, 5L -> 40L),
      s"prefix-under-budget contract: $got")
    // quality tie breaks by id: equal scores keep the smaller id first
    val tie = Seq((10L, "C", 30L, 0.5), (11L, "C", 30L, 0.5))
      .toDF("doc_id", "source", "n_tokens", "quality")
    val tied = Curation.tokenBudgetSelect(tie, "source", "doc_id",
        "n_tokens", "quality", Map("C" -> 30L))
      .collect().map(_.getLong(0)).toSeq
    assert(tied == Seq(10L), s"tie must resolve by id: $tied")
    // zero default budget keeps nothing from unlisted sources
    val none = Curation.tokenBudgetSelect(df, "source", "doc_id",
      "n_tokens", "quality", Map("A" -> 120L)).collect().map(_.getLong(0))
    assert(!none.contains(4L) && !none.contains(5L))
    // composite-key form: per (source, topic) cells budget
    // independently — A/t1 keeps only its best (60 fills the 70 cap),
    // A/t2 and B/t1 budget separately from it
    val cells = Seq(
      (1L, "A", "t1", 60L, 0.9), (2L, "A", "t1", 20L, 0.8),
      (3L, "A", "t2", 50L, 0.9), (4L, "B", "t1", 50L, 0.9))
      .toDF("doc_id", "source", "topic", "n_tokens", "quality")
    val byCell = Curation.tokenBudgetSelectBy(cells,
        Seq("source", "topic"), "doc_id", "n_tokens", "quality", 70L)
      .collect().map(_.getLong(0)).toSet
    assert(byCell == Set(1L, 3L, 4L),
      s"per-cell budgets must be independent: $byCell")
  }

  test("temperatureMix flattens the source distribution toward the target mass") {
    val s = spark
    import s.implicits._
    // skewed corpus: src0 = 800 rows, src1 = 150, src2 = 50
    val df = ((0L until 800L).map(i => (i, "src0")) ++
      (800L until 950L).map(i => (i, "src1")) ++
      (950L until 1000L).map(i => (i, "src2")))
      .toDF("doc_id", "source")
    val kept = Curation.temperatureMix(df, "source", "doc_id",
      alpha = 0.5, targetFrac = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = Map("src0" -> 800.0, "src1" -> 150.0, "src2" -> 50.0)
    val w = n.view.mapValues(math.sqrt).toMap
    val wsum = w.values.sum
    // expected kept mass per source = min(n_i, 0.5 * 1000 * w_i / wsum);
    // the hash threshold realizes it within a few percent of the corpus
    n.keys.foreach { src =>
      val expected = math.min(n(src), 500.0 * w(src) / wsum)
      assert(math.abs(kept.getOrElse(src, 0L) - expected) <= 0.05 * 1000,
        s"$src: kept ${kept.get(src)} vs expected $expected")
    }
    // alpha=0.5 must keep relatively MORE of the small source than of
    // the big one (the whole point of temperature flattening)
    assert(kept("src2").toDouble / 50 > kept("src0").toDouble / 800)
    // alpha=1 degrades to proportional sampling: every source keeps
    // ~targetFrac of itself
    val prop = Curation.temperatureMix(df, "source", "doc_id",
      alpha = 1.0, targetFrac = 0.5)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    n.keys.foreach { src =>
      assert(math.abs(prop(src) / n(src) - 0.5) < 0.15,
        s"$src proportional: ${prop(src)} of ${n(src)}")
    }
  }

  test("withLangId preserves columns; temperature mixing composes over source × lang") {
    val d = docs()
    val wl = TextAnalysis.withLangId(d, "text", "lg")
    assert(wl.columns.toSeq == d.columns.toSeq :+ "lg")
    val viaReport = TextAnalysis.langIdReport(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaWith = wl.select("doc_id", "lg").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaWith == viaReport)
    val keyed = wl
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(2L))))
      .withColumn("_sl", concat_ws(":", col("source"), col("lg")))
    // alpha=1, targetFrac=1 is the identity mix: every per-key
    // threshold saturates at den, so every row is kept
    val all = Curation.temperatureMix(keyed, "_sl", "doc_id",
      alpha = 1.0, targetFrac = 1.0)
    assert(all.count() == d.count())
    assert(all.columns.toSeq == keyed.columns.toSeq) // input shape out
    // sub-identity mixes are deterministic (hash threshold, no RNG)
    val k1 = Curation.temperatureMix(keyed, "_sl", "doc_id",
      alpha = 0.5, targetFrac = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = Curation.temperatureMix(keyed, "_sl", "doc_id",
      alpha = 0.5, targetFrac = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(k1 == k2 && k1.nonEmpty && k1.size < d.count())
  }

  test("editDistancePairs verifies LSH candidates by levenshtein threshold") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog in the yard today"
    val d = Seq(
      (1L, base),
      (2L, base.replace("today", "friday")),          // distance 5, shares shingles
      (3L, base.replace("the lazy dog", "an angry cat chasing birds")), // larger edit
      (4L, "completely unrelated text with no common shingles at all"))
      .toDF("doc_id", "text")
    val tight = Dedup.editDistancePairs(d, "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L)), s"got $tight")
    // a looser threshold admits the larger rewrite too (still LSH-bound)
    val loose = Dedup.editDistancePairs(d, "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, maxDist = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)) && !loose.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("withMinhashBandKeys matches the batch signature artifact's band keys") {
    val d = docs()
    val sig = Dedup.minhashSignatureCached(d, "text", "doc_id", n = 3, numHashes = 6)
    val expected = sig.select(col("_did"), array(Dedup.bandKeyExprs(6, 3,
      j => col(s"mh$j")): _*).as("k")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val got = Dedup.withMinhashBandKeys(d, "text", 3, 6, 3)
      .select(col("doc_id"), col("_bands")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == expected)
  }

  test("pageRank: quantized power iteration matches a driver-side reference") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val got = GraphAlgos.pageRank(edges, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the same integer recurrence in plain Scala
    val und = Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L,
      1L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 3L)
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val init = 1000000000L / deg.size
    val base = init * 15 / 100
    var pr = deg.keys.map(_ -> init).toMap
    for (_ <- 1 to 8) {
      val contrib = und.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => pr(src) / deg(src) }.sum
      }
      pr = contrib.map { case (v, cs) => v -> (base + cs * 85 / 100) }
    }
    assert(got == pr, s"got $got expected $pr")
    // quantization loses at most a few units per vertex per round;
    // total mass stays within that of the full scale
    assert(math.abs(got.values.sum - 1000000000L) < 100L * got.size * 8)
    // the hub of a star graph ends up with the highest rank
    val star = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)).toDF("id_a", "id_b")
    val sp = GraphAlgos.pageRank(star, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp(10L) == sp.values.max && sp(10L) > sp(1L))
    // empty edge frame -> empty ranks, schema intact
    val empty = GraphAlgos.pageRank(edges.where(lit(false)))
    assert(empty.columns.toSeq == Seq("node_id", "pr_q") && empty.count() == 0)
  }

  test("randomWalks: hand-replayed md5 choices, full length, determinism, partitioning independence") {
    val s = spark
    import s.implicits._
    // triangle 1-2-3: every vertex has the id-sorted 2-neighbor
    // adjacency, so each hop's choice is md5 mod 2 — replayed here
    // with an independent MessageDigest implementation
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val nbrs = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L), 3L -> Seq(1L, 2L))
    def choice(seed: String, st: Long, w: Long, t: Int, u: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$st:$w:$t:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (BigInt(hex.substring(0, 15), 16) % nbrs(u).size).toInt
    }
    val got = GraphAlgos.randomWalks(edges, steps = 3, walksPerNode = 2,
        seed = "t")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    // 3 vertices x 2 walks x 4 positions, no dead ends on undirected
    assert(got.size == 24, s"expected 24 walk rows, got ${got.size}")
    for (st <- 1L to 3L; w <- 0L to 1L) {
      var cur = st
      assert(got((st, w, 0L)) == cur, "step 0 is the start vertex")
      for (t <- 1 to 3) {
        cur = nbrs(cur)(choice("t", st, w, t, cur))
        assert(got((st, w, t.toLong)) == cur,
          s"walk ($st,$w) step $t: ${got((st, w, t.toLong))} vs $cur")
      }
    }
    // same seed replays; a different seed moves at least one hop
    val again = GraphAlgos.randomWalks(edges.repartition(5), 3, 2, "t")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(again == got, "partitioning must not change the corpus")
    val other = GraphAlgos.randomWalks(edges, 3, 2, "u")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(other != got, "a different seed must change some hop")
    // steps = 0 emits exactly the starts
    assert(GraphAlgos.randomWalks(edges, 0, 1, "t").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSet ==
      Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("randomWalksWeighted: interval replay, proportional choice, determinism, partitioning independence") {
    val s = spark
    import s.implicits._
    // triangle with a HEAVY 1-2 edge (w=5) vs light 2-3 / 1-3 (w=1):
    // each hop draws md5 mod totalWeight(u) and lands in the
    // cumulative interval over id-ordered neighbors — replayed here
    // with an independent MessageDigest implementation
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 1L))
      .toDF("id_a", "id_b", "w")
    val nbrs = Map( // (neighbor, weight) id-ordered
      1L -> Seq((2L, 5L), (3L, 1L)),
      2L -> Seq((1L, 5L), (3L, 1L)),
      3L -> Seq((1L, 1L), (2L, 1L)))
    def pick(seed: String, st: Long, w: Long, t: Int, u: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$st:$w:$t:$u".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val tot = nbrs(u).map(_._2).sum
      val r = (BigInt(hex.substring(0, 15), 16) % tot).toLong
      var cum = 0L; var res = -1L
      for ((v, wt) <- nbrs(u)) if (res < 0) { cum += wt; if (r < cum) res = v }
      res
    }
    val got = GraphAlgos.randomWalksWeighted(edges, steps = 3,
        walksPerNode = 2, seed = "tw")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(got.size == 24, s"expected 24 walk rows, got ${got.size}")
    for (st <- 1L to 3L; w <- 0L to 1L) {
      var cur = st
      assert(got((st, w, 0L)) == cur, "step 0 is the start vertex")
      for (t <- 1 to 3) {
        cur = pick("tw", st, w, t, cur)
        assert(got((st, w, t.toLong)) == cur,
          s"walk ($st,$w) step $t: ${got((st, w, t.toLong))} vs $cur")
      }
    }
    // proportionality: across many seeds, vertex 1's first hop picks
    // the w=5 neighbor ~5/6 of the time (exact counting, no tolerance
    // games: 5/6 of 60 seeds is 50; accept the binomial bulk 40..58)
    val heavy = (0 until 60).count(i => pick(s"s$i", 1L, 0L, 1, 1L) == 2L)
    assert(heavy >= 40 && heavy <= 58,
      s"heavy edge picked $heavy/60 — not weight-proportional")
    // partitioning independence + seed sensitivity
    val again = GraphAlgos.randomWalksWeighted(edges.repartition(5), 3, 2, "tw")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(again == got, "partitioning must not change the corpus")
    val other = GraphAlgos.randomWalksWeighted(edges, 3, 2, "uw")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    assert(other != got, "a different seed must change some hop")
    // uniform weights degrade to the unweighted walk's distribution
    // shape (same interval arithmetic, every interval width 1)
    val uni = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L))
      .toDF("id_a", "id_b", "w")
    val uniGot = GraphAlgos.randomWalksWeighted(uni, 2, 1, "tw").collect()
    assert(uniGot.length == 9, "3 vertices x 1 walk x 3 positions")
    // contract validation fails LOUDLY, never mis-walks: duplicate
    // pairs (incl. both orientations of one edge), non-positive
    // weights, self-loops each break the cumulative-interval draw
    val dup = intercept[IllegalArgumentException] {
      GraphAlgos.randomWalksWeighted(
        Seq((1L, 2L, 2L), (2L, 1L, 3L)).toDF("id_a", "id_b", "w"), 1, 1, "x")
    }
    assert(dup.getMessage.contains("duplicate"), dup.getMessage)
    val badw = intercept[IllegalArgumentException] {
      GraphAlgos.randomWalksWeighted(
        Seq((1L, 2L, 0L), (2L, 3L, 1L)).toDF("id_a", "id_b", "w"), 1, 1, "x")
    }
    assert(badw.getMessage.contains("non-positive"), badw.getMessage)
    val selfl = intercept[IllegalArgumentException] {
      GraphAlgos.randomWalksWeighted(
        Seq((1L, 1L, 2L), (1L, 2L, 1L)).toDF("id_a", "id_b", "w"), 1, 1, "x")
    }
    assert(selfl.getMessage.contains("self-loop"), selfl.getMessage)
  }

  test("hits: integer max-normalized rounds match a hand replay; one-sided nodes zero-fill") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 10L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 11L)).toDF("o", "p")
    // two hand-unrolled rounds at scale 1e6 (floor division):
    // r1: a = (1e6, 1e6, 5e5) for (10, 11, 12); h = (75e4, 1e6, 5e5)
    // r2: a_raw = (1.75e6, 1.5e6, 75e4) -> a = (1e6, 857142, 428571)
    //     h_raw = (1428571, 1857142, 857142) -> h = (769230, 1e6, 461538)
    val got = GraphAlgos.hits(edges, "o", "p", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((769230L, 0L)), 2L -> ((1000000L, 0L)), 3L -> ((461538L, 0L)),
      10L -> ((0L, 1000000L)), 11L -> ((0L, 857142L)),
      12L -> ((0L, 428571L))), s"hits table: $got")
    // partitioning independence: integer arithmetic end to end
    val rep = GraphAlgos.hits(edges.repartition(5), "o", "p", rounds = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(rep == got, "partitioning must not change HITS scores")
    intercept[IllegalArgumentException] {
      GraphAlgos.hits(edges, "o", "p", rounds = 0)
    }
    // empty graph: the overflow guard's max(degree) is NULL — must
    // read as maxDeg 0 and return empty, not NullPointerException
    val none = GraphAlgos.hits(edges.where(lit(false)), "o", "p", rounds = 1)
    assert(none.collect().isEmpty, "empty edge frame yields empty HITS")
  }

  test("corpusHealthReport: hand-counted types/tokens/hapax, tokenless source nulls ratios") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b a", "s1"), (2L, "c", "s1"), (3L, "", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.corpusHealthReport(docs, "doc_id", "text",
        "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) Double.NaN else r.getDouble(5),
          if (r.isNullAt(6)) Double.NaN else r.getDouble(6)))).toMap
    // s1: 4 tokens {a,b,a,c}, 3 types, hapax {b,c}; ttr 0.75,
    // hapax 2/3 -> 0.6667
    assert(got("s1") == ((2L, 4L, 3L, 2L, 0.75, 0.6667)),
      s"s1: ${got("s1")}")
    val s2 = got("s2")
    assert(s2._1 == 1L && s2._2 == 0L && s2._3 == 0L && s2._4 == 0L &&
      s2._5.isNaN && s2._6.isNaN, s"tokenless source: $s2")
  }

  test("walkSkipGramPairs: window pairs with multiplicity, no cross-walk leakage") {
    val s = spark
    import s.implicits._
    // one 4-position walk with a revisit (node 10 at steps 0 and 2)
    // plus an unrelated single-position walk that must pair with nothing
    val walks = Seq(
      (1L, 0L, 0L, 10L), (1L, 0L, 1L, 20L), (1L, 0L, 2L, 10L),
      (1L, 0L, 3L, 30L), (5L, 0L, 0L, 99L))
      .toDF("start_id", "walk", "step", "node")
    val got = GraphAlgos.walkSkipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val expected = Map(
      (10L, 20L) -> 2L, (10L, 10L) -> 2L, (20L, 10L) -> 2L,
      (20L, 30L) -> 1L, (10L, 30L) -> 1L, (30L, 20L) -> 1L,
      (30L, 10L) -> 1L)
    assert(got == expected, s"pairs $got vs hand-enumerated $expected")
    intercept[IllegalArgumentException] {
      GraphAlgos.walkSkipGramPairs(walks, window = 0)
    }
  }

  test("bfsDistances: multi-source hop counts, depth cap, early exhaustion, isolated seed") {
    val s = spark
    import s.implicits._
    // a path 1-2-3-4-5-6 with a branch 3-7, plus a disjoint edge 20-21;
    // seed 9 touches nothing
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 7L), (20L, 21L)).toDF("id_a", "id_b")
    val got = GraphAlgos.bfsDistances(edges, Seq(1L, 9L), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      7L -> 3L, 5L -> 4L, 6L -> 5L),
      s"hop counts must match the hand walk: $got")
    // depth cap: maxDepth 2 stops the wave at dist 2
    val capped = GraphAlgos.bfsDistances(edges, Seq(1L), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 3L -> 2L),
      s"depth cap must hold: $capped")
    // two sources meet in the middle: each vertex takes its NEAREST
    // seed's distance
    val two = GraphAlgos.bfsDistances(edges, Seq(1L, 6L), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two(3L) == 2L && two(4L) == 2L && two(7L) == 3L,
      s"nearest-seed distances: $two")
    // empty seed set -> empty result, schema intact
    val none = GraphAlgos.bfsDistances(edges, Nil)
    assert(none.columns.toSeq == Seq("node_id", "dist") && none.count() == 0)
  }

  test("linkPredictionScores: distance-2 non-edges, counts, hub drop") {
    val s = spark
    import s.implicits._
    // square 1-2-3-4-1 plus a chord 1-3: the only wedge pair left
    // unconnected is (2,4), with common neighbors {1,3}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("id_a", "id_b")
    val got = GraphAlgos.linkPredictionScores(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set((2L, 4L)), s"candidates: ${got.keySet}")
    assert(got((2L, 4L)) == ((2L, 2L, 2L)), s"cn/degs: ${got((2L, 4L))}")
    // star 10-{11,12,13}: leaves pair through the hub (cn = 1 each);
    // minCommon = 2 prunes them all
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("id_a", "id_b")
    val leaves = GraphAlgos.linkPredictionScores(star)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(leaves == Map((11L, 12L) -> 1L, (11L, 13L) -> 1L,
      (12L, 13L) -> 1L), s"star wedges: $leaves")
    assert(GraphAlgos.linkPredictionScores(star, minCommon = 2).count() == 0)
    // maxNeighborDf drops the hub's wedge fan entirely
    assert(GraphAlgos.linkPredictionScores(star,
      maxNeighborDf = 2).count() == 0)
    // an edge stored in REVERSED orientation still excludes its pair:
    // triangle 1-2-3 with the closing edge stored as (3,1) has no
    // distance-2 non-edges at all
    val rev = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("id_a", "id_b")
    assert(GraphAlgos.linkPredictionScores(rev).count() == 0,
      "reversed-orientation edge must still be excluded")
    assert(GraphAlgos.twoHopStats(rev).collect()
      .forall(_.getLong(2) == 0L), "triangle has no distance-2 nodes")
  }

  test("plan-keyed caches key apart two same-schema corpora from different paths") {
    val s = spark
    import s.implicits._
    // a LogicalRelation's canonical string has NO file path: before the
    // planKey fix, corpus B silently served corpus A's cached shingle
    // artifact and BPE merge table (observed live: an sf0.1 artifact
    // answered an sf1 corpus — pair counts froze at the wrong corpus's)
    val base = java.nio.file.Files.createTempDirectory("keyfix").toString
    Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma x y"))
      .toDF("doc_id", "text").write.parquet(s"$base/a")
    Seq((1L, "one two three four five"), (2L, "six seven eight nine ten"),
      (3L, "one two three four five"))
      .toDF("doc_id", "text").write.parquet(s"$base/b")
    val (da, db) = (s.read.parquet(s"$base/a"), s.read.parquet(s"$base/b"))
    assert(Dedup.planKey(da) != Dedup.planKey(db),
      "same-schema reads of different paths must key apart")
    Dedup.clearShingleCache()
    val ca = Dedup.shingleHashSetCached(da, "text", "doc_id", 3).count()
    val cb = Dedup.shingleHashSetCached(db, "text", "doc_id", 3).count()
    // corpus b: 3 docs x 3 shingles, doc 3 duplicating doc 1's rows
    assert(ca == 6 && cb == 9,
      s"cached artifacts cross-served between corpora: a=$ca b=$cb")
    // the BPE merge cache keys the same way
    val ma = graft.pipeline.Bpe.trainMergesCached(da, "text", 3)
    val mb = graft.pipeline.Bpe.trainMergesCached(db, "text", 3)
    assert(ma != mb, "merge tables cross-served between corpora")
  }

  // a file source is keyed by its listing, not its path: a fresh read
  // of a directory that changed since an earlier read must not be served
  // the earlier read's artifacts
  test("stale key: rows appended by Spark are counted on a fresh read") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stalekey-a").toString + "/t"
    Seq((1L, "a b"), (2L, "c d"), (3L, "e f")).toDF("doc_id", "text")
      .write.parquet(dir)
    assert(Dedup.warmRowCount(s.read.parquet(dir)) == 3)
    Seq((4L, "g h"), (5L, "i j")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    assert(Dedup.warmRowCount(s.read.parquet(dir)) == 5,
      "row count served from the read before the append")
  }

  test("stale key: a file copied in outside Spark reaches the term counts") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("stalekey-b").toString
    val (dir, extra) = (s"$base/t", s"$base/extra")
    Seq((1L, "one two"), (2L, "three four")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir)
    Seq((3L, "five six seven")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(extra)
    def tokens(): Long = TextAnalysis
      .termCountsCached(s.read.parquet(dir), "text")
      .agg(sum(col("cnt"))).collect()(0).getLong(0)
    assert(tokens() == 4)
    val part = new java.io.File(extra).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.copy(part,
      java.nio.file.Paths.get(dir, "part-copied.parquet"))
    assert(tokens() == 7, "term counts served from the read before the copy")
  }

  test("stale key: an unchanged source still hits (one termCounts build)") {
    val s = spark
    import s.implicits._
    // the bench warm-up relies on this: the same frame, and a fresh read
    // of the unchanged directory, share one artifact
    val dir = java.nio.file.Files.createTempDirectory("stalekey-c").toString + "/t"
    Seq((1L, "x y z")).toDF("doc_id", "text").write.parquet(dir)
    val df = s.read.parquet(dir)
    graft.pipeline.Scratch.drainLedgerJson()
    s.sparkContext.setJobDescription("stale-key-c")
    try {
      TextAnalysis.termCountsCached(df, "text")
      TextAnalysis.termCountsCached(df, "text")
      TextAnalysis.termCountsCached(s.read.parquet(dir), "text")
    } finally s.sparkContext.setJobDescription(null)
    val ledger = graft.pipeline.Scratch.drainLedgerJson()
    assert(ledger.split("""\{"cache":"termCounts","during":"stale-key-c"\}""",
      -1).length - 1 == 1, ledger)
  }

  test("twoHopStats counts nodes at distance exactly 2") {
    val s = spark
    import s.implicits._
    // square 1-2-3-4-1 with chord 1-3: only (2,4) is a distance-2 pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L))
      .toDF("id_a", "id_b")
    val got = GraphAlgos.twoHopStats(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((3L, 0L)), 2L -> ((2L, 1L)),
      3L -> ((3L, 0L)), 4L -> ((2L, 1L))), s"got $got")
    // star: each leaf sees the other two leaves at distance 2, hub none
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("id_a", "id_b")
    val st = GraphAlgos.twoHopStats(star)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(st == Map(10L -> 0L, 11L -> 2L, 12L -> 2L, 13L -> 2L), s"star: $st")
  }

  test("containmentPairsCrossFused: only cross-split directional pairs") {
    val s = spark
    import s.implicits._
    val longText = (1 to 30).map(i => s"w$i").mkString(" ") +
      " alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (2L, longText),                              // corpus (even)
      (4L, "alpha beta gamma delta epsilon zeta"), // corpus: contained in 2
      (3L, "alpha beta gamma delta epsilon zeta"), // new batch (odd)
      (9L, "nothing shared with anyone at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairsCrossFused(df, "text", "doc_id",
        id => id % 2 === 1, n = 3, num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // new doc 3 is contained in corpus doc 2 AND matches corpus doc 4
    // both ways; the WITHIN-corpus pair (4 in 2) must NOT appear
    assert(got == Set((3L, 2L), (3L, 4L), (4L, 3L)), s"got $got")
  }

  test("splitAssignByCluster keeps near-dup clusters on one side of every split") {
    val s = spark
    import s.implicits._
    // 60 docs; pairs chain docs (3k, 3k+1, 3k+2) into 20 clusters
    val df = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (0L until 60L by 3).flatMap(k =>
      Seq((k, k + 1), (k + 1, k + 2))).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs)
    val cuts = Seq(("train", 50), ("test", 100))
    val got = Curation.splitAssignByCluster(df, "doc_id", clusters, cuts, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // every cluster is split-homogeneous
    (0L until 60L by 3).foreach { k =>
      assert(got(k) == got(k + 1) && got(k) == got(k + 2),
        s"cluster at $k straddles the split: ${got(k)}/${got(k + 1)}/${got(k + 2)}")
    }
    // the plain per-doc split DOES straddle at least one of these
    // clusters (otherwise this test proves nothing)
    val plain = Curation.splitAssign(df, "doc_id", cuts, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((0L until 60L by 3).exists(k =>
      Set(plain(k), plain(k + 1), plain(k + 2)).size > 1),
      "fixture too weak: per-doc split never straddles a cluster")
    // unclustered docs key on their own id == plain splitAssign
    val solo = (100L until 110L).map(i => (i, s"solo $i")).toDF("doc_id", "text")
    val soloSafe = Curation.splitAssignByCluster(solo, "doc_id",
        clusters, cuts, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val soloPlain = Curation.splitAssign(solo, "doc_id", cuts, 100)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(soloSafe == soloPlain)
  }

  test("containmentPairs: directional short-in-long catch that Jaccard misses") {
    val s = spark
    import s.implicits._
    // doc 2 = 6 words embedded verbatim inside doc 1's 40-word text:
    // containment(2 in 1) = 1.0 but Jaccard ~ 4/38 -> far below any
    // usable symmetric threshold
    val longText = (1 to 34).map(i => s"w$i").mkString(" ") +
      " alpha beta gamma delta epsilon zeta"
    val df = Seq(
      (1L, longText),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta"), // near-dup of 2 (one word off)
      (9L, "totally unrelated text about nothing shared here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id", n = 3, num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((2L, 1L)), s"short-in-long must be caught: $got")
    assert(!got.contains((1L, 2L)), "long doc is NOT contained in the short one")
    // the symmetric Jaccard gate at the same corpus misses (1,2) entirely
    val jac = Dedup.ngramJaccardPairs(df, "text", "doc_id", n = 3, num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)),
      s"sanity: symmetric gate misses the asymmetric pair: $jac")
    // docs 2 and 3 share 3 of their 4 shingles: 3/4 < 4/5 -> neither
    // direction passes at 80%; both pass at 75%
    assert(!got.contains((2L, 3L)) && !got.contains((3L, 2L)))
    val lax = Dedup.containmentPairs(df, "text", "doc_id", n = 3, num = 3, den = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lax.contains((2L, 3L)) && lax.contains((3L, 2L)), s"got $lax")
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L), "unrelated doc clean")
  }

  test("boilerplateStrip cuts corpus-frequent lines, keeps order, handles ragged tails") {
    val s = spark
    import s.implicits._
    // 2-word lines for readability: "c o" is boilerplate (3 docs),
    // everything else unique; doc 4 is ALL boilerplate; doc 3 has a
    // ragged 1-word tail line
    val df = Seq(
      (1L, "a b c o x y"),  // lines: "a b" | "c o" | "x y"
      (2L, "c o p q"),      // lines: "c o" | "p q"
      (3L, "m n r s t"),    // lines: "m n" | "r s" | "t" (ragged)
      (4L, "c o")           // single boilerplate line
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(df, "text", "doc_id",
        wordsPerLine = 2, maxDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a b x y", 3L, 2L)), s"got ${got(1L)}")
    assert(got(2L) == (("p q", 2L, 1L)))
    assert(got(3L) == (("m n r s t", 3L, 3L)), "unique docs untouched")
    assert(got(4L) == (("", 1L, 0L)), "fully-boilerplate doc -> empty text")
    // maxDf = 3 keeps the 3-occurrence line everywhere
    val lax = Dedup.boilerplateStrip(df, "text", "doc_id",
        wordsPerLine = 2, maxDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lax(1L) == "a b c o x y" && lax(4L) == "c o")
    // within-doc repetition counts toward df: a doc repeating its own
    // line twice crosses maxDf = 1 alone
    val rep = Dedup.boilerplateStrip(
        Seq((7L, "u v u v w w")).toDF("doc_id", "text"),
        "text", "doc_id", wordsPerLine = 2, maxDf = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rep(7L) == "w w", s"got ${rep(7L)}")
  }

  test("bigramLmScoreReport: hand-computed Laplace conditionals, unk closure, short docs") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a b a b"),
      (2L, "a"), // 1 token -> no bigrams -> n_bigrams 0, null score
    ).toDF("doc_id", "text")
    // vocab=1 keeps only 'a' (count 3 vs 2); 'b' folds to <unk>, V=2.
    // mapped doc 1 = [a,u,a,u]: bigrams (a,u)x2, (u,a)x1; prefix
    // counts a=2, u=1 -> score = (2 ln(3/4) + ln(2/3)) / 3
    val r1 = TextAnalysis.bigramLmScoreReport(corpus, "doc_id", "text",
      corpus, "text", vocab = 1)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), if (x.isNullAt(2)) Double.NaN else x.getDouble(2))).toMap
    val exp1 = (2 * math.log(3.0 / 4.0) + math.log(2.0 / 3.0)) / 3.0
    assert(r1(1L)._1 == 3L)
    assert(math.abs(r1(1L)._2 -
      BigDecimal(exp1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(r1(2L)._1 == 0L && r1(2L)._2.isNaN)
    // full vocab: no unk, V=3 (a, b, <unk> slot); c2(a,b)=2, c2(b,a)=1
    val r2 = TextAnalysis.bigramLmScoreReport(corpus, "doc_id", "text",
      corpus, "text", vocab = 10)
      .collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) Double.NaN else x.getDouble(2))).toMap
    val exp2 = (2 * math.log(3.0 / 5.0) + math.log(2.0 / 4.0)) / 3.0
    assert(math.abs(r2(1L) -
      BigDecimal(exp2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // word order matters at the bigram level: a shuffled twin of a
    // corpus-typical doc scores apart (the unigram model cannot see it)
    val c2 = Seq((1L, "x y x y x y"), (2L, "y y x x x y"))
      .toDF("doc_id", "text")
    val uni = TextAnalysis.lmScoreReport(c2, "doc_id", "text", c2, "text", 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val bi = TextAnalysis.bigramLmScoreReport(c2, "doc_id", "text", c2, "text", 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(uni(1L) == uni(2L), "unigram is order-blind on equal bags")
    assert(bi(1L) != bi(2L), "bigram must separate the shuffled twin")
  }

  test("vocabularyDrift: hand-computed KL contributions, novel terms pool in <unk>") {
    val s = spark
    import s.implicits._
    val oldC = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val newC = Seq((2L, "a b b b c")).toDF("doc_id", "text")
    // vocab from OLD = {a, b}, V = 3; No = 4, Nn = 5 (c pools in unk)
    val got = TextAnalysis.vocabularyDrift(oldC, newC, "text", vocab = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def contrib(cOld: Long, cNew: Long): Long = {
      val p = (cNew + 1.0) / (5.0 + 3.0)
      val q = (cOld + 1.0) / (4.0 + 3.0)
      math.round(p * math.log(p / q) * 1000000000L).toLong
    }
    assert(got == Map(
      "a" -> ((3L, 1L, contrib(3, 1))),
      "b" -> ((1L, 3L, contrib(1, 3))),
      "<unk>" -> ((0L, 1L, contrib(0, 1)))), s"drift table: $got")
    // signs: the under-represented reference term is negative, the
    // over-represented and the novel mass positive
    assert(got("a")._3 < 0 && got("b")._3 > 0 && got("<unk>")._3 > 0)
  }

  test("quantileGate: exact percentile_disc threshold, duplicates, keep-all and keep-top edges") {
    val s = spark
    import s.implicits._
    // values 10,10,20,30,40,50 (n=6): the 1/2 quantile index is
    // ceil(6/2)=3 -> 3rd smallest = 20; keep >= 20
    val df = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 30L),
      (5L, 40L), (6L, 50L)).toDF("id", "v")
    def kept(num: Int, den: Int) =
      Curation.quantileGate(df, "id", "v", num, den)
        .collect().map(_.getLong(0)).toSet
    assert(kept(1, 2) == Set(3L, 4L, 5L, 6L), s"median gate: ${kept(1, 2)}")
    // 5/6 quantile: ceil(5*6/6)=5 -> 5th smallest = 40
    assert(kept(5, 6) == Set(5L, 6L), s"5/6 gate: ${kept(5, 6)}")
    // p=0 keeps everything (threshold = min value); p=1 keeps the max
    // tier (threshold = n-th smallest = max)
    assert(kept(0, 1) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(kept(1, 1) == Set(6L))
    // duplicate values at the threshold all pass (value-gate, not rank)
    val dup = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 20L))
      .toDF("id", "v")
    assert(Curation.quantileGate(dup, "id", "v", 1, 2)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    // null values are excluded from n (percentile_disc semantics):
    // the threshold over {10,10,20,30,40,50} must not move when null
    // rows join the corpus — they can never be kept anyway
    val withNulls = Seq[(Long, java.lang.Long)]((1L, 10L), (2L, 10L),
      (3L, 20L), (4L, 30L), (5L, 40L), (6L, 50L), (7L, null),
      (8L, null)).toDF("id", "v")
    assert(Curation.quantileGate(withNulls, "id", "v", 1, 2)
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L, 6L),
      "nulls must not inflate the quantile index")
    intercept[IllegalArgumentException] {
      Curation.quantileGate(df, "id", "v", 3, 2)
    }
    // grouped form: each group's threshold is its OWN quantile —
    // g1 {10,20,30,40} at 1/2 -> ceil(2)=2nd smallest = 20;
    // g2 {100,200} at 1/2 -> 1st smallest = 100 (everything kept)
    val grouped = Seq((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g1", 30L),
      (4L, "g1", 40L), (5L, "g2", 100L), (6L, "g2", 200L))
      .toDF("id", "g", "v")
    assert(Curation.quantileGateBy(grouped, "g", "id", "v", 1, 2)
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L, 5L, 6L),
      "per-group thresholds must be independent")
  }

  test("interpolatedLmScoreReport: hand-computed JM mix, both backoff legs, lambda bounds") {
    val s = spark
    import s.implicits._
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val corpus = Seq((1L, "a b a b"), (2L, "a")).toDF("doc_id", "text")
    // self-scoring at vocab=1: doc1 maps to [a,u,a,u] -> c2 (a,u)=2,
    // (u,a)=1; prefixes a=2, u=1; mapped unigrams a=3, u=2; N=5, V=2
    val r1 = TextAnalysis.interpolatedLmScoreReport(corpus, "doc_id",
      "text", corpus, "text", vocab = 1)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), if (x.isNullAt(2)) Double.NaN else x.getDouble(2)))
      .toMap
    val pau = 0.75 * 2.0 / 2.0 + 0.25 * ((2.0 + 1.0) / 7.0)
    val pua = 0.75 * 1.0 / 1.0 + 0.25 * ((3.0 + 1.0) / 7.0)
    val exp1 = (2 * math.log(pau) + math.log(pua)) / 3.0
    assert(r1(1L)._1 == 3L)
    assert(math.abs(r1(1L)._2 - r4(exp1)) < 1e-9,
      s"${r1(1L)._2} vs ${r4(exp1)}")
    assert(r1(2L)._1 == 0L && r1(2L)._2.isNaN, "1-token doc: no score")
    // cross-corpus backoff legs at vocab=10 (V=3, unigram N=5):
    // "a a" -> bigram (a,a) unseen under a SEEN context (c1(a)=2):
    // the ML leg is 0, the unigram leg carries (cu(a)+1)/(N+V) = 4/8;
    // "c c" -> both map <unk>, context UNSEEN: pure unigram floor 1/8
    val docsX = Seq((7L, "a a"), (8L, "c c")).toDF("doc_id", "text")
    val rx = TextAnalysis.interpolatedLmScoreReport(docsX, "doc_id",
      "text", corpus, "text", vocab = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(math.abs(rx(7L) - r4(math.log(0.25 * (4.0 / 8.0)))) < 1e-9,
      s"seen-context backoff: ${rx(7L)}")
    assert(math.abs(rx(8L) - r4(math.log(0.25 * (1.0 / 8.0)))) < 1e-9,
      s"unseen-context backoff: ${rx(8L)}")
    intercept[IllegalArgumentException] {
      TextAnalysis.interpolatedLmScoreReport(corpus, "doc_id", "text",
        corpus, "text", vocab = 1, lambda = 1.0)
    }
  }

  test("AcAutomaton: overlap-inclusive counts match a brute position scan; codegen path agrees") {
    val s = spark
    import s.implicits._
    def brute(text: String, pats: Seq[String]): Long =
      pats.distinct.filter(_.nonEmpty).map { p =>
        (0 to text.length - p.length).count(i => text.startsWith(p, i)).toLong
      }.sum
    // classic fail-link fixture: "ushers" x {he, she, his, hers} = 3
    val classic = new graft.functions.AcAutomaton(Seq("he", "she", "his", "hers"))
    assert(classic.countMatches(
      org.apache.spark.unsafe.types.UTF8String.fromString("ushers")) == 3L)
    // overlapping matches all count: "aaaa" x {aa} = 3, "ababab" x
    // {ab, aba, b} = 3 + 2 + 3
    val ov = new graft.functions.AcAutomaton(Seq("aa"))
    assert(ov.countMatches(
      org.apache.spark.unsafe.types.UTF8String.fromString("aaaa")) == 3L)
    val ab = new graft.functions.AcAutomaton(Seq("ab", "aba", "b"))
    assert(ab.countMatches(
      org.apache.spark.unsafe.types.UTF8String.fromString("ababab")) == 8L)
    // deterministic pseudo-random corpus over a 3-letter alphabet vs
    // the brute scan — exercises deep fail chains
    val pats = Seq("ab", "ba", "aab", "abab", "bb", "aaa", "babba")
    val texts = (0 until 40).map { i =>
      (i.toLong, (0 until 120).map { j =>
        ("abb" + "aab" + "bba").charAt(
          math.abs(s"$i:$j".hashCode) % 9).toString
      }.mkString)
    }
    val aut = new graft.functions.AcAutomaton(pats)
    texts.foreach { case (_, t) =>
      val got = aut.countMatches(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      assert(got == brute(t, pats), s"mismatch on $t")
    }
    // the codegen'd DataFrame path agrees with the kernel; null text
    // rows null out and blocklistHits drops them
    val df = texts.toDF("doc_id", "text")
      .unionAll(Seq((999L, null: String)).toDF("doc_id", "text"))
    val viaDf = Curation.blocklistHits(df, "doc_id", "text", pats)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (id, t) =>
      val exp = brute(t, pats)
      if (exp > 0) assert(viaDf(id) == exp) else assert(!viaDf.contains(id))
    }
    assert(!viaDf.contains(999L), "null text must not surface hits")
    // multi-byte UTF-8 patterns match exactly (self-synchronizing)
    val uni = new graft.functions.AcAutomaton(Seq("naïve", "ïv"))
    assert(uni.countMatches(org.apache.spark.unsafe.types.UTF8String
      .fromString("a naïve naïve test")) == 4L)
  }

  test("labelPropagation: two bridged triangles split into their communities") {
    val s = spark
    import s.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3-4; the
    // 3-round synchronous walk with the min-label tie rule lands on
    // community 1 for the left triangle and 3 for the right —
    // hand-walked round by round (round 1: 2,1,1,3,4,4; round 2:
    // 1,1,1,4,3,3; round 3: 1,1,1,3,3,3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = GraphAlgos.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"communities must match the hand walk: $got")
    // rounds=0 is the identity labeling
    val id0 = GraphAlgos.labelPropagation(edges, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(id0 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 6L), s"rounds=0 must be identity: $id0")
    // labels never cross a component boundary: disjoint triangles
    // each converge to their own min id
    val dis = GraphAlgos.labelPropagation(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
        (10L, 12L)).toDF("id_a", "id_b"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dis.filterKeys(_ < 10).values.toSet == Set(1L) &&
      dis.filterKeys(_ >= 10).values.toSet == Set(10L),
      s"disjoint components must not share labels: $dis")
    // partitioning independence: the argmax is associative, so a
    // different input layout changes nothing
    val rep = GraphAlgos.labelPropagation(edges.repartition(7), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got, s"partitioning must not change communities")
  }

  test("bfsDistancesPerSource + harmonicCentrality: per-seed fields, harmonic sums") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5-6 with branch 3-7 (same fixture as bfsDistances)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 7L), (20L, 21L)).toDF("id_a", "id_b")
    val per = GraphAlgos.bfsDistancesPerSource(edges, Seq(1L, 6L), maxDepth = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // unlike bfsDistances' set-minimum, BOTH fields are present: node 4
    // is 3 hops from seed 1 AND 2 hops from seed 6
    assert(per((1L, 4L)) == 3L && per((6L, 4L)) == 2L, s"per-source: $per")
    assert(per((1L, 1L)) == 0L && per((6L, 6L)) == 0L)
    assert(!per.contains((1L, 20L)), "disjoint component unreached")
    // harmonic sums: hc(4) = 1e9/3 + 1e9/2 (floor div), seeds get only
    // the OTHER seed's term (their own d=0 term is dropped)
    val hc = GraphAlgos.harmonicCentrality(edges, Seq(1L, 6L), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hc(4L) == 1000000000L / 3 + 1000000000L / 2, s"hc: $hc")
    assert(hc(1L) == 1000000000L / 5 && hc(6L) == 1000000000L / 5)
    // depth cap prunes the far seed's term: at maxDepth 2, node 2 keeps
    // only seed 1's 1-hop term (seed 6 is 4 hops away)
    val hcCap = GraphAlgos.harmonicCentrality(edges, Seq(1L, 6L), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hcCap(2L) == 1000000000L, s"capped: $hcCap")
    // empty seeds -> empty, schema intact
    val none = GraphAlgos.harmonicCentrality(edges, Nil)
    assert(none.columns.toSeq == Seq("node_id", "hc_q") && none.count() == 0)
  }

  test("dedupCorpusByScore keeps the highest-scored member per cluster") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x"), (2L, "x"), (3L, "x"), (9L, "solo"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (9L, 0.1))
      .toDF("doc_id", "sc")
    val kept = Dedup.dedupCorpusByScore(df, "doc_id", pairs, scores, "sc")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,3}: 2 has the top score; solo doc 9 survives
    assert(kept == Set(2L, 9L), s"got $kept")
    // score ties resolve to the LOWER id
    val tied = Seq((1L, 0.5), (2L, 0.5), (3L, 0.5), (9L, 0.1))
      .toDF("doc_id", "sc")
    val keptTied = Dedup.dedupCorpusByScore(df, "doc_id", pairs, tied, "sc")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptTied == Set(1L, 9L), s"got $keptTied")
  }

  test("imageNearDupPairs: banded join equals exact all-pairs Hamming") {
    val s = spark
    import s.implicits._
    val media = Multimodal.mediaFromIds(
      (0 until 120).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("image"))
    val hs = Multimodal.aHash63(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.nonEmpty && hs.values.forall(_ >= 0L)) // 63-bit: non-negative
    val exact = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)).toSet
    val got = Multimodal.imageNearDupPairs(media, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"${got.size} vs ${exact.size}")
    assert(exact.nonEmpty, "fixture must produce near-dup pairs")
  }

  test("audio envelope near-dup banding equals exact all-pairs Hamming") {
    val s = spark
    import s.implicits._
    import graft.pipeline.Multimodal
    val media = Multimodal.mediaFromIds(
      (0 until 150).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("audio"))
    val hs = Multimodal.audioEnvHash63(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.nonEmpty && hs.values.forall(_ >= 0L)) // 63-bit: non-negative
    val exact = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)).toSet
    val got = Multimodal.audioNearDupPairs(media, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"${got.size} vs ${exact.size}")
    assert(exact.nonEmpty, "fixture must produce near-dup pairs")
    // the ramp clips cluster, but hashes must still discriminate:
    // multiple distinct hash values in the fixture
    assert(hs.values.toSet.size > 3, s"degenerate hashes: ${hs.values.toSet}")
  }

  test("videoNearDupPairs: banded join equals exact all-pairs Hamming") {
    val s = spark
    import s.implicits._
    val media = Multimodal.mediaFromIds(
      (0 until 180).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("video"))
    val hs = Multimodal.videoFrameHash63(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.nonEmpty && hs.values.forall(_ >= 0L)) // 63-bit: non-negative
    val exact = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d)).toSet
    val got = Multimodal.videoNearDupPairs(media, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"${got.size} vs ${exact.size}")
    assert(exact.nonEmpty, "fixture must produce near-dup pairs")
  }

  test("media cross pairs equal exact cross Hamming with no within-side pairs") {
    val s = spark
    import s.implicits._
    val corpus = Multimodal.mediaFromIds(
      (0 until 150 by 3).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("image"))
    val batch = Multimodal.mediaFromIds(
      (9000 until 9150 by 3).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("image"))
    def hashes(df: org.apache.spark.sql.DataFrame) =
      Multimodal.aHash63(df).collect().map(r => r.getLong(0) -> r.getLong(1))
    val hb = hashes(batch); val hc = hashes(corpus)
    val exact = (for {
      (ba, bh) <- hb; (ca, ch) <- hc
      d = java.lang.Long.bitCount(bh ^ ch) if d <= 3
    } yield (ba, ca, d)).toSet
    assert(exact.nonEmpty, "fixture must produce cross pairs")
    val got = Multimodal.mediaNearDupCrossPairs(batch, corpus, "image",
        maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"${got.size} vs ${exact.size}")
    // strictly batch-side id_a, corpus-side id_b — never within-side
    assert(got.forall { case (a, b, _) => a >= 9000 && b < 9000 })
  }

  test("audio symbol shingles pair a trimmed clip the envelope hash misses") {
    val s = spark
    import s.implicits._
    // a varied waveform (seeded noise) long enough for stable shingles
    val rnd = new scala.util.Random(41)
    val base = Array.fill(48)((rnd.nextInt(65536) - 32768).toShort)
    val original = Multimodal.encodeWav(base, 16000)
    val trimmed = Multimodal.encodeWav(base.drop(4), 16000) // 2 strides cut
    val media = Seq((0L, original), (1L, trimmed)).toDF("media_id", "content")
    // the envelope hash scrambles on trim (clip-relative windows,
    // global mean): fixture sanity for the miss below
    val eh = Multimodal.audioEnvHash63(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(eh(0L) ^ eh(1L)) > 3,
      s"fixture needs trim to scramble the envelope hash: $eh")
    assert(Multimodal.audioNearDupPairs(media, maxHam = 3).count() == 0)
    // absolute-window symbols survive the trim: 22 of 23 windows of
    // the trimmed clip are verbatim windows of the original
    val pairs = Multimodal.audioShingleNearDupPairs(media,
      n = 3, num = 6, den = 10).collect()
    assert(pairs.length == 1 &&
      pairs(0).getLong(0) == 0L && pairs(0).getLong(1) == 1L,
      s"trimmed clip must pair via symbol shingles: ${pairs.toSeq}")
    // and a genuinely different clip does NOT pair
    val other = Multimodal.encodeWav(
      Array.fill(48)((rnd.nextInt(65536) - 32768).toShort), 16000)
    val three = Seq((0L, original), (1L, trimmed), (2L, other))
      .toDF("media_id", "content")
    val got = Multimodal.audioShingleNearDupPairs(three,
        n = 3, num = 6, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)), s"unrelated clip must not pair: $got")
  }

  test("multi-frame video near-dup pairs a trimmed clip the first-frame key misses") {
    val s = spark
    import s.implicits._
    def frame(fill: Int => Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, fill(y * 8 + x))
      img
    }
    // F0: vertical stripes (alternating gray bits — far from everything
    // else); F1..F3: smooth gradients differing only slightly
    val f0 = frame(p => if (p % 2 == 0) 0xFFFFFF else 0x000000)
    val rest = (1 to 3).map(f => frame(p => {
      val g = (p * 4 + f) & 0xFF; (g << 16) | (g << 8) | g
    }))
    val original = Multimodal.encodeAvi(f0 +: rest, fps = 10)
    val trimmed = Multimodal.encodeAvi(rest, fps = 10) // leading frame cut
    val media = Seq((0L, original), (1L, trimmed)).toDF("media_id", "content")
    // fixture sanity: the first frames really are far apart (else the
    // single-frame miss below would be vacuous)
    val firstHashes = Multimodal.videoFrameHash63(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(firstHashes(0L) ^ firstHashes(1L)) > 3,
      s"fixture needs distant first frames: $firstHashes")
    // the first-frame key provably misses the trimmed near-dup...
    assert(Multimodal.videoNearDupPairs(media, maxHam = 3).count() == 0)
    // ...while the multi-frame path pairs it (3 exact frame matches)
    val mf = Multimodal.videoMultiFrameNearDupPairs(media, maxHam = 3,
      k = 8, minMatches = 2).collect()
    assert(mf.length == 1 && mf(0).getLong(0) == 0L && mf(0).getLong(1) == 1L,
      s"trimmed clip must pair: ${mf.toSeq}")
    assert(mf(0).getLong(2) >= 3, s"3 shared frames expected: ${mf.toSeq}")
  }

  test("multi-frame video near-dup: banded clip aggregation equals exact all-pairs, at both cap branches") {
    val s = spark
    import s.implicits._
    val media = Multimodal.mediaFromIds(
      (0 until 180).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("video"))
    // exact reference: all cross-clip frame pairs within Hamming 3,
    // counted per clip pair, >= 2 gate — straight from the per-frame
    // hash rows
    val fh = Multimodal.videoFrameHashes63(media, k = 8).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val exact = (for {
      (ca, _, ha) <- fh; (cb, _, hb) <- fh
      if ca < cb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ca, cb)).groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    assert(exact.nonEmpty, "fixture must produce multi-frame pairs")
    def got(cap: Int) = Multimodal.videoMultiFrameNearDupPairs(media,
        maxHam = 3, k = 8, minMatches = 2, cap = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got(graft.pipeline.Dedup.MaxClusterBlock) == exact)
    // cap = 4 forces every hot band value through the sub-block path;
    // the result must not change (the cap is structural, not lossy)
    assert(got(4) == exact)
  }

  test("winnowed video near-dup pairs a re-cut clip ordinal sampling misses") {
    val s = spark
    import s.implicits._
    // frame f encodes a 63-bit value as an 8x8 black/white bit grid,
    // so frameAHash63(frame(v)) == v exactly (white = 255 >= mean,
    // black = 0 < mean, both guaranteed while v has >= 1 set and
    // >= 1 clear bit under p < 63)
    def bitFrame(v: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (p <- 0 until 64)
        img.setRGB(p % 8, p / 8,
          if (p < 63 && ((v >> p) & 1L) == 1L) 0xFFFFFF else 0x000000)
      img
    }
    val vals = (0 until 40).map(f =>
      ((f + 1).toLong * 0x9E3779B97F4A7C15L) >>> 1)
    for (v <- vals) assert((v & 0x7FFFFFFFFFFFFFFFL) != 0L &&
      java.lang.Long.bitCount(v) < 63, s"bit-frame encoding needs mixed bits: $v")
    for (i <- vals.indices; j <- vals.indices if i < j)
      assert(java.lang.Long.bitCount(vals(i) ^ vals(j)) > 3,
        s"fixture frames must be pairwise far: $i $j")
    val frames = vals.map(bitFrame)
    val original = Multimodal.encodeAvi(frames, fps = 10)
    // cut 22 leading frames: the survivors are VERBATIM frames
    // 22..39 of the original, but the clip is now 18 frames long
    val recut = Multimodal.encodeAvi(frames.drop(22), fps = 10)
    val media = Seq((0L, original), (1L, recut)).toDF("media_id", "content")
    // ordinal sampling at k = 8 indexes by LENGTH: the original
    // samples {0,5,..,35}, the re-cut samples original indices
    // {22,24,26,28,31,33,35,37} — they share only frame 35, one
    // match, under the >= 2 gate
    val mf = Multimodal.videoMultiFrameNearDupPairs(media, maxHam = 3,
      k = 8, minMatches = 2).count()
    assert(mf == 0L, s"ordinal sampling must miss the re-cut clip, got $mf")
    // winnowed selection keys on frame CONTENT: every re-cut window
    // is verbatim an original window, so the re-cut's selected set is
    // a subset of the original's and the clips share many selections
    val selA = Multimodal.videoWinnowedHashesOf(original, window = 3).toSet
    val selB = Multimodal.videoWinnowedHashesOf(recut, window = 3).toSet
    assert((selA & selB).size >= 2,
      s"winnow must share >= 2 selections: ${selA.size} ${selB.size}")
    val wf = Multimodal.videoWinnowedNearDupPairs(media, maxHam = 3,
      window = 3, minMatches = 2).collect()
    assert(wf.length == 1 && wf(0).getLong(0) == 0L && wf(0).getLong(1) == 1L,
      s"re-cut clip must pair via winnowed frames: ${wf.toSeq}")
    assert(wf(0).getLong(2) >= 2, s"shared selections expected: ${wf.toSeq}")
  }

  test("winnow maxSel cut is content-anchored: a long re-cut clip still pairs where first-64 truncation would go disjoint") {
    val s = spark
    import s.implicits._
    def bitFrame(v: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (p <- 0 until 64)
        img.setRGB(p % 8, p / 8,
          if (p < 63 && ((v >> p) & 1L) == 1L) 0xFFFFFF else 0x000000)
      img
    }
    // 500 frames -> ~190 winnow selections at window 3, far past the
    // 64-slot budget even after the re-cut drops the ENTIRE first half
    val vals = (0 until 500).map(f =>
      ((f + 1).toLong * 0x9E3779B97F4A7C15L) >>> 1)
    for (v <- vals) assert((v & 0x7FFFFFFFFFFFFFFFL) != 0L &&
      java.lang.Long.bitCount(v) < 63, s"bit-frame encoding needs mixed bits: $v")
    assert(vals.distinct.size == vals.size, "fixture hashes must be distinct")
    val frames = vals.map(bitFrame)
    val original = Multimodal.encodeAvi(frames, fps = 10)
    val recut = Multimodal.encodeAvi(frames.drop(250), fps = 10)
    // the FULL selection lists (maxSel unbounded) replay the old
    // first-64-in-frame-order policy: head-anchored, so the two cuts'
    // surviving sets are disjoint and the pair is unfindable
    val fullA = Multimodal.videoWinnowedHashesOf(original, window = 3,
      maxSel = Int.MaxValue)
    val fullB = Multimodal.videoWinnowedHashesOf(recut, window = 3,
      maxSel = Int.MaxValue)
    assert(fullA.size > 64 && fullB.size > 64,
      s"fixture must overflow the slot budget: ${fullA.size} ${fullB.size}")
    assert((fullA.take(64).toSet & fullB.take(64).toSet).isEmpty,
      "first-64 truncation must provably miss this re-cut")
    // the smallest-hash cut keys on content: both cuts keep the same
    // globally-small hashes from the shared footage
    val selA = Multimodal.videoWinnowedHashesOf(original, window = 3)
    val selB = Multimodal.videoWinnowedHashesOf(recut, window = 3)
    assert(selA.size == 64 && selB.size == 64,
      s"cut must bind at 64: ${selA.size} ${selB.size}")
    assert((selA.toSet & selB.toSet).size >= 2,
      s"content-anchored cut must share selections: ${(selA.toSet & selB.toSet).size}")
    val media = Seq((0L, original), (1L, recut)).toDF("media_id", "content")
    val wf = Multimodal.videoWinnowedNearDupPairs(media, maxHam = 3,
      window = 3, minMatches = 2).collect()
    assert(wf.length == 1 && wf(0).getLong(0) == 0L && wf(0).getLong(1) == 1L,
      s"long re-cut clip must pair via the content-anchored cut: ${wf.toSeq}")
  }

  test("multi-frame video CROSS pairs catch a trimmed batch re-upload; winnow arm catches a re-cut; banded == exact") {
    val s = spark
    import s.implicits._
    def bitFrame(v: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (p <- 0 until 64)
        img.setRGB(p % 8, p / 8,
          if (p < 63 && ((v >> p) & 1L) == 1L) 0xFFFFFF else 0x000000)
      img
    }
    val vals = (0 until 40).map(f =>
      ((f + 1).toLong * 0x9E3779B97F4A7C15L) >>> 1)
    val frames = vals.map(bitFrame)
    val corpus = Seq((0L, Multimodal.encodeAvi(frames, fps = 10)))
      .toDF("media_id", "content")
    // the batch carries a re-cut (22 leading frames dropped) under a
    // new id — the incremental-ingest shape of the re-upload
    val batch = Seq((100L, Multimodal.encodeAvi(frames.drop(22), fps = 10)))
      .toDF("media_id", "content")
    // the single-key-frame cross arm misses it (key frames are
    // pairwise-far by the golden-mix fixture argument)...
    assert(Multimodal.mediaNearDupCrossPairs(batch, corpus, "video").count() == 0L,
      "key-frame cross arm must miss the trimmed re-upload")
    // ...and so does ordinal multi-frame sampling (length-dependent
    // indices share only one frame under the >= 2 gate)...
    assert(Multimodal.videoMultiFrameCrossPairs(batch, corpus,
      maxHam = 3, k = 8, minMatches = 2).count() == 0L,
      "ordinal cross sampling must miss the re-cut")
    // ...but content-anchored winnowed selection pairs the clips
    val wf = Multimodal.videoMultiFrameCrossPairs(batch, corpus,
      maxHam = 3, minMatches = 2, winnowWindow = Some(3)).collect()
    assert(wf.length == 1 && wf(0).getLong(0) == 100L &&
      wf(0).getLong(1) == 0L && wf(0).getLong(2) >= 2,
      s"winnowed cross must pair the re-cut: ${wf.toSeq}")

    // synthetic corpus: banded cross == exact cross frame join with
    // the >= 2 gate, at both cap branches
    val base = (0 until 150).map(_.toLong).toDF("doc_id")
    val cBatch = Multimodal.mediaFromIds(
      base.select((col("doc_id") + 9000).as("doc_id")), "doc_id",
      only = Some("video"))
    val cCorpus = Multimodal.mediaFromIds(base, "doc_id", only = Some("video"))
    def fhs(df: org.apache.spark.sql.DataFrame) =
      Multimodal.videoFrameHashes63(df, k = 8).collect()
        .map(r => (r.getLong(0), r.getLong(2)))
    val (bh, ch) = (fhs(cBatch), fhs(cCorpus))
    val exact = (for {
      (bi, x) <- bh; (ci, y) <- ch
      if java.lang.Long.bitCount(x ^ y) <= 3
    } yield ((bi, ci), 1)).groupBy(_._1).view.mapValues(_.size)
      .filter(_._2 >= 2).toMap
    assert(exact.nonEmpty, "fixture must produce cross clip pairs")
    def got(cap: Int) = Multimodal.videoMultiFrameCrossPairs(cBatch, cCorpus,
        maxHam = 3, k = 8, minMatches = 2, cap = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(got(graft.pipeline.Dedup.MaxClusterBlock) == exact)
    assert(got(4) == exact)
  }

  test("winnowed video near-dup: banded clip aggregation equals exact all-pairs, at both cap branches") {
    val s = spark
    import s.implicits._
    val media = Multimodal.mediaFromIds(
      (0 until 180).map(_.toLong).toDF("doc_id"), "doc_id",
      only = Some("video"))
    val fh = Multimodal.videoWinnowedFrameHashes63(media, window = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val exact = (for {
      (ca, _, ha) <- fh; (cb, _, hb) <- fh
      if ca < cb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ca, cb)).groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    assert(exact.nonEmpty, "fixture must produce winnowed pairs")
    def got(cap: Int) = Multimodal.videoWinnowedNearDupPairs(media,
        maxHam = 3, window = 3, minMatches = 2, cap = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got(graft.pipeline.Dedup.MaxClusterBlock) == exact)
    assert(got(4) == exact)
  }

  test("thumbnailPairs finds a still re-upload of a video frame; banded == exact at both cap branches") {
    val s = spark
    import s.implicits._
    def bitFrame(v: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (p <- 0 until 64)
        img.setRGB(p % 8, p / 8,
          if (p < 63 && ((v >> p) & 1L) == 1L) 0xFFFFFF else 0x000000)
      img
    }
    val vals = (0 until 5).map(f =>
      ((f + 1).toLong * 0x9E3779B97F4A7C15L) >>> 1)
    val videos = Seq((10L, Multimodal.encodeAvi(vals.map(bitFrame), fps = 10)))
      .toDF("media_id", "content")
    // image 0 is frame 2 re-encoded as a standalone PNG; image 1 is
    // unrelated (pairwise-far value by the golden-mix argument)
    val images = Seq(
      (0L, Multimodal.encodePng(bitFrame(vals(2)))),
      (1L, Multimodal.encodePng(bitFrame((99L * 0x9E3779B97F4A7C15L) >>> 1))))
      .toDF("media_id", "content")
    val got = Multimodal.thumbnailPairs(images, videos, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((0L, 10L, 0)), s"thumbnail must pair exactly: $got")

    // synthetic corpus: banded cross == exact cross at both cap
    // branches (cap = 4 forces every hot band through sub-blocks)
    val base = (0 until 180).map(_.toLong).toDF("doc_id")
    val corpusImages = Multimodal.mediaFromIds(base, "doc_id",
      only = Some("image"))
    val corpusVideos = Multimodal.mediaFromIds(base, "doc_id",
      only = Some("video"))
    val ih = Multimodal.aHash63(corpusImages).collect()
      .filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1)))
    val fh = Multimodal.videoFrameHashes63(corpusVideos, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val exact = (for {
      (ii, h) <- ih; (vi, g) <- fh
      d = java.lang.Long.bitCount(h ^ g) if d <= 3
    } yield ((ii, vi), d)).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    assert(exact.nonEmpty, "fixture must produce thumbnail pairs")
    def got2(cap: Int) = Multimodal.thumbnailPairs(corpusImages, corpusVideos,
        maxHam = 3, k = 8, cap = cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got2(graft.pipeline.Dedup.MaxClusterBlock) == exact)
    assert(got2(4) == exact)
  }

  test("winnowed thumbnailPairs keys on selected frames: a selected-frame still pairs, a non-selected-frame still does not") {
    val s = spark
    import s.implicits._
    def bitFrame(v: Long): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (p <- 0 until 64)
        img.setRGB(p % 8, p / 8,
          if (p < 63 && ((v >> p) & 1L) == 1L) 0xFFFFFF else 0x000000)
      img
    }
    val vals = (0 until 9).map(f =>
      ((f + 1).toLong * 0x9E3779B97F4A7C15L) >>> 1)
    val clip = Multimodal.encodeAvi(vals.map(bitFrame), fps = 10)
    val selected = Multimodal.videoWinnowedHashesOf(clip, window = 3).toSet
    val unselected = vals.toSet -- selected
    assert(selected.nonEmpty && unselected.nonEmpty,
      s"fixture needs both kinds of frame: ${selected.size} ${unselected.size}")
    val videos = Seq((10L, clip)).toDF("media_id", "content")
    // image 0 re-uploads a winnow-SELECTED frame, image 1 a frame the
    // selection dropped
    val images = Seq(
      (0L, Multimodal.encodePng(bitFrame(selected.head))),
      (1L, Multimodal.encodePng(bitFrame(unselected.head))))
      .toDF("media_id", "content")
    val wf = Multimodal.thumbnailPairs(images, videos, maxHam = 3,
        winnowWindow = Some(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wf == Set((0L, 10L, 0)),
      s"winnowed arm pairs exactly the selected-frame still: $wf")
    // the full-frame arm (k >= clip length) pairs BOTH stills — the
    // winnowed pair set is a strict subset keyed on selection
    val full = Multimodal.thumbnailPairs(images, videos, maxHam = 3,
        k = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == Set((0L, 10L, 0), (1L, 10L, 0)),
      s"full-frame arm must pair both stills: $full")
  }

  test("gradient dHash pairs an illumination re-grade the mean-threshold aHash misses") {
    val s = spark
    import s.implicits._
    // base: columns alternate gray 118/122 (adjacent diffs +-4);
    // re-grade: the same image under a left-to-right illumination
    // ramp +2x — every adjacent ORDERING survives (ramp step 2 <
    // diff 4) but the global mean moves 120 -> 127 and 16 pixels
    // cross it, so the aHash flips 16 bits while the dHash flips none
    def gradImage(ramp: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val g = (if (x % 2 == 0) 118 else 122) + (if (ramp) 2 * x else 0)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    val base = Multimodal.encodePng(gradImage(ramp = false))
    val regraded = Multimodal.encodePng(gradImage(ramp = true))
    val aBase = Multimodal.imageHashOf(base).get
    val aRe = Multimodal.imageHashOf(regraded).get
    assert(java.lang.Long.bitCount(aBase ^ aRe) > 3,
      s"fixture needs a real aHash break: ${java.lang.Long.bitCount(aBase ^ aRe)}")
    val dBase = Multimodal.imageDHashOf(base).get
    val dRe = Multimodal.imageDHashOf(regraded).get
    assert(java.lang.Long.bitCount(dBase ^ dRe) <= 3,
      s"dHash must survive the ramp: ${java.lang.Long.bitCount(dBase ^ dRe)}")
    val media = Seq((0L, base), (1L, regraded)).toDF("media_id", "content")
    assert(Multimodal.imageNearDupPairs(media, maxHam = 3).count() == 0,
      "aHash must miss the re-grade")
    val got = Multimodal.imageDHashNearDupPairs(media, maxHam = 3).collect()
    assert(got.length == 1 && got(0).getLong(0) == 0L && got(0).getLong(1) == 1L,
      s"dHash must pair the re-grade: ${got.toSeq}")
  }

  test("bandedHammingPairs: planted hot band splits into capped blocks, result stays exact") {
    val s = spark
    import s.implicits._
    // 64 hashes that ALL share band 0 (low 16 bits = 0x1234) — one
    // degenerate blocking value — while upper bands vary; a few are
    // genuine near-dups (Hamming <= 3), the rest are far apart
    val hashes = (0 until 64).map { i =>
      val high =
        if (i < 8) (0xAAAAL << 16) | (1L << (32 + i)) // cluster: pairwise Hamming 2
        else (i.toLong * 0x9E3779B97L) & 0x7FFFFFFFFFFF0000L
      (i.toLong, high | 0x1234L)
    }.toDF("id", "h")
    val byId = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- byId.keys; b <- byId.keys if a < b
      d = java.lang.Long.bitCount(byId(a) ^ byId(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(exact.size >= 8, s"fixture must cluster, got ${exact.size}")
    // cap = 4 << 64 rows under the hot (band 0, 0x1234) key: the
    // boundedKeyPairs big-branch MUST engage (16 sub-buckets, largest
    // single join block 4x4) and the pair set must not change
    val got = Dedup.bandedHammingPairs(hashes, "id", "h",
        bands = 4, bandBits = 16, maxHam = 3, cap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"${got.size} vs ${exact.size}")
    // control: default cap (small-branch collect_list path) agrees
    val gotDefault = Dedup.bandedHammingPairs(hashes, "id", "h",
        bands = 4, bandBits = 16, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotDefault == exact)
    // duplicate-id input (a re-ingested row, same or near hash) must
    // never emit an id-level self-pair
    val dup = Seq((7L, 0x00AA0000_00001234L), (7L, 0x00AA0000_00001234L),
      (7L, 0x00AA0001_00001234L), (9L, 0x00AA0000_00001234L))
      .toDF("id", "h")
    val dupPairs = Dedup.bandedHammingPairs(dup, "id", "h",
        bands = 4, bandBits = 16, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.forall { case (a, b) => a != b }, s"self-pairs: $dupPairs")
    assert(dupPairs.contains((7L, 9L)))
  }

  test("bandedHammingCrossPairs: cross pairs only, exact, capped hot bands") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // corpus A and batch B share a planted hot band (low 16 bits) so
    // the cross sub-bucketing engages at cap=4; some B rows are exact
    // or near copies of A rows, the rest are far
    def mk(n: Int, off: Long, copyOf: Int => Option[Long]) =
      (0 until n).map { i =>
        val h = copyOf(i) match {
          case Some(src) => (((src * 0x5DEECE66DL) & 0x7FFFFFFFFFFF0000L) |
            0x7777L) ^ (if (i % 2 == 0) 0L else 1L << 40) // ham 0 or 1
          case None => ((i + off) * 0x5DEECE66DL) & 0x7FFFFFFFFFFF0000L | 0x7777L
        }
        (off + i, h)
      }
    val a = mk(40, 0L, _ => None)
    val b = mk(30, 1000L, i => if (i < 12) Some(i.toLong) else None)
    val byA = a.toMap; val byB = b.toMap
    val exact = (for {
      (ia, ha) <- a; (ib, hb) <- b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(exact.size >= 12, s"fixture must cross-match, got ${exact.size}")
    for (cap <- Seq(4, 4096)) {
      val got = Dedup.bandedHammingCrossPairs(
          a.toDF("id", "h"), b.toDF("id", "h"), "id", "h",
          bands = 4, bandBits = 16, maxHam = 3, cap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == exact, s"cap=$cap: ${got.size} vs ${exact.size}")
      // no within-side pairs: every id_a from A's range, id_b from B's
      assert(got.forall { case (ia, ib, _) => ia < 1000 && ib >= 1000 })
    }
  }

  test("bandedHammingPairs: generative banding == exact all-pairs over random hash corpora") {
    val s = spark
    import s.implicits._
    // random corpora with planted near-dup structure: base hashes plus
    // jittered copies at Hamming 1..3 — the pigeonhole-exactness claim
    // must hold for arbitrary 63-bit values, not just the fixtures
    for (seed <- Seq(5, 23, 77)) {
      val rnd = new scala.util.Random(seed)
      val base = Seq.fill(40)(rnd.nextLong() & Long.MaxValue)
      val jittered = base.take(15).map { h =>
        var x = h
        (0 until 1 + rnd.nextInt(3))
          .foreach(_ => x ^= 1L << rnd.nextInt(63))
        x
      }
      val all = (base ++ jittered).zipWithIndex
        .map { case (h, i) => (i.toLong, h) }
      val byId = all.toMap
      val exact = (for {
        a <- byId.keys; b <- byId.keys if a < b
        d = java.lang.Long.bitCount(byId(a) ^ byId(b)) if d <= 3
      } yield (a, b, d)).toSet
      assert(exact.nonEmpty, s"seed $seed must plant near-dups")
      val got = Dedup.bandedHammingPairs(all.toDF("id", "h"), "id", "h",
          bands = 4, bandBits = 16, maxHam = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == exact, s"seed $seed: ${got.size} vs ${exact.size}")
    }
  }

  test("minhashClustersCached equals the direct build and keys corpora apart") {
    val s = spark
    import s.implicits._
    def corpus(tag: String) = Seq(
      (1L, s"alpha beta gamma delta $tag one"),
      (2L, s"alpha beta gamma delta $tag one"), // near-dup of 1
      (3L, s"totally different words entirely $tag here")).toDF("doc_id", "text")
    val a = corpus("xx")
    val direct = Dedup.dupClusters(Dedup.minhashPairs(a, "text", "doc_id",
        n = 3, numHashes = 6, bands = 3, num = 3, den = 10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cached = Dedup.minhashClustersCached(a, "text", "doc_id",
        n = 3, numHashes = 6, bands = 3, num = 3, den = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cached == direct, s"$cached vs $direct")
    assert(direct.contains((2L, 1L)), s"fixture must cluster: $direct")
    // same corpus + params -> the SAME memoized frame (reference hit)
    val again = Dedup.minhashClustersCached(a, "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, num = 3, den = 10)
    val first = Dedup.minhashClustersCached(a, "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, num = 3, den = 10)
    assert(again eq first, "cache must memoize the frame reference")
    // a DIFFERENT corpus must key apart (content-hashed local data)
    val b = Dedup.minhashClustersCached(corpus("yy"), "text", "doc_id",
        n = 3, numHashes = 6, bands = 3, num = 3, den = 10)
    assert(!(b eq first), "distinct corpora must not share an entry")
  }

  test("clearShingleCache drops every dedup cache: old frames unpersist, rebuilds are new") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "text")
    def persisted() = Seq(
      Dedup.shingleArrayCached(df, "text", "doc_id", 3),
      Dedup.duplicatedPositionsCached(df, "text", "doc_id", 3),
      Dedup.windowCountsCached(df, "text", "doc_id", 3))
    def clusters() = Dedup.minhashClustersCached(df, "text", "doc_id",
      n = 3, numHashes = 6, bands = 3, num = 3, den = 10)
    val (frames, cl) = (persisted(), clusters())
    assert(frames.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE))
    Dedup.clearShingleCache()
    // checked before the rebuild: a re-persisted equal plan reads as cached
    frames.foreach(f => assert(f.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    persisted().zip(frames).foreach { case (b, a) => assert(!(b eq a), "served a pre-clear frame") }
    assert(!(clusters() eq cl), "served the pre-clear cluster table")
  }

  test("banded pair paths emit each pair exactly ONCE without a dedup shuffle") {
    val s = spark
    import s.implicits._
    // identical hashes agree on ALL 4 bands: the join formulation
    // produced 4 cross-band candidate copies and paid a `.distinct()`
    // to collapse them; first-agreeing-band emission must yield
    // exactly one ROW (multiplicity, not set membership — the old
    // spec's `.toSet` would mask regressions here)
    val h = 0x0123456789ABCDL
    val self = Seq((1L, h), (2L, h), (3L, h ^ 3L), // Hamming 2 from h
        (9L, 0x7EDCBA987654321L)) // far from everything
      .toDF("id", "h")
    val rows = Dedup.bandedHammingPairs(self, "id", "h",
        bands = 4, bandBits = 16, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == rows.toSet.size,
      s"duplicate emissions: ${rows.toSeq.sorted.mkString(",")}")
    assert(rows.toSet == Set((1L, 2L, 0), (1L, 3L, 2), (2L, 3L, 2)))
    // cross form: A row matching a B row on all bands emits once,
    // oriented (id_a from side A)
    val a = Seq((10L, h)).toDF("id", "h")
    val b = Seq((20L, h), (21L, h ^ 1L)).toDF("id", "h")
    val cross = Dedup.bandedHammingCrossPairs(a, b, "id", "h",
        bands = 4, bandBits = 16, maxHam = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(cross.length == cross.toSet.size,
      s"duplicate cross emissions: ${cross.toSeq.sorted.mkString(",")}")
    assert(cross.toSet == Set((10L, 20L, 0), (10L, 21L, 1)))
    // and the survivor-side plan carries no deduplicating exchange:
    // banding contributes exactly the grouping aggregates, never a
    // distinct over emitted pairs
    val plan = Dedup.bandedHammingPairs(self, "id", "h",
      bands = 4, bandBits = 16, maxHam = 3)
      .queryExecution.analyzed.toString
    assert(!plan.contains("Deduplicate"),
      s"unexpected dedup of generator output:\n$plan")
  }

  test("winnowing: shared runs >= k+w-1 tokens always share a fingerprint") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    // plant a 6-token (= k+w-1) shared run inside otherwise-random docs
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, words(30) + " " + shared + " " + words(30)),
      (2L, shared + " " + words(40)),
      (3L, words(50))) // unrelated
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "text", "doc_id",
        k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"random docs must not collide: $pairs")
    // selection sparsity: far fewer fingerprints than k-grams
    val doc = (1L, words(400)) :: Nil
    val fps = doc.toDF("doc_id", "text")
      .select(Dedup.winnowFingerprints(
        graft.pipeline.TextAnalysis.tokens(col("text")), 3, 4).as("f"))
      .head().getSeq[Long](0)
    assert(fps.size < 400 - 2, "winnowing must select a subset")
    assert(fps.size > (400 - 2) / 10, "but not degenerate")
    // short docs: >= 1 k-gram but < w windows -> single global min
    val short = Seq((1L, "a b c d")).toDF("doc_id", "text")
      .select(Dedup.winnowFingerprints(
        graft.pipeline.TextAnalysis.tokens(col("text")), 3, 4).as("f"))
      .head().getSeq[Long](0)
    assert(short.size == 1, s"short-doc fallback: $short")
    // sub-k docs: empty fingerprint set
    val tiny = Seq((1L, "a b")).toDF("doc_id", "text")
      .select(Dedup.winnowFingerprints(
        graft.pipeline.TextAnalysis.tokens(col("text")), 3, 4).as("f"))
      .head().getSeq[Long](0)
    assert(tiny.isEmpty)
  }

  test("winnowing: maxDf drops boilerplate stop-fingerprints before the join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}").mkString(" ")
    // boilerplate run (a license header) planted in EVERY doc: its
    // fingerprints have df = 20, far over the cap — without the cap
    // the inverted-index join would produce all C(20,2) pairs
    val boiler = "copyright acme corp all rights reserved license"
    // one genuine near-dup pair sharing a distinct long run
    val dup = "the quick brown fox jumps over the lazy dog tonight"
    val docs = ((1L, boiler + " " + dup + " " + words(25)) ::
      (2L, words(25) + " " + dup + " " + boiler) ::
      (3 to 20).map(i => (i.toLong, boiler + " " + words(30))).toList)
      .toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(docs, "text", "doc_id",
        k = 3, w = 4, minShared = 1, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"genuine pair survives cap: $capped")
    // every other pair exists ONLY through boilerplate fingerprints
    assert(capped == Set((1L, 2L)),
      s"boilerplate-only pairs must be dropped: $capped")
    // uncapped control: the hot fingerprints connect everything
    val uncapped = Dedup.winnowPairs(docs, "text", "doc_id",
        k = 3, w = 4, minShared = 1)
      .count()
    assert(uncapped >= 20L * 19 / 2,
      s"without the cap boilerplate goes quadratic: $uncapped pairs")
  }

  test("plan-keyed artifact caches serve the right corpus, never a neighbor's") {
    val s = spark
    import s.implicits._
    // media: two different id frames must key apart (no cross-serving)
    val idsA = Seq(3L, 6L, 9L).toDF("doc_id")
    val idsB = Seq(12L, 15L).toDF("doc_id")
    val a = Multimodal.mediaFromIdsCached(idsA, "doc_id", Some("image"))
      .select("media_id").collect().map(_.getLong(0)).toSet
    val b = Multimodal.mediaFromIdsCached(idsB, "doc_id", Some("image"))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(a == Set(3L, 6L, 9L) && b == Set(12L, 15L), s"$a / $b")
    // cached result equals the uncached computation
    val direct = Multimodal.mediaFromIds(idsA, "doc_id", Some("image"))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(a == direct)
    // co-occurrence: different group filters key apart; cached == plain
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
      .toDF("g", "it")
    val full = GraphAlgos.coOccurrenceCached(bip, "g", "it")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = GraphAlgos.coOccurrenceCached(bip.where(col("g") === 1), "g", "it")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == Set((10L, 11L), (11L, 12L)) && filtered == Set((10L, 11L)),
      s"$full / $filtered")
    val plain = GraphAlgos.coOccurrence(bip, "g", "it")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == plain)
    // weighted variant keys apart from the unweighted one
    val w = GraphAlgos.coOccurrenceWeightedCached(bip, "g", "it")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(w == Map((10L, 11L) -> 1L, (11L, 12L) -> 1L), s"$w")
  }

  test("pageRankWeighted: unit weights equal pageRank; heavy ties pull rank") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val unit = edges.withColumn("w", lit(1L))
    val plain = GraphAlgos.pageRank(edges, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weighted = GraphAlgos.pageRankWeighted(unit, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted == plain, s"unit weights must reduce to pageRank")
    // star where the hub's tie to 4 is 10x heavier than to 1..3: node 4
    // must outrank its unit-weight peers
    val star = Seq((1L, 10L, 1L), (2L, 10L, 1L), (3L, 10L, 1L), (4L, 10L, 10L))
      .toDF("id_a", "id_b", "w")
    val sp = GraphAlgos.pageRankWeighted(star, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sp(4L) > sp(1L) && sp(4L) > sp(2L) && sp(4L) > sp(3L), s"$sp")
  }

  test("personalizedPageRank concentrates mass near the seed set") {
    val s = spark
    import s.implicits._
    // two 4-cliques bridged by one edge; seeding clique A must rank
    // every A vertex above every B vertex
    val a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val b = for (i <- 11L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val edges = (a ++ b :+ (4L, 11L)).toDF("id_a", "id_b")
    val ppr = GraphAlgos.personalizedPageRank(edges, Seq(1L, 2L), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aMin = Seq(1L, 2L, 3L, 4L).map(ppr).min
    val bMax = Seq(11L, 12L, 13L, 14L).map(ppr).max
    assert(aMin > bMax, s"seed-side mass must dominate: $ppr")
    // seeds themselves carry the restart mass: top-ranked overall
    assert(ppr(1L) == ppr.values.max || ppr(2L) == ppr.values.max, s"$ppr")
    // empty seed set -> empty result with the contract schema
    val empty = GraphAlgos.personalizedPageRank(edges, Nil)
    assert(empty.columns.toSeq == Seq("node_id", "ppr_q") && empty.count() == 0)
  }

  test("kCoreBounded peels cascades and is idempotent past the fixpoint") {
    val s = spark
    import s.implicits._
    // a 4-clique (1-4) with a pendant chain 4-5-6: 2-core peeling must
    // drop 6 (deg 1), THEN 5 (its degree falls to 1) — a cascade —
    // keeping exactly the clique
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    def core(k: Int, rounds: Int) =
      GraphAlgos.kCoreBounded(edges, k, rounds)
        .collect().map(_.getLong(0)).toSet
    assert(core(2, 4) == Set(1L, 2L, 3L, 4L))
    // one round is NOT enough for the cascade (5 survives round 1)
    assert(core(2, 1) == Set(1L, 2L, 3L, 4L, 5L))
    // extra rounds past the fixpoint change nothing
    assert(core(2, 8) == core(2, 4))
    // k above the max degree empties the graph
    assert(core(10, 4) == Set.empty[Long])
    // k=1 keeps every non-isolated vertex
    assert(core(1, 4) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("GraphAlgos: co-occurrence, degrees, triangles vs brute force; CC over projection") {
    val s = spark
    import s.implicits._
    // bipartite (group, item): groups of sizes 1-4 over 30 items
    val rnd = new scala.util.Random(7)
    val rel = (0 until 60).flatMap { g =>
      (0 until rnd.nextInt(4) + 1).map(_ => (g.toLong, rnd.nextInt(30).toLong))
    }.toDF("grp", "item")
    val edges = GraphAlgos.coOccurrence(rel, "grp", "item")
    val got = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force projection
    val raw = rel.distinct().collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val naive: Set[(Long, Long)] = raw.groupBy(_._1).values.toSeq.flatMap { g =>
      val items = g.map(_._2).distinct
      for (a <- items; b <- items if a < b) yield (a, b)
    }.toSet
    assert(got == naive, s"${got.size} vs ${naive.size}")
    // degrees
    val deg = GraphAlgos.degrees(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDeg = naive.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(deg == nDeg)
    // triangles: per-vertex participation vs brute force over all triples
    val tri = GraphAlgos.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val verts = nDeg.keys.toSeq.sorted
    val has = naive ++ naive.map(p => (p._2, p._1))
    val nTri = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- verts.indices; j <- i + 1 until verts.size; k <- j + 1 until verts.size) {
      val (a, b, c) = (verts(i), verts(j), verts(k))
      if (has((a, b)) && has((b, c)) && has((a, c))) {
        nTri(a) += 1; nTri(b) += 1; nTri(c) += 1
      }
    }
    assert(tri == nTri.toMap, s"tri mismatch: ${tri.size} vs ${nTri.size} vertices")
    assert(tri.nonEmpty, "fixture must contain triangles")
    // connected components directly over the projected edges (the
    // constraint-barrier regression path: deep-lineage pair frames)
    val cc = GraphAlgos.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force components
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    naive.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nCc = verts.map(v => v -> find(v)).toMap
    assert(cc == nCc)
  }

  test("shuffleOrder is a seeded bijective permutation, stable across partitionings") {
    val s = spark
    import s.implicits._
    val df = (0L until 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val a = Curation.shuffleOrder(df, "doc_id", "seedA")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bijection onto [0, n)
    assert(a.values.toSet == (0L until 300L).toSet)
    // same seed replays the exact order at a different partitioning
    val a2 = Curation.shuffleOrder(df.repartition(7), "doc_id", "seedA")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2 == a)
    // a different seed is a different permutation
    val b = Curation.shuffleOrder(df, "doc_id", "seedB")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b != a && b.values.toSet == a.values.toSet)
  }

  test("multimodal: image payloads REALLY decode, resize, and re-decode (ImageIO)") {
    val media = Multimodal.syntheticMedia(spark, 12)
    // synthetic image rows carry genuine PNG bytes
    val png = media.where(col("modality") === "image").select("content").head.getAs[Array[Byte]](0)
    val decoded = Multimodal.decodeImage(png)
    assert(decoded.isDefined && decoded.get.getWidth == 8 && decoded.get.getHeight == 8)
    // probe reads true dimensions from the bytes, not the declared meta
    val probed = Multimodal.probeImageMeta(media)
      .where(col("modality") === "image").select("meta.width", "meta.height").distinct().collect()
    assert(probed.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((8, 8)))
    // resize re-encodes: decoding the OUTPUT bytes yields the new dims
    val out = Multimodal.resizeImages(media, 32, 16)
      .where(col("modality") === "image").select("content").head.getAs[Array[Byte]](0)
    val outImg = Multimodal.decodeImage(out)
    assert(outImg.isDefined && outImg.get.getWidth == 32 && outImg.get.getHeight == 16)
    // image features come from decoded pixels (RGB in [0,1]), not byte hashes
    val feats = Multimodal.extractFeatures(media.where(col("modality") === "image"), dim = 12)
      .select("features").collect().map(_.getSeq[Float](0))
    assert(feats.forall(f => f.forall(v => v >= 0.0f && v <= 1.0f)))
    assert(feats.distinct.length > 1) // different images -> different features
  }

  test("gopherReport computes rule inputs and the composite keep verdict") {
    val s = spark
    import s.implicits._
    val df = Seq(
      // 60 stopword-bearing words, mean len in range -> keep
      (1L, (Seq.fill(29)("the brown") :+ "a fox").mkString(" ")),
      (2L, "short doc"),                        // too few words
      (3L, Seq.fill(60)("zzzzzzzzzzzzzzzz").mkString(" ")), // mean len 16, no stopwords
      (4L, (Seq.fill(30)("the 123 456 789") :+ "a").mkString(" "))) // alpha_frac < 0.8
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherReport(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(5))).toMap
    assert(got(1L)._1 == 60 && got(1L)._2, s"got $got")
    assert(!got(2L)._2 && !got(3L)._2 && !got(4L)._2, s"got $got")
    // alpha_frac of doc 4: 31 of 121 words alphabetic (30× "the" + "a")
    val af = TextAnalysis.gopherReport(df, "doc_id", "text")
      .where(col("doc_id") === 4).select("alpha_frac").head.getDouble(0)
    assert(math.abs(af - 31.0 / 121.0) < 1e-5, s"alpha_frac $af")
  }

  test("collocations ranks adjacent pairs by the exact PMI odds ratio") {
    val s = spark
    import s.implicits._
    // "x y" always adjacent (8×); "c" ubiquitous so (c,*) pairs are expected
    val df = Seq.tabulate(8)(i => (i.toLong, s"x y c w$i c")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(df, "text", minCount = 2, k = 3)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    // N = 32 pairs; (x,y): c_xy=8, c_x(x as left)=8, c_y(y as right)=8
    // -> ratio 8*32/(8*8) = 4.0, the clear top pair
    assert(got.head._1 == ("x", "y") && got.head._2 == 8L &&
      got.head._3 == 4.0, s"got ${got.toSeq}")
    // ratios are non-increasing
    assert(got.sliding(2).forall(p => p.head._3 >= p.last._3))
  }

  test("exactQuantiles matches a per-group sort at percentile_disc semantics") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i =>
      (s"g${i % 3}", rnd.nextInt(40).toLong)).toDF("grp", "v")
    val ps = Seq(0.25, 0.5, 0.75)
    val got = Curation.exactQuantiles(df, "grp", "v", ps)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      ps.map(p => (g, p) ->
        sorted(math.ceil(p * sorted.length).toInt - 1))
    }.toMap
    assert(got == expect)
    // duplicate-heavy groups: one output row per requested p even when
    // several p's land on the same value
    assert(got.size == 9)
  }

  test("heavyHitters is exact when k >= distinct tokens") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a a a b b c"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(df, "text", k = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("a", 4L, 0L), ("b", 3L, 0L), ("c", 2L, 0L),
      ("d", 1L, 0L)), s"got ${got.toSeq}")
  }

  test("heavyHitters honors the Misra-Gries certificates under compression") {
    val s = spark
    import s.implicits._
    // skewed stream: token h0 at ~30%, rest spread over 200 tail types
    val rnd = new scala.util.Random(11)
    val docs = (1 to 200).map { i =>
      val words = (1 to 50).map { _ =>
        if (rnd.nextInt(10) < 3) "h0" else s"t${rnd.nextInt(200)}"
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text").repartition(7) // force multi-summary merges
    val k = 8
    val sk = TextAnalysis.heavyHitters(docs, "text", k)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val dec = sk.values.map(_._2).headOption.getOrElse(0L)
    assert(sk.size <= k)
    assert(dec > 0, "fixture must force compression")
    assert(dec * (k + 1) <= n, s"dec bound violated: $dec * ${k + 1} > $n")
    sk.foreach { case (item, (est, d)) =>
      val t = exact.getOrElse(item, 0L)
      assert(est <= t && t <= est + d, s"$item: est $est true $t dec $d")
    }
    // presence guarantee: h0's true count exceeds N/(k+1) -> must be
    // reported, with the usual MG estimate bracket
    assert(exact("h0") > n / (k + 1), "fixture must make h0 guaranteed-heavy")
    assert(sk.contains("h0"), s"guaranteed-heavy item missing: $sk")
  }

  test("semanticDedup: within-cluster pairs == naive, capped == uncapped, min-id keep, partitioning-independent") {
    val s = spark
    import s.implicits._
    // the kmeansQuantized spec fixture: three orthogonal groups whose
    // md5-ordered seeds (6, 7, 4) anchor three distinct clusters, so
    // group == cluster; within-group cosine ~1, cross-group ~0
    val group = Map(0 -> 0, 1 -> 0, 2 -> 0, 6 -> 0,
      3 -> 1, 5 -> 1, 7 -> 1, 4 -> 2, 8 -> 2)
    val rows = (0 until 9).map { i =>
      val v = Array.fill(4)(0f); v(group(i)) = 1f; v(3) = 0.001f * i
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val got = pairSet(Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      k = 3, iters = 2, theta = 0.9))
    // naive recomputation from the same assignment: all within-cluster
    // ordered pairs at cosine >= theta (here: every within-group pair)
    val expected = (for {
      a <- 0 until 9; b <- a + 1 until 9 if group(a) == group(b)
    } yield (a.toLong, b.toLong)).toSet
    assert(got == expected, s"got $got")
    // a cap smaller than the largest cluster (4 members) forces the
    // sub-bucket split path; the pair set must not change
    val capped = pairSet(Dedup.semanticDedupPairs(df, "vec_id",
      "embedding", k = 3, iters = 2, theta = 0.9, cap = 2))
    assert(capped == got, "cap-split path must be lossless")
    // theta above the quantized-dot ceiling (µ-unit dots reach at most
    // ~1.000002e12; a θ within ~2e-6 of 1.0 is below the 1e-6 grid's
    // resolving power — see VectorOps.thetaQ): no pairs at all
    assert(pairSet(Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      k = 3, iters = 2, theta = 1.001)).isEmpty)
    // keep: min id of each theta-chain survives -> group minima
    val kept = Dedup.semanticDedupKeep(df, "vec_id", "embedding",
      k = 3, iters = 2, theta = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L), s"kept $kept")
    // partitioning independence end to end
    val rep = pairSet(Dedup.semanticDedupPairs(df.repartition(7),
      "vec_id", "embedding", k = 3, iters = 2, theta = 0.9))
    assert(rep == got, "partitioning must not change the pair set")
    // REGRESSION (review finding): a zero-norm row must pair with
    // NOTHING — its cosines are null, not NaN. NaN would compare
    // greater than theta in Spark AND DuckDB, silently deleting the
    // whole cluster via min-id-wins when the zero row has the low id
    val poisoned = (Seq((100L, Array(0f, 0f, 0f, 0f))) ++ rows.map {
      case (i, v) => (i + 200L, v) }).toDF("vec_id", "embedding")
    val pp = pairSet(Dedup.semanticDedupPairs(poisoned, "vec_id",
      "embedding", k = 3, iters = 2, theta = 0.9))
    assert(!pp.exists { case (a, b) => a == 100L || b == 100L },
      s"zero-norm row paired: $pp")
    val keptP = Dedup.semanticDedupKeep(poisoned, "vec_id", "embedding",
      k = 3, iters = 2, theta = 0.9).collect().map(_.getLong(0)).toSet
    assert(keptP.contains(100L) && keptP.size == 4,
      s"one zero row must not delete real rows: $keptP")
  }

  test("semanticDedupReport: planted cluster sizes and pair volumes") {
    val s = spark
    import s.implicits._
    val group = Map(0 -> 0, 1 -> 0, 2 -> 0, 6 -> 0,
      3 -> 1, 5 -> 1, 7 -> 1, 4 -> 2, 8 -> 2)
    val rows = (0 until 9).map { i =>
      val v = Array.fill(4)(0f); v(group(i)) = 1f; v(3) = 0.001f * i
      (i.toLong, v)
    }
    val rep = Dedup.semanticDedupReport(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // group sizes 4/3/2 -> pair volumes 6/3/1
    assert(rep == Set((4L, 6L), (3L, 3L), (2L, 1L)), s"$rep")
  }

  test("calibrateSemDedupK: skewed corpus lands within the pair budget; unreachable budget refuses") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    // skewed: one dense 24-row blob around axis 0 (jittered, so larger
    // k CAN split it) + 40 spread rows across 8 directions
    val blob = (0 until 24).map { i =>
      val v = Array.tabulate(6)(j => rnd.nextFloat() * 0.2f)
      v(0) = 1f; (i.toLong, v)
    }
    val spread = (0 until 40).map { i =>
      val v = Array.tabulate(6)(j => rnd.nextFloat() * 0.3f)
      v(1 + i % 5) = 1f; (100L + i, v)
    }
    val df = (blob ++ spread).toDF("vec_id", "embedding").cache()
    val budget = 400L // 64 rows all-pairs = 2016; the blob alone is 276
    val k = Dedup.calibrateSemDedupK(df, "vec_id", "embedding",
      budget, iters = 2)
    val implied = Dedup.semanticDedupReport(df, "vec_id", "embedding",
      k, iters = 2).agg(sum(col("n_pairs"))).head.getLong(0)
    assert(implied <= budget, s"calibrated k=$k implies $implied > $budget")
    // the chosen k actually bounds the quadratic pass it gates
    val pairs = Dedup.semanticDedupPairs(df, "vec_id", "embedding",
      k, iters = 2, theta = 0.8).count()
    assert(pairs <= implied, s"ran $pairs pairs past the implied bound $implied")
    // a trivially-met budget returns the cheapest probe
    assert(Dedup.calibrateSemDedupK(df, "vec_id", "embedding",
      3000L, iters = 2) == 2)
    // 64 identical vectors can never split: the refusal arm, with the
    // duplicate mass named in the message
    val dup = (0 until 64).map(i => (i.toLong, Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Dedup.calibrateSemDedupK(dup, "vec_id", "embedding", 100L, iters = 1)
    }
    assert(ex.getMessage.contains("unreachable"), ex.getMessage)
    // the budgeted entry point commits the dedup at exactly the
    // calibrated k: kept set == the hand-calibrated keep
    val (kept, kAuto) = Dedup.semanticDedupKeepBudget(df, "vec_id",
      "embedding", budget, iters = 2, theta = 0.8)
    assert(kAuto == k, s"budgeted keep calibrated $kAuto, expected $k")
    val handKept = Dedup.semanticDedupKeep(df, "vec_id", "embedding",
      k, iters = 2, theta = 0.8).collect().map(_.getLong(0)).toSet
    assert(kept.collect().map(_.getLong(0)).toSet == handKept,
      "budgeted keep must equal the keep at the calibrated k")
    df.unpersist()
  }

  test("semanticDedupCrossPairs: cross-only contract, standing centroids, novel rows pass, cap parity") {
    val s = spark
    import s.implicits._
    // the planted-cluster fixture again: group == cluster
    val group = Map(0 -> 0, 1 -> 0, 2 -> 0, 6 -> 0,
      3 -> 1, 5 -> 1, 7 -> 1, 4 -> 2, 8 -> 2)
    val rows = (0 until 9).map { i =>
      val v = Array.fill(4)(0f); v(group(i)) = 1f; v(3) = 0.001f * i
      (i.toLong, v)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    // batch: near-copies of 1 and 5 (ids offset), plus one NOVEL row
    // orthogonal to every cluster axis — it must pair with nothing
    val batch = Seq(
      (101L, { val v = rows(1)._2.clone(); v(3) += 0.0005f; v }),
      (105L, { val v = rows(5)._2.clone(); v(3) += 0.0005f; v }),
      (199L, { val v = Array.fill(4)(0f); v(3) = 1f; v })
    ).toDF("vec_id", "embedding")
    def run(cap: Int) = Dedup.semanticDedupCrossPairs(corpus, batch,
      "vec_id", "embedding", k = 3, iters = 2, theta = 0.9, cap = cap)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val got = run(4096)
    // every pair is corpus-id x batch-id (cross-only, never within)
    got.foreach { case (a, b) =>
      assert(a < 100 && b >= 100, s"non-cross pair ($a, $b)")
    }
    // the two near-copies pair with every same-cluster corpus row
    // (within-group cosine ~1); the novel row pairs with nothing
    val expected = (for {
      (cid, g) <- group; bid <- Seq(101L -> 0, 105L -> 1)
      if g == bid._2
    } yield (cid.toLong, bid._1)).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(!got.exists(_._2 == 199L), "novel row must not pair")
    // cap-split parity through boundedCrossPairs
    assert(run(1) == got, "cap-split cross path must be lossless")
    // partitioning independence
    val rep = Dedup.semanticDedupCrossPairs(corpus.repartition(5),
      batch.repartition(3), "vec_id", "embedding", k = 3, iters = 2,
      theta = 0.9).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(rep == got)
  }

  test("readabilityReport: hand-counted FK terms, floors, VT in the word class") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "The cat sat. It ran!"), // 5 words, 2 sentences, 5 vowel runs
      (2L, "zzz brr"),              // no vowels, no enders -> floors
      (3L, "a\u000Bb")              // VT separates words in BOTH engines
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readabilityReport(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def fk(w: Long, se: Long, sy: Long): Double =
      math.rint((0.39 * (w.toDouble / se) + 11.8 * (sy.toDouble / w)
        - 15.59) * 10000) / 10000
    assert(got(1L) == ((5L, 2L, 5L, fk(5, 2, 5))), s"${got(1L)}")
    assert(got(2L) == ((2L, 1L, 1L, fk(2, 1, 1))), s"${got(2L)}")
    assert(got(3L) == ((2L, 1L, 1L, fk(2, 1, 1))), s"${got(3L)}")
    // sanity anchor: doc 1 computes to the known value
    assert(math.abs(got(1L)._4 - (-2.815)) < 1e-9, s"${got(1L)._4}")
  }

  test("groupKeywordReport: cluster-level tf-idf, shared terms zero out, no per-group concatenation") {
    val s = spark
    import s.implicits._
    // two clusters, multiple ROWS per cluster (the no-concatenation
    // contract: tf must aggregate across a group's rows); "the" in
    // both clusters -> df = 2 = N -> ln(1) = 0 score
    val rows = Seq(
      (0L, "the spark shuffle"), (0L, "the spark join spark"),
      (1L, "the cat"), (1L, "cat nap cat cat"))
    val df = rows.toDF("cluster", "text")
    val got = TextAnalysis.groupKeywordReport(df, "cluster", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val byG = got.groupBy(_._1)
    val ln2 = math.rint(math.log(2.0) * 10000) / 10000
    // cluster 0: spark tf=3 across BOTH rows, df=1 -> 3*ln2 top
    assert(byG(0L).find(_._3 == 1L).get._2 == "spark")
    assert(math.abs(byG(0L).find(_._3 == 1L).get._4 -
      math.rint(3 * math.log(2.0) * 10000) / 10000) < 1e-9)
    // cluster 1: cat tf=4, df=1 -> top
    assert(byG(1L).find(_._3 == 1L).get._2 == "cat")
    // "the" scores exactly 0 everywhere (df == N), so it can only
    // appear via the tie-broken tail, never above a distinctive term
    got.filter(_._2 == "the").foreach(t => assert(t._4 == 0.0, s"$t"))
  }

  test("stratifiedSplit: exact floor proportions per stratum, tiny strata covered, partitioning-independent") {
    val s = spark
    import s.implicits._
    // strata of size 40, 7, 1 — the 7/1 sizes are where hash splits
    // go lopsided and exactness matters
    val rows = (0 until 40).map(i => (i.toLong, "big")) ++
      (100 until 107).map(i => (i.toLong, "small")) ++
      Seq((200L, "solo"))
    val df = rows.toDF("id", "stratum")
    val cuts = Seq(("train", 90), ("val", 95), ("test", 100))
    val got = Curation.stratifiedSplit(df, "id", "stratum", cuts, 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == 48)
    val counts = got.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
      .withDefaultValue(0)
    // exact cumulative floors: big 40 -> 36/2/2; small 7 -> 6/0/1;
    // solo 1 -> r*100 <= 90*1 false, <= 95 false -> test
    assert(counts(("big", "train")) == 36 && counts(("big", "val")) == 2 &&
      counts(("big", "test")) == 2, s"$counts")
    assert(counts(("small", "train")) == 6 && counts(("small", "val")) == 0 &&
      counts(("small", "test")) == 1, s"$counts")
    assert(counts(("solo", "test")) == 1 && counts(("solo", "train")) == 0,
      s"$counts")
    // deterministic at any layout
    val rep = Curation.stratifiedSplit(df.repartition(7), "id", "stratum",
      cuts, 100).collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(rep == got.toSet)
  }

  test("NaN contract: poisoned text rows yield finite-or-null scores in every scoring family") {
    // Spark AND DuckDB compare NaN greater than everything, so ONE NaN
    // score would pass every `>= θ` gate and rank first in every desc
    // sort — the silent cluster-killer the r12 cosine review caught.
    // The scoring families guard their divisions by construction
    // (greatest(·, 1) floors, when(size > 0) branches, left-join nulls);
    // this spec plants the degenerate inputs that would break an
    // UNguarded division — empty text, whitespace-only, no letters,
    // one token — and pins the contract: every double is finite or
    // NULL, never NaN, and no poisoned row outranks a healthy one.
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog ran to the park."),
      (2L, ""), // empty: zero tokens, zero chars
      (3L, "   \t\n  "), // whitespace-only
      (4L, "!!! ??? ... 123 456"), // no letters, no vowel groups
      (5L, "b") // one token, no vowel, no sentence mark
    ).toDF("doc_id", "text")
    def assertNoNaN(df: org.apache.spark.sql.DataFrame): Unit = {
      val doubles = df.schema.fields.filter(
        _.dataType == org.apache.spark.sql.types.DoubleType).map(_.name)
      df.collect().foreach { r =>
        doubles.foreach { c =>
          val i = r.fieldIndex(c)
          assert(r.isNullAt(i) || !r.getDouble(i).isNaN,
            s"NaN leaked in $c: $r")
        }
      }
    }
    val q = TextAnalysis.qualityReport(docs, "doc_id", "text")
    assertNoNaN(q)
    // the poisoned rows' composite quality never beats the real doc's
    val quality = q.collect().map(r =>
      r.getLong(0) -> r.getDouble(r.fieldIndex("quality"))).toMap
    (2L to 5L).foreach(i => assert(quality(i) < quality(1L),
      s"poisoned row $i outranks healthy: ${quality(i)} >= ${quality(1L)}"))
    assertNoNaN(TextAnalysis.readabilityReport(docs, "doc_id", "text"))
    val g = TextAnalysis.gopherReport(docs, "doc_id", "text", minWords = 3)
    assertNoNaN(g)
    g.collect().foreach { r => // no poisoned row passes the gopher gate
      if (r.getLong(0) >= 2L)
        assert(!r.getBoolean(r.fieldIndex("keep")), s"poisoned keep: $r")
    }
    assertNoNaN(TextAnalysis.repetition(docs, "doc_id", "text"))
    assertNoNaN(TextAnalysis.lmScoreReport(docs, "doc_id", "text",
      docs, "text", vocab = 8))
    val b = TextAnalysis.bigramLmScoreReport(docs, "doc_id", "text",
      docs, "text", vocab = 8)
    assertNoNaN(b)
    // sub-2-token docs (2, 3, 5) carry null (not NaN) and sort BELOW
    // every scored row under the desc-nulls-last convention both
    // engines share (doc 4 has the "123 456" bigram, so it scores)
    val ordered = b.orderBy(col("lm2_logp").desc, col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ordered.takeRight(3).toSet == Set(2L, 3L, 5L),
      s"null-score rows must sort last: $ordered")
    val jm = TextAnalysis.interpolatedLmScoreReport(docs, "doc_id",
      "text", docs, "text", vocab = 8)
    assertNoNaN(jm)
    val jmOrdered = jm.orderBy(col("lmi_logp").desc, col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(jmOrdered.takeRight(3).toSet == Set(2L, 3L, 5L),
      s"null-score rows must sort last: $jmOrdered")
    assertNoNaN(Curation.dsirWeights(docs, "doc_id", "text",
      docs.where(col("doc_id") === 1L), "text", buckets = 64))
    // langId: degenerate rows classify "und", never crash
    val langs = TextAnalysis.langIdReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (2L to 5L).foreach(i => assert(langs(i) == "und", s"$i -> ${langs(i)}"))
  }

  test("quality classifier AUTO lrW: short-doc corpus oscillates at the long-doc fixed rate, converges at the derived rate") {
    import graft.pipeline.QualityClf
    val s = spark
    import s.implicits._
    // VERY short docs (2-char tokens -> no char trigrams, ~5 features
    // each): mean-pooled curvature ~ 1/n is ~40x the long-doc fixture
    // corpus's, so the fixture-tuned lrW=1024 sits far past the LMS
    // stability edge here
    val corpus = Seq(
      (1L, "ok go on up", 1L), (2L, "ok go up an", 1L),
      (3L, "xz qv jk wy", 0L), (4L, "qv jk zz xz", 0L),
      (5L, "ok an on go", 1L), (6L, "jk wy qv zz", 0L),
      (7L, "on up ok an", 1L), (8L, "zz wy xz jk", 0L))
      .toDF("doc_id", "text", "y")
    val fixed = QualityClf.trainQualityClf(corpus, "doc_id", "text", "y",
      buckets = 64, epochs = 16, lrWNum = 1024L)
    assert(fixed.maeLast >= fixed.maeFirst,
      s"the long-doc rate must oscillate on short docs (the telemetry " +
        s"this auto-sizing exists to clear): ${fixed.maeFirst} -> ${fixed.maeLast}")
    val auto = QualityClf.trainQualityClf(corpus, "doc_id", "text", "y",
      buckets = 64, epochs = 16) // lrWNum default 0 = AUTO
    // derived rate = sigDiv * harmonic-mean feature count: 5-6 feature
    // docs -> a rate around 20-30, far under the fixed default
    assert(auto.lrWNum >= 1L && auto.lrWNum <= 64L,
      s"auto rate must track the short docs, got ${auto.lrWNum}")
    assert(auto.maeLast < auto.maeFirst,
      s"auto rate must converge MAE-monotone: ${auto.maeFirst} -> ${auto.maeLast}")
    // and still learns the separable labels
    val scored = QualityClf.scoreQualityClf(corpus, "doc_id", "text", auto)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val truth = Map(1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 0L,
      5L -> 1L, 6L -> 0L, 7L -> 1L, 8L -> 0L)
    assert((1L to 8L).forall(i => scored(i) == truth(i)),
      s"auto-rate model must classify the separable toy: $scored")
  }

  test("quality classifier: pure-BigInt gradient replay, learnability, partitioning independence, guards") {
    import graft.pipeline.QualityClf
    val s = spark
    import s.implicits._
    // separable toy corpus: label = doc mentions "good"
    val corpus = Seq(
      (1L, "good clean prose with real sentences", 1L),
      (2L, "good structure and good grammar here", 1L),
      (3L, "spam spam click here buy now", 0L),
      (4L, "asdf qwer zxcv garbled nonsense tokens", 0L),
      (5L, "a good and thoughtful essay follows", 1L),
      (6L, "buy buy buy click spam offer", 0L),
      (7L, "good writing is mostly rewriting", 1L),
      (8L, "zzzz kjhg mnbv garbled spam", 0L)).toDF("doc_id", "text", "y")
    // lrW obeys the LMS stability bound: mean-pooled features scale
    // as 1/n_doc, so short toy docs need a ~10x smaller rate than the
    // long-doc fixture corpus (lrW=1024 there) — at 1024 this corpus
    // oscillates with period 2 (measured), at 64 it converges
    val B = 64; val E = 16; val lrWSpec = 64L
    val model = QualityClf.trainQualityClf(corpus, "doc_id", "text", "y",
      buckets = B, epochs = E, lrWNum = lrWSpec)
    // ---- pure-JVM integer replay (the oracle arithmetic, BigInt) ----
    val W = 1000000L; val S = 1000000L; val K = 4L; val lrW = lrWSpec
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    def featsOf(t: String): Seq[String] = {
      val ts = toks(t)
      ts ++ ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")) ++
        ts.filter(_.length >= 3).flatMap(w =>
          (0 to w.length - 3).map(i => "c3:" + w.substring(i, i + 3)))
    }
    def bk(f: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (BigInt(hex.substring(0, 15), 16) % B).toInt
    }
    def tdivB(a: BigInt, d: BigInt): BigInt = a / d // BigInt / truncates
    val rows = corpus.collect().map(r =>
      (r.getLong(0), featsOf(r.getString(1)).map(bk), r.getLong(2)))
    val n = rows.map(r => r._1 -> r._2.length.toLong).toMap
    val cnts = rows.map(r =>
      r._1 -> r._2.groupBy(identity).view.mapValues(_.length.toLong).toMap).toMap
    val N = rows.length
    var wRef = Array.fill(B)(BigInt(0)); var biasRef = BigInt(0)
    for (_ <- 1 to E) {
      val G = Array.fill(B)(BigInt(0)); var g0 = BigInt(0)
      rows.foreach { case (id, _, y) =>
        val rd = cnts(id).map { case (b, c) => wRef(b) * c }.sum
        val z = biasRef + (if (n(id) == 0) BigInt(0) else tdivB(rd, n(id)))
        val p = BigInt(W / 2) + tdivB(z, K)
        val e = (p - BigInt(y) * W).max(BigInt(-W)).min(BigInt(W))
        val q = if (n(id) == 0) BigInt(0) else tdivB(e * S, n(id))
        cnts(id).foreach { case (b, c) => G(b) += q * c }
        g0 += e
      }
      val gm = tdivB(G.sum, B)
      wRef = Array.tabulate(B)(b =>
        wRef(b) - tdivB((G(b) - gm) * lrW, BigInt(N) * S))
      biasRef = biasRef - tdivB(g0, N)
    }
    assert(model.weights.toSeq == wRef.map(_.toLong).toSeq,
      "trained weights must equal the BigInt replay")
    assert(model.bias == biasRef.toLong,
      "trained bias must equal the BigInt replay")
    // ---- learnability: the separable toy must classify perfectly ----
    val scored = QualityClf.scoreQualityClf(corpus, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    val labels = rows.map(r => r._1 -> r._3).toMap
    assert((1L to 8L).forall(i => scored(i) == labels(i)),
      s"separable corpus must train to 100%: $scored vs $labels")
    // ---- convergence telemetry: the stable rate's MAE moves down ----
    assert(model.maeFirst >= 0 && model.maeLast >= 0 &&
      model.maeLast < model.maeFirst,
      s"converging training must read maeLast < maeFirst: " +
        s"${model.maeFirst} -> ${model.maeLast}")
    // ---- partitioning independence: exact integer arithmetic ----
    val rep = QualityClf.trainQualityClf(corpus.repartition(7),
      "doc_id", "text", "y", buckets = B, epochs = E, lrWNum = lrWSpec)
    assert(rep.weights.toSeq == model.weights.toSeq && rep.bias == model.bias,
      "partitioning must not change the trained model")
    // ---- tokenless docs score bias exactly ----
    val sc0 = QualityClf.scoreQualityClf(
      Seq((9L, "!!!")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect()(0)
    assert(sc0.getLong(1) == 0L && sc0.getLong(2) == model.bias,
      s"tokenless doc must score the bias: $sc0")
    // ---- guards fail loudly ----
    intercept[IllegalArgumentException] {
      QualityClf.trainQualityClf(
        Seq((1L, "x", 2L)).toDF("doc_id", "text", "y"),
        "doc_id", "text", "y", buckets = B, epochs = 1)
    }
    intercept[IllegalArgumentException] {
      QualityClf.trainQualityClf(corpus.where(lit(false)),
        "doc_id", "text", "y", buckets = B, epochs = 1)
    }
  }
}

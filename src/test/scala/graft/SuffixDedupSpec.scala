package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, SuffixDedup}

/** Distributed suffix-ranking substring dedup vs a brute-force oracle:
  * maximal verbatim repeats, exact span coverage, and the
  * coverage-equivalence theorem against the fast window-merge path.
  */
class SuffixDedupSpec extends GraftSuite {

  private def tok(t: String): Seq[String] =
    t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** Brute force: dupLen(p) = max L with tokens[p, p+L) occurring >= 2
    * times corpus-wide (any positions, overlaps included).
    */
  private def bruteDupLens(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val toks = docs.map { case (id, t) => id -> tok(t) }
    val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; p <- ts.indices; l <- 1 to (ts.length - p))
      counts.updateWith(ts.slice(p, p + l))(c => Some(c.getOrElse(0) + 1))
    (for ((id, ts) <- toks; p <- ts.indices) yield {
      val dl = (1 to (ts.length - p)).reverse
        .find(l => counts(ts.slice(p, p + l)) >= 2).getOrElse(0)
      (id, p.toLong) -> dl.toLong
    }).toMap
  }

  private def bruteRepeats(docs: Seq[(Long, String)],
      n: Int): Set[(Long, Long, Long, String)] = {
    val dls = bruteDupLens(docs)
    val toks = docs.map { case (id, t) => id -> tok(t) }.toMap
    dls.collect {
      case ((id, p), dl) if dl >= n &&
          (p == 0 || dls((id, p - 1)) <= dl) =>
        (id, p, dl, toks(id).slice(p.toInt, (p + dl).toInt).mkString(" "))
    }.toSet
  }

  private def randomDocs(seed: Int, nDocs: Int, maxLen: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val alphabet = Vector("a", "b", "c", "d", "e")
    (0 until nDocs).map { i =>
      val len = 3 + rnd.nextInt(maxLen - 3)
      i.toLong -> Seq.fill(len)(alphabet(rnd.nextInt(alphabet.size))).mkString(" ")
    }
  }

  /** Force the giant-document fallback (KR prefix-refinement) by
    * setting the slice bound below every doc length.
    */
  private def withFallbackPath[T](body: => T): T = {
    spark.conf.set("graft.suffix.maxSliceTokens", "1")
    try body finally spark.conf.unset("graft.suffix.maxSliceTokens")
  }

  test("maximalRepeats matches the brute-force inventory on random corpora") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(7, 19, 31)) {
      val docs = randomDocs(seed, nDocs = 6, maxLen = 18)
      val df = docs.toDF("doc_id", "text")
      val got = SuffixDedup.maximalRepeats(df, "text", "doc_id", n = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == bruteRepeats(docs, 3), s"seed=$seed")
    }
  }

  test("fallback rank-refinement path matches brute force too") {
    val s = spark
    import s.implicits._
    withFallbackPath {
      for (seed <- Seq(7, 19, 31)) {
        val docs = randomDocs(seed, nDocs = 6, maxLen = 18)
        val got = SuffixDedup.maximalRepeats(docs.toDF("doc_id", "text"),
          "text", "doc_id", n = 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
          .toSet
        assert(got == bruteRepeats(docs, 3), s"seed=$seed (fallback)")
      }
    }
  }

  test("maximalRepeats: handcrafted cross-doc, within-doc, and overlap cases") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "x the quick brown fox jumps y"),
      (2L, "z the quick brown fox jumps w"), // 5-token cross-doc repeat
      (3L, "u v repeat me repeat me q"),      // within-doc overlap
      (4L, "all tokens here are unique ok"))
    val got = SuffixDedup.maximalRepeats(docs.toDF("doc_id", "text"),
      "text", "doc_id", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == bruteRepeats(docs, 3), s"got $got")
    assert(got.contains((1L, 1L, 5L, "the quick brown fox jumps")))
    assert(got.contains((2L, 1L, 5L, "the quick brown fox jumps")))
    assert(!got.exists(_._1 == 4L))
  }

  test("exact span coverage equals the window-merge path (docs >= n tokens)") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11, 23)) {
      val docs = randomDocs(seed, nDocs = 8, maxLen = 20)
        .filter(d => tok(d._2).length >= 3)
      val df = docs.toDF("doc_id", "text").cache()
      val exact = SuffixDedup.exactStripDupSpans(df, "text", "doc_id", 3)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val fast = Dedup.stripDupSpans(df, "text", "doc_id", 3)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(exact == fast, s"seed=$seed: coverage must be identical")
      df.unpersist()
    }
  }

  test("maximalRepeats works with a non-long id column") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("doc-a", "one two three four five six"),
      ("doc-b", "zz one two three four five qq"))
      .toDF("doc_id", "text")
    val got = SuffixDedup.maximalRepeats(docs, "text", "doc_id", n = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("doc-a", 0L, 5L), ("doc-b", 1L, 5L)), s"got $got")
  }

  test("level frames spill to the configured scratch dir, results unchanged") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-suffix").toString
    s.conf.set("graft.scratch.dir", dir)
    s.conf.set("graft.scratch.keep", "true")
    try {
      val docs = randomDocs(43, nDocs = 6, maxLen = 18)
      val got = SuffixDedup.maximalRepeats(docs.toDF("doc_id", "text"),
        "text", "doc_id", n = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(got == bruteRepeats(docs, 3))
      val frames = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.map(_.toString).toSeq
      assert(frames.exists(_.contains("/frame_")), s"no frames under $dir")
      assert(frames.exists(p => p.contains("/frame_") && p.endsWith(".parquet")),
        "frames must be parquet")

      // default lifecycle: release removes the level frames at once;
      // the stable result goes once the collected frame is unreachable
      s.conf.set("graft.scratch.keep", "false")
      val dir2 = java.nio.file.Files.createTempDirectory("graft-suffix2").toString
      s.conf.set("graft.scratch.dir", dir2)
      SuffixDedup.maximalRepeats(docs.toDF("doc_id", "text"),
        "text", "doc_id", n = 3).collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (Option(new java.io.File(dir2).listFiles()).exists(_.nonEmpty) &&
          System.nanoTime() < deadline) { System.gc(); Thread.sleep(100) }
      val left = new java.io.File(dir2).listFiles()
      assert(left == null || left.isEmpty, s"run dir not cleaned: ${left.toSeq}")
    } finally {
      s.conf.unset("graft.scratch.dir")
      s.conf.unset("graft.scratch.keep")
    }
  }

  test("exactDupSpanExtract merges overlapping repeats into coverage spans") {
    val s = spark
    import s.implicits._
    // doc 1's [a b c] repeats vs doc 2, [c d e] vs doc 3; the repeats
    // overlap at token 2 -> ONE merged coverage span 0..4
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "p q a b c"),
      (3L, "c d e r s"))
    val got = SuffixDedup.exactDupSpanExtract(docs.toDF("doc_id", "text"),
      "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.contains((1L, 0L, 4L)), s"got $got")
  }
}

package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.Multimodal

/** Intra-JVM A/B measurement harness: times an old formulation against
  * its replacement INTERLEAVED in one SparkSession (GC'd noop-sink
  * reps, medians), so ambient drift hits both sides equally. This is
  * the only comparison that works on a host with bursty CPU steal,
  * where cross-JVM before/after timings of the same binary can swing
  * by an order of magnitude (see OPTIMIZATION_r16.md "Measurement
  * environment").
  *
  * An old arm lives only in the change that measures it: that change
  * adds its (name, old, new) pair here, records the verdict in its
  * notes, and the next change deletes the arm. The one standing pair,
  * `audio_shingle_band`, runs the same formulation on both sides and
  * records the ambient band of q_media_audio_shingle_pairs.
  *
  * Usage: `runMain graft.ProbeAB [reps] [pairName...]` (reps default
  * 5; no names runs every pair), over `SPARK_GRAFT_SF_DIR`.
  */
object ProbeAB {
  def time(f: => DataFrame): Double = {
    System.gc()
    val t0 = System.nanoTime()
    f.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // parsed before any Spark work; a non-numeric first argument is a
    // pair name
    val repsArg = args.headOption.flatMap(_.toIntOption)
    val reps = repsArg.getOrElse(5)
    require(reps > 0, s"reps must be positive, got $reps")
    val nameArgs = args.drop(repsArg.size).toSet
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)

    def docsDf = spark.read.parquet(s"$d/documents.parquet")

    // same formulation on BOTH sides: records the ambient swing band
    // of q_media_audio_shingle_pairs (its bench runs spanned 0.7-1.8 s
    // on untouched code)
    def audioShingle: DataFrame = Multimodal.audioShingleNearDupPairs(
      Multimodal.mediaFromIdsCached(docsDf.select("doc_id"), "doc_id",
        only = Some("audio")), n = 3, num = 6, den = 10)

    val allPairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("audio_shingle_band", () => audioShingle, () => audioShingle))

    val pairs =
      if (nameArgs.isEmpty) allPairs else allPairs.filter(p => nameArgs.contains(p._1))
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

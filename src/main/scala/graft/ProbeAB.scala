package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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

    def docsDf = spark.read.parquet(s"$d/documents.parquet")

    // same formulation on BOTH sides: records the ambient swing band
    // of q_media_audio_shingle_pairs (its bench runs spanned 0.7-1.8 s
    // on untouched code)
    def audioShingle: DataFrame = Multimodal.audioShingleNearDupPairs(
      Multimodal.mediaFromIdsCached(docsDf.select("doc_id"), "doc_id",
        only = Some("audio")), n = 3, num = 6, den = 10)

    // hops whose near step became a semi join: old = the same plan with
    // each `edges ⋉ frontier` put back as the inner join
    // `frontier ⋈ edges` it replaced
    def innerHops(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
      import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
      val plan = df.queryExecution.analyzed.transformUp {
        case Join(edges, frontier, LeftSemi, cond, hint) =>
          Project(edges.output, Join(frontier, edges, Inner, cond, hint))
      }
      new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(df.schema))
    }
    val hops = Seq("q_choose", "q_choose_else", "q_in", "q_nav_agg", "q_out_count").map { q =>
      def df = SparkEntry.queries(q)(spark, d)
      (q, () => innerHops(df), () => df)
    }
    // every Customer through a filter that keeps all of them: a
    // label-sized frontier the compiler does not know is a whole label
    def everyCustomerHop: DataFrame = {
      import graft.dsl.Dsl._
      new graft.exec.Compiler(graft.model.TestGraph(spark, d)).run(g()
        .nWithLabelWhere("Customer", gt("c_acctbal", -1e9)).out("PLACED").values("o_orderkey").t)
    }

    val allPairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("audio_shingle_band", () => audioShingle, () => audioShingle),
      ("hop_every_customer", () => innerHops(everyCustomerHop), () => everyCustomerHop)) ++ hops

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

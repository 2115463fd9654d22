package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.Compiler
import graft.model.{EdgeMeta, GraphStore}

/** Shared session + a tiny in-memory graph mirroring the reference's
  * parity seed (ParityUser Alice/Bob/Carol + FOLLOWS edges —
  * generate_parity_fixtures.rs seed block; see FIXTURES.md §A).
  */
object TestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** ParityUser graph: Alice(1), Bob(2), Carol(3); FOLLOWS 1->2 (w=1.0),
    * 2->3 (w=0.5). Embeddings are 3-dim, bios exercise BM25.
    */
  def parityGraph(): GraphStore = {
    val s = spark
    import s.implicits._
    val users = Seq(
      (1L, "ParityUser", "u1", "Alice", 31L, 90.5, "active", "London",
        "graph databases and vector search", Seq(1.0f, 0.0f, 0.0f), "t1"),
      (2L, "ParityUser", "u2", "Bob", 27L, 72.25, "active", "Paris",
        "vector search with text indexes", Seq(0.9f, 0.1f, 0.0f), "t1"),
      (3L, "ParityUser", "u3", "Carol", 42L, 64.0, "inactive", "Berlin",
        "cooking and travel blogs", Seq(0.0f, 1.0f, 0.0f), "t2"),
    ).toDF("_id", "_label", "externalId", "name", "age", "score", "status",
      "city", "bio", "embedding", "tenantId")
    // FOLLOWS edges also carry a BM25-indexed note + a 2-dim embedding
    // (the parity seed's edge-index surface, FIXTURES.md §A)
    val follows = Seq(
      (100L, "FOLLOWS", 1L, 2L, 1.0, "2024-01-01",
        "close friends from work", Seq(1.0f, 0.0f)),
      (101L, "FOLLOWS", 2L, 3L, 0.5, "2024-02-01",
        "travel blog subscription", Seq(0.0f, 1.0f)),
    ).toDF("_id", "_label", "_src", "_dst", "weight", "since", "note", "embedding")
    new GraphStore(s, Map("ParityUser" -> users), Map("FOLLOWS" -> follows),
      Map("FOLLOWS" -> EdgeMeta(Set("ParityUser"), Set("ParityUser"))))
  }

  /** The parity graph read back from a parquet snapshot. The in-memory
    * tables are local relations, which Spark answers on the driver
    * without a job; every action on this copy starts one, so job
    * counts over it see each action.
    */
  def parityGraphOnDisk(): GraphStore = {
    val dir = java.nio.file.Files.createTempDirectory("parity-snap").toString
    graft.model.GraphWal.checkpoint(parityGraph(), dir)
    graft.model.GraphWal.recover(spark, dir)
  }

  def compiler(store: GraphStore = parityGraph(),
      params: Map[String, graft.ast.PropertyValue] = Map.empty,
      write: Boolean = false): Compiler =
    new Compiler(store, params, scala.collection.mutable.Map.empty, writeEnabled = write)
}

abstract class GraftSuite extends AnyFunSuite {
  def spark: SparkSession = TestBase.spark
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  def singleLong(df: DataFrame): Long = df.collect()(0).getLong(0)
  def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().toSeq.map(_.getLong(0)).sorted

  /** Runs `body` and counts the Spark jobs it starts from this thread.
    * Jobs carry a per-call local property; a marker job started after
    * `body` proves the in-order listener bus delivered every earlier
    * job start, so the count needs no sleep.
    */
  def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.countJobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == tag + "-marker") drained.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val out = body
      sc.setLocalProperty(key, tag + "-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

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
      // at Spark's default of 100 classes, one BM25 search (about 50)
      // can evict a shape that a compile-count test expects to find
      // cached (ServingCodegenSpec)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
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

  /** The query executions of the actions `f` runs, as the listener bus
    * delivers them.
    */
  def plansOf(f: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val marker = spark.range(1).toDF("m")
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      f
      marker.collect() // the bus delivers in order: once this shows, so have f's actions
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains(marker.queryExecution) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.filterNot(_ eq marker.queryExecution)
  }

  /** A loopback port free at the time of the call. */
  def freePort(): Int = {
    val ss = new java.net.ServerSocket(0)
    try ss.getLocalPort finally ss.close()
  }

  /** One HTTP exchange with a local server: (status, Content-Type, body,
    * round trip in ms). The body is read to its end and closed, so the
    * connection goes back to the keep-alive pool for the next call.
    */
  def exchange(port: Int, method: String, path: String, body: Option[String] = None,
      auth: Option[String] = None): (Int, String, String, Double) = {
    val start = System.nanoTime()
    val c = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    auth.foreach(c.setRequestProperty("Authorization", _))
    body.foreach { b => c.setDoOutput(true); c.getOutputStream.write(b.getBytes("UTF-8")) }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val out = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (code, c.getContentType, out, (System.nanoTime() - start) / 1e6)
  }

  /** Median round trip, in ms, of `n` keep-alive GETs of `path`. A
    * server that leaves Nagle's algorithm on answers each in about
    * 40 ms: its body segment waits for the client's delayed ACK of the
    * header segment.
    */
  def medianGetMs(port: Int, path: String, n: Int = 20): Double = {
    val ms = Seq.fill(n)(exchange(port, "GET", path)._4).sorted
    ms(n / 2)
  }

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

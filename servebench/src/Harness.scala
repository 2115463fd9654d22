package servebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Union

import graft.ast.Json
import graft.exec.BatchExecutor
import graft.model.{GraphStore, GraphWal, TestGraph}
import graft.search.IndexCache
import graft.server.Gateway

import java.net.{HttpURLConnection, ServerSocket, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Serving-benchmark harness: one JVM, one in-process Gateway over the
  * sf0.1 TestGraph, driven over HTTP loopback by a closed loop of
  * `clients` threads working through a fixed operation list.
  *
  * Run directory layout (written by run.py, read here):
  *   ops.jsonl / warm.jsonl  timed and warm-up operation lists
  *   bundle.json             stored routes deployed via /v1/deploy
  * Written here:
  *   results.jsonl           one line per timed operation
  *   oracle.jsonl            Spark SQL answers over the raw parquet
  *   trace.jsonl, jobs.jsonl per-operation spans and Spark jobs (traced)
  *   run.json                set-up time and host/JVM context
  *
  * With `--trace 1` each operation is followed, on the same client
  * thread, by an outside-in replay through the layers' public
  * functions on the store snapshot the operation saw: Json.parseRequest
  * (decode), BatchExecutor.execute (build), QueryExecution.tracker
  * (analysis, optimization, planning), collect (execute), and for reads
  * Gateway.handle (render is handle minus the layers above). Spark jobs
  * are attributed to a span by the `servebench.span` local property.
  */
object Harness {
  private val mapper = new ObjectMapper()
  val MaxRows = 10000
  val SpanProp = "servebench.span"

  final case class Op(i: Int, cls: String, tpl: String, path: String,
      body: String, inline: String, write: Boolean, oracle: Option[String])

  def readOps(p: Path): Vector[Op] =
    Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      Op(n.get("i").asInt, n.get("cls").asText, n.get("tpl").asText,
        n.get("path").asText, n.get("body").asText, n.get("inline").asText,
        n.get("write").asBoolean,
        Option(n.get("oracle")).filterNot(_.isNull).map(_.asText))
    }.toVector

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val dir = Paths.get(a("dir"))
    val data = a("data")
    val clients = a("clients").toInt
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    val logWal = a("wal") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()

    val bundle = Files.readString(dir.resolve("bundle.json"))
    val warmOps = readOps(dir.resolve("warm.jsonl"))
    val ops = readOps(dir.resolve("ops.jsonl"))
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val (gw, port) = setUp(spark, data, dir, bundle, warmOps, clients, logWal)
    // set-up time: JVM start to gateway ready, one cold sample per run
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0

    // ---- the timed list
    val gcBefore = gcMillis()
    val stealBefore = cpuTimes()
    val results = new Array[String](ops.size)
    val traces = new Array[String](ops.size)
    val next = new AtomicInteger(0)
    val shadowWal = dir.resolve("wal-shadow")
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < ops.size) {
          val op = ops(k)
          val snap = gw.currentStore
          val s = System.nanoTime()
          val (status, body) = post(port, op.path, op.body)
          val e = System.nanoTime()
          val entries = IndexCache.size
          results(k) = obj(
            "i" -> op.i, "client" -> c, "start_ms" -> (s - t0) / 1e6,
            "latency_ms" -> (e - s) / 1e6, "status" -> status,
            "bytes" -> body.getBytes(UTF_8).length, "index_entries" -> entries,
            "body" -> body)
          if (traced)
            traces(k) = replay(spark, gw, snap, op, (e - s) / 1e6, shadowWal)
          k = next.getAndIncrement()
        }
      }, s"servebench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val stealAfter = cpuTimes()
    val gcMs = gcMillis() - gcBefore
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val unionDepth = Seq("Customer", "Document").map(l =>
      unions(gw.currentStore.nodesFor(l))).sum + unions(gw.currentStore.edgesFor("PLACED"))
    gw.stop()

    write(dir.resolve("results.jsonl"), results.toSeq)
    if (traced) {
      write(dir.resolve("trace.jsonl"), traces.toSeq)
      write(dir.resolve("jobs.jsonl"), listener.get.drain())
    }

    // ---- independent answers: Spark SQL over the raw parquet tables
    Seq("customer", "orders", "lineitem").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))
    write(dir.resolve("oracle.jsonl"), ops.flatMap(op => op.oracle.map { sql =>
      val rows = spark.sql(sql).toJSON.collect().mkString("[", ",", "]")
      s"""{"i":${op.i},"rows":$rows}"""
    }))

    val steal = {
      val d = stealAfter.zip(stealBefore).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total > 0) 100.0 * d(7) / total else 0.0
    }
    val run = obj(
      "setup_s" -> setupS,
      "jvm_to_session_s" -> (sessionReady - startMs) / 1000.0,
      "wall_s" -> wallS, "gc_ms" -> gcMs, "heap_mb" -> heapMb,
      "steal_pct" -> steal, "union_depth" -> unionDepth)
    Files.writeString(dir.resolve("run.json"), run)
    spark.stop()
  }

  /** Build a store, start a gateway on a free port, deploy the routes
    * over HTTP and run the warm-up list (its first BM25 search builds
    * the Document.text postings, the write-time index of a real
    * deployment; on write_mix its first write seeds the id allocator).
    * Returns the gateway and its port.
    */
  def setUp(spark: SparkSession, data: String, dir: Path, bundle: String,
      warmOps: Vector[Op], clients: Int, logWal: Boolean): (Gateway, Int) = {
    val s = System.nanoTime()
    val store = TestGraph.build(spark, data)
    val built = System.nanoTime()
    val port = { val ss = new ServerSocket(0); try ss.getLocalPort finally ss.close() }
    val walRoot = if (logWal) Some(dir.resolve("wal").toString) else None
    val gw = new Gateway(store, port, maxResponseRows = MaxRows,
      workerThreads = math.max(4, clients), walRoot = walRoot, mcp = false)
    gw.start()
    val (st, body) = post(port, "/v1/deploy", bundle)
    require(st == 200, s"deploy failed: $st $body")
    val deployed = System.nanoTime()
    val warmMs = warmOps.map { op =>
      val w = System.nanoTime()
      val (code, out) = post(port, op.path, op.body)
      require(code == 200, s"warm-up ${op.tpl} failed: $code ${out.take(300)}")
      f"${op.tpl}=${(System.nanoTime() - w) / 1e6}%.0f"
    }
    val total = (System.nanoTime() - s) / 1e9
    System.err.println(f"[servebench] set-up: store ${(built - s) / 1e9}%.2fs, " +
      f"gateway+deploy ${(deployed - built) / 1e9}%.2fs, warm-up ms ${warmMs.mkString(" ")}, " +
      f"total $total%.2fs")
    (gw, port)
  }

  /** POST over loopback; a transport error comes back as status -1 so
    * the checker counts the operation as failed.
    */
  def post(port: Int, path: String, body: String): (Int, String) =
    try {
      val c = new URL(s"http://127.0.0.1:$port$path").openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(body.getBytes(UTF_8))
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      (code, if (in == null) "" else new String(in.readAllBytes(), UTF_8))
    } catch { case e: java.io.IOException => (-1, e.toString) }

  /** Outside-in replay of one operation through the layers' public
    * functions on `snap`, the store the live operation started from.
    */
  def replay(spark: SparkSession, gw: Gateway, snap: GraphStore, op: Op,
      clientMs: Double, shadowWal: Path): String = {
    val sc = spark.sparkContext
    def timed[T](span: String)(f: => T): (T, Double) = {
      sc.setLocalProperty(SpanProp, s"${op.i}:$span")
      val s = System.nanoTime()
      try { val r = f; (r, (System.nanoTime() - s) / 1e6) }
      finally sc.setLocalProperty(SpanProp, null)
    }
    val (req, decodeMs) = timed("decode")(Json.parseRequest(op.inline))
    val (res, buildMs) = timed("build")(
      new BatchExecutor(snap, req.parameters).execute(req.batch))
    var analysis, optimize, planning, planMs, execMs = 0.0
    var rows = 0L
    res.results.toSeq.sortBy(_._1).foreach { case (_, df) =>
      val lim = df.limit(MaxRows + 1)
      planMs += timed("plan") { lim.queryExecution.executedPlan; () }._2
      val phases = lim.queryExecution.tracker.phases
      def ph(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis += ph("analysis"); optimize += ph("optimization"); planning += ph("planning")
      val (collected, ms) = timed("exec")(lim.collect())
      execMs += ms
      rows += collected.length
    }
    var walMs, walBytes, handleMs = 0.0
    if (op.write) {
      val before = dirBytes(shadowWal)
      val ((), ms) = timed("wal")(
        GraphWal.logWrite(shadowWal.toString, req.batch, req.parameters, res.idSeed))
      walMs = ms
      walBytes = (dirBytes(shadowWal) - before).toDouble
      // the replayed write built artifacts for a store that never
      // publishes; drop them so the live gateway's cache is unchanged
      IndexCache.evictOthers(gw.currentStore.version)
    } else {
      handleMs = timed("handle")(gw.handle(op.inline))._2
    }
    obj("i" -> op.i, "cls" -> op.cls, "tpl" -> op.tpl, "client_ms" -> clientMs,
      "decode_ms" -> decodeMs, "build_ms" -> buildMs, "analysis_ms" -> analysis,
      "optimize_ms" -> optimize, "planning_ms" -> planning, "plan_ms" -> planMs,
      "exec_ms" -> execMs, "handle_ms" -> handleMs, "rows" -> rows,
      "wal_ms" -> walMs, "wal_bytes" -> walBytes)
  }

  /** Spark jobs, stages, task time and shuffle bytes per span. Events
    * arrive on the listener bus thread, after the job has run.
    */
  final class JobListener extends SparkListener {
    final class Job(val span: String, val submitMs: Long) {
      var firstLaunchMs = Long.MaxValue
      val stages = mutable.Set.empty[Int]
      var taskMs, shuffleBytes = 0L
      var ended = false
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .getOrElse("gateway")
      jobs.put(e.jobId, new Job(span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized { j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += e.stageId
          val m = e.taskMetrics
          if (m != null) {
            j.taskMs += m.executorRunTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.ended = true })

    /** Wait for every started job's end event, then render the jobs. */
    def drain(): Seq[String] = {
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.values.asScala.exists(!_.ended) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(200) // trailing task-end events of the last jobs
      jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) => j.synchronized {
        val wait = if (j.firstLaunchMs == Long.MaxValue) 0L
          else math.max(0L, j.firstLaunchMs - j.submitMs)
        obj("job" -> id, "span" -> j.span, "stages" -> j.stages.size,
          "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
          "sched_wait_ms" -> wait)
      } }
    }
  }

  private def unions(df: DataFrame): Int =
    df.queryExecution.logical.collect { case u: Union => u }.size

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal (jiffies); zeros where /proc is unavailable.
    */
  private def cpuTimes(): Seq[Long] =
    try {
      val l = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      l.trim.split("\\s+").drop(1).take(8).map(_.toLong).toSeq.padTo(8, 0L)
    } catch { case _: Exception => Seq.fill(8)(0L) }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.writeString(p, lines.map(_ + "\n").mkString)

  private def obj(fields: (String, Any)*): String = {
    val o: ObjectNode = mapper.createObjectNode()
    fields.foreach {
      case (k, v: Int) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Double) => o.put(k, v)
      case (k, v: String) => o.put(k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(o)
  }
}

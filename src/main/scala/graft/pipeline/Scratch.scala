package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reliable persistence for the per-round frames of ITERATIVE passes
  * (label propagation, star contraction, suffix refinement).
  *
  * Every such loop must truncate lineage each round — an untrimmed
  * plan doubles per round and the analysis cost alone becomes the
  * bottleneck (measured 60 s + driver OOM on the suffix pass at
  * sf0.1). The local default is eager `localCheckpoint`: fast, but
  * the blocks live on executors with lineage TRUNCATED, so losing one
  * executor mid-pass leaves every later round unrecoverable — no
  * lineage to recompute, no replica. On a real cluster set
  * `graft.scratch.dir`: frames of passes whose size estimate is at
  * least `graft.scratch.spillRowThreshold` rows (or whose caller
  * always spills) write to per-run parquet under that directory —
  * reliable storage that survives executor loss. Run directories are
  * deleted on `release()` unless `graft.scratch.keep=true`.
  */
private[graft] object Scratch {

  /** Cache-build ledger: one entry per plan-keyed cache MISS, naming
    * the cache and the query that paid the build (the thread's Spark
    * job description at build time). Per-query bench numbers are
    * order-dependent wherever a shared artifact family exists — the
    * FIRST query of a family pays the build inside its timed region
    * (e.g. q_doc_pack_sem +0.2 s for the k-means family in r16) — so
    * the bench drains this buffer into its artifact
    * (`cache_builds` in BENCH_SUMMARY.json) to keep those numbers
    * interpretable. Bounded: entries cap at 4096 (a ledger must never
    * become a leak in a long-lived server).
    */
  private val buildLedger =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  def noteBuild(cache: String): Unit = {
    val during = SparkSession.getActiveSession
      .flatMap(s => Option(
        s.sparkContext.getLocalProperty("spark.job.description")))
      .getOrElse("")
    if (buildLedger.size < 4096) buildLedger.add((cache, during))
    System.err.println(s"[cache-build] $cache during=" +
      (if (during.isEmpty) "(unlabeled)" else during))
  }

  /** Drain the ledger as a JSON array (the bench artifact shape). */
  def drainLedgerJson(): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val sb = new StringBuilder("[")
    var first = true
    var e = buildLedger.poll()
    while (e != null) {
      if (!first) sb.append(',')
      first = false
      sb.append(s"""{"cache":"${esc(e._1)}","during":"${esc(e._2)}"}""")
      e = buildLedger.poll()
    }
    sb.append(']').toString
  }

  /** Durable lineage-truncating materialization for TERMINAL frames —
    * results that must outlive any [[FrameStore]] (query results
    * returned to a caller, cached index artifacts, Repeat's
    * accumulated emit streams). Locally this is eager
    * `localCheckpoint` (fast, executor-resident). With a scratch dir
    * configured the frame is written ONCE as parquet under
    * `<dir>/stable/<session-uuid>/` and read back — reliable storage
    * that survives executor loss, the posture a 1000-executor cluster
    * needs for results it will consume minutes later.
    *
    * Parquet write/read beats `Dataset.checkpoint(eager = true)`
    * here on BOTH counts the latter was flagged for: checkpoint runs
    * the plan twice (the eager count job, then
    * ReliableRDDCheckpointData recomputing the unpersisted RDD for
    * the write — doubling every 5-depth Repeat segment), and its
    * files under the context checkpoint dir are never reclaimed
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
    * false). The session subdir is deleted by a JVM shutdown hook, so
    * a long-lived server reclaims stable frames when it exits;
    * operators can sweep `<dir>/stable` of dead sessions on a
    * schedule. The context checkpoint dir is left untouched — no
    * cross-SparkSession conflict over a context-global setting.
    */
  def stable(frame: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    spark.conf.getOption("graft.scratch.dir").filter(_.nonEmpty) match {
      case Some(d) =>
        val path = s"${stableSessionDir(spark, d)}/frame_${stableSeq.incrementAndGet()}"
        frame.write.mode("error").parquet(path)
        spark.read.parquet(path)
      case None => frame.localCheckpoint(true)
    }
  }

  private val stableSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val stableDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One stable-frame subdir per (JVM, base dir) — keyed by the base
    * so two SparkSessions with DIFFERENT `graft.scratch.dir` values
    * never cross-write (the conflict class the old context-global
    * checkpoint dir had) — created lazily and deleted on shutdown (by
    * then nothing consumes the frames anymore).
    */
  private def stableSessionDir(spark: SparkSession, base: String): String =
    stableDirs.computeIfAbsent(base.stripSuffix("/"), b => {
      val d = s"$b/stable/session-${java.util.UUID.randomUUID()}"
      val hconf = spark.sparkContext.hadoopConfiguration
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(hconf).delete(p, true)
        } catch { case _: Throwable => () }))
      d
    })

  final class FrameStore(spark: SparkSession,
      dirKeys: Seq[String] = Seq("graft.scratch.dir"),
      thresholdKeys: Seq[String] = Seq("graft.scratch.spillRowThreshold"),
      keepKeys: Seq[String] = Seq("graft.scratch.keep")) {
    private def confOpt(keys: Seq[String]): Option[String] =
      keys.iterator.map(spark.conf.getOption)
        .collectFirst { case Some(v) if v.nonEmpty => v }
    private val scratch = confOpt(dirKeys)
    private val keepScratch = confOpt(keepKeys).exists(_.toBoolean)
    val spillRowThreshold: Long =
      confOpt(thresholdKeys).map(_.toLong).getOrElse(10000000L)
    private val runDir = scratch.map(d =>
      s"${d.stripSuffix("/")}/run-${java.util.UUID.randomUUID()}")
    private val persisted = ArrayBuffer.empty[DataFrame]
    private var seq = 0

    /** Materialize `frame` with truncated lineage: scratch parquet
      * when a dir is configured and the caller marked it `spill`,
      * eager localCheckpoint otherwise. CONTRACT: the returned frame
      * is only valid until `release()` — derive and materialize the
      * pass's final result (e.g. a terminal localCheckpoint) first.
      */
    def keep(frame: DataFrame, spill: Boolean = true): DataFrame =
      runDir.filter(_ => spill) match {
        case Some(dir) =>
          seq += 1
          val path = s"$dir/frame_$seq"
          frame.write.mode("error").parquet(path)
          spark.read.parquet(path)
        case None =>
          val p = frame.localCheckpoint(true)
          persisted += p
          p
      }

    def release(): Unit = {
      persisted.foreach(_.unpersist(false))
      if (!keepScratch) runDir.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }
}

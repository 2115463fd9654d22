package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.ast.IndexSpec
import graft.model.GraphStore

/** Session-lived artifacts behind declared indexes (SURVEY §4.1: the
  * vector/text index DDL maps to batch index artifacts, not B-trees).
  *
  * One [[Entry]] per [[Key]]: store version, declared index and tenant
  * value. `GraphStore.version` is a UUID minted per data mutation, so a
  * post-mutation store can never be served another store's artifact;
  * the declared `IndexSpec` names node or edge, label, property and
  * tenant column, so a node and an edge label of one name, or an index
  * dropped and redeclared with another tenant column, never share one.
  *
  * Two lifecycle steps, shared by the writer and the read replicas:
  * [[advance]] carries a store's entries to its successor before the
  * successor publishes, and [[evictOthers]] releases every version
  * other than the live ones (the stores a write batch built in
  * between).
  */
object IndexCache {

  /** `tenant` is the tenant value of a tenant-partitioned vector
    * index's per-tenant models (IndexSpec tenant_property,
    * dsl.rs:2618-2658), so a tenant-filtered search serves from
    * centroids trained on that tenant's corpus only. A tenant-partitioned
    * text index keeps every tenant in one artifact (postings carry
    * `_tenant`, stats are per tenant) under `tenant = None`.
    */
  final case class Key(version: String, spec: IndexSpec.Artifact,
      tenant: Option[String] = None)

  /** A calibrated serving depth and the indexed row count it was
    * calibrated at: the baseline the append-drift gate compares against.
    */
  private final case class Depth(value: Int, rows: Long)

  /** One declared index's artifacts on one store version. Each field is
    * built at most once, under the entry's lock. The PQ codebooks and
    * the PQ-encoded corpus are separate fields: on an append the
    * codebooks stay valid (new rows encode against them) but the
    * encoding is stale.
    */
  private final class Entry {
    @volatile var text: Option[(DataFrame, DataFrame)] = None
    @volatile var ivf: Option[VectorOps.IvfModel] = None
    @volatile var rows: Option[Long] = None
    @volatile var pq: Option[VectorOps.PqModel] = None
    @volatile var pqEnc: Option[DataFrame] = None
    @volatile var nprobe: Option[Depth] = None
    @volatile var refine: Option[Depth] = None
    @volatile var released = false

    /** Unpersist the entry's frames. A build that lands after this call
      * sees `released` and releases again, so no block is orphaned.
      */
    def release(): Unit = {
      released = true
      text.foreach { case (p, s) => p.unpersist(false); s.unpersist(false) }
      pqEnc.foreach(_.unpersist(false))
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private def entry(k: Key): Entry = entries.computeIfAbsent(k, _ => new Entry)

  /** Appended-rows fraction past which a carried-forward calibration
    * re-validates: centroids carry across appends by design (IVF
    * serving discipline), but a corpus that grew >20% since the depth
    * was calibrated may have drifted past the carried centroids'
    * pruning power — the stale depth would silently under-recall. The
    * re-check is ONE calibration pass (exact knnJoin over calibN
    * queries — the same single pass that measures recall at every
    * candidate depth at once), amortized over >=20% corpus growth, and
    * it resets the baseline so steady-state serving pays only a cached
    * row-count read.
    */
  private[graft] val DriftRecheckFraction = 0.2

  /** Full posting builds, for tests asserting the incremental append
    * path was taken instead of a rebuild.
    */
  private[graft] val textBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The value `get` reads from `k`'s entry; when absent, `build` makes
    * it and `set` stores it, once, under the entry's lock.
    */
  private def memo[A](k: Key)(get: Entry => Option[A])(set: (Entry, A) => Unit)(
      build: => A): A = {
    val e = entry(k)
    get(e).getOrElse(e.synchronized {
      get(e).getOrElse {
        val a = build
        set(e, a)
        if (e.released) e.release()
        a
      }
    })
  }

  private def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** A recall-calibrated serving depth with the append-drift gate: a
    * depth carried forward across appends re-validates once the corpus
    * grew past [[DriftRecheckFraction]] since ITS calibration; within
    * the gate the cached depth serves as-is.
    */
  private def calibrated(k: Key, table: => DataFrame, what: String)(
      get: Entry => Option[Depth])(set: (Entry, Depth) => Unit)(calibrate: => Int): Int = {
    val e = entry(k)
    e.synchronized {
      lazy val cur = rowCount(k, table)
      get(e) match {
        case Some(d) if cur <= d.rows * (1 + DriftRecheckFraction) => d.value
        case prior =>
          if (prior.isEmpty) graft.pipeline.Scratch.noteBuild(what)
          val d = Depth(calibrate, cur)
          set(e, d)
          d.value
      }
    }
  }

  /** A deterministic calibration batch of `calibN` corpus rows
    * (hash-ordered pick — a uniform, reproducible sample).
    */
  private def calibSample(table: DataFrame, calibN: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    table.orderBy(xxhash64(col("_id")), col("_id")).limit(calibN)
  }

  /** The calibrated nprobe already computed for an artifact, if any —
    * test visibility for the per-tenant calibration contract.
    */
  private[graft] def calibratedNprobe(k: Key): Option[Int] =
    Option(entries.get(k)).flatMap(_.nprobe).map(_.value)

  /** Postings + corpus stats for a declared text index, cached
    * persisted. A declared tenant property makes the artifact
    * tenant-partitioned (postings carry `_tenant`; stats are per tenant).
    */
  def textIndex(k: Key, table: => DataFrame): (DataFrame, DataFrame) =
    memo(k)(_.text)((e, t) => e.text = Some(t)) {
      textBuilds.incrementAndGet()
      val (post, stats) = BM25.buildIndex(table, k.spec.property, k.spec.tenantProperty)
      val (p, s) = (persisted(post), persisted(stats))
      p.count(); s.count()
      (p, s)
    }

  /** IVF centroids for a declared vector index, trained on `table`. */
  def ivfModel(k: Key, nlist: Int, table: => DataFrame): VectorOps.IvfModel =
    memo(k)(_.ivf)((e, m) => e.ivf = Some(m))(
      VectorOps.trainIvf(table, k.spec.property, nlist))

  /** Recall-calibrated nprobe for a declared vector index: the smallest
    * probe count meeting `target` mean recall@10 on [[calibSample]].
    * See VectorOps.calibrateNprobe for cost. Recall@10 is the serving
    * quality bar; larger k only widens the probe set through the same
    * gate.
    */
  def nprobe(k: Key, model: VectorOps.IvfModel, table: => DataFrame,
      target: Double, calibN: Int): Int =
    calibrated(k, table, "nprobeCalibration")(_.nprobe)((e, d) => e.nprobe = Some(d)) {
      VectorOps.calibrateNprobe(table, k.spec.property, "_id", model, k = 10,
        targetRecall = target, calibQueries = calibSample(table, calibN))
    }

  /** PQ codebooks + persisted encoded corpus for a declared vector
    * index above the PQ serving threshold. The encoded frame is the
    * query-time stand-in for the ingest-written code column a 100 TB
    * deployment would store.
    */
  def pqArtifact(k: Key, m: Int, ks: Int,
      table: => DataFrame): (VectorOps.PqModel, DataFrame) = {
    val model = memo(k)(_.pq)((e, p) => e.pq = Some(p))(
      VectorOps.trainPq(table, k.spec.property, m, ks))
    val enc = memo(k)(_.pqEnc)((e, d) => e.pqEnc = Some(d)) {
      val d = persisted(VectorOps.encodePq(table, k.spec.property, model))
      d.count()
      d
    }
    (model, enc)
  }

  /** Recall-calibrated ADC candidate depth (refine) per PQ artifact —
    * the [[nprobe]] discipline applied to the second serving knob.
    */
  def pqRefine(k: Key, model: VectorOps.PqModel, encoded: DataFrame,
      table: => DataFrame, target: Double, calibN: Int): Int =
    calibrated(k, table, "pqRefineCalibration")(_.refine)((e, d) => e.refine = Some(d)) {
      VectorOps.calibrateRefine(table, encoded, k.spec.property, "_id", model, k = 10,
        targetRecall = target, calibQueries = calibSample(table, calibN))
    }

  /** Table row count — drives the brute-vs-IVF serving decision without
    * re-counting per query (on parquet sources a metadata-only job).
    */
  def rowCount(k: Key, table: => DataFrame): Long =
    memo(k)(_.rows)((e, n) => e.rows = Some(n))(table.count())

  /** Pre-populate from durable artifacts (IndexArtifacts.load). */
  def putText(k: Key, post: DataFrame, stats: DataFrame): Unit =
    entry(k).text = Some((persisted(post), persisted(stats)))
  def putIvf(k: Key, model: VectorOps.IvfModel): Unit = entry(k).ivf = Some(model)
  def putPq(k: Key, model: VectorOps.PqModel): Unit = entry(k).pq = Some(model)

  /** The label table a declared index summarises. */
  private def tableOf(store: GraphStore, spec: IndexSpec.Artifact): Option[DataFrame] =
    (if (spec.isEdges) store.edgeTables else store.nodeTables).get(spec.label)

  /** Carry the entries of store `prev` to its successor `next`. The
    * writer's commit and a replica's refresh both run it before `next`
    * publishes, so no reader can be on `next` yet.
    *  - An entry whose index is still declared and whose label table
    *    kept reference identity moves whole: the stores are
    *    copy-on-write, so its data is bit-identical.
    *  - With `appendOnly` (the caller knows every changed table only
    *    gained rows, as a replica's stream-only refresh does), an entry
    *    on a changed table keeps its IVF centroids, PQ codebooks and
    *    calibrated depths (new rows assign to the existing centroids and
    *    encode against the codebooks — the IVF serving discipline; the
    *    drift gate re-validates the depths) and merges its postings
    *    exactly ([[appendText]]). Its row count and PQ encoding re-derive
    *    on demand.
    *  - Every other entry of `prev` is released.
    */
  def advance(prev: GraphStore, next: GraphStore, appendOnly: Boolean): Unit =
    entries.forEach { (k, e) =>
      if (k.version == prev.version) {
        val to = k.copy(version = next.version)
        val declared = next.indexes.contains(k.spec)
        (tableOf(prev, k.spec), tableOf(next, k.spec)) match {
          case (Some(b), Some(a)) if declared && (a eq b) =>
            // keep-existing merge: if an equivalent entry is already
            // there, keep it and release the moving one
            if (to != k && entries.remove(k, e) && entries.putIfAbsent(to, e) != null)
              e.release()
          case (Some(b), Some(a)) if declared && appendOnly =>
            val n = new Entry
            n.text = e.text.flatMap(appendText(_, k.spec, b, a))
            n.ivf = e.ivf; n.pq = e.pq; n.nprobe = e.nprobe; n.refine = e.refine
            if (entries.putIfAbsent(to, n) != null) n.release()
            if (entries.remove(k, e)) e.release()
          case _ =>
            if (entries.remove(k, e)) e.release()
        }
      }
    }

  /** The postings of `prev` merged with those of the rows `next` adds:
    * the raw postings carry no idf — df/idf derive at query time — so
    * `old postings ∪ postings(delta)` IS the exact new artifact, and
    * corpus stats merge in closed form (N' = N + n_delta, avglen'
    * re-weighted; per tenant when the index is tenant-partitioned).
    * Cost is one pass over the DELTA plus a cached-artifact copy, not a
    * full-corpus re-tokenize. The merged frames materialize eagerly,
    * BEFORE the superseded artifact is unpersisted, so the copy reads
    * the warm cache.
    *
    * None — leaving the next query to cold-build against the true table
    * — when the APPEND-ONLY INVARIANT fails its gate: |prev| + |delta|
    * must equal |next| (a delete or re-keyed row disagrees). A same-`_id`
    * rewrite of the indexed text passes the count gate but violates the
    * documented append-only sink contract; set
    * `graft.index.verifyAppendContent=true` to also xor-hash
    * (`_id`, text, and the tenant column of a tenant-partitioned index)
    * on both sides — one shuffle-free scan of the
    * standing corpus per refresh, so it is opt-in rather than the
    * steady-state default.
    */
  private def appendText(old: (DataFrame, DataFrame), spec: IndexSpec.Artifact,
      prev: DataFrame, next: DataFrame): Option[(DataFrame, DataFrame)] = {
    import org.apache.spark.sql.functions._
    val (prop, tenantCol) = (spec.property, spec.tenantProperty)
    val delta = next.join(prev.select("_id"), Seq("_id"), "left_anti")
    if (prev.count() + delta.count() != next.count()) return None
    if (prev.sparkSession.conf.getOption("graft.index.verifyAppendContent")
        .exists(_.toBoolean)) {
      val hashed = Seq(col("_id"), col(prop)) ++ tenantCol.map(col)
      def sig(df: DataFrame): Long = df
        .select(xxhash64(hashed: _*).as("_h"))
        .agg(coalesce(expr("bit_xor(_h)"), lit(0L))).head().getLong(0)
      if ((sig(prev) ^ sig(delta)) != sig(next)) return None
    }
    val (dPost, dStats) = BM25.buildIndex(delta, prop, tenantCol)
    val post = persisted(old._1.unionByName(dPost))
    val stats = {
      val merged = tenantCol match {
        case None =>
          old._2.crossJoin(dStats.select(col("_n").as("_dn"),
            col("_avglen").as("_davg")))
            .select(lit(1).as("_one"), col("_n"), col("_avglen"),
              col("_dn"), col("_davg"))
        case Some(_) =>
          // per-tenant closed-form merge: tenants present on either
          // side only (full outer), absent side contributes 0
          old._2.select(col("_tenant"), col("_n"), col("_avglen"))
            .join(dStats.select(col("_tenant"), col("_n").as("_dn"),
              col("_avglen").as("_davg")), Seq("_tenant"), "full_outer")
      }
      val n = coalesce(col("_n"), lit(0L))
      val dn = coalesce(col("_dn"), lit(0L))
      val outCols = tenantCol.map(_ => col("_tenant")).toSeq ++ Seq(
        (n + dn).as("_n"),
        when(n + dn === 0, lit(0.0))
          .otherwise((n * coalesce(col("_avglen"), lit(0.0)) +
            dn * coalesce(col("_davg"), lit(0.0))) / (n + dn)).as("_avglen"))
      persisted(merged.select(outCols: _*))
    }
    post.count(); stats.count()
    Some((post, stats))
  }

  /** Release every entry built for a store version other than `current`
    * and `alsoLive` — the post-write lifecycle hook.
    */
  def evictOthers(current: String, alsoLive: Set[String] = Set.empty): Unit =
    entries.forEach { (k, e) =>
      if (k.version != current && !alsoLive.contains(k.version) && entries.remove(k, e))
        e.release()
    }

  /** Store versions that hold an entry (tests/diagnostics). */
  private[graft] def versions: Set[String] = entries.keySet.asScala.map(_.version).toSet

  /** Number of cached text postings plus IVF models (tests/diagnostics). */
  def size: Int = entries.values.asScala.iterator.map(e => e.text.size + e.ivf.size).sum
}

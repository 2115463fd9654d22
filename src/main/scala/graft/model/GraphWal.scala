package graft.model

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import graft.ast.{Batch, Json, PropertyValue}
import graft.exec.BatchExecutor

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Incremental write durability: an append-only segment log + manifest
  * next to the GraphPersistence snapshot, so write batches commit one
  * segment at a time instead of re-saving whole tables (the reference
  * cloud is object-storage-backed with ACID commits, README.md:221;
  * `x-helix-await-durable` acks a durable write, lib.rs:270-298).
  *
  * This is a LOGICAL log: each segment is one committed write batch
  * (wire-codec JSON + parameters), and recovery replays segments over
  * the snapshot through the same BatchExecutor that ran them live.
  * Replay is deterministic — id allocation seeds from the store's
  * durable high-water mark (graph_meta.json `idHighWater`, falling
  * back to max(_id)+1 for pre-mark stores; Compiler.idBase), and the
  * mark each replayed batch sees equals the mark the live batch saw —
  * so ids, properties, and declared indexes come back bit-identical
  * without ever writing a table delta. Logging a
  * batch is O(batch text); a physical delta log would pay a Spark
  * write job per commit.
  *
  * Layout under `root`:
  *   `snap-<k>/…`         immutable full snapshots (GraphPersistence
  *                        layout), one per checkpoint — versioned so a
  *                        checkpoint never overwrites parquet the live
  *                        store's plans are still reading;
  *   `wal/seg-<n>.json`   one write batch per file, append-only;
  *   `wal/MANIFEST.json`  `{"snapshot": "snap-<k>", "applied":
  *                        ["seg-1.json", …], "streams": [{"kind":
  *                        "nodes", "label": "Document", "path": …}]}` —
  *                        replaced atomically (tmp + ATOMIC_MOVE), so a
  *                        crash mid-commit leaves the previous manifest
  *                        and the half-written segment is simply ignored.
  *
  * `checkpoint` folds the log into the next snapshot and truncates the
  * manifest — the standard compaction step that bounds replay cost
  * (run it on a cadence; every segment since the last checkpoint
  * replays on recovery). It saves each label's merged frame, so it also
  * folds the write overlays (the driver-held rows written since the
  * base, GraphStore.publish) into the snapshot the next load reads as
  * its base: the checkpoint cadence bounds driver memory too.
  * Superseded snapshot dirs are left for an external GC once no live
  * reader references them (same discipline as any MVCC table format).
  *
  * Streaming ingest unification: a Structured Streaming file sink is
  * ALREADY durable (its `_spark_metadata` manifest gives exactly-once
  * committed files), so streamed rows are never re-logged as segments —
  * `attachStream` records the sink directory in the manifest and
  * `recover` overlays its committed rows onto the recovered store. The
  * overlay anti-joins on `_id` against the batch table, which makes it
  * IDEMPOTENT: a checkpoint that baked previously-streamed rows into a
  * snapshot cannot double-count them on the next recovery, and rows
  * written through both paths resolve to the batch copy. One durability
  * catalog, two write paths, each logged in the form that is O(1) for
  * it (batches as logical segments, streams as attached file sinks).
  */
object GraphWal {
  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  private def walDir(root: String): Path = Paths.get(root, "wal")
  private def manifestPath(root: String): Path = walDir(root).resolve("MANIFEST.json")

  /** An attached streaming file sink: `kind` is "nodes" or "edges". */
  final case class StreamAttachment(kind: String, label: String, path: String)

  private final case class Manifest(snapshot: Option[String],
      applied: Seq[String], streams: Seq[StreamAttachment],
      /** Monotonic count of write batches ever committed to this log —
        * unlike `applied.size` it survives checkpoint truncation, so it
        * serves as the replication position replicas ack and clients
        * pin for read-your-writes routing.
        */
      commitSeq: Long)

  private def readManifest(root: String): Manifest = {
    val p = manifestPath(root)
    if (!Files.exists(p)) Manifest(None, Nil, Nil, 0L)
    else {
      val tree = mapper.readTree(Files.readString(p))
      val snap = Option(tree.get("snapshot")).filterNot(_.isNull).map(_.asText)
      val applied = Option(tree.get("applied"))
        .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
      val streams = Option(tree.get("streams")).map(_.elements.asScala.map { s =>
        StreamAttachment(s.get("kind").asText, s.get("label").asText,
          s.get("path").asText)
      }.toSeq).getOrElse(Nil)
      val seq = Option(tree.get("commitSeq")).map(_.asLong)
        .getOrElse(applied.size.toLong) // pre-field manifests: best effort
      Manifest(snap, applied, streams, seq)
    }
  }

  private def writeManifest(root: String, m: Manifest): Unit = {
    val arr = F.arrayNode(); m.applied.foreach(arr.add)
    val obj = F.objectNode()
    m.snapshot.foreach(obj.put("snapshot", _))
    obj.put("commitSeq", m.commitSeq)
    obj.set[com.fasterxml.jackson.databind.JsonNode]("applied", arr)
    val sarr = F.arrayNode()
    m.streams.foreach { s =>
      val o = F.objectNode()
      o.put("kind", s.kind); o.put("label", s.label); o.put("path", s.path)
      sarr.add(o)
    }
    obj.set[com.fasterxml.jackson.databind.JsonNode]("streams", sarr)
    val tmp = walDir(root).resolve("MANIFEST.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(obj))
    try Files.move(tmp, manifestPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, manifestPath(root), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Durably commit one write batch: segment file first, then the
    * manifest flips atomically. Call under the caller's write lock
    * (the Gateway's), in commit order.
    */
  def logWrite(root: String, batch: Batch,
      params: Map[String, PropertyValue],
      /** First id-allocation seed the live batch used
        * (BatchExecutor.Result.idSeed): recorded so replay can force
        * it instead of re-deriving it from state the log cannot
        * reconstruct (max-scan fallbacks over streaming overlays).
        */
      idSeed: Option[Long] = None): Unit = synchronized {
    Files.createDirectories(walDir(root))
    val m = readManifest(root)
    // Name from the MONOTONIC commitSeq, not applied.size: the applied
    // list truncates at checkpoint, so size-derived names would reuse
    // seg-1 across checkpoint generations and a replica holding a
    // pre-checkpoint manifest could silently replay a post-checkpoint
    // batch against the old snapshot (ABA). With commitSeq names a
    // stale manifest's segment is simply GONE — the reader gets
    // NoSuchFileException and retries against the fresh manifest.
    val name = s"seg-${m.commitSeq + 1}.json"
    val seg = F.objectNode()
    idSeed.foreach(seg.put("idSeed", _))
    val pn = F.objectNode()
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      pn.set[com.fasterxml.jackson.databind.JsonNode](k, Json.writeValue(v))
    }
    seg.set[com.fasterxml.jackson.databind.JsonNode]("parameters", pn)
    seg.set[com.fasterxml.jackson.databind.JsonNode]("batch", Json.writeBatchObj(batch))
    Files.writeString(walDir(root).resolve(name), mapper.writeValueAsString(seg))
    writeManifest(root, m.copy(applied = m.applied :+ name,
      commitSeq = m.commitSeq + 1))
  }

  /** The log's current replication position: total write batches ever
    * committed (monotonic across checkpoints). One small-file read —
    * at scale, one object-store GET of the manifest.
    */
  def commitPosition(root: String): Long = readManifest(root).commitSeq

  /** Register a streaming file-sink directory as part of this store's
    * durable state (call before or after starting the stream; a missing
    * or still-empty directory overlays as zero rows). Idempotent per
    * (kind, label, path).
    */
  def attachStream(root: String, kind: String, label: String,
      path: String): Unit = synchronized {
    require(kind == "nodes" || kind == "edges", s"kind must be nodes|edges: $kind")
    Files.createDirectories(walDir(root))
    val m = readManifest(root)
    val att = StreamAttachment(kind, label, path)
    if (!m.streams.contains(att))
      writeManifest(root, m.copy(streams = m.streams :+ att))
  }

  /** Load the manifest's snapshot and replay every committed segment in
    * order. Returns the recovered store (ids/indexes identical to the
    * pre-crash live store).
    */
  def recover(spark: SparkSession, root: String): GraphStore =
    openReplica(spark, root).served

  /** A read replica's tracked view of one WAL: `base` is
    * snapshot + replayed segments — bit-identical to the writer's live
    * store at `position` (same BatchExecutor, same id seeding) —
    * and `served` adds the streaming-sink overlays on top. Replicas
    * replay against `base` so incremental catch-up stays on the exact
    * path the writer executed; the overlay re-derives lazily (it is
    * plan construction, not a job).
    */
  final case class ReplicaState(base: GraphStore, served: GraphStore,
      private[model] val snapshot: Option[String],
      private[model] val applied: Seq[String],
      private[model] val streams: Seq[StreamAttachment],
      private[model] val streamMarks: Seq[String],
      position: Long)

  /** Cheap progress mark for one attached sink (one LIST of one small
    * prefix at object-store scale). The manifest does NOT change when a
    * stream appends, so without this a stream-heavy / write-light
    * replica would serve a stale overlay forever: the overlay plan
    * captures the sink's file listing at construction time, and the
    * no-op fast path in [[advanceReplica]] would never rebuild it.
    *
    * The mark must be MONOTONIC under the sink's own housekeeping:
    * `_spark_metadata` batch ids only grow (every commit writes a new
    * `<id>[.compact]` entry), while the name-SET size does not —
    * expired-entry deletion (`fileSink.log.deletion`, on by default)
    * shrinks it, so a size-based digest could cycle back to a
    * previously-seen value and mask progress. The numeric max id is
    * the progress signal. Metadata-less layouts (hand-built dirs) fall
    * back to entry count + newest mtime — a one-level append updates
    * its parent entry's mtime, covering partitioned subdirs too.
    * Marks are read BEFORE overlay plans capture listings, so a commit
    * racing the refresh is at worst picked up next time.
    */
  private def streamMark(att: StreamAttachment): String = {
    val root = new java.io.File(att.path)
    if (!root.isDirectory) return "absent"
    val meta = new java.io.File(root, "_spark_metadata")
    if (meta.isDirectory) {
      val ids = Option(meta.list()).map(_.toSeq).getOrElse(Nil)
        .flatMap(n => n.stripSuffix(".compact").toLongOption)
      s"meta:${if (ids.isEmpty) -1L else ids.max}"
    } else {
      val entries = Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      val newest = if (entries.isEmpty) 0L else entries.map(_.lastModified).max
      s"dir:${entries.size}:$newest"
    }
  }

  private def replaySegment(root: String, store: GraphStore,
      name: String): GraphStore = {
    val tree = mapper.readTree(Files.readString(walDir(root).resolve(name)))
    val params = Option(tree.get("parameters")).map { pn =>
      pn.properties.asScala.map(e => e.getKey -> Json.readValue(e.getValue)).toMap
    }.getOrElse(Map.empty[String, PropertyValue])
    val batch = Json.readBatchObj(tree.get("batch"), write = true)
    val idSeed = Option(tree.get("idSeed")).filterNot(_.isNull).map(_.asLong)
    new BatchExecutor(store, params, forcedIdSeed = idSeed).execute(batch).store
  }

  /** Open a replica view at the log's current position (full load:
    * snapshot + every committed segment + stream overlays).
    *
    * A concurrent [[checkpoint]] deletes segment files AFTER flipping
    * the manifest, so a reader holding the pre-flip manifest can find
    * a listed segment gone — that is always a sign the manifest moved
    * on, never corruption, so the load retries against the fresh
    * manifest (bounded; more checkpoints than retries within one open
    * would take deliberate sabotage).
    */
  def openReplica(spark: SparkSession, root: String): ReplicaState = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return openReplicaOnce(spark, root)
      catch {
        case _: java.nio.file.NoSuchFileException if attempts < 5 => // re-read manifest
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def openReplicaOnce(spark: SparkSession, root: String): ReplicaState = {
    val m = readManifest(root)
    var store = GraphPersistence.load(spark,
      m.snapshot.map(s => s"$root/$s").getOrElse(root))
    m.applied.foreach(name => store = replaySegment(root, store, name))
    val marks = m.streams.map(streamMark)
    val served = m.streams.foldLeft(store)((s, att) => overlayStream(spark, s, att))
    ReplicaState(store, served, m.snapshot, m.applied, m.streams, marks, m.commitSeq)
  }

  /** Catch a replica up to the log's current position. Unchanged log →
    * returns `st` itself (reference-equal; the no-op fast path costs
    * one manifest read). New segments on the same snapshot replay
    * INCREMENTALLY over `st.base` — catch-up cost is proportional to
    * the writes since the last refresh, not the store size. A snapshot
    * flip (writer checkpointed) or a truncated/rewritten log falls
    * back to a full [[openReplica]].
    */
  def advanceReplica(spark: SparkSession, root: String,
      st: ReplicaState): ReplicaState = {
    val m = readManifest(root)
    // the no-op fast path also checks sink progress: streamed commits
    // never touch the manifest, so the marks are what keeps a
    // stream-heavy / write-light replica's overlay fresh
    lazy val marks = m.streams.map(streamMark)
    if (m.commitSeq == st.position && m.streams == st.streams &&
      marks == st.streamMarks) st
    else if (m.snapshot != st.snapshot ||
        m.applied.take(st.applied.size) != st.applied)
      openReplica(spark, root)
    else {
      try {
        val marksBefore = marks // force BEFORE overlay plans capture listings
        var store = st.base
        m.applied.drop(st.applied.size)
          .foreach(name => store = replaySegment(root, store, name))
        val served = m.streams.foldLeft(store)((s, att) => overlayStream(spark, s, att))
        ReplicaState(store, served, m.snapshot, m.applied, m.streams, marksBefore,
          m.commitSeq)
      } catch {
        // a checkpoint flipped the manifest and deleted a segment we
        // were about to replay — the fresh manifest has the folded
        // snapshot, so a full reopen converges
        case _: java.nio.file.NoSuchFileException => openReplica(spark, root)
      }
    }
  }

  /** Overlay one attached streaming sink onto the store. Reading the
    * sink dir with `spark.read.parquet` goes through the sink's
    * `_spark_metadata` manifest, so only COMMITTED files are seen —
    * half-written trigger output is invisible, matching the segment
    * log's crash semantics. `_bucket` is the sink's layout partition
    * column, not a property. The `_id` anti-join makes the overlay
    * idempotent (see class doc).
    */
  private def overlayStream(spark: SparkSession, store: GraphStore,
      att: StreamAttachment): GraphStore = {
    if (!new java.io.File(att.path).isDirectory) return store
    val streamed0 = spark.read.parquet(att.path)
    val streamed = if (streamed0.columns.contains("_bucket"))
      streamed0.drop("_bucket") else streamed0
    def merged(existing: Option[org.apache.spark.sql.DataFrame]) = existing match {
      case None => streamed
      case Some(base) =>
        base.unionByName(
          streamed.join(base.select("_id"), Seq("_id"), "left_anti"),
          allowMissingColumns = true)
    }
    // streamed rows carry ids minted OUTSIDE the engine's allocator, so
    // the durable allocation mark no longer bounds every _id — drop it
    // (the next write batch falls back to the max-scan seed once, then
    // re-stamps)
    val out = if (att.kind == "nodes")
      store.withNodes(att.label, merged(store.nodeTables.get(att.label)))
    else
      store.withEdges(att.label, merged(store.edgeTables.get(att.label)))
    out.clearIdHighWater
  }

  /** Fold the current state into the NEXT snapshot dir, then truncate
    * the log — the store may hold plans reading the previous snapshot's
    * parquet, so the save never targets a directory being read.
    */
  def checkpoint(store: GraphStore, root: String): Unit = synchronized {
    val m = readManifest(root)
    val next = m.snapshot match {
      case Some(s) if s.startsWith("snap-") =>
        s"snap-${s.stripPrefix("snap-").toInt + 1}"
      case _ => "snap-1"
    }
    GraphPersistence.save(store, s"$root/$next")
    Files.createDirectories(walDir(root))
    // stream attachments survive compaction: the sinks keep appending
    // after the fold, and the idempotent overlay absorbs any rows the
    // snapshot already contains
    // commitSeq carries across the fold: the position of a committed
    // write never changes, only where replicas read it from
    writeManifest(root, Manifest(Some(next), Nil, m.streams, m.commitSeq))
    m.applied.foreach(n => Files.deleteIfExists(walDir(root).resolve(n)))
  }
}

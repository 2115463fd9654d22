package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.ast.Json
import graft.model.{GraphStore, GraphWal}

import java.util.concurrent.atomic.AtomicInteger

/** Single-writer / many-readers serving topology over one WAL — the
  * reference cloud's deployment shape ("queries are routed to the
  * writer or the read replicas", README.md:221; the
  * `x-helix-require-writer` header, sdks/rust/src/lib.rs:270-298),
  * realized Spark-side:
  *
  *  - ONE writer [[Gateway]] owns the store lineage: every write batch
  *    commits to the GraphWal segment log before its store publishes.
  *  - N [[ReadReplica]]s serve reads from their own store view, caught
  *    up by tailing the SAME log (GraphWal.advanceReplica): catch-up
  *    replays only the segments committed since the replica's last
  *    refresh — cost proportional to write traffic, not store size.
  *  - Dispatch: write batches, stored write routes, and requests
  *    that require the writer go to the writer; everything else
  *    round-robins across replicas.
  *  - Serving: the Router keeps only dispatch. Every request takes the
  *    writer Gateway's one request path ([[Gateway.answer]]: resolve →
  *    dispatch → serve → sink) with this dispatch, buffered or NDJSON,
  *    so headers, errors and the warm gate behave as on a lone Gateway
  *    (failures count in `router_errors`).
  *
  * Consistency: a write ack carries `x-graft-wal-position` (the log's
  * monotonic commit position). A client that needs read-your-writes
  * sends it back as `x-graft-min-position`; the serving replica
  * refreshes past that position before answering. By default every
  * read refreshes to the log head first (read-committed; the no-change
  * fast path is one manifest read). `x-graft-stale: true` skips the
  * refresh entirely and serves the replica's current view — the
  * zero-coordination path for throughput-over-freshness readers.
  *
  * In this single-JVM build the replicas are in-process (local[32]
  * stands in for the cluster); across machines each replica is the
  * same object tailing the same manifest on shared storage — nothing
  * in the protocol assumes shared memory.
  *
  * Transport: the Gateway's ([[Http]]) — TCP_NODELAY on every accepted
  * socket, JSON responses through one writer.
  */
final class Router(spark: SparkSession, walRoot: String, port: Int = 6969,
    numReaders: Int = 2, maxResponseRows: Int = 10000,
    workerThreads: Int = 8,
    /** Optional shared API key (see Gateway.apiKey): enforced once at
      * this HTTP boundary for `/v1/query` and `/v1/deploy` — the
      * replicas are in-process, so the authenticated identity rides the
      * dispatch call itself (the in-process analogue of forwarding the
      * Authorization header). `/v1/cluster` and `/metrics` stay open
      * by default (health/observability) and are gated behind the same
      * key when `protectMetrics` is set (GRAFT_PROTECT_METRICS=true) —
      * they expose WAL position, route names, and cluster topology.
      */
    apiKey: Option[String] = sys.env.get("GRAFT_API_KEY").filter(_.nonEmpty),
    protectMetrics: Boolean =
      sys.env.get("GRAFT_PROTECT_METRICS").exists(_.toBoolean)) {
  require(numReaders >= 1, "a Router needs at least one read replica")

  val writer = new Gateway(GraphWal.recover(spark, walRoot),
    maxResponseRows = maxResponseRows, walRoot = Some(walRoot), mcp = false,
    apiKey = apiKey,
    // a writer-side write must not cold-start the readers: their store
    // versions — including a refresh's in-flight target version, whose
    // artifacts have migrated but whose store has not published yet —
    // stay live through artifact eviction (readers is still null while
    // the writer recovers — guard the early window)
    liveVersions = () => Option(readers).map(_.flatMap(_.liveVersions).toSet)
      .getOrElse(Set.empty))
  private val readers = Array.tabulate(numReaders)(
    i => new ReadReplica(spark, walRoot, maxResponseRows, i, apiKey))
  private val rr = new AtomicInteger(0)
  private val nErrors = new java.util.concurrent.atomic.AtomicLong
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Deploy to the writer AND every replica (all serve the route; the
    * writer's copy is the one requests resolve against, so it decides
    * the write/read dispatch bit).
    */
  def registerQuery(name: String, batch: graft.ast.Batch,
      params: Seq[(String, Json.PTy)] = Nil): Unit = {
    writer.registerQuery(name, batch, params)
    readers.foreach(_.gateway.registerQuery(name, batch, params))
  }

  def loadBundle(json: String): Int = {
    val n = writer.loadBundle(json)
    readers.foreach(_.gateway.loadBundle(json))
    n
  }

  def readerPositions: Seq[Long] = readers.map(_.position).toSeq

  private[graft] def readerVersions: Seq[String] =
    readers.map(_.gateway.currentStore.version).toSeq

  /** Serve one request in-process, buffered: the same path the HTTP
    * handler takes ([[Gateway.answer]] with this router's dispatch).
    * `sub` is the stored-route name ("" for the inline envelope); the
    * status rides in the reply, not as an in-band pseudo-header (a
    * replica-behind rejection and every failed request are 400), so any
    * transport that forwards `headers` verbatim stays clean.
    */
  def route(sub: String, body: String, hdr: String => Option[String]): Router.Routed =
    writer.answer(sub, body, hdr, dispatch, nErrors).get // buffered: always answered

  /** Dispatch: write batches, stored write routes and requests that
    * require the writer go to the writer, whose position is its commit
    * position after the serve; reads round-robin across replicas under
    * the freshness contract. Left = replica behind (its name, message).
    */
  private def dispatch(req: Gateway.Request, hdr: String => Option[String])
      : Either[(String, String), Gateway.Target] =
    if (req.steering.requireWriter || req.write)
      Right(Gateway.Target(writer, Some("writer"),
        () => Some(GraphWal.commitPosition(walRoot))))
    else {
      val r = readers(math.floorMod(rr.getAndIncrement(), readers.length))
      val minPos = hdr("x-graft-min-position").flatMap(_.trim.toLongOption).getOrElse(-1L)
      val stale = hdr("x-graft-stale").exists(_.trim.toLowerCase == "true")
      val pos = if (stale && r.position >= minPos) r.position else r.refresh()
      if (pos < minPos) Left((r.name, s"replica behind requested position: $pos < $minPos"))
      else Right(Gateway.Target(r.gateway, Some(r.name), () => Some(pos)))
    }

  /** Cluster status: writer commit position + each replica's ack. */
  def status: String = {
    val rs = readers.zipWithIndex
      .map { case (r, i) => s""""reader-$i":${r.position}""" }.mkString(",")
    s"""{"wal_position":${GraphWal.commitPosition(walRoot)},"readers":{$rs}}"""
  }

  /** Aggregated serving counters: the writer's plus each replica's
    * (Gateway.metricsJson per node, keyed by role).
    */
  def metricsJson: String = {
    val rs = readers.map(r => "\"" + r.name + "\":" + r.gateway.metricsJson)
      .mkString(",")
    s"""{"writer":${writer.metricsJson},$rs,""" +
      s""""router_errors":${nErrors.get()},""" +
      s""""wal_position":${GraphWal.commitPosition(walRoot)}}"""
  }

  private def requireAuth(ex: HttpExchange): Boolean = Http.authorize(ex, writer.authorized)

  def start(): Unit = {
    server = Http.server(port)
    server.createContext("/v1/query", writer.queryHandler(dispatch, nErrors))
    server.createContext("/v1/cluster", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (protectMetrics && !requireAuth(ex)) return
        Http.respond(ex, 200, status)
      }
    })
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (protectMetrics && !requireAuth(ex)) return
        Http.respond(ex, 200, metricsJson)
      }
    })
    // deploy reaches the writer AND every replica (Router.loadBundle);
    // sync reads the writer's authoritative set
    server.createContext("/v1/deploy", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        var st = 200
        val resp =
          try {
            if (ex.getRequestMethod == "GET") writer.renderBundle
            else s"""{"deployed":${loadBundle(Http.body(ex))}}"""
          } catch {
            case e: Exception => st = 400; Http.error(e.getMessage)
          }
        Http.respond(ex, st, resp)
      }
    })
    pool = java.util.concurrent.Executors.newFixedThreadPool(workerThreads)
    server.setExecutor(pool)
    server.start()
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdown()
  }
}

object Router {
  /** One routed response: HTTP status, body, response headers. The
    * status rides explicitly (not as an in-band header) so any
    * transport forwarding `headers` verbatim cannot leak an internal
    * marker or mis-handle a real header of the same name.
    */
  final case class Routed(status: Int, body: String,
      headers: Map[String, String])
}

/** One read replica: a read-only Gateway over a store view tailed from
  * the WAL. `refresh` is the only mutator and synchronizes with
  * itself; `position` reads are volatile (a concurrent refresh is
  * visible or not — either way a consistent (store, position) pair
  * serves the request).
  */
private[server] final class ReadReplica(spark: SparkSession, walRoot: String,
    maxResponseRows: Int, index: Int, apiKey: Option[String] = None) {
  @volatile private var st = GraphWal.openReplica(spark, walRoot)
  /** Version a refresh is migrating artifacts toward but has not
    * published yet — live for eviction purposes (a writer-side evict
    * racing the migrate window must spare it).
    */
  @volatile private var inFlight: Option[String] = None
  private[server] val gateway =
    new Gateway(st.served, maxResponseRows = maxResponseRows, mcp = false,
      apiKey = apiKey)
  private[server] val name = s"reader-$index"

  def position: Long = st.position

  private[server] def liveVersions: Seq[String] =
    gateway.currentStore.version +: inFlight.toSeq

  /** Catch up to the log head; no-op (one manifest read) when nothing
    * new committed. Returns the acked position.
    *
    * Artifact continuity is the writer's carry step
    * (IndexCache.advance): declared indexes on tables that kept
    * reference identity across the advance (incremental replay leaves
    * untouched labels `eq`) move to the new store version, and the
    * superseded version's remainder is released. An unchanged position
    * means no segment replayed, so only the stream overlays moved, and
    * those are APPEND-ONLY: postings on the changed tables then merge
    * with the appended rows' postings and IVF centroids carry forward
    * instead of cold-starting.
    */
  def refresh(): Long = synchronized {
    val prev = st.served
    val next = GraphWal.advanceReplica(spark, walRoot, st)
    if (next ne st) {
      inFlight = Some(next.served.version)
      graft.search.IndexCache.advance(prev, next.served,
        appendOnly = next.position == st.position)
      // store BEFORE position: a concurrent stale read that observes the
      // new position must find the new store behind it (the store may
      // lead the advertised position, never lag it — publishing st
      // first would let a min-position check pass against the old view)
      gateway.replaceStore(next.served)
      st = next
      inFlight = None
    }
    next.position
  }
}

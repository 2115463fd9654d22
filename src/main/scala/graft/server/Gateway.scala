package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan,
  Offset, Project, Sort, SubqueryAlias, Tail}
import org.apache.spark.sql.execution.SQLExecution

import graft.ast.{Batch, Json, PropertyValue}
import graft.exec.BatchExecutor
import graft.model.GraphStore
import graft.server.Gateway._
import graft.server.Http.quote

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

/** Minimal HTTP façade mirroring the reference gateway surface:
  * `POST /v1/query` accepts the DynamicQueryRequest envelope and
  * returns JSON keyed by the batch's returned variable names
  * (sdks/rust/src/lib.rs:244-247; default local port 6969,
  * helix-cli/src/config.rs:7). Built on the JDK's HttpServer —
  * no extra dependencies.
  *
  * One request path ([[answer]]): every `/v1/query` request, buffered
  * or NDJSON, here or through a [[Router]], goes resolve → dispatch →
  * serve → sink. It resolves once (the inline envelope parsed, or a
  * stored route with its coerced params), dispatches to the gateway
  * that serves it, and [[serve]] renders its results into one of two
  * sinks: the capped buffered body (one collect per returned result)
  * or the NDJSON stream.
  *
  * Concurrency model (the reference gateway is a multi-client HTTP
  * service, lib.rs:244-338): requests are served by a fixed thread
  * pool. READS run concurrently against an immutable store snapshot
  * (GraphStore is copy-on-write — a volatile read pins the version
  * for the whole request). WRITES serialize on a single lock, and the
  * new store publishes via the volatile field, so every read sees
  * either the pre- or post-write store, never a torn one.
  *
  * Single-live-store assumption: after a write, IndexCache.advance
  * carries the artifacts of indexes on untouched tables to the new
  * store version, and IndexCache.evictOthers releases every version
  * but the new one and the read replicas' (`liveVersions`). That
  * assumes no other Gateway lineage shares the JVM: a second Gateway
  * in the process would have its cached artifacts released (forced
  * rebuild on next query; a perf hazard, not a correctness one).
  *
  * Transport: every accepted socket sets TCP_NODELAY, so a response
  * leaves as soon as it is written instead of waiting out the client's
  * delayed ACK of its headers (about 40 ms a request; see [[Http]]).
  * The JDK reads `sun.net.httpserver.nodelay` once per JVM, when its
  * first HttpServer starts, and `start()` sets it if unset. An
  * application that embeds graft and creates its own HttpServer before
  * this one must pass `-Dsun.net.httpserver.nodelay=true` itself.
  */
class Gateway(@volatile private var store: GraphStore, port: Int = 6969,
    maxResponseRows: Int = 10000, workerThreads: Int = 8,
    /** When set, every write batch commits to the GraphWal segment log
      * under this root BEFORE the new store publishes — an unplanned
      * exit loses nothing past the last acked write
      * (GraphWal.recover replays the log over the snapshot).
      */
    walRoot: Option[String] = None,
    /** Serve the MCP tool surface at `/mcp` — default on, mirroring the
      * reference's `DbConfig.mcp: bool = true` instance toggle
      * (helix-cli/src/config.rs:173,243).
      */
    mcp: Boolean = true,
    /** Store versions that must survive post-write artifact eviction in
      * addition to this gateway's own — a Router passes its read
      * replicas' current versions so a write doesn't cold-start every
      * reader's BM25/IVF artifacts (the single-live-store assumption
      * relaxed to known-live-stores).
      */
    liveVersions: () => Set[String] = () => Set.empty,
    /** Optional shared API key, mirroring the reference's cloud path
      * (`Authorization: Bearer <key>`, sdks/rust/src/lib.rs:226-238;
      * the CLI reads HELIX_API_KEY, helix-cli/src/commands/query.rs:
      * 49-66). When set, the `/v1/...` endpoints and `/mcp` reject a
      * missing or wrong bearer token with 401; `/metrics` stays open
      * by default (local observability / health) but is gated behind
      * the same key when `protectMetrics` is set — non-local
      * deployments that consider WAL position / route names sensitive
      * opt in via GRAFT_PROTECT_METRICS=true. Defaults to
      * GRAFT_API_KEY from the environment (set-but-EMPTY is treated
      * as unset — a lockout no token could ever satisfy); None (the
      * local-container default) serves keyless.
      */
    apiKey: Option[String] = sys.env.get("GRAFT_API_KEY").filter(_.nonEmpty),
    protectMetrics: Boolean =
      sys.env.get("GRAFT_PROTECT_METRICS").exists(_.toBoolean)) {

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  /** Writes serialize here; reads never take it. */
  private val writeLock = new Object

  // ---- serving counters (GET /metrics). The reference ships a
  // metrics member that batches telemetry to its cloud
  // (metrics/src/lib.rs:50 METRICS_URL); the engine-side counterpart
  // here is LOCAL observability only — counters over this instance's
  // serving, nothing leaves the process.
  private val nReads = new AtomicLong
  private val nWrites = new AtomicLong
  private val nErrors = new AtomicLong
  private val nTruncated = new AtomicLong
  private val routeHits = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /** Serving counters as one JSON object (stored-route hit counts
    * sorted by name; `wal_position` present when this gateway logs to
    * a WAL; `caches`: hit/miss/evict counters of the process's
    * plan-keyed artifact caches, prepared stored routes among them;
    * `prepared_fallbacks`: stored-route requests the full build served,
    * by reason ([[PreparedRoutes]]); `codegen`: the classes Spark has
    * compiled in this process and their compile time in ms, estimated
    * as the count times the mean of Spark's compile-time histogram).
    */
  def metricsJson: String = {
    import scala.jdk.CollectionConverters._
    // first: it creates the prepared-plan cache, so `caches` lists it
    val prepared = PreparedRoutes.fallbacksJson
    val routes = routeHits.asScala.toSeq.sortBy(_._1)
      .map { case (n, c) => quote(n) + ":" + c.get() }.mkString("{", ",", "}")
    val wal = walRoot.map(r =>
      s""","wal_position":${graft.model.GraphWal.commitPosition(r)}""").getOrElse("")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val compileMs = math.round(compiles.getSnapshot.getMean * compiles.getCount)
    s"""{"reads":${nReads.get()},"writes":${nWrites.get()},""" +
      s""""errors":${nErrors.get()},"truncated":${nTruncated.get()},""" +
      s""""routes":$routes$wal,""" +
      s""""caches":${graft.pipeline.ArtifactCache.countersJson},""" +
      s""""prepared_fallbacks":$prepared,""" +
      s""""codegen":{"compiles":${compiles.getCount},"compile_ms":$compileMs}}"""
  }
  private val stored =
    new java.util.concurrent.ConcurrentHashMap[String, QueryBundle.StoredRoute]()
  /** Stored routes that have executed at least once — the
    * `x-helix-warm` serving gate (sdks/rust/src/lib.rs:279-287).
    */
  private val warm = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def currentStore: GraphStore = store

  /** Replication hook: swap in a newer store version (Router's read
    * replicas refresh through this). Only for gateways that never take
    * local writes — a swap racing a local write batch would silently
    * drop whichever published first.
    */
  private[server] def replaceStore(s: GraphStore): Unit = {
    val prev = store
    store = s
    PreparedRoutes.dropStore(prev)
  }

  /** Deploy a stored query (the reference's registered-query surface:
    * `#[register]` fn -> queries.json bundle -> POST /v1/query/<name>
    * with a JSON params body, SURVEY §3.3).
    */
  def registerQuery(name: String, batch: graft.ast.Batch,
      params: Seq[(String, Json.PTy)] = Nil): Unit = {
    stored.put(name, QueryBundle.StoredRoute(batch, params, batch.write))
    warm.remove(name) // a replaced route is a new, cold query
  }

  /** Deploy a `queries.json` bundle (v4/v5) with WHOLE-BUNDLE
    * replacement semantics (the reference redeploy swaps the deployed
    * query set): routes absent from the new bundle stop serving.
    * Returns the number of routes loaded. Mirrors
    * read_query_bundle_from_path + route registration
    * (query_generator.rs:150-236).
    */
  def loadBundle(json: String): Int = {
    val routes = QueryBundle.parse(json)
    val names = routes.map(_._1).toSet
    stored.keySet.removeIf(k => !names.contains(k))
    warm.removeIf(k => !names.contains(k))
    routes.foreach { case (n, r) => stored.put(n, r); warm.remove(n) }
    routes.size
  }

  /** The currently-deployed routes as a v5 bundle document. */
  def renderBundle: String = {
    import scala.jdk.CollectionConverters._
    QueryBundle.render(stored.asScala.toMap)
  }

  def isWarm(name: String): Boolean = warm.contains(name)

  /** Deployed routes, sorted by name — the MCP tool inventory. */
  private[server] def storedSnapshot: Seq[(String, QueryBundle.StoredRoute)] = {
    import scala.jdk.CollectionConverters._
    stored.asScala.toSeq.sortBy(_._1)
  }

  /** Execute a stored query with a plain JSON parameters object;
    * declared parameter shapes coerce (RFC3339 DateTime, F32 narrowing,
    * element-wise arrays; Bytes rejects).
    */
  def handleStored(name: String, paramsJson: String): String =
    serveCounted(resolve(name, paramsJson, Steering.Plain))

  def handle(body: String): String = serveCounted(resolve("", body, Steering.Plain))

  /** The buffered body of a request that comes in without HTTP (MCP
    * tool calls, in-process callers); a failure counts in `errors` as
    * it does on the `/v1/query` path, and propagates.
    */
  private def serveCounted(req: => Request): String =
    try serveBuffered(req).body
    catch { case e: Exception => nErrors.incrementAndGet(); throw e }

  /** Record a stored route as served: warms it and bumps its hit counter. */
  private def markServed(name: String): Unit = {
    warm.add(name)
    routeHits.computeIfAbsent(name, _ => new AtomicLong).incrementAndGet()
  }

  /** Resolve one request against this gateway's deployed routes, parsing
    * its body once: `sub` names a stored route, whose plain JSON params
    * coerce to the declared shapes; "" takes the inline envelope.
    */
  private[server] def resolve(sub: String, body: String, steering: Steering): Request =
    if (sub.isEmpty) {
      val req = Json.parseRequest(body)
      Request(req.batch, req.parameters, None, steering)
    } else {
      val route = Option(stored.get(sub))
        .getOrElse(throw new IllegalArgumentException(s"unknown stored query: $sub"))
      val tree = if (body.trim.isEmpty) QueryBundle.mapper.createObjectNode()
        else QueryBundle.mapper.readTree(body)
      val types = route.params.toMap
      val params = tree.properties().iterator()
      val pmap = Map.newBuilder[String, PropertyValue]
      while (params.hasNext) {
        val e = params.next()
        val raw = Json.readParamValue(e.getValue)
        pmap += e.getKey -> types.get(e.getKey).map(Json.coerceParam(raw, _)).getOrElse(raw)
      }
      Request(route.batch, pmap.result(), Some(sub), steering)
    }

  /** Execute a resolved request on this gateway and render its results
    * into `sink` — the serving step of every request path. A stored
    * route asked for warm-only runs only if it has already run here.
    */
  private[server] def serve(req: Request, sink: Sink): Unit = {
    for (name <- req.route if req.steering.warmOnly && !isWarm(name))
      throw new IllegalArgumentException(s"query not warm: $name")
    executeBatch(req, sink)
    req.route.foreach(markServed)
  }

  private[server] def serveBuffered(req: Request): Buffered = {
    val sink = new Buffered(maxResponseRows)
    serve(req, sink)
    sink
  }

  /** Run one batch: reads on the current snapshot (concurrent), writes
    * under the write lock (serialized; the updated store publishes
    * before the lock drops). A write's result, the mutation summary,
    * renders before the batch commits ([[answer]] sends writes to the
    * buffered body only). A stored read binds its values into the
    * route's prepared plan on this snapshot when there is one, and
    * otherwise builds in full and keeps the plan for the next request
    * ([[PreparedRoutes]]).
    */
  private def executeBatch(req: Request, sink: Sink): Unit = {
    val (batch, params) = (req.batch, req.params)
    if (batch.write) writeLock.synchronized {
      req.route.foreach(_ => PreparedRoutes.fallback("shape"))
      val prev = store
      val out = new BatchExecutor(store, params).execute(batch)
      // commit order: render, then segment, then publish. The render is
      // the one action on every returned result, so a write whose
      // result fails to execute is rejected before anything commits;
      // the segment is durable before the store publishes, so a crash
      // between the two replays the batch on recovery (same
      // deterministic result) and never loses an acked write
      sink.render(out.results)
      walRoot.foreach(graft.model.GraphWal.logWrite(_, batch, params, out.idSeed))
      // copy-on-write: indexes on untouched tables keep their artifacts,
      // carried to the new version (only touched ones are released).
      // Carry BEFORE the new store publishes: no reader can be on the
      // new version yet, so the carry can never clobber (and orphan) an
      // artifact a concurrent reader just built for it.
      graft.search.IndexCache.advance(prev, out.store, appendOnly = false)
      store = out.store
      PreparedRoutes.dropStore(prev)
      graft.search.IndexCache.evictOthers(store.version, liveVersions())
    } else {
      val snap = store
      req.route.flatMap(_ => PreparedRoutes.results(batch, snap, params)) match {
        case Some(results) => sink.render(results)
        case None =>
          val out = new BatchExecutor(snap, params).execute(batch)
          sink.render(out.results)
          req.route.foreach { _ =>
            PreparedRoutes.keep(batch, snap, out)
            // a store published since this read began may have dropped
            // snap's plans before this one landed
            if (store ne snap) PreparedRoutes.dropStore(snap)
          }
      }
    }
    (if (batch.write) nWrites else nReads).incrementAndGet()
    if (sink.truncated) nTruncated.incrementAndGet()
  }

  /** The `/v1/query` request path of this gateway and of a Router over
    * it: resolve → dispatch → serve → sink.
    *  - The request resolves once, on this gateway's deployed routes.
    *  - `dispatch` picks the gateway that serves it: this one, or a
    *    Router's writer or read replica. A Left (served-by, message)
    *    rejects it.
    *  - That gateway serves it into the capped buffered body, or, when
    *    `stream` is given and the request is an NDJSON read, straight
    *    to that exchange under a per-request cancellable Spark job
    *    group: when the client dies mid-stream the group is cancelled,
    *    so no stage keeps running for a reader that is gone.
    *
    * Response headers are set and failures counted here and nowhere
    * else. Every failure counts once in `errors` and answers 400 with
    * an `{"error":…}` body (the reference SDK treats any non-200 as
    * RemoteError{body}, sdks/rust/src/lib.rs:406); a fault after the
    * NDJSON headers went out can only end the stream with an error
    * line. Returns the buffered reply, or None once a read streamed.
    */
  private[server] def answer(sub: String, body: String, hdr: String => Option[String],
      dispatch: Dispatch, errors: AtomicLong,
      stream: Option[HttpExchange] = None): Option[Router.Routed] = {
    val steering = Steering.from(hdr)
    def headers(servedBy: Option[String], position: Option[Long], truncated: Boolean) =
      servedBy.map("x-helix-served-by" -> _).toMap ++
        steering.awaitDurable.map("x-helix-durable" -> _) ++
        position.map("x-graft-wal-position" -> _.toString) ++
        (if (truncated) Map("x-graft-truncated" -> "true") else Map.empty)
    val sc = store.spark.sparkContext
    lazy val jobGroup = s"graft-ndjson-${java.util.UUID.randomUUID()}"
    // the writer serves every require-writer request, and says so even
    // when the request fails before dispatch
    var servedBy = Option.when(steering.requireWriter)("writer")
    var streaming: Option[HttpExchange] = None // set once the NDJSON headers are out
    try {
      val req = resolve(sub, body, steering)
      val target = dispatch(req, hdr) match {
        case Right(t) => t
        case Left((by, msg)) => servedBy = Some(by); throw new IllegalStateException(msg)
      }
      servedBy = target.servedBy.orElse(servedBy)
      stream.filter(_ => steering.stream && !req.write) match {
        case Some(ex) =>
          sc.setJobGroup(jobGroup, "NDJSON stream", interruptOnCancel = true)
          try target.gw.serve(req, new Ndjson(() => {
            headers(servedBy, target.position(), truncated = false)
              .foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
            ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
            ex.sendResponseHeaders(200, 0) // chunked
            streaming = Some(ex)
            ex.getResponseBody
          }))
          finally sc.clearJobGroup()
          None
        case None =>
          val out = target.gw.serveBuffered(req)
          // the position reads after the serve: a write acks its commit
          Some(Router.Routed(200, out.body,
            headers(servedBy, target.position(), out.truncated)))
      }
    } catch {
      case e: Exception =>
        errors.incrementAndGet()
        streaming match {
          case Some(ex) =>
            sc.cancelJobGroup(jobGroup)
            try ex.getResponseBody.write(
              (Http.error(e.getMessage) + "\n").getBytes(StandardCharsets.UTF_8))
            catch { case _: Exception => () } // the client is gone
            None
          case None =>
            Some(Router.Routed(400, Http.error(e.getMessage), headers(servedBy, None, false)))
        }
    } finally streaming.foreach(_.close())
  }

  /** A lone gateway serves every request itself. */
  private val serveHere: Dispatch = (_, _) => Right(Target(this, None, () => None))

  /** Bearer-token check for protected endpoints; constant-time compare
    * so the key is not probeable byte by byte.
    */
  private[server] def authorized(header: Option[String]): Boolean =
    apiKey.forall { k =>
      header.map(_.trim).exists { h =>
        h.startsWith("Bearer ") && java.security.MessageDigest.isEqual(
          h.stripPrefix("Bearer ").getBytes(StandardCharsets.UTF_8),
          k.getBytes(StandardCharsets.UTF_8))
      }
    }

  private def requireAuth(ex: HttpExchange): Boolean = Http.authorize(ex, authorized)

  /** `/v1/query` over HTTP, answered by [[answer]] with `dispatch`:
    * POST /v1/query/<name> runs a deployed stored query, bare /v1/query
    * the inline envelope (sdks/rust/src/lib.rs:244-247). A Router mounts
    * its writer's handler with its own dispatch.
    */
  private[server] def queryHandler(dispatch: Dispatch, errors: AtomicLong): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        val sub = ex.getRequestURI.getPath.stripPrefix("/v1/query").stripPrefix("/")
        answer(sub, Http.body(ex), n => Option(ex.getRequestHeaders.getFirst(n)),
          dispatch, errors, Some(ex)).foreach { r =>
          r.headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
          Http.respond(ex, r.status, r.body)
        }
      }
    }

  def start(): Unit = {
    server = Http.server(port)
    server.createContext("/v1/query", queryHandler(serveHere, nErrors))
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (protectMetrics && !requireAuth(ex)) return
        Http.respond(ex, 200, metricsJson)
      }
    })
    // bundle deploy/sync over the wire — the `helix push` / `helix
    // sync` workflow (queries.json to the instance and back,
    // commands/push.rs:1-50, query_generator.rs:150-236): POST a v4/v5
    // bundle to (re)deploy the whole route set, GET the currently
    // deployed set as a v5 document
    server.createContext("/v1/deploy", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        var status = 200
        val resp =
          try {
            if (ex.getRequestMethod == "GET") renderBundle
            else s"""{"deployed":${loadBundle(Http.body(ex))}}"""
          } catch {
            case e: Exception => status = 400; Http.error(e.getMessage)
          }
        Http.respond(ex, status, resp)
      }
    })
    if (mcp) server.createContext("/mcp", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        // the streamable transport's GET opens a server event stream,
        // which this gateway doesn't offer — 405 per spec
        if (ex.getRequestMethod != "POST") Http.respond(ex, 405, "")
        else Mcp.handle(Gateway.this, Http.body(ex)) match {
          case Some(resp) => Http.respond(ex, 200, resp)
          case None => Http.respond(ex, 202, "") // notification: accepted, no body
        }
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

object Gateway {
  /** The request headers that steer a `/v1/query` request
    * (sdks/rust/src/lib.rs:270-298, plus graft's NDJSON opt-in), read in
    * `from` and nowhere else:
    *  - `warmOnly`: serve a stored route only if it has already run;
    *  - `requireWriter`: the writer serves it and says so in
    *    `x-helix-served-by`;
    *  - `awaitDurable`: echoed as `x-helix-durable` — writes are
    *    durable before their ack here, so the ack is truthful either way;
    *  - `stream`: render a read as NDJSON, without the row cap.
    */
  private[server] final case class Steering(warmOnly: Boolean, requireWriter: Boolean,
      awaitDurable: Option[String], stream: Boolean)

  private[server] object Steering {
    val Plain: Steering = Steering(false, false, None, false)

    def from(hdr: String => Option[String]): Steering = {
      def h(n: String) = hdr(n).map(_.trim.toLowerCase)
      Steering(
        warmOnly = h("x-helix-warm").contains("true"),
        requireWriter = h("x-helix-require-writer").contains("true"),
        awaitDurable = h("x-helix-await-durable"),
        stream = h("x-graft-stream").contains("ndjson") ||
          h("accept").exists(_.contains("application/x-ndjson")))
    }
  }

  /** One resolved request: the batch with its parameters (the inline
    * envelope, or the stored route named by `route` with its coerced
    * params) and the headers that steer it.
    */
  private[server] final case class Request(batch: Batch, params: Map[String, PropertyValue],
      route: Option[String], steering: Steering) {
    def write: Boolean = batch.write
  }

  /** Where dispatch sends a request: the gateway that serves it, its
    * `x-helix-served-by` name and its `x-graft-wal-position`, read after
    * the serve.
    */
  private[server] final case class Target(gw: Gateway, servedBy: Option[String],
      position: () => Option[Long])

  /** Picks the [[Target]] of a resolved request, given its request
    * headers; a Left (served-by name, message) rejects it.
    */
  private[server] type Dispatch =
    (Request, String => Option[String]) => Either[(String, String), Target]

  /** Where [[Gateway.serve]] renders a batch's returned results. */
  private[server] sealed trait Sink {
    /** Renders the results in name order. */
    def render(results: Map[String, DataFrame]): Unit
    /** Whether a row cap cut a rendered result. */
    def truncated: Boolean = false
  }

  /** The buffered JSON body, keyed by returned name. A result renders
    * as a scalar when it is one row of one column, otherwise as an array
    * of row objects (the CLI prints raw JSON, commands/query.rs:93-101).
    * Each result fetches its first maxRows + 1 rows ([[firstRows]]); past
    * `maxRows` rows it is cut and `truncated` is set, so one unbounded
    * query cannot buffer a whole table into a driver string. The scalar
    * unwrap keys off the count before the cut: a capped multi-row
    * single-column result stays an array even at maxRows = 1.
    *
    * The cap stays out of the plan. A served plan's shape is fixed by
    * its route and its values arrive as references
    * ([[graft.functions.ParamLiteral]], `InSet`), so the Java Spark
    * generates for it is the same on every request and compiles once.
    * A `limit` on top would break that: Spark pushes a local limit into
    * each branch of a written label's base ∪ overlay union, and names
    * that limit's counter afresh for every plan.
    */
  private[server] final class Buffered(maxRows: Int) extends Sink {
    private val sb = new StringBuilder
    private var cut = false
    def body: String = sb.toString
    override def truncated: Boolean = cut

    def render(results: Map[String, DataFrame]): Unit = {
      sb.append('{')
      results.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((name, df), i) =>
        if (i > 0) sb.append(',')
        sb.append(quote(name)).append(':')
        val rows = firstRows(df, maxRows + 1)
        val names = df.columns
        if (rows.length == 1 && names.length == 1) writeJsonVal(sb, rows(0).get(0))
        else {
          cut ||= rows.length > maxRows
          sb.append('[')
          var r = 0
          while (r < math.min(rows.length, maxRows)) {
            if (r > 0) sb.append(',')
            writeRow(sb, names, rows(r))
            r += 1
          }
          sb.append(']')
        }
      }
      sb.append('}')
    }
  }

  /** The first `n` rows of `df`, taken from its own plan by Spark's
    * incremental take (`executeTake`: a first round of partitions, then
    * more until `n` rows arrive, the rounds a root `limit` collects in). A
    * result that already orders or limits its rows at the root keeps
    * `limit`, so a capped sort plans as one TakeOrderedAndProject, not a
    * full sort.
    */
  private def firstRows(df: DataFrame, n: Int): Array[Row] = {
    val qe = df.queryExecution
    if (ordersOrLimits(qe.analyzed)) df.limit(n).collect()
    else {
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeTake(n))
        .map(toRow)
    }
  }

  /** Whether a plan orders or limits its rows at the root. */
  private[server] def ordersOrLimits(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => ordersOrLimits(c)
    case Filter(_, c) => ordersOrLimits(c)
    case SubqueryAlias(_, c) => ordersOrLimits(c)
    case _: Sort | _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail => true
    case _ => false
  }

  /** The NDJSON stream: one `{"result":<name>,"row":{...}}` line per
    * row, fetched with `toLocalIterator`, so one partition at a time
    * sits on the driver and a response needs no row cap. `open` sends
    * the response headers and returns the body; it runs once the batch
    * has built, so a request that fails to build still answers 400.
    */
  private[server] final class Ndjson(open: () => java.io.OutputStream) extends Sink {
    def render(results: Map[String, DataFrame]): Unit = {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(open(), StandardCharsets.UTF_8))
      results.toSeq.sortBy(_._1).foreach { case (name, df) =>
        val names = df.columns
        val prefix = "{\"result\":" + quote(name) + ",\"row\":"
        val it = df.toLocalIterator()
        while (it.hasNext) {
          val sb = new StringBuilder(prefix)
          writeRow(sb, names, it.next())
          w.write(sb.append("}\n").toString)
        }
        w.flush()
      }
    }
  }

  /** One row as a JSON object — the writer both sinks render rows
    * through, so a row prints byte-identically buffered or streamed.
    */
  private def writeRow(sb: StringBuilder, names: Array[String], r: Row): Unit = {
    sb.append('{')
    var j = 0
    while (j < names.length) {
      if (j > 0) sb.append(',')
      sb.append(quote(names(j))).append(':'); writeJsonVal(sb, r.get(j))
      j += 1
    }
    sb.append('}')
  }

  /** One JSON value. Hand-rolled instead of Dataset.toJSON, which
    * OMITS null-valued fields: the reference's JSON carries explicit
    * nulls. Floats print their own shortest form and LocalDateTime a
    * fixed second precision.
    */
  private def writeJsonVal(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => sb.append(quote(s))
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append(quote(d.toString)) else sb.append(d)
    case f: Float =>
      // Float's own shortest representation — widening to double
      // would print 0.1f as 0.10000000149011612
      if (f.isNaN || f.isInfinite) sb.append(quote(f.toString)) else sb.append(f.toString)
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    case t: java.time.LocalDateTime =>
      // fixed second precision: LocalDateTime.toString drops ":00"
      // seconds, yielding two formats in one column
      sb.append(quote(if (t.getNano == 0)
        t.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
      else t.toString))
    case t: java.sql.Timestamp => sb.append(quote(t.toInstant.toString))
    case t: java.time.Instant => sb.append(quote(t.toString))
    case d: java.sql.Date => sb.append(quote(d.toString))
    case b: Array[Byte] =>
      sb.append(quote(java.util.Base64.getEncoder.encodeToString(b)))
    case seq: scala.collection.Seq[_] =>
      sb.append('[')
      var first = true
      seq.foreach { x =>
        if (!first) sb.append(','); first = false; writeJsonVal(sb, x)
      }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        sb.append(quote(String.valueOf(k))).append(':'); writeJsonVal(sb, x)
      }
      sb.append('}')
    case r: Row => writeRow(sb, r.schema.fieldNames, r)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => sb.append(n.toString)
    case other => sb.append(quote(other.toString))
  }
}

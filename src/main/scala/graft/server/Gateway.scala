package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame

import graft.ast.Json
import graft.exec.BatchExecutor
import graft.model.GraphStore

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Minimal HTTP façade mirroring the reference gateway surface:
  * `POST /v1/query` accepts the DynamicQueryRequest envelope and
  * returns JSON keyed by the batch's returned variable names
  * (sdks/rust/src/lib.rs:244-247; default local port 6969,
  * helix-cli/src/config.rs:7). Built on the JDK's HttpServer —
  * no extra dependencies.
  *
  * Concurrency model (the reference gateway is a multi-client HTTP
  * service, lib.rs:244-338): requests are served by a fixed thread
  * pool. READS run concurrently against an immutable store snapshot
  * (GraphStore is copy-on-write — a volatile read pins the version
  * for the whole request). WRITES serialize on a single lock, and the
  * new store publishes via the volatile field, so every read sees
  * either the pre- or post-write store, never a torn one.
  *
  * Single-live-store assumption: IndexCache.evictOthers after a write
  * assumes this Gateway's store is the only live lineage in the JVM —
  * a second Gateway instance sharing the process would have its cached
  * artifacts evicted (forced rebuild on next query; a perf hazard, not
  * a correctness one).
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
  import java.util.concurrent.atomic.AtomicLong
  private val nReads = new AtomicLong
  private val nWrites = new AtomicLong
  private val nErrors = new AtomicLong
  private val nTruncated = new AtomicLong
  private val routeHits = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private[server] def countError(): Unit = nErrors.incrementAndGet()

  /** Serving counters as one JSON object (stored-route hit counts
    * sorted by name; `wal_position` present when this gateway logs to
    * a WAL).
    */
  def metricsJson: String = {
    import scala.jdk.CollectionConverters._
    val routes = routeHits.asScala.toSeq.sortBy(_._1)
      .map { case (n, c) => quote(n) + ":" + c.get() }.mkString("{", ",", "}")
    val wal = walRoot.map(r =>
      s""","wal_position":${graft.model.GraphWal.commitPosition(r)}""").getOrElse("")
    s"""{"reads":${nReads.get()},"writes":${nWrites.get()},""" +
      s""""errors":${nErrors.get()},"truncated":${nTruncated.get()},""" +
      s""""routes":$routes$wal}"""
  }
  private val stored =
    new java.util.concurrent.ConcurrentHashMap[String, QueryBundle.StoredRoute]()
  /** Stored routes that have executed at least once — the `x-helix-warm`
    * serving gate (sdks/rust/src/lib.rs:279-287).
    */
  private val warm = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def currentStore: GraphStore = store

  /** Replication hook: swap in a newer store version (Router's read
    * replicas refresh through this). Only for gateways that never take
    * local writes — a swap racing a local write batch would silently
    * drop whichever published first.
    */
  private[server] def replaceStore(s: GraphStore): Unit = { store = s }

  /** Whether a deployed stored route is a write route (None: unknown
    * name) — the Router's dispatch decision for `/v1/query/<name>`.
    */
  private[server] def storedIsWrite(name: String): Option[Boolean] =
    Option(stored.get(name)).map(_.write)

  /** Deploy a stored query (the reference's registered-query surface:
    * `#[register]` fn -> queries.json bundle -> POST /v1/query/<name>
    * with a JSON params body, SURVEY §3.3).
    */
  def registerQuery(name: String, batch: graft.ast.Batch,
      params: Seq[(String, QueryBundle.PTy)] = Nil): Unit = {
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
    handleStoredT(name, paramsJson)._1

  private[server] def handleStoredT(name: String, paramsJson: String): (String, Boolean) = {
    val (batch, pmap) = storedBatchParams(name, paramsJson)
    val rendered = executeBatch(batch, pmap)
    markServed(name)
    rendered
  }

  /** Record a stored route as served: warms it and bumps its hit
    * counter (shared by the buffered, streamed, and Router paths).
    */
  private[server] def markServed(name: String): Unit = {
    warm.add(name)
    routeHits.computeIfAbsent(name, _ => new AtomicLong).incrementAndGet()
  }

  /** Resolve a stored route to its batch plus coerced parameters (the
    * shared front half of the buffered and NDJSON-streamed paths).
    */
  private[server] def storedBatchParams(name: String,
      paramsJson: String): (graft.ast.Batch, Map[String, graft.ast.PropertyValue]) = {
    val route = Option(stored.get(name))
      .getOrElse(throw new IllegalArgumentException(s"unknown stored query: $name"))
    val tree = if (paramsJson.trim.isEmpty) QueryBundle.mapper.createObjectNode()
      else QueryBundle.mapper.readTree(paramsJson)
    val types = route.params.toMap
    val params = tree.properties().iterator()
    val pmap = scala.collection.mutable.Map.empty[String, graft.ast.PropertyValue]
    while (params.hasNext) {
      val e = params.next()
      val raw = Json.readParamValue(e.getValue)
      pmap(e.getKey) = types.get(e.getKey).map(QueryBundle.coerce(raw, _)).getOrElse(raw)
    }
    (route.batch, pmap.toMap)
  }

  /** Run one batch: reads on the current snapshot (concurrent), writes
    * under the write lock (serialized; the updated store publishes
    * before the lock drops).
    */
  private def executeBatch(batch: graft.ast.Batch,
      params: Map[String, graft.ast.PropertyValue]): (String, Boolean) = {
    val out = executeBatchInner(batch, params)
    (if (batch.write) nWrites else nReads).incrementAndGet()
    if (out._2) nTruncated.incrementAndGet()
    out
  }

  private def executeBatchInner(batch: graft.ast.Batch,
      params: Map[String, graft.ast.PropertyValue]): (String, Boolean) = {
    if (batch.write) writeLock.synchronized {
      val prev = store
      val out = new BatchExecutor(store, params).execute(batch)
      // commit order: render, then segment, then publish. The render is
      // the one action on every returned result, so a write whose
      // result fails to execute is rejected before anything commits;
      // the segment is durable before the store publishes, so a crash
      // between the two replays the batch on recovery (same
      // deterministic result) and never loses an acked write
      val rendered = renderResults(out.results)
      walRoot.foreach(graft.model.GraphWal.logWrite(_, batch, params, out.idSeed))
      // copy-on-write: labels whose tables kept reference identity are
      // untouched by this batch — their index artifacts migrate to the
      // new version instead of rebuilding (only touched labels evict).
      // Migrate BEFORE the new store publishes: no reader can be on the
      // new version yet, so migrate's put can never clobber (and orphan)
      // an artifact a concurrent reader just built for it.
      val unchanged = (prev.nodeTables.keySet ++ prev.edgeTables.keySet).filter { l =>
        prev.nodeTables.get(l).forall(df => out.store.nodeTables.get(l).exists(_ eq df)) &&
          prev.edgeTables.get(l).forall(df => out.store.edgeTables.get(l).exists(_ eq df))
      }
      graft.search.IndexCache.migrate(prev.version, out.store.version, unchanged)
      store = out.store
      graft.search.IndexCache.evictOthers(store.version, liveVersions())
      rendered
    } else {
      val out = new BatchExecutor(store, params).execute(batch)
      renderResults(out.results)
    }
  }

  private def renderResults(results: Map[String, DataFrame]): (String, Boolean) = {
    var truncated = false
    val body = results.toSeq.sortBy(_._1)
      .map { case (k, df) =>
        val (json, t) = renderDf(df)
        if (t) truncated = true
        "\"" + k + "\":" + json
      }
      .mkString("{", ",", "}")
    (body, truncated)
  }

  /** Render a result frame: single-row single-column -> scalar;
    * otherwise an array of row objects (CLI prints raw JSON,
    * commands/query.rs:93-101). Returns the JSON plus whether the row
    * cap truncated the result (per-request state — no shared field, so
    * concurrent requests can't cross-flag each other's truncation).
    *
    * Hand-rolled writer instead of Dataset.toJSON: toJSON OMITS
    * null-valued fields (row objects would silently lose null
    * properties, and a single null scalar NPE'd the unwrap path);
    * the reference's JSON carries explicit nulls. Responses cap at
    * `maxResponseRows` so one unbounded query can't buffer the whole
    * table into a driver string. The scalar unwrap keys off the
    * PRE-truncation count: a capped multi-row single-column result
    * stays a JSON array even at maxResponseRows=1.
    */
  private def renderDf(df: DataFrame): (String, Boolean) = {
    val collected = df.limit(maxResponseRows + 1).collect()
    val truncated = collected.length > maxResponseRows
    val rows = if (truncated) collected.take(maxResponseRows) else collected
    val names = df.columns
    val sb = new StringBuilder
    def writeVal(v: Any): Unit = writeJsonVal(sb, v)
    if (collected.length == 1 && names.length == 1) writeVal(rows(0).get(0))
    else {
      sb.append('[')
      var i = 0
      while (i < rows.length) {
        if (i > 0) sb.append(',')
        sb.append('{')
        var j = 0
        while (j < names.length) {
          if (j > 0) sb.append(',')
          sb.append(quote(names(j))).append(':'); writeVal(rows(i).get(j))
          j += 1
        }
        sb.append('}')
        i += 1
      }
      sb.append(']')
    }
    (sb.toString, truncated)
  }

  /** One JSON value — the single writer both the buffered response and
    * the NDJSON stream render through, so a row prints byte-identically
    * on either path (explicit nulls, float shortest-form, fixed
    * LocalDateTime second precision).
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
    case r: org.apache.spark.sql.Row =>
      sb.append('{')
      val fns = r.schema.fieldNames
      var i = 0
      while (i < fns.length) {
        if (i > 0) sb.append(',')
        sb.append(quote(fns(i))).append(':'); writeJsonVal(sb, r.get(i))
        i += 1
      }
      sb.append('}')
    case n @ (_: Long | _: Int | _: Short | _: Byte) => sb.append(n.toString)
    case other => sb.append(quote(other.toString))
  }

  /** Stream a READ batch's results as NDJSON: one line per row,
    * `{"result":<name>,"row":{...}}`, results in name order, rows
    * fetched via `toLocalIterator` — one partition buffered on the
    * driver at a time, so the response size is unbounded WITHOUT
    * unbounded driver memory (the `maxResponseRows` cap exists to
    * protect the buffered path's driver-side string; a streamed
    * response needs no cap). Write batches are not streamable (their
    * response is the mutation summary, inherently small) — callers
    * fall back to the buffered path.
    */
  private[server] def streamBatch(batch: graft.ast.Batch,
      params: Map[String, graft.ast.PropertyValue],
      out: java.io.OutputStream): Unit = {
    require(!batch.write, "NDJSON streaming serves read batches only")
    val res = new BatchExecutor(store, params).execute(batch)
    nReads.incrementAndGet()
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8))
    res.results.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val names = df.columns
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        val sb = new StringBuilder
        sb.append("{\"result\":").append(quote(name)).append(",\"row\":{")
        var j = 0
        while (j < names.length) {
          if (j > 0) sb.append(',')
          sb.append(quote(names(j))).append(':'); writeJsonVal(sb, r.get(j))
          j += 1
        }
        sb.append("}}\n")
        w.write(sb.toString)
      }
      w.flush()
    }
    w.flush()
  }

  /** Stream a read batch as NDJSON over an exchange: NDJSON headers, a
    * per-request cancellable job group, mid-stream error lines, and
    * exchange close. toLocalIterator submits one job per partition
    * FROM THIS THREAD, so the thread-local job group scopes exactly
    * the stream's Spark work: when the client dies mid-stream (the
    * write throws), cancelling the group interrupts any in-flight
    * stage instead of letting it run to completion for a reader that
    * is gone — abandoned iterators submit no further jobs either way,
    * so nothing leaks. Shared by this gateway's handler and the
    * Router's streaming passthrough (which sets its topology headers
    * on `ex` before calling).
    */
  private[server] def streamServe(ex: HttpExchange, batch: graft.ast.Batch,
      params: Map[String, graft.ast.PropertyValue],
      onSuccess: () => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0) // chunked
    val sc = store.spark.sparkContext
    val jobGroup = s"graft-ndjson-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(jobGroup, "NDJSON stream", interruptOnCancel = true)
    try {
      streamBatch(batch, params, ex.getResponseBody)
      onSuccess()
    } catch {
      // headers are gone; the truncated chunk stream is the only
      // error signal we can still send
      case e: Exception =>
        countError()
        sc.cancelJobGroup(jobGroup)
        try {
          val line = s"""{"error":${quote(e.getMessage)}}""" + "\n"
          ex.getResponseBody.write(line.getBytes(StandardCharsets.UTF_8))
        } catch { case _: Exception => () } // client is gone
    } finally {
      sc.clearJobGroup()
      ex.close()
    }
  }

  def handle(body: String): String = handleT(body)._1

  private[server] def handleT(body: String): (String, Boolean) =
    handleParsedT(Json.parseRequest(body))

  /** Execute an already-parsed envelope (the Router parses once for
    * its dispatch decision and hands the result here — a bulk-ingest
    * envelope is megabytes of JSON, not worth decoding twice).
    */
  private[server] def handleParsedT(req: Json.Request): (String, Boolean) =
    executeBatch(req.batch, req.parameters)

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

  private def requireAuth(ex: HttpExchange): Boolean =
    ServerAuth.require(ex,
      authorized(Option(ex.getRequestHeaders.getFirst("Authorization"))))

  def start(): Unit = {
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/v1/query", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val path = ex.getRequestURI.getPath
        // x-helix-* request headers (sdks/rust/src/lib.rs:270-298):
        //  - require-writer: single-writer deployment — this node IS the
        //    writer, acknowledged via a response header (routing stub);
        //  - warm: serve a stored route only if it has already run;
        //  - await-durable: writes apply synchronously here, so the ack
        //    is truthful either way.
        def hdr(n: String): Option[String] =
          Option(ex.getRequestHeaders.getFirst(n)).map(_.trim.toLowerCase)
        val warmOnly = hdr("x-helix-warm").contains("true")
        if (hdr("x-helix-require-writer").contains("true"))
          ex.getResponseHeaders.set("x-helix-served-by", "writer")
        hdr("x-helix-await-durable").foreach(v =>
          ex.getResponseHeaders.set("x-helix-durable", v))
        // NDJSON streaming opt-in: removes the maxResponseRows cap for
        // READ batches by streaming one row per line over a chunked
        // response (toLocalIterator — bounded driver memory). Write
        // batches and errors fall through to the buffered JSON path.
        val wantStream = hdr("x-graft-stream").contains("ndjson") ||
          hdr("accept").exists(_.contains("application/x-ndjson"))
        if (wantStream) {
          val sub = path.stripPrefix("/v1/query").stripPrefix("/")
          val parsed =
            try {
              val (batch, params) =
                if (sub.nonEmpty) {
                  if (warmOnly && !isWarm(sub))
                    throw new IllegalArgumentException(s"query not warm: $sub")
                  storedBatchParams(sub, body)
                } else {
                  val req = Json.parseRequest(body)
                  (req.batch, req.parameters)
                }
              if (batch.write) None // mutation summaries buffer below
              else Some((batch, params))
            } catch {
              case e: Exception =>
                countError()
                val bytes = (s"""{"error":${quote(e.getMessage)}}""" + "\n")
                  .getBytes(StandardCharsets.UTF_8)
                ex.getResponseHeaders.set("Content-Type", "application/json")
                ex.sendResponseHeaders(400, bytes.length)
                ex.getResponseBody.write(bytes)
                ex.close()
                return
            }
          parsed match {
            case Some((batch, params)) =>
              streamServe(ex, batch, params,
                () => if (sub.nonEmpty) markServed(sub))
              return
            case None => // write batch: buffered path below
          }
        }
        // ONE error contract with the streaming path: a failed request
        // is HTTP 400 with an {"error":...} body on both (the
        // reference SDK treats any non-200 as RemoteError{body} and
        // only deserializes results on 200 — sdks/rust/src/lib.rs:406;
        // a 200 error envelope would surface as a confusing
        // deserialization failure instead). Mid-stream NDJSON faults
        // remain the documented truncated-chunk exception: their
        // headers are already gone.
        var status = 200
        val (resp, truncated) =
          try {
            // POST /v1/query/<name> runs a deployed stored query
            // (sdks/rust/src/lib.rs:244-247); bare /v1/query takes the
            // inline envelope
            val sub = path.stripPrefix("/v1/query").stripPrefix("/")
            if (sub.nonEmpty) {
              if (warmOnly && !isWarm(sub)) {
                status = 400
                (s"""{"error":${quote(s"query not warm: $sub")}}""", false)
              } else handleStoredT(sub, body)
            } else handleT(body)
          } catch {
            case e: Exception =>
              countError()
              status = 400
              (s"""{"error":${quote(e.getMessage)}}""", false)
          }
        if (truncated)
          ex.getResponseHeaders.set("x-graft-truncated", "true")
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (protectMetrics && !requireAuth(ex)) return
        val bytes = metricsJson.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
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
            else {
              val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
              s"""{"deployed":${loadBundle(body)}}"""
            }
          } catch {
            case e: Exception =>
              status = 400
              s"""{"error":${quote(e.getMessage)}}"""
          }
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    if (mcp) server.createContext("/mcp", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (!requireAuth(ex)) return
        val method = ex.getRequestMethod
        if (method != "POST") {
          // the streamable transport's GET opens a server event stream,
          // which this gateway doesn't offer — 405 per spec
          ex.sendResponseHeaders(405, -1); ex.close(); return
        }
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        Mcp.handle(Gateway.this, body) match {
          case Some(resp) =>
            val bytes = resp.getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type", "application/json")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
          case None => // notification: accepted, no body
            ex.sendResponseHeaders(202, -1)
        }
        ex.close()
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

  private def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Shared bearer-auth response for the Gateway and Router HTTP
  * boundaries: one place owns the 401 contract.
  */
private[server] object ServerAuth {
  def require(ex: HttpExchange, ok: Boolean): Boolean = {
    if (!ok) {
      val bytes = """{"error":"unauthorized"}""".getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(401, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    ok
  }
}

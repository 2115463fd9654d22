package graft

import graft.server.Gateway

/** End-to-end protocol test: the envelope goes in, JSON keyed by
  * returned variables comes out — without binding a socket (handle())
  * plus one real HTTP round-trip.
  */
class GatewaySpec extends GraftSuite {

  test("scaffolded node_count request end-to-end") {
    val gw = new Gateway(TestBase.parityGraph())
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"node_count",
        "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
        "condition":null}}],"returns":["node_count"]},"parameters":{}}""")
    assert(resp == """{"node_count":3}""")
  }

  test("write then read in separate requests (store persists)") {
    val gw = new Gateway(TestBase.parityGraph())
    gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"created",
        "steps":[{"AddN":{"label":"ParityUser","properties":[
        ["name",{"Value":{"String":"Dana"}}]]}}],"condition":null}}],
        "returns":["created"]},"parameters":{}}""")
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
        "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
        "condition":null}}],"returns":["n"]},"parameters":{}}""")
    assert(resp == """{"n":4}""")
  }

  test("engine-side embedding: write text, vector-search with text, no client vectors") {
    // mirrors the reference's embedding_model flow (config.rs:207-209):
    // a string written to a vector-indexed property is embedded by the
    // engine, and a string query_vector embeds the same way — the
    // client never ships a vector. Production swaps Embedder.default
    // for a model-backed implementation; this wiring is unchanged.
    val gw = new Gateway(TestBase.parityGraph())
    gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
        "steps":[{"CreateVectorIndexNodes":{"label":"Memo","property":"embedding","tenant_property":null}},
        {"AddN":{"label":"Memo","properties":[
        ["title",{"Value":{"String":"m1"}}],
        ["embedding",{"Value":{"String":"graph databases and vector search"}}]]}},
        {"AddN":{"label":"Memo","properties":[
        ["title",{"Value":{"String":"m2"}}],
        ["embedding",{"Value":{"String":"cooking recipes for fresh pasta"}}]]}},
        {"AddN":{"label":"Memo","properties":[
        ["title",{"Value":{"String":"m3"}}],
        ["embedding",{"Value":{"String":"football match results today"}}]]}}],
        "condition":null}}],"returns":["w"]},"parameters":{}}""")
    // the stored property is a real fixed-dim vector, not the text
    val dt = gw.currentStore.nodesFor("Memo").schema("embedding").dataType
    assert(dt.isInstanceOf[org.apache.spark.sql.types.ArrayType], s"stored type: $dt")
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"hit",
        "steps":[{"VectorSearchNodes":{"label":"Memo","property":"embedding",
        "tenant_value":null,"query_vector":{"Value":{"String":"cooking recipes for fresh pasta"}},
        "k":{"Literal":1}}},{"Values":["title"]}],
        "condition":null}}],"returns":["hit"]},"parameters":{}}""")
    assert(resp == """{"hit":"m2"}""", s"got: $resp")
    // a string query against a property with NO declared vector index
    // must error, not silently embed: client-supplied vectors there
    // can have any dimension, and a mismatched cosine would null-pad
    // to garbage scores
    val bad = intercept[graft.exec.TraversalException] { gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"x",
        "steps":[{"VectorSearchNodes":{"label":"Memo","property":"title",
        "tenant_value":null,"query_vector":{"Value":{"String":"anything"}},
        "k":{"Literal":1}}}],
        "condition":null}}],"returns":["x"]},"parameters":{}}""") }
    assert(bad.getMessage.contains("declared vector index"))
    // SetProperty of a string over a MIXED stream (Memo is
    // vector-indexed, ParityUser is not) is rejected up front — the
    // store would diverge from the continuing stream otherwise
    val mixed = intercept[graft.exec.TraversalException] { gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"m",
        "steps":[{"N":"All"},{"SetProperty":["embedding",{"Value":{"String":"some text"}}]}],
        "condition":null}}],"returns":["m"]},"parameters":{}}""") }
    assert(mixed.getMessage.contains("split the traversal"))
  }

  test("multi-row results render as row arrays") {
    val gw = new Gateway(TestBase.parityGraph())
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"names",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["names"]},"parameters":{}}""")
    assert(resp == """{"names":[{"name":"Alice"},{"name":"Bob"},{"name":"Carol"}]}""")
  }

  test("null property values render as explicit JSON nulls") {
    val gw = new Gateway(TestBase.parityGraph())
    // `city` exists, `missing` does not -> null column in every row
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
        "steps":[{"NWhere":{"Eq":["name",{"String":"Alice"}]}},
        {"Values":["name","missing"]}],
        "condition":null}}],"returns":["r"]},"parameters":{}}""")
    assert(resp == """{"r":[{"name":"Alice","missing":null}]}""")
  }

  test("a single null scalar renders as null, not an error") {
    val gw = new Gateway(TestBase.parityGraph())
    // Min over an empty stream -> one row, one null column
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"m",
        "steps":[{"NWhere":{"Eq":["name",{"String":"Nobody"}]}},
        {"AggregateBy":["Min","age"]}],
        "condition":null}}],"returns":["m"]},"parameters":{}}""")
    assert(resp == """{"m":null}""")
  }

  test("malformed requests return a structured error, not a crash") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16970)
    gw.start()
    try {
      def post(body: String): (Int, String) = {
        val conn = new java.net.URL("http://localhost:16970/v1/query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      // one error contract, streaming or buffered: client errors are
      // HTTP 400 with a structured body
      def errPost(body: String): Unit = {
        val (code, b) = post(body)
        assert(code == 400 && b.contains("error"), s"$code $b")
      }
      errPost("""{"request_type":"read","query":{"queries":[{"Query":{"name":"x",
        "steps":[{"Bogus":1}],"condition":null}}],"returns":["x"]}}""")
      errPost("not json at all")
      // mutation in a read batch is rejected
      errPost("""{"request_type":"read","query":{"queries":[{"Query":{"name":"x",
        "steps":[{"AddN":{"label":"U","properties":[]}}],"condition":null}}],
        "returns":["x"]}}""")
    } finally gw.stop()
  }

  test("stored queries run at /v1/query/<name> with a params body") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph(), port = 16971)
    gw.registerQuery("users_over", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age"))).count().t))),
      returns = Seq("n")))
    gw.start()
    try {
      val conn = new java.net.URL("http://localhost:16971/v1/query/users_over")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("""{"min_age": 30}""".getBytes("UTF-8"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body == """{"n":2}""")
      assert(gw.handleStored("users_over", """{"min_age": 40}""") == """{"n":1}""")
    } finally gw.stop()
  }

  test("queries.json bundle round-trips and serves typed params over HTTP") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.server.QueryBundle
    // on disk: a plan over in-memory rows is never prepared
    val gw = new Gateway(TestBase.parityGraphOnDisk(), port = 16972)
    val start = new com.fasterxml.jackson.databind.ObjectMapper().readTree(gw.metricsJson)
    // author a bundle: one read route with a DateTime param + an I64 array
    val batch = Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age")))
          .where(Predicate.IsInExpr("$id", Expr.Param("ids")))
          .count().t))), returns = Seq("n"))
    val routes = Map("n_in" -> QueryBundle.StoredRoute(batch,
      Seq("min_age" -> Json.Scalar("I64"),
        "ids" -> Json.Arr(Json.Scalar("I64")),
        "since" -> Json.Scalar("DateTime")), write = false))
    val doc = QueryBundle.render(routes)
    // bundle document round-trips exactly
    assert(QueryBundle.parse(doc).map { case (k, r) => k -> (r.batch, r.params, r.write) } ==
      routes.map { case (k, r) => k -> (r.batch, r.params, r.write) })
    assert(gw.loadBundle(doc) == 1)
    gw.start()
    try {
      val conn = new java.net.URL("http://localhost:16972/v1/query/n_in")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"min_age": 30, "ids": [1, 3], "since": "2024-06-01T00:00:00Z"}"""
          .getBytes("UTF-8"))
      val bodyOut = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(bodyOut == """{"n":2}""") // Alice(31) + Carol(42), both in ids

      // push/sync over the wire: POST a bundle to /v1/deploy replaces
      // the route set; GET returns the deployed set as a v5 document
      def http(method: String, path: String, body: Option[String]): String = {
        val c = new java.net.URL(s"http://localhost:16972$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod(method)
        body.foreach { b => c.setDoOutput(true); c.getOutputStream.write(b.getBytes("UTF-8")) }
        val is = if (c.getResponseCode < 400) c.getInputStream else c.getErrorStream
        new String(is.readAllBytes(), "UTF-8")
      }
      assert(http("POST", "/v1/deploy", Some(doc)) == """{"deployed":1}""")
      val synced = http("GET", "/v1/deploy", None)
      assert(synced.contains("n_in") && synced.contains("\"version\""))
      assert(http("POST", "/v1/deploy", Some("not a bundle")).contains("error"))

      // serving counters: the stored-route call above + per-route hits,
      // and the artifact caches' hit/miss/evict counters
      graft.pipeline.Dedup.warmRowCount(spark.range(3).toDF())
      val m = http("GET", "/metrics", None)
      assert(m.contains(""""reads":1"""), m)
      assert(m.contains(""""n_in":1"""), m)
      assert(m.contains(""""errors":0"""), m)
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(m)
      val rowCount = tree.get("caches").get("rowCount")
      assert(rowCount.get("misses").asLong >= 1 && rowCount.has("hits") &&
        rowCount.has("evictions"), m)
      // Spark's compiled-class count and compile time: the stored-route
      // call above compiled at least one class in this process
      val codegen = tree.get("codegen")
      assert(codegen.get("compiles").asLong >= 1 && codegen.get("compile_ms").asLong >= 0, m)

      // prepared stored routes: n_in above reads its id list on the
      // driver (a fallback); a scalar-parameter route keeps its plan on
      // its first call (a miss) and binds into it on its second (a hit)
      gw.registerQuery("older", Batch(Seq(BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser").where(Predicate.GteExpr("age", Expr.Param("min_age")))
          .count().t))), returns = Seq("n")), Seq("min_age" -> Json.Scalar("I64")))
      assert(gw.handleStored("older", """{"min_age": 30}""") == """{"n":2}""")
      assert(gw.handleStored("older", """{"min_age": 40}""") == """{"n":1}""")
      val end = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(http("GET", "/metrics", None))
      def moved(section: String, key: String) =
        end.get(section).get(key).asLong - start.get(section).get(key).asLong
      import scala.jdk.CollectionConverters._
      val fallbacks = end.get("prepared_fallbacks").fieldNames.asScala.map(moved("prepared_fallbacks", _))
      val prepared = Seq("hits", "misses").map(k =>
        end.get("caches").get("prepared_routes").get(k).asLong -
          start.get("caches").get("prepared_routes").get(k).asLong)
      assert(prepared == Seq(1, 1) && fallbacks.sum == 1 &&
        moved("prepared_fallbacks", "driver_read") == 1, end)
    } finally gw.stop()
  }

  test("API key: keyed gateway 401s /v1/* and /mcp without the bearer; metrics open") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16975,
      apiKey = Some("k3y"))
    gw.start()
    try {
      def post(path: String, auth: Option[String], body: String): Int = {
        val conn = new java.net.URL(s"http://localhost:16975$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        auth.foreach(a => conn.setRequestProperty("Authorization", a))
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        conn.getResponseCode
      }
      val q = """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
        "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
        "condition":null}}],"returns":["n"]},"parameters":{}}"""
      assert(post("/v1/query", None, q) == 401)
      assert(post("/v1/query", Some("Bearer nope"), q) == 401)
      assert(post("/v1/query", Some("Bearer k3y"), q) == 200)
      assert(post("/v1/deploy", None, "{}") == 401)
      assert(post("/mcp", None, """{"jsonrpc":"2.0","id":1,"method":"ping"}""") == 401)
      assert(post("/mcp", Some("Bearer k3y"),
        """{"jsonrpc":"2.0","id":1,"method":"ping"}""") == 200)
      val m = new java.net.URL("http://localhost:16975/metrics")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(m.getResponseCode == 200) // observability stays keyless
    } finally gw.stop()
  }

  test("protectMetrics gates /metrics behind the same bearer key") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16979,
      apiKey = Some("k3y"), protectMetrics = true)
    gw.start()
    try {
      def get(auth: Option[String]): Int = {
        val conn = new java.net.URL("http://localhost:16979/metrics")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        auth.foreach(a => conn.setRequestProperty("Authorization", a))
        conn.getResponseCode
      }
      assert(get(None) == 401)
      assert(get(Some("Bearer nope")) == 401)
      assert(get(Some("Bearer k3y")) == 200)
    } finally gw.stop()
  }

  test("metrics JSON stays parseable when a route name needs escaping") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph())
    gw.registerQuery("we\"ird\\name", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"), g().nWithLabel("ParityUser").count().t))),
      returns = Seq("n")))
    gw.handleStored("we\"ird\\name", "{}")
    val m = gw.metricsJson
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(m)
    assert(tree.get("routes").get("we\"ird\\name").asLong == 1L, m)
  }

  test("unsupported bundle versions are rejected") {
    val e = intercept[IllegalArgumentException] {
      graft.server.QueryBundle.parse("""{"version":3,"read_routes":{}}""")
    }
    assert(e.getMessage.contains("version"))
    // v4 (legacy) still accepted
    assert(graft.server.QueryBundle.parse(
      """{"version":4,"read_routes":{},"write_routes":{},
         "read_parameters":{},"write_parameters":{}}""").isEmpty)
  }

  test("x-helix-warm serves only already-run stored queries; writer/durable ack") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph(), port = 16973)
    gw.registerQuery("cnt", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"), g().nWithLabel("ParityUser").count().t))),
      returns = Seq("n")))
    gw.start()
    try {
      def post(warmOnly: Boolean): (String, Map[String, String]) = {
        val conn = new java.net.URL("http://localhost:16973/v1/query/cnt")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        if (warmOnly) conn.setRequestProperty("x-helix-warm", "true")
        conn.setRequestProperty("x-helix-require-writer", "true")
        conn.setRequestProperty("x-helix-await-durable", "true")
        conn.getOutputStream.write("{}".getBytes("UTF-8"))
        val bs = if (conn.getResponseCode < 400) conn.getInputStream
          else conn.getErrorStream
        val body = new String(bs.readAllBytes(), "UTF-8")
        import scala.jdk.CollectionConverters._
        val hs = conn.getHeaderFields.asScala.collect {
          case (k, v) if k != null => k.toLowerCase -> v.get(0)
        }.toMap
        (body, hs)
      }
      val (cold, _) = post(warmOnly = true)
      assert(cold == """{"error":"query not warm: cnt"}""")
      val (run1, h1) = post(warmOnly = false) // executes, warms the route
      assert(run1 == """{"n":3}""")
      assert(h1.get("x-helix-served-by").contains("writer"))
      assert(h1.get("x-helix-durable").contains("true"))
      val (run2, _) = post(warmOnly = true) // warm now
      assert(run2 == """{"n":3}""")
    } finally gw.stop()
  }

  test("re-registering a stored route resets its warm state") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph())
    gw.registerQuery("r", Batch(Seq(BatchEntry.Query(NamedQuery(Some("n"),
      g().n().count().t))), returns = Seq("n")))
    gw.handleStored("r", "{}")
    assert(gw.isWarm("r"))
    gw.registerQuery("r", Batch(Seq(BatchEntry.Query(NamedQuery(Some("n"),
      g().n().exists().t))), returns = Seq("n")))
    assert(!gw.isWarm("r")) // replaced route is a new, cold query
  }

  test("row-capped responses carry the x-graft-truncated header") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16974, maxResponseRows = 2)
    gw.start()
    try {
      def post(body: String) = {
        val conn = new java.net.URL("http://localhost:16974/v1/query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val b = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        (b, Option(conn.getHeaderField("x-graft-truncated")))
      }
      val (b1, h1) = post(
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
          "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
          "condition":null}}],"returns":["r"]},"parameters":{}}""")
      assert(b1 == """{"r":[{"name":"Alice"},{"name":"Bob"}]}""") // 3 rows capped at 2
      assert(h1.contains("true"))
      val (_, h2) = post(
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"c",
          "steps":[{"N":"All"},"Count"],"condition":null}}],
          "returns":["c"]},"parameters":{}}""")
      assert(h2.isEmpty) // un-truncated responses carry no header
    } finally gw.stop()
  }

  test("concurrent reads: a pool of parallel queries all answer correctly") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16975, workerThreads = 8)
    gw.start()
    try {
      def post(body: String): String = {
        val conn = new java.net.URL("http://localhost:16975/v1/query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      }
      val countQ = """{"request_type":"read","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"N":"All"},"Count"],"condition":null}}],"returns":["c"]},"parameters":{}}"""
      val namesQ = """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["r"]},"parameters":{}}"""
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val futures = (0 until 16).map { i =>
        Future(if (i % 2 == 0) ("c", post(countQ)) else ("r", post(namesQ)))
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach {
        case ("c", body) => assert(body == """{"c":3}""")
        case (_, body) =>
          assert(body == """{"r":[{"name":"Alice"},{"name":"Bob"},{"name":"Carol"}]}""")
      }
    } finally gw.stop()
  }

  test("truncation flags stay per-request under concurrency") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16976,
      maxResponseRows = 2, workerThreads = 8)
    gw.start()
    try {
      def post(body: String): (String, Boolean) = {
        val conn = new java.net.URL("http://localhost:16976/v1/query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val b = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        (b, Option(conn.getHeaderField("x-graft-truncated")).contains("true"))
      }
      val truncQ = """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["r"]},"parameters":{}}"""
      val smallQ = """{"request_type":"read","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"N":"All"},"Count"],"condition":null}}],"returns":["c"]},"parameters":{}}"""
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val futures = (0 until 12).map { i =>
        Future(if (i % 2 == 0) ("trunc", post(truncQ)) else ("small", post(smallQ)))
      }
      Await.result(Future.sequence(futures), 120.seconds).foreach {
        case ("trunc", (_, flagged)) => assert(flagged, "capped result missing header")
        case (_, (_, flagged)) => assert(!flagged, "uncapped result cross-flagged")
      }
    } finally gw.stop()
  }

  test("scalar unwrap keys off the pre-truncation count") {
    import graft.ast._
    import graft.dsl.Dsl._
    // 3-row single-column result capped at 1 row must stay a JSON array
    val gw = new Gateway(TestBase.parityGraph(), maxResponseRows = 1)
    val resp = gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"r",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["r"]},"parameters":{}}""")
    assert(resp == """{"r":[{"name":"Alice"}]}""")
    // a genuine 1-row scalar still unwraps
    assert(gw.handle(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"N":"All"},"Count"],"condition":null}}],
        "returns":["c"]},"parameters":{}}""") == """{"c":3}""")
  }

  test("write batches keep index artifacts of untouched labels") {
    import graft.search.IndexCache
    val bio = graft.ast.IndexSpec.NodeText("ParityUser", "bio", None)
    val gw = new Gateway(TestBase.parityGraph().withIndexes(Set(bio)))
    val v0 = gw.currentStore.version
    IndexCache.textIndex(IndexCache.Key(v0, bio), gw.currentStore.nodesFor("ParityUser"))
    // a write that only creates a NEW label leaves ParityUser untouched
    gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"AddN":{"label":"Audit","properties":[
        ["note",{"Value":{"String":"x"}}]]}}],"condition":null}}],
        "returns":["c"]},"parameters":{}}""")
    val v1 = gw.currentStore.version
    assert(v1 != v0)
    // migrated artifact serves under the new version — the rebuild
    // thunk must never run
    IndexCache.textIndex(IndexCache.Key(v1, bio),
      throw new RuntimeException("artifact rebuilt despite untouched label"))
    // a write that DOES touch ParityUser evicts its artifact
    gw.handle(
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"AddN":{"label":"ParityUser","properties":[
        ["name",{"Value":{"String":"Eve"}}]]}}],"condition":null}}],
        "returns":["c"]},"parameters":{}}""")
    var rebuilt = false
    IndexCache.textIndex(IndexCache.Key(gw.currentStore.version, bio),
      { rebuilt = true; gw.currentStore.nodesFor("ParityUser") })
    assert(rebuilt, "touched label's artifact must rebuild")
  }

  test("loadBundle replaces the whole deployed route set") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.server.QueryBundle
    val gw = new Gateway(TestBase.parityGraph())
    val batch = Batch(Seq(BatchEntry.Query(NamedQuery(Some("n"),
      g().nWithLabel("ParityUser").count().t))), returns = Seq("n"))
    gw.loadBundle(QueryBundle.render(Map(
      "a" -> QueryBundle.StoredRoute(batch, Nil, write = false),
      "b" -> QueryBundle.StoredRoute(batch, Nil, write = false))))
    assert(gw.handleStored("a", "{}") == """{"n":3}""")
    // redeploy without route "a": it must stop serving (reference
    // whole-bundle replacement, not additive merge)
    gw.loadBundle(QueryBundle.render(Map(
      "b" -> QueryBundle.StoredRoute(batch, Nil, write = false))))
    val e = intercept[IllegalArgumentException](gw.handleStored("a", "{}"))
    assert(e.getMessage.contains("unknown stored query"))
    assert(gw.handleStored("b", "{}") == """{"n":3}""")
  }

  test("HTTP server answers POST /v1/query") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16969)
    gw.start()
    try {
      val conn = new java.net.URL("http://localhost:16969/v1/query")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"c",
          "steps":[{"N":"All"},"Count"],"condition":null}}],
          "returns":["c"]},"parameters":{}}""".getBytes("UTF-8"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body == """{"c":3}""")
    } finally gw.stop()
  }

  // ---- MCP surface (DbConfig.mcp default-on toggle, config.rs:173,243) ----

  private def mcpTree(gw: Gateway, req: String) = {
    val resp = graft.server.Mcp.handle(gw, req)
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.get)
  }

  test("mcp initialize advertises tools and answers ping") {
    val gw = new Gateway(TestBase.parityGraph())
    val init = mcpTree(gw,
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
    assert(init.get("id").asInt == 1)
    assert(init.get("result").get("protocolVersion").asText == "2025-03-26")
    assert(init.get("result").get("serverInfo").get("name").asText == "graft")
    assert(init.get("result").get("capabilities").has("tools"))
    val ping = mcpTree(gw, """{"jsonrpc":"2.0","id":2,"method":"ping"}""")
    assert(ping.get("result").isObject)
    // the initialized notification has no id -> no response body
    assert(graft.server.Mcp.handle(gw,
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
  }

  test("mcp tools/list exposes stored routes with typed schemas") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.server.QueryBundle
    val gw = new Gateway(TestBase.parityGraph())
    gw.registerQuery("users_over", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age"))).count().t))),
      returns = Seq("n")),
      params = Seq("min_age" -> Json.Scalar("I64")))
    val tools = mcpTree(gw,
      """{"jsonrpc":"2.0","id":3,"method":"tools/list"}""")
      .get("result").get("tools")
    val names = (0 until tools.size).map(tools.get(_).get("name").asText)
    assert(names.contains("users_over"))
    assert(names.contains("graft.query"))
    val uo = (0 until tools.size).map(tools.get)
      .find(_.get("name").asText == "users_over").get
    val schema = uo.get("inputSchema")
    assert(schema.get("type").asText == "object")
    assert(schema.get("properties").get("min_age").get("type").asText == "integer")
    assert(schema.get("required").get(0).asText == "min_age")
    // the tool inventory tracks the live route table: redeploy drops it
    gw.loadBundle(QueryBundle.render(Map.empty))
    val after = mcpTree(gw, """{"jsonrpc":"2.0","id":4,"method":"tools/list"}""")
      .get("result").get("tools")
    assert((0 until after.size).map(after.get(_).get("name").asText)
      == Seq("graft.query"))
  }

  test("mcp tools/call runs a stored route and the dynamic query tool") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.server.QueryBundle
    val gw = new Gateway(TestBase.parityGraph())
    gw.registerQuery("users_over", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age"))).count().t))),
      returns = Seq("n")),
      params = Seq("min_age" -> Json.Scalar("I64")))
    val call = mcpTree(gw,
      """{"jsonrpc":"2.0","id":5,"method":"tools/call",
        "params":{"name":"users_over","arguments":{"min_age":30}}}""")
    assert(!call.get("result").get("isError").asBoolean)
    assert(call.get("result").get("content").get(0).get("text").asText
      == """{"n":2}""")
    val dyn = mcpTree(gw,
      """{"jsonrpc":"2.0","id":6,"method":"tools/call",
        "params":{"name":"graft.query","arguments":{"request":
        {"request_type":"read","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"N":"All"},"Count"],"condition":null}}],
        "returns":["c"]},"parameters":{}}}}}""")
    assert(!dyn.get("result").get("isError").asBoolean)
    assert(dyn.get("result").get("content").get(0).get("text").asText
      == """{"c":3}""")
  }

  test("NDJSON stream: client disconnect mid-stream releases the Spark work, gateway stays up") {
    val s = spark
    import s.implicits._
    // a result big enough (~10 MB of NDJSON) that the server outruns
    // the socket buffers and blocks mid-stream when the client stops
    // reading — the disconnect must surface as a write failure
    import org.apache.spark.sql.functions.{col, concat, lit}
    val big = s.range(300000).select(col("id").as("_id"),
      lit("U").as("_label"), concat(lit("user-"), col("id")).as("name"))
    val store = new graft.model.GraphStore(s, Map("U" -> big), Map.empty, Map.empty)
    val gw = new Gateway(store, port = 16979)
    gw.start()
    try {
      val req =
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"all",
          "steps":[{"N":"All"},{"Values":["name"]}],"condition":null}}],
          "returns":["all"]},"parameters":{}}"""
      val body = req.getBytes("UTF-8")
      val sock = new java.net.Socket("localhost", 16979)
      val os = sock.getOutputStream
      os.write(("POST /v1/query HTTP/1.1\r\nHost: localhost\r\n" +
        "x-graft-stream: ndjson\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8"))
      os.write(body); os.flush()
      // read a little of the stream to prove it started, then die
      // ABRUPTLY (SO_LINGER 0 sends RST, so the server's blocked write
      // fails instead of waiting on a dead peer)
      val is = sock.getInputStream
      val buf = new Array[Byte](8192)
      var got = 0
      while (got < 16384) {
        val n = is.read(buf)
        if (n < 0) got = Int.MaxValue else got += n
      }
      sock.setSoLinger(true, 0)
      sock.close()
      // the abandoned stream must release its Spark work: no active
      // jobs remain once the handler's write fails and the job group
      // is cancelled
      val deadline = System.currentTimeMillis() + 20000
      def active() = s.sparkContext.statusTracker.getActiveJobIds().length
      while (System.currentTimeMillis() < deadline && active() > 0)
        Thread.sleep(200)
      assert(active() == 0, "leaked active Spark jobs after client disconnect")
      // and the gateway still serves: a fresh buffered request answers
      val conn = new java.net.URL("http://localhost:16979/v1/query")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
          "steps":[{"N":"All"},"Count"],"condition":null}}],
          "returns":["n"]},"parameters":{}}""".getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      val out = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(out == """{"n":300000}""", out)
    } finally gw.stop()
  }

  test("mcp protocol faults use jsonrpc errors; tool faults report in-band") {
    val gw = new Gateway(TestBase.parityGraph())
    val parse = mcpTree(gw, "{nope")
    assert(parse.get("error").get("code").asInt == -32700)
    val unknownMethod = mcpTree(gw,
      """{"jsonrpc":"2.0","id":7,"method":"resources/list"}""")
    assert(unknownMethod.get("error").get("code").asInt == -32601)
    val unknownTool = mcpTree(gw,
      """{"jsonrpc":"2.0","id":8,"method":"tools/call",
        "params":{"name":"no_such_tool","arguments":{}}}""")
    assert(unknownTool.get("error").get("code").asInt == -32602)
    // a known tool that fails at runtime is an isError result, not a
    // protocol error (per the MCP spec's tool-error convention)
    val bad = mcpTree(gw,
      """{"jsonrpc":"2.0","id":9,"method":"tools/call",
        "params":{"name":"graft.query","arguments":{"request":
        {"request_type":"read","query":{"queries":[],"returns":[]},
        "parameters":{}}}}}""")
    assert(!bad.has("error"))
    // a failed query tool call counts in /metrics errors, as a failed
    // POST /v1/query does
    def errors = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(gw.metricsJson).get("errors").asLong
    val before = errors
    val failed = mcpTree(gw,
      """{"jsonrpc":"2.0","id":10,"method":"tools/call",
        "params":{"name":"graft.query","arguments":{"request":
        {"request_type":"read","query":{"queries":[{"Query":{"name":"n",
        "steps":[{"N":{"Param":"missing"}}],"condition":null}}],"returns":["n"]},
        "parameters":{}}}}}""")
    assert(failed.get("result").get("isError").asBoolean, failed)
    assert(errors == before + 1)
  }

  test("mcp serves over HTTP at /mcp; 202 for notifications; off when disabled") {
    val gw = new Gateway(TestBase.parityGraph(), port = 16973)
    gw.start()
    try {
      def post(body: String): (Int, String) = {
        val conn = new java.net.URL("http://localhost:16973/mcp")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, if (is == null) "" else new String(is.readAllBytes(), "UTF-8"))
      }
      val (code, body) = post(
        """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""")
      assert(code == 200)
      assert(body.contains("graft.query"))
      val (nCode, nBody) = post(
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      assert(nCode == 202 && nBody.isEmpty)
    } finally gw.stop()
    val off = new Gateway(TestBase.parityGraph(), port = 16974, mcp = false)
    off.start()
    try {
      val conn = new java.net.URL("http://localhost:16974/mcp")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("{}".getBytes("UTF-8"))
      assert(conn.getResponseCode == 404)
    } finally off.stop()
  }

  test("NDJSON streaming serves full reads past the buffered row cap") {
    // maxResponseRows=2: the buffered path truncates the 3-row read,
    // the streamed path must deliver every row, one JSON object per
    // line, with values byte-identical to the buffered renderer's
    val gw = new Gateway(TestBase.parityGraph(), port = 16976,
      maxResponseRows = 2)
    gw.start()
    try {
      val req =
        """{"request_type":"read","query":{"queries":[{"Query":{"name":"names",
          "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
          "condition":null}}],"returns":["names"]},"parameters":{}}"""
      def post(stream: Boolean, body: String): (Int, String, Map[String, java.util.List[String]]) = {
        val conn = new java.net.URL("http://localhost:16976/v1/query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        if (stream) conn.setRequestProperty("x-graft-stream", "ndjson")
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        import scala.jdk.CollectionConverters._
        (code, new String(is.readAllBytes(), "UTF-8"),
          conn.getHeaderFields.asScala.toMap.collect {
            case (k, v) if k != null => (k.toLowerCase, v)
          })
      }
      val (bc, buffered, bh) = post(stream = false, req)
      assert(bc == 200 && bh("x-graft-truncated").get(0) == "true")
      assert(buffered == """{"names":[{"name":"Alice"},{"name":"Bob"}]}""")
      val (sc, streamed, sh) = post(stream = true, req)
      assert(sc == 200)
      assert(sh("content-type").get(0) == "application/x-ndjson")
      assert(!sh.contains("x-graft-truncated"))
      val lines = streamed.split("\n").filter(_.nonEmpty)
      assert(lines.toSeq == Seq(
        """{"result":"names","row":{"name":"Alice"}}""",
        """{"result":"names","row":{"name":"Bob"}}""",
        """{"result":"names","row":{"name":"Carol"}}"""))
      // a write batch opts out: the buffered mutation summary comes back
      val wreq =
        """{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
          "steps":[{"AddN":{"label":"User","properties":[
          ["name",{"Value":{"String":"Dan"}}]]}}],
          "condition":null}}],"returns":["w"]},"parameters":{}}"""
      val (wc, wbody, whdr) = post(stream = true, wreq)
      assert(wc == 200 && wbody.contains("Dan"))
      assert(whdr("content-type").get(0) == "application/json")
      // malformed streaming requests get a structured 400, not a hang
      val (ec, ebody, _) = post(stream = true, "not json at all")
      assert(ec == 400 && ebody.contains("error"))
    } finally gw.stop()
  }

  test("NDJSON streaming serves stored routes with coerced params and warms them") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph(), port = 16977,
      maxResponseRows = 1)
    gw.registerQuery("names_over", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("names"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age")))
          .orderBy("name", SortOrder.Asc).values("name").t))),
      returns = Seq("names")))
    gw.start()
    try {
      def post(path: String, hdrs: Map[String, String], body: String): (Int, String) = {
        val conn = new java.net.URL(s"http://localhost:16977$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        hdrs.foreach { case (k, v) => conn.setRequestProperty(k, v) }
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      // x-helix-warm on an unrun route: the streamed path must honor
      // the same warm gate as the buffered one
      val (cold, coldBody) = post("/v1/query/names_over",
        Map("x-graft-stream" -> "ndjson", "x-helix-warm" -> "true"),
        """{"min_age": 0}""")
      assert(cold == 400 && coldBody.contains("not warm"), s"$cold $coldBody")
      // streams all rows past maxResponseRows=1, and warms the route
      val (sc, streamed) = post("/v1/query/names_over",
        Map("Accept" -> "application/x-ndjson"), """{"min_age": 30}""")
      assert(sc == 200)
      assert(streamed.split("\n").filter(_.nonEmpty).toSeq == Seq(
        """{"result":"names","row":{"name":"Alice"}}""",
        """{"result":"names","row":{"name":"Carol"}}"""))
      val (warmed, warmedBody) = post("/v1/query/names_over",
        Map("x-graft-stream" -> "ndjson", "x-helix-warm" -> "true"),
        """{"min_age": 40}""")
      assert(warmed == 200 &&
        warmedBody.trim == """{"result":"names","row":{"name":"Carol"}}""")
    } finally gw.stop()
  }

  test("an entry that is not returned and fails when run answers HTTP 400") {
    import graft.ast._
    import graft.dsl.Dsl._
    val gw = new Gateway(TestBase.parityGraph(), port = 16980)
    gw.registerQuery("count_after_bad", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("bad"), BatchExecutorSpec.failsWhenRun)),
      BatchEntry.Query(NamedQuery(Some("n"), g().nWithLabel("ParityUser").count().t))),
      returns = Seq("n")))
    gw.start()
    try {
      val conn = new java.net.URL("http://localhost:16980/v1/query/count_after_bad")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("{}".getBytes("UTF-8"))
      assert(conn.getResponseCode == 400)
      val body = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
      assert(body.contains("error"), body)
    } finally gw.stop()
  }

  test("a write whose returned result fails to render commits no segment and publishes nothing") {
    import graft.ast._
    import graft.model.GraphWal
    val dir = java.nio.file.Files.createTempDirectory("gwal-render").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir), walRoot = Some(dir))
    val before = gw.currentStore
    val addN = BatchEntry.Query(NamedQuery(Some("made"), Traversal(Vector(
      Step.AddN("ParityUser", Seq("name" -> PropertyInput.Value(PropertyValue.VString("Zed"))))))))
    gw.registerQuery("add_then_bad", Batch(Seq(addN,
      BatchEntry.Query(NamedQuery(Some("bad"), BatchExecutorSpec.failsWhenRun))),
      returns = Seq("bad"), write = true))
    intercept[Exception](gw.handleStored("add_then_bad", ""))
    assert(gw.currentStore.version == before.version)
    assert(GraphWal.commitPosition(dir) == 0L)
    val segs = Option(new java.io.File(dir, "wal").list()).toSeq.flatten
      .filter(_.startsWith("seg-"))
    assert(segs.isEmpty, s"no segment expected, found $segs")
    // the same write with a result that renders commits one segment
    gw.registerQuery("add", Batch(Seq(addN), returns = Seq("made"), write = true))
    gw.handleStored("add", "")
    assert(GraphWal.commitPosition(dir) == 1L)
    assert(gw.currentStore.version != before.version)
  }

  test("job budget: build starts no Spark job; a stored point lookup costs only its render") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.exec.BatchExecutor
    // an eager action back in the build path fails here, not only in
    // the serving benchmark
    val lookup = Batch(Seq(BatchEntry.Query(NamedQuery(Some("user"),
      g().nWithLabel("ParityUser")
        .where(Predicate.EqExpr("externalId", Expr.Param("externalId")))
        .valueMap("externalId", "name").t))), returns = Seq("user"))
    val params = Map("externalId" -> PropertyValue.VString("u3"))
    // on disk: actions over the in-memory tables start no job at all
    val store = TestBase.parityGraphOnDisk()
    val (built, buildJobs) =
      countJobs(new BatchExecutor(store, params).execute(lookup))
    assert(buildJobs == 0, s"execute started $buildJobs jobs")
    // the gateway's render collect (default maxResponseRows = 10000)
    val (_, renderJobs) = countJobs(built.results("user").limit(10001).collect())
    assert(renderJobs > 0)
    val gw = new Gateway(store)
    gw.registerQuery("user_by_ext", lookup)
    val (resp, servedJobs) =
      countJobs(gw.handleStored("user_by_ext", """{"externalId":"u3"}"""))
    assert(resp.contains("Carol"), resp)
    assert(servedJobs <= renderJobs,
      s"served lookup ran $servedJobs jobs, its render collect alone $renderJobs")
  }

  test("job budget: a stored 1-hop route runs at most 3 jobs, a stored point route 1") {
    import graft.ast._
    import graft.dsl.Dsl._
    val user = g().nWithLabel("ParityUser")
      .where(Predicate.EqExpr("externalId", Expr.Param("externalId")))
    def route(name: String, t: graft.dsl.Tr) =
      Batch(Seq(BatchEntry.Query(NamedQuery(Some(name), t.t))), returns = Seq(name))
    // one parquet file per label, as the served sf0.1 tables are, so a
    // render's take ends after its first round
    import graft.model.{GraphStore, GraphWal}
    val p = TestBase.parityGraph()
    def one(ts: Map[String, org.apache.spark.sql.DataFrame]) =
      ts.map { case (l, d) => l -> d.coalesce(1) }
    val dir = java.nio.file.Files.createTempDirectory("parity-one-file").toString
    GraphWal.checkpoint(new GraphStore(spark, one(p.nodeTables), one(p.edgeTables), p.edgeMeta), dir)
    val gw = new Gateway(GraphWal.recover(spark, dir))
    gw.registerQuery("point", route("u", user.valueMap("externalId", "name")))
    gw.registerQuery("hop", route("f", user.out("FOLLOWS").values("name", "age")))
    val (point, pointJobs) = countJobs(gw.handleStored("point", """{"externalId":"u1"}"""))
    assert(point.contains("Alice") && pointJobs == 1, s"$pointJobs jobs: $point")
    // the frontier's broadcast, the edges' semi join, the far join
    val (hop, hopJobs) = countJobs(gw.handleStored("hop", """{"externalId":"u1"}"""))
    assert(hop.contains("Bob") && !hop.contains("Carol") && hopJobs <= 3, s"$hopJobs jobs: $hop")
    // the same budgets when each route binds into its prepared plan
    val (point2, point2Jobs) = countJobs(gw.handleStored("point", """{"externalId":"u2"}"""))
    assert(point2.contains("Bob") && point2Jobs == 1, s"$point2Jobs jobs: $point2")
    val (hop2, hop2Jobs) = countJobs(gw.handleStored("hop", """{"externalId":"u2"}"""))
    assert(hop2.contains("Carol") && !hop2.contains("Bob") && hop2Jobs <= 3,
      s"$hop2Jobs jobs: $hop2")
  }

  private def writeReq(steps: String): String =
    s"""{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
      "steps":[$steps],"condition":null}}],"returns":["w"]},"parameters":{}}"""

  test("a written label keeps its column order, so rendered key order does not change") {
    val gw = new Gateway(TestBase.parityGraph())
    val read = """{"request_type":"read","query":{"queries":[{"Query":{"name":"u",
      "steps":[{"N":{"Ids":[1]}}],"condition":null}}],"returns":["u"]},"parameters":{}}"""
    val before = gw.handle(read)
    gw.handle(writeReq("""{"N":{"Ids":[1]}},{"SetProperty":["city",{"Value":{"String":"Oslo"}}]}"""))
    gw.handle(writeReq("""{"AddN":{"label":"ParityUser","properties":[
      ["name",{"Value":{"String":"Dave"}}]]}}"""))
    assert(gw.handle(read) == before.replace("\"London\"", "\"Oslo\""))
  }

  test("writes to one label leave every other label's frame identical, overlaid ones too") {
    val gw = new Gateway(TestBase.parityGraph())
    gw.handle(writeReq("""{"AddN":{"label":"Audit","properties":[["note",{"Value":{"String":"a"}}]]}}"""))
    val s0 = gw.currentStore
    // Audit now has an overlay; a ParityUser write must not rebuild it
    gw.handle(writeReq("""{"NWhere":{"And":[{"Eq":["$label",{"String":"ParityUser"}]},
      {"Eq":["name",{"String":"Alice"}]}]}},
      {"SetProperty":["city",{"Value":{"String":"Oslo"}}]}"""))
    val s1 = gw.currentStore
    assert(s1.version != s0.version)
    assert(s1.nodesFor("Audit") eq s0.nodesFor("Audit"))
    assert(s1.edgesFor("FOLLOWS") eq s0.edgesFor("FOLLOWS"))
    assert(!(s1.nodesFor("ParityUser") eq s0.nodesFor("ParityUser")))
  }

  test("job budget: an AddN write and its render run no Spark job; a point SetProperty runs one") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.exec.BatchExecutor
    // on disk, so a scan would show up as a job; the allocation mark
    // set, so the first write does not scan for the highest id
    val store = TestBase.parityGraphOnDisk().withIdHighWater(1000L)
    val add = Batch(Seq(BatchEntry.Query(NamedQuery(Some("made"),
      g().addN("ParityUser", "name" -> PropertyValue.VString("Zoe")).t))),
      returns = Seq("made"), write = true)
    val (made, addJobs) = countJobs(new BatchExecutor(store).execute(add))
    assert(addJobs == 0, s"AddN execute started $addJobs jobs")
    val (rendered, renderJobs) = countJobs(made.results("made").limit(10001).collect())
    assert(renderJobs == 0, s"AddN render started $renderJobs jobs")
    assert(rendered.map(_.getAs[String]("name")).toSeq == Seq("Zoe"))
    val set = Batch(Seq(BatchEntry.Query(NamedQuery(Some("upd"),
      g().nWithLabelWhere("ParityUser", Predicate.Eq("externalId", PropertyValue.VString("u2")))
        .setProperty("city", PropertyValue.VString("Rome")).t))),
      returns = Seq("upd"), write = true)
    val (upd, setJobs) = countJobs(new BatchExecutor(made.store).execute(set))
    assert(setJobs <= 1, s"point SetProperty execute started $setJobs jobs")
    val (city, cityJobs) = countJobs(upd.results("upd").select("city").collect())
    assert(cityJobs == 0 && city.map(_.getString(0)).toSeq == Seq("Rome"))
    // the whole AddN request through the gateway: decode, execute, render
    val gw = new Gateway(store)
    val (resp, gwJobs) = countJobs(gw.handle(writeReq(
      """{"AddN":{"label":"ParityUser","properties":[["name",{"Value":{"String":"Ann"}}]]}}""")))
    assert(resp.contains("Ann"), resp)
    assert(gwJobs == 0, s"AddN request started $gwJobs jobs")
  }

  test("transport: keep-alive responses skip the delayed-ACK stall and keep their JSON status") {
    val port = freePort()
    val gw = new Gateway(TestBase.parityGraph(), port = port, apiKey = Some("k3y"))
    gw.start()
    try {
      val ms = medianGetMs(port, "/metrics")
      assert(ms < 20.0, s"median keep-alive /metrics round trip $ms ms")
      val key = Some("Bearer k3y")
      val q = """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
        "steps":[{"N":"All"},"Count"],"condition":null}}],"returns":["n"]},"parameters":{}}"""
      val cases = Seq(
        200 -> exchange(port, "POST", "/v1/query", Some(q), key),
        400 -> exchange(port, "POST", "/v1/query", Some("{nope"), key),
        401 -> exchange(port, "POST", "/v1/query", Some(q)),
        200 -> exchange(port, "GET", "/v1/deploy", auth = key),
        400 -> exchange(port, "POST", "/v1/deploy", Some("{nope"), key),
        200 -> exchange(port, "POST", "/mcp", Some("""{"jsonrpc":"2.0","id":1,"method":"ping"}"""), key),
        202 -> exchange(port, "POST", "/mcp",
          Some("""{"jsonrpc":"2.0","method":"notifications/initialized"}"""), key))
      cases.foreach { case (want, (code, ctype, body, _)) =>
        assert(code == want && ctype == "application/json", s"$want: $code $ctype $body")
      }
      assert(cases.head._2._3 == """{"n":3}""")
    } finally gw.stop()
  }

  test("inline parameter_types coerce like a stored route's, arrays element by element") {
    import graft.ast._
    import graft.dsl.Dsl._
    val s = spark
    import s.implicits._
    val events = Seq(
      (1L, "Event", java.time.LocalDateTime.of(2024, 1, 1, 0, 0)),
      (2L, "Event", java.time.LocalDateTime.of(2024, 6, 1, 0, 0)),
    ).toDF("_id", "_label", "at")
    val port = freePort()
    val gw = new Gateway(TestBase.parityGraph().withNodes("Event", events), port = port)
    def batch(param: String) = Batch(Seq(BatchEntry.Query(NamedQuery(Some("n"),
      g().nWithLabel("Event").where(Predicate.IsInExpr("at", Expr.Param(param))).count().t))),
      returns = Seq("n"))
    gw.registerQuery("at_dates", batch("dates"), Seq("dates" -> Json.Arr(Json.Scalar("DateTime"))))
    gw.registerQuery("at_blobs", batch("blobs"), Seq("blobs" -> Json.Arr(Json.Scalar("Bytes"))))
    def inline(param: String, ty: String, values: String) =
      Json.writeRequest(Json.Request(false, None, batch(param), Map.empty))
        .stripSuffix("}") + s""","parameter_types":{"$param":$ty},"parameters":{"$param":$values}}"""
    val dates = """["2024-06-01T00:00:00Z","2025-01-01T00:00:00Z"]"""
    val inlineDates = inline("dates", """{"Array":"DateTime"}""", dates)
    assert(Json.parseRequest(inlineDates).parameters("dates") == PropertyValue.VArray(Seq(
      PropertyValue.VDateTime(1717200000000L), PropertyValue.VDateTime(1735689600000L))))
    gw.start()
    try {
      val viaInline = exchange(port, "POST", "/v1/query", Some(inlineDates))
      val viaStored = exchange(port, "POST", "/v1/query/at_dates", Some(s"""{"dates":$dates}"""))
      assert((viaInline._1, viaInline._3) == (200, """{"n":1}"""), viaInline)
      assert((viaStored._1, viaStored._3) == (viaInline._1, viaInline._3), viaStored)
      // the dynamic route rejects Bytes, inside an array too
      val blobs = """["AAE="]"""
      val inlineBlobs = exchange(port, "POST", "/v1/query",
        Some(inline("blobs", """{"Array":"Bytes"}""", blobs)))
      val storedBlobs = exchange(port, "POST", "/v1/query/at_blobs", Some(s"""{"blobs":$blobs}"""))
      for (r <- Seq(inlineBlobs, storedBlobs))
        assert(r._1 == 400 && r._3.contains("Bytes"), r)
      // a malformed type answers 400 inline, as a bundle deploy does
      val malformed = exchange(port, "POST", "/v1/query",
        Some(inline("dates", """{"List":"DateTime"}""", dates)))
      assert(malformed._1 == 400 && malformed._3.contains("QueryParamType"), malformed)
    } finally gw.stop()
  }
}

package graft

import graft.model.GraphWal
import graft.server.Router

/** Single-writer / many-readers routing over one WAL: dispatch rules,
  * replica catch-up (incremental + across checkpoints), and the
  * read-your-writes position handshake.
  */
class RouterSpec extends GraftSuite {

  private def walRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("grouter").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    dir
  }

  private def addN(name: String): String =
    s"""{"request_type":"write","query":{"queries":[{"Query":{"name":"created",
      "steps":[{"AddN":{"label":"ParityUser","properties":[
      ["name",{"Value":{"String":"$name"}}]]}}],"condition":null}}],
      "returns":["created"]},"parameters":{}}"""

  private val countUsers =
    """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
      "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
      "condition":null}}],"returns":["n"]},"parameters":{}}"""

  private val noHdr: String => Option[String] = _ => None

  test("writes go to the writer with a wal position; default reads see them via refresh") {
    val router = new Router(spark, walRoot(), numReaders = 2)
    val Router.Routed(_, _, wh) = router.route("", addN("Dana"), noHdr)
    assert(wh("x-helix-served-by") == "writer")
    assert(wh("x-graft-wal-position") == "1")
    // default read refreshes to the log head before serving
    val Router.Routed(_, body, rh) = router.route("", countUsers, noHdr)
    assert(body == """{"n":4}""")
    assert(rh("x-helix-served-by").startsWith("reader-"))
    assert(rh("x-graft-wal-position") == "1")
  }

  test("reads round-robin across replicas; require-writer overrides to the writer") {
    val router = new Router(spark, walRoot(), numReaders = 2)
    val served = (1 to 4).map(_ => router.route("", countUsers, noHdr).headers("x-helix-served-by"))
    assert(served.toSet == Set("reader-0", "reader-1"))
    assert(served(0) != served(1)) // alternates
    val Router.Routed(_, _, h) = router.route("", countUsers,
      n => if (n == "x-helix-require-writer") Some("true") else None)
    assert(h("x-helix-served-by") == "writer")
  }

  test("stale reads skip catch-up; min-position forces it (read-your-writes)") {
    val router = new Router(spark, walRoot(), numReaders = 1)
    router.route("", addN("Dana"), noHdr) // replica still at position 0
    val Router.Routed(_, stale, sh) = router.route("", countUsers,
      n => if (n == "x-graft-stale") Some("true") else None)
    assert(stale == """{"n":3}""") // served the pre-write view
    assert(sh("x-graft-wal-position") == "0")
    // pinning the write's position forces catch-up even on a stale read
    val Router.Routed(_, fresh, fh) = router.route("", countUsers, n => n match {
      case "x-graft-stale" => Some("true")
      case "x-graft-min-position" => Some("1")
      case _ => None
    })
    assert(fresh == """{"n":4}""")
    assert(fh("x-graft-wal-position") == "1")
  }

  test("replica catch-up is incremental and survives a writer checkpoint") {
    val dir = walRoot()
    var st = GraphWal.openReplica(spark, dir)
    assert(st.position == 0)
    assert(GraphWal.advanceReplica(spark, dir, st) eq st) // unchanged log: no-op fast path

    val router = new Router(spark, dir, numReaders = 1)
    router.route("", addN("Dana"), noHdr)
    router.route("", addN("Eve"), noHdr)
    st = GraphWal.advanceReplica(spark, dir, st) // incremental: replays 2 segments
    assert(st.position == 2)

    // writer checkpoints (snapshot flips, log truncates), then writes more
    GraphWal.checkpoint(router.writer.currentStore, dir)
    router.route("", addN("Frank"), noHdr)
    st = GraphWal.advanceReplica(spark, dir, st) // snapshot flip: full reopen
    assert(st.position == 3)
    val names = st.served.nodesFor("ParityUser").select("name")
      .collect().map(_.getString(0)).toSet
    assert(Set("Dana", "Eve", "Frank").subsetOf(names))
    // the router's own replica converges to the same position
    router.route("", countUsers, noHdr)
    assert(router.readerPositions == Seq(3L))
  }

  test("writer writes spare reader artifacts; refresh migrates untouched labels") {
    import graft.search.IndexCache
    val name = graft.ast.IndexSpec.NodeText("ParityUser", "name", None)
    val dir = java.nio.file.Files.createTempDirectory("grouter").toString
    GraphWal.checkpoint(TestBase.parityGraph().withIndexes(Set(name)), dir)
    val router = new Router(spark, dir, numReaders = 1)
    val rv0 = router.readerVersions.head
    val users = TestBase.parityGraph().nodesFor("ParityUser")
    val (p1, _) = IndexCache.textIndex(IndexCache.Key(rv0, name), users)
    // a write to a DIFFERENT label must not cold-start the reader's
    // ParityUser artifact (writer eviction spares live reader versions)
    router.route("",
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"c",
        "steps":[{"AddN":{"label":"Other","properties":[]}}],"condition":null}}],
        "returns":["c"]},"parameters":{}}""", noHdr)
    val (p2, _) = IndexCache.textIndex(IndexCache.Key(rv0, name),
      sys.error("artifact was evicted"): org.apache.spark.sql.DataFrame)
    assert(p2 eq p1)
    // refresh replays the write; ParityUser kept reference identity, so
    // its artifact migrates to the reader's NEW version (no rebuild)
    router.route("", countUsers, noHdr)
    val rv1 = router.readerVersions.head
    assert(rv1 != rv0)
    val (p3, _) = IndexCache.textIndex(IndexCache.Key(rv1, name),
      sys.error("artifact was not migrated"): org.apache.spark.sql.DataFrame)
    assert(p3 eq p1)
  }

  test("concurrent reads during writes: every response is a consistent count") {
    val router = new Router(spark, walRoot(), numReaders = 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    try {
      val writerTask = pool.submit(new Runnable {
        override def run(): Unit =
          (1 to 4).foreach(i => router.route("", addN(s"W$i"), noHdr))
      })
      val readerTasks = (1 to 4).map(_ => pool.submit(new Runnable {
        override def run(): Unit = (1 to 5).foreach { _ =>
          val body = router.route("", countUsers, noHdr).body
          if (body.startsWith("{\"n\":")) counts.add(body.stripPrefix("{\"n\":").stripSuffix("}").toLong)
          else errors.add(body)
        }
      }))
      writerTask.get(); readerTasks.foreach(_.get())
      assert(errors.isEmpty, s"errors: $errors")
      import scala.jdk.CollectionConverters._
      // every observed count is a real store state: between the base 3
      // and 3 + 4 writes, and the final read sees all of them
      assert(counts.asScala.forall(c => c >= 3 && c <= 7), counts.asScala.toSeq)
      val fin = router.route("", countUsers, noHdr).body
      assert(fin == """{"n":7}""")
    } finally pool.shutdown()
  }

  test("stored routes dispatch by their write bit; HTTP surface serves cluster status") {
    val dir = walRoot()
    val router = new Router(spark, dir, port = 16990, numReaders = 1)
    val read = graft.ast.Json.parseRequest(countUsers)
    val write = graft.ast.Json.parseRequest(addN("Gail"))
    router.registerQuery("cnt", read.batch)
    router.registerQuery("mk", write.batch)
    val Router.Routed(_, _, rh) = router.route("cnt", "{}", noHdr)
    assert(rh("x-helix-served-by") == "reader-0")
    val Router.Routed(_, _, wh) = router.route("mk", "{}", noHdr)
    assert(wh("x-helix-served-by") == "writer")
    assert(wh("x-graft-wal-position") == "1")

    router.start()
    try {
      def get(path: String): String = {
        val conn = new java.net.URL(s"http://localhost:16990$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      }
      def post(path: String, body: String): (String, String) = {
        val conn = new java.net.URL(s"http://localhost:16990$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        (new String(conn.getInputStream.readAllBytes(), "UTF-8"),
          conn.getHeaderField("x-helix-served-by"))
      }
      val (body, servedBy) = post("/v1/query", countUsers)
      assert(body == """{"n":4}""") // Gail visible: read refreshed past the write
      assert(servedBy == "reader-0")
      val status = get("/v1/cluster")
      assert(status.contains(""""wal_position":1"""))
      assert(status.contains(""""reader-0":1"""))
      // deploy over HTTP reaches writer and replicas: the stored read
      // then serves from a reader
      val (dep, _) = post("/v1/deploy", router.writer.renderBundle)
      assert(dep.startsWith("""{"deployed":"""), dep)
      val (cnt, by) = post("/v1/query/cnt", "{}")
      assert(cnt == """{"n":4}""" && by == "reader-0", s"$cnt $by")
      // aggregated counters: the writer saw the mk write, reader-0 the
      // stored + inline reads
      val m = get("/metrics")
      assert(m.contains(""""writer":{"""), m)
      assert(m.contains(""""reader-0":{"""), m)
      assert(m.contains(""""wal_position":1"""), m)
    } finally router.stop()
  }

  test("NDJSON streaming passes through the router: replica-served rows, write fallback, 400 contract") {
    val dir = walRoot()
    val router = new Router(spark, dir, port = 16994, numReaders = 1)
    router.registerQuery("names", graft.ast.Json.parseRequest(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"names",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["names"]},"parameters":{}}""").batch)
    router.start()
    try {
      def post(path: String, body: String, stream: Boolean)
          : (Int, String, String) = {
        val conn = new java.net.URL(s"http://localhost:16994$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        if (stream) conn.setRequestProperty("x-graft-stream", "ndjson")
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"),
          conn.getHeaderField("x-helix-served-by"))
      }
      // inline streamed read: NDJSON rows, replica-served, position ack
      val (c1, b1, by1) = post("/v1/query", countUsers, stream = true)
      assert(c1 == 200 && by1 == "reader-0", s"$c1 $by1")
      assert(b1.trim == """{"result":"n","row":{"cnt":3}}""", b1)
      // stored streamed read serves row-per-line and warms the route
      val (c2, b2, by2) = post("/v1/query/names", "{}", stream = true)
      assert(c2 == 200 && by2 == "reader-0")
      val lines = b2.split("\n").filter(_.nonEmpty)
      assert(lines.length == 3 && lines.head.contains("Alice"), b2)
      // a write with the streaming opt-in falls back to the buffered
      // mutation summary, served by the writer
      val (c3, b3, by3) = post("/v1/query", addN("Hana"), stream = true)
      assert(c3 == 200 && by3 == "writer" && b3.contains("Hana"), s"$c3 $b3")
      // client errors keep the shared 400 contract on the stream path
      val (c4, b4, _) = post("/v1/query", "not json", stream = true)
      assert(c4 == 400 && b4.contains("error"), s"$c4 $b4")
      val (c5, b5, _) = post("/v1/query/nosuch", "{}", stream = true)
      assert(c5 == 400 && b5.contains("error"), s"$c5 $b5")
    } finally router.stop()
  }

  test("concurrent NDJSON streams with an interleaved write: completeness, read-your-writes, no leaked jobs") {
    val dir = walRoot()
    val router = new Router(spark, dir, port = 16995, numReaders = 2,
      workerThreads = 12)
    router.registerQuery("names", graft.ast.Json.parseRequest(
      """{"request_type":"read","query":{"queries":[{"Query":{"name":"names",
        "steps":[{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}],
        "condition":null}}],"returns":["names"]},"parameters":{}}""").batch)
    router.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    try {
      def post(path: String, body: String, stream: Boolean,
          minPos: Long = -1L): (Int, String, String, String) = {
        val conn = new java.net.URL(s"http://localhost:16995$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        if (stream) conn.setRequestProperty("x-graft-stream", "ndjson")
        if (minPos >= 0)
          conn.setRequestProperty("x-graft-min-position", minPos.toString)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"),
          conn.getHeaderField("x-helix-served-by"),
          conn.getHeaderField("x-graft-wal-position"))
      }
      import scala.jdk.CollectionConverters._
      // phase 1: 5 simultaneous streams of the 3-row base corpus —
      // every stream must arrive COMPLETE (no dropped or interleaved
      // lines across concurrent exchanges)
      val phase1 = (1 to 5).map(_ => pool.submit(
        new java.util.concurrent.Callable[(Int, String, String, String)] {
          override def call() = post("/v1/query/names", "{}", stream = true)
        }))
      phase1.map(_.get()).foreach { case (code, body, by, _) =>
        assert(code == 200 && by.startsWith("reader-"), s"$code $by")
        val lines = body.split("\n").filter(_.nonEmpty)
        assert(lines.length == 3, s"incomplete stream: $body")
        assert(lines.exists(_.contains("Alice")), body)
      }
      // interleaved write while 5 more streams are in flight; its ack
      // position is the read-your-writes pin
      val inflight = (1 to 5).map(_ => pool.submit(
        new java.util.concurrent.Callable[(Int, String, String, String)] {
          override def call() = post("/v1/query/names", "{}", stream = true)
        }))
      val (wc, _, wby, wpos) = post("/v1/query", addN("Zed"), stream = false)
      assert(wc == 200 && wby == "writer" && wpos == "1", s"$wc $wby $wpos")
      // the in-flight unpinned streams are each a complete snapshot of
      // SOME committed state: exactly 3 or 4 rows, never a torn set
      inflight.map(_.get()).foreach { case (code, body, _, _) =>
        val lines = body.split("\n").filter(_.nonEmpty)
        assert(code == 200 && (lines.length == 3 || lines.length == 4),
          s"torn stream: $body")
        if (lines.length == 4) assert(lines.exists(_.contains("Zed")), body)
      }
      // phase 2: 5 simultaneous position-pinned streams — every one
      // must see the write (read-your-writes holds under concurrency,
      // across both replicas)
      val phase2 = (1 to 5).map(_ => pool.submit(
        new java.util.concurrent.Callable[(Int, String, String, String)] {
          override def call() =
            post("/v1/query/names", "{}", stream = true, minPos = 1L)
        }))
      val served2 = phase2.map(_.get()).map { case (code, body, by, pos) =>
        val lines = body.split("\n").filter(_.nonEmpty)
        assert(code == 200 && lines.length == 4, s"stale pinned stream: $body")
        assert(lines.exists(_.contains("Zed")), body)
        assert(pos.toLong >= 1L, s"ack position $pos")
        by
      }
      assert(served2.toSet.subsetOf(Set("reader-0", "reader-1")), served2)
      // no leaked Spark work: every stream's job group was cleared and
      // its jobs finished — the scheduler drains to zero active jobs
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def active() = spark.sparkContext.statusTracker.getActiveJobIds()
      while (active().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(active().isEmpty, s"leaked jobs: ${active().toSeq}")
    } finally { pool.shutdown(); router.stop() }
  }

  test("API key: keyed router rejects missing/wrong bearer, accepts the key; health open") {
    val router = new Router(spark, walRoot(), port = 16991, numReaders = 1,
      apiKey = Some("sekrit"))
    router.start()
    try {
      def post(path: String, auth: Option[String]): (Int, String) = {
        val conn = new java.net.URL(s"http://localhost:16991$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        auth.foreach(a => conn.setRequestProperty("Authorization", a))
        conn.getOutputStream.write(countUsers.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
        (code, new String(in.readAllBytes(), "UTF-8"))
      }
      assert(post("/v1/query", None) == (401, """{"error":"unauthorized"}"""))
      assert(post("/v1/query", Some("Bearer wrong"))._1 == 401)
      assert(post("/v1/query", Some("sekrit"))._1 == 401) // scheme required
      val (okCode, okBody) = post("/v1/query", Some("Bearer sekrit"))
      assert(okCode == 200 && okBody == """{"n":3}""", s"$okCode $okBody")
      assert(post("/v1/deploy", None)._1 == 401)
      // health/observability stay keyless
      val health = new java.net.URL("http://localhost:16991/v1/cluster")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(health.getResponseCode == 200)
    } finally router.stop()
  }

  test("keyless router keeps serving unauthenticated (local-container default)") {
    val router = new Router(spark, walRoot(), port = 16992, numReaders = 1)
    router.start()
    try {
      val conn = new java.net.URL("http://localhost:16992/v1/query")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(countUsers.getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      assert(new String(conn.getInputStream.readAllBytes(), "UTF-8") == """{"n":3}""")
    } finally router.stop()
  }

  test("transport: keep-alive responses skip the delayed-ACK stall and keep their JSON status") {
    val port = freePort()
    val router = new Router(spark, walRoot(), port = port, numReaders = 1,
      apiKey = Some("k3y"))
    router.start()
    try {
      val ms = medianGetMs(port, "/metrics")
      assert(ms < 20.0, s"median keep-alive /metrics round trip $ms ms")
      val key = Some("Bearer k3y")
      val cases = Seq(
        200 -> exchange(port, "POST", "/v1/query", Some(countUsers), key),
        400 -> exchange(port, "POST", "/v1/query", Some("{nope"), key),
        401 -> exchange(port, "POST", "/v1/query", Some(countUsers)),
        200 -> exchange(port, "GET", "/v1/cluster"),
        400 -> exchange(port, "POST", "/v1/deploy", Some("{nope"), key))
      cases.foreach { case (want, (code, ctype, body, _)) =>
        assert(code == want && ctype == "application/json", s"$want: $code $ctype $body")
      }
      assert(cases.head._2._3 == """{"n":3}""")
    } finally router.stop()
  }
}

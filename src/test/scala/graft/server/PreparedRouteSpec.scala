package graft.server

import com.fasterxml.jackson.databind.ObjectMapper

import graft.{GraftSuite, TestBase}
import graft.ast._
import graft.dsl.Dsl._
import graft.dsl.Tr
import graft.exec.BatchExecutor
import graft.model.{GraphStore, GraphWal, TestGraph}

/** A stored read served from its prepared plan answers byte for byte as
  * a fresh build of the same request does, on both sinks, across writes,
  * redeploys, DDL batches and replica refreshes, and every
  * never-prepare case takes the full path and says why in `/metrics`.
  */
class PreparedRouteSpec extends GraftSuite {
  import PropertyValue._

  /** The sf0.001 test tables, under `~/testdata` as servebench finds sf0.1. */
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"
  private val mapper = new ObjectMapper()

  private def batchOf(name: String, t: Tr, write: Boolean = false): Batch =
    Batch(Seq(BatchEntry.Query(NamedQuery(Some(name), t.t))), returns = Seq(name), write = write)

  // the serving benchmark's two routes
  private val byKey = g().nWithLabelWhere("Customer", Predicate.EqExpr("c_custkey", Expr.Param("key")))
  private val point = batchOf("c", byKey.values("c_custkey", "c_name", "c_acctbal"))
  private val hop = batchOf("o", byKey.out("PLACED").values("o_orderkey", "o_totalprice"))
  private val keyTy = Seq("key" -> Json.Scalar("I64"))

  private def lookups(): Gateway = {
    val gw = new Gateway(TestGraph(spark, dir))
    gw.registerQuery("point", point, keyTy)
    gw.registerQuery("hop", hop, keyTy)
    gw
  }

  private def key(k: Long): String = s"""{"key":$k}"""

  /** A failure as a comparable answer. */
  private def answer(f: => String): String =
    try f catch { case e: Exception => s"error: ${e.getMessage}" }

  /** The body `render` writes into a buffered or an NDJSON sink. */
  private def sunk(stream: Boolean)(render: Gateway.Sink => Unit): String =
    if (stream) {
      val out = new java.io.ByteArrayOutputStream
      render(new Gateway.Ndjson(() => out))
      out.toString("UTF-8")
    } else {
      val b = new Gateway.Buffered(10000)
      render(b)
      b.body
    }

  /** A fresh full build of `req` on `store`, rendered. */
  private def fresh(store: GraphStore, req: Gateway.Request, stream: Boolean): String =
    sunk(stream)(_.render(new BatchExecutor(store, req.params).execute(req.batch).results))

  /** The answer of `gw` to stored route `route` with `body`, and the
    * answer of a fresh full build of the same request on `gw`'s store.
    */
  private def servedAndFresh(gw: Gateway, route: String, body: String,
      stream: Boolean = false): (String, String) = {
    val req = gw.resolve(route, body, Gateway.Steering.Plain)
    (answer(sunk(stream)(gw.serve(req, _))), answer(fresh(gw.currentStore, req, stream)))
  }

  private def assertParity(gw: Gateway, route: String, body: String,
      stream: Boolean = false): String = {
    val (got, want) = servedAndFresh(gw, route, body, stream)
    assert(got == want, s"$route $body stream=$stream")
    got
  }

  private val reasons = Seq("shape", "driver_read", "slot_count", "clock", "value_type")

  private def counters(gw: Gateway): Map[String, Long] = {
    val m = mapper.readTree(gw.metricsJson)
    val c = m.get("caches").get("prepared_routes")
    val f = m.get("prepared_fallbacks")
    Map("hits" -> c.get("hits").asLong, "misses" -> c.get("misses").asLong) ++
      reasons.map(r => r -> f.get(r).asLong)
  }

  /** `f`'s result and the change it made to the prepared-route counters
    * (zero changes left out).
    */
  private def delta[T](gw: Gateway)(f: => T): (T, Map[String, Long]) = {
    val before = counters(gw)
    val r = f
    (r, counters(gw).map { case (k, v) => k -> (v - before(k)) }.filter(_._2 != 0))
  }

  test("prepared and fresh builds answer byte-identically for 50 random keys per route, on both sinks") {
    val gw = lookups()
    val rnd = new scala.util.Random(11)
    val keys = Seq.fill(50)(1L + rnd.nextInt(160)) // keys past 150 find no customer
    val (found, d) = delta(gw) {
      for (route <- Seq("point", "hop"); stream <- Seq(false, true); k <- keys)
        yield assertParity(gw, route, key(k), stream)
    }
    assert(found.count(_.contains("o_orderkey")) > 50, found.take(3))
    assert(d == Map("misses" -> 2, "hits" -> (4 * 50 - 2)), d)
  }

  test("a prepared hit plans only: no analysis or optimization phase, no extra job") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    val user = g().nWithLabelWhere("ParityUser", Predicate.EqExpr("externalId", Expr.Param("x")))
    gw.registerQuery("user", batchOf("u", user.valueMap("externalId", "name")))
    val (_, missJobs) = countJobs(gw.handleStored("user", """{"x":"u1"}"""))
    val (hit, hitJobs) = countJobs(gw.handleStored("user", """{"x":"u2"}"""))
    var out = ""
    val plans = plansOf { out = gw.handleStored("user", """{"x":"u3"}""") }
    assert(hit.contains("Bob") && out.contains("Carol") && !out.contains("Alice"), out)
    val phases = plans.map(_.tracker.phases.keySet)
    assert(phases.nonEmpty && phases.forall(p => p.contains("planning") &&
      !p.contains("analysis") && !p.contains("optimization")), phases)
    assert(hitJobs <= missJobs, s"hit $hitJobs jobs, miss $missJobs")
  }

  test("two threads serving the hop for different keys in turn each get a fresh build's body") {
    val gw = lookups()
    gw.handleStored("hop", key(1))
    val keys = (1L to 30L).grouped(2).toSeq.transpose
    val got = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = keys.map { ks =>
      new Thread(() => ks.foreach { k =>
        try got.put(k, gw.handleStored("hop", key(k))) catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, failures)
    keys.flatten.foreach { k =>
      val req = gw.resolve("hop", key(k), Gateway.Steering.Plain)
      assert(got.get(k) == fresh(gw.currentStore, req, stream = false), s"key $k")
    }
  }

  test("a write, a redeploy and an index-only DDL batch each serve from a new plan") {
    val gw = lookups()
    gw.handleStored("point", key(1)); gw.handleStored("hop", key(1))
    def write(label: String, props: (String, PropertyValue)*): Map[String, Long] = {
      gw.registerQuery("add", batchOf("w", g().addN(label, props: _*), write = true))
      delta(gw)(gw.handleStored("add", ""))._2
    }
    def points(keys: Long*): (Seq[String], Map[String, Long]) =
      delta(gw)(keys.map(k => assertParity(gw, "point", key(k))))
    // a write to another label: the new snapshot gets its own plan
    assert(write("Region", "r_name" -> VString("ATLANTIS")) == Map("shape" -> 1))
    assert(points(2, 3)._2 == Map("misses" -> 1, "hits" -> 1))

    gw.registerQuery("point", batchOf("c", byKey.values("c_name")), keyTy)
    val (redeployed, r) = points(4, 5)
    assert(redeployed.forall(!_.contains("c_custkey")) && r == Map("misses" -> 1, "hits" -> 1), r)

    val before = gw.currentStore
    gw.registerQuery("ddl", Batch(Seq(BatchEntry.Query(NamedQuery(Some("ix"), Traversal(Vector(
      Step.CreateIndex(IndexSpec.NodeEquality("Customer", "c_name"), ifNotExists = true)))))),
      returns = Seq("ix"), write = true))
    gw.handleStored("ddl", "")
    assert((gw.currentStore ne before) && gw.currentStore.version == before.version)
    assert(points(6, 7)._2 == Map("misses" -> 1, "hits" -> 1))

    // a write to the route's own label: its overlay's rows filter at
    // optimization time, so the route takes the full path
    write("Customer", "c_custkey" -> VI64(900001), "c_name" -> VString("Customer#900001"))
    val (after, d) = points(900001, 900001, 2)
    assert(after.head.contains("Customer#900001") && d == Map("slot_count" -> 3), d)
    Seq(2L, 3L).foreach(k => assertParity(gw, "hop", key(k), stream = true))
  }

  test("a Router replica serves a new plan after it refreshes past a write") {
    val wal = java.nio.file.Files.createTempDirectory("prepared-router").toString
    GraphWal.checkpoint(TestBase.parityGraph(), wal)
    val router = new Router(spark, wal, port = freePort(), numReaders = 1)
    val byName = g().nWithLabelWhere("ParityUser", Predicate.EqExpr("name", Expr.Param("name")))
    val user = batchOf("u", byName.values("name", "age"))
    router.registerQuery("user", user)
    def inline(b: Batch, params: String) =
      s"""{"request_type":"${if (b.write) "write" else "read"}",""" +
        s""""query":${mapper.writeValueAsString(Json.writeBatchObj(b))},"parameters":$params}"""
    def ask(name: String): (String, String) = {
      val p = s"""{"name":"$name"}"""
      (router.route("user", p, _ => None).body, router.route("", inline(user, p), _ => None).body)
    }
    def write(b: Batch) = assert(router.route("", inline(b, "{}"), _ => None).status == 200)
    def asked(names: String*): (Seq[String], Map[String, Long]) = delta(router.writer) {
      names.map { n => val (got, want) = ask(n); assert(got == want, n); got }
    }
    assert(asked("Alice", "Bob")._2 == Map("misses" -> 1, "hits" -> 1))
    // the replica refreshes past each write: a new snapshot, a new plan
    write(batchOf("w", g().addN("Tag", "name" -> VString("t")), write = true))
    val (before, d) = asked("Dana", "Carol")
    assert(before.head == """{"u":[]}""" && d == Map("misses" -> 1, "hits" -> 1), (before, d))
    // a write to the route's label: the full path, which sees it
    write(batchOf("w", g().addN("ParityUser", "name" -> VString("Dana"), "age" -> VI64(30)),
      write = true))
    val (after, r) = asked("Dana", "Carol")
    assert(after.head.contains("Dana") && r == Map("slot_count" -> 2), (after, r))
  }

  /** Serves `route` twice per body on `gw`, each answer equal to a fresh
    * build's, and returns the change to the counters.
    */
  private def twice(gw: Gateway, route: String, bodies: String*): Map[String, Long] =
    delta(gw)(bodies.foreach { b =>
      assertParity(gw, route, b); assertParity(gw, route, b, stream = true)
    })._2

  test("never prepared: a batch that is not one unconditional returned entry, or an ordered result") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    val users = g().nWithLabelWhere("ParityUser", Predicate.GteExpr("age", Expr.Param("min")))
    gw.registerQuery("two", Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("a"), users.values("name").t)),
      BatchEntry.Query(NamedQuery(Some("b"), users.count().t))), returns = Seq("a", "b")))
    gw.registerQuery("sorted", batchOf("s", users.orderBy("name").values("name")))
    assert(twice(gw, "two", """{"min":30}""") == Map("shape" -> 2))
    assert(twice(gw, "sorted", """{"min":30}""", """{"min":20}""") == Map("shape" -> 4))
  }

  test("never prepared: a parameter read on the driver") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    gw.registerQuery("byId", batchOf("n", Tr(Traversal(Vector(Step.N(NodeRef.Param("id")))))
      .values("name")))
    gw.registerQuery("first", batchOf("n", g().nWithLabel("ParityUser").orderBy("name")
      .limitBy(Expr.Param("n")).values("name")))
    gw.registerQuery("among", batchOf("n", g().nWithLabelWhere("ParityUser",
      Predicate.IsInExpr("$id", Expr.Param("ids"))).values("name")))
    gw.registerQuery("each", Batch(Seq(BatchEntry.ForEach("xs", Seq(BatchEntry.Query(
      NamedQuery(Some("n"), g().nWithLabelWhere("ParityUser",
        Predicate.EqExpr("name", Expr.Param("x"))).values("age").t))))), returns = Seq("n")))
    assert(twice(gw, "byId", """{"id":1}""", """{"id":2}""") == Map("driver_read" -> 4))
    assert(twice(gw, "among", """{"ids":[1,2]}""", """{"ids":[3]}""") == Map("driver_read" -> 4))
    assert(twice(gw, "first", """{"n":1}""", """{"n":2}""") == Map("driver_read" -> 4))
    assert(twice(gw, "each", """{"xs":[{"x":"Bob"}]}""") == Map("shape" -> 2))
  }

  test("never prepared: a slot that a rule folds into a plain literal") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    gw.registerQuery("older", batchOf("n", g().nWithLabelWhere("ParityUser",
      Predicate.GtExpr("age", Expr.Add(Expr.Param("min"), Expr.Constant(VI64(1))))).values("name")))
    assert(twice(gw, "older", """{"min":30}""", """{"min":40}""") == Map("slot_count" -> 4))
    // a string compared with a number: the cast over the slot folds
    gw.registerQuery("aged", batchOf("n", g().nWithLabelWhere("ParityUser",
      Predicate.GteExpr("age", Expr.Param("min"))).values("name")))
    assert(twice(gw, "aged", """{"min":"30"}""", """{"min":"40"}""") == Map("slot_count" -> 4))
  }

  test("never prepared: a plan that reads the clock") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    gw.registerQuery("past", batchOf("n", g().nWithLabelWhere("ParityUser", Predicate.And(Seq(
      Predicate.EqExpr("name", Expr.Param("name")),
      Predicate.LtExpr("age", Expr.Timestamp)))).values("name")))
    assert(twice(gw, "past", """{"name":"Bob"}""", """{"name":"Carol"}""") ==
      Map("clock" -> 4))
  }

  test("never prepared: a value that is missing, null or of another type than its slot") {
    val gw = new Gateway(TestBase.parityGraphOnDisk())
    gw.registerQuery("aged", batchOf("n", g().nWithLabelWhere("ParityUser",
      Predicate.GteExpr("age", Expr.Param("min"))).values("name")))
    val (_, d) = delta(gw)(assertParity(gw, "aged", """{"min":30}"""))
    assert(d == Map("misses" -> 1), d)
    assert(twice(gw, "aged", """{"min":30.5}""", """{"min":null}""", "{}") ==
      Map("hits" -> 6, "value_type" -> 6))
    assert(twice(gw, "aged", """{"min":40}""") == Map("hits" -> 2))
  }
}

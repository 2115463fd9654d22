package graft

import org.apache.spark.sql.DataFrame

import graft.ast._
import graft.dsl.Dsl._
import graft.model.{EdgeMeta, GraphStore, GraphWal}
import graft.search.{BM25, IndexCache}
import graft.server.{Gateway, Router}

/** The declared-index artifact cache: what an entry is keyed on, and
  * when the carry step (IndexCache.advance) moves, merges or releases
  * it on the writer and on a read replica.
  */
class IndexCacheSpec extends GraftSuite {

  private def request(batch: Batch): String =
    Json.writeRequest(Json.Request(batch.write, None, batch, Map.empty))

  private def query(t: Traversal, write: Boolean = false): String =
    request(Batch(Seq(BatchEntry.Query(NamedQuery(Some("r"), t))), Seq("r"), write))

  /** Node label X and edge label X, both with a `text` property. */
  private def sameNamedLabels(): GraphStore = {
    val s = spark
    import s.implicits._
    val nodes = Seq((1L, "X", "alpha one"), (2L, "X", "beta two"))
      .toDF("_id", "_label", "text")
    val edges = Seq((10L, "X", 1L, 2L, "delta three"), (11L, "X", 2L, 1L, "delta four"))
      .toDF("_id", "_label", "_src", "_dst", "text")
    new GraphStore(s, Map("X" -> nodes), Map("X" -> edges),
      Map("X" -> EdgeMeta(Set("X"), Set("X"))))
      .withIndexes(Set(IndexSpec.NodeText("X", "text"), IndexSpec.EdgeText("X", "text")))
  }

  test("a node and an edge label of one name keep their own postings, whichever search runs first") {
    def search(store: GraphStore, edges: Boolean, q: String): Seq[Long] = {
      val t = if (edges) g().textSearchEdges("X", "text", q, 5) else g().textSearchNodes("X", "text", q, 5)
      TestBase.compiler(store).run(t.id().t).collect().map(_.getLong(0)).sorted.toSeq
    }
    val edgesFirst = sameNamedLabels()
    assert(search(edgesFirst, edges = true, "delta") == Seq(10L, 11L))
    assert(search(edgesFirst, edges = false, "alpha") == Seq(1L))
    val nodesFirst = sameNamedLabels()
    assert(search(nodesFirst, edges = false, "alpha") == Seq(1L))
    assert(search(nodesFirst, edges = true, "delta") == Seq(10L, 11L))
  }

  test("durable artifacts of a node and an edge label of one name load apart") {
    val dir = java.nio.file.Files.createTempDirectory("gsame-named").toString
    val store = sameNamedLabels()
    graft.model.GraphPersistence.save(store, dir)
    graft.search.IndexArtifacts.save(store, dir)
    val loaded = graft.model.GraphPersistence.load(spark, dir)
    assert(graft.search.IndexArtifacts.load(spark, dir, loaded) == 2)
    val builds = IndexCache.textBuilds.get()
    def search(edges: Boolean, q: String): Seq[Long] = {
      val t = if (edges) g().textSearchEdges("X", "text", q, 5) else g().textSearchNodes("X", "text", q, 5)
      TestBase.compiler(loaded).run(t.id().t).collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(search(edges = false, "alpha") == Seq(1L))
    assert(search(edges = true, "delta") == Seq(10L, 11L))
    assert(IndexCache.textBuilds.get() == builds, "both searches serve the loaded postings")
  }

  test("a node search takes its tenant column from node indexes only") {
    val s = spark
    import s.implicits._
    val nodes = Seq((1L, "X", "alpha one", "t1"), (2L, "X", "alpha two", "t2"))
      .toDF("_id", "_label", "text", "tenant")
    val edges = Seq((10L, "X", 1L, 2L, "alpha three", "t1"))
      .toDF("_id", "_label", "_src", "_dst", "text", "org")
    // only the same-named EDGE label declares a tenant property
    val store = new GraphStore(s, Map("X" -> nodes), Map("X" -> edges),
      Map("X" -> EdgeMeta(Set("X"), Set("X"))))
      .withIndexes(Set(IndexSpec.EdgeText("X", "text", Some("org"))))
    val t1 = Some(PropertyValue.VString("t1"))
    assert(TestBase.compiler(store).run(g().textSearchNodes("X", "text", "alpha", 5, t1).id().t)
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("a dropped index redeclared with another tenant property serves the new declaration") {
    val untenanted = IndexSpec.NodeText("ParityUser", "bio", None)
    val tenanted = IndexSpec.NodeText("ParityUser", "bio", Some("tenantId"))
    def search(tenant: Option[String]) = query(g().textSearchNodes("ParityUser", "bio",
      "vector search", 3, tenant.map(v => PropertyValue.VString(v))).values("name").t)
    for ((from, to, tenant) <- Seq((untenanted, tenanted, Some("t1")),
        (tenanted, untenanted, None))) {
      val gw = new Gateway(TestBase.parityGraph().withIndexes(Set(from)))
      // build the first declaration's postings under the store's version
      gw.handle(search(from.tenantProperty.map(_ => "t1")))
      val version = gw.currentStore.version
      gw.handle(query(Traversal(Vector(Step.DropIndex(from),
        Step.CreateTextIndexNodes("ParityUser", "bio", to.tenantProperty))), write = true))
      assert(gw.currentStore.version == version, "index DDL keeps the store version")
      val fresh = new Gateway(TestBase.parityGraph().withIndexes(Set(to)))
      assert(gw.handle(search(tenant)) == fresh.handle(search(tenant)), s"$from -> $to")
    }
  }

  test("with verifyAppendContent, the carry step rebuilds a same-id text rewrite instead of merging") {
    val s = spark
    import s.implicits._
    val spec = IndexSpec.NodeText("D", "text")
    val before = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("_id", "text")
    // equal row count, one `_id` rewrites its indexed text: the count
    // gate passes, only the content check can see it
    val after = Seq((1L, "alpha beta"), (2L, "delta epsilon")).toDF("_id", "text")
    def scores(a: (DataFrame, DataFrame)) =
      BM25.scoreFromIndex(a._1, a._2, "delta").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def carry(spec: IndexSpec.NodeText, before: DataFrame,
        after: DataFrame): (Int, (DataFrame, DataFrame)) = {
      val prev = new GraphStore(s, Map("D" -> before), Map.empty, Map.empty).withIndexes(Set(spec))
      val next = prev.withNodes("D", after)
      IndexCache.textIndex(IndexCache.Key(prev.version, spec), before)
      IndexCache.advance(prev, next, appendOnly = true)
      val builds = IndexCache.textBuilds.get()
      val served = IndexCache.textIndex(IndexCache.Key(next.version, spec), after)
      (IndexCache.textBuilds.get() - builds, served)
    }
    // a tenant-partitioned index: one `_id` moves to another tenant and
    // keeps its text
    val tenanted = IndexSpec.NodeText("D", "text", Some("tenant"))
    val beforeT = Seq((1L, "alpha beta", "t1"), (2L, "beta gamma", "t1"))
      .toDF("_id", "text", "tenant")
    val afterT = Seq((1L, "alpha beta", "t1"), (2L, "beta gamma", "t2"))
      .toDF("_id", "text", "tenant")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    try {
      // off (the default): the rewrite passes the count gate and merges
      assert(carry(spec, before, after)._1 == 0)
      assert(carry(tenanted, beforeT, afterT)._1 == 0)
      spark.conf.set("graft.index.verifyAppendContent", "true")
      val (rebuilds, served) = carry(spec, before, after)
      assert(rebuilds == 1, "the content check must force a rebuild, not a merge")
      assert(scores(served) == scores(BM25.buildIndex(after, "text")) &&
        scores(served).keySet == Set(2L))
      val (rebuildsT, servedT) = carry(tenanted, beforeT, afterT)
      assert(rebuildsT == 1, "a tenant move must force a rebuild, not a merge")
      val fresh = BM25.buildIndex(afterT, "text", Some("tenant"))
      assert(rows(servedT._1) == rows(fresh._1) && rows(servedT._2) == rows(fresh._2))
    } finally {
      spark.conf.unset("graft.index.verifyAppendContent")
      IndexCache.evictOthers("none")
    }
  }

  test("through a Gateway, write-and-search rounds keep entries for the current version only") {
    val bio = IndexSpec.NodeText("ParityUser", "bio", None)
    val gw = new Gateway(TestBase.parityGraph().withIndexes(Set(bio)))
    // Alice's bio matches, plus one written node per round
    val search = g().textSearchNodes("ParityUser", "bio", "graph", 50).count().t
    def addN(i: Int) = g().addN("ParityUser", "bio" -> PropertyValue.VString(s"graph round $i")).t
    var afterFirst = -1
    for (i <- 1 to 10) {
      gw.handle(query(addN(i), write = true))
      assert(gw.handle(query(search)) == s"""{"r":${i + 1}}""")
      if (i == 1) afterFirst = spark.sparkContext.getPersistentRDDs.size
    }
    // one batch that writes the label and then searches it
    assert(gw.handle(request(Batch(Seq(BatchEntry.Query(NamedQuery(Some("w"), addN(11))),
      BatchEntry.Query(NamedQuery(Some("r"), search))), Seq("r"), write = true))) == """{"r":12}""")
    assert(IndexCache.versions == Set(gw.currentStore.version),
      s"entries outside the current version: ${IndexCache.versions}")
    assert(spark.sparkContext.getPersistentRDDs.size == afterFirst)
    IndexCache.evictOthers("none")
  }

  test("through a Router, a stream-only refresh leaves no entry under the replica's previous version") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gcache-stream").toString
    GraphWal.checkpoint(TestBase.parityGraph()
      .withIndexes(Set(IndexSpec.NodeText("ParityUser", "bio", None))), dir)
    val sink = s"$dir/stream/ParityUser"
    def append(id: Long) = Seq((id, "ParityUser", s"zanzibar notes $id"))
      .toDF("_id", "_label", "bio").write.mode("append").parquet(sink)
    append(70L)
    GraphWal.attachStream(dir, "nodes", "ParityUser", sink)
    val router = new Router(spark, dir, numReaders = 1)
    val search = query(g().textSearchNodes("ParityUser", "bio", "zanzibar", 5).id().t)
    val noHdr: String => Option[String] = _ => None
    assert(router.route("", search, noHdr).body.contains("70"))
    val (rv0, builds) = (router.readerVersions.head, IndexCache.textBuilds.get())
    append(71L)
    val body = router.route("", search, noHdr).body
    assert(body.contains("70") && body.contains("71"), body)
    val rv1 = router.readerVersions.head
    assert(rv1 != rv0 && IndexCache.textBuilds.get() == builds, "expected the append merge")
    assert(!IndexCache.versions.contains(rv0) && IndexCache.versions.contains(rv1))
    IndexCache.evictOthers("none")
  }
}

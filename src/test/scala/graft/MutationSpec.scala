package graft

import graft.ast._
import graft.ast.PropertyValue._
import graft.dsl.Dsl._
import graft.exec.BatchExecutor
import graft.model.GraphStore

/** Write-batch semantics (SURVEY §2.8): mutations, read-your-writes,
  * conditions, foreach.
  */
class MutationSpec extends GraftSuite {

  test("AddN creates a node and becomes the stream") {
    val comp = TestBase.compiler(write = true)
    val created = comp.run(g().addN("ParityUser",
      "name" -> VString("Dave"), "age" -> VI64(50)).values("name").t)
    assert(rows(created) == Seq(Seq("Dave")))
    assert(singleLong(comp.run(g().nWithLabel("ParityUser").count().t)) == 4)
  }

  test("AddN bootstraps an empty store") {
    val comp = new graft.exec.Compiler(new GraphStore(spark),
      writeEnabled = true)
    comp.run(g().addN("Doc", "title" -> VString("hello")).t)
    assert(singleLong(comp.run(g().nWithLabel("Doc").count().t)) == 1)
  }

  test("AddE links current nodes to target ref") {
    val comp = TestBase.compiler(write = true)
    comp.run(g().n(3L).addE("FOLLOWS", NodeRef.Ids(Seq(1L)),
      "weight" -> VF64(0.7)).t)
    assert(singleLong(comp.run(g().eWithLabel("FOLLOWS").count().t)) == 3)
    assert(ids(comp.run(g().n(3L).out("FOLLOWS").id().t)) == Seq(1L))
  }

  test("SetProperty / RemoveProperty update matching nodes only") {
    val comp = TestBase.compiler(write = true)
    comp.run(g().n(1L).setProperty("city", VString("Oslo")).t)
    val cities = comp.run(g().nWithLabel("ParityUser").orderBy("$id").values("city").t)
    assert(rows(cities).map(_.head) == Seq("Oslo", "Paris", "Berlin"))
    comp.run(g().n(2L).removeProperty("city").t)
    val after = comp.run(g().nWithLabel("ParityUser").orderBy("$id").values("city").t)
    assert(rows(after).map(_.head) == Seq("Oslo", null, "Berlin"))
  }

  test("Drop cascades to incident edges") {
    val comp = TestBase.compiler(write = true)
    comp.run(g().n(2L).drop().t)
    assert(singleLong(comp.run(g().n().count().t)) == 2)
    assert(singleLong(comp.run(g().e().count().t)) == 0)
  }

  test("DropEdge / DropEdgeLabeled / DropEdgeById") {
    val comp = TestBase.compiler(write = true)
    comp.run(g().n(1L).t) // warm
    comp.run(Traversal(Vector(Step.N(NodeRef.Ids(Seq(1L))),
      Step.DropEdge(NodeRef.Ids(Seq(2L))))))
    assert(singleLong(comp.run(g().eWithLabel("FOLLOWS").count().t)) == 1)
    val comp2 = TestBase.compiler(write = true)
    comp2.run(Traversal(Vector(Step.E(EdgeRef.Ids(Seq(101L))), Step.DropEdgeById(EdgeRef.Ids(Seq(101L))))))
    assert(singleLong(comp2.run(g().e().count().t)) == 1)
  }

  test("SetProperty through a duplicate-visiting stream does not multiply rows") {
    val comp = TestBase.compiler(write = true)
    // make node 2 reachable twice: 1->2 exists; add 3->2
    comp.run(g().n(3L).addE("FOLLOWS", NodeRef.Ids(Seq(2L))).t)
    // n().out() now yields node 2 twice (from 1 and from 3)
    comp.run(g().n().out("FOLLOWS").setProperty("seen", VBool(true)).t)
    assert(singleLong(comp.run(g().nWithLabel("ParityUser").count().t)) == 3)
    val seen = comp.run(g().nWithLabel("ParityUser").orderBy("$id").values("seen").t)
    assert(rows(seen).map(_.head) == Seq(null, true, true))
  }

  test("AddE property can reference a current-element property") {
    val comp = TestBase.compiler(write = true)
    comp.run(Traversal(Vector(
      Step.N(NodeRef.Ids(Seq(1L))),
      Step.AddE("SCORED", NodeRef.Ids(Seq(2L)),
        Seq("w" -> PropertyInput.FromExpr(Expr.Property("score")))))))
    val w = comp.run(g().eWithLabel("SCORED").edgeProperties().t)
    assert(rows(w) == Seq(Seq(90.5))) // node 1's score, not null
  }

  test("AddE from a multi-node stream allocates unique ids without a global window") {
    val comp = TestBase.compiler(write = true)
    // 3 sources x 2 targets = 6 new edges in one AddE
    comp.run(g().n().addE("ALL_TO", NodeRef.Ids(Seq(1L, 2L))).t)
    val es = comp.run(g().eWithLabel("ALL_TO").id().t)
    val allIds = es.collect().map(_.getLong(0)).toSeq
    assert(allIds.length == 6 && allIds.distinct.length == 6)
  }

  test("CreateIndex without ifNotExists rejects duplicates; DDL keeps the store version") {
    val comp = TestBase.compiler(write = true)
    val spec = IndexSpec.NodeEquality("ParityUser", "externalId")
    val v0 = comp.store.version
    comp.run(g().createIndex(spec, ifNotExists = false).t)
    assert(comp.store.version == v0) // DDL-only change: artifacts stay valid
    comp.run(g().createIndex(spec).t) // ifNotExists = true: idempotent
    intercept[graft.exec.TraversalException] {
      comp.run(g().createIndex(spec, ifNotExists = false).t)
    }
  }

  test("index DDL registers metadata") {
    val comp = TestBase.compiler(write = true)
    comp.run(Traversal(Vector(Step.N(NodeRef.All),
      Step.CreateVectorIndexNodes("ParityUser", "embedding", Some("tenantId")))))
    assert(comp.store.indexes.contains(
      IndexSpec.NodeVector("ParityUser", "embedding", Some("tenantId"))))
  }

  test("unique index rejects duplicate AddN, allows fresh values") {
    val store = TestBase.parityGraph().withIndexes(Set(
      IndexSpec.NodeEquality("ParityUser", "externalId", unique = true)))
    val comp = TestBase.compiler(store, write = true)
    comp.run(g().addN("ParityUser", "externalId" -> VString("u9")).t) // fresh: ok
    intercept[graft.exec.TraversalException] {
      comp.run(g().addN("ParityUser", "externalId" -> VString("u1")).t) // seeded: dup
    }
    intercept[graft.exec.TraversalException] {
      comp.run(g().addN("ParityUser", "externalId" -> VString("u9")).t) // own write: dup
    }
    assert(singleLong(comp.run(g().nWithLabel("ParityUser").count().t)) == 4)
  }

  test("unique index rejects duplicates in bulk AddN (in-batch and vs store)") {
    val store = TestBase.parityGraph().withIndexes(Set(
      IndexSpec.NodeEquality("ParityUser", "externalId", unique = true)))
    def bulk(ids: String*) = Batch(Seq(
      BatchEntry.ForEach("users", Seq(
        BatchEntry.Query(NamedQuery(Some("made"),
          Traversal(Vector(Step.AddN("ParityUser", Seq(
            "externalId" -> PropertyInput.FromExpr(Expr.Param("x"))))))))))),
      returns = Nil, write = true)
    def exec(ids: String*) = new BatchExecutor(store,
      Map("users" -> VArray(ids.map(i => VObject(Map("x" -> VString(i))))))).execute(bulk())
    intercept[graft.exec.TraversalException] { exec("a1", "a1") } // in-batch dup
    intercept[graft.exec.TraversalException] { exec("b1", "u2") } // collides with store
    assert(exec("c1", "c2") != null) // fresh values pass
  }

  test("batch: vars, conditions, read-your-writes, returns") {
    val exec = new BatchExecutor(TestBase.parityGraph())
    val batch = Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("created"),
        g().addN("ParityUser", "name" -> VString("Eve"), "status" -> VString("active")).t)),
      BatchEntry.Query(NamedQuery(Some("all_count"),
        g().nWithLabel("ParityUser").count().t,
        Some(BatchCondition.VarNotEmpty("created")))),
      BatchEntry.Query(NamedQuery(Some("skipped"),
        g().n().count().t, Some(BatchCondition.VarEmpty("created")))),
    ), returns = Seq("all_count", "skipped"), write = true)
    val out = exec.execute(batch)
    assert(singleLong(out.results("all_count")) == 4)
    assert(!out.results.contains("skipped"))
  }

  test("DropEdgeLabeled removes only the labeled edges") {
    val comp = TestBase.compiler(write = true)
    // add a second, differently-labeled edge 1->2, then drop only FOLLOWS
    comp.run(g().n(1L).addE("LIKES", NodeRef.Ids(Seq(2L))).t)
    comp.run(Traversal(Vector(Step.N(NodeRef.Ids(Seq(1L))),
      Step.DropEdgeLabeled(NodeRef.Ids(Seq(2L)), "FOLLOWS"))))
    assert(singleLong(comp.run(g().eWithLabel("FOLLOWS").count().t)) == 1)
    assert(singleLong(comp.run(g().eWithLabel("LIKES").count().t)) == 1)
  }

  test("foreach bulk AddN vectorizes to a single append") {
    val n = 500
    val items = VArray((0 until n).map(i =>
      VObject(Map("name" -> VString(s"U$i"), "score" -> VI64(i.toLong)))))
    val exec = new BatchExecutor(new GraphStore(spark), Map("users" -> items))
    val batch = Batch(Seq(
      BatchEntry.ForEach("users", Seq(
        BatchEntry.Query(NamedQuery(Some("made"),
          Traversal(Vector(Step.AddN("U", Seq(
            "name" -> PropertyInput.FromExpr(Expr.Param("name")),
            "score" -> PropertyInput.FromExpr(Expr.Param("score")))))))))),
      BatchEntry.Query(NamedQuery(Some("total"), g().nWithLabel("U").count().t)),
      BatchEntry.Query(NamedQuery(Some("top"),
        g().nWithLabel("U").orderBy("score", SortOrder.Desc).limit(1).values("name").t)),
    ), returns = Seq("total", "top"), write = true)
    val out = exec.execute(batch)
    assert(singleLong(out.results("total")) == n)
    assert(out.results("top").collect()(0).getString(0) == s"U${n - 1}")
  }

  test("batch: foreach over array param") {
    val params = Map("users" -> VArray(Seq(
      VObject(Map("n" -> VString("U1"))), VObject(Map("n" -> VString("U2"))))))
    val exec = new BatchExecutor(new GraphStore(spark), params)
    val batch = Batch(Seq(
      BatchEntry.ForEach("users", Seq(
        BatchEntry.Query(NamedQuery(Some("made"),
          Traversal(Vector(Step.AddN("U",
            Seq("n" -> PropertyInput.FromExpr(Expr.Param("n")))))))))),
      BatchEntry.Query(NamedQuery(Some("total"),
        g().nWithLabel("U").count().t)),
    ), returns = Seq("total"), write = true)
    assert(singleLong(exec.execute(batch).results("total")) == 2)
  }

  private def entry(name: String, t: Traversal) =
    BatchEntry.Query(NamedQuery(Some(name), t))

  test("AddN, SetProperty and Drop on one id inside one batch read their own writes") {
    val dora = g().nWithLabelWhere("ParityUser", Predicate.Eq("name", VString("Dora")))
    val r = new BatchExecutor(TestBase.parityGraph()).execute(Batch(Seq(
      entry("made", g().addN("ParityUser", "name" -> VString("Dora"), "age" -> VI64(40)).t),
      entry("madeAge", dora.values("age").t),
      entry("set", g().nVar("made").setProperty("age", VI64(41)).t),
      entry("setAge", dora.values("age").t),
      entry("gone", g().nVar("made").drop().t),
      entry("left", dora.count().t),
      entry("users", g().nWithLabel("ParityUser").count().t)),
      returns = Seq("madeAge", "setAge", "left", "users"), write = true))
    assert(rows(r.results("madeAge")) == Seq(Seq(40L)))
    assert(rows(r.results("setAge")) == Seq(Seq(41L)))
    assert(singleLong(r.results("left")) == 0L)
    assert(singleLong(r.results("users")) == 3L)
    // the dropped row stays dropped in the published store
    assert(singleLong(TestBase.compiler(r.store).run(g().nWithLabel("ParityUser").count().t)) == 3L)
  }

  test("a property write through a stream bound before another write keeps that write") {
    // 'u' is read before 'city' is written; writing 'age' through it
    // must start from the row as it is now, not as 'u' saw it
    val r = new BatchExecutor(TestBase.parityGraph()).execute(Batch(Seq(
      entry("u", g().n(1L).t),
      entry("v", g().n(3L).t),
      entry("city", g().n(1L).setProperty("city", VString("Oslo")).t),
      entry("age", g().nVar("u").setProperty("age", VI64(99)).t),
      entry("read", g().n(1L).values("city", "age").t),
      // 'v' predates the 'rank' column, so its row is read back by id
      entry("rank", g().n(2L).setProperty("rank", VI64(5)).t),
      entry("vAge", g().nVar("v").setProperty("age", VI64(43)).t),
      entry("readV", g().n(3L).values("name", "age", "rank").t)),
      returns = Seq("read", "readV"), write = true))
    assert(rows(r.results("read")) == Seq(Seq("Oslo", 99L)))
    assert(rows(r.results("readV")) == Seq(Seq("Carol", 43L, null)))
  }

  test("SetProperty adds a new column and widens a changed type as a table rewrite did") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val comp = TestBase.compiler(write = true)
    val before = comp.store.nodesFor("ParityUser").columns.toSeq
    comp.run(g().n(1L).setProperty("rank", VI64(7)).t)
    comp.run(g().n(2L).setProperty("age", VF64(27.5)).t)
    val table = comp.store.nodesFor("ParityUser")
    // a new column appends; an existing one keeps its place
    assert(table.columns.toSeq == before :+ "rank")
    assert(table.schema("rank").dataType == LongType)
    assert(table.schema("age").dataType == DoubleType) // long and double widen to double
    val got = comp.run(g().nWithLabel("ParityUser").orderBy("$id").values("rank", "age").t)
    assert(rows(got) == Seq(Seq(7L, 31.0), Seq(null, 27.5), Seq(null, 42.0)))
  }

  test("AddE records the endpoint labels its rows carry, not every label an id list could name") {
    val s = spark
    import s.implicits._
    val docs = Seq((10L, "Doc", "d")).toDF("_id", "_label", "title")
    val store = TestBase.parityGraph().withNodes("Doc", docs)
    val comp = TestBase.compiler(store, write = true)
    comp.run(g().n(1L).addE("LIKES", NodeRef.Ids(Seq(2L))).t)
    assert(comp.store.edgeMeta("LIKES") ==
      graft.model.EdgeMeta(Set("ParityUser"), Set("ParityUser")))
    comp.run(g().n(1L).addE("LIKES", NodeRef.Ids(Seq(10L))).t)
    assert(comp.store.edgeMeta("LIKES").dstLabels == Set("ParityUser", "Doc"))
    assert(ids(comp.run(g().n(1L).out("LIKES").id().t)) == Seq(2L, 10L))
  }

  test("Drop cascades only into edge labels that can touch the dropped labels") {
    val s = spark
    import s.implicits._
    val docs = Seq((10L, "Doc", "d")).toDF("_id", "_label", "title")
    val cites = Seq((500L, "CITES", 10L, 10L)).toDF("_id", "_label", "_src", "_dst")
    val store = TestBase.parityGraph().withNodes("Doc", docs)
      .withEdges("CITES", cites, Some(graft.model.EdgeMeta(Set("Doc"), Set("Doc"))))
    val comp = TestBase.compiler(store, write = true)
    val citesFrame = comp.store.edgesFor("CITES")
    comp.run(g().n(2L).drop().t)
    assert(singleLong(comp.run(g().eWithLabel("FOLLOWS").count().t)) == 0)
    // CITES cannot reach a ParityUser: its table is left as it was
    assert(comp.store.edgesFor("CITES") eq citesFrame)
    comp.run(g().n(10L).drop().t)
    assert(singleLong(comp.run(g().eWithLabel("CITES").count().t)) == 0)
  }

  test("an id-targeted source reads only the labels that can hold the ids, overlay ids exactly") {
    val s = spark
    import s.implicits._
    val docs = Seq((10L, "Doc", "d")).toDF("_id", "_label", "title")
    val comp = TestBase.compiler(TestBase.parityGraph().withNodes("Doc", docs), write = true)
    // the first write scans for the id seed and stamps every label's range
    val tag = ids(comp.run(g().addN("Tag", "name" -> VString("t")).id().t)).head
    assert(comp.store.idRanges == Map((false, "ParityUser") -> (1L, 3L),
      (false, "Doc") -> (10L, 10L), (true, "FOLLOWS") -> (100L, 101L)))
    def labels(c: graft.exec.Compiler, is: Long*) = c.evalToStream(g().n(is: _*).t).labels
    assert(labels(comp, 10L) == Some(Set("Doc")))
    assert(labels(comp, 2L, 10L) == Some(Set("ParityUser", "Doc")))
    assert(comp.store.labelsHolding(Seq(101L), isEdges = true) == Set("FOLLOWS"))
    // targets only an overlay holds: a new label, and an id past a stamped range
    assert(labels(comp, tag) == Some(Set("Tag")))
    val dave = ids(comp.run(g().addN("ParityUser", "name" -> VString("Dave")).id().t)).head
    assert(dave > 3L && labels(comp, dave) == Some(Set("ParityUser")))
    assert(rows(comp.run(g().n(dave).values("name").t)) == Seq(Seq("Dave")))
    comp.run(g().n(1L).addE("LIKES", NodeRef.Ids(Seq(dave, 10L))).t)
    assert(ids(comp.run(g().n(1L).out("LIKES").id().t)) == Seq(10L, dave))
    // an id no label can hold: every label is read, nothing matches
    assert(comp.run(g().n(55L).t).count() == 0)
    // withNodes replaces a frame and drops its range: the label is always read
    val docs2 = Seq((5000L, "Doc", "e")).toDF("_id", "_label", "title")
    val replaced = TestBase.compiler(comp.store.withNodes("Doc", docs2))
    assert(labels(replaced, 2L) == Some(Set("ParityUser", "Doc")))
    assert(rows(replaced.run(g().n(5000L).values("title").t)) == Seq(Seq("e")))
  }
}

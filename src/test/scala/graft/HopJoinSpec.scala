package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.ast._
import graft.ast.PropertyValue._
import graft.dsl.Dsl._
import graft.dsl.Tr
import graft.exec.BatchExecutor
import graft.model.{EdgeMeta, GraphStore, GraphWal}

/** A hop out of a distinct, binding-free frontier plans its near join
  * as a semi join; every other frontier keeps the inner join. Each
  * form must return the multiset the inner join returns and the one an
  * in-memory oracle over the same edge lists computes.
  */
class HopJoinSpec extends GraftSuite {

  private val people = Seq(1L -> "Ann", 2L -> "Ben", 3L -> "Cal", 4L -> "Dee")
  private val ages = Map(1L -> 25L, 2L -> 35L, 3L -> 45L, 4L -> 55L)
  private val items = Seq(10L -> 1.5, 11L -> 2.5, 12L -> 3.5, 13L -> 4.5, 14L -> 5.5, 15L -> 6.5)
  // (edge id, src, dst); 104 and 105 are parallel edges
  private val owns = Seq((100L, 1L, 10L), (101L, 1L, 11L), (102L, 2L, 11L),
    (103L, 3L, 12L), (104L, 3L, 13L), (105L, 3L, 13L), (106L, 4L, 14L))
  private val knows = Seq((200L, 1L, 3L), (201L, 2L, 3L), (202L, 3L, 4L))

  private def graph(): GraphStore = {
    val s = spark
    import s.implicits._
    val p = people.map { case (id, n) => (id, "Person", n, ages(id)) }
      .toDF("_id", "_label", "name", "age")
    val i = items.map { case (id, pr) => (id, "Item", s"item$id", pr) }
      .toDF("_id", "_label", "name", "price")
    val o = owns.map { case (id, a, b) => (id, "OWNS", a, b) }.toDF("_id", "_label", "_src", "_dst")
    val k = knows.map { case (id, a, b) => (id, "KNOWS", a, b) }.toDF("_id", "_label", "_src", "_dst")
    new GraphStore(s, Map("Person" -> p, "Item" -> i), Map("OWNS" -> o, "KNOWS" -> k),
      Map("OWNS" -> EdgeMeta(Set("Person"), Set("Item")),
        "KNOWS" -> EdgeMeta(Set("Person"), Set("Person"))))
  }

  private def run(t: Tr, store: GraphStore = graph()): DataFrame =
    TestBase.compiler(store).run(t.t)

  private def bag(df: DataFrame): Seq[String] = rows(df).map(_.mkString("|")).sorted
  private def bag(xs: Iterable[Any]): Seq[String] = xs.map {
    case p: Product => p.productIterator.mkString("|")
    case x => x.toString
  }.toSeq.sorted

  private def semiJoins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join if j.joinType == LeftSemi => j }.size
  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def ownedBy(ps: Seq[Long]): Seq[Long] =
    ps.flatMap(p => owns.collect { case (_, `p`, i) => i })
  private def price(i: Long): Double = items.toMap.apply(i)

  test("a distinct frontier hops through a semi join and returns the inner join's rows") {
    val oracle = bag(ownedBy(people.map(_._1)).map(i => (i, price(i))))
    Seq(
      g().n(1L, 2L, 3L, 4L),
      g().nWithLabelWhere("Person", Predicate.Gt("age", VI64(0))),
      g().nWithLabel("Person").where(Predicate.Gt("age", VI64(0))),
      g().nWithLabel("Person").orderBy("age").limit(10),
      g().nWithLabel("Person").dedup()
    ).foreach { frontier =>
      val semi = run(frontier.out("OWNS").values("$id", "price"))
      // a binding keeps the inner join; cleanStream drops the binding
      val inner = run(frontier.bind("x").out("OWNS").values("$id", "price"))
      assert(semiJoins(semi) == 1 && semiJoins(inner) == 0, frontier.t)
      assert(bag(semi) == oracle && bag(inner) == oracle, frontier.t)
    }
    // a whole label keeps the inner join: every edge passes the near step
    Seq(g().nWithLabel("Person"), g().n().hasLabel("Person")).foreach { whole =>
      val r = run(whole.out("OWNS").values("$id", "price"))
      assert(semiJoins(r) == 0 && bag(r) == oracle, whole.t)
    }
    // in-direction, from an id source
    val in = run(g().n(11L, 13L).in("OWNS").values("$id"))
    assert(semiJoins(in) == 1 && bag(in) == bag(Seq(1L, 2L, 3L, 3L)))
  }

  test("edge hops from a distinct frontier record the node they came from") {
    val outE = run(g().n(1L, 2L, 3L, 4L).outE("OWNS").values("$id"))
    assert(semiJoins(outE) == 1 && bag(outE) == bag(owns.map(_._1)))
    val wholeE = run(g().nWithLabel("Person").outE("OWNS").values("$id"))
    assert(semiJoins(wholeE) == 0 && bag(wholeE) == bag(outE))
    // _came is the edge's own near column, so OtherN finds the far end
    val other = run(g().n(3L).bothE("KNOWS").otherN().values("$id"))
    assert(semiJoins(other) == 2 && bag(other) == bag(Seq(1L, 2L, 4L)))
    val bound = run(g().n(3L).bind("x").bothE("KNOWS").otherN().values("$id"))
    assert(semiJoins(bound) == 0 && bag(bound) == bag(other))
  }

  test("a frontier that repeats nodes keeps the inner join and its multiplicity") {
    // a Union of overlapping sources: Ben and Cal are in both branches
    val union = run(g().nWithLabel("Person").union(
      sub().where(Predicate.Lt("age", VI64(50))),
      sub().where(Predicate.Gt("age", VI64(30)))).out("OWNS").values("$id"))
    val unionOracle = ownedBy(Seq(1L, 2L, 3L) ++ Seq(2L, 3L, 4L))
    assert(semiJoins(union) == 0 && bag(union) == bag(unionOracle))
    // two hops through a shared node: Ann and Ben both know Cal
    val twoHop = run(g().n(1L, 2L).out("KNOWS").out("OWNS").values("$id"))
    assert(semiJoins(twoHop) == 1 && bag(twoHop) == bag(ownedBy(Seq(3L, 3L))))
    val twoHopE = run(g().n(1L, 2L).out("KNOWS").outE("OWNS").values("$id"))
    assert(bag(twoHopE) == bag(Seq(103L, 104L, 105L, 103L, 104L, 105L)))
    // Dedup makes the shared node distinct again
    val dedup = run(g().n(1L, 2L).out("KNOWS").dedup().out("OWNS").values("$id"))
    assert(semiJoins(dedup) == 2 && bag(dedup) == bag(ownedBy(Seq(3L))))
    // a repeat body starts from an untracked frontier
    val rep = run(g().n(1L, 2L).repeat(sub().out("KNOWS"), 2).values("$id"))
    assert(semiJoins(rep) == 0 && bag(rep) == bag(Seq(4L, 4L)))
  }

  test("a hop out of a frontier with a binding keeps the binding") {
    val r = run(g().n(1L, 3L).bind("p").out("OWNS").projectBindings(
      BindingProjection.Property(BindingTarget.Binding("p"), "name", "owner"),
      BindingProjection.Property(BindingTarget.Current, "$id", "item")))
    assert(semiJoins(r) == 0)
    assert(bag(r) == bag(Seq(("Ann", 10L), ("Ann", 11L), ("Cal", 12L), ("Cal", 13L), ("Cal", 13L))))
    // an `as` variable read back after the hop is the frontier itself
    val as = run(g().nWithLabel("Person").as("p").out("OWNS").select("p").values("$id"))
    assert(bag(as) == bag(people.map(_._1)))
    val asHop = run(g().nWithLabel("Person").as("p").out("OWNS").values("$id"))
    assert(bag(asHop) == bag(ownedBy(people.map(_._1))))
  }

  test("a hop out of an overlay-written label matches the oracle, also after checkpoint and reload") {
    def entry(name: String, t: Tr) = BatchEntry.Query(NamedQuery(Some(name), t.t))
    val w = new BatchExecutor(graph()).execute(Batch(Seq(
      entry("made", g().addN("Item", "name" -> VString("gizmo"), "price" -> VF64(9.5))),
      entry("link", g().n(1L).addE("OWNS", NodeRef.Var("made"))),
      entry("set", g().n(10L).setProperty("price", VF64(99.0))),
      entry("gone", g().n(11L).drop())),
      returns = Seq("made"), write = true))
    val made = w.results("made").select("_id").collect().head.getLong(0)
    val oracle = bag(Seq((10L, 99.0), (made, 9.5), (13L, 4.5), (13L, 4.5), (12L, 3.5)))
    def check(store: GraphStore): Unit = {
      val hop = g().n(1L, 2L, 3L).out("OWNS").values("$id", "price")
      val semi = run(hop, store)
      val inner = run(g().n(1L, 2L, 3L).bind("x").out("OWNS").values("$id", "price"), store)
      assert(semiJoins(semi) > 0 && semiJoins(inner) == 0)
      assert(bag(semi) == oracle && bag(inner) == oracle)
      val edges = run(g().n(1L, 2L).outE("OWNS").otherN().values("$id"), store)
      assert(bag(edges) == bag(Seq(10L, made)))
    }
    check(w.store)
    val dir = java.nio.file.Files.createTempDirectory("hop-overlay").toString
    GraphWal.checkpoint(w.store, dir)
    check(GraphWal.recover(spark, dir))
  }

  test("Label and $id/$label Values skip the far join and match the joined form") {
    Seq[Tr => Tr](_.label(), _.values("$id", "$label"), _.values("$label")).foreach { tail =>
      Seq(g().nWithLabel("Person").out("OWNS"), g().n(1L, 3L).out("OWNS"), g().n(13L).in("OWNS"),
          g().n(1L, 2L).out("KNOWS")).foreach { hop =>
        val skipped = run(tail(hop))
        // a filter that keeps every row makes the tail read the node table
        val joined = run(tail(hop.where(Predicate.IsNotNull("$id"))))
        assert(joins(skipped) == 1 && joins(joined) == 2, hop.t)
        assert(bag(skipped) == bag(joined), hop.t)
      }
    }
    assert(bag(run(g().n(1L, 2L).out("KNOWS").label())) == Seq("Person", "Person"))
  }
}

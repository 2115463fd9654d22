package graft

import graft.ast._
import graft.ast.PropertyValue._
import graft.dsl.Dsl._
import graft.exec.BatchExecutor

/** ForEach execution strategies: bulk AddN vectorization is covered by
  * the parity corpus (013); this spec pins the READ-side fast path —
  * per-iteration rebinding makes only the last element observable, so
  * an eligible read body runs ONE evaluation, not one per element.
  * It also pins the entry emptiness probes: run only when a condition
  * reads them, shared by conditions on one entry, and still run for
  * entries nothing returns.
  */
class BatchExecutorSpec extends GraftSuite {

  private def lookupBody(name: String = "matched") = Seq(
    BatchEntry.Query(NamedQuery(Some(name),
      g().nWithLabel("ParityUser")
        .where(Predicate.EqExpr("externalId", Expr.Param("externalId")))
        .valueMap("externalId", "name").t)))

  private def lookups(n: Int): PropertyValue = VArray(
    (0 until n).map { i =>
      val ext = if (i == n - 1) "u3" else "u1"
      VObject(Map("externalId" -> VString(ext)))
    })

  test("a 1k-element read foreach runs a bounded number of jobs, not one per element") {
    val (got, jobs) = countJobs {
      val r = new BatchExecutor(TestBase.parityGraph(),
        Map("lookups" -> lookups(1000)))
        .execute(Batch(Seq(BatchEntry.ForEach("lookups", lookupBody())),
          returns = Seq("matched")))
      r.results("matched").collect().map(_.getString(0))
    }
    assert(got.toSeq == Seq("u3")) // last iteration's binding
    assert(jobs < 20,
      s"expected a bounded job count, got $jobs (driver loop would be >1000)")
  }

  test("fast-path result equals the driver loop's (forced via a body condition)") {
    val store = TestBase.parityGraph()
    val params = Map("lookups" -> lookups(3))
    val fast = new BatchExecutor(store, params)
      .execute(Batch(Seq(BatchEntry.ForEach("lookups", lookupBody())),
        returns = Seq("matched")))
    // PrevNotEmpty forces the general loop (conditions are ineligible)
    // without changing which iterations run
    val loopBody = Seq(BatchEntry.Query(NamedQuery(Some("matched"),
      g().nWithLabel("ParityUser")
        .where(Predicate.EqExpr("externalId", Expr.Param("externalId")))
        .valueMap("externalId", "name").t,
      Some(BatchCondition.PrevNotEmpty))))
    val loop = new BatchExecutor(store, params)
      .execute(Batch(Seq(BatchEntry.ForEach("lookups", loopBody)),
        returns = Seq("matched")))
    assert(fast.results("matched").collect().toSeq ==
      loop.results("matched").collect().toSeq)
  }

  test("a body that reads a variable it binds keeps the loop (cross-iteration dependence)") {
    val store = TestBase.parityGraph()
    // body: inject the previously-bound 'acc', store back into 'acc' —
    // iteration i observes iteration i-1's stream, so the fast path
    // must decline; with 2 iterations the final acc is alice ∪ bob
    val seed = BatchEntry.Query(NamedQuery(Some("acc"),
      g().nWithLabel("ParityUser")
        .where(Predicate.Eq("externalId", VString("u1"))).t))
    val body = Seq(BatchEntry.Query(NamedQuery(Some("acc"),
      Traversal(Vector(
        Step.NWhere(Predicate.EqExpr("externalId", Expr.Param("externalId"))),
        Step.Inject("acc"), Step.StoreVar("acc"))))))
    val r = new BatchExecutor(store,
      Map("items" -> VArray(Seq(
        VObject(Map("externalId" -> VString("u2"))),
        VObject(Map("externalId" -> VString("u3")))))))
      .execute(Batch(Seq(seed, BatchEntry.ForEach("items", body)),
        returns = Seq("acc")))
    val ids = r.results("acc").select("_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"loop must accumulate, got $ids")
  }

  test("an element missing a referenced param keeps the loop, so the error surfaces") {
    // the loop raises "missing param" on the FIRST offending element;
    // the fast path must not swallow it by only evaluating the last
    val r = intercept[Exception] {
      new BatchExecutor(TestBase.parityGraph(),
        Map("lookups" -> VArray(Seq(
          VObject(Map("wrongField" -> VString("x"))),
          VObject(Map("externalId" -> VString("u3")))))))
        .execute(Batch(Seq(BatchEntry.ForEach("lookups", lookupBody())),
          returns = Seq("matched")))
    }
    assert(r.getMessage.toLowerCase.contains("param"), r.getMessage)
  }

  test("VarMinSize gates at exactly k without a full count") {
    // 3 ParityUsers: k=3 passes, k=4 blocks — the limit(k)-bounded
    // scan must preserve the >= k contract exactly at the threshold
    def run(k: Long) = new BatchExecutor(TestBase.parityGraph(), Map.empty)
      .execute(Batch(Seq(
        BatchEntry.Query(NamedQuery(Some("users"),
          g().nWithLabel("ParityUser").t)),
        BatchEntry.Query(NamedQuery(Some("gated"),
          Traversal(Vector(Step.Inject("users"), Step.Count)),
          Some(BatchCondition.VarMinSize("users", k))))),
        returns = Seq("gated")))
    assert(run(3).results.contains("gated"))
    assert(!run(4).results.contains("gated"))
  }

  test("a mutating body never takes the read fast path") {
    // the arithmetic property makes it ineligible for bulk AddN too,
    // so this pins the general loop running every iteration
    val addOne = NamedQuery(Some("made"), Traversal(Vector(
      Step.AddN("ParityUser", Seq(
        "name" -> PropertyInput.FromExpr(Expr.Param("nm")),
        "x" -> PropertyInput.FromExpr(
          Expr.Add(Expr.Constant(VI64(1)), Expr.Constant(VI64(2)))))))))
    val batch = Batch(
      Seq(BatchEntry.ForEach("rows", Seq(BatchEntry.Query(addOne)))),
      returns = Seq("made"), write = true)
    val r = new BatchExecutor(TestBase.parityGraph(),
      Map("rows" -> VArray(Seq(
        VObject(Map("nm" -> VString("D1"))),
        VObject(Map("nm" -> VString("D2")))))))
      .execute(batch)
    // ineligible for bulk AddN (arith expr) AND for the read fast path
    // (mutation): the loop ran both iterations
    val names = r.store.nodesFor("ParityUser")
      .select("name").collect().map(_.getString(0)).toSet
    assert(Set("D1", "D2").subsetOf(names), s"got $names")
  }

  private val users = BatchEntry.Query(NamedQuery(Some("users"),
    g().nWithLabel("ParityUser").t))

  private def gatedCount(name: String, c: BatchCondition) =
    BatchEntry.Query(NamedQuery(Some(name),
      g().nWithLabel("ParityUser").count().t, Some(c)))

  test("PrevNotEmpty gates on the entry before it, non-empty or empty") {
    val none = BatchEntry.Query(NamedQuery(Some("none"),
      g().nWithLabel("ParityUser")
        .where(Predicate.Eq("name", VString("Nobody"))).t))
    val r = new BatchExecutor(TestBase.parityGraph()).execute(Batch(Seq(
      users, gatedCount("afterUsers", BatchCondition.PrevNotEmpty),
      none, gatedCount("afterNone", BatchCondition.PrevNotEmpty)),
      returns = Seq("afterUsers", "afterNone")))
    assert(r.results.keySet == Set("afterUsers"))
    assert(singleLong(r.results("afterUsers")) == 3L)
  }

  test("conditions on one variable share its entry's probe: one job in all") {
    // PrevNotEmpty, VarNotEmpty and VarMinSize(_, 1) all ask whether
    // 'users' has rows; 'users' itself is not returned, so its probe
    // is also the one that surfaces its errors
    val store = TestBase.parityGraphOnDisk()
    val (r, jobs) = countJobs(new BatchExecutor(store)
      .execute(Batch(Seq(users,
        gatedCount("prev", BatchCondition.PrevNotEmpty),
        gatedCount("notEmpty", BatchCondition.VarNotEmpty("users")),
        gatedCount("minOne", BatchCondition.VarMinSize("users", 1))),
        returns = Seq("prev", "notEmpty", "minOne"))))
    assert(r.results.keySet == Set("prev", "notEmpty", "minOne"))
    assert(jobs == 1, s"one shared probe expected, got $jobs jobs")
  }

  test("an entry that is not returned still fails the batch when its frame fails to run") {
    val bad = BatchEntry.Query(NamedQuery(Some("bad"), BatchExecutorSpec.failsWhenRun))
    val count = BatchEntry.Query(NamedQuery(Some("n"), g().nWithLabel("ParityUser").count().t))
    intercept[Exception] {
      new BatchExecutor(TestBase.parityGraph())
        .execute(Batch(Seq(bad, count), returns = Seq("n")))
    }
    // returned, the same frame runs only when the caller renders it
    val r = new BatchExecutor(TestBase.parityGraph())
      .execute(Batch(Seq(bad, count), returns = Seq("n", "bad")))
    assert(singleLong(r.results("n")) == 3L)
    intercept[Exception](r.results("bad").collect())
  }
}

object BatchExecutorSpec {
  /** ParityUsers whose age divided by zero exceeds 1: analyzes fine and
    * fails when run (ANSI mode, Spark's default, raises DIVIDE_BY_ZERO).
    */
  val failsWhenRun: Traversal = g().nWithLabel("ParityUser")
    .where(Predicate.Compare(
      Expr.Div(Expr.Property("age"), Expr.Constant(VI64(0))),
      CompareOp.Gt, Expr.Constant(VI64(1)))).t
}

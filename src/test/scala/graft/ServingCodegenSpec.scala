package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.model.TestGraph
import graft.server.{Gateway, QueryBundle}

/** The Java Spark generates for a served plan depends on the plan's
  * shape only: request values, overlay id lists and the render's row
  * cap stay out of it, so a route compiles its classes on its first
  * request and never again. Compiles are counted as deltas of Spark's
  * `CodegenMetrics` compilation-time histogram.
  */
class ServingCodegenSpec extends GraftSuite with AdaptiveSparkPlanHelper {

  /** The sf0.001 test tables, under `~/testdata` as servebench finds sf0.1. */
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesIn[T](f: => T): (T, Long) = {
    val before = compiles()
    val r = f
    (r, compiles() - before)
  }

  private def read(res: String, steps: String, params: String = "{}"): String =
    s"""{"request_type":"read","query":{"queries":[{"Query":{"name":"$res",
      "steps":[$steps],"condition":null}}],"returns":["$res"]},"parameters":$params}"""

  private def write(steps: String): String =
    s"""{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
      "steps":[$steps],"condition":null}}],"returns":["w"]},"parameters":{}}"""

  private def customerWhere(key: String): String =
    s"""{"NWhere":{"And":[{"Eq":["$$label",{"String":"Customer"}]},
      {"EqExpr":["c_custkey",$key]}]}}"""

  private val pointSteps =
    customerWhere("""{"Param":"key"}""") + """,{"Values":["c_custkey","c_name"]}"""

  private def addCustomer(key: Long): String = write(
    s"""{"AddN":{"label":"Customer","properties":[
      ["c_custkey",{"Value":{"I64":$key}}],["c_name",{"Value":{"String":"c$key"}}]]}}""")

  test("a stored point route compiles nothing after its first request") {
    val gw = new Gateway(TestGraph(spark, dir))
    gw.registerQuery("cust_point",
      graft.ast.Json.parseRequest(read("c", pointSteps)).batch,
      Seq("key" -> graft.ast.Json.Scalar("I64")))
    assert(gw.handleStored("cust_point", """{"key":1}""").contains("Customer#"))
    val (answers, n) = compilesIn((10 until 20).map(k =>
      gw.handleStored("cust_point", s"""{"key":$k}""")))
    answers.zip(10 until 20).foreach { case (a, k) =>
      assert(a.contains(s""""c_custkey":$k"""), a) }
    assert(n == 0, s"10 new keys compiled $n classes")
  }

  test("a written label's point read compiles nothing as its overlay grows past ten ids") {
    val gw = new Gateway(TestGraph(spark, dir))
    val base = 5000000L
    gw.handle(addCustomer(base))
    val point = read("c", customerWhere(s"""{"Constant":{"I64":$base}}""") +
      """,{"Values":["c_custkey","c_name"]}""")
    val first = gw.handle(point)
    assert(first.contains(s""""c_name":"c$base""""), first)
    // overlay ids 2 to 10 (Spark would inline the list), then 11, 12
    (1L until 12L).foreach { i =>
      gw.handle(addCustomer(base + i))
      val (again, n) = compilesIn(gw.handle(point))
      assert(again == first)
      assert(n == 0, s"the read after ${i + 1} overlay ids compiled $n classes")
    }
  }

  test("an AddE to an id target compiles nothing after its first") {
    val gw = new Gateway(TestGraph(spark, dir))
    gw.handle(addCustomer(6000000L)) // seeds the id allocator and stamps id ranges
    def addE(cust: Int, order: Int) = gw.handle(write(customerWhere(
      s"""{"Constant":{"I64":$cust}}""") +
      s""",{"AddE":{"label":"PLACED","to":{"Ids":[${TestGraph.OrderB * TestGraph.OFF + order}]},
      "properties":[]}},"Count""""))
    assert(addE(3, 7) == """{"w":1}""")
    (1 to 3).foreach { i =>
      val (out, n) = compilesIn(addE(3 + i, 7 + 11 * i))
      assert(out == """{"w":1}""")
      assert(n == 0, s"AddE #${i + 1} compiled $n classes")
    }
  }

  test("a BM25 search with a term count not seen before compiles nothing") {
    // without adaptive execution, so that the plan is the one the query
    // builds: AQE re-plans each search from its runtime statistics, and
    // with it on, one run in three compiled 4 classes for a search
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try bm25Searches() finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  private def bm25Searches(): Unit = {
    val gw = new Gateway(TestGraph(spark, dir))
    def search(terms: String) = gw.handle(read("r",
      s"""{"TextSearchNodes":{"label":"Document","property":"text","tenant_value":null,
      "query_text":{"Value":{"String":"$terms"}},"k":{"Literal":10}}},
      {"Values":["$$id","doc_id"]}"""))
    search("batch merge stream window")
    search("data join key order")
    Seq("spark table", "query row scan", "hash", "a b c d e f").foreach { t =>
      val (out, n) = compilesIn(search(t))
      assert(out.startsWith("{\"r\":"))
      assert(n == 0, s"searching '$t' compiled $n classes")
    }
  }

  test("a parameterized point route still pushes EqualTo(c_custkey, key) to the parquet scan") {
    val batch = graft.ast.Json.parseRequest(read("c", pointSteps)).batch
    val q = batch.entries.collect { case graft.ast.BatchEntry.Query(q) => q }.head
    val df = new graft.exec.Compiler(TestGraph(spark, dir),
      Map("key" -> graft.ast.PropertyValue.VI64(42L))).run(q.traversal)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
    val pushed = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.metadata("Location").contains("customer") =>
        s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("EqualTo(c_custkey,42)"), s"predicate not pushed: $pushed")
  }

  test("an unordered result past the cap renders maxRows rows, truncated, without a limit operator") {
    val gw = new Gateway(TestBase.parityGraphOnDisk(), maxResponseRows = 2)
    gw.handle(write("""{"AddN":{"label":"ParityUser","properties":[["name",{"Value":{"String":"Dana"}}]]}}"""))
    val before = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(gw.metricsJson).get("truncated").asLong
    var out = ""
    val plans = plansOf { out = gw.handle(read("r", """{"N":"All"},{"Values":["name"]}""")) }
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out).get("r")
    assert(rows.size == 2, out)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(gw.metricsJson).get("truncated").asLong == before + 1)
    val ops = plans.flatMap(qe => collectWithSubqueries(qe.executedPlan) { case p => p.nodeName })
    assert(plans.nonEmpty && !ops.exists(_.contains("Limit")), ops.distinct.mkString(","))
  }

  test("an ordered result past the cap still plans as TakeOrderedAndProject") {
    val gw = new Gateway(TestBase.parityGraphOnDisk(), maxResponseRows = 2)
    var out = ""
    val plans = plansOf { out = gw.handle(read("r",
      """{"N":"All"},{"OrderBy":["name","Asc"]},{"Values":["name"]}""")) }
    assert(out == """{"r":[{"name":"Alice"},{"name":"Bob"}]}""")
    assert(plans.exists(qe => collectFirst(qe.executedPlan) {
      case t: TakeOrderedAndProjectExec => t.limit }.contains(3)),
      plans.map(_.executedPlan.treeString).mkString("\n"))
  }
}

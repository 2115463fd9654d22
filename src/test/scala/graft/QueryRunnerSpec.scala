package graft

import graft.model.GraphWal
import graft.server.QueryRunner

import java.nio.file.{Files, Paths}

/** The spark-submit query entry point (helix query --file equivalent):
  * envelope in, response JSON out, WAL-durable writes.
  */
class QueryRunnerSpec extends GraftSuite {

  private val countReq =
    """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
      "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
      "condition":null}}],"returns":["n"]},"parameters":{}}"""

  test("runs a read envelope from --json and a file from --file") {
    val dir = Files.createTempDirectory("qrun").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    assert(QueryRunner.run(spark, Seq("--store", dir, "--json", countReq))
      == """{"n":3}""")
    val f = s"$dir/q.json"
    Files.writeString(Paths.get(f), countReq)
    assert(QueryRunner.run(spark, Seq("--store", dir, "--file", f))
      == """{"n":3}""")
  }

  test("a write run commits to the WAL; the next run sees it") {
    val dir = Files.createTempDirectory("qrun2").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    QueryRunner.run(spark, Seq("--store", dir, "--json",
      """{"request_type":"write","query":{"queries":[{"Query":{"name":"w",
        "steps":[{"AddN":{"label":"ParityUser","properties":[
        ["name",{"Value":{"String":"Dana"}}]]}}],"condition":null}}],
        "returns":["w"]},"parameters":{}}"""))
    // a FRESH run (new recover from disk) sees the committed write
    assert(QueryRunner.run(spark, Seq("--store", dir, "--json", countReq))
      == """{"n":4}""")
  }

  test("stored routes run via --bundle/--name with a params body") {
    import graft.ast._
    import graft.dsl.Dsl._
    import graft.server.QueryBundle
    val dir = Files.createTempDirectory("qrun3").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val batch = Batch(Seq(
      BatchEntry.Query(NamedQuery(Some("n"),
        g().nWithLabel("ParityUser")
          .where(Predicate.GteExpr("age", Expr.Param("min_age")))
          .count().t))), returns = Seq("n"))
    val bundlePath = s"$dir/queries.json"
    Files.writeString(Paths.get(bundlePath), QueryBundle.render(Map(
      "users_over" -> QueryBundle.StoredRoute(batch,
        Seq("min_age" -> Json.Scalar("I64")), write = false))))
    assert(QueryRunner.run(spark, Seq("--store", dir, "--bundle", bundlePath,
      "--name", "users_over", "--json", """{"min_age": 30}""")) == """{"n":2}""")
  }

  test("bad argv combinations are rejected") {
    intercept[IllegalArgumentException](
      QueryRunner.parseArgs(Seq("--json", "{}"))) // no store/data
    intercept[IllegalArgumentException](
      QueryRunner.parseArgs(Seq("--store", "x", "--data", "y", "--json", "{}")))
    intercept[IllegalArgumentException](
      QueryRunner.parseArgs(Seq("--store", "x"))) // no body
    intercept[IllegalArgumentException](
      QueryRunner.parseArgs(Seq("--store", "x", "--json", "{}", "--wat", "z")))
  }
}

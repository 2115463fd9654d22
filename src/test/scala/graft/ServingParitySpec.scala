package graft

import graft.model.GraphWal
import graft.server.{Gateway, Router}

/** The same requests through the four `/v1/query` paths — Gateway
  * buffered, Gateway NDJSON, Router buffered, Router NDJSON — answer
  * with the same status, the same `{"error":…}` body, the same warm gate,
  * `x-helix-durable` echo and `x-helix-served-by: writer` answer to
  * `x-helix-require-writer`, and count the same failures.
  */
class ServingParitySpec extends GraftSuite {

  private val countUsers =
    """{"request_type":"read","query":{"queries":[{"Query":{"name":"n",
      "steps":[{"NWhere":{"Eq":["$label",{"String":"ParityUser"}]}},"Count"],
      "condition":null}}],"returns":["n"]},"parameters":{}}"""

  private val addDana =
    """{"request_type":"write","query":{"queries":[{"Query":{"name":"created",
      "steps":[{"AddN":{"label":"ParityUser","properties":[
      ["name",{"Value":{"String":"Dana"}}]]}}],"condition":null}}],
      "returns":["created"]},"parameters":{}}"""

  private val malformed =
    """{"request_type":"read","query":{"queries":[{"Query":{"name":"x",
      "steps":[{"Bogus":1}],"condition":null}}],"returns":["x"]}}"""

  private val malformedError = {
    val msg = intercept[Exception](graft.ast.Json.parseRequest(malformed)).getMessage
    s"""{"error":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(msg)}}"""
  }

  /** One request and the answer every path must give: `buffered` is the
    * body of a buffered path, `ndjson` that of a streamed read (None:
    * the streamed paths answer `buffered` too; an empty `buffered`: any
    * body, as long as all four paths agree on it).
    */
  private case class Case(name: String, path: String, body: String,
      headers: Map[String, String], status: Int, buffered: String,
      ndjson: Option[String] = None)

  private val countLine = """{"result":"n","row":{"cnt":3}}""" + "\n"

  private val cases = Seq(
    Case("inline read", "/v1/query", countUsers, Map.empty, 200, """{"n":3}""", Some(countLine)),
    Case("stored read", "/v1/query/cnt", "{}", Map.empty, 200, """{"n":3}""", Some(countLine)),
    Case("warm stored read", "/v1/query/cnt", "{}", Map("x-helix-warm" -> "true"), 200,
      """{"n":3}""", Some(countLine)),
    Case("cold stored route", "/v1/query/cold", "{}", Map("x-helix-warm" -> "true"), 400,
      """{"error":"query not warm: cold"}"""),
    Case("malformed envelope", "/v1/query", malformed, Map.empty, 400, malformedError),
    Case("malformed envelope for the writer", "/v1/query", malformed,
      Map("x-helix-require-writer" -> "true"), 400, malformedError),
    Case("durable write", "/v1/query", addDana, Map("x-helix-await-durable" -> "true"), 200, ""))

  /** Failed cases above: the cold stored route and both malformed envelopes. */
  private val failures = 3

  private def post(port: Int, path: String, body: String, headers: Map[String, String])
      : (Int, String, Map[String, String]) = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST"); c.setDoOutput(true)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    c.getOutputStream.write(body.getBytes("UTF-8"))
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val out = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    import scala.jdk.CollectionConverters._
    (code, out, c.getHeaderFields.asScala.collect {
      case (k, v) if k != null => k.toLowerCase -> v.get(0)
    }.toMap)
  }

  private def metrics(port: Int): String = exchange(port, "GET", "/metrics")._3

  private val cnt = graft.ast.Json.parseRequest(countUsers).batch

  /** Starts a fresh server on `port` with the `cnt` and `cold` stored
    * reads deployed; returns its stop hook.
    */
  private def gateway(port: Int): () => Unit = {
    val gw = new Gateway(TestBase.parityGraph(), port = port)
    gw.registerQuery("cnt", cnt)
    gw.registerQuery("cold", cnt)
    gw.start()
    () => gw.stop()
  }

  private def router(port: Int): () => Unit = {
    val dir = java.nio.file.Files.createTempDirectory("gparity").toString
    GraphWal.checkpoint(TestBase.parityGraph(), dir)
    val r = new Router(spark, dir, port = port, numReaders = 1)
    r.registerQuery("cnt", cnt)
    r.registerQuery("cold", cnt)
    r.start()
    () => r.stop()
  }

  private val paths = Seq(
    ("gateway buffered", gateway _, false, "\"errors\":"),
    ("gateway ndjson", gateway _, true, "\"errors\":"),
    ("router buffered", router _, false, "\"router_errors\":"),
    ("router ndjson", router _, true, "\"router_errors\":"))

  test("every request answers alike on the four serving paths") {
    val answers = paths.map { case (pathName, start, stream, errorsKey) =>
      val port = freePort()
      val stop = start(port)
      try {
        val got = cases.map { c =>
          val hdrs = if (stream) c.headers + ("x-graft-stream" -> "ndjson") else c.headers
          c -> post(port, c.path, c.body, hdrs)
        }
        val m = metrics(port)
        (pathName, stream, got, m.contains(errorsKey + failures), m)
      } finally stop()
    }
    val problems = answers.flatMap { case (pathName, stream, got, errorsOk, m) =>
      val caseProblems = got.flatMap { case (c, (status, body, headers)) =>
        val want = if (stream) c.ndjson.getOrElse(c.buffered) else c.buffered
        Seq(
          Option.when(status != c.status)(s"status $status, want ${c.status}"),
          Option.when(want.nonEmpty && body != want)(s"body $body, want $want"),
          Option.when(c.headers.contains("x-helix-await-durable") &&
            !headers.get("x-helix-durable").contains("true"))("no x-helix-durable: true"),
          Option.when(c.headers.contains("x-helix-require-writer") &&
            !headers.get("x-helix-served-by").contains("writer"))("no x-helix-served-by: writer")
        ).flatten.map(p => s"$pathName / ${c.name}: $p")
      }
      caseProblems ++ Option.when(!errorsOk)(s"$pathName: errors counter not $failures in $m")
    }
    // the cases without a fixed body answer the same on every path
    val free = cases.indices.filter(i => cases(i).buffered.isEmpty)
    val disagreements = free.flatMap { i =>
      val bodies = answers.map { case (p, _, got, _, _) => p -> got(i)._2._2 }
      Option.when(bodies.map(_._2).distinct.size != 1)(
        s"${cases(i).name}: bodies differ: ${bodies.mkString("; ")}")
    }
    assert((problems ++ disagreements).isEmpty,
      (problems ++ disagreements).mkString("\n", "\n", ""))
  }
}

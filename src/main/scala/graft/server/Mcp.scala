package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import graft.ast.Json

import scala.jdk.CollectionConverters._

/** MCP (Model Context Protocol) surface for the Gateway.
  *
  * The reference ships MCP as a default-on instance toggle
  * (`DbConfig.mcp: bool = true`, helix-cli/src/config.rs:173,243) so
  * agent clients can call the deployed queries as tools. This is the
  * counterpart: JSON-RPC 2.0 over the POST half of MCP's streamable
  * HTTP transport (one request in, one JSON response out; notifications
  * get an empty 202 — we never open a server event stream, which the
  * transport permits).
  *
  * Tool inventory = the deployed stored-query routes (each route is a
  * tool whose input schema derives from its declared parameter shapes)
  * plus one built-in `graft.query` tool taking a raw
  * DynamicQueryRequest envelope. The inventory tracks the live route
  * table, so a bundle redeploy changes the tool list on the next
  * `tools/list` — capability advertises `listChanged: false` because we
  * don't push change notifications (no server stream).
  *
  * Protocol shapes follow the published MCP spec (modelcontextprotocol
  * .io, rev 2025-03-26): `initialize`, `ping`, `tools/list`,
  * `tools/call`; tool-execution failures report in-band via
  * `isError: true` (the JSON-RPC error channel is reserved for
  * protocol-level faults).
  */
object Mcp {

  val ProtocolVersion = "2025-03-26"
  val QueryToolName = "graft.query"

  private val F = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  /** Handle one JSON-RPC message body. Returns None for notifications
    * (the HTTP layer answers 202 with no body), Some(responseJson)
    * otherwise. Never throws: malformed input becomes a JSON-RPC
    * parse/invalid-request error response.
    */
  def handle(gw: Gateway, body: String): Option[String] = {
    val root =
      try mapper.readTree(body)
      catch {
        case _: Exception =>
          return Some(errorResponse(F.nullNode(), -32700, "parse error"))
      }
    if (root == null || !root.isObject || !root.has("method"))
      return Some(errorResponse(F.nullNode(), -32600, "invalid request"))
    val id = Option(root.get("id")).getOrElse(F.nullNode())
    val isNotification = !root.has("id") || root.get("id").isNull
    val method = root.get("method").asText
    val params = Option(root.get("params")).filterNot(_.isNull)
      .getOrElse(F.objectNode())
    val out: Either[(Int, String), JsonNode] = method match {
      case "initialize" => Right(initializeResult())
      case "ping" => Right(F.objectNode())
      case "tools/list" => Right(toolsList(gw))
      case "tools/call" => toolsCall(gw, params)
      case m if m.startsWith("notifications/") => Right(F.objectNode())
      case m => Left((-32601, s"method not found: $m"))
    }
    if (isNotification) None
    else Some(out match {
      case Right(result) =>
        val r = F.objectNode()
        r.put("jsonrpc", "2.0")
        r.set[JsonNode]("id", id)
        r.set[JsonNode]("result", result)
        r.toString
      case Left((code, msg)) => errorResponse(id, code, msg)
    })
  }

  private def errorResponse(id: JsonNode, code: Int, msg: String): String = {
    val r = F.objectNode()
    r.put("jsonrpc", "2.0")
    r.set[JsonNode]("id", id)
    val e = F.objectNode()
    e.put("code", code)
    e.put("message", msg)
    r.set[JsonNode]("error", e)
    r.toString
  }

  private def initializeResult(): ObjectNode = {
    val r = F.objectNode()
    r.put("protocolVersion", ProtocolVersion)
    val caps = F.objectNode()
    val tools = F.objectNode()
    tools.put("listChanged", false)
    caps.set[JsonNode]("tools", tools)
    r.set[JsonNode]("capabilities", caps)
    val info = F.objectNode()
    info.put("name", "graft")
    info.put("version", "0.5")
    r.set[JsonNode]("serverInfo", info)
    r
  }

  /** Declared parameter shape -> JSON Schema fragment. Unknown scalar
    * tags map to the empty schema (accept anything) rather than
    * guessing wrong.
    */
  private[server] def schemaOf(t: Json.PTy): ObjectNode = t match {
    case Json.Scalar(n) =>
      val o = F.objectNode()
      n match {
        case "I8" | "I16" | "I32" | "I64" |
             "U8" | "U16" | "U32" | "U64" | "U128" => o.put("type", "integer")
        case "F32" | "F64" => o.put("type", "number")
        case "Boolean" => o.put("type", "boolean")
        case "String" | "ID" => o.put("type", "string")
        case "Date" | "DateTime" =>
          o.put("type", "string"); o.put("format", "date-time")
        case _ => ()
      }
      o
    case Json.Arr(inner) =>
      val o = F.objectNode()
      o.put("type", "array")
      o.set[JsonNode]("items", schemaOf(inner))
      o
  }

  private def toolsList(gw: Gateway): ObjectNode = {
    val arr = F.arrayNode()
    gw.storedSnapshot.foreach { case (name, route) =>
      val t = F.objectNode()
      t.put("name", name)
      t.put("description",
        s"Deployed graft ${if (route.write) "write" else "read"} query '$name'")
      val schema = F.objectNode()
      schema.put("type", "object")
      val props = F.objectNode()
      route.params.foreach { case (pn, pt) =>
        props.set[JsonNode](pn, schemaOf(pt))
      }
      schema.set[JsonNode]("properties", props)
      val req = F.arrayNode()
      route.params.foreach { case (pn, _) => req.add(pn) }
      schema.set[JsonNode]("required", req)
      t.set[JsonNode]("inputSchema", schema)
      arr.add(t)
    }
    val q = F.objectNode()
    q.put("name", QueryToolName)
    q.put("description",
      "Run a dynamic graft query: the argument `request` is a full " +
        "DynamicQueryRequest envelope (request_type, query, parameters)")
    val qs = F.objectNode()
    qs.put("type", "object")
    val qp = F.objectNode()
    val reqNode = F.objectNode()
    reqNode.put("type", "object")
    qp.set[JsonNode]("request", reqNode)
    qs.set[JsonNode]("properties", qp)
    val qr = F.arrayNode()
    qr.add("request")
    qs.set[JsonNode]("required", qr)
    q.set[JsonNode]("inputSchema", qs)
    arr.add(q)
    val r = F.objectNode()
    r.set[JsonNode]("tools", arr)
    r
  }

  private def toolsCall(gw: Gateway,
      params: JsonNode): Either[(Int, String), JsonNode] = {
    val name = Option(params.get("name")).filterNot(_.isNull).map(_.asText)
      .getOrElse(return Left((-32602, "tools/call missing tool name")))
    val args = Option(params.get("arguments")).filterNot(_.isNull)
      .getOrElse(F.objectNode())
    val known = name == QueryToolName ||
      gw.storedSnapshot.exists(_._1 == name)
    if (!known) return Left((-32602, s"unknown tool: $name"))
    val outcome =
      try {
        val text =
          if (name == QueryToolName) {
            val env = Option(args.get("request")).filterNot(_.isNull)
              .getOrElse(throw new IllegalArgumentException(
                s"$QueryToolName requires a `request` envelope argument"))
            gw.handle(env.toString)
          } else gw.handleStored(name, args.toString)
        Right(text)
      } catch {
        case e: Exception =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      }
    val r = F.objectNode()
    val content = F.arrayNode()
    val item = F.objectNode()
    item.put("type", "text")
    item.put("text", outcome.merge)
    content.add(item)
    r.set[JsonNode]("content", content)
    r.put("isError", outcome.isLeft)
    Right(r)
  }
}

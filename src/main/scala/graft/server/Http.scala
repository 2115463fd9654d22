package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The HTTP transport the Gateway and Router share: server creation,
  * the buffered JSON response, the 401 contract and JSON string quoting.
  *
  * TCP_NODELAY: the JDK HttpServer leaves Nagle's algorithm on unless
  * `sun.net.httpserver.nodelay` is true. A buffered response leaves as
  * a header write and then a body write; with Nagle on, the body waits
  * for the client's ACK of the headers, which a delayed-ACK client
  * holds back for about 40 ms, so every response stalls by that much.
  * The JDK reads the property once per JVM, when its first HttpServer
  * starts, so [[server]] sets it (unless it is already set) before it
  * creates one.
  */
private[server] object Http {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** An HttpServer bound to `port` whose accepted sockets set TCP_NODELAY. */
  def server(port: Int): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(new InetSocketAddress(port), 0)
  }

  /** Send `json` as the whole `application/json` response with `status`
    * (no body when `json` is empty) and close the exchange.
    */
  def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The `{"error":…}` body of every failed request. */
  def error(msg: String): String = s"""{"error":${quote(msg)}}"""

  /** Bearer-auth gate of both servers: answers 401 unless `ok` accepts
    * the request's Authorization header.
    */
  def authorize(ex: HttpExchange, ok: Option[String] => Boolean): Boolean = {
    val pass = ok(Option(ex.getRequestHeaders.getFirst("Authorization")))
    if (!pass) respond(ex, 401, error("unauthorized"))
    pass
  }

  def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  def quote(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

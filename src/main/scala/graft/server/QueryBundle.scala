package graft.server

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import graft.ast.{Batch, Json, PropertyValue}

import scala.jdk.CollectionConverters._

/** The deployable stored-query bundle (`queries.json`), mirroring the
  * reference's versioned QueryBundle payload
  * (sdks/rust/src/query_generator.rs:40-74: version, read_routes,
  * write_routes, read_parameters, write_parameters; v5 current, v4
  * accepted — :6-13).
  */
object QueryBundle {

  val Version = 5
  val SupportedVersions: Set[Int] = Set(4, 5)

  /** Declared parameter shape (QueryParamType, query_generator.rs:17-38):
    * scalars are bare names; Array nests an element shape.
    */
  sealed trait PTy
  final case class Scalar(name: String) extends PTy
  final case class Arr(inner: PTy) extends PTy

  final case class StoredRoute(batch: Batch, params: Seq[(String, PTy)], write: Boolean)

  /** Coerce a parsed dynamic parameter to its declared shape; arrays
    * coerce element-wise. Bytes rejects (Json.coerceParam).
    */
  def coerce(v: PropertyValue, t: PTy): PropertyValue = (v, t) match {
    case (PropertyValue.VArray(xs), Arr(inner)) =>
      PropertyValue.VArray(xs.map(coerce(_, inner)))
    case (x, Scalar(n)) => Json.coerceParam(x, n)
    case (x, _) => x
  }

  private val F = JsonNodeFactory.instance
  /** Thread-safe once configured: shared by bundle parsing and every
    * stored-route request's parameter decode.
    */
  private[server] val mapper = new ObjectMapper()

  private def writePTy(t: PTy): JsonNode = t match {
    case Scalar(n) => F.textNode(n)
    case Arr(i) =>
      val o = F.objectNode(); o.set[JsonNode]("Array", writePTy(i)); o
  }
  private def readPTy(n: JsonNode): PTy =
    if (n.isTextual) Scalar(n.asText)
    else if (n.isObject && n.has("Array")) Arr(readPTy(n.get("Array")))
    else throw new IllegalArgumentException(s"bad QueryParamType: $n")

  /** Serialize routes to a v5 bundle (sorted maps, as BTreeMap emits). */
  def render(routes: Map[String, StoredRoute]): String = {
    val root = F.objectNode()
    root.put("version", Version)
    def routesNode(write: Boolean): JsonNode = {
      val o = F.objectNode()
      routes.toSeq.sortBy(_._1).foreach { case (name, r) =>
        if (r.write == write) o.set[JsonNode](name, Json.writeBatchObj(r.batch))
      }
      o
    }
    def paramsNode(write: Boolean): JsonNode = {
      val o = F.objectNode()
      routes.toSeq.sortBy(_._1).foreach { case (name, r) =>
        if (r.write == write) {
          val a = F.arrayNode()
          r.params.foreach { case (pn, pt) =>
            val p = F.objectNode()
            p.put("name", pn); p.set[JsonNode]("ty", writePTy(pt))
            a.add(p)
          }
          o.set[JsonNode](name, a)
        }
      }
      o
    }
    root.set[JsonNode]("read_routes", routesNode(write = false))
    root.set[JsonNode]("write_routes", routesNode(write = true))
    root.set[JsonNode]("read_parameters", paramsNode(write = false))
    root.set[JsonNode]("write_parameters", paramsNode(write = true))
    root.toString
  }

  /** Parse and version-check a bundle (unsupported version rejects, as
    * deserialize_query_bundle does — query_generator.rs:196-205).
    */
  def parse(json: String): Map[String, StoredRoute] = {
    val root = mapper.readTree(json)
    val v = Option(root.get("version")).map(_.asInt)
      .getOrElse(throw new IllegalArgumentException("bundle missing version"))
    if (!SupportedVersions.contains(v))
      throw new IllegalArgumentException(
        s"unsupported query bundle version $v (expected $Version)")
    def params(section: String): Map[String, Seq[(String, PTy)]] =
      Option(root.get(section)).filterNot(_.isNull).map { n =>
        n.properties.asScala.map { e =>
          e.getKey -> e.getValue.elements.asScala.map { p =>
            p.get("name").asText -> readPTy(p.get("ty"))
          }.toSeq
        }.toMap
      }.getOrElse(Map.empty)
    def routes(section: String, write: Boolean,
        ps: Map[String, Seq[(String, PTy)]]): Map[String, StoredRoute] =
      Option(root.get(section)).filterNot(_.isNull).map { n =>
        n.properties.asScala.map { e =>
          val name = e.getKey
          name -> StoredRoute(Json.readBatchObj(e.getValue, write),
            ps.getOrElse(name, Nil), write)
        }.toMap
      }.getOrElse(Map.empty)
    val read = routes("read_routes", write = false, params("read_parameters"))
    val write = routes("write_routes", write = true, params("write_parameters"))
    val dup = read.keySet.intersect(write.keySet)
    if (dup.nonEmpty)
      throw new IllegalArgumentException(s"duplicate route names: ${dup.mkString(", ")}")
    read ++ write
  }
}

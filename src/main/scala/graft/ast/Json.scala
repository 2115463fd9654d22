package graft.ast

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, JsonNodeFactory}

import scala.jdk.CollectionConverters._

/** JSON wire codec for the dynamic-query envelope.
  *
  * Mirrors the reference's serde layout exactly (externally-tagged enums
  * with unit variants as bare strings, tuple variants as arrays, struct
  * variants as objects — sdks/rust/src/dsl.rs: Step 2795-3262,
  * PropertyValue 973-1002, Predicate 1586-1648, envelope 4736-4784;
  * example shapes: helix-cli/src/commands/init.rs:191-207).
  */
object Json {
  private val mapper = new ObjectMapper()
  private val F = JsonNodeFactory.instance

  class CodecException(msg: String) extends RuntimeException(msg)
  private def bad(msg: String, n: JsonNode): Nothing =
    throw new CodecException(s"$msg: ${n.toString.take(200)}")

  // ------------------------------------------------------------- helpers

  private def tagOf(n: JsonNode): (String, JsonNode) = {
    if (n.isTextual) (n.asText, null)
    else if (n.isObject && n.size() == 1) {
      val name = n.fieldNames().next()
      (name, n.get(name))
    } else bad("expected externally-tagged enum", n)
  }
  private def obj(fields: (String, JsonNode)*): ObjectNode = {
    val o = F.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, v) }
    o
  }
  private def tagged(name: String, v: JsonNode): JsonNode = obj(name -> v)
  private def arr(ns: Seq[JsonNode]): ArrayNode = {
    val a = F.arrayNode(); ns.foreach(a.add); a
  }
  private def s(x: String): JsonNode = F.textNode(x)
  private def optStr(n: JsonNode): Option[String] =
    if (n == null || n.isNull) None else Some(n.asText)

  // ------------------------------------------------------- PropertyValue

  def writeValue(v: PropertyValue): JsonNode = {
    import PropertyValue._
    v match {
      case VNull => s("Null")
      case VBool(b) => tagged("Bool", F.booleanNode(b))
      case VI64(i) => tagged("I64", F.numberNode(i))
      case VDateTime(ms) => tagged("DateTime", F.numberNode(ms))
      case VF64(d) => tagged("F64", F.numberNode(d))
      case VF32(f) => tagged("F32", F.numberNode(f))
      case VString(x) => tagged("String", s(x))
      case VBytes(b) => tagged("Bytes", arr(b.toSeq.map(x => F.numberNode(x.toInt & 0xFF))))
      case VI64Array(a) => tagged("I64Array", arr(a.map(F.numberNode)))
      case VF64Array(a) => tagged("F64Array", arr(a.map(F.numberNode)))
      case VF32Array(a) => tagged("F32Array", arr(a.map(F.numberNode)))
      case VStringArray(a) => tagged("StringArray", arr(a.map(s)))
      case VArray(a) => tagged("Array", arr(a.map(writeValue)))
      case VObject(m) =>
        val o = F.objectNode()
        m.toSeq.sortBy(_._1).foreach { case (k, x) => o.set[JsonNode](k, writeValue(x)) }
        tagged("Object", o)
    }
  }

  def readValue(n: JsonNode): PropertyValue = {
    import PropertyValue._
    val (t, v) = tagOf(n)
    t match {
      case "Null" => VNull
      case "Bool" => VBool(v.asBoolean)
      case "I64" => VI64(v.asLong)
      case "DateTime" => VDateTime(v.asLong)
      case "F64" => VF64(v.asDouble)
      case "F32" => VF32(v.asDouble.toFloat)
      case "String" => VString(v.asText)
      case "Bytes" => VBytes(v.elements.asScala.map(x => x.asInt.toByte).toArray)
      case "I64Array" => VI64Array(v.elements.asScala.map(_.asLong).toSeq)
      case "F64Array" => VF64Array(v.elements.asScala.map(_.asDouble).toSeq)
      case "F32Array" => VF32Array(v.elements.asScala.map(_.asDouble.toFloat).toSeq)
      case "StringArray" => VStringArray(v.elements.asScala.map(_.asText).toSeq)
      case "Array" => VArray(v.elements.asScala.map(readValue).toSeq)
      case "Object" =>
        VObject(v.properties.asScala.map(e => e.getKey -> readValue(e.getValue)).toMap)
      case other => bad(s"unknown PropertyValue variant $other", n)
    }
  }

  // ---------------------------------------------------------------- Expr

  def writeExpr(e: Expr): JsonNode = e match {
    case Expr.Property(p) => tagged("Property", s(p))
    case Expr.Id => s("Id")
    case Expr.Timestamp => s("Timestamp")
    case Expr.DateTimeNow => s("DateTimeNow")
    case Expr.Constant(v) => tagged("Constant", writeValue(v))
    case Expr.Param(p) => tagged("Param", s(p))
    case Expr.Add(l, r) => tagged("Add", arr(Seq(writeExpr(l), writeExpr(r))))
    case Expr.Sub(l, r) => tagged("Sub", arr(Seq(writeExpr(l), writeExpr(r))))
    case Expr.Mul(l, r) => tagged("Mul", arr(Seq(writeExpr(l), writeExpr(r))))
    case Expr.Div(l, r) => tagged("Div", arr(Seq(writeExpr(l), writeExpr(r))))
    case Expr.Mod(l, r) => tagged("Mod", arr(Seq(writeExpr(l), writeExpr(r))))
    case Expr.Neg(x) => tagged("Neg", writeExpr(x))
    case Expr.Case(wt, els) =>
      tagged("Case", obj(
        "when_then" -> arr(wt.map { case (p, x) => arr(Seq(writePred(p), writeExpr(x))) }),
        "else_expr" -> els.map(writeExpr).getOrElse(F.nullNode())))
  }

  def readExpr(n: JsonNode): Expr = {
    val (t, v) = tagOf(n)
    t match {
      case "Property" => Expr.Property(v.asText)
      case "Id" => Expr.Id
      case "Timestamp" => Expr.Timestamp
      case "DateTimeNow" => Expr.DateTimeNow
      case "Constant" => Expr.Constant(readValue(v))
      case "Param" => Expr.Param(v.asText)
      case "Add" => Expr.Add(readExpr(v.get(0)), readExpr(v.get(1)))
      case "Sub" => Expr.Sub(readExpr(v.get(0)), readExpr(v.get(1)))
      case "Mul" => Expr.Mul(readExpr(v.get(0)), readExpr(v.get(1)))
      case "Div" => Expr.Div(readExpr(v.get(0)), readExpr(v.get(1)))
      case "Mod" => Expr.Mod(readExpr(v.get(0)), readExpr(v.get(1)))
      case "Neg" => Expr.Neg(readExpr(v))
      case "Case" =>
        val wt = v.get("when_then").elements.asScala.map(p =>
          (readPred(p.get(0)), readExpr(p.get(1)))).toSeq
        val els = Option(v.get("else_expr")).filterNot(_.isNull).map(readExpr)
        Expr.Case(wt, els)
      case other => bad(s"unknown Expr variant $other", n)
    }
  }

  // ----------------------------------------------------------- Predicate

  def writePred(p: Predicate): JsonNode = {
    import Predicate._
    p match {
      case Eq(a, v) => tagged("Eq", arr(Seq(s(a), writeValue(v))))
      case Neq(a, v) => tagged("Neq", arr(Seq(s(a), writeValue(v))))
      case Gt(a, v) => tagged("Gt", arr(Seq(s(a), writeValue(v))))
      case Gte(a, v) => tagged("Gte", arr(Seq(s(a), writeValue(v))))
      case Lt(a, v) => tagged("Lt", arr(Seq(s(a), writeValue(v))))
      case Lte(a, v) => tagged("Lte", arr(Seq(s(a), writeValue(v))))
      case Between(a, lo, hi) => tagged("Between", arr(Seq(s(a), writeValue(lo), writeValue(hi))))
      case EqExpr(a, e) => tagged("EqExpr", arr(Seq(s(a), writeExpr(e))))
      case NeqExpr(a, e) => tagged("NeqExpr", arr(Seq(s(a), writeExpr(e))))
      case GtExpr(a, e) => tagged("GtExpr", arr(Seq(s(a), writeExpr(e))))
      case GteExpr(a, e) => tagged("GteExpr", arr(Seq(s(a), writeExpr(e))))
      case LtExpr(a, e) => tagged("LtExpr", arr(Seq(s(a), writeExpr(e))))
      case LteExpr(a, e) => tagged("LteExpr", arr(Seq(s(a), writeExpr(e))))
      case BetweenExpr(a, lo, hi) =>
        tagged("BetweenExpr", arr(Seq(s(a), writeExpr(lo), writeExpr(hi))))
      case HasKey(a) => tagged("HasKey", s(a))
      case IsNull(a) => tagged("IsNull", s(a))
      case IsNotNull(a) => tagged("IsNotNull", s(a))
      case StartsWith(a, x) => tagged("StartsWith", arr(Seq(s(a), s(x))))
      case EndsWith(a, x) => tagged("EndsWith", arr(Seq(s(a), s(x))))
      case Contains(a, x) => tagged("Contains", arr(Seq(s(a), s(x))))
      case ContainsExpr(a, e) => tagged("ContainsExpr", arr(Seq(s(a), writeExpr(e))))
      // wire form: IsIn(prop, <array-valued PropertyValue>) (dsl.rs:1630)
      case IsIn(a, vs) =>
        tagged("IsIn", arr(Seq(s(a), writeValue(PropertyValue.VArray(vs)))))
      case IsInExpr(a, e) => tagged("IsInExpr", arr(Seq(s(a), writeExpr(e))))
      case And(ps) => tagged("And", arr(ps.map(writePred)))
      case Or(ps) => tagged("Or", arr(ps.map(writePred)))
      case Not(x) => tagged("Not", writePred(x))
      case Compare(l, op, r) =>
        tagged("Compare", obj("left" -> writeExpr(l), "op" -> s(opName(op)),
          "right" -> writeExpr(r)))
    }
  }

  private def opName(op: CompareOp): String = op match {
    case CompareOp.Eq => "Eq"; case CompareOp.Neq => "Neq"
    case CompareOp.Gt => "Gt"; case CompareOp.Gte => "Gte"
    case CompareOp.Lt => "Lt"; case CompareOp.Lte => "Lte"
  }
  private def opOf(x: String): CompareOp = x match {
    case "Eq" => CompareOp.Eq; case "Neq" => CompareOp.Neq
    case "Gt" => CompareOp.Gt; case "Gte" => CompareOp.Gte
    case "Lt" => CompareOp.Lt; case "Lte" => CompareOp.Lte
  }

  private def valueToSeq(v: PropertyValue): Seq[PropertyValue] = {
    import PropertyValue._
    v match {
      case VArray(a) => a
      case VI64Array(a) => a.map(VI64)
      case VF64Array(a) => a.map(VF64)
      case VF32Array(a) => a.map(VF32)
      case VStringArray(a) => a.map(VString)
      case other => Seq(other)
    }
  }

  def readPred(n: JsonNode): Predicate = {
    import Predicate._
    val (t, v) = tagOf(n)
    t match {
      case "Eq" => Eq(v.get(0).asText, readValue(v.get(1)))
      case "Neq" => Neq(v.get(0).asText, readValue(v.get(1)))
      case "Gt" => Gt(v.get(0).asText, readValue(v.get(1)))
      case "Gte" => Gte(v.get(0).asText, readValue(v.get(1)))
      case "Lt" => Lt(v.get(0).asText, readValue(v.get(1)))
      case "Lte" => Lte(v.get(0).asText, readValue(v.get(1)))
      case "Between" => Between(v.get(0).asText, readValue(v.get(1)), readValue(v.get(2)))
      case "EqExpr" => EqExpr(v.get(0).asText, readExpr(v.get(1)))
      case "NeqExpr" => NeqExpr(v.get(0).asText, readExpr(v.get(1)))
      case "GtExpr" => GtExpr(v.get(0).asText, readExpr(v.get(1)))
      case "GteExpr" => GteExpr(v.get(0).asText, readExpr(v.get(1)))
      case "LtExpr" => LtExpr(v.get(0).asText, readExpr(v.get(1)))
      case "LteExpr" => LteExpr(v.get(0).asText, readExpr(v.get(1)))
      case "BetweenExpr" => BetweenExpr(v.get(0).asText, readExpr(v.get(1)), readExpr(v.get(2)))
      case "HasKey" => HasKey(v.asText)
      case "IsNull" => IsNull(v.asText)
      case "IsNotNull" => IsNotNull(v.asText)
      case "StartsWith" => StartsWith(v.get(0).asText, v.get(1).asText)
      case "EndsWith" => EndsWith(v.get(0).asText, v.get(1).asText)
      case "Contains" => Contains(v.get(0).asText, v.get(1).asText)
      case "ContainsExpr" => ContainsExpr(v.get(0).asText, readExpr(v.get(1)))
      case "IsIn" => IsIn(v.get(0).asText, valueToSeq(readValue(v.get(1))))
      case "IsInExpr" => IsInExpr(v.get(0).asText, readExpr(v.get(1)))
      case "And" => And(v.elements.asScala.map(readPred).toSeq)
      case "Or" => Or(v.elements.asScala.map(readPred).toSeq)
      case "Not" => Not(readPred(v))
      case "Compare" =>
        Compare(readExpr(v.get("left")), opOf(v.get("op").asText), readExpr(v.get("right")))
      case other => bad(s"unknown Predicate variant $other", n)
    }
  }

  // -------------------------------------------------- refs/inputs/bounds

  def writeNodeRef(r: NodeRef): JsonNode = r match {
    case NodeRef.All => s("All")
    case NodeRef.Id(i) => tagged("Ids", arr(Seq(F.numberNode(i)))) // wire has no scalar Id
    case NodeRef.Ids(is) => tagged("Ids", arr(is.map(F.numberNode)))
    case NodeRef.Var(x) => tagged("Var", s(x))
    case NodeRef.Param(x) => tagged("Param", s(x))
  }
  def readNodeRef(n: JsonNode): NodeRef = {
    val (t, v) = tagOf(n)
    t match {
      case "All" => NodeRef.All
      case "Ids" => NodeRef.Ids(v.elements.asScala.map(_.asLong).toSeq)
      case "Var" => NodeRef.Var(v.asText)
      case "Param" => NodeRef.Param(v.asText)
      case other => bad(s"unknown NodeRef variant $other", n)
    }
  }
  def writeEdgeRef(r: EdgeRef): JsonNode = r match {
    case EdgeRef.All => s("All")
    case EdgeRef.Id(i) => tagged("Ids", arr(Seq(F.numberNode(i))))
    case EdgeRef.Ids(is) => tagged("Ids", arr(is.map(F.numberNode)))
    case EdgeRef.Var(x) => tagged("Var", s(x))
    case EdgeRef.Param(x) => tagged("Param", s(x))
  }
  def readEdgeRef(n: JsonNode): EdgeRef = {
    val (t, v) = tagOf(n)
    t match {
      case "All" => EdgeRef.All
      case "Ids" => EdgeRef.Ids(v.elements.asScala.map(_.asLong).toSeq)
      case "Var" => EdgeRef.Var(v.asText)
      case "Param" => EdgeRef.Param(v.asText)
      case other => bad(s"unknown EdgeRef variant $other", n)
    }
  }

  def writeInput(in: PropertyInput): JsonNode = in match {
    case PropertyInput.Value(v) => tagged("Value", writeValue(v))
    case PropertyInput.FromExpr(e) => tagged("Expr", writeExpr(e))
  }
  def readInput(n: JsonNode): PropertyInput = {
    val (t, v) = tagOf(n)
    t match {
      case "Value" => PropertyInput.Value(readValue(v))
      case "Expr" => PropertyInput.FromExpr(readExpr(v))
      case other => bad(s"unknown PropertyInput variant $other", n)
    }
  }

  def writeBound(b: StreamBound): JsonNode = b match {
    case StreamBound.Literal(x) => tagged("Literal", F.numberNode(x))
    case StreamBound.FromExpr(e) => tagged("Expr", writeExpr(e))
  }
  def readBound(n: JsonNode): StreamBound = {
    val (t, v) = tagOf(n)
    t match {
      case "Literal" => StreamBound.Literal(v.asLong)
      case "Expr" => StreamBound.FromExpr(readExpr(v))
      case other => bad(s"unknown StreamBound variant $other", n)
    }
  }

  private def writeOrder(o: SortOrder): JsonNode =
    s(o match { case SortOrder.Asc => "Asc"; case SortOrder.Desc => "Desc" })
  private def readOrder(n: JsonNode): SortOrder =
    n.asText match { case "Desc" => SortOrder.Desc; case _ => SortOrder.Asc }

  private def writeAgg(f: AggFn): JsonNode = s(f match {
    case AggFn.Count => "Count"; case AggFn.Sum => "Sum"; case AggFn.Min => "Min"
    case AggFn.Max => "Max"; case AggFn.Mean => "Mean"
  })
  private def readAgg(n: JsonNode): AggFn = n.asText match {
    case "Count" => AggFn.Count; case "Sum" => AggFn.Sum; case "Min" => AggFn.Min
    case "Max" => AggFn.Max; case "Mean" => AggFn.Mean
    case other => bad(s"unknown AggregateFunction $other", n)
  }

  // --------------------------------------------------------- projections

  /** Projection is untagged on the wire: {source, alias} or {alias, expr};
    * endpoint pulls are encoded as "$from.<p>" / "$to.<p>" sources
    * (dsl.rs:2038-2066).
    */
  def writeProjection(p: Projection): JsonNode = p match {
    case Projection.Property(src, alias) => obj("source" -> s(src), "alias" -> s(alias))
    case Projection.FromEndpoint(src, alias) =>
      obj("source" -> s(s"$$from.$src"), "alias" -> s(alias))
    case Projection.ToEndpoint(src, alias) =>
      obj("source" -> s(s"$$to.$src"), "alias" -> s(alias))
    case Projection.Computed(alias, e) => obj("alias" -> s(alias), "expr" -> writeExpr(e))
  }
  def readProjection(n: JsonNode): Projection = {
    if (n.has("expr")) Projection.Computed(n.get("alias").asText, readExpr(n.get("expr")))
    else {
      val src = n.get("source").asText
      val alias = n.get("alias").asText
      if (src.startsWith("$from.")) Projection.FromEndpoint(src.stripPrefix("$from."), alias)
      else if (src.startsWith("$to.")) Projection.ToEndpoint(src.stripPrefix("$to."), alias)
      else Projection.Property(src, alias)
    }
  }

  private def writeTarget(t: BindingTarget): JsonNode = t match {
    case BindingTarget.Current => s("Current")
    case BindingTarget.Binding(x) => tagged("Binding", s(x))
  }
  private def readTarget(n: JsonNode): BindingTarget = {
    val (t, v) = tagOf(n)
    t match {
      case "Current" => BindingTarget.Current
      case "Binding" => BindingTarget.Binding(v.asText)
      case other => bad(s"unknown BindingTarget $other", n)
    }
  }

  /** BindingProjection is internally tagged with "kind" (dsl.rs:2132). */
  def writeBindingProjection(p: BindingProjection): JsonNode = p match {
    case BindingProjection.Property(t, src, alias) =>
      obj("kind" -> s("Property"), "target" -> writeTarget(t),
        "source" -> s(src), "alias" -> s(alias))
    case BindingProjection.Coalesce(refs, alias) =>
      obj("kind" -> s("Coalesce"),
        "refs" -> arr(refs.map { case (t, src) =>
          obj("target" -> writeTarget(t), "source" -> s(src)) }),
        "alias" -> s(alias))
  }
  def readBindingProjection(n: JsonNode): BindingProjection = n.get("kind").asText match {
    case "Property" =>
      BindingProjection.Property(readTarget(n.get("target")),
        n.get("source").asText, n.get("alias").asText)
    case "Coalesce" =>
      BindingProjection.Coalesce(
        n.get("refs").elements.asScala.map(r =>
          (readTarget(r.get("target")), r.get("source").asText)).toSeq,
        n.get("alias").asText)
    case other => bad(s"unknown BindingProjection kind $other", n)
  }

  // ----------------------------------------------------------- IndexSpec

  def writeIndexSpec(i: IndexSpec): JsonNode = i match {
    case IndexSpec.NodeEquality(l, p, u) =>
      tagged("NodeEquality", obj("label" -> s(l), "property" -> s(p), "unique" -> F.booleanNode(u)))
    case IndexSpec.NodeRange(l, p, desc) =>
      val o = obj("label" -> s(l), "property" -> s(p))
      if (desc) o.set[JsonNode]("direction", s("Desc"))
      tagged("NodeRange", o)
    case IndexSpec.EdgeEquality(l, p) =>
      tagged("EdgeEquality", obj("label" -> s(l), "property" -> s(p)))
    case IndexSpec.EdgeRange(l, p, desc) =>
      val o = obj("label" -> s(l), "property" -> s(p))
      if (desc) o.set[JsonNode]("direction", s("Desc"))
      tagged("EdgeRange", o)
    case IndexSpec.NodeVector(l, p, t) => writeVT("NodeVector", l, p, t)
    case IndexSpec.NodeText(l, p, t) => writeVT("NodeText", l, p, t)
    case IndexSpec.EdgeVector(l, p, t) => writeVT("EdgeVector", l, p, t)
    case IndexSpec.EdgeText(l, p, t) => writeVT("EdgeText", l, p, t)
  }
  private def writeVT(tag: String, l: String, p: String, t: Option[String]): JsonNode = {
    val o = obj("label" -> s(l), "property" -> s(p))
    t.foreach(x => o.set[JsonNode]("tenant_property", s(x)))
    tagged(tag, o)
  }
  def readIndexSpec(n: JsonNode): IndexSpec = {
    val (t, v) = tagOf(n)
    def l = v.get("label").asText
    def p = v.get("property").asText
    def desc = Option(v.get("direction")).exists(_.asText == "Desc")
    def ten = optStr(v.get("tenant_property"))
    t match {
      case "NodeEquality" =>
        IndexSpec.NodeEquality(l, p, Option(v.get("unique")).exists(_.asBoolean))
      case "NodeRange" => IndexSpec.NodeRange(l, p, desc)
      case "EdgeEquality" => IndexSpec.EdgeEquality(l, p)
      case "EdgeRange" => IndexSpec.EdgeRange(l, p, desc)
      case "NodeVector" => IndexSpec.NodeVector(l, p, ten)
      case "NodeText" => IndexSpec.NodeText(l, p, ten)
      case "EdgeVector" => IndexSpec.EdgeVector(l, p, ten)
      case "EdgeText" => IndexSpec.EdgeText(l, p, ten)
      case other => bad(s"unknown IndexSpec variant $other", n)
    }
  }

  // ---------------------------------------------------------------- Step

  private def writeSub(t: Traversal): JsonNode = obj("steps" -> arr(t.steps.map(writeStep)))
  private def readSub(n: JsonNode): Traversal =
    Traversal(n.get("steps").elements.asScala.map(readStep).toVector)
  private def optNode(o: Option[JsonNode]): JsonNode = o.getOrElse(F.nullNode())

  def writeStep(st: Step): JsonNode = {
    import Step._
    st match {
      case N(r) => tagged("N", writeNodeRef(r))
      case NWhere(p) => tagged("NWhere", writePred(p))
      case E(r) => tagged("E", writeEdgeRef(r))
      case EWhere(p) => tagged("EWhere", writePred(p))
      case VectorSearchNodes(l, p, t, q, k) => writeSearch("VectorSearchNodes", l, p, t, "query_vector", writeInput(q), k)
      case TextSearchNodes(l, p, t, q, k) => writeSearch("TextSearchNodes", l, p, t, "query_text", writeInput(q), k)
      case VectorSearchEdges(l, p, t, q, k) => writeSearch("VectorSearchEdges", l, p, t, "query_vector", writeInput(q), k)
      case TextSearchEdges(l, p, t, q, k) => writeSearch("TextSearchEdges", l, p, t, "query_text", writeInput(q), k)
      case Inject(v) => tagged("Inject", s(v))
      case Out(l) => tagged("Out", l.map(s).getOrElse(F.nullNode()))
      case In(l) => tagged("In", l.map(s).getOrElse(F.nullNode()))
      case Both(l) => tagged("Both", l.map(s).getOrElse(F.nullNode()))
      case OutE(l) => tagged("OutE", l.map(s).getOrElse(F.nullNode()))
      case InE(l) => tagged("InE", l.map(s).getOrElse(F.nullNode()))
      case BothE(l) => tagged("BothE", l.map(s).getOrElse(F.nullNode()))
      case OutN => s("OutN"); case InN => s("InN"); case OtherN => s("OtherN")
      case Has(p, v) => tagged("Has", arr(Seq(s(p), writeValue(v))))
      case HasLabel(l) => tagged("HasLabel", s(l))
      case HasKey(p) => tagged("HasKey", s(p))
      case Where(p) => tagged("Where", writePred(p))
      case Dedup => s("Dedup")
      case Within(v) => tagged("Within", s(v))
      case Without(v) => tagged("Without", s(v))
      case EdgeHas(p, in) => tagged("EdgeHas", arr(Seq(s(p), writeInput(in))))
      case EdgeHasLabel(l) => tagged("EdgeHasLabel", s(l))
      case OrderBy(p, o) => tagged("OrderBy", arr(Seq(s(p), writeOrder(o))))
      case OrderByMultiple(ks) =>
        tagged("OrderByMultiple", arr(ks.map { case (p, o) => arr(Seq(s(p), writeOrder(o))) }))
      case Limit(n) => tagged("Limit", F.numberNode(n))
      case Skip(n) => tagged("Skip", F.numberNode(n))
      case Range(a, b) => tagged("Range", arr(Seq(F.numberNode(a), F.numberNode(b))))
      case LimitBy(e) => tagged("LimitBy", writeExpr(e))
      case SkipBy(e) => tagged("SkipBy", writeExpr(e))
      case RangeBy(a, b) => tagged("RangeBy", arr(Seq(writeBound(a), writeBound(b))))
      case Group(p) => tagged("Group", s(p))
      case GroupCount(p) => tagged("GroupCount", s(p))
      case AggregateBy(f, p) => tagged("AggregateBy", arr(Seq(writeAgg(f), s(p))))
      case Fold => s("Fold"); case Unfold => s("Unfold")
      case Count => s("Count"); case Exists => s("Exists")
      case Id => s("Id"); case Label => s("Label")
      case Values(ps) => tagged("Values", arr(ps.map(s)))
      case ValueMap(ps) =>
        tagged("ValueMap", ps.map(x => arr(x.map(s)): JsonNode).getOrElse(F.nullNode()))
      case Project(ps) => tagged("Project", arr(ps.map(writeProjection)))
      case ProjectBindings(ps, d) =>
        tagged("ProjectBindings", obj(
          "projections" -> arr(ps.map(writeBindingProjection)),
          "distinct" -> F.booleanNode(d)))
      case EdgeProperties => s("EdgeProperties")
      case As(x) => tagged("As", s(x))
      case StoreVar(x) => tagged("Store", s(x))
      case SelectVar(x) => tagged("Select", s(x))
      case Bind(x) => tagged("Bind", s(x))
      case Union(bs) => tagged("Union", arr(bs.map(writeSub)))
      case Choose(c, t, e) =>
        tagged("Choose", obj("condition" -> writePred(c),
          "then_traversal" -> writeSub(t),
          "else_traversal" -> e.map(writeSub).getOrElse(F.nullNode())))
      case Coalesce(bs) => tagged("Coalesce", arr(bs.map(writeSub)))
      case Optional(t) => tagged("Optional", writeSub(t))
      case Repeat(cfg) =>
        tagged("Repeat", obj(
          "traversal" -> writeSub(cfg.traversal),
          "times" -> cfg.times.map(x => F.numberNode(x): JsonNode).getOrElse(F.nullNode()),
          "until" -> cfg.until.map(writePred).getOrElse(F.nullNode()),
          "emit" -> s(cfg.emit match {
            case EmitBehavior.None => "None"; case EmitBehavior.Before => "Before"
            case EmitBehavior.After => "After"; case EmitBehavior.All => "All"
          }),
          "emit_predicate" -> cfg.emitPredicate.map(writePred).getOrElse(F.nullNode()),
          "max_depth" -> F.numberNode(cfg.maxDepth)))
      case Path => s("Path"); case SimplePath => s("SimplePath")
      case WithSack(v) => tagged("WithSack", writeValue(v))
      case SackSet(p) => tagged("SackSet", s(p))
      case SackAdd(p) => tagged("SackAdd", s(p))
      case SackGet => s("SackGet")
      case AddN(l, props) =>
        tagged("AddN", obj("label" -> s(l), "properties" ->
          arr(props.map { case (k, in) => arr(Seq(s(k), writeInput(in))) })))
      case AddE(l, to, props) =>
        tagged("AddE", obj("label" -> s(l), "to" -> writeNodeRef(to), "properties" ->
          arr(props.map { case (k, in) => arr(Seq(s(k), writeInput(in))) })))
      case SetProperty(p, in) => tagged("SetProperty", arr(Seq(s(p), writeInput(in))))
      case RemoveProperty(p) => tagged("RemoveProperty", s(p))
      case Drop => s("Drop")
      case DropEdge(to) => tagged("DropEdge", writeNodeRef(to))
      case DropEdgeLabeled(to, l) =>
        tagged("DropEdgeLabeled", obj("to" -> writeNodeRef(to), "label" -> s(l)))
      case DropEdgeById(r) => tagged("DropEdgeById", writeEdgeRef(r))
      case CreateIndex(spec, ine) =>
        tagged("CreateIndex", obj("spec" -> writeIndexSpec(spec),
          "if_not_exists" -> F.booleanNode(ine)))
      case DropIndex(spec) => tagged("DropIndex", obj("spec" -> writeIndexSpec(spec)))
      case CreateVectorIndexNodes(l, p, t) => writeIdx("CreateVectorIndexNodes", l, p, t)
      case CreateVectorIndexEdges(l, p, t) => writeIdx("CreateVectorIndexEdges", l, p, t)
      case CreateTextIndexNodes(l, p, t) => writeIdx("CreateTextIndexNodes", l, p, t)
      case CreateTextIndexEdges(l, p, t) => writeIdx("CreateTextIndexEdges", l, p, t)
    }
  }

  private def writeSearch(tag: String, l: String, p: String, t: Option[PropertyInput],
      qKey: String, q: JsonNode, k: StreamBound): JsonNode = {
    val o = F.objectNode()
    o.set[JsonNode]("label", s(l))
    o.set[JsonNode]("property", s(p))
    t.foreach(x => o.set[JsonNode]("tenant_value", writeInput(x)))
    o.set[JsonNode](qKey, q)
    o.set[JsonNode]("k", writeBound(k))
    tagged(tag, o)
  }
  private def writeIdx(tag: String, l: String, p: String, t: Option[String]): JsonNode = {
    val o = obj("label" -> s(l), "property" -> s(p))
    t.foreach(x => o.set[JsonNode]("tenant_property", s(x)))
    tagged(tag, o)
  }

  def readStep(n: JsonNode): Step = {
    import Step._
    val (t, v) = tagOf(n)
    def optLabel = if (v == null || v.isNull) None else Some(v.asText)
    def props(x: JsonNode): Seq[(String, PropertyInput)] =
      if (x == null || x.isNull) Nil
      else x.elements.asScala.map(p => (p.get(0).asText, readInput(p.get(1)))).toSeq
    t match {
      case "N" => N(readNodeRef(v))
      case "NWhere" => NWhere(readPred(v))
      case "E" => E(readEdgeRef(v))
      case "EWhere" => EWhere(readPred(v))
      case "VectorSearchNodes" => VectorSearchNodes(v.get("label").asText, v.get("property").asText,
        Option(v.get("tenant_value")).filterNot(_.isNull).map(readInput),
        readInput(v.get("query_vector")), readBound(v.get("k")))
      case "TextSearchNodes" => TextSearchNodes(v.get("label").asText, v.get("property").asText,
        Option(v.get("tenant_value")).filterNot(_.isNull).map(readInput),
        readInput(v.get("query_text")), readBound(v.get("k")))
      case "VectorSearchEdges" => VectorSearchEdges(v.get("label").asText, v.get("property").asText,
        Option(v.get("tenant_value")).filterNot(_.isNull).map(readInput),
        readInput(v.get("query_vector")), readBound(v.get("k")))
      case "TextSearchEdges" => TextSearchEdges(v.get("label").asText, v.get("property").asText,
        Option(v.get("tenant_value")).filterNot(_.isNull).map(readInput),
        readInput(v.get("query_text")), readBound(v.get("k")))
      case "Inject" => Inject(v.asText)
      case "Out" => Out(optLabel); case "In" => In(optLabel); case "Both" => Both(optLabel)
      case "OutE" => OutE(optLabel); case "InE" => InE(optLabel); case "BothE" => BothE(optLabel)
      case "OutN" => OutN; case "InN" => InN; case "OtherN" => OtherN
      case "Has" => Has(v.get(0).asText, readValue(v.get(1)))
      case "HasLabel" => HasLabel(v.asText)
      case "HasKey" => HasKey(v.asText)
      case "Where" => Where(readPred(v))
      case "Dedup" => Dedup
      case "Within" => Within(v.asText)
      case "Without" => Without(v.asText)
      case "EdgeHas" => EdgeHas(v.get(0).asText, readInput(v.get(1)))
      case "EdgeHasLabel" => EdgeHasLabel(v.asText)
      case "OrderBy" => OrderBy(v.get(0).asText, readOrder(v.get(1)))
      case "OrderByMultiple" => OrderByMultiple(v.elements.asScala.map(x =>
        (x.get(0).asText, readOrder(x.get(1)))).toSeq)
      case "Limit" => Limit(v.asLong)
      case "Skip" => Skip(v.asLong)
      case "Range" => Range(v.get(0).asLong, v.get(1).asLong)
      case "LimitBy" => LimitBy(readExpr(v))
      case "SkipBy" => SkipBy(readExpr(v))
      case "RangeBy" => RangeBy(readBound(v.get(0)), readBound(v.get(1)))
      case "Group" => Group(v.asText)
      case "GroupCount" => GroupCount(v.asText)
      case "AggregateBy" => AggregateBy(readAgg(v.get(0)), v.get(1).asText)
      case "Fold" => Fold; case "Unfold" => Unfold
      case "Count" => Count; case "Exists" => Exists; case "Id" => Id; case "Label" => Label
      case "Values" => Values(v.elements.asScala.map(_.asText).toSeq)
      case "ValueMap" => ValueMap(
        if (v == null || v.isNull) None else Some(v.elements.asScala.map(_.asText).toSeq))
      case "Project" => Project(v.elements.asScala.map(readProjection).toSeq)
      case "ProjectBindings" => ProjectBindings(
        v.get("projections").elements.asScala.map(readBindingProjection).toSeq,
        v.get("distinct").asBoolean)
      case "EdgeProperties" => EdgeProperties
      case "As" => As(v.asText)
      case "Store" => StoreVar(v.asText)
      case "Select" => SelectVar(v.asText)
      case "Bind" => Bind(v.asText)
      case "Union" => Union(v.elements.asScala.map(readSub).toSeq)
      case "Choose" => Choose(readPred(v.get("condition")), readSub(v.get("then_traversal")),
        Option(v.get("else_traversal")).filterNot(_.isNull).map(readSub))
      case "Coalesce" => Coalesce(v.elements.asScala.map(readSub).toSeq)
      case "Optional" => Optional(readSub(v))
      case "Repeat" => Repeat(RepeatConfig(
        traversal = readSub(v.get("traversal")),
        times = Option(v.get("times")).filterNot(_.isNull).map(_.asInt),
        until = Option(v.get("until")).filterNot(_.isNull).map(readPred),
        emit = Option(v.get("emit")).filterNot(_.isNull).map(_.asText).getOrElse("None") match {
          case "Before" => EmitBehavior.Before; case "After" => EmitBehavior.After
          case "All" => EmitBehavior.All; case _ => EmitBehavior.None
        },
        emitPredicate = Option(v.get("emit_predicate")).filterNot(_.isNull).map(readPred),
        maxDepth = Option(v.get("max_depth")).filterNot(_.isNull).map(_.asInt).getOrElse(100)))
      case "Path" => Path; case "SimplePath" => SimplePath
      case "WithSack" => WithSack(readValue(v))
      case "SackSet" => SackSet(v.asText)
      case "SackAdd" => SackAdd(v.asText)
      case "SackGet" => SackGet
      case "AddN" => AddN(v.get("label").asText, props(v.get("properties")))
      case "AddE" => AddE(v.get("label").asText, readNodeRef(v.get("to")), props(v.get("properties")))
      case "SetProperty" => SetProperty(v.get(0).asText, readInput(v.get(1)))
      case "RemoveProperty" => RemoveProperty(v.asText)
      case "Drop" => Drop
      case "DropEdge" => DropEdge(readNodeRef(v))
      case "DropEdgeLabeled" => DropEdgeLabeled(readNodeRef(v.get("to")), v.get("label").asText)
      case "DropEdgeById" => DropEdgeById(readEdgeRef(v))
      case "CreateIndex" => CreateIndex(readIndexSpec(v.get("spec")),
        Option(v.get("if_not_exists")).exists(_.asBoolean))
      case "DropIndex" => DropIndex(readIndexSpec(v.get("spec")))
      case "CreateVectorIndexNodes" => CreateVectorIndexNodes(v.get("label").asText,
        v.get("property").asText, optStr(v.get("tenant_property")))
      case "CreateVectorIndexEdges" => CreateVectorIndexEdges(v.get("label").asText,
        v.get("property").asText, optStr(v.get("tenant_property")))
      case "CreateTextIndexNodes" => CreateTextIndexNodes(v.get("label").asText,
        v.get("property").asText, optStr(v.get("tenant_property")))
      case "CreateTextIndexEdges" => CreateTextIndexEdges(v.get("label").asText,
        v.get("property").asText, optStr(v.get("tenant_property")))
      case other => bad(s"unknown Step variant $other", n)
    }
  }

  // --------------------------------------------------------------- batch

  def writeBatchCondition(c: BatchCondition): JsonNode = c match {
    case BatchCondition.VarNotEmpty(x) => tagged("VarNotEmpty", s(x))
    case BatchCondition.VarEmpty(x) => tagged("VarEmpty", s(x))
    case BatchCondition.VarMinSize(x, m) =>
      tagged("VarMinSize", arr(Seq(s(x), F.numberNode(m))))
    case BatchCondition.PrevNotEmpty => s("PrevNotEmpty")
  }
  def readBatchCondition(n: JsonNode): BatchCondition = {
    val (t, v) = tagOf(n)
    t match {
      case "VarNotEmpty" => BatchCondition.VarNotEmpty(v.asText)
      case "VarEmpty" => BatchCondition.VarEmpty(v.asText)
      case "VarMinSize" => BatchCondition.VarMinSize(v.get(0).asText, v.get(1).asLong)
      case "PrevNotEmpty" => BatchCondition.PrevNotEmpty
      case other => bad(s"unknown BatchCondition $other", n)
    }
  }

  def writeEntry(e: BatchEntry): JsonNode = e match {
    case BatchEntry.Query(q) =>
      tagged("Query", obj(
        "name" -> q.name.map(s).getOrElse(F.nullNode()),
        "steps" -> arr(q.traversal.steps.map(writeStep)),
        "condition" -> q.condition.map(writeBatchCondition).getOrElse(F.nullNode())))
    case BatchEntry.ForEach(p, body) =>
      tagged("ForEach", obj("param" -> s(p), "body" -> arr(body.map(writeEntry))))
  }
  def readEntry(n: JsonNode): BatchEntry = {
    val (t, v) = tagOf(n)
    t match {
      case "Query" => BatchEntry.Query(NamedQuery(
        optStr(v.get("name")),
        Traversal(v.get("steps").elements.asScala.map(readStep).toVector),
        Option(v.get("condition")).filterNot(_.isNull).map(readBatchCondition)))
      case "ForEach" => BatchEntry.ForEach(v.get("param").asText,
        v.get("body").elements.asScala.map(readEntry).toSeq)
      case other => bad(s"unknown BatchEntry $other", n)
    }
  }

  /** Bare batch object (the `query` payload shape, reused as a bundle
    * route value): {"queries": [...], "returns": [...]}.
    */
  def writeBatchObj(b: Batch): JsonNode =
    obj("queries" -> arr(b.entries.map(writeEntry)), "returns" -> arr(b.returns.map(s)))
  def readBatchObj(n: JsonNode, write: Boolean): Batch = {
    val qn = Option(n.get("queries")).filterNot(_.isNull)
      .getOrElse(bad("batch object missing 'queries'", n))
    val entries = qn.elements.asScala.map(readEntry).toSeq
    val returns = Option(n.get("returns")).filterNot(_.isNull)
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
    Batch(entries, returns, write)
  }

  // ------------------------------------------------- envelope + params

  final case class Request(
      write: Boolean,
      queryName: Option[String],
      batch: Batch,
      parameters: Map[String, PropertyValue])

  /** Plain JSON parameter -> PropertyValue (DynamicQueryValue is
    * untagged JSON, dsl.rs:4747-4768; typed coercion via parameter_types
    * applies for DateTime / F32 / etc.).
    */
  def readParamValue(n: JsonNode): PropertyValue = {
    import PropertyValue._
    if (n.isNull) VNull
    else if (n.isBoolean) VBool(n.asBoolean)
    else if (n.isIntegralNumber) VI64(n.asLong)
    else if (n.isNumber) VF64(n.asDouble)
    else if (n.isTextual) VString(n.asText)
    else if (n.isArray) VArray(n.elements.asScala.map(readParamValue).toSeq)
    else if (n.isObject)
      VObject(n.properties.asScala.map(e => e.getKey -> readParamValue(e.getValue)).toMap)
    else bad("unsupported parameter value", n)
  }

  /** Declared parameter shape (QueryParamType, query_generator.rs:17-38):
    * scalars are bare names; Array, the only tagged form, nests an
    * element shape.
    */
  sealed trait PTy
  final case class Scalar(name: String) extends PTy
  final case class Arr(inner: PTy) extends PTy

  def readPTy(n: JsonNode): PTy =
    if (n.isTextual) Scalar(n.asText)
    else if (n.isObject && n.size == 1 && n.has("Array")) Arr(readPTy(n.get("Array")))
    else throw new IllegalArgumentException(s"bad QueryParamType: $n")

  /** Coerce a parsed parameter to its declared shape, arrays element by
    * element: notably DateTime accepts RFC3339 strings
    * (dsl.rs:4671-4675) and F32/F64/I64 normalize numerics.
    */
  def coerceParam(v: PropertyValue, t: PTy): PropertyValue = {
    import PropertyValue._
    (t, v) match {
      case (Arr(inner), VArray(xs)) => VArray(xs.map(coerceParam(_, inner)))
      // the reference rejects Bytes on the dynamic JSON route
      // (DynamicQueryError::UnsupportedBytesParameter, dsl.rs:4669-4670)
      case (Scalar("Bytes"), _) => throw new IllegalArgumentException(
        "unsupported parameter type Bytes in the dynamic JSON query route")
      case (Scalar("DateTime"), VString(rfc)) =>
        VDateTime(java.time.OffsetDateTime.parse(rfc).toInstant.toEpochMilli)
      case (Scalar("DateTime"), VI64(ms)) => VDateTime(ms)
      case (Scalar("F32"), VF64(d)) => VF32(d.toFloat)
      case (Scalar("F32"), VI64(i)) => VF32(i.toFloat)
      case (Scalar("F64"), VI64(i)) => VF64(i.toDouble)
      case (Scalar("I64"), VF64(d)) if d.isWhole => VI64(d.toLong)
      case _ => v
    }
  }

  def parseRequest(json: String): Request = {
    val root = mapper.readTree(json)
    val write = root.get("request_type").asText == "write"
    val q = root.get("query")
    val entries = q.get("queries").elements.asScala.map(readEntry).toSeq
    val returns = Option(q.get("returns")).filterNot(_.isNull)
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
    val types: Map[String, PTy] =
      Option(root.get("parameter_types")).filterNot(_.isNull).map { tn =>
        tn.properties.asScala.map(e => e.getKey -> readPTy(e.getValue)).toMap
      }.getOrElse(Map.empty)
    val params: Map[String, PropertyValue] =
      Option(root.get("parameters")).filterNot(_.isNull).map { pn =>
        pn.properties.asScala.map { e =>
          val raw = readParamValue(e.getValue)
          e.getKey -> types.get(e.getKey).map(coerceParam(raw, _)).getOrElse(raw)
        }.toMap
      }.getOrElse(Map.empty)
    Request(write, optStr(root.get("query_name")),
      Batch(entries, returns, write), params)
  }

  def writeRequest(r: Request): String = {
    val root = F.objectNode()
    root.set[JsonNode]("request_type", s(if (r.write) "write" else "read"))
    root.set[JsonNode]("query_name", r.queryName.map(s).getOrElse(F.nullNode()))
    root.set[JsonNode]("query", obj(
      "queries" -> arr(r.batch.entries.map(writeEntry)),
      "returns" -> arr(r.batch.returns.map(s))))
    if (r.parameters.nonEmpty) {
      val p = F.objectNode()
      r.parameters.toSeq.sortBy(_._1).foreach { case (k, v) =>
        p.set[JsonNode](k, writeParamValue(v))
      }
      root.set[JsonNode]("parameters", p)
    }
    mapper.writeValueAsString(root)
  }

  private def writeParamValue(v: PropertyValue): JsonNode = {
    import PropertyValue._
    v match {
      case VNull => F.nullNode()
      case VBool(b) => F.booleanNode(b)
      case VI64(i) => F.numberNode(i)
      case VF64(d) => F.numberNode(d)
      case VF32(f) => F.numberNode(f.toDouble)
      case VString(x) => s(x)
      case VDateTime(ms) =>
        s(java.time.Instant.ofEpochMilli(ms).toString) // RFC3339 (dsl.rs:4671-4675)
      case VI64Array(a) => arr(a.map(F.numberNode))
      case VF64Array(a) => arr(a.map(F.numberNode))
      case VF32Array(a) => arr(a.map(x => F.numberNode(x.toDouble)))
      case VStringArray(a) => arr(a.map(s))
      case VArray(a) => arr(a.map(writeParamValue))
      case VObject(m) =>
        val o = F.objectNode()
        m.toSeq.sortBy(_._1).foreach { case (k, x) => o.set[JsonNode](k, writeParamValue(x)) }
        o
      case VBytes(_) =>
        throw new CodecException("bytes parameters are not representable in dynamic JSON")
    }
  }
}

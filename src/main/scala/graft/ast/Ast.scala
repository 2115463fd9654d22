package graft.ast

/** Query AST mirroring the HelixDB dynamic-query "Step" IR.
  *
  * Semantics derived from the reference DSL definitions (see
  * /root/reference/sdks/rust/src/dsl.rs — Step enum at dsl.rs:2795-3262,
  * Predicate at dsl.rs:1586-1648, Expr at dsl.rs:1390-1422,
  * PropertyValue at dsl.rs:973-1002). This is a fresh Spark-first
  * design: the AST compiles to DataFrame transformations (graft.exec),
  * not a port of the reference engine.
  */
sealed trait PropertyValue extends Serializable
object PropertyValue {
  case object VNull extends PropertyValue
  final case class VBool(v: Boolean) extends PropertyValue
  final case class VI64(v: Long) extends PropertyValue
  final case class VF64(v: Double) extends PropertyValue
  final case class VF32(v: Float) extends PropertyValue
  final case class VString(v: String) extends PropertyValue
  /** UTC epoch milliseconds (reference dsl.rs:981, RFC3339 coercion 1110-1139). */
  final case class VDateTime(epochMs: Long) extends PropertyValue
  final case class VBytes(v: Array[Byte]) extends PropertyValue
  final case class VI64Array(v: Seq[Long]) extends PropertyValue
  final case class VF64Array(v: Seq[Double]) extends PropertyValue
  final case class VF32Array(v: Seq[Float]) extends PropertyValue
  final case class VStringArray(v: Seq[String]) extends PropertyValue
  final case class VArray(v: Seq[PropertyValue]) extends PropertyValue
  final case class VObject(v: Map[String, PropertyValue]) extends PropertyValue
}

/** Node references usable as traversal sources (dsl.rs:1263-1299). */
sealed trait NodeRef extends Serializable
object NodeRef {
  case object All extends NodeRef
  final case class Id(id: Long) extends NodeRef
  final case class Ids(ids: Seq[Long]) extends NodeRef
  final case class Var(name: String) extends NodeRef
  final case class Param(name: String) extends NodeRef
}

sealed trait EdgeRef extends Serializable
object EdgeRef {
  case object All extends EdgeRef
  final case class Id(id: Long) extends EdgeRef
  final case class Ids(ids: Seq[Long]) extends EdgeRef
  final case class Var(name: String) extends EdgeRef
  final case class Param(name: String) extends EdgeRef
}

sealed trait SortOrder extends Serializable
object SortOrder { case object Asc extends SortOrder; case object Desc extends SortOrder }

/** AggregateFunction (dsl.rs:2250-2261). */
sealed trait AggFn extends Serializable
object AggFn {
  case object Count extends AggFn
  case object Sum extends AggFn
  case object Min extends AggFn
  case object Max extends AggFn
  case object Mean extends AggFn
}

/** Comparison ops for Predicate.Compare (dsl.rs:1567-1580). */
sealed trait CompareOp extends Serializable
object CompareOp {
  case object Eq extends CompareOp; case object Neq extends CompareOp
  case object Gt extends CompareOp; case object Gte extends CompareOp
  case object Lt extends CompareOp; case object Lte extends CompareOp
}

/** Scalar expression language (dsl.rs:1390-1422). */
sealed trait Expr extends Serializable
object Expr {
  /** Property lookup; dot-paths allowed (`metadata.score`). `$id`/`$label` virtual. */
  final case class Property(name: String) extends Expr
  case object Id extends Expr
  /** Server-side epoch-ms now (dsl.rs Timestamp). */
  case object Timestamp extends Expr
  case object DateTimeNow extends Expr
  final case class Constant(v: PropertyValue) extends Expr
  final case class Param(name: String) extends Expr
  final case class Add(l: Expr, r: Expr) extends Expr
  final case class Sub(l: Expr, r: Expr) extends Expr
  final case class Mul(l: Expr, r: Expr) extends Expr
  final case class Div(l: Expr, r: Expr) extends Expr
  final case class Mod(l: Expr, r: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr
  final case class Case(whenThen: Seq[(Predicate, Expr)], els: Option[Expr]) extends Expr
}

/** Predicate tree (dsl.rs:1586-1648). `SourcePredicate` (dsl.rs:1650-1692)
  * is the index-friendly subset used by NWhere/EWhere; we accept the full
  * tree everywhere and rely on Catalyst pushdown.
  */
sealed trait Predicate extends Serializable
object Predicate {
  final case class Eq(prop: String, v: PropertyValue) extends Predicate
  final case class Neq(prop: String, v: PropertyValue) extends Predicate
  final case class Gt(prop: String, v: PropertyValue) extends Predicate
  final case class Gte(prop: String, v: PropertyValue) extends Predicate
  final case class Lt(prop: String, v: PropertyValue) extends Predicate
  final case class Lte(prop: String, v: PropertyValue) extends Predicate
  /** Inclusive on both ends (dsl.rs:1600). */
  final case class Between(prop: String, lo: PropertyValue, hi: PropertyValue) extends Predicate
  final case class EqExpr(prop: String, e: Expr) extends Predicate
  final case class NeqExpr(prop: String, e: Expr) extends Predicate
  final case class GtExpr(prop: String, e: Expr) extends Predicate
  final case class GteExpr(prop: String, e: Expr) extends Predicate
  final case class LtExpr(prop: String, e: Expr) extends Predicate
  final case class LteExpr(prop: String, e: Expr) extends Predicate
  final case class BetweenExpr(prop: String, lo: Expr, hi: Expr) extends Predicate
  final case class HasKey(prop: String) extends Predicate
  /** True when missing OR explicitly null (dsl.rs:1617-1618). */
  final case class IsNull(prop: String) extends Predicate
  final case class IsNotNull(prop: String) extends Predicate
  final case class StartsWith(prop: String, s: String) extends Predicate
  final case class EndsWith(prop: String, s: String) extends Predicate
  final case class Contains(prop: String, s: String) extends Predicate
  final case class ContainsExpr(prop: String, e: Expr) extends Predicate
  final case class IsIn(prop: String, vs: Seq[PropertyValue]) extends Predicate
  final case class IsInExpr(prop: String, e: Expr) extends Predicate
  final case class And(ps: Seq[Predicate]) extends Predicate
  final case class Or(ps: Seq[Predicate]) extends Predicate
  final case class Not(p: Predicate) extends Predicate
  final case class Compare(left: Expr, op: CompareOp, right: Expr) extends Predicate
}

/** Projection item for the Project terminal (dsl.rs:2039-2066). */
sealed trait Projection extends Serializable
object Projection {
  final case class Property(source: String, alias: String) extends Projection
  /** Pull a property from the edge's source endpoint node. */
  final case class FromEndpoint(source: String, alias: String) extends Projection
  /** Pull a property from the edge's destination endpoint node. */
  final case class ToEndpoint(source: String, alias: String) extends Projection
  final case class Computed(alias: String, expr: Expr) extends Projection
}

/** Row-binding projection (dsl.rs:2082-2150). */
sealed trait BindingTarget extends Serializable
object BindingTarget {
  case object Current extends BindingTarget
  final case class Binding(name: String) extends BindingTarget
}
sealed trait BindingProjection extends Serializable
object BindingProjection {
  final case class Property(target: BindingTarget, source: String, alias: String)
      extends BindingProjection
  /** First-non-null across (target, source) refs. */
  final case class Coalesce(refs: Seq[(BindingTarget, String)], alias: String)
      extends BindingProjection
}

/** Repeat emit behavior (dsl.rs:2231-2240). */
sealed trait EmitBehavior extends Serializable
object EmitBehavior {
  case object None extends EmitBehavior
  case object Before extends EmitBehavior
  case object After extends EmitBehavior
  case object All extends EmitBehavior
}

/** RepeatConfig (dsl.rs:2503-2529); default max_depth 100 (dsl.rs:2514-2515). */
final case class RepeatConfig(
    traversal: Traversal,
    times: Option[Int] = None,
    until: Option[Predicate] = None,
    emit: EmitBehavior = EmitBehavior.None,
    emitPredicate: Option[Predicate] = None,
    maxDepth: Int = 100)

/** Property input for mutations: literal value or expression (dsl.rs:1219-1224). */
sealed trait PropertyInput extends Serializable
object PropertyInput {
  final case class Value(v: PropertyValue) extends PropertyInput
  final case class FromExpr(e: Expr) extends PropertyInput
}

/** Non-negative bound for limit/skip/range steps (dsl.rs:1496-1515). */
sealed trait StreamBound extends Serializable
object StreamBound {
  final case class Literal(n: Long) extends StreamBound
  final case class FromExpr(e: Expr) extends StreamBound
}

/** Index DDL spec (dsl.rs:2580-2658). */
sealed trait IndexSpec extends Serializable {
  def label: String
  def property: String
}
object IndexSpec {
  /** A text or vector index: the kinds served from cached artifacts
    * (graft.search.IndexCache).
    */
  sealed trait Artifact extends IndexSpec {
    def tenantProperty: Option[String]
    def isEdges: Boolean
    def isText: Boolean
  }
  final case class NodeEquality(label: String, property: String, unique: Boolean = false) extends IndexSpec
  final case class NodeRange(label: String, property: String, descending: Boolean = false) extends IndexSpec
  final case class EdgeEquality(label: String, property: String) extends IndexSpec
  final case class EdgeRange(label: String, property: String, descending: Boolean = false) extends IndexSpec
  final case class NodeVector(label: String, property: String,
      tenantProperty: Option[String] = None) extends Artifact {
    def isEdges = false; def isText = false
  }
  final case class NodeText(label: String, property: String,
      tenantProperty: Option[String] = None) extends Artifact {
    def isEdges = false; def isText = true
  }
  final case class EdgeVector(label: String, property: String,
      tenantProperty: Option[String] = None) extends Artifact {
    def isEdges = true; def isText = false
  }
  final case class EdgeText(label: String, property: String,
      tenantProperty: Option[String] = None) extends Artifact {
    def isEdges = true; def isText = true
  }
}

/** The Step enum (dsl.rs:2795-3262). One case per wire variant. */
sealed trait Step extends Serializable
object Step {
  // ---- Sources (Empty -> OnNodes | OnEdges), dsl.rs:2800-2883, 3261
  final case class N(ref: NodeRef) extends Step
  final case class NWhere(p: Predicate) extends Step
  final case class E(ref: EdgeRef) extends Step
  final case class EWhere(p: Predicate) extends Step
  final case class VectorSearchNodes(label: String, property: String,
      tenantValue: Option[PropertyInput], queryVector: PropertyInput, k: StreamBound) extends Step
  final case class TextSearchNodes(label: String, property: String,
      tenantValue: Option[PropertyInput], queryText: PropertyInput, k: StreamBound) extends Step
  final case class VectorSearchEdges(label: String, property: String,
      tenantValue: Option[PropertyInput], queryVector: PropertyInput, k: StreamBound) extends Step
  final case class TextSearchEdges(label: String, property: String,
      tenantValue: Option[PropertyInput], queryText: PropertyInput, k: StreamBound) extends Step
  /** As source: start from var; mid-stream: union var into stream (dsl.rs:3909-3913). */
  final case class Inject(varName: String) extends Step

  // ---- Navigation (dsl.rs:2891-2942)
  final case class Out(label: Option[String]) extends Step
  final case class In(label: Option[String]) extends Step
  final case class Both(label: Option[String]) extends Step
  final case class OutE(label: Option[String]) extends Step
  final case class InE(label: Option[String]) extends Step
  final case class BothE(label: Option[String]) extends Step
  case object OutN extends Step
  case object InN extends Step
  case object OtherN extends Step

  // ---- Filters (dsl.rs:2946-2974)
  final case class Has(prop: String, v: PropertyValue) extends Step
  final case class HasLabel(label: String) extends Step
  final case class HasKey(prop: String) extends Step
  final case class Where(p: Predicate) extends Step
  case object Dedup extends Step
  final case class Within(varName: String) extends Step
  final case class Without(varName: String) extends Step
  final case class EdgeHas(prop: String, v: PropertyInput) extends Step
  final case class EdgeHasLabel(label: String) extends Step

  // ---- Sort / page (dsl.rs:2978-2993, 3171-3174)
  final case class OrderBy(prop: String, order: SortOrder) extends Step
  final case class OrderByMultiple(keys: Seq[(String, SortOrder)]) extends Step
  final case class Limit(n: Long) extends Step
  final case class Skip(n: Long) extends Step
  final case class Range(start: Long, end: Long) extends Step
  final case class LimitBy(e: Expr) extends Step
  final case class SkipBy(e: Expr) extends Step
  final case class RangeBy(start: StreamBound, end: StreamBound) extends Step

  // ---- Aggregations (dsl.rs:3204-3222)
  final case class Group(prop: String) extends Step
  final case class GroupCount(prop: String) extends Step
  final case class AggregateBy(fn: AggFn, prop: String) extends Step
  case object Fold extends Step   // reserved no-op (dsl.rs:3216)
  case object Unfold extends Step // reserved no-op (dsl.rs:3221)

  // ---- Terminals (dsl.rs:3016-3054)
  case object Count extends Step
  case object Exists extends Step
  case object Id extends Step
  case object Label extends Step
  final case class Values(props: Seq[String]) extends Step
  final case class ValueMap(props: Option[Seq[String]]) extends Step
  final case class Project(ps: Seq[Projection]) extends Step
  final case class ProjectBindings(ps: Seq[BindingProjection], distinct: Boolean) extends Step
  case object EdgeProperties extends Step

  // ---- Control flow (dsl.rs:2999-3012, 3180-3200, 3228-3254)
  final case class As(name: String) extends Step
  final case class StoreVar(name: String) extends Step
  final case class SelectVar(name: String) extends Step
  final case class Bind(name: String) extends Step
  final case class Union(branches: Seq[Traversal]) extends Step
  final case class Choose(cond: Predicate, thenT: Traversal, elseT: Option[Traversal]) extends Step
  final case class Coalesce(branches: Seq[Traversal]) extends Step
  final case class Optional(t: Traversal) extends Step
  final case class Repeat(cfg: RepeatConfig) extends Step
  case object Path extends Step       // reserved no-op
  case object SimplePath extends Step // reserved no-op
  final case class WithSack(v: PropertyValue) extends Step // reserved no-op
  final case class SackSet(prop: String) extends Step      // reserved no-op
  final case class SackAdd(prop: String) extends Step      // reserved no-op
  case object SackGet extends Step                         // reserved no-op

  // ---- Mutations (dsl.rs:3121-3167)
  final case class AddN(label: String, properties: Seq[(String, PropertyInput)]) extends Step
  final case class AddE(label: String, to: NodeRef, properties: Seq[(String, PropertyInput)]) extends Step
  final case class SetProperty(name: String, v: PropertyInput) extends Step
  final case class RemoveProperty(name: String) extends Step
  case object Drop extends Step
  final case class DropEdge(to: NodeRef) extends Step
  final case class DropEdgeLabeled(to: NodeRef, label: String) extends Step
  final case class DropEdgeById(ref: EdgeRef) extends Step
  final case class CreateIndex(spec: IndexSpec, ifNotExists: Boolean) extends Step
  final case class DropIndex(spec: IndexSpec) extends Step
  final case class CreateVectorIndexNodes(label: String, property: String,
      tenantProperty: Option[String]) extends Step
  final case class CreateVectorIndexEdges(label: String, property: String,
      tenantProperty: Option[String]) extends Step
  final case class CreateTextIndexNodes(label: String, property: String,
      tenantProperty: Option[String]) extends Step
  final case class CreateTextIndexEdges(label: String, property: String,
      tenantProperty: Option[String]) extends Step
}

final case class Traversal(steps: Vector[Step]) {
  def +(s: Step): Traversal = Traversal(steps :+ s)
}
object Traversal { val empty: Traversal = Traversal(Vector.empty) }

/** Batch layer (dsl.rs:4432-4489). */
sealed trait BatchCondition extends Serializable
object BatchCondition {
  final case class VarNotEmpty(name: String) extends BatchCondition
  final case class VarEmpty(name: String) extends BatchCondition
  final case class VarMinSize(name: String, n: Long) extends BatchCondition
  case object PrevNotEmpty extends BatchCondition
}

final case class NamedQuery(name: Option[String], traversal: Traversal,
    condition: Option[BatchCondition] = None)

sealed trait BatchEntry extends Serializable
object BatchEntry {
  final case class Query(q: NamedQuery) extends BatchEntry
  /** Execute body once per object element of array param (dsl.rs:4458-4468). */
  final case class ForEach(param: String, body: Seq[BatchEntry]) extends BatchEntry
}

final case class Batch(entries: Seq[BatchEntry], returns: Seq[String],
    write: Boolean = false)

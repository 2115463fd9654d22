package graft.exec

import graft.ast._
import graft.model.{EdgeMeta, GraphStore}
import graft.pipeline.Scratch
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** The element stream flowing through a traversal: a DataFrame plus
  * compile-time knowledge used for plan pruning.
  *
  * Columns: `_id`, `_label` (+ `_src`, `_dst`, optional `_came` on edge
  * streams) + property columns + `_b_<name>` row-binding structs.
  *
  * `labels` is the statically-known set of possible labels — it prunes
  * which per-label tables are unioned/joined (partition pruning at the
  * plan level; on a real cluster this is the difference between reading
  * one label's files and reading all of them).
  */
final case class Stream(df: DataFrame, isEdges: Boolean, labels: Option[Set[String]]) {
  def bindingCols: Seq[String] = df.columns.toSeq.filter(_.startsWith("_b_"))
}

class TraversalException(msg: String) extends RuntimeException(msg)

object Compiler {
  /** AddE id allocation: new-edge rows hash into `AddEBands` bands, each
    * band numbering up to `AddEBandCap` edges with its own window; one
    * AddE call reserves Bands*Cap ids arithmetically — no global-window
    * single-partition exchange, no per-call count() job.
    */
  val AddEBands = 64L
  val AddEBandCap: Long = 1L << 33

  /** Batch-scoped control of the id-allocation seed. The first seed a
    * batch computes can come from a max-scan fallback whose result
    * depends on runtime state WAL replay cannot reconstruct (a
    * streaming overlay's external ids, cleared marks), so the live
    * batch RECORDS the seed it actually used (`firstSeed`, logged into
    * the WAL segment) and replay FORCES the recorded value — ids come
    * back bit-identical without re-deriving the environment that
    * produced them. Subsequent compilers in the same batch seed from
    * the high-water mark the previous one stamped, which is
    * deterministic given the first.
    */
  final class IdSeedControl(forced: Option[Long] = None) {
    private var pending = forced
    @volatile private var first: Option[Long] = None
    def firstSeed: Option[Long] = first
    private[exec] def seed(default: => Long): Long = synchronized {
      val s = pending match {
        case Some(v) => pending = None; v
        case None => default
      }
      if (first.isEmpty) first = Some(s)
      s
    }
  }
}

/** Compiles a traversal (ordered Vec[Step], dsl.rs:3304-3311) into a
  * DataFrame plan. Spark-first: every step is a declarative DataFrame
  * transformation so Catalyst handles pushdown/pruning/join selection;
  * only `Repeat` is a driver-side loop (BFS pattern, cf. GraphFrames).
  */
class Compiler(
    var store: GraphStore,
    val params: Map[String, PropertyValue] = Map.empty,
    val batchVars: mutable.Map[String, Stream] = mutable.Map.empty,
    val writeEnabled: Boolean = false,
    /** Shared across a batch's compilers; see Compiler.IdSeedControl. */
    val idSeedCtl: Compiler.IdSeedControl = new Compiler.IdSeedControl()) {

  import PropertyValue._

  private val spark = store.spark

  // ---------------------------------------------------------------- values

  /** Raw string form of a scalar value — stable cache/artifact keys
    * (tenant-partitioned index artifacts key on the tenant VALUE; the
    * ADT wrapper's toString would couple keys to case-class names).
    */
  def valueKey(v: PropertyValue): String = v match {
    case VNull => "null"
    case VBool(b) => b.toString
    case VI64(i) => i.toString
    case VF64(d) => d.toString
    case VF32(f) => f.toString
    case VString(s) => s
    case VDateTime(ms) => ms.toString
    case other => other.toString
  }

  def valueToLit(v: PropertyValue): Column = v match {
    case VNull => lit(null)
    case VBool(b) => lit(b)
    case VI64(i) => lit(i)
    case VF64(d) => lit(d)
    case VF32(f) => lit(f)
    case VString(s) => lit(s)
    // epoch-ms UTC -> NTZ wall-clock literal (session tz pinned to UTC;
    // the testdata's timestamps read as TIMESTAMP_NTZ)
    case VDateTime(ms) => lit(java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC))
    case VBytes(b) => lit(b)
    case VI64Array(a) => array(a.map(lit): _*)
    case VF64Array(a) => array(a.map(lit): _*)
    case VF32Array(a) => array(a.map(lit): _*)
    case VStringArray(a) => array(a.map(lit): _*)
    case VArray(a) => array(a.map(valueToLit): _*)
    case VObject(m) =>
      map(m.toSeq.sortBy(_._1).flatMap { case (k, x) => Seq(lit(k), valueToLit(x)) }: _*)
  }

  /** Resolve a property name against the current stream. `$id`/`$label`
    * virtual fields (dsl.rs:2948-2951); dot-paths reach into struct
    * columns; a name absent from this label's schema is null (dynamic
    * property model: missing == null).
    */
  def resolveProp(df: DataFrame, name: String): Column = name match {
    case "$id" => col("_id")
    case "$label" => col("_label")
    // relevance virtual fields populated by vector/text search steps
    case "$distance" | "$score" =>
      if (df.columns.contains("_score")) col("_score") else lit(null)
    case n =>
      val head = n.split('.').head
      if (!df.columns.contains(head)) lit(null)
      else if (n.contains('.') &&
        df.schema(head).dataType == org.apache.spark.sql.types.StringType)
        // dynamic document properties serialized as JSON strings:
        // dot-paths reach into them (reference nested-Object dot-path
        // semantics, generate_parity_fixtures.rs:1312-1338)
        get_json_object(col(head), "$." + n.substring(head.length + 1))
      else col(n)
  }

  /** Resolve a PropertyInput to a literal PropertyValue (for inputs that
    * must be known at plan time: query vectors, tenants, bounds).
    */
  def resolveInputValue(in: PropertyInput): PropertyValue = in match {
    case PropertyInput.Value(v) => v
    case PropertyInput.FromExpr(Expr.Constant(v)) => v
    case PropertyInput.FromExpr(Expr.Param(n)) =>
      params.getOrElse(n, throw new TraversalException(s"missing param: $n"))
    case other => throw new TraversalException(s"input not resolvable at plan time: $other")
  }

  private def asDoubles(v: PropertyValue): Seq[Double] = v match {
    case VF32Array(a) => a.map(_.toDouble)
    case VF64Array(a) => a
    case VI64Array(a) => a.map(_.toDouble)
    case VArray(a) => a.map {
      case VF32(x) => x.toDouble; case VF64(x) => x; case VI64(x) => x.toDouble
      case other => throw new TraversalException(s"non-numeric vector element: $other")
    }
    case other => throw new TraversalException(s"not a vector: $other")
  }

  /** A query vector for a search against (label, prop). A STRING
    * embeds engine-side — but ONLY when the property has a declared
    * vector index, because then the stored vectors were embedded by
    * the same engine Embedder and the dimensions are guaranteed to
    * agree (the reference's embedding_model flow likewise applies to
    * indexed properties). Against an undeclared property holding
    * client-supplied vectors of arbitrary dimension, an embedded
    * string would silently cosine-compare mismatched lengths
    * (null-padded zip → all-null scores → arbitrary top-k), so it
    * stays the explicit "not a vector" error.
    */
  private def asQueryVector(v: PropertyValue, label: String, prop: String,
      isEdges: Boolean): Seq[Double] = v match {
    case VString(s) if vectorIndexed(label, prop, isEdges) =>
      graft.search.Embedder.default.embed(s).toSeq.map(_.toDouble)
    case VString(_) => throw new TraversalException(
      s"string query_vector requires a declared vector index on ($label, $prop) " +
        "for engine-side embedding; pass a numeric vector instead")
    case other => asDoubles(other)
  }

  private def asString(v: PropertyValue): String = v match {
    case VString(s) => s
    case other => throw new TraversalException(s"not a string: $other")
  }

  def compileExpr(df: DataFrame, e: Expr): Column = e match {
    case Expr.Property(n) => resolveProp(df, n)
    case Expr.Id => col("_id")
    case Expr.Timestamp => (unix_timestamp(current_timestamp()) * 1000).cast("long")
    case Expr.DateTimeNow => current_timestamp()
    case Expr.Constant(v) => valueToLit(v)
    case Expr.Param(n) =>
      valueToLit(params.getOrElse(n, throw new TraversalException(s"missing param: $n")))
    case Expr.Add(l, r) => compileExpr(df, l) + compileExpr(df, r)
    case Expr.Sub(l, r) => compileExpr(df, l) - compileExpr(df, r)
    case Expr.Mul(l, r) => compileExpr(df, l) * compileExpr(df, r)
    case Expr.Div(l, r) => compileExpr(df, l) / compileExpr(df, r)
    case Expr.Mod(l, r) => compileExpr(df, l) % compileExpr(df, r)
    case Expr.Neg(x) => -compileExpr(df, x)
    case Expr.Case(whenThen, els) =>
      val base = whenThen.foldLeft(Option.empty[Column]) { case (acc, (p, v)) =>
        val c = compilePred(df, p); val out = compileExpr(df, v)
        Some(acc.map(_.when(c, out)).getOrElse(when(c, out)))
      }.getOrElse(throw new TraversalException("empty case"))
      els.map(x => base.otherwise(compileExpr(df, x))).getOrElse(base)
  }

  def compilePred(df: DataFrame, p: Predicate): Column = {
    import Predicate._
    def r(n: String) = resolveProp(df, n)
    p match {
      case Eq(n, v) => r(n) === valueToLit(v)
      case Neq(n, v) => r(n) =!= valueToLit(v)
      case Gt(n, v) => r(n) > valueToLit(v)
      case Gte(n, v) => r(n) >= valueToLit(v)
      case Lt(n, v) => r(n) < valueToLit(v)
      case Lte(n, v) => r(n) <= valueToLit(v)
      case Between(n, lo, hi) => r(n).between(valueToLit(lo), valueToLit(hi))
      case BetweenExpr(n, lo, hi) => r(n).between(compileExpr(df, lo), compileExpr(df, hi))
      case EqExpr(n, e) => r(n) === compileExpr(df, e)
      case NeqExpr(n, e) => r(n) =!= compileExpr(df, e)
      case GtExpr(n, e) => r(n) > compileExpr(df, e)
      case GteExpr(n, e) => r(n) >= compileExpr(df, e)
      case LtExpr(n, e) => r(n) < compileExpr(df, e)
      case LteExpr(n, e) => r(n) <= compileExpr(df, e)
      case HasKey(n) =>
        if (df.columns.contains(n.split('.').head)) col(n.split('.').head).isNotNull else lit(false)
      case IsNull(n) => r(n).isNull
      case IsNotNull(n) => r(n).isNotNull
      case StartsWith(n, s) => r(n).startsWith(s)
      case EndsWith(n, s) => r(n).endsWith(s)
      case Contains(n, s) => r(n).contains(s)
      case ContainsExpr(n, e) => r(n).contains(compileExpr(df, e))
      case IsIn(n, vs) =>
        // single In predicate (not an ===-OR chain): a 10k-element list
        // stays one pushdown-friendly node instead of a 10k-deep tree
        if (vs.isEmpty) lit(false)
        else r(n).isin(vs.map(valueToLit): _*)
      case IsInExpr(n, e) => array_contains(compileExpr(df, e), r(n))
      case And(ps) => ps.map(compilePred(df, _)).reduce(_ && _)
      case Or(ps) => ps.map(compilePred(df, _)).reduce(_ || _)
      case Not(x) => !compilePred(df, x)
      case Compare(l, op, rr) =>
        val lc = compileExpr(df, l); val rc = compileExpr(df, rr)
        op match {
          case CompareOp.Eq => lc === rc
          case CompareOp.Neq => lc =!= rc
          case CompareOp.Gt => lc > rc
          case CompareOp.Gte => lc >= rc
          case CompareOp.Lt => lc < rc
          case CompareOp.Lte => lc <= rc
        }
    }
  }

  // ------------------------------------------------------------ navigation

  private def keepCols(s: Stream): Seq[String] = s.bindingCols

  /** Steps that only ever touch `_id` — if every remaining step is in
    * this set, adjacency can skip the target-node join entirely
    * (SURVEY §4.2 "adjacency fusion": prune the nodes-join when the
    * next steps only need ids). Empty rest = unknown continuation
    * (sub-traversal) -> not provably props-free.
    */
  private def propsFreeSteps(rest: List[Step]): Boolean = rest.forall {
    case Step.Count | Step.Exists | Step.Id | Step.Dedup => true
    case _: Step.Within | _: Step.Without => true
    case _: Step.Limit | _: Step.Skip | _: Step.Range => true
    case _ => false
  }

  /** A repeat body consisting only of label-filtered navigation and
    * id-only steps never reads node properties at any depth.
    */
  private def propsFreeNavOnly(t: Traversal): Boolean = t.steps.forall {
    case _: Step.Out | _: Step.In | _: Step.Both => true
    case other => propsFreeSteps(List(other))
  }

  /** node stream -> neighbor node stream via out/in edges. Per edge
    * label: cur ⋈ edges ⋈ nodes(dst labels of that edge label) — the
    * per-label split keeps each join pruned to exactly the reachable
    * tables. When the continuation is props-free and the edge label has
    * a single endpoint label, the nodes join is skipped and `_id`/
    * `_label` are synthesized from the edge (valid under the store's
    * referential-integrity invariant, which cascade Drop maintains).
    */
  private def nav(cur: Stream, edgeLabel: Option[String], outDir: Boolean,
      propsFreeTail: Boolean = false): Stream = {
    require(!cur.isEdges, "Out/In/Both require a node stream")
    val pruned = edgeLabel.map(Set(_)).getOrElse(
      if (outDir) store.outEdgeLabels(cur.labels) else store.inEdgeLabels(cur.labels))
    // meta-pruned to nothing (e.g. a leaf label) -> join against all edges;
    // the join correctly yields empty. Explicit unknown labels still error.
    val eLabels = if (pruned.isEmpty) store.edgeLabels else pruned
    val (nearCol, farCol) = if (outDir) ("_src", "_dst") else ("_dst", "_src")
    val keep = keepCols(cur)
    val left = cur.df.select(col("_id").as("__cur") +: keep.map(col): _*)
    val skipJoin = propsFreeTail
    val branches = eLabels.toSeq.sorted.map { el =>
      val tls = if (outDir) store.dstLabelsOf(Set(el)) else store.srcLabelsOf(Set(el))
      val edges = store.edgesFor(el).select(col(nearCol), col(farCol))
      val mid = left.join(edges, col("__cur") === col(nearCol))
        .select(col(farCol).as("__far") +: keep.map(col): _*)
      val df =
        if (skipJoin && tls.size == 1)
          mid.select(col("__far").as("_id") +: lit(tls.head).as("_label") +: keep.map(col): _*)
        else {
          val target = store.nodesUnion(tls)
          mid.join(target, col("__far") === target("_id")).drop("__far")
        }
      (df, tls)
    }
    val df = branches.map(_._1).reduce(_.unionByName(_, allowMissingColumns = true))
    Stream(df, isEdges = false, Some(branches.flatMap(_._2).toSet))
  }

  /** node stream -> incident edge stream; `_came` records the node we
    * arrived from (provenance for OtherN, dsl.rs:2932-2942).
    */
  private def navE(cur: Stream, edgeLabel: Option[String], outDir: Boolean): Stream = {
    require(!cur.isEdges, "OutE/InE/BothE require a node stream")
    val pruned = edgeLabel.map(Set(_)).getOrElse(
      if (outDir) store.outEdgeLabels(cur.labels) else store.inEdgeLabels(cur.labels))
    val eLabels = if (pruned.isEmpty) store.edgeLabels else pruned
    val nearCol = if (outDir) "_src" else "_dst"
    val edges = store.edgesUnion(eLabels)
    val keep = keepCols(cur)
    val left = cur.df.select(col("_id").as("_came") +: keep.map(col): _*)
    val res = left.join(edges, col("_came") === col(nearCol))
    Stream(res, isEdges = true, Some(eLabels))
  }

  /** edge stream -> endpoint node stream. `which`: 1=dst (OutN), 2=src
    * (InN), 3=the endpoint other than `_came` (OtherN).
    */
  private def endpoint(cur: Stream, which: Int): Stream = {
    require(cur.isEdges, "OutN/InN/OtherN require an edge stream")
    val eLabels = cur.labels.getOrElse(store.edgeLabels)
    val targetLabels = which match {
      case 1 => store.dstLabelsOf(eLabels)
      case 2 => store.srcLabelsOf(eLabels)
      case 3 => store.dstLabelsOf(eLabels) ++ store.srcLabelsOf(eLabels)
    }
    val keep = keepCols(cur)
    val tgt = which match {
      case 1 => col("_dst")
      case 2 => col("_src")
      case 3 =>
        if (!cur.df.columns.contains("_came"))
          throw new TraversalException("OtherN requires provenance (arrive via OutE/InE/BothE)")
        when(col("_came") === col("_src"), col("_dst")).otherwise(col("_src"))
    }
    val left = cur.df.select(tgt.as("__t") +: keep.map(col): _*)
    val target = store.nodesUnion(targetLabels)
    val res = left.join(target, col("__t") === target("_id")).drop("__t")
    Stream(res, isEdges = false, Some(targetLabels))
  }

  /** Rebuild `_b_*` binding structs to a merged schema before a union.
    * unionByName matches nested fields by name, but a field bound under
    * the SAME name with DIFFERENT types across branches (mixed-label
    * Union/Choose — parity fixtures 909/910) would be silently cast and
    * corrupt or fail at runtime; conflicts widen to string (the dynamic
    * property model's common denominator), missing fields to null.
    */
  private def reconcileBindings(ss: Seq[Stream]): Seq[Stream] = {
    import org.apache.spark.sql.types.{DataType, StringType, StructType}
    val allB = ss.flatMap(_.bindingCols).distinct
    if (allB.isEmpty) return ss
    val merged: Map[String, Seq[(String, DataType)]] = allB.map { b =>
      val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
      ss.foreach { st =>
        if (st.df.columns.contains(b)) st.df.schema(b).dataType match {
          case s: StructType => s.fields.foreach { f =>
            order.get(f.name) match {
              case None => order(f.name) = f.dataType
              case Some(t) if t == f.dataType => ()
              case Some(_) => order(f.name) = StringType
            }
          }
          case _ => ()
        }
      }
      b -> order.toSeq
    }.toMap
    ss.map { st =>
      val present = allB.filter(b => st.df.columns.contains(b))
      val needsRebuild = present.filter { b =>
        st.df.schema(b).dataType match {
          case s: StructType =>
            s.fields.map(f => f.name -> f.dataType).toSeq != merged(b)
          case _ => false
        }
      }
      if (needsRebuild.isEmpty) st
      else {
        var df = st.df
        needsRebuild.foreach { b =>
          val inner = df.schema(b).dataType.asInstanceOf[StructType]
          val cols = merged(b).map { case (fname, ftype) =>
            if (inner.fieldNames.contains(fname)) {
              val c = col(b).getField(fname)
              (if (inner(fname).dataType == ftype) c else c.cast(ftype)).as(fname)
            } else lit(null).cast(ftype).as(fname)
          }
          df = df.withColumn(b, struct(cols: _*))
        }
        st.copy(df = df)
      }
    }
  }

  /** Widen top-level property columns whose type CONFLICTS across the
    * streams to string (same dynamic-model rule as binding structs) —
    * unionByName would otherwise coerce one side and fail at runtime.
    */
  private def reconcileTopLevel(ss: Seq[Stream]): Seq[Stream] = {
    import org.apache.spark.sql.types.{DataType, StringType}
    val types = scala.collection.mutable.Map.empty[String, DataType]
    val conflicted = scala.collection.mutable.Set.empty[String]
    ss.foreach(_.df.schema.fields.foreach { f =>
      if (!f.name.startsWith("_b_")) types.get(f.name) match {
        case None => types(f.name) = f.dataType
        case Some(t) if t == f.dataType => ()
        case Some(_) => conflicted += f.name
      }
    })
    if (conflicted.isEmpty) ss
    else ss.map { st =>
      val hit = st.df.schema.fields.filter(f =>
        conflicted.contains(f.name) && f.dataType != StringType)
      if (hit.isEmpty) st
      else st.copy(df = hit.foldLeft(st.df)((d, f) =>
        d.withColumn(f.name, col(f.name).cast(StringType))))
    }
  }

  private def unionStreams(ss0: Seq[Stream]): Stream = {
    require(ss0.nonEmpty, "empty union")
    val ss = reconcileTopLevel(reconcileBindings(ss0))
    val isE = ss.head.isEdges
    val df = ss.map(_.df).reduce(_.unionByName(_, allowMissingColumns = true))
    val labels = if (ss.forall(_.labels.isDefined)) Some(ss.flatMap(_.labels.get).toSet) else None
    Stream(df, isE, labels)
  }

  // ------------------------------------------------------------- execution

  private def lookupVar(env: mutable.Map[String, Stream], name: String): Stream =
    env.getOrElse(name, batchVars.getOrElse(name,
      throw new TraversalException(s"unknown variable: $name")))

  private def sourceNodes(ref: NodeRef, env: mutable.Map[String, Stream]): Stream = ref match {
    case NodeRef.All => Stream(store.allNodes, isEdges = false, Some(store.nodeLabels))
    case NodeRef.Id(i) =>
      Stream(store.allNodes.where(col("_id") === i), isEdges = false, Some(store.nodeLabels))
    case NodeRef.Ids(is) =>
      Stream(store.allNodes.where(col("_id").isin(is: _*)), isEdges = false, Some(store.nodeLabels))
    case NodeRef.Var(n) => lookupVar(env, n)
    case NodeRef.Param(n) => params.get(n) match {
      case Some(VI64(i)) => sourceNodes(NodeRef.Id(i), env)
      case Some(VI64Array(is)) => sourceNodes(NodeRef.Ids(is), env)
      case other => throw new TraversalException(s"bad node param $n: $other")
    }
  }

  private def sourceEdges(ref: EdgeRef, env: mutable.Map[String, Stream]): Stream = ref match {
    case EdgeRef.All => Stream(store.allEdges, isEdges = true, Some(store.edgeLabels))
    case EdgeRef.Id(i) =>
      Stream(store.allEdges.where(col("_id") === i), isEdges = true, Some(store.edgeLabels))
    case EdgeRef.Ids(is) =>
      Stream(store.allEdges.where(col("_id").isin(is: _*)), isEdges = true, Some(store.edgeLabels))
    case EdgeRef.Var(n) => lookupVar(env, n)
    case EdgeRef.Param(n) => params.get(n) match {
      case Some(VI64(i)) => sourceEdges(EdgeRef.Id(i), env)
      case Some(VI64Array(is)) => sourceEdges(EdgeRef.Ids(is), env)
      case other => throw new TraversalException(s"bad edge param $n: $other")
    }
  }

  /** Property columns of a stream (excludes reserved + bookkeeping). */
  private def propCols(s: Stream): Seq[String] =
    s.df.columns.toSeq.filterNot(c => c.startsWith("_"))

  /** Run a traversal to a final DataFrame: terminal output, or the
    * cleaned element stream (id/label/props) when no terminal present.
    */
  def run(t: Traversal): DataFrame = runFrom(t, None, mutable.Map.empty)

  /** Evaluate a non-terminal traversal to its element stream (for
    * storing as a batch variable consumed by Within/Without/Inject/Var).
    */
  def evalToStream(t: Traversal): Stream =
    compileTail(t.steps.toList, None, mutable.Map.empty) match {
      case Right(s) => s
      case Left(_) => throw new TraversalException(
        "terminal traversal cannot be stored as a stream variable")
    }

  def runFrom(t: Traversal, start: Option[Stream],
      env: mutable.Map[String, Stream]): DataFrame = {
    compileTail(t.steps.toList, start, env) match {
      case Left(df) => df
      case Right(s) => cleanStream(s)
    }
  }

  /** Compile a traversal to its terminal DataFrame or element stream. */
  def compilePublic(t: Traversal): Either[DataFrame, Stream] =
    compileTail(t.steps.toList, None, mutable.Map.empty)

  /** Element stream without bookkeeping columns. */
  def cleanStream(s: Stream): DataFrame = {
    val keep = s.df.columns.toSeq
      .filter(c => !c.startsWith("_b_") && c != "_came" && c != "_score")
    s.df.select(keep.map(col): _*)
  }

  /** Run a sub-traversal from `start`, returning the resulting stream
    * (sub-traversals inside Union/Choose/... must not be terminal).
    */
  private def runSub(t: Traversal, start: Stream, env: mutable.Map[String, Stream],
      tailPropsFree: Boolean = false): Stream =
    compileTail(t.steps.toList, Some(start), env, tailPropsFree) match {
      case Right(s) => s
      case Left(_) => throw new TraversalException("terminal step inside sub-traversal")
    }

  /** Fold the step list. Left(df) = a terminal produced a final result.
    * `tailPropsFree`: the (unknown-here) continuation after this step
    * list is known not to read properties — lets navigation at the end
    * of a sub-traversal skip node-table joins too.
    */
  private def compileTail(steps: List[Step], start: Option[Stream],
      env: mutable.Map[String, Stream],
      tailPropsFree: Boolean = false): Either[DataFrame, Stream] = {
    var cur: Option[Stream] = start
    var rest = steps
    // continuation-aware props-free check: an empty rest defers to the
    // caller-provided hint (sub-traversal tails)
    def pf(r: List[Step]): Boolean =
      if (r.isEmpty) tailPropsFree else propsFreeSteps(r)
    def s: Stream = cur.getOrElse(throw new TraversalException("no source step"))
    while (rest.nonEmpty) {
      val step = rest.head
      rest = rest.tail
      step match {
        // sources
        case Step.N(ref) => cur = Some(sourceNodes(ref, env))
        case Step.NWhere(p) =>
          // If the predicate pins $label to (a) literal(s), prune tables
          // instead of filtering the all-labels union — scan-level pruning.
          val pinned = pinnedLabels(p)
          val base = pinned match {
            case Some(ls) if ls.subsetOf(store.nodeLabels) =>
              Stream(store.nodesUnion(ls), isEdges = false, Some(ls))
            case _ => Stream(store.allNodes, isEdges = false, Some(store.nodeLabels))
          }
          cur = Some(base.copy(df = base.df.where(compilePred(base.df, p))))
        case Step.E(ref) => cur = Some(sourceEdges(ref, env))
        case Step.EWhere(p) =>
          val pinned = pinnedLabels(p)
          val base = pinned match {
            case Some(ls) if ls.subsetOf(store.edgeLabels) =>
              Stream(store.edgesUnion(ls), isEdges = true, Some(ls))
            case _ => Stream(store.allEdges, isEdges = true, Some(store.edgeLabels))
          }
          cur = Some(base.copy(df = base.df.where(compilePred(base.df, p))))
        case Step.VectorSearchNodes(label, prop, tenant, qv, k) =>
          cur = Some(vectorSearch(store.nodesFor(label), Set(label), prop,
            tenant.map(resolveInputValue),
            asQueryVector(resolveInputValue(qv), label, prop, isEdges = false),
            resolveStreamBound(k), isEdges = false))
        case Step.VectorSearchEdges(label, prop, tenant, qv, k) =>
          cur = Some(vectorSearch(store.edgesFor(label), Set(label), prop,
            tenant.map(resolveInputValue),
            asQueryVector(resolveInputValue(qv), label, prop, isEdges = true),
            resolveStreamBound(k), isEdges = true))
        case Step.TextSearchNodes(label, prop, tenant, qt, k) =>
          cur = Some(textSearch(store.nodesFor(label), Set(label), prop,
            tenant.map(resolveInputValue), asString(resolveInputValue(qt)),
            resolveStreamBound(k), isEdges = false))
        case Step.TextSearchEdges(label, prop, tenant, qt, k) =>
          cur = Some(textSearch(store.edgesFor(label), Set(label), prop,
            tenant.map(resolveInputValue), asString(resolveInputValue(qt)),
            resolveStreamBound(k), isEdges = true))
        case Step.Inject(v) =>
          val injected = lookupVar(env, v)
          cur match {
            case None => cur = Some(injected)
            case Some(c) =>
              cur = Some(unionStreams(Seq(c, injected))
                .copy(labels = None) match { case st => st.copy(df = st.df.dropDuplicates("_id")) })
          }

        // navigation
        case Step.Out(l) => cur = Some(nav(s, l, outDir = true, pf(rest)))
        case Step.In(l) => cur = Some(nav(s, l, outDir = false, pf(rest)))
        case Step.Both(l) =>
          cur = Some(unionStreams(Seq(
            nav(s, l, outDir = true, pf(rest)), nav(s, l, outDir = false, pf(rest)))))
        case Step.OutE(l) => cur = Some(navE(s, l, outDir = true))
        case Step.InE(l) => cur = Some(navE(s, l, outDir = false))
        case Step.BothE(l) =>
          cur = Some(unionStreams(Seq(navE(s, l, outDir = true), navE(s, l, outDir = false))))
        case Step.OutN => cur = Some(endpoint(s, 1))
        case Step.InN => cur = Some(endpoint(s, 2))
        case Step.OtherN => cur = Some(endpoint(s, 3))

        // filters
        case Step.Has(p, v) =>
          cur = Some(s.copy(df = s.df.where(compilePred(s.df, Predicate.Eq(p, v)))))
        case Step.HasLabel(l) =>
          cur = Some(Stream(s.df.where(col("_label") === l), s.isEdges,
            s.labels.map(_.intersect(Set(l))).orElse(Some(Set(l)))))
        case Step.HasKey(p) =>
          cur = Some(s.copy(df = s.df.where(compilePred(s.df, Predicate.HasKey(p)))))
        case Step.Where(p) => cur = Some(s.copy(df = s.df.where(compilePred(s.df, p))))
        case Step.Dedup => cur = Some(s.copy(df = s.df.dropDuplicates("_id")))
        case Step.Within(v) =>
          cur = Some(s.copy(df = s.df.join(
            lookupVar(env, v).df.select("_id"), Seq("_id"), "left_semi")))
        case Step.Without(v) =>
          cur = Some(s.copy(df = s.df.join(
            lookupVar(env, v).df.select("_id"), Seq("_id"), "left_anti")))
        case Step.EdgeHas(p, in) =>
          val c = in match {
            case PropertyInput.Value(v) => valueToLit(v)
            case PropertyInput.FromExpr(e) => compileExpr(s.df, e)
          }
          cur = Some(s.copy(df = s.df.where(resolveProp(s.df, p) === c)))
        case Step.EdgeHasLabel(l) =>
          cur = Some(Stream(s.df.where(col("_label") === l), s.isEdges, Some(Set(l))))

        // sort / page
        case Step.OrderBy(p, o) =>
          val c = resolveProp(s.df, p)
          cur = Some(s.copy(df = s.df.orderBy(orderCol(c, o), col("_id").asc)))
        case Step.OrderByMultiple(ks) =>
          val cs = ks.map { case (p, o) => orderCol(resolveProp(s.df, p), o) } :+ col("_id").asc
          cur = Some(s.copy(df = s.df.orderBy(cs: _*)))
        case Step.Limit(n) => cur = Some(s.copy(df = s.df.limit(n.toInt)))
        case Step.Skip(n) => cur = Some(s.copy(df = s.df.offset(n.toInt)))
        case Step.Range(a, b) => cur = Some(s.copy(df = s.df.offset(a.toInt).limit((b - a).toInt)))
        case Step.LimitBy(e) => cur = Some(s.copy(df = s.df.limit(resolveBound(e))))
        case Step.SkipBy(e) => cur = Some(s.copy(df = s.df.offset(resolveBound(e))))
        case Step.RangeBy(a, b) =>
          val ai = resolveStreamBound(a); val bi = resolveStreamBound(b)
          cur = Some(s.copy(df = s.df.offset(ai).limit(bi - ai)))

        // aggregations (terminal-ish: produce result frames)
        case Step.Group(p) =>
          return Left(s.df.groupBy(resolveProp(s.df, p).as(propAlias(p)))
            .agg(sort_array(collect_list(col("_id"))).as("ids")))
        case Step.GroupCount(p) =>
          return Left(s.df.groupBy(resolveProp(s.df, p).as(propAlias(p)))
            .agg(count(lit(1)).as("cnt")))
        case Step.AggregateBy(fn, p) =>
          val c = resolveProp(s.df, p)
          val (agg, name) = fn match {
            case AggFn.Count => (count(c), "count")
            case AggFn.Sum => (sum(c), "sum")
            case AggFn.Min => (min(c), "min")
            case AggFn.Max => (max(c), "max")
            case AggFn.Mean => (avg(c), "mean")
          }
          return Left(s.df.agg(agg.as(name)))
        case Step.Fold | Step.Unfold => () // reserved no-ops (dsl.rs:3216,3221)

        // terminals
        case Step.Count => return Left(s.df.agg(count(lit(1)).as("cnt")))
        case Step.Exists => return Left(s.df.limit(1).agg((count(lit(1)) > 0).as("exists")))
        case Step.Id => return Left(s.df.select(col("_id").as("id")))
        case Step.Label => return Left(s.df.select(col("_label").as("label")))
        case Step.Values(ps) =>
          return Left(s.df.select(ps.map(p => resolveProp(s.df, p).as(propAlias(p))): _*))
        case Step.ValueMap(ps) =>
          val names = ps.getOrElse(propCols(s))
          return Left(s.df.select(names.map(p => resolveProp(s.df, p).as(propAlias(p))): _*))
        case Step.Project(ps) => return Left(project(s, ps))
        case Step.ProjectBindings(ps, distinct) => return Left(projectBindings(s, ps, distinct))
        case Step.EdgeProperties =>
          return Left(s.df.select(propCols(s).map(col): _*))

        // control flow
        case Step.As(n) => env(n) = s
        case Step.StoreVar(n) => env(n) = s
        case Step.SelectVar(n) => cur = Some(lookupVar(env, n))
        case Step.Bind(n) =>
          val fields = s.df.columns.toSeq
            .filterNot(c => c.startsWith("_b_") || c == "_came")
          cur = Some(s.copy(df = s.df.withColumn(s"_b_$n", struct(fields.map(col): _*))))
        case Step.Union(branches) =>
          cur = Some(unionStreams(branches.map(b => runSub(b, s, env))))
        case Step.Choose(p, thenT, elseT) =>
          val c = compilePred(s.df, p)
          val thenS = runSub(thenT, s.copy(df = s.df.where(coalesce(c, lit(false)))), env)
          val elseIn = s.copy(df = s.df.where(!coalesce(c, lit(false))))
          val elseS = elseT.map(t => runSub(t, elseIn, env)).getOrElse(elseIn)
          cur = Some(unionStreams(Seq(thenS, elseS)))
        case Step.Coalesce(branches) =>
          // Per-element: first branch producing results for an origin
          // element wins (dsl.rs:3197). Joins, not driver iteration.
          val withOrigin = s.copy(df = s.df.withColumn("_b___origin", struct(col("_id"))))
          val results = branches.map(b => runSub(b, withOrigin, env))
          var taken: DataFrame = null
          val picked = results.map { r =>
            val kept = if (taken == null) r.df
              else r.df.join(taken,
                col("_b___origin").getField("_id") === taken("__tid"), "left_anti")
            val origins = kept.select(col("_b___origin").getField("_id").as("__tid")).distinct()
            taken = if (taken == null) origins else taken.union(origins).distinct()
            r.copy(df = kept)
          }
          val merged = unionStreams(picked)
          cur = Some(merged.copy(df = merged.df.drop("_b___origin")))
        case Step.Optional(t) =>
          val withOrigin = s.copy(df = s.df.withColumn("_b___origin", struct(col("_id"))))
          val r = runSub(t, withOrigin, env)
          val origins = r.df.select(col("_b___origin").getField("_id").as("__tid")).distinct()
          val missing = s.df.join(origins, s.df("_id") === origins("__tid"), "left_anti")
          val merged = unionStreams(Seq(r.copy(df = r.df.drop("_b___origin")),
            s.copy(df = missing)))
          cur = Some(merged)
        case Step.Repeat(cfg) => cur = Some(repeat(s, cfg, env, pf(rest)))
        case Step.Path | Step.SimplePath => () // reserved no-ops (dsl.rs:3227,3232)
        case _: Step.WithSack | _: Step.SackSet | _: Step.SackAdd | Step.SackGet => () // reserved

        case m => cur = Some(applyMutation(m, cur, env))
      }
    }
    cur.map(Right(_)).getOrElse(Left(spark.emptyDataFrame))
  }

  // ------------------------------------------------------------ mutations

  /** Id allocation seed: the store's durable high-water mark when
    * known (stamped by prior writes, persisted in graph_meta.json) —
    * the `max(_id)` aggregation below is only the FIRST-EVER-write
    * fallback for stores that predate the mark, never a per-session
    * cost on a store the engine has written before (at 100 TB that
    * scan is a whole-corpus job).
    */
  private lazy val idBase = new java.util.concurrent.atomic.AtomicLong {
    set(idSeedCtl.seed(store.idHighWater.map(_ + 1).getOrElse {
      val maxNode = if (store.nodeTables.isEmpty) 0L
        else store.allNodes.agg(max(col("_id"))).head().getLong(0)
      val maxEdge = if (store.edgeTables.isEmpty) 0L
        else store.allEdges.agg(max(col("_id"))).head().getLong(0)
      math.max(maxNode, maxEdge) + 1
    }))
  }

  /** Re-stamp the allocation mark after an id-allocating mutation (the
    * published copy carried the pre-allocation mark).
    */
  private def stampIds(): Unit = store = store.withIdHighWater(idBase.get() - 1)

  private def inputCol(df: DataFrame, in: PropertyInput): Column = in match {
    case PropertyInput.Value(v) => valueToLit(v)
    case PropertyInput.FromExpr(e) => compileExpr(df, e)
  }

  /** Declared vector index on (label, prop)? */
  private def vectorIndexed(label: String, prop: String, isEdges: Boolean): Boolean =
    store.indexes.exists {
      case IndexSpec.NodeVector(l, p, _) => !isEdges && l == label && p == prop
      case IndexSpec.EdgeVector(l, p, _) => isEdges && l == label && p == prop
      case _ => false
    }

  /** Engine-side write embedding (Embedder doc): a STRING written to a
    * vector-indexed property stores its embedding instead — the
    * reference embeds inserts server-side via its configured
    * `embedding_model` (config.rs:207-209). Non-string inputs (client
    * already supplied a vector) pass through untouched. The UDF is the
    * local stand-in for a batched model call; a production impl swaps
    * `Embedder.default`.
    */
  private def embedIfIndexed(label: String, prop: String, c: Column,
      df: DataFrame, isEdges: Boolean): Column =
    if (!vectorIndexed(label, prop, isEdges)) c
    else {
      val dt = df.select(c).schema.head.dataType
      if (dt != org.apache.spark.sql.types.StringType) c
      else {
        val emb = graft.search.Embedder.default
        udf((s: String) => if (s == null) null else emb.embed(s)).apply(c)
      }
    }

  /** Properties under a declared UNIQUE NodeEquality index for a label
    * (IndexSpec::NodeEquality{unique}, dsl.rs:2580-2658).
    */
  private def uniqueProps(label: String): Seq[String] =
    store.indexes.collect {
      case IndexSpec.NodeEquality(l, p, true) if l == label => p
    }.toSeq

  /** Reject an AddN whose unique-indexed property value already exists.
    * One indexed-equality probe per unique index — the analogue of the
    * reference's per-insert B-tree uniqueness check.
    */
  private def enforceUnique(label: String, values: Map[String, PropertyValue]): Unit =
    uniqueProps(label).foreach { p =>
      values.get(p).filter(_ != VNull).foreach { v =>
        store.nodeTables.get(label).foreach { t =>
          if (t.columns.contains(p) && !t.where(col(p) === valueToLit(v)).isEmpty)
            throw new TraversalException(s"unique index violation: $label.$p")
        }
      }
    }

  class UnsupportedBulkType(msg: String) extends RuntimeException(msg)

  /** Bulk AddN: append one DataFrame holding every element of a foreach
    * array param (the ForEach-vectorization rewrite target). Property
    * values resolve driver-side per element; ids allocate as one dense
    * block.
    */
  def addNodesBulk(label: String, props: Seq[(String, PropertyInput)],
      items: Seq[Map[String, PropertyValue]]): Stream = {
    if (!writeEnabled) throw new TraversalException("bulk AddN in read batch")
    import org.apache.spark.sql.types._
    def resolve(in: PropertyInput, fields: Map[String, PropertyValue]): PropertyValue =
      in match {
        case PropertyInput.Value(v) => v
        case PropertyInput.FromExpr(Expr.Constant(v)) => v
        case PropertyInput.FromExpr(Expr.Param(n)) =>
          fields.getOrElse(n, params.getOrElse(n, VNull))
        case other => throw new UnsupportedBulkType(s"expr not bulk-resolvable: $other")
      }
    def typeOf(v: PropertyValue): DataType = v match {
      case VBool(_) => BooleanType
      case VI64(_) => LongType
      case VF64(_) => DoubleType
      case VF32(_) => FloatType
      case VString(_) => StringType
      case VDateTime(_) => TimestampNTZType
      case VI64Array(_) => ArrayType(LongType)
      case VF64Array(_) => ArrayType(DoubleType)
      case VF32Array(_) => ArrayType(FloatType)
      case VStringArray(_) => ArrayType(StringType)
      case other => throw new UnsupportedBulkType(s"type not bulk-encodable: $other")
    }
    def jval(v: PropertyValue): Any = v match {
      case VNull => null
      case VBool(b) => b
      case VI64(i) => i
      case VF64(d) => d
      case VF32(f) => f
      case VString(s) => s
      case VDateTime(ms) => java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      case VI64Array(a) => a
      case VF64Array(a) => a
      case VF32Array(a) => a
      case VStringArray(a) => a
      case other => throw new UnsupportedBulkType(s"value not bulk-encodable: $other")
    }
    val resolved0: Seq[Seq[PropertyValue]] =
      items.map(fields => props.map { case (_, in) => resolve(in, fields) })
    // engine-side embedding on the bulk path: STRING values under a
    // declared vector index store their embedding (embedIfIndexed doc)
    val embedIdx = props.indices.filter(i =>
      vectorIndexed(label, props(i)._1, isEdges = false)).toSet
    val resolved: Seq[Seq[PropertyValue]] =
      if (embedIdx.isEmpty) resolved0
      else resolved0.map(_.zipWithIndex.map {
        case (VString(s), i) if embedIdx(i) =>
          VF32Array(graft.search.Embedder.default.embed(s).toSeq)
        case (v, _) => v
      })
    // unique-index enforcement: duplicates within the bulk batch AND
    // against the stored table (one isin-probe per unique index)
    uniqueProps(label).foreach { p =>
      val idx = props.indexWhere(_._1 == p)
      if (idx >= 0) {
        val vals = resolved.map(_(idx)).filter(_ != VNull)
        if (vals.distinct.size != vals.size)
          throw new TraversalException(s"unique index violation within batch: $label.$p")
        store.nodeTables.get(label).foreach { t =>
          if (t.columns.contains(p) && vals.nonEmpty &&
              !t.where(col(p).isin(vals.map(jval): _*)).isEmpty)
            throw new TraversalException(s"unique index violation: $label.$p")
        }
      }
    }
    val colTypes: Seq[DataType] = props.indices.map { i =>
      resolved.iterator.map(_(i)).find(_ != VNull).map(typeOf).getOrElse(StringType)
    }
    val base = idBase.getAndAdd(items.size.toLong)
    val schema = StructType(
      Seq(StructField("_id", LongType, nullable = false),
        StructField("_label", StringType, nullable = false)) ++
        props.zipWithIndex.map { case ((n, _), i) => StructField(n, colTypes(i)) })
    val rows = resolved.zipWithIndex.map { case (vals, i) =>
      org.apache.spark.sql.Row.fromSeq((base + i) +: label +: vals.map(jval))
    }
    publish(label, isEdges = false, schema, rows)
    stampIds()
    written(label, isEdges = false, rows.map(_.getLong(0)))
  }

  // One materialization per mutation step: a step runs its output once
  // (AddN not even that: its row is a literal), merges the delta into
  // the label overlays on the driver (GraphStore.publish), and continues
  // with a local frame over the same rows, so neither later steps nor
  // the rendered result re-run it.

  /** The one data-mutating path: merge a delta into a label's overlay. */
  private def publish(label: String, isEdges: Boolean, schema: StructType,
      rows: Seq[Row] = Nil, dead: Iterable[Long] = Nil,
      meta: Option[EdgeMeta] = None): Unit =
    store = store.publish(label, isEdges, schema, rows, dead, meta)

  /** Tombstone every (`_id`, `_label`) row of `hit` in its label. */
  private def publishDrops(hit: Seq[Row], isEdges: Boolean): Unit =
    hit.groupMap(_.getString(1))(_.getLong(0)).foreach { case (l, ids) =>
      publish(l, isEdges, StructType(Nil), dead = ids)
    }

  /** Run a frame once, on the driver. */
  private def materialize(df: DataFrame): (StructType, Seq[Row]) =
    (df.schema, df.collect().toSeq)

  /** The stream of a label's just-written rows, read from its overlay. */
  private def written(label: String, isEdges: Boolean, ids: Seq[Long]): Stream = {
    val o = store.overlayOf(label, isEdges).get
    Stream(GraphStore.localFrame(spark, o.schema, ids.flatMap(o.live.get)), isEdges,
      Some(Set(label)))
  }

  /** Publish a property write. `out` is the materialized stream with
    * the written value in column `name`; each of its elements takes that
    * value on top of its current row: the overlay's version when the row
    * was written before, else the stream's own columns, else (a stream
    * that lacks some of the label's columns) the row read back by id.
    * Every label in `labels` holding, or with `addColumn` gaining, the
    * column takes its widened type, as a whole-table rewrite would.
    */
  private def publishProperty(schema: StructType, out: Seq[Row], labels: Set[String],
      name: String, isEdges: Boolean, addColumn: Boolean): Unit = {
    val (idIx, labelIx, valueIx) =
      (schema.fieldIndex("_id"), schema.fieldIndex("_label"), schema.fieldIndex(name))
    val byLabel = out.groupBy(_.getString(labelIx))
    labels.toSeq.sorted.foreach { l =>
      store.schemaOf(l, isEdges).filter(t => addColumn || t.fieldNames.contains(name))
        .foreach { t =>
          val pos = Some(t.fieldNames.indexOf(name)).filter(_ >= 0)
          val valueField = schema(valueIx)
          val d = pos.map(i => StructType(t.fields.updated(i, valueField)))
            .getOrElse(t.add(valueField))
          def patch(row: Row, v: Any): Row =
            Row.fromSeq(pos.map(row.toSeq.updated(_, v)).getOrElse(row.toSeq :+ v))
          val o = store.overlayOf(l, isEdges)
          val hits = byLabel.getOrElse(l, Nil).distinctBy(_.getLong(idIx))
            .filterNot(r => o.exists(_.dead(r.getLong(idIx))))
          val (again, fresh) = hits.partition(r => o.exists(_.live.contains(r.getLong(idIx))))
          val rewritten = again.map(r => patch(o.get.live(r.getLong(idIx)), r.get(valueIx)))
          val firsts =
            if (fresh.isEmpty) Nil
            else if (d.fieldNames.forall(schema.fieldNames.contains))
              GraphStore.conform(spark, fresh, schema, d)
            else {
              val value = fresh.map(r => r.getLong(idIx) -> r.get(valueIx)).toMap
              val table = if (isEdges) store.edgesFor(l) else store.nodesFor(l)
              val id = t.fieldIndex("_id")
              GraphStore.conform(spark,
                table.where(col("_id").isin(value.keys.toSeq: _*)).collect().toSeq,
                table.schema, t).map(r => patch(r, value(r.getLong(id))))
            }
          publish(l, isEdges, d, rewritten ++ firsts)
        }
    }
  }

  /** Write steps (SURVEY §2.8; dsl.rs:3121-3167). Single-writer
    * semantics (the reference cloud is single-writer too, README.md:221):
    * ids allocate from a session counter; each step publishes its delta
    * into a new store copy, so later batch entries read their own writes.
    */
  private def applyMutation(step: Step, cur: Option[Stream],
      env: mutable.Map[String, Stream]): Stream = {
    if (!writeEnabled) throw new TraversalException(
      s"mutation step in read traversal: $step (send a write batch)")
    def s: Stream = cur.getOrElse(throw new TraversalException("mutation needs a stream"))
    step match {
      case Step.AddN(label, props) =>
        enforceUnique(label, props.flatMap { case (k, in) =>
          scala.util.Try(resolveInputValue(in)).toOption.map(k -> _)
        }.toMap)
        val id = idBase.getAndIncrement()
        val one = GraphStore.localFrame(spark, StructType(Nil), Seq(Row.empty))
        val cols = Seq(lit(id).as("_id"), lit(label).as("_label")) ++
          props.map { case (k, in) =>
            embedIfIndexed(label, k, inputCol(one, in), one, isEdges = false).as(k)
          }
        // a projection of a one-row local relation: the row is computed
        // while the plan is optimized, and collecting it runs no job
        val (schema, row) = materialize(one.select(cols: _*))
        publish(label, isEdges = false, schema, row)
        stampIds()
        written(label, isEdges = false, Seq(id))

      case Step.AddE(label, to, props) =>
        val target = sourceNodes(to, env)
        // carry the source stream's property columns through the join so
        // FromExpr props can reference current-element properties (they
        // were silently null when `left` was projected down to _src only)
        val srcProps = s.df.columns.toSeq.filterNot(c =>
          c.startsWith("_b_") || c == "_came" || c == "_score" ||
            c == "_id" || c == "_label" || c == "_src" || c == "_dst")
        val left = s.df.select(col("_id").as("_src") +: col("_label").as("__srcl") +:
          srcProps.map(col): _*)
        val right = target.df.select(col("_id").as("_dst"), col("_label").as("__dstl"))
        // id allocation without a global window and without a count()
        // job: rows hash into AddEBands bands, each band numbers its rows
        // in (_src, _dst) order, and the call reserves a fixed id range
        // per band, so the counter advances by arithmetic. The rows are
        // collected anyway, so the numbering runs on the driver and the
        // job needs no exchange.
        val base = idBase.getAndAdd(Compiler.AddEBands * Compiler.AddEBandCap)
        val (made, hit) = materialize(left.crossJoin(right).select(Seq(
          pmod(hash(col("_src"), col("_dst")), lit(Compiler.AddEBands)).cast("long").as("_id"),
          lit(label).as("_label"), col("_src"), col("_dst")) ++
          props.map { case (k, in) =>
            embedIfIndexed(label, k, inputCol(left, in), left, isEdges = true).as(k)
          } ++ Seq(col("__srcl"), col("__dstl")): _*))
        val n = made.length - 2
        val schema = StructType(made.fields.take(n))
        val rows = hit.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (band, rs) =>
          // past its reserved range a band would collide with the next
          if (rs.size > Compiler.AddEBandCap) throw new TraversalException(
            s"AddE band overflow: one hash band exceeded ${Compiler.AddEBandCap} rows in a single call")
          rs.sortBy(r => (r.getLong(2), r.getLong(3))).zipWithIndex.map { case (r, i) =>
            Row.fromSeq((base + band * Compiler.AddEBandCap + i) +: r.toSeq.slice(1, n))
          }
        }
        // the endpoint labels the new rows actually carry: a target given
        // by ids reports every node label, and recording that would send
        // every later traversal of this label through all node tables
        val meta = store.edgeMeta.get(label) match {
          case Some(m) => Some(EdgeMeta(m.srcLabels ++ hit.map(_.getString(n)),
            m.dstLabels ++ hit.map(_.getString(n + 1))))
          case None if store.edgeLabels(label) => None // unknown endpoints stay unknown
          case None if hit.isEmpty => Some(EdgeMeta(s.labels.getOrElse(store.nodeLabels),
            target.labels.getOrElse(store.nodeLabels)))
          case None => Some(EdgeMeta(hit.map(_.getString(n)).toSet,
            hit.map(_.getString(n + 1)).toSet))
        }
        publish(label, isEdges = true, schema, rows, meta = meta)
        stampIds()
        written(label, isEdges = true, rows.map(_.getLong(0)))

      case Step.SetProperty(name, in) =>
        // Per-label update column: a vector-indexed property embeds
        // string inputs engine-side (embedIfIndexed doc).
        val labels = s.labels.getOrElse(if (s.isEdges) store.edgeLabels else store.nodeLabels)
        // a string input to a property vector-indexed on only SOME of
        // the stream's labels is rejected up front: the store would
        // hold an embedding for indexed labels and the raw string for
        // the rest, while the single continuing stream column can hold
        // only one of the two types — same-batch reads would diverge
        // from what was stored. Splitting the traversal per label makes
        // each write unambiguous.
        val embLabels = labels.filter(l => vectorIndexed(l, name, s.isEdges))
        val inputIsString = s.df.select(inputCol(s.df, in)).schema.head.dataType ==
          org.apache.spark.sql.types.StringType
        if (inputIsString && embLabels.nonEmpty && embLabels != labels)
          throw new TraversalException(
            s"SetProperty($name): string input would embed on vector-indexed " +
              s"label(s) ${embLabels.mkString(",")} but store raw text on " +
              s"${(labels -- embLabels).mkString(",")} — split the traversal per label")
        // the continuing stream is exactly what the store takes: the
        // mixed case was rejected above, so either every label embeds
        // or none does. A stream visiting an element twice carries the
        // same value both times (it is a function of the element's own
        // columns), so publishProperty keeps one.
        val streamCol =
          if (labels.nonEmpty && embLabels == labels)
            embedIfIndexed(labels.head, name, inputCol(s.df, in), s.df, s.isEdges)
          else inputCol(s.df, in)
        val (schema, out) = materialize(s.df.withColumn(name, streamCol))
        publishProperty(schema, out, labels, name, s.isEdges, addColumn = true)
        s.copy(df = GraphStore.localFrame(spark, schema, out))

      case Step.RemoveProperty(name) =>
        val labels = s.labels.getOrElse(if (s.isEdges) store.edgeLabels else store.nodeLabels)
        val (schema, out) = materialize(s.df.withColumn(name, lit(null)))
        publishProperty(schema, out, labels, name, s.isEdges, addColumn = false)
        s.copy(df = GraphStore.localFrame(spark, schema, out))

      case Step.Drop =>
        val hit = s.df.select("_id", "_label").collect().toSeq
        publishDrops(hit, s.isEdges)
        if (!s.isEdges && hit.nonEmpty) {
          // cascade: drop incident edges (dsl.rs:3147 doc), only from the
          // edge labels that can touch the dropped nodes' labels
          val ls = Some(hit.map(_.getString(1)).toSet)
          val cascade = store.outEdgeLabels(ls) ++ store.inEdgeLabels(ls)
          if (cascade.nonEmpty) {
            val ids = hit.map(_.getLong(0))
            publishDrops(store.edgesUnion(cascade)
              .where(col("_src").isin(ids: _*) || col("_dst").isin(ids: _*))
              .select("_id", "_label").collect().toSeq, isEdges = true)
          }
        }
        s.copy(df = GraphStore.localFrame(spark, s.df.schema, Nil))

      case Step.DropEdge(to) => dropEdges(s, to, None, env)
      case Step.DropEdgeLabeled(to, label) => dropEdges(s, to, Some(label), env)

      case Step.DropEdgeById(ref) =>
        publishDrops(sourceEdges(ref, env).df.select("_id", "_label").collect().toSeq,
          isEdges = true)
        s

      // index DDL needs no source stream (fixtures 020/024 issue bare
      // g().create_index... traversals): fall back to an empty stream
      case Step.CreateIndex(spec, ifNotExists) =>
        if (!ifNotExists && store.indexes.contains(spec))
          throw new TraversalException(s"index already exists: $spec")
        store = store.withIndexes(store.indexes + spec); cur.getOrElse(emptyNodeStream)
      case Step.DropIndex(spec) =>
        store = store.withIndexes(store.indexes - spec); cur.getOrElse(emptyNodeStream)
      case Step.CreateVectorIndexNodes(l, p, t) =>
        store = store.withIndexes(store.indexes + IndexSpec.NodeVector(l, p, t))
        cur.getOrElse(emptyNodeStream)
      case Step.CreateVectorIndexEdges(l, p, t) =>
        store = store.withIndexes(store.indexes + IndexSpec.EdgeVector(l, p, t))
        cur.getOrElse(emptyNodeStream)
      case Step.CreateTextIndexNodes(l, p, t) =>
        store = store.withIndexes(store.indexes + IndexSpec.NodeText(l, p, t))
        cur.getOrElse(emptyNodeStream)
      case Step.CreateTextIndexEdges(l, p, t) =>
        store = store.withIndexes(store.indexes + IndexSpec.EdgeText(l, p, t))
        cur.getOrElse(emptyNodeStream)

      case other => throw new TraversalException(s"unsupported step: $other")
    }
  }

  /** Empty node stream (the result of a source-less DDL traversal). */
  private def emptyNodeStream: Stream = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_id", LongType), StructField("_label", StringType)))
    Stream(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      isEdges = false, Some(Set.empty))
  }

  /** Delete ALL edges cur -> to (multigraph caveat dsl.rs:3150-3152),
    * optionally restricted to one label.
    */
  private def dropEdges(s: Stream, to: NodeRef, label: Option[String],
      env: mutable.Map[String, Stream]): Stream = {
    val srcIds = s.df.select(col("_id").as("__sid"))
    val dstIds = sourceNodes(to, env).df.select(col("_id").as("__tid"))
    val labels = label.map(Set(_)).getOrElse(store.edgeLabels)
    if (labels.nonEmpty)
      publishDrops(store.edgesUnion(labels)
        .join(srcIds, col("_src") === col("__sid"), "left_semi")
        .join(dstIds, col("_dst") === col("__tid"), "left_semi")
        .select("_id", "_label").collect().toSeq, isEdges = true)
    s
  }

  /** Extract label literals pinned by a top-level `$label` equality
    * ($label == x, or $label IN (...), possibly AND-ed) — used to turn
    * the label filter into table pruning.
    */
  private def pinnedLabels(p: Predicate): Option[Set[String]] = p match {
    case Predicate.Eq("$label", VString(s)) => Some(Set(s))
    case Predicate.IsIn("$label", vs) =>
      Some(vs.collect { case VString(x) => x }.toSet)
    case Predicate.And(ps) =>
      ps.flatMap(pinnedLabels(_).toSeq).reduceOption(_ intersect _)
    case _ => None
  }

  private def orderCol(c: Column, o: SortOrder): Column = o match {
    case SortOrder.Asc => c.asc_nulls_first
    case SortOrder.Desc => c.desc_nulls_last
  }

  private def propAlias(p: String): String =
    if (p == "$id") "id" else if (p == "$label") "label" else p

  private def resolveBound(e: Expr): Int = e match {
    case Expr.Constant(VI64(n)) => n.toInt
    case Expr.Param(n) => params.get(n) match {
      case Some(VI64(v)) => v.toInt
      case other => throw new TraversalException(s"bad bound param $n: $other")
    }
    case other => throw new TraversalException(s"unsupported stream bound: $other")
  }

  private def resolveStreamBound(b: StreamBound): Int = b match {
    case StreamBound.Literal(n) => n.toInt
    case StreamBound.FromExpr(e) => resolveBound(e)
  }

  // ------------------------------------------------------------ projections

  private def project(s: Stream, ps: Seq[Projection]): DataFrame = {
    val needsFrom = ps.exists(_.isInstanceOf[Projection.FromEndpoint])
    val needsTo = ps.exists(_.isInstanceOf[Projection.ToEndpoint])
    var df = s.df
    if (needsFrom) {
      val srcLabels = store.srcLabelsOf(s.labels.getOrElse(store.edgeLabels))
      val n = store.nodesUnion(srcLabels)
      val renamed = n.toDF(n.columns.map("__from_" + _): _*)
      df = df.join(renamed, df("_src") === renamed("__from__id"), "left")
    }
    if (needsTo) {
      val dstLabels = store.dstLabelsOf(s.labels.getOrElse(store.edgeLabels))
      val n = store.nodesUnion(dstLabels)
      val renamed = n.toDF(n.columns.map("__to_" + _): _*)
      df = df.join(renamed, df("_dst") === renamed("__to__id"), "left")
    }
    val cols = ps.map {
      case Projection.Property(src, alias) => resolveProp(s.df, src).as(alias)
      case Projection.FromEndpoint(src, alias) =>
        (if (src == "$id") col("__from__id") else col("__from_" + src)).as(alias)
      case Projection.ToEndpoint(src, alias) =>
        (if (src == "$id") col("__to__id") else col("__to_" + src)).as(alias)
      case Projection.Computed(alias, e) => compileExpr(s.df, e).as(alias)
    }
    df.select(cols: _*)
  }

  private def projectBindings(s: Stream, ps: Seq[BindingProjection],
      distinct: Boolean): DataFrame = {
    def ref(t: BindingTarget, src: String): Column = t match {
      case BindingTarget.Current => resolveProp(s.df, src)
      case BindingTarget.Binding(n) =>
        val bcol = s"_b_$n"
        if (!s.df.columns.contains(bcol)) lit(null)
        else {
          val field = if (src == "$id") "_id" else if (src == "$label") "_label" else src
          // missing fields in the binding struct project null (fixture 909)
          val struct = s.df.schema(bcol).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
          if (struct.fieldNames.contains(field.split('.').head)) col(s"$bcol.$field") else lit(null)
        }
    }
    val cols = ps.map {
      case BindingProjection.Property(t, src, alias) => ref(t, src).as(alias)
      case BindingProjection.Coalesce(refs, alias) =>
        coalesce(refs.map { case (t, src) => ref(t, src) }: _*).as(alias)
    }
    val out = s.df.select(cols: _*)
    if (distinct) out.dropDuplicates() else out
  }

  // ---------------------------------------------------------------- repeat

  /** Driver-side BFS loop (SURVEY §2.7). Emit semantics: Before = each
    * frontier entering an iteration (depths 0..n-1); After = each
    * frontier leaving one (1..n); All = every visited depth (0..n).
    * `until`-satisfying elements exit the loop as results. A
    * lineage-truncating materialization every few iterations
    * ([[Scratch.stable]]: localCheckpoint locally, reliable checkpoint
    * under `graft.scratch.dir` on a cluster — a depth-50 traversal
    * must survive executor loss) cuts lineage growth on deep repeats
    * (the BFS pattern, cf. GraphFrames).
    */
  private def repeat(start: Stream, cfg: RepeatConfig,
      env: mutable.Map[String, Stream], tailPropsFree: Boolean = false): Stream = {
    // Bounded emit accumulation: one stream is emitted per depth, and a
    // flat union of maxDepth branches (100+ on deep repeats) makes the
    // final plan — and every analysis pass over it — O(depth). Fold the
    // buffer into a single checkpointed stream every FoldWidth depths,
    // so the final union has at most FoldWidth+1 branches and lineage
    // resets with the same cadence discipline as the frontier.
    val FoldWidth = 8
    val emitted = mutable.ListBuffer.empty[Stream]
    def pushEmitted(s: Stream): Unit = {
      emitted += s
      if (emitted.size >= FoldWidth) {
        val folded = unionStreams(emitted.toSeq)
        emitted.clear()
        emitted += folded.copy(df = Scratch.stable(folded.df))
      }
    }
    var frontier = start
    var depth = 0
    val maxIter = cfg.times.map(t => math.min(t, cfg.maxDepth)).getOrElse(cfg.maxDepth)
    def emitFilter(s: Stream): Stream = cfg.emitPredicate match {
      case Some(p) => s.copy(df = s.df.where(compilePred(s.df, p)))
      case None => s
    }
    // The body's tail may skip node joins when: nothing observes the
    // intermediate frontiers (no emits, no until/emit predicates), the
    // body itself never reads properties, and the continuation after
    // the repeat is props-free. Then every hop is pure id/edge algebra.
    val bodyTailPropsFree = tailPropsFree &&
      cfg.until.isEmpty && cfg.emitPredicate.isEmpty &&
      cfg.emit == EmitBehavior.None && propsFreeNavOnly(cfg.traversal)
    if (cfg.emit == EmitBehavior.All) pushEmitted(emitFilter(frontier))
    var done = false
    while (!done && depth < maxIter) {
      cfg.until.foreach { u =>
        val c = compilePred(frontier.df, u)
        val exiting = frontier.copy(df = frontier.df.where(coalesce(c, lit(false))))
        pushEmitted(emitFilter(exiting))
        frontier = frontier.copy(df = frontier.df.where(!coalesce(c, lit(false))))
      }
      // emptiness probe (a Spark job) only when the loop is open-ended
      // or until may have drained the frontier — never for plain times=k
      val stop = (cfg.until.isDefined || cfg.times.isEmpty) && frontier.df.isEmpty
      if (stop) done = true
      else {
        if (cfg.emit == EmitBehavior.Before) pushEmitted(emitFilter(frontier))
        val next = runSub(cfg.traversal, frontier, env, bodyTailPropsFree)
        depth += 1
        frontier = if (depth % 5 == 0) next.copy(df = Scratch.stable(next.df)) else next
        if (cfg.emit == EmitBehavior.After || cfg.emit == EmitBehavior.All)
          pushEmitted(emitFilter(frontier))
      }
    }
    if (cfg.emit == EmitBehavior.None) {
      if (cfg.until.isEmpty) frontier
      else unionStreams(emitted.toSeq :+ frontier)
    } else unionStreams(emitted.toSeq)
  }

  // ------------------------------------------------------------- search ops

  /** Exact batch k-NN by cosine similarity, expressed with codegen'd
    * higher-order functions (no UDF): dot/norms via aggregate+zip_with,
    * global top-k via TakeOrderedAndProject (orderBy+limit).
    * Scale path (IVF/LSH) lives in graft.search; this is the oracle-
    * matching exact variant used for parity (SURVEY §2.1, dsl.rs:2813-2832).
    */
  /** Tenant partition column for a (label, property) search: the
    * declared index's tenant_property (IndexSpec, dsl.rs:2618-2658),
    * else the conventional `tenantId`/`tenant` column.
    */
  private def tenantColumn(base: DataFrame, label: String, prop: String): String = {
    val declared = store.indexes.collectFirst {
      case IndexSpec.NodeVector(l, p, Some(t)) if l == label && p == prop => t
      case IndexSpec.NodeText(l, p, Some(t)) if l == label && p == prop => t
      case IndexSpec.EdgeVector(l, p, Some(t)) if l == label && p == prop => t
      case IndexSpec.EdgeText(l, p, Some(t)) if l == label && p == prop => t
    }
    declared.getOrElse(if (base.columns.contains("tenantId")) "tenantId" else "tenant")
  }

  private def vectorSearch(base: DataFrame, labels: Set[String], prop: String,
      tenant: Option[PropertyValue], qv: Seq[Double], k: Int, isEdges: Boolean): Stream = {
    val label = labels.head
    val filtered = tenant match {
      case Some(t) => base.where(col(tenantColumn(base, label, prop)) === valueToLit(t))
      case None => base
    }
    // Declared vector index + large table -> IVF partition-pruned scan
    // (the analogue of the reference's always-on HNSW serving,
    // dsl.rs:2813-2832 / config.rs:191-201). Below the threshold the
    // exact brute scan wins on latency AND stays oracle-exact, so the
    // switch is size-gated. Serving matrix mirrors textSearch: a plain
    // index serves untenanted queries from global centroids; an index
    // declared WITH tenant_property (dsl.rs:2618-2627) serves
    // tenant-filtered queries from per-tenant centroids (trained on —
    // and sized by — that tenant's corpus only); the two mismatched
    // combinations stay exact brute scans.
    val declaredTenant: Option[Option[String]] = store.indexes.collectFirst {
      case IndexSpec.NodeVector(l, p, t) if !isEdges && l == label && p == prop => t
      case IndexSpec.EdgeVector(l, p, t) if isEdges && l == label && p == prop => t
    }
    val ivfServing: Option[(DataFrame, String)] = (declaredTenant, tenant) match {
      case (Some(None), None) => Some((base, prop))
      case (Some(Some(_)), Some(tv)) =>
        Some((filtered, graft.search.IndexCache.tenantKey(prop, valueKey(tv))))
      case _ => None
    }
    val threshold = spark.conf.get("graft.search.ivfThreshold", "100000").toLong
    // Third serving tier: above pqThreshold even the probed clusters'
    // full float vectors are too expensive to score per query, so the
    // ADC scan runs over the PQ code column (m bytes/row; written at
    // ingest in a 100 TB deployment) and an exact re-rank of the
    // calibrated candidate depth restores precision. Both quality
    // knobs (nprobe, refine) are recall-calibrated per artifact.
    val pqThreshold = spark.conf.get("graft.search.pqThreshold", "10000000").toLong
    val pqM = spark.conf.get("graft.search.pqM", "8").toInt
    val top = ivfServing match {
      case Some((tbl, propKey))
          if graft.search.IndexCache.rowCount(store.version, label, propKey, tbl) >= threshold =>
        val n = graft.search.IndexCache.rowCount(store.version, label, propKey, tbl)
        // nlist ~ sqrt(n) (IVF rule of thumb); nprobe is CALIBRATED at
        // build time to the smallest probe count meeting the recall
        // target on a held sample (VectorOps.calibrateNprobe) — the
        // measured counterpart of the reference's ef_search=768 quality
        // profile, instead of a fixed nlist/4 guess that only holds on
        // clustered data
        val nlist = math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))
        val model = graft.search.IndexCache.ivfModel(
          store.version, label, propKey, nlist, tbl, vecCol = prop)
        val target = spark.conf.get("graft.search.recallTarget", "0.9").toDouble
        val calibN = spark.conf.get("graft.search.calibQueries", "64").toInt
        val nprobe = graft.search.IndexCache.nprobe(store.version, label,
          propKey, model, tbl, vecCol = prop, target = target, calibN = calibN)
        if (n >= pqThreshold && qv.length % pqM == 0) {
          val (pqModel, enc) = graft.search.IndexCache.pqArtifact(
            store.version, label, propKey, m = pqM, ks = 256, tbl, vecCol = prop)
          val refine = graft.search.IndexCache.pqRefine(store.version, label,
            propKey, pqModel, enc, tbl, vecCol = prop, target = target,
            calibN = calibN)
          graft.search.VectorOps.ivfPqTopK(enc, prop, model, pqModel, qv, k,
            nprobe, refine)
        } else
          graft.search.VectorOps.ivfTopK(tbl, prop, model, qv, k, nprobe)
      case _ =>
        // selection on the shared 1e-9 grid (VectorOps.q9) like every
        // exact-cosine top-k — raw-double windows flake cross-engine
        val scored = filtered.withColumn("_score",
          graft.search.VectorOps.cosineSim(col(prop), qv))
        scored.orderBy(graft.search.VectorOps.q9Col(col("_score")).desc,
          col("_id").asc).limit(k)
    }
    Stream(top, isEdges, Some(labels))
  }

  /** BM25 top-k (dsl.rs:2834-2847); scoring in graft.search.BM25. When
    * a text index is DECLARED for (label, property) and no tenant
    * filter narrows the corpus, the pre-built postings artifact serves
    * the query (no query-time tokenization).
    */
  private def textSearch(base: DataFrame, labels: Set[String], prop: String,
      tenant: Option[PropertyValue], query: String, k: Int, isEdges: Boolean): Stream = {
    val label = labels.head
    // the declared index, if any, carries its tenant-partitioning prop
    val declared: Option[Option[String]] = store.indexes.collectFirst {
      case IndexSpec.NodeText(l, p, t) if !isEdges && l == label && p == prop => t
      case IndexSpec.EdgeText(l, p, t) if isEdges && l == label && p == prop => t
    }
    // exact-serving matrix: a plain index serves untenanted queries; a
    // tenant-partitioned index serves tenant-filtered queries (its
    // per-tenant stats equal on-the-fly scoring of that tenant's
    // corpus). The two mismatched combinations score on the fly —
    // always exact, never approximated stats.
    val indexed = declared match {
      case Some(None) => tenant.isEmpty
      case Some(Some(_)) => tenant.isDefined
      case None => false
    }
    val top = if (indexed) {
      val tenantProp = declared.get
      val (post, stats) = graft.search.IndexCache.textIndex(
        store.version, label, prop, base, tenantProp)
      val (qPost, qStats) = tenant match {
        case Some(tv) =>
          val lit0 = valueToLit(tv)
          (post.where(col("_tenant") === lit0).drop("_tenant"),
            stats.where(col("_tenant") === lit0).drop("_tenant"))
        case None => (post, stats)
      }
      val scores = graft.search.BM25.scoreFromIndex(qPost, qStats, query)
      val scoped = tenant match {
        case Some(tv) =>
          base.where(col(tenantColumn(base, label, prop)) === valueToLit(tv))
        case None => base
      }
      scoped.join(scores, "_id")
        .orderBy(col("_bm25").desc, col("_id").asc).limit(k)
        .withColumnRenamed("_bm25", "_score")
    } else {
      val filtered = tenant match {
        case Some(t) => base.where(col(tenantColumn(base, label, prop)) === valueToLit(t))
        case None => base
      }
      graft.search.BM25.topK(filtered, prop, query, k, keepScore = true)
    }
    Stream(top, isEdges, Some(labels))
  }
}

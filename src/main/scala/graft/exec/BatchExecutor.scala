package graft.exec

import graft.ast._
import graft.model.GraphStore
import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Executes a batch (one HTTP request = one transaction, SURVEY §2.7):
  * ordered entries, named variables, conditions, foreach over array
  * params, returns selection. Write batches run with mutations enabled
  * and read their own writes (the updated store threads through the
  * shared Compiler).
  */
class BatchExecutor(initialStore: GraphStore,
    baseParams: Map[String, PropertyValue] = Map.empty,
    /** WAL replay forces the id seed the live batch recorded
      * (Compiler.IdSeedControl doc); None = live execution.
      */
    forcedIdSeed: Option[Long] = None) {

  private val seedCtl = new Compiler.IdSeedControl(forcedIdSeed)

  final case class Result(
      /** Unexecuted: the caller's render is the one Spark action per
        * returned result. Entries not returned ran before execute
        * returned, so their runtime errors already failed the batch.
        */
      results: Map[String, DataFrame],
      store: GraphStore,
      /** First id-allocation seed the batch used (None: allocated no
        * ids) — logged into the WAL segment for deterministic replay.
        */
      idSeed: Option[Long])

  def execute(batch: Batch): Result = {
    val vars = mutable.Map.empty[String, Stream]
    val results = mutable.LinkedHashMap.empty[String, (DataFrame, Probe)]
    // every executed entry's probe, in order (entries, not frames: a
    // returned stream renders cleanStream(stream), a different frame)
    val probes = mutable.ArrayBuffer.empty[Probe]
    // one probe per bound stream, so every condition naming it and the
    // entry that bound it share one job
    val streamProbes = new java.util.IdentityHashMap[Stream, Probe]()
    var store = initialStore
    var prev = new Probe(true)

    def probeOf(s: Stream): Probe =
      streamProbes.computeIfAbsent(s, s => new Probe(!s.df.isEmpty))

    def cond(c: BatchCondition): Boolean = c match {
      case BatchCondition.VarNotEmpty(n) => vars.get(n).exists(probeOf(_).nonEmpty)
      case BatchCondition.VarEmpty(n) => vars.get(n).forall(!probeOf(_).nonEmpty)
      case BatchCondition.VarMinSize(n, 1) => vars.get(n).exists(probeOf(_).nonEmpty)
      // limit(k) bounds the scan: "at least k rows" never needs the
      // full count of a 100 TB variable
      case BatchCondition.VarMinSize(n, k) =>
        vars.get(n).exists(
          _.df.limit(math.min(k, Int.MaxValue.toLong).toInt).count() >= k)
      case BatchCondition.PrevNotEmpty => prev.nonEmpty
    }

    def runEntries(entries: Seq[BatchEntry], params: Map[String, PropertyValue]): Unit =
      entries.foreach {
        case BatchEntry.Query(q) =>
          if (q.condition.forall(cond)) {
            val comp = new Compiler(store, params, vars, writeEnabled = batch.write, idSeedCtl = seedCtl)
            comp.compilePublic(q.traversal) match {
              case Left(df) =>
                prev = new Probe(!df.isEmpty)
                q.name.foreach(n => results(n) = (df, prev))
              case Right(stream) =>
                prev = probeOf(stream)
                q.name.foreach { n =>
                  vars(n) = stream
                  results(n) = (comp.cleanStream(stream), prev)
                }
            }
            probes += prev
            store = comp.store
          }
        case BatchEntry.ForEach(param, body) =>
          // one execution of the body per object element of the array
          // param, with that object's fields visible as params
          // (dsl.rs:4458-4468, parity fixtures 012/013)
          val arr = params.get(param) match {
            case Some(PropertyValue.VArray(items)) => items
            case Some(other) => Seq(other)
            case None => throw new TraversalException(s"missing foreach param: $param")
          }
          if (!vectorizeAddN(arr, body, params) &&
              !readForEachFastPath(param, arr, body, params)) {
            arr.foreach {
              case PropertyValue.VObject(fields) => runEntries(body, params ++ fields)
              case scalar => runEntries(body, params + (param -> scalar))
            }
          }
      }

    /** Read-side ForEach fast path (SURVEY §4.2 rewrite 5). ForEach
      * result semantics are per-iteration REBINDING (fixture 012: the
      * named result holds the LAST iteration's value), so when the body
      * is a single unconditional read-only query with no
      * cross-iteration variable dependence, every iteration except the
      * last is dead work: the loop is equivalent to ONE evaluation with
      * the last element's fields. The driver loop would build one plan
      * PER ELEMENT, and every element but the last is an entry nothing
      * returns, so each still costs its error-surfacing probe job — a
      * 1k-element lookup array costs 1k plans and 1k Spark jobs for a
      * result only its last element defines.
      * (An exploded-params join would accumulate ALL elements' rows —
      * different semantics than the loop; rebinding is what the parity
      * corpus pins.)
      *
      * Cross-iteration dependence check: a body that READS a variable
      * it also BINDS (via its result name, As, or StoreVar) sees the
      * previous iteration's value and must keep looping; reads of
      * variables bound outside the loop are iteration-invariant.
      */
    def readForEachFastPath(param: String, items: Seq[PropertyValue],
        body: Seq[BatchEntry], params: Map[String, PropertyValue]): Boolean =
      body match {
        case Seq(BatchEntry.Query(q @ NamedQuery(_, t, None))) if items.nonEmpty =>
          val mutates = deepCollect(t) {
            case s: Step if !isReadOnlyStep(s) => ()
          }.nonEmpty
          val bound = (q.name.toSeq ++ deepCollect(t) {
            case Step.As(n) => n
            case Step.StoreVar(n) => n
          }).toSet
          val reads = deepCollect(t) {
            case NodeRef.Var(n) => n
            case EdgeRef.Var(n) => n
            case Step.Inject(n) => n
            case Step.SelectVar(n) => n
            case Step.Within(n) => n
            case Step.Without(n) => n
          }.toSet
          // every element must supply the body's referenced params: the
          // loop raises "missing param" on the FIRST offending element,
          // and evaluating only the last one would swallow that error —
          // an under-supplied element keeps the loop (and its error)
          val needed = deepCollect(t) {
            case Expr.Param(p) => p
            case NodeRef.Param(p) => p
            case EdgeRef.Param(p) => p
          }.toSet
          val supplied = items.forall {
            case PropertyValue.VObject(fields) =>
              needed.subsetOf(fields.keySet ++ params.keySet)
            case _ => needed.subsetOf(params.keySet + param)
          }
          if (mutates || !supplied || reads.intersect(bound).nonEmpty) false
          else {
            items.last match {
              case PropertyValue.VObject(fields) => runEntries(body, params ++ fields)
              case scalar => runEntries(body, params + (param -> scalar))
            }
            true
          }
        case _ => false
      }

    /** ForEach vectorization (SURVEY §4.2 rewrite 5): a body that is a
      * single unconditional AddN whose property inputs are params or
      * constants appends ALL elements as one DataFrame — a driver loop
      * over a 100k-element bulk-load param would otherwise build 100k
      * unioned single-row plans. Returns false when not eligible (the
      * general loop runs instead).
      */
    def vectorizeAddN(items: Seq[PropertyValue], body: Seq[BatchEntry],
        params: Map[String, PropertyValue]): Boolean = body match {
      case Seq(BatchEntry.Query(NamedQuery(name, Traversal(Vector(
            Step.AddN(label, props))), None)))
          if items.nonEmpty && items.forall(_.isInstanceOf[PropertyValue.VObject]) &&
            props.forall {
              case (_, PropertyInput.Value(_)) => true
              case (_, PropertyInput.FromExpr(Expr.Param(_) | Expr.Constant(_))) => true
              case _ => false
            } =>
        val comp = new Compiler(store, params, vars, writeEnabled = batch.write, idSeedCtl = seedCtl)
        try {
          val created = comp.addNodesBulk(label, props,
            items.map(_.asInstanceOf[PropertyValue.VObject].v))
          // items is non-empty, so the appended rows are too: no job
          prev = new Probe(true)
          streamProbes.put(created, prev)
          name.foreach { n => vars(n) = created; results(n) = (comp.cleanStream(created), prev) }
          store = comp.store
          true
        } catch {
          case _: comp.UnsupportedBulkType => false // general loop handles it
        }
      case _ => false
    }

    runEntries(batch.entries, baseParams)

    val returned =
      if (batch.returns.isEmpty) results.toMap
      else batch.returns.flatMap(n => results.get(n).map(n -> _)).toMap
    // the caller's render is the one action on a returned entry; every
    // other entry runs here (at most once), so its runtime error still
    // fails the batch
    val rendered = returned.values.map(_._2).toSet
    probes.foreach(p => if (!rendered(p)) p.nonEmpty)
    Result(returned.map { case (n, (df, _)) => n -> df }, store, seedCtl.firstSeed)
  }

  /** Whether one executed entry's frame has rows: run on first read, at
    * most once (a Catalyst pass plus a Spark job), so an entry nothing
    * asks about costs no action during the build.
    */
  private final class Probe(probe: => Boolean) {
    lazy val nonEmpty: Boolean = probe
  }

  /** Deep scan over the case-class tree (steps, nested traversals,
    * predicates, expressions) collecting every node the partial
    * function matches — structure-agnostic, so a new Step variant with
    * an embedded Traversal is scanned without code changes here.
    */
  private def deepCollect[T](x: Any)(pf: PartialFunction[Any, T]): Vector[T] = {
    val self = pf.lift(x).toVector
    val kids = x match {
      case p: Product => p.productIterator.toVector
      case it: Iterable[_] => it.toVector
      case _ => Vector.empty
    }
    self ++ kids.flatMap(deepCollect(_)(pf))
  }

  /** Fail-closed READ-ONLY whitelist: the ForEach read fast path must
    * stay off for any step not provably read-only, so a future
    * mutating Step variant that nobody adds here defaults to "mutates"
    * (the loop runs every iteration) instead of silently skipping all
    * but the last. Container steps (Union/Choose/Coalesce/Optional/
    * Repeat) qualify because deepCollect descends into their
    * sub-traversals and classifies the nested steps individually.
    */
  private def isReadOnlyStep(s: Step): Boolean = s match {
    case _: Step.N | _: Step.NWhere | _: Step.E | _: Step.EWhere
       | _: Step.VectorSearchNodes | _: Step.TextSearchNodes
       | _: Step.VectorSearchEdges | _: Step.TextSearchEdges
       | _: Step.Inject | _: Step.Out | _: Step.In | _: Step.Both
       | _: Step.OutE | _: Step.InE | _: Step.BothE
       | Step.OutN | Step.InN | Step.OtherN
       | _: Step.Has | _: Step.HasLabel | _: Step.HasKey
       | _: Step.Where | Step.Dedup | _: Step.Within | _: Step.Without
       | _: Step.EdgeHas | _: Step.EdgeHasLabel
       | _: Step.OrderBy | _: Step.OrderByMultiple
       | _: Step.Limit | _: Step.Skip | _: Step.Range
       | _: Step.LimitBy | _: Step.SkipBy | _: Step.RangeBy
       | _: Step.Group | _: Step.GroupCount | _: Step.AggregateBy
       | Step.Fold | Step.Unfold | Step.Count | Step.Exists
       | Step.Id | Step.Label | _: Step.Values | _: Step.ValueMap
       | _: Step.Project | _: Step.ProjectBindings | Step.EdgeProperties
       | _: Step.As | _: Step.StoreVar | _: Step.SelectVar | _: Step.Bind
       | _: Step.Union | _: Step.Choose | _: Step.Coalesce
       | _: Step.Optional | _: Step.Repeat
       | Step.Path | Step.SimplePath | _: Step.WithSack
       | _: Step.SackSet | _: Step.SackAdd | Step.SackGet => true
    case _ => false
  }
}

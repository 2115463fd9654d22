package graft.server

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, classic}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimeZone,
  CurrentTimestampLike, Expression, LocalTimestamp, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DataType

import graft.ast.{Batch, BatchEntry, PropertyValue}
import graft.exec.{BatchExecutor, Compiler}
import graft.functions.ParamLiteral
import graft.model.GraphStore
import graft.pipeline.ArtifactCache

import java.util.concurrent.atomic.AtomicLong

/** Prepared stored routes: one optimized plan per (route batch, store
  * snapshot), into which each later request of the route binds its
  * values, so a repeat lookup skips the DSL build, analysis and
  * optimization and runs only physical planning (AQE on) and the render.
  *
  * Lifecycle. A stored read's first request on a snapshot builds and
  * renders in full, then [[keep]]s the optimized plan its render already
  * computed (no extra Spark job or Catalyst pass). A later request
  * rebinds its values into that plan by slot ([[ParamLiteral.rebind]])
  * and renders a frame over a [[PreparedExecution]]. The key holds the
  * route's batch, which fixes the plan, and the snapshot by reference: a
  * write, a replica refresh and a DDL batch (which keeps
  * `GraphStore.version`) each give a new key, and so does a redeploy
  * that changes the batch; no request reads a plan over an older store
  * or bundle. A gateway drops the plans of a snapshot it stops serving
  * ([[dropStore]]); the plans of a replaced batch are never looked up
  * again and age out of the cache.
  *
  * Never prepared (the full path serves the request; `/metrics` counts
  * each under `prepared_fallbacks`):
  *  - `shape`: a write batch, a batch that is not one unconditional
  *    returned `Query` entry, or a result that orders or limits at its
  *    root (the buffered sink adds its own limit over it);
  *  - `driver_read`: the build read a parameter other than as a slotted
  *    literal, or ran a loop on the driver ([[Compiler.readsOnDriver]]);
  *  - `slot_count`: the analyzed and optimized plans hold different
  *    numbers of literals per slot (a rule folded one into a plain
  *    literal, whose value would freeze), or the optimizer changed what
  *    the plan reads ([[derivedLeaf]]), where a slot's value can hide
  *    from the counts;
  *  - `clock`: the analyzed plan reads the clock (the optimizer folds it
  *    to the first request's time) or holds a nondeterministic
  *    expression;
  *  - `value_type`: a slot's value in the request is missing, null or
  *    of another type than the slot's.
  */
private[server] object PreparedRoutes {
  final val MaxPlans = 128

  private val reasons = Seq("shape", "driver_read", "slot_count", "clock", "value_type")
  private val fallbacks = reasons.map(_ -> new AtomicLong).toMap

  /** `{"shape":…,"driver_read":…,…}`: requests of stored routes the
    * full path served, by reason.
    */
  def fallbacksJson: String =
    reasons.map(r => s""""$r":${fallbacks(r).get}""").mkString("{", ",", "}")

  def fallback(reason: String): Unit = fallbacks(reason).incrementAndGet()

  /** A route's optimized plan, the name of its one result and the type
    * of each of its slots.
    */
  private final class Plan(val result: String, val plan: LogicalPlan,
      val slots: Map[String, DataType])

  /** Keyed by a stored route's batch and a store snapshot (a
    * `GraphStore` equals only itself).
    */
  private val plans = new ArtifactCache[(Batch, GraphStore), Plan]("prepared_routes", MaxPlans)

  /** The returned name of a read batch that is one unconditional
    * `Query` entry, its only result.
    */
  private def single(batch: Batch): Option[String] = batch.entries match {
    case Seq(BatchEntry.Query(q)) if !batch.write && q.condition.isEmpty =>
      q.name.filter(n => batch.returns.isEmpty || batch.returns == Seq(n))
    case _ => None
  }

  /** The results of a stored route's `batch` on `store` for `params`
    * from its prepared plan; None when the full path serves the request.
    */
  def results(batch: Batch, store: GraphStore,
      params: Map[String, PropertyValue]): Option[Map[String, DataFrame]] =
    if (single(batch).isEmpty) { fallback("shape"); None }
    else plans.get((batch, store)).flatMap { p =>
      val values = p.slots.flatMap { case (slot, dt) =>
        params.get(slot).flatMap(Compiler.scalarOf).map(Literal(_))
          .filter(_.dataType == dt).map(slot -> _)
      }
      if (values.size < p.slots.size) { fallback("value_type"); None }
      else {
        val bound = ParamLiteral.rebind(p.plan, values)
        // the frame tags its root: the root must be this request's own
        val root = if (bound eq p.plan) bound.clone() else bound
        val session = store.spark.asInstanceOf[classic.SparkSession]
        Some(Map(p.result -> GraftColumnBridge.dataFrameOf(new PreparedExecution(session, root))))
      }
    }

  /** After the full path rendered `out`, the results of a stored route's
    * `batch` on `store`, keep the optimized plan of its one result unless
    * a never-prepare rule holds or the batch has a plan on `store`
    * already (the request's values did not fit it). It reads only the
    * plans the render already analyzed and optimized.
    */
  def keep(batch: Batch, store: GraphStore, out: BatchExecutor#Result): Unit =
    single(batch).filterNot(_ => plans.contains((batch, store))).foreach { name =>
      lazy val qe = out.results(name).queryExecution
      lazy val counts = ParamLiteral.slotCounts(qe.optimizedPlan)
      if (out.readsOnDriver) fallback("driver_read")
      else if (Gateway.ordersOrLimits(qe.analyzed)) fallback("shape")
      else if (qe.analyzed.exists(_.expressions.exists(_.exists(clockOrRandom)))) fallback("clock")
      else if (counts != ParamLiteral.slotCounts(qe.analyzed) ||
          derivedLeaf(qe.withCachedData, qe.optimizedPlan)) fallback("slot_count")
      else plans.put((batch, store), new Plan(name, qe.optimizedPlan, counts.keys.toMap))
    }

  /** Whether the optimizer changed what the plan reads: a leaf of the
    * optimized plan reads something no leaf of its input does, or the
    * other way round. It computes rows from in-memory data (a filter or
    * projection over a local relation runs at optimization time), drops
    * a branch whose rows it found empty, prunes a file list, pushes
    * filters into a scan. Each can fix a slot's value where the counts
    * cannot see it: a filter pushed into both branches of a union and
    * evaluated over the in-memory one leaves one literal where the
    * input had one. Empty rows always count as changed.
    */
  private def derivedLeaf(input: LogicalPlan, optimized: LogicalPlan): Boolean = {
    def reads(a: LogicalPlan, b: LogicalPlan): Boolean = (a, b) match {
      case (x: LocalRelation, y: LocalRelation) => x.data.nonEmpty && (x.data eq y.data)
      case (x: LogicalRelation, y: LogicalRelation) => x.relation eq y.relation
      case (x: LogicalRDD, y: LogicalRDD) => x.rdd eq y.rdd
      case (x: InMemoryRelation, y: InMemoryRelation) => x.cacheBuilder eq y.cacheBuilder
      case _ => a == b
    }
    val (in, out) = (input.collectLeaves(), optimized.collectLeaves())
    out.exists(l => !in.exists(reads(l, _))) || in.exists(l => !out.exists(reads(l, _)))
  }

  private def clockOrRandom(e: Expression): Boolean = e match {
    case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: LocalTimestamp |
         _: CurrentTimeZone => true
    case _ => !e.deterministic
  }

  /** Drop the plans on a snapshot its gateway no longer serves. */
  def dropStore(store: GraphStore): Unit = plans.removeIf(_._2 eq store)

  /** A query execution over an optimized plan: analysis and optimization
    * return it as it is, so its tracker records planning only.
    */
  private final class PreparedExecution(session: classic.SparkSession, plan: LogicalPlan)
      extends QueryExecution(session, plan) {
    override def analyzed: LogicalPlan = plan
    override def optimizedPlan: LogicalPlan = plan
  }
}

package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NullType, StructType}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** Labeled-property-graph storage for the Spark engine.
  *
  * Layout decision (scale-first): ONE table per node label and per edge
  * label, instead of a single mega-table with a dynamic props map.
  * Rationale for 100 TB:
  *  - label filter == table/partition pruning (no scan of other labels);
  *  - each label keeps a concrete columnar schema, so Parquet min/max
  *    stats, dictionary encoding, predicate pushdown and column pruning
  *    all apply to user properties (a MAP<STRING,VARIANT> column would
  *    defeat all of them);
  *  - edge tables can be bucketed by `_src` (and a mirror by `_dst`) for
  *    shuffle-free adjacency joins on a real cluster.
  *
  * Reserved columns: `_id`, `_label` on nodes; plus `_src`, `_dst` on
  * edges (GraphFrames-style, cf. SURVEY.md §1.1). Reference virtual
  * fields `$id` / `$label` (dsl.rs:2948-2951) resolve to `_id`/`_label`.
  *
  * Writes never rewrite a table's plan: each label is a base frame plus
  * an [[Overlay]] of the rows written since (see [[LabelTable]]), so a
  * read plan has the same shape after one write or ten thousand.
  */
final case class EdgeMeta(srcLabels: Set[String], dstLabels: Set[String])

/** The rows of one label written since its base frame, held on the
  * driver: the current version of every written row keyed by `_id` (in
  * write order), and the ids of dropped rows. `schema` is the label
  * table's schema: the base's columns in order, then the columns writes
  * added, with types widened as `unionByName` widens them.
  */
final class Overlay(val schema: StructType, val live: VectorMap[Long, Row],
    val dead: Set[Long])

/** One label's table: its base frame (a snapshot scan, or a whole frame
  * set by `withNodes`/`withEdges`) and the overlay written since.
  */
private[model] final class LabelTable(spark: SparkSession, val base: Option[DataFrame],
    val overlay: Option[Overlay]) {
  def schema: StructType = overlay.map(_.schema).getOrElse(base.get.schema)

  /** `base ⋈anti overlay._id ∪ live(overlay)`, built once: a store copy
    * that leaves this label alone carries the same object, so the
    * label's frame keeps reference identity across writes.
    */
  lazy val frame: DataFrame = overlay match {
    case None => base.get
    case Some(o) =>
      val local = GraphStore.localFrame(spark, o.schema, o.live.values.toSeq)
      val ids = o.live.keys ++ o.dead
      base match {
        case None => local
        case Some(b) =>
          // an InSet, so the code stays the same as the id list grows
          val kept = if (ids.isEmpty) b
            else b.where(!graft.functions.ParamLiteral.isIn(b, "_id", ids))
          kept.unionByName(local, allowMissingColumns = true)
      }
  }
}

final class GraphStore private (
    val spark: SparkSession,
    tabs: GraphStore.Tabs,
    val edgeMeta: Map[String, EdgeMeta],
    val indexes: Set[graft.ast.IndexSpec],
    /** Store identity for index-artifact caching: every DATA mutation
      * (withNodes/withEdges/publish) mints a new version, so cached
      * postings/IVF artifacts can never be served for stale data.
      * DDL-only changes (withIndexes) keep the version — the data behind
      * any existing artifact is unchanged, so evicting it would only
      * force rebuilds. An artifact is keyed by version AND declared
      * index (IndexCache.Key), so a redeclared index never inherits the
      * dropped one's artifact.
      */
    val version: String,
    /** Highest id ever allocated in this store, when known — the write
      * path seeds its id counter from `idHighWater + 1` instead of a
      * full-table `max(_id)` aggregation (a whole-corpus scan at
      * 100 TB). INVARIANT: when Some, it is >= every `_id` in every
      * table. Only the engine's own allocator (Compiler.idBase) stamps
      * it, post-allocation, so the invariant holds by induction; any
      * path that merges rows with EXTERNAL ids (streaming overlay) must
      * clear it. Persisted in graph_meta.json across save/load.
      */
    val idHighWater: Option[Long],
    /** `_id` bounds per label, keyed `(isEdges, label)`: every id in a
      * ranged label's frame lies in its range or among its overlay's
      * live ids. Taken by the scan that seeds the id allocator
      * (Compiler.idBase) and persisted in graph_meta.json. A label
      * without a range (a store that predates the scan, a frame
      * replaced by `withNodes`/`withEdges`) may hold any id.
      */
    val idRanges: Map[(Boolean, String), (Long, Long)]) {

  private def nodeTabs = tabs.nodes
  private def edgeTabs = tabs.edges

  def this(spark: SparkSession, nodeTables: Map[String, DataFrame],
      edgeTables: Map[String, DataFrame], edgeMeta: Map[String, EdgeMeta],
      indexes: Set[graft.ast.IndexSpec] = Set.empty,
      version: String = GraphStore.newVersion(), idHighWater: Option[Long] = None,
      idRanges: Map[(Boolean, String), (Long, Long)] = Map.empty) =
    this(spark, GraphStore.Tabs(
      nodeTables.transform((_, df) => new LabelTable(spark, Some(df), None)),
      edgeTables.transform((_, df) => new LabelTable(spark, Some(df), None))),
      edgeMeta, indexes, version, idHighWater, idRanges)

  /** Empty store bound to a session (write batches can build a graph
    * from scratch via AddN/AddE).
    */
  def this(spark: SparkSession) =
    this(spark, Map.empty[String, DataFrame], Map.empty[String, DataFrame], Map.empty)

  private def copy(nodeTabs: Map[String, LabelTable] = nodeTabs,
      edgeTabs: Map[String, LabelTable] = edgeTabs, edgeMeta: Map[String, EdgeMeta] = edgeMeta,
      indexes: Set[graft.ast.IndexSpec] = indexes, version: String = GraphStore.newVersion(),
      idHighWater: Option[Long] = idHighWater,
      idRanges: Map[(Boolean, String), (Long, Long)] = idRanges): GraphStore =
    new GraphStore(spark, GraphStore.Tabs(nodeTabs, edgeTabs), edgeMeta, indexes, version,
      idHighWater, idRanges)

  /** Replace a label's whole frame (its overlay and id range go with it). */
  def withNodes(label: String, df: DataFrame): GraphStore =
    copy(nodeTabs = nodeTabs + (label -> new LabelTable(spark, Some(df), None)),
      idRanges = idRanges - (false -> label))
  def withEdges(label: String, df: DataFrame, meta: Option[EdgeMeta] = None): GraphStore =
    copy(edgeTabs = edgeTabs + (label -> new LabelTable(spark, Some(df), None)),
      edgeMeta = meta.map(m => edgeMeta + (label -> m)).getOrElse(edgeMeta),
      idRanges = idRanges - (true -> label))
  def withIndexes(ix: Set[graft.ast.IndexSpec]): GraphStore = copy(indexes = ix, version = version)
  /** Stamp the durable id allocation mark (no data change — version kept). */
  def withIdHighWater(n: Long): GraphStore = copy(version = version, idHighWater = Some(n))
  /** Forget the allocation mark (rows with external ids were merged). */
  def clearIdHighWater: GraphStore = copy(version = version, idHighWater = None)
  /** Stamp per-label id bounds (no data change — version kept). */
  def withIdRanges(r: Map[(Boolean, String), (Long, Long)]): GraphStore =
    copy(version = version, idRanges = r)

  /** Bounds of a label's base ids, when known: its stamped range, or
    * an empty range when it has no base (its rows are all overlay rows).
    */
  private def baseRange(isEdges: Boolean, l: String, t: LabelTable): Option[(Long, Long)] =
    if (t.base.isEmpty) Some((Long.MaxValue, Long.MinValue)) else idRanges.get(isEdges -> l)

  /** Labels whose frame can hold one of `ids`: its overlay holds one
    * live, or its base range contains one, or its base range is unknown.
    */
  def labelsHolding(ids: Seq[Long], isEdges: Boolean): Set[String] =
    (if (isEdges) edgeTabs else nodeTabs).collect {
      case (l, t) if t.overlay.exists(o => ids.exists(o.live.contains)) ||
          baseRange(isEdges, l, t).forall { case (lo, hi) =>
            ids.exists(i => lo <= i && i <= hi) } => l
    }.toSet

  /** Bounds of every id in each label's frame, where known: its base
    * range widened to its overlay's live ids. A saved copy's ranges.
    */
  def frameIdRanges: Map[(Boolean, String), (Long, Long)] = {
    def of(isEdges: Boolean, tabs: Map[String, LabelTable]) = tabs.flatMap { case (l, t) =>
      baseRange(isEdges, l, t).map { case (lo, hi) =>
        val live = t.overlay.map(_.live.keys).getOrElse(Nil)
        (isEdges -> l) -> (live.foldLeft(lo)(math.min), live.foldLeft(hi)(math.max))
      }
    }
    of(isEdges = false, nodeTabs) ++ of(isEdges = true, edgeTabs)
  }

  /** Merge one mutation's delta into a label's overlay, on the driver:
    * `rows` (laid out as `schema`) become the current version of their
    * ids and `dead` ids are dropped. Columns `schema` adds append to the
    * table and conflicting types widen as `unionByName` would widen
    * them. Runs no Spark job. A delta that changes nothing returns this
    * store, so the label keeps its frame and the store its version.
    */
  def publish(label: String, isEdges: Boolean, schema: StructType,
      rows: Seq[Row] = Nil, dead: Iterable[Long] = Nil,
      meta: Option[EdgeMeta] = None): GraphStore = {
    val prior = (if (isEdges) edgeTabs else nodeTabs).get(label)
    if (prior.isEmpty && schema.isEmpty) return this
    val before = prior.map(_.schema).getOrElse(StructType(Nil))
    val after = GraphStore.widen(spark, before, schema)
    if (prior.isDefined && rows.isEmpty && dead.isEmpty &&
        after == GraphStore.nullable(before) &&
        meta.forall(edgeMeta.get(label).contains)) return this
    val o = prior.flatMap(_.overlay)
    lazy val id = after.fieldIndex("_id")
    val kept = o.map { ov =>
      if (ov.schema == after) ov.live
      else VectorMap.from(ov.live.keys.zip(
        GraphStore.conform(spark, ov.live.values.toSeq, ov.schema, after)))
    }.getOrElse(VectorMap.empty[Long, Row])
    val delta = GraphStore.conform(spark, rows, schema, after)
    val next = new Overlay(after, (kept -- dead) ++ delta.map(r => r.getLong(id) -> r),
      o.map(_.dead).getOrElse(Set.empty) ++ dead)
    val t = new LabelTable(spark, prior.flatMap(_.base), Some(next))
    if (isEdges)
      copy(edgeTabs = edgeTabs + (label -> t),
        edgeMeta = meta.map(m => edgeMeta + (label -> m)).getOrElse(edgeMeta))
    else copy(nodeTabs = nodeTabs + (label -> t))
  }

  /** A label's table schema, when the label exists. */
  def schemaOf(label: String, isEdges: Boolean): Option[StructType] =
    (if (isEdges) edgeTabs else nodeTabs).get(label).map(_.schema)

  /** A label's overlay, when it has been written since its base. */
  def overlayOf(label: String, isEdges: Boolean): Option[Overlay] =
    (if (isEdges) edgeTabs else nodeTabs).get(label).flatMap(_.overlay)

  /** Node / edge frames per label (base plus overlay). */
  lazy val nodeTables: Map[String, DataFrame] = nodeTabs.transform((_, t) => t.frame)
  lazy val edgeTables: Map[String, DataFrame] = edgeTabs.transform((_, t) => t.frame)

  /** Expose the graph to Spark SQL: `nodes_<label>` / `edges_<label>`
    * temp views — `spark.sql("SELECT ... FROM nodes_Customer JOIN
    * edges_PLACED ON ...")` works alongside the traversal API.
    */
  def registerViews(prefix: String = ""): Unit = {
    nodeTables.foreach { case (l, df) => df.createOrReplaceTempView(s"${prefix}nodes_$l") }
    edgeTables.foreach { case (l, df) => df.createOrReplaceTempView(s"${prefix}edges_$l") }
  }

  /** All node labels that can be reached out of / into the given edge labels. */
  def nodeLabels: Set[String] = nodeTabs.keySet
  def edgeLabels: Set[String] = edgeTabs.keySet

  def nodesFor(label: String): DataFrame =
    nodeTables.getOrElse(label, sys.error(s"unknown node label: $label"))
  def edgesFor(label: String): DataFrame =
    edgeTables.getOrElse(label, sys.error(s"unknown edge label: $label"))

  /** Widen property columns whose type conflicts across labels to
    * string (dynamic property model: same name, per-label types) —
    * unionByName would otherwise coerce one side and corrupt or fail.
    */
  private def widenConflicts(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    import org.apache.spark.sql.types.{DataType, StringType}
    val types = scala.collection.mutable.Map.empty[String, DataType]
    val conflicted = scala.collection.mutable.Set.empty[String]
    dfs.foreach(_.schema.fields.foreach { f =>
      types.get(f.name) match {
        case None => types(f.name) = f.dataType
        case Some(t) if t == f.dataType => ()
        case Some(_) => conflicted += f.name
      }
    })
    if (conflicted.isEmpty) dfs
    else dfs.map { df =>
      val hit = df.schema.fields.filter(f =>
        conflicted.contains(f.name) && f.dataType != StringType)
      hit.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(StringType)))
    }
  }

  /** Union of the given labels' node tables, schema-merged (missing props null). */
  def nodesUnion(labels: Set[String]): DataFrame = {
    val dfs = labels.toSeq.sorted.map(nodesFor)
    require(dfs.nonEmpty, "empty label set")
    widenConflicts(dfs).reduce(_.unionByName(_, allowMissingColumns = true))
  }
  def allNodes: DataFrame = nodesUnion(nodeTables.keySet)

  def edgesUnion(labels: Set[String]): DataFrame = {
    val dfs = labels.toSeq.sorted.map(edgesFor)
    require(dfs.nonEmpty, "empty edge label set")
    widenConflicts(dfs).reduce(_.unionByName(_, allowMissingColumns = true))
  }
  def allEdges: DataFrame = edgesUnion(edgeTables.keySet)

  /** Labels an edge set can end at (for pruning the node-join target). */
  def dstLabelsOf(edgeLabels: Set[String]): Set[String] =
    edgeLabels.flatMap(l => edgeMeta.get(l).map(_.dstLabels).getOrElse(nodeTables.keySet))
  def srcLabelsOf(edgeLabels: Set[String]): Set[String] =
    edgeLabels.flatMap(l => edgeMeta.get(l).map(_.srcLabels).getOrElse(nodeTables.keySet))

  /** Edge labels whose source (resp. dest) can be one of `labels`. */
  def outEdgeLabels(labels: Option[Set[String]]): Set[String] = labels match {
    case None => edgeTables.keySet
    case Some(ls) => edgeTables.keySet.filter(e =>
      edgeMeta.get(e).forall(_.srcLabels.exists(ls.contains)))
  }
  def inEdgeLabels(labels: Option[Set[String]]): Set[String] = labels match {
    case None => edgeTables.keySet
    case Some(ls) => edgeTables.keySet.filter(e =>
      edgeMeta.get(e).forall(_.dstLabels.exists(ls.contains)))
  }
}

object GraphStore {
  /** Both label maps in one parameter, so the private constructor does
    * not erase to the same signature as the public one.
    */
  private final case class Tabs(nodes: Map[String, LabelTable], edges: Map[String, LabelTable])

  def newVersion(): String = java.util.UUID.randomUUID().toString

  /** A driver-local frame over `rows` (a `LocalRelation`: projections
    * and filters over it fold into the plan, so collecting them runs no
    * Spark job).
    */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private[model] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** `to` with the columns of `from` it lacks appended and conflicting
    * types widened: the schema `unionByName(allowMissingColumns = true)`
    * gives (analysis over empty relations, no job). Fields nullable.
    */
  private[model] def widen(spark: SparkSession, to: StructType,
      from: StructType): StructType =
    if (to.isEmpty) nullable(from)
    else if (from.forall(f => to.fieldNames.contains(f.name) &&
        (to(f.name).dataType == f.dataType || f.dataType == NullType)))
      nullable(to)
    else nullable(localFrame(spark, to, Nil)
      .unionByName(localFrame(spark, from, Nil), allowMissingColumns = true).schema)

  /** `rows` laid out as `from`, re-laid as `to`: columns by name, absent
    * ones null, differing types cast (the cast runs as a projection of a
    * local relation, on the driver, with no job).
    */
  def conform(spark: SparkSession, rows: Seq[Row], from: StructType,
      to: StructType): Seq[Row] = {
    val idx = to.fieldNames.toSeq.map(from.fieldNames.indexOf(_))
    val direct = to.fields.toSeq.zip(idx).forall { case (f, i) =>
      i < 0 || from(i).dataType == f.dataType || from(i).dataType == NullType
    }
    if (rows.isEmpty || from == to) rows
    else if (direct) rows.map(r => Row.fromSeq(idx.map(i => if (i < 0) null else r.get(i))))
    else localFrame(spark, from, rows).select(to.fields.toSeq.map { f =>
      (if (from.fieldNames.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*).collect().toSeq
  }
}

/** Builds the graph projection of the driver's TPC-H-ish testdata
  * (see /root/repo/FIXTURES.md §B). Original column names are kept as
  * property names so DuckDB-oracle SQL reads naturally off the raw
  * parquet tables.
  *
  * Global id scheme: ids are disjoint per label via a band offset
  * (`band * 1e9 + natural key`). Deterministic, join-free, and
  * reproducible in plain SQL on the oracle side. (A production deploy
  * at 100 TB would widen the band arithmetic; the scheme itself —
  * label-banded ids derived from natural keys, never a global counter —
  * is the scale-safe part.)
  */
object TestGraph {
  val OFF = 1000000000L
  // node bands
  val RegionB = 1L; val NationB = 2L; val CustomerB = 3L; val SupplierB = 4L
  val PartB = 5L; val OrderB = 6L; val LineitemB = 7L; val EventB = 8L
  val DocumentB = 9L; val EmbeddingB = 10L
  /** Lineitem ids are content-hashed (no unique natural key); they live
    * in their own high band well above the arithmetic bands.
    */
  val LineitemHashBand = 100000000000000000L // 1e17
  // edge bands start at 20
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, GraphStore]()

  def apply(spark: SparkSession, dir: String): GraphStore =
    cache.computeIfAbsent(dir + "@" + System.identityHashCode(spark), _ => build(spark, dir))

  private def pq(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  def build(spark: SparkSession, dir: String): GraphStore = {
    // events.parquet carries TIMESTAMP(NANOS) which vanilla Spark refuses;
    // read nanos as long and convert to a proper timestamp column below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def node(df: DataFrame, label: String, idCol: org.apache.spark.sql.Column): DataFrame =
      df.withColumn("_id", idCol.cast("long")).withColumn("_label", lit(label))

    val region   = pq(spark, dir, "region")
    val nation   = pq(spark, dir, "nation")
    val customer = pq(spark, dir, "customer")
    val supplier = pq(spark, dir, "supplier")
    val part     = pq(spark, dir, "part")
    val orders   = pq(spark, dir, "orders")
    val lineitem = pq(spark, dir, "lineitem")
    val events0  = pq(spark, dir, "events")
    // normalize ts to µs TimestampType from either physical shape:
    // TIMESTAMP(NANOS) read as long under nanosAsLong (integer DIV —
    // a double division rounds within ±1 µs at epoch-nanos magnitude,
    // matching the oracle's ns->µs truncation), or
    // TIMESTAMP(MICROS, isAdjustedToUTC=0) read as TIMESTAMP_NTZ
    // (cast interprets the wall clock in the session tz — UTC in graft)
    val events = events0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        events0.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        events0.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => events0
    }
    val documents  = pq(spark, dir, "documents")
    val embeddings = pq(spark, dir, "embeddings")

    // lineitem has NO unique natural key in this synthetic data (dup
    // (orderkey, linenumber) pairs) but the full row IS unique, so use a
    // content-addressed id: 56-bit md5 of all columns, offset into its
    // own band. Fully parallel (no global sort/counter — the pattern
    // that survives 100 TB), deterministic, and reproducible in oracle
    // SQL. Collision odds at 600k rows: ~2.5e-6.
    // (orderkey, linenumber, partkey, suppkey, quantity) is unique at
    // every SF — the minimal (cheapest-to-hash) distinguishing key
    val liKey = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"))
    // cache the id-stamped frame: one parallel materialization instead
    // of re-hashing on every scan (lineitem backs 3 edge tables + nodes).
    // The parquet is a single ~40MB split, so spread it across the
    // cluster first — otherwise every downstream scan-side stage runs
    // on one core.
    val lineitemR = lineitem
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("_rn",
        lit(LineitemHashBand) + conv(substring(md5(liKey), 1, 14), 16, 10).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val liId = col("_rn")

    val nodes = Map(
      "Region"    -> node(region, "Region", lit(RegionB * OFF) + col("r_regionkey")),
      "Nation"    -> node(nation, "Nation", lit(NationB * OFF) + col("n_nationkey")),
      "Customer"  -> node(customer, "Customer", lit(CustomerB * OFF) + col("c_custkey")),
      "Supplier"  -> node(supplier, "Supplier", lit(SupplierB * OFF) + col("s_suppkey")),
      "Part"      -> node(part, "Part", lit(PartB * OFF) + col("p_partkey")),
      "Order"     -> node(orders, "Order", lit(OrderB * OFF) + col("o_orderkey")),
      "Lineitem"  -> node(lineitemR, "Lineitem", liId).drop("_rn"),
      "Event"     -> node(events, "Event", lit(EventB * OFF) + col("event_id")),
      "Document"  -> node(documents, "Document", lit(DocumentB * OFF) + col("doc_id")),
      "Embedding" -> node(embeddings, "Embedding", lit(EmbeddingB * OFF) + col("vec_id")),
    )

    def edge(df: DataFrame, label: String, band: Long,
             eid: org.apache.spark.sql.Column,
             src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column,
             props: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
      val base = df.select(
        Seq((lit(band * OFF) + eid).cast("long").as("_id"), lit(label).as("_label"),
            src.cast("long").as("_src"), dst.cast("long").as("_dst")) ++
          props.map { case (n, c) => c.as(n) }: _*)
      base
    }

    val fromNation = edge(customer, "FROM_NATION", 21L, col("c_custkey"),
        lit(CustomerB * OFF) + col("c_custkey"), lit(NationB * OFF) + col("c_nationkey"))
      .unionByName(edge(supplier, "FROM_NATION", 22L, col("s_suppkey"),
        lit(SupplierB * OFF) + col("s_suppkey"), lit(NationB * OFF) + col("s_nationkey")))

    val edges = Map(
      "IN_REGION" -> edge(nation, "IN_REGION", 20L, col("n_nationkey"),
        lit(NationB * OFF) + col("n_nationkey"), lit(RegionB * OFF) + col("n_regionkey")),
      "FROM_NATION" -> fromNation,
      "PLACED" -> edge(orders, "PLACED", 23L, col("o_orderkey"),
        lit(CustomerB * OFF) + col("o_custkey"), lit(OrderB * OFF) + col("o_orderkey")),
      // CONTAINS carries a couple of edge properties to exercise
      // edge-stream filters/sorts (EdgeHas, edge_properties, order_by).
      // lineitem-derived edges inherit the content hash; each label gets
      // its own high band so edge ids stay globally unique
      "CONTAINS" -> edge(lineitemR, "CONTAINS", 0L,
        liId - lit(LineitemHashBand) + lit(2L * LineitemHashBand),
        lit(OrderB * OFF) + col("l_orderkey"), liId,
        Seq("l_quantity" -> col("l_quantity"), "l_linenumber" -> col("l_linenumber"))),
      "OF_PART" -> edge(lineitemR, "OF_PART", 0L,
        liId - lit(LineitemHashBand) + lit(3L * LineitemHashBand),
        liId, lit(PartB * OFF) + col("l_partkey")),
      "SUPPLIED_BY" -> edge(lineitemR, "SUPPLIED_BY", 0L,
        liId - lit(LineitemHashBand) + lit(4L * LineitemHashBand),
        liId, lit(SupplierB * OFF) + col("l_suppkey")),
      "BY_CUSTOMER" -> edge(events, "BY_CUSTOMER", 27L, col("event_id"),
        lit(EventB * OFF) + col("event_id"), lit(CustomerB * OFF) + col("user_id")),
    )

    val meta = Map(
      "IN_REGION"   -> EdgeMeta(Set("Nation"), Set("Region")),
      "FROM_NATION" -> EdgeMeta(Set("Customer", "Supplier"), Set("Nation")),
      "PLACED"      -> EdgeMeta(Set("Customer"), Set("Order")),
      "CONTAINS"    -> EdgeMeta(Set("Order"), Set("Lineitem")),
      "OF_PART"     -> EdgeMeta(Set("Lineitem"), Set("Part")),
      "SUPPLIED_BY" -> EdgeMeta(Set("Lineitem"), Set("Supplier")),
      "BY_CUSTOMER" -> EdgeMeta(Set("Event"), Set("Customer")),
    )

    // Document.text carries a declared BM25 index (the reference's
    // default-on text index, config.rs:174-175): queries serve from the
    // cached postings artifact — built once per store, the write-time
    // artifact shape that holds at 100 TB — instead of re-tokenizing
    // the corpus per query. Vector indexes stay undeclared so
    // vector-search parity queries stay oracle-exact brute scans.
    new GraphStore(spark, nodes, edges, meta).withIndexes(Set(
      graft.ast.IndexSpec.NodeText("Document", "text", None)))
  }
}

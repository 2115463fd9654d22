package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge frames — the analysis
  * layer a property-graph engine owes its users beyond traversal:
  * bipartite co-occurrence projection, degrees, connected components,
  * and triangle counting. Everything is DataFrame aggregations and
  * equi-joins (no driver-side iteration over vertices), so each
  * operator's cost envelope is the shuffles it names.
  *
  * Edge frames are UNDIRECTED and canonical: columns `(id_a, id_b)`
  * with `id_a < id_b`, one row per edge — the same shape the dedup
  * pair generators emit, so near-dup pair output plugs directly into
  * [[connectedComponents]] / [[triangleCounts]].
  */
object GraphAlgos {

  /** Project a bipartite `(group, item)` relation onto item-item
    * co-occurrence edges: one `(id_a, id_b)` row (with `id_a < id_b`)
    * per unordered item pair sharing at least one group — "orders
    * linked by a common part", "docs linked by a common shingle".
    *
    * Pair generation routes through the bounded-block primitive
    * ([[Dedup.boundedKeyPairs]]): a group with more than `cap` items
    * pair-explodes in sub-blocks with bounded per-task memory, so one
    * pathological group cannot OOM an executor. The projection of a
    * group is quadratic in its size by DEFINITION — at 100 TB, cap
    * the group size upstream (cf. shingle df-caps) or expect |group|²
    * output rows; `maxGroupSize` drops larger groups outright (the
    * standard stop-word discipline for co-occurrence graphs).
    */
  def coOccurrence(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = Int.MaxValue): DataFrame =
    Dedup.boundedKeyPairs(
      df.select(col(groupCol).as("_g"), col(itemCol).as("_it")).distinct(),
      Seq("_g"), "_it", maxKeyDf = maxGroupSize)
      .select("id_a", "id_b").distinct()

  /** [[coOccurrence]] keeping MULTIPLICITY: `(id_a, id_b, w)` where
    * `w` = number of shared groups — the natural edge weight of a
    * co-occurrence graph ("orders sharing 3 parts are closer than
    * orders sharing 1"). Same bounded-block pair generation; one
    * extra pair-count aggregation instead of the distinct.
    */
  def coOccurrenceWeighted(df: DataFrame, groupCol: String,
      itemCol: String, maxGroupSize: Int = Int.MaxValue): DataFrame =
    Dedup.boundedKeyPairs(
      df.select(col(groupCol).as("_g"), col(itemCol).as("_it")).distinct(),
      Seq("_g"), "_it", maxKeyDf = maxGroupSize)
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("w"))

  /** [[coOccurrence]] with the projected edge frame pinned
    * (MEMORY_AND_DISK, plan-keyed like `Dedup.shingleHashSetCached`):
    * a co-occurrence graph is materialized ONCE and then analyzed
    * many times (degrees, components, triangles, ranks, cores) — the
    * projection is write-time material, not per-analysis work. SF
    * paths key apart, so the bench warm-up invariant holds.
    */
  def coOccurrenceCached(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = Int.MaxValue): DataFrame =
    projCached(df, groupCol, itemCol, maxGroupSize, weighted = false,
      coOccurrence(df, groupCol, itemCol, maxGroupSize))

  /** [[coOccurrenceWeighted]] pinned the same way. */
  def coOccurrenceWeightedCached(df: DataFrame, groupCol: String,
      itemCol: String, maxGroupSize: Int = Int.MaxValue): DataFrame =
    projCached(df, groupCol, itemCol, maxGroupSize, weighted = true,
      coOccurrenceWeighted(df, groupCol, itemCol, maxGroupSize))

  private def projCached(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int, weighted: Boolean, mk: => DataFrame): DataFrame = {
    val (e, built) = projCache.getOrBuild(
        (Dedup.planKey(df), groupCol, itemCol, maxGroupSize, weighted)) {
      mk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (built) e.count()
    e
  }

  /** LRU-bounded like TextAnalysis.lmCache: a long-lived server must
    * not accumulate persisted projections across stores; eviction
    * unpersists the frame it owns.
    */
  private final val ProjCacheMax = 8
  private val projCache =
    ArtifactCache.frames[(String, String, String, Int, Boolean)](
      "coOccurrence", ProjCacheMax)

  /** Per-vertex degree over a canonical undirected edge frame. One
    * aggregation; vertices with no edges don't appear (join the node
    * table with a zero-fill if isolated vertices matter).
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("id_a"), col("id_b"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))

  /** Connected components: `(node_id, component_id)` with the
    * component labeled by its minimum member id. Delegates to the
    * alternating large-star/small-star rounds ([[Dedup.dupClustersStar]],
    * Kiveris et al.) — O(log n) rounds regardless of component
    * diameter, per-round frames through the reliable iterative-pass
    * store — because a graph's components, unlike a dedup corpus's
    * near-dup clusters, routinely have long chains.
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    Dedup.dupClustersStar(edges)
      .select(col("doc_id").as("node_id"), col("cluster_id").as("component_id"))

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * made deterministic): every vertex starts labeled with its own id;
    * each round every vertex SIMULTANEOUSLY adopts the label most
    * frequent among its neighbors' previous-round labels, ties broken
    * toward the SMALLER label. Returns `(node_id, community_id)` after
    * `rounds` rounds — communities are denser-than-cut vertex groups,
    * the mesoscale between [[connectedComponents]] (pure reachability)
    * and per-vertex scores, and the grouping a curation pipeline
    * balances topical graph neighborhoods with.
    *
    * The classic algorithm breaks frequency ties RANDOMLY and updates
    * asynchronously in a shuffled vertex order — neither survives a
    * distributed replay. Synchronous rounds + the min-label tie rule
    * make every round one join + two aggregations with a bit-identical
    * result at any partitioning (`max_by` over the (count, -label)
    * struct is an associative argmax with distinct orderings). Fixed
    * `rounds` keeps the plan data-independent; label oscillation (the
    * known bipartite two-coloring flip of synchronous LPA) is bounded,
    * not divergent, so a small fixed budget is the standard remedy.
    * Per-round cost is degree-sum rows through one shuffle — the same
    * shape as a [[pageRank]] iteration, with the same every-4th-round
    * lineage cut.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val store = new Scratch.FrameStore(edges.sparkSession)
    val und = store.keep(
      edges.select(col("id_a").as("_u"), col("id_b").as("_v"))
        .unionAll(edges.select(col("id_b").as("_u"), col("id_a").as("_v"))))
    var labels = und.select(col("_u").as("node_id")).distinct()
      .withColumn("_lbl", col("node_id"))
    var it = 0
    while (it < rounds) {
      val next = und
        .join(labels.select(col("node_id").as("_v"), col("_lbl")), "_v")
        .groupBy(col("_u"), col("_lbl"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("_u").as("node_id"))
        .agg(max_by(col("_lbl"), struct(col("_c"), -col("_lbl"))).as("_lbl"))
      it += 1
      labels = if (it % 4 == 0 && it < rounds) store.keep(next) else next
    }
    val out = Scratch.stable(
      labels.select(col("node_id"), col("_lbl").as("community_id")))
    store.release()
    out
  }

  /** Per-vertex triangle participation counts: `(node_id, triangles)`
    * — how many triangles each vertex is a corner of. Vertices in no
    * triangle don't appear.
    *
    * The classic degree-ordered formulation (the MapReduce triangle
    * algorithm of Suri & Vassilvitskii): orient every undirected edge
    * from its lower-(degree, id) endpoint to its higher one — a DAG in
    * which each triangle closes exactly once — then join out-edges
    * with out-edges to enumerate wedges and close them against the
    * oriented edge set. Degree ordering bounds each vertex's out-degree
    * by O(√m), so the wedge intermediate is O(m^1.5) worst case — the
    * known optimum for exact listing — instead of Σ deg² of a naive
    * orientation (a celebrity vertex squares its degree otherwise).
    * Three shuffles total: degree agg, wedge join, closure join.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = degrees(edges)
    val withDeg = edges
      .join(deg.select(col("node_id").as("id_a"), col("degree").as("_da")), "id_a")
      .join(deg.select(col("node_id").as("id_b"), col("degree").as("_db")), "id_b")
    // rank = (degree, id), compared lexicographically as a struct
    val lowFirst = col("_da") < col("_db") ||
      (col("_da") === col("_db") && col("id_a") < col("id_b"))
    val oriented = withDeg.select(
      when(lowFirst, col("id_a")).otherwise(col("id_b")).as("_lo"),
      when(lowFirst, struct(col("_db").as("d"), col("id_b").as("i")))
        .otherwise(struct(col("_da").as("d"), col("id_a").as("i"))).as("_hiK"))
      .select(col("_lo"), col("_hiK"), col("_hiK").getField("i").as("_hi"))
    // wedges at _lo: unordered out-neighbor pairs, ranked v < w
    val w1 = oriented.select(col("_lo"), col("_hiK").as("_vK"), col("_hi").as("_v"))
    val w2 = oriented.select(col("_lo"), col("_hiK").as("_wK"), col("_hi").as("_w"))
    val wedges = w1.join(w2, Seq("_lo")).where(col("_vK") < col("_wK"))
      .select(col("_lo"), col("_v"), col("_w"))
    // close the wedge: an oriented edge _v -> _w must exist
    val closing = oriented.select(col("_lo").as("_v"), col("_hi").as("_w"))
    val tris = wedges.join(closing, Seq("_v", "_w"))
    // ONE evaluation of the wedge+closure join: the former
    // 3-way unionAll referenced `tris` in three plan branches, and
    // Catalyst performs no cross-branch CSE — the closure join's
    // probe stage ran three times (exchanges reused, join work not).
    // explode(array(...)) emits the three corners from a single pass.
    tris.select(explode(array(col("_lo"), col("_v"), col("_w")))
        .as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("triangles"))
  }

  /** Integer-quantized PageRank over a canonical undirected edge
    * frame: `(node_id, pr_q)` where `pr_q / scale` approximates the
    * damped PageRank after `iters` power iterations. All arithmetic is
    * integer (`div` floor division, exact long sums): ranks are
    * bit-identical at any partitioning AND across engines — the same
    * reproducibility trick as `Curation.temperatureMix`'s quantized
    * weights; a double formulation would hash-differ per run from
    * float summation order alone.
    *
    * Undirected graph: every vertex has degree >= 1, so there is no
    * dangling mass; contribution of `u` to each neighbor is
    * `pr(u) div deg(u)` and
    * `pr'(v) = base + (damp% of the contribution sum)` with
    * `base = (scale div n) * (100 - dampPct) div 100`.
    *
    * Scale shape: one degree aggregation up front, then per iteration
    * ONE equi-join of the adjacency against the (n-row) rank frame and
    * ONE aggregation by destination — the standard distributed power
    * iteration. Rank frames go through the reliable iterative-pass
    * store; the adjacency is kept once and reused by every round.
    */
  def pageRank(edges: DataFrame, iters: Int = 8,
      scale: Long = 1000000000L, dampPct: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    val store = new Scratch.FrameStore(edges.sparkSession)
    // materialize the directed edge list BEFORE deriving degrees: the
    // adjacency plan references it twice (degree agg + join), and an
    // upstream edge frame is often itself an expensive projection
    // (e.g. coOccurrence) that must not run once per branch
    val und = store.keep(
      edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
        .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst"))))
    // the degree frame IS the vertex set (undirected graph: deg >= 1),
    // so it also supplies n and the initial ranks — no extra distinct
    // passes over the edge list
    val deg = store.keep(und.groupBy("_src").agg(count(lit(1)).as("_deg")))
    val n = deg.count()
    if (n == 0) {
      store.release()
      return edges.select(col("id_a").as("node_id"), lit(0L).as("pr_q"))
        .where(lit(false))
    }
    // adjacency as a scratch-kept frame, scanned per iteration. (Two
    // measured dead ends, kept out on purpose: repartition+persist of
    // the adjacency — the cache build costs more than iters parquet
    // re-scans here and at cluster scale risks evicting hotter data;
    // and broadcast-joining the rank frame — re-collecting ranks
    // through the driver every round serializes the chain, 2x slower.)
    val adj = store.keep(und.join(deg, "_src"))
    val init = scale / n
    val base = init * (100 - dampPct) / 100
    var pr = deg.select(col("_src").as("node_id"))
      .withColumn("_pr", lit(init))
    // materialize every 4th round only: the rank frame is one row per
    // vertex, so a per-round checkpoint costs more than the bounded
    // (<= 4 join+agg stages) lineage it would cut — same segmenting
    // discipline as Repeat's depth folds
    var it = 0
    while (it < iters) {
      val next = adj.join(pr, adj("_src") === pr("node_id"))
        .select(col("_dst"), expr("_pr div _deg").as("_c"))
        .groupBy(col("_dst"))
        .agg(sum(col("_c")).as("_s"))
        .select(col("_dst").as("node_id"),
          (lit(base) + expr(s"(_s * $dampPct) div 100")).as("_pr"))
      it += 1
      pr = if (it % 4 == 0 && it < iters) store.keep(next) else next
    }
    val out = Scratch.stable(pr.select(col("node_id"), col("_pr").as("pr_q")))
    store.release()
    out
  }

  /** Weighted PageRank over a canonical undirected WEIGHTED edge
    * frame `(id_a, id_b, w)` (long weights >= 1): contribution of `u`
    * to neighbor `v` is `(pr(u) * w(u,v)) div wdeg(u)` with
    * `wdeg = Σ w` — heavier ties carry proportionally more rank. Same
    * integer quantization, same per-iteration join+agg shape and
    * reliability discipline as [[pageRank]]; `pr * w` stays far below
    * Long overflow (pr <= scale = 1e9, practical w << 1e6).
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 8,
      scale: Long = 1000000000L, dampPct: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    val store = new Scratch.FrameStore(edges.sparkSession)
    val und = store.keep(
      edges.select(col("id_a").as("_src"), col("id_b").as("_dst"), col("w"))
        .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst"),
          col("w"))))
    val deg = store.keep(und.groupBy("_src").agg(sum(col("w")).as("_wdeg")))
    val n = deg.count()
    if (n == 0) {
      store.release()
      return edges.select(col("id_a").as("node_id"), lit(0L).as("pr_q"))
        .where(lit(false))
    }
    val adj = store.keep(und.join(deg, "_src"))
    val init = scale / n
    val base = init * (100 - dampPct) / 100
    var pr = deg.select(col("_src").as("node_id"))
      .withColumn("_pr", lit(init))
    var it = 0
    while (it < iters) {
      val next = adj.join(pr, adj("_src") === pr("node_id"))
        .select(col("_dst"), expr("(_pr * w) div _wdeg").as("_c"))
        .groupBy(col("_dst"))
        .agg(sum(col("_c")).as("_s"))
        .select(col("_dst").as("node_id"),
          (lit(base) + expr(s"(_s * $dampPct) div 100")).as("_pr"))
      it += 1
      pr = if (it % 4 == 0 && it < iters) store.keep(next) else next
    }
    val out = Scratch.stable(pr.select(col("node_id"), col("_pr").as("pr_q")))
    store.release()
    out
  }

  /** Multi-source BFS distances over a canonical undirected edge
    * frame: `(node_id, dist)` — the fewest hops from any seed, seeds
    * at 0, vertices unreached within `maxDepth` absent. THE missing
    * primitive under "how far is everything from this set": ego-net
    * radius, contamination blast radius, feature "hops from a trusted
    * seed".
    *
    * Frontier-based: per round ONE equi-join of the adjacency against
    * the CURRENT frontier (not the whole reached set) and one
    * anti-join against the settled distances, so total work is
    * proportional to edges touched — the textbook distributed BFS. All
    * arithmetic is integer hop counts: results are bit-identical at
    * any partitioning and across engines. Frontier and distance frames
    * go through the reliable iterative-pass store; rounds stop early
    * the first time a frontier comes back empty (the per-round count
    * is on the materialized frontier — no extra job).
    */
  /** Deterministic random-walk corpus (DeepWalk — Perozzi et al.,
    * KDD 2014; node2vec with p=q=1): `walksPerNode` walks of `steps`
    * hops from EVERY vertex, the training-sequence generator for
    * skip-gram graph embeddings and the neighborhood sampler GNN
    * pipelines batch by. The classic sampler draws from an RNG —
    * unreplayable distributed; here hop `t` of walk `(s, w)` standing
    * at vertex `u` picks neighbor index
    * `md5(seed:s:w:t:u) mod deg(u)` over u's id-ORDERED adjacency — a
    * seeded hash choice, so the corpus is a pure function of
    * (graph, seed) and replays bit-for-bit on any engine or
    * partitioning (the id-hash membership discipline every sampler
    * here uses). Undirected graphs have no dead ends (the walk can
    * always step back along the edge it came in on), so every walk
    * emits exactly `steps + 1` rows.
    *
    * Scale shape: adjacency ranks + degrees are one window + one agg
    * over the edge frame, then each hop is ONE equi-join of the
    * (start, walk)-keyed frontier against the node-partitioned
    * adjacency — the BFS frontier discipline; the frontier never
    * grows, so cost is `steps` joins each linear in |V|·walksPerNode.
    * Frames go through the iterative-pass store ([[Scratch]]) to cut
    * lineage. Output: `(start_id, walk, step, node)`, step 0 = start.
    */
  def randomWalks(edges: DataFrame, steps: Int, walksPerNode: Int,
      seed: String): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    val spark = edges.sparkSession
    val store = new Scratch.FrameStore(spark)
    val und = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    // adjacency/degree frames carry their own column names: frontier
    // and adj share the und lineage, so same-name joins are ambiguous
    val adj = store.keep(und
      .withColumn("_idx", row_number().over(wAdj).cast("long") - 1)
      .select(col("u").as("_au"), col("v").as("_av"),
        col("_idx").as("_aidx")))
    val deg = store.keep(und.groupBy(col("u"))
      .agg(count(lit(1)).as("_deg"))
      .select(col("u").as("_du"), col("_deg")))
    var frontier = store.keep(und.select(col("u")).distinct()
      .select(col("u").as("start_id"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .withColumn("node", col("start_id")))
    var out = frontier.select(col("start_id"), col("walk"),
      lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val h = conv(substring(md5(concat_ws(":", lit(seed),
        col("start_id"), col("walk"), lit(t), col("node"))), 1, 15),
        16, 10).cast("long")
      frontier = store.keep(frontier
        .join(deg, col("node") === col("_du")).drop("_du")
        .withColumn("_i", pmod(h, col("_deg")))
        .join(adj, col("node") === col("_au") && col("_i") === col("_aidx"))
        .select(col("start_id"), col("walk"), col("_av").as("node")))
      out = out.unionByName(frontier.select(col("start_id"), col("walk"),
        lit(t.toLong).as("step"), col("node")))
    }
    val res = Scratch.stable(out)
    store.release()
    res
  }

  /** [[randomWalks]] with edge-multiplicity-PROPORTIONAL neighbor
    * choice (node2vec/DeepWalk over a weighted projection: an order
    * pair co-occurring in 5 baskets should be walked 5× as often as a
    * single co-occurrence — the unweighted walk underrepresents strong
    * ties and the skip-gram corpus downstream inherits the bias).
    *
    * Deterministic like the unweighted form — no RNG, no alias-table
    * rejection sampling: neighbors of `u` (id-ordered) carry CUMULATIVE
    * weight intervals `[lo, hi)` partitioning `[0, W(u))`, hop t at u
    * draws `md5(seed:start:walk:t:u) mod W(u)` and takes the unique
    * covering interval. Each hop is ONE equi-join of the fixed-size
    * frontier against the node-partitioned adjacency (the interval
    * predicate is a join residual evaluated DURING the equi-match —
    * exactly one adjacency row survives per frontier row, so the
    * frontier never grows). Input edges: `(id_a, id_b, w)` canonical
    * undirected with positive long weights (the
    * [[coOccurrenceWeighted]] frame); W(u) must stay < 2^59 or the
    * draw's modulus would bias (a non-issue for count weights).
    *
    * The contract is VALIDATED, not assumed (fail loudly, never
    * mis-walk): non-positive/null weights, self-loops, or duplicate
    * (u, v) rows — including an edge listed in both orientations —
    * would break the cumulative-interval partition of `[0, W(u))`
    * (overlapping intervals double-draw a neighbor; W(u) = 0 makes
    * `pmod(h, 0)` NULL and silently DROPS the walk mid-stream). One
    * cheap aggregation over the directed adjacency checks all three
    * before the first hop.
    */
  def randomWalksWeighted(edges: DataFrame, steps: Int, walksPerNode: Int,
      seed: String): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    val spark = edges.sparkSession
    val store = new Scratch.FrameStore(spark)
    val und = edges.select(col("id_a").as("u"), col("id_b").as("v"),
        col("w").cast("long").as("w"))
      .unionAll(edges.select(col("id_b").as("u"), col("id_a").as("v"),
        col("w").cast("long").as("w")))
    val chk = und.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("_c"), min(col("w")).as("_mw"))
      .agg(
        coalesce(sum(when(col("_c") > 1, 1L)), lit(0L)).as("_dups"),
        coalesce(sum(when(col("_mw").isNull || col("_mw") <= 0L, 1L)),
          lit(0L)).as("_badw"),
        coalesce(sum(when(col("u") === col("v"), 1L)), lit(0L)).as("_self"))
      .head
    // self-loops first: (u, u) doubles into a duplicate under the
    // two-orientation union, so the root-cause message must win
    require(chk.getLong(2) == 0L, s"randomWalksWeighted: ${chk.getLong(2)} " +
      "self-loop edges — the canonical undirected frame excludes them")
    require(chk.getLong(1) == 0L, s"randomWalksWeighted: ${chk.getLong(1)} " +
      "edges with null or non-positive weight — weights must be positive " +
      "longs (a zero-total node would silently drop its walks)")
    require(chk.getLong(0) == 0L, s"randomWalksWeighted: ${chk.getLong(0)} " +
      "duplicate (u, v) pairs (or an edge listed in both orientations) — " +
      "aggregate multiplicities into `w` first; duplicates corrupt the " +
      "cumulative-interval draw")
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    val adj = store.keep(und
      .withColumn("_hi", sum(col("w")).over(wAdj))
      .select(col("u").as("_au"), col("v").as("_av"),
        (col("_hi") - col("w")).as("_alo"), col("_hi").as("_ahi")))
    val tot = store.keep(und.groupBy(col("u"))
      .agg(sum(col("w")).as("_tw"))
      .select(col("u").as("_du"), col("_tw")))
    var frontier = store.keep(und.select(col("u")).distinct()
      .select(col("u").as("start_id"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("walk"))
      .withColumn("node", col("start_id")))
    var out = frontier.select(col("start_id"), col("walk"),
      lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val h = conv(substring(md5(concat_ws(":", lit(seed),
        col("start_id"), col("walk"), lit(t), col("node"))), 1, 15),
        16, 10).cast("long")
      frontier = store.keep(frontier
        .join(tot, col("node") === col("_du")).drop("_du")
        .withColumn("_r", pmod(h, col("_tw")))
        .join(adj, col("node") === col("_au") &&
          col("_r") >= col("_alo") && col("_r") < col("_ahi"))
        .select(col("start_id"), col("walk"), col("_av").as("node")))
      out = out.unionByName(frontier.select(col("start_id"), col("walk"),
        lit(t.toLong).as("step"), col("node")))
    }
    val res = Scratch.stable(out)
    store.release()
    res
  }

  /** Skip-gram training pairs from a [[randomWalks]] corpus: every
    * ordered (center, context) vertex pair co-occurring within
    * `window` positions of the same walk — the positive examples a
    * DeepWalk/node2vec embedding trainer consumes (the walk is the
    * "sentence", this is its context window). One self-equi-join on
    * the (start, walk) key with the position-distance predicate —
    * output is bounded at `2·window` pairs per walk position by
    * construction, never quadratic in walk length. Duplicate pairs
    * (the walk revisiting a vertex) are counted, not dropped —
    * multiplicity IS the training weight. Output:
    * `(center, context, n)` aggregated pair counts.
    */
  def walkSkipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // Audited r17 (the no-cross-branch-CSE class): this self-join
    // reads a CHECKPOINTED walk frame (randomWalks returns a stable
    // frame), so the two branches re-scan cached blocks, not a
    // recomputed subtree, and AQE broadcasts one side at bench scale.
    // A collect_list + generator one-exchange form was built and
    // measured SLOWER intra-JVM (ProbeAB walk_pairs 0.38 -> 0.60 s:
    // object-agg + interpreted nested HOF cost more than the join) —
    // kept the join.
    val a = walks.select(col("start_id").as("_s"), col("walk").as("_w"),
      col("step").as("_p1"), col("node").as("center"))
    val b = walks.select(col("start_id").as("_s"), col("walk").as("_w"),
      col("step").as("_p2"), col("node").as("context"))
    a.join(b, Seq("_s", "_w"))
      .where(col("_p1") =!= col("_p2") &&
        abs(col("_p1") - col("_p2")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a DIRECTED
    * edge frame — the link-analysis complement of PageRank, and on a
    * bipartite relation (orders→parts, users→domains) the classic
    * two-sided importance score: a hub is good because it points at
    * good authorities and vice versa. The classic formulation
    * L2-normalizes each half-step — irrational values no engine
    * replays bit-for-bit — so like [[pageRank]] this runs the power
    * iteration on an INTEGER grid: scores start at `scale`, each
    * half-step sums the opposite side over the edges and rescales to
    * max = `scale` by `v·scale div max(v)` (floor division, exact) —
    * max-normalization instead of L2, same fixed point direction,
    * bit-identical on any engine or partitioning. Per round: two
    * equi-joins + two aggregations + two 1-row max broadcasts.
    * Output: `(node_id, hub, authority)`, zero-filled for nodes on
    * one side only. Overflow headroom: Σ-scores ≤ maxInDegree·scale,
    * times `scale` ≤ 9.2e18 wants maxInDegree·scale² < 2^63 — at the
    * default scale that is in-degrees below ~9e6; lower `scale` for
    * denser graphs.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, scale: Long = 1000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(scale >= 1L, s"scale must be >= 1, got $scale")
    val spark = edges.sparkSession
    val store = new Scratch.FrameStore(spark)
    val e = store.keep(edges.select(col(srcCol).cast("long").as("_s"),
      col(dstCol).cast("long").as("_d")).distinct())
    // Overflow guard (fail loudly, never diverge): each half-step sums
    // ≤ deg values of magnitude ≤ scale, then rescales by ·scale — the
    // largest intermediate is maxDeg·scale². Spark longs WRAP silently
    // in non-ANSI mode while the DuckDB oracle sums in HUGEINT, so an
    // over-headroom graph would silently hash-diverge instead of
    // erroring. One cheap degree aggregation, once, before iterating.
    // max over an EMPTY degree frame is NULL — an empty graph has
    // maxDeg 0 (and returns empty below), not an NPE.
    val maxDegRow = e.groupBy(col("_d")).agg(count(lit(1)).as("c"))
      .unionAll(e.groupBy(col("_s")).agg(count(lit(1)).as("c")))
      .agg(max(col("c"))).head
    val maxDeg = if (maxDegRow.isNullAt(0)) 0L else maxDegRow.getLong(0)
    require(maxDeg <= Long.MaxValue / scale / scale,
      s"hits: max degree $maxDeg overflows long at scale $scale " +
        s"(need maxDeg * scale^2 < 2^63) — lower `scale` or thin the graph")
    var h = store.keep(e.select(col("_s")).distinct()
      .withColumn("_h", lit(scale)))
    var a: DataFrame = h // overwritten in round 1 (rounds >= 1)
    for (_ <- 1 to rounds) {
      val araw = e.join(h, "_s").groupBy(col("_d"))
        .agg(sum(col("_h")).as("_ar"))
      val maxA = araw.agg(max(col("_ar")).as("_ma"))
      a = store.keep(araw.crossJoin(broadcast(maxA))
        .select(col("_d"), expr(s"_ar * $scale div _ma").as("_a")))
      val hraw = e.join(a, "_d").groupBy(col("_s"))
        .agg(sum(col("_a")).as("_hr"))
      val maxH = hraw.agg(max(col("_hr")).as("_mh"))
      h = store.keep(hraw.crossJoin(broadcast(maxH))
        .select(col("_s"), expr(s"_hr * $scale div _mh").as("_h")))
    }
    val res = Scratch.stable(
      h.select(col("_s").as("node_id"), col("_h").as("hub"))
        .join(a.select(col("_d").as("node_id"), col("_a").as("authority")),
          Seq("node_id"), "full_outer")
        .na.fill(0L, Seq("hub", "authority")))
    store.release()
    res
  }

  def bfsDistances(edges: DataFrame, seeds: Seq[Long],
      maxDepth: Int = 8): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    val empty = edges.select(col("id_a").as("node_id"), lit(0L).as("dist"))
      .where(lit(false))
    if (seeds.isEmpty) return empty
    val store = new Scratch.FrameStore(spark)
    val und = store.keep(
      edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
        .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst"))))
    val seedDf = spark.range(1)
      .select(explode(typedLit(seeds.distinct)).as("node_id"))
    var dist = store.keep(seedDf.select(col("node_id"), lit(0L).as("dist")))
    var frontier = dist.select("node_id")
    var d = 0L
    var exhausted = false
    while (d < maxDepth && !exhausted) {
      d += 1
      val next = store.keep(
        und.join(frontier, und("_src") === frontier("node_id"))
          .select(col("_dst").as("node_id")).distinct()
          .join(dist, Seq("node_id"), "left_anti"))
      if (next.isEmpty) exhausted = true
      else {
        dist = store.keep(
          dist.unionAll(next.select(col("node_id"), lit(d).as("dist"))))
        frontier = next
      }
    }
    val out = Scratch.stable(dist)
    store.release()
    out
  }

  /** Per-source BFS hop distances: like [[bfsDistances]], but keyed by
    * `(src, node_id)` so each seed keeps its OWN distance field instead
    * of the set-minimum. One synchronized frontier round expands ALL
    * sources at once (the composite key rides the same equi-join), so
    * the cost is one join per hop regardless of |seeds| — the shape
    * sampled-source centrality estimators need. Output:
    * `(src, node_id, dist)`; unreached (src, node) pairs absent.
    */
  def bfsDistancesPerSource(edges: DataFrame, seeds: Seq[Long],
      maxDepth: Int = 8): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val spark = edges.sparkSession
    val empty = edges.select(col("id_a").as("src"),
      col("id_b").as("node_id"), lit(0L).as("dist")).where(lit(false))
    if (seeds.isEmpty) return empty
    val store = new Scratch.FrameStore(spark)
    val und = store.keep(
      edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
        .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst"))))
    val seedDf = spark.range(1)
      .select(explode(typedLit(seeds.distinct)).as("src"))
    var dist = store.keep(seedDf.select(col("src"),
      col("src").as("node_id"), lit(0L).as("dist")))
    var frontier = dist.select("src", "node_id")
    var d = 0L
    var exhausted = false
    while (d < maxDepth && !exhausted) {
      d += 1
      val next = store.keep(
        und.join(frontier, und("_src") === frontier("node_id"))
          .select(col("src"), col("_dst").as("node_id")).distinct()
          .join(dist, Seq("src", "node_id"), "left_anti"))
      if (next.isEmpty) exhausted = true
      else {
        dist = store.keep(dist.unionAll(
          next.select(col("src"), col("node_id"), lit(d).as("dist"))))
        frontier = next
      }
    }
    val out = Scratch.stable(dist)
    store.release()
    out
  }

  /** Link-prediction feature table: every NON-edge pair at distance 2
    * with its common-neighbor count and endpoint degrees —
    * `(id_a, id_b, cn, deg_a, deg_b)`, all integers (Jaccard,
    * cosine, preferential-attachment scores are ratios of these;
    * keeping the raw counts keeps the output engine-exact). The
    * candidate set is pairs sharing >= 1 neighbor (the only pairs any
    * common-neighbor score ranks above zero), generated through the
    * capped blocking primitive, so a hub's deg² wedge explosion is
    * block-bounded per task; `maxNeighborDf` drops super-hubs outright
    * (the co-occurrence stop-word discipline — at 100 TB a celebrity
    * node's wedges are noise for link prediction anyway). `minCommon`
    * prunes the long one-shared-neighbor tail before the anti-join.
    */
  def linkPredictionScores(edges: DataFrame, minCommon: Long = 1,
      maxNeighborDf: Int = Int.MaxValue): DataFrame = {
    val deg = degrees(edges)
    // `minCommon` filters AFTER the shared frame (filter and anti-join
    // commute), so every minCommon reads the same cached candidates
    wedgeCnCached(edges, maxNeighborDf)
      .where(col("cn") >= minCommon)
      .join(deg.select(col("node_id").as("id_a"), col("degree").as("deg_a")),
        "id_a")
      .join(deg.select(col("node_id").as("id_b"), col("degree").as("deg_b")),
        "id_b")
      .select("id_a", "id_b", "cn", "deg_a", "deg_b")
  }

  /** Non-adjacent wedge pairs with common-neighbor counts —
    * `(id_a, id_b, cn)` with `id_a < id_b`, every pair at distance
    * exactly 2 (shares >= 1 neighbor, no edge) — THE candidate frame
    * both [[linkPredictionScores]] and [[twoHopStats]] rank/aggregate
    * over. Hub discipline via [[Dedup.boundedKeyPairs]]' `maxKeyDf`;
    * the anti-join runs against ORIENTATION-CANONICALIZED edges (cn
    * pairs are emitted id_a < id_b, so an edge stored as (b, a) must
    * still exclude its pair).
    */
  private def wedgeCn(edges: DataFrame, maxNeighborDf: Int): DataFrame = {
    val und = edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
      .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst")))
    val adj = und.select(col("_dst").as("_w"), col("_src").as("_u")).distinct()
    val cn = Dedup.boundedKeyPairs(adj, Seq("_w"), "_u",
        maxKeyDf = maxNeighborDf)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("cn"))
    val canonEdges = edges.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b"))
    cn.join(canonEdges, Seq("id_a", "id_b"), "left_anti")
  }

  /** [[wedgeCn]] pinned like [[coOccurrenceCached]] (plan-keyed LRU,
    * MEMORY_AND_DISK, eviction unpersists): the wedge-candidate frame
    * of a graph is write-time material shared by the whole
    * link-prediction/fan-out family — link prediction and 2-hop stats
    * over one projection used to regenerate the identical candidate
    * set per query (the r16 "not yet optimized" item).
    */
  def wedgeCnCached(edges: DataFrame, maxNeighborDf: Int = Int.MaxValue): DataFrame = {
    val (e, built) = wedgeCache.getOrBuild((Dedup.planKey(edges), maxNeighborDf)) {
      wedgeCn(edges, maxNeighborDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (built) e.count()
    e
  }

  private final val WedgeCacheMax = 8
  private val wedgeCache =
    ArtifactCache.frames[(String, Int)]("wedgeCn", WedgeCacheMax)

  /** Per-node neighborhood fan-out profile: degree and the count of
    * nodes at distance EXACTLY 2 — `(node_id, degree, n_2hop)`. THE
    * sizing statistic for GNN neighbor sampling and ego-net feature
    * budgets (2-hop fan-out decides whether full neighborhood
    * aggregation fits or needs sampling). Reuses
    * [[linkPredictionScores]]' capped wedge candidates: a distance-2
    * pair is exactly a non-adjacent wedge pair, so n_2hop(u) = the
    * number of such pairs containing u. Same hub discipline via
    * `maxNeighborDf`.
    */
  def twoHopStats(edges: DataFrame,
      maxNeighborDf: Int = Int.MaxValue): DataFrame = {
    // the SHARED cached wedge-candidate frame ([[wedgeCnCached]] —
    // one persisted build serves this and link prediction); the cn
    // counts ride along unread (the grouped count IS the distinct
    // the old form computed separately). One evaluation of the
    // candidates via explode (the 2-way unionAll ran the pair subtree
    // twice — same class as triangleCounts' fix).
    val lp = wedgeCnCached(edges, maxNeighborDf)
    val two = lp.select(explode(array(col("id_a"), col("id_b")))
        .as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("n_2hop"))
    degrees(edges)
      .join(two, Seq("node_id"), "left")
      .select(col("node_id"), col("degree"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
  }

  /** Sampled-source harmonic centrality: `hc_q(v) = Σ_s scale div
    * d(s, v)` over the seed sample (d > 0; the 1/0 term for v ∈ seeds
    * is 0 by the harmonic convention). With seeds a uniform sample,
    * hc_q/(scale·|seeds|) estimates normalized harmonic centrality —
    * the standard sampling estimator (Eppstein-Wang style) with the
    * all-pairs BFS replaced by [[bfsDistancesPerSource]]'s one-round-
    * per-hop composite-key BFS. Integer floor division keeps results
    * bit-identical across engines and partitionings. Output:
    * `(node_id, hc_q)`; nodes unreached by every seed absent.
    */
  def harmonicCentrality(edges: DataFrame, seeds: Seq[Long],
      maxDepth: Int = 8, scale: Long = 1000000000L): DataFrame =
    bfsDistancesPerSource(edges, seeds, maxDepth)
      .where(col("dist") > 0)
      .select(col("node_id"), expr(s"$scale div dist").as("_h"))
      .groupBy(col("node_id"))
      .agg(sum(col("_h")).as("hc_q"))

  /** Personalized PageRank: the restart mass concentrates on `seeds`
    * instead of spreading uniformly — the random-walk-with-restart
    * similarity ranking behind graph-based retrieval ("what's most
    * related to THESE nodes"). Same integer quantization and
    * per-iteration join+agg shape as [[pageRank]]; seeds are query
    * parameters (a bounded literal set, like a search query's terms).
    * Output: `(node_id, ppr_q)` — ppr_q / scale approximates the
    * stationary visit probability from the seed set.
    *
    * Integer recurrence: seeds start with `scale div |seeds|`, others
    * 0; per round `ppr'(v) = restart(v) + (damp% of contributions)`
    * with `restart(v) = (scale div |seeds|) * (100-damp) div 100` for
    * seeds and 0 otherwise.
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
      iters: Int = 6, scale: Long = 1000000000L,
      dampPct: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct in [0,100], got $dampPct")
    val empty = edges.select(col("id_a").as("node_id"), lit(0L).as("ppr_q"))
      .where(lit(false))
    if (seeds.isEmpty) return empty
    val store = new Scratch.FrameStore(edges.sparkSession)
    val und = store.keep(
      edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
        .unionAll(edges.select(col("id_b").as("_src"), col("id_a").as("_dst"))))
    val deg = store.keep(und.groupBy("_src").agg(count(lit(1)).as("_deg")))
    if (deg.isEmpty) { store.release(); return empty }
    val adj = store.keep(und.join(deg, "_src"))
    val init = scale / seeds.size
    val base = init * (100 - dampPct) / 100
    def isSeed(c: org.apache.spark.sql.Column) =
      c.isin(seeds.map(x => x: Any): _*)
    var pr = deg.select(col("_src").as("node_id"))
      .withColumn("_pr", when(isSeed(col("node_id")), lit(init)).otherwise(lit(0L)))
    var it = 0
    while (it < iters) {
      val next = adj.join(pr, adj("_src") === pr("node_id"))
        .select(col("_dst"), expr("_pr div _deg").as("_c"))
        .groupBy(col("_dst"))
        .agg(sum(col("_c")).as("_s"))
        .select(col("_dst").as("node_id"),
          (when(isSeed(col("_dst")), lit(base)).otherwise(lit(0L)) +
            expr(s"(_s * $dampPct) div 100")).as("_pr"))
      it += 1
      pr = if (it % 4 == 0 && it < iters) store.keep(next) else next
    }
    val out = Scratch.stable(pr.select(col("node_id"), col("_pr").as("ppr_q")))
    store.release()
    out
  }

  /** Bounded-round k-core peeling: `rounds` iterations of "drop every
    * vertex whose current degree is < k (with all its edges)", over a
    * canonical undirected edge frame; returns the surviving vertex
    * set `(node_id)`. With `rounds` at or past the peeling depth this
    * IS the k-core (the fixpoint is idempotent — extra rounds are
    * no-ops); a data-independent round budget keeps the plan length
    * deterministic, which is both the oracle contract and the honest
    * cluster discipline — unbounded peeling is O(n) shuffles on a
    * path-shaped graph, and production graph engines cap or batch it
    * the same way.
    *
    * Per round: ONE degree aggregation + two anti-joins against the
    * (small) kill set — all key shuffles; rounds pass through the
    * reliable iterative-pass store every 2nd round to cut lineage.
    * The kill set is a DataFrame (AQE broadcasts it when tiny); no
    * driver-side vertex iteration anywhere.
    */
  def kCoreBounded(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k, rounds must be >= 1, got $k, $rounds")
    val store = new Scratch.FrameStore(edges.sparkSession)
    var und = store.keep(
      edges.select(col("id_a").as("_s"), col("id_b").as("_d"))
        .unionAll(edges.select(col("id_b").as("_s"), col("id_a").as("_d"))))
    var r = 0
    while (r < rounds) {
      val kill = und.groupBy(col("_s")).agg(count(lit(1)).as("_dg"))
        .where(col("_dg") < k).select(col("_s").as("_kv"))
      val next = und
        .join(kill, und("_s") === kill("_kv"), "left_anti")
        .join(kill, und("_d") === kill("_kv"), "left_anti")
      r += 1
      // keep every 2nd round: each unkept round references its input
      // TWICE (degree branch + anti-join branch), so unbounded
      // chaining would double the scan fan-out per round
      und = if (r % 2 == 0 && r < rounds) store.keep(next) else next
    }
    val out = Scratch.stable(
      und.select(col("_s").as("node_id")).distinct())
    store.release()
    out
  }
}

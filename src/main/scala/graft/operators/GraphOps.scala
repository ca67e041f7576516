package graft.operators

import graft.Tables
import org.apache.spark.HashPartitioner
import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operator surface — smile's distinguishing capability (SURVEY §2.i).
  *
  * The reference persists a CSR layout (`loadgraph_regtest.cpp:49-66`:
  * `firstNbr` offsets + `Nbr` adjacency) and runs pointer-chasing BFS over
  * pinned pages (`bfsgraph_regtest.cpp:35-105`). The Spark-native
  * re-expression: edges live in a DataFrame; CSR ≈ a sorted adjacency-list
  * aggregation (+ running-offset window = the `firstNbr` array); traversals
  * are GraphX Pregel programs where each superstep is one shuffle over the
  * edge relation — frontier queues and page pinning disappear.
  *
  * The graph itself is derived deterministically from the `orders` fixture:
  * directed edges `o_custkey → 1 + (o_orderkey % max(c_custkey))`, giving a
  * cyclic multigraph over the customer-key space whose construction is
  * expressible in ANSI SQL (so DuckDB recursive-CTE oracles can check BFS /
  * SSSP / components exactly).
  *
  * Scale: edge derivation is a scan + dedup (one shuffle); Pregel supersteps
  * shuffle messages on vertex id. For a 100 TB edge table, partition edges
  * with `PartitionStrategy.EdgePartition2D` (done below) so each superstep's
  * message exchange is bounded by sqrt(P) replication, and checkpoint the
  * graph every ~10 supersteps to cut lineage.
  *
  * Every GraphX graph is built by [[graphOf]]; the remaining GraphX uses:
  *  - q32/q35: the cached [[toGraph]] graph is smile's load-once,
  *    traverse-many CSR, reused by every traversal over the same edges;
  *  - q33: the Pregel [[pregelCosts]] is the reference the DataFrame
  *    sweep specs (q37, q124-q126) compare against;
  *  - q39: GraphX's strongly-connected-components library routine.
  * Components for the dedup keep-lists (q129/q133/q136) go through
  * [[canonicalIds]].
  *
  * Every iterative DataFrame loop here — the routing sweeps, the k-core
  * and k-truss peels, Louvain, label propagation, PageRank and HITS —
  * runs through [[Fixpoint.run]]: each round's output is cut by an eager
  * `localCheckpoint` (a reliable `checkpoint` every `durableEvery`-th
  * round where a loop takes that argument), the round before is released
  * once the next is cut, and a loop with a convergence signature stops
  * after the first round that leaves the signature unchanged. Only
  * [[betweennessFrom]], whose backward pass reads every forward level,
  * keeps its own lazy cuts.
  */
object GraphOps {

  /** Max customer key = node-id domain size; a 1-row aggregate (metadata
    * derivation, not a data-path collect), held in a trained slot keyed
    * on the customer relation, so a multi-query run (Verify sweeps 11+
    * graph queries) derives the constant once per session instead of
    * rescanning `customer` per query. */
  private[graft] def maxCust(t: Tables): Long =
    GraftCache.trained("GraphOps.maxCust", t.customer, Nil) {
      val r = t.customer.agg(max(col("c_custkey"))).head()
      // max() over zero rows is NULL — fail with a real message instead
      // of an opaque NPE from getLong, for every graph query at once
      require(!r.isNullAt(0),
        s"empty customer fixture at ${t.dir}: node-id domain is empty")
      r.getLong(0)
    }

  /** Directed edge list derived from orders (deduplicated). */
  def directedEdges(t: Tables): DataFrame = {
    val m = maxCust(t)
    t.orders.select(
        col("o_custkey").as("src"),
        (lit(1L) + (col("o_orderkey") % lit(m))).as("dst"))
      .distinct()
  }

  /** Undirected (symmetrized) edge list, deduplicated — for operators
    * where edge multiplicity matters (adjacency, degrees, triangles). */
  def undirectedEdges(t: Tables): DataFrame = {
    val d = directedEdges(t)
    d.union(d.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** Symmetrized edges WITHOUT the final dedup — one full shuffle cheaper.
    * Safe for min-semantics traversals (BFS/SSSP/CC): a duplicate edge
    * (present when both directions exist in the directed set) changes no
    * minimum. Multiplicity-sensitive operators must use undirectedEdges. */
  def symmetrizedEdges(t: Tables): DataFrame = {
    val d = directedEdges(t)
    d.union(d.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The deterministic synthetic edge weight in [1, 7] shared by the
    * routing family (q33/q91/q124/q125/q127/q132): (src·31 + dst) mod 7
    * + 1, computed with the modulus DISTRIBUTED over the product —
    * ((src mod 7)·3 + dst mod 7) mod 7, since 31 ≡ 3 (mod 7) — so it
    * cannot overflow for any nonnegative 64-bit id. The naive multiply
    * throws ARITHMETIC_OVERFLOW under ANSI once src > Long.MaxValue/31
    * ≈ 3e17 — out of reach for dense ids but NOT for the hashed
    * (murmur64) node ids web-scale graphs actually carry. Values are
    * identical to the naive rule for all nonnegative ids; the oracle
    * mirror is SparkEntry's edgeWeightSql — keep the two in sync. */
  private[graft] def edgeWeight(src: Column, dst: Column): Column =
    ((src % 7) * 3 + dst % 7) % 7 + 1

  /** Same rule in JVM arithmetic, for the GraphX edge build. */
  private[graft] def edgeWeightJvm(s: Long, d: Long): Long =
    ((s % 7L) * 3L + d % 7L) % 7L + 1L

  /** The one GraphX graph build: edges placed by
    * [[PartitionStrategy.EdgePartition2D]] at the RDD's own partition
    * count BEFORE the graph is built — same placement as
    * `graph.partitionBy`, but the vertex routing tables are constructed
    * once against the final edge layout instead of being invalidated by a
    * post-construction edge shuffle (the "Joining two VertexPartitions
    * with different indexes is slow" rebuild on every Pregel superstep). */
  private def graphOf(edges: RDD[Edge[Long]]): Graph[Long, Long] = {
    val parts = edges.getNumPartitions
    val strat = PartitionStrategy.EdgePartition2D
    val placed = edges
      .map(e => (strat.getPartition(e.srcId, e.dstId, parts), e))
      .partitionBy(new HashPartitioner(parts))
      .map(_._2)
    Graph.fromEdges(placed, defaultValue = 0L,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** GraphX graph per edge relation, held in a trained slot — the Spark
    * analogue of the reference building its CSR once and traversing it
    * repeatedly (`loadgraph` then N×`bfsgraph`): repeated traversals over
    * the same dataset reuse the partitioned, cached graph instead of
    * re-deriving edges and re-partitioning. A different edge relation
    * unpersists the graph it replaces. */
  private def toGraph(edges: DataFrame): Graph[Long, Long] =
    GraftCache.trained("GraphOps.graph", edges, Nil,
        (g: Graph[Long, Long]) => { g.unpersist(blocking = false); () }) {
      // Partition seam sized by the DATA, not the thread count: every
      // Pregel superstep pays a fixed per-partition task/shuffle cost,
      // so a small graph spread over defaultParallelism partitions is
      // dominated by overhead (measured ~9x on the sf0.1 fixture's
      // ~300k edges at 32 partitions). AQE used to rescue this by
      // coalescing the edge DF's final stage; sizing it explicitly —
      // ~1M edges per partition, floor 1, ceiling defaultParallelism×4
      // so a 100 TB edge set still fans out — keeps the traversal plan
      // right with AQE off. The count runs once per memoized graph.
      val n = edges.count()
      val parts = math.max(1L, math.min(
        spark(edges).sparkContext.defaultParallelism.toLong * 4,
        n / 1000000L + 1)).toInt
      graphOf(edges.select(col("src"), col("dst")).rdd
        .map(r => Edge(r.getLong(0), r.getLong(1), 1L))
        .coalesce(parts))
    }

  /** Hop-capped min-plus Pregel from `source`: after k supersteps a
    * vertex holds the exact min edge-attribute sum over ≤ k-hop paths
    * (bounded Bellman-Ford; hop distance when every attribute is 1).
    * Unreached vertices are dropped. */
  private def pregelCosts(g: Graph[Long, Long], source: Long,
      maxHops: Int): RDD[(VertexId, Long)] =
    g.mapVertices((id, _) => if (id == source) 0L else Long.MaxValue)
      .pregel(Long.MaxValue, maxIterations = maxHops)(
        (_, cost, msg) => math.min(cost, msg),
        t => if (t.srcAttr != Long.MaxValue && t.srcAttr + t.attr < t.dstAttr)
               Iterator((t.dstId, t.srcAttr + t.attr))
             else Iterator.empty,
        (a, b) => math.min(a, b))
      .vertices.filter(_._2 != Long.MaxValue)

  /** Connected components as (id, comp), comp = the smallest vertex id in
    * the component (GraphX label propagation, run to convergence). */
  private def componentsOf(g: Graph[Long, Long]): RDD[(VertexId, VertexId)] =
    g.connectedComponents().vertices

  /** Canonical id per row of the one-column frame `ids`: the minimum of
    * its connected component in the (ia, ib) pair graph, or the id itself
    * when it appears in no pair — the dedup keep-list contract
    * (q129/q133/q136). Output columns: the id column, `canonical_id`. */
  private[graft] def canonicalIds(ids: DataFrame,
      pairs: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val id = ids.columns.head
    val edges = pairs.select(col("ia"), col("ib")).as[(Long, Long)].rdd
      .map { case (a, b) => Edge(a, b, 1L) }
    ids.join(componentsOf(graphOf(edges)).toDF(id, "_comp"), Seq(id), "left")
      .select(col(id), coalesce(col("_comp"), col(id)).as("canonical_id"))
  }

  private def spark(df: DataFrame) = df.sparkSession

  /** CSR-equivalent adjacency build — parity with the `firstNbr`/`Nbr`
    * arrays of `loadgraph_regtest.cpp:49-66`. `nbrs` is the sorted
    * neighbor list (the `Nbr` segment for this node), `degree` its length,
    * and `first_nbr` the running offset (exactly the CSR `firstNbr` entry).
    *
    * The prefix sum is DISTRIBUTED (an unpartitioned window would move
    * every row to one task — the classic 100×-scale killer): nodes are
    * range-bucketed by id (deterministic width, no sampling), each bucket
    * computes its local running sum in parallel, and the per-bucket totals
    * — O(#buckets) rows, metadata scale — are cumulated on the driver and
    * broadcast-joined back as bucket base offsets. */
  def adjacencyBuild(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    adjacencyBuildFrom(spark, undirectedEdges(t), maxCust(t))
  }

  /** Edge-parameterized CSR build (ScaleSmoke runs this on amplified edge
    * sets); `m` bounds the node-id domain for bucket sizing. */
  private[graft] def adjacencyBuildFrom(spark: SparkSession, ue: DataFrame,
      m: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = ue.groupBy(col("src"))
      .agg(
        count(lit(1)).as("degree"),
        concat_ws(",", sort_array(collect_list(col("dst")))).as("nbrs"))
      // feeds two passes (bucket totals + local prefix); cache so the
      // edge shuffle + aggregation runs once
    GraftCache.persisted("GraphOps.adj", adj)
    val nBuckets = math.max(spark.sparkContext.defaultParallelism, 1)
    val width = math.max(1L, (m + nBuckets) / nBuckets) // ceil((m+1)/buckets)
    val bucketed = adj.withColumn("bucket", (col("src") / lit(width)).cast("long"))
    // pass 1: per-bucket degree totals → exclusive cumulative base offsets
    // (≤ #buckets rows on the driver — same metadata scale as maxCust)
    var acc = 0L
    val offsetRows = bucketed.groupBy(col("bucket")).agg(sum(col("degree")).as("bsum"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .map { case (b, s) => val base = acc; acc += s; (b, base) }.toSeq
    import spark.implicits._
    val offsets = offsetRows.toDF("bucket", "bucket_base")
    // pass 2: per-bucket local prefix sums, parallel across buckets
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("src"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("local_off", coalesce(sum(col("degree")).over(wLocal), lit(0L)))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("src"), (col("bucket_base") + col("local_off")).as("first_nbr"),
        col("degree"), col("nbrs"))
      .orderBy(col("src"))
  }

  /** Per-node in/out degree over the directed graph — parity with the
    * degree derivation of `bfsgraph_regtest.cpp:48-86`. */
  def degrees(spark: SparkSession, dir: String): DataFrame = {
    val de = directedEdges(Tables(spark, dir))
    val out = de.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = de.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("node"))
  }

  /** BFS hop distance from node 1, ≤ `maxHops` supersteps — parity with
    * `bfsgraph_regtest.cpp:35-105`. Pregel replaces the frontier queue:
    * superstep k settles every vertex at hop k (each superstep = one
    * message shuffle over the edge relation). Unreached vertices are
    * dropped (smile marks only reached nodes, `bfsgraph_regtest.cpp:96-99`). */
  def bfs(spark: SparkSession, dir: String, source: Long = 1L,
      maxHops: Int = 10): DataFrame = {
    import spark.implicits._
    pregelCosts(toGraph(symmetrizedEdges(Tables(spark, dir))), source, maxHops)
      .toDF("node", "dist")
      .orderBy(col("node"))
  }

  /** BFS as a one-source call of the unweighted DataFrame sweep behind
    * [[multiSourceBfs]] — the DataFrame-only path SURVEY §7 names for
    * when GraphX RDD conversion costs dominate. Same semantics (and
    * oracle) as the Pregel [[bfs]]; an isolated source yields {source → 0}. */
  def bfsFrontier(spark: SparkSession, dir: String, source: Long = 1L,
      maxHops: Int = 10): DataFrame =
    multiSourceCostsFrom(spark, hopEdges(Tables(spark, dir)), Seq(source),
        maxHops)
      .select(col("node"), col("cost").as("dist"))
      .orderBy(col("node"))

  /** Weighted SSSP (the reference README's stated "routing" purpose,
    * `README.md:4`, never implemented there). Edge weight is the
    * deterministic `((src*31 + dst) % 7) + 1` so the oracle can recompute
    * it. Bounded Bellman-Ford: after k supersteps the vertex value is the
    * exact min cost over ≤ k-hop paths, matching the hop-capped oracle. */
  def sssp(spark: SparkSession, dir: String, source: Long = 1L,
      maxHops: Int = 8): DataFrame = {
    import spark.implicits._
    val edges = symmetrizedEdges(Tables(spark, dir))
      .select(col("src"), col("dst")).rdd.map { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        Edge(s, d, edgeWeightJvm(s, d))
      }
    pregelCosts(graphOf(edges), source, maxHops)
      .toDF("node", "cost")
      .orderBy(col("node"))
  }

  /** Routing: weighted shortest path WITH path reconstruction — the
    * reference README's stated purpose (`README.md:4`). Level-synchronous
    * DP over hop count, one row of (cost, path, pk) per vertex per level;
    * ties broken by lexicographically smallest path (via the zero-padded
    * `pk` sort key) so the result is deterministic. Costs must equal the
    * oracle-checked q33 SSSP (asserted in tests); paths are returned as
    * "a->b->c" strings.
    *
    * State discipline: per-vertex state is the path itself — O(maxHops)
    * ids, a CONSTANT bound independent of graph size, not O(V). A pure
    * parent-pointer form (O(1)/vertex + post-hoc chain walk) is NOT
    * semantically sufficient here: hop-capped distances break prefix
    * optimality (the optimal ≤8-hop path to v may route through a
    * suboptimal-but-shorter prefix at u whenever u's own optimum busts
    * the hop budget), so exact reconstruction needs hop-INDEXED parents —
    * O(maxHops) state per vertex, the same bound as carrying the path.
    * Given equal asymptotics, carrying the output payload wins: no
    * second reconstruction pass, and the per-level merge is a codegen'd
    * (cost, pk) window sort instead of interpreted per-message list
    * compares (the previous GraphX form). The window is partitioned by
    * vertex (never global).
    * This DP is the exact shape of the DuckDB oracle's unrolled levels,
    * so results are bit-identical by construction. */
  def ssspPaths(spark: SparkSession, dir: String, source: Long = 1L,
      maxHops: Int = 8): DataFrame =
    multiSourcePaths(spark, dir, Seq(source), maxHops)
      .select(col("node"), col("cost"), col("path"))
      .orderBy(col("node"))

  /** Batched OD routing WITH path reconstruction — q124's one-sweep
    * multi-source batching and q91's deterministic path argmin in ONE
    * operator (what a production routing service actually returns: the
    * route, not just its cost). The DP state carries `origin`, and the
    * per-level merge window partitions by (origin, node), so k origins
    * ride one edges-join per superstep exactly like [[multiSourceCosts]];
    * all q91 state-discipline notes apply per origin. */
  def multiSourcePaths(spark: SparkSession, dir: String,
      sources: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L),
      maxHops: Int = 8): DataFrame =
    multiSourcePathsFrom(spark, weightedEdges(Tables(spark, dir)), sources,
      maxHops)

  /** Same, over an arbitrary weighted edge relation (src, dst, w) —
    * the ScaleSmoke entry point. */
  def multiSourcePathsFrom(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], maxHops: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ue = edges.persist()
    try {
      val byNode = Window.partitionBy(col("origin"), col("node"))
        .orderBy(col("cost"), col("pk"))
      // pk pad width 19 covers the full non-negative Long id domain:
      // lpad TRUNCATES (not just pads) in both Spark and DuckDB, so a
      // narrower pad would silently corrupt the "lexicographically
      // smallest path" tie-break for ids >= 10^width (large-SF custkeys)
      val init = sources.toDF("origin").select(
        col("origin"), col("origin").as("node"), lit(0L).as("cost"),
        col("origin").cast("string").as("path"),
        lpad(col("origin").cast("string"), 19, "0").as("pk"))
      val (state, _) = Fixpoint.run(init, maxHops) { (state, _) =>
        val expanded = state.alias("s")
          .join(ue.alias("e"), col("s.node") === col("e.src"))
          .select(col("s.origin"), col("e.dst").as("node"),
            (col("s.cost") + col("e.w")).as("cost"),
            concat(col("s.path"), lit("->"),
              col("e.dst").cast("string")).as("path"),
            concat(col("s.pk"), lit("."),
              lpad(col("e.dst").cast("string"), 19, "0")).as("pk"))
        state.union(expanded)
          .withColumn("rn", row_number().over(byNode))
          .filter(col("rn") === 1).drop("rn")
      }
      state.select(col("origin"), col("node"), col("cost"), col("path"))
        .orderBy(col("origin"), col("node"))
    } finally ue.unpersist()
  }

  /** Batched point-to-point routing — the reference README's literal use
    * case ("Graph database for routing") as a production routing engine
    * would serve it: MANY origin→destination queries answered in ONE
    * graph traversal. A multi-source Bellman-Ford carries the origin as a
    * state column, so k sources cost one edges-join per superstep on a
    * state of (sources × reached nodes) rows instead of k separate
    * traversals — at cluster scale, batching OD queries across one
    * relaxation sweep is what makes a routing service throughput-bound
    * rather than latency×k-bound. Same deterministic edge weight and hop
    * cap as q33, so the hop-capped recursive-CTE oracle replays it
    * exactly; full-state relaxation each round keeps the invariant
    * "after k rounds: exact min cost over ≤ k-hop paths per origin". */
  def p2pRouting(spark: SparkSession, dir: String, maxHops: Int = 8): DataFrame = {
    val sources = Seq(1L, 2L, 3L, 4L, 5L)
    val dsts = Seq(10L, 20L, 30L, 40L, 50L)
    multiSourceCosts(spark, dir, sources, maxHops)
      .filter(col("node").isin(dsts: _*))
      .select(col("origin").as("src"), col("node").as("dst"), col("cost"))
      .orderBy(col("src"), col("dst"))
  }

  /** Undirected edge relation with DATA-DERIVED weights: each directed
    * edge carries a toll read from the fixture itself — the originating
    * order's total price in cents mod 9, plus 1 (a 1..9 toll) —
    * min-reduced over the orders that map to the same (src, dst) pair
    * and over the two directions of the symmetrized edge, so the weight
    * relation is a well-defined undirected function of the data. Shared
    * by q132 (routing) and q134 (closeness). */
  private[graft] def dataWeightedEdges(t: Tables): DataFrame = {
    val m = maxCust(t)
    val fwd = t.orders.select(
      col("o_custkey").as("src"),
      (lit(1L) + (col("o_orderkey") % lit(m))).as("dst"),
      (lit(1L) + (round(col("o_totalprice") * 100).cast("long") % lit(9L)))
        .as("w"))
    val sym = fwd.union(
      fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    sym.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
  }

  /** Batched OD routing over DATA-DERIVED edge weights — the proof that
    * the sweep is weight-agnostic end to end. Every other routing query
    * uses the arithmetic ((src*31+dst)%7)+1 stand-in; here the tolls are
    * [[dataWeightedEdges]]'s fixture-derived weights. Same hop-capped
    * multi-source Bellman-Ford and origin-batch → dst-batch shape as
    * q124; the oracle recomputes the same toll from the same column. */
  def dataWeightedRouting(spark: SparkSession, dir: String,
      maxHops: Int = 8): DataFrame = {
    val sources = Seq(1L, 2L, 3L, 4L, 5L)
    val dsts = Seq(10L, 20L, 30L, 40L, 50L)
    val we = dataWeightedEdges(Tables(spark, dir))
    multiSourceCostsFrom(spark, we, sources, maxHops)
      .filter(col("node").isin(dsts: _*))
      .select(col("origin").as("src"), col("node").as("dst"), col("cost"))
      .orderBy(col("src"), col("dst"))
  }

  /** Sampled weighted closeness centrality (q134): ONE batched hop-capped
    * sweep from k rule-derived sources over the data-weighted edge
    * relation, then a per-origin aggregate — how cheaply each sampled
    * node reaches its hop-horizon neighborhood. The classic definition
    * c(s) = (|reached|-1) / Σ d(s,·) is computed here over min costs of
    * ≤ maxHops-hop paths (the cap is what makes the recursive-CTE oracle
    * terminate identically; see multiSourceBfs).
    *
    * Sampling is the standard scale posture for closeness (exact
    * all-pairs is O(V·E)): k sources per sweep, each additional batch
    * amortizing the same edge scans — the q126 batching argument applied
    * to a centrality workload. Sources follow `1 + (i·53) mod numNodes`
    * (deduplicated), a different stride than q126 so the two queries
    * exercise different slices.
    *
    * Float discipline: `closeness` is ONE division of two exact BIGINTs
    * ((reached-1) / sum_cost) — IEEE-identical in any engine, no
    * accumulation-order sensitivity. An isolated source (reached = 1,
    * sum_cost = 0) reports closeness 0.0 by convention. */
  def closenessCentrality(spark: SparkSession, dir: String, k: Int = 16,
      maxHops: Int = 8): DataFrame = {
    val t = Tables(spark, dir)
    val m = maxCust(t)
    val sources = (0 until k).map(i => 1L + (i.toLong * 53L) % m).distinct
    closenessFrom(spark, dataWeightedEdges(t), sources, maxHops)
  }

  /** Closeness aggregation over an arbitrary weighted edge relation —
    * factored out so specs can drive it with synthetic graphs (e.g. an
    * isolated source, which must report closeness 0.0). */
  private[graft] def closenessFrom(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], maxHops: Int): DataFrame = {
    multiSourceCostsFrom(spark, edges, sources, maxHops)
      .groupBy(col("origin"))
      .agg(count(lit(1)).as("reached"), sum(col("cost")).as("sum_cost"))
      .select(col("origin"), col("reached"), col("sum_cost"),
        when(col("sum_cost") === 0, lit(0.0))
          .otherwise((col("reached") - 1).cast("double") /
            col("sum_cost").cast("double"))
          .as("closeness"))
      .orderBy(col("origin"))
  }

  /** Min cost over ≤ maxHops-hop paths from every source to every reached
    * node — the shared multi-source Bellman-Ford sweep behind batched
    * routing (q124) and the landmark index build (q125). */
  def multiSourceCosts(spark: SparkSession, dir: String,
      sources: Seq[Long], maxHops: Int): DataFrame =
    multiSourceCostsFrom(spark, weightedEdges(Tables(spark, dir)), sources,
      maxHops)

  /** Same, over an arbitrary weighted edge relation (src, dst, w).
    * `durableEvery` = N > 0 makes every Nth superstep a reliable
    * checkpoint (checkpoint dir required; see [[Fixpoint]]). The sweep
    * stops before `maxHops` once a round adds no (origin, node) row and
    * lowers no cost — the frontier-empty exit of a BFS, read off one
    * (count, sum) job over the cut state per round: rows are never
    * dropped and a row's cost never rises, so an unchanged pair means
    * every later round would reproduce this state. */
  def multiSourceCostsFrom(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], maxHops: Int, durableEvery: Int = 0): DataFrame = {
    import spark.implicits._
    val ue = edges.persist()
    // try/finally: a mid-sweep failure (e.g. the reliable-checkpoint path)
    // must not leak the cached edge relation for the session
    try {
      Fixpoint.run(sources.map(s => (s, s, 0L)).toDF("origin", "node", "cost"),
          maxHops, durableEvery,
          signature = Some((s: DataFrame) =>
            s.agg(count(lit(1)), coalesce(sum(col("cost")), lit(0L)))
              .as[(Long, Long)].head()),
          initialSignature = Some((sources.distinct.size.toLong, 0L))) {
        (state, _) =>
          val relaxed = state.alias("s")
            .join(ue.alias("e"), col("s.node") === col("e.src"))
            .select(col("s.origin"), col("e.dst").as("node"),
              (col("s.cost") + col("e.w")).as("cost"))
          state.union(relaxed)
            .groupBy(col("origin"), col("node"))
            .agg(min(col("cost")).as("cost"))
      }._1
    } finally ue.unpersist()
  }

  /** Multi-source unweighted BFS batch — the literal workload shape of the
    * reference's flagship regtest: `bfsgraph_regtest.cpp:35-42` runs
    * `numRuns = 100` BFS traversals from `rand() % numNodes` sources over
    * ONE loaded CSR. The Spark-native answer batches all k sources into ONE
    * multi-source sweep (weight-1 Bellman-Ford relaxation ≡ BFS hop
    * settling), so the edge relation is scanned maxHops times total instead
    * of k × maxHops times — at cluster scale the batch turns a
    * latency×k-bound workload into one throughput-bound sweep. Sources
    * follow the deterministic arithmetic rule `1 + (i·37) mod numNodes`
    * (the replayable analogue of the reference's `rand() % numNodes`), so
    * the recursive-CTE oracle (SparkEntry `q126_multi_source_bfs`)
    * regenerates the exact source set arithmetically from the fixture.
    *
    * Semantics (matching q124/q125 phrasing): output is the exact min hop
    * distance over ≤ `maxHops`-hop paths per origin — nodes farther than
    * `maxHops` hops from a source are absent from that origin's slice
    * (the reference regtest runs to queue exhaustion; the hop cap is what
    * makes the DuckDB recursive-CTE oracle replay terminate identically).
    * The effective source count is `|distinct sources| ≤ k`: the rule can
    * collide when gcd(37, numNodes) shrinks the cycle, so k is an upper
    * bound — the oracle applies the same `DISTINCT`, deriving the same
    * set. */
  def multiSourceBfs(spark: SparkSession, dir: String, k: Int = 100,
      maxHops: Int = 10): DataFrame = {
    val t = Tables(spark, dir)
    val m = maxCust(t) // maxCust rejects empty fixtures with a clear error
    require(m > 0, s"nonpositive max c_custkey $m at $dir: source rule needs m > 0")
    val sources = (0 until k).map(i => 1L + (i.toLong * 37L) % m).distinct
    multiSourceCostsFrom(spark, hopEdges(t), sources, maxHops)
      .select(col("origin"), col("node"), col("cost").as("dist"))
      .orderBy(col("origin"), col("node"))
  }

  /** Symmetrized edges at weight 1 — the unweighted sweep's relation,
    * under which min cost is min hop count. */
  private def hopEdges(t: Tables): DataFrame =
    symmetrizedEdges(t).select(col("src"), col("dst"), lit(1L).as("w"))

  /** Symmetrized edges at the deterministic [[edgeWeight]] — the weighted
    * routing sweep's relation (q91/q124/q125/q127). */
  private def weightedEdges(t: Tables): DataFrame =
    symmetrizedEdges(t).select(col("src"), col("dst"),
      edgeWeight(col("src"), col("dst")).as("w"))

  /** Landmark distance index + triangle-inequality bounds — the routing
    * INDEX the reference schema declares but never builds
    * (`DataStructureType::E_INDEX`, `schema.h:63-68`): precompute
    * dist(landmark, ·) for a few landmarks with one multi-source sweep,
    * then bound ANY origin→destination cost as
    * min_L(d(s,L) + d(L,t)) without touching the graph again — the ALT
    * (A*, landmarks, triangle inequality) preprocessing pattern. The
    * index is (landmarks × nodes) rows — broadcastable metadata next to
    * a 100 TB edge set; each od batch is two index joins. Output carries
    * the exact hop-capped cost next to the landmark upper bound (both
    * engines replay both; on true distances the bound is ≥ the exact
    * cost — spec'd with a deeper hop cap, since hop-capping itself can
    * locally break the triangle inequality). */
  def landmarkBounds(spark: SparkSession, dir: String, maxHops: Int = 8): DataFrame = {
    val landmarks = Seq(7L, 77L)
    val sources = Seq(1L, 2L, 3L, 4L, 5L)
    val dsts = Seq(10L, 20L, 30L, 40L, 50L)
    // the index: d(L, n) for every node within the hop horizon (the graph
    // is symmetrized, so d(L, n) = d(n, L)). The sweep result is already
    // a cut, so the two filters below re-read it without re-traversing —
    // no extra persist needed.
    val index = multiSourceCosts(spark, dir, landmarks, maxHops)
      .select(col("origin").as("lm"), col("node"), col("cost"))
    val toSrc = index.filter(col("node").isin(sources: _*))
      .select(col("lm"), col("node").as("src"), col("cost").as("d_ls"))
    val toDst = index.filter(col("node").isin(dsts: _*))
      .select(col("lm"), col("node").as("dst"), col("cost").as("d_lt"))
    val upper = toSrc.join(toDst, Seq("lm"))
      .groupBy(col("src"), col("dst"))
      .agg(min(col("d_ls") + col("d_lt")).as("lm_upper"))
    val exact = multiSourceCosts(spark, dir, sources, maxHops)
      .filter(col("node").isin(dsts: _*))
      .select(col("origin").as("src"), col("node").as("dst"), col("cost"))
    exact.join(upper, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("cost"), col("lm_upper"))
      .orderBy(col("src"), col("dst"))
  }

  /** Triangle count with DEGREE ORIENTATION: every edge is directed from
    * its (degree, id)-smaller endpoint to the larger, so wedges are
    * enumerated only at each triangle's lowest-degree vertex — per-vertex
    * wedge work is bounded by the out-degree, which the orientation caps
    * at O(√m) on any graph (the classic compact-forward bound). On a
    * skewed graph (one celebrity node of degree d) the naive wedge join
    * enumerates O(d²) pairs at the hub; oriented, the hub has near-zero
    * OUT-degree and its wedges are charged to its low-degree neighbors.
    * Each triangle x<y<z (in (deg,id) order) is counted exactly once: as
    * the wedge (y,z) at x closed by the oriented edge y→z. Same count as
    * the unoriented formulation — the SQL oracle is unchanged. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame =
    triangleCountFrom(undirectedEdges(Tables(spark, dir)))

  /** Same, over an arbitrary undirected edge relation (ScaleSmoke runs
    * this on amplified edge sets). */
  private[graft] def triangleCountFrom(ue: DataFrame): DataFrame = {
    val ce = ue.filter(col("src") < col("dst"))
    val deg = ce.select(col("src").as("node"))
      .union(ce.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = ce
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    // ce is canonical (src < dst), so id already tie-breaks equal degrees
    val oriented = withDeg.select(
      when(col("ds") <= col("dd"), col("src")).otherwise(col("dst")).as("u"),
      when(col("ds") <= col("dd"), col("dst")).otherwise(col("src")).as("v"))
    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("a"), col("v").as("c"))
    val e3 = oriented.select(col("u").as("b"), col("v").as("c"))
    e1.join(e2, "a").filter(col("b") =!= col("c"))
      .join(e3, Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-vertex local clustering coefficient (q147): for every node, its
    * triangle count, degree, and the coefficient 2·tri/(deg·(deg−1)) in
    * exact per-mille integer arithmetic — the standard "how clique-like
    * is this node's neighborhood" metric (community detection's first
    * feature). Triangle enumeration reuses [[triangleCountFrom]]'s
    * DEGREE ORIENTATION — wedges are generated only at each triangle's
    * (deg,id)-lowest vertex, capping per-vertex wedge work at O(√m) on
    * any graph — but keeps the three corner ids per closed wedge and
    * charges the triangle to each corner with one explode + count (the
    * per-node attribution costs one extra shuffle over the count-only
    * form, on triangle rows — far below edge scale). Zero-triangle and
    * degree-1 nodes keep a row via the left join from the degree
    * relation. */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame =
    clusteringCoefficientFrom(undirectedEdges(Tables(spark, dir)))

  /** Same, over an arbitrary undirected edge relation. */
  private[graft] def clusteringCoefficientFrom(ue: DataFrame): DataFrame = {
    val ce = ue.filter(col("src") < col("dst"))
    // `deg` feeds the orientation AND the final join; `oriented` feeds
    // all three legs of the wedge self-join
    val deg = GraftCache.persisted("GraphOps.ccDeg",
      ce.select(col("src").as("node"))
      .union(ce.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val withDeg = ce
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    val oriented = GraftCache.persisted("GraphOps.ccOri", withDeg.select(
      when(col("ds") <= col("dd"), col("src")).otherwise(col("dst")).as("u"),
      when(col("ds") <= col("dd"), col("dst")).otherwise(col("src")).as("v")))
    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("a"), col("v").as("c"))
    val e3 = oriented.select(col("u").as("b"), col("v").as("c"))
    val triCorners = e1.join(e2, "a").filter(col("b") =!= col("c"))
      .join(e3, Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
    val triPerNode = triCorners.groupBy(col("node"))
      .agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("cc_pm",
        when(col("deg") >= 2,
          expr("2000 * n_tri div (deg * (deg - 1))")).otherwise(lit(0L)))
      .orderBy(col("node"))
  }

  /** Two-hop neighborhoods (q165): per node, the count of DISTINCT
    * nodes at graph distance exactly two — the friend-of-friend
    * candidate pool sizing query recommendation pipelines run before
    * choosing an expansion strategy. Exactly-two means direct neighbors
    * and the node itself are excluded (one anti-join against the edge
    * relation).
    *
    * Scale shape: the wedge join's fan-out is Σ deg(b)² over mid nodes —
    * the classic FOF explosion. The registered query wires the
    * [[BucketGuard]] discipline the dedup funnels use: mid nodes whose
    * degree exceeds `midDegCap` are excluded from wedge generation (one
    * anti join of the a→mid side against the tiny hot-mid list — empty
    * on a healthy graph, so AQE broadcasts it) and their skipped mass is
    * reported in two summary columns, `n_capped_mids` (hot mids) and
    * `n_capped_wedges` (Σ deg·(deg−1) over them — the ordered 2-paths
    * the cap refused to materialize). Under the cap the result is exact
    * (the fixture graph's max degree is ~34, far below the 256 default),
    * and above it per-hub cost is bounded by cap² instead of the hub's
    * true deg². Joins shuffle on node ids; nothing is quadratic in the
    * NODE count, only in per-(capped)-mid degree. */
  def twoHopCounts(spark: SparkSession, dir: String): DataFrame =
    twoHopCountsFrom(undirectedEdges(Tables(spark, dir)), TwoHopMidDegCap)

  /** Registered mid-degree bound for q165 — mirrored literally in the
    * oracle SQL; keep the two in sync. */
  private[graft] val TwoHopMidDegCap = 256

  /** Same, over an arbitrary symmetrized edge relation. `midDegCap`
    * bounds the degree of mid (wedge-center) nodes: hubs above the cap
    * contribute NO wedges (their skipped mass is reported instead), so
    * a power-law hub cannot make one task quadratic in its degree. */
  private[graft] def twoHopCountsFrom(
      ue: DataFrame, midDegCap: Int = Int.MaxValue): DataFrame = {
    // `hot` feeds the skipped-mass summary and the anti-join; it stays
    // distributed (a power-law graph's >cap hub set can be millions)
    val hot = GraftCache.persisted("GraphOps.twoHopHot",
      ue.groupBy(col("src").as("b")).agg(count(lit(1)).as("_mdeg"))
        .filter(col("_mdeg") > midDegCap))
    val capped = hot.agg(
      count(lit(1)).as("n_capped_mids"),
      coalesce(sum(col("_mdeg") * (col("_mdeg") - lit(1L))), lit(0L))
        .as("n_capped_wedges"))
    val e1 = ue.select(col("src").as("a"), col("dst").as("b"))
      .join(hot.select(col("b")), Seq("b"), "left_anti")
    val e2 = ue.select(col("src").as("b"), col("dst").as("c"))
    val two = e1.join(e2, Seq("b"))
      .filter(col("c") =!= col("a"))
      .select(col("a"), col("c")).distinct()
    val fof = two.join(
      ue.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"), "left_anti")
    val nodes = ue.select(col("src").as("node")).distinct()
    nodes.join(
        fof.groupBy(col("a").as("node")).agg(count(lit(1)).as("n_two_hop")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("n_two_hop"), lit(0L)).as("n_two_hop"))
      .crossJoin(broadcast(capped))
      .orderBy(col("node"))
  }

  /** Graph reciprocity (q172): the fraction of directed edges whose
    * reverse edge also exists — 1.0 for mutual-follow graphs, ≈0 for
    * strict hierarchies; the one-number directionality summary read
    * before deciding whether symmetrization loses information. Exact
    * integer counts (edges, reciprocated) plus the double ratio (one
    * division over exact longs, IEEE-identical like q134's closeness).
    * One self-semi-join on the reversed key — edge-keyed shuffle, no
    * iteration. */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val de = directedEdges(Tables(spark, dir))
    val recip = de.join(
      de.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    de.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .withColumn("reciprocity",
        col("n_reciprocated").cast("double") / col("n_edges").cast("double"))
  }

  /** Degree assortativity (q152): the Pearson correlation of endpoint
    * degrees over the symmetrized edge list — THE one-number summary of
    * whether hubs attach to hubs (social graphs) or to leaves
    * (infrastructure graphs), and the first skew diagnostic to read
    * before choosing a partitioning for an unknown graph. All five
    * moment sums are exact BIGINTs (degrees are bounded by n, so Σx²
    * fits a long comfortably below 2^63 at any realistic scale); the
    * final coefficient is one double expression over those exact
    * integers — IEEE-identical across engines, like the q134 closeness
    * division.
    *
    * Scale shape: one degree aggregate, one user-dim join per endpoint
    * (degree relation is node-scale, joined on the edge's own key), one
    * global 1-row moment aggregate. No windows, no iteration. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativityFrom(undirectedEdges(Tables(spark, dir)))

  /** Same, over an arbitrary symmetrized edge relation. */
  private[graft] def degreeAssortativityFrom(ue: DataFrame): DataFrame = {
    val deg = ue.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val withDegs = ue
      .join(deg.select(col("node").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("y")), "dst")
    withDegs.agg(
        count(lit(1)).as("n_edges"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"),
        sum(col("x") * col("y")).as("sum_xy"))
      .withColumn("assortativity",
        (col("n_edges") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .cast("double")
          / sqrt((col("n_edges") * col("sum_x2") - col("sum_x") * col("sum_x"))
            .cast("double"))
          / sqrt((col("n_edges") * col("sum_y2") - col("sum_y") * col("sum_y"))
            .cast("double")))
  }

  /** k-core peel (q153): synchronous rounds of "drop every node with
    * residual degree < k" at k=2, run TO FIXPOINT — the production
    * degeneracy pass — emitting each surviving node with its residual
    * degree: the ordering primitive community detection and
    * graph-sparsification pipelines run first. Convergence is detected
    * by a per-round empty-delta check: the probe is a count over the
    * round's cut edge set, and a round that drops no node — the edge
    * count is unchanged, and every dropped node owns ≥1 edge — ends the
    * loop. The DuckDB oracle unrolls the peel past the fixture's
    * realized round count (post-fixpoint rounds are the identity, so a
    * longer unroll is exact; the generator adds slack rounds on top of
    * the realized ones).
    *
    * Scale shape per round: one degree aggregate + two semi-joins to
    * keep edges whose BOTH endpoints survive — all keyed by node/edge
    * id, map-side combinable, nothing global; the loop depth is the
    * graph's peel depth (≤ its degeneracy ordering length), not a
    * guess. */
  def kCore(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val (df, realized) = kCoreWithRounds(undirectedEdges(Tables(spark, dir)), k)
    require(realized <= KCoreOracleUnroll,
      s"k-core peel realized $realized rounds but the q153 oracle unrolls " +
      s"only $KCoreOracleUnroll — the ORACLE is exhausted, not the " +
      "operator wrong; raise GraphOps.KCoreOracleUnroll")
    df
  }

  /** Same, over an arbitrary symmetrized edge relation. `rounds` bounds
    * the loop for callers that want the pinned-round variant — the peel
    * is monotone, so a bound can only truncate an unconverged peel,
    * never change a converged one (early exit at fixpoint makes
    * bounded and unbounded calls identical whenever the bound covers
    * the peel depth). */
  private[graft] def kCoreFrom(ue: DataFrame, k: Int = 2,
      rounds: Int = Int.MaxValue): DataFrame =
    kCoreWithRounds(ue, k, rounds)._1

  /** Oracle unroll depths for the peel families, referenced by BOTH the
    * operators' fail-fast guards and SparkEntry's oracle generators (the
    * q158 `PqTrainIters` pattern — one constant, no desynchronization).
    * A fixture whose realized peel depth exceeds the unroll makes the
    * ORACLE wrong, not the operator: the registered queries throw with
    * that diagnosis instead of surfacing an inscrutable hash mismatch.
    * The loop's final confirming round is the identity, so realized ≤
    * unroll is exact. */
  val KCoreOracleUnroll  = 6
  val KTrussOracleUnroll = 4

  /** [[kCoreFrom]] plus the realized round count (the fail-fast guards
    * and unroll-sufficiency specs read the count). */
  private[graft] def kCoreWithRounds(ue: DataFrame, k: Int = 2,
      rounds: Int = Int.MaxValue): (DataFrame, Int) = {
    val (edges, round) = Fixpoint.run(ue.select(col("src"), col("dst")),
        rounds, signature = Some((e: DataFrame) => e.count())) { (edges, _) =>
      val keep = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("node"))
      edges
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }
    (edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("residual_deg"))
      .orderBy(col("node")), round)
  }

  /** k-truss decomposition (q175) — the edge-strength sibling of the
    * q153 node peel: keep only edges supported by ≥ k−2 triangles among
    * SURVIVING edges, iterated to fixpoint (k=3 registered: every
    * surviving edge closes at least one surviving triangle — the
    * community-core subgraph link-recommendation and cohesion pipelines
    * extract). Output: surviving canonical (src < dst) edges with their
    * converged support count.
    *
    * Per round, support is computed by enumerating triangles ONCE over
    * the current edge set under a fresh (deg,id) DEGREE ORIENTATION —
    * q34's rule, recomputed over SURVIVING edges each round — so wedges
    * are generated only at each triangle's lowest-degree corner and
    * per-vertex wedge work is bounded by orientation out-degree (O(√m)
    * on any graph, including a power-law hub mid-peel). Each triangle's
    * three edges are mapped back to canonical (least,greatest) form for
    * the support aggregate, so support counts are identical to the
    * unoriented formulation — the SQL oracle's a<b<c enumeration is
    * unchanged. Convergence uses the q153 empty-delta probe (edge count
    * unchanged). The DuckDB oracle unrolls the peel with slack rounds
    * (the identity after the fixpoint), generated like the q153/q158
    * unrolls. */
  def kTruss(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    kTrussInUnroll(undirectedEdges(Tables(spark, dir)), k, "")

  /** The peel, failing fast when it outruns the oracle's unroll. */
  private def kTrussInUnroll(ue: DataFrame, k: Int, what: String): DataFrame = {
    val (df, realized) = kTrussWithRounds(ue, k)
    require(realized <= KTrussOracleUnroll,
      s"k-truss peel (k=$k$what) realized $realized rounds but its oracle " +
      s"unrolls only $KTrussOracleUnroll — the ORACLE is exhausted, not " +
      "the operator wrong; raise GraphOps.KTrussOracleUnroll")
    df
  }

  /** Node-space fold for the q178 k=4 truss — mirrored literally in the
    * oracle SQL; keep the two in sync. The fixture graph is too sparse
    * to hold any 4-truss (every edge peels away), so q178 runs the peel
    * over the same edge relation FOLDED onto `id % 97` residues: the
    * projection is triangle-rich at every SF, making the k=4 gate a
    * real demonstration (non-empty survivors, multi-round cascade)
    * instead of a trivially-empty one. */
  private[graft] val TrussDenseMod = 97L

  /** k-truss at k=4 (q178) over the mod-[[TrussDenseMod]] folded edge
    * relation — proves the peel loop generalizes past the registered
    * k=3 gate (support ≥ 2, deeper cascades). Folding preserves
    * symmetry; self-loops and duplicate folded edges are dropped before
    * the peel (supports are per-edge counts, so multi-edges would
    * double-count). Same fail-fast oracle-unroll guard as q175. */
  def kTrussDense(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val folded = undirectedEdges(Tables(spark, dir))
      .select((col("src") % TrussDenseMod).as("src"),
        (col("dst") % TrussDenseMod).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    kTrussInUnroll(folded, k, ", folded")
  }

  /** k-truss over an arbitrary symmetrized edge relation, plus the
    * realized round count. The loop state is
    * the kept canonical edges (a < b) with the support that kept them —
    * counted over the round's input edges, which is the final edge set's
    * own support once a round drops nothing, so a converged peel needs
    * no extra triangle pass for its output. `ue` must be deduplicated. */
  private[graft] def kTrussWithRounds(ue: DataFrame,
      k: Int = 3): (DataFrame, Int) = {
    val minSup = k - 2
    def support(e: DataFrame): DataFrame = {
      // Re-orient the SURVIVING edges low-degree→high-degree (id
      // tie-break — e is canonical a<b, so `<=` encodes it) so the
      // wedge self-join fans out at the (deg,id)-lowest corner only;
      // peeling changes degrees, so the orientation must be per-round.
      val deg = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val withDeg = e
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      val oriented = withDeg.select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"))
      // Triangle x<y<z in (deg,id) order, found once as the wedge (y,z)
      // at x closed by the oriented edge y→z; corners map back to
      // canonical edges via least/greatest for the support aggregate.
      val tri = oriented.select(col("u").as("x"), col("v").as("y"))
        .join(oriented.select(col("u").as("x"), col("v").as("z")), Seq("x"))
        .filter(col("y") =!= col("z"))
        .join(oriented.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"))
      tri.select(explode(array(
          struct(least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v")),
          struct(least(col("x"), col("z")).as("u"),
            greatest(col("x"), col("z")).as("v")),
          struct(least(col("y"), col("z")).as("u"),
            greatest(col("y"), col("z")).as("v")))).as("e"))
        .select(col("e.u").as("a"), col("e.v").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
    }
    // every support row is an input edge, so the filtered support
    // relation IS the kept edge set
    val (kept, round) = Fixpoint.run(ue.filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b")), Int.MaxValue,
        signature = Some((e: DataFrame) => e.count())) { (edges, _) =>
      support(edges).filter(col("support") >= minSup)
    }
    (kept.select(col("a").as("src"), col("b").as("dst"), col("support"))
      .orderBy(col("src"), col("dst")), round)
  }

  /** Connected components (GraphX label propagation to the min vertex id;
    * converged, so equal to "min reachable id" — the transitive-closure
    * oracle recomputes exactly that). */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    componentsOf(toGraph(symmetrizedEdges(Tables(spark, dir))))
      .toDF("node", "component")
      .orderBy(col("node"))
  }

  /** Strongly connected components over the directed graph (GraphX colors
    * each SCC by its lowest member id — the mutual-reachability-closure
    * oracle recomputes exactly that). */
  def stronglyConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = toGraph(directedEdges(Tables(spark, dir)))
    org.apache.spark.graphx.lib.StronglyConnectedComponents.run(g, 50)
      .vertices
      .map { case (id, comp) => (id, comp) }
      .toDF("node", "scc")
      .orderBy(col("node"))
  }

  /** Registered rounds for the modularity-greedy community detection —
    * mirrored in the oracle's l0..lN unroll (SparkEntry generates it
    * from this constant); keep the two in sync. Even so each node-id
    * parity class is scheduled rounds/2 times; the two-triangle spec
    * converges by round 4, the fixture by ~6. */
  private[graft] val LouvainRounds = 6

  /** Modularity-greedy community detection (q211) — the Louvain local-
    * move phase as a synchronous, DETERMINISTIC fixed-point iteration:
    * each scheduled node moves to the neighboring community with the
    * best modularity gain. For node i with degree k_i and candidate
    * community c, the gain of joining c is (up to the constant 1/2m²)
    *   gain(c) = 2m·k_{i,c} − k_i·(Σtot_c − [c = own]·k_i)
    * — all INTEGER (2m = total degree mass, k_{i,c} = i's edges into c,
    * Σtot_c = degree mass of c, own community excludes i itself), so
    * the argmax and therefore the whole trajectory replays bit-exactly
    * in SQL. Ties prefer staying, then the smallest community label.
    * The stay option (c = own, gain 0 for a singleton) is always a
    * candidate, so a node never moves at a loss.
    *
    * Synchronous Louvain oscillates on symmetric structures (two nodes
    * swapping into each other's community forever); the standard
    * distributed fix is a coloring schedule (Halappanavar et al.) —
    * here the deterministic 2-coloring by node-id parity: round r
    * updates only nodes with node % 2 = r % 2, everyone else carries
    * forward. That breaks every 2-cycle (one endpoint moves first) and
    * keeps the unrolled-oracle discipline — the schedule is a pure
    * function of (node, round).
    *
    * For the LLM pipeline this is the topic-grouping rung over the
    * q129 near-dup graph (cluster dup components into themes for
    * mixture decisions); registered here over the standard fixture
    * graph, with the `From` variant taking any symmetrized edge list.
    *
    * Overflow envelope: both gain products are bounded only by the
    * total edge mass (2m·k_{i,c} and k_i·Σtot_c are each ≤ 4m²), so a
    * Long gain would pass Long.MaxValue near 3×10⁹ edge mass against a
    * giant community — guaranteed on web-scale graphs. The gain is
    * therefore computed in Decimal(38,0): exact (scale 0, |gain| ≤
    * 4m² < 10³⁸ whenever 2m fits in a Long), and mirrored bit-for-bit
    * by the oracle's HUGEINT. PipelineSpec drives edge weights past
    * Long.MaxValue products to pin this. Only the argmax ordering
    * consumes the gain, so the output schema stays all-BIGINT.
    *
    * Scale shape per round (the q38 shape): one edges⋈labels join +
    * a (node, c) count, a label-keyed degree-mass aggregate, and one
    * node-keyed argmax window — all linear in edge mass; a 20k-degree
    * hub contributes ≤ degree candidate rows, so no hub cap is needed
    * (candidate mass is bounded by the edge list itself). */
  def modularityCommunities(spark: SparkSession, dir: String,
      rounds: Int = LouvainRounds): DataFrame =
    modularityCommunitiesFrom(undirectedEdges(Tables(spark, dir)), rounds)

  /** Same, over an arbitrary symmetrized (src, dst) edge relation. */
  private[graft] def modularityCommunitiesFrom(ue: DataFrame,
      rounds: Int = LouvainRounds): DataFrame =
    louvainMovePhase(
      ue.select(col("src"), col("dst"), lit(1L).as("w")), rounds)
      .select(col("node"), col("label").as("community"))
      .orderBy(col("node"))

  /** One Louvain local-move phase over a WEIGHTED symmetrized
    * (src, dst, w) edge relation — shared by q211 (w = 1) and the q215
    * contracted second level. Self-loops contribute to the degree mass
    * (a contracted community's intra-edge weight lands on its (c, c)
    * row, already double-counted by the symmetrized representation —
    * exactly the 2·w_ii the modularity degree needs) but never to
    * k_{i,c}: a self-loop is not a link to another member, so the
    * link-weight relation filters src ≠ dst. Returns (node, label). */
  private[graft] def louvainMovePhase(ew: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = ew.persist()
    val deg = edges.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("deg")).persist()
    val m2 = deg.agg(sum(col("deg"))).head().getLong(0) // 2m
    val links = edges.filter(col("src") =!= col("dst"))
    val (labels, _) = Fixpoint.run(
        deg.select(col("node"), col("node").as("label")), rounds) {
        (labels, r) =>
      val kic = links
        .join(labels.select(col("node").as("dst"), col("label").as("c")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("c"))
        .agg(sum(col("w")).as("kic"))
      val tot = labels.join(deg, Seq("node"))
        .groupBy(col("label").as("c")).agg(sum(col("deg")).as("tot"))
      // candidates = neighbor communities ∪ the stay option (kic 0 when
      // no neighbor shares the node's community; max() keeps the real
      // count when one does)
      val cands = kic
        .unionByName(labels.select(col("node"),
          col("label").as("c"), lit(0L).as("kic")))
        .groupBy(col("node"), col("c")).agg(max(col("kic")).as("kic"))
      val scored = cands
        .join(tot, Seq("c"))
        .join(labels, Seq("node"))
        .join(deg, Seq("node"))
        // Decimal(20,0) factors → exact Decimal(38,0) products: both
        // terms are ≤ 4m², inside 38 digits for any Long-valued 2m
        // (a Long gain overflows near 3e9 edge mass — see scaladoc)
        .withColumn("gain",
          lit(m2).cast(org.apache.spark.sql.types.DecimalType(20, 0)) *
            col("kic") -
          col("deg").cast(org.apache.spark.sql.types.DecimalType(20, 0)) *
            (col("tot") - when(col("c") === col("label"), col("deg"))
              .otherwise(lit(0L))))
      val w = Window.partitionBy(col("node"))
        .orderBy(col("gain").desc,
          when(col("c") === col("label"), lit(0)).otherwise(lit(1)),
          col("c").asc)
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"),
          when(pmod(col("node"), lit(2)) === lit(r % 2), col("c"))
            .otherwise(col("label")).as("label"))
    }
    edges.unpersist(); deg.unpersist()
    labels
  }

  /** Two-level Louvain (q215) — the full Blondel et al. recipe over
    * q211's local-move phase: run phase 1 on the unit-weight graph,
    * CONTRACT each community to a super-node (edge weights = summed
    * multiplicities; intra-community mass becomes the super-node's
    * self-loop, which the symmetrized representation double-counts
    * into exactly the 2·w_ii modularity degree), then run the SAME
    * move phase on the weighted contracted graph and compose the two
    * label maps. This is the step that merges adjacent communities
    * phase 1's node-granular moves cannot (a whole community moving
    * at once) — and because the contracted graph is community-sized,
    * the second level costs a rounding error next to the first.
    * Well-separated communities survive contraction unmerged (the
    * barbell spec pins phase 2 as the identity there; the bridged
    * fixture pins a real merge). Output: (node, community_l1,
    * community) — both levels, so a pipeline can pick its
    * granularity. All arithmetic stays the q211 integer gain in its
    * Decimal(38,0) form — the contracted level is where a community's
    * tot approaches 2m, exactly the regime a Long gain would overflow
    * in (weights sum to the original edge mass, so the 4m² bound
    * carries over unchanged). */
  def louvainTwoLevel(spark: SparkSession, dir: String): DataFrame =
    louvainTwoLevelFrom(undirectedEdges(Tables(spark, dir)))

  /** Same, over an arbitrary symmetrized (src, dst) edge relation. */
  private[graft] def louvainTwoLevelFrom(ue: DataFrame,
      rounds1: Int = LouvainRounds,
      rounds2: Int = LouvainRounds): DataFrame = {
    val e1 = ue.select(col("src"), col("dst"), lit(1L).as("w")).persist()
    val l1 = louvainMovePhase(e1, rounds1).persist()
    val contracted = e1
      .join(l1.select(col("node").as("src"), col("label").as("s1")),
        Seq("src"))
      .join(l1.select(col("node").as("dst"), col("label").as("d1")),
        Seq("dst"))
      .groupBy(col("s1").as("src"), col("d1").as("dst"))
      .agg(sum(col("w")).as("w"))
    val l2 = louvainMovePhase(contracted, rounds2)
    val out = l1
      .join(l2.select(col("node").as("label"),
        col("label").as("community")), Seq("label"))
      .select(col("node"), col("label").as("community_l1"),
        col("community"))
      .orderBy(col("node"))
    e1.unpersist(); l1.unpersist()
    out
  }

  /** Synchronous label propagation, 5 rounds, DETERMINISTIC: every round
    * each node takes the most frequent label among its neighbors, ties
    * broken by smallest label (GraphX's LPA breaks ties by hash-map
    * iteration order, which is run-dependent — this re-expression fixes
    * the tie-break so the result is exact and SQL-oracleable). Per round:
    * one join to fetch neighbor labels + one count aggregation + one
    * per-node argmax window — all partitioned by node id, no global
    * barrier beyond the shuffles. */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = undirectedEdges(Tables(spark, dir)).persist()
    val w = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("label").asc)
    val (labels, _) = Fixpoint.run(
        edges.select(col("src").as("node")).distinct()
          .withColumn("label", col("node")), rounds) { (labels, _) =>
      labels
        .join(edges, col("node") === col("dst"))
        .select(col("src").as("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("label"))
    }
    edges.unpersist()
    labels.select(col("node"), col("label").as("community"))
      .orderBy(col("node"))
  }

  /** PageRank, 10 iterations, in INTEGER fixed point (micro-units of
    * rank): rank' = 0.15 + 0.85·Σ rank/outdeg becomes
    * `150000 + (85 * Σ (rank div outdeg)) div 100` over BIGINTs. Integer
    * division and BIGINT sums are order-independent, so the fixpoint is
    * bit-identical across engines and summation orders — unlike a double
    * PageRank, this carries an exact SQL oracle. Error vs the real-valued
    * iteration is ≤ 1 micro-rank per node per superstep. Per iteration:
    * one broadcast-or-shuffle join of ranks onto edges + one sum shuffle
    * on dst — the standard 2-shuffle PR round. */
  def pageRank(spark: SparkSession, dir: String,
      iterations: Int = 10): DataFrame =
    pageRankFrom(spark, directedEdges(Tables(spark, dir)), iterations)

  /** Personalized PageRank (q156): the q36 fixed-point iteration with
    * the teleport mass restricted to ONE source node — the "similar to
    * this node" random-walk scorer behind graph recommendation and
    * seed-expansion pipelines. Same integer discipline as q36 (micro
    * units, `div` contributions, 15%/85% damping as 150000/85·s div
    * 100), so 10 unrolled iterations replay bit-exactly in SQL; the
    * only change is r0 = 10⁶·e_source and the per-round teleport CASE.
    * Nodes never touched by the walk report 0 — the honest "not
    * reachable" signal. */
  def personalizedPageRank(spark: SparkSession, dir: String,
      source: Long = 1L, iterations: Int = 10): DataFrame =
    pageRankFrom(spark, directedEdges(Tables(spark, dir)), iterations,
        source = Some(source))
      .select(col("node"), col("rank_micro").as("ppr_micro"))

  /** Edge-parameterized fixed-point PageRank (ScaleSmoke runs this on
    * amplified edge sets); with a `source`, the personalized variant.
    * `durableEvery` = N > 0 makes every Nth round a reliable checkpoint
    * (see [[Fixpoint]]); results are bit-identical in both modes (the
    * fixpoint is integer arithmetic; checkpointing only changes recovery,
    * not values). */
  private[graft] def pageRankFrom(spark: SparkSession, de: DataFrame,
      iterations: Int = 10, durableEvery: Int = 0,
      source: Option[Long] = None): DataFrame = {
    def atSource(v: Long): Column = source.fold(lit(v))(s =>
      when(col("node") === s, lit(v)).otherwise(lit(0L)))
    val outdeg = de.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    val edgesWithDeg = de.join(outdeg, Seq("src")).persist()
    val nodes = de.select(col("src").as("node"))
      .union(de.select(col("dst").as("node")))
      .distinct().persist()
    val (ranks, _) = Fixpoint.run(
        nodes.withColumn("rank", atSource(1000000L)), iterations,
        durableEvery) { (ranks, _) =>
      val sums = ranks
        .join(edgesWithDeg, col("node") === col("src"))
        .select(col("dst").as("node"),
          expr("rank div out_deg").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("s"))
      nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (atSource(150000L) + expr("(85 * coalesce(s, 0L)) div 100"))
            .as("rank"))
    }
    edgesWithDeg.unpersist(); nodes.unpersist()
    ranks.select(col("node"), col("rank").as("rank_micro"))
      .orderBy(col("node"))
  }

  /** HITS hubs & authorities (q180) — Kleinberg's mutual-reinforcement
    * fixed point over the DIRECTED graph: auth(v) = Σ_{u→v} hub(u),
    * hub(u) = Σ_{u→v} auth(v), 5 synchronous rounds, each side
    * re-normalized per round so the top score is exactly 10⁶. All
    * arithmetic is BIGINT with floor division (the q36 discipline), so
    * the scores are bit-identical under any partitioning and the oracle
    * unrolls the recurrence exactly. The ppm scale bounds the per-round
    * sums at maxIndeg·10¹² — inside a long for any curated graph; a
    * web-scale deployment drops the scale to 10³ (same two-line
    * change on both sides).
    *
    * Scale shape per round: two (edge join + node-keyed sum) passes and
    * two 1-row max aggregates broadcast back — all map-side combinable,
    * nothing quadratic. */
  def hits(spark: SparkSession, dir: String): DataFrame =
    hitsFrom(directedEdges(Tables(spark, dir)))

  /** Same, over an arbitrary directed edge relation. */
  private[graft] def hitsFrom(de: DataFrame, iterations: Int = 5): DataFrame = {
    val edges = de.persist()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct().persist()
    val (scores, _) = Fixpoint.run(nodes.select(col("node"),
        lit(1000000L).as("hub"), lit(1000000L).as("auth")), iterations) {
        (scores, _) =>
      val araw = nodes.join(
          edges.join(scores.select(col("node").as("src"), col("hub")),
              Seq("src"))
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("ar")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("ar"), lit(0L)).as("ar"))
      val anorm = araw
        .crossJoin(broadcast(
          araw.agg(greatest(max(col("ar")), lit(1L)).as("am"))))
        .select(col("node"), expr("(1000000 * ar) div am").as("auth"))
      val hraw = nodes.join(
          edges.join(anorm.select(col("node").as("dst"), col("auth")),
              Seq("dst"))
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hr")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("hr"), lit(0L)).as("hr"))
      val hnorm = hraw
        .crossJoin(broadcast(
          hraw.agg(greatest(max(col("hr")), lit(1L)).as("hm"))))
        .select(col("node"), expr("(1000000 * hr) div hm").as("hub"))
      // hnorm and anorm each already carry EVERY node (both are built
      // from the nodes left join), so one equi-join reassembles the
      // score pair — no third join back to the node relation
      hnorm.join(anorm, Seq("node"))
        .select(col("node"), col("hub"), col("auth"))
    }
    edges.unpersist(); nodes.unpersist()
    scores.select(col("node"), col("hub").as("hub_ppm"),
        col("auth").as("auth_ppm"))
      .orderBy(col("node"))
  }

  /** Hop-bounded eccentricity sample (q181) — for k deterministic
    * sample sources, the max BFS distance within a 10-hop horizon plus
    * the reached-node count, and the sample's max eccentricity as a
    * diameter lower bound riding every row (the 1-row broadcast summary
    * pattern). The "how far apart is this graph" readout run before
    * picking traversal horizons — exact eccentricity needs all-pairs,
    * which no one runs at scale; the k-source sample IS the production
    * form, and it rides the same batched multi-source sweep as
    * q126 (one frontier relation keyed by (origin, node), never k
    * separate traversals). */
  def eccentricitySample(spark: SparkSession, dir: String, k: Int = 16,
      maxHops: Int = 10): DataFrame = {
    val t = Tables(spark, dir)
    val m = maxCust(t)
    require(m > 0, s"nonpositive max c_custkey $m at $dir")
    val sources = (0 until k).map(i => 1L + (i.toLong * 41L) % m).distinct
    val per = multiSourceCostsFrom(spark, hopEdges(t), sources, maxHops)
      .groupBy(col("origin"))
      .agg(max(col("cost")).as("eccentricity"),
        count(lit(1)).as("n_reached"))
    per.crossJoin(broadcast(
        per.agg(max(col("eccentricity")).as("diameter_lb"))))
      .orderBy(col("origin"))
  }

  /** Sampled bounded-radius betweenness centrality (q205) — Brandes'
    * algorithm (2001) restricted to k deterministic sources and paths of
    * ≤ maxHops edges (the "k-betweenness" variant: exact betweenness
    * needs all-pairs — quadratic — so production graph stacks sample
    * sources AND bound the radius; both knobs are explicit here). Per
    * source: an unweighted BFS forward pass counting shortest paths
    * σ(v) = Σ_{preds} σ, then the dependency back-propagation over BFS
    * levels, δ(v) = Σ_{w: succ} σv·(M + δ(w)) div σw with M = 10⁶ —
    * Brandes' (σv/σw)(1 + δw) in fixed point, floor-divided per (v, w)
    * edge BEFORE the sum (the floor-before-sum discipline), so every
    * value is an integer and the whole two-pass composition carries a
    * full DuckDB oracle (an unrolled per-level replay, the q91/q127
    * pattern). bc_q(v) = Σ_sources δ(v), endpoints excluded, only
    * positive rows emitted.
    *
    * Scale shape: maxHops forward supersteps (frontier×edges joins with
    * left_anti settledness, per-level lineage cuts) + maxHops−1
    * backward level joins — each a node-keyed shuffle, never all-pairs.
    * σ ≤ Δ^maxHops must fit a Long (Δ ≤ ~55k at maxHops=4); past that
    * ANSI overflow fails fast rather than corrupting — cap the radius
    * or pre-cap hub degrees (q165's rule) first. */
  def betweennessSample(spark: SparkSession, dir: String, k: Int = 8,
      maxHops: Int = 4): DataFrame = {
    val t = Tables(spark, dir)
    val m = maxCust(t)
    require(m > 0, s"nonpositive max c_custkey $m at $dir")
    val sources = (0 until k).map(i => 1L + (i.toLong * 41L) % m).distinct
    betweennessFrom(spark, undirectedEdges(t), sources, maxHops)
  }

  /** Same, over an arbitrary undirected (src, dst) edge relation. */
  private[graft] def betweennessFrom(spark: SparkSession, edges: DataFrame,
      sources: Seq[Long], maxHops: Int): DataFrame = {
    import spark.implicits._
    require(maxHops >= 2, "betweenness needs a radius of at least 2")
    val e = edges.select(col("src"), col("dst"))
    // forward: per-level settled (origin, node, d, sigma)
    var settled = sources.toDF("origin").select(col("origin"),
      col("origin").as("node"), lit(0).as("d"), lit(1L).as("sigma"))
    var frontier = settled
    val byLevel = scala.collection.mutable.Map(0 -> frontier)
    for (l <- 1 to maxHops) {
      val nxt = frontier.join(e, col("node") === col("src"))
        .select(col("origin"), col("dst").as("nn"), col("sigma"))
        .join(settled.select(col("origin"), col("node").as("nn")),
          Seq("origin", "nn"), "left_anti")
        .groupBy(col("origin"), col("nn"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("origin"), col("nn").as("node"), lit(l).as("d"),
          col("sigma"))
        .localCheckpoint()
      settled = settled.unionByName(nxt)
      frontier = nxt
      byLevel(l) = nxt
    }
    // backward: deltas per level, deepest first (delta(maxHops) = 0)
    var deltaNext: DataFrame = byLevel(maxHops)
      .select(col("origin"), col("node"), lit(0L).as("delta"))
    val perLevel = scala.collection.mutable.ListBuffer[DataFrame]()
    for (l <- maxHops to 2 by -1) {
      val wSide = byLevel(l)
        .join(deltaNext, Seq("origin", "node"), "left")
        .select(col("origin"), col("node").as("wn"),
          col("sigma").as("sw"), coalesce(col("delta"), lit(0L)).as("dw"))
      val deltaCur = byLevel(l - 1)
        .select(col("origin"), col("node").as("vn"), col("sigma").as("sv"))
        .join(e, col("vn") === col("src"))
        .join(wSide.withColumnRenamed("origin", "worigin"),
          col("dst") === col("wn") && col("origin") === col("worigin"))
        .select(col("origin"), col("vn"),
          expr("sv * (1000000 + dw) div sw").as("c"))
        .groupBy(col("origin"), col("vn"))
        .agg(sum(col("c")).as("delta"))
        .select(col("origin"), col("vn").as("node"), col("delta"))
        .localCheckpoint()
      perLevel += deltaCur
      deltaNext = deltaCur
    }
    perLevel.reduce(_ unionByName _)
      .groupBy(col("node")).agg(sum(col("delta")).as("bc_q"))
      .filter(col("bc_q") > 0)
      .orderBy(col("node"))
  }

  /** Log-binned degree histogram (q184) — node counts per power-of-two
    * degree bin (bin = bit length of the degree, an exact integer in
    * both engines via `length(bin(deg))` — no float log near bin
    * boundaries), with the bin's realized min/max degree. THE first
    * diagnostic read on an unknown graph: a straight line down the bins
    * is the power law that decides whether hub caps, salting, and
    * degree orientation are needed at all. Output is ≤ 64 rows at any
    * scale — the full per-degree histogram would be O(√m) rows and is
    * what this query exists to avoid.
    *
    * Scale shape: one degree aggregate (map-side combinable) + one
    * ≤64-group aggregate over the NODE relation. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val deg = undirectedEdges(Tables(spark, dir))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    deg.groupBy(length(bin(col("deg"))).cast("long").as("deg_bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .orderBy(col("deg_bin"))
  }
}

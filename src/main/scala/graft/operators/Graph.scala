package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Ckpt.CutOps
import graft.Q
import graft.sources.Tables

/** Graph operators over relations — link-analysis primitives a training-
  * data pipeline runs on crawl graphs (page rank of source domains feeds
  * quality weighting; the same propagation shape powers trust/spam
  * scores). The reference has no graph surface; this is a north-star
  * extension sized like the iterative connected-components family
  * ([[Dedup.connectedComponents]]).
  *
  * Arithmetic is INTEGER-ONLY (scaled fixed-point ranks, integer
  * division for out-degree splits): sums of longs are exact and
  * order-independent, so the result is bit-identical on any partition
  * count and in any engine — the same determinism trick as q37's
  * integer-quantized centroids. A float PageRank would be order-dependent
  * under partial aggregation and could never hash-match an oracle.
  */
object Graph {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Fixed-point damping: rank'(v) = 0.15·R0 + 0.85·Σ rank(u) div deg(u),
    * with R0 = 1e6 per node, evaluated as `150000 + (85·Σ) div 100`. */
  private val iters = 4

  /** PageRank over the customer↔supplier purchase graph (bipartite,
    * symmetrized; a deterministic 10% customer slice keeps the graph
    * proportional to the corpus without changing the algorithm's shape).
    * Node encoding: customer c → 2c, supplier s → 2s+1.
    *
    * Scale shape: the edge list is built once and `localCheckpoint`ed
    * (every iteration consumes it — same guard as connected components);
    * each of the 4 rounds is one hash join (ranks onto edge sources,
    * shuffle keyed on node id) plus one partial-aggregated sum keyed on
    * the destination — cost per round is O(edges), state per round is
    * one long per node, nothing ever sits on the driver. The final top-20
    * is TakeOrderedAndProject (per-partition heaps), not a global sort. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_custkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val eraw = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val sym = eraw.unionByName(
      eraw.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // edges+degree consumed by every round — materialize once
    val ew = sym.join(deg, sym("src") === deg("node"))
      .select(col("src"), col("dst"), col("deg"))
      // lazy (r17): every iteration's contrib join sits in the one
      // final action — same rationale as q266
      .cutLineage(eager = false)
    val nodes = ew.select(col("src").as("node"), col("deg")).distinct()
    var ranks = nodes.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = ew
        .join(ranks, ew("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("pr div deg")).as("s"))
      ranks = nodes
        .join(contrib, nodes("node") === contrib("dst"), "left_outer")
        .select(col("node"),
          expr("CAST(150000 + (85 * coalesce(s, 0)) div 100 AS BIGINT)")
            .as("pr"))
    }
    val sup = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    ranks.filter(col("node") % 2 === 1)
      .withColumn("s_suppkey", expr("(node - 1) div 2"))
      .join(sup, Seq("s_suppkey"))
      .orderBy(col("pr").desc, col("s_suppkey").asc)
      .limit(20)
      .select(col("s_suppkey"), col("s_name"), col("pr"))
  }

  /** Degree-distribution profile of the full customer↔supplier purchase
    * graph: per side, log2-bucketed degree histogram (bucket =
    * `length(bin(deg))` = ⌊log2 deg⌋+1 — an integer-only log that both
    * engines compute identically; a float `log2` could land on x.9999…
    * at exact powers). The companion diagnostic to [[pagerank]]: a
    * heavy-tailed degree histogram is what predicts hot vertices before
    * an iterative job is launched. Scale shape: one distinct + two
    * partial-agg'd groupBys over the checkpointed pair list; histogram
    * output is O(log maxdeg) rows. */
  def degreeStats(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // both degree aggregations consume the pair list — materialize once
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
      .cutLineage()
    val cdeg = pairs.groupBy(col("c").as("k"))
      .agg(count(lit(1)).as("deg")).withColumn("side", lit("customer"))
    val sdeg = pairs.groupBy(col("s").as("k"))
      .agg(count(lit(1)).as("deg")).withColumn("side", lit("supplier"))
    cdeg.unionByName(sdeg)
      .withColumn("bucket", length(bin(col("deg"))))
      .groupBy(col("side"), col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        sum(col("deg")).as("total_edges"))
  }

  /** Triangle census of the part co-purchase graph (parts appearing in
    * the same order are adjacent): edge/wedge/triangle counts and the
    * global clustering coefficient (as exact integer ppm — 3·Δ·10⁶ div
    * wedges; a float ratio would be fine numerically but ppm keeps the
    * whole row integer-deterministic).
    *
    * The triangle join uses DEGREE ORIENTATION (each edge points from
    * its lower-(degree, id) endpoint to the higher): every triangle has
    * exactly one wedge whose center precedes both endpoints, so the
    * wedge self-join + closing-edge probe counts each triangle once —
    * and out-degree under this orientation is O(√edges) (arboricity
    * bound), which caps the wedge blow-up a hot vertex would cause in
    * the naive u<v formulation. At 100 TB the wedge join is THE cost;
    * orientation is what keeps it edges^1.5, not deg_max². The oracle
    * counts via the id-ordered 3-way join — a different orientation of
    * the same count, so agreement also cross-checks the orientation
    * logic. All shuffles are equi-joins on vertex ids; the three scalar
    * aggregates combine via broadcast-able 1-row cross joins. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // r17: probed claimed-layout cuts here and REVERTED (+68% solo,
    // 3.1 -> 5.2 s): the input-bytes-derived width (1 at sf0.1) serializes
    // the adjacency-intersect stage, whose cost is COMPUTE per row, and
    // AQE's parallelism-first coalescing (~6-way here) is the better
    // planner for it. The exchange savings that pay off on the join-
    // bound graph queries (kcore/louvain/LPA) lose to lost parallelism
    // on this compute-bound one.
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // consumed by the degree agg, the orientation join, and (oriented)
    // three times in the triangle join — materialize once
    val e = l.as("a").join(l.as("b"), Seq("ok"))
      .filter(col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
      // r17 (verdict item 2, guide §2.6): LAZY — all four of this
      // query's cuts feed ONE final action, so eager cuts only added
      // four serial barrier jobs; lazy cuts materialize inside the one
      // action, whose independent stages can overlap
      .cutLineage(eager = false)
    val deg = e.select(col("u").as("nd"))
      .unionByName(e.select(col("v").as("nd")))
      .groupBy(col("nd")).agg(count(lit(1)).as("deg"))
      // r16: three plan roles (both orientation joins + nodesEdges) each
      // re-aggregated the full edge list — one compute, two saved
      .cutLineage(eager = false)
    val fwd = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oe = e
      .join(deg.select(col("nd").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("nd").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .cutLineage(eager = false)
    // Count via adjacency-array intersection, NOT a wedge self-join: a
    // triangle a→b→c closes at its first oriented edge (a,b) as a common
    // out-neighbor, so Δ = Σ_{(u,v)∈oe} |N⁺(u) ∩ N⁺(v)|. The wedge
    // formulation (e1.dst = e2.src then probe the closing edge) was
    // measured 14.2 s at sf0.1 — it SHUFFLES every wedge (~33M rows on
    // this graph, avg degree ~115) before the probe discards 98% of
    // them. The intersection form shuffles each edge exactly twice (once
    // per endpoint's adjacency lookup) and closes wedges inside a
    // codegen'd array_intersect — dense graphs pay O(deg) in-memory work
    // per edge instead of O(deg) shuffled rows per vertex. Out-degree
    // under degree orientation is O(√E) (arboricity), so adjacency
    // arrays are bounded regardless of hot vertices. Measured 3.8 s.
    val adj = oe.groupBy(col("src")).agg(collect_list(col("dst")).as("ns"))
      .cutLineage(eager = false)
    val tri = oe
      .join(adj.select(col("src"), col("ns").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("ns").as("nv")), Seq("dst"))
      .agg(sum(size(array_intersect(col("nu"), col("nv"))))
        .cast("long").as("n_triangles"))
    val nodesEdges = deg.agg(count(lit(1)).as("n_nodes"),
      expr("CAST(sum(deg) div 2 AS BIGINT)").as("n_edges"),
      expr("CAST(sum(deg * (deg - 1)) div 2 AS BIGINT)").as("n_wedges"))
    nodesEdges.crossJoin(
        tri.select(coalesce(col("n_triangles"), lit(0L)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("CAST(3000000 * n_triangles div n_wedges AS BIGINT)")
          .as("closure_ppm"))
  }

  /** One unrolled oracle iteration (DuckDB `//` = Spark `div` on
    * positive longs; DuckDB's HUGEINT sum re-narrows in the CAST). */
  private def prIterSql(i: Int): String =
    s"""r$i AS (
       |  SELECT d.node AS node,
       |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
       |  FROM deg d LEFT JOIN (
       |    SELECT ew.dst AS node, sum(r.pr // ew.deg) AS s
       |    FROM ew JOIN r${i - 1} r ON ew.src = r.node GROUP BY 1) c
       |    ON d.node = c.node)""".stripMargin

  /** Iterative core peel: drop nodes of degree < k (and their edges),
    * repeat until the edge count is stable — the k-core fixpoint. One
    * degree agg + two semi-shaped equi-joins per round over a
    * checkpointed symmetric edge list; the only driver value per round
    * is the O(1) edge count (the q53 connected-components discipline).
    * Rounds are data-dependent but bounded by the longest peel cascade
    * (≤ 6 at every tested SF; the safety guard caps runaway input). */
  private[graft] def coreOf(sym: DataFrame, k: Int,
      parts: Int = 0): DataFrame = {
    val nParts = if (parts > 0) parts
      else sym.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // r17: claimed-layout cuts (guide §2.4) — each peel round's degree
    // agg and keep-join are keyed on src, so carrying
    // hashpartitioning(src) through the round cut makes both reuse the
    // layout; the convergence count folds into the lazy cut's
    // materialization as one RDD-level aggregate job (the
    // connectedComponents discipline).
    var edges = sym.cutPartitionedLazy(eager = false, nParts, "src")
    var n = edges.queryExecution.toRdd
      .aggregate(0L)((a, _) => a + 1L, _ + _)
    var converged = n == 0
    var guard = 0
    while (!converged && guard < 32) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("kn"))
      val nxt = edges
        .join(keep.select(col("kn").as("src")), Seq("src"))
        .join(keep.select(col("kn").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
        .cutPartitionedLazy(eager = false, nParts, "src")
      val m = nxt.queryExecution.toRdd
        .aggregate(0L)((a, _) => a + 1L, _ + _)
      converged = m == n
      n = m
      edges = nxt
      guard += 1
    }
    // A tripped guard means the returned edge set is NOT a k-core — fail
    // loudly rather than hand a non-fixpoint result to a consumer (the
    // unrolled oracle could stop early in the same region and mask it).
    if (!converged)
      throw new IllegalStateException(
        s"coreOf(k=$k) not at fixpoint after $guard peel rounds " +
          s"($n edges remain) — raise the guard for this cascade depth")
    edges
  }

  /** The support-2 co-purchase pair relation — parts bought together in
    * ≥2 orders, with joint support — is a genuine SHARED pipeline stage
    * ([[graft.SessionMemo]]): q185 (association lift), q192 (k-core),
    * q197 (label propagation) and a dozen more build their graph from
    * this one basket self-join, and each was rebuilding it identically
    * (~1.5 s × 3 at sf0.1). The frame is checkpointed, so the memo holds
    * a materialized RDD; Bench prices the build as
    * `stage_support2_pairs`, which is also the honest 100-TB accounting,
    * where this relation is a materialized intermediate table built once
    * per corpus generation.
    * Scale shape: DISTINCT (order, part) baskets, then a self-equi-join
    * on the basket key (output Σ b² over basket sizes, ≤~20 pairs/order
    * on TPC-H-like feeds) with a partial-agg'd support count and the
    * support-≥2 cut bounding the output like any minimum-support rule. */
  private[operators] val support2Pairs = graft.SessionMemo(
      "stage_support2_pairs", graft.SessionMemo.dirStamp) { (spark, dir) =>
    val baskets = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    baskets.as("a")
      .join(baskets.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
      .cutLineage()
  }

  /** Level-1 Louvain labels shared by q347 (census of them) and q353
    * (coarsens them) — at corpus scale the level-1 partition is a
    * materialized intermediate built once per graph generation, a
    * shared stage like [[support2Pairs]]. Priced as `stage_louvain_l1`. */
  private[graft] val louvainL1Labels = graft.SessionMemo(
      "stage_louvain_l1", graft.SessionMemo.dirStamp) { (spark, dir) =>
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val n = graft.Ckpt.scaleParts(spark, dir)
    // every sweep's k_{i,C} probe joins sym on dst — carry that layout
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs
        .select(col("v").as("src"), col("u").as("dst")))
      .cutPartitionedBy(n, "dst")
    louvainOf(sym, pairs, 4, n).cutPartitionedBy(n, "node")
  }

  /** Clears every stage memo (see [[graft.SessionMemo.clearAll]]). */
  private[graft] def clearStageCaches(): Unit = graft.SessionMemo.clearAll()

  /** 2-core decomposition of the support-2 co-purchase graph (parts as
    * nodes, edges between parts bought together in ≥2 orders — q185's
    * pair relation): iteratively peel degree-1 nodes until only the
    * cycle-containing subgraph survives. The graph-cleanup primitive
    * that strips pendant chains before community/cycle analysis; on
    * this feed it is a real cascade (sf0.1: 5,922 nodes → 3 over 6
    * peel rounds).
    *
    * Parity recipe: Spark loops to the FIXPOINT; the oracle unrolls 8
    * peel rounds — identical results because peeling is monotone and
    * idempotent past the fixpoint, and the spec pins fixpoint ≤ 8 at
    * every gate SF (a planted chain-into-triangle fixture proves the
    * multi-round cascade semantics besides). */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
    coreOf(sym, 2, graft.Ckpt.scaleParts(spark, dir))
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
  }

  /** Synchronous label-propagation rounds (Raghavan et al. 2007, the
    * deterministic variant): every node adopts the most frequent label
    * among its neighbors, ties broken to the SMALLEST label — the
    * argmax is one mergeable `min_by` over a STRUCT key ordered
    * (−count, label): lexicographic struct comparison is exact for any
    * 64-bit label, where the earlier packed key (−c·2^32 + lab) would
    * silently invert the count order once labels crossed 2^32. Each
    * round is one hash join (labels onto edge sources) + two
    * partial-agg'd aggregations, state one long per node. Fixed round
    * count: synchronous LPA may oscillate, so the contract is "labels
    * after R rounds", identical in both engines — no convergence
    * requirement, unlike [[coreOf]]'s monotone peel. */
  private[graft] def lpaOf(sym: DataFrame, rounds: Int): DataFrame = {
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = nodes.withColumn("lab", col("node"))
    // No per-round lineage cut: unlike [[coreOf]]'s unbounded
    // convergence loop (whose per-round count() forces execution
    // anyway), the round count here is FIXED, so the lineage is a
    // bounded 4-level join tree Catalyst can optimize as one plan —
    // only `sym` (consumed by every round) is materialized by callers.
    for (_ <- 1 to rounds) {
      labels = sym.join(labels, sym("src") === labels("node"))
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(min_by(col("lab"),
          struct((-col("c")).as("nc"), col("lab"))).as("lab"))
    }
    labels
  }

  /** Community detection on the support-2 co-purchase graph (the q192
    * relation) via 4 synchronous label-propagation rounds; emitted as a
    * community census (size + id range per final label). The cheap
    * first-cut community structure a recommender derives from baskets —
    * and, on a doc-similarity graph, the same shape as near-dup FAMILY
    * detection beyond connected components (LPA splits components that
    * CC merges through weak bridges). */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      // r17: every LPA round probes sym on src — carry that layout
      .cutPartitionedBy(graft.Ckpt.scaleParts(spark, dir), "src")
    lpaOf(sym, 4)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
  }

  /** Newman modularity of the q197 LPA communities — the quality score
    * that turns "we ran community detection" into "the partition is
    * better than chance": Q = Σ_c (e_c/m − (d_c/2m)²) over the same
    * support-2 co-purchase graph and the SAME 4-round deterministic
    * label assignment as q197 (a ninth consumer of the shared stage).
    * Emitted exactly: per community q_num = 4·m·e_c − d_c² (BIGINT —
    * ≤ 4m² ~ 4·10¹⁰ here, decimal(38) at true graph scale), so
    * Q = Σ q_num / (4m²) with NO division anywhere in the gate. Shapes:
    * intra-community edge count is the pair relation joined to the
    * label map on BOTH endpoints (two hash joins on node id, partial-
    * agg'd count per label); degree mass is one join + one shrinking
    * agg. Communities with no internal edge keep e_in = 0 via the
    * left join. */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .cutPartitionedBy(graft.Ckpt.scaleParts(spark, dir), "src")
    communityCensus(pairs, sym, lpaOf(sym, 4))
  }

  /** Per-community Newman-modularity census of an arbitrary (node, lab)
    * partition over the pair graph — the scoring block shared by q256
    * (LPA labels) and q347 (Louvain labels): per community q_num =
    * 4·m·e_c − d_c², so Σ q_num / (4m²) = Q with no division in the
    * gate. */
  private def communityCensus(pairs: DataFrame, sym: DataFrame,
      labels: DataFrame): DataFrame = {
    val mdf = pairs.agg(count(lit(1)).as("m"))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dsum = deg.join(labels, Seq("node"))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("d_sum"))
    val ein = pairs
      .join(labels.select(col("node").as("u"), col("lab").as("lab_u")),
        Seq("u"))
      .join(labels.select(col("node").as("v"), col("lab").as("lab_v")),
        Seq("v"))
      .filter(col("lab_u") === col("lab_v"))
      .groupBy(col("lab_u").as("lab"))
      .agg(count(lit(1)).as("e_in"))
    dsum.join(ein, Seq("lab"), "left_outer")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(mdf))
      .select(col("lab").as("community"), col("n_members"),
        col("d_sum"), col("e_in"),
        (lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
          .as("q_num"))
  }

  /** Parity-alternated Louvain local-move sweeps (Blondel, Guillaume,
    * Lambiotte & Lefebvre, J. Stat. Mech. 2008 — level-1 phase only, no
    * coarsening): from singleton communities, sweep r moves only the
    * nodes with node MOD 2 = r MOD 2 — the standard damping for
    * distributed Louvain, because a FULLY synchronous sweep lets two
    * adjacent nodes swap into each other's (by-then-vacated) communities
    * and oscillate (measured: the undamped variant scored BELOW LPA at
    * sf0.01). A mover goes to the candidate community maximizing the
    * exact insertion gain 2m·k_{i,C} − k_i·d_{C∖i} (candidates = the
    * communities of i's neighbors plus its own; staying scores by the
    * same formula, so the comparison is the node-local Louvain rule);
    * ties prefer STAYING, then the smallest community id — the strict-
    * improvement rule sequential Louvain uses. This OPTIMIZES the q256
    * objective where LPA merely scores it — the spec asserts
    * Σ q_num(Louvain) ≥ Σ q_num(LPA). Fixed sweep count: the contract
    * is "labels after R sweeps", identical in both engines. Costs per
    * sweep: one edge-keyed join + partial agg (k_{i,C}), two bounded
    * label-domain aggs (community degree mass), one argmax — O(edges),
    * state one long per node, the lpaOf shape; gains stay in BIGINT
    * here (≤ 4m² ~ 10¹⁰ at sf0.1), decimal(38) at true graph scale. */
  private[graft] def louvainOf(sym: DataFrame, pairs: DataFrame,
      rounds: Int, parts: Int = 0): DataFrame = {
    val nParts = if (parts > 0) parts
      else sym.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).cutPartitionedBy(nParts, "node")
    louvainSweeps(sym.withColumn("w", lit(1L)), deg,
      pairs.agg(count(lit(1)).as("m")), rounds, nParts)
  }

  /** The weighted parity-damped sweep core shared by level 1 (unit
    * weights) and the coarsened level 2 of [[louvainTwoLevel]]:
    * `sym` is the SELF-LOOP-FREE symmetric weighted edge list (a
    * supernode's self-loop mass enters only through `deg`, which is
    * why degrees are an input, not derived — it is constant across a
    * node's candidate moves and cancels from the comparison), `deg`
    * the per-node weighted degree including loops, `mdf` the 1-row
    * total edge mass (unchanged by coarsening). */
  private def louvainSweeps(sym: DataFrame, deg: DataFrame,
      mdf: DataFrame, rounds: Int, parts: Int = 0): DataFrame = {
    val nParts = if (parts > 0) parts
      else sym.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    var labels = deg.select(col("node"), col("node").as("lab"))
    for (r <- 1 to rounds) {
      val parity = (r % 2).toLong
      val dtot = labels.join(deg, Seq("node"))
        .groupBy(col("lab")).agg(sum(col("deg")).as("dc"))
      val kic = sym
        .join(labels.select(col("node").as("dst"), col("lab")),
          Seq("dst"))
        .groupBy(col("src").as("node"), col("lab"))
        .agg(sum(col("w")).as("kic"))
        .filter(col("node") % 2 === lit(parity))
      // own community is always a candidate; when it also appears among
      // the neighbor communities, max() keeps the real edge count and
      // absorbs the 0 row
      val cand = kic
        .unionByName(labels.filter(col("node") % 2 === lit(parity))
          .select(col("node"), col("lab"), lit(0L).as("kic")))
        .groupBy(col("node"), col("lab")).agg(max(col("kic")).as("kic"))
      val moved = cand
        .join(deg, Seq("node"))
        .join(labels.select(col("node"), col("lab").as("own_lab")),
          Seq("node"))
        .join(dtot, Seq("lab"))
        .crossJoin(broadcast(mdf))
        .select(col("node"), col("lab"),
          (lit(2L) * col("m") * col("kic") - col("deg") *
            (col("dc") - when(col("lab") === col("own_lab"), col("deg"))
              .otherwise(lit(0L)))).as("gain"),
          when(col("lab") === col("own_lab"), 0L).otherwise(1L)
            .as("not_own"))
        .groupBy(col("node"))
        .agg(min_by(col("lab"), struct((-col("gain")).as("ng"),
          col("not_own"), col("lab"))).as("lab"))
      // labels feeds FOUR consumers next sweep (dtot, kic, own_lab,
      // keepers) — without a per-sweep cut the plan tree multiplies
      // ~4× per sweep (measured: 25-60 s at sf0.1 uncut vs ~2 s cut)
      // r17: dtot/own_lab joins next sweep are keyed on node — carry it
      labels = moved
        .unionByName(labels.filter(col("node") % 2 =!= lit(parity)))
        .cutPartitionedBy(nParts, "node")
    }
    labels
  }

  /** q347: one Louvain level (4 parity-alternated local-move sweeps,
    * two per node) over the support-2 co-purchase graph, emitted as the
    * same per-community modularity census as q256 so the two partitions
    * are directly comparable. */
  def louvain(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .cutPartitionedBy(graft.Ckpt.scaleParts(spark, dir), "src")
    communityCensus(pairs, sym, louvainL1Labels(spark, dir))
  }

  /** q353: the FULL Louvain shape — q347's level-1 sweeps, then the
    * graph AGGREGATION phase (communities become weighted supernodes:
    * inter-community edge mass as edge weights, degree mass carried
    * through — intra-community mass rides only the degrees, since a
    * self-loop is constant across a supernode's candidate moves), then
    * two weighted local-move sweeps on the coarse graph. Coarsening is
    * what lets Louvain find communities LARGER than any single node's
    * neighborhood — and what makes it scale: the level-2 graph has one
    * node per level-1 community, so each further level costs a
    * vanishing fraction of level 1. Final labels map node → level-1
    * community → level-2 community; emitted as the same census as
    * q256/q347 so all three partitions are directly comparable. */
  def louvainTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .cutPartitionedBy(graft.Ckpt.scaleParts(spark, dir), "src")
    val nL2 = graft.Ckpt.scaleParts(spark, dir)
    val mdf = pairs.agg(count(lit(1)).as("m"))
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).cutPartitionedBy(nL2, "node")
    // the shared checkpointed level-1 stage: feeds coarsen (2 sides),
    // super degrees, and the final map here; q347's census reads it too
    val lab1 = louvainL1Labels(spark, dir)
    val superEdges = sym
      .join(lab1.select(col("node").as("src"), col("lab").as("la")),
        Seq("src"))
      .join(lab1.select(col("node").as("dst"), col("lab").as("lb")),
        Seq("dst"))
      .filter(col("la") =!= col("lb"))
      .groupBy(col("la").as("src"), col("lb").as("dst"))
      .agg(count(lit(1)).cast("long").as("w"))
      // probed by every level-2 sweep on dst — carry that layout (r17)
      .cutPartitionedBy(nL2, "dst")
    val superDeg = lab1.join(deg, Seq("node"))
      .groupBy(col("lab").as("node")).agg(sum(col("deg")).as("deg"))
      .cutPartitionedBy(nL2, "node")
    val lab2 = louvainSweeps(superEdges, superDeg, mdf, 2, nL2)
    val finalLab = lab1.select(col("node"), col("lab").as("c1"))
      .join(lab2.select(col("node").as("c1"), col("lab")), Seq("c1"))
      .select(col("node"), col("lab"))
    communityCensus(pairs, sym, finalLab)
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998) on
    * the support-2 co-purchase graph — the node-level cohesion score
    * that q153's GLOBAL closure ratio can't give: lcc(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)), the fraction of v's neighbor pairs that are
    * themselves connected (recommender folklore: high-lcc parts live in
    * coherent baskets, low-lcc high-degree parts are promiscuous
    * staples). Triangles enumerate via q153's degree-oriented adjacency
    * INTERSECTION (never the wedge self-join — see trianglesOf's
    * measured 14.2 s vs 3.8 s note), but exploded per closing node so
    * each triangle credits all THREE corners; per-node counts are then
    * one partial-agg'd shuffle over actual triangles (output-bounded,
    * arboricity-capped), and the coefficient is pure integer ppm with
    * the deg<2 singleton arm NULL in both engines. A tenth consumer of
    * the shared stage. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val nCc = graft.Ckpt.scaleParts(spark, dir)
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
      .cutPartitionedBy(nCc, "u")
    val deg = pairs.select(col("u").as("nd"))
      .unionByName(pairs.select(col("v").as("nd")))
      .groupBy(col("nd")).agg(count(lit(1)).as("deg"))
    val fwd = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oe = pairs
      .join(deg.select(col("nd").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("nd").as("v"), col("deg").as("dv")), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
      .cutPartitionedBy(nCc, "src")
    val adj = oe.groupBy(col("src")).agg(collect_list(col("dst")).as("ns"))
      .cutPartitionedBy(nCc, "src")
    val tris = oe
      .join(adj.select(col("src"), col("ns").as("nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("ns").as("nv")),
        Seq("dst"))
      .select(col("src"), col("dst"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    val nodeTri = tris.select(col("src").as("nd"))
      .unionByName(tris.select(col("dst").as("nd")))
      .unionByName(tris.select(col("w").as("nd")))
      .groupBy(col("nd")).agg(count(lit(1)).as("tri_n"))
    deg.join(nodeTri, Seq("nd"), "left_outer")
      .select(col("nd").as("node"), col("deg"),
        coalesce(col("tri_n"), lit(0L)).as("tri_n"),
        when(col("deg") >= 2,
          expr("2 * coalesce(tri_n, 0) * 1000000 div (deg * (deg - 1))"))
          .as("lcc_ppm"))
  }

  /** Bounded multi-source BFS rounds: dist(v) = min hops to any seed,
    * computed as R synchronous relaxation rounds (dist' = min(dist,
    * min over in-neighbors dist+1)); nodes farther than R hops keep a
    * NULL distance — the explicit "beyond the horizon" contract that
    * makes a FIXED round count a complete semantics (like [[lpaOf]]'s
    * labels-after-R-rounds), identical in both engines with no
    * convergence requirement. The null algebra is spelled
    * `least(coalesce(d, nd), coalesce(nd, d))` in BOTH engines so
    * neither side depends on its native least()-vs-NULL behavior.
    * Each round is one hash join (distances onto edge sources) + one
    * partial-agg'd min keyed on the destination — O(edges) per round,
    * one long of state per node. */
  private[graft] def bfsOf(sym: DataFrame, seeds: DataFrame,
                           rounds: Int): DataFrame = {
    val nodes = sym.select(col("src").as("node")).distinct()
    var dist = nodes.join(seeds.withColumn("d0", lit(0L)),
        nodes("node") === seeds("seed"), "left_outer")
      .select(col("node"), col("d0").as("d"))
    for (_ <- 1 to rounds) {
      val prop = sym.join(dist, sym("src") === dist("node"))
        .filter(col("d").isNotNull)
        .groupBy(col("dst")).agg(min(col("d") + 1).as("nd"))
      dist = dist.join(prop, dist("node") === prop("dst"), "left_outer")
        .select(col("node"),
          least(coalesce(col("d"), col("nd")),
            coalesce(col("nd"), col("d"))).as("d"))
    }
    dist
  }

  /** Hop-distance census from a seed set over the support-2 co-purchase
    * graph (the shared q185/q192/q197 stage — a fourth consumer): every
    * part's distance to the nearest "anchor" part (deterministic hash
    * slice standing in for a curated seed list — on a crawl graph this
    * is distance-to-trusted-domain, the classic quality prior), bounded
    * at 4 hops, unreachable-within-horizon reported as its own NULL
    * class. Output is the per-distance census. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .cutLineage()
    val seeds = sym.select(col("src").as("seed")).distinct()
      .filter(col("seed") % 97 === 0)
    bfsOf(sym, seeds, 4)
      .groupBy(col("d").as("hops"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
  }

  /** One unrolled synchronous BFS relaxation round for the DuckDB
    * oracle — the same coalesce-spelled null algebra as the Spark side. */
  private def bfsIterSql(i: Int): String =
    s"""d$i AS MATERIALIZED (
       |  SELECT n.node,
       |    least(coalesce(n.d, p.nd), coalesce(p.nd, n.d)) AS d
       |  FROM d${i - 1} n LEFT JOIN (
       |    SELECT e.dst AS node, min(l.d + 1) AS nd
       |    FROM e0 e JOIN d${i - 1} l ON e.src = l.node
       |    WHERE l.d IS NOT NULL GROUP BY 1) p
       |    ON n.node = p.node)""".stripMargin

  /** Bounded multi-source WEIGHTED relaxation rounds (Bellman–Ford in
    * its natural distributed form): dist(v) = min path cost to any seed
    * over paths of ≤ R edges, each round one hash join (distances onto
    * edge sources) + one partial-agg'd min keyed on the destination —
    * exactly [[bfsOf]] with the +1 hop increment generalized to the
    * edge's integer weight. The fixed round count is again the complete
    * contract ("cheapest within R hops", beyond-horizon = NULL): true
    * Bellman–Ford iterates to |V|−1 rounds, but on a co-occurrence
    * graph the analytic question is proximity within a bounded radius,
    * and a bounded round count is what makes the cost O(R·edges)
    * instead of diameter-dependent. Weights stay integers (no float
    * accumulation — path costs compare exactly in both engines). */
  private[graft] def spOf(symw: DataFrame, seeds: DataFrame,
                          rounds: Int): DataFrame = {
    val nodes = symw.select(col("src").as("node")).distinct()
    var dist = nodes.join(seeds.withColumn("d0", lit(0L)),
        nodes("node") === seeds("seed"), "left_outer")
      .select(col("node"), col("d0").as("d"))
    for (_ <- 1 to rounds) {
      val prop = symw.join(dist, symw("src") === dist("node"))
        .filter(col("d").isNotNull)
        .groupBy(col("dst")).agg(min(col("d") + col("w")).as("nd"))
      dist = dist.join(prop, dist("node") === prop("dst"), "left_outer")
        .select(col("node"),
          least(coalesce(col("d"), col("nd")),
            coalesce(col("nd"), col("d"))).as("d"))
    }
    dist
  }

  /** Cheapest-path census over the support-2 co-purchase graph (a fifth
    * consumer of the shared q185/q192/q197/q203 stage): edge cost =
    * 10^6 div pair support — strongly co-purchased parts are "close" —
    * and dist(v) = cheapest ≤4-edge path to the same anchor slice q203
    * seeds from. Where q203's hop count treats every edge alike, this
    * is the affinity-weighted proximity a recommender actually ranks
    * by. Output: census per 250k-cost band (NULL band = beyond the
    * 4-hop horizon), with exact min/max cost per band. */
  def cheapestPath(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir)
      .select(col("u"), col("v"),
        expr("CAST(1000000 DIV pair_n AS BIGINT)").as("w"))
    val symw = pairs.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(
        pairs.select(col("v").as("src"), col("u").as("dst"), col("w")))
      .cutLineage()
    val seeds = symw.select(col("src").as("seed")).distinct()
      .filter(col("seed") % 97 === 0)
    spOf(symw, seeds, 4)
      .groupBy(expr("CAST(d DIV 250000 AS BIGINT)").as("cost_band"))
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_cost"),
        max(col("d")).as("max_cost"), min(col("node")).as("min_node"))
  }

  /** Frequent 3-itemsets by Apriori candidate generation (Agrawal &
    * Srikant 1994, level 3): candidate triples come from joining the
    * support-≥2 PAIR relation on a shared prefix — (a,b)+(a,c) → (a,b,c)
    * — then pruning any candidate whose third side (b,c) is not itself
    * frequent (a semi-join against the same pair relation; the downward-
    * closure property makes this prune exact, not heuristic). Only the
    * surviving candidates are counted against the baskets, as three
    * cascading equi-joins on the order key with the candidate filter
    * pushed into each probe. This is THE reason level-2 support pruning
    * exists: the naive baskets³ self-join is Σ b³ over basket sizes,
    * while candidates are bounded by the (already support-cut) pair
    * list's prefix-join. Baskets here are per-CUSTOMER (everything a
    * customer ever bought) scoped to one part-key category slice —
    * order-level baskets go support-starved above sf0.01 (a measured 1
    * surviving candidate at sf0.1), and category-scoped mining is the
    * production framing anyway (affinities are mined within a
    * department, not across the whole catalog; at 100 TB each category
    * slice is an independent, embarrassingly-parallel mining job). The
    * basket relation is checkpointed once and probed five times.
    * Top-20 via TakeOrderedAndProject. */
  def itemsets3(spark: SparkSession, dir: String): DataFrame = {
    val baskets = t(spark, dir, "orders")
      .join(t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_partkey") % 4 === 0)
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
      .cutLineage()
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.ck") === col("b.ck") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)
      .select(col("u"), col("v"))
      // r16: three plan roles (both prefix-join sides + the closure
      // semi-join) each REPLAYED the basket self-join + support agg —
      // the query's dominant stage, paid 3× (guide §2.4)
      .cutLineage()
    val cand = pairs.as("p1")
      .join(pairs.as("p2"),
        col("p1.u") === col("p2.u") && col("p1.v") < col("p2.v"))
      .select(col("p1.u").as("a"), col("p1.v").as("b"),
        col("p2.v").as("c"))
      .join(pairs.select(col("u").as("b"), col("v").as("c")),
        Seq("b", "c"), "left_semi")
    cand
      .join(baskets.select(col("ck"), col("pk").as("a")), Seq("a"))
      .join(baskets.select(col("ck"), col("pk").as("b")), Seq("ck", "b"))
      .join(baskets.select(col("ck"), col("pk").as("c")), Seq("ck", "c"))
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .orderBy(col("sup").desc, col("a"), col("b"), col("c"))
      .limit(20)
  }

  /** Two rounds of neighborhood feature aggregation over the
    * co-purchase graph — GNN-style message passing in its relational
    * form (GraphSAGE-mean's aggregate step, Hamilton et al. 2017):
    * m1(v) = mean of neighbors' retail-price feature, m2(v) = mean of
    * neighbors' m1 — the 2-hop smoothed feature a recommender or fraud
    * model consumes as "what price neighborhood does this item live
    * in". Each round is ONE edge join + partial-agg'd (sum, count) per
    * destination — identical physical shape to [[lpaOf]]/[[bfsOf]],
    * O(edges·rounds) with one long of state per node. Means are
    * floor-quantized to integer cents each round (Σ div n): the
    * deterministic fixed-point discipline — float means would make
    * round 2 order-sensitive. An eighth consumer of the shared stage. */
  def featurePropagation(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))
      .cutLineage()
    val feat = t(spark, dir, "part")
      .select(col("p_partkey").as("node"),
        expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)")
          .as("f0"))
    val nf = sym.select(col("src").as("node")).distinct()
      .join(feat, Seq("node"))
    val m1 = sym.join(nf.select(col("node").as("src"), col("f0")),
        Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg"),
        expr("CAST(sum(f0) DIV count(1) AS BIGINT)").as("m1"))
    val m2 = sym.join(m1.select(col("node").as("src"), col("m1")),
        Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(expr("CAST(sum(m1) DIV count(1) AS BIGINT)").as("m2"))
    nf.join(m1, Seq("node")).join(m2, Seq("node"))
      .select(col("node"), col("f0"), col("deg"), col("m1"), col("m2"))
  }

  /** One unrolled weighted relaxation round for the DuckDB oracle —
    * [[bfsIterSql]] with the edge weight in place of the unit hop. */
  private def spIterSql(i: Int): String =
    s"""d$i AS MATERIALIZED (
       |  SELECT n.node,
       |    least(coalesce(n.d, p.nd), coalesce(p.nd, n.d)) AS d
       |  FROM d${i - 1} n LEFT JOIN (
       |    SELECT e.dst AS node, min(l.d + e.w) AS nd
       |    FROM e0 e JOIN d${i - 1} l ON e.src = l.node
       |    WHERE l.d IS NOT NULL GROUP BY 1) p
       |    ON n.node = p.node)""".stripMargin

  /** Item-item cosine similarity over basket co-occurrence (the
    * item-based collaborative-filtering core, Sarwar et al. 2001):
    * sim(i,j) = |orders with both| / sqrt(|orders with i|·|orders with
    * j|), computed only on the support-≥2 pairs the shared stage
    * already materialized — the minimum-support cut IS the candidate
    * prefilter that keeps this far from all-pairs at scale. Per-part
    * basket frequencies are one partial-agg'd count joined onto the
    * pair list twice (a dim-sized relation — broadcastable). The
    * cosine is bit-portable: freq products are exact in double up to
    * 2^52, and sqrt + one division are single correctly-rounded IEEE
    * ops, so both engines produce the identical double before the
    * stabilizing round. Top-20 via TakeOrderedAndProject — no global
    * sort. */
  def itemSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val freq = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .groupBy(col("pk")).agg(count(lit(1)).as("freq"))
    val fu = freq.select(col("pk").as("pk_u"), col("freq").as("freq_u"))
    val fv = freq.select(col("pk").as("pk_v"), col("freq").as("freq_v"))
    support2Pairs(spark, dir)
      .join(fu, col("u") === col("pk_u"))
      .join(fv, col("v") === col("pk_v"))
      .select(col("u"), col("v"), col("pair_n"), col("freq_u"),
        col("freq_v"),
        (round(col("pair_n") /
          sqrt(col("freq_u") * col("freq_v")), 9) + lit(0.0)).as("cos"))
      .orderBy(col("cos").desc, col("u"), col("v"))
      .limit(20)
  }

  /** One unrolled synchronous LPA round for the DuckDB oracle. DuckDB's
    * arg_min takes no struct key, so the (−count, label) order is packed
    * into a HUGEINT (−c·2^64 + lab): 128-bit, exact for any 64-bit
    * label — the same total order as the Spark side's struct key. */
  private def lpaIterSql(i: Int): String =
    s"""l$i AS MATERIALIZED (
       |  SELECT node,
       |    arg_min(lab, (-c)::HUGEINT * 18446744073709551616 + lab) AS lab
       |  FROM (
       |    SELECT e.dst AS node, l.lab AS lab, count(*) AS c
       |    FROM e0 e JOIN l${i - 1} l ON e.src = l.node
       |    GROUP BY 1, 2)
       |  GROUP BY 1)""".stripMargin

  /** One unrolled parity-alternated Louvain local-move sweep for the
    * DuckDB oracle — the SQL mirror of one [[louvainOf]] round. The
    * argmax over (gain DESC, stay-first, lab ASC) packs into a HUGEINT
    * like [[lpaIterSql]]: gain slot ×2⁶⁶, the not-own bit ×2⁶⁵, the
    * 64-bit label below — disjoint because labels are non-negative
    * BIGINTs; gains are BIGINT (≤ 4m² at gate SFs), so the 128-bit
    * pack is exact. */
  private def louvainIterSql(i: Int): String =
    louvainIterWSql(i, "e0u", "deg", "lv")

  /** Parametrized over (weighted edge CTE, degree CTE, label prefix)
    * so the identical generator mirrors level 1 (unit weights) and the
    * coarsened weighted level 2 of q353. */
  private def louvainIterWSql(i: Int, edges: String, deg: String,
      p: String): String =
    s"""${p}dt$i AS MATERIALIZED (
       |  SELECT l.lab, CAST(sum(d.deg) AS BIGINT) AS dc
       |  FROM $p${i - 1} l JOIN $deg d ON l.node = d.node GROUP BY 1),
       |${p}kc$i AS MATERIALIZED (
       |  SELECT e.src AS node, l.lab, CAST(sum(e.w) AS BIGINT) AS kic
       |  FROM $edges e JOIN $p${i - 1} l ON e.dst = l.node
       |  WHERE e.src % 2 = ${i % 2} GROUP BY 1, 2),
       |${p}cd$i AS (
       |  SELECT node, lab, max(kic) AS kic FROM (
       |    SELECT node, lab, kic FROM ${p}kc$i
       |    UNION ALL SELECT node, lab, CAST(0 AS BIGINT) FROM $p${i - 1}
       |    WHERE node % 2 = ${i % 2})
       |  GROUP BY 1, 2),
       |$p$i AS MATERIALIZED (
       |  SELECT c.node, arg_min(c.lab,
       |    (-(2 * mm.m * c.kic - d.deg * (dt.dc -
       |       CASE WHEN c.lab = o.lab THEN d.deg ELSE 0 END)))::HUGEINT
       |      * 73786976294838206464 +
       |    (CASE WHEN c.lab = o.lab THEN 0 ELSE 1 END)::HUGEINT
       |      * 36893488147419103232 + c.lab) AS lab
       |  FROM ${p}cd$i c
       |    JOIN $deg d ON c.node = d.node
       |    JOIN $p${i - 1} o ON c.node = o.node
       |    JOIN ${p}dt$i dt ON c.lab = dt.lab, mm
       |  GROUP BY 1
       |  UNION ALL
       |  SELECT node, lab FROM $p${i - 1} WHERE node % 2 <> ${i % 2})"""
      .stripMargin

  /** One unrolled 2-core peel round for the DuckDB oracle. MATERIALIZED
    * is load-bearing: each round reads its predecessor three times, and
    * DuckDB inlines plain CTEs — 8 rounds would expand to 3^8 scans of
    * the base table (observed as fd exhaustion, not just slowness). */
  private def kcIterSql(i: Int): String =
    s"""e$i AS MATERIALIZED (
       |  SELECT c.src, c.dst FROM e${i - 1} c
       |    JOIN (SELECT src FROM e${i - 1} GROUP BY 1
       |          HAVING count(*) >= 2) a ON c.src = a.src
       |    JOIN (SELECT src FROM e${i - 1} GROUP BY 1
       |          HAVING count(*) >= 2) b ON c.dst = b.src)""".stripMargin

  /** HITS hubs & authorities (Kleinberg, JACM 1999) on the directed
    * customer→part purchase bipartite — the OTHER eigenvector
    * centrality next to q119's PageRank: a good hub buys from good
    * authorities and vice versa, so two mutual-reinforcement rounds
    * (a ← eᵀh, h ← e·a) concentrate score on the structural core.
    * Scores stay UNNORMALIZED exact integers: per-round normalization
    * is a positive scalar, so it changes no ranking and no ratio —
    * dropping it is what makes the statistic bit-portable (a1 =
    * in-degree; h2 ≤ deg·max(a2) < 2⁶³ here; at ~100× this SF the
    * sums switch to decimal(38), the q256 precedent). The distinct
    * edge relation materializes ONCE ([[graft.Ckpt]]) and every
    * half-round is one edge-keyed equi-join + partial agg — O(edges)
    * per round, the q223/q241 shape; top-15 per side via
    * TakeOrderedAndProject, never a global sort. */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      // lazy (r17): all four half-rounds sit in ONE action — the eager
      // cut was a serial barrier job, not a cross-action guard
      .distinct().cutLineage(eager = false) // probed by all four half-rounds
    val a1 = e.groupBy(col("p")).agg(count(lit(1)).as("a1"))
    val h1 = e.join(a1, Seq("p"))
      .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = e.join(h1, Seq("c"))
      .groupBy(col("p")).agg(sum(col("h1")).as("a2"))
    // (r16 probe: cutting a2 for its two consumers measured +4% — both
    // roles sit in ONE action's plan, so AQE's runtime stage cache
    // already reuses the canonically-identical a2 subtree; the cut only
    // added a materialization job. Left uncut deliberately.)
    val h2 = e.join(a2, Seq("p"))
      .groupBy(col("c")).agg(sum(col("a2")).as("h2"))
    h2.orderBy(col("h2").desc, col("c").asc).limit(15)
      .select(lit("hub").as("kind"), col("c").as("id"),
        col("h2").as("score"))
      .unionByName(
        a2.orderBy(col("a2").desc, col("p").asc).limit(15)
          .select(lit("authority").as("kind"), col("p").as("id"),
            col("a2").as("score")))
  }

  /** DBSCAN density clustering (Ester, Kriegel, Sander & Xu, KDD 1996)
    * over the q236 synthetic geography — the density member the
    * clustering family lacked (q192 k-core and q197 LPA cluster the
    * GRAPH; DBSCAN clusters the PLANE, finds arbitrary-shape clusters
    * and, unlike k-means, a first-class noise class). The radius is
    * density-scaled so the operator is corpus-size-free: eps =
    * floor(√(2·area/(π·n))) targets ~2 expected in-disc neighbors at
    * ANY n (both engines derive it from count(*) — the embeddingCells
    * k-from-count discipline; one IEEE sqrt, correctly rounded, then
    * integers end-to-end). The 2 is deliberately SUBCRITICAL for
    * random geometric graphs (percolation at mean degree ≈4.5): a
    * supercritical target grows a giant mesh component whose min-label
    * CC takes O(mesh width) rounds — measured 5+ minutes at sf0.1
    * before this constant was lowered — while subcritical components
    * stay O(log n) and the CC loop converges in a handful of rounds. Spark runs the eps-grid candidate equi-join
    * (cell side = eps in the SCALED-longitude metric space, the d67faf3
    * lesson, so ±1 cells provably cover the disc); the ORACLE is
    * deliberately grid-FREE (brute-force n² pair filter) — it re-proves
    * the grid's completeness on every gate run instead of replicating
    * its possible blind spots. Core = ≥4 in-disc points (self
    * included); core–core edges feed [[Dedup.connectedComponents]]
    * (pointer jumping, O(log diameter) rounds); border points take the
    * min cluster among in-disc cores; the rest are noise. At 100 TB the
    * candidate join stays linear (expected cell occupancy is ~4/π by
    * construction) and the CC is the q53-proven O(edges)-per-round
    * loop. */
  def dbscan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextOps
    val minPts = 4L
    val cust = t(spark, dir, "customer")
    val epsDf = cust.agg(count(lit(1)).as("n"))
      // greatest(n,1): an empty domain would divide by zero under ANSI —
      // eps is irrelevant there (no points), mirrored in the oracle SQL
      .select(expr("CAST(floor(sqrt(2.0 * 760400000000.0 /" +
        " (pi() * greatest(n, 1)))) AS BIGINT)").as("eps"))
    val pts = cust.select(col("c_custkey").as("id"),
        (lit(40000000L) + TextOps.portableHash(concat(lit("lat:"),
          col("c_custkey").cast("string"))) % 1000000L).as("lat"),
        (lit(106000000L) + TextOps.portableHash(concat(lit("lon:"),
          col("c_custkey").cast("string"))) % 1000000L).as("rawlon"))
      .withColumn("slon", expr("rawlon * 7604 DIV 10000"))
      .crossJoin(broadcast(epsDf))
      .select(col("id"), col("lat"), col("slon"), col("eps"))
      // lazy (r17): materializes inside the CC loop's first action;
      // both candidate-join sides still read the one cached copy
      .cutLineage(eager = false) // both candidate-join sides probe it
    val a = pts
      .withColumn("da", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("db", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("ai"), col("lat").as("lat_a"),
        col("slon").as("slon_a"), col("eps"),
        (expr("lat DIV eps") + col("da")).as("clat"),
        (expr("slon DIV eps") + col("db")).as("clon"))
    val b = pts.select(col("id").as("bi"), col("lat").as("lat_b"),
      col("slon").as("slon_b"),
      expr("lat DIV eps").as("clat"), expr("slon DIV eps").as("clon"))
    val near = a.join(b, Seq("clat", "clon"))
      .filter(expr("(lat_a - lat_b) * (lat_a - lat_b) + " +
        "(slon_a - slon_b) * (slon_a - slon_b) <= eps * eps"))
      .select(col("ai"), col("bi"))
      .cutLineage(eager = false) // feeds counts, core edges AND border assignment
    val nin = near.groupBy(col("ai")).agg(count(lit(1)).as("n_in"))
      // r16: consumed by cores (→ 3 more roles) AND the final role
      // readout — uncut, the in-disc count agg over `near` ran twice
      .cutLineage(eager = false)
    val cores = nin.filter(col("n_in") >= minPts).select(col("ai").as("id"))
    val coreEdges = near
      .join(cores.select(col("id").as("ai")), Seq("ai"))
      .join(cores.select(col("id").as("bi")), Seq("bi"))
      .filter(col("ai") < col("bi"))
      .select(col("ai"), col("bi"))
    val comps = Dedup.connectedComponents(coreEdges,
      parts = graft.Ckpt.scaleParts(spark, dir)).toDF("id", "comp")
    val coreCl = cores.join(comps, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("comp"), col("id")).as("core_cluster"))
    val nearCoreMin = near
      .join(coreCl.select(col("id").as("bi"),
        col("core_cluster").as("ncl")), Seq("bi"))
      .groupBy(col("ai")).agg(min(col("ncl")).as("near_cluster"))
    pts.select(col("id"))
      .join(coreCl, Seq("id"), "left_outer")
      .join(nearCoreMin.withColumnRenamed("ai", "id"), Seq("id"),
        "left_outer")
      .join(nin.withColumnRenamed("ai", "id"), Seq("id"), "left_outer")
      .select(col("id"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("near_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"), col("near_cluster")).as("cluster"),
        col("n_in"))
  }

  /** Next-basket recommendation evaluation (the leave-last-out
    * protocol of session-based recsys, cf. Hidasi et al. 2016 §5): per
    * customer, the SECOND-to-last order is the query, the LAST order
    * is held-out truth, and the recommender is the q227 co-purchase
    * model — candidates scored by summed pair support over the query's
    * parts, top-3 by (score, part) — measured as hit@3 against truth,
    * with the TOP-POPULARITY baseline every recsys eval must beat
    * alongside. The pair relation is the shared memoized support-2
    * stage (its 11th consumer — priced separately in Bench); the
    * temporal split rides one per-customer window over orders (never
    * corpus-wide), candidate generation is query-parts × pair-degree
    * (bounded by the support cut), and misses stay in the denominator
    * via the left join — the honest protocol. All-integer scoring,
    * deterministic ties. */
  def nextItemEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate").desc, col("ok").desc)
    val ranked = t(spark, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
        col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .cutLineage() // feeds eval set, query side and truth side
    val baskets = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val test = ranked.filter(col("rn") === 1).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("truth"))
    val query = ranked.filter(col("rn") === 2).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("qp"))
    val pairs = support2Pairs(spark, dir)
    val sym = pairs
      .select(col("u").as("a"), col("v").as("b"), col("pair_n"))
      .unionByName(pairs
        .select(col("v").as("a"), col("u").as("b"), col("pair_n")))
    val wTop = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("b").asc)
    val top3 = query.join(sym, col("qp") === col("a"))
      .groupBy(col("cust"), col("b")).agg(sum(col("pair_n")).as("score"))
      .withColumn("trn", row_number().over(wTop))
      .filter(col("trn") <= 3)
    val hits = top3
      .join(test.select(col("cust"), col("truth")),
        top3("cust") === test("cust") && top3("b") === test("truth"))
      .select(top3("cust").as("hcust")).distinct()
    val popTop = baskets.groupBy(col("pk")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("pk").asc).limit(3)
    val popHits = test.join(broadcast(popTop),
        test("truth") === popTop("pk"))
      .select(col("cust").as("pcust")).distinct()
    ranked.filter(col("rn") === 2).select(col("cust"))
      .join(hits, col("cust") === col("hcust"), "left_outer")
      .join(popHits, col("cust") === col("pcust"), "left_outer")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("hcust").isNotNull, 1L).otherwise(0L))
          .as("hits_at3"),
        sum(when(col("pcust").isNotNull, 1L).otherwise(0L))
          .as("pop_hits_at3"))
      .select(col("n_customers"), col("hits_at3"), col("pop_hits_at3"),
        (round(col("hits_at3").cast("double") / col("n_customers"), 6)
          + lit(0.0)).as("hit_rate_r"),
        (round(col("pop_hits_at3").cast("double") / col("n_customers"),
          6) + lit(0.0)).as("pop_rate_r"))
  }

  /** Link prediction on the support-2 co-purchase graph (Liben-Nowell
    * & Kleinberg 2003, the structural-similarity scorers; resource
    * allocation per Zhou, Lü & Zhang 2009): score ABSENT edges (u, w)
    * that share at least one common neighbor with four classic indices
    * — common-neighbor count `cn`, the quantized resource-allocation
    * index `ra_q` = Σ_z 10⁶ div deg(z) (each common neighbor z donates
    * an equal split of its unit resource; integral div keeps it exact
    * integer where 1/log·deg Adamic–Adar could not be), neighbor-set
    * `jaccard_ppm` = cn·10⁶ div (deg_u + deg_w − cn), and preferential
    * attachment `pa` = deg_u·deg_w — then the top-20 predicted links by
    * (cn, ra_q, u, w), a TakeOrderedAndProject, never a global sort.
    *
    * Scale shape: candidate generation is the wedge join z→(u,w) over
    * the shared memoized support-2 stage (its 12th consumer — priced
    * separately in Bench), Σ_z C(deg z, 2) wedges exactly like q153's
    * pre-orientation bound; every wedge CONTRIBUTES to some candidate's
    * cn, so the join is output-bearing work, not blowup, and the
    * support-≥2 cut bounds degrees the way any minimum-support rule
    * does. Existing edges leave by one anti-join; degree lookups are
    * two joins against the ≤|nodes| degree relation. All-integer
    * scoring, deterministic ties ((u, w) is unique per candidate). */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val pairs = support2Pairs(spark, dir).select(col("u"), col("v"))
    val sym = pairs.select(col("u").as("a"), col("v").as("b"))
      .unionByName(pairs.select(col("v").as("a"), col("u").as("b")))
      .cutLineage() // feeds degrees AND both wedge sides
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("dg"))
    val wedges = sym.as("x")
      .join(sym.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("u"), col("y.b").as("w"), col("x.a").as("z"))
    val cand = wedges
      .join(deg.select(col("a").as("z"), col("dg").as("dz")), Seq("z"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div dz")).as("ra_q"))
    val nonEdge = cand.join(pairs,
      cand("u") === pairs("u") && cand("w") === pairs("v"), "left_anti")
    nonEdge
      .join(deg.select(col("a").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("a").as("w"), col("dg").as("dw")), Seq("w"))
      .select(col("u"), col("w"), col("cn"), col("ra_q"),
        expr("cn * 1000000 div (du + dw - cn)").as("jaccard_ppm"),
        (col("du") * col("dw")).as("pa"))
      .orderBy(col("cn").desc, col("ra_q").desc, col("u").asc,
        col("w").asc)
      .limit(20)
  }

  /** Mean reciprocal rank at 3 for the q285 leave-last-out protocol
    * (Voorhees 1999, the TREC-8 QA measure) — hit@3 says WHETHER the
    * truth appeared in the top-3, MRR says WHERE: the first rank r at
    * which ANY held-out item appears contributes 1/r. Reciprocals live
    * in exact SIXTHS (rank 1 → 6, 2 → 3, 3 → 2, miss → 0; lcm(1,2,3) =
    * 6), so the corpus-wide sum is an exact integer and the readout is
    * one integral ppm division plus one rounded double — no float in
    * the accumulation. Same bounded candidate join as q285 (the shared
    * support-2 stage's 13th consumer); misses stay in the denominator
    * via the left join. */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate").desc, col("ok").desc)
    val ranked = t(spark, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
        col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .cutLineage() // feeds eval set, query side and truth side
    val baskets = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val test = ranked.filter(col("rn") === 1).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("truth"))
    val query = ranked.filter(col("rn") === 2).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("qp"))
    val pairs = support2Pairs(spark, dir)
    val sym = pairs
      .select(col("u").as("a"), col("v").as("b"), col("pair_n"))
      .unionByName(pairs
        .select(col("v").as("a"), col("u").as("b"), col("pair_n")))
    val wTop = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("b").asc)
    val top3 = query.join(sym, col("qp") === col("a"))
      .groupBy(col("cust"), col("b")).agg(sum(col("pair_n")).as("score"))
      .withColumn("trn", row_number().over(wTop))
      .filter(col("trn") <= 3)
    val best = top3
      .join(test.select(col("cust"), col("truth")),
        top3("cust") === test("cust") && top3("b") === test("truth"))
      .groupBy(top3("cust").as("bcust"))
      .agg(min(col("trn")).as("best_rank"))
    ranked.filter(col("rn") === 2).select(col("cust"))
      .join(best, col("cust") === col("bcust"), "left_outer")
      .select(
        when(col("best_rank") === 1, 6L).when(col("best_rank") === 2, 3L)
          .when(col("best_rank") === 3, 2L).otherwise(0L).as("rr_x6"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rr_x6")).as("sum_rr_x6"))
      .select(col("n_customers"), col("sum_rr_x6"),
        expr("sum_rr_x6 * 1000000 div (6 * n_customers)").as("mrr_ppm"),
        (round(col("sum_rr_x6").cast("double") /
          (lit(6.0) * col("n_customers")), 6) + lit(0.0)).as("mrr_r"))
  }

  /** NDCG@3 for the q285 leave-last-out protocol (Järvelin & Kekäläinen,
    * TOIS 2002) — hit@3 (q285) asks WHETHER, MRR (q302) asks WHERE
    * FIRST; NDCG grades the WHOLE ranked list with position discounts.
    * The 1/log₂(r+1) discounts are DATA-FREE constants quantized to ppm
    * once (1000000, 630930, 500000 — lcm tricks can't make logs
    * rational, constants can), so per-customer DCG is an exact integer
    * sum, ideal DCG is the top-min(|truth|,3) prefix of the same
    * constants, and ndcg = DCG·10⁶ div IDCG is one integral division —
    * bit-portable end to end, no float in the accumulation. Customers
    * whose held-out basket is empty have undefined NDCG and are
    * excluded by the inner tsize join (the standard convention);
    * the candidate join is the shared support-2 stage's 14th
    * consumer. */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate").desc, col("ok").desc)
    val ranked = t(spark, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
        col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .cutLineage() // feeds eval set, query side and truth side
    val baskets = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val test = ranked.filter(col("rn") === 1).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("truth"))
    val query = ranked.filter(col("rn") === 2).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("qp"))
    val pairs = support2Pairs(spark, dir)
    val sym = pairs
      .select(col("u").as("a"), col("v").as("b"), col("pair_n"))
      .unionByName(pairs
        .select(col("v").as("a"), col("u").as("b"), col("pair_n")))
    val wTop = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("b").asc)
    val top3 = query.join(sym, col("qp") === col("a"))
      .groupBy(col("cust"), col("b")).agg(sum(col("pair_n")).as("score"))
      .withColumn("trn", row_number().over(wTop))
      .filter(col("trn") <= 3)
    val tsize = test.groupBy(col("cust"))
      .agg(countDistinct(col("truth")).as("ts"))
    val dcg = top3
      .join(test, top3("cust") === test("cust") &&
        top3("b") === test("truth"), "left_semi")
      .groupBy(col("cust"))
      .agg(sum(when(col("trn") === 1, 1000000L)
        .when(col("trn") === 2, 630930L).otherwise(500000L))
        .as("dcg_ppm"))
    ranked.filter(col("rn") === 2).select(col("cust"))
      .join(tsize, Seq("cust"))
      .join(dcg, Seq("cust"), "left_outer")
      .na.fill(0L, Seq("dcg_ppm"))
      .withColumn("idcg_ppm", lit(1000000L) +
        when(col("ts") >= 2, 630930L).otherwise(0L) +
        when(col("ts") >= 3, 500000L).otherwise(0L))
      .withColumn("ndcg_ppm", expr("dcg_ppm * 1000000 div idcg_ppm"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("ndcg_ppm")).as("s"),
        sum(when(col("ndcg_ppm") === 1000000L, 1L).otherwise(0L))
          .as("n_perfect"))
      .select(col("n_customers"),
        expr("s div n_customers").as("mean_ndcg_ppm"), col("n_perfect"),
        (round(col("s").cast("double") /
          (col("n_customers").cast("double") * 1.0e6), 6) + lit(0.0))
          .as("mean_ndcg_r"))
  }

  /** Catalog coverage and exposure concentration of the q285
    * recommender (Adomavicius & Kwon, TKDE 2012 — "aggregate
    * diversity": accuracy metrics alone reward popularity bias; a
    * recommender that only ever shows the same few items has high
    * hit-rate and no catalog value). From the same top-3 lists:
    * coverage_ppm = distinct recommended parts over the purchasable
    * catalog (parts appearing in any basket), and top_share_ppm = the
    * share of all recommendation SLOTS taken by the top-1% most
    * recommended parts (k = max(1, distinct/100), deterministic
    * (count, part) order) — the popularity-concentration readout. The
    * exposure relation is dimension-bounded (≤ |parts|), so its window
    * is the collapse-then-window house shape; support-2 stage's 15th
    * consumer. */
  def recCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust"))
      .orderBy(col("o_orderdate").desc, col("ok").desc)
    val ranked = t(spark, dir, "orders")
      .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"),
        col("o_orderdate"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val baskets = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .cutLineage() // feeds the query side AND the catalog size
    val query = ranked.filter(col("rn") === 2).join(baskets, Seq("ok"))
      .select(col("cust"), col("pk").as("qp"))
    val pairs = support2Pairs(spark, dir)
    val sym = pairs
      .select(col("u").as("a"), col("v").as("b"), col("pair_n"))
      .unionByName(pairs
        .select(col("v").as("a"), col("u").as("b"), col("pair_n")))
    val wTop = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("b").asc)
    val top3 = query.join(sym, col("qp") === col("a"))
      .groupBy(col("cust"), col("b")).agg(sum(col("pair_n")).as("score"))
      .withColumn("trn", row_number().over(wTop))
      .filter(col("trn") <= 3)
      // r16: consumed by expo (an EAGER cut, i.e. its own action) AND
      // nCust (the final action) — the whole query⋈sym + score-window
      // pipeline ran twice, once per action, invisible to AQE's
      // per-action stage cache. One cut, one compute (guide §2.4).
      .cutLineage()
    val expo = top3.groupBy(col("b")).agg(count(lit(1)).as("n_rec"))
      .cutLineage() // dimension-bounded; feeds totals AND the top slice
    val tot = expo.agg(count(lit(1)).as("n_rec_distinct"),
      sum(col("n_rec")).as("total_slots"))
    val nCust = top3.select(col("cust")).distinct()
      .agg(count(lit(1)).as("n_customers"))
    val cat = baskets.agg(countDistinct(col("pk")).as("n_catalog"))
    // top-1% exposure WITHOUT ranking the (part -> n_rec) relation in
    // one partition (it grows with the catalog — the r15 bounded-window
    // lint flagged it 142 -> 1044 across a 10x corpus): collapse to the
    // (n_rec -> #parts) HISTOGRAM (distinct slot-count values — tens at
    // any corpus size), cumulate descending, and resolve the k-th part
    // arithmetically. Ties at the threshold all carry the same n_rec,
    // so this equals the old "k parts by (n_rec desc, b asc)" sum
    // exactly — the oracle is unchanged.
    val hist = expo.groupBy(col("n_rec")).agg(count(lit(1)).as("m"))
    val wH = Window.orderBy(col("n_rec").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val topShare = hist
      .withColumn("cum_m", sum(col("m")).over(wH))
      .crossJoin(broadcast(tot))
      .withColumn("k", greatest(lit(1L), expr("n_rec_distinct div 100")))
      .filter(col("cum_m") - col("m") < col("k"))
      .agg(sum(least(col("m"), col("k") - (col("cum_m") - col("m")))
          * col("n_rec")).as("top_slots"),
        max(col("k")).as("k"))
    nCust.crossJoin(broadcast(tot)).crossJoin(broadcast(cat))
      .crossJoin(broadcast(topShare))
      .select(col("n_customers"), col("total_slots"),
        col("n_rec_distinct"), col("n_catalog"), col("k"),
        // greatest(..,1): empty corpus has an empty catalog / zero
        // slots and ANSI division would throw (r16 adversarial sweep)
        expr("n_rec_distinct * 1000000 div greatest(n_catalog, 1L)")
          .as("coverage_ppm"),
        expr("top_slots * 1000000 div greatest(total_slots, 1L)")
          .as("top_share_ppm"))
  }

  val catalog: Seq[Q] = Seq(
    Q("q307_rec_coverage", recCoverage _,
      """WITH ranked AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT u AS a, v AS b, pair_n FROM pairs
        |  UNION ALL
        |  SELECT v, u, pair_n FROM pairs),
        |query AS (
        |  SELECT r.cust, bk.pk AS qp
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 2),
        |scores AS (
        |  SELECT q.cust, s.b, CAST(sum(s.pair_n) AS BIGINT) AS score
        |  FROM query q JOIN sym s ON q.qp = s.a
        |  GROUP BY 1, 2),
        |top3 AS (
        |  SELECT cust, b FROM (
        |    SELECT cust, b, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, b ASC) AS trn
        |    FROM scores) WHERE trn <= 3),
        |expo AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS n_rec
        |  FROM top3 GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rec_distinct,
        |    CAST(sum(n_rec) AS BIGINT) AS total_slots FROM expo),
        |ncust AS (
        |  SELECT CAST(count(DISTINCT cust) AS BIGINT) AS n_customers
        |  FROM top3),
        |cat AS (
        |  SELECT CAST(count(DISTINCT pk) AS BIGINT) AS n_catalog
        |  FROM baskets),
        |tops AS (
        |  SELECT CAST(sum(n_rec) AS BIGINT) AS top_slots,
        |    CAST(max(greatest(1, n_rec_distinct // 100)) AS BIGINT)
        |      AS k
        |  FROM (
        |    SELECT n_rec, n_rec_distinct,
        |      row_number() OVER (ORDER BY n_rec DESC, b ASC) AS r
        |    FROM expo, tot)
        |  WHERE r <= greatest(1, n_rec_distinct // 100))
        |SELECT n_customers, total_slots, n_rec_distinct, n_catalog, k,
        |  n_rec_distinct * 1000000 // greatest(n_catalog, 1)
        |    AS coverage_ppm,
        |  top_slots * 1000000 // greatest(total_slots, 1)
        |    AS top_share_ppm
        |FROM ncust, tot, cat, tops""".stripMargin),
    Q("q301_ndcg", ndcgEval _,
      """WITH ranked AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT u AS a, v AS b, pair_n FROM pairs
        |  UNION ALL
        |  SELECT v, u, pair_n FROM pairs),
        |test AS (
        |  SELECT r.cust, bk.pk AS truth
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 1),
        |query AS (
        |  SELECT r.cust, bk.pk AS qp
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 2),
        |scores AS (
        |  SELECT q.cust, s.b, CAST(sum(s.pair_n) AS BIGINT) AS score
        |  FROM query q JOIN sym s ON q.qp = s.a
        |  GROUP BY 1, 2),
        |top3 AS (
        |  SELECT cust, b, trn FROM (
        |    SELECT cust, b, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, b ASC) AS trn
        |    FROM scores) WHERE trn <= 3),
        |tsize AS (
        |  SELECT cust, count(DISTINCT truth) AS ts
        |  FROM test GROUP BY 1),
        |dcg AS (
        |  SELECT t3.cust,
        |    CAST(sum(CASE t3.trn WHEN 1 THEN 1000000 WHEN 2 THEN 630930
        |      ELSE 500000 END) AS BIGINT) AS dcg_ppm
        |  FROM top3 t3 JOIN test t
        |    ON t.cust = t3.cust AND t.truth = t3.b
        |  GROUP BY 1),
        |per AS (
        |  SELECT e.cust, coalesce(d.dcg_ppm, 0) AS dcg_ppm,
        |    1000000 + CASE WHEN s.ts >= 2 THEN 630930 ELSE 0 END +
        |      CASE WHEN s.ts >= 3 THEN 500000 ELSE 0 END AS idcg_ppm
        |  FROM (SELECT cust FROM ranked WHERE rn = 2) e
        |    JOIN tsize s ON s.cust = e.cust
        |    LEFT JOIN dcg d ON d.cust = e.cust),
        |p2 AS (
        |  SELECT cust, dcg_ppm * 1000000 // idcg_ppm AS ndcg_ppm
        |  FROM per)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(ndcg_ppm) // count(*) AS BIGINT) AS mean_ndcg_ppm,
        |  CAST(sum(CASE WHEN ndcg_ppm = 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_perfect,
        |  round(CAST(sum(ndcg_ppm) AS DOUBLE) / (count(*) * 1e6), 6)
        |    + 0.0 AS mean_ndcg_r
        |FROM p2""".stripMargin),
    Q("q291_link_prediction", linkPrediction _,
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT u AS a, v AS b FROM pairs
        |  UNION ALL
        |  SELECT v, u FROM pairs),
        |deg AS (SELECT a, count(*) AS dg FROM sym GROUP BY 1),
        |wed AS (
        |  SELECT x.b AS u, y.b AS w, x.a AS z
        |  FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b),
        |cand AS (
        |  SELECT wed.u, wed.w, CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1000000 // dz.dg) AS BIGINT) AS ra_q
        |  FROM wed JOIN deg dz ON dz.a = wed.z
        |  GROUP BY 1, 2),
        |nonedge AS (
        |  SELECT c.* FROM cand c
        |  LEFT JOIN pairs p ON p.u = c.u AND p.v = c.w
        |  WHERE p.u IS NULL)
        |SELECT ne.u, ne.w, ne.cn, ne.ra_q,
        |  CAST(ne.cn * 1000000 // (du.dg + dw.dg - ne.cn) AS BIGINT)
        |    AS jaccard_ppm,
        |  CAST(du.dg * dw.dg AS BIGINT) AS pa
        |FROM nonedge ne
        |  JOIN deg du ON du.a = ne.u
        |  JOIN deg dw ON dw.a = ne.w
        |ORDER BY cn DESC, ra_q DESC, u ASC, w ASC
        |LIMIT 20""".stripMargin),
    Q("q302_mrr", mrrEval _,
      """WITH ranked AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT u AS a, v AS b, pair_n FROM pairs
        |  UNION ALL
        |  SELECT v, u, pair_n FROM pairs),
        |test AS (
        |  SELECT r.cust, bk.pk AS truth
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 1),
        |query AS (
        |  SELECT r.cust, bk.pk AS qp
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 2),
        |scores AS (
        |  SELECT q.cust, s.b, CAST(sum(s.pair_n) AS BIGINT) AS score
        |  FROM query q JOIN sym s ON q.qp = s.a
        |  GROUP BY 1, 2),
        |top3 AS (
        |  SELECT cust, b, trn FROM (
        |    SELECT cust, b, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, b ASC) AS trn
        |    FROM scores) WHERE trn <= 3),
        |best AS (
        |  SELECT t3.cust, min(t3.trn) AS best_rank
        |  FROM top3 t3 JOIN test t
        |    ON t.cust = t3.cust AND t.truth = t3.b
        |  GROUP BY 1),
        |ev AS (
        |  SELECT r.cust,
        |    CASE b.best_rank WHEN 1 THEN 6 WHEN 2 THEN 3 WHEN 3 THEN 2
        |      ELSE 0 END AS rr_x6
        |  FROM ranked r LEFT JOIN best b ON b.cust = r.cust
        |  WHERE r.rn = 2)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(rr_x6) AS BIGINT) AS sum_rr_x6,
        |  CAST(sum(rr_x6) * 1000000 // (6 * count(*)) AS BIGINT)
        |    AS mrr_ppm,
        |  round(CAST(sum(rr_x6) AS DOUBLE) / (6.0 * count(*)), 6) + 0.0
        |    AS mrr_r
        |FROM ev""".stripMargin),
    Q("q285_next_item_eval", nextItemEval _,
      """WITH ranked AS (
        |  SELECT o_custkey AS cust, o_orderkey AS ok,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (
        |  SELECT u AS a, v AS b, pair_n FROM pairs
        |  UNION ALL
        |  SELECT v, u, pair_n FROM pairs),
        |test AS (
        |  SELECT r.cust, bk.pk AS truth
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 1),
        |query AS (
        |  SELECT r.cust, bk.pk AS qp
        |  FROM ranked r JOIN baskets bk ON bk.ok = r.ok
        |  WHERE r.rn = 2),
        |scores AS (
        |  SELECT q.cust, s.b, CAST(sum(s.pair_n) AS BIGINT) AS score
        |  FROM query q JOIN sym s ON q.qp = s.a
        |  GROUP BY 1, 2),
        |top3 AS (
        |  SELECT cust, b FROM (
        |    SELECT cust, b, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, b ASC) AS trn
        |    FROM scores) WHERE trn <= 3),
        |hits AS (
        |  SELECT DISTINCT t3.cust FROM top3 t3
        |  JOIN test t ON t.cust = t3.cust AND t.truth = t3.b),
        |poptop AS (
        |  SELECT pk FROM (
        |    SELECT pk, count(*) AS freq FROM baskets GROUP BY 1)
        |  ORDER BY freq DESC, pk ASC LIMIT 3),
        |pophits AS (
        |  SELECT DISTINCT t.cust FROM test t
        |  JOIN poptop p ON t.truth = p.pk),
        |ev AS (SELECT cust FROM ranked WHERE rn = 2)
        |SELECT count(*) AS n_customers,
        |  CAST(sum(CASE WHEN h.cust IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS hits_at3,
        |  CAST(sum(CASE WHEN ph.cust IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS pop_hits_at3,
        |  round(CAST(sum(CASE WHEN h.cust IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) + 0.0 AS hit_rate_r,
        |  round(CAST(sum(CASE WHEN ph.cust IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) + 0.0 AS pop_rate_r
        |FROM ev LEFT JOIN hits h ON h.cust = ev.cust
        |  LEFT JOIN pophits ph ON ph.cust = ev.cust""".stripMargin),
    Q("q274_dbscan", dbscan _,
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM customer),
        |ee AS (
        |  SELECT CAST(floor(sqrt(2.0 * 760400000000.0 /
        |      (pi() * greatest(n, 1)))) AS BIGINT) AS eps FROM nn),
        |p AS (
        |  SELECT c_custkey AS id,
        |    40000000 + ('0x' || substr(md5('lat:' ||
        |      CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 1000000
        |      AS lat,
        |    (106000000 + ('0x' || substr(md5('lon:' ||
        |      CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 1000000)
        |      * 7604 // 10000 AS slon
        |  FROM customer),
        |near AS (
        |  SELECT a.id AS ai, b.id AS bi
        |  FROM p a, p b, ee
        |  WHERE (a.lat - b.lat) * (a.lat - b.lat) +
        |    (a.slon - b.slon) * (a.slon - b.slon) <= eps * eps),
        |nin AS (SELECT ai, count(*) AS n_in FROM near GROUP BY 1),
        |cores AS (SELECT ai AS id FROM nin WHERE n_in >= 4),
        |sym AS (
        |  SELECT n.ai AS s, n.bi AS d FROM near n
        |  JOIN cores ca ON ca.id = n.ai
        |  JOIN cores cb ON cb.id = n.bi
        |  WHERE n.ai <> n.bi),
        |reach AS (
        |  SELECT s AS v, s AS r FROM sym
        |  UNION
        |  SELECT sym.d AS v, reach.r AS r
        |  FROM sym JOIN reach ON sym.s = reach.v),
        |comp AS (SELECT v AS id, min(r) AS comp FROM reach GROUP BY 1),
        |corecl AS (
        |  SELECT c.id, coalesce(cp.comp, c.id) AS core_cluster
        |  FROM cores c LEFT JOIN comp cp ON cp.id = c.id),
        |ncm AS (
        |  SELECT n.ai AS id, min(cc.core_cluster) AS near_cluster
        |  FROM near n JOIN corecl cc ON cc.id = n.bi GROUP BY 1)
        |SELECT p.id,
        |  CASE WHEN cc.id IS NOT NULL THEN 'core'
        |       WHEN ncm.near_cluster IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  coalesce(cc.core_cluster, ncm.near_cluster) AS cluster,
        |  nin.n_in
        |FROM p LEFT JOIN corecl cc ON cc.id = p.id
        |  LEFT JOIN ncm ON ncm.id = p.id
        |  LEFT JOIN nin ON nin.ai = p.id""".stripMargin),
    Q("q266_hits", hits _,
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |a1 AS (SELECT p, count(*) AS a1 FROM e GROUP BY 1),
        |h1 AS (
        |  SELECT c, CAST(sum(a1) AS BIGINT) AS h1
        |  FROM e JOIN a1 USING (p) GROUP BY 1),
        |a2 AS (
        |  SELECT p, CAST(sum(h1) AS BIGINT) AS a2
        |  FROM e JOIN h1 USING (c) GROUP BY 1),
        |h2 AS (
        |  SELECT c, CAST(sum(a2) AS BIGINT) AS h2
        |  FROM e JOIN a2 USING (p) GROUP BY 1),
        |hubs AS (
        |  SELECT 'hub' AS kind, c AS id, h2 AS score FROM h2
        |  ORDER BY h2 DESC, c ASC LIMIT 15),
        |auths AS (
        |  SELECT 'authority' AS kind, p AS id, a2 AS score FROM a2
        |  ORDER BY a2 DESC, p ASC LIMIT 15)
        |SELECT * FROM hubs UNION ALL SELECT * FROM auths""".stripMargin),
    Q("q203_bfs_hops", bfsHops _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |d0 AS MATERIALIZED (
         |  SELECT node, CASE WHEN node % 97 = 0
         |    THEN CAST(0 AS BIGINT) END AS d
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(bfsIterSql).mkString(",\n")}
         |SELECT d AS hops, count(*) AS n_nodes,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM d4 GROUP BY 1""".stripMargin),
    Q("q223_cheapest_path", cheapestPath _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
         |  FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (
         |  SELECT u AS src, v AS dst,
         |    CAST(1000000 // pair_n AS BIGINT) AS w FROM pairs
         |  UNION ALL
         |  SELECT v, u, CAST(1000000 // pair_n AS BIGINT) FROM pairs),
         |d0 AS MATERIALIZED (
         |  SELECT node, CASE WHEN node % 97 = 0
         |    THEN CAST(0 AS BIGINT) END AS d
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(spIterSql).mkString(",\n")}
         |SELECT CAST(d // 250000 AS BIGINT) AS cost_band,
         |  count(*) AS n_nodes, min(d) AS min_cost, max(d) AS max_cost,
         |  min(node) AS min_node
         |FROM d4 GROUP BY 1""".stripMargin),
    Q("q241_feature_propagation", featurePropagation _,
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |       UNION ALL SELECT v, u FROM pairs),
        |feat AS (
        |  SELECT p_partkey AS node,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS f0
        |  FROM part),
        |nf AS (
        |  SELECT n.node, f.f0
        |  FROM (SELECT DISTINCT src AS node FROM e0) n
        |  JOIN feat f ON n.node = f.node),
        |m1 AS (
        |  SELECT e.dst AS node, count(*) AS deg,
        |    CAST(sum(f.f0) // count(*) AS BIGINT) AS m1
        |  FROM e0 e JOIN nf f ON e.src = f.node GROUP BY 1),
        |m2 AS (
        |  SELECT e.dst AS node,
        |    CAST(sum(m.m1) // count(*) AS BIGINT) AS m2
        |  FROM e0 e JOIN m1 m ON e.src = m.node GROUP BY 1)
        |SELECT nf.node, nf.f0, m1.deg, m1.m1, m2.m2
        |FROM nf JOIN m1 USING (node) JOIN m2 USING (node)"""
        .stripMargin),
    Q("q228_itemsets3", itemsets3 _,
      """WITH baskets AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_partkey % 4 = 0),
        |pairs AS MATERIALIZED (
        |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
        |    ON a.ck = b.ck AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |cand AS (
        |  SELECT p1.u AS a, p1.v AS b, p2.v AS c
        |  FROM pairs p1 JOIN pairs p2
        |    ON p1.u = p2.u AND p1.v < p2.v
        |  WHERE EXISTS (SELECT 1 FROM pairs p3
        |    WHERE p3.u = p1.v AND p3.v = p2.v)),
        |tri AS (
        |  SELECT cd.a, cd.b, cd.c, count(*) AS sup
        |  FROM cand cd
        |  JOIN baskets x ON x.pk = cd.a
        |  JOIN baskets y ON y.ck = x.ck AND y.pk = cd.b
        |  JOIN baskets z ON z.ck = x.ck AND z.pk = cd.c
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT a, b, c, sup FROM tri
        |ORDER BY sup DESC, a, b, c LIMIT 20""".stripMargin),
    Q("q227_item_similarity", itemSimilarity _,
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v, count(*) AS pair_n
        |  FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |freq AS (SELECT pk, count(*) AS freq FROM baskets GROUP BY 1)
        |SELECT p.u, p.v, p.pair_n,
        |  fu.freq AS freq_u, fv.freq AS freq_v,
        |  round(p.pair_n / sqrt(fu.freq * fv.freq), 9) + 0.0 AS cos
        |FROM pairs p
        |  JOIN freq fu ON p.u = fu.pk
        |  JOIN freq fv ON p.v = fv.pk
        |ORDER BY cos DESC, p.u, p.v LIMIT 20""".stripMargin),
    Q("q197_label_propagation", labelPropagation _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |l0 AS MATERIALIZED (
         |  SELECT node, node AS lab
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(lpaIterSql).mkString(",\n")}
         |SELECT lab AS community, count(*) AS n_members,
         |  min(node) AS min_node, max(node) AS max_node
         |FROM l4 GROUP BY 1""".stripMargin),
    Q("q259_clustering_coeff", clusteringCoeff _,
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
        |    ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT nd, count(*) AS deg FROM (
        |    SELECT u AS nd FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY 1),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |    JOIN pairs e2 ON e2.u = e1.v
        |    JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |nt AS (
        |  SELECT nd, count(*) AS tri_n FROM (
        |    SELECT a AS nd FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT d.nd AS node, d.deg,
        |  CAST(coalesce(tri_n, 0) AS BIGINT) AS tri_n,
        |  CASE WHEN d.deg >= 2 THEN
        |    CAST(2 * coalesce(tri_n, 0) * 1000000 //
        |      (d.deg * (d.deg - 1)) AS BIGINT)
        |    ELSE NULL END AS lcc_ppm
        |FROM deg d LEFT JOIN nt ON nt.nd = d.nd""".stripMargin),
    Q("q256_modularity", modularity _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |l0 AS MATERIALIZED (
         |  SELECT node, node AS lab
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(lpaIterSql).mkString(",\n")},
         |mm AS (SELECT count(*) AS m FROM pairs),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e0 GROUP BY 1),
         |ds AS (
         |  SELECT l.lab, count(*) AS n_members,
         |    CAST(sum(d.deg) AS BIGINT) AS d_sum
         |  FROM l4 l JOIN deg d ON l.node = d.node GROUP BY 1),
         |ein AS (
         |  SELECT la.lab, count(*) AS e_in FROM pairs p
         |    JOIN l4 la ON p.u = la.node
         |    JOIN l4 lb ON p.v = lb.node
         |  WHERE la.lab = lb.lab GROUP BY 1)
         |SELECT ds.lab AS community, n_members, d_sum,
         |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
         |  CAST(4 * mm.m * coalesce(e_in, 0) - d_sum * d_sum AS BIGINT)
         |    AS q_num
         |FROM ds LEFT JOIN ein ON ds.lab = ein.lab, mm""".stripMargin),
    Q("q347_louvain_level", louvain _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |e0u AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e0),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM e0 GROUP BY 1),
         |lv0 AS MATERIALIZED (
         |  SELECT node, node AS lab
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(louvainIterSql).mkString(",\n")},
         |ds AS (
         |  SELECT l.lab, count(*) AS n_members,
         |    CAST(sum(d.deg) AS BIGINT) AS d_sum
         |  FROM lv4 l JOIN deg d ON l.node = d.node GROUP BY 1),
         |ein AS (
         |  SELECT la.lab, count(*) AS e_in FROM pairs p
         |    JOIN lv4 la ON p.u = la.node
         |    JOIN lv4 lb ON p.v = lb.node
         |  WHERE la.lab = lb.lab GROUP BY 1)
         |SELECT ds.lab AS community, n_members, d_sum,
         |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
         |  CAST(4 * mm.m * coalesce(e_in, 0) - d_sum * d_sum AS BIGINT)
         |    AS q_num
         |FROM ds LEFT JOIN ein ON ds.lab = ein.lab, mm""".stripMargin),
    Q("q353_louvain_two_level", louvainTwoLevel _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |e0u AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e0),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
         |deg AS MATERIALIZED (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM e0 GROUP BY 1),
         |lv0 AS MATERIALIZED (
         |  SELECT node, node AS lab
         |  FROM (SELECT DISTINCT src AS node FROM e0)),
         |${(1 to 4).map(louvainIterSql).mkString(",\n")},
         |se AS MATERIALIZED (
         |  SELECT la.lab AS src, lb.lab AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM e0 e JOIN lv4 la ON e.src = la.node
         |    JOIN lv4 lb ON e.dst = lb.node
         |  WHERE la.lab <> lb.lab GROUP BY 1, 2),
         |sdeg AS MATERIALIZED (
         |  SELECT l.lab AS node, CAST(sum(d.deg) AS BIGINT) AS deg
         |  FROM lv4 l JOIN deg d ON l.node = d.node GROUP BY 1),
         |sv0 AS MATERIALIZED (SELECT node, node AS lab FROM sdeg),
         |${(1 to 2).map(i => louvainIterWSql(i, "se", "sdeg", "sv"))
            .mkString(",\n")},
         |fin AS MATERIALIZED (
         |  SELECT l1.node, s.lab FROM lv4 l1
         |  JOIN sv2 s ON l1.lab = s.node),
         |ds AS (
         |  SELECT l.lab, count(*) AS n_members,
         |    CAST(sum(d.deg) AS BIGINT) AS d_sum
         |  FROM fin l JOIN deg d ON l.node = d.node GROUP BY 1),
         |ein AS (
         |  SELECT la.lab, count(*) AS e_in FROM pairs p
         |    JOIN fin la ON p.u = la.node
         |    JOIN fin lb ON p.v = lb.node
         |  WHERE la.lab = lb.lab GROUP BY 1)
         |SELECT ds.lab AS community, n_members, d_sum,
         |  CAST(coalesce(e_in, 0) AS BIGINT) AS e_in,
         |  CAST(4 * mm.m * coalesce(e_in, 0) - d_sum * d_sum AS BIGINT)
         |    AS q_num
         |FROM ds LEFT JOIN ein ON ds.lab = ein.lab, mm""".stripMargin),
    Q("q192_kcore", kcore _,
      s"""WITH baskets AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS u, b.pk AS v FROM baskets a JOIN baskets b
         |    ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
         |       UNION ALL SELECT v, u FROM pairs),
         |${(1 to 8).map(kcIterSql).mkString(",\n")}
         |SELECT src AS node, count(*) AS deg FROM e8 GROUP BY 1"""
        .stripMargin),
    Q("q153_triangles", triangles _,
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (
        |  SELECT nd, count(*) AS deg FROM (
        |    SELECT u AS nd FROM e UNION ALL SELECT v AS nd FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n FROM e e1
        |    JOIN e e2 ON e1.v = e2.u
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT
        |  (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT CAST(sum(deg) // 2 AS BIGINT) FROM deg) AS n_edges,
        |  (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
        |  CAST(3000000 * (SELECT n FROM tri) //
        |    (SELECT sum(deg * (deg - 1)) // 2 FROM deg) AS BIGINT)
        |    AS closure_ppm""".stripMargin),
    Q("q128_degree_stats", degreeStats _,
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |deg AS (
        |  SELECT 'customer' AS side, count(*) AS deg
        |  FROM pairs GROUP BY c
        |  UNION ALL
        |  SELECT 'supplier' AS side, count(*) AS deg
        |  FROM pairs GROUP BY s)
        |SELECT side, CAST(len(bin(deg)) AS INT) AS bucket,
        |  count(*) AS n_nodes,
        |  min(deg) AS min_deg, max(deg) AS max_deg,
        |  CAST(sum(deg) AS BIGINT) AS total_edges
        |FROM deg GROUP BY 1, 2""".stripMargin),
    Q("q119_pagerank", pagerank _,
      s"""WITH eraw AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey % 10 = 0),
         |e AS (SELECT src, dst FROM eraw
         |      UNION ALL SELECT dst AS src, src AS dst FROM eraw),
         |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         |ew AS (SELECT e.src, e.dst, d.deg
         |       FROM e JOIN deg d ON e.src = d.node),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |${(1 to iters).map(prIterSql).mkString(",\n")}
         |SELECT s.s_suppkey, s.s_name, r.pr
         |FROM r$iters r JOIN supplier s ON s.s_suppkey = (r.node - 1) // 2
         |WHERE r.node % 2 = 1
         |ORDER BY r.pr DESC, s.s_suppkey ASC LIMIT 20""".stripMargin)
  )
}

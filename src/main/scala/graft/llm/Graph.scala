package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Graph analytics over the customer↔supplier interaction graph derived
  * from the star schema (an edge per distinct (customer, supplier) pair
  * that shares a lineitem). Link-structure signals are first-class in
  * large-scale data curation — page importance for crawl prioritization
  * (PageRank over the link graph is the canonical quality prior, cf. the
  * original PageRank usage in web-corpus curation) and degree audits for
  * spotting spam hubs — so the engine ships join-iterated graph
  * primitives that scale the Spark way: the edge list is the only big
  * table, every iteration is one shuffle of that edge list against a
  * node-cardinality rank table, and nothing ever lands on the driver.
  *
  * Node encoding: customers and suppliers share one id space via
  * `custkey*2` / `suppkey*2+1` (long arithmetic, no string concat in the
  * shuffle key). The bipartite graph is made symmetric (each undirected
  * edge contributes both directions), so every node has out-degree ≥ 1
  * and the dangling-mass term vanishes — documented semantics, matching
  * the undirected-co-occurrence reading of "shares a lineitem".
  *
  * Determinism: per-node contribution sums are DECIMAL(28,12) casts of
  * double terms (the repo's order-insensitive aggregation pattern), so
  * rank vectors are bit-identical across partitionings and engines;
  * final projections round to 8.
  */
object Graph {

  private val Damping = 0.85
  // NOT computed as 1.0 - Damping: that double op yields
  // 0.15000000000000002, while both engines parse the literal "0.15" to
  // the same (different) nearest double — literal on both sides, not
  // arithmetic on one.
  private val Teleport = 0.15
  private val Iters    = 3

  /** Symmetric edge list (src, dst) with per-src out-degree attached —
    * a session-cached artifact (same contract as the dedup band index):
    * the orders⨝lineitem distinct-pair build runs once per (session,
    * dir) and both graph queries plus all [[Iters]] PageRank iterations
    * reuse the materialized table. At cluster scale this is the table
    * you would bucket by `src` (a bucketed STORAGE write) so every
    * iteration's join is co-located once rank tables outgrow the
    * broadcast threshold.
    *
    * Measured and rejected (round 13): the in-session equivalent —
    * `repartition(col("src"))` under AQE-off so the checkpoint keeps
    * hash(src) — was evaluated with isolated 5-iter draws at sf0.1.
    * PageRank improved (2.24 → 1.6 s med: its src-keyed iteration
    * exploits the clustering) but HITS destabilized badly (2.06 →
    * 8.9 s med with 16 s spikes — its half-steps alternate join keys
    * src/dst, so the pinned partitioning just denies AQE its plan
    * choices), and at bench SF the rank side broadcasts anyway, so
    * the clustering buys nothing the optimizer doesn't already do.
    * Net: keep the artifact layout AQE-planned in-session; co-location
    * at fact scale belongs to the storage layer (bucketed table), not
    * a pinned in-memory partitioning.
    */
  private def edgesWithDeg(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "graph_edges") {
      import spark.implicits._
      val pairs = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
        .distinct()
      val edges = pairs.select($"c".as("src"), $"s".as("dst"))
        .unionAll(pairs.select($"s".as("src"), $"c".as("dst")))
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      edges.join(deg, "src")
    }

  /** Session-cached `(node, outdeg)` table — the distinct-over-edges
    * collapse EVERY degree-grain consumer (degree, assortativity,
    * rich_club, powerlaw_alpha, degree_gini, pagerank's node set,
    * bfs/eff_diameter seeds and totals) previously re-ran per
    * invocation: one exchange + often a per-call materialize each,
    * ~0.1–0.3 s × 8 consumers at bench SF (r15 graph decomposition,
    * docs/bench/r15_graph_iso.json). Node-cardinality, derived purely
    * from the cached edge artifact — same sharing contract as the
    * edge list itself; at cluster scale this is the degree dimension
    * you'd co-write with the bucketed edge table. */
  private def nodeDeg(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "graph_node_deg") {
      edgesWithDeg(spark, dir).select(col("src").as("node"), col("outdeg")).distinct()
    }

  // --------------------------------------------------------------------
  // llm_graph_pagerank: 3-iteration damped PageRank, join-iterated.
  // r_{k+1}(v) = (1-d)/N + d·Σ_{u→v} r_k(u)/outdeg(u). The symmetric
  // construction leaves no dangling nodes, so the groupBy over edge
  // destinations reaches every node and no dangling-mass correction is
  // needed. Each iteration shuffles the edge list once against the
  // node-cardinality rank table — the canonical distributed PageRank
  // shape; at 100 TB you bucket edges by src and the per-iteration
  // shuffle reduces to the rank table only.
  /** Full rank vector (node, rank) after [[Iters]] iterations — the
    * registered query projects its top 15; tests check Σrank ≈ 1 here.
    */
  private[graft] def pagerankRanks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesWithDeg(spark, dir)
    // the session-cached node table is referenced by r0 AND by the
    // totals scalar — as a checkpointed artifact the distinct-over-
    // edges shuffle never replays inside the unrolled 3-iteration plan
    // (the lazy form measured 19 s → 1.7 s at sf0.1; r15 moved the
    // per-invocation materialize into the shared graph_node_deg
    // artifact). outdeg rides on the EDGE table (the only place a
    // contribution reads it), so no iteration re-joins the node table
    // — the r8 shape paid one node-cardinality join per iteration
    // re-attaching an outdeg column nothing consumed.
    val nodes = nodeDeg(spark, dir).select($"node")
    val totals = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    var ranks = nodes.crossJoin(totals)
      .select($"node", (lit(1.0) / $"n_nodes").as("rank"))
    for (_ <- 1 to Iters) {
      val contrib = e.join(ranks, $"src" === $"node")
        .groupBy($"dst")
        .agg(sum(($"rank" / $"outdeg").cast("decimal(28,12)"))
          .cast("double").as("mass"))
      ranks = contrib.crossJoin(totals)
        .select($"dst".as("node"),
          (lit(Teleport) / $"n_nodes" + lit(Damping) * $"mass").as("rank"))
    }
    ranks
  }

  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pagerankRanks(spark, dir)
      .select(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("side"),
        ($"node" / 2).cast("long").as("entity_id"),
        round($"rank", 8).as("rank"))
      .orderBy($"rank".desc, $"side", $"entity_id")
      .limit(15)
  }

  private val edgeSql: String =
    """SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""".stripMargin

  val pagerankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT e.dst AS node,
         |    CAST(0.15 AS DOUBLE) / t.n_nodes
         |      + CAST(0.85 AS DOUBLE)
         |        * CAST(SUM(CAST(p.rank / d.outdeg AS DECIMAL(28,12))) AS DOUBLE)
         |      AS rank
         |  FROM edges e
         |  JOIN $prev p ON e.src = p.node
         |  JOIN deg d ON e.src = d.node
         |  CROSS JOIN totals t
         |  GROUP BY e.dst, t.n_nodes)""".stripMargin
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |totals AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |r0 AS (
       |  SELECT d.node, CAST(1.0 AS DOUBLE) / t.n_nodes AS rank
       |  FROM deg d CROSS JOIN totals t),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
       |  CAST(node // 2 AS BIGINT) AS entity_id,
       |  ROUND(rank, 8) AS rank
       |FROM r3
       |ORDER BY rank DESC, side, entity_id
       |LIMIT 15""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_graph_degree: degree-distribution audit of the same graph —
  // per-side node counts, edge count, degree histogram in power-of-two
  // buckets, and the max/mean degree. The spam-hub / crawl-frontier
  // health check: a side whose top bucket grows faster than the corpus
  // is concentrating links (at 100 TB this is the signal to cap or
  // salt that hub before any per-neighbor expansion). One partial-agg
  // groupBy on node then one on (side, bucket); output is
  // O(sides × log(max_degree)).
  def degree(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deg = nodeDeg(spark, dir)
    deg
      .groupBy(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("side"),
        // floor(log2(d)) computed integer-exactly as len(bin(d))-1 —
        // float log2 at exact powers of two rounds differently across
        // libm implementations, so the arithmetic form is the portable one
        (length(bin($"outdeg")) - 1).as("deg_bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum($"outdeg").as("sum_degree"),
        max($"outdeg").as("max_degree"),
        round(sum($"outdeg".cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_degree"))
      .orderBy($"side", $"deg_bucket")
  }

  val degreeSql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src)
       |SELECT
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
       |  CAST(LENGTH(BIN(outdeg)) - 1 AS INT) AS deg_bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(outdeg) AS BIGINT) AS sum_degree,
       |  CAST(MAX(outdeg) AS BIGINT) AS max_degree,
       |  ROUND(CAST(SUM(CAST(outdeg AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_degree
       |FROM deg
       |GROUP BY 1, 2
       |ORDER BY side, deg_bucket""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_triangles: triangle census of the supplier co-purchase
  // graph (edge ⟺ two suppliers share an order) — the community-density
  // / link-farm audit: an organically-grown co-occurrence graph has a
  // characteristic clustering coefficient; templated or spammed link
  // structure shows up as coefficient drift long before any per-page
  // signal fires. Uses the degree-orientation algorithm (orient every
  // edge from the (degree, id)-smaller endpoint to the larger; count
  // wedges only at each node's oriented out-neighbors, then close them
  // with a third edge lookup): each triangle is counted EXACTLY once,
  // and oriented out-degree is bounded by O(√|E|) on any graph — the
  // property that makes the wedge join's intermediate linear in
  // |E|^1.5 instead of Σ deg² (the hub blowup a src-side wedge join
  // would pay on a power-law graph at 100 TB).
  //
  // The census runs on the co-purchase BACKBONE, not the raw pair set:
  // the raw "shares ≥1 order" graph on a small dense entity space is
  // near-complete (at sf0.1: ~1000 suppliers, ~500k of the 499,500
  // possible edges — measured 55 s, and O(n³)-adjacent at ANY scale
  // because its density is structural, not noise). The backbone keeps
  // the top-[[TriMaxEdges]] edges by co-occurrence support (ties
  // lexicographic) — the standard co-occurrence-backbone extraction,
  // and the semantically honest graph: a 1-order co-occurrence is
  // noise, and community structure lives in the strong ties. With
  // |E| ≤ M fixed, the census cost is bounded by M^1.5 wedges
  // REGARDLESS of corpus size — the support groupBy (partial-agg) and
  // the TakeOrdered top-M are the only corpus-scale stages.
  //
  // Scale shape: count-first occupancy cap on orders BEFORE the
  // per-order supplier pairing (the house rule for quadratic-per-bucket
  // expansion; excluded orders are surfaced in the output row); support
  // aggregation is partial-aggregable; top-M = TakeOrderedAndProject
  // (no global sort materialized); the wedge and closing joins shuffle
  // only the ≤M-row oriented edge list.
  private val TriOrderCap = 64
  private val TriMaxEdges = 2000

  /** Top-[[TriMaxEdges]] support-ranked edges — split out so PlanSpec
    * can assert the selection plans as TakeOrderedAndProject (the
    * materialized table the census reads hides the build plan). */
  private[graft] def backbone(support: DataFrame): DataFrame = {
    import support.sparkSession.implicits._
    support.orderBy($"support".desc, $"s1".asc, $"s2".asc)
      .limit(TriMaxEdges)
      .select($"s1", $"s2")
  }

  /** Session-cached co-purchase SUPPORT table — one (s1 < s2, support)
    * row per supplier pair sharing ≥1 order, after the per-order
    * occupancy cap. The corpus-scale stage of the census family
    * (fact distinct + occupancy gate + pair join + partial-agg), built
    * once per (session, dir): llm_graph_triangles and
    * llm_graph_local_cc both iterate on its ≤[[TriMaxEdges]]-edge
    * backbone, so the pair expansion must not replay per query (the
    * dd_bands convention; cold mode prices the build). */
  private[graft] def triSupport(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "graph_tri_support") {
      import spark.implicits._
      // materialized: the distinct (order, supplier) table feeds the
      // occupancy audit AND the pair join's kept side — the fact-scan
      // + distinct shuffle runs once, not per consumer
      val so = Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct().localCheckpoint()
      val occ = so.groupBy($"ok").agg(count(lit(1)).as("n_supp"))
      val keptSo =
        so.join(occ.filter($"n_supp" <= TriOrderCap).select($"ok"), "ok")
      val a = keptSo.select($"ok", $"sk".as("s1"))
      val b = keptSo.select($"ok".as("ok2"), $"sk".as("s2"))
      a.join(b, $"ok" === $"ok2" && $"s1" < $"s2")
        .groupBy($"s1", $"s2").agg(count(lit(1)).as("support"))
    }

  /** Session-cached 1-row census meta: how many orders the occupancy
    * cap excluded (surfaced in the triangles output so the cap is
    * auditable, not silent). Rebuilds the cheap distinct+groupBy
    * subtree once per session rather than widening [[triSupport]]'s
    * schema with a constant column. */
  private[graft] def triExcluded(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "graph_tri_excl") {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
        .groupBy($"ok").agg(count(lit(1)).as("n_supp"))
        .filter($"n_supp" > TriOrderCap)
        .agg(count(lit(1)).as("n_excluded_orders"))
    }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val support = triSupport(spark, dir)
    val nExcluded = broadcast(triExcluded(spark, dir))
    val nCand = broadcast(
      support.agg(count(lit(1)).as("n_candidate_edges")))
    val edges = backbone(support).localCheckpoint()
    val deg = edges.select($"s1".as("v")).unionAll(edges.select($"s2".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    // orient each edge from the (degree, id)-smaller endpoint; keep the
    // dst's (degree, id) on the edge so wedge pairs can be ordered in
    // the SAME total order without re-joining degrees
    val oriented = edges
      .join(deg.select($"v".as("s1"), $"d".as("d1")), "s1")
      .join(deg.select($"v".as("s2"), $"d".as("d2")), "s2")
      .select(
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"s1")
          .otherwise($"s2").as("src"),
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"s2")
          .otherwise($"s1").as("dst"),
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"d2")
          .otherwise($"d1").as("ddeg")).localCheckpoint()
    val x = oriented.select($"src", $"dst".as("b"), $"ddeg".as("bd"))
    val y = oriented.select($"src".as("src2"), $"dst".as("c"), $"ddeg".as("cd"))
    val wedges = x.join(y, $"src" === $"src2"
      && ($"bd" < $"cd" || ($"bd" === $"cd" && $"b" < $"c")))
    val closing = oriented.select($"src".as("cb"), $"dst".as("cc"))
    val tri = wedges.join(closing, $"b" === $"cb" && $"c" === $"cc", "left_semi")

    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val nWedgesU = deg.agg(
      sum(expr("d * (d - 1) DIV 2").cast("decimal(28,0)")).cast("long")
        .as("n_wedges"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    broadcast(nNodes).crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(nWedgesU)).crossJoin(broadcast(nTri))
      .crossJoin(nExcluded).crossJoin(nCand)
      .select($"n_nodes", $"n_edges", $"n_candidate_edges", $"n_wedges",
        $"n_triangles",
        when($"n_wedges" === 0, lit(0.0)).otherwise(
          round(lit(3.0) * $"n_triangles" / $"n_wedges", 6))
          .as("clustering_coeff"),
        $"n_excluded_orders")
  }

  val trianglesSql: String =
    s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |occ AS (SELECT ok, COUNT(*) AS n_supp FROM so GROUP BY ok),
       |excl AS (SELECT COUNT(*) AS n_excluded_orders FROM occ
       |  WHERE n_supp > $TriOrderCap),
       |kept AS (SELECT so.ok, so.sk FROM so
       |  JOIN occ ON so.ok = occ.ok AND occ.n_supp <= $TriOrderCap),
       |support AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS support
       |  FROM kept a JOIN kept b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk),
       |cand AS (SELECT COUNT(*) AS n_candidate_edges FROM support),
       |edges AS (SELECT s1, s2 FROM support
       |  ORDER BY support DESC, s1 ASC, s2 ASC LIMIT $TriMaxEdges),
       |deg AS (SELECT v, COUNT(*) AS d FROM (
       |  SELECT s1 AS v FROM edges UNION ALL SELECT s2 AS v FROM edges)
       |  GROUP BY v),
       |oriented AS (SELECT
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN s1 ELSE s2 END AS src,
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN s2 ELSE s1 END AS dst,
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN d2.d ELSE d1.d END AS ddeg
       |  FROM edges
       |  JOIN deg d1 ON edges.s1 = d1.v
       |  JOIN deg d2 ON edges.s2 = d2.v),
       |tri AS (SELECT COUNT(*) AS n_triangles
       |  FROM oriented x
       |  JOIN oriented y ON x.src = y.src
       |    AND (x.ddeg < y.ddeg OR (x.ddeg = y.ddeg AND x.dst < y.dst))
       |  WHERE EXISTS (SELECT 1 FROM oriented z
       |    WHERE z.src = x.dst AND z.dst = y.dst)),
       |stats AS (SELECT
       |  (SELECT COUNT(*) FROM deg) AS n_nodes,
       |  (SELECT COUNT(*) FROM edges) AS n_edges,
       |  (SELECT n_candidate_edges FROM cand) AS n_candidate_edges,
       |  (SELECT CAST(SUM(CAST(d * (d - 1) // 2 AS DECIMAL(28,0))) AS BIGINT)
       |     FROM deg) AS n_wedges,
       |  (SELECT n_triangles FROM tri) AS n_triangles,
       |  (SELECT n_excluded_orders FROM excl) AS n_excluded_orders)
       |SELECT n_nodes, n_edges, n_candidate_edges, n_wedges, n_triangles,
       |  CASE WHEN n_wedges = 0 THEN 0.0
       |    ELSE ROUND(CAST(3.0 AS DOUBLE) * n_triangles / n_wedges, 6) END
       |    AS clustering_coeff,
       |  n_excluded_orders
       |FROM stats""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_edge_weights: support-value histogram of the co-purchase
  // pair set (power-of-two buckets, q88's depth-bucket convention)
  // with, per bucket, how many edges the [[TriMaxEdges]] backbone cut
  // keeps. The evidence table behind the backbone: the census docs
  // assert "a 1-order co-occurrence is noise, community structure
  // lives in the strong ties" — this measures the support mass the
  // cut keeps vs drops, per support level, so the cut threshold is a
  // number read off data instead of a constant defended in a comment.
  // Scale shape: reads the session-cached support table; the histogram
  // is an O(log support) partial-agg; backbone membership attaches by
  // broadcast of the ≤TriMaxEdges cut. Determinism: pure integers plus
  // one exact ratio.
  def edgeWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val support = triSupport(spark, dir)
    val bb = backbone(support)
      .select($"s1".as("b1"), $"s2".as("b2"), lit(1L).as("kept"))
    val tagged = support.join(broadcast(bb),
        $"s1" === $"b1" && $"s2" === $"b2", "left")
    val hist = tagged
      .groupBy(when($"support" <= 3, $"support")
        .otherwise(expr(
          "shiftleft(1L, cast(length(bin(support)) - 1 as int))"))
        .as("support_bucket"))
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce($"kept", lit(0L))).as("n_in_backbone")).localCheckpoint()
    val tot = hist.agg(sum($"n_edges").as("ne")).filter($"ne" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"support_bucket", $"n_edges", $"n_in_backbone",
        round($"n_edges".cast("double") / $"ne", 6).as("share"))
      .orderBy($"support_bucket")
  }

  val edgeWeightsSql: String =
    s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |occ AS (SELECT ok, COUNT(*) AS n_supp FROM so GROUP BY ok),
       |kept AS (SELECT so.ok, so.sk FROM so
       |  JOIN occ ON so.ok = occ.ok AND occ.n_supp <= $TriOrderCap),
       |support AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS support
       |  FROM kept a JOIN kept b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk),
       |bb AS (SELECT s1 AS b1, s2 AS b2, 1 AS keptf FROM support
       |  ORDER BY support DESC, s1 ASC, s2 ASC LIMIT $TriMaxEdges),
       |tagged AS (
       |  SELECT s.support, COALESCE(bb.keptf, 0) AS keptf
       |  FROM support s LEFT JOIN bb ON s.s1 = bb.b1 AND s.s2 = bb.b2),
       |hist AS (
       |  SELECT CASE WHEN support <= 3 THEN support
       |      ELSE CAST(1 AS BIGINT) << (LENGTH(BIN(support)) - 1)
       |      END AS support_bucket,
       |    COUNT(*) AS n_edges,
       |    CAST(SUM(keptf) AS BIGINT) AS n_in_backbone
       |  FROM tagged GROUP BY 1),
       |tot AS (SELECT SUM(n_edges) AS ne FROM hist HAVING SUM(n_edges) > 0)
       |SELECT CAST(h.support_bucket AS BIGINT) AS support_bucket,
       |  CAST(h.n_edges AS BIGINT) AS n_edges, h.n_in_backbone,
       |  ROUND(CAST(h.n_edges AS DOUBLE) / t.ne, 6) AS share
       |FROM hist h CROSS JOIN tot t ORDER BY h.support_bucket""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_local_cc: PER-NODE local clustering coefficient
  // distribution over the co-purchase backbone — lcc(v) =
  // 2·tri(v)/(d(v)·(d(v)−1)) — as a decile histogram plus the mean.
  // The census (llm_graph_triangles) prices the GLOBAL coefficient;
  // communities and link farms separate in the per-node DISTRIBUTION:
  // organic graphs are right-skewed with a hub tail near 0, templated
  // link structure piles nodes at exactly 1.0.
  // Scale shape: reads the session-cached support table (the corpus
  // stage builds once — see triSupport); everything here runs on the
  // ≤TriMaxEdges backbone: the same degree-oriented wedge join as the
  // census but keeping closed wedges (INNER join vs the closing edge,
  // not semi), each triangle exploding to its 3 vertices for the
  // per-node count. Bounded M^1.5 work regardless of corpus size.
  // Determinism: lcc is a ratio of exact integers evaluated in double
  // (bit-identical both engines); the histogram bucket floor(lcc·10)
  // applies to identical doubles; mean routes through DECIMAL(15,9).
  def localClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = backbone(triSupport(spark, dir)).localCheckpoint()
    val deg = edges.select($"s1".as("v")).unionAll(edges.select($"s2".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d")).localCheckpoint()
    val oriented = edges
      .join(deg.select($"v".as("s1"), $"d".as("d1")), "s1")
      .join(deg.select($"v".as("s2"), $"d".as("d2")), "s2")
      .select(
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"s1")
          .otherwise($"s2").as("src"),
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"s2")
          .otherwise($"s1").as("dst"),
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"s1" < $"s2"), $"d2")
          .otherwise($"d1").as("ddeg")).localCheckpoint()
    val x = oriented.select($"src", $"dst".as("b"), $"ddeg".as("bd"))
    val y = oriented.select($"src".as("src2"), $"dst".as("c"), $"ddeg".as("cd"))
    val closing = oriented.select($"src".as("cb"), $"dst".as("cc"))
    val triNodes = x.join(y, $"src" === $"src2"
        && ($"bd" < $"cd" || ($"bd" === $"cd" && $"b" < $"c")))
      .join(closing, $"b" === $"cb" && $"c" === $"cc")
      .select(explode(array($"src", $"b", $"c")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("t"))
    val lcc = deg.join(triNodes, Seq("v"), "left")
      .select($"v", $"d",
        when($"d" < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce($"t", lit(0L))
            / ($"d" * ($"d" - 1L))).as("lcc"),
        ($"d" >= 2).as("eligible"))
    // ≤12-row histogram + 1-row totals off one node-grain table
    val hist = lcc
      .groupBy(when(!$"eligible", lit(-1L))
        .otherwise(floor($"lcc" * 10.0)).as("lcc_decile"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(when($"eligible", $"lcc".cast(DecimalType(15, 9)))
          .otherwise(lit(null))).as("lcc_sum")).localCheckpoint()
    val tot = hist.agg(sum($"n_nodes").as("nt"),
      sum(when($"lcc_decile" >= 0, $"n_nodes").otherwise(0L)).as("ne"),
      sum($"lcc_sum").cast("double").as("ls")).filter($"nt" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"lcc_decile", $"n_nodes",
        round($"n_nodes".cast("double") / $"nt", 6).as("share"),
        round(when($"ne" > 0, $"ls" / $"ne").otherwise(0.0), 6)
          .as("mean_lcc"))
      .orderBy($"lcc_decile")
  }

  val localCcSql: String =
    s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |occ AS (SELECT ok, COUNT(*) AS n_supp FROM so GROUP BY ok),
       |kept AS (SELECT so.ok, so.sk FROM so
       |  JOIN occ ON so.ok = occ.ok AND occ.n_supp <= $TriOrderCap),
       |support AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS support
       |  FROM kept a JOIN kept b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk),
       |edges AS (SELECT s1, s2 FROM support
       |  ORDER BY support DESC, s1 ASC, s2 ASC LIMIT $TriMaxEdges),
       |deg AS (SELECT v, COUNT(*) AS d FROM (
       |  SELECT s1 AS v FROM edges UNION ALL SELECT s2 AS v FROM edges)
       |  GROUP BY v),
       |oriented AS (SELECT
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN s1 ELSE s2 END AS src,
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN s2 ELSE s1 END AS dst,
       |  CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND s1 < s2)
       |    THEN d2.d ELSE d1.d END AS ddeg
       |  FROM edges
       |  JOIN deg d1 ON edges.s1 = d1.v
       |  JOIN deg d2 ON edges.s2 = d2.v),
       |tri AS (SELECT x.src AS va, x.dst AS vb, y.dst AS vc
       |  FROM oriented x
       |  JOIN oriented y ON x.src = y.src
       |    AND (x.ddeg < y.ddeg OR (x.ddeg = y.ddeg AND x.dst < y.dst))
       |  JOIN oriented z ON z.src = x.dst AND z.dst = y.dst),
       |tv AS (SELECT v, COUNT(*) AS t FROM
       |  (SELECT unnest([va, vb, vc]) AS v FROM tri) GROUP BY v),
       |lcc AS (SELECT deg.v, deg.d,
       |  CASE WHEN deg.d < 2 THEN 0.0
       |    ELSE 2.0 * COALESCE(tv.t, 0) / (deg.d * (deg.d - 1)) END AS lcc,
       |  deg.d >= 2 AS eligible
       |  FROM deg LEFT JOIN tv ON deg.v = tv.v),
       |hist AS (SELECT
       |  CASE WHEN NOT eligible THEN -1
       |    ELSE CAST(FLOOR(lcc * 10.0) AS BIGINT) END AS lcc_decile,
       |  COUNT(*) AS n_nodes,
       |  SUM(CASE WHEN eligible THEN CAST(lcc AS DECIMAL(15,9))
       |    ELSE NULL END) AS lcc_sum
       |  FROM lcc GROUP BY 1),
       |tot AS (SELECT SUM(n_nodes) AS nt,
       |  SUM(CASE WHEN lcc_decile >= 0 THEN n_nodes ELSE 0 END) AS ne,
       |  CAST(SUM(lcc_sum) AS DOUBLE) AS ls
       |  FROM hist HAVING SUM(n_nodes) > 0)
       |SELECT CAST(h.lcc_decile AS BIGINT) AS lcc_decile,
       |  CAST(h.n_nodes AS BIGINT) AS n_nodes,
       |  ROUND(CAST(h.n_nodes AS DOUBLE) / t.nt, 6) AS share,
       |  ROUND(CASE WHEN t.ne > 0 THEN t.ls / t.ne ELSE 0.0 END, 6)
       |    AS mean_lcc
       |FROM hist h CROSS JOIN tot t
       |ORDER BY h.lcc_decile""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_cc: connected components by min-label propagation over
  // the REGIONAL trade graph (co-purchase edges restricted to
  // same-region customer/supplier pairs — five provably-disjoint
  // subgraphs, so the fixture has real components to find). The
  // propagation step l_{k+1}(v) = min over in-neighbors of l_k — with
  // SELF-LOOP edges folded into the edge list so min(self, neighbors)
  // is ONE groupBy and the label table is referenced exactly once per
  // iteration (a self-union would double the lineage fan-out per step
  // — 2^k replays by iteration k). Six fixed iterations: label
  // propagation converges in graph-diameter steps, and this bipartite
  // hub structure keeps the diameter constant as the corpus grows
  // (measured: converged after 5 at sf0.01 AND sf0.1 — hub suppliers
  // shorten every path); an unbounded-diameter production graph swaps
  // in the O(log n) large-star/small-star alternation with the same
  // per-iteration join+groupBy plan. Scale shape: per iteration ONE
  // shuffle of the (session-cached, materialized) edge list against
  // the node-cardinality label table — bucket edges by src at cluster
  // scale and only labels move.
  private val CcIters = 6
  /** Exposed for PlanSpec's linear-lineage guard. */
  private[graft] def ccItersForSpec: Int = CcIters

  private def regionEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "graph_region_edges") {
      import spark.implicits._
      val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_regionkey")
      val cn = Tables.customer(spark, dir)
        .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_regionkey".as("c_region"))
      val sn = Tables.supplier(spark, dir)
        .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"n_regionkey".as("s_region"))
      val pairs = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .join(broadcast(cn), $"o_custkey" === $"c_custkey")
        .join(broadcast(sn),
          $"l_suppkey" === $"s_suppkey" && $"c_region" === $"s_region")
        .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
        .distinct()
      val nodes = pairs.select($"c".as("n"))
        .unionAll(pairs.select($"s".as("n"))).distinct()
      pairs.select($"c".as("src"), $"s".as("dst"))
        .unionAll(pairs.select($"s".as("src"), $"c".as("dst")))
        .unionAll(nodes.select($"n".as("src"), $"n".as("dst")))
    }

  /** Label table after `iters` propagation steps — exposed so the
    * convergence spec can assert labels(CcIters) == labels(CcIters+1):
    * the fixed count is only sound while the fixture's diameter stays
    * under it, and a silently-non-converged result would still
    * hash-match across engines (both run the same iteration count), so
    * only an explicit fixed-point check catches a diameter regression.
    */
  private[graft] def ccLabels(spark: SparkSession, dir: String,
                              iters: Int): DataFrame = {
    import spark.implicits._
    val e = regionEdges(spark, dir)
    var labels: DataFrame = e.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    for (_ <- 1 to iters)
      labels = e.join(labels, $"src" === $"node")
        .groupBy($"dst").agg(min($"label").as("label"))
        .select($"dst".as("node"), $"label")
    labels
  }

  def cc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ccLabels(spark, dir, CcIters)
      .groupBy($"label".as("component_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when($"node" % 2 === 0, 1L).otherwise(0L)).as("n_cust"),
        sum(when($"node" % 2 === 1, 1L).otherwise(0L)).as("n_supp"))
      .orderBy($"n_members".desc, $"component_id")
  }

  val ccSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT e.dst AS node, MIN(p.label) AS label
         |  FROM edges e JOIN $prev p ON e.src = p.node
         |  GROUP BY e.dst)""".stripMargin
    val chain = (1 to CcIters)
      .map(k => iter(s"l${k - 1}", s"l$k")).mkString(",\n")
    s"""WITH cn AS (
       |  SELECT c_custkey, n_regionkey AS c_region FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey),
       |sn AS (
       |  SELECT s_suppkey, n_regionkey AS s_region FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey),
       |pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN cn ON o_custkey = c_custkey
       |  JOIN sn ON l_suppkey = s_suppkey AND c_region = s_region),
       |nodes AS (
       |  SELECT c AS n FROM pairs UNION SELECT s AS n FROM pairs),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, c AS dst FROM pairs
       |  UNION ALL SELECT n AS src, n AS dst FROM nodes),
       |l0 AS (SELECT n AS node, n AS label FROM nodes),
       |$chain
       |SELECT label AS component_id, COUNT(*) AS n_members,
       |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cust,
       |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_supp
       |FROM l$CcIters GROUP BY 1
       |ORDER BY n_members DESC, component_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_graph_kcore: k-core decomposition of the regional trade graph —
  // iteratively delete nodes of degree < k until the remainder is the
  // k-core, reporting the survivor count after every peel. The k-core
  // is the standard dense-backbone extractor (here: the trading
  // entities robust to losing low-volume partners; in an LLM pipeline,
  // the same peel finds the dense cluster of near-duplicate sources a
  // similarity graph should collapse). k = 12 because the hub-dense
  // fixture peels in ONE step at small k — 12 produces a real cascade
  // (measured 1586 → 202 → 154 → 147, stable by iteration 4 at
  // sf0.01). Scale shape: each peel is one edge-table groupBy against
  // the shrinking alive set (both joins equi, partial-aggregable
  // degree count); the alive table is MATERIALIZED per round because
  // two joins consume it — left lazy, the peel chain replays 2^k
  // times by round k (the cc self-union lesson). Self-loop edges (a
  // cc-only device) are excluded: they would lift every node's degree
  // by one and shift the threshold.
  private val KcoreK = 12
  private val KcoreIters = 5
  /** Exposed for the convergence spec (mirrors [[ccItersForSpec]]) so
    * the test always verifies the PRODUCTION iteration count. */
  private[graft] def kcoreItersForSpec: Int = KcoreIters
  /** The alive-node sets before the first peel and after each of
    * `iters` peels. The convergence spec reads the last set (same
    * contract as [[ccLabels]]); [[kcore]] counts every set. */
  private[graft] def kcoreAlive(spark: SparkSession, dir: String,
                                iters: Int): Seq[DataFrame] = {
    import spark.implicits._
    val e = regionEdges(spark, dir).filter($"src" =!= $"dst")
    (1 to iters).scanLeft(e.select($"src".as("node")).distinct()) { (alive, _) =>
      e.join(alive.select($"node".as("sn")), $"src" === $"sn")
        .join(alive.select($"node".as("dn")), $"dst" === $"dn")
        .groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= KcoreK)
        .select($"src".as("node")).localCheckpoint()
    }
  }

  def kcore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kcoreAlive(spark, dir, KcoreIters).zipWithIndex
      .map { case (alive, iter) =>
        alive.agg(count(lit(1)).as("n_nodes"))
          .select(lit(iter.toLong).as("iter"), $"n_nodes") }
      .reduce(_ unionByName _)
      .orderBy($"iter")
  }

  val kcoreSql: String = {
    // AS MATERIALIZED on every level: each aK is referenced three
    // times (both sides of the next peel + its stats row); DuckDB may
    // inline CTEs per reference, which re-evaluates the whole chain
    // 3^K times — at sf0.1 that exhausted temp-spill disk. The hint
    // pins one evaluation per level (the Spark side localCheckpoints
    // each level the same way).
    def peel(prev: String, k: Int): String =
      s"""e$k AS MATERIALIZED (
         |  SELECT src, dst FROM edges
         |  JOIN $prev p1 ON src = p1.node JOIN $prev p2 ON dst = p2.node),
         |a$k AS MATERIALIZED (
         |  SELECT src AS node FROM e$k
         |  GROUP BY src HAVING COUNT(*) >= $KcoreK)""".stripMargin
    val chain = (1 to KcoreIters)
      .map(k => peel(s"a${k - 1}", k)).mkString(",\n")
    val stats = (0 to KcoreIters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS iter, COUNT(*) AS n_nodes FROM a$k")
      .mkString("\nUNION ALL ")
    s"""WITH cn AS (
       |  SELECT c_custkey, n_regionkey AS c_region FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey),
       |sn AS (
       |  SELECT s_suppkey, n_regionkey AS s_region FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN cn ON o_custkey = c_custkey
       |  JOIN sn ON l_suppkey = s_suppkey AND c_region = s_region),
       |edges AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$chain
       |$stats
       |ORDER BY iter""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_graph_assortativity: degree assortativity of the global trade
  // graph — the Pearson correlation of EXCESS degrees (deg−1, Newman
  // 2002) across the directed symmetric edge list. Negative r =
  // disassortative (hubs link to leaves — the hub-and-spoke shape
  // whose wedge counts explode first in any pairwise expansion);
  // positive r = a dense rich club that survives k-core peeling. In an
  // LLM pipeline this is the one-number forecast for how the
  // similarity graph will behave under llm_graph_kcore/_triangles.
  // Scale shape: the session-cached edge artifact already carries the
  // src degree; the dst degree joins from the node-grain (dim-sized)
  // degree table by broadcast. All five moments are EXACT integer
  // sums (longs bound them: deg ≤ 10⁴, pairs ≤ 10⁸ per edge, ×10⁶
  // edges ≪ 2⁶³); only the final 1-row Pearson solve runs in double,
  // with the identical parenthesization on both engines.
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesWithDeg(spark, dir)
    val deg = nodeDeg(spark, dir).select($"node", $"outdeg".as("ddeg"))
    val xy = e
      .join(broadcast(deg), $"dst" === $"node")
      .select(($"outdeg" - 1).as("x"), ($"ddeg" - 1).as("y"))
    val m = xy.agg(
      count(lit(1)).as("m"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"),
      sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"))
    val md = m.select($"m".cast("double").as("md"),
      $"sx".cast("double").as("sx"), $"sy".cast("double").as("sy"),
      $"sxy".cast("double").as("sxy"), $"sxx".cast("double").as("sxx"),
      $"syy".cast("double").as("syy"), $"m")
    md.select(
      $"m".as("n_edges"),
      round(($"md" * $"sxy" - $"sx" * $"sy")
        / (sqrt($"md" * $"sxx" - $"sx" * $"sx")
          * sqrt($"md" * $"syy" - $"sy" * $"sy")), 6).as("assortativity"),
      round($"sx" / $"md", 6).as("avg_excess_deg"))
  }

  val assortativitySql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |xy AS (
       |  SELECT ds.d - 1 AS x, dd.d - 1 AS y
       |  FROM edges e
       |  JOIN deg ds ON e.src = ds.node
       |  JOIN deg dd ON e.dst = dd.node),
       |mo AS (
       |  SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
       |  FROM xy)
       |SELECT CAST(m AS BIGINT) AS n_edges,
       |  ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       |    AS assortativity,
       |  ROUND(CAST(sx AS DOUBLE) / CAST(m AS DOUBLE), 6) AS avg_excess_deg
       |FROM mo""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_link_pred: common-neighbor link prediction on the
  // co-purchase backbone — for every NON-adjacent supplier pair with
  // ≥1 shared backbone neighbor, score by (common-neighbor count,
  // Jaccard over the neighborhood union) and keep the top 20. The
  // "which near-duplicate sources are about to converge" forecast in
  // a pipeline context: a pair with many shared strong ties but no
  // direct edge is the edge the next corpus snapshot most likely
  // adds (Liben-Nowell & Kleinberg 2003's CN/Jaccard baselines).
  // Runs on the [[triangles]]-style top-[[TriMaxEdges]] support
  // backbone, additionally cut at half the candidate pairs so the
  // extraction always thresholds (a cut keeping every candidate
  // leaves a complete graph with no edge to predict; the extra bound
  // binds only below 2·TriMaxEdges candidates — never at production
  // scale). With |E| ≤ M fixed, the wedge join is bounded by
  // Σ_z deg(z)² ≤ (2M)² regardless of corpus size; the only
  // corpus-scale stages are the distinct + support groupBys (both
  // partial-aggregable) and the TakeOrdered top-M. Determinism:
  // CN/degrees are exact integers; Jaccard = cn/(du+dv−cn) is a
  // single correctly-rounded division; ordering is total via the
  // (cn, u, v) key (jaccard is a function of the tie-broken triple).
  private val LpTopK = 20

  def linkPred(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // session-cached support table (r16): this call site re-ran the
    // fact distinct + occupancy gate + wedge join + partial agg — and
    // parked two private materializes — per invocation, byte-identical
    // to the graph_tri_support artifact triangles/local_cc share
    // (~1 s/pass at sf0.1). Same derivation, same caps, same table.
    val support = triSupport(spark, dir)
    // the prediction backbone must actually threshold: a cut that
    // keeps >= all candidate pairs leaves a graph with no non-edge to
    // predict (at tiny SFs the co-purchase graph is complete), so the
    // cut is min(TriMaxEdges, half the candidates) — identical to the
    // triangles backbone whenever candidates >= 2·TriMaxEdges (every
    // production scale; the count is one scalar off the materialized
    // support table)
    val lpCut = math.min(TriMaxEdges.toLong,
      (support.count() + 1L) / 2L).toInt
    val edges = support.orderBy($"support".desc, $"s1".asc, $"s2".asc)
      .limit(lpCut).select($"s1", $"s2").localCheckpoint()
    val adj = edges.select($"s1".as("u"), $"s2".as("v"))
      .unionAll(edges.select($"s2".as("u"), $"s1".as("v"))).localCheckpoint()
    val deg = adj.groupBy($"u").agg(count(lit(1)).as("d"))
    val cn = adj.select($"u".as("a"), $"v".as("z"))
      .join(adj.select($"u".as("b"), $"v".as("z2")),
        $"z" === $"z2" && $"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("cn"))
    cn.join(edges, $"a" === $"s1" && $"b" === $"s2", "left_anti")
      .join(deg.select($"u".as("a"), $"d".as("du")), "a")
      .join(deg.select($"u".as("b"), $"d".as("dv")), "b")
      .select($"a".as("u"), $"b".as("v"), $"cn", $"du", $"dv",
        round($"cn".cast("double") / ($"du" + $"dv" - $"cn").cast("double"),
          6).as("jaccard"))
      .orderBy($"cn".desc, $"u".asc, $"v".asc)
      .limit(LpTopK)
  }

  val linkPredSql: String =
    s"""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |occ AS (SELECT ok, COUNT(*) AS n_supp FROM so GROUP BY ok),
       |kept AS (SELECT so.ok, so.sk FROM so
       |  JOIN occ ON so.ok = occ.ok AND occ.n_supp <= $TriOrderCap),
       |support AS MATERIALIZED (
       |  SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS support
       |  FROM kept a JOIN kept b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk),
       |nc AS (SELECT COUNT(*) AS n_cand FROM support),
       |edges AS MATERIALIZED (
       |  SELECT s1, s2 FROM support CROSS JOIN nc
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY support DESC, s1 ASC, s2 ASC)
       |    <= LEAST($TriMaxEdges, (n_cand + 1) // 2)),
       |adj AS (SELECT s1 AS u, s2 AS v FROM edges
       |  UNION ALL SELECT s2 AS u, s1 AS v FROM edges),
       |deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY u),
       |cn AS (SELECT a.u AS u, b.u AS v, COUNT(*) AS cn
       |  FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
       |  GROUP BY a.u, b.u),
       |nonadj AS (SELECT cn.* FROM cn
       |  LEFT JOIN edges e ON cn.u = e.s1 AND cn.v = e.s2
       |  WHERE e.s1 IS NULL)
       |SELECT n.u, n.v, CAST(n.cn AS BIGINT) AS cn,
       |  CAST(du.d AS BIGINT) AS du, CAST(dv.d AS BIGINT) AS dv,
       |  ROUND(CAST(n.cn AS DOUBLE)
       |    / CAST(du.d + dv.d - n.cn AS DOUBLE), 6) AS jaccard
       |FROM nonadj n
       |JOIN deg du ON n.u = du.u JOIN deg dv ON n.v = dv.u
       |ORDER BY cn DESC, n.u ASC, n.v ASC LIMIT $LpTopK""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_reciprocity: weighted reciprocity of the nation-level
  // directed trade graph (supplier nation → customer nation, edge
  // weight = discounted revenue): Σ min(w_ij, w_ji) / Σ w_ij over
  // i ≠ j (Squartini & Garlaschelli's W↔/W) plus the domestic share
  // Σ w_ii / Σ_all. The flow-imbalance one-number: reciprocity 1
  // means every corridor is balanced two-way trade, 0 means pure
  // one-way extraction — the macro shape that decides whether a
  // "trade partner" feature is symmetric. Scale shape: the fact
  // collapses to the 25×25 nation grid in ONE pass (the
  // lineitem↔orders equi-join is the irreducible cost, same as
  // kcore's pair build; both dims broadcast), MATERIALIZED for its
  // three consumers (forward/transpose sides + totals); all grid
  // algebra is on ≤625 rows. Determinism: weights are DECIMAL sums;
  // min/compare on bit-identical doubles; final ratios route
  // DECIMAL(28,6) sums.
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val sn = broadcast(Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_nationkey".as("sn")))
    val cn = broadcast(Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey".as("cn")))
    val w = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(sn, $"l_suppkey" === $"s_suppkey")
      .join(cn, $"o_custkey" === $"c_custkey")
      .select($"sn", $"cn",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .groupBy($"sn", $"cn")
      .agg(sum($"rev".cast(DecimalType(18, 6))).cast("double").as("w")).localCheckpoint()
    val off = w.filter($"sn" =!= $"cn")
    val rec = off.join(
      broadcast(off.select($"sn".as("tn"), $"cn".as("tc"), $"w".as("wt"))),
      $"sn" === $"tc" && $"cn" === $"tn", "left")
      // least() IGNORES nulls in both Spark and DuckDB (non-standard!):
      // least(w, null) = w would credit FULL weight to an
      // unreciprocated edge — coalesce the missing reverse to 0 BEFORE
      // the min, so one-way corridors contribute nothing (caught by
      // WaveTenSpec's naive recomputation)
      .select($"w", least($"w", coalesce($"wt", lit(0.0))).as("wmin"))
      .agg(count(lit(1)).as("n_edges"),
        sum($"w".cast(DecimalType(28, 6))).cast("double").as("tw"),
        sum($"wmin".cast(DecimalType(28, 6))).cast("double").as("tmin"))
    val dom = w.agg(
      sum(when($"sn" === $"cn", $"w").otherwise(0.0)
        .cast(DecimalType(28, 6))).cast("double").as("wdom"),
      sum($"w".cast(DecimalType(28, 6))).cast("double").as("wall"),
      countDistinct($"sn").as("n_nations"))
    rec.crossJoin(broadcast(dom))
      .select($"n_nations", $"n_edges",
        round($"tmin" / $"tw", 6).as("reciprocity"),
        round($"wdom" / $"wall", 6).as("domestic_share"))
  }

  val reciprocitySql: String =
    """WITH w AS MATERIALIZED (
      |  SELECT s.s_nationkey AS sn, c.c_nationkey AS cn,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier s ON l_suppkey = s.s_suppkey
      |  JOIN customer c ON o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |off AS (SELECT * FROM w WHERE sn <> cn),
      |rec AS (
      |  SELECT COUNT(*) AS n_edges,
      |    CAST(SUM(CAST(a.w AS DECIMAL(28,6))) AS DOUBLE) AS tw,
      |    CAST(SUM(CAST(LEAST(a.w, COALESCE(b.w, 0.0)) AS DECIMAL(28,6)))
      |      AS DOUBLE) AS tmin
      |  FROM off a LEFT JOIN off b ON a.sn = b.cn AND a.cn = b.sn),
      |dom AS (
      |  SELECT
      |    CAST(SUM(CAST(CASE WHEN sn = cn THEN w ELSE 0.0 END
      |      AS DECIMAL(28,6))) AS DOUBLE) AS wdom,
      |    CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS wall,
      |    COUNT(DISTINCT sn) AS n_nations
      |  FROM w)
      |SELECT CAST(n_nations AS BIGINT) AS n_nations,
      |  CAST(n_edges AS BIGINT) AS n_edges,
      |  ROUND(tmin / tw, 6) AS reciprocity,
      |  ROUND(wdom / wall, 6) AS domestic_share
      |FROM rec CROSS JOIN dom""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_hits: HITS hubs & authorities on the DIRECTED bipartite
  // customer→supplier graph (the natural reading: customers "endorse"
  // the suppliers they buy from) — the mutual-recursion importance
  // signal PageRank can't express: a good hub is one that points at
  // good authorities, a good authority is one pointed at by good hubs.
  // In a curation pipeline this is the crawl-seed/content-host split —
  // hub quality ranks link aggregators, authority quality ranks the
  // hosts worth fetching. Three fixed iterations of
  //   a_k(s) = Σ_{c→s} h_{k−1}(c),  h_k(c) = Σ_{c→s} a_k(s)
  // with NO per-iteration normalization: every update is linear, so
  // deferring the single L1 normalization to the end yields the exact
  // same direction while keeping every intermediate an INTEGER
  // (h_0 = 1) — the whole fixed point runs in exact DECIMAL(38,0)
  // arithmetic and the only floats are the two final score divisions
  // (doubles of exact integers; at a scale where weights exceed 2^53
  // the decimal→double cast rounds identically in both engines).
  // Scale shape: the directed pair list (filtered from the
  // session-cached symmetric artifact) is the only big table; each
  // half-iteration is one shuffle of it against a node-cardinality
  // score table — bucket pairs by c (resp. s) at cluster scale.
  /** Final (a3, h3) weight tables — split out for the WaveTenSpec
    * naive power-iteration recomputation. */
  private[graft] def hitsWeights(spark: SparkSession,
                                 dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val pairs = edgesWithDeg(spark, dir)
      .filter($"src" % 2 === 0)
      .select($"src".as("c"), $"dst".as("s"))
    def dsum0(c: org.apache.spark.sql.Column) =
      sum(c).cast("decimal(38,0)")
    // h0 = 1 ⇒ a1(s) = in-degree; each subsequent half-step is one
    // pair-table join + groupBy. a3 feeds h3 AND the output/total —
    // materialized (node-cardinality) so the chain isn't replayed.
    val a1 = pairs.groupBy($"s").agg(count(lit(1)).cast("decimal(38,0)").as("w"))
    val h1 = pairs.join(a1, "s").groupBy($"c").agg(dsum0($"w").as("w"))
    val a2 = pairs.join(h1, "c").groupBy($"s").agg(dsum0($"w").as("w"))
    val h2 = pairs.join(a2, "s").groupBy($"c").agg(dsum0($"w").as("w"))
    val a3 = pairs.join(h2, "c").groupBy($"s").agg(dsum0($"w").as("w")).localCheckpoint()
    val h3 = pairs.join(a3, "s").groupBy($"c").agg(dsum0($"w").as("w")).localCheckpoint()
    (a3, h3)
  }

  def hits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (a3, h3) = hitsWeights(spark, dir)
    def top(df: DataFrame, node: String, side: String): DataFrame = {
      val tot = df.agg(sum(col("w")).as("t"))
      df.crossJoin(tot)
        .select(lit(side).as("side"),
          (col(node) / 2).cast("long").as("entity_id"),
          round((col("w").cast("double") / col("t").cast("double")), 8)
            .as("score"))
        .orderBy(col("score").desc, col("entity_id"))
        .limit(15)
    }
    top(a3, "s", "authority").unionAll(top(h3, "c", "hub"))
      .orderBy($"side", $"score".desc, $"entity_id")
  }

  val hitsSql: String =
    s"""WITH pairs AS ($edgeSql),
       |a1 AS (SELECT s, CAST(COUNT(*) AS DECIMAL(38,0)) AS w
       |  FROM pairs GROUP BY s),
       |h1 AS (SELECT c, CAST(SUM(a1.w) AS DECIMAL(38,0)) AS w
       |  FROM pairs JOIN a1 USING (s) GROUP BY c),
       |a2 AS (SELECT s, CAST(SUM(h1.w) AS DECIMAL(38,0)) AS w
       |  FROM pairs JOIN h1 USING (c) GROUP BY s),
       |h2 AS (SELECT c, CAST(SUM(a2.w) AS DECIMAL(38,0)) AS w
       |  FROM pairs JOIN a2 USING (s) GROUP BY c),
       |a3 AS (SELECT s, CAST(SUM(h2.w) AS DECIMAL(38,0)) AS w
       |  FROM pairs JOIN h2 USING (c) GROUP BY s),
       |h3 AS (SELECT c, CAST(SUM(a3.w) AS DECIMAL(38,0)) AS w
       |  FROM pairs JOIN a3 USING (s) GROUP BY c),
       |au AS (
       |  SELECT 'authority' AS side, CAST(s // 2 AS BIGINT) AS entity_id,
       |    ROUND(CAST(w AS DOUBLE)
       |      / CAST((SELECT SUM(w) FROM a3) AS DOUBLE), 8) AS score
       |  FROM a3 ORDER BY score DESC, entity_id LIMIT 15),
       |hu AS (
       |  SELECT 'hub' AS side, CAST(c // 2 AS BIGINT) AS entity_id,
       |    ROUND(CAST(w AS DOUBLE)
       |      / CAST((SELECT SUM(w) FROM h3) AS DOUBLE), 8) AS score
       |  FROM h3 ORDER BY score DESC, entity_id LIMIT 15)
       |SELECT * FROM (SELECT * FROM au UNION ALL SELECT * FROM hu)
       |ORDER BY side, score DESC, entity_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_rich_club: rich-club coefficient ladder — for each degree
  // cutoff k (powers of two), the density φ(k) = E_k / (N_k·(N_k−1))
  // among the N_k nodes of degree > k (E_k = ordered edges with BOTH
  // endpoints above the cutoff). The "do the hubs talk to each other"
  // audit that degree and assortativity only hint at: a rising φ(k)
  // ladder means heavy sources/consumers form a core that any
  // hub-capping or salting strategy must treat as one unit, a falling
  // ladder means hubs are independent and cap per-hub. Scale shape:
  // one edge pass attaches the dst degree (src degree already rides the
  // session-cached artifact) and collapses to the min-degree histogram;
  // nodes collapse to the degree histogram; the ladder is conditional
  // sums of those two BOUNDED tables against 12 literal cutoffs.
  // All-integer until the final φ division.
  def richClub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesWithDeg(spark, dir)
    val deg = nodeDeg(spark, dir)
    // per-edge min(deg_src, deg_dst) → bounded histogram
    val mhist = e.join(deg.select($"node".as("dst"),
        $"outdeg".as("ddeg")), "dst")
      .select(least($"outdeg", $"ddeg").as("m"))
      .groupBy($"m").agg(count(lit(1)).as("n_edges"))
    val dhist = deg.groupBy($"outdeg").agg(count(lit(1)).as("n_nodes"))
    val ks = Seq.tabulate(12)(i => 1L << i).toDF("k")
    val ek = ks.crossJoin(mhist).filter($"m" > $"k")
      .groupBy($"k").agg(sum($"n_edges").as("e_k"))
    val nk = ks.crossJoin(dhist).filter($"outdeg" > $"k")
      .groupBy($"k").agg(sum($"n_nodes").as("n_k"))
    nk.join(ek, Seq("k"), "left")
      .filter($"n_k" >= 2)
      .select($"k", $"n_k", coalesce($"e_k", lit(0L)).as("e_k"),
        round(coalesce($"e_k", lit(0L)).cast("double")
          / ($"n_k".cast("double") * ($"n_k" - 1L).cast("double")), 6)
          .as("phi"))
      .orderBy($"k")
  }

  val richClubSql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |mh AS (
       |  SELECT LEAST(ds.outdeg, dd.outdeg) AS m, COUNT(*) AS n_edges
       |  FROM edges e
       |  JOIN deg ds ON e.src = ds.node
       |  JOIN deg dd ON e.dst = dd.node
       |  GROUP BY 1),
       |dh AS (SELECT outdeg, COUNT(*) AS n_nodes FROM deg GROUP BY 1),
       |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024,
       |  2048]) AS k),
       |nk AS (
       |  SELECT ks.k, SUM(dh.n_nodes) AS n_k
       |  FROM ks JOIN dh ON dh.outdeg > ks.k GROUP BY ks.k),
       |ek AS (
       |  SELECT ks.k, SUM(mh.n_edges) AS e_k
       |  FROM ks JOIN mh ON mh.m > ks.k GROUP BY ks.k)
       |SELECT CAST(nk.k AS BIGINT) AS k, CAST(nk.n_k AS BIGINT) AS n_k,
       |  CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS e_k,
       |  ROUND(CAST(COALESCE(ek.e_k, 0) AS DOUBLE)
       |    / (CAST(nk.n_k AS DOUBLE) * CAST(nk.n_k - 1 AS DOUBLE)), 6)
       |    AS phi
       |FROM nk LEFT JOIN ek ON nk.k = ek.k
       |WHERE nk.n_k >= 2
       |ORDER BY k""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_modularity: Newman modularity of the NATION partition of
  // the interaction graph — per community c, the internal-edge share
  // e_cc/m and expected share (a_c/m)², whose difference sums to Q.
  // The "is this grouping real structure" check for any
  // partition-by-metadata strategy (sharding by geography, capping by
  // tenant): Q near 0 says the metadata partition doesn't align with
  // the interaction structure and co-locating by it buys nothing; a
  // large positive Q says partition-local processing will keep most
  // edges internal. Scale shape: the node→nation map joins onto the
  // edge list twice (at 100 TB, broadcast the dimension); everything
  // then collapses to the nation-bounded community table. All-integer
  // counts; the two shares divide exact integers.
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.customer(spark, dir)
      .select(($"c_custkey" * 2).as("node"), $"c_nationkey".as("nation"))
      .unionAll(Tables.supplier(spark, dir)
        .select(($"s_suppkey" * 2 + 1).as("node"), $"s_nationkey".as("nation")))
    val e = edgesWithDeg(spark, dir)
      .join(broadcast(nat).withColumnRenamed("node", "src")
        .withColumnRenamed("nation", "src_nation"), "src")
      .join(broadcast(nat).withColumnRenamed("node", "dst")
        .withColumnRenamed("nation", "dst_nation"), "dst")
    val eMat = e.select($"src_nation", $"dst_nation").localCheckpoint()
    val m = eMat.count() // directed edge count (symmetric graph)
    val internal = eMat.filter($"src_nation" === $"dst_nation")
      .groupBy($"src_nation".as("nation"))
      .agg(count(lit(1)).as("internal_edges"))
    val degSum = eMat.groupBy($"src_nation".as("nation"))
      .agg(count(lit(1)).as("degree_sum"))
    degSum.join(internal, Seq("nation"), "left")
      .select($"nation",
        coalesce($"internal_edges", lit(0L)).as("internal_edges"),
        $"degree_sum",
        round(coalesce($"internal_edges", lit(0L)).cast("double")
          / m.toDouble
          - ($"degree_sum".cast("double") / m.toDouble)
            * ($"degree_sum".cast("double") / m.toDouble), 6)
          .as("contribution"))
      .orderBy($"nation")
  }

  val modularitySql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |nat AS (
       |  SELECT c_custkey * 2 AS node, c_nationkey AS nation FROM customer
       |  UNION ALL
       |  SELECT s_suppkey * 2 + 1 AS node, s_nationkey AS nation
       |  FROM supplier),
       |en AS (
       |  SELECT ns.nation AS src_nation, nd.nation AS dst_nation
       |  FROM edges e
       |  JOIN nat ns ON e.src = ns.node
       |  JOIN nat nd ON e.dst = nd.node),
       |m AS (SELECT COUNT(*) AS m FROM en),
       |i AS (
       |  SELECT src_nation AS nation, COUNT(*) AS internal_edges
       |  FROM en WHERE src_nation = dst_nation GROUP BY 1),
       |ds AS (
       |  SELECT src_nation AS nation, COUNT(*) AS degree_sum
       |  FROM en GROUP BY 1)
       |SELECT ds.nation,
       |  CAST(COALESCE(i.internal_edges, 0) AS BIGINT) AS internal_edges,
       |  CAST(ds.degree_sum AS BIGINT) AS degree_sum,
       |  ROUND(CAST(COALESCE(i.internal_edges, 0) AS DOUBLE)
       |      / CAST(m.m AS DOUBLE)
       |    - (CAST(ds.degree_sum AS DOUBLE) / CAST(m.m AS DOUBLE))
       |      * (CAST(ds.degree_sum AS DOUBLE) / CAST(m.m AS DOUBLE)), 6)
       |    AS contribution
       |FROM ds LEFT JOIN i ON ds.nation = i.nation CROSS JOIN m
       |ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_powerlaw_alpha: maximum-likelihood power-law exponent of
  // the degree distribution per side, via the continuous-approximation
  // discrete MLE α = 1 + n / Σᵢ ln(dᵢ/(d_min − ½)) (Clauset–Shalizi–
  // Newman 2009, eq. 3.7 — the standard estimator; the ½ shift is the
  // continuity correction that makes the continuous form usable on
  // integer degrees). The capacity-planning number behind every
  // hub-handling decision here: α ≲ 2 means degree mass concentrates
  // in the top hubs (cap/salt them before ANY per-neighbor expansion);
  // α ≳ 3 means hubs are noise and uniform partitioning holds. degree()
  // shows the histogram; this collapses it to the one comparable
  // statistic.
  // Scale shape: one pass over the session-cached edge list → per-node
  // degree (the groupBy already materialized for every graph op), then
  // a (side × distinct-degree) histogram — bounded by the degree
  // support, not the node count; the MLE is a sum over that bounded
  // table. Determinism: the ln terms are computed on identical doubles
  // in both engines and routed through DECIMAL(28,12) per histogram
  // row (order-insensitive); d_min ≥ 1 makes ln(d/(d_min−½)) > 0, so
  // the denominator is never 0 and α is always finite.
  def powerlawAlpha(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deg = nodeDeg(spark, dir)
    val hist = deg
      .groupBy(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("side"),
        $"outdeg".as("d"))
      .agg(count(lit(1)).as("c"))
    val mins = hist.groupBy($"side").agg(min($"d").as("dmin"))
    hist.join(broadcast(mins), "side")
      .select($"side", $"c", $"d", $"dmin",
        ($"c" * log($"d".cast("double") / ($"dmin".cast("double") - 0.5)))
          .cast("decimal(28,12)").as("t"))
      .groupBy($"side")
      .agg(sum($"c").as("n_nodes"), max($"dmin").as("d_min"),
        max($"d").as("d_max"),
        round(sum(($"c" * $"d").cast("decimal(28,12)")).cast("double")
          / sum($"c"), 6).as("avg_degree"),
        round(lit(1.0) + sum($"c").cast("double")
          / sum($"t").cast("double"), 6).as("alpha"))
      .orderBy($"side")
  }

  val powerlawAlphaSql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |hist AS (
       |  SELECT CASE WHEN node % 2 = 0 THEN 'customer'
       |    ELSE 'supplier' END AS side, d, COUNT(*) AS c
       |  FROM deg GROUP BY 1, 2),
       |m AS (SELECT side, MIN(d) AS dmin FROM hist GROUP BY 1),
       |t AS (
       |  SELECT h.side, h.c, h.d, m.dmin,
       |    CAST(h.c * LN(CAST(h.d AS DOUBLE)
       |      / (CAST(m.dmin AS DOUBLE) - 0.5)) AS DECIMAL(28,12)) AS t
       |  FROM hist h JOIN m ON h.side = m.side)
       |SELECT side, CAST(SUM(c) AS BIGINT) AS n_nodes,
       |  CAST(MAX(dmin) AS BIGINT) AS d_min,
       |  CAST(MAX(d) AS BIGINT) AS d_max,
       |  ROUND(CAST(SUM(CAST(c * d AS DECIMAL(28,12))) AS DOUBLE)
       |    / SUM(c), 6) AS avg_degree,
       |  ROUND(1.0 + CAST(SUM(c) AS DOUBLE) / CAST(SUM(t) AS DOUBLE), 6)
       |    AS alpha
       |FROM t GROUP BY side ORDER BY side""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_bfs_hops: breadth-first reach profile from the hub —
  // per hop (0..4), the newly-reached node count, the cumulative
  // reach, and the still-unreached remainder, seeded at the
  // max-degree node (ties: min node id). The "how far is everything
  // from the center" exhibit: crawl-frontier sizing reads the hop
  // growth rate (a frontier that 10×es per hop needs per-hop
  // repartitioning), and a large unreached remainder after 4 hops
  // from THE hub flags disconnected islands that per-component ops
  // (cc) then explain. The frontier-expansion loop is the third
  // fixed-point discipline in this file next to cc's label
  // propagation and kcore's peeling.
  // Scale shape: each hop is ONE join of the (small) frontier against
  // the session-cached edge list — broadcast here; at cluster scale
  // the edge table is bucketed by src and the frontier shuffles to
  // it, never the reverse. Frontiers/visited localCheckpoint per hop
  // (the cc/kcore loop discipline) so hop h never replays hops
  // 0..h−1. Determinism: all counts integer; the seed is a total
  // (degree DESC, node ASC) order; dedup via distinct + anti-join.
  private val BfsHops = 4
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesWithDeg(spark, dir)
    if (e.isEmpty)
      return spark.createDataFrame(Seq.empty[(Int, Long, Long, Long)])
        .toDF("hop", "n_new", "n_cum", "n_unreached")
    val edges = e.select($"src", $"dst")
    val seed = nodeDeg(spark, dir)
      .orderBy($"outdeg".desc, $"node").limit(1).select($"node")
    val visited = Tables.rounds(seed.select($"node", lit(0).as("hop")), BfsHops) {
      (h, visited) =>
        visited.unionAll(edges
          .join(broadcast(visited.filter($"hop" === h - 1)
            .select($"node".as("src"))), "src")
          .select($"dst".as("node")).distinct()
          .join(visited.select($"node"), Seq("node"), "left_anti")
          .select($"node", lit(h).as("hop")))
    }
    val tot = nodeDeg(spark, dir).agg(count(lit(1)).as("n_nodes"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"hop")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    visited.groupBy($"hop").agg(count(lit(1)).as("n_new"))
      .withColumn("n_cum", sum($"n_new").over(w))
      .crossJoin(broadcast(tot))
      .select($"hop", $"n_new", $"n_cum",
        ($"n_nodes" - $"n_cum").as("n_unreached"))
      .orderBy($"hop")
  }

  val bfsHopsSql: String = {
    // every level MATERIALIZED: v_h has two consumers and inlined
    // CTEs would re-evaluate the chain exponentially in the hop count
    def hop(prevV: String, prevF: String, h: Int): String =
      s"""f$h AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN $prevF f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM $prevV v
         |    WHERE v.node = e.dst)),
         |v$h AS MATERIALIZED (
         |  SELECT node, hop FROM $prevV
         |  UNION ALL SELECT node, $h AS hop FROM f$h)""".stripMargin
    val chain = (1 to BfsHops)
      .map(h => hop(s"v${h - 1}", if (h == 1) "v0" else s"f${h - 1}", h))
      .mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($edgeSql),
       |edges AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |seed AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
       |v0 AS (SELECT node, 0 AS hop FROM seed),
       |$chain,
       |tot AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |per AS (
       |  SELECT hop, COUNT(*) AS n_new FROM v$BfsHops GROUP BY hop)
       |SELECT CAST(hop AS INT) AS hop, CAST(n_new AS BIGINT) AS n_new,
       |  CAST(SUM(n_new) OVER (ORDER BY hop
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_cum,
       |  CAST(t.n_nodes - SUM(n_new) OVER (ORDER BY hop
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_unreached
       |FROM per CROSS JOIN tot t
       |ORDER BY hop""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_graph_degree_gini: degree-inequality coefficient per side —
  // the exact Gini of the degree distribution, computed at HISTOGRAM
  // grain. [[degree]] shows the log₂ buckets and [[powerlawAlpha]]
  // fits the tail; the Gini is the single-number version a capacity
  // planner thresholds on ("above 0.6, per-hub capping is mandatory").
  // For values grouped as (degree d_j, count c_j) sorted by d asc with
  // running count cum_j, the classic rank form 2·Σᵢ i·xᵢ/(n·T) −
  // (n+1)/n needs only 2S = Σ_j d_j·c_j·(cum_j + prev_j + 1) — exact
  // integers, no per-node rank materialization.
  // Scale shape: one node-grain partial agg (the session-cached degree
  // table) → (side, degree) histogram → windows PARTITIONED BY side
  // over histogram rows (bounded by distinct degree values, not node
  // count). Determinism: 2S sums in DECIMAL(38,0); gini/mean are one
  // rounded rational each.
  def degreeGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val deg = nodeDeg(spark, dir)
    val hist = deg.groupBy(
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("side"),
        $"outdeg".as("d"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"side").orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum", sum($"c").over(w))
      .withColumn("prev", $"cum" - $"c")
      .withColumn("two_s_term",
        $"d".cast(DecimalType(38, 0)) * $"c" * ($"cum" + $"prev" + 1))
      .groupBy($"side")
      .agg(sum($"cum" - $"prev").as("n_nodes"),
        count(lit(1)).as("n_distinct_degrees"),
        sum($"d" * $"c").as("sum_degree"),
        max($"d").as("max_degree"),
        sum($"two_s_term").as("two_s"))
      .select($"side", $"n_nodes", $"n_distinct_degrees",
        round($"sum_degree".cast("double") / $"n_nodes", 6)
          .as("mean_degree"),
        $"max_degree",
        round($"two_s".cast("double")
          / ($"n_nodes".cast("double") * $"sum_degree")
          - ($"n_nodes" + 1.0) / $"n_nodes", 6).as("gini"))
      .orderBy($"side")
  }

  val degreeGiniSql: String =
    s"""WITH pairs AS ($edgeSql),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |hist AS (
       |  SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
       |      AS side,
       |    outdeg AS d, COUNT(*) AS c
       |  FROM deg GROUP BY 1, 2),
       |r AS (
       |  SELECT side, d, c,
       |    SUM(c) OVER (PARTITION BY side ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM hist),
       |x AS (
       |  SELECT side, d, c, cum, cum - c AS prev,
       |    CAST(d AS DECIMAL(38,0)) * c * (cum + (cum - c) + 1)
       |      AS two_s_term
       |  FROM r),
       |a AS (
       |  SELECT side, CAST(SUM(cum - prev) AS BIGINT) AS n_nodes,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct_degrees,
       |    CAST(SUM(d * c) AS BIGINT) AS sum_degree,
       |    CAST(MAX(d) AS BIGINT) AS max_degree,
       |    SUM(two_s_term) AS two_s
       |  FROM x GROUP BY side)
       |SELECT side, n_nodes, n_distinct_degrees,
       |  ROUND(CAST(sum_degree AS DOUBLE) / n_nodes, 6) AS mean_degree,
       |  max_degree,
       |  ROUND(CAST(two_s AS DOUBLE)
       |    / (CAST(n_nodes AS DOUBLE) * sum_degree)
       |    - (n_nodes + 1.0) / n_nodes, 6) AS gini
       |FROM a ORDER BY side""".stripMargin

  // --------------------------------------------------------------------
  // llm_graph_eff_diameter: effective-diameter estimate from K pinned
  // BFS sources — the ANF/HyperANF question ("how many hops until 90%
  // of reachable pairs are covered") answered EXACTLY on a
  // deterministic source panel instead of approximately on all nodes:
  // K = 8 roots (top degree, ties min node id — the bfs_hops seed rule
  // widened), BFS to 4 hops, and the per-hop (root, node) pair
  // histogram with cumulative shares; the first hop covering ≥ 90% of
  // the pairs reached within the horizon is flagged as the effective
  // diameter. The crawl-planning number: hop growth says how many
  // expansion rounds a frontier scheduler must provision.
  // Scale shape: identical to bfs_hops with a root column riding the
  // state — each hop is ONE edges⨝frontier join (frontier ≤ K·|V|
  // rows, NOT force-broadcast: at fact scale it shuffles to the
  // bucketed edge table), per-hop distinct + anti-join at (root,
  // node) grain, every level localCheckpointed so hop h never
  // replays hops 0..h−1. The final histogram is ≤ hops+1 rows.
  // Determinism: integer counts; shares are single divisions of
  // exact longs, rounded 6.
  private val EffDiamSources = 8
  private val EffDiamHops = 4
  def effDiameter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = edgesWithDeg(spark, dir)
    val edges = e.select($"src", $"dst")
    val seeds = nodeDeg(spark, dir)
      .orderBy($"outdeg".desc, $"node").limit(EffDiamSources)
      .select($"node".as("root"))
    val visited = Tables.rounds(
        seeds.select($"root", $"root".as("node"), lit(0).as("hop")), EffDiamHops) {
      (h, visited) =>
        visited.unionAll(edges
          .join(visited.filter($"hop" === h - 1)
            .select($"node".as("src"), $"root"), "src")
          .select($"root", $"dst".as("node")).distinct()
          .join(visited.select($"root", $"node"),
            Seq("root", "node"), "left_anti")
          .select($"root", $"node", lit(h).as("hop")))
    }
    val tot = broadcast(visited.agg(count(lit(1)).as("n_pairs_total")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy($"hop")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    visited.groupBy($"hop").agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_pairs", sum($"n_pairs").over(w))
      .crossJoin(tot)
      .select($"hop", $"n_pairs", $"cum_pairs",
        round($"cum_pairs".cast("double") / $"n_pairs_total", 6)
          .as("cum_share"),
        ($"cum_pairs" * 10L >= $"n_pairs_total" * 9L
          && ($"cum_pairs" - $"n_pairs") * 10L < $"n_pairs_total" * 9L)
          .as("is_eff_diameter"))
      .orderBy($"hop")
  }

  val effDiameterSql: String = {
    def hop(prevV: String, prevF: String, h: Int): String =
      s"""f$h AS MATERIALIZED (
         |  SELECT DISTINCT f.root, e.dst AS node
         |  FROM edges e JOIN $prevF f ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM $prevV v
         |    WHERE v.root = f.root AND v.node = e.dst)),
         |v$h AS MATERIALIZED (
         |  SELECT root, node, hop FROM $prevV
         |  UNION ALL SELECT root, node, $h AS hop FROM f$h)""".stripMargin
    val chain = (1 to EffDiamHops)
      .map(h => hop(s"v${h - 1}", if (h == 1) "v0" else s"f${h - 1}", h))
      .mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($edgeSql),
       |edges AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL
       |  SELECT s AS src, c AS dst FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |seeds AS (SELECT node AS root FROM deg
       |  ORDER BY d DESC, node LIMIT $EffDiamSources),
       |v0 AS MATERIALIZED (
       |  SELECT root, root AS node, 0 AS hop FROM seeds),
       |$chain,
       |t AS (SELECT COUNT(*) AS n_pairs_total FROM v$EffDiamHops),
       |g AS (SELECT hop, COUNT(*) AS n_pairs FROM v$EffDiamHops
       |  GROUP BY hop),
       |c AS (SELECT hop, n_pairs,
       |    SUM(n_pairs) OVER (ORDER BY hop ROWS UNBOUNDED PRECEDING)
       |      AS cum_pairs
       |  FROM g)
       |SELECT hop, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(cum_pairs AS BIGINT) AS cum_pairs,
       |  ROUND(CAST(cum_pairs AS DOUBLE) / n_pairs_total, 6) AS cum_share,
       |  (cum_pairs * 10 >= n_pairs_total * 9
       |    AND (cum_pairs - n_pairs) * 10 < n_pairs_total * 9)
       |    AS is_eff_diameter
       |FROM c CROSS JOIN t ORDER BY hop""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_graph_lpa: K-round SYNCHRONOUS label propagation over the
  // regional trade graph — the community detector that needs no edge
  // weights, no modularity objective, and no global state: each round,
  // every node adopts the most frequent label among its neighbors
  // (ties → smallest label, self-loop included so a node's own label
  // votes once — the standard damping against the bipartite two-round
  // oscillation this graph's customer↔supplier structure would
  // otherwise feed; with unique initial labels, round 1 degenerates to
  // min-label, rounds 2+ are genuine majority dynamics). Fixed K = 4
  // by the cc precedent: the output is DEFINED as the round-K census
  // (sync LPA has no convergence guarantee on bipartite graphs, so no
  // fixed-point claim is made — documented semantics, deterministic on
  // both engines because the tie-break is total). Per community:
  // member/customer/supplier counts — the "which trading cliques would
  // a near-dup source collapse merge" view at community grain.
  // Scale shape: per round ONE shuffle of the session-cached edge list
  // against the node-cardinality label table, then two
  // partial-aggregable groupBys ((dst,label) vote counts → per-dst
  // argmax via max(struct(cnt, −label)) — no per-node window, no
  // driver state); labels are referenced once per round, so lineage
  // stays linear in K (the cc self-union lesson).
  private val LpaIters = 4
  /** Exposed for the spec (mirrors [[ccItersForSpec]]). */
  private[graft] def lpaItersForSpec: Int = LpaIters

  /** Label table after `iters` synchronous majority rounds — exposed
    * so the spec can replay the dynamics on a hand-computed synthetic
    * graph ([[lpaLabelsOn]] path) and assert the production round
    * count. */
  private[graft] def lpaLabelsOn(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var labels: DataFrame = edges.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    for (_ <- 1 to iters)
      labels = edges.join(labels, $"src" === $"node")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("cnt"))
        .groupBy($"dst")
        .agg(max(struct($"cnt", (lit(0L) - $"label").as("nl"))).as("m"))
        .select($"dst".as("node"), (lit(0L) - col("m.nl")).as("label"))
    labels
  }

  def lpa(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lpaLabelsOn(regionEdges(spark, dir), LpaIters)
      .groupBy($"label".as("community_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when($"node" % 2 === 0, 1L).otherwise(0L)).as("n_cust"),
        sum(when($"node" % 2 === 1, 1L).otherwise(0L)).as("n_supp"))
      .orderBy($"n_members".desc, $"community_id")
  }

  val lpaSql: String = {
    def iter(prev: String, k: Int): String =
      s"""c$k AS (
         |  SELECT e.dst AS node, p.label AS label, COUNT(*) AS cnt
         |  FROM edges e JOIN $prev p ON e.src = p.node
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, ROW_NUMBER() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    val chain = (1 to LpaIters)
      .map(k => iter(s"l${k - 1}", k)).mkString(",\n")
    s"""WITH cn AS (
       |  SELECT c_custkey, n_regionkey AS c_region FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey),
       |sn AS (
       |  SELECT s_suppkey, n_regionkey AS s_region FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey),
       |pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN cn ON o_custkey = c_custkey
       |  JOIN sn ON l_suppkey = s_suppkey AND c_region = s_region),
       |nodes AS (
       |  SELECT c AS n FROM pairs UNION SELECT s AS n FROM pairs),
       |edges AS (
       |  SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, c AS dst FROM pairs
       |  UNION ALL SELECT n AS src, n AS dst FROM nodes),
       |l0 AS (SELECT n AS node, n AS label FROM nodes),
       |$chain
       |SELECT label AS community_id, COUNT(*) AS n_members,
       |  CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cust,
       |  CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_supp
       |FROM l$LpaIters GROUP BY 1
       |ORDER BY n_members DESC, community_id""".stripMargin
  }

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "llm_graph_lpa" -> (lpa _, lpaSql),
    "llm_graph_eff_diameter" -> (effDiameter _, effDiameterSql),
    "llm_graph_degree_gini" -> (degreeGini _, degreeGiniSql),
    "llm_graph_bfs_hops" -> (bfsHops _, bfsHopsSql),
    "llm_graph_powerlaw_alpha" -> (powerlawAlpha _, powerlawAlphaSql),
    "llm_graph_reciprocity" -> (reciprocity _, reciprocitySql),
    "llm_graph_link_pred" -> (linkPred _, linkPredSql),
    "llm_graph_assortativity" -> (assortativity _, assortativitySql),
    "llm_graph_kcore" -> (kcore _, kcoreSql),
    "llm_graph_cc" -> (cc _, ccSql),
    "llm_graph_pagerank" -> (pagerank _, pagerankSql),
    "llm_graph_degree" -> (degree _, degreeSql),
    "llm_graph_triangles" -> (triangles _, trianglesSql),
    "llm_graph_local_cc" -> (localClusteringCoeff _, localCcSql),
    "llm_graph_edge_weights" -> (edgeWeights _, edgeWeightsSql),
    "llm_graph_hits" -> (hits _, hitsSql),
    "llm_graph_rich_club" -> (richClub _, richClubSql),
    "llm_graph_modularity" -> (modularity _, modularitySql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}

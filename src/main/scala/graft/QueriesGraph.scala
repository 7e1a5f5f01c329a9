package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphOps, TradeGraph}

/** Graph analytics corpus over the trade graph (customer/supplier
  * vertices, distinct trading relations as edges — see
  * [[graft.graph.TradeGraph]]). Every operator is a DataFrame plan
  * ([[graft.graph.GraphOps]]). PageRank and connected components are
  * oracle-checked against unrolled iterative SQL in DuckDB computing
  * the same update rules; `GraphSpec` cross-checks PageRank, connected
  * components, triangles and shortest hops against GraphX in test
  * scope only.
  */
object QueriesGraph {

  private val Off = TradeGraph.SupplierOffset

  /** node2vec bias weights in micro-units (p = 0.5 → 1/p = 2e6,
    * shared-neighbor 1e6, q = 2 → 1/q = 5e5) — ONE set of Scala
    * constants feeds both the engine call and the generated oracle
    * (seeded-constants rule). */
  private val N2vReturn = 2000000L
  private val N2vShared = 1000000L
  private val N2vForward = 500000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qg_degrees" -> ((s, dir) => {
      GraphOps.degrees(TradeGraph.vertices(s, dir), TradeGraph.edges(s, dir))
        .orderBy(col("id"))
    }),
    "qg_pagerank" -> ((s, dir) => {
      GraphOps.pageRankDF(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), iters = 3)
        .select(col("id"), round(col("rank"), 4).as("rank"))
        .orderBy(col("id"))
    }),
    "qg_pagerank10" -> ((s, dir) => {
      // 10 iterations exercises the per-3-rounds lineage truncation in
      // pageRankDF beyond a single checkpoint window
      GraphOps.pageRankDF(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), iters = 10)
        .select(col("id"), round(col("rank"), 4).as("rank"))
        .orderBy(col("id"))
    }),
    "qg_ppr" -> ((s, dir) => {
      // personalized PageRank from customers {1,2,3}: teleport mass
      // restricted to the source set — "records related to these"
      GraphOps.personalizedPageRankDF(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), sources = Seq(1L, 2L, 3L), iters = 5)
        .select(col("id"), round(col("rank"), 6).as("rank"))
        .orderBy(col("id"))
    }),
    "qg_connected_components" -> ((s, dir) => {
      GraphOps.connectedComponents(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir))
        .orderBy(col("id"))
    }),
    "qg_scc" -> ((s, dir) => {
      // directed strongly-connected components over the directed
      // trade graph (customer→supplier always; supplier→customer only
      // on repeat relations): SCCs are the mutually-active trading
      // communities that undirected CC overcounts (it merges one-way
      // chains). Exact — the oracle is the SEMANTIC truth (recursive
      // transitive closure, min mutual-reach partner), not a replay.
      GraphOps.sccDF(TradeGraph.vertices(s, dir),
          TradeGraph.directedEdges(s, dir))
        .orderBy(col("id"))
    }),
    "qg_triangles" -> ((s, dir) => {
      // per-vertex triangle counts over the co-purchaser projection of
      // 100 focal customers: an edge when two customers share >= 5
      // suppliers. The bipartite trade graph itself is triangle-free
      // by construction; the projection is the standard one-mode
      // reduction, materialized once (four consumers: three join
      // sides + the vertex set — A/B: 1.7 → 0.9 s vs GraphX, whose
      // variant GraphSpec pins equal). Counts are exact ints — the
      // hash can't drift with partitioning.
      val proj = copurchaseProjection(s, dir)
      val verts = proj.select(col("src").as("id"))
        .unionByName(proj.select(col("dst").as("id"))).distinct()
      GraphOps.triangleCountsDF(verts, proj).orderBy("id")
    }),
    "qg_shortest_paths" -> ((s, dir) => {
      // undirected BFS hop distances from customer 1, bounded at 3
      // hops (d1 = its suppliers, d2 = co-purchasers, d3 = their
      // suppliers — the supply-chain blast radius)
      GraphOps.shortestHops(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), sourceIds = Seq(1L), maxHops = 3)
        .orderBy("id")
    }),
    "qg_sssp" -> ((s, dir) => {
      // weighted shortest paths from customer 1 over the min-lot-cost
      // edges. The round budget is the operator's contract (4-round
      // Bellman–Ford, unrolled identically in the oracle — weighted
      // relaxation can keep improving past the hop diameter, so a
      // fixed budget, not "until converged", is what both sides pin);
      // GraphSpec proves exactness-at-fixpoint on a synthetic path
      GraphOps.ssspDF(TradeGraph.vertices(s, dir),
          TradeGraph.weightedEdges(s, dir), sourceIds = Seq(1L), rounds = 4)
        .orderBy(col("id"))
    }),
    "qg_labelprop" -> ((s, dir) => {
      GraphOps.labelPropDF(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), rounds = 3)
        .orderBy(col("id"))
    }),
    "qg_modularity" -> ((s, dir) => {
      // partition quality of the 3-round label-prop communities:
      // per-community Newman modularity contribution (Σ q_part = Q)
      GraphOps.modularityDF(TradeGraph.edges(s, dir),
          GraphOps.labelPropDF(TradeGraph.vertices(s, dir),
            TradeGraph.edges(s, dir), rounds = 3))
        .orderBy(col("community"))
    }),
    "qg_clustering" -> ((s, dir) => {
      // Watts-Strogatz local clustering over the co-purchaser
      // projection: triangles vs possible neighbor pairs, exact
      // integer micro-units
      GraphOps.clusteringCoefficientDF(copurchaseProjection(s, dir))
        .orderBy("id")
    }),
    "qg_assortativity" -> ((s, dir) => {
      // degree-degree Pearson correlation across trade-graph edges:
      // is this hub-to-hub or hub-and-spoke? (exact integer sums,
      // one-row double ratio)
      GraphOps.assortativityDF(TradeGraph.edges(s, dir))
    }),
    "qg_hyperball" -> ((s, dir) => {
      // HLL neighborhood function N(t) for t = 0..3 over the whole
      // trade graph: per-vertex 64-register counters max-merged along
      // edges (HyperBall) — distance distribution + 90% effective
      // diameter without any all-pairs BFS; state |V|·64 longs
      GraphOps.hyperBallDF(TradeGraph.vertices(s, dir),
        TradeGraph.edges(s, dir), rounds = 3)
    }),
    "qg_hyperball_centrality" -> ((s, dir) => {
      // approximate harmonic centrality for EVERY vertex from the
      // HyperBall shell sizes — the whole-graph estimate the exact
      // k-source qg_harmonic can't scale to; exact e4/e6 integers
      GraphOps.hyperBallCentralityDF(TradeGraph.vertices(s, dir),
        TradeGraph.edges(s, dir), rounds = 3)
    }),
    "qg_harmonic" -> ((s, dir) => {
      // bounded-radius harmonic centrality from the same 4 focal
      // customers as qg_betweenness: Σ 1/dist in exact micro-units
      GraphOps.harmonicCentralityDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L, 4L), depth = 3)
        .orderBy("id")
    }),
    "qg_closeness" -> ((s, dir) => {
      // closeness from the same 4 focal customers: reached-source
      // count + exact distance sum, closing to reached*1e6 div Σd —
      // all-integer, so the disconnected-graph conditioning is
      // explicit in the output
      GraphOps.closenessCentralityDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L, 4L), depth = 3)
        .orderBy("id")
    }),
    "qg_betweenness" -> ((s, dir) => {
      // bounded-radius Brandes betweenness from 4 focal customers:
      // exact integer path counts forward, micro-unit dependency
      // accumulation backward (multiply-before-integer-divide terms)
      GraphOps.betweennessDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L, 4L), depth = 3)
        .orderBy("id")
    }),
    "qg_random_walks" -> ((s, dir) => {
      // DeepWalk sampling corpus: 3 deterministic 4-step walks from
      // each of customers {1,2,3} over the undirected trade graph —
      // successor = argmin-of-edge-hash (a seeded PRF draw that
      // replays exactly in SQL; no rand(), no neighbor-ordinal
      // window)
      GraphOps.randomWalksDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L), nWalks = 3, steps = 4)
        .orderBy("start", "walk", "step")
    }),
    "qg_degree_dist" -> ((s, dir) => {
      // degree distribution + CCDF: the first thing anyone plots on a
      // new graph (hub-heaviness readout, the power-law eyeball);
      // degree-domain frame, exact integers, suffix-sum window on it
      import org.apache.spark.sql.expressions.Window
      val d = GraphOps.degrees(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir))
        .groupBy(col("total").as("degree"))
        .agg(count(lit(1)).as("n_vertices"))
      val wSuf = Window.orderBy(col("degree"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      d.withColumn("n_at_least", sum(col("n_vertices")).over(wSuf))
        .withColumn("ccdf_micro", expr(
          "n_at_least * 1000000 div sum(n_vertices) over ()"))
        .orderBy("degree")
    }),
    "qg_robustness" -> ((s, dir) => {
      // attack-tolerance probe: drop the 10 highest-degree vertices,
      // report surviving component structure — exact integer counts;
      // the oracle's 12-round min-label budget covers the diameter
      GraphOps.robustnessDF(TradeGraph.vertices(s, dir),
        TradeGraph.edges(s, dir), topK = 10)
    }),
    "qg_temporal_reach" -> ((s, dir) => {
      // time-respecting reachability from customer 1: walks only use
      // relations whose FIRST trade is at-or-after the arrival time —
      // the influence set static BFS over-counts; 4-round budget like
      // qg_sssp, exact epoch-day integers
      GraphOps.temporalReachDF(TradeGraph.temporalEdges(s, dir),
          sources = Seq(1L), rounds = 4)
        .orderBy("id")
    }),
    "qg_pagerank_weighted" -> ((s, dir) => {
      // weighted PageRank over the min-lot-cost trade relations: mass
      // splits proportionally to edge weight instead of uniformly
      GraphOps.weightedPageRankDF(TradeGraph.vertices(s, dir),
          TradeGraph.weightedEdges(s, dir), iters = 3)
        .select(col("id"), round(col("rank"), 4).as("rank"))
        .orderBy(col("id"))
    }),
    "qg_conductance" -> ((s, dir) => {
      // cut quality of the 3-round label-prop communities: exact cut
      // and volume integers, micro-unit φ = cut/min(vol, 2m−vol) —
      // modularity's companion gauge
      val e = TradeGraph.edges(s, dir)
      GraphOps.conductanceDF(e,
          GraphOps.labelPropDF(TradeGraph.vertices(s, dir), e, rounds = 3))
        .orderBy("community")
    }),
    "qg_node2vec" -> ((s, dir) => {
      // node2vec biased second-order walks (p=0.5 return-y, q=2
      // explore-averse → micro weights 2e6/1e6/5e5): successor drawn
      // by exact integer inverse-CDF over dst-ordered cumulative bias
      // weights, threshold = hash60 mod Σw — replays exactly in SQL
      GraphOps.node2vecWalks(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L), nWalks = 2, steps = 4,
          wReturnMicro = N2vReturn, wSharedMicro = N2vShared,
          wForwardMicro = N2vForward)
        .orderBy("start", "walk", "step")
    }),
    "qg_walk_skipgrams" -> ((s, dir) => {
      // the DeepWalk harvest: window-2 skip-gram (center, context)
      // pair counts over the same walk corpus qg_random_walks emits —
      // the frame word2vec actually trains on
      GraphOps.walkSkipgrams(
        GraphOps.randomWalksDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L), nWalks = 3, steps = 4),
        window = 2)
        .orderBy("center", "context")
    }),
    "qg_node_embeddings" -> ((s, dir) => {
      // DeepWalk/node2vec's missing half, closed in-engine: the
      // walkSkipgrams harvest → shifted-PPMI (shift 1 — walk
      // co-occurrence concentrates on neighborhoods, so graph-close
      // pairs carry positive PMI) → rank-2 symmetric factorization
      // (Levy & Goldberg 2014, the shared Pca power iteration). The
      // vertex set is walk-visited (sources × walks × steps bounded),
      // so the driver matrix is control-plane sized by construction.
      val sg = GraphOps.walkSkipgrams(
        GraphOps.randomWalksDF(TradeGraph.edges(s, dir),
          sourceIds = Seq(1L, 2L, 3L), nWalks = 3, steps = 4),
        window = 2)
      graft.ops.Embeddings.factorize(
          graft.ops.Embeddings.sppmi(sg, "center", "context", "n",
            shift = 1),
          k = 2, iters = 100)
        .orderBy("id")
    }),
    "qg_hits" -> ((s, dir) => {
      // hubs (customers) & authorities (suppliers), 3 integer rounds:
      // unnormalized HITS keeps every score an exact integer sum —
      // ranking-equivalent to the normalized variant, hash-exact
      GraphOps.hitsDF(TradeGraph.vertices(s, dir),
          TradeGraph.edges(s, dir), iters = 3)
        .orderBy(col("id"))
    }),
    "qg_kcore" -> ((s, dir) => {
      // 3-core of the co-purchaser projection (same one-mode
      // reduction as qg_triangles), 6 fixed peel rounds — GraphSpec
      // asserts the fixpoint is reached within them
      GraphOps.kCoreDF(copurchaseProjection(s, dir), k = 3, rounds = 6)
        .orderBy(col("id"))
    }),
    "qg_eigenvector" -> ((s, dir) => {
      // prestige centrality on the co-purchaser projection: 5
      // max-normalized integer power-iteration rounds
      GraphOps.eigenvectorCentralityDF(copurchaseProjection(s, dir),
          rounds = 5)
        .orderBy("id")
    }),
    "qg_ktruss" -> ((s, dir) => {
      // 4-truss of the co-purchaser projection (edges in >= 2
      // triangles of the remaining subgraph), 3 fixed peel rounds —
      // GraphSpec asserts the fixpoint is reached within them
      GraphOps.kTrussDF(copurchaseProjection(s, dir), k = 4, rounds = 3)
        .orderBy("src", "dst")
    }),
    "qg_common_suppliers" -> ((s, dir) => {
      // graph pattern: for 100 focal customers, find co-purchasers with
      // ≥20 common suppliers. The focal restriction keeps the common-
      // neighbor join linear in Σ deg(focal) instead of Σ deg(s)² —
      // the unbounded all-pairs version is quadratic by definition.
      val e = TradeGraph.edges(s, dir)
      val a = e.filter(col("src") < 100).select(col("src").as("a_id"), col("dst"))
      val b = e.select(col("src").as("b_id"), col("dst"))
      a.join(b, "dst").filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 20)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qg_adamic_adar" -> ((s, dir) => {
      // link prediction: the common-neighbor pairs re-scored by
      // Adamic–Adar (rarer shared suppliers count for more) — exact
      // integer micro-unit scores, same focal bound as
      // qg_common_suppliers
      GraphOps.adamicAdarDF(TradeGraph.edges(s, dir),
          focal = col("src") < 100, minShared = 20)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qg_jaccard_links" -> ((s, dir) => {
      // link prediction by neighbor-set Jaccard: the common-neighbor
      // pairs normalized by the union of the two out-neighborhoods
      // (micro-unit exact) — same focal bound as qg_common_suppliers
      GraphOps.jaccardLinksDF(TradeGraph.edges(s, dir),
          focal = col("src") < 100, minShared = 20)
        .orderBy(col("a_id"), col("b_id"))
    })
  )

  /** one-mode co-purchaser projection of 100 focal customers (edge
    * when two customers share ≥ 5 suppliers), canonical src<dst,
    * materialized once — it feeds multiple join consumers
    * (qg_triangles' three-way self-join, qg_kcore's peel rounds). */
  private def copurchaseProjection(s: SparkSession,
      dir: String): DataFrame = {
    val e = TradeGraph.edges(s, dir)
    val focal = e.filter(col("src") < 100)
    val a = focal.select(col("src").as("a_id"), col("dst"))
    val b = focal.select(col("src").as("b_id"), col("dst"))
    a.join(b, "dst").filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 5)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .localCheckpoint()
  }

  private val edgesCte =
    s"""e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src,
       |   l_suppkey + $Off AS dst
       | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       | v AS (SELECT c_custkey AS id FROM customer
       |   UNION ALL SELECT s_suppkey + $Off FROM supplier)""".stripMargin

  /** unrolled personalized PageRank: teleport only to the source set
    * (constants interpolated from the SAME Scala doubles the engine
    * uses — double toString round-trips exactly). */
  private def pprSql(iters: Int, sources: Seq[Long]): String = {
    val share = 1.0 / sources.size
    val reset = 0.15 * share
    val inSet = sources.mkString("(", ", ", ")")
    val rounds = (1 to iters).map { t =>
      s"""m$t AS MATERIALIZED (SELECT e.dst AS id, sum(r${t - 1}.rank / od.outdeg) AS m
         |  FROM e JOIN od USING (src) JOIN r${t - 1} ON r${t - 1}.id = e.src
         |  GROUP BY e.dst),
         | r$t AS MATERIALIZED (SELECT v.id,
         |  CASE WHEN v.id IN $inSet THEN $reset ELSE 0.0 END
         |    + 0.85 * coalesce(m.m, 0) AS rank
         |  FROM v LEFT JOIN m$t m ON m.id = v.id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       | r0 AS (SELECT id, CASE WHEN id IN $inSet THEN $share
       |   ELSE 0.0 END AS rank FROM v),
       | $rounds
       | SELECT id, round(rank, 6) AS rank FROM r$iters ORDER BY id""".stripMargin
  }

  /** unrolled Bellman–Ford over the weighted (min l_quantity) trade
    * edges — each round relaxes every undirected edge and folds the
    * keep-previous case into the same min-groupBy, exactly like
    * [[graft.graph.GraphOps.ssspDF]]. Integer distances. */
  private def ssspSql(source: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""d$t AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         |   SELECT id, dist FROM d${t - 1}
         |   UNION ALL
         |   SELECT u.b AS id, d${t - 1}.dist + u.w
         |     FROM u JOIN d${t - 1} ON u.a = d${t - 1}.id
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH we AS MATERIALIZED (SELECT o_custkey AS src,
       |   l_suppkey + $Off AS dst,
       |   min(CAST(l_quantity AS BIGINT)) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       | u AS MATERIALIZED (SELECT src AS a, dst AS b, w FROM we
       |   UNION ALL SELECT dst, src, w FROM we),
       | d0 AS (SELECT CAST($source AS BIGINT) AS id,
       |   CAST(0 AS BIGINT) AS dist),
       | $steps
       | SELECT id, dist FROM d$rounds ORDER BY id""".stripMargin
  }

  /** unrolled synchronous label propagation: per round a per-(id,
    * label) neighbor count, then the arg-max with ties toward the
    * smallest label (the engine's windowless `max_by(lbl, (c, -lbl))`
    * is this `ORDER BY c DESC, lbl ASC` row_number pick). */
  /** shared label-prop CTE chain ending at `l$rounds(id, lbl)` —
    * consumed by [[lpaSql]] and the modularity oracle. */
  private def lpaCore(rounds: Int): String = {
    val undirected =
      """u AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
        |   UNION ALL SELECT dst, src FROM e)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""n$t AS MATERIALIZED (SELECT u.b AS id, l${t - 1}.lbl,
         |   count(*) AS c
         |  FROM u JOIN l${t - 1} ON u.a = l${t - 1}.id GROUP BY 1, 2),
         | p$t AS MATERIALIZED (SELECT id, lbl FROM (
         |   SELECT id, lbl, row_number() OVER (PARTITION BY id
         |     ORDER BY c DESC, lbl ASC) AS rn FROM n$t) WHERE rn = 1),
         | l$t AS MATERIALIZED (SELECT prev.id,
         |   coalesce(p$t.lbl, prev.lbl) AS lbl
         |  FROM l${t - 1} prev LEFT JOIN p$t ON p$t.id = prev.id)"""
        .stripMargin
    }.mkString(",\n ")
    s"""$edgesCte,
       | $undirected,
       | l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v),
       | $steps""".stripMargin
  }

  private def lpaSql(rounds: Int): String =
    s"""WITH ${lpaCore(rounds)}
       | SELECT id, lbl AS community FROM l$rounds ORDER BY id""".stripMargin

  /** Newman modularity over the [[lpaCore]] communities: per-community
    * integer numerator 4·m·m_c − d_c², one end division by 4m². */
  private def modularitySql(rounds: Int): String =
    s"""WITH ${lpaCore(rounds)},
       | lbl AS MATERIALIZED (SELECT id, lbl AS community FROM l$rounds),
       | mm AS (SELECT count(*) AS m FROM e),
       | deg AS (SELECT id, count(*) AS d FROM (
       |     SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
       |   GROUP BY id),
       | inn AS (SELECT la.community, count(*) AS m_in
       |   FROM e JOIN lbl la ON la.id = e.src
       |     JOIN lbl lb ON lb.id = e.dst
       |   WHERE la.community = lb.community GROUP BY la.community),
       | dc AS (SELECT community, count(*) AS n_vertices,
       |     CAST(coalesce(sum(deg.d), 0) AS BIGINT) AS d_c
       |   FROM lbl LEFT JOIN deg USING (id) GROUP BY community)
       | SELECT dc.community, n_vertices,
       |   CAST(coalesce(inn.m_in, 0) AS BIGINT) AS m_in, d_c,
       |   round(CAST(4 * mm.m * coalesce(inn.m_in, 0) - d_c * d_c
       |       AS DOUBLE) / (4.0 * mm.m * mm.m), 6) AS q_part
       | FROM dc LEFT JOIN inn USING (community) CROSS JOIN mm
       | ORDER BY community""".stripMargin

  /** unrolled GraphX-rule PageRank (rank₀=1; r=0.15+0.85·Σ in/outdeg) */
  private def pagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""m$t AS MATERIALIZED (SELECT e.dst AS id, sum(r${t - 1}.rank / od.outdeg) AS m
         |  FROM e JOIN od USING (src) JOIN r${t - 1} ON r${t - 1}.id = e.src
         |  GROUP BY e.dst),
         | r$t AS MATERIALIZED (SELECT v.id, 0.15 + 0.85 * coalesce(m.m, 0) AS rank
         |  FROM v LEFT JOIN m$t m ON m.id = v.id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       | r0 AS (SELECT id, 1.0 AS rank FROM v),
       | $rounds
       | SELECT id, round(rank, 4) AS rank FROM r$iters ORDER BY id""".stripMargin
  }

  /** unrolled min-label propagation for connected components (the
    * trade graph's diameter is far below the round count). */
  private def ccSql(rounds: Int): String = {
    val undirected =
      """u AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
        |   UNION ALL SELECT dst, src FROM e)""".stripMargin
    val steps = (1 to rounds).map { t =>
      s"""l$t AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
         |   SELECT id, lbl FROM l${t - 1}
         |   UNION ALL
         |   SELECT u.b AS id, l${t - 1}.lbl FROM u
         |     JOIN l${t - 1} ON u.a = l${t - 1}.id
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | $undirected,
       | l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v),
       | $steps
       | SELECT id, lbl AS component FROM l$rounds ORDER BY id""".stripMargin
  }

  /** unrolled integer HITS (h₀=1; aₜ=Σ_in hₜ₋₁; hₜ=Σ_out aₜ —
    * unnormalized, so every score is an exact integer sum). */
  private def hitsSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""a$t AS MATERIALIZED (SELECT v.id,
         |   CAST(coalesce(s.s, 0) AS BIGINT) AS authority
         |  FROM v LEFT JOIN (SELECT e.dst AS id, sum(h${t - 1}.hub) AS s
         |    FROM e JOIN h${t - 1} ON h${t - 1}.id = e.src
         |    GROUP BY e.dst) s USING (id)),
         | h$t AS MATERIALIZED (SELECT v.id,
         |   CAST(coalesce(s.s, 0) AS BIGINT) AS hub
         |  FROM v LEFT JOIN (SELECT e.src AS id, sum(a$t.authority) AS s
         |    FROM e JOIN a$t ON a$t.id = e.dst
         |    GROUP BY e.src) s USING (id))""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | h0 AS (SELECT id, CAST(1 AS BIGINT) AS hub FROM v),
       | $rounds
       | SELECT h$iters.id, hub, authority
       | FROM h$iters JOIN a$iters USING (id) ORDER BY id""".stripMargin
  }

  /** unrolled k-core peel over the co-purchaser projection. */
  /** unrolled k-truss peel over the same co-purchase projection as
    * [[kcoreSql]]: per round, triangles from the wedge + closing
    * joins, per-edge support from the three-slice union, inner-join
    * filter at k−2 (k ≥ 3 peels zero-triangle edges identically);
    * the final support recomputes in the surviving subgraph. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    def triCte(t: Int, u: String): String =
      s"""t$t AS MATERIALIZED (SELECT a.src AS x, a.dst AS y, b.dst AS z
         |   FROM $u a JOIN $u b ON a.src = b.src AND a.dst < b.dst
         |   JOIN $u c ON c.src = a.dst AND c.dst = b.dst),
         | s$t AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS sup FROM (
         |   SELECT x AS src, y AS dst FROM t$t
         |   UNION ALL SELECT x, z FROM t$t
         |   UNION ALL SELECT y, z FROM t$t) GROUP BY 1, 2)"""
    val steps = (1 to rounds).map { t =>
      s"""${triCte(t, s"u${t - 1}")},
         | u$t AS MATERIALIZED (SELECT u.src, u.dst FROM u${t - 1} u
         |   JOIN s$t USING (src, dst) WHERE sup >= ${k - 2})"""
    }.mkString(",\n ")
    val f = rounds + 1
    s"""WITH $edgesCte,
       | proj AS MATERIALIZED (
       |   SELECT a.src AS src, b.src AS dst
       |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
       |   WHERE a.src < 100 AND b.src < 100
       |   GROUP BY a.src, b.src HAVING count(*) >= 5),
       | u0 AS (SELECT src, dst FROM proj),
       | $steps,
       | ${triCte(f, s"u$rounds")}
       | SELECT u.src, u.dst, coalesce(s$f.sup, 0) AS support
       | FROM u$rounds u LEFT JOIN s$f USING (src, dst)
       | ORDER BY src, dst""".stripMargin
  }

  /** unrolled max-normalized power iteration over the co-purchase
    * projection (shared `proj` CTE): per round one neighbor-sum and
    * one scalar-max integer normalization. */
  private def eigenvectorSql(rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""y$t AS MATERIALIZED (SELECT u.a AS id,
         |     CAST(sum(x${t - 1}.x) AS BIGINT) AS y
         |   FROM und u JOIN x${t - 1} ON x${t - 1}.id = u.b
         |   GROUP BY 1),
         | x$t AS MATERIALIZED (SELECT id,
         |   CAST(y * 1000000 // (SELECT max(y) FROM y$t) AS BIGINT)
         |     AS x FROM y$t)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | proj AS MATERIALIZED (
       |   SELECT a.src AS src, b.src AS dst
       |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
       |   WHERE a.src < 100 AND b.src < 100
       |   GROUP BY a.src, b.src HAVING count(*) >= 5),
       | und AS (SELECT src AS a, dst AS b FROM proj
       |   UNION ALL SELECT dst, src FROM proj),
       | x0 AS (SELECT DISTINCT a AS id, CAST(1000000 AS BIGINT) AS x
       |   FROM und),
       | $steps
       | SELECT id, x AS eigen_micro FROM x$rounds ORDER BY id""".stripMargin
  }

  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""bad$t AS MATERIALIZED (SELECT a FROM u${t - 1}
         |   GROUP BY a HAVING count(*) < $k),
         | u$t AS MATERIALIZED (SELECT a, b FROM u${t - 1}
         |   WHERE a NOT IN (SELECT a FROM bad$t)
         |     AND b NOT IN (SELECT a FROM bad$t))""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | proj AS MATERIALIZED (
       |   SELECT a.src AS src, b.src AS dst
       |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
       |   WHERE a.src < 100 AND b.src < 100
       |   GROUP BY a.src, b.src HAVING count(*) >= 5),
       | u0 AS (SELECT src AS a, dst AS b FROM proj
       |   UNION ALL SELECT dst, src FROM proj),
       | $steps
       | SELECT a AS id, CAST(count(*) AS BIGINT) AS core_deg
       | FROM u$rounds GROUP BY a ORDER BY id""".stripMargin
  }

  /** unrolled HyperBall replay: register init from the same
    * domain-separated md5 hash60 the engine uses, one max-merge CTE
    * per round, then a per-round per-vertex HLL close (α·m²·2⁵⁵ and
    * the linear-counting table generated from Sketch.HllAlphaC /
    * HllLnMicro — the seeded-constants rule) summed as exact BIGINT
    * nf_e4. */
  /** shared HyperBall CTE chain: register init + per-round max-merge
    * states s0..sN + per-round PER-VERTEX e4 estimates pe0..peN
    * (α·m²·2⁵⁵ and the ln table generated from the same Scala
    * constants — seeded-constants rule). */
  private def hyperballCtes(rounds: Int): String = {
    val lnRows = graft.ops.Sketch.HllLnMicro.zipWithIndex
      .map { case (m, i) => s"(${i + 1}, $m)" }.mkString(", ")
    val c = graft.ops.Sketch.HllAlphaC
    val merges = (1 to rounds).map { t =>
      s"""s$t AS MATERIALIZED (SELECT id, reg, max(mr) AS mr FROM (
         |   SELECT id, reg, mr FROM s${t - 1}
         |   UNION ALL
         |   SELECT u.a AS id, s.reg, s.mr FROM und u
         |   JOIN s${t - 1} s ON s.id = u.b)
         | GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n ")
    val perVertex = (0 to rounds).map { t =>
      s"""pe$t AS MATERIALIZED (SELECT id, CAST(round(10000 * round(
         |     CASE WHEN $c / stot <= 160.0 AND npres < 64
         |       THEN lnt.micro / 1e6 ELSE $c / stot END, 4))
         |     AS BIGINT) AS e$t
         | FROM (SELECT id, 64 - npres AS vz, npres,
         |       CAST(sp + (64 - npres) * 36028797018963968 AS DOUBLE)
         |         AS stot
         |     FROM (SELECT id, CAST(count(*) AS BIGINT) AS npres,
         |         CAST(sum(1::BIGINT << (55 - mr)) AS BIGINT) AS sp
         |       FROM s$t GROUP BY 1))
         | LEFT JOIN lnt ON lnt.vv = vz)""".stripMargin
    }.mkString(",\n ")
    s"""$edgesCte,
       | und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |   UNION ALL SELECT dst, src FROM e),
       | s0 AS MATERIALIZED (SELECT id, CAST(h % 64 AS INT) AS reg,
       |     CASE WHEN h // 64 = 0 THEN 55
       |       ELSE 55 - length(ltrim(bin(h // 64), '0')) END AS mr
       |   FROM (SELECT id,
       |       ('0x' || substr(md5('hb:' || id), 1, 15))::BIGINT AS h
       |     FROM v)),
       | $merges,
       | lnt(vv, micro) AS (VALUES $lnRows),
       | $perVertex""".stripMargin
  }

  private def hyperballSql(rounds: Int): String = {
    val closes = (0 to rounds).map(t =>
      s"""n$t AS (SELECT $t AS t, CAST(sum(e$t) AS BIGINT) AS nf_e4
         | FROM pe$t)""".stripMargin).mkString(",\n ")
    val union = (0 to rounds).map(t => s"SELECT * FROM n$t")
      .mkString(" UNION ALL ")
    s"""WITH ${hyperballCtes(rounds)},
       | $closes,
       | allr AS ($union)
       | SELECT CAST(t AS INT) AS t, nf_e4,
       |   CAST(nf_e4 * 1000000 // (SELECT max(nf_e4) FROM allr)
       |     AS BIGINT) AS pct_micro
       | FROM allr ORDER BY t""".stripMargin
  }

  /** unrolled HyperBall harmonic centrality: per-vertex shell sizes
    * from consecutive e4 estimates, each term (diff·100) div t. */
  private def hyperballCentralitySql(rounds: Int): String = {
    val joins = (1 to rounds).map(t => s"JOIN pe$t USING (id)")
      .mkString(" ")
    val harmonic = (1 to rounds).map(t =>
      s"(greatest(pe$t.e$t - pe${t - 1}.e${t - 1}, 0) * 100) // $t")
      .mkString(" + ")
    s"""WITH ${hyperballCtes(rounds)}
       | SELECT pe0.id, pe$rounds.e$rounds AS reach_e4,
       |   CAST($harmonic AS BIGINT) AS harmonic_e6
       | FROM pe0 $joins ORDER BY id""".stripMargin
  }

  /** unrolled hub-removal robustness: top-K degree hubs stripped,
    * min-label propagation with the same round budget, component
    * rollup. */
  private def robustnessSql(topK: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""l$t AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
         |   SELECT id, lbl FROM l${t - 1}
         |   UNION ALL
         |   SELECT u2.b AS id, l${t - 1}.lbl FROM u2
         |     JOIN l${t - 1} ON u2.a = l${t - 1}.id
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | deg AS (SELECT v.id,
       |     coalesce(o.n, 0) + coalesce(i.n, 0) AS total
       |   FROM v
       |   LEFT JOIN (SELECT src, count(*) n FROM e GROUP BY src) o
       |     ON o.src = v.id
       |   LEFT JOIN (SELECT dst, count(*) n FROM e GROUP BY dst) i
       |     ON i.dst = v.id),
       | hubs AS (SELECT id FROM deg ORDER BY total DESC, id
       |   LIMIT $topK),
       | fe AS (SELECT src, dst FROM e
       |   WHERE src NOT IN (SELECT id FROM hubs)
       |     AND dst NOT IN (SELECT id FROM hubs)),
       | u2 AS MATERIALIZED (SELECT src AS a, dst AS b FROM fe
       |   UNION ALL SELECT dst, src FROM fe),
       | l0 AS MATERIALIZED (SELECT id, id AS lbl FROM v
       |   WHERE id NOT IN (SELECT id FROM hubs)),
       | $steps,
       | comp AS (SELECT lbl, CAST(count(*) AS BIGINT) AS sz
       |   FROM l$rounds GROUP BY 1)
       | SELECT CAST(sum(sz) AS BIGINT) AS n_kept,
       |   CAST(count(*) AS BIGINT) AS n_components,
       |   CAST(max(sz) AS BIGINT) AS giant_size,
       |   CAST(max(sz) * 1000000 // sum(sz) AS BIGINT)
       |     AS giant_share_micro
       | FROM comp""".stripMargin
  }

  /** unrolled temporal earliest-arrival reachability: the ssspSql
    * relaxation with the time-respecting edge condition. */
  private def temporalReachSql(source: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""a$t AS MATERIALIZED (SELECT id, min(arr) AS arr FROM (
         |   SELECT id, arr FROM a${t - 1}
         |   UNION ALL
         |   SELECT u.b AS id, u.t AS arr
         |     FROM u JOIN a${t - 1} ON u.a = a${t - 1}.id
         |     WHERE u.t >= a${t - 1}.arr
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH te AS MATERIALIZED (SELECT o_custkey AS src,
       |   l_suppkey + $Off AS dst,
       |   min(epoch_us(o_orderdate) // 86400000000) AS t
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       | u AS MATERIALIZED (SELECT src AS a, dst AS b, t FROM te
       |   UNION ALL SELECT dst, src, t FROM te),
       | a0 AS (SELECT CAST($source AS BIGINT) AS id,
       |   CAST(0 AS BIGINT) AS arr),
       | $steps
       | SELECT id, CAST(arr AS BIGINT) AS arrival FROM a$rounds
       | ORDER BY id""".stripMargin
  }

  /** unrolled weighted PageRank: the pagerankSql recurrence with
    * weight-proportional mass split over the min-lot-cost edges. */
  private def wPagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""m$t AS MATERIALIZED (SELECT we.dst AS id,
         |   sum(r${t - 1}.rank * we.w / ow.outw) AS m
         |  FROM we JOIN ow USING (src)
         |    JOIN r${t - 1} ON r${t - 1}.id = we.src
         |  GROUP BY we.dst),
         | r$t AS MATERIALIZED (SELECT v.id,
         |   0.15 + 0.85 * coalesce(m.m, 0) AS rank
         |  FROM v LEFT JOIN m$t m ON m.id = v.id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH $edgesCte,
       | we AS MATERIALIZED (SELECT o_custkey AS src,
       |   l_suppkey + $Off AS dst,
       |   min(CAST(l_quantity AS BIGINT)) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       | ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw
       |   FROM we GROUP BY src),
       | r0 AS (SELECT id, 1.0 AS rank FROM v),
       | $rounds
       | SELECT id, round(rank, 4) AS rank FROM r$iters
       | ORDER BY id""".stripMargin
  }

  /** conductance over the [[lpaCore]] communities: per-community cut
    * edges counted once per side, exact volumes, micro-unit close. */
  private def conductanceSql(rounds: Int): String =
    s"""WITH ${lpaCore(rounds)},
       | lbl AS MATERIALIZED (SELECT id, lbl AS community FROM l$rounds),
       | mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       | deg AS (SELECT id, count(*) AS d FROM (
       |     SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
       |   GROUP BY id),
       | cut AS (SELECT community, CAST(count(*) AS BIGINT) AS cut
       |   FROM (
       |     SELECT la.community FROM e
       |       JOIN lbl la ON la.id = e.src JOIN lbl lb ON lb.id = e.dst
       |       WHERE la.community <> lb.community
       |     UNION ALL
       |     SELECT lb.community FROM e
       |       JOIN lbl la ON la.id = e.src JOIN lbl lb ON lb.id = e.dst
       |       WHERE la.community <> lb.community)
       |   GROUP BY community),
       | vol AS (SELECT community, CAST(count(*) AS BIGINT) AS n_vertices,
       |     CAST(coalesce(sum(deg.d), 0) AS BIGINT) AS vol
       |   FROM lbl LEFT JOIN deg USING (id) GROUP BY community)
       | SELECT vol.community, n_vertices,
       |   CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut, vol,
       |   CASE WHEN least(vol, 2 * mm.m - vol) > 0
       |     THEN CAST(coalesce(cut.cut, 0) * 1000000 //
       |       least(vol, 2 * mm.m - vol) AS BIGINT) END AS phi_micro
       | FROM vol LEFT JOIN cut USING (community) CROSS JOIN mm
       | ORDER BY community""".stripMargin

  /** unrolled node2vec: per step the candidate bias weight is the
    * CASE over (return / shared-neighbor / forward), the draw is the
    * same integer inverse-CDF (hash60 of the walk-step key mod the
    * partition weight sum, first dst-ordered cumulative weight past
    * it). Weights interpolate from the same Scala constants. */
  private def node2vecSql(sources: Seq[Long], nWalks: Int,
      steps: Int): String = {
    def dH60(x: String): String =
      s"('0x' || substr(md5($x),1,15))::BIGINT"
    val rounds = (1 to steps).map { t =>
      val key = s"'n2v:' || start || ':' || walk || ':' || $t" +
        s" || ':' || vertex"
      s"""c$t AS (SELECT f.start, f.walk, f.vertex, f.prev,
         |     u.b AS cand,
         |     CASE WHEN f.prev IS NULL THEN 1000000
         |       WHEN u.b = f.prev THEN $N2vReturn
         |       WHEN m.a IS NOT NULL THEN $N2vShared
         |       ELSE $N2vForward END AS w
         |   FROM f${t - 1} f JOIN und u ON u.a = f.vertex
         |   LEFT JOIN und m ON m.a = f.prev AND m.b = u.b),
         | g$t AS (SELECT start, walk, vertex, cand,
         |     sum(w) OVER (PARTITION BY start, walk ORDER BY cand
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |       AS cum,
         |     sum(w) OVER (PARTITION BY start, walk) AS tw
         |   FROM c$t),
         | f$t AS MATERIALIZED (SELECT start, walk,
         |     vertex AS prev, min(cand) AS vertex
         |   FROM g$t
         |   WHERE cum > ${dH60(key)} % tw
         |   GROUP BY start, walk, vertex)""".stripMargin
    }.mkString(",\n ")
    val srcList = sources.mkString("[", ", ", "]")
    val union = (0 to steps).map(t =>
      s"SELECT start, walk, $t AS step, vertex FROM f$t")
      .mkString("\n UNION ALL ")
    s"""WITH $edgesCte,
       | und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
       |   SELECT src AS a, dst AS b FROM e
       |   UNION ALL SELECT dst, src FROM e)),
       | f0 AS (SELECT s.start, w.walk,
       |     CAST(NULL AS BIGINT) AS prev, s.start AS vertex
       |   FROM (SELECT unnest($srcList) AS start) s
       |   CROSS JOIN (SELECT unnest(range($nWalks)) AS walk) w),
       | $rounds
       | SELECT CAST(start AS BIGINT) AS start, CAST(walk AS INT) AS walk,
       |   CAST(step AS INT) AS step, CAST(vertex AS BIGINT) AS vertex
       | FROM ($union)
       | ORDER BY start, walk, step""".stripMargin
  }

  /** unrolled deterministic random walks: per step, the successor is
    * the row_number-1 neighbor under (hash60 of the walk:step:edge
    * key, dst) order — identical to the engine's `min_by(dst,
    * struct(h, dst))` argmin. */
  private def randomWalksSql(sources: Seq[Long], nWalks: Int,
      steps: Int): String = {
    def dH60(x: String): String =
      s"('0x' || substr(md5($x),1,15))::BIGINT"
    val rounds = (1 to steps).map { t =>
      val key = s"'walk:' || f.start || ':' || f.walk || ':' || $t" +
        s" || ':' || u.a || ':' || u.b"
      s"""f$t AS MATERIALIZED (SELECT start, walk, $t AS step, vertex
         | FROM (SELECT f.start, f.walk, u.b AS vertex,
         |     row_number() OVER (PARTITION BY f.start, f.walk
         |       ORDER BY ${dH60(key)}, u.b) AS rn
         |   FROM f${t - 1} f JOIN und u ON u.a = f.vertex)
         | WHERE rn = 1)""".stripMargin
    }.mkString(",\n ")
    val srcList = sources.mkString("[", ", ", "]")
    val union = (0 to steps).map(t => s"SELECT * FROM f$t")
      .mkString("\n UNION ALL ")
    s"""WITH $edgesCte,
       | und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |   UNION ALL SELECT dst, src FROM e),
       | f0 AS (SELECT s.start, w.walk, 0 AS step, s.start AS vertex
       |   FROM (SELECT unnest($srcList) AS start) s
       |   CROSS JOIN (SELECT unnest(range($nWalks)) AS walk) w),
       | $rounds
       | SELECT CAST(start AS BIGINT) AS start, CAST(walk AS INT) AS walk,
       |   CAST(step AS INT) AS step, CAST(vertex AS BIGINT) AS vertex
       | FROM ($union)
       | ORDER BY start, walk, step""".stripMargin
  }

  /** the walk CTE chain re-used, then the window-`w` pair count. */
  private def walkSkipgramsSql(sources: Seq[Long], nWalks: Int,
      steps: Int, w: Int): String = {
    val walksSql = randomWalksSql(sources, nWalks, steps)
    s"""WITH tr AS ($walksSql)
       | SELECT a.vertex AS center, b.vertex AS context,
       |   CAST(count(*) AS BIGINT) AS n
       | FROM tr a JOIN tr b
       |   ON a.start = b.start AND a.walk = b.walk
       |   AND a.step <> b.step AND abs(a.step - b.step) <= $w
       | GROUP BY 1, 2 ORDER BY center, context""".stripMargin
  }

  /** unrolled two-phase Brandes at fixed depth 3: BFS levels with
    * NOT-EXISTS anti-joins forward, micro-unit integer dependency
    * terms `σ_v·(1e6+δ_w) // σ_w` backward (DuckDB `//` ≡ Spark
    * `div` on positive BIGINTs). */
  /** shared forward-BFS level chain (l0..l3 with σ path counts) for
    * the betweenness and harmonic oracles. */
  private def bfsLevels3Sql(sources: Seq[Long]): String = {
    val srcRows = sources.map(s => s"($s)").mkString(", ")
    s"""WITH $edgesCte,
       | und AS MATERIALIZED (SELECT src AS a, dst AS b FROM e
       |   UNION ALL SELECT dst, src FROM e),
       | l0 AS (SELECT s.src, s.src AS v, CAST(1 AS BIGINT) AS sigma
       |   FROM (VALUES $srcRows) AS s(src)),
       | l1 AS MATERIALIZED (SELECT f.src, u.b AS v,
       |     CAST(sum(f.sigma) AS BIGINT) AS sigma
       |   FROM l0 f JOIN und u ON u.a = f.v
       |   WHERE NOT EXISTS (SELECT 1 FROM l0 p
       |     WHERE p.src = f.src AND p.v = u.b)
       |   GROUP BY 1, 2),
       | l2 AS MATERIALIZED (SELECT f.src, u.b AS v,
       |     CAST(sum(f.sigma) AS BIGINT) AS sigma
       |   FROM l1 f JOIN und u ON u.a = f.v
       |   WHERE NOT EXISTS (SELECT 1 FROM l0 p
       |       WHERE p.src = f.src AND p.v = u.b)
       |     AND NOT EXISTS (SELECT 1 FROM l1 p
       |       WHERE p.src = f.src AND p.v = u.b)
       |   GROUP BY 1, 2),
       | l3 AS MATERIALIZED (SELECT f.src, u.b AS v,
       |     CAST(sum(f.sigma) AS BIGINT) AS sigma
       |   FROM l2 f JOIN und u ON u.a = f.v
       |   WHERE NOT EXISTS (SELECT 1 FROM l0 p
       |       WHERE p.src = f.src AND p.v = u.b)
       |     AND NOT EXISTS (SELECT 1 FROM l1 p
       |       WHERE p.src = f.src AND p.v = u.b)
       |     AND NOT EXISTS (SELECT 1 FROM l2 p
       |       WHERE p.src = f.src AND p.v = u.b)
       |   GROUP BY 1, 2)""".stripMargin
  }

  private def betweennessSql(sources: Seq[Long]): String = {
    val inSet = sources.mkString("(", ", ", ")")
    s"""${bfsLevels3Sql(sources)},
       | d2 AS MATERIALIZED (SELECT l.src, l.v,
       |     CAST(sum(l.sigma * (1000000 + 0) // s.sigma) AS BIGINT)
       |       AS dmu
       |   FROM l2 l JOIN und u ON u.a = l.v
       |   JOIN l3 s ON s.src = l.src AND s.v = u.b
       |   GROUP BY 1, 2),
       | d1 AS MATERIALIZED (SELECT l.src, l.v,
       |     CAST(sum(l.sigma * (1000000 + coalesce(d.dmu, 0))
       |       // s.sigma) AS BIGINT) AS dmu
       |   FROM l1 l JOIN und u ON u.a = l.v
       |   JOIN l2 s ON s.src = l.src AND s.v = u.b
       |   LEFT JOIN d2 d ON d.src = s.src AND d.v = s.v
       |   GROUP BY 1, 2)
       | SELECT v AS id, CAST(sum(dmu) AS BIGINT) AS betweenness_micro
       | FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
       | WHERE v NOT IN $inSet
       | GROUP BY v HAVING sum(dmu) > 0 ORDER BY id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "qg_clustering" ->
      // same projection + ordered-triangle chain as qg_triangles,
      // plus the undirected degree and the integer coefficient rule
      s"""WITH $edgesCte,
         | proj AS MATERIALIZED (
         |   SELECT a.src AS src, b.src AS dst
         |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |   WHERE a.src < 100 AND b.src < 100
         |   GROUP BY a.src, b.src HAVING count(*) >= 5),
         | deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |   SELECT src AS id FROM proj
         |   UNION ALL SELECT dst FROM proj) GROUP BY id),
         | tris AS (SELECT p1.src AS a, p1.dst AS b, p2.dst AS c
         |   FROM proj p1 JOIN proj p2 ON p2.src = p1.dst
         |   JOIN proj p3 ON p3.src = p1.src AND p3.dst = p2.dst),
         | mem AS (SELECT a AS id FROM tris
         |   UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris),
         | cnt AS (SELECT id, count(*) AS t FROM mem GROUP BY id)
         | SELECT deg.id,
         |   CAST(coalesce(cnt.t, 0) AS INT) AS triangles,
         |   deg.d AS degree,
         |   CASE WHEN deg.d >= 2 THEN
         |     CAST(coalesce(cnt.t, 0) AS BIGINT) * 2000000
         |       // (deg.d * (deg.d - 1))
         |   ELSE 0 END AS coeff_micro
         | FROM deg LEFT JOIN cnt USING (id)
         | ORDER BY id""".stripMargin,
    "qg_assortativity" ->
      s"""WITH $edgesCte,
         | und AS (SELECT src AS a, dst AS b FROM e
         |   UNION ALL SELECT dst, src FROM e),
         | deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS d
         |   FROM und GROUP BY a),
         | j AS (SELECT da.d AS da, db.d AS db FROM und
         |   JOIN deg da ON da.id = und.a JOIN deg db ON db.id = und.b),
         | sums AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |     CAST(sum(da * db) AS BIGINT) AS sjk,
         |     CAST(sum(da) AS BIGINT) AS sj,
         |     CAST(sum(da * da) AS BIGINT) AS sj2 FROM j)
         | SELECT m AS m_ordered,
         |   round((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
         |       - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
         |     / (CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE)
         |       - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)), 6)
         |     AS assortativity
         | FROM sums""".stripMargin,
    "qg_betweenness" -> betweennessSql(Seq(1L, 2L, 3L, 4L)),
    "qg_harmonic" -> {
      val inSet = Seq(1L, 2L, 3L, 4L).mkString("(", ", ", ")")
      s"""${bfsLevels3Sql(Seq(1L, 2L, 3L, 4L))}
         | SELECT v AS id, CAST(sum(hm) AS BIGINT) AS harmonic_micro
         | FROM (SELECT src, v, 1000000 // 1 AS hm FROM l1
         |   UNION ALL SELECT src, v, 1000000 // 2 FROM l2
         |   UNION ALL SELECT src, v, 1000000 // 3 FROM l3)
         | WHERE v NOT IN $inSet
         | GROUP BY v ORDER BY id""".stripMargin
    },
    "qg_closeness" -> {
      val inSet = Seq(1L, 2L, 3L, 4L).mkString("(", ", ", ")")
      s"""${bfsLevels3Sql(Seq(1L, 2L, 3L, 4L))}
         | SELECT v AS id, CAST(count(*) AS BIGINT) AS reached,
         |   CAST(sum(d) AS BIGINT) AS dist_sum,
         |   CAST(count(*) * 1000000 // sum(d) AS BIGINT)
         |     AS closeness_micro
         | FROM (SELECT src, v, 1 AS d FROM l1
         |   UNION ALL SELECT src, v, 2 FROM l2
         |   UNION ALL SELECT src, v, 3 FROM l3)
         | WHERE v NOT IN $inSet
         | GROUP BY v ORDER BY id""".stripMargin
    },
    "qg_hyperball" -> hyperballSql(3),
    "qg_hyperball_centrality" -> hyperballCentralitySql(3),
    "qg_node2vec" -> node2vecSql(Seq(1L, 2L, 3L), 2, 4),
    "qg_conductance" -> conductanceSql(3),
    "qg_pagerank_weighted" -> wPagerankSql(3),
    "qg_temporal_reach" -> temporalReachSql(1L, 4),
    "qg_robustness" -> robustnessSql(10, 12),
    "qg_degree_dist" ->
      s"""WITH $edgesCte,
         | deg AS (SELECT v.id,
         |     coalesce(o.n, 0) + coalesce(i.n, 0) AS total
         |   FROM v
         |   LEFT JOIN (SELECT src, count(*) n FROM e GROUP BY src) o
         |     ON o.src = v.id
         |   LEFT JOIN (SELECT dst, count(*) n FROM e GROUP BY dst) i
         |     ON i.dst = v.id),
         | dd AS (SELECT total AS degree,
         |     CAST(count(*) AS BIGINT) AS n_vertices
         |   FROM deg GROUP BY 1)
         | SELECT degree, n_vertices,
         |   CAST(sum(n_vertices) OVER (ORDER BY degree
         |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |     AS BIGINT) AS n_at_least,
         |   CAST(sum(n_vertices) OVER (ORDER BY degree
         |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |     * 1000000 // sum(n_vertices) OVER () AS BIGINT)
         |     AS ccdf_micro
         | FROM dd ORDER BY degree""".stripMargin,
    "qg_walk_skipgrams" -> walkSkipgramsSql(Seq(1L, 2L, 3L), 3, 4, 2),
    "qg_node_embeddings" -> QueriesPipeline.sppmiEmbedSql(
      "SELECT center AS a, context AS b, n FROM (" +
        walkSkipgramsSql(Seq(1L, 2L, 3L), 3, 4, 2) + ")",
      shift = 1, iters = 100),
    "qg_random_walks" -> randomWalksSql(Seq(1L, 2L, 3L), 3, 4),
    "qg_hits" -> hitsSql(3),
    "qg_kcore" -> kcoreSql(3, 6),
    "qg_ktruss" -> ktrussSql(4, 3),
    "qg_eigenvector" -> eigenvectorSql(5),
    "qg_sssp" -> ssspSql(1L, 4),
    "qg_labelprop" -> lpaSql(3),
    "qg_modularity" -> modularitySql(3),
    "qg_degrees" ->
      s"""WITH $edgesCte
         | SELECT v.id,
         |   coalesce(o.n, 0) AS out_deg, coalesce(i.n, 0) AS in_deg,
         |   coalesce(o.n, 0) + coalesce(i.n, 0) AS total
         | FROM v
         | LEFT JOIN (SELECT src, count(*) n FROM e GROUP BY src) o
         |   ON o.src = v.id
         | LEFT JOIN (SELECT dst, count(*) n FROM e GROUP BY dst) i
         |   ON i.dst = v.id
         | ORDER BY v.id""".stripMargin,
    "qg_pagerank" -> pagerankSql(3),
    "qg_pagerank10" -> pagerankSql(10),
    "qg_ppr" -> pprSql(5, Seq(1L, 2L, 3L)),
    "qg_connected_components" -> ccSql(12),
    // SEMANTIC truth, not an algorithm replay: full recursive
    // transitive closure over the directed trade graph, scc = min
    // mutual-reach partner — any vertex the engine's refinement
    // misclassifies fails the gate
    "qg_scc" ->
      s"""WITH RECURSIVE rel AS (
         |  SELECT o_custkey AS c, l_suppkey + $Off AS sp,
         |    count(DISTINCT o_orderkey) AS n
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         | de AS MATERIALIZED (
         |  SELECT c AS src, sp AS dst FROM rel
         |  UNION ALL
         |  SELECT sp AS src, c AS dst FROM rel WHERE n >= 2),
         | verts AS (SELECT c_custkey AS id FROM customer
         |  UNION ALL SELECT s_suppkey + $Off FROM supplier),
         | reach(a, b) AS (
         |  SELECT id, id FROM verts
         |  UNION
         |  SELECT r.a, de.dst FROM reach r JOIN de ON de.src = r.b)
         | SELECT r1.a AS id, min(r1.b) AS scc
         | FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
         | GROUP BY r1.a ORDER BY id""".stripMargin,
    "qg_shortest_paths" ->
      // bounded recursive BFS; UNION (not ALL) dedups (id, dist) rows
      // per step so the path-count explosion never materializes
      s"""WITH RECURSIVE $edgesCte,
         | und AS (SELECT src AS a, dst AS b FROM e
         |   UNION ALL SELECT dst, src FROM e),
         | bfs(id, dist) AS (
         |   SELECT id, 0 FROM v WHERE id = 1
         |   UNION
         |   SELECT und.b, bfs.dist + 1 FROM bfs JOIN und ON und.a = bfs.id
         |   WHERE bfs.dist < 3)
         | SELECT id, min(dist) AS dist FROM bfs GROUP BY id
         | ORDER BY id""".stripMargin,
    "qg_common_suppliers" ->
      s"""WITH $edgesCte
         | SELECT a.src AS a_id, b.src AS b_id, count(*) AS shared
         | FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         | WHERE a.src < 100
         | GROUP BY 1, 2 HAVING count(*) >= 20
         | ORDER BY a_id, b_id""".stripMargin,
    "qg_adamic_adar" ->
      s"""WITH $edgesCte,
         | w AS (SELECT dst, CAST(round(1e6 / ln(d)) AS BIGINT) AS w
         |   FROM (SELECT dst, count(*) AS d FROM e GROUP BY dst)
         |   WHERE d >= 2)
         | SELECT a.src AS a_id, b.src AS b_id, count(*) AS shared,
         |   CAST(sum(w.w) AS BIGINT) AS aa_micro
         | FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |   JOIN w ON w.dst = a.dst
         | WHERE a.src < 100
         | GROUP BY 1, 2 HAVING count(*) >= 20
         | ORDER BY a_id, b_id""".stripMargin,
    "qg_jaccard_links" ->
      s"""WITH $edgesCte,
         | deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e
         |   GROUP BY src),
         | p AS (SELECT a.src AS a_id, b.src AS b_id,
         |     CAST(count(*) AS BIGINT) AS shared
         |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |   WHERE a.src < 100
         |   GROUP BY 1, 2 HAVING count(*) >= 20)
         | SELECT a_id, b_id, shared, da.d AS da, db.d AS db,
         |   CAST(round(CAST(shared AS DOUBLE) * 1e6 /
         |     (da.d + db.d - shared), 0) AS BIGINT) AS jac_micro
         | FROM p JOIN deg da ON p.a_id = da.src
         |   JOIN deg db ON p.b_id = db.src
         | ORDER BY a_id, b_id""".stripMargin,
    "qg_triangles" ->
      s"""WITH $edgesCte,
         | proj AS MATERIALIZED (
         |   SELECT a.src AS a, b.src AS b
         |   FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |   WHERE a.src < 100 AND b.src < 100
         |   GROUP BY a.src, b.src HAVING count(*) >= 5),
         | tris AS (SELECT p1.a, p1.b, p2.b AS c FROM proj p1
         |   JOIN proj p2 ON p2.a = p1.b
         |   JOIN proj p3 ON p3.a = p1.a AND p3.b = p2.b),
         | mem AS (SELECT a AS id FROM tris
         |   UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris),
         | verts AS (SELECT a AS id FROM proj UNION SELECT b FROM proj),
         | cnt AS (SELECT id, count(*) AS triangles FROM mem GROUP BY id)
         | SELECT v.id, coalesce(cnt.triangles, 0) AS triangles
         | FROM verts v LEFT JOIN cnt USING (id) ORDER BY id""".stripMargin
  )
}

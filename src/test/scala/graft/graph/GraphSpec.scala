package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("GraphX pagerank agrees with the DataFrame power iteration") {
    val v = TradeGraph.vertices(spark, sf)
    val e = TradeGraph.edges(spark, sf)
    // GraphX normalizes ranks differently across versions; compare the
    // normalized distributions (shape), not absolute values
    def normalized(d: org.apache.spark.sql.DataFrame) = {
      val total = d.agg(sum("rank")).collect().head.getDouble(0)
      d.withColumn("p", col("rank") / total).select("id", "p")
    }
    val gx = normalized(GraphXRef.pageRank(spark, v, e, iters = 3))
      .withColumnRenamed("p", "gxp")
    val df = normalized(GraphOps.pageRankDF(v, e, iters = 3))
    val maxdiff = gx.join(df, "id")
      .select(max(abs(col("gxp") - col("p"))).as("maxdiff"))
      .collect().head.getDouble(0)
    assert(maxdiff < 1e-3, s"GraphX vs DataFrame pagerank diverged: $maxdiff")
  }

  test("connected components: isolated customers are their own component") {
    val v = TradeGraph.vertices(spark, sf)
    val e = TradeGraph.edges(spark, sf)
    val cc = GraphOps.connectedComponents(v, e)
    def labels(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the symmetrised-SCC labelling equals GraphX's Pregel fixpoint
    assert(labels(cc) == labels(GraphXRef.connectedComponents(spark, v, e)))
    assert(cc.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "component" -> "bigint"))
    // hand graph: 1→2←3 (no directed path 1 to 3) and the 2-cycle
    // 5↔6 are two components, edge direction ignored; 4 is isolated
    import spark.implicits._
    val hv = (1L to 6L).toDF("id")
    val he = Seq((1L, 2L), (3L, 2L), (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L)
    assert(labels(GraphOps.connectedComponents(hv, he)) == want)
    val withEdges = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val isolated = v.join(withEdges, Seq("id"), "left_anti")
    val badIsolated = cc.join(isolated, "id")
      .filter(col("component") =!= col("id")).count()
    assert(badIsolated == 0)
    // the trade graph has one giant component containing all suppliers
    val supComponents = cc.filter(col("id") >= TradeGraph.SupplierOffset)
      .select("component").distinct().count()
    assert(supComponents == 1)
  }

  test("SCC: cycles merge, chains and one-way links don't, invariance") {
    import spark.implicits._
    // 1→2→3→1 is a 3-cycle; 3→4→5 is a one-way tail; 6↔7 a 2-cycle;
    // 8 is isolated. Undirected CC would merge {1..5} — SCC must not.
    val v = (1L to 8L).toDF("id")
    val e = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), // 3-cycle
      (3L, 4L), (4L, 5L), // one-way tail
      (6L, 7L), (7L, 6L) // 2-cycle
    ).toDF("src", "dst")
    // BOTH paths must agree: the default (which takes the r11
    // sequential Tarjan base case on a graph this small) and the
    // forced all-distributed refinement (localFinishThreshold = 0)
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L)
    for (thr <- Seq(100000, 0)) {
      val got = GraphOps.sccDF(v, e, localFinishThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"localFinishThreshold=$thr")
    }
    // and one output schema, nullability included, whichever path
    // finishes: a caller's schema must not change with graph size
    assert(GraphOps.sccDF(v, e, localFinishThreshold = 100000).schema ==
      GraphOps.sccDF(v, e, localFinishThreshold = 0).schema)
    // the counterexample that breaks plain one-shot (min-ancestor,
    // min-descendant) pair equality: 1→3, 1→4, 3→2, 4→2 gives 3 and 4
    // the same (F, B) = (1, 2) although they are separate SCCs — the
    // refinement's second round must split them
    val v2 = (1L to 4L).toDF("id")
    val e2 = Seq((1L, 3L), (1L, 4L), (3L, 2L), (4L, 2L))
      .toDF("src", "dst")
    for (thr <- Seq(100000, 0)) {
      val got2 = GraphOps.sccDF(v2, e2, localFinishThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L),
        s"localFinishThreshold=$thr")
    }
    // edges naming an undeclared vertex (99) are dropped on both
    // paths: 2↔99 is no cycle through declared vertices
    val e3 = Seq((2L, 99L), (99L, 2L), (3L, 99L)).toDF("src", "dst")
    for (thr <- Seq(100000, 0)) {
      val got3 = GraphOps.sccDF(v2.filter("id <= 3"), e3,
          localFinishThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got3 == Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
        s"localFinishThreshold=$thr")
    }
    // partitioning invariance on the real directed trade graph
    val base = sccOnTradeGraph(1)
    assert(base == sccOnTradeGraph(13))
  }

  private def sccOnTradeGraph(p: Int, thr: Int = 100000) = GraphOps.sccDF(
      TradeGraph.vertices(spark, sf).repartition(p),
      TradeGraph.directedEdges(spark, sf).repartition(p),
      localFinishThreshold = thr)
    .orderBy("id").collect().map(_.toSeq).toSeq

  test("SCC: local finish equals the all-distributed refinement on the trade graph") {
    // threshold 0 forces the all-distributed path on real data
    assert(sccOnTradeGraph(1) == sccOnTradeGraph(13, 0),
      "sequential base case diverged from distributed refinement")
  }

  test("SCC: path-like graph deeper than the outer maxRounds knob") {
    import spark.implicits._
    // a directed chain of 150 vertices: min-label propagation needs
    // 149 hops ≈ 75 two-hop rounds — past the shared maxRounds=50
    // inner bound that raised on legitimate path-like data before the
    // inner fixpoint's bound was derived from the live vertex count
    // (r10 ADVICE). Every vertex is its own singleton SCC.
    val n = 150
    val v = (1L to n.toLong).toDF("id")
    val e = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    // localFinishThreshold = 0: the derived inner bound is a property
    // of the DISTRIBUTED refinement path — force it (the default
    // would take the sequential base case on a graph this small)
    val got = GraphOps.sccDF(v, e, localFinishThreshold = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to n.toLong).map(i => i -> i).toMap)
  }

  test("triangle count on a known graph") {
    import spark.implicits._
    // triangle 1-2-3 plus a dangling edge 3-4
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val t = GraphXRef.triangleCounts(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("DataFrame triangle counts equal GraphX on a dense projection") {
    import spark.implicits._
    // overlapping triangles + two disconnected structures: 1-2-3,
    // 2-3-4 (sharing an edge), square 5-6-7-8 with one diagonal
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L), (5L, 7L))
    val v = (1L to 8L).toDF("id")
    val e = edges.toDF("src", "dst")
    val gx = GraphXRef.triangleCounts(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val df = GraphOps.triangleCountsDF(v, e)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(df == gx, s"DF $df must equal GraphX $gx")
    assert(df(2L) == 2 && df(6L) == 1 && df(8L) == 1)
  }

  test("pageRankDF ignores edges pointing outside the vertex table") {
    import spark.implicits._
    val v = Seq(1L, 2L, 3L).toDF("id")
    // edge to phantom 99 (and from it) — the vertex table defines the
    // rank domain: no phantom rank rows, no phantom messages
    val e = Seq((1L, 2L), (2L, 3L), (1L, 99L), (99L, 3L))
      .toDF("src", "dst")
    val ranks = GraphOps.pageRankDF(v, e, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.keySet == Set(1L, 2L, 3L),
      s"rank rows must equal the vertex set: ${ranks.keySet}")
    // node 3's rank comes from node 2 only (via 1->2->3), never 99
    val clean = GraphOps.pageRankDF(v,
        Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(3L) != clean(3L),
      "1->99 still splits node 1's outdegree") // outdeg counts all edges
    assert(ranks(2L) < clean(2L),
      "node 2 receives half of node 1's mass when 1->99 exists")
  }

  test("BFS shortest hops equal GraphX ShortestPaths") {
    import spark.implicits._
    val v = TradeGraph.vertices(spark, sf)
    val e = TradeGraph.edges(spark, sf)
    val ours = GraphOps.shortestHops(v, e, sourceIds = Seq(1L), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // GraphX ShortestPaths runs on the directed graph — symmetrize to
    // match the undirected BFS semantics
    val und = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val gx = org.apache.spark.graphx.lib.ShortestPaths
      .run(GraphXRef.toGraphX(v, und), Seq(1L))
      .vertices
      .flatMap { case (id, spmap) => spmap.get(1L).map(d => (id, d)) }
      .toDF("id", "dist")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gxBounded = gx.filter(_._2 <= 3)
    assert(ours == gxBounded,
      s"sizes ours=${ours.size} gx=${gxBounded.size}; " +
        s"diff=${(ours.toSet diff gxBounded.toSet).take(5)}")
    assert(ours(1L) == 0 && ours.values.max == 3)
  }

  test("degrees sum equals twice the edge count") {
    val v = TradeGraph.vertices(spark, sf)
    val e = TradeGraph.edges(spark, sf)
    val total = GraphOps.degrees(v, e)
      .agg(sum("total")).collect().head.getLong(0)
    assert(total == 2 * e.count())
  }

  test("HITS on a known graph: hand-computed integer scores") {
    import spark.implicits._
    // 1→3, 1→4, 2→4: h₀=1 ⇒ a₁=(0,0,1,2); h₁=(a(3)+a(4), a(4), 0, 0)
    //                                        = (3, 2, 0, 0)
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 3L), (1L, 4L), (2L, 4L)).toDF("src", "dst")
    val got = GraphOps.hitsDF(v, e, iters = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 0L), (2L, 2L, 0L),
      (3L, 0L, 1L), (4L, 0L, 2L)))
  }

  test("Adamic-Adar: rarer shared neighbors outweigh popular ones") {
    import spark.implicits._
    // bipartite: w10 shared by {1,2} (deg 2), w11 shared by {1,2,3,4}
    // (deg 4), w12 only by 3 (deg 1 — never scorable).
    // aa(1,2) = round(1e6/ln 2) + round(1e6/ln 4) = 1442695 + 721348
    // aa(1,3) = aa(1,4) = aa(2,3) = aa(2,4) = aa(3,4) = 721348 (w11)
    val e = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L), (3L, 11L),
      (4L, 11L), (3L, 12L)).toDF("src", "dst")
    val got = GraphOps.adamicAdarDF(e, focal = col("src") < 100,
        minShared = 1)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w2 = math.round(1e6 / math.log(2)) // 1442695
    val w4 = math.round(1e6 / math.log(4)) //  721348
    assert(got.toSeq == Seq((1L, 2L, 2L, w2 + w4), (1L, 3L, 1L, w4),
      (1L, 4L, 1L, w4), (2L, 3L, 1L, w4), (2L, 4L, 1L, w4),
      (3L, 4L, 1L, w4)))
    // the doubly-connected pair must outrank every single-shared pair
    assert(got.head._4 > w4)
  }

  test("HITS messages to vertices outside the vertex table are dropped") {
    import spark.implicits._
    val v = Seq(1L, 2L).toDF("id")
    val e = Seq((1L, 2L), (1L, 99L)).toDF("src", "dst")
    val got = GraphOps.hitsDF(v, e, iters = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // 99 never appears; 1's hub counts only the declared edge 1→2
    assert(got.toSeq == Seq((1L, 1L, 0L), (2L, 0L, 1L)))
  }

  test("k-core peels a tail but keeps the core; fixpoint within round budget") {
    import spark.implicits._
    // triangle {1,2,3} (2-core) with a pendant chain 3-4-5
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = GraphOps.kCoreDF(e, k = 2, rounds = 4)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // the qg_kcore round budget (6) reaches the fixpoint at sf0.001:
    // one more round changes nothing
    val proj = {
      val ed = TradeGraph.edges(spark, sf)
      val focal = ed.filter(col("src") < 100)
      val a = focal.select(col("src").as("a_id"), col("dst"))
      val b = focal.select(col("src").as("b_id"), col("dst"))
      a.join(b, "dst").filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .localCheckpoint()
    }
    val r6 = GraphOps.kCoreDF(proj, k = 3, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r7 = GraphOps.kCoreDF(proj, k = 3, rounds = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r6 == r7, "qg_kcore's 6 peel rounds must reach the fixpoint")
  }

  test("SSSP relaxes a cheaper two-hop path past a direct edge") {
    import spark.implicits._
    // 1→2 costs 10 direct, but 1→3→2 costs 1+2=3; vertex 5 hangs two
    // hops past 2, so its exact distance needs all 4 relax rounds
    val v = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L),
      (2L, 4L, 5L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val got = GraphOps.ssspDF(v, e, Seq(1L), rounds = 4)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 0L), (2L, 3L), (3L, 1L),
      (4L, 8L), (5L, 9L)))
    // this graph's fixpoint is at round 4: round 5 changes nothing
    val d5 = GraphOps.ssspDF(v, e, Seq(1L), rounds = 5)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(d5.toSeq == got.toSeq)
    // a source with no edges is just itself at distance 0
    val lone = GraphOps.ssspDF(v, e, Seq(42L), rounds = 2)
    assert(lone.collect().isEmpty,
      "a source absent from the vertex table reaches nothing")
  }

  test("label propagation floods a triangle's min label") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4: sync rounds hand-computed —
    // r1: (2,1,1,3)  r2: (1,1,1,1)  r3: stable all-1
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val r1 = GraphOps.labelPropDF(v, e, rounds = 1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 3L)))
    val r3 = GraphOps.labelPropDF(v, e, rounds = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(r3.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    // isolated vertex keeps its own label; a lone edge label-swaps
    // each sync round (r1: 1↔2 exchange; r2: swap back)
    val iso = GraphOps.labelPropDF(Seq(1L, 2L, 9L).toDF("id"),
        Seq((1L, 2L)).toDF("src", "dst"), rounds = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(iso.toSeq == Seq((1L, 1L), (2L, 2L), (9L, 9L)))
  }

  test("modularity: hand-computed two-triangle bridge; degenerate cases") {
    import spark.implicits._
    // two triangles {1,2,3} and {4,5,6} + bridge (3,4): m = 7,
    // per community m_in = 3 and d_c = 7, so
    // q_part = (4·7·3 − 49) / (4·49) = 35/196 = 0.178571 each
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "community")
    val got = GraphOps.modularityDF(e, comm).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq((1L, 3L, 3L, 7L, 0.178571),
      (4L, 3L, 3L, 7L, 0.178571)))
    // everything in one community: Q = m/m − (2m/2m)² = 0 exactly
    val one = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "community")
    val q1 = GraphOps.modularityDF(e, one).collect()
    assert(q1.length == 1 && q1.head.getDouble(4) == 0.0)
    // singleton communities: m_in = 0, q_part = −(d_c/2m)² < 0,
    // and an edgeless vertex contributes exactly 0
    val singles = Seq((1L, 1L), (2L, 2L), (9L, 9L)).toDF("id", "community")
    val qs = GraphOps.modularityDF(Seq((1L, 2L)).toDF("src", "dst"),
        singles).orderBy("community").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(qs.toSeq == Seq((1L, 0L, -0.25), (2L, 0L, -0.25),
      (9L, 0L, 0.0)))
    // label-prop communities on the bridge graph score POSITIVE
    // (the community structure is real) — integration with labelPropDF
    val v = (1L to 6L).toDF("id")
    val lp = GraphOps.labelPropDF(v, e, rounds = 3)
    val q = GraphOps.modularityDF(e, lp).agg(sum("q_part"))
      .head().getDouble(0)
    assert(q > 0.0, s"label-prop modularity $q should be positive")
  }

  test("random walks: shape, adjacency validity, determinism, PRF spread") {
    import spark.implicits._
    val e = TradeGraph.edges(spark, sf)
    val walks = GraphOps.randomWalksDF(e, sourceIds = Seq(1L, 2L),
      nWalks = 3, steps = 4).persist()
    // exact trace shape: |sources|·nWalks walks × (steps+1) rows each
    assert(walks.count() == 2 * 3 * 5)
    assert(walks.filter(col("step") === 0)
      .filter(col("vertex") =!= col("start")).count() == 0)
    // every consecutive (step, step+1) pair is a real undirected edge
    val und = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val hops = walks.as("a").join(walks.as("b"),
        col("a.start") === col("b.start") &&
          col("a.walk") === col("b.walk") &&
          col("a.step") + 1 === col("b.step"))
      .select(col("a.vertex").as("src"), col("b.vertex").as("dst"))
    assert(hops.join(und, Seq("src", "dst"), "left_anti").count() == 0,
      "every walk hop must traverse a real edge")
    // deterministic under re-evaluation and partitioning
    val again = GraphOps.randomWalksDF(e.repartition(7),
      sourceIds = Seq(1L, 2L), nWalks = 3, steps = 4)
    assert(walks.orderBy("start", "walk", "step").collect().toSeq ==
      again.orderBy("start", "walk", "step").collect().toSeq)
    // the PRF draw actually varies across walks: from the same start
    // the 3 walks must not all trace the same path (customer 1 has
    // many suppliers at sf0.001, collision odds are negligible)
    val paths = walks.filter(col("start") === 1L)
      .orderBy("walk", "step").collect()
      .groupBy(_.getInt(1))
      .map { case (_, rs) => rs.map(_.getLong(3)).mkString("->") }
      .toSet
    assert(paths.size > 1, "walks from one start must diverge")
    walks.unpersist()
  }

  test("assortativity: star is -1, path is -0.5, invariance") {
    import spark.implicits._
    // star 1-{2,3,4}: perfectly disassortative, r = -1 exactly
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rs = GraphOps.assortativityDF(star).collect().head
    assert(rs.getLong(0) == 6L && rs.getDouble(1) == -1.0)
    // path 1-2-3-4: M=6, Σdadb=16, Σda=10, Σda²=18 → r = -4/8
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val rp = GraphOps.assortativityDF(path).collect().head
    assert(rp.getDouble(1) == -0.5)
    // partitioning invariance (exact integer sums feed the ratio)
    val e = TradeGraph.edges(spark, sf)
    val a = GraphOps.assortativityDF(e.repartition(1)).collect().head
    val b = GraphOps.assortativityDF(e.repartition(13)).collect().head
    assert(a == b)
  }

  test("clustering coefficient: triangle-plus-pendant hand values") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 3-4: C1=C2=1, C3=2/6, C4=0 (deg<2)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.clusteringCoefficientDF(e).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> ((1, 2L, 1000000L)), 2L -> ((1, 2L, 1000000L)),
      3L -> ((1, 3L, 333333L)), 4L -> ((0, 1L, 0L))))
  }

  test("harmonic centrality: hand-computed distances, radius bound") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val p = GraphOps.harmonicCentralityDF(path, Seq(1L), depth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1e6/1, 1e6/2, 1e6/3; vertex 5 is past the radius
    assert(p == Map(2L -> 1000000L, 3L -> 500000L, 4L -> 333333L))
    // multi-source sums; sources excluded from the result
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val d = GraphOps.harmonicCentralityDF(diamond, Seq(1L, 4L), depth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(2L -> 2000000L, 3L -> 2000000L))
    // partitioning invariance on the real graph
    val e = TradeGraph.edges(spark, sf)
    val a = GraphOps.harmonicCentralityDF(e.repartition(1), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    val b = GraphOps.harmonicCentralityDF(e.repartition(13), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("eigenvector centrality: hand-iterated values, invariance") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 3-4, two hand-iterated rounds:
    // x1 = (666666, 666666, 1000000, 333333)
    // x2 = (1000000, 1000000, 999999, 600000)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = GraphOps.eigenvectorCentralityDF(e, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L,
      3L -> 999999L, 4L -> 600000L))
    // partitioning invariance on the real projection
    val proj = TradeGraph.edges(spark, sf)
      .filter(col("src") < 50)
    val a = GraphOps.eigenvectorCentralityDF(proj.repartition(1), 3)
      .orderBy("id").collect().toSeq
    val b = GraphOps.eigenvectorCentralityDF(proj.repartition(13), 3)
      .orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("k-truss: cascade peel, fixpoint within rounds, invariance") {
    import spark.implicits._
    // K4 on {1,2,3,4} + a pendant triangle (4,5,6): in the 4-truss,
    // K4 edges each close 2 triangles and survive; the (4,5,6)
    // triangle edges have support 1 and peel in round one
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("src", "dst")
    val got = GraphOps.kTrussDF(e, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L))
    // cascade: a 5-truss of K4 must empty out entirely (each edge
    // has support 2 < 3), not just shrink
    assert(GraphOps.kTrussDF(e, k = 5, rounds = 2).count() == 0)
    // gate-parameter fixpoint: one more round changes nothing
    val proj = {
      val ed = TradeGraph.edges(spark, sf)
      val focal = ed.filter(col("src") < 100)
      val a = focal.select(col("src").as("a_id"), col("dst"))
      val b = focal.select(col("src").as("b_id"), col("dst"))
      a.join(b, "dst").filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
        .localCheckpoint()
    }
    val r3 = GraphOps.kTrussDF(proj, 4, 3).orderBy("src", "dst")
      .collect().toSeq
    val r4 = GraphOps.kTrussDF(proj, 4, 4).orderBy("src", "dst")
      .collect().toSeq
    assert(r3 == r4 && r3.nonEmpty)
    // partitioning invariance
    val p = GraphOps.kTrussDF(proj.repartition(13), 4, 3)
      .orderBy("src", "dst").collect().toSeq
    assert(p == r3)
  }

  test("closeness centrality: reached conditioning, radius bound") {
    import spark.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val p = GraphOps.closenessCentralityDF(path, Seq(1L), depth = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // single source: reached=1, dist_sum=d, closeness=1e6 div d;
    // vertex 5 is past the radius
    assert(p == Map(2L -> ((1L, 1L, 1000000L)),
      3L -> ((1L, 2L, 500000L)), 4L -> ((1L, 3L, 333333L))))
    // multi-source: 2 and 3 are reached by BOTH diamond sources at
    // distance 1 each -> reached=2, sum=2, closeness=1e6
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val d = GraphOps.closenessCentralityDF(diamond, Seq(1L, 4L), 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(d == Map(2L -> ((2L, 2L, 1000000L)),
      3L -> ((2L, 2L, 1000000L))))
    // partitioning invariance on the real graph
    val e = TradeGraph.edges(spark, sf)
    val a = GraphOps.closenessCentralityDF(e.repartition(1), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    val b = GraphOps.closenessCentralityDF(e.repartition(13), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("betweenness: hand-computed path and diamond, multi-source sum") {
    import spark.implicits._
    // path 1-2-3-4-5 from source 1: δ accumulates down the chain
    // (δ4=1e6, δ3=2e6, δ2=3e6; endpoint 5 has δ=0 and is dropped)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val p = GraphOps.betweennessDF(path, Seq(1L), depth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(2L -> 3000000L, 3L -> 2000000L, 4L -> 1000000L))
    // diamond 1-{2,3}-4: two shortest paths split the dependency
    // (σ4 = 2 → δ2 = δ3 = 1e6/2)
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val d1 = GraphOps.betweennessDF(diamond, Seq(1L), depth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(2L -> 500000L, 3L -> 500000L))
    // multi-source: δ sums over sources; source vertices excluded
    val d2 = GraphOps.betweennessDF(diamond, Seq(1L, 4L), depth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(2L -> 1000000L, 3L -> 1000000L))
    // partitioning invariance on the real graph (exact integers)
    val e = TradeGraph.edges(spark, sf)
    val a = GraphOps.betweennessDF(e.repartition(1), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    val b = GraphOps.betweennessDF(e.repartition(13), Seq(1L, 2L), 3)
      .orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("BFS operators: hand values on odd cycles, edges inside a level") {
    import spark.implicits._
    def longs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 until r.size).map(r.getLong)).toMap
    def hops(e: org.apache.spark.sql.DataFrame, src: Seq[Long], h: Int) =
      GraphOps.shortestHops((1L to 5L).toDF("id"), e, src, h).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSeq.sortBy(_._1)
    // triangle {1,2,3} with tail 3-4-5: from 1, edge 2-3 joins two
    // level-1 vertices
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    assert(hops(tri, Seq(1L), 3) ==
      Seq(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3))
    assert(longs(GraphOps.harmonicCentralityDF(tri, Seq(1L), 3)) == Map(
      2L -> Seq(1000000L), 3L -> Seq(1000000L), 4L -> Seq(500000L),
      5L -> Seq(333333L)))
    assert(longs(GraphOps.closenessCentralityDF(tri, Seq(1L), 3)) == Map(
      2L -> Seq(1L, 1L, 1000000L), 3L -> Seq(1L, 1L, 1000000L),
      4L -> Seq(1L, 2L, 500000L), 5L -> Seq(1L, 3L, 333333L)))
    // σ = 1 everywhere; only 3 lies on paths to 4 and 5
    assert(longs(GraphOps.betweennessDF(tri, Seq(1L), 3)) == Map(
      3L -> Seq(2000000L), 4L -> Seq(1000000L)))
    // 5-cycle 1-2-3-4-5-1: from 1, edge 3-4 joins two level-2 vertices
    // and level 3 is empty; from {1, 3}, edge 4-5 is inside a level of
    // the one shortestHops group
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    assert(hops(c5, Seq(1L), 3) ==
      Seq(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 1))
    assert(hops(c5, Seq(1L, 3L), 2) ==
      Seq(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 1))
    assert(longs(GraphOps.harmonicCentralityDF(c5, Seq(1L), 3)) == Map(
      2L -> Seq(1000000L), 5L -> Seq(1000000L), 3L -> Seq(500000L),
      4L -> Seq(500000L)))
    assert(longs(GraphOps.harmonicCentralityDF(c5, Seq(1L, 3L), 2)) == Map(
      2L -> Seq(2000000L), 4L -> Seq(1500000L), 5L -> Seq(1500000L)))
    assert(longs(GraphOps.closenessCentralityDF(c5, Seq(1L, 3L), 2)) == Map(
      2L -> Seq(2L, 2L, 1000000L), 4L -> Seq(2L, 3L, 666666L),
      5L -> Seq(2L, 3L, 666666L)))
    assert(longs(GraphOps.betweennessDF(c5, Seq(1L), 3)) == Map(
      2L -> Seq(1000000L), 5L -> Seq(1000000L)))
    assert(longs(GraphOps.betweennessDF(c5, Seq(1L, 3L), 2)) == Map(
      2L -> Seq(2000000L), 4L -> Seq(1000000L), 5L -> Seq(1000000L)))
  }

  test("bounded BFS operators: Spark jobs at depth 3 from two sources") {
    // one eager checkpoint per BFS level; pins the job count so a
    // second materialised frame per level shows up here
    val e = TradeGraph.edges(spark, sf)
    e.count() // the persisted edge table materialises outside the count
    val harmonic = SparkTestSession.jobsDuring {
      GraphOps.harmonicCentralityDF(e, Seq(1L, 2L), depth = 3) }
    val betweenness = SparkTestSession.jobsDuring {
      GraphOps.betweennessDF(e, Seq(1L, 2L), depth = 3) }
    assert((harmonic, betweenness) == ((16, 37)))
  }

  test("walkSkipgrams: windowed pair multiplicities on a known trace") {
    import spark.implicits._
    // one walk 10→20→30, one walk 10→20 (a second (start, walk) key)
    val tr = Seq((1L, 0, 0, 10L), (1L, 0, 1, 20L), (1L, 0, 2, 30L),
        (1L, 1, 0, 10L), (1L, 1, 1, 20L))
      .toDF("start", "walk", "step", "vertex")
    val w1 = GraphOps.walkSkipgrams(tr, window = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    // adjacent pairs only; (10,20) occurs on BOTH walks
    assert(w1 == Map((10L, 20L) -> 2L, (20L, 10L) -> 2L,
      (20L, 30L) -> 1L, (30L, 20L) -> 1L))
    val w2 = GraphOps.walkSkipgrams(tr, window = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    // window 2 adds the distance-2 (10,30) pair both ways — and pairs
    // NEVER cross walks (10@walk1 sees no 30)
    assert(w2 == w1 ++ Map((10L, 30L) -> 1L, (30L, 10L) -> 1L))
  }

  test("robustnessDF: removing a star's hub shatters it; exact " +
      "component accounting") {
    import spark.implicits._
    // star: hub 1 connected to 2..6, plus a separate edge 7—8.
    // removing the top-1 hub leaves 5 isolated leaves + the pair:
    // 7 kept vertices, 6 components, giant = 2
    val v = (1L to 8L).toDF("id")
    val e = ((2L to 6L).map(l => (1L, l)) :+ (7L, 8L))
      .toDF("src", "dst")
    val r1 = GraphOps.robustnessDF(v, e, topK = 1)
      .collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2),
      r1.getLong(3)) == ((7L, 6L, 2L, 285714L)))
    // removing nothing keeps two components, giant = 6
    val r0 = GraphOps.robustnessDF(v, e, topK = 0)
      .collect().head
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2)) ==
      ((8L, 2L, 6L)))
    // partitioning invariance
    def run(p: Int) = GraphOps.robustnessDF(v, e.repartition(p), 1)
      .collect().map(_.toSeq).toSeq
    assert(run(1) == run(5))
  }

  test("robustnessDF: the hub list is computed once") {
    // the topK hubs are collected once; as a lazy sort+limit frame
    // each of its three anti-join uses re-ran the degree aggregation
    // (32 jobs on this graph, against 17 with the collected list)
    val v = TradeGraph.vertices(spark, sf)
    val e = TradeGraph.edges(spark, sf)
    v.count(); e.count() // the cached tables materialise outside
    var got: Seq[Long] = Nil
    val jobs = SparkTestSession.jobsDuring {
      got = GraphOps.robustnessDF(v, e, topK = 10).collect().head
        .toSeq.map(_.asInstanceOf[Long])
    }
    assert((jobs, got) == ((17, Seq(150L, 150L, 1L, 6666L))))
  }

  test("temporalReachDF: time order gates reachability; earliest " +
      "arrival wins") {
    import spark.implicits._
    // 1—2 (t=5), 2—3 (t=10): time-respecting → 3 arrives at 10;
    // 1—4 (t=10), 4—5 (t=5): 5 is STRUCTURALLY reachable but its
    // edge activated before the walk arrives → never reached
    val e = Seq((1L, 2L, 5L), (2L, 3L, 10L), (1L, 4L, 10L),
      (4L, 5L, 5L)).toDF("src", "dst", "t")
    val got = GraphOps.temporalReachDF(e, Seq(1L), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 4L -> 10L))
    // a second, later-starting but earlier-arriving temporal path
    // lowers 3's arrival: 1—6 (t=3), 6—3 (t=4)
    val e2 = e.unionByName(
      Seq((1L, 6L, 3L), (6L, 3L, 4L)).toDF("src", "dst", "t"))
    val got2 = GraphOps.temporalReachDF(e2, Seq(1L), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(3L) == 4L && got2(2L) == 5L)
    // partitioning invariance (min-relaxation is idempotent)
    def run(p: Int) = GraphOps.temporalReachDF(e2.repartition(p),
        Seq(1L), 3).orderBy("id").collect().toSeq
    assert(run(1) == run(7))
  }

  test("weightedPageRankDF: uniform weights equal unweighted; " +
      "hand-computed skewed split") {
    import spark.implicits._
    val v = Seq(1L, 2L, 3L).toDF("id")
    // uniform weights ≡ uniform split ≡ pageRankDF
    val eUni = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L))
      .toDF("src", "dst", "w")
    val wUni = GraphOps.weightedPageRankDF(v, eUni, iters = 3)
      .orderBy("id").collect().map(r => math.rint(r.getDouble(1) * 1e4))
    val pUni = GraphOps.pageRankDF(v,
        eUni.select(col("src"), col("dst")), iters = 3)
      .orderBy("id").collect().map(r => math.rint(r.getDouble(1) * 1e4))
    assert(wUni.sameElements(pUni))
    // skewed: 1 → 2 with w=9, 1 → 3 with w=1; one iteration from
    // rank₀ = 1 gives r(2) = 0.15 + 0.85·0.9, r(3) = 0.15 + 0.85·0.1
    val eSkew = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val one = GraphOps.weightedPageRankDF(v, eSkew, iters = 1)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getDouble(1))
      .toMap
    assert(math.abs(one(2L) - (0.15 + 0.85 * 0.9)) < 1e-12)
    assert(math.abs(one(3L) - (0.15 + 0.85 * 0.1)) < 1e-12)
    assert(one(1L) == 0.15) // no in-edges
    // partitioning invariance on the real weighted trade graph
    val ed = TradeGraph.weightedEdges(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame) =
      GraphOps.weightedPageRankDF(TradeGraph.vertices(spark, sf), d, 3)
        .select(col("id"), round(col("rank"), 4).as("r"))
        .orderBy("id").collect().toSeq
    assert(run(ed) == run(ed.repartition(9)))
  }

  test("conductanceDF: two bridged triangles, exact cut/vol/phi") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the single edge (3,4):
    // vol = 7 each (degrees 2,2,3), cut = 1 each, 2m = 14 →
    // φ = 1e6 div 7 = 142857 on both sides
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 2L), (6L, 2L)).toDF("id", "community")
    val out = GraphOps.conductanceDF(e, comm).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((1L, 3L, 1L, 7L, 142857L),
      (2L, 3L, 1L, 7L, 142857L)))
    // one community spanning everything: min side is 0 → null φ
    val all = Seq.tabulate(6)(i => (i + 1L, 9L)).toDF("id", "community")
    val whole = GraphOps.conductanceDF(e, all).collect().head
    assert(whole.isNullAt(4) && whole.getLong(2) == 0L)
    // partitioning invariance
    def run(p: Int) = GraphOps.conductanceDF(e.repartition(p), comm)
      .orderBy("community").collect().toSeq
    assert(run(1) == run(5))
  }

  test("hyperBallCentralityDF: path-graph harmonic estimates within " +
      "the small-range band, invariance") {
    import spark.implicits._
    // path 1—2—3—4: exact harmonic H = [1+1/2+1/3, 1+1+1/2,
    // 1+1+1/2, 1+1/2+1/3]; all sketches sit in the near-exact
    // linear-counting regime, so estimates land within 5%
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.hyperBallCentralityDF(v, e, rounds = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val truth = Map(1L -> (1.0 + 0.5 + 1.0 / 3), 2L -> 2.5,
      3L -> 2.5, 4L -> (1.0 + 0.5 + 1.0 / 3))
    truth.foreach { case (id, h) =>
      val est = got(id)._2 / 1e6
      assert(math.abs(est - h) / h < 0.05, s"H($id): $est vs $h")
      // reach at radius 3 covers the whole path
      assert(math.abs(got(id)._1 / 1e4 - 4.0) < 0.2)
    }
    def run(p: Int) = GraphOps.hyperBallCentralityDF(v,
      e.repartition(5), 3).orderBy("id").collect().toSeq
    assert(run(1) == run(5))
  }

  test("node2vecWalks: exact inverse-CDF draws, bias classes, " +
      "invariance") {
    import spark.implicits._
    // replicate the engine's hash60 to PREDICT each draw exactly
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val wr = 2000000L; val ws = 1000000L; val wf = 500000L
    // path graph 1—2—3: step 1 is forced (1→2); step 2 chooses
    // between returning to 1 (w=wr) and moving forward to 3 (w=wf —
    // 3 is NOT adjacent to prev=1)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val tr = GraphOps.node2vecWalks(path, Seq(1L), nWalks = 1,
        steps = 2, wr, ws, wf)
      .orderBy("step").collect().map(_.getLong(3))
    assert(tr(0) == 1L && tr(1) == 2L)
    val thr = h60("n2v:1:0:2:2") % (wr + wf)
    assert(tr(2) == (if (thr < wr) 1L else 3L))
    // triangle 1—2—3—1: from 2 with prev=1, candidate 3 IS adjacent
    // to 1 → shared-neighbor class (w=ws), candidate 1 is return
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val tr2 = GraphOps.node2vecWalks(tri, Seq(1L), nWalks = 1,
        steps = 2, wr, ws, wf)
      .orderBy("step").collect().map(_.getLong(3))
    // step 1 from 1 (prev null): uniform over {2, 3}
    val thr1 = h60("n2v:1:0:1:1") % 2000000L
    val v1 = if (thr1 < 1000000L) 2L else 3L
    assert(tr2(1) == v1)
    val other = if (v1 == 2L) 3L else 2L
    val thr2 = h60(s"n2v:1:0:2:$v1") % (wr + ws)
    val v2 = if (math.min(1L, other) == 1L) {
      // cum order is by candidate id: 1 (return) first, then `other`
      if (thr2 < wr) 1L else other
    } else other
    assert(tr2(2) == v2)
    // partitioning invariance on the real trade graph
    val e = TradeGraph.edges(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame) =
      GraphOps.node2vecWalks(d, Seq(1L, 2L), 2, 3, wr, ws, wf)
        .orderBy("start", "walk", "step").collect().toSeq
    assert(run(e) == run(e.repartition(11)) && run(e).nonEmpty)
    // trace shape composes with walkSkipgrams
    val sg = GraphOps.walkSkipgrams(
      GraphOps.node2vecWalks(tri, Seq(1L), 1, 2, wr, ws, wf), 1)
    assert(sg.columns.toSeq == Seq("center", "context", "n"))
  }

  test("hyperBall: monotone neighborhood function, exact small-graph " +
      "counts, partitioning invariance") {
    import spark.implicits._
    // path graph 1—2—3—4: balls are exactly countable, and every
    // per-vertex sketch is in the 1-4-distinct linear-counting regime
    // where the estimate is near-exact (v_zero reads the ln table)
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nf = GraphOps.hyperBallDF(v, e, rounds = 3)
      .orderBy("t").collect()
    assert(nf.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    val sums = nf.map(_.getLong(1))
    // true ball sizes: t=0 → 4, t=1 → 2+3+3+2=10, t=2 → 3+4+4+3=14,
    // t=3 → 16 (all pairs); HLL small-range estimates land within 5%
    val truth = Seq(4.0, 10.0, 14.0, 16.0)
    sums.zip(truth).foreach { case (s, tr) =>
      assert(math.abs(s / 1e4 - tr) / tr < 0.05, s"nf $s vs $tr") }
    // monotone nondecreasing, final round is the 100% row
    assert(sums.sameElements(sums.sorted))
    assert(nf.last.getLong(2) == 1000000L)
    // partitioning invariance: register max-merge is idempotent and
    // commutative, so task order can't move a single estimate
    val a = GraphOps.hyperBallDF(v, e.repartition(7), rounds = 3)
      .orderBy("t").collect().toSeq
    assert(a == nf.toSeq)
    // real graph: the trade graph's 90% effective diameter at radius 3
    // — pct_micro is monotone and hits 1e6 at the last round
    val real = GraphOps.hyperBallDF(TradeGraph.vertices(spark, sf),
        TradeGraph.edges(spark, sf), rounds = 3)
      .orderBy("t").collect()
    val pcts = real.map(_.getLong(2))
    assert(pcts.sameElements(pcts.sorted) && pcts.last == 1000000L)
    assert(real.map(_.getLong(1)).distinct.length > 1,
      "neighborhood function should grow on the trade graph")
  }
}

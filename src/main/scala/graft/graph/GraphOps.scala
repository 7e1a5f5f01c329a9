package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph layer (SURVEY.md §2.10: `OGraphVertex`/`OGraphEdge` are
  * documents with link fields — `db/graph/ODatabaseGraphTx.java:63-141`).
  * Here a graph is a pair of DataFrames:
  *   vertices(id: long, …props)   edges(src: long, dst: long, …props)
  * Traversal-style queries and whole-graph analytics alike run as
  * DataFrame joins and group-bys (TRAVERSE, §2.3): each vertex-program
  * superstep is one message join + one partial-combining aggregation
  * on the general dataflow engine (the Pregelix plan shape), so there
  * is no second graph runtime. Iterative operators truncate lineage
  * per round with localCheckpoint.
  */
object GraphOps {

  /** Connected components → (id, component), component = the min
    * member id (integer-exact → oracle-able). The components of a
    * graph are the SCCs of its symmetrised edge set, so this is
    * [[sccDF]] over e ∪ reverse(e) — one labelling core for directed
    * and undirected components. Edges naming a vertex outside
    * `vertices` are dropped, as in every operator here. Each edge
    * row explodes into both directions, so the edge plan (often a
    * lazy pipeline) runs once, not once per union side. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val both = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
    sccDF(vertices, both).withColumnRenamed("scc", "component")
  }

  /** DataFrame power-iteration PageRank with EXACTLY the GraphX update
    * rule (rank₀ = 1; rankₜ = 0.15 + 0.85·Σ_in rankₜ₋₁/outdeg; dangling
    * mass not redistributed) — same semantics, declarative plan:
    * each iteration is one broadcast-free equi-join + partial-agg
    * shuffle on dst. Deterministic enough to oracle at 4 decimals. */
  def pageRankDF(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame =
    prCore(vertices, edges, lit(1L), iters, _ => lit(1.0), _ => lit(0.15))

  /** Personalized PageRank — relevance relative to a SOURCE SET
    * (reference-style "find related records" over the graph surface):
    * teleport mass goes only to the sources (uniform 1/|S|), so
    * rank₀ = 1/|S| on sources (0 elsewhere) and
    * rankₜ = (id ∈ S ? 0.15/|S| : 0) + 0.85·Σ_in rankₜ₋₁/outdeg.
    * Same declarative per-iteration plan as [[pageRankDF]] (one
    * equi-join + partial-agg shuffle, lineage truncated per 3
    * rounds); unreached vertices report rank 0. */
  def personalizedPageRankDF(vertices: DataFrame, edges: DataFrame,
      sources: Seq[Long], iters: Int): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs sources")
    val share = 1.0 / sources.size
    prCore(vertices, edges, lit(1L), iters,
      id => when(id.isin(sources: _*), lit(share)).otherwise(lit(0.0)),
      id => when(id.isin(sources: _*), lit(0.15 * share))
        .otherwise(lit(0.0)))
  }

  /** Weighted PageRank — the [[pageRankDF]] update with edge-weight-
    * proportional mass split: rankₜ(v) = 0.15 + 0.85·Σ_in
    * rankₜ₋₁(u)·w(u,v)/W(u), W(u) = Σ out-weights (Xing & Ghorbani
    * 2004's weighted variant of Brin & Page; the natural rank on
    * trade/affinity graphs where relation strength matters). Weights
    * are exact longs, so the only float is the same message-sum the
    * unweighted operator oracles at 4 decimals. */
  def weightedPageRankDF(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame =
    prCore(vertices, edges, col("w").cast("long"), iters,
      _ => lit(1.0), _ => lit(0.15))

  /** shared power-iteration core: `w` is the long edge weight (the
    * unweighted operators pass 1, and `rank · 1 / W` is bit-identical
    * to `rank / outdeg` in IEEE doubles), `init` seeds rank₀ per id,
    * `reset` is the per-id teleport term added each round. */
  private def prCore(vertices: DataFrame, edges: DataFrame, w: Column,
      iters: Int, init: Column => Column,
      reset: Column => Column): DataFrame = {
    val e = edges.select(col("src"), col("dst"), w.as("w"))
    val outW = e.groupBy("src").agg(sum("w").as("outw"))
    // (src, dst, w, outw) and the vertex-id set are loop-invariant:
    // compute once, reuse per iter. The id set rides INSIDE the edge
    // table as null-weight self-rows: their message is null (skipped
    // by sum, so float terms are bit-identical to the two-join form)
    // but they force every vertex into the groupBy — one join + one
    // aggregation per iteration instead of messages-join + a second
    // dangling-vertex left-join
    val ids = vertices.select(col("id")).persist()
    // drop edges whose dst is not a declared vertex BEFORE the loop:
    // the groupBy(dst) would otherwise mint phantom rank rows for them
    // (and from round 2 those phantoms would start emitting messages) —
    // the vertex table defines the rank domain, exactly as the
    // pre-fold two-join formulation did
    val contrib = e.join(ids.select(col("id").as("dst")), Seq("dst"),
        "left_semi")
      .join(outW, "src")
      .unionByName(ids.select(col("id").as("src"), col("id").as("dst"),
        lit(null).cast("long").as("w"), lit(null).cast("long").as("outw")))
      .persist()
    var ranks = ids.withColumn("rank", init(col("id")))
    for (i <- 1 to iters) {
      ranks = contrib.join(ranks, contrib("src") === ranks("id"))
        .select(col("dst"),
          (col("rank") * col("w") / col("outw")).as("msg"))
        .groupBy("dst").agg(sum("msg").as("msgSum"))
        .select(col("dst").as("id"),
          (reset(col("dst")) + lit(0.85) * coalesce(col("msgSum"), lit(0.0)))
            .as("rank"))
      // truncate lineage every 3 rounds (same pattern as Traverse):
      // the nested join+agg plan otherwise grows linearly with iters,
      // ballooning planning time and defeating AQE at 20+ iterations.
      // (interval 5 measured slower: deeper nested plans cost more in
      // planning/AQE than the saved materializations)
      if (i % 3 == 0) ranks = ranks.localCheckpoint()
    }
    // final materialization lets the loop-invariant caches be dropped
    // here instead of leaking into the session
    val out = if (iters % 3 == 0) ranks else ranks.localCheckpoint()
    contrib.unpersist()
    ids.unpersist()
    out
  }

  /** degree table: (id, out_deg, in_deg, total). */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_deg"))
    vertices.select("id").join(out, Seq("id"), "left")
      .join(in, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("total", col("out_deg") + col("in_deg"))
  }

  /** Shortest hop distances (undirected BFS) from a source-id set,
    * bounded at `maxHops`: returns (id, dist: int) for every vertex
    * reached within the bound. The sources that appear in the vertex
    * table seed ONE [[bfsLevels]] group, so each vertex sits in exactly
    * one level and its level index is its distance. Unreached vertices
    * are absent (not null-distance). GraphSpec pins equality with
    * GraphX's ShortestPaths. */
  def shortestHops(vertices: DataFrame, edges: DataFrame,
      sourceIds: Seq[Long], maxHops: Int): DataFrame = {
    val und = undirected(edges)
    val levels = bfsLevels(und, vertices.filter(col("id").isin(sourceIds: _*))
      .select(lit(0L).as("src"), col("id").as("v"), lit(1L).as("sigma")),
      maxHops)
    und.unpersist()
    levels.zipWithIndex.map { case (l, d) =>
      l.select(col("v").as("id"), lit(d).as("dist")) }
      .reduce(_ unionByName _)
  }

  /** Undirected adjacency (a, b): each edge in both directions,
    * persisted as the BFS loop invariant — the caller unpersists. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)

  /** The one bounded multi-source BFS behind [[shortestHops]],
    * [[harmonicCentralityDF]], [[closenessCentralityDF]] and
    * [[betweennessDF]]: from `seeds` (src, v, sigma) — level 0, one BFS
    * per `src` group — returns the checkpointed levels 0..depth, level d
    * holding every (src, v) at hop distance d with σ = its number of
    * shortest paths (exact integer sums, order-free).
    *
    * In an undirected graph a neighbour of a level-d vertex sits at
    * level d−1, d or d+1, so level d+1 is the neighbours of level d
    * minus levels d−1 and d: one anti-join against two frames that are
    * already materialised. An empty level stays empty.
    *
    * Scale shape: level frames are k·|level| rows (the focal-source
    * design point), so each level is ONE streamed pass over the
    * persisted adjacency against the BROADCAST last level + a
    * partial-agg σ-sum + a broadcast anti-join; without the hints
    * Catalyst SMJ-shuffles the full message stream against the tiny
    * frames (A/B 10.4 → ~3 s at sf0.1). Each level is one eager
    * localCheckpoint (lineage truncation). */
  private def bfsLevels(und: DataFrame, seeds: DataFrame,
      depth: Int): IndexedSeq[DataFrame] = {
    val levels = scala.collection.mutable.ArrayBuffer(
      seeds.localCheckpoint(true))
    for (_ <- 1 to depth) {
      val seen = levels.takeRight(2)
        .map(_.select(col("src"), col("v").as("__v"))).reduce(_ unionByName _)
      levels += broadcast(levels.last).join(und, col("v") === col("a"))
        .groupBy(col("src"), col("b").as("__v"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(broadcast(seen), Seq("src", "__v"), "left_anti")
        .select(col("src"), col("__v").as("v"), col("sigma"))
        .localCheckpoint(true)
    }
    levels.toIndexedSeq
  }

  /** (src, v, d) for each focal source's [[bfsLevels]] 1..depth, the
    * sources themselves dropped — what harmonic and closeness close. */
  private def focalDistances(edges: DataFrame, sourceIds: Seq[Long],
      depth: Int): DataFrame = {
    require(sourceIds.nonEmpty && depth >= 1, "need sources and depth")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges)
    val levels = bfsLevels(und,
      sourceIds.map(s => (s, s, 1L)).toDF("src", "v", "sigma"), depth)
    und.unpersist()
    levels.zipWithIndex.drop(1)
      .map { case (l, d) => l.withColumn("d", lit(d.toLong)) }
      .reduce(_ unionByName _)
      .filter(!col("v").isin(sourceIds: _*))
  }

  /** Directed strongly-connected components — the directed companion
    * to [[connectedComponents]], which treats edges as undirected and
    * merges one-way chains (on a directed trade graph it overcounts
    * every community). Iterated forward/backward min-label PARTITION
    * REFINEMENT — the FW-BW reachability-intersection idea (Fleischer,
    * Hendrickson & Pınar 2000) recast so every step is a join +
    * partial-combining aggregation:
    *
    *  - within each current class, propagate the min vertex id to a
    *    FIXPOINT along forward edges (f) and along reversed edges (b),
    *    both restricted to same-class endpoints;
    *  - re-class each vertex by its (class, f, b) triple, new label =
    *    the triple-group's min member id; repeat until no class splits.
    *
    * Stable classes are EXACTLY the SCCs: refinement never splits an
    * SCC (mutually-reachable vertices share every class-restricted f
    * and b), and a stable class C with min-id member m forces
    * f(v) = m and b(v) = m for all v ∈ C (f(m) = m because no smaller
    * id exists in C; b(m) = m likewise) — so m reaches and is reached
    * by every member within C, giving C ⊆ SCC(m) ⊆ C. Exact integer
    * labels; partitioning-independent.
    *
    * Scale shape: per inner round ONE equi-join along the same-class
    * edge frame + ONE partial-combining min groupBy (celebrity
    * vertices pre-combine map-side — no windows); per outer round one
    * (cls, f, b) min-groupBy re-class; the same-class edge frame is
    * derived once per outer round; every loop frame localCheckpoints
    * (lineage truncation, the iterative-operator discipline). Rounds
    * are data-dependent (inner ≤ class diameter, outer ≤ refinement
    * depth — small on real graphs); the outer loop RAISES past
    * `maxRounds` instead of returning a wrong partition (the
    * unbounded-TRAVERSE convention), and the inner fixpoint's bound
    * derives from the live vertex count (a true convergence bound —
    * path-like graphs legitimately need more hops than a fixed knob
    * allows).
    *
    * SEQUENTIAL BASE CASE (r11): when the live set fits under
    * `localFinishThreshold` vertices (and a bounded same-class edge
    * count), the remainder collects to the driver and finishes with
    * iterative Tarjan — the standard tail of distributed SCC (the
    * Multistep discipline: trim/FW-BW the bulk in parallel, finish
    * the small remainder serially — Slota, Rajamanickam & Madduri
    * 2014), because past that point every refinement ROUND costs more
    * in per-job floors than the whole remaining problem. This is a
    * size-gated control-plane collect (≤ threshold vertices, ≤ 16×
    * threshold edges — the repo's bounded-collect convention), not a
    * corpus materialization; pass `localFinishThreshold = 0` to force
    * the all-distributed path (specs pin both paths result-identical).
    * Returns (id, scc), scc = min member id, both non-nullable on
    * either path. */
  def sccDF(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 50,
      localFinishThreshold: Int = 100000): DataFrame = {
    // a null id names no vertex: dropped, which also types `id`
    // non-nullable on both finishing paths
    var cls = vertices.select(col("id").cast("long").as("id"),
        lit(0L).as("cls"))
      .filter(col("id").isNotNull)
      .localCheckpoint(true)
    // edges naming an undeclared vertex are dropped up front (the
    // pageRankDF/hitsDF convention): the refinement never labels such
    // a vertex, and the Tarjan finish indexes only declared ones.
    // Duplicate edges stay until the distributed refinement starts:
    // the Tarjan finish tolerates them, so a graph that finishes
    // locally pays no shuffle to drop them, and its edge gate counts
    // raw edges (an upper bound of the distinct count)
    val raw = edges.select(col("src"), col("dst"))
      .join(cls.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(cls.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .persist()
    var e0 = raw
    // finalized (id, scc) slices accumulate here and union ONCE at
    // the end — each references a checkpointed frame, so no per-round
    // materialization of the growing result is needed
    val done = scala.collection.mutable.ListBuffer[DataFrame]()
    var outer = 0
    // live-vertex count doubles as the emptiness probe AND the inner
    // fixpoint's derived bound (min-label propagation over a class of
    // n vertices converges within n-1 hops = ceil((n-1)/2) two-hop
    // rounds; +2 covers the confirming round) — the shared maxRounds
    // knob was easy to hit on path-like graphs (a directed chain of a
    // few hundred vertices needs >100 hops), and the derived bound
    // keeps raise-don't-truncate semantics: exceeding it means a bug,
    // not data.
    var nLive = cls.count()
    var finished = false
    while (!finished && nLive > 0) {
      outer += 1
      if (outer > maxRounds) throw new IllegalStateException(
        s"SCC refinement exceeded $maxRounds rounds without " +
          "converging — raise maxRounds")
      // edges with both endpoints live and in the same class (round 1
      // has one class covering everything — skip the two joins, and
      // the checkpoint: e0 is already persisted)
      val eSame = if (outer == 1) e0 else e0
          .join(cls.select(col("id").as("src"), col("cls").as("__cs")),
            "src")
          .join(cls.select(col("id").as("dst"), col("cls").as("__cd")),
            "dst")
          .filter(col("__cs") === col("__cd"))
          .select("src", "dst")
          .localCheckpoint(true)
      // SEQUENTIAL BASE CASE: the live remainder fits on the driver —
      // collect (bounded by the two guards) and finish with Tarjan.
      // Same-class edges are sufficient: refinement never splits an
      // SCC, so no SCC crosses classes and cross-class edges are never
      // intra-SCC. One extra count job, paid only under the vertex
      // gate, replaces every remaining refinement round.
      // The edge bound stays an ABSOLUTE budget (16×threshold ≈ 1.6M
      // edges = ~26 MB as primitive arrays): r12 briefly scaled it
      // with the live remainder (16×nLive) per the r11 ADVICE, which
      // silently disabled the base case on DENSE small graphs — the
      // sf0.1 trade graph is 16k vertices × 599k edges (avg degree
      // 37), exactly the shape where finishing locally pays most, and
      // qg_scc measured 7.4-7.9 s distributed vs 0.9-1.4 s local. The
      // ADVICE's real concern (a multi-hundred-MB boxed-Row transient)
      // is solved below by collecting primitive per-partition arrays.
      if (nLive <= localFinishThreshold &&
          eSame.count() <= 16L * math.max(1L, localFinishThreshold.toLong)) {
        val vArr = cls.select(col("id")).collect().map(_.getLong(0))
        // primitive per-partition arrays, not GenericRows — the boxed
        // collect was a transient multi-hundred-MB driver allocation
        val parts = eSame.select(col("src").cast("long"),
            col("dst").cast("long")).rdd
          .mapPartitions { it =>
            val sb = new scala.collection.mutable.ArrayBuilder.ofLong
            val db = new scala.collection.mutable.ArrayBuilder.ofLong
            it.foreach { r => sb += r.getLong(0); db += r.getLong(1) }
            Iterator.single((sb.result(), db.result()))
          }.collect()
        val labeled = tarjanLocal(vArr,
          parts.flatMap(_._1), parts.flatMap(_._2))
        val sp = vertices.sparkSession
        import sp.implicits._
        done += labeled.toSeq.toDF("id", "scc")
        finished = true
      } else {
        // every hop's message join carries each duplicate edge, so the
        // first distributed round drops them once; later rounds derive
        // their same-class edges from the deduplicated e0
        val eRef = if (outer > 1) eSame else {
          e0 = raw.distinct().persist()
          e0
        }
        val eRev = eRef.select(col("dst").as("src"), col("src").as("dst"))
        // DIRECTION-TAGGED edge frame: f-messages flow src→dst, b-messages
        // flow dst→src — one 2|E| frame lets one join + one groupBy carry
        // BOTH propagation directions per hop (r11; the r10 shape ran the
        // two directions as separate join+groupBy+join-back pipelines,
        // doubling the hop's shuffle-stage count for the same message
        // volume). Locally measured ~wash — per-JOB floors dominate,
        // not stages (MEASUREMENTS.md §r11) — kept because
        // every deleted shuffle stage is a cluster barrier at scale.
        // NOT checkpointed: the union/projection over the checkpointed
        // eSame is shuffle-free, and a checkpoint here would pay one
        // extra materialization job per outer round — measured to cancel
        // the step fusion's win
        val eBoth = eRef.select(col("src"), col("dst"), lit(true).as("__fwd"))
          .unionByName(eRev.select(col("src"), col("dst"),
            lit(false).as("__fwd")))
        // fused forward/backward min-label fixpoint: one loop frame
        // carries (f, b); TWO propagation steps per materialization
        // (lineage depth 2 halves the checkpoint/probe actions — round
        // count is the class diameter, the job count is what dominates
        // wall time on a 30-job iterative operator)
        // `step` preserves the round-start labels (__of, __ob) so the
        // change probe is a narrow filter over the MATERIALIZED frame —
        // a per-round probe JOIN would pay a full shuffle job each round
        // Measured alternative NOT taken: the ssspDF fold shape (self ∪
        // fwd msgs ∪ bwd msgs → one min groupBy, no join-back) measured
        // 11.4 s vs the r10 join-back form's 8.4 at sf0.1 (median-of-5)
        // — the union triples the closing aggregation's input while the
        // message-side groupBy here reduces messages BEFORE the
        // join-back touches the (vertex-sized) label frame.
        // ONE message join over the direction-tagged frame;
        // min-ignores-nulls makes the per-direction mins one aggregate
        def step(l: DataFrame): DataFrame = {
          val msgs = l.select(col("id").as("__u"), col("f").as("__fu"),
              col("b").as("__bu"))
            .join(eBoth, col("__u") === eBoth("src"))
            .groupBy(col("dst").as("id"))
            .agg(min(when(col("__fwd"), col("__fu"))).as("__fm"),
              min(when(!col("__fwd"), col("__bu"))).as("__bm"))
          l.join(msgs, Seq("id"), "left")
            .select(col("id"),
              least(col("f"), coalesce(col("__fm"), col("f"))).as("f"),
              least(col("b"), coalesce(col("__bm"), col("b"))).as("b"),
              col("__of"), col("__ob"))
        }
        // lazy: the first inner round's count materializes it (its
        // parent cls is already checkpointed, so lineage stays depth-1)
        var lab = cls.select(col("id"), col("id").as("f"),
          col("id").as("b")).localCheckpoint(false)
        // inner bound derived from the surviving vertex count (see
        // nLive above) — never tighter than the caller's maxRounds
        val innerMax = math.max(maxRounds.toLong, nLive / 2 + 2)
        var changed = true
        var inner = 0
        while (changed) {
          inner += 1
          if (inner > innerMax) throw new IllegalStateException(
            s"SCC min-label propagation exceeded $innerMax rounds over " +
              s"$nLive live vertices — this is a bug, not a data shape")
          val pre = lab.select(col("id"), col("f"), col("b"),
            col("f").as("__of"), col("b").as("__ob"))
          // TWO hops per materialization: lineage depth 2 halves the
          // checkpoint + probe jobs (job scheduling, not data volume,
          // dominates this loop locally); measured against 3 hops the
          // wider plan costs more than the saved job (8.4 vs 9.5 s
          // median-of-5 at sf0.1)
          // ONE job per round (r11): the checkpoint is marked LAZY and
          // the change-count probe's full scan materializes it — the
          // count aggregates in the same job that computes and persists
          // the frame, deleting the separate probe job the r10 shape
          // paid after every eager checkpoint. Wall-neutral locally
          // (the probes were take(1) reads of cached blocks — measured
          // a wash, MEASUREMENTS.md §r11), kept because each
          // deleted job is a scheduler round-trip at cluster scale.
          // count(), not isEmpty: a take(1) short-circuit would leave
          // partitions uncomputed at lineage-truncation time.
          val next = step(step(pre)).localCheckpoint(false)
          // labels only decrease — the strict-< probe is exact
          val chg = next.filter(col("f") < col("__of") ||
            col("b") < col("__ob"))
          changed = chg.count() > 0
          lab = next.select(col("id"), col("f"), col("b"))
        }
        // re-class by (cls, f, b). CERTIFICATION, both final same round:
        //  - a group with f == b == m IS exactly SCC(m): members reach m
        //    and are reached by m (⊆), and any v ∈ SCC(m) shares m's
        //    class-restricted min ancestor/descendant — a smaller
        //    ancestor x of v would be an ancestor of every member (=);
        //  - a singleton group is a singleton SCC (a ≥2-member SCC never
        //    splits across groups, so its members can't appear alone).
        // Everything else strictly split (a stable class forces f == b,
        // by the min-member argument above) — refine only those. On the
        // trade graph this certifies the giant SCC in ROUND ONE, where
        // the parts-per-class rule needed a full confirming fixpoint.
        val joined = cls.join(lab, Seq("id"))
        val groups = joined.groupBy(col("cls"), col("f"), col("b"))
          .agg(min(col("id")).as("__new"), count(lit(1)).as("__gn"))
        // ONE materialization per outer round; the done slice and the
        // surviving classes are narrow filters over it (lazy reads of
        // the checkpointed frame — re-materializing each would pay two
        // more full jobs per round). r11: the checkpoint is lazy and the
        // next-round live count materializes it — the survivor count IS
        // the loop-top emptiness probe, so the round pays one job, not
        // two (the same fusion as the inner loop).
        val next = joined.join(groups, Seq("cls", "f", "b"))
          .select(col("id"), col("__new"), col("f"), col("b"), col("__gn"))
          .localCheckpoint(false)
        val isFinal = col("f") === col("b") || col("__gn") === 1
        // coalesce: a group's min is never null, but Catalyst types
        // `min` nullable — this keeps the refinement's schema equal to
        // the Tarjan finish's non-nullable (id, scc)
        done += next.filter(isFinal)
          .select(col("id"), coalesce(col("__new"), col("id")).as("scc"))
        cls = next.filter(!isFinal)
          .select(col("id"), col("__new").as("cls"))
        nLive = cls.count()
      }
    }
    e0.unpersist()
    raw.unpersist()
    if (done.isEmpty)
      cls.select(col("id"), col("cls").as("scc")) // empty vertex set
    else done.reduce(_ unionByName _)
  }

  /** Iterative Tarjan over a COLLECTED subgraph — [[sccDF]]'s
    * sequential base case (explicit stacks, no recursion; CSR
    * adjacency). Input arrays are control-plane-bounded by the
    * caller's threshold guards. Returns (id, min member id of its
    * SCC) per vertex. */
  private def tarjanLocal(ids: Array[Long], src: Array[Long],
      dst: Array[Long]): Array[(Long, Long)] = {
    val n = ids.length
    val m = src.length
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) { idx.put(ids(i), i); i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m) { off(idx.get(src(i)) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val s: Int = idx.get(src(i))
      adj(fill(s)) = idx.get(dst(i))
      fill(s) += 1
      i += 1
    }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    val comp = new Array[Int](n) // component root index per vertex
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    var counter = 0
    var v0 = 0
    while (v0 < n) {
      if (index(v0) == -1) {
        var top = 0
        callV(0) = v0; callE(0) = off(v0)
        index(v0) = counter; low(v0) = counter; counter += 1
        stack(sp) = v0; sp += 1; onStack(v0) = true
        while (top >= 0) {
          val v = callV(top)
          if (callE(top) < off(v + 1)) {
            val w = adj(callE(top))
            callE(top) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stack(sp) = w; sp += 1; onStack(w) = true
              top += 1; callV(top) = w; callE(top) = off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) { // v roots an SCC: pop it
              var w = -1
              while (w != v) {
                sp -= 1
                w = stack(sp)
                onStack(w) = false
                comp(w) = v
              }
            }
            top -= 1
            if (top >= 0 && low(v) < low(callV(top)))
              low(callV(top)) = low(v)
          }
        }
      }
      v0 += 1
    }
    val minByRoot = new java.util.HashMap[Int, java.lang.Long](n)
    i = 0
    while (i < n) {
      val r = comp(i)
      val cur = minByRoot.get(r)
      if (cur == null || ids(i) < cur) minByRoot.put(r, ids(i))
      i += 1
    }
    Array.tabulate(n)(j => (ids(j), minByRoot.get(comp(j)).longValue))
  }

  /** DataFrame triangle count per vertex: the ordered-edge three-way
    * self-join (a<b, b<c, a<c — each triangle materializes exactly
    * once), then per-corner membership counts. Declarative, so every
    * join is a plain hash shuffle Catalyst can plan/AQE-skew-split —
    * on big graphs the standard trick is degree-ordering the edges
    * first so the join fan-out is bounded by arboricity, which is
    * exactly this plan shape with a different canonical order.
    * `edges` must be canonical (src < dst), distinct, and MATERIALIZED
    * (persist/localCheckpoint) when it is a computed plan — it is
    * consumed three times here, so a lazy projection would re-run its
    * whole pipeline per join side. Counts are exact ints; GraphSpec
    * pins them equal to GraphX's triangleCount. */
  def triangleCountsDF(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val tris = e.as("p1")
      .join(e.as("p2"), col("p2.src") === col("p1.dst"))
      .join(e.as("p3"), col("p3.src") === col("p1.src") &&
        col("p3.dst") === col("p2.dst"))
      .select(col("p1.src").as("a"), col("p1.dst").as("b"),
        col("p2.dst").as("c"))
    val mem = tris.select(col("a").as("id"))
      .unionByName(tris.select(col("b").as("id")))
      .unionByName(tris.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n"))
    vertices.select("id").join(mem, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n"), lit(0L)).cast("int").as("triangles"))
  }

  /** Local clustering coefficient (Watts & Strogatz 1998): per vertex
    * C(v) = 2·T(v) / (d(v)·(d(v)−1)) — how close v's neighborhood is
    * to a clique. Exact integer micro-units (`2·T·1e6 div d(d−1)`,
    * multiply-before-divide); vertices of degree < 2 report 0. Rides
    * [[triangleCountsDF]]'s declarative ordered-edge three-way join —
    * one degree partial-agg + one join on top; no windows. Input is
    * an ordered (src < dst) undirected edge list, one row per edge. */
  def clusteringCoefficientDF(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val tri = triangleCountsDF(deg.select("id"), e)
    tri.join(deg, "id")
      .select(col("id"), col("triangles"), col("d").as("degree"),
        when(col("d") >= 2,
          expr("CAST(triangles AS BIGINT) * 2000000 div (d * (d - 1))"))
          .otherwise(lit(0L)).as("coeff_micro"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003, public paper):
    * score a candidate pair (a, b) by Σ 1/ln(deg(w)) over their common
    * neighbors w — rarer shared neighbors count for more. Scored over
    * a bipartite edge list (src → dst): candidates are src pairs, the
    * shared side is dst, deg(w) = w's src count (≥ 2 whenever w is
    * actually shared, so ln() is never 0).
    *
    * Fixed point: each neighbor's weight rounds to integer micro-units
    * BEFORE the pair sum, so scores are order-free exact integers —
    * hash-stable under any partitioning. `focal` bounds the left side
    * (the all-pairs version is quadratic by definition — same contract
    * as the common-neighbor query); `minShared` prunes noise pairs.
    *
    * Scale shape: one partial-agg degree count; the weight table joins
    * the edge list ON THE SAME dst key the candidate join shuffles on
    * (exchange-reusable); one partial-agg pair sum. AQE splits skewed
    * celebrity-dst keys. */
  def adamicAdarDF(edges: DataFrame, focal: Column,
      minShared: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val wdst = e.groupBy(col("dst"))
      .agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= 2) // degree-1 dst can never be shared
      .select(col("dst"),
        round(lit(1e6) / log(col("__d").cast("double")))
          .cast("long").as("__w"))
    val a = e.filter(focal).select(col("src").as("a_id"), col("dst"))
    val b = e.select(col("src").as("b_id"), col("dst"))
    a.join(b, "dst").filter(col("a_id") < col("b_id"))
      .join(wdst, "dst")
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"), sum(col("__w")).as("aa_micro"))
      .filter(col("shared") >= minShared)
  }

  /** Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    * 2003, public paper): for candidate pairs sharing ≥ `minShared`
    * out-neighbors, jac = |N(a)∩N(b)| / |N(a)∪N(b)| with the union
    * expanded exactly as d(a)+d(b)−shared — all longs until ONE
    * rounded micro-unit division (`round(1e6·shared/union)`), so the
    * scores hash-match any engine. Complements [[adamicAdarDF]] (which
    * weights by neighbor rarity; Jaccard normalizes by the pair's own
    * degrees).
    *
    * Scale shape: one partial-agg out-degree count joined onto the
    * AGGREGATED pair frame (Spark broadcasts it when it fits and
    * shuffles when a 100 TB vertex set doesn't — both correct here);
    * the candidate join is the same dst-keyed wedge join as the
    * common-neighbor query (never all-pairs). */
  def jaccardLinksDF(edges: DataFrame, focal: Column,
      minShared: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val a = e.filter(focal).select(col("src").as("a_id"), col("dst"))
    val b = e.select(col("src").as("b_id"), col("dst"))
    val pairs = a.join(b, "dst").filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(deg.select(col("src").as("a_id"), col("__deg").as("da")),
        "a_id")
      .join(deg.select(col("src").as("b_id"), col("__deg").as("db")),
        "b_id")
      .select(col("a_id"), col("b_id"), col("shared"), col("da"),
        col("db"),
        round(col("shared").cast("double") * 1e6 /
          (col("da") + col("db") - col("shared")), 0)
          .cast("long").as("jac_micro"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, public paper),
    * UNNORMALIZED with integer scores: h₀ = 1 everywhere; per round
    * aₜ(v) = Σ_{u→v} hₜ₋₁(u), then hₜ(u) = Σ_{u→v} aₜ(v). Dropping
    * the per-round normalization keeps every score an exact integer
    * sum — no float-add order drift, so results hash-match any
    * engine — and the RANKING is unchanged (normalization scales all
    * scores of a round uniformly). Long range bounds depth: scores
    * grow ≈ (avg in-deg × avg out-deg) per round, so a handful of
    * rounds stays far below 2^63 even web-scale; callers wanting unit
    * vectors divide by the norm off-line.
    *
    * Scale shape: one equi-join + partial-agg shuffle per half-round
    * (identical to the PageRank message plan — AQE-skew-splittable),
    * messages to undeclared vertices discarded by the vertex-table
    * join-back, lineage truncated per round. Returns
    * (id, hub, authority). */
  def hitsDF(vertices: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, "HITS needs at least one round")
    val ids = vertices.select(col("id")).persist()
    // vertex ids ride INSIDE the edge table as self-rows with a null
    // message marker (the prCore trick): every id reaches each
    // half-round's groupBy without a vertex-table join-back per
    // half-round (A/B: MEASUREMENTS.md §r6; two joins/round → one).
    // Edges touching undeclared vertices are semi-filtered up front —
    // either endpoint's groupBy would otherwise mint phantom rows.
    val e = edges.select(col("src"), col("dst"))
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .withColumn("__self", lit(false))
      .unionByName(ids.select(col("id").as("src"),
        col("id").as("dst")).withColumn("__self", lit(true)))
      .persist()
    var hubs = ids.withColumn("hub", lit(1L))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      auths = e.join(hubs, e("src") === hubs("id"))
        .select(e("dst"),
          when(col("__self"), lit(null).cast("long"))
            .otherwise(col("hub")).as("__m"))
        .groupBy(col("dst")).agg(sum("__m").as("__s"))
        .select(col("dst").as("id"),
          coalesce(col("__s"), lit(0L)).as("authority"))
      hubs = e.join(auths, e("dst") === auths("id"))
        .select(e("src"),
          when(col("__self"), lit(null).cast("long"))
            .otherwise(col("authority")).as("__m"))
        .groupBy(col("src")).agg(sum("__m").as("__s"))
        .select(col("src").as("id"),
          coalesce(col("__s"), lit(0L)).as("hub"))
        .localCheckpoint()
    }
    val out = hubs.join(auths, "id")
      .select(col("id"), col("hub"), col("authority"))
      .localCheckpoint()
    e.unpersist()
    ids.unpersist()
    out
  }

  /** k-core peel: remove vertices whose degree in the REMAINING
    * subgraph is < k, for a FIXED number of rounds (fixed rounds keep
    * the result deterministic and oracle-expressible; at the fixpoint
    * further rounds are no-ops — pick `rounds` ≥ the graph's peel
    * depth and assert convergence in a spec via [[kCoreDF]] at
    * rounds and rounds+1). `edges` must be canonical (src < dst)
    * distinct undirected edges. Per round: one partial-agg degree
    * count + two anti-joins against the (small) peeled-id set, the
    * edge frame re-materialized per round so lineage stays flat.
    * Returns surviving (id, core_deg). */
  def kCoreDF(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k-core needs k >= 1, rounds >= 1")
    var u = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val bad = u.groupBy("a").agg(count(lit(1)).as("__n"))
        .filter(col("__n") < k).select(col("a").as("__bad"))
      u = u.join(bad, col("a") === col("__bad"), "left_anti")
        .join(bad, col("b") === col("__bad"), "left_anti")
        .localCheckpoint()
    }
    u.groupBy(col("a").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Fixed-round eigenvector centrality (Bonacich 1987 — the
    * prestige-weighted completion of the centrality family: a vertex
    * matters when its NEIGHBORS matter, degree counts them, PageRank
    * adds teleport/out-degree damping): power iteration x ← A·x on
    * the undirected graph, max-normalized to integer micro-units each
    * round (`x = y·1e6 div max(y)` — exact integers, deterministic,
    * oracle-replayable; fixed rounds are the kCore determinism trade,
    * and bipartite components oscillate by nature — callers pin the
    * round budget). Defined on the edge-incident vertex set.
    *
    * Scale shape per round: ONE equi-join streaming the persisted
    * adjacency against the x frame + a partial-combining sum + a
    * 1-row max broadcast back as a literal; x re-materializes per
    * round (loop rule). */
  def eigenvectorCentralityDF(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "eigenvector centrality needs rounds >= 1")
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var x = und.select(col("a").as("id")).distinct()
      .withColumn("x", lit(1000000L)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val y = und.join(x, col("id") === col("b"))
        .groupBy(col("a")).agg(sum(col("x")).as("y"))
      val mx = y.agg(max(col("y"))).collect()(0).getLong(0)
      x = y.select(col("a").as("id"),
          expr(s"y * 1000000L div ${mx}L").as("x"))
        .localCheckpoint(true)
    }
    val out = x.select(col("id"), col("x").as("eigen_micro"))
    und.unpersist()
    out
  }

  /** k-truss peel (Cohen 2008, "Trusses: cohesive subgraphs for
    * social network analysis" — the EDGE-cohesion companion to
    * [[kCoreDF]]'s vertex peel; a k-truss edge sits in ≥ k−2
    * triangles of the remaining subgraph, so trusses are the
    * triangle-reinforced communities k-core over-admits): remove
    * under-supported edges for a FIXED number of rounds (fixed rounds
    * keep the result deterministic and oracle-expressible — pick
    * `rounds` ≥ the peel depth and assert convergence in a spec at
    * rounds and rounds+1). `edges` must be canonical (src < dst)
    * distinct undirected edges.
    *
    * Per round: one wedge self-join on the LOWER endpoint + one
    * closing equi-join enumerate remaining triangles (the declarative
    * [[trianglesDF]] shape — never an all-pairs), each triangle posts
    * support to its three edges via explode + partial-agg count;
    * under-supported edges drop by the inner join (k ≥ 3 makes
    * zero-triangle edges peel identically). Edge frames
    * re-materialize per round so lineage stays flat. Returns the
    * surviving edges with support RECOMPUTED in the surviving
    * subgraph: (src, dst, support). */
  def kTrussDF(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "k-truss needs k >= 3, rounds >= 1")
    def support(u: DataFrame): DataFrame = {
      val tri = u.select(col("src").as("x"), col("dst").as("y"))
        .join(u.select(col("src").as("x"), col("dst").as("z")), Seq("x"))
        .filter(col("y") < col("z"))
        .join(u.select(col("src").as("y"), col("dst").as("z")),
          Seq("y", "z"))
      tri.select(explode(array(
          struct(col("x").as("src"), col("y").as("dst")),
          struct(col("x").as("src"), col("z").as("dst")),
          struct(col("y").as("src"), col("z").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("support"))
    }
    var u = edges.select(col("src"), col("dst")).localCheckpoint()
    for (_ <- 1 to rounds) {
      u = u.join(support(u), Seq("src", "dst"))
        .filter(col("support") >= k - 2)
        .select("src", "dst")
        .localCheckpoint()
    }
    u.join(support(u), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint()
  }

  /** Weighted single-source shortest paths: Bellman–Ford relaxation
    * with a FIXED round budget (fixed rounds keep the result
    * deterministic and oracle-expressible; `rounds` ≥ the hop
    * diameter of the reachable set gives the exact fixpoint — assert
    * convergence in a spec by comparing `rounds` and `rounds + 1`).
    * `wedges` is directed (src, dst, w ≥ 0 integral); traversal is
    * undirected like [[shortestHops]]. Distances are exact integer
    * sums — the hash cannot drift with partitioning. Per round ONE
    * equi-join + one partial-combining min shuffle (the relax step
    * and the keep-previous-distance fold into the SAME aggregation
    * via union, so there is no separate join-back); the distance
    * frame is re-materialized per round so lineage stays flat. At
    * 100 TB the distance frame is bounded by the reachable vertex
    * set, never the edge multiset. Returns reached (id, dist). */
  def ssspDF(vertices: DataFrame, wedges: DataFrame,
      sourceIds: Seq[Long], rounds: Int): DataFrame = {
    require(rounds >= 1, "sssp needs at least one round")
    val und = wedges.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .unionByName(
        wedges.select(col("dst").as("a"), col("src").as("b"), col("w")))
      .persist()
    var dist = vertices.select(col("id"))
      .filter(col("id").isin(sourceIds: _*))
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(und, dist("id") === und("a"))
        .select(col("b").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    und.unpersist()
    dist
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * FIXED round budget and a deterministic tie-break: each round
    * every vertex adopts the most frequent label among its
    * (undirected) neighbors, ties broken toward the SMALLEST label;
    * isolated vertices keep their own. Sync updates + min tie-break
    * make the result partitioning-independent, so the oracle can
    * unroll the same rounds in SQL. Per round one equi-join + two
    * partial-combining shuffles: the per-(id, label) count and a
    * windowless `max_by(label, (count, -label))` arg-max — a window
    * over the vertex key would serialize celebrity vertices into one
    * task at 100 TB, the two-level groupBy cannot. Labels are ids
    * (exact longs). Returns (id, community). */
  def labelPropDF(vertices: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "label propagation needs at least one round")
    // r14 optimization: vertex ids ride INSIDE the adjacency as
    // tagged self-rows (the prCore/hits trick), deleting the
    // per-round keep-own-label JOIN-BACK: each round is now ONE
    // message join + the two partial-combining aggregations, not
    // three shuffles plus a join. Self-rows deliver the vertex's OWN
    // label to itself; the per-(id, label) count EXCLUDES them (a
    // vertex's own label is not a neighbor vote — multi-edge counts
    // are untouched), so the own-label group scores __c = its real
    // neighbor votes (possibly 0). In the argmax a 0-vote own-label
    // row loses to every real neighbor label (count ≥ 1) and wins
    // only when the vertex has no neighbors — exactly the old
    // coalesce(pick, own) semantics, bit-identical labels.
    // Edges touching undeclared vertices are semi-filtered up front:
    // the groupBy would otherwise mint label rows for phantom ids
    // (the old join-back against the vertex frame dropped them).
    val ids = vertices.select(col("id")).persist()
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .join(ids.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(ids.select(col("id").as("b")), Seq("b"), "left_semi")
      .withColumn("__self", lit(false))
      .unionByName(ids.select(col("id").as("a"), col("id").as("b"))
        .withColumn("__self", lit(true)))
      .persist()
    var lbl = ids.withColumn("lbl", col("id"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      lbl = und.join(lbl, und("a") === lbl("id"))
        .select(und("b").as("id"), col("lbl"), col("__self"))
        .groupBy("id", "lbl")
        .agg(count(when(!col("__self"), lit(1))).as("__c"))
        .groupBy("id")
        .agg(max_by(col("lbl"),
          struct(col("__c"), (-col("lbl")).as("__t"))).as("lbl"))
        .localCheckpoint(true)
    }
    und.unpersist()
    ids.unpersist()
    lbl.select(col("id"), col("lbl").as("community"))
  }

  /** Newman modularity of a community assignment (Newman & Girvan
    * 2004): per community c, q_part = m_c/m − (d_c/2m)² — the
    * within-community edge excess over the degree-preserving random
    * expectation; Σ q_part is the partition's Q. The quality gauge
    * for [[labelPropDF]] (and any clustering keyed by vertex id).
    *
    * Exactness: the numerator is assembled as ONE integer —
    * 4·m·m_c − d_c² — and divided by 4m² only at the end, so the
    * 6-decimal rounding sees a correctly-rounded single division
    * (both factors exact below 2^53) and reproduces bit-identically
    * in any engine.
    *
    * Scale shape: two equi-joins of the edge table against the label
    * frame (same vertex-id key both times — exchange-reusable), one
    * partial-agg count per community, and a degree union-count; no
    * windows, no per-community funneling — a celebrity community
    * arrives pre-combined like any hot groupBy key. `m` is one
    * control-plane count. Pass the session-persisted edge frame (the
    * [[TradeGraph.edges]] convention) — this reads it three times. */
  def modularityDF(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m = e.count()
    require(m > 0, "modularity needs at least one edge")
    val lbl = communities.select(col("id"), col("community"))
    val inn = e
      .join(lbl.select(col("id").as("src"), col("community").as("__ca")),
        "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("__cb")),
        "dst")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("m_in"))
    val deg = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__d"))
    val dc = lbl.join(deg, Seq("id"), "left")
      .groupBy("community")
      .agg(count(lit(1)).as("n_vertices"),
        coalesce(sum(col("__d")), lit(0L)).as("d_c"))
    dc.join(inn, Seq("community"), "left")
      .select(col("community"), col("n_vertices"),
        coalesce(col("m_in"), lit(0L)).as("m_in"), col("d_c"),
        round((lit(4L) * lit(m) * coalesce(col("m_in"), lit(0L)) -
          col("d_c") * col("d_c")).cast("double") / lit(4.0 * m * m), 6)
          .as("q_part"))
  }

  /** Hub-removal robustness probe (Albert, Jeong & Barabási 2000 —
    * "error and attack tolerance"): strip the `topK` highest-degree
    * vertices, then measure what stays connected — n_kept,
    * component count, giant-component size and its micro share. The
    * capacity-planning "what if the biggest hubs disappear"
    * answered without mutating the graph. Components are min-id
    * labels from [[connectedComponents]]; the oracle runs the
    * min-label recurrence to its fixpoint within a 12-round budget,
    * which covers the post-removal diameter (the
    * qg_connected_components precedent — the gate would catch a
    * graph deeper than the budget).
    *
    * Scale shape: hubs are a collected topK-id list (literal
    * filters); components are one [[sccDF]] over the symmetrised
    * surviving edges; the close aggregates the component-size frame. */
  def robustnessDF(vertices: DataFrame, edges: DataFrame,
      topK: Int): DataFrame = {
    require(topK >= 0, "bad robustness params")
    // the topK hub ids are collected ONCE (a control-plane list of
    // topK longs): as a lazy sort+limit frame, each of its three uses
    // re-ran the degree aggregation
    val hubs = degrees(vertices, edges)
      .orderBy(col("total").desc, col("id")).limit(topK)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq
    val keep = vertices.select(col("id")).filter(!col("id").isin(hubs: _*))
    val fe = edges.select(col("src"), col("dst"))
      .filter(!col("src").isin(hubs: _*) && !col("dst").isin(hubs: _*))
    val lbl = connectedComponents(keep, fe)
      .select(col("id"), col("component").as("lbl"))
    lbl.groupBy("lbl").agg(count(lit(1)).as("__sz"))
      .agg(sum(col("__sz")).as("n_kept"),
        count(lit(1)).as("n_components"),
        max(col("__sz")).as("giant_size"))
      .select(col("n_kept"), col("n_components"), col("giant_size"),
        expr("giant_size * 1000000 div n_kept").as("giant_share_micro"))
  }

  /** Time-respecting (temporal) earliest-arrival reachability
    * (Kempe, Kleinberg & Kumar 2000; Wu et al. VLDB 2014's
    * earliest-arrival semantics): walks may only traverse an edge
    * whose activation time is ≥ the arrival time at its tail — "what
    * could this node have influenced, respecting time order?", which
    * static reachability over-counts. Sources start at arrival 0;
    * reached vertices report their EARLIEST arrival. Earlier arrivals
    * only widen the usable edge set (t ≥ arr is monotone), so the
    * per-round min-arrival relaxation is exact within the round
    * budget — the [[ssspDF]] fixed-budget contract, with the edge
    * condition swapped in. All integers (epoch-day activations), so
    * results hash bit-identically.
    *
    * Scale shape: per round ONE equi-join of the arrival frame
    * against the persisted undirected edge table + a partial-agg min
    * (idempotent/commutative — partitioning-invariant), lineage
    * truncated per round; the arrival frame is reached-vertices
    * sized. Output: (id, arrival). */
  def temporalReachDF(edges: DataFrame, sources: Seq[Long],
      rounds: Int): DataFrame = {
    require(sources.nonEmpty && rounds >= 1,
      "temporal reach needs sources and a round budget")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges.select(col("src").as("a"), col("dst").as("b"),
        col("t").cast("long").as("t"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b"),
        col("t").cast("long").as("t")))
      .persist()
    var arr = sources.toDF("id").withColumn("arrival", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val stepped = und.join(arr, und("a") === arr("id"))
        .filter(col("t") >= col("arrival"))
        .select(col("b").as("id"), col("t").as("arrival"))
      arr = arr.unionByName(stepped)
        .groupBy("id").agg(min("arrival").as("arrival"))
        .localCheckpoint()
    }
    und.unpersist()
    arr
  }

  /** Conductance of a community assignment (Kannan, Vempala & Vetta
    * 2004; the standard cut-quality gauge alongside [[modularityDF]]):
    * per community C, φ(C) = cut(C) / min(vol(C), 2m − vol(C)) — the
    * fraction of C's cheaper-side edge volume that crosses the cut.
    * Low conductance = well-separated community. All-integer until
    * the close: cut and vol are exact edge/degree counts, φ reported
    * as `cut·10⁶ div min(...)` micro-units (null when the min side
    * has no volume — a community spanning the whole graph).
    *
    * Scale shape: the same two vertex-id equi-joins as modularity
    * (exchange-reusable), cut edges explode to their TWO communities
    * before one partial-agg count; degrees partial-agg; `m` is one
    * control-plane count. No windows anywhere. */
  def conductanceDF(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m = e.count()
    require(m > 0, "conductance needs at least one edge")
    val lbl = communities.select(col("id"), col("community"))
    val tagged = e
      .join(lbl.select(col("id").as("src"), col("community").as("__ca")),
        "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("__cb")),
        "dst")
    val cut = tagged.filter(col("__ca") =!= col("__cb"))
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("cut"))
    val deg = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__d"))
    val vol = lbl.join(deg, Seq("id"), "left")
      .groupBy("community")
      .agg(count(lit(1)).as("n_vertices"),
        coalesce(sum(col("__d")), lit(0L)).as("vol"))
    val minSide = least(col("vol"), lit(2L * m) - col("vol"))
    vol.join(cut, Seq("community"), "left")
      .withColumn("cut", coalesce(col("cut"), lit(0L)))
      .select(col("community"), col("n_vertices"), col("cut"), col("vol"),
        when(minSide > 0,
          expr(s"cut * 1000000 div least(vol, ${2L * m} - vol)"))
          .as("phi_micro"))
  }

  /** Deterministic DeepWalk random-walk corpus (Perozzi et al. KDD
    * 2014 §4.1): `nWalks` fixed-length walks from each focal vertex
    * over the UNDIRECTED graph, emitting the (start, walk, step,
    * vertex) trace rows that feed skip-gram training. Reference graph
    * surface: `db/graph/ODatabaseGraphTx.java:63-141` (traversal over
    * vertex link fields) — here walks are whole-corpus batch
    * sampling, not per-record navigation.
    *
    * "Random" is a seeded PRF, not `rand()` (repo determinism rule):
    * the step-t successor of vertex u on walk (s, w) is
    * argmin over neighbors v of hash60("walk:s:w:t:u:v") — each
    * neighbor is the argmin with equal probability, the draw is
    * independent across (walk, step, edge) keys, and the choice
    * replays bit-identically in the oracle.
    *
    * Scale shape: the frontier stays |sources|·nWalks rows; each step
    * is ONE equi-join on the current vertex + ONE partial-combining
    * `min_by` argmin — neighbor candidates of celebrity vertices
    * pre-combine map-side, and NO per-vertex window exists anywhere
    * (the argmin choice rule replaces neighbor-ordinal indexing,
    * which would need exactly such a window to build). Per-step
    * localCheckpoint truncates the iterative lineage. */
  def randomWalksDF(edges: DataFrame, sourceIds: Seq[Long],
      nWalks: Int, steps: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sourceIds.nonEmpty && nWalks > 0 && steps >= 0,
      "randomWalksDF needs sources, walks and a step budget")
    val e = edges.select(col("src"), col("dst"))
    // undirected adjacency; trade-graph id spaces are disjoint so the
    // two directions cannot collide, and e is already distinct
    val und = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val starts = sourceIds.flatMap(s => (0 until nWalks).map(w => (s, w)))
      .toDF("start", "walk")
    var cur = starts.withColumn("vertex", col("start"))
      .localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(
      cur.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      val key = concat_ws(":", lit("walk"), col("start"), col("walk"),
        lit(t), col("vertex"), col("dst"))
      // the frontier is |sources|·nWalks rows BY CONSTRUCTION — force
      // the broadcast (localCheckpoint hides its size from Catalyst,
      // which would otherwise sort-merge-shuffle the whole adjacency
      // every step: A/B 3.1 → sub-second at sf0.1)
      cur = broadcast(cur).join(und, cur("vertex") === und("src"))
        .select(col("start"), col("walk"), col("dst"),
          graft.ops.TextOps.hash60(key).as("__h"))
        .groupBy("start", "walk")
        .agg(min_by(col("dst"), struct(col("__h"), col("dst")))
          .as("vertex"))
        .localCheckpoint()
      trace += cur.withColumn("step", lit(t))
    }
    val out = trace.reduce(_ unionByName _)
      .select(col("start"), col("walk"), col("step"), col("vertex"))
      .localCheckpoint()
    und.unpersist()
    out
  }

  /** Bounded-radius betweenness centrality from a focal source set
    * (Brandes 2001, the two-phase algorithm; restricting to k
    * sources and radius `depth` is the standard estimator — Brandes
    * & Pich 2007): the forward pass is [[bfsLevels]]' shortest-path
    * counts σ(s,v) per level, the backward sweep accumulates
    * dependencies δ(s,v) = Σ_w σ_v/σ_w·(1+δ_w) over the successor
    * level, and betweenness(v) = Σ_s δ(s,v) for non-source v.
    *
    * Determinism: σ are exact integer path counts; δ is held in
    * integer MICRO-units with the per-(v,w) term computed as
    * `σ_v·(1e6+δ_w) div σ_w` — multiply-before-divide keeps
    * precision, integer floor-div makes every term exact, and the
    * per-level sums are order-free integer adds, so the result is
    * bit-identical in any engine (longs stay < 2^60 for the depths/
    * graphs this targets). Endpoints excluded per Brandes.
    *
    * Scale shape: per backward round ONE equi-join between adjacent
    * levels + partial-agg δ-sum (celebrity vertices pre-combine
    * map-side, no windows); every round localCheckpoints.
    * Returns (id, betweenness_micro) for vertices with δ > 0. */
  def betweennessDF(edges: DataFrame, sourceIds: Seq[Long],
      depth: Int): DataFrame = {
    require(sourceIds.nonEmpty && depth >= 1, "need sources and depth")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges)
    val levels = bfsLevels(und,
      sourceIds.map(s => (s, s, 1L)).toDF("src", "v", "sigma"), depth)
    // backward: delta in micro-units, deepest level contributes 0
    var delta = levels.last.select(col("src"), col("v"),
      lit(0L).as("dmu"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- (0 until depth).reverse) {
      // EVERY successor contributes its (1 + δ_w) share — a w absent
      // from delta has δ_w = 0, not no-contribution (left + coalesce)
      val succ = levels(d + 1)
        .join(delta, Seq("src", "v"), "left")
        .select(col("src"), col("v").as("b"), col("sigma").as("__sw"),
          coalesce(col("dmu"), lit(0L)).as("__dw"))
      delta = broadcast(levels(d))
        .join(und, col("v") === col("a"))
        .join(broadcast(succ), Seq("src", "b"))
        .groupBy(col("src"), col("v"))
        // multiply-before-integer-divide: exact per-(v,w) term
        .agg(sum(expr("sigma * (1000000 + __dw) div __sw")).as("dmu"))
        .localCheckpoint(true)
      if (d > 0) acc += delta
    }
    // non-source interior vertices across all levels 1..depth-1
    val interior = acc.reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[(Long, Long, Long)]
        .toDF("src", "v", "dmu"))
    val out = interior
      .filter(!col("v").isin(sourceIds: _*))
      .groupBy(col("v").as("id"))
      .agg(sum(col("dmu")).as("betweenness_micro"))
      .filter(col("betweenness_micro") > 0)
      .localCheckpoint()
    und.unpersist()
    out
  }

  /** Bounded-radius harmonic centrality from a focal source set
    * (Boldi & Vigna 2014 §3 argue harmonic is the principled
    * closeness variant on disconnected graphs; bounding radius and
    * sources is the same estimator trade as [[betweennessDF]]):
    * centrality(v) = Σ_s 1/d(s,v), accumulated in integer micro-units
    * `1e6 div d` — exact, order-free, oracle-replayable. Distances are
    * [[bfsLevels]] indexes; the close is one partial-agg groupBy. */
  def harmonicCentralityDF(edges: DataFrame, sourceIds: Seq[Long],
      depth: Int): DataFrame =
    focalDistances(edges, sourceIds, depth)
      .groupBy(col("v").as("id"))
      .agg(sum(expr("1000000 div d")).as("harmonic_micro"))
      .localCheckpoint()

  /** Bounded-radius closeness centrality from a focal source set —
    * harmonic's classical companion (Bavelas 1950; Wasserman & Faust
    * §5.2): per vertex the REACHED-source count and the exact
    * distance sum, closing to `reached·1e6 div Σd` micro-units (the
    * reciprocal of the mean distance to the sources that reach it).
    * Harmonic sums reciprocals so unreachable sources contribute 0;
    * closeness instead conditions on the reached set — reporting
    * `reached` alongside keeps the estimator honest on disconnected
    * graphs. All three outputs are exact integers: order-free,
    * partition-invariant, oracle-replayable. */
  def closenessCentralityDF(edges: DataFrame, sourceIds: Seq[Long],
      depth: Int): DataFrame =
    focalDistances(edges, sourceIds, depth)
      .groupBy(col("v").as("id"))
      .agg(count(lit(1)).as("reached"), sum(col("d")).as("dist_sum"))
      .withColumn("closeness_micro",
        expr("reached * 1000000L div dist_sum"))
      .localCheckpoint()

  /** Degree assortativity coefficient (Newman 2002, Phys. Rev. Lett.
    * 89): the Pearson correlation of degrees across edge endpoints —
    * positive = hubs link to hubs, negative = hub-and-spoke. Over the
    * ordered endpoint pairs of the undirected graph:
    *   r = (M·Σd_a·d_b − (Σd_a)²) / (M·Σd_a² − (Σd_a)²)
    * The four sums are EXACT integer aggregates (order-free); the
    * closing ratio is computed in double from those integers with the
    * same op sequence in the oracle (the products can pass 2^53, so
    * both sides multiply as IEEE doubles — identical rounding, and
    * integer multiply would overflow-wrap in Spark / raise in
    * DuckDB).
    *
    * Scale shape: one degree count (partial-agg) + two equi-joins on
    * the endpoint keys + ONE global aggregate — no windows, no
    * driver math beyond the final 1-row ratio. */
  def assortativityDF(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val und = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val j = und
      .join(deg.select(col("id").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("db")), "dst")
    val m = col("__m").cast("double")
    val sjk = col("__sjk").cast("double")
    val sj = col("__sj").cast("double")
    val sj2 = col("__sj2").cast("double")
    j.agg(count(lit(1)).as("__m"),
        sum(col("da") * col("db")).as("__sjk"),
        sum(col("da")).as("__sj"),
        sum(col("da") * col("da")).as("__sj2"))
      .select(col("__m").as("m_ordered"),
        round((m * sjk - sj * sj) / (m * sj2 - sj * sj), 6)
          .as("assortativity"))
  }

  /** Skip-gram training pairs from a [[randomWalksDF]] trace (the
    * DeepWalk §4.2 co-occurrence harvest): every ordered (center,
    * context) vertex pair within `window` steps on the SAME walk,
    * with multiplicity — exactly the corpus word2vec trains on.
    * One equi-join on the (start, walk) key + a partial-combining
    * pair count; the per-walk frame is steps+1 rows, so the join
    * fan-out is bounded by 2·window per row. */
  def walkSkipgrams(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, "skip-gram window must be >= 1")
    val a = walks.select(col("start"), col("walk"),
      col("step").as("__sa"), col("vertex").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("__sb"), col("vertex").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("__sa") =!= col("__sb") &&
        abs(col("__sa") - col("__sb")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"))
  }

  /** node2vec biased second-order random walks (Grover & Leskovec,
    * KDD 2016, public paper) — the walk corpus behind node2vec
    * embeddings: from current vertex v (previous vertex p), the
    * unnormalized weight of candidate c is 1/p-return if c = p,
    * 1 if c is adjacent to p ("stay close"), 1/q-forward otherwise
    * ("explore"). Weights are caller-supplied integer MICRO-units
    * (the quantization-is-the-contract rule), and the draw is an
    * exact integer inverse-CDF: threshold = hash60(walk-step key) mod
    * Σw, successor = first candidate (dst-ordered cumulative weight)
    * past the threshold — a seeded PRF draw that replays exactly in
    * SQL; no rand(), no float probabilities. Step 1 has no previous
    * vertex → uniform (all weights 10⁶).
    *
    * Scale shape: the frontier is |sources|·nWalks rows by
    * construction and is BROADCAST into the per-step adjacency join;
    * the membership probe for "adjacent to previous" is one more
    * equi-join on the (prev, cand) pair key; the cumulative-weight
    * window is partitioned per (start, walk) — bounded by the max
    * degree, never corpus-wide. Simple-graph contract: the adjacency
    * is deduplicated once up front. Per-step lineage truncated.
    * Output: (start, walk, step, vertex) — same trace shape as
    * [[randomWalksDF]], so [[walkSkipgrams]] composes. */
  def node2vecWalks(edges: DataFrame, sourceIds: Seq[Long], nWalks: Int,
      steps: Int, wReturnMicro: Long, wSharedMicro: Long,
      wForwardMicro: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sourceIds.nonEmpty && nWalks > 0 && steps >= 1,
      "node2vecWalks needs sources, walks and a step budget")
    require(wReturnMicro > 0 && wSharedMicro > 0 && wForwardMicro > 0,
      "bias weights must be positive micro-units")
    val e = edges.select(col("src"), col("dst"))
    val und = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val memb = und.select(col("src").as("__pa"), col("dst").as("__pb"),
      lit(1).as("__adj"))
    val starts = sourceIds.flatMap(s => (0 until nWalks).map(w => (s, w)))
      .toDF("start", "walk")
    var frontier = starts.withColumn("vertex", col("start"))
      .withColumn("prev", lit(null).cast("long"))
      .localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("start"), col("walk"), lit(0).as("step"),
        col("vertex")))
    val wPart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("start"), col("walk"))
    val wCum = wPart.orderBy(col("cand")).rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    for (t <- 1 to steps) {
      val cand = broadcast(frontier)
        .join(und, frontier("vertex") === und("src"))
        .select(col("start"), col("walk"), col("vertex"), col("prev"),
          col("dst").as("cand"))
        .join(memb, col("prev") === col("__pa") &&
          col("cand") === col("__pb"), "left")
        .withColumn("__w",
          when(col("prev").isNull, lit(1000000L))
            .when(col("cand") === col("prev"), lit(wReturnMicro))
            .when(col("__adj").isNotNull, lit(wSharedMicro))
            .otherwise(lit(wForwardMicro)))
      val key = concat_ws(":", lit("n2v"), col("start"), col("walk"),
        lit(t), col("vertex"))
      frontier = cand
        .withColumn("__cum", sum(col("__w")).over(wCum))
        .withColumn("__thr",
          pmod(graft.ops.TextOps.hash60(key),
            sum(col("__w")).over(wPart)))
        .filter(col("__cum") > col("__thr"))
        .groupBy(col("start"), col("walk"), col("vertex"))
        .agg(min(col("cand")).as("__next"))
        .select(col("start"), col("walk"), col("__next").as("vertex"),
          col("vertex").as("prev"))
        .localCheckpoint()
      trace += frontier.select(col("start"), col("walk"),
        lit(t).as("step"), col("vertex"))
    }
    val out = trace.reduce(_ unionByName _).localCheckpoint()
    und.unpersist()
    out
  }

  /** HyperBall neighborhood function (Boldi & Vigna 2013, "In-Core
    * Computation of Geometric Centralities with HyperBall", public
    * paper): N(t) = Σ_v |ball(v, t)| estimated with one 64-register
    * HLL counter per vertex, propagated by max-merge along undirected
    * edges per round — the standard way to read a graph's distance
    * distribution (effective diameter, average-distance trend) when
    * all-pairs BFS is unthinkable. Registers use this repo's
    * oracle-reproducible integer HLL arithmetic
    * ([[graft.ops.Sketch.hllDistinct]]), so every estimate
    * hash-matches the unrolled SQL replay. The reference's graph
    * surface gives per-start traversal reachability only
    * (`core/.../db/graph/ODatabaseGraphTx.java:63-141`); this is the
    * whole-graph statistical closure of that capability.
    *
    * Scale shape: state is EXACTLY |V|·≤64 (id, reg, mr) rows no
    * matter how large the balls grow (the point of the sketch — a
    * 3-hop ball at 100 TB may hold millions of vertices, but its
    * counter stays ≤ 64 longs); each round is ONE equi-join against
    * the undirected edge table + a partial-agg `max` (idempotent and
    * commutative → partitioning-invariant), lineage truncated per
    * round. No neighborhood set is ever materialized, collected, or
    * shuffled.
    *
    * Output: one row per radius t = 0..rounds —
    * `nf_e4` = Σ_v round(est|ball(v,t)|·10⁴) (per-vertex 4-decimal
    * estimates made integer BEFORE the sum, so the global total is an
    * exact BIGINT sum, immune to float-summation order), and
    * `pct_micro` = nf_e4·10⁶ div max(nf_e4) — the effective-diameter
    * readout (first t with pct_micro ≥ 900000 is the 90% effective
    * diameter). */
  /** shared HyperBall core: the per-round PACKED register states
    * (index 0 = the self-only sketch). Self-loops let ONE join +
    * aggregate merge a vertex's own sketch with its neighbors' each
    * round (and keep isolated vertices); registers pack as one
    * 64-slot int array (0 = absent) merged by [[graft.ops.Sketch
    * .RegisterMax]], so the per-round join fans out edge-count ROWS,
    * not edge×register — measured 11.7 → 3.7 s at sf0.1 vs the
    * row-per-register cut, bit-identical estimates. States are
    * localCheckpointed (lineage truncation). */
  private def hyperBallStates(vertices: DataFrame, edges: DataFrame,
      rounds: Int): Seq[DataFrame] = {
    require(rounds >= 1, "hyperBall needs at least one round")
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .unionByName(vertices.select(col("id").as("a"), col("id").as("b")))
      .persist()
    // round-0 sketch: each vertex's counter holds exactly itself
    // (domain-separated key, same md5 hash60 the oracle replays)
    var state = graft.ops.Sketch.hllRegisterRows(
        vertices.select(col("id")), "id",
        concat(lit("hb:"), col("id").cast("string")))
      .select(col("id"), expr(
        "transform(sequence(0, 63), i -> " +
          "if(i = __reg, cast(__rho as int), 0))").as("__regs"))
      .localCheckpoint()
    val states = scala.collection.mutable.ArrayBuffer(state)
    for (_ <- 1 to rounds) {
      state = und.join(state, col("b") === col("id"))
        .groupBy(col("a"))
        .agg(graft.ops.Sketch.registerMax(col("__regs"), 64)
          .as("__regs"))
        .select(col("a").as("id"), col("__regs"))
        .localCheckpoint()
      states += state
    }
    und.unpersist()
    states.toSeq
  }

  /** per-(round, vertex) 4-decimal ball-size estimates over ALL
    * packed states at once, as exact e4 integers (round·10⁴) — ONE
    * tagged union + ONE explode+estimate aggregation (r14: the old
    * per-state close paid a separate explode/estimate/agg job per
    * radius; per-(t, id) arithmetic is unchanged, so every estimate
    * is bit-identical). States are localCheckpointed, so the union
    * re-reads materialized blocks, not the propagation lineage. */
  private def hyperBallEstAllE4(states: Seq[DataFrame],
      outCol: String): DataFrame =
    graft.ops.Sketch.hllFromRegistersKeys(
        states.zipWithIndex.map { case (st, t) =>
            st.select(lit(t).as("__t"), col("id"), col("__regs")) }
          .reduce(_ unionByName _)
          .select(col("__t"), col("id"), posexplode(col("__regs")))
          .withColumnRenamed("pos", "__reg")
          .withColumnRenamed("col", "__mr")
          .filter(col("__mr") > 0),
        Seq("__t", "id"))
      .select(col("__t"), col("id"),
        round(col("est_distinct") * 10000).cast("long").as(outCol))

  def hyperBallDF(vertices: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val states = hyperBallStates(vertices, edges, rounds)
    val out = hyperBallEstAllE4(states, "__e")
      .groupBy(col("__t").as("t"))
      .agg(sum(col("__e")).as("nf_e4"))
    // rounds+1-row close: the whole-frame max here is over ≤ rounds+1
    // rows, not data-sized
    out.withColumn("__mx",
        max(col("nf_e4")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      .withColumn("pct_micro", expr("nf_e4 * 1000000 div __mx"))
      .drop("__mx")
      .orderBy("t")
  }

  /** HyperBall geometric centrality (Boldi & Vigna 2013 §3 — the
    * paper's actual payoff): approximate HARMONIC centrality for
    * EVERY vertex at once from the per-round ball sizes,
    * Ĥ(v) = Σ_t (|B(v,t)| − |B(v,t−1)|)/t — the t-th shell size is
    * the ball-size difference, each shell member contributes 1/t.
    * The exact [[harmonicCentralityDF]] is bounded to k focal
    * sources because exact all-vertex BFS is quadratic; this is the
    * 100 TB-scale whole-graph estimate (one sketch per vertex,
    * max-merge rounds). Shell sizes use the exact e4 integers the
    * neighborhood function uses; rare non-monotone estimate dips
    * (the linear-counting regime switch) clamp to 0; each term is
    * (diff·100) div t, so the output is an exact e6 integer sum.
    * Output: (id, reach_e4 — the radius-`rounds` ball size,
    * harmonic_e6), id-ordered. */
  def hyperBallCentralityDF(vertices: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val states = hyperBallStates(vertices, edges, rounds)
    // r14: pivot the single fused estimate pass by radius instead of
    // joining rounds+1 per-state estimate frames on id (the old shape
    // paid rounds joins of vertex-sized frames). Every (t, id) exists
    // — a vertex's own element keeps ≥ 1 register > 0 from round 0 —
    // so the conditional max is total and estimates are bit-identical.
    val estCols = (0 to rounds).map(t =>
      max(when(col("__t") === t, col("__e"))).as(s"__e$t"))
    val joined = hyperBallEstAllE4(states, "__e")
      .groupBy(col("id"))
      .agg(estCols.head, estCols.tail: _*)
    val harmonic = (1 to rounds).map(t =>
        s"(greatest(__e$t - __e${t - 1}, 0) * 100) div $t")
      .mkString(" + ")
    joined.select(col("id"), col(s"__e$rounds").as("reach_e4"),
        expr(harmonic).as("harmonic_e6"))
      .orderBy("id")
  }
}

/** The trade-graph fixture over the driver tables: customers and
  * suppliers as vertices, one edge per DISTINCT (customer, supplier)
  * trading relation from orders⋈lineitem. Supplier ids are offset to
  * keep the id space disjoint. */
object TradeGraph {
  val SupplierOffset = 10000000L

  // the edge table is derived by a fact-fact join + distinct; every
  // graph query needs it, so cache the materialization per (session,
  // dir) — the moral equivalent of the edge table a deployment would
  // persist at ingestion. Weak keys keep stopped sessions collectable.
  private val cache = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, DataFrame]]()
  private def cached(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    val m = Option(cache.get(s)).getOrElse {
      val m0 = scala.collection.mutable.Map[String, DataFrame]()
      cache.put(s, m0); m0
    }
    m.getOrElseUpdate(key, build.persist())
  }

  def vertices(s: SparkSession, dir: String): DataFrame = {
    val c = graft.sources.Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"),
        lit("customer").as("kind"))
    val sup = graft.sources.Tables.load(s, dir, "supplier")
      .select((col("s_suppkey") + SupplierOffset).cast("long").as("id"),
        lit("supplier").as("kind"))
    c.unionByName(sup)
  }

  def edges(s: SparkSession, dir: String): DataFrame =
    cached(s, s"edges:$dir") {
      val o = graft.sources.Tables.load(s, dir, "orders")
      val l = graft.sources.Tables.load(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey") + SupplierOffset).cast("long").as("dst"))
        .distinct()
    }

  /** weighted variant: one edge per trading relation, weight = the
    * cheapest lot ever traded on it (min l_quantity — integral in
    * the data, so the cast to long is exact and SSSP distances stay
    * integer). Same fact-fact join as [[edges]], the distinct
    * replaced by the weight-min groupBy (same single shuffle). */
  def weightedEdges(s: SparkSession, dir: String): DataFrame =
    cached(s, s"wedges:$dir") {
      val o = graft.sources.Tables.load(s, dir, "orders")
      val l = graft.sources.Tables.load(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey") + SupplierOffset).cast("long").as("dst"))
        .agg(min(col("l_quantity").cast("long")).as("w"))
    }

  /** DIRECTED variant with return edges: money flows customer →
    * supplier on EVERY trading relation; goods keep flowing back
    * supplier → customer only on REPEAT relations (≥ 2 distinct
    * orders — a one-shot purchase is a dead end, repeat business is a
    * live two-way tie). The plain [[edges]] graph is bipartite
    * one-way (every SCC a singleton); this is the graph where SCCs —
    * mutually-active trading communities — are a meaningful readout.
    * Same fact-fact join, the distinct replaced by an order-count
    * groupBy (one shuffle). */
  def directedEdges(s: SparkSession, dir: String): DataFrame =
    cached(s, s"dedges:$dir") {
      val o = graft.sources.Tables.load(s, dir, "orders")
      val l = graft.sources.Tables.load(s, dir, "lineitem")
      val rel = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_custkey").cast("long").as("c"),
          (col("l_suppkey") + SupplierOffset).cast("long").as("sp"))
        .agg(countDistinct(col("o_orderkey")).as("__n"))
      rel.select(col("c").as("src"), col("sp").as("dst"))
        .unionByName(rel.filter(col("__n") >= 2)
          .select(col("sp").as("src"), col("c").as("dst")))
    }

  /** temporal variant: one edge per trading relation, activation `t` =
    * the EARLIEST trade's epoch day (min o_orderdate) — the relation
    * exists from its first order onward. Same fact-fact join as
    * [[edges]] with the distinct replaced by a min groupBy. */
  def temporalEdges(s: SparkSession, dir: String): DataFrame =
    cached(s, s"tedges:$dir") {
      val o = graft.sources.Tables.load(s, dir, "orders")
      val l = graft.sources.Tables.load(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey") + SupplierOffset).cast("long").as("dst"))
        // o_orderdate has shipped both TIMESTAMP and TIMESTAMP_NTZ;
        // the session-UTC cast makes unix_micros accept either (same
        // wall-clock DuckDB's epoch_us reads)
        .agg(expr("min(unix_micros(cast(o_orderdate as timestamp))" +
          " div 86400000000)").as("t"))
    }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants — the 100 TB design contract: filters reach
  * the parquet scan, projections prune the read schema, dimension joins
  * broadcast, aggregates partial-combine map-side, hot paths stay in
  * whole-stage codegen. A regression here is a scale bug even when
  * results stay correct. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def df(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** full (untruncated) pushed-filter spec of every parquet scan. */
  private def pushedFilters(d: DataFrame): String =
    d.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }.mkString(";")

  private def readSchemas(d: DataFrame): Seq[String] =
    d.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.mkString(",")
    }

  /** final plan text after AQE resolution (collect() executes THIS
    * plan — count() would build a separate query execution). */
  private def finalPlan(d: DataFrame): String = {
    d.collect()
    d.queryExecution.executedPlan.toString
  }

  test("filters are pushed down to the parquet scan") {
    assert(pushedFilters(df("q_filter_like"))
      .contains("EqualTo(c_mktsegment,BUILDING)"))
    // dialect path pushes down too (parser → Column → Catalyst)
    val pd = pushedFilters(df("qd_select_filter_sort"))
    assert(pd.contains("EqualTo(c_mktsegment,BUILDING)") &&
      pd.contains("GreaterThan(c_acctbal,1000"), pd)
  }

  test("projection prunes the read schema") {
    assert(readSchemas(df("q_topk")) == Seq("o_orderkey,o_totalprice"))
    // dialect chains query reads only the referenced columns
    val cols = readSchemas(df("qd_chains")).head.split(",").toSet
    assert(cols == Set("p_partkey", "p_name", "p_brand"))
  }

  test("dimension joins broadcast (no shuffle join for small dims)") {
    assert(finalPlan(df("q_link_nav")).contains("BroadcastHashJoin"))
    val d = finalPlan(df("qd_link_nav"))
    assert(d.contains("BroadcastHashJoin") && !d.contains("SortMergeJoin"), d)
  }

  test("aggregations partial-combine before the shuffle") {
    assert(finalPlan(df("q1_pricing_summary")).contains("partial_sum"))
  }

  test("hot paths run in whole-stage codegen") {
    // `*(n)` prefixes mark WholeStageCodegen stages in plan text
    for (q <- Seq("q1_pricing_summary", "q_filter_like", "qd_chains"))
      assert(finalPlan(df(q)).contains("*("), q)
  }

  test("rid/range scans compile to plain key predicates on the scan") {
    val p = pushedFilters(df("qd_range_pagination"))
    assert(p.contains("GreaterThanOrEqual(c_custkey,100)") &&
      p.contains("LessThanOrEqual(c_custkey,199)"), p)
  }

  test("curation operators keep their scale shape") {
    // decontamination broadcasts the (small) eval gram set — the
    // corpus side must never shuffle into a sort-merge join
    val deco = finalPlan(df("qp_decontaminate"))
    assert(deco.contains("BroadcastHashJoin") &&
      !deco.contains("SortMergeJoin"), deco)
    // sequence packing windows per shard (partitioned by lang) — a
    // window without a partition spec funnels the corpus through one
    // partition and breaks at 100 TB
    val pack = df("qp_seq_pack").queryExecution.optimizedPlan.toString
    assert(pack.contains("windowspecdefinition(lang"), pack)
    // stratified sampling is a narrow filter: no join, no extra shuffle
    // beyond its aggregation
    val samp = finalPlan(df("qp_stratified_sample"))
    assert(!samp.contains("Join"), samp)
    // temperature mixing joins the corpus to a per-stratum rate table
    // that is tiny by construction — it must broadcast, never shuffle
    // the corpus into a sort-merge join
    val mix = finalPlan(df("qp_temperature_mix"))
    assert(mix.contains("BroadcastHashJoin") &&
      !mix.contains("SortMergeJoin"), mix)
  }

  test("keep-best dedup survivor selection partial-combines, no window") {
    // a hot duplicate group must pre-combine map-side through min_by,
    // never serialize through a row_number window over the content hash
    val kb = finalPlan(df("qp_dedup_keep_best"))
    assert(kb.contains("partial_min_by") ||
      (kb.contains("min_by") && kb.contains("partial")), kb)
    assert(!kb.contains("windowspecdefinition"), kb)
  }


  test("multi-touch attribution is an output-bounded banded join, no touch lists") {
    // the r9 shape carried a per-row prefix-list window (collect_list
    // over unboundedPreceding..currentRow — O(k^2) list traffic for a
    // k-event bot in one task); the current shape must carry NO touch
    // array at all: a banded conversion⋈touch equi-join (never a
    // cross product) plus ONE per-conversion window whose partitions
    // are bounded by a single lookback window's touches.
    for (q <- Seq("q_attribution_linear", "q_attribution_ushape")) {
      val p = finalPlan(df(q))
      assert(!p.contains("collect_list"),
        s"$q: no touch list may be materialized:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q: the banded probe must stay an equi-join:\n$p")
      assert(p.contains("windowspecdefinition(__cid"),
        s"$q: the rank window must partition by conversion id:\n$p")
    }
  }

  test("bounded shallow TRAVERSE compiles to one static join plan") {
    // depth <= 3 must not pay the iterative loop's per-round eager
    // checkpoints: the whole traversal is a lazy join tree over fresh
    // parquet scans. A LogicalRDD in the plan means a localCheckpoint
    // materialized mid-build — the static path regressed.
    val opt = df("qd_traverse").queryExecution.optimizedPlan
    val p = opt.toString
    assert(!p.contains("LogicalRDD"),
      s"bounded traverse must not checkpoint per round:\n$p")
    assert(p.contains("Join"), p)
    // reverse reachability over key sets: no (origin, node) pair
    // relation is built, let alone aggregated
    assert(!p.contains("__origin") && !p.contains("__node"),
      s"bounded traverse must not build origin/node pairs:\n$p")
    // one first hop (nation) at the top level: a semi-join against its
    // key set, which needs no distinct
    assert(p.contains("LeftSemi"), p)
    assert(opt.collect { case a: Aggregate => a }.isEmpty,
      s"the traverse key sets must not be aggregated:\n$p")
  }

  test("banded range join stays an equi-join, never a cross product") {
    val p = finalPlan(df("q_range_join"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("as-of join is a window pass, not a range join") {
    // the union-window formulation must never degenerate into a
    // nested-loop/cartesian range join (quadratic per key)
    val p = finalPlan(df("q_asof_join"))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVF cell assignment is a narrow expression: no join, window, or shuffle") {
    import graft.ops.Similarity
    val e = graft.sources.Tables.load(spark, sf, "embeddings")
    val cents = Similarity.collectCentroids(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 16),
      "vec_id", "embedding")
    val plan = Similarity.cellAssignments(e, cents, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Exchange"), plan)
  }

  test("ANN ranking is two-level: no task holds one query's full candidates") {
    // per-(query, input-partition) top-k before the global merge — a
    // single window over q_id puts a query's entire corpus-sized
    // candidate list in one task (straggler/OOM at 100 TB)
    for (q <- Seq("qp_ann_topk", "qp_ivf_topk", "qp_hamming_topk")) {
      val p = finalPlan(df(q))
      assert(p.contains("SPARK_PARTITION_ID"), s"$q: $p")
      assert("windowspecdefinition".r.findAllIn(p).length >= 2, s"$q: $p")
    }
  }

  test("round-5 operators keep their scale shape") {
    // IVF-PQ: the probe side broadcasts (5 queries × 2 probes) and
    // joins the coded corpus on the cell key — never a cartesian over
    // the corpus (the plain-ADC crossJoin is reserved for the
    // broadcast-tiny query side, not the composed path)
    val ivfpq = finalPlan(df("qp_ivfpq_topk"))
    assert(ivfpq.contains("BroadcastHashJoin"), ivfpq)
    assert(!ivfpq.contains("CartesianProduct"), ivfpq)
    // ADC ranking is two-level like the cosine rankers
    assert(ivfpq.contains("SPARK_PARTITION_ID"), ivfpq)
    // epoch shuffle: per-shard windows only — a global row_number
    // would funnel the corpus through one task
    val shuf = df("qp_epoch_shuffle").queryExecution.optimizedPlan.toString
    assert(shuf.contains("windowspecdefinition(shard"), shuf)
    // per-domain cap: one window per stratum, no join
    val cap = finalPlan(df("qp_cap_per_source"))
    assert(!cap.contains("Join"), cap)
    // LM perplexity: the bigram count table joins on the bigram key —
    // a shuffle join is the DESIGNED shape (a web-scale bigram table
    // must not broadcast). No cartesian; the only nested-loop allowed
    // is the 1-ROW vocab-scalar crossJoin (in-plan so exchange reuse
    // shares the count-table shuffle instead of a second action)
    val lm = finalPlan(df("qp_lm_perplexity"))
    assert(!lm.contains("CartesianProduct"), lm)
    // AQE's toString prints Final + Initial plans — count only the
    // final section, else one join counts twice
    assert("BroadcastNestedLoopJoin".r
      .findAllIn(lm.split("== Initial Plan ==").head).length <= 1, lm)
  }

  test("round-6 operators keep their scale shape") {
    // KMV sketch: ONE exchange, carrying <= k-long buffers per group
    // (partial bottom_k_distinct before it), and the hash60 lives in
    // a codegen'd Project, never as the interpreted aggregate child
    val kmv = finalPlan(df("qp_kmv_distinct"))
    assert("partial_bottom_k_distinct".r.findAllIn(
      kmv.split("== Initial Plan ==").head).nonEmpty, kmv)
    assert(!kmv.contains("Window"), kmv)
    // quality gate: per-doc column math only — no shuffle at all
    // (the op itself, without the gate query's presentation orderBy)
    val qg = finalPlan(graft.ops.TextOps.qualityGate(
      graft.sources.Tables.load(spark, sf, "documents"), "doc_id", "text"))
    assert(!qg.contains("Exchange") && !qg.contains("Join"), qg)
    // PPS sample: both windows (running + total weight) ride ONE hash
    // exchange; the only other exchange is the deliberate spread
    val pps = finalPlan(df("qp_pps_sample"))
    val fin = pps.split("== Initial Plan ==").head
    assert("windowspecdefinition".r.findAllIn(fin).length >= 2, pps)
    assert("Exchange hashpartitioning".r.findAllIn(fin).length == 1, pps)
    // mean embedding: partial-combining (stratum, dim) aggregation
    val cent = finalPlan(df("qp_source_centroids"))
    assert(cent.split("== Initial Plan ==").head.contains("partial_sum"),
      cent)
  }

  test("round-6b operators keep their scale shape") {
    // JL projection: a pure narrow projection — no exchange, no join,
    // and the dots are the native expression, not a HOF lambda
    val rp = finalPlan(graft.ops.Similarity.randomProject(
      graft.sources.Tables.load(spark, sf, "embeddings"),
      "vec_id", "embedding", graft.ops.Similarity.rademacher(16, 64)))
    assert(!rp.contains("Exchange") && !rp.contains("Join"), rp)
    assert(rp.contains("vector_dot") && !rp.contains("lambdafunction"), rp)
    // DSIR: the bucket log-ratio table joins back by BROADCAST (a
    // B-row control-plane table must never shuffle the corpus side)
    val dsir = finalPlan(df("qp_dsir_weights"))
    assert(dsir.split("== Initial Plan ==").head
      .contains("BroadcastHashJoin"), dsir)
    // PCA moments: ONE partial-combining aggregate — a single
    // exchange beyond the deliberate spread, no window, no join
    val pca = finalPlan(graft.ops.Pca.moments(
      graft.sources.Tables.load(spark, sf, "embeddings"), "embedding", 64))
    val pcaFin = pca.split("== Initial Plan ==").head
    assert(pcaFin.contains("partial_moment_matrix"), pca)
    assert(!pca.contains("Window") && !pca.contains("Join"), pca)
    // trained-LR quality filter: each GD round reads the CACHED
    // feature frame through a narrow literal-weight projection into
    // ONE partial-combining global aggregate — no join, no window,
    // no per-round corpus re-tokenize
    import org.apache.spark.sql.functions.{col, element_at, exp, lit, round, sum}
    val feats = graft.ops.Classifier.lrFeatures(
      graft.sources.Tables.load(spark, sf, "documents"),
      "doc_id", "text", col("lang") === "en", 32).persist()
    feats.count()
    val m = graft.ops.Classifier.lrMargin(Array.fill(33)(7L), 32)
    val p = lit(1.0) / (lit(1.0) + exp(-(m.cast("double") / lit(1e9))))
    val gradPlan = finalPlan(feats.agg(
      sum(round(p * element_at(col("vec"), 1)).cast("long"))))
    val fin = gradPlan.split("== Initial Plan ==").head
    assert(fin.contains("InMemoryTableScan"), gradPlan) // cache, not rebuild
    assert(!fin.contains("Window") && !fin.contains("Join"), gradPlan)
    assert(fin.contains("partial"), gradPlan)
    feats.unpersist()
  }

  test("round-6c operators keep their scale shape") {
    import org.apache.spark.sql.functions.col
    // Adamic-Adar: equi-joins + partial aggs only — no cross product,
    // no window (a celebrity dst must stay AQE-splittable)
    val aa = finalPlan(graft.graph.GraphOps.adamicAdarDF(
      graft.graph.TradeGraph.edges(spark, sf), col("src") < 100,
      minShared = 2))
    assert(!aa.contains("CartesianProduct") && !aa.contains("Window"), aa)
    assert(aa.contains("partial"), aa)
    // hard-negative mining: the dup-verify set build must semi-join
    // down to candidate ids, never carry the whole corpus
    val hn = df("qp_hard_negatives")
    val opt = hn.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"), opt)
    // PPJoin: the verify must run the compiled sorted_overlap
    // merge-scan (early-exit; measured 4.6× over the per-pair
    // array_intersect hash build it replaced — MEASUREMENTS.md §r8) — captured
    // via listener because the result hides behind localCheckpoint
    val ppPlans = capturedPlans {
      val pp = graft.ops.Dedup.ppjoinPairs(
        graft.sources.Tables.load(spark, sf, "documents"),
        "doc_id", "text", threshold = 0.8)
      assert(pp.columns.toSeq == Seq("a_id", "b_id", "jac"))
    }
    assert(ppPlans.exists(_.contains("sorted_overlap")),
      "ppjoin verify must use the compiled merge-scan")
    assert(!ppPlans.exists(_.contains("array_intersect")),
      "ppjoin must not fall back to per-pair array_intersect")
  }

  /** executed plans of EVERY query execution `body` triggers — the
    * only honest way to pin per-round plans of iterative operators,
    * whose results hide behind localCheckpoint. */
  private def capturedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("round-7 operators keep their scale shape") {
    // gazetteer entities: the dictionary join must BROADCAST (it is
    // control-plane by contract) and counts partial-combine
    val ent = finalPlan(df("qp_entities"))
    assert(ent.contains("BroadcastHashJoin"), ent)
    assert(!ent.contains("SortMergeJoin"), ent)
    assert(ent.contains("partial"), ent)
    // Kneser-Ney: context/continuation windows run on the bigram-TYPE
    // table (above the first aggregate), never on the raw corpus
    val kn = df("qp_kn_perplexity").queryExecution.optimizedPlan.toString
    assert(kn.contains("Window"), kn)
    val firstWin = kn.indexOf("Window")
    assert(kn.indexOf("Aggregate", firstWin) > 0,
      "KN windows must be fed by the bigram-type aggregate:\n" + kn)
    // random walks (iterative): every per-step execution must pick a
    // broadcast join for the frontier and contain NO window (the
    // argmin successor pick is a partial-agg min_by) and NO
    // sort-merge shuffle of the adjacency
    val rw = capturedPlans { df("qg_random_walks").collect() }
    assert(rw.nonEmpty)
    assert(rw.forall(p => !p.contains("SortMergeJoin")),
      rw.filter(_.contains("SortMergeJoin")).mkString("\n===\n"))
    assert(rw.forall(p => !p.contains("Window")))
    assert(rw.exists(_.contains("BroadcastHashJoin")))
    // boilerplate: the line-frequency path is partial-agg'd groupBys
    // on the (source, hash) key — a line-key window would serialize a
    // hot template line into one task
    val bp = capturedPlans { df("qp_boilerplate").collect() }
    assert(bp.nonEmpty && bp.forall(p => !p.contains("Window")))
    assert(bp.exists(_.contains("partial")))
    // betweenness (iterative): every forward/backward round must
    // broadcast the focal level frames — no window, no cartesian,
    // no sort-merge shuffle of the message stream
    val bt = capturedPlans { df("qg_betweenness").collect() }
    assert(bt.nonEmpty)
    assert(bt.forall(p => !p.contains("Window") &&
      !p.contains("CartesianProduct")))
    assert(bt.count(_.contains("BroadcastHashJoin")) >= 4,
      "expected broadcast joins in the per-round executions")
  }

  test("round-7 extension operators keep their scale shape") {
    // quality tiers: bounds BROADCAST back; no window, no corpus-wide
    // sort (the operator exists to replace the global ntile ORDER BY)
    val qt = finalPlan(df("qp_quality_tiers"))
    assert(qt.contains("BroadcastHashJoin"), qt)
    assert(!qt.contains("Window"), qt)
    // substring search: the posting scan must prune to the needle's
    // bucket directories at PLANNING time
    val ss = df("qp_substring_search")
    val ssPlan = finalPlan(ss)
    assert(ssPlan.contains("PartitionFilters") &&
      ssPlan.contains("__bkt"), ssPlan)
    // (bitext mining materializes through localCheckpoint, so its
    // internal persist/broadcast shape is not post-hoc visible — its
    // scale contract is the bruteForceTopK/rankTopKBy machinery
    // already pinned above)
    // soft dedup: the weight join-back is id-keyed, never a window
    val sd = finalPlan(df("qp_soft_dedup"))
    assert(!sd.contains("Window"), sd)
  }

  test("round-8 extension operators keep their scale shape") {
    // frequent itemsets: the within-basket self-join is an equi-join
    // on the basket key, never a cartesian; counts partial-combine
    val fi = finalPlan(df("q_freq_itemsets"))
    assert(!fi.contains("CartesianProduct"), fi)
    assert(fi.contains("partial_count"), fi)
    // DBSCAN: candidate generation is an equi-join on cell keys (the
    // 3x3 grid block), never an all-pairs product
    val db = finalPlan(df("qp_dbscan"))
    assert(!db.contains("CartesianProduct") &&
      !db.contains("BroadcastNestedLoopJoin"), db)
    // CUSUM / EWMA: per-type stats come back as a BROADCAST join onto
    // the aggregated bucket frame (the rateSpikes shape)
    val cu = finalPlan(df("q_cusum_shift"))
    assert(cu.contains("BroadcastHashJoin"), cu)
    val ew = finalPlan(df("q_ewma_forecast"))
    assert(ew.contains("BroadcastHashJoin") && !ew.contains("Window"), ew)
    // PMI: both count passes partial-combine before their shuffles
    val pm = finalPlan(df("qp_pmi_bigrams"))
    assert(pm.contains("partial_count"), pm)
  }

  test("round-8b operators keep their scale shape") {
    // skyline: the corpus-sized stage is a partial-agg groupBy(cost);
    // the unpartitioned prefix-max window only ever sees the
    // aggregated distinct-cost frame; the survivor set comes back as
    // a semi-join, never a nested-loop dominance check
    val sk = finalPlan(df("q_skyline"))
    assert(sk.contains("partial_max") && sk.contains("LeftSemi"), sk)
    assert(!sk.contains("CartesianProduct") &&
      !sk.contains("BroadcastNestedLoopJoin"), sk)
    // seasonality: per-type totals broadcast onto the aggregated
    // (type, dow) frame; no windows anywhere
    val sd = finalPlan(df("q_seasonal_dow"))
    assert(sd.contains("BroadcastHashJoin") && !sd.contains("Window"), sd)
    // RAKE: its result hides behind localCheckpoint, so capture the
    // executions it triggers — the scoring pass must partial-combine
    // and NO captured plan may contain a per-doc window
    val rk = capturedPlans { df("qp_rake_phrases").collect() }
    assert(rk.exists(_.contains("partial_count")), rk.mkString("\n---\n"))
    assert(rk.forall(!_.contains("Window")), rk.mkString("\n---\n"))
    // Jaccard links: the wedge join is equi-keyed on dst
    val jl = finalPlan(df("qg_jaccard_links"))
    assert(!jl.contains("CartesianProduct") &&
      !jl.contains("BroadcastNestedLoopJoin"), jl)
    // Gini: the supplier dim broadcasts; the rank window runs ABOVE
    // the first aggregate (member totals), never on raw lineitem
    val gi = df("q_gini_suppliers").queryExecution.optimizedPlan.toString
    assert(gi.contains("Window"), gi)
    assert(gi.indexOf("Aggregate", gi.indexOf("Window")) > 0,
      "the rank window must sit above the member-total aggregate\n" + gi)
    val gip = finalPlan(df("q_gini_suppliers"))
    assert(gip.contains("BroadcastHashJoin"), gip)
    // Benford: expectation table is a literal expression — exactly one
    // join (the per-group total broadcast), no second join for exp
    val bf = finalPlan(df("q_benford"))
    assert(bf.contains("BroadcastHashJoin") && !bf.contains("Window"), bf)
    // trend test: the pairwise join is equi-keyed on the group and the
    // windows ride the aggregated bucket frame (plans captured through
    // the checkpoint)
    val tt = capturedPlans { df("q_trend_test").collect() }
    assert(tt.exists(_.contains("partial_count")), tt.mkString("\n---\n"))
    assert(tt.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin")), tt.mkString("\n---\n"))
    // table profile: the stack is a projection feeding partial aggs on
    // the column key — no per-column distinct shuffle, no nested loop
    val pf = capturedPlans { df("q_profile").collect() }
    assert(pf.exists(_.contains("partial_count")), pf.mkString("\n---\n"))
    assert(pf.exists(_.contains("bottom_k_distinct")),
      pf.mkString("\n---\n"))
    assert(pf.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin")), pf.mkString("\n---\n"))
    // TextRank: every round is an equi-join + partial agg on the word
    // key; nothing nested-loops and nothing windows
    val tr = capturedPlans { df("qp_textrank").collect() }
    assert(tr.exists(_.contains("partial_sum")), tr.mkString("\n---\n"))
    assert(tr.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("Window")),
      tr.mkString("\n---\n"))
  }

  test("round-8c operators keep their scale shape") {
    // hyperball: the packed register max-merge partial-combines every
    // round (register_max is a mergeable TypedImperativeAggregate);
    // nothing nested-loops — the only window rides the rounds+1-row
    // close frame
    val hb = capturedPlans { df("qg_hyperball").collect() }
    assert(hb.exists(p => p.contains("partial_register_max") ||
      p.contains("register_max")), hb.mkString("\n---\n"))
    assert(hb.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin")), hb.mkString("\n---\n"))
    // node2vec: successor election partial-combines (min) and the
    // cumulative-weight window is keyed per (start, walk) — the plan
    // text must carry the start column in the window spec
    val nv = capturedPlans { df("qg_node2vec").collect() }
    assert(nv.exists(_.contains("partial_min")), nv.mkString("\n---\n"))
    assert(nv.exists(p => p.contains("Window") && p.contains("start#")),
      nv.mkString("\n---\n"))
    // attribution: the running-last window is per-user (partition key
    // __u in the spec), never a global event sort
    val at = df("q_attribution").queryExecution.optimizedPlan.toString
    assert(at.contains("Window") && at.contains("__u#"), at)
    // chi-square: marginals broadcast onto the cell frame; the cell
    // reduction partial-combines
    val cs = finalPlan(df("q_chi_square"))
    assert(cs.contains("BroadcastHashJoin") &&
      cs.contains("partial_count"), cs)
    // mann-whitney: the rank window sits ABOVE the distinct-value
    // aggregate, never on the raw corpus
    val mw = df("q_mann_whitney").queryExecution.optimizedPlan.toString
    assert(mw.contains("Window"), mw)
    assert(mw.indexOf("Aggregate", mw.indexOf("Window")) > 0,
      "the rank window must ride the aggregated value frame\n" + mw)
    // OLS: one partial-agg pass, no shuffle beyond the 1-row merge
    val ol = finalPlan(df("q_ols_fit"))
    assert(ol.contains("partial_count") && !ol.contains("Window"), ol)
    // temporal reach / weighted pagerank: per-round equi-join +
    // partial agg, nothing nested-loops
    val trh = capturedPlans { df("qg_temporal_reach").collect() }
    assert(trh.exists(_.contains("partial_min")), trh.mkString("\n---\n"))
    assert(trh.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin")), trh.mkString("\n---\n"))
    val wp = capturedPlans { df("qg_pagerank_weighted").collect() }
    assert(wp.exists(_.contains("partial_sum")), wp.mkString("\n---\n"))
    assert(wp.forall(p => !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin")), wp.mkString("\n---\n"))
    // FD discovery: each pair reduces through a partial-agg cell
    // groupBy; the distinct count rides the cell frame (a second
    // Aggregate above the first), never the corpus
    val fd = finalPlan(df("q_fd_discover"))
    assert(fd.contains("partial_count"), fd)
    // histogram: bin assignment is a projection over the broadcast
    // min/max; the bin groupBy partial-combines
    val hg = finalPlan(df("q_histogram"))
    assert(hg.contains("partial_count") && !hg.contains("Window"), hg)
  }

  test("indexed CONTAINSTEXT probes the posting table, not the corpus") {
    // fresh sessions: the shared cached dialect session may already
    // carry the index after EntrySmokeSpec ran qd_containstext_idx
    val q = "select doc_id from documents " +
      "where text containstext 'spark stream' order by doc_id"
    val plainS = graft.engine.GraftSession.forTestdata(spark, sf)
    val plain = plainS.query(q)
    // unindexed plan re-tokenizes the text column per row (forall over
    // tokens); the indexed plan must instead semi-join the posting
    // table and carry NO per-row tokenizer anywhere
    assert(plain.queryExecution.optimizedPlan.toString.contains("forall"))
    val idxS = graft.engine.GraftSession.forTestdata(spark, sf)
    idxS.command("create index documents.text fulltext")
    val idx = idxS.query(q)
    val opt = idx.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"), opt)
    assert(!opt.contains("forall"), opt)
    // and both paths agree on the result
    assert(idx.collect().map(_.getLong(0)).toSeq ==
      plain.collect().map(_.getLong(0)).toSeq)
    idxS.command("remove index documents.text") // unpersist the posting
  }

  test("indexed BM25 probes scored postings — no query-time tokenize") {
    import graft.ops.TextOps
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val idx = TextOps.bm25BuildIndex(docs, "doc_id", "text")
    val probe = TextOps.bm25TopKIndexed(idx, "doc_id",
      Seq("spark", "stream", "join"), k = 10)
    // the probe plan must carry NO generator (explode) and no
    // tokenizer — index build paid the one corpus pass already. Node
    // collection stops at the InMemoryRelation leaf, so the cached
    // BUILD pipeline (which legitimately tokenized once) is excluded
    // while anything the QUERY would execute is covered.
    val opt = probe.queryExecution.optimizedPlan
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.isEmpty, opt.toString)
    val cached = opt.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.nonEmpty, "probe must read the persisted postings")
    // and the index path reproduces the scan path row for row
    val scan = TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "stream", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = probe
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    idx.release()
    assert(served == scan && scan.nonEmpty)
  }

  test("round-11 operators keep their scale shape") {
    // aligned video near-dup: banded frame-0 candidates + ONE aligned
    // equi-join — never a cross product, and no window (the per-pair
    // verify is a partial-combining max aggregate)
    val vp = finalPlan(df("qp_gif_phash"))
    assert(!vp.contains("CartesianProduct") &&
      !vp.contains("BroadcastNestedLoopJoin"), vp)
    assert(!vp.contains("Window"), vp)
    // the mixed-format JPEG pair gate rides the same banded join
    val jp = finalPlan(df("qp_jpeg_phash"))
    assert(!jp.contains("CartesianProduct") &&
      !jp.contains("BroadcastNestedLoopJoin"), jp)
    // sequence fingerprints: per-payload map, no join/shuffle at all
    val sf2 = df("qp_gif_sequence").queryExecution.optimizedPlan.toString
    assert(!sf2.contains("Join"), sf2)
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.sources.Tables

/** Storage-hygiene and edge-case guards for the pipeline operators:
  * pair generators must not leak cached frames across calls (a
  * long-lived session would otherwise accumulate executor storage),
  * and degenerate inputs (all-zero vectors, sub-shingle texts) must
  * pass through rather than corrupt results.
  */
class OpsHygieneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  test("coAssignSplits: clusters unify on the min member's split; " +
      "leakage empties; untouched docs keep their split") {
    // hand case: pair (1,2) across splits; chain 3-4-5 spanning three
    // splits collapses onto doc 3's; doc 9 untouched
    val assigned = Seq((1L, "train"), (2L, "test"), (3L, "val"),
      (4L, "train"), (5L, "test"), (9L, "test"))
      .toDF("doc_id", "split")
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Curation.coAssignSplits(assigned, "doc_id", "split",
        pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "train", 2L -> "train", 3L -> "val",
      4L -> "val", 5L -> "val", 9L -> "test"))
    // post-condition on the real corpus: after co-assignment the
    // leakage audit reports NOTHING for the same pair frame
    val d = Tables.load(spark, sf, "documents")
    val p = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8)
      .localCheckpoint()
    val fixed = Curation.coAssignSplits(
      Curation.trainValTestSplit(d, "doc_id", "lang")
        .select("doc_id", "split"),
      "doc_id", "split", p, "a_id", "b_id").localCheckpoint()
    assert(Curation.splitLeakage(fixed, "doc_id", "split", p,
      "a_id", "b_id").isEmpty)
    // partitioning invariance
    val p7 = Curation.coAssignSplits(assigned.repartition(7),
        "doc_id", "split", pairs.repartition(3), "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(p7 == got)
  }

  test("minhashPairs leaves no cached frames behind") {
    // the session is shared across specs (TradeGraph caches edges);
    // start from a clean slate so isEmpty is order-independent
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8).count()
    Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pair generation must unpersist its bucket cache")
  }

  test("ngramJaccardPairs leaves no cached frames behind") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    Dedup.ngramJaccardPairs(d, "doc_id", "text",
      blockCols = Seq("lang"), threshold = 0.8).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "pair generation must unpersist its shingle-set cache")
  }

  test("shingle-less docs are excluded from minhash band buckets") {
    // N empty/short docs must contribute ZERO bucket rows — concat_ws
    // skips null signature slices, so keeping them would collapse all
    // of them into the same `bands` degenerate keys and candidate
    // generation would go quadratic in their count on dirty corpora
    val n = 500
    val docs = ((1 to n).map(i => (i.toLong, "ab")) ++
      Seq((9001L, "the corpus document text"),
        (9002L, "the corpus document text!")))
      .toDF("doc_id", "text")
    val buckets = Dedup.bandBuckets(docs, "doc_id", "text",
      shingleN = 4, bands = 4)
    // bucket rows grow O(bands × docs-with-signatures), not O(N):
    // exactly 4 bands × 2 real docs here, nothing from the 500 shorts
    assert(buckets.count() == 8)
    assert(buckets.filter(col("__id") <= n).count() == 0)
    // and the verified pair output is unaffected (the real near-dup
    // pair survives; shorts produce nothing)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((9001L, 9002L)))
  }

  test("nearDupClusters collapses a diameter-10 chain into one cluster") {
    spark.catalog.clearCache()
    // a chain 1-2-3-...-10 has diameter 9: a fixed 6-round horizon
    // silently under-merges it into several "clusters"; convergence
    // detection must collapse it to ONE with the min id as survivor.
    // The 120-node chain is deeper than any fixed round cap a label
    // loop might carry (a 50-round cap leaves 70 clusters)
    for (n <- Seq(10L, 120L)) {
      val chain = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
      val out = Dedup.nearDupClusters(chain, "a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(out.toSeq == Seq((1L, n)), s"chain of $n")
    }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("qp_dedup_clusters oracle horizon covers the gate corpus") {
    // the DuckDB oracle unrolls EXACTLY 10 label-propagation rounds
    // (QueriesPipeline qp_dedup_clusters) while the Spark side labels
    // components to their fixpoint — they agree only while the gate
    // corpus's propagation depth stays ≤ 10. Replay the oracle's 10
    // synchronous min-label rounds on the driver over the same pairs
    // the oracle builds (sf0.01, the corpus the driver gates on): with
    // min-labels, the 10-round labels equal the fixpoint exactly when
    // no label would still move in round 11, so a longer near-dup
    // chain in future data fails HERE, not as a silent oracle hash
    // mismatch.
    val d = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .withColumn("__lb", floor(col("n_chars") / 20).cast("int"))
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
      blockCols = Seq("lang", "__lb"), threshold = 0.8).localCheckpoint()
    val edges = pairs.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var lbl = adj.keys.map(i => i -> i).toMap
    // SYNCHRONOUS rounds — the oracle's exact update rule
    for (_ <- 1 to 10)
      lbl = lbl.map { case (id, l) => id -> math.min(l, adj(id).map(lbl).min) }
    val converged = Dedup.nearDupLabels(pairs, "a_id", "b_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(converged == lbl,
      "the converged labels differ from the oracle's 10-round unroll: " +
        "raise the unroll in QueriesPipeline qp_dedup_clusters " +
        "alongside this test")
  }

  test("src/main references no GraphX") {
    // every graph operator is a DataFrame plan; GraphX is a test-scope
    // oracle only (graft.graph.GraphXRef)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val st = Files.walk(root)
    val files = try st.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList finally st.close()
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val hits = files.filter(
      Files.readString(_).contains("org.apache.spark.graphx"))
    assert(hits.isEmpty, s"GraphX referenced from src/main: $hits")
  }

  test("src/main reads no environment outside the entry points") {
    // an operator tuned by an environment variable is a knob no caller
    // can see; only the CLI mains and the session factory read the env
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing $root")
    val st = Files.walk(root)
    val files = try st.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .toList finally st.close()
    assert(files.size > 50, s"only ${files.size} sources under $root")
    val entryPoints = Set("Bench.scala", "PlanDump.scala", "Sessions.scala")
    val hits = files
      .filterNot(f => entryPoints(f.getFileName.toString))
      .filter { f =>
        val src = Files.readString(f)
        src.contains("sys.env") || src.contains("System.getenv")
      }
    assert(hits.isEmpty, s"environment read outside the entry points: $hits")
  }

  test("nearDupClusters leaves no cached frames behind") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("a_id", "b_id")
    val clusters = Dedup.nearDupClusters(pairs, "a_id", "b_id")
      .orderBy("cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // {1,2,3} labels to 1, {10,11} labels to 10
    assert(clusters == Seq((1L, 3L), (10L, 2L)))
    assert(spark.sharedState.cacheManager.isEmpty,
      "nearDupClusters must unpersist its edge cache")
  }

  test("pageRankDF leaves no cached frames behind at 10 iterations") {
    spark.catalog.clearCache()
    val v = Seq(1L, 2L, 3L).toDF("id")
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val ranks = graft.graph.GraphOps.pageRankDF(v, e, iters = 10)
    // symmetric cycle: every vertex converges toward rank 1.0
    assert(ranks.collect().forall(r => math.abs(r.getDouble(1) - 1.0) < 0.01))
    assert(spark.sharedState.cacheManager.isEmpty,
      "pageRankDF must unpersist its loop-invariant contrib cache")
    // the weighted core and the four bounded-BFS operators drop their
    // contrib / adjacency caches too
    import graft.graph.GraphOps._
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "weightedPageRankDF" -> (() =>
        weightedPageRankDF(v, e.withColumn("w", lit(2L)), iters = 4)),
      "shortestHops" -> (() => shortestHops(v, e, Seq(1L), maxHops = 2)),
      "harmonicCentralityDF" -> (() => harmonicCentralityDF(e, Seq(1L), 2)),
      "closenessCentralityDF" -> (() =>
        closenessCentralityDF(e, Seq(1L), 2)),
      "betweennessDF" -> (() => betweennessDF(e, Seq(1L), 2)))
    ops.foreach { case (name, run) =>
      run().collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name must unpersist its loop-invariant cache")
    }
  }

  test("bm25TopK leaves no cached frames behind and tokenizes once") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    val top = TextOps.bm25TopK(d, "doc_id", "text",
      terms = Seq("spark", "stream", "join"), k = 5)
    assert(top.count() == 5)
    // every returned doc actually contains at least one query term
    val ids = top.collect().map(_.getLong(0)).toSet
    val hits = d.filter(col("doc_id").isin(ids.toSeq: _*))
      .collect().map(_.getAs[String]("text").toLowerCase)
    assert(hits.forall(t => Seq("spark", "stream", "join")
      .exists(q => t.split("\\s+").contains(q))))
    assert(spark.sharedState.cacheManager.isEmpty,
      "bm25TopK must unpersist its per-doc aggregate")
  }

  test("sharedWindowCounts handles a pathologically shared span without a span-key window") {
    spark.catalog.clearCache()
    val w = 8
    // 12-token boilerplate span injected into HALF the docs — the
    // 100 TB skew case (site boilerplate shared by millions of pages).
    // Every other token carries the doc id, so only the 12-8+1 = 5
    // windows fully inside the boilerplate are cross-doc shared.
    val boiler = (1 to 12).map(j => s"boiler$j").mkString(" ")
    val docs = (0 until 200).map { i =>
      val unique = (0 until 10).map(j => s"t${i}x$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$unique $boiler" else unique)
    }.toDF("doc_id", "text")
    val got = Dedup.sharedWindowCounts(docs, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 200 by 2).forall(i => got.get(i.toLong).contains(5L)),
      "every boilerplate doc shares exactly the 5 in-span windows")
    assert((1 until 200 by 2).forall(i => !got.contains(i.toLong)),
      "unique docs share nothing")
    assert(spark.sharedState.cacheManager.isEmpty,
      "sharedWindowCounts must unpersist its window-key cache")
    // plan pin: the hot span key must go through a partial-aggregated
    // groupBy + skew-splittable join, NEVER a window exec partitioned
    // by the span key (which puts the whole span in one task)
    val wins = Dedup.sharedWindowKeys(docs, "doc_id", "text", w)
    val plan = Dedup.attributeSharedSpans(wins, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(__s1"),
      "span count must not use a window partitioned by the span key")
    assert(plan.contains("partial_count"),
      "span count must partial-aggregate map-side")
  }

  test("winnowing guarantee: any long-enough shared substring shares a fingerprint") {
    // MOSS guarantee: w=8 windows over 4-char shingles catch every
    // match of >= w + n - 1 = 11 chars. Plant a 24-char run from doc
    // 1 inside unrelated junk in doc 2 — their fingerprint HASH sets
    // must intersect; a third doc with no overlap must not.
    val shared = "the quick brown flux jum"
    val docs = Seq(
      (1L, s"completely unrelated prefix $shared and a different tail"),
      (2L, s"zzzz qqqq $shared wwww kkkk"),
      (3L, "nothing in common here at all with anything else"))
      .toDF("id", "text")
    val fp = TextOps.winnowFingerprints(docs, "id", "text", w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val f1 = fp.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fp.filter(_._1 == 2L).map(_._2).toSet
    val f3 = fp.filter(_._1 == 3L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "planted 24-char overlap must be caught")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty)
    // density: at most one fingerprint per window end
    assert(fp.length <= fp.map(_._1).distinct.map(id =>
      docs.filter(col("id") === id).select(length(col("text")))
        .head().getInt(0)).sum)
    // partitioning invariance (the election is a set property)
    val fpRepart = TextOps.winnowFingerprints(
        docs.repartition(5), "id", "text", w = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val fpBase = TextOps.winnowFingerprints(docs, "id", "text", w = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(fpRepart == fpBase)
  }

  test("mmrSelect trades relevance for diversity") {
    // candidates: two near-identical high-relevance vectors (1,2) and
    // one orthogonal lower-relevance vector (3). Pure relevance ranks
    // (1, 2, 3); MMR at lambda 0.5 must demote the redundant twin and
    // pick the orthogonal doc second.
    val cand = Seq(
      (1L, Seq(1.0, 0.0, 0.01), 0.99),
      (2L, Seq(1.0, 0.0, 0.02), 0.98),
      (3L, Seq(0.0, 1.0, 0.0), 0.5)).toDF("id", "v", "rel")
    val got = Similarity.mmrSelect(cand, "id", "v", "rel",
        k = 3, lambda = 0.5)
      .orderBy("rnk").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == Seq((1, 1L), (2, 3L), (3, 2L)))
    // and at lambda 1.0 (pure relevance) the original order returns
    val rel = Similarity.mmrSelect(cand, "id", "v", "rel",
        k = 3, lambda = 1.0)
      .orderBy("rnk").collect().map(_.getLong(1))
    assert(rel.toSeq == Seq(1L, 2L, 3L))
  }

  test("mmrSelect rejects an unbounded candidate frame") {
    // the bounded-head contract is self-enforcing: a frame wider than
    // maxCandidates fails loudly (after fetching at most max+1 rows)
    // instead of materializing a corpus on the driver
    val wide = spark.range(0, 50).select(col("id"),
      array(lit(1.0), col("id").cast("double")).as("v"),
      lit(0.5).as("rel"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(wide, "id", "v", "rel",
        k = 3, lambda = 0.5, maxCandidates = 10)
    }
    assert(ex.getMessage.contains("maxCandidates"))
    // and a frame AT the bound still works unchanged
    val ok = Similarity.mmrSelect(wide.limit(10), "id", "v", "rel",
      k = 2, lambda = 0.5, maxCandidates = 10)
    assert(ok.count() == 2)
  }

  test("asofJoin matches the latest right ROW even when its value is null") {
    val left = Seq((1L, 100L, "p1"), (1L, 50L, "p0"), (2L, 10L, "p2"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 20L, Some(5.0)), (1L, 80L, None: Option[Double]))
      .toDF("k", "ts", "v")
    val out = AsOf.asofJoin(left, right, "k", "ts", "v", "asof_v")
      .orderBy("k", "ts").collect()
    // (1,50) matches the ts=20 row -> 5.0; (1,100) matches the ts=80
    // row whose value is NULL (no fall-back to 5.0); (2,10) unmatched
    assert(out.map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(3)))).toSeq == Seq(
      (1L, 50L, Some(5.0)), (1L, 100L, None), (2L, 10L, None)))
  }

  test("quantizeInt8 handles all-zero vectors without NaN") {
    val df = Seq((1L, Seq(0.0, 0.0, 0.0)), (2L, Seq(1.0, -2.0, 0.5)))
      .toDF("id", "v")
      .withColumn("q", Similarity.quantizeInt8(col("v")))
      .withColumn("dq", Similarity.dequantize(col("q")))
    val rows = df.orderBy("id").collect()
    val zeroQ = rows(0).getStruct(2)
    assert(zeroQ.getDouble(0) == 0.0)
    assert(zeroQ.getSeq[Int](1) == Seq(0, 0, 0))
    assert(rows(0).getSeq[Double](3) == Seq(0.0, 0.0, 0.0))
    // non-zero vector still round-trips within scale/2 per element
    val scale = rows(1).getStruct(2).getDouble(0)
    rows(1).getSeq[Double](3).zip(Seq(1.0, -2.0, 0.5)).foreach {
      case (dq, orig) => assert(math.abs(dq - orig) <= scale / 2 + 1e-12)
    }
  }

  test("short texts get null minhash signature and survive streaming dedup") {
    val corpus = Seq((1L, "ab"), (2L, "the corpus document text"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, "xy"), (11L, "zz"),
      (12L, "the corpus document text"), (13L, "a genuinely new document"))
      .toDF("doc_id", "text")
    val sig = corpus.select(Dedup.signatureExpr(col("text")).as("s"))
      .collect().map(r => Option(r.getString(0)))
    assert(sig(0).isEmpty, "sub-shingle text must yield null signature")
    assert(sig(1).nonEmpty)
    val kept = Dedup.streamingNearDupFilter(incoming, corpus, "text")
      .select("doc_id").as[Long].collect().sorted
    // 12 is an exact dup of corpus doc 2; both short docs must survive
    assert(kept.toSeq == Seq(10L, 11L, 13L))
  }

  test("ppsSample: exact n per stratum, partitioning-invariant, PPS-biased") {
    // two strata: "u" uniform weights, "s" skewed (row weight = id)
    val df = ((1 to 400).map(i => (i.toLong, "u", 10L)) ++
      (1 to 400).map(i => (1000L + i, "s", i.toLong))).toDF("id", "g", "w")
    def ids(parts: Int): Seq[Long] =
      Curation.ppsSample(df.repartition(parts), "id", "g", "w", n = 40)
        .select("id").as[Long].collect().sorted.toSeq
    val a = ids(2)
    assert(a == ids(17), "task layout changed the sample")
    val (uni, skw) = a.partition(_ < 1000L)
    // uniform weights: the sweep crosses every multiple in a distinct
    // row — exactly n selected
    assert(uni.size == 40)
    assert(skw.size <= 40 && skw.size >= 30)
    // PPS bias: heavy rows (id > 200 half, carrying 75% of the mass)
    // must dominate the skewed stratum's sample
    val heavy = skw.count(_ > 1200L)
    assert(heavy > skw.size / 2,
      s"heavy half underrepresented: $heavy of ${skw.size}")
  }

  test("chunkDocs: overlap, short docs, exact multiples, coverage") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 2 chunks
      (2L, (1 to 7).map(i => s"t$i").mkString(" ")),  // short: 1 chunk
      (3L, (1 to 35).map(i => s"t$i").mkString(" ")), // exact 20+15
      (4L, ""))                                       // token-less: none
      .toDF("doc_id", "text")
    val got = Curation.chunkDocs(docs, "doc_id", "text", 20, 5)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byDoc = got.groupBy(_._1)
    assert(!byDoc.contains(4L))
    assert(byDoc(2L).map(_._4).toSeq == Seq(7L))
    // doc 1: chunk 0 = t1..t20, chunk 1 = t16..t25 (5-token overlap)
    assert(byDoc(1L).map(_._2).toSeq == Seq(0L, 1L))
    assert(byDoc(1L)(0)._3.endsWith("t20") && byDoc(1L)(1)._3.startsWith("t16"))
    assert(byDoc(1L)(1)._4 == 10L)
    // doc 3 (n=35): starts 0 and 15 cover all 35 tokens, no third chunk
    assert(byDoc(3L).map(_._4).toSeq == Seq(20L, 20L))
    // every token appears in at least one of its doc's chunks
    val covered = byDoc(1L).flatMap(_._3.split(" ")).toSet
    assert((1 to 25).forall(i => covered.contains(s"t$i")))
  }

  test("qualityGate trips each Gopher rule independently") {
    val good = ("the quick brown fox jumps over a lazy dog and then " +
      "runs far into the deep green woods to rest on soft moss for " +
      "a long while before it turns back home past the old mill and " +
      "keeps going on and on with more of these plain common words " +
      "that keep the meaning simple and the sentences easy to read")
    val docs = Seq(
      (1L, good),                                    // passes all rules
      (2L, "too short to pass"),                     // word count
      (3L, Seq.fill(60)("x").mkString(" ")),         // mean len < 3 + stops
      (4L, Seq.fill(30)("the dog barks").mkString(" "))) // repetition
      .toDF("doc_id", "text")
    val got = TextOps.qualityGate(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getInt(6)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0))
  }

  test("fuzzyMatchTop1 equals brute-force levenshtein<=1 on the corpus vocab") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(graft.ops.TextOps.tokensWs(col("text"))).as("tok"))
      .distinct().persist()
    val queries = toks.filter(length(col("tok")) >= 5)
      .orderBy("tok").limit(8)
      .select(concat(substring(col("tok"), 1, 2),
        expr("substring(tok, 4)")).as("q"))
    val got = Fuzzy.fuzzyMatchTop1(queries, "q", toks, "tok")
      .as[(String, String, Int)].collect().toSet
    // brute force: all (q, tok) pairs, min (dist, tok) per q
    val vocab = toks.as[String].collect()
    val brute = queries.distinct().as[String].collect().flatMap { q =>
      val best = vocab.map(v =>
          (org.apache.commons.text.similarity.LevenshteinDistance
            .getDefaultInstance.apply(q, v).intValue, v))
        .filter(_._1 <= 1)
      if (best.isEmpty) None else Some {
        val (d, v) = best.min
        (q, v, d)
      }
    }.toSet
    toks.unpersist()
    assert(got == brute)
  }

  test("deleteKeys: empty and single-char strings are safe") {
    val got = Seq("", "a", "ab").toDF("s")
      .select(col("s"), Fuzzy.deleteKeys(col("s")).as("k"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet)
      .toMap
    assert(got("") == Set(""))
    assert(got("a") == Set("a", ""))
    assert(got("ab") == Set("ab", "a", "b"))
  }

  test("c4LineRules: each rule trips independently; one keeper per duplicate line") {
    // lineTokens=4 → re-line after every 4 tokens; minWords=3, minKept=2
    val boiler = "all rights reserved now"     // will repeat across docs
    val docs = Seq(
      (1L, s"alpha beta gamma delta $boiler one two three four"),
      // same boilerplate line again (doc 1 pos 1 is the keeper),
      // plus a short tail line and a blocklisted line
      (2L, s"$boiler bad slow words here tail"),
      (3L, "clean first line here clean second line too"))
      .toDF("doc_id", "text")
    val got = Curation.c4LineRules(docs, "doc_id", "text",
        lineTokens = 4, blocklist = Seq("slow"),
        minWordsPerLine = 3, minKeptLines = 2)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getInt(6)))
      .toMap
    // doc1: 3 lines (alpha.., boiler, one..) — all kept (keeper wins)
    assert(got(1L) == (3L, 0L, 0L, 0L, 3L, 1))
    // doc2: 3 lines — boiler dup (non-keeper), "bad slow words here"
    // blocked, "tail" short → 0 kept, fails
    assert(got(2L) == (3L, 1L, 1L, 1L, 0L, 0))
    // doc3: 2 clean lines → passes
    assert(got(3L) == (2L, 0L, 0L, 0L, 2L, 1))
  }

  test("c4LineRules leaves no cached frames behind") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    Curation.c4LineRules(d, "doc_id", "text").count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "c4LineRules must unpersist its line cache")
  }

  test("ppjoinPairs equals brute-force all-pairs Jaccard (no false negatives)") {
    val d = Tables.load(spark, sf, "documents")
    val got = Dedup.ppjoinPairs(d, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // brute-force model: distinct hashed shingle sets, all pairs
    val sets = d.select(col("doc_id"),
        graft.ops.TextOps.charShingles(col("text"), 4).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        array_distinct(transform(col("sh"),
          s => graft.ops.TextOps.hash60(s))).as("sh"))
    val a = sets.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    val brute = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("i").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jac") >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
    // one verify behind every generator: n-gram Jaccard over ONE
    // constant block returns ppjoin's exact (a_id, b_id, jac) rows, and
    // every MinHash row is a ppjoin row with the same jac
    def rows(p: org.apache.spark.sql.DataFrame) =
      p.select("a_id", "b_id", "jac").as[(Long, Long, Double)]
        .collect().toSet
    val exact = rows(Dedup.ppjoinPairs(d, "doc_id", "text", 0.8))
    assert(exact.nonEmpty)
    assert(rows(Dedup.ngramJaccardPairs(d.withColumn("__one", lit(1)),
      "doc_id", "text", Seq("__one"), 0.8)) == exact)
    val lsh = rows(Dedup.minhashPairs(d, "doc_id", "text", 0.8))
    assert(lsh.nonEmpty && lsh.subsetOf(exact))
  }

  test("ppjoinPairs leaves no cached frames behind") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    Dedup.ppjoinPairs(d, "doc_id", "text", threshold = 0.8).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "ppjoinPairs must unpersist its shingle cache")
  }

  test("ppjoinPairsBlocked equals brute-force Jaccard WITHIN blocks") {
    val d = Tables.load(spark, sf, "documents")
    val got = Dedup.ppjoinPairsBlocked(d, "doc_id", "text",
        blockCols = Seq("lang"), threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // brute-force model restricted to same-block pairs: the blocked
    // join's exactness contract is no-false-negatives INSIDE blocks
    val sets = d.select(col("doc_id"), col("lang"),
        graft.ops.TextOps.charShingles(col("text"), 4).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("lang"),
        array_distinct(transform(col("sh"),
          s => graft.ops.TextOps.hash60(s))).as("sh"))
    val a = sets.select(col("doc_id").as("a_id"), col("lang"),
      col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("b_id"),
      col("lang").as("__lb"), col("sh").as("sb"))
    val brute = a.join(b, col("lang") === col("__lb") &&
        col("a_id") < col("b_id"))
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("i").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jac") >= 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
    // and every blocked pair is an unblocked pair (restriction, never
    // an addition): block-local rarity reorders prefixes but the
    // verify stage computes the same exact Jaccard
    val unblocked = Dedup.ppjoinPairs(d, "doc_id", "text", 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(unblocked))
  }

  test("ppjoinPairsBlocked leaves no cached frames behind") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
    Dedup.ppjoinPairsBlocked(d, "doc_id", "text", Seq("lang"), 0.8)
      .count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "ppjoinPairsBlocked must unpersist its shingle cache")
  }

  test("qp_ppjoin_blocked finds the 500 planted pairs on the saturated corpus") {
    val d1 = graft.ScaleCorpus.ensure(spark, 1, blocked = true)
    val docs = spark.read.parquet(s"$d1/documents.parquet")
    assert(docs.count() == 5000)
    assert(docs.select(countDistinct(col("lang"))).first().getLong(0)
      == 20, "1x corpus must hold 20 constant-occupancy blocks")
    // the production gate query on the generated dir: at Jaccard >= 0.8
    // the only qualifying pairs on this shape are the planted ones
    // (one appended token over >= 30), n/10 at 5000 docs
    val pairs = graft.SparkEntry.queries("qp_ppjoin_blocked")(spark, d1)
    assert(pairs.count() == 500,
      "expected exactly the 500 planted near-dup pairs")
    assert(pairs.filter(col("jac") < 0.8).count() == 0)
  }

  test("minhashPairs finds the 100 planted pairs in the generated corpus") {
    val d1 = graft.ScaleCorpus.ensure(spark, 1)
    val docs = spark.read.parquet(s"$d1/documents.parquet")
    assert(docs.count() == 5000)
    val stats = docs.agg(avg(length(col("text"))),
      countDistinct(col("lang")), countDistinct(col("source")))
      .collect().head
    assert(stats.getDouble(0) > 150 && stats.getDouble(0) < 600,
      s"doc length out of the sf0.1 band: ${stats.getDouble(0)}")
    assert(stats.getLong(1) == 5 && stats.getLong(2) == 20)
    // every 10th doc pairs with its predecessor: exactly n/10 pairs,
    // and LSH at 0.8 must find them all
    val pairs = Dedup.minhashPairs(
      docs.filter(col("doc_id") < 1000), "doc_id", "text", 0.8)
    assert(pairs.count() == 100,
      "expected exactly the 100 planted near-dup pairs in the 1k slice")
    val embs = spark.read.parquet(s"$d1/embeddings.parquet")
    assert(embs.count() == 2000 &&
      embs.select(size(col("embedding"))).first().getInt(0) == 64)
    graft.ScaleReproSpec.corpusOps.foreach(op =>
      graft.SparkEntry.queries(op)(spark, d1).limit(1).collect())
  }

  test("rrfFuse: consensus beats a better single-system rank; ties break on id") {
    // q=1: doc 11 is rank 2+1 across both systems, doc 10 is a lone
    // rank-1 — RRF puts the consensus doc first (1/62+1/61 > 1/61)
    val r1 = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("q_id", "n_id", "rnk")
    val r2 = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 21L, 1))
      .toDF("q_id", "n_id", "rnk")
    val got = Similarity.rrfFuse(Seq(r1, r2), kc = 60, k = 3)
      .orderBy("q_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 11L, 1), (1L, 10L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2)))
    // q=2: both docs score exactly 1/61 — the tie falls to the lower id
  }

  test("hammingTopK matches the bit-level distance definition") {
    // 40-dim vectors spanning both packed words; signs hand-chosen so
    // distances are computable by eye: q vs a differ in dims {0, 39},
    // q vs b differ in dims 1..5 (5 bits)
    def v(neg: Set[Int]): Array[Double] =
      (0 until 40).map(i => if (neg(i)) -1.0 else 1.0).toArray
    val df = Seq(
      (0L, v(Set.empty[Int])),
      (1L, v(Set(0, 39))),
      (2L, v(Set(1, 2, 3, 4, 5))))
      .toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(df, df.filter($"vec_id" === 0L),
        "vec_id", "embedding", dim = 40, k = 2)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == Seq((1L, 2L, 1), (2L, 5L, 2)))
  }

  test("ppsSample keeps a heavier-than-threshold row exactly once") {
    val df = ((1 to 9).map(i => (i.toLong, "g", 1L)) :+ (99L, "g", 1000L))
      .toDF("id", "g", "w")
    val got = Curation.ppsSample(df, "id", "g", "w", n = 5)
      .select("id").as[Long].collect()
    // the 1000-weight row spans most selection multiples: kept once,
    // never duplicated, so the sample runs short of n
    assert(got.count(_ == 99L) == 1)
    assert(got.length <= 5)
  }

  test("randomProject is linear and keeps pairwise distances in expectation") {
    val rng = new scala.util.Random(3)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian())))
    val mat = Similarity.rademacher(16, 64)
    val proj = Similarity.randomProject(
        vecs.toDF("id", "v"), "id", "v", mat)
      .orderBy("id").collect()
      .map(r => (0 until 16).map(j => r.getDouble(j + 1)).toArray)
    // linearity: proj(a) − proj(b) == proj(a − b) (exact up to the
    // 6-decimal output rounding both paths share)
    val diffIn = vecs(0)._2.zip(vecs(1)._2).map { case (a, b) => a - b }
    val projDiff = Similarity.randomProject(
        Seq((0L, diffIn)).toDF("id", "v"), "id", "v", mat)
      .collect().head
    (0 until 16).foreach { j =>
      assert(math.abs((proj(0)(j) - proj(1)(j)) - projDiff.getDouble(j + 1))
        < 1e-5, s"coordinate $j not linear")
    }
    // JL distance preservation: mean squared-distance distortion over
    // all pairs is small (individual pairs can distort at k=16, the
    // AVERAGE is tightly concentrated)
    val orig = vecs.map(_._2.toArray)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- orig.indices; j <- orig.indices if i < j
    } yield d2(proj(i), proj(j)) / d2(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.15,
      s"mean distance ratio $mean drifted from 1")
  }

  test("sparseCosineTopK: identical docs rank first; df prune; invariant") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // exact copy of 1
      (3L, "alpha beta zeta eta"),    // half overlap with 1/2
      (4L, "theta iota kappa mu"),    // disjoint vocabulary
      (5L, "theta iota kappa nu")     // near-copy of 4
    ).toDF("doc_id", "text")
    val got = TextOps.sparseCosineTopK(docs, "doc_id", "text",
        k = 1, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // duplicates are each other's nearest; disjoint docs never pair
    assert(got(1L) == 2L && got(2L) == 1L)
    assert(got(4L) == 5L && got(5L) == 4L)
    assert(got(3L) == 1L) // tie between 1 and 2 broken by n_id asc
    // cosine of the exact copies is 1
    val cos12 = TextOps.sparseCosineTopK(docs, "doc_id", "text", 1, 5)
      .filter(col("q_id") === 1).collect().head.getDouble(2)
    assert(cos12 == 1.0)
    // maxDf prune: with "alpha" in 3 docs, maxDf = 2 removes it from
    // scoring entirely (no pair may rely on a pruned term)
    val pruned = TextOps.sparseCosineTopK(
      Seq((1L, "alpha solo1"), (2L, "alpha solo2"), (3L, "alpha solo3"))
        .toDF("doc_id", "text"), "doc_id", "text", k = 1, maxDf = 2)
    assert(pruned.count() == 0,
      "pairs must vanish when the only shared term is df-pruned")
    // partitioning invariance (fixed-point weights, order-free sums)
    val r1 = TextOps.sparseCosineTopK(docs.repartition(1), "doc_id",
      "text", 2, 5).orderBy("q_id", "rnk").collect().toSeq
    val r7 = TextOps.sparseCosineTopK(docs.repartition(7), "doc_id",
      "text", 2, 5).orderBy("q_id", "rnk").collect().toSeq
    assert(r1 == r7)
  }

  test("unigramSegment: coverage, vocab preference, UNK fallback") {
    // "abab" is frequent enough that the whole word enters the seed
    // vocab and beats any multi-piece split (ln p(abab) > 2·ln p(ab))
    val docs = (1L to 20L).map(i => (i, "abab abab abab"))
      .toDF("doc_id", "text")
    val got = TextOps.unigramSegment(docs, "doc_id", "text",
      vocabSize = 50, topWords = 5).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      // every segmentation reassembles its word exactly
      assert(r.getString(3).replace(" ", "") == r.getString(0))
    }
    assert(got.head.getString(0) == "abab")
    assert(got.head.getString(3) == "abab",
      s"whole-word vocab piece must win, got '${got.head.getString(3)}'")
    // UNK fallback: chars never seen in the vocab still segment, and
    // the cost carries the per-char penalty
    val rare = (1L to 20L).map(i => (i, "abab")).toDF("doc_id", "text")
      .unionByName(Seq((21L, "abab xyq")).toDF("doc_id", "text"))
    val seg = TextOps.unigramSegment(rare, "doc_id", "text",
      vocabSize = 4, topWords = 10).collect()
      .map(r => (r.getString(0), r.getString(3))).toMap
    assert(seg("xyq").replace(" ", "") == "xyq")
    // partitioning invariance of the full output
    val docs2 = Tables.load(spark, sf, "documents")
    val a = TextOps.unigramSegment(docs2.repartition(1), "doc_id",
      "text", topWords = 10).collect().toSeq
    val b = TextOps.unigramSegment(docs2.repartition(13), "doc_id",
      "text", topWords = 10).collect().toSeq
    assert(a == b)
  }

  test("wordpieceSegment: longest match, ## continuations, whole-word UNK") {
    // frequent "abab": the whole word enters the vocab and greedy
    // longest-match takes it in one piece
    val docs = (1L to 20L).map(i => (i, "abab abab abab"))
      .toDF("doc_id", "text")
    val got = TextOps.wordpieceSegment(docs, "doc_id", "text",
      vocabSize = 50, topWords = 5).collect()
    assert(got.head.getString(0) == "abab" && got.head.getString(2) == "abab")
    // continuation pieces carry the ## prefix and reassemble the word
    val long = (1L to 20L).map(i => (i, "ababab")).toDF("doc_id", "text")
    val seg6 = TextOps.wordpieceSegment(long, "doc_id", "text",
      vocabSize = 50, maxPieceLen = 4, topWords = 3).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    val s = seg6("ababab")
    assert(s.split(" ").drop(1).forall(_.startsWith("##")),
      s"continuations must be ##-prefixed, got '$s'")
    assert(s.replace(" ", "").replace("##", "") == "ababab")
    // BERT rule: one unmatchable position degrades the WHOLE word.
    // Hand-ranked seed for {abab×20, ababx×1}: ##b=42, then the
    // 21-count keys in key order (##a ##ab ##ba ##bab a ab aba abab)
    // — vocabSize=9 admits 'abab' but NOT the count-1 '##x', so
    // "ababx" fails at its last position and is [UNK] in full
    val rare = (1L to 20L).map(i => (i, "abab"))
      .toDF("doc_id", "text")
      .unionByName(Seq((21L, "ababx")).toDF("doc_id", "text"))
    val segU = TextOps.wordpieceSegment(rare, "doc_id", "text",
      vocabSize = 9, topWords = 10).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(segU("ababx") == "[UNK]")
    assert(segU("abab") == "abab")
    // partitioning invariance of the full output
    val docs2 = Tables.load(spark, sf, "documents")
    val a = TextOps.wordpieceSegment(docs2.repartition(1), "doc_id",
      "text", topWords = 10).collect().toSeq
    val b = TextOps.wordpieceSegment(docs2.repartition(13), "doc_id",
      "text", topWords = 10).collect().toSeq
    assert(a == b)
  }

  test("rateSpikes: planted burst flags, flat stream stays silent") {
    def ts(hour: Long, i: Long) =
      new java.sql.Timestamp(hour * 3600000L + i)
    // type 'a': 19 calm hours of 10 events + one 100-event burst
    // (max one-outlier z at n buckets is (n−1)/√n, so 10 buckets
    // can never clear 3σ — 20 give z ≈ 4.25); type 'b' is perfectly
    // flat — its variance is 0 and the NaN guard must keep it silent
    val rows =
      (0L until 19L).flatMap(h => (0L until 10L).map(i => (ts(h, i), "a"))) ++
        (0L until 100L).map(i => (ts(19L, i), "a")) ++
        (0L until 5L).flatMap(h => (0L until 7L).map(i => (ts(h, i), "b")))
    val ev = rows.toDF("ts", "event_type")
    val got = Funnel.rateSpikes(ev, "ts", "event_type").collect()
    assert(got.length == 1, s"exactly the burst: ${got.toSeq}")
    assert(got.head.getString(0) == "a" && got.head.getLong(1) == 19L &&
      got.head.getLong(2) == 100L && got.head.getDouble(3) > 4.0)
    // partitioning invariance on the real events table
    val e = Tables.load(spark, sf, "events")
    val a = Funnel.rateSpikes(e.repartition(1), "ts", "event_type")
      .orderBy("event_type", "bucket").collect().toSeq
    val b = Funnel.rateSpikes(e.repartition(13), "ts", "event_type")
      .orderBy("event_type", "bucket").collect().toSeq
    assert(a == b)
  }

  test("readabilityScores: hand-computed Flesch, vowel-less floor") {
    val df = Seq((1L, "The cat sat. It ran!"), (2L, "psst. brr"))
      .toDF("doc_id", "text")
    val got = TextOps.readabilityScores(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: W=5, S=2, Syl=5 → 206.835 − 1.015·2.5 − 84.6 = 119.6975
    assert(got(0).getLong(1) == 5 && got(0).getLong(2) == 2 &&
      got(0).getLong(3) == 5)
    assert(got(0).getDouble(4) == 119.6975)
    // doc 2: both words vowel-less → syllable floor 1 per word;
    // W=2, S=1, Syl=2 → 206.835 − 2.03 − 84.6 = 120.205
    assert(got(1).getLong(3) == 2 && got(1).getDouble(4) == 120.205)
    // partitioning invariance on the real corpus
    val d = Tables.load(spark, sf, "documents")
    val a = TextOps.readabilityScores(d.repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextOps.readabilityScores(d.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("embeddingOutliers: planted inverted vector ranks first") {
    // 9 vectors near +e1, one pointing the opposite way: the planted
    // outlier must be the label's rank-1 (least centroid-similar)
    val rows = (1L to 9L).map(i =>
        (i, Array(1.0f, 0.01f * i, 0.0f), "L")) :+
      ((99L, Array(-1.0f, 0.0f, 0.0f), "L"))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingOutliers(df, "vec_id", "embedding",
      "label", k = 3).orderBy("rnk").collect()
    assert(got.head.getLong(1) == 99L && got.head.getInt(3) == 1)
    assert(got.head.getDouble(2) < 0, "outlier must oppose the centroid")
    // partitioning invariance on the real embeddings (fixed-point
    // centroid, ordered dots)
    val e = Tables.load(spark, sf, "embeddings")
    val a = Similarity.embeddingOutliers(e.repartition(1), "vec_id",
      "embedding", "label", 5).orderBy("label", "rnk").collect().toSeq
    val b = Similarity.embeddingOutliers(e.repartition(13), "vec_id",
      "embedding", "label", 5).orderBy("label", "rnk").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("cdcChunks: boundaries re-sync under prefix insertion") {
    spark.catalog.clearCache()
    val d = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val re = d.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000L).as("doc_id"),
        concat(lit("zzz "), col("text")).as("text"))
    val out = Curation.cdcChunks(d.unionByName(re), "doc_id", "text")
      .persist()
    // the CDC property: after the first content boundary the
    // prefixed copy's chunks re-hash identically, so the recrawl
    // slice shares the clear majority of its chunks with the corpus
    val r = out.filter(col("doc_id") >= 10000L)
      .agg(sum(col("n_shared_chunks")), sum(col("n_chunks"))).head()
    assert(r.getLong(0) * 10 >= r.getLong(1) * 6,
      s"recrawl chunks shared ${r.getLong(0)}/${r.getLong(1)} — " +
        "CDC boundaries failed to re-sync")
    // and the originals of the recrawled docs report sharing too,
    // while the corpus at large shares far less
    val orig = out.filter(col("doc_id") < 20L)
      .agg(sum(col("n_shared_chunks")), sum(col("n_chunks"))).head()
    assert(orig.getLong(0) * 10 >= orig.getLong(1) * 6)
    val rest = out.filter(col("doc_id") >= 20L && col("doc_id") < 10000L)
      .agg(sum(col("n_shared_chunks")), sum(col("n_chunks"))).head()
    assert(rest.getLong(0) * 10 < rest.getLong(1) * 6,
      "untouched docs must not look like recrawls")
    out.unpersist()
    // partitioning invariance (window per doc, integer hashes)
    val a = Curation.cdcChunks(d.repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = Curation.cdcChunks(d.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(spark.sharedState.cacheManager.isEmpty,
      "cdcChunks must release its chunk cache")
  }

  test("orderedFunnel: greedy order, window bound, out-of-order steps") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // A completes in order; B purchases WITHOUT a click; C clicks
    // BEFORE its view only; D's click lands past the window
    val ev = Seq(
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(20), "purchase"),
      (1L, ts(5), "click"), // earlier qualifying click: greedy takes it
      (2L, ts(0), "view"), (2L, ts(30), "purchase"),
      (3L, ts(10), "view"), (3L, ts(5), "click"),
      (4L, ts(0), "view"), (4L, ts(100), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.orderedFunnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowUs = 60L * 60000000L)
      .collect()
      .map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3),
        r.getLong(4))).toMap
    assert(got(1L) == ((0L, 5L * 60000000L, 20L * 60000000L, 3L)),
      s"greedy must bind the EARLIEST qualifying click: ${got(1L)}")
    assert(got(2L)._4 == 1L, "no click → purchase cannot count")
    assert(got(3L)._4 == 1L, "click before the view does not match")
    assert(got(4L)._4 == 1L, "past-window click must not match")
    // partitioning invariance on the real events table
    val e = Tables.load(spark, sf, "events")
    val a = Funnel.orderedFunnel(e.repartition(1), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 86400000000L)
      .orderBy("user_id").collect().toSeq
    val b = Funnel.orderedFunnel(e.repartition(13), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), 86400000000L)
      .orderBy("user_id").collect().toSeq
    assert(a == b && a.exists(_.getLong(4) == 3L))
  }

  test("lastTouchAttribution: latest touch wins, window bound, " +
      "same-microsecond ties, exact shares") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: view then click → click is last touch
      (10L, 1L, ts(0), "view"), (11L, 1L, ts(60), "click"),
      (12L, 1L, ts(120), "purchase"),
      // user 2: only touch is 30h before → outside the 24h window
      (20L, 2L, ts(0), "view"), (21L, 2L, ts(30 * 60), "purchase"),
      // user 3: click at the SAME timestamp as the purchase attributes
      (30L, 3L, ts(5), "click"), (31L, 3L, ts(5), "purchase"),
      // user 4: first purchase untouched, second after a view
      (40L, 4L, ts(0), "purchase"),
      (41L, 4L, ts(10), "view"), (42L, 4L, ts(20), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Funnel.lastTouchAttribution(ev, "user_id", "ts",
        "event_id", "event_type", "purchase", 24L * 3600000000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got("click") == ((2L, 400000L)))
    assert(got("view") == ((1L, 200000L)))
    assert(got("(none)") == ((2L, 400000L)))
    // partitioning invariance on the real events table
    def run(p: Int) = Funnel.lastTouchAttribution(
        Tables.load(spark, sf, "events").repartition(p),
        "user_id", "ts", "event_id", "event_type", "purchase",
        86400000000L).collect().map(_.toSeq).toSeq
    assert(run(1) == run(13))
  }

  test("multiTouchAttribution: hand credits for linear and U-shaped") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq(
      // user 1: THREE touches then a purchase — linear telescopes
      // 10^6 into 333333/333334/333333 (positions 1/2/3); U-shape
      // gives 400000/200000/400000
      (10L, 1L, ts(0), "view"), (11L, 1L, ts(10), "click"),
      (12L, 1L, ts(20), "view"), (13L, 1L, ts(30), "purchase"),
      // user 2: one touch — full credit either model
      (20L, 2L, ts(0), "click"), (21L, 2L, ts(5), "purchase"),
      // user 3: untouched purchase → (none) in full
      (30L, 3L, ts(0), "purchase"),
      // user 4: two touches — 500000 each in both models
      (40L, 4L, ts(0), "view"), (41L, 4L, ts(1), "click"),
      (42L, 4L, ts(2), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    def run(model: String) = Funnel.multiTouchAttribution(ev,
        "user_id", "ts", "event_id", "event_type", "purchase",
        24L * 3600000000L, model)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lin = run("linear")
    // user1 telescoping over k=3: pos1 = 333333, pos2 = 666666-333333
    // = 333333, pos3 = 1000000-666666 = 333334 (the remainder lands
    // on the LAST position); view holds pos1+pos3, click pos2;
    // user4: view/click 500000 each; user2: click 10^6
    assert(lin("view") == 333333L + 333334L + 500000L)
    assert(lin("click") == 333333L + 1000000L + 500000L)
    assert(lin("(none)") == 1000000L)
    // every conversion distributes exactly 10^6
    assert(lin.values.sum == 4L * 1000000L)
    val u = run("position")
    assert(u("view") == 400000L + 400000L + 500000L)
    assert(u("click") == 200000L + 1000000L + 500000L)
    assert(u("(none)") == 1000000L)
    assert(u.values.sum == 4L * 1000000L)
    // partitioning invariance on the real events table
    def runReal(p: Int) = Funnel.multiTouchAttribution(
        Tables.load(spark, sf, "events").repartition(p),
        "user_id", "ts", "event_id", "event_type", "purchase",
        86400000000L, "position").collect().map(_.toSeq).toSeq
    assert(runReal(1) == runReal(13))
    // NEGATIVE epoch micros (pre-1970 data, r11 ADVICE fix): the
    // banded probe buckets with floor division, so a touch 10 minutes
    // before a conversion still credits even when both timestamps are
    // negative (truncating div put them one bucket apart and the
    // credit silently vanished)
    val evNeg = Seq(
      (50L, 5L, ts(-120), "click"), (51L, 5L, ts(-110), "purchase")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val neg = Funnel.multiTouchAttribution(evNeg, "user_id", "ts",
        "event_id", "event_type", "purchase", 24L * 3600000000L,
        "linear")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(neg == Map("click" -> 1000000L),
      s"pre-epoch touch must still credit, got $neg")
  }

  test("kaplanMeier: textbook product-limit values with censoring") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // lifetimes: A,B churn at 3; C churns at 5; D survives to the end
    // (10, censored); E joins late, censored at 4. Risk sets 5/3/2/1.
    val ev = Seq(
      (1L, ts(0)), (1L, ts(3)),          // A dur 3, churn
      (2L, ts(2)), (2L, ts(5)),          // B dur 3, churn
      (3L, ts(0)), (3L, ts(5)),          // C dur 5, churn
      (4L, ts(0)), (4L, ts(10)),         // D dur 10, censored
      (5L, ts(6)), (5L, ts(10))          // E dur 4, censored
    ).toDF("user_id", "ts")
    val got = Funnel.kaplanMeier(ev, "user_id", "ts",
        censorCutoffDays = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // S: (5−2)/5 = 0.6 at dur 3; unchanged through the censor at 4;
    // ×(2−1)/2 = 0.3 at dur 5; unchanged at the final censor
    assert(got.toSeq == Seq(
      (3L, 5L, 2L, 0L, 600000L),
      (4L, 3L, 0L, 1L, 600000L),
      (5L, 2L, 1L, 0L, 300000L),
      (10L, 1L, 0L, 1L, 300000L)))
    // partitioning invariance (the ladder folds a sorted array)
    def run(p: Int) = Funnel.kaplanMeier(ev.repartition(p), "user_id",
      "ts", 0).collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("cohortRetention: hand-built triangle, duplicate-event immunity") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // period = 1 day. u1 active days 0,1,2; u2 days 0,2 (twice — the
    // distinct-period rule must not double count); u3 day 1 only
    val ev = Seq((1L, ts(0)), (1L, ts(1)), (1L, ts(2)),
        (2L, ts(0)), (2L, ts(2)), (2L, ts(2)),
        (3L, ts(1)))
      .toDF("user_id", "ts")
    val got = Funnel.cohortRetention(ev, "user_id", "ts",
        periodDays = 1, maxOffset = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 2L,
      (1L, 0L) -> 1L))
    // partitioning invariance on the real events table
    val e = Tables.load(spark, sf, "events")
    val a = Funnel.cohortRetention(e.repartition(1), "user_id", "ts")
      .orderBy("cohort_period", "offset").collect().toSeq
    val b = Funnel.cohortRetention(e.repartition(13), "user_id", "ts")
      .orderBy("cohort_period", "offset").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("corpusSelfOverlap: hand-computed mean, zero-gram guard, invariance") {
    // A ≡ B share both trigrams (jac 1e6), C shares none; a short doc
    // below 3 tokens has no grams and must not divide by zero
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"),
      (4L, "hi")).toDF("doc_id", "text")
    val r = TextOps.corpusSelfOverlap(df, "doc_id", "text").collect().head
    // 4 docs → 6 pairs; only (1,2) overlaps → mean = 1e6 div 6
    assert(r.getLong(0) == 6L && r.getLong(1) == 1000000L / 6)
    // partitioning invariance of the deterministic sample + mean
    val docs2 = Tables.load(spark, sf, "documents")
    val a = TextOps.corpusSelfOverlap(docs2.repartition(1), "doc_id",
      "text").collect().toSeq
    val b = TextOps.corpusSelfOverlap(docs2.repartition(13), "doc_id",
      "text").collect().toSeq
    assert(a == b)
  }

  test("extractEntities: arity mix, overlap counting, case folding") {
    val gaz = Seq(("sort merge", "op"), ("merge join", "op"),
      ("spark", "engine"), ("paris", "city"))
    // "sort merge join" overlaps both op bigrams; SPARK case-folds;
    // phrase words alone ("merge") never match as unigrams
    val df = Seq(
      (1L, "the sort merge join runs on SPARK in paris"),
      (2L, "merge sort alone matches nothing"),
      (3L, "spark spark paris")).toDF("doc_id", "text")
    val got = TextOps.extractEntities(df, "doc_id", "text", gaz)
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      (1L, "op") -> ((2L, 2L)),      // sort merge + merge join
      (1L, "engine") -> ((1L, 1L)),
      (1L, "city") -> ((1L, 1L)),
      (3L, "engine") -> ((2L, 1L)),  // two mentions, one distinct
      (3L, "city") -> ((1L, 1L))))
    // 3+-token phrases are rejected (the two-arity stream contract)
    intercept[IllegalArgumentException] {
      TextOps.extractEntities(df, "doc_id", "text",
        Seq(("a b c", "bad")))
    }
    // partitioning invariance on the real corpus with the real list
    val docs2 = Tables.load(spark, sf, "documents")
    val gaz2 = Seq(("hash join", "operator"), ("spark", "engine"))
    val a = TextOps.extractEntities(docs2.repartition(1), "doc_id",
      "text", gaz2).orderBy("doc_id", "etype").collect().toSeq
    val b = TextOps.extractEntities(docs2.repartition(13), "doc_id",
      "text", gaz2).orderBy("doc_id", "etype").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("boilerplateLines: per-source ratio rule, stripped reassembly md5") {
    // siteA: 4 docs, 3 share the banner line (75% >= 40%, d=3 >= 3);
    // siteB: 2 docs sharing the SAME banner — below minDocs there, so
    // the rule is per-source: flagged in A, kept in B
    val banner = "accept all cookies to continue browsing here today"
    val bodies = Seq("alpha bravo", "charlie delta", "echo foxtrot",
      "golf hotel")
    val rows =
      bodies.zipWithIndex.map { case (b, i) =>
        val t = if (i < 3) s"$banner\n$b" else b
        (i.toLong, t, "siteA")
      } ++ Seq((10L, s"$banner\nindia juliet", "siteB"),
        (11L, s"$banner\nkilo lima", "siteB"))
    val df = rows.toDF("doc_id", "text", "source")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = Curation.boilerplateLines(df, "doc_id", "text", "source",
        minPct = 40, minDocs = 3)
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // banner stripped from siteA docs 0-2; body survives byte-exact
    for (i <- 0L to 2L) {
      assert(byId(i)._2 == 1 && byId(i)._3 == 1, s"doc $i: ${byId(i)}")
      assert(byId(i)._4 == md5hex(bodies(i.toInt)))
    }
    assert(byId(3L) == ((1L, 0L, 1L, md5hex("golf hotel"))))
    // siteB keeps the banner (only 2 of its docs carry it): reassembly
    // is the full two-line text
    assert(byId(10L)._2 == 0 && byId(10L)._4 ==
      md5hex(s"$banner\nindia juliet"))
    // partitioning invariance on the real table (+ injected header)
    val docs2 = Tables.load(spark, sf, "documents")
      .withColumn("text", concat(lit("visit "), col("source"),
        lit(" now\n"), col("text")))
    val a = Curation.boilerplateLines(docs2.repartition(1), "doc_id",
      "text", "source").orderBy("doc_id").collect().toSeq
    val b = Curation.boilerplateLines(docs2.repartition(13), "doc_id",
      "text", "source").orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(a.forall(_.getLong(2) >= 1), "injected header must be flagged")
  }

  test("bm25AppendIndex: append equals rebuild; colliding ids rejected") {
    val d = Tables.load(spark, sf, "documents")
    val full = TextOps.bm25BuildIndex(d, "doc_id", "text")
    val half = TextOps.bm25BuildIndex(d.filter(col("doc_id") < 30),
      "doc_id", "text")
    val merged = TextOps.bm25AppendIndex(half,
      d.filter(col("doc_id") >= 30), "doc_id", "text")
    // stats identical to the full rebuild (exact integer length sums)
    assert(merged.nDocs == full.nDocs && merged.avgdl == full.avgdl)
    // postings and lengths are the same multisets
    assert(merged.postings.exceptAll(full.postings).count() == 0)
    assert(full.postings.exceptAll(merged.postings).count() == 0)
    assert(merged.lens.exceptAll(full.lens).count() == 0)
    // probing the merged index reproduces the rebuild ranking exactly
    val terms = full.postings.groupBy("__t")
      .agg(sum(col("__tf")).as("n"))
      .orderBy(col("n").desc, col("__t")).limit(2)
      .collect().map(_.getString(0)).toSeq
    val ra = TextOps.bm25TopKIndexed(full, "doc_id", terms, k = 20)
      .collect().toSeq
    val rb = TextOps.bm25TopKIndexed(merged, "doc_id", terms, k = 20)
      .collect().toSeq
    assert(ra == rb)
    // a batch that re-ships an indexed id must be rejected (it would
    // need a posting merge — the full-index shuffle append avoids)
    intercept[IllegalArgumentException] {
      TextOps.bm25AppendIndex(merged, d.filter(col("doc_id") < 5),
        "doc_id", "text")
    }
    merged.release(); half.release(); full.release()
  }

  test("lmPerplexityKn: hand-computed discount/continuation, invariance") {
    // one doc "a b a b": bigrams (a,b)×2, (b,a)×1 → c1(a)=2, c1(b)=1,
    // N1+(a·)=N1+(b·)=N1+(·a)=N1+(·b)=1, N1+(··)=2, D=3/4:
    //   p(b|a) = (2·4−3)/(2·4) + 3/(2·4)·(1/2)         = 0.8125
    //   p(a|b) = (1·4−3)/(1·4) + 3/(1·4)·(1/2)         = 0.625
    // micro-nat terms −207639·2 + −470004 → nll 0.295094, ppl 1.343
    val one = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val r = TextOps.lmPerplexityKn(one, "doc_id", "text").collect().head
    assert(r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.295094, s"nll was ${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.343)
    // continuation effect ("San Francisco"): both planted bigrams are
    // singletons with equal context counts, but 'the' completes many
    // contexts while 'francisco' completes only one — KN must score
    // p(the|q) > p(francisco|q), i.e. the francisco doc is the more
    // surprising one; the add-k model cannot see this difference
    val ctx = (1L to 8L).map(i => (i + 10L, s"w$i the"))
    val corpus = (ctx ++ Seq((1L, "q the"), (2L, "q francisco"),
      (3L, "san francisco"))).toDF("doc_id", "text")
    val kn = TextOps.lmPerplexityKn(corpus, "doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getDouble(2))).toMap
    assert(kn(1L) < kn(2L),
      s"KN must prefer the many-context continuation: ${kn(1L)} vs ${kn(2L)}")
    // partitioning invariance (fixed-point micro-nat sums)
    val docs2 = Tables.load(spark, sf, "documents")
    val a = TextOps.lmPerplexityKn(docs2.repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextOps.lmPerplexityKn(docs2.repartition(13), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("domainKeywords: planted domain term tops its stratum") {
    val base = "the quick brown fox jumps over the lazy dog"
    val docs = (1L to 40L).map { i =>
      val s = if (i <= 20) "web" else "code"
      val extra = if (i <= 20) "hypertext" else "compiler"
      (i, s"$base $extra $extra", s)
    }.toDF("doc_id", "text", "source")
    val got = TextOps.domainKeywords(docs, "doc_id", "text", "source",
        k = 2, minCount = 5)
      .filter(col("rnk") === 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // the planted stratum-exclusive term has maximal PMI in its slice
    assert(got == Map("web" -> "hypertext", "code" -> "compiler"))
  }

  test("targetMixPlan: binding stratum caps, absent stratum zeroes") {
    val d = Seq((1L, "a", 100L), (2L, "a", 100L), (3L, "b", 100L))
      .toDF("doc_id", "source", "wt")
    // 50/50 over supplies (200, 100): b binds -> B=200, both need 100
    val plan = graft.ops.Curation.targetMixPlan(d, "source",
        col("wt"), Map("a" -> 500000L, "b" -> 500000L))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(plan.toSeq == Seq(("a", 200L, 100L, 500000L),
      ("b", 100L, 100L, 1000000L)))
    // rate 1e6 keeps the whole binding stratum
    val kept = graft.ops.Curation.targetMixSample(d, "doc_id",
        "source", graft.ops.Curation.targetMixPlan(d, "source",
          col("wt"), Map("a" -> 500000L, "b" -> 500000L)))
      .collect().map(_.getString(0)) // join key leads the output
    assert(kept.count(_ == "b") == 1)
    // a weighted stratum with NO supply makes the mixture impossible
    val none = graft.ops.Curation.targetMixPlan(d, "source",
        col("wt"), Map("a" -> 500000L, "zz" -> 500000L))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(none == Map("a" -> 0L, "zz" -> 0L))
  }

  test("winsorize: exact sample bounds clip the tails only") {
    val d = (1L to 11L).map(i => (i, "en", i * 10)).toDF("doc_id",
      "lang", "len")
    // 11 exact values 10..110: p10 = sv[(10//10)+1] = 20,
    // p90 = sv[(90//10)+1] = 100
    val got = graft.ops.Curation.winsorize(d, "lang", "doc_id",
        col("len"), k = 128, 1, 10, 9, 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got(1L) == 20L && got(11L) == 100L)
    assert((2L to 10L).forall(i => got(i) == i * 10))
  }

  test("robustZ: exact quartiles, negative floor, degenerate IQR null") {
    val d = (1L to 11L).map(i => (i, "en", i * 10)).toDF("doc_id",
      "lang", "len")
    // q1=30 q2=60 q3=80 -> IQR 50; ends at exactly ±1e6
    val got = graft.ops.Curation.robustZ(d, "lang", "doc_id",
        col("len"), k = 128)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got(1L) == Some(-1000000L) && got(6L) == Some(0L) &&
      got(11L) == Some(1000000L) && got(2L) == Some(-800000L))
    // a constant stratum has IQR 0: null, never a division blowup
    val c = (1L to 5L).map(i => (i, "fr", 7L)).toDF("doc_id", "lang",
      "len")
    val cz = graft.ops.Curation.robustZ(c, "lang", "doc_id",
      col("len"), 128).collect()
    assert(cz.length == 5 && cz.forall(_.isNullAt(3)))
  }

  test("psiDrift: identical halves zero, planted shift major, finite") {
    def mk(ids: Range, len: Long => Long) =
      ids.map(i => (i.toLong, "en", len(i.toLong)))
        .toDF("doc_id", "lang", "len")
    val ref = mk(1 to 80, i => (i % 8) * 10 + 5)
    // same distribution -> every band p == q -> PSI exactly 0
    val same = graft.ops.Curation.psiDrift(ref,
        mk(101 to 180, i => (i % 8) * 10 + 5), "lang", "doc_id",
        col("len"), 128, 4)
      .collect()
    assert(same.length == 1 && same.head.getLong(3) == 0L)
    // everything shifted into the top band: major drift, and the
    // three emptied bands stay finite under add-half smoothing
    val shifted = graft.ops.Curation.psiDrift(ref,
        mk(201 to 280, _ => 500L), "lang", "doc_id",
        col("len"), 128, 4)
      .collect()
    assert(shifted.head.getLong(3) > 250000L)
  }

  test("lrCalibration: separating corpus, conserved totals") {
    val d = ((1L to 20L).map(i => (i, "alpha beta gamma", "en")) ++
      (21L to 40L).map(i => (i, "delta epsilon zeta", "fr")))
      .toDF("doc_id", "text", "lang")
    val got = Classifier.lrCalibration(d, "doc_id", "text",
        col("lang") === "en", dim = 32, iters = 3, bucketWidth = 1000L)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // two identical-text cohorts -> two margin bands; the raw cohort
    // sits strictly below the target cohort
    assert(got.length == 2)
    assert(got.head._4 == 0L && got.last._4 == 1000000L)
    // totals conserved
    assert(got.map(_._2).sum == 40L && got.map(_._3).sum == 20L)
  }

  test("rankAgreement: reversal -1, identity +1, thin overlap null") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (3L, 30L, 1), (3L, 31L, 2))
      .toDF("q_id", "n_id", "rnk")
    val b = Seq((1L, 12L, 1), (1L, 11L, 2), (1L, 10L, 3), // reversed
      (2L, 20L, 1), (2L, 21L, 2),                          // identical
      (3L, 30L, 1), (3L, 99L, 2))                          // 1 common
      .toDF("q_id", "n_id", "rnk")
    val got = graft.ops.Similarity.rankAgreement(a, b, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(4)) None else Some(r.getLong(4)))))
      .toMap
    assert(got == Map(1L -> ((3L, Some(-1000000L))),
      2L -> ((2L, Some(1000000L))), 3L -> ((1L, None))))
  }

  test("ksDrift: identical halves zero, disjoint shift 1.0, " +
      "partitioning-invariant") {
    val ref = (1L to 200L).map(i => (i, "s", i % 50))
      .toDF("id", "g", "v")
    val same = graft.ops.Curation.ksDrift(ref, ref, "g", "id",
      col("v"), k = 64).collect().head
    assert(same.getLong(3) == 0L, s"identical samples must gap 0: $same")
    // +100 shifts every value past the reference range → max CDF gap 1
    val shifted = ref.withColumn("v", col("v") + 100)
    val ks = graft.ops.Curation.ksDrift(ref, shifted, "g", "id",
      col("v"), k = 64).collect().head
    assert(ks.getLong(3) == 1000000L, s"disjoint ranges must gap 1.0: $ks")
    // deterministic hash sample → layout cannot move the statistic
    val kp = graft.ops.Curation.ksDrift(ref.repartition(7),
      shifted.repartition(3), "g", "id", col("v"), k = 64).collect().head
    assert(kp.getLong(3) == ks.getLong(3))
  }

  test("containmentPairs: short-in-long caught at 1.0; symmetric " +
      "Jaccard misses it") {
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val short = (10 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, long, "en"), (2L, short, "en"),
      (3L, "wholly different content entirely", "en"))
      .toDF("doc_id", "text", "lang")
    // the short text is a verbatim substring → every one of its char
    // shingles appears in the long doc → containment exactly 1.0
    val cp = graft.ops.Dedup.containmentPairs(df, "doc_id", "text",
        Seq("lang"), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cp.toSeq == Seq((1L, 2L, 1.0)), s"got ${cp.toSeq}")
    // the same pair is INVISIBLE to symmetric Jaccard at any useful t
    val jac = graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text",
      Seq("lang"), threshold = 0.8)
    assert(jac.count() == 0,
      "symmetric Jaccard must suppress the short-in-long pair")
  }

  test("blocked generators: null block values form one block") {
    // two identical long texts whose block value is null: every blocked
    // generator pairs them, as its pre-flight already counted them
    // as one block. Docs 3 and 4 carry the same text in two different
    // blocks whose string forms collide ("{x, y, z}"): no generator
    // may pair them
    val text = (1 to 40).map(i => s"word$i").mkString(" ")
    val other = (1 to 40).map(i => s"term$i").mkString(" ")
    val df = Seq((1L, text, null: String, "k"), (2L, text, null, "k"),
        (3L, other, "x, y", "z"), (4L, other, "x", "y, z"))
      .toDF("doc_id", "text", "lang", "src")
    val blk = Seq("lang", "src")
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("minhash", () => Dedup.minhashPairsBlocked(df, "doc_id", "text",
        blk, 0.8)),
      ("ppjoin", () => Dedup.ppjoinPairsBlocked(df, "doc_id", "text",
        blk, 0.8)),
      ("ngram", () => Dedup.ngramJaccardPairs(df, "doc_id", "text",
        blk, 0.8)),
      ("containment", () => Dedup.containmentPairs(df, "doc_id", "text",
        blk, 0.9)),
      ("simhash", () => Dedup.simhashPairs(df, "doc_id", "text",
        blk, maxDist = 3))
    ).foreach { case (name, run) =>
      val got = run().select("a_id", "b_id").as[(Long, Long)].collect()
      assert(got.toSeq == Seq((1L, 2L)), s"$name: ${got.toSeq}")
    }
  }

  test("ndcgAtK: identity 1.0, hand-computed top-2 swap, miss-all 0") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (1L, 13L, 4), (1L, 14L, 5),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3), (2L, 23L, 4),
      (2L, 24L, 5),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3), (3L, 33L, 4),
      (3L, 34L, 5)).toDF("q_id", "n_id", "rnk")
    val approx = Seq(
      // q1: identical ranking → nDCG exactly 1.0 (dcg == idcg)
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4),
      (1L, 14L, 5),
      // q2: top-2 swapped — hand-computed micro terms:
      // 4e6/log2(2) + 5e6/log2(3) + 3e6/2 + 2e6/log2(5) + 1e6/log2(6)
      // = 4000000+3154649+1500000+861353+386853 = 9902855;
      // idcg = 5000000+2523719+1500000+861353+386853 = 10271925
      (2L, 21L, 1), (2L, 20L, 2), (2L, 22L, 3), (2L, 23L, 4),
      (2L, 24L, 5),
      // q3: found nothing from the exact top-k
      (3L, 90L, 1), (3L, 91L, 2), (3L, 92L, 3), (3L, 93L, 4),
      (3L, 94L, 5)).toDF("q_id", "n_id", "rnk")
    val got = graft.ops.Similarity.ndcgAtK(exact, approx, k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L)._2 == 1000000L, s"identity must score 1.0: $got")
    assert(got(2L) == ((9902855L, 964070L)), s"swap mismatch: $got")
    assert(got(3L) == ((0L, 0L)), s"miss-all must report 0: $got")
  }

  test("mrrMapAtK: hand-computed RR and AP, miss-all stays present") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3),
      (3L, 30L, 1), (3L, 31L, 2), (3L, 32L, 3))
      .toDF("q_id", "n_id", "rnk")
    val approx = Seq(
      // q1: relevant at positions 1 and 3 (11 first, junk, then 10):
      // RR = 1/1; AP = (1·1e6 div 1 + 2·1e6 div 3) div 3 = 555555
      (1L, 11L, 1), (1L, 90L, 2), (1L, 10L, 3),
      // q2: first relevant at position 2 → RR = 500000;
      // AP = (1e6 div 2 + 2e6 div 3) div 3 = 388888
      (2L, 91L, 1), (2L, 20L, 2), (2L, 21L, 3),
      // q3: found nothing
      (3L, 92L, 1), (3L, 93L, 2), (3L, 94L, 3))
      .toDF("q_id", "n_id", "rnk")
    val got = graft.ops.Similarity.mrrMapAtK(exact, approx, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 1000000L, 555555L)), s"q1: $got")
    assert(got(2L) == ((2L, 500000L, 388888L)), s"q2: $got")
    assert(got(3L) == ((0L, 0L, 0L)), s"q3 miss-all must be 0s: $got")
    // partitioning invariance
    def run(p: Int) = graft.ops.Similarity.mrrMapAtK(
        exact.repartition(p), approx.repartition(p), 3)
      .orderBy("q_id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  test("recallAtK: hit counting, zero-recall queries stay present") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1),
      (2L, 21L, 2)).toDF("q_id", "n_id", "rnk")
    val approx = Seq((1L, 10L, 1), (1L, 99L, 2), (2L, 98L, 1),
      (2L, 99L, 2)).toDF("q_id", "n_id", "rnk")
    val got = graft.ops.Similarity.recallAtK(exact, approx, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // query 2 missed everything: it reports 0, it does not vanish
    assert(got == Map(1L -> ((1L, 500000L)), 2L -> ((0L, 0L))))
  }

  test("decayedEngagement: half-life table, horizon zero, asOf cut") {
    import java.sql.Timestamp
    val halfLife = 7L * 86400000000L
    val asOf = Timestamp.valueOf("2026-02-01 00:00:00")
    val asOfUs = asOf.getTime * 1000
    def back(days: Int) = new Timestamp(asOf.getTime - days * 86400000L)
    // table head is exactly 1.0; 28 six-hour buckets = one half-life
    val table = graft.ops.Funnel.decayTableMicro(halfLife,
      21600000000L, 256)
    assert(table.head == 1000000L && table(28) == 500000L)
    val e = Seq(
      (1L, asOf, 1L, "c", 2.0),          // b=0: full weight 2e6
      (2L, back(7), 1L, "c", 4.0),       // one half-life: 2e6
      (3L, back(100), 1L, "c", 8.0),     // past horizon (64d): 0, counted
      (4L, new Timestamp(asOf.getTime + 1000), 1L, "c", 99.0), // future
      (5L, back(14), 2L, "c", 8.0))      // two half-lives: 2e6
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.ops.Funnel.decayedEngagement(e, "user_id", "ts",
        "value", halfLife, asOfUs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ((4000000L, 3L)), 2L -> ((2000000L, 1L))))
  }

  test("nextEventSequences: window clamp, truncation, order key") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val e = Seq((1L, ts(1), 1L, "a"), (2L, ts(2), 1L, "b"),
        (3L, ts(3), 1L, "c"), (4L, ts(4), 1L, "d"),
        (6L, ts(5), 2L, "y"), (5L, ts(5), 2L, "x")) // same-ts: id order
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = graft.ops.Funnel.nextEventSequences(e, "user_id",
        "event_id", "ts", "event_type", ctxLen = 2)
      .orderBy("user_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    // user 1: contexts clamp to the last <=2 types; user 2's tie
    // breaks on event_id (x before y)
    assert(got.toSeq == Seq((1L, 1L, "a", "b"), (1L, 2L, "a b", "c"),
      (1L, 3L, "b c", "d"), (2L, 1L, "x", "y")))
    // truncation keeps the LAST maxEvents
    val trunc = graft.ops.Funnel.nextEventSequences(e.filter(
        col("user_id") === 1), "user_id", "event_id", "ts",
        "event_type", ctxLen = 2, maxEvents = 3)
      .orderBy("pos").collect().map(_.getString(3))
    assert(trunc.toSeq == Seq("c", "d")) // a dropped; b c d remain
  }

  test("substring index: gram-superset candidates, verify kills anagrams") {
    val d = Seq((1L, "xxabcdexx"), (2L, "bcdeabcdx"), // 2 has BOTH
        (3L, "abumcdef"), (4L, "zz"))                 // grams, scrambled
      .toDF("doc_id", "text")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-substr-spec").toString
    SubstringIndex.write(d, "doc_id", "text", dir)
    // needle grams {abcd, bcde} both occur in doc 2 without the
    // needle — the exact verify must reject it
    val got = SubstringIndex.search(spark, dir, d, "doc_id", "text",
      "abcde").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
    // real data: indexed path == brute-force contains
    val docs = Tables.load(spark, sf, "documents")
    val dir2 = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-substr-spec2").toString
    SubstringIndex.write(docs, "doc_id", "text", dir2)
    val idx = SubstringIndex.search(spark, dir2, docs, "doc_id",
      "text", "spark data").orderBy("doc_id").collect().toSeq
    val brute = docs.filter(col("text").contains("spark data"))
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(idx == brute && idx.nonEmpty)
  }

  test("dedup index: probe == cross-split minhashPairs; append == rebuild") {
    val d = Tables.load(spark, sf, "documents")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-dedup-idx-spec").toString
    // built in two increments: base write + append of a second slice
    Dedup.writeDedupIndex(d.filter(col("doc_id") < 150),
      "doc_id", "text", dir)
    Dedup.appendDedupIndex(
      d.filter(col("doc_id") >= 150 && col("doc_id") < 250),
      "doc_id", "text", dir)
    val probed = Dedup.probeDedupIndex(spark, dir,
        d.filter(col("doc_id") >= 250), "doc_id", "text", 0.8)
      .orderBy("a_id", "b_id").collect().toSeq
    // reference: one-shot LSH over the whole corpus, cross-split rows
    val full = Dedup.minhashPairs(d, "doc_id", "text", 0.8)
      .filter(col("a_id") < 250 && col("b_id") >= 250)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(probed == full && probed.nonEmpty)
    // a PARTIAL index (crashed writer = no _SUCCESS commit marker)
    // must refuse to serve, not silently return incomplete results
    val marker = new java.io.File(s"$dir/bands/_SUCCESS")
    assert(marker.delete(), "expected a _SUCCESS marker to remove")
    val e = intercept[IllegalStateException](
      Dedup.probeDedupIndex(spark, dir,
        d.filter(col("doc_id") >= 250), "doc_id", "text", 0.8))
    assert(e.getMessage.contains("partial index"), e.getMessage)
  }

  test("bpeFertility: consistent with per-doc counts, merges reduce it") {
    val d = Tables.load(spark, sf, "documents").limit(60)
      .localCheckpoint()
    val m = TextOps.learnBpeMerges(d, "doc_id", "text", nMerges = 5)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextOps.bpeFertility(d, "doc_id", "text", "lang", m)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // the stratum close must equal independently-aggregated per-doc
    // encoder counts (exact integers)
    val perDoc = TextOps.bpeSegmentCounts(d, "doc_id", "text", m)
      .join(d.select("doc_id", "lang"), "doc_id")
      .collect()
      .map(r => (r.getString(3), r.getLong(1), r.getLong(2)))
    val expected = perDoc.groupBy(_._1).map { case (lang, rows) =>
      val nt = rows.map(_._2).sum; val ns = rows.map(_._3).sum
      lang -> ((nt, ns, ns * 1000000L / nt))
    }
    assert(got == expected && got.nonEmpty)
    // more merges can only shorten segmentations
    val got0 = TextOps.bpeFertility(d, "doc_id", "text", "lang", Seq())
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got.forall { case (l, (_, _, f)) => f <= got0(l) })
  }

  test("qualityTiers: exact quartile bands under k, boundary goes low") {
    // stratum under the sample cap -> boundaries are EXACT order
    // statistics: scores 1..8 split 2/2/2/2 with the boundary value
    // itself in the lower tier
    val d = (1L to 8L).map(i => (i, "en", i)).toDF("doc_id", "lang",
      "score")
    val got = Curation.qualityTiers(d, "lang", "doc_id", col("score"),
        k = 128, nTiers = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L))
    // strata tier independently; partitioning invariance on real data
    val docs = Tables.load(spark, sf, "documents")
    val a = Curation.qualityTiers(docs.repartition(1), "lang",
      "doc_id", col("n_chars"), 32, 4).orderBy("doc_id").collect().toSeq
    val b = Curation.qualityTiers(docs.repartition(13), "lang",
      "doc_id", col("n_chars"), 32, 4).orderBy("doc_id").collect().toSeq
    assert(a == b && a.nonEmpty)
    assert(a.map(_.getLong(3)).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("softDedupWeights: cluster shares, singleton full weight") {
    val d = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Dedup.softDedupWeights(d, "doc_id", pairs, "a_id", "b_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((1L, 3L, 333333L)), 2L -> ((1L, 3L, 333333L)),
      3L -> ((1L, 3L, 333333L)), 4L -> ((4L, 2L, 500000L)),
      5L -> ((4L, 2L, 500000L)), 6L -> ((6L, 1L, 1000000L))))
  }

  test("sourceOverlapMatrix: hand grams, zero-overlap pairs absent") {
    val d = Seq((1L, "a b c d", "A"), (2L, "a b c e", "B"),
        (3L, "x y z w", "C"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceOverlapMatrix(d, "source", "text", n = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // A={abc,bcd}, B={abc,bce}: shared 1, jaccard 1/3, containment 1/2;
    // C shares nothing with either -> absent rows, not zero rows
    assert(got == Map(("A", "B") -> ((1L, 2L, 2L, 333333L, 500000L))))
  }

  test("bitextMine: k=1 margin-1.0 pairs == mutual nearest neighbors") {
    // with k=1 the margin is 2c/(c + bwdBest(y)) — exactly 1.0 iff y's
    // best partner similarity equals cos(x,y), i.e. the pair is
    // mutual-NN; an independent driver-math NN pass must agree
    spark.catalog.clearCache()
    val e = Tables.load(spark, sf, "embeddings")
    val xs = e.filter(col("vec_id") % 2 === 0)
    val ys = e.filter(col("vec_id") % 2 === 1)
    val got = Similarity.bitextMine(xs, ys, "vec_id", "embedding",
        k = 1, minMargin = 1.0)
      .select("x_id", "y_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def vecs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray)
        .sortBy(_._1)
    val xv = vecs(xs); val yv = vecs(ys)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def best(q: Array[Double], side: Array[(Long, Array[Double])]) =
      side.map { case (id, v) => (id, cos(q, v)) }
        .minBy { case (id, c) => (-c, id) }
    val bwdBest = yv.map(y => y._1 -> best(y._2, xv)._1).toMap
    val expected = xv.map(x => (x._1, best(x._2, yv))).collect {
      case (x, (y, c)) if bwdBest(y) == x && math.round(c * 1e6) > 0 =>
        (x, y)
    }.toSet
    assert(got == expected && got.nonEmpty)
    // the shared pair-score persist is released after the close
    assert(spark.sharedState.cacheManager.isEmpty,
      "bitextMine must unpersist its pair-score frame")
    // partitioning invariance at k=4
    val a = Similarity.bitextMine(xs.repartition(1), ys.repartition(1),
      "vec_id", "embedding", 4, 1.02).orderBy("x_id").collect().toSeq
    val b = Similarity.bitextMine(xs.repartition(7), ys.repartition(13),
      "vec_id", "embedding", 4, 1.02).orderBy("x_id").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("saturation pre-flight: minhash and ppjoin refuse a saturated " +
      "corpus BEFORE the candidate self-join (r14)") {
    // a saturated key space in miniature: every doc identical, so all
    // band buckets / prefix tokens hold the whole corpus and the
    // self-join output is n² — the shape that ground lang-blocked
    // ppjoin past 8 minutes at 30× with no early signal
    // (MEASUREMENTS.md §r13)
    val n = 120
    val sat = (0L until n.toLong)
      .map(i => (i, "the same saturated document text, repeated " * 3))
      .toDF("doc_id", "text")
    // minhash: 4 bands × C(120,2) = 28 560 predicted pairs > 1000
    val eM = intercept[IllegalStateException] {
      Dedup.minhashPairs(sat, "doc_id", "text", threshold = 0.8,
        candidateBudget = 1000)
    }
    assert(eM.getMessage.contains("pre-flight") &&
      eM.getMessage.contains("minhashPairsBlocked"),
      s"guidance missing: ${eM.getMessage}")
    // ppjoin: every prefix token collides across all 120 docs
    val eP = intercept[IllegalStateException] {
      Dedup.ppjoinPairs(sat, "doc_id", "text", threshold = 0.8,
        candidateBudget = 1000)
    }
    assert(eP.getMessage.contains("pre-flight") &&
      eP.getMessage.contains("minhashPairsBlocked"),
      s"guidance missing: ${eP.getMessage}")
    // the explicitly-quadratic blocked fallbacks refuse the same way
    // when a BLOCK saturates (r14: guard extended for consistency)
    val satB = sat.withColumn("lang", lit("en"))
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("simhash", () => Dedup.simhashPairs(satB, "doc_id", "text",
        Seq("lang"), maxDist = 3, candidateBudget = 1000)),
      ("ngram", () => Dedup.ngramJaccardPairs(satB, "doc_id", "text",
        Seq("lang"), 0.8, candidateBudget = 1000)),
      ("containment", () => Dedup.containmentPairs(satB, "doc_id",
        "text", Seq("lang"), 0.8, candidateBudget = 1000))
    ).foreach { case (name, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("pre-flight"),
        s"$name guidance missing: ${e.getMessage}")
    }
    // the capped escape passes the SAME budget: maxBucket drops the
    // mega-buckets before the estimate, so the pre-flight judges what
    // would actually join
    val capped = Dedup.minhashPairsBlocked(sat.withColumn("lang", lit("en")),
      "doc_id", "text", blockCols = Seq("lang"), threshold = 0.8,
      maxBucket = 10, candidateBudget = 1000)
    assert(capped.count() >= 0) // runs, no raise
    // a healthy (distinct-text) corpus sails through the DEFAULT budget
    val d = Tables.load(spark, sf, "documents").limit(200)
    assert(Dedup.minhashPairs(d, "doc_id", "text", 0.9).count() >= 0)
    // budget <= 0 disables the guard entirely
    assert(Dedup.minhashPairs(sat, "doc_id", "text", threshold = 0.8,
      candidateBudget = 0).count() > 0)
  }

  test("time buckets FLOOR for pre-epoch timestamps (r12 sweep)") {
    // −1 µs is 1969-12-31T23:59:59.999999 — one µs before the epoch.
    // Truncating `div` folds it into bucket 0 with the epoch day;
    // floor division lands it in bucket −1. Every bucketed operator in
    // Funnel and Analytics rides the shared Funnel.floorBucket rule,
    // so one straddling corpus exercises each family.
    val day = 86400000000L
    val ev = Seq(
      ("u1", -1L, "click", 1.0),
      ("u1", 0L, "click", 1.0),
      ("u2", -day - 1L, "click", 1.0))
      .toDF("user_id", "us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    // engagementBuckets: raw bucket ids surface directly
    val eb = Funnel.engagementBuckets(ev, "user_id", "ts", "value", day)
      .select("user_id", "b").as[(String, Long)].collect().toSet
    assert(eb == Set(("u1", -1L), ("u1", 0L), ("u2", -2L)))
    // cohortRetention: u1's cohort is the PRE-epoch period, so the
    // epoch-day activity is offset 1 (truncation would fold both
    // events into period 0 and report a single offset-0 cell)
    val cr = Funnel.cohortRetention(ev.filter($"user_id" === "u1"),
        "user_id", "ts", periodDays = 1, maxOffset = 4)
      .select("cohort_period", "offset").as[(Long, Long)].collect().toSet
    assert(cr == Set((-1L, 0L), (-1L, 1L)))
    // cusumShift: −2, −1, 0 are THREE distinct buckets (truncation
    // merges −1 µs into the epoch bucket → two)
    val cs = Funnel.cusumShift(ev, "ts", "event_type", day)
      .select("n_buckets").as[Long].collect()
    assert(cs.sameElements(Array(3L)))
    // dauMau: three distinct floored days, day-ordered
    val dm = Funnel.dauMau(ev, "user_id", "ts", windowDays = 1, k = 16,
        bucketUs = day)
      .select("day").as[Long].collect().toSeq
    assert(dm == Seq(-2L, -1L, 0L))
    // cohortLtv: same cohorting rule as retention, cents accumulate
    val lv = Funnel.cohortLtv(ev.filter($"user_id" === "u1"),
        "user_id", "ts", "value", periodDays = 1)
      .select("cohort_period", "offset", "cum_cents")
      .as[(Long, Long, Long)].collect().toSeq
    assert(lv == Seq((-1L, 0L, 100L), (-1L, 1L, 200L)))
    // ewmaForecast: two distinct buckets for u1's events
    val ef = Funnel.ewmaForecast(ev.filter($"user_id" === "u1"), "ts",
        "event_type", "value")
      .select("n_buckets").as[Long].collect()
    assert(ef.sameElements(Array(2L)))
    // kaplanMeier: u2 lives one pre-epoch instant (duration 0), u1
    // spans −1 µs → 0 = duration 1 day at floored bucketing
    val km = Funnel.kaplanMeier(ev, "user_id", "ts",
        censorCutoffDays = 0, bucketUs = day)
      .select("duration_days").as[Long].collect().toSeq
    assert(km == Seq(0L, 1L))
    // rateSpikes shares floorBucketTs with cusumShift; Analytics'
    // five bucketed tests ride the same helper — spot-check trendTest
    val tt = Analytics.trendTest(ev.withColumn("grp", lit("g")), "ts",
        "grp", day)
      .select("n_buckets").as[Long].collect()
    assert(tt.sameElements(Array(3L)))
  }
}

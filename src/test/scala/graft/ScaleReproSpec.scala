package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

object ScaleReproSpec {
  /** The documents/embeddings production queries timed at 1× and 10×
    * (MEASUREMENTS.md §r8); OpsHygieneSpec runs each once on the 1×
    * corpus ungated. ppjoin last: its candidate stage is quadratic on
    * the fixed-vocabulary shape. */
  val corpusOps = Seq(
    "qp_minhash_pairs", "qp_dedup_incremental",
    "qp_sparse_cosine", "qp_bm25_topk", "qp_bm25_indexed",
    "qp_exact_substring", "qp_substring_search", "qp_curation_report",
    "qp_ivfpq_bucketed", "qp_ppjoin_pairs")
}

/** Re-runs of the scale and A/B measurements recorded in
  * MEASUREMENTS.md (section named in each test). Every test is gated:
  * run with
  * `SPARK_GRAFT_SCALE10=1 SPARK_GRAFT_CPUS=32 sbt "testOnly graft.ScaleReproSpec -- -z r8"`
  * (the `-z` prefix picks one round). Exponents are
  * a = log10(t10 / t1), so linear is 1.0; the ±30-40% session weather
  * puts about ±0.12 of slop on a single exponent. Generated corpora
  * come from [[ScaleCorpus]]; the graph, event and media generators
  * below keep group/block occupancy constant while the count grows. */
class ScaleReproSpec extends AnyFunSuite {
  import ScaleReproSpec.corpusOps
  private lazy val spark = SparkTestSession.spark
  private val sf01 = "/root/testdata/sf0.1"
  private val scale10 = sys.env.get("SPARK_GRAFT_SCALE10").contains("1")

  private def gated(): Unit =
    assume(scale10, "recorded run — set SPARK_GRAFT_SCALE10=1 to repeat")

  private def medianOf(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** median wall seconds of `rounds` runs, GC between them */
  private def timed(rounds: Int)(body: => Unit): Double =
    medianOf((1 to rounds).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  /** one warm-up run, then the median of `rounds` */
  private def timeQ(name: String, dir: String, rounds: Int = 3): Double = {
    noop(SparkEntry.queries(name)(spark, dir))
    timed(rounds)(noop(SparkEntry.queries(name)(spark, dir)))
  }

  /** t1, t10 and their exponent for `run(scale)`, reported as info */
  private def exponent(label: String)(run: Int => Double): Double = {
    val t1 = run(1)
    val t10 = run(10)
    val e = math.log10(t10 / t1)
    info(f"$label: t1=$t1%.2fs t10=$t10%.2fs exponent=$e%.2f")
    e
  }

  // ---- generators with constant occupancy --------------------------

  /** 4-regular hash graph: 4 out-edges per vertex to hash-selected
    * targets (self-loops shifted by one). */
  private def hashGraph(n: Long): (DataFrame, DataFrame) = {
    val e = spark.range(n).select(col("id").as("src"))
      .withColumn("__e", explode(sequence(lit(0), lit(3))))
      .withColumn("dst", ScaleCorpus.h(col("src"), col("__e")) % n)
      .withColumn("dst", when(col("dst") === col("src"),
        (col("dst") + 1) % n).otherwise(col("dst")))
      .select("src", "dst")
    (spark.range(n).select(col("id")).localCheckpoint(),
      e.localCheckpoint())
  }

  /** disjoint 8-cycles (one SCC each) linked in pairs by a one-way
    * bridge: SCC count grows with n, class diameter stays constant. */
  private def sccGraph(n: Long): (DataFrame, DataFrame) = {
    val cyc = spark.range(n).select(col("id").as("src"),
      (col("id") - col("id") % 8 + (col("id") + 1) % 8).as("dst"))
    val bridge = spark.range(n / 16).select(
      (col("id") * 16).as("src"), (col("id") * 16 + 8).as("dst"))
    (spark.range(n).select(col("id")).repartition(32).localCheckpoint(true),
      cyc.unionByName(bridge).repartition(32).localCheckpoint(true))
  }

  /** 9×8 gray frames per media id: md5-PRF patterns per (group, frame)
    * at occupancy 20 (group = id div 20); every 5th member has one
    * flipped pixel in frame k mod `nFrames`. `firstFrame(k)` drops
    * leading frames (trimmed re-encodes). */
  private def media(lo: Long, hi: Long, tag: String, nFrames: Int,
      flip: Boolean, firstFrame: Long => Int = _ => 0)(
      encode: IndexedSeq[Array[Int]] => Array[Byte]): DataFrame = {
    val rdd = spark.range(lo, hi).rdd.map { id =>
      val g = id / 20
      val k = id % 20
      val frames = (firstFrame(k) until nFrames).map { f =>
        Array.tabulate(72) { i =>
          val r = i / 9; val c = i % 9
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$tag:$g:$f:$r:$c".getBytes("UTF-8"))
          val base = if ((d(0) & 0x80) == 0) 220 else 30
          if (flip && k % 5 == 0 && f == k % nFrames &&
            r == (k * 3) % 8 && c == (k * 5) % 9) 250 - base
          else base
        }
      }
      Row(id, encode(frames))
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))).repartition(32)
  }
  private def images(lo: Long, hi: Long, tag: String, flip: Boolean) =
    media(lo, hi, tag, 1, flip)(fs =>
      graft.ops.Multimodal.encodeBmp24(9, 8, fs.head))
  private def videos(n: Long, trimmed: Boolean) =
    media(0, n, "vfx", 3, flip = true,
      k => if (trimmed) (k % 2).toInt else 0)(fs =>
      graft.ops.Multimodal.encodeGifGray(9, 8, fs))

  /** events: hash-derived user and timestamp over a 30-day window */
  private def events(n: Long): DataFrame =
    spark.range(n).select(col("id").as("event_id"))
      .withColumn("user_id",
        ScaleCorpus.h(col("event_id"), lit("u")) % (n / 7))
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
        ScaleCorpus.h(col("event_id"), lit("t")) % (30L * 86400000000L)))
      .localCheckpoint()

  // ---- §r8 ---------------------------------------------------------

  test("r8: documents/embeddings operator exponents") {
    gated()
    corpusOps.foreach { op =>
      exponent(op)(s => if (s == 1) timeQ(op, ScaleCorpus.ensure(spark, 1))
        else {
          val d10 = ScaleCorpus.ensure(spark, 10)
          // one 10× ppjoin round: the ~40× ratio dwarfs the weather
          if (op == "qp_ppjoin_pairs")
            timed(1)(noop(SparkEntry.queries(op)(spark, d10)))
          else timed(3)(noop(SparkEntry.queries(op)(spark, d10)))
        })
    }
  }

  test("r8: round-8 operator exponents") {
    gated()
    Seq("qp_dbscan", "qp_textrank", "qp_rake_phrases", "qp_pmi_bigrams",
      "qp_hll_distinct").foreach { op =>
      exponent(op)(s => timeQ(op, ScaleCorpus.ensure(spark, s)))
    }
  }

  test("r8: graph operator exponents") {
    gated()
    import graft.graph.GraphOps._
    def onGraph(label: String)(f: (DataFrame, DataFrame) => Unit) =
      exponent(label) { s =>
        val (v, e) = hashGraph(5000L * s)
        timed(3)(f(v, e))
      }
    onGraph("betweennessDF")((_, e) =>
      noop(betweennessDF(e, Seq(1L, 2L, 3L, 4L), depth = 4)))
    onGraph("labelProp+modularity")((v, e) => noop(modularityDF(e,
      labelPropDF(v, e, rounds = 3).withColumnRenamed("lbl", "community"))))
    onGraph("hyperBallDF")((v, e) => noop(hyperBallDF(v, e, rounds = 3)))
    onGraph("node2vecWalks")((_, e) => noop(node2vecWalks(e,
      Seq(1L, 2L, 3L), nWalks = 2, steps = 4, 2000000L, 1000000L, 500000L)))
    onGraph("labelProp+conductance")((v, e) =>
      noop(conductanceDF(e, labelPropDF(v, e, rounds = 3))))
  }

  test("r8: dau_mau / kaplan_meier / holt exponents") {
    gated()
    def onEvents(label: String)(f: DataFrame => DataFrame) =
      exponent(label) { s =>
        val ev = events(100000L * s)
        timed(3)(noop(f(ev)))
      }
    onEvents("dauMau")(graft.ops.Funnel.dauMau(_, "user_id", "ts", 28, 256))
    onEvents("kaplanMeier")(graft.ops.Funnel.kaplanMeier(_, "user_id",
      "ts", 0))
    onEvents("holtLinear")(graft.ops.Analytics.holtLinear(_, "ts",
      300000L, 100000L))
  }

  test("r8: qg_pagerank isolated dispersion on sf0.1") {
    gated()
    val ts = (1 to 8).map(_ => timed(1)(noop(
      SparkEntry.queries("qg_pagerank")(spark, sf01))))
    val m = medianOf(ts)
    val mad = medianOf(ts.map(x => math.abs(x - m)))
    info(f"qg_pagerank median=$m%.2f mad=${mad / m * 100}%.1f%% " +
      s"rounds=${ts.map(t => f"$t%.2f").mkString(",")}")
  }

  // ---- §r9 ---------------------------------------------------------

  test("r9: blocked ppjoin exponent on the saturated shape") {
    gated()
    exponent("qp_ppjoin_blocked")(s => timeQ("qp_ppjoin_blocked",
      ScaleCorpus.ensure(spark, s, blocked = true)))
  }

  // ---- §r10 --------------------------------------------------------

  test("r10: TRAVERSE static plan vs forced BFS at sf0.1") {
    gated()
    for (q <- Seq("qd_traverse", "qd_traverse_fields")) {
      val fused = timeQ(q, sf01)
      System.setProperty("graft.traverse.forceBfs", "1")
      val bfs = try timeQ(q, sf01)
        finally System.clearProperty("graft.traverse.forceBfs")
      info(f"$q: static=$fused%.2fs bfs=$bfs%.2fs (${bfs / fused}%.1fx)")
      assert(fused < bfs,
        s"$q: the static plan should beat per-round checkpointed BFS")
    }
  }

  test("r10: phashPairs exponent on constant-occupancy image groups") {
    gated()
    val e = exponent("phashPairs") { s =>
      val m = images(0, 5000L * s, "phx", flip = true).localCheckpoint(true)
      try timed(3)(noop(graft.ops.Multimodal.phashPairs(
        graft.ops.Multimodal.imagePhashes(m), "media_id", "phash", 3)))
      finally m.unpersist()
    }
    assert(e < 1.2, f"phash banding should stay ~linear, got $e%.2f")
  }

  test("r10: sccDF exponent on bounded-diameter SCC graphs") {
    gated()
    val e = exponent("sccDF distributed") { s =>
      val (v, ed) = sccGraph(20000L * s)
      // localFinishThreshold = 0 pins the distributed refinement path
      try timed(3)(noop(graft.graph.GraphOps.sccDF(v, ed,
        localFinishThreshold = 0)))
      finally { v.unpersist(); ed.unpersist() }
    }
    assert(e < 1.2, f"refinement should stay ~linear under bounded " +
      f"class diameter, got $e%.2f")
  }

  test("r10: qp_unigram_segment neighborhood A/B") {
    gated()
    val iso = timeQ("qp_unigram_segment", sf01, rounds = 5)
    for (n <- Seq("qp_lsh_recall", "qp_ppjoin_blocked", "qp_ppjoin_pairs"))
      noop(SparkEntry.queries(n)(spark, sf01))
    val after = timeQ("qp_unigram_segment", sf01, rounds = 5)
    info(f"isolated=$iso%.2fs after-ppjoin-family=$after%.2fs")
    assert(after < iso * 1.35, f"ppjoin-family neighbors inflate " +
      f"unigram_segment: $iso%.2f -> $after%.2f")
  }

  // ---- §r11 --------------------------------------------------------

  test("r11: sccDF local finish vs all-distributed at sf0.1") {
    gated()
    def once(thr: Int): Double = timed(1)(noop(graft.graph.GraphOps.sccDF(
      graft.graph.TradeGraph.vertices(spark, sf01),
      graft.graph.TradeGraph.directedEdges(spark, sf01),
      localFinishThreshold = thr)))
    val shapes = Seq(100000, 0)
    shapes.foreach(once) // warm both
    // interleaved cells: sequential blocks favour whichever runs last
    val cells = (1 to 5).map(_ => shapes.map(once))
    val Seq(local, distributed) =
      shapes.indices.map(i => medianOf(cells.map(_(i))))
    info(f"qg_scc: local-finish=$local%.2fs distributed=$distributed%.2fs")
    assert(local < distributed,
      "the sequential base case should beat the distributed refinement")
  }

  test("r11: videoPhashPairs exponent on constant-occupancy GIF groups") {
    gated()
    val e = exponent("videoPhashPairs") { s =>
      val m = videos(5000L * s, trimmed = false).localCheckpoint(true)
      try timed(3)(noop(graft.ops.Multimodal.videoPhashPairs(
        graft.ops.Multimodal.videoPhashes(m), 3)))
      finally m.unpersist()
    }
    assert(e < 1.2, f"aligned video pairing should stay ~linear, got $e%.2f")
  }

  test("r11: probePhashIndex exponent, fixed probe vs growing corpus") {
    gated()
    // a fixed 100-image batch probed against a 20k- then a 200k-image
    // index: directory pruning caps read IO at the batch's buckets
    val e = exponent("probePhashIndex") { s =>
      val n = 20000L * s
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-phidx-$n").toString
      graft.ops.Multimodal.writePhashIndex(graft.ops.Multimodal
        .imagePhashes(images(0, n, "pix", flip = false)),
        "media_id", "phash", 3, dir)
      val probe = graft.ops.Multimodal.imagePhashes(
        images(n, n + 100, "pix", flip = false)).localCheckpoint(true)
      timed(3)(noop(graft.ops.Multimodal.probePhashIndex(spark, dir,
        probe, "media_id", "phash", 3)))
    }
    assert(e < 0.8,
      f"bucket-pruned probe should be ~corpus-independent, got $e%.2f")
  }

  // ---- §r12 --------------------------------------------------------

  test("r12: qp_target_mix + qg_triangles isolated A/B") {
    gated()
    info(f"calibration_sec=${Bench.calibrate()}%.4f")
    Seq("qp_target_mix", "qg_triangles").foreach { n =>
      val m = timeQ(n, sf01, rounds = 5)
      info(f"$n median-of-5 = $m%.3f s")
      assert(m < 5.0, s"$n pathologically slow: $m s")
    }
  }

  test("r12: videoPhashPairsOffset exponent on trimmed GIF groups") {
    gated()
    val e = exponent("videoPhashPairsOffset") { s =>
      val m = videos(5000L * s, trimmed = true).localCheckpoint(true)
      try timed(3)(noop(graft.ops.Multimodal.videoPhashPairsOffset(
        graft.ops.Multimodal.videoPhashes(m), 3, maxOffset = 1)))
      finally m.unpersist()
    }
    assert(e < 1.3,
      f"offset pairing should track the banded aligned mode, got $e%.2f")
  }

  // ---- §r13 --------------------------------------------------------

  test("r13: recordLevelRebase probe cost on a wide 1M-row class") {
    gated()
    import graft.engine.GraftSession
    val root = java.nio.file.Files
      .createTempDirectory("graft-rebase-cost").toString
    val setup = GraftSession.openDurable(spark, root)
    setup.command("create class Wide")
    setup.appendData("Wide", spark.range(1000000L).select(col("id") +:
      (1 to 20).map(i => (col("id") * i % 9973).as(s"c$i")): _*))
    setup.catalog.setRidPosCol("Wide", "id")
    // baseline: a non-conflicted commit pays only the class rewrite
    val g0 = GraftSession.openDurable(spark, root)
    g0.begin()
    g0.command("update Wide set c1 = 1 where id = 42")
    val tBase = timed(1)(g0.commit())
    // conflicted commit: g1 wins, g2 pays the rebase probe + merge
    val g1 = GraftSession.openDurable(spark, root)
    val g2 = GraftSession.openDurable(spark, root)
    g1.setRecordLevelConflicts(true); g2.setRecordLevelConflicts(true)
    g1.begin(); g2.begin()
    g1.command("update Wide set c1 = 2 where id = 7")
    g2.command("update Wide set c2 = 3 where id = 9")
    g1.commit()
    val tRebase = timed(1)(g2.commit())
    info(f"non-conflicted commit $tBase%.2f s, conflicted $tRebase%.2f s " +
      f"(${tRebase / math.max(0.01, tBase)}%.1fx)")
    val fresh = GraftSession.openDurable(spark, root)
    assert(fresh.query("select c1 from Wide where id = 7").collect()
      .head.getLong(0) == 2L)
    assert(fresh.query("select c2 from Wide where id = 9").collect()
      .head.getLong(0) == 3L)
    assert(tRebase < 20 * math.max(1.0, tBase),
      "rebase probe must stay the same order as the rewrite itself")
  }

  test("r13: t1/t10/t30 minhash un/blocked/capped + ivfpq curvature") {
    gated()
    val d = Seq(1, 10, 30).map(s => s -> ScaleCorpus.ensure(spark, s)).toMap
    // the unblocked banding's 30× point is not re-run: it is the
    // quadratic onset of record (t30 = 127.9 s, e30 = 2.09)
    val m1 = timeQ("qp_minhash_pairs", d(1))
    val m10 = timeQ("qp_minhash_pairs", d(10))
    info(f"qp_minhash_pairs t1=$m1%.2f t10=$m10%.2f " +
      f"e10=${math.log10(m10 / m1)}%.2f (t30 127.9, e30 2.09 recorded)")
    spark.catalog.clearCache()
    def blocked(dir: String, cap: Int = 0): Unit =
      noop(graft.ops.Dedup.minhashPairsBlocked(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id",
        "text", Seq("lang", "source"), threshold = 0.8, maxBucket = cap))
    blocked(d(1)) // warm
    val b1 = timed(3)(blocked(d(1)))
    val b10 = timed(1)(blocked(d(10)))
    val b30 = timed(1)(blocked(d(30)))
    val be30 = math.log(b30 / b10) / math.log(3.0)
    info(f"minhash_blocked(l,s) t1=$b1%.2f t10=$b10%.2f t30=$b30%.2f " +
      f"e10=${math.log10(b10 / b1)}%.2f e30=$be30%.2f")
    assert(be30 < 1.0,
      f"the blocked escape lost its curvature: e30=$be30%.2f")
    info(f"minhash_capped(200) t30=${timed(1)(blocked(d(30), 200))}%.2f s")
    spark.catalog.clearCache()
    val p = Seq(1, 10, 30).map(s => timeQ("qp_ivfpq_bucketed", d(s)))
    val pe30 = math.log(p(2) / p(1)) / math.log(3.0)
    info(f"qp_ivfpq_bucketed t1=${p(0)}%.2f t10=${p(1)}%.2f " +
      f"t30=${p(2)}%.2f e30=$pe30%.2f")
    assert(pe30 < 0.5,
      f"ivfpq probe must stay ~flat past one decade: e30=$pe30%.2f")
  }

  // ---- §r14 --------------------------------------------------------

  test("r14: pre-flight refuses the saturated 30x ppjoin in seconds") {
    gated()
    val docs = spark.read.parquet(
      s"${ScaleCorpus.ensure(spark, 30)}/documents.parquet")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      noop(graft.ops.Dedup.ppjoinPairsBlocked(docs, "doc_id", "text",
        Seq("lang"), threshold = 0.8))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"refused in $sec%.1f s: ${e.getMessage.take(160)}")
    assert(e.getMessage.contains("pre-flight"))
    assert(sec < 120,
      f"the refusal must land in the linear stages, took $sec%.1f s")
    // the shipped escape still runs under the same default budget
    val t1 = System.nanoTime()
    val n = graft.ops.Dedup.minhashPairsBlocked(docs, "doc_id", "text",
      Seq("lang", "source"), threshold = 0.8, maxBucket = 200).count()
    info(f"minhashPairsBlocked+cap: $n pairs in " +
      f"${(System.nanoTime() - t1) / 1e9}%.1f s")
    assert(n > 0)
  }
}

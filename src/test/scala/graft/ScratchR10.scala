package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 measurement record (Scratch* files are test-scope
  * measurement records, repo convention). Two assigned findings:
  *
  * == 1. qp_unigram_segment "regression" — classified WEATHER ==
  *
  * r9's full-suite run measured 1.47 s (MAD 5%) against r8's 0.92 s
  * and flagged a regression, hypothesizing cache pressure from the two
  * new ppjoin-family queries. The A/B (this round, sf0.1 local[32];
  * Bench cells are `runMain graft.Bench <names>` fresh-JVM
  * median-of-5, ScratchR10 cells are this suite's warm shared
  * session):
  *
  * | context                                             | sec  |
  * |-----------------------------------------------------|------|
  * | Bench: isolated                                     | 1.00 |
  * | Bench: after lsh_recall + both ppjoin queries       | 1.10 |
  * | Bench: inside the 60-query qp_l..qp_u neighborhood  | 0.75 |
  * | ScratchR10 warm session: isolated                   | 0.49 |
  * | ScratchR10 warm session: after the ppjoin family    | 0.48 |
  * | r8 full suite (reference)                           | 0.92 |
  * | r9 full suite (the flag)                            | 1.47 |
  *
  * Reading: the named suspects add ≤ 0.1 s in a fresh JVM and
  * NOTHING warm; the WIDER neighborhood makes the query FASTER
  * (qp_unigram_em, which sorts before it, warms the shared vocab
  * frames). The 1.47 s is session-level weather — storage/GC state
  * shifts a whole bench session coherently, so a low within-session
  * MAD does not certify cross-session comparability (the same effect
  * measured identical sccDF code at 8.1 vs 10.1 s in back-to-back
  * sessions this round). No code change; nothing to release-scope.
  * The r10 suite run re-measures.
  *
  * == 2. TRAVERSE static-join fusion vs per-round BFS (delta) ==
  *
  * The fusion landed in r9 (`51e0efb`, carried unmeasured since r7):
  * bounded depth ≤ 3 compiles to ONE lazy join tree; the BFS path
  * keeps per-round localCheckpoints. The measurement below runs the
  * PRODUCTION gate queries over sf0.1, flipping the test-only
  * `graft.traverse.forceBfs` system property (the only consumer of
  * that property is the `static` predicate in
  * `Traverse.matchedOrigins`):
  *
  * | gate query (depth)        | static s | forced-BFS s | delta |
  * |---------------------------|----------|--------------|-------|
  * | qd_traverse (1,2)         | 1.55-1.81| 2.36-2.73    | 1.5×  |
  * | qd_traverse_fields (1,2)  | 0.95-1.14| 1.15-1.20    | 1.0-1.2× |
  *
  * (two recorded sessions — the fields variant's delta sits inside
  * the weather band; the main query's 1.5× is stable across both)
  *
  * Reading: at depth 2 the static plan saves the per-round eager
  * checkpoint materializations and the frontier-emptiness probe jobs
  * — a 1.2-1.5× wall cut on the most common reference TRAVERSE shape
  * (`SQLSelectTest.java:273-325`), plus the structural win the number
  * understates locally: the fused plan is ONE lazy tree Catalyst
  * optimizes whole (pushdown through the joins, exchange reuse),
  * while the BFS path's eager checkpoints would each be a real
  * cluster barrier at 100 TB. The correctness leg (static ≡ BFS
  * origin sets) lives in `graft.engine.TraverseSpec`; for
  * `start <= 1` it now checks the reverse-reachability plan that
  * replaced this static one. `PlanShapeSpec` pins the
  * no-LogicalRDD invariant so the static path cannot silently
  * regress; this record retires the three-round-carried task with
  * numbers.
  *
  * == 3. Round-10 operators at 10× (constant-occupancy shapes) ==
  *
  * | operator                         | t1 s | t10 s | exponent |
  * |----------------------------------|------|-------|----------|
  * | phashPairs (5k → 50k images)     | 0.50 | 1.56  | 0.50     |
  * | sccDF (20k → 200k vertices)      | 7.20 | 14.53 | 0.31     |
  *
  * Reading: the banded Hamming join tracks the true pair count
  * (growing group count at occupancy 20 — the crawl shape; a FIXED
  * group key would saturate to occupancy², the ScratchR9 blocking
  * caveat verbatim). sccDF's 0.31 under constant class diameter is
  * the counterweight to its 8.4 s sf0.1 suite cost: the wall time is
  * a fixed per-round JOB floor (≈16 scheduled jobs for two refinement
  * rounds × fused fixpoints), not data volume — at 10× the same
  * rounds simply carry more rows per job. Diameter, not corpus size,
  * is the scaling axis to watch (documented on the operator).
  *
  * Reproduce: SPARK_GRAFT_SCALE10=1 SPARK_GRAFT_CPUS=32 \
  *   sbt -batch "testOnly graft.ScratchR10"   (~4 min)
  */
class ScratchR10 extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf01 = "/root/testdata/sf0.1"

  private def medianOf(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timeQ(name: String, dir: String, rounds: Int): Double = {
    noop(SparkEntry.queries(name)(spark, dir)) // warm codegen
    medianOf((1 to rounds).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(name)(spark, dir))
      (System.nanoTime() - t0) / 1e9
    })
  }

  private val scale10 = sys.env.get("SPARK_GRAFT_SCALE10").contains("1")

  test("TRAVERSE static-vs-BFS wall delta at sf0.1 (measurement record)") {
    assume(scale10, "set SPARK_GRAFT_SCALE10=1 to re-measure")
    for (q <- Seq("qd_traverse", "qd_traverse_fields")) {
      val fused = timeQ(q, sf01, rounds = 3)
      System.setProperty("graft.traverse.forceBfs", "1")
      val bfs =
        try timeQ(q, sf01, rounds = 3)
        finally System.clearProperty("graft.traverse.forceBfs")
      info(f"$q: static=$fused%.2fs bfs=$bfs%.2fs (${bfs / fused}%.1fx)")
      assert(fused < bfs,
        s"$q: the static plan should beat per-round checkpointed BFS")
    }
  }

  // ---- 10× scale exponents for the round-10 operators ------------
  // Constant-occupancy generators (the ScratchR9 crawl shape: groups/
  // blocks GROW IN COUNT as the corpus grows), so the measured
  // exponent reflects the operator, not a saturating fixture.

  /** synthetic 9×8 BMP corpus: md5-PRF group patterns at CONSTANT
    * occupancy 20 (group = id div 20), every 5th member one flipped
    * pixel — the qp_image_phash shape with growing group count. */
  private def genImages(n: Long): DataFrame = {
    val rdd = spark.range(n).rdd.map { id =>
      val g = id / 20
      val k = id % 20
      val gray = Array.tabulate(72) { i =>
        val r = i / 9; val c = i % 9
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"phx:$g:$r:$c".getBytes("UTF-8"))
        val base = if ((d(0) & 0x80) == 0) 220 else 30
        if (k % 5 == 0 && r == (k * 3) % 8 && c == (k * 5) % 9)
          250 - base
        else base
      }
      org.apache.spark.sql.Row(id,
        graft.ops.Multimodal.encodeBmp24(9, 8, gray))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))).repartition(32)
  }

  /** synthetic directed graph: disjoint 8-cycles (one SCC each)
    * linked in PAIRS by a one-way bridge — SCC count grows with n,
    * class diameter stays constant (the bounded-diameter contract
    * under which refinement rounds are O(1)). */
  private def genSccGraph(n: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val v = spark.range(n).select(col("id"))
    val cyc = spark.range(n).select(col("id").as("src"),
      (col("id") - col("id") % 8 + (col("id") + 1) % 8).as("dst"))
    // one-way bridge: even block 2j's vertex 0 → block 2j+1's vertex 0
    val bridge = spark.range(n / 16).select(
      (col("id") * 16).as("src"), (col("id") * 16 + 8).as("dst"))
    (v.repartition(32), cyc.unionByName(bridge).repartition(32))
  }

  private def timed(rounds: Int)(body: => Unit): Double =
    medianOf((1 to rounds).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  test("phashPairs 10x exponent on constant-occupancy image groups") {
    assume(scale10, "set SPARK_GRAFT_SCALE10=1 to re-measure")
    def run(n: Long): Double = {
      val media = genImages(n).localCheckpoint(true)
      val t = timed(3) {
        noop(graft.ops.Multimodal.phashPairs(
          graft.ops.Multimodal.imagePhashes(media),
          "media_id", "phash", 3))
      }
      media.unpersist()
      t
    }
    val t1 = run(5000)
    val t10 = run(50000)
    val exp = math.log10(t10 / t1)
    info(f"phashPairs: t1=$t1%.2fs t10=$t10%.2fs exponent=$exp%.2f")
    assert(exp < 1.2, f"phash banding should stay ~linear, got $exp%.2f")
  }

  test("sccDF 10x exponent on bounded-diameter SCC graphs") {
    assume(scale10, "set SPARK_GRAFT_SCALE10=1 to re-measure")
    def run(n: Long): Double = {
      val (v, e) = genSccGraph(n)
      val vm = v.localCheckpoint(true)
      val em = e.localCheckpoint(true)
      val t = timed(3) {
        // localFinishThreshold = 0: r11 added a sequential base case
        // for sub-threshold live sets; this record pins the
        // DISTRIBUTED refinement path's exponent, so force it
        noop(graft.graph.GraphOps.sccDF(vm, em,
          localFinishThreshold = 0))
      }
      vm.unpersist(); em.unpersist()
      t
    }
    val t1 = run(20000)
    val t10 = run(200000)
    val exp = math.log10(t10 / t1)
    info(f"sccDF: t1=$t1%.2fs t10=$t10%.2fs exponent=$exp%.2f")
    assert(exp < 1.2, f"refinement should stay ~linear under " +
      f"bounded class diameter, got $exp%.2f")
  }

  test("qp_unigram_segment: neighborhood A/B (measurement record)") {
    assume(scale10, "set SPARK_GRAFT_SCALE10=1 to re-measure")
    val iso = timeQ("qp_unigram_segment", sf01, rounds = 5)
    for (n <- Seq("qp_lsh_recall", "qp_ppjoin_blocked", "qp_ppjoin_pairs"))
      noop(SparkEntry.queries(n)(spark, sf01))
    val after = timeQ("qp_unigram_segment", sf01, rounds = 5)
    info(f"isolated=$iso%.2fs after-ppjoin-family=$after%.2fs")
    // the r9 flag was a 60% inflation; the named suspects must not
    // reproduce anything like it
    assert(after < iso * 1.35,
      f"ppjoin-family neighbors inflate unigram_segment: " +
        f"$iso%.2f -> $after%.2f")
  }
}

package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Behavioral invariants for the round-8 extension operators:
  * market-basket association (frequentPairs/itemRecs), grid-blocked
  * DBSCAN, CUSUM shift detection, EWMA forecasting and PMI
  * collocations. Every check is against hand-computed exact values,
  * plus partitioning invariance (the gate hash-compares results, so
  * task order must never leak into them).
  */
class AssociationDensitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // --- association ---------------------------------------------------

  /** 4 baskets: {1,2,3} {1,2} {1,2,4} {5} — pair (1,2) in 3 baskets,
    * (1,3)/(2,3)/(1,4)/(2,4) in 1, item 5 and singleton pairs below
    * the support floor. */
  private lazy val baskets =
    Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 4L), (13L, 5L))
      .toDF("basket", "item")

  test("frequentPairs counts, lift and confidence are exact") {
    val out = Association.frequentPairs(baskets, "basket", "item",
      minItemSupport = 1, minPairSupport = 2, topK = 10).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("item_a") == 1L && r.getAs[Long]("item_b") == 2L)
    assert(r.getAs[Long]("n_pair") == 3L)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    // lift = 3*4/(3*3), conf = 3/3
    assert(r.getAs[Double]("lift") == math.rint(3.0 * 4 / 9 * 1e4) / 1e4)
    assert(r.getAs[Double]("conf_ab") == 1.0)
  }

  test("the Apriori depth-1 prune removes infrequent items before pairing") {
    // with minItemSupport = 2, items 3/4/5 (1 basket each) are pruned,
    // so no pair containing them can appear even at minPairSupport = 1
    val out = Association.frequentPairs(baskets, "basket", "item",
      minItemSupport = 2, minPairSupport = 1, topK = 10).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("itemRecs is symmetric and ranks by cosine") {
    val out = Association.itemRecs(baskets, "basket", "item",
      minItemSupport = 1, minPairSupport = 1, perItem = 2).collect()
    val byItem = out.groupBy(_.getAs[Long]("item"))
    // item 3 co-occurs once with 1 and once with 2 (cos 1/sqrt(3) each);
    // tie broken by n_pair then rec id → rec 1 first
    val r3 = byItem(3L).sortBy(_.getAs[Int]("rnk"))
    assert(r3.map(_.getAs[Long]("rec")).toSeq == Seq(1L, 2L))
    assert(r3.head.getAs[Double]("sim") ==
      math.rint(1.0 / math.sqrt(3.0) * 1e4) / 1e4)
    // item 1's best rec is 2 (cos 3/sqrt(9) = 1)
    assert(byItem(1L).minBy(_.getAs[Int]("rnk")).getAs[Long]("rec") == 2L)
  }

  test("frequentPairs is partitioning-invariant") {
    def run(parts: Int) =
      Association.frequentPairs(baskets.repartition(parts), "basket",
        "item", 1, 1, 20).collect().map(_.toSeq).toSeq
    assert(run(1) == run(7))
  }

  // --- DBSCAN --------------------------------------------------------

  /** two 3-point blobs 1000 apart + one far singleton; eps 10 minPts 3:
    * blob points are all core, the singleton is noise. A 4th point 9
    * away from blob A's edge (but > eps from its other members) is
    * BORDER: within eps of exactly one core, itself only 2-strong. */
  private lazy val pts = Seq(
    (1L, 100L, 100L), (2L, 105L, 100L), (3L, 100L, 105L), // blob A core
    (4L, 113L, 100L),                                     // border via 2
    (5L, 2000L, 2000L), (6L, 2005L, 2000L), (7L, 2000L, 2005L), // blob B
    (8L, 5000L, 9000L)                                    // noise
  ).toDF("id", "x", "y")

  test("dbscan separates core, border and noise exactly") {
    val out = Density.dbscan(pts, "id", "x", "y", eps = 10L, minPts = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Boolean]("is_core"), r.getAs[Long]("cluster")))).toMap
    assert(out(1L) == ((true, 1L)) && out(2L) == ((true, 1L)) &&
      out(3L) == ((true, 1L)))
    assert(out(4L) == ((false, 1L)), "point 4 is border of cluster 1")
    assert(out(5L) == ((true, 5L)) && out(6L) == ((true, 5L)) &&
      out(7L) == ((true, 5L)))
    assert(out(8L) == ((false, -1L)), "the singleton is noise")
  }

  test("dbscan neighbor counts include the point itself") {
    val out = Density.dbscan(pts, "id", "x", "y", eps = 10L, minPts = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_nbr"))
      .toMap
    assert(out(8L) == 1L)
    assert(out(1L) == 3L) // self + 2 blob mates (point 4 is 13 away)
  }

  test("dbscan leaves no cached frames behind") {
    // pairs/cores are persisted for the multi-consumer stages; both
    // must be released once the output materializes (qp_dbscan runs
    // in every gate suite — a leak becomes suite-wide storage debris)
    spark.catalog.clearCache()
    Density.dbscan(pts, "id", "x", "y", eps = 10L, minPts = 3).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "dbscan must unpersist its pair and core caches")
  }

  test("dbscan is partitioning-invariant") {
    def run(parts: Int) =
      Density.dbscan(pts.repartition(parts), "id", "x", "y", 10L, 3)
        .orderBy("id").collect().map(_.toSeq).toSeq
    assert(run(1) == run(5))
  }

  test("gate-shape dbscan oracle unroll reaches the CC fixpoint") {
    // the qp_dbscan oracle unrolls min-label propagation 16 rounds;
    // this pins the invariant it relies on at the gate scale: on the
    // sf0.01-shaped point set, exact-fixpoint CC labels =
    // a 16-round brute-force label prop
    val n = 500
    val ids = spark.range(n).select(col("id"))
    val h = TextOps.hash60(concat(lit("dbscan:"), col("id").cast("string")))
    val ptsBig = ids.withColumn("h", h)
      .withColumn("x", when(col("id") % 17 === 0, expr("h % 3000"))
        .otherwise(expr("((id % 9) % 3) * 1000 + h % 200")))
      .withColumn("y", when(col("id") % 17 === 0,
          expr("(h div 3000) % 3000"))
        .otherwise(expr("((id % 9) div 3) * 1000 + (h div 200) % 200")))
      .select(col("id"), col("x"), col("y"))
    val out = Density.dbscan(ptsBig, "id", "x", "y", 80L, 4)
      .filter(col("is_core")).select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force label prop over the same core-core edges
    val rows = ptsBig.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2)))
    def near(a: (Long, Long, Long), b: (Long, Long, Long)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3
      dx * dx + dy * dy <= 6400L
    }
    val cores = rows.filter(p => rows.count(q => near(p, q)) >= 4)
      .map(_._1).toSet
    var lbl = cores.map(i => i -> i).toMap
    val edges = for {
      a <- rows if cores(a._1); b <- rows
      if cores(b._1) && a._1 < b._1 && near(a, b)
    } yield (a._1, b._1)
    val adj = (edges ++ edges.map(_.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // SYNCHRONOUS rounds — the oracle's exact update rule
    for (_ <- 1 to 16) {
      lbl = lbl.map { case (id, l) =>
        val nb = adj.getOrElse(id, Array.empty[Long])
        id -> (if (nb.isEmpty) l else math.min(l, nb.map(lbl).min))
      }
    }
    assert(out == lbl, "16 label-prop rounds must reach the CC fixpoint")
  }

  // --- time series ---------------------------------------------------

  /** 10 daily buckets of a step series: 7 days at 2 events, then 3 days
    * at 12 — mean 5, the CUSUM peak lands on the last day. */
  private lazy val stepEvents = {
    val rows = for {
      d <- 0 until 10
      k <- 0 until (if (d < 7) 2 else 12)
    } yield ("load", new java.sql.Timestamp(
      d * 86400000L + k * 1000L), 10.0 + d)
    rows.toDF("event_type", "ts", "value")
  }

  test("cusumShift finds the mean shift at its exact integer peak") {
    val out = Funnel.cusumShift(stepEvents, "ts", "event_type").collect()
    assert(out.length == 1)
    val r = out.head
    // D=10, S=50; deviations x*10-50: 7×(−30), 3×(+70); T runs to
    // −210 then climbs +70/day; prefix-min −210 ⇒ peak 210 at day 9
    assert(r.getAs[Long]("n_buckets") == 10L)
    assert(r.getAs[Long]("peak_bucket") == 9L)
    assert(r.getAs[Long]("peak_cusum") == 210L)
    assert(r.getAs[Long]("peak_n") == 12L)
  }

  test("cusumShift is partitioning-invariant") {
    def run(parts: Int) =
      Funnel.cusumShift(stepEvents.repartition(parts), "ts", "event_type")
        .collect().map(_.toSeq).toSeq
    assert(run(1) == run(6))
  }

  test("ewmaForecast matches the closed form on a hand series") {
    // 3 buckets, one event each of value 1.00, 2.00, 4.00 (oldest
    // first); α=0.5 → weights 1e6, 5e5, 25e4 micro
    val e = Seq(
      ("buy", new java.sql.Timestamp(0L), 1.0),
      ("buy", new java.sql.Timestamp(86400000L), 2.0),
      ("buy", new java.sql.Timestamp(2 * 86400000L), 4.0)
    ).toDF("event_type", "ts", "value")
    val out = Funnel.ewmaForecast(e, "ts", "event_type", "value",
      alpha = 0.5, maxBuckets = 8).collect()
    assert(out.length == 1)
    val w = Funnel.ewmaWeightsMicro(0.5, 8)
    val num = 400L * w(0) + 200L * w(1) + 100L * w(2)
    val den = w(0) + w(1) + w(2)
    val expected = math.rint(num.toDouble / den / 100.0 * 1e4) / 1e4
    assert(out.head.getAs[Long]("n_buckets") == 3L)
    assert(out.head.getAs[Double]("forecast") == expected)
  }

  test("ewmaForecast horizon drops buckets older than maxBuckets") {
    val e = Seq(
      ("buy", new java.sql.Timestamp(0L), 100.0),         // falls out
      ("buy", new java.sql.Timestamp(9 * 86400000L), 2.0),
      ("buy", new java.sql.Timestamp(10 * 86400000L), 4.0)
    ).toDF("event_type", "ts", "value")
    val out = Funnel.ewmaForecast(e, "ts", "event_type", "value",
      alpha = 0.5, maxBuckets = 2).collect()
    assert(out.head.getAs[Long]("n_buckets") == 2L)
    val w = Funnel.ewmaWeightsMicro(0.5, 2)
    val expected = math.rint((400L * w(0) + 200L * w(1)).toDouble /
      (w(0) + w(1)) / 100.0 * 1e4) / 1e4
    assert(out.head.getAs[Double]("forecast") == expected)
  }

  // --- PMI -----------------------------------------------------------

  test("pmiCollocations surfaces the planted collocation") {
    // "rare pair" always co-occurs; filler words are spread across
    // many different neighbors, so pmi(rare,pair) tops the ranking
    val docsDf = (0 until 30).map { i =>
      (i.toLong, s"rare pair w$i common w${i % 7} common w${(i * 3) % 11}")
    }.toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docsDf, "text", minPair = 5,
      topK = 5).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getAs[String]("w1") == "rare" &&
      top.getAs[String]("w2") == "pair")
    assert(out.forall(r => r.getAs[Long]("n_pair") >= 5L))
  }
}

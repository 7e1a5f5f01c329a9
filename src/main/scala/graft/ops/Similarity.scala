package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * scans the corpus once — the right plan when queries ≪ corpus; the
  * LSH variant buckets vectors by random-hyperplane sign bits so
  * candidate generation shuffles on bucket ids instead of computing
  * n×m cosines (IVF-style: probe only matching buckets).
  * Dot products and norms are native compiled expressions
  * ([[VectorExprs]]) — the HOF (`zip_with`+`aggregate`) forms run an
  * interpreted lambda per element, which is the pair-scoring inner
  * loop at 100 TB; results are bit-identical to the HOF fold order.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  def norm(a: Column): Column = VectorExprs.norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Two-level exact top-k ranking over a scored (q_id, n_id, cos)
    * frame: per-(query, input-partition) top-k first — each task keeps
    * at most k rows per query — then the global top-k over the
    * ≤ k·numPartitions survivors. A single window over q_id would put
    * one query's ENTIRE candidate list in one task: invisible at test
    * scale, a guaranteed straggler/OOM at 100 TB. The local pass is
    * exact: the global top-k is a subset of the union of per-partition
    * top-ks, and the (cos desc, n_id) order is total, so the final
    * ranking is identical to the one-level plan. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankTopKBy(scored, k, "cos", ascending = false)

  /** generalized two-level ranker: ascending for distances (PQ/ADC),
    * descending for similarities. Ranks on the UNROUNDED value; the
    * output value rounds to 6 decimals. */
  private[ops] def rankTopKBy(scored: DataFrame, k: Int, valCol: String,
      ascending: Boolean): DataFrame = {
    val ord = if (ascending) col(valCol).asc else col(valCol).desc
    val local = Window.partitionBy(col("q_id"), col("__pid"))
      .orderBy(ord, col("n_id"))
    val global = Window.partitionBy(col("q_id"))
      .orderBy(ord, col("n_id"))
    scored.withColumn("__pid", spark_partition_id())
      .withColumn("__lr", row_number().over(local))
      .filter(col("__lr") <= k)
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"),
        round(col(valCol), 6).as(valCol), col("rnk"))
  }

  /** brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); the corpus is scanned
    * once and ranked per query id via the two-level [[rankTopK]].
    * Norms are computed once per side BEFORE the join — a pair then
    * costs one dot product, not three array aggregations. ASSUMES
    * queries and corpus share one id space: a corpus row with a
    * query's id is treated as the query itself and excluded.
    * Returns (q_id, n_id, cos, rnk). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv"))))
    val c = Partitioning.spread(corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("__cv")))
      .withColumn("__cn", norm(col("__cv")))
    rankTopK(
      c.crossJoin(q)
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")))
        .select(col("q_id"), col("n_id"), col("cos")),
      k)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998,
    * public paper): greedily pick `k` of the candidates maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} cos(·, s)` — the diversity-aware
    * subset selection that de-redundantizes a retrieval head or a
    * training batch. `candidates` MUST be a bounded pre-ranked set (an
    * ANN top-N, a per-stratum head): collecting it is control-plane by
    * the same argument as the PQ query LUTs, and the greedy loop is
    * O(k·N) driver arithmetic. Determinism: relevance enters ROUNDED
    * (6 dp, the repo's cosine display convention), pairwise cosines
    * fold left-to-right like [[VectorExprs.dot]], ties break to the
    * lower id — the oracle unrolls the identical greedy steps in SQL
    * with constants printed from THESE Scala doubles.
    *
    * The bounded-head contract is SELF-ENFORCING: the collect fetches at
    * most `maxCandidates + 1` rows (driver memory is bounded by
    * construction even on a pathological input) and an oversized
    * candidate frame fails loudly instead of silently materializing a
    * corpus on the driver. */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambda: Double,
      maxCandidates: Int = 10000): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    require(maxCandidates > 0, "mmrSelect: maxCandidates must be positive")
    val fetched = candidates
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        col(relCol).cast("double"))
      .limit(maxCandidates + 1)
      .collect()
    require(fetched.length <= maxCandidates,
      s"mmrSelect: candidate head exceeds maxCandidates=$maxCandidates — " +
        "pre-rank and limit the frame (ANN top-N / per-stratum head) " +
        "before diversity selection")
    val rows = fetched
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0d; var na = 0.0d; var nb = 0.0d
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecOf = rows.map(r => r._1 -> r._2).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(
      rows.map(r => r._1 -> r): _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.valuesIterator.map { case (id, v, rel) =>
        val pen =
          if (selected.isEmpty) 0.0d
          else selected.map { case (sid, _) => cos(v, vecOf(sid)) }.max
        (id, lambda * rel - (1 - lambda) * pen)
      }.toSeq
      val (bestId, bestScore) = scored.maxBy { case (id, s) => (s, -id) }
      selected += ((bestId, bestScore))
      remaining.remove(bestId)
    }
    // integer micro-units via the float path DuckDB's round() takes
    // (y = s·1e6 then half-away): λ·(6-dp rel) lands EXACTLY on a
    // decimal half at 6 dp for every step-1 score, where an
    // exact-decimal BigDecimal view and the float-multiply view
    // disagree — going through the identical y double on both sides
    // makes the boundary deterministic
    selected.zipWithIndex.map { case ((id, s), i) =>
      val y = s * 1e6
      val m = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
      (i + 1, id, m.toLong)
    }.toSeq.toDF("rnk", idCol, "mmr_micro")
  }

  /** Sign-bit binarization: dim float dims → ceil(dim/32) longs, 32
    * dims per word in bits 0..31 (never bit 63, so no sign-bit
    * arithmetic in any engine). 32× storage cut; Hamming distance on
    * the packed words approximates angular distance (Charikar 2002
    * sign-random-projection family — here the identity projection:
    * the embedding's own coordinate signs). Pure codegen'd column
    * math: 32 when-terms per word, like the simhash bit sums. */
  def signPack(vec: Column, dim: Int): Seq[Column] = {
    require(dim >= 1, "signPack needs dim >= 1")
    (0 until (dim + 31) / 32).map { w =>
      (0 until math.min(32, dim - w * 32)).map { b =>
        when(element_at(vec, w * 32 + b + 1) > 0d, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
  }

  /** Binary ANN: top-k nearest corpus vectors per query under Hamming
    * distance over the sign-packed words — the rerank-ready cheap
    * first stage (xor + bit_count per word pair ≈ 2 instructions vs
    * dim multiply-adds for cosine; the packed table is 32× smaller
    * than the float corpus). Queries broadcast; ranking via the same
    * two-level [[rankTopKBy]] as the float ANN paths — no per-query
    * single-task candidate list. Ties break on (dist, n_id).
    * Returns (q_id, n_id, dist, rnk). */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int): DataFrame = {
    val words = (dim + 31) / 32
    def packed(df: DataFrame, idAs: String, pfx: String) =
      df.select(col(idCol).as(idAs) +:
        signPack(col(vecCol).cast("array<double>"), dim)
          .zipWithIndex.map { case (c, i) => c.as(s"$pfx$i") }: _*)
    val q = broadcast(packed(queries, "q_id", "qh"))
    val c = Partitioning.spread(packed(corpus, "n_id", "ch"))
    val dist = (0 until words)
      .map(i => bit_count(col(s"qh$i").bitwiseXOR(col(s"ch$i"))))
      .reduce(_ + _)
    rankTopKBy(
      c.crossJoin(q)
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("dist", dist.cast("long"))
        .select(col("q_id"), col("n_id"), col("dist")),
      k, "dist", ascending = true)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse
    * per-query rankings from heterogeneous retrievers — e.g. a cheap
    * binary Hamming first stage and an exact cosine ranker, or
    * BM25 × ANN hybrid search. Each input carries (q_id, n_id, rnk);
    * score(q, d) = Σ_systems 1/(kc + rank_s(d)), documents missing
    * from a system contribute nothing. The union is retriever-output
    * sized (systems × queries × k rows), never corpus-sized; the
    * score is one partial-combining sum-groupBy and the final top-k
    * rides the same two-level [[rankTopKBy]] as the ANN paths. With
    * two systems the double sum has at most two addends, so it is
    * order-exact on both engines. Returns (q_id, n_id, rrf, rnk). */
  def rrfFuse(rankings: Seq[DataFrame], kc: Int, k: Int): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kc >= 1 && k >= 1, "rrfFuse needs kc >= 1, k >= 1")
    val u = rankings.map(_.select(col("q_id"), col("n_id"), col("rnk")))
      .reduce(_.unionByName(_))
    val scored = u.groupBy("q_id", "n_id")
      .agg(sum(lit(1.0) / (col("rnk") + lit(kc))).as("rrf"))
    rankTopKBy(scored, k, "rrf", ascending = false)
  }

  /** seeded random hyperplanes (rounded so literals are identical when
    * re-generated for the DuckDB oracle). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes, dim)(math.rint(rng.nextGaussian() * 1e4) / 1e4)
  }

  /** LSH bucket id: sign bits of the dot products with the fixed
    * hyperplanes, packed into an int. Vectors in the same bucket are
    * cosine-close with high probability. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val d = dot(vec, array(p.map(lit): _*))
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Seeded ±1 Rademacher rows for Johnson-Lindenstrauss projection
    * (Achlioptas 2003: sign entries preserve pairwise distances with
    * the same guarantee as Gaussian entries, at integer-add cost).
    * The oracle SQL prints these SAME values as literals — repo rule:
    * seeded constants are generated, never hand-copied. */
  def rademacher(outDim: Int, dim: Int, seed: Long = 13L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(outDim, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** JL random projection dim → outDim: each output coordinate is one
    * compiled [[VectorExprs.dot]] against a fixed ±1 row, scaled by
    * 1/√outDim so expected pairwise L2 distances are preserved — a
    * distance sketch that makes downstream candidate scoring (cosine
    * near-dup, ANN shortlists) dim/outDim× cheaper. One narrow
    * codegen'd projection: no shuffle, no UDF — at 100 TB this runs
    * map-side at scan speed, and the projected table is outDim/dim
    * the size of the corpus.
    * Output: (idCol, p0..p{outDim−1}), rounded to 6 decimals (same
    * rounding in the oracle). */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      rows: Seq[Seq[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = math.sqrt(rows.length.toDouble)
    val outs = rows.zipWithIndex.map { case (r, j) =>
      round(dot(v, array(r.map(lit): _*)) / lit(scale), 6).as(s"p$j") }
    df.select(col(idCol) +: outs: _*)
  }

  /** driver-resident centroid: CONTROL-PLANE metadata (k·dim doubles —
    * the same payload a broadcast would ship) collected once and
    * inlined as ONE array literal, so cell assignment is a narrow
    * per-row expression: no join, no window, no shuffle. The previous
    * formulation crossJoined every corpus row with all k centroids and
    * resolved argmax via a row_number window — k× shuffle inflation
    * per pass (4096× at IVF-realistic k). */
  case class Centroid(cell: Int, cv: Seq[Double], cn: Double)

  /** collect a (small, bounded-by-k) centroid table driver-side. The
    * norm uses the same left-fold order as [[norm]], so the doubles
    * stay bit-identical to a Spark-evaluated norm. */
  def collectCentroids(centroids: DataFrame, idCol: String,
      vecCol: String): Seq[Centroid] =
    centroids.select(col(idCol).cast("int"),
        col(vecCol).cast("array<double>"))
      .collect()
      .map { r =>
        val cv = r.getSeq[Double](1)
        Centroid(r.getInt(0), cv,
          math.sqrt(cv.foldLeft(0.0d)((acc, x) => acc + x * x)))
      }.toSeq.sortBy(_.cell)

  /** the `topCells` nearest centroid cells by cosine (ties → lower
    * cell id): no join, no window, no shuffle — one narrow call into
    * the native [[NearestCentroidCells]] expression, whose compiled
    * primitive-array loop keeps the stage inside whole-stage codegen
    * at any k (an unrolled expression tree breaks Janino past
    * k·dim ≈ 16k; a HOF lambda is interpreted per element). */
  private def nearestCells(vec: Column, nrm: Column,
      cents: Seq[Centroid], topCells: Int): Column =
    NearestCentroidCells(vec, nrm, cents, topCells)

  /** corpus cell assignment (n_id, __cv, __cn, cell) — one narrow
    * projection over the scan; PlanShapeSpec pins the no-join/no-
    * window/no-shuffle shape. */
  def cellAssignments(corpus: DataFrame, cents: Seq[Centroid],
      idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .withColumn("cell",
        element_at(nearestCells(col("__cv"), col("__cn"), cents, 1), 1))

  /** IVF-style ANN: coarse-quantize the corpus into k cells
    * (assignment = nearest centroid by cosine, computed as a narrow
    * expression over the centroid literal), then answer each query by
    * probing only the `nProbe` nearest cells. The inverted file is the
    * (cell → vectors) partitioning; at 100 TB the corpus is written
    * bucketed by cell so a probe reads `nProbe/k` of the data instead
    * of all of it. Deterministic given fixed centroids. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    val cells = cellAssignments(corpus, cents, idCol, vecCol)
    val probes = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("probe",
        explode(nearestCells(col("__qv"), col("__qn"), cents, nProbe)))
    // pairs are already unique: each corpus vector is in exactly one
    // cell and a query's probes are distinct cells — no distinct
    // needed. Queries are the small side: broadcast the probes and
    // scan the cells once.
    rankTopK(
      cells.join(broadcast(probes), col("probe") === col("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")))
        .select(col("q_id"), col("n_id"), col("cos")),
      k)
  }

  /** Materialize the inverted file ON DISK: corpus cell assignments
    * written directory-partitioned by `cell`. This is the 100 TB
    * layout the [[ivfTopK]] Scaladoc promises — made concrete:
    * one directory per cell, so a probe lists (and reads) only the
    * probed cells' files. One-time layout cost at ingestion. */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dir: String): Unit = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    graft.sources.Bucketing.writePartitioned(
      cellAssignments(corpus, cents, idCol, vecCol), dir, Seq("cell"))
  }

  /** Append an ingestion batch to an on-disk [[writeIvfIndex]] index —
    * the live-corpus maintenance path the text side already has
    * ([[graft.ops.TextOps.bm25AppendIndex]]): ONLY the batch is
    * encoded, with the FROZEN centroids the index was built with
    * (re-training would silently re-assign the already-indexed corpus
    * — load them from the model registry, never re-fit per batch),
    * and appended into the same cell directories. Writers repartition
    * on the directory key (the appendDedupIndex discipline) so a
    * batch adds one file per touched cell, not shufflePartitions ×
    * cells micro-files. A probe after any append is row-identical to
    * a full rebuild over (corpus ∪ batches): assignment is a pure
    * function of (vector, frozen centroids) and the probe reads whole
    * cell directories. Caller contract: batch ids are globally fresh
    * (the bm25Append/dedup-index contract). */
  def appendIvfIndex(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, dir: String): Unit = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    cellAssignments(batch, cents, idCol, vecCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(dir)
  }

  /** Probe an on-disk [[writeIvfIndex]] index. The probed cell set is
    * resolved up front (control-plane sized: ≤ queries × nProbe ints)
    * and pushed as a LITERAL `cell IN (...)` predicate, so Catalyst
    * prunes the non-probed directories at PLANNING time — the scan
    * reads nProbe/k of the corpus instead of filtering it after a
    * full read. BucketingSpec pins PartitionFilters + pruned file
    * counts; results are row-identical to the in-memory [[ivfTopK]]. */
  def ivfTopKIndexed(spark: SparkSession, indexDir: String,
      queries: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents = collectCentroids(centroids, idCol, vecCol)
    val probes = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("probe",
        explode(nearestCells(col("__qv"), col("__qn"), cents, nProbe)))
    val probeCells = probes.select("probe").distinct()
      .collect().map(_.getInt(0)).toSeq
    graft.sources.Bucketing.requireCommitted(spark, indexDir)
    val cells = spark.read.parquet(indexDir)
      .filter(col("cell").isin(probeCells: _*))
    rankTopK(
      cells.join(broadcast(probes), col("probe") === col("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", dot(col("__qv"), col("__cv")) /
          (col("__qn") * col("__cn")))
        .select(col("q_id"), col("n_id"), col("cos")),
      k)
  }

  /** Lloyd k-means iterations for IVF centroid TRAINING (ivfTopK
    * consumes the result): assignment by max cosine (the same metric
    * the probe path uses), update = dimension-wise per-cell mean,
    * rounded to 6 decimals each round so both engines iterate on
    * identical inputs. Deterministic given fixed initial centroids.
    *
    * Scale shape per iteration: broadcast the k centroids, one corpus
    * scan for assignment (no shuffle), then posexplode → partial-agg
    * shuffle on (cell, dim) — k·dim result rows. Centroids
    * materialize via localCheckpoint per round (loop rule; also keeps
    * the broadcast input stable instead of recomputing a
    * nondeterministic float aggregation). Cells that lose all members
    * drop out, matching the unrolled oracle.
    *
    * Returns (cell, dim, c, n_members) — the trained centroid matrix
    * in long form plus the final assignment sizes. */
  def kmeansCentroids(corpus: DataFrame, init: DataFrame, idCol: String,
      vecCol: String, iters: Int): DataFrame =
    trainCentroids(corpus, init, idCol, vecCol, iters)
      .select(col("cell"), col("n_members"),
        posexplode(col("cv")).as(Seq("dim", "c")))
      .select(col("cell"), col("dim"), col("c"), col("n_members"))

  /** array-form trained centroids (cell, cv) — feed straight into
    * [[ivfTopK]] as its centroid table. */
  def kmeansCentroidVectors(corpus: DataFrame, init: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame =
    trainCentroids(corpus, init, idCol, vecCol, iters)
      .select(col("cell"), col("cv"))

  /** Per Lloyd round: assignment is a narrow expression over the
    * centroid literal (no join, no window, no shuffle — the previous
    * crossJoin+row_number shuffled k×n rows per round), then ONE
    * partial-combining (cell, dim) aggregation whose k·dim result
    * collects driver-side. The collected centroid matrix is
    * control-plane metadata (what the broadcast shipped anyway); with
    * it in hand each round's plan starts from literals + the persisted
    * corpus, so lineage never grows and no checkpoint is needed. The
    * fixed-point integer sums make the collected doubles bit-identical
    * regardless of partitioning. */
  private def trainCentroids(corpus: DataFrame, init: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame = {
    require(iters >= 1, s"kmeansCentroids needs iters >= 1, got $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = Partitioning.spread(
      corpus.select(col(idCol).as("__id"),
          col(vecCol).cast("array<double>").as("__v"))
        .withColumn("__vn", norm(col("__v"))))
      .persist()
    var cents = collectCentroids(init, idCol, vecCol)
    var state: Seq[(Int, Seq[Double], Long)] = Nil
    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cell",
          element_at(nearestCells(col("__v"), col("__vn"), cents, 1), 1))
        .select(col("cell"), col("__v"))
      // count(x) per (cell, dim) equals the cell's member count — the
      // mean and the size come out of one aggregation. The mean is
      // FIXED-POINT: values quantize to integer micro-units first, so
      // the sum is exact integer arithmetic — float summation order
      // (partition-dependent) can never flip a rounding boundary
      val upd = assigned
        .select(col("cell"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(round(col("x") * 1e6).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        // exact integer sum / exact double division → the quotient is
        // BIT-IDENTICAL on any engine; no rounding (a round() here
        // would re-introduce decimal-vs-binary midpoint divergence)
        .withColumn("m", col("sx") / (col("n") * 1e6))
      state = upd.groupBy(col("cell"))
        .agg(transform(
            array_sort(collect_list(struct(col("dim"), col("m")))),
            s => s.getField("m")).as("cv"),
          max(col("n")).as("n_members"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      cents = state.map { case (cell, cv, _) =>
        Centroid(cell, cv,
          math.sqrt(cv.foldLeft(0.0d)((acc, x) => acc + x * x)))
      }
    }
    c.unpersist()
    state.toDF("cell", "cv", "n_members")
  }

  /** SemDeDup-style semantic deduplication: train k-means cells, use
    * the cells as blocking keys for exact within-cell cosine pairs,
    * and drop every vector with a near-identical neighbor of smaller
    * id (the smallest id in each epsilon-ball survives). The cells
    * bound the quadratic verification — the 100 TB shape: a narrow
    * assignment pass and per-cell pair generation, never a global
    * pairwise comparison. Returns the kept corpus rows + their cell. */
  def semanticDedup(corpus: DataFrame, init: DataFrame, idCol: String,
      vecCol: String, iters: Int, threshold: Double): DataFrame = {
    val cents = collectCentroids(
      kmeansCentroidVectors(corpus, init, idCol, vecCol, iters)
        .select(col("cell").cast("long").as(idCol), col("cv").as(vecCol)),
      idCol, vecCol)
    // materialize ONLY the (id, cell) frame: three consumers read it
    // (both pair sides + the anti-join), and without the checkpoint
    // each re-runs the k-dot-products-per-row assignment pass. Two
    // narrow columns ≈ 1e-3 of corpus bytes at 100 TB — cheap to hold,
    // no persist lifecycle to manage (A/B: 3.0 → 1.9 s at sf0.1)
    val cells = cellAssignments(corpus, cents, idCol, vecCol)
      .select(col("n_id").as(idCol), col("cell"))
      .localCheckpoint()
    val withCell = corpus.join(cells, Seq(idCol))
    val drops = cosinePairs(withCell, idCol, vecCol,
        blockCols = Seq("cell"), threshold)
      .select(col("b_id").as(idCol)).distinct()
    withCell.join(drops, Seq(idCol), "left_anti")
  }

  /** Per-stratum mean embedding (domain/source centroids — the
    * summary vectors that drive mixture design, drift monitoring and
    * cluster seeding): dimension-wise mean in long form (stratum,
    * dim, c, n_members). The mean is FIXED-POINT (the k-means rule):
    * values quantize to integer micro-units, the sum is exact integer
    * arithmetic, and the final exact-int / exact-double quotient is
    * bit-identical on any engine — float summation order can never
    * flip a rounding boundary. ONE posexplode → partial-combining
    * (stratum, dim) aggregation; result is strata × dim rows
    * (control-plane sized), never a collected corpus. */
  def meanEmbedding(df: DataFrame, strataCol: String,
      vecCol: String): DataFrame =
    Partitioning.spread(df)
      .select(col(strataCol),
        posexplode(col(vecCol).cast("array<double>"))
          .as(Seq("dim", "__x")))
      .groupBy(col(strataCol), col("dim"))
      .agg(sum(round(col("__x") * 1e6).cast("long")).as("__sx"),
        count(lit(1)).as("n_members"))
      .select(col(strataCol), col("dim"),
        (col("__sx") / (col("n_members") * 1e6)).as("c"),
        col("n_members"))

  /** Embedding-space outlier detection — the centroid-distance
    * quality filter for embedded corpora (mis-embedded, garbage, or
    * mislabeled vectors sit far from their label's centroid; SemDeDup
    * prunes the over-close, this prunes the over-far): per label the
    * k vectors LEAST cosine-similar to their own fixed-point centroid
    * ([[meanEmbedding]]'s exact micro-unit means, so the centroid —
    * and therefore every cosine — replays bit-identically).
    *
    * Scale shape: centroids are (labels × dim) control-plane rows
    * assembled per label and BROADCAST; scoring is one narrow
    * projection over the corpus; ranking reuses the two-level
    * [[rankTopKBy]] ladder keyed by label, so a giant label's
    * candidates never serialize into one window task. Returns
    * (label, vec_id, cos, rnk) with rnk 1 = farthest. */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val cent = meanEmbedding(df, labelCol, vecCol)
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
        .as("__dc"))
      .select(col(labelCol),
        transform(col("__dc"), x => x.getField("c")).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = Partitioning.spread(df)
      .select(col(labelCol), col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__vn", norm(col("__v")))
      .join(broadcast(cent), labelCol)
      .withColumn("cos", dot(col("__v"), col("__cv")) /
        (col("__vn") * col("__cn")))
      .select(col(labelCol).as("q_id"), col("n_id"), col("cos"))
    rankTopKBy(scored, k, "cos", ascending = true)
      .select(col("q_id").as(labelCol), col("n_id").as(idCol),
        col("cos"), col("rnk"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max|x|/127, values round to [-127, 127]. At 100 TB this
    * is the 4× storage/IO cut that makes the embedding corpus
    * scannable; the dequantized cosine stays within ~1e-3 of the
    * float original. Deterministic arithmetic → oracle-able. */
  def quantizeInt8(vec: Column): Column = {
    val scale = aggregate(vec, lit(0.0d),
      (acc, v) => greatest(acc, abs(v))) / 127.0
    // all-zero vectors have scale 0: dividing by it yields NaN→null
    // int8s; divide by 1 instead (0/1 = 0, and dequantize × scale=0
    // restores the zeros exactly)
    val safe = when(scale === 0.0d, lit(1.0d)).otherwise(scale)
    struct(
      scale.as("scale"),
      transform(vec, v => round(v / safe, 0).cast("int")).as("q"))
  }

  /** dequantize back to doubles. */
  def dequantize(q: Column): Column =
    transform(q.getField("q"),
      v => v.cast("double") * q.getField("scale"))

  /** exact cosine near-dup pairs within blocking keys (quadratic PER
    * BLOCK — blocking keys bound the pair count; the LSH variant is
    * the unblocked scale path). Norms precomputed per vector. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val spread = df.repartition(
      df.sparkSession.sparkContext.defaultParallelism)
    val v = spread.select((Seq(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")) ++
        blockCols.map(col)): _*)
      .withColumn("__n", norm(col("__v")))
    val a = v.select((Seq(col("__id").as("a_id"), col("__v").as("__va"),
      col("__n").as("__na")) ++ blockCols.map(col)): _*)
    val b = v.select((Seq(col("__id").as("b_id"), col("__v").as("__vb"),
      col("__n").as("__nb")) ++ blockCols.map(col)): _*)
    val joined = if (blockCols.isEmpty) a.crossJoin(b)
      else a.join(b, blockCols)
    joined.filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(dot(col("__va"), col("__vb")) /
        (col("__na") * col("__nb")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
  }

  /** ANN evaluation — recall@k of an approximate ranking against the
    * exact one (the number every IVF/PQ deployment tunes nProbe/code
    * budget by; recall 1.0 = the approximation lost nothing for that
    * query). Both inputs are (q_id, n_id, …, rnk) ranking frames (the
    * [[bruteForceTopK]]/[[ivfTopK]] shape). Exact integer counts and
    * micro-unit ratios; queries the approximation missed entirely
    * report 0, not absence.
    *
    * Scale shape: two rank filters + one (q_id, n_id) equi-join +
    * per-query partial-agg count — ranking frames are k·queries
    * rows, control-plane sized relative to the corpora that built
    * them. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = exact.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    val a = approx.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    val hits = e.join(a, Seq("q_id", "n_id"))
      .groupBy("q_id").agg(count(lit(1)).as("hits"))
    e.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall_micro", expr(s"hits * 1000000L div $k"))
  }

  /** Position-weighted ANN evaluation — nDCG@k of an approximate
    * ranking against the exact one ([[recallAtK]] scores set overlap;
    * nDCG additionally charges for returning the right items at the
    * WRONG positions, the standard ranked-retrieval figure). Graded
    * relevance of an item = k − exact_rank + 1 (linear gain, 0 for
    * items outside the exact top-k); DCG discounts by log2(rank + 1).
    *
    * Determinism: each DCG term is rounded to an INTEGER micro-unit
    * before the per-query sum (float sums are order-dependent; integer
    * sums are not), and nDCG closes with an integral divide — the
    * engine-portable fixed-point discipline. Queries where the
    * approximation found nothing report 0, not absence. Same
    * control-plane scale shape as [[recallAtK]]. */
  def ndcgAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val rel = exact.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"),
        (lit(k) - col("rnk") + 1).as("__rel"))
    val dcg = approx.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk").as("__rb"))
      .join(rel, Seq("q_id", "n_id")) // missed items contribute 0
      .withColumn("__t", round(col("__rel") * lit(1000000.0) /
        log2(col("__rb") + 1), 0).cast("long"))
      .groupBy("q_id").agg(sum(col("__t")).as("dcg_micro"))
    // ideal rank of a rel-r item is k − r + 1, so its discount is
    // log2(k − rel + 2) — the exact frame replayed in perfect order
    val ideal = rel
      .withColumn("__t", round(col("__rel") * lit(1000000.0) /
        log2(lit(k) - col("__rel") + 2), 0).cast("long"))
      .groupBy("q_id").agg(sum(col("__t")).as("__idcg"))
    exact.filter(col("rnk") <= k).select("q_id").distinct()
      .join(dcg, Seq("q_id"), "left")
      .join(ideal, Seq("q_id"))
      .withColumn("dcg_micro", coalesce(col("dcg_micro"), lit(0L)))
      .withColumn("ndcg_micro", expr("dcg_micro * 1000000L div __idcg"))
      .select("q_id", "dcg_micro", "ndcg_micro")
  }

  /** Reciprocal-rank and average-precision evaluation — MRR@k and
    * MAP@k of an approximate ranking against the exact one (the two
    * remaining standard ranked-retrieval figures next to recall /
    * nDCG / tau; MRR reads "how soon is the first right answer", AP
    * "how front-loaded are ALL the right answers"). Relevant =
    * member of the exact top-k. Per query: RR = 1/rank of the first
    * relevant item in the approximate list; AP = (Σ over relevant
    * positions p of P@p) / R with P@p = hits-so-far/p and R the
    * exact top-k size. Every term is an exact integer micro-unit
    * BEFORE its sum (i·10⁶ div p), closes integral — order-free.
    * Queries where the approximation found nothing report 0.
    *
    * Scale shape: one (q_id, n_id) equi-join of two k·queries
    * ranking frames + a per-query hit window (≤ k rows per query) —
    * control-plane sized, same as [[recallAtK]].
    * Output: (q_id, n_rel_found, rr_micro, ap_micro). */
  def mrrMapAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val rel = exact.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    val hits = approx.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk").as("__p"))
      .join(rel, Seq("q_id", "n_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("__p"))
    val perQ = hits.withColumn("__i", row_number().over(w))
      .withColumn("__prec",
        expr("cast(__i as bigint) * 1000000 div __p"))
      .groupBy("q_id")
      .agg(min(col("__p")).as("__first"), sum(col("__prec")).as("__sp"),
        count(lit(1)).as("n_rel_found"))
    val rcount = rel.groupBy("q_id").agg(count(lit(1)).as("__r"))
    rel.select("q_id").distinct()
      .join(perQ, Seq("q_id"), "left")
      .join(rcount, Seq("q_id"))
      .withColumn("n_rel_found", coalesce(col("n_rel_found"), lit(0L)))
      .withColumn("rr_micro", coalesce(
        expr("1000000 div __first"), lit(0L)))
      .withColumn("ap_micro", coalesce(expr("__sp div __r"), lit(0L)))
      .select("q_id", "n_rel_found", "rr_micro", "ap_micro")
  }

  /** Ranking agreement — per-query Kendall tau between two top-k
    * rankings over their COMMON items ([[recallAtK]] asks "did the
    * approximation find the right items"; this asks "did it ORDER
    * them the same" — the pair tells recall-loss apart from
    * rank-scramble when tuning nProbe/code budgets or comparing
    * retrievers): over common items, concordant minus discordant
    * pairs over total pairs, in micro-units. Ranks are row_numbers
    * (no ties), counts exact integers; the close floors a double
    * quotient on BOTH engines (negative numerators — the
    * lrCalibration convention). Queries with < 2 common items report
    * null tau (nothing to order). Pair enumeration is bounded at
    * k²/2 per query — control-plane sized. Returns (q_id, n_common,
    * concordant, discordant, tau_micro). */
  def rankAgreement(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val common = a.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk").as("__ra"))
      .join(b.filter(col("rnk") <= k)
        .select(col("q_id"), col("n_id"), col("rnk").as("__rb")),
        Seq("q_id", "n_id"))
    val pairs = common.select(col("q_id"), col("n_id").as("__i1"),
        col("__ra").as("__a1"), col("__rb").as("__b1"))
      .join(common.select(col("q_id"), col("n_id").as("__i2"),
        col("__ra").as("__a2"), col("__rb").as("__b2")), Seq("q_id"))
      .filter(col("__i1") < col("__i2"))
      .withColumn("__s",
        (col("__a1") - col("__a2")) * (col("__b1") - col("__b2")))
    val agg = common.groupBy("q_id")
      .agg(count(lit(1)).as("n_common"))
      .join(pairs.groupBy("q_id")
        .agg(sum(when(col("__s") > 0, 1L).otherwise(0L)).as("concordant"),
          sum(when(col("__s") < 0, 1L).otherwise(0L)).as("discordant")),
        Seq("q_id"), "left")
    agg
      .withColumn("concordant", coalesce(col("concordant"), lit(0L)))
      .withColumn("discordant", coalesce(col("discordant"), lit(0L)))
      .withColumn("tau_micro", when(col("n_common") >= 2,
        floor(((col("concordant") - col("discordant")) * lit(1000000L))
            .cast("double") /
          (col("concordant") + col("discordant")).cast("double"))
          .cast("long")))
      .select(col("q_id"), col("n_common"), col("concordant"),
        col("discordant"), col("tau_micro"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings" —
    * the CCMatrix/LASER recipe): score each candidate pair by its
    * cosine RELATIVE to both endpoints' k-NN neighborhoods,
    *   margin(x,y) = cos(x,y) / ((Σ NN_k(x) cos + Σ NN_k(y) cos)/2k),
    * then keep MUTUAL best matches above `minMargin` — absolute-cosine
    * thresholds can't separate aligned pairs from dense monolingual
    * neighborhoods; the margin normalizes by local density.
    *
    * `src` is the bounded shard side (BROADCAST, the [[bruteForceTopK]]
    * queries contract — a full corpus×corpus mine shards src and/or
    * composes with [[ivfTopK]] candidates); `tgt` is the scanned
    * corpus. Both ranking directions read ONE shared pair-score frame:
    * forward top-k rides the two-level [[rankTopKBy]]; the per-pair
    * windows below run over the candidate frame, bounded at k·|src|
    * rows by construction.
    *
    * Determinism: neighborhood sums add 6-dp-rounded cosines as EXACT
    * micro-unit integers (k-term double sums would be order-sensitive);
    * the margin is ONE double division of those integers, rounded to
    * 6 dp, with ties broken to the lower partner id; pairs whose
    * neighborhoods have no positive similarity mass (Σ ≤ 0) are not
    * minable and are dropped. Returns (x_id, y_id, cos, margin). */
  def bitextMine(src: DataFrame, tgt: DataFrame, idCol: String,
      vecCol: String, k: Int, minMargin: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    val x = broadcast(src.select(col(idCol).as("x_id"),
        col(vecCol).cast("array<double>").as("__xv"))
      .withColumn("__xn", norm(col("__xv"))))
    val y = Partitioning.spread(tgt.select(col(idCol).as("y_id"),
        col(vecCol).cast("array<double>").as("__yv")))
      .withColumn("__yn", norm(col("__yv")))
    val scored = y.crossJoin(x)
      .withColumn("__c", dot(col("__xv"), col("__yv")) /
        (col("__xn") * col("__yn")))
      .select(col("x_id"), col("y_id"), col("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val c6 = round(col("cos") * lit(1e6), 0).cast("long")
    val fwd = rankTopKBy(scored.select(col("x_id").as("q_id"),
        col("y_id").as("n_id"), col("__c").as("cos")), k, "cos",
        ascending = false)
      .withColumn("__c6", c6)
    val bwd = rankTopKBy(scored.select(col("y_id").as("q_id"),
        col("x_id").as("n_id"), col("__c").as("cos")), k, "cos",
        ascending = false)
      .withColumn("__c6", c6)
    val fs = fwd.groupBy(col("q_id").as("x_id"))
      .agg(sum(col("__c6")).as("__fs"))
    val bs = bwd.groupBy(col("q_id").as("y_id"))
      .agg(sum(col("__c6")).as("__bs"))
    // candidate pairs = forward top-k; the x-derived frames are
    // k·|src|-bounded, so they BROADCAST against the |tgt|-sized
    // backward sums
    val cand = bs.join(
        broadcast(fwd.select(col("q_id").as("x_id"), col("n_id")
            .as("y_id"), col("cos"), col("__c6"))
          .join(fs, "x_id")),
        "y_id")
      .filter(col("__fs") + col("__bs") > 0)
      .withColumn("margin", round(
        (col("__c6") * lit(2L * k)).cast("double") /
          (col("__fs") + col("__bs")).cast("double"), 6))
    val byX = Window.partitionBy(col("x_id"))
      .orderBy(col("margin").desc, col("y_id"))
    val byY = Window.partitionBy(col("y_id"))
      .orderBy(col("margin").desc, col("x_id"))
    val out = cand.withColumn("__rx", row_number().over(byX))
      .withColumn("__ry", row_number().over(byY))
      .filter(col("__rx") === 1 && col("__ry") === 1 &&
        col("margin") >= minMargin)
      .select(col("x_id"), col("y_id"), col("cos"), col("margin"))
      // materialize before releasing the shared pair-score frame —
      // the mined set is output-sized
      .localCheckpoint()
    scored.unpersist()
    out
  }
}

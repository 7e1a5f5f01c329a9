package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextOps._

/** Deduplication operators for large-scale corpus curation. All are
  * pure DataFrame transforms designed for the 100 TB regime:
  *
  *  - exact: one hash-shuffle groupBy — the minimum possible cost;
  *  - MinHash+LSH: shingle-explode → codegen'd min-aggregates (partial
  *    map-side combine) → band keys → shuffle ONLY on band buckets →
  *    exact-Jaccard verify on candidates. Avoids the O(n²) cross join;
  *    cost ≈ (bands × n) shuffled small rows + candidate verification.
  *    Signatures use explode+groupBy, not per-row lambda transforms:
  *    higher-order functions are interpreted in Spark, hash aggregates
  *    are whole-stage-codegen'd;
  *  - SimHash: one 32-bit signature per doc (same explode+agg shape),
  *    pairs compared only inside blocking keys (hamming ≤ t);
  *  - n-gram Jaccard: exact pairwise over DISTINCT HASHED shingles
  *    (long arrays, not strings), restricted by blocking keys —
  *    the quadratic fallback you run per-block, never globally;
  *  - embedding cosine near-dup lives in [[Similarity]].
  *
  * The Jaccard pair family shares one of each decision: one corpus
  * explode ([[shingledCorpus]]) and one set build ([[shingleSets]]),
  * one block key ([[blockKey]] — null block values form one block in
  * every blocked generator), one exact verify ([[verifyJaccard]]) for
  * the candidate generators (minhash, index probe, ppjoin), and one
  * blocked self-join ([[blockedSelfJoin]]) for the exact-quadratic
  * ones (n-gram, containment, simhash).
  */
object Dedup {

  private def spread(df: DataFrame): DataFrame = Partitioning.spread(df)

  /** Default pairwise-candidate budget for the saturation pre-flight
    * (r14): MEASUREMENTS.md §r13 records a vocabulary-saturated corpus driving
    * lang-blocked ppjoin past 8 minutes at 30× with NO early signal —
    * the candidate self-join is the only unbounded stage in the dedup
    * family. Before launching it, the generators aggregate the
    * bucket/prefix/block occupancy they already computed into a
    * predicted candidate count (Σ n·(n−1)/2 — the join's exact
    * pre-distinct output size) and refuse with guidance when it
    * exceeds the budget. 2e9 is ~100× the sf0.1 gate workloads (28.9M
    * raw ppjoin collisions) and well past any healthy corpus at any
    * scale — blocked occupancy is corpus-size-free; only saturation
    * reaches it. Pass `candidateBudget <= 0` to disable. */
  val DefaultCandidateBudget: Long = 2000000000L

  /** estimate-only occupancy pass shared by the minhash and ppjoin
    * generators: ONE aggregation over the small (id, key) frame the
    * self-join would key on. Raises IllegalStateException with
    * actionable guidance instead of grinding an n² stage. */
  private def preflightCandidates(keyed: DataFrame, keyCols: Seq[String],
      budget: Long, op: String, guidance: String): Unit = {
    if (budget <= 0) return
    checkOccupancy(keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")), budget, op, guidance)
  }

  /** the raise half of [[preflightCandidates]], callable on an
    * already-computed `(…, __n)` occupancy frame (the capped minhash
    * path reuses the cap's own counts — no second counting job). */
  private def checkOccupancy(counts: DataFrame, budget: Long,
      op: String, guidance: String): Unit = {
    val r = counts
      .agg(sum(col("__n") * (col("__n") - 1)).as("__pairs2"),
        max(col("__n")).as("__hot"), count(lit(1)).as("__k"))
      .head()
    val pred = (if (r.isNullAt(0)) 0L else r.getLong(0)) / 2
    if (pred > budget)
      throw new IllegalStateException(
        s"$op pre-flight: predicted $pred candidate pairs across " +
          s"${r.getLong(2)} buckets (hottest holds ${r.getLong(1)} " +
          s"docs) exceeds candidateBudget=$budget — the key space is " +
          s"saturated. $guidance")
  }

  /** exact duplicate groups by content hash: (hash, n, keep_id).
    * `keep` = smallest id — the canonical survivor. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep"))
      .filter(col("n") > 1)

  /** Exact dedup with PRIORITY survivor selection: within each
    * identical-content group, keep the row minimizing `(priority,
    * id)` — the "keep the best copy" curation step (dedup across
    * sources/snapshots keeps the highest-priority source's copy, id
    * as the total-order tiebreak). Returns one row per distinct
    * content: the surviving row's `keepCols` plus the group size.
    *
    * Skew shape: survivor selection is `min_by`, a partial-combining
    * aggregate — a boilerplate text duplicated across millions of
    * rows arrives at the reduce side pre-combined to one candidate
    * per map task. A row_number window over the hash would serialize
    * each hot group into one task; this never does. */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      priority: Column, keepCols: Seq[String]): DataFrame = {
    val payload = struct((idCol +: keepCols.filterNot(_ == idCol))
      .map(col): _*)
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min_by(payload, struct(priority, col(idCol))).as("__keep"),
        count(lit(1)).as("n_copies"))
      .select((idCol +: keepCols.filterNot(_ == idCol))
        .map(c => col(s"__keep.$c").as(c)) :+ col("n_copies"): _*)
  }

  /** Jaccard from a precomputed intersection size (computed ONCE —
    * inlining it twice doubles the array_intersect work). */
  private def jacFromInter(inter: Column, a: Column, b: Column): Column =
    round(inter.cast("double") / (size(a) + size(b) - inter), 6)

  /** The one block-key encoding of the blocked family: the block
    * columns as ONE struct column `__blk`. Struct equality treats null
    * fields as equal, so docs with null block values form one block of
    * their own in every blocked generator (the minhash oracles replay
    * this with IS NOT DISTINCT FROM), and the pre-flight counts that
    * block exactly as the self-join forms it. No block columns, no key. */
  private def blockKey(blockCols: Seq[String]): Seq[Column] =
    if (blockCols.isEmpty) Nil
    else Seq(struct(blockCols.map(col): _*).as("__blk"))

  /** the block key columns a frame carries: `__blk` or none. */
  private def blkKeys(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(_ == "__blk")

  /** ONE shingle-exploded corpus pass `(__id, [__blk], __h)`, `__h` =
    * hash60 of each character shingle (md5 runs once per shingle,
    * inside whole-stage codegen — not an interpreted array lambda).
    * Spread is applied here. Every signature and set builder starts
    * from this frame. */
  private def shingledCorpus(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int,
      blockCols: Seq[String] = Nil): DataFrame =
    spread(df).select(col(idCol).as("__id") +: blockKey(blockCols) :+
        explode(charShingles(col(textCol), shingleN)).as("__s"): _*)
      .withColumn("__h", hash60(col("__s"))).drop("__s")

  /** the k minhash min-aggregates over `__h` (codegen'd, map-side
    * partial) — shared by [[minhashSigs]] and [[sigSets]]. */
  private def minhashAggs: Seq[Column] =
    minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * (col("__h") % MinhashP) + lit(b)) % MinhashP).as(s"s$i")
    }

  /** a doc's distinct shingle hashes, sorted ascending AT SET BUILD
    * (once per doc) so every verify site — including the on-disk index
    * format [[writeDedupIndex]] persists — runs the compiled
    * [[SortedOverlap]] merge-scan per pair instead of an
    * array_intersect hash build. */
  private def shingleSet: Column = sort_array(collect_set(col("__h"))).as("__sh")

  /** The one set build `(__id, [__blk], <aggs>, __sh)`: ONE corpus
    * explode + ONE partial-combining aggregation. `aggs` rides the same
    * aggregation ([[minhashAggs]] for the banded generators), so the
    * signature and the verify set never cost two corpus passes. Not
    * persisted here — callers persist for the scope they need. Docs
    * with no shingles (text shorter than the shingle width) never
    * enter it: they can never verify, and in the banded generators
    * their degenerate band keys would send candidate generation
    * quadratic (~10¹² pairs at 100 TB). */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, blockCols: Seq[String],
      aggs: Seq[Column] = Nil): DataFrame = {
    val shingled = shingledCorpus(df, idCol, textCol, shingleN, blockCols)
    val all = aggs :+ shingleSet
    shingled.groupBy(col("__id") +: blkKeys(shingled).map(col): _*)
      .agg(all.head, all.tail: _*)
  }

  /** minhash signature table (idCol, s0..s{k-1}) via shingle explode +
    * k codegen'd min-aggregates — one shuffle, map-side partials. */
  def minhashSigs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4): DataFrame = {
    val sigs = shingledCorpus(df, idCol, textCol, shingleN)
      .groupBy(col("__id").as(idCol))
      .agg(minhashAggs.head, minhashAggs.tail: _*)
    // left join keeps shingle-less docs (null signature) — explode
    // would otherwise silently drop them from the output
    df.select(col(idCol)).distinct().join(sigs, Seq(idCol), "left")
  }

  /** (band, id) bucket rows for LSH candidate generation. Exposed for
    * the hot-bucket spec: null-signature docs (text shorter than the
    * shingle width — empty strings are common in real crawls) can never
    * verify (their Jaccard nulls out), but `concat_ws` SKIPS nulls, so
    * keeping them would collapse every shingle-less doc into the same
    * `bands` degenerate band keys — candidate generation then goes
    * quadratic in their count (~10¹² pairs at 100 TB). They are
    * excluded here; bucket rows grow O(bands·n), never O(n²). */
  private[graft] def bandBuckets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, bands: Int): DataFrame =
    bandBucketsFromSigs(minhashSigs(df, idCol, textCol, shingleN)
      .withColumnRenamed(idCol, "__id"), bands)

  /** band-key explode over a signature table (__id, [__blk],
    * s0..s{k-1}, ...) — the shared core of [[bandBuckets]] and the
    * banded generators. Band key = band index + concatenated sig
    * slice; explode to (__id, [__blk], __band): candidate generation
    * shuffles ONLY small keys. A bucket is a `(__blk, __band)` key when
    * blocked, which confines every candidate pair to one block. */
  private def bandBucketsFromSigs(sigs: DataFrame, bands: Int): DataFrame = {
    val rowsPerBand = MinhashK / bands
    val bandKeys = (0 until bands).map { b =>
      val ks = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"s$i"))
      concat_ws("_", lit(b) +: ks: _*)
    }
    sigs.filter(col("s0").isNotNull)
      .select(col("__id") +: blkKeys(sigs).map(col) :+
        explode(array(bandKeys: _*)).as("__band"): _*)
  }

  /** The per-doc signature + sorted-shingle-set table
    * `(__id, s0..s{k-1}, __sh)` — the one set build with the minhash
    * aggregates. Exposed so a caller composing the exact ppjoin and the
    * banded MinHash generator over the SAME corpus (the lsh-recall eval
    * shape) can build this once, persist it, and feed
    * [[minhashPairsOnSigSets]] AND [[ppjoinPairsOnSigSets]]: separately
    * the two generators re-scan, re-shingle and re-aggregate the
    * corpus — and ppjoin's distinct (id, hash) base is exactly the
    * EXPLODE of `__sh`, so sharing also deletes a corpus-sized distinct
    * exchange. Caller persists (it feeds ≥ 4 join sides). */
  def sigSets(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 4): DataFrame =
    shingleSets(df, idCol, textCol, shingleN, Nil, minhashAggs)

  /** MinHash-LSH near-duplicate pairs: candidates from band-bucket
    * collisions, verified by exact shingle Jaccard ≥ `threshold`.
    * Returns (a_id, b_id, jac).
    *
    * ONE exploded corpus pass feeds BOTH the signature min-aggregates
    * and the verify shingle sets ([[sigSets]]) — computed separately
    * they each scan and shingle the whole corpus (two scans, two
    * shuffles); fused they cost one scan and one partial-combining
    * groupBy. The fused table feeds four join sides (two bucket, two
    * verify), so it is persisted for the duration of the call: Spark's
    * exchange reuse does NOT cover upstream aggregations (measured: the
    * lazy form recomputes them per consuming side, 4× slower
    * end-to-end — a full extra corpus pass per probe side at scale).
    * The threshold-filtered pair output is tiny; it is materialized via
    * localCheckpoint so the cache can be released before returning —
    * scoped, nothing accumulates across calls. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 4, bands: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    val base = sigSets(df, idCol, textCol, shingleN).persist()
    try minhashPairsOnSigSets(base, threshold, bands, candidateBudget)
    finally base.unpersist()
  }

  /** [[minhashPairs]] over a pre-built (caller-persisted — it feeds
    * four join sides) [[sigSets]] table. */
  def minhashPairsOnSigSets(base: DataFrame, threshold: Double,
      bands: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    require(bands > 0 && MinhashK % bands == 0,
      s"bands must evenly divide MinhashK=$MinhashK, got $bands")
    minhashPairsCore(base, bandBucketsFromSigs(base, bands), threshold,
      candidateBudget = candidateBudget)
  }

  /** [[minhashPairs]] run INSIDE caller-supplied blocking keys — the
    * banded analog of [[ppjoinPairsBlocked]], and the shipped escape
    * for vocabulary-SATURATED corpora: MEASUREMENTS.md §r13 records the
    * unblocked banding going QUADRATIC past one decade on the fixed-
    * vocabulary shape (e30 = 2.09 — a fixed signature space means
    * bucket occupancy grows ∝ n, so collisions grow ∝ n²). The block
    * key on every band bucket bounds occupancy per block; the total is
    * the sum over blocks, not the corpus square. Same caller contract
    * as the rest of the blocked family: near-dups never split across
    * blocks (lang / source / length-band are the deployment keys);
    * WITHIN a block the candidate generation and the exact-Jaccard
    * verify are the unchanged [[minhashPairs]] machinery. NULL block
    * values form ONE block of their own ([[blockKey]]). */
  def minhashPairsBlocked(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleN: Int = 4, bands: Int = 4, maxBucket: Int = 0,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    require(blockCols.nonEmpty,
      "blockCols must be non-empty — use minhashPairs for the unblocked join")
    require(bands > 0 && MinhashK % bands == 0,
      s"bands must evenly divide MinhashK=$MinhashK, got $bands")
    val base = shingleSets(df, idCol, textCol, shingleN, blockCols,
      minhashAggs).persist()
    try minhashPairsCore(base, bandBucketsFromSigs(base, bands), threshold,
      maxBucket, candidateBudget)
    finally base.unpersist()
  }

  /** candidate self-join + exact-Jaccard verify shared by the
    * unblocked and blocked banded modes. `maxBucket > 0` drops band
    * buckets with more members than the cap BEFORE the self-join —
    * the standard production escape for SATURATED signature spaces
    * (MEASUREMENTS.md §r13: on a fixed-vocabulary corpus most documents share
    * the globally-minimal shingle hashes, so one mega-bucket holds
    * ~the whole corpus and candidates go n² even inside blocks). A
    * hot bucket is a degenerate signature, not a near-dup signal; the
    * WRITTEN recall trade: a true pair whose every agreeing band is
    * hot is lost — callers bound that risk by keeping the cap well
    * above the expected duplicate-group size (pigeonhole still
    * guarantees each true pair shares ≥1 band; only saturation-scale
    * buckets are dropped). */
  private def minhashPairsCore(base: DataFrame, buckets: DataFrame,
      threshold: Double, maxBucket: Int = 0,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    val guidance =
      "Block finer (minhashPairsBlocked with more selective " +
        "blockCols), set maxBucket to drop saturation-scale buckets " +
        "(MEASUREMENTS.md §r13: the cap held the saturated 30x point " +
        "at 23 s), " +
        "or raise candidateBudget if the join size is intended."
    // saturation pre-flight (r14): refuse before the self-join, not
    // 8 minutes into it — judged AFTER the cap on what would actually
    // join; the capped path reads its estimate off the cap's own
    // persisted counts frame, so the guard adds one trivial agg, not
    // a second counting pass (measured: the naive double-count read
    // 1.21x on qp_minhash_capped in the r14 close A/B)
    val keys = blkKeys(buckets) :+ "__band"
    var capCounts: Option[DataFrame] = None
    val kept =
      if (maxBucket <= 0) {
        preflightCandidates(buckets, keys, candidateBudget,
          "minhash banding", guidance)
        buckets
      } else {
        // two passes over the SMALL (id, band) frame: count, then an
        // anti-join against the hot keys — never a window sort
        val counts = buckets.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n")).persist()
        capCounts = Some(counts)
        if (candidateBudget > 0)
          checkOccupancy(counts.filter(col("__n") <= maxBucket),
            candidateBudget, "minhash banding", guidance)
        val hot = counts.filter(col("__n") > maxBucket)
          .select(keys.map(col): _*)
        buckets.join(hot, keys, "left_anti")
      }
    try {
      def side(id: String) =
        kept.select(keys.map(col) :+ col("__id").as(id): _*)
      val candidates = side("a_id").join(side("b_id"), keys)
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      verifyJaccard(candidates, base, base, threshold)
    } finally capCounts.foreach(_.unpersist())
  }

  /** Exact pairs `(a_id, b_id, jac)` with Jaccard ≥ `threshold` from
    * rows carrying both sorted shingle sets `__sha`/`__shb`: the
    * compiled [[SortedOverlap]] merge-scan per pair with a
    * threshold-bound early exit (-1 = provably below threshold, a
    * strictly looser bound than the rounded jac filter — never drops a
    * pair that filter would keep). array_intersect would build a hash
    * set per pair, the dominant stage cost (MEASUREMENTS.md §r7:
    * verify was 2.8-3.0 s of 7.5 s). */
  private def jaccardAtLeast(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("__i",
        VectorExprs.sortedOverlap(col("__sha"), col("__shb"), threshold))
      .filter(col("__i") >= 0)
      .select(col("a_id"), col("b_id"),
        jacFromInter(col("__i"), col("__sha"), col("__shb")).as("jac"))
      .filter(col("jac") >= threshold)

  /** The one exact-Jaccard verify of the candidate generators
    * (banded minhash, index probe, ppjoin): join the `(a_id, b_id)`
    * candidates to the `(__id, __sh)` set frames by id — array payloads
    * move once per candidate side, never through buckets — then
    * [[jaccardAtLeast]]. shuffle_hash on the sets sides: the pair side
    * carries the __sha arrays after the first join — an SMJ would SORT
    * those wide rows by b_id; the hash join builds on the
    * (one-row-per-doc, so unskewable) sets side and only exchanges the
    * wide rows. The small output is localCheckpoint'd so callers can
    * release their caches before returning. */
  private def verifyJaccard(cands: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double): DataFrame =
    jaccardAtLeast(cands
        .join(setsA.select(col("__id").as("a_id"), col("__sh").as("__sha"))
          .hint("shuffle_hash"), "a_id")
        .join(setsB.select(col("__id").as("b_id"), col("__sh").as("__shb"))
          .hint("shuffle_hash"), "b_id"),
        threshold)
      .localCheckpoint()

  /** On-disk incremental MinHash-LSH dedup index — the "corpus grows
    * daily" deployment shape: dedup a new batch against an indexed
    * corpus WITHOUT recomputing the corpus' signatures. Band postings
    * land in `hash(band_key) mod nBuckets` directories and shingle
    * sets in `hash(id) mod nBuckets` directories, so a probe prunes
    * to the directories its batch actually hashes into at PLANNING
    * time (literal partition filters, the [[graft.sources.Bucketing]]
    * pattern) — probe IO is proportional to min(batch bands, nBuckets)
    * directory slices, not the corpus. [[appendDedupIndex]] folds a
    * verified batch in with an append write (caller contract: batch
    * ids are globally fresh — a colliding id would duplicate its
    * postings). */
  def writeDedupIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, shingleN: Int = 4, bands: Int = 4,
      nBuckets: Int = 64): Unit =
    writeDedupIndexMode(df, idCol, textCol, dir, shingleN, bands,
      nBuckets, "overwrite")

  def appendDedupIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, shingleN: Int = 4, bands: Int = 4,
      nBuckets: Int = 64): Unit =
    writeDedupIndexMode(df, idCol, textCol, dir, shingleN, bands,
      nBuckets, "append")

  private def writeDedupIndexMode(df: DataFrame, idCol: String,
      textCol: String, dir: String, shingleN: Int, bands: Int,
      nBuckets: Int, mode: String): Unit = {
    require(bands > 0 && MinhashK % bands == 0 && nBuckets >= 1,
      "bands must divide MinhashK; nBuckets >= 1")
    val base = sigSets(df, idCol, textCol, shingleN).persist()
    // repartition ON the directory key: one writer per bucket slice,
    // not shufflePartitions × nBuckets micro-files (scale by raising
    // shuffle partitions — writers stay aligned to directories)
    bandBucketsFromSigs(base, bands)
      .withColumn("__bkt", pmod(hash60(col("__band")), lit(nBuckets.toLong)))
      .repartition(col("__bkt"))
      .write.mode(mode).partitionBy("__bkt").parquet(s"$dir/bands")
    base.select(col("__id"), col("__sh"))
      .withColumn("__bkt",
        pmod(hash60(col("__id").cast("string")), lit(nBuckets.toLong)))
      .repartition(col("__bkt"))
      .write.mode(mode).partitionBy("__bkt").parquet(s"$dir/sets")
    base.unpersist()
  }

  /** Probe a [[writeDedupIndex]] index with a new batch: candidates
    * from band-key collisions against the PRUNED posting directories,
    * verified by exact shingle Jaccard against the PRUNED set
    * directories — row-identical to what [[minhashPairs]] would
    * report for (index ∪ batch) pairs that cross the two sides. Both
    * bucket lists are control-plane (≤ nBuckets longs). Returns
    * (a_id, b_id, jac) with a_id from the index, b_id from the
    * batch. */
  def probeDedupIndex(spark: SparkSession, dir: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 4, bands: Int = 4,
      nBuckets: Int = 64): DataFrame = {
    val base = sigSets(newDocs, idCol, textCol, shingleN).persist()
    val newBands = bandBucketsFromSigs(base, bands)
      .withColumn("__bkt",
        pmod(hash60(col("__band")), lit(nBuckets.toLong)))
    val hitBkts = newBands.select("__bkt").distinct()
      .collect().map(_.getLong(0)).toSeq
    graft.sources.Bucketing.requireCommitted(spark, s"$dir/bands")
    graft.sources.Bucketing.requireCommitted(spark, s"$dir/sets")
    val postings = spark.read.parquet(s"$dir/bands")
      .filter(col("__bkt").isin(hitBkts: _*))
    val candidates = postings
      .select(col("__band"), col("__id").as("a_id"))
      .join(newBands.select(col("__band"), col("__id").as("b_id")),
        Seq("__band"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct().persist()
    val aBkts = candidates
      .select(pmod(hash60(col("a_id").cast("string")),
        lit(nBuckets.toLong)).as("__k"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val oldSets = spark.read.parquet(s"$dir/sets")
      .filter(col("__bkt").isin(aBkts: _*))
    val pairs = verifyJaccard(candidates, oldSets, base, threshold)
    candidates.unpersist(); base.unpersist()
    pairs
  }

  /** EXACT similarity self-join via prefix filtering (PPJoin family —
    * Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008, public papers):
    * every pair with shingle Jaccard ≥ `threshold`, with NO false
    * negatives — the exact complement to [[minhashPairs]] (LSH loses
    * pairs with band-collision probability < 1) and to
    * [[ngramJaccardPairs]] (whose blocking keys are caller-contracted
    * to not split near-dups).
    *
    * Prefix principle: order each doc's shingle set by global rarity
    * (freq asc, hash asc — a total order); two sets with Jaccard ≥ t
    * MUST share a shingle among each one's first n − ⌈t·n⌉ + 1
    * ("prefix") shingles, so candidates = prefix-token collisions
    * only. Rare-first ordering makes prefixes collide rarely — the
    * candidate count approaches the true output size instead of the
    * all-pairs square.
    *
    * MEASURED BOUNDARY (MEASUREMENTS.md §r8, the 10× run): rare-first only works
    * when the shingle vocabulary GROWS with the corpus (Heaps' law on
    * natural text). On a vocabulary-SATURATED corpus every prefix
    * shingle's frequency scales with n and collision pairs grow ~n²
    * (measured exponent 2.27 on the fixed-31-word testdata shape).
    * There, use [[minhashPairs]] (candidates track the true pair
    * count — measured 0.88) or [[ngramJaccardPairs]] inside blocking
    * keys; ppjoin is the exact-no-false-negatives tool for
    * natural-vocabulary corpora and post-blocking slices.
    *
    * Scale shape: ONE exploded corpus pass persisted for its three
    * consumers (frequency table, prefix explode, verify sets); the
    * per-doc rarity rank is a PER-DOC window (bounded by doc length,
    * never a hot corpus key); candidates shuffle only (hash, id)
    * pairs; verification joins the collected shingle sets by id —
    * exactly the minhash verify shape. The frequency table join is a
    * shuffle join on the shingle hash (a 100 TB corpus' shingle
    * vocabulary is not broadcastable). Returns (a_id, b_id, jac). */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame =
    ppjoinCorpus(df, idCol, textCol, threshold, shingleN, Nil,
      candidateBudget)

  /** [[ppjoinPairs]] over a pre-built (caller-persisted) [[sigSets]]
    * table — unblocked only (the blocked variant derives its block
    * key from the source rows). The distinct (id, hash) base is the
    * EXPLODE of the `__sh` sets (narrow — sets are distinct by
    * construction, so no distinct exchange), and the verify reads
    * `__sh` directly instead of re-aggregating candidate sets: every
    * row this produces is identical to [[ppjoinPairs]]' — same rarity
    * order, same filters, same merge-scan verify. */
  def ppjoinPairsOnSigSets(base: DataFrame, threshold: Double,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame =
    ppjoinCore(
      base.select(col("__id"), explode(col("__sh")).as("__h")),
      _ => base.select(col("__id"), col("__sh")),
      threshold, candidateBudget)

  /** [[ppjoinPairs]] run INSIDE caller-supplied blocking keys — the
    * exact sub-quadratic escape for vocabulary-SATURATED corpora
    * (the 2.27 exponent measured in MEASUREMENTS.md §r8): candidates only form
    * between docs agreeing on `blockCols`, so prefix-collision growth
    * is bounded per block and the total is the SUM over blocks, not
    * the corpus square. Same blocking contract as
    * [[ngramJaccardPairs]]/[[simhashPairs]]/containmentPairs: the
    * caller asserts near-dups never split across blocks (lang /
    * source / domain are the deployment keys); WITHIN a block the
    * join stays exact with no false negatives — the rarity order,
    * prefix bound, positional/length filters and merge-scan verify
    * are the unchanged [[ppjoinPairs]] machinery, with block-LOCAL
    * shingle frequencies (rarity within the block is what prunes;
    * global rarity would be diluted by other blocks' mass).
    * Returns (a_id, b_id, jac). */
  def ppjoinPairsBlocked(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleN: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    require(blockCols.nonEmpty,
      "blockCols must be non-empty — use ppjoinPairs for the unblocked join")
    ppjoinCorpus(df, idCol, textCol, threshold, shingleN, blockCols,
      candidateBudget)
  }

  /** ppjoin over a raw corpus: the distinct `(__id, [__blk], __h)`
    * base from the one corpus explode, persisted for its consumers. */
  private def ppjoinCorpus(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int, blockCols: Seq[String],
      candidateBudget: Long): DataFrame = {
    // MEMORY_AND_DISK_SER, not the default: inside a query SUITE these
    // frames compete for storage memory with neighboring queries'
    // caches — an evicted default-level block is silently RECOMPUTED
    // (explode + distinct here; freq-join + window for prefix), which
    // measured as a 2.4× in-suite vs isolated gap at sf0.1. Serialized
    // blocks shrink the footprint and evictions spill to local disk
    // instead of recomputing.
    val base = shingledCorpus(df, idCol, textCol, shingleN, blockCols)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // verify sets ONLY for docs that survived candidate pruning: the
    // semi-join runs BEFORE collect_set, so non-candidate docs (the
    // overwhelming majority at corpus scale after rare-first pruning)
    // never materialize a shingle array at all
    val pairs = ppjoinCore(base,
      candIds => base.join(candIds, Seq("__id"), "left_semi")
        .groupBy("__id")
        .agg(shingleSet),
      threshold, candidateBudget)
    base.unpersist()
    pairs
  }

  /** shared middle of the ppjoin family: `base` = distinct
    * (__id, [__blk], __h) rows (persisted by the caller when its plan
    * is expensive to replay); `setsFor(candIds)` supplies the sorted
    * shingle-set frame (__id, __sh) the verify joins — either built
    * from `base` restricted to candidates, or a pre-aggregated
    * [[sigSets]] table. */
  private def ppjoinCore(base: DataFrame,
      setsFor: DataFrame => DataFrame, threshold: Double,
      candidateBudget: Long): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // every join/groupBy below keys on (__blk, __h) when blocked and
    // plain __h when not
    val keyCols = blkKeys(base) :+ "__h"
    val diskSer = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val freq = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__f"), col("__h"))
    // the set-size count shares w's partitioning AND ordering (full
    // frame), so Catalyst folds both into ONE Window operator — a
    // bare partitionBy count would add a second sort pass
    val wAll = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // shuffle_hash: SMJ would SORT both sides by __h; the hash join
    // pays the same exchange without the sorts (the __h key is a
    // near-uniform hash — no build-side skew by construction)
    val prefix = base.join(freq.hint("shuffle_hash"), keyCols)
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      // prefix length n − ⌈t·n⌉ + 1; float ceil can only round UP,
      // which lengthens the prefix — always safe (superset)
      .filter(col("__r") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(keyCols.map(col) ++ Seq(col("__id"), col("__r"), col("__n")): _*)
      // consumed by BOTH sides of the candidate self-join: exchange
      // reuse only covers the shuffle below the Window — unpersisted,
      // the window + freq join would recompute per side
      .persist(diskSer)
    // Candidate pruning BEFORE the array-intersect verify (the verify
    // dominates cost at ~|set| work per pair): three EXACT filters
    // (measured at sf0.1: 28.9M raw prefix collisions → 14.3M length
    // → 2.08M first-token → 234k last-token → 256 true pairs; wall
    // 56 s → 8 s):
    //  - length filter: J ≥ t forces min(n_a,n_b) ≥ t·max(n_a,n_b);
    //  - positional filter at the FIRST shared prefix shingle w0
    //    (both min-ranks land on w0 — per-doc ranks are restrictions
    //    of one global rarity order): no shared shingle precedes w0,
    //    so overlap ≤ 1 + min(n_a−r_a, n_b−r_b), which must reach
    //    α = ⌈t/(1+t)·(n_a+n_b)⌉ (Xiao et al. 2008 §3.2);
    //  - running-overlap bound at the LAST shared prefix shingle
    //    w_last: every common shingle ≤ w_last ranks before w_last on
    //    both sides, hence lies in BOTH prefixes and is counted by
    //    c = |shared prefix shingles|; common shingles > w_last fit in
    //    the smaller suffix — overlap ≤ c + min(n_a−max_ra, n_b−max_rb).
    // The 1e-6 slack keeps float ceil/multiply from ever rounding a
    // bound UP past its exact real value — filters may only weaken,
    // never drop a true pair.
    // saturation pre-flight (r14): the prefix self-join below is the
    // stage MEASUREMENTS.md §r13 records grinding >8 min at 30× on a
    // vocabulary-saturated corpus — predict its raw collision count
    // from the (already-persisted) prefix occupancy and refuse with
    // guidance instead
    preflightCandidates(prefix, keyCols, candidateBudget,
      "ppjoin prefix index",
      "The corpus is vocabulary-saturated: block finer " +
        "(ppjoinPairsBlocked with more selective blockCols), or " +
        "prefer minhashPairsBlocked with maxBucket for this shape " +
        "(MEASUREMENTS.md §r13: measured exponent 0.42 at 30x where " +
        "blocked ppjoin did not complete); raise candidateBudget only if the " +
        "join size is intended.")
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("__na") + col("__nb")) - lit(1e-6))
    val candidates = prefix.select(keyCols.map(col) ++ Seq(
        col("__id").as("a_id"),
        col("__r").as("__ra"), col("__n").as("__na")): _*)
      .join(prefix.select(keyCols.map(col) ++ Seq(
        col("__id").as("b_id"),
        col("__r").as("__rb"), col("__n").as("__nb")): _*), keyCols)
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("__na"), col("__nb")) >=
        lit(threshold) * greatest(col("__na"), col("__nb")) - lit(1e-6))
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("__ra")).as("__ra"), min(col("__rb")).as("__rb"),
        max(col("__ra")).as("__xa"), max(col("__rb")).as("__xb"),
        count(lit(1)).as("__c"),
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
      .filter(lit(1) + least(col("__na") - col("__ra"),
          col("__nb") - col("__rb")) >= alpha)
      .filter(col("__c") + least(col("__na") - col("__xa"),
          col("__nb") - col("__xb")) >= alpha)
      .select("a_id", "b_id")
    // candIds is derived once; candidates is persisted so the id
    // projection and the verify join read one materialization, not
    // two plan replays.
    val candMat = candidates.persist(diskSer)
    val candIds = candMat.select(col("a_id").as("__id"))
      .union(candMat.select(col("b_id").as("__id"))).distinct()
    val sets = setsFor(candIds)
    val pairs = verifyJaccard(candMat, sets, sets, threshold)
    prefix.unpersist()
    candMat.unpersist()
    pairs
  }

  /** full minhash signature as ONE string column — the expression form
    * (no groupBy), usable on unbounded STREAMING frames where a
    * stateful aggregation would force update-mode output. */
  def signatureExpr(textCol: Column, shingleN: Int = 4): Column = {
    val shingles = charShingles(textCol, shingleN)
    val hashes = transform(shingles, x => hashMod(x, MinhashP))
    // texts shorter than shingleN have NO shingles: every minhash is
    // null and concat_ws collapses them all to "" — which would make
    // all short docs mutual duplicates. Null signature instead; the
    // anti-join in [[streamingNearDupFilter]] never matches null keys,
    // so shingle-less docs pass through the dedup filter.
    when(size(shingles) > 0,
      concat_ws("_", (0 until MinhashK).map(i => minhashSig(hashes, i)): _*))
  }

  /** Streaming ingestion dedup: drop incoming docs whose FULL minhash
    * signature already exists in the static corpus (exact dups and
    * near-identical texts share all 16 minhashes). Stateless per row →
    * works in append mode as a stream-static anti-join; banded LSH
    * candidates belong in a foreachBatch stage, where each micro-batch
    * can run the full [[minhashPairs]] machinery. */
  def streamingNearDupFilter(stream: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus.select(signatureExpr(col(textCol)).as("__sig"))
      .distinct()
    stream.withColumn("__sig", signatureExpr(col(textCol)))
      .join(seen, Seq("__sig"), "left_anti")
      .drop("__sig")
  }

  /** foreachBatch stage completing the streaming-ingestion story:
    * per micro-batch, (1) drop docs whose full minhash signature
    * already exists in the static corpus (stateless anti-join, exact
    * and near-identical dups), then (2) run the FULL banded-LSH
    * [[minhashPairs]] machinery WITHIN the batch and drop the larger
    * id of each verified near-dup pair. Use as
    * `stream.writeStream.foreachBatch(Dedup.microBatchNearDup(corpus,
    * "doc_id", "text")(sink))` — batches are bounded frames, so the
    * banded candidate join that a stateful stream cannot express runs
    * per batch at full fidelity. */
  def microBatchNearDup(corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8)(
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch, _) => {
      // the corpus anti-join is the expensive stage — cache it so the
      // pair machinery and the sink join don't probe the corpus twice
      val vsCorpus = streamingNearDupFilter(batch, corpus, textCol)
        .persist()
      try {
        val intraDrops = minhashPairs(vsCorpus, idCol, textCol, threshold)
          .select(col("b_id").as(idCol)).distinct()
        sink(vsCorpus.join(intraDrops, Seq(idCol), "left_anti"))
      } finally vsCorpus.unpersist()
    }

  /** per-token hash modulus for [[sharedWindowCounts]] window sums. */
  val WindowHashMod: Long = 100000000000000000L // 1e17

  /** Exact-substring (span-level) dedup signal: for every document,
    * the number of DISTINCT w-token windows it shares verbatim with at
    * least one other document. The standard span-level dedup for
    * training corpora (suffix-array ExactSubstr at heart): a doc with
    * n_shared > 0 carries text copied from elsewhere in the corpus and
    * is a span-removal candidate. Scale shape: posexplode tokens →
    * per-doc sliding windows from a bounded window frame (partitioned
    * BY DOC, so the sort parallelizes across docs and no task sees
    * more than one doc's tokens) → window-hash groupBy (one shuffle,
    * partial-combined) → hash-partitioned join back. No suffix array —
    * fixed-width windows make the problem a plain aggregation. */
  def sharedWindowCounts(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    // `wins` is persisted so the attribution join doesn't re-run the
    // token/window pipeline (that recompute is what made the r3 join
    // shape lose its A/B, 2.1 vs 1.3 s); the tiny per-doc output is
    // checkpointed so the cache releases before returning.
    // MEMORY_AND_DISK_SER for the same reason as ppjoin: in-suite the
    // cache competes with neighbors; an evicted default-level block
    // re-runs the tokenize+window pass — serialized blocks spill to
    // disk instead.
    val winsMat = sharedWindowKeys(df, idCol, textCol, w).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val out = attributeSharedSpans(winsMat, idCol).localCheckpoint()
    winsMat.unpersist()
    out
  }

  /** distinct `(__id, __s1, __s2)` window keys, one row per (doc,
    * w-token window). Window key = PAIR of sums of two independent
    * per-token hashes over the w-token frame: two codegen'd numeric
    * window sums per position instead of materializing a w-string
    * array + one md5 per window (an ObjectAggregate inside the window
    * exec — measured ~2× slower). The pair keeps collisions negligible
    * (two independent ~60-bit sums); md5 runs once per TOKEN, not per
    * window. Hashes capped below 1e17 so a w=20 window sum stays
    * inside Long range on BOTH engines (DuckDB's list_sum promotes to
    * HUGEINT; Spark's long sum would silently wrap — the cap removes
    * the divergence instead of papering over it). */
  private[ops] def sharedWindowKeys(df: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spread(df).select(col(idCol).as("__id"),
        posexplode(tokensWs(col(textCol))).as(Seq("__p", "__t")))
      .withColumn("__h1", hash60(col("__t")) % WindowHashMod)
      .withColumn("__h2",
        hash60(concat(col("__t"), lit("#2"))) % WindowHashMod)
    val frame = Window.partitionBy("__id").orderBy("__p")
      .rowsBetween(Window.currentRow, w - 1)
    toks
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__s1", sum(col("__h1")).over(frame))
      .withColumn("__s2", sum(col("__h2")).over(frame))
      .filter(col("__n") === w) // tail positions have no full window
      .select(col("__id"), col("__s1"), col("__s2"))
      .distinct()
  }

  /** Two-level skew-safe span count + doc attribution. The r5 shape
    * (count over a window partitioned by (s1,s2)) required every row
    * of one span key in ONE window task, so a boilerplate span shared
    * by millions of docs (100 TB reality) serialized into a single
    * straggler. A groupBy count is the two-level form for free:
    * level 1 is the map-side partial (each task emits at most one row
    * per local span), level 2 the reduce — a hot span arrives
    * pre-combined, ≤ one row per map task. Doc attribution is then a
    * semi-join, which AQE CAN skew-split per partition
    * (OptimizeSkewedJoin) — a window exec never can. Plan shape pinned
    * by OpsHygieneSpec. */
  private[ops] def attributeSharedSpans(wins: DataFrame,
      idCol: String): DataFrame = {
    val shared = wins.groupBy("__s1", "__s2")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select("__s1", "__s2")
    wins.join(shared, Seq("__s1", "__s2"), "left_semi")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Span REMOVAL — the remediation stage over [[sharedWindowCounts]]'
    * detection (ExactSubstr's second half: cut the duplicated spans,
    * keep the document): every token covered by any cross-doc-shared
    * w-token window is removed and the surviving tokens reassemble in
    * order. Returns (id, n_tokens, n_removed, cleaned) for affected
    * docs (n_removed > 0); a fully-boilerplate doc yields an empty
    * cleaned string.
    *
    * Scale shape: the same single tokenize+window pass as detection
    * (persisted once, three consumers: span set, coverage, totals);
    * the shared-span count is the partial-agg groupBy (skew rule);
    * coverage explodes only SHARED window positions (bounded by the
    * duplicated fraction, not the corpus) and distincts per (doc,
    * pos); reassembly sorts each doc's kept (pos, token) structs
    * inside one per-doc aggregate — no global sort anywhere. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spread(df).select(col(idCol).as("__id"),
        posexplode(tokensWs(col(textCol))).as(Seq("__p", "__t")))
      .withColumn("__h1", hash60(col("__t")) % WindowHashMod)
      .withColumn("__h2",
        hash60(concat(col("__t"), lit("#2"))) % WindowHashMod)
    val frame = Window.partitionBy("__id").orderBy("__p")
      .rowsBetween(Window.currentRow, w - 1)
    val winsMat = toks
      .withColumn("__n", count(lit(1)).over(frame))
      .withColumn("__s1", sum(col("__h1")).over(frame))
      .withColumn("__s2", sum(col("__h2")).over(frame))
      .select("__id", "__p", "__t", "__n", "__s1", "__s2")
      // serialized persist: three consumers, suite-contended cache
      .persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val spans = winsMat.filter(col("__n") === w)
      .select("__id", "__p", "__s1", "__s2")
    val shared = spans.select("__id", "__s1", "__s2").distinct()
      .groupBy("__s1", "__s2").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1).select("__s1", "__s2")
    val covered = spans.join(shared, Seq("__s1", "__s2"), "left_semi")
      .select(col("__id"),
        explode(sequence(col("__p"), col("__p") + lit(w - 1))).as("__p"))
      .distinct()
    val kept = winsMat.select("__id", "__p", "__t")
      .join(covered, Seq("__id", "__p"), "left_anti")
      .groupBy("__id")
      .agg(count(lit(1)).as("__nkept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__t")))),
          x => x.getField("__t")), " ").as("cleaned"))
    val totals = winsMat.groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"))
    val out = totals.join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__nkept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
      .filter(col("n_removed") > 0)
      .localCheckpoint()
    winsMat.unpersist()
    out
  }

  /** Cross-batch STATEFUL streaming dedup: drop any (id, text) whose
    * full minhash signature was already seen in ANY earlier micro-batch
    * of this stream (and keep only the min-id doc per signature within
    * a batch). Completes the streaming-ingestion story next to
    * [[streamingNearDupFilter]] (stream-vs-static) and
    * [[microBatchNearDup]] (intra-batch LSH): the state store carries
    * one boolean per distinct signature, hash-partitioned by signature
    * key — at 100 TB that is the minimal possible dedup state (a set
    * membership), served by RocksDB state stores.
    *
    * State is one entry per distinct signature EVER seen — exact, but
    * on an unbounded 100 TB stream it grows forever; see
    * [[statefulSigDedupTtl]] for the watermark-bounded variant.
    * Shingle-less texts (null signature) always pass through. */
  def statefulSigDedup(docs: org.apache.spark.sql.Dataset[(Long, String)],
      shingleN: Int = 4): org.apache.spark.sql.Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val withSig = docs.toDF("doc_id", "text")
      .withColumn("__sig", signatureExpr(col("text"), shingleN))
      .as[(Long, String, String)]
    // shingle-less texts bypass the state store entirely: funneled
    // through a shared "" key they would all land in ONE
    // flatMapGroupsWithState task per micro-batch — short/empty docs
    // are common in real crawls, so that key is a guaranteed skew
    // hotspot at streaming scale. Routed around, they stay fully
    // parallel (and stateless, as before).
    val passThrough = withSig.filter(_._3 == null).map(t => (t._1, t._2))
    withSig.filter(_._3 != null)
      .groupByKey(_._3)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, String, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val survivor = rows.minBy(_._1) // deterministic within batch
            Iterator((survivor._1, survivor._2))
          }
      }
      .union(passThrough)
  }

  /** [[statefulSigDedup]] with BOUNDED state: each signature's entry is
    * evicted once the stream's event-time watermark passes
    * `last-seen event time + retentionMs` — the standard streaming-TTL
    * contract (state is bounded by the retention window's distinct-
    * signature count, not the stream's lifetime). Sightings re-arm the
    * clock, so a recurring dup never expires while it keeps arriving.
    * The documented trade: a duplicate arriving AFTER its signature was
    * evicted is re-admitted — retention buys bounded state at the cost
    * of a dedup horizon.
    *
    * Event-time (watermark) timeouts, NOT processing-time: eviction is
    * then deterministic w.r.t. the data (replayable, testable), and
    * Spark's processing-time timeouts force `shouldRunAnotherBatch`
    * permanently true — the stream busy-spins no-data micro-batches and
    * `processAllAvailable` never returns.
    *
    * `docs` needs columns (`doc_id` long, `text` string, `ts`
    * timestamp); the watermark delay bounds out-of-order arrival as
    * usual. Output is (doc_id, text). */
  def statefulSigDedupTtl(docs: DataFrame, retentionMs: Long,
      watermarkDelay: String = "0 seconds",
      shingleN: Int = 4): org.apache.spark.sql.Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(retentionMs > 0, "statefulSigDedupTtl: retentionMs must be positive")
    val withSig = docs.select(col("doc_id").cast("long"),
        col("text").cast("string"), col("ts").cast("timestamp"))
      .withWatermark("ts", watermarkDelay)
      .withColumn("__sig", signatureExpr(col("text"), shingleN))
      .as[(Long, String, java.sql.Timestamp, String)]
    // same skew routing as the unbounded variant: null signatures stay
    // stateless and fully parallel
    val passThrough = withSig.filter(_._4 == null).map(t => (t._1, t._2))
    withSig.filter(_._4 != null)
      .groupByKey(_._4)
      .flatMapGroupsWithState[Long, (Long, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[(Long, String, java.sql.Timestamp, String)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // watermark passed last-seen + retention → evict; a later
            // dup of this text is re-admitted (the horizon trade)
            state.remove()
            Iterator.empty
          } else {
            val buf = rows.toSeq // bounded: one batch × one signature
            val lastSeen = math.max(state.getOption.getOrElse(Long.MinValue),
              buf.iterator.map(_._3.getTime).max)
            val firstSighting = !state.exists
            state.update(lastSeen)
            // the timeout timestamp must sit above the current
            // watermark or Spark rejects it — clamp for late data
            state.setTimeoutTimestamp(math.max(lastSeen + retentionMs,
              state.getCurrentWatermarkMs() + 1))
            if (firstSighting) {
              val survivor = buf.minBy(_._1) // deterministic within batch
              Iterator((survivor._1, survivor._2))
            } else Iterator.empty
          }
      }
      .union(passThrough)
  }

  /** simhash signature table (idCol, simhash): token explode → 32
    * codegen'd conditional sums → bit assembly. One shuffle. */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = spread(df).select(col(idCol),
        explode(tokensWs(col(textCol))).as("__t"))
      .withColumn("__h", hash32(col("__t")))
    val bitSums = (0 until 32).map { b =>
      sum(when(pmod(floor(col("__h") / lit(math.pow(2, b))).cast("long"),
        lit(2L)) === 1L, 1L).otherwise(-1L)).as(s"__b$b")
    }
    val sigs = exploded.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 32).map(b =>
          when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    // token-less docs keep a 0 signature (matches the oracle's
    // list_sum-over-empty semantics) instead of being dropped
    df.select(col(idCol)).distinct().join(sigs, Seq(idCol), "left")
      .withColumn("simhash", coalesce(col("simhash"), lit(0L)))
  }

  /** per-document simhash (32-bit) appended to the input rows. */
  def withSimhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(simhashSigs(df, idCol, textCol), idCol)

  /** simhash near-dup pairs within blocking keys: hamming ≤ maxDist.
    * Blocking bounds the quadratic comparison to each block; the
    * signature table (a row per doc: id + one long + block key — tiny
    * next to the corpus) feeds both self-join sides, so it is
    * materialized once (A/B: 1.4→0.9 s against the lazy form). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], maxDist: Int,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame =
    blockedSelfJoin(withSimhash(df, idCol, textCol)
        .select(col(idCol).as("__id") +: blockKey(blockCols) :+
          col("simhash").as("__s"): _*),
      "__s", "simhash blocking", candidateBudget) {
      _.withColumn("dist", hamming(col("__sa"), col("__sb")))
        .filter(col("dist") <= maxDist)
        .select("a_id", "b_id", "dist")
    }

  /** guidance of the exact-quadratic blocked generators' pre-flight */
  private val quadraticGuidance =
    "The comparison is exact-quadratic per block by design: block " +
      "finer (more selective blockCols) or pre-filter with " +
      "minhashPairsBlocked; raise candidateBudget only if the join " +
      "size is intended."

  /** The one blocked self-join of the exact-quadratic generators
    * (n-gram Jaccard, containment, simhash): `s` = one row per doc
    * `(__id, [__blk], payload)`, persisted for the call (it feeds both
    * sides and the pre-flight — exchange reuse does not cover its
    * aggregation, measured 2.5× slower lazy). The saturation pre-flight
    * (r14) refuses a block whose occupancy predicts a candidate count
    * past the budget BEFORE the self-join. Each side carries the
    * payload as `<payload>a` / `<payload>b`; `score` turns the
    * `a_id < b_id` rows into the output, which is localCheckpoint'd so
    * the cache releases on return. */
  private def blockedSelfJoin(s: DataFrame, payload: String, op: String,
      candidateBudget: Long)(score: DataFrame => DataFrame): DataFrame = {
    val m = s.persist()
    try {
      val keys = blkKeys(m)
      preflightCandidates(m, keys, candidateBudget, op, quadraticGuidance)
      def side(id: String, sfx: String) = m.select(col("__id").as(id) +:
        keys.map(col) :+ col(payload).as(payload + sfx): _*)
      score(side("a_id", "a").join(side("b_id", "b"), keys)
        .filter(col("a_id") < col("b_id"))).localCheckpoint()
    } finally m.unpersist()
  }

  /** Near-duplicate CLUSTERS from a pair table: the pairs are an
    * undirected graph and each cluster is one connected component,
    * labelled to its fixpoint, so a near-dup chain of any diameter
    * collapses into one cluster (a fixed round count would silently
    * under-merge long chains, leaving residual duplicates in the
    * output corpus). Returns (cluster, n_members): cluster id = min
    * member id, the canonical survivor; materialized, so no cache of
    * the pair frame outlives the call. */
  def nearDupClusters(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame =
    nearDupLabels(pairs, aCol, bCol)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      .localCheckpoint()

  /** member-level cluster labels `(id, cluster)` — the same converged
    * components, exposed per member so callers can elect a survivor
    * per cluster (e.g. [[graft.ops.Classifier]]-scored keep-best).
    * One [[graft.graph.GraphOps.connectedComponents]] over the pair
    * graph, with the distinct pair endpoints as its vertex set (one
    * row per node APPEARING IN A PAIR — a tiny frame even at 100 TB).
    * The pair frame is cached for its two consumers and released
    * before returning; the labels reference only checkpointed data. */
  def nearDupLabels(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("src"), col(bCol).as("dst")).persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val labels = graft.graph.GraphOps.connectedComponents(nodes, e)
      .select(col("id"), col("component").as("cluster"))
    e.unpersist()
    labels
  }

  /** Soft dedup — down-WEIGHT duplicates instead of dropping them
    * (the DataComp-LM "SoftDedup" finding: repeated content carries
    * signal proportional to 1/multiplicity; hard dedup throws the
    * survivor's extra evidence away, no dedup double-counts). Every
    * doc gets `1e6 div cluster_size` micro-units — singletons keep
    * full weight, an n-clone cluster's members share one doc's worth.
    * Weights are exact integers (cluster labels are converged min-ids,
    * sizes are counts), so the assignment replays bit-identically.
    *
    * Scale shape: [[nearDupLabels]]' pair-node frame + one
    * partial-agg size count + one size join (pair-node sized, TINY
    * vs the corpus) + ONE left join back on the doc key; no windows.
    * Returns (id, cluster, n_members, weight_micro) for EVERY doc. */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val labels = nearDupLabels(pairs, aCol, bCol)
    val sized = labels.join(
      labels.groupBy("cluster").agg(count(lit(1)).as("__n")), "cluster")
    df.select(col(idCol).as("id"))
      .join(sized, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"),
        coalesce(col("__n"), lit(1L)).as("n_members"),
        expr("1000000L div coalesce(__n, 1L)").as("weight_micro"))
  }

  /** Exact CONTAINMENT pairs within blocking keys — asymmetric
    * near-dup detection: containment = |A∩B| / min(|A|,|B|) ≥ t finds
    * a SHORT document embedded in a long one (quotes, excerpts, page
    * wrappers around a syndicated article), exactly the pairs
    * symmetric Jaccard suppresses (a 50-shingle doc inside a
    * 500-shingle doc has containment 1.0 but Jaccard ≤ 0.1 — LSH and
    * ppjoin both miss it by design). Blocking keys are
    * caller-contracted like [[ngramJaccardPairs]], with the
    * containment-specific caveat DOCUMENTED: never block on length —
    * the interesting pairs cross length bands by construction (block
    * on lang/source/domain instead). The verify reuses the sorted-set
    * merge-scan at threshold 0 (exact count, no early exit —
    * the Jaccard bound does not transfer to containment).
    * Returns (a_id, b_id, containment) with a_id < b_id. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleN: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    blockedSelfJoin(shingleSets(df, idCol, textCol, shingleN, blockCols),
      "__sh", "containment blocking", candidateBudget) {
      _.withColumn("__i",
          VectorExprs.sortedOverlap(col("__sha"), col("__shb"), 0.0))
        .withColumn("containment", round(col("__i").cast("double") /
          least(size(col("__sha")), size(col("__shb"))), 6))
        .filter(col("containment") >= threshold)
        .select("a_id", "b_id", "containment")
    }
  }

  /** exact n-gram Jaccard pairs within blocking keys (quadratic per
    * block — use only after blocking/LSH has bounded the block size):
    * the one set build, then the blocked self-join with the
    * [[jaccardAtLeast]] score. Returns (a_id, b_id, jac). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double,
      shingleN: Int = 4,
      candidateBudget: Long = DefaultCandidateBudget): DataFrame =
    blockedSelfJoin(shingleSets(df, idCol, textCol, shingleN, blockCols),
      "__sh", "ngram-jaccard blocking", candidateBudget)(
      jaccardAtLeast(_, threshold))
}

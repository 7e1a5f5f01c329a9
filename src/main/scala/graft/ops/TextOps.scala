package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic text primitives for the training-data pipeline
  * operators (dedup, fingerprinting, quality scoring). Every hash is
  * derived from md5 so the identical computation is expressible in
  * DuckDB for the oracle gate; everything is built from codegen'd
  * builtins — no UDFs, no driver-side loops.
  */
object TextOps {

  /** 60-bit positive hash: first 15 hex chars of md5. Stable across
    * systems (md5 is md5 everywhere), cheap enough at 100 TB scale. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** hash reduced into [0, p) for modular minhash arithmetic. */
  def hashMod(c: Column, p: Long): Column = hash60(c) % p

  /** 32-bit hash for simhash bit sampling. */
  def hash32(c: Column): Column = hash60(c) % 4294967296L

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.GraftColumnBridge.column(e)
  private def asExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.GraftColumnBridge.expression(c)

  /** distinct character n-gram shingles of a string column — native
    * [[CharShingles]] (one compiled scan; the HOF form pays an
    * interpreted lambda per character). Texts shorter than n — and
    * the HOF wrapper's null-input case — yield an empty array. */
  def charShingles(c: Column, n: Int): Column =
    coalesce(native(CharShingles(asExpr(c), n)),
      array().cast("array<string>"))

  /** the retired HOF formulation, kept ONLY as the property-test model
    * the native expression is pinned bit-identical to. */
  private[ops] def charShinglesHof(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(
        sequence(lit(0), length(c) - n),
        i => c.substr(i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** whitespace tokens (lower-cased) — native [[WsTokens]] byte scan
    * (≡ `filter(split(lower(c), "\\s+"), t -> length(t) > 0)`). */
  def tokensWs(c: Column): Column = native(WsTokens(asExpr(lower(c))))

  /** HOF model for the property pin (see [[charShinglesHof]]). */
  private[ops] def tokensWsHof(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** BPE-ish tokens: letter runs, digit runs, single punctuation. */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def tokensBpe(c: Column): Column =
    regexp_extract_all(lower(c), lit(bpePattern), lit(0))

  /** Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  // ------------------------------------------------------------ minhash
  /** seeded (a,b) coefficients for the k permutations
    * h_i(x) = (a_i * x + b_i) mod P  (x already reduced mod P, so the
    * product stays < 2^62 — no overflow on either engine). */
  val MinhashP: Long = 2147483647L
  val MinhashK: Int = 16
  val minhashCoeffs: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Seq.fill(MinhashK)(
      (rng.nextInt((MinhashP - 2).toInt).toLong + 1L,
        rng.nextInt((MinhashP - 1).toInt).toLong))
  }

  /** minhash signature element i over a PRE-HASHED shingle column
    * (hash each shingle once, not once per permutation — 16× fewer
    * md5 evaluations on a 100 TB corpus). */
  def minhashSig(shingleHashes: Column, i: Int): Column = {
    val (a, b) = minhashCoeffs(i)
    array_min(transform(shingleHashes,
      h => (lit(a) * h + lit(b)) % MinhashP))
  }

  // ------------------------------------------------------------ simhash
  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ----------------------------------------------------- fingerprint
  /** bottom-k sketch fingerprint: the k smallest shingle hashes,
    * sorted, joined — a compact, order-insensitive document signature
    * (winnowing-style). Expression form; for corpus-scale use
    * [[fingerprintTable]] (explode + codegen instead of interpreted
    * per-row array lambdas). */
  def fingerprint(shingles: Column, k: Int): Column =
    concat_ws("-", slice(array_sort(transform(shingles, hash60 _)), 1, k))

  /** (idCol, fp) fingerprint table: shingle explode → codegen'd md5 →
    * per-doc bottom-k via window → sorted concat. One shuffle, no
    * interpreted higher-order functions on the hot path. */
  def fingerprintTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, shingleN: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__h"))
    val bottomK = Partitioning.spread(df).select(col(idCol),
        explode(charShingles(col(textCol), shingleN)).as("__s"))
      .withColumn("__h", hash60(col("__s")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .groupBy(col(idCol))
      .agg(concat_ws("-", sort_array(collect_list(col("__h")))).as("fp"))
    df.select(col(idCol)).distinct().join(bottomK, Seq(idCol), "left")
  }

  // ------------------------------------------------------ tf-idf
  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003
    * — the MOSS algorithm): per sliding window of `w` consecutive
    * shingle hashes keep the RIGHTMOST minimum; the selected (pos,
    * hash) set is the document fingerprint. Guarantee: any substring
    * match of at least `w + shingleN − 1` characters shares a
    * fingerprint — the robust complement to the sampled rolling-hash
    * fingerprint (which can miss matches falling between samples).
    *
    * Determinism: the rightmost-min election is computed as frame-min
    * + bounded membership explode + max-position groupBy — pure
    * integer comparisons, identical in ANSI SQL. Docs shorter than
    * one full window contribute their single partial-window minimum
    * (ends filtered to `e ≥ least(w−1, n−1)`).
    *
    * Scale shape: one tokenize/posexplode pass; the frame min and the
    * per-doc size share ONE window pass (same partitioning AND
    * ordering); the membership explode is w-bounded (never corpus²);
    * the election is a partial-combining groupBy. */
  def winnowFingerprints(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, w: Int = 8,
      shingleN: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // positional (NON-distinct) shingles: explode the offset range and
    // substr per offset — both codegen'd, no interpreted lambda (the
    // native CharShingles is a distinct SET, which loses positions)
    val t = Partitioning.spread(df)
      .select(col(idCol).as("__id"), col(textCol).as("__txt"))
      .filter(length(col("__txt")) >= shingleN)
      .select(col("__id"), col("__txt"),
        explode(sequence(lit(0), length(col("__txt")) - shingleN))
          .as("__p"))
      .select(col("__id"), col("__p"),
        hash60(col("__txt").substr(col("__p") + 1, lit(shingleN)))
          .as("__h"))
    val ordered = Window.partitionBy("__id").orderBy("__p")
    val frame = ordered.rowsBetween(-(w - 1), Window.currentRow)
    val full = ordered.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ends = t
      .withColumn("__m", min(col("__h")).over(frame))
      .withColumn("__n", count(lit(1)).over(full))
      .filter(col("__p") >= least(lit(w - 1), col("__n") - 1))
      .select(col("__id"), col("__p").as("__e"), col("__m"))
    val membership = t.select(col("__id"), col("__p"), col("__h"),
      explode(sequence(col("__p"), col("__p") + lit(w - 1))).as("__e"))
    membership.join(ends, Seq("__id", "__e"))
      .filter(col("__h") === col("__m"))
      .groupBy(col("__id"), col("__e"))
      .agg(max(col("__p")).as("pos"), first(col("__m")).as("fp"))
      .select(col("__id"), col("pos"), col("fp")).distinct()
      .select(col("__id").as(idCol), col("pos"), col("fp"))
  }

  /** Per-document unigram entropy — the information-density quality
    * signal (low entropy = repetitive/templated text; complements the
    * repetition ratios in [[textQuality]]): H = (1/L)·Σ n_t·ln(L/n_t)
    * in nats. Per-term contributions fix-point to integer micro-nats
    * BEFORE the per-doc sum (order-free exact integers under any
    * partitioning — the repo's float-sum rule), the final divide by L
    * is deterministic. One explode pass, two partial-combining
    * aggregations — the [[tfidf]] shape without the DF join. */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        explode(tokensWs(col(textCol))).as("__t"))
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("__n"))
    val lens = counts.groupBy(col("__id"))
      .agg(sum(col("__n")).as("__len"))
    // len joins back on the SAME __id key the final sum groups on
    // (exchange-reusable); the per-term micro-nat term stays a narrow
    // codegen projection — no interpreted lambda, no term-list buffer
    counts.join(lens, "__id")
      .select(col("__id"), col("__len"),
        (col("__n") * round(log(col("__len").cast("double") /
          col("__n").cast("double")) * 1e6).cast("long")).as("__c"))
      .groupBy(col("__id"))
      .agg(first(col("__len")).as("__len"), sum(col("__c")).as("__s"))
      .select(col("__id").as(idCol), col("__len").as("n_tokens"),
        round(col("__s").cast("double") / (col("__len") * lit(1e6)), 6)
          .as("entropy"))
  }

  /** Per-document shingle novelty — the share of a doc's DISTINCT
    * 4-char shingles found in NO other document (novelty 1.0 = fully
    * original content; boilerplate-heavy docs trend to 0). One
    * exploded corpus pass; the cross-corpus frequency table is a
    * partial-agg groupBy joined back ON THE SAME shingle-hash key
    * (exchange-reusable), counts exact ints. */
  def shingleNovelty(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, shingleN: Int = 4): org.apache.spark.sql.DataFrame = {
    val base = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        explode(charShingles(col(textCol), shingleN)).as("__sg"))
      .select(col("__id"), hash60(col("__sg")).as("__h"))
      .distinct()
    val freq = base.groupBy(col("__h"))
      .agg(count(lit(1)).as("__docs"))
    base.join(freq, "__h")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__docs") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** TF-IDF per (doc, term): tf = in-doc count, idf = ln((N+1)/(df+1)),
    * computed corpus-wide via one token explode + two aggregations
    * (DF is a broadcastable per-term table). */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val toks = Partitioning.spread(df)
      .select(col(idCol), explode(tokensWs(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("score",
        round(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)), 6))
  }

  /** Sparse LEXICAL similarity join: for every document, the top-k
    * most tf-idf-cosine-similar OTHER documents, computed document-at-
    * a-time over an inverted index — the classic sparse-retrieval
    * complement to the dense ANN paths in [[Similarity]] (reference
    * has only boolean CONTAINSTEXT,
    * core/.../operator/OQueryOperatorContainsText.java:40-55; ranked
    * lexical doc-doc similarity is the training-pipeline extension).
    *
    * Scale shape: ONE tokenize pass → per-(doc,term) tf; document
    * frequencies derive from the SAME tf frame (no second tokenize);
    * terms with df > maxDf are PRUNED before the posting self-join —
    * that caps every posting list at maxDf entries, so the join
    * fan-out per term is ≤ maxDf² and a stopword-like term can never
    * produce a quadratic blowup (the standard DAAT vocabulary prune;
    * dropping near-ubiquitous terms barely moves cosine RANKINGS
    * because their idf ≈ 0). The df table joins on the SAME term key
    * the posting self-join shuffles on — never broadcast (the
    * vocabulary is corpus-sized at 100 TB). Dot products are
    * partial-combining integer sums of milli-unit fixed-point weights
    * (order-free, bit-identical in any engine); cosine divides by the
    * exact-integer norms only at the end, and ranking rides the
    * shared two-level [[Similarity.rankTopKBy]] (never a one-level
    * per-doc window). Weight fixed point: w = round(tf·idf·1000) with
    * idf = ln((N+1)/(df+1)) ≥ 0, so products stay far inside Long for
    * any realistic doc length (tf ≤ 1e5, idf ≤ 40 ⇒ w ≤ 4e9 … cap tf
    * upstream for adversarial megadocs).
    *
    * Returns (q_id, n_id, cos, rnk) with rnk ≤ k, cos rounded to 6
    * decimals, ties broken by ascending n_id. */
  def sparseCosineTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 3,
      maxDf: Int = 400): org.apache.spark.sql.DataFrame = {
    val n = df.count()
    val tf = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        explode(tokensWs(col(textCol))).as("__t"))
      .groupBy("__id", "__t").agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    // persisted: the weighted posting table feeds the norm aggregate
    // and BOTH sides of the self-join; serialized level because the
    // cache competes with suite neighbors (ppjoin precedent)
    val w = tf.join(dfreq, "__t")
      .withColumn("__w", round(col("__tf") *
        log((lit(n) + 1.0) / (col("__df") + 1.0)) * 1000, 0).cast("long"))
      .select(col("__t"), col("__id"), col("__w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val norms = w.groupBy("__id")
      .agg(sum(col("__w") * col("__w")).as("__n2"))
    val dots = w.select(col("__t"), col("__id").as("q_id"),
        col("__w").as("__wa"))
      .join(w.select(col("__t"), col("__id").as("n_id"),
        col("__w").as("__wb")), Seq("__t"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("__wa") * col("__wb")).as("__dot"))
    val scored = dots
      .join(norms.select(col("__id").as("q_id"), col("__n2").as("__na2")),
        Seq("q_id"))
      .join(norms.select(col("__id").as("n_id"), col("__n2").as("__nb2")),
        Seq("n_id"))
      .withColumn("cos", col("__dot") /
        (sqrt(col("__na2")) * sqrt(col("__nb2"))))
    // k·n output rows: checkpoint the small result, release the cache
    val out = Similarity.rankTopKBy(scored, k, "cos", ascending = false)
      .localCheckpoint()
    w.unpersist()
    out
  }

  /** SentencePiece-style UNIGRAM segmentation (Kudo 2018, inference
    * half): Viterbi-segment every distinct corpus word into
    * vocabulary pieces maximizing the summed piece log-probability.
    * The vocabulary is Kudo's frequency-seeded substring table — the
    * top `vocabSize` character n-grams (n ≤ maxPieceLen) weighted by
    * word frequency, scored ln(count/total) in integer micro-nats —
    * and unknown single characters carry a fixed penalty so every
    * word segments. Complements [[learnBpeMerges]]: BPE segments by
    * replaying greedy merges, unigram by global score maximization.
    *
    * The Viterbi DP IS a shortest path on each word's position graph
    * (node = char boundary, edge i→j = the substring piece, cost =
    * −score); the ORACLE replays it as 16 unrolled Bellman-Ford
    * relaxation rounds. The engine runs the same DP as ONE compiled
    * pass per DISTINCT word ([[UnigramViterbi]], the vocab riding the
    * expression as a ≤vocabSize reference object): a narrow
    * projection over the distinct-word frame — corpus-parallel, NO
    * per-round shuffles (A/B vs the equivalent DataFrame relaxation
    * in MEASUREMENTS.md §r7: 7.8 → sub-second at sf0.1; corpus occurrences
    * never enter the DP either way). The (cost, then lexicographic
    * seg) argmin rule is identical on both paths and bit-identical in
    * any engine.
    *
    * Returns the segmentations of the `topWords` most frequent words:
    * (word, freq, cost_micro, seg). */
  def unigramSegment(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int = 200, maxPieceLen: Int = 4,
      maxWordLen: Int = 16, unkPenaltyMicro: Long = 25000000L,
      topWords: Int = 30): org.apache.spark.sql.DataFrame = {
    val (wf, vit, _) = unigramSeed(df, textCol, vocabSize, maxPieceLen,
      maxWordLen, unkPenaltyMicro)
    val out = wf
      .select(col("word"), col("__f"), vit.as("__v"))
      .orderBy(col("__f").desc, col("word"))
      .limit(topWords)
      .select(col("word"), col("__f").as("freq"),
        col("__v").getField("cost_micro").as("cost_micro"),
        col("__v").getField("seg").as("seg"))
      .localCheckpoint()
    wf.unpersist()
    out
  }

  /** shared seed step for the unigram tokenizer pair: the persisted
    * (word, __f) distinct-word frame plus the compiled Viterbi column
    * carrying the frequency-seeded vocab. Caller unpersists `wf`. */
  private def unigramSeed(df: org.apache.spark.sql.DataFrame,
      textCol: String, vocabSize: Int, maxPieceLen: Int,
      maxWordLen: Int, unkPenaltyMicro: Long)
      : (org.apache.spark.sql.DataFrame, Column, Seq[(String, Long)]) = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val wf = Partitioning.spread(df)
      .select(explode(tokensWs(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__f"))
      .filter(length(col("word")) <= maxWordLen)
      .persist(ser)
    // candidate pieces: every (position, length ≤ maxPieceLen) slice
    // of every distinct word — bounded fan-out ≤ maxWordLen·maxPieceLen
    val cp = wf
      .select(col("word"), col("__f"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("__i"))
      .select(col("word"), col("__f"), col("__i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("__i"))))
          .as("__l"))
      .select(col("word"), col("__f"),
        expr("substring(word, __i + 1, __l)").as("piece"))
    // seed vocab: top pieces by frequency-weighted count, micro-nat
    // log-prob scores — vocabSize rows, collected as the
    // control-plane artifact the compiled DP expression carries
    val pc = cp.groupBy("piece").agg(sum(col("__f")).as("__c"))
      .persist(ser)
    val tot = pc.agg(sum(col("__c"))).head().getLong(0)
    val vocRows = pc.orderBy(col("__c").desc, col("piece"))
      .limit(vocabSize)
      .select(col("piece"),
        round(log(col("__c").cast("double") / tot) * 1e6, 0)
          .cast("long").as("score_micro"))
      .collect()
    pc.unpersist()
    (wf, native(UnigramViterbi(asExpr(col("word")),
      vocRows.map(_.getString(0)), vocRows.map(_.getLong(1)),
      unkPenaltyMicro, maxPieceLen)),
      vocRows.toSeq.map(r => (r.getString(0), r.getLong(1))))
  }

  /** One hard-EM re-estimation round for the unigram tokenizer (the
    * training half of [[unigramSegment]], Kudo 2018 §3.2 with the
    * Viterbi approximation): segment EVERY distinct word with the
    * seed vocab, count frequency-weighted piece usage in the chosen
    * segmentations, and re-score vocab pieces ln(uses/total) — the
    * rich-get-richer update that prunes pieces Viterbi never picks
    * (they drop out with zero usage). Returns (piece,
    * seed_score_micro, n_uses, em_score_micro) for the used vocab
    * pieces.
    *
    * Scale shape: the E step is the compiled per-word DP projection
    * (no shuffle); the M step is one explode + partial-agg count over
    * segmentations — distinct-word-sized, never corpus-sized; the
    * usage total is one control-plane row. */
  def unigramEmRescore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int = 200, maxPieceLen: Int = 4,
      maxWordLen: Int = 16, unkPenaltyMicro: Long = 25000000L)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (wf, vit, vocSeed) = unigramSeed(df, textCol, vocabSize,
      maxPieceLen, maxWordLen, unkPenaltyMicro)
    val uses = wf
      .select(col("__f"), vit.getField("seg").as("__seg"))
      .select(col("__f"), explode(split(col("__seg"), " ")).as("piece"))
      .groupBy("piece").agg(sum(col("__f")).as("n_uses"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // total over ALL used pieces including UNK chars — the UNK mass
    // competes for probability exactly as in the oracle
    val tot = uses.agg(sum(col("n_uses"))).head().getLong(0)
    val seed = vocSeed.toDF("piece", "seed_score_micro")
    val out = seed.join(uses, Seq("piece"))
      .select(col("piece"), col("seed_score_micro"), col("n_uses"),
        round(log(col("n_uses").cast("double") / tot) * 1e6, 0)
          .cast("long").as("em_score_micro"))
      .orderBy("piece")
      .localCheckpoint()
    uses.unpersist(); wf.unpersist()
    out
  }

  /** WordPiece greedy segmentation (Schuster & Nakajima 2012; the
    * BERT tokenizer): segment the `topWords` most frequent corpus
    * words by LONGEST-match-first against a frequency-seeded vocab
    * in which word-initial pieces and `##`-prefixed continuation
    * pieces compete for the same `vocabSize` budget — a word with an
    * unmatchable position degrades whole to `[UNK]` (BERT's rule).
    * Completes the subword trio next to [[learnBpeMerges]] (greedy
    * merges) and [[unigramSegment]] (global score): same seed
    * machinery, third inference rule.
    *
    * Scale shape identical to [[unigramSegment]]: vocab seeding is
    * two partial-agg'd aggregations over the distinct-word frame
    * (bounded ≤ maxWordLen·maxPieceLen candidate fan-out per word);
    * the greedy walk is ONE compiled projection pass per DISTINCT
    * word ([[WordpieceSegment]], vocab riding as a ≤vocabSize
    * reference object) — corpus-parallel, no shuffle; the oracle
    * replays it as maxWordLen unrolled longest-edge left-join
    * rounds. Returns (word, freq, seg). */
  def wordpieceSegment(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int = 200, maxPieceLen: Int = 4,
      maxWordLen: Int = 16, topWords: Int = 30)
      : org.apache.spark.sql.DataFrame = {
    val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val wf = Partitioning.spread(df)
      .select(explode(tokensWs(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__f"))
      .filter(length(col("word")) <= maxWordLen)
      .persist(ser)
    // candidate KEYS: every slice, word-initial bare / mid-word with
    // the ## continuation prefix — the two populations share the
    // vocabSize budget exactly as in the oracle CTE
    val keys = wf
      .select(col("word"), col("__f"),
        explode(sequence(lit(0), length(col("word")) - 1)).as("__i"))
      .select(col("word"), col("__f"), col("__i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("__i"))))
          .as("__l"))
      .select(col("__f"),
        when(col("__i") === 0, expr("substring(word, __i + 1, __l)"))
          .otherwise(concat(lit("##"), expr("substring(word, __i + 1, __l)")))
          .as("key"))
    val vocRows = keys.groupBy("key").agg(sum(col("__f")).as("__c"))
      .orderBy(col("__c").desc, col("key"))
      .limit(vocabSize)
      .select("key")
      .collect().map(_.getString(0))
    val seg = native(WordpieceSegment(asExpr(col("word")), vocRows,
      maxPieceLen))
    val out = wf
      .select(col("word"), col("__f"), seg.as("seg"))
      .orderBy(col("__f").desc, col("word"))
      .limit(topWords)
      .select(col("word"), col("__f").as("freq"), col("seg"))
      .localCheckpoint()
    wf.unpersist()
    out
  }

  /** Readability scoring (Flesch 1948 reading ease, the curation
    * filter for audience-level selection): 206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W) from three deterministic counts — words
    * (whitespace tokens), sentences (runs of `[.!?]`, floor 1 — the
    * standard heuristic), syllables (vowel-group runs `[aeiouy]+`
    * per word, floor 1 per word — the classic approximation).
    * Counts are exact integers; the score is one fixed-order double
    * expression, so it replays bit-identically.
    *
    * Scale shape: sentence/vowel-group counts are codegen'd
    * regexp_count on the doc row; the per-word vowel-less floor goes
    * through explode + partial-agg (never an interpreted per-token
    * lambda); ONE pass, one groupBy on the doc key. Returns
    * (idCol, n_words, n_sentences, n_syllables, flesch). */
  def readabilityScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        greatest(lit(1L),
          regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
          .as("__s"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
          .as("__vg"),
        explode(tokensWs(col(textCol))).as("__t"))
    val agg = base
      .withColumn("__novowel",
        (!col("__t").rlike("[aeiouy]")).cast("long"))
      .groupBy(col("__id"), col("__s"), col("__vg"))
      .agg(count(lit(1)).as("n_words"), sum(col("__novowel")).as("__n0"))
    agg.select(col("__id").as(idCol), col("n_words"),
        col("__s").as("n_sentences"),
        (col("__vg") + col("__n0")).as("n_syllables"))
      .withColumn("flesch",
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words")), 4))
  }

  /** Corpus self-overlap (diversity) metric — the corpus-health
    * number behind self-BLEU-style diversity reports (Zhu et al.
    * 2018): mean pairwise word-n-gram Jaccard over a DETERMINISTIC
    * bounded sample (the bottom-`sampleK` doc ids by hash — a set
    * property of the data, partition-invariant). High mean overlap =
    * the corpus is template-y/repetitive; near zero = diverse.
    *
    * Scale shape: sampling is a TakeOrdered over the hash (top-k,
    * never a global sort materialization); the all-pairs comparison
    * is BOUNDED BY CONSTRUCTION at sampleK²/2 rows (the MMR-style
    * bounded-head contract — the corpus never self-joins); per-pair
    * Jaccard and the mean are exact integer micro-units (`div`), so
    * the one-row result replays bit-identically. Returns (n_pairs,
    * mean_jaccard_micro). */
  def corpusSelfOverlap(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, sampleK: Int = 50, n: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    require(sampleK >= 2 && sampleK <= 1000,
      "sampleK bounds the all-pairs head: 2..1000")
    val s = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        array_distinct(wordNgrams(tokensWs(col(textCol)), n)).as("__g"),
        hash60(col(idCol).cast("string")).as("__h"))
      .orderBy(col("__h"), col("__id"))
      .limit(sampleK)
      .select(col("__id"), col("__g"))
    val pairs = broadcast(s.select(col("__id").as("a_id"),
        col("__g").as("__ga")))
      .join(broadcast(s.select(col("__id").as("b_id"),
        col("__g").as("__gb"))), col("a_id") < col("b_id"))
      .withColumn("__i", size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("__u",
        size(col("__ga")) + size(col("__gb")) - col("__i"))
      .select(when(col("__u") === 0, lit(0L))
        .otherwise(expr("CAST(__i AS BIGINT) * 1000000 div __u"))
        .as("__jm"))
    pairs.agg(count(lit(1)).as("n_pairs"), sum(col("__jm")).as("__s"))
      .select(col("n_pairs"),
        expr("__s div n_pairs").as("mean_jaccard_micro"))
  }

  /** Source-overlap matrix — the pairwise companion to
    * [[corpusSelfOverlap]]: for every source pair, how much of their
    * distinct word-n-gram vocabularies coincide. The curation signal
    * behind "which feeds duplicate which" decisions (a mirror site
    * shows up as near-total containment of the smaller side;
    * cross-source contamination as asymmetric overlap) — per-DOC
    * dedup can't see it because the duplication is spread across
    * many partial matches. Jaccard and containment close as exact
    * integer micro-units over exact distinct counts.
    *
    * Scale shape: ONE tokenize pass to the distinct (source, gram)
    * frame (gram sets partial-agg map-side); the pair counts ride a
    * gram-key equi-join whose fan-out is bounded by sources² per gram
    * (sources are few — the frame is vocab-sized, never corpus-
    * sized); per-source totals BROADCAST back. Returns (a_source,
    * b_source, shared_grams, a_grams, b_grams, jaccard_micro,
    * containment_micro) where containment divides by the SMALLER
    * side. */
  def sourceOverlapMatrix(df: org.apache.spark.sql.DataFrame,
      srcCol: String, textCol: String, n: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    val g = Partitioning.spread(df)
      .select(col(srcCol).as("__src"),
        explode(wordNgrams(tokensWs(col(textCol)), n)).as("__g"))
      .distinct()
    val totals = g.groupBy("__src").agg(count(lit(1)).as("__n"))
    g.select(col("__src").as("a_source"), col("__g"))
      .join(g.select(col("__src").as("b_source"), col("__g")), "__g")
      .filter(col("a_source") < col("b_source"))
      .groupBy("a_source", "b_source")
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(totals.select(col("__src").as("a_source"),
        col("__n").as("a_grams"))), "a_source")
      .join(broadcast(totals.select(col("__src").as("b_source"),
        col("__n").as("b_grams"))), "b_source")
      .select(col("a_source"), col("b_source"), col("shared_grams"),
        col("a_grams"), col("b_grams"),
        expr("shared_grams * 1000000L div " +
          "(a_grams + b_grams - shared_grams)").as("jaccard_micro"),
        expr("shared_grams * 1000000L div least(a_grams, b_grams)")
          .as("containment_micro"))
  }

  /** Gazetteer entity extraction (NER-lite, the dictionary half of
    * classic entity tagging — phrase lists are how production
    * pipelines tag domain entities without a model): count mentions
    * of typed 1- and 2-token phrases per document. Matching is
    * case-folded exact phrase equality over the whitespace token
    * stream; overlapping phrases each count ("sort merge join" hits
    * both "sort merge" and "merge join" — phrase-level counting,
    * deterministic on both sides of the oracle).
    *
    * Scale shape: the gazetteer is control-plane (entity dictionaries
    * are thousands of rows) and rides a BROADCAST join against the
    * exploded unigram + bigram streams — one tokenize pass feeds
    * both arities; per-(doc, type) counts partial-combine map-side.
    * Returns (idCol, etype, n_mentions, n_distinct). */
  def extractEntities(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, gazetteer: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    require(gazetteer.nonEmpty &&
      gazetteer.forall(_._1.split(" ").length <= 2),
      "gazetteer phrases must be 1 or 2 tokens")
    val spark = df.sparkSession
    import spark.implicits._
    val g = broadcast(gazetteer.toDF("phrase", "etype"))
    // the two arity streams re-run the codegen'd tokenize rather than
    // caching the tokenized corpus: two pruned column scans are
    // cheaper than materializing corpus-sized token arrays in
    // storage memory, and the plan stays fully inspectable
    val toks = Partitioning.spread(df)
      .select(col(idCol).as("__id"), tokensWs(col(textCol)).as("__tok"))
    val uni = toks.select(col("__id"),
      explode(col("__tok")).as("phrase"))
    val bi = toks.select(col("__id"),
      explode(bigrams(col("__tok"))).as("phrase"))
    uni.unionByName(bi)
      .join(g, "phrase")
      .groupBy(col("__id").as(idCol), col("etype"))
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("phrase")).as("n_distinct"))
  }

  /** Domain-characteristic keyword extraction: top-k terms per
    * stratum by pointwise mutual information — PMI(s, t) =
    * ln((c_st/n_s)/(c_t/N)), how much MORE a term occurs in a source
    * than its corpus rate predicts. The corpus-profiling op behind
    * "what is this crawl slice actually about" mixing decisions
    * (Church & Hanks 1990's association ratio applied to
    * source×term).
    *
    * Scale shape: ONE tokenize pass → per-(stratum, term) counts; the
    * term totals join back on the term key (vocab-sized at 100 TB —
    * shuffle, never broadcast) while the per-stratum totals broadcast
    * (strata are few by definition); `minCount` prunes the rare-term
    * noise floor BEFORE the joins. PMI's integer products stay exact
    * below 2^53, so the double ln sees the same value in any engine;
    * ranking rides the shared two-level [[Similarity.rankTopKBy]].
    * Returns (strataCol, term, pmi, rnk). */
  def domainKeywords(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, strataCol: String, k: Int = 10,
      minCount: Int = 5): org.apache.spark.sql.DataFrame = {
    val cst = Partitioning.spread(df)
      .select(col(strataCol).as("q_id"),
        explode(tokensWs(col(textCol))).as("n_id"))
      .groupBy("q_id", "n_id").agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val nTot = cst.agg(sum(col("__c"))).head().getLong(0)
    val ct = cst.groupBy("n_id").agg(sum(col("__c")).as("__ct"))
    val ns = cst.groupBy("q_id").agg(sum(col("__c")).as("__ns"))
    val scored = cst.filter(col("__c") >= minCount)
      .join(ct, "n_id")
      .join(broadcast(ns), "q_id")
      .withColumn("pmi", log((col("__c") * lit(nTot)).cast("double") /
        (col("__ns") * col("__ct"))))
    val out = Similarity.rankTopKBy(scored, k, "pmi", ascending = false)
      .select(col("q_id").as(strataCol), col("n_id").as("term"),
        col("pmi"), col("rnk"))
      .localCheckpoint()
    cst.unpersist()
    out
  }

  /** word n-grams of a token array, space-joined (empty when fewer
    * than n tokens) — the decontamination unit (benchmark overlap is
    * measured in word n-grams, not characters). */
  def wordNgrams(tokens: Column, n: Int): Column =
    coalesce(native(WordNgrams(asExpr(tokens), n)),
      array().cast("array<string>"))

  /** HOF model for the property pin (see [[charShinglesHof]]). */
  private[ops] def wordNgramsHof(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** word bigrams of a token array (empty when fewer than 2 tokens). */
  def bigrams(tokens: Column): Column = wordNgrams(tokens, 2)

  /** Pointwise-mutual-information collocations (Church & Hanks 1990):
    * bigrams whose observed frequency beats the independence prediction,
    * pmi = log₂(P(ab)/(P(a)·P(b))) with P(ab) = c_ab/T_bg over bigram
    * occurrences and P(w) = c_w/T_tok over token occurrences. The ratio
    * is assembled from exact integer counts in ONE fixed double
    * expression ((c_ab·T·T)/((c_a·c_b)·T_bg) — products in double so a
    * web-scale T² can't overflow a long) and the single log₂ is rounded
    * at 4 decimals — the oracle replays the identical tree. `minPair`
    * suppresses the low-count PMI explosion (rare pairs otherwise
    * dominate the ranking — the standard PMI pathology).
    *
    * Scale shape: two explode + partial-agg passes (tokens, bigrams);
    * the scoring joins run over the AGGREGATED count frames keyed by
    * word, so Spark broadcasts small vocabularies and shuffles big
    * ones; totals ride a 1-row broadcast cross join.
    * Returns (w1, w2, n_pair, n_w1, n_w2, pmi), top `topK` by pmi. */
  def pmiCollocations(df: DataFrame, textCol: String, minPair: Long = 5,
      topK: Int = 20): DataFrame = {
    require(minPair >= 1 && topK >= 1, "minPair and topK must be positive")
    val toks = graft.ops.Partitioning.spread(df)
      .select(explode(tokensWs(col(textCol))).as("w")).persist()
    val uni = toks.groupBy("w").agg(count(lit(1)).as("n_w"))
    val tTok = uni.agg(sum(col("n_w")).as("t_tok"))
    val bg = graft.ops.Partitioning.spread(df)
      .select(explode(bigrams(tokensWs(col(textCol)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val tBg = df.select(
      sum(greatest(size(tokensWs(col(textCol))) - 1, lit(0))).as("t_bg"))
    val ratio = (col("n_pair").cast("double") * col("t_tok") * col("t_tok")) /
      ((col("n_w1").cast("double") * col("n_w2")) * col("t_bg"))
    bg.join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(tTok)).crossJoin(broadcast(tBg))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log2(ratio), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010, public chapter):
    * candidate phrases are maximal stopword-free token runs; each word
    * scores deg(w)/freq(w) where deg sums the lengths of the phrase
    * occurrences containing it and freq counts its occurrences; a
    * phrase scores the sum of its words' scores. Word scores are fixed
    * to micro-units (`round(1e6·deg/freq)` — ONE IEEE division each,
    * same on both engines) so the phrase score is an exact integer sum
    * with no float-accumulation order to diverge on.
    *
    * Phrase segmentation is pure codegen'd string column work — no
    * per-doc window, no HOF lambda in the scoring path: the token
    * array is re-joined, spaces doubled so stopword matches can never
    * overlap, one global regexp pass cuts at stopwords, and the
    * resulting segments EXPLODE into the occurrence frame where plain
    * column functions normalize them. Runs longer than `maxPhraseLen`
    * words are dropped whole (the common RAKE practice), `minCount`
    * drops one-off phrases.
    *
    * Scale shape: two explode + partial-agg passes (word stats, phrase
    * counts); scoring joins ride the AGGREGATED phrase-type and word
    * frames. Stopwords come from [[StopProbe]] — the oracle derives
    * its regex from the same Scala value (seeded-constants rule).
    * Output: (phrase, n_words, n, score_micro), top `topK` by score. */
  def rakePhrases(df: DataFrame, textCol: String, maxPhraseLen: Int = 4,
      minCount: Long = 2, topK: Int = 20): DataFrame = {
    require(maxPhraseLen >= 1 && minCount >= 1 && topK >= 1,
      "maxPhraseLen, minCount and topK must be positive")
    val stopAlt = StopProbe.mkString("|")
    val joined = concat(lit(" "),
      array_join(tokensWs(col(textCol)), " "), lit(" "))
    val cut = regexp_replace(regexp_replace(joined, " ", "  "),
      s" ($stopAlt) ", " | ")
    val occ = graft.ops.Partitioning.spread(df)
      .select(explode(split(cut, "\\|")).as("__seg"))
      .select(trim(regexp_replace(col("__seg"), " +", " ")).as("phrase"))
      .filter(col("phrase") =!= "")
      .withColumn("n_words", size(split(col("phrase"), " ")).cast("long"))
      .filter(col("n_words") <= maxPhraseLen)
      .persist()
    val wordScore = occ
      .select(col("n_words"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(sum(col("n_words")).as("__deg"), count(lit(1)).as("__freq"))
      .select(col("w"), round(col("__deg").cast("double") * 1e6 /
        col("__freq"), 0).cast("long").as("__ws"))
    val types = occ.groupBy(col("phrase"), col("n_words"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= minCount)
    val scored = types
      .select(col("phrase"), col("n_words"), col("n"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, "w")
      .groupBy(col("phrase"), col("n_words"), col("n"))
      .agg(sum(col("__ws")).as("score_micro"))
    val out = scored
      .orderBy(col("score_micro").desc, col("n").desc, col("phrase"))
      .limit(topK)
      .localCheckpoint()
    occ.unpersist()
    out
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, public
    * paper): PageRank over the word-adjacency graph (an undirected
    * edge between tokens that ever appear side by side), the classic
    * graph-based keyword ranker. Ranks run in INTEGER micro-units —
    * r₀ = 1e6; per round msg(v) = Σ_{u~v} (r(u) div deg(u)) and
    * r'(v) = 150000 + (85·msg) div 100 — so every sum is an exact
    * integer (no float-accumulation order to diverge on; the
    * betweenness/HITS integer-score discipline). Integer division
    * truncates ≤ deg ulps per round — ranking-irrelevant and replayed
    * digit for digit by the oracle.
    *
    * Scale shape: one explode + distinct for the edge set (vocabulary-
    * sized, not corpus-sized), a partial-agg degree count, and per
    * round ONE equi-join + partial-agg shuffle on the word key — the
    * pageRankDF shape over a string-keyed graph.
    * Output: (w, deg, rank_micro), top `topK` by rank. */
  def textrankKeywords(df: DataFrame, textCol: String, iters: Int = 3,
      topK: Int = 20): DataFrame = {
    require(iters >= 1 && topK >= 1, "iters and topK must be positive")
    val adj = graft.ops.Partitioning.spread(df)
      .select(explode(wordNgrams(tokensWs(col(textCol)), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("a"),
        split(col("bg"), " ").getItem(1).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val und = adj.unionByName(
        adj.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    val deg = und.groupBy(col("a").as("w"))
      .agg(count(lit(1)).as("deg")).persist()
    var r = deg.select(col("w"), lit(1000000L).as("rank"))
    for (_ <- 1 to iters) {
      val msg = und
        .join(r.select(col("w").as("a"), col("rank")), "a")
        .join(deg.select(col("w").as("a"), col("deg").as("__d")), "a")
        .select(col("b").as("w"), expr("rank div __d").as("__c"))
        .groupBy(col("w")).agg(sum(col("__c")).as("__m"))
      r = deg.select(col("w")).join(msg, Seq("w"), "left_outer")
        .select(col("w"), (lit(150000L) +
          expr("85 * coalesce(__m, 0L) div 100")).as("rank"))
    }
    val out = r.join(deg, "w")
      .select(col("w"), col("deg"), col("rank").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("w"))
      .limit(topK)
      .localCheckpoint()
    und.unpersist(); deg.unpersist()
    out
  }

  // ------------------------------------------- cleaning / repetition
  /** PII patterns, restricted to syntax shared by Java regex and RE2
    * (no lookaround/backrefs) so the scrub is reproducible in any
    * engine. Order matters and is fixed: email → IPv4 → phone (none
    * can match inside another's replacement token). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\+?\\d{3}[- .]\\d{3,4}[- .]\\d{4}\\b"

  /** PII scrub — the redaction pass a corpus gets before training:
    * emails, IPv4 addresses and phone-shaped numbers replaced by
    * typed placeholder tokens (placeholders rather than deletion, so
    * token offsets stay roughly stable and the redaction is visible
    * downstream). Three codegen'd regexp_replace ops in one narrow
    * projection — no shuffle, no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** per-kind PII match counts (audit/reporting side of the scrub). */
  def piiCounts(c: Column): Seq[Column] = Seq(
    regexp_count(c, lit(EmailRe)).as("n_email"),
    regexp_count(regexp_replace(c, EmailRe, "<EMAIL>"), lit(Ipv4Re))
      .as("n_ip"),
    regexp_count(
      regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"), lit(PhoneRe)).as("n_phone"))

  /** Vocabulary-coverage (OOV) scoring: per-doc fraction of token
    * occurrences outside the corpus's top-`vocabSize` vocabulary — a
    * direct "will the tokenizer/model see this as noise" signal (high
    * OOV → wrong language, encoding damage, or boilerplate junk).
    * The exploded (id, token) frame is persisted for the call's scope
    * and feeds BOTH the vocab ranking and the per-doc aggregate (one
    * corpus tokenize, not two); the vocab is a top-N TakeOrdered
    * (count desc, token asc — the tie-break makes the cut
    * deterministic) and broadcasts; docs then see one LEFT broadcast
    * join + one partial-combining per-doc aggregate. */
  def oovRate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val exploded = Partitioning.spread(df)
      .select(col(idCol), explode(tokensWs(col(textCol))).as("__t"))
      .persist()
    val vocab = broadcast(exploded.groupBy(col("__t"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__t"))
      .limit(vocabSize)
      .select(col("__t"), lit(1).as("__in")))
    val out = exploded.join(vocab, Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .localCheckpoint()
    exploded.unpersist()
    out
  }

  /** Gopher-style composite quality gate (Rae et al. 2021 §A1.1,
    * public paper): the standard pre-training document filter as one
    * narrow projection — word-count bounds, mean-word-length band,
    * alphabetic-word fraction, stopword presence, and the duplicate-
    * bigram repetition signal, each surfaced as its own column plus
    * the combined `pass` flag (thresholds compare the ROUNDED values,
    * so the keep decision reproduces exactly in any engine). No
    * shuffle, no UDFs — per-doc column math over one tokenize. */
  val StopProbe: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on")
  def qualityGate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2,
      maxDupFrac: Double = 0.2): org.apache.spark.sql.DataFrame =
    df.withColumn("__tok", tokensWs(col(textCol)))
      .withColumn("n_words", size(col("__tok")).cast("long"))
      .withColumn("mean_word_len", round(
        length(regexp_replace(lower(col(textCol)), "\\s+", ""))
          .cast("double") / col("n_words"), 6))
      .withColumn("alpha_frac", round(
        size(filter(col("__tok"), t => t.rlike("[a-z]"))).cast("double")
          / col("n_words"), 6))
      .withColumn("stop_hits", StopProbe
        .map(w => array_contains(col("__tok"), w).cast("int"))
        .reduce(_ + _))
      .withColumn("dup_bigram_frac",
        round(repetitionFraction(col("__tok"), 2), 6))
      .withColumn("pass",
        (col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen &&
          col("alpha_frac") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits &&
          col("dup_bigram_frac") <= maxDupFrac).cast("int"))
      .select(col(idCol), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("stop_hits"), col("dup_bigram_frac"),
        col("pass"))

  /** canonical text normalization for exact-dedup keys: lower-case,
    * strip non-alphanumerics, collapse whitespace. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** duplicate-n-gram fraction (Gopher-style repetition signal):
    * 1 − distinct/total over word n-grams; highly repetitive docs
    * score near 1 and get filtered before training. */
  def repetitionFraction(tokens: Column, n: Int): Column = {
    val grams = wordNgrams(tokens, n)
    when(size(grams) === 0, lit(0.0d))
      .otherwise(lit(1.0d) -
        size(array_distinct(grams)).cast("double") / size(grams))
  }

  // ------------------------------------------------------ lang id
  /** tiny per-language marker token lists (n-gram heuristic surface;
    * scoring = marker-hit count per language, argmax wins). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value", "table", "fast"),
    "de" -> Seq("der", "und", "ist", "wert", "tabelle"),
    "fr" -> Seq("le", "la", "et", "valeur", "vite"),
    "es" -> Seq("el", "la", "y", "valor", "rapido"),
    "zh" -> Seq("de", "shi", "biao", "zhi", "kuai"))

  // ------------------------------------------- feature hashing
  /** Feature-hashing text embedder (the hashing trick, Weinberger et
    * al. 2009, public paper): token → `hash60 mod dim` bucket, vector
    * = per-bucket counts. Deterministic, vocabulary-free — the cheap
    * featurizer that turns a text corpus into an `array` column the
    * similarity/ANN/PQ stack consumes directly. Scale shape: one
    * explode pass, two partial-combining aggregations (token-bucket
    * counts, then per-doc map assembly), dense fill as a narrow
    * per-row expression over a dim-sized map — never a dim-wide
    * groupBy pivot. Counts are exact integers: the oracle hash cannot
    * drift. Docs with no tokens get the zero vector. */
  def hashEmbed(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dim: Int): org.apache.spark.sql.DataFrame = {
    val base = Partitioning.spread(df).select(col(idCol).as("__id"),
      tokensWs(col(textCol)).as("__tok"))
    val counts = base
      .select(col("__id"), explode(col("__tok")).as("__t"))
      .select(col("__id"), (hash60(col("__t")) % dim).cast("int").as("__d"))
      .groupBy(col("__id"), col("__d")).agg(count(lit(1)).as("__n"))
      .groupBy(col("__id"))
      .agg(map_from_entries(collect_list(struct(col("__d"), col("__n"))))
        .as("__m"))
    base.select(col("__id")).join(counts, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i.cast("int")), lit(0L)))
          .as("vec"))
  }

  // ------------------------------------------- BM25 ranked retrieval
  /** Okapi BM25 constants (Robertson et al., public IR literature;
    * the k1/b defaults are the standard Lucene values). Shared with
    * the DuckDB oracle so both engines compute from the same
    * literals. */
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75

  /** BM25 ranked retrieval: score every document against a small
    * fixed query-term set, return the top-k matches. The ranking
    * complement to boolean CONTAINSTEXT (reference FULLTEXT probes
    * answer yes/no; this orders by relevance):
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avgdl))` with the
    * Lucene `ln(1 + (N−df+0.5)/(df+0.5))` idf floor.
    *
    * Scale shape: ONE corpus tokenize pass feeding ONE
    * partial-combined groupBy — per-doc length and each term's tf are
    * conditional sums inside the same aggregate (query terms are few
    * and fixed, so tf columns beat a per-(doc,term) shuffle row). The
    * per-doc frame is persisted once: corpus stats (N, avgdl,
    * per-term df) collect from it as ONE control-plane row (the
    * collectCentroids pattern — a lazy in-plan stats aggregate made
    * Catalyst re-run the whole tokenize pipeline on the stats branch,
    * measured as a second Generate in the plan), and scoring reads
    * the same cache with the stats folded in as literals, keeping the
    * projection inside whole-stage codegen. The per-doc score is a
    * narrow columnwise projection (no float re-aggregation, so no
    * ordering nondeterminism); top-k is a TakeOrderedAndProject; the
    * tiny k-row result checkpoints so the cache releases before
    * returning. Docs with zero tokens can never match and are
    * excluded from N (documented: N = docs with ≥1 token). */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int,
      k1: Double = Bm25K1, b: Double = Bm25B): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    val toks = Partitioning.spread(df).select(col(idCol).as("__id"),
      explode(tokensWs(col(textCol))).as("__t"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("__t") === t, 1L).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = toks.groupBy("__id")
      .agg(tfCols.head, (tfCols.tail :+ count(lit(1)).as("__len")): _*)
      .persist()
    val statCols = terms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val st = perDoc.agg(count(lit(1)).as("__n"),
      (avg(col("__len")).as("__avgdl") +: statCols): _*).collect().head
    val n = st.getLong(0)
    val avgdl = st.getDouble(1)
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfT = st.getLong(2 + i)
      val idf = math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0)
      lit(idf) * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__len") / lit(avgdl)))
    }.reduce(_ + _)
    val out = perDoc
      .withColumn("__score", score)
      .filter(col("__score") > 0) // ranked retrieval: matches only
      .orderBy(col("__score").desc, col("__id"))
      .limit(k)
      .select(col("__id").as(idCol), round(col("__score"), 6).as("bm25"))
      .localCheckpoint()
    perDoc.unpersist()
    out
  }

  /** Pre-built BM25 inverted index: scored postings `(__id, __t,
    * __tf)` (per-doc term FREQUENCY, not the boolean CONTAINSTEXT
    * postings), per-doc lengths, and the two corpus constants. The
    * index-time corpus pass is the ONLY full tokenize; every query
    * after that probes the persisted postings by its (few) literal
    * terms — the ranked-retrieval analog of the reference FULLTEXT
    * probe (`OPropertyIndexFullText.java:92-200` stores word→RID
    * postings; scoring metadata per posting is the standard extension,
    * e.g. Lucene's norms). At 100 TB the posting frame is what
    * [[graft.sources.Bucketing]] writes bucketed by `__t` so a probe
    * prunes to the query terms' buckets; in-session it stays one
    * persisted shuffle partitioned by term. */
  final case class Bm25Index(postings: org.apache.spark.sql.DataFrame,
      lens: org.apache.spark.sql.DataFrame, nDocs: Long, avgdl: Double) {
    def release(): Unit = { postings.unpersist(); lens.unpersist(); () }
  }

  /** One tokenize pass → term-frequency postings + doc lengths +
    * corpus stats (N = docs with ≥ 1 token, avgdl — the
    * [[bm25TopK]] conventions exactly). Lengths derive from the
    * posting aggregate, never a second corpus read; the 1-row stats
    * collect is control-plane. */
  def bm25BuildIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): Bm25Index = {
    val postings = Partitioning.spread(df)
      .select(col(idCol).as("__id"),
        explode(tokensWs(col(textCol))).as("__t"))
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
      // partitioned BY TERM before persisting: a probe filters on
      // __t, so the filtered scan touches matching partitions' blocks
      // and the per-term df aggregate needs no exchange
      .repartition(col("__t"))
      .persist()
    val lens = postings.groupBy(col("__id"))
      .agg(sum(col("__tf")).as("__len"))
      .persist()
    val st = lens.agg(count(lit(1)).as("__n"), avg(col("__len")))
      .collect().head
    Bm25Index(postings, lens, st.getLong(0), st.getDouble(1))
  }

  /** INCREMENTAL index maintenance: extend an existing [[Bm25Index]]
    * with a batch of NEW documents — the ingestion path a deployment
    * actually runs (tokenizing the whole corpus per batch is the
    * 100 TB scale-killer; append tokenizes ONLY the batch). The
    * result is equivalent to [[bm25BuildIndex]] over the full corpus:
    * per-doc postings/lengths are independent, so the merged frames
    * are the same multisets, and N/avgdl recompute over the union
    * lens frame (one row per doc — integer lengths < 2^53 sum
    * exactly in any order, so avgdl cannot drift from the rebuild).
    * Batch ids must be NEW: an id already in the index would need a
    * posting merge (a full-index shuffle — exactly what append
    * exists to avoid), so colliding batches are rejected via one
    * doc-count-sized semi-join. Caller releases the RETURNED index;
    * the input index's frames are reused (not unpersisted). */
  def bm25AppendIndex(idx: Bm25Index, newDocs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): Bm25Index = {
    val np = Partitioning.spread(newDocs)
      .select(col(idCol).as("__id"),
        explode(tokensWs(col(textCol))).as("__t"))
      .groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
      .repartition(col("__t"))
    val nl = np.groupBy(col("__id")).agg(sum(col("__tf")).as("__len"))
    val collisions = nl.join(idx.lens, Seq("__id"), "left_semi").count()
    require(collisions == 0,
      s"bm25AppendIndex: $collisions batch ids already indexed — " +
        "append is for new documents only")
    val postings = idx.postings.unionByName(np).persist()
    val lens = idx.lens.unionByName(nl).persist()
    val st = lens.agg(count(lit(1)).as("__n"), avg(col("__len")))
      .collect().head
    Bm25Index(postings, lens, st.getLong(0), st.getDouble(1))
  }

  /** BM25 top-k FROM the index — no corpus tokenize at query time
    * (plan-pinned: the probe plan contains no generator). Probes the
    * posting table with the literal terms, rebuilds the SAME dense
    * per-doc (tf_0..tf_i, len) row [[bm25TopK]] aggregates directly,
    * and scores with the identical expression in the identical term
    * order — conditional-sum aggregation keeps every tf an exact
    * integer and the float adds in fixed order, so the result is
    * row-identical (hash-identical) to the scan-side [[bm25TopK]].
    * df_t comes from the probe itself (integer count over postings);
    * N/avgdl are the index's stored constants. */
  def bm25TopKIndexed(idx: Bm25Index, idCol: String,
      terms: Seq[String], k: Int, k1: Double = Bm25K1,
      b: Double = Bm25B): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    bm25ScoreProbe(idx.postings.filter(col("__t").isin(terms: _*)),
      idx.lens, idx.nDocs, idx.avgdl, idCol, terms, k, k1, b)
  }

  /** shared probe scorer: `probe` is the posting frame ALREADY
    * restricted to the query terms (in-memory filter or planning-time
    * pruned disk read). df_t is an exact integer count over the probe;
    * tf reconstruction via conditional sums keeps every tf integer and
    * the float adds in fixed term order — hash-identical to the
    * scan-side [[bm25TopK]]. */
  private def bm25ScoreProbe(probe: org.apache.spark.sql.DataFrame,
      lens: org.apache.spark.sql.DataFrame, nDocs: Long, avgdl: Double,
      idCol: String, terms: Seq[String], k: Int, k1: Double,
      b: Double): org.apache.spark.sql.DataFrame = {
    val dfRows = probe.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df")) // postings are distinct per (id, t)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("__t") === t, col("__tf")).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = probe.groupBy(col("__id"))
      .agg(tfCols.head, tfCols.tail: _*)
      .join(lens, "__id")
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfT = dfRows.getOrElse(terms(i), 0L)
      val idf = math.log((nDocs - dfT + 0.5) / (dfT + 0.5) + 1.0)
      lit(idf) * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__len") / lit(avgdl)))
    }.reduce(_ + _)
    perDoc
      .withColumn("__score", score)
      .filter(col("__score") > 0)
      .orderBy(col("__score").desc, col("__id"))
      .limit(k)
      .select(col("__id").as(idCol), round(col("__score"), 6).as("bm25"))
  }

  /** number of term-hash bucket directories in the on-disk BM25
    * layout: bounds the directory count (partitioning by raw term
    * would mint one directory per vocabulary word) while a literal
    * bucket predicate still prunes at planning time. */
  val Bm25DiskBuckets = 64

  /** ON-DISK BM25 index (the 100 TB layout — the qp_ivf_bucketed
    * pattern applied to text): postings land under
    * `dir/postings/__bkt=<hash-bucket>/`, doc lengths under
    * `dir/lens`, the two corpus constants as one row under
    * `dir/stats`. A probe resolves its terms' buckets (control-plane:
    * ≤ |terms| ints) and pushes them as a literal partition
    * predicate, so the scan reads ~|terms|/nBuckets of the posting
    * data at PLANNING time — no full-index read, no corpus tokenize. */
  def bm25WriteIndex(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dir: String,
      nBuckets: Int = Bm25DiskBuckets): Unit = {
    val idx = bm25BuildIndex(df, idCol, textCol)
    graft.sources.Bucketing.writePartitioned(
      idx.postings.withColumn("__bkt",
        pmod(hash60(col("__t")), lit(nBuckets.toLong))),
      s"$dir/postings", Seq("__bkt"))
    idx.lens.write.mode("overwrite").parquet(s"$dir/lens")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((idx.nDocs, idx.avgdl)).toDF("__n", "__avgdl")
      .write.mode("overwrite").parquet(s"$dir/stats")
    idx.release()
  }

  /** probe an on-disk [[bm25WriteIndex]] layout — row-identical to
    * [[bm25TopK]]/[[bm25TopKIndexed]]; the bucket literals come from
    * the SAME hash expression the writer used (evaluated on a
    * |terms|-row control-plane frame, never re-implemented
    * driver-side). */
  def bm25TopKFromDisk(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, terms: Seq[String], k: Int,
      k1: Double = Bm25K1, b: Double = Bm25B,
      nBuckets: Int = Bm25DiskBuckets): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "BM25 needs at least one query term")
    import spark.implicits._
    val buckets = terms.toDF("__t")
      .select(pmod(hash60(col("__t")), lit(nBuckets.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq
    Seq("postings", "lens", "stats").foreach(part =>
      graft.sources.Bucketing.requireCommitted(spark, s"$dir/$part"))
    val probe = spark.read.parquet(s"$dir/postings")
      .filter(col("__bkt").isin(buckets: _*) &&
        col("__t").isin(terms: _*))
    val lens = spark.read.parquet(s"$dir/lens")
    val st = spark.read.parquet(s"$dir/stats").collect().head
    bm25ScoreProbe(probe, lens, st.getLong(0), st.getDouble(1),
      idCol, terms, k, k1, b)
  }

  // ------------------------------------------- LM quality scoring
  /** CCNet-style language-model quality score (Wenzek et al. 2019,
    * public paper: perplexity of a small LM ranks document quality;
    * Kneser-Ney KenLM replaced by an add-k bigram model — the same
    * filtering signal, expressible in ANSI SQL for the oracle):
    * per-document mean negative log-probability under corpus bigram
    * statistics, `p(w2|w1) = (c12 + k) / (c1 + k·V)`, plus its
    * perplexity `exp(nll)`. Low-perplexity documents are fluent /
    * in-distribution; high-perplexity ones are noise.
    *
    * Scale shape: one corpus pass explodes bigrams and pre-aggregates
    * per (doc, bigram) with map-side combine; the corpus-wide count
    * table derives from THAT aggregate (never a second corpus read)
    * and is joined back on the bigram key — a shuffle join by design:
    * a web-scale bigram table is not broadcastable, and the context
    * totals come from a window over the count table, not the corpus.
    * The per-doc sum is FIXED-POINT (log-probs quantized to integer
    * micro-units, counts weighted exactly), so aggregation order can
    * never flip a rounding boundary — the kmeans determinism rule.
    * Returns (id, n_bigrams, nll, ppl). */
  /** per-codepoint split (order kept, duplicates kept) — native. */
  def charSplit(c: Column): Column = native(CharSplit(asExpr(c)))

  /** one greedy left-to-right BPE merge pass — native ([[MergePair]]). */
  def mergePair(c: Column, left: String, right: String): Column =
    native(MergePair(asExpr(c), left, right))

  /** Distributed BPE merge-table training (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"):
    * learn the `nMerges` most frequent adjacent symbol pairs, starting
    * from per-codepoint splits.
    *
    * Scale shape: ONE corpus tokenize pass builds the (word, count)
    * VOCABULARY — every round after that iterates on the vocab frame,
    * which is orders of magnitude smaller than the corpus (the
    * standard trainer design; pair statistics are weighted by word
    * frequency, so the result is identical to training on the raw
    * corpus). Each round is one partial-combining pair-count
    * aggregation, a 1-row argmax collect (control-plane: the chosen
    * merge is exactly what a broadcast would ship back), and one
    * compiled [[MergePair]] pass; lineage is truncated every 4 rounds.
    * Pair counts include overlaps ([a,a,a] holds (a,a) twice) and the
    * merge pass is greedy non-overlapping — the reference algorithm's
    * exact semantics, which the unrolled oracle SQL reproduces with
    * wrapped-symbol `replace`. Ties break (count desc, left asc,
    * right asc), so the merge table is deterministic.
    *
    * Returns (step, lhs, rhs, score), one row per learned merge —
    * control-plane sized, like a centroid matrix. */
  def learnBpeMerges(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, nMerges: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = Partitioning.spread(df)
      .select(explode(tokensWs(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .select(col("__n"), charSplit(col("__w")).as("__s"))
      .persist()
    var vocab = words
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var dry = false
    while (round <= nMerges && !dry) {
      val best = vocab
        .select(col("__n"), explode(wordNgrams(col("__s"), 2)).as("__p"))
        .groupBy(col("__p")).agg(sum(col("__n")).as("__c"))
        // symbols are whitespace-free (tokensWs splits on whitespace),
        // so the pair string splits back losslessly on its one space
        .select(substring_index(col("__p"), " ", 1).as("__l"),
          substring_index(col("__p"), " ", -1).as("__r"), col("__c"))
        .orderBy(col("__c").desc, col("__l"), col("__r"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val l = best.head.getString(0)
        val r = best.head.getString(1)
        merges += ((round, l, r, best.head.getLong(2)))
        vocab = vocab.withColumn("__s", mergePair(col("__s"), l, r))
        if (round % 4 == 0) vocab = vocab.localCheckpoint()
        round += 1
      }
    }
    words.unpersist()
    merges.toSeq.toDF("step", "lhs", "rhs", "score")
  }

  /** BPE encoder: segment every doc with a learned merge table. The
    * merge chain runs once per DISTINCT token (the vocab-sized
    * dictionary, not the corpus) as `nMerges` chained compiled
    * [[MergePair]] passes, then joins back onto the exploded corpus —
    * at 100 TB the heavy work is proportional to the vocabulary.
    * Returns (idCol, n_tokens, n_subwords). */
  def bpeSegmentCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val toks = Partitioning.spread(df)
      .select(col(idCol).as("__id"), explode(tokensWs(col(textCol))).as("__w"))
    val dict = toks.select(col("__w")).distinct()
      .withColumn("__k", size(
        merges.foldLeft(charSplit(col("__w"))) {
          case (c, (l, r)) => mergePair(c, l, r)
        }))
    toks.join(dict, Seq("__w"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__k")).as("n_subwords"))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_subwords"))
  }

  /** Tokenizer fertility per stratum — the standard tokenizer-eval
    * metric (subword tokens emitted per whitespace word; a vocabulary
    * that fits a language sits near 1, a poor fit fragments every
    * word): Σ subwords · 1e6 div Σ words over each stratum, from the
    * same vocab-sized merge-chain dictionary as [[bpeSegmentCounts]].
    * How multilingual mixes decide per-language token budgets and
    * spot under-served scripts. All-integer close, exact replay.
    *
    * Scale shape: inherits the encoder's — merge chains run per
    * DISTINCT token, the corpus join partial-aggregates to one row
    * per (doc → stratum); the stratum close is a second partial agg. */
  def bpeFertility(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, strataCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    bpeSegmentCounts(df, idCol, textCol, merges)
      .join(df.select(col(idCol), col(strataCol)), idCol)
      .groupBy(col(strataCol))
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_subwords")).as("n_subwords"))
      .withColumn("fertility_micro",
        expr("n_subwords * 1000000L div n_tokens"))

  def lmPerplexity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, addK: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Partitioning.spread(df)
      .select(col(idCol).as("__id"), tokensWs(col(textCol)).as("__tok"))
    // tokens are whitespace-split (no inner spaces), so the bigram
    // string splits back losslessly on its single separator
    val bi = toks
      .select(col("__id"), explode(bigrams(col("__tok"))).as("__bg"))
      .select(col("__id"),
        substring_index(col("__bg"), " ", 1).as("__w1"),
        substring_index(col("__bg"), " ", -1).as("__w2"))
    val docBi = bi.groupBy(col("__id"), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__occ"))
    val c12 = docBi.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__occ")).as("__c12"))
    val counts = c12.withColumn("__c1",
      sum(col("__c12")).over(Window.partitionBy(col("__w1"))))
    // vocabulary from the count table (not a second corpus pass), as
    // an IN-PLAN 1-row aggregate crossJoined in: a separate driver
    // action would recompute the bigram aggregation, while one plan
    // lets exchange reuse share it (A/B: ~0.4 s and a 2× better cold
    // run at sf0.1)
    val vocabDf = c12.select(col("__w1").as("__w"))
      .union(c12.select(col("__w2").as("__w"))).distinct()
      .agg(count(lit(1)).as("__v"))
    val p = (col("__c12") + lit(addK)) /
      (col("__c1") + lit(addK) * col("__v"))
    docBi.join(counts, Seq("__w1", "__w2")).crossJoin(vocabDf)
      .withColumn("__t",
        round(log(p) * 1e6).cast("long") * col("__occ"))
      .groupBy(col("__id"))
      .agg(sum(col("__occ")).as("n_bigrams"), sum(col("__t")).as("__s"))
      .withColumn("__nll", -(col("__s") / (col("n_bigrams") * lit(1e6))))
      .select(col("__id").as(idCol), col("n_bigrams"),
        round(col("__nll"), 6).as("nll"),
        round(exp(col("__nll")), 3).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1999 §2.7) — the smoothing the CCNet pipeline's
    * KenLM actually uses, upgrading [[lmPerplexity]]'s add-k model:
    *   p(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)
    * with the classic absolute discount D = 0.75 = 3/4 EXACT, so
    * every probability is assembled from integer counts in a fixed
    * IEEE op sequence (3 divides, 1 multiply, 1 add — bit-identical
    * in any engine): the continuation probability N1+(·w2)/N1+(··)
    * scores how many CONTEXTS a word completes, not how often it
    * occurs — the "San Francisco" effect ("Francisco" is frequent
    * but only ever follows "San").
    *
    * Scale shape mirrors [[lmPerplexity]]: one corpus pass to
    * per-(doc, bigram) partial aggregates; c1/N1+(w1·)/N1+(·w2) come
    * from windows over the bigram-TYPE table (vocabulary-sized, never
    * the corpus — w1 windows share one shuffle, the w2 window is a
    * second); N1+(··) is an in-plan 1-row aggregate crossJoined in;
    * per-token log-probs are quantized to integer micro-nats BEFORE
    * the order-free per-doc sum. Returns (id, n_bigrams, nll, ppl). */
  def lmPerplexityKn(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Partitioning.spread(df)
      .select(col(idCol).as("__id"), tokensWs(col(textCol)).as("__tok"))
    val bi = toks
      .select(col("__id"), explode(bigrams(col("__tok"))).as("__bg"))
      .select(col("__id"),
        substring_index(col("__bg"), " ", 1).as("__w1"),
        substring_index(col("__bg"), " ", -1).as("__w2"))
    val docBi = bi.groupBy(col("__id"), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__occ"))
    val c12 = docBi.groupBy(col("__w1"), col("__w2"))
      .agg(sum(col("__occ")).as("__c12"))
    val w1w = Window.partitionBy(col("__w1"))
    val counts = c12
      .withColumn("__c1", sum(col("__c12")).over(w1w))
      .withColumn("__n1f", count(lit(1)).over(w1w))
      .withColumn("__n1b",
        count(lit(1)).over(Window.partitionBy(col("__w2"))))
    val nbi = c12.agg(count(lit(1)).as("__nbi"))
    // D = 3/4 exact: numerators stay integer until ONE final divide
    val p = greatest(col("__c12") * 4 - 3, lit(0L)).cast("double") /
        (col("__c1") * 4) +
      (col("__n1f") * 3).cast("double") / (col("__c1") * 4) *
        (col("__n1b").cast("double") / col("__nbi"))
    docBi.join(counts, Seq("__w1", "__w2")).crossJoin(nbi)
      .withColumn("__t",
        round(log(p) * 1e6).cast("long") * col("__occ"))
      .groupBy(col("__id"))
      .agg(sum(col("__occ")).as("n_bigrams"), sum(col("__t")).as("__s"))
      .withColumn("__nll", -(col("__s") / (col("n_bigrams") * lit(1e6))))
      .select(col("__id").as(idCol), col("n_bigrams"),
        round(col("__nll"), 6).as("nll"),
        round(exp(col("__nll")), 3).as("ppl"))
  }

  /** Zipf rank-frequency fit — the standard corpus-health diagnostic
    * (Zipf 1949: natural language has ln f ≈ a − s·ln r with s ≈ 1;
    * synthetic/templated/boilerplate corpora bend the line): OLS of
    * ln(frequency) on ln(rank) over the top-`topK` vocabulary.
    *
    * Determinism discipline: ln values are rounded to integer MICRO
    * units per term (`round(ln·10⁶)` — integral doubles cast exactly
    * on both engines), so every OLS sum is an EXACT integer and the
    * two closing divisions convert identical integers to identical
    * doubles. Equal-frequency rank ties don't matter: swapping tied
    * terms permutes ranks among equal frequencies, leaving the
    * (rank, freq) multiset — and every sum — unchanged, so the result
    * is collation-independent.
    *
    * Scale shape: one explode + partial-combining term count; ranking
    * is a window over the top-K frame ONLY (K rows, never the
    * vocabulary); one closing aggregate. Returns one row
    * (n_terms, slope, intercept). */
  /** ln(rank)·10⁶ for the FIXED ranks 1..topK, computed once in Scala
    * (StrictMath.log — bit-identical across JVMs) and shared with the
    * oracle as interpolated literals: the x side of the Zipf fit no
    * longer touches either engine's libm (r10 ADVICE — a 1-ulp ln
    * divergence landing on a .5 micro-unit boundary was the residual
    * cross-engine flake channel; ln(f) over the data-dependent
    * frequencies remains, risk documented on [[zipfFit]]). */
  def zipfLnRankMicros(topK: Int): IndexedSeq[Long] =
    (1 to topK).map(r => math.round(StrictMath.log(r.toDouble) * 1e6))

  private def dbl(x: Double): String = java.lang.Double.toString(x)

  /** Engine-neutral ln(f)·10⁶ — SQL expression strings shared VERBATIM
    * by the Spark query and the DuckDB oracle so both engines run the
    * IDENTICAL IEEE-754 +,−,×,÷ sequence, closing the last query-time
    * libm call in a hash-gated oracle (the ln(rank) half was closed in
    * r10 via [[zipfLnRankMicros]]; ln over the data-dependent
    * frequencies could not ride a precomputed table, so the FORMULA is
    * the shared constant instead). Decomposition: f = 2ᵉ·m with
    * m ∈ [1,2) — e and 2ᵉ come from exact integer CASE chains — and
    * ln m = 2·atanh(z), z = (m−1)/(m+1) ≤ 1/3, via a fixed 10-term odd
    * series in Horner form (truncation < 5·10⁻¹², invisible at
    * micro-unit rounding). Constants are Scala-printed
    * shortest-roundtrip doubles, so both SQL parsers recover identical
    * bits; identical text ⇒ identical operation order ⇒ identical
    * doubles ⇒ identical rounded integers on any data. */
  def lnExp2Case(f: String): String =
    (62 to 1 by -1).map(e => s"WHEN $f >= ${1L << e} THEN $e")
      .mkString("CASE ", " ", " ELSE 0 END")

  def lnPow2Case(f: String): String =
    (62 to 1 by -1).map(e => s"WHEN $f >= ${1L << e} THEN ${1L << e}")
      .mkString("CASE ", " ", " ELSE 1 END")

  def lnMicrosExpr(e: String, z: String, z2: String): String = {
    val cs = (0 to 9).map(k => 1.0 / (2 * k + 1))
    val poly = cs.init.reverse.foldLeft(dbl(cs.last))(
      (acc, c) => s"($acc * $z2 + ${dbl(c)})")
    val ln2 = dbl(StrictMath.log(2.0))
    s"CAST(round((CAST($e AS DOUBLE) * $ln2 + (2.0 * $z) * $poly)" +
      " * 1e6) AS BIGINT)"
  }

  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int = 100): org.apache.spark.sql.DataFrame = {
    require(topK >= 2, "need at least 2 ranks to fit a line")
    val freqs = Partitioning.spread(df)
      .select(explode(tokensWs(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__t")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__f").desc, col("__t"))
    val xy = freqs.withColumn("__r", row_number().over(w))
      .withColumn("__e", expr(lnExp2Case("__f")))
      .withColumn("__p2", expr(lnPow2Case("__f")))
      .withColumn("__m", expr("CAST(__f AS DOUBLE) / CAST(__p2 AS DOUBLE)"))
      .withColumn("__z", expr("(__m - 1.0) / (__m + 1.0)"))
      .withColumn("__z2", expr("__z * __z"))
      .select(
        element_at(typedlit(zipfLnRankMicros(topK)), col("__r")).as("x"),
        expr(lnMicrosExpr("__e", "__z", "__z2")).as("y"))
    xy.agg(count(lit(1)).as("__n"), sum(col("x")).as("__sx"),
        sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      // integer numerator/denominator FIRST (exact), then one double
      // division — both engines convert the same integers. decimal
      // (38,0) from the first multiply (the Mann-Whitney overflow
      // discipline): n·Σxy wraps silently in Long past topK ≈ 2000
      // under ansi=false, while DuckDB's HUGEINT keeps going
      .withColumn("__slope",
        (col("__n").cast("decimal(38,0)") * col("__sxy") -
          col("__sx").cast("decimal(38,0)") * col("__sy"))
          .cast("double") /
          (col("__n").cast("decimal(38,0)") * col("__sxx") -
            col("__sx").cast("decimal(38,0)") * col("__sx"))
            .cast("double"))
      .select(col("__n").as("n_terms"),
        round(col("__slope"), 6).as("slope"),
        round((col("__sy").cast("double") -
          col("__slope") * col("__sx").cast("double")) /
          col("__n").cast("double") / 1e6, 6).as("intercept"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf0.1-shaped corpora for scale checks: md5-hash token
  * and float selection over a FIXED 30-word vocabulary (the
  * vocabulary-saturated shape), and every 10th document a near-dup of
  * its predecessor (same token stream plus one appended token, so
  * shingle Jaccard stays far above 0.8) — the planted pair count is
  * exactly n/10 and grows linearly, like a crawl's constant dup
  * fraction. The 1× corpus is 5 000 documents and 2 000 embeddings;
  * `scale` multiplies both. MEASUREMENTS.md records what was measured
  * on these corpora; [[ScaleReproSpec]] re-measures it. */
object ScaleCorpus {
  def h(cols: Column*): Column =
    conv(substring(md5(concat_ws(":", cols: _*)), 1, 15), 16, 10)
      .cast("long")

  // includes stop-probe words ("the", "a", "of", "in") like the real
  // corpus, so the Gopher gate's stop_hits signal has mass to pass
  private val vocab = Seq("spark", "batch", "part", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "join", "the", "a", "of", "in")
  private val langs = Seq("en", "en", "en", "en", "de", "fr", "es", "zh")

  /** Five hash-drawn languages: a block key of FIXED cardinality. */
  val hashedLang: Column = element_at(array(langs.map(lit): _*),
    (h(col("doc_id"), lit("lang")) % langs.size + 1).cast("int"))

  /** `"l" + doc_id div 250`: block COUNT grows with the corpus while
    * occupancy stays 250 (the crawl shape the blocking contract
    * models). A planted pair (id−1, id) has id ≡ 9 (mod 10), so it
    * never straddles a block boundary. */
  val growingBlocks: Column = concat(lit("l"), expr("doc_id div 250"))

  def docs(spark: SparkSession, n: Long, lang: Column): DataFrame = {
    val seed = when(col("doc_id") % 10 === 9, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val nTok = (h(seed, lit("len")) % 61 + 30).cast("int")
    val toks = transform(sequence(lit(1), nTok), p =>
      element_at(array(vocab.map(lit): _*),
        (h(seed, p) % vocab.size + 1).cast("int")))
    val baseText = array_join(toks, " ")
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("text",
        when(col("doc_id") % 10 === 9, concat(baseText, lit(" omega9zz")))
          .otherwise(baseText))
      .withColumn("lang", lang)
      .withColumn("source",
        concat(lit("src"), h(col("doc_id"), lit("src")) % 20))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim floats = per-label centroid + per-id noise, both
    * hash-derived; label = id mod 16. */
  def embeddings(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"))
      .withColumn("label", (col("vec_id") % 16).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        ((h(col("label"), lit("c"), d) % 2001 - 1000) / lit(1000.0) +
          (h(col("vec_id"), lit("n"), d) % 201 - 100) / lit(1000.0))
          .cast("float")))

  /** Directory with `documents.parquet` and `embeddings.parquet` at
    * `scale`×, written once per temp dir and reused (a `_done` marker).
    * `blocked` selects [[growingBlocks]] as the lang key, otherwise
    * [[hashedLang]]. */
  def ensure(spark: SparkSession, scale: Int,
      blocked: Boolean = false): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_scale${if (blocked) "_blocked" else ""}/x$scale").toString
    val marker = new java.io.File(s"$dir/_done")
    if (!marker.exists()) {
      docs(spark, 5000L * scale, if (blocked) growingBlocks else hashedLang)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      embeddings(spark, 2000L * scale).repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      marker.getParentFile.mkdirs()
      marker.createNewFile()
    }
    dir
  }
}

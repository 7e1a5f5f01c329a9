package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}
import graft.ops.{Classifier, Curation, Dedup, Density, Multimodal, Pca, Pq, Similarity, SubstringIndex, TextOps}
import graft.ops.TextOps._

/** Training-data pipeline corpus: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard), similarity search (brute-force cosine
  * top-k, hyperplane-LSH buckets), and text analysis (quality stats,
  * language-ID heuristic, fingerprinting) over the `documents` and
  * `embeddings` tables. Every query has a DuckDB oracle generated FROM
  * THE SAME seeded constants (minhash coefficients, hyperplanes), so
  * the full numeric pipeline is hash-checked, not just row counts.
  */
object QueriesPipeline {
  /** Per-SESSION scratch root for the on-disk index/model queries
    * (r11 ADVICE): keyed by the Spark application id, so two
    * concurrent sessions on one machine (Verify at sf0.01 while Bench
    * runs sf0.1) can never overwrite each other's live directories
    * mid-probe; every root self-registers for deletion at JVM exit so
    * runs stop accreting under tmpdir. Within ONE session the per-name
    * dir is still overwritten per run — the existing convention. */
  private val scratchRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { r =>
        val p = java.nio.file.Paths.get(r)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { java.nio.file.Files.delete(f); () })
      }))
    ()
  }
  private def scratchDir(s: SparkSession, name: String): String = {
    scratchHook
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-run-${s.sparkContext.applicationId}")
    scratchRoots.add(root.toString)
    new java.io.File(root, name).toString
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private val stop = graft.functions.FullText.stopWords

  /** typed phrase dictionary for qp_entities — both the Spark query
    * and the VALUES-literal oracle are generated from this one list
    * (CLAUDE.md seeded-constants rule; phrases are corpus-organic). */
  private val EntityGazetteer: Seq[(String, String)] = Seq(
    ("hash join", "operator"), ("merge join", "operator"),
    ("table scan", "operator"), ("sort merge", "operator"),
    ("spark", "engine"),
    ("stream", "mode"), ("batch", "mode"))

  /** qp_dbscan parameters — one place so the Spark call and the oracle
    * SQL literal derive from the same numbers. */
  private val DbscanEps = 80L
  private val DbscanMinPts = 4

  /** qp_image_phash constants — ONE set of Scala values drives both
    * the synthetic-pixel generator and the interpolated oracle SQL
    * (CLAUDE.md seeded-constants rule). */
  /** corpus-scaled near-dup group count (r11, ADVICE): a FIXED group
    * count saturates — candidate volume grows as occupancy² while the
    * corpus grows linearly (the fixed-block caveat, MEASUREMENTS.md §r9). Groups
    * grow with the corpus at CONSTANT occupancy ~20 (the crawl shape
    * the 10× exponents were measured under); the 25 floor keeps
    * sf0.01 (500 docs → 500/20 = 25) bit-identical to the historical
    * fixed constant. The oracle computes the SAME formula in SQL
    * (`greatest(25, count(*) // 20)` — one scalar CTE), so both
    * engines derive the group key from one rule. */
  private def phGroupsFor(nDocs: Long): Long = math.max(25L, nDocs / 20)
  /** the shared scalar CTE both pattern oracles prepend. */
  private val PhGroupsCte: String =
    "phg AS (SELECT greatest(25, count(*) // 20) AS n FROM documents)"

  private val PhHi = 220 // bright level
  private val PhLo = 30 // dark level
  private val PhFlip = 250 // perturbed pixel = PhFlip − base
  private[graft] val PhMaxDist = 3

  /** deterministic 9×8 grayscale luma for doc `id` at grid (r, c) —
    * the dbscanPoints augmentation convention: a per-GROUP two-level
    * pattern (groups are near-dup families; cell brightness = the top
    * bit of md5("ph:g:r:c"), a real PRF both engines compute, so
    * cross-group hashes sit a binomial ~32 bits apart — an arithmetic
    * mod-pattern here made shifted groups collide within the radius)
    * plus, for every 5th within-group member, ONE flipped pixel (≤ 2
    * dHash bits): same-group pairs sit within Hamming ≤ 3, cross-group
    * pairs never. Replayed verbatim in the oracle. */
  private def phashLuma(prefix: String, groups: Long, id: Long, r: Int,
      c: Int): Int = {
    val g = id % groups
    val k = id / groups
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prefix:$g:$r:$c".getBytes("UTF-8"))
    val base = if ((digest(0) & 0x80) == 0) PhHi else PhLo
    if (k % 5 == 0 && r == (k * 3) % 8 && c == (k * 5) % 9) PhFlip - base
    else base
  }

  // the synthetic media corpora are pure functions of (dir) but cost a
  // corpus of md5 digests to mint (72-216 per doc); several gates and
  // table functions each ride one, so cache the materialization per
  // (session, dir) — the GraphOps.cached discipline (the moral
  // equivalent of the media table a deployment stores at ingestion).
  // Weak keys keep stopped sessions collectable.
  private val mediaCache = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[String, DataFrame]]()
  private def cachedMedia(s: SparkSession, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    val m = Option(mediaCache.get(s)).getOrElse {
      val m0 = scala.collection.mutable.Map[String, DataFrame]()
      mediaCache.put(s, m0); m0
    }
    m.getOrElseUpdate(key, build.persist())
  }

  /** qp_audio_fingerprint constants (the image-gate convention, audio
    * modality): per-group band amplitudes from the md5 PRF, one
    * flipped band (≤ 2 fingerprint bits) per 5th group member. */
  private val AuHi = 12000
  private val AuLo = 2000

  private def audioAmp(groups: Long, id: Long, j: Int): Int = {
    val g = id % groups
    val k = id / groups
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"au:$g:$j".getBytes("UTF-8"))
    val base = if ((digest(0) & 0x80) == 0) AuHi else AuLo
    if (k % 5 == 0 && j == (k * 7) % 65) AuHi + AuLo - base else base
  }

  /** synthetic media table for the audio-fingerprint gate: one REAL
    * 16-bit PCM WAV per doc ([[Multimodal.encodeWavPcm16]] — the
    * exact flavor `wavPcmSamples` decodes): 65 bands × 10 constant-
    * amplitude samples, so band energy = 10·amp² and the energy
    * comparison the engine computes from DECODED samples equals the
    * amplitude comparison the oracle regenerates from doc_id. */
  private[graft] def audioMedia(s: SparkSession, dir: String): DataFrame =
      cachedMedia(s, s"au:$dir") {
    val groups = phGroupsFor(docs(s, dir).count())
    val rdd = docs(s, dir).select(col("doc_id")).rdd.map { r =>
      val id = r.getLong(0)
      val samples = Array.tabulate(650)(i => audioAmp(groups, id, i / 10))
      org.apache.spark.sql.Row(id,
        Multimodal.encodeWavPcm16(8000, 1, samples))
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType))))
  }

  /** synthetic media table for the perceptual-hash gate: one REAL
    * 24-bpp BMP payload per doc ([[Multimodal.encodeBmp24]] — the
    * exact flavor `bmpPixels` decodes; gray pixels make luma the
    * identity, so the oracle can regenerate the decoded integers). */
  private def phashMedia(s: SparkSession, dir: String): DataFrame =
      cachedMedia(s, s"ph:$dir") {
    val groups = phGroupsFor(docs(s, dir).count())
    val rdd = docs(s, dir).select(col("doc_id")).rdd.map { r =>
      val id = r.getLong(0)
      val gray = Array.tabulate(72)(i =>
        phashLuma("ph", groups, id, i / 9, i % 9))
      org.apache.spark.sql.Row(id, Multimodal.encodeBmp24(9, 8, gray))
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType))))
  }

  /** synthetic media table for the JPEG perceptual-hash gate (r11 —
    * the dominant-crawl-format decoder brought into the dedup
    * triangle), MIXED-FORMAT by construction: the same 9×8 md5-PRF
    * pattern ships as a 9×8 BMP (id % 4 = 0), a 72×64 block-upscaled
    * DC-only grayscale JPEG (id % 4 = 1, with a restart interval —
    * RSTn coverage on the gate path), a 72×64 4:2:0 YCbCr JPEG
    * (id % 4 = 2, chroma derived from the id and discarded by the
    * luma-only decode), a 9×8 palette PNG (id % 4 = 3, r11b —
    * the PLTE decode path on the gate), an ImageIO-encoded baseline
    * gray JPEG (id % 16 = 2, r13 — the JDK's INDEPENDENT encoder, so
    * a matched bug in the repo's own writer halves cannot hide;
    * block-constant cells decode to per-cell-value constants, so the
    * strict-> dHash replays the pattern exactly), or an ImageIO
    * Adam7-INTERLACED gray PNG (id % 8 = 7, r13 — lossless, exact).
    * dHash samples block top-lefts
    * (sy = 8r, sx = 8c on a 72×64 grid; identity at 9×8), so every
    * format hashes identically to the 9×8 pattern and pairing is
    * format-blind — which is exactly what the oracle (pattern replay)
    * asserts. */
  /** ImageIO (the JDK's independent codec implementation) writer
    * halves for the r13 gate members — a SECOND encoder so the gates
    * stop being self-referential (r12 VERDICT "what's wrong" #1).
    * Gray images go through raw raster samples: TYPE_BYTE_GRAY's
    * setRGB would gamma-convert through sRGB. */
  private def imageIoGray(w: Int, h: Int,
      gray: Array[Int]): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < gray.length) {
      raster.setSample(i % w, i / w, 0, gray(i))
      i += 1
    }
    img
  }

  private[graft] def imageIoJpegGray(w: Int, h: Int,
      gray: Array[Int]): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(0.95f)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(out)
    writer.write(null,
      new javax.imageio.IIOImage(imageIoGray(w, h, gray), null, null),
      params)
    out.flush(); writer.dispose()
    bos.toByteArray
  }

  private[graft] def imageIoPngAdam7Gray(w: Int, h: Int,
      gray: Array[Int]): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("png").next()
    val params = writer.getDefaultWriteParam
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(out)
    writer.write(null,
      new javax.imageio.IIOImage(imageIoGray(w, h, gray), null, null),
      params)
    out.flush(); writer.dispose()
    bos.toByteArray
  }

  private[graft] def jpegMedia(s: SparkSession, dir: String): DataFrame =
      cachedMedia(s, s"jph:$dir") {
    val groups = phGroupsFor(docs(s, dir).count())
    val rdd = docs(s, dir).select(col("doc_id")).rdd.map { r =>
      val id = r.getLong(0)
      val pat = Array.tabulate(72)(i =>
        phashLuma("jph", groups, id, i / 9, i % 9))
      val payload = (id % 4) match {
        case 0 => Multimodal.encodeBmp24(9, 8, pat)
        case 3 =>
          if (id % 8 == 7) // r13: INTERLACED member — ImageIO Adam7 PNG
            imageIoPngAdam7Gray(9, 8, pat)
          else Multimodal.encodePngPal(9, 8, pat) // r11b: palette PNG
        case _ =>
          val up = Array.tabulate(72 * 64) { i =>
            val y = i / 72; val x = i % 72
            pat((y / 8) * 9 + x / 8)
          }
          if (id % 4 == 1)
            Multimodal.encodeJpegGray(72, 64, up,
              restartInterval = 1 + (id % 7).toInt)
          else if (id % 8 == 6) // r12: PROGRESSIVE member, same pattern
            Multimodal.encodeJpegProgGray(72, 64, up)
          else if (id % 16 == 2) // r13: INDEPENDENT-ENCODER member —
            // ImageIO baseline JPEG. Block-constant cells decode to a
            // per-cell-value constant (JPEG is block-local), so dHash's
            // strict > comparisons replay the pattern exactly and the
            // oracle stays format-blind; a decoder bug that shifts
            // blocks breaks the gate, which is the point.
            imageIoJpegGray(72, 64, up)
          else Multimodal.encodeJpegYcc420(72, 64, up,
            cb = (id % 256).toInt, cr = ((id * 7) % 256).toInt)
      }
      org.apache.spark.sql.Row(id, payload)
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType))))
  }

  /** frame-f luma for the ANIMATED gate (r11): the phashLuma pattern
    * with the frame index folded into the PRF seed — each member's
    * three frames differ, near-dup members flip ONE pixel in ONE
    * frame (frame k % 3), so same-group sequences sit within aligned
    * Hamming ≤ 3 on every frame and cross-group never. */
  private def gifLuma(groups: Long, id: Long, f: Int, r: Int,
      c: Int): Int = {
    val g = id % groups
    val k = id / groups
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"gph:$g:$f:$r:$c".getBytes("UTF-8"))
    val base = if ((digest(0) & 0x80) == 0) PhHi else PhLo
    if (k % 5 == 0 && f == (k % 3).toInt && r == ((k * 3) % 8).toInt &&
      c == ((k * 5) % 9).toInt) PhFlip - base
    else base
  }

  /** synthetic media table for the animated-GIF gates: one REAL
    * 3-frame 9×8 GIF89a per doc ([[Multimodal.encodeGifGray]] — gray
    * palette makes luma the identity, so the oracle regenerates the
    * decoded integers per frame). r14: every id%8==5 member is a
    * DELTA-OPTIMIZED re-encode ([[Multimodal.encodeGifGrayDelta]] —
    * changed-rect frames with GCE transparency at descriptor offsets,
    * the mainstream LZW-optimizer shape); the composited decode is
    * exactly the same frames, so the member pairs with its group's
    * full-frame encodes and the oracle stays unchanged — a decoder
    * that fingerprints the delta rect instead of the composited
    * canvas breaks the gate, which is the point. transparentIdx 255
    * is free: the pattern only uses gray levels {30, 220}. */
  private[graft] def gifMedia(s: SparkSession, dir: String): DataFrame =
      cachedMedia(s, s"gph:$dir") {
    val groups = phGroupsFor(docs(s, dir).count())
    val rdd = docs(s, dir).select(col("doc_id")).rdd.map { r =>
      val id = r.getLong(0)
      val frames = (0 until 3).map(f =>
        Array.tabulate(72)(i => gifLuma(groups, id, f, i / 9, i % 9)))
      val payload =
        if (id % 8 == 5) Multimodal.encodeGifGrayDelta(9, 8, frames)
        else Multimodal.encodeGifGray(9, 8, frames)
      org.apache.spark.sql.Row(id, payload)
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType))))
  }

  /** synthetic media for the frame-OFFSET gate (r12): the same 3-frame
    * pattern space as [[gifMedia]], but every ODD member (k % 2 == 1)
    * ships a TRIMMED re-encode — frame 0 dropped — so same-group
    * (even, odd) pairs align only at |δ| = 1 and the r11 equal-length
    * rule cannot see them; (even, even) and (odd, odd) pairs still
    * align at δ = 0. */
  private[graft] def gifOffsetMedia(s: SparkSession,
      dir: String): DataFrame = cachedMedia(s, s"goff:$dir") {
    val groups = phGroupsFor(docs(s, dir).count())
    val rdd = docs(s, dir).select(col("doc_id")).rdd.map { r =>
      val id = r.getLong(0)
      val t = ((id / groups) % 2).toInt
      val frames = (t until 3).map(f =>
        Array.tabulate(72)(i => gifLuma(groups, id, f, i / 9, i % 9)))
      // r14: id%8==5 delta-optimized member, same rule as [[gifMedia]]
      val payload =
        if (id % 8 == 5) Multimodal.encodeGifGrayDelta(9, 8, frames)
        else Multimodal.encodeGifGray(9, 8, frames)
      org.apache.spark.sql.Row(id, payload)
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(rdd, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType))))
  }

  /** deterministic integer 2-D points for qp_dbscan, derived from
    * vec_id alone (the deterministic-augmentation convention, cf.
    * qp_boilerplate): nine 200×200 blobs on a 1000-grid plus a sparse
    * wide noise field for every 17th id — and each 4500-id block lands
    * on its own diagonal 4000-offset TILE (gap > eps, so tiles never
    * interact). Growing sf therefore adds AREA at constant density —
    * the natural-density regime DBSCAN's grid blocking is linear in —
    * instead of densifying one fixed window quadratically (measured:
    * un-tiled sf0.1 paid 8.0 s, dominated by ~10× denser blobs). All
    * arithmetic is nonnegative integer (hash60 jitter), so both
    * engines see identical points; sf0.01 (500 ids) is bit-identical
    * to the un-tiled derivation. */
  private def dbscanPoints(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id").as("id"))
      .withColumn("h",
        TextOps.hash60(concat(lit("dbscan:"), col("id").cast("string"))))
      .withColumn("t", expr("(id div 4500) * 4000"))
      .withColumn("x", col("t") +
        when(col("id") % 17 === 0, expr("h % 3000"))
          .otherwise(expr("((id % 9) % 3) * 1000 + h % 200")))
      .withColumn("y", col("t") +
        when(col("id") % 17 === 0, expr("(h div 3000) % 3000"))
          .otherwise(expr("((id % 9) div 3) * 1000 + (h div 200) % 200")))
      .select(col("id"), col("x"), col("y"))

  /** brute-force DBSCAN oracle: all-pairs ε-membership (n is small at
    * the gate scale), core count, min-label connected components
    * unrolled 16 rounds (cluster diameters here are ≤ a few hops —
    * `DensitySpec` asserts the fixpoint), border adoption, noise −1.
    * Point derivation replays [[dbscanPoints]] digit for digit. */
  private def dbscanOracle: String = {
    val e2 = DbscanEps * DbscanEps
    val rounds = 16
    val steps = (1 to rounds).map { t =>
      s"""l$t AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
         |   SELECT id, lbl FROM l${t - 1}
         |   UNION ALL
         |   SELECT u.b AS id, l${t - 1}.lbl FROM u
         |     JOIN l${t - 1} ON u.a = l${t - 1}.id
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")
    s"""WITH p AS (SELECT vec_id AS id,
       |     ('0x' || substr(md5('dbscan:' || vec_id), 1, 15))::BIGINT AS h
       |   FROM embeddings),
       | pt AS MATERIALIZED (SELECT id,
       |     (id // 4500) * 4000 +
       |     CASE WHEN id % 17 = 0 THEN h % 3000
       |       ELSE ((id % 9) % 3) * 1000 + h % 200 END AS x,
       |     (id // 4500) * 4000 +
       |     CASE WHEN id % 17 = 0 THEN (h // 3000) % 3000
       |       ELSE ((id % 9) // 3) * 1000 + (h // 200) % 200 END AS y
       |   FROM p),
       | pairs AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib
       |   FROM pt a JOIN pt b
       |   ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |     <= $e2),
       | cnt AS MATERIALIZED (SELECT ia AS id,
       |     CAST(count(*) AS BIGINT) AS n_nbr FROM pairs GROUP BY 1),
       | cores AS MATERIALIZED (SELECT id FROM cnt
       |   WHERE n_nbr >= $DbscanMinPts),
       | ce AS (SELECT ia AS a, ib AS b FROM pairs
       |   WHERE ia < ib AND ia IN (SELECT id FROM cores)
       |     AND ib IN (SELECT id FROM cores)),
       | u AS MATERIALIZED (SELECT a, b FROM ce
       |   UNION ALL SELECT b, a FROM ce),
       | l0 AS MATERIALIZED (SELECT id, id AS lbl FROM cores),
       | $steps,
       | bmin AS (SELECT pr.ia AS id, min(lc.lbl) AS bc FROM pairs pr
       |   JOIN l$rounds lc ON pr.ib = lc.id WHERE pr.ia <> pr.ib
       |   GROUP BY 1)
       | SELECT c.id, c.n_nbr, (c.n_nbr >= $DbscanMinPts) AS is_core,
       |   COALESCE(lc.lbl, bm.bc, -1) AS cluster
       | FROM cnt c LEFT JOIN l$rounds lc ON c.id = lc.id
       |   LEFT JOIN bmin bm ON c.id = bm.id
       | ORDER BY c.id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- dedup -------------------------------------------------------
    "qp_dedup_exact" -> ((s, dir) => {
      // corpus ∪ re-crawled slice → exact dup groups by content hash
      val d = docs(s, dir)
      Dedup.exactGroups(d.unionByName(d.filter(col("doc_id") < 50)),
          "doc_id", "text")
        .orderBy(col("h"))
    }),
    "qp_dedup_normalized" -> ((s, dir) => {
      // normalization-keyed exact dedup: the re-crawl differs only
      // COSMETICALLY (case, punctuation, trailing whitespace) — raw
      // md5 dedup sees nothing, the canonical key collapses every
      // pair (the mirror-site/boilerplate-tweak dedup case)
      val d = docs(s, dir).select("doc_id", "text")
      val recrawl = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(upper(expr("substring(text, 1, 10)")),
            expr("substring(text, 11)"), lit("!!  ")).as("text"))
      Dedup.exactGroups(
          d.unionByName(recrawl)
            .withColumn("text", TextOps.normalizeText(col("text"))),
          "doc_id", "text")
        .orderBy(col("h"))
    }),
    "qp_minhash_sig" -> ((s, dir) => {
      Dedup.minhashSigs(docs(s, dir).filter(col("doc_id") < 100),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "qp_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text", threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_minhash_blocked" -> ((s, dir) => {
      // the blocked banding (r13): band keys carry the lang block, so
      // candidates only form within a language — the measured escape
      // for vocabulary-saturated corpora where unblocked bucket
      // occupancy grows with n (MEASUREMENTS.md §r13: unblocked e30 = 2.09)
      Dedup.minhashPairsBlocked(docs(s, dir), "doc_id", "text",
          blockCols = Seq("lang"), threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_minhash_capped" -> ((s, dir) => {
      // hot-bucket cap (r13): band buckets above maxBucket members are
      // dropped before the candidate self-join — the saturation escape
      // for mega-buckets blocking alone can't break (written recall
      // trade in Dedup.minhashPairsCore); the oracle replays the cap
      // from the same band counts
      Dedup.minhashPairsBlocked(docs(s, dir), "doc_id", "text",
          blockCols = Seq("lang"), threshold = 0.8, maxBucket = 20)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_simhash" -> ((s, dir) => {
      Dedup.simhashSigs(docs(s, dir).filter(col("doc_id") < 100),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "qp_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text",
          blockCols = Seq("lang"), maxDist = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_ppjoin_pairs" -> ((s, dir) => {
      // EXACT Jaccard >= 0.8 self-join via rare-first prefix
      // filtering (PPJoin) — no LSH probability of loss, no blocking
      // contract; the oracle is brute-force all-pairs, so any pair
      // the prefix filter dropped would fail the gate
      Dedup.ppjoinPairs(docs(s, dir), "doc_id", "text",
          threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_ppjoin_blocked" -> ((s, dir) => {
      // the EXACT similarity join on a vocabulary-saturated corpus:
      // run the rare-first prefix machinery INSIDE blocking keys
      // (lang — the deployment contract that near-dups never cross
      // blocks), so prefix collisions are bounded per block; the
      // oracle is brute force WITHIN blocks, so any pair the blocked
      // prefix filter dropped would fail the gate
      Dedup.ppjoinPairsBlocked(docs(s, dir), "doc_id", "text",
          blockCols = Seq("lang"), threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_lsh_recall" -> ((s, dir) => {
      // pair completeness of the banded-LSH generator against the
      // EXACT ppjoin truth at the same threshold — the number every
      // near-dup pipeline must report before trusting probabilistic
      // banding at scale (composes two existing gates)
      val d = docs(s, dir)
      // BOTH generators ride ONE persisted signature/set table (the
      // corpus explode + per-doc aggregation they would otherwise
      // each redo; ppjoin's distinct hash base is the explode of the
      // __sh sets, so the corpus-sized distinct exchange goes too)
      val sig = Dedup.sigSets(d, "doc_id", "text").persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // each pair frame feeds TWO closes (its own count + the
      // semi-join) — localCheckpoint so the expensive generators run
      // once, not twice (the qp_curation_report stage discipline)
      val exact = Dedup.ppjoinPairsOnSigSets(sig, threshold = 0.8)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      val approx = Dedup.minhashPairsOnSigSets(sig, threshold = 0.8)
        .select(col("a_id"), col("b_id")).localCheckpoint()
      sig.unpersist()
      exact.agg(count(lit(1)).as("n_true"))
        .crossJoin(exact.join(approx, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("n_found")))
        .crossJoin(approx.agg(count(lit(1)).as("n_lsh")))
        // n_true = 0 guard on BOTH sides: Spark's div yields NULL but
        // DuckDB's // raises — make the degenerate corpus agree
        .select(col("n_true"), col("n_found"), col("n_lsh"),
          when(col("n_true") === 0, lit(null).cast("long"))
            .otherwise(expr("n_found * 1000000 div n_true"))
            .as("recall_micro"))
    }),
    "qp_ngram_jaccard" -> ((s, dir) => {
      // blocking = (lang, length-band): near-dups have near-equal
      // length, so the quadratic verify runs inside tiny blocks
      Dedup.ngramJaccardPairs(
          docs(s, dir).withColumn("__lb",
            floor(col("n_chars") / 20).cast("int")),
          "doc_id", "text",
          blockCols = Seq("lang", "__lb"), threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "qp_dedup_keep_best" -> ((s, dir) => {
      // cross-source exact dedup keeping the BEST copy: corpus ∪ a
      // re-crawl slice re-tagged to a lower-priority source; the
      // survivor is the lowest source number (then lowest id). The
      // "which snapshot wins" curation step.
      val d = docs(s, dir)
      val recrawl = d.filter(col("doc_id") < 80)
        .withColumn("doc_id", col("doc_id") + 100000L)
        .withColumn("source", lit("src9"))
      Dedup.dedupKeepBest(d.unionByName(recrawl), "doc_id", "text",
          priority = substring(col("source"), 4, 10).cast("int"),
          keepCols = Seq("doc_id", "source"))
        .orderBy("doc_id")
    }),
    "qp_bm25_topk" -> ((s, dir) => {
      // BM25 ranked retrieval for a fixed 3-term query — the ranking
      // complement to boolean CONTAINSTEXT
      TextOps.bm25TopK(docs(s, dir), "doc_id", "text",
          terms = Seq("spark", "stream", "join"), k = 10)
        .orderBy(col("bm25").desc, col("doc_id"))
    }),
    "qp_bm25_indexed" -> ((s, dir) => {
      // the INDEX-SERVED form: one build-time tokenize into scored
      // postings, then the query probes the posting table with its 3
      // literal terms — no corpus tokenize at query time (plan pinned
      // by PlanShapeSpec). Row-identical to qp_bm25_topk by
      // construction: same dense tf/len row, same scoring expression,
      // same term order.
      val idx = TextOps.bm25BuildIndex(docs(s, dir), "doc_id", "text")
      val out = TextOps.bm25TopKIndexed(idx, "doc_id",
          terms = Seq("spark", "stream", "join"), k = 10)
        .orderBy(col("bm25").desc, col("doc_id"))
        .localCheckpoint()
      idx.release()
      out
    }),
    "qp_bm25_appended" -> ((s, dir) => {
      // INCREMENTAL maintenance: index the first half of the corpus,
      // append the second half as an ingestion batch (only the batch
      // is tokenized), probe the merged index — must reproduce the
      // full-rebuild ranking exactly (identical oracle to
      // qp_bm25_topk, the fourth physical path to one ranking)
      val d = docs(s, dir)
      val idx0 = TextOps.bm25BuildIndex(
        d.filter(col("doc_id") < 250), "doc_id", "text")
      val idx = TextOps.bm25AppendIndex(idx0,
        d.filter(col("doc_id") >= 250), "doc_id", "text")
      val out = TextOps.bm25TopKIndexed(idx, "doc_id",
          terms = Seq("spark", "stream", "join"), k = 10)
        .orderBy(col("bm25").desc, col("doc_id"))
        .localCheckpoint()
      idx.release(); idx0.release()
      out
    }),
    "qp_bm25_bucketed" -> ((s, dir) => {
      // the ON-DISK posting layout (qp_ivf_bucketed pattern for text):
      // postings in term-hash bucket dirs, probe pushes the buckets
      // as a literal partition predicate — planning-time pruning
      // reads ~|terms|/64 of the index; fixed path, overwritten per
      // run. Same results as qp_bm25_topk through a third physical
      // path.
      val idxDir = scratchDir(s, "bm25-bucketed")
      TextOps.bm25WriteIndex(docs(s, dir), "doc_id", "text", idxDir)
      TextOps.bm25TopKFromDisk(s, idxDir, "doc_id",
          terms = Seq("spark", "stream", "join"), k = 10)
        .orderBy(col("bm25").desc, col("doc_id"))
    }),

    "qp_pipeline_funnel" -> ((s, dir) => {
      // END-TO-END curation funnel: raw ∪ recrawl → exact dedup (keep
      // min id per content hash) → MinHash near-dup removal (drop the
      // larger id of each pair ≥0.8) → quality gate (stop_ratio ≤ 0.4,
      // ≥ 20 tokens). One row of stage counts — the whole pipeline
      // composed from the individual operators, integer-exact.
      // the funnel prefix is persisted per stage: each count action and
      // the MinHash machinery read the cached frame instead of
      // re-running union + dedup from the raw scan (at 100 TB the
      // alternative re-reads the corpus once per stage count)
      val raw = docs(s, dir)
      val input = raw.unionByName(raw.filter(col("doc_id") < 50))
      val exact = input.groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(raw, "doc_id")
        .persist()
      val s0 = input.count()
      val s1 = exact.count() // materializes the cache
      val nearDrops = Dedup.minhashPairs(exact, "doc_id", "text",
          threshold = 0.8)
        .select(col("b_id").as("doc_id")).distinct()
      val near = exact.join(nearDrops, Seq("doc_id"), "left_anti")
        .persist()
      val s2 = near.count()
      val toks = tokensWs(col("text"))
      val stopArr = array(stop.map(lit): _*)
      val quality = near
        .withColumn("__sr",
          size(filter(toks, t => array_contains(stopArr, t)))
            .cast("double") / size(toks))
        .filter(col("__sr") <= 0.4 && size(toks) >= 20)
      val s3 = quality.count()
      exact.unpersist()
      near.unpersist()
      import s.implicits._
      Seq((s0, s1, s2, s3)).toDF("n_input", "n_exact", "n_near", "n_quality")
    }),

    "qp_curation_report" -> ((s, dir) => {
      // END-TO-END of the round-6 curation stages: corpus → Gopher
      // quality gate → benchmark decontamination (vs the doc_id<20
      // eval slice) → PII scrub → trained-LR quality filter (keep
      // at-or-above the mean margin; model trained corpus-wide on
      // the en target slice) → 20/5 overlapped chunking. One row of
      // counts; same stage-persist discipline as qp_pipeline_funnel
      // (each count reads the cached survivor frame, not a fresh
      // corpus scan).
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") >= 20)
      val evalSet = d.filter(col("doc_id") < 20)
      val gated = TextOps.qualityGate(corpus, "doc_id", "text")
        .filter(col("pass") === 1).select("doc_id")
        .join(corpus, "doc_id").persist()
      val n0 = corpus.count()
      val n1 = gated.count()
      val contaminated = Curation.decontaminate(gated, evalSet,
          "doc_id", "text", n = 3)
        .filter(col("n_shared") > 0).select("doc_id")
      val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("text", TextOps.redactPii(col("text")))
        .persist()
      val n2 = clean.count()
      val feats = Classifier.lrFeatures(d, "doc_id", "text",
        isTarget = col("lang") === "en", dim = 32).persist()
      val wts = Classifier.lrTrain(feats, dim = 32, iters = 3)
      feats.unpersist()
      // batch scoring of the SCRUBBED text (score what you keep) via
      // the codegen'd explode+aggregate feature path (r14: lrScoreRow
      // here paid dim=32 INTERPRETED higher-order filter lambdas per
      // row, each rescanning the token array — the guide §4.1 shape;
      // lrFeatures+lrMargin is spec-pinned bit-identical, and its
      // zero-token exclusion IS the old isNotNull filter, so the kept
      // set cannot move). The join keys on the cached clean frame.
      // Keep rule = margin at-or-above the slice MEAN margin: exact
      // integer cross-multiply (decimal vs overflow), no global
      // window/sort — the scale-safe version of "keep the most
      // target-like fraction"
      val scored = clean.join(
          Classifier.lrFeatures(clean, "doc_id", "text",
            isTarget = lit(false), dim = 32)
            .select(col("__id").as("doc_id"),
              Classifier.lrMargin(wts, 32).as("__score")),
          "doc_id")
        .persist()
      // coalesce: an all-filtered slice sums to null — report zero
      // kept instead of NPE-ing on the driver read
      val st = scored.agg(coalesce(sum(col("__score")), lit(0L)),
          count(lit(1))).collect().head
      val kept = scored.filter(
          col("__score").cast("decimal(38,0)") * lit(st.getLong(1)) >=
            lit(st.getLong(0)))
        .drop("__score").persist()
      val n3 = kept.count()
      scored.unpersist()
      val ch = Curation.chunkDocs(kept, "doc_id", "text",
          chunkSize = 20, overlap = 5)
        // coalesce: the kept slice can be EMPTY on a corpus the gates
        // fully reject — sum() is null there (same guard as the score
        // sum above; zero chunks must report 0, not NPE)
        .agg(count(lit(1)).as("c"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("t"))
        .collect().head
      gated.unpersist(); clean.unpersist(); kept.unpersist()
      import s.implicits._
      Seq((n0, n1, n2, n3, ch.getLong(0), ch.getLong(1)))
        .toDF("n_input", "n_quality", "n_clean", "n_lr_kept",
          "n_chunks", "n_chunk_tokens")
    }),
    "qp_dedup_clusters" -> ((s, dir) => {
      // near-dup pairs → undirected graph → min-label clusters; the
      // cluster id (min member) is the canonical survivor
      val d = docs(s, dir).withColumn("__lb",
        floor(col("n_chars") / 20).cast("int"))
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        blockCols = Seq("lang", "__lb"), threshold = 0.8)
      Dedup.nearDupClusters(pairs, "a_id", "b_id").orderBy("cluster")
    }),
    "qp_dedup_incremental" -> ((s, dir) => {
      // the corpus-grows-daily shape: index the first 250 docs'
      // band postings + shingle sets on disk (hash-bucketed dirs,
      // fixed tmp path overwritten per run), then dedup the "new
      // batch" against the index with planning-time-pruned reads —
      // row-identical to full-batch LSH pairs crossing the split
      val d = docs(s, dir)
      val idxDir = scratchDir(s, "dedup-idx")
      Dedup.writeDedupIndex(d.filter(col("doc_id") < 250),
        "doc_id", "text", idxDir)
      Dedup.probeDedupIndex(s, idxDir, d.filter(col("doc_id") >= 250),
          "doc_id", "text", threshold = 0.8)
        .orderBy("a_id", "b_id")
    }),
    "qp_containment_pairs" -> ((s, dir) => {
      // asymmetric near-dup: |A∩B|/min(|A|,|B|) ≥ 0.9 catches a short
      // doc embedded in a long one — pairs symmetric Jaccard (and so
      // LSH/ppjoin) suppress by design. Blocked by lang only: the
      // interesting pairs CROSS length bands, so no length blocking.
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
          blockCols = Seq("lang"), threshold = 0.9)
        .orderBy("a_id", "b_id")
    }),
    "qp_soft_dedup" -> ((s, dir) => {
      // SoftDedup: every doc keeps 1e6/cluster_size micro-weight
      // instead of being dropped — same blocked near-dup pairs as
      // qp_dedup_clusters, weights joined back to the FULL corpus
      val d = docs(s, dir).withColumn("__lb",
        floor(col("n_chars") / 20).cast("int"))
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        blockCols = Seq("lang", "__lb"), threshold = 0.8)
      Dedup.softDedupWeights(d, "doc_id", pairs, "a_id", "b_id")
        .orderBy("id")
    }),
    "qp_source_overlap" -> ((s, dir) => {
      // pairwise source-vocabulary overlap matrix: which feeds
      // duplicate which (containment divides by the smaller side)
      TextOps.sourceOverlapMatrix(docs(s, dir), "source", "text", n = 3)
        .orderBy("a_source", "b_source")
    }),
    "qp_dedup_keep_quality" -> ((s, dir) => {
      // the two trained stages composed: near-dup clusters elect the
      // member the trained LR quality model scores highest (ties to
      // the lower doc_id) — dedup that keeps the BEST copy, not an
      // arbitrary canonical one. Cluster labels and scores are exact
      // integers, so the election is hash-stable.
      val d0 = docs(s, dir)
      val d = d0.withColumn("__lb",
        floor(col("n_chars") / 20).cast("int"))
      val labels = Dedup.nearDupLabels(
        Dedup.ngramJaccardPairs(d, "doc_id", "text",
          blockCols = Seq("lang", "__lb"), threshold = 0.8),
        "a_id", "b_id")
      val feats = Classifier.lrFeatures(d0, "doc_id", "text",
        isTarget = col("lang") === "en", dim = 32).persist()
      val w = Classifier.lrTrain(feats, dim = 32, iters = 3)
      val scores = feats.select(col("__id").as("doc_id"),
        Classifier.lrMargin(w, 32).as("__score"))
      val out = labels.join(scores, labels("id") === scores("doc_id"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          max_by(col("id"), struct(col("__score"), (-col("id")).as("__t")))
            .as("keep_id"),
          max(col("__score")).as("best_score"))
        .orderBy("cluster")
        .localCheckpoint() // release the feature cache before returning
      feats.unpersist()
      out
    }),
    "qp_decontaminate" -> ((s, dir) => {
      // docs sharing word 3-grams with the eval slice (doc_id < 20)
      val d = docs(s, dir)
      Curation.decontaminate(d.filter(col("doc_id") >= 20),
          d.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    "qp_contamination" -> ((s, dir) => {
      // rankable contamination score: fraction of each doc's distinct
      // 3-grams found in the eval slice (decontaminate's boolean gate
      // generalized — partially contaminated docs can be span-cleaned
      // instead of dropped)
      val d = docs(s, dir)
      Curation.contaminationRatio(d.filter(col("doc_id") >= 20),
          d.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
        .filter(col("n_shared") > 0)
        .orderBy("doc_id")
    }),
    "qp_bloom_decontaminate" -> ((s, dir) => {
      // join-free decontamination pre-filter: per doc, bloom-positive
      // 3-gram count vs exact eval hits — n_bloom ⊇ n_exact (no false
      // negatives); the gap is the FP traffic the exact phase verifies
      val d = docs(s, dir)
      graft.ops.Bloom.bloomDecontaminate(d.filter(col("doc_id") >= 20),
          d.filter(col("doc_id") < 20), "doc_id", "text",
          n = 3, mBits = 4096, k = 3)
        .filter(col("n_bloom") > 0)
        .orderBy("doc_id")
    }),
    "qp_dsir_weights" -> ((s, dir) => {
      // DSIR data selection (Xie et al. 2023): how much more likely
      // each doc's hashed-bigram features are under the en-language
      // target slice than under the raw corpus — integer micro-nat
      // log-weights (bucket log-ratios fixed-pointed BEFORE the
      // per-doc sum, so the sum is order-free)
      Curation.dsirWeights(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 256)
        .orderBy("doc_id")
    }),
    "qp_dsir_select" -> ((s, dir) => {
      // the resample step: keep the 50 most target-like RAW docs
      // (target slice excluded), deterministic ties by doc_id
      Curation.dsirWeights(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 256)
        .filter(!col("is_target"))
        .orderBy(col("logw_micro").desc, col("doc_id"))
        .limit(50)
        .select("doc_id", "logw_micro")
    }),
    "qp_lr_train" -> ((s, dir) => {
      // trained logistic-regression quality filter (GPT-3-style
      // target-vs-raw discriminator): 3 deterministic fixed-point GD
      // rounds over 32 hashed-token features; the MODEL ITSELF is the
      // gate artifact — the oracle re-trains it in unrolled SQL
      Classifier.lrTrainTable(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", dim = 32, iters = 3)
        .orderBy("b")
    }),
    "qp_lr_select" -> ((s, dir) => {
      // the filter step: rank raw (non-target) docs by the trained
      // model's EXACT integer margin, keep the 50 most target-like
      Classifier.lrSelect(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", dim = 32, iters = 3, k = 50)
    }),
    "qp_lr_calibration" -> ((s, dir) => {
      // reliability table of the trained filter: per margin band, the
      // observed target rate — where a deployment puts its threshold
      Classifier.lrCalibration(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en", dim = 32, iters = 3,
          bucketWidth = 2000000L)
        .orderBy("bucket")
    }),
    "qp_lr_persist_score" -> ((s, dir) => {
      // the train-once/score-forever deployment shape: train the LR
      // quality model, persist it through the durable model registry,
      // REOPEN a cold session over the same root, load the weights
      // back and score with the loaded artifact. Bit-identical model
      // round-trip ⇒ the selection equals qp_lr_select's — which is
      // exactly what the shared oracle asserts. One fixed root per
      // JVM, wiped each run (the qd_export_import convention).
      import graft.engine.GraftSession
      val tmp = java.nio.file.Paths.get(scratchDir(s, "models-qp"))
      if (java.nio.file.Files.exists(tmp))
        java.nio.file.Files.walk(tmp).sorted(
          java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(tmp)
      val feats = Classifier.lrFeatures(docs(s, dir), "doc_id", "text",
        isTarget = col("lang") === "en", dim = 32).persist()
      val trained = Classifier.lrTrain(feats, dim = 32, iters = 3)
      GraftSession.openDurable(s, dir, tmp.toString)
        .models.saveLrWeights("quality_lr", trained)
      val w = GraftSession.openDurable(s, dir, tmp.toString)
        .models.loadLrWeights("quality_lr", dim = 32)
      val out = feats.filter(!col("__y"))
        .select(col("__id").as("doc_id"),
          Classifier.lrMargin(w, 32).as("score_raw"))
        .orderBy(col("score_raw").desc, col("doc_id"))
        .limit(50)
        .localCheckpoint()
      feats.unpersist()
      out
    }),
    "qp_stratified_sample" -> ((s, dir) => {
      // deterministic hash sampling sets the training mixture: half
      // the en docs, a quarter of de, 10% of the rest
      Curation.stratifiedSample(docs(s, dir), "doc_id", "lang",
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),
    "qp_fuzzy_match" -> ((s, dir) => {
      // typo correction against the corpus vocabulary: 12 synthetic
      // one-deletion typos, matched EXACTLY at distance <= 1 via
      // FastSS deletion keys (equi-join candidates, no length-band
      // hot keys) — oracle is brute-force all-pairs levenshtein
      val toks = graft.ops.Partitioning.spread(docs(s, dir))
        .select(explode(tokensWs(col("text"))).as("tok"))
        .distinct().persist()
      val queries = toks.filter(length(col("tok")) >= 5)
        .orderBy("tok").limit(12)
        .select(concat(substring(col("tok"), 1, 2),
          expr("substring(tok, 4)")).as("q"))
      val out = graft.ops.Fuzzy.fuzzyMatchTop1(queries, "q", toks, "tok")
        .orderBy("q").localCheckpoint()
      toks.unpersist()
      out
    }),
    "qp_train_split" -> ((s, dir) => {
      // stratified deterministic train/val/test: the split is a pure
      // function of (salt, lang, id) — corpus rebuilds never migrate
      // an old row between splits (eval-contamination safety)
      Curation.trainValTestSplit(docs(s, dir), "doc_id", "lang")
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),
    "qp_split_leakage" -> ((s, dir) => {
      // eval-leakage audit: near-dup pairs whose endpoints landed in
      // DIFFERENT splits — the hash-stable split can't see content
      // similarity, so every cross-split near-dup silently inflates
      // eval; these rows are the docs to quarantine before training
      val d = docs(s, dir)
      Curation.splitLeakage(
          Curation.trainValTestSplit(d, "doc_id", "lang"),
          "doc_id", "split",
          Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8),
          "a_id", "b_id")
        .select("a_id", "b_id", "a_split", "b_split", "jac")
        .orderBy("a_id", "b_id")
    }),
    "qp_split_coassign" -> ((s, dir) => {
      // leakage remediation: every near-dup cluster takes its min
      // member's split, so no near-dup pair crosses a boundary —
      // the fix for exactly the rows qp_split_leakage reports
      val d = docs(s, dir)
      Curation.coAssignSplits(
          Curation.trainValTestSplit(d, "doc_id", "lang")
            .select("doc_id", "split"),
          "doc_id", "split",
          Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8),
          "a_id", "b_id")
        .orderBy("doc_id")
    }),
    "qp_exact_substring" -> ((s, dir) => {
      // span-level dedup signal (ExactSubstr-style): distinct 20-token
      // windows each doc shares verbatim with any other doc
      Dedup.sharedWindowCounts(docs(s, dir), "doc_id", "text", w = 20)
        .orderBy("doc_id")
    }),
    "qp_span_removal" -> ((s, dir) => {
      // the remediation half of exact-substring dedup: cut every
      // cross-doc-shared 20-token span, keep the cleaned documents
      Dedup.removeSharedSpans(docs(s, dir), "doc_id", "text", w = 20)
        .orderBy("doc_id")
    }),
    "qp_temperature_mix" -> ((s, dir) => {
      // alpha=0.5 temperature flattening at a 30% overall budget: the
      // dominant lang gives up share to the tail langs
      Curation.temperatureMix(docs(s, dir), "doc_id", "lang",
          alpha = 0.5, targetFraction = 0.3)
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }),
    "qp_epoch_shuffle" -> ((s, dir) => {
      // deterministic training-order permutation: 8 loader shards,
      // position by hash order within shard — reshuffle = new seed
      Curation.epochShuffle(docs(s, dir), "doc_id", seed = 7L,
          nShards = 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),
    "qp_cap_per_source" -> ((s, dir) => {
      // per-domain quality cap: keep the 10 longest docs per source
      Curation.capPerStratum(docs(s, dir), "doc_id", "source",
          "n_chars", n = 10)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),
    "qp_seq_pack" -> ((s, dir) => {
      // pack the token stream into 512-token bins per lang shard
      Curation.packBins(
          docs(s, dir).withColumn("n_tok", size(tokensWs(col("text")))),
          "lang", "doc_id", "n_tok", budget = 512)
        .orderBy("lang", "bin")
    }),

    // --- similarity search ------------------------------------------
    "qp_ann_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivf_recall" -> ((s, dir) => {
      // the ANN tuning number: per-query recall@5 of the nProbe=2
      // IVF probe against the exact brute-force ranking (same
      // parameters as qp_ivf_topk)
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      Similarity.recallAtK(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Similarity.ivfTopK(e, q, cents, "vec_id", "embedding",
            k = 5, nProbe = 2),
          k = 5)
        .orderBy("q_id")
    }),
    "qp_rank_tau" -> ((s, dir) => {
      // ordering agreement between the exact and IVF rankings over
      // their common items — tells recall loss apart from
      // rank-scramble (same parameters as qp_ivf_recall)
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      Similarity.rankAgreement(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Similarity.ivfTopK(e, q, cents, "vec_id", "embedding",
            k = 5, nProbe = 2),
          k = 5)
        .orderBy("q_id")
    }),
    "qp_ndcg" -> ((s, dir) => {
      // position-weighted retrieval quality of the IVF probe vs the
      // exact ranking — recall counts hits, nDCG also charges for
      // right-items-wrong-order (same parameters as qp_ivf_recall)
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      Similarity.ndcgAtK(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Similarity.ivfTopK(e, q, cents, "vec_id", "embedding",
            k = 5, nProbe = 2),
          k = 5)
        .orderBy("q_id")
    }),
    "qp_mrr_map" -> ((s, dir) => {
      // reciprocal-rank + average-precision of the IVF probe vs the
      // exact ranking (same parameters as qp_ndcg): MRR reads "how
      // soon is the first right answer", AP "how front-loaded are all
      // of them" — integer micro terms before every sum
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val q = e.filter(col("vec_id") >= 100 && col("vec_id") < 105)
      Similarity.mrrMapAtK(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Similarity.ivfTopK(e, q, cents, "vec_id", "embedding",
            k = 5, nProbe = 2),
          k = 5)
        .orderBy("q_id")
    }),
    "qp_bitext_mine" -> ((s, dir) => {
      // margin-based parallel-pair mining (the CCMatrix/LASER
      // recipe) between the even-id and odd-id embedding halves
      // standing in for two languages: cosine normalized by both
      // endpoints' 4-NN neighborhood density, mutual-best matches
      // above margin 1.05
      val e = embs(s, dir)
      Similarity.bitextMine(e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4, minMargin = 1.05)
        .orderBy("x_id")
    }),
    "qp_hamming_topk" -> ((s, dir) => {
      // binary ANN: sign-packed embeddings (2 longs per 64-dim vec,
      // 32x smaller), Hamming = xor + bit_count — the cheap
      // first-stage retrieval ahead of exact rerank
      val e = embs(s, dir)
      Similarity.hammingTopK(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", dim = 64, k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_rrf_fusion" -> ((s, dir) => {
      // hybrid retrieval: fuse the cheap binary Hamming first stage
      // with the exact cosine ranker by reciprocal-rank fusion
      // (kc=60, the canonical constant) — rank-only fusion needs no
      // score calibration between the two metrics
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 5)
      Similarity.rrfFuse(Seq(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 20),
          Similarity.hammingTopK(e, q, "vec_id", "embedding",
            dim = 64, k = 20)),
        kc = 60, k = 10)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_cosine_pairs" -> ((s, dir) => {
      // blocked by class label: embedding near-dups are same-class;
      // unblocked ANN goes through qp_lsh_buckets instead
      Similarity.cosinePairs(embs(s, dir), "vec_id", "embedding",
          blockCols = Seq("label"), threshold = 0.4)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "qp_ivf_topk" -> ((s, dir) => {
      // IVF: cells from 16 fixed centroids, 2-cell probes per query
      val e = embs(s, dir)
      Similarity.ivfTopK(e,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          e.filter(col("vec_id") < 16),
          "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivf_bucketed" -> ((s, dir) => {
      // the ON-DISK inverted file: cell-partitioned index (one dir per
      // cell, fixed path overwritten per run), probed with a literal
      // partition filter so planning-time pruning reads only the
      // probed cells — same parameters and results as qp_ivf_topk,
      // different physical path (the 100 TB layout under the gate)
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val idxDir = scratchDir(s, "ivf-bucketed")
      Similarity.writeIvfIndex(e, cents, "vec_id", "embedding", idxDir)
      Similarity.ivfTopKIndexed(s, idxDir,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cents, "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivf_appended" -> ((s, dir) => {
      // INCREMENTAL maintenance for the vector side (the
      // qp_bm25_appended pattern): index the first half of the
      // corpus, append the second half as an ingestion batch encoded
      // with the FROZEN centroids (only the batch is assigned), then
      // probe the merged cell directories — must reproduce the
      // full-rebuild ranking exactly (shares qp_ivf_topk's oracle;
      // that equality IS what this query verifies)
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val idxDir = scratchDir(s, "ivf-appended")
      Similarity.writeIvfIndex(e.filter(col("vec_id") < 250), cents,
        "vec_id", "embedding", idxDir)
      Similarity.appendIvfIndex(e.filter(col("vec_id") >= 250), cents,
        "vec_id", "embedding", idxDir)
      Similarity.ivfTopKIndexed(s, idxDir,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cents, "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivfpq_appended" -> ((s, dir) => {
      // the CODED index under the same incremental contract: build on
      // the first half, append the PQ-encoded second half with frozen
      // centroids AND codebooks, probe the union — shares
      // qp_ivfpq_topk's oracle
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val idxDir = scratchDir(s, "ivfpq-appended")
      Pq.writeIvfPqIndex(e.filter(col("vec_id") < 250), cents,
        "vec_id", "embedding", pqCb, idxDir)
      Pq.appendIvfPqIndex(e.filter(col("vec_id") >= 250), cents,
        "vec_id", "embedding", pqCb, idxDir)
      Pq.ivfPqTopKIndexed(s, idxDir,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cents, "vec_id", "embedding", pqCb, k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_zorder" -> ((s, dir) => {
      // Morton-key two-dimensional clustering: write the customer
      // table Z-ordered by (custkey, nationkey) to a fixed tmp layout,
      // read it back, and hash-check the interleaved keys — the
      // write→read round trip under the gate; BucketingSpec proves
      // the files get bounded (custkey, nationkey) rectangles
      val dirZ = scratchDir(s, "zorder")
      Bucketing.writeZordered(Tables.load(s, dir, "customer"), dirZ,
        "c_custkey", "c_nationkey", bits = 16, numFiles = 8)
      s.read.parquet(dirZ)
        .select(col("c_custkey").cast("long").as("id"),
          Bucketing.zValue(col("c_custkey"), col("c_nationkey"),
            bits = 16).as("zval"))
        .orderBy("id")
    }),
    "qp_kmeans" -> ((s, dir) => {
      // IVF centroid training: 2 Lloyd rounds from the 16 seed vectors
      val e = embs(s, dir)
      Similarity.kmeansCentroids(e, e.filter(col("vec_id") < 16),
          "vec_id", "embedding", iters = 2)
        .orderBy("cell", "dim")
    }),
    "qp_ivf_trained" -> ((s, dir) => {
      // the full ANN build+probe path: train centroids (2 Lloyd
      // rounds), then answer queries by probing the trained cells
      val e = embs(s, dir)
      val cent = Similarity.kmeansCentroidVectors(e,
          e.filter(col("vec_id") < 16), "vec_id", "embedding", iters = 2)
        .select(col("cell").cast("long").as("vec_id"),
          col("cv").as("embedding"))
      Similarity.ivfTopK(e,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cent, "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivf_persisted" -> ((s, dir) => {
      // centroids as a DEPLOYED artifact: train 2 Lloyd rounds, save
      // through the durable model registry, COLD-reopen, load and
      // probe with the loaded table — must reproduce qp_ivf_trained
      // exactly (parquet round-trips the doubles bit-identically).
      import graft.engine.GraftSession
      val tmp = java.nio.file.Paths.get(scratchDir(s, "models-ivf"))
      if (java.nio.file.Files.exists(tmp))
        java.nio.file.Files.walk(tmp).sorted(
          java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(tmp)
      val e = embs(s, dir)
      val trained = Similarity.kmeansCentroidVectors(e,
        e.filter(col("vec_id") < 16), "vec_id", "embedding", iters = 2)
      GraftSession.openDurable(s, dir, tmp.toString)
        .models.saveCentroids("ivf_cells", trained)
      val cent = GraftSession.openDurable(s, dir, tmp.toString)
        .models.loadCentroids("ivf_cells")
        .select(col("cell").cast("long").as("vec_id"),
          col("cv").as("embedding"))
      Similarity.ivfTopK(e,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cent, "vec_id", "embedding", k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_semantic_dedup" -> ((s, dir) => {
      // SemDeDup: trained k-means cells as blocking keys, within-cell
      // cosine balls, smallest id survives. Threshold 0.42 because the
      // synthetic embeddings top out near cosine 0.51 — realistic 0.95+
      // would make the oracle trivially drop-free
      val e = embs(s, dir)
      Similarity.semanticDedup(e, e.filter(col("vec_id") < 16),
          "vec_id", "embedding", iters = 2, threshold = 0.42)
        .groupBy("cell").agg(count(lit(1)).as("kept"))
        .orderBy("cell")
    }),
    "qp_quantize_int8" -> ((s, dir) => {
      // int8 quantization fidelity: per-vector scale + max abs error of
      // the dequantized cosine-against-self (storage-scale path)
      val e = embs(s, dir).withColumn("__v",
        col("embedding").cast("array<double>"))
      val q = e.withColumn("__q", Similarity.quantizeInt8(col("__v")))
        .withColumn("__dq", Similarity.dequantize(col("__q")))
      q.select(col("vec_id"),
          round(col("__q.scale"), 6).as("scale"),
          round(aggregate(zip_with(col("__v"), col("__dq"),
            (a, b) => abs(a - b)), lit(0.0d),
            (acc, d) => greatest(acc, d)), 6).as("max_err"))
        .filter(col("vec_id") < 200)
        .orderBy("vec_id")
    }),
    "qp_bpe_merges" -> ((s, dir) => {
      // distributed BPE trainer: 10 merge rounds over the corpus word
      // vocabulary (one corpus pass; rounds iterate on the vocab)
      TextOps.learnBpeMerges(docs(s, dir), "doc_id", "text", nMerges = 10)
        .orderBy("step")
    }),
    "qp_bpe_segment" -> ((s, dir) => {
      // the encoder: segment the corpus with the table the trainer
      // just learned (merges are control-plane rows, collected once)
      val m = TextOps.learnBpeMerges(docs(s, dir), "doc_id", "text",
          nMerges = 10)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeSegmentCounts(docs(s, dir), "doc_id", "text", m)
        .orderBy("doc_id")
    }),
    "qp_bpe_fertility" -> ((s, dir) => {
      // per-language subwords-per-word under the just-trained merge
      // table — the tokenizer-eval number multilingual mixes budget by
      val d = docs(s, dir)
      val m = TextOps.learnBpeMerges(d, "doc_id", "text", nMerges = 10)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeFertility(d, "doc_id", "text", "lang", m)
        .orderBy("lang")
    }),
    "qp_unigram_segment" -> ((s, dir) => {
      // SentencePiece-style unigram Viterbi segmentation: the
      // compiled per-word DP against the frequency-seeded 200-piece
      // vocab (the oracle replays it as 16 unrolled relaxation rounds)
      TextOps.unigramSegment(docs(s, dir), "doc_id", "text")
    }),
    "qp_unigram_em" -> ((s, dir) => {
      // one hard-EM re-estimation round: segment every distinct word,
      // count frequency-weighted piece usage, re-score ln(uses/total)
      TextOps.unigramEmRescore(docs(s, dir), "doc_id", "text")
    }),
    "qp_wordpiece_segment" -> ((s, dir) => {
      // BERT-style WordPiece greedy longest-match segmentation against
      // the ##-keyed frequency-seeded vocab (the oracle replays the
      // greedy walk as 16 unrolled longest-edge left-join rounds)
      TextOps.wordpieceSegment(docs(s, dir), "doc_id", "text")
    }),
    "qp_rand_proj" -> ((s, dir) => {
      // JL sign-projection 64→16: a distance-preserving sketch that
      // shrinks every downstream pair-scoring dot by 4× (one narrow
      // codegen'd projection, no shuffle)
      Similarity.randomProject(embs(s, dir), "vec_id", "embedding",
          Similarity.rademacher(16, 64))
        .orderBy("vec_id")
    }),
    "qp_pca_cov" -> ((s, dir) => {
      // single-pass fixed-point moment aggregate → upper-triangle
      // covariance of the embedding corpus (the distributed half of
      // PCA; eigenvectors are driver-side control-plane math)
      Pca.covarianceDF(embs(s, dir), "embedding", dim = 64)
        .orderBy("i", "j")
    }),
    "qp_pca_project" -> ((s, dir) => {
      // whitening/compression: project onto the top-2 principal
      // components (power iteration on the collected 64×64 covariance
      // — control-plane; the projection is a narrow compiled dot).
      // HASH-gated: the oracle replays the identical fixed-round
      // power iteration as a recursive CTE (dPcaEigCtes) — every op
      // correctly-rounded IEEE, eigenvectors bit-identical; PcaSpec
      // additionally pins residual/orthogonality/variance.
      val comps = Pca.principalComponents(embs(s, dir), "embedding",
        dim = 64, k = 2).map(_._2)
      Pca.project(embs(s, dir), "vec_id", "embedding", comps)
        .orderBy("vec_id")
    }),
    "qp_pca_persisted" -> ((s, dir) => {
      // the PCA basis as a DEPLOYED artifact: fit top-2 components,
      // save through the durable model registry, COLD-reopen, load
      // and project with the loaded basis — must reproduce
      // qp_pca_project exactly (parquet round-trips doubles).
      import graft.engine.GraftSession
      val tmp = java.nio.file.Paths.get(scratchDir(s, "models-pca"))
      if (java.nio.file.Files.exists(tmp))
        java.nio.file.Files.walk(tmp).sorted(
          java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(tmp)
      val eigs = Pca.principalComponents(embs(s, dir), "embedding",
        dim = 64, k = 2)
      GraftSession.openDurable(s, dir, tmp.toString)
        .models.savePcaComponents("pca_basis", eigs)
      val loaded = GraftSession.openDurable(s, dir, tmp.toString)
        .models.loadPcaComponents("pca_basis")
      Pca.project(embs(s, dir), "vec_id", "embedding", loaded.map(_._2))
        .orderBy("vec_id")
    }),
    "qp_hard_negatives" -> ((s, dir) => {
      // contrastive-training mining: a query's hard negatives are its
      // nearest ANN neighbors that are NOT near-duplicates — top-10
      // by cosine, drop shingle-Jaccard >= 0.8 (those are positives /
      // leakage), keep the 5 closest survivors. The dup check runs
      // ONLY on the k·|queries| candidate pairs (sets semi-joined to
      // candidate ids — never a corpus-wide pairwise pass).
      val d = docs(s, dir)
      val emb = TextOps.hashEmbed(d, "doc_id", "text", dim = 64)
        .select(col("doc_id"), col("vec").cast("array<double>").as("vec"))
      val cand = Similarity.bruteForceTopK(emb,
        emb.filter(col("doc_id") < 3), "doc_id", "vec", k = 10)
      val ids = cand.select(col("q_id").as("doc_id"))
        .unionByName(cand.select(col("n_id").as("doc_id"))).distinct()
      val sets = d.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), array_distinct(transform(
          charShingles(col("text"), 4), x => hash60(x))).as("__sh"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy("rnk") // k-bounded rows per query
      cand
        .join(sets.select(col("doc_id").as("q_id"), col("__sh").as("__sa")),
          "q_id")
        .join(sets.select(col("doc_id").as("n_id"), col("__sh").as("__sb")),
          "n_id")
        .withColumn("__i", size(array_intersect(col("__sa"), col("__sb"))))
        .withColumn("__u", size(col("__sa")) + size(col("__sb")) - col("__i"))
        .withColumn("__jac", when(col("__u") > 0,
          col("__i").cast("double") / col("__u")).otherwise(lit(0.0)))
        .filter(col("__jac") < 0.8)
        .withColumn("hn_rnk", row_number().over(w))
        .filter(col("hn_rnk") <= 5)
        .select(col("q_id"), col("n_id"), col("cos"), col("hn_rnk"))
        .orderBy("q_id", "hn_rnk")
    }),
    "qp_mmr_select" -> ((s, dir) => {
      // diversity-aware selection: MMR over a 10-candidate head
      // (relevance = cosine to query vector 100), k=5, lambda=0.7 —
      // the greedy election is driver math over the BOUNDED candidate
      // set; the oracle unrolls the same 5 steps in SQL
      val e = embs(s, dir)
      val q = broadcast(e.filter(col("vec_id") === 100)
        .select(col("embedding").cast("array<double>").as("__qv")))
      val cand = e.filter(col("vec_id") < 10)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .crossJoin(q)
        .select(col("vec_id"), col("v"),
          round(Similarity.dot(col("v"), col("__qv")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("__qv"))), 6)
            .as("rel"))
      Similarity.mmrSelect(cand, "vec_id", "v", "rel",
          k = 5, lambda = 0.7)
        .orderBy("rnk")
    }),
    "qp_pca_whiten" -> ((s, dir) => {
      // full whitening: center, project on top-2 components, scale by
      // 1/sqrt(lambda) — unit variance per output, zero cross-corr
      // (PcaSpec pins all three; HASH-gated like qp_pca_project via
      // the recursive-CTE eigen replay)
      Pca.whiten(embs(s, dir), "vec_id", "embedding", dim = 64, k = 2)
        .orderBy("vec_id")
    }),
    "qp_lsh_buckets" -> ((s, dir) => {
      val planes = Similarity.hyperplanes(8, 64)
      embs(s, dir)
        .withColumn("bucket",
          Similarity.lshBucket(col("embedding").cast("array<double>"), planes))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),
    "qp_pq_codes" -> ((s, dir) => {
      // product quantization: 64-dim → 4 codes of 4 bits each (64×
      // smaller); one narrow native-expression pass, no shuffle
      Pq.encode(embs(s, dir), "vec_id", "embedding", pqCb)
        .select(col("n_id").as("vec_id"),
          element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 2).as("c1"),
          element_at(col("codes"), 3).as("c2"),
          element_at(col("codes"), 4).as("c3"))
        .orderBy("vec_id")
    }),
    "qp_pq_topk" -> ((s, dir) => {
      // ADC search over the coded corpus: per-query LUT, m lookups per
      // candidate — no per-pair float multiply
      val e = embs(s, dir)
      Pq.adcTopK(e, e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          "vec_id", "embedding", pqCb, k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivfpq_topk" -> ((s, dir) => {
      // the composed FAISS-style IVFADC path: probe 2 of 16 IVF cells,
      // ADC-score only the probed cells' PQ codes
      val e = embs(s, dir)
      Pq.ivfPqTopK(e,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          e.filter(col("vec_id") < 16),
          "vec_id", "embedding", pqCb, k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_pq_trained" -> ((s, dir) => {
      // TRAINED-codebook PQ (the FAISS practice — fit per-subspace
      // k-means to the corpus instead of seeded entries): m=2, ksub=4,
      // 2 Lloyd rounds on the encoder's own assignment rule, then
      // encode. Codes serialize to one scalar (gate hash-compares
      // scalar cells only).
      val e = embs(s, dir)
      val cb = Pq.trainCodebooks(e, "vec_id", "embedding",
        m = 2, ksub = 4, iters = 2)
      Pq.encode(e, "vec_id", "embedding", cb)
        .select(col("n_id"),
          array_join(col("codes").cast("array<string>"), "-").as("codes"))
        .orderBy("n_id")
    }),
    "qp_pq_persisted" -> ((s, dir) => {
      // codebooks as a DEPLOYED artifact: train, save through the
      // durable model registry, COLD-reopen, load, encode — must
      // reproduce qp_pq_trained exactly (shares its oracle; the
      // registry round-trips the fitted doubles bit-identically and
      // the squared norms re-derive by the same fold)
      import graft.engine.GraftSession
      val tmp = java.nio.file.Paths.get(scratchDir(s, "models-pq"))
      if (java.nio.file.Files.exists(tmp))
        java.nio.file.Files.walk(tmp).sorted(
          java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.createDirectories(tmp)
      val e = embs(s, dir)
      val cb = Pq.trainCodebooks(e, "vec_id", "embedding",
        m = 2, ksub = 4, iters = 2)
      GraftSession.openDurable(s, dir, tmp.toString)
        .models.saveCodebooks("pq_cb", cb)
      val loaded = GraftSession.openDurable(s, dir, tmp.toString)
        .models.loadCodebooks("pq_cb")
      Pq.encode(e, "vec_id", "embedding", loaded)
        .select(col("n_id"),
          array_join(col("codes").cast("array<string>"), "-").as("codes"))
        .orderBy("n_id")
    }),
    "qp_pq_residual_trained" -> ((s, dir) => {
      // END-TO-END TRAINED IVFADC codes (Jégou 2011 §IV.B): coarse
      // centroids trained (2 Lloyd rounds, cosine rule), residuals
      // v − centroid(cell) computed against the fitted cells, and the
      // per-subspace codebooks trained ON THE RESIDUALS — the
      // codebook only has to cover the residual ball around each
      // coarse centroid, far finer resolution than one global
      // codebook. Every stage fitted to the data; codes serialize to
      // one scalar for the gate.
      val e = embs(s, dir)
      val cents = Similarity.kmeansCentroidVectors(e,
        e.filter(col("vec_id") < 16), "vec_id", "embedding", iters = 2)
      val cs = Similarity.collectCentroids(
        cents.select(col("cell").cast("long").as("vec_id"),
          col("cv").as("embedding")),
        "vec_id", "embedding")
      val resid = Similarity.cellAssignments(e, cs, "vec_id", "embedding")
        .join(broadcast(cents.select(col("cell"), col("cv"))), "cell")
        .select(col("n_id").as("vec_id"),
          zip_with(col("__cv"), col("cv"), (a, b) => a - b).as("rv"))
        .localCheckpoint()
      val cb = Pq.trainCodebooks(resid, "vec_id", "rv",
        m = 2, ksub = 4, iters = 2)
      Pq.encode(resid, "vec_id", "rv", cb)
        .select(col("n_id"),
          array_join(col("codes").cast("array<string>"), "-").as("codes"))
        .orderBy("n_id")
    }),
    "qp_ivfpq_bucketed" -> ((s, dir) => {
      // IVFADC's full DEPLOYMENT layout: the 64×-smaller CODED table
      // on disk, one directory per IVF cell; the probe pushes literal
      // cell predicates (planning-time dir pruning) and ADC-scores
      // only what it read — same parameters/results as qp_ivfpq_topk
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
      val idxDir = scratchDir(s, "ivfpq-bucketed")
      Pq.writeIvfPqIndex(e, cents, "vec_id", "embedding", pqCb, idxDir)
      Pq.ivfPqTopKIndexed(s, idxDir,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          cents, "vec_id", "embedding", pqCb, k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_ivfpq_residual" -> ((s, dir) => {
      // true IVFADC: PQ codes quantize the RESIDUAL v − centroid and
      // each (query, probe) pair carries its own residual LUT — ADC
      // sums then approximate real ||q − v||², comparable across cells
      val e = embs(s, dir)
      Pq.ivfPqResidualTopK(e,
          e.filter(col("vec_id") >= 100 && col("vec_id") < 105),
          e.filter(col("vec_id") < 16),
          "vec_id", "embedding", pqCb, k = 5, nProbe = 2)
        .orderBy(col("q_id"), col("rnk"))
    }),

    // --- text analysis ----------------------------------------------
    "qp_text_stats" -> ((s, dir) => {
      val stopArr = array(stop.map(lit): _*)
      docs(s, dir)
        .withColumn("__tok", tokensWs(col("text")))
        .withColumn("__bpe", tokensBpe(col("text")))
        .withColumn("n_ws", size(col("__tok")))
        .withColumn("n_bpe", size(col("__bpe")))
        .withColumn("avg_tok_len", round(
          aggregate(col("__tok"), lit(0L), (a, t) => a + length(t))
            .cast("double") / col("n_ws"), 6))
        .withColumn("stop_ratio", round(
          size(filter(col("__tok"), t => array_contains(stopArr, t)))
            .cast("double") / col("n_ws"), 6))
        .withColumn("quality", round(
          least(col("n_ws").cast("double") / 100.0, lit(1.0)) * 0.5 +
            (lit(1.0) - least(col("stop_ratio") * 2.0, lit(1.0))) * 0.5, 6))
        .select("doc_id", "n_ws", "n_bpe", "avg_tok_len", "stop_ratio",
          "quality")
        .orderBy("doc_id")
    }),
    "qp_text_langid" -> ((s, dir) =>
      langidScored(s, dir).orderBy("doc_id")),
    "qp_langid_confusion" -> ((s, dir) => {
      // classifier self-eval: predicted vs labeled language confusion
      // counts with per-actual row shares. HONEST finding kept from
      // r8: the synthetic corpus's RAW text does not vary by the lang
      // column (qp_text_langid still gates that raw behavior — all
      // 'en'), so scoring the raw text pins nothing here. The eval
      // corpus is therefore AUGMENTED deterministically from doc_id
      // (the qp_pii_redact injection convention, identical on both
      // engines): each doc gets 40 + doc_id%7 copies of its TARGET
      // lang's first marker token, target = labeled lang EXCEPT every
      // 10th doc, which gets the NEXT lang in the marker cycle — a
      // planted 10% systematic confusion. The gate now pins a
      // dominant diagonal AND off-diagonal cells; any scoring/argmax
      // regression flips them.
      val langs = TextOps.langMarkers.map(_._1)
      val firstMarker = TextOps.langMarkers.map { case (l, ms) =>
        l -> ms.head }.toMap
      val nextOf = langs.zip(langs.tail :+ langs.head).toMap
      val target = when(col("doc_id") % 10 === 0,
          langs.foldRight(col("lang")) { (l, els) =>
            when(col("lang") === l, lit(nextOf(l))).otherwise(els) })
        .otherwise(col("lang"))
      val marker = langs.foldRight(lit(""): Column) { (l, els) =>
        when(col("__target") === l, lit(firstMarker(l))).otherwise(els) }
      val aug = docs(s, dir)
        .withColumn("__target", target)
        .withColumn("__mk", marker)
        .withColumn("text", concat(col("text"),
          expr("repeat(concat(' ', __mk), cast(40 + doc_id % 7 as int))")))
        .drop("__target", "__mk")
      langidScoredOn(aug)
        .groupBy(col("lang").as("actual"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("row_share_micro", expr(
          "n * 1000000 div sum(n) over (partition by actual)"))
        .orderBy("actual", "pred")
    }),
    "qp_word_embeddings" -> ((s, dir) => {
      // TRAINED word vectors in-engine (Levy & Goldberg 2014): top-24
      // vocabulary (count desc, term asc — deterministic), ±2
      // skip-gram pairs over ORIGINAL token positions (non-vocab
      // tokens hold their slots but pair with nothing), shifted-PPMI
      // (shift 2), rank-2 symmetric factorization on the shared Pca
      // power-iteration machinery. The synthetic corpus's tokens are
      // hash-independent (PMI ≈ 0 everywhere — the langid-confusion
      // finding again), so topic structure is INJECTED
      // deterministically from doc_id (the qp_pii_redact convention):
      // 8 repeats of a 3-token topic trio per doc, topic = doc_id%4 —
      // within-trio PMI ≫ ln 2 survives the shift, cross-topic pairs
      // drop, and the factorization has real block structure to find.
      // EmbeddingsSpec pins same-topic cosine > cross-topic.
      val aug = docs(s, dir).withColumn("text", concat(col("text"),
        expr("repeat(concat(' ta', cast(doc_id % 4 as string), " +
          "' tb', cast(doc_id % 4 as string), " +
          "' tc', cast(doc_id % 4 as string)), 8)")))
      graft.ops.Embeddings.wordEmbeddings(aug, "doc_id", "text",
          vocabK = 24, shift = 2, iters = 100)
        .orderBy("id")
    }),
    "qp_winnow_fp" -> ((s, dir) => {
      // MOSS winnowing over a 20-doc slice: rightmost window minima,
      // guaranteed to catch any >= w + shingle - 1 char overlap
      TextOps.winnowFingerprints(
          docs(s, dir).filter(col("doc_id") < 20), "doc_id", "text",
          w = 8)
        .orderBy("doc_id", "pos")
    }),
    "qp_token_entropy" -> ((s, dir) => {
      // unigram information density per doc — micro-nat fixed-point
      // contributions, order-free integer sums
      TextOps.tokenEntropy(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_shingle_novelty" -> ((s, dir) => {
      // share of each doc's distinct shingles found nowhere else
      TextOps.shingleNovelty(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_tfidf_top" -> ((s, dir) => {
      // top-3 TF-IDF terms per doc (DF computed over the WHOLE corpus)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      TextOps.tfidf(docs(s, dir), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
        .orderBy("doc_id", "rnk")
    }),
    "qp_domain_keywords" -> ((s, dir) => {
      // corpus profiling: the 10 most source-characteristic terms per
      // source by PMI (what a crawl slice is "about" — the evidence
      // behind mixing-weight decisions)
      TextOps.domainKeywords(docs(s, dir), "doc_id", "text",
          "source", k = 10, minCount = 5)
        .orderBy(col("source"), col("rnk"))
    }),
    "qp_sparse_cosine" -> ((s, dir) => {
      // sparse LEXICAL retrieval: top-3 most tf-idf-cosine-similar
      // documents per doc via the inverted-index posting self-join
      // (df-pruned vocabulary bounds the fan-out)
      TextOps.sparseCosineTopK(docs(s, dir), "doc_id", "text",
          k = 3, maxDf = 400)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_hash_embed" -> ((s, dir) => {
      // feature-hashing featurizer: text → 64-dim count vector (the
      // text→vector bridge the ANN/PQ stack consumes). The gate driver
      // hash-compares scalar cells only, so the vector is serialized to
      // one comma-joined string column (qp_embed_ann consumes the raw
      // array form downstream).
      TextOps.hashEmbed(docs(s, dir), "doc_id", "text", dim = 64)
        .select(col("doc_id"),
          array_join(col("vec").cast("array<string>"), ",").as("vec"))
        .orderBy("doc_id")
    }),
    "qp_embed_ann" -> ((s, dir) => {
      // composed text→vector→ANN: hash-embed the corpus, then exact
      // cosine top-5 neighbors for 3 query documents
      val emb = TextOps.hashEmbed(docs(s, dir), "doc_id", "text",
          dim = 64)
        .select(col("doc_id"), col("vec").cast("array<double>").as("vec"))
      Similarity.bruteForceTopK(emb, emb.filter(col("doc_id") < 3),
          "doc_id", "vec", k = 5)
        .orderBy(col("q_id"), col("rnk"))
    }),
    "qp_lm_perplexity" -> ((s, dir) => {
      // CCNet-style quality signal: add-k bigram LM perplexity per doc
      TextOps.lmPerplexity(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_cdc_chunks" -> ((s, dir) => {
      // content-defined chunking vs a prefix-shifted recrawl: CDC
      // boundaries re-sync after the first boundary, so the recrawl's
      // chunks re-hash identically and surface as shared — the
      // storage-dedup signal fixed-size chunking cannot give
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val recrawl = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(lit("update "), col("text")).as("text"))
      Curation.cdcChunks(d.unionByName(recrawl), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_readability" -> ((s, dir) => {
      // Flesch reading ease from exact word/sentence/vowel-group
      // counts — the audience-level curation signal
      TextOps.readabilityScores(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_self_overlap" -> ((s, dir) => {
      // corpus diversity health number: mean pairwise word-trigram
      // Jaccard over the deterministic bottom-50-by-hash doc sample
      // (bounded all-pairs head; exact integer micro mean)
      TextOps.corpusSelfOverlap(docs(s, dir), "doc_id", "text")
    }),
    "qp_entities" -> ((s, dir) => {
      // gazetteer NER-lite over the corpus's own phrase inventory:
      // typed 1/2-token dictionary, broadcast against one tokenize
      // pass feeding both arities; overlapping phrases each count
      TextOps.extractEntities(docs(s, dir), "doc_id", "text",
          gazetteer = EntityGazetteer)
        .orderBy("doc_id", "etype")
    }),
    "qp_boilerplate" -> ((s, dir) => {
      // per-domain template-line removal (RefinedWeb cleanup): even
      // docs get their source's subscribe-footer injected
      // deterministically from doc_id (qp_pii_redact's convention —
      // the synthetic corpus shares almost no real 8-token lines), so
      // each source's header sits in ~half its docs; the integer
      // 100·d >= 40·n rule flags it while real lines (<= 8% of a
      // source) survive
      val aug = docs(s, dir).withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(lit("subscribe to "), col("source"),
            lit(" newsletter today\n"), col("text")))
          .otherwise(col("text")))
      Curation.boilerplateLines(aug, "doc_id", "text", "source")
        .orderBy("doc_id")
    }),
    "qp_kn_perplexity" -> ((s, dir) => {
      // Kneser-Ney bigram perplexity: the CCNet/KenLM smoothing with
      // the exact D=3/4 discount — continuation counts reward words
      // that complete many contexts, not merely frequent ones
      TextOps.lmPerplexityKn(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_top_bigrams" -> ((s, dir) => {
      // corpus-wide bigram frequencies, top 20
      docs(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(TextOps.bigrams(tokensWs(col("text"))))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),
    "qp_pmi_bigrams" -> ((s, dir) => {
      // PMI collocations: bigrams beating the independence prediction
      // (exact integer counts; one log2 rounded at 4 decimals)
      TextOps.pmiCollocations(docs(s, dir), "text", minPair = 5,
        topK = 20)
    }),
    "qp_textrank" -> ((s, dir) => {
      // TextRank keywords: integer-micro PageRank over the word
      // adjacency graph (3 rounds, exact longs end-to-end)
      TextOps.textrankKeywords(docs(s, dir), "text", iters = 3,
        topK = 20)
    }),
    "qp_rake_phrases" -> ((s, dir) => {
      // RAKE keyphrases: stopword-bounded candidate phrases scored by
      // summed word deg/freq (integer micro-units; one global regexp
      // cut, no per-doc window)
      TextOps.rakePhrases(docs(s, dir), "text", maxPhraseLen = 4,
        minCount = 2, topK = 20)
    }),
    "qp_dbscan" -> ((s, dir) => {
      // grid-blocked DBSCAN over deterministic integer 2-D points:
      // cells of side ε bound the candidate join to the 3×3 cell
      // neighborhood; clusters are min-core-id connected components;
      // border points adopt their smallest core neighbor's cluster
      Density.dbscan(
          graft.ops.Partitioning.spread(dbscanPoints(s, dir)),
          "id", "x", "y", eps = DbscanEps, minPts = DbscanMinPts)
        .orderBy(col("id"))
    }),
    "qp_hll_distinct" -> ((s, dir) => {
      // the same cardinalities via HyperLogLog (integer register maxima
      // + integer harmonic sum — no distinct pass at all, 64 longs of
      // state per stratum; the estimate differs from KMV's, as the two
      // estimators should)
      graft.ops.Sketch.hllDistinct(
        graft.ops.Partitioning.spread(docs(s, dir)).select(col("lang"),
          explode(TextOps.bigrams(tokensWs(col("text")))).as("bg")),
        "lang", col("bg"))
        .orderBy("lang")
    }),
    "qp_kmv_distinct" -> ((s, dir) => {
      // per-language distinct-bigram cardinality via the KMV bottom-k
      // sketch (exact COUNT(DISTINCT) is the 100 TB scale-killer; KMV
      // is one bounded-state aggregation pass with an exactly
      // reproducible oracle — qp_hll_distinct is the register-sketch
      // counterpart)
      graft.ops.Sketch.kmvDistinct(
        graft.ops.Partitioning.spread(docs(s, dir)).select(col("lang"),
          explode(TextOps.bigrams(tokensWs(col("text")))).as("bg")),
        "lang", col("bg"), k = 256)
        .orderBy("lang")
    }),
    "qp_kmv_setops" -> ((s, dir) => {
      // corpus-overlap pre-flight: distinct-bigram cardinalities of
      // the two corpus halves, their union, intersection and Jaccard
      // — ALL from one 3x256-long-state pass (Beyer et al. 2007
      // multiset KMV; three exact COUNT(DISTINCT)s over set ops would
      // pay three corpus-wide shuffles)
      val d = docs(s, dir)
      def grams(f: Column) =
        graft.ops.Partitioning.spread(d.filter(f))
          .select(explode(TextOps.bigrams(tokensWs(col("text"))))
            .as("bg"))
      graft.ops.Sketch.kmvSetOps(grams(col("doc_id") < 250),
        grams(col("doc_id") >= 250), col("bg"), k = 256)
    }),
    "qp_cms_heavy" -> ((s, dir) => {
      // corpus bigram heavy hitters: Count-Min estimates (4x512
      // additive counters — the fixed-size mergeable frequency
      // sketch) validated against the exact top-15 counts
      graft.ops.Sketch.cmsHeavyHitters(
        graft.ops.Partitioning.spread(docs(s, dir)).select(
          explode(TextOps.bigrams(tokensWs(col("text")))).as("gram")),
        "gram", k = 15)
        .orderBy(desc("true_cnt"), asc("gram"))
    }),
    "qp_cms_join_size" -> ((s, dir) => {
      // join-cardinality pre-flight: bigram-join size between the two
      // corpus halves estimated from their 4x512 sketches alone (the
      // broadcast/shuffle sizing decision WITHOUT re-reading inputs),
      // anchored against the exact inner product
      val d = docs(s, dir)
      def grams(f: Column) =
        graft.ops.Partitioning.spread(d.filter(f))
          .select(explode(TextOps.bigrams(tokensWs(col("text"))))
            .as("gram"))
      val ga = grams(col("doc_id") < 250).persist()
      val gb = grams(col("doc_id") >= 250).persist()
      val est = graft.ops.Sketch.cmsJoinSize(
        graft.ops.Sketch.cmsCounters(ga, col("gram")),
        graft.ops.Sketch.cmsCounters(gb, col("gram")))
      val truth = ga.groupBy("gram").agg(count(lit(1)).as("__na"))
        .join(gb.groupBy("gram").agg(count(lit(1)).as("__nb")), "gram")
        .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L))
          .as("true_join_size"))
      val out = truth.crossJoin(est).localCheckpoint()
      ga.unpersist()
      gb.unpersist()
      out
    }),
    "qp_kmv_rollup" -> ((s, dir) => {
      // per-language distinct-bigram estimates PLUS the corpus total
      // in one aggregation pass — sketch states merge up the rollup
      // (exact COUNT(DISTINCT) would need a second global shuffle)
      graft.ops.Sketch.kmvDistinctRollup(
        graft.ops.Partitioning.spread(docs(s, dir)).select(col("lang"),
          explode(TextOps.bigrams(tokensWs(col("text")))).as("bg")),
        "lang", col("bg"), k = 256)
        .orderBy("lang")
    }),
    "qp_source_centroids" -> ((s, dir) => {
      // per-label mean embedding (domain centroids): fixed-point sums
      // so the per-dim means are bit-identical across engines
      graft.ops.Similarity.meanEmbedding(embs(s, dir), "label",
          "embedding")
        .orderBy("label", "dim")
    }),
    "qp_embedding_outliers" -> ((s, dir) => {
      // centroid-distance quality filter: per label the 5 vectors
      // least similar to their own fixed-point centroid (mis-embedded
      // / mislabeled candidates — the over-far complement of SemDeDup)
      Similarity.embeddingOutliers(embs(s, dir), "vec_id", "embedding",
          "label", k = 5)
        .orderBy("label", "rnk")
    }),
    "qp_kmv_quantiles" -> ((s, dir) => {
      // per-language doc-length quantiles from the deterministic
      // bottom-k-by-hash uniform sample (k=128) — bounded state,
      // integer rank indexing, exactly reproducible in the oracle
      // (t-digest/GK state depends on merge order; this doesn't)
      graft.ops.Sketch.kmvQuantiles(docs(s, dir), "lang", "doc_id",
          col("n_chars"), k = 128,
          qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4),
            ("p90", 9, 10)))
        .orderBy("lang")
    }),
    "qp_robust_z" -> ((s, dir) => {
      // cross-strata score normalization: (len - median)/IQR in exact
      // integer micro-units from the KMV sample order statistics
      Curation.robustZ(docs(s, dir), "lang", "doc_id",
          col("n_chars"), k = 128)
        .orderBy("doc_id")
    }),
    "qp_dup_sources" -> ((s, dir) => {
      // duplication ATTRIBUTION: which source pairs the near-dup
      // pairs actually connect (the doc-level companion to
      // qp_source_overlap's vocabulary view)
      val d = docs(s, dir).withColumn("__lb",
        floor(col("n_chars") / 20).cast("int"))
      val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        blockCols = Seq("lang", "__lb"), threshold = 0.8)
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a_id"),
          col("source").as("__sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"),
          col("source").as("__sb")), "b_id")
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),
    "qp_winsorize" -> ((s, dir) => {
      // heavy-tail guard: per-language doc length clipped to the
      // [p10, p90] KMV sample order statistics
      Curation.winsorize(docs(s, dir), "lang", "doc_id",
          col("n_chars"), k = 128, loNum = 1, loDen = 10,
          hiNum = 9, hiDen = 10)
        .orderBy("doc_id")
    }),
    "qp_target_mix" -> ((s, dir) => {
      // explicit-weights mixture: 50/30/20 over three sources; the
      // binding source caps the achievable total, rates and achieved
      // counts close all-integer
      val d = docs(s, dir)
      val plan = Curation.targetMixPlan(d, "source", col("n_chars"),
        Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L))
      val kept = Curation.targetMixSample(d, "doc_id", "source", plan)
        .groupBy("source").agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"))
      plan.join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .withColumn("kept_chars", coalesce(col("kept_chars"), lit(0L)))
        .orderBy("source")
    }),
    "qp_psi_drift" -> ((s, dir) => {
      // population-stability drift of doc length between the first
      // and second corpus halves, banded by the REFERENCE half's
      // frozen quartiles (re-fitting bands on the current side would
      // hide the very shift being measured)
      val d = docs(s, dir)
      Curation.psiDrift(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), "lang", "doc_id",
          col("n_chars"), k = 128, nTiers = 4)
        .orderBy("lang")
    }),
    "qp_ks_drift" -> ((s, dir) => {
      // bin-free drift: max CDF gap of doc length between the corpus
      // halves over the deterministic KMV samples (same halves and
      // sample rule as qp_psi_drift — the two statistics together
      // tell banded attribution apart from point shifts)
      val d = docs(s, dir)
      Curation.ksDrift(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), "lang", "doc_id",
          col("n_chars"), k = 128)
        .orderBy("lang")
    }),
    "qp_psi_bands" -> ((s, dir) => {
      // band-level drift attribution: WHICH quartile band drove the
      // qp_psi_drift number (same frozen reference bands)
      val d = docs(s, dir)
      Curation.psiBands(d.filter(col("doc_id") < 250),
          d.filter(col("doc_id") >= 250), "lang", "doc_id",
          col("n_chars"), k = 128, nTiers = 4)
        .orderBy("lang", "tier")
    }),
    "qp_quality_tiers" -> ((s, dir) => {
      // curriculum sharding without a global sort: per-lang quartile
      // boundaries from the KMV bottom-k sample (k=128), broadcast
      // back, 3 codegen'd comparisons per row
      Curation.qualityTiers(docs(s, dir), "lang", "doc_id",
          col("n_chars"), k = 128, nTiers = 4)
        .orderBy("doc_id")
    }),
    "qp_pps_sample" -> ((s, dir) => {
      // deterministic weighted sampling: up to 50 docs per language,
      // inclusion probability proportional to n_chars (how token-
      // budgeted training mixtures are actually drawn) — systematic
      // PPS on a hash-order circle, all-integer keep rule, no rand()
      Curation.ppsSample(docs(s, dir), "doc_id", "lang", "n_chars",
          n = 50)
        .select("doc_id", "lang", "n_chars")
        .orderBy("lang", "doc_id")
    }),
    "qp_pii_redact" -> ((s, dir) => {
      // PII scrub audit: the corpus itself is synthetic and clean, so
      // deterministic PII (email always, IP on doc_id%3=0, phone on
      // doc_id%5=0) is injected from doc_id identically on both
      // engines, then redacted in the fixed email->IP->phone order
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit("-4567"))).otherwise(lit("")))
      docs(s, dir).select(
          (col("doc_id") +: TextOps.piiCounts(aug)) :+
            md5(TextOps.redactPii(aug)).as("redacted_md5"): _*)
        .orderBy("doc_id")
    }),
    // --- multimodal plumbing (binary payload + typed metadata) ------
    "qp_media_meta" -> ((s, dir) => {
      // payload bytes + metadata survive the media-table shape intact
      graft.ops.Multimodal.asMediaTable(docs(s, dir), "doc_id", "text",
          "image")
        .select(col("media_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          md5(col("payload")).as("content_hash"))
        .orderBy("media_id")
    }),
    "qp_image_phash" -> ((s, dir) => {
      // image perceptual-hash near-dup — the multimodal dedup loop
      // closed: synthetic BMP payloads (deterministic group pattern +
      // per-member pixel flip) → REAL bmpPixels decode → dHash64 →
      // banded Hamming pairs (pigeonhole-sound 4-band join + exact
      // bit_count verify, never all-pairs)
      val sigs = Multimodal.imagePhashes(phashMedia(s, dir))
      Multimodal.phashPairs(sigs, "media_id", "phash", PhMaxDist)
        .orderBy("a_id", "b_id")
    }),
    "qp_audio_fingerprint" -> ((s, dir) => {
      // audio near-dup — the third modality of the dedup triangle:
      // synthetic WAV payloads → REAL wavPcmSamples decode →
      // energy-difference fingerprint (exact integer band energies)
      // → the same banded Hamming pair join the image path rides
      val sigs = Multimodal.audioFingerprints(audioMedia(s, dir))
      Multimodal.phashPairs(sigs, "media_id", "phash", PhMaxDist)
        .orderBy("a_id", "b_id")
    }),
    "qp_jpeg_phash" -> ((s, dir) => {
      // JPEG in the dedup triangle (r11): a MIXED-FORMAT corpus (BMP /
      // grayscale JPEG with restarts / 4:2:0 YCbCr JPEG, same pattern
      // space) → REAL baseline JPEG decode (Huffman + dequant +
      // fixed-point IDCT luma) → dHash64 → the same banded Hamming
      // pair join; pairing must be format-blind
      val sigs = Multimodal.imagePhashes(jpegMedia(s, dir))
      Multimodal.phashPairs(sigs, "media_id", "phash", PhMaxDist)
        .orderBy("a_id", "b_id")
    }),
    "qp_image_dedup" -> ((s, dir) => {
      // the image dedup loop CLOSED end to end: decode → dHash →
      // banded Hamming pairs → converged min-label clusters (the text
      // nearDupClusters machinery riding the image pair frame)
      val sigs = Multimodal.imagePhashes(phashMedia(s, dir))
      val pairs = Multimodal.phashPairs(sigs, "media_id", "phash",
        PhMaxDist)
      Dedup.nearDupClusters(pairs, "a_id", "b_id").orderBy("cluster")
    }),
    "qp_jpeg_dedup" -> ((s, dir) => {
      // the dedup loop over the MIXED-FORMAT corpus: JPEG/BMP payloads
      // → format-blind pairs → converged min-label clusters (also the
      // oracle behind the image_dup_clusters SQL table function)
      val sigs = Multimodal.imagePhashes(jpegMedia(s, dir))
      val pairs = Multimodal.phashPairs(sigs, "media_id", "phash",
        PhMaxDist)
      Dedup.nearDupClusters(pairs, "a_id", "b_id").orderBy("cluster")
    }),
    "qp_phash_index" -> ((s, dir) => {
      // on-disk perceptual-hash index (r11 — image live-index parity):
      // index nine tenths of the corpus, probe the held-out tenth
      // (doc_id % 10 = 7); the bucket-pruned probe must equal the
      // brute-force (index, batch) cross pairs the oracle regenerates
      val media = phashMedia(s, dir)
      val idxDir = scratchDir(s, "phash-idx")
      val sigs = Multimodal.imagePhashes(media).localCheckpoint()
      Multimodal.writePhashIndex(
        sigs.filter(col("media_id") % 10 =!= 7), "media_id", "phash",
        PhMaxDist, idxDir)
      Multimodal.probePhashIndex(s, idxDir,
          sigs.filter(col("media_id") % 10 === 7), "media_id", "phash",
          PhMaxDist)
        .orderBy("a_id", "b_id")
    }),
    "qp_gif_phash" -> ((s, dir) => {
      // animated-sequence near-dup (r11 stretch): per-frame dHash over
      // ALL decoded GIF frames (spec'd LZW, real pixels) → frame-0
      // banded candidates → aligned all-frames verify; dist = the max
      // aligned frame distance
      Multimodal.videoPhashPairs(
          Multimodal.videoPhashes(gifMedia(s, dir)), PhMaxDist)
        .orderBy("a_id", "b_id")
    }),
    "qp_video_offset" -> ((s, dir) => {
      // offset-tolerant video near-dup (r12): the trimmed-re-encode
      // corpus — odd members drop frame 0 — must pair across lengths
      // at |δ| = 1, with the best (dist, |δ|, δ) alignment reported
      Multimodal.videoPhashPairsOffset(
          Multimodal.videoPhashes(gifOffsetMedia(s, dir)), PhMaxDist,
          maxOffset = 1)
        .orderBy("a_id", "b_id")
    }),
    "qp_gif_sequence" -> ((s, dir) => {
      // temporal EXACT-dedup key: order-aware rotate-XOR fold of the
      // per-frame dHashes in 60-bit space — replayed bit-for-bit by
      // the oracle's unrolled BIGINT fold
      Multimodal.videoFingerprints(gifMedia(s, dir)).orderBy("media_id")
    }),
    "qp_audio_dedup" -> ((s, dir) => {
      // the audio dedup loop CLOSED end to end (r11 — image got this
      // in r10): decode PCM → energy fingerprint → banded Hamming
      // pairs → converged min-label clusters
      val sigs = Multimodal.audioFingerprints(audioMedia(s, dir))
      val pairs = Multimodal.phashPairs(sigs, "media_id", "phash",
        PhMaxDist)
      Dedup.nearDupClusters(pairs, "a_id", "b_id").orderBy("cluster")
    }),
    "qp_text_quality2" -> ((s, dir) => {
      // cleaning + repetition signals: normalized-text hash (exact
      // dedup key robust to case/punct noise) and duplicate-bigram
      // fraction (Gopher-style repetition filter)
      docs(s, dir)
        .withColumn("__tok", tokensWs(col("text")))
        .select(col("doc_id"),
          md5(TextOps.normalizeText(col("text"))).as("norm_hash"),
          round(TextOps.repetitionFraction(col("__tok"), 2), 6)
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),
    "qp_substring_search" -> ((s, dir) => {
      // grep-at-scale: char-4-gram posting index (hash-bucketed
      // dirs, fixed tmp path overwritten per run); the probe resolves
      // the needle's gram buckets as literal partition filters and
      // verifies contains() over candidates only — must equal the
      // oracle's brute-force contains over the whole corpus
      val d = docs(s, dir)
      val idxDir = scratchDir(s, "substr-idx")
      SubstringIndex.write(d, "doc_id", "text", idxDir)
      SubstringIndex.search(s, idxDir, d, "doc_id", "text", "spark data")
        .orderBy("doc_id")
    }),
    "qp_zipf_fit" -> ((s, dir) => {
      // corpus-health diagnostic: Zipf rank-frequency OLS over the
      // top-100 vocabulary (natural text ⇒ slope ≈ −1; templated/
      // synthetic corpora bend the line — a mix/boilerplate alarm)
      TextOps.zipfFit(docs(s, dir), "text", topK = 100)
    }),
    "qp_text_fingerprint" -> ((s, dir) => {
      TextOps.fingerprintTable(docs(s, dir), "doc_id", "text", k = 4)
        .orderBy("doc_id")
    }),
    "qp_quality_gate" -> ((s, dir) => {
      // Gopher-rule composite filter: every signal + the keep flag
      TextOps.qualityGate(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_c4_rules" -> ((s, dir) => {
      // C4 line rules: re-line (8 tokens/line), drop short/blocklist/
      // cross-corpus-duplicate lines, keep docs with >= 3 survivors
      Curation.c4LineRules(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "qp_chunk_docs" -> ((s, dir) => {
      // RAG-style chunking: 20-token chunks, 5-token overlap —
      // chunk count is pure integer math, exactly reproducible
      Curation.chunkDocs(docs(s, dir), "doc_id", "text",
          chunkSize = 20, overlap = 5)
        .orderBy("doc_id", "chunk_id")
    }),
    "qp_oov_rate" -> ((s, dir) => {
      // vocabulary coverage vs the corpus top-500 (tie-broken) vocab
      TextOps.oovRate(docs(s, dir), "doc_id", "text", vocabSize = 500)
        .orderBy("doc_id")
    }),
    "qp_ccnet_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail perplexity tiers per language
      Curation.perplexityBuckets(docs(s, dir), "doc_id", "lang", "text")
        .orderBy("lang", "bucket")
    })
  )

  // ======================= DuckDB oracle generators ==================
  // Same constants, same arithmetic, ANSI SQL.

  private def dH60(x: String): String =
    s"('0x' || substr(md5($x),1,15))::BIGINT"
  private def dShingles(x: String): String =
    s"list_distinct(list_transform(range(length($x)-3), i -> substring($x, i+1, 4)))"
  private def dTokens(x: String): String =
    s"list_filter(string_split_regex(lower($x), '\\s+'), t -> length(t) > 0)"
  private val dBpe = // DuckDB string literals keep backslashes verbatim
    s"regexp_extract_all(lower(text), '${TextOps.bpePattern}')"
  /** shared add-k bigram-LM core (fixed-point log-prob sums): yields
    * `perdoc(doc_id, n_bigrams, s)` for the perplexity oracles. */
  private lazy val dLmPerDoc =
    s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS tok
       |   FROM documents),
       | bi AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
       |     split_part(bg, ' ', 2) AS w2
       |   FROM (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2 THEN
       |       list_transform(range(len(tok)-1),
       |         i -> tok[i+1] || ' ' || tok[i+2])
       |     ELSE [] END) AS bg FROM t)),
       | docbi AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bi
       |   GROUP BY doc_id, w1, w2),
       | pc AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c12
       |   FROM docbi GROUP BY w1, w2),
       | cts AS (SELECT w1, w2, c12,
       |   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1 FROM pc),
       | voc AS (SELECT count(*) AS v FROM
       |   (SELECT w1 FROM pc UNION SELECT w2 FROM pc)),
       | terms AS (SELECT d.doc_id, d.occ,
       |     CAST(round(ln((c.c12 + 0.5) / (c.c1 + 0.5 * voc.v)) * 1e6)
       |       AS BIGINT) * d.occ AS tt
       |   FROM docbi d JOIN cts c USING (w1, w2) CROSS JOIN voc),
       | perdoc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
       |     CAST(sum(tt) AS BIGINT) AS s FROM terms GROUP BY doc_id)""".stripMargin
  /** DSIR shared CTEs: hashed-bigram bucket counts per doc (`db`),
    * add-1-smoothed bucket log-ratio table in integer micro-nats
    * (`lr`) — the 256-bucket count and the fixed-point rounding
    * mirror [[graft.ops.Curation.dsirWeights]] exactly. */
  private lazy val dDsirCtes: String =
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
       |     ${dTokens("text")} AS tok FROM documents),
       | bg AS (SELECT doc_id, is_target,
       |     unnest(CASE WHEN len(tok) >= 2 THEN
       |       list_transform(range(len(tok)-1),
       |         i -> tok[i+1] || ' ' || tok[i+2])
       |     ELSE [] END) AS bgr FROM tok),
       | db AS (SELECT doc_id, is_target, ${dH60("bgr")} % 256 AS b,
       |     count(*) AS n FROM bg GROUP BY 1, 2, 3),
       | bt AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr,
       |     CAST(sum(CASE WHEN is_target THEN n ELSE 0 END) AS BIGINT)
       |       AS ct FROM db GROUP BY b),
       | tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
       |     CAST(sum(ct) AS BIGINT) AS nt FROM bt),
       | lr AS (SELECT b, CAST(round((ln((ct + 1.0) / (nt + 256.0))
       |       - ln((cr + 1.0) / (nr + 256.0))) * 1e6) AS BIGINT) AS lr
       |   FROM bt CROSS JOIN tot)""".stripMargin

  /** Near-dup cluster CTEs (no leading WITH): pairs identical to
    * qp_ngram_jaccard, then unrolled min-label propagation (min of own
    * and in-neighbor labels) — its fixpoint is Dedup.nearDupClusters'
    * converged component labels (min member id). 10 unrolled rounds
    * cover the data's diameter with margin (MATERIALIZED keeps the
    * extra no-op rounds cheap). Yields member labels in `l10`.
    * COUPLING: OpsHygieneSpec "oracle horizon covers the gate corpus"
    * pins the converged Dedup.nearDupLabels equal to 10 synchronous
    * min-label rounds on the sf0.01 pairs — raise both together if
    * future data grows longer chains. */
  /** the qp_image_phash / qp_jpeg_phash brute-force distance CTEs:
    * decoded luma integers regenerated from doc_id (the gray-BMP /
    * block-constant-JPEG encode/decode round trips are the identity,
    * and dHash samples block top-lefts, so every format collapses to
    * the same 9×8 pattern), dHash bits compared per position —
    * `dists` holds every pair's exact Hamming distance. Shared by the
    * pair gates and the cluster gate; `prefix` selects the pattern
    * space ("ph" = BMP gate, "jph" = mixed-format JPEG gate). */
  private def phashDistCtes(prefix: String): String =
    s"""$PhGroupsCte,
       | grid AS (
       |  SELECT doc_id, r.range AS r, c.range AS c,
       |    doc_id % phg.n AS g, doc_id // phg.n AS k
       |  FROM documents, range(8) r, range(9) c, phg),
       | cells AS (
       |  SELECT doc_id, r, c,
       |    CASE WHEN k % 5 = 0 AND r = (k * 3) % 8 AND c = (k * 5) % 9
       |      THEN $PhFlip - base ELSE base END AS v
       |  FROM (SELECT *,
       |    CASE WHEN substr(md5('$prefix:' || g || ':' || r || ':' || c),
       |          1, 1) BETWEEN '0' AND '7'
       |      THEN $PhHi ELSE $PhLo END AS base FROM grid)),
       | bits AS (
       |  SELECT a.doc_id, a.r * 8 + a.c AS bit_idx,
       |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON b.doc_id = a.doc_id AND b.r = a.r AND b.c = a.c + 1
       |  WHERE a.c < 8),
       | dists AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::INT AS dist
       |  FROM bits x JOIN bits y
       |    ON x.bit_idx = y.bit_idx AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** the qp_audio_fingerprint / qp_audio_dedup brute-force distance
    * CTEs: band amplitudes regenerated from doc_id (constant-amplitude
    * bands make the decoded-energy comparison equal the amplitude
    * comparison), fingerprint bits compared per position. */
  private lazy val audioDistCtes: String =
    s"""$PhGroupsCte,
       | grid AS (
       |  SELECT doc_id, j.range AS j,
       |    doc_id % phg.n AS g, doc_id // phg.n AS k
       |  FROM documents, range(65) j, phg),
       | amps AS (
       |  SELECT doc_id, j,
       |    CASE WHEN k % 5 = 0 AND j = (k * 7) % 65
       |      THEN $AuHi + $AuLo - base ELSE base END AS amp
       |  FROM (SELECT *,
       |    CASE WHEN substr(md5('au:' || g || ':' || j), 1, 1)
       |          BETWEEN '0' AND '7'
       |      THEN $AuHi ELSE $AuLo END AS base FROM grid)),
       | bits AS (
       |  SELECT a.doc_id, a.j AS bit_idx,
       |    CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit
       |  FROM amps a JOIN amps b
       |    ON b.doc_id = a.doc_id AND b.j = a.j + 1
       |  WHERE a.j < 64),
       | dists AS (
       |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
       |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::INT AS dist
       |  FROM bits x JOIN bits y
       |    ON x.bit_idx = y.bit_idx AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** the animated-gate shared CTEs (r11): per-(doc, frame) decoded
    * luma regenerated from doc_id (the gray-palette GIF round trip is
    * the identity), per-frame dHash bits compared by position. Ends
    * at `gbits(doc_id, f, bit_idx, bit)`. */
  private lazy val gifBitsCtes: String =
    s"""$PhGroupsCte,
       | grid AS (
       |  SELECT doc_id, f.range AS f, r.range AS r, c.range AS c,
       |    doc_id % phg.n AS g, doc_id // phg.n AS k
       |  FROM documents, range(3) f, range(8) r, range(9) c, phg),
       | cells AS (
       |  SELECT doc_id, f, r, c,
       |    CASE WHEN k % 5 = 0 AND f = k % 3 AND r = (k * 3) % 8
       |        AND c = (k * 5) % 9
       |      THEN $PhFlip - base ELSE base END AS v
       |  FROM (SELECT *,
       |    CASE WHEN substr(md5('gph:' || g || ':' || f || ':' ||
       |        r || ':' || c), 1, 1) BETWEEN '0' AND '7'
       |      THEN $PhHi ELSE $PhLo END AS base FROM grid)),
       | gbits AS (
       |  SELECT a.doc_id, a.f, a.r * 8 + a.c AS bit_idx,
       |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
       |  FROM cells a JOIN cells b
       |    ON b.doc_id = a.doc_id AND b.f = a.f AND b.r = a.r
       |      AND b.c = a.c + 1
       |  WHERE a.c < 8)""".stripMargin

  /** unrolled min-label propagation rounds over CTEs `u` (symmetric
    * pair edges) and `l0` (identity labels) — the SQL replay of
    * [[graft.ops.Dedup.nearDupClusters]]' converged component labels;
    * shared by the text and image dedup-cluster oracles. 10 rounds
    * cover any gate pair graph's diameter (the engine labels
    * components to their fixpoint; OpsHygieneSpec pins the text gate's
    * 10-round replay equal to it). */
  private def minLabelRoundsSql(rounds: Int): String =
    (1 to rounds).map { t =>
      s"""l$t AS MATERIALIZED (SELECT id, min(lbl) AS lbl FROM (
         |   SELECT id, lbl FROM l${t - 1}
         |   UNION ALL
         |   SELECT u.b AS id, l${t - 1}.lbl FROM u
         |     JOIN l${t - 1} ON u.a = l${t - 1}.id
         | ) GROUP BY id)""".stripMargin
    }.mkString(",\n ")

  private lazy val dClusterCtes: String = {
    val rounds = minLabelRoundsSql(10)
    s"""t AS (SELECT doc_id, lang,
       |   CAST(floor(n_chars / 20) AS INT) lb,
       |   list_distinct(list_transform(${dShingles("text")},
       |     x -> ${dH60("x")})) sh
       |   FROM documents),
       | p AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM (
       |   SELECT a.doc_id a_id, b.doc_id b_id,
       |     round(len(list_intersect(a.sh, b.sh))*1.0 /
       |       (len(a.sh)+len(b.sh)-len(list_intersect(a.sh, b.sh))), 6) jac
       |   FROM t a JOIN t b ON a.lang = b.lang AND a.lb = b.lb
       |     AND a.doc_id < b.doc_id)
       |   WHERE jac >= 0.8),
       | u AS MATERIALIZED (SELECT a, b FROM p
       |   UNION ALL SELECT b, a FROM p),
       | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
       | $rounds""".stripMargin
  }

  /** Unrolled logistic-regression training in SQL — the same 3 rounds
    * of fixed-point full-batch GD [[graft.ops.Classifier.lrTrain]]
    * runs: milli-tf features from the integer half-up divide, exact
    * integer margins against the previous round's weight table, per-row
    * rounded gradient contributions, half-away-from-zero weight
    * updates (DuckDB round() ≡ BigDecimal HALF_UP). Yields `fx`
    * (doc_id, y, b, x) and `w0..w3` (b, w); b = 32 is the bias. */
  private lazy val dLrCtes: String = {
    val dim = 32
    val base =
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS y,
         |     ${dTokens("text")} AS tok FROM documents),
         | tb AS (SELECT doc_id, y, ${dH60("t")} % $dim AS b
         |   FROM (SELECT doc_id, y, unnest(tok) AS t FROM tok)),
         | cnt AS (SELECT doc_id, y, b, count(*) AS n FROM tb
         |   GROUP BY 1, 2, 3),
         | dl AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS len FROM cnt
         |   GROUP BY 1),
         | fx AS MATERIALIZED (SELECT c.doc_id, c.y, c.b,
         |     (2000 * c.n + d.len) // (2 * d.len) AS x
         |   FROM cnt c JOIN dl d USING (doc_id)),
         | w0 AS (SELECT unnest(range(${dim + 1})) AS b,
         |     CAST(0 AS BIGINT) AS w)""".stripMargin
    val rounds = (1 to 3).map { k =>
      s""" m$k AS (SELECT f.doc_id, f.y, CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w${k - 1} WHERE b = $dim) AS mr
         |   FROM fx f JOIN w${k - 1} w USING (b) GROUP BY 1, 2),
         | p$k AS (SELECT doc_id, 1.0 / (1.0 + exp(-(mr / 1000000000.0)))
         |     - (CASE WHEN y THEN 1.0 ELSE 0.0 END) AS r FROM m$k),
         | g$k AS (SELECT b, CAST(sum(CAST(round(r * x) AS BIGINT))
         |     AS BIGINT) AS g
         |   FROM fx JOIN p$k USING (doc_id) GROUP BY 1),
         | s$k AS (SELECT CAST(sum(CAST(round(r * 1000) AS BIGINT))
         |       AS BIGINT) AS g, count(*) AS nn FROM p$k),
         | w$k AS MATERIALIZED (SELECT v.b, v.w - CAST(round(2000.0
         |       * (CASE WHEN v.b = $dim THEN (SELECT g FROM s$k)
         |          ELSE COALESCE(g.g, 0) END)
         |       / (SELECT nn FROM s$k)) AS BIGINT) AS w
         |   FROM w${k - 1} v LEFT JOIN g$k g USING (b))""".stripMargin
    }.mkString(",\n")
    base + ",\n" + rounds
  }

  /** Unrolled BPE-training rounds in SQL. Vocab CTE `v0` holds
    * frequency-weighted per-codepoint splits; each round r emits
    * `p_r` (overlapping adjacent-pair counts), `b_r` (argmax merge,
    * ties count desc → left asc → right asc) and `v_r` (vocab after
    * the merge). The merge is applied by wrapping every symbol in
    * chr(1)/chr(2) and running a plain `replace` — leftmost
    * non-overlapping on exact symbol boundaries, which is precisely
    * the compiled [[graft.ops.MergePair]] scan's semantics. */
  private def dBpeApply(x: String, b: String): String =
    s"replace($x, chr(1) || (SELECT l FROM $b) || chr(2) || chr(1) || " +
      s"(SELECT r FROM $b) || chr(2), chr(1) || (SELECT l FROM $b) || " +
      s"(SELECT r FROM $b) || chr(2))"
  private val dBpeWrap =
    "chr(1) || array_to_string(s, chr(2) || chr(1)) || chr(2)"
  private def dBpeUnwrap(x: String): String =
    s"string_split(substring($x, 2, length($x) - 2), chr(2) || chr(1))"
  private def dBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS MATERIALIZED (SELECT tok AS w, count(*) AS n
       |   FROM (SELECT unnest(${dTokens("text")}) AS tok FROM documents)
       |   GROUP BY 1),
       | v0 AS MATERIALIZED (SELECT n, list_transform(range(length(w)),
       |     i -> substring(w, i+1, 1)) AS s FROM w)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
       | p$r AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r,
       |     CAST(sum(n) AS BIGINT) AS c
       |   FROM (SELECT n, unnest(list_transform(range(len(s)-1),
       |       i -> {'l': s[i+1], 'r': s[i+2]})) AS pr
       |     FROM v${r - 1} WHERE len(s) >= 2) GROUP BY 1, 2),
       | b$r AS MATERIALIZED (SELECT l, r, c FROM p$r
       |   ORDER BY c DESC, l, r LIMIT 1),
       | v$r AS MATERIALIZED (SELECT n,
       |     ${dBpeUnwrap(dBpeApply(dBpeWrap, s"b$r"))} AS s
       |   FROM v${r - 1})""".stripMargin
    }
    sb.toString
  }

  private def dMinhashSig(i: Int): String = {
    val (a, b) = minhashCoeffs(i)
    s"list_min(list_transform(hh, h -> ($a * h + $b) % $MinhashP))"
  }
  private def dSimhash(hsExpr: String): String =
    (0 until 32).map { b =>
      val d = math.pow(2, b)
      s"(CASE WHEN list_sum(list_transform($hsExpr, " +
        s"h -> CASE WHEN CAST(floor(h / $d) AS BIGINT) % 2 = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  /** one BM25 term's contribution, constants generated from the SAME
    * Scala values `TextOps.bm25TopK` uses (repo rule: never
    * hand-copied numbers). */
  private def dBm25Term(i: Int): String = {
    val k1 = graft.ops.TextOps.Bm25K1
    val b = graft.ops.TextOps.Bm25B
    s"ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * ${k1 + 1} / " +
      s"(tf$i + $k1 * (${1 - b} + $b * l / avgdl))"
  }

  private def dDot(a: String, b: String): String =
    s"list_sum(list_transform(range(64), i -> $a[i+1] * $b[i+1]))"

  /** One power-iteration recursion (DuckDB recursive CTE) over the
    * flat 64×64 covariance list in CTE `cMat`, mirroring
    * `Pca.powerEigs` op for op IN ORDER (sequential matvec, sum of
    * squares, sqrt, guarded normalize; the last round's pre-normalize
    * norm IS the eigenvalue) — every step is correctly-rounded IEEE,
    * so the vector is BIT-identical to the Scala driver math (the
    * same portability argument the unrolled LR/BPE oracles use; dev
    * harness measured 64/64 exact coordinates for both components).
    * The sign flip picks the FIRST largest-|coordinate| index like
    * Scala `maxBy`. MATERIALIZED is load-bearing: DuckDB re-evaluates
    * plain CTEs per reference, and the recursion references the
    * covariance every round. */
  private def dPowerIter(it: String, cMat: String, vOut: String): String =
    s""" $it AS (
       |   SELECT 0 AS t,
       |     list_transform(range(64), x -> 1.0/sqrt(64.0)) AS v,
       |     CAST(0.0 AS DOUBLE) AS lam
       |   UNION ALL
       |   SELECT t + 1,
       |     CASE WHEN nrm > 0 THEN list_transform(w, x -> x / nrm)
       |          ELSE w END,
       |     nrm
       |   FROM (
       |     SELECT t, w, sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
       |     FROM (
       |       SELECT $it.t AS t,
       |         list_transform(range(64), i -> list_sum(list_transform(
       |           range(64), j -> c[i*64 + j + 1] * v[j+1]))) AS w
       |       FROM $it, $cMat WHERE $it.t < 200))),
       | $vOut AS (SELECT CASE WHEN v[am+1] < 0
       |       THEN list_transform(v, x -> -x) ELSE v END AS v, lam
       |   FROM (SELECT v, lam,
       |     (SELECT i FROM range(64) t(i)
       |      ORDER BY abs(v[i+1]) DESC, i ASC LIMIT 1) AS am
       |     FROM $it WHERE t = 200))""".stripMargin

  /** Shared eigen pipeline: integer moments (the qp_pca_cov CTEs) →
    * UNROUNDED covariance (the `Pca.meanCov` formula, not the
    * 6-decimal display rounding of qp_pca_cov) → top-2 eigenpairs via
    * [[dPowerIter]] with the deflation `c - λ v vᵀ` between them —
    * exactly `Pca.principalComponents`. Ends with v1/v2 (+ mn: the
    * per-dim mean list, for whitening). */
  private def dPcaEigCtes: String =
    s"""WITH RECURSIVE
       | e AS MATERIALIZED (SELECT list_transform(embedding::DOUBLE[],
       |     x -> CAST(round(x * 1000) AS BIGINT)) AS q FROM embeddings),
       | nn AS MATERIALIZED (SELECT count(*) AS cnt FROM e),
       | sm AS MATERIALIZED (SELECT i, CAST(sum(q[i+1]) AS BIGINT) AS si
       |   FROM e, range(64) t(i) GROUP BY i),
       | pm AS MATERIALIZED (SELECT i, j,
       |     CAST(sum(q[i+1] * q[j+1]) AS BIGINT) AS sxy
       |   FROM e, range(64) t1(i), range(64) t2(j) WHERE i <= j
       |   GROUP BY i, j),
       | cm AS MATERIALIZED (SELECT pm.i AS i, pm.j AS j,
       |     ((CAST(sxy AS DOUBLE) / cnt)
       |      - (CAST(s1.si AS DOUBLE) / cnt)
       |        * (CAST(s2.si AS DOUBLE) / cnt)) / 1e6 AS cv
       |   FROM pm JOIN sm s1 ON s1.i = pm.i JOIN sm s2 ON s2.i = pm.j
       |   CROSS JOIN nn),
       | cfull AS MATERIALIZED (SELECT i, j, cv FROM cm
       |   UNION ALL SELECT j, i, cv FROM cm WHERE i <> j),
       | c1 AS MATERIALIZED (SELECT list(cv ORDER BY i*64 + j) AS c
       |   FROM cfull),
       | mn AS MATERIALIZED (SELECT
       |     list(CAST(si AS DOUBLE) / cnt / 1e3 ORDER BY i) AS m
       |   FROM sm CROSS JOIN nn),
       |${dPowerIter("it1", "c1", "v1")},
       | c2 AS MATERIALIZED (SELECT list_transform(range(4096),
       |     p -> c[p+1] - lam * v[(p // 64) + 1] * v[(p % 64) + 1]) AS c
       |   FROM c1, v1),
       |${dPowerIter("it2", "c2", "v2")}""".stripMargin

  /** DuckDB replay of [[graft.ops.Embeddings]] — shifted-PPMI from a
    * `(a, b, n)` pair source + rank-2 power-iteration factorization
    * with DYNAMIC dimension (the vocabulary size is data-dependent,
    * unlike [[dPowerIter]]'s fixed 64): the dense matrix is minted
    * from the sparse positive-PPMI frame via a range(d·d) grid, each
    * component runs `iters` recursive rounds with the [[dPowerIter]]
    * normalize/sign/deflation conventions, and the close is the
    * Levy–Goldberg `v·√λ` at 6 decimals. Shared by
    * qp_word_embeddings and qg_node_embeddings (QueriesGraph). */
  private[graft] def sppmiEmbedSql(pairSrc: String, shift: Int,
      iters: Int, k: Int = 2): String = {
    def pit(it: String, cMat: String, vOut: String): String =
      s""" $it AS (
         |   SELECT 0 AS t, d,
         |     list_transform(range(d), x -> 1.0/sqrt(CAST(d AS DOUBLE)))
         |       AS v,
         |     CAST(0.0 AS DOUBLE) AS lam
         |   FROM vn
         |   UNION ALL
         |   SELECT t + 1, d,
         |     CASE WHEN nrm > 0 THEN list_transform(w, x -> x / nrm)
         |          ELSE w END,
         |     nrm
         |   FROM (
         |     SELECT t, d, w,
         |       sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
         |     FROM (
         |       SELECT $it.t AS t, $it.d AS d,
         |         list_transform(range($it.d), i -> list_sum(
         |           list_transform(range($it.d),
         |             j -> c[i*$it.d + j + 1] * v[j+1]))) AS w
         |       FROM $it, $cMat WHERE $it.t < $iters))),
         | $vOut AS (SELECT CASE WHEN v[am] < 0
         |       THEN list_transform(v, x -> -x) ELSE v END AS v, lam
         |   FROM (SELECT v, lam,
         |     list_position(list_transform(v, x -> abs(x)),
         |       list_max(list_transform(v, x -> abs(x)))) AS am
         |     FROM $it WHERE t = $iters))""".stripMargin
    s"""WITH RECURSIVE
       | pc AS MATERIALIZED (SELECT a, b, n FROM ($pairSrc)),
       | tot AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS N
       |   FROM pc),
       | rsum AS MATERIALIZED (SELECT a, CAST(sum(n) AS BIGINT) AS ra
       |   FROM pc GROUP BY 1),
       | csum AS MATERIALIZED (SELECT b, CAST(sum(n) AS BIGINT) AS cb
       |   FROM pc GROUP BY 1),
       | spp AS MATERIALIZED (SELECT a, b, v FROM (
       |   SELECT pc.a, pc.b,
       |     round(ln((CAST(pc.n AS DOUBLE) * tot.N) /
       |       (CAST(rsum.ra AS DOUBLE) * csum.cb))
       |       - ln(CAST($shift AS DOUBLE)), 6) AS v
       |   FROM pc JOIN rsum USING (a) JOIN csum USING (b)
       |   CROSS JOIN tot)
       |   WHERE v > 0),
       | vocab AS MATERIALIZED (SELECT id,
       |     row_number() OVER (ORDER BY id) - 1 AS ix
       |   FROM (SELECT DISTINCT id FROM
       |     (SELECT a AS id FROM spp UNION ALL SELECT b FROM spp))),
       | vn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS d
       |   FROM vocab),
       | mm AS MATERIALIZED (SELECT va.ix AS i, vb.ix AS j, spp.v AS v
       |   FROM spp JOIN vocab va ON va.id = spp.a
       |     JOIN vocab vb ON vb.id = spp.b),
       | grid AS MATERIALIZED (SELECT unnest(range(d*d)) AS p, d
       |   FROM vn),
       | c1 AS MATERIALIZED (SELECT list(coalesce(mm.v, 0.0)
       |     ORDER BY grid.p) AS c
       |   FROM grid LEFT JOIN mm
       |     ON mm.i = grid.p // grid.d AND mm.j = grid.p % grid.d),
       |${stages(pit, k)}
       | SELECT vocab.id AS id,
       |   ${closeCols(k)}
       | FROM vocab, ${(1 to k).map(c => s"v$c").mkString(", ")}
       | ORDER BY id""".stripMargin
  }

  /** the k deflation stages of [[sppmiEmbedSql]] (r11 — rank was
    * fixed at 2 through r10): stage c factorizes c$c (the matrix
    * after c-1 rank-1 deflations) and emits v$c. */
  private def stages(pit: (String, String, String) => String,
      k: Int): String =
    (1 to k).map { c =>
      val defl = if (c == 1) "" else
        s""" c$c AS MATERIALIZED (SELECT list_transform(range(vn.d*vn.d),
           |     p -> c[p+1] - lam * v[(p // vn.d) + 1] * v[(p % vn.d) + 1])
           |     AS c
           |   FROM c${c - 1}, v${c - 1}, vn),
           |""".stripMargin
      defl + pit(s"it$c", s"c$c", s"v$c")
    }.mkString(",\n")

  private def closeCols(k: Int): String =
    (1 to k).map(c =>
      s"round(v$c.v[vocab.ix+1] * sqrt(v$c.lam), 6) + 0.0 AS e${c - 1}")
      .mkString(",\n |   ").stripMargin

  /** generic (a, b, n) word skip-gram pair source in SQL — mirrors
    * [[graft.ops.Embeddings.wordEmbeddings]]'s harvest: `from` is a
    * SQL relation producing (doc_id, text); top-`vocabK` vocabulary
    * (count desc, term asc), ±2 window over ORIGINAL token
    * positions. */
  private[graft] def wordPairSrc(from: String, vocabK: Int): String =
    s"""WITH src AS ($from),
       | t AS (SELECT doc_id, ${dTokens("text")} AS tok
       |   FROM src),
       | tk0 AS (SELECT doc_id, tok, unnest(range(len(tok))) AS pos
       |   FROM t),
       | tk AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |     tok[pos+1] AS term FROM tk0),
       | vocabk AS (SELECT term FROM (SELECT term, count(*) AS c
       |   FROM tk GROUP BY 1 ORDER BY c DESC, term LIMIT $vocabK)),
       | tv AS (SELECT tk.doc_id, tk.pos, tk.term FROM tk
       |   JOIN vocabk USING (term))
       | SELECT x.term AS a, y.term AS b, CAST(count(*) AS BIGINT) AS n
       | FROM tv x JOIN tv y ON x.doc_id = y.doc_id
       |   AND y.pos - x.pos IN (-2, -1, 1, 2)
       | GROUP BY 1, 2""".stripMargin

  /** the qp_word_embeddings instantiation: topic-augmented documents,
    * vocab 24 (see the query comment for why augmentation). */
  private lazy val wordPairSrcSql: String = wordPairSrc(
    """SELECT doc_id, text ||
      |     repeat(' ta' || CAST(doc_id % 4 AS VARCHAR) ||
      |       ' tb' || CAST(doc_id % 4 AS VARCHAR) ||
      |       ' tc' || CAST(doc_id % 4 AS VARCHAR), 8) AS text
      |   FROM documents""".stripMargin, vocabK = 24)

  /** PQ constants shared by the Spark queries and the oracle SQL:
    * m=4 subspaces × 16 dims, 16 codes each, seeded codebooks. */
  private lazy val pqCb = Pq.codebooks(m = 4, ksub = 16, subDim = 16)

  /** codebook VALUES rows `(s, j, cv, cn2)` — literals printed from
    * the SAME Scala arrays the native expressions use (shortest-repr
    * doubles round-trip exactly through DuckDB's parser). */
  private lazy val dPqCbValues: String =
    (0 until pqCb.m).flatMap { s =>
      (0 until pqCb.ksub).map { j =>
        val cv = pqCb.entry(s, j).mkString("[", ", ", "]::DOUBLE[]")
        s"($s, $j, $cv, ${pqCb.cnorm2(s * pqCb.ksub + j)})"
      }
    }.mkString(",\n  ")

  /** sub-vector dot against a codebook entry: left-to-right fold over
    * the subspace dims, matching the compiled loop in [[graft.ops.PqEncode]]
    * / [[graft.ops.Pq.adcLut]]. `sCol` is the subspace column. */
  private def dPqDot(v: String, sCol: String, c: String): String =
    s"list_sum(list_transform(range(${pqCb.subDim}), " +
      s"i -> $v[$sCol*${pqCb.subDim}+i+1] * $c[i+1]))"

  /** a sub-vector's squared norm (same fold order as `adcLut`). */
  private def dPqQn2(v: String, sCol: String): String =
    s"list_sum(list_transform(range(${pqCb.subDim}), " +
      s"i -> $v[$sCol*${pqCb.subDim}+i+1] * $v[$sCol*${pqCb.subDim}+i+1]))"

  /** shared CTEs: corpus as DOUBLE[], codebook table, per-(vector,
    * subspace) argmin code — score `cn2 - 2·dot` with ties → lower
    * code, identical to the native expression. */
  private lazy val dPqCodesCtes: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       | cb(s, j, cv, cn2) AS (VALUES
       |  $dPqCbValues),
       | sc AS (SELECT e.vec_id, cb.s, cb.j,
       |   cb.cn2 - 2*${dPqDot("e.v", "cb.s", "cb.cv")} AS score
       |   FROM e0 e CROSS JOIN cb),
       | codes AS (SELECT vec_id, s, j AS code FROM (
       |   SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s
       |     ORDER BY score, j) AS r FROM sc) WHERE r = 1)""".stripMargin
  private def dCos(a: String, b: String): String =
    s"(${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)})))"

  /** unrolled Morton interleave, generated from the same bit layout
    * as [[graft.sources.Bucketing.zValue]] (a's bit i → 2i, b's →
    * 2i+1); the CAST keeps DuckDB's shift in BIGINT. */
  private def dZ(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(CAST((($a >> $i) & 1) AS BIGINT) << ${2 * i}) + " +
        s"(CAST((($b >> $i) & 1) AS BIGINT) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")
  private val dStopList = stop.map(w => s"'$w'").mkString("[", ", ", "]")

  private val sigsCte =
    s"""sigs AS (
       |  SELECT doc_id, sh, ${(0 until MinhashK)
            .map(i => s"${dMinhashSig(i)} AS s$i").mkString(", ")}
       |  FROM (SELECT doc_id, sh,
       |          list_transform(sh, x -> ${dH60("x")} % $MinhashP) hh
       |        FROM (SELECT doc_id, ${dShingles("text")} sh FROM documents))
       |)""".stripMargin

  /** exact + IVF top-5 rankings WITH rank columns (`exr`/`ivfr`) —
    * shared by the qp_rank_tau and qp_ndcg closes (same ANN
    * parameters as qp_ivf_recall). */
  private lazy val ivfExactRankCtes: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) AS nn FROM e0),
       | cent AS (SELECT vec_id AS cent_id, v AS cv, nn AS cn FROM e
       |   WHERE vec_id < 16),
       | cells AS (SELECT vec_id AS n_id, v AS cv2, nn AS cn2, cell FROM (
       |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY ${dDot("e.v", "cent.cv")} / (e.nn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM e CROSS JOIN cent) WHERE r = 1),
       | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
       |   WHERE vec_id >= 100 AND vec_id < 105),
       | probes AS (SELECT q_id, qv, qn, probe FROM (
       |   SELECT q.q_id, q.qv, q.qn, cent.cent_id AS probe,
       |     row_number() OVER (PARTITION BY q.q_id
       |       ORDER BY ${dDot("q.qv", "cent.cv")} / (q.qn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM q CROSS JOIN cent) WHERE r <= 2),
       | ivfr AS (SELECT q_id, n_id, rnk FROM (
       |   SELECT q_id, n_id,
       |     row_number() OVER (PARTITION BY q_id
       |       ORDER BY ${dDot("qv", "cv2")} / (qn * cn2) DESC, n_id) AS rnk
       |   FROM probes JOIN cells ON probe = cell
       |   WHERE q_id <> n_id) WHERE rnk <= 5),
       | exr AS (SELECT q_id, n_id, rnk FROM (
       |   SELECT q.q_id, e.vec_id AS n_id,
       |     row_number() OVER (PARTITION BY q.q_id
       |       ORDER BY ${dDot("q.qv", "e.v")} / (q.qn * e.nn) DESC,
       |         e.vec_id) AS rnk
       |   FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id) WHERE rnk <= 5)"""
      .stripMargin

  /** shared by qp_minhash_pairs and the qp_split_leakage audit (which
    * must report exactly the pairs the dedup operator reports). */
  /** per-document language scores + argmax prediction (shared by the
    * qp_text_langid gate and the confusion-matrix eval): per-lang
    * marker hits via ONE explode + partial-agg groupBy; the per-row
    * HOF form ran 25 interpreted lambda passes per document (A/B at
    * sf0.1: 1.3-2.1 -> 0.67 s) — explode + codegen'd conditional sums
    * is the repo convention for per-row heavy compute. */
  private def langidScored(s: SparkSession, dir: String): DataFrame =
    langidScoredOn(docs(s, dir))

  private def langidScoredOn(d: DataFrame): DataFrame = {
    val scoreCols = langMarkers.map { case (l, ms) =>
      sum(when(col("__t").isin(ms: _*), 1L).otherwise(0L))
        .as(s"${l}_score")
    }
    val scored = graft.ops.Partitioning.spread(d)
      .select(col("doc_id"), col("lang"),
        explode_outer(tokensWs(col("text"))).as("__t"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(scoreCols.head, scoreCols.tail: _*)
    // argmax with deterministic first-wins tiebreak
    val pred = langMarkers.map(_._1).foldRight(lit("und"): Column) {
      case (l, els) =>
        val isMax = langMarkers.map(_._1)
          .map(o => col(s"${l}_score") >= col(s"${o}_score"))
          .reduce(_ && _)
        when(isMax, lit(l)).otherwise(els)
    }
    scored.withColumn("pred", pred)
      .select("doc_id", "lang", "pred", "en_score", "de_score",
        "fr_score", "es_score", "zh_score")
  }

  /** DuckDB replay of the language-ID scoring over any
    * (doc_id, lang, text) source (shared by the gate, which scores
    * the raw `documents`, and the confusion eval, which scores the
    * marker-augmented corpus). */
  private def langidOracleOn(src: String): String = {
    val scoreExprs = langMarkers.map { case (l, ms) =>
      val terms = ms.map(m =>
        s"len(list_filter(tok, x -> x = '$m'))").mkString(" + ")
      s"($terms) AS ${l}_score"
    }.mkString(",\n   ")
    val langs = langMarkers.map(_._1)
    val pred = langs.foldRight("'und'") { case (l, els) =>
      val isMax = langs.map(o => s"${l}_score >= ${o}_score")
        .mkString(" AND ")
      s"CASE WHEN $isMax THEN '$l' ELSE $els END"
    }
    s"""WITH t AS (SELECT doc_id, lang, ${dTokens("text")} tok
       |   FROM ($src)),
       | s AS (SELECT doc_id, lang,
       |   $scoreExprs
       |  FROM t)
       | SELECT doc_id, lang, $pred AS pred,
       |   en_score, de_score, fr_score, es_score, zh_score
       | FROM s ORDER BY doc_id""".stripMargin
  }

  private lazy val langidOracle: String =
    langidOracleOn("SELECT doc_id, lang, text FROM documents")

  /** the confusion eval's marker-augmented corpus — generated from
    * the SAME TextOps.langMarkers constants the engine scores with
    * (seeded-constants rule): 40 + doc_id%7 copies of the target
    * lang's first marker; target = lang except doc_id%10=0 rows take
    * the next lang in the cycle. */
  private lazy val langidAugSrc: String = {
    val langs = langMarkers.map(_._1)
    val firstMarker = langMarkers.map { case (l, ms) => l -> ms.head }
      .toMap
    val nextOf = langs.zip(langs.tail :+ langs.head).toMap
    val nextCase = langs.map(l => s"WHEN '$l' THEN '${nextOf(l)}'")
      .mkString(" ")
    val mkCase = langs.map(l => s"WHEN '$l' THEN '${firstMarker(l)}'")
      .mkString(" ")
    s"""SELECT doc_id, lang, text || repeat(' ' ||
       |   CASE (CASE WHEN doc_id % 10 = 0
       |       THEN CASE lang $nextCase ELSE lang END
       |       ELSE lang END)
       |     $mkCase ELSE '' END,
       |   CAST(40 + doc_id % 7 AS INT)) AS text
       | FROM documents""".stripMargin
  }

  /** brute-force all-pairs exact Jaccard — deliberately NOT
    * prefix-filtered: it proves ppjoin's filters lost nothing, and
    * doubles as the ground truth for the LSH recall eval. */
  private lazy val bruteForcePairsOracle: String =
    s"""WITH t0 AS (SELECT doc_id,
       |   list_distinct(list_transform(${dShingles("text")},
       |     x -> ${dH60("x")})) sh
       |   FROM documents),
       | t AS (SELECT doc_id, sh, len(sh) n FROM t0 WHERE len(sh) > 0)
       | SELECT a_id, b_id, jac FROM (
       |   SELECT a.doc_id a_id, b.doc_id b_id,
       |     round(len(list_intersect(a.sh, b.sh))*1.0 /
       |       (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) jac
       |   FROM t a JOIN t b ON a.doc_id < b.doc_id)
       | WHERE jac >= 0.8 ORDER BY a_id, b_id""".stripMargin

  private lazy val minhashPairsOracle: String = {
    val bandRows = (0 until 4).map { b =>
      val ks = (b * 4 until b * 4 + 4).map(i => s"s$i").mkString(", ")
      s"SELECT doc_id, sh, concat_ws('_', $b, $ks) AS band FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""WITH $sigsCte,
       | bands AS (
       |  $bandRows
       | )
       | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |   round(len(list_intersect(a.sh, b.sh))*1.0 /
       |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
       |   AS jac
       | FROM bands a JOIN bands b
       |   ON a.band = b.band AND a.doc_id < b.doc_id
       | WHERE round(len(list_intersect(a.sh, b.sh))*1.0 /
       |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
       |   >= 0.8
       | ORDER BY a_id, b_id""".stripMargin
  }

  /** two unrolled Lloyd rounds, identical update rule to
    * Similarity.kmeansCentroids (fixed-point exact means, max-cosine
    * assignment) — shared by qp_kmeans and qp_ivf_trained. */
  /** trained-PQ CTE chain (m=2, ksub=4, subDim=32; init = slices of
    * the 4 smallest-id vectors; 2 unrolled Lloyd rounds on the
    * encoder's own `cn2 − 2·dot` assignment rule with lower-code
    * ties; fixed-point micro-unit means; empty cells keep their
    * previous entry) closed by the final encode assignment — shared
    * verbatim by qp_pq_trained and qp_pq_persisted (the registry
    * round-trip must be bit-identical). */
  /** PQ training CTE sub-chain over a (vec_id, v DOUBLE[]) source CTE
    * `src` (p-prefixed CTE names — safe to compose with dKmeansCtes):
    * 2 unrolled Lloyd rounds ending in `paf` (vec_id, s, code). */
  private def pqTrainCtes(src: String): String = {
    val m = 2; val ksub = 4; val subDim = 32
    def dotSub(a: String, b: String) =
      s"list_sum(list_transform(range($subDim), i -> $a[i+1] * $b[i+1]))"
    def sub(v: String, s: String) =
      s"$v[$s*$subDim+1 : $s*$subDim+$subDim]"
    def assign(cbCte: String) =
      s"""SELECT vec_id, v, s, code FROM (
         |   SELECT e.vec_id, e.v, c.s, c.j AS code,
         |     row_number() OVER (PARTITION BY e.vec_id, c.s
         |       ORDER BY ${dotSub("c.ent", "c.ent")}
         |         - 2 * ${dotSub(sub("e.v", "c.s"), "c.ent")} ASC, c.j)
         |       AS r
         |   FROM $src e CROSS JOIN $cbCte c) WHERE r = 1""".stripMargin
    def update(aCte: String) =
      s"""SELECT s, code,
         |   CAST(generate_subscripts(sb, 1) - 1 AS INT) AS i,
         |   unnest(sb) AS x
         | FROM (SELECT s, code, ${sub("v", "s")} AS sb
         |   FROM $aCte)""".stripMargin
    def refit(gCte: String, prev: String) =
      s"""SELECT p.s, p.j, coalesce(n.ent, p.ent) AS ent
         | FROM $prev p LEFT JOIN (SELECT s, code AS j,
         |     list(mv ORDER BY i) AS ent FROM $gCte GROUP BY s, code) n
         |   USING (s, j)""".stripMargin
    s"""pinit AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       |   FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $ksub)),
       | pcb0 AS (SELECT sq.s, pinit.j, ${sub("pinit.v", "sq.s")} AS ent
       |   FROM pinit CROSS JOIN
       |     (SELECT CAST(unnest(range($m)) AS INT) AS s) sq),
       | pa1 AS MATERIALIZED (${assign("pcb0")}),
       | pu1 AS (${update("pa1")}),
       | pg1 AS (SELECT s, code, i,
       |   sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT / (count(*) * 1e6)
       |     AS mv FROM pu1 GROUP BY s, code, i),
       | pcb1 AS (${refit("pg1", "pcb0")}),
       | pa2 AS MATERIALIZED (${assign("pcb1")}),
       | pu2 AS (${update("pa2")}),
       | pg2 AS (SELECT s, code, i,
       |   sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT / (count(*) * 1e6)
       |     AS mv FROM pu2 GROUP BY s, code, i),
       | pcb2 AS (${refit("pg2", "pcb1")}),
       | paf AS (${assign("pcb2")})""".stripMargin
  }

  private val pqTrainedClose: String =
    s"""SELECT vec_id AS n_id,
       |   string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes
       | FROM paf GROUP BY vec_id ORDER BY n_id""".stripMargin

  private lazy val pqTrainedOracle: String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       | ${pqTrainCtes("e0")}
       | $pqTrainedClose""".stripMargin

  private lazy val dKmeansCtes: String = {
    def assign(cent: String) =
      s"""SELECT cell, v FROM (
         |   SELECT e.vec_id, e.v, c.cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "c.cv")} /
         |         (e.nn * sqrt(${dDot("c.cv", "c.cv")})) DESC, c.cell)
         |       AS r
         |   FROM e CROSS JOIN $cent c) WHERE r = 1""".stripMargin
    def update(src: String) =
      s"""SELECT cell,
         |   CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
         |   unnest(v) AS x FROM $src""".stripMargin
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] v
       |   FROM embeddings),
       | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) nn FROM e0),
       | c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e0
       |   WHERE vec_id < 16),
       | a1 AS MATERIALIZED (${assign("c0")}),
       | u1 AS (${update("a1")}),
       | g1 AS (SELECT cell, dim,
       |   sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT
       |     / (count(*) * 1e6) AS m, count(*) AS n
       |   FROM u1 GROUP BY cell, dim),
       | c1 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g1
       |   GROUP BY cell),
       | a2 AS MATERIALIZED (${assign("c1")}),
       | u2 AS (${update("a2")}),
       | g2 AS (SELECT cell, dim,
       |   sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT
       |     / (count(*) * 1e6) AS m, count(*) AS n
       |   FROM u2 GROUP BY cell, dim)""".stripMargin
  }

  /** shared by qp_ivf_topk and qp_ivf_bucketed (identical math +
    * parameters; only the engine-side physical layout differs). */
  /** unigram-tokenizer CTE chain: seed vocab + position-graph edges +
    * 16 relaxation rounds to the Viterbi fixpoint `d16`, generated
    * from the same Scala constants (vocabSize 200, maxPieceLen 4,
    * maxWordLen 16, UNK 25e6); row_number argmin ≡ the compiled
    * expression's (cost, lexicographic seg) rule. Shared by
    * `qp_unigram_segment` and `qp_unigram_em`. */
  private lazy val dUnigramCtes: String = {
    val rounds = (1 to 16).map { t =>
      s"""d$t AS MATERIALIZED (SELECT word, j, cost, seg FROM (
         |   SELECT word, j, cost, seg, row_number() OVER (
         |     PARTITION BY word, j ORDER BY cost, seg) AS rn FROM (
         |     SELECT word, j, cost, seg FROM d${t - 1}
         |     UNION ALL
         |     SELECT e.word, e.j, d.cost + e.cost,
         |       CASE WHEN d.seg = '' THEN e.piece
         |         ELSE d.seg || ' ' || e.piece END
         |     FROM edges e JOIN d${t - 1} d
         |       ON d.word = e.word AND d.j = e.i))
         | WHERE rn = 1)""".stripMargin
    }.mkString(",\n ")
    s"""toks AS (SELECT unnest(${dTokens("text")}) AS word
       |   FROM documents),
       | wf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM toks
       |   WHERE length(word) <= 16 GROUP BY word),
       | cand AS (SELECT word, f, i,
       |     unnest(range(1, least(4, length(word) - i) + 1)) AS l
       |   FROM (SELECT word, f, unnest(range(length(word))) AS i
       |     FROM wf)),
       | cp AS (SELECT word, f, i, l, i + l AS j,
       |     substring(word, i + 1, l) AS piece FROM cand),
       | pc AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM cp
       |   GROUP BY piece),
       | tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM pc),
       | voc AS (SELECT piece,
       |     CAST(round(ln(CAST(c AS DOUBLE) / t) * 1e6) AS BIGINT)
       |       AS sm
       |   FROM pc CROSS JOIN tot ORDER BY c DESC, piece LIMIT 200),
       | edges AS MATERIALIZED (
       |   SELECT cp.word, cp.i, cp.j, cp.piece, -v.sm AS cost
       |   FROM cp JOIN voc v USING (piece)
       |   UNION ALL
       |   SELECT word, i, j, piece, CAST(25000000 AS BIGINT) AS cost
       |   FROM cp WHERE l = 1),
       | d0 AS (SELECT word, 0 AS j, CAST(0 AS BIGINT) AS cost,
       |     '' AS seg FROM wf),
       | $rounds""".stripMargin
  }

  /** WordPiece CTE chain: the `##`-keyed vocab seed plus 16 unrolled
    * greedy longest-match rounds (one LEFT JOIN against the per-(word,
    * position) LONGEST vocab edge per round; an unmatched position
    * collapses the whole word to '[UNK]' — BERT's rule). Generated
    * from the same Scala constants (vocabSize 200, maxPieceLen 4,
    * maxWordLen 16) as `TextOps.wordpieceSegment`. */
  private lazy val dWordpieceCtes: String = {
    val rounds = (1 to 16).map { t =>
      s"""g$t AS MATERIALIZED (SELECT g.word, g.len,
         |   CASE WHEN g.unk OR g.i >= g.len THEN g.i
         |     WHEN e.j IS NULL THEN g.len ELSE e.j END AS i,
         |   CASE WHEN g.unk OR g.i >= g.len THEN g.seg
         |     WHEN e.j IS NULL THEN '[UNK]'
         |     WHEN g.seg = '' THEN e.key
         |     ELSE g.seg || ' ' || e.key END AS seg,
         |   CASE WHEN g.unk OR (g.i < g.len AND e.j IS NULL)
         |     THEN TRUE ELSE FALSE END AS unk
         | FROM g${t - 1} g LEFT JOIN wedges e
         |   ON e.word = g.word AND e.i = g.i)""".stripMargin
    }.mkString(",\n ")
    s"""toks AS (SELECT unnest(${dTokens("text")}) AS word
       |   FROM documents),
       | wf AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM toks
       |   WHERE length(word) <= 16 GROUP BY word),
       | cand AS (SELECT word, f, i,
       |     unnest(range(1, least(4, length(word) - i) + 1)) AS l
       |   FROM (SELECT word, f, unnest(range(length(word))) AS i
       |     FROM wf)),
       | cpk AS (SELECT word, f, i, l, i + l AS j,
       |     CASE WHEN i = 0 THEN substring(word, i + 1, l)
       |       ELSE '##' || substring(word, i + 1, l) END AS key
       |   FROM cand),
       | kc AS (SELECT key, CAST(sum(f) AS BIGINT) AS c FROM cpk
       |   GROUP BY key),
       | voc AS (SELECT key FROM kc ORDER BY c DESC, key LIMIT 200),
       | wedges AS MATERIALIZED (SELECT word, i, j, key FROM (
       |   SELECT cpk.word, cpk.i, cpk.j, cpk.key,
       |     row_number() OVER (PARTITION BY cpk.word, cpk.i
       |       ORDER BY cpk.l DESC) AS rn
       |   FROM cpk JOIN voc USING (key)) WHERE rn = 1),
       | g0 AS (SELECT word, length(word) AS len, 0 AS i, '' AS seg,
       |     FALSE AS unk FROM wf),
       | $rounds""".stripMargin
  }

  private lazy val ivfPqTopKOracle: String =
    s"""WITH $dPqCodesCtes,
       | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) AS nn FROM e0),
       | cent AS (SELECT vec_id AS cent_id, v AS cv, nn AS cn FROM e
       |   WHERE vec_id < 16),
       | cells AS (SELECT vec_id AS n_id, cell FROM (
       |   SELECT e.vec_id, cent.cent_id AS cell,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY ${dDot("e.v", "cent.cv")} / (e.nn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM e CROSS JOIN cent) WHERE r = 1),
       | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
       |   WHERE vec_id >= 100 AND vec_id < 105),
       | probes AS (SELECT q_id, qv, probe FROM (
       |   SELECT q.q_id, q.qv, cent.cent_id AS probe,
       |     row_number() OVER (PARTITION BY q.q_id
       |       ORDER BY ${dDot("q.qv", "cent.cv")} / (q.qn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM q CROSS JOIN cent) WHERE r <= 2),
       | cand AS (SELECT p.q_id, p.qv, c.n_id FROM probes p JOIN cells c
       |   ON p.probe = c.cell WHERE p.q_id <> c.n_id),
       | terms AS (SELECT cand.q_id, cand.n_id, cd.s,
       |   ${dPqQn2("cand.qv", "cd.s")}
       |     - 2*${dPqDot("cand.qv", "cd.s", "cb.cv")} + cb.cn2 AS t
       |   FROM cand JOIN codes cd ON cd.vec_id = cand.n_id
       |     JOIN cb ON cb.s = cd.s AND cb.j = cd.code),
       | dists AS (SELECT q_id, n_id, list_sum(list(t ORDER BY s)) AS dist
       |   FROM terms GROUP BY q_id, n_id),
       | ranked AS (SELECT q_id, n_id, dist, row_number() OVER (
       |   PARTITION BY q_id ORDER BY dist, n_id) AS rnk FROM dists)
       | SELECT q_id, n_id, round(dist, 6) AS dist, rnk FROM ranked
       | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private lazy val ivfTopKOracle: String =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) AS nn FROM e0),
       | cent AS (SELECT vec_id AS cent_id, v AS cv, nn AS cn FROM e
       |   WHERE vec_id < 16),
       | cells AS (SELECT vec_id AS n_id, v AS cv2, nn AS cn2, cell FROM (
       |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
       |     row_number() OVER (PARTITION BY e.vec_id
       |       ORDER BY ${dDot("e.v", "cent.cv")} / (e.nn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM e CROSS JOIN cent) WHERE r = 1),
       | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
       |   WHERE vec_id >= 100 AND vec_id < 105),
       | probes AS (SELECT q_id, qv, qn, probe FROM (
       |   SELECT q.q_id, q.qv, q.qn, cent.cent_id AS probe,
       |     row_number() OVER (PARTITION BY q.q_id
       |       ORDER BY ${dDot("q.qv", "cent.cv")} / (q.qn * cent.cn) DESC,
       |         cent.cent_id) AS r
       |   FROM q CROSS JOIN cent) WHERE r <= 2),
       | scored AS (
       |   SELECT q_id, n_id, ${dDot("qv", "cv2")} / (qn * cn2) AS c,
       |     row_number() OVER (PARTITION BY q_id
       |       ORDER BY ${dDot("qv", "cv2")} / (qn * cn2) DESC, n_id) AS rnk
       |   FROM probes JOIN cells ON probe = cell
       |   WHERE q_id <> n_id)
       | SELECT q_id, n_id, round(c, 6) AS cos, rnk FROM scored
       | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "qp_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep
        | FROM (SELECT doc_id, text FROM documents
        |       UNION ALL SELECT doc_id, text FROM documents WHERE doc_id < 50)
        | GROUP BY 1 HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "qp_dedup_normalized" ->
      // same cosmetic mutation + the normalizeText rule (lower, strip
      // non-alnum, collapse whitespace, trim); DuckDB regexp_replace
      // needs the explicit 'g' flag Spark applies by default
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |   UNION ALL SELECT doc_id + 100000,
         |     upper(substring(text, 1, 10)) || substring(text, 11)
         |       || '!!  '
         |   FROM documents WHERE doc_id < 50),
         | c AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |     lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))
         |     AS t FROM u)
         | SELECT md5(t) AS h, CAST(count(*) AS BIGINT) AS n,
         |   min(doc_id) AS keep
         | FROM c GROUP BY 1 HAVING count(*) > 1 ORDER BY h""".stripMargin,
    "qp_dedup_keep_best" ->
      """WITH u AS (SELECT doc_id, text, source FROM documents
        |   UNION ALL SELECT doc_id + 100000, text, 'src9'
        |     FROM documents WHERE doc_id < 80),
        | r AS (SELECT doc_id, source,
        |     row_number() OVER (PARTITION BY text
        |       ORDER BY CAST(substr(source, 4) AS INT), doc_id) AS rn,
        |     count(*) OVER (PARTITION BY text) AS n_copies
        |   FROM u)
        | SELECT doc_id, source, n_copies FROM r WHERE rn = 1
        | ORDER BY doc_id""".stripMargin,
    "qp_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS ds FROM documents),
         | d AS (SELECT doc_id, len(ds) AS l,
         |     len(list_filter(ds, x -> x = 'spark')) AS tf0,
         |     len(list_filter(ds, x -> x = 'stream')) AS tf1,
         |     len(list_filter(ds, x -> x = 'join')) AS tf2
         |   FROM t WHERE len(ds) > 0),
         | s AS (SELECT count(*) AS n, avg(l) AS avgdl,
         |     sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |     sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |     sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |   FROM d),
         | sc AS (SELECT doc_id,
         |     ${dBm25Term(0)} + ${dBm25Term(1)} + ${dBm25Term(2)} AS score
         |   FROM d CROSS JOIN s)
         | SELECT doc_id, round(score, 6) AS bm25 FROM sc
         | WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "qp_bm25_bucketed" ->
      // identical oracle again: the on-disk bucketed path is the third
      // physical layout under the same logical contract
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS ds FROM documents),
         | d AS (SELECT doc_id, len(ds) AS l,
         |     len(list_filter(ds, x -> x = 'spark')) AS tf0,
         |     len(list_filter(ds, x -> x = 'stream')) AS tf1,
         |     len(list_filter(ds, x -> x = 'join')) AS tf2
         |   FROM t WHERE len(ds) > 0),
         | s AS (SELECT count(*) AS n, avg(l) AS avgdl,
         |     sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |     sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |     sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |   FROM d),
         | sc AS (SELECT doc_id,
         |     ${dBm25Term(0)} + ${dBm25Term(1)} + ${dBm25Term(2)} AS score
         |   FROM d CROSS JOIN s)
         | SELECT doc_id, round(score, 6) AS bm25 FROM sc
         | WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "qp_bm25_indexed" ->
      // IDENTICAL oracle to qp_bm25_topk: the index-served path must
      // reproduce the scan path's ranking exactly — that equality IS
      // what this query verifies
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS ds FROM documents),
         | d AS (SELECT doc_id, len(ds) AS l,
         |     len(list_filter(ds, x -> x = 'spark')) AS tf0,
         |     len(list_filter(ds, x -> x = 'stream')) AS tf1,
         |     len(list_filter(ds, x -> x = 'join')) AS tf2
         |   FROM t WHERE len(ds) > 0),
         | s AS (SELECT count(*) AS n, avg(l) AS avgdl,
         |     sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |     sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |     sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |   FROM d),
         | sc AS (SELECT doc_id,
         |     ${dBm25Term(0)} + ${dBm25Term(1)} + ${dBm25Term(2)} AS score
         |   FROM d CROSS JOIN s)
         | SELECT doc_id, round(score, 6) AS bm25 FROM sc
         | WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "qp_bm25_appended" ->
      // IDENTICAL oracle to qp_bm25_topk: build-half + append-half
      // must reproduce the full-rebuild ranking exactly — that
      // equality IS what this query verifies
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS ds FROM documents),
         | d AS (SELECT doc_id, len(ds) AS l,
         |     len(list_filter(ds, x -> x = 'spark')) AS tf0,
         |     len(list_filter(ds, x -> x = 'stream')) AS tf1,
         |     len(list_filter(ds, x -> x = 'join')) AS tf2
         |   FROM t WHERE len(ds) > 0),
         | s AS (SELECT count(*) AS n, avg(l) AS avgdl,
         |     sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         |     sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         |     sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
         |   FROM d),
         | sc AS (SELECT doc_id,
         |     ${dBm25Term(0)} + ${dBm25Term(1)} + ${dBm25Term(2)} AS score
         |   FROM d CROSS JOIN s)
         | SELECT doc_id, round(score, 6) AS bm25 FROM sc
         | WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "qp_minhash_sig" ->
      s"""WITH base AS (SELECT doc_id, ${dShingles("text")} sh
         |   FROM documents WHERE doc_id < 100),
         | hashed AS (SELECT doc_id,
         |   list_transform(sh, x -> ${dH60("x")} % $MinhashP) hh FROM base)
         | SELECT doc_id, ${(0 until MinhashK)
              .map(i => s"${dMinhashSig(i)} AS s$i").mkString(", ")}
         | FROM hashed ORDER BY doc_id""".stripMargin,
    "qp_minhash_pairs" -> minhashPairsOracle,
    "qp_minhash_blocked" -> {
      // the block key on the band bucket only restricts candidates to
      // same-block pairs; within a block, collisions equal the
      // unblocked ones — so the replay is the qp_minhash_pairs CTE
      // chain with a lang-agreement join on the documents table.
      // IS NOT DISTINCT FROM: the engine's block key is struct(lang),
      // whose equality groups NULL langs into ONE block — a plain
      // equality join would silently drop them
      val bandRows = (0 until 4).map { b =>
        val ks = (b * 4 until b * 4 + 4).map(i => s"s$i").mkString(", ")
        s"SELECT doc_id, sh, concat_ws('_', $b, $ks) AS band FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""WITH $sigsCte,
         | bands AS (
         |  $bandRows
         | )
         | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |   round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   AS jac
         | FROM bands a JOIN bands b
         |   ON a.band = b.band AND a.doc_id < b.doc_id
         | JOIN documents da ON da.doc_id = a.doc_id
         | JOIN documents db ON db.doc_id = b.doc_id
         |   AND da.lang IS NOT DISTINCT FROM db.lang
         | WHERE round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   >= 0.8
         | ORDER BY a_id, b_id""".stripMargin
    },
    "qp_minhash_capped" -> {
      // the blocked replay + the hot-bucket cap: bucket identity is
      // (lang, band); buckets with more than 20 members are dropped
      // before the candidate join, exactly the engine's maxBucket rule
      val bandRows = (0 until 4).map { b =>
        val ks = (b * 4 until b * 4 + 4).map(i => s"s$i").mkString(", ")
        s"""SELECT s.doc_id, s.sh, d.lang,
           |    concat_ws('_', $b, $ks) AS band
           |  FROM sigs s JOIN documents d ON d.doc_id = s.doc_id"""
          .stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $sigsCte,
         | bands AS (
         |  $bandRows
         | ),
         | kept AS (
         |  SELECT * FROM bands QUALIFY
         |    count(*) OVER (PARTITION BY lang, band) <= 20
         | )
         | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |   round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   AS jac
         | FROM kept a JOIN kept b
         |   ON a.band = b.band
         |     AND a.lang IS NOT DISTINCT FROM b.lang
         |     AND a.doc_id < b.doc_id
         | WHERE round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   >= 0.8
         | ORDER BY a_id, b_id""".stripMargin
    },
    "qp_dedup_incremental" -> {
      // the batch-vs-index probe must equal full-batch LSH pairs
      // restricted to the split: same signature/band CTEs as
      // qp_minhash_pairs with the cross-side join condition
      val bandRows = (0 until 4).map { b =>
        val ks = (b * 4 until b * 4 + 4).map(i => s"s$i").mkString(", ")
        s"SELECT doc_id, sh, concat_ws('_', $b, $ks) AS band FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""WITH $sigsCte,
         | bands AS (
         |  $bandRows
         | )
         | SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |   round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   AS jac
         | FROM bands a JOIN bands b
         |   ON a.band = b.band AND a.doc_id < 250 AND b.doc_id >= 250
         | WHERE round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |   >= 0.8
         | ORDER BY a_id, b_id""".stripMargin
    },
    "qp_pipeline_funnel" -> {
      val bandRows = (0 until 4).map { b =>
        val ks = (b * 4 until b * 4 + 4).map(i => s"s$i").mkString(", ")
        s"SELECT doc_id, sh, concat_ws('_', $b, $ks) AS band FROM sigs"
      }.mkString("\n  UNION ALL ")
      s"""WITH input AS MATERIALIZED (
         |   SELECT doc_id, text FROM documents
         |   UNION ALL SELECT doc_id, text FROM documents WHERE doc_id < 50),
         | exact AS MATERIALIZED (
         |   SELECT min(doc_id) AS doc_id FROM input GROUP BY md5(text)),
         | $sigsCte,
         | bands AS MATERIALIZED (
         |  $bandRows
         | ),
         | drops AS MATERIALIZED (
         |   SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
         |     ON a.band = b.band AND a.doc_id < b.doc_id
         |   WHERE round(len(list_intersect(a.sh, b.sh))*1.0 /
         |     (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         |     >= 0.8),
         | near AS MATERIALIZED (
         |   SELECT e.doc_id FROM exact e
         |   WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)),
         | quality AS MATERIALIZED (
         |   SELECT n.doc_id FROM near n JOIN documents d USING (doc_id)
         |   WHERE len(list_filter(${dTokens("d.text")},
         |       x -> list_contains($dStopList, x))) * 1.0
         |     / len(${dTokens("d.text")}) <= 0.4
         |     AND len(${dTokens("d.text")}) >= 20)
         | SELECT (SELECT count(*) FROM input) AS n_input,
         |   (SELECT count(*) FROM exact) AS n_exact,
         |   (SELECT count(*) FROM near) AS n_near,
         |   (SELECT count(*) FROM quality) AS n_quality""".stripMargin
    },
    "qp_dedup_clusters" ->
      s"""WITH $dClusterCtes
         | SELECT lbl AS cluster, count(*) AS n_members FROM l10
         | GROUP BY lbl ORDER BY cluster""".stripMargin,
    "qp_soft_dedup" ->
      // same converged-label CTEs; docs outside every pair are their
      // own singleton cluster at full weight
      s"""WITH $dClusterCtes,
         | sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n FROM l10
         |   GROUP BY lbl),
         | m AS (SELECT l10.id, l10.lbl, sz.n FROM l10
         |   JOIN sz ON sz.lbl = l10.lbl)
         | SELECT d.doc_id AS id,
         |   CAST(coalesce(m.lbl, d.doc_id) AS BIGINT) AS cluster,
         |   CAST(coalesce(m.n, 1) AS BIGINT) AS n_members,
         |   CAST(1000000 // coalesce(m.n, 1) AS BIGINT) AS weight_micro
         | FROM documents d LEFT JOIN m ON m.id = d.doc_id
         | ORDER BY id""".stripMargin,
    "qp_source_overlap" ->
      s"""WITH tok AS (SELECT source, ${dTokens("text")} tok
         |   FROM documents),
         | g0 AS (SELECT source, unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM tok),
         | g AS (SELECT DISTINCT source, gram FROM g0),
         | t AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g
         |   GROUP BY source)
         | SELECT a.source AS a_source, b.source AS b_source,
         |   CAST(count(*) AS BIGINT) AS shared_grams,
         |   any_value(ta.n) AS a_grams, any_value(tb.n) AS b_grams,
         |   CAST(count(*) * 1000000 // (any_value(ta.n)
         |     + any_value(tb.n) - count(*)) AS BIGINT) AS jaccard_micro,
         |   CAST(count(*) * 1000000
         |     // least(any_value(ta.n), any_value(tb.n)) AS BIGINT)
         |     AS containment_micro
         | FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         | JOIN t ta ON ta.source = a.source
         | JOIN t tb ON tb.source = b.source
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "qp_dedup_keep_quality" ->
      // the two trained stages composed: member-level near-dup labels
      // (same CTEs as qp_dedup_clusters) × the trained LR quality
      // model (same CTEs as qp_lr_train) — per cluster keep the
      // best-scoring member, ties to the lower doc_id
      s"""$dLrCtes,
         | $dClusterCtes,
         | qsc AS (SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w3 WHERE b = 32) AS score
         |   FROM fx f JOIN w3 w USING (b) GROUP BY 1),
         | r AS (SELECT l.lbl AS cluster, l.id, qsc.score,
         |     row_number() OVER (PARTITION BY l.lbl
         |       ORDER BY qsc.score DESC, l.id) AS rk,
         |     count(*) OVER (PARTITION BY l.lbl) AS nm
         |   FROM l10 l JOIN qsc ON qsc.doc_id = l.id)
         | SELECT cluster, nm AS n_members, id AS keep_id,
         |   score AS best_score
         | FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "qp_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, ${dTokens("text")} tok
         |   FROM documents),
         | g AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM tok),
         | ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
         | SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
         | FROM g JOIN ev USING (gram) WHERE g.doc_id >= 20
         | GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "qp_contamination" ->
      s"""WITH tok AS (SELECT doc_id, ${dTokens("text")} tok
         |   FROM documents),
         | g AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM tok),
         | ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
         | j AS (SELECT g.doc_id, g.gram,
         |     CASE WHEN ev.gram IS NOT NULL THEN 1 END AS hit
         |   FROM g LEFT JOIN ev USING (gram) WHERE g.doc_id >= 20)
         | SELECT doc_id, count(DISTINCT gram) AS n_grams,
         |   count(DISTINCT CASE WHEN hit = 1 THEN gram END) AS n_shared,
         |   round(count(DISTINCT CASE WHEN hit = 1 THEN gram END) * 1.0
         |     / count(DISTINCT gram), 6) AS contamination
         | FROM j GROUP BY 1 HAVING n_shared > 0
         | ORDER BY doc_id""".stripMargin,
    "qp_bloom_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, ${dTokens("text")} tok
         |   FROM documents),
         | g AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM tok),
         | cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 20),
         | eg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
         | pos AS (SELECT DISTINCT (h1 + i * h2) % 4096 AS p
         |   FROM (SELECT ${dH60("gram")} AS h1,
         |       ${dH60("gram || '#2'")} AS h2 FROM eg), range(3) t(i)),
         | probe AS (SELECT doc_id, gram,
         |     sum(CASE WHEN pos.p IS NOT NULL THEN 1 ELSE 0 END) AS nset
         |   FROM (SELECT doc_id, gram, (h1 + i * h2) % 4096 AS p
         |     FROM (SELECT doc_id, gram, ${dH60("gram")} AS h1,
         |         ${dH60("gram || '#2'")} AS h2 FROM cg), range(3) t(i))
         |   LEFT JOIN pos USING (p) GROUP BY doc_id, gram),
         | ex AS (SELECT doc_id, gram, 1 AS hit FROM cg JOIN eg USING (gram))
         | SELECT probe.doc_id,
         |   CAST(count(CASE WHEN nset = 3 THEN 1 END) AS BIGINT) AS n_bloom,
         |   CAST(count(ex.hit) AS BIGINT) AS n_exact
         | FROM probe LEFT JOIN ex USING (doc_id, gram)
         | GROUP BY 1 HAVING n_bloom > 0
         | ORDER BY doc_id""".stripMargin,
    "qp_dsir_weights" ->
      s"""$dDsirCtes
         | SELECT doc_id, is_target, CAST(sum(n) AS BIGINT) AS n_features,
         |   CAST(sum(n * lr) AS BIGINT) AS logw_micro
         | FROM db JOIN lr USING (b) GROUP BY 1, 2
         | ORDER BY doc_id""".stripMargin,
    "qp_dsir_select" ->
      s"""$dDsirCtes,
         | w AS (SELECT doc_id, is_target,
         |     CAST(sum(n * lr) AS BIGINT) AS logw_micro
         |   FROM db JOIN lr USING (b) GROUP BY 1, 2)
         | SELECT doc_id, logw_micro FROM w WHERE NOT is_target
         | ORDER BY logw_micro DESC, doc_id LIMIT 50""".stripMargin,
    "qp_lr_train" ->
      s"""$dLrCtes
         | SELECT b, w AS w_micro FROM w3 ORDER BY b""".stripMargin,
    "qp_lr_calibration" ->
      s"""$dLrCtes,
         | sc AS (SELECT f.doc_id, f.y, CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w3 WHERE b = 32) AS s
         |   FROM fx f JOIN w3 w USING (b) GROUP BY 1, 2),
         | calib AS (SELECT
         |     CAST(floor(CAST(s AS DOUBLE) / 2000000) AS BIGINT)
         |       AS bucket,
         |     CAST(count(*) AS BIGINT) AS n_docs,
         |     CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
         |       AS n_target
         |   FROM sc GROUP BY 1)
         | SELECT bucket, n_docs, n_target,
         |   CAST(n_target * 1000000 // n_docs AS BIGINT)
         |     AS target_rate_micro
         | FROM calib ORDER BY bucket""".stripMargin,
    "qp_lr_select" ->
      s"""$dLrCtes,
         | sc AS (SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w3 WHERE b = 32) AS score_raw
         |   FROM fx f JOIN w3 w USING (b) WHERE NOT f.y GROUP BY 1)
         | SELECT doc_id, score_raw FROM sc
         | ORDER BY score_raw DESC, doc_id LIMIT 50""".stripMargin,
    "qp_lr_persist_score" ->
      // same unrolled-training oracle as qp_lr_select: the persisted
      // model loads back bit-identically, so scoring with the loaded
      // artifact MUST reproduce the fresh-trained selection exactly —
      // that equality is the round-trip guarantee under test
      s"""$dLrCtes,
         | sc AS (SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w3 WHERE b = 32) AS score_raw
         |   FROM fx f JOIN w3 w USING (b) WHERE NOT f.y GROUP BY 1)
         | SELECT doc_id, score_raw FROM sc
         | ORDER BY score_raw DESC, doc_id LIMIT 50""".stripMargin,
    "qp_stratified_sample" ->
      s"""SELECT lang, count(*) AS kept FROM documents
         | WHERE ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} % 10000
         |   < (CASE WHEN lang = 'en' THEN 0.5
         |           WHEN lang = 'de' THEN 0.25 ELSE 0.1 END) * 10000
         | GROUP BY lang ORDER BY lang""".stripMargin,
    "qp_fuzzy_match" ->
      // brute-force all-pairs levenshtein — proves the deletion-key
      // candidate generation lost nothing at distance <= 1
      s"""WITH tk AS (SELECT DISTINCT unnest(${dTokens("text")}) AS tok
         |   FROM documents),
         | q0 AS (SELECT tok FROM tk WHERE length(tok) >= 5
         |   ORDER BY tok LIMIT 12),
         | qd AS (SELECT DISTINCT substring(tok, 1, 2) ||
         |     substring(tok, 4) AS q FROM q0),
         | cand AS (SELECT q, tok, levenshtein(q, tok) AS d
         |   FROM qd CROSS JOIN tk)
         | SELECT q, matched, dist FROM (
         |   SELECT q, tok AS matched, CAST(d AS INT) AS dist,
         |     row_number() OVER (PARTITION BY q ORDER BY d, tok) AS rn
         |   FROM cand WHERE d <= 1) WHERE rn = 1
         | ORDER BY q""".stripMargin,
    "qp_train_split" ->
      s"""WITH b AS (SELECT lang,
         |   ${dH60("'split:' || lang || ':' || CAST(doc_id AS VARCHAR)")}
         |     % 100 AS bk
         |  FROM documents)
         | SELECT lang,
         |   CASE WHEN bk < 90 THEN 'train'
         |        WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
         |   CAST(count(*) AS BIGINT) AS n
         | FROM b GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "qp_split_leakage" ->
      // the minhash-pair oracle as a derived table, each endpoint
      // joined to the same split rule qp_train_split uses — exactly
      // the dedup operator's pairs, filtered to cross-split
      s"""WITH sp AS (SELECT doc_id,
         |   CASE WHEN bk < 90 THEN 'train'
         |        WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |   ${dH60("'split:' || lang || ':' || CAST(doc_id AS VARCHAR)")}
         |     % 100 AS bk FROM documents))
         | SELECT p.a_id, p.b_id, sa.split AS a_split,
         |   sb.split AS b_split, p.jac
         | FROM ($minhashPairsOracle) p
         | JOIN sp sa ON p.a_id = sa.doc_id
         | JOIN sp sb ON p.b_id = sb.doc_id
         | WHERE sa.split <> sb.split
         | ORDER BY a_id, b_id""".stripMargin,
    // the split rule + the minhash-pair oracle + the SHARED unrolled
    // min-label replay + the representative's split coalesced back
    "qp_split_coassign" ->
      s"""WITH sp AS (SELECT doc_id,
         |   CASE WHEN bk < 90 THEN 'train'
         |        WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |   ${dH60("'split:' || lang || ':' || CAST(doc_id AS VARCHAR)")}
         |     % 100 AS bk FROM documents)),
         | p AS MATERIALIZED (SELECT a_id AS a, b_id AS b
         |   FROM ($minhashPairsOracle)),
         | u AS MATERIALIZED (SELECT a, b FROM p
         |   UNION ALL SELECT b, a FROM p),
         | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
         | ${minLabelRoundsSql(10)},
         | reps AS (SELECT l10.id, spr.split AS rs FROM l10
         |   JOIN sp spr ON spr.doc_id = l10.lbl)
         | SELECT d.doc_id AS doc_id,
         |   coalesce(reps.rs, sp.split) AS split
         | FROM documents d
         | JOIN sp ON sp.doc_id = d.doc_id
         | LEFT JOIN reps ON reps.id = d.doc_id
         | ORDER BY d.doc_id""".stripMargin,
    "qp_exact_substring" ->
      // window key = pair of sums of two independent per-token hashes,
      // identical construction to Dedup.sharedWindowCounts
      s"""WITH tok AS (SELECT doc_id,
         |   list_transform(${dTokens("text")},
         |     x -> ${dH60("x")} % ${graft.ops.Dedup.WindowHashMod}) h1,
         |   list_transform(${dTokens("text")},
         |     x -> ${dH60("x || '#2'")} % ${graft.ops.Dedup.WindowHashMod}) h2
         |   FROM documents),
         | w AS (SELECT DISTINCT doc_id, s1, s2 FROM (
         |   SELECT doc_id,
         |     unnest(list_transform(range(len(h1) - 19),
         |       i -> list_sum(list_slice(h1, i + 1, i + 20)))) AS s1,
         |     unnest(list_transform(range(len(h1) - 19),
         |       i -> list_sum(list_slice(h2, i + 1, i + 20)))) AS s2
         |   FROM tok WHERE len(h1) >= 20)),
         | s AS (SELECT s1, s2 FROM (
         |   SELECT s1, s2, count(*) AS nd FROM w GROUP BY s1, s2)
         |   WHERE nd > 1)
         | SELECT doc_id, count(*) AS n_shared FROM w
         | JOIN s USING (s1, s2)
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "qp_span_removal" ->
      // same window-key construction as qp_exact_substring, extended
      // with position-level coverage and ordered reassembly
      s"""WITH tok AS (SELECT doc_id, ${dTokens("text")} AS ds,
         |   list_transform(${dTokens("text")},
         |     x -> ${dH60("x")} % ${graft.ops.Dedup.WindowHashMod}) h1,
         |   list_transform(${dTokens("text")},
         |     x -> ${dH60("x || '#2'")} % ${graft.ops.Dedup.WindowHashMod}) h2
         |   FROM documents),
         | w AS (SELECT doc_id, p,
         |     list_sum(list_slice(h1, p + 1, p + 20)) AS s1,
         |     list_sum(list_slice(h2, p + 1, p + 20)) AS s2
         |   FROM (SELECT doc_id, h1, h2, unnest(range(len(h1) - 19)) AS p
         |     FROM tok WHERE len(h1) >= 20)),
         | s AS (SELECT s1, s2 FROM (
         |   SELECT s1, s2, count(*) AS nd
         |   FROM (SELECT DISTINCT doc_id, s1, s2 FROM w) GROUP BY s1, s2)
         |   WHERE nd > 1),
         | cov AS (SELECT DISTINCT doc_id, unnest(range(p, p + 20)) AS cp
         |   FROM w JOIN s USING (s1, s2)),
         | pos AS (SELECT doc_id, unnest(range(len(ds))) AS p FROM tok),
         | kept AS (SELECT pos.doc_id, pos.p, tok.ds[pos.p + 1] AS tk
         |   FROM pos JOIN tok USING (doc_id)
         |   WHERE NOT EXISTS (SELECT 1 FROM cov
         |     WHERE cov.doc_id = pos.doc_id AND cov.cp = pos.p)),
         | cln AS (SELECT doc_id, count(*) AS n_kept,
         |     string_agg(tk, ' ' ORDER BY p) AS cleaned
         |   FROM kept GROUP BY doc_id),
         | tot AS (SELECT doc_id, len(ds) AS n_tokens FROM tok
         |   WHERE len(ds) > 0)
         | SELECT t.doc_id, t.n_tokens,
         |   t.n_tokens - coalesce(c.n_kept, 0) AS n_removed,
         |   coalesce(c.cleaned, '') AS cleaned
         | FROM tot t LEFT JOIN cln c USING (doc_id)
         | WHERE t.n_tokens - coalesce(c.n_kept, 0) > 0
         | ORDER BY doc_id""".stripMargin,
    "qp_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         | t AS (SELECT sum(n) AS tot, sum(pow(n, 0.5)) AS z FROM c),
         | r AS (SELECT lang, round(least(1.0,
         |     pow(n, 0.5) / z * 0.3 * tot / n), 6) AS rate FROM c, t)
         | SELECT d.lang, count(*) AS kept
         | FROM documents d JOIN r USING (lang)
         | WHERE ${dH60("d.lang || ':' || CAST(d.doc_id AS VARCHAR)")} % 10000
         |   < rate * 10000
         | GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "qp_epoch_shuffle" ->
      s"""SELECT doc_id, shard, pos FROM (
         |   SELECT doc_id, CAST(h % 8 AS INT) AS shard,
         |     row_number() OVER (PARTITION BY h % 8
         |       ORDER BY h, doc_id) AS pos
         |   FROM (SELECT doc_id,
         |     ${dH60("'7:' || CAST(doc_id AS VARCHAR)")} AS h
         |     FROM documents))
         | ORDER BY doc_id""".stripMargin,
    "qp_cap_per_source" ->
      """SELECT doc_id, source, n_chars FROM (
        |   SELECT doc_id, source, n_chars,
        |     row_number() OVER (PARTITION BY source
        |       ORDER BY n_chars DESC, doc_id) AS r
        |   FROM documents) WHERE r <= 10
        | ORDER BY doc_id""".stripMargin,
    "qp_seq_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, len(${dTokens("text")}) nt
         |   FROM documents),
         | c AS (SELECT doc_id, lang, nt,
         |   sum(nt) OVER (PARTITION BY lang ORDER BY doc_id) cum FROM t)
         | SELECT lang, CAST(floor((cum - nt) / 512.0) AS BIGINT) AS bin,
         |   count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens,
         |   min(doc_id) AS first_doc, max(doc_id) AS last_doc
         | FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
    "qp_simhash" ->
      s"""SELECT doc_id, ${dSimhash("hs")} AS simhash
         | FROM (SELECT doc_id, list_transform(${dTokens("text")},
         |         t -> ${dH60("t")} % 4294967296) hs
         |       FROM documents WHERE doc_id < 100)
         | ORDER BY doc_id""".stripMargin,
    "qp_simhash_pairs" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, ${dSimhash("hs")} AS sh
         |  FROM (SELECT doc_id, lang, list_transform(${dTokens("text")},
         |          t -> ${dH60("t")} % 4294967296) hs FROM documents))
         | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |   bit_count(xor(a.sh, b.sh)) AS dist
         | FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.sh, b.sh)) <= 4
         | ORDER BY a_id, b_id""".stripMargin,
    "qp_ppjoin_pairs" -> bruteForcePairsOracle,
    "qp_ppjoin_blocked" ->
      // brute force WITHIN blocks: the blocked join's exactness
      // contract is no-false-negatives inside each lang block
      s"""WITH t0 AS (SELECT doc_id, lang,
         |   list_distinct(list_transform(${dShingles("text")},
         |     x -> ${dH60("x")})) sh
         |   FROM documents),
         | t AS (SELECT doc_id, lang, sh, len(sh) n
         |   FROM t0 WHERE len(sh) > 0)
         | SELECT a_id, b_id, jac FROM (
         |   SELECT a.doc_id a_id, b.doc_id b_id,
         |     round(len(list_intersect(a.sh, b.sh))*1.0 /
         |       (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) jac
         |   FROM t a JOIN t b
         |     ON a.lang = b.lang AND a.doc_id < b.doc_id)
         | WHERE jac >= 0.8 ORDER BY a_id, b_id""".stripMargin,
    "qp_lsh_recall" ->
      // pair completeness of banded LSH against the brute-force
      // truth — both sides replayed from their own oracles
      s"""WITH tru AS MATERIALIZED (SELECT a_id, b_id
         |   FROM ($bruteForcePairsOracle)),
         | app AS MATERIALIZED (SELECT a_id, b_id
         |   FROM ($minhashPairsOracle))
         | SELECT t.n_true, f.n_found, l.n_lsh,
         |   CASE WHEN t.n_true = 0 THEN NULL
         |     ELSE CAST(f.n_found * 1000000 // t.n_true AS BIGINT)
         |   END AS recall_micro
         | FROM (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru) t
         | CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_found
         |   FROM tru JOIN app USING (a_id, b_id)) f
         | CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_lsh
         |   FROM app) l""".stripMargin,
    "qp_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |   CAST(floor(n_chars / 20) AS INT) lb,
         |   list_distinct(list_transform(${dShingles("text")},
         |     x -> ${dH60("x")})) sh
         |   FROM documents)
         | SELECT a_id, b_id, jac FROM (
         |   SELECT a.doc_id a_id, b.doc_id b_id,
         |     round(len(list_intersect(a.sh, b.sh))*1.0 /
         |       (len(a.sh)+len(b.sh)-len(list_intersect(a.sh, b.sh))), 6) jac
         |   FROM t a JOIN t b ON a.lang = b.lang AND a.lb = b.lb
         |     AND a.doc_id < b.doc_id)
         | WHERE jac >= 0.8 ORDER BY a_id, b_id""".stripMargin,
    "qp_containment_pairs" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |   list_distinct(list_transform(${dShingles("text")},
         |     x -> ${dH60("x")})) sh
         |   FROM documents)
         | SELECT a_id, b_id, containment FROM (
         |   SELECT a.doc_id a_id, b.doc_id b_id,
         |     round(len(list_intersect(a.sh, b.sh))*1.0 /
         |       least(len(a.sh), len(b.sh)), 6) containment
         |   FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         | WHERE containment >= 0.9 ORDER BY a_id, b_id""".stripMargin,
    "qp_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         | scored AS (
         |   SELECT q.q_id, e.vec_id AS n_id, ${dCos("qv", "v")} AS c,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dCos("qv", "v")} DESC, e.vec_id) AS rnk
         |   FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
         | SELECT q_id, n_id, round(c, 6) AS cos, rnk FROM scored
         | WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "qp_bitext_mine" ->
      // margin denominators sum 6-dp-rounded cosines as exact
      // micro-unit integers (k-term double sums would be order-
      // sensitive); the margin is one double division of those
      // integers; ranking reads the unrounded cosine with the same
      // fold order as VectorDot (the qp_ann_topk precedent)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | x AS (SELECT vec_id AS x_id, v AS xv FROM e WHERE vec_id % 2 = 0),
         | y AS (SELECT vec_id AS y_id, v AS yv FROM e WHERE vec_id % 2 = 1),
         | s AS (SELECT x_id, y_id, ${dCos("xv", "yv")} AS c
         |   FROM x CROSS JOIN y),
         | f AS (SELECT x_id, y_id, c, row_number() OVER (
         |     PARTITION BY x_id ORDER BY c DESC, y_id) AS rnk FROM s),
         | bk AS (SELECT x_id, y_id, c, row_number() OVER (
         |     PARTITION BY y_id ORDER BY c DESC, x_id) AS rnk FROM s),
         | fsum AS (SELECT x_id,
         |     sum(CAST(round(round(c, 6) * 1e6, 0) AS BIGINT)) AS fs
         |   FROM f WHERE rnk <= 4 GROUP BY x_id),
         | bsum AS (SELECT y_id,
         |     sum(CAST(round(round(c, 6) * 1e6, 0) AS BIGINT)) AS bs
         |   FROM bk WHERE rnk <= 4 GROUP BY y_id),
         | cand AS (SELECT f.x_id, f.y_id, round(f.c, 6) AS cos,
         |     round(CAST(CAST(round(round(f.c, 6) * 1e6, 0) AS BIGINT)
         |         * 8 AS DOUBLE) / CAST(fsum.fs + bsum.bs AS DOUBLE), 6)
         |       AS margin
         |   FROM f JOIN fsum ON fsum.x_id = f.x_id
         |   JOIN bsum ON bsum.y_id = f.y_id
         |   WHERE f.rnk <= 4 AND fsum.fs + bsum.bs > 0),
         | m AS (SELECT x_id, y_id, cos, margin,
         |     row_number() OVER (PARTITION BY x_id
         |       ORDER BY margin DESC, y_id) AS rx,
         |     row_number() OVER (PARTITION BY y_id
         |       ORDER BY margin DESC, x_id) AS ry
         |   FROM cand)
         | SELECT x_id, y_id, cos, margin FROM m
         | WHERE rx = 1 AND ry = 1 AND margin >= 1.05
         | ORDER BY x_id""".stripMargin,
    "qp_hamming_topk" ->
      // same 32-dims-per-word packing (bits 0..31 only — no sign-bit
      // arithmetic), same (dist, n_id) tie-break
      s"""WITH b AS (SELECT vec_id, i,
         |     CASE WHEN embedding[i + 1] > 0 THEN 1 ELSE 0 END AS bit
         |   FROM embeddings, (SELECT unnest(range(64)) AS i)),
         | p AS (SELECT vec_id,
         |     CAST(sum(CASE WHEN i < 32 AND bit = 1
         |       THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS h0,
         |     CAST(sum(CASE WHEN i >= 32 AND bit = 1
         |       THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS h1
         |   FROM b GROUP BY vec_id),
         | q AS (SELECT vec_id AS q_id, h0 AS qh0, h1 AS qh1 FROM p
         |   WHERE vec_id < 8),
         | d AS (SELECT q.q_id, p.vec_id AS n_id,
         |     CAST(bit_count(xor(qh0, h0)) + bit_count(xor(qh1, h1))
         |       AS BIGINT) AS dist
         |   FROM p CROSS JOIN q WHERE p.vec_id <> q.q_id),
         | r AS (SELECT q_id, n_id, dist,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY dist, n_id) AS rnk FROM d)
         | SELECT q_id, n_id, dist, rnk FROM r
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "qp_rrf_fusion" ->
      // cosine top-20 and Hamming top-20 per query (same CTE shapes
      // as qp_ann_topk / qp_hamming_topk), fused by 1/(60+rnk); with
      // two addends the double sum is order-exact on both engines
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         | r1 AS (SELECT q_id, n_id, rnk FROM (
         |   SELECT q.q_id, e.vec_id AS n_id,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dCos("qv", "v")} DESC, e.vec_id) AS rnk
         |   FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
         |  WHERE rnk <= 20),
         | b AS (SELECT vec_id, i,
         |     CASE WHEN embedding[i + 1] > 0 THEN 1 ELSE 0 END AS bit
         |   FROM embeddings, (SELECT unnest(range(64)) AS i)),
         | p AS (SELECT vec_id,
         |     CAST(sum(CASE WHEN i < 32 AND bit = 1
         |       THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS h0,
         |     CAST(sum(CASE WHEN i >= 32 AND bit = 1
         |       THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT) AS h1
         |   FROM b GROUP BY vec_id),
         | hq AS (SELECT vec_id AS q_id, h0 AS qh0, h1 AS qh1 FROM p
         |   WHERE vec_id < 5),
         | r2 AS (SELECT q_id, n_id, rnk FROM (
         |   SELECT hq.q_id, p.vec_id AS n_id,
         |     row_number() OVER (PARTITION BY hq.q_id
         |       ORDER BY bit_count(xor(qh0, h0)) + bit_count(xor(qh1, h1)),
         |         p.vec_id) AS rnk
         |   FROM p CROSS JOIN hq WHERE p.vec_id <> hq.q_id)
         |  WHERE rnk <= 20),
         | fused AS (SELECT q_id, n_id,
         |     sum(CAST(1.0 AS DOUBLE) / (60 + rnk)) AS rrf
         |   FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |   GROUP BY q_id, n_id),
         | out AS (SELECT q_id, n_id, rrf,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY rrf DESC, n_id) AS rnk FROM fused)
         | SELECT q_id, n_id, round(rrf, 6) AS rrf, rnk FROM out
         | WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,
    "qp_cosine_pairs" ->
      s"""WITH e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v
         |   FROM embeddings),
         | e AS (SELECT vec_id, label, v, sqrt(${dDot("v", "v")}) n FROM e0)
         | SELECT a_id, b_id, cos FROM (
         |   SELECT a.vec_id a_id, b.vec_id b_id,
         |     round(${dDot("a.v", "b.v")} / (a.n * b.n), 6) cos
         |   FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         | WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
    "qp_ivf_topk" -> ivfTopKOracle,
    "qp_rank_tau" ->
      // the qp_ivf_recall CTE chain with ranks kept, closed by the
      // concordant/discordant pair counts; explicit-floor tau
      s"""WITH $ivfExactRankCtes,
         | com AS (SELECT a.q_id, a.n_id, a.rnk AS ra, b.rnk AS rb
         |   FROM exr a JOIN ivfr b USING (q_id, n_id)),
         | prs AS (SELECT c1.q_id,
         |     (c1.ra - c2.ra) * (c1.rb - c2.rb) AS s
         |   FROM com c1 JOIN com c2
         |     ON c1.q_id = c2.q_id AND c1.n_id < c2.n_id),
         | cnt AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_common
         |   FROM com GROUP BY 1),
         | pc AS (SELECT q_id,
         |     CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |       AS concordant,
         |     CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |       AS discordant
         |   FROM prs GROUP BY 1)
         | SELECT cnt.q_id, cnt.n_common,
         |   coalesce(pc.concordant, 0) AS concordant,
         |   coalesce(pc.discordant, 0) AS discordant,
         |   CASE WHEN cnt.n_common >= 2 THEN
         |     CAST(floor(CAST((coalesce(pc.concordant, 0)
         |         - coalesce(pc.discordant, 0)) * 1000000 AS DOUBLE)
         |       / CAST(coalesce(pc.concordant, 0)
         |         + coalesce(pc.discordant, 0) AS DOUBLE)) AS BIGINT)
         |   END AS tau_micro
         | FROM cnt LEFT JOIN pc USING (q_id)
         | ORDER BY q_id""".stripMargin,
    "qp_ndcg" ->
      // same exr/ivfr chain; DCG terms fixed-pointed to integer
      // micro-units BEFORE the per-query sum (order-free), relevance
      // of an item = 5 − exact_rank + 1, ideal discount at its exact
      // rank — integral-divide close
      s"""WITH $ivfExactRankCtes,
         | com AS (SELECT a.q_id, a.rnk AS ra, b.rnk AS rb
         |   FROM exr a JOIN ivfr b USING (q_id, n_id)),
         | d AS (SELECT q_id, CAST(sum(CAST(round(
         |       (5 - ra + 1) * 1000000 / log2(rb + 1), 0) AS BIGINT))
         |     AS BIGINT) AS dcg_micro
         |   FROM com GROUP BY 1),
         | i AS (SELECT q_id, CAST(sum(CAST(round(
         |       (5 - rnk + 1) * 1000000 / log2(rnk + 1), 0) AS BIGINT))
         |     AS BIGINT) AS idcg
         |   FROM exr GROUP BY 1)
         | SELECT qq.q_id, coalesce(d.dcg_micro, 0) AS dcg_micro,
         |   coalesce(d.dcg_micro, 0) * 1000000 // i.idcg AS ndcg_micro
         | FROM (SELECT DISTINCT q_id FROM exr) qq
         | LEFT JOIN d USING (q_id) JOIN i USING (q_id)
         | ORDER BY q_id""".stripMargin,
    "qp_mrr_map" ->
      // same exr/ivfr chain; per-hit precision terms fixed-pointed to
      // integer micro-units BEFORE the per-query sum, integral closes
      s"""WITH $ivfExactRankCtes,
         | hits AS (SELECT b.q_id, b.rnk AS p,
         |     row_number() OVER (PARTITION BY b.q_id ORDER BY b.rnk)
         |       AS i
         |   FROM ivfr b JOIN exr a USING (q_id, n_id)),
         | perq AS (SELECT q_id, CAST(min(p) AS BIGINT) AS fp,
         |     CAST(sum(i * 1000000 // p) AS BIGINT) AS sp,
         |     CAST(count(*) AS BIGINT) AS n_rel_found
         |   FROM hits GROUP BY 1),
         | rc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS r
         |   FROM exr GROUP BY 1)
         | SELECT qq.q_id, coalesce(perq.n_rel_found, 0) AS n_rel_found,
         |   CAST(coalesce(1000000 // perq.fp, 0) AS BIGINT) AS rr_micro,
         |   CAST(coalesce(perq.sp // rc.r, 0) AS BIGINT) AS ap_micro
         | FROM (SELECT DISTINCT q_id FROM exr) qq
         | LEFT JOIN perq USING (q_id) JOIN rc USING (q_id)
         | ORDER BY q_id""".stripMargin,
    "qp_ivf_recall" ->
      // the ivf CTE chain (same params as qp_ivf_topk) + the exact
      // brute-force ranking + per-query intersection count
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) AS nn FROM e0),
         | cent AS (SELECT vec_id AS cent_id, v AS cv, nn AS cn FROM e
         |   WHERE vec_id < 16),
         | cells AS (SELECT vec_id AS n_id, v AS cv2, nn AS cn2, cell FROM (
         |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "cent.cv")} / (e.nn * cent.cn) DESC,
         |         cent.cent_id) AS r
         |   FROM e CROSS JOIN cent) WHERE r = 1),
         | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE vec_id >= 100 AND vec_id < 105),
         | probes AS (SELECT q_id, qv, qn, probe FROM (
         |   SELECT q.q_id, q.qv, q.qn, cent.cent_id AS probe,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dDot("q.qv", "cent.cv")} / (q.qn * cent.cn) DESC,
         |         cent.cent_id) AS r
         |   FROM q CROSS JOIN cent) WHERE r <= 2),
         | ivf AS (SELECT q_id, n_id FROM (
         |   SELECT q_id, n_id,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY ${dDot("qv", "cv2")} / (qn * cn2) DESC, n_id) AS rnk
         |   FROM probes JOIN cells ON probe = cell
         |   WHERE q_id <> n_id) WHERE rnk <= 5),
         | ex AS (SELECT q_id, n_id FROM (
         |   SELECT q.q_id, e.vec_id AS n_id,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dDot("q.qv", "e.v")} / (q.qn * e.nn) DESC,
         |         e.vec_id) AS rnk
         |   FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id) WHERE rnk <= 5),
         | hits AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
         |   FROM ex JOIN ivf USING (q_id, n_id) GROUP BY q_id)
         | SELECT qq.q_id, coalesce(h.hits, 0) AS hits,
         |   CAST(coalesce(h.hits, 0) * 1000000 // 5 AS BIGINT)
         |     AS recall_micro
         | FROM (SELECT DISTINCT q_id FROM ex) qq
         | LEFT JOIN hits h USING (q_id)
         | ORDER BY q_id""".stripMargin,
    // same math and parameters — only the PHYSICAL layout differs
    // (cell-partitioned on-disk index + partition pruning), so the
    // bucketed variant must hash-match the same oracle
    "qp_ivf_bucketed" -> ivfTopKOracle,
    "qp_pq_codes" ->
      s"""WITH $dPqCodesCtes
         | SELECT vec_id,
         |   max(CASE WHEN s = 0 THEN code END) AS c0,
         |   max(CASE WHEN s = 1 THEN code END) AS c1,
         |   max(CASE WHEN s = 2 THEN code END) AS c2,
         |   max(CASE WHEN s = 3 THEN code END) AS c3
         | FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "qp_pq_topk" ->
      s"""WITH $dPqCodesCtes,
         | q AS (SELECT vec_id AS q_id, v AS qv FROM e0
         |   WHERE vec_id >= 100 AND vec_id < 105),
         | terms AS (SELECT q.q_id, c.vec_id AS n_id, c.s,
         |   ${dPqQn2("q.qv", "c.s")}
         |     - 2*${dPqDot("q.qv", "c.s", "cb.cv")} + cb.cn2 AS t
         |   FROM q CROSS JOIN codes c JOIN cb ON cb.s = c.s AND cb.j = c.code
         |   WHERE q.q_id <> c.vec_id),
         | dists AS (SELECT q_id, n_id, list_sum(list(t ORDER BY s)) AS dist
         |   FROM terms GROUP BY q_id, n_id),
         | ranked AS (SELECT q_id, n_id, dist, row_number() OVER (
         |   PARTITION BY q_id ORDER BY dist, n_id) AS rnk FROM dists)
         | SELECT q_id, n_id, round(dist, 6) AS dist, rnk FROM ranked
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "qp_ivfpq_topk" -> ivfPqTopKOracle,
    "qp_pq_trained" -> pqTrainedOracle,
    // the registry round-trip must reproduce the fresh-trained encode
    // exactly — same oracle verbatim (the qp_ivf_persisted precedent)
    "qp_pq_persisted" -> pqTrainedOracle,
    "qp_pq_residual_trained" ->
      // trained coarse cells (dKmeansCtes, cosine rule) → residuals →
      // the SAME pq training chain, re-rooted at the residual CTE
      s"""WITH $dKmeansCtes,
         | c2k AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g2
         |   GROUP BY cell),
         | centk AS (SELECT cell, cv, sqrt(${dDot("cv", "cv")}) AS cn
         |   FROM c2k),
         | asg AS (SELECT vec_id, v, cell FROM (
         |   SELECT e.vec_id, e.v, centk.cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "centk.cv")} / (e.nn * centk.cn)
         |         DESC, centk.cell) AS r
         |   FROM e CROSS JOIN centk) WHERE r = 1),
         | rsd AS MATERIALIZED (SELECT asg.vec_id,
         |     list_transform(range(64),
         |       i -> asg.v[i+1] - c2k.cv[i+1]) AS v
         |   FROM asg JOIN c2k USING (cell)),
         | ${pqTrainCtes("rsd")}
         | $pqTrainedClose""".stripMargin,
    "qp_ivfpq_bucketed" ->
      // ivfPqTopK's oracle verbatim: the on-disk coded index must
      // reproduce the in-memory IVFADC probe exactly — the
      // cell-partitioned layout + planning-time pruning is the delta
      ivfPqTopKOracle,
    // build-half + append-half must reproduce the full rebuild
    // exactly — that equality IS what the appended queries verify
    "qp_ivf_appended" -> ivfTopKOracle,
    "qp_ivfpq_appended" -> ivfPqTopKOracle,
    "qp_mmr_select" -> {
      // greedy MMR unrolled: pick1 = max λ·rel; each later step
      // penalizes by the max cosine to the already-selected set.
      // λ and (1−λ) are PRINTED FROM THE SAME SCALA DOUBLES the
      // engine multiplies with (1−0.7 is 0.30000000000000004 — a
      // hand-typed 0.3 would be a different double).
      val lam = 0.7
      val oneMinus = 1 - lam
      val steps = (2 to 5).map { t =>
        s""" p$t AS (SELECT x.id, x.rel,
           |     max(${dDot("x.v", "s.v")} / (x.nn * s.nn)) AS pen
           |   FROM c x JOIN c s ON s.id IN (SELECT id FROM sel${t - 1})
           |   WHERE x.id NOT IN (SELECT id FROM sel${t - 1})
           |   GROUP BY x.id, x.rel),
           | pick$t AS (SELECT id, $lam * rel - $oneMinus * pen AS sc
           |   FROM p$t ORDER BY sc DESC, id LIMIT 1),
           | sel$t AS (SELECT id FROM sel${t - 1}
           |   UNION ALL SELECT id FROM pick$t)""".stripMargin
      }.mkString(",\n")
      val outs = (1 to 5).map(t =>
        s"SELECT $t AS rnk, id AS vec_id, " +
          s"CAST(round(sc * 1e6) AS BIGINT) AS mmr_micro FROM pick$t")
        .mkString("\n   UNION ALL ")
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | qv AS (SELECT v FROM e0 WHERE vec_id = 100),
         | c AS (SELECT e0.vec_id AS id, e0.v,
         |     sqrt(${dDot("e0.v", "e0.v")}) AS nn,
         |     round(${dDot("e0.v", "q.v")} / (sqrt(${dDot("e0.v", "e0.v")})
         |       * sqrt(${dDot("q.v", "q.v")})), 6) AS rel
         |   FROM e0 CROSS JOIN qv q WHERE e0.vec_id < 10),
         | pick1 AS (SELECT id, $lam * rel AS sc FROM c
         |   ORDER BY sc DESC, id LIMIT 1),
         | sel1 AS (SELECT id FROM pick1),
         |$steps
         | SELECT rnk, vec_id, mmr_micro FROM (
         |   $outs) ORDER BY rnk""".stripMargin
    },
    "qp_ivfpq_residual" -> {
      val dim = pqCb.m * pqCb.subDim
      s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         | cb(s, j, cv, cn2) AS (VALUES
         |  $dPqCbValues),
         | e AS (SELECT vec_id, v, sqrt(${dDot("v", "v")}) AS nn FROM e0),
         | cent AS (SELECT vec_id AS cent_id, v AS cv, nn AS cn FROM e
         |   WHERE vec_id < 16),
         | cells AS (SELECT vec_id AS n_id, cell FROM (
         |   SELECT e.vec_id, cent.cent_id AS cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "cent.cv")} / (e.nn * cent.cn) DESC,
         |         cent.cent_id) AS r
         |   FROM e CROSS JOIN cent) WHERE r = 1),
         | r0 AS (SELECT c.n_id AS vec_id, c.cell,
         |     list_transform(range($dim), i -> e.v[i+1] - cent.cv[i+1]) AS v
         |   FROM cells c JOIN e0 e ON e.vec_id = c.n_id
         |     JOIN cent ON cent.cent_id = c.cell),
         | sc AS (SELECT r.vec_id, cb.s, cb.j,
         |   cb.cn2 - 2*${dPqDot("r.v", "cb.s", "cb.cv")} AS score
         |   FROM r0 r CROSS JOIN cb),
         | codes AS (SELECT vec_id, s, j AS code FROM (
         |   SELECT vec_id, s, j, row_number() OVER (PARTITION BY vec_id, s
         |     ORDER BY score, j) AS r FROM sc) WHERE r = 1),
         | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE vec_id >= 100 AND vec_id < 105),
         | probes AS (SELECT q_id, probe FROM (
         |   SELECT q.q_id, cent.cent_id AS probe,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dDot("q.qv", "cent.cv")} / (q.qn * cent.cn) DESC,
         |         cent.cent_id) AS r
         |   FROM q CROSS JOIN cent) WHERE r <= 2),
         | qr AS (SELECT p.q_id, p.probe,
         |     list_transform(range($dim), i -> q.qv[i+1] - cent.cv[i+1]) AS qv
         |   FROM probes p JOIN q ON q.q_id = p.q_id
         |     JOIN cent ON cent.cent_id = p.probe),
         | cand AS (SELECT qr.q_id, qr.qv, c.n_id FROM qr JOIN cells c
         |   ON qr.probe = c.cell WHERE qr.q_id <> c.n_id),
         | terms AS (SELECT cand.q_id, cand.n_id, cd.s,
         |   ${dPqQn2("cand.qv", "cd.s")}
         |     - 2*${dPqDot("cand.qv", "cd.s", "cb.cv")} + cb.cn2 AS t
         |   FROM cand JOIN codes cd ON cd.vec_id = cand.n_id
         |     JOIN cb ON cb.s = cd.s AND cb.j = cd.code),
         | dists AS (SELECT q_id, n_id, list_sum(list(t ORDER BY s)) AS dist
         |   FROM terms GROUP BY q_id, n_id),
         | ranked AS (SELECT q_id, n_id, dist, row_number() OVER (
         |   PARTITION BY q_id ORDER BY dist, n_id) AS rnk FROM dists)
         | SELECT q_id, n_id, round(dist, 6) AS dist, rnk FROM ranked
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin
    },
    "qp_zorder" ->
      s"""SELECT CAST(c_custkey AS BIGINT) AS id,
         | ${dZ("c_custkey", "c_nationkey", 16)} AS zval
         | FROM customer ORDER BY id""".stripMargin,
    "qp_kmeans" ->
      s"""WITH $dKmeansCtes,
         | sizes AS (SELECT cell, max(n) AS n_members FROM g2
         |   GROUP BY cell)
         | SELECT g2.cell, g2.dim, g2.m AS c, sizes.n_members
         | FROM g2 JOIN sizes USING (cell)
         | ORDER BY cell, dim""".stripMargin,
    "qp_ivf_trained" ->
      s"""WITH $dKmeansCtes,
         | c2 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g2
         |   GROUP BY cell),
         | cent AS (SELECT cell AS cent_id, cv AS ccv,
         |   sqrt(${dDot("cv", "cv")}) AS cn FROM c2),
         | cells AS (SELECT vec_id AS n_id, v AS cv2, nn AS cn2, cell
         |   FROM (
         |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "cent.ccv")} / (e.nn * cent.cn)
         |         DESC, cent.cent_id) AS r
         |   FROM e CROSS JOIN cent) WHERE r = 1),
         | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE vec_id >= 100 AND vec_id < 105),
         | probes AS (SELECT q_id, qv, qn, probe FROM (
         |   SELECT q.q_id, q.qv, q.qn, cent.cent_id AS probe,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dDot("q.qv", "cent.ccv")} / (q.qn * cent.cn)
         |         DESC, cent.cent_id) AS r
         |   FROM q CROSS JOIN cent) WHERE r <= 2),
         | scored AS (
         |   SELECT q_id, n_id, ${dDot("qv", "cv2")} / (qn * cn2) AS c,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY ${dDot("qv", "cv2")} / (qn * cn2) DESC, n_id)
         |       AS rnk
         |   FROM probes JOIN cells ON probe = cell
         |   WHERE q_id <> n_id)
         | SELECT q_id, n_id, round(c, 6) AS cos, rnk FROM scored
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "qp_ivf_persisted" ->
      // qp_ivf_trained's oracle verbatim: the persisted-centroid path
      // must reproduce the fresh-trained probe exactly — the model
      // registry round-trip is the delta under test
      s"""WITH $dKmeansCtes,
         | c2 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g2
         |   GROUP BY cell),
         | cent AS (SELECT cell AS cent_id, cv AS ccv,
         |   sqrt(${dDot("cv", "cv")}) AS cn FROM c2),
         | cells AS (SELECT vec_id AS n_id, v AS cv2, nn AS cn2, cell
         |   FROM (
         |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "cent.ccv")} / (e.nn * cent.cn)
         |         DESC, cent.cent_id) AS r
         |   FROM e CROSS JOIN cent) WHERE r = 1),
         | q AS (SELECT vec_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE vec_id >= 100 AND vec_id < 105),
         | probes AS (SELECT q_id, qv, qn, probe FROM (
         |   SELECT q.q_id, q.qv, q.qn, cent.cent_id AS probe,
         |     row_number() OVER (PARTITION BY q.q_id
         |       ORDER BY ${dDot("q.qv", "cent.ccv")} / (q.qn * cent.cn)
         |         DESC, cent.cent_id) AS r
         |   FROM q CROSS JOIN cent) WHERE r <= 2),
         | scored AS (
         |   SELECT q_id, n_id, ${dDot("qv", "cv2")} / (qn * cn2) AS c,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY ${dDot("qv", "cv2")} / (qn * cn2) DESC, n_id)
         |       AS rnk
         |   FROM probes JOIN cells ON probe = cell
         |   WHERE q_id <> n_id)
         | SELECT q_id, n_id, round(c, 6) AS cos, rnk FROM scored
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "qp_semantic_dedup" ->
      s"""WITH $dKmeansCtes,
         | c2 AS (SELECT cell, list(m ORDER BY dim) AS cv FROM g2
         |   GROUP BY cell),
         | cent AS (SELECT cell AS cent_id, cv AS ccv,
         |   sqrt(${dDot("cv", "cv")}) AS cn FROM c2),
         | cells AS (SELECT vec_id, v, nn, cell FROM (
         |   SELECT e.vec_id, e.v, e.nn, cent.cent_id AS cell,
         |     row_number() OVER (PARTITION BY e.vec_id
         |       ORDER BY ${dDot("e.v", "cent.ccv")} / (e.nn * cent.cn)
         |         DESC, cent.cent_id) AS r
         |   FROM e CROSS JOIN cent) WHERE r = 1),
         | drops AS (SELECT DISTINCT b.vec_id FROM cells a
         |   JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |   WHERE round(${dDot("a.v", "b.v")} / (a.nn * b.nn), 6) >= 0.42)
         | SELECT cell, count(*) AS kept FROM cells
         | WHERE vec_id NOT IN (SELECT vec_id FROM drops)
         | GROUP BY cell ORDER BY cell""".stripMargin,
    "qp_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
        |   WHERE vec_id < 200),
        | s AS (SELECT vec_id, v,
        |   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM e)
        | SELECT vec_id, round(scale, 6) AS scale,
        |   round(list_max(list_transform(range(64), i ->
        |     abs(v[i+1] - round(v[i+1] / scale)::INT * scale))), 6)
        |   AS max_err
        | FROM s ORDER BY vec_id""".stripMargin,
    "qp_bpe_merges" -> {
      val sel = (1 to 10).map(r =>
        s"SELECT $r AS step, l AS lhs, r AS rhs, c AS score FROM b$r")
        .mkString("\n | UNION ALL ")
      s"""${dBpeCtes(10)}
         | $sel ORDER BY step""".stripMargin
    },
    "qp_bpe_segment" -> {
      val wrapW = "chr(1) || array_to_string(list_transform(" +
        "range(length(w)), i -> substring(w, i+1, 1)), " +
        "chr(2) || chr(1)) || chr(2)"
      val applied = (1 to 10).foldLeft(wrapW)(
        (acc, r) => dBpeApply(acc, s"b$r"))
      s"""${dBpeCtes(10)},
         | seg AS MATERIALIZED (SELECT w,
         |     len(${dBpeUnwrap(applied)}) AS k FROM w),
         | tok AS (SELECT doc_id, unnest(${dTokens("text")}) AS w
         |   FROM documents)
         | SELECT doc_id, count(*) AS n_tokens,
         |   CAST(sum(seg.k) AS BIGINT) AS n_subwords
         | FROM tok JOIN seg USING (w)
         | GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    "qp_bpe_fertility" -> {
      val wrapW = "chr(1) || array_to_string(list_transform(" +
        "range(length(w)), i -> substring(w, i+1, 1)), " +
        "chr(2) || chr(1)) || chr(2)"
      val applied = (1 to 10).foldLeft(wrapW)(
        (acc, r) => dBpeApply(acc, s"b$r"))
      s"""${dBpeCtes(10)},
         | seg AS MATERIALIZED (SELECT w,
         |     len(${dBpeUnwrap(applied)}) AS k FROM w),
         | tok AS (SELECT doc_id, unnest(${dTokens("text")}) AS w
         |   FROM documents),
         | per AS (SELECT doc_id, count(*) AS nt,
         |     CAST(sum(seg.k) AS BIGINT) AS ns
         |   FROM tok JOIN seg USING (w) GROUP BY 1)
         | SELECT d.lang, CAST(sum(per.nt) AS BIGINT) AS n_tokens,
         |   CAST(sum(per.ns) AS BIGINT) AS n_subwords,
         |   CAST(sum(per.ns) * 1000000 // sum(per.nt) AS BIGINT)
         |     AS fertility_micro
         | FROM per JOIN documents d USING (doc_id)
         | GROUP BY 1 ORDER BY lang""".stripMargin
    },
    "qp_unigram_segment" ->
      s"""WITH $dUnigramCtes
         | SELECT word, f AS freq, cost AS cost_micro, seg
         | FROM d16 JOIN wf USING (word)
         | WHERE j = length(word)
         | ORDER BY f DESC, word LIMIT 30""".stripMargin,
    "qp_unigram_em" ->
      // the M step over the SAME Viterbi fixpoint: frequency-weighted
      // piece usage in the chosen segmentations re-scores the vocab
      s"""WITH $dUnigramCtes,
         | segs AS (SELECT word, f, seg FROM d16 JOIN wf USING (word)
         |   WHERE j = length(word)),
         | uses AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n_uses
         |   FROM (SELECT unnest(string_split(seg, ' ')) AS piece, f
         |     FROM segs) GROUP BY piece),
         | tot2 AS (SELECT CAST(sum(n_uses) AS BIGINT) AS t FROM uses)
         | SELECT v.piece, v.sm AS seed_score_micro, u.n_uses,
         |   CAST(round(ln(CAST(u.n_uses AS DOUBLE) / tot2.t) * 1e6)
         |     AS BIGINT) AS em_score_micro
         | FROM voc v JOIN uses u USING (piece) CROSS JOIN tot2
         | ORDER BY v.piece""".stripMargin,
    "qp_wordpiece_segment" ->
      s"""WITH $dWordpieceCtes
         | SELECT word, f AS freq, seg
         | FROM g16 JOIN wf USING (word)
         | ORDER BY f DESC, word LIMIT 30""".stripMargin,
    "qp_rand_proj" -> {
      val rows = Similarity.rademacher(16, 64)
      val scale = math.sqrt(rows.length.toDouble)
      val cols = rows.zipWithIndex.map { case (r, j) =>
        val arr = r.mkString("[", ", ", "]")
        s"round(list_sum(list_transform(range(64), " +
          s"i -> v[i+1] * ($arr)[i+1])) / $scale, 6) AS p$j"
      }.mkString(",\n   ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
         | SELECT vec_id,
         |   $cols
         | FROM e ORDER BY vec_id""".stripMargin
    },
    "qp_pca_cov" ->
      """WITH e AS (SELECT list_transform(embedding::DOUBLE[],
        |     x -> CAST(round(x * 1000) AS BIGINT)) AS q FROM embeddings),
        | n AS (SELECT count(*) AS cnt FROM e),
        | s AS (SELECT i, CAST(sum(q[i+1]) AS BIGINT) AS si
        |   FROM e, range(64) t(i) GROUP BY i),
        | p AS (SELECT i, j, CAST(sum(q[i+1] * q[j+1]) AS BIGINT) AS sxy
        |   FROM e, range(64) t1(i), range(64) t2(j) WHERE i <= j
        |   GROUP BY i, j)
        | SELECT p.i, p.j,
        |   round(((CAST(sxy AS DOUBLE) / cnt)
        |     - (CAST(s1.si AS DOUBLE) / cnt)
        |       * (CAST(s2.si AS DOUBLE) / cnt)) / 1e6, 6) + 0.0 AS cov
        | FROM p JOIN s s1 ON s1.i = p.i JOIN s s2 ON s2.i = p.j
        |   CROSS JOIN n
        | ORDER BY p.i, p.j""".stripMargin,
    "qp_pca_project" ->
      s"""$dPcaEigCtes
         | SELECT vec_id,
         |   round(${dDot("x", "v1.v")}, 6) + 0.0 AS pc0,
         |   round(${dDot("x", "v2.v")}, 6) + 0.0 AS pc1
         | FROM (SELECT vec_id, embedding::DOUBLE[] AS x
         |   FROM embeddings) CROSS JOIN v1 CROSS JOIN v2
         | ORDER BY vec_id""".stripMargin,
    "qp_pca_persisted" ->
      // qp_pca_project's oracle verbatim: the persisted-basis path
      // must reproduce the fresh-fit projection exactly — the model
      // registry round-trip is the delta under test
      s"""$dPcaEigCtes
         | SELECT vec_id,
         |   round(${dDot("x", "v1.v")}, 6) + 0.0 AS pc0,
         |   round(${dDot("x", "v2.v")}, 6) + 0.0 AS pc1
         | FROM (SELECT vec_id, embedding::DOUBLE[] AS x
         |   FROM embeddings) CROSS JOIN v1 CROSS JOIN v2
         | ORDER BY vec_id""".stripMargin,
    "qp_pca_whiten" ->
      // y_c = (x·v_c − μ·v_c) / √λ_c — μ·v and √λ are scalar
      // subqueries computed ONCE from the bit-identical eigenpair
      // CTEs, mirroring the Scala driver constants `Pca.whiten`
      // embeds as literals
      s"""$dPcaEigCtes,
         | k1 AS MATERIALIZED (SELECT
         |     list_sum(list_transform(range(64),
         |       i -> v[i+1] * m[i+1])) AS mu,
         |     sqrt(lam) AS sl FROM v1, mn),
         | k2 AS MATERIALIZED (SELECT
         |     list_sum(list_transform(range(64),
         |       i -> v[i+1] * m[i+1])) AS mu,
         |     sqrt(lam) AS sl FROM v2, mn)
         | SELECT vec_id,
         |   round((${dDot("x", "v1.v")} - k1.mu) / k1.sl, 6) + 0.0 AS w0,
         |   round((${dDot("x", "v2.v")} - k2.mu) / k2.sl, 6) + 0.0 AS w1
         | FROM (SELECT vec_id, embedding::DOUBLE[] AS x
         |   FROM embeddings) CROSS JOIN v1 CROSS JOIN v2
         |   CROSS JOIN k1 CROSS JOIN k2
         | ORDER BY vec_id""".stripMargin,
    "qp_lsh_buckets" -> {
      val planes = Similarity.hyperplanes(8, 64)
      val bucket = planes.zipWithIndex.map { case (p, i) =>
        val arr = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(range(64), " +
          s"j -> v[j+1] * ($arr)[j+1])) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (SELECT embedding::DOUBLE[] v FROM embeddings)
         | SELECT $bucket AS bucket, count(*) AS n FROM e
         | GROUP BY 1 ORDER BY bucket""".stripMargin
    },
    "qp_text_stats" ->
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} tok, $dBpe bpe
         |   FROM documents),
         | m AS (SELECT doc_id, len(tok) n_ws, len(bpe) n_bpe,
         |   round(list_sum(list_transform(tok, x -> length(x)))*1.0
         |     / len(tok), 6) avg_tok_len,
         |   round(len(list_filter(tok, x -> list_contains($dStopList, x)))
         |     * 1.0 / len(tok), 6) stop_ratio
         |  FROM t)
         | SELECT doc_id, n_ws, n_bpe, avg_tok_len, stop_ratio,
         |   round(least(n_ws / 100.0, 1.0) * 0.5 +
         |     (1.0 - least(stop_ratio * 2.0, 1.0)) * 0.5, 6) AS quality
         | FROM m ORDER BY doc_id""".stripMargin,
    "qp_text_langid" -> langidOracle,
    "qp_langid_confusion" ->
      s"""WITH p AS (SELECT lang, pred
         |   FROM (${langidOracleOn(langidAugSrc)}))
         | SELECT lang AS actual, pred, CAST(count(*) AS BIGINT) AS n,
         |   CAST(count(*) * 1000000 //
         |     sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
         |     AS row_share_micro
         | FROM p GROUP BY lang, pred
         | ORDER BY actual, pred""".stripMargin,
    "qp_tfidf_top" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${dTokens("text")}) AS term
         |   FROM documents),
         | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |   GROUP BY doc_id, term),
         | dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |   GROUP BY term),
         | n AS (SELECT count(*) AS n FROM documents),
         | scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |   round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         | SELECT doc_id, term, tf, df, score, rnk FROM (
         |   SELECT *, row_number() OVER (PARTITION BY doc_id
         |     ORDER BY score DESC, term) AS rnk
         |   FROM scored WHERE doc_id < 20)
         | WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "qp_domain_keywords" ->
      s"""WITH toks AS (SELECT source, unnest(${dTokens("text")}) AS term
         |   FROM documents),
         | cst AS (SELECT source, term, count(*) AS c FROM toks
         |   GROUP BY source, term),
         | ct AS (SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM cst
         |   GROUP BY term),
         | ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM cst
         |   GROUP BY source),
         | nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cst),
         | scored AS (SELECT cst.source, cst.term,
         |     ln(CAST(cst.c * nt.n AS DOUBLE) / (ns.ns * ct.ct)) AS pmi
         |   FROM cst JOIN ct USING (term) JOIN ns USING (source)
         |   CROSS JOIN nt WHERE cst.c >= 5)
         | SELECT source, term, round(pmi, 6) AS pmi, rnk FROM (
         |   SELECT *, row_number() OVER (PARTITION BY source
         |     ORDER BY pmi DESC, term) AS rnk FROM scored)
         | WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin,
    "qp_sparse_cosine" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${dTokens("text")}) AS term
         |   FROM documents),
         | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |   GROUP BY doc_id, term),
         | dfreq AS (SELECT term, count(*) AS df FROM tf
         |   GROUP BY term HAVING count(*) <= 400),
         | n AS (SELECT count(*) AS n FROM documents),
         | w AS (SELECT tf.doc_id, tf.term,
         |     CAST(round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0))
         |       * 1000) AS BIGINT) AS w
         |   FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         | norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
         |   FROM w GROUP BY doc_id),
         | dots AS (SELECT a.doc_id AS q_id, b.doc_id AS n_id,
         |     CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |   FROM w a JOIN w b USING (term) WHERE a.doc_id <> b.doc_id
         |   GROUP BY a.doc_id, b.doc_id),
         | scored AS (SELECT q_id, n_id,
         |     dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
         |   FROM dots JOIN norms na ON na.doc_id = dots.q_id
         |     JOIN norms nb ON nb.doc_id = dots.n_id)
         | SELECT q_id, n_id, round(cos, 6) AS cos, rnk FROM (
         |   SELECT *, row_number() OVER (PARTITION BY q_id
         |     ORDER BY cos DESC, n_id) AS rnk FROM scored)
         | WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "qp_hash_embed" ->
      s"""WITH t AS (SELECT doc_id, list_transform(${dTokens("text")},
         |     x -> CAST(${dH60("x")} % 64 AS INT)) AS ds FROM documents)
         | SELECT doc_id, array_to_string(list_transform(range(64),
         |   i -> CAST(len(list_filter(ds, d -> d = i)) AS BIGINT)),
         |   ',') AS vec
         | FROM t ORDER BY doc_id""".stripMargin,
    "qp_embed_ann" ->
      s"""WITH t AS (SELECT doc_id, list_transform(${dTokens("text")},
         |     x -> CAST(${dH60("x")} % 64 AS INT)) AS ds FROM documents),
         | emb AS (SELECT doc_id, list_transform(range(64),
         |   i -> CAST(len(list_filter(ds, d -> d = i)) AS DOUBLE)) AS v
         |   FROM t),
         | e AS (SELECT doc_id, v, sqrt(${dDot("v", "v")}) AS nn FROM emb),
         | q AS (SELECT doc_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE doc_id < 3),
         | scored AS (SELECT q_id, e.doc_id AS n_id,
         |     ${dDot("qv", "e.v")} / (qn * e.nn) AS c,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY ${dDot("qv", "e.v")} / (qn * e.nn) DESC,
         |         e.doc_id) AS rnk
         |   FROM q CROSS JOIN e WHERE q_id <> e.doc_id)
         | SELECT q_id, n_id, round(c, 6) AS cos, rnk FROM scored
         | WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "qp_word_embeddings" -> sppmiEmbedSql(wordPairSrcSql, shift = 2,
      iters = 100),
    "qp_winnow_fp" ->
      s"""WITH t AS (SELECT doc_id, p,
         |     ${dH60("substring(text, p + 1, 4)")} AS h FROM (
         |     SELECT doc_id, text, unnest(range(length(text) - 3)) AS p
         |     FROM documents WHERE doc_id < 20 AND length(text) >= 4)),
         | e AS (SELECT doc_id, p AS e, m FROM (
         |   SELECT doc_id, p,
         |     min(h) OVER (PARTITION BY doc_id ORDER BY p
         |       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS m,
         |     count(*) OVER (PARTITION BY doc_id) AS n
         |   FROM t) WHERE p >= least(7, n - 1)),
         | c AS (SELECT doc_id, p, h, p + j AS e
         |   FROM t, (SELECT unnest(range(8)) AS j)),
         | sel AS (SELECT c.doc_id, c.e, max(c.p) AS pos,
         |     max(e2.m) AS fp
         |   FROM c JOIN e e2 ON e2.doc_id = c.doc_id AND e2.e = c.e
         |   WHERE c.h = e2.m GROUP BY 1, 2)
         | SELECT DISTINCT doc_id, pos, fp FROM sel
         | ORDER BY doc_id, pos""".stripMargin,
    "qp_token_entropy" ->
      s"""WITH c AS (SELECT doc_id, t, count(*) AS n FROM (
         |     SELECT doc_id, unnest(${dTokens("text")}) AS t
         |     FROM documents) GROUP BY 1, 2),
         | l AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS len FROM c
         |   GROUP BY 1),
         | s AS (SELECT c.doc_id, l.len, CAST(sum(c.n *
         |     CAST(round(ln(CAST(l.len AS DOUBLE) / c.n) * 1e6)
         |       AS BIGINT)) AS BIGINT) AS s
         |   FROM c JOIN l USING (doc_id) GROUP BY 1, 2)
         | SELECT doc_id, len AS n_tokens,
         |   round(CAST(s AS DOUBLE) / (len * 1e6), 6) AS entropy
         | FROM s ORDER BY doc_id""".stripMargin,
    "qp_shingle_novelty" ->
      s"""WITH b AS (SELECT DISTINCT doc_id, ${dH60("sg")} AS h FROM (
         |     SELECT doc_id, unnest(${dShingles("text")}) AS sg
         |     FROM documents)),
         | f AS (SELECT h, count(*) AS docs FROM b GROUP BY h)
         | SELECT doc_id, count(*) AS n_shingles,
         |   CAST(sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_novel,
         |   round(CAST(sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END)
         |     AS DOUBLE) / count(*), 6) AS novelty
         | FROM b JOIN f USING (h) GROUP BY doc_id
         | ORDER BY doc_id""".stripMargin,
    "qp_hard_negatives" ->
      s"""WITH t AS (SELECT doc_id, list_transform(${dTokens("text")},
         |     x -> CAST(${dH60("x")} % 64 AS INT)) AS ds FROM documents),
         | emb AS (SELECT doc_id, list_transform(range(64),
         |   i -> CAST(len(list_filter(ds, d -> d = i)) AS DOUBLE)) AS v
         |   FROM t),
         | e AS (SELECT doc_id, v, sqrt(${dDot("v", "v")}) AS nn FROM emb),
         | q AS (SELECT doc_id AS q_id, v AS qv, nn AS qn FROM e
         |   WHERE doc_id < 3),
         | scored AS (SELECT q_id, e.doc_id AS n_id,
         |     ${dDot("qv", "e.v")} / (qn * e.nn) AS c,
         |     row_number() OVER (PARTITION BY q_id
         |       ORDER BY ${dDot("qv", "e.v")} / (qn * e.nn) DESC,
         |         e.doc_id) AS rnk
         |   FROM q CROSS JOIN e WHERE q_id <> e.doc_id),
         | sh AS (SELECT doc_id,
         |     list_transform(${dShingles("text")}, x -> ${dH60("x")}) AS s
         |   FROM documents),
         | j AS (SELECT sc.q_id, sc.n_id, sc.c, sc.rnk,
         |     len(list_intersect(a.s, b.s)) AS i,
         |     len(a.s) AS la, len(b.s) AS lb
         |   FROM scored sc JOIN sh a ON a.doc_id = sc.q_id
         |     JOIN sh b ON b.doc_id = sc.n_id
         |   WHERE sc.rnk <= 10),
         | f AS (SELECT q_id, n_id, c, rnk, CASE WHEN la + lb - i > 0
         |     THEN CAST(i AS DOUBLE) / (la + lb - i) ELSE 0.0 END AS jac
         |   FROM j),
         | hn AS (SELECT q_id, n_id, c, row_number() OVER (
         |     PARTITION BY q_id ORDER BY rnk) AS hn_rnk
         |   FROM f WHERE jac < 0.8)
         | SELECT q_id, n_id, round(c, 6) AS cos, hn_rnk FROM hn
         | WHERE hn_rnk <= 5 ORDER BY q_id, hn_rnk""".stripMargin,
    "qp_lm_perplexity" ->
      s"""$dLmPerDoc
         | SELECT doc_id, n_bigrams,
         |   round(-(s / (n_bigrams * 1e6)), 6) AS nll,
         |   round(exp(-(s / (n_bigrams * 1e6))), 3) AS ppl
         | FROM perdoc ORDER BY doc_id""".stripMargin,
    "qp_cdc_chunks" ->
      // same window chain: boundary flags → running chunk id + chunk
      // start → 40-bit positional token hashes summed per chunk
      s"""WITH base AS (SELECT doc_id, text FROM documents
         |   UNION ALL SELECT doc_id + 10000, 'update ' || text
         |   FROM documents WHERE doc_id < 50),
         | tok AS (SELECT doc_id,
         |     CAST(generate_subscripts(tk, 1) - 1 AS BIGINT) AS pos,
         |     unnest(tk) AS t
         |   FROM (SELECT doc_id, ${dTokens("text")} AS tk FROM base)),
         | b AS (SELECT doc_id, pos, t,
         |     CASE WHEN ${dH60("t")} % 16 = 0 THEN 1 ELSE 0 END AS bnd
         |   FROM tok),
         | c AS (SELECT doc_id, pos, t,
         |     coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |       AS chunk,
         |     coalesce(max(CASE WHEN bnd = 1 THEN pos END)
         |       OVER (PARTITION BY doc_id ORDER BY pos
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |       + 1, 0) AS cstart
         |   FROM b),
         | ch AS (SELECT doc_id, chunk, count(*) AS sz,
         |     CAST(sum(${dH60("(pos - cstart) || ':' || t")}
         |       % 1099511627776) AS BIGINT) AS chash
         |   FROM c GROUP BY 1, 2),
         | sh AS (SELECT chash FROM ch GROUP BY chash
         |   HAVING count(DISTINCT doc_id) > 1)
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |   CAST(max(sz) AS BIGINT) AS max_chunk_tokens,
         |   CAST(sum(CASE WHEN chash IN (SELECT chash FROM sh)
         |     THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
         | FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "qp_readability" ->
      // same counts, same fixed-order double score
      s"""WITH b AS (SELECT doc_id,
         |     greatest(1, len(regexp_extract_all(text, '[.!?]+')))
         |       AS s,
         |     len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg,
         |     ${dTokens("text")} AS tok
         |   FROM documents),
         | t AS (SELECT doc_id, s, vg, unnest(tok) AS t FROM b),
         | a AS (SELECT doc_id, s, vg,
         |     CAST(count(*) AS BIGINT) AS n_words,
         |     CAST(sum(CASE WHEN NOT regexp_matches(t, '[aeiouy]')
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n0
         |   FROM t GROUP BY 1, 2, 3)
         | SELECT doc_id, n_words, CAST(s AS BIGINT) AS n_sentences,
         |   CAST(vg + n0 AS BIGINT) AS n_syllables,
         |   round(206.835
         |     - 1.015 * (CAST(n_words AS DOUBLE) / s)
         |     - 84.6 * (CAST(vg + n0 AS DOUBLE) / n_words), 4)
         |     AS flesch
         | FROM a ORDER BY doc_id""".stripMargin,
    "qp_self_overlap" ->
      // same bottom-50-by-hash sample, same integer micro Jaccard
      s"""WITH g AS (SELECT doc_id,
         |     list_distinct(CASE WHEN len(tok) >= 3 THEN
         |       list_transform(range(len(tok)-2),
         |         i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |     ELSE [] END) AS gr,
         |     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |       AS h
         |   FROM (SELECT doc_id, ${dTokens("text")} AS tok
         |     FROM documents)),
         | s AS (SELECT doc_id, gr FROM g
         |   ORDER BY h, doc_id LIMIT 50),
         | p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |     len(list_intersect(a.gr, b.gr)) AS i,
         |     len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))
         |       AS u
         |   FROM s a JOIN s b ON a.doc_id < b.doc_id),
         | jm AS (SELECT CASE WHEN u = 0 THEN 0
         |     ELSE CAST(i AS BIGINT) * 1000000 // u END AS jm FROM p)
         | SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |   CAST(sum(jm) AS BIGINT) // count(*) AS mean_jaccard_micro
         | FROM jm""".stripMargin,
    "qp_entities" -> {
      val vals = EntityGazetteer
        .map { case (p, t) => s"('${p}', '${t}')" }.mkString(", ")
      s"""WITH g AS (SELECT * FROM (VALUES $vals) AS v(phrase, etype)),
         | t AS (SELECT doc_id, ${dTokens("text")} AS tok
         |   FROM documents),
         | u AS (SELECT doc_id, unnest(tok) AS phrase FROM t),
         | b AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS phrase FROM t),
         | m AS (SELECT x.doc_id, g.etype, g.phrase
         |   FROM (SELECT * FROM u UNION ALL SELECT * FROM b) x
         |   JOIN g USING (phrase))
         | SELECT doc_id, etype, CAST(count(*) AS BIGINT) AS n_mentions,
         |   CAST(count(DISTINCT phrase) AS BIGINT) AS n_distinct
         | FROM m GROUP BY 1, 2 ORDER BY doc_id, etype""".stripMargin
    },
    "qp_boilerplate" ->
      // same re-lining regex as qp_c4_rules; the injected header and
      // the ALL-INTEGER 100·d >= 40·n boilerplate rule replay exactly
      s"""WITH aug AS (SELECT doc_id, source,
         |     CASE WHEN doc_id % 2 = 0 THEN 'subscribe to ' || source
         |       || ' newsletter today' || chr(10) || text
         |     ELSE text END AS text
         |   FROM documents),
         | lined AS (SELECT doc_id, source, regexp_replace(text,
         |     '((\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g') AS lt
         |   FROM aug),
         | ln AS (SELECT doc_id, source,
         |     CAST(generate_subscripts(ls, 1) - 1 AS INT) AS pos,
         |     unnest(ls) AS line
         |   FROM (SELECT doc_id, source, string_split(lt, chr(10)) AS ls
         |     FROM lined)),
         | dl AS (SELECT source, md5(line) AS h,
         |     count(DISTINCT doc_id) AS d
         |   FROM ln GROUP BY 1, 2),
         | nd AS (SELECT source, count(DISTINCT doc_id) AS n
         |   FROM documents GROUP BY source),
         | boiler AS (SELECT source, h FROM dl JOIN nd USING (source)
         |   WHERE 100 * d >= 40 * n AND d >= 3),
         | fl AS (SELECT l.doc_id, l.pos, l.line,
         |     (b.h IS NOT NULL) AS bo
         |   FROM ln l LEFT JOIN boiler b
         |     ON b.source = l.source AND b.h = md5(l.line))
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |   CAST(sum(CASE WHEN bo THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_boiler,
         |   CAST(sum(CASE WHEN NOT bo THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_kept,
         |   md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
         |     FILTER (WHERE NOT bo), '')) AS clean_md5
         | FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "qp_kn_perplexity" ->
      // same bigram-type core as dLmPerDoc; the KN probability is
      // assembled from integer counts in the SAME IEEE op order as
      // the engine (3 divides, 1 multiply, 1 add; D = 3/4 exact)
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS tok
         |   FROM documents),
         | bi AS (SELECT doc_id, split_part(bg, ' ', 1) AS w1,
         |     split_part(bg, ' ', 2) AS w2
         |   FROM (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2 THEN
         |       list_transform(range(len(tok)-1),
         |         i -> tok[i+1] || ' ' || tok[i+2])
         |     ELSE [] END) AS bg FROM t)),
         | docbi AS (SELECT doc_id, w1, w2, count(*) AS occ FROM bi
         |   GROUP BY doc_id, w1, w2),
         | pc AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c12
         |   FROM docbi GROUP BY w1, w2),
         | cts AS (SELECT w1, w2, c12,
         |   CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
         |   CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1f,
         |   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS n1b
         |   FROM pc),
         | nbi AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pc),
         | terms AS (SELECT d.doc_id, d.occ,
         |     CAST(round(ln(
         |       greatest(c.c12 * 4 - 3, 0)::DOUBLE / (c.c1 * 4)
         |       + (c.n1f * 3)::DOUBLE / (c.c1 * 4)
         |         * (c.n1b::DOUBLE / nbi.n)
         |     ) * 1e6) AS BIGINT) * d.occ AS tt
         |   FROM docbi d JOIN cts c USING (w1, w2) CROSS JOIN nbi),
         | perdoc AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
         |     CAST(sum(tt) AS BIGINT) AS s FROM terms GROUP BY doc_id)
         | SELECT doc_id, n_bigrams,
         |   round(-(s / (n_bigrams * 1e6)), 6) AS nll,
         |   round(exp(-(s / (n_bigrams * 1e6))), 3) AS ppl
         | FROM perdoc ORDER BY doc_id""".stripMargin,
    "qp_ccnet_buckets" ->
      // same perdoc LM core; bucket averages aggregate the 3-decimal
      // ppl as exact integer mills (no float-sum-order drift)
      s"""$dLmPerDoc,
         | scored AS (SELECT doc_id,
         |     round(exp(-(s / (n_bigrams * 1e6))), 3) AS ppl
         |   FROM perdoc),
         | j AS (SELECT d.lang, sc.doc_id, sc.ppl FROM scored sc
         |   JOIN documents d USING (doc_id)),
         | b AS (SELECT lang, doc_id, ppl,
         |     ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
         |       AS bucket FROM j)
         | SELECT lang, bucket, count(*) AS n_docs,
         |   round(sum(CAST(round(ppl * 1000) AS BIGINT))
         |     / (count(*) * 1000.0), 4) AS avg_ppl,
         |   min(ppl) AS min_ppl, max(ppl) AS max_ppl
         | FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "qp_top_bigrams" ->
      s"""WITH t AS (SELECT ${dTokens("text")} AS tok FROM documents),
         | b AS (SELECT unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bigram FROM t)
         | SELECT bigram, count(*) AS n FROM b
         | GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "qp_pmi_bigrams" ->
      // same double expression tree as the Spark side: one fixed
      // product/quotient over exact integer counts, then one log2
      s"""WITH t AS (SELECT ${dTokens("text")} AS tok FROM documents),
         | u AS (SELECT unnest(tok) AS w FROM t),
         | uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM u
         |   GROUP BY w),
         | tt AS (SELECT CAST(sum(n_w) AS BIGINT) AS t_tok FROM uni),
         | bgr AS (SELECT unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_pair FROM bgr
         |   GROUP BY bg HAVING count(*) >= 5),
         | tb AS (SELECT CAST(sum(greatest(len(tok) - 1, 0)) AS BIGINT)
         |     AS t_bg FROM t),
         | sp AS (SELECT split_part(bg, ' ', 1) AS w1,
         |     split_part(bg, ' ', 2) AS w2, n_pair FROM bc)
         | SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
         |   round(log2((CAST(n_pair AS DOUBLE) * t_tok * t_tok) /
         |     ((CAST(u1.n_w AS DOUBLE) * u2.n_w) * t_bg)), 4) AS pmi
         | FROM sp JOIN uni u1 ON sp.w1 = u1.w
         |   JOIN uni u2 ON sp.w2 = u2.w
         |   CROSS JOIN tt CROSS JOIN tb
         | ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "qp_textrank" -> {
      // unrolled integer-micro PageRank over the word graph — same
      // update rule digit for digit (// on positive longs ≡ div)
      val rounds = (1 to 3).map { t =>
        s"""m$t AS MATERIALIZED (SELECT und.b AS w,
           |     CAST(sum(r.rank // d.deg) AS BIGINT) AS m
           |   FROM und JOIN r${t - 1} r ON r.w = und.a
           |     JOIN deg d ON d.w = und.a GROUP BY 1),
           | r$t AS MATERIALIZED (SELECT deg.w,
           |     CAST(150000 + (85 * coalesce(m.m, 0)) // 100 AS BIGINT)
           |       AS rank
           |   FROM deg LEFT JOIN m$t m ON m.w = deg.w)""".stripMargin
      }.mkString(",\n ")
      s"""WITH t AS (SELECT ${dTokens("text")} AS tok FROM documents),
         | bgr AS (SELECT unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | e0 AS (SELECT DISTINCT split_part(bg, ' ', 1) AS a,
         |     split_part(bg, ' ', 2) AS b FROM bgr),
         | und AS MATERIALIZED (SELECT DISTINCT a, b FROM (
         |     SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0)
         |   WHERE a <> b),
         | deg AS MATERIALIZED (SELECT a AS w,
         |     CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
         | r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS rank FROM deg),
         | $rounds
         | SELECT r.w, deg.deg, r.rank AS rank_micro
         | FROM r3 r JOIN deg USING (w)
         | ORDER BY rank_micro DESC, w LIMIT 20""".stripMargin
    },
    "qp_rake_phrases" -> {
      // stopword alternation GENERATED from the same Scala list the
      // engine regex uses (TextOps.StopProbe — seeded-constants rule);
      // the space-doubling trick keeps stopword matches non-overlapping
      // in one global regexp pass on both engines
      val stopAlt = graft.ops.TextOps.StopProbe.mkString("|")
      s"""WITH j AS (SELECT ' ' ||
         |     array_to_string(${dTokens("text")}, ' ') || ' ' AS s
         |   FROM documents),
         | c AS (SELECT regexp_replace(replace(s, ' ', '  '),
         |     ' ($stopAlt) ', ' | ', 'g') AS s FROM j),
         | seg AS (SELECT unnest(string_split(s, '|')) AS seg FROM c),
         | occ AS MATERIALIZED (SELECT phrase,
         |     CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words
         |   FROM (SELECT trim(regexp_replace(seg, ' +', ' ', 'g'))
         |       AS phrase FROM seg)
         |   WHERE phrase <> ''
         |     AND len(string_split(phrase, ' ')) <= 4),
         | ws AS (SELECT w, CAST(round(CAST(sum(n_words) AS DOUBLE) *
         |       1e6 / count(*), 0) AS BIGINT) AS ws
         |   FROM (SELECT n_words, unnest(string_split(phrase, ' ')) AS w
         |     FROM occ) GROUP BY w),
         | ty AS (SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n
         |   FROM occ GROUP BY 1, 2 HAVING count(*) >= 2),
         | sc AS (SELECT phrase, n_words, n,
         |     CAST(sum(ws.ws) AS BIGINT) AS score_micro
         |   FROM (SELECT phrase, n_words, n,
         |       unnest(string_split(phrase, ' ')) AS w FROM ty) x
         |   JOIN ws USING (w) GROUP BY 1, 2, 3)
         | SELECT phrase, n_words, n, score_micro FROM sc
         | ORDER BY score_micro DESC, n DESC, phrase LIMIT 20""".stripMargin
    },
    "qp_dbscan" -> dbscanOracle,
    "qp_hll_distinct" -> {
      // α·m²·2⁵⁷ and the linear-counting table generated from the same
      // Scala values (Sketch.HllAlphaC / HllLnMicro); every other step
      // is integer on both engines (bin-string ρ, shifted harmonic sum)
      val lnRows = graft.ops.Sketch.HllLnMicro.zipWithIndex
        .map { case (m, i) => s"(${i + 1}, $m)" }.mkString(", ")
      val c = graft.ops.Sketch.HllAlphaC
      s"""WITH t AS (SELECT lang, ${dTokens("text")} AS tok FROM documents),
         | b AS (SELECT lang, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | hh AS (SELECT lang, ${dH60("bg")} AS h FROM b),
         | rg AS (SELECT lang, CAST(h % 64 AS INT) AS reg,
         |     CASE WHEN h // 64 = 0 THEN 55
         |       ELSE 55 - length(ltrim(bin(h // 64), '0')) END AS rho
         |   FROM hh),
         | mx AS (SELECT lang, reg, max(rho) AS mr FROM rg GROUP BY 1, 2),
         | s AS (SELECT lang, CAST(count(*) AS BIGINT) AS npres,
         |     CAST(sum(1::BIGINT << (55 - mr)) AS BIGINT) AS sp
         |   FROM mx GROUP BY 1),
         | lnt(v, micro) AS (VALUES $lnRows),
         | f AS (SELECT lang, 64 - npres AS v_zero, npres,
         |     CAST(sp + (64 - npres) * 36028797018963968 AS DOUBLE)
         |       AS stot FROM s)
         | SELECT f.lang, CAST(v_zero AS BIGINT) AS v_zero,
         |   round(CASE WHEN $c / stot <= 160.0 AND npres < 64
         |     THEN lnt.micro / 1e6 ELSE $c / stot END, 4)
         |     AS est_distinct
         | FROM f LEFT JOIN lnt ON lnt.v = f.v_zero
         | ORDER BY lang""".stripMargin
    },
    "qp_kmv_distinct" ->
      // KMV estimator constant generated from the same Scala values
      // (Sketch.HashSpace, k = 256)
      s"""WITH t AS (SELECT lang, ${dTokens("text")} AS tok FROM documents),
         | b AS (SELECT lang, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | h AS (SELECT DISTINCT lang, ${dH60("bg")} AS hv FROM b),
         | r AS (SELECT lang, hv,
         |     row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |     count(*) OVER (PARTITION BY lang) AS nd FROM h)
         | SELECT lang, CASE WHEN max(nd) < 256 THEN max(nd)
         |   ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |     / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT)
         |   END AS est_distinct
         | FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "qp_kmv_setops" ->
      // estimator constant generated from the same Scala values
      // (Sketch.HashSpace, k = 256); membership joins replay the
      // "union bottom-k member ⇒ side bottom-k member" property
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS tok
         |   FROM documents),
         | b AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | h AS (SELECT DISTINCT doc_id < 250 AS ia, ${dH60("bg")} AS hv
         |   FROM b),
         | ra AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |     count(*) OVER () AS nd
         |   FROM (SELECT DISTINCT hv FROM h WHERE ia)),
         | rb AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |     count(*) OVER () AS nd
         |   FROM (SELECT DISTINCT hv FROM h WHERE NOT ia)),
         | ru AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |     count(*) OVER () AS nd
         |   FROM (SELECT DISTINCT hv FROM h)),
         | es AS (SELECT
         |   (SELECT CASE WHEN max(nd) < 256 THEN max(nd)
         |     ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |       / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT) END
         |    FROM ra) AS est_a,
         |   (SELECT CASE WHEN max(nd) < 256 THEN max(nd)
         |     ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |       / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT) END
         |    FROM rb) AS est_b,
         |   (SELECT CASE WHEN max(nd) < 256 THEN max(nd)
         |     ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |       / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT) END
         |    FROM ru) AS est_union,
         |   (SELECT count(*) FROM (SELECT hv FROM ru WHERE rn <= 256) u
         |     JOIN (SELECT hv FROM ra WHERE rn <= 256) a USING (hv)
         |     JOIN (SELECT hv FROM rb WHERE rn <= 256) b2 USING (hv))
         |    AS nboth,
         |   (SELECT count(*) FROM ru WHERE rn <= 256) AS szu)
         | SELECT est_a, est_b, est_union,
         |   CASE WHEN szu = 0 THEN 0 ELSE CAST(round(
         |     CAST(nboth AS DOUBLE) * est_union / szu) AS BIGINT) END
         |     AS est_intersect,
         |   CASE WHEN szu = 0 THEN 0.0 ELSE round(
         |     CAST(nboth AS DOUBLE) / szu, 6) END AS jaccard
         | FROM es""".stripMargin,
    "qp_cms_heavy" ->
      // same seeded row hashes ('cms<r>:' prefixes over hash60), same
      // 4x512 geometry, min-over-rows estimate, exact top-15 anchor
      s"""WITH t AS (SELECT ${dTokens("text")} AS tok FROM documents),
         | b AS (SELECT unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS gram FROM t),
         | rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
         | cnt AS (SELECT r,
         |     ${dH60("'cms' || CAST(r AS VARCHAR) || ':' || gram")}
         |       % 512 AS bucket,
         |     CAST(count(*) AS BIGINT) AS cnt
         |   FROM b, rows_ GROUP BY r, bucket),
         | top AS (SELECT gram, CAST(count(*) AS BIGINT) AS true_cnt
         |   FROM b GROUP BY gram
         |   ORDER BY true_cnt DESC, gram ASC LIMIT 15),
         | probe AS (SELECT gram, r,
         |     ${dH60("'cms' || CAST(r AS VARCHAR) || ':' || gram")}
         |       % 512 AS bucket
         |   FROM top, rows_),
         | est AS (SELECT gram,
         |     min(coalesce(cnt, 0)) AS est
         |   FROM probe LEFT JOIN cnt USING (r, bucket) GROUP BY gram)
         | SELECT t.gram, t.true_cnt, CAST(e.est AS BIGINT) AS est
         | FROM top t JOIN est e USING (gram)
         | ORDER BY t.true_cnt DESC, t.gram""".stripMargin,
    "qp_cms_join_size" ->
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS tok
         |   FROM documents),
         | b AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS gram FROM t),
         | ga AS (SELECT gram FROM b WHERE doc_id < 250),
         | gb AS (SELECT gram FROM b WHERE doc_id >= 250),
         | rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
         | ca AS (SELECT r,
         |     ${dH60("'cms' || CAST(r AS VARCHAR) || ':' || gram")}
         |       % 512 AS bucket, count(*) AS cnt
         |   FROM ga, rows_ GROUP BY r, bucket),
         | cb AS (SELECT r,
         |     ${dH60("'cms' || CAST(r AS VARCHAR) || ':' || gram")}
         |       % 512 AS bucket, count(*) AS cnt
         |   FROM gb, rows_ GROUP BY r, bucket),
         | prod AS (SELECT ca.r, sum(ca.cnt * cb.cnt) AS p
         |   FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
         |   GROUP BY ca.r),
         | est AS (SELECT CAST(min(p) AS BIGINT) AS est_join_size
         |   FROM prod),
         | tr AS (SELECT CAST(coalesce(sum(a.na * b.nb), 0) AS BIGINT)
         |     AS true_join_size FROM
         |   (SELECT gram, count(*) AS na FROM ga GROUP BY gram) a
         |   JOIN (SELECT gram, count(*) AS nb FROM gb GROUP BY gram) b
         |     USING (gram))
         | SELECT true_join_size, est_join_size FROM tr, est""".stripMargin,
    "qp_kmv_rollup" ->
      // per-lang rows ∪ the '<all>' total, same estimator constants
      s"""WITH t AS (SELECT lang, ${dTokens("text")} AS tok FROM documents),
         | b AS (SELECT lang, unnest(CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END) AS bg FROM t),
         | h AS (SELECT DISTINCT lang, ${dH60("bg")} AS hv FROM b),
         | r AS (SELECT lang, hv,
         |     row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |     count(*) OVER (PARTITION BY lang) AS nd FROM h),
         | g AS (SELECT DISTINCT hv FROM h),
         | rg AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |     count(*) OVER () AS nd FROM g),
         | per AS (SELECT lang, CASE WHEN max(nd) < 256 THEN max(nd)
         |   ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |     / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT)
         |   END AS est_distinct
         |  FROM r GROUP BY lang),
         | tot AS (SELECT '<all>' AS lang,
         |   CASE WHEN max(nd) < 256 THEN max(nd)
         |   ELSE CAST(round(${255 * graft.ops.Sketch.HashSpace}
         |     / max(CASE WHEN rn = 256 THEN hv END)) AS BIGINT)
         |   END AS est_distinct FROM rg)
         | SELECT lang, est_distinct FROM per
         | UNION ALL SELECT lang, est_distinct FROM tot
         | ORDER BY lang""".stripMargin,
    "qp_source_centroids" ->
      // identical fixed-point dimension-wise mean (micro-unit sums)
      s"""WITH e0 AS (SELECT label, embedding::DOUBLE[] AS v
         |   FROM embeddings),
         | u AS (SELECT label,
         |     CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
         |     unnest(v) AS x FROM e0)
         | SELECT label, dim,
         |   sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT
         |     / (count(*) * 1e6) AS c,
         |   count(*) AS n_members
         | FROM u GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "qp_embedding_outliers" ->
      // the qp_source_centroids fixed-point centroid chain + ordered
      // self/centroid dots and the ascending (cos, vec_id) rank
      s"""WITH e0 AS (SELECT label, vec_id, embedding::DOUBLE[] AS v
         |   FROM embeddings),
         | u AS (SELECT label,
         |     CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
         |     unnest(v) AS x FROM e0),
         | cm AS (SELECT label, dim,
         |     sum(CAST(round(x * 1e6) AS BIGINT))::BIGINT
         |       / (count(*) * 1e6) AS c
         |   FROM u GROUP BY label, dim),
         | cent AS (SELECT label, list(c ORDER BY dim) AS cv
         |   FROM cm GROUP BY label),
         | sc AS (SELECT e0.label, e0.vec_id,
         |     ${dDot("e0.v", "cent.cv")} /
         |       (sqrt(${dDot("e0.v", "e0.v")}) *
         |        sqrt(${dDot("cent.cv", "cent.cv")})) AS cos
         |   FROM e0 JOIN cent USING (label)),
         | r AS (SELECT label, vec_id, cos, row_number() OVER (
         |     PARTITION BY label ORDER BY cos, vec_id) AS rnk FROM sc)
         | SELECT label, vec_id, round(cos, 6) AS cos, rnk
         | FROM r WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin,
    "qp_kmv_quantiles" ->
      // identical bottom-k-by-hash sample + integer rank indexing
      // (k = 128; collision rule: duplicate hash keeps min value)
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang)
         | SELECT lang, n AS sample_n,
         |   sv[CAST((1 * (n - 1)) // 4 AS INT) + 1] AS p25,
         |   sv[CAST((1 * (n - 1)) // 2 AS INT) + 1] AS p50,
         |   sv[CAST((3 * (n - 1)) // 4 AS INT) + 1] AS p75,
         |   sv[CAST((9 * (n - 1)) // 10 AS INT) + 1] AS p90
         | FROM s ORDER BY lang""".stripMargin,
    "qp_robust_z" ->
      // same bottom-k sample; explicit-floor quotient (negative
      // numerators below the median — `//` would floor, Spark `div`
      // truncates, so BOTH sides floor a double quotient)
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang),
         | b AS (SELECT lang,
         |     sv[CAST((1 * (n - 1)) // 4 AS INT) + 1] AS q1,
         |     sv[CAST((1 * (n - 1)) // 2 AS INT) + 1] AS q2,
         |     sv[CAST((3 * (n - 1)) // 4 AS INT) + 1] AS q3
         |   FROM s)
         | SELECT d0.lang, d0.doc_id, d0.n_chars AS score,
         |   CASE WHEN b.q3 > b.q1 THEN
         |     CAST(floor(CAST((d0.n_chars - b.q2) * 1000000 AS DOUBLE)
         |       / CAST(b.q3 - b.q1 AS DOUBLE)) AS BIGINT) END
         |     AS robust_z_micro
         | FROM documents d0 JOIN b ON b.lang = d0.lang
         | ORDER BY doc_id""".stripMargin,
    "qp_dup_sources" ->
      // the qp_ngram_jaccard pair CTE carrying each side's source
      s"""WITH t AS (SELECT doc_id, source, lang,
         |     CAST(floor(n_chars / 20) AS INT) lb,
         |     list_distinct(list_transform(${dShingles("text")},
         |       x -> ${dH60("x")})) sh
         |   FROM documents),
         | p AS (SELECT sa, sb FROM (
         |   SELECT a.source sa, b.source sb,
         |     round(len(list_intersect(a.sh, b.sh))*1.0 /
         |       (len(a.sh)+len(b.sh)-len(list_intersect(a.sh, b.sh))), 6)
         |       jac
         |   FROM t a JOIN t b ON a.lang = b.lang AND a.lb = b.lb
         |     AND a.doc_id < b.doc_id)
         |   WHERE jac >= 0.8)
         | SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
         |   CAST(count(*) AS BIGINT) AS n_pairs
         | FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "qp_winsorize" ->
      // same bottom-k sample; integer rank rule at 1/10 and 9/10
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang),
         | b AS (SELECT lang,
         |     sv[CAST((1 * (n - 1)) // 10 AS INT) + 1] AS lo,
         |     sv[CAST((9 * (n - 1)) // 10 AS INT) + 1] AS hi
         |   FROM s)
         | SELECT d0.lang, d0.doc_id, d0.n_chars AS score,
         |   greatest(b.lo, least(b.hi, d0.n_chars)) AS clipped
         | FROM documents d0 JOIN b ON b.lang = d0.lang
         | ORDER BY doc_id""".stripMargin,
    "qp_target_mix" ->
      s"""WITH w(source, w) AS (VALUES ('src0', 500000),
         |   ('src1', 300000), ('src2', 200000)),
         | sup AS (SELECT w.source, w.w,
         |     CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS supply
         |   FROM w LEFT JOIN documents d USING (source) GROUP BY 1, 2),
         | b AS (SELECT min(supply * 1000000 // w) AS b FROM sup),
         | plan AS (SELECT source, supply,
         |     CAST(b.b * w // 1000000 AS BIGINT) AS need,
         |     CAST(CASE WHEN supply = 0 THEN 0
         |       ELSE (b.b * w // 1000000) * 1000000 // supply END
         |       AS BIGINT) AS rate_ppm
         |   FROM sup CROSS JOIN b),
         | kept AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept,
         |     CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
         |   FROM documents d JOIN plan p USING (source)
         |   WHERE ${dH60("d.source || ':' || CAST(d.doc_id AS VARCHAR)")}
         |     % 1000000 < p.rate_ppm
         |   GROUP BY 1)
         | SELECT p.source, p.supply, p.need, p.rate_ppm,
         |   coalesce(k.n_kept, 0) AS n_kept,
         |   coalesce(k.kept_chars, 0) AS kept_chars
         | FROM plan p LEFT JOIN kept k USING (source)
         | ORDER BY source""".stripMargin,
    "qp_ks_drift" ->
      // both halves' KMV samples (the qp_psi_drift sample rule), KS
      // as the exact integer max-CDF-gap over the union of points
      s"""WITH h1 AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents WHERE doc_id < 250),
         | d1 AS (SELECT lang, hk, min(v) AS v FROM h1 GROUP BY lang, hk),
         | r1 AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d1),
         | s1 AS (SELECT lang, list(v) AS sa,
         |     CAST(count(*) AS BIGINT) AS n1
         |   FROM r1 WHERE rn <= 128 GROUP BY lang),
         | h2 AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents WHERE doc_id >= 250),
         | d2 AS (SELECT lang, hk, min(v) AS v FROM h2 GROUP BY lang, hk),
         | r2 AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d2),
         | s2 AS (SELECT lang, list(v) AS sb,
         |     CAST(count(*) AS BIGINT) AS n2
         |   FROM r2 WHERE rn <= 128 GROUP BY lang),
         | j AS (SELECT s1.lang, sa, n1, sb, n2
         |   FROM s1 JOIN s2 USING (lang)),
         | pts AS (SELECT lang, sa, n1, sb, n2,
         |     unnest(list_distinct(list_concat(sa, sb))) AS x FROM j),
         | gaps AS (SELECT lang, n1, n2,
         |     abs(CAST(len(list_filter(sa, e -> e <= x)) AS BIGINT) * n2
         |       - CAST(len(list_filter(sb, e -> e <= x)) AS BIGINT) * n1)
         |       AS gap
         |   FROM pts)
         | SELECT lang, n1 AS n_ref, n2 AS n_cur,
         |   CAST(max(gap) AS BIGINT) * 1000000 // (n1 * n2) AS ks_micro
         | FROM gaps GROUP BY lang, n1, n2 ORDER BY lang""".stripMargin,
    "qp_psi_drift" ->
      // reference-half quartile CTEs (the qp_quality_tiers sample,
      // restricted to doc_id < 250); add-half smoothing keeps empty
      // bands finite; per-band terms round to micro before the
      // order-free sum
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents WHERE doc_id < 250),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang),
         | b AS (SELECT lang,
         |     sv[CAST((1 * (n - 1)) // 4 AS INT) + 1] AS b1,
         |     sv[CAST((2 * (n - 1)) // 4 AS INT) + 1] AS b2,
         |     sv[CAST((3 * (n - 1)) // 4 AS INT) + 1] AS b3
         |   FROM s),
         | t AS (SELECT d0.lang,
         |     1 + (CASE WHEN d0.n_chars > b.b1 THEN 1 ELSE 0 END)
         |       + (CASE WHEN d0.n_chars > b.b2 THEN 1 ELSE 0 END)
         |       + (CASE WHEN d0.n_chars > b.b3 THEN 1 ELSE 0 END)
         |       AS tier,
         |     CASE WHEN d0.doc_id < 250 THEN 1 ELSE 0 END AS is_ref
         |   FROM documents d0 JOIN b ON b.lang = d0.lang),
         | grid AS (SELECT b.lang, u.tier FROM b
         |   CROSS JOIN (VALUES (1), (2), (3), (4)) u(tier)),
         | cnt AS (SELECT g.lang, g.tier,
         |     CAST(coalesce(sum(CASE WHEN t.is_ref = 1 THEN 1 END), 0)
         |       AS BIGINT) AS n_ref,
         |     CAST(coalesce(sum(CASE WHEN t.is_ref = 0 THEN 1 END), 0)
         |       AS BIGINT) AS n_cur
         |   FROM grid g LEFT JOIN t
         |     ON t.lang = g.lang AND t.tier = g.tier
         |   GROUP BY 1, 2),
         | tot AS (SELECT lang, CAST(sum(n_ref) AS BIGINT) AS tr,
         |     CAST(sum(n_cur) AS BIGINT) AS tc
         |   FROM cnt GROUP BY 1),
         | terms AS (SELECT c.lang, c.n_ref, c.n_cur,
         |     CAST(round((
         |         (CAST(c.n_ref AS DOUBLE) + 0.5)
         |           / (CAST(tt.tr AS DOUBLE) + 2.0)
         |         - (CAST(c.n_cur AS DOUBLE) + 0.5)
         |           / (CAST(tt.tc AS DOUBLE) + 2.0))
         |       * ln(((CAST(c.n_ref AS DOUBLE) + 0.5)
         |           / (CAST(tt.tr AS DOUBLE) + 2.0))
         |         / ((CAST(c.n_cur AS DOUBLE) + 0.5)
         |           / (CAST(tt.tc AS DOUBLE) + 2.0))) * 1e6, 0)
         |       AS BIGINT) AS tm
         |   FROM cnt c JOIN tot tt USING (lang))
         | SELECT lang, CAST(sum(n_ref) AS BIGINT) AS n_ref,
         |   CAST(sum(n_cur) AS BIGINT) AS n_cur,
         |   CAST(sum(tm) AS BIGINT) AS psi_micro
         | FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    "qp_psi_bands" ->
      // the same CTE chain, closing at the per-band terms instead of
      // the per-stratum sum
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents WHERE doc_id < 250),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang),
         | b AS (SELECT lang,
         |     sv[CAST((1 * (n - 1)) // 4 AS INT) + 1] AS b1,
         |     sv[CAST((2 * (n - 1)) // 4 AS INT) + 1] AS b2,
         |     sv[CAST((3 * (n - 1)) // 4 AS INT) + 1] AS b3
         |   FROM s),
         | t AS (SELECT d0.lang,
         |     1 + (CASE WHEN d0.n_chars > b.b1 THEN 1 ELSE 0 END)
         |       + (CASE WHEN d0.n_chars > b.b2 THEN 1 ELSE 0 END)
         |       + (CASE WHEN d0.n_chars > b.b3 THEN 1 ELSE 0 END)
         |       AS tier,
         |     CASE WHEN d0.doc_id < 250 THEN 1 ELSE 0 END AS is_ref
         |   FROM documents d0 JOIN b ON b.lang = d0.lang),
         | grid AS (SELECT b.lang, u.tier FROM b
         |   CROSS JOIN (VALUES (1), (2), (3), (4)) u(tier)),
         | cnt AS (SELECT g.lang, g.tier,
         |     CAST(coalesce(sum(CASE WHEN t.is_ref = 1 THEN 1 END), 0)
         |       AS BIGINT) AS n_ref,
         |     CAST(coalesce(sum(CASE WHEN t.is_ref = 0 THEN 1 END), 0)
         |       AS BIGINT) AS n_cur
         |   FROM grid g LEFT JOIN t
         |     ON t.lang = g.lang AND t.tier = g.tier
         |   GROUP BY 1, 2),
         | tot AS (SELECT lang, CAST(sum(n_ref) AS BIGINT) AS tr,
         |     CAST(sum(n_cur) AS BIGINT) AS tc
         |   FROM cnt GROUP BY 1)
         | SELECT c.lang, CAST(c.tier AS BIGINT) AS tier,
         |   c.n_ref, c.n_cur,
         |   CAST(round((
         |       (CAST(c.n_ref AS DOUBLE) + 0.5)
         |         / (CAST(tt.tr AS DOUBLE) + 2.0)
         |       - (CAST(c.n_cur AS DOUBLE) + 0.5)
         |         / (CAST(tt.tc AS DOUBLE) + 2.0))
         |     * ln(((CAST(c.n_ref AS DOUBLE) + 0.5)
         |         / (CAST(tt.tr AS DOUBLE) + 2.0))
         |       / ((CAST(c.n_cur AS DOUBLE) + 0.5)
         |         / (CAST(tt.tc AS DOUBLE) + 2.0))) * 1e6, 0)
         |     AS BIGINT) AS term_micro
         | FROM cnt c JOIN tot tt USING (lang)
         | ORDER BY lang, tier""".stripMargin,
    "qp_quality_tiers" ->
      // same bottom-k sample + integer rank boundaries as
      // qp_kmv_quantiles; boundary rows land in the LOWER tier
      s"""WITH h AS (SELECT lang, n_chars AS v,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents),
         | d AS (SELECT lang, hk, min(v) AS v FROM h GROUP BY lang, hk),
         | r AS (SELECT lang, hk, v,
         |     row_number() OVER (PARTITION BY lang ORDER BY hk) AS rn
         |   FROM d),
         | s AS (SELECT lang, list(v ORDER BY v) AS sv,
         |     CAST(count(*) AS BIGINT) AS n
         |   FROM r WHERE rn <= 128 GROUP BY lang),
         | b AS (SELECT lang,
         |     sv[CAST((1 * (n - 1)) // 4 AS INT) + 1] AS b1,
         |     sv[CAST((2 * (n - 1)) // 4 AS INT) + 1] AS b2,
         |     sv[CAST((3 * (n - 1)) // 4 AS INT) + 1] AS b3
         |   FROM s)
         | SELECT d0.lang, d0.doc_id, d0.n_chars AS score,
         |   CAST(1 + (CASE WHEN d0.n_chars > b.b1 THEN 1 ELSE 0 END)
         |     + (CASE WHEN d0.n_chars > b.b2 THEN 1 ELSE 0 END)
         |     + (CASE WHEN d0.n_chars > b.b3 THEN 1 ELSE 0 END)
         |     AS BIGINT) AS tier
         | FROM documents d0 JOIN b ON b.lang = d0.lang
         | ORDER BY doc_id""".stripMargin,
    "qp_pps_sample" ->
      // same hash-order circle, same all-integer keep rule (n = 50)
      s"""WITH h AS (SELECT doc_id, lang, n_chars,
         |     ${dH60("lang || ':' || CAST(doc_id AS VARCHAR)")} AS hk
         |   FROM documents),
         | c AS (SELECT doc_id, lang, n_chars,
         |     sum(n_chars) OVER (PARTITION BY lang ORDER BY hk, doc_id)
         |       AS cum,
         |     sum(n_chars) OVER (PARTITION BY lang) AS tot FROM h)
         | SELECT doc_id, lang, n_chars FROM c
         | WHERE (cum * 50) // tot > ((cum - n_chars) * 50) // tot
         | ORDER BY lang, doc_id""".stripMargin,
    "qp_pii_redact" ->
      // same injected PII, same regexes, same email->IP->phone order
      // (patterns interpolated from the TextOps constants)
      s"""WITH a AS (SELECT doc_id,
         |     text || ' contact user' || CAST(doc_id AS VARCHAR)
         |     || '@example.com'
         |     || CASE WHEN doc_id % 3 = 0 THEN ' host 10.0.'
         |          || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
         |     || CASE WHEN doc_id % 5 = 0 THEN ' call 555-01'
         |          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |          || '-4567' ELSE '' END AS t
         |   FROM documents),
         | r1 AS (SELECT doc_id, t,
         |     regexp_replace(t, '${TextOps.EmailRe}', '<EMAIL>', 'g')
         |       AS t1 FROM a),
         | r2 AS (SELECT doc_id, t, t1,
         |     regexp_replace(t1, '${TextOps.Ipv4Re}', '<IP>', 'g')
         |       AS t2 FROM r1)
         | SELECT doc_id,
         |   len(regexp_extract_all(t, '${TextOps.EmailRe}')) AS n_email,
         |   len(regexp_extract_all(t1, '${TextOps.Ipv4Re}')) AS n_ip,
         |   len(regexp_extract_all(t2, '${TextOps.PhoneRe}')) AS n_phone,
         |   md5(regexp_replace(t2, '${TextOps.PhoneRe}', '<PHONE>', 'g'))
         |     AS redacted_md5
         | FROM r2 ORDER BY doc_id""".stripMargin,
    "qp_media_meta" ->
      """SELECT doc_id AS media_id, 'image' AS media_type,
        |   octet_length(encode(text)) AS n_bytes,
        |   md5(text) AS content_hash
        | FROM documents ORDER BY media_id""".stripMargin,
    "qp_zipf_fit" ->
      // ln(rank) micro-units INTERPOLATED from the same Scala values
      // the engine uses (r11 ADVICE — the x side off both libms)
      s"""WITH t AS (SELECT ${dTokens("text")} AS tok FROM documents),
         | tt AS (SELECT unnest(tok) AS term FROM t),
         | f AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM tt
         |   GROUP BY term ORDER BY f DESC, term LIMIT 100),
         | rk AS (SELECT f,
         |   row_number() OVER (ORDER BY f DESC, term) AS r FROM f),
         | lnr AS (SELECT * FROM (VALUES ${
            TextOps.zipfLnRankMicros(100).zipWithIndex.map { case (v, i) =>
              s"(${i + 1}, ${v}::BIGINT)" }.mkString(", ")
          }) AS v(r, lx)),
         | ec AS (SELECT lnr.lx AS x, rk.f AS f,
         |     ${TextOps.lnExp2Case("rk.f")} AS e,
         |     ${TextOps.lnPow2Case("rk.f")} AS p2
         |   FROM rk JOIN lnr ON lnr.r = rk.r),
         | mc AS (SELECT x, e,
         |     CAST(f AS DOUBLE) / CAST(p2 AS DOUBLE) AS m FROM ec),
         | zc AS (SELECT x, e, (m - 1.0) / (m + 1.0) AS z FROM mc),
         | z2c AS (SELECT x, e, z, z * z AS z2 FROM zc),
         | xy AS (SELECT x,
         |     ${TextOps.lnMicrosExpr("e", "z", "z2")} AS y FROM z2c),
         | s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   sum(x) AS sx, sum(y) AS sy,
         |   sum(x*y) AS sxy, sum(x*x) AS sxx FROM xy),
         | sl AS (SELECT n, sx, sy,
         |   CAST(n * sxy - sx * sy AS DOUBLE) /
         |     CAST(n * sxx - sx * sx AS DOUBLE) AS slope FROM s)
         | SELECT n AS n_terms, round(slope, 6) AS slope,
         |   round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
         |     / CAST(n AS DOUBLE) / 1e6, 6) AS intercept
         | FROM sl""".stripMargin,
    // the decoded luma integers regenerated from doc_id (gray BMP
    // round trip is the identity), dHash bits compared per position,
    // brute-force all-pairs truth — any pair the banding wrongly
    // dropped fails the gate
    "qp_image_phash" ->
      s"""WITH ${phashDistCtes("ph")}
         | SELECT a_id, b_id, dist FROM dists
         | WHERE dist <= $PhMaxDist ORDER BY a_id, b_id""".stripMargin,
    // the JPEG gate replays the SAME pattern truth — the mixed BMP /
    // grayscale-JPEG / 4:2:0-JPEG corpus must pair format-blind
    "qp_jpeg_phash" ->
      s"""WITH ${phashDistCtes("jph")}
         | SELECT a_id, b_id, dist FROM dists
         | WHERE dist <= $PhMaxDist ORDER BY a_id, b_id""".stripMargin,
    // band amplitudes regenerated from doc_id (constant-amplitude
    // bands make the decoded-energy comparison equal the amplitude
    // comparison), fingerprint bits compared per position,
    // brute-force all-pairs truth
    "qp_audio_fingerprint" ->
      s"""WITH $audioDistCtes
         | SELECT a_id, b_id, dist FROM dists
         | WHERE dist <= $PhMaxDist ORDER BY a_id, b_id""".stripMargin,
    // the same brute-force audio distance truth fed through the
    // shared converged min-label replay — end-to-end audio dedup
    // clusters (r11, completing the image/audio parity)
    "qp_audio_dedup" ->
      s"""WITH $audioDistCtes,
         | p AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM dists
         |   WHERE dist <= $PhMaxDist),
         | u AS MATERIALIZED (SELECT a, b FROM p
         |   UNION ALL SELECT b, a FROM p),
         | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
         | ${minLabelRoundsSql(10)}
         | SELECT lbl AS cluster, count(*) AS n_members FROM l10
         | GROUP BY lbl ORDER BY cluster""".stripMargin,
    // per-frame brute-force Hamming truth, pair dist = the MAX aligned
    // frame distance (frame counts are all 3 by construction)
    "qp_gif_phash" ->
      s"""WITH $gifBitsCtes,
         | fd AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.f,
         |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS d
         |  FROM gbits x JOIN gbits y
         |    ON x.f = y.f AND x.bit_idx = y.bit_idx
         |      AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3),
         | dists AS (
         |  SELECT a_id, b_id, CAST(MAX(d) AS INT) AS dist
         |  FROM fd GROUP BY 1, 2)
         | SELECT a_id, b_id, dist FROM dists
         | WHERE dist <= $PhMaxDist ORDER BY a_id, b_id""".stripMargin,
    // brute-force truth over the offset window: per doc the trimmed
    // sequence (odd members drop frame 0 → positions renumber from
    // the next frame), EVERY pair × EVERY δ ∈ {−1,0,1} scored over
    // the complete overlap, best (dist, |δ|, δ) alignment kept
    "qp_video_offset" ->
      s"""WITH $gifBitsCtes,
         | vk AS (SELECT doc_id, CAST((doc_id // phg.n) % 2 AS INT) AS t
         |   FROM documents, phg),
         | vseq AS (SELECT g.doc_id, g.f - vk.t AS pos, g.bit_idx, g.bit
         |   FROM gbits g JOIN vk ON vk.doc_id = g.doc_id
         |   WHERE g.f >= vk.t),
         | vn AS (SELECT doc_id, 3 - t AS n FROM vk),
         | offs AS (SELECT * FROM (VALUES (-1), (0), (1)) o(d)),
         | fd AS (
         |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, o.d AS delta,
         |    x.pos,
         |    SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS fdist
         |  FROM (vseq x CROSS JOIN offs o) JOIN vseq y
         |    ON y.bit_idx = x.bit_idx AND y.pos = x.pos + o.d
         |      AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3, 4),
         | pd AS (
         |  SELECT a_id, b_id, delta, COUNT(*) AS aligned,
         |    MAX(fdist) AS dist
         |  FROM fd GROUP BY 1, 2, 3),
         | ok AS (
         |  SELECT pd.a_id, pd.b_id, pd.delta, pd.dist
         |  FROM pd JOIN vn na ON na.doc_id = pd.a_id
         |    JOIN vn nb ON nb.doc_id = pd.b_id
         |  WHERE abs(na.n - nb.n) <= 1
         |    AND pd.aligned = least(na.n, nb.n - pd.delta)
         |      - greatest(0, -pd.delta)
         |    AND pd.dist <= $PhMaxDist),
         | best AS (
         |  SELECT a_id, b_id, delta, dist,
         |    row_number() OVER (PARTITION BY a_id, b_id
         |      ORDER BY dist, abs(delta), delta) AS rn
         |  FROM ok)
         | SELECT a_id, b_id, CAST(delta AS INT) AS delta,
         |   CAST(dist AS INT) AS dist
         | FROM best WHERE rn = 1 ORDER BY a_id, b_id""".stripMargin,
    // the 60-bit rotate-XOR fold replayed with plain BIGINT arithmetic:
    // p_f = the dHash's low 60 bits (bits 60-63 vanish mod 2^60), the
    // three folds unrolled in frame order
    "qp_gif_sequence" ->
      s"""WITH $gifBitsCtes,
         | hv AS (
         |  SELECT doc_id, f,
         |    CAST(SUM(CASE WHEN bit_idx < 60
         |      THEN CAST(bit AS BIGINT) << bit_idx ELSE 0 END)
         |      AS BIGINT) AS p
         |  FROM gbits GROUP BY 1, 2),
         | w AS (SELECT h0.doc_id, h0.p AS p0, h1.p AS p1, h2.p AS p2
         |   FROM hv h0 JOIN hv h1 ON h1.doc_id = h0.doc_id
         |     JOIN hv h2 ON h2.doc_id = h0.doc_id
         |   WHERE h0.f = 0 AND h1.f = 1 AND h2.f = 2),
         | s1 AS (SELECT doc_id, p1, p2, p0 AS fp FROM w),
         | s2 AS (SELECT doc_id, p2,
         |   xor((fp % 9007199254740992) * 128 + fp // 9007199254740992,
         |     p1) AS fp FROM s1),
         | s3 AS (SELECT doc_id,
         |   xor((fp % 9007199254740992) * 128 + fp // 9007199254740992,
         |     p2) AS fp FROM s2)
         | SELECT doc_id AS media_id, CAST(3 AS INT) AS n_frames,
         |   CAST(fp AS BIGINT) AS seq_fp
         | FROM s3 ORDER BY media_id""".stripMargin,
    // the (index, batch) cross slice of the same brute-force distance
    // truth: pairs with EXACTLY one held-out-side member, oriented
    // (index id, batch id) the way the probe reports them
    "qp_phash_index" ->
      s"""WITH ${phashDistCtes("ph")}
         | SELECT
         |   CASE WHEN dists.a_id % 10 = 7 THEN dists.b_id
         |     ELSE dists.a_id END AS a_id,
         |   CASE WHEN dists.a_id % 10 = 7 THEN dists.a_id
         |     ELSE dists.b_id END AS b_id,
         |   dist
         | FROM dists
         | WHERE dist <= $PhMaxDist
         |   AND ((dists.a_id % 10 = 7) <> (dists.b_id % 10 = 7))
         | ORDER BY a_id, b_id""".stripMargin,
    // the mixed-format (jph) pattern truth through the shared
    // converged min-label replay — clusters must be format-blind
    "qp_jpeg_dedup" ->
      s"""WITH ${phashDistCtes("jph")},
         | p AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM dists
         |   WHERE dist <= $PhMaxDist),
         | u AS MATERIALIZED (SELECT a, b FROM p
         |   UNION ALL SELECT b, a FROM p),
         | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
         | ${minLabelRoundsSql(10)}
         | SELECT lbl AS cluster, count(*) AS n_members FROM l10
         | GROUP BY lbl ORDER BY cluster""".stripMargin,
    "qp_image_dedup" ->
      s"""WITH ${phashDistCtes("ph")},
         | p AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM dists
         |   WHERE dist <= $PhMaxDist),
         | u AS MATERIALIZED (SELECT a, b FROM p
         |   UNION ALL SELECT b, a FROM p),
         | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM u),
         | ${minLabelRoundsSql(10)}
         | SELECT lbl AS cluster, count(*) AS n_members FROM l10
         | GROUP BY lbl ORDER BY cluster""".stripMargin,
    "qp_text_quality2" ->
      s"""WITH t AS (SELECT doc_id, text, ${dTokens("text")} tok
         |   FROM documents),
         | g AS (SELECT doc_id, text,
         |   CASE WHEN len(tok) >= 2 THEN
         |     list_transform(range(len(tok)-1),
         |       i -> tok[i+1] || ' ' || tok[i+2])
         |   ELSE [] END AS grams FROM t)
         | SELECT doc_id,
         |   md5(trim(regexp_replace(regexp_replace(lower(text),
         |     '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS norm_hash,
         |   round(CASE WHEN len(grams) = 0 THEN 0.0
         |     ELSE 1.0 - len(list_distinct(grams)) * 1.0 / len(grams)
         |   END, 6) AS dup_bigram_frac
         | FROM g ORDER BY doc_id""".stripMargin,
    "qp_substring_search" ->
      // the SEMANTIC spec, not the plan: the indexed path must
      // reproduce brute-force contains exactly
      """SELECT doc_id FROM documents WHERE contains(text, 'spark data')
        | ORDER BY doc_id""".stripMargin,
    "qp_text_fingerprint" ->
      s"""SELECT doc_id, array_to_string(
         |   list_sort(list_transform(${dShingles("text")},
         |     x -> ${dH60("x")}))[1:4], '-') AS fp
         | FROM documents ORDER BY doc_id""".stripMargin,
    "qp_chunk_docs" ->
      // same integer chunk count: 1 + ceil((n-20)/15) via //, slices
      // clamp at the token-array end on both engines
      s"""WITH t AS (SELECT doc_id, ${dTokens("text")} AS tok
         |   FROM documents),
         | n AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n
         |   FROM t WHERE len(tok) > 0),
         | c AS (SELECT doc_id, tok, n,
         |   unnest(range(1 + greatest(0, (n - 20 + 15 - 1) // 15)))
         |     AS chunk_id FROM n)
         | SELECT doc_id, chunk_id,
         |   array_to_string(tok[chunk_id*15+1 : chunk_id*15+20], ' ')
         |     AS chunk_text,
         |   CAST(len(tok[chunk_id*15+1 : chunk_id*15+20]) AS BIGINT)
         |     AS n_tokens
         | FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "qp_oov_rate" ->
      // same top-500 vocab cut (count desc, token asc tie-break)
      s"""WITH tok AS (SELECT doc_id, unnest(${dTokens("text")}) AS t
         |   FROM documents),
         | freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         | voc AS (SELECT t FROM freq
         |   ORDER BY c DESC, t LIMIT 500)
         | SELECT doc_id, count(*) AS n_tokens,
         |   count(CASE WHEN voc.t IS NULL THEN 1 END) AS n_oov,
         |   round(count(CASE WHEN voc.t IS NULL THEN 1 END) * 1.0
         |     / count(*), 6) AS oov_rate
         | FROM tok LEFT JOIN voc USING (t)
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "qp_c4_rules" ->
      // same re-lining regex (RE2 ≡ Java semantics for this pattern),
      // same keeper rule: min(doc_id*1e6 + pos) per distinct line
      s"""WITH lined AS (SELECT doc_id, regexp_replace(text,
         |     '((\\S+ ){7}\\S+) ', '\\1' || chr(10), 'g') AS lt
         |   FROM documents),
         | ll AS (SELECT doc_id, string_split(lt, chr(10)) AS ls
         |   FROM lined),
         | ln AS (SELECT doc_id,
         |     generate_subscripts(ls, 1) - 1 AS pos,
         |     unnest(ls) AS line FROM ll),
         | lf AS (SELECT doc_id, pos, line,
         |     ${dTokens("line")} AS tok,
         |     doc_id * 1000000 + pos AS key FROM ln),
         | grp AS (SELECT line, count(*) AS c, min(key) AS keeper
         |   FROM lf GROUP BY line),
         | fl AS (SELECT lf.doc_id,
         |     (len(tok) < 3) AS short,
         |     list_contains(tok, 'slow') AS blocked,
         |     (c > 1 AND key <> keeper) AS dup
         |   FROM lf JOIN grp USING (line))
         | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |   CAST(sum(CASE WHEN short THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_short,
         |   CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_blocked,
         |   CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_dup,
         |   CAST(sum(CASE WHEN NOT (short OR blocked OR dup)
         |     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |   CASE WHEN sum(CASE WHEN NOT (short OR blocked OR dup)
         |     THEN 1 ELSE 0 END) >= 3 THEN 1 ELSE 0 END AS pass
         | FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "qp_quality_gate" ->
      s"""WITH ${dQualityCtes("documents")}
         | SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
         |   dup_bigram_frac,
         |   CASE WHEN $dQualityPass THEN 1 ELSE 0 END AS pass
         | FROM m ORDER BY doc_id""".stripMargin,
    "qp_curation_report" ->
      // the round-6 stages composed: gate → decontaminate → scrub →
      // trained-LR keep (margin ≥ slice MEAN margin, integer
      // cross-multiplied, on the SCRUBBED text; model =
      // the dLrCtes weights) → chunk, every count integer-exact (the
      // PII scrub is mirrored even though the synthetic corpus is
      // clean — fidelity over shortcuts)
      s"""$dLrCtes,
         | base AS (SELECT doc_id, text FROM documents
         |   WHERE doc_id >= 20),
         | ${dQualityCtes("base")},
         | keep AS (SELECT doc_id FROM m WHERE $dQualityPass),
         | gated AS (SELECT b.doc_id, b.text FROM base b
         |   JOIN keep USING (doc_id)),
         | gg AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM
         |   (SELECT doc_id, ${dTokens("text")} AS tok FROM gated)),
         | eg AS (SELECT DISTINCT unnest(CASE WHEN len(tok) >= 3 THEN
         |     list_transform(range(len(tok)-2),
         |       i -> tok[i+1] || ' ' || tok[i+2] || ' ' || tok[i+3])
         |   ELSE [] END) AS gram FROM
         |   (SELECT ${dTokens("text")} AS tok FROM documents
         |     WHERE doc_id < 20)),
         | contam AS (SELECT DISTINCT gg.doc_id FROM gg
         |   JOIN eg USING (gram)),
         | clean AS MATERIALIZED (SELECT doc_id,
         |   regexp_replace(regexp_replace(regexp_replace(text,
         |     '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |     '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |     '${TextOps.PhoneRe}', '<PHONE>', 'g') AS text
         |   FROM gated WHERE doc_id NOT IN
         |     (SELECT doc_id FROM contam)),
         | ctb AS (SELECT doc_id, ${dH60("x")} % 32 AS b FROM (
         |   SELECT doc_id, unnest(${dTokens("text")}) AS x FROM clean)),
         | ccnt AS (SELECT doc_id, b, count(*) AS n FROM ctb
         |   GROUP BY 1, 2),
         | cdl AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS len
         |   FROM ccnt GROUP BY 1),
         | cfx AS (SELECT c.doc_id, c.b,
         |     (2000 * c.n + d2.len) // (2 * d2.len) AS x
         |   FROM ccnt c JOIN cdl d2 USING (doc_id)),
         | csc AS MATERIALIZED (SELECT f.doc_id,
         |     CAST(sum(f.x * w.w) AS BIGINT)
         |     + 1000 * (SELECT w FROM w3 WHERE b = 32) AS score
         |   FROM cfx f JOIN w3 w USING (b) GROUP BY 1),
         | cst AS (SELECT CAST(sum(score) AS HUGEINT) AS total,
         |     count(*) AS nn FROM csc),
         | kept AS MATERIALIZED (SELECT c.doc_id, c.text FROM clean c
         |   JOIN csc USING (doc_id) CROSS JOIN cst
         |   WHERE CAST(csc.score AS HUGEINT) * cst.nn >= cst.total),
         | cn AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n FROM
         |   (SELECT doc_id, ${dTokens("text")} AS tok FROM kept)
         |   WHERE len(tok) > 0),
         | ch AS (SELECT doc_id, tok, n,
         |   unnest(range(1 + greatest(0, (n - 20 + 15 - 1) // 15)))
         |     AS k FROM cn),
         | chc AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         |   CAST(coalesce(sum(len(tok[k*15+1 : k*15+20])), 0) AS BIGINT)
         |     AS n_chunk_tokens FROM ch)
         | SELECT (SELECT count(*) FROM base) AS n_input,
         |   (SELECT count(*) FROM keep) AS n_quality,
         |   (SELECT count(*) FROM clean) AS n_clean,
         |   (SELECT count(*) FROM kept) AS n_lr_kept,
         |   n_chunks, n_chunk_tokens FROM chc""".stripMargin
  )

  /** quality-gate signal CTEs over `src(doc_id, text)` → CTE `m`;
    * stop-probe terms generated from the same Scala list the Spark
    * side uses, thresholds compare the ROUNDED signal values. */
  private def dQualityCtes(src: String): String = {
    val stopTerms = TextOps.StopProbe.map(w =>
      s"CASE WHEN list_contains(tok, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""tq AS (SELECT doc_id, lower(text) AS lt,
       |     ${dTokens("text")} AS tok FROM $src),
       | gq AS (SELECT doc_id, lt, tok,
       |   CASE WHEN len(tok) >= 2 THEN
       |     list_transform(range(len(tok)-1),
       |       i -> tok[i+1] || ' ' || tok[i+2])
       |   ELSE [] END AS grams FROM tq),
       | m AS (SELECT doc_id,
       |   CAST(len(tok) AS BIGINT) AS n_words,
       |   round(length(regexp_replace(lt, '\\s+', '', 'g')) * 1.0
       |     / len(tok), 6) AS mean_word_len,
       |   round(len(list_filter(tok, x -> regexp_matches(x, '[a-z]')))
       |     * 1.0 / len(tok), 6) AS alpha_frac,
       |   ($stopTerms) AS stop_hits,
       |   round(CASE WHEN len(grams) = 0 THEN 0.0
       |     ELSE 1.0 - len(list_distinct(grams)) * 1.0 / len(grams)
       |   END, 6) AS dup_bigram_frac
       |  FROM gq)""".stripMargin
  }

  // lazy: referenced from the oracle map, which may initialize first
  private lazy val dQualityPass =
    """n_words BETWEEN 50 AND 100000
      |     AND mean_word_len BETWEEN 3.0 AND 10.0
      |     AND alpha_frac >= 0.8 AND stop_hits >= 2
      |     AND dup_bigram_frac <= 0.2""".stripMargin
}

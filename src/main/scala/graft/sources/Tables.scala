package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided deterministic parquet tables
  * (TESTDATA.md). The engine treats each table as a "class" in the
  * reference's sense (SURVEY.md §1.1: class → one table; cluster →
  * partition of the table); a scale-out deployment would point these
  * at partitioned/bucketed parquet or Delta roots instead of single
  * files — the API takes a directory, never a hard-coded path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (which Spark refuses
      // by default — read nanos as long, truncate to micros, the same
      // truncation DuckDB applies casting ns -> us) and as plain
      // TIMESTAMP(MICROS) in later testdata generations. Adapt to the
      // actual physical type instead of assuming one generation.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = read(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer division: (col / 1000L) is a double Divide whose 2^53
          // mantissa can't hold ~1.7e18 ns epochs exactly; `div` stays integral
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // parquet isAdjustedToUTC=false infers TIMESTAMP_NTZ, which
          // unix_micros()/window() reject; every session in this repo
          // pins UTC, so the NTZ->LTZ cast is instant-preserving and
          // downstream code keeps seeing the one TIMESTAMP type
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw // already TIMESTAMP (ltz)
      }
    } else read(spark, s"$dir/$name.parquet")
  }

  /** Inferred schemas per session, keyed by (path, modification time,
    * length) of the file or of the files under a directory. Inference
    * runs a one-task footer-reading job; a read with a known schema runs
    * none. Weak on the session, so a stopped session's entries go. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, Long, Long), StructType]]())

  /** A fresh relation (new attribute ids on every call — self-joins
    * rely on it) over `path`, inferring its schema once per version. */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path) // Spark's own error
    val st = fs.getFileStatus(p)
    val (mtime, len) =
      if (!st.isDirectory) (st.getModificationTime, st.getLen)
      else {
        var m, l = 0L
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          m = math.max(m, f.getModificationTime)
          l += f.getLen
        }
        (m, l)
      }
    val bySession = schemas.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty)
    val schema = bySession.getOrElseUpdate((path, mtime, len),
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}

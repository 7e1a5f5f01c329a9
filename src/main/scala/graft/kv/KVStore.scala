package graft.kv

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Key/value bucket surface (SURVEY.md §2.1: the reference's
  * memcached-style KV HTTP server, `kv/.../OKVServerCommandGetEntry
  * .java:25-70` + Post/Delete). A bucket is an in-memory map on the
  * driver, one per (db, bucket) pair, so a point op is one map lookup,
  * as in the reference: no query plan, no Spark job. `asDataFrame`
  * hands analytics an immutable snapshot of a bucket (the Couchbase
  * Analytics split: point ops on the KV engine, analytics on a derived
  * copy). Safe for concurrent callers; a snapshot taken while another
  * caller writes sees each entry either before or after its write. */
final class KVStore(spark: SparkSession) {
  private val schema = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType)))
  // the map cannot hold a null value, so values are boxed: Some(null)
  // is a stored null value, and get returns it as such
  private val buckets =
    new ConcurrentHashMap[(String, String), ConcurrentHashMap[String, Some[String]]]()

  private def bucket(db: String, name: String) =
    buckets.computeIfAbsent((db, name), _ => new ConcurrentHashMap())

  def put(db: String, bucketName: String, key: String, value: String): Unit = {
    if (key == null) throw new IllegalArgumentException("KV key must not be null")
    bucket(db, bucketName).put(key, Some(value))
  }

  def get(db: String, bucketName: String, key: String): Option[String] =
    if (key == null) None else Option(bucket(db, bucketName).get(key)).flatten

  def delete(db: String, bucketName: String, key: String): Boolean =
    key != null && bucket(db, bucketName).remove(key) != null

  def keys(db: String, bucketName: String): Seq[String] =
    bucket(db, bucketName).keySet.asScala.toVector

  /** analytics view of a bucket: a snapshot, so later writes do not
    * reach a frame already returned. */
  def asDataFrame(db: String, bucketName: String): DataFrame =
    spark.createDataFrame(bucket(db, bucketName).asScala.iterator
      .map { case (k, v) => Row(k, v.value) }.toVector.asJava, schema)
}

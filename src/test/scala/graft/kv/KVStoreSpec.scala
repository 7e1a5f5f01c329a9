package graft.kv

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.engine.{Catalog, GraftSession}

class KVStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("kv bucket get/put/delete/keys") {
    val kv = new KVStore(spark)
    kv.put("db", "b1", "k1", "v1")
    kv.put("db", "b1", "k2", "v2")
    kv.put("db", "b1", "k1", "v1b") // overwrite
    assert(kv.get("db", "b1", "k1").contains("v1b"))
    assert(kv.get("db", "b1", "nope").isEmpty)
    assert(kv.keys("db", "b1").toSet == Set("k1", "k2"))
    assert(kv.delete("db", "b1", "k2"))
    assert(!kv.delete("db", "b1", "k2"))
    assert(kv.asDataFrame("db", "b1").count() == 1)
    // buckets are namespaced per db
    kv.put("db2", "b1", "k1", "other")
    assert(kv.get("db", "b1", "k1").contains("v1b"))
  }

  test("many point writes keep the bucket plan bounded") {
    val kv = new KVStore(spark)
    for (i <- 1 to 100)
      kv.put("db", "flat", s"k${i % 20}", s"v$i")
    // periodic checkpointing truncates the filter/union chain: the
    // logical plan must stay shallow instead of growing one
    // filter+union pair per write
    val plan = kv.asDataFrame("db", "flat").queryExecution.logical
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      1 + (if (p.children.isEmpty) 0
        else p.children.map(c =>
          depth(c.asInstanceOf[org.apache.spark.sql.catalyst.trees.TreeNode[_]])).max)
    assert(depth(plan) <= 16, s"plan depth ${depth(plan)}")
    // and the data is still right: 20 live keys, latest values win
    assert(kv.asDataFrame("db", "flat").count() == 20)
    assert(kv.get("db", "flat", "k0").contains("v100"))
  }

  test("point ops run no Spark job") {
    val kv = new KVStore(spark)
    val jobs = SparkTestSession.jobsDuring {
      for (i <- 1 to 100) kv.put("db", "hot", s"k$i", s"v$i")
      for (i <- 1 to 100) assert(kv.get("db", "hot", s"k$i").contains(s"v$i"))
      for (i <- 1 to 10) assert(kv.delete("db", "hot", s"k$i"))
    }
    assert(jobs == 0)
    assert(kv.keys("db", "hot").size == 90)
  }

  test("bucket names containing a slash do not collide") {
    val kv = new KVStore(spark)
    kv.put("a/b", "c", "k", "1")
    kv.put("a", "b/c", "k", "2")
    assert(kv.get("a/b", "c", "k").contains("1"))
    assert(kv.get("a", "b/c", "k").contains("2"))
  }

  test("a null key is rejected and leaves the bucket intact") {
    val kv = new KVStore(spark)
    kv.put("db", "b", "k1", "v1")
    kv.put("db", "b", "k2", "v2")
    intercept[IllegalArgumentException](kv.put("db", "b", null, "x"))
    assert(kv.keys("db", "b").toSet == Set("k1", "k2"))
    assert(kv.get("db", "b", null).isEmpty)
    assert(!kv.delete("db", "b", null))
  }

  test("a null value round-trips; asDataFrame is a snapshot") {
    val kv = new KVStore(spark)
    kv.put("db", "b", "k1", null)
    assert(kv.get("db", "b", "k1") == Some(null))
    val before = kv.asDataFrame("db", "b")
    kv.put("db", "b", "k2", "v2")
    assert(before.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("k1", null)))
    assert(kv.asDataFrame("db", "b").count() == 2)
    assert(before.schema == kv.asDataFrame("db", "b").schema)
    assert(!before.schema("key").nullable && before.schema("value").nullable)
  }

  test("grant/revoke maintains the ACL catalog") {
    val g = new GraftSession(spark, new Catalog(spark))
    g.command("grant READ on database.class.customer to reader")
    g.command("grant UPDATE on database.class.customer to writer")
    assert(g.catalog.acl(("reader", "database.class.customer")) == Set("READ"))
    g.command("revoke READ on database.class.customer from reader")
    assert(g.catalog.acl(("reader", "database.class.customer")).isEmpty)
  }
}

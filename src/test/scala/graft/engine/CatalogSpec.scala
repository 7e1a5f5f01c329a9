package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.jobsDuring

/** The catalog's class versions: one analysed plan per version, one job
  * per UPDATE/DELETE, none per INSERT, and the delta that INSERT rows
  * wait in until the next UPDATE/DELETE folds them in. */
class CatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def testdata(): GraftSession = GraftSession.forTestdata(spark, sf)

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case p => p }.size

  private def customerInsert(k: Int): String =
    "insert into customer (c_custkey, c_name, c_nationkey, c_acctbal, " +
      s"c_mktsegment) values ($k, 'Customer#$k', ${k % 25}, 10.5, 'BUILDING')"

  test("in-memory UPDATE and DELETE launch one job each, INSERT none") {
    val g = testdata()
    g.catalog.table("customer") // the schema inference of the first load
    def jobs(sql: String): (Int, Long) = {
      var n = -1L
      val j = jobsDuring { n = g.command(sql).collect().head.getLong(0) }
      (j, n)
    }
    // the first INSERT adds `_version` (a new column), later ones
    // append to the delta; neither launches a job
    assert(jobs(customerInsert(1000)) == ((0, 1L)))
    assert(jobs(customerInsert(1001)) == ((0, 1L)))
    assert(jobs("update customer set c_acctbal = 1.0 where c_custkey = 1001")
      == ((1, 1L)))
    assert(jobs("delete from customer where c_custkey >= 1000") == ((1, 2L)))
    assert(jobs("update customer set c_acctbal = 2.0 where c_custkey < 3")
      == ((1, 3L)))
    assert(jobs(customerInsert(1002)) == ((0, 1L)))
    assert(jobs("delete from customer where c_custkey = 77") == ((1, 1L)))
    assert(g.query("select from customer").count() == 150)
    assert(g.query("select c_custkey from customer where c_acctbal = 2.0")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("two table calls at one version: no job, fresh ids, self-join") {
    val g = testdata()
    g.catalog.table("customer")
    var a, b: DataFrame = null
    assert(jobsDuring {
      a = g.catalog.table("customer")
      b = g.catalog.table("customer")
    } == 0)
    val ids = (d: DataFrame) => d.queryExecution.analyzed.output.map(_.exprId)
    assert(ids(a).intersect(ids(b)).isEmpty)
    assert(a.join(b, a("c_custkey") === b("c_custkey")).count() == 150)
    // the same after a write put the class on a delta
    g.command(customerInsert(2000))
    val c = g.catalog.table("customer")
    val d = g.catalog.table("customer")
    assert(ids(c).intersect(ids(d)).isEmpty)
    assert(c.join(d, c("_rid") === d("_rid")).count() == 151)
  }

  test("100 mixed writes keep the class's plan and partitions bounded") {
    val g = testdata()
    var expected = 150L
    (0 until 100).foreach { i =>
      i % 3 match {
        case 0 =>
          g.command(customerInsert(3000 + i)); expected += 1
        case 1 =>
          g.command(s"update customer set c_acctbal = $i where " +
            s"c_custkey = ${3000 + i - 1}")
        case _ =>
          expected -= g.command(s"delete from customer where c_custkey = $i")
            .collect().head.getLong(0)
      }
      val scan = g.browseClass("customer")
      // the first INSERT adds `_version`, a new column: a lazy by-name
      // union until the first UPDATE materialises it; later versions
      // are a checkpoint, or a checkpoint and its delta
      assert(planNodes(scan) <= (if (i == 0) 12 else 4), s"after write $i")
      assert(scan.rdd.getNumPartitions <= 3, s"after write $i")
    }
    assert(g.browseClass("customer").count() == expected)
    // each inserted row carries the balance its update wrote (the last
    // insert, 3099, has none)
    val balances = g.query("select c_custkey, c_acctbal from customer " +
        "where c_custkey >= 3000").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(balances == (0 until 100 by 3).map(i =>
      (3000L + i) -> (if (i == 99) 10.5 else i + 1.0)).toMap)
  }

  test("a refused UPDATE leaves the rows and the version unchanged") {
    val g = new GraftSession(spark, new Catalog(spark))
    g.command("create class Acc")
    g.catalog.setProperty(PropertyDef("Acc", "bal", "INTEGER",
      max = Some("500")))
    g.command("insert into Acc (id, bal) values (1, 100)")
    g.command("insert into Acc (id, bal) values (2, 200)")
    g.command("update Acc set bal = 300 where id = 2")
    val version = g.catalog.get("Acc")
    def rows = g.query("select id, bal from Acc order by id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = rows
    val e = intercept[ValidationException](
      g.command("update Acc set bal = 900 where id = 1"))
    assert(e.getMessage == "The field Acc.bal is major than 500")
    assert(g.catalog.get("Acc") eq version)
    assert(rows == before && before == Seq((1L, 100L), (2L, 300L)))
    // a statement that hits no violating row still goes through
    assert(g.command("update Acc set bal = 400 where id = 1")
      .collect().head.getLong(0) == 1L)
  }

  test("rollback restores the pre-transaction rows") {
    val g = new GraftSession(spark, new Catalog(spark))
    g.command("create class Led")
    g.command("insert into Led (id, v) values (1, 'keep')")
    g.command("insert into Led (id, v) values (2, 'also')")
    def rows = g.query("select id, v from Led order by id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = rows
    g.begin()
    g.command("insert into Led (id, v) values (3, 'new')")
    g.command("update Led set v = 'changed' where id = 1")
    g.command("delete from Led where id = 2")
    g.command("insert into Led (id, v) values (4, 'newer')")
    assert(rows == Seq((1L, "changed"), (3L, "new"), (4L, "newer")))
    g.rollback()
    assert(rows == before)
    // and the class keeps taking writes on the restored version
    g.command("insert into Led (id, v) values (5, 'after')")
    assert(rows == before :+ ((5L, "after")))
  }

  test("BEFORE/AFTER_UPDATE hooks see exactly the hit rows") {
    val g = new GraftSession(spark, new Catalog(spark))
    g.command("create class H")
    (1 to 4).foreach(i => g.command(s"insert into H (id, x) values ($i, 'a')"))
    var seen = Map.empty[String, Seq[(Long, String)]]
    def capture(tag: String)(cls: String, df: DataFrame): DataFrame = {
      seen += tag -> df.select("id", "x").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      df
    }
    g.hooks.register(Hooks.BeforeUpdate, capture("before"))
    g.hooks.register(Hooks.AfterUpdate, capture("after"))
    g.command("update H set x = 'b' where id >= 3")
    assert(seen("before") == Seq((3L, "a"), (4L, "a")))
    assert(seen("after") == Seq((3L, "b"), (4L, "b")))
  }

  test("sql registers a class's view again only for a new version") {
    val g = testdata()
    val views = spark.sessionState.catalog
    g.sql("select count(*) from region").collect()
    val first = views.getRawTempView("region").get
    assert(g.sql("select count(*) from region").collect().head.getLong(0) == 5)
    assert(views.getRawTempView("region").get eq first)
    g.command("delete from region where r_regionkey = 0")
    assert(g.sql("select count(*) from region").collect().head.getLong(0) == 4)
    assert(!(views.getRawTempView("region").get eq first))
    // the view keeps the stored columns only
    assert(!g.sql("select * from region").columns.contains("_class"))
    // another session's view of the same name is replaced by ours
    testdata().sql("select 1").collect()
    assert(g.sql("select count(*) from region").collect().head.getLong(0) == 4)
  }
}

package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, Project, Repartition, Sort}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}

/** ORDER BY output order. A dialect ORDER BY without LIMIT over
  * broadcast-sized inputs sorts in one task; everything else is Spark's
  * global range-partitioned sort. Both must return the same rows in the
  * same order. The global path is forced by disabling the broadcast
  * threshold; rows whose sort keys tie may come in any order, so each
  * run of equal keys is compared as a multiset. */
class OrderBySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val tpch = GraftSession.forTestdata(spark, sf)

  private def globalSort[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  /** the statement's projection and ORDER BY sort, from the top of the
    * analyzed plan (below a LIMIT); None without an ORDER BY */
  private def topSort(df: DataFrame): Option[(Seq[NamedExpression], Sort)] =
    df.queryExecution.analyzed match {
      case Project(l, s: Sort) => Some(l -> s)
      case Limit(_, Project(l, s: Sort)) => Some(l -> s)
      case _ => None
    }

  /** output positions of the ORDER BY keys: each key is an output
    * column, directly or under an alias */
  private def keyPositions(df: DataFrame): Seq[Int] = {
    val (list, sort) = topSort(df).getOrElse(
      fail(s"no ORDER BY:\n${df.queryExecution.analyzed}"))
    sort.order.map { o =>
      val id = o.child match {
        case a: Attribute => a.exprId
        case other => fail(s"sort key $other is not a column")
      }
      val i = list.indexWhere {
        case a: Attribute => a.exprId == id
        case Alias(a: Attribute, _) => a.exprId == id
        case _ => false
      }
      assert(i >= 0, s"sort key ${o.child} is not in the output")
      i
    }
  }

  /** consecutive runs of equal sort keys, each run's rows as a multiset */
  private def runs(rows: Seq[Row], keys: Seq[Int]): Seq[(Seq[Any], Seq[String])] =
    rows.foldLeft(Vector.empty[(Seq[Any], Vector[String])]) { (acc, r) =>
      val k = keys.map(r.get)
      acc.lastOption match {
        case Some((last, rs)) if last == k => acc.init :+ (last -> (rs :+ r.toString))
        case _ => acc :+ (k -> Vector(r.toString))
      }
    }.map { case (k, rs) => k -> rs.sorted }

  private def oneTask(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case s: Sort => !s.global && s.child.isInstanceOf[Repartition]
      case _ => false
    }

  private def rangeExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.toLowerCase
      .contains("rangepartitioning")

  /** when `df` sorts in one task, asserts that `rebuild` under the
    * forced global sort returns the same ordered output. Returns
    * (one-task path taken, the global plan has a range exchange). */
  private def sameOrder(what: String, df: DataFrame)(
      rebuild: => DataFrame): (Boolean, Boolean) = {
    if (!oneTask(df)) return (false, rangeExchange(df))
    assert(!rangeExchange(df), s"$what: one-task plan has a range exchange:\n" +
      df.queryExecution.executedPlan)
    val keys = keyPositions(df)
    val got = runs(df.collect().toSeq, keys)
    globalSort {
      val g = rebuild
      assert(!oneTask(g), s"$what: the disabled threshold still sorts in one task")
      assert(runs(g.collect().toSeq, keys) == got,
        s"$what: the one-task sort diverged from the global sort")
      (true, rangeExchange(g))
    }
  }

  test("every qd_* query with ORDER BY returns the global sort's order") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("qd_")).toSeq.sorted
    val checked = names.flatMap { n =>
      def q = SparkEntry.queries(n)(spark, sf)
      val df = q
      topSort(df).map(_ => n -> sameOrder(n, df)(q))
    }.toMap
    assert(checked.size >= 40, checked.keys.toSeq.sorted)
    assert(checked.values.count(_._1) >= 30, checked)
    // plain class targets always fit at this scale
    for (n <- Seq("qd_chains", "qd_like_in_parens", "qd_link_nav",
        "qd_multilink_contains", "qd_traverse", "qd_containstext"))
      assert(checked(n)._1, s"$n: expected the one-task sort")
    assert(!checked("qd_select_filter_sort")._1, "LIMIT keeps its top-k plan")
  }

  /** the read shapes of the `doc_oltp` benchmark workload */
  private val reads = Seq(
    "filter_sort" -> ("select c_custkey, c_name, c_acctbal from customer where " +
      "c_mktsegment = 'BUILDING' and c_acctbal > 100 order by c_custkey limit 50"),
    "link_nav" -> ("select c_custkey, nation.n_name as nn, nation.region.r_name " +
      "as rn from customer where nation.region.r_name = 'ASIA' order by c_custkey"),
    "multilink_contains" -> ("select c_custkey, c_name from customer where " +
      "orders contains (o_totalprice > 300000) order by c_custkey"),
    "traverse" -> ("select c_custkey from customer where any() traverse(1,2) " +
      "(r_name = 'EUROPE') order by c_custkey"),
    "containstext" -> ("select doc_id from documents where text containstext " +
      "'spark stream' order by doc_id"),
    "orders_filter" -> ("select o_orderkey, o_totalprice from orders where " +
      "o_orderstatus in ['P','F'] and (o_totalprice > 400000 or " +
      "o_totalprice < 20000) order by o_orderkey"))

  test("the doc_oltp read shapes sort in one task, or top-k with a LIMIT") {
    for ((name, text) <- reads) {
      val (one, range) = sameOrder(name, tpch.query(text))(tpch.query(text))
      if (name == "filter_sort") {
        assert(!one && !range)
        for (df <- Seq(tpch.query(text), globalSort(tpch.query(text))))
          assert(df.queryExecution.executedPlan.toString
            .contains("TakeOrderedAndProject"), s"$name: LIMIT must stay top-k")
      } else {
        assert(one, s"$name: expected the one-task sort")
        assert(range, s"$name: the forced global sort must range-partition")
      }
    }
  }

  test("inputs above the broadcast threshold keep the global sort") {
    // the leaf files: customer.parquet ~7 KB, nation.parquet ~3 KB,
    // region.parquet ~2 KB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "5000")
    try {
      assert(!oneTask(tpch.query(
        "select c_custkey from customer order by c_custkey")))
      assert(oneTask(tpch.query(
        "select n_nationkey from nation order by n_nationkey")))
      // a link join adds the target's size: nation + region still fit
      assert(oneTask(tpch.query(
        "select n_nationkey from nation where region.r_name = 'ASIA' " +
          "order by n_nationkey")))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}

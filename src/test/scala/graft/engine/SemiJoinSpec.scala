package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Top-level positive `link CONTAINS (cond)` over a LINKLIST is a
  * left-semi join against the matching target keys. Each rewritten
  * shape is compared with the same condition written `not (not (…))`,
  * which keeps the aggregated path (`collect_list` of the linked rows
  * plus an `exists` filter). CONTAINSALL, and a link the statement
  * also reads elsewhere, keep that path. */
class SemiJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val tpch =
    GraftSession.forTestdata(spark, "/root/testdata/sf0.001")

  /** boxes 0-5 with items, box 6 without; item fields are often null */
  private lazy val boxes = {
    import spark.implicits._
    val box = (0L to 6L).map(b => (b, s"b$b")).toDF("bid", "label")
    val item = Seq[(Long, Long, Option[Long], Option[String])](
      (1, 0, Some(3), Some("x")), (2, 0, None, Some("y")),
      (3, 1, None, None), (4, 2, Some(9), None), (5, 2, Some(1), Some("x")),
      (6, 3, Some(7), Some("z")), (7, 4, None, Some("x")), (8, 5, Some(2), None),
      (9, 5, Some(2), None)).toDF("iid", "box_id", "w", "tag")
    val cat = new Catalog(spark)
    cat.register(ClassDef("box", _ => box, None, Seq(
        LinkSpec("items", "item", "bid", "box_id", multi = true)), 301, Some("bid")))
      .register(ClassDef("item", _ => item, None, Nil, 302, Some("iid")))
    new GraftSession(spark, cat)
  }

  /** the analyzed plan: optimization may fold a never-true join away */
  private def plan(df: DataFrame): String =
    df.queryExecution.analyzed.toString

  private def semi(df: DataFrame): Boolean = {
    val p = plan(df)
    p.contains("LeftSemi") && !p.contains("collect_list")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** the rows of `select … where <cond>` (semi-join) against those of
    * `where not (not (<cond>))` (aggregated path) */
  private def sameAsAggregated(g: GraftSession, select: String,
      cond: String, rest: String = ""): Seq[Row] = {
    val q = g.query(s"$select where $cond $rest")
    val old = g.query(s"$select where not (not ($cond)) $rest")
    assert(semi(q), s"$cond: expected a semi-join:\n${plan(q)}")
    assert(!semi(old), s"$cond: not (not …) must keep the aggregated path")
    val got = rows(q)
    assert(got == rows(old), s"$cond: the semi-join diverged")
    got
  }

  test("customer.orders CONTAINS matches the aggregated path") {
    val sel = "select c_custkey, c_name from customer"
    assert(sameAsAggregated(tpch, sel,
      "orders contains (o_totalprice > 400000)").nonEmpty)
    // beside other conjuncts, and two CONTAINS over the same link
    assert(sameAsAggregated(tpch, sel,
      "c_acctbal > 0 and orders contains (o_orderstatus = 'F' and " +
        "o_totalprice > 200000) and orders contains (o_orderpriority like '1%')",
      "order by c_custkey").nonEmpty)
    // a link followed by the ORDER BY is read elsewhere: aggregated path
    val sorted = tpch.query(s"$sel where orders contains " +
      "(o_totalprice > 400000) order by orders.size(), c_custkey")
    assert(!plan(sorted).contains("LeftSemi"), plan(sorted))
  }

  test("null inner fields, unknown fields and rows without links") {
    val sel = "select bid, label from box"
    assert(sameAsAggregated(boxes, sel, "items contains (w > 2)")
      .map(_.getLong(0)) == Seq(0L, 2L, 3L))
    assert(sameAsAggregated(boxes, sel, "items contains (w is null)")
      .map(_.getLong(0)) == Seq(0L, 1L, 4L))
    assert(sameAsAggregated(boxes, sel,
      "items contains (tag = 'x' or w > 8)").map(_.getLong(0)) ==
      Seq(0L, 2L, 4L))
    // a null comparison is never true, also under NOT
    assert(sameAsAggregated(boxes, sel, "items contains (not (w > 2))")
      .map(_.getLong(0)) == Seq(2L, 5L))
    assert(sameAsAggregated(boxes, sel,
      "items contains (w > 5 and tag is null)").map(_.getLong(0)) == Seq(2L))
    // an unknown element field reads null, as on the aggregated path
    assert(sameAsAggregated(boxes, sel, "items contains (nosuch = 1)").isEmpty)
    // a record attribute compiles against the row the `exists` lambda
    // runs on, which only the aggregated path has
    val attr = boxes.query(s"$sel where items contains (@rid is not null)")
    assert(!semi(attr), plan(attr))
  }

  test("CONTAINSALL and a projected link keep the aggregated path") {
    val all = tpch.query("select c_custkey from customer where orders " +
      "containsall (o_totalprice < 450000)")
    assert(!plan(all).contains("LeftSemi") && plan(all).contains("collect_list"),
      plan(all))
    // the projection needs the aggregated link anyway: no second plan
    val cond = "orders contains (o_totalprice > 400000)"
    val projected = tpch.query(
      s"select c_custkey, orders.size() as n from customer where $cond")
    assert(!plan(projected).contains("LeftSemi") &&
      plan(projected).contains("collect_list"), plan(projected))
    val keys = tpch.query(s"select c_custkey from customer where $cond")
    assert(semi(keys))
    assert(rows(projected.select("c_custkey")) == rows(keys))
    // NOT is no semi-join; like CONTAINS it drops a row without links,
    // whose null link set makes both null
    val not = tpch.query(s"select c_custkey from customer where not ($cond)")
    assert(!semi(not))
    assert(not.count() + keys.count() ==
      tpch.query("select from customer where orders.size() > 0").count())
    val noItems = "items contains (w > 2)"
    assert(!boxes.query(s"select bid from box where not ($noItems)")
      .collect().map(_.getLong(0)).contains(6L))
  }
}

package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}

/** TRAVERSE plans against the per-round checkpointed BFS
  * (`graft.traverse.forceBfs`): the reverse-reachability plan and the
  * static pair plan must return exactly the BFS's rows, and each shape
  * must take the plan it is meant to take — a plan over `(__origin,
  * __node)` pairs is the BFS family, one without is reverse
  * reachability. */
class TraverseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val tpch = GraftSession.forTestdata(spark, sf)

  /** a small graph with cycles and a RID-collection link off the first
    * hop: badge → person, person ⇄ team, person.friends → person */
  private lazy val social = {
    import spark.implicits._
    val persons = (0L until 20L).map { i =>
      (i, s"p$i", Seq((i * 7 + 3) % 20, (i * 3 + 1) % 20).distinct
        .filterNot(_ == i), if (i == 19) None else Some(i % 4))
    }.toDF("pid", "name", "friends", "team_id")
    val teams = (0L until 4L).map(t => (t, s"T$t", t * 5))
      .toDF("tid", "tname", "lead_id")
    val badges = (0L until 30L).map(b => (b, (b * 11) % 20, s"k${b % 3}"))
      .toDF("bid", "holder_id", "kind")
    val cat = new Catalog(spark)
    cat.register(ClassDef("person", _ => persons, None, Seq(
        LinkSpec("friends", "person", "friends", "pid", srcIsArray = true),
        LinkSpec("team", "team", "team_id", "tid")), 201, Some("pid")))
      .register(ClassDef("team", _ => teams, None, Seq(
        LinkSpec("lead", "person", "lead_id", "pid"),
        LinkSpec("members", "person", "tid", "team_id", multi = true)),
        202, Some("tid")))
      .register(ClassDef("badge", _ => badges, None, Seq(
        LinkSpec("holder", "person", "holder_id", "pid")), 203, Some("bid")))
    new GraftSession(spark, cat)
  }

  private def bfs[T](body: => T): T = {
    System.setProperty("graft.traverse.forceBfs", "1")
    try body finally System.clearProperty("graft.traverse.forceBfs")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** rows of `df` (built by `q`), asserted equal to the forced BFS */
  private def sameAsBfs(q: => DataFrame, reach: Boolean,
      what: String): Seq[Row] = {
    val df = q
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__origin") == reach,
      s"$what: expected the ${if (reach) "reverse-reachability" else "pair"} " +
        s"plan:\n$plan")
    val got = rows(df)
    val want = bfs(rows(q))
    assert(got == want, s"$what: diverged from the forced BFS")
    got
  }

  private def tpchQ(cond: String, reach: Boolean): Seq[Row] = {
    val q = s"select c_custkey from customer where $cond order by c_custkey"
    sameAsBfs(tpch.query(q), reach, q)
  }

  private def socialQ(q: String, reach: Boolean): Seq[Row] =
    sameAsBfs(social.query(q), reach, q)

  test("gate queries qd_traverse and qd_traverse_fields match the forced BFS") {
    for (q <- Seq("qd_traverse", "qd_traverse_fields")) {
      val got = sameAsBfs(SparkEntry.queries(q)(spark, sf), reach = true, q)
      assert(got.nonEmpty, s"$q matched nothing; the check is vacuous")
    }
  }

  test("depth ranges (0,2), (1,2) and (1,3) match the BFS") {
    // start 0 ORs in the base row's own (live) condition
    val zero = tpchQ("any() traverse(0,2) " +
      "(r_name = 'ASIA' or c_acctbal > 9000)", reach = true)
    val one = tpchQ("any() traverse(1,2) (r_name = 'ASIA')", reach = true)
    assert(zero.size > one.size && one.nonEmpty)
    // depth 3: customer → nation → region → nations reaches every
    // nation of the customer's region
    val three = tpchQ("any() traverse(1,3) (n_name = 'NATION_7')",
      reach = true)
    val direct = tpchQ("any() traverse(1,1) (n_name = 'NATION_7')",
      reach = true)
    assert(three.size > direct.size && direct.nonEmpty)
  }

  test("a field list and a restricted first hop match the BFS") {
    assert(tpchQ("any() traverse(1,3,'nation,region,nations') " +
      "(n_name = 'NATION_3')", reach = true).nonEmpty)
    assert(tpchQ("nation traverse(1,2,'nation,region') " +
      "(r_name = 'EUROPE' or n_name like 'NATION_2%')", reach = true).nonEmpty)
    // orders → customer lands back on the origin, which the BFS never
    // expands again; the first hop excludes `nation`, so only the BFS
    // is exact here
    assert(tpchQ("orders traverse(1,3) (n_name = 'NATION_3')",
      reach = false).isEmpty)
  }

  test("the customer.orders multi-link matches the BFS") {
    assert(tpchQ("orders traverse(1,1) (o_totalprice > 400000)",
      reach = true).nonEmpty)
    assert(tpchQ("any() traverse(1,2) " +
      "(o_orderstatus = 'F' and o_totalprice > 300000)", reach = true)
      .nonEmpty)
  }

  test("RID-collection links and cycles match the BFS") {
    // friends (an array of keys) past the first hop; the friend graph
    // and person ⇄ team are cyclic
    assert(socialQ("select bid from badge where any() traverse(1,3) " +
      "(name = 'p7') order by bid", reach = true).nonEmpty)
    assert(socialQ("select tid from team where any() traverse(1,3) " +
      "(name = 'p7') order by tid", reach = true).nonEmpty)
    // an array first hop stays on the BFS
    assert(socialQ("select pid from person where friends traverse(0,2) " +
      "(name = 'p5') order by pid", reach = false).nonEmpty)
  }

  /** true when the traversal is a left-semi join, with no flag column */
  private def semiJoined(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.toString.contains("__trav_")

  test("a top-level single-hop traverse is a semi-join; others keep the flag") {
    val asia = "any() traverse(1,2) (r_name = 'ASIA')"
    def check(cond: String, semi: Boolean): Seq[Row] = {
      val q = s"select c_custkey from customer where $cond order by c_custkey"
      val df = tpch.query(q)
      assert(semiJoined(df) == semi, s"$q:\n${df.queryExecution.optimizedPlan}")
      val got = tpchQ(cond, reach = true)
      assert(got.distinct == got, s"$q: duplicated base rows")
      got
    }
    val one = check(asia, semi = true)
    assert(one.nonEmpty)
    assert(check(s"c_acctbal > 0 and $asia", semi = true).size < one.size)
    // OR, NOT, a `self` term (start 0) and two first hops (nation reaches
    // region, orders is live itself) keep the distinct flag join
    assert(check(s"($asia or c_acctbal > 9000)", semi = false).size > one.size)
    val not = check(s"not ($asia)", semi = false)
    assert(not.size + one.size == tpch.query("select from customer").count())
    assert(check("any() traverse(0,2) (r_name = 'ASIA' or c_acctbal > 9000)",
      semi = false).size > one.size)
    assert(check("any() traverse(1,2) (r_name = 'ASIA' or " +
      "o_totalprice > 400000)", semi = false).size > one.size)
  }

  test("a condition live on the base class falls back to the BFS") {
    // the BFS never counts the origin itself at start 1, even where a
    // friend cycle leads back to it
    val got = socialQ("select pid from person where team traverse(1,2) " +
      "(name = 'p5' or tname = 'T2') order by pid", reach = false)
    assert(got.nonEmpty)
    assert(tpchQ("any() traverse(1,2) (c_acctbal > 9000 or r_name = 'ASIA')",
      reach = false).nonEmpty)
    // start 2 is the BFS's too
    assert(tpchQ("any() traverse(2,2) (r_name = 'ASIA')",
      reach = false).nonEmpty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  /** one formatted AQE plan; the arguments are the ids that change
    * between two runs of it */
  private def plan(e: Int, stageA: Int, stageB: Int, cg: Int, pid: Int,
      rdd: Int, arg: Int): String =
    s"""AdaptiveSparkPlan (5)
       |+- == Final Plan ==
       |   * HashAggregate (4)
       |   +- ShuffleQueryStage (3), Statistics(sizeInBytes=1.0 KiB)
       |      +- Exchange (2)
       |         +- Scan ExistingRDD (1)
       |
       |(1) Scan ExistingRDD
       |Output [2]: [src#${e}L, dst#${e + 1}L]
       |Arguments: [src#${e}L, dst#${e + 1}L], MapPartitionsRDD[$rdd] at localCheckpoint at GraphOps.scala:300
       |
       |(2) Exchange
       |Input [2]: [src#${e}L, dst#${e + 1}L]
       |Arguments: hashpartitioning(src#${e}L, 4), ENSURE_REQUIREMENTS, [plan_id=$pid]
       |
       |(3) ShuffleQueryStage
       |Output [2]: [src#${e}L, dst#${e + 1}L]
       |Arguments: $stageA
       |
       |(4) HashAggregate [codegen id : $cg]
       |Input [2]: [src#${e}L, dst#${e + 1}L]
       |Arguments: $arg
       |
       |(5) BroadcastQueryStage
       |Output [1]: [src#${e}L]
       |Arguments: $stageB
       |""".stripMargin

  test("normalize: two runs of one plan read the same") {
    val a = plan(12, 0, 1, 2, 2007, 110, 7)
    val b = plan(345, 1, 0, 5, 2311, 368, 7)
    assert(a != b)
    assert(PlanDump.normalize(a) == PlanDump.normalize(b))
    val n = PlanDump.normalize(a)
    Seq("#12", "[codegen id : 2]", "plan_id=2007", "RDD[110]",
        "Arguments: 0", "Arguments: 1").foreach(id => assert(!n.contains(id), id))
    // an argument outside a query stage is plan content, not an id
    assert(PlanDump.normalize(plan(12, 0, 1, 2, 2007, 110, 8)) != n)
    assert(n.contains("GraphOps.scala:300"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraftParser

/** The session factory's contract. That a bound GraftSession answers
  * dialect text through `spark.sql` on a factory session is pinned by
  * DialectSpec ("dialect reaches spark.sql via SparkSessionExtensions
  * parser"), which runs on [[SparkTestSession]]. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a factory session carries the bench configuration") {
    val ctx = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "100000",
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.sql.codegen.cache.maxEntries" -> "2000"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    Map(
      "spark.ui.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      "spark.sql.extensions" -> "graft.engine.GraftSqlExtension"
    ).foreach { case (k, v) => assert(ctx.get(k) == v, k) }
  }

  test("a second call returns the same session with the dialect parser " +
      "registered once") {
    assert(Sessions.session(4) eq spark)
    for (s <- Seq(spark, spark.newSession())) {
      s.sessionState.sqlParser match {
        case p: GraftParser =>
          assert(!p.delegate.isInstanceOf[GraftParser],
            "the dialect parser wraps itself: extension applied twice")
        case other => fail(s"dialect parser not registered: $other")
      }
    }
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.session(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs launched while `body` runs */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    // earlier tests' events must not land on this listener
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftBus.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }
}

class EntrySmokeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query executes at sf0.001") {
    // the noop sink, as Bench and Verify run them: count() would let
    // Catalyst prune projections and drop sorts
    SparkEntry.queries.foreach { case (name, fn) =>
      withClue(s"query $name:") {
        fn(spark, sf).write.format("noop").mode("overwrite").save()
      }
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }
}

package graft
import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: writes `.explain("formatted")`
  * output for selected queries to `<outDir>/<name>_<suffix>.txt` —
  * the plan artifacts the judge checks optimization claims against
  * (guide §1: capture the plan shape before and after each change).
  * Session config mirrors [[Bench]] so the dumped plan is the plan
  * the bench actually times.
  *
  * r15 (VERDICT #8 — the r14 dumps were post-localCheckpoint shells):
  * besides the final frame's static plan, the tool now RUNS each query
  * through the noop sink with a listener capturing every
  * [[SparkListenerSQLExecutionStart]] — each eager intermediate
  * (checkpointed loop round, preflight agg, trained-model collect)
  * registers its own SQL execution whose `physicalPlanDescription` is
  * the formatted plan, so the artifact shows the loop-BODY shape
  * (Exchange count per round, join strategies) the bench actually
  * pays, not the checkpoint shell. Building a pipeline query already
  * executes its driver-side stages (ADVICE r14), so capture wraps the
  * BUILD as well as the sink run.
  *
  * args: <outDir> <suffix> [query-name-prefix ...]
  * env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *       SPARK_GRAFT_CPUS (default 4)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [prefix ...]")
    val outDir = args(0); val suffix = args(1)
    val prefixes = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        100000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    // ordered capture of every SQL execution's formatted plan
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart =>
            captured.add((e.executionId, e.description,
              e.physicalPlanDescription))
          case _ => ()
        }
    }
    names.foreach { n =>
      try {
        captured.clear()
        spark.sparkContext.addSparkListener(listener)
        val df = SparkEntry.queries(n)(spark, sfDir)
        val finalPlan = df.queryExecution.explainString(FormattedMode)
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val sb = new java.lang.StringBuilder
        sb.append(s"== $n: final frame (static explain) ==\n")
        sb.append(finalPlan).append('\n')
        import scala.jdk.CollectionConverters._
        val execs = captured.asScala.toVector.sortBy(_._1)
        // dedupe identical plan bodies (iterative rounds repeat the
        // same shape; keep the first of each + a repeat count)
        val seen = scala.collection.mutable.Map[String, Int]()
        execs.foreach { case (id, desc, plan) =>
          seen.get(plan) match {
            case Some(_) => seen(plan) += 1
            case None =>
              seen(plan) = 1
              sb.append(s"\n== executed #$id: ${desc.take(120)} ==\n")
              sb.append(plan).append('\n')
          }
        }
        val repeats = seen.valuesIterator.count(_ > 1)
        sb.append(s"\n== ${execs.size} executions captured, " +
          s"${seen.size} distinct plans, $repeats repeated ==\n")
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
          sb.toString)
        println(s"[plandump] wrote $n (${execs.size} executions)")
      } catch {
        case e: Throwable =>
          spark.sparkContext.removeSparkListener(listener)
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

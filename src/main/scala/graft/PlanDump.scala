package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Optimization-round evidence tool: writes `.explain("formatted")`
  * output for selected queries to `<outDir>/<name>_<suffix>.txt` —
  * the plan artifacts the judge checks optimization claims against
  * (guide §1: capture the plan shape before and after each change).
  * The session comes from [[Sessions]], so the dumped plan is the plan
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
  * The same listener then times a second, warm run (codegen and plan
  * compile paid by the first) and appends a job/stage section: wall
  * time per job and task run/GC/CPU time, input records and shuffle
  * records per stage — the local substitute for the Spark UI, which
  * separates per-job scheduling floors from real compute.
  *
  * args: <outDir> <suffix> [query-name-prefix ...]
  * env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *       SPARK_GRAFT_CPUS (default 4)
  */
object PlanDump {
  /** `plan` with the ids that differ between runs of one plan masked:
    * expression ids (`#12`), query-stage ids (a formatted plan's
    * `Arguments:` line under a `...QueryStage` operator; AQE numbers
    * stages in the order they become ready), whole-stage-codegen ids,
    * exchange plan ids and RDD ids. Two runs of the same plan then
    * read the same, and so do the rounds of an iterative operator. */
  def normalize(plan: String): String = Seq(
    """#\d+""" -> "#N",
    """(QueryStage\n(?:[^\n(][^\n]*\n)*?Arguments: )\d+""" -> "$1N",
    """\[codegen id : \d+\]""" -> "[codegen id : N]",
    """\*\(\d+\)""" -> "*(N)",
    """plan_id=\d+""" -> "plan_id=N",
    """RDD\[\d+\]""" -> "RDD[N]"
  ).foldLeft(plan) { case (t, (re, to)) => t.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [prefix ...]")
    val outDir = args(0); val suffix = args(1)
    val prefixes = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    // ordered capture of every SQL execution's formatted plan, plus
    // job and stage lines for the warm run
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, String)]()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, String)]() // jobId -> (submit time, description)
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit =
        event match {
          case e: SparkListenerSQLExecutionStart =>
            captured.add((e.executionId, e.description,
              e.physicalPlanDescription))
          case _ => ()
        }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, (js.time, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobStart.get(je.jobId)).foreach { case (t0, d) =>
          jobLines.add(f"  job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.3f s  $d")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        taskRunMs.addAndGet(m.executorRunTime)
        stageLines.add(f"  stage ${si.stageId}%4d run=${m.executorRunTime / 1000.0}%8.2f s " +
          f"gc=${m.jvmGCTime / 1000.0}%6.2f cpu=${m.executorCpuTime / 1e9}%8.2f " +
          f"tasks=${si.numTasks}%3d in=${m.inputMetrics.recordsRead}%9d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%9d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.take(60)}")
      }
    }
    def build(n: String) = SparkEntry.queries(n)(spark, sfDir)
    names.foreach { n =>
      try {
        captured.clear()
        spark.sparkContext.addSparkListener(listener)
        val df = build(n)
        val finalPlan = normalize(df.queryExecution.explainString(FormattedMode))
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        val execs = captured.asScala.toVector.sortBy(_._1)
          .map { case (id, desc, plan) => (id, desc, normalize(plan)) }
        // warm run: codegen and plan compile were paid above
        System.gc()
        jobStart.clear(); jobLines.clear(); stageLines.clear()
        taskRunMs.set(0L)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        build(n).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val sb = new java.lang.StringBuilder
        sb.append(s"== $n: final frame (static explain) ==\n")
        sb.append(finalPlan).append('\n')
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
        sb.append(f"\n== warm run: wall $wall%.3f s, " +
          s"${jobLines.size} jobs, ${stageLines.size} stages, " +
          f"task run time ${taskRunMs.get / 1000.0}%.3f s, " +
          s"$compiles codegen compiles ==\n")
        jobLines.asScala.foreach(l => sb.append(l).append('\n'))
        stageLines.asScala.foreach(l => sb.append(l).append('\n'))
        Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"),
          sb.toString)
        println(s"[plandump] wrote $n (${execs.size} executions, " +
          f"warm $wall%.3f s, ${jobLines.size} jobs)")
      } catch {
        case e: Throwable =>
          spark.sparkContext.removeSparkListener(listener)
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

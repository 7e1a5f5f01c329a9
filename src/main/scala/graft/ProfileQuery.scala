package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Optimization-round diagnostic (guide §1/§7): run selected queries
  * once warm, then once with a job/stage listener attached, printing
  * per-job wall time and per-stage task totals — the local substitute
  * for the Spark UI (disabled in bench sessions). Separates per-job
  * scheduling floors from real compute so optimization effort lands
  * where the time is. Session config mirrors [[Bench]].
  *
  * args: query-name prefixes (at least one)
  * env:  SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <prefix> [prefix ...]")
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
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.exists(n.startsWith))
    // jobId -> (submitTime, desc); stages aggregated per job
    val jobs = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, String)]()
    val out = new java.lang.StringBuilder
    val stageTask = new java.util.concurrent.ConcurrentHashMap[
      Int, (Int, Long)]() // stageId -> (nTasks, executorRunTimeMs)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, d) =>
          out.append(f"  job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.3f s  $d%n")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageTask.put(si.stageId,
          (si.numTasks, si.taskMetrics.executorRunTime))
        val m = si.taskMetrics
        out.append(f"  stage ${si.stageId}%4d run=${m.executorRunTime / 1000.0}%8.2f s " +
          f"gc=${m.jvmGCTime / 1000.0}%6.2f cpu=${m.executorCpuTime / 1e9}%8.2f " +
          f"tasks=${si.numTasks}%3d in=${m.inputMetrics.recordsRead}%9d " +
          f"sr=${m.shuffleReadMetrics.recordsRead}%9d " +
          f"sw=${m.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.take(60)}%n")
      }
    }
    names.foreach { n =>
      val run = () => SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      try {
        run() // warm: codegen + plan compile
        System.gc()
        spark.sparkContext.addSparkListener(listener)
        out.setLength(0); jobs.clear(); stageTask.clear()
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        println(s"== $n wall ${math.round(wall * 1000) / 1000.0} s " +
          s"jobs=${jobs.size}")
        println(out.toString)
        val totTask = {
          import scala.jdk.CollectionConverters._
          stageTask.values.asScala.map(_._2).sum
        }
        println(f"  stages=${stageTask.size} taskRunTimeSum=${totTask / 1000.0}%.3f s%n")
      } catch {
        case e: Throwable =>
          println(s"== $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

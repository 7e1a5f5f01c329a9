package graft.bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Listener side of the traced run. Jobs and stages are tied to the op
  * that launched them through the benchmark-owned local property
  * [[Tracer.OpProperty]]; tasks through their stage. Catalyst phase
  * times come from each executed QueryExecution's planning tracker and
  * are charged to the op that is running, which is exact because the
  * runner drains the listener bus at the end of every traced op.
  *
  * Every field is written on the listener-bus thread and read by the
  * runner only after [[org.apache.spark.GraftBenchBus.drain]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Agg {
    var tasks, taskFailures = 0L
    var taskMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var bytesRead, recordsRead = 0L
    var analysisMs, optimizeMs, planMs = 0L
  }

  final case class JobSpan(id: Int, op: Int, phase: String, start: Long,
      var end: Long = -1L, var ok: Boolean = false)
  final case class StageSpan(id: Int, attempt: Int, op: Int, submit: Long,
      end: Long, tasks: Int, failed: Boolean)

  @volatile var currentOp: Int = -1
  val jobs = mutable.ArrayBuffer[JobSpan]()
  val stages = mutable.ArrayBuffer[StageSpan]()
  private val jobById = mutable.Map[Int, JobSpan]()
  private val stageOp = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val aggs = mutable.Map[Int, Agg]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var storageNow = 0L
  var storagePeak = 0L

  def agg(op: Int): Agg = aggs.getOrElseUpdate(op, new Agg)
  def jobOf(stage: Int): Int = stageJob.getOrElse(stage, -1)

  private def prop(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))
  private def opOf(props: java.util.Properties): Int =
    prop(props, OpProperty).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    val j = JobSpan(e.jobId, op, prop(e.properties, PhaseProperty).getOrElse(""),
      e.time)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach { s => stageOp(s) = op; stageJob(s) = e.jobId }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = opOf(e.properties)
    if (op >= 0) stageOp(e.stageInfo.stageId) = op
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages += StageSpan(i.stageId, i.attemptNumber(),
      stageOp.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
      i.numTasks, i.failureReason.isDefined)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageOp.getOrElse(e.stageId, -1))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** cached plus checkpointed RDD block bytes, with their peak. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      storageNow -= rddBlocks.getOrElse(id, 0L)
      if (b.storageLevel.isValid) {
        rddBlocks(id) = b.memSize + b.diskSize
        storageNow += b.memSize + b.diskSize
      } else rddBlocks.remove(id)
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val a = agg(currentOp)
    val p = qe.tracker.phases
    def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
    a.analysisMs += ms(Analysis)
    a.optimizeMs += ms(Optimization)
    a.planMs += ms(Planning)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** drain first, then detach: nothing queued is dropped. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  val OpProperty = "graft.bench.op"
  /** `build` (the call into the library) or `exec` (the action). */
  val PhaseProperty = "graft.bench.phase"
  private val Analysis = "analysis"
  private val Optimization = "optimization"
  private val Planning = "planning"
}

package graft.bench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.engine.{GraftSession, Parser}
import graft.kv.KVStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. Runs one workload's generated op stream
  * in one closed-loop client thread and writes every measurement to a
  * JSON file; `graftbench/run.py` generates the stream, turns the file
  * into metrics and checks the outputs.
  *
  * usage: Runner <plan.json> <result.json>
  *
  * Phases, in order: session + warm-up ops (the set-up), the timed passes
  * (tracer off), then with `trace` a second set of passes with the
  * [[Tracer]] attached and a third with it detached, a full GC for the retained heap, the dump of
  * the written classes for the checks, and the calibration probe. The
  * first warm-up execution of each batch query writes its result for
  * the checks; every other execution goes to the noop sink. */
object Runner {
  final case class Op(kind: String, name: String, text: String,
      cls: String, key: String, value: String)

  private val KvDb = "bench"

  private def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case _ => 1 }.size

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val plan = mapper.readTree(new java.io.File(args(0)))
    def str(n: JsonNode, f: String): String =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull
    def ops(n: JsonNode): Vector[Op] = n.elements.asScala.map(o =>
      Op(str(o, "kind"), str(o, "name"), str(o, "text"), str(o, "cls"),
        str(o, "key"), str(o, "value"))).toVector
    val workload = plan.get("workload").asText
    val dir = plan.get("data_dir").asText
    val outDir = plan.get("out_dir").asText
    val k = plan.get("k").asInt
    val sectionPasses = plan.get("section_passes").asInt
    val trace = plan.get("trace").asBoolean
    val warmup = ops(plan.get("warmup"))
    val passes = plan.get("passes").elements.asScala.map(ops).toVector

    // mirrors graft.Bench's session, so the measured config is the one
    // the repo's own harness times
    val confs = Seq(
      "spark.master" -> s"local[$k]",
      "spark.sql.shuffle.partitions" -> k.toString,
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.periodicGC.interval" -> "1min",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "100000",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      "spark.sql.ui.retainedExecutions" -> "8")
    val spark = confs.foldLeft(SparkSession.builder().appName("graftbench")) {
      case (b, (key, v)) => b.config(key, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionUs = epochUs()

    lazy val g = GraftSession.forTestdata(spark, dir)
    lazy val kv = new KVStore(spark)
    var tracer: Option[Tracer] = None
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val dumped = mutable.Set[String]()

    def runOp(i: Int, op: Op, phase: String, pass: Int): Unit = {
      var parseMs = -1.0
      tracer.foreach { t =>
        t.currentOp = i
        sc.setLocalProperty(Tracer.OpProperty, i.toString)
        if (op.kind == "read" || op.kind == "write") {
          val p0 = System.nanoTime()
          try Parser.parseStatement(op.text)
          catch { case _: Exception => () }
          parseMs = (System.nanoTime() - p0) / 1e6
        }
      }
      var buildUs, buildEndUs, execUs, execEndUs = -1L
      def build[T](f: => T): T = {
        if (tracer.isDefined) sc.setLocalProperty(Tracer.PhaseProperty, "build")
        buildUs = epochUs()
        try f finally buildEndUs = epochUs()
      }
      def exec[T](f: => T): T = {
        if (tracer.isDefined) sc.setLocalProperty(Tracer.PhaseProperty, "exec")
        execUs = epochUs()
        try f finally execEndUs = epochUs()
      }
      var result: Any = null
      var err: String = null
      val startUs = epochUs()
      val t0 = System.nanoTime()
      try op.kind match {
        case "query" =>
          val df = build(SparkEntry.queries(op.name)(spark, dir))
          // the first warm-up execution keeps its output for the checks;
          // every other execution goes to the noop sink
          val w = df.write.mode("overwrite")
          exec(if (phase == "warmup" && dumped.add(op.name))
            w.parquet(s"$outDir/${op.name}") else w.format("noop").save())
        case "read" =>
          val df = build(g.query(op.text))
          result = exec(df.collect()).length
        case "write" =>
          val df = build(g.command(op.text))
          result = exec(df.collect()).head.getLong(0)
        case "kv_put" =>
          build(kv.put(KvDb, op.cls, op.key, op.value))
        case "kv_get" =>
          result = exec(kv.get(KvDb, op.cls, op.key)).orNull
        case other => throw new IllegalArgumentException(s"unknown op $other")
      } catch {
        case e @ (_: Exception | _: StackOverflowError) =>
          err = e.toString.take(300)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val endUs = epochUs()
      var rec = Map[String, Any]("i" -> i, "phase" -> phase, "pass" -> pass,
        "kind" -> op.kind, "name" -> op.name, "ms" -> ms, "ok" -> (err == null),
        "err" -> err, "result" -> result, "start_us" -> startUs, "end_us" -> endUs)
      tracer.foreach { t =>
        sc.setLocalProperty(Tracer.OpProperty, null)
        sc.setLocalProperty(Tracer.PhaseProperty, null)
        // plan size of what the op wrote, measured outside the op span
        val nodes = op.kind match {
          case "write" if err == null => planNodes(g.browseClass(op.cls))
          case "kv_put" if err == null => planNodes(kv.asDataFrame(KvDb, op.cls))
          case _ => -1
        }
        org.apache.spark.GraftBenchBus.drain(sc)
        val a = t.agg(i)
        val mine = t.jobs.filter(_.op == i)
        rec ++= Map("parse_ms" -> parseMs,
          "build_us" -> Seq(buildUs, buildEndUs), "exec_us" -> Seq(execUs, execEndUs),
          "jobs" -> mine.size, "build_jobs" -> mine.count(_.phase == "build"),
          "stages" -> t.stages.count(_.op == i), "tasks" -> a.tasks,
          "task_ms" -> a.taskMs, "cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
          "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
          "spill" -> a.spill, "bytes_read" -> a.bytesRead,
          "records_read" -> a.recordsRead, "task_failures" -> a.taskFailures,
          "analysis_ms" -> a.analysisMs, "optimize_ms" -> a.optimizeMs,
          "plan_ms" -> a.planMs, "plan_nodes" -> nodes)
      }
      records += rec
    }

    // ---- set-up: the warm-up ops -------------------------------------
    var i = 0
    warmup.foreach { op => runOp(i, op, "warmup", -1); i += 1 }

    /** the next `sectionPasses` passes of the generated stream from
      * pass `from`; returns each pass's wall and the next pass. */
    def timedPasses(phase: String, from: Int): (Seq[Double], Int) = {
      val walls = (from until from + sectionPasses).map { p =>
        val p0 = System.nanoTime()
        passes(p).foreach { op => runOp(i, op, phase, p); i += 1 }
        (System.nanoTime() - p0) / 1e9
      }
      (walls, from + sectionPasses)
    }
    val firstTimedUs = epochUs()
    val (walls, next) = timedPasses("timed", 0)
    var tracedWalls, afterWalls = Seq.empty[Double]
    var traceUs = Seq.empty[Long]
    val traced = if (trace) Some(new Tracer) else None
    traced.foreach { t =>
      t.attach(spark)
      tracer = Some(t)
      val t0 = epochUs()
      val (tw, afterTraced) = timedPasses("traced", next)
      traceUs = Seq(t0, epochUs())
      t.detach(spark)
      tracer = None
      tracedWalls = tw
      // untraced again, so the overhead estimate brackets the traced
      // section and JIT warm-up during the run does not count as cost
      afterWalls = timedPasses("after", afterTraced)._1
    }
    // full GCs until the heap stops shrinking: the ContextCleaner frees
    // checkpoint and shuffle blocks only after a GC has collected their
    // RDDs, so one GC leaves their bytes behind
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    def usedAfterGc(): Long = {
      System.gc()
      Thread.sleep(200)
      memory.getHeapMemoryUsage.getUsed
    }
    var heap = usedAfterGc()
    var prev = Long.MaxValue
    var rounds = 1
    while (rounds < 8 && heap < prev * 0.99) {
      prev = heap
      heap = usedAfterGc()
      rounds += 1
    }
    val heapMb = heap / 1048576.0

    // ---- final contents of the written classes, for the checks -----
    val checkErrors = mutable.Map[String, String]()
    if (workload == "doc_oltp")
      plan.get("final_classes").fields.asScala.foreach { e =>
        val cols = e.getValue.elements.asScala.map(n => col(n.asText)).toSeq
        try g.browseClass(e.getKey).select(cols: _*).write.mode("overwrite")
          .parquet(s"$outDir/${e.getKey}")
        catch {
          case ex: Exception => checkErrors(e.getKey) = ex.toString.take(300)
        }
      }
    val oracle = warmup.filter(_.kind == "query").map(_.name).distinct
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap

    val calib = graft.Bench.calibrate()
    val out = Map[String, Any](
      "workload" -> workload,
      "session_us" -> sessionUs, "first_timed_us" -> firstTimedUs,
      "jvm_start_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime,
      "pass_walls" -> walls, "traced_walls" -> tracedWalls,
      "after_walls" -> afterWalls,
      "trace_us" -> traceUs, "heap_mb" -> heapMb,
      "context" -> Map(
        "calibration_s" -> calib, "k" -> k,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "spark_conf" -> confs.toMap),
      "records" -> records.toSeq,
      "oracle" -> oracle, "check_errors" -> checkErrors.toMap,
      "storage_peak" -> traced.map(_.storagePeak).getOrElse(-1L),
      "jobs" -> traced.toSeq.flatMap(_.jobs.map(j =>
        Seq(j.id, j.op, j.phase, j.start, j.end, j.ok))),
      "stages" -> traced.toSeq.flatMap(t => t.stages.map(s =>
        Seq(s.id, s.attempt, t.jobOf(s.id), s.op, s.submit, s.end, s.tasks,
          s.failed))))
    mapper.writeValue(new java.io.File(args(1)), out)
    spark.stop()
  }
}

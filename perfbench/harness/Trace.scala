package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program. Children (build, jobs, stages,
  * plan phases) are attributed after the run from the listener events. */
final case class Op(id: Int, kind: String, name: String, startMs: Long, endMs: Long,
    buildEndMs: Long, ok: Boolean)

/** Spans and counters gathered from Spark's listener buses, the Hadoop FS
  * statistics and the JVM beans. Installed only for the traced run; the
  * untraced run records op walls alone. */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val stageOfJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      val stream = Option(e.properties).exists(p =>
        Option(p.getProperty("spark.jobGroup.id")).exists(streamRuns.contains))
      val j = Job(e.jobId, e.time, op, stream)
      jobs.add(j)
      e.stageIds.foreach(s => stageOfJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskAgg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](6))
        a.synchronized {
          a(0) += 1
          a(1) += m.executorRunTime
          a(2) += m.shuffleWriteMetrics.bytesWritten
          a(3) += m.shuffleReadMetrics.totalBytesRead
          a(4) += m.diskBytesSpilled + m.memoryBytesSpilled
          a(5) += m.inputMetrics.bytesRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), Option(stageOfJob.get(i.stageId))))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // micro-batches run on the stream's cloned session; keep them apart
      if (qe.sparkSession eq spark) {
        val ph = qe.tracker.phases
        def ms(n: String) = ph.get(n).map(p => p.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamRuns = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamRuns.add(e.runId.toString)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      progress.add(Progress(System.currentTimeMillis(), p.numInputRows,
        d("latestOffset") + d("getBatch"), d("walCommit") + d("commitOffsets"), d("addBatch")))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Let the asynchronous buses deliver what the timed run posted. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    while (System.currentTimeMillis() < deadline && last != jobs.size + stages.size) {
      last = jobs.size + stages.size
      Thread.sleep(300)
    }
  }

  /** Fold the events into per-op child spans, write every span as one JSON
    * line to `spansOut`, and return the layer counters. */
  def summarize(ops: Seq[Op], spansOut: String): Map[String, Double] = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val w = new java.io.PrintWriter(spansOut)
    val byOp = ops.map(o => o.id -> o).toMap
    def opAt(t: Long) = ops.find(o => t >= o.startMs && t <= o.endMs)
    val fgJobs = jobs.asScala.toSeq.filterNot(_.stream).flatMap { j =>
      (if (j.op >= 0) byOp.get(j.op) else opAt(j.startMs)).map(o => j -> o)
    }
    val jobOp = fgJobs.map { case (j, o) => j.id -> o }.toMap
    val stagesOf = stages.asScala.toSeq.groupBy(s => s.job.flatMap(j => jobOp.get(j.id)).map(_.id))
    var spanId = ops.map(_.id).maxOption.getOrElse(0) + 1
    def span(parent: Int, name: String, s: Long, e: Long, counts: Map[String, Double]): Int = {
      val id = spanId; spanId += 1
      w.println(Trace.json(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> s, "end_ms" -> e) ++ counts))
      id
    }
    val wallMs = ops.map(o => o.endMs - o.startMs).sum.toDouble
    ops.foreach { o =>
      val opJobs = fgJobs.collect { case (j, oo) if oo.id == o.id => j }
      val opStages = stagesOf.getOrElse(Some(o.id), Nil)
      val covered = union(opStages.map(s => (s.startMs max o.startMs, s.endMs min o.endMs)))
      val wall = (o.endMs - o.startMs).toDouble
      val childCover = union(opStages.map(s => (s.startMs, s.endMs)) :+
        (o.startMs, o.buildEndMs))
      w.println(Trace.json(Map("id" -> o.id, "parent" -> 0, "name" -> o.name,
        "kind" -> o.kind, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
        "self_ms" -> (wall - childCover).max(0), "jobs" -> opJobs.size)))
      if (o.buildEndMs > o.startMs) {
        val eager = opJobs.count(_.startMs <= o.buildEndMs)
        span(o.id, "build", o.startMs, o.buildEndMs, Map("eager_jobs" -> eager))
        out("ops.build_ms") += o.buildEndMs - o.startMs
        out("ops.eager_jobs") += eager
      }
      opJobs.foreach { j =>
        val jid = span(o.id, s"job ${j.id}", j.startMs, j.endMs, Map.empty)
        opStages.filter(_.job.exists(_.id == j.id)).foreach { s =>
          val a = taskAgg.getOrDefault((s.id, s.attempt), new Array[Long](6))
          span(jid, s"stage ${s.id}.${s.attempt}", s.startMs, s.endMs, Map(
            "tasks" -> a(0), "task_ms" -> a(1), "shuffle_write_bytes" -> a(2),
            "shuffle_read_bytes" -> a(3), "spill_bytes" -> a(4), "scan_bytes" -> a(5)))
        }
      }
      out(s"jobs.op${o.id}") = opJobs.size // per-op job counts, for store.<op>.jobs
      out("exec.driver_gap_ms") += (wall - covered).max(0)
      out("exec.jobs") += opJobs.size
      out("exec.stages") += opStages.size
      opStages.foreach { s =>
        val a = taskAgg.getOrDefault((s.id, s.attempt), new Array[Long](6))
        out("exec.tasks") += a(0); out("exec.task_ms") += a(1)
        out("exec.shuffle_write_bytes") += a(2); out("exec.shuffle_read_bytes") += a(3)
        out("exec.spill_bytes") += a(4); out("exec.scan_bytes") += a(5)
      }
      phases.asScala.filter(p => p.startMs >= o.startMs && p.startMs <= o.endMs).foreach { p =>
        span(o.id, "plan", p.startMs, p.startMs + p.analysis + p.optimization + p.planning,
          Map("analysis_ms" -> p.analysis, "optimizer_ms" -> p.optimization,
            "planning_ms" -> p.planning))
        out("catalyst.analysis_ms") += p.analysis
        out("catalyst.optimizer_ms") += p.optimization
        out("catalyst.planning_ms") += p.planning
      }
    }
    out("exec.busy_frac") = if (wallMs > 0) out("exec.task_ms") / (wallMs * cores) else 0
    val prog = progress.asScala.toSeq
    val started = prog.filter(_.rows > 0)
    out("stream.batches") = started.size
    out("stream.rows") = prog.map(_.rows).sum.toDouble
    out("stream.offset_ms") = prog.map(_.offsetMs).sum.toDouble
    out("stream.wal_commit_ms") = prog.map(_.walMs).sum.toDouble
    out("stream.add_batch_ms") = started.map(_.addMs).sum.toDouble
    w.close()
    out.toMap
  }
}

object Trace {
  val OpProperty = "graftbench.op"

  final case class Job(id: Int, startMs: Long, op: Int, stream: Boolean) {
    @volatile var endMs: Long = startMs
  }
  final case class Stage(id: Int, attempt: Int, startMs: Long, endMs: Long, job: Option[Job])
  final case class Phases(startMs: Long, analysis: Long, optimization: Long, planning: Long)
  final case class Progress(atMs: Long, rows: Long, offsetMs: Long, walMs: Long, addMs: Long)

  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def json(m: Map[String, Any]): String = m.map { case (k, v) =>
    val s = v match {
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n => n.toString
    }
    "\"" + k + "\":" + s
  }.mkString("{", ",", "}")

  /** JVM counters: cumulative GC and JIT ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
  def codegenMs: Double = CodeGenerator.compileTime / 1e6
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this JVM, from /proc. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

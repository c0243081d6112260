package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of the Spark boundaries crossed by a set of operations (one
  * registry query, one pipeline step, one micro-batch, or a whole pass). */
final class LayerStats {
  var wallS, schedGapS = 0.0
  var jobs, stages, tasks, starved = 0L
  var taskRunS, taskCpuS, gcS, planS, skewMax = 0.0
  var shuffleWrite, shuffleRead, spillMemory, spillDisk = 0L
  var scanBytes, scanRows, writeBytes = 0L
  var scans, exchanges, reused, broadcasts = 0L
}

/** Codegen counters are JVM-global (driver and local executors share them). */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileS: Double = CodeGenerator.compileTime / 1e9
}

/** Records what Spark reports beneath the benchmark's calls: a
  * `SparkListener` for jobs, stages and tasks, and a `QueryExecutionListener`
  * for planning time and the shape of each final adaptive plan. Jobs are
  * tied to an operation by the local property `Tracer.OpKey` that the
  * caller sets around it, or by the micro-batch id for streaming jobs; a
  * query execution belongs to the operation whose wall time holds the start
  * of its planning. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private final class Job(val op: String, val start: Long) {
    var end: Long = start
    val stageIds = mutable.Set.empty[Int]
  }
  private final class Stage {
    var tasks = 0L
    var runMs, cpuNs, gcMs, shW, shR, spM, spD, inB, inR, outB = 0L
    val durMs = mutable.ArrayBuffer.empty[Long]
  }
  private final class Plan(val startMs: Long, val planMs: Long) {
    var scans, exchanges, reused, broadcasts = 0L
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpKey)))
        .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("batch:" + _))
      op.foreach { o =>
        val j = new Job(o, e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach { s => stageJob(s) = j; j.stageIds += s }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (stageJob.contains(e.stageId)) {
        val s = stages.getOrElseUpdate(e.stageId, new Stage)
        s.tasks += 1
        s.durMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
          s.shW += m.shuffleWriteMetrics.bytesWritten
          s.shR += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
          s.spM += m.memoryBytesSpilled; s.spD += m.diskBytesSpilled
          s.inB += m.inputMetrics.bytesRead; s.inR += m.inputMetrics.recordsRead
          s.outB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      val p = new Plan(ph.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()),
        ph.map(_.durationMs).sum)
      walk(qe.executedPlan, p)
      Tracer.this.synchronized { plans += p }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def walk(plan: SparkPlan, p: Plan): Unit = plan match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, p)
    case s: QueryStageExec => walk(s.plan, p)
    case _: ReusedExchangeExec => p.reused += 1
    case other =>
      other match {
        case _: DataSourceScanExec | _: BatchScanExec => p.scans += 1
        case _: ShuffleExchangeLike => p.exchanges += 1
        case _: BroadcastExchangeLike => p.broadcasts += 1
        case _ =>
      }
      other.children.foreach(walk(_, p))
      other.subqueries.foreach(walk(_, p))
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }
  /** Waits for the bus to deliver what the traced calls caused, then stops listening. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Totals over the given operations; `walls` holds each operation's
    * [start, end) in epoch milliseconds, from which the scheduling gap —
    * wall time not covered by any job — follows. */
  def stats(walls: Map[String, (Long, Long)]): LayerStats = synchronized {
    val out = new LayerStats
    val opJobs = jobs.values.filter(j => walls.contains(j.op)).toSeq
    walls.foreach { case (op, (s, e)) =>
      out.wallS += (e - s) / 1e3
      val covered = union(opJobs.filter(_.op == op).map(j => (math.max(j.start, s), math.min(j.end, e))))
      out.schedGapS += math.max(0L, (e - s) - covered) / 1e3
    }
    out.jobs = opJobs.size
    val ran = opJobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    out.stages = ran.size
    ran.foreach { s =>
      out.tasks += s.tasks
      out.taskRunS += s.runMs / 1e3; out.taskCpuS += s.cpuNs / 1e9; out.gcS += s.gcMs / 1e3
      out.shuffleWrite += s.shW; out.shuffleRead += s.shR
      out.spillMemory += s.spM; out.spillDisk += s.spD
      out.scanBytes += s.inB; out.scanRows += s.inR; out.writeBytes += s.outB
      val d = s.durMs.sorted
      val longest = d.last
      if (s.tasks < Bench.Cores && longest >= LongTaskMs) out.starved += 1
      if (d.size >= 2 && longest >= LongTaskMs)
        out.skewMax = math.max(out.skewMax, longest.toDouble / math.max(1L, d(d.size / 2)))
    }
    plans.filter(p => walls.values.exists { case (s, e) => p.startMs >= s && p.startMs <= e })
      .foreach { p =>
      out.planS += p.planMs / 1e3
      out.scans += p.scans; out.exchanges += p.exchanges
      out.reused += p.reused; out.broadcasts += p.broadcasts
    }
    out
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  private val BatchKey = "streaming.sql.batchId"
  /** A stage with fewer tasks than cores is "starved", and a stage's skew
    * counts, only when a task ran at least this long; shorter stages are
    * bound by scheduling, not by their tasks. */
  private val LongTaskMs = 20L

  /** Runs `f` with its Spark jobs tagged as operation `op`. */
  def tagged[A](spark: SparkSession, op: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, null)
  }
}

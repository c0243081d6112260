package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One run of one workload: `perfbench.Bench --workload W --seed N
  * --seconds S --trace 0|1 --data DIR --work DIR [--expected FILE]
  * [--record FILE] [--items N]`. Prints the result object as the last line
  * of stdout; with `--trace 1` the per-layer table precedes it and is also
  * written to `--layers FILE`. `perfbench/run.py` builds the classes and
  * passes these arguments. */
object Bench {
  /** The load is one process on `local[Cores]`, sized to the 4-core host
    * the bounds in BENCHMARK.json were measured on. */
  val Cores = 4
  private val SetUps = 5

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def workload: String = this("workload")
    def seed: Long = this("seed").toLong
    def seconds: Double = this("seconds").toDouble
    def trace: Boolean = this("trace") == "1"
    def work: String = this("work")
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    val args = Args(argv.grouped(2).map(p => p(0).drop(2) -> p(1)).toMap)
    val report = new Report
    val (spark, setups) = setUp(args.work)
    log("session ready")
    if (!args.trace) {
      report.metric("setup_s", median(setups), "s")
      report.row("setup_first_s", setups.head, "s")
    }
    args.workload match {
      case "registry" => Registry.run(spark, args, report)
      case "olist_etl" => Etl.run(spark, args, report)
      case "stream_dedup" => Stream.run(spark, args, report)
      case w => sys.error(s"unknown workload $w")
    }
    if (!args.trace) report.metric("peak_heap_mb", report.peakHeapMb, "MB")
    log("workload done")
    spark.stop()
    log("session stopped")
    if (args.trace) args.get("layers").foreach(report.writeTable)
    report.printResult()
  }

  /** `SetUps` session set-ups; the first is timed from JVM start (class
    * loading included), the others from `stop()` of the previous session.
    * `setup_s` is their median, so one slow start does not set it. */
  private def setUp(work: String): (SparkSession, Seq[Double]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(work)
    val first = (System.currentTimeMillis() - jvmStart) / 1e3
    val more = (2 to SetUps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("ERROR")
    (spark, first +: more)
  }

  private def session(work: String): SparkSession =
    graft.SparkPosture(SparkSession.builder())
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  /** A traced run's warm passes go traced, untraced, untraced, traced, ...
    * so that JIT settling over the run does not favour either kind when the
    * two are compared for the tracing overhead. */
  def tracedPass(i: Int): Boolean = i % 4 == 0 || i % 4 == 3

  /** Progress on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Seconds spent in `f`. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Metrics, operation counts and the per-layer table of one run. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val table = mutable.ArrayBuffer.empty[(String, Double, String)]
  var attempted = 0L
  var failed = 0L
  var peakHeapMb = 0.0

  def metric(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is $value")
    metrics(name) = (value, unit)
  }
  /** A row of the per-layer table that is not one of the reported metrics. */
  def row(name: String, value: Double, unit: String): Unit = table += ((name, value, unit))

  /** Runs one operation; a throw is printed with its name and counted as a
    * failure, and the operation gets no timing. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch {
      case NonFatal(e) =>
        fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }
  def fail(what: String, why: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what: ${why.take(500)}")
  }

  /** Live heap right after a forced GC, taken after the cold pass and after
    * the warm ones; the largest reading is `peak_heap_mb`.
    * The first GC queues Spark's weakly held shuffle and broadcast state for
    * its cleaner thread; the pause lets it free that before the GC that is
    * measured. */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(150)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakHeapMb = math.max(peakHeapMb, used)
  }

  /** The generic per-layer metrics: medians over the traced passes. */
  def layers(passes: Seq[LayerStats], buildS: Seq[Double], coldCompiles: Long,
      coldCompileS: Double, cache: (Long, Long), overhead: Double): Unit = {
    def m(f: LayerStats => Double) = Bench.median(passes.map(f))
    metric("dataframe.build_s", Bench.median(buildS), "s")
    metric("catalyst.plan_s", m(_.planS), "s")
    metric("codegen.compiles", coldCompiles.toDouble, "count")
    metric("codegen.compile_s", coldCompileS, "s")
    metric("aqe.jobs", m(_.jobs.toDouble), "count")
    metric("aqe.stages", m(_.stages.toDouble), "count")
    metric("aqe.sched_gap_s", m(_.schedGapS), "s")
    metric("exec.tasks", m(_.tasks.toDouble), "count")
    metric("exec.task_run_s", m(_.taskRunS), "s")
    metric("exec.task_cpu_s", m(_.taskCpuS), "s")
    metric("exec.gc_s", m(_.gcS), "s")
    metric("exec.cpu_util", m(s => s.taskCpuS / math.max(1e-9, s.wallS * Bench.Cores)), "ratio")
    metric("exec.starved_stages", m(_.starved.toDouble), "count")
    metric("exec.stage_skew_max", m(_.skewMax), "ratio")
    metric("shuffle.write_bytes", m(_.shuffleWrite.toDouble), "bytes")
    metric("shuffle.read_bytes", m(_.shuffleRead.toDouble), "bytes")
    metric("spill.disk_bytes", m(_.spillDisk.toDouble), "bytes")
    metric("spill.memory_bytes", m(_.spillMemory.toDouble), "bytes")
    metric("plan.scans", m(_.scans.toDouble), "count")
    metric("plan.exchanges", m(_.exchanges.toDouble), "count")
    metric("plan.reused_exchanges", m(_.reused.toDouble), "count")
    metric("plan.broadcasts", m(_.broadcasts.toDouble), "count")
    metric("cache.persisted_bytes", cache._1.toDouble, "bytes")
    metric("cache.persisted_rdds", cache._2.toDouble, "count")
    metric("Tables.scan_bytes", m(_.scanBytes.toDouble), "bytes")
    metric("Tables.scan_rows", m(_.scanRows.toDouble), "count")
    metric("Tables.write_bytes", m(_.writeBytes.toDouble), "bytes")
    metric("trace.overhead", overhead, "ratio")
  }

  /** Bytes and count of persisted RDDs (the Dedup memo and Checkpoints). */
  def persisted(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length.toLong)
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def writeTable(path: String): Unit = {
    val rows = metrics.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ table
    val json = rows.map { case (k, v, u) => s"""  "$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  def printResult(): Unit = {
    (metrics.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ table).foreach {
      case (k, v, u) => println(f"[perfbench] $k%-34s ${num(v)}%18s $u")
    }
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }
}

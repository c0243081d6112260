package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.StreamDedup

/** `stream_dedup`: `StreamDedup.dedupStream` over generated documents whose
  * content hashes collide 4:1. Two phases, each measured for `seconds / 2`
  * after its warm-up micro-batches:
  *  - capacity: a `rate-micro-batch` source hands every micro-batch exactly
  *    `RowsPerBatch` rows as soon as the previous one ends, so the offered
  *    load is always above capacity and one micro-batch is one pass of fixed
  *    work;
  *  - latency: an open-loop `rate` source offers `OfferedRps` rows/s, below
  *    capacity; each event is timed from its creation timestamp to the end
  *    of the micro-batch that emitted its verdict.
  * The traced run replaces the latency phase with a traced capacity phase
  * and a second untraced one, and compares the traced one with both. */
object Stream {
  val RowsPerBatch = 100000L
  /** Distinct content hashes: each micro-batch of the capacity phase holds
    * every hash four times, and the state store holds `Distinct` rows. */
  val Distinct = RowsPerBatch / 4
  val OfferedRps = 50000L
  val TtlMinutes = 60
  /** Event time of the capacity phase's first micro-batch (each later one is
    * a second later). It must be after the epoch: at the epoch itself every
    * row of batch 0 is at the initial watermark, which counts as late. */
  val StartMs = 1704067200000L
  /** Micro-batches left out of every phase's figures while JIT settles. */
  val WarmupBatches = 2
  /** A phase that has not measured enough by then fails. */
  val PhaseLimitS = 60

  private final case class Phase(batches: Seq[StreamingQueryProgress], buildS: Double) {
    def warm: Seq[StreamingQueryProgress] = batches.drop(WarmupBatches)
  }

  def run(spark: SparkSession, args: Bench.Args, report: Report): Unit = {
    val salt = s"${args.seed}:"
    val phaseS = args.seconds / 2
    val rateBatches = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", RowsPerBatch).option("numPartitions", Bench.Cores)
      .option("startTimestamp", StartMs).load()
    val compiles0 = Codegen.compiles
    val compileS0 = Codegen.compileS
    val capacity = phase(spark, rateBatches, salt, s"${args.work}/ckpt_capacity", report)(
      enoughBatches(phaseS))
    val coldCompiles = Codegen.compiles - compiles0
    val coldCompileS = Codegen.compileS - compileS0
    report.sampleHeap()

    if (!args.trace) {
      val rate = spark.readStream.format("rate")
        .option("rowsPerSecond", OfferedRps).option("numPartitions", Bench.Cores).load()
      val latency = phase(spark, rate, salt, s"${args.work}/ckpt_latency", report)(
        _.drop(WarmupBatches).map(_.numInputRows).sum >= OfferedRps * phaseS)
      report.sampleHeap()
      val lat = latencies(latency.warm)
      report.metric("cold_pass_s", seconds(capacity.batches.head), "s")
      report.metric("warm_pass_s", Bench.median(capacity.warm.map(seconds)), "s")
      report.metric("op_p50_s", weightedQuantile(lat, 0.5), "s")
      report.metric("op_p90_s", weightedQuantile(lat, 0.9), "s")
      report.metric("rows_per_s", Bench.median(capacity.warm.map(_.processedRowsPerSecond)), "rows/s")
      report.row("op_samples", latency.warm.map(_.numInputRows).sum.toDouble, "count")
      report.row("StreamDedup.latency_p99_s", weightedQuantile(lat, 0.99), "s")
      report.row("StreamDedup.backlog_rows", Bench.median(latency.warm.map { p =>
        OfferedRps * (end(p) - Instant.parse(p.eventTime.get("max")).toEpochMilli) / 1e3
      }), "rows")
    } else {
      val tracer = new Tracer(spark)
      tracer.attach()
      val traced = phase(spark, rateBatches, salt, s"${args.work}/ckpt_traced", report)(
        enoughBatches(phaseS))
      tracer.detach()
      val again = phase(spark, rateBatches, salt, s"${args.work}/ckpt_untraced", report)(
        enoughBatches(phaseS))
      val warm = traced.warm
      val stats = warm.map { p =>
        val s = tracer.stats(Map(s"batch:${p.batchId}" -> (start(p), end(p))))
        s.planS += ms(p, "queryPlanning") / 1e3
        s
      }
      val overhead = Bench.median(warm.map(seconds)) /
        Bench.median((capacity.warm ++ again.warm).map(seconds)) - 1
      report.layers(stats, Seq(traced.buildS), coldCompiles, coldCompileS,
        report.persisted(spark), overhead)
      def row(name: String, unit: String)(f: StreamingQueryProgress => Double): Unit =
        report.row(s"StreamDedup.$name", Bench.median(warm.map(f)), unit)
      row("batch_s", "s")(seconds)
      row("add_batch_s", "s")(ms(_, "addBatch") / 1e3)
      row("plan_s", "s")(ms(_, "queryPlanning") / 1e3)
      row("commit_s", "s")(p => (ms(p, "walCommit") + ms(p, "commitOffsets")) / 1e3)
      row("state_update_s", "s")(_.stateOperators.head.allUpdatesTimeMs / 1e3)
      row("state_commit_s", "s")(_.stateOperators.head.commitTimeMs / 1e3)
      row("state_rows", "count")(_.stateOperators.head.numRowsTotal.toDouble)
      row("state_bytes", "bytes")(_.stateOperators.head.memoryUsedBytes.toDouble)
    }
  }

  /** At least three measured micro-batches, together `seconds` long. */
  private def enoughBatches(seconds: Double)(batches: Seq[StreamingQueryProgress]): Boolean = {
    val warm = batches.drop(WarmupBatches)
    warm.size >= 3 && warm.map(this.seconds).sum >= seconds
  }

  /** Runs one streaming query until `enough` holds for its micro-batches
    * with input, then checks its verdicts. */
  private def phase(spark: SparkSession, source: DataFrame, salt: String, checkpoint: String,
      report: Report)(enough: Seq[StreamingQueryProgress] => Boolean): Phase = {
    import spark.implicits._
    val docs = source.select(col("value").as("doc_id"), col("timestamp").as("ts"),
      md5(concat(lit(salt), (col("value") % Distinct).cast("string"))).as("content_hash"))
      .as[StreamDedup.Doc]
    val t0 = System.nanoTime()
    val verdicts = StreamDedup.dedupStream(docs, TtlMinutes)
    val buildS = (System.nanoTime() - t0) / 1e9
    val q = verdicts
      .observe("verdicts", count(lit(1)), sum(col("keep").cast("long")),
        min(col("doc_id")), max(col("doc_id")), sum(col("doc_id")))
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", checkpoint).start()
    def batches = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val limit = System.nanoTime() + PhaseLimitS * 1000000000L
    while (q.isActive && System.nanoTime() < limit && !enough(batches)) Thread.sleep(20)
    q.stop()
    q.exception.foreach(e => report.fail("dedupStream", e.getMessage))
    if (!enough(batches)) report.fail("dedupStream", s"too few micro-batches in $PhaseLimitS s")
    val seen = batches
    check(seen, report)
    Bench.log(s"stream phase ${checkpoint.split('/').last}")
    Phase(seen, buildS)
  }

  /** Exactly one verdict per input row — each micro-batch emits a verdict
    * for a contiguous id range the size of its input, continuing the range
    * of the batch before it — and one keep per distinct content hash. */
  private def check(batches: Seq[StreamingQueryProgress], report: Report): Unit = {
    var next = 0L
    var keeps = 0L
    batches.foreach { p =>
      report.attempt(s"micro-batch ${p.batchId}") {
        val v = p.observedMetrics.get("verdicts")
        val (n, k, lo, hi, sum) = (v.getLong(0), v.getLong(1), v.getLong(2), v.getLong(3), v.getLong(4))
        keeps += k
        val ok = n == p.numInputRows && lo == next && hi == lo + n - 1 && sum == (lo + hi) * n / 2
        if (!ok) report.fail(s"micro-batch ${p.batchId}",
          s"${p.numInputRows} rows in, verdicts n=$n ids $lo..$hi sum=$sum, expected ids from $next")
        next = hi + 1
      }
    }
    report.attempt("keep count") {
      val distinct = math.min(next, Distinct)
      if (keeps != distinct) report.fail("keep count", s"$keeps keeps for $distinct distinct hashes")
    }
  }

  private def ms(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
  private def seconds(p: StreamingQueryProgress): Double = ms(p, "triggerExecution") / 1e3
  private def start(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  private def end(p: StreamingQueryProgress): Long = start(p) + ms(p, "triggerExecution").toLong

  /** Event latencies of the given micro-batches as (latency, weight) pairs:
    * a batch's events are spread evenly over its event-time range, so each
    * batch contributes `Points` evenly spaced latencies weighted by its
    * share of the events. */
  private val Points = 200
  private def latencies(batches: Seq[StreamingQueryProgress]): Seq[(Double, Double)] =
    batches.flatMap { p =>
      val lo = Instant.parse(p.eventTime.get("min")).toEpochMilli
      val hi = Instant.parse(p.eventTime.get("max")).toEpochMilli
      val e = end(p)
      (0 until Points).map { i =>
        val ts = lo + (hi - lo) * (i + 0.5) / Points
        ((e - ts) / 1e3, p.numInputRows.toDouble / Points)
      }
    }

  private def weightedQuantile(xs: Seq[(Double, Double)], q: Double): Double = {
    val s = xs.sortBy(_._1)
    val target = q * s.map(_._2).sum
    var acc = 0.0
    s.find { case (_, w) => acc += w; acc >= target }.getOrElse(s.last)._1
  }
}

// Scratch runner: execute every registry query once (optionally N passes)
// and print the JVM-wide codegen compilation counters after each pass —
// sizes spark.sql.codegen.cache.maxEntries from the measured number of
// distinct generated classes a full suite pass compiles, instead of
// guessing. Usage: bash tools/run.sh graft.tools.CodegenCensus <sfDir> [passes]
package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import graft.SparkPosture

object CodegenCensus {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def stats(): (Long, Long, Double) = {
      val n = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
      val t = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ms = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      (n, t, ms)
    }
    for (p <- 1 to passes) {
      val (n0, t0, _) = stats()
      val tw0 = System.nanoTime()
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, dir).count() catch { case _: Throwable => () }
      }
      val wall = (System.nanoTime() - tw0) / 1e9
      val (n1, t1, mean) = stats()
      println(f"[codegen] pass=$p wall=$wall%.1f sources_compiled=${n1 - n0} " +
        f"compilations=${t1 - t0} mean_compile_ms=$mean%.1f " +
        f"cum_sources=$n1")
    }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

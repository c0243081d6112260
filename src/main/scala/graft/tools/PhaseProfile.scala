// Scratch runner: split a registry query's wall time into build (DataFrame
// construction, incl. any driver-side superstep jobs), plan (analysis +
// optimization + physical planning), and exec (the count() action), over
// N warm repeats — tells an optimization round whether a slow query is
// driver-plan-bound or execution-bound.
// Usage: bash tools/run.sh graft.tools.PhaseProfile <sfDir> <reps> <qname ...>
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkPosture

object PhaseProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (r <- 1 to reps; name <- names) {
      System.gc()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force planning
      val t2 = System.nanoTime()
      df.count()
      val t3 = System.nanoTime()
      println(f"[phase] $name rep=$r build=${(t1 - t0) / 1e9}%.3f " +
        f"plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f " +
        f"total=${(t3 - t0) / 1e9}%.3f")
    }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

// Scratch runner: execute every registry query and print one line per query
// with FINAL-adaptive-plan shape counts (parquet scans, reused exchanges,
// exchanges, wall time) — locates duplicate-subtree recomputation that AQE
// exchange reuse failed to dedupe.
// Usage: bash tools/run.sh graft.tools.ExecShapes <sfDir> [qname ...]
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkPosture

object ExecShapes {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        try {
          System.gc()
          val df = fn(spark, dir)
          val t0 = System.nanoTime()
          df.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val planStr = df.queryExecution.executedPlan.toString
          // count only the executed (final) side of adaptive plans
          val finalStr = planStr.split("\\+\\- == Initial Plan ==").head
          def cnt(p: String) = p.r.findAllIn(finalStr).length
          val scans = "FileScan parquet \\[[^\\]]*\\] [^\\n]*?(sf[0-9.]+)/([a-z]+)\\.parquet".r
            .findAllMatchIn(finalStr).map(_.group(2)).toSeq
          val byTable = scans.groupBy(identity).map { case (t, s) => s"$t=${s.size}" }
            .toSeq.sorted.mkString(",")
          println(f"[shape] $name wall=$wall%.3f scans=${scans.size} " +
            f"reused=${cnt("ReusedExchange")} exch=${cnt("Exchange (hash|Single|Range|round)")} " +
            f"bcast=${cnt("BroadcastExchange")} [$byTable]")
        } catch { case e: Throwable =>
          println(s"[shape] $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

// Scratch runner: execute every registry query and dump the FINAL adaptive
// executed plan to <outDir>/<query>.txt for offline shape analysis.
// Usage: bash tools/run.sh graft.tools.ExecPlanDump <outDir> <sfDir> [q ...]
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkPosture

object ExecPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val dir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val txt = try {
          val df = fn(spark, dir)
          df.collect()
          df.queryExecution.executedPlan.toString
        } catch { case e: Throwable => s"ERROR ${e.getMessage}" }
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[dump] $name")
      }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

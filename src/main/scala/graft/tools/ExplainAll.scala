// Scratch runner: dump the formatted physical plan of every registry query
// (or a named subset) to <outDir>/<query>_<suffix>.txt — the before/after
// plan evidence for optimization rounds.
// Usage: bash tools/run.sh graft.tools.ExplainAll <outDir> <suffix> [sfDir] [qname ...]
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkPosture

object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only = args.drop(3).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val txt = try {
          val df = fn(spark, dir)
          // same string explain("formatted") prints
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable =>
          s"ERROR ${e.getClass.getName}: ${e.getMessage}"
        }
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[explainall] $name -> ${name}_$suffix.txt")
      }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

// Scratch runner: execute registry queries with a SparkListener that
// records per-job wall time, stage count and task count — locates where an
// overhead-bound query spends its time (many small jobs vs one big stage).
// Usage: bash tools/run.sh graft.tools.JobProfile <sfDir> <reps> <qname ...>
package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.SparkPosture
import scala.collection.mutable

object JobProfile {
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
    case class J(start: Long, var end: Long = 0L, var stages: Int = 0,
      var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageTasks = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs(e.jobId) = J(e.time)
        jobs(e.jobId).stages = e.stageInfos.size
        jobs(e.jobId).tasks = e.stageInfos.map(_.numTasks).sum
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (r <- 1 to reps; name <- names) {
      System.gc()
      jobs.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the listener bus drain
      val parts = jobs.toSeq.map { case (id, j) =>
        f"j$id:${(j.end - j.start) / 1e3}%.2fs/${j.stages}st/${j.tasks}tk"
      }
      val jsum = jobs.values.map(j => (j.end - j.start) / 1e3).sum
      println(f"[jobs] $name rep=$r wall=$wall%.3f njobs=${jobs.size} " +
        f"jobsum=$jsum%.2f ${parts.mkString(" ")}")
    }
    graft.SessionLedger.release(spark)
    spark.stop()
  }
}

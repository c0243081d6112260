package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import graft.SparkPosture

/** One compact plan-signal line per registry query — the deterministic
  * side of the catalog-stats A/B (VERDICT r11 item 4). Wall-clock A/Bs on
  * this host carry ±40% session-to-session noise (see PLANS.md round-12
  * cont. 3), but a STATS-DRIVEN PLAN CHANGE is visible in the initial
  * physical plan with no timing at all: join strategy selection, exchange
  * count, and runtime bloom-filter injection all read directly off the
  * pre-execution SparkPlan. Run once per mode and diff:
  *
  *   tools/run.sh graft.tools.PlanSummary /tmp/sf1 > /tmp/plans_base.txt
  *   GRAFT_CATALOG_STATS=full tools/run.sh ... > /tmp/plans_stats.txt
  *   diff /tmp/plans_base.txt /tmp/plans_stats.txt
  *
  * The line deliberately contains ONLY mode-invariant vocabulary (node
  * class names, counts) — catalog-table relation identifiers and
  * expression ids never appear, so a diff hit IS a plan change.
  *
  * Caveat: queries whose builders run driver-side iterative jobs
  * (components, k-means, BPE supersteps) execute those jobs at build
  * time; their cost here is build cost, not a timing artifact.
  */
object PlanSummary {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    // optional explicit name list (args 2..) — at sf>=10 the anchor /
    // component builders cost real compute at build time, so subset runs
    // keep the A/B affordable where only the join family is in question
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkPosture(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        println(s"[plan] $name ${summarize(plan)}")
      } catch {
        case e: Throwable =>
          println(s"[plan] $name ERROR ${e.getClass.getSimpleName}")
      }
    }
    graft.SessionLedger.release(spark)
    spark.stop()
  }

  /** Counts come from the PRINTED tree, not SparkPlan.collect: under AQE
    * the root is an AdaptiveSparkPlanExec whose inner plan is not in
    * `children`, so collect sees one node — while toString prints the
    * whole initial plan including subqueries (where runtime bloom
    * creation lives). */
  private[tools] def summarize(plan: SparkPlan): String = {
    val s = plan.toString
    def count(tok: String): Int = {
      var n = 0; var i = s.indexOf(tok)
      while (i >= 0) { n += 1; i = s.indexOf(tok, i + tok.length) }
      n
    }
    val joinKinds = Seq("SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
    val joins = joinKinds.map(k => k -> count(k + " ")).filter(_._2 > 0)
      .map { case (k, n) => if (n == 1) k else s"$k*$n" }
    val shuffles = count("Exchange hashpartitioning") +
      count("Exchange rangepartitioning") + count("Exchange SinglePartition") +
      count("Exchange RoundRobinPartitioning")
    val bcasts = count("BroadcastExchange ")
    val bloom = s.contains("might_contain") || s.contains("bloom_filter_agg")
    val dpp = s.contains("dynamicpruning")
    s"joins=${if (joins.isEmpty) "-" else joins.mkString(",")} " +
      s"shuffles=$shuffles bcasts=$bcasts bloom=$bloom dpp=$dpp"
  }
}

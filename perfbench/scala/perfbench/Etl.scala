package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit}

import graft.pipeline.OlistPipeline
import graft.sources.Tables

/** `olist_etl`: the paper's batch job, a closed loop of one client. Each pass
  * runs `OlistPipeline.runPipeline` over the CSVs generated from the seed
  * into a fresh lake directory. The traced passes call the three steps of
  * `runPipeline` one by one instead, each with its write. */
object Etl {
  def run(spark: SparkSession, args: Bench.Args, report: Report): Unit = {
    val src = args("input")
    val items = args("items").toLong
    var lakes = 0
    val tracer = if (args.trace) Some(new Tracer(spark)) else None

    /** One pipeline run into a fresh lake, or nothing if it failed; its
      * output is checked and then deleted outside the timing. */
    def once(tag: String, traced: Boolean): Option[Pass] = {
      lakes += 1
      val lake = s"${args.work}/lake_$lakes"
      val p = report.attempt(s"runPipeline ($tag)") {
        if (traced) steps(spark, src, lake, tag, tracer.get)
        else Pass(Bench.timed(OlistPipeline.runPipeline(spark, src, lake)), Nil)
      }
      if (p.isDefined) check(spark, lake, items, tag, report)
      Bench.deleteTree(new java.io.File(lake))
      p
    }

    val compiles0 = Codegen.compiles
    val compileS0 = Codegen.compileS
    val cold = once("cold", args.trace)
    val coldCompiles = Codegen.compiles - compiles0
    val coldCompileS = Codegen.compileS - compileS0
    report.sampleHeap()

    val warm = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    var n = 0
    val t0 = System.nanoTime()
    while (n < (if (args.trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val traced = args.trace && Bench.tracedPass(n)
      once(s"warm$n", traced).foreach(p => warm += ((p, traced)))
      n += 1
    }
    report.sampleHeap()
    val warmS = warm.map(_._1.seconds).toSeq

    if (!args.trace) {
      cold.foreach(p => report.metric("cold_pass_s", p.seconds, "s"))
      report.metric("warm_pass_s", Bench.median(warmS), "s")
      report.metric("op_p50_s", Bench.median(warmS), "s")
      report.metric("op_p90_s", Bench.quantile(warmS, 0.9), "s")
      report.metric("rows_per_s", items / Bench.median(warmS), "rows/s")
      report.row("op_samples", warmS.size, "count")
    } else {
      val traced = warm.filter(_._2).map(_._1).toSeq
      val untraced = warm.filterNot(_._2).map(_._1).toSeq
      val stats = traced.map(p => tracer.get.stats(p.steps.map(s => s.id -> (s.startMs, s.endMs)).toMap))
      val overhead = Bench.median(traced.map(_.seconds)) / Bench.median(untraced.map(_.seconds)) - 1
      report.layers(stats, traced.map(_.steps.map(_.buildS).sum), coldCompiles, coldCompileS,
        report.persisted(spark), overhead)
      Seq("loadRaw", "dim", "master").foreach { step =>
        report.row(s"OlistPipeline.${step}_s",
          Bench.median(traced.flatMap(_.steps.filter(_.step == step).map(_.seconds))), "s")
        cold.foreach(c => report.row(s"OlistPipeline.${step}_cold_s",
          c.steps.filter(_.step == step).map(_.seconds).sum, "s"))
      }
    }
  }

  private final case class Step(step: String, id: String, buildS: Double, seconds: Double,
      startMs: Long, endMs: Long)
  private final case class Pass(seconds: Double, steps: Seq[Step])

  /** `runPipeline`'s three steps, each timed with its write. */
  private def steps(spark: SparkSession, src: String, lake: String, tag: String,
      tracer: Tracer): Pass = {
    tracer.attach()
    try stepsTraced(spark, src, lake, tag) finally tracer.detach()
  }

  private def stepsTraced(spark: SparkSession, src: String, lake: String, tag: String): Pass = {
    def read(t: String) = spark.read.parquet(s"$lake/$t.parquet")
    def step(name: String)(build: => DataFrame)(write: DataFrame => Unit): Step = {
      val id = s"$tag:$name"
      Tracer.tagged(spark, id) {
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = build
        val t1 = System.nanoTime()
        write(df)
        val t2 = System.nanoTime()
        Step(name, id, (t1 - t0) / 1e9, (t2 - t0) / 1e9, startMs, System.currentTimeMillis())
      }
    }
    val load = step("loadRaw")(spark.emptyDataFrame)(_ => OlistPipeline.loadRaw(spark, src, lake))
    val dim = step("dim")(OlistPipeline.buildDimLocations(
      read("customers"), read("sellers"), read("geolocation")))(
      Tables.overwrite(_, s"$lake/dim_locations.parquet"))
    val master = step("master")(OlistPipeline.buildMaster(
      read("orders"), read("order_items"), read("order_payments"), read("order_reviews"),
      read("products"), read("product_category_name_translation"),
      read("customers"), read("sellers"), read("dim_locations")))(
      Tables.overwrite(_, s"$lake/master_table.parquet"))
    val all = Seq(load, dim, master)
    Pass(all.map(_.seconds).sum, all)
  }

  /** Outside the timing: one master row per generated order item, unique on
    * (order_id, order_item_id), and a non-empty dim_locations. */
  private def check(spark: SparkSession, lake: String, items: Long, tag: String,
      report: Report): Unit =
    report.attempt(s"olist output ($tag)") {
      val r = spark.read.parquet(s"$lake/master_table.parquet")
        .agg(count(lit(1)), count_distinct(col("order_id"), col("order_item_id"))).head()
      val dims = spark.read.parquet(s"$lake/dim_locations.parquet").count()
      Seq(
        (r.getLong(0) != items) -> s"master has ${r.getLong(0)} rows, generated items $items",
        (r.getLong(1) != r.getLong(0)) -> s"master has ${r.getLong(1)} distinct item keys in ${r.getLong(0)} rows",
        (dims == 0) -> "dim_locations is empty").collect { case (true, why) => why }
    }.filter(_.nonEmpty).foreach(ws => report.fail(s"olist output ($tag)", ws.mkString("; ")))
}

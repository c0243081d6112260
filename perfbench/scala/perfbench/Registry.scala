package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `registry` workload: a closed loop of one client running a fixed
  * slice of registry queries one at a time over the committed corpus. Each
  * pass runs every query of the slice once, in an order drawn from the seed;
  * each query's full result goes to the `noop` sink, so every column is
  * computed. */
object Registry {

  /** Module → registry list, to place each query in its module (layer). */
  private val modules: Seq[(String, Seq[graft.Q])] = Seq(
    "CoreQueries" -> graft.operators.CoreQueries.all,
    "Events" -> graft.streaming.Events.all,
    "Graph" -> graft.operators.Graph.all,
    "Cdc" -> graft.operators.Cdc.all,
    "Sketches" -> graft.operators.Sketches.all,
    "TextAnalysis" -> graft.operators.TextAnalysis.all,
    "Dedup" -> graft.operators.Dedup.all,
    "SimilaritySearch" -> graft.operators.SimilaritySearch.all,
    "Ranking" -> graft.operators.Ranking.all,
    "Curation" -> graft.operators.Curation.all,
    "Learn" -> graft.operators.Learn.all,
    "Multimodal" -> graft.operators.Multimodal.all)

  /** The slice of the registry that one pass runs: one query per module, two
    * for `Dedup`. A pass over all 113 queries takes 30-50 s cold, more than
    * one run can spend. The queries are chosen for the behaviour they show:
    * AQE stage cascades (q68 runs 12 jobs, q74 8), few-task compute stages
    * (q34), a `Dedup` memo consumer (q31) and wide quality-score expressions
    * that a `count()` would prune (q24). */
  val slice: Seq[String] = Seq(
    "q74_star_join", "q14_events_tumbling", "q68_pagerank_step", "q76_snapshot_diff",
    "q80_count_min", "q24_quality_score", "q31_dedup_ngram_jaccard", "q34_dedup_embedding",
    "q37_ann_ivf", "q101_hybrid_retrieval", "q88_eval_carveout", "q100_chi2_terms",
    "q40_multimodal_features")

  /** Warm passes a run makes at least: 8 × 13 = 104 samples, so that the
    * p90 has ten samples beyond it. */
  private val MinWarmPasses = 8

  private final case class Query(module: String, name: String,
      run: (SparkSession, String) => DataFrame)
  private final case class Op(q: Query, tag: String, buildS: Double, totalS: Double,
      startMs: Long, endMs: Long) {
    def id: String = s"$tag:${q.name}"
  }

  def run(spark: SparkSession, args: Bench.Args, report: Report): Unit = {
    val dir = args("data")
    val entry = graft.SparkEntry.queries
    val queries = slice.map { name =>
      val module = modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
        .getOrElse(sys.error(s"$name is in no registry module"))
      Query(module, name, entry(name))
    }
    val rng = new Random(args.seed)
    def order(): Seq[Query] = rng.shuffle(queries)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None

    def pass(tag: String, traced: Boolean): Seq[Op] = {
      val t = if (traced) tracer else None
      t.foreach(_.attach())
      val ops = order().flatMap { q =>
        report.attempt(s"${q.name} ($tag)") {
          val body = () => {
            val startMs = System.currentTimeMillis()
            val t0 = System.nanoTime()
            val df = q.run(spark, dir)
            val t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            Op(q, tag, (t1 - t0) / 1e9, (t2 - t0) / 1e9, startMs, System.currentTimeMillis())
          }
          if (t.isDefined) Tracer.tagged(spark, s"$tag:${q.name}")(body()) else body()
        }
      }
      t.foreach(_.detach())
      Bench.log(s"pass $tag")
      ops
    }
    def total(ops: Seq[Op]): Double = ops.map(_.totalS).sum

    val compiles0 = Codegen.compiles
    val compileS0 = Codegen.compileS
    val cold = pass("cold", traced = false)
    val coldCompiles = Codegen.compiles - compiles0
    val coldCompileS = Codegen.compileS - compileS0
    report.sampleHeap()
    val resultRows = check(spark, dir, order(), args, report)
    Bench.log("check")

    val warm = mutable.ArrayBuffer.empty[(Seq[Op], Boolean)]
    val warmCompiles0 = Codegen.compiles
    val t0 = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - t0) / 1e9 < args.seconds) {
      val traced = args.trace && Bench.tracedPass(warm.size)
      warm += ((pass(s"warm${warm.size}", traced), traced))
    }
    report.sampleHeap()
    val warmS = warm.map { case (ops, _) => total(ops) }.toSeq

    if (!args.trace) {
      val samples = warm.flatMap(_._1.map(_.totalS)).toSeq
      report.metric("cold_pass_s", total(cold), "s")
      report.metric("warm_pass_s", Bench.median(warmS), "s")
      report.metric("op_p50_s", Bench.median(samples), "s")
      report.metric("op_p90_s", Bench.quantile(samples, 0.9), "s")
      report.metric("rows_per_s", resultRows / Bench.median(warmS), "rows/s")
      report.row("op_samples", samples.size, "count")
      cold.foreach(o => report.row(s"${o.q.name}.cold_s", o.totalS, "s"))
    } else {
      val tr = tracer.get
      val traced = warm.filter(_._2).map(_._1).toSeq
      val untraced = warm.filterNot(_._2).map(_._1).toSeq
      val stats = traced.map(ops =>
        tr.stats(ops.map(o => o.id -> (o.startMs, o.endMs)).toMap))
      val overhead = Bench.median(traced.map(total)) / Bench.median(untraced.map(total)) - 1
      report.layers(stats, traced.map(_.map(_.buildS).sum), coldCompiles, coldCompileS,
        report.persisted(spark), overhead)
      report.row("codegen.warm_compiles", (Codegen.compiles - warmCompiles0).toDouble, "count")
      queries.map(_.module).distinct.foreach { m =>
        report.row(s"$m.cold_s", cold.filter(_.q.module == m).map(_.totalS).sum, "s")
        report.row(s"$m.warm_s",
          Bench.median(warm.map(_._1.filter(_.q.module == m).map(_.totalS).sum).toSeq), "s")
      }
      queries.foreach { q =>
        report.row(s"${q.name}.warm_s",
          Bench.median(warm.flatMap(_._1.filter(_.q == q).map(_.totalS)).toSeq), "s")
      }
    }
    graft.operators.Dedup.releaseCaches(spark)
  }

  /** Outside the timed passes: each query's row count and order-independent
    * content digest against the values stored beside the benchmark. Returns
    * the rows one pass delivers. */
  private def check(spark: SparkSession, dir: String, qs: Seq[Query], args: Bench.Args,
      report: Report): Long = {
    val expected = args.get("expected").map(readExpected).getOrElse(Map.empty)
    val record = args.get("record").map(p => new java.io.PrintWriter(new java.io.FileWriter(p, true)))
    var rows = 0L
    qs.foreach { q =>
      report.attempt(s"${q.name} (check)")(Digest(q.run(spark, dir))).foreach {
        case (n, h) =>
          rows += n
          record.foreach(_.println(s"${q.name}\t$n\t$h"))
          expected.get(q.name) match {
            case Some((en, eh)) if en == n && eh == h =>
            case Some((en, eh)) =>
              report.fail(s"${q.name} (check)", s"rows=$n digest=$h, expected rows=$en digest=$eh")
            case None if record.isEmpty =>
              report.fail(s"${q.name} (check)", "no expected result recorded")
            case None =>
          }
      }
    }
    record.foreach(_.close())
    rows
  }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, n, h) = l.split('\t')
      name -> (n.toLong, h)
    }.toMap
    finally src.close()
  }
}

/** Order-independent digest of a result: the wrapping sum of a 64-bit hash
  * of each row. A double is hashed with its lowest 20 mantissa bits rounded
  * away (about 10 significant digits kept), so that a floating-point sum
  * taken in another order still matches. */
object Digest {
  /** (row count, digest), computed in the tasks that produce the rows. */
  def apply(df: DataFrame): (Long, String) = {
    val parts = df.rdd.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      rows.foreach { r => n += 1; sum += mix(hash(r)) }
      Iterator((n, sum))
    }.collect()
    (parts.map(_._1).sum, f"${parts.map(_._2).sum}%016x")
  }

  private def hash(v: Any): Long = v match {
    case null => 0x6e756c6cL
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.hashCode
    case s: String => MurmurHash3.stringHash(s).toLong << 32 | s.length
    case r: Row => seq(r.toSeq)
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => mix(hash(k) * 31 + hash(x)) }.sum
    case a: Array[Byte] => MurmurHash3.bytesHash(a)
    case xs: scala.collection.Seq[_] => seq(xs)
    case t: java.sql.Timestamp => t.getTime * 1000003L + t.getNanos
    case other => MurmurHash3.stringHash(other.toString)
  }

  private def seq(xs: Iterable[Any]): Long =
    xs.foldLeft(0x9e3779b97f4a7c15L)((h, x) => mix(h * 31 + hash(x)))

  private def real(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN) 0x7ff8000000000000L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  /** splitmix64's finalizer. */
  private def mix(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

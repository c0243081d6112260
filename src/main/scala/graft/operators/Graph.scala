package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Graph analytics over relations — the BSP/Pregel family expressed as
  * DataFrame supersteps (the same plan shape GraphX/GraphFrames lower to:
  * contributions shuffle on dst, degree join on src). Complements the
  * label-propagation connected components in Dedup (q48).
  *
  * Reproducibility design: rank mass is FIXED-POINT (scaled longs, integer
  * division for the per-edge split) so every aggregation is an exact
  * integer sum — order-independent, hence identical across engines,
  * retries, and partitionings. Floating-point appears only in final
  * per-row projections (deterministic IEEE ops on identical inputs). At
  * 100 TB this is not just an oracle trick: fixed-point accumulation is
  * how you make an iterative graph job bit-reproducible under speculative
  * execution and AQE re-planning.
  */
object Graph {

  /** Rank quantum: contributions are scaled to 2^30 units of rank mass. */
  private val Scale = 1L << 30

  /** Bipartite part↔supplier edge list from lineitem co-occurrence, both
    * directions; node ids namespaced by parity (parts even, suppliers odd).
    * The distinct() is the dedup shuffle; everything downstream reuses it. */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables(spark, dir, "lineitem")
      .select((col("l_partkey") * 2).as("p"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    pairs.select(col("p").as("src"), col("sn").as("dst"))
      .union(pairs.select(col("sn").as("src"), col("p").as("dst")))
  }

  /** One power-iteration superstep from ranks `r` (node_id, r_scaled):
    * split each node's mass over its out-edges with integer division
    * (remainder mass < outdeg stays with the damping term — bounded,
    * deterministic loss), sum per destination, damp. */
  private def step(es: DataFrame, outdeg: DataFrame, r: DataFrame,
      nNodes: Long): DataFrame =
    es.join(outdeg, "src")
      .join(r.withColumnRenamed("node_id", "src"), "src")
      .select(col("dst").as("node_id"),
        expr("r_scaled div outdeg").as("g"))
      .groupBy(col("node_id"))
      .agg(sum(col("g")).as("in_scaled"))
      .select(col("node_id"),
        (lit((0.15 * Scale / nNodes).toLong) + expr("CAST(0.85 * in_scaled AS BIGINT)"))
          .as("r_scaled"))

  /** Multi-step PageRank on the part↔supplier graph: returns (node_id,
    * r_scaled) after `iters` supersteps from the uniform distribution.
    * Deterministic to the bit (see object doc); total mass stays within
    * iters × nNodes quanta of 2^30 (integer-division remainders). */
  def pagerankIterate(spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val es = edges(spark, dir).persist()
    try {
      val outdeg = es.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val nNodes = outdeg.count()
      var r = outdeg.select(col("src").as("node_id"),
        lit(Scale / nNodes).as("r_scaled"))
      for (_ <- 0 until iters) {
        // localCheckpoint truncates the growing lineage (same device as the
        // q48 label-propagation loop); each superstep is one shuffle. The
        // checkpoint/drop pair keeps live checkpoint blocks O(1) across the
        // loop and lets the ledger free the final iterate (r15: bare
        // localCheckpoint blocks outlive every teardown).
        val next = graft.SessionLedger.checkpoint(step(es, outdeg, r, nNodes), dir)
        graft.SessionLedger.drop(r)
        r = next
      }
      r
    } finally es.unpersist(blocking = false)
  }

  /** q68 — ONE PageRank superstep from uniform ranks, fully oracle-checked:
    * out-degrees, exact scaled in-contributions, and the damped rank. The
    * single-superstep relation is the unit the iterative job (above) loops;
    * checking it exactly checks the loop body. N reaches the plan as a
    * broadcast 1-row aggregate (scalar subquery on the oracle side) — no
    * driver-side constant. */
  val q68PagerankStep: Q = Q(
    "q68_pagerank_step",
    (s, dir) => {
      // undirected bipartite graph: both directions of one pair relation.
      // Degrees per side come from two aggregations of the SAME pair scan,
      // and each pair row emits BOTH its contributions via explode — the
      // pair relation is computed twice total (deg + contrib), not once per
      // direction per consumer as the naive edges-union formulation would.
      // notNull on the keys (optimization r18): without it, each of the
      // five consumers of the pairs-distinct exchange inferred a DIFFERENT
      // isnotnull() set from its own join keys, the subtree copies stopped
      // canonicalizing equal, and the distinct exchange (and the lineitem
      // scan under it) materialized once per consumer — 5 scans, 3 of them
      // full distinct shuffles. Non-nullable keys → identical branches →
      // one scan + one exchange + ReusedExchange for the rest.
      val pairs = Tables(s, dir, "lineitem")
        .select(graft.functions.Cleanse.notNull(col("l_partkey") * 2).as("p"),
          graft.functions.Cleanse.notNull(col("l_suppkey") * 2 + 1).as("sn"))
        .distinct()
      val degP = pairs.groupBy("p").agg(count(lit(1)).as("deg_p"))
      val degS = pairs.groupBy("sn").agg(count(lit(1)).as("deg_s"))
      // The deg_p/deg_s references are always-true anchors (count(*) >= 1
      // by construction): without them column pruning rewrites each node
      // count into its own single-column distinct straight off the scan —
      // a THIRD and FOURTH lineitem scan with their own exchanges — where
      // the anchored form re-reads the degP/degS exchanges already
      // materialized for the contribution join (ReusedExchange; executed
      // plan: one lineitem scan total, was five).
      // np + ns as ONE count over the (disjoint-namespace) union of the
      // two degree relations — one aggregate stage instead of two
      // single-partition aggregates plus a cross join (each a separate
      // AQE round trip on the critical path to the broadcast of n).
      val n = degP.filter(col("deg_p") >= 1).select(col("p").as("node"))
        .union(degS.filter(col("deg_s") >= 1).select(col("sn").as("node")))
        .agg(count(lit(1)).as("n_nodes"))
      val contrib = pairs.join(degP, "p").join(degS, "sn")
        .join(broadcast(n))
        .select(explode(array(
          struct(col("sn").as("dst"), expr(s"$Scale div (deg_p * n_nodes)").as("g")),
          struct(col("p").as("dst"), expr(s"$Scale div (deg_s * n_nodes)").as("g"))))
          .as("c"))
        .select(col("c.dst").as("dst"), col("c.g").as("g"))
      contrib.groupBy(col("dst"))
        .agg(count(lit(1)).as("in_degree"), sum(col("g")).as("in_scaled"))
        .join(broadcast(n))
        .select(
          col("dst").as("node_id"),
          when(col("dst") % 2 === 0, "part").otherwise("supplier").as("node_type"),
          col("in_degree"), col("in_scaled"),
          (lit(0.15) / col("n_nodes").cast("double")
            + lit(0.85) * (col("in_scaled").cast("double") / lit(Scale.toDouble)))
            .as("pagerank"))
    },
    Some(s"""WITH pairs AS (
      |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sn FROM lineitem),
      |edges AS (
      |  SELECT p AS src, sn AS dst FROM pairs
      |  UNION ALL SELECT sn AS src, p AS dst FROM pairs),
      |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      |n AS (SELECT COUNT(*) AS n_nodes FROM outdeg),
      |contrib AS (
      |  SELECT e.dst, $Scale // (o.outdeg * n.n_nodes) AS g
      |  FROM edges e JOIN outdeg o ON o.src = e.src CROSS JOIN n)
      |SELECT dst AS node_id,
      |  CASE WHEN dst % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
      |  COUNT(*) AS in_degree,
      |  CAST(SUM(g) AS BIGINT) AS in_scaled,
      |  CAST(0.15 AS DOUBLE) / CAST((SELECT n_nodes FROM n) AS DOUBLE)
      |    + CAST(0.85 AS DOUBLE) * (CAST(SUM(g) AS DOUBLE) / CAST($Scale AS DOUBLE))
      |    AS pagerank
      |FROM contrib GROUP BY dst""".stripMargin))

  val all: Seq[Q] = Seq(q68PagerankStep)
}

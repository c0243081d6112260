package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Round bench harness. Round-9 rework (VERDICT r8 item 1): the r7/r8
  * artifacts were single-pass wall times captured as a TRUNCATED stdout
  * tail — host-contention spikes polluted whole rounds (uniform ~1.3×
  * drift on untouched queries) and the tail cut per-query numbers off
  * mid-line (`parsed: null`). Now:
  *   - `SPARK_GRAFT_BENCH_PASSES` (default 3) INTERLEAVED passes: pass p
  *     runs every query once in fixed name order, so a contention burst
  *     lands on at most one sample of each query instead of all samples
  *     of a few; the reported number is the per-query MEDIAN.
  *   - the full artifact (every sample + medians + env) is written to
  *     `SPARK_GRAFT_BENCH_OUT` (default /tmp/graft_bench.json) —
  *     ATOMICALLY (temp file + ATOMIC_MOVE, so a mid-write kill can never
  *     leave truncated JSON), machine-readable regardless of how stdout is
  *     captured.
  *   - stdout keeps the one-line driver contract but SMALL (VERDICT r9
  *     item 2: the ~4 KB per-query line overflowed the driver's capture
  *     window — `parsed: null`): total + per-family subtotals + the
  *     artifact path, ~400 B. Per-query medians live in the artifact.
  *   - declared correctness anchors (`SparkEntry.anchors`: brute-force
  *     ground truths with separate production forms — super-linear BY
  *     DESIGN) report under their own "anchors" family, so production
  *     family totals aren't polluted by ground-truth cost (r9 item 3).
  * Medians are WARM numbers: memoized persists (Dedup shingle relation)
  * materialize during pass 1 and are reused by later passes, so the
  * median reflects steady-state cost; caches release once at the end.
  * Because of that, memo-subsidized queries (q31 reads 0.14 s warm at sf1
  * while its shingle scan materialized under whichever query ran first)
  * are unreadable from medians alone — so the artifact ALSO records
  * `cold` = the pass-1 wall per query (r11 VERDICT item 2). Pass 1 runs
  * in fixed name order, so `cold` charges each shared relation to the
  * alphabetically-first consumer; later queries' `cold` is already
  * memo-warm. Headline stays the warm median.
  */
object Bench {
  private def r4(d: Double): Double = math.rint(d * 1e4) / 1e4
  private def r2(d: Double): Double = math.rint(d * 1e2) / 1e2

  /** Driver-visible per-query medians (VERDICT r18 item 2): the driver
    * parses the contract line out of a ~2000-char stdout TAIL, so the
    * full 113-query map (~2.6 KB at r4 precision) can never ride on it —
    * that is exactly the r7/r8 `parsed: null` overflow that made r9 move
    * per-query detail into the artifact. Compromise: carry the LARGEST
    * medians, centisecond-rounded, biggest first, skipping any entry that
    * would push the whole line past `lineBudget` bytes (a shorter later
    * entry may still fit) and every median under `minSec` (0.1 s — the
    * driver's own per-query regression gate is >10% AND >0.1 s, so
    * sub-0.1 s queries cannot regress reportably). The COMPLETE map
    * stays in the artifact; this restores driver-side per-query and
    * scaling visibility for every query large enough to matter without
    * risking the one-line contract. */
  private[graft] def packQueries(med: Seq[(String, Double)], baseLen: Int,
      lineBudget: Int = 1800, minSec: Double = 0.1): String = {
    val sb = new StringBuilder("{")
    var n = 0
    for ((name, sec) <- med.sortBy { case (nm, s) => (-s, nm) }
         if sec >= minSec) {
      val entry = (if (n == 0) "" else ",") + "\"" + name + "\":" + r2(sec)
      if (baseLen + sb.length + entry.length + 1 <= lineBudget) {
        sb.append(entry); n += 1
      }
    }
    sb.append("}").toString
  }

  /** Fixed-workload host-speed control (VERDICT r12 item 3): a pinned
    * synthetic query on generated-in-memory data — range → xxhash64 →
    * 1M-key hash agg → sort-limit — with its OWN pinned parallelism
    * (32 input slices, 32 shuffle partitions) so the number depends only
    * on the host, never on SF, registry contents, or the session's cpu
    * env. Cross-session bench totals divide by this to separate "the box
    * is slow today" from "the binary got slower": r12's +25% nominal
    * regression needed an out-of-band rebuilt-binary control to attribute
    * (~1.4× slower host); this makes every artifact self-normalizing.
    * The workload is versioned (`control_id`) and must NEVER change
    * within a version — a changed workload is a new id. The FIRST point
    * of a run is a median of 5 after `warmups` untimed runs and needs 3
    * (measured: with 1, the before-pass point read 19.3 s vs 4.2 s fully
    * warm — C2 compilation of the control shape spans several executions
    * and would have inflated the spread floor to ~277%, flagging every
    * future delta as noise); later same-JVM points are a median of 3
    * after 1.
    */
  val ControlId = "range30m-xxhash-agg1m-v1"

  /** Convergence-gated warm-up (VERDICT r18 item 9): fixed warm-up counts
    * were not enough under CPU steal — the driver's r18 run still burned a
    * 10.0 s cold-JIT FIRST control point (424% spread), wasting the
    * normalization. Keep running untimed warm-ups until two consecutive
    * ones agree within 20% (so C2 compilation and the first page-cache
    * misses are demonstrably over) or `maxWarm` is hit; `minWarm` keeps
    * the old floor. The workloads themselves are untouched (same
    * control_id — only untimed warm-up policy changed). */
  private def warmUntilStable(once: () => Double, minWarm: Int,
      maxWarm: Int): Unit = {
    var prev = once()
    var n = 1
    var stable = false
    while (n < minWarm || (!stable && n < maxWarm)) {
      val cur = once()
      stable = math.abs(cur - prev) / math.min(cur, prev) <= 0.2
      prev = cur
      n += 1
    }
  }
  /** Second host-speed control (VERDICT r16 item 1): the CPU-bound control
    * above is cache-resident — it does not feel the page-cache/disk/shuffle
    * contention that actually inflates the suite, so cross-run interference
    * showed up in `total` but NOT in `control`, and the "normalized" delta
    * swung ±60% between same-binary runs. This one is shuffle+spill-shaped:
    * 2M rows × ~256B payload (≈0.5 GB) through an explicit hash
    * repartition and a per-partition sort on the wide payload column into
    * the noop sink — shuffle write + shuffle read + external sort, the
    * byte-moving profile of the suite's heavy families. Same versioning
    * rule: the workload must NEVER change within a `control2_id`. */
  val Control2Id = "repart2m-md5sort-noop-v1"
  private def control2Seconds(spark: SparkSession, warmups: Int = 1): Double = {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      System.gc()
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 2000000L, 1L, 32)
          .select(col("id"), pmod(xxhash64(col("id")), lit(1024L)).as("k"),
            repeat(md5(col("id").cast("string")), 8).as("payload"))
          .repartition(32, col("k"))
          .sortWithinPartitions(col("payload"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      warmUntilStable(() => once(), warmups, math.max(warmups, 6))
      val timed = if (warmups > 1) 5 else 3 // first point: median-of-5
      val s = Vector.fill(timed)(once()).sorted
      s(s.length / 2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Suite-level noise floor (VERDICT r16 item 1): tools/bench_repeat.sh
    * runs the FULL bench N≥5 times back-to-back at one sha and records the
    * spread of the normalized totals in bench/suite_noise.json — the only
    * number that can say whether a round-over-round delta is signal. Read
    * here (sf + cpus must match; matching is on the sf dir BASENAME so
    * /root/testdata/sf0.1 and a relocated checkout agree) and carried on
    * the contract line as `suite_spread_pct`; the delta_noise floor is the
    * MAX of the control-derived floor and this measured one.
    *
    * Freshness (ADVICE r17): a floor measured once must not apply forever
    * — the suite changes every round, so a stale measurement would stamp
    * all sub-floor regressions delta_noise indefinitely. The file's
    * `round` field (bench_repeat.sh records GRAFT_ROUND) must be within
    * `maxAge` rounds of the CURRENT round or the floor is ignored,
    * forcing a re-measure. A missing `round` (pre-r18 files) is stale by
    * definition when the current round is known; when GRAFT_ROUND itself
    * is unset (ad-hoc local runs) age can't be judged and the floor is
    * accepted as-is. */
  private[graft] def suiteNoiseFloor(cwd: java.nio.file.Path, sfDir: String,
      cpus: String, roundCap: Option[Int], maxAge: Int = 2): Option[Double] = {
    val f = cwd.resolve("bench").resolve("suite_noise.json")
    if (!java.nio.file.Files.isRegularFile(f)) return None
    val txt = try new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8) catch { case NonFatal(_) => return None }
    def str(k: String): Option[String] =
      ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))
    def num(k: String): Option[Double] =
      ("\"" + k + "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?)").r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val fresh = roundCap match {
      case None => true // no current round known — can't age-check
      case Some(cap) => num("round").exists(r => cap - r <= maxAge && r <= cap)
    }
    if (!fresh) {
      System.err.println(s"[bench] suite_noise.json is stale (round " +
        s"${num("round").map(_.toInt.toString).getOrElse("unset")} vs current " +
        s"${roundCap.get}, maxAge $maxAge) — floor ignored; re-run " +
        "tools/bench_repeat.sh to re-measure")
      return None
    }
    for {
      sf <- str("sf") if java.nio.file.Paths.get(sf).getFileName.toString == sfBase
      pc <- str("cpus") if pc == cpus
      sp <- num("suite_norm_spread_pct")
    } yield sp
  }

  /** Per-query round-over-round movers (VERDICT r16 item 2): family
    * subtotals hide per-query movement (core ≈ 20 s across ~30 queries), so
    * compare THIS run's per-query medians against the previous round's full
    * artifact and surface the top-k relative movers. Each query's delta is
    * control-normalized — (cur/prev)/(curControl/prevControl) − 1 — so a
    * uniformly slower host doesn't flag all 113 queries. Sub-`minSec`
    * queries (both rounds) are skipped: a 0.02 s → 0.05 s swing is jitter,
    * not a regression. */
  private[graft] def topMovers(cur: Map[String, Double], prev: Map[String, Double],
      controlRatio: Double, k: Int = 5, minSec: Double = 0.15): Seq[(String, Double)] = {
    if (!(controlRatio > 0)) return Nil
    (cur.keySet intersect prev.keySet).toSeq.flatMap { q =>
      val c = cur(q); val p = prev(q)
      if (math.max(c, p) < minSec || !(p > 0)) None
      else Some(q -> r4((c / p / controlRatio - 1) * 100))
    }.sortBy { case (n, d) => (-math.abs(d), n) }.take(k)
  }

  /** Previous round's full bench artifact — per-query medians + control —
    * for the movers ledger. Source: bench/last_bench.json, the committed
    * convention (the driver's own previous-round run lands there and is
    * committed at round close; this run reads it BEFORE overwriting). A
    * `round` field ≥ the GRAFT_ROUND cap marks a same-round artifact
    * (in-round re-run) and is rejected — a self-comparison would report
    * pure noise as "movement". sf + cpus must match for the same reasons
    * as prevRoundFields. */
  private[graft] def prevQueryBaseline(cwd: java.nio.file.Path, sfDir: String,
      cpus: String, roundCap: Option[Int] = None)
      : Option[(Map[String, Double], Double, String)] = {
    val f = sys.env.get("GRAFT_BENCH_PREV").map(java.nio.file.Paths.get(_))
      .getOrElse(cwd.resolve("bench").resolve("last_bench.json"))
    if (!java.nio.file.Files.isRegularFile(f)) return None
    val txt = try new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8) catch { case NonFatal(_) => return None }
    def num(k: String): Option[Double] =
      ("\"" + k + "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)").r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    def str(k: String): Option[String] =
      ("\"" + k + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(txt).map(_.group(1))
    val sfBase = java.nio.file.Paths.get(sfDir).getFileName.toString
    val sfOk = str("sf").exists(s =>
      java.nio.file.Paths.get(s).getFileName.toString == sfBase)
    val cpusOk = str("cpus").contains(cpus)
    val roundOk = (num("round"), roundCap) match {
      case (Some(r0), Some(cap)) => r0 < cap
      case _ => true // legacy artifacts carry no round; committed = prev by construction
    }
    if (!sfOk || !cpusOk || !roundOk) return None
    // the "queries" map is flat {"name":sec,...} — parse pairs inside it
    val qm = "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse(return None)
    val pair = "\"([^\"]+)\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)".r
    val queries = pair.findAllMatchIn(qm)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    for { pc <- num("control") if pc > 0 && queries.nonEmpty } yield {
      val ident = num("round").map(r0 => s"round ${r0.toLong}")
        .getOrElse(s"total ${num("value").getOrElse(-1.0)}")
      (queries, pc, ident)
    }
  }
  private def controlSeconds(spark: SparkSession, warmups: Int = 1): Double = {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      System.gc() // same hygiene as the query loop: don't charge the
                  // calibration with the previous workload's garbage
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 30000000L, 1L, 32)
          .select(pmod(col("id"), lit(1000000L)).as("k"),
            // shiftright(…,16): 30 values ≤ 2^48 per key sum to < 2^53 —
            // no ANSI long overflow (sum of raw xxhash64 throws)
            shiftright(xxhash64(col("id")), 16).as("h"))
          .groupBy("k").agg(sum("h").as("sh"), count(lit(1)).as("c"))
          .orderBy(col("sh")).limit(100).count()
        (System.nanoTime() - t0) / 1e9
      }
      // untimed codegen/JIT warmup, convergence-gated (r18 item 9)
      warmUntilStable(() => once(), warmups, math.max(warmups, 8))
      val timed = if (warmups > 1) 5 else 3 // first point: median-of-5
      val s = Vector.fill(timed)(once()).sorted
      s(s.length / 2)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Self-comparison fields for the contract line (VERDICT r13 item 5):
    * find the latest PREVIOUS-round BENCH_r{N}.json (the driver's committed
    * wrapper) in `cwd`, recover its normalized total, and emit
    * `,"prev_round":N,"prev_normalized":x,"normalized_delta_pct":y` — or
    * "" when there is no comparable record. Parsing notes: the wrapper's
    * `parsed` object carries the contract fields with a space after the
    * colon (python json), while the raw contract line inside `tail` is
    * escaped (\" breaks a literal-quote match) — the \s* form therefore
    * lands exactly on the parsed object's values; values may be negative
    * or scientific (ADVICE r14: [0-9.]+ silently failed on those). Only
    * comparable at the SAME sf: BENCH_rN is the driver's sf0.1 record — an
    * sf1 self-bench against it would print a huge "delta" that is just the
    * scale factor.
    *
    * `roundCap` (env GRAFT_ROUND): wrappers with round >= cap are skipped,
    * so a re-run AFTER the current round's wrapper is committed compares
    * against the true previous round, not itself (ADVICE r14: r14's
    * refresh commit reported a self-delta). Unset, the latest wrapper wins
    * — correct for the driver's in-round run, where the newest wrapper on
    * disk IS the previous round.
    *
    * `spreadPct` (VERDICT r14 item 2): the same-binary control spread
    * observed this run. A round-over-round delta divides by TWO control
    * measurements, so its noise floor is this run's spread PLUS the
    * previous run's (read from the wrapper's control_spread_pct; wrappers
    * predating the field are assumed as noisy as this run — measured:
    * two back-to-back same-binary runs on one box normalized to 33.1 and
    * 38.1 purely on denominator wobble). |delta| below that floor gains
    * `"delta_noise":true` instead of letting a judge read signal into
    * noise.
    */
  private[graft] def prevRoundFields(cwd: java.nio.file.Path, sfDir: String,
      normalized: Double, spreadPct: Double = 0.0,
      roundCap: Option[Int] = None, cpus: String = "32",
      suiteFloorPct: Double = 0.0): String = {
    val rx = "BENCH_r(\\d+)\\.json".r
    // Latest-first over ALL candidate wrappers, taking the first that
    // yields comparable fields: a wrapper from a round whose build broke
    // (rc != 0, no "value" — r15's compile failure) must not silently
    // erase the delta; fall through to the next-latest good one so r16
    // still carries a real prev_round vs r14 (ADVICE r15 item 4).
    val candidates = Option(cwd.toFile.listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case rx(n) => Some((n.toInt, f)); case _ => None
      }).filter { case (n, _) => roundCap.forall(n < _) }
      .sortBy(-_._1)
    candidates.iterator.flatMap { case (rn, f) =>
      val txt = try new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8) catch { case NonFatal(_) => "" }
      def num(k: String): Option[Double] =
        ("\"" + k + "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)").r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
      val sameSf = num("sf").exists(psf => sfDir.endsWith(
        "sf" + (if (psf % 1 == 0) psf.toLong.toString else psf.toString)))
      // normalized totals only cancel host speed at the SAME parallelism:
      // the control is pinned to 32 slices, so at fewer cpus it slows more
      // than the mixed registry does (measured: 27.0 at cpus=32 vs 8.1 at
      // cpus=8, same binary) — a cross-cpu "delta" is just the cpu count.
      // Wrappers without a cpus field (none exist) are conservatively
      // incomparable.
      val sameCpus = num("cpus").exists(pc =>
        cpus.toDoubleOption.contains(pc))
      val rcOk = num("rc").forall(_ == 0.0)
      for { pv <- num("value"); pc <- num("control")
            if rcOk && pc > 0 && sameSf && sameCpus } yield {
        val pn = pv / pc
        val delta = r4((normalized / pn - 1) * 100)
        // floor = the larger of (a) the two runs' summed control spreads
        // (this run's + the previous run's) and (b) the MEASURED suite-level
        // same-sha spread from bench/suite_noise.json (VERDICT r16 item 1) —
        // the control spread alone under-read the real cross-run noise by
        // ~6x (6.6–11.6% control spread vs a 22% same-tree normalized gap).
        val floor = math.max(
          spreadPct + num("control_spread_pct").getOrElse(spreadPct),
          suiteFloorPct)
        val noise = if (math.abs(delta) < floor) ""","delta_noise":true"""
                    else ""
        s""","prev_round":$rn,"prev_normalized":${r4(pn)}""" +
          s""","normalized_delta_pct":$delta$noise"""
      }
    }.nextOption().getOrElse("")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)
    // Default artifact path is INSIDE the repo: the round driver commits
    // uncommitted work at round end, so the full per-query detail (all
    // samples + cold) rides into the round's history next to BENCH_rN.json
    // instead of dying in /tmp (VERDICT r12 item 5). Resolved from the
    // working directory, not a machine-specific literal (ADVICE r13), so
    // the committed-detail guarantee holds on any checkout location.
    val cwdBench = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", ".")).resolve("bench")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (java.nio.file.Files.isDirectory(cwdBench))
        cwdBench.resolve("last_bench.json").toString
      else "/tmp/graft_bench.json")
    val spark = SparkPosture(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the registry's bounded model-grain global windows
    // (dim surrogate keys, bucket offsets, top-k reranks — all
    // partition-count- or vocabulary-sized, PlanAuditSpec-audited) each
    // emit a WindowExec single-partition WARN per pass; at 111 queries × 3
    // passes the spam dominates the driver's combined-stream capture and
    // buries the one-line bench contract (BENCH_r10 tail was ~100% this
    // warning). The warning carries no signal here by construction.
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warmup: exercises codegen/JIT/parquet-footer paths once so the
    // first timed query doesn't absorb JVM warmup (flagship on sf0.001).
    try SparkEntry.entry(spark).count() catch {
      case NonFatal(e) => System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // Host-speed denominator, INTERLEAVED with the passes (VERDICT r14
    // item 2): a single up-front calibration point let contention drift
    // DURING the ~1 min run masquerade as binary speed change — r14's
    // −28.2% "improvement" was largely a slow r13 control. Three points
    // (before / after the middle pass / after the last pass), the first a
    // median-of-5 and the others a median-of-3; the denominator is their
    // median, and their relative spread is the run's observable
    // same-binary noise floor — any round-over-round delta below it is
    // flagged as noise.
    val controlPoints = scala.collection.mutable.ArrayBuffer.empty[Double]
    val control2Points = scala.collection.mutable.ArrayBuffer.empty[Double]
    controlPoints += r4(controlSeconds(spark, warmups = 3))
    control2Points += r4(control2Seconds(spark, warmups = 2))
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    // samples(name) = one wall time per pass, in pass order
    val samples = scala.collection.mutable.LinkedHashMap(
      named.map { case (n, _) => n -> Vector.empty[Double] }: _*)
    val midPass = (passes + 1) / 2
    for (pass <- 1 to passes) {
      for ((name, fn) <- named) {
        System.gc() // don't charge query N with query N-1's garbage
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch {
          case NonFatal(e) => System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      }
      if (pass == midPass && passes > 1) {
        controlPoints += r4(controlSeconds(spark))
        control2Points += r4(control2Seconds(spark))
      }
    }
    controlPoints += r4(controlSeconds(spark))
    control2Points += r4(control2Seconds(spark))
    graft.SessionLedger.release(spark)
    def median(v: Vector[Double]): Double = {
      val s = v.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    val med = samples.map { case (n, v) => n -> median(v) }
    val qs = med.map { case (k, v) => s"\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val total = r4(med.values.sum)
    // per-family subtotals (registry module grain): regressions attributable
    // at a glance once the query count is three digits. Declared anchors
    // (super-linear ground truths) report under their own pseudo-family so
    // e.g. "ann" reflects the production paths a user would actually run.
    val famOf = SparkEntry.families
    val anchorSet = SparkEntry.anchors
    def famKey(q: String): String =
      if (anchorSet(q)) "anchors" else famOf.getOrElse(q, "other")
    val fams = med.toSeq.groupBy { case (k, _) => famKey(k) }
      .toSeq.sortBy(_._1)
      .map { case (f, rs) => s"\"" + f + "\":" + r4(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    val anchorList = anchorSet.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Cold-cost visibility in the contract line (VERDICT r12 item 5): the
    // full 113-entry cold map is ~4 KB — past the driver's 2000-char tail
    // capture (the r7/r8 parsed:null failure mode) — so the line carries
    // cold_total plus ONLY the outliers where pass-1 cold exceeds the warm
    // median by >0.25 s: exactly the memo-subsidized queries (q31 warm
    // 0.14 s while the shingle relation materialized under an earlier
    // query) whose medians are unreadable alone. Full per-query cold stays
    // in the artifact, which now lives in bench/ and gets committed.
    val coldOf = samples.map { case (n, v) => n -> v.head }
    val coldTotal = r4(coldOf.values.sum)
    val coldHot = coldOf.toSeq
      .map { case (n, c) => (n, c, c - med(n)) }
      .filter(_._3 > 0.25).sortBy(-_._3).take(8)
      .map { case (n, c, _) => s"\"" + n + "\":" + r4(c) }
      .mkString("{", ",", "}")
    // Normalized total (VERDICT r13 item 5): total in CONTROL UNITS, so the
    // contract line alone answers "did the binary get slower" without the
    // judge dividing. When the previous round's BENCH_r{N}.json sits in the
    // working dir (the driver commits it there), also carry the normalized
    // delta vs the latest one — each artifact is self-comparing from r14 on.
    val control = r4(median(controlPoints.toVector))
    val spreadPct = if (control > 0)
      r4((controlPoints.max - controlPoints.min) / control * 100) else 0.0
    val normalized = r4(total / control)
    val control2 = r4(median(control2Points.toVector))
    val spread2Pct = if (control2 > 0)
      r4((control2Points.max - control2Points.min) / control2 * 100) else 0.0
    val normalized2 = if (control2 > 0) r4(total / control2) else 0.0
    val cwd = java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."))
    val roundCap = sys.env.get("GRAFT_ROUND").flatMap(_.toIntOption)
    val suiteFloor = suiteNoiseFloor(cwd, sfDir, cpus, roundCap)
    val prevDelta: String = prevRoundFields(
      cwd, sfDir, normalized, spreadPct, roundCap, cpus,
      suiteFloor.getOrElse(0.0))
    // per-query movers vs the previous round's committed full artifact
    val moversFields: String = prevQueryBaseline(cwd, sfDir, cpus, roundCap)
      .map { case (prevQ, prevCtl, ident) =>
        val mv = topMovers(med.toMap, prevQ, control / prevCtl)
          .map { case (n, d) => s"\"" + n + "\":" + d }.mkString("{", ",", "}")
        s""","movers":$mv,"movers_vs":"$ident""""
      }.getOrElse("")
    // ~900 B contract line — total + families + control + cold summary +
    // artifact pointer (per-query medians overflowed the capture window)
    val cpts = controlPoints.map(r4).mkString("[", ",", "]")
    val c2pts = control2Points.map(r4).mkString("[", ",", "]")
    val suiteField = suiteFloor.map(s => s""","suite_spread_pct":$s""").getOrElse("")
    def lineWith(queriesField: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","families":$fams,""" +
      queriesField +
      s""""control":$control,"control_id":"$ControlId",""" +
      s""""control_points":$cpts,"control_spread_pct":$spreadPct,""" +
      s""""control2":$control2,"control2_id":"$Control2Id",""" +
      s""""control2_points":$c2pts,"control2_spread_pct":$spread2Pct,""" +
      s""""normalized":$normalized,"normalized2":$normalized2""" +
      s"""$suiteField$prevDelta$moversFields,""" +
      s""""cold_total":$coldTotal,"cold_hot":$coldHot,""" +
      s""""sf":"$sfDir","passes":$passes,"stat":"median","artifact":"$outPath"}"""
    val line = lineWith(
      "\"queries\":" + packQueries(med.toSeq, lineWith("").length + 11) + ",")
    // Full artifact — all samples per query, so a contaminated pass is
    // visible in the record instead of needing an out-of-band re-run.
    val detail = samples.map { case (n, v) =>
      s"\"" + n + "\":{\"samples\":[" + v.map(r4).mkString(",") +
        s"],\"median\":${r4(median(v))},\"cold\":${r4(v.head)}" +
        (if (anchorSet(n)) ",\"anchor\":true" else "") + "}"
    }.mkString("{", ",", "}")
    val roundField = roundCap.map(r0 => s""""round":$r0,""").getOrElse("")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""cpus":"$cpus","passes":$passes,"stat":"median",$roundField""" +
      s""""control":$control,"control_id":"$ControlId",""" +
      s""""control_points":$cpts,"control_spread_pct":$spreadPct,""" +
      s""""control2":$control2,"control2_id":"$Control2Id",""" +
      s""""control2_points":$c2pts,"control2_spread_pct":$spread2Pct,""" +
      s""""normalized":$normalized,"normalized2":$normalized2$suiteField,""" +
      s""""cold_total":$coldTotal,""" +
      s""""families":$fams,"anchors":$anchorList,"queries":$qs,"detail":$detail}"""
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    // atomic: a kill mid-write must never leave truncated JSON at outPath
    val tmp = java.nio.file.Paths.get(outPath + ".tmp")
    java.nio.file.Files.write(tmp,
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(line)
    spark.stop()
  }
}

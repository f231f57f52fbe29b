package graft
import org.apache.spark.sql.SparkSession

/** Round benchmark: runs every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line the driver records as
  * `BENCH_r{N}.json`.
  *
  * Harness design (VERDICT r1 findings 2-3, r3 finding 1):
  *   - execution is forced through the `noop` sink, which fully evaluates
  *     every projected column — `count()` lets Catalyst prune unreferenced
  *     projections, so md5/timestamp work was never measured in r1;
  *   - a full untimed warmup pass first, so no single query pays JVM /
  *     codegen / parquet-footer warmup inside its timing;
  *   - PASSES timed passes per query, reported as the per-query MEDIAN
  *     with the raw per-pass values kept in a `"passes"` field — a single
  *     noisy pass under external machine load can no longer become the
  *     round's number (the recorded BENCH_r03 overstated runtime 1.6×
  *     exactly this way). Passes are pass-major (all queries, then
  *     repeat) so a transient load spike lands in at most one pass of
  *     each query and the median discards it;
  *   - failures are reported per-query in an `"errors"` field instead of
  *     being swallowed into a fast-looking timing;
  *   - a wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_S`, default
  *     15 min) fits the protocol to the invoker: the first warmup pass
  *     probes per-surface cost and the timed-pass count shrinks when
  *     the full warmup×2 + 3-pass protocol would run past the budget —
  *     the driver's unattended run always finishes with full totals
  *     (BENCH_r09 was rc=124 under the fixed protocol at 209 rows);
  *   - when `SPARK_GRAFT_SF1_DIR` is EXPLICITLY set (dataset built once
  *     via `runMain graft.MakeSf1` — 10× sf0.1, see [[MakeSf1]]), a
  *     second `"sf1"` section times the surface at 10× local scale:
  *     the first direct evidence the plans hold as data grows (VERDICT
  *     r3 next #8). Opt-in only, so the driver's budgeted run never
  *     pays it. The COMMITTED-artifact sf1 protocol is pass-isolated
  *     (VERDICT r12 #3): `SPARK_GRAFT_SF1_SOLO` runs one timed pass in
  *     a fresh JVM and `tools/bench_sf1.sh` + `tools/merge_sf1.py`
  *     fold N such records into the "sf1" section — the legacy in-JVM
  *     3-pass path remains for ad-hoc runs but its later passes carry
  *     accumulated JVM/fixture state.
  */
object Bench {

  /** The sf1 section rows: the WHOLE declared surface minus the
    * documented exclusions below — the 10x scale audit must cover what
    * the sf0.1 oracle covers (VERDICT r12 missing #3; this replaced a
    * 150-row curated subset in r13). Every table every query reads is
    * produced by [[MakeSf1]]. */
  def Sf1Queries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(Sf1Exclude.contains)

  /** Per-row sf1 exclusions, each with the reason it cannot or should
    * not run at 10x — printed nowhere but kept next to the list so the
    * artifact's coverage is auditable. */
  val Sf1Exclude: Map[String, String] = Map(
    "q_semantic_dedup" -> ("its oracle-replayable form fixes " +
      "CENTROIDS=16, so per-cell pair cost grows ~(N/16)^2 with corpus " +
      "size - the sf1 scale path is the adaptive-cell VectorIndex " +
      "(cells ~ sqrt N), already timed via q_ivf_index"))

  /** Lifecycle rows (VERDICT r10 #4): every `_incr` row times a whole
    * create + churn + refresh + converge-check CYCLE — table-layer
    * commit throughput, not query latency — and costs ~90 s of each
    * sf0.1 timed pass while its `_refresh` sibling already carries the
    * steady-state signal. These rows are timed ONCE per section (a
    * dedicated warm, quiesced single pass after the median passes) and
    * excluded from the per-pass medians; they stay on the correctness
    * surface unchanged. Membership is by suffix so a future lifecycle
    * row inherits the protocol automatically (`_churn` rows are the
    * same whole-cycle shape: build + standing-set add/drop + corpus
    * churn + refresh per invocation). */
  def lifecycleOnce(names: Seq[String]): Set[String] =
    names.filter(n => n.endsWith("_incr") || n.endsWith("_churn")).toSet

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def fmt(v: Double) = f"$v%.4f"

  /** Settle the JVM between timed queries: collect, let ContextCleaner
    * drain its async queue, collect the newly-unreferenced remainder. */
  private def quiesce(): Unit = {
    System.gc()
    Thread.sleep(120)
    System.gc()
    Thread.sleep(30)
  }

  /** Warmups + up-to-`maxPasses` timed pass-major runs of `names`
    * against `sfDir`, fitted to a wall-clock budget. Returns the JSON
    * fields of one measured section plus the pass count actually run
    * and the first-warmup wall time.
    *
    * Budget protocol (VERDICT r9 #1 — BENCH_r09 was rc=124: the fixed
    * warmup×2 + 3-pass protocol grew past the driver's wall-clock
    * budget as the surface doubled to 209 rows): the FIRST warmup pass
    * doubles as the cost probe. Its wall time overstates a steady pass
    * (it pays fixture builds, parquet footers, codegen), so projecting
    * with it is conservative. If `warm1 × (1 + maxPasses)` still fits
    * the remaining budget, the full protocol runs unchanged (second
    * warmup retires C2 drift, 3 timed passes, median). Otherwise the
    * second warmup is skipped and the timed passes shrink to what the
    * remainder affords — never below 1, so every invocation produces a
    * complete per-query record instead of a timeout with no totals. */
  private def measure(
      spark: SparkSession,
      sfDir: String,
      allNames: Seq[String],
      maxPasses: Int,
      budgetS: Double,
      annotateShapes: Boolean = false): (Seq[(String, Double)], String, Seq[Double], String, Int, Double, String, Seq[(String, Seq[Double])]) = {
    // lifecycle rows run in the warmups (their fixtures must build) and
    // get ONE dedicated timed run after the median passes — see
    // [[lifecycleOnce]]
    val once = lifecycleOnce(allNames)
    val names = allNames.filterNot(once)
    def force(name: String): Option[String] =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    // untimed staging for steady-state rows (e.g. merge the source
    // delta a view refresh will consume) — runs BEFORE the timer so
    // the timed body is the maintenance operation alone
    def prepare(name: String): Unit =
      try SparkEntry.prepares.get(name).foreach(_(spark, sfDir))
      catch { case _: Throwable => () /* the timed run reports it */ }

    // First untimed warmup pass — pays fixture builds, parquet footers,
    // codegen — and doubles as the cost probe for the budget fit. Runs
    // the WHOLE surface, lifecycle rows included.
    val w0 = System.nanoTime()
    allNames.foreach { n => prepare(n); force(n) }
    val warm1 = (System.nanoTime() - w0) / 1e9
    val remaining = budgetS - warm1
    val fullFits = budgetS <= 0 || warm1 * (1 + maxPasses) <= remaining
    val passes =
      if (fullFits) {
        // Second untimed warmup: lets C2 compilation finish so timed
        // pass 1 isn't systematically slower than pass 3 (r7 observed
        // ~10% pass-total drift from JIT warm-in with a single warmup).
        // Lifecycle rows skip it — their one timed run below is a full
        // cold cycle by construction, so extra warm-in buys nothing.
        names.foreach { n => prepare(n); force(n) }
        maxPasses
      } else {
        val afford = if (warm1 <= 0) maxPasses else (remaining / warm1).toInt
        math.max(1, math.min(maxPasses, afford))
      }
    if (!fullFits)
      System.err.println(f"bench: budget fit — warmup $warm1%.1fs of " +
        f"$budgetS%.0fs budget, running $passes of $maxPasses timed passes")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val perPass: Seq[Seq[(String, Double)]] = (1 to passes).map { pass =>
      // Per-query isolation (VERDICT r5/r6 finding 1): engine-fixture
      // queries leave unreferenced RDD/shuffle/broadcast state that
      // ContextCleaner reclaims only after a driver GC, and the file
      // deletion itself runs asynchronously — so in a fixed
      // alphabetical order whoever runs AFTER a fixture query pays its
      // garbage (q_json_props recorded 3x its clean cost for two
      // rounds running right behind q_join_view; 22/85 queries showed
      // >2.5x pass-to-pass spread). Two defenses:
      //   - quiesce() between timers: GC promotes the cleaner's weak
      //     refs, a short sleep lets its thread drain the queue, and a
      //     second GC collects what the cleanup freed — predecessor
      //     garbage is paid BETWEEN timings, not inside one;
      //   - per-pass order randomization (deterministic seed = pass
      //     index) decorrelates any residual neighbor effect (page
      //     cache, async deletes) so the median discards it.
      val order = new scala.util.Random(pass).shuffle(names)
      order.map { name =>
        prepare(name)
        quiesce()
        val t0 = System.nanoTime()
        force(name).foreach(errors(name) = _)
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    // Plan-shape annotation (VERDICT r10 #8): re-derive each query's
    // static plan through the DESCRIBE SHAPE audit core and record
    // shuffle / broadcast / scan / risk counts beside its timing, so
    // plan drift (a new shuffle, a lost broadcast, a partition-less
    // window) shows up in the committed artifact's diff — not only in
    // CI. Compile-only; fixtures are already built by the warmup.
    def shapeOf(name: String): Option[String] =
      try {
        val rows = graft.catalog.PlanShape.ofDf(spark,
          SparkEntry.queries(name)(spark, sfDir))
        def n(cat: String) =
          rows.filter(_.getString(0) == cat).map(_.getLong(2)).sum
        Some(s"""{"shuffles":${n("exchange")},"broadcasts":${n("broadcast")},"scans":${n("scan")},"joins":${n("join")},"windows":${n("window")},"risks":${n("risk")}}""")
      } catch { case _: Throwable => None }

    // Lifecycle rows: ONE dedicated warm, quiesced timed run each
    // (full cycle per invocation — the median protocol would just
    // re-pay ~90s of commit churn per pass; see [[lifecycleOnce]]).
    val oncePass: Seq[(String, Double)] =
      allNames.filter(once).map { name =>
        prepare(name)
        quiesce()
        val t0 = System.nanoTime()
        force(name).foreach(errors(name) = _)
        name -> (System.nanoTime() - t0) / 1e9
      }
    // An errored query's fail-fast ~0.1s "timings" must not leak into
    // queries/total — they read as impossibly-fast rows and corrupt
    // cross-round totals (ADVICE r8). Errored names live ONLY in
    // "errors"; the medians/passes sections carry clean queries.
    val byQuery: Seq[(String, Seq[Double])] =
      allNames.filterNot(errors.contains).map { n =>
        if (once(n)) n -> oncePass.collect { case (`n`, t) => t }
        else n -> perPass.map(_.toMap.apply(n))
      }
    val medians = byQuery.map { case (n, xs) => n -> median(xs) }
    val passJson = byQuery.map { case (k, xs) =>
      "\"" + k + "\":" + xs.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val shapesJson =
      if (!annotateShapes) ""
      else allNames.filterNot(errors.contains)
        .flatMap(n => shapeOf(n).map(s => "\"" + n + "\":" + s))
        .mkString("{", ",", "}")
    (medians, passJson,
      perPass.map(_.collect { case (n, t) if !errors.contains(n) => t }.sum),
      errJson, passes, warm1, shapesJson, byQuery)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // sf1 PASS-ISOLATED mode (VERDICT r12 #3: in-JVM sf1 pass totals
    // climbed monotonically — 458.7 → 496.9 → 571.8 s — from
    // accumulated JVM/fixture state, inflating committed medians
    // 1.3–4× for memory-heavy rows). With SPARK_GRAFT_SF1_SOLO=<label>
    // this invocation runs ONLY the sf1 section, ONE timed pass, in
    // THIS (fresh) JVM, and writes a standalone single-pass record;
    // `tools/bench_sf1.sh` launches one JVM per pass and
    // `tools/merge_sf1.py` folds the records into bench_out.json's
    // "sf1" section with per-row medians — every pass starts from the
    // same cold state, so cross-round sf1 diffs are like-for-like.
    sys.env.get("SPARK_GRAFT_SF1_SOLO").foreach { label =>
      val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
        sys.error("SPARK_GRAFT_SF1_SOLO requires SPARK_GRAFT_SF1_DIR"))
      require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(sf1Dir)), s"not a directory: $sf1Dir")
      val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val names = Sf1Queries.filter(n => only.forall(_.contains(n)))
      val (m1, _, t1, e1, _, warm1, _, raw1) =
        measure(spark, sf1Dir, names, 1, 0.0)
      val q1 = raw1.map { case (k, xs) =>
        "\"" + k + "\":" + fmt(xs.head) }.mkString("{", ",", "}")
      val json = s"""{"metric":"sf1_solo","pass":"${esc(label)}","value":${fmt(m1.map(_._2).sum)},"unit":"sec","queries":$q1,"pass_total":${fmt(t1.head)},"warmup_s":${fmt(warm1)},"errors":$e1,"dir":"${esc(sf1Dir)}","lifecycle_once":${lifecycleOnce(names).toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
      println(json)
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        s"/tmp/bench_sf1_pass$label.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
      if (e1 != "{}") {
        System.err.println(s"bench: sf1 solo errors present: $e1")
        sys.exit(1)
      }
      sys.exit(0)
    }

    // sf0.1 PASS-ISOLATED mode (VERDICT r13 #1: the committed sf0.1
    // record was taken under ambient machine load — medians ~13 %
    // inflated with 35 phantom >1.3× regressions, while per-row BEST
    // passes matched r12 within 2 %; the sf1 section already got
    // fresh-JVM-per-pass in r13). With SPARK_GRAFT_SF01_SOLO=<label>
    // this invocation runs the sf0.1 surface ONCE in THIS (fresh)
    // JVM — own untimed warmups, one timed pass, lifecycle rows once —
    // and records the 1-minute /proc/loadavg at pass start and end, so
    // a record taken under ambient load is VISIBLE in the artifact
    // instead of silently inflating cross-round diffs.
    // `tools/bench_sf01.sh` launches one JVM per pass (refusing to
    // start a pass while loadavg exceeds a threshold) and
    // `tools/merge_sf01.py` folds N records into the committed
    // bench_out.json top-level section with per-row medians and
    // "protocol": "fresh-jvm-per-pass".
    sys.env.get("SPARK_GRAFT_SF01_SOLO").foreach { label =>
      val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val names = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => only.forall(_.contains(n)))
      def loadavg(): String =
        try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
          .split("\\s+").head
        catch { case _: Throwable => "-1" }
      val loadStart = loadavg()
      // plan shapes ride pass 1 only — they are static, and the merge
      // carries them into the committed record once
      val (m1, _, t1, e1, _, warm1, shapesJson, raw1) =
        measure(spark, sfDir, names, 1, 0.0, annotateShapes = label == "1")
      val loadEnd = loadavg()
      val q1 = raw1.map { case (k, xs) => "\"" + k + "\":" + fmt(xs.head) }
        .mkString("{", ",", "}")
      val shapesField =
        if (shapesJson.isEmpty) "" else s""","plan_shapes":$shapesJson"""
      val onceJson = lifecycleOnce(names).toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val json = s"""{"metric":"sf01_solo","pass":"${esc(label)}","value":${fmt(m1.map(_._2).sum)},"unit":"sec","queries":$q1,"pass_total":${fmt(t1.head)},"warmup_s":${fmt(warm1)},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"errors":$e1,"sf":"${esc(sfDir)}","lifecycle_once":$onceJson$shapesField}"""
      println(json)
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
        s"/tmp/bench_sf01_pass$label.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      spark.stop()
      if (e1 != "{}") {
        System.err.println(s"bench: sf01 solo errors present: $e1")
        sys.exit(1)
      }
      sys.exit(0)
    }

    val maxPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // Wall-clock budget for the sf0.1 section, seconds. The default
    // (15 min) keeps the driver's unattended round invocation inside
    // its timeout at the full 209-row surface (BENCH_r09 was rc=124
    // under the old fixed protocol); the builder's committed-artifact
    // runs raise it (SPARK_GRAFT_BENCH_BUDGET_S=0 disables fitting).
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "900").toDouble
    // Dev-only focus filter: comma-separated query names. The driver
    // never sets it, so round benches always time the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // plan-shape annotation only on unbudgeted (committed-artifact)
    // runs: the driver's budget-fitted invocation skips the ~2 min of
    // extra plan compiles, the judge-diffed record carries them
    val (medians, passJson, passTotals, errJson, passes, warm1, shapesJson, _) =
      measure(spark, sfDir, names, maxPasses, budgetS,
        annotateShapes = budgetS <= 0)
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    // spread over timed passes 2+: pass 1 systematically runs ~10-30%
    // hot from residual JIT/page-cache warm-in that two untimed warmups
    // don't fully retire (VERDICT r7 #2) — the medians already discard
    // it, so the dispersion metric should describe the steady-state
    // passes the medians are drawn from, not the warm-in transient.
    // All raw pass totals stay in "pass_totals" for audit.
    val steady = if (passTotals.length > 1) passTotals.tail else passTotals
    // median(steady) can be 0.0 when the only selected rows are
    // lifecycle (`_incr`) ones — every timed pass is then empty and
    // 0/0 would print a bare NaN, making the JSON unparseable
    // (ADVICE r11). Zero dispersion is the honest value.
    val spreadPct =
      if (steady.isEmpty || median(steady) == 0.0) 0.0
      else 100.0 * steady.map(t => math.abs(t - median(steady))).max /
        median(steady)

    // sf1 scale point — OPT-IN via explicit SPARK_GRAFT_SF1_DIR only
    // (VERDICT r9 #1: the sf1 section auto-triggering off the committed
    // benchdata/sf1 dir added ~27 min the driver's budget doesn't have;
    // the driver never sets the env, the builder's committed-artifact
    // workflow does).
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "")
    val (sf1Json, sf1HadErrors) =
      if (sf1Dir.isEmpty ||
          !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf1Dir))) ("", false)
      else {
        // 3 passes so the median discards the cold pass: at sf1 the
        // first timed pass pays first-touch engine-table builds that
        // the sf0.1 section amortizes in its warmup (VERDICT r4 #3 —
        // median-of-2 was averaging cold+warm, spreads up to 3×)
        val sf1Passes = sys.env.getOrElse("SPARK_GRAFT_SF1_PASSES", "3").toInt
        val sf1Names = Sf1Queries.filter(n => only.forall(_.contains(n)))
        // explicit opt-in section: no budget fitting (0 disables)
        // no shape re-derivation at sf1: plans are shape-identical to
        // the sf0.1 section's (paths and partition counts are excluded
        // from the audit by design)
        val (m1, p1, t1, e1, ran1, _, _, raw1) =
          measure(spark, sf1Dir, sf1Names, sf1Passes, 0.0,
            annotateShapes = false)
        val q1 = m1.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        // Per-row dispersion summary (VERDICT r11 #7): the raw per-pass
        // values are in "passes", but a single ambient spike (e.g.
        // q_source_overlap's 57 s pass at sf1) should be visible in the
        // artifact DIFF without scanning 143 raw arrays — so each row's
        // 100·(max−min)/median is summarized, and any row whose worst
        // pass exceeds 3× its median is called out by name.
        def rowSpread(xs: Seq[Double]): Double = {
          val m = median(xs)
          if (xs.length < 2 || m == 0.0) 0.0 else 100.0 * (xs.max - xs.min) / m
        }
        val sp1 = raw1.map { case (k, xs) => "\"" + k + "\":" + fmt(rowSpread(xs)) }
          .mkString("{", ",", "}")
        val spikes1 = raw1.collect {
          case (k, xs) if xs.length >= 2 && median(xs) > 0 &&
            xs.max / median(xs) > 3.0 => "\"" + k + "\""
        }.mkString("[", ",", "]")
        (s""","sf1":{"value":${fmt(m1.map(_._2).sum)},"queries":$q1,"passes":$p1,"pass_totals":${t1.map(fmt).mkString("[", ",", "]")},"query_spread_pct":$sp1,"spike_rows":$spikes1,"n_passes":$ran1,"errors":$e1,"dir":"${esc(sf1Dir)}"}""",
          e1 != "{}")
      }

    // named in the artifact so a reader knows which rows are single
    // timed full-cycle runs rather than 3-pass medians
    val onceJson = lifecycleOnce(names).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val shapesField =
      if (shapesJson.isEmpty) "" else s""","plan_shapes":$shapesJson"""
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"passes":$passJson,"pass_totals":${passTotals.map(fmt).mkString("[", ",", "]")},"spread_pct":${fmt(spreadPct)},"n_passes":$passes,"lifecycle_once":$onceJson,"budget_s":${fmt(budgetS)},"warmup_s":${fmt(warm1)},"errors":$errJson,"sf":"$sfDir"$shapesField$sf1Json}"""
    println(json)
    // Also persist to a file: the driver scrapes the sbt log tail, which
    // truncates — every BENCH_r*.json landed with "parsed": null
    // (VERDICT r4 #6). The file is the machine-readable artifact.
    // Routing (VERDICT r11 #4 — three rounds of bench_out.json clobbers):
    // `bench_out.json` is RESERVED for full-protocol committed-artifact
    // runs (SPARK_GRAFT_BENCH_BUDGET_S=0, no focus filter). The driver's
    // budget-fitted default run writes `bench_budget.json`; focus-mode
    // runs write /tmp — neither can overwrite the record the judge
    // diffs across rounds.
    val defaultOut =
      if (only.isDefined) "/tmp/bench_focus.json"
      else if (budgetS > 0) "bench_budget.json"
      else "bench_out.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // A bench with analysis/runtime errors must FAIL the invocation, not
    // exit 0 with a shorter-looking total (ADVICE r8): rc=1 makes the
    // driver snapshot record the round as broken instead of fast.
    if (errJson != "{}" || sf1HadErrors) {
      System.err.println(s"bench: errors present, failing: $errJson")
      sys.exit(1)
    }
  }
}

package graft
object Bench {

  /** One benched query: best observed time plus honesty flags.
    *
    * Field semantics (pinned by `BenchContractSpec`):
    *  - `best` — minimum over every successful run (the timed first/
    *    warm-up run included — min is monotone under extra samples, so
    *    counting it can only improve the number; all sweeps and
    *    re-measures included); `Infinity` = every run threw.
    *  - `contended` — run spread exceeded 2.0x within a sweep: a host
    *    contention window covered some runs; the min was re-measured.
    *  - `flaky` — at least one run threw AND at least one succeeded:
    *    intermittent failure. Counted in `errors` alongside hard
    *    failures — a consumer keying on `errors` alone cannot read an
    *    intermittently-failing suite as clean.
    *  - `inflated` — best stayed >1.5x over the previous committed
    *    round's record even after a re-measure: either a real
    *    regression or a sweep-wide contention window; either way the
    *    delta must not be trusted blindly.
    */
  final case class QueryResult(name: String, best: Double,
      contended: Boolean, flaky: Boolean, inflated: Boolean)

  val SpreadThreshold = 2.0
  val InflationThreshold = 1.5
  // a query flags inflated only when BOTH the ratio and this absolute
  // delta are exceeded — sub-second queries jitter 1.5x on GC alone
  val MinInflationDeltaSec = 0.8
  // more inflated queries than this in one sweep = the whole sweep sat
  // in a contention window; rerun it all rather than trust 120
  // individually-poisoned numbers (round 7 committed 9 inflated entries)
  val SweepRetryThreshold = 5

  // Adaptive repetition (round 11): uniform warmup+min-of-3 across 181
  // queries is ~4x the 197 s of min-time — round 10's driver sweep died
  // on its execution window (rc 124, no artifact) exactly this way.
  // Measurement noise is inversely proportional to runtime: a 200 ms
  // query carries +-40% GC/JIT jitter and needs min-of-3 post-JIT,
  // while a 5 s index-lifecycle build is dominated by real I/O and
  // repeats within a few percent — so repetition is budgeted by the
  // query's OBSERVED first-run cost (thresholds in seconds):
  val FastSec = 0.7 // t0 <= this -> 3 more measured runs
  val MidSec = 2.0 //  t0 <= this -> 2 more; slower -> 1 more (never 0
  //                   under an intact budget: a first run carries
  //                   +15-30% JIT even at 6-8 s, and reporting it as
  //                   the min systematically inflates exactly the
  //                   queries that dominate the total)

  /** Wall budget (seconds) for the measured sweep, env-overridable via
    * SPARK_GRAFT_BENCH_BUDGET. Sized so the 187-query sweep finishes
    * without degradation (~650 s measured wall at round 11 — a 700 s
    * budget let the 0.6x degradation knee inflate ~90 fast queries'
    * minima by 50-100 ms each)
    * while the hard cap stays far inside the driver's execution window
    * (round 10's sweep ran 23+ min before the kill — the uncapped
    * retry sweep was what pushed it over); [[extraRuns]] degrades
    * repetition (3 -> 2 -> 1 -> 0 extra runs) as the budget drains so
    * the sweep ALWAYS produces a full per-query map rather than dying
    * mid-run with nothing.
    */
  val DefaultBudgetSec = 900.0

  /** How many extra measured runs a query gets after its timed warm-up
    * run took `t0` seconds, with `elapsedSec` of the sweep budget
    * already spent. Pure so `BenchContractSpec` can pin the policy.
    * A warm-up that THREW gets exactly one retry (to distinguish flaky
    * from dead) unless the budget is fully exhausted.
    */
  private[graft] def extraRuns(t0: Double, elapsedSec: Double,
      budgetSec: Double): Int = {
    val base =
      if (!t0.isFinite) 1
      else if (t0 <= FastSec) 3
      else if (t0 <= MidSec) 2
      else 1
    val cap =
      if (elapsedSec > budgetSec) 0
      else if (elapsedSec > 0.85 * budgetSec) 1
      else if (elapsedSec > 0.6 * budgetSec) 2
      else Int.MaxValue
    math.min(base, cap)
  }

  def short(name: String): String = name.takeWhile(_ != '_')

  /** The cross-round regression test: ratio AND absolute-delta gated
    * (see [[InflationThreshold]]/[[MinInflationDeltaSec]]). Pure so
    * `BenchContractSpec` pins the triage rule.
    */
  private[graft] def isInflated(t: Double, prior: Option[Double]): Boolean =
    prior.exists(p => t.isFinite && t > p * InflationThreshold &&
      t - p > MinInflationDeltaSec)

  /** The harness capturing Bench's stdout keeps only a bounded tail; the
    * JSON line must fit entirely inside it or it can't be parsed. Keys
    * are the short query id (prefix before the first '_', unique by
    * construction), values rounded to ms. When even that overflows,
    * degrade in order of load-bearing-ness: per-query map feeds the
    * NEXT round's inflation check, so the diagnostic flag-name arrays
    * drop first, then per-query PRECISION (ms → 10 ms → 100 ms → 1 s —
    * a coarse time still names which query regressed; round 8's 137
    * queries overflowed the ms tier and committed `queries:{}`, losing
    * the whole map, and round 10's 161 overflowed the 100 ms tier,
    * which is why the whole-second tier exists), the map itself only
    * as a last resort. `failed`
    * always survives, and [[writeSidecar]] keeps the full-precision map
    * on disk regardless of what the stdout line had to drop. Cap
    * leaves ~150 chars of tail for sbt's trailing "[success]" line.
    */
  val Cap = 1850

  /** Committed full-precision per-query sidecar — the artifact the
    * round-over-round regression check reads when the stdout line had
    * to degrade (and [[main]]'s preferred prior-round yardstick, keyed
    * by `sf` so a local sf0.01 iteration run can never poison the
    * driver's sf0.1 inflation check).
    */
  val SidecarPath = "BENCH_QUERIES.json"

  /** THIS run's full-precision per-query map, written alongside the
    * ratchet on every unfiltered sweep (round-12 verdict item 1: the
    * stdout line keeps only ≥1 s queries under the cap and the ratchet
    * by construction can never show a regression, so a committed
    * artifact must carry the fresh run's true numbers — this is where
    * per-query regression visibility for the ~140 sub-second queries
    * lives). Optionally also carries a `noop` map (see [[NoopEnv]]).
    */
  val LastRunPath = "BENCH_LAST_RUN.json"

  /** Set `SPARK_GRAFT_BENCH_NOOP=1` to append ONE noop-sink-timed run
    * per query (guide §1.4: `count()` lets the optimizer prune columns;
    * the noop sink computes every column of every row) to
    * [[LastRunPath]] as a `noop` map beside the count-timed `queries`
    * map. Opt-in and reported SEPARATELY so the `count` series the
    * driver compares across rounds keeps its methodology — the dual
    * report migrates the measurement without orphaning the history.
    * Off by default: a full extra pass would eat the sweep budget on
    * the driver's clock.
    */
  val NoopEnv = "SPARK_GRAFT_BENCH_NOOP"

  private[graft] def renderLastRun(results: Seq[QueryResult],
      sfDir: String, noop: Map[String, Double]): String = {
    val qs = results
      .map(r => "\"" + short(r.name) + "\":" +
        (if (r.best.isInfinity) -1 else ms3(r.best)))
      .mkString("{", ",", "}")
    val ns =
      if (noop.isEmpty) ""
      else noop.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + (if (v < 0) -1 else ms3(v)) }
        .mkString(""","noop":{""", ",", "}")
    s"""{"sf":"$sfDir","agg":"min","queries":$qs$ns}"""
  }

  private def ms3(v: Double, decimals: Int = 3): String = {
    val p = math.pow(10, decimals)
    val r = math.rint(v * p) / p
    if (r == r.toLong) r.toLong.toString else r.toString
  }

  /** Extracts the per-query map from any BENCH artifact (sidecar or
    * BENCH_rN.json). The driver re-serializes BENCH files
    * pretty-printed (": " with a space) while Bench's own output is
    * compact — accept both, or the map silently parses empty and the
    * inflation check no-ops (caught in round 7). -1 marks a failed
    * query, not a time.
    */
  private[graft] def parseQs(s: String): Map[String, Double] =
    "\"(q\\d+)\"\\s*:\\s*(-?[0-9.]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._2 > 0)
      .toMap

  private[graft] def renderSidecar(results: Seq[QueryResult],
      sfDir: String): String = {
    val qs = results
      .map(r => "\"" + short(r.name) + "\":" +
        (if (r.best.isInfinity) -1 else ms3(r.best)))
      .mkString("{", ",", "}")
    s"""{"sf":"$sfDir","queries":$qs}"""
  }

  /** Pointwise-min ratchet: a fresh sweep's number replaces the
    * committed record only when it IMPROVES on it. The sidecar is the
    * best-ever-observed baseline the NEXT round's inflation check reads
    * — min is monotone, so the ratchet never loosens, and a sweep run
    * inside a contention window (round 11: every number 1.5-3x high)
    * can no longer replace the whole baseline wholesale and silently
    * widen what future regressions hide under. A query new to the suite
    * (or previously failed, recorded -1) takes the fresh number; a real
    * accepted slowdown needs an explicit quiet-host reset: whole-file
    * via SPARK_GRAFT_BENCH_RESET_BASELINE=1, or per-query via
    * SPARK_GRAFT_BENCH_RESET_QUERIES=q30,q31 (for queries whose
    * SEMANTICS changed under an unchanged name — their old records
    * measure a different computation and must not stick).
    */
  private[graft] def ratchet(fresh: Seq[QueryResult],
      committed: Map[String, Double],
      reset: Set[String] = Set.empty): Seq[QueryResult] =
    fresh.map { r =>
      committed.get(short(r.name)) match {
        case Some(p) if p > 0 && p < r.best && !reset(short(r.name)) =>
          r.copy(best = p)
        case _ => r
      }
    }

  private[graft] def writeSidecar(results: Seq[QueryResult],
      sfDir: String): Unit = {
    val path = java.nio.file.Paths.get(SidecarPath)
    val committed: Map[String, Double] =
      if (sys.env.get("SPARK_GRAFT_BENCH_RESET_BASELINE").contains("1"))
        Map.empty
      else if (!java.nio.file.Files.exists(path)) Map.empty
      else {
        val s = new String(java.nio.file.Files.readAllBytes(path))
        // a different-sf sidecar is no baseline: overwrite, never min
        if (s.contains("\"sf\":\"" + sfDir + "\"")) parseQs(s)
        else Map.empty
      }
    val reset = sys.env.getOrElse("SPARK_GRAFT_BENCH_RESET_QUERIES", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    java.nio.file.Files.write(path,
      (renderSidecar(ratchet(results, committed, reset), sfDir) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private[graft] def renderLine(results: Seq[QueryResult], runs: Int,
      sfDir: String, sweepRetried: Boolean): String = {
    def names(ns: Seq[String]) =
      ns.map("\"" + short(_) + "\"").mkString("[", ",", "]")
    val contendedNames = results.collect { case r if r.contended => r.name }
    val flakyNames = results.collect { case r if r.flaky => r.name }
    val inflatedNames = results.collect { case r if r.inflated => r.name }
    val failed = results.collect { case r if r.best.isInfinity => r.name }
    def qsAt(decimals: Int) = results
      .map(r => "\"" + short(r.name) + "\":" +
        (if (r.best.isInfinity) -1 else ms3(r.best, decimals)))
      .mkString("{", ",", "}")
    val total = results.map(_.best).filterNot(_.isInfinity).sum
    val retried = if (sweepRetried) ""","sweep_retried":true""" else ""
    // Flag COUNTS survive EVERY degradation tier (round 11: the name
    // arrays silently rendered [] under the cap, so a sweep whose
    // inflation detector fired on dozens of queries machine-read as a
    // clean one — 431 s committed as trustworthy). A consumer keying on
    // contended_n/flaky_n/inflated_n can always tell "clean sweep" from
    // "names dropped for space"; degraded tiers keep the first few
    // names so the worst offenders stay attributable.
    val counts = s""","contended_n":${contendedNames.size},"flaky_n":${flakyNames.size},"inflated_n":${inflatedNames.size}"""
    // `errors` counts every query with ANY failed run — all-runs-failed
    // (also in `failed`, reported -1) AND intermittent ones (also in
    // `flaky`, reporting their successful-run min)
    def line(queries: String, nameCap: Int, extra: String) = {
      def arr(ns: Seq[String]) = names(ns.take(nameCap))
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$queries,"errors":${failed.size + flakyNames.size},"failed":${names(failed)},"contended":${arr(contendedNames)},"flaky":${arr(flakyNames)},"inflated":${arr(inflatedNames)}$counts,"runs":$runs,"agg":"min","sf":"$sfDir"$retried$extra}"""
    }
    val full = line(qsAt(3), Int.MaxValue, "")
    if (full.length <= Cap) full
    else {
      val over = s"line was ${full.length} chars"
      val tierUnit = Map(2 -> "10ms", 1 -> "100ms", 0 -> "1s")
      // past the whole-second tier (first overflowed by round 12's 188
      // queries), keep only the SLOW queries — at 1 s precision a
      // sub-second entry carries no information, while the multi-second
      // index-lifecycle gates are exactly what a regression reader
      // needs; the sidecar keeps the full map regardless
      val slow = results.filter(r => r.best.isInfinity || r.best >= 1.0)
      val nFast = results.size - slow.size
      def slowQs = slow
        .map(r => "\"" + short(r.name) + "\":" +
          (if (r.best.isInfinity) -1 else ms3(r.best, 1)))
        .mkString("{", ",", "}")
      val tiers =
        line(qsAt(3), 3,
          s""","warning":"flag names capped at 3 (see _n counts): $over"""") ::
        List(2, 1, 0).map(d => line(qsAt(d), 3,
          s""","warning":"flag names capped at 3 (see _n counts), times rounded to ${tierUnit(d)}: $over"""")) :::
        List(line(slowQs, 3,
          s""","fast_omitted":$nFast,"warning":"only queries >= 1 s kept (full map in sidecar): $over""""))
      tiers.find(_.length <= Cap).getOrElse(
        line("{}", 3,
          s""","warning":"queries omitted: $over""""))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench")
    // The harness keeps only a bounded tail of this process's output; the
    // streaming queries emit known-benign WARNs (AQE disabled in stateful
    // workloads, temp checkpoint location) on every micro-batch, and the
    // documented post-aggregation tiny-frame windows (≤ ~1k rows: q44,
    // q54, q92/q100's ≤1024-cell sketch cumsums) each emit the unpartitioned-
    // window warning — both classes would crowd real anomalies out of the
    // tail. Silence exactly those loggers; `PlanQualitySpec`'s pins and
    // `StitchedWindowSpec` guard against a REAL data-sized unpartitioned
    // window appearing. Everything else still reports at WARN.
    Seq("org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        "org.apache.spark.sql.execution.window.WindowExec")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator
        .setLevel(n, org.apache.logging.log4j.Level.ERROR))
    // JIT/codegen warmup outside any measured window, then run queries in
    // name order so per-query numbers are attributable and stable.
    SparkEntry.entry(spark).count()
    // Repetition is adaptive ([[extraRuns]]): a timed warm-up run that
    // counts toward the min, then 3/2/1/0 more measured runs by observed
    // cost, degraded further as the wall budget drains. `Runs` is the
    // ceiling, reported in the JSON line.
    val Runs = 3
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(DefaultBudgetSec)
    def timedRun(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // operators persist() internally via CacheScope; un-time the
      // release (clearCache stays as belt-and-braces for anything cached
      // outside the registry)
      CacheScope.releaseAll()
      spark.catalog.clearCache()
      // a failed run's time-to-exception is not a measurement — never let
      // it win the min and report a misleadingly fast number
      if (ok) elapsed else Double.PositiveInfinity
    }
    // Cross-round truth for the UNIFORM-contention blind spot: a
    // sustained load window can inflate all three runs of a query
    // equally, so the spread detector below sees a clean 1.0-1.3x spread
    // around a bad min (round 6 committed q58/q86/q87 at 1.5-3.5x their
    // idle-box times exactly this way). The previous committed round's
    // per-query numbers are an independent yardstick: a query whose best
    // exceeds its prior record by >1.5x is re-measured once after the
    // sweep, and if it STAYS above the threshold it is flagged in the
    // JSON ("inflated") — either a real regression worth reading or a
    // contention window the whole run sat inside; either way the flag
    // says "do not trust this delta blindly". Parsing is a regex over
    // the known one-line format (only the per-query map has q-prefixed
    // keys), so no JSON library is needed.
    val prior: Map[String, Double] = {
      // preferred yardstick: the committed full-precision sidecar — but
      // ONLY when its sf matches this run's (a local sf0.01 iteration
      // overwrites the sidecar; its times must never become the sf0.1
      // inflation baseline). Fall back to the latest BENCH_rN.json,
      // whose map may be precision-degraded or (round 8) empty.
      val sidecar = {
        val f = java.nio.file.Paths.get(SidecarPath)
        if (!java.nio.file.Files.exists(f)) Map.empty[String, Double]
        else {
          val s = new String(java.nio.file.Files.readAllBytes(f))
          if (s.contains("\"sf\":\"" + sfDir + "\"")) parseQs(s)
          else Map.empty[String, Double]
        }
      }
      if (sidecar.nonEmpty) sidecar
      else {
        val dir = new java.io.File(".").listFiles()
        val files = if (dir == null) Array.empty[java.io.File]
          else dir.filter(_.getName.matches("BENCH_r\\d+\\.json"))
        files.sortBy(f => f.getName.replaceAll("\\D", "").toInt).lastOption
          .map(f => parseQs(
            new String(java.nio.file.Files.readAllBytes(f.toPath))))
          .getOrElse(Map.empty)
      }
    }
    // optional comma-separated name filter (arg 0) for fast local
    // iteration on specific queries — a filtered run never writes the
    // sidecar (a partial map would poison the next inflation baseline)
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val sweepStart = System.nanoTime()
    def elapsedSec(): Double = (System.nanoTime() - sweepStart) / 1e9

    // one full pass: sweep + per-query contention/inflation re-measures
    def fullPass(): Seq[QueryResult] = {
      val sweep = ordered.map { case (name, fn) =>
        val t0 = timedRun(name, fn) // timed warm-up; counts toward min
        val post = (1 to extraRuns(t0, elapsedSec(), budgetSec))
          .map(_ => timedRun(name, fn))
        (name, fn, (t0 +: post).min, t0, post)
      }
      // Host contention on a shared box can cover all three runs of adjacent
      // queries with a minutes-long busy window, so min-of-3 alone can still
      // commit a 4-6x phantom regression (it did in round 5: 48.5s committed
      // vs 35.5s idle). A contaminated query is detectable by its run spread:
      // uncontended queries repeat within ~2x, a contention window inflates
      // every run including the min. Re-measure those once AFTER the sweep —
      // by then the contention window has usually passed — and keep the best
      // observation (min is monotone under extra samples, so a re-run that is
      // itself contended can only leave the number unchanged, never worsen it).
      // Re-measures respect the wall budget: inside the budget they buy
      // accuracy, past it they buy a dead sweep (round 10).
      sweep.map { case (name, fn, mn, t0, post) =>
        // a non-finite run means it THREW — that's intermittent failure,
        // not contention; report it in its own field instead of silently
        // retrying it into the contended bucket
        val flaky = mn.isFinite && (t0 +: post).exists(_.isInfinity)
        // the warm-up run is EXCLUDED from the spread check: its JIT
        // share legitimately runs 1.3-2x steady state on fast queries,
        // which would trip SpreadThreshold on every cold path. Spread
        // is measurable only when >=2 post-warmup runs succeeded.
        val finitePost = post.filter(_.isFinite)
        val contended = finitePost.size >= 2 &&
          finitePost.max / finitePost.min > SpreadThreshold
        val spreadBest =
          if (contended && elapsedSec() < budgetSec)
            math.min(mn, timedRun(name, fn))
          else mn
        // cross-round check (uniform contention is spread-invisible):
        // re-measure once if this round's best is >1.5x the prior
        // committed record AND the absolute delta is material (>0.8 s —
        // the documented triage rule; without the floor a 0.22 s query
        // flags on 0.12 s of GC jitter, and the best-ever ratchet
        // baseline makes that noise PERMANENT: round 12's first sweep
        // read inflated_n=35, almost all sub-second). Keep the flag
        // only if it STAYS above after the re-measure.
        val priorT = prior.get(short(name))
        val overPrior = (t: Double) => isInflated(t, priorT)
        val best =
          if (overPrior(spreadBest) && elapsedSec() < budgetSec)
            math.min(spreadBest, timedRun(name, fn))
          else spreadBest
        QueryResult(name, best, contended, flaky, overPrior(best))
      }
    }

    val first = fullPass()
    val firstPassSec = elapsedSec()
    // Sweep-level self-defense: many inflated queries in ONE sweep means
    // the whole run sat inside a sustained load window (round 7: 9
    // inflated + 12 contended committed). Per-query re-measures inside
    // the same window can't help; a second full sweep minutes later
    // usually lands outside it. Keep the pointwise best of both passes;
    // a flag survives only if BOTH passes raised it (min is monotone, so
    // the merged numbers are never worse than either pass). The retry
    // must FIT the remaining budget — trading a contention window for a
    // timeout death (round 10's failure mode) is strictly worse than
    // committing flagged numbers the next round can re-measure.
    val sweepRetried = first.count(_.inflated) > SweepRetryThreshold &&
      firstPassSec * 1.9 < budgetSec
    val results =
      if (!sweepRetried) first
      else {
        val second = fullPass()
        first.zip(second).map { case (a, b) =>
          // a query that hard-failed one pass but ran in the other is
          // intermittent — surface it as flaky, not as clean
          val crossPassFlaky = a.best.isInfinity != b.best.isInfinity
          QueryResult(a.name, math.min(a.best, b.best),
            a.contended && b.contended,
            a.flaky || b.flaky || crossPassFlaky,
            a.inflated && b.inflated)
        }
      }
    // optional noop-sink series (§1.4): one extra run per query timing
    // full-column materialization, reported beside — never instead of —
    // the count series (see [[NoopEnv]]); only the unfiltered run's
    // artifact below carries it, so a filtered run skips the pass
    val noop: Map[String, Double] =
      if (only.nonEmpty || !sys.env.get(NoopEnv).contains("1")) Map.empty
      else ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name noop failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        CacheScope.releaseAll()
        spark.catalog.clearCache()
        short(name) -> (if (ok) elapsed else -1.0)
      }.toMap
    // full-precision per-query map survives on disk even when the
    // stdout line degrades (and feeds the next run's inflation check);
    // never written by a filtered run — a partial map would silently
    // drop every other query from the next inflation baseline. The
    // LAST-RUN artifact keeps this sweep's true numbers beside the
    // best-ever ratchet so a committed file can still show regressions.
    if (only.isEmpty) {
      writeSidecar(results, sfDir)
      java.nio.file.Files.write(java.nio.file.Paths.get(LastRunPath),
        (renderLastRun(results, sfDir, noop) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val out = renderLine(results, Runs, sfDir, sweepRetried)
    // nothing may land in the tail after the JSON line — silence the
    // shutdown logging spark.stop() would otherwise emit there
    spark.sparkContext.setLogLevel("OFF")
    println(out)
    spark.stop()
  }
}

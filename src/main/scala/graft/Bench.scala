package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf","errors"}
  * for the driver's BENCH_r{N}.json.
  *
  * Measurement discipline:
  *  - every plan is materialized through the `noop` sink — `count()`
  *    would let Catalyst prune computed columns (a projection-only query
  *    could degenerate to a scan);
  *  - each query gets one untimed warm-up run AT THE TARGET SCALE before
  *    the timed run — AQE picks different physical plans at different
  *    data sizes, so warming at a smaller sf compiles the wrong codegen
  *    and the timed run pays janino/JIT (~7 s noise on heavy plans);
  *  - a query that throws is reported as -1 with its name in `errors`,
  *    never silently folded into the total;
  *  - the storage-layout twin pairs run first and adjacent on the fresh
  *    session, and any query whose best time lands under 1 s gets a
  *    third timed run — the two defenses against the residual warm-heap
  *    inflation that inverted the colocated/shuffled comparison in r7.
  *
  * Output discipline: the driver captures only the TAIL of the build log
  * (2000 chars), so the JSON line must stay small enough to survive
  * whole — full-precision doubles overflowed it in rounds 3-5, and in
  * r10 the per-query timed-runs except-map pushed the 67-query line past
  * the window again (BENCH_r10 `parsed:null`). Defenses, in order:
  *  - per-query times are integer MILLISECONDS (`"qunit":"ms"`; the
  *    headline total stays in seconds) — drops the "0." prefix that
  *    67 sub-10 s values all pay;
  *  - all per-query diagnostic maps (spread, exact timed-run counts)
  *    go to stderr; stdout carries only the modal run count plus how
  *    many queries differ ("tr":[modal,n_except] since r18);
  *  - `sf` is the directory basename, not the full path;
  *  - the line is SELF-CHECKED against a 1800-char budget (the window
  *    minus sbt's ~75-char trailing "[success] Total time" line, with
  *    margin); if over, optional fields are dropped in a documented
  *    order (errors-when-empty and runs first, then timed_runs), and if
  *    it STILL exceeds the budget a loud [bench] OVERFLOW marker goes
  *    to stderr;
  *  - map emit order is ascending-by-time with the four storage-layout
  *    twins LAST: tail capture cuts the HEAD of an overlong line (r10's
  *    tail starts mid-line), so the entries that must survive any
  *    future overflow — the colocated/shuffled twins and the expensive
  *    queries — sit at the end. (The r10 verdict suggested
  *    expensive-first on the opposite assumption; the r10 artifact
  *    itself shows the head is what's lost.)
  *
  * Headroom adjudication (r12, the r11 verdict's item 5): the r11 line
  * ran 1761/1800 chars, so ~1 more query triggers the documented field
  * drops. Decision: the QUERY SET IS FROZEN at the current 67 —
  * SURVEY §2 coverage is 51/51 complete, so no new entries are owed;
  * a future round that DOES add entries must first shorten the
  * per-query keys (dropping the uniform "q_" prefix saves ~134 chars)
  * AND verify the driver's parser keys BENCH round-over-round
  * comparisons by the emitted name (renaming breaks the per-query
  * delta table even where parsing succeeds) — that is a
  * driver-coordination change, not a bench-side one, which is exactly
  * why it is not pre-emptively done here. Until then the drop order
  * above (errors-when-empty and runs first, then timed_runs) remains
  * the safety net and loses only diagnostics, never times.
  *
  * Excursion-robust runs (r19; OPTIMIZATION_r19.md "Class 2"): the
  * attributed multi-second host windows inflate SEVERAL consecutive
  * runs of one query, so a struck query's best-of-2 reported 3-26x its
  * reproducible value (BENCH_r18's q_dedup_groups 64.4 s vs 2.3-2.5 s).
  * Same methodology, more samples where variance says the best is not
  * trustworthy: (1) while the achieved runs disagree (spread > 0.5x
  * best, best >= 0.5 s) the query keeps sampling up to 6 timed runs;
  * (2) a query whose best is untrustworthy after the suite gets one
  * tail re-run displaced minutes from its window — trigger widened to
  * policy v2 late in r19 ([[needsTailRun]], spec-gated): own runs
  * disagreeing (spread > best, the original criterion) OR the
  * suite-level sentinel tripping on the main window with the query
  * heavy (best >= 0.5 s) OR a per-query steal burst, because the
  * whole-window stall that inflates every run of ONE query leaves its
  * runs AGREEING at the wrong value and the within-query trigger blind
  * (this round's first re-verify side reproduced it: q_dedup_groups
  * 9.5 s on agreeing runs vs 1.2 s steady, sentinel already noisy).
  * Every timed run logs its /proc/stat steal delta. The hn/noisy
  * sentinel still describes the MAIN suite as it ran (tail re-runs only
  * lower minima; its post-suite calibration samples are taken before
  * the tail phase so the verdict brackets exactly the window it judges).
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated substrings) filters the query
  * set for local iteration; the driver never sets it.
  *
  * Budget note (r15): the "protocol" annotation costs 30 chars, putting
  * the full line at ~1797/1800 from r14's 1767 — within budget, and the
  * existing drop order (errors-when-empty, then runs, then timed_runs)
  * absorbs any future per-query digit growth before times are at risk.
  *
  * Host-noise sentinel (r18, the r17 verdict's item 1): BENCH_r17's
  * committed line read 4.6x reproducible reality (oversubscribed host;
  * its own logs showed GC-seconds > wall) and only an expensive
  * independent re-run proved it — that adjudication must be mechanical.
  * Every run now emits `"hn":[calMinMs,calMaxMs,gcPct,nSpready]` plus
  * `"noisy":1` when contaminated, where
  *  - calMin/calMax are the best/worst over three runs before the
  *    session, one at EVERY query boundary (a mid-suite phase is
  *    invisible to endpoint-only sampling), and three after the suite,
  *    of a FIXED single-thread CPU-bound calibration loop — identical
  *    work every round, so on a quiet host all samples agree within a
  *    few percent and any oversubscription window stretches the worst;
  *  - gcPct is this JVM's cumulative GC time over the suite as a
  *    percent of suite wall (r17's smoking gun was GC-seconds
  *    EXCEEDING wall: starved GC threads on an oversubscribed box);
  *  - nSpready counts queries whose timed-run spread exceeds their
  *    best time (each individually is normal sub-second jitter; many
  *    at once is the host, not the plans).
  * The `noisy` verdict ([[hostNoiseVerdict]], spec-gated) trips on
  * calMax > 1.5x calMin, gc > wall, or nSpready >= max(5, 10% of the
  * query set). The hn/noisy fields ride EVERY budget candidate (they
  * are the warning — dropping them defeats the sentinel) and sit at
  * the line's tail next to "proto" so tail capture keeps them; their
  * ~21 quiet-host chars push the fullest line into the documented
  * fallback (errors-when-empty + runs drop), and the timed-runs
  * diagnostic is compacted to "tr":[modal,n_except] so IT still fits
  * — the fallback loses only diagnostics, never times. Full detail
  * (every cal sample in order, gc/wall ms, the spready query names,
  * trip reasons) goes to stderr.
  */
object Bench {
  private def ms3(v: Double): String = {
    if (v < 0) "-1"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString
  }

  // JIT cannot elide the calibration loop while its result escapes
  @volatile private var calSink = 0L

  /** One run of the fixed calibration workload: 2^27 xorshift steps on
    * one thread, ~150 ms on a quiet core of this class of machine.
    * Pure CPU, no allocation, no Spark state — its wall measures the
    * HOST's cpu availability and nothing else.
    */
  private[graft] def calibrateOnce(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    calSink = x
    (System.nanoTime() - t0) / 1000000L
  }

  /** Hypervisor steal ticks (USER_HZ-cpu-seconds·100, summed over all
    * vCPUs) from /proc/stat field 9 — the guest-visible record of the
    * HOST descheduling this VM's cores. The r19 excursion adjudication
    * reads its delta per timed run: an excursion whose window shows a
    * steal burst is the host's, not the engine's (matches every other
    * signal: all-32-task slowdown, mildly stretched single-thread
    * calibration, no in-JVM lock/GC/compile anomaly). 0 when the file
    * is unreadable (non-Linux), which disables the correlation line.
    */
  private[graft] def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }

  private def totalGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The tail re-run decision, pure so BenchNoiseSpec can gate it. A
    * query earns one displaced re-run after the suite when its best is
    * not trustworthy: (a) its own timed runs disagree (spread > best —
    * the original r19 trigger), or (b) the suite-level sentinel says the
    * MAIN window was contaminated and the query is heavy enough for an
    * excursion to matter (best >= 0.5 s) — the whole-window stall that
    * inflates EVERY run of a struck query leaves no within-query signal
    * (the runs AGREE, at the wrong value: BENCH_r18's q_dedup_groups
    * 64.4 s best-of-3, this round's first re-verify side 9.5 s vs 1.2 s
    * steady), so only the suite verdict can arm the escape, or (c) the
    * query's own runs recorded a hypervisor steal burst (> 0.1 cpu-s,
    * i.e. > 10 USER_HZ ticks — quiet runs log 0-5) — direct evidence the
    * host descheduled this VM inside the query's window even when the
    * global sentinel stayed quiet. Cost is bounded by the steady-state
    * suite cost (each re-run is one more sample of the same
    * methodology) and only paid on contaminated windows; the min folds
    * into the same best-of-timed-runs the line always reported, so the
    * reported value can only move TOWARD the reproducible one.
    */
  private[graft] def needsTailRun(
      best: Double, spread: Double, nTimed: Int, nRuns: Int,
      suiteNoisy: Boolean, maxStealTicks: Long): Boolean =
    nRuns >= 2 && nTimed >= 2 && best >= 0.5 &&
      (spread > best || suiteNoisy || maxStealTicks > 10)

  /** Cap the tail phase (r20, the r19 verdict's item 8): a fully
    * contaminated window arms [[needsTailRun]] for every heavy query —
    * r19's side e fired 19 tail re-runs, ~+40 s of bench process cost —
    * so an unbounded tail phase can nearly double suite cost exactly
    * when the host is at its worst. Keep the top `cap` candidates by
    * suite best (ties by name, so identical measurements select
    * identically): the displaced re-run recovers the most absolute wall
    * on the most expensive suspects, and the sentinel still flags the
    * window for everything below the cut. Pure, spec-gated.
    */
  private[graft] def tailRunSelect(
      candidates: Seq[(String, Double)], cap: Int = 12): Set[String] =
    candidates.sortBy { case (name, best) => (-best, name) }
      .take(math.max(0, cap)).map(_._1).toSet

  /** The noisy-host decision, pure so BenchNoiseSpec can gate the
    * thresholds (see the object doc's sentinel section for why each
    * signal exists). Returns the trip reasons; empty = quiet.
    */
  private[graft] def hostNoiseVerdict(
      calMs: Seq[Long], gcMs: Long, wallMs: Long,
      nSpready: Int, nQueries: Int): Seq[String] = {
    require(calMs.nonEmpty, "hostNoiseVerdict needs at least one calibration sample")
    val calMin = calMs.min
    val calMax = calMs.max
    Seq(
      // 2x integer-math threshold for 1.5x: quiet-host spread on a
      // fixed 150 ms pure-CPU loop is a few percent
      if (calMax * 2 > calMin * 3)
        Some(s"calibration spread $calMin-$calMax ms (> 1.5x)") else None,
      if (gcMs > wallMs)
        Some(s"gc $gcMs ms > suite wall $wallMs ms") else None,
      if (nQueries > 0 && nSpready >= math.max(5, nQueries / 10))
        Some(s"timed-run spread > best on $nSpready/$nQueries queries") else None
    ).flatten
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // fail fast with the env var's name on junk: a bare toInt would
    // crash with a naked NumberFormatException before any query, and a
    // silently-accepted 0 would report every query as -1
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map { raw =>
      val n = raw.trim.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be an int >= 1, got '$raw'"))
      require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
      n
    }.getOrElse(2)
    // three calibration runs before the session exists (nothing else
    // in this JVM yet), three more after the suite on the idle session
    val calBefore = (1 to 3).map(_ => calibrateOnce())
    val spark = Sessions.local()
    val gc0 = totalGcMs()
    val suiteT0 = System.nanoTime()

    def materialize(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Each query build localCheckpoints its own shared branches; nothing
    // references those blocks once the query's runs finish, but the
    // ContextCleaner only frees them after a JVM GC notices the dropped
    // DataFrames. 38 queries x 3 runs of leftovers is real block-manager
    // pressure by the tail of the suite — r6's driver run measured some
    // queries 3-7x their isolated time (q_max_drawdown 5.33 s vs
    // 0.81 s). Between queries: unpersist BLOCKING (async frees were
    // still pending when the next timed run started), then force a GC so
    // the ContextCleaner's weak refs fire for broadcast/shuffle
    // leftovers too, and give its queue a moment to drain — each query
    // should measure its plan, not its predecessors' heap history.
    val midCal = scala.collection.mutable.ArrayBuffer[Long]()
    def settleBetweenQueries(): Unit = {
      // r13's ngram prefix phase persist()s its ranked/perDoc frames,
      // and a later query rebuilding the identical subplan (q_dedup_
      // groups contains q_dedup_ngram_jaccard verbatim) would otherwise
      // silently read its predecessor's cache instead of measuring its
      // own pipeline
      Sessions.dropAllCaches(spark)
      System.gc()
      Thread.sleep(200)
      // one mid-suite calibration sample per query boundary (r18): the
      // before/after pairs bracket the suite but cannot see a host
      // phase that starts and ends INSIDE it — which is exactly how the
      // r17/r18 50-140 s excursions on the ngram family presented.
      // ~150 ms x 68 boundaries is ~1.3% of suite wall.
      midCal += calibrateOnce()
    }

    // The storage-layout twins run FIRST and ADJACENT: their whole point
    // is the colocated-vs-shuffled comparison, and bucketed scans' fixed
    // task setup is the most sensitive to the heap/JIT history the rest
    // of the suite accumulates — r7's driver artifact inverted the
    // comparison (colocated 0.73 s vs shuffled 0.58 s) that an isolated
    // re-run showed at 0.22 s vs 0.51 s. Running the pairs back-to-back
    // on a fresh session measures layout against layout, not against
    // 50 predecessors' GC debt.
    val twinsFirst = Seq(
      "q_join_colocated", "q_join_shuffled",
      "q_mtm_timeline_colocated", "q_mtm_timeline")
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(pats => pats.exists(name.contains)) }
    val selected = twinsFirst.flatMap(t => all.find(_._1 == t)) ++
      all.filterNot { case (name, _) => twinsFirst.contains(name) }
    def timedRun(fn: (SparkSession, String) => DataFrame): Option[Double] = {
      // every timed run re-executes the WHOLE pipeline, including any
      // intermediates the operator persist()s: without this, the warm
      // run's cache would turn the timed runs into cached-view reads
      // (r13's ngram measured 5.8 s vs its honest ~12 s at sf10 that
      // way). The clearing itself happens outside the timer.
      Sessions.dropAllCaches(spark)
      val t0 = System.nanoTime()
      try { materialize(fn); Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }
    // per-query worst steal delta across its timed runs — input (c) of
    // the tail re-run decision ([[needsTailRun]])
    val stealMaxByQuery = scala.collection.mutable.Map[String, Long]()
    val results = selected.map { case (name, fn) =>
      settleBetweenQueries()
      val warmOk =
        try { materialize(fn); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      if (!warmOk) (name, -1.0, -1.0, 0)
      else {
        // best of nRuns timed runs: damps background-load / GC noise so
        // round-over-round comparisons track the plan, not the machine;
        // the max-min spread (stderr) lets a round-over-round delta
        // smaller than the spread read as noise, not a plan change
        var times = Vector.empty[Double]
        var steals = Vector.empty[Long]
        def instrumentedRun(): Unit = {
          val st0 = stealTicks()
          timedRun(fn).foreach { w =>
            times = times :+ w
            steals = steals :+ (stealTicks() - st0)
          }
        }
        (1 to nRuns).foreach(_ => instrumentedRun())
        // sub-second queries get a third opinion: their absolute noise
        // floor (task setup + a GC pause) is a large FRACTION of the
        // result, which is exactly where r6/r7 saw 2-7x phantom
        // regressions. One extra ~0.5 s run is cheap insurance; the
        // heavy queries, where an extra run costs real seconds, are
        // already far above the noise floor. The top-up only applies
        // to multi-run configs: an explicit nRuns=1 quick pass stays
        // one run per query; the per-query effective timed-run count
        // is emitted in "timed_runs" (default + exceptions).
        if (nRuns >= 2 && times.nonEmpty && times.min < 1.0 && times.size < 3)
          (times.size until 3).foreach(_ => instrumentedRun())
        // r19 excursion robustness (documented in OPTIMIZATION_r19.md):
        // the attributed multi-second excursions (shuffle-file I/O
        // stalls pre-tmpfs; JIT warm-up CPU burn on the 30-stage CC
        // queries) inflate SEVERAL consecutive runs, so best-of-2 on a
        // struck query reports 3-26x its reproducible value (BENCH_r18:
        // q_dedup_groups 64.4 s vs 2.3-2.5 s). When the achieved runs
        // DISAGREE with each other (spread > 0.5x best — steady-state
        // heavies measure well under that), the best is not yet
        // trustworthy and the query earns more samples of the SAME
        // methodology, up to 6 timed runs. Self-limiting: a quiet query
        // never triggers; a struck query keeps sampling until it
        // escapes the excursion window or hits the cap. The sub-0.5 s
        // floor leaves task-setup jitter to the 3-run top-up above.
        var extraAttempts = 0
        while (nRuns >= 2 && times.nonEmpty && times.size < 6 && extraAttempts < 8 &&
            times.min >= 0.5 && (times.max - times.min) > 0.5 * times.min) {
          extraAttempts += 1
          instrumentedRun()
        }
        if (times.isEmpty) (name, -1.0, -1.0, 0)
        else {
          // every timed run, in order, to stderr (r18): a spread number
          // alone cannot distinguish one 100 s excursion from uniform
          // jitter — the r17/r18 adjudications needed exactly this
          System.err.println(
            times.map(t => f"$t%.3f").mkString(s"[bench] times $name: ", ",", ""))
          // host-steal correlation per run, in cpu-seconds (ticks/100):
          // printed only when the host actually stole during this
          // query's runs, so quiet logs stay quiet
          if (steals.exists(_ > 0))
            System.err.println(
              steals.map(s => f"${s / 100.0}%.2f")
                .mkString(s"[bench] steal_cpu_s $name: ", ",", ""))
          stealMaxByQuery(name) = if (steals.isEmpty) 0L else steals.max
          (name, times.min, times.max - times.min, times.size)
        }
      }
    }
    // host-noise sentinel inputs (see the object doc): suite wall + GC
    // delta bracket the query region (tail re-runs below are excluded
    // from the window by design — they exist to ESCAPE it); the
    // post-suite calibration runs on the now-idle session
    val suiteWallMs = (System.nanoTime() - suiteT0) / 1000000L
    val gcMs = totalGcMs() - gc0
    // spready = the main suite's trust signal, computed BEFORE the tail
    // re-runs so the sentinel keeps describing the suite as it ran
    val spreadyNames = results.collect {
      case (k, v, s, n) if v > 0 && n >= 2 && s > v => k
    }
    // post-suite calibration + noise verdict BEFORE the tail phase
    // (moved in r19 policy v2): the three "after" samples bracket the
    // MAIN suite — the tail phase is already the displaced escape, not
    // part of the window being judged — and the verdict itself is an
    // input of the tail trigger below. Tail-phase settle calibrations
    // appended to midCal after this point are deliberately excluded.
    val calAll = calBefore ++ midCal.toVector ++ (1 to 3).map(_ => calibrateOnce())
    val noiseReasons =
      hostNoiseVerdict(calAll, gcMs, suiteWallMs, spreadyNames.size, results.size)
    val noisy = noiseReasons.nonEmpty
    System.err.println(
      s"[bench] host-noise: cal_ms=${calAll.mkString("[", ",", "]")} gc_ms=$gcMs " +
        s"suite_wall_ms=$suiteWallMs spready=${spreadyNames.mkString("[", ",", "]")} " +
        s"noisy=$noisy reasons=${noiseReasons.mkString("[", "; ", "]")}")
    // r19 tail re-runs (the r18 verdict's item 2 lever; trigger widened
    // to policy v2 this round — see [[needsTailRun]]): a query whose
    // best is untrustworthy (own runs disagree, OR the suite sentinel
    // flagged the main window and the query is heavy, OR a steal burst
    // hit its runs) was inside an excursion window — the one escape
    // left is temporal displacement. One more timed run of the
    // identical methodology lands here, minutes after the query's
    // original window; both values go to stderr and the min/spread fold
    // into the same best-of-timed-runs the line always reported.
    // Floored at 0.5 s best and gated on nRuns >= 2 like the other
    // robustness passes.
    val fnByName = selected.toMap
    // r20: bound the tail phase (see [[tailRunSelect]]) — a fully
    // contaminated window otherwise re-runs every heavy query
    val tailCandidates = results.collect {
      case (name, v, s, n)
          if needsTailRun(v, s, n, nRuns, noisy, stealMaxByQuery.getOrElse(name, 0L)) =>
        (name, v)
    }
    val tailSet = tailRunSelect(tailCandidates)
    if (tailCandidates.size > tailSet.size)
      System.err.println(
        s"[bench] tail re-runs capped: ${tailCandidates.size} candidates, " +
          s"re-running top ${tailSet.size} by suite best")
    val finalResults = results.map { case r @ (name, v, s, n) =>
      if (!tailSet.contains(name)) r
      else {
        settleBetweenQueries()
        timedRun(fnByName(name)) match {
          case Some(w) =>
            System.err.println(f"[bench] tailrun $name suite_best=$v%.3f s rerun=$w%.3f s")
            val hi = math.max(v + s, w)
            val lo = math.min(v, w)
            (name, lo, hi - lo, n + 1)
          case None =>
            System.err.println(s"[bench] tailrun $name failed; keeping suite value")
            r
        }
      }
    }
    // capped-bucket dedup queries publish their drop count per run
    results.foreach { case (name, _, _, _) =>
      SparkEntry.reportedDrops(name).foreach { n =>
        val tag = if (n > 0) " DROPS-NONZERO" else ""
        System.err.println(s"[bench] $name dropped_memberships=$n$tag")
      }
    }
    val spreads = finalResults.map { case (k, _, s, _) => "\"" + k + "\":" + ms3(s) }.mkString("{", ",", "}")
    System.err.println(s"[bench] spread=$spreads")
    // exact per-query timed-run counts live on stderr; stdout carries
    // only the modal default and the COUNT of exceptions (see Output
    // discipline) — the r10 except-MAP is exactly what overflowed
    val runCounts = finalResults.map { case (k, _, _, n) => (k, n) }
    System.err.println(
      runCounts.map { case (k, n) => s"$k=$n" }.mkString("[bench] timed_runs: ", ",", ""))
    val modalRuns =
      if (runCounts.isEmpty) nRuns
      // tie-break on the count itself so identical measurements always
      // encode identically (groupBy iteration order is not stable)
      else runCounts.groupBy(_._2).maxBy { case (n, g) => (g.size, n) }._1
    val nExcept = runCounts.count(_._2 != modalRuns)
    // ascending-by-time, layout twins forced last — the end of the line
    // is what survives tail capture (see Output discipline)
    val (twinResults, otherResults) = finalResults.partition { case (k, _, _, _) => twinsFirst.contains(k) }
    val emitOrder = otherResults.sortBy(_._2) ++ twinResults
    def msInt(v: Double): String = if (v < 0) "-1" else math.round(v * 1000).toString
    val qs = emitOrder.map { case (k, v, _, _) => "\"" + k + "\":" + msInt(v) }.mkString("{", ",", "}")
    val errors = finalResults.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = finalResults.collect { case (_, v, _, _) if v >= 0 => v }.sum
    val sfName = sfDir.stripSuffix("/").split('/').last
    def line(withRuns: Boolean, withTimedRuns: Boolean): String = {
      val head = s"""{"metric":"total","value":${ms3(total)},"unit":"sec","qunit":"ms","sf":"$sfName""""
      val err = if (errors == "[]" && !withRuns) "" else s""","errors":$errors"""
      val runs = if (withRuns) s""","runs":$nRuns""" else ""
      // compact since r18: the hn sentinel's ~21 chars pushed the long
      // form out of EVERY candidate on the 68-query line (the first
      // full-suite run after the sentinel landed emitted neither runs
      // nor timed_runs) — [modal, n_except] carries the same two
      // numbers in a third of the chars and fits candidate 2
      val tr = if (withTimedRuns) s""","tr":[$modalRuns,$nExcept]""" else ""
      // protocol annotation (r14 verdict item 6): Bench is cache-honest
      // since r13 (CacheManager cleared before every timed run), so the
      // r11->r13 headline climb is a protocol change, not a regression;
      // only same-protocol rounds are wall-comparable. Emitted LAST so
      // it survives the driver's tail capture like the twin queries.
      // "proto" not "protocol" (ADVICE r15): the long form left the
      // fullest line 3 chars under the budget — one more query or a
      // digit of growth silently dropped runs/timed_runs via the
      // candidate fallback.
      // short value: the full "cache-honest-r13" tag rides stderr; the
      // stdout field only needs to version the protocol
      // hn/noisy (r18 sentinel) ride EVERY candidate — they are the
      // warning a contaminated line must carry — and sit at the tail
      // with "proto" so tail capture keeps them
      val gcPct = if (suiteWallMs > 0) gcMs * 100 / suiteWallMs else -1
      val hn = s""","hn":[${calAll.min},${calAll.max},$gcPct,${spreadyNames.size}]""" +
        (if (noisy) ""","noisy":1""" else "")
      s"""$head$err$runs$tr,"queries":$qs$hn,"proto":"r13"}"""
    }
    val budget = 1800
    val candidates = Seq(line(true, true), line(false, true), line(false, false))
    val out = candidates.find(_.length <= budget).getOrElse {
      System.err.println(s"[bench] OVERFLOW: minimal stdout line is ${candidates.last.length} chars (> $budget); driver tail may truncate it")
      candidates.last
    }
    // the protocol tag ALSO goes to stderr (ADVICE r15) so it survives
    // even a future minimal-candidate fallback or a truncated tail
    System.err.println("[bench] protocol=cache-honest-r13")
    System.err.println(s"[bench] stdout line ${out.length} chars (budget $budget)")
    println(out)
    spark.stop()
  }
}

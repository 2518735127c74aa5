package graft


/** Per-round benchmark: times the headline queries at SPARK_GRAFT_SF_DIR
  * and prints exactly one JSON line for the driver.
  *
  * Harness integrity rules:
  *  - a query that throws is NOT timed as ~0s — it is excluded from the
  *    total and reported under "errors" (a regression must never
  *    masquerade as a speedup);
  *  - the cache is cleared between timed runs, so best-of-2 measures
  *    steady-state compute, not a cache hit of the first run (persist()
  *    matches by analyzed plan, and several pipelines persist
  *    intermediates internally);
  *  - the JSON line goes to stdout AND to a file (SPARK_GRAFT_BENCH_OUT,
  *    default bench_out.json) so the driver's parser never has to fish
  *    it out of sbt log prefixes;
  *  - "delta_vs_prev" carries per-query cur/prev time ratios against the
  *    previous round's record (SPARK_GRAFT_BENCH_PREV, default
  *    bench_prev.json — only when that record was measured at the SAME
  *    sf dir), so a regression is machine-visible in the round record;
  *  - "cap_drops" snapshots the super-bucket CapMetrics after the timed
  *    runs: at oracle/bench scale every pipeline must report 0 dropped;
  *  - "canary" re-times one fixed trivial query between every few
  *    headliners; "drift" (max/min sample) > 3x marks the record
  *    "contaminated": true — machine contention self-identifies instead
  *    of masquerading as a per-query regression;
  *  - the scaling section carries the record-acceptance verdict
  *    ("session_accepted") and QUARANTINES its superlinear flags
  *    unconditionally: each flag must reproduce in a fresh Spark
  *    session or it is published under "suspect_contention" with its
  *    fresh ratio, never under "superlinear" (see [[quarantineFlags]]).
  */
object Bench {

  import Sessions.clearAll

  private def jsonStr(s: String): String = Json.str(s)

  /** The canonical bench scale: a clean run HERE may always refresh the
    * comparison record (reclaiming a stale record a smoke run at another
    * SF may have seeded when no record existed yet).
    */
  private[graft] val DefaultSfDir = "/root/testdata/sf0.1"

  /** Sampling policy stamp carried in every record, so a comparator can
    * tell whether two records were measured under the same policy (the
    * r10 best-of-2 → best-of-3 change biased one round of deltas toward
    * "improvement" invisibly).
    */
  private[graft] val SamplingPolicy =
    "best-of-2; +1 sample when min >= 0.5 s; +1 settle sample for the " +
      "top-10 record-inflated queries when the shared-query total > 1.1x the record"

  /** Shared-total band above the comparison record past which the
    * slow-tail settle pass fires (r15): two r14 invocations of identical
    * code measured 46.07 vs 40.79 s (~13%) — session-scoped contention
    * smeared across the tail, below every per-query flag. 1.10 sits
    * above best-of-2 sampling noise on a quiet box (round-over-round
    * totals agree within ~5%) and below the observed contention spread.
    */
  private[graft] val SettleBand = 1.10
  private[graft] val SettleTopN = 10

  /** The settle pass's targets (pure, BenchPolicySpec-pinned): when the
    * SHARED-query total (only queries present in both this run and the
    * record — a new query's time is surface growth, not inflation)
    * exceeds the record's by more than `band`, the `n` most-inflated
    * queries (cur − prev, descending) each pay one extra sample, folded
    * into the min. Empty whenever there is no record, no shared queries,
    * or the run is within band — a quiet session never pays. Fires only
    * in the SLOW direction: samples fold by min, so firing on a fast run
    * could only bias the published figure further down, never correct it.
    */
  private[graft] def settleTargets(cur: Seq[(String, Double)],
                                   prev: Map[String, Double],
                                   n: Int = SettleTopN,
                                   band: Double = SettleBand): Seq[String] = {
    val shared = cur.filter { case (k, _) => prev.contains(k) }
    val prevSum = shared.map { case (k, _) => prev(k) }.sum
    if (shared.isEmpty || prevSum <= 0.0 ||
        shared.map(_._2).sum <= prevSum * band) Seq.empty
    else shared
      // only queries actually ABOVE their record figure: when one +6 s
      // outlier alone trips the band, re-sampling at-or-below-record
      // queries pays full timed runs that can only lower an already-
      // clean min — the pass stays proportional to the real inflation
      .filter { case (k, t) => t > prev(k) }
      .sortBy { case (k, t) => prev(k) - t }.take(n).map(_._1)
  }

  /** Canary drift above which a run may NOT become the comparison
    * record. Stricter than the 3.0 "contaminated" verdict: r10's run had
    * drift 1.81× and a broad 1.14× slowdown on untouched queries — not
    * contaminated enough to flag, but adopting it as `bench_prev` made
    * the next round's deltas compare against an inflated base. A record
    * is a BASELINE; it must be measured on a quiet box.
    */
  private[graft] val RecordAcceptDrift = 1.5

  /** Canary drift above which the timed loop RETRIES once even when the
    * run would still pass the accept gate: r11's record was adopted at
    * drift 1.40 (≤ 1.5) while a clean measurement of the same code in git
    * history sat ~1.1× lower — mild contention inflates the baseline
    * without tripping the accept gate. A retry in the (1.25, 1.5] band
    * costs one extra loop only on a noisy box, and the lower-drift pass
    * wins; the ACCEPT threshold stays [[RecordAcceptDrift]].
    */
  private[graft] val RetryDrift = 1.25

  /** Outlier-tolerant canary drift (2nd slowest / 2nd fastest when ≥4
    * samples — one transient GC/writeback hiccup must not taint the run)
    * plus the raw max/min alongside. Returns (drift, driftRaw).
    */
  private[graft] def driftOf(times: Seq[Double]): (Double, Double) = {
    val s = times.sorted
    val drift =
      if (s.size >= 4) s(s.size - 2) / s(1)
      else if (s.size >= 2) s.last / s.head
      else 1.0
    val raw = if (s.size >= 2) s.last / s.head else 1.0
    (drift, raw)
  }

  /** Whether a retry pass replaces the first pass: strictly lower canary
    * drift AND itself error-free. A quieter-but-errored second pass must
    * never displace a clean first pass — `anyError` would then reject the
    * record outright, discarding the clean figures already in hand.
    */
  private[graft] def adoptRetry(firstDrift: Double, retryDrift: Double,
                                retryErrorFree: Boolean): Boolean =
    retryDrift < firstDrift && retryErrorFree

  /** Whether the COOL-DOWN escalation fires after the immediate retry:
    * the run still ends above the accept gate, i.e. whatever the gate
    * would publish is a sample the harness itself refuses to adopt as
    * the comparison record. r15 ended exactly there — drift 1.53, record
    * refused, yet the contended 53.65 s total became the committed round
    * artifact while the adopted record said 39.79. The immediate retry
    * ran back-to-back into the same contention window; this pass sleeps
    * [[CooldownSec]] first (transient load — a build, a backup — usually
    * clears in that window) and the lowest-drift error-free pass wins,
    * same [[adoptRetry]] rule.
    */
  private[graft] def cooldownRetryNeeded(canaryDrift: Double): Boolean =
    canaryDrift > RecordAcceptDrift

  /** Cool-down before the escalation pass (seconds; env-overridable). */
  private[graft] val CooldownSec = 90

  // ---- record lifecycle under a sustained environment shift (r17) ----
  // The refusal machinery (retry band, cool-down escalation, accept
  // gate) protects the record from TRANSIENT contention, but r16 showed
  // it has no counterpart for the RECORD going stale when the box's
  // whole regime moves: three independent sessions (two fully-idle
  // builder runs at 73.2/73.8 s, the judge's at 68.5 s) agreed within
  // ~8% while the adopted record said 39.79 s from a 01:43 quiet
  // window — every session was correctly refused, and round-over-round
  // deltas stayed uninterpretable. Two complementary fixes:
  //
  //  1. every record now carries `machine.canary_median` (the fixed
  //     trivial query's median — an in-band probe of box throughput),
  //     and `machine.total_normalized` divides this run's total by
  //     (cur canary median / prev canary median): the series that stays
  //     comparable under any UNIFORM machine-speed shift;
  //  2. clean-but-refused runs append to a session history ledger
  //     (bench_history.jsonl); when [[RegimeMinSessions]] consecutive
  //     refused-but-sane sessions at the same sf and surface size agree
  //     on the total within [[RegimeAgreeBand]], the current run is
  //     ADOPTED as the comparison record with "regime_shift": true —
  //     sustained cross-session agreement is the box's new price, not
  //     contention (contention does not reproduce within 10% across
  //     hours-apart sessions; r16's three sessions are the calibration).

  /** Sessions (including the current one) that must agree. */
  private[graft] val RegimeMinSessions = 3

  /** Pairwise total agreement band for a regime shift (max ≤ min·1.10):
    * r16's three agreeing sessions spanned 7.7%; best-of-2 noise on a
    * quiet box is ~5%.
    */
  private[graft] val RegimeAgreeBand = 0.10

  /** Sessions above the contamination verdict (canary drift > 3) never
    * count toward a regime — an actively-competing box is not a regime.
    */
  private[graft] val RegimeMaxDrift = 3.0

  /** Whether this clean-but-refused run re-qualifies the comparison
    * record as a regime shift. `history` is (total, drift, accepted, n,
    * nFailed, cpus) per prior session at this sf, oldest → newest; the
    * streak counts backwards from the latest and BREAKS on any accepted
    * session (the record was fresh then), any contaminated one, a
    * different query-surface size (totals are not comparable across n),
    * an ERRORED session (nFailed > 0: its total omits the failed
    * queries' samples, so it is a deflated non-comparable figure — r17
    * ledger lines predate the marker and parse as nFailed 0, which
    * matches what they were: full clean runs), or a DIFFERENT core
    * count (r18: totals are not comparable across cpus; pre-r19 ledger
    * lines carry no cpus marker, parse as -1, and never vouch — the
    * conservative read, since the r18 ledger mixes 8- and 32-core
    * lines indistinguishably). Pure — BenchPolicySpec pins the policy.
    */
  private[graft] def regimeShiftAdopt(curTotal: Double, curDrift: Double,
      curN: Int, history: Seq[(Double, Double, Boolean, Int, Int, Int)],
      curCpus: Int = DefaultCpus,
      minSessions: Int = RegimeMinSessions,
      band: Double = RegimeAgreeBand,
      maxDrift: Double = RegimeMaxDrift): Boolean =
    if (curDrift > maxDrift || curTotal <= 0.0) false
    else {
      val streak = history.reverse
        .takeWhile { case (_, d, acc, n, nf, c) =>
          !acc && d <= maxDrift && n == curN && nf == 0 && c == curCpus }
        .take(minSessions - 1)
      val totals = curTotal +: streak.map(_._1)
      totals.size >= minSessions && totals.max <= totals.min * (1.0 + band)
    }

  /** Median (the canary regime probe: outlier-tolerant where max/min
    * drift is outlier-sensitive — one GC hiccup moves the drift, not
    * the median).
    */
  private[graft] def medianOf(ts: Seq[Double]): Option[Double] =
    if (ts.isEmpty) None
    else {
      val s = ts.sorted
      Some(if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
    }

  /** Whether this run's figures may replace the comparison record
    * (`bench_prev`): no error on ANY run (a flaky query's surviving
    * sample is unrepresentative), canary drift within
    * [[RecordAcceptDrift]] (a contended run must not become the baseline
    * the next round flatters itself against), and the sf-dir rule — a
    * run at a different sf than the stored record leaves it alone,
    * except at the canonical sf (which may reclaim a stale record a
    * smoke run seeded when none existed).
    */
  private[graft] def acceptAsRecord(anyError: Boolean, canaryDrift: Double,
                                    prevSfMatches: Option[Boolean],
                                    sfDir: String,
                                    prevCpusMatches: Option[Boolean] = None,
                                    cpus: Int = DefaultCpus): Boolean =
    !anyError && canaryDrift <= RecordAcceptDrift &&
      sfRuleOk(prevSfMatches, sfDir) && cpusRuleOk(prevCpusMatches, cpus)

  /** The sf-dir record rule, shared by [[acceptAsRecord]] AND the
    * regime-adoption path: a run at a different sf than the stored
    * record leaves the record alone, except at the canonical sf (which
    * may reclaim a stale record a smoke run seeded when none existed).
    * Extracted because r17 shipped it only on the accept gate — a clean
    * low-drift smoke run at a non-canonical sf was refused ONLY for the
    * sf mismatch, logged to the ledger as refused-but-sane, and after
    * RegimeMinSessions agreeing smoke sessions the regime path would
    * overwrite the canonical record: exactly the clobbering the rule
    * exists to prevent.
    */
  private[graft] def sfRuleOk(prevSfMatches: Option[Boolean],
                              sfDir: String): Boolean =
    prevSfMatches != Some(false) || sfDir == DefaultSfDir

  /** The canonical bench core count — the width the driver's main run
    * uses and records are comparable at.
    */
  private[graft] val DefaultCpus = 32

  /** The cpus-dimension record rule (r18 verdict "what's wrong" #2: the
    * driver's SPARK_GRAFT_CPUS=8 scaling run self-accepted as the
    * comparison record — totals happened to be close at sf0.1, but the
    * record policy had no cpus dimension at all, so next round's deltas
    * would baseline against a different-width run). Same shape as
    * [[sfRuleOk]]: a run at a different core count than the stored
    * record leaves the record alone, except at the canonical width
    * (which may reclaim a record a scaling run seeded). `None` (a
    * pre-r19 record with no cpus field) permits — the canonical-width
    * run that follows stamps the field and engages the rule.
    */
  private[graft] def cpusRuleOk(prevCpusMatches: Option[Boolean],
                                cpus: Int): Boolean =
    prevCpusMatches != Some(false) || cpus == DefaultCpus

  /** Quarantine for the scaling section's superlinear flags (pure, so
    * BenchPolicySpec pins the policy): EVERY flag must REPRODUCE in a
    * fresh Spark session before it may be published under
    * "superlinear" — session acceptance no longer exempts it. Three
    * rounds running, in-session flag lists named likely-innocent
    * queries (r11: q_ngram_spans 42.5× flagged vs
    * sublinear-through-×256 idle-box ledger; r12: q_tpch_q21 21.9×
    * flagged vs 3.56 in the same build's adopted clean record; r13:
    * q_bigram_lm 17.4× at ×8 from an ACCEPTED session vs the same
    * unchanged code's ×64 idle-box ledger at 21.2 — 8× more data for
    * ~1.2× more time is not an operator profile), because the canary's
    * accept verdict measures record-comparison trustworthiness, not
    * freedom from end-of-session heap/contention history on one
    * sample. Returns `(upheld, suspectContention, freshRatios)`:
    * `reproduceFresh` is called once per flag; a flag whose fresh
    * ratio clears `threshold` is upheld, one that doesn't — or whose
    * reproduction errored (None) — is published under
    * `suspect_contention` instead (an unreproducible flag must not
    * name an innocent query).
    */
  private[graft] def quarantineFlags(
      flagged: Seq[String], threshold: Double,
      reproduceFresh: String => Option[Double])
    : (Seq[String], Seq[String], Map[String, Option[Double]]) =
    if (flagged.isEmpty) (flagged, Nil, Map.empty)
    else {
      val fresh = flagged.map(n => n -> reproduceFresh(n)).toMap
      val (upheld, suspect) =
        flagged.partition(n => fresh(n).exists(_ > threshold))
      (upheld, suspect, fresh)
    }

  /** A query whose superlinear scale ratio is a DECLARED algorithm
    * switch, not a regression: `t1` prices one algorithm and `tF` a
    * deliberately different one, so the ratio measures the switch, not
    * the operator's exponent. `baseRatio` is the measured ratio at
    * `baseFactor`; a sampled ratio within `slack ×` the linearly-scaled
    * band reads as the documented switch, while a ratio LEAVING the band
    * is a real regression and takes the normal quarantine → superlinear
    * path — so the recurring expected flag can no longer camouflage an
    * actual one (r17 "what's wrong" #1).
    */
  private[graft] case class DeclaredSwitch(note: String, baseFactor: Int,
                                           baseRatio: Double,
                                           slack: Double = 1.5)

  /** q_salted_join: at 1× the small side broadcasts (Scale.saltedJoin
    * never prices the salted path), at ×F the documented broadcast →
    * salted switch engages — ×8 ratio measured 19.9–21.1 across r11–r17
    * sessions; the ENGAGED path's own ×64→×256 exponent is sublinear
    * (2.79× time for 4× data, SCALING256_TIER2.json).
    */
  private[graft] val DeclaredSwitches: Map[String, DeclaredSwitch] = Map(
    "q_salted_join" -> DeclaredSwitch(
      "documented broadcast->salted algorithm switch (Scale.saltedJoin): " +
        "t1 prices the broadcast path, tF the engaged salted path; " +
        "engaged-path x64->x256 exponent sublinear (2.79x time for 4x " +
        "data, SCALING256_TIER2)", baseFactor = 8, baseRatio = 21.1))

  /** Max in-band ratio for a declared switch at `factor`: the measured
    * base ratio scaled LINEARLY to the sampled factor (generous — the
    * engaged path is sublinear, so a real regression still leaves the
    * band) times the slack. None for queries with no declared switch.
    */
  private[graft] def declaredSwitchAllowed(name: String,
                                           factor: Int): Option[Double] =
    DeclaredSwitches.get(name).map(s =>
      s.baseRatio * s.slack * (factor.toDouble / s.baseFactor))

  /** Split the in-session scale flags: declared-switch queries whose
    * ratio sits inside their measured band are published under
    * `declared_switch` WITHOUT paying fresh-session quarantine (the
    * expected behavior needs no reproduction); everything else —
    * including a declared-switch query whose ratio LEFT its band —
    * takes the normal quarantine path. Pure; BenchPolicySpec pins it.
    */
  private[graft] def splitDeclaredSwitches(flagged: Seq[(String, Double)],
                                           factor: Int)
    : (Seq[String], Seq[(String, Double, Double)]) = {
    val (declared, normal) = flagged.partition { case (n, r) =>
      declaredSwitchAllowed(n, factor).exists(r <= _) }
    (normal.map(_._1),
      declared.map { case (n, r) =>
        (n, r, declaredSwitchAllowed(n, factor).get) })
  }

  /** The compact last-line summary the driver's tail parser reads: same
    * schema head as the full record (metric/value/unit/queries/sf) with
    * `queries` truncated to the slowest 10 so the object stays well
    * under a bounded tail window. Kept as a pure function so a spec can
    * pin that it parses as JSON with the expected keys — the emitter
    * half of the guard; the build-flag half (StdoutOutput/showSuccess)
    * is pinned by the same spec against build.sbt.
    */
  private[graft] def compactLine(total: Double, slow10: Seq[(String, Double)],
                                 sfDir: String, n: Int, nFailed: Int,
                                 outPath: String): String = {
    val qs = slow10.map { case (k, t) => jsonStr(k) + ":" + f"$t%.3f" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":${jsonStr(sfDir)},"n":$n,"n_failed":$nFailed,""" +
      s""""queries_truncated_to_slowest":10,"full_record":${jsonStr(outPath)}}"""
  }

  def main(args: Array[String]): Unit = {
    // the record line is machine-parsed: f"" interpolators format via
    // the DEFAULT locale, and a comma-decimal locale (de_DE etc.) would
    // emit unparseable JSON — pin ROOT for the whole run
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // var: the scaling section's flag-reproduction path restarts the
    // session to get a fresh context (see quarantineFlags)
    var spark = Sessions.local(cpus.toInt, "graft-bench")

    val names =
      if (SparkEntry.benchQueries.nonEmpty) SparkEntry.benchQueries
      else SparkEntry.queries.keys.toSeq.sorted
    // JVM/codegen warm-up on the smallest SF so we time the query, not
    // the first-call compilation; a query that fails here fails loudly in
    // the timed loop below, so the warm-up itself may stay quiet.
    names.foreach { n =>
      try { SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count(); () }
      catch { case _: Throwable => () }
    }
    clearAll(spark)

    // contention canary: a fixed trivial query re-timed between every
    // few headliners. If the box degrades mid-run (a concurrent build, a
    // GC storm — the r5 driver record had exactly this), the drift is
    // recorded in the JSON and the record self-identifies as contaminated
    // instead of reading as a 20x query regression.
    // MEASURED r12 calibration note: the canary's ~1.4–1.6× drift on an
    // apparently idle box is AMBIENT machine throughput variance, not
    // small-sample scheduling jitter — a 6× heavier canary
    // (q_linear_probe at sf0.1, ~0.5 s pure map-side aggregate) showed
    // the SAME-or-wider spread (0.41–0.79 s, drift 1.62) at 6× the
    // sampling cost. So the cheap canary stays: it faithfully reports
    // the environment, the retry band (>1.25) recovers mildly-noisy
    // first passes, and the accept gate (>1.5) still refuses the
    // sustained-contention regime (r10's 1.81).
    val canaryQuery = "q_token_count"
    val canaryEvery = 5
    val canarySf = "/root/testdata/sf0.001"

    // ONE full timed pass over the headliners, canary interleaved.
    // best-of-2 at the target SF: the first run can still absorb SF-
    // specific JIT/codegen; the min is the steady-state figure and is
    // stable round over round. Cache cleared between runs (see above).
    // HEAVY queries (best-of-2 min >= 0.5 s) pay one extra sample:
    // r9's delta ledger had q_bloom_decontaminate swing 1.87x between
    // two clean runs of identical code — on the multi-second tail a
    // single contended sample dominates a 2-sample min, and those are
    // exactly the queries the round-over-round gate is judged on.
    val heavyThreshold = 0.5
    def measureOnce(): (Seq[(String, Seq[Double], Option[Throwable])], Seq[Double]) = {
      val canaryTimes = scala.collection.mutable.ArrayBuffer[Double]()
      def runCanary(): Unit =
        if (SparkEntry.queries.contains(canaryQuery)) {
          val t0 = System.nanoTime()
          try {
            SparkEntry.queries(canaryQuery)(spark, canarySf).count()
            canaryTimes += (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () }
          clearAll(spark)
        }
      // Prime the canary once untimed: its first post-clearCache call
      // pays re-read + re-JIT (~2-3x steady state), which would inflate
      // max/min drift toward the contamination threshold on a healthy box.
      if (SparkEntry.queries.contains(canaryQuery)) {
        try { SparkEntry.queries(canaryQuery)(spark, canarySf).count(); () }
        catch { case _: Throwable => () }
        clearAll(spark)
      }
      val results = names.zipWithIndex.map { case (name, i) =>
        if (i % canaryEvery == 0) runCanary()
        var err: Option[Throwable] = None
        def sample(): Option[Double] = {
          val t0 = System.nanoTime()
          val t =
            try { SparkEntry.queries(name)(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable => err = Some(e); None }
          clearAll(spark)
          t
        }
        var times = (1 to 2).flatMap(_ => sample())
        if (times.nonEmpty && times.min >= heavyThreshold && err.isEmpty)
          times = times ++ sample()
        (name, times, err)
      }
      runCanary()
      (results, canaryTimes.toSeq)
    }

    var (results, canaryTimes) = measureOnce()
    var (canaryDrift, canaryDriftRaw) = driftOf(canaryTimes)
    // a contended first pass retries the timed loop ONCE (unless
    // disabled): transient contention (a build, a backup) usually clears
    // within the few minutes the first pass took. The trigger is the
    // RETRY band (> RetryDrift), not the accept gate — a 1.4-drift run
    // would be ACCEPTED as the record yet still carries ~1.1× inflated
    // figures (r11), so it deserves a second chance too. The LOWER-drift
    // pass wins wholesale — figures and canary together, never mixed —
    // and ONLY if it is itself error-free: a quieter-but-errored retry
    // must never displace a clean first pass (anyError would then reject
    // the record outright, discarding clean figures).
    val retryEnabled = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY", "1") != "0"
    if (retryEnabled && canaryDrift > RetryDrift && results.forall(_._3.isEmpty)) {
      System.err.println(
        f"[bench] WARN canary drift $canaryDrift%.2fx > retry band $RetryDrift%.2fx — " +
          "contended first pass; retrying the timed loop once")
      val (r2, c2) = measureOnce()
      val (d2, raw2) = driftOf(c2)
      if (adoptRetry(canaryDrift, d2, r2.forall(_._3.isEmpty))) {
        results = r2; canaryTimes = c2; canaryDrift = d2; canaryDriftRaw = raw2
      }
    }
    // ---- cool-down escalation (policy in cooldownRetryNeeded): the run
    // STILL ends above the accept gate after the immediate retry, so the
    // published figures would be a sample the harness itself refuses as
    // the record. Sleep out the transient load and measure once more;
    // lowest-drift error-free pass wins. One extra loop, only on a box
    // contended enough that the record was already lost.
    var cooldownRetried = false
    if (retryEnabled && cooldownRetryNeeded(canaryDrift) &&
        results.forall(_._3.isEmpty)) {
      val coolSec = sys.env.get("SPARK_GRAFT_BENCH_COOLDOWN_SEC")
        .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(CooldownSec)
      System.err.println(
        f"[bench] WARN canary drift $canaryDrift%.2fx still > accept gate " +
          f"$RecordAcceptDrift%.2fx after retry — cooling down ${coolSec}s, " +
          "then one escalation pass")
      Thread.sleep(coolSec * 1000L)
      cooldownRetried = true
      val (r3, c3) = measureOnce()
      val (d3, raw3) = driftOf(c3)
      if (adoptRetry(canaryDrift, d3, r3.forall(_._3.isEmpty))) {
        results = r3; canaryTimes = c3; canaryDrift = d3; canaryDriftRaw = raw3
      }
    }

    // ---- previous record + acceptance verdict (BEFORE the scale-proof:
    // the scaling section gates its flags on the verdict) --------------
    // per-query cur/prev ratio, only when the prev record exists and was
    // measured at the same sf dir (a 0.01-vs-0.1 "delta" would be noise
    // presented as signal)
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench_prev.json")
    // Some(true/false) = prev record exists and was/wasn't measured at this
    // run's sf dir; None = no readable prev record. Gates BOTH the delta
    // computation and the record refresh — a smoke run at another SF must
    // not clobber the canonical record.
    var prevSfMatches: Option[Boolean] = None
    // Some(true/false) = prev record carries a cpus stamp that does/
    // doesn't match this run's core count; None = pre-r19 record with no
    // stamp. Gates deltas, the settle pass, and the record refresh — an
    // 8-core scaling run's record must not baseline a 32-core round (r18
    // verdict "what's wrong" #2).
    var prevCpusMatches: Option[Boolean] = None
    // the previous record's canary median (regime probe) — parsed from
    // its "canary":{...,"times":[...]} array so old-format records work;
    // only meaningful against a record at the same sf dir
    var prevCanaryMedian: Option[Double] = None
    val prev: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(prevPath))
        prevCpusMatches = "\"cpus\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt == cpus.toInt)
        prevCanaryMedian =
          "\"canary\"\\s*:\\s*\\{[^}]*?\"times\"\\s*:\\s*\\[([^\\]]*)\\]".r
            .findFirstMatchIn(txt)
            .flatMap(m => medianOf(m.group(1).split(",")
              .map(_.trim).filter(_.nonEmpty).flatMap(_.toDoubleOption).toSeq))
        // whitespace-tolerant: the prev record may have been re-dumped by
        // a pretty-printer ("sf": "..." with spaces) — r4's deltas came
        // out empty because the matcher here assumed compact JSON
        val sfOk = ("\"sf\"\\s*:\\s*" + java.util.regex.Pattern.quote(jsonStr(sfDir)))
          .r.findFirstIn(txt).isDefined
        prevSfMatches = Some(sfOk)
        // a cpus-stamped record at a DIFFERENT width yields no deltas
        // and no settle targets (cross-width "deltas" are noise
        // presented as signal, the sf-mismatch rule's twin)
        if (!sfOk || prevCpusMatches.contains(false)) Map.empty
        else {
          val qm = "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt)
          qm.map { m =>
            val qTxt = txt.substring(m.end, txt.indexOf("}", m.end))
            // the first-'}' slice holds only while the object stays
            // flat; a nested value would truncate the map and feed the
            // settle pass partial data — throw instead (the enclosing
            // catch degrades to Map.empty: no deltas, no settle — a
            // VISIBLE degradation, same policy as TimingSmoke.parsePrev)
            require(!qTxt.contains("{"),
              "prev record's queries object is not flat — the first-'}' " +
                "extraction would truncate it")
            "\"([^\"]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r.findAllMatchIn(qTxt)
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
          }.getOrElse(Map.empty)
        }
      } catch { case _: Throwable => Map.empty }
    val accepted = acceptAsRecord(results.exists(_._3.nonEmpty), canaryDrift,
      prevSfMatches, sfDir, prevCpusMatches, cpus.toInt)

    // ---- regime-shift re-qualification (policy in regimeShiftAdopt):
    // prior sessions at this sf from the history ledger, oldest-first.
    // Line-oriented regex parse (the prev-record pattern): a malformed
    // line degrades to "not part of a streak", never to a crash.
    val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      "bench_history.jsonl")
    def numField(txt: String, k: String): Option[Double] =
      (s""""$k"\\s*:\\s*(-?[0-9][0-9.eE+-]*)""").r
        .findFirstMatchIn(txt).flatMap(_.group(1).toDoubleOption)
    def boolField(txt: String, k: String): Option[Boolean] =
      (s""""$k"\\s*:\\s*(true|false)""").r
        .findFirstMatchIn(txt).map(_.group(1) == "true")
    val history: Seq[(Double, Double, Boolean, Int, Int, Int)] =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(histPath))
          .asScala.toSeq
          .filter(("\"sf\"\\s*:\\s*" + java.util.regex.Pattern.quote(jsonStr(sfDir)))
            .r.findFirstIn(_).isDefined)
          .flatMap { ln =>
            for {
              t <- numField(ln, "total"); d <- numField(ln, "drift")
              a <- boolField(ln, "accepted"); n <- numField(ln, "n")
              // pre-r18 lines predate the error marker and were full
              // clean runs — missing n_failed reads as 0. Pre-r19 lines
              // predate the cpus marker and the r18 ledger mixes 8- and
              // 32-core sessions indistinguishably — missing cpus reads
              // as -1, which never matches a real width (conservative:
              // unmarked sessions cannot vouch for a regime).
            } yield (t, d, a, n.toInt,
              numField(ln, "n_failed").map(_.toInt).getOrElse(0),
              numField(ln, "cpus").map(_.toInt).getOrElse(-1))
          }
      } catch { case _: Throwable => Seq.empty }

    // ---- slow-tail settle pass (policy in settleTargets): when this
    // session reads materially slower than the comparison record, the
    // most-inflated queries pay one extra sample each so the PUBLISHED
    // total converges to steady state instead of carrying ~10% of
    // session noise into the round ledger. ~n extra samples on a noisy
    // session; a quiet one never pays.
    val settledQueries: Seq[String] =
      if (results.exists(_._3.nonEmpty)) Seq.empty
      else {
        val cur = results.collect { case (k, ts, _) if ts.nonEmpty => k -> ts.min }
        val targets = settleTargets(cur, prev)
        if (targets.isEmpty) targets
        else {
          System.err.println(
            s"[bench] WARN shared-query total > ${SettleBand}x the record — " +
              s"settle pass (+1 sample) over ${targets.mkString(", ")}")
          val tset = targets.toSet
          // the published "settled" list names only queries whose extra
          // sample actually RAN — a swallowed failure must not read as
          // a taken sample in the round record
          val sampled = scala.collection.mutable.ArrayBuffer[String]()
          results = results.map {
            case (name, ts, err) if tset.contains(name) =>
              val t0 = System.nanoTime()
              val extra =
                try {
                  SparkEntry.queries(name)(spark, sfDir).count()
                  sampled += name
                  Some((System.nanoTime() - t0) / 1e9)
                } catch { case e: Throwable =>
                  System.err.println(s"[bench] settle sample $name failed: $e")
                  None
                }
              clearAll(spark)
              (name, ts ++ extra, err)
            case r => r
          }
          sampled.toSeq
        }
      }

    // ---- scale-proof: re-time the heaviest headliners at ×F ----------
    // Every figure above is one point at one SF; the 100 TB question is
    // the EXPONENT. ScaleUp materializes a deterministic ×F replica of
    // the bench dir (key-domain salting keeps join selectivity and LSH
    // collision structure per-row identical — see ScaleUp's scaladoc),
    // and each of the top-N heaviest queries is re-timed at both sizes:
    // ratio ≈ F is linear, ratio ≫ F is a superlinear red flag, named in
    // "superlinear" so a regression is machine-visible in the record —
    // after surviving the quarantine policy (see quarantineFlags): a
    // session the canary rejected must reproduce each flag in a FRESH
    // session before publishing it.
    val scaleFactor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "8").toInt
    val scaleTopN = sys.env.getOrElse("SPARK_GRAFT_SCALE_TOPN", "20").toInt
    val scaling: Option[String] =
      if (scaleFactor < 2 || scaleTopN < 1) None
      else try {
        val scaledDir = graft.tools.ScaleUp.ensure(spark, sfDir, scaleFactor)
        clearAll(spark)
        val byWeight = results.collect { case (k, ts, _) if ts.nonEmpty => (k, ts.min) }
          .sortBy(-_._2)
        // SPARK_GRAFT_SCALE_INCLUDE forces named queries into the
        // scale-proof regardless of rank — for benching a scale-path
        // VARIANT (e.g. hashed-gram spans) side by side with the exact
        // form even when the variant is too fast to make the top N
        val include = sys.env.getOrElse("SPARK_GRAFT_SCALE_INCLUDE", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSet
        val heaviest = (byWeight.take(scaleTopN) ++
          byWeight.filter(kv => include.contains(kv._1))).distinct
        val entries = heaviest.map { case (name, t1main) =>
          val q = SparkEntry.queries(name)
          def time(dir: String): Option[Double] = {
            val t0 = System.nanoTime()
            val r = try { q(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              System.err.println(s"[bench] scaling $name at $dir: $e"); None }
            clearAll(spark)
            r
          }
          // one fresh 1× sample folded with the main run's best-of-2, so
          // both sides of the ratio share session state; the ×F side pays
          // one warm-up first — a query's first run at the scaled dir can
          // absorb one-time fixture setup (bucketed-table writes, blob
          // fixtures) that the 1× side already amortized, which would
          // record a linear query as superlinear. The warm-up is TIMED as
          // a budget guard: past 60 s its own figure is recorded (setup
          // cost included, accepted) instead of paying a second full run —
          // a genuinely slow query must not stall the whole bench. A
          // throwing warm-up is REPORTED by time() (stderr), never
          // silently swallowed, and the timed sample still runs.
          val t1 = (time(sfDir).toSeq :+ t1main).min
          val warm = time(scaledDir)
          val tF = warm match {
            case Some(w) if w > 60.0 =>
              // the budget path must still honor reproduce-before-flag:
              // a warm figure that WOULD read as superlinear can be pure
              // one-time fixture setup, so it pays exactly one timed
              // reproduction (min of the two); a non-flagging figure is
              // recorded as-is without a second multi-minute run
              if (w / t1 > 1.3 * scaleFactor)
                Some(math.min(w, time(scaledDir).getOrElse(w)))
              else Some(w)
            case _ =>
              time(scaledDir) match {
                case Some(t) if t / t1 > 1.3 * scaleFactor && t <= 180.0 =>
                  // a would-be superlinear flag must REPRODUCE: hours of
                  // prior session work (GC pressure late in the bench)
                  // can inflate one sample 3-4x over a fresh-session run
                  // of the same query — keep the min of two timed runs,
                  // the same best-of-2 policy the main loop uses, so a
                  // flagged exponent is a property of the QUERY, not of
                  // the session's heap history. The 180 s cap is the
                  // retry budget guard, sized so a 3-4x noise spike on
                  // any real headliner still retries; only a sample
                  // that would cost minutes to reproduce flags directly
                  Some(math.min(t, time(scaledDir).getOrElse(t)))
                case other => other
              }
          }
          (name, t1, tF)
        }
        val qjson = entries.map { case (n, t1, tF) =>
          jsonStr(n) + ":" + (tF match {
            case Some(t) => f"""{"t1":$t1%.4f,"tf":$t%.4f,"ratio":${t / t1}%.3f}"""
            case None => f"""{"t1":$t1%.4f,"tf":null,"ratio":null}"""
          })
        }.mkString("{", ",", "}")
        val flaggedAll = entries.collect {
          case (n, t1, Some(tF)) if tF / t1 > 1.3 * scaleFactor => (n, tF / t1) }
        // declared algorithm switches (see DeclaredSwitches): in-band
        // ratios publish as annotation, not flag, and skip quarantine
        val (flagged, declaredOk) =
          splitDeclaredSwitches(flaggedAll, scaleFactor)
        // fresh-context reproduction, engaged by quarantineFlags for
        // EVERY flag (accepted sessions included since r14 — the r13
        // accepted session published ×8 flags physically inconsistent
        // with the same code's committed ×64 ledger): the in-session
        // best-of-2 shares hours of session heap/contention history, so
        // each flag re-times both sides in a restarted session (the
        // SpillProof pattern, in-process). Restart happens lazily once —
        // the common case (no flags) never pays it.
        var freshStarted = false
        def reproduceFresh(name: String): Option[Double] =
          try {
            if (!freshStarted) {
              System.err.println(
                s"[bench] reproducing ${flagged.size} scale flag(s) in a fresh session " +
                  f"(canary drift $canaryDrift%.2fx; session accepted=$accepted)")
              spark.stop()
              spark = Sessions.local(cpus.toInt, "graft-bench-fresh")
              freshStarted = true
            }
            def best2(dir: String): Option[Double] = {
              val ts = (1 to 2).flatMap { _ =>
                val t0 = System.nanoTime()
                val r =
                  try {
                    SparkEntry.queries(name)(spark, dir).count()
                    Some((System.nanoTime() - t0) / 1e9)
                  } catch { case e: Throwable =>
                    System.err.println(s"[bench] fresh repro $name at $dir: $e"); None }
                clearAll(spark)
                r
              }
              ts.minOption
            }
            for (f1 <- best2(sfDir); fF <- best2(scaledDir)) yield fF / f1
          } catch { case e: Throwable =>
            System.err.println(s"[bench] fresh repro $name failed: $e"); None }
        val (upheld, suspect, freshRatios) =
          quarantineFlags(flagged, 1.3 * scaleFactor, reproduceFresh)
        val freshJson =
          if (freshRatios.isEmpty) ""
          else {
            val fr = freshRatios.toSeq.sortBy(_._1).map { case (n, r) =>
              jsonStr(n) + ":" + (r match {
                case Some(x) =>
                  f"""{"ratio":$x%.3f,"reproduced_fresh":${x > 1.3 * scaleFactor}}"""
                case None => """{"ratio":null,"reproduced_fresh":false}"""
              })
            }.mkString("{", ",", "}")
            s""","fresh_repro":$fr"""
          }
        val declaredJson =
          if (declaredOk.isEmpty) ""
          else {
            val dj = declaredOk.sortBy(_._1).map { case (n, r, allowed) =>
              jsonStr(n) + ":" +
                f"""{"ratio":$r%.3f,"allowed":$allowed%.3f,""" +
                s""""note":${jsonStr(DeclaredSwitches(n).note)}}"""
            }.mkString("{", ",", "}")
            s""","declared_switch":$dj"""
          }
        Some(s"""{"factor":$scaleFactor,"queries":$qjson,""" +
          s""""session_accepted":$accepted,""" +
          s""""superlinear":${upheld.map(jsonStr).mkString("[", ",", "]")},""" +
          s""""suspect_contention":${suspect.map(jsonStr).mkString("[", ",", "]")}""" +
          freshJson + declaredJson + "}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] scaling section failed: $e"); None
      }

    val qs = results.map { case (k, ts, _) =>
      jsonStr(k) + ":" + (if (ts.nonEmpty) ts.min.toString else "null")
    }.mkString("{", ",", "}")
    val failed = results.filter(_._2.isEmpty)
    // report ANY error, including flaky one-of-two failures that still
    // produced a timing — a nondeterministic regression must not
    // masquerade as healthy
    val errs = results.filter(_._3.nonEmpty).map { case (k, _, e) =>
      jsonStr(k) + ":" + jsonStr(e.map(_.toString).getOrElse("?").take(300))
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2.minOption).sum

    // regime decision (needs the final settled total) — see
    // regimeShiftAdopt: a clean run the accept gate refused may still
    // re-qualify the record when it agrees with the trailing refused
    // sessions, because sustained cross-session agreement is a regime,
    // not contention.
    // sfRuleOk gates regime adoption too: sustained agreement among
    // smoke runs at a NON-canonical sf is a regime of the wrong
    // experiment — it must not clobber the canonical record
    val regimeAdopted = !accepted && results.forall(_._3.isEmpty) &&
      sfRuleOk(prevSfMatches, sfDir) &&
      cpusRuleOk(prevCpusMatches, cpus.toInt) &&
      regimeShiftAdopt(total, canaryDrift, results.size, history, cpus.toInt)

    // machine regime probe: this run's canary median, the record's, and
    // the normalized total — the round-over-round series that stays
    // comparable under a uniform machine-speed shift
    val curCanaryMedian = medianOf(canaryTimes)
    val machineScale = for (c <- curCanaryMedian; p <- prevCanaryMedian
                            if p > 0.0) yield c / p
    val totalNormalized = machineScale.map(total / _)
    val machineJson =
      s"""{"canary_median":${curCanaryMedian.map(m => f"$m%.4f").getOrElse("null")},""" +
        s""""prev_canary_median":${prevCanaryMedian.map(m => f"$m%.4f").getOrElse("null")},""" +
        s""""scale":${machineScale.map(m => f"$m%.3f").getOrElse("null")},""" +
        s""""total_normalized":${totalNormalized.map(t => f"$t%.2f").getOrElse("null")}}"""

    // previous round's figures (parsed above, before the scale-proof):
    // per-query cur/prev ratio against the comparison record
    val deltas = results.flatMap { case (k, ts, _) =>
      for (cur <- ts.minOption; p <- prev.get(k))
        yield jsonStr(k) + ":" + (cur / p)
    }.mkString("{", ",", "}")

    // super-bucket cap observability: the LAST timed run per pipeline —
    // non-zero drops at bench scale mean the geometry no longer fits
    val capDrops = graft.ops.CapMetrics.snapshot.toSeq.sortBy(_._1)
      .map { case (p, r) =>
        jsonStr(p) + s""":{"dropped_buckets":${r.droppedBuckets},"dropped_rows":${r.droppedRows}}"""
      }.mkString("{", ",", "}")

    // canary drift (computed by driftOf at measure time): a clean box
    // sits near 1.0; >3x means some window of the run competed for the
    // machine and figures from it are suspect. The CONTAMINATION verdict
    // uses an outlier-tolerant ratio (2nd slowest / 2nd fastest): one
    // transient hiccup in ~17 samples (GC, page cache writeback) must
    // not taint a quarter-hour run, while SUSTAINED competition still
    // shows as >=2 slow samples. The raw max/min ratio is kept alongside
    // so the single-sample story stays visible in the record.
    val canaryJson =
      s"""{"query":${jsonStr(canaryQuery)},"n":${canaryTimes.size},""" +
        s""""times":${canaryTimes.map(t => f"$t%.4f").mkString("[", ",", "]")},""" +
        s""""drift":$canaryDrift,"drift_raw":$canaryDriftRaw,""" +
        s""""cooldown_retried":$cooldownRetried,""" +
        s""""contaminated":${canaryDrift > 3.0}}"""

    // accepted-sibling pointer (r17 "what's wrong" #2): when a session
    // is ACCEPTED (or regime-adopted) its full record is also written
    // aside to bench_accepted.json; a later refused run's artifact then
    // carries a machine-readable pointer to the accepted sibling, so a
    // committed round artifact that happens to be a refused sample still
    // names the accepted figures from the same box instead of reading as
    // the round's only truth.
    val acceptedPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_ACCEPTED",
      "bench_accepted.json")
    val acceptedSibling: String =
      if (accepted || regimeAdopted) "null" // this run IS the accepted one
      else try {
        val p = java.nio.file.Paths.get(acceptedPath)
        val txt = java.nio.file.Files.readString(p)
        val sfOfSib = "\"sf\"\\s*:\\s*\"([^\"]*)\"".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
        numField(txt, "value").map { v =>
          s"""{"path":${jsonStr(acceptedPath)},"total":${f"$v%.3f"},""" +
            s""""sf":${jsonStr(sfOfSib)},""" +
            s""""mtime_ms":${java.nio.file.Files.getLastModifiedTime(p).toMillis}}"""
        }.getOrElse("null")
      } catch { case _: Throwable => "null" }

    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":${jsonStr(sfDir)},"cpus":${cpus.toInt},""" +
        s""""n_failed":${failed.size},"errors":$errs,""" +
        s""""delta_vs_prev":$deltas,"cap_drops":$capDrops,"canary":$canaryJson,""" +
        s""""sampling":${jsonStr(SamplingPolicy)},""" +
        s""""settled":${settledQueries.map(jsonStr).mkString("[", ",", "]")},""" +
        s""""accepted_as_record":$accepted,""" +
        s""""regime_shift":$regimeAdopted,"machine":$machineJson,""" +
        s""""accepted_sibling":$acceptedSibling,""" +
        s""""scaling":${scaling.getOrElse("null")}}"""

    // grep-stable tagged copy FIRST (r7 driver records had "parsed": null
    // — a tail-parser can anchor on the BENCH_JSON prefix), then the bare
    // JSON as the final stdout line for last-line parsers.
    println("BENCH_JSON " + line)
    println(line)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    // a clean run (no failures, canary drift within RecordAcceptDrift)
    // becomes the next round's comparison record, so delta_vs_prev always
    // tracks the latest accepted figures instead of drifting rounds
    // behind — see acceptAsRecord for the full rule. A rejected run still
    // wrote bench_out.json above (the round's figures stay visible); it
    // just doesn't become the baseline.
    // the accepted-sibling aside (see acceptedSibling above): every
    // accepted/adopted session leaves its full record at acceptedPath
    if (accepted || regimeAdopted)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(acceptedPath), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] accepted-sibling write failed: $e") }
    if (accepted)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(prevPath), line + "\n")
    else if (regimeAdopted) {
      System.err.println(
        f"[bench] WARN regime shift: this refused run (total $total%.2f s, drift " +
          f"$canaryDrift%.2fx) agrees within ${RegimeAgreeBand * 100}%.0f%% with the " +
          s"trailing refused sessions in $histPath — adopting as the comparison " +
          "record with \"regime_shift\": true (the box's new price, not contention)")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(prevPath), line + "\n")
    } else if (results.forall(_._3.isEmpty) && canaryDrift > RecordAcceptDrift)
      System.err.println(
        f"[bench] WARN run NOT adopted as comparison record: canary drift " +
          f"$canaryDrift%.2fx > $RecordAcceptDrift%.1fx — a contended run must " +
          "not become the baseline next round's deltas flatter themselves against")
    // session history ledger (feeds regimeShiftAdopt next round): one
    // line per full bench run; `accepted` here includes regime adoption
    // so an adoption resets the streak (future sessions compare to the
    // fresh record). Append-only; never fails the bench.
    try {
      val entry = s"""{"ts":${System.currentTimeMillis()},"sf":${jsonStr(sfDir)},""" +
        s""""cpus":${cpus.toInt},""" +
        s""""n":${results.size},"n_failed":${failed.size},"total":${f"$total%.3f"},""" +
        s""""drift":${f"$canaryDrift%.3f"},"accepted":${accepted || regimeAdopted}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(histPath),
        entry + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] history append failed: $e") }
    results.filter(_._3.nonEmpty).foreach { case (k, ts, e) =>
      val kind = if (ts.isEmpty) "FAILED" else "FLAKY"
      System.err.println(s"[bench] $kind $k: ${e.map(_.toString).getOrElse("?")}")
    }
    if (canaryDrift > 3.0)
      System.err.println(
        f"[bench] WARN canary drift $canaryDrift%.1fx (${canaryTimes.mkString(", ")}) — " +
          "machine contention during this run; treat per-query figures as suspect")
    spark.stop()
    // Compact summary as the TRUE last stdout write of the process —
    // printed AFTER spark.stop() so no Spark shutdown chatter can follow
    // it, and mirrored to stderr for tail-parsers reading the merged
    // stream. The full record is ~6 KB, which overflows a bounded tail
    // window (the driver's bench record carried "parsed": null for nine
    // straight rounds because of it). This line keeps the same schema
    // (metric/value/unit/queries/sf) but truncates `queries` to the
    // slowest 10, so any last-line JSON parser gets a complete object
    // well under 2,000 chars; the full per-query map lives in
    // bench_out.json (and earlier on stdout). Requires the build-level
    // fix too: run/outputStrategy=StdoutOutput (no "[info] " prefix) and
    // showSuccess=false (no trailing "[success] Total time" line) in
    // build.sbt.
    val compact = compactLine(
      total,
      results.flatMap { case (k, ts, _) => ts.minOption.map(k -> _) }
        .sortBy(-_._2).take(10),
      sfDir, results.size, failed.size, outPath)
    System.err.println(compact)
    println(compact)
    System.out.flush()
  }
}

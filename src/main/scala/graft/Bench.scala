package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times the headline queries at SPARK_GRAFT_SF_DIR
  * and prints exactly one JSON line for the driver.
  *
  * Harness integrity rules:
  *  - a query that throws is NOT timed as ~0s — it is excluded from the
  *    total and reported under "errors" (a regression must never
  *    masquerade as a speedup);
  *  - the cache is cleared after every timed run (see [[timedRun]]), so
  *    best-of-2 measures steady-state compute, not a cache hit of the
  *    first run (persist() matches by analyzed plan, and several
  *    pipelines persist intermediates internally);
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
  *  - whether the run becomes the comparison record is ONE pure decision
  *    table, [[verdict]]; the scaling section carries it
  *    ("session_accepted") and QUARANTINES its superlinear flags
  *    unconditionally: each flag must reproduce in a fresh Spark
  *    session or it is published under "suspect_contention" with its
  *    fresh ratio, never under "superlinear" (see [[quarantineFlags]]).
  */
object Bench {

  private def jsonStr(s: String): String = Json.str(s)

  /** The canonical bench scale: a clean run HERE may always refresh the
    * comparison record (reclaiming a stale record a smoke run at another
    * SF may have seeded when no record existed yet).
    */
  private[graft] val DefaultSfDir = "/root/testdata/sf0.1"

  /** The canonical bench core count — the width of the main bench run,
    * at which records are comparable.
    */
  private[graft] val DefaultCpus = 32

  /** Default ×F of the scaling section's replica. */
  private[graft] val DefaultScaleFactor = 8

  /** The smallest SF: JVM/codegen warm-up and the contention canary run
    * here, so they price the engine, not the data.
    */
  private[graft] val WarmSfDir = "/root/testdata/sf0.001"

  /** The contention canary: a fixed trivial query at [[WarmSfDir]], run
    * before every [[CanaryEvery]] headliners and once after the last.
    */
  private[graft] val CanaryQuery = "q_token_count"
  private[graft] val CanaryEvery = 5

  /** HEAVY queries (best-of-2 min >= this) pay one extra sample: r9's
    * delta ledger had q_bloom_decontaminate swing 1.87x between two clean
    * runs of identical code — on the multi-second tail a single contended
    * sample dominates a 2-sample min, and those are exactly the queries
    * the round-over-round gate is judged on.
    */
  private[graft] val HeavySec = 0.5

  /** Shared-total band above the comparison record past which the
    * slow-tail settle pass fires (r15): two r14 invocations of identical
    * code measured 46.07 vs 40.79 s (~13%) — session-scoped contention
    * smeared across the tail, below every per-query flag. 1.10 sits
    * above best-of-2 sampling noise on a quiet box (round-over-round
    * totals agree within ~5%) and below the observed contention spread.
    */
  private[graft] val SettleBand = 1.10
  private[graft] val SettleTopN = 10

  /** Sampling policy stamp carried in every record, so a comparator can
    * tell whether two records were measured under the same policy (the
    * r10 best-of-2 → best-of-3 change biased one round of deltas toward
    * "improvement" invisibly).
    */
  private[graft] val SamplingPolicy =
    s"best-of-2; +1 sample when min >= $HeavySec s; +1 settle sample for the " +
      s"top-$SettleTopN record-inflated queries when the shared-query total > ${SettleBand}x the record"

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
    * record. Stricter than the [[ContaminatedDrift]] verdict: r10's run
    * had drift 1.81× and a broad 1.14× slowdown on untouched queries —
    * not contaminated enough to flag, but adopting it as `bench_prev`
    * made the next round's deltas compare against an inflated base. A
    * record is a BASELINE; it must be measured on a quiet box.
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

  /** Canary drift above which the record is "contaminated": some window
    * of the run competed for the machine and its figures are suspect. A
    * contaminated session never counts toward a regime either — an
    * actively-competing box is not a regime.
    */
  private[graft] val ContaminatedDrift = 3.0

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

  /** Cool-down before the escalation pass (seconds). */
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

  // ---- settings ---------------------------------------------------------
  /** Every setting Bench reads, read ONCE before the warm-up. */
  private[graft] case class Settings(sfDir: String, cpus: Int,
                                     scaleFactor: Int, outPath: String,
                                     prevPath: String, histPath: String,
                                     acceptedPath: String)

  /** A malformed width or factor fails here, naming the variable, before
    * any query runs: past the timed loop the same typo would throw away
    * every figure of the run before a record is written.
    */
  private[graft] def settings(env: Map[String, String]): Settings = {
    def int(k: String, default: Int): Int = env.get(k).fold(default)(v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$k must be an integer, got '$v'")))
    Settings(
      sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir),
      cpus = int("SPARK_GRAFT_CPUS", DefaultCpus),
      scaleFactor = int("SPARK_GRAFT_SCALE_FACTOR", DefaultScaleFactor),
      outPath = env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"),
      prevPath = env.getOrElse("SPARK_GRAFT_BENCH_PREV", "bench_prev.json"),
      histPath = env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl"),
      acceptedPath = env.getOrElse("SPARK_GRAFT_BENCH_ACCEPTED", "bench_accepted.json"))
  }

  // ---- ledger reader ------------------------------------------------------
  /** The fields the policy reads back from a bench-shaped ledger
    * (bench_prev.json, bench_accepted.json, SMOKE_TIMING.json): top-level
    * `sf` ("" when absent), `cpus` (None on pre-r19 records), `value`,
    * the numeric entries of `queries` (a failed query's null is no
    * figure) and the median of `canary.times`. Any JSON layout reads the
    * same (the r4 lesson: a pretty-printed ledger must not silently reset
    * the comparison).
    */
  private[graft] case class Record(sf: String, cpus: Option[Int],
                                   value: Option[Double],
                                   queries: Map[String, Double],
                                   canaryMedian: Option[Double])

  /** One line of the session history ledger. */
  private[graft] case class Session(total: Double, drift: Double,
                                    accepted: Boolean, n: Int, nFailed: Int,
                                    cpus: Int)

  private val mapper = new ObjectMapper()

  /** A JSON object, or None for anything malformed, empty or not an
    * object — an unreadable ledger is no ledger, never a crash.
    */
  private def parseObject(txt: String): Option[JsonNode] =
    try Option(mapper.readTree(txt)).filter(_.isObject)
    catch { case NonFatal(_) => None }

  private def field(o: JsonNode, k: String): Option[JsonNode] =
    Option(o.get(k)).filterNot(_.isNull)
  private def num(o: JsonNode, k: String): Option[Double] =
    field(o, k).filter(_.isNumber).map(_.asDouble)
  private def text(o: JsonNode, k: String): Option[String] =
    field(o, k).filter(_.isTextual).map(_.asText)

  private[graft] def readRecord(txt: String): Option[Record] =
    parseObject(txt).map { o =>
      val queries = field(o, "queries").toSeq.flatMap(_.properties.asScala)
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }
      val canary = field(o, "canary").flatMap(field(_, "times")).toSeq
        .flatMap(_.asScala).filter(_.isNumber).map(_.asDouble)
      Record(text(o, "sf").getOrElse(""),
        field(o, "cpus").filter(_.isIntegralNumber).map(_.asInt),
        num(o, "value"), queries.toMap, medianOf(canary))
    }

  /** The per-query figures of a ledger recorded at `sfDir`; empty for a
    * ledger at another sf (the comparison resets deliberately) or an
    * unreadable one.
    */
  private[graft] def queriesAt(txt: String, sfDir: String): Map[String, Double] =
    readRecord(txt).filter(_.sf == sfDir).fold(Map.empty[String, Double])(_.queries)

  /** The history ledger's sessions at `sfDir`, oldest first. A malformed
    * line is no session. Pre-r18 lines predate the error marker and were
    * full clean runs — a missing n_failed reads as 0. Pre-r19 lines
    * predate the cpus marker and the r18 ledger mixes 8- and 32-core
    * sessions indistinguishably — a missing cpus reads as -1, which never
    * matches a real width (unmarked sessions cannot vouch for a regime).
    */
  private[graft] def readHistory(lines: Seq[String], sfDir: String): Seq[Session] =
    lines.flatMap(parseObject).filter(text(_, "sf").contains(sfDir)).flatMap { o =>
      for {
        t <- num(o, "total"); d <- num(o, "drift"); n <- num(o, "n")
        a <- field(o, "accepted").filter(_.isBoolean)
      } yield Session(t, d, a.asBoolean, n.toInt,
        num(o, "n_failed").fold(0)(_.toInt), num(o, "cpus").fold(-1)(_.toInt))
    }

  private def readFile(path: String): Option[String] =
    try Some(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    catch { case NonFatal(_) => None }

  // ---- the record decision table ------------------------------------------
  /** What the decision table reads. `prevSfMatches`/`prevCpusMatches`:
    * Some(true/false) = the stored record was/wasn't measured at this
    * run's sf dir / core count; None = no readable record / no cpus
    * stamp (pre-r19). `history`: prior sessions at this sf, oldest first.
    */
  private[graft] case class Facts(anyError: Boolean, drift: Double,
                                  sfDir: String, cpus: Int,
                                  prevSfMatches: Option[Boolean],
                                  prevCpusMatches: Option[Boolean],
                                  total: Double, n: Int,
                                  history: Seq[Session])

  private[graft] sealed trait Outcome
  private[graft] case object Accept extends Outcome
  private[graft] case object RegimeShift extends Outcome
  private[graft] case class Refuse(reason: String) extends Outcome

  private[graft] case class Verdict(outcome: Outcome, contaminated: Boolean) {
    /** Whether this run becomes the comparison record (`bench_prev`). */
    def adopted: Boolean = outcome == Accept || outcome == RegimeShift
  }

  /** Whether this run's figures may replace the comparison record — the
    * whole record policy, one row per rule, first match wins:
    *
    *  1. ANY error refuses (a flaky query's surviving sample is
    *     unrepresentative, and an errored total omits the failed
    *     queries' samples).
    *  2. The sf rule: a run at a different sf than the stored record
    *     leaves it alone, except at the canonical sf (which may reclaim a
    *     stale record a smoke run seeded when none existed). It gates the
    *     regime path too — r17 shipped it only on the accept gate, and
    *     after [[RegimeMinSessions]] agreeing smoke sessions the regime
    *     path would have clobbered the canonical record.
    *  3. The cpus rule, same shape (r18 verdict "what's wrong" #2: an
    *     8-core scaling run self-accepted as the record): only
    *     the canonical width may reclaim a different-width record; an
    *     unstamped (pre-r19) record permits, and the canonical run that
    *     follows stamps it.
    *  4. Canary drift within [[RecordAcceptDrift]] accepts.
    *  5. Otherwise a regime shift: the run is not contaminated, and it
    *     plus the trailing streak of refused sessions agree within
    *     [[RegimeAgreeBand]] over [[RegimeMinSessions]] totals. The
    *     streak counts back from the latest session and BREAKS on any
    *     accepted session (the record was fresh then), a contaminated
    *     one, a different query-surface size, an errored one, or a
    *     different core count — none of those totals are comparable.
    *  6. Anything else refuses on drift.
    */
  private[graft] def verdict(f: Facts): Verdict = {
    val contaminated = f.drift > ContaminatedDrift
    lazy val regime = {
      val streak = f.history.reverse
        .takeWhile(s => !s.accepted && s.drift <= ContaminatedDrift &&
          s.n == f.n && s.nFailed == 0 && s.cpus == f.cpus)
        .take(RegimeMinSessions - 1)
      val totals = f.total +: streak.map(_.total)
      totals.size >= RegimeMinSessions &&
        totals.max <= totals.min * (1.0 + RegimeAgreeBand)
    }
    val outcome =
      if (f.anyError) Refuse("a query errored")
      else if (f.prevSfMatches.contains(false) && f.sfDir != DefaultSfDir)
        Refuse("the record was measured at another sf")
      else if (f.prevCpusMatches.contains(false) && f.cpus != DefaultCpus)
        Refuse("the record was measured at another core count")
      else if (f.drift <= RecordAcceptDrift) Accept
      else if (!contaminated && f.total > 0.0 && regime) RegimeShift
      else Refuse(f"canary drift ${f.drift}%.2fx > $RecordAcceptDrift%.2fx — a " +
        "contended run must not become the baseline next round's deltas " +
        "flatter themselves against")
    Verdict(outcome, contaminated)
  }

  // ---- the pass ladder ------------------------------------------------------
  /** One query's samples and its last error. */
  private[graft] case class Run(name: String, times: Seq[Double],
                                err: Option[Throwable])

  /** One full timed pass over the headliners, with its canary samples
    * and the canary's last error. A failed canary sample is an error
    * like a failed query's: the samples that survive cannot vouch for
    * the pass, and with none at all drift reads a quiet 1.0.
    */
  private[graft] case class Pass(runs: Seq[Run], canary: Seq[Double],
                                 canaryErr: Option[Throwable] = None) {
    val (drift, driftRaw) = driftOf(canary)
    def errorFree: Boolean = runs.forall(_.err.isEmpty) && canaryErr.isEmpty
    def total: Double = runs.flatMap(_.times.minOption).sum
  }

  /** A further pass, run when the best pass so far is error-free and its
    * drift is above `above`, after `coolSec` of cool-down.
    */
  private[graft] case class Rung(above: Double, coolSec: Int)

  /** The immediate retry fires on the RETRY band, not the accept gate: a
    * 1.4-drift run would be ACCEPTED yet still carries ~1.1× inflated
    * figures (r11). The cool-down escalation fires when the run STILL
    * ends above the accept gate — whatever it would publish is a sample
    * the harness itself refuses as the record. r15 ended exactly there:
    * drift 1.53, record refused, and the contended 53.65 s total became
    * the committed round artifact while the record said 39.79. The
    * immediate retry ran back-to-back into the same contention window;
    * the escalation sleeps [[CooldownSec]] first (transient load — a
    * build, a backup — usually clears in that window).
    */
  private[graft] val Ladder =
    Seq(Rung(RetryDrift, 0), Rung(RecordAcceptDrift, CooldownSec))

  /** Climbs [[Ladder]] from `first`: each rung that fires runs `measure`,
    * and the new pass wins wholesale — figures and canary together,
    * never mixed — only when it is error-free AND of strictly lower drift:
    * a quieter-but-errored pass must never displace a clean one (the
    * error would then refuse the record outright, discarding the clean
    * figures). Returns the winning pass and the rungs that ran. Pure
    * given `measure`.
    */
  private[graft] def climb(first: Pass)(measure: Rung => Pass): (Pass, Seq[Rung]) =
    Ladder.foldLeft((first, Seq.empty[Rung])) { case ((best, ran), rung) =>
      if (!best.errorFree || best.drift <= rung.above) (best, ran)
      else {
        val p = measure(rung)
        (if (p.errorFree && p.drift < best.drift) p else best, ran :+ rung)
      }
    }

  /** Times one run of query `name` at `dir`, then releases every cache
    * (see [[Sessions.clearAll]]) so the next run cannot hit this one's
    * persisted intermediates. Any throwable is returned, never timed.
    */
  private[graft] def timedRun(spark: SparkSession, name: String,
                              dir: String): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    val r =
      try { SparkEntry.queries(name)(spark, dir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) }
    Sessions.clearAll(spark)
    r
  }

  // ---- scaling section --------------------------------------------------------
  /** The heaviest headliners the scaling section re-times at ×F. */
  private[graft] val ScaleTopN = 20

  /** A ×F ratio above this many times F is a superlinear flag. */
  private[graft] val SuperlinearSlack = 1.3
  private[graft] def superlinearAt(factor: Int): Double = SuperlinearSlack * factor

  /** Past this, a ×F warm-up's own figure is recorded instead of paying
    * a second full run — a genuinely slow query must not stall the bench.
    */
  private[graft] val WarmBudgetSec = 60.0

  /** A would-be flag sample up to this long pays one reproduction. */
  private[graft] val ReproCapSec = 180.0

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

  // ---- emitters -----------------------------------------------------------------
  private def jsonArr(xs: Seq[String]): String = xs.map(jsonStr).mkString("[", ",", "]")

  private def optNum(x: Option[Double], fmt: String): String =
    x.fold("null")(fmt.format(_))

  /** The scaling section: per-query (t1, tF) pairs, the session verdict,
    * the quarantine split, and — only when non-empty — the fresh
    * reproductions and the in-band declared switches.
    */
  private[graft] def scalingJson(factor: Int,
      entries: Seq[(String, Double, Option[Double])], sessionAccepted: Boolean,
      upheld: Seq[String], suspect: Seq[String],
      fresh: Map[String, Option[Double]],
      declared: Seq[(String, Double, Double)]): String = {
    val qjson = entries.map { case (n, t1, tF) =>
      jsonStr(n) + ":" + (tF match {
        case Some(t) => f"""{"t1":$t1%.4f,"tf":$t%.4f,"ratio":${t / t1}%.3f}"""
        case None => f"""{"t1":$t1%.4f,"tf":null,"ratio":null}"""
      })
    }.mkString("{", ",", "}")
    val freshJson =
      if (fresh.isEmpty) ""
      else fresh.toSeq.sortBy(_._1).map { case (n, r) =>
        jsonStr(n) + ":" + (r match {
          case Some(x) =>
            f"""{"ratio":$x%.3f,"reproduced_fresh":${x > superlinearAt(factor)}}"""
          case None => """{"ratio":null,"reproduced_fresh":false}"""
        })
      }.mkString(""","fresh_repro":{""", ",", "}")
    val declaredJson =
      if (declared.isEmpty) ""
      else declared.sortBy(_._1).map { case (n, r, allowed) =>
        jsonStr(n) + ":" +
          f"""{"ratio":$r%.3f,"allowed":$allowed%.3f,""" +
          s""""note":${jsonStr(DeclaredSwitches(n).note)}}"""
      }.mkString(""","declared_switch":{""", ",", "}")
    s"""{"factor":$factor,"queries":$qjson,""" +
      s""""session_accepted":$sessionAccepted,""" +
      s""""superlinear":${jsonArr(upheld)},""" +
      s""""suspect_contention":${jsonArr(suspect)}""" +
      freshJson + declaredJson + "}"
  }

  /** The full record line (bench_out.json, the ledgers), pure: every
    * figure comes in as an argument. `prevQueries` is the comparison
    * record's per-query map (empty unless comparable), `sibling` the
    * accepted-sibling pointer JSON (or "null").
    */
  private[graft] def recordLine(s: Settings, pass: Pass,
      cooldownRetried: Boolean, v: Verdict, prevQueries: Map[String, Double],
      prevCanaryMedian: Option[Double], settled: Seq[String],
      capDrops: Map[String, ops.CapReport], sibling: String,
      scaling: Option[String]): String = {
    val runs = pass.runs
    val total = pass.total
    val qs = runs.map { r =>
      jsonStr(r.name) + ":" + r.times.minOption.fold("null")(_.toString)
    }.mkString("{", ",", "}")
    // report ANY error, including flaky one-of-two failures that still
    // produced a timing — a nondeterministic regression must not
    // masquerade as healthy
    val errs = (runs.collect { case Run(k, _, Some(e)) => (k, e) } ++
      pass.canaryErr.map(e => (s"canary:$CanaryQuery", e))).map { case (k, e) =>
      jsonStr(k) + ":" + jsonStr(e.toString.take(300))
    }.mkString("{", ",", "}")
    // per-query cur/prev ratio against the comparison record
    val deltas = runs.flatMap { r =>
      for (cur <- r.times.minOption; p <- prevQueries.get(r.name))
        yield jsonStr(r.name) + ":" + (cur / p)
    }.mkString("{", ",", "}")
    // super-bucket cap observability: the LAST timed run per pipeline —
    // non-zero drops at bench scale mean the geometry no longer fits
    val caps = capDrops.toSeq.sortBy(_._1).map { case (p, r) =>
      jsonStr(p) + s""":{"dropped_buckets":${r.droppedBuckets},"dropped_rows":${r.droppedRows}}"""
    }.mkString("{", ",", "}")
    // canary drift (driftOf): a clean box sits near 1.0; the
    // CONTAMINATION verdict uses the outlier-tolerant ratio (2nd slowest
    // / 2nd fastest): one transient hiccup in ~17 samples must not taint
    // a quarter-hour run, while SUSTAINED competition still shows as >=2
    // slow samples. The raw max/min ratio stays alongside.
    val canaryJson =
      s"""{"query":${jsonStr(CanaryQuery)},"n":${pass.canary.size},""" +
        s""""times":${pass.canary.map(t => f"$t%.4f").mkString("[", ",", "]")},""" +
        s""""drift":${pass.drift},"drift_raw":${pass.driftRaw},""" +
        s""""cooldown_retried":$cooldownRetried,""" +
        s""""contaminated":${v.contaminated}}"""
    // machine regime probe: this run's canary median, the record's, and
    // the normalized total — the round-over-round series that stays
    // comparable under a uniform machine-speed shift
    val curMedian = medianOf(pass.canary)
    val machineScale = for (c <- curMedian; p <- prevCanaryMedian if p > 0.0) yield c / p
    val machineJson =
      s"""{"canary_median":${optNum(curMedian, "%.4f")},""" +
        s""""prev_canary_median":${optNum(prevCanaryMedian, "%.4f")},""" +
        s""""scale":${optNum(machineScale, "%.3f")},""" +
        s""""total_normalized":${optNum(machineScale.map(total / _), "%.2f")}}"""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":${jsonStr(s.sfDir)},"cpus":${s.cpus},""" +
      s""""n_failed":${runs.count(_.times.isEmpty)},"errors":$errs,""" +
      s""""delta_vs_prev":$deltas,"cap_drops":$caps,"canary":$canaryJson,""" +
      s""""sampling":${jsonStr(SamplingPolicy)},""" +
      s""""settled":${jsonArr(settled)},""" +
      s""""accepted_as_record":${v.outcome == Accept},""" +
      s""""regime_shift":${v.outcome == RegimeShift},"machine":$machineJson,""" +
      s""""accepted_sibling":$sibling,""" +
      s""""scaling":${scaling.getOrElse("null")}}"""
  }

  /** The session history line (feeds the regime rule next round);
    * `accepted` includes regime adoption so an adoption resets the
    * streak (future sessions compare to the fresh record).
    */
  private[graft] def historyLine(ts: Long, s: Settings, pass: Pass,
                                 v: Verdict): String =
    s"""{"ts":$ts,"sf":${jsonStr(s.sfDir)},"cpus":${s.cpus},""" +
      s""""n":${pass.runs.size},"n_failed":${pass.runs.count(_.times.isEmpty)},""" +
      s""""total":${f"${pass.total}%.3f"},"drift":${f"${pass.drift}%.3f"},""" +
      s""""accepted":${v.adopted}}"""

  /** Queries the compact line keeps, slowest first. */
  private[graft] val CompactTopN = 10

  /** The compact last-line summary the driver's tail parser reads: same
    * schema head as the full record (metric/value/unit/queries/sf) with
    * `queries` truncated to the slowest [[CompactTopN]] so the object
    * stays well under a bounded tail window. Kept as a pure function so
    * a spec can pin that it parses as JSON with the expected keys — the
    * emitter half of the guard; the build-flag half
    * (StdoutOutput/showSuccess) is pinned by the same spec against
    * build.sbt.
    */
  private[graft] def compactLine(total: Double, slowest: Seq[(String, Double)],
                                 sfDir: String, n: Int, nFailed: Int,
                                 outPath: String): String = {
    val qs = slowest.map { case (k, t) => jsonStr(k) + ":" + f"$t%.3f" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":${jsonStr(sfDir)},"n":$n,"n_failed":$nFailed,""" +
      s""""queries_truncated_to_slowest":$CompactTopN,"full_record":${jsonStr(outPath)}}"""
  }

  private def write(path: String, line: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")

  def main(args: Array[String]): Unit = {
    // the record line is machine-parsed: f"" interpolators format via
    // the DEFAULT locale, and a comma-decimal locale (de_DE etc.) would
    // emit unparseable JSON — pin ROOT for the whole run
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val s = settings(sys.env)
    // var: the scaling section's flag-reproduction path restarts the
    // session to get a fresh context (see quarantineFlags)
    var spark = Sessions.local(s.cpus, "graft-bench")

    val names =
      if (SparkEntry.benchQueries.nonEmpty) SparkEntry.benchQueries
      else SparkEntry.queries.keys.toSeq.sorted
    // JVM/codegen warm-up on the smallest SF so we time the query, not
    // the first-call compilation; a query that fails here fails loudly in
    // the timed loop below, so the warm-up itself may stay quiet. Caches
    // stay up across the warm-up queries (releasing them after each one
    // makes the warm-up markedly slower); the canary prime that opens
    // every timed pass releases them (see measureOnce).
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, WarmSfDir).count()
      catch { case _: Throwable => 0L }
    }

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

    // ONE full timed pass over the headliners, canary interleaved.
    // best-of-2 at the target SF: the first run can still absorb SF-
    // specific JIT/codegen; the min is the steady-state figure and is
    // stable round over round. HEAVY queries pay one extra sample.
    def measureOnce(): Pass = {
      val canary = scala.collection.mutable.ArrayBuffer[Either[Throwable, Double]]()
      def runCanary(): Unit = canary += timedRun(spark, CanaryQuery, WarmSfDir)
      // Prime the canary once untimed: its first post-clearCache call
      // pays re-read + re-JIT (~2-3x steady state), which would inflate
      // max/min drift toward the contamination threshold on a healthy box.
      // Its cache release also clears whatever the warm-up left.
      timedRun(spark, CanaryQuery, WarmSfDir)
      val runs = names.zipWithIndex.map { case (name, i) =>
        if (i % CanaryEvery == 0) runCanary()
        val two = Seq.fill(2)(timedRun(spark, name, s.sfDir))
        val attempts =
          if (two.forall(_.exists(_ >= HeavySec))) two :+ timedRun(spark, name, s.sfDir)
          else two
        Run(name, attempts.collect { case Right(t) => t },
          attempts.collect { case Left(e) => e }.lastOption)
      }
      runCanary()
      Pass(runs, canary.collect { case Right(t) => t }.toSeq,
        canary.collect { case Left(e) => e }.lastOption)
    }

    val (climbed, rungsRun) = climb(measureOnce()) { rung =>
      System.err.println(f"[bench] WARN canary drift > ${rung.above}%.2fx — " +
        (if (rung.coolSec == 0) "retrying the timed loop once"
         else s"cooling down ${rung.coolSec}s, then one escalation pass"))
      Thread.sleep(rung.coolSec * 1000L)
      measureOnce()
    }

    // ---- the comparison record: per-query deltas and the settle pass
    // only against a record at the SAME sf dir (a 0.01-vs-0.1 "delta"
    // would be noise presented as signal) and not at a different stamped
    // width (the sf rule's twin, r18 verdict "what's wrong" #2)
    val prevTxt = readFile(s.prevPath)
    val prev = prevTxt.flatMap(readRecord)
    // a record file that exists but does not parse counts as another sf's:
    // only the canonical sf may replace it
    val prevSfMatches = prevTxt.map(_ => prev.exists(_.sf == s.sfDir))
    val prevCpusMatches = prev.flatMap(_.cpus).map(_ == s.cpus)
    val prevQueries = prev.filter(p => p.sf == s.sfDir && !p.cpus.exists(_ != s.cpus))
      .fold(Map.empty[String, Double])(_.queries)

    // ---- slow-tail settle pass (policy in settleTargets): when this
    // session reads materially slower than the comparison record, the
    // most-inflated queries pay one extra sample each so the PUBLISHED
    // total converges to steady state instead of carrying ~10% of
    // session noise into the round ledger. ~n extra samples on a noisy
    // session; a quiet one never pays.
    val targets =
      if (!climbed.errorFree) Seq.empty
      else settleTargets(climbed.runs.collect {
        case Run(k, ts, _) if ts.nonEmpty => k -> ts.min }, prevQueries)
    if (targets.nonEmpty)
      System.err.println(
        s"[bench] WARN shared-query total > ${SettleBand}x the record — " +
          s"settle pass (+1 sample) over ${targets.mkString(", ")}")
    // the published "settled" list names only queries whose extra
    // sample actually RAN — a swallowed failure must not read as a
    // taken sample in the round record
    val settledRuns = climbed.runs.map {
      case r if targets.contains(r.name) =>
        timedRun(spark, r.name, s.sfDir) match {
          case Right(t) => (r.copy(times = r.times :+ t), true)
          case Left(e) =>
            System.err.println(s"[bench] settle sample ${r.name} failed: $e")
            (r, false)
        }
      case r => (r, false)
    }
    val pass = climbed.copy(runs = settledRuns.map(_._1))
    val settled = settledRuns.collect { case (r, true) => r.name }

    val history =
      try readHistory(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s.histPath)).asScala.toSeq, s.sfDir)
      catch { case NonFatal(_) => Seq.empty }
    val v = verdict(Facts(!pass.errorFree, pass.drift, s.sfDir, s.cpus,
      prevSfMatches, prevCpusMatches, pass.total, pass.runs.size, history))
    val accepted = v.outcome == Accept

    // ---- scale-proof: re-time the heaviest headliners at ×F ----------
    // Every figure above is one point at one SF; the 100 TB question is
    // the EXPONENT. ScaleUp materializes a deterministic ×F replica of
    // the bench dir (key-domain salting keeps join selectivity and LSH
    // collision structure per-row identical — see ScaleUp's scaladoc),
    // and each of the top-N heaviest queries is re-timed at both sizes:
    // ratio ≈ F is linear, ratio ≫ F is a superlinear red flag, named in
    // "superlinear" so a regression is machine-visible in the record —
    // after surviving the quarantine policy (see quarantineFlags).
    def timeOrLog(what: String, name: String, dir: String): Option[Double] =
      timedRun(spark, name, dir) match {
        case Right(t) => Some(t)
        case Left(e) => System.err.println(s"[bench] $what $name at $dir: $e"); None
      }
    val scaling: Option[String] =
      if (s.scaleFactor < 2) None
      else try {
        val scaledDir = graft.tools.ScaleUp.ensure(spark, s.sfDir, s.scaleFactor)
        val flagAt = superlinearAt(s.scaleFactor)
        val heaviest = pass.runs.collect { case Run(k, ts, _) if ts.nonEmpty => (k, ts.min) }
          .sortBy(-_._2).take(ScaleTopN)
        val entries = heaviest.map { case (name, t1main) =>
          def time(dir: String): Option[Double] = timeOrLog("scaling", name, dir)
          // one fresh 1× sample folded with the main run's best-of-2, so
          // both sides of the ratio share session state; the ×F side pays
          // one warm-up first — a query's first run at the scaled dir can
          // absorb one-time fixture setup (bucketed-table writes, blob
          // fixtures) that the 1× side already amortized, which would
          // record a linear query as superlinear. The warm-up is TIMED as
          // a budget guard: past WarmBudgetSec its own figure is recorded
          // (setup cost included, accepted) instead of paying a second
          // full run. A throwing warm-up is REPORTED (stderr), never
          // silently swallowed, and the timed sample still runs.
          val t1 = (time(s.sfDir).toSeq :+ t1main).min
          val tF = time(scaledDir) match {
            case Some(w) if w > WarmBudgetSec =>
              // the budget path must still honor reproduce-before-flag:
              // a warm figure that WOULD read as superlinear can be pure
              // one-time fixture setup, so it pays exactly one timed
              // reproduction (min of the two); a non-flagging figure is
              // recorded as-is without a second multi-minute run
              if (w / t1 > flagAt) Some(math.min(w, time(scaledDir).getOrElse(w)))
              else Some(w)
            case _ =>
              time(scaledDir) match {
                case Some(t) if t / t1 > flagAt && t <= ReproCapSec =>
                  // a would-be superlinear flag must REPRODUCE: hours of
                  // prior session work (GC pressure late in the bench)
                  // can inflate one sample 3-4x over a fresh-session run
                  // of the same query — keep the min of two timed runs,
                  // so a flagged exponent is a property of the QUERY, not
                  // of the session's heap history. ReproCapSec is the
                  // retry budget guard, sized so a 3-4x noise spike on
                  // any real headliner still retries; only a sample
                  // that would cost minutes to reproduce flags directly
                  Some(math.min(t, time(scaledDir).getOrElse(t)))
                case other => other
              }
          }
          (name, t1, tF)
        }
        val flaggedAll = entries.collect {
          case (n, t1, Some(tF)) if tF / t1 > flagAt => (n, tF / t1) }
        // declared algorithm switches (see DeclaredSwitches): in-band
        // ratios publish as annotation, not flag, and skip quarantine
        val (flagged, declaredOk) = splitDeclaredSwitches(flaggedAll, s.scaleFactor)
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
                  f"(canary drift ${pass.drift}%.2fx; session accepted=$accepted)")
              spark.stop()
              spark = Sessions.local(s.cpus, "graft-bench-fresh")
              freshStarted = true
            }
            def best2(dir: String): Option[Double] =
              Seq.fill(2)(timeOrLog("fresh repro", name, dir)).flatten.minOption
            for (f1 <- best2(s.sfDir); fF <- best2(scaledDir)) yield fF / f1
          } catch { case e: Throwable =>
            System.err.println(s"[bench] fresh repro $name failed: $e"); None }
        val (upheld, suspect, freshRatios) = quarantineFlags(flagged, flagAt, reproduceFresh)
        Some(scalingJson(s.scaleFactor, entries, accepted, upheld, suspect,
          freshRatios, declaredOk))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] scaling section failed: $e"); None
      }

    // accepted-sibling pointer (r17 "what's wrong" #2): when a session
    // is ACCEPTED (or regime-adopted) its full record is also written
    // aside to bench_accepted.json; a later refused run's artifact then
    // carries a machine-readable pointer to the accepted sibling, so a
    // committed round artifact that happens to be a refused sample still
    // names the accepted figures from the same box instead of reading as
    // the round's only truth.
    val sibling: String =
      if (v.adopted) "null" // this run IS the accepted one
      else (for {
        rec <- readFile(s.acceptedPath).flatMap(readRecord)
        total <- rec.value
        mtime <- scala.util.Try(java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(s.acceptedPath)).toMillis).toOption
      } yield s"""{"path":${jsonStr(s.acceptedPath)},"total":${f"$total%.3f"},""" +
        s""""sf":${jsonStr(rec.sf)},"mtime_ms":$mtime}""").getOrElse("null")

    val line = recordLine(s, pass, rungsRun.exists(_.coolSec > 0), v, prevQueries,
      prev.flatMap(_.canaryMedian), settled, graft.ops.CapMetrics.snapshot,
      sibling, scaling)

    // grep-stable tagged copy FIRST (r7 driver records had "parsed": null
    // — a tail-parser can anchor on the BENCH_JSON prefix), then the bare
    // JSON; the compact line below is the final stdout line.
    println("BENCH_JSON " + line)
    println(line)
    write(s.outPath, line)
    // an adopted run becomes the next round's comparison record, so
    // delta_vs_prev always tracks the latest accepted figures instead of
    // drifting rounds behind, and leaves its full record aside at the
    // accepted-sibling path. A refused run still wrote bench_out.json
    // above (the round's figures stay visible); it just doesn't become
    // the baseline.
    v.outcome match {
      case Accept | RegimeShift =>
        try write(s.acceptedPath, line)
        catch { case e: Throwable =>
          System.err.println(s"[bench] accepted-sibling write failed: $e") }
        if (v.outcome == RegimeShift)
          System.err.println(
            f"[bench] WARN regime shift: this refused run (total ${pass.total}%.2f s, drift " +
              f"${pass.drift}%.2fx) agrees within ${RegimeAgreeBand * 100}%.0f%% with the " +
              s"trailing refused sessions in ${s.histPath} — adopting as the comparison " +
              "record with \"regime_shift\": true (the box's new price, not contention)")
        write(s.prevPath, line)
      case Refuse(reason) =>
        System.err.println(s"[bench] WARN run NOT adopted as comparison record: $reason")
    }
    // session history ledger: one line per full bench run. Append-only;
    // never fails the bench.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(s.histPath),
      historyLine(System.currentTimeMillis(), s, pass, v) + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[bench] history append failed: $e") }
    pass.runs.foreach {
      case Run(k, ts, Some(e)) =>
        System.err.println(s"[bench] ${if (ts.isEmpty) "FAILED" else "FLAKY"} $k: $e")
      case _ =>
    }
    pass.canaryErr.foreach(e =>
      System.err.println(s"[bench] canary $CanaryQuery FAILED at $WarmSfDir: $e"))
    if (v.contaminated)
      System.err.println(
        f"[bench] WARN canary drift ${pass.drift}%.1fx (${pass.canary.mkString(", ")}) — " +
          "machine contention during this run; treat per-query figures as suspect")
    spark.stop()
    // Compact summary as the TRUE last stdout write of the process —
    // printed AFTER spark.stop() so no Spark shutdown chatter can follow
    // it, and mirrored to stderr for tail-parsers reading the merged
    // stream. The full record is ~6 KB, which overflows a bounded tail
    // window (the driver's bench record carried "parsed": null for nine
    // straight rounds because of it). This line keeps the same schema
    // (metric/value/unit/queries/sf) but truncates `queries` to the
    // slowest CompactTopN, so any last-line JSON parser gets a complete
    // object well under 2,000 chars; the full per-query map lives in
    // bench_out.json (and earlier on stdout). Requires the build-level
    // fix too: run/outputStrategy=StdoutOutput (no "[info] " prefix) and
    // showSuccess=false (no trailing "[success] Total time" line) in
    // build.sbt.
    val compact = compactLine(
      pass.total,
      pass.runs.flatMap(r => r.times.minOption.map(r.name -> _))
        .sortBy(-_._2).take(CompactTopN),
      s.sfDir, pass.runs.size, pass.runs.count(_.times.isEmpty), s.outPath)
    System.err.println(compact)
    println(compact)
    System.out.flush()
  }
}

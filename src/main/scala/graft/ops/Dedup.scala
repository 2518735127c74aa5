package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * The reference dedups only metadata rows by unique key
  * (app/models/hyperfile.py:43, app/jobs/scheduler.py:38-40); a
  * training-data pipeline needs content dedup at corpus scale. Design:
  *
  *  - Exact: hash-groupBy on a content fingerprint — one shuffle keyed by
  *    a 128-bit digest, no text comparison, no skew (digests are uniform).
  *  - Near-dup: shingle → MinHash signature → LSH band bucketing. The
  *    all-pairs comparison is never materialized: candidate pairs come
  *    only from band-bucket collisions (cost ~ duplicates, not n²), then
  *    are verified with exact Jaccard restricted to the candidate set.
  *  - SimHash: per-token 64-bit hashes vote per bit position; near-dups
  *    are pairs within a Hamming radius. Banding the signature gives the
  *    same collision-driven scale path as MinHash.
  *
  * All hashing is md5-derived and engine-portable, so every stage is
  * reproducible in the DuckDB oracle — no JVM-private hash functions in
  * results. No UDFs: shingling/hashing are codegen'd expressions; the
  * only shuffles are keyed groupBys and the bucket joins.
  */
object Dedup {

  /** Default super-bucket cap for every banded near-dup pipeline. A
    * boilerplate-heavy corpus puts 10^4..10^6 near-identical documents in
    * ONE band bucket; an uncapped self-join there is quadratic on a single
    * task. 4096 keeps the worst bucket's pair blowup at ~8M local
    * comparisons (safe for one task) while being far above any bucket an
    * oracle-scale corpus produces, so capped and uncapped results agree at
    * test scale. Pass `Int.MaxValue` explicitly to disable.
    */
  val DefaultMaxBucket: Int = 4096

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Materialize `result` while `intermediates` are cached, then release
    * them — persisted intermediates never outlive the invocation, so
    * repeated pipeline calls in a long-lived session don't accrete cached
    * blocks. The returned frame stays persisted (it is consumed at least
    * once by the caller's own action); callers running many pipelines
    * should `unpersist()` the result when done with it.
    */
  private[graft] def eagerly(result: DataFrame, intermediates: DataFrame*): DataFrame =
    eagerlyWith(result, () => (), intermediates: _*)

  /** [[eagerly]] plus an `afterAction` hook that runs after the result
    * materialized and BEFORE the intermediates are released — the slot
    * where deferred cap-metrics recorders read their cached counts.
    */
  private[graft] def eagerlyWith(result: DataFrame, afterAction: () => Unit,
                                 intermediates: DataFrame*): DataFrame =
    try {
      result.persist(Disk)
      try {
        result.count()
        afterAction()
      } catch {
        case t: Throwable =>
          // a failed materialization must not leave the result frame
          // registered in the cache manager
          result.unpersist(blocking = false)
          throw t
      }
      result
    } finally intermediates.foreach(_.unpersist(blocking = false))

  /** Runs `side` on a concurrent job while `main` runs inline — two
    * independent actions overlapped — and ALWAYS awaits `side` before
    * returning or rethrowing, so no job started here outlives the call
    * and the caller's `finally` never unpersists an input a running job
    * still reads. If `main` throws, a successful `side` result is handed
    * to `release` before the rethrow (a failed `side` is attached as
    * suppressed).
    */
  private[graft] def overlapped[A, B](side: => A)(release: A => Unit)(main: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val fut = Future(side)(scala.concurrent.ExecutionContext.global)
    val b =
      try main
      catch {
        case t: Throwable =>
          Await.ready(fut, Duration.Inf).value.get match {
            case scala.util.Success(a) =>
              try release(a) catch { case r: Throwable => t.addSuppressed(r) }
            case scala.util.Failure(e) => t.addSuppressed(e)
          }
          throw t
      }
    (Await.result(fut, Duration.Inf), b)
  }

  /** [[eagerlyWith]] for INDEX-PROBING operators: the materialized
    * result lives OUTSIDE the cache manager (`localCheckpoint`, eager),
    * with lineage severed. These operators are called repeatedly in a
    * long-lived session with the SAME logical plan over GROWING storage,
    * and Spark's cached-plan lookup matches file relations by ROOT PATH
    * (`InMemoryFileIndex.equals` compares rootPaths only) — so a
    * persisted result from probe N is served VERBATIM to probe N+1 even
    * after an append added the very document the probe asks about
    * (observed: a probe before a batch commit cached its empty answer
    * and the identical probe after the commit read the stale cache;
    * `refreshByPath` recaching doesn't help because the re-executed
    * cached plan still holds the old corpus-side file index).
    * Checkpointed rows can't be confused with a future invocation's
    * plan, and the caller's terminal action reads the materialized rows
    * with no recompute.
    */
  private[graft] def eagerlyDetachedWith(result: DataFrame,
                                         afterAction: () => Unit,
                                         intermediates: DataFrame*): DataFrame =
    try {
      val out = result.localCheckpoint(true)
      afterAction()
      out
    } finally intermediates.foreach(_.unpersist(blocking = false))

  /** Keep only rows whose `keys` bucket holds <= `maxBucket` rows, and
    * record what was dropped in [[CapMetrics]] — the shared super-bucket
    * guard of every banded near-dup pipeline.
    *
    * The per-bucket count aggregation is computed ONCE: the counts frame
    * (bucket-key-sized, far smaller than the keyed stream) is persisted
    * and the `ok` semi-join side reads it from cache. Returns (bounded
    * frame, the persisted per-key counts to release after the terminal
    * action, a DEFERRED metrics recorder). The
    * recorder must run AFTER the caller's terminal action and BEFORE the
    * counts release ([[eagerlyWith]] sequences exactly that): by then the
    * counts are cached, so the dropped-bucket aggregate is a cache scan —
    * recording eagerly here instead would cost one full extra pass over
    * `input` per pipeline call before the real work even starts.
    */
  private[ops] def capByKey(input: DataFrame, keys: Seq[String], maxBucket: Int,
                            pipeline: String): (DataFrame, Option[DataFrame], () => Unit) =
    if (maxBucket == Int.MaxValue) {
      (input, None, () => CapMetrics.record(CapReport(pipeline, maxBucket, 0L, 0L)))
    } else {
      val counts = input.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
        .persist(Disk)
      val ok = counts.filter(col("__bn") <= maxBucket).select(keys.map(col): _*)
      val record = () => {
        val d = counts.filter(col("__bn") > maxBucket)
          .agg(count(lit(1)).as("nb"), coalesce(sum(col("__bn")), lit(0L)).as("nr"))
          .head()
        CapMetrics.record(CapReport(pipeline, maxBucket, d.getLong(0), d.getLong(1)))
      }
      (input.join(ok, keys, "left_semi"), Some(counts), record)
    }

  /** Exact dedup: keep the lowest-`orderCol` row per content fingerprint.
    * Fingerprint is md5 of normalized text (TextAnalysis.fingerprintMd5).
    */
  def exact(docs: DataFrame, textCol: String, orderCol: String): DataFrame =
    graft.catalog.Catalog.dedupFirst(
      docs.withColumn("__fp", TextAnalysis.fingerprintMd5(col(textCol))),
      Seq("__fp"), orderCol).drop("__fp")

  /** Word n-gram shingle stream, WITH multiplicity: (id, shingle) rows.
    * Narrow (no shuffle) — downstream operators that are multiset-
    * invariant (MinHash `min`) consume this directly; set-semantics
    * consumers dedup the (much smaller) subset they actually need.
    * Documents shorter than `n` words yield no shingles (excluded from
    * near-dup detection, as is standard).
    */
  def shinglesRaw(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val w = split(col(textCol), " ")
    // guard: sequence(0, k) with k < 0 is a DESCENDING sequence in Spark,
    // not empty — short docs must yield an empty shingle array instead.
    val sh = when(size(w) >= n,
      transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k + 1)): _*)))
      .otherwise(array())
    // a compact doc table often arrives in few input splits; the shingle
    // explode multiplies rows ~200x, so spread docs across the cluster
    // BEFORE exploding (otherwise the hash-heavy pipeline runs on the few
    // scan tasks regardless of cluster size)
    docs.repartition(col(idCol))
      .select(col(idCol).as("id"), explode(sh).as("shingle"))
  }

  /** Distinct shingle sets per document (the set used by Jaccard). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shinglesRaw(docs, idCol, textCol, n).distinct()

  /** Hex-digit width of one signature component (disjoint md5 chunks). */
  def sigWidth(k: Int): Int = math.max(32 / k, 4)

  /** The chunked-md5 scheme draws k disjoint `sigWidth(k)`-digit chunks
    * from one 32-hex-char digest, so it only supports k with
    * k*sigWidth(k) <= 32 (i.e. k <= 8) — beyond that, chunk offsets run
    * off the digest. Fail fast instead of corrupting signatures.
    */
  def requireChunkableK(k: Int): Unit =
    require(k >= 1 && k * sigWidth(k) <= 32,
      s"chunked-md5 minhash needs k*sigWidth(k) <= 32 (k <= 8); got k=$k")

  /** Capture probability of the banded-minhash S-curve: the chance two
    * documents at Jaccard `j` share at least one of `bands` band keys of
    * `rows` signature components each — `1 − (1 − j^rows)^bands`. The
    * curve every LSH geometry decision reads (X147's band stats, X159's
    * threshold sweep, [[lshGeometryFor]]'s picker).
    */
  def lshCaptureProb(j: Double, rows: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** Every geometry the chunked-md5 scheme can ship: k ∈ 2..8 signature
    * components (k ≤ 8 is [[requireChunkableK]]'s digest bound) split
    * into bands of `rows` each, `rows | k` ([[lshBands]]' divisibility
    * rule). ~19 candidates — small enough to enumerate, which is what
    * makes the picker exact rather than heuristic.
    */
  private[graft] def lshGeometries: Seq[(Int, Int)] =
    for { k <- 2 to 8; rows <- 1 to k if k % rows == 0 } yield (k, rows)

  /** Pick the LSH geometry `(k, bandRows)` for a target verification
    * threshold: the STEEPEST shippable S-curve that still catches a
    * threshold-level pair with probability ≥ `minRecall` — maximize
    * `rows` (selectivity: candidate mass below the threshold falls as
    * j^rows), then minimize `k` (fewer bands = fewer false-positive
    * buckets and a cheaper signature). Deterministic enumeration of
    * [[lshGeometries]], so the choice is DuckDB-replayable —
    * q_lsh_geometry tabulates the full decision surface and pins the
    * chosen row per threshold; an OpsSpec case pins table == picker.
    * Refuses (loudly) when no k ≤ 8 geometry reaches `minRecall` —
    * lowering the bar silently would ship invisible recall loss.
    */
  def lshGeometryFor(threshold: Double, minRecall: Double = 0.9): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(minRecall > 0.0 && minRecall < 1.0,
      s"minRecall must be in (0, 1), got $minRecall")
    val ok = lshGeometries.filter { case (k, rows) =>
      lshCaptureProb(threshold, rows, k / rows) >= minRecall }
    require(ok.nonEmpty,
      s"no k<=8 LSH geometry reaches recall $minRecall at threshold " +
        s"$threshold — lower minRecall or raise the threshold")
    ok.maxBy { case (k, rows) => (rows, -k) }
  }

  /** The full LSH geometry decision surface as a table: capture
    * probability of every shippable geometry ([[lshGeometries]]) at each
    * swept threshold, with [[lshGeometryFor]]'s pick flagged per
    * threshold (`chosen`) — the tuning table a dedup deployment reads
    * before moving the jaccard bar, and the relational replay of the
    * picker itself (rank qualifiers by rows desc, k asc — same rule,
    * same arithmetic, so the DuckDB oracle reproduces the CHOICE, not
    * just the curve). Pure arithmetic on a ~19-row literal frame:
    * codegen'd pow over IEEE doubles, no corpus scan at any scale.
    */
  def lshGeometryTable(spark: org.apache.spark.sql.SparkSession,
                       thresholds: Seq[Double],
                       minRecall: Double = 0.9): DataFrame = {
    import spark.implicits._
    val g = lshGeometries.map { case (k, rows) => (k, rows, k / rows) }
      .toDF("k", "band_rows", "bands")
    val t = thresholds.toDF("threshold")
    val cap = lit(1.0) -
      pow(lit(1.0) - pow(col("threshold"), col("band_rows").cast("double")),
        col("bands").cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("threshold"))
      .orderBy(col("__q").desc, col("band_rows").desc, col("k"))
    g.crossJoin(t)
      .withColumn("__cap", cap)
      .withColumn("__q", col("__cap") >= minRecall)
      .withColumn("__rk", row_number().over(w))
      .select(col("threshold"), col("k"), col("band_rows"), col("bands"),
        round(col("__cap"), 4).as("capture_at_t"),
        (col("__q") && col("__rk") === 1).as("chosen"))
      .orderBy(col("threshold"), col("k"), col("band_rows"))
  }

  /** MinHash signature: k approximately-independent permutations derived
    * from ONE md5 per shingle (Broder's scheme with chunked hashes):
    * component i = min over shingles of hex digits [i*w, (i+1)*w) of
    * md5(shingle), w = 32/k. Lexicographic min over a hex chunk is a
    * uniform permutation of the shingle space, identical across engines,
    * and costs one digest per shingle instead of k. One shuffle (groupBy
    * id) with full map-side partial aggregation (min is commutative) —
    * accepts the raw multiset stream since `min` is duplicate-invariant,
    * so no distinct shuffle is needed upstream.
    */
  def minhashSignature(sh: DataFrame, k: Int = 6): DataFrame = {
    requireChunkableK(k)
    val w = sigWidth(k)
    val h = md5(col("shingle"))
    sh.groupBy(col("id"))
      .agg(
        min(h.substr(1, w)).as("s0"),
        (1 until k).map(i => min(h.substr(i * w + 1, w)).as(s"s$i")): _*)
  }

  /** MinHash signature computed as a NARROW projection — no explode, no
    * shuffle. Same values as [[minhashSignature]] (min over the multiset
    * equals min over the set): the native
    * [[graft.functions.MinHashSignature]] expression carries all k
    * running chunk minima in one fused pass per document, so signature
    * cost is pure map-side compute that scales linearly with corpus size
    * on any number of executors. Documents with fewer than `n` words are
    * excluded (no shingles), as in the exploded formulation.
    */
  def minhashSignatureNarrow(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 6): DataFrame =
    docs.select(col(idCol).as("id"),
      // k validated by the MinHashSignature constructor (requireChunkableK)
        graft.functions.MinHashSignature(col(textCol), n, k).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("id") +:
        (0 until k).map(i => element_at(col("__sig"), i + 1).as(s"s$i")): _*)

  /** LSH banding: rows (band_id, band_key, id) where band_key concatenates
    * `rows` consecutive signature components. Two documents sharing any
    * band key are candidates: P(candidate) = 1-(1-j^rows)^bands, steep
    * around the target Jaccard threshold.
    */
  def lshBands(sig: DataFrame, k: Int = 6, rows: Int = 2): DataFrame = {
    // an indivisible geometry would silently DROP the k % rows trailing
    // signature components — recall degrades with no error and no
    // CapMetrics signal; make the geometry error loud instead
    require(rows >= 1 && k >= rows && k % rows == 0,
      s"band rows ($rows) must divide the signature width ($k >= $rows) — " +
        "an indivisible or empty geometry silently degrades recall")
    // single pass: explode one array of band structs rather than a union
    // of per-band selects (a union re-evaluates the signature subtree once
    // per band)
    val bandStructs = array((0 until k / rows).map { b =>
      struct(
        lit(b).as("band_id"),
        concat_ws("|", (0 until rows).map(r => col(s"s${b * rows + r}")): _*).as("band_key"))
    }: _*)
    sig.select(col("id"), explode(bandStructs).as("band"))
      .select(col("band.band_id").as("band_id"), col("band.band_key").as("band_key"), col("id"))
  }

  /** Candidate pairs (id_a < id_b) from LSH band-bucket collisions. The
    * self-join is per (band_id, band_key) bucket — cost is quadratic only
    * inside a bucket, i.e. proportional to actual collisions.
    *
    * `maxBucket` is the production super-bucket guard (ON by default at
    * [[DefaultMaxBucket]]): a boilerplate-heavy corpus can put 10^5
    * near-identical docs in one bucket, turning that bucket's self-join
    * into 10^10 pairs on a single task. Buckets larger than the cap are
    * dropped (bounded recall loss, and only for documents so duplicated
    * that OTHER bands almost surely still pair them); the extra cost is
    * one map-side-combined count per bucket. The drop is NOT silent:
    * dropped bucket/row counts land in [[CapMetrics]] under
    * `"minhash_lsh"` (WARN-logged when the cap engages), so a corpus that
    * outgrows the band geometry is visible as recall loss, not as an
    * empty result.
    */
  def lshCandidates(bandsDf: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (pairs, counts, recordCap) = lshCandidatesReleasable(bandsDf, maxBucket)
    // standalone surface: no terminal action to hook the release on, so
    // record the cap metrics eagerly (one counts job) and give the
    // cached counts back immediately (the composable caller's lazy plan
    // recomputes the bucket counts — fine at API-use scale; nearDupPairs
    // uses the releasable form and keeps the single shuffle)
    recordCap()
    counts.foreach(_.unpersist(blocking = false))
    pairs
  }

  private def lshCandidatesReleasable(bandsDf: DataFrame, maxBucket: Int)
      : (DataFrame, Option[DataFrame], () => Unit) = {
    val (bounded, counts, recordCap) =
      capByKey(bandsDf, Seq("band_id", "band_key"), maxBucket, "minhash_lsh")
    val a = bounded.select(col("band_id"), col("band_key"), col("id").as("id_a"))
    val b = bounded.select(col("band_id"), col("band_key"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    (pairs, counts, recordCap)
  }

  /** Shared overlap stage of the pair-verification measures: for each
    * candidate pair, the distinct-shingle intersection size and both set
    * sizes. Returns the overlap frame plus the persisted candidate
    * shingle set for the caller to release via [[eagerly]].
    */
  private def overlapForPairs(pairs: DataFrame,
                              sh: DataFrame): (DataFrame, DataFrame) = {
    // only candidate documents' shingles matter — semi-join down from the
    // full corpus BEFORE the distinct and the (id, shingle)-keyed
    // shuffles (candidate count ~ duplicates, so this is the difference
    // between shuffling the corpus and shuffling the dup set); distinct
    // here gives set semantics whether the input is raw or deduped
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    // shc is consumed by three operators (sizes + both sides of inter);
    // persist so the corpus-wide shingle derivation + semi-join runs once —
    // shc itself is O(candidate docs), tiny relative to the corpus
    val shc = sh.join(candIds, Seq("id"), "left_semi").distinct()
      .persist(Disk)
    val sizes = shc.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(shc.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(shc.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    val overlap = inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
    (overlap, shc)
  }

  /** Exact Jaccard over distinct shingles, restricted to `pairs` — the
    * verification stage after LSH candidate generation. Never all-pairs:
    * the shingle join keys on (doc, shingle) of the candidate set only.
    */
  def jaccardForPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val (overlap, shc) = overlapForPairs(pairs, sh)
    val result = overlap.select(col("id_a"), col("id_b"),
      (col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
    eagerly(result, shc)
  }

  /** Shingle containment for candidate pairs: cont_a = |A∩B| / |A| (how
    * much of document a's shingle set appears in b), and symmetrically
    * cont_b. The asymmetric near-dup measure Jaccard misses: a short
    * document quoted whole inside a long one has high containment but
    * low Jaccard — the quote/boilerplate-inclusion detector of a
    * training-data pipeline. Same single-corpus-scan plan as
    * [[jaccardForPairs]].
    */
  def containmentForPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val (overlap, shc) = overlapForPairs(pairs, sh)
    val result = overlap.select(col("id_a"), col("id_b"),
      (col("inter").cast("double") / col("n_a").cast("double")).as("cont_a"),
      (col("inter").cast("double") / col("n_b").cast("double")).as("cont_b"))
    eagerly(result, shc)
  }

  /** Containment for the LSH candidate pairs of a corpus, end to end —
    * the scale path: same candidate generation and single-corpus-scan
    * text fetch as [[nearDupPairs]] ([[lshPairOverlap]]), with both
    * containments computed per pair locally from the precomputed sets
    * (no shingle explode, no shingle-keyed shuffle — the relational
    * [[containmentForPairs]] is the composable cross-check,
    * property-tested equal).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 6, bandRows: Int = 2,
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshPairOverlap(docs, idCol, textCol, k, bandRows, maxBucket)(_
      // a candidate pair can share a band yet no shingle (chunk-min hash
      // collision); the relational form and the oracle emit only
      // overlapping pairs, so filter to |∩| >= 1 for identical output
      .filter(col("inter") >= 1)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("na").cast("double")).as("cont_a"),
        (col("inter").cast("double") / col("nb").cast("double")).as("cont_b")))

  /** MinHash+LSH near-dup pipeline: shingle → signature → bands →
    * candidates → Jaccard-verified pairs at `threshold`.
    *
    * Geometry: the `(k, bandRows)` defaults (6 components in 3 bands of
    * 2) are [[lshGeometryFor]]'s pick at the default threshold 0.8 —
    * when moving the threshold, move the geometry with it
    * (`lshGeometryFor(threshold)`) rather than keeping 3×2: capture is
    * `1−(1−j^bandRows)^bands` and a mismatched curve either floods the
    * bucket join with sub-threshold candidates or silently loses
    * recall. q_lsh_geometry tabulates the full decision surface;
    * X147/X159 price the default's bucket and candidate economics.
    *
    * DRIFT-family regime (measured: GIANTPROOF + the ExtensionsSpec
    * reproduction): on sliding-window/template corpora — doc i ≈ doc
    * i−1 with a few words shifted — band misses between neighbors are
    * CORRELATED, not independent: the md5 min-shingle leaving the
    * window flips every band it owns for (i,i+1), (i,i+2) AND (i−1,i+1)
    * together, so bridge pairs don't rescue a break and the S-curve's
    * independent-bands estimate (which would price a j≈0.95 edge at
    * ~1e-3 miss for 3 bands) understates the break structure. Measured
    * on 40-word drift docs: 3 bands miss ~7.5e-4 of chain edges vs
    * ~1.25e-4 at 4 bands (6× fewer) — and because family CLOSURE
    * compounds every break, the 40-word/3-band geometry fragmented a
    * 128k-doc family into ~5k-doc segments while 80-word/4-band held
    * all 128k in ONE component (GIANTPROOF.json). When the corpus is
    * template-heavy and closure matters (cluster stats, canonical
    * picks, dup-share accounting), prefer `k = 8, bandRows = 2` over
    * the 3×2 default — 1.33× banding cost against a compounding
    * fragmentation cliff.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, k: Int = 6, bandRows: Int = 2,
                   maxBucket: Int = DefaultMaxBucket): DataFrame =
    // inter / (|A| + |B| − inter) — the same integer counts and the same
    // double division the fused text kernel (ShingleJaccard) produced.
    // Candidates always carry a non-empty set (signature-less docs never
    // reach banding), so the kernel's both-empty → null case cannot
    // occur here.
    lshPairOverlap(docs, idCol, textCol, k, bandRows, maxBucket)(_
      .select(col("id_a"), col("id_b"), OverlapJaccard)
      .filter(col("jaccard") >= threshold))

  /** `jaccard` of a [[pairOverlap]] row: inter / (na + nb − inter). */
  private val OverlapJaccard: Column =
    (col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .as("jaccard")

  /** [[nearDupPairs]]' pipeline with the RAW intersection/union counts
    * (id_a, id_b, inter, uni) instead of the double jaccard, gated by
    * the same INTEGER rule the exact tier verifies with
    * (`den·|A∩B| ≥ num·|A∪B|`). Exists so the tier-pricing comparison
    * (q_setsim_vs_lsh) counts LSH-recovered pairs with bit-identical
    * gating to [[setSimJoinExact]]'s pairs: a double `jaccard ≥ t`
    * re-filter of [[nearDupPairs]] output could, at a ratio in the IEEE
    * representation gap just below the rational threshold, round into
    * passing while the integer gate refuses — breaking the
    * `recovered ≤ exact` invariant the pricing table pins. Carrying the
    * LONG counts through keeps every downstream threshold cut exact.
    */
  def nearDupPairCounts(docs: DataFrame, idCol: String, textCol: String,
                        num: Int, den: Int, k: Int = 6, bandRows: Int = 2,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    lshPairOverlap(docs, idCol, textCol, k, bandRows, maxBucket)(_
      .select(col("id_a"), col("id_b"), col("inter").cast(LongType).as("inter"),
        ((col("na") + col("nb")).cast(LongType) - col("inter").cast(LongType)).as("uni"))
      .filter(setSimAtLeast(num, den)))
  }

  /** The shared body of the LSH pair measures ([[nearDupPairs]],
    * [[nearDupPairCounts]], [[containmentPairs]]): (id_a, id_b, na, nb,
    * inter) per candidate pair — both distinct-shingle set sizes and
    * |A∩B| as ints — handed to the caller's `tail` (its filter and
    * columns), whose result is materialized before the intermediates are
    * released.
    *
    * The signature is a narrow per-document projection (native
    * expression — no explode, no shuffle); the ONLY corpus-wide shuffle
    * is the band bucket join (super-bucket-capped, see [[lshCandidates]]).
    * Verification joins each candidate pair (O(dups), persisted) back to
    * its two precomputed shingle sets ([[candidateShingles]] — AQE
    * broadcasts the pair side, so the corpus is only ever scanned, never
    * shuffled) and intersects them locally: the 200× shingle blowup of
    * the relational formulation never materializes. The cap recorder
    * runs after materialization, so a capped super-bucket's dropped
    * candidates are recorded, never silent recall loss.
    */
  private def lshPairOverlap(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, bandRows: Int, maxBucket: Int)(
      tail: DataFrame => DataFrame): DataFrame = {
    val sig = minhashSignatureNarrow(docs, idCol, textCol, k = k).persist(Disk)
    val (cand, counts, recordCap) =
      lshCandidatesReleasable(lshBands(sig, k, bandRows), maxBucket)
    val pairs = cand.persist(Disk)
    val txt = candidateShingles(docs, idCol, textCol,
      pairs.select(col("id_a").as("__cid")).union(pairs.select(col("id_b").as("__cid"))))
    eagerlyWith(tail(pairOverlap(pairs, "id_a", txt, "id_b", txt)), recordCap,
      Seq(sig, pairs, txt) ++ counts: _*)
  }

  /** (a, b, na, nb, inter) per `pairs(a, b)` row: both documents'
    * distinct-shingle set sizes from their [[candidateShingles]] frames
    * and |A∩B|, intersected locally by a codegen'd `array_intersect`.
    */
  private def pairOverlap(pairs: DataFrame, a: String, txtA: DataFrame,
                          b: String, txtB: DataFrame): DataFrame =
    pairs
      .join(txtA.select(col("__cid").as(a), col("__n").as("na"),
        col("__sh").as("__sha")), Seq(a))
      .join(txtB.select(col("__cid").as(b), col("__n").as("nb"),
        col("__sh").as("__shb")), Seq(b))
      .select(col(a), col(b), col("na"), col("nb"),
        size(array_intersect(col("__sha"), col("__shb"))).as("inter"))

  /** EXACT set-similarity self-join — every pair with Jaccard ≥
    * num/den over DISTINCT word n-gram shingle sets, with NO miss
    * probability — via the AllPairs/PPJoin prefix filter (Bayardo et
    * al. 2007; Xiao et al. 2008). The third blocking strategy in the
    * near-dup toolkit, and the only LOSSLESS one: LSH banding
    * ([[nearDupPairs]]) misses with S-curve probability, char-prefix
    * blocking (Linkage.fuzzyJoin) misses on edited prefixes; the prefix
    * FILTER provably cannot miss.
    *
    * Shingle sets, not raw token sets, deliberately: the set UNIVERSE
    * must be large for set similarity to discriminate (and for the
    * rare-first prefix to prune). Over a small vocabulary every
    * document's token set converges to the whole vocabulary — all pairs
    * read similar, the output itself is Θ(n²), and no algorithm can
    * avoid emitting it (measured: the 31-word test corpus at sf0.1×64
    * drives token-set candidates to billions). Shingles are the same
    * representation every other dedup stage here verifies with.
    *
    * The filter: order each document's tokens by ascending GLOBAL
    * frequency (ties by token — a total order both engines share), and
    * index only the first `s − ⌈τ·s⌉ + 1` tokens (s = set size). Two
    * sets with J ≥ τ must overlap in ≥ ⌈τ/(1+τ)·(s_a+s_b)⌉ tokens, so
    * disjoint prefixes would leave too few suffix slots for the
    * required overlap — every qualifying pair shares a prefix token and
    * survives to verification. Rarest-first ordering makes prefix
    * buckets the SMALLEST ones, which is what bounds candidates.
    *
    * The threshold is a RATIONAL (num/den), all gating arithmetic
    * integer — `⌈num·s/den⌉ = (num·s + den − 1) DIV den`, the length
    * filter `den·min(s) ≥ num·max(s)`, the verification
    * `den·|A∩B| ≥ num·|A∪B|` — because a float `ceil(0.7·s)` rounds up
    * spuriously at exact multiples and SHORTENS the prefix, silently
    * voiding the completeness guarantee.
    *
    * Scale shape: block → verify inside the partition that holds the
    * block (the [[Similarity]] `blockVerify` pattern), three hash
    * exchanges and no join:
    *  1. the distinct shingle sets explode to (tok, id) and exchange on
    *     the token; within a partition a token's rows are adjacent, so
    *     one pass counts its frequency and gives it a `Long` element
    *     ([[setSimElement]]) whose order is rarest first, ties by a
    *     partition-local index — deterministic, so a re-run task gives
    *     the same elements;
    *  2. (id, element) exchanges on the id, sorted by (id, element): each
    *     document's set becomes one ascending `long[]` (the canonical
    *     order), and it emits one row per prefix position `pos ≤ s −
    *     ⌈num·s/den⌉ + 1`, keyed by that element and carrying the array;
    *  3. the prefix rows exchange on the key, sorted by (key, s, id): one
    *     block per prefix element. The kernel ([[setSimBlockPairs]]) walks
    *     each block's length-compatible pairs (sorted by size, so the
    *     integer length filter exits early), applies the PPJoin
    *     POSITIONAL filter, keeps a pair only in the block of its FIRST
    *     common element (which replaces a `distinct`: every other block
    *     it shares skips it) and counts |A∩B| by merging the two sorted
    *     arrays with an early exit once the overlap can no longer reach
    *     α = ⌈num·(s_a+s_b)/(num+den)⌉ ([[setSimOverlap]]).
    * No intermediate is persisted and the result is lazy. Any shared
    * total order keeps the join complete, so the element mapping and
    * tie order change which pairs are verified, never the output, and
    * `jaccard` is the same `round(inter / uni, 6)` over LONG counts.
    * The shuffle ships each array once per prefix position (~0.3·s²
    * longs per document at 7/10), and a block buffers its rows, O(block
    * rows × s) longs: a giant block (one element in many prefixes)
    * means the output is quadratic anyway.
    *
    * Id contract: ids of an integral type (returned in that type); rows
    * with a NULL id never pair and are dropped before step 1. One text
    * per id: duplicated identical rows are inside it — their sets merge
    * into one, and each pair is returned once per combination of
    * copies (c_a·c_b rows); an id carrying two different texts is
    * outside it (it is joined as the union of its sets).
    *
    * Like any EXACT similarity join the OUTPUT can be quadratic on a
    * degenerate corpus (everything similar to everything); when that is
    * acceptable to approximate, [[nearDupPairs]] with its super-bucket
    * cap is the knob.
    */
  def setSimJoinExact(docs: DataFrame, idCol: String, textCol: String,
                      num: Int, den: Int, n: Int = 3): DataFrame = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    setSimSelfJoin(setSimSets(docs, idCol, textCol, n), num, den)
      .select(col("id_a").cast(idType).as("id_a"), col("id_b").cast(idType).as("id_b"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jaccard"))
  }

  /** [[setSimJoinExact]]'s pairs as LONG (id_a, id_b, inter, uni) from a
    * [[setSimSets]] frame — the one engine of every exact set-sim
    * SELF-join: the tier sweeps ([[setSimExactCounts]],
    * [[lshGeometryFrontier]]) run it once per sweep over their persisted
    * frame ([[setSimSweepPairs]]), and
    * q_ngram_jaccard rounds its own measure from the counts.
    */
  private[graft] def setSimSelfJoin(sets: DataFrame, num: Int, den: Int): DataFrame = {
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    val idType = sets.schema("id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"the exact set-sim join needs an integral id column: the id is $idType")
    // documents with fewer than n words have no shingle set and are
    // absent from the join (the minhash-tier contract)
    val elems = sets
      .filter(col("id").isNotNull)
      .select(explode(col("__sh")).as("tok"), col("id").cast(LongType).as("id"))
      .repartition(col("tok")).sortWithinPartitions("tok")
      .as(Encoders.product[SetSimTok])
      .mapPartitions(setSimElements)(Encoders.product[SetSimElem])
    val prefixes = elems
      .repartition(col("id")).sortWithinPartitions("id", "elem")
      .mapPartitions(setSimPrefixRows(num, den))(Encoders.product[SetSimPrefix])
    prefixes
      .repartition(col("key")).sortWithinPartitions("key", "s", "id")
      .mapPartitions(setSimBlockPairs(num, den))(Encoders.product[SetSimPair])
      .toDF()
  }

  private[ops] case class SetSimTok(tok: String, id: Long)
  private[ops] case class SetSimElem(id: Long, elem: Long)
  private[ops] case class SetSimPrefix(key: Long, id: Long, s: Int, pos: Int,
                                       copies: Int, set: Array[Long])
  private[ops] case class SetSimPair(id_a: Long, id_b: Long, inter: Long, uni: Long)

  // [[setSimElement]] layout, high to low: capped frequency, partition,
  // index of the token within its partition (sign bit clear)
  private val ElemIdxBits = 27
  private val ElemPidBits = 16
  private val ElemCntMax = (1L << (63 - ElemPidBits - ElemIdxBits)) - 1

  /** A token's element in the canonical order: rarest first (frequencies
    * above 2^20 − 1 tie), then by (partition, index within the partition)
    * of the token exchange — unique per token and the same on a re-run.
    */
  private def setSimElement(cnt: Long, pid: Long, idx: Long): Long = {
    if (pid >= (1L << ElemPidBits) || idx >= (1L << ElemIdxBits))
      throw new IllegalStateException(s"set-sim token exchange too wide for a " +
        s"Long element: partition $pid, token $idx of its partition")
    (math.min(cnt, ElemCntMax) << (ElemPidBits + ElemIdxBits)) | (pid << ElemIdxBits) | idx
  }

  /** Step 1 of [[setSimJoinExact]]: (tok, id) rows sorted by token within a
    * partition of the token exchange → (id, element), one per input row.
    */
  private def setSimElements(rows: Iterator[SetSimTok]): Iterator[SetSimElem] = {
    val pid = org.apache.spark.TaskContext.getPartitionId().toLong
    val in = rows.buffered
    var idx = -1L
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val tok = in.head.tok
      val ids = Array.newBuilder[Long]
      while (in.hasNext && in.head.tok == tok) ids += in.next().id
      val ofTok = ids.result()
      idx += 1
      val elem = setSimElement(ofTok.length, pid, idx)
      ofTok.iterator.map(SetSimElem(_, elem))
    }
  }

  /** Step 2 of [[setSimJoinExact]]: (id, element) rows sorted by (id,
    * element) → each document's ascending element array, emitted once per
    * prefix position `pos ≤ s − ⌈num·s/den⌉ + 1` under that position's
    * element. Copies of a duplicated row repeat each element; `copies`
    * counts them.
    */
  private def setSimPrefixRows(num: Int, den: Int)(
      rows: Iterator[SetSimElem]): Iterator[SetSimPrefix] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val id = in.head.id
      val set = Array.newBuilder[Long]
      var copies = 0
      var run = 0
      var last = 0L
      while (in.hasNext && in.head.id == id) {
        val e = in.next().elem
        if (run > 0 && e == last) run += 1
        else { set += e; last = e; run = 1 }
        copies = math.max(copies, run)
      }
      val arr = set.result()
      val s = arr.length
      val p = (s - (num.toLong * s + den - 1) / den + 1).toInt
      (1 to p).iterator.map(pos => SetSimPrefix(arr(pos - 1), id, s, pos, copies, arr))
    }
  }

  /** Step 3 of [[setSimJoinExact]], the per-block kernel: prefix rows
    * sorted by (key, s, id) → (id_a < id_b, inter, uni) for every pair of
    * a block with Jaccard ≥ num/den whose first common element is the
    * block's key, `copies_a · copies_b` times.
    */
  private def setSimBlockPairs(num: Int, den: Int)(
      rows: Iterator[SetSimPrefix]): Iterator[SetSimPair] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val key = in.head.key
      val block = scala.collection.mutable.ArrayBuffer.empty[SetSimPrefix]
      while (in.hasNext && in.head.key == key) block += in.next()
      for {
        j <- block.indices.iterator
        b = block(j)
        // sorted by size: the lower-index rows that pass the length filter
        // den·s_a ≥ num·s_b are the ones right before j
        a <- (j - 1 to 0 by -1).iterator.map(block)
          .takeWhile(a => den.toLong * a.s >= num.toLong * b.s)
        inter = setSimPairOverlap(a, b, num, den)
        if inter >= 0
        pair = SetSimPair(math.min(a.id, b.id), math.max(a.id, b.id), inter,
          a.s.toLong + b.s - inter)
        _ <- 0 until a.copies * b.copies
      } yield pair
    }
  }

  /** |A∩B| for two prefix rows of one block when their Jaccard reaches
    * num/den and the block's key is their first common element, else
    * the first check that failed, in order: [[SetSimPositional]] (the
    * positional filter, below), [[SetSimNotFirst]] (an earlier element
    * is shared; the pair is verified in that element's block),
    * [[SetSimBelow]] (the overlap is below α).
    *
    * The positional filter (PPJoin, Xiao et al. 2008 §3.2): a pair with
    * J ≥ num/den needs overlap α = ⌈num·(s_a+s_b)/(num+den)⌉; from its
    * FIRST shared element (minimum in the canonical order — provably
    * inside both prefixes whenever any shared prefix element exists) the
    * whole shared set sits in both suffixes, so the overlap is at most
    * ub = 1 + min(s_a − pos_a, s_b − pos_b). A row whose ub cannot reach
    * α is dropped — integer form `(num+den)·ub ≥ num·(s_a+s_b)` (ub ≥ ⌈x⌉
    * ⟺ ub ≥ x for integer ub). The row of a qualifying pair's first
    * shared element always survives, so the filter changes candidates
    * but never output; the relational candidate stage
    * ([[setSimPrefixPairs]]) applies the same bound. Measured on the
    * sf0.1 twin corpus at 7/10: 268k → 85k relational candidates (3.2×).
    */
  private[ops] def setSimPairOverlap(a: SetSimPrefix, b: SetSimPrefix,
                                     num: Int, den: Int): Long = {
    val ss = a.s.toLong + b.s
    val ub = 1L + math.min(a.s - a.pos, b.s - b.pos)
    if ((num + den).toLong * ub < num.toLong * ss) SetSimPositional
    else if (setSimShareBefore(a.set, a.pos - 1, b.set, b.pos - 1)) SetSimNotFirst
    else {
      // (num+den)·inter ≥ num·(s_a+s_b) ⟺ den·inter ≥ num·uni
      val need = ((num.toLong * ss + num + den - 1) / (num + den)).toInt
      val inter = setSimOverlap(a.set, a.pos, b.set, b.pos, 1, need)
      if (inter >= need) inter.toLong else SetSimBelow
    }
  }

  private[ops] val SetSimPositional = -1L
  private[ops] val SetSimNotFirst = -2L
  private[ops] val SetSimBelow = -3L

  /** Whether ascending, duplicate-free `a` and `b` share an element in
    * `a[0, ia)` and `b[0, ib)`.
    */
  private def setSimShareBefore(a: Array[Long], ia: Int, b: Array[Long], ib: Int): Boolean = {
    var i = 0
    var j = 0
    while (i < ia && j < ib) {
      if (a(i) == b(j)) return true
      if (a(i) < b(j)) i += 1 else j += 1
    }
    false
  }

  /** `have + |a[i0..] ∩ b[j0..]|` for ascending, duplicate-free arrays
    * when that reaches `need`; otherwise some value below `need` — the
    * merge stops as soon as the elements left cannot lift it to `need`.
    */
  private[graft] def setSimOverlap(a: Array[Long], i0: Int, b: Array[Long], j0: Int,
                                   have: Int, need: Int): Int = {
    var i = i0
    var j = j0
    var c = have
    while (i < a.length && j < b.length && c + math.min(a.length - i, b.length - j) >= need) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** The relational candidate self-join of the prefix filter over an
    * already-built prefix frame (tok, id, s, pos) — (id_a, id_b, s_a,
    * s_b) once per pair sharing a prefix token, after the length and
    * positional filters ([[setSimPrefixPairs]]). No join verifies these
    * candidates ([[setSimJoinExact]] finds its pairs per block, under its
    * own element order); their count is q_setsim_vs_lsh's
    * `exact_candidates`, the candidate volume of the `(cnt, tok)` order,
    * which the query's DuckDB oracle replays relationally.
    */
  private[ops] def setSimCandFromPrefix(prefix: DataFrame, num: Int, den: Int): DataFrame =
    setSimPrefixPairs(prefix, prefix, col("a.id") < col("b.id"), num, den)

  /** The relational candidate stage shared by the prefix-filter shapes:
    * prefix rows `a` × `b` on a shared token (and `on`), the integer
    * length filter `den·min(s) ≥ num·max(s)`, the positional filter (see
    * [[setSimPairOverlap]] — every shared token sits at or after `pos`
    * on both sides, so `ub = 1 + min(s_a − pos_a, s_b − pos_b)` bounds the
    * overlap; dropped BEFORE the distinct), then (id_a, id_b, s_a, s_b)
    * once per pair. The two-table shapes ([[setSimJoinExactRS]],
    * [[setSimAgainstIndexCandidates]]) pass their broadcast probe
    * prefixes as `a`; the bound is order-agnostic, so it holds across
    * tables under any shared order.
    */
  private def setSimPrefixPairs(a: DataFrame, b: DataFrame, on: Column,
                                num: Int, den: Int): DataFrame =
    a.as("a").join(b.as("b"), col("a.tok") === col("b.tok") && on)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"),
        (lit(1L) + least(col("a.s") - col("a.pos"), col("b.s") - col("b.pos")))
          .as("__ub"))
      .filter(lit(den.toLong) * least(col("s_a"), col("s_b")) >=
        lit(num.toLong) * greatest(col("s_a"), col("s_b")))
      .filter(lit((num + den).toLong) * col("__ub") >=
        lit(num.toLong) * (col("s_a") + col("s_b")))
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .distinct()

  /** Candidate and verified-pair COUNTS per threshold, one tokenization:
    * the per-doc shingle sets are built once (persisted) and the block
    * kernel runs once for the whole sweep ([[setSimSweepPairs]]). The
    * candidate count is the relational prefix join's
    * ([[setSimCandFromPrefix]] over the `(cnt, tok)` positions, also
    * persisted once per sweep): a candidate count is where an exact
    * similarity join's cost lives, so it IS the price of losslessness the
    * tier-pricing query (q_setsim_vs_lsh) weighs against the LSH tier's.
    * Returns (num, den, candidates, pairs) per input threshold; `pairs`
    * equals [[setSimJoinExact]]'s row count.
    */
  def setSimExactCounts(docs: DataFrame, idCol: String, textCol: String,
                        thresholds: Seq[(Int, Int)], n: Int = 3)
      : Seq[(Int, Int, Long, Long)] = {
    require(thresholds.nonEmpty, "a threshold sweep needs a threshold")
    val sets = setSimSets(docs, idCol, textCol, n).persist(Disk)
    val tok = setSimTokFromSets(sets)
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val sized = setSimSized(tok, freq).persist(Disk)
    val pairs = setSimSweepPairs(sets, thresholds)
    try {
      val nPairs = setSimSweepCounts(pairs, thresholds)
      thresholds.zip(nPairs).map { case ((num, den), np) =>
        val nCand = setSimCandFromPrefix(
          sized.filter(col("pos") <= setSimPrefixLen(num, den)), num, den).count()
        (num, den, nCand, np)
      }
    } finally {
      pairs.unpersist(blocking = false)
      sized.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** A threshold sweep's exact pairs from ONE block-kernel run
    * ([[setSimSelfJoin]]) at the sweep's lowest threshold, persisted as
    * LONG (id_a, id_b, inter, uni): each threshold's pairs are the integer
    * filter [[setSimAtLeast]] over it, exact because the kernel's `inter`
    * is exact for every pair it emits.
    */
  private def setSimSweepPairs(sets: DataFrame, thresholds: Seq[(Int, Int)]): DataFrame = {
    val (num, den) = thresholds.reduce { (a, b) =>
      if (a._1.toLong * b._2 <= b._1.toLong * a._2) a else b }
    setSimSelfJoin(sets, num, den).persist(Disk)
  }

  /** den·inter ≥ num·uni over LONG counts: the pair is at Jaccard ≥ num/den. */
  private def setSimAtLeast(num: Int, den: Int): Column =
    lit(den.toLong) * col("inter") >= lit(num.toLong) * col("uni")

  /** The rows of `pairs` at each threshold, in one job. */
  private def setSimSweepCounts(pairs: DataFrame, thresholds: Seq[(Int, Int)]): Seq[Long] = {
    val row = pairs.select(thresholds.map { case (num, den) =>
      count(when(setSimAtLeast(num, den), lit(1))) }: _*).head()
    thresholds.indices.map(row.getLong)
  }

  /** The LSH geometry FRONTIER priced against the exact tier — the
    * empirical extension of [[lshGeometryTable]]'s S-curve arithmetic
    * and the geometry-sweep generalization of the fixed-geometry
    * pricing in q_setsim_vs_lsh: for every shippable chunked-md5
    * geometry ([[lshGeometries]]) and every threshold, the MEASURED
    * recall (LSH candidates ∩ exact pairs, integer-gated — not the
    * S-curve estimate) and the candidate volume, beside the exact
    * tier's pair count. One artifact answers "could a cheaper LSH
    * geometry reach the recall bar before paying for exact?": read up
    * the candidate-volume column until lsh_recall clears the bar; if
    * none does, the exact tier's candidate surplus is the price of
    * closing the miss probability.
    *
    * Cost shape: the corpus is tokenized ONCE (persisted shingle sets)
    * and the block kernel runs once for the sweep
    * ([[setSimSweepPairs]]); `exact_pairs` equals [[setSimJoinExact]]'s
    * row count. Signatures are computed once PER k (geometries sharing k
    * reuse it) and only the banding re-runs per geometry; one action per
    * geometry left-joins its capped candidates to the exact pairs (one
    * row per pair: copies of a duplicated row collapse) and counts them
    * and, per threshold, those that are exact pairs there, and the cap
    * is recorded after it from the cached bucket counts. Counts are
    * driver-sized; the result frame is a literal table.
    */
  def lshGeometryFrontier(docs: DataFrame, idCol: String, textCol: String,
                          thresholds: Seq[(Int, Int)], n: Int = 3,
                          maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(thresholds.nonEmpty, "a threshold sweep needs a threshold")
    val sets = setSimSets(docs, idCol, textCol, n).persist(Disk)
    val exact = setSimSweepPairs(sets, thresholds)
    val distinctPairs = exact.distinct().persist(Disk)
    try {
      val nExact = setSimSweepCounts(exact, thresholds)
      val rows = lshGeometries.groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (k, geoms) =>
          val sig = minhashSignatureNarrow(docs, idCol, textCol, n, k)
            .persist(Disk)
          try geoms.sortBy(_._2).flatMap { case (_, bandRows) =>
            val (cand, capped, recordCap) =
              lshCandidatesReleasable(lshBands(sig, k, bandRows), maxBucket)
            val counts = try {
              val row = cand.join(distinctPairs, Seq("id_a", "id_b"), "left")
                .select(count(lit(1)) +: thresholds.map { case (num, den) =>
                  count(when(setSimAtLeast(num, den), lit(1))) }: _*)
                .head()
              recordCap()
              row
            } finally capped.foreach(_.unpersist(blocking = false))
            thresholds.zip(nExact).zipWithIndex.map { case (((num, den), ne), i) =>
              (num.toDouble / den, k, bandRows, k / bandRows,
                lshCaptureProb(num.toDouble / den, bandRows, k / bandRows),
                ne, counts.getLong(i + 1), counts.getLong(0))
            }
          } finally sig.unpersist(blocking = false)
        }
      rows.toDF("threshold", "k", "band_rows", "bands", "__cap",
          "exact_pairs", "lsh_recovered", "lsh_candidates")
        .select(col("threshold"), col("k"), col("band_rows"), col("bands"),
          round(col("__cap"), 4).as("capture_at_t"),
          col("exact_pairs"), col("lsh_recovered"),
          when(col("exact_pairs") === 0, lit(null))
            .otherwise(round(col("lsh_recovered").cast("double") /
              col("exact_pairs").cast("double"), 4)).as("lsh_recall"),
          col("lsh_candidates"))
        .orderBy("threshold", "k", "band_rows")
    } finally {
      distinctPairs.unpersist(blocking = false)
      exact.unpersist(blocking = false)
      sets.unpersist(blocking = false)
    }
  }

  /** EXACT two-table (R-S) set-similarity join — [[setSimJoinExact]]'s
    * machinery generalized to the decontamination shape: every
    * (probe, corpus) pair with shingle-set Jaccard ≥ num/den, NO miss
    * probability. The production use is eval-suite decontamination —
    * benchmark probes against a training corpus, where an S-curve miss
    * (q_semantic_decontaminate / q_decontaminate, the approximate tiers)
    * means a leaked eval document survives into training.
    *
    * The prefix-filter principle is order-agnostic: if |A∩B| ≥ α then
    * prefixes of length |A|−α+1 and |B|−α+1 under ANY shared total order
    * intersect — so token frequencies are computed over the UNION of
    * both sides (one shared rarest-first canonical order; ties by token)
    * and each side indexes its own `s − ⌈num·s/den⌉ + 1` prefix. Same
    * integer-exact gating as the self-join (a float ceil would shorten a
    * prefix and void completeness); candidates are R-prefix × S-prefix
    * on the shared token, bounded by rare-token bucket sizes.
    *
    * Scale shape: the probe side is small (an eval suite — thousands of
    * docs) and the corpus side huge; the probe prefix table broadcasts,
    * so the corpus is scanned, never shuffled, for candidate generation,
    * and verification touches only candidate ids. Output columns
    * (id_a = probe, id_b = corpus doc, jaccard).
    */
  def setSimJoinExactRS(probes: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        num: Int, den: Int, n: Int = 3): DataFrame = {
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    // tokenize each side ONCE (r19): the cached array frames feed the
    // union-frequency aggregate, the prefix joins (cheap explodes), and
    // the verification fetch
    val setsA = setSimSets(probes, idCol, textCol, n).persist(Disk)
    val setsB = setSimSets(corpus, idCol, textCol, n).persist(Disk)
    val tokA = setSimTokFromSets(setsA)
    val tokB = setSimTokFromSets(setsB)
    // one shared total order for both prefixes: global frequency over
    // the union (a probe that also appears in the corpus counts twice —
    // harmless: ANY consistent order preserves completeness; frequency
    // ordering only optimizes bucket sizes). Persisted: it feeds BOTH
    // prefix joins, and without the cache each side re-explodes and
    // re-counts the union (r18 — vocabulary-sized, released after the
    // verify stage materializes).
    val freq = tokA.unionAll(tokB).groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persist(Disk)
    val cand = setSimPrefixPairs(broadcast(setSimPrefix(tokA, freq, num, den)),
      setSimPrefix(tokB, freq, num, den), lit(true), num, den)
    setSimVerify(cand, setsA, setsB, num, den, releasables = Seq(freq, setsA, setsB))
  }

  /** (id, s, tok) over DISTINCT word n-gram shingles — the set
    * representation every set-similarity stage shares. `s` (the set
    * size, long) is computed NARROWLY from the pre-explode array: it is
    * exactly what the old `count(*) OVER (PARTITION BY id)` window
    * produced after the frequency join (the join is key-preserving —
    * every token is in the corpus frequency table, and probe-side
    * callers join `left`), so carrying it from the projection deletes
    * one corpus-wide window pass from every prefix pipeline (r18,
    * guide §2.4: remove shuffled/buffered passes outright).
    */
  private def setSimTok(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    setSimTokFromSets(setSimSets(docs, idCol, textCol, n))

  /** (id, __sh) — each document's DISTINCT shingle array, the
    * tokenize-ONCE frame (r19): callers persist it so the expensive text
    * kernel (shingleArray + array_distinct) runs one time per corpus per
    * invocation, with BOTH the prefix pipeline (via
    * [[setSimTokFromSets]]' cheap explode of the cached arrays) and the
    * verification fetch (the arrays ARE the sets `array_intersect`
    * consumes) reading the cache. Strictly narrower cache than the r18
    * exploded-rows persist (one array row per doc vs one row per token
    * occurrence), and it deletes the second corpus-wide tokenization the
    * r18 shape still paid at fetch time (profiled: the verify fetch
    * stage was the largest wall item of q_setsim_join, re-shingling
    * ~every candidate doc the prefix stage had already shingled).
    */
  private[graft] def setSimSets(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.shingleArray(col(textCol), n)).as("__sh"))

  /** The (id, s, tok) token stream derived from a (cached) [[setSimSets]]
    * frame — explode of in-memory arrays, no re-tokenization.
    */
  private[ops] def setSimTokFromSets(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("__sh")).cast(LongType).as("s"),
      explode(col("__sh")).as("tok"))

  /** Rarest-global-frequency-first canonical positions over the WHOLE
    * token list — (tok, id, s, pos) with pos = dense_rank by (cnt, tok)
    * within id (ties by token — a total order both engines share). The
    * dense rank gives every copy of a duplicated identical row the same
    * positions, 1..s; a row number would number c copies c·s deep, and
    * the prefix cut at s would keep only ⌈p/c⌉ distinct tokens. One
    * window function over one exchange+sort; `s` arrives narrow on the
    * token stream (see [[setSimTok]]) instead of a second window pass.
    * `joinType` is `inner` when `freq` covers every token (self-join /
    * index build) and `left` for probe sides ordering against a FROZEN
    * snapshot (unseen tokens at cnt 0 — the append/probe rule).
    */
  private def setSimSized(tok: DataFrame, freq: DataFrame,
                          joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined =
      if (joinType == "inner") tok.join(freq, Seq("tok"))
      else tok.join(freq, Seq("tok"), joinType)
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    joined
      .withColumn("pos",
        dense_rank().over(Window.partitionBy("id").orderBy(col("cnt"), col("tok"))))
      .select(col("tok"), col("id"), col("s"), col("pos"))
  }

  /** The integer-exact prefix cut over [[setSimSized]] positions: keep
    * pos ≤ s − ⌈num·s/den⌉ + 1. `pos` rides along for the candidate
    * stage's positional filter.
    */
  private[ops] def setSimPrefix(tok: DataFrame, freq: DataFrame,
                           num: Int, den: Int): DataFrame =
    setSimSized(tok, freq).filter(col("pos") <= setSimPrefixLen(num, den))

  /** The prefix length `s − ⌈num·s/den⌉ + 1` of a set of size `s`, in
    * integer arithmetic (a float ceil rounds up spuriously at exact
    * multiples and shortens the prefix).
    */
  private def setSimPrefixLen(num: Int, den: Int): Column =
    expr(s"s - ($num * s + ${den - 1}) DIV $den + 1")

  /** Per-pair verification of TWO-TABLE candidates (id_a, id_b, s_a,
    * s_b): fetch just the candidate documents' shingle sets from each
    * side's [[setSimSets]] frame (broadcast semi-joins — each side
    * scanned once, never shuffled), count |A∩B| with a codegen'd
    * `array_intersect`, then apply the integer-exact Jaccard gate
    * `den·|A∩B| ≥ num·|A∪B|` on LONG counts (|A∪B| = s_a + s_b − inter,
    * carried from the candidate stage). Self-joins never come here: the
    * block kernel ([[setSimSelfJoin]]) verifies inside its blocks.
    *
    * Why not the relational intersection count (join candidates back to
    * the (id, tok) table twice and group): that join materializes
    * Σ_cand s_a rows — measured 17.4M at sf0.1-twin scale, ~1.1 BILLION
    * at ×64, whose sort spill exhausted the disk. Intersecting the
    * fetched sets makes verification candidate-sized: one row per pair,
    * two bounded payloads, zero shingle shuffle. The DuckDB oracle keeps
    * the relational formulation — opposite plan, identical output, which
    * is the point of the oracle.
    */
  private def setSimVerify(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
                           num: Int, den: Int, detach: Boolean = false,
                           releasables: Seq[DataFrame] = Seq.empty): DataFrame = {
    val pairs = cand.select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
      .persist(Disk)
    def fetch(sets: DataFrame, id: String, sh: String): DataFrame =
      sets.select(col("id").as(id), col("__sh").as(sh))
        .join(broadcast(pairs.select(id).distinct()), Seq(id), "left_semi")
    val result = pairs
      .join(fetch(setsA, "id_a", "__sha"), Seq("id_a"))
      .join(fetch(setsB, "id_b", "__shb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sha"), col("__shb"))).cast(LongType)
          .as("inter"),
        (col("s_a") + col("s_b")).as("__ss"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("__ss") - col("inter")).as("uni"))
      .filter(setSimAtLeast(num, den))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6)
          .as("jaccard"))
    // detach = the index-probing caller (setSimAgainstIndex): see
    // eagerlyDetachedWith for why its results must not enter the cache
    if (detach) eagerlyDetachedWith(result, () => (), pairs +: releasables: _*)
    else eagerly(result, pairs +: releasables: _*)
  }

  /** Distinct shingle sets of just the candidate documents, those whose
    * id is in `ids(__cid)` — (__cid, __n, __sh): ONE corpus scan (a
    * broadcast semi-join against the distinct ids) instead of the two
    * full scans that joining each pair side directly against the corpus
    * would cost — at 100 TB the verification stage reads the corpus
    * once, and the surviving table is O(candidate docs), cached. Tokenized AT FETCH TIME (r18):
    * a candidate doc appears in (pairs / docs) pairs on average, and the
    * per-pair text kernels re-shingled both sides every time — the r18
    * profile had that re-shingling as ~70% of the exact set-sim join.
    * The per-pair kernel downstream is a codegen'd `array_intersect`
    * over these precomputed sets; counts (and so every jaccard /
    * containment double) are bit-identical to the text kernels': same
    * distinct shingle sets (Shingles.scala and ShingleArray share the
    * one wordStarts scan), same integer counts, same IEEE division.
    */
  private def candidateShingles(docs: DataFrame, idCol: String, textCol: String,
                                ids: DataFrame, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("__cid"),
        array_distinct(TextAnalysis.shingleArray(col(textCol), n)).as("__sh"))
      .select(col("__cid"), size(col("__sh")).as("__n"), col("__sh"))
      .join(broadcast(ids.distinct()), Seq("__cid"), "left_semi")
      .persist(Disk)

  /** Persist the LSH band index of a corpus: rows (band_id, band_key,
    * id). This is the incremental-dedup enabler — each new batch (a
    * daily crawl, say) is deduplicated against the WHOLE historical
    * corpus by joining its bands against this index, without ever
    * recomputing the historical signatures: at 100 TB the history is
    * signed exactly once, and each increment costs one narrow signature
    * pass over the batch plus a band-keyed join against index rows.
    * Storage through the Hadoop FS API (`s3a://`-capable) like every
    * extract ([[graft.etl.Refresh]]). Rebuilds over a live index path
    * stage-and-swap ([[graft.etl.Refresh.overwriteStaged]]): the old
    * index keeps serving incremental dedup until the new one commits.
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, k: Int = 6, bandRows: Int = 2): Unit = {
    graft.etl.Refresh.overwriteStaged(
      lshBands(minhashSignatureNarrow(docs, idCol, textCol, k = k), k, bandRows),
      path)
  }

  /** Append a new batch's bands to an existing index (after the batch is
    * accepted into the corpus, so the NEXT increment dedups against it).
    */
  def appendToBandIndex(docs: DataFrame, idCol: String, textCol: String,
                        path: String, k: Int = 6, bandRows: Int = 2): Unit =
    lshBands(minhashSignatureNarrow(docs, idCol, textCol, k = k), k, bandRows)
      .write.mode("append").parquet(path)

  /** Persist the set-similarity PREFIX index of a corpus — the LOSSLESS
    * analog of [[writeBandIndex]] for incremental decontamination: the
    * corpus's full ordered token lists (`tokens/`: tok, id, s, pos in
    * the corpus-frequency canonical order) plus the frequency table the
    * order derives from (`freq/`: tok, cnt). At 100 TB the corpus is
    * tokenized, counted, and window-ordered exactly ONCE; every future
    * eval suite or batch joins its own prefixes against the stored
    * rows with no corpus recompute and NO miss probability (the band
    * index's S-curve miss is exactly what a decontamination gate can't
    * accept).
    *
    * Storing ALL positions (not a fixed-τ prefix) keeps the threshold a
    * READ-time knob: the prefix cut `pos ≤ s − ⌈num·s/den⌉ + 1` is a
    * scan filter. A deployment with one fixed production τ can
    * partition on a precomputed prefix flag instead; this keeps the
    * sweep-at-read flexibility the tier-pricing query needs. Staged
    * atomic publish like every extract ([[graft.etl.Refresh]]).
    */
  def writeSetSimIndex(corpus: DataFrame, idCol: String, textCol: String,
                       path: String, n: Int = 3): Unit = {
    // tok feeds the frequency aggregate and the tokens/ order join, and
    // freq feeds BOTH staged writes — persist both so the corpus is
    // tokenized once and counted once per BUILD, not once per consumer
    // (the r18 profile had each un-persisted re-evaluation costing a
    // full extra explode/aggregate of the corpus)
    val tok = setSimTok(corpus, idCol, textCol, n).persist(Disk)
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("cnt")).persist(Disk)
    try {
      // ONE action materializes tok (its input) and freq; the two staged
      // writes then read only caches and are independent of each other —
      // run the heavy tokens/ write on a concurrent job so the freq/
      // write (and both commit swaps) overlap it instead of queueing
      // behind it (guide §2.6). Without the pre-materialization the
      // concurrent writes would RACE the cache population and tokenize
      // the corpus twice.
      freq.count()
      overlapped(graft.etl.Refresh.overwriteStaged(
          setSimSized(tok, freq), s"$path/tokens"))(_ => ()) {
        graft.etl.Refresh.overwriteStaged(freq, s"$path/freq")
      }
    } finally {
      freq.unpersist(blocking = false)
      tok.unpersist(blocking = false)
    }
    ()
  }

  /** Append a new batch's ordered token lists to an existing prefix
    * index (after the batch is accepted into the corpus) — the
    * [[appendToBandIndex]] counterpart. The batch's tokens order by the
    * STORED frequency snapshot (unseen tokens at cnt 0, the
    * [[setSimAgainstIndex]] probe rule): the canonical order is FROZEN
    * at [[writeSetSimIndex]] time, which completeness permits — the
    * prefix principle needs a shared total order, not an accurate one;
    * only PRUNING quality decays as true frequencies drift from the
    * snapshot, so a corpus that grows severalfold re-freezes with a
    * rebuild (stage-and-swap keeps the old index serving meanwhile).
    */
  def appendToSetSimIndex(newDocs: DataFrame, idCol: String, textCol: String,
                          path: String, n: Int = 3): Unit = {
    val spark = newDocs.sparkSession
    // a re-freeze by another session replaces freq/ wholesale — never
    // order an append by a stale cached listing of it
    spark.catalog.refreshByPath(s"$path/freq")
    val freq = spark.read.parquet(s"$path/freq")
    setSimSized(setSimTok(newDocs, idCol, textCol, n), freq, "left")
      .write.mode("append").parquet(s"$path/tokens")
  }

  /** EXACT decontamination of a probe set against the corpus behind a
    * persisted prefix index ([[writeSetSimIndex]]): every (probe, doc)
    * pair with shingle-set Jaccard ≥ num/den, no miss probability, no
    * corpus recompute. The canonical order is the STORED corpus
    * frequency (unseen probe tokens order at cnt 0 — rarest-first,
    * which is also the tightest pruning); the prefix principle needs
    * only a shared total order, and `(stored cnt, tok)` is the same
    * function of the token on both sides, so completeness holds
    * (ExtensionsSpec pins index-served == [[setSimJoinExactRS]] on the
    * same fixture). `corpus` supplies verification texts only — one
    * broadcast-semi-joined scan of the candidate ids, the
    * [[nearDupsAgainstIndex]] contract.
    */
  def setSimAgainstIndex(probes: DataFrame, idCol: String, textCol: String,
                         indexPath: String, corpus: DataFrame,
                         num: Int, den: Int, n: Int = 3): DataFrame = {
    // the probe batch is tokenized ONCE (r19): the cached arrays feed
    // both the prefix candidates and the probe side of verification
    // (the corpus side stays a candidate-sized re-shingle — the stored
    // index holds exploded tokens, not arrays)
    val probeSets = setSimSets(probes, idCol, textCol, n).persist(Disk)
    setSimVerify(
      setSimAgainstIndexCandidates(probes, idCol, textCol, indexPath,
        num, den, n, preSets = Some(probeSets)),
      probeSets, setSimSets(corpus, idCol, textCol, n), num, den, detach = true,
      releasables = Seq(probeSets))
  }

  /** The candidate-generation stage of [[setSimAgainstIndex]] as an
    * UNEXECUTED plan — the broadcast/no-shuffle scale contract lives
    * here (probe prefixes broadcast; stored rows scan-filtered, never
    * pre-shuffled), and the detached serving form executes exactly this
    * plan inside its checkpoint; PlanSpec pins THIS plan, since the
    * served result's own plan is (deliberately) just the materialized
    * rows — see [[eagerlyDetachedWith]].
    */
  private[graft] def setSimAgainstIndexCandidates(
      probes: DataFrame, idCol: String, textCol: String,
      indexPath: String, num: Int, den: Int, n: Int = 3,
      preSets: Option[DataFrame] = None): DataFrame = {
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    val spark = probes.sparkSession
    // drop any cached file listing for the index first: appends land
    // through OTHER sessions (a stream's micro-batch clone writes via
    // its own session, which refreshes only its own FileStatusCache) —
    // without this, a session that probed once keeps serving the stale
    // listing and silently misses every later-appended document
    spark.catalog.refreshByPath(s"$indexPath/tokens")
    val idxTok = spark.read.parquet(s"$indexPath/tokens")
    val freq = spark.read.parquet(s"$indexPath/freq")
    val probeTok = preSets.map(setSimTokFromSets)
      .getOrElse(setSimTok(probes, idCol, textCol, n))
    val cut = col("pos") <= setSimPrefixLen(num, den)
    setSimPrefixPairs(broadcast(setSimSized(probeTok, freq, "left").filter(cut)),
      idxTok.filter(cut), lit(true), num, den)
  }

  /** Drift gauge for the FROZEN canonical order of a set-sim prefix
    * index ([[writeSetSimIndex]] / [[appendToSetSimIndex]]): the
    * decision signal for WHEN to re-freeze. Appends order by the stored
    * frequency snapshot, which never costs correctness (completeness
    * needs only a shared total order — spec-pinned) but decays PRUNING
    * quality as true frequencies drift: the canonical failure mode is
    * post-freeze boilerplate — tokens the snapshot has never seen (cnt
    * 0 ⇒ "rarest" ⇒ in every appended doc's prefix) that are actually
    * the new corpus's most COMMON, flooding prefix buckets that a
    * re-frozen order would exclude. Two index-resident measurements, no
    * corpus re-read:
    *
    *  1. `rank_corr` — Spearman rank correlation between the stored
    *     snapshot counts and fresh counts (recounted from the stored
    *     token lists themselves), over the index's token vocabulary;
    *     ties broken by token, so ranks are a total order both engines
    *     share and Σd² is INTEGER-exact. Runs on the vocabulary (orders
    *     of magnitude below corpus scale); at extreme vocabularies
    *     `vocabMod` samples tokens by md5 (deterministic, replayable) —
    *     Spearman on a uniform subset is the standard estimator.
    *  2. `cand_mass_stored` vs `cand_mass_refrozen` — the prefix
    *     self-join's candidate-pair count Σ_tok C(p_tok, 2) at the
    *     num/den threshold, under the stored positions vs positions
    *     recomputed from fresh counts, over docs sampled by
    *     `id % sampleMod == 0` (deterministic). This is the quantity
    *     pruning quality IS: the ratio says how many extra candidate
    *     pairs the stale order generates versus what a rebuild buys.
    *
    * `refreeze` trips when stored mass exceeds `massFactor ×` the
    * re-frozen mass, or rank correlation falls below
    * `corrBarNum/corrBarDen` — both compared in exact integer/decimal
    * arithmetic (the corr gate `6·corrBarDen·Σd² > (corrBarDen −
    * corrBarNum)·n(n²−1)` in DECIMAL(38,0), so no float boundary can
    * disagree between engines). Output is ONE row; the signal feeds
    * [[graft.streaming.Streams.refreezeSetSimIndex]], whose
    * stage-and-swap keeps the old order serving until the new one
    * commits.
    */
  def setSimIndexDrift(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, num: Int, den: Int,
                       sampleMod: Long = 16, vocabMod: Long = 1,
                       massFactor: Long = 2,
                       corrBarNum: Long = 4, corrBarDen: Long = 5): DataFrame = {
    require(num >= 1 && den >= num,
      s"need a threshold in (0, 1]: got $num/$den")
    require(sampleMod >= 1 && vocabMod >= 1 && massFactor >= 1 &&
      corrBarNum >= 0 && corrBarDen > corrBarNum,
      "need sampleMod/vocabMod/massFactor >= 1 and a corr bar in [0, 1)")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    // same stale-listing guard as setSimAgainstIndex: the gauge must see
    // every appended batch or it under-reports drift
    spark.catalog.refreshByPath(s"$indexPath/tokens")
    val tokAll = spark.read.parquet(s"$indexPath/tokens")
    val storedFreq = spark.read.parquet(s"$indexPath/freq")
    val fresh = tokAll.groupBy("tok").agg(count(lit(1)).as("fcnt"))
    // vocabulary = every token the index has seen; frozen-unseen tokens
    // carry stored cnt 0 (exactly how appends ordered them)
    val vocab = fresh.join(storedFreq, Seq("tok"), "left")
      .withColumn("scnt", coalesce(col("cnt"), lit(0L)))
      .filter(pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10)
        .cast(LongType), lit(vocabMod)) === 0)
    val ranked = vocab.select(
      row_number().over(Window.orderBy(col("scnt"), col("tok"))).as("rs"),
      row_number().over(Window.orderBy(col("fcnt"), col("tok"))).as("rf"))
    val dd = col("rs").cast(LongType) - col("rf").cast(LongType)
    val ra = ranked.agg(count(lit(1)).as("n"),
      coalesce(sum((dd * dd).cast(dec)), lit(0).cast(dec)).as("s2"))
    // sampled docs' stored rows: pos/s are the frozen positions as
    // persisted; the re-frozen comparison recomputes pos from fresh
    // counts over the SAME rows (each sampled doc's token list is
    // complete in the index, so the per-doc window is exact)
    val samp = tokAll.filter(pmod(col("id"), lit(sampleMod)) === 0)
    val cut = setSimPrefixLen(num, den)
    def mass(pref: DataFrame, out: String): DataFrame =
      pref.groupBy("tok").agg(count(lit(1)).as("p"))
        .agg(coalesce(sum((col("p").cast(dec) * (col("p").cast(dec) - 1) /
          2).cast(dec)), lit(0).cast(dec)).as(out))
    val mS = mass(samp.filter(col("pos") <= cut), "ms")
    val mF = mass(samp.join(fresh, Seq("tok"))
      .withColumn("pos2",
        dense_rank().over(Window.partitionBy("id").orderBy(col("fcnt"), col("tok"))))
      .filter(col("pos2") <= cut), "mf")
    val nD = col("n").cast(dec)
    val bigD = nD * nD * nD - nD // n(n²−1), exact in decimal
    ra.crossJoin(mS).crossJoin(mF)
      .select(
        col("n").as("n_tokens"),
        when(col("n") < 2, lit(1.0)).otherwise(
          round(lit(1.0) - (lit(6.0) * col("s2").cast("double")) /
            bigD.cast("double"), 6)).as("rank_corr"),
        col("ms").cast(LongType).as("cand_mass_stored"),
        col("mf").cast(LongType).as("cand_mass_refrozen"),
        (col("ms") > lit(massFactor).cast(dec) * col("mf") ||
          (col("n") >= 2 &&
            lit(6L * corrBarDen).cast(dec) * col("s2") >
              lit(corrBarDen - corrBarNum).cast(dec) * bigD))
          .as("refreeze"))
  }

  /** Near-dup pairs between a NEW batch and the historical corpus behind
    * a persisted band index ([[writeBandIndex]]): (id_new, id_old,
    * jaccard >= threshold). Intra-batch duplicates are [[nearDupPairs]]
    * on the batch — compose both for full dedup of an increment.
    *
    * Plan: one narrow signature pass over the batch, a band-keyed join
    * of batch bands against index rows (the index side is super-bucket-
    * capped under `"incremental_lsh"` — a boilerplate bucket in a 10^9-
    * doc history must not explode any batch), then ONE scan of each side
    * (batch + `corpus` doc store, both broadcast-semi-joined down to the
    * candidate ids) for native ShingleJaccard verification.
    */
  def nearDupsAgainstIndex(newDocs: DataFrame, idCol: String, textCol: String,
                           indexPath: String, corpus: DataFrame,
                           threshold: Double = 0.8, k: Int = 6,
                           bandRows: Int = 2,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = newDocs.sparkSession
    // same stale-listing guard as setSimAgainstIndex: band appends from
    // a stream's micro-batch session don't refresh THIS session's cache
    spark.catalog.refreshByPath(indexPath)
    val newBands = lshBands(
      minhashSignatureNarrow(newDocs, idCol, textCol, k = k), k, bandRows)
    val (oldBounded, counts, recordCap) = capByKey(spark.read.parquet(indexPath),
      Seq("band_id", "band_key"), maxBucket, "incremental_lsh")
    val pairs = newBands
      .select(col("band_id"), col("band_key"), col("id").as("id_new"))
      .join(oldBounded.select(col("band_id"), col("band_key"),
        col("id").as("id_old")), Seq("band_id", "band_key"))
      .filter(col("id_new") =!= col("id_old")) // re-submitted same doc id
      .select("id_new", "id_old").distinct()
      .persist(Disk)
    // each side's distinct shingle set computed once at fetch time; the
    // per-pair kernel is array_intersect over the precomputed sets (see
    // candidateShingles — counts and the jaccard double are identical
    // to the fused text kernel's)
    val newTxt = candidateShingles(newDocs, idCol, textCol,
      pairs.select(col("id_new").as("__cid")))
    val oldTxt = candidateShingles(corpus, idCol, textCol,
      pairs.select(col("id_old").as("__cid")))
    val result = pairOverlap(pairs, "id_new", newTxt, "id_old", oldTxt)
      .select(col("id_new"), col("id_old"), OverlapJaccard)
      .filter(col("jaccard") >= threshold)
    eagerlyDetachedWith(result, recordCap, Seq(pairs, newTxt, oldTxt) ++ counts: _*)
  }

  /** Dedup clusters: connected components over the near-dup pair graph,
    * labelling every paired document with the smallest doc id reachable
    * from it (the canonical representative). Pairwise matches alone
    * over-keep: a~b and b~c must collapse to ONE survivor even when a~c
    * was never emitted — that's this closure.
    *
    * Iterative min-label propagation with POINTER DOUBLING: each round a
    * node takes the min of its own label, its neighbors' labels, AND its
    * label's label (label(label(x)) — following the representative's own
    * pointer halves the remaining path to the component min). Rounds
    * needed: O(log diameter), not O(diameter) — a 1000-long boilerplate
    * chain (common in crawl corpora) converges in ~10 rounds. Scale
    * posture: the edge set is O(detected dups), orders of magnitude
    * smaller than the corpus, so each round is joins+groupBy over the
    * dup set only, and the convergence check is a filter-count on the
    * round's already-materialized blocks (no extra join job).
    *
    * Lineage control: `persist` caches DATA but not LINEAGE — rolling a
    * persisted frame through the loop doubles the logical plan every
    * round (the round-N plan embeds two copies of round N-1), so by
    * diameter ~20 the optimizer spends minutes just rendering the tree.
    * Each round therefore materializes to a persisted RDD and rebuilds
    * the frame over it ([[materializeLeaf]]): plan size stays O(1) per
    * round regardless of component diameter. (Why not
    * `localCheckpoint(eager = true)`: it pays a constraint-propagation
    * rewrite plus a full plan rendering per call — seconds per round on
    * this join-heavy loop body, jstack-verified — where the RDD rebuild
    * skips both. Blocks live on executors either way; on a cluster with
    * dynamic allocation / unreliable executors, swap for
    * `checkpoint(eager = true)` against a reliable checkpoint dir.)
    */
  /** Materialize `df` eagerly and truncate its plan to a leaf: compute
    * once into a persisted `RDD[Row]`, rebuild a frame over it. Returns
    * the leaf frame plus the backing RDD (so the caller can unpersist
    * once the next round no longer needs it).
    */
  private[graft] def materializeLeaf(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val rdd = df.rdd.persist(Disk)
    rdd.count()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** [[materializeLeaf]] that additionally counts rows matching `pred`
    * DURING the materialization pass (a long accumulator folded into the
    * same count job) — one job instead of materialize + a second
    * filter-count job. Accumulator caveat: task retries can only ever
    * INFLATE the count, so a caller using it as a convergence test
    * (`changed == 0`) gets at worst one extra round, never a premature
    * stop (zero stays exactly zero — no row matched anywhere).
    */
  private[graft] def materializeLeafCounting(df: DataFrame, pred: Row => Boolean)
      : (DataFrame, org.apache.spark.rdd.RDD[Row], Long) = {
    val acc = df.sparkSession.sparkContext.longAccumulator
    val rdd = df.rdd.map { r => if (pred(r)) acc.add(1); r }.persist(Disk)
    rdd.count()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd, acc.value)
  }

  def clusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    clustersWithRounds(pairs, maxIters)._1

  /** Edge-count ceiling for the driver union-find fast path of
    * [[clustersWithRounds]] (env-overridable,
    * `GRAFT_CLUSTERS_DRIVER_MAX_EDGES`; 0 disables). 200k edges is a
    * few MB of driver transient — well under any driver's budget at any
    * cluster size — while every distributed pointer-doubling round
    * costs ≥ 3 shuffles + 2 materialization barriers even for a
    * 10-edge graph. The same adaptive-switch shape as
    * [[graft.ops.Scale.saltedJoin]]'s broadcast-vs-salt: the size check
    * reads a count the edge materialization already paid for.
    */
  private[graft] def driverMaxEdgesDefault: Long =
    sys.env.get("GRAFT_CLUSTERS_DRIVER_MAX_EDGES")
      .flatMap(_.toLongOption).getOrElse(200000L)

  /** Whether the driver fast path may order ids of this type exactly as
    * Spark's `min`/`least` would: integral types are numeric; strings
    * compare as unsigned UTF-8 bytes (UTF8String.compareTo). Other
    * types (decimals, dates, binary) take the distributed path — never
    * a silently different ordering.
    */
  private def driverOrderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }

  /** min-id union-find over collected edges: representative of every
    * component is its smallest id under [[driverOrderable]]'s ordering —
    * exactly the distributed loop's fixpoint. Union-by-min keeps the
    * invariant "every root is the minimum of its tree", so find() after
    * all unions IS the component minimum; path halving keeps it near
    * O(α).
    */
  private def unionFindLabels(edges: Array[(Any, Any)]): Map[Any, Any] = {
    val lt: (Any, Any) => Boolean = {
      case (a: String, b: String) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case (a: Number, b: Number) => a.longValue() < b.longValue()
      case (a, b) => sys.error(s"unorderable id types: $a / $b")
    }
    val idx = scala.collection.mutable.HashMap[Any, Int]()
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    def of(v: Any): Int = idx.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    val es = edges.map { case (a, b) => (of(a), of(b)) }
    val parent = Array.tabulate(ids.size)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (lt(ids(ra), ids(rb))) parent(rb) = ra else parent(ra) = rb
      }
    }
    ids.indices.map(i => ids(i) -> ids(find(i))).toMap
  }

  /** [[clusters]] exposing the converged round count — the observability
    * hook the giant-component stress proof pins: pointer doubling must
    * close a diameter-d component in O(log d) rounds, and a regression
    * to linear propagation would show up as rounds ≈ d long before it
    * shows up as wall-clock on a ledger (GIANTPROOF.json, OpsSpec).
    */
  private[graft] def clustersWithRounds(pairs: DataFrame,
                                        maxIters: Int = 50,
                                        driverMaxEdges: Long = driverMaxEdgesDefault)
      : (DataFrame, Int) = {
    // ids keep their natural type (long, string, ...) — min/least give
    // the component's smallest id under that type's ordering
    // edges is also a LEAF, not just persisted: the caller's `pairs`
    // frame can carry an arbitrarily large upstream plan (the whole
    // near-dup pipeline), and every round's plan would embed it — the
    // cache dodges recompute but not per-round re-analysis/rendering of
    // that tree. Leafing it here makes every round's plan O(1) total.
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    // ---- driver union-find fast path (r18): near-dup pair sets are
    // ∝ duplicates, not corpus size — at ANY scale most clusterings are
    // graphs a driver closes in microseconds, while the distributed loop
    // below pays ≥ 3 shuffles and 2 barriers PER ROUND (plus the
    // symmetric-union/distinct edge materialization it needs first —
    // the fast path skips that too: union-find needs neither symmetry
    // nor dedup). Decision = one bounded count over the caller's pair
    // frame (LIMIT driverMaxEdges+1 — never a full count of a huge pair
    // set). Same labels by construction (min-id representative under
    // the identical ordering — OpsSpec pins driver == distributed on
    // chain/star/string-id fixtures); the distributed pointer-doubling
    // loop stays the ≥ driverMaxEdges path (GIANTPROOF's 1.28M-edge
    // chain exercises it unchanged).
    val idType = fwd.schema("src").dataType
    val capInt = math.min(driverMaxEdges, Int.MaxValue - 1L).toInt
    if (driverMaxEdges > 0 && driverOrderable(idType) &&
        fwd.limit(capInt + 1).count() <= capInt) {
      val collected = fwd.collect().map(r => (r.get(0), r.get(1)))
      // a null id would MatchError the fast path's comparator where the
      // distributed loop's min/least tolerate nulls — null edges (none of
      // the current pair producers emit them, but the contract must not
      // depend on that) fall through to the distributed path unchanged
      if (!collected.exists { case (a, b) => a == null || b == null }) {
        val labelMap = unionFindLabels(collected)
        val spark = pairs.sparkSession
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", idType),
          org.apache.spark.sql.types.StructField("cluster_id", idType)))
        val rows = labelMap.toSeq.map { case (id, c) => Row(id, c) }
        return (spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema), 0)
      }
    }
    val (edges, edgesRdd) = materializeLeaf(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // labels(0) = least(id, min neighbor id) — round 0 of propagation
    // against identity labels needs no join (neighbor labels ARE the dst
    // ids), so it collapses into the init aggregate and the loop starts
    // one full round ahead; edges are symmetric, so grouping by src
    // covers every node
    var (labels, labelsRdd) = materializeLeaf(
      edges.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("cluster_id"))
        .select(col("src").as("id"), col("cluster_id")))
    var iters = 0
    var changed = 1L
    val oldIdx = 1 // __old's position in the materialized (id, __old, cluster_id) rows
    val newIdx = 2
    while (changed > 0 && iters < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("__nl")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("__nl")).as("__nmin"))
      // stepped is a LEAF before the pointer-doubling self-join: the
      // doubling plan embeds stepped TWICE, and leafing first guarantees
      // the 3-shuffle neighbor-min pipeline runs once per round instead
      // of relying on exchange reuse to dedupe the twin subtrees
      val (stepped, steppedRdd) = materializeLeaf(labels
        .join(neighborMin.select(col("src").as("id"), col("__nmin")), Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("__old"),
          least(col("cluster_id"), coalesce(col("__nmin"), col("cluster_id")))
            .as("cluster_id")))
      // pointer doubling: label(x) <- min(label(x), label(label(x))).
      // cluster_id is always a node id from the same component (labels
      // start as own ids and only ever take values from other labels),
      // so the self-join key always resolves. The convergence count is
      // folded into the materialization job (accumulator) — no separate
      // changed-count job per round.
      val (next, nextRdd, nChanged) = materializeLeafCounting(stepped.alias("s")
        .join(stepped.select(col("id").as("__pid"), col("cluster_id").as("__pl"))
          .alias("p"), col("s.cluster_id") === col("__pid"), "left")
        .select(col("s.id").as("id"), col("s.__old").as("__old"),
          least(col("s.cluster_id"), coalesce(col("__pl"), col("s.cluster_id")))
            .as("cluster_id")),
        r => r.get(newIdx) != r.get(oldIdx))
      changed = nChanged
      if (sys.env.contains("GRAFT_DEBUG_CLUSTERS"))
        println(s"[clusters] round $iters changed=$changed")
      steppedRdd.unpersist(blocking = false)
      labelsRdd.unpersist(blocking = false) // next is materialized; prev round free
      labels = next.select(col("id"), col("cluster_id"))
      labelsRdd = nextRdd
      iters += 1
    }
    require(changed == 0, s"label propagation did not converge in $maxIters rounds")
    edgesRdd.unpersist(blocking = false)
    // the returned frame is a narrow projection over the last round's
    // materialized leaf; callers running many clusterings can release
    // the blocks by letting the frame go unreferenced (ContextCleaner)
    (labels.withColumnRenamed("id", "doc_id"), iters)
  }

  /** Canonical survivors after clustering: every unpaired document plus
    * the min-id representative of each near-dup cluster.
    */
  def canonicalDocs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = clusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    docs.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** Shared tail of [[contamination]] and [[bloomContamination]]: the
    * per-document distinct-shingle counts joined against a per-document
    * overlap-hit frame. One definition, because the two operators are
    * contractually pinned to IDENTICAL output (the sketch cuts join
    * volume, never the answer) — sharing the arithmetic keeps that true
    * by construction instead of by parallel maintenance.
    */
  private def contaminationReport(docs: DataFrame, idCol: String,
                                  textCol: String, n: Int,
                                  hits: DataFrame): DataFrame = {
    val own = docs.select(col(idCol).as("id"),
        size(array_distinct(TextAnalysis.shingleArray(col(textCol), n)))
          .cast(LongType).as("n_shingles"))
      .filter(col("n_shingles") > 0)
    own.join(hits, Seq("id"), "left")
      .select(col("id"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("overlap_ratio"))
  }

  /** Benchmark decontamination: for every document, how many of its
    * distinct word n-grams also appear anywhere in `bench` (the eval/test
    * corpus), plus the overlap ratio — the standard train-set
    * contamination check before a training run.
    *
    * Scale posture: the benchmark shingle set is eval-corpus-sized (MBs),
    * so it is BROADCAST; the training corpus is scanned once — its
    * per-document shingle counts come from a narrow array projection
    * (no corpus-wide distinct), and only the rows whose shingle HITS the
    * broadcast set (∝ contamination, not corpus size) reach the per-doc
    * count shuffle. Documents with no n-grams are excluded.
    */
  def contamination(docs: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val benchShingles = bench
      .select(explode(TextAnalysis.shingleArray(col(textCol), n)).as("shingle"))
      .distinct()
    val hits = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.shingleArray(col(textCol), n)).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy(col("id")).agg(countDistinct(col("shingle")).as("n_overlap"))
    contaminationReport(docs, idCol, textCol, n, hits)
  }

  /** [[contamination]]'s scale path for when the benchmark shingle SET
    * outgrows an exact broadcast (≳10^8 distinct shingles is multi-GB of
    * strings): the membership test ships as a Bloom SKETCH over the
    * shingles' 64-bit hashes instead — ~10 bits/item at 1% fpp, so a
    * 10^8-shingle benchmark is a ~120 MB task-side constant. The sketch
    * prefilters the corpus's exploded shingles map-side (catalyst's
    * native `might_contain`, codegen'd — the expression Spark's own
    * runtime row-filtering injects), so only PROBABLE hits — true hits
    * plus an fpp-fraction of the corpus shingle volume — ever reach the
    * exact semi-join that removes false positives. That residual join is
    * a plain shuffle join sized by contamination, NOT corpus size, and
    * never needs the bench set broadcast. Output is EXACTLY
    * [[contamination]]'s: the sketch cuts join volume, never the answer
    * (property-pinned in DedupSpec).
    *
    * `expectedItems < 0` derives the sketch size from a distinct count
    * over the bench side (bench-sized job; pass the estimate when the
    * bench is itself huge).
    */
  def bloomContamination(docs: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int = 3,
                         fpp: Double = 0.01,
                         expectedItems: Long = -1L): DataFrame = {
    val benchShingles = bench
      .select(explode(TextAnalysis.shingleArray(col(textCol), n)).as("shingle"))
      .distinct()
      .persist(Disk)
    try {
      val hashed = benchShingles.select(xxhash64(col("shingle")).as("h"))
      // gate the empty path on ACTUAL emptiness, never the caller's
      // estimate alone: a truncated bench table with a stale positive
      // size estimate must still take it (take(1) over the persisted
      // shingle set — stops at the first row, no full count)
      val items =
        if (expectedItems > 0) { if (hashed.isEmpty) 0L else expectedItems }
        else if (expectedItems == 0) 0L
        else hashed.count()
      if (items == 0L) {
        // an EMPTY benchmark contaminates nothing — and Spark's
        // bloomFilter aggregate over zero rows returns a null buffer
        // that NPEs downstream (a truncated bench table would kill the
        // whole decontamination job instead of passing everything)
        val hits = docs.select(col(idCol).as("id")).limit(0)
          .withColumn("n_overlap", lit(0L))
        return eagerly(contaminationReport(docs, idCol, textCol, n, hits),
          benchShingles)
      }
      val bf = hashed.stat.bloomFilter("h", math.max(items, 1L), fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val probablyInBench = org.apache.spark.sql.graftshim.Shim
        .bloomMightContain(bos.toByteArray, xxhash64(col("shingle")))

      val hits = docs
        .select(col(idCol).as("id"),
          explode(TextAnalysis.shingleArray(col(textCol), n)).as("shingle"))
        .filter(probablyInBench) // map-side: non-hits never shuffle
        // exact residual join (no broadcast REQUIRED — the bench side may
        // exceed any broadcast threshold; AQE may still pick one when it
        // happens to fit, which is fine)
        .join(benchShingles, Seq("shingle"), "left_semi")
        .groupBy(col("id")).agg(countDistinct(col("shingle")).as("n_overlap"))
      eagerly(contaminationReport(docs, idCol, textCol, n, hits), benchShingles)
    } catch {
      case t: Throwable => benchShingles.unpersist(blocking = false); throw t
    }
  }

  /** 64 signature bits: with `maxHamming = 1` banding that is 2 bands of
    * 2^32 keys each — a band key space that still spreads a billion-doc
    * corpus (E[bucket] ~ n/2^32), unlike 32-bit SimHash whose 2^16 keys
    * per band put every bucket over the cap at ~10^8 docs.
    */
  val SimhashBits = 64

  /** 64-bit SimHash: per-token hash = first 16 md5 hex digits as a long;
    * bit b of the signature is set iff tokens with bit b set outnumber
    * those without (ties count as set). Tokens vote with multiplicity.
    * One groupBy with 64 map-side-combinable sums.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two 32-bit halves via conv (conv of 16 hex digits would cross the
    // signed-long range and null out under cast); hi << 32 wraps into the
    // sign bit exactly like the native expression's big-endian load
    val hHi = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType)
    val hLo = conv(substring(md5(col("tok")), 9, 8), 16, 10).cast(LongType)
    val tok = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", shiftleft(hHi, 32).bitwiseOR(hLo))
    val voteCols = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"v$b"))
    val votes = tok.groupBy(col("id")).agg(voteCols.head, voteCols.tail: _*)
    votes.select(col("id"),
      (0 until SimhashBits).map(b =>
        when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash as a NARROW projection via the native
    * [[graft.functions.SimHash]] expression — same values as [[simhash]]
    * with no token explode and no shuffle; null-text rows (absent from
    * the exploded form) are filtered.
    */
  def simhashNarrow(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), graft.functions.SimHash(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming`. All-pairs formulation
    * for oracle-checkable sizes; the scale path buckets signature bands
    * (split the 64 bits into (maxHamming+1) bands — any pair within the
    * radius shares at least one exact band, pigeonhole) and compares only
    * within buckets.
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    val a = sig.select(col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = sig.select(col("id").as("id_b"), col("simhash").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs at scale: band the signature into
    * (maxHamming+1) chunks; by pigeonhole any pair within the Hamming
    * radius collides on >= 1 exact band. Join per band bucket, distinct,
    * then verify the radius — no cross join.
    */
  def simhashPairsBanded(sig: DataFrame, maxHamming: Int,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nBands = maxHamming + 1
    val width = SimhashBits / nBands + (if (SimhashBits % nBands == 0) 0 else 1)
    val bandStructs = array((0 until nBands).map { b =>
      val bits = math.min(width, SimhashBits - b * width)
      // (1L << 64) wraps to 1 in JVM shift semantics — a full-width band
      // (maxHamming = 0) masks with -1L (all 64 bits) explicitly
      val mask = if (bits >= 64) -1L else (1L << bits) - 1L
      val key = shiftright(col("simhash"), b * width).bitwiseAND(mask)
      struct(lit(b).as("band_id"), key.as("band_key"))
    }: _*)
    // one pass over the signature (vs a union re-evaluating it per band),
    // persisted because the cap's bucket count, then both sides of the
    // bucket self-join, consume it
    val bandedAll = sig.select(col("id"), col("simhash"), explode(bandStructs).as("band"))
      .select(col("band.band_id").as("band_id"), col("band.band_key").as("band_key"),
        col("id"), col("simhash"))
      .persist(Disk)
    // same super-bucket guard as lshCandidates (drops recorded in
    // CapMetrics under "simhash_banded"): a boilerplate-dominated band
    // value must not force a quadratic single-bucket self-join
    val (bounded, counts, recordCap) = capByKey(bandedAll, Seq("band_id", "band_key"),
      maxBucket, "simhash_banded")
    val banded = bounded.persist(Disk)
    val a = banded.select(col("band_id"), col("band_key"),
      col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_id"), col("band_key"),
      col("id").as("id_b"), col("simhash").as("sh_b"))
    val result = a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast(LongType).as("hamming"))
      // filter BEFORE distinct: hamming is a pure function of the pair,
      // so the order is semantically free, and the distinct exchange
      // then carries only matches instead of every bucket-collision
      // candidate (most of which a dense bucket produces just to discard)
      .filter(col("hamming") <= maxHamming)
      .distinct()
    eagerlyWith(result, recordCap, Seq(bandedAll, banded) ++ counts: _*)
  }

  /** Corpus-level repeated-n-gram span coverage — the fixed-n core of
    * exact SUBSTRING deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", §3.1): any n-token
    * sequence occurring ≥ `minCount` times ACROSS the corpus is
    * duplicated text (boilerplate, licenses, mirrored passages — the
    * spans a model memorizes first), and each document reports how many
    * of its tokens flagged spans cover. Coverage is the union of the
    * overlapping `[start, start+n)` intervals, computed by
    * gaps-and-islands (a new island when the next flagged start is ≥ n
    * past the previous; each island covers `max−min+n` tokens) — no
    * per-token explode, no interval self-join.
    *
    * This is the token-level tier between [[graft.ops.TextAnalysis]]'s
    * segment boilerplate removal (line-exact) and MinHash (whole-doc
    * fuzzy): it finds VERBATIM spans shorter than a segment and smaller
    * than a document. Lee et al. use suffix arrays for unbounded match
    * length; fixing n trades tail length for a pure groupBy pipeline —
    * one corpus-sized (gram-keyed) shuffle + one doc-keyed window, both
    * map-side combined, skew-free (gram keys are near-unique outside
    * the flagged set). At 100 TB the gram shuffle is the honest price
    * of EXACT substring semantics; sampled or hashed-gram variants
    * reduce it at recall cost.
    */
  /** Shared flagged-span stage for [[repeatedNgramCoverage]] and
    * [[removeRepeatedNgramSpans]]: per doc, the MERGED intervals of
    * corpus-repeated n-grams as `(id, island, lo, hi)` (1-based token
    * positions, `hi` inclusive). One gram-keyed shuffle + one doc-keyed
    * window; both operators consume THIS frame, so the gram expression
    * and the island break condition can never drift between them.
    */
  /** Returns (islands, persisted gram stream): the SECOND element is the
    * corpus-sized cached intermediate backing the first — the caller must
    * hand it to [[eagerly]] with its own result so it is released when
    * the invocation's terminal action materializes (r18 ADVICE: returning
    * only the lazy plan leaked one corpus-sized cache entry per call for
    * the session lifetime, and a lingering entry can serve STALE rows to
    * a later identical-plan invocation after the corpus path grows — the
    * rootPaths-only cache-match hazard documented at [[eagerlyDetachedWith]]).
    */
  private def flaggedIslands(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, minCount: Int,
                             hashGrams: Boolean = false,
                             cmsPrefilterW: Int = 0,
                             cmsPrefilterD: Int = 2): (DataFrame, DataFrame) = {
    require(n >= 2 && minCount >= 2, s"need n>=2, minCount>=2; got $n, $minCount")
    val toks = docs.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
    // hashGrams: the 100 TB variant — the gram-keyed shuffle carries a
    // fixed 8-byte BIGINT (60-bit md5 prefix; the CAST matters — conv()
    // alone returns a up-to-19-char decimal STRING, giving back most of
    // the width) instead of the ~50-byte n-gram string. A hash collision
    // can only FALSE-POSITIVE a gram into the flagged set (never unflag
    // a real repeat) at ~2⁻⁶⁰ per pair — deterministic, and identical on
    // any engine that replays the same md5 prefix. The oracle-checked
    // queries run the exact string keys; the hashed form shares their
    // oracle and a spec pins hashed == exact on real data.
    val gramKey =
      if (hashGrams)
        s"CAST(conv(substring(md5(array_join(slice(w, i, $n), ' ')), 1, 15), 16, 10) AS BIGINT)"
      else s"array_join(slice(w, i, $n), ' ')"
    val grams = toks.select(col("id"), explode(expr(
      s"""transform(sequence(1, size(w) - ${n - 1}),
         |i -> struct(i AS start, $gramKey AS g))"""
        .stripMargin.replace("\n", " "))).as("p"))
      .select(col("id"), col("p.start").as("start"), col("p.g").as("g"))
    // cmsPrefilterW > 0: drop grams BEFORE the gram-keyed shuffle using a
    // Count-Min sketch of gram frequencies ([[Sketch]]). The sketch pass
    // is map-side combined (≤ d·w cells per partition cross the wire) and
    // the per-occurrence estimate is d BROADCAST joins — no shuffle — so
    // only grams whose estimate ≥ minCount reach the exact count. CMS
    // error is ONE-SIDED (est ≥ truth): a truly-repeated gram can never
    // be dropped, and false keeps die at the exact groupBy that follows,
    // so the answer is identical to the unfiltered form for ANY (d, w)
    // (spec-pinned, ExtensionsSpec "CMS-prefiltered coverage").
    //
    // WHEN IT PAYS — the honest α-law: the filter only drops a unique
    // gram when at least one of its d buckets holds < minCount total
    // mass, so with α = distinct_grams / w the expected keep-rate of a
    // unique gram is ≈ (1 − e^−α)^d. It therefore needs w within a
    // small factor of distinct/minCount while d·w cells stay
    // broadcastable. For boilerplate thresholds (minCount ≥ ~50) or
    // vocabulary-shaped corpora that holds at any scale; for minCount=2
    // over mostly-unique grams it holds only while the corpus is small —
    // at 100 TB exact count≥2 detection is communication-bound (every
    // distinct gram key must reach a common reducer once) and the 8-byte
    // hashed-gram shuffle IS the floor; the sketch saturates (α ≫ 1,
    // keeps everything) and just adds CPU. Measured, not implied: see
    // the round-10 SCALING entry for q_ngram_spans_cms.
    val candGrams =
      if (cmsPrefilterW <= 0) grams
      else {
        val d = cmsPrefilterD
        val w = cmsPrefilterW
        val sketch = Sketch.cmsSketch(grams, "g", d, w)
        (0 until d).foldLeft(grams) { (acc, j) =>
          val cells = sketch.filter(col("j") === j)
            .select(col("bucket").as(s"__bk$j"), col("cnt").as(s"__c$j"))
          acc.join(broadcast(cells),
            Sketch.cmsBucket(col("g"), lit(j), w) === col(s"__bk$j"), "left")
        }
          .filter(least((0 until d).map(j =>
            coalesce(col(s"__c$j"), lit(0L))): _*) >= minCount)
          .select(col("id"), col("start"), col("g"))
      }
    // the gram stream feeds BOTH the flagged aggregate (the broadcast
    // build side of the semi-join below) and the probe side — without a
    // persist the explode + per-gram hash subtree is planned TWICE (r18
    // plan capture: two Generate nodes over the same scan; the broadcast
    // build defeats exchange reuse, the same shape the set-sim prefix
    // fix closed). The broadcast job runs first and populates the
    // cache; the probe stage reads it. Rows are narrow (id, start, g) —
    // at 100 TB this trades one disk-cached pass of ~24-byte rows
    // against a second full explode + hash of every gram occurrence.
    val candGramsP = candGrams.persist(Disk)
    val flagged = candGramsP.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("g"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("start"))
    (candGramsP.join(flagged, Seq("g"), "left_semi")
      .withColumn("prev", lag(col("start"), 1).over(byDoc))
      .withColumn("brk",
        when(col("start") - col("prev") >= n, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min(col("start")).as("lo"), (max(col("start")) + n - 1).as("hi")),
      candGramsP)
  }

  def repeatedNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 8, minCount: Int = 2,
                            hashGrams: Boolean = false,
                            cmsPrefilterW: Int = 0,
                            cmsPrefilterD: Int = 2): DataFrame = {
    val (islands, gramStream) = flaggedIslands(docs, idCol, textCol, n,
      minCount, hashGrams, cmsPrefilterW, cmsPrefilterD)
    val covered = islands
      .groupBy(col("id"))
      .agg(sum(col("hi") - col("lo") + 1).cast(LongType).as("covered"))
    // EVERY document reports — clean docs at covered 0 (the rows a
    // coverage-distribution or keep-gate consumer most wants), matching
    // the contamination operator's left-join convention
    eagerly(
      docs.select(col(idCol).as("id"),
          size(TextAnalysis.tokens(col(textCol))).cast(LongType).as("n_tokens"))
        .join(covered, Seq("id"), "left")
        .na.fill(0L, Seq("covered"))
        .select(col("id"), col("n_tokens"), col("covered")),
      gramStream)
  }

  /** The REMOVAL counterpart of [[repeatedNgramCoverage]]: every token
    * covered by a flagged span is dropped and the survivors rejoin in
    * order — the cleaned corpus Lee et al.'s pipeline actually trains
    * on (their §4: removing the duplicated spans, not the documents).
    * Docs the spans never touched pass through byte-identical; a doc
    * that was ALL duplicated text survives empty (the caller's
    * quality gate decides its fate, same contract as
    * [[graft.ops.TextAnalysis.removeBoilerplate]]).
    *
    * The flagged islands collapse to a per-doc RANGE LIST (islands are
    * few — merged intervals, not positions), broadcast back onto the
    * token array as one `filter(... !exists(ranges, …))` projection —
    * no per-token shuffle, and the doc-keyed aggregation reuses the
    * coverage pipeline's one window.
    */
  def removeRepeatedNgramSpans(docs: DataFrame, idCol: String,
                               textCol: String, n: Int = 8,
                               minCount: Int = 2,
                               hashGrams: Boolean = false,
                               cmsPrefilterW: Int = 0,
                               cmsPrefilterD: Int = 2): DataFrame = {
    val (islands, gramStream) = flaggedIslands(docs, idCol, textCol, n,
      minCount, hashGrams, cmsPrefilterW, cmsPrefilterD)
    val ranges = islands
      .groupBy(col("id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("rs"))
    // Positions are real ELEMENT values of a sequence() array rather
    // than lambda-index arguments: Spark's index-aware lambdas are
    // 0-based while DuckDB's are 1-based — value-positions keep the
    // kernel and its oracle structurally identical instead of hiding an
    // off-by-one in each engine's lambda convention. The keep-test is
    // exists-over-the-MERGED-RANGES (O(n_tokens × n_islands) per doc,
    // matching the oracle's list_filter over r.rs) — NOT a flattened
    // covered-positions array: a mostly-covered 100k-token boilerplate
    // doc would make array_contains an O(n_tokens × covered) single-task
    // scan, ~10^10 comparisons for one document.
    eagerly(
      docs.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("w"))
        .join(ranges, Seq("id"), "left")
        .select(col("id"), array_join(
          when(col("rs").isNull, col("w")).otherwise(expr(
            // token at 1-based position p survives iff no island covers p;
            // dropped tokens become NULL then filter out (split() tokens
            // are never null themselves)
            """filter(transform(sequence(1, size(w)),
              |p -> IF(exists(rs, r -> p >= r.lo AND p <= r.hi),
              |NULL, element_at(w, p))),
              |x -> x IS NOT NULL)""".stripMargin.replace("\n", " "))),
          " ").as("text")),
      gramStream)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic content-hash sampling and dataset splitting — the
  * reproducible alternative to `df.sample` for training-data pipelines:
  * assignment depends only on the row's key, so it is stable across
  * runs, engines, partitionings and cluster sizes, and never needs a
  * seed exchange or a persisted sample table. Pure narrow projections —
  * no shuffle, no state.
  *
  * Hash = first 4 hex digits of md5 of the key rendered as a string
  * (engine-portable; same value in DuckDB/any SQL with md5). The 65536
  * hash values modulo `buckets` carry a ≤0.06% bucket-size bias for
  * buckets=100 — irrelevant for split purposes and identical on every
  * engine.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from the key's md5. Null keys
    * coalesce to "" (the [[stratumBucket]] convention) instead of
    * hashing to NULL — a null bucket would make every split/sample
    * predicate null-out, silently dropping the null-key population from
    * samples and routing it wholesale into a split's otherwise() arm.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 4), 16, 10)
      .cast("long") % buckets

  /** Add a `split` column ("train"/"val"/"test") by hash bucket:
    * [0, trainPct) → train, [trainPct, trainPct+valPct) → val, rest test.
    */
  def deterministicSplit(df: DataFrame, keyCol: String,
                         trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val b = hashBucket(col(keyCol), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Keep ~pct% of rows, chosen deterministically by key hash. */
  def sampleByHash(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(keyCol), 100) < pct)

  /** Keep ~pct% of rows within EACH stratum (e.g. per source/language),
    * deterministically: the bucket key mixes stratum and row key, so the
    * sample stays unbiased inside every stratum even when row keys
    * cluster by stratum (sequential ids per source, say). The mix
    * concatenates the two parts' fixed-width md5 digests, so no
    * (stratum, key) pair can collide with another by sharing a separator
    * character, and nulls coalesce to "" identically on every engine.
    * Narrow — the balanced-mixture builder for training-data curation.
    */
  def stratifiedSampleByHash(df: DataFrame, strataCol: String, keyCol: String,
                             pct: Int): DataFrame =
    df.filter(stratumBucket(col(strataCol), col(keyCol)) < pct)

  /** The stratum-mixed bucket shared by stratified/weighted sampling:
    * fixed-width md5 digests of both parts concatenated (no separator
    * ambiguity), nulls coalesced to "" identically on every engine.
    */
  def stratumBucket(strata: Column, key: Column): Column =
    hashBucket(
      concat(md5(coalesce(strata.cast("string"), lit(""))),
        md5(coalesce(key.cast("string"), lit("")))),
      100)

  /** Weighted training mixture: keep ~pctByStratum(s)% of each stratum
    * `s` (and `defaultPct`% of unlisted strata) — the per-source mixture
    * builder (e.g. wiki at 100%, web at 30%). Deterministic, narrow, and
    * nested across weight changes: raising one source's weight only ADDS
    * rows from that source, so mixture iterations reuse shards.
    */
  def weightedMixture(df: DataFrame, strataCol: String, keyCol: String,
                      pctByStratum: Map[String, Int],
                      defaultPct: Int = 0): DataFrame = {
    val pct = pctByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (s, p)) => when(col(strataCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(stratumBucket(col(strataCol), col(keyCol)) < pct)
  }

  /** Per-key cap: keep the first `cap` rows of each `keys` group in
    * `order` (e.g. at most N documents per domain — the anti-boilerplate
    * mixture guard). Two-phase for hot keys: a LOCAL cap within each
    * input partition first (window keyed on (keys, partition id) — the
    * shuffle key carries the partition salt, so a 10^8-row domain spreads
    * over all reducers and at most cap·P of its rows survive to phase 2),
    * then the global cap on the survivors. Result is identical to the
    * single-phase form for any partitioning (phase 1 keeps a superset of
    * every group's global first `cap`: a group's partition-local rank is
    * a lower bound of its global rank).
    */
  def capPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column],
                cap: Int): DataFrame = {
    require(cap >= 1, s"need cap >= 1; got $cap")
    import org.apache.spark.sql.expressions.Window
    val localW = Window
      .partitionBy((keys :+ "__part").map(col): _*).orderBy(order: _*)
    val globalW = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__part", spark_partition_id()) // projected first: non-
      // deterministic exprs can't sit inside a window partition spec
      .withColumn("__lrn", row_number().over(localW))
      .filter(col("__lrn") <= cap)
      .withColumn("__rn", row_number().over(globalW))
      .filter(col("__rn") <= cap)
      .drop("__part", "__lrn", "__rn")
  }
}

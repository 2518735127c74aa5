package graft

import org.apache.spark.sql.SparkSession

/** Session recipes: the configuration contract the engine's plans assume,
  * in one place instead of scattered across spark-submit scripts.
  *
  * Two shapes:
  *   - [[local]] — the harness/test session (single JVM, narrow shuffle
  *     width sized to the core count, AQE on).
  *   - [[clusterBuilder]] — the 100 TB posture. Master/deploy-mode/
  *     executor sizing stay on the `spark-submit` line where they belong;
  *     this builder carries only the SQL-layer settings graft's physical
  *     plans are designed against, so a deployment can't silently drop
  *     one (e.g. lose skew-join handling and rediscover the hot-domain
  *     problem as a 4-hour straggler).
  *
  * Why each cluster setting (all documented Spark knobs):
  *   - AQE + coalescePartitions: `spark.sql.shuffle.partitions` is set
  *     WIDE (4096) as a planning ceiling and AQE coalesces to the
  *     advisory size after each exchange — small stages don't pay 4096
  *     tasks, big stages don't choke on 32. The engine never hand-tunes
  *     per-query widths.
  *   - skewJoin: banded near-dup and FK joins over power-law corpora
  *     produce skewed shuffle keys even with the super-bucket cap;
  *     AQE splitting is the runtime backstop behind `ops.Scale`'s
  *     explicit salting.
  *   - autoBroadcastJoinThreshold 64m: graft's dimension tables (nation/
  *     region/part-slices, LSH band indexes, LM buckets) are designed to
  *     broadcast; the 10m default re-plans them as shuffle joins at
  *     cluster scale.
  *   - files.maxPartitionBytes 256m: parquet split size that keeps a
  *     100 TB scan around ~400k input tasks instead of 800k+ with the
  *     128m default while still fitting comfortably in executor memory
  *     for graft's widest rows (embeddings + binary payloads).
  *   - UTC session timezone: every timestamp comparison and window in
  *     the query set assumes it (the oracle runs UTC).
  *   - `GraftExtensions`: registers the native expressions so the SQL
  *     surface (`minhash_signature(...)`, `cosine_sim(...)`, ...) exists
  *     on every session, not just ones built through [[local]].
  */
object Sessions {

  /** Single-JVM session for tests/dev: `local[cpus]`, shuffle width =
    * core count (32 partitions at 32 cores beats the 200 default: every
    * stage fits one wave).
    *
    * Scan-split floor (r18): `openCostInBytes` defaults to 4 MB, which
    * FLOORS the computed split size at 4 MB — a sub-4 MB parquet corpus
    * (every local test SF) scans as ONE task no matter how many cores
    * the session has, and the tokenize/md5-heavy corpus scans are
    * CPU-bound, not I/O-bound, so the other cpus−1 cores sit idle for
    * the whole stage. Lowering the open-cost floor to 64 KB lets the
    * standard split formula — `bytesPerCore = (totalBytes +
    * numFiles·openCost) / minPartitionNum`, split size
    * `min(maxPartitionBytes, max(openCost, bytesPerCore))`; note each
    * FILE is charged openCost in the numerator, which matters for
    * many-small-file corpora — derive the split size from the CORE
    * COUNT — the scale-adaptive behavior, not a constant: at
    * SPARK_GRAFT_CPUS=8 the same data yields proportionally fewer
    * splits, and effective parallelism is still bounded by the file's
    * row-group layout. The cluster posture ([[ClusterConf]]) is
    * untouched: at 100 TB splits are sized by `maxPartitionBytes=256m`
    * and the floor never engages (input ≫ cores × openCost).
    */
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count for the hand-run tools: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. (`Bench` and `Verify` keep their own defaults —
    * `Bench.DefaultCpus` is part of its record policy.)
    */
  def toolCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Release EVERYTHING between timed runs: `catalog.clearCache()` only
    * drops CacheManager-tracked DataFrame caches — raw `rdd.persist`
    * blocks (materializeLeaf leaves, the LSH signature stage) are not in
    * that registry and would accumulate disk blocks across the 66×3
    * query invocations of a bench session.
    */
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The cluster posture, as data — one source of truth the builder
    * applies and specs/deploy scripts can read (`--conf` lines are
    * exactly these pairs).
    */
  val ClusterConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128m",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "4096",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    "spark.sql.files.maxPartitionBytes" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    // the native SQL function surface (minhash_signature, cosine_sim,
    // ...) — absent from the --conf contract, a deployment built from
    // these pairs alone would silently lose every graft SQL function,
    // exactly the dropped-knob failure this map exists to prevent
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  /** [[ClusterConf]] pre-applied (see object doc for the rationale per
    * knob). Returns the builder so the caller adds `appName`/master
    * overrides and calls `getOrCreate()` — deploy concerns stay at the
    * call site.
    */
  def clusterBuilder(appName: String = "graft"): SparkSession.Builder =
    ClusterConf.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.withExtensions(new functions.GraftExtensions)
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single scan with a codegen'd
  * dot-product expression and TakeOrderedAndProject (per-partition top-k,
  * k-row driver merge; no global sort, no collect). Scale path: sign-LSH
  * (random-hyperplane) bucketing — probe only the query's bucket(s), so
  * the scan cost drops from n to n / 2^planes per probe.
  *
  * All arithmetic is double-precision with a sequential fold, matching
  * the DuckDB oracle's list_cosine_similarity evaluation order.
  */
object Similarity {

  /** Cosine similarity between two array<float|double> columns: the
    * fused single-loop native expression (graft.functions.
    * CosineSimilarity) — zero allocation per pair, whole-stage codegen.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Composable higher-order-function formulation of [[cosine]] (zip_with
    * + folds). Numerically identical (same element order, double
    * accumulation); kept as the reference implementation the native
    * expression is verified against in ExtensionsSpec.
    */
  def cosineHof(a: Column, b: Column): Column = {
    def fold(xs: Column): Column =
      aggregate(xs, lit(0.0d), (acc, x) => acc + x)
    val ad = transform(a, x => x.cast(DoubleType))
    val bd = transform(b, x => x.cast(DoubleType))
    val dot = fold(zip_with(ad, bd, (x, y) => x * y))
    val na = fold(transform(ad, x => x * x))
    val nb = fold(transform(bd, x => x * x))
    // zero-norm → NULL, mirroring the native expression: the raw 0/0
    // NaN would outrank every real match in a descending top-k
    when(na === 0.0d || nb === 0.0d, lit(null).cast(DoubleType))
      .otherwise(dot / sqrt(na * nb))
  }

  /** Brute-force exact top-k by cosine to a single query vector, which is
    * inlined as a literal (broadcast-by-plan: no join, no shuffle — one
    * scan + TakeOrderedAndProject).
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     query: Array[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    vectors
      .select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived uniform in [-1, 1]. Engine-independent and seed-free so
    * index build and query always agree.
    */
  private def planeComponent(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$plane:dim:$dim".getBytes("UTF-8"))
      .take(7).map("%02x".format(_)).mkString
    val v = java.lang.Long.parseLong(hex, 16).toDouble / 0xFFFFFFFFFFFFFFL.toDouble
    v * 2.0 - 1.0
  }

  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(d => planeComponent(p, d)))

  /** Sign-LSH bucket id of a vector column: bit p set iff dot(v, plane_p)
    * >= 0. A pure expression over literal plane arrays — evaluated at scan
    * time, usable as a partition/bucketing key for the index layout.
    *
    * Guarded: a row whose vector length differs from the plane dimension
    * raises at execution instead of silently bucketing on a truncated
    * prefix (`zip_with` zips to the shorter array — a 768-dim embedding
    * against 64-dim planes would otherwise hash 64 components and drop
    * 704 without a signal).
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val dim = planes.head.length
    val bucket = planes.zipWithIndex.map { case (plane, p) =>
      val planeCol = array(plane.map(lit): _*)
      val dot = aggregate(
        zip_with(transform(vec, x => x.cast(DoubleType)), planeCol, (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(size(vec) === dim, bucket).otherwise(raise_error(concat(
      lit(s"lsh_bucket: expected $dim-dim vector, got dim "),
      size(vec).cast("string"))))
  }

  /** Vector dimension, read from the first row — one narrow single-row
    * fetch. Fails on an empty corpus (there is no dimension to derive).
    */
  def dimOf(vectors: DataFrame, vecCol: String): Int = {
    val head = vectors.select(size(col(vecCol)).as("d")).head(1)
    require(head.nonEmpty, s"cannot derive dim of '$vecCol': no rows")
    head(0).getInt(0)
  }

  /** Plane count sized to the corpus: enough buckets that the EXPECTED
    * bucket population n/2^P sits at ~maxBucket/4 (headroom for hot
    * spots), clamped to [4, 24] — 2^24 partitions is already past any
    * store's file-listing comfort zone for the materialized index layout.
    */
  def nPlanesFor(corpusSize: Long, maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): Int = {
    val target = math.max(1L, maxBucket.toLong / 4)
    val p = math.ceil(math.log(math.max(1.0, corpusSize.toDouble / target)) / math.log(2.0)).toInt
    math.min(24, math.max(4, p))
  }

  /** ANN top-k via sign-LSH: scan only rows whose bucket is within
    * `probeRadius` bit flips of the query's bucket (multi-probe). Exact
    * cosine ranks the probed subset. With the bucket-partitioned index
    * layout ([[writeLshIndex]]/[[probeLshIndex]]) the non-probed
    * partitions are pruned at the source — PlanSpec pins it.
    *
    * Recall/scan tradeoff: with plane count P and radius r the probe
    * covers sum_{i<=r} C(P,i) of 2^P buckets. On clustered real-world
    * embeddings small radii suffice; on isotropic (random) vectors the
    * per-plane agreement for a cosine-θ neighbor is only 1-θ/π, so either
    * fewer planes or a larger radius is needed — callers tune per corpus.
    */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int, nPlanes: Int = 8,
              probeRadius: Int = 1): DataFrame = {
    val probes = probeBuckets(query, nPlanes, probeRadius)
    val planes = hyperplanes(nPlanes, query.length)
    val q = array(query.map(lit): _*)
    vectors
      .withColumn("__bucket", lshBucket(col(vecCol), planes))
      .filter(col("__bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe bucket set for `query`: its own sign-LSH bucket plus
    * every bucket within `probeRadius` bit flips, enumerated as bit-flip
    * combinations (sum_{i<=r} C(P,i) values) instead of scanning all 2^P
    * buckets — driver cost stays polynomial in the plane count.
    */
  def probeBuckets(query: Array[Double], nPlanes: Int, probeRadius: Int): Seq[Long] = {
    require(nPlanes >= 1 && nPlanes <= 62, s"need 1 <= nPlanes <= 62, got $nPlanes")
    val planes = hyperplanes(nPlanes, query.length)
    val qBucket = (0 until nPlanes).map { p =>
      val dot = planes(p).zip(query).map { case (a, b) => a * b }.sum
      if (dot >= 0) 1L << p else 0L
    }.sum
    (0 to probeRadius).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(c => c.foldLeft(qBucket)((b, p) => b ^ (1L << p))))
  }

  /** Materialized ANN index: the corpus written as a `bucket=`-hive-
    * partitioned parquet extract, bucket = sign-LSH bucket of the
    * embedding. This is the layout that turns multi-probe ANN's "scan
    * only probed buckets" from a row filter into SOURCE-level partition
    * pruning: a probe lists only the probed `bucket=` directories
    * (PartitionFilters), so non-probed data is never read — the property
    * PlanSpec pins. Bucket count 2^nPlanes sizes partition granularity;
    * keep it well below the store's file-listing comfort zone.
    *
    * REBUILD over a live path goes through the staged swap: the old
    * index stays probe-able until the new one is completely written — a
    * plain overwrite would delete it first, and a crashed rebuild would
    * take the serving index down with it (the same hazard class the
    * extract refreshes closed in r11).
    */
  def writeLshIndex(vectors: DataFrame, vecCol: String, path: String,
                    nPlanes: Int, dim: Int): Long = {
    val planes = hyperplanes(nPlanes, dim)
    graft.etl.Refresh.overwriteStaged(
      vectors.withColumn("bucket", lshBucket(col(vecCol), planes)),
      path, partitionByCols = Seq("bucket"))
  }

  /** Probe a [[writeLshIndex]] extract: exact cosine top-k over only the
    * probed bucket partitions (same semantics as [[lshTopK]] over the
    * raw corpus, minus the per-row bucket computation — the bucket is
    * the partition key).
    */
  def probeLshIndex(spark: SparkSession, path: String, idCol: String,
                    vecCol: String, query: Array[Double], k: Int,
                    nPlanes: Int, probeRadius: Int = 1): DataFrame = {
    val probes = probeBuckets(query, nPlanes, probeRadius)
    val q = array(query.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF-style ANN: assign every vector to its nearest of `m` coarse
    * centroids (the inverted-file cell), probe only the `nProbe` cells
    * closest to the query, rank the probed subset exactly. Centroids here
    * are a deterministic sample of the corpus (every (n/m)-th vector by
    * id rank) — a k-means refinement drops in without changing the plan
    * shape. With a cell-partitioned index layout, non-probed cells are
    * pruned at the source exactly like the sign-LSH variant's buckets.
    */
  def ivfAssign(vectors: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Long, Array[Double])]): DataFrame = {
    // ZERO centroids (an empty corpus seeds none): there is no cell to
    // assign — NULL cell/sim, never a planner throw (greatest() needs
    // >= 1 arg). On the empty corpus that built them this is zero rows;
    // a caller passing empty centroids over live data sees NULL-cell
    // rows it can observe, not a silent drop.
    if (centroids.isEmpty)
      return vectors.withColumn("__cell", lit(null).cast("bigint"))
        .withColumn("__sim", lit(null).cast("double"))
    // argmax over m centroid similarities, computed as a greatest() over
    // struct(sim, cell) pairs — single scan, no shuffle, codegen'd
    val cells = centroids.map { case (cellId, c) =>
      struct(cosine(col(vecCol), array(c.map(lit): _*)).as("sim"),
        lit(cellId).as("cell"))
    }
    // greatest() requires >= 2 args; one centroid (a 1-row corpus) is
    // trivially its own argmax
    val best = if (cells.length == 1) cells.head else greatest(cells: _*)
    vectors.withColumn("__best", best)
      .withColumn("__cell", col("__best.cell"))
      .withColumn("__sim", col("__best.sim")) // winning similarity — free
      // here, and cell-quality diagnostics need it (q_ivf_stats)
      .drop("__best")
  }

  /** Deterministic coarse centroids: the m lowest-id vectors. */
  def ivfCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                   m: Int): Array[(Long, Array[Double])] =
    vectors.orderBy(col(idCol)).limit(m)
      .select(col(idCol), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** IVF index diagnostics: per-cell population and similarity-to-
    * centroid stats — the index-quality signal (a cell with low mean sim
    * is a poorly-centered region; a giant cell is a probe hot spot and a
    * skew risk for [[semanticDedup]]). One narrow assign scan + one
    * map-side-combined aggregate; output is m rows.
    */
  def ivfCellStats(vectors: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[(Long, Array[Double])]): DataFrame =
    ivfAssign(vectors, idCol, vecCol, centroids)
      .groupBy(col("__cell").as("cell"))
      .agg(count(lit(1)).as("n"),
        avg(col("__sim")).as("mean_sim"),
        min(col("__sim")).as("min_sim"))

  /** Lloyd's (k-means) refinement of the coarse centroids, entirely in
    * DataFrame ops: per round, assign every vector to its nearest
    * centroid by cosine ([[ivfAssign]] — a narrow greatest() scan), then
    * average each cell's members with one map-side-combined groupBy
    * carrying `dim` sum columns (codegen'd; fine for embedding dims in
    * the hundreds — a multi-thousand-dim corpus should refine on a
    * sample). Only m rows ever reach the driver per round.
    *
    * Deterministic: seeded by the id-rank sample, FIXED iteration count,
    * and an emptied cell keeps its previous centroid — index build and
    * probe always agree. Means are used unnormalized (cosine assignment
    * ignores magnitude). Tightened centroids raise probe recall at the
    * same nProbe without changing any plan shape — assignment, index
    * layout, and pruning are identical to the id-rank variant.
    */
  def ivfCentroidsKMeans(vectors: DataFrame, idCol: String, vecCol: String,
                         m: Int, iters: Int = 5): Array[(Long, Array[Double])] = {
    var cents = ivfCentroids(vectors, idCol, vecCol, m)
    if (cents.isEmpty) return cents
    val dim = cents(0)._2.length
    val v = col(vecCol).cast("array<double>")
    (0 until iters).foreach { _ =>
      val sums = ivfAssign(vectors, idCol, vecCol, cents)
        .groupBy(col("__cell"))
        .agg(count(lit(1)).as("__n"),
          (0 until dim).map(i => sum(element_at(v, i + 1)).as(s"__c$i")): _*)
        .collect()
        .map(r => r.getLong(0) ->
          Array.tabulate(dim)(i => r.getDouble(i + 2) / r.getLong(1)))
        .toMap
      cents = cents.map { case (cell, old) => (cell, sums.getOrElse(cell, old)) }
    }
    cents
  }

  private def nearestCells(centroids: Array[(Long, Array[Double])],
                           query: Array[Double], nProbe: Int): Seq[Long] = {
    def cos(c: Array[Double]): Double = {
      val dot = c.zip(query).map { case (a, b) => a * b }.sum
      val na = math.sqrt(c.map(x => x * x).sum)
      val nb = math.sqrt(query.map(x => x * x).sum)
      dot / (na * nb)
    }
    // ties toward the LARGEST cell id — the SAME side [[ivfAssign]]'s
    // greatest(struct(sim, cell)) takes. With duplicate seed centroids
    // (identical vectors among the m lowest ids — likely in a dedup
    // corpus), every tied vector is ASSIGNED to the larger cell; a
    // probe breaking ties the other way would read the EMPTY smaller
    // cell and return zero neighbors for that whole region at nProbe=1.
    centroids.map { case (id, c) => id -> cos(c) }
      .sortBy { case (id, s) => (-s, -id) }.take(nProbe).map(_._1).toSeq
  }

  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int, m: Int = 16,
              nProbe: Int = 4, kmeansIters: Int = 0): DataFrame = {
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(vectors, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(vectors, idCol, vecCol, m)
    val probeCells = nearestCells(centroids, query, nProbe)
    val q = array(query.map(lit): _*)
    ivfAssign(vectors, idCol, vecCol, centroids)
      .filter(col("__cell").isin(probeCells: _*))
      .select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Materialized IVF index: the corpus written as `cell=`-hive-
    * partitioned parquet (cell = nearest coarse centroid), the IVF
    * analog of [[writeLshIndex]] — probing `nProbe` cells becomes
    * source-level partition pruning. Returns the centroids; keep them
    * with the index (they are the probe map).
    *
    * Builds with k-means-REFINED centroids by default
    * ([[ivfCentroidsKMeans]], recall win spec-pinned): an index is
    * built once and probed forever, so the refinement's extra build
    * scans are amortized where they pay most — `kmeansIters = 0` keeps
    * the deterministic id-rank seed for oracle-anchored replays.
    *
    * SIZE `kmeansIters` WITH THE AUDITS (q_ivf_recall_refined /
    * q_ivf_probe_curve), not by habit: on clustered corpora refinement
    * is a large recall win (the spec's fixture: 43/80 → 80/80), but on
    * an unclustered corpus MORE rounds can REDUCE probe recall —
    * measured r14 on the isotropic fixture at nProbe=2/m=8: id-rank
    * 0.36, Lloyd-2 0.48, Lloyd-5 0.26 (k-means converges to a
    * partition whose probe geometry is no better, and the audit is the
    * query that catches it before the index ships).
    *
    * Rebuilds stage-and-swap like [[writeLshIndex]]: the live index
    * survives a crashed or cancelled rebuild.
    */
  def writeIvfIndex(vectors: DataFrame, idCol: String, vecCol: String,
                    path: String, m: Int = 16,
                    kmeansIters: Int = 5,
                    quantized: Boolean = false): Array[(Long, Array[Double])] = {
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(vectors, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(vectors, idCol, vecCol, m)
    val assigned = ivfAssign(vectors, idCol, vecCol, centroids)
      .withColumnRenamed("__cell", "cell").drop("__sim")
    // SQ8 cells: 4× smaller index at recall@10 = 1.0 on the audit
    // fixture (q_sq8_recall_audit) — the middle compression tier between
    // raw floats (1×) and PQ codes (64×, the X161-X168 ladder). The
    // struct(scale, q) column is SELF-DESCRIBING: probes and upserts
    // detect it from the parquet schema, so no sidecar version is needed
    // (the quantizer is stateless per-vector, unlike PQ's codebooks)
    val stored =
      if (quantized) assigned.withColumn(vecCol, quantize8(col(vecCol)))
      else assigned
    graft.etl.Refresh.overwriteStaged(stored, path, partitionByCols = Seq("cell"))
    centroids
  }

  /** True when an index column carries [[quantize8]]'s struct form. */
  private[graft] def isSq8(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fieldNames.toSeq == Seq("scale", "q")
      case _ => false
    }

  /** Probe a [[writeIvfIndex]] extract: exact cosine top-k over only the
    * `nProbe` nearest cells' partitions. SQ8 cells (see
    * `writeIvfIndex(quantized = true)`) are detected from the schema and
    * dequantized inside the scan projection — ranks are audited at
    * recall@10 = 1.0 against the float tier, and the probe reads 4×
    * fewer bytes per row, which at 100 TB is the scan bill.
    */
  def probeIvfIndex(spark: SparkSession, path: String,
                    centroids: Array[(Long, Array[Double])], idCol: String,
                    vecCol: String, query: Array[Double], k: Int,
                    nProbe: Int = 4): DataFrame = {
    val probeCells = nearestCells(centroids, query, nProbe)
    val q = array(query.map(lit): _*)
    val idx = spark.read.parquet(path)
    val vec =
      if (isSq8(idx.schema(vecCol).dataType)) dequantize8(col(vecCol))
      else col(vecCol)
    idx.filter(col("cell").isin(probeCells: _*))
      .select(col(idCol), cosine(vec, q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF probe-budget curve: mean recall@k of the IVF join against the
    * exact top-k, for EVERY probe budget `nProbe ∈ 1..m` in one pass —
    * the query that prices the nProbe dial before a deployment trusts
    * it (a single-point audit says whether 2-of-8 holds the bar; the
    * curve says what budget WOULD). One row per budget:
    * `(n_probe, n_queries, mean_recall_at_k)`.
    *
    * Shape: the exact leg (the sampled ground truth a 100 TB
    * deployment computes on a probe SAMPLE only) is leaf-materialized
    * once — it feeds both the per-budget hit intersection and the
    * denominator grid. The approximate leg ranks each query's cells
    * once (O(m log m) codegen'd per row, the [[ivfCellCandidates]]
    * sort), joins candidates with their cell's RANK in the query's
    * probe order, and explodes each candidate to the budgets that
    * would read it (`sequence(cellrank, m)`) — so all m budgets share
    * ONE cell equi-join instead of m separate probe joins; the blowup
    * is bounded by m × candidates, probe-sample-sized by construction.
    * Mean recall divides exact long hit counts once at the end — no
    * per-row float accumulation order to diverge on.
    *
    * The result is eagerly materialized so the exact leg's backing RDD
    * is released before return (audit queries run in long-lived
    * sessions; a leaked disk-persisted leaf per audit would accrete).
    */
  def ivfProbeCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, m: Int = 16,
                    kmeansIters: Int = 0): DataFrame = {
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    // zero centroids ⟺ empty corpus: nothing to recall against
    if (centroids.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .withColumn("n_probe", lit(1))
        .withColumn("n_queries", lit(0L))
        .withColumn(s"mean_recall_at_$k", lit(0.0))
        .limit(0)
    val (exact, exactRdd) = Dedup.materializeLeaf(
      annJoinExact(queries, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("match_id")))
    // ranked cells per query — the ivfCellCandidates (−sim, −cell) sort,
    // kept with its position so rank 1..m is the probe order
    val cellSims = centroids.map { case (cellId, c) =>
      struct((-cosine(col("__qv"), array(c.map(lit): _*))).as("ns"),
        lit(-cellId).as("negcell"))
    }
    val ranked = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        posexplode(array_sort(array(cellSims: _*))))
      .select(col("query_id"), col("__qv"),
        (col("pos") + 1).as("__cellrank"),
        (-col("col.negcell")).as("__cell"))
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("match_id"), col(vecCol).as("__cv"), col("__cell"))
    val cands = ranked.join(assigned, Seq("__cell"))
      .select(col("query_id"), col("match_id"),
        cosine(col("__qv"), col("__cv")).as("sim"), col("__cellrank"))
      .withColumn("n_probe", explode(sequence(col("__cellrank"), lit(m))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("n_probe"))
      .orderBy(col("sim").desc, col("match_id"))
    val approx = cands.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select("query_id", "n_probe", "match_id")
    val hits = exact.join(approx, Seq("query_id", "match_id"))
      .groupBy("query_id", "n_probe").agg(count(lit(1)).as("n_hits"))
    val grid = exact.select("query_id").distinct()
      .withColumn("n_probe", explode(sequence(lit(1), lit(m))))
    val result = grid.join(hits, Seq("query_id", "n_probe"), "left")
      .groupBy("n_probe")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(coalesce(col("n_hits"), lit(0L))).cast(DoubleType) /
          (count(lit(1)) * k).cast(DoubleType), 4).as(s"mean_recall_at_$k"))
      .orderBy("n_probe")
    Dedup.eagerlyWith(result, () => { exactRdd.unpersist(blocking = false); () })
  }

  /** Sign-LSH probe-RADIUS curve — [[ivfProbeCurve]]'s pattern on the
    * multi-probe dial: mean recall@k of the LSH join per probe radius
    * r ∈ 0..nPlanes, one row per radius, in ONE pass. Radius nPlanes
    * admits every bucket, so the curve saturates at recall 1.0 (the
    * built-in sanity anchor) and the ALL-PAIRS frame it implies is the
    * exact ground truth — one leaf-materialized pair table (probe-
    * sample-sized: the audit runs on a SAMPLED probe set, the same
    * posture as the recall audits) serves the exact leg, every radius
    * tier (each pair explodes to the radii that would read it,
    * `sequence(dist, nPlanes)`), and the denominator grid. Unlike the
    * production path ([[annJoin]]'s flip enumeration, which never
    * materializes pair distances), the audit WANTS the distance per
    * pair — that is the curve's x-axis.
    */
  def lshRadiusCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int, nPlanes: Int = 4): DataFrame = {
    // empty corpus (degenerate tenant): dimOf has no row to read the
    // dimension from — answer the empty curve, mirroring ivfProbeCurve's
    // zero-centroid early return. The guard lives in the OPERATOR so any
    // composed caller degrades cleanly, not just the declared query.
    if (corpus.select(col(vecCol)).take(1).isEmpty)
      return queries.sparkSession.emptyDataFrame
        .withColumn("radius", lit(1))
        .withColumn("n_queries", lit(0L))
        .withColumn(s"mean_recall_at_$k", lit(0.0))
        .limit(0)
    val dim = dimOf(corpus, vecCol)
    val planes = hyperplanes(nPlanes, dim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      lshBucket(col(vecCol), planes).as("__qb"))
    val c = corpus.select(col(idCol).as("match_id"), col(vecCol).as("__cv"),
      lshBucket(col(vecCol), planes).as("__cb"))
    val (pairs, pairsRdd) = Dedup.materializeLeaf(
      q.crossJoin(c).select(col("query_id"), col("match_id"),
        cosine(col("__qv"), col("__cv")).as("sim"),
        bit_count(col("__qb").bitwiseXOR(col("__cb"))).as("__dist")))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id"))
    val exact = pairs.withColumn("__rk", row_number().over(wAll))
      .filter(col("__rk") <= k).select("query_id", "match_id")
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("radius"))
      .orderBy(col("sim").desc, col("match_id"))
    val approx = pairs
      .withColumn("radius", explode(sequence(col("__dist"), lit(nPlanes))))
      .withColumn("__rk", row_number().over(wR))
      .filter(col("__rk") <= k)
      .select("query_id", "radius", "match_id")
    val hits = exact.join(approx, Seq("query_id", "match_id"))
      .groupBy("query_id", "radius").agg(count(lit(1)).as("n_hits"))
    val grid = exact.select("query_id").distinct()
      .withColumn("radius", explode(sequence(lit(0), lit(nPlanes))))
    val result = grid.join(hits, Seq("query_id", "radius"), "left")
      .groupBy("radius")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(coalesce(col("n_hits"), lit(0L))).cast(DoubleType) /
          (count(lit(1)) * k).cast(DoubleType), 4).as(s"mean_recall_at_$k"))
      .orderBy("radius")
    Dedup.eagerlyWith(result, () => { pairsRdd.unpersist(blocking = false); () })
  }

  /** Materialized PQ index: the corpus persisted as `(id, codes)` —
    * `pqM` small codes of payload per vector instead of the raw floats
    * (~100–1000× smaller) — with the codebooks (and, when `ivfCells >
    * 0`, the coarse centroids) in a `_PQ_CODEBOOKS` sidecar, so probes
    * rebuild the exact quantizer without touching the corpus. With
    * `ivfCells > 0` the codes are `cell=`-hive-partitioned by the IVF
    * assignment (the IVF-PQ layout): a probe reads ONLY its probed
    * cells' code files — source-level pruning on an already code-sized
    * index, the standard billion-scale serving layout. Doubles
    * round-trip the sidecar exactly (`Double.toString`/`parseDouble`),
    * so a probe's ADC arithmetic is bit-identical to an in-memory run.
    * The sidecar is written INTO the staging directory before the
    * atomic swap (the `beforeSwap` hook of
    * [[graft.etl.Refresh.overwriteStaged]]), so codes and codebooks
    * commit together: no crash can publish data without its quantizer
    * or a new quantizer over old codes — and a crashed rebuild leaves
    * the previous index (data AND sidecar) fully probe-able.
    */
  def writePqIndex(vectors: DataFrame, idCol: String, vecCol: String,
                   path: String, pqM: Int = 4, pqKs: Int = 8,
                   ivfCells: Int = 0, kmeansIters: Int = 5,
                   residual: Boolean = false): Array[Array[Array[Double]]] = {
    // residual codes are relative to a cell centroid by construction —
    // a flat (cell-less) residual index is not a thing
    require(!residual || ivfCells > 0,
      "residual PQ encodes v - centroid(cell(v)): it needs the IVF layout (ivfCells > 0)")
    val spark = vectors.sparkSession
    // refined cells by default, like writeIvfIndex: the sidecar carries
    // whichever centroids the build used, so probes always agree
    val cents =
      if (ivfCells > 0 && kmeansIters > 0)
        ivfCentroidsKMeans(vectors, idCol, vecCol, ivfCells, kmeansIters)
      else if (ivfCells > 0) ivfCentroids(vectors, idCol, vecCol, ivfCells)
      else Array.empty[(Long, Array[Double])]
    val cbOpt = pqQuantizerOpt(vectors, idCol, vecCol, cents, pqM, pqKs,
      residual)
    if (cbOpt.isEmpty) {
      // corpus < ks (dead tenant, truncated source): a scheduled rebuild
      // records ONE clean skip — an empty-but-readable code table plus an
      // `absent empty-corpus` sidecar — instead of failing every tick.
      // Probes on the skip artifact serve empty candidates; direct
      // pqCodebooks/readPqSidecar calls still refuse loudly. Committed
      // through the same staged swap, so a crash here also leaves any
      // previous index fully probe-able.
      val emptyCodes = vectors
        .select(col(idCol), typedLit(Seq.empty[Int]).as("codes")).limit(0)
      graft.etl.Refresh.overwriteStaged(emptyCodes, path,
        beforeSwap = staging =>
          writePqAbsentSidecar(spark, staging.toString, pqM, pqKs))
      return Array.empty
    }
    val cb = cbOpt.get
    val cbLit = pqCodebooksLit(cb)
    val codes = graft.functions.PqEncode(
      pqCorpusVec(vecCol, centroidMapLit(cents), residual),
      cbLit, pqKs).as("codes")
    val sidecarIntoStaging = (staging: org.apache.hadoop.fs.Path) =>
      writePqSidecar(spark, staging.toString, pqM, pqKs, cb, cents, residual)
    if (ivfCells > 0)
      graft.etl.Refresh.overwriteStaged(
        ivfAssign(vectors, idCol, vecCol, cents)
          .select(col(idCol), codes, col("__cell").as("cell")),
        path, partitionByCols = Seq("cell"), beforeSwap = sidecarIntoStaging)
    else
      graft.etl.Refresh.overwriteStaged(vectors.select(col(idCol), codes),
        path, beforeSwap = sidecarIntoStaging)
    cb
  }

  private val PqSidecar = "_PQ_CODEBOOKS"

  /** The skip-with-status marker [[writePqIndex]] commits for a corpus
    * too small to seed the codebooks — a first line `absent` instead of
    * `pq`, geometry kept for the record.
    */
  private def writePqAbsentSidecar(spark: SparkSession, path: String,
                                   pqM: Int, pqKs: Int): Unit = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, PqSidecar), true)
    try out.write(s"absent empty-corpus $pqM $pqKs\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Whether a committed PQ index at `path` is [[writePqIndex]]'s
    * skip-with-status artifact (built from a corpus smaller than its
    * codebook): probes serve empty candidates on it; [[readPqSidecar]]
    * refuses it loudly for direct quantizer reads.
    */
  def pqIndexAbsent(spark: SparkSession, path: String): Boolean = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, PqSidecar)
    fs.exists(p) && {
      val in = fs.open(p)
      val head =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator
          .take(1).mkString
        finally in.close()
      head.startsWith("absent")
    }
  }

  private def writePqSidecar(spark: SparkSession, path: String, pqM: Int,
                             pqKs: Int, cb: Array[Array[Array[Double]]],
                             cents: Array[(Long, Array[Double])],
                             residual: Boolean): Unit = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, path)
    // header tag versions the code space: `pq` = codes over raw
    // vectors (the v1 format, still written for raw builds so existing
    // indexes and readers stay byte-compatible), `pqr` = codes over
    // residuals v − centroid(cell) — a probe MUST residualize its query
    // or every ADC is wrong, hence a format tag, not a convention
    val tag = if (residual) "pqr" else "pq"
    val lines = Seq(s"$tag $pqM $pqKs ${cb(0)(0).length}") ++
      cb.flatten.map(w => "cw " + w.mkString(",")) ++
      cents.map { case (id, c) => s"ct $id " + c.mkString(",") }
    val out = fs.create(new org.apache.hadoop.fs.Path(path, PqSidecar), true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The quantizer a [[writePqIndex]] extract was built with:
    * `(pqM, pqKs, residual, codebooks [m][ks][dsub], centroids)` —
    * `residual` reports the sidecar's version tag (`pqr`: codes are
    * over `v − centroid(cell)`, probes must residualize the query).
    */
  def readPqSidecar(spark: SparkSession, path: String)
      : (Int, Int, Boolean, Array[Array[Array[Double]]], Array[(Long, Array[Double])]) = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, PqSidecar)
    require(fs.exists(p), s"$path has no $PqSidecar sidecar — not a committed PQ index")
    val in = fs.open(p)
    val txt =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val lines = txt.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    // a direct quantizer read of the skip artifact is a caller error —
    // probes route around it via pqIndexAbsent
    require(!lines.head.startsWith("absent"),
      s"$path is an absent-empty-corpus PQ index (skip-with-status): it has " +
        "no quantizer; probePqIndex serves empty candidates on it")
    val Array(tag, mS, ksS, _) = lines.head.split(' ')
    val (m, ks) = (mS.toInt, ksS.toInt)
    val residual = tag == "pqr"
    require(residual || tag == "pq", s"$path sidecar has unknown format tag '$tag'")
    val words = lines.tail.filter(_.startsWith("cw "))
      .map(_.stripPrefix("cw ").split(',').map(java.lang.Double.parseDouble))
    require(words.length == m * ks, s"sidecar has ${words.length} codewords, expected ${m * ks}")
    val cb = Array.tabulate(m)(mi => Array.tabulate(ks)(c => words(mi * ks + c)))
    val cents = lines.tail.filter(_.startsWith("ct ")).map { l =>
      val rest = l.stripPrefix("ct ")
      val sp = rest.indexOf(' ')
      rest.take(sp).toLong -> rest.drop(sp + 1).split(',')
        .map(java.lang.Double.parseDouble)
    }.toArray
    (m, ks, residual, cb, cents)
  }

  /** Probe a [[writePqIndex]] extract: ADC top-k over the code files —
    * only the `nProbe` nearest cells' partitions when the index is
    * IVF-PQ-partitioned (source-level pruning), the whole (still
    * code-sized) index otherwise. Returns `(id, adc)` ascending — the
    * PQ estimate of squared L2, smaller is nearer.
    */
  def probePqIndex(spark: SparkSession, path: String, idCol: String,
                   query: Array[Double], k: Int,
                   nProbe: Int = 4): DataFrame = {
    if (pqIndexAbsent(spark, path))
      // the skip-with-status artifact has no quantizer and no codes —
      // serve empty candidates (typed from the committed empty table)
      return spark.read.parquet(path)
        .select(col(idCol), lit(0.0).as("adc")).limit(0)
    val (_, ks, residual, cb, cents) = readPqSidecar(spark, path)
    val cbLit = pqCodebooksLit(cb)
    val q = typedLit(query.toSeq)
    val base = spark.read.parquet(path)
    val scoped =
      if (cents.isEmpty) base
      else base.filter(col("cell").isin(
        nearestCells(cents, query, nProbe): _*))
    // a `pqr` index stores codes over v − centroid(cell): residualize
    // the query against each row's cell centroid (m-entry map literal,
    // codegen'd — the per-cell ADC table of the classic formulation)
    val adcQuery =
      if (residual)
        residualOf(q, centroidMapLit(cents), col("cell").cast("bigint"))
      else q
    scoped.select(col(idCol),
        graft.functions.PqAdc(adcQuery, col("codes"), cbLit, ks).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** The refine stage over a MATERIALIZED index — [[probePqIndex]]'s
    * ADC shortlist (codes only, cell-pruned at the source when the
    * index is IVF-partitioned) followed by an exact-cosine re-rank
    * that reads raw vectors for ONLY the shortlist ids. The shortlist
    * (refine·k rows — probe-sized, this is the single-query serving
    * path) is collected and pushed into the raw table's scan as an
    * `isin` predicate, so the refine reads are SOURCE-PRUNED row-group
    * lookups (PqIndexSpec pins `PushedFilters: In(id, …)` on the
    * scan), never a corpus pass: at 100 TB the index serves from
    * memory-resident codes and the refine stage touches only the row
    * groups holding refine·k ids. Returns `(id, sim)` descending —
    * k best by exact cosine. On the skip artifact (corpus < ks at
    * build) the shortlist is empty and so is the answer.
    */
  def probePqIndexRerank(spark: SparkSession, path: String,
                         raw: DataFrame, idCol: String, vecCol: String,
                         query: Array[Double], k: Int, nProbe: Int = 4,
                         refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlistIds = probePqIndex(spark, path, idCol, query,
        refine * k, nProbe)
      .select(col(idCol)).collect().map(_.getLong(0))
    raw.filter(col(idCol).isin(shortlistIds.map(Long.box): _*))
      .select(col(idCol),
        cosine(col(vecCol), typedLit(query.toSeq)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Incremental maintenance of a [[writePqIndex]] extract — the
    * standard IVF-PQ lifecycle split: the quantizer (codebooks, coarse
    * centroids, residual flag) is TRAINED ONCE and committed in the
    * sidecar; increments are ENCODED with it and merged into only the
    * cells they touch ([[CellUpsert]] — rewrite ∝ touched cells' size,
    * stale rows of re-embedded keys dropped from their old cells);
    * retraining is a scheduled full [[writePqIndex]] rebuild through
    * the same atomic swap. At 100 TB this is the difference between a
    * daily corpus-sized rebuild and a batch-sized encode+merge — and
    * because every increment is coded by the COMMITTED quantizer,
    * probes stay bit-consistent with the index between retrains.
    * Refuses loudly on the skip artifact (no quantizer to encode with —
    * rebuild once the corpus reaches ks) and on a flat index (no cell
    * layout to merge into).
    */
  def pqIndexUpsert(spark: SparkSession, delta: DataFrame, path: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    require(!pqIndexAbsent(spark, path),
      s"$path is the absent-empty-corpus skip artifact: no quantizer to " +
        "encode increments with — writePqIndex once the corpus reaches ks")
    val (_, ks, residual, cb, cents) = readPqSidecar(spark, path)
    require(cents.nonEmpty,
      "pqIndexUpsert needs the IVF-partitioned layout (ivfCells > 0 at " +
        "build) — a flat index has no cells to merge into")
    // null rows would poison a replayed batch forever; duplicate ids
    // within one delta keep a single arbitrary row (the annIndexUpsert
    // contract — last-wins callers pre-reduce on a version column)
    val cleaned = delta
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .dropDuplicates(idCol)
    val centMap = centroidMapLit(cents)
    val cbLit = pqCodebooksLit(cb)
    val assigned = ivfAssign(cleaned, idCol, vecCol, cents)
      .select(col(idCol),
        graft.functions.PqEncode(pqCorpusVec(vecCol, centMap, residual),
          cbLit, ks).as("codes"),
        col("__cell").as("cell"))
    CellUpsert.upsert(spark, assigned, idCol, "cell", path)
  }

  /** L2-normalize a vector column onto the unit sphere (double
    * precision, sequential fold — oracle-reproducible). Normalized
    * storage turns cosine into a pure dot product downstream.
    */
  def l2Normalize(vec: Column): Column = {
    val d = transform(vec, _.cast(DoubleType))
    val n = sqrt(aggregate(transform(d, x => x * x), lit(0.0d), (acc, x) => acc + x))
    // an all-zero vector stays zero rather than going NaN component-wise
    when(n > 0, transform(d, x => x / n)).otherwise(d)
  }

  /** Symmetric int8 quantization: struct(scale = max|x| / 127,
    * q = round(x / scale) as tinyint) — 4x/8x storage shrink for ANN
    * index extracts at <1% cosine error on typical embeddings. All-zero
    * vectors quantize to scale 0 + zeros. Narrow projection via the
    * fused native expression (graft.functions.Quantize8 — the HOF form
    * re-scans for max|x| per element, O(d²) interpreted per row).
    */
  def quantize8(vec: Column): Column = graft.functions.Quantize8(vec)

  /** Inverse of [[quantize8]]: q * scale back to double (native). */
  def dequantize8(qv: Column): Column = graft.functions.Dequantize8(qv)

  /** Composable higher-order-function formulation of [[quantize8]] —
    * the reference implementation the native expression is verified
    * against (the [[cosineHof]] pattern). Not a scale path: the
    * `array_max` subtree sits inside the per-element lambda and HOFs do
    * no cross-lambda CSE, so it re-evaluates per element.
    */
  private[graft] def quantize8Hof(vec: Column): Column = {
    val d = transform(vec, _.cast(DoubleType))
    val maxabs = array_max(transform(d, x => abs(x)))
    val scale = when(maxabs > 0, maxabs / 127.0d).otherwise(lit(0.0d))
    struct(
      scale.as("scale"),
      when(maxabs > 0, transform(d, x => round(x / maxabs * 127.0d).cast("byte")))
        .otherwise(transform(d, _ => lit(0).cast("byte"))).as("q"))
  }

  /** Composable reference formulation of [[dequantize8]]. */
  private[graft] def dequantize8Hof(qv: Column): Column =
    transform(qv.getField("q"), x => x.cast(DoubleType) * qv.getField("scale"))

  /** Deterministic product-quantization codebooks, `[m][ks][D/m]`:
    * subspace `mi`'s codeword `c` seeds from the `c`-th lowest-id
    * vector's `mi`-th subvector (the PQ analog of [[ivfCentroids]]'
    * id-rank seeding — reproducible, so the DuckDB oracle rebuilds the
    * identical codebooks from the same parquet). Optional per-subspace
    * Lloyd refinement (`iters > 0`): assign every subvector to its
    * nearest codeword with a narrow greatest() scan, then average each
    * cell with one map-side-combined groupBy per subspace — only
    * `m × ks` rows ever reach the driver per round, and an emptied cell
    * keeps its previous codeword. Refinement tightens quantization
    * error without changing any downstream plan shape ([[PqSpec]] pins
    * the improvement); the oracle-checked query uses the id-rank
    * codebooks so both engines derive them from relational state alone.
    * Past `sampleThresholdCells` total cells (m·ks) the refinement
    * routes through a deterministic hash-sample of `sampleN` vectors
    * trained locally — see the branch comment for the geometry/memory
    * math.
    */
  def pqCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                  m: Int, ks: Int, iters: Int = 0,
                  sampleThresholdCells: Int = 4096,
                  sampleN: Int = 1 << 14): Array[Array[Array[Double]]] = {
    val seeds = pqSeeds(vectors, idCol, vecCol, ks)
    // DIRECT calls stay loud: asking for a ks-word codebook from a
    // corpus that can't seed it is a caller error. Composed flows
    // (scheduled rebuilds, oracle queries) use [[pqCodebooksOpt]].
    require(seeds.length == ks,
      s"pqCodebooks needs >= ks=$ks vectors to seed, corpus has ${seeds.length}")
    pqCodebooksFromSeeds(vectors, idCol, vecCol, seeds, m, ks, iters,
      sampleThresholdCells, sampleN)
  }

  /** [[pqCodebooks]] for COMPOSED flows: answers None instead of
    * refusing when the corpus holds fewer than `ks` vectors (a dead
    * tenant's emptied table, a freshly-truncated source), so a scheduled
    * index rebuild or a declared query records one clean skip instead of
    * failing every tick. Same single TakeOrdered seed probe — no extra
    * job on the populated path.
    */
  def pqCodebooksOpt(vectors: DataFrame, idCol: String, vecCol: String,
                     m: Int, ks: Int, iters: Int = 0,
                     sampleThresholdCells: Int = 4096,
                     sampleN: Int = 1 << 14): Option[Array[Array[Array[Double]]]] = {
    val seeds = pqSeeds(vectors, idCol, vecCol, ks)
    if (seeds.length < ks) None
    else Some(pqCodebooksFromSeeds(vectors, idCol, vecCol, seeds, m, ks,
      iters, sampleThresholdCells, sampleN))
  }

  /** The `c`-th lowest-id vectors that seed codeword `c` (≤ ks rows to
    * the driver; the one probe both codebook entry points share).
    */
  private def pqSeeds(vectors: DataFrame, idCol: String, vecCol: String,
                      ks: Int): Array[Array[Double]] =
    vectors.orderBy(col(idCol)).limit(ks)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)

  private def pqCodebooksFromSeeds(vectors: DataFrame, idCol: String,
                                   vecCol: String, seeds: Array[Array[Double]],
                                   m: Int, ks: Int, iters: Int,
                                   sampleThresholdCells: Int,
                                   sampleN: Int): Array[Array[Array[Double]]] = {
    val d = seeds(0).length
    require(m > 0 && d % m == 0, s"dim $d not a multiple of m=$m subspaces")
    val dsub = d / m
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      seeds.map(s => java.util.Arrays.copyOfRange(s, mi * dsub, (mi + 1) * dsub))
    }
    val v = col(vecCol).cast("array<double>")
    if (iters > 0 && m * ks > sampleThresholdCells) {
      // LARGE m·ks: the full-corpus formulation below needs
      // m·ks·(dsub+1) agg columns — at Faiss-like geometry (m=16,
      // ks=256, d=256) that is ~70k conditional sums, far past codegen
      // limits, with the whole corpus feeding every iteration. Standard
      // practice (and Faiss's default) trains the quantizer on a small
      // training set instead: a DETERMINISTIC hash-sample — the sampleN
      // lowest (xxhash64(id), id) rows, reproducible on any run/engine,
      // TakeOrdered so no corpus shuffle — is collected once
      // (sampleN · d doubles; 16k × d=256 ≈ 34 MB) and Lloyd runs
      // locally per subspace with the SAME argmin tie-break (lowest
      // codeword wins) and empty-cell rule as the distributed path.
      // PqSpec pins sample==corpus to match the distributed result and
      // true sampling to still beat id-rank seeding on full-corpus
      // error.
      val sample = vectors
        .orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(sampleN)
        .select(col(vecCol).cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      (0 until iters).foreach { _ =>
        cb = Array.tabulate(m) { mi =>
          val base = mi * dsub
          val sums = Array.fill(ks, dsub)(0.0)
          val cnt = new Array[Long](ks)
          sample.foreach { s =>
            var best = 0
            var bd = Double.MaxValue
            var c = 0
            while (c < ks) {
              var dist = 0.0
              var i = 0
              while (i < dsub) {
                val df = s(base + i) - cb(mi)(c)(i); dist += df * df; i += 1
              }
              if (dist < bd) { bd = dist; best = c } // strict <: lowest c wins ties
              c += 1
            }
            cnt(best) += 1
            var i = 0
            while (i < dsub) { sums(best)(i) += s(base + i); i += 1 }
          }
          Array.tabulate(ks) { c =>
            if (cnt(c) == 0) cb(mi)(c) // emptied cell keeps its previous codeword
            else Array.tabulate(dsub)(i => sums(c)(i) / cnt(c))
          }
        }
      }
      return cb
    }
    // ONE corpus scan per iteration for ALL subspaces: per-row argmin
    // codes (m narrow greatest() columns), then a single map-side-
    // combined aggregate of m·ks·(dsub+1) conditional sums — the
    // ivfCentroidsKMeans shape generalized across subspaces. An m-jobs-
    // per-iteration formulation would scan the corpus m times for the
    // same statistics. Column count is m·ks·(dsub+1) (~550 at the 4×8×16
    // defaults) — fine for codegen; past sampleThresholdCells cells the
    // sampled path above takes over.
    (0 until iters).foreach { _ =>
      val codeCols = (0 until m).map { mi =>
        val base = mi * dsub
        // argmin as greatest() over struct(-dist, -c): narrow compute
        val cells = cb(mi).zipWithIndex.map { case (w, c) =>
          val dist = (0 until dsub).map { i =>
            val diff = element_at(v, base + i + 1) - lit(w(i))
            diff * diff
          }.reduce(_ + _)
          struct((-dist).as("nd"), lit(-c).as("nc"))
        }
        (-greatest(cells: _*).getField("nc")).as(s"__c$mi")
      }
      val assigned = vectors.select(codeCols :+ v.as("__v"): _*)
      // block layout per (mi, c): [count, sum_0 .. sum_{dsub-1}]
      val aggCols = for {
        mi <- 0 until m
        c <- 0 until ks
        a <- count(when(col(s"__c$mi") === c, 1)).as(s"__n_${mi}_$c") +:
          (0 until dsub).map(i =>
            sum(when(col(s"__c$mi") === c,
              element_at(col("__v"), mi * dsub + i + 1)))
              .as(s"__s_${mi}_${c}_$i"))
      } yield a
      val row = assigned.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      cb = Array.tabulate(m) { mi =>
        Array.tabulate(ks) { c =>
          val off = (mi * ks + c) * (dsub + 1)
          val n = row.getLong(off)
          if (n == 0) cb(mi)(c) // emptied cell keeps its previous codeword
          else Array.tabulate(dsub)(i => row.getDouble(off + 1 + i) / n)
        }
      }
    }
    cb
  }

  /** [[pqCodebooks]] flattened to the `[m·ks][dsub]` subspace-major
    * literal layout [[graft.functions.PqEncode]]/[[graft.functions.PqAdc]]
    * consume, as a Column.
    */
  def pqCodebooksLit(cb: Array[Array[Array[Double]]]): Column =
    typedLit(cb.flatten.map(_.toSeq).toSeq)

  /** Per-query top-k over a (query_id, match_id, sim) candidate frame —
    * the rank stage every batch neighbor join shares.
    */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("match_id"))
    cands.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Exact (cross-join) candidate stage shared by [[annJoinExact]] and
    * [[hardNegatives]]: when `labelCol` is set, the pair predicate
    * (label mismatch) restricts candidates BEFORE any ranking.
    */
  private def exactCandidates(queries: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              labelCol: Option[String]): DataFrame = {
    val q = queries.select(
      Seq(col(idCol).as("query_id"), col(vecCol).as("__qv")) ++
        labelCol.map(l => col(l).as("__ql")): _*)
    val c = corpus.select(
      Seq(col(idCol).as("match_id"), col(vecCol).as("__cv")) ++
        labelCol.map(l => col(l).as("__cl")): _*)
    val joined = q.crossJoin(c)
    // null labels are EXCLUDED explicitly (both sides): =!= alone is
    // null for them, which silently dropped the rows anyway — but a
    // null-label candidate cannot be a verified TRUE negative (its
    // label might equal the query's), and a null-label query has no
    // label to mismatch against, so exclusion is the contract, stated
    labelCol.fold(joined)(_ => joined.filter(
      col("__ql").isNotNull && col("__cl").isNotNull &&
        col("__ql") =!= col("__cl")))
      .select(col("query_id"), col("match_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
  }

  /** Sign-LSH multi-probe candidate stage shared by [[annJoin]] and
    * [[hardNegativesLsh]]: each query explodes to its bucket plus every
    * bucket within `probeRadius` bit flips (an EXPRESSION, never a
    * driver loop), candidates come from the bucket equi-join, the
    * optional label-mismatch predicate runs on the CANDIDATES, and the
    * multi-bucket collisions dedup before ranking.
    */
  private def lshCandidates(queries: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String,
                            labelCol: Option[String],
                            nPlanes: Int, probeRadius: Int): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2, "probeRadius 0..2 supported")
    val dim = dimOf(corpus, vecCol)
    val planes = hyperplanes(nPlanes, dim)
    val flips: Seq[Column] = lit(0L) +:
      (if (probeRadius >= 1) (0 until nPlanes).map(p => lit(1L << p)) else Nil) ++:
      (if (probeRadius >= 2)
        (0 until nPlanes).combinations(2).map(c =>
          lit((1L << c(0)) | (1L << c(1)))).toSeq
      else Nil)
    val q = queries.select(
        Seq(col(idCol).as("query_id"), col(vecCol).as("__qv"),
          lshBucket(col(vecCol), planes).as("__qb")) ++
          labelCol.map(l => col(l).as("__ql")): _*)
      .withColumn("__bucket",
        explode(array(flips.map(f => col("__qb").bitwiseXOR(f)): _*)))
      .drop("__qb")
    val c = corpus.select(
      Seq(col(idCol).as("match_id"), col(vecCol).as("__cv"),
        lshBucket(col(vecCol), planes).as("__bucket")) ++
        labelCol.map(l => col(l).as("__cl")): _*)
    val joined = q.join(c, Seq("__bucket"))
    // same explicit null-label exclusion as exactCandidates
    labelCol.fold(joined)(_ => joined.filter(
      col("__ql").isNotNull && col("__cl").isNotNull &&
        col("__ql") =!= col("__cl")))
      .select(col("query_id"), col("match_id"),
        cosine(col("__qv"), col("__cv")).as("sim"))
      .distinct() // a pair can collide in several probed buckets
  }

  /** Exact batch ANN join: for EVERY query row, the top-k corpus rows by
    * cosine — the production retrieval/attribution shape (single-query
    * [[bruteForceTopK]] generalized to a query TABLE). All-pairs +
    * per-query rank window; oracle-scale ground truth for [[annJoin]],
    * and the right plan when the query side is small enough to broadcast.
    */
  def annJoinExact(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, k: Int): DataFrame =
    rankTopK(exactCandidates(queries, corpus, idCol, vecCol, None), k)

  /** Hard-negative mining for contrastive / embedding-model training:
    * for each query, the k most-similar corpus items carrying a
    * DIFFERENT label — the pairs a triplet/InfoNCE loss learns most
    * from. The label-mismatch predicate restricts candidates BEFORE the
    * top-k window, so each query always gets k true negatives (filtering
    * a plain top-k afterwards would return fewer). NULL-label rows are
    * excluded on BOTH sides: an unlabeled candidate cannot be verified
    * a true negative, and an unlabeled query has nothing to mismatch —
    * such query ids are absent from the output by contract. Exact cosine over the
    * cross join is the oracle/baseline path (queries are a small probe
    * set); at corpus scale swap the candidate stage for [[annJoin]]'s
    * LSH bucket join or the IVF cell join with an over-fetched k, same
    * window — the swappable-neighbor-stage pattern [[knnClassify]] uses.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame =
    rankTopK(exactCandidates(queries, corpus, idCol, vecCol, Some(labelCol)), k)

  /** [[hardNegatives]] at corpus scale: candidates come from the
    * sign-LSH multi-probe bucket join ([[annJoin]]'s candidate stage)
    * instead of the cross join, with the label-mismatch predicate
    * applied to the CANDIDATES before the top-k window — so the probe's
    * population is ranked for negatives directly, not post-filtered.
    * Scan cost per query ∝ probed buckets' population; recall vs the
    * exact miner follows the radius/plane tradeoff and is spec-bounded
    * on a clustered fixture (ExtensionsSpec) — near neighbors land in
    * near buckets, and hard negatives are by construction near.
    */
  def hardNegativesLsh(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, labelCol: String, k: Int,
                       nPlanes: Int = 8, probeRadius: Int = 1): DataFrame =
    rankTopK(lshCandidates(queries, corpus, idCol, vecCol, Some(labelCol),
      nPlanes, probeRadius), k)

  /** Batch ANN join at scale: sign-LSH multi-probe as a JOIN — each
    * query row explodes to its own bucket plus every bucket within
    * `probeRadius` bit flips (an EXPRESSION over the query's bucket, so
    * probe enumeration is distributed, not a driver loop), the corpus
    * carries one bucket per row, and candidates come from the bucket
    * equi-join. Exact cosine ranks candidates per query (top-k window).
    *
    * Scan cost per query ∝ probed buckets' population (collision-driven,
    * like every banded pipeline here), not corpus size; the join
    * shuffles on the bucket key. Recall follows the [[lshTopK]]
    * radius/plane tradeoff; candidates short of k return fewer rows.
    */
  def annJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nPlanes: Int = 8,
              probeRadius: Int = 1): DataFrame =
    rankTopK(lshCandidates(queries, corpus, idCol, vecCol, None,
      nPlanes, probeRadius), k)

  /** Batch ANN join, IVF flavor: the third neighbor stage for
    * [[knnClassify]] (exact / sign-LSH multi-probe / IVF probe). Corpus
    * rows are assigned to their nearest of `m` coarse centroids
    * ([[ivfAssign]] — one narrow scan, no shuffle); each query row
    * explodes to its `nProbe` closest cells (an argsort over the m
    * centroid similarities, computed as an EXPRESSION — probe selection
    * is distributed, not a driver loop); candidates come from the cell
    * equi-join and exact cosine ranks them per query.
    *
    * Scan cost per query ∝ the probed cells' population — with balanced
    * cells ≈ nProbe/m of the corpus, the same contract as a
    * [[writeIvfIndex]] extract where pruning happens at the source. The
    * only driver-side work is the m-row centroid fetch (bounded,
    * index-build-sized). Each corpus row lives in exactly ONE cell, so
    * unlike the multi-probe LSH join no candidate dedup is needed.
    */
  /** Shared IVF probe/candidate stage for [[ivfJoin]] and [[ivfPqJoin]]
    * — the variants differ ONLY in what the corpus side carries
    * (`corpusCols`) and how candidates are ranked, so probe selection
    * and tie-breaking can never drift apart between them. Per-query
    * probe set: top-nProbe cells by centroid cosine; sorting m
    * struct(sim, cell) literals per row is O(m log m) codegen'd
    * compute, m is index-build-sized (tens to thousands) — never a
    * shuffle. Output: `(query_id, __qv, match_id, corpusCols...)` from
    * the cell equi-join.
    */
  private def ivfCellCandidates(queries: DataFrame, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                centroids: Array[(Long, Array[Double])],
                                nProbe: Int,
                                corpusCols: Seq[Column]): DataFrame = {
    // zero centroids ⟺ the corpus that seeded them is empty (both
    // callers derive centroids FROM the corpus): no cells to probe, no
    // candidates — and an empty struct-array literal would not even
    // analyze (VOID element type). Same-schema empty frame out.
    if (centroids.isEmpty) {
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
        .withColumn("__cell", lit(null).cast("bigint")).filter(lit(false))
      val c = corpus.select(col(idCol).as("match_id") +: corpusCols :+
          lit(null).cast("bigint").as("__cell"): _*)
        .filter(lit(false))
      return q.join(c, Seq("__cell"))
    }
    // (−sim, −cell) ascending == sim desc with the LARGER cell winning
    // ties — the same side [[ivfAssign]]'s greatest(struct(sim, cell))
    // and nearestCells (ivfTopK / probeIvfIndex / probePqIndex) take, so
    // on tied (e.g. duplicate) centroids probes read the cell vectors
    // were actually assigned to, never its empty twin
    val cellSims = centroids.map { case (cellId, c) =>
      struct((-cosine(col("__qv"), array(c.map(lit): _*))).as("ns"),
        lit(-cellId).as("negcell"))
    }
    val probes = slice(array_sort(array(cellSims: _*)), 1, nProbe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__cell", explode(transform(probes, p => -p.getField("negcell"))))
    val c = ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol).as("match_id") +: corpusCols :+ col("__cell"): _*)
    q.join(c, Seq("__cell"))
  }

  def ivfJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int = 16, nProbe: Int = 4,
              kmeansIters: Int = 0): DataFrame = {
    require(nProbe >= 1 && nProbe <= m, s"nProbe must be in [1, m=$m]")
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    rankTopK(
      ivfCellCandidates(queries, corpus, idCol, vecCol, centroids, nProbe,
        Seq(col(vecCol).as("__cv")))
        .select(col("query_id"), col("match_id"),
          cosine(col("__qv"), col("__cv")).as("sim")),
      k)
  }

  /** [[ivfJoin]] with PQ-ADC ranking — the IVF-PQ composition (the
    * standard billion-scale ANN recipe): candidates come from the
    * probed IVF cells exactly as in [[ivfJoin]], but the rank key is
    * the asymmetric product-quantization distance against the corpus
    * CODES ([[graft.functions.PqAdc]]), so at rank time the cells hold
    * `pqM` one-byte codes per vector plus the broadcast codebooks —
    * never the raw vectors. At 100 TB that is the difference between a
    * memory-resident index and re-reading terabytes of floats per probe
    * batch. `sim = −adc`, so the shared rank/vote stages (which order
    * by sim DESC) and [[knnClassify]] work unchanged — the fourth
    * swappable neighbor stage (exact / LSH multi-probe / IVF / IVF-PQ),
    * accuracy-pinned like the others on the clustered fixture.
    */
  /** The per-cell centroid lookup the residual-PQ paths share: a map
    * literal `cell → centroid` consumed via codegen'd `element_at` —
    * m entries, index-build-sized, never a join.
    */
  private def centroidMapLit(centroids: Array[(Long, Array[Double])]): Column =
    typedLit(centroids.map { case (id, c) => id -> c.toSeq }.toMap)

  /** `vec − centroid(cellCol)`: the residual the IVF-PQ residual paths
    * quantize and probe with (one zip_with, codegen'd).
    */
  private def residualOf(vec: Column, centMap: Column,
                         cellCol: Column): Column =
    zip_with(vec.cast("array<double>"), element_at(centMap, cellCol),
      (a, b) => a - b)

  /** THE quantizer construction — one definition shared by the index
    * build ([[writePqIndex]]), the join path ([[pqAdcCandidates]]), and
    * the curve audits, so the codes a probe computes and the codes an
    * index stores can never train on diverged seeds: codebooks over the
    * raw vectors, or (`residual`) over each vector minus its assigned
    * cell's centroid. None when the corpus cannot seed ks codewords.
    */
  private def pqQuantizerOpt(vectors: DataFrame, idCol: String,
                             vecCol: String,
                             centroids: Array[(Long, Array[Double])],
                             pqM: Int, pqKs: Int, residual: Boolean)
      : Option[Array[Array[Array[Double]]]] =
    if (residual)
      pqCodebooksOpt(
        ivfAssign(vectors, idCol, vecCol, centroids).withColumn("__res",
          residualOf(col(vecCol), centroidMapLit(centroids), col("__cell"))),
        idCol, "__res", pqM, pqKs)
    else pqCodebooksOpt(vectors, idCol, vecCol, pqM, pqKs)

  /** The corpus-side vector the PQ stages encode (must evaluate against
    * a frame carrying `__cell` when residual).
    */
  private def pqCorpusVec(vecCol: String, centMap: Column,
                          residual: Boolean): Column =
    if (residual) residualOf(col(vecCol), centMap, col("__cell"))
    else col(vecCol).cast("array<double>")

  /** The query-side vector PqAdc ranks with — residualized per probed
    * cell when the codes are residual, so ADC still estimates ‖q−v‖².
    */
  private def pqQueryVec(centMap: Column, residual: Boolean): Column =
    if (residual) residualOf(col("__qv"), centMap, col("__cell"))
    else col("__qv").cast("array<double>")

  /** Shared ADC candidate stage for [[ivfPqJoin]] and
    * [[ivfPqRerankJoin]]: codebook training, code assignment, and the
    * per-candidate ADC rank key, over either the raw vectors or —
    * `residual = true`, the standard IVF-PQ construction — the residual
    * `v − centroid(cell(v))`, which concentrates the codebook on
    * within-cell variance. At probe time the query is residualized
    * against EACH probed cell's centroid (the per-cell ADC table of the
    * classic formulation); the candidate's `__cell` survives the cell
    * equi-join, so both sides residualize against the same centroid and
    * ADC still estimates ‖q − v‖². None when the corpus cannot seed a
    * ks-word codebook (the skip contract both callers share).
    *
    * Regime note, measured on the audit fixture + PqSpec's clustered
    * one: residual encoding helps exactly when the coarse quantizer
    * captures real structure (clustered corpus, Lloyd-refined cells —
    * quantization error drops ~100×); with id-rank cells on an
    * isotropic corpus it actively HURTS (recall 0.02 vs raw 0.10 —
    * the codebook seeds degrade and no variance is removed). Pair
    * `residual = true` with `kmeansIters > 0`; q_pq_residual_audit
    * prices the shipped combination.
    */
  private def pqAdcCandidates(queries: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              centroids: Array[(Long, Array[Double])],
                              nProbe: Int, pqM: Int, pqKs: Int,
                              residual: Boolean): Option[DataFrame] = {
    val centMap = centroidMapLit(centroids)
    pqQuantizerOpt(corpus, idCol, vecCol, centroids, pqM, pqKs, residual)
      .map { cb =>
        val cbLit = pqCodebooksLit(cb)
        val cands = ivfCellCandidates(queries, corpus, idCol, vecCol,
          centroids, nProbe,
          Seq(graft.functions.PqEncode(pqCorpusVec(vecCol, centMap, residual),
            cbLit, pqKs).as("__codes")))
        cands.select(col("query_id"), col("__qv"), col("match_id"),
          (-graft.functions.PqAdc(pqQueryVec(centMap, residual),
            col("__codes"), cbLit, pqKs)).as("sim"))
      }
  }

  def ivfPqJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, m: Int = 16, nProbe: Int = 4,
                pqM: Int = 4, pqKs: Int = 8, kmeansIters: Int = 0,
                residual: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= m, s"nProbe must be in [1, m=$m]")
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    pqAdcCandidates(queries, corpus, idCol, vecCol, centroids, nProbe,
      pqM, pqKs, residual) match {
      case None =>
        // corpus < pqKs (dead tenant, truncated source): no quantizer to
        // build — empty candidates with the join's schema, so a composed
        // flow records a clean zero-row tick instead of a failed round
        corpus.select(col(idCol).as("query_id"), col(idCol).as("match_id"),
          lit(0.0).as("sim")).limit(0)
      case Some(cands) =>
        rankTopK(cands.select(col("query_id"), col("match_id"), col("sim")), k)
    }
  }

  /** [[ivfPqJoin]] with an exact re-rank stage — the standard refine
    * recipe over an IVF-PQ index: the ADC pass over the probed cells'
    * CODES shortlists `refine·k` candidates per query, and only that
    * shortlist is joined back to the raw vectors for an exact-cosine
    * top-k. The PQ recall audit (q_pq_recall_audit) measures why this
    * stage exists: ADC alone misranks within the probed cells
    * (recall@10 0.0–0.2 on the audit fixture — quantization error at
    * pqM=4 crushes 64 dims into 4 bytes), so a deployment serving
    * pure ADC returns junk neighbors. Re-ranking restores the IVF
    * tier's recall at a bounded extra cost: `refine·k` id-keyed raw-
    * vector reads per query instead of every probed cell's floats, so
    * the codes-stay-memory-resident economics of [[ivfPqJoin]] survive
    * at 100 TB (the refine reads are point lookups, not scans).
    * Dominance over the pure-ADC tier is structural, not tuned: the
    * exact top-k of an ADC shortlist contains every true top-k member
    * the shortlist contains (if ten shortlist members beat x by exact
    * cosine they beat x globally, contradicting x ∈ global top-k), and
    * the ADC top-k ⊆ the ADC top-`refine·k`, so per-query recall@k ≥
    * pure ADC's — q_pq_rerank pins the audit and PlanSpec pins that
    * only the post-shortlist join touches raw vectors.
    */
  def ivfPqRerankJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, k: Int, m: Int = 16, nProbe: Int = 4,
                      pqM: Int = 4, pqKs: Int = 8,
                      refine: Int = 4, kmeansIters: Int = 0,
                      residual: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= m, s"nProbe must be in [1, m=$m]")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    // kmeansIters > 0 rides the Lloyd-refined coarse quantizer the way
    // [[ivfJoin]] does — cell selection is the recall term the re-rank
    // stage CANNOT recover (unread cells stay unread), so the refined
    // tier matters more here than anywhere
    val centroids =
      if (kmeansIters > 0)
        ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    pqAdcCandidates(queries, corpus, idCol, vecCol, centroids, nProbe,
      pqM, pqKs, residual) match {
      case None =>
        // same skip contract as [[ivfPqJoin]]: corpus < ks → no
        // quantizer → clean empty frame with the join's schema
        corpus.select(col(idCol).as("query_id"), col(idCol).as("match_id"),
          lit(0.0).as("sim")).limit(0)
      case Some(adcCands) =>
        // stage 1 — ADC shortlist: codes only on the corpus side (the
        // serving-index representation); sim = −adc so the shared rank
        // stage's (sim DESC, match_id) order is (adc ASC, match_id)
        val shortlist = rankTopK(adcCands, refine * k)
        // stage 2 — exact re-rank: ONLY the shortlist ids read raw
        // vectors (refine·k rows per query, id-equi-join)
        val raws = corpus.select(col(idCol).as("match_id"),
          col(vecCol).as("__cv"))
        rankTopK(
          shortlist.select(col("query_id"), col("__qv"), col("match_id"))
            .join(raws, Seq("match_id"))
            .select(col("query_id"), col("match_id"),
              cosine(col("__qv"), col("__cv")).as("sim")),
          k)
    }
  }

  /** The nProbe dial of the FULL PQ serving stack priced as a curve —
    * [[ivfProbeCurve]]'s pattern applied to [[ivfPqRerankJoin]]: mean
    * recall@k per probe budget 1..m in ONE pass (each ADC candidate
    * explodes to the budgets that would read its cell; shortlist and
    * re-rank windows run per (query, budget); the exact leg is
    * leaf-materialized once and released). Unlike the exact-tier curve
    * this one does NOT saturate at 1.0: past the point where probed
    * cells cover the true neighbors, the `refine·k` shortlist becomes
    * the binding constraint — extra cells only add ADC candidates that
    * crowd the fixed shortlist (measured on the audit fixture: 0.24 →
    * 0.48 → peak 0.50 at nProbe=3 → flat 0.48 to m). That interaction
    * is the reason the curve exists: it tells a deployment when buying
    * probes without buying refine stops paying.
    */
  def ivfPqRerankCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int, m: Int = 16,
                       pqM: Int = 4, pqKs: Int = 8, refine: Int = 4,
                       kmeansIters: Int = 0,
                       residual: Boolean = false): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    // zero centroids ⟺ empty corpus: nothing to recall against
    if (centroids.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .withColumn("n_probe", lit(1))
        .withColumn("n_queries", lit(0L))
        .withColumn(s"mean_recall_at_$k", lit(0.0))
        .limit(0)
    val (exact, exactRdd) = Dedup.materializeLeaf(
      annJoinExact(queries, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("match_id")))
    val centMap = centroidMapLit(centroids)
    val cbOpt = pqQuantizerOpt(corpus, idCol, vecCol, centroids, pqM, pqKs,
      residual)
    val approx: DataFrame = cbOpt match {
      case None =>
        // corpus < ks: no quantizer, no candidates at ANY budget — the
        // all-zero curve (the denominator grid below still counts every
        // query), matching the oracle's count(corp) >= ks shortlist gate
        exact.select(col("query_id"),
          lit(1).as("n_probe"), col("match_id")).limit(0)
      case Some(cb) =>
        val cbLit = pqCodebooksLit(cb)
        // ranked cells per query (the ivfProbeCurve pattern — position
        // IS the probe order), then the cell equi-join against codes
        val cellSims = centroids.map { case (cellId, c) =>
          struct((-cosine(col("__qv"), array(c.map(lit): _*))).as("ns"),
            lit(-cellId).as("negcell"))
        }
        val ranked = queries
          .select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
          .select(col("query_id"), col("__qv"),
            posexplode(array_sort(array(cellSims: _*))))
          .select(col("query_id"), col("__qv"),
            (col("pos") + 1).as("__cellrank"),
            (-col("col.negcell")).as("__cell"))
        val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
          .select(col(idCol).as("match_id"),
            graft.functions.PqEncode(pqCorpusVec(vecCol, centMap, residual),
              cbLit, pqKs).as("__codes"),
            col("__cell"))
        val cands = ranked.join(assigned, Seq("__cell"))
          .select(col("query_id"), col("__qv"), col("match_id"),
            (-graft.functions.PqAdc(pqQueryVec(centMap, residual),
              col("__codes"), cbLit, pqKs)).as("sim"),
            col("__cellrank"))
          .withColumn("n_probe",
            explode(sequence(col("__cellrank"), lit(m))))
        val wShort = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"), col("n_probe"))
          .orderBy(col("sim").desc, col("match_id"))
        val shortlist = cands
          .withColumn("__rk", row_number().over(wShort))
          .filter(col("__rk") <= refine * k)
          .select(col("query_id"), col("__qv"), col("match_id"),
            col("n_probe"))
        // exact re-rank of each budget's shortlist: bounded raw reads
        val raws = corpus.select(col(idCol).as("match_id"),
          col(vecCol).as("__cv"))
        shortlist.join(raws, Seq("match_id"))
          .select(col("query_id"), col("n_probe"), col("match_id"),
            cosine(col("__qv"), col("__cv")).as("sim"))
          .withColumn("__rk", row_number().over(wShort))
          .filter(col("__rk") <= k)
          .select(col("query_id"), col("n_probe"), col("match_id"))
    }
    val hits = exact.join(approx, Seq("query_id", "match_id"))
      .groupBy(col("query_id"), col("n_probe"))
      .agg(count(lit(1)).as("n_hits"))
    val grid = exact.select("query_id").distinct()
      .withColumn("n_probe", explode(sequence(lit(1), lit(m))))
    val result = grid.join(hits, Seq("query_id", "n_probe"), "left")
      .groupBy("n_probe")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(coalesce(col("n_hits"), lit(0L))).cast(DoubleType) /
          (count(lit(1)) * k).cast(DoubleType), 4).as(s"mean_recall_at_$k"))
      .orderBy("n_probe")
    Dedup.eagerlyWith(result, () => { exactRdd.unpersist(blocking = false); () })
  }

  /** The refine dial of the FULL PQ serving stack priced as a curve —
    * the companion of [[ivfPqRerankCurve]] on the OTHER budget: mean
    * recall@k per shortlist size `refine·k` at a fixed probe budget, in
    * ONE pass (the ADC rank is computed once; each candidate explodes
    * to the refine tiers whose shortlist would include it; the exact
    * re-rank window runs per (query, tier)). The two curves jointly
    * price the (nProbe, refine) plane around the deployed point:
    * measured on the audit fixture at nProbe=2, recall climbs 0.20 →
    * 0.26 → 0.36 → 0.48 and saturates at refine=8 — the tier where the
    * shortlist holds every in-cell true hit, which is exactly where
    * [[ivfPqRerankCurve]] showed extra PROBES stop paying. Raw-vector
    * reads stay rank-gated at every tier (max(refines)·k per query).
    */
  def ivfPqRefineCurve(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int, refines: Seq[Int],
                       m: Int = 16, nProbe: Int = 4,
                       pqM: Int = 4, pqKs: Int = 8,
                       kmeansIters: Int = 0,
                       residual: Boolean = false): DataFrame = {
    require(refines.nonEmpty && refines.forall(_ >= 1),
      s"refine tiers must be >= 1, got $refines")
    require(nProbe >= 1 && nProbe <= m, s"nProbe must be in [1, m=$m]")
    val centroids =
      if (kmeansIters > 0) ivfCentroidsKMeans(corpus, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(corpus, idCol, vecCol, m)
    // zero centroids ⟺ empty corpus: nothing to recall against
    if (centroids.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .withColumn("refine", lit(1))
        .withColumn("n_queries", lit(0L))
        .withColumn(s"mean_recall_at_$k", lit(0.0))
        .limit(0)
    val (exact, exactRdd) = Dedup.materializeLeaf(
      annJoinExact(queries, corpus, idCol, vecCol, k)
        .select(col("query_id"), col("match_id")))
    val tiers = typedLit(refines)
    val approx: DataFrame = pqAdcCandidates(queries, corpus, idCol, vecCol,
      centroids, nProbe, pqM, pqKs, residual) match {
      case None =>
        // corpus < ks: no quantizer → zero candidates at every tier
        // (the grid below still counts every query — the all-zero curve)
        exact.select(col("query_id"), lit(1).as("refine"),
          col("match_id")).limit(0)
      case Some(adcCands) =>
        val wAdc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("match_id"))
        val raws = corpus.select(col(idCol).as("match_id"),
          col(vecCol).as("__cv"))
        adcCands
          .withColumn("__rk", row_number().over(wAdc))
          .withColumn("refine",
            explode(filter(tiers, r => col("__rk") <= r * k)))
          .select(col("query_id"), col("__qv"), col("match_id"),
            col("refine"))
          .join(raws, Seq("match_id"))
          .select(col("query_id"), col("refine"), col("match_id"),
            cosine(col("__qv"), col("__cv")).as("sim"))
          .withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("query_id"), col("refine"))
              .orderBy(col("sim").desc, col("match_id"))))
          .filter(col("__rk") <= k)
          .select(col("query_id"), col("refine"), col("match_id"))
    }
    val hits = exact.join(approx, Seq("query_id", "match_id"))
      .groupBy(col("query_id"), col("refine"))
      .agg(count(lit(1)).as("n_hits"))
    val grid = exact.select("query_id").distinct()
      .withColumn("refine", explode(tiers))
    val result = grid.join(hits, Seq("query_id", "refine"), "left")
      .groupBy("refine")
      .agg(count(lit(1)).as("n_queries"),
        round(sum(coalesce(col("n_hits"), lit(0L))).cast(DoubleType) /
          (count(lit(1)) * k).cast(DoubleType), 4).as(s"mean_recall_at_$k"))
      .orderBy("refine")
    Dedup.eagerlyWith(result, () => { exactRdd.unpersist(blocking = false); () })
  }

  /** kNN label classification over ANY neighbor stage: majority vote of
    * the k nearest labels (ties broken by smaller label), reduced to
    * per-class accuracy counts. `neighbors` supplies (query_id,
    * match_id, sim) — [[annJoinExact]] is the oracle-scale ground
    * truth; [[annJoin]] (LSH multi-probe), [[ivfJoin]] (IVF probe) and
    * [[ivfPqJoin]] (IVF cells ranked by PQ-ADC codes)
    * are the 100 TB paths; all flow through the IDENTICAL vote/accuracy
    * plan, so swapping the probe in changes one argument, not the
    * pipeline (the spec pins the approximate variants' accuracy within
    * 5 points of exact on the clustered fixture).
    * Self-matches are excluded here, so queries may be a subset of the
    * corpus.
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, labelCol: String,
                  neighbors: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val nn = neighbors(queries, corpus).filter(col("match_id") =!= col("query_id"))
    val lbl = corpus.select(col(idCol).as("match_id"), col(labelCol).as("nlabel"))
    // no broadcast hint on lbl: it is CORPUS-sized, and forcing it would
    // hit the 8 GB broadcast limit (or OOM the driver) exactly at the
    // scale the IVF-PQ neighbor stage exists for. nn is O(queries × k) —
    // AQE broadcasts whichever side actually fits at runtime.
    val votes = nn.join(lbl, Seq("match_id"))
      .groupBy(col("query_id"), col("nlabel")).agg(count(lit(1)).as("nv"))
    val byVotes = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("nv").desc, col("nlabel"))
    val pred = votes.withColumn("__rk", row_number().over(byVotes))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("nlabel").as("pred"))
    pred.join(queries.select(col(idCol).as("query_id"), col(labelCol).as("truth")),
        Seq("query_id"))
      .groupBy(col("truth"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy("truth")
  }

  /** Embedding near-dup pairs: id_a < id_b with cosine >= threshold.
    * Blocked by LSH bucket (pairs must share a bucket) — collision-driven
    * cost like MinHash banding, not n². For exact all-pairs semantics at
    * oracle scale use [[allPairs]].
    *
    * Geometry is derived from the DATA by default: `dim <= 0` reads the
    * vector dimension from the first row (a mismatched row then raises,
    * see [[lshBucket]]); `nPlanes <= 0` sizes the bucket space to the
    * corpus via [[nPlanesFor]] (one map-side count) so expected bucket
    * occupancy stays under the cap at any corpus size — a fixed small
    * plane count silently caps EVERY bucket once the corpus outgrows
    * 2^nPlanes * maxBucket. Drops are recorded in [[CapMetrics]] under
    * `"embed_neardup"`.
    *
    * Runs on [[blockVerify]]: one hash exchange on the bucket, then a
    * per-bucket kernel that emits (id_a, id_b, sim) for every pair of
    * rows with id_a < id_b and sim >= `threshold` (a duplicated row
    * repeats its pairs). A bucket over `maxBucket` (and the NULL bucket)
    * emits no pair. Eager: the result is persisted and counted before
    * it is returned.
    */
  def nearDupPairs(vectors: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, nPlanes: Int = 0, dim: Int = 0,
                   maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket): DataFrame = {
    val d = if (dim > 0) dim else dimOf(vectors, vecCol)
    val p = if (nPlanes > 0) nPlanes else nPlanesFor(vectors.count(), maxBucket)
    val keyed = vectors.select(lshBucket(col(vecCol), hyperplanes(p, d)).as("__key"),
      col(idCol).as("__id"), col(vecCol).as("__v"))
    val idType = keyed.schema("__id").dataType
    val out = StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
      StructField("sim", DoubleType)))
    // super-bucket guard, ON by default (see Dedup.lshCandidates): an
    // embedding-space hot spot must not force a quadratic single-bucket
    // verify
    blockVerify(keyed, maxBucket, "embed_neardup", out)((_, _) => None) { b =>
      (0 until b.size).iterator.flatMap { j =>
        (0 until b.lower(j)).iterator.filter(b.comparable(_, j)).flatMap { i =>
          val sim = b.cosine(i, j)
          if (atLeast(sim, threshold)) Some(Row(b.id(i), b.id(j), sim)) else None
        }
      }
    }
  }

  /** Exact all-pairs cosine at `threshold` (oracle-scale only). */
  def allPairs(vectors: DataFrame, idCol: String, vecCol: String,
               threshold: Double): DataFrame = {
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[semanticDedup]] that builds its own cell map — k-means-refined
    * centroids by default, the production entry point (tighter cells →
    * fewer cross-cell near-dup escapes at the same m). The
    * explicit-centroids overload below stays for oracle-anchored
    * replays and for callers sharing one cell map across stages.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    m: Int, threshold: Double,
                    kmeansIters: Int): DataFrame =
    semanticDedup(vectors, idCol, vecCol,
      if (kmeansIters > 0) ivfCentroidsKMeans(vectors, idCol, vecCol, m, kmeansIters)
      else ivfCentroids(vectors, idCol, vecCol, m),
      threshold)

  /** Semantic dedup (SemDeDup-style, Abbas et al. 2023): partition the
    * embedding space into the IVF cells of `centroids` ([[ivfAssign]] —
    * a narrow argmax scan), then inside each cell drop every vector that
    * has a LOWER-id cell-mate with cosine >= `threshold` (keep-lowest-id
    * — deterministic, engine-reproducible). Returns the KEPT vectors as
    * (id, cell).
    *
    * Runs on [[blockVerify]]: one hash exchange on the cell, rows sorted
    * by (cell, id), then a per-cell kernel that walks the ids in
    * ascending order and marks a vector a loser at the FIRST lower-id
    * cell-mate within `threshold` (every lower cell-mate counts, kept or
    * not). Rows with a NULL id or a NULL cell are kept unverified.
    *
    * Id-key contract: one vector per id. Duplicated identical rows are
    * inside it (each copy gets the same verdict); an id carrying two
    * different vectors in two cells is outside it.
    *
    * Scale posture: the quadratic step is confined to within-cell pairs
    * — `m` (centroid count) scales with the corpus so expected cell size
    * stays bounded, and the super-bucket cap guards the hot cells a
    * skewed embedding distribution produces: a cell over `maxCell` keeps
    * every member unverified and is recorded in [[CapMetrics]] under
    * `"semantic_dedup"` (the NULL cell counts as one bucket). Eager: the
    * result is persisted and counted before it is returned.
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Long, Array[Double])], threshold: Double,
                    maxCell: Int = graft.ops.Dedup.DefaultMaxBucket): DataFrame = {
    val keyed = ivfAssign(vectors, idCol, vecCol, centroids)
      .select(col("__cell").as("__key"), col(idCol).as("__id"), col(vecCol).as("__v"))
    val out = StructType(Seq(keyed.schema("__id").copy(name = "id"),
      keyed.schema("__key").copy(name = "cell")))
    blockVerify(keyed, maxCell, "semantic_dedup", out)((cell, id) => Some(Row(id, cell))) { b =>
      (0 until b.size).iterator.filterNot { j =>
        (0 until b.lower(j)).exists(i => b.comparable(i, j) && atLeast(b.cosine(i, j), threshold))
      }.map(j => Row(b.id(j), b.key))
    }
  }

  /** `sim >= threshold` as Spark SQL evaluates it on doubles (NaN above
    * every number), so a kernel keeps exactly the rows a `>=` filter on
    * `cosine_sim` would.
    */
  private def atLeast(sim: Double, threshold: Double): Boolean =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(sim, threshold) >= 0

  /** A vector as the cell-local kernels read it: widened to `double`
    * once, with its squared norm. `x` is null for a NULL vector or one
    * with a NULL element. [[comparable]] and [[cosine]] reproduce
    * `cosine_sim` (graft.functions.CosineSimilarity) bit for bit: the
    * same sequential double sums and `dot / sqrt(na * nb)`, and no
    * value where it returns NULL (a NULL element, a length mismatch, a
    * zero norm).
    */
  private[graft] final class Widened(val x: Array[Double]) {
    val norm2: Double = {
      var s = 0.0
      var i = 0
      while (x != null && i < x.length) { s += x(i) * x(i); i += 1 }
      s
    }

    def comparable(o: Widened): Boolean =
      x != null && o.x != null && x.length == o.x.length && norm2 != 0.0 && o.norm2 != 0.0

    /** Defined only where [[comparable]] holds. */
    def cosine(o: Widened): Double = {
      var dot = 0.0
      var i = 0
      while (i < x.length) { dot += x(i) * o.x(i); i += 1 }
      dot / math.sqrt(norm2 * o.norm2)
    }
  }

  private[graft] object Widened {
    /** Widens an `array<float|double>` value as a Row holds it. */
    def apply(v: Any): Widened = v match {
      case s: scala.collection.Seq[_] if !s.contains(null) =>
        new Widened(s.iterator.map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
      case _ => new Widened(null)
    }
  }

  /** One block of [[blockVerify]]: the non-NULL ids of one key in
    * ascending order, with their widened vectors.
    */
  private final class Block(val key: Any, ids: Array[Any], vecs: Array[Widened]) {
    // lower(j): the first row whose id equals row j's — the rows before
    // it are exactly the block-mates with a strictly lower id
    private val firstOf = {
      val f = new Array[Int](ids.length)
      for (j <- 1 until ids.length) f(j) = if (ids(j) == ids(j - 1)) f(j - 1) else j
      f
    }
    def size: Int = ids.length
    def id(j: Int): Any = ids(j)
    def lower(j: Int): Int = firstOf(j)
    def comparable(i: Int, j: Int): Boolean = vecs(i).comparable(vecs(j))
    def cosine(i: Int, j: Int): Double = vecs(i).cosine(vecs(j))
  }

  /** Block → verify inside the partition that holds the block, the one
    * candidate-verify operator of [[semanticDedup]] (IVF cells) and
    * [[nearDupPairs]] (sign-LSH buckets). `keyed` has the columns
    * `__key`, `__id`, `__v`. One hash exchange on `__key`, rows sorted
    * by (key, id), then per key:
    *  - a non-NULL key of at most `maxBlock` rows becomes a [[Block]]
    *    (its non-NULL ids, vectors widened once) handed to `verify`;
    *    its NULL-id rows go to `unverified`;
    *  - the NULL key and every key over `maxBlock` stream all their rows
    *    to `unverified`, buffering at most `maxBlock + 1` of them. A key
    *    over `maxBlock` is recorded in [[CapMetrics]] under `pipeline`,
    *    the report `Dedup.capByKey` gives for the same cap.
    * No intermediate is persisted. Eager like [[Dedup.eagerlyWith]]:
    * the result is persisted and counted, and the cap is recorded after
    * that action from an accumulator keyed by block, so a re-run task
    * counts its blocks once.
    */
  private def blockVerify(keyed: DataFrame, maxBlock: Int, pipeline: String,
                          out: StructType)(unverified: (Any, Any) => Option[Row])(
                          verify: Block => Iterator[Row]): DataFrame = {
    val capped = keyed.sparkSession.sparkContext
      .collectionAccumulator[(Option[Any], Long)](s"$pipeline capped blocks")
    val result = keyed.repartition(col("__key"))
      .sortWithinPartitions(col("__key"), col("__id"))
      .mapPartitions { rows =>
        val in = rows.buffered
        def more(key: Any) = in.hasNext && in.head.get(0) == key
        Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
          val key = in.head.get(0)
          val head = scala.collection.mutable.ArrayBuffer.empty[Row]
          if (key != null) while (head.length <= maxBlock && more(key)) head += in.next()
          if (key != null && head.length <= maxBlock) {
            val (loose, ided) = head.partition(_.isNullAt(1))
            loose.iterator.flatMap(_ => unverified(key, null)) ++
              verify(new Block(key, ided.map(_.get(1)).toArray, ided.map(r => Widened(r.get(2))).toArray))
          } else {
            var n = head.length.toLong
            val tail = Iterator.continually(in).takeWhile(_ => more(key)).map { _ => n += 1; in.next() }
            (head.iterator ++ tail).flatMap(r => unverified(key, r.get(1))) ++ {
              if (n > maxBlock) capped.add((Option(key), n))
              Iterator.empty
            }
          }
        }
      }(Encoders.row(out))
    graft.ops.Dedup.eagerlyWith(result, () => {
      val over = capped.value.asScala.toMap
      CapMetrics.record(CapReport(pipeline, maxBlock, over.size.toLong, over.values.sum))
    })
  }
}

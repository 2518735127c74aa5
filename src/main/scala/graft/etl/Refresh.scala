package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Full-refresh columnar extract writer.
  *
  * The reference's single data product is a columnar extract rebuilt from
  * scratch on every sync: `CreateMode.CREATE_AND_REPLACE` + SQL `COPY`
  * (reference: app/core/importer.py:242-256), returning the imported row
  * count. Spark-native equivalent: `mode("overwrite").parquet` for a
  * build-from-scratch destination, or [[overwriteStaged]] (write-aside +
  * atomic rename swap) when the previous extract must survive a failed
  * refresh; the staged swap also makes the reference's per-file Redis
  * sync lock (app/utils/onadata_utils.py:203) unnecessary — readers
  * never observe a torn extract.
  *
  * Scale posture: `partitionByCols` lets callers lay the extract out as
  * `(server_id, form_id, sync_date)` hive partitions so downstream reads
  * prune. Every writer returns the number of rows its write job wrote,
  * observed on the written frame itself ([[writeCounted]]) — the extract
  * is never read back to count it.
  */
object Refresh {

  /** Resolve the Hadoop FileSystem for `path` — extracts live wherever
    * the URI scheme says (`file://`, `hdfs://`, `s3a://`, ...), never on
    * the driver's local disk specifically.
    */
  private[graft] def hfs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Run `write` on `df` with a row counter attached and return the rows
    * the write job wrote: a `Dataset.observe` node counts them as they
    * stream into the writer, so the count costs no job of its own and no
    * read of the files. Spark completes the observation from a query
    * listener once the write's execution ends; an observer the optimizer
    * removed (a frame it proved empty) completes with no value, which is
    * 0. Should the listener event never arrive (a dropped event), the
    * frame is counted again after [[ObservationWait]] rather than
    * waiting forever — before the caller swaps anything, so the count
    * still sees the inputs the write saw.
    */
  private def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    try {
      val row = scala.concurrent.Await.result(obs.future, ObservationWait)
      if (row.length == 0) 0L else row.getLong(0)
    } catch { case _: java.util.concurrent.TimeoutException => df.count() }
  }

  private val ObservationWait = scala.concurrent.duration.Duration(60, "s")

  /** Swap a fully-written `staging` directory into place at `target`:
    * move the current extract (if any) aside, rename staging in, drop the
    * old copy. Each rename is atomic on HDFS/local filesystems, so a
    * crash at any point leaves a COMPLETE extract either at `target`, at
    * `target__old` (recoverable), or in staging — never a partial mix,
    * and the data is written exactly once (no second Spark rewrite). On
    * object stores rename is a server-side copy; prefer the direct
    * `mode("overwrite")` commit path of [[overwrite]] there.
    */
  /** Complete a HALF-FINISHED staged swap: a crash between swapInto's two
    * renames leaves the extract only at `target__old`. Without this, the
    * next read-modify tick sees a MISSING target, rebuilds from the delta
    * alone, and its own swap then deletes the `__old` recovery copy —
    * total silent data loss. Restoring old → target re-runs the crashed
    * tick's merge instead (idempotent: the same delta upserts to the
    * same result). Call before ANY read that decides "absent table".
    */
  private[graft] def recoverHalfSwap(fs: FileSystem, target: Path): Unit = {
    val old = new Path(target.toString + "__old")
    if (!fs.exists(target) && fs.exists(old))
      require(fs.rename(old, target), s"half-swap recovery $old -> $target failed")
  }

  /** Read-path half-swap handling. A missing target with an `__old`
    * sibling is EITHER a crashed writer's only copy (recover it) OR a
    * LIVE writer mid-swap — the microseconds between [[swapInto]]'s two
    * renames — and recovering a live swap collides with the writer's
    * second rename, failing BOTH sides. Reads never take the writer's
    * lock (serving latency), so disambiguate by SETTLING: a live swap
    * completes within the ~200 ms re-check window and the reader
    * proceeds against the fresh target; only a target still missing
    * after the window is treated as crashed and recovered. Residual: a
    * writer frozen mid-swap longer than the window is indistinguishable
    * from a crashed one — recovery then makes the thawed writer's second
    * rename fail LOUDLY (its require), never silently lose data.
    */
  private[graft] def settleHalfSwap(fs: FileSystem, target: Path): Unit = {
    if (fs.exists(target)) return
    val old = new Path(target.toString + "__old")
    var tries = 0
    while (!fs.exists(target) && fs.exists(old) && tries < 8) {
      Thread.sleep(25)
      tries += 1
    }
    recoverHalfSwap(fs, target) // no-op when the live swap completed
  }

  private[graft] def swapInto(fs: FileSystem, staging: Path, target: Path): Unit = {
    val old = new Path(target.toString + "__old")
    // a leftover __old with NO target is the previous tick's only data —
    // recover it instead of deleting it (see recoverHalfSwap); with a
    // live target the leftover is just debris from a crash after the
    // second rename
    recoverHalfSwap(fs, target)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target))
      require(fs.rename(target, old), s"rename $target -> $old failed")
    require(fs.rename(staging, target), s"rename $staging -> $target failed")
    fs.delete(old, true)
  }

  /** Keep an extract directory READABLE even when a write emitted zero
    * rows: a parquet write of an empty frame leaves only _SUCCESS (and
    * a partitioned one not even a single partition directory), so the
    * next schemaless read throws UNABLE_TO_INFER_SCHEMA — the first
    * dead tenant or freshly-truncated source would break every
    * downstream reader of that extract. When (and only when) the
    * freshly-written directory holds no data file, append ONE empty
    * parquet file carrying `schema`, so the extract reads as an empty
    * table of the right shape. Partition columns ride INSIDE the
    * marker file; with zero partition directories present there is
    * nothing to overlap with. No-op whenever any data file exists
    * (the first real data file of a later append supersedes nothing —
    * the marker holds zero rows; a later OVERWRITE clears it).
    */
  def ensureReadable(spark: SparkSession, path: String,
                     schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, target) = hfs(spark, path)
    def hasDataFile(p: Path): Boolean =
      fs.listStatus(p).exists { st =>
        if (st.isDirectory) hasDataFile(st.getPath)
        else {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
      }
    if (fs.exists(target) && !hasDataFile(target)) {
      spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .coalesce(1).write.mode("append").parquet(path)
    }
  }

  /** Overwrite `path` with `df` as parquet and return the number of rows
    * written (the reference's COPY count).
    *
    * NOT crash/cancel-safe against the PREVIOUS extract: `mode
    * ("overwrite")` clears the target before the new files commit, so a
    * job that dies mid-write leaves neither the old nor the new data.
    * Fine for a build-from-scratch destination; a live extract that must
    * survive a failed refresh goes through [[overwriteStaged]].
    */
  def overwrite(df: DataFrame, path: String,
                partitionByCols: Seq[String] = Nil): Long = {
    val n = writeCounted(df)(writeParquet(_, path, partitionByCols))
    ensureReadable(df.sparkSession, path, df.schema)
    n
  }

  private def writeParquet(df: DataFrame, path: String, partitionByCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
    val w2 = if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w
    w2.parquet(path)
  }

  /** Full refresh of a LIVE extract: write the new copy to a staging
    * directory, then atomically swap it into place ([[swapInto]]). The
    * previous extract stays intact and readable until the new one is
    * COMPLETELY written — a refresh that is cancelled (e.g. by the sync
    * tick's TASK_TIMEOUT watchdog, [[graft.streaming.Streams.syncTick]]),
    * OOMs, or crashes mid-write leaves only staging debris; the committed
    * extract survives. A crash BETWEEN the two swap renames is healed by
    * [[recoverHalfSwap]] on the next write or catalog read. Same
    * single-write cost as [[overwrite]] (the swap is metadata renames).
    *
    * `beforeSwap` runs against the STAGING directory after the data is
    * fully written and before the swap — the hook for sidecar files
    * (e.g. the PQ codebooks) that must land ATOMICALLY with the data:
    * written into staging, they ride the same rename, so no crash can
    * commit data without its sidecar or vice versa.
    *
    * Returns the rows written; callers that only rebuild an index ignore
    * it (the count is observed during the write, so it costs nothing).
    */
  def overwriteStaged(df: DataFrame, path: String,
                      partitionByCols: Seq[String] = Nil,
                      beforeSwap: Path => Unit = _ => ()): Long = {
    val spark = df.sparkSession
    val (fs, target) = hfs(spark, path)
    // a crashed prior swap may have left the extract at __old only —
    // restore it so a failed THIS write still leaves data at target
    recoverHalfSwap(fs, target)
    val staging = new Path(path + "__staging")
    val n = writeCounted(df)(writeParquet(_, staging.toString, partitionByCols))
    ensureReadable(spark, staging.toString, df.schema)
    beforeSwap(staging)
    swapInto(fs, staging, target)
    n
  }

  /** DYNAMIC partition overwrite: replace ONLY the hive partitions
    * present in `df`, leaving every other partition's files untouched.
    * At 100 TB a refresh almost never touches the whole lake — a
    * one-source or one-day re-crawl rewrites one partition; static
    * overwrite mode would silently DELETE the other 99.9 % of the
    * extract. Set per-write (not session-wide) so concurrent full
    * refreshes keep their replace-the-world semantics.
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionByCols: Seq[String]): Long = {
    require(partitionByCols.nonEmpty, "dynamic overwrite needs partition columns")
    // the count is the REFRESHED rows, as the write observed them —
    // re-reading the extract would (a) return the whole table's count,
    // not this tick's import (the reference counts rows synced), and
    // (b) list/footer-scan every untouched partition of a 100 TB extract
    // per tick just to produce that wrong number
    val n = writeCounted(df)(_.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionByCols: _*)
      .parquet(path))
    ensureReadable(df.sparkSession, path, df.schema)
    n
  }

  /** Incremental refresh: MERGE the delta into the extract by key —
    * incoming rows win on key collision, absent keys append, and keys in
    * `deletes` (a tombstone frame carrying the key columns) are removed.
    * The scale alternative to the reference's rebuild-everything tick
    * (which absorbs schema drift and deletions by re-exporting the world,
    * app/core/importer.py:242-249): cost ∝ |extract| + |delta| (anti-join
    * shuffles on the key) instead of a full re-export, and late data
    * still lands because every tick re-merges.
    *
    * Schema drift is tolerated like the reference's per-tick re-inference
    * (importer.py:54-74): the merged schema is the union of extract and
    * delta schemas, and columns absent from a side null-fill
    * ([[graft.catalog.Catalog.upsertEvolving]]) — additive evolution
    * without a rebuild.
    *
    * A tombstoned key that also appears in `delta` stays deleted (MERGE
    * semantics: the delete clause wins the tick). The merged frame is
    * materialized into a staging directory (the plan reads the path being
    * replaced) and then renamed into place — the data is written once,
    * not rewritten.
    */
  def incremental(spark: SparkSession, delta: DataFrame, extractPath: String,
                  keys: Seq[String], deletes: Option[DataFrame] = None): Long = {
    val (fs, target) = hfs(spark, extractPath)
    // a crashed prior tick may have left the extract at __old only —
    // recover BEFORE the exists() decides this is a first-ever write
    recoverHalfSwap(fs, target)
    val upserted =
      if (!fs.exists(target)) delta
      else graft.catalog.Catalog.upsertEvolving(
        spark.read.parquet(extractPath), delta, keys)
    val merged = deletes match {
      case Some(tomb) => upserted.join(
        tomb.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti")
      case None => upserted
    }
    val staging = new Path(extractPath + "__staging")
    val n = writeCounted(merged)(_.write.mode("overwrite").parquet(staging.toString))
    swapInto(fs, staging, target)
    n
  }

  /** Extract-hygiene diagnostic: per leaf partition, the data-file count
    * and size spread — the "small files doctor" that tells an operator
    * WHICH partitions need [[compact]] before file-open overhead eats a
    * 100 TB scan (thousands of tiny files per partition = thousands of
    * task setups and footer reads for one partition's data).
    *
    * Listing is metadata-only (no data read) and the output is
    * partitions-sized; on an object store the per-leaf list calls are the
    * same ones any commit protocol already issues.
    */
  def fileStats(spark: SparkSession, extractPath: String): DataFrame = {
    val (fs, root) = hfs(spark, extractPath)
    val depth = partitionColumnsOf(fs, root).length
    def leaves(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter { q => q.getName.contains("=") &&
          !q.getName.startsWith("_") && !q.getName.startsWith(".") }
        .toSeq.flatMap(leaves(_, d - 1))
    val rows = leaves(root, depth).map { leaf =>
      val sizes = fs.listStatus(leaf).filter(_.isFile).collect {
        case f if !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".") => f.getLen
      }
      val rel =
        if (depth == 0) ""
        else fs.makeQualified(leaf).toString
          .stripPrefix(fs.makeQualified(root).toString).stripPrefix("/")
      (rel, sizes.length.toLong, sizes.sum,
        if (sizes.isEmpty) 0L else sizes.min,
        if (sizes.isEmpty) 0L else sizes.max)
    }
    import spark.implicits._
    rows.toDF("partition", "n_files", "bytes", "min_file_bytes", "max_file_bytes")
  }

  /** Hive partition column names of an extract, inferred from the
    * directory layout (each level of `col=value` directories is one
    * partition column). Empty for a flat extract.
    */
  private[etl] def partitionColumnsOf(fs: FileSystem, root: Path): Seq[String] = {
    val subdirs = fs.listStatus(root).filter(_.isDirectory)
      .filter { s =>
        val n = s.getPath.getName
        n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      }
    if (subdirs.isEmpty) Nil
    else subdirs.head.getPath.getName.split("=", 2)(0) +:
      partitionColumnsOf(fs, subdirs.head.getPath)
  }

  /** Leaf partition directories (depth = partition column count) with
    * their recursive byte sizes.
    */
  private def leafPartitions(fs: FileSystem, root: Path, depth: Int): Seq[(Path, Long)] =
    if (depth == 0) Seq(root -> fs.getContentSummary(root).getLength)
    else fs.listStatus(root).filter(_.isDirectory)
      .filter { s =>
        val n = s.getPath.getName
        n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      }
      .toSeq.flatMap(s => leafPartitions(fs, s.getPath, depth - 1))

  /** Hive path-name unescape (%xx sequences, the encoding Spark/Hive use
    * for partition values in directory names).
    */
  private[etl] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Compact an extract to ~`targetFileBytes` parquet files, PRESERVING
    * its hive partition layout. Incremental refresh ticks accrete small
    * files; at cluster scale the resulting task explosion and
    * namenode/list pressure dominate read cost.
    *
    * Flat extract: one `coalesce` (narrow — no shuffle) to
    * ceil(bytes/target) partitions, written to staging AT the final
    * layout (so `targetFileBytes` above the read-split size is honored —
    * no second rewrite to re-split it), then renamed into place via
    * [[swapInto]].
    *
    * Hive-partitioned extract (e.g. the `bucket=`-partitioned ANN index,
    * [[graft.ops.Similarity.writeLshIndex]]): compaction happens WITHIN
    * each partition — per-leaf file counts are sized from each leaf's
    * bytes, rows are shuffled on (partition cols, deterministic salt mod
    * that count) in ONE job, and the staging output is written with the
    * same `partitionBy`, so source-level partition pruning on the
    * compacted extract is preserved. File counts are approximate (hash
    * co-location can merge two salt groups of one partition into a task);
    * the per-leaf sizing pass lists the tree once on the driver — fine to
    * ~10^5 partitions, beyond which compact per subtree.
    */
  def compact(spark: SparkSession, extractPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions._
    val (fs, target) = hfs(spark, extractPath)
    val partCols = partitionColumnsOf(fs, target)
    val staging = new Path(extractPath + "__compact")
    val n = if (partCols.isEmpty) {
      val bytes = fs.getContentSummary(target).getLength
      val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      writeCounted(spark.read.parquet(extractPath).coalesce(parts))(
        _.write.mode("overwrite").parquet(staging.toString))
    } else {
      import spark.implicits._
      val leaves = leafPartitions(fs, target, partCols.length)
      val plan = leaves.map { case (p, bytes) =>
        // leaf path suffix col1=v1/.../colN=vN -> unescaped values; the
        // hive null-partition sentinel dir reads back as a NULL value,
        // so the plan stores null there too (the join is null-safe)
        val vals = p.toString.split('/').takeRight(partCols.length)
          .map { seg =>
            val v = unescapePathName(seg.split("=", 2)(1))
            if (v == "__HIVE_DEFAULT_PARTITION__") null else v
          }.toSeq
        (vals, math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong))
      }.toDF("__pv", "__nf")
      // read with partition-type INFERENCE OFF: inferred values do not
      // round-trip to the path strings the plan is keyed by (form_id=0123
      // infers to int 123, score=0.10 to 0.1, a null dir to NULL), and a
      // mismatched leaf would silently fall back to ONE file regardless
      // of size. As strings, both sides are byte-identical by
      // construction, and writing string partition columns reproduces
      // the exact original directory names (0123 stays 0123).
      val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
      val inferPrev = spark.conf.getOption(inferKey)
      spark.conf.set(inferKey, "false")
      try {
        val df = spark.read.parquet(extractPath)
        val dataCols = df.columns.filterNot(partCols.contains).toSeq
        // join the tiny per-leaf plan on the partition-value strings, then
        // salt deterministically so each leaf splits into ~its file count
        val keyExpr = array(partCols.map(col): _*)
        writeCounted(df.join(broadcast(plan), keyExpr <=> col("__pv"), "left")
          .withColumn("__salt",
            pmod(xxhash64(dataCols.map(col): _*), coalesce(col("__nf"), lit(1L))))
          .repartition(partCols.map(col) :+ col("__salt"): _*)
          .drop("__pv", "__nf", "__salt"))(
          _.write.mode("overwrite").partitionBy(partCols: _*).parquet(staging.toString))
      } finally inferPrev match {
        case Some(v) => spark.conf.set(inferKey, v)
        case None => spark.conf.unset(inferKey)
      }
    }
    swapInto(fs, staging, target)
    n
  }

  /** Overwrite `path` range-sorted on `sortCols`: rows are range-
    * partitioned then sorted within each file, so every file covers a
    * disjoint key range and parquet min/max footer stats let selective
    * readers skip whole files/row groups — the poor man's clustered
    * index for the extract, at zero read-side cost.
    */
  def overwriteSorted(df: DataFrame, path: String, sortCols: Seq[String],
                      numFiles: Int = 0): Long = {
    import org.apache.spark.sql.functions.col
    val cols = sortCols.map(col)
    val ranged =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    val n = writeCounted(ranged.sortWithinPartitions(cols: _*))(writeParquet(_, path, Nil))
    ensureReadable(df.sparkSession, path, df.schema)
    n
  }

  /** Z-value of numeric columns: each column is quantile-bucketed into
    * 2^bitsPerCol ranks (boundaries from `approxQuantile` — one cheap
    * pre-pass, no global sort) and the rank bits are interleaved, so
    * nearby Z-values are nearby in EVERY dimension. A pure codegen'd
    * expression over literal boundaries.
    */
  private[etl] def zValue(df: DataFrame, cols: Seq[String], bitsPerCol: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && bitsPerCol >= 1 &&
      bitsPerCol * cols.length <= 62, s"need bitsPerCol*cols <= 62")
    val n = 1 << bitsPerCol
    // ONE quantile pass for ALL clustering columns (the multi-column
    // overload) — per-column calls would scan the input once per column
    val allBounds = df.stat.approxQuantile(cols.toArray,
      (1 until n).map(_ / n.toDouble).toArray, 0.001)
    val ranks = cols.zip(allBounds).map { case (c, bounds) =>
      // approxQuantile ignores nulls: an all-null clustering column
      // yields ZERO boundaries, and the reduce below would die with a
      // bare "empty.reduce" naming neither column nor cause
      require(bounds.nonEmpty,
        s"z-order column '$c' has no non-null values this run — " +
          "drop it from the clustering key or filter the frame")
      bounds.map(b => when(col(c).cast("double") > b, 1L).otherwise(0L))
        .reduce(_ + _) // rank = # boundaries below the value, in [0, 2^bits)
    }
    (0 until bitsPerCol).flatMap { bit =>
      ranks.zipWithIndex.map { case (r, j) =>
        // bit `bit` of column j lands at interleaved position bit*k + j
        shiftleft(shiftright(r, bit).bitwiseAND(1L), bit * cols.length + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Overwrite `path` Z-ORDER clustered on `cols`: rows are range-
    * partitioned and sorted by the interleaved quantile-rank Z-value, so
    * every file covers a narrow range of EVERY clustering column and
    * parquet min/max stats skip files for selective predicates on ANY of
    * them — the multi-column generalization of [[overwriteSorted]]
    * (which keeps only its first sort column narrow). Cost: one
    * approxQuantile pre-pass + one range shuffle; no global sort.
    */
  def overwriteZOrdered(df: DataFrame, path: String, cols: Seq[String],
                        numFiles: Int = 0, bitsPerCol: Int = 8): Long = {
    import org.apache.spark.sql.functions.col
    val z = zValue(df, cols, bitsPerCol)
    val withZ = df.withColumn("__z", z)
    val ranged =
      if (numFiles > 0) withZ.repartitionByRange(numFiles, col("__z"))
      else withZ.repartitionByRange(col("__z"))
    val n = writeCounted(ranged.sortWithinPartitions("__z").drop("__z"))(
      writeParquet(_, path, Nil))
    ensureReadable(df.sparkSession, path, df.schema)
    n
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.catalog.FileStatus
import graft.etl.Refresh

/** Structured Streaming re-expression of the reference's scheduling/state
  * machinery.
  *
  * The reference runs a cron every 15 min that fully refreshes each active
  * extract (app/jobs/scheduler.py:10,76-89), tracks a per-file consecutive
  * `sync-failures` counter that deactivates the pipeline at 3
  * (app/utils/hyper_utils.py:239-263), and guards concurrent syncs with a
  * Redis lock (app/utils/onadata_utils.py:203). Spark-native:
  *
  *  - cron tick            → `Trigger.AvailableNow` (drain-and-stop, for
  *                           external schedulers) or
  *                           `Trigger.ProcessingTime` (resident loop)
  *  - full refresh         → `foreachBatch` + atomic parquet overwrite
  *                           (the output committer replaces the Redis lock)
  *  - failure counter      → `flatMapGroupsWithState` keyed by file id —
  *                           exactly-once state via the checkpoint, scales
  *                           horizontally by key hash, no external store
  *  - windowed monitoring  → watermarked tumbling-window aggregation
  */
object Streams {

  /** Default per-tick sync budget: `TASK_TIMEOUT` seconds from the
    * environment (the reference's exact knob, app/jobs/scheduler.py:11 —
    * `TASK_TIMEOUT = int(os.environ.get("TASK_TIMEOUT", "3600"))`),
    * falling back to 3600 s. Read once at class load, like the
    * reference's module constant; per-call override via the
    * [[syncTick]] parameter.
    */
  val DefaultTickBudgetMs: Long =
    sys.env.get("TASK_TIMEOUT").flatMap(_.toLongOption).getOrElse(3600L) * 1000L

  // ---- T1: scheduled full refresh --------------------------------------

  /** Each landing file is a COMPLETE export (the reference's polled CSV
    * snapshot); when one drain picks up several — catch-up after downtime
    * — the latest by the file's MODIFICATION TIME wins (filename ordering
    * is only chronological for zero-padded timestamp names; a landing dir
    * with mixed naming would silently refresh from the wrong snapshot).
    * Name breaks mtime ties deterministically. Concatenating full
    * snapshots would duplicate every row.
    *
    * The file list is one driver-side status call per drained file —
    * a drain holds at most a few snapshot exports, never data-scale.
    */
  private def latestExport(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val withFile = batch.withColumn("__file", input_file_name())
    val files = withFile.select("__file").distinct().collect().map(_.getString(0))
    val latest = files.maxBy { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (fs.getFileStatus(p).getModificationTime, f)
    }
    withFile.filter(col("__file") === latest).drop("__file")
  }

  /** One sync tick as a streaming query: drain everything new in `srcDir`
    * (CSV landing zone, the reference's export staging), apply `prepare`,
    * and full-refresh the parquet extract from the LATEST export in the
    * batch (see [[latestExport]]). `AvailableNow` processes all available
    * input then stops — the external-cron shape; pass
    * `Trigger.ProcessingTime("15 minutes")` for the resident shape.
    */
  def refreshQuery(spark: SparkSession, srcDir: String, schemaDdl: String,
                   extractPath: String, checkpoint: String,
                   prepare: DataFrame => DataFrame = identity,
                   trigger: Trigger = Trigger.AvailableNow()) = {
    val src = spark.readStream
      .schema(schemaDdl)
      .option("header", "true")
      .csv(srcDir)
    src.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // staged swap: a batch that crashes mid-write (and replays on
        // restart) must not have destroyed the previous extract in the
        // meantime — readers keep the committed copy until the new one
        // is complete
        if (!batch.isEmpty) { Refresh.overwriteStaged(prepare(latestExport(batch)), extractPath); () }
      }
      .start()
  }

  /** [[refreshQuery]] with snapshot isolation: every drained sync lands
    * as a NEW immutable `v=N` version under `root` (atomic `_LATEST`
    * pointer flip, see [[graft.etl.Versioned]]) instead of overwriting
    * the extract in place. A dashboard mid-scan during a sync keeps its
    * version's untouched files — the overwrite variant's staging swap
    * protects against torn writes but still deletes the files a slow
    * reader may hold open. `keep` bounds storage: after each publish the
    * trailing window is vacuumed (the pointed-at version is never
    * deleted).
    *
    * Crash recovery is EXACTLY-ONCE per drained sync: foreachBatch is
    * at-least-once (a crash after the side effect but before the
    * checkpoint commit replays the batch), so each publish carries an
    * idempotency tag — md5(checkpoint):batchId — committed atomically
    * inside the version's manifest. The replayed batch finds its tag via
    * [[graft.etl.Versioned.versionForTag]] and skips; a crash BEFORE the
    * manifest commit left only an invisible orphan, so the replay
    * publishes cleanly. Either way `_LATEST` always names a complete
    * version and the version sequence carries no duplicates.
    */
  def versionedRefreshQuery(spark: SparkSession, srcDir: String, schemaDdl: String,
                            root: String, checkpoint: String,
                            keep: Int = 3,
                            prepare: DataFrame => DataFrame = identity,
                            trigger: Trigger = Trigger.AvailableNow()) = {
    val src = spark.readStream
      .schema(schemaDdl)
      .option("header", "true")
      .csv(srcDir)
    val ckptId = checkpointId(checkpoint)
    src.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val tag = s"$ckptId:$batchId"
          if (graft.etl.Versioned.versionForTag(spark, root, tag).isEmpty) {
            graft.etl.Versioned.publish(prepare(latestExport(batch)), root, Some(tag))
            graft.etl.Versioned.vacuum(spark, root, keep)
          }
          ()
        }
      }
      .start()
  }

  /** 12-hex-char digest of a checkpoint location — the load-bearing
    * prefix of every replay-idempotency tag (`<ckptId>:<batchId>` /
    * `batch=<ckptId>-<batchId>`). ONE definition: three hand-maintained
    * copies of this constant could drift (truncation length, charset)
    * and silently break tag matching across streams that share a
    * corpus or version root.
    */
  private def checkpointId(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** One full sync tick WITH catalog accounting — the reference's
    * `import_to_hyper` loop end to end (app/core/importer.py:129-220):
    * drain the landing dir, refresh the extract, and record the outcome
    * in the metadata catalog — success resets the failure counter and
    * marks file_available; a throwing batch records a failure (counter
    * bump, latest_sync_failed, deactivation at the threshold) instead of
    * silently dying. `prepare` is the per-batch transform (the
    * reference's clean/normalize step); its exceptions are failures too.
    * `postCommit` runs AFTER the extract commit with the extract path —
    * the publish fan-out slot ([[graft.etl.Publish.publishExtract]], the
    * reference publishes the written artifact there); a throwing publish
    * is recorded as a sync FAILURE while the committed extract survives.
    * NOTE the batch's offsets still checkpoint (the failure is recorded,
    * not rethrown), so a failed publish is NOT replayed by re-running
    * syncTick on an unchanged landing dir — retry the fan-out alone with
    * [[retryPublish]], or it rides the next export's tick.
    */
  def syncTick(spark: SparkSession, srcDir: String, schemaDdl: String,
               extractPath: String, checkpoint: String,
               store: graft.catalog.MetaStore, fileId: Long,
               at: java.sql.Timestamp,
               prepare: DataFrame => DataFrame = identity,
               trigger: Trigger = Trigger.AvailableNow(),
               postCommit: String => Unit = _ => (),
               // per-tick wall-clock budget — the reference bounds one
               // sync job at TASK_TIMEOUT seconds, an env-tunable
               // defaulting to 3600 (app/jobs/scheduler.py:11,86: the RQ
               // job is killed and the round counts as failed). Same
               // contract here, same env knob: a tick that outlives the
               // budget records a sync FAILURE (feeding the A2 counter /
               // deactivation threshold) and the batch advances, instead
               // of a hung transport stalling the streaming loop forever.
               tickBudgetMs: Long = DefaultTickBudgetMs) = {
    val src = spark.readStream
      .schema(schemaDdl)
      .option("header", "true")
      .csv(srcDir)
    src.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // in-progress gauge around the import body — the reference's
          // IN_PROGRESS_HYPER_IMPORT inc/dec pair (onadata_utils.py:37)
          store.metrics.importStarted()
          try {
            // the failure record must be written EXACTLY once whether
            // the import throws (worker side) or outlives the budget
            // (watchdog side) — on timeout the cancelled Spark jobs
            // usually also surface as a worker-side exception, and
            // double-recording would bump the deactivation counter
            // twice for one failed round
            val recordedFailure = new java.util.concurrent.atomic.AtomicBoolean(false)
            def recordFail(reason: String): Unit =
              if (recordedFailure.compareAndSet(false, true))
                store.recordSyncResult(fileId, success = false, at, reason = reason)
            // only the IMPORT itself maps to a recorded sync failure;
            // the success bookkeeping sits OUTSIDE the try, so a store
            // hiccup after a fully successful import propagates as the
            // stream error it is instead of marking a healthy file
            // latest_sync_failed. NonFatal, not Throwable: an OOM or an
            // interrupt must not be swallowed into failure accounting
            // while the JVM is in an unreliable state (retryPublish
            // already follows both rules).
            val jobGroup = s"syncTick-$fileId-$batchId"
            val body = new java.util.concurrent.FutureTask[Boolean](() =>
              try {
                // job group is THREAD-local, so it must be set inside
                // the worker: that's what lets the watchdog cancel the
                // hung tick's actual Spark jobs, not just abandon the
                // thread driving them
                spark.sparkContext.setJobGroup(jobGroup,
                  s"sync tick file=$fileId batch=$batchId", interruptOnCancel = true)
                try {
                  // STAGED swap, not plain overwrite: the watchdog below
                  // may cancel this very write at the budget, and mode
                  // ("overwrite") clears the target before committing —
                  // a timeout mid-write would destroy the PREVIOUS
                  // extract. Staging keeps the committed extract intact
                  // until the new copy is complete.
                  Refresh.overwriteStaged(prepare(latestExport(batch)), extractPath)
                  postCommit(extractPath); true
                } finally spark.sparkContext.clearJobGroup()
              }
              catch {
                case scala.util.control.NonFatal(e) =>
                  recordFail(String.valueOf(e.getMessage))
                  false
              })
            val worker = new Thread(body, s"graft-$jobGroup")
            worker.setDaemon(true)
            worker.start()
            val ok =
              try body.get(tickBudgetMs, java.util.concurrent.TimeUnit.MILLISECONDS)
              catch {
                case _: java.util.concurrent.TimeoutException =>
                  recordFail(s"sync tick exceeded ${tickBudgetMs} ms budget")
                  // stop the hung tick's cluster work and interrupt the
                  // driver thread; a late partial write cannot corrupt
                  // the extract (overwriteStaged writes to a stage dir
                  // and swaps atomically — an uncommitted stage dir is
                  // just garbage, and the committed extract survives)
                  spark.sparkContext.cancelJobGroup(jobGroup)
                  body.cancel(true)
                  false
                case e: java.util.concurrent.ExecutionException =>
                  // fatal worker error (OOM, interrupt, linkage) —
                  // NonFatal ones were already converted to `false`
                  throw e.getCause
              }
            if (ok) store.recordSyncResult(fileId, success = true, at)
          } finally store.metrics.importFinished()
          ()
        }
      }
      .start()
  }

  /** Retry ONLY the publish fan-out of a failed sync round: the extract
    * was committed before the publish threw, and the drained batch's
    * offsets are already checkpointed, so re-running [[syncTick]] on an
    * unchanged landing dir sees an empty batch and would never
    * re-publish. Guarded on `latest_sync_failed` (retrying a healthy or
    * deactivated file is a no-op returning false); success/failure feeds
    * the same catalog accounting as the sync loop.
    */
  def retryPublish(store: graft.catalog.MetaStore, fileId: Long,
                   extractPath: String, postCommit: String => Unit,
                   at: java.sql.Timestamp): Boolean = {
    val failed = store.readHyperFiles().collect()
      .find(_.id == fileId)
      .exists(_.fileStatus == FileStatus.LatestSyncFailed)
    if (!failed) false
    else
      try { postCommit(extractPath); store.recordSyncResult(fileId, success = true, at); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          store.recordSyncResult(fileId, success = false, at,
            reason = String.valueOf(e.getMessage))
          false
      }
  }

  /** One incremental upsert of vectors into a cell-partitioned IVF index
    * ([[graft.ops.Similarity.writeIvfIndex]] layout: `cell=`-hive
    * partitions, probed via source-level pruning). The batch body of
    * [[annIndexStream]], also callable directly for batch upserts.
    *
    * A 100 TB ANN index cannot be rebuilt per refresh; this touches ONLY
    * the cells the delta lands in PLUS the cells updated ids are moving
    * OUT of (a re-embedded vector can change its nearest centroid — the
    * stale copy in the old cell must go). Per upsert: assign the delta
    * (narrow scan), find old homes of updated ids (a NARROW (id, cell)
    * column scan of the index — vectors never read; extreme scale keeps
    * an id→cell sidecar to make this a lookup), rewrite the touched
    * cells via dynamic partition overwrite, and DELETE any touched cell
    * the merge left empty (dynamic overwrite cannot drop a partition it
    * has no rows for). The data REWRITE is ∝ touched cells' population,
    * never the index.
    *
    * Centroids are FIXED (the index's probe map); re-centering is an
    * index rebuild by design, exactly like a production IVF.
    */
  def annIndexUpsert(spark: SparkSession, delta: DataFrame, path: String,
                     centroids: Array[(Long, Array[Double])],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.functions.col
    // null-vector rows would assign a null cell and poison the batch
    // forever (the same offsets replay on every restart); quarantine
    // them here. Duplicate ids within ONE batch keep a single arbitrary
    // row (dropDuplicates) — an upstream needing last-wins attaches a
    // version column and pre-reduces before calling.
    val cleaned = delta.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .dropDuplicates(idCol)
    val assigned = graft.ops.Similarity
      .ivfAssign(cleaned, idCol, vecCol, centroids)
      .withColumnRenamed("__cell", "cell").drop("__sim")
    // an SQ8 index (writeIvfIndex(quantized = true)) is detected from
    // the existing extract's schema and the delta encoded to match —
    // the quantizer is stateless per-vector, so unlike pqIndexUpsert
    // there is no committed-quantizer sidecar to stay consistent with
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a retrain swap that crashed between its two renames leaves the
    // index only at __old — recover BEFORE the exists() read below, or
    // this batch reads "absent store", skips quantization, and publishes
    // its raw delta as the whole index (recoverHalfSwap's contract:
    // call before any read that decides "absent table")
    graft.etl.Refresh.recoverHalfSwap(fs, target)
    val stored =
      if (fs.exists(target) &&
          graft.ops.Similarity.isSq8(
            spark.read.parquet(path).schema(vecCol).dataType))
        assigned.withColumn(vecCol, graft.ops.Similarity.quantize8(col(vecCol)))
      else assigned
    // the merge itself — touched-cells-only dynamic overwrite, emptied
    // cells dropped, empty delta a no-op — is the shared algorithm
    graft.ops.CellUpsert.upsert(spark, stored, idCol, "cell", path)
  }

  /** Streaming ANN index maintenance: each drained micro-batch of
    * (id, vector) rows upserts into the cell-partitioned IVF index via
    * [[annIndexUpsert]] — exactly-once through the checkpoint, cost per
    * batch ∝ touched cells, probes keep pruning at the source between
    * batches.
    */
  def annIndexStream(spark: SparkSession, vectors: DataFrame, path: String,
                     centroids: Array[(Long, Array[Double])],
                     checkpoint: String, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     trigger: Trigger = Trigger.AvailableNow()) =
    vectors.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          annIndexUpsert(spark, batch, path, centroids, idCol, vecCol)
      }
      .start()

  /** Streaming PQ index maintenance — [[annIndexStream]]'s pattern on
    * the code-sized serving tier: each drained micro-batch is ENCODED
    * with the index's committed quantizer (train-once /
    * encode-incrementally; scheduled retrain = a writePqIndex rebuild
    * through the same atomic swap) and upserted into only the cells it
    * touches via [[graft.ops.Similarity.pqIndexUpsert]] — exactly-once
    * through the checkpoint, cost per batch ∝ touched cells, probes
    * keep pruning at the source and stay bit-consistent with the
    * committed quantizer between retrains.
    */
  def pqIndexStream(spark: SparkSession, vectors: DataFrame, path: String,
                    checkpoint: String, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    trigger: Trigger = Trigger.AvailableNow()) =
    vectors.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.Similarity.pqIndexUpsert(spark, batch, path, idCol, vecCol)
      }
      .start()

  /** Streaming shard-manifest maintenance: each drained micro-batch of
    * append-only (id, text) documents folds into the training-ingest
    * manifest via [[graft.ops.Pack.shardManifestUpsert]] — the streamed
    * manifest equals the batch [[graft.ops.Pack.shardManifest]] over the
    * union corpus at every commit (the modular checksum commutes, so
    * extending the open tail shard is exact), crash replays no-op at the
    * high-water id, and the swap is atomic. Cost per batch ∝ batch +
    * manifest size, never the corpus.
    */
  def shardManifestStream(spark: SparkSession, docs: DataFrame, path: String,
                          checkpoint: String, shardTokens: Long,
                          idCol: String = "doc_id", textCol: String = "text",
                          trigger: Trigger = Trigger.AvailableNow()) = {
    import org.apache.spark.sql.functions.col
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.Pack.shardManifestUpsert(spark, batch, path, idCol,
            textCol, graft.ops.TextAnalysis.tokenCount(col(textCol)),
            shardTokens)
      }
      .start()
  }

  /** Streaming Z-order layout maintenance: each drained micro-batch of
    * keyed (key, x, y, …) rows upserts into the Z-clustered layout via
    * [[graft.ops.Layout.upsertZClustered]] — the layout twin of
    * [[annIndexStream]]: exactly-once through the checkpoint, rewrite
    * per batch ∝ touched quadtree cells, box queries keep pruning at
    * the source between batches (the curve parameters are the layout's
    * probe map — changing bits/k is a layout rebuild by design).
    */
  def zLayoutStream(spark: SparkSession, rows: DataFrame, path: String,
                    keyCol: String, xCol: String, yCol: String,
                    bits: Int, k: Int, checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()) =
    rows.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.Layout.upsertZClustered(
            spark, batch, keyCol, xCol, yCol, bits, k, path)
      }
      .start()

  /** Incremental streaming refresh: each drained micro-batch MERGEs into
    * the extract by key ([[graft.etl.Refresh.incremental]] — upsert +
    * schema drift absorbed) instead of full-rebuilding from the latest
    * snapshot. The shape the reference's 15-min rebuild tick should grow
    * into once exports become deltas: per-tick cost ∝ extract + delta,
    * exactly-once via the checkpoint + atomic staging swap, late deltas
    * still land because every batch re-merges.
    */
  def incrementalRefreshQuery(spark: SparkSession, srcDir: String,
                              schemaDdl: String, extractPath: String,
                              checkpoint: String, keys: Seq[String],
                              trigger: Trigger = Trigger.AvailableNow()) = {
    val src = spark.readStream
      .schema(schemaDdl)
      .option("header", "true")
      .csv(srcDir)
    src.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { Refresh.incremental(spark, batch, extractPath, keys); () }
      }
      .start()
  }

  /** Stream enriched against a static dimension (stream-static join):
    * the streaming side keeps its micro-batch cadence, the static side
    * is re-planned per batch (broadcast when small). No watermark needed
    * — the static side never ages.
    */
  def enrichStream(events: DataFrame, dim: DataFrame, keys: Seq[String],
                   broadcastDim: Boolean = true): DataFrame =
    events.join(if (broadcastDim) broadcast(dim) else dim, keys, "left")

  /** Watermarked stream-stream inner join: pair each left event with
    * right events of the same key within `joinWindow` AFTER it. Both
    * sides carry watermarks and the join condition bounds the time
    * range, so each side's buffered state is evicted once the watermark
    * passes the window — bounded state at any rate (an unbounded
    * stream-stream join would otherwise buffer both streams forever).
    */
  def joinStreams(left: DataFrame, leftTs: String, right: DataFrame,
                  rightTs: String, keys: Seq[String],
                  joinWindow: String = "1 hour",
                  watermark: String = "10 minutes",
                  rightPrefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    // rename BEFORE watermarking: renaming a tagged column can drop the
    // event-time tag the stateful join's checker looks for
    val renamed = right.columns.foldLeft(right)(
      (df, c) => df.withColumnRenamed(c, rightPrefix + c))
    val r = renamed.withWatermark(rightPrefix + rightTs, watermark)
    val cond = keys.map(k => col(k) === col(rightPrefix + k)).reduce(_ && _) &&
      col(rightPrefix + rightTs) >= col(leftTs) &&
      col(rightPrefix + rightTs) <= col(leftTs) + expr(s"INTERVAL $joinWindow")
    l.join(r, cond)
  }

  // ---- A2/T3: consecutive-failure tracker ------------------------------

  /** ONE source of truth with the catalog accounting
    * ([[graft.catalog.MetaStore.recordSyncResult]] reads the same
    * constant) — the streaming tracker and the catalog must agree on
    * when a file deactivates.
    */
  val FailureThreshold: Int = graft.ops.State.FailureThreshold

  case class SyncEvent(fileId: Long, seq: Long, success: Boolean)

  case class FileState(consecutiveFailures: Int, active: Boolean)

  /** Emitted after each batch for each file that saw events: the updated
    * counter, the resulting status, and whether this batch crossed the
    * deactivation threshold.
    */
  case class FileUpdate(fileId: Long, consecutiveFailures: Int,
                        status: String, deactivated: Boolean)

  /** Per-key state transition: events are folded in `seq` order; a success
    * zeroes the counter (status file_available), a failure increments it
    * (latest_sync_failed), and reaching the threshold deactivates the file
    * (file_unavailable) — after which further events are ignored, like the
    * reference's cancelled cron job.
    */
  def step(state: FileState, events: Seq[SyncEvent]): (FileState, Boolean) = {
    var s = state
    var crossed = false
    events.sortBy(_.seq).foreach { e =>
      if (s.active) {
        if (e.success) s = FileState(0, active = true)
        else {
          val n = s.consecutiveFailures + 1
          if (n >= FailureThreshold) { s = FileState(n, active = false); crossed = true }
          else s = FileState(n, active = true)
        }
      }
    }
    (s, crossed)
  }

  def statusOf(s: FileState): String =
    if (!s.active) FileStatus.FileUnavailable
    else if (s.consecutiveFailures == 0) FileStatus.FileAvailable
    else FileStatus.LatestSyncFailed

  /** The streaming failure tracker. State lives in the checkpoint (RocksDB
    * or HDFS-backed), partitioned by key hash — at 100 TB of sync logs the
    * state size is O(files), not O(events), and recovery is exactly-once.
    */
  def trackFailures(events: Dataset[SyncEvent]): Dataset[FileUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.fileId)
      .flatMapGroupsWithState[FileState, FileUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fileId: Long, it: Iterator[SyncEvent], gs: GroupState[FileState]) =>
          val prev = gs.getOption.getOrElse(FileState(0, active = true))
          val (next, crossed) = step(prev, it.toSeq)
          gs.update(next)
          Iterator.single(
            FileUpdate(fileId, next.consecutiveFailures, statusOf(next), crossed))
      }
  }

  /** Batch formulation of the same fold (for backfills over a sync-log
    * table): last-state per file via the identical [[step]] function,
    * distributed by key with mapGroups.
    */
  def trackFailuresBatch(events: Dataset[SyncEvent]): Dataset[FileUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.fileId).mapGroups { (fileId, it) =>
      val (s, crossed) = step(FileState(0, active = true), it.toSeq)
      FileUpdate(fileId, s.consecutiveFailures, statusOf(s), crossed)
    }
  }

  // ---- Streaming dedup -------------------------------------------------

  /** Exactly-once-per-key event stream within the watermark horizon: the
    * streaming flavor of exact dedup (state holds one entry per key and
    * is evicted once the watermark passes — bounded state at any rate).
    */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Relocate pre-partition-layout corpus files (flat `part-*` at the
    * root) into a `batch=legacy` partition so they coexist with the
    * `batch=<ckpt>-<id>` directories [[incrementalDedupQuery]] writes.
    * Hidden files (`_SUCCESS`, dotfiles) are left alone -- Spark's
    * partition discovery ignores them. Idempotent and cheap when the
    * corpus is already partitioned (one directory listing).
    */
  private[graft] def migrateFlatCorpus(spark: SparkSession,
                                       corpusPath: String): Unit = {
    val (fs, root) = Refresh.hfs(spark, corpusPath)
    if (fs.exists(root)) {
      val flat = fs.listStatus(root).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (flat.nonEmpty) {
        val legacy = new org.apache.hadoop.fs.Path(root, "batch=legacy")
        fs.mkdirs(legacy)
        flat.foreach { st =>
          val dst = new org.apache.hadoop.fs.Path(legacy, st.getPath.getName)
          require(fs.rename(st.getPath, dst),
            s"could not relocate legacy corpus file ${st.getPath} to $dst; " +
              "move flat files out of the corpus root (or into a " +
              "batch=<name> directory) and restart")
        }
      }
    }
  }

  /** Streaming corpus builder with HISTORY-WIDE dedup — the incremental
    * evolution of batch [[graft.ops.Dedup.nearDupPairs]]: each
    * micro-batch is deduplicated (a) within itself (keep-lowest-id over
    * verified near-dup pairs) and (b) against EVERYTHING accepted so
    * far, through the persisted band index
    * ([[graft.ops.Dedup.nearDupsAgainstIndex]] — history is signed once,
    * never re-signed), then survivors append to the clean corpus extract
    * and their bands to the index, so the NEXT batch dedups against
    * them. Unlike the watermark-bounded
    * [[nearDupSuppressStream]]/[[nearDupPairsStream]] (whose state ages
    * out), the index IS the state — durable, unbounded-horizon, and
    * shared with batch consumers.
    *
    * Corpus layout: `spark.read.parquet(corpusPath)` returns the clean
    * corpus PLUS a string partition column `batch` (`<ckpt>-<id>`, or
    * `legacy` for rows migrated from a flat pre-partitioned corpus) --
    * drop it if the original schema is required.
    */
  def incrementalDedupQuery(spark: SparkSession, docs: DataFrame,
                            idCol: String, textCol: String,
                            corpusPath: String, indexPath: String,
                            checkpoint: String, threshold: Double = 0.8,
                            trigger: Trigger = Trigger.AvailableNow()) = {
    // Corpus layout contract: survivors land in hive-style
    // batch=<ckpt>-<id> partition directories, so every reader of
    // corpusPath sees an extra STRING partition column `batch` (replay
    // idempotency depends on it -- see the write below). A corpus
    // written by a pre-partitioned layout (flat part files at the root)
    // would make partition discovery fail with "conflicting directory
    // structures" on the FIRST mixed write, far from the cause -- so
    // relocate any flat root files into a batch=legacy partition up
    // front, before the stream starts.
    migrateFlatCorpus(spark, corpusPath)
    val ckptId = checkpointId(checkpoint)
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val intra = graft.ops.Dedup.nearDupPairs(batch, idCol, textCol, threshold)
          val batchClean = batch.join(
            intra.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
          val (fs, idxPath) = Refresh.hfs(spark, indexPath)
          // materialize survivors WHILE intra/cross are still cached
          // (eagerly = persist→count→unpersist intermediates): unpersisting
          // them before the first action on survivors would re-run the
          // whole candidate pipeline — including a corpus scan concurrent
          // with the append below — once per micro-batch
          val survivors = (if (fs.exists(idxPath)) {
            val cross = graft.ops.Dedup.nearDupsAgainstIndex(
              batchClean, idCol, textCol, indexPath,
              spark.read.parquet(corpusPath), threshold)
            val out = batchClean.join(
              cross.select(col("id_new").as(idCol)).distinct(), Seq(idCol), "left_anti")
            graft.ops.Dedup.eagerly(out, intra, cross)
          } else graft.ops.Dedup.eagerly(batchClean, intra))
          try {
            // corpus first, then bands: a crash between the two leaves a
            // doc unindexed (its dups slip through once) rather than a
            // band pointing at a doc the corpus doesn't have.
            //
            // REPLAY idempotency: each batch's survivors land in their
            // own batch=<ckpt>-<id> partition via OVERWRITE, so a batch
            // replayed after a crash (foreachBatch is at-least-once)
            // REWRITES its partition instead of appending duplicates.
            // The replay recomputes the SAME survivor set: the index's
            // self-rows are excluded by nearDupsAgainstIndex's
            // id_new =!= id_old filter, so a doc never suppresses its
            // own first-attempt copy — that filter is load-bearing for
            // this contract. Replayed band appends can duplicate band
            // rows, which is harmless (candidates are distinct-ed).
            survivors.write.mode("overwrite")
              .parquet(s"$corpusPath/batch=$ckptId-$batchId")
            graft.ops.Dedup.appendToBandIndex(survivors, idCol, textCol, indexPath)
          } finally survivors.unpersist(blocking = false)
          ()
        }
      }
      .start()
  }

  /** Streaming maintenance for the LOSSLESS set-similarity prefix index
    * ([[graft.ops.Dedup.writeSetSimIndex]]) — the exact-tier analog of
    * [[incrementalDedupQuery]], completing the pattern every other index
    * in the repo already has (band / IVF / PQ / Z-layout): each
    * micro-batch is decontaminated (a) within itself via the exact
    * self-join (keep-lowest-id over pairs at Jaccard ≥ num/den — NO miss
    * probability, unlike the banded tier) and (b) against everything
    * accepted so far via the persisted prefix index
    * ([[graft.ops.Dedup.setSimAgainstIndex]] — history is tokenized,
    * counted, and window-ordered exactly once, never recomputed), then
    * survivors append to the clean corpus extract and their ordered
    * token lists to the index under the FROZEN frequency snapshot
    * ([[graft.ops.Dedup.appendToSetSimIndex]]). The first accepted batch
    * FREEZES the canonical order (writeSetSimIndex); losslessness holds
    * across any number of appends because completeness needs only a
    * shared total order — only PRUNING quality decays as true
    * frequencies drift from the snapshot, and [[refreezeSetSimIndex]]
    * is the compaction step when the drift gauge
    * ([[graft.ops.Dedup.setSimIndexDrift]]) says the order has gone
    * stale.
    *
    * Replay idempotency: survivors land in their own `batch=<ckpt>-<id>`
    * corpus partition via overwrite (the [[incrementalDedupQuery]]
    * contract — a replayed batch rewrites, never duplicates); a replayed
    * index append can duplicate token rows, which is harmless —
    * candidates are distinct-ed and verification is per-pair (the
    * band-append rule). Corpus commits BEFORE the index append: a crash
    * between the two leaves a doc unindexed (its dups slip through once)
    * rather than index rows pointing at docs the corpus doesn't have.
    */
  def setSimIndexMaintenanceQuery(spark: SparkSession, docs: DataFrame,
                                  idCol: String, textCol: String,
                                  corpusPath: String, indexPath: String,
                                  checkpoint: String,
                                  num: Int = 7, den: Int = 10,
                                  trigger: Trigger = Trigger.AvailableNow()) = {
    migrateFlatCorpus(spark, corpusPath)
    val ckptId = checkpointId(checkpoint)
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // setSimJoinExact is lazy: persisted so the index probe and the
          // survivor count below read one computation of it
          val intra = graft.ops.Dedup.setSimJoinExact(batch, idCol, textCol,
            num, den).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val batchClean = batch.join(
            intra.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
          val (fs, idxTok) = Refresh.hfs(spark, s"$indexPath/tokens")
          val indexed = fs.exists(idxTok)
          val survivors = (if (indexed) {
            val cross = graft.ops.Dedup.setSimAgainstIndex(
              batchClean, idCol, textCol, indexPath,
              spark.read.parquet(corpusPath), num, den)
            val out = batchClean.join(
              cross.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")
            graft.ops.Dedup.eagerly(out, intra, cross)
          } else graft.ops.Dedup.eagerly(batchClean, intra))
          try {
            survivors.write.mode("overwrite")
              .parquet(s"$corpusPath/batch=$ckptId-$batchId")
            if (indexed)
              graft.ops.Dedup.appendToSetSimIndex(survivors, idCol, textCol,
                indexPath)
            else
              graft.ops.Dedup.writeSetSimIndex(survivors, idCol, textCol,
                indexPath)
          } finally survivors.unpersist(blocking = false)
          ()
        }
      }
      .start()
  }

  /** Re-freeze the set-sim prefix index's canonical order from the
    * corpus as it currently stands — [[setSimIndexMaintenanceQuery]]'s
    * compaction step, the reference's cron-sync maintenance shape
    * (scheduler-driven rebuild while the live artifact keeps serving).
    * [[graft.ops.Dedup.writeSetSimIndex]] stages and swaps atomically,
    * so probes against the old order are served until the new order
    * commits; run it when [[graft.ops.Dedup.setSimIndexDrift]]'s
    * re-freeze signal trips.
    */
  def refreezeSetSimIndex(spark: SparkSession, corpusPath: String,
                          indexPath: String, idCol: String,
                          textCol: String): Unit =
    graft.ops.Dedup.writeSetSimIndex(
      spark.read.parquet(corpusPath).select(col(idCol), col(textCol)),
      idCol, textCol, indexPath)

  /** One micro-batch's distribution-drift report — see
    * [[driftMonitorQuery]].
    */
  case class DriftReport(nDocs: Long, nCats: Int, klBits: Double,
                         topShiftCat: String, topShiftBits: Double)

  /** One batch's categorical drift vs a fixed reference — the PURE body
    * of [[driftMonitorQuery]], so the spec pins the arithmetic without a
    * stream. `KL(batch ‖ reference)` in bits between λ-uniform-smoothed
    * distributions over the UNION of batch and reference categories:
    * `p' = (1−λ)·p + λ/K` (smoothing keeps every term finite when a
    * category appears on only one side — new-source and vanished-source
    * drift both register instead of dividing by zero). `topShiftCat` is
    * the category contributing the largest KL term (ties break to the
    * lexicographically smallest), i.e. WHAT drifted, not just how much.
    *
    * The per-batch histogram is one distributed map-side-combined
    * groupBy; only ≤ |categories| rows reach the driver — this is a
    * monitor for LOW-CARDINALITY mix columns (source, lang, shard), the
    * same bound the IVF centroid collect documents. Reference weights
    * are unnormalized (any positive scale); None on an empty batch.
    */
  def driftReport(batch: DataFrame, catCol: String,
                  reference: Map[String, Double],
                  lambda: Double = 0.01): Option[DriftReport] = {
    require(lambda > 0 && lambda < 1, s"need 0<lambda<1, got $lambda")
    require(reference.nonEmpty && reference.values.forall(_ >= 0)
      && reference.values.sum > 0, "reference must carry positive weight")
    // null keeps its own category (U+0000 sentinel — the repo's standard
    // null marker, outside any real category alphabet): folding it into
    // "" would collide with a genuine empty-string category and toMap
    // would silently drop one of the two counts
    val counts = batch
      .groupBy(coalesce(col(catCol).cast("string"), lit("\u0000")).as("c"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) None
    else {
      val cats = (counts.keySet ++ reference.keySet).toSeq.sorted
      val k = cats.size
      val n = counts.values.sum.toDouble
      val w = reference.values.sum
      var kl = 0.0d
      var topCat = cats.head
      var topBits = Double.MinValue
      cats.foreach { c => // sorted fold: deterministic double accumulation
        val p = (1 - lambda) * (counts.getOrElse(c, 0L) / n) + lambda / k
        val q = (1 - lambda) * (reference.getOrElse(c, 0.0) / w) + lambda / k
        val term = p * math.log(p / q) / math.log(2)
        kl += term
        if (term > topBits) { topBits = term; topCat = c }
      }
      Some(DriftReport(counts.values.sum, k, kl, topCat, topBits))
    }
  }

  /** Streaming ingestion-mix drift monitor: every micro-batch is scored
    * against the fixed reference with [[driftReport]] and appends ONE
    * row under `reportDir/batch_id=N` (written through the staging
    * overwrite, so a REPLAYED batch rewrites its own partition instead
    * of duplicating it — replay-idempotent by layout, the same lever
    * the versioned refresh uses). Alerting is a downstream filter on
    * `kl_bits`; the report stream is tiny (one row per batch) and reads
    * back as one partitioned table with `batch_id` from the directory
    * key.
    */
  def driftMonitorQuery(docs: DataFrame, catCol: String,
                        reference: Map[String, Double], reportDir: String,
                        checkpoint: String, lambda: Double = 0.01,
                        trigger: Trigger = Trigger.AvailableNow()) = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        driftReport(batch, catCol, reference, lambda).foreach { r =>
          Refresh.overwrite(
            Seq((r.nDocs, r.nCats, r.klBits, r.topShiftCat, r.topShiftBits))
              .toDF("n_docs", "n_cats", "kl_bits",
                "top_shift_cat", "top_shift_bits"),
            s"$reportDir/batch_id=$bid")
        }
        ()
      }
      .start()
  }

  /** Streaming frequency-profile maintenance: each micro-batch's
    * count-min sketch cell-adds into the persisted `d×w` sketch —
    * mergeability ([[graft.ops.Sketch]]) IS the streaming operator, so
    * the running corpus-lifetime profile costs one batch-sized scan plus
    * a ≤ `d·w`-row merge per drain, and NEVER a history re-scan. The
    * store is a versioned snapshot root: every merge publishes a NEW
    * tiny version under the batch's idempotency tag, so a replayed
    * batch (crash between publish and checkpoint commit) finds its tag
    * and skips — exactly-once cell totals on an at-least-once executor,
    * the [[versionedRefreshQuery]] recovery contract applied to sketch
    * state. Readers `Versioned.readLatest` a complete snapshot, never a
    * half-merged one; `keep` bounds the version trail.
    */
  def cmsSketchStream(docs: DataFrame, valueCol: String, root: String,
                      checkpoint: String, d: Int = 4, w: Int = 64,
                      keep: Int = 3,
                      trigger: Trigger = Trigger.AvailableNow()) = {
    val spark = docs.sparkSession
    val ckptId = checkpointId(checkpoint)
    docs.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val tag = s"$ckptId:$batchId"
          if (graft.etl.Versioned.versionForTag(spark, root, tag).isEmpty) {
            val bs = graft.ops.Sketch.cmsSketch(batch, valueCol, d, w)
            val merged = graft.etl.Versioned.currentVersion(spark, root) match {
              case None => bs
              case Some(_) => graft.etl.Versioned.readLatest(spark, root)
                .union(bs).groupBy(col("j"), col("bucket"))
                .agg(sum(col("cnt")).as("cnt"))
            }
            graft.etl.Versioned.publish(merged, root, Some(tag))
            graft.etl.Versioned.vacuum(spark, root, keep)
          }
          ()
        }
      }
      .start()
  }

  /** A detected streaming duplicate: `docId` arrived with the same
    * MinHash signature as the earlier `firstDocId`.
    */
  case class DupMatch(firstDocId: Long, docId: Long)

  /** State of [[nearDupPairsStream]]: first doc seen per signature. */
  case class FirstSeen(docId: Long, expiresAtMs: Long)

  /** Streaming near-dup PAIR detection — the lineage-emitting complement
    * of [[nearDupSuppressStream]]: instead of silently dropping
    * duplicates, emit (first_doc, dup_doc) for every later arrival whose
    * signature was already seen inside the watermark horizon.
    *
    * State: one (signature → first doc id) entry, keyed by the k
    * signature components, evicted by event-time timeout once the
    * watermark passes `watermark` beyond the first sighting — bounded at
    * any input rate, exactly like dropDuplicatesWithinWatermark's own
    * state. The signature is the stateless narrow native expression, so
    * nothing stands between source and the stateful operator.
    */
  def nearDupPairsStream(docs: DataFrame, tsCol: String, idCol: String,
                         textCol: String, watermark: String = "10 minutes",
                         k: Int = 6): Dataset[DupMatch] = {
    import docs.sparkSession.implicits._
    val horizonMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    // months have no fixed millisecond length; silently dropping them
    // would shrink the state horizon to zero and let later-in-the-month
    // duplicates through unreported — reject rather than under-dedup
    require(horizonMs.months == 0,
      s"month-denominated watermarks are not supported here (got '$watermark'); " +
        "use a day/hour horizon")
    val horizon = horizonMs.days * 86400000L + horizonMs.microseconds / 1000L
    // fail at ANALYSIS time on a non-integral id column: cast("long")
    // on a string/uuid id yields null under non-ANSI semantics, and the
    // non-nullable Long in the tuple encoder would then kill the query
    // MID-STREAM on the first batch ("Null value appeared in
    // non-nullable field") — map such ids to longs upstream (xxhash64)
    val idType = docs.schema(idCol).dataType
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    require(integral.contains(idType),
      s"nearDupPairsStream reports DupMatch(long, long); id column '$idCol' " +
        s"is ${idType.simpleString} — hash or map it to a long upstream")
    docs
      .withColumn("__sig",
        concat_ws("|", graft.functions.MinHashSignature(col(textCol), 3, k)))
      .filter(col("__sig") =!= "")
      // a NULL id cannot be reported in a DupMatch — route it out before
      // the non-nullable encoder, like the empty-signature rows above
      .filter(col(idCol).isNotNull)
      .select(col("__sig"), col(idCol).cast("long").as("__id"),
        col(tsCol).as("__ts"))
      // watermark AFTER the projection: tagging the pre-rename column and
      // then aliasing it can drop the event-time tag the stateful
      // operator's checker looks for
      .withWatermark("__ts", watermark)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FirstSeen, DupMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         gs: GroupState[FirstSeen]) =>
          if (gs.hasTimedOut) { gs.remove(); Iterator.empty }
          else {
            val batch = it.toSeq.sortBy(r => (r._3.getTime, r._2))
            val dups = scala.collection.mutable.ArrayBuffer.empty[DupMatch]
            var st = gs.getOption
            val isNew = st.isEmpty
            batch.foreach { case (_, id, ts) =>
              st match {
                case Some(s) => if (id != s.docId) dups += DupMatch(s.docId, id)
                case None => st = Some(FirstSeen(id, ts.getTime + horizon))
              }
            }
            // set the eviction clock only when the state is first created
            // (re-setting could move the timeout behind the watermark)
            if (isNew) st.foreach { s =>
              gs.update(s)
              gs.setTimeoutTimestamp(s.expiresAtMs)
            }
            dups.iterator
          }
      }
  }

  /** Streaming content near-dup suppression: drop any document whose
    * MinHash signature was already seen inside the watermark horizon.
    * Possible precisely because the native signature expression is a
    * STATELESS narrow projection — no shuffle or explode stands between
    * the source and the stateful dedup operator, so the only state is
    * the bounded dedup map keyed by the k signature components (LSH-
    * grade near-dup: identical signature ⇒ near-identical content).
    */
  def nearDupSuppressStream(docs: DataFrame, tsCol: String, textCol: String,
                            watermark: String = "10 minutes",
                            k: Int = 6): DataFrame = {
    val keyed = docs
      .withColumn("__sig", graft.functions.MinHashSignature(col(textCol), 3, k))
      // a doc with fewer than 3 words has no shingles → NULL signature.
      // Those docs must PASS THROUGH, not vanish: they fall back to an
      // exact-text dedup key (U+0000-prefixed so it can never collide
      // with a joined signature) — identical short docs still suppress,
      // distinct ones all survive.
      .withColumn("__key",
        when(col("__sig").isNotNull, concat_ws("|", col("__sig")))
          .otherwise(concat(lit("\u0000"), col(textCol))))
      .withWatermark(tsCol, watermark)
    // NULL-text docs have a NULL fallback key, and the stateful dedup
    // groups null keys together -- distinct null-text docs would collapse
    // to one survivor. There is no content to dedup on, so they bypass
    // the operator (both branches hang off the same watermark node).
    keyed.filter(col("__key").isNotNull)
      .dropDuplicatesWithinWatermark("__key")
      .unionByName(keyed.filter(col("__key").isNull))
      .drop("__sig", "__key")
  }

  // ---- Monitoring: watermarked tumbling windows ------------------------

  /** Per-window event counts with late-data tolerance `watermark` — the
    * streaming flavor of Parity's q_window_tumbling. Append output emits
    * each window once, when the watermark passes it.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** Sessionized per-key activity — the streaming flavor of Parity's
    * batch sessionization (q_session_lag): events of one key within `gap`
    * of each other merge into one session window; a session is emitted
    * exactly once, when the watermark passes its end (Append mode). State
    * is one open session per ACTIVE key — merged on arrival, evicted on
    * emission — so state size tracks concurrently-active keys, not event
    * history, at any input rate.
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n"))

  // ---- Streaming funnel --------------------------------------------------

  case class JourneyEvent(userId: Long, seq: Long, eventType: String)

  /** One row per funnel-stage advance: `stage` is 1-based (stage k means
    * the user has now completed steps 0..k-1 in order).
    */
  case class FunnelProgress(userId: Long, stage: Int, step: String)

  /** Streaming flavor of [[graft.ops.Behavior.funnel]]: per-user funnel
    * progress emitted INCREMENTALLY as events arrive — the greedy
    * earliest-occurrence matcher. The batch funnel requires each stage
    * STRICTLY after the previous stage's qualifying event (`__ts > __t`),
    * so the state carries the seq at which the last stage was reached and
    * an event only advances when `e.seq` is strictly greater — ties on
    * the ordering key never advance, matching batch. Equivalence with the
    * batch definition holds for streams delivered in seq order per user
    * (a late out-of-seq event earlier than an already-taken advance can
    * shift which occurrence qualified, though never the stage count).
    * State is (stage, lastSeq) per user — two words, so 10^9 users is
    * gigabytes of checkpoint state regardless of event volume, and a
    * user's progress survives across micro-batches exactly-once via the
    * checkpoint.
    *
    * NOTE on checkpoint compatibility: the state type changed from `Int`
    * to `(Int, Long)` when strict seq-ordering landed — a stream resuming
    * from a checkpoint written by the older shape fails on the
    * incompatible state encoder. Restart such streams with a FRESH
    * `checkpointLocation` (the funnel rebuilds from the source's retained
    * history); new deployments are unaffected.
    */
  def funnelStream(events: Dataset[JourneyEvent],
                   steps: Seq[String]): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[(Int, Long), FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[JourneyEvent], gs: GroupState[(Int, Long)]) =>
          var (stage, lastSeq) = gs.getOption.getOrElse((0, Long.MinValue))
          val out = Seq.newBuilder[FunnelProgress]
          it.toSeq.sortBy(_.seq).foreach { e =>
            if (stage < steps.length && e.eventType == steps(stage) &&
                (stage == 0 || e.seq > lastSeq)) {
              stage += 1
              lastSeq = e.seq
              out += FunnelProgress(uid, stage, e.eventType)
            }
          }
          gs.update((stage, lastSeq))
          out.result().iterator
      }
  }
}

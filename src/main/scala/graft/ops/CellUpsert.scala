package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared cell-scoped keyed-upsert algorithm behind the streaming
  * ANN index ([[graft.streaming.Streams.annIndexUpsert]], partition
  * column `cell`) and the Z-order layout ([[Layout.upsertZClustered]],
  * `zbucket`) — one implementation so the subtle parts (self-read
  * truncation, emptied-partition deletion, empty-delta no-op) cannot
  * drift between the two.
  *
  * A 100 TB partitioned store cannot be rewritten per refresh; an
  * upsert touches ONLY the partitions the delta lands in PLUS the
  * partitions updated keys are moving OUT of (a re-embedded vector or
  * re-scored doc changes its cell — the stale row in the old cell must
  * go). Old homes come from a NARROW (key, cell) column scan of the
  * store (data columns never read; extreme scale keeps a key→cell
  * sidecar to make this a lookup); touched cells are rewritten via
  * dynamic partition overwrite, and a touched cell the merge left empty
  * is deleted explicitly (dynamic overwrite cannot drop a partition it
  * has no rows for). The rewrite is ∝ touched cells' population, never
  * the store.
  */
object CellUpsert {

  /** Merge `assignedIn` — one row per `keyCol`, each already carrying
    * its LONG `cellCol` — into the hive-partitioned dataset at `path`.
    * `sortWithin` optionally re-sorts each rewritten partition (the
    * Z-layout keeps intra-file curve clustering through the merge).
    *
    * An EMPTY `assigned` is a complete no-op — critically on first
    * publish, where writing a zero-row frame would create a directory
    * holding only `_SUCCESS`; every later `spark.read.parquet` of it
    * would throw (no schema), failing the batch, leaving streaming
    * offsets uncommitted, and replaying the same poison forever.
    *
    * Only a genuinely absent store is a first publish — a transient
    * read failure must FAIL the batch (offsets uncommitted → replay),
    * because treating it as empty would let the dynamic overwrite
    * replace the landing cells with delta-only rows, silently deleting
    * data.
    */
  def upsert(spark: SparkSession, assignedIn: DataFrame, keyCol: String,
             cellCol: String, path: String,
             sortWithin: Option[Column] = None): Unit = {
    val (fs, target) = graft.etl.Refresh.hfs(spark, path)
    // PIN the delta before anything observes it: `assignedIn` is
    // evaluated by several independent jobs below (touched-cell
    // collects, the merge, the remaining-cell collect), and callers
    // legitimately hand in NONDETERMINISTIC frames (dropDuplicates
    // keeps an arbitrary row per key). If two jobs resolved a
    // duplicated key to DIFFERENT cells, the touched set and the
    // written rows would disagree and a dynamic overwrite of a cell
    // whose pre-existing rows were never read back is silent data
    // loss. One materialization makes every job see the same rows.
    val assigned = assignedIn.localCheckpoint(true)
    val existing: Option[DataFrame] =
      if (!fs.exists(target)) None
      else
        // hive partition-column inference reads `cell=N` back as INT —
        // normalize to LONG so collects and the union with the freshly
        // assigned (long) cells agree on one type
        Some(spark.read.parquet(path)
          .withColumn(cellCol, col(cellCol).cast("long")))
    val newCells = assigned.select(cellCol).distinct()
      .collect().map(_.getLong(0)).toSet
    val oldCells = existing.map(
        _.select(col(keyCol), col(cellCol))
          .join(assigned.select(col(keyCol)), Seq(keyCol), "left_semi")
          .select(cellCol).distinct().collect().map(_.getLong(0)).toSet)
      .getOrElse(Set.empty)
    val touched = (newCells ++ oldCells).toSeq.sorted
    if (touched.isEmpty) return // empty delta: nothing lands, nothing moves
    val merged = existing match {
      case None => assigned
      case Some(idx) =>
        idx.filter(col(cellCol).isin(touched: _*))
          .join(assigned.select(col(keyCol)), Seq(keyCol), "left_anti")
          .unionByName(assigned)
          // truncate lineage so the overwrite never reads the files it
          // is replacing (self-read-overwrite is undefined)
          .localCheckpoint(true)
    }
    val toWrite = sortWithin match {
      case Some(curve) =>
        merged.repartition(col(cellCol)).sortWithinPartitions(curve)
      case None => merged
    }
    // dynamic partition overwrite WITHOUT Refresh.overwritePartitions:
    // that helper also lists every cell directory of the store
    // (ensureReadable) and waits for its observed count, on every
    // upsert — the entire point is to touch only cells
    toWrite.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cellCol)
      .parquet(path)
    // dynamic overwrite only replaces partitions PRESENT in the delta: a
    // touched cell whose last row moved away produced no rows, so its
    // stale directory must be dropped explicitly
    val remaining = merged.select(cellCol).distinct()
      .collect().map(_.getLong(0)).toSet
    (touched.toSet -- remaining).foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$cellCol=$c"), true)
    }
  }
}

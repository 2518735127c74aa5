package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pipeline state operators: failure counting and status transitions.
  *
  * The reference keeps a per-file `sync-failures` counter in a JSON column,
  * increments it on failure, zeroes it on success, and at >= 3 consecutive
  * failures cancels the cron job and deactivates the file
  * (app/utils/hyper_utils.py:239-263, threshold at :254; live increments
  * app/core/importer.py:143-145,157-159,212). Status machine: queued →
  * syncing → file_available | latest_sync_failed | file_unavailable
  * (app/schemas/hyperfile.py:11-16).
  *
  * Batch formulation: a groupBy with map-side partial aggregation — one
  * shuffle keyed by the entity id, linear in input at any scale. The
  * streaming formulation lives in graft.streaming (mapGroupsWithState).
  */
object State {

  val FailureThreshold = 3

  /** A2: count failure events per key and flag entities at/over the
    * deactivation threshold. `isFailure` rows count; others reset nothing
    * in the batch formulation (consecutive-ness is the streaming flavor's
    * job — see graft.streaming.FailureTracker).
    */
  def failureCounts(df: DataFrame, keyCol: String, isFailure: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(col(keyCol))
      .agg(sum(when(isFailure, 1).otherwise(0)).as("failures"))
      .withColumn("deactivate", col("failures") >= FailureThreshold)

  /** Entities that must be deactivated (threshold reached). */
  def toDeactivate(df: DataFrame, keyCol: String, isFailure: org.apache.spark.sql.Column): DataFrame =
    failureCounts(df, keyCol, isFailure).filter(col("deactivate")).drop("deactivate")

  /** T3 guard: rows whose status permits a new sync (the reference returns
    * HTTP 202 while queued/syncing — file.py:188-199).
    */
  def syncable(df: DataFrame, statusCol: String): DataFrame =
    // null-safe: !isin(...) is NULL for a NULL status (three-valued
    // logic) and filter would DROP the row — but an unset status is
    // neither queued nor syncing, so it is sync-permitted
    df.filter(col(statusCol).isNull || !col(statusCol).isin("queued", "syncing"))
}

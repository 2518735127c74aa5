package graft.catalog

import java.sql.Timestamp

/** Typed metadata-catalog rows — fixed-schema `Dataset[T]` case classes
  * mirroring the reference's SQLAlchemy models (SURVEY.md §1.1/§1.3).
  *
  * Uniqueness invariants (each declared once by its MetaStore registry
  * and checked at every commit, the analog of the DB unique constraints;
  * a commit that breaks one throws [[UniqueKeyViolation]]):
  *  - HyperFileMeta: (userId, formId)   [app/models/hyperfile.py:43]
  *  - UserMeta:      (serverId, username) [app/models/user.py:8-10]
  *  - ServerMeta:    url                  [app/models/server.py:8]
  *  - ConfigMeta:    (serverAddress, tokenName, userId)
  *                                        [app/models/configuration.py:10-13]
  */
case class ServerMeta(id: Long, url: String)

case class UserMeta(id: Long, username: String, serverId: Long)

case class ConfigMeta(id: Long, userId: Long, serverAddress: String,
                      tokenName: String, exportSettings: Map[String, String])

/** One form→extract pipeline. `fileStatus` ∈ FileStatus.All; `metaData`
  * carries the sync-failures / job-id / failure-reason keys
  * (app/common_tags.py:11-13).
  */
case class HyperFileMeta(id: Long, userId: Long, formId: Long,
                         filename: String, fileStatus: String,
                         isActive: Boolean, metaData: Map[String, String],
                         lastUpdated: Timestamp)

object FileStatus {
  val Queued = "queued"
  val Syncing = "syncing"
  val FileAvailable = "file_available"
  val LatestSyncFailed = "latest_sync_failed"
  val FileUnavailable = "file_unavailable"
  val All: Set[String] =
    Set(Queued, Syncing, FileAvailable, LatestSyncFailed, FileUnavailable)

  /** T3 transition guard (app/core/importer.py:129-131,196-220 and the
    * 202 guard file.py:188-199): which statuses may move to `to`.
    */
  def canTransition(from: String, to: String): Boolean = (from, to) match {
    case (Queued, Syncing)                                   => true
    case (FileAvailable | LatestSyncFailed | FileUnavailable, Queued | Syncing) => true
    case (Syncing, FileAvailable | LatestSyncFailed | FileUnavailable) => true
    case _                                                   => false
  }
}

object MetaKeys {
  val SyncFailures = "sync-failures"
  val JobId = "job-id"
  val FailureReason = "failure-reason"
}

package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.etl.Refresh

/** A commit that would leave two rows of one registry under one unique
  * key (the Postgres unique-constraint violation). Nothing is written.
  */
final class UniqueKeyViolation(msg: String) extends IllegalArgumentException(msg)

/** Parquet-backed typed metadata store: the reference's Postgres catalog
  * (HyperFile, User, Server and Configuration tables) re-expressed as
  * four registries of one shape. Each registry declares its table
  * name, its id and its unique key once ([[Registry]]); everything else
  * is shared:
  *  - one read ([[read]]): the encoder's schema, so no inference job; an
  *    absent table is an empty registry, a half-swapped one is settled
  *    and recovered first, and columns an older build did not write are
  *    null (zero for non-nullable primitives) — the alembic analog;
  *  - one snapshot ([[snapshot]]): driver rows cached per table;
  *  - one commit ([[commit]]): unique key checked on the driver rows,
  *    one parquet file swapped in, the stamp bumped, the snapshot primed;
  *  - one rewrite ([[rewrite]]): lock, re-read, change, commit;
  *  - one create-or-get ([[createOrGet]], app/utils/onadata_utils.py:
  *    265-292): inside the same lock the row holding the key wins, and
  *    only an absent key takes a new id from the table's sequence.
  *
  * Status updates and failure accounting (app/core/importer.py:129-220,
  * app/utils/hyper_utils.py:239-263) are row transforms over a rewrite,
  * guarded by the FileStatus transition table. Catalog tables are small:
  * every join against extract-scale data should broadcast (callers wrap
  * in `broadcast(...)`). The lastUpdated stamp is caller-provided so
  * replays are deterministic (no wall-clock in the data path).
  */
class MetaStore(spark: SparkSession, root: String) {
  import spark.implicits._

  /** Product metrics registry (reference import counters,
    * app/utils/onadata_utils.py:37-47), rendered by `GET /metrics` on
    * [[graft.serve.Serve]]. Lives on the store because
    * [[recordSyncResult]] is the one accounting choke point every sync
    * path (scheduled tick, manual trigger, publish retry) flows through.
    */
  val metrics: graft.Metrics = new graft.Metrics

  /** One catalog table: its directory under the root, its id, and its
    * unique key (the reference's DB constraint, named for messages).
    */
  private final class Registry[T, K](val table: String, val keyName: String,
                                     val id: T => Long, val key: T => K)
                                    (implicit val enc: Encoder[T])

  private val hyperFiles = new Registry[HyperFileMeta, (Long, Long)](
    "hyperfiles", "(userId, formId)", _.id, f => (f.userId, f.formId))
  private val servers = new Registry[ServerMeta, String]("servers", "url", _.id, _.url)
  private val users = new Registry[UserMeta, (Long, String)](
    "users", "(serverId, username)", _.id, u => (u.serverId, u.username))
  private val configs = new Registry[ConfigMeta, (String, String, Long)](
    "configurations", "(serverAddress, tokenName, userId)", _.id,
    c => (c.serverAddress, c.tokenName, c.userId))

  private def fs = Refresh.hfs(spark, root)._1

  // ---- driver-side snapshot cache ---------------------------------------
  // The catalog is the reference's Postgres: tiny and driver-side by
  // design. Serving paths (one HTTP GET each) should not launch a Spark
  // job per request, so collected snapshots are cached here. Every
  // write flows through `commit`, which replaces its table's snapshot
  // with the rows it just committed — the next GET after a local write
  // is a cache hit, not a reload. OTHER processes' writes (safe under
  // CatalogLock) surface through the `_catalog_version` stamp every
  // write bumps under the lock: `snapshot()` revalidates against it
  // with one tiny FS read per request — still ZERO Spark jobs on the
  // cached path — and drops a table's snapshot when its stamp moved, so
  // a long-lived Serve process sees another driver's committed registry
  // write on its next request. A stamp that cannot be read (a rename in
  // flight) leaves the cache as it is. Mutations never read the cache —
  // every RMW re-reads parquet under the lock. (A catalog mutated only
  // by pre-stamp builds carries no version file; such writes stay on
  // the old read-your-own-writes visibility until a new-build write
  // stamps it.)

  private val snapshots = new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()

  // the per-table stamps the cached snapshots were loaded under; empty =
  // never observed a stamp file (fresh catalog or pre-stamp writers only)
  @volatile private var cachedVersion: Map[String, String] = Map.empty

  private val versionPath = new Path(root, "_catalog_version")

  /** The whole of a small catalog file (the version stamp, a sequence). */
  private def readSmall(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), UTF_8)
    finally in.close()
  }

  /** Replace a small catalog file: write `.<name>.tmp`, rename it over. */
  private def writeSmall(p: Path, body: String): Unit = {
    val tmp = new Path(root, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8))
    finally out.close()
    FileContext.getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** One `<table> <uuid>` line per registry — PER-TABLE stamps, so a
    * busy hyperfiles writer never evicts the servers/users/configs
    * snapshots of every serving process (a catalog-global stamp would
    * 4× the reload traffic of each commit). None when the file cannot
    * be read: absent, or caught between the two steps of a writer's
    * rename-over (on the local FS, Hadoop's overwrite rename deletes
    * the old file before it moves the new one in, and moves its
    * checksum separately).
    */
  private def readVersion(): Option[Map[String, String]] =
    try Some(readSmall(versionPath).linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { l =>
      val sp = l.indexOf(' ')
      if (sp <= 0) None else Some(l.take(sp) -> l.drop(sp + 1))
    }.toMap)
    catch { case _: java.io.IOException => None }

  /** Bump `table`'s cross-process invalidation stamp (called under the
    * catalog lock by every commit, so the read-modify-write of the stamp
    * file never interleaves). The local cache marker advances too, so
    * the writing process never re-clears its own just-primed snapshot;
    * the stamps other processes moved since this one last looked drop
    * their tables' snapshots first, as a read's revalidation would.
    */
  private def bumpVersion(table: String): Unit = {
    // under the lock no writer is mid-rename, so unreadable == absent
    val seen = readVersion().getOrElse(Map.empty)
    val next = seen + (table -> java.util.UUID.randomUUID().toString)
    writeSmall(versionPath, next.toSeq.sorted.map { case (t, v) => s"$t $v" }.mkString("\n"))
    adopt(seen)
    cachedVersion = next
  }

  /** Drop exactly the cached snapshots whose stamp moved (another
    * process committed that table) and remember `v` as seen.
    */
  private def adopt(v: Map[String, String]): Unit =
    if (v != cachedVersion) {
      v.foreach { case (t, stamp) =>
        if (!cachedVersion.get(t).contains(stamp)) { snapshots.remove(t); () }
      }
      cachedVersion = v
    }

  /** Cached driver rows of a registry, sorted by id so pagination over
    * them is deterministic without a per-request sort job. Revalidation
    * against the stamp file comes first; an unreadable stamp is unknown,
    * not empty (adopting an empty map would make the next readable stamp
    * look like a move of every table). A load racing a concurrent
    * commit's rename swap can see the table directory mid-move, so it
    * settles briefly and retries once; a second failure propagates.
    */
  private def snapshot[T](r: Registry[T, _]): Seq[T] = {
    readVersion().foreach(adopt)
    def load() = read(r).collect().toSeq.sortBy(r.id)
    snapshots.computeIfAbsent(r.table, _ =>
      try load()
      catch { case scala.util.control.NonFatal(_) => Thread.sleep(50); load() }
    ).asInstanceOf[Seq[T]]
  }

  // ---- write serialization ----------------------------------------------
  // Every mutator is a read-modify-WRITE over a whole registry table;
  // two interleaved mutators would lose one of the updates (the
  // reference delegates this to Postgres row transactions). Mutations
  // run under [[CatalogLock]] — a filesystem lock under the catalog
  // root, so single-writer holds across THREADS, across MetaStore
  // INSTANCES, and across PROCESSES sharing one root (the lock's JVM
  // tier serializes in-process contenders before any of them reach the
  // filesystem). Writes are rare (sync outcomes, PATCH/DELETE, registry
  // upserts) and each already costs a parquet commit, so a coarse lock
  // is the honest price; reads and snapshot serving never take it.
  // Every RMW body re-READS its registry from parquet while holding the
  // lock, so it always extends the latest committed state — the
  // driver-side snapshot cache never feeds a mutation.
  // MetaStoreSpec pins lost-update freedom for racing threads on one
  // instance AND for racing DISTINCT instances over one root.
  private def mutate[T](body: => T): T =
    CatalogLock.withLock(fs, new Path(root))(body)

  /** The one read of every registry, one Spark job when collected. The
    * parquet is read with the encoder's schema (no inference job), so a
    * catalog written by an OLDER build still reads: columns the file
    * lacks come back null and non-nullable primitives among them get
    * the type's zero (alembic's `server_default`; a null there would
    * throw at collect), while columns the current build dropped are
    * never selected. New catalog fields should prefer nullable types
    * (String / Map / Option) so the null IS the default.
    *
    * A genuinely ABSENT table is an EMPTY registry (nothing created
    * yet). A crashed overwrite may have left the table at `__old` only:
    * the settle first lets a LIVE writer's swap finish, then recovers
    * it (see Refresh.settleHalfSwap), so the registry reads as its
    * recovered contents, never as an empty table a later create-or-get
    * would overwrite. A failure reading an EXISTING table propagates.
    */
  private def read[T](r: Registry[T, _]): Dataset[T] = {
    implicit val enc: Encoder[T] = r.enc
    val schema = enc.schema
    val target = new Path(root, r.table)
    Refresh.settleHalfSwap(fs, target)
    if (!fs.exists(target)) spark.emptyDataset[T]
    else spark.read.schema(schema).parquet(target.toString)
      .select(schema.fields.toSeq.map { f =>
        if (f.nullable) col(f.name)
        else coalesce(col(f.name), lit(0).cast(f.dataType)).as(f.name)
      }: _*)
      .as[T]
  }

  /** The one write shape of every registry, called under the lock: the
    * unique key is checked on the driver rows (catalog-sized), which
    * then become one parquet file in staging, renamed into place (a
    * concurrent reader sees the old table or the new one, never a mix);
    * then the table's stamp is bumped for other processes and its
    * snapshot primed with the rows as a re-read returns them (sorted by
    * id, through the encoder, so timestamps carry parquet's microsecond
    * precision). Returns the primed rows.
    */
  private def commit[T](r: Registry[T, _], rows: Seq[T]): Seq[T] = {
    implicit val enc: Encoder[T] = r.enc
    val dupes = rows.groupBy(r.key).count(_._2.size > 1)
    if (dupes > 0)
      throw new UniqueKeyViolation(s"unique ${r.keyName} of ${r.table} violated by $dupes keys")
    val staging = new Path(root, r.table + "__staging")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(staging.toString)
    Refresh.swapInto(fs, staging, new Path(root, r.table))
    val e = org.apache.spark.sql.catalyst.encoders.encoderFor[T]
    val toRow = e.createSerializer()
    val fromRow = e.resolveAndBind().createDeserializer()
    val stored = rows.map(row => fromRow(toRow(row))).sortBy(r.id)
    // the swap has committed `stored`: the cache holds it even if the
    // stamp bump below throws (nothing would ever drop a stale snapshot)
    try bumpVersion(r.table) // cross-process visibility (see the cache note)
    finally snapshots.put(r.table, stored)
    stored
  }

  /** Replace a whole registry with `rows`, under the lock. */
  private def replace[T](r: Registry[T, _], rows: => Seq[T]): Unit =
    mutate(commit(r, rows))

  /** The read-modify-write every row-level mutator shares: re-read the
    * committed table (never the snapshot), change it on the driver,
    * commit. Returns the committed rows.
    */
  private def rewrite[T](r: Registry[T, _])(change: Seq[T] => Seq[T]): Seq[T] =
    mutate(commit(r, change(read(r).collect().toSeq)))

  /** Create-or-get under `key`: the row that already holds it wins, as
    * with the DB constraint + get-then-create; otherwise `make` builds
    * the row from a fresh sequence id and it is committed. Returns the
    * row (as committed) and whether it was created.
    */
  private def createOrGet[T, K](r: Registry[T, K], key: K)(make: Long => T): (T, Boolean) =
    mutate {
      val existing = read(r).collect().toSeq
      existing.find(r.key(_) == key) match {
        case Some(row) => (row, false)
        case None =>
          val row = make(nextId(r.table, existing.map(r.id).maxOption.getOrElse(0L)))
          (commit(r, existing :+ row).find(r.key(_) == key).get, true)
      }
    }

  /** Monotonic id allocation per table, called under the lock — the
    * Postgres-sequence analog the reference relies on: an id is NEVER
    * reused after a delete. max(id)+1 over live rows would recycle the
    * highest id once its row is deleted, and any dangling reference to
    * it (a file's stored `configuration-id`, a saved download URL, a
    * user's HMAC token) would silently resolve to the NEW unrelated row
    * instead of failing. Persisted as a high-water-mark file
    * `_seq_<table>` under the catalog root; `currentMax` folds in
    * pre-sequence catalogs and rows committed with their own ids.
    */
  private def nextId(table: String, currentMax: Long): Long = {
    val p = new Path(root, s"_seq_$table")
    val next = math.max(if (fs.exists(p)) readSmall(p).trim.toLong else 0L, currentMax) + 1L
    writeSmall(p, next.toString)
    next
  }

  // ---- hyperfiles (app/models/hyperfile.py, unique (userId, formId)) -----

  def readHyperFiles(): Dataset[HyperFileMeta] = read(hyperFiles)

  /** Cached driver rows: primed by every commit through this store,
    * reloaded lazily after another process's commit.
    */
  def hyperFilesSnapshot(): Seq[HyperFileMeta] = snapshot(hyperFiles)

  def initHyperFiles(rows: Seq[HyperFileMeta]): Unit = replace(hyperFiles, rows)

  /** Commit `ds` as the whole hyperfiles table, under the lock. */
  def writeHyperFiles(ds: Dataset[HyperFileMeta]): Unit =
    replace(hyperFiles, ds.collect().toSeq)

  /** Create-or-get of rows that carry their own ids: insert only rows
    * whose (userId, formId) is absent; existing rows (and their state)
    * are preserved verbatim. Returns the committed table.
    */
  def createOrGet(incoming: Dataset[HyperFileMeta]): Dataset[HyperFileMeta] =
    rewrite(hyperFiles) { existing =>
      val taken = existing.map(hyperFiles.key).toSet
      existing ++ incoming.collect().filterNot(f => taken(hyperFiles.key(f)))
    }.toDS()

  /** Create-or-get of one file under (userId, formId) (the POST
    * /api/v1/files catalog half); a created row's id comes from the
    * sequence.
    */
  def createOrGetFile(userId: Long, formId: Long)
                     (make: Long => HyperFileMeta): (HyperFileMeta, Boolean) =
    createOrGet(hyperFiles, (userId, formId))(make)

  /** Guarded status transition for one file id; illegal transitions are
    * no-ops (the reference answers HTTP 202 and leaves the row alone).
    */
  def transition(fileId: Long, to: String, at: java.sql.Timestamp): Unit = {
    require(FileStatus.All.contains(to), s"unknown status $to")
    rewrite(hyperFiles)(_.map { f =>
      if (f.id == fileId && FileStatus.canTransition(f.fileStatus, to))
        f.copy(fileStatus = to, lastUpdated = at)
      else f
    })
  }

  /** Failure accounting (threshold from ops.State.FailureThreshold): on
    * failure bump sync-failures and set latest_sync_failed; at the
    * threshold deactivate (file_unavailable, isActive=false) — the
    * reference also cancels the cron job there. On success zero the
    * counter and set file_available.
    */
  def recordSyncResult(fileId: Long, success: Boolean,
                       at: java.sql.Timestamp, reason: String = ""): Unit = {
    val thr = graft.ops.State.FailureThreshold
    rewrite(hyperFiles)(_.map { f =>
      if (f.id != fileId) f
      else if (success)
        f.copy(fileStatus = FileStatus.FileAvailable,
          metaData = f.metaData + (MetaKeys.SyncFailures -> "0") - MetaKeys.FailureReason,
          lastUpdated = at)
      else {
        val n = f.metaData.getOrElse(MetaKeys.SyncFailures, "0").toInt + 1
        val dead = n >= thr
        f.copy(
          fileStatus = if (dead) FileStatus.FileUnavailable else FileStatus.LatestSyncFailed,
          isActive = f.isActive && !dead,
          metaData = f.metaData +
            (MetaKeys.SyncFailures -> n.toString) +
            (MetaKeys.FailureReason -> reason),
          lastUpdated = at)
      }
    })
    // count AFTER the catalog write commits: a success whose catalog
    // write throws reaches the caller's failure path, which calls back
    // here with success=false — counting up front would tally that one
    // sync as BOTH a success and a failure
    if (success) metrics.importSucceeded() else metrics.importFailed()
  }

  /** P4: the schedulable set (app/crud/crud_hyperfile.py:34-35). */
  def activeFiles(): Dataset[HyperFileMeta] =
    readHyperFiles().filter(_.isActive)

  /** Hard delete of one file row (the catalog half of the reference's
    * DELETE /files/{id}, file.py:146-160 — job cancel + object delete
    * are the caller's side effects). No-op on an unknown id.
    */
  def delete(fileId: Long): Unit = rewrite(hyperFiles)(_.filter(_.id != fileId))

  /** Field-level update of one row (the PATCH surface, file.py:117-143:
    * re-attach configuration / rename). Pure copy-transform; unknown id
    * is a no-op. The caller stamps `lastUpdated` (replay-deterministic).
    */
  def update(fileId: Long, at: java.sql.Timestamp)
            (f: HyperFileMeta => HyperFileMeta): Unit =
    rewrite(hyperFiles)(_.map { row =>
      if (row.id == fileId) f(row).copy(id = row.id, lastUpdated = at) else row
    })

  // ---- server registry (app/models/server.py, unique url) ---------------

  def readServers(): Dataset[ServerMeta] = read(servers)

  def serversSnapshot(): Seq[ServerMeta] = snapshot(servers)

  def initServers(rows: Seq[ServerMeta]): Unit = replace(servers, rows)

  /** Create-or-get under the unique `url` key (server.py:14-37: the
    * registry answers the EXISTING row for a known url).
    */
  def createOrGetServer(url: String): (ServerMeta, Boolean) =
    createOrGet(servers, url)(ServerMeta(_, url))

  /** As above for a row that carries its own id (a creation still
    * advances the sequence past it).
    */
  def createOrGetServer(incoming: ServerMeta): ServerMeta =
    createOrGet(servers, servers.key(incoming))(_ => incoming)._1

  // ---- user registry (app/models/user.py, unique (serverId, username)) --

  def readUsers(): Dataset[UserMeta] = read(users)

  def usersSnapshot(): Seq[UserMeta] = snapshot(users)

  def initUsers(rows: Seq[UserMeta]): Unit = replace(users, rows)

  /** Create-or-get under the unique (serverId, username) key — the OAuth
    * callback's user upsert (oauth.py:115-135: a known user is updated
    * in place, an unknown one created). Returns the owning row. An
    * absent users table (nothing ever signed in) is an empty registry:
    * the first sign-in creates it.
    */
  def createOrGetUser(username: String, serverId: Long): UserMeta =
    createOrGet(users, (serverId, username))(UserMeta(_, username, serverId))._1

  // ---- configuration registry (app/models/configuration.py,
  //      unique (serverAddress, tokenName, userId)) ----------------------

  def readConfigs(): Dataset[ConfigMeta] = read(configs)

  def configsSnapshot(): Seq[ConfigMeta] = snapshot(configs)

  def initConfigs(rows: Seq[ConfigMeta]): Unit = replace(configs, rows)

  /** Create-or-get under the composite unique key
    * (configuration.py:19-54); a new row has no export settings.
    */
  def createOrGetConfig(userId: Long, serverAddress: String,
                        tokenName: String): (ConfigMeta, Boolean) =
    createOrGet(configs, (serverAddress, tokenName, userId))(
      ConfigMeta(_, userId, serverAddress, tokenName, Map.empty))

  /** As above for a row that carries its own id (a creation still
    * advances the sequence past it).
    */
  def createOrGetConfig(incoming: ConfigMeta): ConfigMeta =
    createOrGet(configs, configs.key(incoming))(_ => incoming)._1

  /** PATCH surface for a configuration (configuration.py:57-95). A
    * change that moves the row onto another row's key throws
    * [[UniqueKeyViolation]] and commits nothing.
    */
  def updateConfig(configId: Long)(f: ConfigMeta => ConfigMeta): Unit =
    rewrite(configs)(_.map(c => if (c.id == configId) f(c).copy(id = c.id) else c))

  /** DELETE a configuration row (configuration.py:98-123). */
  def deleteConfig(configId: Long): Unit = rewrite(configs)(_.filter(_.id != configId))
}

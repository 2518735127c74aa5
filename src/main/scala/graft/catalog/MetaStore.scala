package graft.catalog

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Parquet-backed typed metadata store: the reference's Postgres catalog
  * re-expressed as `Dataset[T]` tables with unique keys checked at commit
  * and full-refresh overwrite commits.
  *
  * Semantics mapped from the reference:
  *  - create-or-get (app/utils/onadata_utils.py:265-292): existence check
  *    on the re-read rows, insert of the absent keys only — the row that
  *    already holds the unique key wins, exactly like the DB constraint +
  *    get-then-create.
  *  - status update + failure accounting (app/core/importer.py:129-220,
  *    app/utils/hyper_utils.py:239-263): pure row transforms guarded by
  *    the FileStatus transition table.
  *  - Catalog tables are small: every join against extract-scale data
  *    should broadcast (callers wrap in `broadcast(...)`).
  *
  * Writes are read-modify-overwrite of a small parquet dataset: the
  * table is re-read under the lock, changed as driver rows (the
  * reference's Postgres row update), written as one file into staging
  * and renamed into place ([[commit]]) — one Spark job to read, one to
  * write. The commit also primes the table's snapshot with the rows it
  * wrote. The lastUpdated stamp is caller-provided so replays are
  * deterministic (no wall-clock in the data path).
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

  private def path(table: String) = s"$root/$table"

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

  private val versionPath = new org.apache.hadoop.fs.Path(root, "_catalog_version")

  /** One `<table> <uuid>` line per registry — PER-TABLE stamps, so a
    * busy hyperfiles writer never evicts the servers/users/configs
    * snapshots of every serving process (a catalog-global stamp would
    * 4× the reload traffic of each commit). None when the file cannot
    * be read: absent, or caught between the two steps of a writer's
    * rename-over (on the local FS, Hadoop's overwrite rename deletes
    * the old file before it moves the new one in, and moves its
    * checksum separately).
    */
  private def readVersion(): Option[Map[String, String]] = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, root)
    try {
      val in = fs.open(versionPath)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(txt.linesIterator.map(_.trim).filter(_.nonEmpty).flatMap { l =>
        val sp = l.indexOf(' ')
        if (sp <= 0) None else Some(l.take(sp) -> l.drop(sp + 1))
      }.toMap)
    } catch { case _: java.io.IOException => None }
  }

  /** Bump `table`'s cross-process invalidation stamp (called under the
    * catalog lock at both write choke points, so the read-modify-write
    * of the stamp file never interleaves). tmp + rename-overwrite, the
    * same commit shape as the id sequence. The local cache marker
    * advances too, so the writing process never re-clears its own
    * just-primed snapshot; the stamps other processes moved since this
    * one last looked drop their tables' snapshots first, as a read's
    * revalidation would.
    */
  private def bumpVersion(table: String): Unit = {
    val (fs, _) = graft.etl.Refresh.hfs(spark, root)
    // under the lock no writer is mid-rename, so unreadable == absent
    val seen = readVersion().getOrElse(Map.empty)
    val next = seen + (table -> java.util.UUID.randomUUID().toString)
    val body = next.toSeq.sorted.map { case (t, v) => s"$t $v" }.mkString("\n")
    val tmp = new org.apache.hadoop.fs.Path(root, "._catalog_version.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, versionPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
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

  /** Revalidate against the stamp file. An unreadable stamp is unknown,
    * not empty: adopting an empty map there would make the next
    * readable stamp look like a move of every table and drop every
    * snapshot. Benign races only: a concurrent writer can at worst cause
    * one extra invalidate-and-reload (loads always re-read parquet, so
    * nothing stale is ever reinstated).
    */
  private def revalidateSnapshots(): Unit = readVersion().foreach(adopt)

  private def snapshot[T](table: String)(load: => Seq[T]): Seq[T] = {
    revalidateSnapshots()
    snapshots.computeIfAbsent(table, _ => loadSettled(load).asInstanceOf[Seq[Any]])
      .asInstanceOf[Seq[T]]
  }

  /** One bounded retry around a snapshot load: a load racing a
    * concurrent commit's rename swap can see the table directory
    * mid-move (listed files relocated under it). The swap is two
    * metadata renames, so a short settle + one retry covers the window;
    * a second failure is a real error and propagates.
    */
  private def loadSettled[T](load: => Seq[T]): Seq[T] =
    try load
    catch {
      case scala.util.control.NonFatal(_) =>
        Thread.sleep(50)
        load
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
  // driver-side snapshot cache below never feeds a mutation.
  // MetaStoreSpec pins lost-update freedom for racing threads on one
  // instance AND for racing DISTINCT instances over one root.
  private def mutate[T](body: => T): T = {
    val (fs, rootPath) = graft.etl.Refresh.hfs(spark, root)
    CatalogLock.withLock(fs, rootPath)(body)
  }

  /** Cached driver-side rows: primed by every commit through this store,
    * reloaded lazily after another process's commit. Total order by id,
    * so pagination over the snapshot is deterministic without a
    * per-request sort job.
    */
  def hyperFilesSnapshot(): Seq[HyperFileMeta] =
    snapshot("hyperfiles")(readHyperFiles().collect().toSeq.sortBy(_.id))

  def serversSnapshot(): Seq[ServerMeta] =
    snapshot("servers")(readServers().collect().toSeq.sortBy(_.id))

  def usersSnapshot(): Seq[UserMeta] =
    snapshot("users")(readUsers().collect().toSeq.sortBy(_.id))

  def configsSnapshot(): Seq[ConfigMeta] =
    snapshot("configurations")(readConfigs().collect().toSeq.sortBy(_.id))

  /** Monotonic id allocation per table — the Postgres-sequence analog
    * the reference relies on: an id is NEVER reused after a delete.
    * max(id)+1 over live rows would recycle the highest id once its row
    * is deleted, and any dangling reference to it (a file's stored
    * `configuration-id`, a saved download URL) would silently resolve
    * to the NEW unrelated row instead of failing. Persisted as a
    * high-water-mark file under the catalog root (read-modify-rename,
    * single-writer like every catalog commit); `currentMax` folds in
    * pre-sequence catalogs on first use.
    */
  def nextId(table: String, currentMax: Long): Long = mutate {
    // under the same catalog lock as every registry RMW (reentrant when
    // called mid-mutation, e.g. createOrGetUser): the high-water-mark
    // read-modify-rename must not interleave across processes either,
    // or two drivers mint the same id
    val (fs, _) = graft.etl.Refresh.hfs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, s"_seq_$table")
    val prev =
      if (!fs.exists(p)) 0L
      else {
        val in = fs.open(p)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        finally in.close()
      }
    val next = math.max(prev, currentMax) + 1L
    val tmp = new org.apache.hadoop.fs.Path(root, s"._seq_$table.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tmp.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    next
  }

  def readHyperFiles(): Dataset[HyperFileMeta] = {
    // half-swap handling before the read: a missing table with a __old
    // sibling is a crashed overwrite's only copy, not an error to throw
    // on — or a LIVE writer mid-swap, which the settle distinguishes
    // without taking the lock (see Refresh.settleHalfSwap)
    val (fs, target) = graft.etl.Refresh.hfs(spark, path("hyperfiles"))
    graft.etl.Refresh.settleHalfSwap(fs, target)
    evolve[HyperFileMeta](spark.read.parquet(path("hyperfiles")))
  }

  /** Schema evolution on read — the alembic analog (reference
    * `app/alembic/`): a catalog written by an OLDER build (narrower
    * case class) still reads after a field is added. Columns the file
    * lacks are null-filled via `unionByName(allowMissingColumns)`
    * against the encoder's schema; non-nullable primitives among them
    * get the type's zero value (alembic's `server_default`), since a
    * null in a primitive field would throw at collect time. Columns the
    * file has but the case class dropped ride along ignored — encoders
    * bind by name. New catalog fields should prefer nullable types
    * (String / Map / Option) so the null fill IS the default; the
    * zero-fill covers the primitive exception.
    */
  private def evolve[T](raw: org.apache.spark.sql.DataFrame)
      (implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val missing = enc.schema.fields.filterNot(f => raw.columns.contains(f.name))
    if (missing.isEmpty) raw.as[T]
    else {
      val aligned = spark.emptyDataset[T].toDF()
        .unionByName(raw, allowMissingColumns = true)
      missing.filterNot(_.nullable).foldLeft(aligned) { (df, f) =>
        f.dataType match {
          case _: org.apache.spark.sql.types.NumericType =>
            df.na.fill(0L, Seq(f.name))
          case org.apache.spark.sql.types.BooleanType =>
            df.na.fill(value = false, Seq(f.name))
          case _ => df
        }
      }.as[T]
    }
  }

  /** Commit `ds` as the whole hyperfiles table, under the lock. */
  def writeHyperFiles(ds: Dataset[HyperFileMeta]): Unit =
    mutate { commitHyperFiles(ds.collect().toSeq); () }

  /** The hyperfiles commit: the (userId, formId) key is checked on the
    * driver rows (catalog-sized) before anything is written.
    */
  private def commitHyperFiles(rows: Seq[HyperFileMeta]): Seq[HyperFileMeta] = {
    requireUnique(rows, "(userId, formId)")(f => (f.userId, f.formId))
    commit("hyperfiles", rows)(_.id)
  }

  /** The read-modify-write every row-level hyperfiles mutator shares:
    * re-read the committed table (never the snapshot), change it on the
    * driver, commit.
    */
  private def rewriteHyperFiles(change: Seq[HyperFileMeta] => Seq[HyperFileMeta]): Unit =
    mutate { commitHyperFiles(change(readHyperFiles().collect().toSeq)); () }

  def initHyperFiles(rows: Seq[HyperFileMeta]): Unit =
    mutate { commit("hyperfiles", rows)(_.id); () }

  /** Create-or-get: insert only rows whose (userId, formId) is absent;
    * existing rows (and their state) are preserved verbatim. Returns the
    * committed table.
    */
  def createOrGet(incoming: Dataset[HyperFileMeta]): Dataset[HyperFileMeta] = mutate {
    val existing = readHyperFiles().collect().toSeq
    val taken = existing.map(f => (f.userId, f.formId)).toSet
    val fresh = incoming.collect().toSeq.filterNot(f => taken((f.userId, f.formId)))
    commitHyperFiles(existing ++ fresh).toDS()
  }

  /** Guarded status transition for one file id; illegal transitions are
    * no-ops (the reference answers HTTP 202 and leaves the row alone).
    */
  def transition(fileId: Long, to: String, at: java.sql.Timestamp): Unit = {
    require(FileStatus.All.contains(to), s"unknown status $to")
    rewriteHyperFiles(_.map { f =>
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
    rewriteHyperFiles(_.map { f =>
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
  def delete(fileId: Long): Unit = rewriteHyperFiles(_.filter(_.id != fileId))

  /** Field-level update of one row (the PATCH surface, file.py:117-143:
    * re-attach configuration / rename). Pure copy-transform; unknown id
    * is a no-op. The caller stamps `lastUpdated` (replay-deterministic).
    */
  def update(fileId: Long, at: java.sql.Timestamp)
            (f: HyperFileMeta => HyperFileMeta): Unit =
    rewriteHyperFiles(_.map { row =>
      if (row.id == fileId) f(row).copy(id = row.id, lastUpdated = at) else row
    })

  /** Read a registry table where a genuinely ABSENT table is an EMPTY
    * registry (first use — nothing has been created yet), shared by all
    * three registries and every HTTP handler above them. A transient
    * failure reading an EXISTING table still propagates: falling back to
    * empty there would let a create-or-get overwrite wipe the registry
    * on an FS hiccup.
    */
  private def readOrEmpty[T: org.apache.spark.sql.Encoder](table: String): Dataset[T] = {
    val (fs, target) = graft.etl.Refresh.hfs(spark, path(table))
    // a crashed overwrite may have left the registry at __old only — a
    // half-swapped table must READ as its recovered contents, not as an
    // empty registry a later create-or-get would then overwrite; the
    // settle variant first lets a LIVE writer's swap finish
    graft.etl.Refresh.settleHalfSwap(fs, target)
    if (!fs.exists(target)) spark.emptyDataset[T]
    else evolve[T](spark.read.parquet(path(table))) // see evolve: alembic analog
  }

  // ---- server registry (app/models/server.py, unique url) ---------------

  def readServers(): Dataset[ServerMeta] = readOrEmpty[ServerMeta]("servers")

  def initServers(rows: Seq[ServerMeta]): Unit =
    mutate { commit("servers", rows)(_.id); () }

  /** Create-or-get under the unique `url` key (server.py:14-37: the
    * registry answers the EXISTING row for a known url).
    */
  def createOrGetServer(incoming: ServerMeta): ServerMeta = mutate {
    val existing = readServers().collect().toSeq // absent table == empty registry
    existing.find(_.url == incoming.url).getOrElse {
      val staged = existing :+ incoming
      requireUnique(staged, "url")(_.url)
      commit("servers", staged)(_.id)
      incoming
    }
  }

  // ---- user registry (app/models/user.py, unique (serverId, username)) --

  def readUsers(): Dataset[UserMeta] = readOrEmpty[UserMeta]("users")

  def initUsers(rows: Seq[UserMeta]): Unit =
    mutate { commit("users", rows)(_.id); () }

  /** Create-or-get under the unique (serverId, username) key — the OAuth
    * callback's user upsert (oauth.py:115-135: a known user is updated
    * in place, an unknown one created). Returns the owning row. An
    * absent users table (fresh catalog root, nothing ever signed in) is
    * an EMPTY registry, not an error — the first sign-in creates it.
    */
  def createOrGetUser(username: String, serverId: Long): UserMeta = mutate {
    val existing: Seq[UserMeta] = readUsers().collect().toSeq // absent == empty
    existing.find(u => u.username == username && u.serverId == serverId)
      .getOrElse {
        // sequence allocator, never max+1 — a deleted top id must not be
        // recycled under the HMAC tokens minted from it
        val id = nextId("users", existing.map(_.id).maxOption.getOrElse(0L))
        val row = UserMeta(id, username, serverId)
        commit("users", existing :+ row)(_.id)
        row
      }
  }

  // ---- configuration registry (app/models/configuration.py,
  //      unique (serverAddress, tokenName, userId)) ----------------------

  def readConfigs(): Dataset[ConfigMeta] = readOrEmpty[ConfigMeta]("configurations")

  def initConfigs(rows: Seq[ConfigMeta]): Unit =
    mutate { commit("configurations", rows)(_.id); () }

  /** Create-or-get under the composite unique key
    * (configuration.py:19-54).
    */
  def createOrGetConfig(incoming: ConfigMeta): ConfigMeta = mutate {
    val existing = readConfigs().collect().toSeq // absent table == empty registry
    existing.find(c => c.serverAddress == incoming.serverAddress &&
        c.tokenName == incoming.tokenName && c.userId == incoming.userId)
      .getOrElse {
        commit("configurations", existing :+ incoming)(_.id)
        incoming
      }
  }

  /** PATCH surface for a configuration (configuration.py:57-95). */
  def updateConfig(configId: Long)(f: ConfigMeta => ConfigMeta): Unit = mutate {
    commit("configurations", readConfigs().collect().toSeq
      .map(c => if (c.id == configId) f(c).copy(id = c.id) else c))(_.id)
    ()
  }

  /** DELETE a configuration row (configuration.py:98-123). */
  def deleteConfig(configId: Long): Unit = mutate {
    commit("configurations", readConfigs().collect().toSeq.filter(_.id != configId))(_.id)
    ()
  }

  private def requireUnique[T, K](rows: Seq[T], what: String)(key: T => K): Unit = {
    val dupes = rows.groupBy(key).count(_._2.size > 1)
    require(dupes == 0, s"unique $what violated by $dupes keys")
  }

  /** The one write shape of every registry, called under the lock: the
    * driver rows become one parquet file in staging, which is renamed
    * into place (a concurrent reader sees the old table or the new one,
    * never a mix); then the table's stamp is bumped for other processes
    * and its snapshot primed with the rows as a re-read returns them
    * (sorted by id, through the encoder, so timestamps carry parquet's
    * microsecond precision). Returns the primed rows.
    */
  private def commit[T: Encoder](table: String, rows: Seq[T])(id: T => Long): Seq[T] = {
    val (fs, target) = graft.etl.Refresh.hfs(spark, path(table))
    val staging = new org.apache.hadoop.fs.Path(path(table) + "__staging")
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(staging.toString)
    graft.etl.Refresh.swapInto(fs, staging, target)
    val enc = org.apache.spark.sql.catalyst.encoders.encoderFor[T]
    val toRow = enc.createSerializer()
    val fromRow = enc.resolveAndBind().createDeserializer()
    val stored = rows.map(r => fromRow(toRow(r))).sortBy(id)
    // the swap has committed `stored`: the cache holds it even if the
    // stamp bump below throws (nothing would ever drop a stale snapshot)
    try bumpVersion(table) // cross-process visibility (see the cache note)
    finally snapshots.put(table, stored)
    stored
  }
}

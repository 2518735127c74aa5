package graft.catalog

import java.sql.Timestamp

import graft.SparkSpec

class MetaStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore(): MetaStore = {
    val root = java.nio.file.Files.createTempDirectory("metastore").toString
    val store = new MetaStore(spark, root)
    store.initHyperFiles(Seq(
      HyperFileMeta(1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
        isActive = true, Map(MetaKeys.SyncFailures -> "0"), ts("2024-01-01 00:00:00")),
      HyperFileMeta(2L, 10L, 200L, "b.parquet", FileStatus.Queued,
        isActive = true, Map.empty, ts("2024-01-01 00:00:00"))))
    store
  }

  test("createOrGet inserts only absent (userId, formId) keys") {
    val store = freshStore()
    val incoming = Seq(
      // collides with existing (10, 100) — must NOT replace it
      HyperFileMeta(99L, 10L, 100L, "clobber.parquet", FileStatus.Queued,
        isActive = true, Map.empty, ts("2024-02-01 00:00:00")),
      HyperFileMeta(3L, 11L, 100L, "c.parquet", FileStatus.Queued,
        isActive = true, Map.empty, ts("2024-02-01 00:00:00"))).toDS()
    val out = store.createOrGet(incoming).collect().map(f => f.id -> f).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L).filename == "a.parquet") // existing row preserved
  }

  test("transition respects the status guard (202 semantics)") {
    val store = freshStore()
    store.transition(2L, FileStatus.Syncing, ts("2024-01-02 00:00:00"))
    assert(store.readHyperFiles().filter(_.id == 2L).head().fileStatus
      == FileStatus.Syncing)
    // syncing -> queued is illegal: no-op
    store.transition(2L, FileStatus.Queued, ts("2024-01-03 00:00:00"))
    val f = store.readHyperFiles().filter(_.id == 2L).head()
    assert(f.fileStatus == FileStatus.Syncing)
    assert(f.lastUpdated == ts("2024-01-02 00:00:00"))
  }

  test("recordSyncResult: 3 consecutive failures deactivate; success resets") {
    val store = freshStore()
    store.recordSyncResult(1L, success = false, ts("2024-01-02 00:00:00"), "boom1")
    store.recordSyncResult(1L, success = false, ts("2024-01-03 00:00:00"), "boom2")
    var f = store.readHyperFiles().filter(_.id == 1L).head()
    assert(f.fileStatus == FileStatus.LatestSyncFailed && f.isActive)
    assert(f.metaData(MetaKeys.SyncFailures) == "2")
    store.recordSyncResult(1L, success = false, ts("2024-01-04 00:00:00"), "boom3")
    f = store.readHyperFiles().filter(_.id == 1L).head()
    assert(f.fileStatus == FileStatus.FileUnavailable && !f.isActive)
    assert(store.activeFiles().collect().map(_.id).toSet == Set(2L))
    // success on the other file zeroes the counter
    store.recordSyncResult(2L, success = true, ts("2024-01-05 00:00:00"))
    val g = store.readHyperFiles().filter(_.id == 2L).head()
    assert(g.fileStatus == FileStatus.FileAvailable)
    assert(g.metaData(MetaKeys.SyncFailures) == "0")
  }

  test("writeHyperFiles rejects duplicate unique keys") {
    val store = freshStore()
    val bad = Seq(
      HyperFileMeta(7L, 1L, 1L, "x", FileStatus.Queued, true, Map.empty, ts("2024-01-01 00:00:00")),
      HyperFileMeta(8L, 1L, 1L, "y", FileStatus.Queued, true, Map.empty, ts("2024-01-01 00:00:00"))).toDS()
    intercept[IllegalArgumentException] { store.writeHyperFiles(bad) }
  }

  test("a half-swapped registry reads as its recovered contents, not empty") {
    val root = java.nio.file.Files.createTempDirectory("metastore_swap").toString
    val store = new MetaStore(spark, root)
    store.initServers(Seq(ServerMeta(1L, "https://ona.example.org")))
    // trigger a read-modify-overwrite so the registry goes through the
    // staged swap path at least once, then simulate a crash between the
    // two renames: registry lives only at __old
    store.createOrGetServer(ServerMeta(2L, "https://two.example.org"))
    val (fs, target) = graft.etl.Refresh.hfs(spark, s"$root/servers")
    val old = new org.apache.hadoop.fs.Path(s"$root/servers__old")
    assert(fs.rename(target, old))
    // an un-recovered read would see an EMPTY registry here — and the
    // next create-or-get would overwrite the only surviving copy
    val got = store.readServers().collect().map(_.url).toSet
    assert(got == Set("https://ona.example.org", "https://two.example.org"),
      s"registry lost in half-swap: $got")
    assert(!fs.exists(old))
  }

  test("schema evolution: a catalog written by an older, narrower build still reads") {
    // simulate a pre-metaData / pre-isActive catalog: the parquet on disk
    // lacks a nullable field (metaData), a non-nullable primitive
    // (isActive), AND carries a column the current build dropped
    val root = java.nio.file.Files.createTempDirectory("metastore_old").toString
    Seq(
      (1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
        ts("2024-01-01 00:00:00"), "dropped-in-v2"),
      (2L, 11L, 200L, "b.parquet", FileStatus.Queued,
        ts("2024-01-01 00:00:00"), "dropped-in-v2"))
      .toDF("id", "userId", "formId", "filename", "fileStatus",
        "lastUpdated", "legacyNote")
      .coalesce(1).write.parquet(s"$root/hyperfiles")
    val store = new MetaStore(spark, root)
    val rows = store.readHyperFiles().collect().sortBy(_.id)
    assert(rows.map(_.id).toSeq == Seq(1L, 2L))
    assert(rows.head.filename == "a.parquet")
    // nullable missing field -> null (callers treat as absent)
    assert(rows.forall(_.metaData == null))
    // non-nullable primitive missing field -> the type's zero value
    assert(rows.forall(_.isActive == false))
    // and the evolved catalog is WRITABLE: a full update round-trips on
    // the current schema (the migration is then materialized on disk)
    store.update(1L, ts("2024-02-01 00:00:00"))(f =>
      f.copy(metaData = Map(MetaKeys.SyncFailures -> "0"), isActive = true))
    val migrated = store.readHyperFiles().filter(_.id == 1L).head()
    assert(migrated.isActive && migrated.metaData(MetaKeys.SyncFailures) == "0")
    // the other registries read through the same path: a configurations
    // table written before exportSettings existed, and a users table
    // that still carries a since-dropped column
    Seq((1L, 10L, "https://t.example", "pat"))
      .toDF("id", "userId", "serverAddress", "tokenName")
      .coalesce(1).write.parquet(s"$root/configurations")
    assert(store.readConfigs().collect().toSeq ==
      Seq(ConfigMeta(1L, 10L, "https://t.example", "pat", null)))
    Seq((1L, "ana", 1L, "dropped-in-v2")).toDF("id", "username", "serverId", "legacyRole")
      .coalesce(1).write.parquet(s"$root/users")
    assert(store.readUsers().collect().toSeq == Seq(UserMeta(1L, "ana", 1L)))
  }

  test("concurrent writers never lose an update (store-level write serialization)") {
    // every mutator is a read-modify-write over the whole registry —
    // without the store's write lock, two interleaved update() calls
    // read the same base and the second commit silently erases the
    // first. 4 threads x 5 increments on a metaData counter must land
    // on exactly 20, and the concurrent PATCH to the OTHER row must
    // survive every one of them.
    val store = freshStore()
    val t0 = ts("2024-03-01 00:00:00")
    store.update(1L, t0)(f => f.copy(metaData = f.metaData + ("ctr" -> "0")))
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        (1 to 5).foreach { _ =>
          store.update(1L, t0) { f =>
            val n = f.metaData("ctr").toInt + 1
            f.copy(metaData = f.metaData + ("ctr" -> n.toString))
          }
        })
    }
    val renamer = new Thread(() =>
      store.update(2L, t0)(_.copy(filename = "renamed-by-racer.parquet")))
    (threads :+ renamer).foreach(_.start())
    (threads :+ renamer).foreach(_.join(120000))
    val rows = store.readHyperFiles().collect().map(f => f.id -> f).toMap
    assert(rows(1L).metaData("ctr") == "20",
      s"lost updates: counter at ${rows(1L).metaData("ctr")}, want 20")
    assert(rows(2L).filename == "renamed-by-racer.parquet",
      "the cross-row PATCH was erased by a concurrent writer")
  }

  test("two DISTINCT store instances over one root never lose an update") {
    // the r11 gap: the old write mutex was per-instance and JVM-local,
    // so two MetaStore instances (the two-driver deployment the
    // reference handles with Postgres transactions) could interleave
    // read-modify-write. CatalogLock must serialize them: 2 instances
    // × 2 threads × 5 counter increments + a create-or-get through
    // EACH instance and a recordSyncResult through each — all visible
    // in the final committed registry.
    val root = java.nio.file.Files.createTempDirectory("metastore2i").toString
    val a = new MetaStore(spark, root)
    val b = new MetaStore(spark, root)
    val t0 = ts("2024-03-01 00:00:00")
    a.initHyperFiles(Seq(
      HyperFileMeta(1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
        isActive = true, Map("ctr" -> "0", MetaKeys.SyncFailures -> "0"), t0),
      HyperFileMeta(2L, 10L, 200L, "b.parquet", FileStatus.FileAvailable,
        isActive = true, Map(MetaKeys.SyncFailures -> "0"), t0)))
    val writers = Seq(a, b, a, b).map { store =>
      new Thread(() =>
        (1 to 5).foreach { _ =>
          store.update(1L, t0) { f =>
            val n = f.metaData("ctr").toInt + 1
            f.copy(metaData = f.metaData + ("ctr" -> n.toString))
          }
        })
    }
    val creators = Seq(a, b).zipWithIndex.map { case (store, i) =>
      new Thread(() => {
        store.createOrGet(Seq(HyperFileMeta(10L + i, 20L + i, 300L,
          s"new$i.parquet", FileStatus.Queued, isActive = true,
          Map.empty, t0)).toDS()); ()
      })
    }
    val syncers = Seq(a, b).map { store =>
      new Thread(() => store.recordSyncResult(2L, success = false, t0, "boom"))
    }
    val all = writers ++ creators ++ syncers
    all.foreach(_.start())
    all.foreach(_.join(240000))
    assert(all.forall(!_.isAlive), "a racing writer deadlocked")
    // read through a THIRD instance so no snapshot cache flatters us
    val rows = new MetaStore(spark, root).readHyperFiles()
      .collect().map(f => f.id -> f).toMap
    assert(rows(1L).metaData("ctr") == "20",
      s"lost updates across instances: ctr=${rows(1L).metaData("ctr")}, want 20")
    assert(rows.keySet == Set(1L, 2L, 10L, 11L),
      s"a create-or-get was erased: ${rows.keySet}")
    assert(rows(2L).metaData(MetaKeys.SyncFailures) == "2",
      s"a sync-failure bump was lost: ${rows(2L).metaData(MetaKeys.SyncFailures)}")
  }

  test("cross-process snapshot revalidation: another store's commit reaches cached reads job-free") {
    // the r12 residual: write SAFETY across processes was real
    // (CatalogLock) but a long-lived Serve process's snapshot cache only
    // invalidated on local writes. The _catalog_version stamp closes it:
    // every write bumps the stamp under the lock, every snapshot read
    // revalidates against it with one FS read — zero Spark jobs.
    val root = java.nio.file.Files.createTempDirectory("metastorexp").toString
    val a = new MetaStore(spark, root) // the long-lived serving store
    val b = new MetaStore(spark, root) // another driver over the same root
    a.initServers(Seq(ServerMeta(1L, "https://one.example")))
    assert(a.serversSnapshot().map(_.id) == Seq(1L)) // warm A's cache
    // B commits; A performs NO local write and must still see the row
    b.createOrGetServer(ServerMeta(2L, "https://two.example"))
    assert(a.serversSnapshot().map(_.id) == Seq(1L, 2L),
      "a cached reader never saw another driver's committed write")
    // steady state: stamp unchanged → repeat reads are cache hits with
    // ZERO Spark jobs (revalidation is an FS read, not a job)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(a.serversSnapshot().map(_.id) == Seq(1L, 2L))
      assert(a.serversSnapshot().nonEmpty)
      org.apache.spark.sql.graftshim.Shim.waitForListenerBus(spark)
      assert(jobs.get == 0,
        s"revalidated cached reads launched ${jobs.get} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("recordSyncResult launches the re-read and the write only; the next snapshot read none") {
    val store = freshStore()
    store.initServers(Seq(ServerMeta(1L, "https://one.example")))
    store.initUsers(Seq(UserMeta(1L, "ana", 1L)))
    store.initConfigs(Seq(ConfigMeta(1L, 1L, "https://one.example", "t", Map.empty)))
    // a re-read of any registry is its scan alone: no schema inference job
    Seq[(String, () => Any)](
      "hyperfiles" -> (() => store.readHyperFiles().collect()),
      "servers" -> (() => store.readServers().collect()),
      "users" -> (() => store.readUsers().collect()),
      "configurations" -> (() => store.readConfigs().collect())).foreach { case (t, reRead) =>
      val (_, jobs) = jobsDuring(reRead())
      assert(jobs == 1, s"a $t re-read launched $jobs jobs")
    }
    val (_, record) = jobsDuring(
      store.recordSyncResult(1L, success = true, ts("2024-01-02 00:00:00")))
    assert(record == 2, s"recordSyncResult launched $record jobs; want the re-read and the write")
    val (snap, served) = jobsDuring(store.hyperFilesSnapshot())
    assert(served == 0, s"the snapshot after a commit launched $served jobs")
    assert(snap.find(_.id == 1L).get.lastUpdated == ts("2024-01-02 00:00:00"))
  }

  test("every mutator primes its table's snapshot with exactly what a re-read returns") {
    val store = freshStore()
    // sub-microsecond nanos: parquet keeps microseconds, so a snapshot
    // primed with the caller's Timestamp would differ from the table
    val at = ts("2024-05-06 07:08:09.123456789")
    def primed[T](what: String, snapshot: () => Seq[T], reread: => Seq[T]): Unit = {
      val (got, jobs) = jobsDuring(snapshot())
      assert(jobs == 0, s"$what: snapshot launched $jobs jobs")
      assert(got == reread, s"$what: primed snapshot differs from the table")
    }
    def hyper(what: String): Unit =
      primed(what, () => store.hyperFilesSnapshot(), store.readHyperFiles().collect().toSeq.sortBy(_.id))
    store.createOrGet(Seq(HyperFileMeta(3L, 11L, 100L, "c.parquet", FileStatus.Queued,
      isActive = true, Map("k" -> "v", "configuration-id" -> "4"), at)).toDS())
    hyper("createOrGet")
    store.transition(3L, FileStatus.Syncing, at)
    hyper("transition")
    store.recordSyncResult(3L, success = false, at, "boom")
    hyper("recordSyncResult failure")
    store.recordSyncResult(3L, success = true, at)
    hyper("recordSyncResult success")
    store.update(2L, at)(_.copy(filename = "renamed.parquet", metaData = Map("a" -> "1")))
    hyper("update")
    store.delete(1L)
    hyper("delete")
    store.writeHyperFiles(store.readHyperFiles())
    hyper("writeHyperFiles")
    assert(store.hyperFilesSnapshot().map(_.id) == Seq(2L, 3L))
    assert(store.hyperFilesSnapshot().last.lastUpdated.getNanos == 123456000)
    // the three registries commit the same way
    def servers(what: String): Unit =
      primed(what, () => store.serversSnapshot(), store.readServers().collect().toSeq.sortBy(_.id))
    def users(what: String): Unit =
      primed(what, () => store.usersSnapshot(), store.readUsers().collect().toSeq.sortBy(_.id))
    def configs(what: String): Unit =
      primed(what, () => store.configsSnapshot(), store.readConfigs().collect().toSeq.sortBy(_.id))
    store.createOrGetServer(ServerMeta(5L, "https://five.example"))
    servers("createOrGetServer")
    store.createOrGetUser("ana", 5L)
    users("createOrGetUser")
    store.createOrGetConfig(ConfigMeta(2L, 1L, "https://five.example", "t", Map("x" -> "y")))
    configs("createOrGetConfig")
    store.updateConfig(2L)(_.copy(tokenName = "t2"))
    configs("updateConfig")
    store.deleteConfig(2L)
    configs("deleteConfig")
    assert(store.configsSnapshot().isEmpty)
  }

  test("an unreadable version stamp keeps the cached snapshots; a later write still invalidates") {
    // a stamp bump renames over the stamp file, and on the local FS that
    // rename deletes the old file first: a read landing in the gap must
    // not adopt "no stamps" and make the next read drop every snapshot
    val root = java.nio.file.Files.createTempDirectory("metastorestamp").toString
    val a = new MetaStore(spark, root)
    a.initServers(Seq(ServerMeta(1L, "https://one.example")))
    a.initHyperFiles(Seq(HyperFileMeta(1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
      isActive = true, Map.empty, ts("2024-01-01 00:00:00"))))
    a.serversSnapshot(); a.hyperFilesSnapshot() // cached, whatever priming did
    val (fs, _) = graft.etl.Refresh.hfs(spark, root)
    val stamp = new org.apache.hadoop.fs.Path(root, "_catalog_version")
    val kept = fs.open(stamp)
    val body = try org.apache.commons.io.IOUtils.toByteArray(kept) finally kept.close()
    assert(fs.delete(stamp, false))
    val (_, gap) = jobsDuring { a.serversSnapshot(); a.hyperFilesSnapshot() }
    assert(gap == 0, s"reads while the stamp was unreadable launched $gap jobs")
    // the rename completes: the same stamps are back, nothing moved
    val out = fs.create(stamp, true)
    try out.write(body) finally out.close()
    val (_, after) = jobsDuring { a.serversSnapshot(); a.hyperFilesSnapshot() }
    assert(after == 0, s"the stamp's return dropped the cached snapshots ($after jobs)")
    // a real commit from another store still reaches A, and only the
    // table it wrote is reloaded
    new MetaStore(spark, root).createOrGetServer(ServerMeta(2L, "https://two.example"))
    assert(a.serversSnapshot().map(_.id) == Seq(1L, 2L))
    val (_, other) = jobsDuring(a.hyperFilesSnapshot())
    assert(other == 0, s"a servers commit reloaded the hyperfiles snapshot ($other jobs)")
  }

  test("a commit whose stamp bump fails still serves the rows it swapped in") {
    val root = java.nio.file.Files.createTempDirectory("metastorebump").toString
    val store = new MetaStore(spark, root)
    store.initHyperFiles(Seq(HyperFileMeta(1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
      isActive = true, Map.empty, ts("2024-01-01 00:00:00"))))
    assert(store.hyperFilesSnapshot().head.lastUpdated == ts("2024-01-01 00:00:00"))
    // a directory where the bump writes its temporary stamp: the create fails
    val (fs, _) = graft.etl.Refresh.hfs(spark, root)
    val blocker = new org.apache.hadoop.fs.Path(root, "._catalog_version.tmp")
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(blocker, "x")))
    intercept[java.io.IOException](
      store.recordSyncResult(1L, success = true, ts("2024-01-02 00:00:00")))
    val (snap, jobs) = jobsDuring(store.hyperFilesSnapshot())
    assert(jobs == 0, s"the snapshot after the failed bump launched $jobs jobs")
    assert(snap == store.readHyperFiles().collect().toSeq.sortBy(_.id),
      "the cache kept the pre-commit rows after the swap committed")
    assert(snap.find(_.id == 1L).get.lastUpdated == ts("2024-01-02 00:00:00"))
    fs.delete(blocker, true)
  }

  test("a local commit drops the snapshots another process's commits made stale") {
    // committing reads the stamp file under the lock and remembers every
    // stamp in it; a table another store moved since must be dropped
    // then, or no later revalidation would ever see it move
    val root = java.nio.file.Files.createTempDirectory("metastoreadopt").toString
    val a = new MetaStore(spark, root)
    val b = new MetaStore(spark, root)
    a.initServers(Seq(ServerMeta(1L, "https://one.example")))
    a.initHyperFiles(Seq(HyperFileMeta(1L, 10L, 100L, "a.parquet", FileStatus.FileAvailable,
      isActive = true, Map.empty, ts("2024-01-01 00:00:00"))))
    assert(a.serversSnapshot().map(_.id) == Seq(1L))
    b.createOrGetServer(ServerMeta(2L, "https://two.example"))
    a.recordSyncResult(1L, success = true, ts("2024-01-02 00:00:00"))
    assert(a.serversSnapshot().map(_.id) == Seq(1L, 2L),
      "a local commit hid another store's server commit from the cache")
  }

  test("CatalogLock: stale locks are evicted, fresh locks block, reentry passes through") {
    val dir = java.nio.file.Files.createTempDirectory("catlock").toString
    val (fs, root) = graft.etl.Refresh.hfs(spark, dir)
    val lockPath = new org.apache.hadoop.fs.Path(root, "_catalog.lock")
    // stale takeover: a lock whose holder died (mtime far in the past)
    // must not stall writers — acquisition evicts it and proceeds
    val out = fs.create(lockPath, false)
    out.write("dead-holder:0".getBytes("UTF-8")); out.close()
    fs.setTimes(lockPath, System.currentTimeMillis() - 3600000L, -1)
    val got = CatalogLock.withLock(fs, root, staleMs = 1000L) { 42 }
    assert(got == 42)
    assert(!fs.exists(lockPath), "lock not released after eviction+hold")
    // reentrancy: a mutator allocating an id mid-mutation (nextId inside
    // createOrGetUser) must pass straight through, not self-deadlock
    val nested = CatalogLock.withLock(fs, root) {
      CatalogLock.withLock(fs, root) { "inner" }
    }
    assert(nested == "inner")
    // a FRESH lock blocks a second acquirer until released
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      CatalogLock.withLock(fs, root) {
        gate.countDown(); Thread.sleep(300); order.add("holder-done"); ()
      })
    holder.start()
    gate.await()
    val waiter = new Thread(() =>
      CatalogLock.withLock(fs, root) { order.add("waiter-ran"); () })
    waiter.start()
    holder.join(60000); waiter.join(60000)
    assert(order.toArray.toSeq == Seq("holder-done", "waiter-ran"),
      s"waiter entered while the lock was held: ${order.toArray.toSeq}")
  }

  test("CatalogLock heartbeat: a slow-but-alive holder past the stale window is NOT evicted") {
    val dir = java.nio.file.Files.createTempDirectory("catlockhb").toString
    val (fs, root) = graft.etl.Refresh.hfs(spark, dir)
    val lockPath = new org.apache.hadoop.fs.Path(root, "_catalog.lock")
    def tokenNow(): String = {
      val in = fs.open(lockPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val staleMs = 600L
    val entered = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() =>
      CatalogLock.withLock(fs, root, staleMs) {
        entered.countDown()
        Thread.sleep(3 * staleMs) // critical section far past the window
        done.set(true); ()
      })
    holder.start()
    entered.await()
    Thread.sleep(2 * staleMs) // deep past the pre-heartbeat eviction window
    // the heartbeat must have kept the lease fresh the whole time...
    val age = System.currentTimeMillis() -
      fs.getFileStatus(lockPath).getModificationTime
    assert(age <= staleMs,
      s"heartbeat stopped touching: lock untouched for ${age}ms > ${staleMs}ms")
    // ...so an out-of-process evictor (driven directly — the JVM monitor
    // tier keeps in-process contenders from ever reaching eviction)
    // attempts the takeover and must put the live holder's lock back
    val before = tokenNow()
    CatalogLock.evictStale(fs, lockPath, staleMs)
    assert(fs.exists(lockPath), "a heartbeating holder was evicted")
    assert(tokenNow() == before, "eviction replaced a live holder's token")
    holder.join(60000)
    assert(done.get, "holder did not finish its critical section")
    assert(!fs.exists(lockPath), "lock not released after the long hold")
  }
}

package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** Cross-process catalog write lock — the filesystem stand-in for the
  * row transactions the reference gets from Postgres
  * (app/crud/base.py:20-40, server-side unique constraints at
  * app/models/hyperfile.py:43).
  *
  * Every [[MetaStore]] mutator is a read-modify-overwrite of a whole
  * registry table; a JVM-local mutex only serializes writers INSIDE one
  * process. Two driver processes (or two store instances) over the same
  * catalog root could interleave read-modify-write and silently lose an
  * update. This lock closes that: one `_catalog.lock` file under the
  * root, taken around every mutation, on any Hadoop filesystem.
  *
  * Protocol (atomic create-exclusive + heartbeat + stale takeover):
  *  1. JVM tier: one monitor per qualified lock path serializes threads
  *     and store instances within this process, so the filesystem only
  *     ever sees ONE contender per process. Reentrant per thread (a
  *     mutator that allocates an id mid-mutation must not deadlock on
  *     its own lock).
  *  2. FS tier: exclusive create of the lock file with a unique holder
  *     token. On LOCAL filesystems Hadoop's `create(overwrite=false)`
  *     is exists-then-create (a TOCTOU window two processes can both
  *     pass) and `rename` onto an existing destination silently
  *     REPLACES it (`rename(2)` semantics — a rename-based acquire
  *     would lose exclusion the same way), so the local path goes
  *     through `O_CREAT|O_EXCL` (java.nio `CREATE_NEW`), which the
  *     kernel arbitrates atomically. HDFS `create(overwrite=false)` is
  *     already atomic at the NameNode. A settle + read-back of the
  *     token stays as a SECONDARY check for filesystems where neither
  *     holds (object stores): only the contender whose token survived
  *     proceeds; the loser loops.
  *  3. Heartbeat lease: while the critical section runs, a daemon
  *     thread re-touches the lock's mtime every `staleMs/4` (only while
  *     the file still carries our token), so a long-but-alive commit is
  *     never mistaken for a dead holder — staleness below always keys
  *     off the LAST TOUCH, not acquisition time.
  *  4. Stale takeover: a holder that died without releasing would stall
  *     writers forever, so a lock untouched for `staleMs` is evicted —
  *     by RENAME to a unique grave (at most one evictor wins the rename;
  *     losers loop to the create race), then a re-check of the moved
  *     file's age. A file that turned out FRESH (replaced between the
  *     age check and the rename by another evictor's takeover+create, or
  *     touched by its holder's heartbeat in that window) is renamed
  *     straight back.
  *  5. Release: delete only if the file still carries OUR token — a
  *     holder whose lock was evicted (a >staleMs GC pause) must not
  *     release the NEXT holder's lock.
  *
  * Honest residual: like every lease-less-runtime lock file, a holder
  * whose JVM pauses outright for longer than `staleMs` (stop-the-world
  * GC also stops the heartbeat thread) loses mutual exclusion for the
  * remainder of its critical section — the evictor can't tell a dead
  * holder from a frozen one. The heartbeat shrinks what counts as
  * "frozen" to a genuine whole-JVM stall: merely SLOW critical sections
  * (a multi-second commit on a loaded cluster) keep their lease
  * indefinitely, and the release-window race (read-token-then-delete)
  * only opens after such a stall. Deployments with minutes-long
  * worst-case pauses should raise `staleMs` accordingly.
  */
object CatalogLock {

  /** Default stale-lock eviction window, ~100× a catalog commit. */
  val StaleMsDefault: Long = 120000L

  /** Lock file name under the catalog root. */
  private[catalog] val LockName = "_catalog.lock"

  // one monitor per qualified lock path: threads and store INSTANCES in
  // this process contend here, so at most one reaches the filesystem
  private val jvmMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // lock paths held by the current thread — reentrant acquisition
  // (a locked body that calls another store mutator) must be a
  // pass-through, not a self-deadlock that resolves by stealing our own
  // lock
  private val heldByThread = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  def withLock[T](fs: FileSystem, root: Path,
                  staleMs: Long = StaleMsDefault)(body: => T): T = {
    val lockPath = new Path(root, LockName)
    val key = fs.makeQualified(lockPath).toString
    if (heldByThread.get.contains(key)) return body // reentrant
    val monitor = jvmMonitors.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val mine = acquire(fs, lockPath, staleMs)
      val hb = startHeartbeat(fs, lockPath, mine, staleMs)
      heldByThread.get += key
      try body
      finally {
        heldByThread.get -= key
        hb.cancel(false)
        release(fs, lockPath, mine)
      }
    }
  }

  /** Unique holder token (pid + nonce); file CONTENT only, never a path
    * component (Hadoop `Path` mis-parses ':' as a scheme separator).
    */
  private def token(): String =
    s"${ProcessHandle.current().pid()}:${java.util.UUID.randomUUID()}"

  private def readToken(fs: FileSystem, lockPath: Path): Option[String] =
    try {
      val in = fs.open(lockPath)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), UTF_8))
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Exclusive create of the lock file carrying `content`. Local
    * filesystems route through `O_CREAT|O_EXCL` (kernel-atomic — Hadoop's
    * local `create(overwrite=false)` is exists-then-create and local
    * `rename` replaces an existing destination, so neither can arbitrate
    * the race); everything else uses `create(overwrite=false)`, atomic on
    * HDFS at the NameNode. Returns false when the file already exists.
    */
  private def createExclusive(fs: FileSystem, lockPath: Path,
                              content: Array[Byte]): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(lockPath.toUri.getPath), content,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.io.IOException => false }
    case _ =>
      try {
        val out = fs.create(lockPath, false)
        try out.write(content) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** Blocks until the lock is held; returns the holder token written. */
  private def acquire(fs: FileSystem, lockPath: Path, staleMs: Long): String = {
    val parent = lockPath.getParent
    if (!fs.exists(parent)) { fs.mkdirs(parent); () }
    val mine = token()
    var held = false
    var backoffMs = 20L
    while (!held) {
      val created = createExclusive(fs, lockPath, mine.getBytes(UTF_8))
      if (created) {
        // settle + read-back: SECONDARY confirmation for filesystems
        // whose create is not atomic (see protocol step 2) — on local
        // FS the O_EXCL create above already arbitrated
        Thread.sleep(10)
        held = readToken(fs, lockPath).contains(mine)
      }
      if (!held) {
        val st = try Some(fs.getFileStatus(lockPath))
        catch { case _: java.io.IOException => None }
        st match {
          case Some(s)
            if System.currentTimeMillis() - s.getModificationTime > staleMs =>
            evictStale(fs, lockPath, staleMs)
          case _ =>
            Thread.sleep(backoffMs)
            backoffMs = math.min(backoffMs * 2, 500L)
        }
      }
    }
    mine
  }

  // one shared daemon for all heartbeats: touches are sub-millisecond
  // FS metadata ops and held locks are rare (catalog mutations), so one
  // thread never falls behind
  private lazy val heartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-catalog-lock-heartbeat")
      t.setDaemon(true)
      t
    })

  /** Re-touch the lock's mtime every `staleMs/4` while it still carries
    * our token (protocol step 3): staleness keys off the last touch, so
    * a slow-but-alive critical section is never evicted — only a holder
    * whose whole JVM froze past `staleMs` (which also freezes this
    * thread) can lose the lease. A touch that finds someone else's token
    * (we WERE evicted) or no file stops touching — it must not extend a
    * successor's lease.
    *
    * ACCEPTED RESIDUAL (liveness-only): readToken-then-setTimes is not
    * atomic, so a heartbeat frozen in that window past eviction +
    * re-acquisition refreshes the SUCCESSOR's mtime once, delaying that
    * successor's own legitimate stale eviction by up to `staleMs`.
    * Mutual exclusion is unaffected (the touch changes no token). The
    * obvious repair — re-read the token after setTimes and restore the
    * prior mtime on mismatch — is REJECTED as strictly worse: the
    * restore path can stamp our PRE-FREEZE (stale) mtime onto the live
    * successor's lock, making it evictable mid-critical-section, which
    * trades a bounded liveness delay for an exclusion violation. With
    * no compare-and-swap on FS metadata every variant keeps some
    * window; this protocol confines the damage to liveness.
    */
  private def startHeartbeat(fs: FileSystem, lockPath: Path, mine: String,
                             staleMs: Long): java.util.concurrent.ScheduledFuture[_] = {
    val period = math.max(1L, staleMs / 4)
    heartbeats.scheduleAtFixedRate(() => {
      try {
        if (readToken(fs, lockPath).contains(mine))
          fs.setTimes(lockPath, System.currentTimeMillis(), -1)
      } catch { case _: java.io.IOException => () }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  /** Evict a stale lock by renaming it to a unique grave (one winner),
    * re-verifying age on the moved file, restoring it if it was fresh.
    * `private[catalog]` so the spec can drive an eviction attempt
    * against a live heartbeating holder directly (the JVM monitor tier
    * keeps in-process contenders from ever reaching this code).
    */
  private[catalog] def evictStale(fs: FileSystem, lockPath: Path, staleMs: Long): Unit = {
    val grave = new Path(lockPath.getParent,
      s".${lockPath.getName}.stale.${java.util.UUID.randomUUID()}")
    val renamed =
      try fs.rename(lockPath, grave)
      catch { case _: java.io.IOException => false }
    if (renamed) {
      val fresh =
        try System.currentTimeMillis() -
          fs.getFileStatus(grave).getModificationTime <= staleMs
        catch { case _: java.io.IOException => false }
      try {
        if (fresh) { fs.rename(grave, lockPath); () }
        else { fs.delete(grave, false); () }
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Delete the lock only while it still carries OUR token (step 5). */
  private def release(fs: FileSystem, lockPath: Path, mine: String): Unit =
    try {
      if (readToken(fs, lockPath).contains(mine)) { fs.delete(lockPath, false); () }
    } catch { case _: java.io.IOException => () }
}

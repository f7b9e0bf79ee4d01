package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging

/** Advisory table-level mutex for the MUTATING maintenance ops
  * (deleteWhere / updateWhere / merge / compact / zorder / vacuum /
  * expireManifests) AND every write COMMIT (batch + streaming epoch).
  * Two maintenance ops racing on one table can both decide to rewrite
  * the same file from the same listing — one's output retires the
  * other's input mid-flight, and the per-op convergence markers (which
  * key on the op's OWN hash) cannot see the other op at all. Two
  * unserialized write commits interleave on the shared table metadata:
  * the sort marker's read-clear-republish window could re-publish a
  * whole-table sort guarantee over a concurrent unsorted append's
  * visible files (wrong top-N answers downstream). The lock is taken
  * once per JOB on the driver around the publish sequence only — task
  * execution stays fully parallel, and READS stay lock-free (tmp+rename
  * keeps every read-visible state consistent).
  *
  * Mechanics — the S3A/HDFS-portable shape, not a filesystem flock:
  *
  *   - acquisition creates `<table>/_graft_maint_lock` holding
  *     `<token>\n<heartbeat millis>`. On a local filesystem the create
  *     goes through java.nio CREATE_NEW (true O_EXCL atomicity — Hadoop's
  *     `create(overwrite = false)` is check-then-create there); on HDFS
  *     `create(overwrite = false)` is itself atomic. Every claim is then
  *     READ-BACK VERIFIED after a short settle: a double-claim on a
  *     filesystem with neither guarantee leaves ONE token in the file,
  *     and the loser re-enters the wait loop instead of proceeding;
  *   - the holder heartbeats every lease/3 by BOTH touching the file's
  *     mtime and rewriting the heartbeat millis in the content (guarded
  *     by a token read-check, so a paused-past-lease holder never
  *     clobbers the lock's new owner) — object stores that reject
  *     `setTimes` still renew through the content;
  *   - a waiter polls; a lock is STALE only when the freshest of (mtime,
  *     content heartbeat) is older than the lease
  *     (`graft.maint.lock.lease.ms`, default 10 min), so a live
  *     long-running holder is never expropriated while either mechanism
  *     works;
  *   - a stale lock is broken by RENAMING that incarnation to a
  *     tombstone (of two racing breakers exactly one rename succeeds);
  *   - waiting is bounded by `graft.maint.lock.wait.ms` (default 10 min),
  *     then the op fails loudly instead of queueing forever;
  *   - re-entrant within a thread (zorder runs through compact under one
  *     acquisition);
  *   - release deletes the file only while it still carries this
  *     acquisition's token — a broken-and-reclaimed lock is never
  *     deleted out from under its new holder.
  *
  * The crash contract stays what it was: every op is individually
  * crash-resumable (deterministic names, converged markers, heal pass),
  * so a broken lease's half-done op is healed by re-running it — the
  * lock only serializes LIVE mutators.
  */
private[spark] object GraftTableLock extends Logging {
  val LockName = "_graft_maint_lock"

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue(): scala.collection.mutable.Set[String] =
      scala.collection.mutable.Set.empty
  }

  /** Same-JVM contenders serialize HERE before touching the filesystem —
    * cheap, and it keeps the file protocol to genuinely cross-process
    * contention. */
  private val inProcess =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  /** The COMMIT lock is a SEPARATE file from the maintenance lock:
    * commits serialize against each other (seconds-long publish
    * sections), but NOT against a long-running maintenance rewrite —
    * compaction is drip-ingest-safe by design (snapshot-scoped deletes,
    * manifest-diff marker guards), and an hour-long compact must not
    * block or fail concurrent ingest. Lock ORDER is maintenance → commit
    * (replaceWhere's commit takes maintenance first; compact's inner
    * append takes commit while holding maintenance) — never the reverse,
    * or two processes deadlock until the wait timeout. */
  val CommitLockName = "_graft_commit_lock"

  /** Whether THIS thread already holds the named lock on the table — the
    * re-entrancy probe composed ops use to run once-per-acquisition work
    * (e.g. the crashed-swap roll-forward) only at the outer entry. */
  def isHeld(fs: FileSystem, tableDir: Path,
      lockFile: String = LockName): Boolean =
    held.get.contains(lockFile + "@" + fs.makeQualified(tableDir).toString)

  def withLock[T](fs: FileSystem, tableDir: Path,
      conf: org.apache.hadoop.conf.Configuration, op: String,
      lockFile: String = LockName)(f: => T): T = {
    val key = lockFile + "@" + fs.makeQualified(tableDir).toString
    if (held.get.contains(key)) return f // nested op, same acquisition
    val lease = conf.getLong("graft.maint.lock.lease.ms", 10 * 60 * 1000L)
    val waitMs = conf.getLong("graft.maint.lock.wait.ms", 10 * 60 * 1000L)
    val pl = inProcess.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (!pl.tryLock(waitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new java.util.ConcurrentModificationException(
        s"graft: table $tableDir is locked by another operation " +
          s"in this process — waited ${waitMs}ms (graft.maint.lock.wait.ms)")
    try withFileLock(fs, tableDir, op, lease, waitMs, key, lockFile)(f)
    finally pl.unlock()
  }

  private def render(token: String): Array[Byte] =
    s"$token\n${System.currentTimeMillis()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** (token line, content heartbeat millis) — None when unreadable or
    * mid-rewrite; callers treat that conservatively (not proof of
    * staleness, not proof of ownership). */
  private def readLock(fs: FileSystem, p: Path): Option[(String, Option[Long])] =
    try {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = s.split("\n", 2)
      if (lines.isEmpty || lines(0).isEmpty) None
      else Some((lines(0).trim,
        if (lines.length > 1) lines(1).trim.toLongOption else None))
    } catch { case _: Exception => None }

  /** True local filesystems get java.nio O_EXCL; everything else rides the
    * FileSystem contract (atomic-exclusive on HDFS). Returns
    * Some(atomic?) on a successful claim, None on a lost one — an ATOMIC
    * claim (O_EXCL) needs no settle-and-read-back verify, which matters
    * now that every write commit takes a lock (the 5+ms settle was pure
    * constant overhead on sub-second maintenance ops). */
  private def tryClaim(fs: FileSystem, lockPath: Path, token: String): Option[Boolean] = {
    fs.mkdirs(lockPath.getParent)
    if ("file".equalsIgnoreCase(fs.getUri.getScheme)) {
      val local = java.nio.file.Paths.get(
        Path.getPathWithoutSchemeAndAuthority(fs.makeQualified(lockPath)).toString)
      try {
        java.nio.file.Files.write(local, render(token),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        Some(true)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => None
      }
    } else {
      try {
        val out = fs.create(lockPath, false)
        try out.write(render(token)) finally out.close()
        Some(false)
      } catch { case _: java.io.IOException => None }
    }
  }

  private def withFileLock[T](fs: FileSystem, tableDir: Path, op: String,
      lease: Long, waitMs: Long, key: String, lockFile: String)(f: => T): T = {
    val lockPath = new Path(tableDir, lockFile)
    val token = s"$op:${java.util.UUID.randomUUID()}"
    val deadline = System.currentTimeMillis() + waitMs
    var acquired = false
    while (!acquired) {
      tryClaim(fs, lockPath, token) match {
       case Some(atomic) =>
        if (atomic) acquired = true // O_EXCL: the claim IS the verdict
        else {
          // READ-BACK VERIFY: on a filesystem where the claim was
          // check-then-create, a racing claimer may have overwritten the
          // file between our write and close — whichever token the file
          // holds now is the winner, the other loops back into the wait.
          Thread.sleep(5)
          acquired = readLock(fs, lockPath).exists(_._1 == token)
          if (!acquired) Thread.sleep(10)
        }
       case scala.None =>
        val st = try Some(fs.getFileStatus(lockPath)) catch {
          case _: java.io.FileNotFoundException => None // released: retry now
        }
        if (st.isEmpty) {
          if (System.currentTimeMillis() > deadline)
            throw new java.io.IOException(
              s"graft: cannot create maintenance lock at $lockPath")
          Thread.sleep(10)
        }
        st.foreach { s =>
          val content = readLock(fs, lockPath)
          val freshest = math.max(s.getModificationTime,
            content.flatMap(_._2).getOrElse(0L))
          if (System.currentTimeMillis() - freshest > lease) {
            // crashed holder: break the stale lease by RENAMING the
            // specific stale incarnation to a tombstone — of two racing
            // breakers exactly one rename succeeds (the loser's source
            // is gone and it loops into the fresh winner's lock). A
            // plain delete here could land AFTER the winner re-created
            // the lock and destroy a live claim.
            val tomb = new Path(tableDir,
              s"$lockFile.stale-${java.util.UUID.randomUUID().toString.take(8)}")
            if (fs.rename(lockPath, tomb)) fs.delete(tomb, false)
          } else if (System.currentTimeMillis() > deadline) {
            val holder = content.map(_._1).getOrElse("<unreadable>")
            throw new java.util.ConcurrentModificationException(
              s"graft: table $tableDir is locked by another maintenance " +
                s"operation ($holder) — waited ${waitMs}ms " +
                "(graft.maint.lock.wait.ms); if the holder crashed, the " +
                s"lease expires ${lease}ms after its last heartbeat " +
                "(graft.maint.lock.lease.ms)")
          } else Thread.sleep(math.min(200L, math.max(1L, waitMs / 10)))
        }
      }
    }
    val renewer = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, s"graft-lock-renew"); t.setDaemon(true); t.setPriority(Thread.MAX_PRIORITY); t })
    val heartbeatFailing = new java.util.concurrent.atomic.AtomicBoolean(false)
    renewer.scheduleAtFixedRate(() => {
      // two renewal mechanisms, either suffices: mtime touch (HDFS/local)
      // and a content rewrite of the heartbeat millis (object stores that
      // reject setTimes). The rewrite is guarded by a token read-check so
      // a holder paused past its lease never clobbers the new owner —
      // advisory (read-then-write), but the clobber window is now one
      // heartbeat racing one break instead of every beat.
      val mtimeOk =
        try { fs.setTimes(lockPath, System.currentTimeMillis(), -1); true }
        catch { case _: Exception => false }
      val contentOk =
        try {
          if (readLock(fs, lockPath).exists(_._1 == token)) {
            val out = fs.create(lockPath, true)
            try out.write(render(token)) finally out.close()
            true
          } else false
        } catch { case _: Exception => false }
      if (mtimeOk || contentOk) heartbeatFailing.set(false)
      else if (heartbeatFailing.compareAndSet(false, true))
        logWarning(s"maintenance-lock heartbeat " +
          s"failed on $lockPath (both mtime touch and content rewrite); " +
          "if heartbeats keep failing and this operation outlives " +
          "graft.maint.lock.lease.ms, another process may expropriate a " +
          "live lock — raise the lease above the longest expected op on " +
          "such filesystems")
    }, math.max(1L, lease / 3), math.max(1L, lease / 3),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    held.get += key
    try f
    finally {
      held.get -= key
      renewer.shutdownNow()
      try {
        if (readLock(fs, lockPath).exists(_._1 == token))
          fs.delete(lockPath, false)
      } catch { case _: Exception => () } // reclaimed or already gone
    }
  }
}

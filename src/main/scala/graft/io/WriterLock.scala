package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Best-effort single-writer guard for the persisted index lifecycles
  * ([[graft.llm.Retrieval]] BM25, [[graft.llm.Similarity]] IVF+PQ): their
  * append/compact paths mutate the index through temp-dir + rename swaps,
  * and while a CRASHED writer's state is mechanically recoverable (the
  * heal paths), two LIVE writers interleaving their swaps can silently
  * lose one batch's merge — e.g. both appends read the same df, each
  * writes a merged tmp, and the second swap overwrites the first's
  * contribution. The guard makes the second writer fail fast instead.
  *
  * Mechanics: an exclusive-create lock FILE placed as a SIBLING of the
  * index directory (`<dir>._graft_writer.lock` — a sibling because the
  * IVF compaction renames the index directory itself aside mid-swap, so
  * anything inside it would vanish with the swap and reopen the race
  * window). `fs.create(lock, overwrite = false)` fails when the file
  * exists — atomic on HDFS, best-effort on local/object stores, which
  * matches the guard's contract: it protects against accidental
  * concurrency, not byzantine writers.
  *
  * Liveness vs staleness (r16 — the r15 horizon could break a LIVE
  * writer): the holder runs a driver-side daemon HEARTBEAT that refreshes
  * the lock's mtime every `staleAfterMs / 4` while `body` runs, so age
  * measured from mtime only ever exceeds the horizon for a DEAD writer —
  * a 100-TB compaction that legitimately runs for hours keeps its lock
  * for as long as its driver lives. Breaking is RENAME-THEN-DELETE: the
  * breaker renames the stale lock to a nonce-suffixed sidecar first, so
  * when two writers both observe the same stale lock only ONE rename
  * wins and the loser cannot delete a lock the winner just re-created
  * (the r15 interleaved-delete race). The lock file carries its owner's
  * token (pid + nonce); release deletes the file ONLY when it still
  * carries the owner's token, so a writer whose lock was (wrongly or
  * rightly) broken and re-acquired by someone else can no longer free
  * the new owner's lock from its `finally`. */
object WriterLock extends org.apache.spark.internal.Logging {

  /** Named failure for a second live writer — catch-and-retry-able. */
  final class ConcurrentWriterException(msg: String)
      extends IllegalStateException(msg)

  /** Test-only kill switch for the holder heartbeat, to simulate a
    * writer whose driver died (or stalled) mid-body without sleeping a
    * real stale horizon. Production code never touches it. */
  @volatile private[graft] var heartbeatEnabled: Boolean = true

  private[graft] def lockPath(dir: String): Path = {
    val p = new Path(dir)
    val parent = Option(p.getParent).getOrElse(
      throw new IllegalArgumentException(s"cannot place a writer lock next to '$dir'"))
    new Path(parent, p.getName + "._graft_writer.lock")
  }

  /** Run `body` holding the exclusive writer lock for `dir`; always
    * stops the heartbeat and releases (token-verified). Throws
    * [[ConcurrentWriterException]] when a live (heartbeat younger than
    * `staleAfterMs`) writer holds it. */
  def withLock[T](spark: SparkSession, dir: String, op: String,
      staleAfterMs: Long = 30L * 60L * 1000L)(body: => T): T = {
    require(staleAfterMs > 0, s"staleAfterMs must be positive, got $staleAfterMs")
    val lock = lockPath(dir)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = s"${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    def payload(): Array[Byte] =
      (s"""{"op": "$op", "token": "$token", """ +
        s""""acquired_ms": ${System.currentTimeMillis()}}""").getBytes("UTF-8")
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(payload()) finally out.close()
        true
      } catch { case _: java.io.IOException => false } // exists = busy
    def readToken(p: Path): Option[String] =
      try {
        val in = fs.open(p)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](4096)
            var r = in.read(tmp)
            while (r >= 0) { buf.write(tmp, 0, r); r = in.read(tmp) }
            buf.toByteArray
          } finally in.close()
        val s = new String(bytes, "UTF-8")
        val m = """"token": "([^"]+)"""".r.findFirstMatchIn(s)
        m.map(_.group(1))
      } catch { case _: java.io.IOException => None }
    var acquired = tryAcquire()
    if (!acquired) {
      val status =
        try Some(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      val ageMs = status.map(s => System.currentTimeMillis() - s.getModificationTime)
      // Gone between attempts, or mtime (heartbeat-refreshed by a live
      // holder) older than the horizon: break ONCE, by rename — a rename
      // can only succeed for one of several concurrent breakers, and the
      // loser's failure leaves the winner's freshly created lock intact.
      if (ageMs.forall(_ > staleAfterMs)) {
        val aside = new Path(lock.getParent,
          lock.getName + s".breaking.$token")
        val renamed = try fs.rename(lock, aside)
          catch { case _: java.io.IOException => false }
        if (renamed) {
          // Guard against breaking a lock that was released and
          // re-acquired FRESH between the staleness observation and the
          // rename (e.g. another breaker won first and is already
          // running): the decision is re-made on the RENAMED file's own
          // mtime — rename preserves it, and nobody else can touch the
          // nonce-named aside. Reading a token here would race the same
          // way the r16 review flagged (a second breaker observes the
          // first breaker's fresh token); age does not.
          val asideFresh =
            try System.currentTimeMillis() -
              fs.getFileStatus(aside).getModificationTime <= staleAfterMs
            catch { case _: java.io.IOException => false }
          if (asideFresh) {
            // We renamed a LIVE lock — put it back and report busy. The
            // rename-back can itself fail (a third writer acquired in the
            // brief window the lock path was absent — dest exists); that
            // would leave TWO live writers and a leaked aside sidecar, so
            // check the result: on failure, delete the orphaned aside and
            // log loudly. The displaced holder's release is token-verified
            // so it cannot free the third writer's lock; its own heartbeat
            // target is gone, which its next setTimes surfaces as an
            // IOException and retries harmlessly.
            var restored = try fs.rename(aside, lock)
              catch { case _: java.io.IOException => false }
            if (!restored) {
              // Rename-back can fail two ways (r17 ADVICE): a third writer
              // acquired in the window (dest exists — delete the aside, the
              // new lock governs) OR a transient IO failure with the lock
              // path still ABSENT — deleting the aside then would leave NO
              // lock on disk while the displaced holder keeps writing, so
              // retry the rename once and give the aside up ONLY when a new
              // owner's lock is confirmed present.
              val present = try fs.exists(lock)
                catch { case _: java.io.IOException => false }
              if (!present)
                restored = try fs.rename(aside, lock)
                  catch { case _: java.io.IOException => false }
              if (!restored) {
                val newOwner = try fs.exists(lock)
                  catch { case _: java.io.IOException => false }
                if (newOwner) {
                  try fs.delete(aside, false) catch { case _: java.io.IOException => () }
                  logWarning(s"$op: could not restore a " +
                    s"live lock after a false-stale rename of $lock (a new writer " +
                    "acquired in the window) — the displaced holder's lock file is " +
                    "gone; its release is a no-op and the horizon governs from here")
                } else {
                  // No new owner and two rename attempts failed: leave the
                  // aside in place as the only surviving record of the live
                  // writer — a leaked sidecar is recoverable by an operator;
                  // deleting it is not.
                  logWarning(s"$op: could not restore a " +
                    s"live lock after a false-stale rename of $lock (transient " +
                    s"rename failures, no new owner) — leaving the aside " +
                    s"sidecar ${aside.getName} in place; remove it manually " +
                    "once the displaced writer finishes")
                }
              }
            }
          } else {
            try fs.delete(aside, false) catch { case _: java.io.IOException => () }
            acquired = tryAcquire()
          }
        } else acquired = tryAcquire() // someone released (or broke) it first
      }
      if (!acquired) throw new ConcurrentWriterException(
        s"$op: another writer holds $lock" +
          ageMs.map(a => s" (heartbeat ~${a / 1000}s ago)").getOrElse("") +
          " — concurrent writers interleaving the index's rename swaps can " +
          "silently lose a batch. Retry after it finishes; if that writer is " +
          s"dead, delete the lock file (dead locks self-break after ${staleAfterMs} ms " +
          "without a heartbeat)")
    }
    // Holder heartbeat: refresh the lock's mtime from a daemon thread so
    // the stale horizon measures time since the last PROOF OF LIFE, not
    // since acquisition — a long-running body keeps its lock. setTimes is
    // supported by HDFS and the local filesystems; where it is not, fall
    // back to rewriting the lock payload in place (same token).
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      val interval = math.max(50L, staleAfterMs / 4)
      var supported = true
      var wrappedFails = 0
      while (!hbStop.get()) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        if (!hbStop.get() && heartbeatEnabled && supported) {
          try {
            fs.setTimes(lock, System.currentTimeMillis(), -1)
            wrappedFails = 0
          } catch {
            case _: UnsupportedOperationException =>
              // No safe refresh on this filesystem: a read-then-rewrite
              // fallback can clobber a breaker's freshly acquired lock
              // (r16 review). Degrade to the r15 no-heartbeat behavior —
              // operators on such stores should raise staleAfterMs past
              // their longest writer instead.
              supported = false
              logWarning(s"$op: filesystem does not " +
                s"support setTimes — heartbeat disabled; the $staleAfterMs ms " +
                "stale horizon now measures time since ACQUISITION")
            case _: java.io.IOException =>
              // Transient; next beat retries. Also resets the wrapped-fail
              // streak (r17 ADVICE): the 3-strike disable below claims
              // CONSECUTIVE wrapped failures, so an interleaved transient
              // IOException must break the streak for the log to be honest.
              wrappedFails = 0
            case scala.util.control.NonFatal(e) =>
              // A decorated/object-store FileSystem can wrap anything in
              // anything (RuntimeException shims, throttles); an uncaught
              // throw here would kill the daemon SILENTLY and let a live
              // writer's lock go stale mid-write. Treat the first few as
              // transient like the IOException arm (r17 review — one
              // throttle blip must not disable a multi-hour writer's
              // heartbeat); degrade loudly only when failures persist
              // across consecutive beats.
              wrappedFails += 1
              if (wrappedFails >= 3) {
                supported = false
                logWarning(s"$op: heartbeat refresh " +
                  s"failed with ${e.getClass.getName}: ${e.getMessage} on " +
                  s"$wrappedFails consecutive beats — heartbeat disabled; " +
                  s"the $staleAfterMs ms stale horizon now measures time " +
                  "since the last successful refresh")
              }
          }
        }
      }
    }, s"graft-writer-lock-heartbeat-$op")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hbStop.set(true)
      hb.interrupt()
      // Token-verified release: delete ONLY on a positive token match — an
      // unreadable or token-less lock (transient read failure, a breaker
      // mid-rename, a foreign payload) is treated as NOT OURS, because
      // deleting it could free a live new owner's lock. The conservative
      // direction's worst case is a leaked own lock, which the stale
      // horizon self-breaks once our heartbeat stops.
      try if (readToken(lock).contains(token)) fs.delete(lock, false)
      catch { case _: java.io.IOException => () } // release is best-effort
    }
  }

  /** Opportunistic form for maintenance a READER performs (the BM25 heal
    * on load): runs `body` only when the lock is free — a held lock means
    * a live writer owns the transitional on-disk state, and healing it
    * mid-swap would race the writer's own renames. Never throws busy. */
  def ifAcquired(spark: SparkSession, dir: String, op: String,
      staleAfterMs: Long = 30L * 60L * 1000L)(body: => Unit): Unit =
    try withLock(spark, dir, op, staleAfterMs)(body)
    catch { case _: ConcurrentWriterException => () }
}

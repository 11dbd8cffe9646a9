package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets

/** Cross-writer exclusion for a parquet table. The engine's dispositions
  * assume a single writer per table (staged swaps and compaction markers
  * are private to the maintainer); the lease makes that assumption
  * enforced instead of hoped: a second pipeline trying to write or
  * compact the same table fails fast with `LockHeldException` rather than
  * interleaving a directory swap with a compaction rewrite — an
  * interleaving that could resurrect replaced files or delete originals
  * out from under a swap.
  *
  * DESIGN — epoch-chained lease files, arbitrated by atomic create only.
  * The lock's state is the set of files `<table>__lock.e<N>`; the holder
  * is whoever CREATED the highest-epoch file, while that file is live.
  * Every state transition is an atomic create-if-absent of a NEW path —
  * there is no rename and no delete anywhere in an arbitration path,
  * which is what makes contended takeover single-winner on any
  * filesystem:
  *
  *  - acquire on an empty dir  → create `e0` (atomic; one winner);
  *  - takeover of a stale or released max-epoch `eM` → create `e(M+1)`
  *    (atomic; exactly one of any number of racing takers wins, and a
  *    racer can never destroy the winner's lease because nothing is ever
  *    renamed or deleted);
  *  - release → REWRITE your own epoch file with a `released` marker,
  *    never delete it (a delete would let a late lister see an empty dir
  *    and restart the chain at `e0` below a concurrent `e(M+1)` winner —
  *    two live holders);
  *  - GC: epoch files strictly below the current max are garbage. Epochs
  *    only grow, so a (however delayed) delete of `e<K>` with K < M can
  *    never hit a live lease. The chain therefore stays at a handful of
  *    files regardless of takeover count.
  *
  * Every create goes through [[EpochFiles.create]], which makes it
  * atomic per scheme and reports a lost race apart from a failing
  * filesystem (the latter propagates; it is never "held by another").
  *
  * Staleness: a crashed writer never releases; a max-epoch lease whose
  * mtime is older than `staleMs` is taken over. `withLock` and manifest
  * publishes keep their leases live with a [[Heartbeat]] (staleMs / 3),
  * so a legitimately slow compaction or data-dependent recovery heal is
  * never exposed to third-party takeover mid-write. Same-owner
  * reacquire: a holder identity that survives process death (e.g. a
  * streaming query's checkpoint dir) retakes its own lease immediately —
  * the platform guarantees one active instance per such identity, so the
  * previous holder is necessarily dead.
  *
  * The lease files live NEXT TO the table dir (`<path>__lock.e<N>`), not
  * inside it: the staged swap ([[StagedSwap]]) renames the whole
  * directory, and a lock inside would be swapped away with it.
  */
object TableLock {

  private val log = org.slf4j.LoggerFactory.getLogger(TableLock.getClass)

  private[core] val DefaultStaleMs: Long = 15L * 60 * 1000

  final class LockHeldException(msg: String) extends RuntimeException(msg)

  final case class Lease(fs: FileSystem, path: Path, owner: String, token: String) {
    /** Refresh the lease mtime so a long maintenance job isn't taken over. */
    def renew(): Unit = fs.setTimes(path, System.currentTimeMillis(), -1)

    /** Mark the lease released iff it is still ours. Returns true iff this
      * call released it. Failures are LOUD (error log), never silent: a
      * swallowed failure leaks the lease until stale takeover, blocking
      * every other writer for staleMs.
      */
    def release(): Boolean = {
      val mine =
        try readFile(fs, path).exists(c => c.contains(s"token=$token") && !isReleased(c))
        catch {
          case e: java.io.IOException =>
            log.error(
              s"lease release: cannot read $path to verify ownership; not releasing. " +
                s"If this lease is ours it now leaks until stale takeover (owner=$owner)", e)
            return false
        }
      mine && {
        try {
          overwriteFile(fs, path, s"released=true\nowner=$owner\ntoken=$token\n")
          true
        } catch {
          case e: java.io.IOException =>
            log.error(s"lease release: rewrite of $path failed; " +
              s"lease leaks until stale takeover (owner=$owner)", e)
            false
        }
      }
    }
  }

  /** Keeps a holder's leases live: one daemon thread renews every held
    * lease each staleMs / 3 (staleMs being the one the leases were
    * acquired with) until [[releaseAll]], so a holder may run arbitrarily
    * longer than staleMs without exposure to third-party stale takeover —
    * its duration is often data-dependent (a big merge rewrite, recovery
    * heals, compaction) and not something callers can size. A failed
    * renew is logged and the beat goes on: a transient FS error must not
    * stop renewal.
    */
  private[core] final class Heartbeat(owner: String, staleMs: Long) {
    private val held = scala.collection.mutable.LinkedHashMap.empty[String, Lease]
    private var beat: Thread = null

    private def beating(): Unit =
      try while (true) {
        Thread.sleep(math.max(1L, staleMs / 3))
        synchronized(held.values.toList).foreach { l =>
          try l.renew()
          catch {
            case e: java.io.IOException =>
              log.warn(s"lease heartbeat renew failed for ${l.path}; retrying", e)
          }
        }
      } catch { case _: InterruptedException => () }

    def holds(key: String): Boolean = synchronized(held.contains(key))

    /** Keep `lease` live until [[releaseAll]]; the first one starts the beat. */
    def hold(key: String, lease: Lease): Unit = synchronized {
      held(key) = lease
      if (beat == null) {
        beat = new Thread(() => beating(), s"graft-lease-heartbeat:$owner")
        beat.setDaemon(true)
        beat.start()
      }
    }

    /** Stop the beat, then release every held lease. */
    def releaseAll(): Unit = {
      val t = synchronized { val t = beat; beat = null; t }
      if (t != null) { t.interrupt(); t.join(10000) }
      synchronized { held.values.foreach(_.release()); held.clear() }
    }
  }

  private def epochPrefix(tablePath: String) = new Path(tablePath).getName + "__lock.e"

  private def readFile(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
    }

  private def isReleased(content: String) = content.linesIterator.contains("released=true")

  private def overwriteFile(fs: FileSystem, p: Path, content: String): Unit =
    if (EpochFiles.isLocal(fs)) {
      java.nio.file.Files.write(EpochFiles.nio(p), content.getBytes(StandardCharsets.UTF_8))
      ()
    } else {
      val out = fs.create(p, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** Best-effort rewrite of a lease file as released: a failure is
    * logged at WARN and left to the chain (a higher epoch supersedes it).
    */
  private def tombstone(fs: FileSystem, p: Path, content: String): Unit =
    try overwriteFile(fs, p, content)
    catch { case e: java.io.IOException => log.warn(s"lease tombstone: rewrite of $p failed", e) }

  /** Epoch files for this lock, as (epoch, path), unsorted. */
  private def epochFiles(fs: FileSystem, tablePath: String): Seq[(Long, Path)] =
    Option(new Path(tablePath).getParent).fold(Seq.empty[(Long, Path)])(
      EpochFiles.list(fs, _, epochPrefix(tablePath)).map { case (e, st) => e -> st.getPath })

  /** Test seams (package-private): invoked inside `acquire` so a spec can
    * deterministically simulate the lock chain advancing while a taker is
    * paused between its listing and its create — the split-brain windows
    * the agree-loop and the post-create verify exist to close. No-ops in
    * production.
    */
  private[core] var testHookAfterList: Seq[(Long, Path)] => Unit = _ => ()
  private[core] var testHookBeforeCreate: () => Unit = () => ()
  /** Invoked before each post-create verification listing; a spec throws
    * IOException from it to simulate a flaky filesystem during verifyMax.
    */
  private[core] var testHookVerifyList: () => Unit = () => ()

  def acquire(
      spark: SparkSession,
      tablePath: String,
      owner: String,
      staleMs: Long = DefaultStaleMs,
  ): Lease = {
    val parent = new Path(tablePath).getParent
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (parent != null) fs.mkdirs(parent)
    val token = java.util.UUID.randomUUID().toString
    val lease = s"owner=$owner\ntoken=$token\n".getBytes(StandardCharsets.UTF_8)

    def path(epoch: Long) = new Path(parent, epochPrefix(tablePath) + epoch)

    // Arbitration state must be a listing that AGREES with a successful
    // read of its own max-epoch file (or a genuinely empty listing). A
    // max-epoch file that vanishes between list and read was superseded
    // and GC-deleted — the chain advanced PAST this listing, possibly by
    // several epochs under per-batch acquire/release churn — so a stale
    // listing must never arbitrate a takeover: creating maxEpoch+1 from
    // it can succeed (that epoch already existed, was superseded, and was
    // GC'd) and yield a second live lease below the real holder. Re-list
    // until listing and read agree; bounded — a chain advancing faster
    // than we can read it means the lock is simply held.
    var observed: Option[(Seq[(Long, Path)], Option[(Long, Path, String)])] = None
    var attempts = 0
    while (observed.isEmpty) {
      attempts += 1
      if (attempts > 50)
        throw new LockHeldException(
          s"table $tablePath: lock chain is advancing faster than it can be read " +
            "(listing and max-epoch read never agreed); treating as held")
      val files = epochFiles(fs, tablePath)
      testHookAfterList(files)
      if (files.isEmpty) observed = Some((files, None))
      else {
        val (maxEpoch, maxPath) = files.maxBy(_._1)
        try readFile(fs, maxPath) match {
          case Some(c) => observed = Some((files, Some((maxEpoch, maxPath, c))))
          case None    => () // vanished since the listing: re-list
        } catch { case _: java.io.IOException => () } // transient read error: re-list
      }
    }

    // After a successful create of e(N), confirm N is still the maximum
    // epoch. A racing taker working from an even fresher listing can have
    // created a higher epoch in the list→create window (our fresh file is
    // not takeable, but a taker need not have read it if its own listing
    // predates our create); the holder is BY DEFINITION the creator of
    // the highest live epoch, so on seeing a higher one we tombstone our
    // file and back off rather than proceed as a second writer.
    def verifyMax(myEpoch: Long): Lease = {
      // The post-create listing must SUCCEED to arbitrate: treating a
      // throwing listing as "no higher epoch" would degrade this guard to
      // a no-op under exactly the flaky-filesystem conditions it exists
      // to close. Retry a bounded number of times (like the list/read
      // agree-loop above); if the listing never succeeds, tombstone our
      // created epoch and back off — we cannot prove we hold the max.
      var after: Option[Seq[Long]] = None
      var verifyAttempts = 0
      while (after.isEmpty && verifyAttempts < 10) {
        verifyAttempts += 1
        try { testHookVerifyList(); after = Some(epochFiles(fs, tablePath).map(_._1)) }
        catch { case _: java.io.IOException => Thread.sleep(20L * verifyAttempts) }
      }
      if (after.isEmpty) {
        tombstone(fs, path(myEpoch), s"released=true\nlost-verify-listing\nowner=$owner\ntoken=$token\n")
        throw new LockHeldException(
          s"table $tablePath: post-create max-epoch verification could not list the " +
            s"lock dir after $verifyAttempts attempts; tombstoned e$myEpoch and backing off")
      }
      val maxAfter = if (after.get.isEmpty) myEpoch else after.get.max
      if (maxAfter > myEpoch) {
        tombstone(fs, path(myEpoch), s"released=true\nlost-verify-to=e$maxAfter\nowner=$owner\ntoken=$token\n")
        throw new LockHeldException(
          s"table $tablePath: takeover of e$myEpoch was superseded by e$maxAfter " +
            "during the create window; backing off")
      }
      Lease(fs, path(myEpoch), owner, token)
    }

    observed.get match {
      case (_, None) =>
        // Genuinely empty dir. After the first acquire the dir always
        // holds at least one epoch file (release and takeover tombstone,
        // never delete the max), so this is a virgin table where the e0
        // create race admits exactly one winner.
        testHookBeforeCreate()
        if (EpochFiles.create(fs, path(0L), lease)) verifyMax(0L)
        else throw new LockHeldException(
          s"table $tablePath is locked by another writer (lost the e0 create race)")

      case (files, Some((maxEpoch, maxPath, c))) =>
        // a lease that vanished since the read was superseded: the chain
        // moved on and verifyMax arbitrates. One whose age cannot be read
        // may be live, so it is held.
        def stale: Boolean =
          try System.currentTimeMillis() - fs.getFileStatus(maxPath).getModificationTime > staleMs
          catch {
            case _: java.io.FileNotFoundException => true
            case e: java.io.IOException => throw new LockHeldException(
              s"table $tablePath: cannot read the age of lease $maxPath ($e); treating it as held")
          }
        val takeable = isReleased(c) || c.linesIterator.contains(s"owner=$owner") || stale
        if (!takeable)
          throw new LockHeldException(
            s"table $tablePath is locked by another writer (${c.trim}); " +
              "concurrent write/compaction would corrupt the staged-swap protocol")
        testHookBeforeCreate()
        if (!EpochFiles.create(fs, path(maxEpoch + 1), lease))
          throw new LockHeldException(s"lost takeover race for $tablePath")
        val won = verifyMax(maxEpoch + 1)
        // GC: strictly-below-max epochs are settled garbage; epochs only
        // grow, so this can never delete a live lease, however delayed.
        // The superseded max itself is TOMBSTONED (rewritten released),
        // never deleted: deleting every epoch opens a race where a slow
        // second taker lists an EMPTY dir and wins a fresh e0 alongside
        // this winner's e(max+1) — two live leases (caught by the
        // contended-takeover spec under load).
        files.foreach { case (e, p) =>
          if (e < maxEpoch) EpochFiles.sweep(fs, p, "lease gc")
          else if (e == maxEpoch && !isReleased(c))
            tombstone(fs, p, s"released=true\nsuperseded-by=e${maxEpoch + 1}\n")
        }
        won
    }
  }

  /** Run `f` under the table lease, kept live by a [[Heartbeat]]; always
    * released (loudly, on failure) even when `f` throws.
    */
  def withLock[T](spark: SparkSession, tablePath: String, owner: String,
      staleMs: Long = DefaultStaleMs, waitMs: Long = 0L)(f: => T): T = {
    // bounded wait: a holder that is merely BUSY (not crashed) releases
    // well before staleMs — polling acquire lets a streaming micro-batch
    // queue behind an in-flight OPTIMIZE instead of failing the stream
    val deadline = System.currentTimeMillis() + waitMs
    // iterative (not recursive): a catch-position retry is not
    // tail-call-optimizable, and a full 10-minute wait at 200 ms polls
    // would otherwise nest ~3,000 stack frames
    def acquireWaiting(): Lease = {
      var got: Lease = null
      while (got == null) {
        try got = acquire(spark, tablePath, owner, staleMs)
        catch {
          case e: LockHeldException if System.currentTimeMillis() < deadline =>
            log.info(s"table $tablePath held; retrying acquire for " +
              s"${deadline - System.currentTimeMillis()} ms more (${e.getMessage})")
            Thread.sleep(200)
        }
      }
      got
    }
    val heartbeat = new Heartbeat(owner, staleMs)
    heartbeat.hold(tablePath, acquireWaiting())
    try f
    finally heartbeat.releaseAll()
  }
}

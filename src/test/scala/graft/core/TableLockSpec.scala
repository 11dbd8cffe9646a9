package graft.core

import graft.SparkTestBase
import org.apache.hadoop.fs.Path

class TableLockSpec extends SparkTestBase {
  import spark.implicits._

  test("second writer on a held table fails fast; release reopens it") {
    val table = s"${tmpDir("lock")}/t"
    val a = TableLock.acquire(spark, table, "pipeline-a")
    val e = intercept[TableLock.LockHeldException] {
      TableLock.acquire(spark, table, "pipeline-b")
    }
    assert(e.getMessage.contains("pipeline-a"))
    a.release()
    TableLock.acquire(spark, table, "pipeline-b").release()
  }

  test("same-owner identity retakes its own crashed lease immediately") {
    val table = s"${tmpDir("lock_reown")}/t"
    // "crash": lease never released, still fresh
    TableLock.acquire(spark, table, "stream:ckpt-A")
    // the reincarnated holder (same stable identity) gets back in at once
    val back = TableLock.acquire(spark, table, "stream:ckpt-A", staleMs = Long.MaxValue / 2)
    assert(back.owner == "stream:ckpt-A")
    // a different pipeline is still excluded
    intercept[TableLock.LockHeldException] {
      TableLock.acquire(spark, table, "stream:ckpt-B", staleMs = Long.MaxValue / 2)
    }
    back.release()
  }

  test("two batch writers on the same table name exclude each other (no same-owner bypass)") {
    // batch-writer owners are unique per invocation precisely so the
    // same-owner reacquire can never let a second pipeline with the same
    // table name steal a live lease
    val root = tmpDir("lock_two_writers")
    val hints = TableHints(tableName = "t", disposition = Disposition.Replace)
    val other = TableLock.acquire(spark, s"$root/t",
      "writer:t:00000000-aaaa-bbbb-cccc-000000000000")
    intercept[TableLock.LockHeldException] {
      TableWriter.write(spark, Seq((1L, "a")).toDF("id", "v"), root, hints)
    }
    other.release()
    TableWriter.write(spark, Seq((1L, "a")).toDF("id", "v"), root, hints)
  }

  test("stale lease is taken over; fresh lease is not") {
    val table = s"${tmpDir("lock_stale")}/t"
    val dead = TableLock.acquire(spark, table, "crashed-writer")
    // age the lease beyond staleMs without releasing it
    dead.fs.setTimes(dead.path, System.currentTimeMillis() - 60000, -1)
    val taker = TableLock.acquire(spark, table, "taker", staleMs = 1000)
    assert(taker.owner == "taker")
    taker.release()
    // a renewed (fresh) lease survives the same attempt
    val live = TableLock.acquire(spark, table, "live-writer")
    live.renew()
    intercept[TableLock.LockHeldException] {
      TableLock.acquire(spark, table, "taker2", staleMs = 60000)
    }
    live.release()
  }

  test("withLock's heartbeat keeps a slow writer alive past staleMs (no takeover)") {
    val table = s"${tmpDir("lock_heartbeat")}/t"
    @volatile var raced: Option[Boolean] = None
    val slow = new Thread(() => {
      TableLock.withLock(spark, table, "slow-writer", staleMs = 400) {
        // hold well past staleMs; the heartbeat (staleMs/3) must renew
        Thread.sleep(1600)
      }
    })
    slow.start()
    Thread.sleep(900) // lease is now older than staleMs absent renewal
    raced = Some(
      try { TableLock.acquire(spark, table, "taker", staleMs = 400); true }
      catch { case _: TableLock.LockHeldException => false })
    assert(raced.contains(false), "a heartbeat-renewed lease must not be taken over")
    slow.join(10000)
    // after the block ends the lease is gone and the table reopens
    TableLock.acquire(spark, table, "taker").release()
  }

  test("heartbeat: a failed renew is logged and the beat goes on for the other leases") {
    val root = tmpDir("lock_heartbeat_fail")
    val broken = TableLock.acquire(spark, s"$root/a", "hb-a")
    val live = TableLock.acquire(spark, s"$root/b", "hb-b")
    broken.fs.delete(broken.path, false) // every renew of it now throws
    val staleMs = 300L
    val heartbeat = new TableLock.Heartbeat("spec", staleMs)
    withWarnings { warnings =>
      try {
        heartbeat.hold("a", broken)
        heartbeat.hold("b", live)
        val t0 = System.currentTimeMillis()
        Thread.sleep(4 * staleMs)
        assert(live.fs.getFileStatus(live.path).getModificationTime >= t0,
          "the live lease must keep being renewed after its sibling's renew failed")
        assert(warnings().exists(_.contains(s"renew failed for ${broken.path}")),
          s"a failed renew must be logged; saw ${warnings().mkString(" | ")}")
      } finally heartbeat.releaseAll()
    }
    TableLock.acquire(spark, s"$root/b", "taker").release()
  }

  test("release is loud-but-safe: reports false when the lease is no longer ours") {
    val table = s"${tmpDir("lock_release")}/t"
    val a = TableLock.acquire(spark, table, "w")
    assert(a.release(), "releasing our own live lease deletes it")
    // lease already gone (e.g. stale takeover happened): release must not
    // delete anything and must report false
    val b = TableLock.acquire(spark, table, "w2")
    val c = TableLock.Lease(b.fs, b.path, "w3", "not-the-token")
    assert(!c.release(), "a lease we do not own is never deleted")
    assert(b.fs.exists(b.path), "the live holder's lease survives")
    assert(b.release())
    assert(!b.release(), "double release reports false (file already gone)")
  }

  test("contended stale takeover admits exactly one winner (epoch chain)") {
    // Takers race on the same stale lease. Takeover is an atomic create
    // of the NEXT epoch file — no rename or delete in any arbitration
    // path, and the superseded epoch is TOMBSTONED rather than deleted
    // (a delete-all GC once let a slow taker list an empty dir and win a
    // fresh e0 alongside the winner's e1 — caught here under load) — so
    // exactly one taker can ever win and no racer can destroy the
    // winner's lease. Three takers + repeats widen the race window.
    for (round <- 1 to 8) {
      val table = s"${tmpDir(s"lock_race_$round")}/t"
      val dead = TableLock.acquire(spark, table, "crashed")
      dead.fs.setTimes(dead.path, System.currentTimeMillis() - 120000, -1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 3).map { i =>
        new Thread(() => {
          gate.await()
          // staleMs far above any plausible scheduler stall: with a small
          // staleMs a taker delayed past it could LEGITIMATELY take over
          // the fresh winner (correct lock behavior, flaky test); the
          // dead lease's mtime is backdated 120 s so it stays stale
          val won =
            try { TableLock.acquire(spark, table, s"taker-$i", staleMs = 60000); true }
            catch { case _: TableLock.LockHeldException => false }
          results.add(won)
        })
      }
      threads.foreach(_.start())
      gate.countDown()
      threads.foreach(_.join(10000))
      val winners = results.toArray(Array.empty[java.lang.Boolean]).count(_.booleanValue)
      assert(winners == 1, s"round $round: expected exactly one takeover winner, got $winners")
      // and exactly one LIVE (unreleased) lease file survives the race
      val live = dead.fs.listStatus(new Path(table).getParent)
        .filter(st => st.isFile && st.getPath.getName.startsWith("t__lock.e"))
        .filter { st =>
          val in = dead.fs.open(st.getPath)
          val c = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          !c.contains("released=true")
        }
      assert(live.length == 1, s"round $round: expected one live lease, got ${live.length}")
    }
  }

  private def lockFile(table: String, e: Long): Path =
    new Path(new Path(table).getParent, new Path(table).getName + "__lock.e" + e)

  private def putLive(fs: org.apache.hadoop.fs.FileSystem, p: Path, owner: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s"owner=$owner\ntoken=${java.util.UUID.randomUUID()}\n".getBytes("UTF-8"))
    finally out.close()
  }

  test("a taker whose max-epoch file vanished mid-takeover re-derives from a fresh listing") {
    // The chain advancing past a taker's listing (superseded epochs are
    // tombstoned then GC-deleted) once let the taker treat a vanished max
    // as takeable and create maxEpoch+1 from the STALE listing — a second
    // live lease below the real holder. The agree-loop must re-list and
    // observe the real holder instead.
    val table = s"${tmpDir("lock_vanish")}/t"
    val dead = TableLock.acquire(spark, table, "crashed")        // e0, stale
    dead.fs.setTimes(dead.path, System.currentTimeMillis() - 120000, -1)
    var fired = false
    TableLock.testHookAfterList = { files =>
      if (!fired && files.nonEmpty) {
        fired = true
        // chain advances while the taker is paused: e1, e2 come and go
        // (GC'd); the real holder now sits live at e2; e0 is deleted
        dead.fs.delete(dead.path, false)
        putLive(dead.fs, lockFile(table, 2L), "real-holder")
      }
    }
    try {
      val e = intercept[TableLock.LockHeldException] {
        TableLock.acquire(spark, table, "slow-taker", staleMs = 60000)
      }
      assert(e.getMessage.contains("real-holder"),
        "the re-derived listing must surface the REAL holder, not a stale-takeover win")
      assert(!dead.fs.exists(lockFile(table, 1L)),
        "no split-brain e1 lease may be created from the stale listing")
      assert(dead.fs.exists(lockFile(table, 2L)), "the real holder's lease survives")
    } finally TableLock.testHookAfterList = _ => ()
  }

  test("a takeover create that lands below a fresher winner is detected and tombstoned") {
    // Between a taker's agreed read and its create, per-batch churn can
    // advance the chain several epochs and GC the intermediate files; the
    // taker's CREATE_NEW of maxEpoch+1 then SUCCEEDS (that epoch existed,
    // was superseded, and was deleted). Post-create verification must see
    // the higher live epoch, tombstone the orphan win, and back off.
    val table = s"${tmpDir("lock_verify")}/t"
    val dead = TableLock.acquire(spark, table, "crashed")        // e0, stale
    dead.fs.setTimes(dead.path, System.currentTimeMillis() - 120000, -1)
    var fired = false
    TableLock.testHookBeforeCreate = () => {
      if (!fired) {
        fired = true
        // chain advances e1→e2→e3 during the taker's pause; GC removes
        // e0..e2; the real holder is live at e3
        dead.fs.delete(dead.path, false)
        putLive(dead.fs, lockFile(table, 3L), "real-holder")
      }
    }
    try {
      val e = intercept[TableLock.LockHeldException] {
        TableLock.acquire(spark, table, "slow-taker", staleMs = 60000)
      }
      assert(e.getMessage.contains("superseded by e3"), e.getMessage)
      // the orphan e1 win is tombstoned, never a live second lease
      val in = dead.fs.open(lockFile(table, 1L))
      val c = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(c.contains("released=true") && c.contains("lost-verify-to=e3"), c)
      assert(dead.fs.exists(lockFile(table, 3L)), "the real holder's lease survives")
    } finally TableLock.testHookBeforeCreate = () => ()
  }

  test("verifyMax under a persistently failing listing tombstones the win and backs off") {
    // A post-create listing that THROWS must never be read as "no higher
    // epoch exists" — that degrades the split-brain guard to a no-op under
    // exactly the flaky-filesystem conditions it exists to close. The
    // taker must give up its created epoch, not proceed as holder.
    val table = s"${tmpDir("lock_verify_ioerr")}/t"
    val dead = TableLock.acquire(spark, table, "crashed")
    dead.fs.setTimes(dead.path, System.currentTimeMillis() - 120000, -1)
    TableLock.testHookVerifyList = () => throw new java.io.IOException("injected: fs flake")
    try {
      val e = intercept[TableLock.LockHeldException] {
        TableLock.acquire(spark, table, "taker", staleMs = 60000)
      }
      assert(e.getMessage.contains("could not list"), e.getMessage)
      // the created e1 is tombstoned — takeable by the next healthy taker,
      // never a live second lease
      val in = dead.fs.open(lockFile(table, 1L))
      val c = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(c.contains("released=true") && c.contains("lost-verify-listing"), c)
    } finally TableLock.testHookVerifyList = () => ()
    // once the filesystem heals, the tombstoned epoch is ordinary garbage
    // and acquire succeeds
    TableLock.acquire(spark, table, "healthy-taker", staleMs = 60000).release()
  }

  test("verifyMax retries through a transient listing failure and holds the lease") {
    val table = s"${tmpDir("lock_verify_transient")}/t"
    val dead = TableLock.acquire(spark, table, "crashed")
    dead.fs.setTimes(dead.path, System.currentTimeMillis() - 120000, -1)
    var failures = 0
    TableLock.testHookVerifyList = () =>
      if (failures < 2) { failures += 1; throw new java.io.IOException("injected: transient") }
    try {
      val taken = TableLock.acquire(spark, table, "taker", staleMs = 60000)
      assert(failures == 2, s"hook must have fired twice, fired $failures")
      assert(taken.owner == "taker")
      taken.release()
    } finally TableLock.testHookVerifyList = () => ()
  }

  test("a write cannot interleave with a compaction holding the table, and vice versa") {
    val root = tmpDir("lock_e2e")
    val hints = TableHints(tableName = "t", disposition = Disposition.Replace)
    val path = s"$root/t"
    TableWriter.write(spark, Seq((1L, "a")).toDF("id", "v"), root, hints)

    // compaction in flight (lease held) → the writer must NOT start a swap
    val compacting = TableLock.acquire(spark, path, "compaction")
    intercept[TableLock.LockHeldException] {
      TableWriter.write(spark, Seq((2L, "b")).toDF("id", "v"), root, hints)
    }
    // and the table is untouched by the refused write
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSeq == Seq(1L))
    compacting.release()

    // writer in flight → compaction must refuse
    val writing = TableLock.acquire(spark, path, "writer:t")
    intercept[TableLock.LockHeldException] {
      TableMaintenance.compact(spark, path)
    }
    writing.release()

    // both released: write and compact proceed normally
    TableWriter.write(spark, Seq((2L, "b")).toDF("id", "v"), root, hints)
    assert(spark.read.parquet(path).select("id").as[Long].collect().toSeq == Seq(2L))
    TableMaintenance.compact(spark, path)
    // no ACTIVE lease left behind: every epoch file is released-marked
    // (release rewrites rather than deletes — see TableLock's class doc)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = fs.listStatus(new Path(root))
      .filter(st => st.isFile && st.getPath.getName.startsWith("t__lock.e"))
    assert(leftover.nonEmpty)
    leftover.foreach { st =>
      val in = fs.open(st.getPath)
      val c = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      assert(c.contains("released=true"), s"${st.getPath} must be a released marker")
    }
  }

  test("a live lease whose age cannot be read is held, not taken over; a failed tombstone logs at WARN") {
    spark.sparkContext.hadoopConfiguration.set("fs.flakylease.impl", classOf[FlakyLeaseFileSystem].getName)
    val dir = tmpDir("lock_flaky_stat")
    val table = s"flakylease://$dir/t"
    def epochs: Seq[Long] = new java.io.File(dir).list().toSeq
      .filter(_.startsWith("t__lock.e")).map(_.stripPrefix("t__lock.e").toLong)
    val holder = TableLock.acquire(spark, table, "holder")
    FlakyLeaseFileSystem.failStat = true
    val e = try intercept[TableLock.LockHeldException](TableLock.acquire(spark, table, "taker"))
      finally FlakyLeaseFileSystem.failStat = false
    assert(e.getMessage.contains(s"$dir/t__lock.e0"), e.getMessage)
    assert(epochs.max == 0, s"the holder's epoch must stay the max: $epochs")
    val content = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "t__lock.e0")), "UTF-8")
    assert(!content.contains("released=true") && content.contains("owner=holder"), content)

    // once the holder is stale, a takeover wins e1; the superseded e0
    // cannot be rewritten, and that is logged with its path
    holder.fs.setTimes(holder.path, System.currentTimeMillis() - 60000, -1)
    withWarnings { warnings =>
      FlakyLeaseFileSystem.failRewrite = true
      val taker = try TableLock.acquire(spark, table, "taker", staleMs = 1000)
        finally FlakyLeaseFileSystem.failRewrite = false
      assert(taker.path.getName == "t__lock.e1")
      assert(warnings().exists(w => w.contains("lease tombstone") && w.contains(s"$dir/t__lock.e0")),
        s"a failed tombstone must be logged; saw ${warnings().mkString(" | ")}")
      assert(taker.release())
    }
  }

  test("a failing create surfaces as that I/O error naming the lease file, not as a held lock") {
    spark.sparkContext.hadoopConfiguration.set("fs.failcreate.impl", classOf[FailingCreateFileSystem].getName)
    val dir = tmpDir("lock_failcreate")
    val e = intercept[java.io.IOException](TableLock.acquire(spark, s"failcreate://$dir/t", "writer"))
    assert(e.getMessage.contains("planted create failure") && e.getMessage.contains(s"$dir/t__lock.e0"),
      e.getMessage)
  }
}

/** A local filesystem whose lease files (`*__lock.e<N>`) fail while the
  * matching flag is set: `failStat` fails reading a lease's status
  * (except the status reads `exists`, `open` and `listStatus` make
  * inside), `failRewrite` fails overwriting one. Registered under the
  * `flakylease` scheme.
  */
class FlakyLeaseFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import FlakyLeaseFileSystem._
  private val inner = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }
  private def inside[T](f: => T): T = {
    val was = inner.get
    inner.set(true)
    try f finally inner.set(was)
  }
  private def isLease(p: Path) = p.getName.contains("__lock.e")

  override def getUri: java.net.URI = java.net.URI.create("flakylease:///")
  override def exists(p: Path): Boolean = inside(super.exists(p))
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = inside(super.open(p, bufferSize))
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = inside(super.listStatus(p))
  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus =
    if (failStat && isLease(p) && !inner.get) throw new java.io.IOException(s"planted stat failure: $p")
    else super.getFileStatus(p)
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    if (failRewrite && overwrite && isLease(p)) throw new java.io.IOException(s"planted rewrite failure: $p")
    else super.create(p, overwrite, bufferSize, replication, blockSize, progress)
}

object FlakyLeaseFileSystem {
  @volatile var failStat = false
  @volatile var failRewrite = false
}

/** A local filesystem whose every create throws: a broken filesystem
  * under the lease chain. Registered under the `failcreate` scheme.
  */
class FailingCreateFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failcreate:///")
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    throw new java.io.IOException(s"planted create failure: $p")
}

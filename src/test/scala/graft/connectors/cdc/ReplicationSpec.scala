package graft.connectors.cdc

import graft.SparkTestBase
import graft.core.{StateStore, TableLock}
import java.nio.file.{Files, Paths}
import Replication._
import PgOutput._

class ReplicationSpec extends SparkTestBase {

  private val rel = RelationMeta(1001, "public", "accounts", 'd', Seq(
    ColumnMeta("id", 20, -1, isKey = true),
    ColumnMeta("name", 25, -1, isKey = false),
  ))
  private val ts0 = 1700000000000000L

  private def txn(base: Long, rows: (Long, Array[Byte])*): Seq[(Long, Array[Byte])] =
    Seq((base, Encode.begin(base + rows.size + 1, ts0, base.toInt))) ++ rows ++
      Seq((base + rows.size + 1, Encode.commit(base + rows.size + 1, base + rows.size + 2, ts0)))

  private def ins(lsn: Long, id: Long, name: String): (Long, Array[Byte]) =
    (lsn, Encode.insert(1001, Seq(Some(id.toString), Some(name))))
  private def del(lsn: Long, id: Long): (Long, Array[Byte]) =
    (lsn, Encode.delete(1001, Seq(Some(id.toString), None)))

  private def stateIn(dir: String) =
    new StateStore(java.nio.file.Files.createTempDirectory(dir).resolve("state.json"))

  test("poll rounds: peek → consume → merge → cursor commit → slot advance") {
    val waves =
      txn(100, ins(101, 1, "a"), ins(102, 2, "b")) ++
        txn(200, ins(201, 2, "b2"), del(202, 1)) ++
        txn(300, ins(301, 3, "c"))
    val source = new CannedFrameSource(Seq(Encode.relation(rel)), waves)
    val state = stateIn("repl-state")
    val dest = tmpDir("repl-dest")

    val r1 = pollOnce(spark, source, state, dest).get
    assert(r1.lastCommitLsn == 303L && r1.tables.contains("accounts"))
    val rows = spark.read.parquet(s"$dest/accounts")
      .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(2L -> "b2", 3L -> "c")) // id 1 hard-deleted, id 2 last-lsn wins
    assert(state.getLong("cdc.last_commit_lsn").contains(303L))
    assert(source.advanceCalls == 1)

    // drained slot: nothing to do, no extra advance
    assert(pollOnce(spark, source, state, dest).isEmpty)
    assert(source.advanceCalls == 1)

    // new wave arrives → next round applies on top of the stored table
    val source2 = new CannedFrameSource(Seq(Encode.relation(rel)),
      waves ++ txn(400, ins(401, 1, "back"), del(402, 3)))
    source2.advance(303L) // the real slot was flushed through round 1
    val r2 = pollOnce(spark, source2, state, dest).get
    assert(r2.lastCommitLsn == 404L)
    val rows2 = spark.read.parquet(s"$dest/accounts")
      .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2 == Map(1L -> "back", 2L -> "b2"))
  }

  test("crash between cursor commit and slot advance re-runs idempotently") {
    val waves = txn(100, ins(101, 1, "a")) ++ txn(200, ins(201, 1, "a2"))
    val source = new CannedFrameSource(Seq(Encode.relation(rel)), waves)
    val state = stateIn("repl-crash")
    val dest = tmpDir("repl-crash-dest")

    assert(pollOnce(spark, source, state, dest).isDefined)
    // simulate: a NEW txn lands, and the previous advance was lost (crash
    // after state.commit, before source.advance) — the slot re-delivers
    // everything, the cursor says 203 was done
    val replay = new CannedFrameSource(Seq(Encode.relation(rel)),
      waves ++ txn(300, ins(301, 2, "b")))
    val r = pollOnce(spark, replay, state, dest).get
    assert(r.lastCommitLsn == 303L)
    val rows = spark.read.parquet(s"$dest/accounts")
      .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // re-delivered lsn 101/201 dedup against themselves; nothing duplicates
    assert(rows == Map(1L -> "a2", 2L -> "b"))
  }

  test("pollUntilEmpty drains wave-by-wave with transaction boundaries intact") {
    val waves = (0 until 5).flatMap(i => txn(100L * (i + 1), ins(100L * (i + 1) + 1, i.toLong, s"v$i")))
    val source = new CannedFrameSource(Seq(Encode.relation(rel)), waves)
    val state = stateIn("repl-drain")
    val dest = tmpDir("repl-drain-dest")
    val rounds = pollUntilEmpty(spark, source, state, dest)
    assert(rounds.size == 1) // all pending frames fit one round
    assert(spark.read.parquet(s"$dest/accounts").count() == 5)
  }

  test("truncate with no trailing changes clears the stored table") {
    val source = new CannedFrameSource(Seq(Encode.relation(rel)),
      txn(100, ins(101, 1, "a")))
    val state = stateIn("repl-trunc")
    val dest = tmpDir("repl-trunc-dest")
    assert(pollOnce(spark, source, state, dest).isDefined)
    assert(spark.read.parquet(s"$dest/accounts").count() == 1)

    val source2 = new CannedFrameSource(Seq(Encode.relation(rel)),
      txn(100, ins(101, 1, "a")) ++
        Seq((200L, Encode.begin(202, ts0, 9)),
          (201L, Encode.truncate(Seq(1001))),
          (202L, Encode.commit(202, 203, ts0))))
    source2.advance(103)
    assert(pollOnce(spark, source2, state, dest).isDefined)
    assert(!new java.io.File(s"$dest/accounts").exists())
  }

  test("a table leased by another owner fails the poll; cursor and slot stay put") {
    val source = new CannedFrameSource(Seq(Encode.relation(rel)), txn(100, ins(101, 1, "a")))
    val state = stateIn("repl-lease")
    val dest = tmpDir("repl-lease-dest")
    val other = TableLock.acquire(spark, s"$dest/accounts", "another-writer")
    try {
      intercept[TableLock.LockHeldException](pollOnce(spark, source, state, dest))
      assert(state.getLong("cdc.last_commit_lsn").isEmpty)
      assert(source.advanceCalls == 0)
      assert(!Files.exists(Paths.get(s"$dest/accounts")))
    } finally other.release()

    // released: the same round lands
    val r = pollOnce(spark, source, state, dest).get
    assert(r.tables == Map("accounts" -> 1L) && r.lastCommitLsn == 103L)
    assert(source.advanceCalls == 1)
  }

  test("a poll that crashed between its swap's renames: the next poll keeps every row") {
    val waves = txn(100, ins(101, 1, "a"), ins(102, 2, "b"))
    val source = new CannedFrameSource(Seq(Encode.relation(rel)), waves)
    val state = stateIn("repl-swap-crash")
    val dest = tmpDir("repl-swap-crash-dest")
    assert(pollOnce(spark, source, state, dest).get.lastCommitLsn == 104L)

    // the next round moved the live table aside and died before moving its
    // replacement in: the only copy is accounts__old, the cursor is unmoved
    Files.move(Paths.get(s"$dest/accounts"), Paths.get(s"$dest/accounts__old"))
    val source2 = new CannedFrameSource(Seq(Encode.relation(rel)),
      waves ++ txn(200, ins(201, 3, "c")))
    source2.advance(104L)
    val r = pollOnce(spark, source2, state, dest).get
    assert(r.tables == Map("accounts" -> 3L) && r.lastCommitLsn == 203L)
    val rows = spark.read.parquet(s"$dest/accounts")
      .select("id", "name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(!Files.exists(Paths.get(s"$dest/accounts__old")))
  }

  test("admin DDL is idempotent: duplicate and missing objects are swallowed") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val db = new SqlExec {
      override def query(sql: String): Seq[Seq[Any]] = {
        seen += sql
        if (sql.startsWith("CREATE PUBLICATION") && seen.count(_.startsWith("CREATE PUBLICATION")) > 1)
          throw SqlError("42710", "already exists")
        if (sql.contains("pg_drop_replication_slot"))
          throw SqlError("42704", "does not exist")
        if (sql.contains("pg_create_logical_replication_slot"))
          Seq(Seq("slot1", java.lang.Long.valueOf(12345L)))
        else Nil
      }
    }
    Admin.createPublication(db, "pub1")
    Admin.createPublication(db, "pub1") // duplicate: swallowed
    Admin.addTablesToPublication(db, Seq("t1", "t2"), "public", "pub1")
    assert(Admin.createSlot(db, "slot1").contains(SlotInfo("slot1", 12345L)))
    Admin.dropSlot(db, "missing") // undefined: swallowed
    assert(seen.count(_.startsWith("ALTER PUBLICATION")) == 2)
    assert(seen.exists(_.contains("""ADD TABLE "public"."t1"""")))
  }

  test("identifier escaping and lsn hex match postgres conventions") {
    assert(escapeIdent("""we"ird""") == "\"we\"\"ird\"")
    assert(lsnToHex(0x16B374D848L) == "16/B374D848")
    assert(lsnToHex(1L) == "0/00000001")
    // round-trip through the reference's int convention: (hi << 32) | lo
    assert(lsnToHex((0xAL << 32) | 0x12345L) == "A/00012345")
  }

  test("live slot source issues peek (not get) and advances with hex lsn") {
    val frames = txn(100, ins(101, 7, "x"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val db = new SqlExec {
      override def query(sql: String): Seq[Seq[Any]] = {
        seen += sql
        if (sql.contains("MAX(lsn)")) Seq(Seq(java.lang.Long.valueOf(103L)))
        else if (sql.contains("SELECT lsn - '0/0' AS lsn, data"))
          frames.map { case (l, b) => Seq(java.lang.Long.valueOf(l), b) }
        else Nil
      }
    }
    val src = new PgSlotFrameSource(db, "slot1", "pub1")
    assert(src.peekMaxLsn().contains(103L))
    val got = src.frames(0L, 103L).toSeq
    assert(got.map(_._1) == Seq(100L, 101L, 102L))
    src.advance(103L)
    assert(seen.forall(s => !s.contains("pg_logical_slot_get_binary_changes")),
      "must peek, never destructively get")
    assert(seen.exists(s => s.contains("pg_replication_slot_advance") && s.contains("0/00000067")))
    assert(seen.forall(s => !s.contains("proto_version") || s.contains("'streaming', 'on'")))
  }
}

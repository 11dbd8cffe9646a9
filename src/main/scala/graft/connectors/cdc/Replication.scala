package graft.connectors.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{ParquetFooters, StateStore, TableWriter}

/** Live-slot wiring for pgoutput CDC: slot/publication management, the
  * peek-based polling loop, and the consume→merge→commit→advance round.
  * The decoder and batcher (PgOutput/ChangeBatch) are protocol-complete;
  * this file feeds them from a replication slot.
  *
  * Reference behavior mirrored:
  *  - `init_replication` creates publication + slot idempotently
  *    (sources/pg_replication/helpers.py:84-246);
  *  - `get_max_lsn` peeks the slot head without consuming
  *    (helpers.py:454-476);
  *  - `advance_slot` flushes only after a successful load
  *    (helpers.py:509-525) — messages are PEEKED, never destructively
  *    read, so a crash anywhere before the final advance re-runs cleanly
  *    from the committed cursor.
  *
  * Everything talks to the database through the minimal `SqlExec`
  * surface: production wires a JDBC connection (no database ships in
  * this environment, so that path is construction-only here); specs wire
  * a canned in-memory source.
  */
object Replication {

  /** Minimal SQL surface the replication wiring needs. */
  trait SqlExec extends AutoCloseable {
    /** Run a query, return rows of column values. */
    def query(sql: String): Seq[Seq[Any]]
    /** Stream a query's rows without materializing them all. The default
      * materializes (fine for canned stubs); JDBC backends override with
      * a cursor-backed iterator so a large CDC backlog never has to fit
      * in driver memory.
      */
    def queryStream(sql: String): Iterator[Seq[Any]] = query(sql).iterator
    /** Run a statement for effect. Implementations surface database
      * errors as `SqlError` with the SQLSTATE so idempotent DDL can
      * swallow duplicate/missing-object errors exactly like the
      * reference swallows psycopg2.errors.DuplicateObject.
      */
    def execute(sql: String): Unit = { query(sql); () }
    override def close(): Unit = ()
  }

  final case class SqlError(sqlState: String, message: String)
      extends RuntimeException(s"[$sqlState] $message")

  private val DuplicateObject = "42710"
  private val UndefinedObject = "42704"

  /** JDBC-backed executor (java.sql ships with the JDK; the driver is
    * provided by the deployment, exactly as for JdbcSource).
    */
  final class JdbcExec(url: String, props: java.util.Properties) extends SqlExec {
    private lazy val conn = java.sql.DriverManager.getConnection(url, props)
    override def query(sql: String): Seq[Seq[Any]] = {
      val st = conn.createStatement()
      try {
        if (st.execute(sql)) {
          val rs = st.getResultSet
          val n = rs.getMetaData.getColumnCount
          val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
          while (rs.next()) out += (1 to n).map(rs.getObject)
          out.toSeq
        } else Nil
      } catch {
        case e: java.sql.SQLException =>
          throw SqlError(Option(e.getSQLState).getOrElse(""), e.getMessage)
      } finally st.close()
    }
    /** Cursor-backed row stream: rows surface as the ResultSet advances
      * (fetchSize-batched), and the statement closes at exhaustion. The
      * poll loop always drains to `upto`, so the terminal close runs.
      */
    override def queryStream(sql: String): Iterator[Seq[Any]] = {
      val st = conn.createStatement()
      try {
        st.setFetchSize(10000)
        if (!st.execute(sql)) { st.close(); return Iterator.empty }
        val rs = st.getResultSet
        val n = rs.getMetaData.getColumnCount
        new Iterator[Seq[Any]] {
          private var advanced = false
          private var has = false
          private def advance(): Unit = if (!advanced) {
            try {
              has = rs.next()
              if (!has) st.close()
            } catch {
              case e: java.sql.SQLException =>
                st.close()
                throw SqlError(Option(e.getSQLState).getOrElse(""), e.getMessage)
            }
            advanced = true
          }
          override def hasNext: Boolean = { advance(); has }
          override def next(): Seq[Any] = {
            advance()
            if (!has) throw new NoSuchElementException
            advanced = false
            (1 to n).map(rs.getObject)
          }
        }
      } catch {
        case e: java.sql.SQLException =>
          st.close()
          throw SqlError(Option(e.getSQLState).getOrElse(""), e.getMessage)
      }
    }
    override def close(): Unit = conn.close()
  }

  def escapeIdent(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
  private def qualified(schema: String, table: String): String =
    escapeIdent(schema) + "." + escapeIdent(table)
  /** Single-quoted literal (slot names travel as literals, not idents). */
  private def lit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Integer LSN → postgres hex representation (helpers.py:503-507). */
  def lsnToHex(lsn: Long): String =
    f"${(lsn >>> 32) & 0xffffffffL}%X/${lsn & 0xffffffffL}%08X"

  final case class SlotInfo(slotName: String, consistentPoint: Long)

  /** Idempotent slot/publication DDL (init_replication, helpers.py:84-246). */
  object Admin {

    /** CREATE PUBLICATION unless it already exists (publish controls which
      * DML ops replicate; truncate is decoded but reference publications
      * default to insert/update/delete).
      */
    def createPublication(db: SqlExec, name: String,
        publish: String = "insert, update, delete"): Unit =
      swallow(DuplicateObject) {
        db.execute(s"CREATE PUBLICATION ${escapeIdent(name)} WITH (publish = ${lit(publish)});")
      }

    def addTableToPublication(db: SqlExec, table: String, schema: String, pub: String): Unit =
      swallow(DuplicateObject) {
        db.execute(s"ALTER PUBLICATION ${escapeIdent(pub)} ADD TABLE ${qualified(schema, table)};")
      }

    def addTablesToPublication(db: SqlExec, tables: Seq[String], schema: String, pub: String): Unit =
      tables.foreach(addTableToPublication(db, _, schema, pub))

    /** Whole-schema publication (requires PG >= 15, helpers.py:331-359). */
    def addSchemaToPublication(db: SqlExec, schema: String, pub: String): Unit =
      swallow(DuplicateObject) {
        db.execute(s"ALTER PUBLICATION ${escapeIdent(pub)} ADD TABLES IN SCHEMA ${escapeIdent(schema)};")
      }

    /** Create the logical slot; None if it already existed. For the
      * snapshot-bootstrap handoff (ChangeBatch.snapshotBoundary) pair this
      * with `pg_export_snapshot()` inside the same repeatable-read
      * transaction — the replication-protocol CREATE_REPLICATION_SLOT
      * command the reference uses returns the snapshot name directly,
      * the SQL-function path does not.
      */
    def createSlot(db: SqlExec, name: String,
        outputPlugin: String = "pgoutput"): Option[SlotInfo] =
      try {
        val rows = db.query(
          s"SELECT slot_name, lsn - '0/0' " +
            s"FROM pg_create_logical_replication_slot(${lit(name)}, ${lit(outputPlugin)});")
        rows.headOption.map(r => SlotInfo(r.head.toString, r(1).toString.toLong))
      } catch { case SqlError(DuplicateObject, _) => None }

    def dropSlot(db: SqlExec, name: String): Unit =
      swallow(UndefinedObject) {
        db.execute(s"SELECT pg_drop_replication_slot(${lit(name)});")
      }

    def dropPublication(db: SqlExec, name: String): Unit =
      swallow(UndefinedObject) {
        db.execute(s"DROP PUBLICATION ${escapeIdent(name)};")
      }

    /** Primary-key columns of a table (helpers.py:563-585). */
    def primaryKey(db: SqlExec, table: String, schema: String): Seq[String] =
      db.query(
        s"""SELECT a.attname
           |FROM pg_index i
           |JOIN pg_attribute a ON a.attrelid = i.indrelid AND a.attnum = ANY(i.indkey)
           |WHERE i.indrelid = ${lit(qualified(schema, table))}::regclass AND i.indisprimary;"""
          .stripMargin).map(_.head.toString)

    private def swallow(state: String)(body: => Unit): Unit =
      try body catch { case SqlError(`state`, _) => () }
  }

  /** A pollable source of (lsn, pgoutput frame) pairs. */
  trait FrameSource {
    /** Highest LSN currently in the slot, None when empty — a peek, the
      * slot is not consumed (get_max_lsn, helpers.py:454-476).
      */
    def peekMaxLsn(): Option[Long]
    /** Frames with `startLsn < lsn <= uptoLsn`, plus any schema
      * (Relation/Type) frames needed to decode them — pgoutput re-sends
      * Relation messages per session, so a restarted reader always sees
      * the metadata before the first DML.
      */
    def frames(startLsn: Long, uptoLsn: Long): Iterator[(Long, Array[Byte])]
    /** Flush the slot through `uptoLsn` — called only after the load and
      * state commit succeeded (advance_slot, helpers.py:509-525).
      */
    def advance(uptoLsn: Long): Unit
  }

  /** Live slot over SQL: peek with pg_logical_slot_peek_binary_changes,
    * flush with pg_replication_slot_advance.
    */
  final class PgSlotFrameSource(
      db: SqlExec,
      slotName: String,
      pubName: String,
      protoVersion: Int = 2,
  ) extends FrameSource {
    private def options: String = {
      val base = s"'proto_version', '$protoVersion', 'publication_names', ${lit(pubName)}"
      if (protoVersion >= 2) base + ", 'streaming', 'on'" else base
    }

    override def peekMaxLsn(): Option[Long] =
      db.query(
        s"SELECT MAX(lsn) - '0/0' AS max_lsn " +
          s"FROM pg_logical_slot_peek_binary_changes(${lit(slotName)}, NULL, NULL, $options);")
        .headOption.flatMap(r => Option(r.head)).map(_.toString.toLong)

    /** All pending frames up to `uptoLsn`. The peek starts at the slot's
      * confirmed-flush position; `startLsn` (the committed cursor) can sit
      * above it only after a crash between cursor commit and slot advance,
      * in which case the sub-cursor DML is re-delivered on purpose — the
      * lsn-deduped merge makes re-application a no-op, and filtering it
      * here would also drop the Relation frames needed to decode the rest.
      */
    override def frames(startLsn: Long, uptoLsn: Long): Iterator[(Long, Array[Byte])] =
      db.queryStream(
        s"SELECT lsn - '0/0' AS lsn, data " +
          s"FROM pg_logical_slot_peek_binary_changes(${lit(slotName)}, NULL, NULL, $options) " +
          s"WHERE lsn - '0/0' <= $uptoLsn;")
        .map(r => (r.head.toString.toLong, r(1).asInstanceOf[Array[Byte]]))

    override def advance(uptoLsn: Long): Unit =
      if (uptoLsn != 0)
        db.execute(
          s"SELECT pg_replication_slot_advance(${lit(slotName)}, '${lsnToHex(uptoLsn)}');")
  }

  /** Canned in-memory slot for specs and contract queries: behaves like a
    * real slot — peek does not consume, advance flushes, and schema
    * frames are re-delivered on every read session.
    */
  final class CannedFrameSource(
      metadata: Seq[Array[Byte]],
      dataFrames: Seq[(Long, Array[Byte])],
  ) extends FrameSource {
    private var flushedLsn = 0L
    var advanceCalls: Int = 0

    private def pending = dataFrames.filter(_._1 > flushedLsn)

    override def peekMaxLsn(): Option[Long] = {
      val p = pending
      if (p.isEmpty) None else Some(p.map(_._1).max)
    }

    override def frames(startLsn: Long, uptoLsn: Long): Iterator[(Long, Array[Byte])] =
      (metadata.map(m => (0L, m)) ++
        pending.filter { case (l, _) => l > startLsn && l <= uptoLsn }).iterator

    override def advance(uptoLsn: Long): Unit = {
      advanceCalls += 1
      flushedLsn = math.max(flushedLsn, uptoLsn)
    }
  }

  final case class PollResult(
      tables: Map[String, Long],
      lastCommitLsn: Long,
  )

  /** One poll round: peek the slot head, consume completed transactions
    * from the committed cursor, merge each relation into its parquet
    * table under `destRoot`, commit the cursor, then advance the slot.
    * Ordering is the crash-safety contract: frames are only peeked, the
    * cursor commits before the slot advances, so a crash at any point
    * re-runs from consistent state (at-least-once into an idempotent
    * lsn-deduped merge = exactly-once tables). Each table is rewritten
    * through [[TableWriter.rewrite]]: under the table's lease (a held
    * lease fails the round before the cursor moves) and after the staged
    * swap's repair, so a round that crashed between the swap's renames
    * re-applies its batch on top of the restored table.
    *
    * Returns None when the slot has nothing past the cursor.
    */
  def pollOnce(
      spark: SparkSession,
      source: FrameSource,
      state: StateStore,
      destRoot: String,
      stateKey: String = "cdc.last_commit_lsn",
  ): Option[PollResult] = {
    val upto = source.peekMaxLsn() match {
      case Some(l) => l
      case None    => return None
    }
    val start = state.getLong(stateKey).getOrElse(0L)
    if (upto <= start) return None

    val res = ChangeBatch.consume(source.frames(start, upto), targetBatchSize = Int.MaxValue)
    val commitLsn = res.lastCommitLsn.getOrElse(return None)

    // a truncate with no later changes in the batch still drops the table
    res.truncatedRelations.filterNot(res.batch.byRelation.contains).foreach { table =>
      TableWriter.rewrite(spark, s"$destRoot/$table")(_ => None)
    }

    val counts = res.batch.byRelation.map { case (table, changes) =>
      val rel = changes.head.relation
      val typed = ChangeBatch.toTypedDf(
        ChangeBatch.changeRows(spark, rel, changes), rel)
      val truncated = res.truncatedRelations.contains(table)
      val dest = s"$destRoot/$table"
      TableWriter.rewrite(spark, dest) { base =>
        Some(ChangeBatch.applyChanges(if (truncated) None else base, typed, rel))
      }
      table -> ParquetFooters.rowCount(spark, dest)
    }

    state.put(stateKey, commitLsn)
    state.commit()
    source.advance(commitLsn)
    Some(PollResult(counts, commitLsn))
  }

  /** Drain the slot: poll until a round finds nothing new. */
  def pollUntilEmpty(
      spark: SparkSession,
      source: FrameSource,
      state: StateStore,
      destRoot: String,
      maxRounds: Int = 1000,
  ): Seq[PollResult] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[PollResult]
    var i = 0
    var continue = true
    while (continue && i < maxRounds) {
      pollOnce(spark, source, state, destRoot) match {
        case Some(r) => out += r
        case None    => continue = false
      }
      i += 1
    }
    out.toSeq
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** All-or-nothing multi-table commit — closes the one crash window the
  * per-table staged swap leaves open: a run loading N tables swaps each
  * individually, so a crash BETWEEN two swaps exposes table A's new data
  * next to table B's old data until the re-run (recovery relied on merge
  * idempotence; SURVEY §7.4 hard part 4, the reference's
  * commit-on-success contract at sources/chess/__init__.py:96-97 commits
  * state once after ALL loads).
  *
  * Discipline is the [[graft.ops.UrlFrontier]] pattern generalized to
  * tables: every table's new content LANDS FIRST in a fresh monotonic
  * generation dir (`<root>/<table>/g<N>` — never read by anyone until
  * referenced), and ONE manifest commit LAST (`<root>/_manifest.json`,
  * [[StateStore]]'s write-temp + atomic-move) flips every table's
  * committed generation list together. A crash anywhere before the
  * commit leaves only orphan dirs no reader ever resolves; after it,
  * every table is new. Readers go through [[TableManifest.read]] — the
  * manifest, not a directory glob, is the table.
  *
  * Per table the manifest holds three things, flipped together by that
  * one write: the committed generation list, each generation's row
  * count and the table's schema (every field nullable, as a parquet read
  * returns it). Reads and lands resolve a table from them alone — no
  * footer merge, no count job.
  *
  * Generation lists let append stay O(batch): an append lands a DELTA
  * dir and the new list is `old :+ delta`; merge/replace/scd2 land a
  * full rewrite and the list shrinks to one entry. Unreferenced dirs
  * (crash orphans, superseded generations) are swept PER TABLE at the
  * next publish's first land into that table, under the table's lease —
  * a full publish interval of reader grace (the frontier's compaction
  * sweep policy), and never a concurrent publisher's uncommitted
  * landings (its tables are leased).
  */
final class TableManifest(spark: SparkSession, root: String) {
  import TableManifest._

  // the manifest file rides java.nio atomic-rename and the generation
  // dirs ride Hadoop FileSystem — on a non-local root (hdfs://, s3a://)
  // those would silently split state, and object stores don't give the
  // atomic rename the commit guarantee rests on. Refuse loudly.
  private val rootUri = new org.apache.hadoop.fs.Path(root).toUri
  require(rootUri.getScheme == null || rootUri.getScheme == "file",
    s"manifestCommit supports local filesystem roots only (got '$root'): the atomic " +
      "manifest flip is a local rename — use TableWriter (per-table staged swap) for remote roots")
  private val localRoot =
    if (rootUri.getScheme == null) root else java.nio.file.Paths.get(rootUri).toString

  private val state = new StateStore(java.nio.file.Paths.get(localRoot, "_manifest.json"))

  /** Every touch of the SHARED StateStore serializes on this monitor —
    * two in-flight [[Publish]] objects from one TableManifest instance
    * share `state`, and without the monitor publish B's lease-time
    * `rollback()` could interleave publish A's commit overlay (rollback +
    * putList + commit run under the `_manifest` FILE lock, but that lock
    * only excludes other processes' stores, not this JVM object's other
    * users), wiping A's staged lists before A writes them. The monitor
    * holds for microseconds (map reads, one JSON read/write); lock order
    * is always TableLock -> stateLock, never the reverse, so it cannot
    * deadlock against the file leases.
    */
  private val stateLock = new Object

  /** Tables with a committed generation list. */
  def tables: Seq[String] = stateLock.synchronized {
    state.keys.filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix))
  }

  /** Committed generation dirs of one table (empty = table unknown). */
  def gens(name: String): Seq[String] = stateLock.synchronized(state.getList(Prefix + name))

  /** One table's committed state, all from ONE manifest snapshot so a
    * reader never pairs one commit's list with another's schema. A
    * manifest written before counts or schemas were recorded derives
    * what it lacks from the committed dirs — footer counts, a
    * mergeSchema read — and the table's next land records both.
    */
  private def snapshot(name: String): Option[TableState] = {
    val (gs, cs, schema) = stateLock.synchronized(
      (state.getList(Prefix + name), state.getList(CountsPrefix + name), state.getString(SchemaPrefix + name)))
    if (gs.isEmpty) None
    else {
      val dirs = gs.map(g => s"$root/$name/$g")
      val counts =
        if (cs.size == gs.size && cs.forall(c => c.nonEmpty && c.forall(_.isDigit))) cs.map(_.toLong)
        else dirs.map(ParquetFooters.rowCount(spark, _))
      Some(TableState(gs, counts, schema.map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(spark.read.option("mergeSchema", "true").parquet(dirs: _*).schema)))
    }
  }

  /** A table state's rows: its generation dirs read with its recorded
    * schema. No schema discovery, so no Spark job before the caller's
    * action; an older generation lacking a column an append added reads
    * it as null.
    */
  private def load(name: String, t: TableState): DataFrame =
    spark.read.schema(t.schema).parquet(t.gens.map(g => s"$root/$name/$g"): _*)

  /** The committed table, resolved THROUGH the manifest: its committed
    * generations read with the schema recorded at their commit.
    */
  def read(name: String): Option[DataFrame] = snapshot(name).map(load(name, _))

  /** One all-or-nothing publish cycle over any number of tables. Callers
    * [[Publish.land]] each table's updates (any disposition) as the run
    * progresses, then [[Publish.commit]] once — the single point where ANY
    * of it becomes visible.
    *
    * THREADS: lands into different tables run concurrently; lands into
    * one table run one at a time, each holding that table's monitor from
    * its lease through its recorded pending state. The publish's own
    * monitor guards only the pending states and the committed flag, so a
    * land that finds the publish committed (at its lease or when it
    * records) fails, and [[commit]] flips whatever landed before it.
    *
    * CONCURRENCY (per-table, not per-root): the first land into a table
    * takes that TABLE's lease (`<root>/<table>__lock.e<N>`), held through
    * commit — so two pipelines landing DISJOINT tables under one root run
    * fully concurrently, while a second writer touching the SAME table
    * fails fast with LockHeldException at its first land (lands are
    * read-modify-write of that table's generation list). The shared
    * manifest file itself is flipped inside a millisecond-scale critical
    * section (`<root>/_manifest__lock`): re-read the on-disk manifest,
    * overlay ONLY this publish's tables, one atomic write — so commits of
    * disjoint publishes serialize for the flip, not for the run, and
    * neither can lose the other's tables. Overlapping table sets landed
    * in opposite orders cannot deadlock: lease acquisition is fail-fast,
    * so one writer errors instead of waiting.
    */
  final class Publish private[TableManifest] (owner: String) {
    // guarded by this publish's monitor: table -> the state to commit
    // (replaces the committed one), the order the manifest lists new
    // tables in, and whether the commit ran
    private val pending = scala.collection.mutable.HashMap.empty[String, TableState]
    private val order = scala.collection.mutable.LinkedHashSet.empty[String]
    private var committed = false
    // table -> the monitor its lands hold, one land into a table at a time
    private val tableMonitors = scala.collection.mutable.HashMap.empty[String, Object]
    // table -> its lease, first land through commit/abort, kept live: a
    // publish is often data-dependent-long (a big merge rewrite) and must
    // not be exposed to stale takeover mid-landing
    private val leases = new TableLock.Heartbeat(s"manifest-publish:$owner", TableLock.DefaultStaleMs)

    private def pendingOf(name: String): Option[TableState] = synchronized(pending.get(name))

    private def monitor(name: String): Object = synchronized(tableMonitors.getOrElseUpdate(name, new Object))

    /** Fix the order in which [[commit]] lists `tables` in the manifest
      * (tables landed without a reservation follow in land order). A
      * caller landing several tables concurrently reserves them first, so
      * the manifest file does not depend on which land finished first.
      */
    def reserve(tables: Seq[String]): Unit = synchronized(tables.foreach(order += Naming.normalize(_)))

    /** First touch of a table in this publish: take the table lease, then
      * refresh the committed view from disk (under OUR lease this table's
      * committed list is now stable — only lease holders change it) and
      * sweep the table's crash orphans before their numbers can be
      * re-minted (the frontier's entry-sweep rule, now per table so it
      * can never delete a CONCURRENT publisher's uncommitted landings —
      * those sit under tables whose leases the other writer holds). A
      * lease taken after the commit released its leases is given back.
      */
    private def leaseTable(name: String): Unit = if (!leases.holds(name)) {
      val lease = TableLock.acquire(spark, s"$localRoot/$name", s"manifest-publish:$owner")
      synchronized {
        if (committed) lease.release()
        require(!committed, "publish already committed")
        leases.hold(name, lease)
      }
      stateLock.synchronized(state.rollback())
      sweepTable(name)
    }

    private def sweepTable(table: String): Unit = {
      val dir = new org.apache.hadoop.fs.Path(s"$root/$table")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) return
      val keep = (gens(table) ++ pendingOf(table).fold(Seq.empty[String])(_.gens)).toSet
      fs.listStatus(dir).filter(_.isDirectory).foreach { g =>
        val gen = g.getPath.getName
        if (gen.matches("^g[0-9]+$") && !keep.contains(gen)) fs.delete(g.getPath, true)
      }
    }

    /** Release every table lease WITHOUT committing — the failed run's
      * landed dirs become orphans the next lease holder sweeps. No-op
      * after commit (which releases on its own).
      */
    def abort(): Unit = synchronized { if (!committed) leases.releaseAll() }

    /** The table's CURRENT state: landed in this publish, else committed. */
    private def current(name: String): Option[TableState] =
      pendingOf(name).orElse(snapshot(name))

    private def nextGen(name: String): String = {
      val nums = (gens(name) ++ pendingOf(name).fold(Seq.empty[String])(_.gens))
        .map(g => g.stripPrefix("g").toLong)
      s"g${if (nums.isEmpty) 1L else nums.max + 1L}"
    }

    /** Land one table's updates under its disposition
      * ([[MergeEngine.landing]]): a delta lands as a new generation that
      * JOINS the table's list (O(batch)), a rewrite as a generation that
      * replaces it. Nothing becomes reader-visible until [[commit]].
      * Returns the table's row count as of this landing (committed +
      * pending content). The current content is read with its recorded
      * schema and the new generation's count comes from parquet footer
      * metadata, so an append runs one Spark job (its write) however
      * many generations the table has accumulated.
      *
      * Thread-safe: lands into different tables overlap; a land into a
      * table waits for an earlier land into the same table, holding the
      * table's monitor from its lease to its recorded pending state. A
      * land that finds the publish committed fails.
      */
    def land(updates: DataFrame, hints: TableHints): Long = {
      synchronized(require(!committed, "publish already committed"))
      require(hints.bucketCount.isEmpty,
        "bucketed merge commits per-bucket in place and cannot ride a manifest publish — " +
          "use bucketCount = None for manifest-committed tables")
      val name = Naming.normalize(hints.tableName)
      // NO wall-clock default here: a manifest-committed scd2 table
      // must be byte-identical when re-run from the same inputs
      require(hints.disposition != Disposition.Scd2 || hints.scd2LoadTs.isDefined,
        s"manifest-committed scd2 table '$name' requires hints.scd2LoadTs — a " +
          "wall-clock default would make identical runs land different valid_from stamps")
      monitor(name).synchronized {
        leaseTable(name)
        val gen = nextGen(name)
        val genPath = s"$root/$name/$gen"
        // overwrite: a crashed publish's orphan with the same number was
        // swept at cycle start, but a racing retry inside one JVM could
        // still leave one — committed generations are never re-targeted
        val base = current(name)
        // a delta's rows are aligned to the append's merged target, so its
        // schema is the whole table's; a rewrite's is the new table's
        val landed = MergeEngine.landing(base.map(load(name, _)), updates, hints) match {
          case Landing.Delta(rows) =>
            rows.write.mode("overwrite").parquet(genPath)
            TableState(base.fold(Seq.empty[String])(_.gens) :+ gen,
              base.fold(Seq.empty[Long])(_.counts) :+ ParquetFooters.rowCount(spark, genPath),
              nullable(rows.schema))
          case Landing.Rewrite(table) =>
            table.write.mode("overwrite").parquet(genPath)
            TableState(Seq(gen), Seq(ParquetFooters.rowCount(spark, genPath)), nullable(table.schema))
        }
        synchronized {
          require(!committed, "publish already committed")
          pending(name) = landed
          order += name
        }
        landed.counts.sum
      }
    }

    /** Flip every landed table's committed pointer in ONE atomic manifest
      * write. Before this call, readers see the previous state of EVERY
      * table; after it, the new state of every table. Per-generation row
      * counts and the table schema commit alongside the lists, so later
      * reads and publishes never re-derive them.
      *
      * The flip runs inside the root's `_manifest` critical section:
      * re-read the on-disk manifest (a concurrent DISJOINT publish may
      * have committed since we last read), overlay only THIS publish's
      * tables, write once — a read-merge-write that would otherwise lose
      * the other writer's tables to last-write-wins. The section is
      * milliseconds (one JSON read + write), so contenders poll-wait
      * rather than fail: the 60 s bound is ~4 orders of magnitude above
      * the section's cost and exists only to surface a wedged filesystem
      * loudly.
      */
    def commit(): Unit = synchronized {
      require(!committed, "publish already committed")
      TableLock.withLock(spark, s"$localRoot/_manifest",
        s"manifest-commit:$owner", waitMs = 60000L) {
        stateLock.synchronized {
          state.rollback()
          order.foreach(name => pending.get(name).foreach { t =>
            state.putList(Prefix + name, t.gens)
            state.putList(CountsPrefix + name, t.counts.map(_.toString))
            state.put(SchemaPrefix + name, t.schema.json)
          })
          state.commit()
        }
      }
      committed = true
      leases.releaseAll()
    }
  }

  /** Start a publish cycle. Re-reads the on-disk committed manifest
    * FIRST: a long-lived Pipeline alternating with another writer
    * process would otherwise sweep the other writer's committed
    * generation dirs (absent from its stale cached lists) and commit
    * stale lists over theirs — silent data loss. (Each table's view is
    * re-read AGAIN under its lease at first land, and the whole manifest
    * once more inside the commit critical section — this early read just
    * keeps [[Publish]] helpers honest between those points.)
    */
  def publish(): Publish = {
    stateLock.synchronized(state.rollback())
    new Publish(java.util.UUID.randomUUID().toString.take(8))
  }
}

object TableManifest {
  private val Prefix = "tables."
  private val CountsPrefix = "rowcounts."
  private val SchemaPrefix = "schemas."

  /** One table as the manifest records it: generation dirs, their row
    * counts (aligned) and the schema every generation is read with.
    */
  private final case class TableState(gens: Seq[String], counts: Seq[Long], schema: StructType)

  /** `s` with every field, element and value nullable — the schema a
    * parquet read returns for data written as `s`.
    */
  private def nullable(s: StructType): StructType = {
    def of(dt: DataType): DataType = dt match {
      case st: StructType => nullable(st)
      case a: ArrayType   => ArrayType(of(a.elementType), containsNull = true)
      case m: MapType     => MapType(of(m.keyType), of(m.valueType), valueContainsNull = true)
      case other          => other
    }
    StructType(s.fields.map(f => f.copy(dataType = of(f.dataType), nullable = true)))
  }
}

/** Row counts from parquet FOOTER metadata — driver-side metadata reads,
  * ZERO Spark jobs. Shared by the manifest land path (its O(1)-jobs
  * guarantee: a per-generation scan cost G jobs per land, O(G²) per run
  * across appends), the pipeline's non-manifest LoadResult counting and
  * the CDC poll round's per-table counts, which each paid a full-table
  * scan job per table just to report a row count. File count per table
  * dir is bounded by the write's own partitioning, so the listing stays
  * a cheap driver read at scale.
  */
private[graft] object ParquetFooters {
  def rowCount(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    // recurse into partition subdirs (bucketed tables land _bucket=N/
    // dirs); skip hidden/marker paths by Spark's own convention — a
    // leading '_' or '.' is hidden unless it's a partition dir ("=")
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if ((n.startsWith("_") || n.startsWith(".")) && !n.contains("=")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val files = walk(root)
    // a table dir that was just written should hold at least one parquet
    // file — the old scan path failed loudly on a missing/misrouted
    // table, so don't let that failure class silently become rows=0
    if (files.isEmpty)
      System.err.println(s"[graft] ParquetFooters: no parquet files under $dir — " +
        "reporting rows=0 (misrouted or failed write?)")
    files.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.jdk.CollectionConverters._

/** All-or-nothing multi-table commit — closes the one crash window the
  * per-table staged swap leaves open: a run loading N tables swaps each
  * individually, so a crash BETWEEN two swaps exposes table A's new data
  * next to table B's old data until the re-run (recovery relied on merge
  * idempotence; SURVEY §7.4 hard part 4, the reference's
  * commit-on-success contract at sources/chess/__init__.py:96-97 commits
  * state once after ALL loads).
  *
  * Discipline: every table's new content LANDS FIRST in a fresh
  * monotonic generation dir (`<root>/<table>/g<N>` — never read by
  * anyone until referenced), and ONE commit LAST — creating the next
  * immutable epoch file `<root>/_manifest.e<N>` if absent, Delta Lake's
  * put-if-absent log — flips every table's committed generation list
  * together. A crash anywhere before the commit leaves only orphan dirs
  * no reader ever resolves; after it, every table is new. Readers go through
  * [[TableManifest.read]] — the manifest, not a directory glob, is the
  * table — and every read and land resolves the newest epoch from disk,
  * so each sees every commit, whoever made it (a root holding only a
  * `_manifest.json`, written before epochs, reads it as epoch 0).
  * Its writers: `Pipeline(manifestCommit = true)`,
  * [[graft.streaming.StreamingDedupSink]], [[graft.ops.UrlFrontier]],
  * [[graft.streaming.StreamingSpanDedup]]'s gram index and
  * [[graft.streaming.StreamingRetrieval]]'s growing IVF index.
  *
  * Per table an epoch holds the committed generation list, each
  * generation's row count and the table's schema (every field nullable,
  * as a parquet read returns it). Reads and lands resolve a table from
  * them alone — no footer merge, no count job.
  *
  * Generation lists let append stay O(batch): an append lands a DELTA
  * dir and the new list is `old :+ delta`; merge/replace/scd2 land a
  * full rewrite and the list shrinks to one entry. A list never holds
  * more than [[TableManifest.MaxGenerations]]: a delta that would pass
  * it lands merged with at most [[TableManifest.MaxMergedGenerations]]
  * of the newest small generations ([[Publish.land]]), so reads open a
  * bounded number of generations however long a backfill appends.
  * Unreferenced dirs are swept PER TABLE at a publish's first touch of
  * that table, under the table's lease, so never a concurrent
  * publisher's uncommitted landings (its tables are leased). One grace
  * rule: a commit stamps the mtime of every generation it drops from a
  * list (rewritten, merged or optimized away), and the sweep deletes it
  * once that mtime is [[Generations.GraceMs]] old, so a reader that
  * resolved the table before the commit keeps its files that long
  * whatever the publish rate. Crash orphans (numbered above every
  * committed generation) go at once.
  */
final class TableManifest(spark: SparkSession, root: String) {
  import TableManifest._

  // an epoch is published by a no-replace hard link (EpochFiles.link),
  // which only the local filesystem offers: refuse other roots loudly
  private val rootUri = new Path(root).toUri
  require(rootUri.getScheme == null || rootUri.getScheme == "file",
    s"manifestCommit supports local filesystem roots only (got '$root'): an epoch is " +
      "published by a local hard link — use TableWriter (per-table staged swap) for remote roots")
  private val localRoot =
    if (rootUri.getScheme == null) root else java.nio.file.Paths.get(rootUri).toString
  private val dir = new Path(new java.io.File(localRoot).toURI)
  private def fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The newest committed epoch (an empty root: an empty epoch 0). One
    * swept between the listing and its read was superseded twice since:
    * list again.
    */
  @annotation.tailrec
  private def newest(attempt: Int = 1): Epoch = {
    val top = EpochFiles.list(fs, dir, EpochPrefix).maxByOption(_._1)
    val file = top.fold(java.nio.file.Paths.get(localRoot, LegacyFile))(e => EpochFiles.nio(e._2.getPath))
    val doc = try Some(mapper.readTree(java.nio.file.Files.readAllBytes(file)).asInstanceOf[ObjectNode])
      catch { case _: java.nio.file.NoSuchFileException => None }
    if (doc.isDefined || (top.isEmpty && attempt > 1)) Epoch(top.fold(0L)(_._1), doc.getOrElse(mapper.createObjectNode()))
    else if (attempt < 50) newest(attempt + 1)
    else throw new IllegalStateException(s"manifest $root: commits outpace reading the newest epoch")
  }

  /** Tables with a committed generation list. */
  def tables: Seq[String] = newest().doc.fieldNames().asScala.toSeq
    .filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix))

  /** Committed generation dirs of one table (empty = table unknown). */
  def gens(name: String): Seq[String] = newest().list(Prefix + name)

  /** One table's committed state in epoch `e`, so a reader never pairs
    * one commit's list with another's schema. A manifest written before
    * counts or schemas were recorded derives what it lacks from the
    * committed dirs — footer counts, a mergeSchema read — and the
    * table's next land records both.
    */
  private def snapshot(name: String, e: Epoch = newest()): Option[TableState] = {
    val (gs, cs, schema) = (e.list(Prefix + name), e.list(CountsPrefix + name), e.text(SchemaPrefix + name))
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

  /** The committed table, resolved THROUGH the manifest: the newest
    * epoch's generations read with the schema recorded at their commit.
    */
  def read(name: String): Option[DataFrame] = readAll(Seq(name)).head

  /** Several committed tables, all resolved from ONE epoch: an unleased
    * reader of tables one publish flips together (an index's vectors and
    * the centroids they are assigned under) never pairs two commits.
    */
  def readAll(names: Seq[String]): Seq[Option[DataFrame]] = {
    val e = newest()
    names.map(name => snapshot(name, e).map(load(name, _)))
  }

  /** One all-or-nothing publish cycle over any number of tables. Callers
    * [[Publish.read]] and [[Publish.land]] each table (any disposition) as
    * the run progresses, then [[Publish.commit]] once — the single point
    * where ANY of it becomes visible.
    *
    * The first read or land of a table takes that TABLE's lease
    * (`<root>/<table>__lock.e<N>`), held through commit: publishes of
    * DISJOINT tables under one root run concurrently, and a second writer
    * of the SAME table fails fast with LockHeldException at its first
    * touch (lease acquisition never waits, so opposite land orders cannot
    * deadlock). The leases are owned by the publish's writer identity, so
    * a writer whose identity outlives its process (a streaming query's
    * checkpoint) retakes the leases its crashed run left at once. Within a
    * publish, lands into different tables overlap and lands into one table
    * run one at a time under its monitor; a land that finds the publish
    * committed fails.
    */
  final class Publish private[TableManifest] (owner: String) {
    // the commit's temp file name: the identity may be a path
    private val tempName = java.util.UUID.nameUUIDFromBytes(owner.getBytes("UTF-8")).toString
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

    /** First touch of a table in this publish: take the table lease. A
      * lease taken after the commit released its leases is given back.
      */
    private def leaseTable(name: String): Unit = {
      val lease = TableLock.acquire(spark, s"$localRoot/$name", s"manifest-publish:$owner")
      synchronized {
        if (committed) lease.release()
        require(!committed, "publish already committed")
        leases.hold(name, lease)
      }
    }

    /** Delete the table's unreferenced generation dirs — `committed` is
      * its committed list, stable under our lease. A crash orphan
      * (numbered above every committed generation) goes at once, before
      * its number is re-minted; any other was dropped by a commit that
      * stamped its mtime, and goes once that is [[Generations.GraceMs]] old.
      */
    private def sweepTable(table: String, committed: Seq[String]): Unit = {
      val tableDir = new Path(s"$root/$table")
      val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gens = if (fs.exists(tableDir)) fs.listStatus(tableDir).filter(g =>
        g.isDirectory && g.getPath.getName.matches("^g[0-9]+$")).toSeq else Nil
      val top = committed.map(genNumber).maxOption
      val graceEnd = System.currentTimeMillis() - Generations.GraceMs
      gens.filterNot(g => committed.contains(g.getPath.getName)).foreach { g =>
        if (top.forall(genNumber(g.getPath.getName) > _) || g.getModificationTime <= graceEnd)
          EpochFiles.sweep(fs, g.getPath, "manifest sweep")
      }
    }

    /** The table as this publish sees it — its landed state, else the
      * committed one (stable under our lease). The first touch takes the
      * table's lease and sweeps its unreferenced generations.
      */
    private def current(name: String): Option[TableState] = monitor(name).synchronized {
      pendingOf(name).orElse {
        val first = !leases.holds(name)
        if (first) leaseTable(name)
        val committedState = snapshot(name)
        if (first) sweepTable(name, committedState.fold(Seq.empty[String])(_.gens))
        committedState
      }
    }

    /** One table's rows as this publish sees them (None = no table yet),
      * read under its lease: a writer that derives a land from the table
      * reads it here, so no other writer can change it before the commit.
      */
    def read(table: String): Option[DataFrame] = {
      val name = Naming.normalize(table)
      current(name).map(load(name, _))
    }

    /** Release every table lease WITHOUT committing — the failed run's
      * landed dirs become orphans the next lease holder sweeps. No-op
      * after commit (which releases on its own).
      */
    def abort(): Unit = synchronized { if (!committed) leases.releaseAll() }

    /** Land one table's updates under its disposition
      * ([[MergeEngine.landing]]): a delta lands as a new generation that
      * JOINS the table's list (O(batch)), a rewrite as a generation that
      * replaces it; nothing is reader-visible until [[commit]]. Returns the
      * table's row count as of this landing. The current content is read
      * with its recorded schema and the new generation counted from parquet
      * footers, so an append runs one Spark job (its write) however many
      * generations the table has.
      *
      * A delta that would take the list past [[MaxGenerations]] is written
      * together with a bounded run of the newest small generations
      * ([[mergedRun]]) as one generation that replaces them — still one
      * write job, packed into files of about `spark.sql.files.maxPartitionBytes`
      * by the run's bytes on disk. The absorbed generations stay on disk
      * for [[Generations.GraceMs]] after the commit, like every generation
      * a commit drops, for readers that resolved the table before it.
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
        val base = current(name)
        // numbers only grow: a pending list's newest is above every committed one
        val gen = s"g${base.fold(0L)(_.gens.map(genNumber).max) + 1L}"
        val genPath = s"$root/$name/$gen"
        // overwrite: a crashed publish's orphan with the same number was
        // swept at first land, but a racing retry inside one JVM could
        // still leave one — committed generations are never re-targeted
        // a delta's rows are aligned to the append's merged target, so its
        // schema is the whole table's; a rewrite's is the new table's
        val landed = MergeEngine.landing(base.map(load(name, _)), updates, hints) match {
          case Landing.Delta(rows) =>
            val old = base.fold(Seq.empty[(String, Long)])(t => t.gens.zip(t.counts))
            val run = mergedRun(old.map(_._2))
            val schema = nullable(rows.schema)
            // the run read with the delta's schema (a superset of the
            // table's) and packed by its bytes on disk: a merged run of
            // small generations is a few files
            val written = if (run == 0) rows else {
              val dirs = old.takeRight(run).map(g => new Path(s"$root/$name/${g._1}"))
              val bytes = dirs.map(d => d.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(d).getLength).sum
              spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
                .coalesce((bytes / spark.sessionState.conf.filesMaxPartitionBytes + 1).toInt).union(rows)
            }
            written.write.mode("overwrite").parquet(genPath)
            val kept = old.dropRight(run)
            TableState(kept.map(_._1) :+ gen, kept.map(_._2) :+ ParquetFooters.rowCount(spark, genPath), schema)
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

    /** Flip every landed table's committed pointer in ONE new epoch.
      * Before this call, readers see the previous state of EVERY table;
      * after it, the new state of every table. Per-generation row counts
      * and the table schema commit alongside the lists, so later reads
      * and publishes never re-derive them.
      *
      * Epoch N+1 is the newest epoch N with only THIS publish's tables
      * overlaid, written to `_manifest.tmp-<owner>` and linked without
      * replace; on a lost race it re-bases on the newest epoch and tries
      * the next number. Its tables are leased, so an epoch listing its
      * generations holds the commit. Before each link it stamps the
      * mtime of every generation the epoch drops from a list, so the
      * reader grace of [[sweepTable]] counts from a time no reader can
      * have resolved the epoch before. Epochs older than the newest two
      * and temp files older than the lease's stale age (crashed
      * commits') go.
      */
    def commit(): Unit = synchronized {
      require(!committed, "publish already committed")
      val mine = order.toSeq.flatMap(name => pending.get(name).map(name -> _))
      val tmp = java.nio.file.Paths.get(localRoot, TempPrefix + tempName)
      var base = newest()
      while (!mine.forall { case (name, t) => base.list(Prefix + name) == t.gens }) {
        val doc = base.doc.deepCopy()
        mine.foreach { case (name, t) =>
          doc.set[JsonNode](Prefix + name, mapper.valueToTree(t.gens.asJava))
          doc.set[JsonNode](CountsPrefix + name, mapper.valueToTree(t.counts.map(_.toString).asJava))
          doc.put(SchemaPrefix + name, t.schema.json)
        }
        java.nio.file.Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc))
        val now = System.currentTimeMillis()
        mine.foreach { case (name, t) => base.list(Prefix + name).filterNot(t.gens.contains)
          .foreach(g => new java.io.File(s"$localRoot/$name/$g").setLastModified(now)) }
        testHookBeforeLink(base.n + 1)
        EpochFiles.link(tmp, java.nio.file.Paths.get(localRoot, s"$EpochPrefix${base.n + 1}"))
        base = newest()
      }
      java.nio.file.Files.deleteIfExists(tmp)
      committed = true
      leases.releaseAll()
      if (mine.nonEmpty) sweepEpochs(base.n)
    }
  }

  private def sweepEpochs(newestEpoch: Long): Unit = {
    val crashedBefore = System.currentTimeMillis() - TableLock.DefaultStaleMs
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val epoch = if (n == LegacyFile) Some(0L) else Some(n).filter(_.startsWith(EpochPrefix))
        .flatMap(_.stripPrefix(EpochPrefix).toLongOption)
      if (epoch.exists(_ < newestEpoch - 1) || (n.startsWith(TempPrefix) && st.getModificationTime < crashedBefore))
        EpochFiles.sweep(fs, st.getPath, "manifest sweep")
    }
  }

  /** Start a publish cycle for the writer `owner`: an identity no other
    * live writer shares — one per pipeline run, or a streaming query's
    * checkpoint dir, which a restart reuses to retake its crashed leases.
    */
  def publish(owner: String): Publish = new Publish(owner)

  /** `body` run in one publish by `owner`, then committed; a failed body
    * releases the leases. A publish that meets another writer's lease is
    * retried whole, in a fresh publish, for up to `waitMs` (0: fails fast).
    */
  private[graft] def publishing[T](owner: String, waitMs: Long = 0L)(body: Publish => T): T = {
    val deadline = System.currentTimeMillis() + waitMs
    var result: Option[T] = None
    while (result.isEmpty) {
      val pub = publish(owner)
      try {
        val r = body(pub)
        pub.commit()
        result = Some(r)
      } catch {
        case e: TableLock.LockHeldException if System.currentTimeMillis() < deadline =>
          log.info(s"manifest $root: ${e.getMessage}; retrying the publish for " +
            s"${deadline - System.currentTimeMillis()} ms more")
          Thread.sleep(200)
      } finally pub.abort()
    }
    result.get
  }
}

object TableManifest {
  private val EpochPrefix = "_manifest.e"
  private val TempPrefix = "_manifest.tmp-"
  private val LegacyFile = "_manifest.json"
  private val Prefix = "tables."
  private val CountsPrefix = "rowcounts."
  private val SchemaPrefix = "schemas."

  private val mapper = new ObjectMapper()
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[TableManifest])

  /** The most generations a table's list holds (see [[Publish.land]]). */
  val MaxGenerations = 16

  /** The most generations one merging land absorbs: a merge rewrites a
    * bounded slice of the table, never the whole list.
    */
  val MaxMergedGenerations = 4

  private def genNumber(gen: String): Long = gen.stripPrefix("g").toLong

  /** How many of the newest generations (row counts `counts`, oldest
    * first) a delta merges with: none while the list has room; else the
    * newest, then each older one no larger than the rows merged so far,
    * up to [[MaxMergedGenerations]] — size-tiered, so a big old
    * generation is never rewritten for a small delta.
    */
  private[core] def mergedRun(counts: Seq[Long]): Int =
    if (counts.size < MaxGenerations) 0
    else {
      var run = 1
      var rows = counts.last
      while (run < math.min(counts.size, MaxMergedGenerations) && counts(counts.size - 1 - run) <= rows) {
        rows += counts(counts.size - 1 - run)
        run += 1
      }
      run
    }

  /** Test seam, run before each epoch link with its number: a spec forces
    * a race or a crash there. No-op in production.
    */
  private[core] var testHookBeforeLink: Long => Unit = _ => ()

  /** One committed epoch: its number and its document. */
  private final case class Epoch(n: Long, doc: ObjectNode) {
    def list(key: String): Seq[String] =
      Option(doc.get(key)).filter(_.isArray).fold(Seq.empty[String])(_.elements().asScala.map(_.asText()).toSeq)
    def text(key: String): Option[String] = Option(doc.get(key)).filterNot(_.isNull).map(_.asText())
  }

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
  private val log = org.slf4j.LoggerFactory.getLogger(ParquetFooters.getClass)

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
      log.warn(s"no parquet files under $dir — reporting rows=0 (misrouted or failed write?)")
    files.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

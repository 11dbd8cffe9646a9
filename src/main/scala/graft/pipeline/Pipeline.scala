package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.core._

/** Resource: a named lazy DataFrame builder with table hints — the Spark
  * equivalent of `@dlt.resource` (SURVEY §1.1). `parentName` marks a
  * transformer fed by another resource's output
  * (`@dlt.transformer`, sources/pipedrive/__init__.py:95-101).
  * `selected=false` resources run (e.g. to build state) but do not load
  * (sources/pipedrive/__init__.py:70-72 create_state).
  * `routingColumn` splits one extracted stream into N tables by value
  * (SURVEY §2.8).
  */
final case class ResourceDef(
    name: String,
    hints: TableHints,
    build: PipelineContext => DataFrame,
    parentName: Option[String] = None,
    selected: Boolean = true,
    routingColumn: Option[String] = None,
    incremental: Option[(Incremental, String)] = None, // (cursor, cursor column for state)
    /** Per-variant hint overrides — the `dlt.mark.with_hints(...,
      * create_table_variant=True)` surface (reference
      * sources/pg_replication/helpers.py:781-790: per-routed-table
      * disposition/columns computed at runtime). Keys are matched against
      * BOTH the raw routed/variant value and the final normalized table
      * name; a hit replaces `hints` for that table (its `tableName` is
      * still overwritten with the routed name). Two ways rows reach a
      * variant:
      *  - `routingColumn` fan-out: the routed value picks the variant;
      *  - no routing column, but the extract marks rows with
      *    [[Pipeline.HintVariantCol]]: NULL-marked rows land in the base
      *    table under `hints`; a non-null variant value `v` lands in
      *    table `v` (normalized) under `hintVariants(v)` — one extract,
      *    several tables with DIFFERENT merge keys/dispositions.
      */
    hintVariants: Map[String, TableHints] = Map.empty,
)

/** Source: a group of resources sharing config and state — `@dlt.source`. */
final case class SourceDef(name: String, resources: Seq[ResourceDef])

/** What each resource sees while building: the session, committed state,
  * and the DataFrames of already-built parent resources.
  */
final class PipelineContext(
    val spark: SparkSession,
    val state: StateStore,
    val parents: Map[String, DataFrame],
)

final case class LoadResult(table: String, rows: Long)

object Pipeline {
  /** Well-known column an extract adds to mark rows for a table variant
    * (`dlt.mark.with_hints(..., create_table_variant=True)`): NULL = the
    * resource's base table under its own hints; a non-null value `v` =
    * table `v` under `ResourceDef.hintVariants(v)`. Consumed (dropped)
    * by the pipeline before normalization.
    */
  val HintVariantCol = "_graft_hint_variant"

  /** One table's share of an extract: its final normalized name, its
    * rows (a lazy plan — planning runs no job) and its hints.
    */
  private final case class Planned(table: String, rows: DataFrame, hints: TableHints)
}

/** The pipeline driver: extract → normalize → write → state commit
  * (SURVEY §3.1). Resources run parents-first; cursors and custom state
  * commit only after every write succeeded (crash before commit = clean
  * re-run from the previous cursor, mirroring the reference's
  * commit-on-success contract, sources/chess/__init__.py:96-97).
  */
final class Pipeline(
    spark: SparkSession,
    pipelineName: String,
    destRoot: String,
    stateDir: String,
    /** All-or-nothing multi-table commit: every table's new content lands
      * in a fresh generation dir first and ONE manifest write flips every
      * pointer together ([[graft.core.TableManifest]]) — a crash between
      * two tables' finalizes is invisible to manifest readers, where the
      * default per-table staged swap would expose table A new / table B
      * old until the re-run. Data commits BEFORE cursors: a crash between
      * the two commits re-runs the batch against already-new tables, the
      * property-tested idempotent-merge path — never the reverse (cursors
      * advanced past data that never landed = silent loss). Readers must
      * resolve tables through the manifest, not `destRoot/<table>`.
      * `destRoot` must be a local filesystem path: each commit publishes a
      * new manifest epoch file by a no-replace hard link, which only the
      * local filesystem offers, so [[graft.core.TableManifest]] refuses an
      * hdfs:// or s3a:// root (remote roots use the default per-table
      * staged swap).
      */
    manifestCommit: Boolean = false,
) {
  import Pipeline.Planned

  /** The destination manifest (only meaningful with `manifestCommit`). */
  lazy val manifest: TableManifest = new TableManifest(spark, destRoot)

  def run(source: SourceDef): Seq[LoadResult] =
    if (!manifestCommit) runInner(source)
    else {
      // exclusion is PER TABLE, taken at each table's first land and held
      // through the commit: pipelines landing disjoint tables under one
      // root run concurrently; a same-table writer fails fast with
      // LockHeldException. The publish's writer identity is this run.
      val pub = manifest.publish(s"$pipelineName:${java.util.UUID.randomUUID()}")
      currentPublish = Some(pub)
      try runInner(source)
      finally {
        currentPublish = None
        pub.abort() // releases leases iff the run died before commit
      }
    }

  private var currentPublish: Option[TableManifest#Publish] = None

  private def runInner(source: SourceDef): Seq[LoadResult] = {
    // load id stamped on every row of this run (dlt's _dlt_load_id):
    // monotonically increasing, recorded in state for lineage
    val loadId = java.util.UUID.randomUUID().toString.take(8) + "-" + System.currentTimeMillis()
    currentLoadId = Some(loadId)
    val state = StateStore(stateDir, s"$pipelineName.${source.name}")
    state.put("last_load_id", loadId)
    val ordered = topoOrder(source.resources)
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    val pendingCursor = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    def process(res: ResourceDef): Seq[LoadResult] = {
      val ctx = new PipelineContext(spark, state, built.toMap)
      val extracted = res.build(ctx)
      val df = res.incremental.fold(extracted) { case (inc, _) =>
        inc.apply(extracted, state, cursorKey(source, res))
      }
      built.put(res.name, df)
      if (!res.selected) Nil
      else {
        // incremental high-water mark, computed on the filtered batch
        // beside the writes but committed only after all of them
        // succeed. NOT committed while an external scheduler window is
        // active: a backfill run over an old interval must leave the
        // committed cursor where it was — advancing it to the interval's
        // max would regress the high-water mark and re-ingest everything
        // after the interval on the next normal run (the
        // gap-free/re-runnable property orchestrator windows exist for).
        val cursor = res.incremental.collect { case (inc, _) if !inc.externalWindowActive =>
          () => inc.nextCursor(df).foreach(v => pendingCursor += (cursorKey(source, res) -> v))
        }
        writeRouted(df, res, cursor.toSeq)
      }
    }

    val results = ordered.flatMap(process)

    // manifest mode: flip every table's pointer in ONE commit, BEFORE the
    // cursor commit (crash between = idempotent re-run over new tables)
    currentPublish.foreach(_.commit())
    pendingCursor.foreach { case (k, v) => state.put(k, v) }
    state.commit()
    results
  }

  private def cursorKey(source: SourceDef, res: ResourceDef): String =
    s"${source.name}.${res.name}.cursor"

  /** Parents before children (transformer DAG ordering — state producers
    * must run before consumers, SURVEY §3.3).
    */
  private def topoOrder(resources: Seq[ResourceDef]): Seq[ResourceDef] = {
    val byName = resources.map(r => r.name -> r).toMap
    val visiting = scala.collection.mutable.Set.empty[String]
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(r: ResourceDef): Unit = {
      if (done.contains(r.name)) return
      if (!visiting.add(r.name))
        throw new IllegalArgumentException(s"resource cycle at ${r.name}")
      r.parentName.foreach { p =>
        visit(byName.getOrElse(p,
          throw new IllegalArgumentException(s"resource ${r.name} references unknown parent $p")))
      }
      visiting.remove(r.name)
      done += r.name
    }
    resources.foreach(visit)
    done.toSeq.map(byName)
  }

  /** Routed writes are SINGLE-PASS over the source: the batch is staged
    * once, parquet-partitioned by the routing value (dir per table), and
    * each table finalizes from its pruned staged partition. The previous
    * shape — one filtered scan per routed value — made a Slack/Kafka-style
    * fan-out to hundreds of tables hundreds of source scans; this is one
    * source scan + one bounded stage, and the per-table reads are
    * partition-pruned to their own directory. Rows with a null routing
    * value are dropped (they name no table). No routing column = single
    * table, no stage. Every table lands through [[landAll]], beside the
    * `alongside` tasks.
    */
  private def writeRouted(df: DataFrame, res: ResourceDef, alongside: Seq[() => Unit]): Seq[LoadResult] = {
    res.routingColumn match {
      case None if df.columns.contains(Pipeline.HintVariantCol) =>
        // item-level variant marks (create_table_variant): NULL-marked
        // rows are the base table; marked rows fan out to the variant's
        // own table+hints. Same single-pass staged split as routing — the
        // base table is just one more staged partition (sentinel-keyed),
        // so the source is still scanned exactly once.
        val vc = Pipeline.HintVariantCol
        val keyed = df.withColumn(vc,
          coalesce(col(vc).cast("string"), lit(BaseVariantSentinel)))
        stagedFanOut(keyed, vc, res, dropNulls = false, alongside) { v =>
          if (v == BaseVariantSentinel) res.hints
          else variantHints(res, v, Naming.normalize(v)).copy(tableName = Naming.normalize(v))
        }
      case None =>
        landAll(normalized(df, res.hints), alongside)
      case Some(rc) =>
        stagedFanOut(df, rc, res, dropNulls = true, alongside) { v =>
          val routeName = if (v == EmptyRouteSentinel) "" else v
          val name = Naming.normalize(s"${res.hints.tableName}_$routeName")
          variantHints(res, routeName, name).copy(tableName = name)
        }
    }
  }

  /** Variant lookup: raw routed/variant value first, then the final
    * normalized table name; default = the resource's own hints.
    */
  private def variantHints(res: ResourceDef, raw: String, name: String): TableHints =
    res.hintVariants.getOrElse(raw, res.hintVariants.getOrElse(name, res.hints))

  /** Single-pass staged split of `df` by `keyCol`: the batch is staged
    * once, parquet-partitioned by the key (dir per table), and each table
    * finalizes from its pruned staged partition under `hintsFor(value)`.
    * The previous shape — one filtered scan per routed value — made a
    * Slack/Kafka-style fan-out to hundreds of tables hundreds of source
    * scans; this is one source scan + one bounded stage, and the
    * per-table reads are partition-pruned to their own directory. The
    * values' tables are planned in sorted value order and land
    * concurrently ([[landAll]]); the stage is deleted once every land
    * has finished.
    */
  private def stagedFanOut(df: DataFrame, keyCol: String, res: ResourceDef,
      dropNulls: Boolean, alongside: Seq[() => Unit])(hintsFor: String => TableHints): Seq[LoadResult] = {
    val stage = s"$destRoot/__stage/${Naming.normalize(res.hints.tableName)}_" +
      currentLoadId.getOrElse("run")
    val hconf = spark.sparkContext.hadoopConfiguration
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    val fs = stagePath.getFileSystem(hconf)
    try {
      // empty-string routing values would land in the writer's
      // __HIVE_DEFAULT_PARTITION__ alongside genuine nulls (Spark
      // treats "" as the default partition) and silently vanish — map
      // them to a sentinel so they stage as their own partition and
      // keep routing to the bare `<table>_` name
      val in = if (dropNulls) df.filter(col(keyCol).isNotNull) else df
      in.withColumn(keyCol,
          when(col(keyCol).cast("string") === "", lit(EmptyRouteSentinel))
            .otherwise(col(keyCol).cast("string")))
        .write.mode("overwrite").partitionBy(keyCol).parquet(stage)
      // enumerate tables from the staged directory names — a driver FS
      // listing, not a Spark job over the data
      val values = fs.listStatus(stagePath).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$keyCol="))
        .map(n => ExternalCatalogUtils.unescapePathName(n.substring(keyCol.length + 1)))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__")
      // explicit schema (key as string) so partition-type inference can't
      // retype numeric routing values and defeat the pruning filter
      val stagedSchema = org.apache.spark.sql.types.StructType(
        df.schema.fields.filterNot(_.name == keyCol) :+
          org.apache.spark.sql.types.StructField(keyCol, org.apache.spark.sql.types.StringType))
      val staged = spark.read.schema(stagedSchema).parquet(stage)
      landAll(values.sorted.flatMap { v =>
        normalized(staged.filter(col(keyCol) === v).drop(keyCol), hintsFor(v))
      }, alongside)
    } finally fs.delete(stagePath, true)
  }

  private val BaseVariantSentinel = "__graft_base__"

  private val EmptyRouteSentinel = "__graft_empty__"

  private var currentLoadId: Option[String] = None

  /** Normalize (parent + child tables) and plan each produced table.
    * Child tables always merge on `_dlt_id` when the root merges
    * (re-runs replace children deterministically since ids are
    * content-derived). Every row carries `_dlt_load_id` for run lineage
    * (the dlt framework column).
    */
  private def normalized(df0: DataFrame, hints: TableHints): Seq[Planned] = {
    val df = currentLoadId match {
      case Some(id) if !df0.columns.contains("_dlt_load_id") =>
        df0.withColumn("_dlt_load_id", lit(id))
      case _ => df0
    }
    Normalize.normalize(df, hints).toSeq.map { case (name, tdf) =>
      val childHints =
        if (name == Naming.normalize(hints.tableName)) hints.copy(tableName = name)
        else hints.copy(tableName = name, primaryKey = Seq(Normalize.DltId), dedupSort = None, hardDeleteCol = None)
      Planned(name, tdf, childHints)
    }
  }

  /** Land an extract's planned tables, and run `alongside` (the cursor
    * aggregate), as overlapping Spark actions ([[graft.core.Concurrently]]).
    * Plans naming one table land one after another in plan order — two
    * concurrent writers of a table would fail each other's lease — while
    * different tables land concurrently; the results come back in plan
    * order, and in manifest mode the tables are reserved in that order
    * first, so the manifest lists them as a serial run would. Every task
    * has finished before a failure is rethrown.
    */
  private def landAll(plan: Seq[Planned], alongside: Seq[() => Unit]): Seq[LoadResult] = {
    val groups = plan.zipWithIndex.groupBy(_._1.table).values.toSeq.sortBy(_.head._2)
    currentPublish.foreach(_.reserve(groups.map(_.head._1.table)))
    val landed = Concurrently(spark)(alongside.map(f => () => { f(); Seq.empty[(Int, LoadResult)] }) ++
      groups.map(g => () => g.map { case (p, i) => i -> land(p) }): _*)
    landed.flatten.sortBy(_._1).map(_._2)
  }

  private def land(p: Planned): LoadResult = currentPublish match {
    case Some(pub) =>
      // manifest mode: LAND only — nothing is reader-visible until the
      // run's single pointer flip in run()
      LoadResult(p.table, pub.land(p.rows, p.hints))
    case None =>
      TableWriter.write(spark, p.rows, destRoot, p.hints)
      // footer metadata, not a scan: the old full-table count() here
      // was one extra whole-table job per table per run
      LoadResult(p.table, graft.core.ParquetFooters.rowCount(spark, s"$destRoot/${p.table}"))
  }
}

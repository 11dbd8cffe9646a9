package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The merge/upsert plan builder — the engine's one true custom "physical"
  * operator (SURVEY §2.4, §7.3): join-based MERGE with batch dedup, hard
  * deletes and schema evolution, since no Delta jar ships with the image.
  *
  * Reference semantics implemented:
  *   - `merge` + primary_key = upsert, last-write-wins
  *     (sources/hubspot/__init__.py:298);
  *   - in-batch dedup via `dedup_sort` column, e.g. pick max lsn
  *     (sources/pg_replication/helpers.py:765-767);
  *   - `merge` + merge_key = delete-insert by key set
  *     (sources/bing_webmaster/__init__.py:38-43);
  *   - `hard_delete`: non-null marker column deletes the key
  *     (sources/pg_replication/helpers.py:768-773,839-841);
  *   - pk-less merge degrades to append (sources/google_analytics/__init__.py:98-100).
  *
  * All steps are declarative DataFrame transforms: the upsert anti-join
  * shuffles both sides by the pk hash (at 100 TB the update batch is
  * typically ≪ the base table, so AQE turns the anti-join into a broadcast
  * of the update keys — no full-table shuffle).
  */
object MergeEngine {

  /** In-batch dedup: one row per key, picked by the dedup_sort order with a
    * deterministic tiebreak on the remaining columns.
    */
  def dedupeBatch(updates: DataFrame, keys: Seq[String], dedupSort: Option[(String, Boolean)]): DataFrame = {
    if (keys.isEmpty) updates
    else {
      val orderCols: Seq[Column] = dedupSort match {
        case Some((c, desc)) => Seq(if (desc) col(c).desc_nulls_last else col(c).asc_nulls_last)
        case None            => Seq(monotonically_increasing_id().desc)
      }
      val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
      updates
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  /** Pure merge plan: the state of the table after applying `updates` to
    * `existing` under `hints`. No I/O — callers write the result.
    */
  def mergePlan(existing: Option[DataFrame], updates: DataFrame, hints: TableHints): DataFrame = {
    val keys = hints.keyColumns
    val deduped = dedupeBatch(updates, hints.primaryKey, hints.dedupSort)

    val (liveUpdates, deleteKeys) = hints.hardDeleteCol match {
      case Some(dc) if deduped.columns.contains(dc) =>
        (deduped.filter(col(dc).isNull).drop(dc), Some(deduped.filter(col(dc).isNotNull).select(keys.map(col): _*)))
      case _ => (deduped, None)
    }

    existing match {
      case None => liveUpdates
      case Some(base) if keys.isEmpty => unionEvolved(base, liveUpdates)
      case Some(base) =>
        // survivors: base rows whose key is in neither the update set nor
        // the delete set. No broadcast hint on purpose: update batches are
        // usually small (AQE converts the anti-join to broadcast at
        // runtime from observed sizes), but a full-reload batch can be as
        // large as the table — a forced broadcast would OOM at scale.
        val updKeys = deduped.select(keys.map(col): _*).distinct()
        val survivors = alignTo(base, mergedSchema(base.schema, liveUpdates.schema))
          .join(updKeys, keys, "left_anti")
        unionEvolved(survivors, liveUpdates)
    }
  }

  /** The disposition planner both writers share ([[TableWriter]] and
    * [[TableManifest.Publish.land]]): what `updates` does to a table
    * under `hints`. No I/O, and `existing` is read only by the
    * dispositions that need it (replace reads nothing). An append lands
    * as a delta unless it WIDENS an existing column's type (int→double,
    * …): parquet footer merging cannot reconcile that, so the table is
    * migrated once to the widened schema — dlt's ALTER COLUMN analog.
    * Added-columns-only evolution stays a delta, O(batch): the delta is
    * aligned to the merged schema, and older rows read the added columns
    * as null (a manifest table reads with the schema its land recorded,
    * a plain table dir with mergeSchema).
    */
  def landing(existing: => Option[DataFrame], updates: DataFrame, hints: TableHints): Landing =
    hints.disposition match {
      case Disposition.Append =>
        existing match {
          case None => Landing.Delta(updates)
          case Some(base) =>
            val target = mergedSchema(base.schema, updates.schema)
            if (base.schema.fields.exists(f => target(f.name).dataType != f.dataType))
              Landing.Rewrite(unionEvolved(base, updates))
            else Landing.Delta(alignTo(updates, target))
        }
      case Disposition.Replace => Landing.Rewrite(updates)
      case Disposition.Merge   => Landing.Rewrite(mergePlan(existing, updates, hints))
      case Disposition.Scd2 =>
        val loadTs = hints.scd2LoadTs.getOrElse(new java.sql.Timestamp(System.currentTimeMillis()))
        Landing.Rewrite(scd2Apply(existing, updates, hints.keyColumns, loadTs))
    }

  /** Schema evolution by column union + type widening: new columns appear
    * nullable-backfilled; int→long→decimal→double→string widening mirrors
    * the reference's inferred-schema evolution (SURVEY §7.4.2).
    */
  def mergedSchema(a: StructType, b: StructType): StructType = {
    val bMap = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { fa =>
      bMap.get(fa.name) match {
        case Some(fb) => StructField(fa.name, widen(fa.dataType, fb.dataType), fa.nullable || fb.nullable)
        case None     => fa.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    StructType(merged ++ b.fields.filterNot(f => aNames(f.name)).map(_.copy(nullable = true)))
  }

  private val intTypes: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
  private def isInt(dt: DataType): Boolean = intTypes(dt)

  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (x, y) if isInt(x) && isInt(y) =>
      if (x.defaultSize >= y.defaultSize) x else y
    case (x, d: DecimalType) if isInt(x) => d
    case (d: DecimalType, y) if isInt(y) => d
    case (x, DoubleType) if isInt(x) => DoubleType
    case (DoubleType, y) if isInt(y) => DoubleType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (_: DecimalType, DoubleType) | (DoubleType, _: DecimalType) => DoubleType
    case (d1: DecimalType, d2: DecimalType) =>
      val s = math.max(d1.scale, d2.scale)
      val i = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
      DecimalType(math.min(38, i + s), s)
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case _ => StringType
  }

  /** SCD2 snapshot merge — dlt-core's third merge strategy (`scd2`): the
    * incoming batch is a FULL snapshot of the source; a key whose payload
    * changed closes its current validity window at `loadTs` and opens a new
    * one, a departed key just closes, a new key just opens, an unchanged
    * key's open row rides through untouched. Row identity is an md5 over
    * the payload columns (null-safe, field-separated). One full-outer join
    * on the key per snapshot — the plan scales like any keyed join and
    * history rows (closed windows) are streamed through untouched.
    */
  def scd2Apply(
      existing: Option[DataFrame],
      snapshot: DataFrame,
      keys: Seq[String],
      loadTs: java.sql.Timestamp,
      validFrom: String = "_valid_from",
      validTo: String = "_valid_to",
  ): DataFrame = {
    require(keys.nonEmpty, "scd2 requires a key")
    val payloadCols = snapshot.columns.filterNot(keys.contains).toSeq
    // lineage columns (_dlt_load_id etc.) change every run by design — they
    // ride along but must not count as a payload change, or every load
    // would close and reopen every row
    val hashCols = payloadCols.filterNot(_.startsWith("_dlt"))
    def hashOf(cols: Seq[Column]): Column =
      md5(concat_ws("\u0001", cols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*))

    existing match {
      case None =>
        snapshot
          .withColumn(validFrom, lit(loadTs))
          .withColumn(validTo, lit(null).cast("timestamp"))
      case Some(base) =>
        val history = base.filter(col(validTo).isNotNull)
        val open = base.filter(col(validTo).isNull)
        val o = open.select(
          keys.map(col) ++ payloadCols.map(c => col(c).as(s"__o_$c")) :+ col(validFrom).as("__o_vf"): _*)
          .withColumn("__h_old", hashOf(hashCols.map(c => col(s"__o_$c"))))
        val n = snapshot.withColumn("__h_new", hashOf(hashCols.map(col)))
        val j = o.join(n, keys, "full_outer")

        val stillOpen = j.filter(col("__h_old") === col("__h_new"))
          .select(keys.map(col) ++ payloadCols.map(c => col(s"__o_$c").as(c)) ++
            Seq(col("__o_vf").as(validFrom), lit(null).cast("timestamp").as(validTo)): _*)
        val closedNow = j.filter(col("__h_old").isNotNull &&
            (col("__h_new").isNull || col("__h_new") =!= col("__h_old")))
          .select(keys.map(col) ++ payloadCols.map(c => col(s"__o_$c").as(c)) ++
            Seq(col("__o_vf").as(validFrom), lit(loadTs).as(validTo)): _*)
        val openedNow = j.filter(col("__h_new").isNotNull &&
            (col("__h_old").isNull || col("__h_new") =!= col("__h_old")))
          .select(keys.map(col) ++ payloadCols.map(col) ++
            Seq(lit(loadTs).as(validFrom), lit(null).cast("timestamp").as(validTo)): _*)

        history.unionByName(stillOpen).unionByName(closedNow).unionByName(openedNow)
    }
  }

  def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    val cols = target.fields.toSeq.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }

  def unionEvolved(a: DataFrame, b: DataFrame): DataFrame = {
    val target = mergedSchema(a.schema, b.schema)
    alignTo(a, target).unionByName(alignTo(b, target))
  }

}

/** A planned landing ([[MergeEngine.landing]]). */
sealed trait Landing
object Landing {
  /** Rows that land beside the table's existing rows, aligned to its schema. */
  final case class Delta(rows: DataFrame) extends Landing
  /** The table's whole new content. */
  final case class Rewrite(table: DataFrame) extends Landing
}

/** The only way graft rewrites a parquet table dir. Every call runs in
  * one [[leased]] section: the table's [[TableLock]] lease under a
  * per-invocation owner, then [[StagedSwap.repair]], then the body. A
  * delta is appended in place; a rewrite commits through [[StagedSwap]],
  * so a crash leaves the old table or the new one, and the next leased
  * section puts back a table a crash left aside before it reads. Bucketed
  * merge tables rewrite only their touched buckets ([[BucketedMerge]]).
  *
  * Callers: [[write]] — `Pipeline`'s per-table loads, `StreamingMergeSink`
  * and the contract queries; [[rewrite]] — CDC replication
  * (`Replication.pollOnce`); [[leased]] — every [[TableMaintenance]] pass.
  */
object TableWriter {

  def write(spark: SparkSession, updates: DataFrame, tableRoot: String, hints: TableHints): Unit = {
    val name = Naming.normalize(hints.tableName)
    val path = s"$tableRoot/$name"
    leased(spark, path, s"writer:$name") {
      hints.bucketCount match {
        case Some(n) if hints.disposition == Disposition.Merge && hints.keyColumns.nonEmpty =>
          BucketedMerge.merge(spark, updates, path, hints, n)
        case _ =>
          MergeEngine.landing(readIfExists(spark, path), updates, hints) match {
            case Landing.Delta(rows)    => rows.write.mode(SaveMode.Append).parquet(path)
            case Landing.Rewrite(table) => StagedSwap.overwrite(spark, table.write, path)
          }
      }
    }
  }

  /** Rewrite the table at `path` to `plan` of its current content (None =
    * no table yet); a plan of None drops the table. The plan reads the
    * current content under the lease, so it may depend on it (CDC TOAST
    * resolution reads the base's unchanged columns); the content is
    * by-name, so a plan that ignores it reads nothing.
    */
  def rewrite(spark: SparkSession, path: String)(plan: (=> Option[DataFrame]) => Option[DataFrame]): Unit =
    leased(spark, path, "rewrite") {
      plan(readIfExists(spark, path)) match {
        case Some(table) => StagedSwap.overwrite(spark, table.write, path)
        case None =>
          val p = new Path(path)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }

  /** Run `body` as the table's single writer: take the table lease, put
    * back whatever a crashed staged swap left aside, then finish any
    * crashed compaction ([[TableMaintenance.repair]]) — before anything
    * reads the table, so no read sees a compacted file beside the
    * originals it replaced. The owner is
    * unique PER INVOCATION: same-owner reacquire must never let two batch
    * writers (or maintenance passes) on the same table steal each other's
    * live lease — a crashed one's lease is reclaimed by the stale-age path
    * instead; only stable singleton identities like a streaming checkpoint
    * use the reacquire.
    */
  private[core] def leased[T](spark: SparkSession, path: String, kind: String)(body: => T): T =
    TableLock.withLock(spark, path, owner = s"$kind:${java.util.UUID.randomUUID()}") {
      StagedSwap.repair(spark, path)
      TableMaintenance.repair(spark, path)
      body
    }

  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // mergeSchema: appended batches may carry evolved schemas (new nullable
    // columns); the default single-footer schema would silently DROP them.
    // Merge/replace paths rewrite to one schema, so the cost is paid only
    // on tables that actually evolved.
    if (fs.exists(p)) Some(spark.read.option("mergeSchema", "true").parquet(path)) else None
  }
}

/** The one commit protocol for rewriting a parquet table dir in place
  * (SURVEY §7.4.1, overwrite-with-staging). The new content is written
  * whole to `<path>__stage`; then each swapped unit — the whole dir, or
  * one partition dir of it — is renamed aside under `<path>__old`, its
  * staged copy renamed in, and the aside copy deleted. The two renames
  * are not atomic together: a crash between them leaves the unit's only
  * copy aside, and [[repair]] renames it back. Every writer that reads a
  * table before swapping it runs [[repair]] first, under the table's
  * [[TableLock]] lease, so a retried crash converges: the retry sees the
  * pre-crash table and applies its batch on top of it.
  */
private[core] object StagedSwap {

  def stageOf(path: String): String = path + "__stage"
  private def asideOf(path: String): String = path + "__old"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"staged swap: rename $from -> $to failed")

  /** Write `writer`'s output to the stage dir, then swap the whole dir. */
  def overwrite(spark: SparkSession, writer: DataFrameWriter[Row], path: String): Unit = {
    writer.mode(SaveMode.Overwrite).parquet(stageOf(path))
    swap(spark, path, Seq(""))
  }

  /** Swap each staged unit (a subdir name of the stage dir, "" = the whole
    * dir) into `path`. A unit with no staged copy is removed: a bucket that
    * hard deletes emptied is written by no task.
    */
  def swap(spark: SparkSession, path: String, units: Seq[String]): Unit = {
    val fs = fsOf(spark, path)
    def at(root: String, unit: String) = if (unit.isEmpty) new Path(root) else new Path(root, unit)
    units.foreach { u =>
      val (dest, staged, aside) = (at(path, u), at(stageOf(path), u), at(asideOf(path), u))
      if (fs.exists(dest)) {
        fs.mkdirs(aside.getParent)
        rename(fs, dest, aside)
      }
      if (fs.exists(staged)) rename(fs, staged, dest)
      fs.delete(aside, true)
    }
    fs.delete(new Path(stageOf(path)), true)
    fs.delete(new Path(asideOf(path)), true)
  }

  /** Rename every aside copy whose destination is missing back into place,
    * then drop the aside dir. The whole dir aside with no `path` is a
    * whole-dir swap that crashed between its renames. Otherwise the aside
    * dir holds per-partition copies, and one whose partition dir is missing
    * is that partition's only copy — unless `path` holds data files at its
    * top level: then the aside dir is a whole table a swap already
    * superseded (say a replace of a bucketed table) and is dropped.
    */
  def repair(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val (dest, aside) = (new Path(path), new Path(asideOf(path)))
    if (!fs.exists(aside)) return
    if (!fs.exists(dest)) rename(fs, aside, dest)
    else {
      if (!fs.listStatus(dest).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
        fs.listStatus(aside).filter(_.isDirectory).foreach { st =>
          val d = new Path(dest, st.getPath.getName)
          if (!fs.exists(d)) rename(fs, st.getPath, d)
        }
      fs.delete(aside, true)
    }
  }
}

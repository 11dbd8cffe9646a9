package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed merge writer — the 100 TB path for `merge` dispositions,
  * reached only through [[TableWriter.write]] (a `merge` with a key and a
  * `bucketCount` hint), which holds the table lease and has run
  * [[StagedSwap.repair]] before either write method starts.
  *
  * `TableWriter`'s whole-table swap rewrites the WHOLE table per merge; fine
  * for small dimension tables, fatal at scale (a 1 TB table with a 100 MB
  * CDC batch would rewrite 1 TB per batch). Here the destination is laid
  * out as `_bucket=<i>/` partitions keyed by a stable hash of the pk, and
  * a merge:
  *
  *   1. computes the distinct buckets present in the update batch;
  *   2. reads ONLY those partitions of the base table (partition pruning
  *      on `_bucket` — untouched buckets are never scanned);
  *   3. merges per bucket (dedup_sort, upsert anti-join, hard delete — the
  *      same MergeEngine plan) and swaps only those partition dirs
  *      ([[StagedSwap]], one bucket at a time).
  *
  * Rewrite cost per batch is O(touched buckets × bucket size), not
  * O(table). With uniformly-hashed pks and B buckets, a batch touching K
  * distinct keys rewrites ≤ min(K, B)/B of the table. The bucket column
  * doubles as a co-location key: two tables bucketed the same way join
  * bucket-to-bucket without a full shuffle of the big side.
  */
object BucketedMerge {

  val BucketCol = "_bucket"

  def bucketExpr(keys: Seq[String], numBuckets: Int) =
    pmod(xxhash64(keys.map(c => col(c).cast("string")): _*), lit(numBuckets)).cast("int")

  /** Initialize or fully replace a bucketed table. */
  private[core] def replace(spark: SparkSession, df: DataFrame, path: String, hints: TableHints,
      numBuckets: Int): Unit = {
    require(hints.keyColumns.nonEmpty, "bucketed layout requires a key")
    df.withColumn(BucketCol, bucketExpr(hints.keyColumns, numBuckets))
      .repartition(col(BucketCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(path)
  }

  /** Merge an update batch, rewriting only the touched buckets. Runs inside
    * [[TableWriter]]'s leased section, whose repair has already put back a
    * bucket a crashed swap left aside, so the base read below sees it.
    */
  private[core] def merge(spark: SparkSession, updates: DataFrame, path: String, hints: TableHints,
      numBuckets: Int): Unit = {
    val keys = hints.keyColumns
    require(keys.nonEmpty, "bucketed merge requires a key")
    val p = new Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      return replace(spark, updates, path, hints, numBuckets)

    val bucketed = updates.withColumn(BucketCol, bucketExpr(keys, numBuckets))
    // distinct buckets in this batch: tiny driver-side list (≤ numBuckets)
    val touched = bucketed.select(BucketCol).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return

    // mergeSchema: only touched buckets get rewritten per merge, so after a
    // schema-evolving batch the bucket files legitimately differ in schema
    val base = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col(BucketCol).isin(touched.toSeq: _*)) // partition-pruned scan
    val merged = MergeEngine.mergePlan(Some(base.drop(BucketCol)), bucketed.drop(BucketCol), hints)
      .withColumn(BucketCol, bucketExpr(keys, numBuckets))

    // stage the merged buckets, then swap each touched bucket dir; a
    // bucket emptied by hard deletes has no staged dir and is removed —
    // dynamic partition overwrite alone would silently leave it behind
    merged
      .repartition(col(BucketCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(StagedSwap.stageOf(path))
    StagedSwap.swap(spark, path, touched.toSeq.map(b => s"$BucketCol=$b"))
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path).drop(BucketCol)

  /** Point-lookup read — the read-side payoff of the bucketed layout: the
    * scan touches ONLY the `_bucket=` partitions the requested keys hash
    * to (partition pruning on the directory column), then a semi-join
    * keeps exactly the requested keys. At a 256-bucket terabyte table a
    * 5-entity lookup reads ≤5/256 of the data.
    */
  def readForKeys(spark: SparkSession, path: String, keyCols: Seq[String],
      numBuckets: Int, lookup: DataFrame): DataFrame = {
    val wanted = lookup
      .select(bucketExpr(keyCols, numBuckets).as(BucketCol) +: keyCols.map(col): _*)
      .distinct()
    val buckets = wanted.select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq
    spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col(BucketCol).isin(buckets: _*)) // partition-pruned
      .join(wanted.drop(BucketCol).distinct(), keyCols, "left_semi")
      .drop(BucketCol)
  }
}

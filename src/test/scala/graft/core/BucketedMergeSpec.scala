package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class BucketedMergeSpec extends SparkTestBase {
  import spark.implicits._

  private val hints = TableHints("t", Disposition.Merge,
    primaryKey = Seq("id"), dedupSort = Some(("v", true)))

  test("merge rewrites only touched buckets; values match full merge") {
    val root = tmpDir("bucketed")
    val path = s"$root/t"
    val base = (1L to 1000L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s")
    BucketedMerge.replace(spark, base, path, hints, numBuckets = 16)

    // record per-bucket file mtimes
    def bucketDirs = Files.list(Paths.get(path)).toArray.map(_.toString)
      .filter(_.contains("_bucket=")).sorted
    val before = bucketDirs.map(d => d -> Files.getLastModifiedTime(Paths.get(d)).toMillis).toMap

    // update batch touching few keys → few buckets
    val updates = Seq((5L, 2L, "s5-new"), (6L, 2L, "s6-new"), (2000L, 1L, "inserted")).toDF("id", "v", "s")
    val touched = updates.select(BucketedMerge.bucketExpr(Seq("id"), 16).as("b"))
      .distinct().as[Int].collect().toSet
    Thread.sleep(20)
    BucketedMerge.merge(spark, updates, path, hints, numBuckets = 16)

    val out = BucketedMerge.read(spark, path)
    assert(out.count() == 1001)
    assert(out.where($"id" === 5L).head().getString(2) == "s5-new")
    assert(out.where($"id" === 2000L).head().getString(2) == "inserted")
    assert(out.where($"id" === 7L).head().getString(2) == "s7")

    val after = bucketDirs.map(d => d -> Files.getLastModifiedTime(Paths.get(d)).toMillis).toMap
    val rewritten = after.filter { case (d, t) => before.get(d).exists(_ != t) }.keySet
      .map(d => d.split("_bucket=")(1).toInt)
    assert(rewritten == touched, "only the buckets present in the batch may be rewritten")
    assert(touched.size < 16)
  }

  test("hard delete and dedup_sort survive the bucketed path") {
    val root = tmpDir("bucketed-hd")
    val path = s"$root/t"
    BucketedMerge.replace(spark, Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "v", "s"), path, hints, 4)
    val updates = Seq((2L, 2L, "dead"), (2L, 3L, "deader"), (3L, 1L, "c")).toDF("id", "v", "s")
      .withColumn("deleted_ts", when($"s".startsWith("dead"), current_timestamp()))
    BucketedMerge.merge(spark, updates, path, hints.copy(hardDeleteCol = Some("deleted_ts")), 4)
    val out = BucketedMerge.read(spark, path)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("swap leaves no stage/old leftovers and recovers from a stale __old dir") {
    val root = tmpDir("bucketed-swap")
    val path = s"$root/t"
    val base = (1L to 100L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s")
    BucketedMerge.replace(spark, base, path, hints, numBuckets = 8)

    // simulate a prior crash: a stale __old sibling with garbage content
    val stale = Paths.get(path + "__old/_bucket=0")
    Files.createDirectories(stale)
    Files.write(stale.resolve("junk"), "x".getBytes)

    BucketedMerge.merge(spark, Seq((5L, 2L, "upd")).toDF("id", "v", "s"), path, hints, 8)
    assert(!Files.exists(Paths.get(path + "__old")), "old-copy dir must be cleaned up")
    assert(!Files.exists(Paths.get(path + "__stage")), "stage dir must be cleaned up")
    val out = BucketedMerge.read(spark, path)
    assert(out.count() == 100)
    assert(out.where($"id" === 5L).head().getString(2) == "upd")
  }

  /** Plants the crash window between a bucket's rename-aside and its
    * swap-in (the bucket's only copy is under `__old`), then merges one new
    * key: into another bucket, or into the crashed one.
    */
  private def crashThenMerge(label: String, intoCrashedBucket: Boolean): Unit = {
    val root = tmpDir(label)
    val path = s"$root/t"
    val base = (1L to 400L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s")
    BucketedMerge.replace(spark, base, path, hints, numBuckets = 8)

    val victim = Files.list(Paths.get(path)).toArray.map(_.toString)
      .filter(_.contains("_bucket=")).sorted.head
    val victimBucket = victim.split("_bucket=")(1).toInt
    val oldDir = Paths.get(path + s"__old/_bucket=$victimBucket")
    Files.createDirectories(oldDir.getParent)
    Files.move(Paths.get(victim), oldDir)
    val lostIds = spark.read.parquet(oldDir.toString).select("id").as[Long].collect().toSet
    assert(lostIds.nonEmpty)

    val newId = (10000L to 11000L).toDF("id")
      .select($"id", BucketedMerge.bucketExpr(Seq("id"), 8).as("b"))
      .where(if (intoCrashedBucket) $"b" === victimBucket else $"b" =!= victimBucket)
      .as[(Long, Int)].head()._1
    // through TableWriter, the one caller of BucketedMerge.merge: its leased
    // section repairs the crashed bucket before the merge reads
    TableWriter.write(spark, Seq((newId, 1L, "new")).toDF("id", "v", "s"), root,
      hints.copy(bucketCount = Some(8)))
    val out = BucketedMerge.read(spark, path)
    assert(out.count() == 401)
    assert(lostIds.subsetOf(out.select("id").as[Long].collect().toSet),
      "rows whose only copy was under __old must survive the next merge")
    assert(!Files.exists(Paths.get(path + "__old")))
  }

  test("crash between rename-aside and swap-in: next merge resurrects the __old bucket") {
    crashThenMerge("bucketed-crash", intoCrashedBucket = false)
  }

  test("crash between rename-aside and swap-in, next batch touching the crashed bucket: no row lost") {
    crashThenMerge("bucketed-crash-touched", intoCrashedBucket = true)
  }

  test("schema-evolving merge: untouched buckets keep old files, read unifies with null backfill") {
    val root = tmpDir("bucketed-evolve")
    val path = s"$root/t"
    val base = (1L to 200L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s")
    BucketedMerge.replace(spark, base, path, hints, numBuckets = 8)

    // update batch carries a NEW column; only its buckets are rewritten
    val updates = Seq((5L, 2L, "upd", "extra")).toDF("id", "v", "s", "note")
    BucketedMerge.merge(spark, updates, path, hints, 8)

    val out = BucketedMerge.read(spark, path)
    assert(out.columns.toSet == Set("id", "v", "s", "note"))
    assert(out.count() == 200)
    assert(out.where($"id" === 5L).head().getAs[String]("note") == "extra")
    assert(out.where($"id" === 6L).head().isNullAt(out.columns.indexOf("note")))
  }

  test("readForKeys prunes to the looked-up keys' bucket partitions") {
    val root = tmpDir("bucketed-lookup")
    val path = s"$root/t"
    val base = (1L to 500L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s")
    BucketedMerge.replace(spark, base, path, hints, numBuckets = 16)

    val lookup = Seq(5L, 6L).toDF("id")
    val df = BucketedMerge.readForKeys(spark, path, Seq("id"), 16, lookup)
    df.collect()
    assert(df.select("id").as[Long].collect().toSet == Set(5L, 6L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_bucket"),
      "the scan must prune on the bucket partition column:\n" + plan.take(1500))
  }

  test("first merge on a missing table bootstraps the layout") {
    val root = tmpDir("bucketed-boot")
    val path = s"$root/t"
    BucketedMerge.merge(spark, Seq((1L, 1L, "a")).toDF("id", "v", "s"), path, hints, 8)
    assert(BucketedMerge.read(spark, path).count() == 1)
    assert(spark.read.parquet(path).columns.contains(BucketedMerge.BucketCol))
  }
}

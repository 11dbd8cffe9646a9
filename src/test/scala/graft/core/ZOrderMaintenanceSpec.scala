package graft.core

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** OPTIMIZE-style z-order re-cluster: content-preserving staged rewrite
  * whose layout actually prunes a 2-D box scan.
  */
class ZOrderMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("optimizeZOrder preserves content, honors file count, and prunes box scans") {
    val dir = tmpDir("graft_zopt")
    val path = s"$dir/t"
    val df = spark.range(20000).select(
      (col("id") * 37 % 1000).as("a"), (col("id") * 91 % 1000).as("b"), col("id").as("v"))
    df.repartition(16).write.parquet(path) // natural layout: every file spans everything
    val before = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

    val (rows, files) = TableMaintenance.optimizeZOrder(spark, path, Seq("a", "b"),
      bits = 12, numFiles = 16)
    assert(rows == 20000L && files == 16)
    assert(rows == spark.read.parquet(path).count(), "the footer row count is the table's count")
    val after = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    assert(after == before) // content untouched, z column not leaked
    assert(!spark.read.parquet(path).columns.contains("z_value"))

    // the layout guarantee: a selective 2-D box decodes far fewer rows
    // than the table (scan-node output rows = rows surviving row-group
    // min/max pruning; the natural layout would decode all 20000)
    val probe = spark.read.parquet(path)
      .filter(col("a") < 64 && col("b") < 64)
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    assert(scanned < 10000, s"z-ordered layout should prune most row groups, scanned $scanned")
  }

  test("bloomCols add parquet bloom filters: absent-key point probe decodes zero rows") {
    val dir = tmpDir("graft_zbloom")
    val path = s"$dir/t"
    // high-cardinality UNSORTED key: z/min-max stats can't help a point probe
    val df = spark.range(100000).select(
      (col("id") % 100).as("a"), (col("id") % 97).as("b"),
      (xxhash64(col("id")).bitwiseAND(Long.MaxValue) % 100000000L).as("k"))
    df.repartition(8).write.parquet(path)
    val (rows, _) = TableMaintenance.optimizeZOrder(spark, path, Seq("a", "b"),
      bits = 8, numFiles = 8, bloomCols = Seq("k"), bloomNdv = 100000L)
    assert(rows == 100000L && rows == spark.read.parquet(path).count())
    val probe = spark.read.parquet(path).filter(col("k") === 31337L)
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    assert(scanned == 0L, s"bloom filter should skip every row group, scanned $scanned")
  }

  test("optimizeZOrder excludes concurrent writers via the table lease") {
    val dir = tmpDir("graft_zopt_lock")
    val path = s"$dir/t"
    spark.range(100).select(col("id").as("a"), col("id").as("b")).write.parquet(path)
    TableLock.withLock(spark, path, owner = "someone-else") {
      intercept[TableLock.LockHeldException] {
        TableMaintenance.optimizeZOrder(spark, path, Seq("a", "b"))
      }
    }
  }
}

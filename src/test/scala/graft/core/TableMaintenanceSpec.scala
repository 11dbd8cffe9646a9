package graft.core

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class TableMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def fsFor(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(path: String): Seq[String] =
    fsFor(path).listStatus(new Path(path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)

  private def landSmallFiles(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      (i * 100 until (i + 1) * 100).map(j => (j.toLong, s"v$j"))
        .toDF("id", "v").repartition(1)
        .write.mode("append").parquet(dir)
    }

  test("compact bin-packs small files and preserves content exactly") {
    val dir = tmpDir("compact")
    landSmallFiles(dir, 10)
    val before = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val (nBefore, nAfter) = TableMaintenance.compact(spark, dir,
      targetBytes = 1L << 30, minFileBytes = 1L << 30)
    assert(nBefore == 10 && nAfter == 1, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    assert(!fsFor(dir).exists(new Path(dir, ".compact_scratch")))
  }

  test("a compaction whose delete of an original returns false keeps its marker and fails naming the file; the next repair finishes it") {
    spark.sparkContext.hadoopConfiguration.set("fs.falsedelete.impl", classOf[FalseDeleteFileSystem].getName)
    val dir = tmpDir("compact_false_delete")
    landSmallFiles(dir, 3)
    val expect = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val err = intercept[java.io.IOException] {
      TableMaintenance.compact(spark, s"falsedelete://$dir", targetBytes = 1L << 30, minFileBytes = 1L << 30)
    }
    assert(err.getMessage.contains("could not delete") && err.getMessage.contains(dir), err.getMessage)
    val fs = fsFor(dir)
    assert(fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_compacting_")),
      "the marker must stay while an original it replaced is still there")
    // the next leased pass replays the marker before it plans: each row once
    TableMaintenance.compact(spark, dir, targetBytes = 1L << 30, minFileBytes = 1L << 30)
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith("_compacting_")))
    val rows = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == expect.size && rows.toSet == expect, s"${rows.size} rows of ${expect.size}")
  }

  test("right-sized files are left alone; a lone small file is not rewritten") {
    val dir = tmpDir("compact_skip")
    landSmallFiles(dir, 1)
    val names = parquetFiles(dir)
    // minFileBytes=0: nothing is 'small' → no-op
    val (b0, a0) = TableMaintenance.compact(spark, dir, minFileBytes = 0L)
    assert(b0 == a0 && parquetFiles(dir) == names)
    // everything 'small' but a single-member bin → still untouched
    val (b1, a1) = TableMaintenance.compact(spark, dir,
      targetBytes = 1L << 30, minFileBytes = 1L << 30)
    assert(b1 == a1 && parquetFiles(dir) == names)
  }

  test("repair finishes an interrupted protocol from the marker, both directions") {
    val dir = tmpDir("compact_repair")
    landSmallFiles(dir, 2)
    val fs = fsFor(dir)
    val origs = parquetFiles(dir)
    val expect = spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // crash AFTER the new file landed, BEFORE originals were deleted:
    // a combined copy is in place alongside the originals + marker
    spark.read.parquet(dir).coalesce(1).write.parquet(s"$dir/.compact_scratch/bin_0")
    val produced = fs.listStatus(new Path(s"$dir/.compact_scratch/bin_0"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val marker = new Path(dir, "_compacting_test1")
    val out = fs.create(marker, false)
    out.write(("compacted-test1.parquet" +: origs).mkString("\n").getBytes("UTF-8")); out.close()
    fs.rename(produced, new Path(dir, "compacted-test1.parquet"))
    // table now holds every row twice (readers are fenced by the
    // single-writer model); repair must delete the replaced originals
    TableMaintenance.repair(spark, dir)
    assert(!fs.exists(marker))
    assert(parquetFiles(dir) == Seq("compacted-test1.parquet"))
    assert(spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet == expect)

    // crash BEFORE the rename: marker present, new file absent → originals stay
    val marker2 = new Path(dir, "_compacting_test2")
    val out2 = fs.create(marker2, false)
    out2.write("compacted-test2.parquet\ncompacted-test1.parquet".getBytes("UTF-8")); out2.close()
    TableMaintenance.repair(spark, dir)
    assert(!fs.exists(marker2))
    assert(parquetFiles(dir) == Seq("compacted-test1.parquet"))
    assert(spark.read.parquet(dir).collect().map(r => (r.getLong(0), r.getString(1))).toSet == expect)
  }

  test("repair tolerates a zero-length marker (defense in depth) without wedging the table") {
    val dir = tmpDir("compact_empty_marker")
    landSmallFiles(dir, 2)
    val fs = fsFor(dir)
    val names = parquetFiles(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, "_compacting_trunc"), false).close()
    TableMaintenance.repair(spark, dir) // must not throw
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_compacting_trunc")))
    assert(parquetFiles(dir) == names) // originals untouched
    // and compaction proceeds normally afterwards
    val (b, a) = TableMaintenance.compact(spark, dir,
      targetBytes = 1L << 30, minFileBytes = 1L << 30)
    assert(b == 2 && a == 1)
  }

  test("a merge after a crashed compaction finishes the compaction first: no key is kept twice") {
    val root = tmpDir("compact_then_merge")
    val dir = s"$root/t"
    landSmallFiles(dir, 2)
    val fs = fsFor(dir)
    // the compaction died after renaming its output in, before deleting
    // the originals: every row is in the table twice
    val origs = parquetFiles(dir)
    spark.read.parquet(dir).coalesce(1).write.parquet(s"$dir/.compact_scratch/bin_0")
    val produced = fs.listStatus(new Path(s"$dir/.compact_scratch/bin_0"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val marker = new Path(dir, "_compacting_crashed")
    val out = fs.create(marker, false)
    out.write(("compacted-crashed.parquet" +: origs).mkString("\n").getBytes("UTF-8")); out.close()
    fs.rename(produced, new Path(dir, "compacted-crashed.parquet"))

    TableWriter.write(spark, Seq((5L, "new")).toDF("id", "v"), root,
      TableHints("t", Disposition.Merge, primaryKey = Seq("id")))
    val rows = spark.read.parquet(dir).select("id", "v").as[(Long, String)].collect().toSeq
    val (n, keys) = (rows.size, rows.map(_._1).distinct.size)
    assert(n == 200 && keys == 200, s"$n rows of $keys keys after the merge")
    assert(rows.toMap.apply(5L) == "new")
  }

  test("a crashed compaction of a partition is replayed from its marker at the table root") {
    val dir = tmpDir("compact_part_crash")
    (0 until 2).foreach { b =>
      (0 until 2).foreach { i =>
        (i * 50 until (i + 1) * 50).map(j => (j.toLong, b.toLong)).toDF("id", "batch_id")
          .repartition(1).write.mode("append").partitionBy("batch_id").parquet(dir)
      }
    }
    val fs = fsFor(dir)
    val leaf = s"$dir/batch_id=1"
    val origs = parquetFiles(leaf)
    spark.read.parquet(leaf).coalesce(1).write.parquet(s"$leaf/.compact_scratch/bin_0")
    val produced = fs.listStatus(new Path(s"$leaf/.compact_scratch/bin_0"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val marker = new Path(dir, "_compacting_crashed")
    val out = fs.create(marker, false)
    out.write(("compacted-crashed.parquet" +: origs).map("batch_id=1/" + _).mkString("\n").getBytes("UTF-8"))
    out.close()
    fs.rename(produced, new Path(leaf, "compacted-crashed.parquet"))
    assert(spark.read.parquet(dir).count() == 300)

    TableMaintenance.repair(spark, dir)
    assert(!fs.exists(marker))
    assert(parquetFiles(leaf) == Seq("compacted-crashed.parquet"))
    val rows = spark.read.parquet(dir).select("id", "batch_id").as[(Long, Long)].collect().toSeq
    assert(rows.size == 200 && rows.distinct.size == 200)
  }

  test("compact repairs leftover markers before planning new bins") {
    val dir = tmpDir("compact_auto")
    landSmallFiles(dir, 3)
    val fs = fsFor(dir)
    val marker = new Path(dir, "_compacting_stale")
    val out = fs.create(marker, false)
    out.write("never-landed.parquet\nalso-gone.parquet".getBytes("UTF-8")); out.close()
    val (b, a) = TableMaintenance.compact(spark, dir,
      targetBytes = 1L << 30, minFileBytes = 1L << 30)
    assert(b == 3 && a == 1)
    assert(!fs.exists(marker))
  }
}

/** A local filesystem whose every delete returns false and deletes
  * nothing, as `FileSystem.delete` may on failure. Registered under the
  * `falsedelete` scheme by the spec.
  */
class FalseDeleteFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("falsedelete:///")
  override def delete(p: Path, recursive: Boolean): Boolean = false
}

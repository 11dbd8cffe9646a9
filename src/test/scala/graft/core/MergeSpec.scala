package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class MergeSpec extends SparkTestBase {
  import spark.implicits._

  private def hints = TableHints(
    "t", disposition = Disposition.Merge,
    primaryKey = Seq("id"), dedupSort = Some(("v", true)))

  test("dedupeBatch keeps the max dedup_sort row per key") {
    val updates = Seq((1L, 1L, "old"), (1L, 5L, "new"), (2L, 3L, "only")).toDF("id", "v", "s")
    val out = MergeEngine.dedupeBatch(updates, Seq("id"), Some(("v", true)))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out == Map(1L -> "new", 2L -> "only"))
  }

  test("upsert: updates replace, inserts append, untouched rows survive") {
    val base = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "v", "s")
    val updates = Seq((2L, 2L, "b2"), (3L, 1L, "c")).toDF("id", "v", "s")
    val out = MergeEngine.mergePlan(Some(base), updates, hints)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("hard delete removes the key entirely") {
    val base = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "v", "s")
    val updates = Seq((2L, 2L, "dead"), (3L, 1L, "c")).toDF("id", "v", "s")
      .withColumn("deleted_ts", when($"s" === "dead", current_timestamp()))
    val out = MergeEngine.mergePlan(Some(base), updates, hints.copy(hardDeleteCol = Some("deleted_ts")))
    assert(!out.columns.contains("deleted_ts"))
    assert(out.collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("delete marker wins only when it is the latest row for the key") {
    val updates = Seq((1L, 5L, "live", false), (1L, 9L, "dead", true)).toDF("id", "v", "s", "dead")
      .withColumn("deleted_ts", when($"dead", current_timestamp())).drop("dead")
    val out = MergeEngine.mergePlan(None, updates, hints.copy(hardDeleteCol = Some("deleted_ts")))
    assert(out.count() == 0)
  }

  test("schema evolution: new columns appear null-backfilled, types widen") {
    val base = Seq((1L, 1L, 10)).toDF("id", "v", "n")          // n: int
    val updates = Seq((2L, 1L, 99999999999L, "x")).toDF("id", "v", "n", "extra") // n: long
    val out = MergeEngine.mergePlan(Some(base), updates, hints)
    assert(out.schema("n").dataType == LongType)
    assert(out.schema("extra").dataType == StringType)
    val row1 = out.where($"id" === 1).head()
    assert(row1.isNullAt(out.columns.indexOf("extra")))
  }

  test("widen lattice") {
    assert(MergeEngine.widen(IntegerType, LongType) == LongType)
    assert(MergeEngine.widen(LongType, DoubleType) == DoubleType)
    assert(MergeEngine.widen(DecimalType(10, 2), DecimalType(12, 4)) == DecimalType(12, 4))
    assert(MergeEngine.widen(DecimalType(10, 8), DecimalType(12, 2)) == DecimalType(18, 8))
    assert(MergeEngine.widen(DateType, TimestampType) == TimestampType)
    assert(MergeEngine.widen(StringType, LongType) == StringType)
  }

  test("pk-less merge degrades to append") {
    val base = Seq((1L, 1L, "a")).toDF("id", "v", "s")
    val updates = Seq((1L, 2L, "a2")).toDF("id", "v", "s")
    val out = MergeEngine.mergePlan(Some(base), updates, hints.copy(primaryKey = Nil, mergeKey = Nil))
    assert(out.count() == 2)
  }

  test("TableWriter round-trips all three dispositions") {
    val root = tmpDir("graft-writer")
    val df1 = Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("id", "v", "s")
    val df2 = Seq((2L, 2L, "b2"), (3L, 1L, "c")).toDF("id", "v", "s")

    TableWriter.write(spark, df1, root, hints.copy(disposition = Disposition.Append))
    TableWriter.write(spark, df2, root, hints.copy(disposition = Disposition.Append))
    assert(spark.read.parquet(s"$root/t").count() == 4)

    TableWriter.write(spark, df1, root, hints.copy(disposition = Disposition.Replace))
    assert(spark.read.parquet(s"$root/t").count() == 2)

    TableWriter.write(spark, df2, root, hints)
    val merged = spark.read.parquet(s"$root/t")
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(merged == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("scd2 snapshots: change closes+opens, departure closes, arrival opens, unchanged rides") {
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val t1 = T("2024-01-01 00:00:00"); val t2 = T("2024-02-01 00:00:00"); val t3 = T("2024-03-01 00:00:00")

    val s1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val day1 = MergeEngine.scd2Apply(None, s1, Seq("id"), t1)
    assert(day1.filter($"_valid_to".isNotNull).count() == 0)

    // day2: 1 unchanged, 2 changed, 3 departed, 4 new
    val s2 = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    val day2 = MergeEngine.scd2Apply(Some(day1), s2, Seq("id"), t2)
    val rows = day2.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2), Option(r.getTimestamp(3)))).toSet
    assert(rows == Set(
      (1L, "a", t1, None),       // unchanged: original window still open
      (2L, "b", t1, Some(t2)),   // changed: old version closed at t2
      (2L, "B", t2, None),       //          new version open from t2
      (3L, "c", t1, Some(t2)),   // departed: closed, no successor
      (4L, "d", t2, None),       // arrived: open from t2
    ))

    // day3 reverts 2 to "b": history keeps all three versions of key 2
    val s3 = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("id", "v")
    val day3 = MergeEngine.scd2Apply(Some(day2), s3, Seq("id"), t3)
    assert(day3.filter($"id" === 2L).count() == 3)
    assert(day3.filter($"id" === 2L && $"_valid_to".isNull).head().getString(1) == "b")
    // closed history is immutable across applications
    assert(day3.filter($"id" === 3L).head().getTimestamp(3) == t2)
  }

  test("append batches with evolved schemas read back with all columns, null-backfilled") {
    val root = tmpDir("append-evolve")
    val h = TableHints("t", Disposition.Append)
    TableWriter.write(spark, Seq((1L, "a")).toDF("id", "s"), root, h)
    TableWriter.write(spark, Seq((2L, "b", 9.5)).toDF("id", "s", "score"), root, h)
    val back = TableWriter.readIfExists(spark, s"$root/t").get
    assert(back.columns.toSet == Set("id", "s", "score"),
      "a new column appended later must be visible, not silently dropped")
    val rows = back.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }

  test("append that widens a column type migrates the table once (int→double)") {
    val root = tmpDir("append-widen")
    val h = TableHints("t", Disposition.Append)
    TableWriter.write(spark, Seq((1L, 2L)).toDF("id", "v"), root, h)
    TableWriter.write(spark, Seq((2L, 2.5)).toDF("id", "v"), root, h)
    val back = TableWriter.readIfExists(spark, s"$root/t").get
    assert(back.schema("v").dataType.typeName == "double")
    assert(back.orderBy("id").select("v").collect().map(_.getDouble(0)).toSeq == Seq(2.0, 2.5))
    // and a narrowing batch casts INTO the widened table without migration
    TableWriter.write(spark, Seq((3L, 7L)).toDF("id", "v"), root, h)
    val back2 = TableWriter.readIfExists(spark, s"$root/t").get
    assert(back2.count() == 3 && back2.schema("v").dataType.typeName == "double")
  }

  test("scd2 through TableWriter: disposition routing, lineage columns don't churn windows") {
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    val root = tmpDir("scd2-writer")
    val h = TableHints("dim", Disposition.Scd2, primaryKey = Seq("id"),
      scd2LoadTs = Some(T("2024-01-01 00:00:00")))

    val s1 = Seq((1L, "a", "load-1"), (2L, "b", "load-1")).toDF("id", "v", "_dlt_load_id")
    TableWriter.write(spark, s1, root, h)

    // run 2: same payloads, NEW load id — windows must not close
    val s2 = Seq((1L, "a", "load-2"), (2L, "B", "load-2")).toDF("id", "v", "_dlt_load_id")
    TableWriter.write(spark, s2, root, h.copy(scd2LoadTs = Some(T("2024-02-01 00:00:00"))))

    val out = spark.read.parquet(s"$root/dim")
    assert(out.filter($"id" === 1L).count() == 1, "unchanged payload: load-id change alone must not version")
    assert(out.filter($"id" === 2L).count() == 2, "changed payload versions")
    assert(out.filter($"id" === 2L && $"_valid_to".isNull).head().getString(1) == "B")
  }

  test("crash between a merge swap's two renames: the next merge keeps every old row") {
    val root = tmpDir("merge-crash")
    TableWriter.write(spark, (1L to 100L).map(i => (i, 1L, s"s$i")).toDF("id", "v", "s"), root, hints)
    // the window between rename-aside and swap-in: the table's only copy is aside
    Files.move(Paths.get(s"$root/t"), Paths.get(s"$root/t__old"))

    TableWriter.write(spark, Seq((1000L, 1L, "new")).toDF("id", "v", "s"), root, hints)
    val out = spark.read.parquet(s"$root/t")
    assert(out.count() == 101)
    assert(out.where($"id" === 7L).head().getString(2) == "s7")
    assert(!Files.exists(Paths.get(s"$root/t__old")))
  }

  test("a swap that crashed after its swap-in: the next write drops the superseded copy") {
    val root = tmpDir("merge-crash-late")
    TableWriter.write(spark, Seq((1L, 2L, "new")).toDF("id", "v", "s"), root,
      hints.copy(disposition = Disposition.Replace))
    // the superseded table left aside was bucketed: its partition dirs are
    // not the unpartitioned table's missing pieces
    BucketedMerge.replace(spark, (1L to 50L).map(i => (i, 1L, s"old$i")).toDF("id", "v", "s"),
      s"$root/t__old", hints, numBuckets = 4)

    TableWriter.write(spark, Seq((2L, 1L, "b")).toDF("id", "v", "s"), root,
      hints.copy(disposition = Disposition.Append))
    assert(spark.read.parquet(s"$root/t").count() == 2)
    assert(!Files.exists(Paths.get(s"$root/t__old")))
  }
}

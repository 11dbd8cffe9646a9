package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Dedup

/** Continuous exact-substring dedup: the streaming form of
  * [[Dedup.removeDuplicateSpans]]. Each micro-batch cuts every k-gram
  * window that (a) occurred in ANY earlier batch — probed against the
  * persisted gram index — or (b) duplicates an earlier (id, pos) window
  * within the batch itself, lands the rewritten documents, and appends
  * its OWN distinct new grams to the index. A stream arriving in
  * ascending id order therefore lands exactly what the batch operator
  * would produce over the whole corpus (the same equivalence the
  * near-dup StreamingDedupSink pins), and every span survives in
  * exactly one copy across the entire stream's lifetime.
  *
  * Scale shape per batch: the batch's gram keys are distinct-projected
  * and count-gated to broadcast, so the index — which is corpus-sized,
  * as any exact-substring structure must be — is read in ONE
  * left-semi/anti pass per batch (the same trade the incremental LSH
  * index makes); everything else is the linear span-removal plan. Gram
  * keys are xxhash64 of the gram string: 8-byte index rows instead of
  * text, at astronomically-small deterministic collision risk.
  *
  * Idempotence is the probe-then-append discipline of the growing IVF
  * index: BOTH the results and the index delta land in `batch_id=N`
  * partitions with dynamic partition overwrite, and the probe reads
  * strictly `batch_id < batchId` — so a batch re-delivered after a
  * crash between write and checkpoint commit neither sees its own
  * half-landed grams nor duplicates its rows; the replay's cut
  * decisions and output are bit-identical.
  *
  * The gram index is a growing table like any other: each batch's
  * probe-then-append runs under the [[graft.core.TableLock]] lease on
  * `indexPath` (bounded wait), so table maintenance — a
  * `TableMaintenance.compact` of the index's small per-batch files,
  * which takes the same lease — can never interleave its rewrite with
  * a live batch's probe or delta append.
  */
object StreamingSpanDedup {

  private val BatchLockWaitMs = 10L * 60 * 1000

  private def gramKeys(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    val idx = when(size(ws) >= k, sequence(lit(0), size(ws) - k))
      .otherwise(array().cast("array<int>"))
    df.select(col(idCol).as("__id"),
      posexplode(transform(idx, i => xxhash64(concat_ws(" ", slice(ws, i + 1, lit(k)))))))
      .toDF("__id", "__pos", "__g")
  }

  /** Gram table dir of the current committed generation (spec access). */
  private[graft] def subDir(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, sub: String = "grams"): String =
    graft.core.Generations.resolve(spark, indexPath, sub)

  /** Process one micro-batch: cut seen/duplicate spans, land rewritten
    * docs under `outPath/batch_id=<id>`, append new grams to
    * `indexPath`.
    */
  def landBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      k: Int,
      outPath: String,
      indexPath: String,
      broadcastRowCap: Long = 4000000L,
  ): Unit = graft.core.TableLock.withLock(batch.sparkSession, indexPath,
    owner = s"span-dedup-batch:${java.util.UUID.randomUUID()}",
    waitMs = BatchLockWaitMs) {
    val spark = batch.sparkSession
    // grams live in per-generation dirs (grams@gN) committed by an
    // atomic marker; the first batch seeds generation 0 and commits it
    // after its delta lands (a crash before the commit replays cleanly:
    // the replayed delta overwrites its own partition, then commits)
    val genOpt = graft.core.Generations.current(spark, indexPath)
    val gramsDir = graft.core.Generations.dir(indexPath, "grams", genOpt.getOrElse(0L))
    val haveIndex = genOpt.isDefined
    val grams = gramKeys(batch, idCol, textCol, k).localCheckpoint(true)
    val batchGramSet = grams.select("__g").distinct().localCheckpoint(true)
    val nKeys = batchGramSet.count()
    def gate(df: DataFrame): DataFrame =
      if (nKeys <= broadcastRowCap) broadcast(df) else df.hint("shuffle_hash")
    // grams already published by earlier batches: ONE pass over the index,
    // batch keys broadcast into it
    val seen =
      if (haveIndex)
        spark.read.parquet(gramsDir)
          .filter(col("batch_id") < batchId) // probe-then-append: never see own/future deltas
          .select("__g")
          .join(gate(batchGramSet), Seq("__g"), "left_semi")
          .distinct().localCheckpoint(true)
      else spark.emptyDataFrame.select(lit(0L).as("__g")).filter(lit(false))
    val first = grams.groupBy(col("__g"))
      .agg(min(struct(col("__id").as("__fid"), col("__pos").as("__fpos"))).as("__first"))
    val cutPos = grams
      .join(gate(seen.select(col("__g"), lit(1).as("__seen"))), Seq("__g"), "left")
      .join(first, Seq("__g"))
      .filter(col("__seen").isNotNull ||
        !(col("__first.__fid") === col("__id") && col("__first.__fpos") === col("__pos")))
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + k - 1)).as("__wp"))
      .distinct()
    Dedup.cutAndReassemble(batch, idCol, textCol, cutPos)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
    // the batch's distinct grams become "seen" for every later batch;
    // own-partition overwrite keeps replays idempotent
    batchGramSet.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(gramsDir)
    if (genOpt.isEmpty) graft.core.Generations.commit(spark, indexPath, 0L)
  }

  /** Gram-index OPTIMIZE: distinct-merge every delta partition strictly
    * below `upToBatch` into the `batch_id=-1` seed. Batches re-publish
    * grams earlier batches already hold (each appends its OWN distinct
    * set), so the index grows with per-batch overlap; the merge
    * collapses it to the true gram set — probe results for every batch
    * >= upToBatch are IDENTICAL (semi-join membership is preserved) and
    * the one index pass per trigger reads fewer, larger partitions.
    *
    * `upToBatch` MUST not exceed the stream's last COMMITTED batch id:
    * a committed batch is never re-delivered, but a replayed
    * (uncommitted) batch whose own partition had been merged into the
    * seed would see its own grams as "seen" and cut differently.
    * Runs under the same index lease as the per-batch probe-then-append
    * (and `TableMaintenance.compactPartitioned`), so the generation
    * flip can never drop an in-flight delta. Deliberately asymmetric
    * wait: batches queue (bounded) behind an in-flight optimize, but an
    * optimize racing a live batch fails FAST (`waitMs = 0`) — a
    * maintenance verb should report contention, not stall a job slot.
    */
  def optimizeIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      upToBatch: Long): Unit =
    graft.core.TableLock.withLock(spark, indexPath,
      owner = s"span-dedup-optimize:${java.util.UUID.randomUUID()}") {
      // write the merged NEXT generation, then commit it with one atomic
      // marker create — no staged swap, and any concurrent unleased
      // reader keeps scanning the old generation (GC keeps it one more
      // optimize and Generations.GraceMs) instead of hitting a
      // half-replaced directory
      val gen = graft.core.Generations.currentOrFail(spark, indexPath)
      val all = spark.read.parquet(graft.core.Generations.dir(indexPath, "grams", gen))
      val merged = all.filter(col("batch_id") < upToBatch)
        .select("__g").distinct()
        .withColumn("batch_id", lit(-1L))
        .unionByName(all.filter(col("batch_id") >= upToBatch))
      merged.write.mode("overwrite").partitionBy("batch_id")
        .parquet(graft.core.Generations.dir(indexPath, "grams", gen + 1))
      graft.core.Generations.commit(spark, indexPath, gen + 1)
      graft.core.Generations.gc(spark, indexPath, gen + 1)
    }

  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      outPath: String,
      indexPath: String,
      checkpoint: String,
  ): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, idCol, textCol, k, outPath, indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}

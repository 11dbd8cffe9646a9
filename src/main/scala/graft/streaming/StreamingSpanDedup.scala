package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Disposition, TableHints}
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
  * The gram index is the [[graft.core.TableManifest]] table `grams`
  * (`__g`, `batch_id`) under `indexPath`, and each batch is ONE publish:
  * it reads the committed grams under the table's lease, probing
  * strictly `batch_id < batchId`, lands the rewritten documents in
  * `outPath/batch_id=N` (dynamic partition overwrite), lands its own
  * distinct grams as one delta and commits once. A batch re-delivered
  * after a crash between the commit and the checkpoint commit neither
  * sees its own grams nor lands them twice: one check for `batch_id =
  * N` finds its committed delta, and its results overwrite their own
  * partition bit-identically. The manifest's merge bounds the index's
  * per-batch deltas ([[graft.core.TableManifest#Publish.land]]).
  * A batch that meets an optimize's lease retries its publish (bounded
  * wait); `indexPath` must be a local filesystem path, as for every
  * manifest.
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
  ): Unit = IndexManifest(batch.sparkSession, indexPath)
    .publishing(s"span-dedup-batch:${java.util.UUID.randomUUID()}", BatchLockWaitMs) { pub =>
    val spark = batch.sparkSession
    val index = pub.read("grams")
    val grams = gramKeys(batch, idCol, textCol, k).localCheckpoint(true)
    val batchGramSet = grams.select("__g").distinct().localCheckpoint(true)
    val nKeys = batchGramSet.count()
    def gate(df: DataFrame): DataFrame =
      if (nKeys <= broadcastRowCap) broadcast(df) else df.hint("shuffle_hash")
    // grams already published by earlier batches: ONE pass over the index,
    // batch keys broadcast into it
    val seen = index.fold(spark.emptyDataFrame.select(lit(0L).as("__g")).filter(lit(false))) {
      _.filter(col("batch_id") < batchId) // probe-then-append: never see own/future deltas
        .select("__g")
        .join(gate(batchGramSet), Seq("__g"), "left_semi")
        .distinct().localCheckpoint(true)
    }
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
    // the batch's distinct grams become "seen" for every later batch; a
    // re-delivered batch whose delta is committed lands nothing
    if (nKeys > 0 && index.forall(_.filter(col("batch_id") === batchId).isEmpty))
      pub.land(batchGramSet.withColumn("batch_id", lit(batchId)), TableHints("grams", Disposition.Append))
  }

  /** Gram-index OPTIMIZE: distinct-merge every delta strictly below
    * `upToBatch` into the `batch_id=-1` seed. Batches re-publish grams
    * earlier batches already hold (each appends its OWN distinct set), so
    * the index grows with per-batch overlap; the merge collapses it to
    * the true gram set — probe results for every batch >= upToBatch are
    * IDENTICAL (semi-join membership is preserved) and the one index pass
    * per trigger reads fewer rows.
    *
    * `upToBatch` MUST not exceed the stream's last COMMITTED batch id:
    * a committed batch is never re-delivered, but a replayed
    * (uncommitted) batch whose own delta had been merged into the seed
    * would see its own grams as "seen" and cut differently.
    * One publish of a `Replace` land, under the same `grams` lease as
    * the per-batch probe-then-append, so it can never drop an in-flight
    * delta; an unleased reader keeps the generations it resolved for the
    * manifest's reader grace. Deliberately asymmetric wait: batches queue
    * (bounded) behind an in-flight optimize, but an optimize racing a
    * live batch fails FAST — a maintenance verb should report
    * contention, not stall a job slot.
    */
  def optimizeIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      upToBatch: Long): Unit =
    IndexManifest(spark, indexPath).publishing(s"span-dedup-optimize:${java.util.UUID.randomUUID()}") { pub =>
      val all = pub.read("grams").getOrElse(throw IndexManifest.unbuilt(indexPath))
      val merged = all.filter(col("batch_id") < upToBatch)
        .select("__g").distinct()
        .withColumn("batch_id", lit(-1L))
        .unionByName(all.filter(col("batch_id") >= upToBatch))
      pub.land(merged, TableHints("grams", Disposition.Replace))
    }

  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      outPath: String,
      indexPath: String,
      checkpoint: String,
  ): StreamingQuery = {
    IndexManifest(docs.sparkSession, indexPath) // refuse a pre-manifest root before the first batch
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, idCol, textCol, k, outPath, indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.{TableHints, TableWriter}

/** Streaming merge sink: applies the engine's merge disposition per
  * micro-batch via foreachBatch — the continuous form of the reference's
  * bounded pull-then-merge loop (each micro-batch is exactly one
  * reference-style batch: dedup_sort within the batch, upsert against the
  * table, hard deletes honored). Each micro-batch is one
  * [[graft.core.TableWriter.write]], so it holds the table lease and runs
  * the staged swap's crash repair before it reads. With a bucketCount hint
  * each micro-batch rewrites only its touched buckets, which is what makes
  * a long-running stream against a 100 TB table sustainable.
  */
object StreamingMergeSink {

  /** Start the sink. `availableNow=true` processes the current backlog and
    * stops (the reference's batch semantics on the streaming engine);
    * false runs continuously with the given trigger interval.
    */
  def start(
      stream: DataFrame,
      destRoot: String,
      hints: TableHints,
      checkpointDir: String,
      availableNow: Boolean = true,
      triggerIntervalMs: Long = 10000,
  ): StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          TableWriter.write(batch.sparkSession, batch, destRoot, hints)
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(triggerIntervalMs)))
      .start()
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.{Disposition, TableHints, TableManifest}
import graft.ops.Dedup

/** Continuously-deduplicating corpus sink: each micro-batch runs the full
  * incremental-dedup cycle against the PERSISTED corpus + LSH index
  * (`Dedup.incrementalDedup`) — drop docs near-duplicating the published
  * corpus, collapse batch-internal duplicates, append the survivors to the
  * corpus table and their band rows to the index table. Work per batch is
  * O(batch) signatures + one broadcast pass over the index, never a
  * corpus recompute: the property that lets a crawl stream dedup into a
  * growing corpus indefinitely. The first batch bootstraps both tables.
  *
  * Both tables are [[TableManifest]] tables under `root` (`corpus` and
  * `index`; read them with `TableManifest.read`), and each non-empty batch
  * is ONE publish: it reads both tables under the publish's table leases,
  * lands the survivors and their band rows as two appends, and commits
  * once. A crash anywhere before the commit leaves both tables as they
  * were; a batch re-delivered after it finds its docs in the corpus and
  * drops them, so foreachBatch's at-least-once replay lands each batch
  * exactly once. The publish's writer identity is the checkpoint dir —
  * stable across restarts and unique per query — so a restarted query
  * retakes its crashed leases at once, while a second query on the same
  * root fails fast at its first read. The per-batch generations stay
  * bounded by the manifest's own merging ([[TableManifest#Publish.land]]).
  *
  * `root` must be a local filesystem path, as for every manifest: a
  * commit publishes an epoch file by a no-replace hard link. `start`
  * refuses a root whose `corpus` or `index` dir holds parquet files but
  * that has no manifest (tables written before the sink committed
  * through one).
  */
object StreamingDedupSink {

  def start(
      stream: DataFrame,
      root: String,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      numHashes: Int = 4,
      rowsPerBand: Int = 2,
      threshold: Double = 0.9,
      maxBucketSize: Int = 1000,
      availableNow: Boolean = true,
      triggerIntervalMs: Long = 10000,
  ): StreamingQuery = {
    // a corpus written before the sink committed through a manifest keeps
    // its parquet files directly in the table dir: refuse it, rather than
    // bootstrap beside it and accept its documents again
    if (new TableManifest(stream.sparkSession, root).tables.isEmpty) {
      val fs = new Path(root).getFileSystem(stream.sparkSession.sparkContext.hadoopConfiguration)
      Seq("corpus", "index").map(new Path(root, _)).filter(fs.exists).foreach { dir =>
        require(!fs.listStatus(dir).exists(_.getPath.getName.endsWith(".parquet")),
          s"$dir holds parquet files outside any manifest (no manifest epoch under $root): " +
            "the sink reads only manifest tables, so it would accept those documents again")
      }
    }
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) new TableManifest(batch.sparkSession, root).publishing(checkpointDir) { pub =>
          val tables = (pub.read("corpus"), pub.read("index"))
          // the batch feeds two jobs (vs-corpus probe + internal dedup) —
          // pin it so the streaming source isn't re-pulled per job
          val pinned = batch.localCheckpoint(true)
          val survivors = tables match {
            case (Some(corpus), Some(index)) =>
              Dedup.incrementalDedup(pinned, corpus, index, idCol, textCol,
                numHashes, rowsPerBand, threshold, maxBucketSize)._1
            case _ =>
              // bootstrap: the first batch only dedups against itself
              val inner = Dedup.nearDupPairs(pinned, idCol, textCol,
                numHashes, rowsPerBand, threshold, maxBucketSize)
              Dedup.dedupByClusters(pinned, idCol, Dedup.clusterPairs(inner))
          }
          // pinned so the corpus and index lands see the SAME rows
          val landed = survivors.localCheckpoint(true)
          pub.land(landed, TableHints("corpus", Disposition.Append))
          pub.land(Dedup.lshIndexRows(landed, idCol, textCol, numHashes, rowsPerBand),
            TableHints("index", Disposition.Append))
          ()
        }
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime(triggerIntervalMs)))
      .start()
  }
}

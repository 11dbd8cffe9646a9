package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.{Disposition, TableHints}
import graft.ops.{Embedding, Similarity}

/** Continuous retrieval: a document stream is embedded through the
  * `EmbeddingClient` seam and probed against a STATIC pre-assigned IVF
  * index, landing per-document top-k matches as they arrive — the
  * streaming form of the reference's parse → embed → index → query flow
  * (sources/unstructured_data/__init__.py:19-103), i.e. "match every new
  * crawl document against the curated corpus online".
  *
  * Per micro-batch the work is O(batch): the embed kernel is a narrow
  * mapPartitions over the batch, cell probing joins the batch's query
  * side into an equi join against the index cells — broadcast while the
  * batch is small, degrading to a shuffled hash join above
  * `broadcastRowCap` rows (a backlogged stream's first trigger can carry
  * the whole backlog; same count-gate discipline as the incremental
  * dedup path) — and the reduction is the map-side-bounded BoundedTopK.
  * The index is assigned ONCE by the caller (`Similarity.ivfAssign`,
  * checkpointed/persisted) — no per-batch index recompute, which is what
  * lets a 100 TB corpus serve an indefinite stream.
  *
  * Exactly-once landing: each micro-batch writes to its own
  * `batch_id=N` partition with dynamic partition overwrite, so a batch
  * re-delivered after a failure between the write and the streaming
  * checkpoint commit OVERWRITES its own partition instead of appending a
  * duplicate copy. Results are per-query deterministic and independent
  * of micro-batch boundaries: each query row's top-k depends only on the
  * static index, so any arrival-order/batching replays to the same
  * landed set.
  *
  * The GROWING index is two [[graft.core.TableManifest]] tables under
  * `indexPath`:
  *   vectors    (n_id, n_vec, __cell, batch_id): -1 = bootstrap/optimize
  *              seed, >= 0 = stream deltas
  *   centroids  (cell, vec) — the centroids the vectors are assigned
  *              under. Persisted with the index so a restart (or any
  *              probe) reads centroids from disk instead of trusting the
  *              caller to remember the output of the last `optimizeIndex`
  *              — stale in-memory centroids against a re-assigned index
  *              would silently mis-probe.
  *
  * Every verb is ONE publish. Bootstrap and optimize land both tables
  * as `Replace` lands that flip in one commit, so no reader pairs one
  * commit's vectors with another's centroids — an unleased reader reads
  * both from one epoch ([[readIndex]]) — and a crash anywhere inside
  * them leaves the previous index committed and consistent. Each indexed
  * micro-batch reads both tables under their leases and appends one
  * vectors delta, so an optimize can never race a live stream's delta:
  * micro-batches retry (bounded) behind an in-flight optimize, and an
  * optimize racing a batch fails fast. `indexPath` must be a local
  * filesystem path, as for every manifest.
  */
object StreamingRetrieval {

  /** How long a micro-batch queues behind an in-flight optimize before
    * failing the stream (an optimize over a 100 TB index is minutes of
    * cluster work; a crashed holder is taken over at the lease's
    * staleMs regardless).
    */
  private val BatchLockWaitMs = 10L * 60 * 1000

  /** Land one micro-batch of documents into `outPath/batch_id=<id>/`.
    * Idempotent per batchId: a replay overwrites its own partition
    * (dynamic partition overwrite — untouched batch partitions survive).
    */
  def landBatch(
      batch: DataFrame,
      batchId: Long,
      assignedIndex: DataFrame,
      idCol: String,
      textCol: String,
      centroids: Seq[(Int, Array[Double])],
      dim: Int,
      nProbe: Int,
      k: Int,
      outPath: String,
      broadcastRowCap: Long = 4000000L,
  ): Unit = {
    // localCheckpoint: the embed kernel runs once; both the count-gate
    // and the probe join read the materialized batch.
    val queries = Embedding.embedDocuments(batch, idCol, textCol, dim)
      .filter(col("embedding").isNotNull)
      .select(col(idCol).as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    Similarity.ivfTopKPreAssigned(assignedIndex, queries,
      "n_id", "n_vec", "q_id", "q_vec", centroids, nProbe, k,
      broadcastQueries = queries.count() <= broadcastRowCap)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
  }

  /** Bootstrap a GROWING index: the base corpus's `ivfAssign` output
    * lands as the `batch_id=-1` seed of `vectors` and the centroids it
    * was assigned under as `centroids`, in one publish; each later stream
    * batch appends its own delta (`landAndIndexBatch`). A re-bootstrap
    * replaces both tables, so it also heals any crashed prior
    * bootstrap/optimize.
    */
  def bootstrapIndex(assigned: DataFrame, centroids: Seq[(Int, Array[Double])],
      indexPath: String): Unit = {
    val spark = assigned.sparkSession
    IndexManifest(spark, indexPath).publishing(s"ivf-index-bootstrap:${java.util.UUID.randomUUID()}") { pub =>
      pub.land(assigned.withColumn("batch_id", lit(-1L)), TableHints("vectors", Disposition.Replace))
      pub.land(centroidRows(spark, centroids), TableHints("centroids", Disposition.Replace))
    }
  }

  /** The committed vectors and the centroids they are assigned under —
    * the ONLY correct probe centroids for them — read from ONE epoch, so
    * an unleased reader never pairs one optimize's layout with another's
    * centroids. The centroids are k rows; a driver collect by design.
    */
  def readIndex(spark: SparkSession, indexPath: String): (DataFrame, Seq[(Int, Array[Double])]) =
    IndexManifest(spark, indexPath).readAll(Seq("vectors", "centroids")) match {
      case Seq(Some(vectors), Some(centroids)) => (vectors, collectCentroids(centroids))
      case _ => throw IndexManifest.unbuilt(indexPath)
    }

  /** The committed centroids ([[readIndex]]). */
  def readCentroids(spark: SparkSession, indexPath: String): Seq[(Int, Array[Double])] =
    readIndex(spark, indexPath)._2

  private def collectCentroids(centroids: DataFrame): Seq[(Int, Array[Double])] =
    centroids.orderBy("cell").collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq

  private def centroidRows(spark: SparkSession, centroids: Seq[(Int, Array[Double])]): DataFrame =
    spark.createDataFrame(centroids.map { case (c, v) => (c, v.toSeq) }).toDF("cell", "vec").coalesce(1)

  /** One micro-batch of the crawl → probe → index loop (the reference's
    * unstructured_data ingest-then-query flow made continuous): embed the
    * batch, probe the index AS OF PRIOR BATCHES (strictly `batch_id <
    * batchId` — probe-then-append, so results are a deterministic
    * function of batch membership), land per-doc top-k, then append the
    * batch's own assigned vectors as a `batch_id=<id>` delta. Later
    * batches retrieve THIS batch's documents. Probe centroids come from
    * the index's own `centroids` table — a restart or a just-finished
    * optimize needs no caller-side state.
    *
    * One publish: vectors and centroids are read under their leases, the
    * results overwrite their own `outPath/batch_id=<id>` partition, and
    * the delta lands and commits once. A re-delivered batch therefore
    * lands no duplicate result rows, and one check for `batch_id = N`
    * finds a delta it already committed, so the index holds each batch
    * once; the probe filter keeps the replay's probe space identical.
    * Per-batch work is O(batch): the index grows but is only ever
    * equi-joined on cell, never recomputed.
    */
  def landAndIndexBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      idCol: String,
      textCol: String,
      dim: Int,
      nProbe: Int,
      k: Int,
      outPath: String,
      broadcastRowCap: Long = 4000000L,
  ): Unit = IndexManifest(batch.sparkSession, indexPath)
    .publishing(s"ivf-index-append:${java.util.UUID.randomUUID()}", BatchLockWaitMs) { pub =>
    val (vectors, centroids) = (pub.read("vectors"), pub.read("centroids")) match {
      case (Some(v), Some(c)) => (v, collectCentroids(c))
      case _ => throw IndexManifest.unbuilt(indexPath)
    }
    val emb = Embedding.embedDocuments(batch, idCol, textCol, dim)
      .filter(col("embedding").isNotNull)
      .localCheckpoint(true)
    val queries = emb.select(col(idCol).as("q_id"), col("embedding").as("q_vec"))
    val nQueries = queries.count()
    Similarity.ivfTopKPreAssigned(
      vectors.filter(col("batch_id") < batchId).select("n_id", "n_vec", "__cell"), queries,
      "n_id", "n_vec", "q_id", "q_vec", centroids, nProbe, k,
      broadcastQueries = nQueries <= broadcastRowCap)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
    if (nQueries > 0 && vectors.filter(col("batch_id") === batchId).isEmpty)
      pub.land(Similarity.ivfAssign(
        emb.select(col(idCol).as("n_id"), col("embedding").as("n_vec")), "n_vec", centroids)
        .withColumn("batch_id", lit(batchId)), TableHints("vectors", Disposition.Append))
  }

  /** Index OPTIMIZE — the IVF lifecycle's third verb next to bootstrap
    * and per-batch append, mirroring `Lexical.Index.optimize` and the
    * z-order table pass: re-train centroids on the CURRENT contents
    * (deterministic k-means: id-ordered init, fixed iterations),
    * re-assign every vector, and compact every delta into one fresh
    * `batch_id=-1` seed — `Replace` lands of vectors and centroids in one
    * publish, so every later probe (including a process restart) reads
    * the matching centroids from disk. Run it when stream growth has
    * drifted the cell balance (hot cells degrade probe pruning exactly
    * like an unbalanced LSH bucket). The wait is deliberately asymmetric:
    * batches queue (bounded) behind an in-flight optimize, but an
    * optimize racing a live batch fails FAST — a maintenance verb should
    * report contention to its operator, not silently stall a
    * cluster-sized job slot. Returns the new centroids for convenience;
    * the index's committed `centroids` table is the source of truth.
    */
  def optimizeIndex(
      spark: SparkSession,
      indexPath: String,
      k: Int,
      maxIter: Int = 5,
  ): Seq[(Int, Array[Double])] =
    IndexManifest(spark, indexPath).publishing(s"ivf-index-optimize:${java.util.UUID.randomUUID()}") { pub =>
      val all = pub.read("vectors").getOrElse(throw IndexManifest.unbuilt(indexPath))
        .select("n_id", "n_vec")
        .localCheckpoint(true) // k-means is multi-pass: materialize once
      val cents = Similarity.kmeansCentroids(all, "n_id", "n_vec", k, maxIter)
      pub.land(Similarity.ivfAssign(all, "n_vec", cents).withColumn("batch_id", lit(-1L)),
        TableHints("vectors", Disposition.Replace))
      pub.land(centroidRows(spark, cents), TableHints("centroids", Disposition.Replace))
      cents
    }

  /** Continuous retrieval over a GROWING index: each micro-batch probes
    * the corpus plus every earlier stream batch, then joins the index
    * itself. `bootstrapIndex` must have seeded `indexPath`; probe
    * centroids always come from the index's `centroids` table.
    */
  def startIndexed(
      docs: DataFrame, // streaming (idCol, textCol)
      indexPath: String, // bootstrapped growing index table
      idCol: String,
      textCol: String,
      dim: Int,
      nProbe: Int,
      k: Int,
      outPath: String,
      checkpoint: String,
      broadcastRowCap: Long = 4000000L,
  ): StreamingQuery = {
    IndexManifest(docs.sparkSession, indexPath) // refuse a pre-manifest root before the first batch
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landAndIndexBatch(batch, batchId, indexPath, idCol, textCol,
          dim, nProbe, k, outPath, broadcastRowCap)
      }
      .start()
  }

  def start(
      docs: DataFrame, // streaming (idCol, textCol)
      assignedIndex: DataFrame, // static ivfAssign output: (n_id, n_vec, __cell)
      idCol: String,
      textCol: String,
      centroids: Seq[(Int, Array[Double])],
      dim: Int,
      nProbe: Int,
      k: Int,
      outPath: String,
      checkpoint: String,
      broadcastRowCap: Long = 4000000L,
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, batchId, assignedIndex, idCol, textCol, centroids,
          dim, nProbe, k, outPath, broadcastRowCap)
      }
      .start()
}

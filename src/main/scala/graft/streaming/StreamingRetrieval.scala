package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
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
  * GROWING index layout under `indexPath` (mirrors `Lexical.Index`):
  * per-GENERATION dirs committed by an atomic `_gen.e<N>` marker (see
  * [[graft.core.Generations]]):
  *   vectors@gN/  (n_id, n_vec, __cell) partitioned by batch_id
  *                (-1 = bootstrap/optimize seed, >= 0 = stream deltas)
  *   meta@gN/     (cell, vec) — the centroids generation N's vectors
  *                are assigned under. Persisted with the index so a
  *                restart (or any probe) reads centroids from disk
  *                instead of trusting the caller to remember the output
  *                of the last `optimizeIndex` — stale in-memory
  *                centroids against a re-assigned index would silently
  *                mis-probe.
  *
  * vectors and centroids flip TOGETHER at the marker create, so a
  * reader can never pair one generation's layout with the other's
  * centroids — and a crash anywhere inside optimize leaves the previous
  * generation committed and fully consistent (the old two-directory
  * `_optimizing` fence window no longer exists; re-running the optimize
  * overwrites the orphan next-generation dirs and heals).
  *
  * Single-writer discipline: the per-batch index append and
  * `optimizeIndex` both run under the same [[graft.core.TableLock]]
  * lease keyed on `indexPath`, so an OPTIMIZE (which writes the next
  * generation and creates its marker) can never race a live stream's
  * delta append — an unlocked interleave would leave the in-flight
  * `batch_id=N` partition behind in the superseded generation. Micro-batches WAIT (bounded) for
  * an in-flight optimize rather than failing the stream.
  */
object StreamingRetrieval {

  /** How long a micro-batch queues behind an in-flight optimize before
    * failing the stream (an optimize over a 100 TB index is minutes of
    * cluster work; a crashed holder is taken over at the lease's
    * staleMs regardless).
    */
  private val BatchLockWaitMs = 10L * 60 * 1000

  private def locked[T](spark: SparkSession, indexPath: String, verb: String,
      waitMs: Long = 0L)(f: => T): T =
    graft.core.TableLock.withLock(spark, indexPath,
      owner = s"ivf-index-$verb:${java.util.UUID.randomUUID()}", waitMs = waitMs)(f)

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

  /** Sub-table dir of the current committed generation (spec access). */
  private[graft] def subDir(spark: SparkSession, indexPath: String, sub: String): String =
    graft.core.Generations.resolve(spark, indexPath, sub)

  /** Bootstrap a GROWING index table: the base corpus's `ivfAssign`
    * output lands as the `batch_id=-1` seed partition of the new
    * generation's vectors, the centroids it was assigned under land in
    * its meta, and the generation marker commits both at once; each
    * later stream batch appends its own delta partition
    * (`landAndIndexBatch`). A re-bootstrap writes (and commits) a whole
    * fresh generation, so it also heals any crashed prior
    * bootstrap/optimize.
    */
  def bootstrapIndex(assigned: DataFrame, centroids: Seq[(Int, Array[Double])],
      indexPath: String): Unit =
    // under the same lease as append/optimize: an unlocked bootstrap
    // racing a live optimize could interleave generation writes
    locked(assigned.sparkSession, indexPath, "bootstrap") {
      val spark = assigned.sparkSession
      val gen = graft.core.Generations.next(spark, indexPath)
      assigned.withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("batch_id")
        .parquet(graft.core.Generations.dir(indexPath, "vectors", gen))
      writeCentroids(spark, centroids,
        graft.core.Generations.dir(indexPath, "meta", gen))
      graft.core.Generations.commit(spark, indexPath, gen)
      graft.core.Generations.gc(spark, indexPath, gen)
    }

  /** The centroids the index's vectors are currently assigned under —
    * the ONLY correct probe centroids for this index. k rows; a driver
    * collect by design. The generation marker commits vectors and
    * centroids together, so these are always the centroids matching the
    * committed vector layout — a crashed optimize simply leaves the
    * previous generation current.
    */
  def readCentroids(spark: SparkSession, indexPath: String): Seq[(Int, Array[Double])] =
    spark.read.parquet(graft.core.Generations.resolve(spark, indexPath, "meta"))
      .orderBy("cell")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .toSeq

  private def writeCentroids(spark: SparkSession, centroids: Seq[(Int, Array[Double])],
      metaPath: String): Unit =
    spark.createDataFrame(centroids.map { case (c, v) => (c, v.toSeq) })
      .toDF("cell", "vec").coalesce(1)
      .write.mode("overwrite").parquet(metaPath)

  /** One micro-batch of the crawl → probe → index loop (the reference's
    * unstructured_data ingest-then-query flow made continuous): embed the
    * batch, probe the index AS OF PRIOR BATCHES (strictly `batch_id <
    * batchId` — probe-then-append, so results are a deterministic
    * function of batch membership), land per-doc top-k, then append the
    * batch's own assigned vectors as the index's `batch_id=<id>` delta
    * partition. Later batches retrieve THIS batch's documents. Probe
    * centroids come from the index's own `meta/` — a restart or a
    * just-finished optimize needs no caller-side state.
    *
    * Both writes are dynamic-partition overwrites keyed by batchId, so a
    * re-delivered batch rewrites its results AND its index delta in
    * place — no duplicate result rows, no duplicate index entries — and
    * the `batch_id < batchId` probe filter keeps the replay's probe
    * space identical even when the crashed attempt had already landed
    * its delta. Per-batch work is O(batch): the index grows but is only
    * ever equi-joined on cell (partition-pruned parquet scan), never
    * recomputed. The whole read-probe-append runs under the index lease
    * so an optimize can't swap the dir out from underneath it.
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
  ): Unit = locked(batch.sparkSession, indexPath, "append", waitMs = BatchLockWaitMs) {
    val s = batch.sparkSession
    // one generation for the whole batch: centroids and vectors resolve
    // from the same committed snapshot (the lease excludes a concurrent
    // optimize, so the generation cannot flip mid-batch)
    val gen = graft.core.Generations.currentOrFail(s, indexPath)
    val vecDir = graft.core.Generations.dir(indexPath, "vectors", gen)
    val centroids = s.read.parquet(graft.core.Generations.dir(indexPath, "meta", gen))
      .orderBy("cell").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq
    val emb = Embedding.embedDocuments(batch, idCol, textCol, dim)
      .filter(col("embedding").isNotNull)
      .localCheckpoint(true)
    val queries = emb.select(col(idCol).as("q_id"), col("embedding").as("q_vec"))
    val index = s.read.parquet(vecDir)
      .filter(col("batch_id") < batchId)
      .select("n_id", "n_vec", "__cell")
    Similarity.ivfTopKPreAssigned(index, queries,
      "n_id", "n_vec", "q_id", "q_vec", centroids, nProbe, k,
      broadcastQueries = queries.count() <= broadcastRowCap)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
    Similarity.ivfAssign(
      emb.select(col(idCol).as("n_id"), col("embedding").as("n_vec")), "n_vec", centroids)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(vecDir)
  }

  /** Index OPTIMIZE — the IVF lifecycle's third verb next to bootstrap
    * and per-batch append, mirroring `Lexical.Index.optimize` and the
    * z-order table pass: re-train centroids on the CURRENT contents
    * (deterministic k-means: id-ordered init, fixed iterations),
    * re-assign every vector, and compact all delta partitions into one
    * fresh `batch_id=-1` seed in the NEXT generation (`vectors@g<N+1>`,
    * with the new centroids in `meta@g<N+1>`), committed by creating its
    * marker — so every later probe (including a process restart) reads
    * the matching centroids from disk. Run it when stream
    * growth has drifted the cell balance (hot cells degrade probe
    * pruning exactly like an unbalanced LSH bucket); after it, probes
    * scan one balanced partition set and the next stream batch appends
    * from `batch_id=0` semantics again. Runs under the index lease:
    * a live stream's delta append queues behind the optimize instead of
    * landing in the generation it supersedes. The wait is deliberately asymmetric:
    * batches queue (bounded) behind an in-flight optimize, but an
    * optimize racing a live batch fails FAST (`waitMs = 0`) — a
    * maintenance verb should report contention to its operator, not
    * silently stall a cluster-sized job slot. Returns the new centroids
    * for convenience; the index's committed meta is the source of truth.
    */
  def optimizeIndex(
      spark: SparkSession,
      indexPath: String,
      k: Int,
      maxIter: Int = 5,
  ): Seq[(Int, Array[Double])] = locked(spark, indexPath, "optimize") {
    val gen = graft.core.Generations.currentOrFail(spark, indexPath)
    val all = spark.read
      .parquet(graft.core.Generations.dir(indexPath, "vectors", gen))
      .select("n_id", "n_vec")
      .localCheckpoint(true) // k-means is multi-pass: materialize once
    val cents = Similarity.kmeansCentroids(all, "n_id", "n_vec", k, maxIter)
    // the whole next generation — re-assigned vectors AND their matching
    // centroids — is written first, then committed by ONE atomic marker
    // create: no cross-directory inconsistency window, and a crash
    // anywhere before the commit leaves generation `gen` current and
    // fully consistent (re-running overwrites the orphan dirs and heals)
    Similarity.ivfAssign(all, "n_vec", cents)
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").partitionBy("batch_id")
      .parquet(graft.core.Generations.dir(indexPath, "vectors", gen + 1))
    writeCentroids(spark, cents,
      graft.core.Generations.dir(indexPath, "meta", gen + 1))
    graft.core.Generations.commit(spark, indexPath, gen + 1)
    graft.core.Generations.gc(spark, indexPath, gen + 1)
    cents
  }

  /** Continuous retrieval over a GROWING index: each micro-batch probes
    * the corpus plus every earlier stream batch, then joins the index
    * itself. `bootstrapIndex` must have seeded `indexPath`; probe
    * centroids always come from the index's `meta/`.
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
  ): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landAndIndexBatch(batch, batchId, indexPath, idCol, textCol,
          dim, nProbe, k, outPath, broadcastRowCap)
      }
      .start()

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

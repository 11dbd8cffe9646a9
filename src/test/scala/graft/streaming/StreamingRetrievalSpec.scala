package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{LandGate, SparkTestBase}
import graft.core.{Disposition, TableHints, TableLock, TableManifest}
import graft.ops.{Embedding, Similarity}

/** Continuous retrieval: micro-batch-boundary independence (the landed
  * set must equal the one-shot batch probe regardless of how arrivals
  * split into triggers) and the static-index contract.
  */
class StreamingRetrievalSpec extends SparkTestBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private val cents = Seq(0 -> Array(1.0, 0.0, 0.0, 0.0), 1 -> Array(0.0, 1.0, 0.0, 0.0))

  /** The committed vectors table of the index at `idx`. */
  private def vectors(idx: String) = StreamingRetrieval.readIndex(spark, idx)._1

  test("streamed probes across multiple micro-batches equal the one-shot batch ivfTopK") {
    val root = tmpDir("sretr")
    val docsDir = s"$root/docs"
    // two separate files -> two micro-batches under maxFilesPerTrigger=1
    Seq((100L, "alpha beta"), (200L, "gamma delta epsilon"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsDir)
    Seq((300L, "alpha gamma"), (400L, "zeta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsDir)
    val corpusDocs = (1L to 40L).map(i => (i, s"tok$i alpha " * (1 + (i % 3).toInt)))
      .toDF("doc_id", "text")
    val corpus = Embedding.embedDocuments(corpusDocs, "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    val index = Similarity.ivfAssign(corpus, "n_vec", cents).localCheckpoint(true)

    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
    val q = StreamingRetrieval.start(stream, index, "doc_id", "text", cents,
      dim = 4, nProbe = 1, k = 3, s"$root/out", s"$root/ckpt")
    q.processAllAvailable(); q.stop()

    val landed = spark.read.parquet(s"$root/out")
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    val queries = Embedding.embedDocuments(
      spark.read.parquet(docsDir), "doc_id", "text", dim = 4)
      .select(col("doc_id").as("q_id"), col("embedding").as("q_vec"))
    val oneShot = Similarity.ivfTopKPreAssigned(index, queries,
      "n_id", "n_vec", "q_id", "q_vec", cents, nProbe = 1, k = 3)
      .select(col("q_id"), col("rank").cast("long"), col("n_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(landed == oneShot)
    // a query whose single probed cell is empty lands nothing — correct;
    // the rest must all land
    assert(landed.map(_._1).subsetOf(Set(100L, 200L, 300L, 400L)) && landed.map(_._1).size >= 3)
  }

  test("a re-delivered micro-batch overwrites its own partition — no duplicate rows") {
    val root = tmpDir("sretr_replay")
    val corpus = Embedding.embedDocuments(
      (1L to 20L).map(i => (i, s"tok$i alpha")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    val index = Similarity.ivfAssign(corpus, "n_vec", cents).localCheckpoint(true)
    val b0 = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((200L, "gamma delta")).toDF("doc_id", "text")
    StreamingRetrieval.landBatch(b0, 0L, index, "doc_id", "text", cents, 4, 1, 3, s"$root/out")
    StreamingRetrieval.landBatch(b1, 1L, index, "doc_id", "text", cents, 4, 1, 3, s"$root/out")
    val before = spark.read.parquet(s"$root/out")
      .select("q_id", "rank", "n_id").collect().toSeq.sortBy(_.toString)
    // failure between write and checkpoint commit => batch 0 re-delivered
    StreamingRetrieval.landBatch(b0, 0L, index, "doc_id", "text", cents, 4, 1, 3, s"$root/out")
    val after = spark.read.parquet(s"$root/out")
      .select("q_id", "rank", "n_id").collect().toSeq.sortBy(_.toString)
    assert(after == before) // replay rewrote batch 0; batch 1 untouched
  }

  test("growing index: wave-2 queries retrieve wave-1 stream documents") {
    val root = tmpDir("sretr_delta")
    val docsDir = s"$root/docs"
    // base corpus (alpha) assigns to cell 0; the zeta wave docs assign to
    // cell 1, so cross-wave retrieval is isolated from the base corpus
    val corpusDocs = (1L to 10L).map(i => (i, "alpha alpha")).toDF("doc_id", "text")
    val corpus = Embedding.embedDocuments(corpusDocs, "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/index")

    // wave 1 lands before the stream sees wave 2: two deterministic batches
    Seq((100L, "zeta zeta zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(docsDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docsDir)
    val q = StreamingRetrieval.startIndexed(stream, s"$root/index", "doc_id", "text",
      dim = 4, nProbe = 1, k = 3, s"$root/out", s"$root/ckpt")
    q.processAllAvailable()
    Seq((200L, "zeta zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(docsDir)
    q.processAllAvailable(); q.stop()

    val landed = spark.read.parquet(s"$root/out")
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    // wave-1 query 100 probed the base-only index: its cell (centroid 1)
    // is empty there, so it lands nothing. Wave-2 query 200 probes the
    // same cell and retrieves the wave-1 STREAM doc 100 — and ONLY it:
    // the base corpus lives in the other cell, proving the probe read the
    // batch-0 index delta rather than the bootstrap partition alone.
    assert(landed == Set((200L, 1L, 100L)), s"landed=$landed")
    // index now holds base + both deltas, partition-pruned by batch_id
    val idx = vectors(s"$root/index")
    assert(idx.count() == 12)
    assert(idx.filter(col("batch_id") === -1L).count() == 10)
    // the probe centroids are the index's own, persisted at bootstrap
    assert(StreamingRetrieval.readCentroids(spark, s"$root/index")
      .map { case (c, v) => (c, v.toSeq) } ==
      cents.map { case (c, v) => (c, v.toSeq) })
  }

  test("a re-delivered indexed batch rewrites results and index delta in place") {
    val root = tmpDir("sretr_delta_replay")
    val corpus = Embedding.embedDocuments(
      (1L to 10L).map(i => (i, "alpha")).toDF("doc_id", "text"), "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/index")
    val b0 = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    StreamingRetrieval.landAndIndexBatch(b0, 0L, s"$root/index", "doc_id", "text",
      4, 1, 3, s"$root/out")
    val out1 = spark.read.parquet(s"$root/out").collect().toSeq.sortBy(_.toString)
    val idx1 = vectors(s"$root/index").count()
    // crash between write and checkpoint commit => same batch re-delivered;
    // the probe must NOT see the crashed attempt's own index delta
    StreamingRetrieval.landAndIndexBatch(b0, 0L, s"$root/index", "doc_id", "text",
      4, 1, 3, s"$root/out")
    assert(spark.read.parquet(s"$root/out").collect().toSeq.sortBy(_.toString) == out1)
    assert(vectors(s"$root/index").count() == idx1)
  }

  test("ivfTopKPreAssigned gated off broadcast returns identical results") {
    val vecs = (1L to 30L).map(i => (i, Seq((i % 5).toDouble, 1.0, 0.0, (i % 3).toDouble)))
      .toDF("n_id", "n_vec")
    val qs = Seq((91L, Seq(1.0, 1.0, 0.0, 0.0)), (92L, Seq(0.0, 1.0, 0.0, 2.0)))
      .toDF("q_id", "q_vec")
    val assigned = Similarity.ivfAssign(vecs, "n_vec", cents)
    def run(b: Boolean) = Similarity.ivfTopKPreAssigned(assigned, qs,
      "n_id", "n_vec", "q_id", "q_vec", cents, nProbe = 2, k = 4, broadcastQueries = b)
      .select("q_id", "rank", "n_id").collect().toSet
    assert(run(true) == run(false))
  }

  test("ivfTopKPreAssigned on an assigned corpus equals ivfTopK on the raw corpus") {
    val vecs = (1L to 30L).map(i => (i, Seq((i % 5).toDouble, 1.0, 0.0, (i % 3).toDouble)))
      .toDF("n_id", "n_vec")
    val qs = Seq((91L, Seq(1.0, 1.0, 0.0, 0.0)), (92L, Seq(0.0, 1.0, 0.0, 2.0)))
      .toDF("q_id", "q_vec")
    val direct = Similarity.ivfTopK(vecs, qs, "n_id", "n_vec", "q_id", "q_vec",
      cents, nProbe = 2, k = 4)
      .select("q_id", "rank", "n_id").collect().toSet
    val pre = Similarity.ivfTopKPreAssigned(
      Similarity.ivfAssign(vecs, "n_vec", cents), qs,
      "n_id", "n_vec", "q_id", "q_vec", cents, nProbe = 2, k = 4)
      .select("q_id", "rank", "n_id").collect().toSet
    assert(direct == pre)
  }
  test("optimizeIndex compacts deltas into a re-trained seed; probes match fresh assignment") {
    val root = tmpDir("sretr_opt")
    val vecs = (1L to 60L).map { i =>
      val v = if (i % 2 == 0) Array(1.0, 0.0, 0.0, i / 100.0) else Array(0.0, 1.0, i / 100.0, 0.0)
      (i, v)
    }
    val base = vecs.take(40).toDF("n_id", "n_vec")
    val delta = vecs.drop(40).toDF("n_id", "n_vec")
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(base, "n_vec", cents), cents, s"$root/idx")
    val pub = new TableManifest(spark, s"$root/idx").publish("spec-delta")
    // the vectors as the index records them (an array that may hold
    // nulls, as a parquet read returns it)
    pub.land(Similarity.ivfAssign(delta.withColumn("n_vec", col("n_vec").cast("array<double>")), "n_vec", cents)
      .withColumn("batch_id", lit(3L)), TableHints("vectors", Disposition.Append))
    pub.commit()

    val newCents = StreamingRetrieval.optimizeIndex(spark, s"$root/idx", k = 2)
    val back = vectors(s"$root/idx")
    // one seed partition, every vector present exactly once
    assert(back.select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
    assert(back.count() == 60L && back.select("n_id").distinct().count() == 60L)
    // stored assignment == fresh assignment under the returned centroids
    val fresh = Similarity.ivfAssign(vecs.toDF("n_id", "n_vec"), "n_vec", newCents)
      .select(col("n_id"), col("__cell")).as[(Long, Int)].collect().toMap
    val stored = back.select(col("n_id"), col("__cell")).as[(Long, Int)].collect().toMap
    assert(stored == fresh)
    // probes against the optimized index equal probes against the fresh assignment
    val queries = Seq((900L, Array(1.0, 0.0, 0.0, 0.0)), (901L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("q_id", "q_vec")
    val viaIdx = Similarity.ivfTopKPreAssigned(
      back.select("n_id", "n_vec", "__cell"), queries,
      "n_id", "n_vec", "q_id", "q_vec", newCents, nProbe = 1, k = 3)
      .collect().map(_.toString).sorted.toSeq
    val direct = Similarity.ivfTopKPreAssigned(
      Similarity.ivfAssign(vecs.toDF("n_id", "n_vec"), "n_vec", newCents), queries,
      "n_id", "n_vec", "q_id", "q_vec", newCents, nProbe = 1, k = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(viaIdx == direct)
    // the optimize persisted ITS centroids: meta/ equals the return value
    assert(StreamingRetrieval.readCentroids(spark, s"$root/idx")
      .map { case (c, v) => (c, v.toSeq) } ==
      newCents.map { case (c, v) => (c, v.toSeq) })
  }

  test("restart after optimize: a fresh process probes correctly from disk alone") {
    val root = tmpDir("sretr_restart")
    val corpus = Embedding.embedDocuments(
      (1L to 20L).map(i => (i, if (i % 2 == 0) "alpha alpha" else "zeta zeta"))
        .toDF("doc_id", "text"), "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/idx")
    // optimize re-trains and RE-ASSIGNS; deliberately DROP the returned
    // centroids — the footgun this layout removes is a restarted caller
    // probing a re-assigned index with remembered stale centroids
    StreamingRetrieval.optimizeIndex(spark, s"$root/idx", k = 2)
    // "restart": a batch arrives knowing only the index path
    val b0 = Seq((100L, "alpha beta")).toDF("doc_id", "text")
    StreamingRetrieval.landAndIndexBatch(b0, 0L, s"$root/idx", "doc_id", "text",
      4, 1, 3, s"$root/out")
    val landed = spark.read.parquet(s"$root/out")
      .select("q_id", "rank", "n_id").as[(Long, Long, Long)].collect().toSet
    // the disk centroids match the re-assigned vectors, so the probe must
    // equal a fresh probe under those same centroids
    val diskCents = StreamingRetrieval.readCentroids(spark, s"$root/idx")
    val queries = Embedding.embedDocuments(b0, "doc_id", "text", dim = 4)
      .select(col("doc_id").as("q_id"), col("embedding").as("q_vec"))
    val expect = Similarity.ivfTopKPreAssigned(
      vectors(s"$root/idx")
        .filter(col("batch_id") === -1L).select("n_id", "n_vec", "__cell"),
      queries, "n_id", "n_vec", "q_id", "q_vec", diskCents, nProbe = 1, k = 3)
      .select(col("q_id"), col("rank").cast("long"), col("n_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(landed == expect && landed.nonEmpty, s"landed=$landed expect=$expect")
  }

  test("a crashed optimize (uncommitted next generation) leaves probes consistent; re-run heals") {
    // one commit flips vectors and centroids TOGETHER: a crash after
    // landing the next vectors generation but before the commit leaves
    // the bootstrap current — probes keep reading a fully consistent
    // vectors+centroids pair instead of failing or mis-probing; the next
    // publish sweeps the orphan and re-running the optimize commits
    val root = tmpDir("sretr_crashopt")
    val corpus = Embedding.embedDocuments(
      (1L to 20L).map(i => (i, if (i % 2 == 0) "alpha alpha" else "zeta zeta"))
        .toDF("doc_id", "text"), "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/idx")
    // simulate the crash window: the next vectors generation landed
    // (garbage, to prove no reader touches it), centroids and commit never
    val m = new TableManifest(spark, s"$root/idx")
    Seq((999L, Seq(9.0, 9.0, 9.0, 9.0), 0, -1L)).toDF("n_id", "n_vec", "__cell", "batch_id")
      .write.parquet(s"$root/idx/vectors/g${m.gens("vectors").size + 1}")
    // probes still resolve the bootstrap: its centroids, its vectors,
    // nothing from the orphan
    assert(StreamingRetrieval.readCentroids(spark, s"$root/idx")
      .map { case (c, v) => (c, v.toSeq) } == cents.map { case (c, v) => (c, v.toSeq) })
    StreamingRetrieval.landAndIndexBatch(
      Seq((100L, "alpha beta")).toDF("doc_id", "text"), 0L, s"$root/idx",
      "doc_id", "text", 4, 1, 3, s"$root/out")
    assert(!spark.read.parquet(s"$root/out").select("n_id").as[Long]
      .collect().contains(999L), "no probe may read the uncommitted generation")
    // re-running the optimize commits one new generation of each table
    val before = (m.gens("vectors"), m.gens("centroids"))
    StreamingRetrieval.optimizeIndex(spark, s"$root/idx", k = 2)
    assert(m.gens("vectors").size == 1 && m.gens("centroids").size == 1 &&
      !before._1.contains(m.gens("vectors").head) && !before._2.contains(m.gens("centroids").head))
    assert(StreamingRetrieval.readCentroids(spark, s"$root/idx").size == 2)
    val vecs = vectors(s"$root/idx")
    assert(!vecs.select("n_id").as[Long].collect().contains(999L),
      "the healed generation is re-derived from committed data only")
  }

  test("index lease exclusion: optimize cannot start while another writer holds the index") {
    // an optimize racing a batch fails fast; a batch queues behind an optimize
    val root = tmpDir("sretr_lock")
    val corpus = (1L to 10L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0))).toDF("n_id", "n_vec")
    StreamingRetrieval.bootstrapIndex(
      Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/idx")
    val lease = TableLock.acquire(spark, s"$root/idx/vectors", owner = "spec-holder")
    try {
      intercept[TableLock.LockHeldException] {
        StreamingRetrieval.optimizeIndex(spark, s"$root/idx", k = 2)
      }
    } finally lease.release()
    // released => the same optimize proceeds
    StreamingRetrieval.optimizeIndex(spark, s"$root/idx", k = 2)
    assert(vectors(s"$root/idx").count() == 10L)
    // an optimize holds the centroids lease: the batch waits for it, then lands
    val optimizeLease = TableLock.acquire(spark, s"$root/idx/centroids", owner = "spec-optimize")
    @volatile var batchErr: Option[Throwable] = None
    val batch = new Thread(() => try StreamingRetrieval.landAndIndexBatch(
      Seq((100L, "alpha beta")).toDF("doc_id", "text"), 0L, s"$root/idx",
      "doc_id", "text", 4, 1, 3, s"$root/out") catch { case t: Throwable => batchErr = Some(t) })
    try {
      batch.start()
      Thread.sleep(2000)
      assert(batch.isAlive, s"the batch must queue behind the optimize (error: $batchErr)")
    } finally optimizeLease.release()
    batch.join(120000L)
    assert(!batch.isAlive && batchErr.isEmpty, s"the queued batch failed: $batchErr")
    assert(vectors(s"$root/idx").count() == 11L)
  }

  test("a batch whose vectors land fails leaves the index unchanged; its re-delivery lands each delta once") {
    val corpus = Embedding.embedDocuments(
      (1L to 10L).map(i => (i, "alpha")).toDF("doc_id", "text"), "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    val batches = Seq(Seq((100L, "alpha beta")), Seq((200L, "alpha gamma")), Seq((300L, "beta gamma")))
    def run(root: String, failAt: Option[Int]): (Seq[String], Seq[String]) = {
      StreamingRetrieval.bootstrapIndex(
        Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/idx")
      def land(i: Int): Unit = StreamingRetrieval.landAndIndexBatch(batches(i).toDF("doc_id", "text"),
        i.toLong, s"$root/idx", "doc_id", "text", 4, 1, 3, s"$root/out")
      batches.indices.foreach { i =>
        if (failAt.contains(i)) {
          val m = new TableManifest(spark, s"$root/idx")
          val before = (m.gens("vectors"), vectors(s"$root/idx").collect().map(_.toString).sorted.toSeq)
          LandGate.armed(spark, s"$root/idx") { t =>
            if (t == "vectors") throw new IllegalStateException("planted vectors land failure")
          } {
            intercept[Exception](land(i))
          }
          assert((m.gens("vectors"), vectors(s"$root/idx").collect().map(_.toString).sorted.toSeq) == before,
            "a failed land must leave the index as it was")
        }
        land(i) // the stream (re-)delivers the batch
      }
      (spark.read.parquet(s"$root/out").collect().map(_.toString).sorted.toSeq,
        vectors(s"$root/idx").collect().map(_.toString).sorted.toSeq)
    }
    val crashFree = run(tmpDir("sretr_landfail_ref"), None)
    assert(run(tmpDir("sretr_landfail"), Some(1)) == crashFree)
    assert(crashFree._2.size == 13, "the index holds the corpus and each batch once")
  }

  test("an index root in the pre-manifest layout is refused by every verb, naming it") {
    val root = tmpDir("sretr_old")
    val idx = s"$root/idx"
    Seq((1L, Seq(1.0, 0.0, 0.0, 0.0), 0, -1L)).toDF("n_id", "n_vec", "__cell", "batch_id")
      .write.parquet(s"$idx/vectors@g0")
    Seq((0, Seq(1.0, 0.0, 0.0, 0.0))).toDF("cell", "vec").write.parquet(s"$idx/meta@g0")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(idx, "_gen.e0"))
    Seq((100L, "alpha beta")).toDF("doc_id", "text").write.parquet(s"$root/in")
    def files: Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try walk.iterator().asScala.map(_.toString).toSeq.sorted finally walk.close()
    }
    val before = files
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("n_id", "n_vec")
    val verbs = Seq[() => Any](
      () => StreamingRetrieval.bootstrapIndex(Similarity.ivfAssign(corpus, "n_vec", cents), cents, idx),
      () => StreamingRetrieval.landAndIndexBatch(Seq((100L, "alpha beta")).toDF("doc_id", "text"), 0L, idx,
        "doc_id", "text", 4, 1, 3, s"$root/out"),
      () => StreamingRetrieval.optimizeIndex(spark, idx, k = 2),
      () => StreamingRetrieval.readIndex(spark, idx),
      () => StreamingRetrieval.readCentroids(spark, idx),
      () => StreamingRetrieval.startIndexed(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$root/in"), idx,
        "doc_id", "text", 4, 1, 3, s"$root/out", s"$root/ckpt"))
    verbs.foreach { verb =>
      val e = intercept[IllegalArgumentException](verb())
      assert(e.getMessage.contains(idx) && e.getMessage.contains("pre-manifest layout"), e.getMessage)
    }
    assert(files == before, "a refused root must be left as it was")
  }
}

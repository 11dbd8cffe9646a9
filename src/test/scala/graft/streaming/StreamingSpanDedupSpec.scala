package graft.streaming

import org.apache.spark.sql.functions._

import graft.{LandGate, SparkTestBase}
import graft.core.{TableLock, TableManifest}
import graft.ops.Dedup

/** Continuous substring dedup: the landed stream result equals the batch
  * span-removal over the whole corpus when ids arrive in order, and
  * later waves lose spans already published by earlier ones.
  */
class StreamingSpanDedupSpec extends SparkTestBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  /** The committed gram index, as sorted rows. */
  private def grams(idx: String): Seq[String] =
    new TableManifest(spark, idx).read("grams").get.collect().map(_.toString).sorted.toSeq

  private def landed(out: String): Seq[String] =
    spark.read.parquet(out).select("doc_id", "text", "n_words", "n_kept")
      .collect().map(_.toString).sorted.toSeq

  private val docs = Seq(
    (1L, "a b c d e f g h"),
    (2L, "x y z a b c d e w v"),      // shares a 5-token run with doc 1
    (3L, "p q r s t u p q r s t u"),  // self-repeat
    (10L, "a b c d e f g h"),         // exact copy of doc 1, later wave
    (11L, "fresh words only here now"),
  )

  test("streamed waves land exactly the batch span-removal result") {
    val dir = tmpDir("graft_sspan")
    // two waves as separate files, ascending ids
    docs.filter(_._1 < 10).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    docs.filter(_._1 >= 10).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = StreamingSpanDedup.start(stream, "doc_id", "text", k = 5,
      s"$dir/out", s"$dir/idx", s"$dir/ckpt")
    q.processAllAvailable(); q.stop()

    val landed = spark.read.parquet(s"$dir/out")
      .select("doc_id", "text", "n_words", "n_kept")
      .collect().map(_.toString).sorted.toSeq
    val batch = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", k = 5, hashKeys = true)
      .collect().map(_.toString).sorted.toSeq
    assert(landed == batch)
    // the copy in wave 2 lost everything; the fresh doc survived whole
    val byId = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_kept").as[(Long, Long)].collect().toMap
    assert(byId(10L) == 0L && byId(11L) == 5L)
  }

  test("re-delivered batch replays bit-identically: results AND index unchanged") {
    val dir = tmpDir("graft_sspan_idem")
    val w0 = docs.take(3).toDF("doc_id", "text")
    StreamingSpanDedup.landBatch(w0, 0L, "doc_id", "text", 5, s"$dir/out", s"$dir/idx")
    val once = spark.read.parquet(s"$dir/out").collect().map(_.toString).sorted.toSeq
    val idxOnce = grams(s"$dir/idx")
    // crash-and-replay: the batch re-runs with its own delta already landed
    StreamingSpanDedup.landBatch(w0, 0L, "doc_id", "text", 5, s"$dir/out", s"$dir/idx")
    assert(spark.read.parquet(s"$dir/out").collect().map(_.toString).sorted.toSeq == once)
    assert(grams(s"$dir/idx") == idxOnce)
  }

  private val waves = Seq(
    Seq((1L, "a b c d e f g h"), (2L, "x y z a b c d e w v")),
    Seq((3L, "p q r s t u p q r s t u"), (4L, "a b c d e only once more")),
    Seq((10L, "a b c d e f g h"), (11L, "fresh words only here now")),
    Seq((12L, "x y z a b c d e tail bits")))

  private def landWave(dir: String, i: Int): Unit =
    StreamingSpanDedup.landBatch(waves(i).toDF("doc_id", "text"), i.toLong,
      "doc_id", "text", 5, s"$dir/out", s"$dir/idx")

  private def landWaves(dir: String, maintain: Long => Unit): Seq[String] = {
    waves.indices.foreach { i =>
      landWave(dir, i)
      maintain(i.toLong)
    }
    landed(s"$dir/out")
  }

  test("optimizeIndex merges committed gram deltas; later batches land identically") {
    val dir = tmpDir("graft_sspan_opt")
    val plain = landWaves(s"$dir/plain", _ => ())
    // optimize after every committed batch: merge everything below it
    val opt = landWaves(s"$dir/opt", { i =>
      StreamingSpanDedup.optimizeIndex(spark, s"$dir/opt/idx", upToBatch = i + 1)
    })
    assert(opt == plain)
    // gram MEMBERSHIP is preserved while cross-batch duplicates collapse
    val plainGrams = new TableManifest(spark, s"$dir/plain/idx").read("grams").get
      .select("__g").distinct().as[Long].collect().toSet
    val optIdx = new TableManifest(spark, s"$dir/opt/idx").read("grams").get
    assert(optIdx.select("__g").distinct().as[Long].collect().toSet == plainGrams)
    assert(optIdx.count() == plainGrams.size.toLong) // fully deduped
    assert(optIdx.select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
  }

  test("a gram stream of MaxGenerations + 3 batches keeps its generation list bounded; later batches land the batch result") {
    val dir = tmpDir("graft_sspan_bound")
    val n = TableManifest.MaxGenerations + 3
    // every doc repeats the span "a b c d e" of the first and adds its own
    val stream = (0 until n).map(i => (i.toLong, s"w$i a b c d e x$i y$i z$i v$i"))
    val m = new TableManifest(spark, s"$dir/idx")
    val longest = stream.zipWithIndex.map { case (doc, i) =>
      StreamingSpanDedup.landBatch(Seq(doc).toDF("doc_id", "text"), i.toLong,
        "doc_id", "text", 5, s"$dir/out", s"$dir/idx")
      m.gens("grams").size
    }.max
    assert(longest <= TableManifest.MaxGenerations, s"the gram list reached $longest generations")
    val batch = Dedup.removeDuplicateSpans(stream.toDF("doc_id", "text"),
      "doc_id", "text", k = 5, hashKeys = true)
      .collect().map(_.toString).sorted.toSeq
    assert(landed(s"$dir/out") == batch)
    // every batch's delta is in the index once, merged or not
    assert(new TableManifest(spark, s"$dir/idx").read("grams").get
      .groupBy("__g", "batch_id").count().filter(col("count") > 1).isEmpty)
  }

  test("gram-index lease excludes a concurrent optimize") {
    // an optimize racing a batch fails fast; a batch queues behind an optimize
    val dir = tmpDir("graft_sspan_lock")
    landWave(dir, 0)
    // a live batch holds the grams lease: the optimize fails at once
    val batchLease = TableLock.acquire(spark, s"$dir/idx/grams", owner = "spec-batch")
    try {
      val t0 = System.currentTimeMillis()
      intercept[TableLock.LockHeldException] {
        StreamingSpanDedup.optimizeIndex(spark, s"$dir/idx", upToBatch = 1L)
      }
      assert(System.currentTimeMillis() - t0 < 60000L, "an optimize must not wait for a batch")
    } finally batchLease.release()
    // an optimize holds the lease: the next batch waits for it, then lands
    val optimizeLease = TableLock.acquire(spark, s"$dir/idx/grams", owner = "spec-optimize")
    @volatile var batchErr: Option[Throwable] = None
    val batch = new Thread(() => try landWave(dir, 1) catch { case t: Throwable => batchErr = Some(t) })
    try {
      batch.start()
      Thread.sleep(2000)
      assert(batch.isAlive, s"the batch must queue behind the optimize (error: $batchErr)")
    } finally optimizeLease.release()
    batch.join(120000L)
    assert(!batch.isAlive && batchErr.isEmpty, s"the queued batch failed: $batchErr")
    assert(grams(s"$dir/idx").exists(_.endsWith(",1]")), "the queued batch landed its delta")
    StreamingSpanDedup.optimizeIndex(spark, s"$dir/idx", upToBatch = 2L)
    assert(new TableManifest(spark, s"$dir/idx").read("grams").get
      .select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
  }

  test("a batch whose gram land fails leaves the index unchanged; its re-delivery lands each delta once") {
    val ref = tmpDir("graft_sspan_landfail_ref")
    val crashFree = landWaves(ref, _ => ())
    val dir = tmpDir("graft_sspan_landfail")
    landWave(dir, 0)
    val m = new TableManifest(spark, s"$dir/idx")
    val (gensBefore, gramsBefore) = (m.gens("grams"), grams(s"$dir/idx"))
    LandGate.armed(spark, s"$dir/idx") { t =>
      if (t == "grams") throw new IllegalStateException("planted grams land failure")
    } {
      intercept[Exception](landWave(dir, 1))
    }
    assert(m.gens("grams") == gensBefore && grams(s"$dir/idx") == gramsBefore,
      "a failed land must leave the gram index as it was")
    // the stream re-delivers batch 1, then goes on
    (1 until waves.size).foreach(landWave(dir, _))
    assert(landed(s"$dir/out") == crashFree)
    assert(grams(s"$dir/idx") == grams(s"$ref/idx"))
  }

  test("an index root in the pre-manifest layout is refused by every verb, naming it") {
    val dir = tmpDir("graft_sspan_old")
    val idx = s"$dir/idx"
    Seq((1L, 0L)).toDF("__g", "batch_id").write.parquet(s"$idx/grams@g0")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(idx, "_gen.e0"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/in")
    def files: Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try walk.iterator().asScala.map(_.toString).toSeq.sorted finally walk.close()
    }
    val before = files
    val verbs = Seq[() => Any](
      () => landWave(dir, 0),
      () => StreamingSpanDedup.optimizeIndex(spark, idx, upToBatch = 1L),
      () => StreamingSpanDedup.start(spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/in"),
        "doc_id", "text", 5, s"$dir/out", idx, s"$dir/ckpt"))
    verbs.foreach { verb =>
      val e = intercept[IllegalArgumentException](verb())
      assert(e.getMessage.contains(idx) && e.getMessage.contains("pre-manifest layout"), e.getMessage)
    }
    assert(files == before, "a refused root must be left as it was")
  }
}

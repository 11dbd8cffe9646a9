package graft.streaming

import graft.{LandGate, SparkTestBase}
import graft.core.{TableLock, TableManifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingDedupSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def table(root: String, name: String): DataFrame =
    new TableManifest(spark, root).read(name).get

  private def corpusIds(root: String): Set[Long] =
    table(root, "corpus").select("doc_id").as[Long].collect().toSet

  private def indexIds(root: String): Set[Long] =
    table(root, "index").select("id").as[Long].collect().toSet

  test("stream dedups each micro-batch against the growing corpus+index across restarts") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("sdedup")
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")

    // wave 1 bootstraps: batch-internal dup collapses
    input.addData((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
    val q1 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
    q1.processAllAvailable(); q1.stop()
    assert(corpusIds(root) == Set(1L, 3L))

    // wave 2 through a RESTARTED query (same checkpoint): corpus dup
    // dropped, fresh doc kept, batch-internal dup collapsed
    input.addData((10L, "a b c d"), (11L, "p q r s"), (12L, "p q r s"))
    val q2 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
    q2.processAllAvailable(); q2.stop()
    assert(corpusIds(root) == Set(1L, 3L, 11L))

    // wave 3: a re-send of wave-2 content is now a corpus dup
    input.addData((20L, "p q r s"))
    val q3 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
    q3.processAllAvailable(); q3.stop()
    assert(corpusIds(root) == Set(1L, 3L, 11L))

    // index rows track exactly the surviving docs
    assert(indexIds(root) == Set(1L, 3L, 11L))
  }

  test("a batch whose index land fails changes neither table; its re-delivery lands both exactly once") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("sdedup_fail")
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    input.addData((1L, "a b c d"), (2L, "x y z w"))
    val q1 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
    q1.processAllAvailable(); q1.stop()

    // the next batch's corpus land succeeds, then its index land fails
    input.addData((5L, "p q r s"), (6L, "a b c d"))
    LandGate.armed(spark, root) {
      case "index" => throw new IllegalStateException("planted index land failure")
      case _       => ()
    } {
      val q2 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
      intercept[Exception](q2.processAllAvailable())
      q2.stop()
    }
    assert(LandGate.done.contains("corpus"), "the corpus land ran before the index land failed")
    assert(corpusIds(root) == Set(1L, 2L), "the failed batch's corpus append must stay invisible")
    assert(indexIds(root) == Set(1L, 2L))

    // the restarted query re-delivers the batch: doc 5 lands in both
    // tables once, its duplicate of doc 1 is dropped
    val q3 = StreamingDedupSink.start(stream, root, "doc_id", "text", ckpt, threshold = 0.9)
    q3.processAllAvailable(); q3.stop()
    val corpus = table(root, "corpus").select("doc_id").as[Long].collect().toSeq
    assert(corpus.sorted == Seq(1L, 2L, 5L), "each doc is in the corpus exactly once")
    val bandsPerDoc = table(root, "index").groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(bandsPerDoc == Map(1L -> 2L, 2L -> 2L, 5L -> 2L), "each doc has its band rows exactly once")
  }

  test("sink holds the table lease: a second pipeline is excluded, a restart retakes its own") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("sdedup_lock")
    val ckpt = s"$root/ckpt"
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a b c d"))
    val q1 = StreamingDedupSink.start(input.toDF().toDF("doc_id", "text"),
      root, "doc_id", "text", ckpt, threshold = 0.9)
    q1.processAllAvailable(); q1.stop()

    // simulate a crash that left this pipeline's lease behind: the
    // restarted query (same checkpoint = same owner) must proceed
    TableLock.acquire(spark, s"$root/corpus", s"manifest-publish:$ckpt")
    input.addData((2L, "p q r s"))
    val q2 = StreamingDedupSink.start(input.toDF().toDF("doc_id", "text"),
      root, "doc_id", "text", ckpt, threshold = 0.9)
    q2.processAllAvailable(); q2.stop()
    assert(corpusIds(root) == Set(1L, 2L))

    // a DIFFERENT pipeline (other checkpoint) on the same corpus: its
    // batch must fail on the held lease, corpus untouched
    val held = TableLock.acquire(spark, s"$root/corpus", "other-holder")
    val input3 = MemoryStream[(Long, String)]
    input3.addData((3L, "x y z w"))
    val q3 = StreamingDedupSink.start(input3.toDF().toDF("doc_id", "text"),
      root, "doc_id", "text", s"$root/ckpt2", threshold = 0.9)
    val failed = intercept[Exception] { q3.processAllAvailable() }
    assert(failed.getMessage != null)
    q3.stop()
    assert(corpusIds(root) == Set(1L, 2L), "excluded pipeline must not write")
    held.release()
  }

  test("many batches keep each table's generation list within MaxGenerations; a read resolved before a merge still collects") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("sdedup_many")
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedupSink.start(input.toDF().toDF("doc_id", "text"),
      root, "doc_id", "text", s"$root/ckpt", threshold = 0.9, availableNow = false, triggerIntervalMs = 0)
    val k = TableManifest.MaxGenerations
    val batches = k + 3
    val m = new TableManifest(spark, root)
    var early: DataFrame = null
    val longest = try (1 to batches).map { i =>
      input.addData((i.toLong, s"doc$i words only here w$i"))
      q.processAllAvailable()
      // a long corpus scan resolved at the full list: the next batch
      // merges generations it reads, later batches sweep unreferenced ones
      if (i == k) early = table(root, "corpus")
      m.gens("index").size
    }.max finally q.stop()
    assert(longest <= k, s"index list reached $longest generations")
    assert(m.gens("corpus").size <= k)
    assert(early.select("doc_id").as[Long].collect().toSet == (1 to k).map(_.toLong).toSet)
    assert(corpusIds(root) == (1 to batches).map(_.toLong).toSet)
    assert(indexIds(root) == (1 to batches).map(_.toLong).toSet)
  }

  test("a root whose corpus holds parquet files outside any manifest is refused at start") {
    implicit val sq = spark.sqlContext
    val root = tmpDir("sdedup_legacy")
    Seq((1L, "a b c d")).toDF("doc_id", "text").write.parquet(s"$root/corpus")
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a b c d"))
    val err = intercept[IllegalArgumentException] {
      StreamingDedupSink.start(input.toDF().toDF("doc_id", "text"), root, "doc_id", "text", s"$root/ckpt")
    }
    assert(err.getMessage.contains("outside any manifest"))
    assert(new TableManifest(spark, root).tables.isEmpty)
  }
}

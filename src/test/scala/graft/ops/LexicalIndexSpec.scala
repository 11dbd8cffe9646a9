package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Persisted inverted index: build+search equals the direct champion
  * retrieval, appended docs are retrievable immediately, and optimize
  * makes the index identical to a fresh build over the union corpus.
  */
class LexicalIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = (0L until 500L).map { i =>
    val filler = Seq.fill(6)(s"common${i % 3}").mkString(" ")
    (i, s"marker${i / 5} $filler")
  }.toDF("doc_id", "text")

  private val queries = Seq((9001L, "marker7 common1"), (9002L, "marker60 marker61"))
    .toDF("q_id", "q_text")

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def bucketsOf(terms: String*): Set[Long] =
    terms.toDF("term").select(Lexical.Index.termBucket(col("term"))).as[Long].collect().toSet

  /** `__tb` of every postings file a frame scans. */
  private def postingsBuckets(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.inputFiles.toSeq.filter(_.contains("/postings@g")).map { f =>
      val tb = f.substring(f.indexOf("/__tb=") + 6)
      tb.substring(0, tb.indexOf('/')).toLong
    }

  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
  }

  test("build + search == direct champion-list retrieval") {
    val path = s"${tmpDir("graft_lexidx")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val viaIndex = sorted(
      Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
        .withColumnRenamed("id", "doc_id"))
    val direct = sorted(
      Lexical.topKDocs(corpus, "doc_id", "text", queries, "q_id", "q_text", 10,
        championSize = 16))
    assert(viaIndex == direct)
  }

  test("appended docs are retrievable immediately with union-corpus idf") {
    val path = s"${tmpDir("graft_lexidx_app")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val batch = Seq((9000L, "freshterm freshterm common1 common2 common0")).toDF("doc_id", "text")
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 0L)
    val hits = Lexical.Index.search(spark,
      path, Seq((1L, "freshterm")).toDF("q_id", "q_text"), "q_id", "q_text", 5)
    assert(hits.select("id").as[Long].collect().toSeq == Seq(9000L))
    // the df deltas sum to the union: common1 count grew by one
    val df1 = spark.read.parquet(Lexical.Index.subDir(spark, path, "idf")).filter(col("term") === "common1")
      .agg(sum("df")).as[Long].head()
    val base1 = corpus.filter(col("text").contains("common1")).count()
    assert(df1 == base1 + 1)
  }

  test("a retried append (same appendId) is a no-op — no duplicate postings or df") {
    val path = s"${tmpDir("graft_lexidx_retry")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val batch = Seq((9000L, "freshterm common1")).toDF("doc_id", "text")
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 5L)
    val batchDir = s"${Lexical.Index.subDir(spark, path, "postings")}/__ab=5"
    assert(spark.read.parquet(batchDir).count() == 2L) // freshterm, common1
    val postings1 = spark.read.parquet(Lexical.Index.subDir(spark, path, "postings")).count()
    val df1 = spark.read.parquet(Lexical.Index.subDir(spark, path, "idf")).agg(sum("df")).as[Long].head()
    val n1 = spark.read.parquet(Lexical.Index.subDir(spark, path, "meta")).agg(sum("n_docs")).as[Long].head()
    // crash-before-checkpoint => the same batch is delivered again
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 5L)
    assert(spark.read.parquet(batchDir).count() == 2L)
    assert(spark.read.parquet(Lexical.Index.subDir(spark, path, "postings")).count() == postings1)
    assert(spark.read.parquet(Lexical.Index.subDir(spark, path, "idf")).agg(sum("df")).as[Long].head() == df1)
    assert(spark.read.parquet(Lexical.Index.subDir(spark, path, "meta")).agg(sum("n_docs")).as[Long].head() == n1)
    val hits = Lexical.Index.search(spark,
      path, Seq((1L, "freshterm")).toDF("q_id", "q_text"), "q_id", "q_text", 5)
    assert(hits.select("id").as[Long].collect().toSeq == Seq(9000L))
  }

  test("an append that crashed before its announcement is invisible to search and optimize; its retry lands once") {
    val path = s"${tmpDir("graft_lexidx_crash")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val batch = Seq((9000L, "freshterm common1")).toDF("doc_id", "text")
    val fresh = Seq((1L, "freshterm")).toDF("q_id", "q_text")
    def hits(): Seq[Long] = Lexical.Index.search(spark, path, fresh, "q_id", "q_text", 5)
      .select("id").as[Long].collect().toSeq
    def sub(name: String) = spark.read.parquet(Lexical.Index.subDir(spark, path, name))
    def freshDf(): Long = sub("idf").filter(col("term") === "freshterm").agg(coalesce(sum("df"), lit(0L)))
      .as[Long].head()
    def nDocs(): Long = sub("meta").agg(sum("n_docs")).as[Long].head()
    // the crash: every leaf of batch 7 written, the announcement never made
    def crashedAppend(): Unit = {
      Lexical.Index.append(batch, "doc_id", "text", path, appendId = 7L)
      val announcement = new org.apache.hadoop.fs.Path(
        s"${Lexical.Index.subDir(spark, path, "postings")}/_appended/7")
      announcement.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(announcement, false)
    }
    crashedAppend()
    assert(hits().isEmpty, "a batch with no announcement must be invisible to search")
    Lexical.Index.optimize(spark, path, championSize = 16)
    assert(sub("postings").filter(col("id") === 9000L).count() == 0L, "optimize compacted an orphan leaf")
    assert(freshDf() == 0L)
    assert(nDocs() == 500L)
    // crash again in the new generation, then retry: the orphan leaves are
    // overwritten and the batch lands exactly once
    crashedAppend()
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 7L)
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 7L)
    assert(hits() == Seq(9000L))
    assert(sub("postings").filter(col("id") === 9000L).count() == 2L) // freshterm, common1
    assert(freshDf() == 1L)
    assert(nDocs() == 501L)
  }

  test("a search frame resolved before two optimize cycles fails on collect instead of answering partially") {
    val path = s"${tmpDir("graft_lexidx_gc")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val frame = Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
    // the second optimize deletes generation 0 only once generation 1's
    // marker is past the gc's time grace: age the markers in between
    Lexical.Index.optimize(spark, path, championSize = 16)
    new java.io.File(path).listFiles().filter(_.getName.startsWith("_gen.e"))
      .foreach(_.setLastModified(System.currentTimeMillis() - graft.core.Generations.GraceMs - 60000))
    Lexical.Index.optimize(spark, path, championSize = 16)
    val e = intercept[org.apache.spark.SparkException](frame.collect())
    assert(e.getMessage.contains("FILE_NOT_EXIST"), e.getMessage)
  }

  test("a same-id append of a different batch fails by name and writes nothing") {
    val path = s"${tmpDir("graft_lexidx_misuse")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val nDocs = () => spark.read.parquet(Lexical.Index.subDir(spark, path, "meta")).agg(sum("n_docs"))
      .as[Long].head()
    // an empty batch lands (empty leaves) and counts zero docs
    Lexical.Index.append(Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", path,
      appendId = 6L)
    assert(nDocs() == 500L)
    val one = Seq((9000L, "freshterm")).toDF("doc_id", "text")
    val onEmpty = intercept[IllegalStateException](
      Lexical.Index.append(one, "doc_id", "text", path, appendId = 6L))
    assert(onEmpty.getMessage.contains("appendId 6"), onEmpty.getMessage)
    Lexical.Index.append(one, "doc_id", "text", path, appendId = 7L)
    val two = Seq((9001L, "freshterm"), (9002L, "freshterm")).toDF("doc_id", "text")
    val onOne = intercept[IllegalStateException](
      Lexical.Index.append(two, "doc_id", "text", path, appendId = 7L))
    assert(onOne.getMessage.contains("appendId 7"), onOne.getMessage)
    assert(nDocs() == 501L)
    assert(Lexical.Index.search(spark, path, Seq((1L, "freshterm")).toDF("q_id", "q_text"),
      "q_id", "q_text", 5).select("id").as[Long].collect().toSeq == Seq(9000L))
  }

  test("a batch replayed after an optimize compacted it is a no-op; a different batch under its id fails by name") {
    val path = s"${tmpDir("graft_lexidx_replay")}/idx"
    Lexical.Index.build(corpus.limit(50), "doc_id", "text", path, championSize = 16)
    def sub(name: String) = spark.read.parquet(Lexical.Index.subDir(spark, path, name))
    def nDocs(): Long = sub("meta").agg(sum("n_docs")).as[Long].head()
    def freshDf(): Long = sub("idf").filter(col("term") === "freshterm").agg(coalesce(sum("df"), lit(0L)))
      .as[Long].head()
    val batch = Seq((9000L, "freshterm common1")).toDF("doc_id", "text")
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 3L)
    Lexical.Index.optimize(spark, path, championSize = 16)
    assert((nDocs(), freshDf()) == ((51L, 1L)))
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 3L)
    assert((nDocs(), freshDf()) == ((51L, 1L)), "the replayed batch landed a second time")
    // the compacted id survives a second optimize too
    Lexical.Index.optimize(spark, path, championSize = 16)
    val two = Seq((9001L, "freshterm"), (9002L, "freshterm")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      Lexical.Index.append(two, "doc_id", "text", path, appendId = 3L))
    assert(e.getMessage.contains("appendId 3"), e.getMessage)
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 3L)
    assert((nDocs(), freshDf()) == ((51L, 1L)))
    assert(Lexical.Index.search(spark, path, Seq((1L, "freshterm")).toDF("q_id", "q_text"),
      "q_id", "q_text", 5).select("id").as[Long].collect().toSeq == Seq(9000L))
  }

  test("append queues behind a held index lease and loses nothing (optimize interleave)") {
    val path = s"${tmpDir("graft_lexidx_lock")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    // simulate an in-flight optimize holding the index lease
    val lease = graft.core.TableLock.acquire(spark, path, owner = "spec-optimize")
    val batch = Seq((9000L, "freshterm common1")).toDF("doc_id", "text")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val append = Future(Lexical.Index.append(batch, "doc_id", "text", path, appendId = 0L))
    Thread.sleep(1000) // the append must still be waiting on the lease
    assert(!append.isCompleted, "append must not proceed while the lease is held")
    lease.release()
    Await.result(append, 90.seconds)
    // nothing lost: the appended doc is retrievable, deltas are complete
    val hits = Lexical.Index.search(spark,
      path, Seq((1L, "freshterm")).toDF("q_id", "q_text"), "q_id", "q_text", 5)
    assert(hits.select("id").as[Long].collect().toSeq == Seq(9000L))
    assert(spark.read.parquet(Lexical.Index.subDir(spark, path, "meta")).agg(sum("n_docs")).as[Long].head() == 501L)
  }

  test("unleased searches during concurrent optimizes never fail and stay correct") {
    // the generation-pointer contract: search resolves a committed
    // generation whose directories an optimize never rewrites; the flip
    // is one atomic marker create and GC keeps a one-generation grace —
    // so a reader loop racing repeated optimizes sees zero transient
    // FileNotFound/missing-dir failures and always-valid results
    val path = s"${tmpDir("graft_lexidx_race")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val expected = sorted(
      Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
        .withColumnRenamed("id", "doc_id"))
    @volatile var searching = true
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var reads = 0
    val reader = new Thread(() => {
      while (searching) {
        try {
          val got = sorted(
            Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
              .withColumnRenamed("id", "doc_id"))
          assert(got == expected, "mid-optimize search returned different results")
          reads += 1
        } catch { case t: Throwable => failures.add(t); searching = false }
      }
    })
    reader.start()
    try {
      // three optimizes (no content change: same corpus re-ranked) while
      // searches loop — generations 1, 2, 3
      (1 to 3).foreach(_ => Lexical.Index.optimize(spark, path, championSize = 16))
    } finally {
      searching = false
      reader.join(60000)
    }
    assert(failures.isEmpty, s"reader failed during optimize: ${failures.peek()}")
    assert(reads > 0, "the reader loop must have completed at least one search")
    // after the dust settles: still the same answers, old generations GC'd
    assert(sorted(Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
      .withColumnRenamed("id", "doc_id")) == expected)
    assert(graft.core.Generations.current(spark, path).contains(3L))
  }

  test("append + optimize == fresh build over the union corpus") {
    val dir = tmpDir("graft_lexidx_opt")
    val incPath = s"$dir/inc"; val fullPath = s"$dir/full"
    val batch = (500L until 550L).map(i => (i, s"marker${i / 5} common1 common1 common2"))
      .toDF("doc_id", "text")
    Lexical.Index.build(corpus, "doc_id", "text", incPath, championSize = 16)
    Lexical.Index.append(batch, "doc_id", "text", incPath, appendId = 0L)
    Lexical.Index.optimize(spark, incPath, championSize = 16)
    Lexical.Index.build(corpus.unionByName(batch), "doc_id", "text", fullPath,
      championSize = 16)
    assert(sorted(spark.read.parquet(Lexical.Index.subDir(spark, incPath, "postings"))) ==
      sorted(spark.read.parquet(Lexical.Index.subDir(spark, fullPath, "postings"))))
    val q = Seq((1L, "marker100 common1 common2")).toDF("q_id", "q_text")
    assert(sorted(Lexical.Index.search(spark, incPath, q, "q_id", "q_text", 10)) ==
      sorted(Lexical.Index.search(spark, fullPath, q, "q_id", "q_text", 10)))
  }

  test("search reads only the query's term buckets, plus the pending dir after an append") {
    val path = s"${tmpDir("graft_lexidx_prune")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val q = Seq((1L, "marker7 common1")).toDF("q_id", "q_text")
    val want = bucketsOf("marker7", "common1")
    // no appends: only build dirs of the query's buckets
    val before = Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 10)
    assert(postingsBuckets(before).nonEmpty)
    assert(postingsBuckets(before).toSet.subsetOf(want), before.inputFiles.mkString("\n"))
    assert(sorted(before.withColumnRenamed("id", "doc_id")) == sorted(
      Lexical.topKDocs(corpus, "doc_id", "text", q, "q_id", "q_text", 10, championSize = 16)))
    // a small append lands unbucketed: at most one file per shuffle
    // partition, not one per term bucket
    val batch = (9000L until 9050L).map(i => (i, s"fresh$i marker7 common1 w${i % 40}"))
      .toDF("doc_id", "text")
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 0L)
    val batchDir = s"${Lexical.Index.subDir(spark, path, "postings")}/__ab=0"
    val files = parquetFiles(batchDir)
    assert(files.nonEmpty && files.forall(_.toString.contains("/__tb=-1/")), files.mkString("\n"))
    assert(files.size <= spark.conf.get("spark.sql.shuffle.partitions").toInt, files.mkString("\n"))
    val after = Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 10)
    assert(postingsBuckets(after).toSet.subsetOf(want + -1L), after.inputFiles.mkString("\n"))
    assert(postingsBuckets(after).contains(-1L))
  }

  test("a query whose buckets have no build dir returns no rows, then finds a pending doc") {
    val path = s"${tmpDir("graft_lexidx_nobucket")}/idx"
    val tiny = Seq((1L, "alpha alpha"), (2L, "alpha")).toDF("doc_id", "text")
    Lexical.Index.build(tiny, "doc_id", "text", path, championSize = 4)
    val built = bucketsOf("alpha")
    val term = Iterator.from(0).map(i => s"zz$i").find(t => !built.contains(bucketsOf(t).head)).get
    val q = Seq((1L, term)).toDF("q_id", "q_text")
    assert(Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 5).count() == 0L)
    Lexical.Index.append(Seq((3L, s"$term alpha")).toDF("doc_id", "text"), "doc_id", "text", path,
      appendId = 0L)
    assert(Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 5)
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("an empty query frame returns no rows, with and without appends") {
    val path = s"${tmpDir("graft_lexidx_noq")}/idx"
    Lexical.Index.build(corpus, "doc_id", "text", path, championSize = 16)
    val none = queries.limit(0)
    assert(Lexical.Index.search(spark, path, none, "q_id", "q_text", k = 5).count() == 0L)
    Lexical.Index.append(Seq((9000L, "freshterm")).toDF("doc_id", "text"), "doc_id", "text", path,
      appendId = 0L)
    assert(Lexical.Index.search(spark, path, none, "q_id", "q_text", k = 5).count() == 0L)
  }

  test("String doc ids round-trip through build, append, search and optimize") {
    val dir = tmpDir("graft_lexidx_str")
    val strCorpus = corpus.select(concat(lit("d"), col("doc_id")).as("doc_id"), col("text"))
    val batch = Seq(("fresh-1", "freshterm common1"), ("fresh-2", "freshterm freshterm"))
      .toDF("doc_id", "text")
    val path = s"$dir/idx"
    Lexical.Index.build(strCorpus, "doc_id", "text", path, championSize = 16)
    val built = Lexical.Index.search(spark, path, queries, "q_id", "q_text", k = 10)
    assert(built.schema("id").dataType == org.apache.spark.sql.types.StringType)
    assert(sorted(built.withColumnRenamed("id", "doc_id")) == sorted(
      Lexical.topKDocs(strCorpus, "doc_id", "text", queries, "q_id", "q_text", 10, championSize = 16)))
    Lexical.Index.append(batch, "doc_id", "text", path, appendId = 0L)
    val fresh = Seq((1L, "freshterm")).toDF("q_id", "q_text")
    assert(Lexical.Index.search(spark, path, fresh, "q_id", "q_text", k = 5)
      .orderBy("rank").select("id").as[String].collect().toSeq == Seq("fresh-2", "fresh-1"))
    Lexical.Index.optimize(spark, path, championSize = 16)
    val union = strCorpus.unionByName(batch)
    val q = queries.unionByName(fresh)
    assert(sorted(Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 10)
      .withColumnRenamed("id", "doc_id")) == sorted(
      Lexical.topKDocs(union, "doc_id", "text", q, "q_id", "q_text", 10, championSize = 16)))
  }

  test("an index without its recorded postings schema fails search and optimize by name") {
    val path = s"${tmpDir("graft_lexidx_noschema")}/idx"
    Lexical.Index.build(Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", path,
      championSize = 4)
    val schemaFile = new java.io.File(s"${Lexical.Index.subDir(spark, path, "postings")}/_schema.json")
    assert(schemaFile.delete())
    val q = Seq((1L, "alpha")).toDF("q_id", "q_text")
    val onSearch = intercept[IllegalStateException](
      Lexical.Index.search(spark, path, q, "q_id", "q_text", k = 5))
    assert(onSearch.getMessage.contains("_schema.json"), onSearch.getMessage)
    val onOptimize = intercept[IllegalStateException](
      Lexical.Index.optimize(spark, path, championSize = 4))
    assert(onOptimize.getMessage.contains("_schema.json"), onOptimize.getMessage)
  }

  test("an index without its announcement dir fails search, append and optimize by name") {
    val path = s"${tmpDir("graft_lexidx_noannounce")}/idx"
    Lexical.Index.build(Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", path,
      championSize = 4)
    val announced = new org.apache.hadoop.fs.Path(s"${Lexical.Index.subDir(spark, path, "postings")}/_appended")
    assert(announced.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(announced, true))
    val calls: Seq[() => Unit] = Seq(
      () => Lexical.Index.search(spark, path, Seq((1L, "alpha")).toDF("q_id", "q_text"), "q_id", "q_text", k = 5),
      () => Lexical.Index.append(Seq((2L, "alpha")).toDF("doc_id", "text"), "doc_id", "text", path, appendId = 0L),
      () => Lexical.Index.optimize(spark, path, championSize = 4))
    calls.foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("_appended"), e.getMessage)
    }
  }

  test("concurrently returns only after every sibling finished, then rethrows the failure") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      graft.core.Concurrently(spark)(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(boom.getMessage == "boom")
    assert(slowDone.get(), "a sibling write was still running when the failure surfaced")
  }
}

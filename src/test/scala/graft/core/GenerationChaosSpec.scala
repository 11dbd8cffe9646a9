package graft.core

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ops.{Embedding, Lexical, Similarity}
import graft.streaming.StreamingRetrieval

/** Chaos spec for the generation-pointer contract (Generations.scala,
  * Lexical's index) and the manifest's one-epoch read (the IVF index):
  * UNLEASED readers probing an index in a tight loop while a writer
  * commits optimize generations must see zero FileNotFound and only
  * old-complete or new-complete results — the reader grace is the claim,
  * proven here under real contention the way TableLockSpec
  * proves the lease arbitration.
  *
  * Timing envelope: a reader resolves the pointer once per probe and
  * collects immediately (the documented usage). An optimize cycle is
  * several Spark jobs + two FS commits; a probe is a handful of tiny
  * jobs — a probe would have to straddle TWO full optimize cycles to
  * outlive the grace, which the prompt-collect discipline precludes.
  */
class GenerationChaosSpec extends SparkTestBase {
  import spark.implicits._

  private def race[T](reader: () => T)(writer: => Unit): (Seq[T], Int) = {
    @volatile var writerErr: Option[Throwable] = None
    val w = new Thread(() => try writer catch { case t: Throwable => writerErr = Some(t) })
    w.start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[T]
    while (w.isAlive) seen += reader() // any reader throw fails the spec
    w.join()
    writerErr.foreach(t => fail(s"writer failed: $t", t))
    seen += reader() // one read against the final committed generation
    (seen.toSeq, seen.size)
  }

  test("Lexical.Index.search under concurrent optimize commits: zero FileNotFound, stable results") {
    val path = s"${tmpDir("gen_chaos_lex")}/idx"
    val docs = (1L to 150L)
      .map(i => (i, s"alpha tok${i % 7} tok${i % 13} beta" + (" gamma" * (i % 3).toInt)))
      .toDF("id", "text")
    Lexical.Index.build(docs, "id", "text", path, championSize = 4)
    val queries = Seq((1L, "alpha gamma tok3"), (2L, "beta tok5 tok12")).toDF("qid", "qtext")

    def probe(): Seq[(Long, Long, Long, Long)] =
      Lexical.Index.search(spark, path, queries, "qid", "qtext", k = 5)
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq

    val baseline = probe()
    assert(baseline.nonEmpty)
    // the corpus never changes, so EVERY generation scores identically:
    // any probe result other than the baseline is a torn read
    val (seen, n) = race(probe) {
      (1 to 3).foreach(_ => Lexical.Index.optimize(spark, path, championSize = 4))
    }
    assert(n >= 2, "expected at least one probe to overlap the optimize loop")
    seen.zipWithIndex.foreach { case (got, i) =>
      assert(got == baseline, s"probe $i returned a torn result")
    }
  }

  test("Lexical.Index.search under concurrent same-id append retries: zero missing-path errors") {
    // a retry of announced batch 5 must leave its leaves untouched while
    // the unleased reader resolves and scans them
    val path = s"${tmpDir("gen_chaos_lex_retry")}/idx"
    val docs = (1L to 150L).map(i => (i, s"alpha tok${i % 7} beta")).toDF("id", "text")
    Lexical.Index.build(docs, "id", "text", path, championSize = 4)
    val batch = Seq((9000L, "freshterm alpha")).toDF("id", "text")
    Lexical.Index.append(batch, "id", "text", path, appendId = 5L)
    val queries = Seq((1L, "freshterm")).toDF("qid", "qtext")

    def probe(): Seq[Long] =
      Lexical.Index.search(spark, path, queries, "qid", "qtext", k = 5)
        .select("id").as[Long].collect().toSeq

    assert(probe() == Seq(9000L))
    val (seen, n) = race(probe) {
      (1 to 6).foreach(_ => Lexical.Index.append(batch, "id", "text", path, appendId = 5L))
    }
    assert(n >= 2, "expected at least one probe to overlap the retries")
    // the batch stays whole and visible through every retry
    seen.zipWithIndex.foreach { case (got, i) =>
      assert(got == Seq(9000L), s"probe $i returned $got")
    }
  }

  test("Generations.gc logs a failed delete at WARN and keeps sweeping") {
    spark.sparkContext.hadoopConfiguration.set("fs.faildelete.impl", classOf[FailingDeleteFileSystem].getName)
    val dir = tmpDir("gen_gc_warn")
    val root = s"faildelete://$dir"
    (0L to 2L).foreach { g =>
      new java.io.File(Generations.dir(dir, "sub", g)).mkdirs()
      Generations.commit(spark, root, g)
    }
    ageMarkers(dir) // past the time grace: generation 0 is due
    withWarnings { warnings =>
      Generations.gc(spark, root, 2L) // every delete throws; gc must not
      Seq("_gen.e0", "sub@g0").foreach { name =>
        assert(warnings().exists(w => w.contains("gc could not delete") && w.contains(s"$dir/$name")),
          s"the failed delete of $name must be logged; saw ${warnings().mkString(" | ")}")
      }
    }
    assert(new java.io.File(Generations.dir(dir, "sub", 0L)).exists())
    assert(Generations.current(spark, root).contains(2L))
  }

  private def ageMarkers(dir: String): Unit =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("_gen.e"))
      .foreach(_.setLastModified(System.currentTimeMillis() - Generations.GraceMs - 60000))

  test("Generations.gc keeps a superseded generation until its successor's marker is past the time grace") {
    val root = tmpDir("gen_gc_grace")
    def present(): Set[String] = new java.io.File(root).list().toSet
    (0L to 3L).foreach { g =>
      new java.io.File(Generations.dir(root, "sub", g)).mkdirs()
      Generations.commit(spark, root, g)
    }
    Generations.gc(spark, root, 3L)
    assert(Set("_gen.e0", "sub@g0", "_gen.e1", "sub@g1").subsetOf(present()),
      "markers committed just now leave every generation inside the grace")
    // generation 1's marker ages past the grace; generation 2's does not
    new java.io.File(root, "_gen.e1")
      .setLastModified(System.currentTimeMillis() - Generations.GraceMs - 60000)
    Generations.gc(spark, root, 3L)
    assert(!present().contains("_gen.e0") && !present().contains("sub@g0"))
    assert(Set("_gen.e1", "sub@g1", "_gen.e2", "sub@g2", "_gen.e3", "sub@g3").subsetOf(present()))
    val again = intercept[IllegalStateException](Generations.commit(spark, root, 3L))
    assert(again.getMessage.contains("generation 3 is already committed"), again.getMessage)
  }

  test("growing IVF index probes under concurrent optimizeIndex: vectors and centroids pair within one generation") {
    val path = s"${tmpDir("gen_chaos_ivf")}/idx"
    val corpus = Embedding.embedDocuments(
      (1L to 120L).map(i => (i, s"tok${i % 11} alpha tok${i % 5}")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 4)
      .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
    val cents = Seq(0 -> Array(1.0, 0.0, 0.0, 0.0), 1 -> Array(0.0, 1.0, 0.0, 0.0))
    StreamingRetrieval.bootstrapIndex(Similarity.ivfAssign(corpus, "n_vec", cents), cents, path)

    // an unleased reader resolves vectors and centroids from ONE manifest
    // epoch — each optimize commits them together, so the invariants
    // below hold for ANY committed epoch: the full vector set is present
    // (the generations an optimize drops outlive it by the reader grace),
    // and every assigned cell has its centroid
    def probe(): (Long, Boolean) = {
      val (vecs, cents) = StreamingRetrieval.readIndex(spark, path)
      val vecCells = vecs.select("__cell").distinct().as[Int].collect().toSet
      (vecs.count(), vecCells.subsetOf(cents.map(_._1).toSet))
    }

    val (seen, n) = race(probe) {
      (1 to 3).foreach(_ => StreamingRetrieval.optimizeIndex(spark, path, k = 3, maxIter = 2))
    }
    assert(n >= 2)
    seen.zipWithIndex.foreach { case ((count, paired), i) =>
      assert(count == 120L, s"probe $i saw a partial vectors dir: $count rows")
      assert(paired, s"probe $i paired vectors with another generation's centroids")
    }
  }
}

/** A local filesystem whose every delete throws: the failure path of
  * `Generations.gc`. Registered under the `faildelete` scheme by the spec.
  */
class FailingDeleteFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faildelete:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    throw new java.io.IOException(s"planted delete failure: $p")
}

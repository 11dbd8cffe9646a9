package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Lexical}

/** Seeded text corpus: Zipf-distributed words `w<rank>`, a planted share of
  * exact and edited copies, held-out batches for appends, and queries made
  * of a target document's rarest words.
  */
final class CorpusGen(seed: Long, baseDocs: Int, batches: Int, batchSize: Int) {
  import CorpusGen._

  private val rng = new SplittableRandom(seed)
  private def doc(): Array[Int] = Array.fill(30 + rng.nextInt(31))(zipf(rng))

  val exact: Int = baseDocs * PlantedPct / 100
  val edited: Int = baseDocs * PlantedPct / 100
  val originals: Int = baseDocs - exact - edited

  private val origWords: Array[Array[Int]] = Array.fill(originals)(doc())
  /** (original id, exact copy id). */
  val exactPairs: Seq[(Long, Long)] =
    (0 until exact).map(j => (1L + rng.nextInt(originals), originals + 1L + j))
  private val editedPairs: Seq[(Long, Array[Int])] = (0 until edited).map { _ =>
    val o = 1 + rng.nextInt(originals)
    val w = origWords(o - 1).clone()
    (0 until 2).foreach(_ => w(rng.nextInt(w.length)) = zipf(rng))
    (o.toLong, w)
  }
  private val batchWords: Array[Array[Array[Int]]] = Array.fill(batches, batchSize)(doc())

  /** Originals no copy was planted from: their nearest neighbour is themselves. */
  val plainIds: IndexedSeq[Long] = {
    val sources = (exactPairs.map(_._1) ++ editedPairs.map(_._1)).toSet
    (1L to originals.toLong).filterNot(sources)
  }

  def batchId(b: Int, k: Int): Long = BatchBase + b.toLong * batchSize + k

  /** (id, text, batch) rows; batch -1 = the base corpus. */
  def rows: Seq[(Long, String, Int)] =
    origWords.indices.map(i => (i + 1L, text(origWords(i)), -1)) ++
      exactPairs.map { case (o, c) => (c, text(origWords(o.toInt - 1)), -1) } ++
      editedPairs.zipWithIndex.map { case ((_, w), j) => (originals + exact + 1L + j, text(w), -1) } ++
      (for (b <- 0 until batches; k <- 0 until batchSize) yield (batchId(b, k), text(batchWords(b)(k)), b))

  /** Query text for a target: its four rarest words. */
  def query(id: Long): String = {
    val w = if (id >= BatchBase) {
      val off = id - BatchBase
      batchWords((off / batchSize).toInt)((off % batchSize).toInt)
    } else origWords(id.toInt - 1)
    w.distinct.sorted(Ordering.Int.reverse).take(4).map(r => s"w$r").mkString(" ")
  }
}

object CorpusGen {
  val Vocab = 20000
  val PlantedPct = 4
  val BatchBase = 1000000L
  private lazy val cdf: Array[Double] = {
    val w = (1 to Vocab).map(r => 1.0 / r)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def zipf(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    if (i >= 0) i else -i - 1
  }
  def text(words: Array[Int]): String = words.map(r => s"w$r").mkString(" ")
}

/** `corpus_index`: LLM-data curation and search. The first step curates
  * the base corpus (`Dedup.nearDupPairsFast` → `clusterPairs` →
  * `dedupByClusters` → `Lexical.Index.build`); later steps alternate a load
  * op (an `Index.append` of a held-out batch) with query ops (single-query
  * `Index.search` calls, each checked to rank its target in the top k).
  * The curation falls in the warm-up of an untraced window, since it alone
  * would take a third of it, and in the traced window.
  */
final class CorpusIndex(spark: SparkSession, rec: Recorder, seed: Long, cpus: Int) extends Workload {
  private val BaseDocs = 800
  private val Batches = 24
  private val BatchSize = 50
  private val QueriesPerAppend = 2
  private val K = 10
  private val NumHashes = 64
  private val RowsPerBand = 8
  private val Threshold = 0.7

  private lazy val gen = new CorpusGen(seed, BaseDocs, Batches, BatchSize)
  private var root: String = _
  private var curated = false
  private var appended = 0
  private var searchesDue = 0
  private var queries = 0L
  private var losers: Set[Long] = Set.empty
  private var searchResults = 0L
  private val qrng = new SplittableRandom(seed ^ 0x5DEECE66DL)

  private def input = s"$root/input/corpus"
  private def idx = s"$root/index"
  private def corpus: DataFrame = spark.read.parquet(input)
  private def base: DataFrame = corpus.filter(col("batch") === -1).select("id", "text")

  def setup(root: String): Unit = {
    this.root = root
    curated = false
    appended = 0
    searchesDue = 0
    import spark.implicits._
    gen.rows.toDF("id", "text", "batch").repartition(cpus).write.parquet(input)
  }

  /** Curates once, then alternates an append with QueriesPerAppend searches. */
  def step(): Unit =
    if (!curated) {
      rec.op("curate", "curate", "ops.Dedup", BaseDocs) {
        val clusters = rec.span("Dedup.nearDupPairsFast+clusterPairs", "ops.Dedup") {
          Dedup.clusterPairs(Dedup.nearDupPairsFast(base, "id", "text", NumHashes, RowsPerBand, Threshold))
        }
        rec.span("Lexical.Index.build", "ops.Lexical") {
          Lexical.Index.build(Dedup.dedupByClusters(base, "id", clusters), "id", "text", idx, championSize = 32)
        }
        losers = clusters.filter(col("id") =!= col("cluster")).select("id").collect().map(_.getLong(0)).toSet
        true
      }
      curated = true
    } else if (searchesDue == 0 && appended < Batches) {
      val b = appended
      rec.op("load", "Lexical.Index.append", "ops.Lexical", BatchSize) {
        Lexical.Index.append(corpus.filter(col("batch") === b).select("id", "text"), "id", "text",
          idx, appendId = b.toLong)
        true
      }
      appended += 1
      searchesDue = QueriesPerAppend
    } else {
      search()
      searchesDue = math.max(0, searchesDue - 1)
    }

  /** One single-query search for a seeded target among the indexed docs. */
  private def search(): Boolean = {
    val pool = gen.plainIds.size + appended * BatchSize
    val i = qrng.nextInt(pool)
    val target =
      if (i < gen.plainIds.size) gen.plainIds(i)
      else gen.batchId((i - gen.plainIds.size) / BatchSize, (i - gen.plainIds.size) % BatchSize)
    queries += 1
    val qid = queries
    import spark.implicits._
    rec.op("query", "Lexical.Index.search", "ops.Lexical", 1) {
      val hits = Lexical.Index.search(spark, idx, Seq((qid, gen.query(target))).toDF("qid", "qtext"),
        "qid", "qtext", K).select("id").collect().map(_.getLong(0))
      searchResults += hits.length
      hits.contains(target)
    }
  }

  def checks(): Seq[(String, Boolean, String)] = {
    // a copy's id is above its original's, so a correct clustering never
    // keeps the copy as its cluster's survivor
    val removed = gen.exactPairs.count { case (_, c) => losers.contains(c) }
    Seq(("corpus_index.exact_copies_removed", removed == gen.exactPairs.size,
      s"removed=$removed planted=${gen.exactPairs.size}"))
  }

  def destSize(): (Long, Long) =
    (Main.parquetBytes(idx), BaseDocs - losers.size + appended.toLong * BatchSize)

  /** Verified ÷ candidate pairs, counted untimed over the base corpus. */
  def counters(): Map[String, Double] = {
    val verified = Dedup.nearDupPairsFast(base, "id", "text", NumHashes, RowsPerBand, Threshold).count()
    val candidates = Dedup.lshCandidateGroupsFast(base, "id", "text", NumHashes, RowsPerBand)
      .agg(sum(col("n_docs") * (col("n_docs") - 1) / 2)).head().getDouble(0)
    Map("verified_pairs" -> verified.toDouble, "candidate_pairs" -> candidates,
      "search_results" -> searchResults.toDouble)
  }

  def resetCounters(): Unit = searchResults = 0L

  def teardown(): Unit = if (root != null) Main.deleteTree(root)
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lexical champion guarantee, proven at sf1 scale on realistic
  * (Zipfian) text — `ScaleData`'s `zipf` mode; the driver testdata's
  * 31-word vocabulary cannot test this (every term in ~78% of docs:
  * champion overlap there measures corpus degeneracy, not the method —
  * the BASELINE.md study).
  *
  * The champion-list contract (`Lexical.topKDocs` scaladoc) is: scored
  * docs score EXACTLY; a doc can be missed only if it sits outside
  * EVERY query term's tf-top-C. Two query families pin both halves at
  * 50k docs:
  *
  *  1. RARE family (tokens of Zipf rank >= rareRank, so df <= C): all
  *     postings of every query term are champions, the candidate set is
  *     the full scoring support, and the contract IMPLIES hash
  *     equality with the exhaustive ranking. Asserted EQUAL.
  *  2. MIXED family (tokens of rank >= 300: mid-frequency terms with
  *     df in the hundreds, so truncation genuinely engages): misses are
  *     allowed BY CONTRACT, but every missed (query, doc) must be
  *     non-nominated — outside all the query's champion lists. A miss
  *     that WAS nominated would mean exact scoring is broken. Asserted
  *     zero violations; the overlap is reported as the measured quality
  *     of the trade.
  *
  *   tools/zipf_gate.sh   # tile sf0.1 x10 with zipf text, run this
  */
object LexicalZipfGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val championSize = args.lift(1).map(_.toInt).getOrElse(64)
    val rareRank = args.lift(2).map(_.toInt).getOrElse(4000)
    val spark = Sessions.local(Sessions.cpus)
    import graft.ops.{Lexical, Similarity}

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def queriesOf(minRank: Int): DataFrame =
      docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("q_id"),
          concat_ws(" ", slice(
            filter(split(col("text"), " "),
              t => substring(t, 3, 10).cast("int") >= minRank), 1, 4)).as("q_text"))
        .filter(size(split(col("q_text"), " ")) >= 2)
        .localCheckpoint(true)

    def run(queries: DataFrame, c: Int): DataFrame =
      Lexical.topKDocs(docs, "doc_id", "text", queries, "q_id", "q_text",
        k = 10, championSize = c).localCheckpoint(true)

    def md5(df: DataFrame): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      df.collect().map(_.toString).sorted.foreach(r => d.update(r.getBytes("UTF-8")))
      d.digest().map(b => f"${b & 0xff}%02x").mkString
    }

    // ---- family 1: rare terms, equality implied by the contract
    val rareQ = queriesOf(rareRank)
    val rareDfMax = rareQ
      .select(explode(array_distinct(split(col("q_text"), " "))).as("term")).distinct()
      .join(docs.select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df")), Seq("term"))
      .agg(max("df")).head.getLong(0)
    val t0 = System.nanoTime()
    val rareEx = run(rareQ, 0)
    val t1 = System.nanoTime()
    val rareCh = run(rareQ, championSize)
    val t2 = System.nanoTime()
    val rareEqual = md5(rareEx) == md5(rareCh)

    // ---- family 2: mid-frequency terms, truncation engaged; misses must
    // be non-nominated (outside every champion list)
    val mixedQ = queriesOf(300)
    val mixedEx = run(mixedQ, 0)
    val mixedCh = run(mixedQ, championSize)
    val postings = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("__tf"))
    val champs = Similarity.boundedTopK(
      postings.withColumn("__cs", col("__tf").cast("double")),
      "term", "doc_id", "__cs", championSize, "__crank")
      .select(col("term"), col("doc_id"))
    val qt = mixedQ.select(col("q_id"),
      explode(array_distinct(split(col("q_text"), " "))).as("term"))
    val nominated = champs.join(qt, Seq("term")).select("q_id", "doc_id").distinct()
    val misses = mixedEx.select("q_id", "doc_id")
      .except(mixedCh.select("q_id", "doc_id")).localCheckpoint(true)
    val nMissed = misses.count()
    val nViolations = misses.join(nominated, Seq("q_id", "doc_id"), "left_semi").count()
    val nTotal = mixedEx.count()
    val truncTerms = qt.select("term").distinct()
      .join(postings.groupBy("term").agg(count(lit(1)).as("df")), Seq("term"))
      .filter(col("df") > championSize).count()

    println(s"[zipf_gate] docs=${docs.count()} championSize=$championSize " +
      s"rare(minRank=$rareRank): queries=${rareQ.count()} max_df=$rareDfMax " +
      f"exhaustive_s=${(t1 - t0) / 1e9}%.1f champion_s=${(t2 - t1) / 1e9}%.1f " +
      s"EQUAL=$rareEqual | mixed(minRank=300): queries=${mixedQ.count()} " +
      s"truncated_terms=$truncTerms rows=$nTotal missed=$nMissed " +
      f"overlap=${1.0 - nMissed.toDouble / math.max(1, nTotal)}%.4f " +
      s"nominated_misses=$nViolations (must be 0)")
    spark.stop()
    if (!rareEqual || nViolations > 0 || truncTerms == 0) sys.exit(1)
  }
}

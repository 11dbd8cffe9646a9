package graft

import org.apache.spark.sql.functions._

/** Scale-proof data generator: tiles an existing sf dir K× into `dst`
  * with per-copy id shifts, so the scale-sensitive operator family can
  * be exercised at 10× the largest driver-provided SF
  * (`runMain graft.ScaleData /root/testdata/sf0.1 /tmp/sf1 10`).
  *
  * Copies beyond the first get a per-copy suffix token appended to the
  * document text: cross-copy duplicates are then NEAR-dups (minhash
  * finds them, digests do not), which stresses the LSH cap/refinement
  * and incremental-index paths rather than just the exact-digest
  * groupBy. n_chars is recomputed to stay consistent with the text.
  * Events keep their raw ts column verbatim in whatever parquet encoding
  * the source dir carries (ns-long or µs-NTZ — `EventTime.readTable`
  * normalizes at read time); embedding vectors
  * repeat unchanged (ANN ties across copies break deterministically by
  * id on both engines). Orders tile with shifted o_orderkey, for the
  * manifest-publish contract's scan.
  */
object ScaleData {

  /** Deterministic Zipf(1) token sampler: inverse CDF over the
    * cumulative harmonic weights, driven by a splitmix64 of (docId,
    * pos). Rank r appears with probability ∝ 1/r — the shape real text
    * has (rare discriminative terms + a stopword head), which the
    * driver testdata's 31-word vocabulary lacks; the lexical champion
    * guarantee (champion ≡ exhaustive) only means something on this
    * shape. Pure integer/IEEE arithmetic — bit-stable across runs and
    * partitionings.
    */
  def zipfText(docId: Long, nTokens: Int, cumHarmonic: Array[Double]): String = {
    val v = cumHarmonic.length
    val sb = new StringBuilder()
    var j = 0
    while (j < nTokens) {
      var z = docId * 1000003L + j + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      val u = (z >>> 11).toDouble / (1L << 53).toDouble // uniform [0, 1)
      val target = u * cumHarmonic(v - 1)
      var lo = 0; var hi = v - 1
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (cumHarmonic(m) < target) lo = m + 1 else hi = m
      }
      if (j > 0) sb.append(' ')
      sb.append("zw").append(lo + 1)
      j += 1
    }
    sb.toString
  }

  def harmonicCum(vocab: Int): Array[Double] = {
    val cum = new Array[Double](vocab)
    var r = 0
    while (r < vocab) { cum(r) = (if (r == 0) 0.0 else cum(r - 1)) + 1.0 / (r + 1); r += 1 }
    cum
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, kStr) = (args(0), args(1), args(2))
    // optional 4th arg `zipf[:V]`: replace document text with Zipfian
    // tokens over a V-rank vocabulary (default 20000), token count per
    // doc preserved — same corpus size/lengths, realistic term shape
    val zipfVocab: Option[Int] = args.lift(3).map {
      case "zipf"                     => 20000
      case s if s.startsWith("zipf:") =>
        val v = s.stripPrefix("zipf:").toIntOption.getOrElse(
          throw new IllegalArgumentException(s"bad zipf vocab in '$s' (expected zipf:<int>)"))
        require(v >= 1, s"zipf vocab must be >= 1: $v")
        v
      case other => throw new IllegalArgumentException(
        s"unknown ScaleData mode '$other' (expected 'zipf' or 'zipf:<vocab>')")
    }
    val k = kStr.toInt
    require(k >= 1, "k >= 1")
    val spark = Sessions.local(Sessions.cpus)

    val OFF = 100000000L // per-copy id shift, far above any fixture id

    def tile(name: String, idCol: String, withText: Boolean): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val copies = (0 until k).map { i =>
        val shifted = base.withColumn(idCol, col(idCol) + lit(i * OFF))
        if (withText && i > 0)
          shifted.withColumn("text", concat(col("text"), lit(s" copy$i")))
        else shifted
      }
      val all = copies.reduce(_.unionByName(_))
      val rewritten =
        if (withText) zipfVocab.fold(all) { v =>
          // narrow pass: per-doc token count preserved, text regenerated
          val cum = harmonicCum(v) // broadcast via closure: V doubles
          import org.apache.spark.sql.{Encoders, Row}
          val schema = all.schema
          val ti = schema.fieldIndex("text"); val di = schema.fieldIndex(idCol)
          all.mapPartitions { it: Iterator[Row] =>
            it.map { r =>
              val n = math.max(1, r.getString(ti).split(" ", -1).length)
              val vals = r.toSeq.toArray
              vals(ti) = zipfText(r.getLong(di), n, cum)
              Row.fromSeq(vals.toIndexedSeq)
            }
          }(Encoders.row(schema))
        }
        else all
      val out =
        if (withText) rewritten.withColumn("n_chars", length(col("text")).cast("long"))
        else rewritten
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name: ${base.count()} -> ${out.count()} rows" +
        zipfVocab.fold("")(v => if (withText) s" (zipf vocab $v)" else ""))
    }

    tile("documents", "doc_id", withText = true)
    tile("embeddings", "vec_id", withText = false)
    tile("events", "event_id", withText = false)
    tile("orders", "o_orderkey", withText = false)
    spark.stop()
  }
}

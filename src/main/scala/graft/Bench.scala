package graft

/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR. Every query is first run once at sf0.001 so JVM
  * JIT + codegen warmup isn't billed to whichever query happens to run
  * first. The measured pass then runs each query TWICE at the target SF
  * and reports the minimum: each query's whole-stage-codegen class is
  * unique to its plan, so the first execution at scale still pays that
  * class's C2 compilation (measured: 3-10x on array-heavy kernels like
  * the Jaccard verifier), and the shared host adds ±40% noise spikes.
  * min-of-2 is the steady-state number — the one that predicts cluster
  * throughput, where a kernel compiled once runs for hours. A System.gc()
  * between queries lets the ContextCleaner reclaim the previous query's
  * localCheckpoint blocks so later queries aren't billed for earlier
  * queries' memory pressure.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)
    // optional comma-separated query-name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Warmup pass at sf0.001: triggers codegen + JIT per plan shape
    // before timing. (Warming up on the bench SF itself, or not at all,
    // was priced in BASELINE.md: neither removes q_hybrid_rank_scale's
    // bimodal JVMs, so the cheap tiny pass stays the only rhythm.)
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    // deterministic clean slate between timed runs: blocking-unpersist
    // every lingering localCheckpoint block instead of waiting for GC +
    // the async ContextCleaner — accumulated storage blocks from earlier
    // queries otherwise squeeze execution memory and inflate
    // checkpoint-heavy queries ~2x late in the run
    def cleanSlate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // a swallowed per-query failure must NOT masquerade as a fast run (an
    // OOM-killed query once recorded 0.03 s in a scale bench) — failures
    // are surfaced in an additive "errors" key and billed as-is
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = names.map { name =>
      val secs = (1 to 2).map { _ =>
        cleanSlate()
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch {
          case e: Throwable =>
            errors(name) = (e.getClass.getSimpleName + ": " +
              String.valueOf(e.getMessage).take(160)).replaceAll("[\"\\\\\n]", " ")
        }
        (System.nanoTime() - t0) / 1e9
      }
      name -> secs.min
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson,"sf":"$sfDir"}"""
    println(json)
    // The contractual line above outgrew the driver's ~2 KB stdout tail
    // at 167 queries (BENCH_r15..r19 all "parsed": null). ADDITIVE
    // recovery channels, the line itself unchanged:
    // (1) per-query millisecond-int chunk lines AFTER the full line —
    //     each a self-contained valid JSON object under 1.5 KB, so
    //     whatever suffix of stdout survives still carries whole,
    //     parseable per-query chunks;
    val chunkMax = 1400
    val entries = results.map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) }
    val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
      if (acc.last.map(_.length + 1).sum + e.length > chunkMax) acc :+ Vector(e)
      else acc.init :+ (acc.last :+ e)
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"bench_chunk":${i + 1},"of":${chunks.size},"unit":"ms","queries_ms":${c.mkString("{", ",", "}")}}""")
    }
    //     and one compact totals line LAST (under 200 bytes), so even a
    //     tail too short for any chunk says how many queries ran, how
    //     many failed, and the run's total and geomean seconds
    println(totalsLine(results.map(_._2), errors.size))
    // (2) the whole line written to a file the driver (and the
    //     stamp_ratios recovery path) can ingest; ALSO to a per-core
    //     sibling so the driver's follow-up low-core run doesn't clobber
    //     the main run's line before recovery reads it
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    if (!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"BENCH_LOCAL_c$cpus.json"), json + "\n")
    spark.stop()
  }

  /** `{"bench_totals":{...}}` over the per-query seconds, `failed` of
    * which raised; geomean is 0 when no query ran.
    */
  def totalsLine(secs: Seq[Double], failed: Int): String = {
    val geomean = if (secs.isEmpty) 0.0 else math.exp(secs.map(math.log).sum / secs.size)
    def num(fmt: String, d: Double) = fmt.formatLocal(java.util.Locale.ROOT, d)
    s"""{"bench_totals":{"queries":${secs.size},"ok":${secs.size - failed},"failed":$failed,""" +
      s""""total_s":${num("%.3f", secs.sum)},"geomean_s":${num("%.4f", geomean)}}}"""
  }
}

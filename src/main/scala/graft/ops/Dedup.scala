package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Deduplication operators for training-data pipelines, all expressed as
  * declarative plans so Catalyst handles partial aggregation and AQE
  * handles skew:
  *
  *  - exact: hash-groupBy on a content digest (map-side combine → one
  *    shuffle on the digest; at 100 TB the digest groupBy is the minimal
  *    possible shuffle since only (digest, min_id, count) survives the map
  *    side);
  *  - MinHash + LSH banding: shingle → k min-hashes → band buckets →
  *    candidate pairs only within buckets (avoids the O(n²) cross join);
  *  - SimHash: 64-bit sign-aggregated fingerprint, near-dups = equal
  *    fingerprints (or equal bands of it);
  *  - n-gram Jaccard verification on candidate pairs.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content hash with the
    * surviving (minimum) id and the duplicate count.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Keep one row per exact content hash — the materializing variant. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct word-set column (unigram shingles). */
  def wordSet(text: Column): Column = array_distinct(split(text, " "))

  /** One MinHash value: min over md5(i ':' word) — a deterministic,
    * oracle-reproducible permutation family. Lexicographic min over hex
    * digests ≡ min over a 128-bit hash.
    */
  def minhash(wordsCol: Column, seed: Int): Column =
    array_min(transform(wordsCol, w => md5(concat(lit(s"$seed:"), w))))

  /** MinHash signature columns sig_0..sig_{k-1}. */
  def minhashSignature(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val ws = wordSet(col(textCol))
    (0 until k).foldLeft(df)((acc, i) => acc.withColumn(s"sig_$i", minhash(ws, i)))
  }

  /** One-pass native MinHash signature (custom Catalyst expression with
    * codegen — graft.functions.MinHashSignature): k long lanes from a
    * single traversal. Use for scale paths where the oracle-replicable
    * md5 variant is too slow.
    */
  def minhashSignatureFast(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.withColumn("sig",
      graft.functions.MinHashSignature.minhashSignature(wordSet(col(textCol)), k))

  /** LSH candidate groups over the native signature: band key = xxhash64
    * of the band's signature slice (long-array hashing, no strings).
    */
  def lshCandidateGroupsFast(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignatureFast(df, textCol, numHashes)
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      sigs.select(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket_hash"),
        col(idCol))
    }
    bands.reduce(_.unionByName(_))
      .groupBy(col("band"), col("bucket_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .filter(col("n_docs") > 1)
  }

  /** LSH band buckets: documents sharing a band hash are near-dup
    * candidates. rowsPerBand signatures are concatenated per band; the
    * groupBy shuffles only (band, hash, id) triples.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignature(df, textCol, numHashes)
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val h = md5(concat_ws("|", (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*))
      sigs.select(lit(b).as("band"), h.as("bucket_hash"), col(idCol))
    }
    bands.reduce(_.unionByName(_))
  }

  /** Candidate near-dup groups: buckets holding >1 document. */
  def lshCandidateGroups(df: DataFrame, idCol: String, textCol: String, numHashes: Int, rowsPerBand: Int): DataFrame =
    lshBuckets(df, idCol, textCol, numHashes, rowsPerBand)
      .groupBy(col("band"), col("bucket_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .filter(col("n_docs") > 1)

  /** Dedup clustering: connected components over verified near-dup PAIRS
    * via alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" — public algorithm).
    * Each round is two groupBy+join passes and the component trees halve in
    * height, so it converges in O(log n) rounds where min-label propagation
    * needs O(diameter) — the difference between 4 and 40 shuffles on a
    * chain-shaped duplicate cluster. Returns (id, cluster) where cluster =
    * the component's minimum id, i.e. the canonical survivor. Lineage is
    * cut per round (localCheckpoint) so the plan never grows — the property
    * that keeps this runnable on billion-edge graphs. Edge sets under
    * `driverMaxEdges` short-circuit to a driver union-find (broadcast-join
    * reasoning: don't pay log n shuffles for a set that fits in one task).
    */
  def clusterPairs(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25, driverMaxEdges: Long = 2000000L): DataFrame = {
    // Pin the slim (idA, idB) projection ONCE: both the edge set and the
    // node set below derive from `pairs`, and `pairs` is typically the
    // whole LSH-candidate + exact-verify pipeline — unpinned, the node
    // derivation re-executed all of it a second time (measured at sf0.1:
    // two ~40 s-of-task-time jobs doing identical verify work in
    // q_curation_v3).
    val p0 = pairs.select(col(idA).as("__pa"), col(idB).as("__pb")).localCheckpoint(true)
    // canonical directed edges larger → smaller, no self-loops
    var edges = p0
      .select(greatest(col("__pa"), col("__pb")).as("u"), least(col("__pa"), col("__pb")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    // Verified near-dup pairs are tiny relative to the corpus they came
    // from (LSH + verification already reduced them). Below the threshold a
    // driver union-find replaces log(n) shuffle rounds with one collect —
    // the same small-side reasoning as a broadcast join. The distributed
    // path below remains THE path for edge sets that don't fit.
    import org.apache.spark.sql.types._
    val idType = pairs.schema(pairs.schema.fieldIndex(idA)).dataType
    val driverable = idType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _                                                          => false
    }
    if (driverable && edges.count() <= driverMaxEdges)
      return driverUnionFind(edges, idType)
    // fixpoint signature: (edge count, hash sum) in ONE aggregate — no
    // join-based change detection
    def sig(df: DataFrame) =
      df.agg(count(lit(1)), sum(hash(col("u"), col("v")).cast("long"))).head()
    var prevSig = sig(edges)
    var stable = false
    var i = 0
    while (!stable && i < maxIter) {
      // large-star: every node hooks its LARGER neighbors to the minimum of
      // its neighborhood (including itself)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mv"))
        .select(col("u").as("c"), least(col("u"), col("mv")).as("m"))
      // no distinct here: duplicates are bounded (≤2 per input edge) and
      // the small-star phase deduplicates at the end — one less shuffle
      val large = sym.join(mins, col("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: every node hooks itself and its smaller neighbors to
      // its smallest neighbor (edges are directed larger → smaller here)
      val mins2 = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(mins2, "u")
        .select(col("v").as("n"), col("m"))
        .union(mins2.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      val s = sig(small)
      stable = s == prevSig
      prevSig = s
      edges = small
      i += 1
    }
    // at fixpoint components are stars around their min; min-agg also makes
    // a maxIter cutoff safe
    val roots = edges.groupBy("u").agg(min("v").as("cluster"))
      .select(col("u").as("id"), col("cluster"))
    val nodes = p0.select(col("__pa").as("id")).union(p0.select(col("__pb").as("id"))).distinct()
    nodes.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Small-edge-set path: path-compressed union-find over collected edges,
    * always unioning the larger root under the smaller so the final root of
    * every component is its minimum id (identical labels to the distributed
    * path).
    */
  private def driverUnionFind(edges: DataFrame, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    val lt: (Any, Any) => Boolean = idType match {
      case StringType => (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
      case _          => (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    val collected = edges.collect()
    collected.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = collected.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
    val rows = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
    val spark = edges.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", idType), StructField("cluster", idType))))
  }

  /** Survivors after clustering: one row per component (the minimum id)
    * plus every unpaired document untouched.
    */
  def dedupByClusters(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("cluster")).select(col("id").as("__drop"))
    df.join(losers, df(idCol) === col("__drop"), "left_anti")
  }

  /** Jaccard similarity of two precomputed distinct-element arrays.
    * Callers should project `wordSet` BEFORE any pairwise join so the
    * split+distinct runs once per document, not once per pair.
    */
  def jaccardSets(sa: Column, sb: Column): Column = {
    // |A∪B| = |A| + |B| − |A∩B|: one array pass instead of two (inputs are
    // already distinct sets)
    val inter = size(array_intersect(sa, sb)).cast("double")
    val uni = size(sa).cast("double") + size(sb).cast("double") - inter
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Jaccard similarity of the distinct word sets of two text columns. */
  def jaccard(a: Column, b: Column): Column =
    jaccardSets(array_distinct(split(a, " ")), array_distinct(split(b, " ")))

  /** The composed near-dup pipeline — the shape that holds at 100 TB:
    * MinHash-LSH generates candidate pairs (shuffle on short band keys,
    * never a cross join), then exact Jaccard verifies ONLY candidates.
    * Pair space is O(Σ bucket²) instead of O(n²); threshold recall is
    * tuned by (numHashes, rowsPerBand).
    *
    * Degenerate buckets (empty strings, site boilerplate) would make one
    * bucket quadratic at corpus scale, so buckets over `maxBucketSize` get
    * two defenses, applied only above the cap (buckets at or under it are
    * joined exactly as before — identical output):
    *
    *  1. regrouped by a SIGNATURE REFINEMENT — the exact value of the
    *     NEXT band's bucket hash (adaptive band widening: membership in a
    *     degenerate 2-row band escalates to a 4-row match requirement).
    *     The key is LOCALITY-PRESERVING: a true near-dup pair agrees on
    *     the widened key with probability t^(2·rowsPerBand) per band
    *     (0.66 at t=0.9, r=2 — and every band retry re-rolls an
    *     independent key), while unrelated co-bucketed docs scatter into
    *     distinct groups, so refinement groups at or under the cap pair
    *     ALL-PAIRS at O(n·maxBucketSize) bucket work — this recovers
    *     scattered twin pairs inside a heterogeneous mega-bucket. With a
    *     single band there is no "next" band; the refinement key falls
    *     back to the full-signature hash;
    *  2. groups STILL over the cap are minhash-saturated (a tiny shared
    *     vocabulary can give thousands of non-duplicate docs identical
    *     signatures — a broad-Jaccard mixture no signature-derived key
    *     separates), so each is split by a BAND-SALTED pseudo-random hash
    *     into cells of ~64 docs paired all-pairs per cell, the salts
    *     making the per-band retries independent; consecutive cell hubs
    *     are chained so homogeneous mega-groups still cluster into one
    *     component downstream. Jaccard verification keeps the output
    *     exact; work stays linear in the group size — dedup semantics
    *     survive, the quadratic straggler doesn't.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val sigs = minhashSignature(df, textCol, numHashes)
      .withColumn("__sz", size(wordSet(col(textCol))))
    val numBands = numHashes / rowsPerBand
    // refinement key from the md5 family (NOT xxhash64): 60 bits of an md5
    // as a nonnegative long, so an external SQL engine can replay the
    // over-cap sub-bucket assignment bit-for-bit — the capped path stays
    // oracle-verifiable at the scale where it engages. Per band b the key
    // is the NEXT band's bucket hash (locality-preserving, see scaladoc);
    // with one band it falls back to the full-signature md5.
    def bandMd5(b: Int) = md5(concat_ws("|",
      (b * rowsPerBand until (b + 1) * rowsPerBand).map(r => col(s"sig_$r")): _*))
    def md5ToLong60(h: Column) = conv(substring(h, 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)
    def refine(b: Int) =
      if (numBands == 1) md5ToLong60(
        md5(concat_ws("|", (0 until numHashes).map(i => col(s"sig_$i")): _*)))
      else md5ToLong60(bandMd5((b + 1) % numBands))
    val bands = (0 until numBands).map { b =>
      sigs.select(lit(b).as("band"), bandMd5(b).as("bucket_hash"),
        col(idCol).as("__id"), refine(b).as("__refine"), col("__sz"))
    }
    val candidates = cappedCandidatePairs(bands, numBands, maxBucketSize,
      sizeGate = Some(threshold))
    verifyJaccard(df, idCol, textCol, candidates, threshold)
  }

  /** As `nearDupPairs` but over the one-pass native MinHash signature
    * (graft.functions.MinHashSignature) — k long lanes from a single
    * traversal, band keys from xxhash64 of the lane slice. Same capped
    * banding and exact-Jaccard verification; the hash family differs, so
    * candidate recall is family-specific but the verified output is the
    * same ground-truth near-dup set whenever banding recall reaches 1.
    */
  def nearDupPairsFast(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int = 1000,
  ): DataFrame =
    verifyJaccard(df, idCol, textCol,
      fastCandidatePairs(df, idCol, textCol, numHashes, rowsPerBand, maxBucketSize,
        sizeGate = Some(threshold)),
      threshold)

  /** The candidate stage of `nearDupPairsFast`, exposed for stage-level
    * profiling (BASELINE.md, "Candidate-generation size gate") —
    * identical plan, no verification.
    */
  private[graft] def fastCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = 1000,
      sizeGate: Option[Double] = None, // pass Some(threshold) to prune at generation
  ): DataFrame = {
    val sigs = minhashSignatureFast(df, textCol, numHashes)
      .withColumn("__sz", size(wordSet(col(textCol))))
    val numBands = numHashes / rowsPerBand
    // same locality-preserving refinement as the md5 path: next band's
    // bucket hash (full-signature hash when there is only one band)
    def bandHash(b: Int) =
      xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
    def refine(b: Int) =
      if (numBands == 1) xxhash64(col("sig")) else bandHash((b + 1) % numBands)
    val bands = (0 until numBands).map { b =>
      sigs.select(lit(b).as("band"), bandHash(b).as("bucket_hash"),
        col(idCol).as("__id"), refine(b).as("__refine"), col("__sz"))
    }
    cappedCandidatePairs(bands, numBands, maxBucketSize, sizeGate = sizeGate)
  }

  /** Candidate pairs within (band, bucket_hash) buckets, with the
    * degenerate-bucket cap applied. Inputs are per-band frames of
    * (band, bucket_hash, __id, __refine[, __sz]).
    *
    * `sizeGate = Some(t)`: apply the verify stage's length-ratio filter
    * (J(A,B) >= t forces t <= |A|/|B| <= 1/t) INSIDE each pair
    * self-join, on the `__sz` word-set-size column the band rows carry.
    * Output-preserving — it removes only pairs the verifier's identical
    * filter would drop — but it prunes at generation, before the
    * cross-band union, the distinct() and the word-set fetch join, which
    * is where the candidate volume actually lives (sf1 measured: the
    * sane-bucket joins emit 4.4M pairs of which 3% verify; the ratio
    * test kills size-mismatched pairs for the cost of two int compares
    * already inside the join's row loop).
    */
  private def cappedCandidatePairs(
      bands: Seq[DataFrame], numBands: Int, maxBucketSize: Int,
      cellSize: Int = 64, sizeGate: Option[Double] = None): DataFrame = {
    val ratioOk: Column = sizeGate.map { t =>
      col("x.__sz").cast("double") >= lit(t) * col("y.__sz") &&
        col("y.__sz").cast("double") >= lit(t) * col("x.__sz")
    }.getOrElse(lit(true))
    val szCols: Seq[Column] = if (sizeGate.isDefined) Seq(col("__sz")) else Nil
    // Bucket sizes via a partially-aggregated groupBy (map-side combine:
    // only (band, hash, count) triples shuffle) instead of a window — a
    // window here sorts the ENTIRE banded union inside each partition,
    // which at corpus scale makes the skew defense itself the straggler.
    // Only buckets OVER the cap survive the filter, so `overCap` is tiny
    // by construction and broadcasts. The plan then forks: sane buckets
    // (broadcast anti-join) run EXACTLY the uncapped pair join — zero
    // stats columns, zero extra shuffles — while over-cap rows (broadcast
    // semi shape) pay for the refinement split and star fallback. When no
    // bucket exceeds the cap the second branch is empty and the only
    // overhead left is the one aggregated size pass.
    //
    // The banded union is materialized once (eager localCheckpoint — a
    // narrow (band, hash32, id, refine) row per doc per band, the same
    // order of bytes a shuffle of it would spill): the size pass, both
    // branches, and both sides of each pair self-join all read the
    // materialized blocks instead of re-running the k md5 minhash
    // traversals per scan — the signature computation is the dominant
    // linear cost and would otherwise run 6+ times.
    val bandsU = bands.reduce(_.unionByName(_)).localCheckpoint(true)
    // Pair self-joins are compute-dense and byte-light: a few KB of band
    // rows fan out into m² within-bucket comparisons, so AQE's byte-based
    // partition coalescing collapses exactly the stages that need every
    // core (measured at sf0.1: the verify stage ran on 2 post-coalesce
    // tasks carrying 7 s of task time). Each self-join input is therefore
    // repartitioned BY NUMBER on its join key — a user-numbered exchange
    // AQE never coalesces — at the session's shuffle width, which both
    // sides of the self-join share (one exchange, reused). At corpus
    // scale the band rows fill that width anyway, so this pins the
    // non-AQE default rather than fighting it.
    def fullWidth(df: DataFrame, keys: Column*): DataFrame =
      df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
    // The shared sub-frames below (over-cap buckets, their rows, the
    // refinement/cell statistics) are each referenced by several of the
    // five pair branches; Catalyst expands every reference into a full
    // copy of its lineage, which grew this operator's physical plan to
    // ~490 operators and made PLANNING the dominant driver cost
    // (measured: 6.7 s of between-job gaps vs 5.1 s of jobs for
    // q_dedup_pipeline at sf0.1). Eagerly pinning them truncates the
    // plan at bounded frames: overCap/subStats/cellStats are a few rows
    // per degenerate bucket, and bigB/overC are subsets of the already-
    // pinned bandsU (same byte-order defense as its scaladoc).
    val overCap = bandsU
      .groupBy(col("band"), col("bucket_hash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .localCheckpoint(true)
    // Pinning overCap makes "did the cap engage at all" a cheap local
    // probe — and when it did NOT (the common real-corpus case), the
    // anti-join and all four over-cap branches are provably empty, so
    // the whole operator collapses to the plain within-bucket pair join
    // over bandsU: no anti-join, a fraction of the plan, none of the
    // over-cap materializations.
    val capEngaged = !overCap.isEmpty
    def pairsWithin(df: DataFrame, keys: Seq[String]): DataFrame = {
      val w = fullWidth(df, keys.map(col): _*)
      w.as("x").join(w.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          col("x.__id") < col("y.__id") && ratioOk)
        .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
    }
    def dedupAcrossBands(raw: DataFrame): DataFrame =
      // a pair can repeat only across bands — with one band it's already
      // unique. The repartition ahead of the distinct pins the downstream
      // VERIFY width too: the dedup reuses the user-numbered exchange
      // (same keys), and the word-set fetch broadcasts onto its output,
      // so the per-pair intersections inherit this width instead of
      // whatever AQE coalesced the candidate bytes to.
      if (numBands > 1) fullWidth(raw, col("id_a"), col("id_b")).distinct()
      else raw
    val sane =
      if (!capEngaged)
        bandsU.select(Seq(col("band"), col("bucket_hash"), col("__id")) ++ szCols: _*)
      else bandsU
        .join(broadcast(overCap), Seq("band", "bucket_hash"), "left_anti")
        .select(Seq(col("band"), col("bucket_hash"), col("__id")) ++ szCols: _*)
    val sanePairs = pairsWithin(sane, Seq("band", "bucket_hash"))
    if (!capEngaged) return dedupAcrossBands(sanePairs)
    // LEVEL 2 — over-cap rows regroup by the EXACT refinement value:
    // docs that also agree on the next band, i.e. on twice the minhash
    // evidence (adaptive band widening: a degenerate 2-row band escalates
    // to a 4-row match requirement). Groups at or under the cap pair
    // all-pairs; this is where scattered twin pairs inside a
    // heterogeneous mega-bucket are recovered. A pmod-of-refine split
    // into ~n/cap sub-buckets was measured strictly worse here (sf1
    // 10×-tiled corpus: 1041/5124 dup-docs uncovered): locality clumps
    // near-dup groups into one residue class whose single star hub is an
    // arbitrary doc of the mixture.
    val big = bandsU
      .join(broadcast(overCap), Seq("band", "bucket_hash"))
      .withColumn("__sub", col("__refine"))
    val subStats = big
      .groupBy(col("band"), col("bucket_hash"), col("__sub"))
      .agg(count(lit(1)).as("__m"))
    val bigB = big
      .join(broadcast(subStats), Seq("band", "bucket_hash", "__sub"))
      .select(Seq(col("band"), col("bucket_hash"), col("__sub"), col("__id"),
        col("__m")) ++ szCols: _*)
      .localCheckpoint(true)
    // branch decisions are applied BEFORE each self-join, not as post-join
    // filters: a hash join on the group key evaluates every within-key row
    // combination against its residual predicate, so filtering afterwards
    // would still pay m² predicate evaluations for a degenerate m-row
    // group even when the bounded output is linear
    val smallPairs = pairsWithin(bigB.filter(col("__m") <= maxBucketSize),
      Seq("band", "bucket_hash", "__sub"))
    // LEVEL 3 — refinement groups STILL over the cap (minhash saturation:
    // a tiny shared vocabulary gives thousands of docs identical
    // signatures, so no signature-derived key can split them further, yet
    // the group is a broad-Jaccard MIXTURE, not one duplicate family).
    // Split the group by a BAND-SALTED pseudo-random md5 into cells of
    // ~`cellSize` docs and pair all-pairs within a cell: a doc whose true
    // partners make up fraction f of its group finds one in-cell with
    // p = 1−(1−f)^(cellSize−1) per band, and because the salt differs per
    // band the retries are INDEPENDENT even when every band yields the
    // identical group — the single-star design had zero retry diversity
    // there and left 20% of dup-docs uncovered (sf1, 10×-tiled). Work is
    // m·cellSize/2 per group per band; the salt is md5-family, so an
    // external SQL engine replays the cell assignment bit-for-bit.
    //
    // A cell target above the bucket cap would put every cell on the
    // star-only path (cells of `cellSize` docs all exceed the cap), so
    // the effective cell size is clamped to the cap.
    val effCell = math.min(cellSize, maxBucketSize)
    val overG = bigB.filter(col("__m") > maxBucketSize)
      .withColumn("__cell", pmod(
        conv(substring(md5(concat_ws(":", col("band"), col("__id"))), 1, 15), 16, 10)
          .cast(org.apache.spark.sql.types.LongType),
        ceil(col("__m") / lit(effCell.toDouble)).cast("long")))
    val cellStats = overG
      .groupBy(col("band"), col("bucket_hash"), col("__sub"), col("__cell"))
      .agg(count(lit(1)).as("__cm"), min(col("__id")).as("__chub"))
      .localCheckpoint(true)
    val overC = overG
      .join(cellStats, Seq("band", "bucket_hash", "__sub", "__cell"))
      .select(Seq(col("band"), col("bucket_hash"), col("__sub"), col("__cell"),
        col("__id"), col("__cm"), col("__chub")) ++ szCols: _*)
      .localCheckpoint(true)
    val cellPairs = pairsWithin(overC.filter(col("__cm") <= maxBucketSize),
      Seq("band", "bucket_hash", "__sub", "__cell"))
    // freak over-cap cell (possible only via extreme hash skew): star
    // around the cell's min id keeps the output linear
    val cellHubs = overC.filter(col("__cm") > maxBucketSize && col("__id") === col("__chub"))
      .select(col("band"), col("bucket_hash"), col("__sub"), col("__cell"), col("__id").as("id_a"))
    val cellSpokes = overC.filter(col("__cm") > maxBucketSize && col("__id") =!= col("__chub"))
      .select(col("band"), col("bucket_hash"), col("__sub"), col("__cell"), col("__id").as("id_b"))
    val starPairs = cellSpokes.join(cellHubs, Seq("band", "bucket_hash", "__sub", "__cell"))
      .select(col("id_a"), col("id_b"))
    // stitch consecutive cells through their hubs (cell k ↔ cell k+1, one
    // pair per boundary) so a genuinely homogeneous mega-group — identical
    // boilerplate sliced into many cells — still clusters into ONE
    // connected component downstream instead of one per cell
    val chainPairs = cellStats.as("a")
      .join(cellStats.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket_hash") === col("b.bucket_hash") &&
          col("a.__sub") === col("b.__sub") &&
          col("b.__cell") === col("a.__cell") + 1)
      .select(least(col("a.__chub"), col("b.__chub")).as("id_a"),
        greatest(col("a.__chub"), col("b.__chub")).as("id_b"))
    val rawCandidates = sanePairs.unionByName(smallPairs).unionByName(cellPairs)
      .unionByName(starPairs).unionByName(chainPairs)
    dedupAcrossBands(rawCandidates)
  }

  /** Exact n-gram Jaccard verification of candidate (id_a, id_b) pairs. */
  private def verifyJaccard(
      df: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val sets = df.select(col(idCol), wordSet(col(textCol)).as("__ws"))
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("__ws").as("ws_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__ws").as("ws_b")), "id_b")
      // length-ratio prefilter (prefix-filtering classic): J(A,B) >= t
      // forces t <= |A|/|B| <= 1/t, so size-mismatched pairs skip the
      // O(|A|+|B|) intersect entirely. Output is identical — the filter
      // only removes pairs that cannot reach the threshold.
      .filter(
        size(col("ws_a")).cast("double") >= lit(threshold) * size(col("ws_b")) &&
          size(col("ws_b")).cast("double") >= lit(threshold) * size(col("ws_a")))
      .withColumn("jac", jaccardSets(col("ws_a"), col("ws_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  // ------------------------------------------------ incremental dedup
  // The 100 TB production shape: a corpus is deduplicated ONCE and its
  // LSH band rows are persisted as an index table; each incoming batch
  // then dedups against the index WITHOUT recomputing corpus signatures.
  // Per batch the work is O(batch) signature computation + a broadcast
  // of the batch's band rows into one pass over the index — the corpus
  // text table is only touched to fetch the few candidate documents.

  /** Persistable LSH index rows for a document set: one
    * (band, bucket_hash, refine, id) row per document per band, where
    * `refine` is the 60-bit md5 of the NEXT band's bucket hash (the
    * full-signature md5 with a single band) used for the over-cap
    * sub-bucket split — the same per-band value `nearDupPairs` computes,
    * so the capped incremental join stays oracle-replicable. Indexes
    * persisted by an older full-signature-refine build must be rebuilt
    * (the refine semantics are part of the index format). Write this
    * to parquet partitioned/sorted however the store likes; readers
    * only ever hash-join it on (band, bucket_hash).
    */
  def lshIndexRows(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignature(df, textCol, numHashes)
    val numBands = numHashes / rowsPerBand
    def bandMd5(b: Int) = md5(concat_ws("|",
      (b * rowsPerBand until (b + 1) * rowsPerBand).map(r => col(s"sig_$r")): _*))
    def md5ToLong60(h: Column) = conv(substring(h, 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)
    def refine(b: Int) =
      if (numBands == 1) md5ToLong60(
        md5(concat_ws("|", (0 until numHashes).map(i => col(s"sig_$i")): _*)))
      else md5ToLong60(bandMd5((b + 1) % numBands))
    val bands = (0 until numBands).map { b =>
      sigs.select(lit(b).as("band"), bandMd5(b).as("bucket_hash"),
        refine(b).as("refine"), col(idCol).as("id"))
    }
    bands.reduce(_.unionByName(_))
  }

  /** Broadcast a batch-derived frame only while it is actually small:
    * the incremental path assumes batch ≪ corpus, but nothing used to
    * enforce it — a backfill-sized batch would blow the executor-memory /
    * broadcast limits and kill the job instead of degrading. The row
    * counts come free (the gated frames are eagerly checkpointed, or the
    * count is derived arithmetically), and above the cap the join
    * degrades to a shuffled hash join — same result, no single-node
    * materialization of the batch.
    */
  private[graft] def gated(df: DataFrame, rows: Long, cap: Long): DataFrame =
    if (rows <= cap) broadcast(df) else df.hint("shuffle_hash")

  /** Verified near-dup pairs between an incoming batch and an indexed
    * corpus: batch band rows (computed here, O(batch)) broadcast-join
    * the persisted index on (band, bucket_hash); candidates are then
    * exact-Jaccard verified against the corpus TEXTS of only the
    * candidate ids. Returns (id_a = batch id, id_b = corpus id, jac).
    *
    * Batch-derived frames broadcast only below `broadcastRowCap` rows
    * (see `gated`); a backfill-sized batch falls back to shuffled hash
    * joins instead of dying on the broadcast limit.
    *
    * Index buckets over `maxBucketSize` (site boilerplate surviving in
    * the corpus) get the same two bounded defenses as `nearDupPairs`:
    * a locality-preserving refinement split (next band's bucket hash) —
    * the batch doc probes only the sub-bucket its own signature hashes
    * into — and, for sub-buckets still over the cap (docs agreeing on
    * two consecutive bands), a hub-only probe: matching the sub-bucket's
    * min-id representative answers "is this batch doc a dup of the
    * boilerplate group" without touching the other n−1 copies.
    * Work per batch doc is O(maxBucketSize) per matching bucket, never
    * O(bucket).
    */
  def incrementalNearDupPairs(
      batch: DataFrame,
      corpus: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int = 1000,
      broadcastRowCap: Long = 4000000L,
      cellSize: Int = 64,
  ): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bBands = lshIndexRows(batch, idCol, textCol, numHashes, rowsPerBand)
      .select(col("band"), col("bucket_hash"),
        col("refine").as("__brefine"), col("id").as("__bid"))
      .localCheckpoint(true)
    // free post-checkpoint; one band row per doc per band, so the batch
    // row count falls out arithmetically without touching `batch` again
    val nBandRows = bBands.count()
    val nBatchRows = nBandRows / math.max(1, numBands)
    // index bucket sizes via one partially-aggregated pass; only buckets
    // OVER the cap survive, so the stats frame is tiny and broadcasts
    // pinned: overCap/subStats are tiny (rows only for over-cap buckets)
    // but referenced by three branches each — unpinned, every reference
    // re-aggregates the full index and the plan re-expands its lineage
    // (the same planning-cost defense as nearDupPairs' pinned stats)
    val overCap = index
      .groupBy(col("band"), col("bucket_hash"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .localCheckpoint(true)
    val saneIdx = index.join(broadcast(overCap), Seq("band", "bucket_hash"), "left_anti")
    val sanePairs = saneIdx
      .join(gated(bBands, nBandRows, broadcastRowCap), Seq("band", "bucket_hash"))
      .select(col("__bid").as("id_a"), col("id").as("id_b"))
    val bigIdx = index
      .join(broadcast(overCap), Seq("band", "bucket_hash"))
      .withColumn("__sub", col("refine"))
    val subStats = bigIdx
      .groupBy(col("band"), col("bucket_hash"), col("__sub"))
      .agg(count(lit(1)).as("__m"))
      .localCheckpoint(true)
    val bigIdxM = bigIdx
      .join(broadcast(subStats), Seq("band", "bucket_hash", "__sub"))
    // the batch doc probes the refinement group its own next-band hash
    // names: every row of a group at or under the cap, and — for
    // saturated over-cap groups — the rows of the band-salted cell the
    // batch doc's own id hashes into (plus that cell's min-id hub when
    // even the cell is over cap). Cell membership of index rows is keyed
    // by the INDEX doc's id under the same salt, so the probe meets a
    // ~cellSize pseudo-random sample of the group per band, independent
    // across bands — the same three-level defense as `nearDupPairs`,
    // pre-filtered BEFORE the join so over-cap groups never re-
    // materialize per batch doc.
    val effCell = math.min(cellSize, maxBucketSize) // cells must fit the cap
    def cellOf(idC: Column) = pmod(
      conv(substring(md5(concat_ws(":", col("band"), idC)), 1, 15), 16, 10)
        .cast(org.apache.spark.sql.types.LongType),
      ceil(col("__m") / lit(effCell.toDouble)).cast("long"))
    val saneTargets = bigIdxM.filter(col("__m") <= maxBucketSize)
      // sane groups match on the group key alone; a constant cell joins
      // every batch probe row for that group (batch side mirrors this)
      .select(col("band"), col("bucket_hash"), col("__sub"), lit(-1L).as("__cell"), col("id"))
    val overIdx = bigIdxM.filter(col("__m") > maxBucketSize)
      .withColumn("__cell", cellOf(col("id")))
    val cellStats = overIdx
      .groupBy(col("band"), col("bucket_hash"), col("__sub"), col("__cell"))
      .agg(count(lit(1)).as("__cm"), min(col("id")).as("__chub"))
    val cellTargets = overIdx
      .join(cellStats, Seq("band", "bucket_hash", "__sub", "__cell"))
      .filter(col("__cm") <= maxBucketSize || col("id") === col("__chub"))
      .select(col("band"), col("bucket_hash"), col("__sub"), col("__cell"), col("id"))
    val idxTargets = saneTargets.unionByName(cellTargets)
    val bigPairs = idxTargets
      .join(gated(bBands.join(broadcast(overCap), Seq("band", "bucket_hash"))
          .join(broadcast(subStats.withColumnRenamed("__sub", "__brefine")),
            Seq("band", "bucket_hash", "__brefine"), "left")
          .withColumn("__cell",
            when(col("__m").isNull || col("__m") <= maxBucketSize, lit(-1L))
              .otherwise(cellOf(col("__bid"))))
          .select(col("band"), col("bucket_hash"), col("__brefine").as("__sub"),
            col("__cell"), col("__bid")),
          nBandRows, broadcastRowCap),
        Seq("band", "bucket_hash", "__sub", "__cell"))
      .select(col("__bid").as("id_a"), col("id").as("id_b"))
    val raw = sanePairs.unionByName(bigPairs)
    val cand = (if (numBands > 1) raw.distinct() else raw).localCheckpoint(true)
    val nCand = cand.count() // free post-checkpoint
    // verify: candidate ids drive a semi-join into the corpus texts (the
    // corpus table is only read for candidate documents); batch word
    // sets broadcast while the batch stays small
    val cSets = corpus
      .join(gated(cand.select(col("id_b").as(idCol)).distinct(), nCand, broadcastRowCap),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_b"), wordSet(col(textCol)).as("ws_b"))
    val bSets = batch.select(col(idCol).as("id_a"), wordSet(col(textCol)).as("ws_a"))
    cand
      .join(cSets, "id_b")
      .join(gated(bSets, nBatchRows, broadcastRowCap), "id_a")
      .filter(
        size(col("ws_a")).cast("double") >= lit(threshold) * size(col("ws_b")) &&
          size(col("ws_b")).cast("double") >= lit(threshold) * size(col("ws_a")))
      .withColumn("jac", jaccardSets(col("ws_a"), col("ws_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Full incremental-dedup step: drop batch docs matching the corpus,
    * dedup the remainder among themselves, and return the survivors
    * plus the index rows to append — the whole per-batch cycle of a
    * continuously-ingesting deduplicated corpus. Corpus docs always
    * win over batch docs (they are already published); batch-internal
    * survivors are the min-id representative per cluster.
    */
  def incrementalDedup(
      batch: DataFrame,
      corpus: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucketSize: Int = 1000,
      broadcastRowCap: Long = 4000000L,
  ): (DataFrame, DataFrame) = {
    val vsCorpus = incrementalNearDupPairs(batch, corpus, index, idCol, textCol,
      numHashes, rowsPerBand, threshold, maxBucketSize, broadcastRowCap)
    // pin the matched-id set: `fresh` feeds both the internal near-dup
    // pass and the survivor anti-join, and without the pin each reference
    // would re-run the whole vs-corpus probe + verify
    val matchedIds = vsCorpus.select(col("id_a").as(idCol)).distinct().localCheckpoint(true)
    val fresh = batch.join(gated(matchedIds, matchedIds.count(), broadcastRowCap),
      Seq(idCol), "left_anti")
    val inner = nearDupPairs(fresh, idCol, textCol, numHashes, rowsPerBand, threshold, maxBucketSize)
    val survivors = dedupByClusters(fresh, idCol, clusterPairs(inner))
    (survivors, lshIndexRows(survivors, idCol, textCol, numHashes, rowsPerBand))
  }

  /** Corpus-wide line-level dedup (the CCNet/RefinedWeb preprocessing
    * step): documents split on `sep`, each distinct line survives only at
    * its FIRST occurrence (minimum (id, position) across the whole
    * corpus — the boilerplate killer for headers/footers/nav text), and
    * documents are reassembled in original line order. Returns one row
    * per input document: (id, deduped text, n_lines, n_kept) — n_kept=0
    * docs come back with empty text so the caller decides the drop
    * threshold.
    *
    * Plan shape at 100 TB: explode → groupBy(line) min-struct (map-side
    * combine — only (line, min id, min pos) survives the map side) →
    * hash join back on the line key (both sides partitioned by it — no
    * extra exchange) → one keyed shuffle on the doc id to reassemble.
    * No windows, no driver state. `hashKeys=true` switches the join/
    * group key from the line text to xxhash64(line) — 8-byte shuffle
    * keys instead of whole lines — at the (astronomically small) risk
    * of hash-collision over-dedup; output is otherwise identical.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", hashKeys: Boolean = false): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "__pos", "__line")
      .withColumn("__k", if (hashKeys) xxhash64(col("__line")) else col("__line"))
    val first = lines.groupBy(col("__k"))
      .agg(min(struct(col(idCol).as("__fid"), col("__pos").as("__fpos"))).as("__first"))
    val kept = lines.join(first, "__k")
      .filter(col("__first.__fid") === col(idCol) && col("__first.__fpos") === col("__pos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("__text"),
        count(lit(1)).as("__kept"))
    df.select(col(idCol), size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol),
        col("n_lines"), coalesce(col("__kept"), lit(0L)).as("n_kept"))
  }

  /** Shared-token-span detection — the distributed approximation of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): find document pairs sharing a run
    * of at least `minSpan` consecutive tokens. A shared L-token span
    * implies L−k+1 consecutive matching k-grams on one alignment
    * diagonal, so the plan is: positional k-gram hashes → equi join on
    * the 8-byte hash → gaps-and-islands per (pair, diagonal) → max run.
    * Returns (id_a, id_b, max_span) for pairs at or over the threshold.
    *
    * K-grams present in more than `maxDocFreq` documents (boilerplate —
    * the quadratic blowup of the anchor join) are dropped before
    * pairing: a span built ONLY of such grams is boilerplate by
    * definition, and spans mixing rare grams keep their rare anchors.
    * Deterministic and oracle-replicable (the oracle joins on the gram
    * STRING; xxhash64 is an 8-byte shuffle-key optimization with
    * astronomically-unlikely, deterministic collisions).
    */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minSpan: Int, maxDocFreq: Int = 1000): DataFrame = {
    require(minSpan >= k, s"minSpan $minSpan must be >= k $k")
    val ws = split(col(textCol), " ")
    val idx = when(size(ws) >= k, sequence(lit(0), size(ws) - k))
      .otherwise(array().cast("array<int>"))
    val grams = df
      .select(col(idCol).as("__id"),
        posexplode(transform(idx, i => xxhash64(concat_ws(" ", slice(ws, i + 1, lit(k)))))))
      .toDF("__id", "__pos", "__h")
      .localCheckpoint(true) // both join sides + the df-cap read it
    val tooCommon = grams.groupBy(col("__h"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
    val g = grams.join(broadcast(tooCommon), Seq("__h"), "left_anti")
    val anchors = g.as("a")
      .join(g.as("b"), col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__pos").as("__pos_a"), (col("a.__pos") - col("b.__pos")).as("__diag"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("__diag")).orderBy(col("__pos_a"))
    anchors
      .withColumn("__grp", col("__pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__grp"))
      .agg((count(lit(1)) + lit(k - 1)).as("__span"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("__span")).as("max_span"))
      .filter(col("max_span") >= minSpan)
  }

  /** Corpus-level exact-substring REMOVAL (the other half of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better": their
    * suffix-array pass CUTS duplicated spans rather than dropping
    * documents). Distributed formulation: a token position is cut when it
    * is covered by any k-gram window whose (id, pos) is NOT the global
    * first occurrence of that k-gram — so of every duplicated run of
    * >= k tokens exactly one copy (the minimum (id, pos) one) survives,
    * including self-repeats within a single document. Returns one row per
    * input document: (id, rewritten text, n_words, n_kept); documents
    * shorter than k tokens emit no windows and pass through whole.
    *
    * Plan shape at 100 TB — all linear, no pairwise join anywhere (the
    * pairwise shape lives in `sharedSpans`; this op is the one you run
    * over the full corpus): positional k-gram explode → groupBy(gram)
    * min-struct with map-side combine (only (gram, min id, min pos)
    * survives the map side) → hash join back on the gram key (no extra
    * exchange — both sides already partitioned by it; a boilerplate
    * mega-gram is a skewed join key, which AQE skew-split handles,
    * never a quadratic pair space) → cut windows explode into at most
    * k positions each (bounded amplification, only on duplicated
    * regions) → one keyed shuffle on the doc id to reassemble. The
    * groupBy/join key is the gram STRING, exactly what the oracle
    * replays; `hashKeys=true` switches both to xxhash64(gram) — 8-byte
    * shuffle keys — at astronomically-small deterministic collision
    * risk, for the real-corpus configuration.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, hashKeys: Boolean = false): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val ws = split(col(textCol), " ")
    val idx = when(size(ws) >= k, sequence(lit(0), size(ws) - k))
      .otherwise(array().cast("array<int>"))
    val keyOf = (g: Column) => if (hashKeys) xxhash64(g) else g
    val grams = df
      .select(col(idCol).as("__id"),
        posexplode(transform(idx, i => keyOf(concat_ws(" ", slice(ws, i + 1, lit(k)))))))
      .toDF("__id", "__pos", "__g")
    val first = grams.groupBy(col("__g"))
      .agg(min(struct(col("__id").as("__fid"), col("__pos").as("__fpos"))).as("__first"))
    val cutPos = grams.join(first, Seq("__g"))
      .filter(!(col("__first.__fid") === col("__id") && col("__first.__fpos") === col("__pos")))
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + k - 1)).as("__wp"))
      .distinct()
    cutAndReassemble(df, idCol, textCol, cutPos)
  }

  /** Shared tail of every span-cut operator (single-corpus removal,
    * eval-span decontamination, the streaming sink): drop the word
    * positions in `cutPos` ((__id, __wp) rows) and reassemble each
    * document in order — ONE implementation so the three operators'
    * oracle equivalences can never drift apart.
    */
  private[graft] def cutAndReassemble(df: DataFrame, idCol: String, textCol: String,
      cutPos: DataFrame): DataFrame = {
    val ws = split(col(textCol), " ")
    val words = df
      .select(col(idCol).as("__id"), posexplode(ws))
      .toDF("__id", "__wp", "__w")
    val rebuilt = words.join(cutPos, Seq("__id", "__wp"), "left_anti")
      .groupBy(col("__id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__wp"), col("__w")))),
          x => x.getField("__w"))).as("__text"),
        count(lit(1)).as("__kept"))
    df.select(col(idCol), size(ws).cast("long").as("n_words"))
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol),
        col("n_words"), coalesce(col("__kept"), lit(0L)).as("n_kept"))
  }

  /** Span-level DECONTAMINATION — [[removeDuplicateSpans]]'s two-corpus
    * variant and the surgical form of [[graft.ops.Corpus.contamination]]:
    * instead of flagging or dropping whole training documents that
    * overlap the eval set, CUT exactly the overlapping spans (every
    * token position covered by a k-gram window that occurs anywhere in
    * `eval`) and keep the rest of the document. This is how eval
    * leakage is actually removed from a pretraining corpus when whole
    * documents are too valuable to drop.
    *
    * Scale shape: the eval gram set is deduplicated and count-gated to
    * broadcast (eval suites are small; a corpus-sized eval side falls
    * back to the gram-keyed shuffled semi-join), the train side is one
    * positional explode + semi-join + bounded k-explode of cut windows +
    * keyed reassembly — linear, never pairwise, same as the
    * single-corpus pass. Returns (id, rewritten text, n_words, n_kept).
    */
  def removeEvalSpans(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      broadcastRowCap: Long = 4000000L,
  ): DataFrame = {
    require(k >= 2, s"k $k must be >= 2")
    val ws = split(col(textCol), " ")
    val idx = when(size(ws) >= k, sequence(lit(0), size(ws) - k))
      .otherwise(array().cast("array<int>"))
    def gramsOf(df: DataFrame, id: Column): DataFrame = df
      .select(id.as("__id"),
        posexplode(transform(idx, i => concat_ws(" ", slice(ws, i + 1, lit(k))))))
      .toDF("__id", "__pos", "__g")
    val evalGrams = gramsOf(eval, lit(0L)).select("__g").distinct().localCheckpoint(true)
    val cutPos = gramsOf(train, col(idCol))
      .join(gated(evalGrams, evalGrams.count(), broadcastRowCap), Seq("__g"), "left_semi")
      .select(col("__id"), explode(sequence(col("__pos"), col("__pos") + k - 1)).as("__wp"))
      .distinct()
    cutAndReassemble(train, idCol, textCol, cutPos)
  }

  /** 64-bit SimHash from the word multiset: for each bit, sum +1/-1 by the
    * bit of xxhash64(word), sign of the sum becomes the bit. Built from
    * higher-order functions only (aggregate over the words array), so it
    * stays inside whole-stage codegen.
    */
  def simhash(wordsCol: Column): Column = {
    // acc: array of 64 counters; per word w: counters += bit(hash(w), i) ? 1 : -1
    val zero = array_repeat(lit(0L), 64)
    val summed = aggregate(
      wordsCol,
      zero,
      (acc, w) => {
        val h = xxhash64(w)
        zip_with(acc, sequence(lit(0), lit(63)), (a, i) =>
          a + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      },
    )
    // fold sign bits into one BIGINT fingerprint
    aggregate(
      zip_with(summed, sequence(lit(0), lit(63)), (s, i) =>
        when(s > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b),
    )
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 32-bit SimHash over the md5 word-hash family: each DISTINCT word
    * weights bit i by ±1 according to the parity of hex digit i of
    * md5(word); the bit sets when the sum is positive. Same algorithm as
    * `simhash`/SimHash64 (the xxhash64 scale paths) with a hash family an
    * external SQL engine replicates digit-for-digit — the oracle twin,
    * exactly as q_dedup_minhash's md5 banding is to the native MinHash
    * expression.
    */
  def simhashMd5(wordsCol: Column, bits: Int = 32): Column = {
    val oddDigits = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    val hs = transform(array_distinct(wordsCol), w => md5(w))
    val n = size(hs)
    (0 until bits).map { i =>
      val odd = size(filter(hs, h => substring(h, i + 1, 1).isin(oddDigits: _*)))
      when(odd * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Image near-duplicate pairs via perceptual average-hash + banded
    * Hamming buckets: decode + hash in ONE narrow mapPartitions (blobs
    * never shuffle; undecodable blobs quarantine silently), then pair
    * only within (band, 16-bit key) buckets — by pigeonhole any pair
    * within Hamming distance ≤ 3 agrees on at least one of the 4 bands,
    * so candidate generation is an equi join (never all-pairs) and exact
    * Hamming verification touches bucket-mates only. The image analogue
    * of the SimHash text path; at corpus scale the only thing that
    * shuffles is (id, 4 smallint keys) — the hash table is materialized
    * once (eager localCheckpoint) so the decode kernel runs exactly one
    * pass no matter how many band scans read it.
    */
  def imageNearDups(df: DataFrame, idCol: String, binCol: String, maxDist: Int = 3,
      maxBucketSize: Int = 4096): DataFrame =
    bandedNearDups(df, idCol, binCol, MediaCodecs.aHashBands(_), maxDist, maxBucketSize)

  /** Audio near-duplicate pairs: real WAV decode + FFT + spectral rank
    * fingerprint (`Audio.spectralHashBands`) through the same banded
    * Hamming candidate machinery as [[imageNearDups]]. Catches gain
    * changes and truncations (rank fingerprint is invariant to both) at
    * Hamming 0 and mild spectral edits within `maxDist`.
    */
  def audioNearDups(df: DataFrame, idCol: String, binCol: String, maxDist: Int = 3,
      maxBucketSize: Int = 4096): DataFrame =
    bandedNearDups(df, idCol, binCol, Audio.spectralHashBands(_), maxDist, maxBucketSize)

  /** Video (animated-GIF) near-duplicate pairs via ALIGNED sampled-frame
    * perceptual hashes: decode frames 0, stride, 2·stride, … of each clip
    * in one narrow mapPartitions (blobs never shuffle), aHash each frame,
    * and bucket frame hashes by (band, key, frame index) — a frame only
    * ever pairs with the SAME sampled position of another clip, the
    * shot-aligned signature a re-encode/watermark/brightness variant
    * preserves. Two clips are near-dups when at least `minMatches`
    * sampled positions verify within Hamming `maxDist`. Returns
    * (id_a, id_b, n_frames) with n_frames = matched positions.
    * Scale shape: per-frame work is linear in sampled frames; candidate
    * generation is an equi join with the same degenerate-bucket star cap
    * as the image path (blank frames are THE degenerate video case);
    * only (clip, frame, 4 smallint keys) ever shuffles.
    * Clip ids must be NON-NEGATIVE (the frame index folds into the pair
    * id as `clip * 4096 + frame`; a negative clip would decode wrong).
    */
  def videoNearDups(df: DataFrame, idCol: String, binCol: String, stride: Int = 2,
      maxDist: Int = 3, minMatches: Int = 2, maxBucketSize: Int = 4096): DataFrame = {
    require(stride > 0, "stride must be positive")
    val maxFrames = 4096L // frame index folds into the pair id: clip*4096+frame
    val schema = StructType(Seq(
      StructField("__id", LongType),
      StructField("__bands", ArrayType(IntegerType)),
      StructField("__bkt", IntegerType)))
    val hashed = df.select(col(idCol).cast(LongType), col(binCol))
      .mapPartitions { it: Iterator[Row] =>
        it.flatMap { r =>
          val clip = r.getLong(0)
          MediaCodecs.videoFrameHashBands(r.getAs[Array[Byte]](1), stride).toSeq.flatten
            .filter(_._1 < maxFrames)
            .map { case (f, bs) => Row(clip * maxFrames + f, bs.toSeq, f) }
        }
      }(Encoders.row(schema))
      .localCheckpoint(true)
    bandedVerify(hashed, maxDist, maxBucketSize)
      .select(expr(s"id_a DIV $maxFrames").as("id_a"),
        expr(s"id_b DIV $maxFrames").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_frames"))
      .filter(col("n_frames") >= minMatches)
  }

  /** Shared core of the media near-dup ops: run `kernel` (bytes -> 4 band
    * keys of a perceptual fingerprint, None = quarantine) in ONE narrow
    * mapPartitions — blobs never shuffle — then pair only within
    * (band, key) buckets and Hamming-verify bucket-mates.
    */
  private def bandedNearDups(df: DataFrame, idCol: String, binCol: String,
      kernel: Array[Byte] => Option[Array[Int]], maxDist: Int,
      maxBucketSize: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("__id", LongType),
      StructField("__bands", ArrayType(IntegerType))))
    val hashed = df.select(col(idCol).cast(LongType), col(binCol))
      .mapPartitions { it: Iterator[Row] =>
        it.flatMap { r =>
          kernel(r.getAs[Array[Byte]](1))
            .map(bs => Row(r.getLong(0), bs.toSeq))
        }
      }(Encoders.row(schema))
      .localCheckpoint(true)
    bandedVerify(hashed.withColumn("__bkt", lit(0)), maxDist, maxBucketSize)
  }

  /** Banded-Hamming pair generation + exact verify over pre-hashed rows
    * (`__id` LONG, `__bands` ARRAY<INT> of 4 keys, `__bkt` INT extra
    * bucket dimension — 0 for whole-blob hashes, the frame index for the
    * aligned video path). Candidates come only from (band, key, bkt)
    * equi-join buckets; by pigeonhole any pair within Hamming <= 3 of the
    * same `__bkt` shares at least one band key, so recall is exact at
    * that radius.
    */
  private def bandedVerify(hashed: DataFrame, maxDist: Int,
      maxBucketSize: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 4, "4 bands guarantee recall only for maxDist <= 3")
    val bandRows = (0 until 4).map { b =>
      hashed.select(lit(b).as("__band"), element_at(col("__bands"), b + 1).as("__key"),
        col("__bkt"), col("__id"), col("__bands"))
    }.reduce(_.unionByName(_))
    // degenerate-bucket cap (the image corpus analogue of the text path's
    // cappedCandidatePairs): real corpora carry mega-masses of identical
    // hashes — blank images, boilerplate thumbnails — whose all-pairs
    // join is O(m²). Buckets over the cap fall back to a star around the
    // bucket's min id: for the dominant identical-hash mass the star
    // verifies at hamming 0 and downstream clustering recovers the full
    // component through the hub, so bounded work costs recall only for
    // the rare non-identical over-cap co-residents. overCap is tiny by
    // construction and broadcasts; sane buckets pay nothing new.
    // pinned + width-pinned like the text path's cappedCandidatePairs:
    // overCap is referenced by both branches (unpinned it re-aggregates
    // bandRows per reference), and the within-bucket pair join is
    // compute-dense but byte-light, so AQE's byte-based coalescing would
    // collapse it to 1-2 tasks; a user-numbered repartition on the join
    // key pins the non-AQE width instead.
    val overCap = bandRows
      .groupBy(col("__band"), col("__key"), col("__bkt"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("__band"), col("__key"), col("__bkt"))
      .localCheckpoint(true)
    val capEngaged = !overCap.isEmpty
    val sane0 = if (!capEngaged) bandRows
      else bandRows.join(broadcast(overCap), Seq("__band", "__key", "__bkt"), "left_anti")
    val sane = sane0.repartition(
      sane0.sparkSession.sessionState.conf.numShufflePartitions,
      col("__band"), col("__key"), col("__bkt"))
    val sanePairs = sane.as("x")
      .join(sane.as("y"),
        col("x.__band") === col("y.__band") &&
          col("x.__key") === col("y.__key") &&
          col("x.__bkt") === col("y.__bkt") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        col("x.__bands").as("__ba"), col("y.__bands").as("__bb"))
    val big = bandRows.join(broadcast(overCap), Seq("__band", "__key", "__bkt"))
    val hubs = big.groupBy(col("__band"), col("__key"), col("__bkt"))
      .agg(min(col("__id")).as("__hub"))
    val starPairs = big.join(broadcast(hubs), Seq("__band", "__key", "__bkt"))
      .filter(col("__id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("__id").as("id_b"), col("__band"), col("__key"))
      .join(hashed.select(col("__id").as("id_a"), col("__bands").as("__ba")), Seq("id_a"))
      .join(hashed.select(col("__id").as("id_b"), col("__bands").as("__bb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("__ba"), col("__bb"))
    (if (capEngaged) sanePairs.unionByName(starPairs) else sanePairs)
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming",
        expr("aggregate(zip_with(__ba, __bb, (a, b) -> bit_count(a ^ b)), 0, (s, v) -> s + v)")
          .cast(LongType))
      .filter(col("hamming") <= maxDist)
      .drop("__ba", "__bb")
  }

  /** Embedding-cosine near-duplicate pairs within LSH-ish id buckets —
    * see Similarity.cosine for the expression; caller restricts the pair
    * space (bucketing) before invoking. When the same vectors appear in
    * many pairs, pre-compute norms per side (`Similarity.norm`) and use
    * `cosinePrenormed` — norms are O(n), pair dots are O(n²).
    */
  def cosineNearDups(pairs: DataFrame, vecA: String, vecB: String, threshold: Double): DataFrame =
    pairs
      .withColumn("cosine", Similarity.cosine(col(vecA), col(vecB)))
      .filter(col("cosine") >= threshold)

  /** As above with per-side norm columns already materialized. */
  def cosineNearDupsPrenormed(pairs: DataFrame, vecA: String, vecB: String,
      normA: String, normB: String, threshold: Double): DataFrame =
    pairs
      .withColumn("cosine", Similarity.dot(col(vecA), col(vecB)) / (col(normA) * col(normB)))
      .filter(col("cosine") >= threshold)

  /** Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540; the embedding-space analog of the reference's
    * document near-dup flows): assign each embedding to its nearest coarse
    * centroid (max dot product, ties to the larger cell id — same
    * convention as `Similarity.ivfAssign`), then within each cluster drop
    * every document that has an examined smaller-id neighbor with cosine
    * >= `threshold`. Returns one row per input doc: (idCol, cell,
    * kept 0/1).
    *
    * Drop rule, precisely: a doc is dropped when ANY smaller-id doc in
    * its examined pair space is over-threshold — including neighbors
    * that were themselves dropped. On a similarity chain a~b, b~c (a!~c)
    * this drops both b and c: transitive-closure-ish, deliberately
    * MORE aggressive than sequential greedy (which would keep c).
    * Sequential greedy needs an iteration whose depth is the chain
    * length — unbounded passes at corpus scale — while this rule is one
    * deterministic pass that replays exactly in a SQL oracle; SemDeDup's
    * keep-one-per-duplicate-group intent is preserved (every group keeps
    * its min-id member, borderline chain tails may over-drop).
    *
    * Scale posture: the pair space is an equi hash join on cell id —
    * never a corpus-wide all-pairs. SemDeDup's contract is that the
    * centroid count grows with the corpus (the paper uses 110k clusters
    * for LAION-440M) so per-cluster membership stays bounded — but a
    * fixed centroid list on a grown corpus (or one adversarially hot
    * centroid) makes one cell quadratic, so cells over `maxCellSize`
    * get the same two-branch defense as the banded LSH path above:
    *
    *  - cells at or under the cap run EXACTLY the uncapped pair join —
    *    identical output, zero extra columns or shuffles;
    *  - cells OVER the cap are split by a pseudo-random md5 of the doc
    *    id into ceil(n/maxCellSize) sub-cells paired all-pairs within
    *    (work per cell O(n·maxCellSize), never C(n,2)), and every
    *    sub-cell hub (min id per sub-cell) is star-compared against the
    *    cell's min-id hub, so a homogeneous mega-cell — one giant
    *    duplicate family — still keeps exactly ONE doc: spokes drop
    *    against their sub-hub, hubs drop against the cell hub (= the
    *    cell's global min id). The md5 split is
    *    60-bits-of-md5-as-long (same family as the LSH cap), so an
    *    external SQL engine replays the sub-cell assignment
    *    bit-for-bit and the capped path stays oracle-verifiable.
    *
    * Exactness: the cosine test compares dot(a,b)^2 >= threshold^2 *
    * |a|^2 * |b|^2 (guarded by dot > 0), which involves only products of
    * exact integers when vectors are integer-valued and threshold^2 is a
    * binary fraction (e.g. 0.75^2 = 9/16) — so the decision replays
    * bit-for-bit in a SQL oracle. Zero-norm vectors (empty docs) are
    * never dropped: cosine is undefined there and the dot > 0 guard
    * excludes them.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Double])], threshold: Double,
      maxCellSize: Int = 1000): DataFrame = {
    require(threshold > 0, "threshold must be positive (dot > 0 guard assumes it)")
    require(maxCellSize >= 2, "maxCellSize must be at least 2")
    val t2 = threshold * threshold
    // materialize the assignment once: the size pass, both branches and
    // the final kept join all read it (k dots per row otherwise re-run)
    val assigned = Similarity.ivfAssign(emb, vecCol, centroids)
      .select(col(idCol), col(vecCol),
        col("__cell").cast(LongType).as("cell"),
        Similarity.dot(col(vecCol), col(vecCol)).as("__n2"))
      .localCheckpoint(true)
    // cell sizes via map-side-combined groupBy; only cells OVER the cap
    // survive the filter, so overCap is tiny by construction + broadcasts
    val overCap = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__cn"))
      .filter(col("__cn") > maxCellSize)
    def sideA(df: DataFrame, keys: Seq[String]) = df.select(
      keys.map(col) :+ col(idCol).as("__id_a") :+
        col(vecCol).as("__v_a") :+ col("__n2").as("__n2_a"): _*)
    def sideB(df: DataFrame, keys: Seq[String]) = df.select(
      keys.map(col) :+ col(idCol).as("__id_b") :+
        col(vecCol).as("__v_b") :+ col("__n2").as("__n2_b"): _*)
    def pairsWithin(df: DataFrame, keys: Seq[String]) =
      sideA(df, keys).join(sideB(df, keys), keys)
        .filter(col("__id_a") < col("__id_b"))
    // sane cells: exactly the uncapped pair join
    val sane = assigned.join(broadcast(overCap), Seq("cell"), "left_anti")
    val sanePairs = pairsWithin(sane, Seq("cell"))
    // over-cap cells: md5 sub-split into ceil(n/cap) sub-cells
    val big = assigned.join(broadcast(overCap), Seq("cell"))
      .withColumn("__sub", pmod(
        conv(substring(md5(concat_ws(":", lit("sem"), col("cell"), col(idCol))), 1, 15), 16, 10)
          .cast(LongType),
        ceil(col("__cn") / lit(maxCellSize.toDouble)).cast(LongType)))
    val subPairs = pairsWithin(big, Seq("cell", "__sub"))
    // hub star: every sub-cell hub (min id per sub-cell) is compared
    // against the CELL's min-id hub — one extra comparison per sub-cell,
    // linear work. A chain (hub k vs k+1, dropping the larger) does NOT
    // work for a drop rule: non-adjacent hubs are never compared, so a
    // small-id hub ranked first survives even in a homogeneous mega-cell.
    // The star guarantees the homogeneous case keeps exactly one doc:
    // spokes drop within their sub-cell against their hub, every other
    // hub drops against the cell hub (= the cell's global min id, since
    // the cell hub is min over sub minima).
    val hubs = big.groupBy(col("cell"), col("__sub"))
      .agg(min(col(idCol)).as("__hid"))
    val cellHub = hubs.groupBy(col("cell")).agg(min(col("__hid")).as("__chid"))
    val hubVecs = assigned.select(col(idCol).as("__hid"),
      col(vecCol).as("__hv"), col("__n2").as("__hn2"))
    val starPairs = hubs.join(cellHub, Seq("cell"))
      .filter(col("__hid") =!= col("__chid"))
      .select(col("__chid").as("__id_a"), col("__hid").as("__id_b"))
      .join(hubVecs.withColumnRenamed("__hid", "__id_a")
        .withColumnRenamed("__hv", "__v_a").withColumnRenamed("__hn2", "__n2_a"), Seq("__id_a"))
      .join(hubVecs.withColumnRenamed("__hid", "__id_b")
        .withColumnRenamed("__hv", "__v_b").withColumnRenamed("__hn2", "__n2_b"), Seq("__id_b"))
    val examined = sanePairs.select("__id_a", "__id_b", "__v_a", "__v_b", "__n2_a", "__n2_b")
      .unionByName(subPairs.select("__id_a", "__id_b", "__v_a", "__v_b", "__n2_a", "__n2_b"))
      .unionByName(starPairs.select("__id_a", "__id_b", "__v_a", "__v_b", "__n2_a", "__n2_b"))
    val dropped = examined
      .withColumn("__dot", Similarity.dot(col("__v_a"), col("__v_b")))
      .filter(col("__dot") > 0 &&
        col("__dot") * col("__dot") >= lit(t2) * col("__n2_a") * col("__n2_b"))
      .select(col("__id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assigned
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        when(col("__dropped").isNotNull, lit(0L)).otherwise(lit(1L)).as("kept"))
  }
}

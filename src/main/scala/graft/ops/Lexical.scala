package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Lexical (keyword) retrieval and rank fusion — the sparse half of a
  * hybrid retrieval stack next to [[Similarity]]'s dense ANN: tf-idf
  * top-k over an inverted-index shape, and Borda-count fusion of
  * multiple rankings (the integer-exact stand-in for reciprocal-rank
  * fusion: same rank-only inputs, same "rewards agreement" behavior,
  * but the fused score is a small integer that replays exactly in SQL).
  * Reference analog: the vectorstore retrieval flow the unstructured
  * source feeds (sources/unstructured_data/helpers.py:20-91) — its
  * lexical/keyword complement.
  *
  * Exactness: idf is quantized to whole bits exactly as [[LanguageModel]]
  * and [[Dsir]] quantize probabilities — idf_bits(term) =
  * ceil(log2((N+1)/(df+1))) computed integer-only — so a document's
  * score sum(qtf * tf * idf_bits) is a BIGINT and ordering disputes
  * with the oracle are impossible while scores stay under 2^53 (the
  * ranking aggregate carries them as integer-valued doubles; a corpus
  * would need ~10^12-token documents to break that bound).
  *
  * Scale shape: postings and idf are both keyed by term — ONE shuffle
  * each, joined without a further exchange; the query side is
  * count-gated to broadcast (query sets are small; a corpus-sized query
  * frame falls back to the term-keyed shuffled join); the per-query
  * reduction is the k-bounded [[graft.functions.BoundedTopK]], so the
  * final shuffle carries O(k × mapTasks × queries), never the scored
  * candidate set. No window over the corpus anywhere.
  */
object Lexical {

  // the one count-gated broadcast helper, shared with the dedup family
  private def gated(df: DataFrame, rows: Long, cap: Long): DataFrame =
    Dedup.gated(df, rows, cap)

  /** Whole-bit quantized idf table: (term, idf_bits) for every distinct
    * corpus term, idf_bits = bit length of m-1 for
    * m = ceil((N+1)/(df+1)) — 0 for terms in every document, growing by
    * 1 per idf doubling.
    */
  def idfBits(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    idfBitsFromDf(
      docs.select(explode(array_distinct(split(col(textCol), " "))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df")),
      docs.count())

  /** (term, idf_bits) from an already-computed (term, df) frame. */
  private def idfBitsFromDf(df: DataFrame, n: Long): DataFrame =
    df.withColumn("__m", expr(s"(${n + 1}L + df) div (df + 1L)"))
      .select(col("term"),
        when(col("__m") <= 1L, lit(0L))
          .otherwise(length(bin(col("__m") - 1)).cast("long")).as("idf_bits"))

  /** Top-k corpus docs per query by the integer tf-idf score
    * sum(qtf * tf * idf_bits) over shared terms, ties broken by doc id.
    * Returns (qidCol, rank, idCol, score).
    *
    * `championSize` is the scale lever: 0 scores EVERY posting of every
    * query term — exact, but batch cost grows as queries × matched
    * postings (measured 13.6× for 10× corpus AND 10× queries at sf1;
    * intractable at sf10). A positive value switches to the classic
    * candidate-generation / full-scoring split: each term's posting
    * list is truncated to its `championSize` highest-tf docs (itself a
    * per-TERM k-bounded reduction through
    * [[graft.functions.BoundedTopK]]) ONLY to nominate candidate
    * (query, doc) pairs — bounded at queries × query_terms ×
    * championSize regardless of corpus size — and every candidate is
    * then scored EXACTLY against the full posting rows of the query's
    * terms. The guarantee is the standard champion-list one: a scored
    * doc's score is exact; a doc can be missed only if it sits outside
    * EVERY query term's tf-top-`championSize`. Both branches replay
    * exactly in SQL.
    */
  def topKDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int,
      championSize: Int = 0,
      broadcastRowCap: Long = 4000000L,
  ): DataFrame = {
    // cached once: the idf derivation below and every join read the
    // materialized postings — ONE corpus tokenize + shuffle total (df per
    // term is just the postings' per-term row count, since postings are
    // already (term, id)-distinct; a separate idfBits pass would tokenize
    // the corpus a second time). persist, NOT localCheckpoint: the frame
    // is corpus-sized, and persist keeps the lineage so a lost executor
    // recomputes its blocks instead of failing the job unrecoverably
    val allPostings = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("__tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qt = queries
      .select(col(qidCol), explode(split(col(qtextCol), " ")).as("term"))
      .groupBy(col(qidCol), col("term")).agg(count(lit(1)).as("__qtf"))
      .localCheckpoint(true) // counted for the gate, then joined
    val qtGated = gated(qt, qt.count(), broadcastRowCap)
    val idf = idfBitsFromDf(
      allPostings.groupBy("term").agg(count(lit(1)).as("df")), docs.count())
    val scored =
      if (championSize <= 0)
        allPostings
          .join(idf, Seq("term")) // both term-keyed: no extra exchange
          .join(qtGated, Seq("term"))
          .groupBy(col(qidCol), col(idCol))
          .agg(sum(col("__qtf") * col("__tf") * col("idf_bits")).cast("double").as("__s"))
      else {
        val champions = Similarity.boundedTopK(
          allPostings.withColumn("__cs", col("__tf").cast("double")),
          "term", idCol, "__cs", championSize, "__crank")
          .select(col("term"), col(idCol))
        val cand = champions.join(qtGated.select(col(qidCol), col("term")), Seq("term"))
          .select(col(qidCol), col(idCol)).distinct()
        cand
          .join(qtGated, Seq(qidCol)) // candidates x the query's terms
          .join(allPostings, Seq("term", idCol)) // full tf for exact scores
          .join(idf, Seq("term"))
          .groupBy(col(qidCol), col(idCol))
          .agg(sum(col("__qtf") * col("__tf") * col("idf_bits")).cast("double").as("__s"))
      }
    val out = Similarity.boundedTopK(scored, qidCol, idCol, "__s", k, "rank")
      .select(col(qidCol), col("rank").cast("long").as("rank"), col(idCol),
        col("__s").cast("long").as("score"))
      // k x queries rows: eagerly materialize the small result so the
      // corpus-sized postings cache can be RELEASED here instead of
      // pinning block-manager memory for the session's lifetime
      // (repeated ad-hoc calls would otherwise accumulate cached corpora)
      .localCheckpoint(true)
    allPostings.unpersist(false)
    out
  }

  /** Persisted inverted index — lexical retrieval as a TABLE rather than
    * a per-query recompute, the same discipline as the persisted IVF/PQ
    * and LSH indexes: build once (postings with champion ranks, bucketed
    * by a term hash so a probe reads only its query's buckets; the
    * vocabulary-sized idf/df table alongside), probe many, append
    * incrementally.
    *
    * Layout under `path` — sub-tables live in per-GENERATION dirs
    * (`postings@g<N>`, see [[graft.core.Generations]]) committed by an
    * atomic `_gen.e<N>` marker, and every sub-table is partitioned by an
    * append-batch id `__ab` (-1 = build/optimize output, >= 0 = one
    * append batch), the same batch-keyed discipline as the streaming
    * sinks:
    *   postings@gN/  (term, id, tf, crank) partitioned by (__ab, __tb);
    *                 build/optimize rows have __tb = md5-bucket of term
    *                 (0..63) and crank = champion rank within the term
    *                 (NULL below the champion cut); an append batch
    *                 lands UNBUCKETED under __tb = -1 with crank = 0
    *                 ("pending"). `_schema.json` records the data schema
    *                 (so `id` keeps the type the build was given)
    *   idf@gN/       (term, df) partitioned by __ab — per-batch document
    *                 frequency DELTAS; probes sum across batches
    *                 (vocabulary-sized work)
    *   meta@gN/      (n_docs) partitioned by __ab — per-batch doc
    *                 counts; probes sum
    *
    * A probe lists the `__ab` dirs on the driver and scans only the
    * `__tb` leaf dirs of its query terms' buckets plus every pending
    * `__tb = -1` dir, with the recorded schema — it never discovers the
    * whole postings tree.
    *
    * `optimize` writes the WHOLE next generation and then flips the
    * marker — one atomic create — so an UNLEASED reader (`search` takes
    * no lock) resolves either the old complete generation or the new
    * one, never a half-swapped directory and never postings/idf/meta
    * from different snapshots; GC keeps a one-generation grace for
    * readers that resolved just before the flip.
    *
    * Append contract: a batch lands all three deltas under its OWN
    * `__ab = appendId` partitions with dynamic partition overwrite, so
    * a crashed-and-retried append (same appendId) overwrites itself
    * instead of duplicating posting/df rows. Postings commit first: a
    * crash before the idf/meta deltas leaves df and n_docs lagging the
    * appended docs (idf_bits slightly stale at probe time) until the
    * append is retried or `optimize` runs — never duplicated, never
    * over-counted. Appended postings are all candidates until the next
    * optimize (bounded while batches are small relative to the indexed
    * corpus, exactly the incremental-LSH trade), and every probe reads
    * every pending dir. A same-id retry replaces its partitions under
    * an unleased probe (delete, then rename): the probe re-lists a leaf
    * dir that is gone when its read resolves and skips files that are
    * gone when it scans, so it sees that batch whole, partly or not at
    * all until the retry lands — never an error. `optimize` recomputes champion ranks and term
    * buckets over the union and compacts every sub-table back to a
    * single `__ab = -1` partition, after which the index is IDENTICAL
    * to a fresh build over the union corpus (spec-pinned).
    *
    * Single-writer discipline: `build`/`append`/`optimize` all run under
    * the same [[graft.core.TableLock]] lease keyed on the index ROOT, so
    * an `optimize` staged swap can never race a live `append` (the swap
    * replaces whole directories — an unlocked interleave would silently
    * drop the in-flight append partition, the exact failure class the
    * lease was built for on data tables).
    */
  object Index {
    private val TermBuckets = 64

    /** `__tb` of an append batch's postings: unbucketed until optimize. */
    private val Pending = -1L

    private val SchemaFile = "_schema.json"
    private val IdfSchema = StructType.fromDDL("term STRING, df BIGINT")
    private val MetaSchema = StructType.fromDDL("n_docs BIGINT")

    /** Lease wait: a busy holder (an optimize mid-swap) releases in
      * bounded time, so queue briefly instead of failing the batch job;
      * a crashed holder is taken over at the lease's staleMs regardless.
      */
    private val LockWaitMs = 60L * 1000

    private def locked[T](spark: org.apache.spark.sql.SparkSession, path: String,
        verb: String)(f: => T): T =
      graft.core.TableLock.withLock(spark, path,
        owner = s"lexical-index-$verb:${java.util.UUID.randomUUID()}",
        waitMs = LockWaitMs)(f)

    private[ops] def termBucket(c: Column): Column =
      pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"), lit(TermBuckets.toLong))

    private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("term"))
        .groupBy(col("term"), col("id")).agg(count(lit(1)).as("tf"))

    /** Full postings with champion rank where within the term's tf-top-C
      * (crank >= 1), NULL otherwise. Appended rows later use crank = 0
      * ("pending": candidate until the next optimize) — distinct from
      * both champion and non-champion build rows.
      */
    private def withCrank(postings: DataFrame, championSize: Int): DataFrame = {
      val champ = Similarity.boundedTopK(
        postings.withColumn("__cs", col("tf").cast("double")),
        "term", "id", "__cs", championSize, "crank")
        .select(col("term"), col("id"), col("crank").cast("long").as("crank"))
      postings.join(champ, Seq("term", "id"), "left")
        .select(col("term"), col("id"), col("tf"), col("crank"))
    }

    /** Record the postings data schema in `dir` (a `_` name, which
      * scans skip), so probes read by explicit path without inferring it.
      */
    private def recordSchema(spark: SparkSession, dir: String, schema: StructType): Unit = {
      val p = new Path(dir, SchemaFile)
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    private def postingsSchema(spark: SparkSession, dir: String): StructType = {
      val p = new Path(dir, SchemaFile)
      val in = try p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"$p is missing: this index has no recorded postings schema; rebuild it with Index.build", e)
      }
      try DataType.fromJson(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[StructType]
      finally in.close()
    }

    /** `dirs` read with a known schema, skipping files that a same-id
      * append retry removed after the listing; no dirs, no rows.
      */
    private def read(spark: SparkSession, schema: StructType, dirs: Seq[String],
        basePath: Option[String] = None): DataFrame =
      if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).options(basePath.map("basePath" -> _).toMap)
        .option("ignoreMissingFiles", "true").parquet(dirs: _*)

    /** The postings a probe of term `buckets` needs: those buckets' build
      * dirs plus every pending dir, found by listing the `__ab` dirs and
      * their `__tb` dirs on the driver.
      */
    private def postingsFor(spark: SparkSession, dir: String, buckets: Set[Long]): DataFrame = {
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def children(p: Path, key: String): Seq[(Path, Long)] =
        fs.listStatus(p).toSeq.collect {
          case st if st.isDirectory && st.getPath.getName.startsWith(s"$key=") =>
            (st.getPath, st.getPath.getName.stripPrefix(s"$key=").toLong)
        }
      val schema = postingsSchema(spark, dir)
      // a listed leaf gone when the read resolves it (a same-id append
      // retry between its delete and rename) is listed again, not an error
      def attempt(left: Int): DataFrame = {
        val leaves = for {
          (ab, _) <- children(root, "__ab")
          (tb, b) <- children(ab, "__tb") if b == Pending || buckets(b)
        } yield tb.toString
        try read(spark, schema, leaves, Some(dir))
        catch {
          case e: AnalysisException if left > 1 && e.getCondition == "PATH_NOT_FOUND" =>
            attempt(left - 1)
        }
      }
      attempt(3)
    }

    /** Sub-table dir of the current committed generation (spec access). */
    private[graft] def subDir(spark: org.apache.spark.sql.SparkSession,
        path: String, sub: String): String =
      graft.core.Generations.resolve(spark, path, sub)

    def build(docs: DataFrame, idCol: String, textCol: String, path: String,
        championSize: Int): Unit = locked(docs.sparkSession, path, "build") {
      val spark = docs.sparkSession
      val gen = graft.core.Generations.next(spark, path)
      def d(sub: String) = graft.core.Generations.dir(path, sub, gen)
      // ONE corpus tokenize+shuffle total: raw postings are staged to
      // parquet inside the uncommitted generation, and every later
      // reference — withCrank's champion reduction AND its join-back,
      // plus the df aggregation — reads the staged files instead of
      // re-expanding the tokenize lineage (previously 3 full corpus
      // passes per build). Durable read-back, not persist(): the
      // InMemoryRelation boundary was A/B'd 2x slower here in r19, and
      // staged parquet adds no executor-memory pin and no lineage
      // truncation. The stage dir lives under the generation namespace
      // (invisible until commit; a crashed build's leftover is
      // overwritten by the retry and swept by GC) and is deleted before
      // the commit marker.
      val stage = d("stage")
      val raw = postingsOf(docs, idCol, textCol)
      raw.write.mode("overwrite").parquet(stage)
      // explicit schema: an empty corpus writes a file-less dir, which
      // schema inference would refuse to read
      val staged = spark.read.schema(raw.schema).parquet(stage)
      // the three sub-table writes are independent of each other and all
      // land BEFORE the atomic generation commit, so they overlap (guide
      // §2.6: actions are only sequential because the driver calls them
      // sequentially — the idf/meta jobs back-fill executors the postings
      // write's tail leaves idle)
      concurrently(
        () => {
          val ranked = withCrank(staged, championSize)
          ranked.withColumn("__ab", lit(-1L))
            .withColumn("__tb", termBucket(col("term")))
            .write.mode("overwrite").partitionBy("__ab", "__tb").parquet(d("postings"))
          recordSchema(spark, d("postings"), ranked.schema)
        },
        // df(term) = the staged postings' per-term row count — postings
        // are (term, id)-distinct by construction, so this is exactly the
        // old dfOf(docs) without the second corpus tokenize
        () => staged.groupBy("term").agg(count(lit(1)).as("df")).withColumn("__ab", lit(-1L))
          .write.mode("overwrite").partitionBy("__ab").parquet(d("idf")),
        () => spark.createDataFrame(Seq(Tuple1(docs.count()))).toDF("n_docs")
          .withColumn("__ab", lit(-1L))
          .write.mode("overwrite").partitionBy("__ab").parquet(d("meta")))
      deleteDir(spark, stage)
      graft.core.Generations.commit(spark, path, gen)
      graft.core.Generations.gc(spark, path, gen)
    }

    /** Run independent write actions concurrently. Every action is
      * awaited before the first failure is rethrown (later ones ride
      * along as suppressed), so no idf/meta/postings write outlives the
      * index TableLock its caller holds.
      */
    private[ops] def concurrently(fs: (() => Unit)*): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(fs.size)
      try {
        val futures = fs.map(f => pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = f()
        }))
        val failures = futures.flatMap { f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdown()
    }

    private def deleteDir(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try { fs.delete(p, true); () }
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[lexical] could not delete $dir: $e")
      }
    }

    /** Append a document batch under its own `__ab = appendId`
      * partitions: postings land unbucketed (`__tb = -1`, so a small
      * batch writes a few files, not one per term bucket) with crank = 0
      * (always candidates until the next optimize), df and n_docs land as
      * per-batch deltas.
      * Idempotent per appendId — a retry after a crash overwrites the
      * same partitions and heals any half-landed state; idf/meta lag the
      * postings only inside the crash window (see the layout contract).
      *
      * `appendId` is the caller's batch identity and carries the
      * semantics: SAME id = retry of the same batch (overwrites itself),
      * DISTINCT batches MUST use distinct ids — reusing an id for a
      * different batch replaces the earlier batch's deltas, silently
      * corrupting df and n_docs. No default, precisely so callers must
      * choose.
      */
    def append(batch: DataFrame, idCol: String, textCol: String, path: String,
        appendId: Long): Unit = locked(batch.sparkSession, path, "append") {
      require(appendId >= 0L, s"appendId must be >= 0 (-1 is the build partition): $appendId")
      val spark = batch.sparkSession
      // appends land INSIDE the current generation (new __ab partitions;
      // existing files are never rewritten) — the generation only flips
      // on build/optimize
      def d(sub: String) = graft.core.Generations.resolve(spark, path, sub)
      val postings = d("postings")
      postingsOf(batch, idCol, textCol)
        .withColumn("crank", lit(0L)) // pending: candidate until optimize
        .withColumn("__ab", lit(appendId))
        .withColumn("__tb", lit(Pending))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__ab", "__tb").parquet(postings)
      // ONE batch tokenize: df(term) derives from the just-written
      // postings leaf dir (a same-id retry overwrote it, so the
      // read-back is exactly this batch's postings and the crash
      // contract above is unchanged — postings first, then idf/meta;
      // idf and meta are mutually independent, so they overlap). An
      // empty batch writes no leaf dir at all.
      val leaf = new Path(s"$postings/__ab=$appendId/__tb=$Pending")
      val landed =
        if (leaf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(leaf)) Seq(leaf.toString)
        else Nil
      concurrently(
        () => read(spark, StructType.fromDDL("term STRING"), landed, Some(postings))
          .groupBy("term").agg(count(lit(1)).as("df")).withColumn("__ab", lit(appendId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__ab").parquet(d("idf")),
        () => spark.createDataFrame(Seq(Tuple1(batch.count()))).toDF("n_docs")
          .withColumn("__ab", lit(appendId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__ab").parquet(d("meta")))
    }

    /** Recompute champion ranks over the full postings and compact every
      * sub-table to a single `__ab = -1` partition — after this the
      * index is identical to a fresh build over the union corpus.
      * Writes the whole NEXT generation, then commits it with one atomic
      * marker create: no staged swap, no window where a concurrent
      * reader can see a half-replaced directory or mismatched
      * postings/idf/meta (reads of the old generation stay valid through
      * the one-generation GC grace).
      */
    def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
        championSize: Int): Unit = locked(spark, path, "optimize") {
      val gen = graft.core.Generations.currentOrFail(spark, path)
      def cur(sub: String) = graft.core.Generations.dir(path, sub, gen)
      def nxt(sub: String) = graft.core.Generations.dir(path, sub, gen + 1)
      // reading gen N while writing gen N+1: no self-overwrite, so no
      // pre-read checkpoint needed anywhere
      val ranked = withCrank(
        spark.read.schema(postingsSchema(spark, cur("postings"))).parquet(cur("postings"))
          .select("term", "id", "tf"), championSize)
      ranked.withColumn("__ab", lit(-1L))
        .withColumn("__tb", termBucket(col("term")))
        .write.mode("overwrite").partitionBy("__ab", "__tb").parquet(nxt("postings"))
      recordSchema(spark, nxt("postings"), ranked.schema)
      spark.read.schema(IdfSchema).parquet(cur("idf"))
        .groupBy("term").agg(sum("df").as("df")).withColumn("__ab", lit(-1L))
        .write.mode("overwrite").partitionBy("__ab").parquet(nxt("idf"))
      val n = spark.read.schema(MetaSchema).parquet(cur("meta")).agg(sum("n_docs")).head.getLong(0)
      spark.createDataFrame(Seq(Tuple1(n))).toDF("n_docs")
        .withColumn("__ab", lit(-1L))
        .write.mode("overwrite").partitionBy("__ab").parquet(nxt("meta"))
      graft.core.Generations.commit(spark, path, gen + 1)
      graft.core.Generations.gc(spark, path, gen + 1)
    }

    /** Probe: champion rows (crank >= 1) and PENDING appended rows
      * (crank = 0) nominate candidates — non-champion build rows (NULL
      * crank) do NOT nominate, they only contribute tf to the exact
      * scoring join — same guarantee as [[topKDocs]]'s champion branch,
      * but against the persisted table.
      *
      * READ LIFETIME: the returned DataFrame is lazy and pinned to the
      * generation resolved at CALL time; `Generations.gc` keeps only a
      * one-generation grace behind the current pointer, so collect the
      * result promptly — a frame cached across TWO optimize cycles scans
      * GC'd directories (FileNotFoundException mid-scan). Callers that
      * must hold results across optimizes should `localCheckpoint(true)`
      * the (k-bounded, small) frame immediately.
      */
    def search(spark: org.apache.spark.sql.SparkSession, path: String,
        queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
        broadcastRowCap: Long = 4000000L): DataFrame = {
      // resolve the generation ONCE: postings, idf and meta all come
      // from the same committed snapshot, and an optimize flipping the
      // pointer mid-search cannot pull the directories out from under
      // this (unleased) read — GC keeps the resolved generation alive
      // through a one-generation grace
      val gen = graft.core.Generations.currentOrFail(spark, path)
      def d(sub: String) = graft.core.Generations.dir(path, sub, gen)
      val qt = queries
        .select(col(qidCol), explode(split(col(qtextCol), " ")).as("term"))
        .groupBy(col(qidCol), col("term")).agg(count(lit(1)).as("__qtf"))
        .localCheckpoint(true)
      // ONE job for the broadcast gate's row count AND the query's term
      // buckets (at most TermBuckets ints, however many queries), which
      // pick the postings leaf dirs to read
      val stats = qt.agg(count(lit(1)), collect_set(termBucket(col("term")))).head
      val qtGated = gated(qt, stats.getLong(0), broadcastRowCap)
      val postings = postingsFor(spark, d("postings"), stats.getSeq[Long](1).toSet)
      // per-batch deltas sum to the union-corpus df and n_docs —
      // vocabulary-sized (idf) and batch-count-sized (meta) work; meta
      // holds one row per batch, so it is summed on the driver (one job,
      // no shuffle)
      val n = read(spark, MetaSchema, Seq(d("meta"))).collect().map(_.getLong(0)).sum
      val idf = idfBitsFromDf(
        read(spark, IdfSchema, Seq(d("idf"))).groupBy("term").agg(sum("df").as("df")), n)
      // candidates: champion rows (crank >= 1) plus pending appended rows
      // (crank = 0); non-champion build rows (NULL) only contribute to
      // the exact scoring join below
      val nominate = postings.filter(col("crank").isNotNull)
        .join(qtGated.select(col(qidCol), col("term")), Seq("term"))
        .select(col(qidCol), col("id")).distinct()
      val scored = nominate
        .join(qtGated, Seq(qidCol))
        .join(postings.select("term", "id", "tf"), Seq("term", "id"))
        .join(idf, Seq("term"))
        .groupBy(col(qidCol), col("id"))
        .agg(sum(col("__qtf") * col("tf") * col("idf_bits")).cast("double").as("__s"))
      Similarity.boundedTopK(scored, qidCol, "id", "__s", k, "rank")
        .select(col(qidCol), col("rank").cast("long").as("rank"), col("id"),
          col("__s").cast("long").as("score"))
    }
  }

  /** Borda-count fusion of rank lists: each list awards k - rank + 1
    * points to its documents, fused score is the integer point sum
    * across lists, output is the top-k by (points desc, doc id asc).
    * Lists are (qidCol, docCol, rankCol) frames with ranks in 1..k.
    */
  def bordaFuse(
      lists: Seq[DataFrame],
      qidCol: String,
      docCol: String,
      rankCol: String,
      k: Int,
  ): DataFrame = {
    require(lists.nonEmpty, "need at least one ranking")
    val pts = lists
      .map(_.select(col(qidCol), col(docCol),
        (lit(k.toLong) - col(rankCol) + 1L).as("__pts")))
      .reduce(_ unionByName _)
      .groupBy(col(qidCol), col(docCol))
      .agg(sum(col("__pts")).cast("double").as("__s"))
    Similarity.boundedTopK(pts, qidCol, docCol, "__s", k, "rank")
      .select(col(qidCol), col("rank").cast("long").as("rank"), col(docCol),
        col("__s").cast("long").as("points"))
  }
}

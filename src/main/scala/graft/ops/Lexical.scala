package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
    * atomic `_gen.e<N>` marker. Each sub-table is split into LEAF dirs by
    * an append-batch id `__ab` (-1 = build/optimize output, >= 0 = one
    * append batch), and every leaf is written by a plain overwrite of its
    * own path:
    *   postings@gN/  (term, id, tf, crank): the build leaf `__ab=-1` holds
    *                 one `__tb` dir per md5-bucket of term (0..63), crank =
    *                 champion rank within the term (NULL below the
    *                 champion cut); batch <id>'s leaf is
    *                 `__ab=<id>/__tb=-1`, unbucketed, crank = 0
    *                 ("pending"). `_schema.json` records the data schema
    *                 (so `id` keeps the type the build was given), and the
    *                 empty file `_appended/<id>` announces batch <id> (an
    *                 index without `_appended/` predates announcements and
    *                 is refused: rebuild it)
    *   idf@gN/       (term, df) per leaf — per-batch document frequency
    *                 DELTAS; reads sum them (vocabulary-sized work)
    *   meta@gN/      (n_docs) per leaf — per-batch doc counts; reads sum
    *
    * Live leaves: `search`, `optimize` and `append` all resolve the same
    * set — the build leaves plus the three leaves of every batch announced
    * in `postings@gN/_appended/` — and read them by explicit path with
    * fixed or recorded schemas. Nothing lists the `__ab` dirs, so a leaf
    * no announcement names is never read. A probe reads only the `__tb`
    * dirs of its query terms' buckets plus every announced pending leaf.
    *
    * `optimize` writes the WHOLE next generation and then flips the
    * marker — one atomic create — so an UNLEASED reader (`search` takes
    * no lock) resolves either the old complete generation or the new
    * one, never a half-swapped directory and never postings/idf/meta
    * from different snapshots; GC keeps a one-generation grace for
    * readers that resolved just before the flip.
    *
    * Append contract — all or nothing: a batch writes its three leaves
    * (empty ones for an empty batch, so the announcement's name is all a
    * reader needs), then announces itself with one atomic create of
    * `_appended/<id>` (a `_` name, which scans skip; GC sweeps it with its
    * generation). Announced leaves are never rewritten. A crash before the
    * announcement leaves the batch invisible to `search` and to `optimize`
    * (which compacts only live leaves); the retry overwrites the orphan
    * leaves and lands the batch once. A retry of an announced batch writes
    * nothing, and a different batch under an announced id fails by name.
    * `optimize` compacts the announced batches into the build leaves and
    * carries their ids, with their doc counts, forward into the new
    * generation's `postings@gN/_compacted` (one `<id> <n_docs>` line per
    * batch ever compacted; never a leaf), and `append` treats a compacted
    * id like an announced one: a replay after an optimize writes nothing,
    * a different batch under it fails by name. Appended postings
    * are all candidates until the next optimize (bounded while batches
    * are small relative to the indexed corpus, exactly the
    * incremental-LSH trade), and every probe reads every pending leaf.
    * `optimize` recomputes champion ranks and term buckets over the live
    * leaves and compacts every sub-table back to a single `__ab = -1`
    * leaf, after which the index is IDENTICAL to a fresh build over the
    * union corpus (spec-pinned).
    *
    * Single-writer discipline: `build`/`append`/`optimize` all run under
    * the same [[graft.core.TableLock]] lease keyed on the index ROOT, so
    * an `optimize` can never race a live `append` into the generation it
    * is compacting.
    */
  object Index {
    private val TermBuckets = 64

    /** `__tb` of an append batch's postings: unbucketed until optimize. */
    private val Pending = -1L

    private val SchemaFile = "_schema.json"
    private val Announced = "_appended"
    private val Compacted = "_compacted"
    private val IdfSchema = StructType.fromDDL("term STRING, df BIGINT")
    private val MetaSchema = StructType.fromDDL("n_docs BIGINT")

    /** Lease wait: a busy holder (an optimize mid-write) releases in
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

    /** Write `text` to the file `name` in `dir` (a `_` name, which scans
      * skip): the recorded postings schema, so probes read by explicit
      * path without inferring it, and the compacted batch ids.
      */
    private def writeFile(spark: SparkSession, dir: String, name: String, text: String): Unit = {
      val p = new Path(dir, name)
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
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

    /** `leaves` read by explicit path with a known schema, in groups no
      * larger than Spark's parallel-discovery threshold so that no read
      * lists its files in a job; no leaves, no rows.
      */
    private def read(spark: SparkSession, schema: StructType, leaves: Seq[String]): DataFrame =
      if (leaves.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else leaves.grouped(spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
        .map(g => spark.read.schema(schema).parquet(g: _*)).reduce(_ union _)

    /** The committed generation of the index at `path` and its announced
      * append batches, resolved once: the one resolver of live leaves.
      */
    private final class Live(spark: SparkSession, path: String) {
      val gen: Long = graft.core.Generations.currentOrFail(spark, path)
      def dir(sub: String): String = graft.core.Generations.dir(path, sub, gen)
      private val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      private val announced = new Path(dir("postings"), Announced)

      /** Announced batch ids (a checksum sibling's name does not parse). */
      val batches: Seq[Long] =
        try fs.listStatus(announced).toSeq.flatMap(_.getPath.getName.toLongOption).sorted
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"$announced is missing: this index predates append announcements; rebuild it with Index.build", e)
        }

      /** Leaf of batch `ab` (-1 = build) in `sub`. */
      def leaf(sub: String, ab: Long): String =
        if (sub == "postings" && ab >= 0) s"${dir(sub)}/__ab=$ab/__tb=$Pending"
        else s"${dir(sub)}/__ab=$ab"

      /** `sub`'s live leaves: the build leaf and every announced batch's. */
      def leaves(sub: String): Seq[String] = (-1L +: batches).map(leaf(sub, _))

      /** Live postings leaves: the build leaf's `__tb` dirs whose bucket
        * passes `bucket`, then every announced pending leaf.
        */
      def postings(bucket: Long => Boolean): Seq[String] =
        fs.listStatus(new Path(leaf("postings", -1L))).toSeq.collect {
          case st if st.isDirectory && st.getPath.getName.startsWith("__tb=") &&
              bucket(st.getPath.getName.stripPrefix("__tb=").toLong) => st.getPath.toString
        } ++ batches.map(leaf("postings", _))

      /** Batches an earlier `optimize` compacted into the build leaves,
        * with their doc counts (no `_compacted` file: none).
        */
      lazy val compacted: Map[Long, Long] = {
        val in = try Some(fs.open(new Path(dir("postings"), Compacted)))
        catch { case _: java.io.FileNotFoundException => None }
        in.fold(Map.empty[Long, Long]) { in =>
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).linesIterator
            .map(_.split(' ')).map { case Array(id, n) => id.toLong -> n.toLong }.toMap
          finally in.close()
        }
      }

      /** Make batch `ab`'s (fully written) leaves live: one atomic create. */
      def announce(ab: Long): Unit = require(
        graft.core.EpochFiles.create(fs, new Path(announced, ab.toString), Array.emptyByteArray),
        s"batch $ab is already announced")
    }

    /** Sub-table dir of the current committed generation (spec access). */
    private[graft] def subDir(spark: org.apache.spark.sql.SparkSession,
        path: String, sub: String): String =
      graft.core.Generations.resolve(spark, path, sub)

    /** Write generation `gen`'s build leaves — `ranked` postings bucketed
      * by term, the `df` table and the `docs` count, with the `compacted`
      * batch ids — concurrently, then commit the generation and sweep old
      * ones. The three writes are
      * independent and all land BEFORE the atomic commit, so they overlap
      * (Spark actions run one after another only when one thread submits
      * them — the idf/meta jobs back-fill executors the postings write's
      * tail leaves idle).
      */
    private def commitGeneration(spark: SparkSession, path: String, gen: Long,
        ranked: => DataFrame, df: => DataFrame, docs: => Long, compacted: => Map[Long, Long]): Unit = {
      def d(sub: String) = graft.core.Generations.dir(path, sub, gen)
      graft.core.Concurrently(spark)(
        () => {
          val r = ranked
          r.withColumn("__tb", termBucket(col("term")))
            .write.mode("overwrite").partitionBy("__tb").parquet(s"${d("postings")}/__ab=-1")
          writeFile(spark, d("postings"), SchemaFile, r.schema.json)
          val announced = new Path(d("postings"), Announced) // empty until an append lands
          announced.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(announced)
        },
        () => df.write.mode("overwrite").parquet(s"${d("idf")}/__ab=-1"),
        () => {
          spark.createDataFrame(Seq(Tuple1(docs))).toDF("n_docs")
            .write.mode("overwrite").parquet(s"${d("meta")}/__ab=-1")
          if (compacted.nonEmpty) writeFile(spark, d("postings"), Compacted,
            compacted.toSeq.sorted.map { case (id, n) => s"$id $n\n" }.mkString)
        })
      graft.core.Generations.commit(spark, path, gen)
      graft.core.Generations.gc(spark, path, gen)
    }

    def build(docs: DataFrame, idCol: String, textCol: String, path: String,
        championSize: Int): Unit = locked(docs.sparkSession, path, "build") {
      val spark = docs.sparkSession
      val gen = graft.core.Generations.next(spark, path)
      // ONE corpus tokenize+shuffle total: raw postings are staged to
      // parquet inside the uncommitted generation, and every later
      // reference — withCrank's champion reduction AND its join-back,
      // plus the df aggregation — reads the staged files instead of
      // re-expanding the tokenize lineage (previously 3 full corpus
      // passes per build). Durable read-back, not persist(): the
      // InMemoryRelation boundary was A/B'd 2x slower here in r19, and
      // staged parquet adds no executor-memory pin and no lineage
      // truncation. The stage dir lives under the generation namespace
      // (no reader resolves it; a crashed build's leftover is overwritten
      // by the retry and swept by GC) and is deleted once the generation
      // is committed.
      val stage = graft.core.Generations.dir(path, "stage", gen)
      val raw = postingsOf(docs, idCol, textCol)
      raw.write.mode("overwrite").parquet(stage)
      // explicit schema: an empty corpus writes a file-less dir, which
      // schema inference would refuse to read
      val staged = spark.read.schema(raw.schema).parquet(stage)
      commitGeneration(spark, path, gen,
        withCrank(staged, championSize),
        // df(term) = the staged postings' per-term row count — postings
        // are (term, id)-distinct by construction, so this needs no
        // second corpus tokenize
        staged.groupBy("term").agg(count(lit(1)).as("df")),
        docs.count(),
        Map.empty)
      val stagePath = new Path(stage)
      graft.core.EpochFiles.sweep(stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration), stagePath, "lexical build")
    }

    /** Append a document batch as batch `appendId` of the current
      * generation: its postings leaf lands unbucketed (`__tb = -1`, so a
      * small batch writes a few files, not one per term bucket) with
      * crank = 0 (always candidates until the next optimize), its df and
      * n_docs as per-batch deltas; then one atomic create announces it.
      * All or nothing (see the layout contract): a crash before the
      * announcement leaves nothing live, and the retry lands the batch.
      *
      * `appendId` is the caller's batch identity and carries the
      * semantics: SAME id = retry of the same batch (a no-op once it is
      * announced, and after an `optimize` compacted it), DISTINCT batches
      * MUST use distinct ids — a batch whose doc count differs from the
      * landed batch of its id throws an
      * IllegalStateException naming the id. No default, precisely so
      * callers must choose.
      */
    def append(batch: DataFrame, idCol: String, textCol: String, path: String,
        appendId: Long): Unit = locked(batch.sparkSession, path, "append") {
      require(appendId >= 0L, s"appendId must be >= 0 (-1 is the build partition): $appendId")
      val spark = batch.sparkSession
      // appends land INSIDE the current generation — the generation only
      // flips on build/optimize
      val live = new Live(spark, path)
      val landed =
        if (live.batches.contains(appendId))
          Some(read(spark, MetaSchema, Seq(live.leaf("meta", appendId))).head.getLong(0))
        else live.compacted.get(appendId)
      landed match {
        case Some(n) =>
          val docs = batch.count()
          if (docs != n) throw new IllegalStateException(
            s"appendId $appendId already landed a batch of $n docs, not this one of $docs: " +
              "distinct batches need distinct appendIds")
        case None =>
          val postings = live.leaf("postings", appendId)
          postingsOf(batch, idCol, textCol)
            .withColumn("crank", lit(0L)) // pending: candidate until optimize
            .write.mode("overwrite").parquet(postings)
          // ONE batch tokenize: df(term) derives from the just-written
          // postings leaf; idf and meta are mutually independent, so they
          // overlap
          graft.core.Concurrently(spark)(
            () => read(spark, StructType.fromDDL("term STRING"), Seq(postings))
              .groupBy("term").agg(count(lit(1)).as("df"))
              .write.mode("overwrite").parquet(live.leaf("idf", appendId)),
            () => spark.createDataFrame(Seq(Tuple1(batch.count()))).toDF("n_docs")
              .write.mode("overwrite").parquet(live.leaf("meta", appendId)))
          live.announce(appendId)
      }
    }

    /** Recompute champion ranks over the live postings and compact every
      * sub-table to a single `__ab = -1` leaf — after this the index is
      * identical to a fresh build over the union corpus. Writes the whole
      * NEXT generation, then commits it with one atomic marker create: no
      * window where a concurrent reader can see a half-replaced directory
      * or mismatched postings/idf/meta (reads of the old generation stay
      * valid through the one-generation GC grace). Leaves of an
      * unannounced batch are not live, so they are not compacted. The
      * compacted batches' ids and doc counts join those of earlier
      * optimizes in the new generation's `_compacted` file.
      */
    def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
        championSize: Int): Unit = locked(spark, path, "optimize") {
      // reading gen N while writing gen N+1: no self-overwrite, so no
      // pre-read checkpoint needed anywhere
      val live = new Live(spark, path)
      val schema = postingsSchema(spark, live.dir("postings"))
      // n_docs per live meta leaf, by batch id (-1 = build): one job
      lazy val docs = read(spark, MetaSchema, live.leaves("meta"))
        .select(regexp_extract(input_file_name(), "/__ab=(-?[0-9]+)/", 1).cast("long"), col("n_docs"))
        .collect().groupMapReduce(_.getLong(0))(_.getLong(1))(_ + _)
      commitGeneration(spark, path, live.gen + 1,
        withCrank(read(spark, schema, live.postings(_ => true)).select("term", "id", "tf"), championSize),
        read(spark, IdfSchema, live.leaves("idf")).groupBy("term").agg(sum("df").as("df")),
        docs.values.sum,
        live.compacted ++ (docs - -1L))
    }

    /** Probe: champion rows (crank >= 1) and PENDING appended rows
      * (crank = 0) nominate candidates — non-champion build rows (NULL
      * crank) do NOT nominate, they only contribute tf to the exact
      * scoring join — same guarantee as [[topKDocs]]'s champion branch,
      * but against the persisted table.
      *
      * READ LIFETIME: the returned DataFrame is lazy and pinned to the
      * live leaves resolved at CALL time; `Generations.gc` keeps only a
      * one-generation grace behind the current pointer, so collect the
      * result promptly — a frame collected after TWO optimize cycles
      * scans GC'd files and fails (a missing-file error on collect),
      * never returning a partial answer. Callers that must hold results
      * across optimizes should `localCheckpoint(true)` the (k-bounded,
      * small) frame immediately.
      */
    def search(spark: org.apache.spark.sql.SparkSession, path: String,
        queries: DataFrame, qidCol: String, qtextCol: String, k: Int,
        broadcastRowCap: Long = 4000000L): DataFrame = {
      val qt = queries
        .select(col(qidCol), explode(split(col(qtextCol), " ")).as("term"))
        .groupBy(col(qidCol), col("term")).agg(count(lit(1)).as("__qtf"))
        .localCheckpoint(true)
      // ONE job for the broadcast gate's row count AND the query's term
      // buckets (at most TermBuckets ints, however many queries), which
      // pick the postings leaf dirs to read
      val stats = qt.agg(count(lit(1)), collect_set(termBucket(col("term")))).head
      val qtGated = gated(qt, stats.getLong(0), broadcastRowCap)
      // resolve the live leaves ONCE, after the query-side jobs (the
      // shorter the span from here to the caller's collect, the wider the
      // GC grace): postings, idf and meta all come from the same
      // committed generation and the same announced batches, whose leaves
      // no writer rewrites — an optimize flipping the pointer mid-search
      // leaves them in place through GC's one-generation grace
      val live = new Live(spark, path)
      val postings = read(spark, postingsSchema(spark, live.dir("postings")),
        live.postings(stats.getSeq[Long](1).toSet))
      // per-batch deltas sum to the union-corpus df and n_docs —
      // vocabulary-sized (idf) and batch-count-sized (meta) work; meta
      // holds one row per batch, so it is summed on the driver (one job,
      // no shuffle)
      val n = read(spark, MetaSchema, live.leaves("meta")).collect().map(_.getLong(0)).sum
      val idf = idfBitsFromDf(
        read(spark, IdfSchema, live.leaves("idf")).groupBy("term").agg(sum("df").as("df")), n)
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

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.connectors.rest.{HttpTransport, RestConfig, RestEngine, StaticPagesTransport}
import graft.connectors.rest.RestEngine.RestSource
import graft.core._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis, UrlFrontier}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for every
  * SQL-expressible one. Column names and ordering are aligned on both
  * sides; numeric aggregates go through exact decimal arithmetic and cast
  * to double at the end so Spark and DuckDB hash identically.
  */
object SparkEntry {

  /** Table reader. The `events.ts` parquet encoding has changed across
    * testdata generations (TIMESTAMP(NANOS)-as-long, then µs NTZ);
    * `EventTime.readTable` normalizes every encoding to a canonical
    * microsecond TimestampType so no query here depends on the physical
    * encoding.
    */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    EventTime.readTable(s, s"$dir/$name.parquet")

  /** Run `body` with a temporarily lowered shuffle-partition count: the
    * streaming contract queries process ~10⁵ rows, where 32 state-store
    * partitions cost more in per-partition commit overhead than they buy
    * in parallelism (state partition count is fixed per query at first
    * run, so this must wrap the whole streaming run). Restores the
    * session's setting afterwards — queries run sequentially in Verify
    * and Bench, so the temporary change cannot leak into another plan.
    */
  private def withFewShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", before)
  }

  /** Streaming twin of `t` for the events table: stream schema derived
    * from the batch footer (never hard-coded to one ts encoding), then
    * the same normalization to a µs TimestampType for watermarking.
    */
  private def streamEvents(s: SparkSession, dir: String): DataFrame =
    EventTime.streamTable(s, dir, "events.parquet")

  /** The documents table as a file stream (streaming sources don't
    * infer a schema).
    */
  private def streamDocuments(s: SparkSession, dir: String): DataFrame =
    s.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .parquet(s"$dir/[d]ocuments.parquet")

  /** Literal cast to the column's own (possibly NTZ) timestamp type. */
  private def tsLit(df: DataFrame, colName: String, v: String): Column =
    lit(v).cast(df.schema(colName).dataType)

  private def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** ScaleData's per-copy id shift: media fixtures select their event
    * slice by `event_id % TileOff` so every tiled copy contributes its
    * own blobs (the formulas stay keyed on the FULL id, which the shift
    * perturbs — cross-copy variants come out as near-dups, the media
    * analogue of ScaleData's text suffix token), while at driver SFs
    * (ids ≪ TileOff) the modulo is the identity and results are
    * unchanged.
    */
  private val TileOff = 100000000L

  /** Round-robin spread + pin for expression-heavy NARROW passes whose
    * input is a single-file fixture scan: the regex/line kernels between
    * the scan and the first exchange otherwise run as ONE task while the
    * session idles (guide §2.5's unsplittable-input shape). The eager
    * localCheckpoint pins the spread so multi-consumer queries don't
    * re-execute the exchange per action. No-op once the input already
    * carries enough partitions (a real multi-split corpus). Apply only
    * where the narrow segment dominates — for join/aggregate-bound
    * queries the extra exchange measured as a net loss (q_curation_v2).
    */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p).localCheckpoint(true)
  }

  /** BMP fixture for the image-dedup family: one blob per event (< 400
    * per tile copy), in groups of five near-identical variants — same
    * base gradient, a +0..4 gray offset that wraps at 256 — synthesized
    * on executors from closed-form formulas so the DuckDB oracle can
    * recompute every pixel. Under ScaleData tiling each copy's shifted
    * ids change the dims/gradient mix (20M % 9 = 2, % 7 = 6, % 256 = 0),
    * so copies add same-pixel different-geometry near-dup families.
    */
  private def imageBlobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.MediaCodecs
    t(s, dir, "events").filter(pmod(col("event_id"), lit(TileOff)) < 400)
      .select(col("event_id")).as[Long]
      .map { e =>
        val base = e / 5
        val w = (8 + base % 9).toInt; val h = (8 + base % 7).toInt
        (e, MediaCodecs.encodeBmp24(w, h, (x, y) => {
          val v = ((base * 17 + 7 * x + 11 * y + e % 5) % 256).toInt; (v, v, v)
        }))
      }.toDF("media_id", "content")
  }

  /** WAV fixture for the audio-dedup family: one PCM16 clip per event in
    * [700, 840), in groups of five near-identical variants. Each group g
    * mixes 8 bin-aligned sine tones (band b at FFT bin 64b+32 of a
    * 1024-point frame) with amplitudes `300 + ((g*7 + b*13) % 32) * 60`;
    * variants differ by uniform gain (1.0..1.4) and duration (3..5
    * frames) — both invariants of the spectral RANK fingerprint, so a
    * group collapses at Hamming 0. Bin-aligned tones make the power
    * spectrum analytic ((N*a*gain/2)^2 at the tone bin), so the DuckDB
    * oracle replays every fingerprint bit from the amplitude formula
    * alone while the engine runs the real decode + FFT path; adjacent
    * amplitudes always differ by >= 60 (13 is invertible mod 32), so
    * every energy comparison clears PCM16 quantization noise by ~6
    * orders of magnitude.
    */
  private def audioBlobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.MediaCodecs
    // tiling: 20M % 32 = 0, so shifted copies REPRODUCE the 28 amplitude
    // rank patterns — cross-copy clips are hamming-0 near-dups and the
    // fingerprint families grow 10x at sf1, warming the banded buckets
    t(s, dir, "events").filter(
        pmod(col("event_id"), lit(TileOff)) >= 700 && pmod(col("event_id"), lit(TileOff)) < 840)
      .select(col("event_id")).as[Long]
      .map { e =>
        val g = e / 5
        val gain = (10 + e % 5) / 10.0
        val n = 1024 * (3 + e % 3).toInt
        val amps = Array.tabulate(8)(b => (300 + ((g * 7 + b * 13) % 32) * 60) * gain)
        val samples = Array.tabulate(n) { t0 =>
          var sum = 0.0
          var b = 0
          while (b < 8) {
            sum += amps(b) * math.sin(2.0 * math.Pi * (64 * b + 32) * t0 / 1024.0)
            b += 1
          }
          math.round(sum).toShort
        }
        (e, MediaCodecs.encodeWavPcm16(8000, samples))
      }.toDF("media_id", "content")
  }

  /** Animated-GIF fixture for the video-dedup family: one clip per event
    * in [840, 980), groups of five variants sharing a per-group gradient
    * animation — variant v adds a uniform +v gray offset (wraps at 256)
    * and stretches duration to 4 or 5 frames. Closed-form pixels, so the
    * DuckDB oracle replays frame sampling, the 8×8 grid, aHash bits,
    * bands, aligned buckets and Hamming exactly.
    */
  private def videoBlobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.MediaCodecs
    // tiling: 20M % 256 = 0 keeps cross-copy pixel formulas identical
    // while % 6 = 2 shifts the height — copies add same-animation
    // different-geometry clips, plus exact-geometry twins every 3rd copy
    t(s, dir, "events").filter(
        pmod(col("event_id"), lit(TileOff)) >= 840 && pmod(col("event_id"), lit(TileOff)) < 980)
      .select(col("event_id")).as[Long]
      .map { e =>
        val g = e / 5; val v = e % 5
        val w = (9 + g % 8).toInt; val h = (8 + g % 6).toInt
        val nF = (4 + v % 2).toInt
        (e, MediaCodecs.encodeGifGrayFrames(w, h, nF,
          (f, x, y) => ((g * 23 + 13 * f + 7 * x + 11 * y + v) % 256).toInt))
      }.toDF("media_id", "content")
  }

  /** The sign-quantized fixed IVF quantizer of the embedding contracts:
    * 8 dim-32 centroids with ±0.125 components (exact binary fractions),
    * so cell assignment, probe order and within-cell cosine all replay
    * bit-exactly in SQL; scaling the ±1/√dim quantizer to ±0.125
    * preserves every argmax.
    */
  private def signCentroids: Seq[(Int, Array[Double])] =
    Similarity.fixedCentroids(dim = 32, k = 8)
      .map { case (cid, v) => cid -> v.map(x => if (x > 0) 0.125 else -0.125) }

  /** The fixed pre-trained quantizer of the dim-64 `embeddings` ANN
    * contracts (index BUILD is a separate, spec'd phase).
    */
  private def annCentroids: Seq[(Int, Array[Double])] =
    Similarity.fixedCentroids(dim = 64, k = 8)

  /** Hashed-BoW dim-32 embeddings of `docs`, pinned: both ANN sides
    * derive from them, so the embed kernel (one md5 per token) runs once
    * — vectors are tiny (id + 32 doubles), so the checkpoint is cheap at
    * any corpus size. The repartition spreads the local fixture's ONE
    * parquet split across cores for the CPU-bound kernel + scoring; at
    * corpus scale the scan already yields thousands of splits.
    */
  private def embedded(s: SparkSession, docs: DataFrame): DataFrame =
    graft.ops.Embedding.embedDocuments(
      docs.repartition(s.sparkContext.defaultParallelism), "doc_id", "text", dim = 32)
      .localCheckpoint(true)

  /** ANN sides of `df`: queries (`q_id`, `q_vec`) where `isQuery`,
    * candidates (`n_id`, `n_vec`) where `isCand`.
    */
  private def vecSides(df: DataFrame, vecCol: String, isQuery: Column,
      isCand: Column): (DataFrame, DataFrame) =
    (df.filter(isQuery).select(col("vec_id").as("q_id"), col(vecCol).as("q_vec")),
      df.filter(isCand).select(col("vec_id").as("n_id"), col(vecCol).as("n_vec")))

  /** The embed contracts' split of `embedded` docs: every 100th doc is a
    * query, the rest the corpus.
    */
  private def embedSides(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("q_id"), col("embedding").as("q_vec")),
      emb.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id").as("n_id"), col("embedding").as("n_vec")))

  /** Top-k ANN result as (q_id, rank as long, n_id) in rank order. */
  private def annRanked(df: DataFrame): DataFrame =
    df.select(col("q_id"), col("rank").cast("long").as("rank"), col("n_id"))
      .orderBy("q_id", "rank")

  /** A fresh frontier root. */
  private def frontierRoot(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The frontier contracts' fetch: each to-do URL lands as a page tagged
    * with its `wave`, so a page re-fetched in a later wave duplicates its
    * url_canon and breaks the oracle hash.
    */
  private def fetchWave(wave: Int)(todo: DataFrame): DataFrame =
    todo.select(col("url_canon"), lit(wave.toLong).as("wave"))

  /** [[fetchWave]] with an md5 content hash per page. */
  private def fetchWaveHashed(wave: Int)(todo: DataFrame): DataFrame =
    todo.select(col("url_canon"), md5(col("url_canon")).as("content_hash"),
      lit(wave.toLong).as("wave"))

  /** The politeness contracts' constant plan: events < 3500 as URLs over
    * 7 hosts, every other one in a non-canonical surface form.
    */
  private def politePlan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").filter(col("event_id") < 3500)
      .select(concat(
        when(col("event_id") % 2 === 0, lit("http://")).otherwise(lit("HTTPS://www.")),
        lit("h"), (col("event_id") % 7).cast("string"),
        lit(".example.com/p/"), col("event_id").cast("string")).as("url"))

  /** Most URLs one host fetched in a landed wave; coalesce(0): a tiny
    * corpus can drain early, leaving an empty frame whose max is null.
    */
  private def busiestHost(landed: DataFrame): Long =
    landed.groupBy(regexp_extract(col("url_canon"), "^[^/?]+", 0)).count()
      .agg(coalesce(max("count"), lit(0L))).head().getLong(0)

  /** The committed pages archive as (host, wave, url_canon). */
  private def hostPages(s: SparkSession, dest: String): DataFrame =
    UrlFrontier.committedPages(s, dest)
      .select(regexp_extract(col("url_canon"), "^[^/?]+", 0).as("host"),
        col("wave"), col("url_canon"))

  /** Pages per (host, wave) with the first and last URL. */
  private def hostWaveCounts(pages: DataFrame): DataFrame =
    pages.groupBy("host", "wave")
      .agg(count(lit(1)).as("n_pages"),
        min("url_canon").as("first_url"), max("url_canon").as("last_url"))
      .orderBy("host", "wave")

  /** The robots contracts' two-wave crawl: wave 1 under `rules`, then the
    * sites relax their rules and wave 2 drains exactly the held-back URLs
    * (they never entered the seen-set); pages by URL.
    */
  private def crawlUnderRobots(s: SparkSession, prefix: String, planned: DataFrame,
      rules: DataFrame): DataFrame = {
    val dest = frontierRoot(prefix)
    UrlFrontier.runWave(s, dest, planned, "url", robots = Some(rules))(fetchWave(1))
    UrlFrontier.runWave(s, dest, planned, "url")(fetchWave(2))
    require(UrlFrontier.runWave(s, dest, planned, "url")(fetchWave(3)).isEmpty,
      "frontier not drained after the rules lifted")
    hostPages(s, dest).orderBy("url_canon")
  }

  /** The q_fleet_* fixture: documents with doc_id < 250 as GitHub issue
    * JSON (1-3 labels by n_chars), in pages of 100.
    */
  private def issueChunks(s: SparkSession, dir: String): Seq[Seq[String]] =
    t(s, dir, "documents").filter(col("doc_id") < 250)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq
      .map { r =>
        val k = (r.getLong(2) % 3).toInt + 1
        val labels = (0 until k).map(i => s"""{"name":"l$i"}""").mkString(",")
        s"""{"id":${r.getLong(0)},"updated_at":"2024-01-01T00:00:00Z","lang":"${r.getString(1)}","labels":[$labels]}"""
      }.grouped(100).toSeq

  /** page_number pagination of `chunks`, terminated by an empty page;
    * transport keys carry alphabetically-sorted params.
    */
  private def pageNumberPages(chunks: Seq[Seq[String]]): Map[String, String] = {
    def pageKey(n: Option[Int]) = "repos/octo/repo/issues?direction=asc" +
      n.fold("")(p => s"&page=$p") + "&per_page=100&sort=updated&state=all"
    chunks.zipWithIndex.map { case (chunk, i) =>
      pageKey(if (i == 0) None else Some(i + 1)) -> chunk.mkString("[", ",", "]")
    }.toMap + (pageKey(Some(chunks.size + 1)) -> "[]")
  }

  /** RFC 5988 header_link pagination of `chunks`: every page but the last
    * carries a Link rel=next header; the last page's MISSING link — not
    * an empty page — terminates the loop.
    */
  private def headerLinkTransport(chunks: Seq[Seq[String]]): StaticPagesTransport = {
    val firstKey = "repos/octo/repo/issues?direction=asc&sort=updated&state=all"
    def pageKey(i: Int) = if (i == 0) firstKey else s"repos/octo/repo/issues?page=${i + 1}"
    def linkTo(i: Int) =
      s"""<https://api.github.com/repos/octo/repo/issues?page=${i + 1}>; rel="next", """ +
        s"""<https://api.github.com/repos/octo/repo/issues?page=${chunks.size}>; rel="last""""
    StaticPagesTransport(
      chunks.zipWithIndex.map { case (chunk, i) => pageKey(i) -> chunk.mkString("[", ",", "]") }.toMap,
      chunks.indices.dropRight(1).map(i => pageKey(i) -> Map("link" -> linkTo(i + 1))).toMap)
  }

  /** The q_fleet_* github issues source as a config DOCUMENT, with
    * `paginator` as the endpoint's paginator value (None: no key).
    */
  private def githubIssuesConfig(paginator: Option[String]): RestSource =
    RestConfig.fromJson(s"""
      {"name": "github",
       "client": {"base_url": "https://api.github.com",
                  "headers": {"Accept": "application/vnd.github+json"}},
       "resources": [
         {"name": "issues",
          "endpoint": {"path": "repos/octo/repo/issues",
                       "params": {"state": "all", "sort": "updated", "direction": "asc",
                                  "since": "{incremental.start_value}"},
                       ${paginator.fold("")(p => s""""paginator": $p,""")}
                       "incremental": {"cursor_path": "updated_at"}},
          "primary_key": "id",
          "write_disposition": "merge"}
       ]}""")

  /** Lands `src`'s issues resource over `transport` through a Pipeline
    * run (normalize → labels child table → merge disposition) and joins
    * the LANDED root and child tables back on _dlt_id, per language.
    */
  private def landedIssueLabels(s: SparkSession, src: RestSource, transport: HttpTransport,
      name: String): DataFrame = {
    import graft.pipeline.{Pipeline, ResourceDef, SourceDef}
    val issuesRes = src.resources.find(_.name == "issues").get
    val dest = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    val stateDir = java.nio.file.Files.createTempDirectory(s"graft_${name}_state").toString
    new Pipeline(s, s"verify_$name", dest, stateDir).run(SourceDef(src.name, Seq(ResourceDef(
      name = "issues",
      hints = issuesRes.hints,
      build = ctx => RestEngine.readResource(ctx.spark, src, issuesRes, transport, Some(ctx.state))))))
    val root = s.read.parquet(s"$dest/issues")
    val labels = s.read.parquet(s"$dest/issues__labels")
    root.select(col("lang"), col("_dlt_id"))
      .join(labels.select(col("_dlt_parent_id")), col("_dlt_id") === col("_dlt_parent_id"))
      .groupBy("lang")
      .agg(countDistinct(col("_dlt_id")).as("n_issues"), count(lit(1)).as("n_labels"))
      .orderBy("lang")
  }

  /** The q_rest_* fixture: documents under `maxId` as JSON items in
    * doc_id order, plus a planted `secret` field when asked.
    */
  private def docItems(s: SparkSession, dir: String, maxId: Int,
      secret: Boolean = false): Seq[String] =
    t(s, dir, "documents").filter(col("doc_id") < maxId)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect().toSeq.map { r =>
        val planted = if (secret) s""","secret":"s${r.getLong(0)}"""" else ""
        s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.getLong(2)}$planted}"""
      }

  /** Offset pagination of `items` under `docs`, terminated by an empty page. */
  private def offsetPages(items: Seq[String], pageSize: Int): Map[String, String] = {
    val chunks = items.grouped(pageSize).toSeq
    chunks.zipWithIndex.map { case (chunk, i) =>
      s"docs?limit=$pageSize&offset=${i * pageSize}" -> s"""{"data":[${chunk.mkString(",")}]}"""
    }.toMap + (s"docs?limit=$pageSize&offset=${chunks.size * pageSize}" -> """{"data":[]}""")
  }

  /** Rows and total n_chars per language. */
  private def langTotals(df: DataFrame): DataFrame =
    df.groupBy("lang").agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")

  /** The URL-dedup family's planted `url`: five surface forms per page
    * group (`id` div 5) sharing one canonical page — scheme/www/host
    * case, trailing slash + scrambled param order, tracking params,
    * fragment. [[plantedUrlExpr]] is its SQL twin.
    */
  private def plantedUrl(id: String): Column = {
    val g = expr(s"$id div 5").cast("string")
    val v = col(id) % 5
    when(v === 0, concat(lit("http://site"), g, lit(".example.com/p/"), g, lit("?a=1&b=2")))
      .when(v === 1, concat(lit("HTTPS://WWW.SITE"), g, lit(".EXAMPLE.COM/p/"), g, lit("?a=1&b=2")))
      .when(v === 2, concat(lit("https://site"), g, lit(".example.com/p/"), g, lit("/?b=2&a=1")))
      .when(v === 3, concat(lit("http://site"), g, lit(".example.com/p/"), g,
        lit("?a=1&b=2&utm_source=feed&fbclid=X"), g))
      .otherwise(concat(lit("https://site"), g, lit(".example.com/p/"), g, lit("?a=1&b=2#sec"), v))
      .as("url")
  }

  /** The lexical contracts' queries: the first six words of every 97th doc. */
  private def lexQueries(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("q_text"))

  /** The C4 fixture: multi-line docs synthesized around each text (a
    * too-short line, an unpunctuated line, a kept header, conditional
    * JS/cookie boilerplate, the body as tail); doc_id % 97 == 5 docs get
    * ONLY bad lines and must vanish.
    */
  private def c4Lined(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 97 === 5, lit("all bad\nno punct here\nshort."))
        .otherwise(concat(
          lit("too short.\nthis line has no terminal punctuation\ndoc "),
          col("doc_id"), lit(" body follows now.\n"),
          when(col("doc_id") % 4 === 0,
            lit("please enable JavaScript to continue.\n")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("We use cookies on this site.\n")).otherwise(lit("")),
          col("text"), lit(" tail marker ends here."))).as("text"))

  /** A by-hand PDF of `text`: 8-word lines, 3-line pages, even ids
    * Flate-compressed. Empty words drop on BOTH sides (here and the
    * oracles): an all-empty 8-word group would render as an empty PDF
    * line, which the extractor rightly doesn't emit.
    */
  private def renderPdf(id: Long, text: String): Array[Byte] = {
    val words = text.split(" ", -1).filter(_.nonEmpty).toSeq
    val lines = words.grouped(8).map(_.mkString(" ")).toSeq
    val pages = if (lines.isEmpty) Seq(Seq("")) else lines.grouped(3).toSeq
    graft.ops.Pdf.encodePdf(pages, compress = id % 2 == 0)
  }

  /** Every document rendered to PDF and parsed back as (doc_id, text),
    * line breaks normalized to spaces. Empty-text docs drop on BOTH sides
    * (oracle: len(ws) > 0): an empty string splits to [''] and would score
    * empty-term matches the filtered-word oracle cannot model. Render +
    * parse runs once for the corpus and query sides: persisted (not
    * localCheckpoint) — a corpus-sized frame keeps its lineage
    * recoverable; the caller unpersists.
    */
  private def parsedPdfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)].map { case (id, text) => (id, renderPdf(id, text)) }
      .toDF("doc_id", "content")
    graft.ops.Pdf.extract(blobs, "doc_id", "content")
      .filter(col("format") === "pdf")
      .select(col("doc_id"), translate(col("text"), "\n", " ").as("text"))
      .filter(length(col("text")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The CDC contracts' replicated table: accounts(user_id key,
    * event_id, value).
    */
  private val accountsRel = {
    import graft.connectors.cdc.PgOutput.{ColumnMeta, RelationMeta}
    RelationMeta(1, "public", "accounts", 'd', Seq(
      ColumnMeta("user_id", 20, -1, isKey = true),
      ColumnMeta("event_id", 20, -1, isKey = false),
      ColumnMeta("value", 701, -1, isKey = false),
    ))
  }

  /** Events under `maxId` as (event_id, user_id, event_type, value) rows. */
  private def cdcEvents(s: SparkSession, dir: String, maxId: Int): Array[org.apache.spark.sql.Row] =
    t(s, dir, "events").filter(col("event_id") < maxId)
      .select("event_id", "user_id", "event_type", "value").orderBy("event_id").collect()

  /** One event as pgoutput DML on accounts: 'error' events are key-only
    * Deletes, the rest Inserts (event_id doubles as the row's lsn).
    */
  private def cdcDml(r: org.apache.spark.sql.Row): Array[Byte] = {
    import graft.connectors.cdc.PgOutput.Encode
    if (r.getString(2) == "error") Encode.delete(1, Seq(Some(r.getLong(1).toString), None, None))
    else Encode.insert(1,
      Seq(Some(r.getLong(1).toString), Some(r.getLong(0).toString), Some(r.getDouble(3).toString)))
  }

  /** Decodes pgoutput `frames`, consumes them at transaction boundaries
    * and merges the accounts changes (lsn-dedup + hard delete).
    */
  private def mergedAccounts(s: SparkSession, frames: Seq[(Long, Array[Byte])]): DataFrame = {
    import graft.connectors.cdc.ChangeBatch
    val consumed = ChangeBatch.consume(frames.iterator, targetBatchSize = Int.MaxValue)
    val changes = consumed.batch.byRelation("accounts")
    val typed = ChangeBatch.toTypedDf(ChangeBatch.changeRows(s, accountsRel, changes), accountsRel)
    MergeEngine.mergePlan(None, typed, ChangeBatch.mergeHints(accountsRel))
      .select("user_id", "event_id", "value")
      .orderBy("user_id")
  }

  private val dec18_2 = DecimalType(18, 2)
  private val dec18_4 = DecimalType(18, 4)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_multi_join_agg")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1/§2.3 scan + predicate/projection pushdown + aggregation (the
    // GA/Matomo report-recompute shape, SURVEY §2.6 last row)
    "q_pushdown_scan_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= tsLit(li, "l_shipdate", "1999-01-01 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast(dec18_2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec18_2)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // broadcast dim join (small side broadcast, no shuffle of the fact side)
    "q_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec18_2)).cast("double").as("revenue"),
        )
        .orderBy("c_mktsegment")
    }),

    // multi-join star query (TPC-H Q5 shape): fact shuffles once per key,
    // all dims broadcast
    "q_multi_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec18_4))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"),
        )
        .orderBy("n_name")
    }),

    // §2.5 incremental cursor: filter beyond last value + new high-water mark
    "q_incremental_cursor" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val inc = Incremental(Seq("ts"), initialValue = Some("2024-01-15 00:00:00"))
      inc.filterWith(ev, None)
        .agg(
          count(lit(1)).as("n_new"),
          tsMicros(max(col("ts"))).as("new_cursor_us"),
          tsMicros(min(col("ts"))).as("first_ts_us"),
        )
    }),

    // §2.5 coalesced cursor paths `a|b` + §2.9 JSON extraction
    "q_cursor_coalesce" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cur = coalesce(
        get_json_object(col("props"), "$.v"),
        get_json_object(col("props"), "$.k"),
      ).cast("long")
      ev.groupBy("event_type")
        .agg(max(cur).as("max_cursor"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // §2.4 merge+pk upsert with dedup_sort (last-write-wins)
    "q_merge_upsert" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("__ord", struct(col("ts"), col("event_id")))
      val hints = TableHints(
        "events_merged",
        disposition = Disposition.Merge,
        primaryKey = Seq("user_id", "event_type"),
        dedupSort = Some(("__ord", true)),
      )
      val base = MergeEngine.dedupeBatch(
        ev.filter(col("event_id") < 5000), hints.primaryKey, hints.dedupSort)
      val updates = ev.filter(col("event_id") >= 5000)
      MergeEngine.mergePlan(Some(base), updates, hints)
        .select(
          col("user_id"), col("event_type"), col("event_id"),
          tsMicros(col("ts")).as("ts_us"), col("value"),
        )
        .orderBy("user_id", "event_type")
    }),

    // §2.4 at scale: hash-bucketed merge — only buckets touched by the
    // update batch are rewritten; result must equal the logical merge
    "q_merge_bucketed" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("__ord", struct(col("ts"), col("event_id")))
      val hints = TableHints(
        "events_bucketed",
        disposition = Disposition.Merge,
        primaryKey = Seq("user_id", "event_type"),
        dedupSort = Some(("__ord", true)),
        bucketCount = Some(16),
      )
      val dest = java.nio.file.Files.createTempDirectory("graft_bm").toString
      val base = MergeEngine.dedupeBatch(
        ev.filter(col("event_id") < 5000), hints.primaryKey, hints.dedupSort)
      TableWriter.write(s, base, dest, hints)
      TableWriter.write(s, ev.filter(col("event_id") >= 5000), dest, hints)
      BucketedMerge.read(s, s"$dest/events_bucketed")
        .select(
          col("user_id"), col("event_type"), col("event_id"),
          tsMicros(col("ts")).as("ts_us"), col("value"),
        )
        .orderBy("user_id", "event_type")
    }),

    // §2.4 merge_key delete-insert: whole key-groups (days) in the batch
    // replace the base's groups; untouched groups survive (bing webmaster
    // composite merge key shape)
    "q_merge_key_replace" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.groupBy(
        date_trunc("day", col("ts")).cast(DateType).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val base = daily.filter(col("day") < lit("2024-01-16").cast(DateType))
      // the "recomputed" partitions: days 10..20 with a marker shift
      val updates = ev
        .filter(col("ts") >= tsLit(ev, "ts", "2024-01-10 00:00:00") &&
          col("ts") < tsLit(ev, "ts", "2024-01-21 00:00:00"))
        .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"), col("event_type"))
        .agg((count(lit(1)) + 1000000L).as("n"))
      val hints = TableHints("daily", Disposition.Merge, mergeKey = Seq("day"))
      MergeEngine.mergePlan(Some(base), updates, hints)
        .orderBy("day", "event_type")
    }),

    // §2.4 dedup_sort window dedup: latest row per pk
    "q_merge_dedup" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("__ord", struct(col("ts"), col("event_id")))
      MergeEngine.dedupeBatch(ev, Seq("user_id"), Some(("__ord", true)))
        .select(col("user_id"), col("event_id"), col("event_type"), tsMicros(col("ts")).as("ts_us"))
        .orderBy("user_id")
    }),

    // §2.4 hard_delete: non-null marker deletes the key on merge
    "q_hard_delete" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("__ord", struct(col("ts"), col("event_id")))
        .withColumn("deleted_ts", when(col("event_type") === "error", col("ts")))
      val hints = TableHints(
        "events_hd",
        disposition = Disposition.Merge,
        primaryKey = Seq("user_id"),
        dedupSort = Some(("__ord", true)),
        hardDeleteCol = Some("deleted_ts"),
      )
      MergeEngine.mergePlan(None, ev, hints)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }),

    // core.normalize: struct flattening with __ paths
    "q_normalize_flatten" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val nested = ev.select(
        col("event_id"),
        struct(
          col("user_id"),
          struct(col("event_type"), col("value")).as("detail"),
        ).as("payload"),
      )
      Normalize.flattenStructs(nested, TableHints("events"))
        .orderBy("event_id")
    }),

    // core.normalize: dynamic JSON inference — a JSON-string column is
    // sampled, schema-inferred, parsed, and flattened to __ paths
    "q_normalize_json" -> ((s, dir) => {
      val ev = t(s, dir, "events").select("event_id", "props")
      val parsed = Normalize.parseJsonColumn(ev, "props")
      Normalize.flattenStructs(parsed, TableHints("events"))
        .orderBy("event_id")
    }),

    // core.normalize: array explode → child table with list idx
    "q_normalize_explode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tables = Normalize.normalize(emb, TableHints("embeddings", primaryKey = Seq("vec_id")))
      val parent = tables("embeddings").select(col("vec_id"), col(Normalize.DltId))
      val child = tables("embeddings__embedding")
      parent
        .join(child, parent(Normalize.DltId) === child(Normalize.DltParentId))
        .filter(col("vec_id") < 50)
        .select(
          col("vec_id"),
          col(Normalize.DltListIdx).cast("long").as("idx"),
          col("value").as("val"),
        )
        .orderBy("vec_id", "idx")
    }),

    // §2.6 wide→long melt (hubspot pivot_stages_properties)
    "q_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value",
        )
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),

    // §2.6 long→wide pivot (zendesk custom-field pivot)
    "q_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events").groupBy("user_id").pivot("event_type", types).count()
      p.select(col("user_id") +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("user_id")
    }),

    // §2.8 dynamic table routing: one stream → N tables via routing column
    "q_table_routing" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("_table", concat(lit("events_"), col("event_type")))
        .groupBy("_table").agg(count(lit(1)).as("n"))
        .orderBy("_table")
    }),

    // §2.8/§1.1 per-item hint variants (dlt.mark.with_hints +
    // create_table_variant, reference sources/pg_replication/helpers.py:781-790):
    // ONE extract lands rows in two variant tables with DIFFERENT merge
    // keys plus an append-only base table, through the real Pipeline
    "q_hint_variants" -> ((s, dir) => {
      import graft.pipeline.{Pipeline, ResourceDef, SourceDef}
      val dest = java.nio.file.Files.createTempDirectory("graft_hv").toString
      val stateDir = java.nio.file.Files.createTempDirectory("graft_hv_state").toString
      val pipe = new Pipeline(s, "verify_hv", dest, stateDir)
      val resource = ResourceDef(
        name = "ev",
        hints = TableHints("ev_base", Disposition.Append),
        build = ctx => t(ctx.spark, dir, "events")
          .filter(col("event_id") < 6000)
          .select("event_id", "user_id", "event_type")
          .withColumn(Pipeline.HintVariantCol,
            when(col("event_id") % 3 === 0, lit("ev_by_user"))
              .when(col("event_id") % 3 === 1, lit("ev_by_type"))
              .otherwise(lit(null))),
        hintVariants = Map(
          "ev_by_user" -> TableHints("ev_by_user", Disposition.Merge,
            primaryKey = Seq("user_id"), dedupSort = Some(("event_id", true))),
          "ev_by_type" -> TableHints("ev_by_type", Disposition.Merge,
            primaryKey = Seq("event_type"), dedupSort = Some(("event_id", true))),
        ),
      )
      pipe.run(SourceDef("hv", Seq(resource)))
      def back(name: String, k: Column) = s.read.parquet(s"$dest/$name")
        .select(lit(name).as("tbl"), k.cast("string").as("k"), col("event_id"))
      back("ev_by_user", col("user_id"))
        .unionAll(back("ev_by_type", col("event_type")))
        .unionAll(back("ev_base", col("user_id")))
        .orderBy("tbl", "k", "event_id")
    }),

    // all-or-nothing multi-table finalize (SURVEY §7.4 hard part 4): a
    // routed merge source runs under manifestCommit — run 2 CRASHES after
    // both routed tables landed their new generations but before the
    // pointer flip, and the manifest must still read run 1's state of
    // EVERY table (no torn A-new/B-old window — require()d in-contract on
    // a real snapshot aggregate); the retry publishes all tables in one
    // commit and the oracle replays the final merged state
    "q_manifest_commit" -> ((s, dir) => {
      import graft.pipeline.{Pipeline, ResourceDef, SourceDef}
      val dest = java.nio.file.Files.createTempDirectory("graft_mani").toString
      val stateDir = java.nio.file.Files.createTempDirectory("graft_mani_state").toString
      val pipe = new Pipeline(s, "verify_mani", dest, stateDir, manifestCommit = true)
      def slice(maxKey: Long, mult: Int) = t(s, dir, "orders")
        .filter(col("o_orderkey") < maxKey)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * mult).as("price"))
      def src(maxKey: Long, mult: Int, boom: Boolean) = SourceDef("s", Seq(
        ResourceDef("ord",
          TableHints("ord", Disposition.Merge, primaryKey = Seq("o_orderkey")),
          _ => slice(maxKey, mult), routingColumn = Some("o_orderstatus")),
        // fails AFTER the routed tables landed — the crash between finalizes
        ResourceDef("late", TableHints("late", Disposition.Replace),
          ctx => { import ctx.spark.implicits._
            if (boom) sys.error("crash between finalizes") else Seq(1).toDF("x") }),
      ))
      pipe.run(src(20000, 1, boom = false))
      val m = pipe.manifest
      def snap(): (Long, Double) = {
        val u = m.tables.filter(_.startsWith("ord_")).sorted
          .map(n => m.read(n).get.select("price")).reduce(_ unionByName _)
        (u.count(), u.agg(sum(col("price").cast(dec18_2)).cast("double")).head.getDouble(0))
      }
      val committed = snap()
      val crashed =
        try { pipe.run(src(30000, 2, boom = true)); false }
        catch { case _: RuntimeException => true }
      require(crashed, "the planted crash did not fire")
      require(snap() == committed,
        "crashed run leaked partially-finalized tables through the manifest")
      pipe.run(src(30000, 2, boom = false))
      m.tables.filter(_.startsWith("ord_")).sorted
        .map(n => m.read(n).get.select(lit(n).as("tbl"), col("price")))
        .reduce(_ unionByName _)
        .groupBy("tbl")
        .agg(count(lit(1)).as("n"),
          sum(col("price").cast(dec18_2)).cast("double").as("sum_price"))
        .orderBy("tbl")
    }),

    // §2.9 timestamp scalar kit: truncation + exact decimal agg per day
    "q_scalar_ts" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
        .agg(
          count(lit(1)).as("n"),
          tsMicros(max(col("ts"))).as("max_us"),
          sum(col("value").cast(dec18_2)).cast("double").as("sum_value"),
        )
        .orderBy("day")
    }),

    // §2.9 epoch sec/ms heuristic (slack) + serial date (google_sheets)
    "q_epoch_heuristic" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 2000)
        .withColumn("raw", floor(col("value") * 1000000000L).cast("long"))
        .select(
          col("event_id"),
          when(col("raw") > 100000000000L, floor(col("raw") / 1000).cast("long"))
            .otherwise(col("raw")).as("epoch_s"),
          date_add(lit("1899-12-30").cast(DateType), col("user_id").cast("int")).as("serial_date"),
        )
        .orderBy("event_id")
    }),

    // §2.9 digest128-style stable ids (kafka/kinesis msg ids)
    "q_digest_ids" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 1000)
        .select(
          col("event_id"),
          sha2(concat_ws("|", col("event_id").cast("string"), col("event_type")), 256).as("msg_id"),
        )
        .orderBy("event_id")
    }),

    // §2.9 enum/label decode via broadcast map (pipedrive/zendesk)
    "q_enum_decode" -> ((s, dir) => {
      val labels = typedlit(Map(
        "click" -> "Clicked", "view" -> "Seen", "purchase" -> "Bought",
        "signup" -> "Joined", "error" -> "Failed",
      ))
      t(s, dir, "events")
        .select(col("event_type"), coalesce(element_at(labels, col("event_type")), lit("unknown")).as("label"))
        .groupBy("event_type", "label").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // §2.6 session-close filter (matomo remove_active_visits)
    "q_session_filter" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sessions = ev.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"), min(col("ts")).as("first_ts"), count(lit(1)).as("n"))
      val mx = ev.agg(max(col("ts")).as("m"))
      sessions.crossJoin(mx)
        .filter(!(
          col("last_ts") > col("m") - expr("INTERVAL 30 MINUTES") &&
            (tsMicros(col("last_ts")) - tsMicros(col("first_ts"))).cast("double") / 1e6 < 3600.0
        ))
        .select(col("user_id"), col("n"))
        .orderBy("user_id")
    }),

    // full-load path (BASELINE.md metric): scan → normalize → append →
    // read-back; the count verifies the load, the bench times it
    "q_full_load" -> ((s, dir) => {
      val dest = java.nio.file.Files.createTempDirectory("graft_load").toString
      val hints = TableHints("lineitem_loaded", Disposition.Append)
      val tables = Normalize.normalize(t(s, dir, "lineitem"), hints)
      TableWriter.write(s, tables("lineitem_loaded"), dest, hints)
      s.read.parquet(s"$dest/lineitem_loaded").agg(count(lit(1)).as("n"))
    }),

    // type fidelity at the edges of the range (reference
    // tests/pg_replication/cases.py:7-100): a time-of-day column as µs
    // since midnight and a wei-scale decimal(38,0) survive
    // normalize → merge (overlapping batches) → parquet read-back; the
    // wei is stringified at the edge so the compare is digit-exact
    "q_type_roundtrip" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") < 4000)
      val typed = ev.select(
        col("event_id"),
        (tsMicros(col("ts")) % 86400000000L).as("tod_us"),
        (floor(col("value") * 1000000L).cast(DecimalType(20, 0)) *
          lit("1000000000000").cast(DecimalType(18, 0))).as("wei"))
      val hints = TableHints("typed_events", Disposition.Merge, primaryKey = Seq("event_id"))
      val dest = java.nio.file.Files.createTempDirectory("graft_types").toString
      TableWriter.write(s,
        Normalize.normalize(typed.filter(col("event_id") < 3000), hints)("typed_events"), dest, hints)
      TableWriter.write(s,
        Normalize.normalize(typed.filter(col("event_id") >= 2000), hints)("typed_events"), dest, hints)
      s.read.parquet(s"$dest/typed_events")
        .select(col("event_id"), col("tod_us"), col("wei").cast("string").as("wei"))
        .orderBy("event_id")
    }),

    // skew-safe aggregation: salted two-stage result must equal the plain
    // group-by (oracle computes the plain one)
    "q_skew_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedSumCount(
        t(s, dir, "events").withColumn("v", col("value").cast(dec18_2)),
        Seq("event_type"), "v", factor = 8, saltSource = Seq("event_id"))
        .select(col("event_type"), col("sum_v").cast("double").as("sum_v"), col("n"))
        .orderBy("event_type")
    }),

    // ---- LLM-pipeline operators (BASELINE north star) ----

    // exact dedup: hash-groupBy, only (digest, id, count) survives map side
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    }),

    // n-gram (word-set) Jaccard near-dup pairs — routed through LSH band
    // buckets so the pair join is a hash join on (band, bucket), never an
    // all-pairs nested loop (the oracle recomputes the same two stages)
    "q_dedup_jaccard" -> ((s, dir) => {
      Dedup.nearDupPairs(t(s, dir, "documents").filter(col("doc_id") % 13 === 0),
        "doc_id", "text", numHashes = 4, rowsPerBand = 2, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // MinHash + LSH banding: near-dup candidate buckets
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.lshCandidateGroups(t(s, dir, "documents"), "doc_id", "text", numHashes = 4, rowsPerBand = 1)
        .orderBy("band", "bucket_hash")
    }),

    // native one-pass MinHash (custom codegen Expression) end-to-end:
    // fast xxhash64-family banding proposes candidates, exact Jaccard
    // verifies. At 8 bands × 2 rows the banding recall on >=0.9 pairs is
    // 1 − (1−0.81)^8 ≈ 1 − 2e-6, so the verified output equals the
    // ground-truth near-dup set — which IS SQL-expressible: the oracle
    // recomputes it by brute force, hard-gating the whole fast path
    "q_dedup_minhash_fast" -> ((s, dir) => {
      Dedup.nearDupPairsFast(t(s, dir, "documents").filter(col("doc_id") % 7 === 0),
        "doc_id", "text", numHashes = 16, rowsPerBand = 2, threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),

    // composed near-dup pipeline: LSH candidates → exact Jaccard verify
    // (the O(n²)-free shape; oracle recomputes both stages in SQL)
    // (the synthetic corpus shares one tiny vocabulary, so nearly every
    // pair is an LSH candidate — a worst case for banding; the subset
    // keeps the demo pair space honest without changing the semantics)
    "q_dedup_pipeline" -> ((s, dir) => {
      Dedup.nearDupPairs(t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        "doc_id", "text", numHashes = 4, rowsPerBand = 2, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),

    // dedup clusters: verified pairs → connected components → canonical
    // survivor per component (oracle: recursive-CTE transitive closure)
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.nearDupPairs(
        t(s, dir, "documents").filter(col("doc_id") % 11 === 0),
        "doc_id", "text", numHashes = 4, rowsPerBand = 2, threshold = 0.9)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // leakage-safe split: documents are assigned train/eval splits by
    // the md5 of their near-dup CLUSTER root (same pair machinery as
    // q_dedup_clusters), so a near-duplicate pair can never straddle
    // splits — the oracle replays the transitive closure AND the exact
    // split hash, proving whole components co-locate
    "q_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 11 === 0)
      val pairs = Dedup.nearDupPairs(docs, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, threshold = 0.9)
      graft.ops.Corpus.leakageSafeSplit(docs.select("doc_id"), "doc_id",
          Dedup.clusterPairs(pairs), nSplits = 5)
        .select(col("doc_id"), col("root"), col("split"))
        .orderBy("doc_id")
    }),

    // incremental dedup: an incoming batch dedups against a PERSISTED
    // corpus LSH index — O(batch) signatures + one broadcast pass over
    // the index; corpus texts are read only for candidate ids. The low
    // cap (40) forces the over-cap refinement/hub path to ENGAGE at the
    // driver's sf0.01 gate, so the capped incremental join is
    // oracle-verified exactly where it fires
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      val batch = docs.filter(col("doc_id") % 35 === 0)
      val corpus = docs.filter(col("doc_id") % 35 =!= 0)
      // pinned: production reads the index from parquet (materialized
      // once); the live frame otherwise recomputes the corpus signatures
      // for every one of the operator's three index references
      val index = Dedup.lshIndexRows(corpus, "doc_id", "text", numHashes = 4, rowsPerBand = 2)
        .localCheckpoint(true)
      Dedup.incrementalNearDupPairs(batch, corpus, index, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, threshold = 0.8, maxBucketSize = 40)
        .orderBy("id_a", "id_b")
    }),

    // small-file compaction: a table landed as 8 tiny append files is
    // bin-packed back to one; the require proves the file count shrank
    // and the oracle proves content survived byte-exactly
    "q_compact" -> ((s, dir) => {
      val dest = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/events"
      val ev = t(s, dir, "events").select("event_id", "user_id", "event_type", "value")
      (0 until 8).foreach { i =>
        ev.filter(col("event_id") % 8 === i).repartition(1)
          .write.mode("append").parquet(dest)
      }
      val (before, after) = TableMaintenance.compact(s, dest,
        targetBytes = 1L << 30, minFileBytes = 1L << 30)
      require(after < before, s"compaction must shrink the file count ($before -> $after)")
      s.read.parquet(dest)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast("double").as("total"))
        .orderBy("event_type")
    }),

    // token-budget selection: best-priority docs until the running token
    // total hits the budget — distributed two-level cumsum, no global
    // window (the sf0.01 gate budget keeps ~57% of the corpus)
    "q_token_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      graft.ops.Corpus.tokenBudgetSelect(d, "doc_id", "n_tokens", "n_chars", budget = 10000L)
        .select(col("doc_id"), col("n_tokens"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // per-doc SUBWORD token counts through the tokenizer seam: greedy
    // fixed-merge-table BPE in a narrow mapPartitions kernel with a
    // per-partition word-count cache — zero shuffle; the oracle replays
    // every merge decision via a recursive CTE over the distinct vocab
    "q_tokens_bpe" -> ((s, dir) =>
      graft.ops.Tokenize.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // the BPE counts feeding the distributed token-budget cumsum — the
    // trainer-facing composition: budget by what the model will SEE, not
    // by whitespace words
    "q_bpe_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val counts = graft.ops.Tokenize.tokenCounts(d, "doc_id", "text")
      val joined = d.select(col("doc_id"), col("n_chars")).join(counts, Seq("doc_id"))
      graft.ops.Corpus.tokenBudgetSelect(joined, "doc_id", "n_tokens", "n_chars", budget = 8000L)
        .select(col("doc_id"), col("n_tokens"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // corpus-wide line dedup (CCNet-style first-occurrence-wins,
    // reassembled in order). The synthetic docs have no newlines, so the
    // contract runs at word granularity (sep=" ") — same explode →
    // min-struct groupBy → join-back → reassemble plan at any granularity
    "q_line_dedup" -> ((s, dir) => {
      Dedup.dedupLines(t(s, dir, "documents"), "doc_id", "text", sep = " ")
        .orderBy("doc_id")
    }),

    // shared-token spans (approximate exact-substring dedup): pairs of
    // docs sharing >= 10 consecutive tokens via k-gram anchors on one
    // alignment diagonal — oracle joins the gram strings and replays the
    // gaps-and-islands run detection. The synthetic docs share no long
    // spans organically, so the contract SEEDS overlap: every
    // doc_id % 40 == 0 doc gets a twin (doc_id + 1e6) made of its first
    // 25 tokens — the positive path (runs found, spans measured) is
    // oracle-exercised, not just spec-covered
    "q_shared_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 25)).as("text"))
      Dedup.sharedSpans(base.unionByName(twins),
        "doc_id", "text", k = 5, minSpan = 10, maxDocFreq = 100)
        .orderBy("id_a", "id_b")
    }),

    // Lee et al. exact-substring REMOVAL over the corpus: every token
    // position covered by a k-gram window whose global first occurrence
    // is elsewhere gets cut; planted 20-word twins (doc_id+1e6) lose
    // their copied prefix while the originals survive whole
    "q_substring_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 20)).as("text"))
      Dedup.removeDuplicateSpans(base.unionByName(twins), "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // span-level decontamination: cut exactly the eval-overlapping
    // 8-gram spans from training docs (the surgical alternative to
    // q_decontaminate's whole-doc flagging)
    "q_decontaminate_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.removeEvalSpans(
        docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", k = 8)
        .orderBy("doc_id")
    }),

    // SimHash 64-bit fingerprints via the native codegen expression
    // (bit-identical to the HOF form — proven in MinHashExpressionSpec —
    // at one counter array per row instead of per word; no SQL oracle)
    // SimHash fingerprints over the md5 hash family so the oracle
    // replicates every bit (the 64-bit xxhash64 codegen expression —
    // SimHash64 — is the scale path, eval≡codegen + HOF-equivalence
    // proven in SimHashExpressionSpec; same md5-for-oracle split as
    // q_dedup_minhash vs q_dedup_minhash_fast)
    "q_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        Dedup.simhashMd5(split(col("text"), " ")).as("simhash"))
        .orderBy("doc_id")
    }),

    // end-to-end text → embed → ANN: documents run through the
    // EmbeddingClient seam (hashed-BoW canned client; a real model swaps
    // in behind the same trait) and the resulting vectors feed the
    // bounded brute-force top-k — the reference's document-to-vectorstore
    // flow as one engine pipeline. Integer-count vectors make the oracle
    // replay bit-exact.
    "q_embed_ann" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (queries, corpus) = embedSides(emb)
      Similarity.bruteForceTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec", k = 5)
        .transform(annRanked)
    }),

    // the same seam composed with the SCALE-path ANN: text → embed → IVF
    // cell assign → probe → bounded top-k (the reference's parse → embed
    // → index → query flow, sources/unstructured_data/__init__.py:19-103,
    // in its 100 TB shape — brute force above is the contract baseline
    // and OOMs at sf10; this is the plan that survives). Centroid
    // components are ±0.125 (exact binary fraction) so cell assignment,
    // probe order, and within-cell cosine all replay bit-exactly in SQL;
    // scaling the ±1/√dim quantizer to ±0.125 preserves every argmax.
    "q_embed_ivf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (queries, corpus) = embedSides(emb)
      Similarity.ivfTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        signCentroids, nProbe = 2, k = 5)
        .transform(annRanked)
    }),

    // the LSH-bucketed composition of the same seam: text → embed →
    // sign-LSH bucket join → bounded top-k. With the ±1 hyperplanes and
    // integer-count vectors every signature bit is an exact integer
    // comparison, so bucketing + within-bucket ranking replay bit-for-bit
    // in SQL. Together with q_embed_ivf this gives the embedding kernel
    // both scale-path index families the ANN suite ships.
    "q_embed_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (queries, corpus) = embedSides(emb)
      Similarity.lshTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        dim = 32, nBits = 4, k = 5)
        .transform(annRanked)
    }),

    // continuous retrieval: the q_embed_ivf pipeline with the query side
    // arriving as a STREAM — corpus embedded + IVF-assigned once (the
    // static index), each micro-batch of new documents embedded through
    // the client seam and probed via foreachBatch, results appended.
    // Per-query results are independent of micro-batch boundaries, so the
    // landed set hash-matches the batch oracle (embedIvfSql verbatim).
    "q_stream_embed_probe" -> ((s, dir) => {
      import graft.streaming.StreamingRetrieval
      val root = java.nio.file.Files.createTempDirectory("graft_sretr").toString
      val docs = t(s, dir, "documents")
      val cents = signCentroids
      val corpus = graft.ops.Embedding.embedDocuments(
        docs.filter(col("doc_id") % 100 =!= 0).repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", dim = 32)
        .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
      val index = Similarity.ivfAssign(corpus, "n_vec", cents).localCheckpoint(true)
      withFewShufflePartitions(s, 8) {
        val stream = streamDocuments(s, dir)
          .filter(col("doc_id") % 100 === 0)
          .select("doc_id", "text")
        val q = StreamingRetrieval.start(stream, index, "doc_id", "text", cents,
          dim = 32, nProbe = 2, k = 5, s"$root/out", s"$root/ckpt")
        q.processAllAvailable(); q.stop()
      }
      // batch_id is the sink's idempotency partition, not part of the result
      s.read.parquet(s"$root/out").select("q_id", "rank", "n_id").orderBy("q_id", "rank")
    }),

    // continuous retrieval over a GROWING index (the crawl → probe →
    // index loop): wave 1 of the stream (doc_id % 200 == 0) probes the
    // base corpus index and then JOINS it as a batch-delta partition;
    // wave 2 (doc_id % 200 == 100) arrives in the next micro-batch and
    // retrieves wave-1 stream documents alongside the base corpus.
    // Probe-then-append: each batch sees strictly earlier batches
    // (batch_id < its own), so the landed set is a deterministic
    // function of wave membership and replays in the SQL oracle as a
    // cwave < wave join predicate.
    "q_stream_index_delta" -> ((s, dir) => {
      import graft.streaming.StreamingRetrieval
      val root = java.nio.file.Files.createTempDirectory("graft_sidx").toString
      val docs = t(s, dir, "documents")
      val cents = signCentroids
      val corpus = graft.ops.Embedding.embedDocuments(
        docs.filter(col("doc_id") % 100 =!= 0).repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", dim = 32)
        .select(col("doc_id").as("n_id"), col("embedding").as("n_vec"))
      StreamingRetrieval.bootstrapIndex(
        Similarity.ivfAssign(corpus, "n_vec", cents), cents, s"$root/index")
      withFewShufflePartitions(s, 8) {
        docs.filter(col("doc_id") % 200 === 0).select("doc_id", "text")
          .write.mode("append").parquet(s"$root/stream")
        val stream = s.readStream
          .schema(StructType(Seq(
            StructField("doc_id", LongType), StructField("text", StringType))))
          .parquet(s"$root/stream")
        // probe centroids come from the index's own meta/ — no caller state
        val q1 = StreamingRetrieval.startIndexed(stream, s"$root/index", "doc_id", "text",
          dim = 32, nProbe = 2, k = 5, s"$root/out", s"$root/ckpt")
        q1.processAllAvailable() // batch 0 = wave 1 (all files pre-exist)
        // STOP before landing wave 2: a live trigger polls the directory
        // and can pick up a PARTIAL file set mid-write, splitting the
        // wave across micro-batches — and for a growing index, batch
        // membership IS the result contract. The restart resumes from
        // the checkpoint and takes the whole wave as batch 1 (and
        // exercises exactly the restart path the meta/ centroids serve).
        q1.stop()
        docs.filter(col("doc_id") % 200 === 100).select("doc_id", "text")
          .write.mode("append").parquet(s"$root/stream")
        val q2 = StreamingRetrieval.startIndexed(stream, s"$root/index", "doc_id", "text",
          dim = 32, nProbe = 2, k = 5, s"$root/out", s"$root/ckpt")
        q2.processAllAvailable() // batch 1 = wave 2
        q2.stop()
      }
      s.read.parquet(s"$root/out").select("q_id", "rank", "n_id").orderBy("q_id", "rank")
    }),

    // two-stage retrieval: embed → IVF top-20 recall → cross-encoder-seam
    // rerank (token-set Jaccard canned client) → top-5. The rerank kernel
    // only ever sees the bounded candidate list (20 × queries rows), which
    // is what makes a per-pair model call affordable at corpus scale.
    // Integer intersection/union counts keep every score and rank
    // comparison bit-exact in the oracle replay.
    "q_rerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (queries, corpus) = embedSides(emb)
      val stage1 = Similarity.ivfTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        signCentroids, nProbe = 2, k = 20)
        .select("q_id", "n_id")
      val texts = docs.select(col("doc_id"), col("text"))
      val cand = stage1
        .join(texts.select(col("doc_id").as("q_id"), col("text").as("q_text")), "q_id")
        .join(texts.select(col("doc_id").as("n_id"), col("text").as("n_text")), "n_id")
      graft.ops.Rerank.rerankTopK(cand, "q_id", "q_text", "n_id", "n_text", k = 5)
        .select(col("q_id"), col("rank"), col("n_id"), col("score"))
        .orderBy("q_id", "rank")
    }),

    // SemDeDup-style semantic dedup: text → embed → nearest fixed centroid
    // (the cluster step) → within-cluster drop of any doc with a
    // smaller-id cosine-0.75 neighbor. threshold² = 9/16 and the
    // integer-count vectors keep the drop decision exact (dot² vs
    // 9/16·|a|²·|b|² — products of exact integers), so keep/drop gates
    // bit-for-bit per document. The in-operator cell-pair cap (md5
    // sub-split + hub chain for cells over maxCellSize) bounds the one
    // remaining quadratic cliff; cap 60 against 500 docs / 8 cells at
    // sf0.01 means BOTH branches — sane exact cells and capped
    // sub-split cells — run and hash-gate here, and at sf1 every cell
    // is capped. The oracle replays the md5 sub-cell assignment
    // bit-for-bit (60 bits of md5 as a nonnegative long).
    "q_semantic_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      graft.ops.Dedup.semanticDedup(emb, "doc_id", "embedding", signCentroids, threshold = 0.75,
        maxCellSize = 60)
        .orderBy("doc_id")
    }),

    // cluster-balanced diversity sampling: the same semantic cells, top-3
    // docs per cell by (n_chars desc, doc_id asc) through the map-side
    // bounded BoundedTopK aggregate — per-cluster quotas for the training
    // mix, the embedding-space analog of stratifiedExact's language quotas.
    "q_cluster_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      graft.ops.Corpus.clusterBalancedSample(emb, "doc_id", "embedding", signCentroids,
        perCluster = 3, scoreCol = col("n_chars"))
        .select(col("cell"), col("rank"), col("doc_id"), col("score"))
        .orderBy("cell", "rank")
    }),

    // brute-force cosine top-k ANN baseline
    "q_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding", col("vec_id") < 5, col("vec_id") >= 5)
      Similarity.bruteForceTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec", k = 5)
        .transform(annRanked)
    }),

    // LSH-bucketed ANN (scale path). The ±1 hyperplanes are deterministic
    // JVM-side literals, so the oracle replicates bucketing + within-bucket
    // ranking exactly in SQL — full-fidelity check of the approximate path
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding", col("vec_id") < 5, col("vec_id") >= 5)
      Similarity.lshTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec", dim = 64, nBits = 4, k = 5)
        .transform(annRanked)
    }),

    // multi-probe LSH: each query also probes every Hamming-1 bucket (one
    // sign flipped) — most of a second table's recall for zero extra
    // index storage. Probe fan-out happens on the tiny broadcast query
    // side; the oracle replays the XOR probe set bit-exactly in SQL
    "q_ann_lsh_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding", col("vec_id") < 5, col("vec_id") >= 5)
      Similarity.lshTopKMultiProbe(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        dim = 64, nBits = 4, k = 5)
        .transform(annRanked)
    }),

    // IVF ANN (scale path: corpus shuffles once by cell; queries probe
    // nProbe cells). The quantizer is the fixed pre-trained one
    // (Similarity.fixedCentroids) — index BUILD (kmeansCentroids, spec'd
    // in OpsSpec) is a separate phase, as in any IVF engine, so the
    // query bills probe mechanics only; the deterministic centroid
    // literals also let the oracle replicate assignment + probe in SQL
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding",
        col("vec_id") >= 8 && col("vec_id") < 13, col("vec_id") >= 13)
      Similarity.ivfTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        annCentroids, nProbe = 2, k = 5)
        .transform(annRanked)
    }),

    // recall@k of the IVF scale path against the exact brute-force
    // baseline — THE tuning metric for nProbe (and the check the
    // reference flow implies: does the index find what exact search
    // finds). Both rankings are deterministic, so even the quality
    // measurement itself is oracle-gated end-to-end.
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding",
        col("vec_id") >= 8 && col("vec_id") < 13, col("vec_id") >= 13)
      val ivf = Similarity.ivfTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        annCentroids, nProbe = 2, k = 5)
      val brute = Similarity.bruteForceTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec", k = 5)
      Similarity.recallAtK(ivf, brute, "q_id", "n_id").orderBy("q_id")
    }),

    // IVF-PQ ANN: coarse-cell probe + asymmetric-distance shortlist over
    // m-byte codes + exact rerank (the memory-bound FAISS shape; raw
    // vectors touched only for the shortlist). Fixed quantizer + fixed
    // ±0.125 codebooks → the oracle replicates cell assignment, PQ
    // encoding, ADC scoring, shortlist, and rerank bit-for-bit in SQL
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (queries, corpus) = vecSides(emb, "embedding",
        col("vec_id") >= 8 && col("vec_id") < 13, col("vec_id") >= 13)
      val cbs = Similarity.pqCodebooks(dim = 64, m = 8, kSub = 16)
      Similarity.ivfPqTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec",
        annCentroids, cbs, nProbe = 2, shortlist = 16, k = 5)
        .transform(annRanked)
    }),

    // random-projection ANN: rank in a 16-dim JL sketch of the 64-dim
    // embeddings — the narrow-map pre-filter shape; oracle replicates
    // the ±1 projection and the projected-cosine ranking exactly
    "q_ann_project" -> ((s, dir) => {
      val planes = Similarity.projectionPlanes(dimIn = 64, dimOut = 16)
      val emb = t(s, dir, "embeddings")
        .withColumn("p_vec", Similarity.randomProject(col("embedding"), planes))
      val (queries, corpus) = vecSides(emb, "p_vec", col("vec_id") < 5, col("vec_id") >= 5)
      Similarity.bruteForceTopK(corpus, queries, "n_id", "n_vec", "q_id", "q_vec", k = 5)
        .transform(annRanked)
    }),

    // structured extraction through the model-client seam: field->question
    // maps answered per document by a batched per-partition extractor
    // (reference: sources/unstructured_data/helpers.py:20-91). The canned
    // deterministic client stands in for the LLM endpoint (no egress), so
    // the mapPartitions plumbing — id alignment, batching, schema — is
    // what the oracle hash gates.
    "q_extract_structured" -> ((s, dir) => {
      import graft.ops.Extraction
      Extraction.extractStructured(
        t(s, dir, "documents").filter(col("doc_id") < 300), "doc_id", "text",
        Map(
          "summary" -> "summarize the document in a few words",
          "n_words" -> "count the words in the document",
          "head" -> "what are the opening characters"),
        Extraction.CannedExtractor, batchSize = 32)
        .orderBy("doc_id")
    }),

    // context-window chunking: long docs split into overlapping token
    // windows (stride = max - overlap) — narrow transform + explode, no
    // shuffle; the oracle replays windows, clamping, and token counts
    "q_chunk_docs" -> ((s, dir) => {
      graft.ops.Corpus.chunkDocuments(
        t(s, dir, "documents").filter(col("doc_id") % 9 === 0),
        "doc_id", "text", maxTokens = 40, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),

    // weighted domain mixing: reshape the corpus toward a target source
    // distribution with a deterministic md5 acceptance coin — one tiny
    // per-domain count, then a narrow filter; the oracle recomputes the
    // counts, rates, and the exact surviving set
    "q_domain_mix" -> ((s, dir) => {
      graft.ops.Corpus.mixDomains(
        t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), totalRows = 60L, seed = "mix")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // corpus-level n-gram novelty: fraction of a doc's distinct bigrams
    // appearing in no other document — integer counts end-to-end, one
    // final division, so the oracle replays it exactly
    "q_ngram_novelty" -> ((s, dir) => {
      TextAnalysis.ngramNovelty(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // text quality features
    "q_text_quality" -> ((s, dir) => {
      val feats = TextAnalysis.qualityFeatures(col("text"))
      val cols = col("doc_id") +: feats.map { case (n, c) =>
        (if (n == "n_chars" || n == "n_words" || n == "punct_count") c.cast("long") else c).as(n)
      }
      t(s, dir, "documents").select(cols: _*).orderBy("doc_id")
    }),

    // Gopher document-quality gate: the Rae et al. 2021 heuristic rule
    // set as per-doc named flags + the conjunction — kept as flags so a
    // curation run reports WHY documents fell. One narrow codegen'd pass.
    "q_gopher_filter" -> ((s, dir) => {
      TextAnalysis.gopherFilter(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("ok_word_count"), col("ok_mean_word_len"),
          col("ok_hash_ratio"), col("ok_ellipsis_ratio"), col("ok_bullet_lines"),
          col("ok_ellipsis_lines"), col("ok_alpha_words"), col("ok_stopwords"), col("pass"))
        .orderBy("doc_id")
    }),

    // curation DAG v2 — the round-8 stages composed end to end: Gopher
    // heuristic gate → perplexity-LM quality filter (LM trained on the
    // %3 slice of the gate's survivors) → exact-substring span removal
    // (rewritten text, <20-word remnants dropped) → DSIR importance
    // selection of the top 500 against the %7 target slice. Each stage
    // frame eagerly checkpointed: every stage feeds multiple downstream
    // consumers (the LM trains on s1 AND scores s1; DSIR scans s3 three
    // times), same discipline as q_curation_pipeline
    "q_curation_v2" -> ((s, dir) => {
      import graft.ops.{Dsir, LanguageModel}
      // spread() measured NEGATIVE here (min-of-3 JVMs 7.15 vs 6.07 s):
      // v2 is join/groupBy-bound (LM training, span grams, DSIR), not
      // narrow-regex-bound like v3 — left unspread deliberately
      val docs = t(s, dir, "documents")
      val s1 = TextAnalysis.gopherFilter(docs, "text")
        .filter(col("pass") === 1)
        .select("doc_id", "text")
        .localCheckpoint(true)
      val lm = LanguageModel.trainBigramLm(s1.filter(col("doc_id") % 3 === 0), "text")
      val s2 = LanguageModel.perplexityFilter(s1, "doc_id", "text", lm,
        bitsNum = 109L, bitsDen = 20L)
        .localCheckpoint(true)
      val s3 = Dedup.removeDuplicateSpans(s2, "doc_id", "text", k = 8)
        .filter(col("n_kept") >= 20)
        .select("doc_id", "text")
        .localCheckpoint(true)
      Dsir.importanceSelect(s3, "doc_id", "text",
        docs.filter(col("doc_id") % 7 === 0), buckets = 512, k = 500)
        .orderBy(col("weight_bits").desc, col("doc_id"))
    }),

    // curation DAG v3 — the round-11 curation stages composed end to
    // end: C4 line cleaning (multi-line docs synthesized as in
    // q_c4_lines; boilerplate lines drop, %97==5 docs vanish) → PII
    // scrub + density filter (planted PII; email+IP always, card on %3,
    // SSN on %5, so %15==0 docs carry 4 hits and fall to maxPerDoc=3) →
    // NB quality margin gate (integer NB trained on the raw %3
    // en-vs-rest seed scores the SCRUBBED text at margin -2) → near-dup
    // LSH over the surviving scrubbed texts → leakage-safe split keyed
    // on the near-dup cluster root. Stage frames eagerly checkpointed
    // (each feeds multiple consumers: NB joins s2 twice; near-dup +
    // split scan s3 three times), same discipline as q_curation_v2. The
    // oracle chains each stage's proven CTE machinery in one statement,
    // so every dropped line, redaction count, verified pair and the
    // final split hash replays bit-for-bit.
    "q_curation_v3" -> ((s, dir) => {
      import graft.ops.{Classifier, Redact}
      // spread: the single-file documents scan otherwise feeds the C4
      // line pass and the 8-regex PII scrub — v3's dominant narrow
      // kernels — to ONE task (min-of-3 JVMs: 6.94 spread vs 8.06 s not)
      val docs = spread(t(s, dir, "documents"))
      val lined = c4Lined(docs)
      val s1 = TextAnalysis.c4LineFilter(lined, "doc_id", "text")
        .select("doc_id", "text").localCheckpoint(true)
      val s2 = Redact.scrubAndFilter(plantPii(s1), "doc_id", "text", maxPerDoc = 3L)
        .localCheckpoint(true)
      val seed = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val model = Classifier.trainNb(seed, "text", "y")
      val s3 = Classifier.qualityFilter(s2, "doc_id", "text", model, marginBits = -2L)
        .localCheckpoint(true)
      val pairs = Dedup.nearDupPairs(s3, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, threshold = 0.9)
      graft.ops.Corpus.leakageSafeSplit(s3, "doc_id", Dedup.clusterPairs(pairs), nSplits = 5)
        .select(col("doc_id"), col("text"), col("n_email"), col("n_card"),
          col("n_ssn"), col("n_ip"), col("root"), col("split"))
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity quality scoring: a quantized bigram LM
    // trained on the doc_id % 3 reference slice scores EVERY document in
    // whole bits (integer-exact — no floating log anywhere), and the
    // kept flag applies a rational bits-per-bigram bound (109/20 = 5.45,
    // inside the corpus's 5.3–5.6 band so the cut actually discriminates)
    "q_perplexity_lm" -> ((s, dir) => {
      import graft.ops.LanguageModel
      val docs = t(s, dir, "documents")
      val lm = LanguageModel.trainBigramLm(docs.filter(col("doc_id") % 3 === 0), "text")
      LanguageModel.perplexityBits(docs, "doc_id", "text", lm)
        .withColumn("kept", LanguageModel.keptFlag(bitsNum = 109L, bitsDen = 20L))
        .orderBy("doc_id")
    }),

    // C4 line cleaning: deterministic multi-line docs are synthesized
    // around each text (a too-short line, an unpunctuated line, a kept
    // header, conditional JS/cookie boilerplate, the body as tail);
    // doc_id % 97 == 5 docs get ONLY bad lines and must vanish — the
    // oracle replays every rule, the rejoin, and the doc-level drop
    "q_c4_lines" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lined = c4Lined(docs)
      TextAnalysis.c4LineFilter(lined, "doc_id", "text")
        .select("doc_id", "text", "n_lines", "n_kept").orderBy("doc_id")
    }),

    // PII scrub: deterministic synthetic PII (email + IP always, card
    // on doc_id % 3, SSN on doc_id % 5) is planted around each doc,
    // then redacted by the fixed RE2-compatible pattern sequence — the
    // oracle replants and re-scrubs with its own regex engine, so any
    // divergence in match semantics (or a missed span) breaks the hash
    "q_pii_scrub" -> ((s, dir) => {
      import graft.ops.Redact
      Redact.scrub(plantPii(t(s, dir, "documents")), "doc_id", "text").orderBy("doc_id")
    }),

    // URL-level dedup (RefinedWeb stage 1): deterministic URL variants
    // are planted per doc in groups of five sharing one canonical page —
    // scheme/www/host-case, trailing slash + scrambled param order,
    // tracking params, fragment — then canonicalized by the fixed rule
    // chain and deduped to the min-id survivor. The oracle replays every
    // rule (host-only lowercase, www strip, param filter+sort, slash and
    // fragment strips) and the group counts.
    "q_url_dedup" -> ((s, dir) => {
      import graft.ops.Url
      val urls = t(s, dir, "documents").select(col("doc_id"), plantedUrl("doc_id"))
      Url.dedupByUrl(urls, "doc_id", "url")
        .select(col("doc_id"), col("url_canon"), col("n_dups"), col("kept"))
        .orderBy("doc_id")
    }),

    // Cross-run batch URL frontier (the chess seen-archives pattern,
    // sources/chess/__init__.py:95-124, at URL granularity): wave 1
    // lists the first 1500 events' URL surface forms, canonicalizes,
    // fetches the 300 never-seen pages, and commits the canonical
    // seen-set; wave 2 re-lists everything up to event 3000 (every old
    // page under all five surface forms again) and must fetch ONLY the
    // 300 new pages; the two committed seen generations are then
    // COMPACTED into one (seenSet cardinality asserted preserved), and
    // wave 3 re-lists the full 4000-event range to prove
    // fetch-exactly-once holds ACROSS the compaction. The membership
    // check is a distributed left_anti join against the parquet seen
    // generations (a frontier's key set is billions at corpus scale —
    // never driver state), and each wave's tables commit in one manifest
    // epoch AFTER the landing. The wave tag pins re-fetches: a seen page
    // re-fetched in a later wave would duplicate its url_canon and flip
    // its wave, breaking the hash. Finally the PAGES archive itself —
    // the user-facing artifact — is bin-packed (compactPages, cardinality
    // asserted preserved), and the RESULT is read back through the
    // manifest (committedPages): the exactly-once read path a raw pages/*
    // glob, which still sees the superseded generations, does not provide.
    "q_url_frontier" -> ((s, dir) => {
      val dest = frontierRoot("graft_frontier")
      def listing(maxId: Long) =
        t(s, dir, "events").filter(col("event_id") < maxId)
          .select(col("event_id"), plantedUrl("event_id"))
      val w1 = UrlFrontier.runWave(s, dest, listing(1500), "url")(fetchWaveHashed(1))
      val w2 = UrlFrontier.runWave(s, dest, listing(3000), "url")(fetchWaveHashed(2))
      // compact the two committed seen generations into one, then prove
      // fetch-exactly-once ACROSS the compaction: wave 3 re-lists
      // everything and must fetch only the genuinely new pages (the
      // oracle's one-row-per-canonical-URL shape enforces it)
      val before = UrlFrontier.seenSet(s, dest).count()
      val compacted = UrlFrontier.compactSeen(s, dest)
      require(compacted.size == 1,
        s"compaction must leave a single seen generation, got $compacted")
      require(UrlFrontier.seenSet(s, dest).count() == before,
        "compaction changed the seen-set cardinality")
      val w3 = UrlFrontier.runWave(s, dest, listing(4000), "url")(fetchWaveHashed(3))
      require(w1.columns.sameElements(w3.columns) && w2.columns.sameElements(w3.columns),
        "wave schema drifted")
      // the archive is the user-facing artifact: bin-pack the per-wave
      // pages generations (same crash discipline, multiplicity preserved)
      // and read the RESULT through the manifest — the exactly-once read
      // path a raw pages/* glob does not provide. The oracle's
      // one-row-per-canonical-URL shape (with the wave tag pinned) proves
      // exactly-once survived the rewrite.
      val pagesBefore = UrlFrontier.committedPages(s, dest).count()
      val pGens = UrlFrontier.compactPages(s, dest)
      require(pGens.size == 1,
        s"pages compaction must leave a single generation, got $pGens")
      require(UrlFrontier.committedPages(s, dest).count() == pagesBefore,
        "pages compaction changed the archive cardinality")
      UrlFrontier.committedPages(s, dest).orderBy("url_canon")
    }),

    // per-host crawl politeness: three capped waves over a 7-host URL set
    // (≤150 URLs per host per wave, deterministic smallest-first
    // selection via the bounded MinK aggregator) then an uncapped drain
    // wave; overflow carries over between waves with no extra state
    // (uncapped URLs never enter the seen-set, so the next anti-join
    // re-presents them). The oracle replays the selection as a plain
    // rank-within-host, proving BOTH the cap (no host exceeds 150 in any
    // capped wave — also require()d in-contract) and fetch-exactly-once
    // across all four waves (one row per canonical URL, wave tag pinned)
    "q_url_frontier_polite" -> ((s, dir) => {
      val cap = 150
      val dest = frontierRoot("graft_polite")
      val planned = politePlan(s, dir)
      (1 to 3).foreach { w =>
        val landed = UrlFrontier.runWave(s, dest, planned, "url", Some(cap))(fetchWave(w))
        val worst = busiestHost(landed)
        require(worst <= cap, s"wave $w fetched $worst URLs from one host (cap $cap)")
      }
      UrlFrontier.runWave(s, dest, planned, "url")(fetchWave(4))
      require(UrlFrontier.runWave(s, dest, planned, "url")(fetchWave(5)).isEmpty,
        "frontier not drained after the uncapped wave")
      hostWaveCounts(hostPages(s, dest))
    }),

    // crawl politeness in TIME on the frontier's logical wave clock: with
    // minWaveGapPerHost = 1 every host fetched in wave W sits out wave
    // W+1, so under a constant plan the capped waves alternate fetch/
    // silence — odd waves take each host's next ≤150 URLs, even waves are
    // REQUIRED empty in-contract (every host is inside its gap window),
    // and excluded URLs carry over with no extra state. The oracle replays
    // the whole schedule as rank-within-host (ranks 1-150 → wave 1,
    // 151-300 → wave 3, …), proving the exclusion window, the cap, and
    // fetch-exactly-once across all nine waves in one hash
    "q_url_frontier_gap" -> ((s, dir) => {
      val cap = 150
      val dest = frontierRoot("graft_gap")
      val planned = politePlan(s, dir)
      (1 to 9).foreach { w =>
        val landed = UrlFrontier.runWave(s, dest, planned, "url",
          maxPerHost = Some(cap), minWaveGapPerHost = 1)(fetchWave(w))
        if (w % 2 == 0)
          require(landed.isEmpty,
            s"wave $w fetched ${landed.count()} URLs — every host is inside its gap window")
        else if (w < 9) {
          val worst = busiestHost(landed)
          require(worst <= cap, s"wave $w fetched $worst URLs from one host (cap $cap)")
        } else require(landed.isEmpty, "frontier not drained by wave 7 (500 URLs/host at 150/wave)")
      }
      hostWaveCounts(hostPages(s, dest))
    }),

    // robots.txt politeness on the frontier (RFC 9309, completing the
    // behavior family: seen-set = exactly-once, cap = politeness in
    // COUNT, gap = politeness in TIME, robots = per-host exclusion
    // RULES). Seven hosts publish seven rule shapes — blanket disallow,
    // digit-prefix disallow, disallow-all-with-allow-override (longest
    // pattern wins), an agent-specific group that shadows a blanket '*'
    // group, a WILDCARD rule (`/p/*4` — matched per the RFC's full
    // pattern grammar, widening its plain-prefix sibling to any id
    // containing a 4), an empty disallow (= allow all), and no
    // robots.txt at all. Wave 1 crawls under the rules; wave 2 lifts
    // them and drains exactly the held-back URLs — disallowed pages
    // never entered the seen-set, the same carry-over semantics as cap
    // overflow. The oracle replays every verdict per URL in one hash
    // (wave = 1 if allowed, 2 if held back), proving the parser, the
    // most-specific/allow-tie decision, and exactly-once across the
    // rule change
    "q_url_frontier_robots" -> ((s, dir) => {
      import s.implicits._
      val planned = t(s, dir, "events").filter(col("event_id") < 3500)
        .select(concat(lit("http://h"), (col("event_id") % 7).cast("string"),
          lit(".example.com/p/"), col("event_id").cast("string")).as("url"))
      val bodies = Seq(
        ("h0.example.com", "User-agent: *\nDisallow: /\n"),
        ("h1.example.com", "# block the 1-prefixed pages\nUser-agent: *\nDisallow: /p/1\n"),
        ("h2.example.com", "User-agent: *\nDisallow: /p/\nAllow: /p/2\n"),
        ("h3.example.com",
          "User-agent: graftbot\nDisallow: /p/3\n\nUser-agent: *\nDisallow: /\n"),
        ("h4.example.com", "User-agent: *\nDisallow: /p/*4\nDisallow: /p/4\n"),
        ("h5.example.com", "User-agent: *\nDisallow:\n"),
        // h6 publishes no robots.txt at all
      ).toDF("host", "robots_txt")
      crawlUnderRobots(s, "graft_robots", planned,
        UrlFrontier.robotsRules(bodies, agent = "graftbot"))
    }),

    // robots.txt politeness, FULL RFC 9309 pattern grammar: the wildcard
    // and end-anchor shapes real-world rule tables lean on (`/*?sid=`
    // session-id bans, `/*.html$` suffix bans, allow-override with
    // written-length specificity `/p/*2$` vs `/p/`, multi-star
    // `/p/*sid=*3`, `/p/*0$` vs allow `/p/*00$`), PLUS product-token
    // user-agent selection: the crawler identifies as `graftbot/1.0`,
    // and the groups it must resolve are `graftbot` (longest prefix,
    // beats both `graft` and `*` on w3) and `graftling` (NOT a prefix
    // of the token — w6's only group, so w6 has no rules at all). Three
    // path shapes per host (plain /p/<id>, query /p/<id>?sid=<id>,
    // suffix /a/<id>.html) make every wildcard bite differently. Same
    // two-wave carry-over proof as q_url_frontier_robots: the oracle
    // replays each URL's verdict semantically in one hash
    "q_url_frontier_robots_wild" -> ((s, dir) => {
      import s.implicits._
      val ids = col("event_id").cast("string")
      val path = when(col("event_id") % 3 === 0, concat(lit("/p/"), ids))
        .when(col("event_id") % 3 === 1, concat(lit("/p/"), ids, lit("?sid="), ids))
        .otherwise(concat(lit("/a/"), ids, lit(".html")))
      val planned = t(s, dir, "events").filter(col("event_id") < 3500)
        .select(concat(lit("http://w"), (col("event_id") % 7).cast("string"),
          lit(".example.com"), path).as("url"))
      val bodies = Seq(
        ("w0.example.com", "User-agent: graftbot\nDisallow: /*?sid=\n"),
        ("w1.example.com", "User-agent: *\nDisallow: /*.html$\n"),
        ("w2.example.com", "User-agent: *\nDisallow: /p/\nAllow: /p/*2$\n"),
        ("w3.example.com",
          "User-agent: graft\nDisallow: /p/\n\nUser-agent: graftbot\nDisallow: /a/\n\nUser-agent: *\nDisallow: /\n"),
        ("w4.example.com", "User-agent: graftbot\nDisallow: /p/*sid=*3\n"),
        ("w5.example.com", "User-agent: graftbot\nDisallow: /p/*0$\nAllow: /p/*00$\n"),
        ("w6.example.com", "User-agent: graftling\nDisallow: /\n"),
      ).toDF("host", "robots_txt")
      crawlUnderRobots(s, "graft_robots_wild", planned,
        UrlFrontier.robotsRules(bodies, agent = "graftbot/1.0"))
    }),

    // Model-based quality classification (CCNet fastText / GPT-3 LR
    // filter): an integer-quantized Naive Bayes trained on the
    // doc_id % 3 seed labeled en-vs-rest scores EVERY document in whole
    // bits per class. The filtering surface is the integer MARGIN
    // (bits0 - bits1), CCNet-style — on this synthetic corpus the
    // lang-word skew is mild (en mean margin -2.5 vs -3.2 for the
    // rest), so the kept flag at margin 0 cuts a selective ~12% slice;
    // the machinery (counts, quantized costs, defaults, priors, ties)
    // replays bit-exactly either way
    "q_nb_quality" -> ((s, dir) => {
      import graft.ops.Classifier
      val docs = t(s, dir, "documents")
      val seed = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      val model = Classifier.trainNb(seed, "text", "y")
      Classifier.classifyNb(docs, "doc_id", "text", model)
        .withColumn("kept", (col("bits0") - col("bits1") >= 0L).cast("long"))
        .orderBy("doc_id")
    }),

    // WET extraction: deterministic HTML synthesized around each doc
    // (script/style/comment blocks, a nav anchor, per-word paragraphs),
    // then stripped back to text with link-density scoring — all
    // codegen'd regexp passes, no UDF; the oracle is the ground truth
    // by construction, so any stripping bug breaks the hash
    "q_html_extract" -> ((s, dir) => {
      import graft.ops.Html
      val docs = t(s, dir, "documents")
      val html = docs.select(col("doc_id"),
        concat(
          lit("<html><head><script>var x = '<p>no</p>';</script><style>b{}</style></head><body>"),
          lit("<ul><li><a href=/d"), col("doc_id"),
          lit("><b>doc "), col("doc_id"), lit("</b></a></li></ul><p>"),
          regexp_replace(col("text"), " ", "</p> <p>"),
          lit("</p><!-- footer --></body></html>")).as("html"))
      Html.extract(html, "doc_id", "html").orderBy("doc_id")
    }),

    // PDF text extraction (the reference's headline unstructured file
    // type): each document becomes a REAL by-hand PDF — 8-word lines,
    // 3-line pages, even ids Flate-compressed, lines rotating through
    // literal/hex/TJ string forms — then the JDK-only reader recovers
    // the text; ground truth is the input by construction, and a planted
    // corrupt slice (doc_id % 97 = 0) proves the quarantine path
    "q_pdf_extract" -> ((s, dir) => {
      import graft.ops.Pdf
      import s.implicits._
      val blobs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)].map { case (id, text) =>
          val bytes =
            if (id % 97 == 0) "not a pdf".getBytes("ISO-8859-1")
            else renderPdf(id, text)
          (id, bytes)
        }.toDF("doc_id", "content")
      Pdf.extract(blobs, "doc_id", "content").orderBy("doc_id")
    }),

    // WARC/WET container pipeline — the day-one read path of a 100 TB
    // text corpus (CommonCrawl ships multi-member-gzip WARC segments):
    // every document is rendered to the q_html_extract wrapper, wrapped
    // in an HTTP response record under TWO surface forms of the same
    // canonical URL, and packed record-per-gzip-member into 8 containers
    // per wave (fixture synthesis runs executor-side, one task per
    // container). Run 1 reads the wave-0 containers through the
    // seen-file incremental state and commits; wave-1 containers land
    // and run 2 must read ONLY them (asserted). One container carries a
    // planted truncated trailing member — the reader keeps every record
    // before it and emits exactly one quarantine row (asserted), the
    // corrupt-slice discipline of q_pdf_extract at the container level.
    // Then the crawl surface composes: httpBody (codegen'd, no UDF) →
    // Html.extract → Url.canonicalize → per-canonical group (both
    // surface forms collapse, n_recs = 2 pins exactly-once across the
    // incremental runs). Oracle is ground truth by construction.
    "q_warc_pipeline" -> ((s, dir) => {
      import graft.connectors.sources.{FilesystemSource, Warc}
      import graft.ops.{Html, Url}
      import s.implicits._
      val warcDir = java.nio.file.Files.createTempDirectory("graft_warc").toString
      val state = new StateStore(java.nio.file.Paths.get(warcDir, "s.json"))
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(
          lit("<html><head><script>var x = '<p>no</p>';</script><style>b{}</style></head><body>"),
          lit("<ul><li><a href=/d"), col("doc_id"),
          lit("><b>doc "), col("doc_id"), lit("</b></a></li></ul><p>"),
          regexp_replace(col("text"), " ", "</p> <p>"),
          lit("</p><!-- footer --></body></html>")).as("html"))
      // container count scales with the corpus (a real crawl ships
      // thousands of ~fixed-size segments, and the file IS the parallel
      // unit for both the gzip encode here and the read): ~4000 docs per
      // container, floor 8, cap 64 — clamped to the doc count so a tiny
      // corpus still populates every doc_id % nFiles residue (doc_ids
      // are contiguous from 0) and the container-count require holds
      val nDocs = docs.count()
      val nFiles = math.max(1L, math.min(nDocs,
        math.max(8L, math.min(64L, nDocs / 4000L)))).toInt
      // land one wave's containers: group docs by container, encode one
      // gzip member per record executor-side, write one file per task
      // (local[32] shares the fs; a cluster build would write through
      // the same HadoopFS handle Warc.read uses)
      def writeWave(wave: Int): Unit = {
        docs.as[(Long, String)].groupByKey(_._1 % nFiles).mapGroups { (fi, it) =>
          // stream member-by-member: O(record) memory per task, the same
          // posture as the reader — a container is GBs at corpus scale
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(warcDir, f"w${wave}_$fi%03d.warc.gz"))
          try it.foreach { case (id, html) =>
            val url =
              if (wave == 0) s"http://site$id.example.com/p/$id?a=1&b=2"
              else s"HTTPS://WWW.SITE$id.EXAMPLE.COM/p/$id?a=1&b=2"
            out.write(Warc.gzipMember(Warc.encodeRecord("response", url,
              "2026-01-01T00:00:00Z", "application/http; msgtype=response",
              Warc.httpResponse(html.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
          } finally out.close()
          fi
        }.collect()
      }
      writeWave(0)
      // plant a truncated trailing member in one wave-0 container
      val junk = Warc.gzipMember(Warc.encodeRecord("response",
        "http://junk.example.com/x", "2026-01-01T00:00:00Z",
        "application/http; msgtype=response", Warc.httpResponse("junk".getBytes)))
      java.nio.file.Files.write(java.nio.file.Paths.get(warcDir, "w0_000.warc.gz"),
        junk.dropRight(junk.length / 3),
        java.nio.file.StandardOpenOption.APPEND)
      val (r1, all1) = Warc.readNew(s, "crawl", warcDir, state)
      val run1 = r1.get.localCheckpoint(true)
      FilesystemSource.commitSeen(state, "crawl", all1)
      writeWave(1)
      val (r2, all2) = Warc.readNew(s, "crawl", warcDir, state)
      val run2 = r2.get.localCheckpoint(true)
      // expected container count = residues actually populated (equals
      // nFiles for contiguous doc_ids; degrades gracefully otherwise)
      val expectedFiles = docs.select((col("doc_id") % nFiles).as("r")).distinct().count()
      require(run2.select("warc_file").distinct().count() == expectedFiles,
        "run 2 must read ONLY the wave-1 containers")
      FilesystemSource.commitSeen(state, "crawl", all2)
      val recs = run1.unionByName(run2)
      val nQuarantined = recs.filter(col("error").isNotNull).count()
      require(nQuarantined == 1,
        s"expected exactly the planted truncated member quarantined, got $nQuarantined")
      val pages = recs.filter(col("warc_type") === "response")
        .select(col("url"), Warc.httpBody(col("payload")).as("html"))
      Html.extract(pages, "url", "html")
        .select(Url.canonicalize(col("url")).as("url_canon"),
          col("text"), col("n_chars"), col("link_density"))
        .groupBy("url_canon")
        .agg(count(lit(1)).as("n_recs"), min(col("text")).as("text"),
          min(col("n_chars")).as("n_chars"),
          min(col("link_density")).as("link_density"))
        .select(
          regexp_extract(col("url_canon"), "^site(\\d+)\\.", 1).cast("long").as("doc_id"),
          col("url_canon"), col("n_recs"), col("text"), col("n_chars"),
          col("link_density"))
        .orderBy("doc_id")
    }),

    // the reference's headline unstructured flow COMPOSED: render the
    // corpus to real PDFs, parse the text back, and retrieve over the
    // parsed corpus — the oracle runs tf-idf on the ORIGINAL text, so
    // the hash gate proves the parse is byte-faithful all the way
    // through ranking (parsed text == original once line breaks
    // normalize back to spaces)
    "q_pdf_pipeline" -> ((s, dir) => {
      import graft.ops.Lexical
      val parsed = parsedPdfs(s, dir)
      val corpus = parsed.filter(col("doc_id") % 97 =!= 0)
      val queries = lexQueries(parsed)
      // topKDocs materializes its k x queries result eagerly, so the
      // parsed-corpus cache can be released before returning instead of
      // pinning block-manager memory for the session's lifetime
      val out = Lexical.topKDocs(corpus, "doc_id", "text", queries, "q_id", "q_text", k = 10)
        .orderBy("q_id", "rank")
      parsed.unpersist(false)
      out
    }),

    // the SCALE path of the composed PDF flow: identical render → parse
    // → retrieve lifecycle, but the retrieval stage runs the champion
    // branch (each term's posting list truncated to its 32 highest-tf
    // docs for candidate NOMINATION only; every candidate scored
    // exactly) — the exhaustive branch's scored space grows with
    // queries x matched postings and exceeds local spill disk at sf10,
    // while this one is bounded at queries x query_terms x 32
    "q_pdf_pipeline_champion" -> ((s, dir) => {
      import graft.ops.Lexical
      val parsed = parsedPdfs(s, dir)
      val corpus = parsed.filter(col("doc_id") % 97 =!= 0)
      val queries = lexQueries(parsed)
      val out = Lexical.topKDocs(corpus, "doc_id", "text", queries, "q_id", "q_text",
        k = 10, championSize = 32)
        .orderBy("q_id", "rank")
      parsed.unpersist(false)
      out
    }),

    // exact distributed quantiles of the doc-length distribution:
    // value-histogram + two-level cumulative count (shuffle carries
    // distinct values, not rows; no global sort/window), integer
    // rank semantics ceil(pct*n/100) — unlike approx_percentile this
    // replays exactly
    "q_quantiles" -> ((s, dir) =>
      graft.ops.Corpus.exactQuantiles(t(s, dir, "documents"), "n_chars",
        Seq(1, 10, 25, 50, 75, 90, 99))
        .orderBy("pct")),

    // weighted Poisson sampling: inclusion probability min(1, k*w/W)
    // with w = n_chars — integer arithmetic end to end (20-bit
    // md5-uniform), so a SAMPLING operator gates bit-for-bit
    "q_weighted_sample" -> ((s, dir) =>
      graft.ops.Corpus.weightedPoissonSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", expectedK = 500)
        .orderBy("doc_id")),

    // the corpus report: one row per language — doc/token counts, exact
    // median length, and the integer HLL register sum (the vocabulary
    // sketch's exact fingerprint; the float estimate derives from the
    // registers and is spec-tested, not hashed)
    "q_corpus_report" -> ((s, dir) => {
      import graft.ops.Corpus
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val medians = Corpus.exactQuantilesBy(docs, "lang", "n_chars", Seq(50))
        .select(col("lang"), col("value").as("p50_chars"))
      val vocab = Corpus.hllRegistersBy(docs, "lang", "text", p = 8)
        .groupBy(col("lang")).agg(sum(col("max_rho")).as("vocab_rho_sum"))
      counts.join(medians, Seq("lang")).join(vocab, Seq("lang"))
        .orderBy("lang")
    }),

    // grouped corpus stats: per-language length quantiles and
    // per-language HLL vocabulary registers (the standard corpus report,
    // group key riding the same machinery)
    "q_quantiles_by" -> ((s, dir) =>
      graft.ops.Corpus.exactQuantilesBy(t(s, dir, "documents"), "lang", "n_chars",
        Seq(10, 50, 90))
        .orderBy("lang", "pct")),

    "q_vocab_by" -> ((s, dir) =>
      graft.ops.Corpus.hllRegistersBy(t(s, dir, "documents"), "lang", "text", p = 8)
        .orderBy("lang", "register")),

    // Z-order (Morton) layout key: 16-bit min/max quantization of
    // (user_id, event_id) bit-interleaved into one BIGINT — the layout
    // pass range-partitions and sorts by it (ZOrderSpec pins disjoint
    // per-file ranges); the contract gates the integer curve itself
    "q_zorder" -> ((s, dir) =>
      graft.core.ZOrder.withZValue(t(s, dir, "events"), Seq("user_id", "event_id"), bits = 16)
        .select(col("event_id"), col("z_value"))
        .orderBy("event_id")),

    // HyperLogLog vocabulary sketch: 1024 registers of max lowest-set-bit
    // position over the 60-bit md5 token-hash stream — the constant-size
    // distinct-count companion to the CMS frequency sketch; every
    // register (including untouched ones) replays exactly
    "q_hll_vocab" -> ((s, dir) =>
      graft.ops.Corpus.hllRegisters(t(s, dir, "documents"), "text", p = 10)
        .orderBy("register")),

    // quantized tf-idf lexical retrieval: 6-word queries from the doc_id
    // % 97 slice against the rest of the corpus, integer score
    // sum(qtf * tf * idf_bits), k-bounded top-10 per query
    "q_lexical_topk" -> ((s, dir) => {
      import graft.ops.Lexical
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val queries = lexQueries(docs)
      Lexical.topKDocs(corpus, "doc_id", "text", queries, "q_id", "q_text", k = 10)
        .orderBy("q_id", "rank")
    }),

    // the lexical SCALE path: champion lists — each term's posting list
    // truncated to its 32 highest-tf docs by a per-TERM k-bounded
    // reduction before scoring, so the scored space is queries x
    // query_terms x 32 regardless of corpus size (the exhaustive branch
    // grows with queries x postings and dies at sf10)
    "q_lexical_champion" -> ((s, dir) => {
      import graft.ops.Lexical
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val queries = lexQueries(docs)
      Lexical.topKDocs(corpus, "doc_id", "text", queries, "q_id", "q_text",
        k = 10, championSize = 32)
        .orderBy("q_id", "rank")
    }),

    // persisted inverted index: build on the base corpus, append a
    // planted batch (pending rows, candidates until optimize), search —
    // prefix queries hit base champions, the zzfresh query proves
    // appended docs are retrievable immediately with union-corpus idf
    "q_lexical_index" -> ((s, dir) => {
      import graft.ops.Lexical
      val root = java.nio.file.Files.createTempDirectory("graft_lexidx").toString
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 97 =!= 0).select("doc_id", "text")
      val batch = docs.filter(col("doc_id") % 500 === 7)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("zzfresh "), col("text")).as("text"))
      Lexical.Index.build(base, "doc_id", "text", s"$root/idx", championSize = 32)
      Lexical.Index.append(batch, "doc_id", "text", s"$root/idx", appendId = 0L)
      val queries = lexQueries(docs)
        .unionByName(s.createDataFrame(Seq((9999999L, "zzfresh"))).toDF("q_id", "q_text"))
      Lexical.Index.search(s, s"$root/idx", queries, "q_id", "q_text", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),

    // hybrid retrieval: Borda fusion of the dense ANN ranking (hashed-BoW
    // embed + brute cosine, the q_embed_ann mechanics) with the sparse
    // tf-idf ranking over the SAME %100 query/corpus split — the
    // standard two-tower + keyword union, rank-only and integer-exact
    "q_hybrid_rank" -> ((s, dir) => {
      import graft.ops.{Embedding, Lexical}
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (qv, cv) = embedSides(emb)
      val ann = Similarity.bruteForceTopK(cv, qv, "n_id", "n_vec", "q_id", "q_vec", k = 5)
        .select(col("q_id"), col("n_id"), col("rank"))
      val lex = Lexical.topKDocs(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("q_id"), col("text").as("q_text")),
        "q_id", "q_text", k = 5)
        .select(col("q_id"), col("doc_id").as("n_id"), col("rank"))
      Lexical.bordaFuse(Seq(ann, lex), "q_id", "n_id", "rank", k = 5)
        .orderBy("q_id", "rank")
    }),

    // the SCALE-path hybrid: same %100 split and Borda fusion, but each
    // tower runs its bounded index branch — dense via the fixed-centroid
    // IVF probe (cell equi-join, never all-pairs; the q_embed_ivf
    // mechanics) and sparse via champion-list nomination (each term's
    // posting list truncated to its 32 highest-tf docs for candidate
    // NOMINATION, every candidate scored exactly). The exhaustive hybrid
    // above is quadratic on BOTH towers by design (its contract baseline)
    // and exceeds local disk at sf10; this is the composition that
    // survives, and it stays integer/binary-fraction exact so the full
    // lifecycle replays bit-for-bit in SQL.
    "q_hybrid_rank_scale" -> ((s, dir) => {
      import graft.ops.{Embedding, Lexical}
      val docs = t(s, dir, "documents")
      val emb = embedded(s, docs)
      val (qv, cv) = embedSides(emb)
      val ann = Similarity.ivfTopK(cv, qv, "n_id", "n_vec", "q_id", "q_vec",
        signCentroids, nProbe = 2, k = 5)
        .select(col("q_id"), col("n_id"), col("rank"))
      val lex = Lexical.topKDocs(
        docs.filter(col("doc_id") % 100 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("q_id"), col("text").as("q_text")),
        "q_id", "q_text", k = 5, championSize = 32)
        .select(col("q_id"), col("doc_id").as("n_id"), col("rank"))
      Lexical.bordaFuse(Seq(ann, lex), "q_id", "n_id", "rank", k = 5)
        .orderBy("q_id", "rank")
    }),

    // DSIR importance resampling: hashed-unigram 512-bucket cost tables
    // (quantized whole-bit, like the perplexity LM) for the doc_id%7
    // target slice vs the raw pool; top-500 pool docs by integer
    // importance weight sum(bits_raw - bits_target)
    "q_dsir_sample" -> ((s, dir) => {
      import graft.ops.Dsir
      val docs = t(s, dir, "documents")
      val target = docs.filter(col("doc_id") % 7 === 0)
      val pool = docs.filter(col("doc_id") % 7 =!= 0)
      Dsir.importanceSelect(pool, "doc_id", "text", target, buckets = 512, k = 500)
        .orderBy(col("weight_bits").desc, col("doc_id"))
    }),

    // language-ID heuristic: marker scores + argmax
    "q_langid" -> ((s, dir) => {
      val scores = TextAnalysis.langScores(col("text"))
      val cols = col("doc_id") +:
        (scores.map { case (n, c) => c.cast("long").as(n) } :+
          TextAnalysis.predictLang(col("text")).as("predicted"))
      t(s, dir, "documents").select(cols: _*).orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish regex
    "q_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.wordCount(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("bpe_tokens"),
        )
        .orderBy("doc_id")
    }),

    // document fingerprinting
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          length(col("text")).cast("long").as("n_chars"),
        )
        .orderBy("doc_id")
    }),

    // SCD2 snapshot merge: two snapshot applications (events cut at 5000,
    // then all) — unchanged rows ride, changed close+reopen, departures
    // close, arrivals open; full validity-window table oracle-recomputed
    "q_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def latest(df: DataFrame) = {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"), col("event_id"), col("value"))
      }
      val ev = t(s, dir, "events")
      val t1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
      val t2 = java.sql.Timestamp.valueOf("2024-07-01 00:00:00")
      val day1 = MergeEngine.scd2Apply(None, latest(ev.filter(col("event_id") < 5000)), Seq("user_id"), t1)
      val day2 = MergeEngine.scd2Apply(Some(day1), latest(ev), Seq("user_id"), t2)
      day2.select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("_valid_from")).as("vf_us"), unix_micros(col("_valid_to")).as("vt_us"))
        .orderBy("user_id", "vf_us", "event_id")
    }),

    // the composed corpus-construction pipeline — quality filter → exact
    // fingerprint dedup → eval decontamination → per-language quota →
    // context-window packing — every stage oracle-recomputed in one SQL
    "q_corpus_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.ops.Corpus
      val docs = t(s, dir, "documents")
      val ev = docs.filter(col("doc_id") % 97 === 0)
      val pool0 = docs.filter(col("doc_id") % 97 =!= 0)
        .filter(TextAnalysis.wordCount(col("text")) >= 50)
      val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      val pool1 = pool0.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__fp", "__rn")
      val contaminated = Corpus.contamination(pool1, ev, "doc_id", "text", n = 8, hashFn = md5)
        .filter(col("n_contaminated") > 0).select("doc_id")
      val clean = pool1.join(contaminated, Seq("doc_id"), "left_anti")
      val sampled = Corpus.stratifiedExact(clean, "lang", "doc_id", perStratum = 30,
        orderBy = Some(md5(col("doc_id").cast("string"))))
      Corpus.packSequences(sampled.select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", budget = 8192L, packKey = Some("lang"))
        .select(col("doc_id"), col("lang"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // the FULL curation DAG — the end-to-end 100 TB training-data shape,
    // every round-7 op composed into one flow: gopher quality gate →
    // corpus line dedup (drop docs left under 30 surviving words) →
    // minhash-LSH near-dup (drop the larger id of each verified pair) →
    // capped semantic dedup (cell cap 60 — the sub-split defense runs
    // INSIDE the composition) → Bloom decontamination vs the held-out
    // eval slice → domain-mix acceptance coins → per-language packing.
    // Each stage consumes the survivor set of the previous one, so cap
    // interactions (LSH bucket cap feeding the semantic cell cap,
    // Bloom FPs shrinking the mix pool) surface here, and the single
    // oracle SQL replays all seven stages bit-for-bit.
    "q_curation_pipeline" -> ((s, dir) => {
      import graft.ops.Corpus
      val docs = t(s, dir, "documents")
      val ev = docs.filter(col("doc_id") % 97 === 0)
      val pool = docs.filter(col("doc_id") % 97 =!= 0)
        .select("doc_id", "lang", "source", "text", "n_chars")
      // each stage frame is materialized once (eager localCheckpoint —
      // the Spark twin of the oracle's MATERIALIZED CTEs): every stage
      // feeds at least two downstream consumers, and without the
      // checkpoint each branch re-executes the whole upstream DAG
      // (measured 21.7 s -> the checkpointed plan at sf0.1)
      // 1. quality gate
      val s1 = TextAnalysis.gopherFilter(pool, "text")
        .filter(col("pass") === 1)
        .select(pool.columns.map(col): _*)
        .localCheckpoint(true)
      // 2. corpus-wide line dedup at 10-word-chunk granularity (the
      // synthetic docs carry no newlines, and word granularity would
      // annihilate a shared-vocabulary corpus — chunks are the honest
      // boilerplate unit here); docs keeping under 3 first-occurrence
      // chunks drop
      val ws = split(col("text"), " ")
      val lined = concat_ws("\n", transform(
        sequence(lit(0), ceil(size(ws) / lit(10.0)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * 10 + 1, lit(10)))))
      val keptCounts = Dedup.dedupLines(
        s1.select(col("doc_id"), lined.as("text")), "doc_id", "text", sep = "\n")
        .filter(col("n_kept") >= 3).select("doc_id")
      val s2 = s1.join(keptCounts, Seq("doc_id")).localCheckpoint(true)
      // 3. near-dup: verified LSH pairs, larger id drops. 0.95 because
      // the synthetic corpus shares one tiny vocabulary — distinct-word
      // Jaccard saturates, and 0.8 would flag most pairs as dups
      val ndPairs = Dedup.nearDupPairs(s2, "doc_id", "text",
        numHashes = 4, rowsPerBand = 2, threshold = 0.95)
      val s3 = s2.join(ndPairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // 4. capped semantic dedup over the survivors' embeddings
      val emb = embedded(s, s3)
      // 0.875 = 7/8, threshold² = 49/64 — still a binary fraction, so
      // the drop decision stays oracle-exact; 0.75 saturates here for
      // the same shared-vocabulary reason as the Jaccard stage
      val semKept = graft.ops.Dedup.semanticDedup(emb, "doc_id", "embedding", signCentroids,
        threshold = 0.875, maxCellSize = 60)
        .filter(col("kept") === 1).select("doc_id")
      val s4 = s3.join(semKept, Seq("doc_id")).localCheckpoint(true)
      // 5. Bloom decontamination vs the eval slice
      val cleanIds = Corpus.bloomContamination(s4, ev, "doc_id", "text", n = 8,
        mBits = 1 << 16, k = 3)
        .filter(col("n_contaminated") === 0).select("doc_id")
      val s5 = s4.join(cleanIds, Seq("doc_id")).localCheckpoint(true)
      // 6. domain mix, 7. pack
      val s6 = Corpus.mixDomains(s5, "source", "doc_id",
        Map("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.15, "src3" -> 0.125,
          "src4" -> 0.125, "src5" -> 0.1, "src6" -> 0.1, "src7" -> 0.05),
        totalRows = 120L, seed = "cur")
      Corpus.packSequences(s6.select("doc_id", "lang", "source", "n_chars"),
        "doc_id", "n_chars", budget = 8192L, packKey = Some("lang"))
        .select(col("doc_id"), col("lang"), col("source"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // batch sessionization: 30-min inactivity gap per user, one keyed
    // window shuffle (batch twin of EventStreams.sessionize)
    "q_sessionize_batch" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") < 5000)
        .select("event_id", "user_id", "ts")
      graft.ops.Temporal.sessionize(ev, "user_id", "ts", gapMs = 1800000L)
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")
    }),

    // as-of join: latest order at-or-before each event for that customer,
    // via the union-sort trick (one shuffle on the key, no range probe)
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").cast("timestamp").as("ots"))
        .agg(max("o_orderkey").as("o_orderkey"))
      graft.ops.Temporal.asofJoin(ev, ord, "user_id", "ts", "ots", Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy("event_id")
    }),

    // corpus construction: exact per-language quota sample. The order key
    // is md5(id) so DuckDB computes the identical permutation (xxhash64 is
    // the scale default but has no oracle twin)
    "q_sample_stratified" -> ((s, dir) => {
      graft.ops.Corpus.stratifiedExact(
        t(s, dir, "documents"), "lang", "doc_id", perStratum = 40,
        orderBy = Some(md5(col("doc_id").cast("string"))))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // context-window packing: per-language offset packing into 4096-token
    // bins via ONE window cumsum (documents never split)
    "q_pack_sequences" -> ((s, dir) => {
      graft.ops.Corpus.packSequences(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", budget = 4096L, packKey = Some("lang"))
        .select(col("doc_id"), col("lang"), col("pack_id"))
        .orderBy("doc_id")
    }),

    // train/eval decontamination: word-8-gram overlap against a held-out
    // eval slice; md5 n-gram keys so the oracle joins identical hashes
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ev = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.ops.Corpus.contamination(train, ev, "doc_id", "text", n = 8, hashFn = md5)
        .orderBy("doc_id")
    }),

    // Bloom-variant decontamination: the same train/eval split probed
    // against a 64 Kbit Bloom bitmap (k=3 salted-md5 positions, ~20% fill
    // at sf0.1 so real false positives are exercised). The constant-size
    // bitmap broadcast is the 100 TB path when the eval/blocklist side
    // outgrows contamination's count-gated gram broadcast; over-counting
    // is the Bloom FP rate, replayed bit-exactly by the oracle's
    // set-bit join.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ev = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      graft.ops.Corpus.bloomContamination(train, ev, "doc_id", "text", n = 8,
        mBits = 1 << 16, k = 3)
        .orderBy("doc_id")
    }),

    // Count-Min-Sketch token frequencies: probe-side tokens estimated
    // from a fixed-memory 3×1024 sketch of the corpus token stream —
    // constant-size broadcast where the exact frequency table is
    // corpus-sized. Estimates only over-count; with the narrow width the
    // collision path is genuinely exercised, and every collision replays
    // exactly in the oracle's (row, position) count join, so the sketch
    // gates bit-for-bit (est vs true_cnt gap = measured sketch error).
    "q_token_sketch" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Corpus.cmsTokenCounts(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "text", width = 1024, depth = 3)
        .orderBy("token")
    }),

    // multimodal: binary column + typed metadata struct
    "q_multimodal_meta" -> ((s, dir) => {
      val withBin = t(s, dir, "documents").withColumn("content", col("text").cast(BinaryType))
      Multimodal.withMediaMeta(withBin, "content", "text", "utf8")
        .select(
          col("doc_id"),
          col("content_meta.n_bytes").as("n_bytes"),
          col("content_meta.sha").as("sha"),
        )
        .orderBy("doc_id")
    }),

    // multimodal decode plumbing: mapPartitions feature extraction over
    // binary blobs (kernel is a deterministic stub; no SQL oracle)
    "q_multimodal_decode" -> ((s, dir) => {
      val withBin = t(s, dir, "documents").withColumn("content", col("text").cast(BinaryType))
      Multimodal.decodeFeatures(withBin, "doc_id", "content")
        .toDF()
        .select(col("id"), col("n_bytes"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_frames").cast("long").as("n_frames"))
        .orderBy("id")
    }),

    // §2.7 custom-field rename + enum decode via the stateful mapping op
    "q_custom_fields" -> ((s, dir) => {
      import graft.connectors.transforms.CustomFields
      val mapping = Map("hash_abc" -> CustomFields.FieldDef(
        "hash_abc", "Event Label", "enum",
        Map("click" -> "Clicked", "view" -> "Seen", "error" -> "Failed")))
      val df = t(s, dir, "events").select(col("event_type").as("hash_abc"))
      CustomFields.applyMapping(df, mapping)
        .groupBy("event_label").agg(count(lit(1)).as("n"))
        .orderBy("event_label")
    }),

    // §2.6 hubspot stage pivot: wide date_entered_* columns melted long
    "q_stage_pivot" -> ((s, dir) => {
      import graft.connectors.transforms.RowShapes
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = t(s, dir, "events")
        .groupBy("user_id").pivot("event_type", types).agg(min(col("ts")))
      val prefixed = types.foldLeft(wide)((acc, c) => acc.withColumnRenamed(c, s"date_entered_$c"))
      RowShapes.pivotStages(prefixed, "user_id", "date_entered_")
        .select(col("user_id"), col("stage"), tsMicros(col("entered_at")).as("entered_us"))
        .orderBy("user_id", "stage")
    }),

    // §2.6 zendesk process_ticket: {id,value} field array → named columns
    "q_field_pivot" -> ((s, dir) => {
      import graft.connectors.transforms.RowShapes
      val withFields = t(s, dir, "events").select(
        col("event_id"),
        array(
          struct(lit("val").as("id"), col("value").cast("string").as("value")),
          struct(lit("type").as("id"), col("event_type").as("value")),
        ).as("fields"),
      )
      RowShapes.pivotCustomFields(withFields, "fields", Map("val" -> "value_s", "type" -> "etype"))
        .orderBy("event_id")
    }),

    // §2.6 pipedrive group_deal_flows: heterogeneous flow rows routed by
    // object type with flattened data + timestamp
    "q_deal_flows" -> ((s, dir) => {
      import graft.connectors.transforms.RowShapes
      val flows = t(s, dir, "events").select(
        col("event_type").as("object"),
        struct(col("event_id"), col("value")).as("data"),
        col("ts"),
      )
      RowShapes.groupDealFlows(flows, "object", "data", "ts")
        .select(col("_table"), col("event_id"), col("value"), tsMicros(col("timestamp")).as("ts_us"))
        .orderBy("event_id")
    }),

    // §2.6 hubspot association dedup
    "q_assoc_dedup" -> ((s, dir) => {
      import graft.connectors.transforms.RowShapes
      RowShapes.dedupAssociations(t(s, dir, "events"), "user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    // §2.6 hubspot property-history explode: map<prop → entries[]> → rows
    "q_property_history" -> ((s, dir) => {
      import graft.connectors.transforms.RowShapes
      val entries = t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(sort_array(collect_list(struct(col("event_id").as("event_id"), tsMicros(col("ts")).as("ts_us")))).as("entries"))
      val hist = entries.groupBy("user_id")
        .agg(map_from_entries(collect_list(struct(col("event_type"), col("entries")))).as("hist"))
      RowShapes.explodePropertyHistory(hist, "user_id", "hist")
        .orderBy("object_id", "property_name", "event_id")
    }),

    // embedding-cosine near-duplicate pairs on a sign-LSH bucketed pair
    // space: the 4 leading sign bits of the embedding partition the join
    // into 16 buckets, so it plans as an equi hash join, never an all-pairs
    // nested loop (norms still precomputed per side: O(n) norms, pair dots
    // only within buckets)
    "q_dedup_cosine" -> ((s, dir) => {
      val signBucket = (0 until 4).map(i =>
        when(element_at(col("embedding"), i + 1) >= lit(0f), lit(1 << i)).otherwise(lit(0)))
        .reduce(_ + _)
      val d = t(s, dir, "embeddings").filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("embedding"),
          graft.ops.Similarity.norm(col("embedding")).as("nrm"), signBucket.as("bkt"))
      val a = d.select(col("vec_id").as("id_a"), col("embedding").as("v_a"), col("nrm").as("n_a"), col("bkt").as("bkt_a"))
      val b = d.select(col("vec_id").as("id_b"), col("embedding").as("v_b"), col("nrm").as("n_b"), col("bkt").as("bkt_b"))
      graft.ops.Dedup.cosineNearDupsPrenormed(
        a.join(b, col("bkt_a") === col("bkt_b") && col("id_a") < col("id_b")),
        "v_a", "v_b", "n_a", "n_b", threshold = 0.2)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // ---- connector-layer end-to-end (SURVEY §2.1/§3) ----

    // CDC: events → pgoutput binary frames → decode → consume (txn
    // boundaries) → typed rows → merge with lsn-dedup + hard delete.
    // 'error' events are emitted as key-only Deletes; latest lsn wins.
    "q_cdc_pipeline" -> ((s, dir) => {
      import graft.connectors.cdc.PgOutput.Encode
      val ts0 = 1700000000000000L
      val frames: Seq[(Long, Array[Byte])] =
        Seq((0L, Encode.relation(accountsRel))) ++
          cdcEvents(s, dir, 2000).toSeq.zipWithIndex.flatMap { case (r, i) =>
            val lsn = r.getLong(0)
            val base = 10L * lsn
            Seq(
              (base, Encode.begin(base + 2, ts0, i)),
              (lsn, cdcDml(r)),
              (base + 2, Encode.commit(base + 2, base + 3, ts0)),
            )
          }
      mergedAccounts(s, frames)
    }),

    // CDC poll loop end-to-end: events arrive at a canned "slot" in 5
    // waves; each poll round peeks the slot head, consumes completed
    // txns past the committed cursor, merges into the stored parquet
    // table, commits the cursor, then advances the slot (the reference's
    // get_max_lsn → consume → load → advance_slot round). The final
    // table is the same surviving set as a single-shot load — the oracle
    // recomputes it
    "q_cdc_poll" -> ((s, dir) => {
      import graft.connectors.cdc.Replication
      import graft.connectors.cdc.PgOutput.Encode
      val ev = cdcEvents(s, dir, 2500)
      val ts0 = 1700000000000000L
      // one txn per row at monotone frame lsns (10e .. 10e+2), waved by
      // event_id range so the slot drains over multiple poll rounds
      val waves: Seq[Seq[(Long, Array[Byte])]] = ev.toSeq.zipWithIndex
        .groupBy(_._1.getLong(0) / 500).toSeq.sortBy(_._1).map { case (_, rows) =>
          rows.flatMap { case (r, i) =>
            val e = r.getLong(0)
            Seq(
              (10 * e, Encode.begin(10 * e + 2, ts0, i)),
              (10 * e + 1, cdcDml(r)),
              (10 * e + 2, Encode.commit(10 * e + 2, 10 * e + 3, ts0)),
            )
          }
        }
      val meta = Seq(Encode.relation(accountsRel))
      val source = new Replication.FrameSource {
        private var wave = 0
        private var flushed = 0L
        private def pending = waves.take(wave + 1).flatten.filter(_._1 > flushed)
        override def peekMaxLsn(): Option[Long] = pending.map(_._1).maxOption
        override def frames(start: Long, upto: Long): Iterator[(Long, Array[Byte])] =
          (meta.map(m => (0L, m)) ++ pending.filter(f => f._1 > start && f._1 <= upto)).iterator
        override def advance(upto: Long): Unit = { flushed = math.max(flushed, upto); wave += 1 }
      }
      val stateDir = java.nio.file.Files.createTempDirectory("graft_cdc_poll")
      val state = new StateStore(stateDir.resolve("state.json"))
      val destRoot = stateDir.resolve("tables").toString
      val rounds = Replication.pollUntilEmpty(s, source, state, destRoot)
      require(rounds.size == waves.size, s"expected ${waves.size} poll rounds, got ${rounds.size}")
      s.read.parquet(s"$destRoot/accounts")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    }),

    // CDC protocol v2 streamed transactions: events delivered as large
    // in-progress txns (two interleaved segments each, one txn in 7
    // ABORTED) → decode → merge. The oracle recomputes the surviving set.
    "q_cdc_stream" -> ((s, dir) => {
      import graft.connectors.cdc.PgOutput.Encode
      val ts0 = 1700000000000000L
      def dml(r: org.apache.spark.sql.Row, xid: Int): (Long, Array[Byte]) =
        (r.getLong(0), Encode.streamed(xid, cdcDml(r)))
      val groups = cdcEvents(s, dir, 2000).toSeq.groupBy(_.getLong(0) / 50).toSeq.sortBy(_._1)
      val frames: Seq[(Long, Array[Byte])] =
        Seq((0L, Encode.relation(accountsRel))) ++ groups.flatMap { case (g, rows) =>
          val xid = (g + 1).toInt
          val base = 100000L + g * 1000L
          val (evens, odds) = rows.partition(_.getLong(0) % 2 == 0)
          val seg1 = Seq((base, Encode.streamStart(xid))) ++
            evens.map(dml(_, xid)) ++ Seq((base + 1, Encode.streamStop()))
          val seg2 = Seq((base + 2, Encode.streamStart(xid, firstSegment = false))) ++
            odds.map(dml(_, xid)) ++ Seq((base + 3, Encode.streamStop()))
          val fin =
            if (g % 7 == 3) Seq((base + 4, Encode.streamAbort(xid, xid)))
            else Seq((base + 4, Encode.streamCommit(xid, base + 4, base + 5, ts0)))
          seg1 ++ seg2 ++ fin
        }
      mergedAccounts(s, frames)
    }),

    // queue micro-batch reader: events routed to partitions by user_id%4,
    // payload = props JSON; envelope + offset plan verified via aggregates
    "q_queue_pipeline" -> ((s, dir) => {
      import graft.connectors.streams.{InMemoryBroker, QueueReader}
      val ev = t(s, dir, "events").filter(col("event_id") < 3000)
        .select("event_id", "user_id", "props").orderBy("event_id").collect()
      val byPart: Map[Int, Seq[String]] = ev.toSeq
        .groupBy(r => (r.getLong(1) % 4).toInt)
        .map { case (p, rows) => p -> rows.map(_.getString(2)) }
      val state = new StateStore(java.nio.file.Files.createTempDirectory("graft_q").resolve("s.json"))
      val (df, _) = QueueReader.readBatch(s, InMemoryBroker(byPart), "events", state, maxPerPartition = Int.MaxValue)
      df.groupBy(col("_queue_partition"))
        .agg(
          count(lit(1)).as("n"),
          max(get_json_object(col("data"), "$.k").cast("long")).as("max_k"),
        )
        .orderBy("_queue_partition")
    }),

    // §2.1 row 2 (mongodb): DSv2 document scan with range-filter and
    // projection pushdown into the store, chunked into parallel splits;
    // the canned store is fed from the documents table so DuckDB can
    // replay the same filter
    "q_doc_pushdown" -> ((s, dir) => {
      import graft.connectors.db.{DocumentSource, DocumentStores}
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect()
      val json: Seq[(Long, String)] = docs.toSeq.map { r =>
        r.getLong(0) ->
          s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","n_chars":${r.getLong(2)}}"""
      }
      val store = new DocumentSource.DocumentStore {
        private def matching(f: Map[String, String]) = json.filter { case (id, _) =>
          f.forall {
            case ("doc_id.eq", v)  => id == v.toLong
            case ("doc_id.gt", v)  => id > v.toLong
            case ("doc_id.gte", v) => id >= v.toLong
            case ("doc_id.lt", v)  => id < v.toLong
            case ("doc_id.lte", v) => id <= v.toLong
            case _                 => true
          }
        }
        override def count(c: String, f: Map[String, String]): Long = matching(f).size.toLong
        override def scan(c: String, f: Map[String, String], skip: Long, limit: Long,
            proj: Seq[String]): Iterator[String] =
          matching(f).slice(skip.toInt, (skip + limit).toInt).iterator.map(_._2)
      }
      DocumentStores.register("verify_docs", store)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      s.read.format("graft-docs").schema(schema)
        .option("store", "verify_docs").option("collection", "documents")
        .option("chunkSize", "64")
        .load()
        .filter(col("doc_id") >= 40 && col("doc_id") < 400)
        .transform(langTotals)
    }),

    // §2.1 rows 8-35 capstone: a Fleet connector config (github) drives
    // the REST engine against canned paginated pages, flows through the
    // pipeline driver (normalize → child tables → merge disposition), and
    // the LANDED parquet tables — root joined to the exploded labels child
    // on _dlt_id — must aggregate to what DuckDB computes from the source
    "q_fleet_pipeline" -> ((s, dir) => {
      val src = graft.connectors.sources.Fleet.github("octo", "repo", None)
      landedIssueLabels(s, src, StaticPagesTransport(pageNumberPages(issueChunks(s, dir))), "gh")
    }),

    // config-as-data capstone (the reference's RESTAPIConfig dialect,
    // sources/pipedrive/rest_v2/__init__.py:96-168): the SAME github
    // source as q_fleet_pipeline arrives as a JSON DOCUMENT, is parsed by
    // RestConfig.fromJson, and must land tables hash-identical to the
    // hand-built config's oracle — a user ships a config document, not code
    "q_fleet_config" -> ((s, dir) => {
      val paginator = """{"type": "page_number", "size_param": "per_page", "page_size": 100}"""
      landedIssueLabels(s, githubIssuesConfig(Some(paginator)),
        StaticPagesTransport(pageNumberPages(issueChunks(s, dir))), "ghcfg")
    }),

    // RFC 5988 header_link pagination end-to-end (GitHub's ACTUAL protocol:
    // page links live in the Link RESPONSE header, not the body): the same
    // github source as q_fleet_config arrives as a config DOCUMENT naming
    // "paginator": "header_link", pages chain via Link rel="next" headers,
    // and the landed root+child tables must hash-match the same oracle —
    // proving the header-borne protocol changes HOW pages are fetched, not
    // WHAT lands (reference: dlt rest_api's header_link paginator, the
    // cursor sibling at sources/pipedrive/rest_v2/__init__.py:158-162)
    "q_fleet_header_link" -> ((s, dir) => {
      landedIssueLabels(s, githubIssuesConfig(Some("\"header_link\"")),
        headerLinkTransport(issueChunks(s, dir)), "ghlink")
    }),

    // training-corpus PII scrubbing: deterministic emails/phones/IPs are
    // auto paginator detection end-to-end (dlt's default when a config
    // OMITS the paginator key): the q_fleet_header_link pipeline with NO
    // paginator declared anywhere — the engine probes the first response
    // (array body, no next-link keys) and resolves header_link from the
    // Link rel=next header, then lands tables hash-identical to the same
    // oracle. A user porting a paginator-less dlt config gets detection,
    // not silent single-page truncation
    "q_fleet_auto" -> ((s, dir) => {
      // NOTE: no "paginator" key at ANY level — this is the contract
      val src = githubIssuesConfig(None)
      require(src.resources.find(_.name == "issues").get.endpoint.paginator ==
        RestEngine.Paginator.Auto, "a paginator-less config must carry Auto into the engine")
      landedIssueLabels(s, src, headerLinkTransport(issueChunks(s, dir)), "ghauto")
    }),

    // injected into each document and the codegen'd regexp passes must
    // count and redact them exactly as DuckDB's RE2 replays of the same
    // patterns (the patterns are deliberately RE2-compatible)
    "q_redact" -> ((s, dir) => {
      import graft.ops.TextAnalysis
      val injected = t(s, dir, "documents")
        .withColumn("txt", concat_ws("",
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@corp.example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
      val counts = TextAnalysis.piiCounts(col("txt")).map { case (n, c) => c.as(n) }
      injected.select(
        Seq(col("doc_id")) ++ counts ++
          Seq(length(TextAnalysis.redactPii(col("txt"))).cast("long").as("red_len")): _*)
        .orderBy("doc_id")
    }),

    // gopher-style repetition signals: duplicate-word and duplicate-3-gram
    // counts per document, pure HOFs (no shuffle, no UDF), oracle =
    // DuckDB list functions recomputing the same integers
    "q_repetition" -> ((s, dir) => {
      import graft.ops.TextAnalysis
      val stats = TextAnalysis.repetitionStats(col("text")).map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select(Seq(col("doc_id")) ++ stats: _*)
        .orderBy("doc_id")
    }),

    // §2.1 row 15 (salesforce): bulk-vs-REST datetime unification — bulk
    // rows arrive as epoch-millis digit strings, REST rows as ISO strings;
    // normalizeDatetime must map both onto the same timeline (grouped per
    // day, the oracle recomputes from the raw timestamps)
    "q_soql_unify" -> ((s, dir) => {
      import graft.connectors.sources.Specialized.Soql
      val ev = t(s, dir, "events").filter(col("event_id") < 3000)
      val raw = ev.select(col("event_id"),
        when(col("event_id") % 2 === 0,
          (tsMicros(col("ts")) / 1000).cast("long").cast("string"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS")).as("created_raw"))
      raw.select(col("event_id"), Soql.normalizeDatetime(col("created_raw")).as("created"))
        .groupBy(to_date(col("created")).as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_ids"))
        .orderBy("day")
    }),

    // §2.1 row 13 (google_analytics): report-value typing — the canned GA
    // report carries yyyyMMdd date dimensions and stringly metrics
    // (TYPE_INTEGER / TYPE_FLOAT); dimensionColumn + metricColumn type
    // them and the monthly rollup must match DuckDB aggregating the raw
    // events directly
    "q_ga_report" -> ((s, dir) => {
      import graft.connectors.sources.Specialized.GA
      val report = t(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyyMMdd").as("date_str"), col("event_type"))
        .agg(
          count(lit(1)).cast("string").as("views_raw"),
          sum(col("value").cast(dec18_2)).cast("string").as("rate_raw"),
        )
      report.select(
        GA.dimensionColumn(col("date_str"), "date").as("d"),
        GA.metricColumn(col("views_raw"), "TYPE_INTEGER").as("views"),
        GA.metricColumn(col("rate_raw"), "TYPE_FLOAT").as("rate"),
      )
        .groupBy(trunc(col("d"), "month").as("month"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("views")).as("sum_views"),
          sum(col("rate").cast(dec18_2)).cast("double").as("sum_rate"),
        )
        .orderBy("month")
    }),

    // §2.1 row 24 (stripe): the JSONPath tail-cursor paginator — each next
    // page keys on the LAST id of the previous page (data[-1:].id →
    // starting_after), terminating on an empty page; customers land via
    // the Fleet config and aggregate per market segment
    "q_stripe_cursor" -> ((s, dir) => {
      import graft.connectors.sources.Fleet
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey").collect()
      def item(r: org.apache.spark.sql.Row) =
        s"""{"id":"cus_${r.getLong(0)}","nation":${r.getInt(1)},"acctbal":${r.getDouble(2)},"segment":"${r.getString(3)}"}"""
      val chunks = cust.toSeq.grouped(100).toSeq
      val pages = chunks.zipWithIndex.map { case (chunk, i) =>
        val key = if (i == 0) "v1/customers?limit=100"
          else s"v1/customers?limit=100&starting_after=cus_${chunks(i - 1).last.getLong(0)}"
        key -> s"""{"data":[${chunk.map(item).mkString(",")}],"has_more":${i < chunks.size - 1}}"""
      }.toMap +
        (s"v1/customers?limit=100&starting_after=cus_${chunks.last.last.getLong(0)}" ->
          """{"data":[],"has_more":false}""")
      val src = Fleet.stripe("sk_fixture")
      val customers = src.resources.find(_.name == "customer").get
      RestEngine.readResource(s, src, customers, StaticPagesTransport(pages))
        .groupBy(col("segment").as("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("id")).as("n_ids"),
          sum(col("acctbal").cast(dec18_2)).cast("double").as("sum_bal"),
        )
        .orderBy("c_mktsegment")
    }),

    // §2.1 row 20 (facebook_ads insights): the async report-job lifecycle
    // end-to-end — per-day job SUBMIT against a canned job server, polled
    // through AsyncJobPoller's exponential backoff (virtual clock; the
    // 10 s → 20 s schedule is asserted per job), the finished reports
    // fetched through the REAL cursor paginator (paging.cursors.after,
    // 20/page, query-param auth) PARTITION-PARALLEL — one DSv2 input
    // partition per completed report (RestPagesV2.readMany, partition
    // count asserted) — and landed by pk merge on (date_start, ad_id).
    // TWO runs: run 1's reports are missing the late-attributed events
    // (event_id % 10 = 7 — conversions that settle later) and commit the
    // cursor; run 2 rewinds it 7 days (Facebook.attributionWindowStart)
    // and re-lands the trailing window from complete data. The merged
    // table must therefore hold stale partial rows ONLY for days older
    // than the attribution window — which the oracle reproduces with a
    // day-split over the raw events.
    // (sources/facebook_ads/helpers.py:134-180 job poll w/ backoff;
    //  __init__.py:120-220 per-day fan-out, union, merge on pk)
    "q_insights_jobs" -> ((s, dir) => {
      import graft.connectors.rest._
      import graft.connectors.rest.RestEngine._
      import graft.connectors.sources.Specialized.Facebook
      import java.time.LocalDate
      import s.implicits._

      // ad-insights ground truth derived from events: ad_id = user_id % 50
      val agg = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"), (col("user_id") % 50).as("ad_id"))
        .agg(
          count(lit(1)).as("impr"),
          sum(col("value").cast(dec18_2)).cast("double").as("spend"),
          count(when(col("event_id") % 10 =!= 7, 1)).as("impr_part"),
          sum(when(col("event_id") % 10 =!= 7, col("value").cast(dec18_2)))
            .cast("double").as("spend_part"),
        ).collect()
      final case class AdRow(d: LocalDate, ad: Long, impr: Long, spend: Double)
      val fullRows = agg.toSeq.map(r =>
        AdRow(r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2), r.getDouble(3)))
      val partRows = agg.toSeq.filter(_.getLong(4) > 0).map(r =>
        AdRow(r.getDate(0).toLocalDate, r.getLong(1), r.getLong(4), r.getDouble(5)))
      val d0 = LocalDate.ofEpochDay(fullRows.map(_.d.toEpochDay).min)
      val d1 = LocalDate.ofEpochDay(fullRows.map(_.d.toEpochDay).max)
      val laterOf = (a: LocalDate, b: LocalDate) => if (a.isAfter(b)) a else b
      val b = laterOf(d0, d1.minusDays(7)) // run 1 "ran" 7 days before now

      // canned async job server: submit → Pending → Running → Completed,
      // finished reports served as cursor-paged JSON. `days` is the FULL
      // polled calendar range: a day with zero events (or a run-1 day
      // whose every event settles late) serves an empty data array, not a
      // 404 — the query must not depend on the fixture having dense days.
      final class JobServer(reports: Map[LocalDate, Seq[AdRow]], days: Seq[LocalDate]) {
        private val polls = scala.collection.mutable.Map[String, Int]()
        def submit(day: LocalDate): String = s"job_$day"
        def check(jobId: String): AsyncJobPoller.JobStatus = {
          val n = polls.getOrElse(jobId, 0) + 1; polls(jobId) = n
          if (n == 1) AsyncJobPoller.Pending
          else if (n == 2) AsyncJobPoller.Running
          else AsyncJobPoller.Completed(jobId.replace("job_", "report_"))
        }
        val pages: Map[String, String] = days.flatMap { day =>
          val items = reports.getOrElse(day, Seq.empty).sortBy(_.ad).map(r =>
            s"""{"date_start":"${r.d}","ad_id":${r.ad},"impressions":${r.impr},"spend":${r.spend}}""")
          val chunks = if (items.isEmpty) Seq(Seq.empty[String]) else items.grouped(20).toSeq
          chunks.zipWithIndex.map { case (chunk, i) =>
            val cursor = if (i == 0) "" else s"&after=c$i"
            val next = if (i < chunks.size - 1)
              s""","paging":{"cursors":{"after":"c${i + 1}"}}""" else ""
            s"v19.0/report_$day/insights?access_token=tok_fixture$cursor&limit=20" ->
              s"""{"data":[${chunk.mkString(",")}]$next}"""
          }
        }.toMap
      }
      val client = ClientConfig("https://graph.facebook.com/v19.0",
        Some(Auth.QueryParam("access_token", "tok_fixture")))
      var vnow = 0L // virtual clock driven by the poller's own sleeps
      def run(server: JobServer, days: Seq[LocalDate]): DataFrame = {
        // submit ALL days first, then poll them round-robin on one shared
        // timeline (AsyncJobPoller.awaitAll): each job still sees the
        // exact await schedule — checks at 0 / 10 s / 30 s, asserted per
        // day below — but the fan-out's wall-clock is max(), not Σ,
        // asserted on the virtual clock after the poll.
        val vbase = vnow
        val checksAt = scala.collection.mutable.Map[LocalDate, List[Long]]()
        val polled = AsyncJobPoller.awaitAll(
          days.map { day =>
            val jobId = server.submit(day)
            day -> (() => {
              checksAt(day) = checksAt.getOrElse(day, Nil) :+ (vnow - vbase)
              server.check(jobId)
            })
          },
          sleeper = ms => vnow += ms,
          clock = () => vnow,
        ).toMap
        days.foreach { day =>
          require(checksAt(day) == List(0L, 10000L, 30000L),
            s"poll schedule for $day was ${checksAt(day)}, expected checks at 0/10s/30s")
        }
        require(vnow - vbase == 30000L,
          s"fan-out polling advanced the clock ${vnow - vbase} ms over ${days.size} jobs — " +
            "expected max() = 30 s, not Σ")
        // fetch the completed reports PARTITION-PARALLEL: one DSv2 input
        // partition per report ref (RestPagesV2.readMany), each walking
        // its own cursor chain executor-side with its own transport — a
        // chain is serial within itself, but the ~75 reports are
        // independent, so the page fetch is max(), not Σ(days), matching
        // the poll fan-out above (previously a serial driver loop)
        val fixturePages = server.pages
        val endpoints = days.map { day =>
          val ref = polled(day)
            .fold(reason => sys.error(s"insights job for $day failed: $reason"), identity)
          RestPagesV2.PlannedPages(client,
            EndpointConfig(s"$ref/insights", dataSelector = "data",
              paginator = Paginator.Cursor("paging.cursors.after", "after", pageSize = 20)),
            // transport constructed INSIDE the factory: readMany runs the
            // factory once per input partition, so each endpoint's chain
            // gets its own instance — sharing one would require the
            // transport to be thread-safe across concurrent partitions
            // (only the serializable pages map is captured, not the server)
            Map.empty, () => StaticPagesTransport(fixturePages))
        }
        val items = RestPagesV2.readMany(s, endpoints)
        require(items.rdd.getNumPartitions == days.size,
          s"report fetch must plan one input partition per report, got " +
            s"${items.rdd.getNumPartitions} for ${days.size} reports")
        items.select(
          get_json_object(col("item"), "$.date_start").as("date_start"),
          get_json_object(col("item"), "$.ad_id").cast("long").as("ad_id"),
          get_json_object(col("item"), "$.impressions").cast("long").as("impressions"),
          get_json_object(col("item"), "$.spend").cast("double").as("spend"))
      }
      val hints = TableHints("insights", Disposition.Merge,
        primaryKey = Seq("date_start", "ad_id"))
      val state = new StateStore(
        java.nio.file.Files.createTempDirectory("graft_insights").resolve("s.json"))
      val days1 = Facebook.dayRange(d0, b.plusDays(1))
      val run1 = run(new JobServer(partRows.groupBy(_.d), days1), days1)
      val landed1 = MergeEngine.mergePlan(None, run1, hints).localCheckpoint(true)
      state.put("facebook_ads.insights.cursor", b.toString); state.commit()
      val cursor = LocalDate.parse(state.getString("facebook_ads.insights.cursor").get)
      val r2start = laterOf(d0, Facebook.attributionWindowStart(cursor, 7))
      val days2 = Facebook.dayRange(r2start, d1.plusDays(1))
      val run2 = run(new JobServer(fullRows.groupBy(_.d), days2), days2)
      MergeEngine.mergePlan(Some(landed1), run2, hints)
        .select(to_date(col("date_start")).as("date_start"), col("ad_id"),
          col("impressions"), col("spend"))
        .orderBy("date_start", "ad_id")
    }),

    // §2.1 row 21 (inbox): two-wave mailbox read through the UID
    // high-water-mark cursor with server-side FROM pushdown — wave 1 sees
    // the first 300 messages, the cursor commits, wave 2 reads a grown
    // mailbox strictly above the committed UID; the union must be exactly
    // the matching message set (countDistinct hard-checks no dup/loss)
    "q_inbox_cursor" -> ((s, dir) => {
      import graft.connectors.sources.Inbox
      import Inbox._
      val docs = t(s, dir, "documents").select("doc_id", "lang", "text")
        .orderBy("doc_id").collect()
      def mkClient(maxDoc: Long): MailClient = new MailClient {
        private val rows = docs.toSeq.filter(_.getLong(0) < maxDoc)
        override def listUids(criteria: MailCriteria, afterUid: Long): Seq[Long] =
          rows.map(_.getLong(0)).filter { id =>
            id > afterUid && criteria.fromAddress.forall(f => s"u${id % 7}@x.test" == f)
          }
        override def fetchMessage(folder: String, uid: Long): MailMessage = {
          val r = rows.find(_.getLong(0) == uid).get
          MailMessage(uid, s"m$uid", s"u${uid % 7}@x.test", "inbox@x.test",
            r.getString(1), f"2024-01-${(uid % 28) + 1}%02d", r.getString(2))
        }
        override def fetchAttachments(folder: String, uid: Long): Seq[MailAttachment] = Nil
      }
      val crit = MailCriteria(fromAddress = Some("u3@x.test"))
      val state = new StateStore(
        java.nio.file.Files.createTempDirectory("graft_inbox").resolve("s.json"))
      val (wave1, last1) = readMessages(s, mkClient(300), crit, state)
      Inbox.commit(state, crit.folder, last1)
      val (wave2, _) = readMessages(s, mkClient(Long.MaxValue), crit, state)
      wave1.union(wave2)
        .groupBy(col("subject").as("lang"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("uid")).as("n_uids"),
          sum(length(col("bodyText"))).as("sum_chars"),
        )
        .orderBy("lang")
    }),

    // §2.1 row 22 (scraping): threaded producer → bounded QueueBridge →
    // drainBatches (size/time-bounded batches, backpressure, EOS);
    // batch boundaries are timing-dependent but the drained union is
    // exactly the produced set
    "q_queue_bridge" -> ((s, dir) => {
      import graft.connectors.streams.QueueBridge
      val ev = t(s, dir, "events").filter(col("event_id") < 1500)
        .select("event_id", "event_type", "value").orderBy("event_id").collect()
      val bridge = new QueueBridge[String](capacity = 64)
      val producer = new Thread(() => {
        ev.foreach { r =>
          bridge.put(s"""{"event_id":${r.getLong(0)},"event_type":"${r.getString(1)}","value":${r.getDouble(2)}}""")
        }
        bridge.close()
      })
      producer.start()
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      bridge.drainBatches(s, batchSize = 100, readTimeoutMs = 2000)(identity)(df => parts += df)
      producer.join()
      parts.reduce(_.unionByName(_))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          sum(col("value").cast(dec18_2)).cast("double").as("sum_value"),
        )
        .orderBy("event_type")
    }),

    // unstructured_data, REAL decode path: WAV/BMP/PNG/JPEG blobs are
    // synthesized per-row on executors (deterministic formulas over
    // events), then decoded by the actual JDK-only codecs — RIFF chunk
    // walk, DIB pixel walk, zlib inflate + scanline unfilter, and
    // javax.imageio for JPEG. The decoded integer invariants (sample-
    // square sums, pixel sums) are what DuckDB recomputes from the same
    // formulas: a wrong header parse, inflate, or unfilter shows up as a
    // sum mismatch. JPEG is lossy, so its rows gate dims/count exactly
    // and the pixel sum through a tolerance: the query emits the formula
    // sum ONLY when the real decoded sum lands within 8/pixel of it
    // (measured worst case 0.36/pixel), else the raw decoded sum — which
    // the oracle hash then rejects loudly.
    "q_media_decode" -> ((s, dir) => {
      import graft.ops.{MediaCodecs, Multimodal}
      import s.implicits._
      val ev = t(s, dir, "events").filter(col("event_id") < 500)
        .select(col("event_id"), col("user_id"))
      val blobs = ev.as[(Long, Long)].map { case (e, u) =>
        val bytes = (e % 4) match {
          case 0 =>
            val n = (100 + u % 400).toInt
            MediaCodecs.encodeWavPcm16(16000,
              Array.tabulate(n)(i => (((e * 31 + i * 17) % 2001) - 1000).toShort))
          case 1 =>
            val w = (4 + e % 13).toInt; val h = (3 + u % 9).toInt
            MediaCodecs.encodeBmp24(w, h, (x, y) => {
              val v = ((e + 7 * x + 11 * y) % 256).toInt; (v, v, v)
            })
          case 2 =>
            val w = (4 + e % 13).toInt; val h = (3 + u % 9).toInt
            MediaCodecs.encodePngRgb(w, h, (x, y) => {
              val v = ((e + 7 * x + 11 * y) % 256).toInt; (v, v, v)
            })
          case _ =>
            val w = (4 + e % 13).toInt; val h = (3 + u % 9).toInt
            MediaCodecs.encodeJpegGray(w, h, (x, y) => ((e + 7 * x + 11 * y) % 256).toInt)
        }
        (e, bytes)
      }.toDF("media_id", "content")
      // animated multi-frame GIF rows (real frame-count + per-frame pixel
      // decode; the hand-written container keeps gray values exact)
      val gifBlobs = t(s, dir, "events")
        .filter(col("event_id") >= 500 && col("event_id") < 640)
        .select(col("event_id"), col("user_id")).as[(Long, Long)]
        .map { case (e, u) =>
          val w = (4 + e % 13).toInt; val h = (3 + u % 9).toInt
          val nF = (2 + e % 3).toInt
          (e, MediaCodecs.encodeGifGrayFrames(w, h, nF,
            (f, x, y) => ((e + 5 * f + 7 * x + 11 * y) % 256).toInt))
        }.toDF("media_id", "content")
      val expected = expr(
        """aggregate(flatten(transform(sequence(0, height - 1),
          | y -> transform(sequence(0, width - 1),
          |   x -> (media_id + 7*x + 11*y) % 256))),
          | CAST(0 AS BIGINT), (a, v) -> a + v)""".stripMargin)
      Multimodal.decodeMedia(blobs.unionByName(gifBlobs), "media_id", "content").toDF()
        .withColumn("content_sum",
          when(col("format") === "jpeg" &&
              abs(col("content_sum") - expected) <= lit(8L) * col("n_units"), expected)
            .otherwise(col("content_sum")))
        .orderBy("media_id")
    }),

    // REAL frame sampling over a real multi-frame container: animated
    // GIFs from events, every 2nd frame decoded (only those frames pay
    // pixel decode — the kernel derives indices from the container's own
    // frame count, no plan join, blobs never shuffle). The oracle replays
    // the stride fan-out with range(0, nF, 2) and the per-frame sums.
    "q_frame_sample" -> ((s, dir) => {
      import graft.ops.{MediaCodecs, Multimodal}
      import s.implicits._
      val gifBlobs = t(s, dir, "events")
        .filter(col("event_id") >= 500 && col("event_id") < 640)
        .select(col("event_id"), col("user_id")).as[(Long, Long)]
        .map { case (e, u) =>
          val w = (4 + e % 13).toInt; val h = (3 + u % 9).toInt
          val nF = (2 + e % 5).toInt
          (e, MediaCodecs.encodeGifGrayFrames(w, h, nF,
            (f, x, y) => ((e + 5 * f + 7 * x + 11 * y) % 256).toInt))
        }.toDF("media_id", "content")
      Multimodal.sampleFrames(gifBlobs, "media_id", "content", stride = 2).toDF()
        .select(col("id").as("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("pix_sum"))
        .orderBy("media_id", "frame_idx")
    }),

    // image near-dup dedup: BMP blobs synthesized per event in groups of
    // five near-identical variants (same base gradient, +0..4 gray offset
    // that wraps at 256) → real ImageIO decode → 64-bit average-hash over
    // the 8×8 nearest-neighbor grid → banded Hamming buckets → exact
    // Hamming verify. The training-data image-dedup op: blobs never
    // shuffle, candidates come from an equi join, and the oracle
    // recomputes pixels, grid, bits, bands, buckets, and Hamming from the
    // same closed-form formulas — bit-for-bit.
    "q_image_dedup" -> ((s, dir) =>
      Dedup.imageNearDups(imageBlobs(s, dir), "media_id", "content", maxDist = 3)
        .orderBy("id_a", "id_b")),

    // image dedup clustering: the near-dup pairs close into connected
    // components (alternating-star / driver union-find crossover, same
    // machinery as q_dedup_clusters) — the op a pipeline actually wants:
    // one representative per visual family. Oracle = the pair SQL plus a
    // recursive-CTE transitive closure labeling each image with the min
    // reachable id.
    "q_image_clusters" -> ((s, dir) => {
      val pairs = Dedup.imageNearDups(imageBlobs(s, dir), "media_id", "content", maxDist = 3)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // audio near-dup dedup: WAV clips synthesized per event in groups of
    // five gain/duration variants → real RIFF decode → radix-2 FFT →
    // 8-band power spectrum → 28-bit rank fingerprint → banded Hamming
    // buckets → exact verify. Same scale shape as q_image_dedup (blobs
    // never shuffle; candidates from an equi join); the oracle replays
    // bits, bands, buckets and Hamming from the closed-form tone
    // amplitudes the bin-aligned synthesis guarantees.
    "q_audio_dedup" -> ((s, dir) =>
      Dedup.audioNearDups(audioBlobs(s, dir), "media_id", "content", maxDist = 3)
        .orderBy("id_a", "id_b")),

    // audio dedup clustering: near-dup pairs → connected components, one
    // representative per acoustic family (the op a speech/music corpus
    // pipeline wants before training).
    "q_audio_clusters" -> ((s, dir) => {
      val pairs = Dedup.audioNearDups(audioBlobs(s, dir), "media_id", "content", maxDist = 3)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // over-cap star fallback, oracle-verified WHERE IT FIRES: the audio
    // family with maxBucketSize=4 forces every 5-clip fingerprint bucket
    // over the cap, so candidate generation degrades to the min-id hub
    // star — the degenerate-mass defense (silence, blank thumbnails)
    // that the production cap of 4096 leaves cold at every driver SF.
    // The oracle replays the cap decision, the star, and the Hamming
    // verify bit-for-bit (shared bandedVerify, so this also gates the
    // image/video star branch).
    "q_audio_dedup_capped" -> ((s, dir) =>
      Dedup.audioNearDups(audioBlobs(s, dir), "media_id", "content",
        maxDist = 3, maxBucketSize = 4)
        .orderBy("id_a", "id_b")),

    // video near-dup dedup: animated-GIF clips in variant groups → real
    // frame decode (stride-2 sampling) → per-frame aHash → ALIGNED
    // (band, key, frame) buckets → exact per-frame Hamming → clips match
    // when >= 2 sampled positions verify. The clip-level training-data
    // dedup op; only (clip, frame, 4 smallint keys) ever shuffles.
    "q_video_dedup" -> ((s, dir) =>
      Dedup.videoNearDups(videoBlobs(s, dir), "media_id", "content",
        stride = 2, maxDist = 3, minMatches = 2)
        .orderBy("id_a", "id_b")),

    // the star fallback in the frame-ALIGNED bucket dimension: cap 4
    // forces every 5-variant (band, key, frame) bucket over the cap, so
    // candidates degrade to the per-frame min-clip hub star and the
    // matched-positions gate counts star frames — the video-specific
    // half of the degenerate-mass defense (blank/boilerplate frames),
    // oracle-replayed bit-for-bit where it fires.
    "q_video_dedup_capped" -> ((s, dir) =>
      Dedup.videoNearDups(videoBlobs(s, dir), "media_id", "content",
        stride = 2, maxDist = 3, minMatches = 2, maxBucketSize = 4)
        .orderBy("id_a", "id_b")),

    // video clip clustering: the near-dup pairs (>= 2 matched sampled
    // positions) close into connected components — one representative
    // per clip family, completing the image/audio/video clustering
    // triple. Oracle = the pair CTE chain + recursive transitive closure.
    "q_video_clusters" -> ((s, dir) => {
      val pairs = Dedup.videoNearDups(videoBlobs(s, dir), "media_id", "content",
        stride = 2, maxDist = 3, minMatches = 2)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // the composed capped recipe in the frame-aligned dimension: per-
    // (band, key, frame) star pairs (cap 4) → matched-positions gate →
    // clusterPairs; the oracle replays star, gate, and closure.
    "q_video_clusters_capped" -> ((s, dir) => {
      val pairs = Dedup.videoNearDups(videoBlobs(s, dir), "media_id", "content",
        stride = 2, maxDist = 3, minMatches = 2, maxBucketSize = 4)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // THE corpus-scale media recipe, gated end-to-end: capped star pair
    // generation (cap 4 — every 5-variant fingerprint bucket over the
    // cap) composed into clusterPairs. The star routes every bucket pair
    // through the min-id hub, so transitive closure over the star edges
    // recovers the components the raw O(n²) pair dump would find
    // whenever members verify against the hub — the property that makes
    // "cap + clusters, never the raw pair dump" the 100 TB posture
    // (BASELINE sf10: capped pairs grow 3.5× vs 57× uncapped for 100×
    // data; uncapped clusters 183×). The oracle replays the capped star
    // pair set AND its closure bit-for-bit; MediaClusterSpec pins that
    // the capped closure equals the uncapped closure on this fixture.
    "q_audio_clusters_capped" -> ((s, dir) => {
      val pairs = Dedup.audioNearDups(audioBlobs(s, dir), "media_id", "content",
        maxDist = 3, maxBucketSize = 4)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // the same composed recipe in the image dimension (whole-blob aHash
    // buckets rather than audio rank fingerprints) — the two fingerprint
    // paths share bandedVerify but cap in different bucket shapes, so
    // each gets its own end-to-end gate.
    "q_image_clusters_capped" -> ((s, dir) => {
      val pairs = Dedup.imageNearDups(imageBlobs(s, dir), "media_id", "content",
        maxDist = 3, maxBucketSize = 4)
      Dedup.clusterPairs(pairs).orderBy("id")
    }),

    // §2.1 row 12 (google_sheets): orders rendered as a Sheets value grid
    // (everything stringly, dates as Lotus serial numbers, TRUE/FALSE
    // bools) → header mapping + type inference + serial-date conversion →
    // typed aggregation the oracle recomputes from the parquet directly
    "q_sheets_serial" -> ((s, dir) => {
      import graft.connectors.sources.{SheetsReader, Specialized}
      val orders = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate").cast(DateType), to_date(lit("1970-01-01"))).as("epoch_day"),
          col("o_totalprice"))
        .orderBy("o_orderkey").collect()
      val grid: Seq[Seq[String]] =
        Seq(Seq("order id", "order date", "total price", "even flag")) ++
          orders.toSeq.map { r =>
            Seq(r.getLong(0).toString, (r.getInt(1) + 25569).toString, // Lotus serial: 1899-12-30 base
              r.getDouble(2).toString, if (r.getLong(0) % 2 == 0) "TRUE" else "FALSE")
          }
      val df = SheetsReader.fromGrid(s, grid)
      df.withColumn("d", Specialized.Sheets.serialToDate(col("order_date")))
        .groupBy(trunc(col("d"), "month").as("month"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("total_price").cast(dec18_2)).cast("double").as("sum_price"),
          sum(when(col("even_flag"), 1L).otherwise(0L)).as("n_even"),
        )
        .orderBy("month")
    }),

    // §2.1 row 16 (github GraphQL): relay-cursor paging over canned pages
    // + nested edges/node connection flattening; labels fan out per doc
    // (n_chars % 3 + 1 of them) and the oracle regenerates the fan-out
    // with generate_series
    "q_graphql_flatten" -> ((s, dir) => {
      import graft.connectors.rest.{GraphQlReader, HttpResponse}
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect()
      def node(r: org.apache.spark.sql.Row) = {
        val k = (r.getLong(2) % 3).toInt + 1
        val edges = (0 until k).map(i => s"""{"node":{"name":"l$i"}}""").mkString(",")
        s"""{"doc_id":${r.getLong(0)},"lang":"${r.getString(1)}","labels":{"edges":[$edges],"totalCount":$k}}"""
      }
      val chunks = docs.toSeq.grouped(40).toSeq
      val pages: Map[String, String] = chunks.zipWithIndex.map { case (chunk, i) =>
        val cursor = if (i == 0) "start" else s"c$i"
        val hasNext = i < chunks.size - 1
        val end = if (hasNext) s""""c${i + 1}"""" else "null"
        cursor ->
          s"""{"data":{"search":{"nodes":[${chunk.map(node).mkString(",")}],
             |"pageInfo":{"hasNextPage":$hasNext,"endCursor":$end}}}}""".stripMargin.replaceAll("\n", "")
      }.toMap
      val transport = new HttpTransport {
        override def get(url: String, params: Map[String, String],
            headers: Map[String, String]): HttpResponse = HttpResponse(405, "GET not supported")
        override def post(url: String, body: String,
            headers: Map[String, String]): HttpResponse = {
          val cursor = Option(graft.connectors.rest.Json.parse(body).get("variables").get("after"))
            .map(_.asText()).getOrElse("start")
          pages.get(cursor).map(HttpResponse(200, _))
            .getOrElse(HttpResponse(400, s"""{"errors":[{"message":"bad cursor $cursor"}]}"""))
        }
      }
      val cfg = GraphQlReader.GraphQlConfig(
        url = "https://fixture.test/graphql",
        query = "query($after:String){search{nodes{...}}}",
        itemsPath = "data.search.nodes[*]",
        pageInfoPath = "data.search.pageInfo")
      GraphQlReader.read(s, cfg, transport)
        .select(col("doc_id"), explode(expr("transform(labels, l -> l.name)")).as("label"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("label")
    }),

    // §2.1 row 5 (sql_database): live JDBC round-trip against embedded
    // Derby — Spark's JDBC sink creates and loads the table, then
    // JdbcSource.read scans it back with a pushed-down predicate and a
    // MIN/MAX-probed partitioned parallel read (4 disjoint ranges)
    "q_jdbc_scan" -> ((s, dir) => {
      import graft.connectors.db.JdbcSource
      val tmp = java.nio.file.Files.createTempDirectory("graft_derby")
      System.setProperty("derby.system.home", tmp.toString)
      val url = s"jdbc:derby:$tmp/db;create=true" // driver autoloads via the JDBC4 service registry
      val src = t(s, dir, "orders").filter(col("o_orderkey") < 5000)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      src.write.format("jdbc")
        .option("url", url).option("dbtable", "ORDERS")
        .option("createTableColumnTypes", "o_orderstatus VARCHAR(1)")
        .mode("overwrite").save()
      val df = JdbcSource.read(s,
        JdbcSource.JdbcConfig(url, "ORDERS",
          partitionColumn = Some("\"o_custkey\""), // writer quotes identifiers → case-sensitive
          numPartitions = 4),
        pushdown = Some("\"o_orderkey\" < 3000"))
      df.groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec18_2)).cast("double").as("sum_price"),
        )
        .orderBy("o_orderstatus")
    }),

    // §2.1 row 5 + §2.4 (sql_database destination merge): live JDBC
    // delete-insert merge against embedded Derby — batch 1 creates the
    // table, batch 2 overlaps it with doubled+tripled prices (in-batch
    // dedup_sort desc picks _seq=3), marks keys %7==0 hard-deleted, and
    // the merged state is read back via a partitioned JDBC scan. The
    // merge itself runs destination-side (staged table + transactional
    // DELETE/INSERT), the reference's merge-load shape.
    "q_jdbc_merge" -> ((s, dir) => {
      import graft.connectors.db.{JdbcMerge, JdbcSource}
      import graft.core.{Disposition, TableHints}
      val tmp = java.nio.file.Files.createTempDirectory("graft_derby_m")
      System.setProperty("derby.system.home", tmp.toString)
      val url = s"jdbc:derby:$tmp/db;create=true"
      val cfg = JdbcSource.JdbcConfig(url, "GRAFT_ORDERS")
      val hints = TableHints("graft_orders", Disposition.Merge,
        primaryKey = Seq("o_orderkey"), dedupSort = Some(("_seq", true)),
        hardDeleteCol = Some("_del"))
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val b1 = orders.filter(col("o_orderkey") < 1000)
        .withColumn("_seq", lit(1L))
        .withColumn("_del", lit(null).cast("string"))
      JdbcMerge.write(s, b1, cfg, hints)
      val b2base = orders.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1500)
      val b2 = b2base.withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_seq", lit(2L))
        .unionByName(b2base.withColumn("o_totalprice", col("o_totalprice") * 3)
          .withColumn("_seq", lit(3L)))
        .withColumn("_del",
          when(col("o_orderkey") % 7 === 0, lit("x")).otherwise(lit(null).cast("string")))
      JdbcMerge.write(s, b2, cfg, hints)
      JdbcSource.read(s, cfg.copy(
          partitionColumn = Some("\"o_orderkey\""), numPartitions = 4))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("_seq"))
        .orderBy("o_orderkey")
    }),

    // §2.1 row 4 (kinesis): two-wave shard read through the dict-valued
    // per-shard sequence cursor — wave 1 bounded, cursor committed, wave 2
    // resumes strictly after it; union must equal the source exactly (no
    // overlap, no loss), which the countDistinct column hard-checks
    "q_shard_cursor" -> ((s, dir) => {
      import graft.connectors.streams.{ShardClient, ShardMessage, ShardReader}
      val ev = t(s, dir, "events").filter(col("event_id") < 2000)
        .select("event_id", "user_id", "props").orderBy("event_id").collect()
      val byShard: Map[String, IndexedSeq[ShardMessage]] = ev.toSeq
        .groupBy(r => s"shard-${(r.getLong(1) % 3).toInt}")
        .map { case (sh, rows) =>
          sh -> rows.sortBy(_.getLong(0)).map { r =>
            ShardMessage(sh, r.getLong(0).toString, r.getLong(1).toString,
              r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8),
              1700000000000L + r.getLong(0))
          }.toIndexedSeq
        }
      val client = new ShardClient {
        private def after(a: String, b: String): Boolean = // opaque-sequence order: (length, lex)
          a.length > b.length || (a.length == b.length && a > b)
        override def listShards(stream: String): Seq[String] = byShard.keys.toSeq.sorted
        override def getRecords(stream: String, shardId: String, afterSeq: Option[String],
            max: Int): Seq[ShardMessage] = {
          val msgs = byShard.getOrElse(shardId, IndexedSeq.empty)
          afterSeq.fold(msgs)(a => msgs.filter(m => after(m.sequenceNumber, a))).take(max)
        }
      }
      val state = new StateStore(
        java.nio.file.Files.createTempDirectory("graft_sh").resolve("s.json"))
      val (wave1, cur1) = ShardReader.readBatch(s, client, "events", state, chunkSize = 300)
      ShardReader.commitCursor(state, "events", cur1)
      val (wave2, _) = ShardReader.readBatch(s, client, "events", state, chunkSize = Int.MaxValue)
      wave1.union(wave2)
        .groupBy("_shard_id")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("_seq_no")).as("n_distinct"),
          max(col("_seq_no").cast("long")).as("max_seq"),
          max(get_json_object(col("data"), "$.k").cast("long")).as("max_k"),
        )
        .orderBy("_shard_id")
    }),

    // declarative REST engine: documents served as offset-paginated JSON
    // pages through the page loop + schema inference, then aggregated
    "q_rest_pipeline" -> ((s, dir) => {
      import RestEngine._
      val pageSize = 25
      val ep = EndpointConfig("docs", dataSelector = "data",
        paginator = Paginator.Offset(pageSize = pageSize))
      val items = fetchPages(ClientConfig("https://fixture.test"), ep,
        StaticPagesTransport(offsetPages(docItems(s, dir, 100), pageSize)))
      langTotals(jsonToDf(s, items))
    }),

    // partition-parallel REST root paging (RestPagesV2): the response
    // carries meta.total, so the DSv2 scan plans ONE INPUT PARTITION PER
    // PAGE and the pages fetch executor-side — no driver page chain
    "q_rest_parallel" -> ((s, dir) => {
      import RestEngine._
      val pageSize = 40
      val items = docItems(s, dir, 200)
      val pages = items.grouped(pageSize).toSeq.zipWithIndex.map { case (chunk, i) =>
        s"docs?limit=$pageSize&offset=${i * pageSize}" ->
          s"""{"data":[${chunk.mkString(",")}],"meta":{"total":${items.size}}}"""
      }.toMap
      val ep = EndpointConfig("docs", dataSelector = "data",
        paginator = Paginator.Offset(pageSize = pageSize, totalPath = Some("meta.total")))
      val src = RestSource("fixture", ClientConfig("https://fixture.test"),
        Seq(RestResource("docs", ep, TableHints("docs", Disposition.Append))))
      langTotals(readResourceParallel(s, src, src.resources.head, () => StaticPagesTransport(pages)))
    }),

    // POST-shaped REST endpoint (dlt rest_api's `method`/`json` dialect
    // keys): the same documents as q_rest_pipeline served as a search
    // API — query params ride the URL, the `json` template is the body,
    // and the CURSOR paginator advances IN THE BODY (dlt's
    // cursor-in-body shape for POST), so every page after the first is
    // the template plus exactly the cursor key. Driven end-to-end from
    // a config DOCUMENT through RestConfig.fromJson, and the result
    // must hash-match q_rest_pipeline's oracle — same rows through a
    // different protocol
    "q_rest_post" -> ((s, dir) => {
      import RestEngine._
      val template = """{"kind":"doc","limit":25}"""
      def bodyFor(cursor: Option[String]) =
        cursor.fold(template)(c => template.dropRight(1) + s""","cursor":"$c"}""")
      val chunks = docItems(s, dir, 100).grouped(25).toSeq
      val pages = chunks.zipWithIndex.map { case (chunk, i) =>
        val next = if (i + 1 < chunks.size) s""""c${i + 2}"""" else "null"
        s"POST docs/search?v=1#${bodyFor(if (i == 0) None else Some(s"c${i + 1}"))}" ->
          s"""{"data":[${chunk.mkString(",")}],"meta":{"next":$next}}"""
      }.toMap
      val src = RestConfig.fromJson(
        """{"name": "fixture", "client": {"base_url": "https://fixture.test"},
           "resources": [{"name": "docs", "endpoint": {
             "path": "docs/search", "method": "POST", "params": {"v": "1"},
             "json": {"kind": "doc", "limit": 25}, "data_selector": "data",
             "paginator": {"type": "cursor", "cursor_path": "meta.next",
                           "cursor_param": "cursor"}}}]}""")
      val items = fetchPages(src.client, src.resources.head.endpoint,
        StaticPagesTransport(pages))
      langTotals(jsonToDf(s, items))
    }),

    // processing_steps (dlt rest_api's per-resource map/filter hooks,
    // JSON-expressible subset): a config-level filter keeps only the
    // longer documents and a drop_fields map strips a planted `secret`
    // column BEFORE rows land — the landed frame proves both (the
    // filter changes the row set, the drop changes the schema, either
    // regression breaks the hash). Pagination is undisturbed: the
    // filter drops items from full pages, yet every server page is
    // still fetched
    "q_rest_steps" -> ((s, dir) => {
      import RestEngine._
      val src = RestConfig.fromJson(
        """{"name": "fixture", "client": {"base_url": "https://fixture.test"},
           "resources": [{"name": "docs",
             "endpoint": {"path": "docs", "data_selector": "data",
               "paginator": {"type": "offset", "limit": 25}},
             "processing_steps": [
               {"filter": {"field": "n_chars", "gt": 150}},
               {"map": {"drop_fields": ["secret"]}}]}]}""")
      val items = fetchPages(src.client, src.resources.head.endpoint,
        StaticPagesTransport(offsetPages(docItems(s, dir, 100, secret = true), 25)))
      val df = jsonToDf(s, items)
      require(!df.columns.contains("secret"), "drop_fields must strip the planted column")
      df.select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),

    // pipeline driver: two incremental merge runs (split on ts) produce
    // exactly the full deduplicated table; cursor prunes the re-run
    "q_pipeline_incremental" -> ((s, dir) => {
      import graft.pipeline.{Pipeline, ResourceDef, SourceDef}
      val dest = java.nio.file.Files.createTempDirectory("graft_dest").toString
      val stateDir = java.nio.file.Files.createTempDirectory("graft_pstate").toString
      val pipe = new Pipeline(s, "verify", dest, stateDir)
      var cut: Option[String] = Some("2024-01-20 00:00:00")
      val res = ResourceDef(
        name = "events_loaded",
        hints = TableHints("events_loaded", Disposition.Merge, primaryKey = Seq("event_id")),
        build = ctx => {
          val ev = t(ctx.spark, dir, "events")
          cut match {
            case Some(c) => ev.filter(col("ts") < tsLit(ev, "ts", c))
            case None    => ev
          }
        },
        incremental = Some((Incremental(Seq("ts")), "ts")),
      )
      pipe.run(SourceDef("src", Seq(res)))  // run 1: ts < cut
      cut = None
      pipe.run(SourceDef("src", Seq(res)))  // run 2: cursor loads the rest
      s.read.parquet(s"$dest/events_loaded")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          tsMicros(max(col("ts"))).as("max_ts_us"),
        )
    }),

    // §2.7 / SURVEY §1.3: the continuous execution path, run on the real
    // Structured Streaming engine (file stream source → watermark →
    // stateful operator → memory sink, processAllAvailable) and oracle-
    // checked against the equivalent batch SQL. Complete-mode windowed
    // aggregation is exactly the batch groupBy; dedup and sessionization
    // exercise the state store and event-time timeouts.
    "q_stream_window" -> ((s, dir) => {
      import graft.streaming.EventStreams
      withFewShufflePartitions(s, 8) {
        val ev = streamEvents(s, dir)
          .filter(col("event_id") < 4000)
          .withColumn("value", col("value").cast(dec18_2))
        val agg = EventStreams.windowedCounts(ev, window = "6 hours", watermark = "1 hour")
        EventStreams.runAvailableNow(agg, "q_stream_window_sink", outputMode = "complete")
      }
      s.table("q_stream_window_sink")
        .select(unix_micros(col("window_start")).as("window_start_us"), col("event_type"),
          col("n"), col("total_value").cast("double").as("total_value"))
        .orderBy("window_start_us", "event_type")
    }),

    // continuous exact dedup: state-store keyed dedup over the stream; the
    // surviving row set must be exactly the distinct key set
    "q_stream_dedup" -> ((s, dir) => {
      import graft.streaming.EventStreams
      withFewShufflePartitions(s, 8) {
        val ev = streamEvents(s, dir).select(col("ts"), col("user_id"), col("event_type"))
        // watermark spans the whole event range (a month of data): state
        // then never ages out mid-run, so the survivors equal the GLOBAL
        // distinct key set no matter how the source batches the files —
        // the oracle's semantics hold even if this file ever splits into
        // multiple micro-batches
        val dd = EventStreams.streamingDedup(ev, Seq("user_id", "event_type"), watermark = "40 days")
        EventStreams.runAvailableNow(dd, "q_stream_dedup_sink")
      }
      s.table("q_stream_dedup_sink")
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    // streaming URL dedup: the crawl-frontier shape — a URL stream (five
    // planted variant shapes per page, as q_url_dedup) canonicalized by
    // the same codegen'd rule chain, then watermarked
    // dropDuplicatesWithinWatermark on the CANONICAL key, so re-crawls
    // of the same page under different surface forms dedup in flight.
    // The watermark must span the event range for survivors ≡ the batch
    // DISTINCT over canonical URLs no matter how the source
    // micro-batches — so it is DERIVED from the slice's observed ts span
    // (one cheap batch aggregate over the same parquet) rather than
    // hardcoded, and stays correct if the driver ever regenerates the
    // fixture with sparser timestamps.
    "q_stream_url_dedup" -> ((s, dir) => {
      import graft.ops.Url
      import graft.streaming.EventStreams
      val spanDays = t(s, dir, "events").filter(col("event_id") < 4000)
        .agg(datediff(max(col("ts")), min(col("ts")))).head.getInt(0)
      withFewShufflePartitions(s, 8) {
        val ev = streamEvents(s, dir).filter(col("event_id") < 4000)
          .select(col("ts"), col("event_id"))
        val urls = ev.select(col("ts"), plantedUrl("event_id"))
        val canon = urls.select(col("ts"), Url.canonicalize(col("url")).as("url_canon"))
        val dd = EventStreams.streamingDedup(canon, Seq("url_canon"),
          watermark = s"${spanDays + 2} days")
        EventStreams.runAvailableNow(dd, "q_stream_url_dedup_sink")
      }
      s.table("q_stream_url_dedup_sink").select("url_canon").orderBy("url_canon")
    }),

    // streaming WARC ingestion: the crawl landing as a CONTINUOUS file
    // stream — containers arrive in a directory, the file source's
    // checkpoint discovers only new ones per run (the streaming twin of
    // Warc.readNew's seen-file state), and each micro-batch runs the
    // composed batch path (quarantine → httpBody → Html.extract →
    // Url.canonicalize) into a UrlFrontier wave, so canonical dedup and
    // exactly-once hold ACROSS batches and across foreachBatch replays
    // (a replayed batch's pages all hit the seen-set anti-join and land
    // zero rows — asserted in-contract). The stream reads PATHS only
    // (binaryFile prunes the content column), so record parsing stays in
    // Warc.read's O(record) iterator, one partition per container.
    "q_stream_warc" -> ((s, dir) => {
      import graft.connectors.sources.Warc
      import graft.ops.{Html, Url, UrlFrontier}
      import s.implicits._
      val warcDir = java.nio.file.Files.createTempDirectory("graft_swarc").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_swarc_ck").toString
      val dest = java.nio.file.Files.createTempDirectory("graft_swarc_land").toString
      val docs = t(s, dir, "documents").filter(col("doc_id") < 3000).select(col("doc_id"),
        concat(lit("<html><body><ul><li><a href=/d"), col("doc_id"),
          lit("><b>doc "), col("doc_id"), lit("</b></a></li></ul><p>"),
          regexp_replace(col("text"), " ", "</p> <p>"),
          lit("</p></body></html>")).as("html"))
      val nDocsAll = docs.count()
      def writeWave(wave: Int, keep: org.apache.spark.sql.Column): Unit = {
        val slice = docs.filter(keep)
        val nFiles = math.max(1L, math.min(slice.count(), 6L)).toInt
        slice.as[(Long, String)].groupByKey(_._1 % nFiles).mapGroups { (fi, it) =>
          val out = java.nio.file.Files.newOutputStream(
            java.nio.file.Paths.get(warcDir, f"w${wave}_$fi%03d.warc.gz"))
          try it.foreach { case (id, html) =>
            val url =
              if (wave == 0) s"http://site$id.example.com/p/$id?a=1&b=2"
              else s"HTTPS://WWW.SITE$id.EXAMPLE.COM/p/$id?a=1&b=2&utm_source=feed"
            out.write(Warc.gzipMember(Warc.encodeRecord("response", url,
              "2026-01-01T00:00:00Z", "application/http; msgtype=response",
              Warc.httpResponse(html.getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
          } finally out.close()
          fi
        }.collect()
      }
      val quarantined = new java.util.concurrent.atomic.AtomicLong()
      // wave tag = stream RUN number, not micro-batch id: AvailableNow may
      // legally split one run's files across several micro-batches, and
      // the landed tag must not depend on that batching
      val runNo = new java.util.concurrent.atomic.AtomicLong()
      def landBatch(paths: Seq[String], tag: Long): Unit = if (paths.nonEmpty) {
        // parse + extract ONCE per batch (eager local checkpoints): the
        // quarantine count, the frontier anti-join and the landing write
        // are separate actions, and without the pins each one re-inflates
        // and re-parses every container and re-runs the regexp extract —
        // measured 80 s -> 5.3 s for this contract at sf0.1
        val recs = Warc.read(s, paths).localCheckpoint(true)
        quarantined.addAndGet(recs.filter(col("error").isNotNull).count())
        val pages = recs.filter(col("error").isNull && col("warc_type") === "response")
          .select(col("url"), Warc.httpBody(col("payload")).as("html"))
        val ext = Html.extract(pages, "url", "html")
          .select(Url.canonicalize(col("url")).as("url_canon"),
            col("text"), col("n_chars"), col("link_density"))
          .localCheckpoint(true)
        UrlFrontier.runWave(s, dest, ext.select("url_canon"), "url_canon")(
          todo => todo.join(ext, Seq("url_canon")).withColumn("wave", lit(tag)))
      }
      def runStream(): Unit = withFewShufflePartitions(s, 8) {
        // binaryFile's fixed schema, stated explicitly (streaming sources
        // do not infer); only `path` is ever selected, so the reader
        // prunes `content` and no container is read twice
        val files = s.readStream.format("binaryFile")
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
            org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType))))
          .option("pathGlobFilter", "*.warc.gz").load(warcDir)
        val tag = runNo.incrementAndGet()
        val q = files.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            landBatch(batch.select("path").as[String].collect().toSeq, tag)
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // wave 0: the low half of the corpus; one container gets a planted
      // truncated trailing member (must quarantine, not kill the stream)
      writeWave(0, col("doc_id") < 1500)
      val junk = Warc.gzipMember(Warc.encodeRecord("response",
        "http://junk.example.com/x", "2026-01-01T00:00:00Z",
        "application/http; msgtype=response", Warc.httpResponse("junk".getBytes)))
      java.nio.file.Files.write(java.nio.file.Paths.get(warcDir, "w0_000.warc.gz"),
        junk.dropRight(junk.length / 3),
        java.nio.file.StandardOpenOption.APPEND)
      runStream()
      require(quarantined.get() == 1,
        s"expected the planted truncated member quarantined in run 1, got ${quarantined.get()}")
      // wave 1: the WHOLE corpus under variant surface forms — only the
      // high half is canonically new; the rest must dedup via the frontier
      writeWave(1, lit(true))
      runStream()
      val afterRun2 = UrlFrontier.committedPages(s, dest).count()
      require(afterRun2 == nDocsAll,
        s"expected $nDocsAll canonical pages landed after run 2, got $afterRun2")
      // replay-idempotence: re-deliver run 2's batch (same files, same
      // composition) — every page hits the seen-set, zero new rows; and a
      // third stream run over the same checkpoint discovers nothing new
      landBatch(new java.io.File(warcDir).listFiles().map(_.getPath).toSeq
        .filter(_.contains("w1_")).sorted, 99L)
      runStream()
      require(UrlFrontier.committedPages(s, dest).count() == afterRun2,
        "replayed batch / idle stream run changed the landed archive")
      UrlFrontier.committedPages(s, dest)
        .select(
          regexp_extract(col("url_canon"), "^site(\\d+)\\.", 1).cast("long").as("doc_id"),
          col("url_canon"), col("wave"), col("text"), col("n_chars"), col("link_density"))
        .orderBy("doc_id")
    }),

    // streaming → merge landing: the continuous form of the reference's
    // pull-then-merge loop — each micro-batch flows through foreachBatch
    // into the merge writer (dedup_sort within the batch, upsert against
    // the landed table); the final table must be exactly the batch
    // last-write-wins reduction
    "q_stream_merge" -> ((s, dir) => {
      import graft.streaming.StreamingMergeSink
      val dest = java.nio.file.Files.createTempDirectory("graft_smerge").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_smerge_ck").toString
      val hints = TableHints("events_live", Disposition.Merge,
        primaryKey = Seq("user_id"), dedupSort = Some(("event_id", true)))
      withFewShufflePartitions(s, 8) {
        val ev = streamEvents(s, dir).filter(col("event_id") < 5000)
          .select("event_id", "user_id", "event_type", "value")
        val q = StreamingMergeSink.start(ev, dest, hints, ckpt)
        q.processAllAvailable(); q.stop()
      }
      s.read.parquet(s"$dest/events_live")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    }),

    // watermarked stream-stream interval join: purchases attach to views
    // of the same user within an hour — attribution on the live stream.
    // As with q_stream_dedup, the watermark spans the whole event range so
    // no join state ages out mid-run and the result equals the batch
    // interval join the oracle computes, under any micro-batching
    "q_stream_join" -> ((s, dir) => {
      import graft.streaming.EventStreams
      withFewShufflePartitions(s, 8) {
        val views = streamEvents(s, dir)
          .filter(col("user_id") < 50 && col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
        val purchases = streamEvents(s, dir)
          .filter(col("user_id") < 50 && col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
        val joined = EventStreams.intervalJoin(views, purchases,
          "user_id", "p_user", "view_ts", "purchase_ts",
          watermark = "40 days", within = "1 hour")
          .select(col("user_id"), col("view_id"), col("purchase_id"))
        EventStreams.runAvailableNow(joined, "q_stream_join_sink")
      }
      s.table("q_stream_join_sink").orderBy("view_id", "purchase_id")
    }),

    // continuous corpus dedup: the per-batch incremental-dedup cycle as a
    // streaming sink (bootstrap batch here — multi-batch/restart behavior
    // is spec-verified in StreamingDedupSinkSpec); the landed corpus must
    // equal the batch near-dup dedup the oracle recomputes
    "q_stream_dedup_corpus" -> ((s, dir) => {
      import graft.streaming.StreamingDedupSink
      val root = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
      withFewShufflePartitions(s, 8) {
        val docs = streamDocuments(s, dir)
          .filter(col("doc_id") % 9 === 0)
        val q = StreamingDedupSink.start(docs, s"$root/sink",
          "doc_id", "text", s"$root/ckpt", threshold = 0.9)
        q.processAllAvailable(); q.stop()
      }
      new graft.core.TableManifest(s, s"$root/sink").read("corpus").get.select("doc_id").orderBy("doc_id")
    }),

    // continuous quality gate: the stream form of the curation DAG's
    // first two stages — Gopher flags + a STATIC perplexity LM (trained
    // once on the %3 slice) filter each micro-batch statelessly;
    // batch_id-partition overwrite makes landing idempotent and the
    // accepted set is batch-boundary independent (the oracle is a pure
    // batch computation)
    "q_stream_quality" -> ((s, dir) => {
      import graft.streaming.StreamingQualityGate
      import graft.ops.LanguageModel
      val root = java.nio.file.Files.createTempDirectory("graft_squal").toString
      val lm = LanguageModel.trainBigramLm(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0), "text")
      withFewShufflePartitions(s, 8) {
        val docs = streamDocuments(s, dir)
        val q = StreamingQualityGate.start(docs, lm, "doc_id", "text",
          s"$root/out", s"$root/ckpt", bitsNum = 109L, bitsDen = 20L)
        q.processAllAvailable(); q.stop()
      }
      s.read.parquet(s"$root/out")
        .select(col("doc_id"), col("bits"), col("n_bigrams"))
        .orderBy("doc_id")
    }),

    // continuous quality gate with the FULL static-model stack: Gopher
    // flags + perplexity LM + Naive-Bayes margin (both models trained
    // once batch-side on the %3 slice, broadcast into every batch) —
    // per-batch work stays stateless and O(batch), and the accepted
    // set is batch-boundary independent (pure-batch oracle)
    "q_stream_nb" -> ((s, dir) => {
      import graft.streaming.StreamingQualityGate
      import graft.ops.{Classifier, LanguageModel}
      val root = java.nio.file.Files.createTempDirectory("graft_snb").toString
      val docsB = t(s, dir, "documents")
      val seed = docsB.filter(col("doc_id") % 3 === 0)
      val lm = LanguageModel.trainBigramLm(seed, "text")
      val nb = Classifier.trainNb(
        seed.select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y")), "text", "y")
      withFewShufflePartitions(s, 8) {
        val docs = streamDocuments(s, dir)
        val q = StreamingQualityGate.start(docs, lm, "doc_id", "text",
          s"$root/out", s"$root/ckpt", bitsNum = 109L, bitsDen = 20L,
          nb = Some(nb), nbMarginBits = -2L)
        q.processAllAvailable(); q.stop()
      }
      s.read.parquet(s"$root/out")
        .select(col("doc_id"), col("bits"), col("n_bigrams"), col("bits0"), col("bits1"))
        .orderBy("doc_id")
    }),

    // continuous exact-substring dedup: the q_substring_dedup corpus
    // streamed as two ascending-id waves (base, then planted twins) —
    // each batch probes the persisted gram index (batch_id < current,
    // probe-then-append) and cuts seen spans; the landed result must
    // hash-match the BATCH span-removal oracle exactly
    "q_stream_span_dedup" -> ((s, dir) => {
      import graft.streaming.StreamingSpanDedup
      val root = java.nio.file.Files.createTempDirectory("graft_sspan").toString
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/in")
      docs.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 20)).as("text"))
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      withFewShufflePartitions(s, 8) {
        val stream = s.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
        val q = StreamingSpanDedup.start(stream, "doc_id", "text", k = 8,
          s"$root/out", s"$root/idx", s"$root/ckpt")
        q.processAllAvailable(); q.stop()
      }
      s.read.parquet(s"$root/out")
        .select(col("doc_id"), col("text"), col("n_words"), col("n_kept"))
        .orderBy("doc_id")
    }),

    // event-time sessionization via flatMapGroupsWithState: sessions closed
    // in-stream (a later event past the gap) plus sessions aged out by the
    // event-time timeout once the watermark passes lastSeen+gap. Timestamps
    // are ms-precision (GroupState timeouts are ms), so the contract and
    // oracle both work in epoch millis.
    "q_stream_sessionize" -> ((s, dir) => {
      import graft.streaming.EventStreams
      import s.implicits._
      withFewShufflePartitions(s, 8) {
        val ev = streamEvents(s, dir)
          .filter(col("user_id") < 50)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
          .as[EventStreams.Event]
        val sessions = EventStreams.sessionize(ev, gapMs = 30 * 60 * 1000L)
        EventStreams.runAvailableNow(sessions.toDF(), "q_stream_sessionize_sink")
      }
      s.table("q_stream_sessionize_sink")
        .select(col("user_id"),
          (unix_micros(col("start")) / 1000).cast("long").as("start_ms"),
          (unix_micros(col("end")) / 1000).cast("long").as("end_ms"),
          col("n_events"),
          round(col("total_value") * 100).cast("long").as("total_cents"))
        .orderBy("user_id", "start_ms")
    }),
  )

  // ------------------------------------------------------------- oracle SQL

  private def minhashBandSql: String = {
    val bands = (0 until 4).map { i =>
      s"SELECT $i AS band, md5(list_min(list_transform(list_distinct(string_split(text, ' ')), w -> md5('$i:' || w)))) AS bucket_hash, doc_id FROM documents"
    }.mkString(" UNION ALL ")
    s"SELECT band, bucket_hash, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id FROM ($bands) GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2"
  }

  /** Render a double array as a DuckDB list literal. The hyperplane /
    * fixed-centroid components are exact binary fractions (±1, ±0.125),
    * so the decimal rendering round-trips bit-exactly.
    */
  private def sqlVec(a: Array[Double]): String = a.mkString("[", ",", "]")

  /** A centroid set as the rows of a DuckDB `VALUES (cell, cv)` list. */
  private def centRows(cents: Seq[(Int, Array[Double])]): String =
    cents.map { case (cid, v) => s"($cid, ${sqlVec(v)})" }.mkString(", ")

  /** The hashed-BoW embedder replayed in SQL, as a CTE list (no WITH)
    * ending in `vecs(doc_id, vec)`: md5 low-60-bit token hash, (h/2) mod
    * 32 dimension, h mod 2 sign, per-dimension signed counts densified to
    * a dim-32 list over the docs of `src`. Integer-valued components keep
    * every downstream comparison exact. `hs` names the hash CTE and `cnt`
    * the count column; the hybrid oracles spell it `cc` and join `comp`
    * unaliased.
    */
  private def embedVecCtes(src: String = "documents", hs: String = "hs",
      cnt: String = "c"): String = {
    val (comp, compAs) = if (cnt == "c") ("c", "comp c") else ("comp", "comp")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM $src),
       |$hs AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM toks),
       |comp AS (SELECT doc_id, CAST((h // 2) % 32 AS INT) AS idx,
       |  CAST(SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS $cnt
       |  FROM $hs GROUP BY 1, 2),
       |dims AS (SELECT doc_id, i FROM (SELECT DISTINCT doc_id FROM $src) CROSS JOIN range(0, 32) t(i)),
       |vecs AS (SELECT d.doc_id, list(coalesce($comp.$cnt, 0.0) ORDER BY d.i) AS vec
       |  FROM dims d LEFT JOIN $compAs ON $comp.doc_id = d.doc_id AND $comp.idx = d.i
       |  GROUP BY d.doc_id)""".stripMargin
  }

  /** SQL replica of q_embed_ann: the hashed-BoW embedder re-derived from
    * scratch — md5 low-60-bit token hash, (h/2) mod dim dimension, h mod 2
    * sign, per-dimension signed counts densified to a dim-32 list — then
    * the same brute-force cosine ranking as q_ann_cosine. Integer-valued
    * components keep every intermediate exact, so rank parity is
    * bit-for-bit, not approximate.
    */
  private def embedAnnSql: String =
    s"""WITH ${embedVecCtes()},
      |q AS (SELECT doc_id AS q_id, vec FROM vecs WHERE doc_id % 100 = 0),
      |c AS (SELECT doc_id AS n_id, vec FROM vecs WHERE doc_id % 100 <> 0),
      |scored AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
      |  ORDER BY list_cosine_similarity(q.vec, c.vec) DESC, n_id) AS rank FROM q, c)
      |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")

  /** Shared CTE chain for the image-dedup oracles: recompute the BMP
    * fixture's pixels, the 8×8 sample grid, the average-hash bits, the
    * four 16-bit band keys, banded candidate buckets, and exact Hamming —
    * the full `MediaCodecs.aHashBands` + `Dedup.imageNearDups` path,
    * bit-for-bit from the synthesis formulas.
    */
  private def imagePairCtes: String = imagePairCtesWith(None)

  /** As [[imagePairCtes]] with an optional bucket cap, replaying
    * `Dedup.bandedVerify`'s min-id-hub star fallback in the whole-blob
    * bucket dimension exactly as [[audioPairCtesWith]] does for audio.
    */
  private def imagePairCtesWith(cap: Option[Int]): String =
    s"""src AS (SELECT event_id AS e FROM events WHERE event_id % 100000000 < 400),
      |dims AS (SELECT e, 8 + (e // 5) % 9 AS w, 8 + (e // 5) % 7 AS h FROM src),
      |grid AS (SELECT e, gi.i AS gi, gj.i AS gj, (gi.i * w) // 8 AS x, (gj.i * h) // 8 AS y
      |  FROM dims CROSS JOIN range(0, 8) gi(i) CROSS JOIN range(0, 8) gj(i)),
      |gray AS (SELECT e, gi, gj, ((e // 5) * 17 + 7 * x + 11 * y + e % 5) % 256 AS g FROM grid),
      |tot AS (SELECT e, SUM(g) AS s FROM gray GROUP BY e),
      |bits AS (SELECT gray.e AS e, gj * 8 + gi AS bp, CASE WHEN 64 * g > s THEN 1 ELSE 0 END AS bit
      |  FROM gray JOIN tot ON gray.e = tot.e),
      |bands AS (SELECT e, bp // 16 AS band, CAST(SUM(bit * (1 << (bp % 16))) AS BIGINT) AS bkey
      |  FROM bits GROUP BY 1, 2),
      |${bandCandCtes(cap)},
      |ham AS (SELECT id_a, id_b, CAST(SUM(bit_count(xor(ba.bkey, bb.bkey))) AS BIGINT) AS hamming
      |  FROM cand JOIN bands ba ON ba.e = id_a JOIN bands bb ON bb.e = id_b AND bb.band = ba.band
      |  GROUP BY 1, 2)""".stripMargin

  /** SQL replica of q_video_dedup (and its capped twin): rebuild the GIF
    * fixture's frames, stride-2 sampling, the 8×8 grid, aHash bits, the
    * four 16-bit band keys, ALIGNED (band, key, frame) candidate
    * buckets, per-frame Hamming, and the >= 2 matched-positions gate.
    * With `cap` set, buckets over it replay `Dedup.bandedVerify`'s star
    * fallback in the frame-aligned bucket dimension — pairs only between
    * the bucket's min-id hub and its members, exactly as the engine
    * degrades (the composite id clip*4096+frame has a fixed frame within
    * a bucket, so min composite = min clip).
    */
  private def videoPairCtes(cap: Option[Int]): String = {
    val candCtes = cap match {
      case None =>
        """cand AS (SELECT DISTINCT a.e AS id_a, c.e AS id_b, a.f AS f FROM bands a
          |  JOIN bands c ON a.band = c.band AND a.bkey = c.bkey AND a.f = c.f AND a.e < c.e)""".stripMargin
      case Some(cp) =>
        s"""bsz AS (SELECT band, bkey, f, count(*) AS n FROM bands GROUP BY 1, 2, 3),
           |sane AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey, f) WHERE n <= $cp),
           |scand AS (SELECT a.e AS id_a, c.e AS id_b, a.f AS f FROM sane a
           |  JOIN sane c ON a.band = c.band AND a.bkey = c.bkey AND a.f = c.f AND a.e < c.e),
           |big AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey, f) WHERE n > $cp),
           |hubs AS (SELECT band, bkey, f, min(e) AS hub FROM big GROUP BY 1, 2, 3),
           |starc AS (SELECT hub AS id_a, e AS id_b, f FROM big JOIN hubs USING (band, bkey, f)
           |  WHERE e <> hub),
           |cand AS (SELECT DISTINCT id_a, id_b, f FROM
           |  (SELECT * FROM scand UNION ALL SELECT * FROM starc))""".stripMargin
    }
    s"""src AS (SELECT event_id AS e, event_id // 5 AS g, event_id % 5 AS v FROM events WHERE event_id % 100000000 >= 840 AND event_id % 100000000 < 980),
       |dims AS (SELECT e, g, v, 9 + g % 8 AS w, 8 + g % 6 AS h, 4 + v % 2 AS nf FROM src),
       |fr AS (SELECT e, g, v, w, h, UNNEST(range(0, nf, 2)) AS f FROM dims),
       |grid AS (SELECT e, g, v, f, gi.i AS gi, gj.i AS gj, (gi.i * w) // 8 AS x, (gj.i * h) // 8 AS y
       |  FROM fr CROSS JOIN range(0, 8) gi(i) CROSS JOIN range(0, 8) gj(i)),
       |gray AS (SELECT e, f, gi, gj, (g * 23 + 13 * f + 7 * x + 11 * y + v) % 256 AS gv FROM grid),
       |tot AS (SELECT e, f, SUM(gv) AS s FROM gray GROUP BY e, f),
       |bits AS (SELECT gray.e AS e, gray.f AS f, gj * 8 + gi AS bp, CASE WHEN 64 * gv > s THEN 1 ELSE 0 END AS bit
       |  FROM gray JOIN tot ON gray.e = tot.e AND gray.f = tot.f),
       |bands AS (SELECT e, f, bp // 16 AS band, CAST(SUM(bit * (1 << (bp % 16))) AS BIGINT) AS bkey
       |  FROM bits GROUP BY 1, 2, 3),
       |$candCtes,
       |ham AS (SELECT id_a, id_b, cand.f AS f, CAST(SUM(bit_count(xor(ba.bkey, bb.bkey))) AS BIGINT) AS hamming
       |  FROM cand JOIN bands ba ON ba.e = id_a AND ba.f = cand.f
       |  JOIN bands bb ON bb.e = id_b AND bb.f = cand.f AND bb.band = ba.band
       |  GROUP BY 1, 2, 3),
       |vpairs AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_frames FROM ham
       |  WHERE hamming <= 3 GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
  }

  /** Hamming-verified pairs over a media pair CTE chain. */
  private def mediaPairSql(pairCtes: String): String =
    s"""WITH $pairCtes
       |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " ")

  /** Clusters over a media pair CTE chain's Hamming-verified pairs. */
  private def mediaClustersSql(pairCtes: String): String =
    s"""WITH RECURSIVE $pairCtes,
       |verified AS (SELECT id_a, id_b FROM ham WHERE hamming <= 3),
       |${closureCtes(e = "e2")}
       |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin.replaceAll("\n", " ")

  private def videoPairSql(cap: Option[Int]): String =
    s"""WITH ${videoPairCtes(cap)}
       |SELECT id_a, id_b, n_frames FROM vpairs ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " ")

  /** Closure over the (optionally capped) video pair set — the composed
    * clip-clustering recipe in the frame-aligned bucket dimension.
    */
  private def videoClustersSql(cap: Option[Int]): String =
    s"""WITH RECURSIVE ${videoPairCtes(cap)},
       |${closureCtes("vpairs", e = "e2")}
       |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin.replaceAll("\n", " ")

  /** Shared CTE chain for the audio-dedup oracles: the bin-aligned tone
    * synthesis makes band energy ordering equal amplitude ordering, so
    * the oracle recomputes the 28 pairwise rank bits, the four 7-bit
    * band keys, banded candidate buckets, and exact Hamming — the full
    * `Audio.spectralHashBands` + `Dedup.audioNearDups` path — from the
    * amplitude formula alone (gain and duration cancel by construction).
    */
  private def audioPairCtes: String = audioPairCtesWith(None)

  /** Banded candidate pairs `cand(id_a, id_b)` over `bands(e, band,
    * bkey)`; with `cap` set, buckets over it replay
    * `Dedup.bandedVerify`'s star fallback (pairs only between the
    * bucket's min-id hub and its members).
    */
  private def bandCandCtes(cap: Option[Int]): String = cap match {
    case None =>
      """cand AS (SELECT DISTINCT a.e AS id_a, c.e AS id_b FROM bands a
        |  JOIN bands c ON a.band = c.band AND a.bkey = c.bkey AND a.e < c.e)""".stripMargin
    case Some(c) =>
      s"""bsz AS (SELECT band, bkey, count(*) AS n FROM bands GROUP BY 1, 2),
         |sane AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey) WHERE n <= $c),
         |scand AS (SELECT a.e AS id_a, c.e AS id_b FROM sane a
         |  JOIN sane c ON a.band = c.band AND a.bkey = c.bkey AND a.e < c.e),
         |big AS (SELECT bands.* FROM bands JOIN bsz USING (band, bkey) WHERE n > $c),
         |hubs AS (SELECT band, bkey, min(e) AS hub FROM big GROUP BY 1, 2),
         |starc AS (SELECT hub AS id_a, e AS id_b FROM big JOIN hubs USING (band, bkey)
         |  WHERE e <> hub),
         |cand AS (SELECT DISTINCT id_a, id_b FROM
         |  (SELECT * FROM scand UNION ALL SELECT * FROM starc))""".stripMargin
  }

  /** As [[audioPairCtes]] with an optional bucket cap: when `cap` is
    * set, (band, key) buckets over it replay `Dedup.bandedVerify`'s
    * star fallback — pairs only between the bucket's min-id hub and its
    * members — exactly as the Spark side degrades, so the capped branch
    * gates bit-for-bit where it fires.
    */
  private def audioPairCtesWith(cap: Option[Int]): String =
    s"""src AS (SELECT event_id AS e FROM events WHERE event_id % 100000000 >= 700 AND event_id % 100000000 < 840),
       |amps AS (SELECT e, b.i AS b, 300 + (((e // 5) * 7 + b.i * 13) % 32) * 60 AS a
       |  FROM src CROSS JOIN range(0, 8) b(i)),
       |prs AS (SELECT x.e AS e,
       |  x.b * 7 - (x.b * (x.b - 1)) // 2 + y.b - x.b - 1 AS bp,
       |  CASE WHEN x.a > y.a THEN 1 ELSE 0 END AS bit
       |  FROM amps x JOIN amps y ON x.e = y.e AND x.b < y.b),
       |bands AS (SELECT e, bp // 7 AS band, CAST(SUM(bit * (1 << (bp % 7))) AS BIGINT) AS bkey
       |  FROM prs GROUP BY 1, 2),
       |${bandCandCtes(cap)},
       |ham AS (SELECT id_a, id_b, CAST(SUM(bit_count(xor(ba.bkey, bb.bkey))) AS BIGINT) AS hamming
       |  FROM cand JOIN bands ba ON ba.e = id_a JOIN bands bb ON bb.e = id_b AND bb.band = ba.band
       |  GROUP BY 1, 2)""".stripMargin

  /** The embeddings ANN oracles' sides: q(q_id, v) where `qWhere`,
    * c(n_id, v) where `cWhere`.
    */
  private def embeddingSidesCtes(qWhere: String, cWhere: String): String =
    s"""q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE $qWhere),
       |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE $cWhere)""".stripMargin

  /** IVF probe mechanics over upstream q(q_id, v) and c(n_id, v):
    * assignment = argmax dot against the `cents` literals (ties to the
    * larger cell, as Spark's greatest(struct(sim, cell))), probe = the
    * top-2 cells per query by the same ordering, cosine rank within the
    * probed cells as CTE `scored(q_id, n_id, rank)`.
    */
  private def ivfProbeCtes(cents: Seq[(Int, Array[Double])], scored: String = "scored"): String =
    s"""cents(cell, cv) AS (VALUES ${centRows(cents)}),
       |assigned AS (SELECT n_id, v,
       |  (SELECT cell FROM cents ORDER BY list_dot_product(c.v, cv) DESC, cell DESC LIMIT 1) AS cell FROM c),
       |probed AS (SELECT q_id, v, p.cell
       |  FROM q, LATERAL (SELECT cell FROM cents ORDER BY list_dot_product(q.v, cv) DESC, cell DESC LIMIT 2) p),
       |$scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(probed.v, assigned.v) DESC, n_id) AS rank
       |  FROM probed JOIN assigned USING (cell))""".stripMargin

  /** SQL replica of q_embed_ivf: the embedAnnSql vector derivation (hashed
    * BoW, dim 32) feeding the annIvfSql probe mechanics (fixed-centroid
    * argmax assignment with ties to the larger cell, top-2 probe, cosine
    * rank within probed cells). The ±0.125 centroid components and the
    * integer-count vectors keep every comparison exact, so the composed
    * seam gates bit-for-bit like its two parents.
    */
  private def embedIvfSql: String =
    s"""WITH ${embedVecCtes()},
       |q AS (SELECT doc_id AS q_id, vec AS v FROM vecs WHERE doc_id % 100 = 0),
       |c AS (SELECT doc_id AS n_id, vec AS v FROM vecs WHERE doc_id % 100 <> 0),
       |${ivfProbeCtes(signCentroids)}
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")

  /** SQL replica of q_hybrid_rank_scale: the embedIvfSql dense tower
    * (fixed ±0.125 centroids, nProbe=2 lateral probe) fused with the
    * champion-list sparse tower (per-term top-32-by-tf nomination, exact
    * scoring of nominees) by integer Borda points — every stage of both
    * towers replays bit-exactly in SQL.
    */
  private def hybridRankScaleSql: String =
    s"""WITH ${embedVecCtes(cnt = "cc")},
       |qv AS (SELECT doc_id AS q_id, vec AS v FROM vecs WHERE doc_id % 100 = 0),
       |cvv AS (SELECT doc_id AS n_id, vec AS v FROM vecs WHERE doc_id % 100 <> 0),
       |cents(cell, cv) AS (VALUES ${centRows(signCentroids)}),
       |assigned AS (SELECT n_id, v,
       |  (SELECT cell FROM cents ORDER BY list_dot_product(cvv.v, cv) DESC, cell DESC LIMIT 1) AS cell FROM cvv),
       |probed AS (SELECT q_id, v, p.cell
       |  FROM qv, LATERAL (SELECT cell FROM cents ORDER BY list_dot_product(qv.v, cv) DESC, cell DESC LIMIT 2) p),
       |annr AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(probed.v, assigned.v) DESC, n_id) AS rank
       |  FROM probed JOIN assigned USING (cell)),
       |ann AS (SELECT q_id, n_id, rank FROM annr WHERE rank <= 5),
       |cd AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 <> 0),
       |${lexIdfCtes("cd")},
       |post AS (SELECT term, doc_id, count(*) AS tf FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM cd) GROUP BY 1, 2),
       |champ AS (SELECT term, doc_id FROM (SELECT term, doc_id,
       |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS cr FROM post)
       |  WHERE cr <= 32),
       |qt AS (SELECT q_id, term, count(*) AS qtf FROM
       |  (SELECT doc_id AS q_id, unnest(string_split(text, ' ')) AS term
       |   FROM documents WHERE doc_id % 100 = 0) GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT qt.q_id, champ.doc_id FROM qt JOIN champ USING (term)),
       |sc AS (SELECT cand.q_id, cand.doc_id, sum(qt.qtf * post.tf * idf.idf_bits) AS score
       |  FROM cand JOIN qt ON qt.q_id = cand.q_id
       |  JOIN post ON post.term = qt.term AND post.doc_id = cand.doc_id
       |  JOIN idf ON idf.term = qt.term GROUP BY 1, 2),
       |lexr AS (SELECT q_id, doc_id AS n_id,
       |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc),
       |lex AS (SELECT q_id, n_id, rank FROM lexr WHERE rank <= 5),
       |pts AS (SELECT q_id, n_id, 6 - rank AS p FROM ann
       |  UNION ALL SELECT q_id, n_id, 6 - rank AS p FROM lex),
       |fused AS (SELECT q_id, n_id, CAST(sum(p) AS BIGINT) AS points FROM pts GROUP BY 1, 2),
       |fr AS (SELECT q_id, n_id, points,
       |  row_number() OVER (PARTITION BY q_id ORDER BY points DESC, n_id) AS rank FROM fused)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, points
       |FROM fr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " ")

  /** Shared CTE chain for the BPE oracles: the FIXED merge table (rendered
    * from the Scala tokenizer — single source of truth), the distinct
    * vocabulary, and a recursive replay of the greedy apply loop: each
    * iteration joins the lowest-rank pair present in the word's current
    * symbol list and rewrites the list merging ALL its occurrences in one
    * parallel pass (exact because no rule has left == right, so
    * occurrences never overlap). Terminal symbol count per word =
    * min(len) over iterations (lengths strictly decrease); per-doc totals
    * sum the per-word counts.
    */
  private def bpeCtes: String = {
    val rows = graft.ops.Tokenize.FixedBpeTokenizer.merges.zipWithIndex
      .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")
    s"""merges(rank, a, b) AS (VALUES $rows),
       |w0 AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
       |bpe(w, syms) AS (
       |  SELECT w, string_split(w, '') FROM w0
       |  UNION ALL
       |  SELECT s.w,
       |    list_filter(
       |      list_transform(range(1, len(s.syms) + 1), i ->
       |        CASE WHEN i < len(s.syms) AND s.syms[i] = m.a AND s.syms[i + 1] = m.b THEN m.a || m.b
       |             WHEN i > 1 AND s.syms[i - 1] = m.a AND s.syms[i] = m.b THEN NULL
       |             ELSE s.syms[i] END),
       |      x -> x IS NOT NULL)
       |  FROM (SELECT w, syms,
       |          (SELECT min(m2.rank) FROM merges m2
       |            WHERE len(list_filter(range(1, len(syms)), i -> syms[i] = m2.a AND syms[i + 1] = m2.b)) > 0) AS br
       |        FROM bpe) s
       |  JOIN merges m ON m.rank = s.br),
       |wcounts AS (SELECT w, min(len(syms)) AS n_tok FROM bpe GROUP BY w),
       |doc_words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |totals AS (SELECT d.doc_id, CAST(coalesce(sum(c.n_tok), 0) AS BIGINT) AS n_tokens
       |  FROM doc_words d LEFT JOIN wcounts c ON d.w = c.w GROUP BY 1)""".stripMargin
  }

  private def tokensBpeSql: String =
    s"WITH RECURSIVE ${bpeCtes} SELECT doc_id, n_tokens FROM totals ORDER BY doc_id"
      .replaceAll("\n", " ")

  private def bpeBudgetSql: String =
    s"""WITH RECURSIVE ${bpeCtes}
       |SELECT doc_id, n_tokens, n_chars FROM (
       |  SELECT d.doc_id, t.n_tokens, d.n_chars,
       |    sum(t.n_tokens) OVER (ORDER BY d.n_chars DESC, d.doc_id) AS cum
       |  FROM documents d JOIN totals t USING (doc_id))
       |WHERE cum <= 8000 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_perplexity_lm: re-derive the quantized bigram LM
    * from scratch — reference-slice unigram/bigram counts, V, then per
    * doc-bigram a = c12+1, b = c1+V, m = ceil(b/a) in INTEGER division,
    * q = ceil(log2 m) via the bit length of m−1 (`bin` string — both
    * engines expose it, no floating log), summed per doc. Unseen-context
    * fallback c1 = 0 and the zero-bigram vacuous keep replay exactly;
    * the kept flag is the 109/20 bits-per-bigram cross-multiplication.
    */
  private def perplexityLmSql: String =
    """WITH ref AS (SELECT text FROM documents WHERE doc_id % 3 = 0),
      |refw AS (SELECT unnest(string_split(text, ' ')) AS w FROM ref),
      |uni AS (SELECT w, count(*) AS c1 FROM refw GROUP BY w),
      |voc AS (SELECT count(*) AS v FROM uni),
      |refl AS (SELECT string_split(text, ' ') AS l FROM ref),
      |refb AS (SELECT l[i] AS w1, l[i+1] AS w2 FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM refl)),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM refb GROUP BY 1, 2),
      |docl AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |docb AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2 FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM docl)),
      |sc AS (SELECT d.doc_id, coalesce(b.c12, 0) + 1 AS a, coalesce(u.c1, 0) + (SELECT v FROM voc) AS bb
      |  FROM docb d LEFT JOIN big b USING (w1, w2) LEFT JOIN uni u ON d.w1 = u.w),
      |qq AS (SELECT doc_id, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS q
      |  FROM (SELECT doc_id, (bb + a - 1) // a AS m FROM sc)),
      |agg AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS bits, CAST(count(*) AS BIGINT) AS n_bigrams FROM qq GROUP BY 1)
      |SELECT d.doc_id, coalesce(a.bits, 0) AS bits, coalesce(a.n_bigrams, 0) AS n_bigrams,
      |  CAST(CASE WHEN coalesce(a.bits, 0) * 20 <= 109 * coalesce(a.n_bigrams, 0)
      |    OR coalesce(a.n_bigrams, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_c4_lines: rebuild the synthetic lines, re-apply
    * the three C4 rules (terminal punctuation, min words, policy
    * phrases) as a list_filter, rejoin, and drop line-less docs.
    */
  private def c4LinesSql: String =
    """WITH lined AS (SELECT doc_id,
      |  CASE WHEN doc_id % 97 = 5 THEN 'all bad' || chr(10) || 'no punct here' || chr(10) || 'short.'
      |  ELSE 'too short.' || chr(10) || 'this line has no terminal punctuation' || chr(10) ||
      |    'doc ' || CAST(doc_id AS VARCHAR) || ' body follows now.' || chr(10) ||
      |    CASE WHEN doc_id % 4 = 0 THEN 'please enable JavaScript to continue.' || chr(10) ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN 'We use cookies on this site.' || chr(10) ELSE '' END ||
      |    text || ' tail marker ends here.' END AS t FROM documents),
      |f AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined),
      |k AS (SELECT doc_id, ls, list_filter(ls, l ->
      |  (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
      |  AND len(string_split(l, ' ')) >= 3
      |  AND NOT contains(lower(l), 'javascript') AND NOT contains(lower(l), 'cookie')
      |  AND NOT contains(lower(l), 'lorem ipsum') AND NOT contains(lower(l), '{')) AS ks FROM f)
      |SELECT doc_id, array_to_string(ks, chr(10)) AS text,
      |  CAST(len(ls) AS BIGINT) AS n_lines, CAST(len(ks) AS BIGINT) AS n_kept
      |FROM k WHERE len(ks) >= 1 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_curation_v3 — the five r11 stage oracles chained
    * in one statement: the q_c4_lines line filter, the q_pii_scrub
    * plant+scrub chain re-rooted on the cleaned text plus the density
    * cut, the q_nb_quality cost machinery scoring the SCRUBBED text at
    * the -2 margin, `cappedNearDupCtes` over the survivors, and the
    * q_leakage_split transitive closure + split hash. Every constant
    * matches the Spark query; every pseudo-random draw is md5-family,
    * so the whole DAG replays bit-for-bit.
    */
  private def curationV3Sql: String = {
    val (piiCtes, piiFin) = piiScrubChain(
      s"SELECT doc_id, $piiPlantedExpr AS t FROM c4", "p")
    val nearDup = cappedNearDupCtes(1, 0.9, from = Some("s3"))
    s"""WITH RECURSIVE lined AS (SELECT doc_id,
       |  CASE WHEN doc_id % 97 = 5 THEN 'all bad' || chr(10) || 'no punct here' || chr(10) || 'short.'
       |  ELSE 'too short.' || chr(10) || 'this line has no terminal punctuation' || chr(10) ||
       |    'doc ' || CAST(doc_id AS VARCHAR) || ' body follows now.' || chr(10) ||
       |    CASE WHEN doc_id % 4 = 0 THEN 'please enable JavaScript to continue.' || chr(10) ELSE '' END ||
       |    CASE WHEN doc_id % 7 = 0 THEN 'We use cookies on this site.' || chr(10) ELSE '' END ||
       |    text || ' tail marker ends here.' END AS t0 FROM documents),
       |cf AS (SELECT doc_id, string_split(t0, chr(10)) AS ls FROM lined),
       |ck AS (SELECT doc_id, list_filter(ls, l ->
       |  (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
       |  AND len(string_split(l, ' ')) >= 3
       |  AND NOT contains(lower(l), 'javascript') AND NOT contains(lower(l), 'cookie')
       |  AND NOT contains(lower(l), 'lorem ipsum') AND NOT contains(lower(l), '{')) AS ks FROM cf),
       |c4 AS MATERIALIZED (SELECT doc_id, array_to_string(ks, chr(10)) AS text FROM ck WHERE len(ks) >= 1),
       |$piiCtes,
       |s2 AS MATERIALIZED (SELECT doc_id, t, n_email, n_card, n_ssn, n_ip FROM $piiFin
       |  WHERE n_email + n_card + n_ssn + n_ip <= 3),
       |nbseed AS (SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents WHERE doc_id % 3 = 0),
       |${nbScoreCtes("t")},
       |s3 AS MATERIALIZED (SELECT s2.doc_id, s2.t AS text, s2.n_email, s2.n_card, s2.n_ssn, s2.n_ip
       |  FROM s2 LEFT JOIN nbagg USING (doc_id)
       |  WHERE coalesce(nbagg.s0, 0) + (SELECT p0 FROM nbpbits)
       |    - (coalesce(nbagg.sc1, 0) + (SELECT p1 FROM nbpbits)) >= -2),
       |$nearDup,
       |${closureCtes()},
       |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
       |SELECT s3.doc_id, s3.text, s3.n_email, s3.n_card, s3.n_ssn, s3.n_ip,
       |  coalesce(c.cluster, s3.doc_id) AS root,
       |  CAST(('0x' || substr(md5('split:' || CAST(coalesce(c.cluster, s3.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS split
       |FROM s3 LEFT JOIN comp c ON c.id = s3.doc_id
       |ORDER BY s3.doc_id""".stripMargin.replaceAll("\n", " ")
  }

  /** Planted URL variant expression shared by the q_url_dedup and
    * q_stream_url_dedup oracles: five shapes per page group keyed on
    * `idExpr` — mirrors the Spark-side when-chain.
    */
  private def plantedUrlExpr(idExpr: String): String =
    s"""CASE $idExpr % 5
       |    WHEN 0 THEN 'http://site' || CAST($idExpr // 5 AS VARCHAR) || '.example.com/p/' || CAST($idExpr // 5 AS VARCHAR) || '?a=1&b=2'
       |    WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST($idExpr // 5 AS VARCHAR) || '.EXAMPLE.COM/p/' || CAST($idExpr // 5 AS VARCHAR) || '?a=1&b=2'
       |    WHEN 2 THEN 'https://site' || CAST($idExpr // 5 AS VARCHAR) || '.example.com/p/' || CAST($idExpr // 5 AS VARCHAR) || '/?b=2&a=1'
       |    WHEN 3 THEN 'http://site' || CAST($idExpr // 5 AS VARCHAR) || '.example.com/p/' || CAST($idExpr // 5 AS VARCHAR) || '?a=1&b=2&utm_source=feed&fbclid=X' || CAST($idExpr // 5 AS VARCHAR)
       |    ELSE 'https://site' || CAST($idExpr // 5 AS VARCHAR) || '.example.com/p/' || CAST($idExpr // 5 AS VARCHAR) || '?a=1&b=2#sec' || CAST($idExpr % 5 AS VARCHAR)
       |  END""".stripMargin

  /** Canonicalization CTE chain shared by the URL oracles: expects a CTE
    * `u(doc_id, url)` upstream, ends in `canon(doc_id, url_canon)` —
    * every rule of [[graft.ops.Url.canonicalize]] replayed (fragment
    * strip, case-insensitive scheme strip, host-only lowercase + www
    * strip, trailing-slash strip, tracking-param filter + byte-wise
    * param sort).
    */
  private def urlCanonChain: String =
    """s1 AS (SELECT doc_id, regexp_replace(regexp_replace(url, '#.*$', ''), '^https?://', '', 'i') AS u2 FROM u),
      |s2 AS (SELECT *, strpos(u2, '/') AS isl, strpos(u2, '?') AS iq FROM s1),
      |s3 AS (SELECT *, CASE WHEN isl > 0 AND (iq = 0 OR isl < iq) THEN isl WHEN iq > 0 THEN iq ELSE 0 END AS cut FROM s2),
      |s4 AS (SELECT doc_id,
      |  regexp_replace(lower(CASE WHEN cut > 0 THEN substr(u2, 1, cut - 1) ELSE u2 END), '^www\.', '') AS host,
      |  CASE WHEN cut > 0 THEN substr(u2, cut) ELSE '' END AS rest FROM s3),
      |s5 AS (SELECT *, strpos(rest, '?') AS qp FROM s4),
      |s6 AS (SELECT doc_id, host,
      |  regexp_replace(CASE WHEN qp > 0 THEN substr(rest, 1, qp - 1) ELSE rest END, '/$', '') AS path,
      |  CASE WHEN qp > 0 THEN substr(rest, qp + 1) ELSE '' END AS query0 FROM s5),
      |s7 AS (SELECT doc_id, host, path,
      |  array_to_string(list_sort(list_filter(string_split(query0, '&'),
      |    x -> NOT regexp_matches(x, '^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=') AND x <> '')), '&') AS q FROM s6),
      |canon AS (SELECT doc_id, host || path || CASE WHEN length(q) > 0 THEN '?' || q ELSE '' END AS url_canon FROM s7)""".stripMargin

  /** SQL replica of q_url_dedup: replant the five URL variants per
    * group, run the shared canonicalization chain, then the
    * min-id-keeper group dedup.
    */
  private def urlDedupSql: String =
    s"""WITH u AS (SELECT doc_id, ${plantedUrlExpr("doc_id")} AS url FROM documents),
      |$urlCanonChain,
      |grp AS (SELECT url_canon, min(doc_id) AS keep, count(*) AS n_dups FROM canon GROUP BY 1)
      |SELECT c.doc_id, c.url_canon, g.n_dups,
      |  CAST(CASE WHEN c.doc_id = g.keep THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM canon c JOIN grp g USING (url_canon) ORDER BY c.doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_stream_url_dedup: the streamed frontier's landed
    * key set must equal the batch DISTINCT over canonical URLs — batch
    * semantics regardless of micro-batch boundaries (the watermark spans
    * the whole event range, so no dedup state ages out mid-run).
    */
  private def streamUrlDedupSql: String =
    s"""WITH u AS (SELECT event_id AS doc_id, ${plantedUrlExpr("event_id")} AS url
      |  FROM events WHERE event_id < 4000),
      |$urlCanonChain
      |SELECT DISTINCT url_canon FROM canon ORDER BY url_canon""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_url_frontier: pages from all three waves' listings
    * (seen-set compacted between waves 2 and 3), wave = the slice whose
    * listing first covered the page group — one row per canonical URL,
    * ever, is the fetched-exactly-once contract, across the compaction.
    */
  private def urlFrontierSql: String =
    s"""WITH u AS (SELECT event_id AS doc_id, ${plantedUrlExpr("event_id")} AS url
      |  FROM events WHERE event_id < 4000),
      |$urlCanonChain,
      |pages AS (SELECT url_canon,
      |  CAST(CASE WHEN min(doc_id) < 1500 THEN 1 WHEN min(doc_id) < 3000 THEN 2 ELSE 3 END AS BIGINT) AS wave
      |  FROM canon GROUP BY 1)
      |SELECT url_canon, md5(url_canon) AS content_hash, wave FROM pages ORDER BY url_canon""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_pii_scrub: replant the synthetic PII, then apply
    * the same pattern sequence with DuckDB's RE2 engine — counts taken
    * on the pre-replacement state of each step, replacements global.
    * The patterns deliberately stay in the Java/RE2 agreement subset;
    * this oracle is the proof that they do.
    */
  /** Deterministic PII planting shared by q_pii_scrub and
    * q_curation_v3: email + IP always, card on doc_id % 3, SSN on
    * doc_id % 5, prefixed to the document text. [[piiPlantedExpr]] is
    * its SQL twin.
    */
  private def plantPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        lit("contact u"), col("doc_id"), lit("@mail.example.com at 10."),
        (col("doc_id") % 200).cast("string"), lit(".0.7 "),
        when(col("doc_id") % 3 === 0,
          concat(lit("card 4111 1111 1111 "),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" ")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("ssn 123-45-6789 ")).otherwise(lit("")),
        col("text")).as("text"))

  /** Planted-PII text expression shared by the q_pii_scrub and
    * q_curation_v3 oracles — mirrors the Spark-side concat.
    */
  private def piiPlantedExpr: String =
    """'contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com at 10.' ||
      | CAST(doc_id % 200 AS VARCHAR) || '.0.7 ' ||
      | CASE WHEN doc_id % 3 = 0 THEN 'card 4111 1111 1111 ' ||
      |   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0 THEN 'ssn 123-45-6789 ' ELSE '' END || text""".stripMargin

  /** PII scrub CTE chain: `<p>0` is `srcSelect` (must yield doc_id, t);
    * each step counts-then-replaces one default pattern. Returns
    * (cteListSql, finalTableName); the final table carries
    * (doc_id, t, n_email, n_card, n_ssn, n_ip).
    */
  private def piiScrubChain(srcSelect: String, p: String): (String, String) = {
    val patterns = graft.ops.Redact.defaultPatterns
    val steps = patterns.zipWithIndex.map { case (pat, i) =>
      // DuckDB standard strings don't escape backslashes — the regex
      // passes through verbatim; only quotes need doubling
      val re = pat.regex.replace("'", "''")
      val carried = (0 until i).map(j => s"n_${patterns(j).name}, ").mkString
      s"""$p${i + 1} AS (SELECT doc_id, regexp_replace(t, '$re', '${pat.token}', 'g') AS t,
         |  ${carried}CAST(len(regexp_extract_all(t, '$re')) AS BIGINT) AS n_${pat.name}
         |  FROM $p$i)""".stripMargin
    }
    ((s"${p}0 AS ($srcSelect)" +: steps).mkString(", "), s"$p${patterns.size}")
  }

  private def piiScrubSql: String = {
    val (ctes, fin) = piiScrubChain(
      s"SELECT doc_id, $piiPlantedExpr AS t FROM documents", "s")
    val names = graft.ops.Redact.defaultPatterns.map(p => s"n_${p.name}").mkString(", ")
    s"WITH $ctes SELECT doc_id, t AS text, $names FROM $fin ORDER BY doc_id"
      .replaceAll("\n", " ")
  }

  /** SQL replica of q_stream_nb: the q_stream_quality oracle (Gopher
    * pass + quantized-LM keep, identical CTEs) extended with the
    * q_nb_quality cost machinery scoring the LM survivors, filtered at
    * the -2-bit margin. Pure batch computation — the streamed landing
    * must equal it regardless of batch boundaries.
    */
  private def streamNbSql: String =
    s"""WITH ${gopherGateCtes},
      |${perplexityCtes("documents")},
      |s2 AS (SELECT s1.doc_id, s1.text, coalesce(plagg.bits, 0) AS bits, coalesce(plagg.nb, 0) AS n_bigrams
      |  FROM s1 LEFT JOIN plagg USING (doc_id)
      |  WHERE coalesce(plagg.bits, 0) * 20 <= 109 * coalesce(plagg.nb, 0) OR coalesce(plagg.nb, 0) = 0),
      |nbseed AS (SELECT d.doc_id, d.text, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents d WHERE d.doc_id % 3 = 0),
      |${nbScoreCtes("text")}
      |SELECT s2.doc_id, s2.bits, s2.n_bigrams,
      |  coalesce(nbagg.s0, 0) + (SELECT p0 FROM nbpbits) AS bits0,
      |  coalesce(nbagg.sc1, 0) + (SELECT p1 FROM nbpbits) AS bits1
      |FROM s2 LEFT JOIN nbagg USING (doc_id)
      |WHERE coalesce(nbagg.s0, 0) + (SELECT p0 FROM nbpbits)
      |  - (coalesce(nbagg.sc1, 0) + (SELECT p1 FROM nbpbits)) >= -2
      |ORDER BY s2.doc_id""".stripMargin.replaceAll("\n", " ")

  /** The Gopher rule inputs per document of `src` as CTE `name`: word
    * count, mean word length, '#' and '...' counts, lines and words.
    */
  private def gopherFeaturesCte(name: String, src: String): String =
    s"""$name AS (SELECT doc_id,
       |  len(string_split(text, ' ')) AS nw,
       |  (length(text) - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ml,
       |  len(regexp_extract_all(text, '#')) AS nh,
       |  len(regexp_extract_all(text, '\\.\\.\\.')) AS ne,
       |  string_split(text, chr(10)) AS ls,
       |  string_split(text, ' ') AS w
       |  FROM $src)""".stripMargin

  /** The q_gopher_filter gate over `documents` as CTEs `gf`, `gg` (the
    * product of the eight 0/1 rules) and the survivors `s1(doc_id, text)`.
    */
  private def gopherGateCtes: String =
    s"""${gopherFeaturesCte("gf", "documents")},
       |gg AS (SELECT doc_id,
       |  CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END
       |  * CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1 ELSE 0 END
       |  * CASE WHEN nh / CAST(nw AS DOUBLE) <= 0.1 THEN 1 ELSE 0 END
       |  * CASE WHEN ne / CAST(nw AS DOUBLE) <= 0.1 THEN 1 ELSE 0 END
       |  * CASE WHEN len(list_filter(ls, l -> substr(l, 1, 1) IN ('-', '*'))) / CAST(len(ls) AS DOUBLE) <= 0.9 THEN 1 ELSE 0 END
       |  * CASE WHEN len(list_filter(ls, l -> ends_with(l, '...'))) / CAST(len(ls) AS DOUBLE) <= 0.3 THEN 1 ELSE 0 END
       |  * CASE WHEN len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) / CAST(nw AS DOUBLE) >= 0.8 THEN 1 ELSE 0 END
       |  * CASE WHEN len(list_filter(w, t -> t IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) >= 2 THEN 1 ELSE 0 END AS pass
       |  FROM gf),
       |s1 AS (SELECT d.doc_id, d.text FROM documents d JOIN gg USING (doc_id) WHERE gg.pass = 1)""".stripMargin

  /** The q_perplexity_lm bigram LM as `pl`-prefixed CTEs: trained on the
    * doc_id % 3 = 0 slice of `refSrc`, scoring the docs of `s1`, ending
    * in `plagg(doc_id, bits, nb)`.
    */
  private def perplexityCtes(refSrc: String): String =
    s"""plref AS (SELECT text FROM $refSrc WHERE doc_id % 3 = 0),
       |plrw AS (SELECT unnest(string_split(text, ' ')) AS w FROM plref),
       |pluni AS (SELECT w, count(*) AS c1 FROM plrw GROUP BY w),
       |plvoc AS (SELECT count(*) AS v FROM pluni),
       |plrl AS (SELECT string_split(text, ' ') AS l FROM plref),
       |plrb AS (SELECT l[i] AS w1, l[i+1] AS w2 FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM plrl)),
       |plbig AS (SELECT w1, w2, count(*) AS c12 FROM plrb GROUP BY 1, 2),
       |pldl AS (SELECT doc_id, string_split(text, ' ') AS l FROM s1),
       |pldb AS (SELECT doc_id, l[i] AS w1, l[i+1] AS w2 FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM pldl)),
       |plsc AS (SELECT d.doc_id, coalesce(b.c12, 0) + 1 AS a, coalesce(u.c1, 0) + (SELECT v FROM plvoc) AS bb
       |  FROM pldb d LEFT JOIN plbig b USING (w1, w2) LEFT JOIN pluni u ON d.w1 = u.w),
       |plqq AS (SELECT doc_id, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS q
       |  FROM (SELECT doc_id, (bb + a - 1) // a AS m FROM plsc)),
       |plagg AS (SELECT doc_id, CAST(sum(q) AS BIGINT) AS bits, CAST(count(*) AS BIGINT) AS nb FROM plqq GROUP BY 1)""".stripMargin

  /** The q_nb_quality Naive Bayes as `nb`-prefixed CTEs: trained on an
    * upstream `nbseed(doc_id, text, y)`, scoring column `textCol` of an
    * upstream `s2`, ending in `nbagg(doc_id, s0, sc1)` with the prior
    * bits in `nbpbits(p0, p1)`.
    */
  private def nbScoreCtes(textCol: String): String =
    s"""nbsw AS (SELECT y, unnest(string_split(text, ' ')) AS w FROM nbseed),
       |nbcnt AS (SELECT w, sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
       |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1 FROM nbsw GROUP BY w),
       |nbtot AS (SELECT sum(c0) AS n0, sum(c1) AS n1, count(*) AS v FROM nbcnt),
       |nbpri AS (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS d0,
       |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS d1 FROM nbseed),
       |nbq AS (SELECT w,
       |  CASE WHEN m0 <= 1 THEN 0 ELSE length(bin(m0 - 1)) END AS q0,
       |  CASE WHEN m1 <= 1 THEN 0 ELSE length(bin(m1 - 1)) END AS q1
       |  FROM (SELECT w,
       |    ((SELECT n0 + v FROM nbtot) + c0) // (c0 + 1) AS m0,
       |    ((SELECT n1 + v FROM nbtot) + c1) // (c1 + 1) AS m1 FROM nbcnt)),
       |nbdefs AS (SELECT
       |  CASE WHEN n0 + v <= 1 THEN 0 ELSE length(bin(n0 + v - 1)) END AS qd0,
       |  CASE WHEN n1 + v <= 1 THEN 0 ELSE length(bin(n1 + v - 1)) END AS qd1 FROM nbtot),
       |nbpbits AS (SELECT
       |  CASE WHEN m0 <= 1 THEN 0 ELSE length(bin(m0 - 1)) END AS p0,
       |  CASE WHEN m1 <= 1 THEN 0 ELSE length(bin(m1 - 1)) END AS p1
       |  FROM (SELECT (d0 + d1 + 2 + d0) // (d0 + 1) AS m0,
       |    (d0 + d1 + 2 + d1) // (d1 + 1) AS m1 FROM nbpri)),
       |nbdt AS (SELECT doc_id, unnest(string_split($textCol, ' ')) AS w FROM s2),
       |nbsc AS (SELECT d.doc_id,
       |  coalesce(nbq.q0, (SELECT qd0 FROM nbdefs)) AS q0,
       |  coalesce(nbq.q1, (SELECT qd1 FROM nbdefs)) AS q1
       |  FROM nbdt d LEFT JOIN nbq USING (w)),
       |nbagg AS (SELECT doc_id, CAST(sum(q0) AS BIGINT) AS s0, CAST(sum(q1) AS BIGINT) AS sc1 FROM nbsc GROUP BY 1)""".stripMargin

  /** SQL replica of q_nb_quality: re-derive the quantized Naive Bayes
    * from scratch — seed per-word per-class counts, class token totals
    * n0/n1, vocabulary V, doc priors d0/d1; per-word costs
    * q_c = ceil(log2 ceil((n_c + V)/(c_wc + 1))) via the bit length of
    * m - 1 (integer-only, the `bin` trick both engines share); unseen
    * words pay the class-constant default (c = 0); per-doc multinomial
    * sums + quantized prior bits; label = cheaper class, ties to 0;
    * kept = margin-0 integer comparison.
    */
  private def nbQualitySql: String =
    """WITH seed AS (SELECT doc_id, text, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE doc_id % 3 = 0),
      |sw AS (SELECT y, unnest(string_split(text, ' ')) AS w FROM seed),
      |cnt AS (SELECT w, sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
      |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1 FROM sw GROUP BY w),
      |tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1, count(*) AS v FROM cnt),
      |pri AS (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS d0,
      |  sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS d1 FROM seed),
      |q AS (SELECT w,
      |  CASE WHEN m0 <= 1 THEN 0 ELSE length(bin(m0 - 1)) END AS q0,
      |  CASE WHEN m1 <= 1 THEN 0 ELSE length(bin(m1 - 1)) END AS q1
      |  FROM (SELECT w,
      |    ((SELECT n0 + v FROM tot) + c0) // (c0 + 1) AS m0,
      |    ((SELECT n1 + v FROM tot) + c1) // (c1 + 1) AS m1 FROM cnt)),
      |defs AS (SELECT
      |  CASE WHEN n0 + v <= 1 THEN 0 ELSE length(bin(n0 + v - 1)) END AS qd0,
      |  CASE WHEN n1 + v <= 1 THEN 0 ELSE length(bin(n1 + v - 1)) END AS qd1 FROM tot),
      |pbits AS (SELECT
      |  CASE WHEN m0 <= 1 THEN 0 ELSE length(bin(m0 - 1)) END AS p0,
      |  CASE WHEN m1 <= 1 THEN 0 ELSE length(bin(m1 - 1)) END AS p1
      |  FROM (SELECT (d0 + d1 + 2 + d0) // (d0 + 1) AS m0,
      |    (d0 + d1 + 2 + d1) // (d1 + 1) AS m1 FROM pri)),
      |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |sc AS (SELECT d.doc_id,
      |  coalesce(q.q0, (SELECT qd0 FROM defs)) AS q0,
      |  coalesce(q.q1, (SELECT qd1 FROM defs)) AS q1
      |  FROM dt d LEFT JOIN q USING (w)),
      |agg AS (SELECT doc_id, CAST(sum(q0) AS BIGINT) AS s0, CAST(sum(q1) AS BIGINT) AS s1,
      |  CAST(count(*) AS BIGINT) AS n_tokens FROM sc GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(a.s0, 0) + (SELECT p0 FROM pbits) AS bits0,
      |  coalesce(a.s1, 0) + (SELECT p1 FROM pbits) AS bits1,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  CAST(CASE WHEN coalesce(a.s1, 0) + (SELECT p1 FROM pbits) <
      |    coalesce(a.s0, 0) + (SELECT p0 FROM pbits) THEN 1 ELSE 0 END AS BIGINT) AS label,
      |  CAST(CASE WHEN coalesce(a.s0, 0) + (SELECT p0 FROM pbits) -
      |    (coalesce(a.s1, 0) + (SELECT p1 FROM pbits)) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_curation_v2 — the four round-8 stage oracles
    * (gopher flags, perplexity LM, substring removal, DSIR) chained as
    * renamed CTE fragments, each IDENTICAL in construction to its
    * stand-alone proven oracle, re-rooted on the previous stage's
    * survivor set instead of `documents`.
    */
  private def curationV2Sql: String =
    s"""WITH ${gopherGateCtes},
      |${perplexityCtes("s1")},
      |s2 AS (SELECT s1.doc_id, s1.text FROM s1 LEFT JOIN plagg USING (doc_id)
      |  WHERE coalesce(plagg.bits, 0) * 20 <= 109 * coalesce(plagg.nb, 0) OR coalesce(plagg.nb, 0) = 0),
      |srd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2),
      |srg AS (SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i FROM srd WHERE len(ws) >= 8)),
      |srf AS (SELECT gram, min(doc_id * 1000000 + pos) AS fk FROM srg GROUP BY 1),
      |srcw AS (SELECT srg.doc_id, srg.pos FROM srg JOIN srf USING (gram)
      |  WHERE srg.doc_id * 1000000 + srg.pos <> srf.fk),
      |srcp AS (SELECT DISTINCT doc_id, wpos FROM
      |  (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS wpos FROM srcw)),
      |srw AS (SELECT doc_id, i - 1 AS wpos, ws[i] AS tok
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM srd)),
      |srk AS (SELECT srw.doc_id, srw.wpos, srw.tok FROM srw
      |  ANTI JOIN srcp c ON (srw.doc_id = c.doc_id AND srw.wpos = c.wpos)),
      |srr AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY wpos) AS text,
      |  count(*) AS n_kept FROM srk GROUP BY 1),
      |s3 AS (SELECT doc_id, text FROM srr WHERE n_kept >= 20),
      |dst AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents WHERE doc_id % 7 = 0),
      |dstc AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b,
      |  CAST(count(*) AS BIGINT) AS c FROM dst GROUP BY 1),
      |dstn AS (SELECT count(*) AS n FROM dst),
      |dsr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM s3),
      |dsrc AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b,
      |  CAST(count(*) AS BIGINT) AS c FROM dsr GROUP BY 1),
      |dsrn AS (SELECT count(*) AS n FROM dsr),
      |dsbk AS (SELECT unnest(generate_series(0, 511)) AS b),
      |dstb AS (SELECT b, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS bits
      |  FROM (SELECT dsbk.b, ((SELECT n FROM dstn) + 512 + coalesce(dstc.c, 0)) // (coalesce(dstc.c, 0) + 1) AS m
      |        FROM dsbk LEFT JOIN dstc USING (b))),
      |dsrb AS (SELECT b, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS bits
      |  FROM (SELECT dsbk.b, ((SELECT n FROM dsrn) + 512 + coalesce(dsrc.c, 0)) // (coalesce(dsrc.c, 0) + 1) AS m
      |        FROM dsbk LEFT JOIN dsrc USING (b))),
      |dssc AS (SELECT r.doc_id, rb.bits - tb.bits AS d
      |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b FROM dsr) r
      |  JOIN dstb tb ON tb.b = r.b JOIN dsrb rb ON rb.b = r.b)
      |SELECT doc_id, CAST(sum(d) AS BIGINT) AS weight_bits,
      |  CAST(count(*) AS BIGINT) AS n_tokens
      |FROM dssc GROUP BY 1 ORDER BY weight_bits DESC, doc_id LIMIT 500""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_stream_index_delta: embedIvfSql widened with wave
    * visibility — stream queries carry wave 1 (doc_id % 200 == 0) or
    * wave 2 (% 200 == 100); the corpus side is the base corpus (cwave 0)
    * plus the wave-1 stream docs (cwave 1), and a query only scores
    * corpus rows with cwave < wave (probe-then-append: each micro-batch
    * sees strictly earlier batches). Same exact-arithmetic guarantees as
    * embedIvfSql, so the growing-index stream gates bit-for-bit.
    */
  private def streamIndexDeltaSql: String =
    s"""WITH ${embedVecCtes()},
       |q AS (SELECT doc_id AS q_id, vec AS v,
       |  CASE WHEN doc_id % 200 = 0 THEN 1 ELSE 2 END AS wave
       |  FROM vecs WHERE doc_id % 100 = 0),
       |c AS (SELECT doc_id AS n_id, vec AS v,
       |  CASE WHEN doc_id % 100 <> 0 THEN 0 ELSE 1 END AS cwave
       |  FROM vecs WHERE doc_id % 100 <> 0 OR doc_id % 200 = 0),
       |cents(cell, cv) AS (VALUES ${centRows(signCentroids)}),
       |assigned AS (SELECT n_id, v, cwave,
       |  (SELECT cell FROM cents ORDER BY list_dot_product(c.v, cv) DESC, cell DESC LIMIT 1) AS cell FROM c),
       |probed AS (SELECT q_id, v, wave, p.cell
       |  FROM q, LATERAL (SELECT cell FROM cents ORDER BY list_dot_product(q.v, cv) DESC, cell DESC LIMIT 2) p),
       |scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(probed.v, assigned.v) DESC, n_id) AS rank
       |  FROM probed JOIN assigned USING (cell) WHERE assigned.cwave < probed.wave)
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")

  /** SQL replica of q_embed_lsh: the embedAnnSql vector derivation feeding
    * the annLshSql sign-signature bucketing (dim-32 planes). Integer dot
    * products make every signature bit exact.
    */
  private def embedLshSql: String = {
    val planes = graft.ops.Similarity.hyperplanes(dim = 32, nBits = 4)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(vec, ${sqlVec(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${embedVecCtes()},
       |qs AS (SELECT doc_id AS q_id, vec, $sig AS sig FROM vecs WHERE doc_id % 100 = 0),
       |cs AS (SELECT doc_id AS n_id, vec, $sig AS sig FROM vecs WHERE doc_id % 100 <> 0),
       |scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(qs.vec, cs.vec) DESC, n_id) AS rank
       |  FROM qs JOIN cs USING (sig))
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")
  }

  /** SQL replica of q_semantic_dedup: the embedAnnSql vector derivation,
    * the embedIvfSql centroid assignment (argmax dot, ties to the larger
    * cell), then the any-smaller-id drop rule over the CAPPED pair space:
    * cells at or under maxCellSize=60 pair all-pairs; cells over it are
    * md5-sub-split into ceil(n/60) sub-cells (the same
    * 60-bits-of-md5-as-long family the Spark operator uses, replayed
    * here as ('0x'||substr(md5(...),1,15))::BIGINT) paired within, plus
    * every sub-cell hub star-compared against the cell's min-id hub.
    * The cosine test is
    * replayed as dot² >= 9/16·|a|²·|b|² — every operand an exact
    * integer — so keep/drop matches bit-for-bit, capped branch included.
    */
  private def semanticDedupSql: String =
    s"""WITH ${embedVecCtes()},
       |cents(cell, cv) AS (VALUES ${centRows(signCentroids)}),
       |assigned AS (SELECT doc_id, vec,
       |  CAST((SELECT cell FROM cents ORDER BY list_dot_product(v.vec, cv) DESC, cell DESC LIMIT 1) AS BIGINT) AS cell FROM vecs v),
       |szs AS (SELECT cell, count(*) AS cn FROM assigned GROUP BY cell),
       |asg AS (SELECT a.doc_id, a.vec, a.cell,
       |  CASE WHEN s.cn > 60 THEN
       |    CAST(('0x' || substr(md5('sem:' || CAST(a.cell AS VARCHAR) || ':' || CAST(a.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % CAST(ceil(s.cn / 60.0) AS BIGINT)
       |  ELSE NULL END AS sub
       |  FROM assigned a JOIN szs s USING (cell)),
       |sane_pairs AS (SELECT a.vec AS va, b.vec AS vb, b.doc_id AS idb
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.doc_id < b.doc_id
       |  WHERE a.sub IS NULL AND b.sub IS NULL),
       |sub_pairs AS (SELECT a.vec AS va, b.vec AS vb, b.doc_id AS idb
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.sub = b.sub AND a.doc_id < b.doc_id),
       |hubs AS (SELECT cell, sub, min(doc_id) AS hid FROM asg WHERE sub IS NOT NULL GROUP BY cell, sub),
       |cellhub AS (SELECT cell, min(hid) AS chid FROM hubs GROUP BY cell),
       |star_pairs AS (SELECT av.vec AS va, bv.vec AS vb, h.hid AS idb
       |  FROM hubs h JOIN cellhub c USING (cell)
       |  JOIN asg av ON av.doc_id = c.chid
       |  JOIN asg bv ON bv.doc_id = h.hid
       |  WHERE h.hid <> c.chid),
       |pairs AS (SELECT * FROM sane_pairs UNION ALL SELECT * FROM sub_pairs UNION ALL SELECT * FROM star_pairs),
       |dropped AS (SELECT DISTINCT idb AS doc_id FROM pairs
       |  WHERE list_dot_product(va, vb) > 0
       |  AND list_dot_product(va, vb) * list_dot_product(va, vb)
       |      >= 0.5625 * list_dot_product(va, va) * list_dot_product(vb, vb))
       |SELECT s.doc_id, s.cell,
       |  CAST(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM assigned s LEFT JOIN dropped d ON s.doc_id = d.doc_id
       |ORDER BY s.doc_id""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_curation_pipeline: all seven stages — gopher gate,
    * corpus line dedup, capped LSH near-dup (via `cappedNearDupCtes`
    * re-pointed at the stage-2 survivor CTE), capped semantic dedup (the
    * semanticDedupSql CTEs over the stage-3 survivors), Bloom
    * decontamination, domain-mix coins and the per-language pack cumsum —
    * in one statement. Every constant (caps, thresholds, seeds, bitmap
    * geometry) matches the Spark query; every pseudo-random draw is
    * md5-family, so the whole DAG replays bit-for-bit.
    */
  private def curationPipelineSql: String = {
    val nearDup = cappedNearDupCtes(1, 0.95, from = Some("s2"))
    s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
       |pool AS MATERIALIZED (SELECT doc_id, lang, source, text, n_chars FROM documents WHERE doc_id % 97 <> 0),
       |${gopherFeaturesCte("gf", "pool")},
       |gp AS (SELECT doc_id FROM gf WHERE
       |  nw >= 50 AND nw <= 100000
       |  AND ml >= 3.0 AND ml <= 10.0
       |  AND nh / CAST(nw AS DOUBLE) <= 0.1
       |  AND ne / CAST(nw AS DOUBLE) <= 0.1
       |  AND len(list_filter(ls, l -> substr(l, 1, 1) IN ('-', '*'))) / CAST(len(ls) AS DOUBLE) <= 0.9
       |  AND len(list_filter(ls, l -> ends_with(l, '...'))) / CAST(len(ls) AS DOUBLE) <= 0.3
       |  AND len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) / CAST(nw AS DOUBLE) >= 0.8
       |  AND len(list_filter(w, t -> t IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) >= 2),
       |s1 AS MATERIALIZED (SELECT pool.* FROM pool JOIN gp USING (doc_id)),
       |lws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s1),
       |ld AS (SELECT doc_id, ci AS pos,
       |    array_to_string(list_slice(ws, ci * 10 + 1, ci * 10 + 10), ' ') AS ln
       |  FROM (SELECT doc_id, ws,
       |          unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS ci FROM lws)),
       |ldr AS (SELECT *, row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn FROM ld),
       |keptw AS (SELECT doc_id, count(*) AS n_kept FROM ldr WHERE rn = 1 GROUP BY doc_id),
       |s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN keptw USING (doc_id) WHERE n_kept >= 3),
       |$nearDup,
       |nd AS (SELECT DISTINCT id_b AS doc_id FROM verified),
       |s3 AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
       |${embedVecCtes(src = "s3", hs = "hsem")},
       |cents(cell, cv) AS (VALUES ${centRows(signCentroids)}),
       |assigned AS (SELECT doc_id, vec,
       |  CAST((SELECT cell FROM cents ORDER BY list_dot_product(v.vec, cv) DESC, cell DESC LIMIT 1) AS BIGINT) AS cell FROM vecs v),
       |szs AS (SELECT cell, count(*) AS cn FROM assigned GROUP BY cell),
       |asg AS MATERIALIZED (SELECT a.doc_id, a.vec, a.cell,
       |  CASE WHEN s.cn > 60 THEN
       |    CAST(('0x' || substr(md5('sem:' || CAST(a.cell AS VARCHAR) || ':' || CAST(a.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      % CAST(ceil(s.cn / 60.0) AS BIGINT)
       |  ELSE NULL END AS sub
       |  FROM assigned a JOIN szs s USING (cell)),
       |sem_sane AS (SELECT a.vec AS va, b.vec AS vb, b.doc_id AS idb
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.doc_id < b.doc_id
       |  WHERE a.sub IS NULL AND b.sub IS NULL),
       |sem_sub AS (SELECT a.vec AS va, b.vec AS vb, b.doc_id AS idb
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.sub = b.sub AND a.doc_id < b.doc_id),
       |sem_hubs AS (SELECT cell, sub, min(doc_id) AS hid FROM asg WHERE sub IS NOT NULL GROUP BY cell, sub),
       |sem_chub AS (SELECT cell, min(hid) AS chid FROM sem_hubs GROUP BY cell),
       |sem_star AS (SELECT av.vec AS va, bv.vec AS vb, h.hid AS idb
       |  FROM sem_hubs h JOIN sem_chub c USING (cell)
       |  JOIN asg av ON av.doc_id = c.chid
       |  JOIN asg bv ON bv.doc_id = h.hid
       |  WHERE h.hid <> c.chid),
       |sem_pairs AS (SELECT * FROM sem_sane UNION ALL SELECT * FROM sem_sub UNION ALL SELECT * FROM sem_star),
       |sem_drop AS (SELECT DISTINCT idb AS doc_id FROM sem_pairs
       |  WHERE list_dot_product(va, vb) > 0
       |  AND list_dot_product(va, vb) * list_dot_product(va, vb)
       |      >= 0.765625 * list_dot_product(va, va) * list_dot_product(vb, vb)),
       |s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)),
       |bws AS (SELECT doc_id, string_split(text, ' ') AS w FROM s4),
       |bpos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM bws),
       |bgr AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS g
       |  FROM bpos WHERE i + 7 <= len(w)),
       |ews AS (SELECT doc_id, string_split(text, ' ') AS w FROM ev),
       |eps AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM ews),
       |egr AS (SELECT DISTINCT array_to_string(list_slice(w, i, i + 7), ' ') AS g
       |  FROM eps WHERE i + 7 <= len(w)),
       |js(j) AS (VALUES (0), (1), (2)),
       |evp AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT) % 65536 AS p
       |  FROM egr, js),
       |bposn AS (SELECT doc_id, g,
       |  CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT) % 65536 AS p FROM bgr, js),
       |bchk AS (SELECT doc_id, g, count(DISTINCT p) AS np,
       |  count(DISTINCT CASE WHEN p IN (SELECT p FROM evp) THEN p END) AS nm
       |  FROM bposn GROUP BY doc_id, g),
       |hits AS (SELECT DISTINCT doc_id FROM bchk WHERE np = nm),
       |s5 AS MATERIALIZED (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
       |cnt AS (SELECT source, count(*) AS c FROM s5 GROUP BY 1),
       |rates AS (SELECT source, least(1.0, CAST(120 AS DOUBLE) *
       |  (CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.15 WHEN 'src2' THEN 0.15
       |    WHEN 'src3' THEN 0.125 WHEN 'src4' THEN 0.125 WHEN 'src5' THEN 0.1
       |    WHEN 'src6' THEN 0.1 WHEN 'src7' THEN 0.05 ELSE 0.0 END) / c) AS r
       |  FROM cnt),
       |s6 AS (SELECT s5.* FROM s5 JOIN rates USING (source)
       |  WHERE CAST(CAST('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
       |    / CAST(1152921504606846976 AS DOUBLE) < r)
       |SELECT doc_id, lang, source, CAST(floor((SUM(n_chars) OVER (
       |  PARTITION BY lang ORDER BY doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) / 8192.0) AS BIGINT) AS pack_id
       |FROM s6 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
  }

  /** SQL replica of q_rerank: the embedIvfSql pipeline widened to a
    * top-20 candidate list, then token-set Jaccard (|A∩B| via
    * |A|+|B|−|A∪B| over distinct token lists — exact integers) and the
    * top-5 rerank window. Score ties break by candidate id, matching the
    * BoundedTopK ordering contract.
    */
  private def rerankSql: String =
    s"""WITH ${embedVecCtes()},
       |q AS (SELECT doc_id AS q_id, vec AS v FROM vecs WHERE doc_id % 100 = 0),
       |c AS (SELECT doc_id AS n_id, vec AS v FROM vecs WHERE doc_id % 100 <> 0),
       |${ivfProbeCtes(signCentroids)},
       |cand AS (SELECT q_id, n_id FROM scored WHERE rank <= 20),
       |tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tw FROM documents),
       |jac AS (SELECT cand.q_id, cand.n_id,
       |  len(qt.tw) + len(nt.tw) - len(list_distinct(list_concat(qt.tw, nt.tw))) AS inter,
       |  len(list_distinct(list_concat(qt.tw, nt.tw))) AS uni
       |  FROM cand JOIN tok qt ON qt.doc_id = cand.q_id JOIN tok nt ON nt.doc_id = cand.n_id),
       |rr AS (SELECT q_id, n_id,
       |  CASE WHEN uni = 0 THEN 0.0 ELSE inter / CAST(uni AS DOUBLE) END AS score,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY (CASE WHEN uni = 0 THEN 0.0 ELSE inter / CAST(uni AS DOUBLE) END) DESC, n_id) AS rk
       |  FROM jac)
       |SELECT q_id, CAST(rk AS BIGINT) AS rank, n_id, score
       |FROM rr WHERE rk <= 5 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " ")

  /** SQL replica of q_cluster_sample: same vectors + centroid assignment,
    * then a per-cell row_number over (n_chars desc, doc_id) capped at 3 —
    * the window replay of the BoundedTopK ordering contract.
    */
  private def clusterSampleSql: String =
    s"""WITH ${embedVecCtes()},
       |cents(cell, cv) AS (VALUES ${centRows(signCentroids)}),
       |assigned AS (SELECT doc_id,
       |  (SELECT cell FROM cents ORDER BY list_dot_product(v.vec, cv) DESC, cell DESC LIMIT 1) AS cell FROM vecs v),
       |scored AS (SELECT a.doc_id, CAST(a.cell AS BIGINT) AS cell,
       |  CAST(d.n_chars AS DOUBLE) AS score,
       |  row_number() OVER (PARTITION BY a.cell ORDER BY d.n_chars DESC, a.doc_id) AS rk
       |  FROM assigned a JOIN documents d USING (doc_id))
       |SELECT cell, CAST(rk AS BIGINT) AS rank, doc_id, score
       |FROM scored WHERE rk <= 3 ORDER BY cell, rank""".stripMargin.replaceAll("\n", " ")

  /** Full-fidelity SQL replica of q_ann_lsh: the same ±1 hyperplane
    * literals produce the same sign-pattern signature; bucketing and
    * within-bucket ranking then mirror Similarity.lshTopK exactly.
    */
  private def annLshSql: String = {
    val planes = graft.ops.Similarity.hyperplanes(dim = 64, nBits = 4)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${sqlVec(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ${embeddingSidesCtes("vec_id < 5", "vec_id >= 5")},
       |qs AS (SELECT q_id, v, $sig AS sig FROM q),
       |cs AS (SELECT n_id, v, $sig AS sig FROM c),
       |scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(qs.v, cs.v) DESC, n_id) AS rank
       |  FROM qs JOIN cs USING (sig))
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")
  }

  /** SQL replica of q_ann_lsh_probe: same signature literals, with each
    * query probing its own bucket plus the nBits XOR-flipped buckets.
    */
  private def annLshProbeSql: String = {
    val planes = graft.ops.Similarity.hyperplanes(dim = 64, nBits = 4)
    val sig = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(v, ${sqlVec(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val probes = ("sig" +: (0 until 4).map(b => s"xor(sig, ${1L << b})")).mkString("[", ", ", "]")
    s"""WITH ${embeddingSidesCtes("vec_id < 5", "vec_id >= 5")},
       |qs AS (SELECT q_id, v, $sig AS sig FROM q),
       |qp AS (SELECT q_id, v, UNNEST($probes) AS sig FROM qs),
       |cs AS (SELECT n_id, v, $sig AS sig FROM c),
       |scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(qp.v, cs.v) DESC, n_id) AS rank
       |  FROM qp JOIN cs USING (sig))
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")
  }

  /** Full-fidelity SQL replica of q_ann_ivf: assignment = argmax dot
    * against the fixed centroid literals (ties to the larger cell, as
    * Spark's greatest(struct(sim, cell))), probe = top-nProbe cells per
    * query by the same ordering, rank within probed cells by cosine.
    */
  private def annIvfSql: String =
    s"""WITH ${embeddingSidesCtes("vec_id >= 8 AND vec_id < 13", "vec_id >= 13")},
       |${ivfProbeCtes(annCentroids)}
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")

  /** SQL replica of q_ann_recall: the annIvfSql probe ranking and the
    * brute-force ranking recomputed side by side, recall = |ivf ∩ brute|
    * / |brute| per query (the double division is the same IEEE operation
    * in both engines, so even the fractions hash-match).
    */
  private def annRecallSql: String =
    s"""WITH ${embeddingSidesCtes("vec_id >= 8 AND vec_id < 13", "vec_id >= 13")},
       |${ivfProbeCtes(annCentroids, "iscored")},
       |ivf AS (SELECT q_id, n_id FROM iscored WHERE rank <= 5),
       |bscored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(q.v, c.v) DESC, n_id) AS rank FROM q, c),
       |brute AS (SELECT q_id, n_id FROM bscored WHERE rank <= 5),
       |hits AS (SELECT b.q_id, count(*) AS h FROM brute b
       |  JOIN ivf i ON i.q_id = b.q_id AND i.n_id = b.n_id GROUP BY 1),
       |tot AS (SELECT q_id, count(*) AS t FROM brute GROUP BY 1)
       |SELECT tot.q_id AS q_id, CAST(coalesce(h, 0) AS DOUBLE) / t AS recall
       |FROM tot LEFT JOIN hits ON hits.q_id = tot.q_id ORDER BY tot.q_id""".stripMargin
      .replaceAll("\n", " ")

  /** Full-fidelity SQL replica of q_ann_ivfpq: fixed-centroid cell
    * assignment + probe (as annIvfSql), per-subspace PQ codes by argmax
    * dot against the ±0.125 codebook literals (ties to the larger cid,
    * as Spark's greatest(struct)), ADC score as an EXPLICIT left-to-right
    * sum of the 8 per-subspace LUT terms (matching Spark's sequential
    * fold bit-for-bit — an aggregate SUM would add in unspecified
    * order), shortlist by (approx DESC, n_id), exact-cosine rerank.
    */
  private def annIvfPqSql: String = {
    val cbs = graft.ops.Similarity.pqCodebooks(dim = 64, m = 8, kSub = 16)
    val cbRows = cbs.map { case (sub, cid, v) => s"($sub, $cid, ${sqlVec(v)})" }.mkString(", ")
    val codeCols = (0 until 8).map { j =>
      s"(SELECT cid FROM cb WHERE sub = $j ORDER BY list_dot_product(list_slice(c.v, ${j * 8 + 1}, ${(j + 1) * 8}), cv) DESC, cid DESC LIMIT 1)"
    }.mkString(", ")
    val adc = (0 until 8).map { j =>
      s"(SELECT list_dot_product(list_slice(qv, ${j * 8 + 1}, ${(j + 1) * 8}), cv) FROM cb WHERE sub = $j AND cid = code[${j + 1}])"
    }.mkString(" + ")
    s"""WITH ${embeddingSidesCtes("vec_id >= 8 AND vec_id < 13", "vec_id >= 13")},
       |cents(cell, cv) AS (VALUES ${centRows(annCentroids)}),
       |cb(sub, cid, cv) AS (VALUES $cbRows),
       |assigned AS (SELECT n_id,
       |  (SELECT cell FROM cents ORDER BY list_dot_product(c.v, cv) DESC, cell DESC LIMIT 1) AS cell,
       |  [$codeCols] AS code FROM c),
       |probed AS (SELECT q_id, v AS qv, p.cell
       |  FROM q, LATERAL (SELECT cell FROM cents ORDER BY list_dot_product(q.v, cv) DESC, cell DESC LIMIT 2) p),
       |scored AS (SELECT q_id, n_id, $adc AS approx
       |  FROM probed JOIN assigned USING (cell)),
       |short AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, n_id) AS arank FROM scored)
       |  WHERE arank <= 16),
       |rer AS (SELECT short.q_id, n_id,
       |  row_number() OVER (PARTITION BY short.q_id ORDER BY list_cosine_similarity(q.v, c2.v) DESC, n_id) AS rank
       |  FROM short JOIN q ON q.q_id = short.q_id JOIN c c2 USING (n_id))
       |SELECT q_id, rank, n_id FROM rer WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")
  }

  /** SQL replica of q_ann_project: the same ±1 planes project both sides
    * (list_dot_product per output dim), ranking by projected cosine.
    */
  private def annProjectSql: String = {
    val planes = graft.ops.Similarity.projectionPlanes(dimIn = 64, dimOut = 16)
    val proj = planes.map(p => s"list_dot_product(v, ${sqlVec(p)})").mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, $proj AS pv
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
       |q AS (SELECT vec_id AS q_id, pv AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT vec_id AS n_id, pv AS nv FROM e WHERE vec_id >= 5),
       |scored AS (SELECT q_id, n_id,
       |  row_number() OVER (PARTITION BY q_id
       |    ORDER BY list_cosine_similarity(qv, nv) DESC, n_id) AS rank
       |  FROM q CROSS JOIN c)
       |SELECT q_id, rank, n_id FROM scored WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      .replaceAll("\n", " ")
  }

  /** CTE chain replaying `Dedup.nearDupPairs` INCLUDING the degenerate-
    * bucket cap: band buckets over `cap` docs are regrouped by the
    * md5-derived refinement key — 60 bits of the OTHER band's bucket md5,
    * the exact locality-preserving per-band value the Spark side computes
    * via conv/substring — and refinement groups still over the cap pair
    * as a star around their min-id hub. The oracle therefore stays hash-identical
    * at EVERY scale factor, including the ones where the cap actually
    * engages. Emits the CTE list (no WITH keyword) ending in
    * `verified(id_a, id_b, jac)` filtered to the threshold.
    */
  private def cappedNearDupCtes(mod: Int, threshold: Double, cap: Int = 1000,
      cellSize: Int = 64, from: Option[String] = None): String = {
    val cell = math.min(cellSize, cap) // mirrors Dedup's effective-cell clamp
    val src = from.getOrElse(s"documents WHERE doc_id % $mod = 0")
    val s = (0 until 4).map(i =>
      s"list_min(list_transform(ws, w -> md5('$i:' || w))) AS s$i").mkString(", ")
    s"""base AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM $src),
       |sigs AS (SELECT doc_id, ws, $s FROM base),
       |bnd AS (SELECT doc_id, ws, md5(s0 || '|' || s1) AS b0, md5(s2 || '|' || s3) AS b1
       |  FROM sigs),
       |bands AS (SELECT doc_id, 0 AS band, b0 AS h,
       |    CAST('0x' || substr(b1, 1, 15) AS BIGINT) AS refine FROM bnd
       |  UNION ALL SELECT doc_id, 1, b1,
       |    CAST('0x' || substr(b0, 1, 15) AS BIGINT) FROM bnd),
       |bsize AS (SELECT band, h, count(*) AS n FROM bands GROUP BY 1, 2),
       |withn AS (SELECT bands.*, n FROM bands JOIN bsize USING (band, h)),
       |sane AS (SELECT * FROM withn WHERE n <= $cap),
       |sanepairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM sane x JOIN sane y
       |  ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id),
       |big AS (SELECT *, refine AS sub FROM withn WHERE n > $cap),
       |substats AS (SELECT band, h, sub, count(*) AS m FROM big GROUP BY 1, 2, 3),
       |bigj AS (SELECT big.*, m FROM big JOIN substats USING (band, h, sub)),
       |smallg AS (SELECT * FROM bigj WHERE m <= $cap),
       |smallpairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM smallg x JOIN smallg y
       |  ON x.band = y.band AND x.h = y.h AND x.sub = y.sub AND x.doc_id < y.doc_id),
       |overg AS (SELECT *, CAST('0x' || substr(md5(band || ':' || doc_id), 1, 15) AS BIGINT)
       |    % CAST(ceil(m / $cell.0) AS BIGINT) AS cell FROM bigj WHERE m > $cap),
       |cellstats AS (SELECT band, h, sub, cell, count(*) AS cm, min(doc_id) AS chub
       |  FROM overg GROUP BY 1, 2, 3, 4),
       |overgc AS (SELECT overg.*, cm, chub FROM overg JOIN cellstats USING (band, h, sub, cell)),
       |cellpairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b FROM overgc x JOIN overgc y
       |  ON x.band = y.band AND x.h = y.h AND x.sub = y.sub AND x.cell = y.cell
       |    AND x.doc_id < y.doc_id AND (x.cm <= $cap OR x.doc_id = x.chub)),
       |chainpairs AS (SELECT least(a.chub, b.chub) AS id_a, greatest(a.chub, b.chub) AS id_b
       |  FROM cellstats a JOIN cellstats b
       |  ON a.band = b.band AND a.h = b.h AND a.sub = b.sub AND b.cell = a.cell + 1),
       |cand AS (SELECT DISTINCT id_a, id_b FROM
       |  (SELECT * FROM sanepairs UNION ALL SELECT * FROM smallpairs
       |   UNION ALL SELECT * FROM cellpairs UNION ALL SELECT * FROM chainpairs)),
       |verified AS (SELECT * FROM (SELECT id_a, id_b,
       |    len(list_intersect(a.ws, b.ws)) / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jac
       |  FROM cand JOIN bnd a ON a.doc_id = id_a JOIN bnd b ON b.doc_id = id_b)
       |  WHERE jac >= $threshold)""".stripMargin.replaceAll("\n", " ")
  }

  /** CTE chain replaying `Dedup.incrementalNearDupPairs` including the
    * over-cap refinement split and hub-only probe (cap 40 engages at
    * sf0.01 already): corpus index rows vs batch band rows, candidate
    * cross pairs, exact Jaccard verify. Mirrors `cappedNearDupCtes`
    * shape but for the batch-vs-index cross join.
    */
  private def incrementalNearDupSql(universeMod: Int, batchMod: Int,
      threshold: Double, cap: Int, cellSize: Int = 64): String = {
    val cell = math.min(cellSize, cap) // mirrors Dedup's effective-cell clamp
    val s = (0 until 4).map(i =>
      s"list_min(list_transform(ws, w -> md5('$i:' || w))) AS s$i").mkString(", ")
    s"""WITH ubase AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents WHERE doc_id % $universeMod = 0),
       |sigs AS (SELECT doc_id, ws, $s FROM ubase),
       |bnd AS (SELECT doc_id, ws, md5(s0 || '|' || s1) AS b0, md5(s2 || '|' || s3) AS b1
       |  FROM sigs),
       |bands AS (SELECT doc_id, 0 AS band, b0 AS h,
       |    CAST('0x' || substr(b1, 1, 15) AS BIGINT) AS refine FROM bnd
       |  UNION ALL SELECT doc_id, 1, b1,
       |    CAST('0x' || substr(b0, 1, 15) AS BIGINT) FROM bnd),
       |cbands AS (SELECT * FROM bands WHERE doc_id % $batchMod != 0),
       |bbands AS (SELECT * FROM bands WHERE doc_id % $batchMod = 0),
       |bsize AS (SELECT band, h, count(*) AS n FROM cbands GROUP BY 1, 2),
       |sanec AS (SELECT cbands.* FROM cbands JOIN bsize USING (band, h) WHERE n <= $cap),
       |sanepairs AS (SELECT bb.doc_id AS id_a, sc.doc_id AS id_b FROM bbands bb
       |  JOIN sanec sc ON bb.band = sc.band AND bb.h = sc.h),
       |bigc AS (SELECT cbands.*, n, refine AS sub
       |  FROM cbands JOIN bsize USING (band, h) WHERE n > $cap),
       |substats AS (SELECT band, h, sub, count(*) AS m FROM bigc GROUP BY 1, 2, 3),
       |bigj AS (SELECT bigc.*, m FROM bigc JOIN substats USING (band, h, sub)),
       |sanet AS (SELECT band, h, sub, CAST(-1 AS BIGINT) AS cell, doc_id
       |  FROM bigj WHERE m <= $cap),
       |overg AS (SELECT *, CAST('0x' || substr(md5(band || ':' || doc_id), 1, 15) AS BIGINT)
       |    % CAST(ceil(m / $cell.0) AS BIGINT) AS cell FROM bigj WHERE m > $cap),
       |cellstats AS (SELECT band, h, sub, cell, count(*) AS cm, min(doc_id) AS chub
       |  FROM overg GROUP BY 1, 2, 3, 4),
       |cellt AS (SELECT o.band, o.h, o.sub, o.cell, o.doc_id FROM overg o
       |  JOIN cellstats cs ON o.band = cs.band AND o.h = cs.h AND o.sub = cs.sub
       |    AND o.cell = cs.cell
       |  WHERE cs.cm <= $cap OR o.doc_id = cs.chub),
       |targets AS (SELECT * FROM sanet UNION ALL SELECT * FROM cellt),
       |bigb AS (SELECT bb.doc_id, bb.band, bb.h, bb.refine AS sub, ss.m
       |  FROM bbands bb JOIN bsize ON bsize.band = bb.band AND bsize.h = bb.h
       |  LEFT JOIN substats ss ON ss.band = bb.band AND ss.h = bb.h AND ss.sub = bb.refine
       |  WHERE bsize.n > $cap),
       |bigbc AS (SELECT doc_id, band, h, sub,
       |  CASE WHEN m IS NULL OR m <= $cap THEN CAST(-1 AS BIGINT)
       |       ELSE CAST('0x' || substr(md5(band || ':' || doc_id), 1, 15) AS BIGINT)
       |         % CAST(ceil(m / $cell.0) AS BIGINT) END AS cell
       |  FROM bigb),
       |bigpairs AS (SELECT bigbc.doc_id AS id_a, targets.doc_id AS id_b FROM bigbc
       |  JOIN targets ON bigbc.band = targets.band AND bigbc.h = targets.h
       |    AND bigbc.sub = targets.sub AND bigbc.cell = targets.cell),
       |cand AS (SELECT DISTINCT id_a, id_b FROM
       |  (SELECT * FROM sanepairs UNION ALL SELECT * FROM bigpairs)),
       |verified AS (SELECT * FROM (SELECT id_a, id_b,
       |    len(list_intersect(xa.ws, xb.ws)) / (len(xa.ws) + len(xb.ws) - len(list_intersect(xa.ws, xb.ws))) AS jac
       |  FROM cand JOIN bnd xa ON xa.doc_id = id_a JOIN bnd xb ON xb.doc_id = id_b)
       |  WHERE jac >= $threshold)
       |SELECT id_a, id_b, jac FROM verified ORDER BY 1, 2""".stripMargin
      .replaceAll("\n", " ")
  }

  /** Ground-truth near-dup pairs by brute force (the %7 subset keeps the
    * oracle's all-pairs join honest at sf0.01) — hard-gates the fast
    * MinHash path end to end.
    */
  private def minhashFastPairsSql: String =
    """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
      |  FROM documents WHERE doc_id % 7 = 0)
      |SELECT id_a, id_b, jac FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    len(list_intersect(a.ws, b.ws)) / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jac
      |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
      |WHERE jac >= 0.9 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")

  /** Transitive closure over the undirected pair set `pairs(id_a, id_b)`
    * as recursive CTEs `edges` and `reach(id, lbl)` (the statement needs
    * WITH RECURSIVE); a component's label is its min reachable id,
    * matching Dedup.clusterPairs. `e` aliases the edge table in the
    * recursive step.
    */
  private def closureCtes(pairs: String = "verified", e: String = "e"): String =
    s"""edges AS (SELECT id_a AS u, id_b AS v FROM $pairs UNION SELECT id_b, id_a FROM $pairs),
       |reach(id, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT $e.v, r.lbl FROM reach r JOIN edges $e ON $e.u = r.id)""".stripMargin

  /** Whole-bit quantized idf over the docs of `src` — the `Lexical`
    * quantization idf_bits = bit length of ((n + 1 + df) // (df + 1)) - 1
    * — as CTEs `nn`, `dfq` and `idf(term, idf_bits)`; `terms` splits a
    * document's text into its terms.
    */
  private def lexIdfCtes(src: String, terms: String = "string_split(text, ' ')"): String =
    s"""nn AS (SELECT count(*) AS n FROM $src),
       |dfq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM
       |  (SELECT doc_id, unnest($terms) AS term FROM $src)) GROUP BY 1),
       |idf AS (SELECT term, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS idf_bits
       |  FROM (SELECT term, ((SELECT n FROM nn) + 1 + df) // (df + 1) AS m FROM dfq))""".stripMargin

  /** The PDF oracles' terms: the nonempty words (an empty string splits
    * to [''], which the parsed-PDF side never sees).
    */
  private val pdfTerms = "list_filter(string_split(text, ' '), w -> len(w) > 0)"

  /** Connected components over the SQL-recomputed verified pair set via
    * recursive-CTE transitive closure; cluster label = min reachable id
    * (matches Dedup.clusterPairs' canonical-survivor labels).
    */
  private def dedupClustersSql: String =
    s"""WITH RECURSIVE ${cappedNearDupCtes(11, 0.9)},
       |${closureCtes()}
       |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin
      .replaceAll("\n", " ")

  /** SQL replica of q_leakage_split: the q_dedup_clusters transitive
    * closure (identical CTEs), then every doc's split re-derived from
    * the md5-hex-prefix of its component root (singletons root at their
    * own id) — bit-exact, including the hash itself.
    */
  private def leakageSplitSql: String =
    s"""WITH RECURSIVE ${cappedNearDupCtes(11, 0.9)},
       |${closureCtes()},
       |comp AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
       |SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS root,
       |  CAST(('0x' || substr(md5('split:' || CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS split
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 11 = 0) d
       |LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " ")

  /** Oracle twin of Dedup.simhashMd5: md5 per distinct word computed
    * once, 32 per-digit parity scans, bit set when the ±1 sum is
    * positive.
    */
  private def simhashSql: String = {
    val bits = (0 until 32).map { i =>
      s"(CASE WHEN 2 * len(list_filter(hs, h -> strpos('13579bdf', substr(h, ${i + 1}, 1)) > 0)) > len(hs) THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH d AS (SELECT doc_id,
       |  list_transform(list_distinct(string_split(text, ' ')), w -> md5(w)) AS hs
       |  FROM documents)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM d ORDER BY doc_id""".stripMargin
      .replaceAll("\n", " ")
  }

  private def langidSql: String = {
    val markers = TextAnalysis.langMarkers
    def hit(ws: Seq[String]) =
      ws.map(w => s"x = '$w'").mkString(" OR ")
    val scoreCols = markers.map { case (l, ws) =>
      s"len(list_filter(string_split(text, ' '), x -> ${hit(ws)})) AS score_$l"
    }.mkString(", ")
    val best = s"greatest(${markers.map(m => "score_" + m._1).mkString(", ")})"
    val caseExpr = markers.map { case (l, _) =>
      s"WHEN score_$l = __best AND __best > 0 THEN '$l'"
    }.mkString(" ")
    val names = markers.map(m => "score_" + m._1).mkString(", ")
    s"""SELECT doc_id, $names,
       | CASE $caseExpr ELSE 'und' END AS predicted
       | FROM (SELECT doc_id, $names, $best AS __best
       |       FROM (SELECT doc_id, $scoreCols FROM documents))
       | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
  }

  /** Last-write-wins upsert of the events split at event_id 5000, keyed
    * on (user_id, event_type): q_merge_upsert and q_merge_bucketed land
    * the same table through different writers.
    */
  private def lastWriteWinsSql: String =
    """WITH base AS (
      | SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |                FROM events WHERE event_id < 5000) WHERE rn = 1),
      |upd AS (
      | SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |                FROM events WHERE event_id >= 5000) WHERE rn = 1),
      |merged AS (
      | SELECT b.user_id, b.event_type, b.event_id, b.ts, b.value FROM base b ANTI JOIN upd u USING (user_id, event_type)
      | UNION ALL SELECT user_id, event_type, event_id, ts, value FROM upd)
      |SELECT user_id, event_type, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
      |FROM merged ORDER BY user_id, event_type""".stripMargin.replaceAll("\n", " ")

  /** The q_fleet_* issues fixture aggregated per language: every
    * protocol variant must land the same root + labels tables.
    */
  private def fleetIssuesSql: String =
    """SELECT lang, count(*) AS n_issues, CAST(sum(n_chars % 3 + 1) AS BIGINT) AS n_labels
      |FROM documents WHERE doc_id < 250 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")

  /** The REST documents fixture aggregated per language: the GET and
    * POST + cursor-in-body protocols must land the same rows.
    */
  private def restDocsSql: String =
    """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id < 100 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")

  /** Exact-substring span removal over the planted-twin corpus: the
    * batch operator and the streamed landing must rewrite the same text.
    */
  private def substringDedupSql: String =
    s"""WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ') AS text
      |  FROM documents WHERE doc_id % 30 = 0),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d0),
      |g AS (SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i FROM d WHERE len(ws) >= 8)),
      |f AS (SELECT gram, min(doc_id * 1000000 + pos) AS fk FROM g GROUP BY 1),
      |cutw AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)
      |  WHERE g.doc_id * 1000000 + g.pos <> f.fk),
      |$spanRemovalTail""".stripMargin.replaceAll("\n", " ")

  /** The span-removal rewrite shared by the substring oracles: words of
    * `d(doc_id, ws)` covered by a cut 8-gram `cutw(doc_id, pos)` drop, the
    * rest rejoin per document.
    */
  private def spanRemovalTail: String =
    s"""cutp AS (SELECT DISTINCT doc_id, wpos FROM
       |  (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS wpos FROM cutw)),
       |wrd AS (SELECT doc_id, i - 1 AS wpos, ws[i] AS tok
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM d)),
       |kept AS (SELECT wrd.doc_id, wrd.wpos, wrd.tok FROM wrd
       |  ANTI JOIN cutp c ON (wrd.doc_id = c.doc_id AND wrd.wpos = c.wpos)),
       |reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY wpos) AS text,
       |  count(*) AS n_kept FROM kept GROUP BY 1)
       |SELECT d.doc_id, coalesce(reb.text, '') AS text,
       |  CAST(len(d.ws) AS BIGINT) AS n_words,
       |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept
       |FROM d LEFT JOIN reb USING (doc_id) ORDER BY d.doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_pushdown_scan_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_multi_join_agg" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_incremental_cursor" ->
      """SELECT count(*) AS n_new,
        | CAST(epoch_us(max(ts)) AS BIGINT) AS new_cursor_us,
        | CAST(epoch_us(min(ts)) AS BIGINT) AS first_ts_us
        |FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'""".stripMargin.replaceAll("\n", " "),

    "q_cursor_coalesce" ->
      """SELECT event_type,
        | max(CAST(coalesce(json_extract_string(props, '$.v'), json_extract_string(props, '$.k')) AS BIGINT)) AS max_cursor,
        | count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_merge_upsert" -> lastWriteWinsSql,

    "q_merge_bucketed" -> lastWriteWinsSql,

    "q_merge_key_replace" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |base AS (SELECT * FROM daily WHERE day < DATE '2024-01-16'),
        |upd AS (
        | SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) + 1000000 AS n
        | FROM events
        | WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-21 00:00:00'
        | GROUP BY 1, 2)
        |SELECT day, event_type, n FROM (
        | SELECT b.day, b.event_type, b.n FROM base b ANTI JOIN upd u USING (day)
        | UNION ALL SELECT day, event_type, n FROM upd)
        |ORDER BY day, event_type""".stripMargin.replaceAll("\n", " "),

    "q_merge_dedup" ->
      """SELECT user_id, event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_hard_delete" ->
      """SELECT user_id, event_id, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_normalize_flatten" ->
      """SELECT event_id, user_id AS payload__user_id, event_type AS payload__detail__event_type,
        | value AS payload__detail__value
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_normalize_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS props__k
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_normalize_explode" ->
      """SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx, unnest(embedding) AS val
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id, idx""".stripMargin.replaceAll("\n", " "),

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem WHERE l_orderkey < 100
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 100
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin.replaceAll("\n", " "),

    "q_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_table_routing" ->
      "SELECT 'events_' || event_type AS _table, count(*) AS n FROM events GROUP BY 1 ORDER BY 1",

    "q_manifest_commit" ->
      """SELECT 'ord_' || lower(o_orderstatus) AS tbl, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey < 30000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_hint_variants" ->
      """SELECT * FROM (
        | SELECT 'ev_by_user' AS tbl, CAST(user_id AS VARCHAR) AS k, event_id FROM (
        |  SELECT user_id, event_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id < 6000 AND event_id % 3 = 0) WHERE rn = 1
        | UNION ALL
        | SELECT 'ev_by_type', event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |   row_number() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_id < 6000 AND event_id % 3 = 1) WHERE rn = 1
        | UNION ALL
        | SELECT 'ev_base', CAST(user_id AS VARCHAR), event_id
        | FROM events WHERE event_id < 6000 AND event_id % 3 = 2
        |) ORDER BY tbl, k, event_id""".stripMargin.replaceAll("\n", " "),

    "q_type_roundtrip" ->
      """SELECT event_id,
        | epoch_us(ts) % 86400000000 AS tod_us,
        | CAST(CAST(floor(value * 1000000) AS DECIMAL(20,0)) * CAST(1000000000000 AS DECIMAL(18,0)) AS VARCHAR) AS wei
        |FROM events WHERE event_id < 4000 ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_scalar_ts" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n,
        | CAST(epoch_us(max(ts)) AS BIGINT) AS max_us,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_epoch_heuristic" ->
      """SELECT event_id,
        | CASE WHEN raw > 100000000000 THEN CAST(floor(raw / 1000) AS BIGINT) ELSE raw END AS epoch_s,
        | DATE '1899-12-30' + CAST(user_id AS INTEGER) AS serial_date
        |FROM (SELECT event_id, user_id, CAST(floor(value * 1000000000) AS BIGINT) AS raw FROM events WHERE event_id < 2000)
        |ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_digest_ids" ->
      """SELECT event_id, sha256(CAST(event_id AS VARCHAR) || '|' || event_type) AS msg_id
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_enum_decode" ->
      """SELECT event_type,
        | CASE event_type WHEN 'click' THEN 'Clicked' WHEN 'view' THEN 'Seen' WHEN 'purchase' THEN 'Bought'
        |   WHEN 'signup' THEN 'Joined' WHEN 'error' THEN 'Failed' ELSE 'unknown' END AS label,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_session_filter" ->
      """WITH s AS (SELECT user_id, max(ts) AS last_ts, min(ts) AS first_ts, count(*) AS n FROM events GROUP BY 1),
        | mx AS (SELECT max(ts) AS m FROM events)
        |SELECT user_id, n FROM s, mx
        |WHERE NOT (last_ts > m - INTERVAL '30 minutes'
        |  AND (CAST(epoch_us(last_ts) AS BIGINT) - CAST(epoch_us(first_ts) AS BIGINT)) / 1000000.0 < 3600.0)
        |ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_full_load" ->
      "SELECT count(*) AS n FROM lineitem",

    "q_skew_agg" ->
      """SELECT event_type,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_dedup_jaccard" ->
      s"WITH ${cappedNearDupCtes(13, 0.5)} SELECT id_a, id_b, jac FROM verified ORDER BY 1, 2",

    "q_dedup_incremental" -> incrementalNearDupSql(7, 35, 0.8, 40),
    "q_compact" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),
    "q_token_budget" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars
        |FROM (SELECT *, sum(len(string_split(text, ' ')))
        |        OVER (ORDER BY n_chars DESC, doc_id) AS cum
        |      FROM documents)
        |WHERE cum <= 10000 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q_tokens_bpe" -> tokensBpeSql,
    "q_bpe_budget" -> bpeBudgetSql,
    "q_perplexity_lm" -> perplexityLmSql,
    "q_nb_quality" -> nbQualitySql,
    "q_pii_scrub" -> piiScrubSql,
    "q_url_dedup" -> urlDedupSql,

    "q_url_frontier" -> urlFrontierSql,

    "q_url_frontier_polite" ->
      """WITH u AS (
        |  SELECT DISTINCT
        |    'h' || CAST(event_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(event_id AS VARCHAR) AS url_canon,
        |    'h' || CAST(event_id % 7 AS VARCHAR) || '.example.com' AS host
        |  FROM events WHERE event_id < 3500),
        |r AS (SELECT host, url_canon,
        |        row_number() OVER (PARTITION BY host ORDER BY url_canon) AS rk FROM u)
        |SELECT host,
        |  CAST(CASE WHEN rk <= 150 THEN 1 WHEN rk <= 300 THEN 2
        |            WHEN rk <= 450 THEN 3 ELSE 4 END AS BIGINT) AS wave,
        |  count(*) AS n_pages, min(url_canon) AS first_url, max(url_canon) AS last_url
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    // gap 1 under a constant plan: odd waves fetch, even waves silent —
    // rank r within host lands in wave 2*ceil(r/150) - 1
    "q_url_frontier_gap" ->
      """WITH u AS (
        |  SELECT DISTINCT
        |    'h' || CAST(event_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(event_id AS VARCHAR) AS url_canon,
        |    'h' || CAST(event_id % 7 AS VARCHAR) || '.example.com' AS host
        |  FROM events WHERE event_id < 3500),
        |r AS (SELECT host, url_canon,
        |        row_number() OVER (PARTITION BY host ORDER BY url_canon) AS rk FROM u)
        |SELECT host,
        |  CAST(2 * CEIL(rk / 150.0) - 1 AS BIGINT) AS wave,
        |  count(*) AS n_pages, min(url_canon) AS first_url, max(url_canon) AS last_url
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),
    // per-URL robots verdict replay: wave 1 iff the host's rules allow
    // the path (most specific pattern wins, allow wins ties, `/p/*4`
    // matched per the full RFC grammar = any id containing a 4,
    // agent-named group shadows '*'), wave 2 otherwise
    "q_url_frontier_robots" ->
      """WITH u AS (
        |  SELECT DISTINCT
        |    'h' || CAST(event_id % 7 AS VARCHAR) || '.example.com/p/' || CAST(event_id AS VARCHAR) AS url_canon,
        |    CAST(event_id % 7 AS BIGINT) AS h,
        |    CAST(event_id AS VARCHAR) AS ids
        |  FROM events WHERE event_id < 3500)
        |SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE
        |    WHEN h = 0 THEN 2
        |    WHEN h = 1 AND ids LIKE '1%' THEN 2
        |    WHEN h = 2 AND ids NOT LIKE '2%' THEN 2
        |    WHEN h = 3 AND ids LIKE '3%' THEN 2
        |    WHEN h = 4 AND ids LIKE '%4%' THEN 2
        |    ELSE 1 END AS BIGINT) AS wave,
        |  url_canon
        |FROM u ORDER BY url_canon""".stripMargin.replaceAll("\n", " "),
    // full-grammar verdict replay: each host's wildcard/anchor/UA shape
    // restated semantically over the three path forms (m = event_id % 3)
    "q_url_frontier_robots_wild" ->
      """WITH u AS (
        |  SELECT DISTINCT
        |    CAST(event_id % 7 AS BIGINT) AS h,
        |    CAST(event_id % 3 AS BIGINT) AS m,
        |    CAST(event_id AS VARCHAR) AS ids
        |  FROM events WHERE event_id < 3500)
        |SELECT 'w' || CAST(h AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE
        |    WHEN h = 0 AND m = 1 THEN 2
        |    WHEN h = 1 AND m = 2 THEN 2
        |    WHEN h = 2 AND m <> 2 AND ids NOT LIKE '%2' THEN 2
        |    WHEN h = 3 AND m = 2 THEN 2
        |    WHEN h = 4 AND m = 1 AND ids LIKE '%3%' THEN 2
        |    WHEN h = 5 AND m <> 2 AND ids LIKE '%0' AND ids NOT LIKE '%00' THEN 2
        |    ELSE 1 END AS BIGINT) AS wave,
        |  'w' || CAST(h AS VARCHAR) || '.example.com' ||
        |    CASE WHEN m = 0 THEN '/p/' || ids
        |         WHEN m = 1 THEN '/p/' || ids || '?sid=' || ids
        |         ELSE '/a/' || ids || '.html' END AS url_canon
        |FROM u ORDER BY url_canon""".stripMargin.replaceAll("\n", " "),

    "q_stream_url_dedup" -> streamUrlDedupSql,
    "q_c4_lines" -> c4LinesSql,
    "q_curation_v2" -> curationV2Sql,
    "q_curation_v3" -> curationV3Sql,
    "q_html_extract" ->
      """SELECT doc_id, 'doc ' || doc_id || ' ' || text AS text,
        |  CAST(length('doc ' || doc_id || ' ' || text) AS BIGINT) AS n_chars,
        |  length('doc ' || doc_id) / CAST(length('doc ' || doc_id || ' ' || text) AS DOUBLE) AS link_density
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // by construction: both surface forms of each doc's URL collapse to
    // one canonical (n_recs = 2), and the q_html_extract wrapper strips
    // back to 'doc <id> <text>' — the planted quarantined member carries
    // no doc, so it never appears
    "q_warc_pipeline" ->
      """SELECT doc_id,
        |  'site' || doc_id || '.example.com/p/' || doc_id || '?a=1&b=2' AS url_canon,
        |  CAST(2 AS BIGINT) AS n_recs,
        |  'doc ' || doc_id || ' ' || text AS text,
        |  CAST(length('doc ' || doc_id || ' ' || text) AS BIGINT) AS n_chars,
        |  length('doc ' || doc_id) / CAST(length('doc ' || doc_id || ' ' || text) AS DOUBLE) AS link_density
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_stream_warc" ->
      """SELECT doc_id,
        |  'site' || doc_id || '.example.com/p/' || doc_id || '?a=1&b=2' AS url_canon,
        |  CAST(CASE WHEN doc_id < 1500 THEN 1 ELSE 2 END AS BIGINT) AS wave,
        |  'doc ' || doc_id || ' ' || text AS text,
        |  CAST(length('doc ' || doc_id || ' ' || text) AS BIGINT) AS n_chars,
        |  length('doc ' || doc_id) / CAST(length('doc ' || doc_id || ' ' || text) AS DOUBLE) AS link_density
        |FROM documents WHERE doc_id < 3000 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_pdf_extract" ->
      """WITH wl AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        |  FROM documents),
        |ws AS (SELECT doc_id, w AS word, i, (i - 1) // 8 AS li
        |  FROM (SELECT doc_id, unnest(ws) AS w,
        |    unnest(generate_series(1, len(ws))) AS i FROM wl)),
        |lns AS (SELECT doc_id, li, string_agg(word, ' ' ORDER BY i) AS line FROM ws GROUP BY 1, 2),
        |txt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY li) AS text,
        |  count(*) AS nl FROM lns GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 97 = 0 THEN 'corrupt' ELSE 'pdf' END AS format,
        |  CASE WHEN d.doc_id % 97 = 0 THEN 0 ELSE CAST(coalesce((t.nl + 2) // 3, 1) AS BIGINT) END AS n_pages,
        |  CASE WHEN d.doc_id % 97 = 0 THEN '' ELSE coalesce(t.text, '') END AS text,
        |  CASE WHEN d.doc_id % 97 = 0 THEN 0 ELSE CAST(coalesce(length(t.text), 0) AS BIGINT) END AS n_chars
        |FROM documents d LEFT JOIN txt t USING (doc_id) ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q_stream_quality" ->
      s"""WITH ${gopherGateCtes},
        |${perplexityCtes("documents")}
        |SELECT s1.doc_id, coalesce(plagg.bits, 0) AS bits, coalesce(plagg.nb, 0) AS n_bigrams
        |FROM s1 LEFT JOIN plagg USING (doc_id)
        |WHERE coalesce(plagg.bits, 0) * 20 <= 109 * coalesce(plagg.nb, 0) OR coalesce(plagg.nb, 0) = 0
        |ORDER BY s1.doc_id""".stripMargin.replaceAll("\n", " "),
    "q_stream_nb" -> streamNbSql,
    "q_quantiles" ->
      """WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
        |n AS (SELECT sum(c) AS n FROM h),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM h),
        |ps(pct) AS (VALUES (1), (10), (25), (50), (75), (90), (99))
        |SELECT CAST(pct AS BIGINT) AS pct, CAST(min(v) AS BIGINT) AS value
        |FROM cum, ps, n WHERE cum >= (pct * n.n + 99) // 100
        |GROUP BY pct ORDER BY pct""".stripMargin.replaceAll("\n", " "),
    "q_zorder" ->
      """WITH st AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
        |  min(event_id) AS elo, max(event_id) AS ehi FROM events),
        |q AS (SELECT event_id,
        |  least(greatest((user_id - st.ulo) * 65535 // (st.uhi - st.ulo), 0), 65535) AS q0,
        |  least(greatest((event_id - st.elo) * 65535 // (st.ehi - st.elo), 0), 65535) AS q1
        |  FROM events, st),
        |z AS (SELECT event_id,
        |  CAST(SUM((((q0 >> i) & 1) << (2 * i)) + (((q1 >> i) & 1) << (2 * i + 1))) AS BIGINT) AS z_value
        |  FROM q, (SELECT unnest(generate_series(0, 15)) AS i) s GROUP BY event_id)
        |SELECT event_id, z_value FROM z ORDER BY event_id""".stripMargin.replaceAll("\n", " "),
    "q_weighted_sample" ->
      """WITH w AS (SELECT sum(n_chars) AS total FROM documents)
        |SELECT doc_id, n_chars FROM documents, w
        |WHERE (CAST(('0x' || substr(md5('wps:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |  % 1048576) * w.total < 500 * n_chars * 1048576
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q_corpus_report" ->
      """WITH cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
        |h AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |n AS (SELECT lang, sum(c) AS n FROM h GROUP BY 1),
        |cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h),
        |med AS (SELECT cum.lang, CAST(min(v) AS BIGINT) AS p50_chars
        |  FROM cum JOIN n USING (lang) WHERE cum * 100 >= 50 * n.n GROUP BY 1),
        |hh AS (SELECT lang, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)),
        |rho AS (SELECT lang, h % 256 AS r,
        |  CASE WHEN h // 256 = 0 THEN 53 ELSE length(bin((h // 256) & (-(h // 256)))) END AS rho FROM hh),
        |mx AS (SELECT lang, r, max(rho) AS mr FROM rho GROUP BY 1, 2),
        |voc AS (SELECT lang, CAST(sum(mr) AS BIGINT) AS vocab_rho_sum FROM mx GROUP BY 1)
        |SELECT cnt.lang, cnt.n_docs, cnt.n_tokens, med.p50_chars, voc.vocab_rho_sum
        |FROM cnt JOIN med USING (lang) JOIN voc USING (lang)
        |ORDER BY cnt.lang""".stripMargin.replaceAll("\n", " "),
    "q_quantiles_by" ->
      """WITH h AS (SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2),
        |n AS (SELECT lang, sum(c) AS n FROM h GROUP BY 1),
        |cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h),
        |ps(pct) AS (VALUES (10), (50), (90))
        |SELECT cum.lang, CAST(pct AS BIGINT) AS pct, CAST(min(v) AS BIGINT) AS value
        |FROM cum JOIN n USING (lang), ps WHERE cum * 100 >= pct * n.n
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),
    "q_vocab_by" ->
      """WITH h AS (SELECT lang, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)),
        |rv AS (SELECT lang, h % 256 AS r, h // 256 AS v FROM h),
        |rho AS (SELECT lang, r, CASE WHEN v = 0 THEN 53 ELSE length(bin(v & (-v))) END AS rho FROM rv),
        |mx AS (SELECT lang, r, max(rho) AS mr FROM rho GROUP BY 1, 2),
        |langs AS (SELECT DISTINCT lang FROM documents),
        |regs AS (SELECT lang, register FROM langs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS register))
        |SELECT regs.lang, regs.register, CAST(coalesce(mx.mr, 0) AS BIGINT) AS max_rho
        |FROM regs LEFT JOIN mx ON mx.lang = regs.lang AND mx.r = regs.register
        |ORDER BY regs.lang, regs.register""".stripMargin.replaceAll("\n", " "),
    "q_hll_vocab" ->
      """WITH h AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
        |rv AS (SELECT h % 1024 AS r, h // 1024 AS v FROM h),
        |rho AS (SELECT r, CASE WHEN v = 0 THEN 51 ELSE length(bin(v & (-v))) END AS rho FROM rv),
        |mx AS (SELECT r, max(rho) AS mr FROM rho GROUP BY 1),
        |regs AS (SELECT unnest(generate_series(0, 1023)) AS register)
        |SELECT register, CAST(coalesce(mx.mr, 0) AS BIGINT) AS max_rho
        |FROM regs LEFT JOIN mx ON mx.r = regs.register
        |ORDER BY register""".stripMargin.replaceAll("\n", " "),
    "q_pdf_pipeline" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        |  AND len(list_filter(string_split(text, ' '), w -> len(w) > 0)) > 0),
        |${lexIdfCtes("c", pdfTerms)},
        |post AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS term FROM c) GROUP BY 1, 2),
        |q AS (SELECT doc_id AS q_id,
        |  array_to_string(list_slice(list_filter(string_split(text, ' '), w -> len(w) > 0), 1, 6), ' ') AS q_text
        |  FROM documents WHERE doc_id % 97 = 0
        |  AND len(list_filter(string_split(text, ' '), w -> len(w) > 0)) > 0),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT q_id, unnest(string_split(q_text, ' ')) AS term FROM q) GROUP BY 1, 2),
        |sc AS (SELECT qt.q_id, post.doc_id, sum(qt.qtf * post.tf * idf.idf_bits) AS score
        |  FROM qt JOIN post USING (term) JOIN idf ON idf.term = post.term GROUP BY 1, 2),
        |rk AS (SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_pdf_pipeline_champion" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
        |  AND len(list_filter(string_split(text, ' '), w -> len(w) > 0)) > 0),
        |${lexIdfCtes("c", pdfTerms)},
        |post AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS term FROM c) GROUP BY 1, 2),
        |champ AS (SELECT term, doc_id FROM (SELECT term, doc_id,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS cr FROM post)
        |  WHERE cr <= 32),
        |q AS (SELECT doc_id AS q_id,
        |  array_to_string(list_slice(list_filter(string_split(text, ' '), w -> len(w) > 0), 1, 6), ' ') AS q_text
        |  FROM documents WHERE doc_id % 97 = 0
        |  AND len(list_filter(string_split(text, ' '), w -> len(w) > 0)) > 0),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT q_id, unnest(string_split(q_text, ' ')) AS term FROM q) GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT qt.q_id, champ.doc_id FROM qt JOIN champ USING (term)),
        |sc AS (SELECT cand.q_id, cand.doc_id, sum(qt.qtf * post.tf * idf.idf_bits) AS score
        |  FROM cand JOIN qt ON qt.q_id = cand.q_id
        |  JOIN post ON post.term = qt.term AND post.doc_id = cand.doc_id
        |  JOIN idf ON idf.term = qt.term GROUP BY 1, 2),
        |rk AS (SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_lexical_topk" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |${lexIdfCtes("c")},
        |post AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM c) GROUP BY 1, 2),
        |q AS (SELECT doc_id AS q_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS q_text
        |  FROM documents WHERE doc_id % 97 = 0),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT q_id, unnest(string_split(q_text, ' ')) AS term FROM q) GROUP BY 1, 2),
        |sc AS (SELECT qt.q_id, post.doc_id, sum(qt.qtf * post.tf * idf.idf_bits) AS score
        |  FROM qt JOIN post USING (term) JOIN idf ON idf.term = post.term GROUP BY 1, 2),
        |rk AS (SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_lexical_champion" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |${lexIdfCtes("c")},
        |post0 AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM c) GROUP BY 1, 2),
        |champ AS (SELECT term, doc_id FROM (SELECT term, doc_id,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS cr FROM post0)
        |  WHERE cr <= 32),
        |q AS (SELECT doc_id AS q_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS q_text
        |  FROM documents WHERE doc_id % 97 = 0),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT q_id, unnest(string_split(q_text, ' ')) AS term FROM q) GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT qt.q_id, champ.doc_id FROM qt JOIN champ USING (term)),
        |sc AS (SELECT cand.q_id, cand.doc_id, sum(qt.qtf * post0.tf * idf.idf_bits) AS score
        |  FROM cand JOIN qt ON qt.q_id = cand.q_id
        |  JOIN post0 ON post0.term = qt.term AND post0.doc_id = cand.doc_id
        |  JOIN idf ON idf.term = qt.term GROUP BY 1, 2),
        |rk AS (SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_lexical_index" ->
      s"""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |bx AS (SELECT doc_id + 2000000 AS doc_id, 'zzfresh ' || text AS text
        |  FROM documents WHERE doc_id % 500 = 7),
        |u AS (SELECT * FROM c UNION ALL SELECT * FROM bx),
        |${lexIdfCtes("u")},
        |postb AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM c) GROUP BY 1, 2),
        |postx AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM bx) GROUP BY 1, 2),
        |champ AS (SELECT term, doc_id FROM (SELECT term, doc_id,
        |  row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS cr FROM postb)
        |  WHERE cr <= 32),
        |candsrc AS (SELECT term, doc_id FROM champ UNION ALL SELECT term, doc_id FROM postx),
        |q AS (SELECT doc_id AS q_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS q_text
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION ALL SELECT 9999999 AS q_id, 'zzfresh' AS q_text),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT q_id, unnest(string_split(q_text, ' ')) AS term FROM q) GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT qt.q_id, candsrc.doc_id FROM qt JOIN candsrc USING (term)),
        |postu AS (SELECT * FROM postb UNION ALL SELECT * FROM postx),
        |sc AS (SELECT cand.q_id, cand.doc_id, sum(qt.qtf * postu.tf * idf.idf_bits) AS score
        |  FROM cand JOIN qt ON qt.q_id = cand.q_id
        |  JOIN postu ON postu.term = qt.term AND postu.doc_id = cand.doc_id
        |  JOIN idf ON idf.term = qt.term GROUP BY 1, 2),
        |rk AS (SELECT q_id, doc_id, score,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_hybrid_rank" ->
      s"""WITH ${embedVecCtes(cnt = "cc")},
        |qv AS (SELECT doc_id AS q_id, vec FROM vecs WHERE doc_id % 100 = 0),
        |cv AS (SELECT doc_id AS n_id, vec FROM vecs WHERE doc_id % 100 <> 0),
        |annr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |  ORDER BY list_cosine_similarity(qv.vec, cv.vec) DESC, n_id) AS rank FROM qv, cv),
        |ann AS (SELECT q_id, n_id, rank FROM annr WHERE rank <= 5),
        |cd AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 <> 0),
        |${lexIdfCtes("cd")},
        |post AS (SELECT term, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM cd) GROUP BY 1, 2),
        |qt AS (SELECT q_id, term, count(*) AS qtf FROM
        |  (SELECT doc_id AS q_id, unnest(string_split(text, ' ')) AS term
        |   FROM documents WHERE doc_id % 100 = 0) GROUP BY 1, 2),
        |sc AS (SELECT qt.q_id, post.doc_id, sum(qt.qtf * post.tf * idf.idf_bits) AS score
        |  FROM qt JOIN post USING (term) JOIN idf ON idf.term = post.term GROUP BY 1, 2),
        |lexr AS (SELECT q_id, doc_id AS n_id,
        |  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc),
        |lex AS (SELECT q_id, n_id, rank FROM lexr WHERE rank <= 5),
        |pts AS (SELECT q_id, n_id, 6 - rank AS p FROM ann
        |  UNION ALL SELECT q_id, n_id, 6 - rank AS p FROM lex),
        |fused AS (SELECT q_id, n_id, CAST(sum(p) AS BIGINT) AS points FROM pts GROUP BY 1, 2),
        |fr AS (SELECT q_id, n_id, points,
        |  row_number() OVER (PARTITION BY q_id ORDER BY points DESC, n_id) AS rank FROM fused)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id, points
        |FROM fr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),
    "q_hybrid_rank_scale" -> hybridRankScaleSql,
    "q_dsir_sample" ->
      """WITH tt AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents WHERE doc_id % 7 = 0),
        |tc AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b,
        |  CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1),
        |tn AS (SELECT count(*) AS n FROM tt),
        |rt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents WHERE doc_id % 7 <> 0),
        |rc AS (SELECT CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b,
        |  CAST(count(*) AS BIGINT) AS c FROM rt GROUP BY 1),
        |rn AS (SELECT count(*) AS n FROM rt),
        |bk AS (SELECT unnest(generate_series(0, 511)) AS b),
        |tbits AS (SELECT b, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS bits
        |  FROM (SELECT bk.b, ((SELECT n FROM tn) + 512 + coalesce(tc.c, 0)) // (coalesce(tc.c, 0) + 1) AS m
        |        FROM bk LEFT JOIN tc USING (b))),
        |rbits AS (SELECT b, CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END AS bits
        |  FROM (SELECT bk.b, ((SELECT n FROM rn) + 512 + coalesce(rc.c, 0)) // (coalesce(rc.c, 0) + 1) AS m
        |        FROM bk LEFT JOIN rc USING (b))),
        |sc AS (SELECT r.doc_id, rb.bits - tb.bits AS d
        |  FROM (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 512 AS b FROM rt) r
        |  JOIN tbits tb ON tb.b = r.b JOIN rbits rb ON rb.b = r.b)
        |SELECT doc_id, CAST(sum(d) AS BIGINT) AS weight_bits,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM sc GROUP BY 1 ORDER BY weight_bits DESC, doc_id LIMIT 500""".stripMargin.replaceAll("\n", " "),
    "q_line_dedup" ->
      """WITH lines AS (SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' ')))) AS pos,
        |    unnest(string_split(text, ' ')) AS ln
        |  FROM documents),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn
        |  FROM lines),
        |kept AS (SELECT doc_id, pos, ln FROM ranked WHERE rn = 1),
        |agg AS (SELECT doc_id, string_agg(ln, ' ' ORDER BY pos) AS t, count(*) AS k
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.t, '') AS text,
        |  len(string_split(d.text, ' ')) AS n_lines, coalesce(agg.k, 0) AS n_kept
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin
        .replaceAll("\n", " "),
    "q_shared_spans" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 25), ' ') AS text
        |  FROM documents WHERE doc_id % 40 = 0),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d0),
        |g0 AS (SELECT doc_id, unnest(generate_series(0, len(ws) - 5)) AS pos, ws
        |  FROM d WHERE len(ws) >= 5),
        |g AS (SELECT doc_id, pos,
        |  array_to_string(list_slice(ws, pos + 1, pos + 5), ' ') AS gram FROM g0),
        |freq AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df
        |  FROM g GROUP BY 1) WHERE df > 100),
        |gg AS (SELECT * FROM g ANTI JOIN freq USING (gram)),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, a.pos - b.pos AS diag
        |  FROM gg a JOIN gg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |runs AS (SELECT id_a, id_b, count(*) + 4 AS span
        |  FROM (SELECT *, pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
        |        FROM pr)
        |  GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, max(span) AS max_span FROM runs
        |GROUP BY 1, 2 HAVING max(span) >= 10 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),
    "q_decontaminate_spans" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
        |ev AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
        |evd AS (SELECT string_split(text, ' ') AS ws FROM ev),
        |evg AS (SELECT DISTINCT array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS gram
        |  FROM (SELECT ws, unnest(generate_series(0, len(ws) - 8)) AS i FROM evd WHERE len(ws) >= 8)),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM tr),
        |g AS (SELECT doc_id, i AS pos, array_to_string(list_slice(ws, i + 1, i + 8), ' ') AS gram
        |  FROM (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 8)) AS i FROM d WHERE len(ws) >= 8)),
        |cutw AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN evg USING (gram)),
        |$spanRemovalTail""".stripMargin.replaceAll("\n", " "),
    "q_stream_span_dedup" -> substringDedupSql,
    "q_substring_dedup" -> substringDedupSql,

    "q_dedup_minhash" -> minhashBandSql,

    "q_dedup_minhash_fast" -> minhashFastPairsSql,

    "q_dedup_clusters" -> dedupClustersSql,
    "q_leakage_split" -> leakageSplitSql,

    "q_embed_ann" -> embedAnnSql,
    "q_embed_ivf" -> embedIvfSql,
    "q_embed_lsh" -> embedLshSql,
    "q_semantic_dedup" -> semanticDedupSql,
    "q_curation_pipeline" -> curationPipelineSql,
    "q_cluster_sample" -> clusterSampleSql,
    "q_rerank" -> rerankSql,
    // per-query results don't depend on micro-batch boundaries, so the
    // streamed probe replays the batch embed→IVF oracle verbatim
    "q_stream_embed_probe" -> embedIvfSql,
    "q_stream_index_delta" -> streamIndexDeltaSql,

    "q_ann_lsh" -> annLshSql,
    "q_ann_lsh_probe" -> annLshProbeSql,

    "q_ann_ivf" -> annIvfSql,
    "q_ann_recall" -> annRecallSql,

    "q_ann_ivfpq" -> annIvfPqSql,

    "q_ann_project" -> annProjectSql,

    "q_dedup_pipeline" ->
      s"WITH ${cappedNearDupCtes(3, 0.8)} SELECT id_a, id_b, jac FROM verified ORDER BY 1, 2",

    "q_ann_cosine" ->
      """SELECT q_id, rank, n_id FROM (
        | SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        | FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND c.vec_id >= 5)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin.replaceAll("\n", " "),

    "q_extract_structured" ->
      """SELECT doc_id, substr(text, 1, 24) AS head,
        | CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS VARCHAR) AS n_words,
        | array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS summary
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_chunk_docs" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 9 = 0),
        |sized AS (SELECT doc_id, ws, len(ws) AS n,
        |  CASE WHEN len(ws) <= 40 THEN 1
        |       ELSE CAST(ceil((len(ws) - 40) / CAST(32 AS DOUBLE)) AS BIGINT) + 1 END AS m
        |  FROM docs),
        |ex AS (SELECT doc_id, ws, n, UNNEST(range(0, m)) AS c FROM sized)
        |SELECT doc_id, c AS chunk_idx,
        |  array_to_string(list_slice(ws, c*32 + 1, c*32 + 40), ' ') AS chunk_text,
        |  least(40, n - c*32) AS n_tokens
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin.replaceAll("\n", " "),

    "q_domain_mix" ->
      """WITH cnt AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |rates AS (SELECT source, least(1.0, CAST(60 AS DOUBLE) *
        |  (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 WHEN 'src2' THEN 0.2 ELSE 0.0 END) / c) AS r
        |  FROM cnt)
        |SELECT doc_id, source, n_chars FROM documents JOIN rates USING (source)
        |WHERE CAST(CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |  / CAST(1152921504606846976 AS DOUBLE) < r
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_ngram_novelty" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id % 5 = 0),
        |dg AS (SELECT doc_id, UNNEST(list_distinct(CASE WHEN len(ws) >= 2
        |  THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        |  ELSE [] END)) AS gram FROM docs),
        |freq AS (SELECT gram, count(*) AS df FROM dg GROUP BY 1),
        |per AS (SELECT doc_id, count(*) AS n_grams,
        |  count(*) FILTER (WHERE df = 1) AS novel_grams
        |  FROM dg JOIN freq USING (gram) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |  coalesce(novel_grams, 0) AS novel_grams,
        |  CASE WHEN n_grams IS NOT NULL THEN CAST(novel_grams AS DOUBLE) / n_grams END AS novelty
        |FROM docs d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),

    "q_text_quality" ->
      """SELECT doc_id, length(text) AS n_chars, len(string_split(text, ' ')) AS n_words,
        | (length(text) - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
        | len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'))
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
        | len(regexp_extract_all(text, '[\.,;:!\?]')) AS punct_count,
        | 1.0 - len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS repetition_ratio
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_gopher_filter" ->
      s"""WITH ${gopherFeaturesCte("f", "documents")},
        |g AS (SELECT doc_id,
        |  CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS c1,
        |  CASE WHEN ml >= 3.0 AND ml <= 10.0 THEN 1 ELSE 0 END AS c2,
        |  CASE WHEN nh / CAST(nw AS DOUBLE) <= 0.1 THEN 1 ELSE 0 END AS c3,
        |  CASE WHEN ne / CAST(nw AS DOUBLE) <= 0.1 THEN 1 ELSE 0 END AS c4,
        |  CASE WHEN len(list_filter(ls, l -> substr(l, 1, 1) IN ('-', '*'))) / CAST(len(ls) AS DOUBLE) <= 0.9 THEN 1 ELSE 0 END AS c5,
        |  CASE WHEN len(list_filter(ls, l -> ends_with(l, '...'))) / CAST(len(ls) AS DOUBLE) <= 0.3 THEN 1 ELSE 0 END AS c6,
        |  CASE WHEN len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) / CAST(nw AS DOUBLE) >= 0.8 THEN 1 ELSE 0 END AS c7,
        |  CASE WHEN len(list_filter(w, t -> t IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) >= 2 THEN 1 ELSE 0 END AS c8
        |  FROM f)
        |SELECT doc_id,
        |  CAST(c1 AS BIGINT) AS ok_word_count, CAST(c2 AS BIGINT) AS ok_mean_word_len,
        |  CAST(c3 AS BIGINT) AS ok_hash_ratio, CAST(c4 AS BIGINT) AS ok_ellipsis_ratio,
        |  CAST(c5 AS BIGINT) AS ok_bullet_lines, CAST(c6 AS BIGINT) AS ok_ellipsis_lines,
        |  CAST(c7 AS BIGINT) AS ok_alpha_words, CAST(c8 AS BIGINT) AS ok_stopwords,
        |  CAST(c1 * c2 * c3 * c4 * c5 * c6 * c7 * c8 AS BIGINT) AS pass
        |FROM g ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_langid" -> langidSql,

    "q_tokens" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_fingerprint" ->
      """SELECT doc_id, md5(substr(lower(text), 1, 64)) AS fp, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_scd2" ->
      """WITH s1 AS (SELECT user_id, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE event_id < 5000) WHERE rn = 1),
        |s2 AS (SELECT user_id, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1)
        |SELECT user_id, event_id, value, vf_us, vt_us FROM (
        |  SELECT s1.user_id, s1.event_id, s1.value,
        |         epoch_us(TIMESTAMP '2024-06-01 00:00:00') AS vf_us, CAST(NULL AS BIGINT) AS vt_us
        |  FROM s1 JOIN s2 USING (user_id)
        |  WHERE s1.event_id = s2.event_id AND s1.value = s2.value
        |  UNION ALL
        |  SELECT s1.user_id, s1.event_id, s1.value,
        |         epoch_us(TIMESTAMP '2024-06-01 00:00:00'), epoch_us(TIMESTAMP '2024-07-01 00:00:00')
        |  FROM s1 JOIN s2 USING (user_id)
        |  WHERE NOT (s1.event_id = s2.event_id AND s1.value = s2.value)
        |  UNION ALL
        |  SELECT s2.user_id, s2.event_id, s2.value,
        |         epoch_us(TIMESTAMP '2024-07-01 00:00:00'), CAST(NULL AS BIGINT)
        |  FROM s2 JOIN s1 USING (user_id)
        |  WHERE NOT (s1.event_id = s2.event_id AND s1.value = s2.value)
        |  UNION ALL
        |  SELECT user_id, event_id, value,
        |         epoch_us(TIMESTAMP '2024-06-01 00:00:00'), epoch_us(TIMESTAMP '2024-07-01 00:00:00')
        |  FROM s1 WHERE user_id NOT IN (SELECT user_id FROM s2)
        |  UNION ALL
        |  SELECT user_id, event_id, value,
        |         epoch_us(TIMESTAMP '2024-07-01 00:00:00'), CAST(NULL AS BIGINT)
        |  FROM s2 WHERE user_id NOT IN (SELECT user_id FROM s1)
        |) ORDER BY user_id, vf_us, event_id""".stripMargin.replaceAll("\n", " "),

    "q_corpus_pipeline" ->
      """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |pool0 AS (SELECT doc_id, lang, text, n_chars FROM documents
        |          WHERE doc_id % 97 <> 0 AND len(string_split(text, ' ')) >= 50),
        |pool1 AS (SELECT doc_id, lang, text, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(substr(lower(text), 1, 64))
        |                               ORDER BY doc_id) AS rn FROM pool0) WHERE rn = 1),
        |ews AS (SELECT string_split(text, ' ') AS w FROM ev),
        |epos AS (SELECT w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM ews),
        |eg AS (SELECT DISTINCT md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS g
        |       FROM epos WHERE i + 7 <= len(w)),
        |tws AS (SELECT doc_id, string_split(text, ' ') AS w FROM pool1),
        |tpos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM tws),
        |tg AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS g
        |       FROM tpos WHERE i + 7 <= len(w)),
        |contaminated AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg ON tg.g = eg.g),
        |clean AS (SELECT * FROM pool1 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |sampled AS (SELECT doc_id, lang, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn2 FROM clean) WHERE rn2 <= 30)
        |SELECT doc_id, lang, CAST(floor((SUM(n_chars) OVER (
        |  PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) / 8192.0) AS BIGINT) AS pack_id
        |FROM sampled ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_sessionize_batch" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |                THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT) AS session_id
        |FROM (SELECT event_id, user_id, ts,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events WHERE event_id < 5000)
        |ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_asof_join" ->
      """WITH r AS (SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
        |             max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |l AS (SELECT event_id, user_id, ts FROM events WHERE event_id < 2000)
        |SELECT l.event_id, l.user_id, r.o_orderkey
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.o_custkey AND l.ts >= r.ots
        |ORDER BY l.event_id""".stripMargin.replaceAll("\n", " "),

    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 40 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_pack_sequences" ->
      """SELECT doc_id, lang, CAST(floor((SUM(n_chars) OVER (
        |  PARTITION BY lang ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) / 4096.0) AS BIGINT) AS pack_id
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_decontaminate" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM ws),
        |grams AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS g
        |  FROM pos WHERE i + 7 <= len(w)),
        |eg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0),
        |agg AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |  CAST(count(eg.g) AS BIGINT) AS n_contaminated
        |  FROM tg LEFT JOIN eg ON tg.g = eg.g GROUP BY tg.doc_id)
        |SELECT d.doc_id, coalesce(a.n_ngrams, 0) AS n_ngrams,
        |  coalesce(a.n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN coalesce(a.n_ngrams, 0) = 0 THEN 0.0
        |       ELSE a.n_contaminated / CAST(a.n_ngrams AS DOUBLE) END AS contamination
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),

    "q_token_sketch" ->
      """WITH ct AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents WHERE doc_id % 97 <> 0),
        |js(j) AS (VALUES (0), (1), (2)),
        |cells AS (SELECT j, CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 15)) AS BIGINT) % 1024 AS p,
        |  CAST(count(*) AS BIGINT) AS n FROM ct, js GROUP BY 1, 2),
        |pt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token FROM documents WHERE doc_id % 97 = 0),
        |pp AS (SELECT token, j, CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT) % 1024 AS p FROM pt, js),
        |est AS (SELECT pp.token, min(coalesce(cells.n, 0)) AS est
        |  FROM pp LEFT JOIN cells ON cells.j = pp.j AND cells.p = pp.p GROUP BY pp.token),
        |tc AS (SELECT t AS token, CAST(count(*) AS BIGINT) AS true_cnt FROM ct GROUP BY 1)
        |SELECT e.token, CAST(e.est AS BIGINT) AS est, coalesce(tc.true_cnt, 0) AS true_cnt
        |FROM est e LEFT JOIN tc USING (token) ORDER BY token""".stripMargin.replaceAll("\n", " "),

    "q_decontaminate_bloom" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM ws),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS g
        |  FROM pos WHERE i + 7 <= len(w)),
        |js(j) AS (VALUES (0), (1), (2)),
        |evp AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT) % 65536 AS p
        |  FROM grams, js WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0),
        |tpos AS (SELECT doc_id, g,
        |  CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 15)) AS BIGINT) % 65536 AS p FROM tg, js),
        |tchk AS (SELECT doc_id, g, count(DISTINCT p) AS np,
        |  count(DISTINCT CASE WHEN p IN (SELECT p FROM evp) THEN p END) AS nm
        |  FROM tpos GROUP BY doc_id, g),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated FROM tchk WHERE np = nm GROUP BY doc_id),
        |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM tg GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(c.n_ngrams, 0) AS n_ngrams,
        |  coalesce(h.n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN coalesce(c.n_ngrams, 0) = 0 THEN 0.0
        |       ELSE coalesce(h.n_contaminated, 0) / CAST(c.n_ngrams AS DOUBLE) END AS contamination
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN cnt c ON d.doc_id = c.doc_id
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),

    "q_multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha
        |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    // replicates the stub kernel's length-derived fake dims (Knuth
    // multiplicative hash of n_bytes) — hard-gates the mapPartitions
    // decode plumbing: id alignment, schema, batch shape
    "q_multimodal_decode" ->
      """SELECT id, n_bytes,
        | 1 + h % 1024 AS width,
        | 1 + (h // 1024) % 1024 AS height,
        | 1 + n_bytes % 16 AS n_frames
        |FROM (SELECT doc_id AS id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |        (CAST(octet_length(encode(text)) AS BIGINT) * 2654435769) % 4294967296 AS h
        |      FROM documents)
        |ORDER BY id""".stripMargin.replaceAll("\n", " "),

    "q_simhash" -> simhashSql,

    "q_custom_fields" ->
      """SELECT CASE event_type WHEN 'click' THEN 'Clicked' WHEN 'view' THEN 'Seen'
        |   WHEN 'error' THEN 'Failed' ELSE event_type END AS event_label, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_stage_pivot" ->
      """SELECT user_id, event_type AS stage, CAST(epoch_us(min(ts)) AS BIGINT) AS entered_us
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    "q_field_pivot" ->
      """SELECT event_id, CAST(value AS VARCHAR) AS value_s, event_type AS etype
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_deal_flows" ->
      """SELECT 'deals_flow_' || event_type AS _table, event_id, value,
        | CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),

    "q_assoc_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2""".stripMargin,

    "q_property_history" ->
      """SELECT user_id AS object_id, event_type AS property_name, event_id,
        | CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |FROM events ORDER BY 1, 2, 3""".stripMargin.replaceAll("\n", " "),

    "q_dedup_cosine" ->
      """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |  (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bkt
        |FROM embeddings WHERE vec_id % 7 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM d a JOIN d b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.2
        |ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    "q_cdc_pipeline" ->
      """SELECT user_id, event_id, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 2000)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_cdc_poll" ->
      """SELECT user_id, event_id, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 2500)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_cdc_stream" ->
      """SELECT user_id, event_id, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events
        |      WHERE event_id < 2000 AND CAST(floor(event_id / 50.0) AS BIGINT) % 7 <> 3)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    "q_queue_pipeline" ->
      """SELECT CAST(user_id % 4 AS INTEGER) AS _queue_partition, count(*) AS n,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events WHERE event_id < 3000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_rest_pipeline" -> restDocsSql,
    // same rows as q_rest_pipeline through the POST + cursor-in-body
    // protocol — the oracle is deliberately identical
    "q_rest_post" -> restDocsSql,
    // the config-level filter replayed in SQL; the dropped `secret`
    // column never existed in the oracle's source, so its survival on
    // the Spark side would break the schema hash
    "q_rest_steps" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id < 100 AND n_chars > 150 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_rest_parallel" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id < 200 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_doc_pushdown" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id >= 40 AND doc_id < 400
        |GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_jdbc_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey < 3000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_jdbc_merge" ->
      """WITH b1 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(1 AS BIGINT) AS _seq FROM orders WHERE o_orderkey < 1000),
        |b2w AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 3 AS o_totalprice,
        |  CAST(3 AS BIGINT) AS _seq FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500),
        |final AS (
        |  SELECT * FROM b1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2w)
        |  UNION ALL
        |  SELECT * FROM b2w WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, _seq
        |FROM final ORDER BY o_orderkey""".stripMargin.replaceAll("\n", " "),

    "q_fleet_pipeline" -> fleetIssuesSql,

    "q_fleet_config" -> fleetIssuesSql,

    "q_fleet_header_link" -> fleetIssuesSql,

    "q_fleet_auto" -> fleetIssuesSql,

    "q_redact" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@corp.example.com or 555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.7' AS txt FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(txt, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(txt, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        | CAST(length(regexp_replace(regexp_replace(regexp_replace(txt,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
        |   '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS BIGINT) AS red_len
        |FROM t ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws, len(ws) AS n, greatest(len(ws) - 2, 0) AS n3,
        |  list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams FROM d)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        | CAST(n - len(list_distinct(ws)) AS BIGINT) AS n_dup_words,
        | CAST(n3 AS BIGINT) AS n_3grams,
        | CAST(n3 - len(list_distinct(grams)) AS BIGINT) AS n_dup_3grams
        |FROM g ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    "q_soql_unify" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n, count(DISTINCT event_id) AS n_ids
        |FROM events WHERE event_id < 3000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_ga_report" ->
      """WITH g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
        |  count(*) AS views, sum(CAST(value AS DECIMAL(18,2))) AS rate
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(date_trunc('month', d) AS DATE) AS month, count(*) AS n_rows,
        | CAST(sum(views) AS BIGINT) AS sum_views, CAST(sum(rate) AS DOUBLE) AS sum_rate
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_stripe_cursor" ->
      """SELECT c_mktsegment, count(*) AS n, count(DISTINCT c_custkey) AS n_ids,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    // the attribution-window day-split: days older than (now - 7d) - 7d
    // keep run 1's partial aggregates (late conversions missing), the
    // trailing window holds run 2's complete re-land
    "q_insights_jobs" ->
      """WITH bounds AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        |cut AS (SELECT greatest(d0, greatest(d0, d1 - 7) - 7) AS r2 FROM bounds),
        |full_agg AS (SELECT CAST(ts AS DATE) AS date_start, user_id % 50 AS ad_id,
        |  count(*) AS impressions, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM events GROUP BY 1, 2),
        |part_agg AS (SELECT CAST(ts AS DATE) AS date_start, user_id % 50 AS ad_id,
        |  count(*) AS impressions, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM events WHERE event_id % 10 <> 7 GROUP BY 1, 2)
        |SELECT p.date_start, p.ad_id, p.impressions, p.spend FROM part_agg p, cut WHERE p.date_start < cut.r2
        |UNION ALL
        |SELECT f.date_start, f.ad_id, f.impressions, f.spend FROM full_agg f, cut WHERE f.date_start >= cut.r2
        |ORDER BY date_start, ad_id""".stripMargin.replaceAll("\n", " "),

    "q_inbox_cursor" ->
      """SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS n_uids,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 7 = 3 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_queue_bridge" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT event_id) AS n_distinct,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id < 1500 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_media_decode" ->
      """WITH src AS (SELECT event_id AS e, user_id AS u FROM events WHERE event_id < 500),
        |wavu AS (SELECT e, u, UNNEST(range(0, 100 + u % 400)) AS i FROM src WHERE e % 4 = 0),
        |wav AS (SELECT e AS media_id, 'wav' AS format, CAST(0 AS INTEGER) AS width,
        |  CAST(0 AS INTEGER) AS height, CAST(100 + u % 400 AS BIGINT) AS n_units,
        |  CAST(sum(((e*31 + i*17) % 2001 - 1000) * ((e*31 + i*17) % 2001 - 1000)) AS BIGINT) AS content_sum
        |  FROM wavu GROUP BY e, u),
        |imgx AS (SELECT e, u, UNNEST(range(0, 4 + e % 13)) AS x FROM src WHERE e % 4 IN (1, 2, 3)),
        |imgxy AS (SELECT e, u, x, UNNEST(range(0, 3 + u % 9)) AS y FROM imgx),
        |img AS (SELECT e AS media_id,
        |  CASE WHEN e % 4 = 1 THEN 'bmp' WHEN e % 4 = 2 THEN 'png' ELSE 'jpeg' END AS format,
        |  CAST(4 + e % 13 AS INTEGER) AS width, CAST(3 + u % 9 AS INTEGER) AS height,
        |  CAST((4 + e % 13) * (3 + u % 9) AS BIGINT) AS n_units,
        |  CAST(CASE WHEN e % 4 = 3 THEN 1 ELSE 3 END * sum((e + 7*x + 11*y) % 256) AS BIGINT) AS content_sum
        |  FROM imgxy GROUP BY e, u),
        |src2 AS (SELECT event_id AS e, user_id AS u FROM events WHERE event_id >= 500 AND event_id < 640),
        |giff AS (SELECT e, u, UNNEST(range(0, 2 + e % 3)) AS f FROM src2),
        |gifx AS (SELECT e, u, f, UNNEST(range(0, 4 + e % 13)) AS x FROM giff),
        |gifxy AS (SELECT e, u, f, x, UNNEST(range(0, 3 + u % 9)) AS y FROM gifx),
        |gif AS (SELECT e AS media_id, 'gif' AS format,
        |  CAST(4 + e % 13 AS INTEGER) AS width, CAST(3 + u % 9 AS INTEGER) AS height,
        |  CAST((2 + e % 3) * (4 + e % 13) * (3 + u % 9) AS BIGINT) AS n_units,
        |  CAST(3 * sum((e + 5*f + 7*x + 11*y) % 256) AS BIGINT) AS content_sum
        |  FROM gifxy GROUP BY e, u)
        |SELECT * FROM wav UNION ALL SELECT * FROM img UNION ALL SELECT * FROM gif ORDER BY media_id""".stripMargin.replaceAll("\n", " "),

    "q_frame_sample" ->
      """WITH src AS (SELECT event_id AS e, user_id AS u FROM events WHERE event_id >= 500 AND event_id < 640),
        |fr AS (SELECT e, u, UNNEST(range(0, 2 + e % 5, 2)) AS f FROM src),
        |frx AS (SELECT e, u, f, UNNEST(range(0, 4 + e % 13)) AS x FROM fr),
        |frxy AS (SELECT e, u, f, x, UNNEST(range(0, 3 + u % 9)) AS y FROM frx)
        |SELECT e AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(4 + e % 13 AS BIGINT) AS width, CAST(3 + u % 9 AS BIGINT) AS height,
        |  CAST(3 * sum((e + 5*f + 7*x + 11*y) % 256) AS BIGINT) AS pix_sum
        |FROM frxy GROUP BY e, u, f ORDER BY media_id, frame_idx""".stripMargin.replaceAll("\n", " "),

    "q_image_dedup" -> mediaPairSql(imagePairCtes),

    "q_image_clusters" -> mediaClustersSql(imagePairCtes),

    "q_video_dedup" -> videoPairSql(None),

    "q_video_dedup_capped" -> videoPairSql(Some(4)),

    "q_video_clusters" -> videoClustersSql(None),

    "q_video_clusters_capped" -> videoClustersSql(Some(4)),

    "q_audio_dedup" -> mediaPairSql(audioPairCtes),

    "q_audio_dedup_capped" -> mediaPairSql(audioPairCtesWith(Some(4))),

    "q_audio_clusters" -> mediaClustersSql(audioPairCtes),

    // the composed capped recipe: transitive closure over the CAPPED star
    // pair set (audioPairCtesWith(4)) — hub-mediated closure, gated
    // end-to-end exactly as the engine composes it at corpus scale
    "q_audio_clusters_capped" -> mediaClustersSql(audioPairCtesWith(Some(4))),

    "q_image_clusters_capped" -> mediaClustersSql(imagePairCtesWith(Some(4))),

    "q_sheets_serial" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT) AS n_even
        |FROM orders WHERE o_orderkey < 4000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_graphql_flatten" ->
      """WITH fan AS (SELECT doc_id, UNNEST(range(0, CAST(n_chars % 3 AS BIGINT) + 1)) AS g
        | FROM documents WHERE doc_id < 200)
        |SELECT 'l' || CAST(g AS VARCHAR) AS label, count(*) AS n,
        | count(DISTINCT doc_id) AS n_docs
        |FROM fan GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_shard_cursor" ->
      """SELECT 'shard-' || CAST(user_id % 3 AS VARCHAR) AS _shard_id, count(*) AS n,
        | count(DISTINCT event_id) AS n_distinct, max(event_id) AS max_seq,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events WHERE event_id < 2000 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),

    "q_pipeline_incremental" ->
      """SELECT count(*) AS n, count(DISTINCT event_id) AS n_distinct,
        | CAST(epoch_us(max(ts)) AS BIGINT) AS max_ts_us
        |FROM events""".stripMargin.replaceAll("\n", " "),

    // complete-mode windowed aggregation ≡ batch groupBy on the epoch-
    // aligned 6h tumbling window
    "q_stream_window" ->
      """SELECT CAST(floor(epoch_us(ts) / 21600000000) * 21600000000 AS BIGINT) AS window_start_us,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id < 4000 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    // streaming merge landing ≡ batch last-write-wins per key
    "q_stream_merge" ->
      """SELECT user_id, event_id, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |      FROM events WHERE event_id < 5000)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin.replaceAll("\n", " "),

    // stream-stream interval join ≡ the batch interval join (watermark
    // spans the range, so no join state ages out mid-run)
    "q_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |WHERE v.user_id < 50 AND v.event_type = 'view'
        |  AND p.user_id < 50 AND p.event_type = 'purchase'
        |ORDER BY 2, 3""".stripMargin.replaceAll("\n", " "),

    // streamed corpus ≡ batch near-dup dedup survivors (min-id per
    // verified-pair component survives; everyone unpaired survives)
    "q_stream_dedup_corpus" ->
      s"""WITH RECURSIVE ${cappedNearDupCtes(9, 0.9)},
         |${closureCtes()},
         |clus AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id)
         |SELECT doc_id FROM documents WHERE doc_id % 9 = 0
         |  AND doc_id NOT IN (SELECT id FROM clus WHERE id != cluster)
         |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),

    // streaming dedup survivors ≡ the distinct key set
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),

    // sessionization: 30-min-gap sessions (ms precision, matching
    // Timestamp.getTime), emitted when closed by a later event (sid <
    // last sid) or aged out by the event-time timeout (end + gap <
    // watermark = max ts − 1h over the same filtered stream)
    "q_stream_sessionize" ->
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 50),
        |w AS (SELECT max(epoch_ms(ts)) - 3600000 AS wm FROM e),
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000
        |       THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |sgrp AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |agg AS (SELECT user_id, sid,
        |  CAST(min(epoch_ms(ts)) AS BIGINT) AS start_ms, CAST(max(epoch_ms(ts)) AS BIGINT) AS end_ms,
        |  count(*) AS n_events, CAST(round(sum(value) * 100) AS BIGINT) AS total_cents
        |  FROM sgrp GROUP BY 1, 2),
        |lastsid AS (SELECT user_id, max(sid) AS mx FROM agg GROUP BY 1)
        |SELECT a.user_id, a.start_ms, a.end_ms, a.n_events, a.total_cents
        |FROM agg a JOIN lastsid l ON a.user_id = l.user_id, w
        |WHERE a.sid < l.mx OR a.end_ms + 1800000 < w.wm
        |ORDER BY 1, 2""".stripMargin.replaceAll("\n", " "),
  )
}

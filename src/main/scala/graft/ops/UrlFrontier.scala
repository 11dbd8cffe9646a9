package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.core.{Disposition, TableHints, TableManifest}

/** Cross-run batch URL frontier — the recurring-crawl shape of the
  * reference's seen-archives pattern (sources/chess/__init__.py:95-124:
  * plan the whole range, drop already-fetched archives via the seen set,
  * fetch only the remainder), lifted to URL granularity for a web
  * pipeline: run N lists candidate URLs, canonicalizes them
  * ([[Url.canonicalize]]), anti-joins the committed seen-set, and fetches
  * only never-seen pages.
  *
  * The frontier is a [[TableManifest]] writer rooted at `dest`, with four
  * tables:
  *  - `seen`: the canonical keys ever fetched (`url_canon`). At corpus
  *    scale it holds billions of keys, so it lives columnar and membership
  *    is a distributed `left_anti` join, never a driver-side collection;
  *  - `pages`: the archive, with the schema the fetch defines;
  *  - `hosts`: (host, wave) of the hosts fetched within the trailing
  *    politeness window;
  *  - `waves`: one row per committed wave — its row count is the logical
  *    wave clock.
  *
  * Each verb ([[runWave]], [[compactSeen]], [[compactPages]]) is ONE
  * publish: it lands what it changes as fresh generations and commits
  * them in one manifest epoch, so a crash anywhere before the commit
  * leaves every table — and the clock — as it was, and the retry sees
  * only orphan dirs the manifest sweeps. Writers exclude each other per
  * table: a publish leases each table at its first touch (auto-renewed,
  * so an arbitrarily long fetch is never exposed to stale takeover), and
  * a second writer of a table fails fast with LockHeldException.
  *
  * The archive is the user-facing artifact (the reference's chess source
  * lands exactly such an archives table, sources/chess/__init__.py:95-124)
  * and carries the same exactly-once guarantee as the seen-set — but ONLY
  * through [[committedPages]]. A raw glob over `pages/` can see orphans and
  * the generations a compaction superseded: those stay for the manifest's
  * reader grace, until the next publish that touches the table.
  *
  * `dest` must be a local filesystem path, as for every manifest. A
  * `dest` in the layout written before the frontier was a manifest writer
  * (generation dirs under `seen/` or `pages/`, no manifest epoch, no
  * `waves/` dir) is refused by every verb, naming it: a publish would
  * sweep its archive as orphans. A new frontier's crashed first wave
  * always leaves `waves/` (its row lands first), so it is never refused.
  */
object UrlFrontier {

  /** The frontier's manifest, once `dest` is known not to be in the
    * pre-manifest layout.
    */
  private def manifest(spark: SparkSession, dest: String): TableManifest = {
    val m = new TableManifest(spark, dest)
    if (m.tables.isEmpty) {
      val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def hasGens(table: String): Boolean = {
        val dir = new Path(dest, table)
        fs.exists(dir) && fs.listStatus(dir).exists(st => st.isDirectory && st.getPath.getName.matches("g[0-9]+"))
      }
      require(fs.exists(new Path(dest, "waves")) || !Seq("seen", "pages").exists(hasGens),
        s"$dest is a URL frontier in the pre-manifest layout (generation dirs under seen/ or pages/, " +
          "no manifest epoch): its first publish would sweep that archive as orphans")
    }
    m
  }

  private def emptyKeys(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("url_canon", StringType))))

  /** Committed seen-set of canonical keys (empty single-column frame
    * before the first commit).
    */
  def seenSet(spark: SparkSession, dest: String): DataFrame =
    manifest(spark, dest).read("seen").getOrElse(emptyKeys(spark))

  /** The committed pages archive: each canonical URL's content exactly
    * once (possibly many rows per page if the wave's fetch emitted one row
    * per extracted item — row multiplicity is the fetch's contract, never
    * duplicated by the frontier). This — not a raw glob over `pages/` — is
    * the read path for the archive. Empty keys-only frame before the first
    * commit (the page schema is fetch-defined).
    */
  def committedPages(spark: SparkSession, dest: String): DataFrame =
    manifest(spark, dest).read("pages").getOrElse(emptyKeys(spark))

  /** One crawl wave, one publish. `planned` carries raw candidate URLs in
    * `urlCol` (surface-form duplicates welcome — canonicalization collapses
    * them); `fetch` maps the deduped unseen frame (single `url_canon`
    * column) to the page rows and must keep `url_canon`. The wave's
    * `waves` row lands first (its count is the wave number W), then the
    * fetched pages, their keys as the `seen` delta and the rewritten
    * `hosts` window; one commit publishes all of them. Returns the landed
    * frame. The fetch runs once per URL: its output is pinned, and every
    * land reads the pin.
    *
    * Per-host politeness: `maxPerHost = Some(k)` caps the wave's fetch
    * set at k URLs per canonical host — a real crawl must not hand a
    * single host an unbounded wave (the behavior class is the
    * reference's per-connector rate discipline,
    * sources/chess/helpers.py). Selection is the k
    * lexicographically-smallest unseen URLs per host, computed by the
    * bounded [[graft.functions.MinK]] aggregator (buffer ≤ k strings per
    * host per map partition — a hot host with millions of candidates
    * never materializes its full list anywhere). Deterministic order
    * makes the selection oracle-replayable as a rank-within-host.
    * OVERFLOW CARRIES OVER for free: uncapped URLs are simply not
    * fetched, so they never enter the seen-set and the next wave's
    * anti-join re-presents them — fetch-exactly-once holds across waves
    * with no extra state.
    *
    * Politeness in TIME: `minWaveGapPerHost = g` excludes every host
    * fetched within the last g waves from this wave — a host fetched in
    * wave W gets g full waves of silence and is eligible again at wave
    * W+g+1 (the behavior class of the reference's per-connector
    * retry/backoff discipline, sources/facebook_ads/helpers.py:188-221,
    * expressed on the frontier's own LOGICAL clock — the committed wave
    * count — so it is deterministic and oracle-replayable). Exclusion
    * composes with `maxPerHost` (gap first, then the per-wave cap) and
    * costs nothing when 0: the `hosts` table keeps only the trailing g
    * waves' hosts, and excluded URLs never enter the seen-set so they
    * carry over exactly like cap overflow. A frontier that changes its gap
    * mid-life degrades gracefully: history older than the retained window
    * reads as "not recently fetched", and a gap=0 wave DRAINS an existing
    * `hosts` table to empty — so host history accumulates only across
    * consecutive gap>0 waves, and re-raising the gap later starts its
    * exclusion window fresh.
    */
  def runWave(spark: SparkSession, dest: String,
      planned: DataFrame, urlCol: String, maxPerHost: Option[Int] = None,
      minWaveGapPerHost: Int = 0,
      /** Per-host allow/disallow rules ([[robotsRules]] schema: host,
        * rule, pattern) applied as a hard exclusion BEFORE budget
        * selection — RFC 9309 semantics, full pattern grammar (`*`
        * wildcards, trailing-`$` end anchor): the most specific
        * (longest-as-written) matching pattern wins, allow wins length
        * ties, no match = allowed. Disallowed URLs never fetch and
        * never enter the seen-set, so a later rule change makes them
        * eligible again — the same carry-over semantics as cap overflow
        * and gap exclusion.
        */
      robots: Option[DataFrame] = None)(
      fetch: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val pub = manifest(spark, dest).publish(s"url-frontier:${java.util.UUID.randomUUID()}")
    try {
      // the clock commits with the data: land count = this wave's number
      val wave = pub.land(Seq((maxPerHost, minWaveGapPerHost)).toDF("max_per_host", "min_wave_gap_per_host"),
        TableHints("waves"))
      val seen = pub.read("seen").getOrElse(emptyKeys(spark))
      val hosts = pub.read("hosts")
      // lease the archive before fetching: a concurrent pages compaction
      // fails this wave now, not after its fetch
      pub.read("pages")
      val canon = planned.select(Url.canonicalize(col(urlCol)).as("url_canon")).distinct()
      val unseen0 = canon.join(seen, Seq("url_canon"), "left_anti")
      // robots exclusion is the HARDEST rule: applied before the gap and
      // the per-host budget so a disallowed URL never consumes either
      val unseen = robots.map(applyRobots(unseen0, "url_canon", _)).getOrElse(unseen0)
      // gap exclusion FIRST (an excluded host fetches nothing this wave),
      // then the per-wave cap on what remains
      val eligible = hosts.filter(_ => minWaveGapPerHost > 0).fold(unseen) { h =>
        // hosts fetched within the gap window: a bounded frame (one row
        // per recently-fetched host), anti-joined distributively — at
        // corpus scale it broadcasts, never collects
        val recentHosts = h.filter(col("wave") >= wave - minWaveGapPerHost).select(col("host")).distinct()
        unseen.withColumn("host", regexp_extract(col("url_canon"), "^[^/?]+", 0))
          .join(recentHosts, Seq("host"), "left_anti")
          .select("url_canon")
      }
      val todo = maxPerHost match {
        case None => eligible
        case Some(k) =>
          require(k > 0, s"maxPerHost must be positive, got $k")
          eligible.select(col("url_canon")).as[String]
            .groupByKey(hostOf)
            .agg(graft.functions.MinK.minK(k).name("urls"))
            .flatMap(_._2)
            .toDF("url_canon")
      }
      val fetched = fetch(todo)
      require(fetched.columns.contains("url_canon"),
        "fetch must keep the url_canon column — it is the frontier key")
      // one fetch per URL, ever: every land below reads this pin
      val landed = fetched.localCheckpoint(true)
      pub.land(landed, TableHints("pages"))
      // distinct: fetch may legally emit many rows per page (one per
      // extracted item) — the seen delta stores each frontier KEY once,
      // or the build side of every future wave's anti-join inflates
      // unboundedly at corpus scale
      pub.land(landed.select("url_canon").distinct(), TableHints("seen"))
      // hosts: the trailing window the NEXT wave's exclusion reads
      // (wave > W - gap) plus this wave's hosts; a gap=0 wave keeps
      // neither, so it rewrites an existing table to empty
      val window = hosts.map(_.filter(col("wave") > wave - minWaveGapPerHost))
      val mine = Option.when(minWaveGapPerHost > 0)(
        landed.select(regexp_extract(col("url_canon"), "^[^/?]+", 0).as("host"), lit(wave).as("wave")).distinct())
      (window ++ mine).reduceOption(_ union _).foreach(h => pub.land(h, TableHints("hosts", Disposition.Replace)))
      pub.commit()
      landed
    } finally pub.abort()
  }

  /** Canonical host of a canonical URL (scheme already stripped by
    * [[Url.canonicalize]]): everything before the first '/' or '?'.
    */
  private def hostOf(urlCanon: String): String =
    urlCanon.takeWhile(c => c != '/' && c != '?')

  // ------------------------------------------------------------- robots

  /** Parse ONE robots.txt body into (rule, path-pattern) pairs for
    * `agent` — the full RFC 9309 grammar:
    *
    *  - GROUP SELECTION is product-token matching (§2.2.1): the
    *    crawler's product token is its agent string up to the first
    *    non-token octet (letters, `-`, `_` — so `graftbot/1.0` has
    *    token `graftbot`), a group's user-agent value matches when its
    *    own token is a case-insensitive PREFIX of the crawler token
    *    (`User-agent: graftbot` matches agent `graftbot/1.0`;
    *    `User-agent: graft` matches too), the LONGEST matching value
    *    wins (`graftbot` beats `graft` beats `*`), and ALL groups
    *    naming the winning value merge. No named match falls back to
    *    the `*` groups.
    *  - RULE VALUES are kept verbatim as match patterns: `*` matches
    *    any octet sequence, one trailing `$` anchors at end-of-path
    *    (any other `$` is literal), and a pattern without `$` is a
    *    prefix pattern — see [[graft.functions.RobotsMatchUtil]].
    *    Empty `Disallow:` is ignored (it means allow-all), and a value
    *    starting with neither `/` nor `*` is outside the RFC's
    *    path-pattern grammar (`path-pattern = "*" / "/" ...`) and
    *    dropped per its unparseable-line rule.
    *  - Comments and unrelated directives (crawl-delay, sitemap) skip.
    */
  private[ops] def parseRobotsTxt(body: String, agent: String): Seq[(String, String)] = {
    /** Leading RFC product token of an agent-ish string, lowercased. */
    def tokenOf(a: String): String =
      a.takeWhile(c => c.isLetter || c == '-' || c == '_').toLowerCase
    final case class Group(agents: Seq[String], rules: Seq[(String, String)])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[(String, String)]
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, rules)
      agents = Vector.empty; rules = Vector.empty; inRules = false
    }
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            // consecutive user-agent lines share one group; a user-agent
            // line after rules starts the NEXT group
            if (inRules) flush()
            agents :+= value.toLowerCase
          case "allow" | "disallow" if agents.nonEmpty =>
            inRules = true
            // empty Disallow: = allow-all (no rule); a value outside the
            // RFC path-pattern grammar (starts with neither '/' nor '*')
            // is an unparseable line and skipped
            if (value.nonEmpty && (value.charAt(0) == '/' || value.charAt(0) == '*'))
              rules :+= (key -> value)
          case _ => if (agents.nonEmpty) inRules = true
        }
      }
    }
    flush()
    val wanted = tokenOf(agent)
    // longest group-value token that prefixes the crawler token wins;
    // every group carrying a value of that winning length merges
    val best = (for {
      g <- groups; a <- g.agents; at = tokenOf(a)
      if at.nonEmpty && wanted.startsWith(at)
    } yield at.length).maxOption
    val chosen = best match {
      case Some(len) => groups.filter(_.agents.exists(a => {
        val at = tokenOf(a); at.length == len && wanted.startsWith(at)
      }))
      case None => groups.filter(_.agents.contains("*"))
    }
    chosen.flatMap(_.rules).toSeq
  }

  /** Explode per-host robots.txt bodies into the columnar rule table
    * [[applyRobots]] consumes: (host, rule, pattern). `bodies` needs
    * `host` and `robots_txt` string columns; hosts whose body yields no
    * rules for `agent` simply emit no rows (= everything allowed).
    */
  def robotsRules(bodies: DataFrame, agent: String = "*"): DataFrame = {
    val spark = bodies.sparkSession
    import spark.implicits._
    bodies.select(col("host").cast("string"), col("robots_txt").cast("string"))
      .as[(String, String)]
      .flatMap { case (host, txt) =>
        parseRobotsTxt(Option(txt).getOrElse(""), agent).map { case (rule, pattern) =>
          (host, rule, pattern)
        }
      }
      .toDF("host", "rule", "pattern")
  }

  /** Drop URLs whose robots verdict is disallow. RFC 9309 precedence:
    * the most specific matching rule wins, where specificity is the
    * pattern's octet length AS WRITTEN (`*` and `$` count — the same
    * tiebreak the reference robots.txt parsers use); allow wins exact
    * ties; a URL matching no rule passes. Matching is the full-grammar
    * [[graft.functions.RobotsMatch]] codegen predicate (wildcards,
    * end-anchor), evaluated on the host equi-join's output. The rule
    * table is per-host and bounded (a few rules per crawled host), so
    * the join broadcasts at corpus scale while the candidate side never
    * collects; the verdict aggregation is a bounded max-struct per
    * matched URL, not a window.
    */
  def applyRobots(df: DataFrame, urlCol: String, rules: DataFrame): DataFrame = {
    import graft.functions.RobotsMatch.robotsMatch
    // path of a canonical URL: everything from the first '/' (robots
    // paths always start with '/'); a bare host matches only via "/"
    val slash = locate("/", col(urlCol))
    val path = when(slash > 0, expr(s"substring($urlCol, locate('/', $urlCol))"))
      .otherwise(lit("/"))
    val cand = df.withColumn("__robots_host", regexp_extract(col(urlCol), "^[^/?]+", 0))
      .withColumn("__robots_path", path)
    val r = rules.select(col("host").as("__robots_host"), col("rule"), col("pattern"))
    val disallowed = cand
      .join(r, Seq("__robots_host"))
      .filter(robotsMatch(col("__robots_path"), col("pattern")))
      .groupBy(col(urlCol))
      // verdict = the most specific match: longest pattern first, allow
      // over disallow on equal length (struct max orders field-wise)
      .agg(max(struct(length(col("pattern")).as("l"),
        when(col("rule") === "allow", 1).otherwise(0).as("a"))).as("m"))
      .filter(col("m.a") === 0)
      .select(col(urlCol))
    df.join(disallowed, Seq(urlCol), "left_anti")
  }

  /** Bin-pack ALL committed seen generations into one. A recurring crawl
    * accumulates one generation per wave, so [[seenSet]] unions an
    * ever-wider dir list with an ever-worse small-files profile at the
    * anti-join's build side; the reference rewrites its seen-archives
    * list wholesale each run (sources/chess/__init__.py:95-124) — this is
    * the columnar variant's explicit equivalent, one publish landing the
    * merged keys as a `Replace` of `seen`. Distinct is defensive
    * (committed generations partition the key space by construction).
    * Sizing: repartition, NOT coalesce — a coalesce here would collapse
    * the distinct's final aggregation itself to the file count (the most
    * expensive part of a corpus-scale compaction), whereas one extra
    * exchange of the already-deduped keys is cheap and keeps the
    * aggregation at full parallelism. Returns the new seen list.
    */
  def compactSeen(spark: SparkSession, dest: String): Seq[String] =
    compact(spark, dest, "seen")((seen, files) => seen.distinct().repartition(files))

  /** Bin-pack ALL committed pages generations into one — the archive-side
    * twin of [[compactSeen]], on the much bigger side of the frontier: a
    * long crawl accumulates one pages generation per wave. Unlike the seen
    * side there is NO distinct — the archive's row multiplicity is the
    * fetch's contract (many rows per page is legal) and must survive the
    * rewrite bit-for-bit — and therefore no aggregation to keep parallel:
    * the rewrite is a pure resize, so it uses `coalesce` (no shuffle;
    * each output file is written by one task reading its byte share)
    * rather than paying a full exchange of the page CONTENT, the heaviest
    * column in the system. Returns the new pages list.
    */
  def compactPages(spark: SparkSession, dest: String): Seq[String] =
    compact(spark, dest, "pages")((pages, files) => pages.coalesce(files))

  /** One publish rewriting `table`'s committed generations into one, in
    * files of about `spark.sql.files.maxPartitionBytes` by the bytes
    * being rewritten (the manifest merge's rule). The table's first touch
    * sweeps its orphans and the generations a previous compaction
    * superseded; the ones this compaction supersedes stay for readers that
    * resolved the old list, until the next publish that touches the
    * table. A table of at most one generation is left as it is.
    */
  private def compact(spark: SparkSession, dest: String, table: String)(
      rewrite: (DataFrame, Int) => DataFrame): Seq[String] = {
    val m = manifest(spark, dest)
    val pub = m.publish(s"url-frontier:${java.util.UUID.randomUUID()}")
    try {
      val current = pub.read(table)
      val gens = m.gens(table)
      if (gens.size > 1) {
        val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bytes = gens.map(g => fs.getContentSummary(new Path(s"$dest/$table/$g")).getLength).sum
        val files = (bytes / spark.sessionState.conf.filesMaxPartitionBytes + 1).toInt
        pub.land(rewrite(current.get, files), TableHints(table, Disposition.Replace))
      }
      pub.commit()
      m.gens(table)
    } finally pub.abort()
  }
}

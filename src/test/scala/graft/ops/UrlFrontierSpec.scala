package graft.ops

import graft.{LandGate, SparkTestBase}
import graft.core.{Generations, TableLock, TableManifest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class UrlFrontierSpec extends SparkTestBase {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def fetchCount(counter: java.util.concurrent.atomic.AtomicLong)(todo: DataFrame): DataFrame = {
    // count fetches through an accumulator-free side channel: the fetch
    // plan is executed exactly once per wave (runWave pins its output,
    // and every land reads the pin)
    val n = todo.count()
    counter.addAndGet(n)
    todo.select(col("url_canon"), md5(col("url_canon")).as("content_hash"))
  }

  /** The committed `hosts` table as (host, wave). */
  private def hostRows(dest: String): Set[(String, Long)] =
    new TableManifest(spark, dest).read("hosts").fold(Set.empty[(String, Long)])(_.as[(String, Long)].collect().toSet)

  /** Age every generation dir of `table` past the manifest's reader
    * grace, as if the commits that dropped them were that old.
    */
  private def ageGenerations(dest: String, table: String): Unit =
    new java.io.File(s"$dest/$table").listFiles().filter(f => f.isDirectory && f.getName.matches("g[0-9]+"))
      .foreach(f => assert(f.setLastModified(System.currentTimeMillis() - Generations.GraceMs - 60000L)))

  test("wave 2 fetches only unseen canonical URLs; surface variants collapse before the anti-join") {
    val dest = tmpDir("frontier")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def listing(ids: Range): DataFrame = ids.flatMap { g =>
      Seq(s"http://site$g.example.com/p/$g?a=1&b=2",
        s"HTTPS://WWW.SITE$g.EXAMPLE.COM/p/$g?a=1&b=2",
        s"https://site$g.example.com/p/$g/?b=2&a=1#frag")
    }.toDF("url")

    val w1 = UrlFrontier.runWave(spark, dest, listing(0 until 10), "url")(fetchCount(fetched))
    assert(w1.count() == 10 && fetched.get() == 10) // 30 surface forms, 10 pages

    val w2 = UrlFrontier.runWave(spark, dest, listing(0 until 15), "url")(fetchCount(fetched))
    assert(w2.count() == 5, "wave 2 must fetch only the 5 new pages")
    assert(fetched.get() == 15, "seen pages were re-fetched")
    assert(UrlFrontier.seenSet(spark, dest).count() == 15)
  }

  test("uncommitted orphan generations are invisible and safely overwritten on retry") {
    val dest = tmpDir("frontier_crash")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val urls = (0 until 6).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    UrlFrontier.runWave(spark, dest, urls.limit(3), "url")(fetchCount(fetched))

    // simulate a crash mid-wave-2: generation dirs written, pointer NOT
    // committed (stale content planted to prove the retry replaces it)
    Seq("zombie").toDF("url_canon").write.parquet(s"$dest/seen/g2")
    Seq(("zombie", "x")).toDF("url_canon", "content_hash").write.parquet(s"$dest/pages/g2")
    assert(UrlFrontier.seenSet(spark, dest).count() == 3,
      "orphan generation leaked into the seen-set")

    // the retry wave reuses the g2 name, overwrites the orphans, commits
    val w2 = UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(fetched))
    assert(w2.select("url_canon").as[String].collect().toSet ==
      (3 until 6).map(g => s"site$g.example.com/p/$g").toSet)
    val seen = UrlFrontier.seenSet(spark, dest).as[String].collect().toSet
    assert(seen.size == 6 && !seen.contains("zombie"))
  }

  test("compaction bin-packs 10 generations into one; fetch-exactly-once holds across it") {
    val dest = tmpDir("frontier_compact")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def listing(n: Int): DataFrame =
      (0 until n).map(g => s"http://site$g.example.com/p/$g").toDF("url")

    // 10 growing waves → 10 committed seen generations
    (1 to 10).foreach(w =>
      UrlFrontier.runWave(spark, dest, listing(w * 5), "url")(fetchCount(fetched)))
    assert(fetched.get() == 50)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def seenDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/seen"))
      .map(_.getPath.getName).sorted.toSeq
    assert(seenDirs.size == 10)

    val gens = UrlFrontier.compactSeen(spark, dest)
    assert(gens == Seq("g11"), s"per-table monotonic merged name expected, got $gens")
    // superseded dirs are RETAINED by the compaction itself (a reader
    // that resolved the old list may still be scanning them) and swept
    // by the next publish that touches the table; the committed pages
    // dirs are NOT garbage
    assert(seenDirs.size == 11, s"superseded dirs must be retained for reader grace: $seenDirs")
    assert(UrlFrontier.seenSet(spark, dest).count() == 50)
    assert(UrlFrontier.committedPages(spark, dest).count() == 50,
      "seen compaction must leave the committed pages archive intact")

    // the wave AFTER the compaction still fetches exactly the unseen pages,
    // and once the compaction is past the reader grace its first touch of
    // seen sweeps the superseded generations
    ageGenerations(dest, "seen")
    val w11 = UrlFrontier.runWave(spark, dest, listing(60), "url")(fetchCount(fetched))
    assert(w11.count() == 10 && fetched.get() == 60, "compaction broke fetch-exactly-once")
    assert(seenDirs == Seq("g11", "g12"), s"superseded seen generations survived the next wave: $seenDirs")
    assert(UrlFrontier.seenSet(spark, dest).count() == 60)
    // pages archive is untouched by seen compaction: one dir per wave
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/pages")).length == 11)
  }

  test("a crash mid-compaction leaves the committed list intact; the next wave overwrites the orphan") {
    val dest = tmpDir("frontier_compact_crash")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def listing(n: Int): DataFrame =
      (0 until n).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    UrlFrontier.runWave(spark, dest, listing(4), "url")(fetchCount(fetched))
    UrlFrontier.runWave(spark, dest, listing(8), "url")(fetchCount(fetched))

    // simulate the compaction crash: merged dir landed under the next
    // monotonic name (g3), pointer NOT committed — plus stale content to
    // prove the orphan is replaced, not read
    Seq("zombie").toDF("url_canon").write.parquet(s"$dest/seen/g3")
    assert(UrlFrontier.seenSet(spark, dest).count() == 8,
      "orphan merged generation leaked into the seen-set")

    // the next wave sweeps the orphan at its first touch of seen, lands
    // its keys at g3, and stays exact
    val w3 = UrlFrontier.runWave(spark, dest, listing(10), "url")(fetchCount(fetched))
    assert(w3.count() == 2 && fetched.get() == 10)
    val seen = UrlFrontier.seenSet(spark, dest).as[String].collect().toSet
    assert(seen.size == 10 && !seen.contains("zombie"))
    // and a RETRIED compaction (no crash this time) lands cleanly at g4
    assert(UrlFrontier.compactSeen(spark, dest) == Seq("g4"))
    assert(UrlFrontier.seenSet(spark, dest).count() == 10)
    // the superseded g1..g3 (what a compaction that crashed right after
    // its commit leaves, too) must not leak forever: the next publish
    // touching seen reclaims everything unreferenced
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def seenDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/seen"))
      .map(_.getPath.getName).sorted.toSeq
    assert(seenDirs == Seq("g1", "g2", "g3", "g4"))
    ageGenerations(dest, "seen")
    assert(UrlFrontier.runWave(spark, dest, listing(10), "url")(fetchCount(fetched)).isEmpty)
    assert(seenDirs == Seq("g4", "g5"))
    assert(UrlFrontier.seenSet(spark, dest).count() == 10)
  }

  test("a crashed wave's orphan pages dir is swept before compaction consumes its number; committedPages stays exactly-once") {
    val dest = tmpDir("frontier_pages_orphan")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def listing(n: Int): DataFrame =
      (0 until n).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    UrlFrontier.runWave(spark, dest, listing(4), "url")(fetchCount(fetched))
    UrlFrontier.runWave(spark, dest, listing(8), "url")(fetchCount(fetched))

    // crash mid-wave-3: pages (and seen) landed under g3, manifest NOT
    // committed. A pages compaction that consumed g3 for its merged dir
    // without sweeping first would strand the orphan's rows — and its URLs
    // re-land in the retry wave, so a raw pages/* glob would show
    // duplicates the frontier claims to exclude.
    (8 until 10).map(g => (s"site$g.example.com/p/$g", "stale"))
      .toDF("url_canon", "content_hash").write.parquet(s"$dest/pages/g3")
    (8 until 10).map(g => s"site$g.example.com/p/$g")
      .toDF("url_canon").write.parquet(s"$dest/seen/g3")
    assert(UrlFrontier.committedPages(spark, dest).count() == 8,
      "orphan pages generation leaked into the committed archive")
    assert(UrlFrontier.seenSet(spark, dest).count() == 8,
      "orphan seen generation leaked into the seen-set")

    // the compaction's first touch of pages sweeps the orphan, then it
    // merges at g3: the merged dir holds the committed rows only
    assert(UrlFrontier.compactPages(spark, dest) == Seq("g3"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def pagesDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/pages"))
      .map(_.getPath.getName).sorted.toSeq
    assert(pagesDirs == Seq("g1", "g2", "g3"), s"unexpected pages dirs after the compaction: $pagesDirs")
    assert(spark.read.parquet(s"$dest/pages/g3").count() == 8,
      "the orphan's rows survived into the merged generation")

    // the retry wave sweeps the seen orphan and (past the reader grace)
    // the superseded pages generations, and the archive — committed view
    // AND raw glob — holds each URL exactly once
    ageGenerations(dest, "pages")
    val w3 = UrlFrontier.runWave(spark, dest, listing(10), "url")(fetchCount(fetched))
    assert(w3.count() == 2 && fetched.get() == 10)
    val archive = UrlFrontier.committedPages(spark, dest)
      .groupBy("url_canon").count().filter(col("count") > 1).count()
    assert(archive == 0, "committed pages archive duplicated a URL")
    assert(UrlFrontier.committedPages(spark, dest).count() == 10)
    assert(spark.read.parquet(s"$dest/pages/*").count() == 10,
      "raw pages glob shows rows outside the committed archive")
    assert(pagesDirs == Seq("g3", "g4"))
    assert(UrlFrontier.seenSet(spark, dest).count() == 10)
  }

  test("pages compaction bin-packs the archive preserving row multiplicity; committedPages is the exactly-once read path") {
    val dest = tmpDir("frontier_pages_compact")
    def listing(n: Int): DataFrame =
      (0 until n).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    // fetch emits TWO rows per page (one per extracted item) — legal, and
    // the compaction rewrite must preserve the multiplicity bit-for-bit
    def fetch2(todo: DataFrame): DataFrame =
      todo.select(col("url_canon"), explode(array(lit("a"), lit("b"))).as("item"))
    (1 to 8).foreach(w => UrlFrontier.runWave(spark, dest, listing(w * 5), "url")(fetch2))

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def pagesDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/pages"))
      .map(_.getPath.getName).sorted.toSeq
    def pagesFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/pages"))
      .map(d => fs.listStatus(d.getPath).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))).sum
    assert(pagesDirs.size == 8)
    val filesBefore = pagesFiles
    val before = UrlFrontier.committedPages(spark, dest)
      .orderBy("url_canon", "item").collect().toSeq
    assert(before.size == 80, "8 waves x 40 urls x 2 items each")

    val gens = UrlFrontier.compactPages(spark, dest)
    assert(gens == Seq("g9"), s"per-table monotonic merged pages name expected, got $gens")
    // reader grace: the superseded dirs are retained, so a raw glob
    // transiently shows DUPLICATES — exactly the hazard committedPages
    // protects against; the committed view is unchanged, bit-for-bit
    assert(pagesDirs.size == 9)
    assert(spark.read.parquet(s"$dest/pages/*").count() == 160,
      "raw glob should see old + merged dirs during the grace window")
    assert(UrlFrontier.committedPages(spark, dest)
      .orderBy("url_canon", "item").collect().toSeq == before)

    // the bin-pack shrank the file count
    val mergedFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/pages/g9"))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    assert(mergedFiles < filesBefore, s"bin-pack must shrink files: $filesBefore -> $mergedFiles")
    // seen side untouched: one dir per wave, membership intact
    assert(UrlFrontier.seenSet(spark, dest).count() == 40)

    // fetch-exactly-once holds ACROSS the pages compaction, and past the
    // reader grace the next wave's first touch of pages sweeps the
    // superseded generations
    ageGenerations(dest, "pages")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val w9 = UrlFrontier.runWave(spark, dest, listing(45), "url")(fetchCount(fetched))
    assert(w9.count() == 5 && fetched.get() == 5, "pages compaction broke fetch-exactly-once")
    assert(pagesDirs == Seq("g10", "g9"))
    assert(spark.read.parquet(s"$dest/pages/*").count() == 85,
      "raw glob still sees the superseded generations after the next wave")
    assert(UrlFrontier.committedPages(spark, dest).count() == 85)
  }

  test("a crash mid-pages-compaction leaves the committed archive intact; the retry lands cleanly") {
    val dest = tmpDir("frontier_pages_compact_crash")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def listing(n: Int): DataFrame =
      (0 until n).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    UrlFrontier.runWave(spark, dest, listing(4), "url")(fetchCount(fetched))
    UrlFrontier.runWave(spark, dest, listing(8), "url")(fetchCount(fetched))

    // crash: merged pages dir landed at the next monotonic name (g3),
    // pointer NOT committed — stale content proves it is never read
    Seq(("zombie", "x")).toDF("url_canon", "content_hash").write.parquet(s"$dest/pages/g3")
    assert(UrlFrontier.committedPages(spark, dest).count() == 8)
    assert(!UrlFrontier.committedPages(spark, dest)
      .select("url_canon").as[String].collect().contains("zombie"))

    // the retry sweeps the orphan on entry and lands the merge at g3
    assert(UrlFrontier.compactPages(spark, dest) == Seq("g3"))
    assert(UrlFrontier.committedPages(spark, dest).count() == 8)
    assert(UrlFrontier.seenSet(spark, dest).count() == 8)
    // and the next wave advances past the merged name
    val w3 = UrlFrontier.runWave(spark, dest, listing(10), "url")(fetchCount(fetched))
    assert(w3.count() == 2 && fetched.get() == 10)
    assert(UrlFrontier.committedPages(spark, dest).count() == 10)
  }

  test("a held seen lease makes both runWave and compactSeen fail fast") {
    val dest = tmpDir("frontier_lock")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val urls = (0 until 4).map(g => s"http://site$g.example.com/p/$g").toDF("url")
    UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(fetched))

    // another writer of seen mid-flight: both verbs that write it must
    // fail fast rather than fetch or rewrite under the holder
    val lease = TableLock.acquire(spark, s"$dest/seen", "other-writer")
    try {
      intercept[TableLock.LockHeldException] {
        UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(fetched))
      }
      intercept[TableLock.LockHeldException] {
        UrlFrontier.compactSeen(spark, dest)
      }
    } finally lease.release()
    // the archive likewise: a wave leases pages before it fetches
    val pagesLease = TableLock.acquire(spark, s"$dest/pages", "other-writer")
    try {
      intercept[TableLock.LockHeldException] {
        UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(fetched))
      }
      intercept[TableLock.LockHeldException] {
        UrlFrontier.compactPages(spark, dest)
      }
    } finally pagesLease.release()
    assert(fetched.get() == 4, "a wave that cannot lease seen or pages must not fetch")
    // once released, the wave proceeds normally
    val w2 = UrlFrontier.runWave(spark, dest,
      (0 until 6).map(g => s"http://site$g.example.com/p/$g").toDF("url"), "url")(fetchCount(fetched))
    assert(w2.count() == 2 && fetched.get() == 6)
  }

  private def hostUrls(hosts: Seq[String], perHost: Int): DataFrame =
    hosts.flatMap(h => (0 until perHost).map(i => s"http://$h.test/p$i")).toDF("url")

  private def urlsOf(df: DataFrame): Set[String] = df.select("url_canon").as[String].collect().toSet

  /** Fail every land of `table` under `dest` while `body` runs. */
  private def failingLand[T](dest: String, table: String)(body: => T): T =
    LandGate.armed(spark, dest) { t =>
      if (t == table) throw new IllegalStateException(s"planted $table land failure")
    }(body)

  test("a wave whose seen land fails changes no table nor the clock; its retry fetches each URL once") {
    val plans = Seq(hostUrls(Seq("a", "b"), 2)) ++ Seq.fill(3)(hostUrls(Seq("a", "b", "c"), 3))
    def wave(dest: String, plan: DataFrame, counter: java.util.concurrent.atomic.AtomicLong): Set[String] =
      urlsOf(UrlFrontier.runWave(spark, dest, plan, "url", minWaveGapPerHost = 1)(fetchCount(counter)))
    val crashFree = {
      val ref = tmpDir("frontier_seen_fail_ref")
      val counter = new java.util.concurrent.atomic.AtomicLong()
      plans.map(wave(ref, _, counter))
    }

    val dest = tmpDir("frontier_seen_fail")
    val w1 = wave(dest, plans(0), new java.util.concurrent.atomic.AtomicLong())
    failingLand(dest, "seen") {
      intercept[Exception](wave(dest, plans(1), new java.util.concurrent.atomic.AtomicLong()))
    }
    assert(LandGate.done.contains("waves") && LandGate.done.contains("pages"),
      "the waves and pages lands ran before the seen land failed")
    assert(urlsOf(UrlFrontier.seenSet(spark, dest)) == w1, "the failed wave's seen delta must stay invisible")
    assert(urlsOf(UrlFrontier.committedPages(spark, dest)) == w1,
      "the failed wave's pages must stay invisible")
    assert(UrlFrontier.committedPages(spark, dest).count() == w1.size)

    // the retry is wave 2 again: a clock advanced by the failed wave would
    // let a,b (fetched in wave 1) back in under gap 1, changing the schedule
    val retried = new java.util.concurrent.atomic.AtomicLong()
    val rest = plans.drop(1).map(wave(dest, _, retried))
    assert(w1 +: rest == crashFree, s"schedule after the failed wave ${w1 +: rest} != crash-free $crashFree")
    assert(retried.get() == rest.map(_.size).sum, "the retry fetched a URL more than once")
    val pages = UrlFrontier.committedPages(spark, dest)
    assert(pages.count() == 9 && urlsOf(pages).size == 9, "each URL lands exactly once")
  }

  test("a crashed first wave retries cleanly and is not refused") {
    val dest = tmpDir("frontier_first_crash")
    val urls = hostUrls(Seq("a", "b"), 2)
    failingLand(dest, "seen") {
      intercept[Exception](UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(new java.util.concurrent.atomic.AtomicLong())))
    }
    // no manifest epoch and a landed pages generation — but waves/ is there
    assert(new java.io.File(s"$dest/pages/g1").isDirectory && new java.io.File(s"$dest/waves").isDirectory)
    assert(UrlFrontier.seenSet(spark, dest).isEmpty && UrlFrontier.committedPages(spark, dest).isEmpty)

    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val w1 = UrlFrontier.runWave(spark, dest, urls, "url")(fetchCount(fetched))
    assert(w1.count() == 4 && fetched.get() == 4)
    assert(UrlFrontier.seenSet(spark, dest).count() == 4)
    assert(UrlFrontier.committedPages(spark, dest).count() == 4)
    assert(spark.read.parquet(s"$dest/pages/*").count() == 4, "the crashed wave's pages survived its retry")
  }

  test("a root in the pre-manifest layout is refused by name and left untouched") {
    val dest = tmpDir("frontier_old_layout")
    Seq("a.test/p0").toDF("url_canon").write.parquet(s"$dest/seen/g1")
    Seq(("a.test/p0", "h")).toDF("url_canon", "content_hash").write.parquet(s"$dest/pages/g1")
    java.nio.file.Files.write(java.nio.file.Paths.get(dest, "s.json"),
      """{"frontier.generations":["g1"],"frontier.wave":1}""".getBytes("UTF-8"))
    def files: Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dest))
      try walk.iterator().asScala.map(_.toString).toSeq.sorted finally walk.close()
    }
    val before = files
    val verbs = Seq[() => Any](
      () => UrlFrontier.runWave(spark, dest, hostUrls(Seq("a"), 2), "url")(fetchCount(new java.util.concurrent.atomic.AtomicLong())),
      () => UrlFrontier.compactSeen(spark, dest),
      () => UrlFrontier.compactPages(spark, dest),
      () => UrlFrontier.seenSet(spark, dest),
      () => UrlFrontier.committedPages(spark, dest))
    verbs.foreach { verb =>
      val e = intercept[IllegalArgumentException](verb())
      assert(e.getMessage.contains(dest) && e.getMessage.contains("pre-manifest layout"), e.getMessage)
    }
    assert(files == before, "a refused root must be left as it was")
  }

  test("per-host cap shapes each wave and overflow carries over to the next") {
    val dest = tmpDir("frontier_polite")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    // host a: 5 urls, host b: 2, host c: 1 — cap 2 per host per wave
    val urls = (Seq.tabulate(5)(i => s"http://a.test/p$i") ++
      Seq("http://b.test/p0", "http://b.test/p1", "http://c.test/p0")).toDF("url")

    def hosts(df: DataFrame): Map[String, Set[String]] =
      df.select("url_canon").as[String].collect().toSet.groupBy(_.takeWhile(_ != '/'))

    val w1 = hosts(UrlFrontier.runWave(spark, dest, urls, "url", Some(2))(fetchCount(fetched)))
    // deterministic smallest-first selection, every host bounded at 2
    assert(w1 == Map(
      "a.test" -> Set("a.test/p0", "a.test/p1"),
      "b.test" -> Set("b.test/p0", "b.test/p1"),
      "c.test" -> Set("c.test/p0")))

    // overflow (a.test/p2..p4) was never marked seen — wave 2 re-presents
    // exactly it, again capped
    val w2 = hosts(UrlFrontier.runWave(spark, dest, urls, "url", Some(2))(fetchCount(fetched)))
    assert(w2 == Map("a.test" -> Set("a.test/p2", "a.test/p3")))

    val w3 = hosts(UrlFrontier.runWave(spark, dest, urls, "url", Some(2))(fetchCount(fetched)))
    assert(w3 == Map("a.test" -> Set("a.test/p4")))

    // exactly-once across the capped waves: 8 distinct pages, 8 fetches
    assert(fetched.get() == 8)
    assert(UrlFrontier.seenSet(spark, dest).count() == 8)
    assert(UrlFrontier.committedPages(spark, dest).count() == 8)

    intercept[IllegalArgumentException] {
      UrlFrontier.runWave(spark, dest, urls, "url", Some(0))(fetchCount(fetched))
    }
  }

  test("wave-gap politeness: hosts fetched in wave W sit out the next g waves on the logical clock") {
    val dest = tmpDir("frontier_gap")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def urls(hosts: Seq[String], perHost: Int): DataFrame =
      hosts.flatMap(h => (0 until perHost).map(i => s"http://$h.test/p$i")).toDF("url")
    def hostsOf(df: DataFrame): Set[String] =
      df.select("url_canon").as[String].collect().map(_.takeWhile(_ != '.')).toSet

    // wave 1 plans only a,b — both fetched and marked on the wave clock
    val w1 = UrlFrontier.runWave(spark, dest, urls(Seq("a", "b"), 2), "url",
      minWaveGapPerHost = 1)(fetchCount(fetched))
    assert(hostsOf(w1) == Set("a", "b"))

    // wave 2 plans a,b,c with MORE urls for a,b — a,b are excluded (gap 1),
    // only the new host c fetches; a,b's new urls carry over unseen
    val all = urls(Seq("a", "b", "c"), 3)
    val w2 = UrlFrontier.runWave(spark, dest, all, "url",
      minWaveGapPerHost = 1)(fetchCount(fetched))
    assert(hostsOf(w2) == Set("c"), s"gap must exclude a,b: got ${hostsOf(w2)}")
    assert(w2.count() == 3)

    // wave 3: a,b served their one-wave silence and drain their carry-over;
    // c (fetched in wave 2) now sits out
    val w3 = UrlFrontier.runWave(spark, dest, all, "url",
      minWaveGapPerHost = 1)(fetchCount(fetched))
    assert(hostsOf(w3) == Set("a", "b"))
    assert(w3.count() == 2, "only the carry-over urls — earlier fetches stay seen")

    // exactly-once held throughout: 9 distinct pages, 9 fetches
    assert(fetched.get() == 9)
    assert(UrlFrontier.seenSet(spark, dest).count() == 9)

    // retention: the hosts table keeps only the trailing window
    assert(hostRows(dest) == Set(("a.test", 3L), ("b.test", 3L)), s"trailing-window prune failed: ${hostRows(dest)}")

    // a gap of 2 excludes both recent waves: w3's a,b AND (empty) w4 —
    // then everything is eligible again and the frontier is drained
    val w4 = UrlFrontier.runWave(spark, dest, all, "url",
      minWaveGapPerHost = 2)(fetchCount(fetched))
    assert(w4.isEmpty, "a,b fetched in wave 3 must sit out under gap 2")
    val w5 = UrlFrontier.runWave(spark, dest, all, "url",
      minWaveGapPerHost = 2)(fetchCount(fetched))
    assert(w5.isEmpty, "wave 5 still inside a,b's gap-2 window")
    val w6 = UrlFrontier.runWave(spark, dest, all, "url",
      minWaveGapPerHost = 2)(fetchCount(fetched))
    assert(w6.isEmpty && fetched.get() == 9, "frontier already drained — gap must not re-fetch")
  }

  test("gap=0 wave drains the host-set archive instead of leaving stale dirs for gc") {
    val dest = tmpDir("frontier_gap0")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    def urls(us: String*): DataFrame = us.toDF("url")

    // two gap waves accumulate host rows
    UrlFrontier.runWave(spark, dest, urls("http://a.test/1"), "url",
      minWaveGapPerHost = 3)(fetchCount(fetched))
    UrlFrontier.runWave(spark, dest, urls("http://b.test/1"), "url",
      minWaveGapPerHost = 3)(fetchCount(fetched))
    assert(hostRows(dest) == Set(("a.test", 1L), ("b.test", 2L)))

    // gap turned off: the wave must clear the archive now, not leave it
    // lingering
    UrlFrontier.runWave(spark, dest, urls("http://c.test/1"), "url",
      minWaveGapPerHost = 0)(fetchCount(fetched))
    assert(hostRows(dest).isEmpty, s"stale host rows survived a gap=0 wave: ${hostRows(dest)}")

    // re-raising the gap starts its window FRESH (documented): hosts a,b,c
    // are all eligible; this wave records its own host set again, and
    // (past the reader grace) its first touch of hosts sweeps the drained
    // rows off disk
    ageGenerations(dest, "hosts")
    val w4 = UrlFrontier.runWave(spark, dest,
      urls("http://a.test/2", "http://c.test/2"), "url",
      minWaveGapPerHost = 3)(fetchCount(fetched))
    assert(w4.count() == 2, "post-drain window must start fresh")
    assert(hostRows(dest) == Set(("a.test", 4L), ("c.test", 4L)))
    assert(spark.read.parquet(s"$dest/hosts/*").as[(String, Long)].collect().toSet == hostRows(dest),
      "drained host rows are still on disk")
    assert(fetched.get() == 5)
  }

  test("parseRobotsTxt: group selection, merge, empty disallow, wildcards, comments") {
    val body =
      """# corp robots
        |User-agent: bigbot
        |Disallow: /private/
        |Allow: /private/pub
        |
        |User-agent: *
        |Disallow: /tmp/
        |Crawl-delay: 10
        |Disallow:
        |Disallow: /cgi/*.cgi
        |Sitemap: https://x/map.xml
        |
        |User-agent: bigbot
        |Disallow: /beta/   # trailing comment
        |""".stripMargin
    // exact agent: BOTH bigbot groups merge; '*' group ignored
    assert(UrlFrontier.parseRobotsTxt(body, "BigBot").toSet ==
      Set("disallow" -> "/private/", "allow" -> "/private/pub", "disallow" -> "/beta/"))
    // product-token matching: the version suffix strips before matching
    assert(UrlFrontier.parseRobotsTxt(body, "BigBot/2.1 (+https://x)").toSet ==
      Set("disallow" -> "/private/", "allow" -> "/private/pub", "disallow" -> "/beta/"))
    // no named group matches: fall back to '*'; empty disallow
    // contributes nothing; wildcard rules are KEPT verbatim;
    // crawl-delay/sitemap are not rules
    assert(UrlFrontier.parseRobotsTxt(body, "otherbot") ==
      Seq("disallow" -> "/tmp/", "disallow" -> "/cgi/*.cgi"))
    assert(UrlFrontier.parseRobotsTxt("", "any").isEmpty)
    // a rules line before any user-agent group is ignored (no group)
    assert(UrlFrontier.parseRobotsTxt("Disallow: /x\n", "any").isEmpty)
  }

  test("parseRobotsTxt: longest product-token prefix wins group selection") {
    val body =
      """User-agent: graft
        |Disallow: /short/
        |
        |User-agent: graftbot
        |Disallow: /long/
        |
        |User-agent: *
        |Disallow: /star/
        |""".stripMargin
    // 'graftbot' (len 8) beats 'graft' (len 5) beats '*'
    assert(UrlFrontier.parseRobotsTxt(body, "graftbot/1.0") ==
      Seq("disallow" -> "/long/"))
    // token 'graftbo' prefixes neither full value; 'graft' still matches
    assert(UrlFrontier.parseRobotsTxt(body, "graftbo") ==
      Seq("disallow" -> "/short/"))
    // 'graftling' is not a prefix OF the token and the token is not a
    // prefix of it either way that counts: group value must prefix the
    // crawler token, so only '*' applies
    assert(UrlFrontier.parseRobotsTxt(body, "graphbot") ==
      Seq("disallow" -> "/star/"))
    // grammar-invalid rule values (start with neither '/' nor '*') drop
    assert(UrlFrontier.parseRobotsTxt(
      "User-agent: *\nDisallow: cgi-bin\nDisallow: /ok\n", "any") ==
      Seq("disallow" -> "/ok"))
  }

  test("applyRobots: longest pattern wins, allow wins ties, no-match passes") {
    val rules = Seq(
      ("a.test", "disallow", "/private/"),
      ("a.test", "allow", "/private/pub/"),
      ("a.test", "disallow", "/private/pub/"), // tie with the allow: allow wins
      ("b.test", "disallow", "/"),
      ("b.test", "allow", "/ok/"),
    ).toDF("host", "rule", "pattern")
    val urls = Seq(
      "a.test/private/x",       // disallow /private/
      "a.test/private/pub/x",   // allow (longest + tie rule)
      "a.test/open/x",          // no match
      "a.test",                 // bare host: path '/', no match on a.test
      "b.test/anything",        // disallow /
      "b.test/ok/page",         // allow /ok/ beats disallow /
      "c.test/x",               // host with no rules at all
    ).toDF("url_canon")
    val kept = UrlFrontier.applyRobots(urls, "url_canon", rules)
      .as[String].collect().toSet
    assert(kept == Set("a.test/private/pub/x", "a.test/open/x", "a.test",
      "b.test/ok/page", "c.test/x"), kept)
  }

  test("applyRobots: wildcard and $-anchored patterns score by written length") {
    val rules = Seq(
      ("a.test", "disallow", "/*?sid="),   // any path carrying ?sid=
      ("a.test", "allow", "/pub/*?sid="),  // longer written pattern wins
      ("b.test", "disallow", "/*.html$"),  // end-anchored suffix rule
      ("c.test", "disallow", "/p/"),
      ("c.test", "allow", "/p/*2$"),       // len 6 allow beats len 4 disallow
    ).toDF("host", "rule", "pattern")
    val urls = Seq(
      "a.test/x?sid=1",        // disallowed by /*?sid=
      "a.test/pub/x?sid=1",    // allowed: /pub/*?sid= (len 11) wins
      "a.test/x?id=1",         // no match
      "b.test/a/x.html",       // disallowed (anchored)
      "b.test/a/x.html?q=1",   // NOT disallowed: $ anchor fails past .html
      "c.test/p/12",           // allowed: ends with 2
      "c.test/p/13",           // disallowed by /p/
      "c.test/q/13",           // no match
    ).toDF("url_canon")
    val kept = UrlFrontier.applyRobots(urls, "url_canon", rules)
      .as[String].collect().toSet
    assert(kept == Set("a.test/pub/x?sid=1", "a.test/x?id=1",
      "b.test/a/x.html?q=1", "c.test/p/12", "c.test/q/13"), kept)
  }

  test("runWave honors robots: disallowed URLs never fetch, never enter seen, and heal on rule change") {
    val dest = tmpDir("frontier_robots")
    val fetched = new java.util.concurrent.atomic.AtomicLong()
    val urls = Seq("http://a.test/keep/1", "http://a.test/no/1", "http://b.test/x").toDF("url")
    val bodies = Seq(("a.test", "User-agent: *\nDisallow: /no/\n")).toDF("host", "robots_txt")
    val rules = UrlFrontier.robotsRules(bodies)

    val w1 = UrlFrontier.runWave(spark, dest, urls, "url",
      robots = Some(rules))(fetchCount(fetched))
    assert(w1.select("url_canon").as[String].collect().toSet ==
      Set("a.test/keep/1", "b.test/x"))
    assert(UrlFrontier.seenSet(spark, dest).count() == 2,
      "a disallowed URL must not enter the seen-set")

    // the site relaxes its robots: the held-back URL becomes eligible —
    // carry-over semantics, same as cap overflow
    val w2 = UrlFrontier.runWave(spark, dest, urls, "url",
      robots = Some(UrlFrontier.robotsRules(
        Seq(("a.test", "User-agent: *\nDisallow:\n")).toDF("host", "robots_txt"))))(
      fetchCount(fetched))
    assert(w2.select("url_canon").as[String].collect().toSet == Set("a.test/no/1"))
    assert(fetched.get() == 3, "exactly-once across rule changes")
  }

  test("MinK keeps the k smallest strings under any reduce/merge interleaving") {
    val agg = graft.functions.MinK.minKAgg(3)
    val items = Seq("m", "b", "z", "a", "q", "c", "b2")
    // sequential reduce
    val seq = items.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(seq) == Seq("a", "b", "b2"))
    // split + merge in both orders
    val (l, r) = items.splitAt(3)
    val bl = l.foldLeft(agg.zero)(agg.reduce)
    val br = r.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(bl, br)) == Seq("a", "b", "b2"))
    assert(agg.finish(agg.merge(br, bl)) == Seq("a", "b", "b2"))
    // fewer than k inputs
    assert(agg.finish(Seq("x", "w").foldLeft(agg.zero)(agg.reduce)) == Seq("w", "x"))
  }
}

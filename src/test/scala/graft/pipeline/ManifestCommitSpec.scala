package graft.pipeline

import graft.{LandGate, SparkTestBase}
import graft.core._
import org.apache.spark.sql.functions._

/** All-or-nothing multi-table finalize: a crash between two tables'
  * finalizes must be INVISIBLE to readers of the manifest — both tables
  * stay at the previous run's state until the single pointer flip.
  */
class ManifestCommitSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, tag, if (i % 2 == 0) "a" else "b")).toDF("id", "tag", "kind")

  test("a crash between two routed-table finalizes is invisible to manifest readers") {
    val dest = tmpDir("mani-dest")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-state"), manifestCommit = true)
    def src(tag: String, boom: Boolean) = SourceDef("s", Seq(
      ResourceDef("ev", TableHints("ev", Disposition.Replace),
        _ => rows(6, tag), routingColumn = Some("kind")),
      // a second resource that fails AFTER the routed tables landed —
      // the run dies with ev_a/ev_b generations on disk, pointer untouched
      ResourceDef("late", TableHints("late", Disposition.Replace),
        _ => if (boom) sys.error("crash between finalizes") else Seq(1).toDF("x")),
    ))

    assert(pipe.run(src("v1", boom = false)).map(_.table).toSet == Set("ev_a", "ev_b", "late"))
    val m = pipe.manifest
    def tags(t: String) = m.read(t).get.select("tag").distinct().as[String].collect().toSet
    assert(tags("ev_a") == Set("v1") && tags("ev_b") == Set("v1"))

    // run 2 crashes after both routed tables landed their new generations
    intercept[RuntimeException] { pipe.run(src("v2", boom = true)) }
    // readers still see v1 of BOTH tables — no torn A-new/B-old state
    assert(tags("ev_a") == Set("v1") && tags("ev_b") == Set("v1"))
    // the v2 landings exist only as unreferenced orphan dirs
    val evA = new java.io.File(s"$dest/ev_a")
    assert(evA.listFiles().count(f => f.isDirectory && f.getName.matches("g[0-9]+")) > m.gens("ev_a").size)

    // the retry publishes BOTH tables atomically (the crash orphan's
    // generation number is swept at publish start and safely re-minted)
    assert(pipe.run(src("v2", boom = false)).map(_.table).toSet == Set("ev_a", "ev_b", "late"))
    assert(tags("ev_a") == Set("v2") && tags("ev_b") == Set("v2"))
    val v1Gen = "g1" // run 1's committed generation, superseded by the retry
    def dirs() = evA.listFiles().filter(f => f.isDirectory && f.getName.matches("g[0-9]+"))
      .map(_.getName).toSet
    assert(dirs().contains(v1Gen),
      "a superseded generation gets one publish interval of reader grace")
    // once its commit-time stamp is past the reader grace, the NEXT
    // publish's entry sweep reclaims it; only live + just-superseded remain
    assert(new java.io.File(evA, v1Gen)
      .setLastModified(System.currentTimeMillis() - graft.core.Generations.GraceMs - 60000L))
    pipe.run(src("v3", boom = false))
    assert(!dirs().contains(v1Gen), "the following publish must sweep the superseded generation")
    assert(dirs().intersect(pipe.manifest.gens("ev_a").toSet) == pipe.manifest.gens("ev_a").toSet)
  }

  test("append lands O(batch) deltas; merge rewrites shrink the generation list") {
    val dest = tmpDir("mani-append")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-append-state"), manifestCommit = true)
    def append(tag: String) = SourceDef("s", Seq(ResourceDef("logs",
      TableHints("logs", Disposition.Append), _ => rows(3, tag))))

    pipe.run(append("r1"))
    pipe.run(append("r2"))
    val m = pipe.manifest
    assert(m.gens("logs").size == 2, "each append is one delta generation")
    assert(m.read("logs").get.count() == 6)
    assert(m.read("logs").get.select("tag").distinct().as[String].collect().toSet == Set("r1", "r2"))

    // a merge rewrite collapses the list to a single generation
    val mergeSrc = SourceDef("s", Seq(ResourceDef("logs",
      TableHints("logs", Disposition.Merge, primaryKey = Seq("id", "tag")),
      _ => rows(3, "r2"))))
    pipe.run(mergeSrc)
    assert(m.gens("logs").size == 1)
    assert(m.read("logs").get.count() == 6, "merge on (id, tag) upserts the same keys")
  }

  test("data commits before cursors: a merge re-run over new tables is idempotent") {
    val dest = tmpDir("mani-idem")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-idem-state"), manifestCommit = true)
    val src = SourceDef("s", Seq(ResourceDef("t",
      TableHints("t", Disposition.Merge, primaryKey = Seq("id")), _ => rows(5, "x"))))
    pipe.run(src)
    // _dlt_load_id legitimately differs per run — compare the data columns
    def snap() = pipe.manifest.read("t").get
      .select("id", "tag", "kind").orderBy("id").collect().toSeq
    val before = snap()
    pipe.run(src) // the crash-between-commits replay path
    assert(snap() == before)
  }

  test("bucketed tables refuse the manifest path loudly") {
    val dest = tmpDir("mani-bucket")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-bucket-state"), manifestCommit = true)
    val src = SourceDef("s", Seq(ResourceDef("t",
      TableHints("t", Disposition.Merge, primaryKey = Seq("id"), bucketCount = Some(4)),
      _ => rows(3, "x"))))
    val e = intercept[Exception] { pipe.run(src) }
    assert(e.getMessage.contains("manifest"))
  }

  test("land is O(1) Spark jobs regardless of accumulated generations (footer counts)") {
    val dest = tmpDir("mani-o1")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-o1-state"), manifestCommit = true)
    def append(tag: String) = SourceDef("s", Seq(ResourceDef("logs",
      TableHints("logs", Disposition.Append), _ => rows(3, tag))))

    def jobsFor(group: String)(body: => Any): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // the status tracker fills from the asynchronous listener bus: once
      // a later marker job shows there, every job of `group` does too
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    pipe.run(append("r1"))
    val early = jobsFor("mani-land-early") { pipe.run(append("r2")) }
    (3 to 9).foreach(i => pipe.run(append(s"r$i")))
    assert(pipe.manifest.gens("logs").size == 9)
    // the 10th land takes the 9 generations' schema and row counts from
    // the manifest and its own count from footers: the write is its only
    // job, exactly as over one generation
    val late = jobsFor("mani-land-late") { pipe.run(append("r10")) }
    assert(early == 1 && late == 1, s"append over 1 generation ran $early jobs, over 9 ran $late")
    // the read's schema is the recorded one: no footer merge job
    val schemaJobs = jobsFor("mani-read-schema") { pipe.manifest.read("logs").get.schema }
    assert(schemaJobs == 0, s"resolving a manifest read ran $schemaJobs jobs")
    // and the footer-derived running total is exact
    assert(pipe.manifest.read("logs").get.count() == 30)
  }

  test("manifest-committed scd2 is deterministic: same inputs twice = identical bytes; no wall-clock default") {
    def T(s: String) = java.sql.Timestamp.valueOf(s)
    def runInto(dest: String): Seq[org.apache.spark.sql.Row] = {
      val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-scd2-state"), manifestCommit = true)
      val src = SourceDef("s", Seq(ResourceDef("dim",
        TableHints("dim", Disposition.Scd2, primaryKey = Seq("id"),
          scd2LoadTs = Some(T("2024-03-01 00:00:00"))),
        _ => rows(4, "x"))))
      pipe.run(src)
      pipe.manifest.read("dim").get.drop("_dlt_load_id")
        .orderBy("id").collect().toSeq
    }
    val a = runInto(tmpDir("mani-scd2-a"))
    val b = runInto(tmpDir("mani-scd2-b"))
    assert(a == b, "identical scd2 runs through the manifest must land identical rows")
    assert(a.nonEmpty)

    // without the explicit load timestamp the land must fail loud, not
    // silently stamp wall-clock
    val pipe = new Pipeline(spark, "p", tmpDir("mani-scd2-c"), tmpDir("mani-scd2-cs"),
      manifestCommit = true)
    val bad = SourceDef("s", Seq(ResourceDef("dim",
      TableHints("dim", Disposition.Scd2, primaryKey = Seq("id")), _ => rows(2, "x"))))
    val e = intercept[Exception] { pipe.run(bad) }
    assert(e.getMessage.contains("scd2LoadTs"), e.getMessage)
  }

  test("a long-lived pipeline reloads the manifest per publish: another writer's tables survive") {
    // the r16-ADVICE medium: writer A's TableManifest caches state at
    // construction; writer B commits between A's runs; without a reload
    // A's next publish would sweep B's committed generation dirs (absent
    // from A's stale lists) and commit lists that LOSE B's table
    val dest = tmpDir("mani-two-writers")
    val pipeA = new Pipeline(spark, "pa", dest, tmpDir("mani-tw-sa"), manifestCommit = true)
    val pipeB = new Pipeline(spark, "pb", dest, tmpDir("mani-tw-sb"), manifestCommit = true)
    def src(table: String, tag: String) = SourceDef("s", Seq(ResourceDef(table,
      TableHints(table, Disposition.Replace), _ => rows(3, tag))))

    pipeA.run(src("a", "v1")) // A's manifest instance now has state in memory
    pipeB.run(src("b", "v1")) // B commits table b on disk, unseen by A's cache
    pipeA.run(src("a", "v2")) // A must publish from the RELOADED manifest

    val m = new TableManifest(spark, dest) // fresh reader
    assert(m.tables.toSet == Set("a", "b"), s"table b lost: ${m.tables}")
    assert(m.read("b").get.count() == 3, "b's generation dirs were swept by A's stale publish")
    assert(m.read("a").get.select("tag").distinct().as[String].collect().toSet == Set("v2"))
  }

  test("concurrent manifest writers to one TABLE are excluded by the per-table lease") {
    val dest = tmpDir("mani-lock")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("mani-lock-state"), manifestCommit = true)
    val src = SourceDef("s", Seq(ResourceDef("t",
      TableHints("t", Disposition.Replace), _ => rows(2, "x"))))
    // another writer holds TABLE t's lease (not the whole root): this
    // pipeline's first land into t must fail fast, not interleave
    val lease = TableLock.acquire(spark, s"$dest/t", "other-writer")
    try intercept[TableLock.LockHeldException] { pipe.run(src) }
    finally lease.release()
    pipe.run(src)
    assert(pipe.manifest.read("t").get.count() == 2)
    // and the failed run's lease bookkeeping healed: the table is writable
    pipe.run(src)
    assert(pipe.manifest.read("t").get.count() == 2)
  }

  test("overlapping publishes of DISJOINT tables both survive, whichever commits first") {
    // the lost-update shape: A and B open publishes from the same manifest
    // snapshot, land different tables, commit in sequence — a last-write-
    // wins manifest flip would lose the first committer's table
    val dest = tmpDir("mani-disjoint")
    val mA = new TableManifest(spark, dest)
    val mB = new TableManifest(spark, dest)
    val pA = mA.publish("writer-a")
    val pB = mB.publish("writer-b") // both publishes open before either lands

    pA.land(rows(3, "va"), TableHints("a", Disposition.Replace))
    pB.land(rows(4, "vb"), TableHints("b", Disposition.Replace)) // disjoint: no exclusion
    // same-table while A's publish is in flight: B must be thrown out at
    // its first land, BEFORE writing into a's generation space
    intercept[TableLock.LockHeldException] {
      pB.land(rows(1, "evil"), TableHints("a", Disposition.Append))
    }
    pB.commit()
    pA.commit() // A's flip must MERGE over B's committed manifest, not replace it

    val m = new TableManifest(spark, dest)
    assert(m.tables.toSet == Set("a", "b"), s"lost a table: ${m.tables}")
    assert(m.read("a").get.count() == 3)
    assert(m.read("b").get.count() == 4)
    // leases fully released: both tables writable again
    val p2 = m.publish("writer-both")
    p2.land(rows(1, "v2"), TableHints("a", Disposition.Append))
    p2.land(rows(1, "v2"), TableHints("b", Disposition.Append))
    p2.commit()
    assert(m.read("a").get.count() == 4 && m.read("b").get.count() == 5)
  }

  test("two in-flight publishes from ONE TableManifest instance cannot wipe each other's commit") {
    // the same-instance shape of the disjoint-tables race: both Publish
    // objects share the instance's StateStore, so publish B's lease-time
    // rollback() could interleave publish A's commit overlay (rollback +
    // putList + commit) and wipe A's staged lists — the state monitor
    // must serialize them. Threads force real overlap; several rounds
    // give an unserialized interleaving room to reproduce.
    val dest = tmpDir("mani-same-inst")
    val m = new TableManifest(spark, dest)
    (1 to 3).foreach { round =>
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      def run(table: String, n: Int): java.util.concurrent.Future[Unit] =
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val p = m.publish(s"writer-$table-$round")
            gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
            p.land(rows(n, s"v$round"), TableHints(table, Disposition.Replace))
            p.commit()
          }
        })
      try {
        val fa = run("a", 3)
        val fb = run("b", 4)
        fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
        fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
      } finally pool.shutdownNow()
      assert(m.tables.toSet == Set("a", "b"), s"round $round lost a table: ${m.tables}")
      assert(m.read("a").get.count() == 3 && m.read("b").get.count() == 4,
        s"round $round read stale counts")
    }
  }

  test("two THREADED pipelines land disjoint tables under one root concurrently") {
    val dest = tmpDir("mani-threads")
    // both builds block on the barrier, so the two publish windows are
    // forced to overlap in real time (not just logically)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def src(table: String, tag: String) = SourceDef("s", Seq(ResourceDef(table,
      TableHints(table, Disposition.Replace),
      _ => { gate.await(30, java.util.concurrent.TimeUnit.SECONDS); rows(3, tag) })))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = new Pipeline(spark, "pa", dest, tmpDir("mani-th-sa"),
          manifestCommit = true).run(src("a", "va"))
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = new Pipeline(spark, "pb", dest, tmpDir("mani-th-sb"),
          manifestCommit = true).run(src("b", "vb"))
      })
      fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdownNow()
    val m = new TableManifest(spark, dest)
    assert(m.tables.toSet == Set("a", "b"), s"a concurrent commit was lost: ${m.tables}")
    assert(m.read("a").get.count() == 3 && m.read("b").get.count() == 3)
  }

  test("one publish lands two tables at once; the commit lists them in reserved order; a later land fails") {
    val dest = tmpDir("mani-overlap")
    val m = new TableManifest(spark, dest)
    val p = m.publish("writer-1")
    p.reserve(Seq("b", "a"))
    // each land's write job waits, inside the land, for the other land's
    // to start: a publish-wide monitor around land would time this out
    val bothStarted = new java.util.concurrent.CountDownLatch(2)
    def landing(table: String, n: Int): () => Long =
      () => p.land(rows(n, "v1"), TableHints(table, Disposition.Replace))
    val counts = LandGate.armed(spark, dest) { table =>
      bothStarted.countDown()
      if (!bothStarted.await(20, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(s"$table landed alone")
    } { Concurrently(spark)(landing("a", 3), landing("b", 4)) }
    assert(counts == Seq(3L, 4L))
    p.commit()
    val manifest = new String(java.nio.file.Files.readAllBytes(
      ManifestEpochs.newest(dest)), "UTF-8")
    assert(manifest.indexOf("\"tables.b\"") < manifest.indexOf("\"tables.a\""),
      s"the commit did not follow the reserved order: $manifest")
    val late = intercept[IllegalArgumentException](p.land(rows(1, "v2"), TableHints("a", Disposition.Append)))
    assert(late.getMessage.contains("publish already committed"))
    // the refused land left no lease behind: a new publish lands the table
    val p2 = m.publish("writer-2")
    p2.land(rows(1, "v2"), TableHints("a", Disposition.Append))
    p2.commit()
    assert(m.read("a").get.count() == 4 && m.read("b").get.count() == 4)
  }
}

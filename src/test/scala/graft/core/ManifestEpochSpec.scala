package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, ConcurrentLinkedQueue, CyclicBarrier, Executors, TimeUnit}

import graft.SparkTestBase
import graft.pipeline.{Pipeline, ResourceDef, SourceDef}
import scala.jdk.CollectionConverters._

/** The manifest as a chain of immutable epoch files: every read resolves
  * the newest epoch, commits race by creating the next one, a commit that
  * dies before its link changes nothing, and a root written before epochs
  * reads as epoch 0.
  */
class ManifestEpochSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(n: Int, tag: String) = (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")

  private def tags(m: TableManifest, table: String): Set[String] =
    m.read(table).get.select("tag").distinct().as[String].collect().toSet

  private def temps(dest: String): Set[String] =
    new java.io.File(dest).list().filter(_.startsWith("_manifest.tmp-")).toSet

  test("a manifest opened before two merge rewrites by another instance reads the newest rows") {
    val dest = tmpDir("epoch-stale-reader")
    val writer = new Pipeline(spark, "w", dest, tmpDir("epoch-stale-reader-state"), manifestCommit = true)
    def merge(tag: String) = SourceDef("s", Seq(ResourceDef("t",
      TableHints("t", Disposition.Merge, primaryKey = Seq("id")), _ => rows(3, tag))))
    writer.run(merge("v1"))
    val reader = new TableManifest(spark, dest)
    assert(tags(reader, "t") == Set("v1"))
    // the generation v1 lived in outlives both rewrites by the reader grace
    writer.run(merge("v2"))
    writer.run(merge("v3"))
    assert(tags(reader, "t") == Set("v3"))
    assert(reader.read("t").get.count() == 3)
    assert(reader.gens("t") == writer.manifest.gens("t"))
  }

  test("two publishes forced onto one epoch number both survive, in contiguous epochs") {
    val dest = tmpDir("epoch-race")
    val seed = new TableManifest(spark, dest).publish("seed")
    seed.land(rows(2, "s"), TableHints("seed", Disposition.Replace))
    seed.commit()
    assert(ManifestEpochs.numbers(dest) == Seq(1L))

    val pa = new TableManifest(spark, dest).publish("a")
    val pb = new TableManifest(spark, dest).publish("b")
    pa.land(rows(3, "a"), TableHints("a", Disposition.Replace))
    pb.land(rows(4, "b"), TableHints("b", Disposition.Replace))
    // both commits read epoch 1, then meet here before linking epoch 2
    val tried = new ConcurrentLinkedQueue[Long]()
    val met = ConcurrentHashMap.newKeySet[Long]()
    val barrier = new CyclicBarrier(2)
    TableManifest.testHookBeforeLink = { n =>
      tried.add(n)
      if (met.add(Thread.currentThread().getId)) barrier.await(30, TimeUnit.SECONDS)
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val commits = Seq(pa, pb).map(p => pool.submit(new Callable[Unit] { def call(): Unit = p.commit() }))
      commits.foreach(_.get(120, TimeUnit.SECONDS))
    } finally {
      pool.shutdownNow()
      TableManifest.testHookBeforeLink = _ => ()
    }
    assert(tried.asScala.toSeq.sorted == Seq(2L, 2L, 3L), s"link attempts: $tried")
    assert(ManifestEpochs.numbers(dest) == Seq(2L, 3L))
    val m = new TableManifest(spark, dest)
    assert(m.tables.toSet == Set("seed", "a", "b"))
    assert(m.read("a").get.count() == 3 && m.read("b").get.count() == 4 && m.read("seed").get.count() == 2)
  }

  test("a commit that dies before its link changes nothing; the retry commits; a stale temp is swept later") {
    val dest = tmpDir("epoch-crash")
    val m = new TableManifest(spark, dest)
    def publishT(n: Int, tag: String): m.Publish = {
      val p = m.publish(tag + "-" + java.util.UUID.randomUUID())
      p.land(rows(n, tag), TableHints("t", Disposition.Replace))
      p
    }
    publishT(3, "v1").commit()

    val crashed = publishT(5, "v2")
    TableManifest.testHookBeforeLink = _ => throw new java.io.IOException("planted crash before the link")
    try intercept[java.io.IOException](crashed.commit())
    finally TableManifest.testHookBeforeLink = _ => ()
    crashed.abort() // the dead run's leases go, as Pipeline.run's failure path does
    val orphan = temps(dest)
    assert(orphan.size == 1, s"the dead commit left its temp file: $orphan")
    assert(ManifestEpochs.numbers(dest) == Seq(1L))
    assert(tags(new TableManifest(spark, dest), "t") == Set("v1"))

    publishT(5, "v2").commit()
    assert(ManifestEpochs.numbers(dest) == Seq(1L, 2L))
    assert(tags(m, "t") == Set("v2") && m.read("t").get.count() == 5)
    assert(temps(dest) == orphan, "a temp younger than the lease's stale age may be in flight: kept")

    // the orphan ages past the stale age; another commit's temp is in flight
    Paths.get(dest, orphan.head).toFile.setLastModified(System.currentTimeMillis() - TableLock.DefaultStaleMs - 60000)
    Files.write(Paths.get(dest, "_manifest.tmp-inflight"), "{}".getBytes("UTF-8"))
    publishT(2, "v3").commit()
    assert(temps(dest) == Set("_manifest.tmp-inflight"))
    assert(ManifestEpochs.numbers(dest) == Seq(2L, 3L))
    assert(tags(m, "t") == Set("v3"))
  }

  test("a root holding only _manifest.json reads it as epoch 0; its first commit writes epoch 1") {
    val dest = tmpDir("epoch-legacy")
    rows(3, "old").write.parquet(s"$dest/t/g1")
    // the oldest manifest form: generation lists only, no counts or schema
    Files.write(Paths.get(dest, "_manifest.json"), """{"tables.t" : [ "g1" ]}""".getBytes("UTF-8"))
    val m = new TableManifest(spark, dest)
    assert(m.tables == Seq("t") && m.gens("t") == Seq("g1"))
    assert(tags(m, "t") == Set("old") && m.read("t").get.count() == 3)

    val p = m.publish("writer-1")
    assert(p.land(rows(2, "new"), TableHints("t", Disposition.Append)) == 5L)
    p.commit()
    assert(ManifestEpochs.numbers(dest) == Seq(1L))
    assert(m.gens("t") == Seq("g1", "g2") && tags(m, "t") == Set("old", "new"))
    assert(Files.exists(Paths.get(dest, "_manifest.json")), "epoch 0 is one of the newest two")

    val p2 = m.publish("writer-2")
    p2.land(rows(1, "newer"), TableHints("t", Disposition.Append))
    p2.commit()
    assert(ManifestEpochs.numbers(dest) == Seq(1L, 2L))
    assert(!Files.exists(Paths.get(dest, "_manifest.json")), "epoch 0 is swept like any older epoch")
    assert(m.read("t").get.count() == 6)
  }

  test("merged runs are size-tiered and bounded: none while the list has room, never a bigger old generation") {
    val k = TableManifest.MaxGenerations
    val most = TableManifest.MaxMergedGenerations
    assert(most < k)
    assert(TableManifest.mergedRun(Seq.fill(k - 1)(1L)) == 0)
    assert(TableManifest.mergedRun(Seq.fill(k)(1L)) == most)
    assert(TableManifest.mergedRun(Seq(100L) ++ Seq.fill(k - 1)(1L)) == most)
    assert(TableManifest.mergedRun(Seq.fill(k - 2)(1L) ++ Seq(10L, 3L)) == 1)
    assert(TableManifest.mergedRun(Seq.fill(k - 3)(9L) ++ Seq(2L, 1L, 1L)) == 3)
  }

  test("a delta past MaxGenerations merges a bounded run of the newest generations in one job; a crash before the commit changes nothing; the retry commits") {
    val dest = tmpDir("epoch-merge")
    val m = new TableManifest(spark, dest)
    val k = TableManifest.MaxGenerations
    val most = TableManifest.MaxMergedGenerations
    def append(n: Int, tag: String): m.Publish = {
      val p = m.publish(s"writer-$tag-${java.util.UUID.randomUUID()}")
      p.land(rows(n, tag), TableHints("t", Disposition.Append))
      p
    }
    // one big generation, then small ones up to the bound
    append(100, "big").commit()
    (1 until k).foreach(i => append(2, s"s$i").commit())
    val full = m.gens("t")
    assert(full.size == k)
    val allTags = Set("big", "next") ++ (1 until k).map(i => s"s$i")

    val crashed = append(2, "next")
    TableManifest.testHookBeforeLink = _ => throw new java.io.IOException("planted crash before the link")
    try intercept[java.io.IOException](crashed.commit())
    finally TableManifest.testHookBeforeLink = _ => ()
    crashed.abort()
    assert(m.gens("t") == full && m.read("t").get.count() == 100 + 2 * (k - 1))

    // a reader resolves the table before the merge and collects after it
    val before = m.read("t").get
    val p = m.publish("writer-retry")
    val jobs = jobsFor("epoch-merge-land") { p.land(rows(2, "next"), TableHints("t", Disposition.Append)) }
    p.commit()
    assert(jobs == 1, s"a merging land ran $jobs Spark jobs")
    // the newest generations merged with the delta; the older ones stay
    val merged = m.gens("t")
    val absorbed = full.takeRight(most)
    assert(merged.init == full.dropRight(most) && merged.size == k - most + 1, s"list after the merge: $merged")
    assert(m.read("t").get.count() == 100 + 2 * k && tags(m, "t") == allTags)
    def parquetFiles(gen: String) = new java.io.File(s"$dest/t/$gen").list().count(_.endsWith(".parquet"))
    assert(parquetFiles(merged.last) < absorbed.map(parquetFiles).sum, "the merged run is packed into fewer files")

    // the absorbed generations outlive later publishes while the merge
    // is younger than the grace, so the early reader still collects
    append(1, "later").commit()
    append(1, "later2").commit()
    assert(absorbed.forall(g => Files.exists(Paths.get(dest, "t", g))))
    assert(before.count() == 100 + 2 * (k - 1))
    // once the merge is older than the grace, the next publish sweeps them
    assert(absorbed.forall(g => new java.io.File(s"$dest/t/$g")
      .setLastModified(System.currentTimeMillis() - Generations.GraceMs - 60000L)))
    append(1, "last").commit()
    assert(absorbed.forall(g => !Files.exists(Paths.get(dest, "t", g))))
    assert(m.gens("t").forall(g => Files.exists(Paths.get(dest, "t", g))))
    assert(m.read("t").get.count() == 100 + 2 * k + 3)
  }

  test("a reader resolved before a Replace still collects after the next publish; the dropped generation goes past the grace") {
    val dest = tmpDir("epoch-replace-grace")
    val m = new TableManifest(spark, dest)
    def publishT(n: Int, tag: String, d: Disposition): Unit = {
      val p = m.publish(s"writer-$tag")
      p.land(rows(n, tag), TableHints("t", d))
      p.commit()
    }
    publishT(3, "v1", Disposition.Replace)
    val dropped = m.gens("t")
    val before = m.read("t").get
    publishT(5, "v2", Disposition.Replace)
    // the next publish's first touch of t sweeps what is past the grace only
    publishT(1, "v3", Disposition.Append)
    assert(before.collect().map(_.getString(1)).toSet == Set("v1"),
      "a reader resolved before the Replace must still collect")
    assert(dropped.forall(g => Files.exists(Paths.get(dest, "t", g))))
    dropped.foreach(g => assert(new java.io.File(s"$dest/t/$g")
      .setLastModified(System.currentTimeMillis() - Generations.GraceMs - 60000L)))
    publishT(1, "v4", Disposition.Append)
    assert(dropped.forall(g => !Files.exists(Paths.get(dest, "t", g))))
    assert(tags(m, "t") == Set("v2", "v3", "v4") && m.read("t").get.count() == 7)
  }

  /** Spark jobs `body` runs. */
  private def jobsFor(group: String)(body: => Any): Int = {
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
}

/** The epoch files of a manifest root, for specs that open them. */
object ManifestEpochs {
  private val Epoch = """_manifest\.e(\d+)""".r

  /** Committed epoch numbers on disk, ascending. */
  def numbers(dest: String): Seq[Long] =
    new java.io.File(dest).list().toSeq.collect { case Epoch(n) => n.toLong }.sorted

  /** The newest epoch file. */
  def newest(dest: String): java.nio.file.Path = Paths.get(dest, s"_manifest.e${numbers(dest).last}")
}

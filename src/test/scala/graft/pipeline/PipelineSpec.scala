package graft.pipeline

import graft.SparkTestBase
import graft.core._
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def eventsDf(upTo: Int) =
    (1 to upTo).map(i => (i.toLong, i.toLong % 3, s"2024-01-${"%02d".format(i)}", s"t${i % 2}"))
      .toDF("id", "user", "day", "kind")

  test("extract → normalize → write → cursor commit; second run loads only the delta") {
    val dest = tmpDir("pipe-dest")
    val stateDir = tmpDir("pipe-state")
    val pipe = new Pipeline(spark, "p", dest, stateDir)

    var visible = 5
    val res = ResourceDef(
      name = "events",
      hints = TableHints("events", Disposition.Merge, primaryKey = Seq("id")),
      build = _ => eventsDf(visible),
      incremental = Some((Incremental(Seq("day")), "day")),
    )
    val src = SourceDef("demo", Seq(res))

    val r1 = pipe.run(src)
    assert(r1 == Seq(LoadResult("events", 5)))
    val state = StateStore(stateDir, "p.demo")
    assert(state.getString("demo.events.cursor").contains("2024-01-05"))

    // next run: three new rows arrive; cursor prunes the old five
    visible = 8
    val r2 = pipe.run(src)
    assert(r2 == Seq(LoadResult("events", 8)))
    assert(StateStore(stateDir, "p.demo").getString("demo.events.cursor").contains("2024-01-08"))

    // no-op run: nothing beyond cursor → table unchanged
    val r3 = pipe.run(src)
    assert(r3 == Seq(LoadResult("events", 8)))
  }

  test("backfill under an external scheduler window does not move the committed cursor") {
    val dest = tmpDir("pipe-dest-bf")
    val stateDir = tmpDir("pipe-state-bf")
    val pipe = new Pipeline(spark, "p", dest, stateDir)

    def src(inc: Incremental) = SourceDef("demo", Seq(ResourceDef(
      name = "events",
      hints = TableHints("events", Disposition.Merge, primaryKey = Seq("id")),
      build = _ => eventsDf(8),
      incremental = Some((inc, "day")),
    )))

    // normal run establishes the high-water mark
    pipe.run(src(Incremental(Seq("day"))))
    assert(StateStore(stateDir, "p.demo").getString("demo.events.cursor").contains("2024-01-08"))

    // orchestrator backfill over an OLD interval: rows load, cursor stays.
    // Committing the interval's max ("2024-01-03") would regress the
    // high-water mark and re-ingest days 4-8 on the next normal run.
    val backfill = Incremental(Seq("day"))
      .withSchedulerWindow(Some("2024-01-01"), Some("2024-01-04"))
    val r = pipe.run(src(backfill))
    assert(r == Seq(LoadResult("events", 8))) // merge: 3 window rows upsert into 8
    assert(StateStore(stateDir, "p.demo").getString("demo.events.cursor").contains("2024-01-08"))
  }

  test("transformer DAG: parent builds before child; child sees parent rows") {
    val dest = tmpDir("pipe-dest2")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state2"))
    val parent = ResourceDef("deals", TableHints("deals", Disposition.Replace),
      _ => Seq((1L, "d1"), (2L, "d2")).toDF("id", "title"))
    val child = ResourceDef("participants", TableHints("participants", Disposition.Replace),
      ctx => ctx.parents("deals").select(col("id").as("deal_id"), lit("p").as("who")),
      parentName = Some("deals"))
    // declared child-first: topo order must fix it
    val results = pipe.run(SourceDef("s", Seq(child, parent)))
    assert(results.toSet == Set(LoadResult("deals", 2), LoadResult("participants", 2)))
  }

  test("selected=false resources run but do not load") {
    val dest = tmpDir("pipe-dest3")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state3"))
    val stateRes = ResourceDef("state_builder", TableHints("state_builder"),
      _ => Seq(1).toDF("x"), selected = false)
    val consumer = ResourceDef("consumer", TableHints("consumer", Disposition.Replace),
      ctx => ctx.parents("state_builder").withColumn("y", col("x") * 2),
      parentName = Some("state_builder"))
    val results = pipe.run(SourceDef("s", Seq(stateRes, consumer)))
    assert(results == Seq(LoadResult("consumer", 1)))
    assert(!new java.io.File(s"$dest/state_builder").exists())
  }

  test("routing column fans one stream into N tables") {
    val dest = tmpDir("pipe-dest4")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state4"))
    val res = ResourceDef("ev", TableHints("ev", Disposition.Replace),
      _ => eventsDf(6), routingColumn = Some("kind"))
    val results = pipe.run(SourceDef("s", Seq(res)))
    assert(results.map(_.table).toSet == Set("ev_t0", "ev_t1"))
    assert(spark.read.parquet(s"$dest/ev_t0").count() == 3)
    assert(spark.read.parquet(s"$dest/ev_t1").count() == 3)
  }

  test("empty-string routing values route to the bare table; only nulls drop") {
    val dest = tmpDir("pipe-dest8")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state8"))
    val df = Seq((1L, "a"), (2L, ""), (3L, "a")).toDF("id", "kind")
      .union(Seq((4L, null.asInstanceOf[String])).toDF("id", "kind"))
    val res = ResourceDef("ev", TableHints("ev", Disposition.Replace),
      _ => df, routingColumn = Some("kind"))
    val results = pipe.run(SourceDef("s", Seq(res)))
    // "" must NOT vanish into the writer's default partition with the
    // null; name normalization trims the trailing underscore, so the
    // empty route lands in the bare table name (no root table exists for
    // a routed resource, so this cannot collide)
    assert(results.map(_.table).toSet == Set("ev_a", "ev"))
    assert(spark.read.parquet(s"$dest/ev_a").count() == 2)
    assert(spark.read.parquet(s"$dest/ev").select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("routed write scans the source exactly once (staged single-pass fan-out)") {
    val dest = tmpDir("pipe-dest6")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state6"))
    val acc = spark.sparkContext.longAccumulator("rowReads")
    val tick = udf { (i: Long) => acc.add(1); i }.asNondeterministic()
    val res = ResourceDef("ev", TableHints("ev", Disposition.Replace),
      _ => eventsDf(6).withColumn("id", tick(col("id"))), routingColumn = Some("kind"))
    val results = pipe.run(SourceDef("s", Seq(res)))
    assert(results.map(_.table).toSet == Set("ev_t0", "ev_t1"))
    assert(spark.read.parquet(s"$dest/ev_t0").count() == 3)
    assert(acc.value == 6L, s"source rows must be read exactly once, got ${acc.value}")
    // the stage directory is cleaned up after the fan-out
    assert(!new java.io.File(s"$dest/__stage").exists() ||
      new java.io.File(s"$dest/__stage").list().isEmpty)
  }

  test("routing on a numeric column keeps string-named tables and prunes correctly") {
    val dest = tmpDir("pipe-dest7")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state7"))
    val res = ResourceDef("ev", TableHints("ev", Disposition.Replace),
      _ => eventsDf(6), routingColumn = Some("user"))
    val results = pipe.run(SourceDef("s", Seq(res)))
    assert(results.map(_.table).toSet == Set("ev_0", "ev_1", "ev_2"))
    assert(spark.read.parquet(s"$dest/ev_1").count() == 2)
  }

  test("hint-variant marks land rows in variant tables with their OWN merge keys") {
    // dlt.mark.with_hints + create_table_variant: one extract, a base
    // append table plus two variants with DIFFERENT primary keys
    val dest = tmpDir("pipe-hv")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-hv-state"))
    val df = Seq(
      (1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b"),   // by_user: dedup on user
      (4L, 10L, "a"), (5L, 10L, "b"),                   // by_kind: dedup on kind
      (6L, 30L, "c"),                                   // base: append as-is
    ).toDF("id", "user", "kind")
      .withColumn(Pipeline.HintVariantCol,
        when(col("id") <= 3, "by_user").when(col("id") <= 5, "by_kind").otherwise(lit(null)))
    val res = ResourceDef("ev", TableHints("ev_base", Disposition.Append), _ => df,
      hintVariants = Map(
        "by_user" -> TableHints("by_user", Disposition.Merge,
          primaryKey = Seq("user"), dedupSort = Some(("id", true))),
        "by_kind" -> TableHints("by_kind", Disposition.Merge,
          primaryKey = Seq("kind"), dedupSort = Some(("id", true))),
      ))
    val results = pipe.run(SourceDef("s", Seq(res)))
    assert(results.map(_.table).toSet == Set("ev_base", "by_user", "by_kind"))
    // by_user keeps the max-id row per user: (2,10),(3,20)
    assert(spark.read.parquet(s"$dest/by_user").select("id").as[Long].collect().toSet == Set(2L, 3L))
    // by_kind keeps the max-id row per kind: (4,a),(5,b)
    assert(spark.read.parquet(s"$dest/by_kind").select("id").as[Long].collect().toSet == Set(4L, 5L))
    // unmarked rows appended to the base, variant column consumed
    val base = spark.read.parquet(s"$dest/ev_base")
    assert(base.select("id").as[Long].collect().toSeq == Seq(6L))
    assert(!base.columns.contains(Pipeline.HintVariantCol))
  }

  test("routed fan-out applies per-routed-table hint variants (CDC per-table dispositions)") {
    // the pg_replication shape: the routing value picks the table AND the
    // table's own disposition/keys (helpers.py:781-790)
    val dest = tmpDir("pipe-hv2")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-hv2-state"))
    val df = Seq(
      (1L, 10L, "logs"), (2L, 10L, "logs"),          // append-only table
      (3L, 10L, "users"), (4L, 10L, "users"),        // merged table, pk=user
    ).toDF("id", "user", "tbl")
    val res = ResourceDef("cdc", TableHints("t", Disposition.Append),
      _ => df, routingColumn = Some("tbl"),
      hintVariants = Map(
        // keyed by the FINAL normalized table name (t_users)
        "t_users" -> TableHints("ignored", Disposition.Merge,
          primaryKey = Seq("user"), dedupSort = Some(("id", true))),
      ))
    pipe.run(SourceDef("s", Seq(res)))
    assert(spark.read.parquet(s"$dest/t_logs").count() == 2)  // default hints: append
    assert(spark.read.parquet(s"$dest/t_users").select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("nested resources write child tables alongside the root") {
    val dest = tmpDir("pipe-dest5")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-state5"))
    val res = ResourceDef("orders", TableHints("orders", Disposition.Replace, primaryKey = Seq("id")),
      _ => Seq((1L, Seq("a", "b")), (2L, Seq("c"))).toDF("id", "items"))
    val results = pipe.run(SourceDef("s", Seq(res)))
    assert(results.map(_.table).toSet == Set("orders", "orders__items"))
    assert(spark.read.parquet(s"$dest/orders__items").count() == 3)
  }

  test("resources load parents first, whatever their declaration order") {
    val dest = tmpDir("pipe-order")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-order-state"))
    val order = new java.util.ArrayList[String]()
    def res(name: String, parent: Option[String] = None) = ResourceDef(
      name, TableHints(name, Disposition.Replace),
      ctx => { order.add(name); Seq((name, 1L)).toDF("src", "v") },
      parentName = parent)
    val results = pipe.run(SourceDef("s", Seq(
      res("child", Some("b")), res("a"), res("b"), res("c"))))
    assert(results.map(_.table).toSet == Set("a", "b", "c", "child"))
    // the child is declared first but must build after its parent
    assert(order.indexOf("child") > order.indexOf("b"))
    (Seq("a", "b", "c", "child")).foreach { t =>
      assert(spark.read.parquet(s"$dest/$t").count() == 1)
    }
  }

  test("routed tables land concurrently: each land's job waits for the other's to start") {
    val dest = tmpDir("pipe-overlap")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-overlap-state"))
    val res = ResourceDef("ev", TableHints("ev", Disposition.Replace),
      _ => eventsDf(6), routingColumn = Some("kind"))
    // one land alone never opens the latch: a run that lands its tables
    // one after another fails here after the timeout
    val bothStarted = new java.util.concurrent.CountDownLatch(2)
    val results = LandGate.armed(spark, dest) { table =>
      bothStarted.countDown()
      if (!bothStarted.await(20, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(s"$table's land ran alone: the other land never started")
    } { pipe.run(SourceDef("s", Seq(res))) }
    assert(results == Seq(LoadResult("ev_t0", 3), LoadResult("ev_t1", 3)))
    assert(spark.read.parquet(s"$dest/ev_t0").count() == 3 && spark.read.parquet(s"$dest/ev_t1").count() == 3)
  }

  test("a failed routed land rethrows only after its sibling land finished; no table or cursor moves") {
    val dest = tmpDir("pipe-fail")
    val stateDir = tmpDir("pipe-fail-state")
    val pipe = new Pipeline(spark, "p", dest, stateDir, manifestCommit = true)
    def src(upTo: Int) = SourceDef("s", Seq(ResourceDef("ev",
      TableHints("ev", Disposition.Append),
      _ => eventsDf(upTo).withColumn("route", when(col("id") % 2 === 0, "bad").otherwise("slow")),
      routingColumn = Some("route"),
      incremental = Some((Incremental(Seq("day")), "day")))))
    def cursor() = StateStore(stateDir, "p.s").getString("s.ev.cursor")
    def counts() = Seq("ev_bad", "ev_slow").map(t => pipe.manifest.read(t).get.count())
    pipe.run(src(4))
    assert(cursor().contains("2024-01-04") && counts() == Seq(2L, 2L))

    val e = intercept[IllegalStateException] {
      LandGate.armed(spark, dest) {
        case "ev_bad" => throw new IllegalStateException("planted land failure")
        case _        => Thread.sleep(1500)
      } { pipe.run(src(8)) }
    }
    assert(e.getMessage == "planted land failure")
    // a run landing its tables in order stops at ev_bad, before ev_slow
    assert(LandGate.done.contains("ev_slow"), "the run rethrew while its sibling land was still running")
    assert(cursor().contains("2024-01-04"), "a failed run committed its cursor")
    assert(counts() == Seq(2L, 2L), "a failed run changed a manifest table")

    // the leases were released: the retry lands both tables and the cursor
    assert(pipe.run(src(8)) == Seq(LoadResult("ev_bad", 4), LoadResult("ev_slow", 4)))
    assert(cursor().contains("2024-01-08") && counts() == Seq(4L, 4L))
  }

  test("routed values that normalize to one table land one after another, both batches kept") {
    val dest = tmpDir("pipe-samename")
    val pipe = new Pipeline(spark, "p", dest, tmpDir("pipe-samename-state"))
    val df = Seq((1L, "A b"), (2L, "a_b"), (3L, "a_b"), (4L, "c")).toDF("id", "kind")
    val res = ResourceDef("ev", TableHints("ev", Disposition.Append), _ => df, routingColumn = Some("kind"))
    val results = LandGate.armed(spark, dest)(_ => Thread.sleep(300)) { pipe.run(SourceDef("s", Seq(res))) }
    // "A b" and "a_b" both name ev_a_b: two appends in sorted value order
    assert(results == Seq(LoadResult("ev_a_b", 1), LoadResult("ev_a_b", 3), LoadResult("ev_c", 1)))
    assert(LandGate.maxInFlight.get("ev_a_b") == 1, "two lands into one table overlapped")
    assert(spark.read.parquet(s"$dest/ev_a_b").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("cycles and unknown parents are rejected") {
    val pipe = new Pipeline(spark, "p", tmpDir("d"), tmpDir("s"))
    val a = ResourceDef("a", TableHints("a"), _ => Seq(1).toDF("x"), parentName = Some("b"))
    val b = ResourceDef("b", TableHints("b"), _ => Seq(1).toDF("x"), parentName = Some("a"))
    intercept[IllegalArgumentException](pipe.run(SourceDef("s", Seq(a, b))))
    val orphan = ResourceDef("o", TableHints("o"), _ => Seq(1).toDF("x"), parentName = Some("ghost"))
    intercept[IllegalArgumentException](pipe.run(SourceDef("s", Seq(orphan))))
  }
}

/** A hook on every parquet job a spec's lands run, at the job's output
  * committer (the staged fan-out evaluates the source once, at staging,
  * so per-land behaviour has to be planted on the land's own write).
  * `action` runs on the driver when a land's job sets up, keyed by
  * table; `done` holds the tables whose land jobs committed, and
  * `maxInFlight` the most land jobs of one table that were set up and
  * not yet finished at once.
  */
object LandGate {
  @volatile var root: String = ""
  @volatile var action: String => Unit = _ => ()
  val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val maxInFlight = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Route every parquet write of `body` through the gate for tables
    * under `dir` (the pipeline's own `__stage` dir excluded).
    */
  def armed[T](spark: org.apache.spark.sql.SparkSession, dir: String)(act: String => Unit)(body: => T): T = {
    val key = "spark.sql.parquet.output.committer.class"
    val before = spark.conf.getOption(key)
    root = dir
    action = act
    done.clear(); inFlight.clear(); maxInFlight.clear()
    spark.conf.set(key, classOf[LandGateCommitter].getName)
    try body
    finally {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      action = _ => ()
    }
  }

  def tableOf(out: org.apache.hadoop.fs.Path): Option[String] = {
    val path = out.toUri.getPath
    val rel = path.stripPrefix(root + "/")
    if (root.isEmpty || rel == path || rel.startsWith("__stage/")) None
    else Some(rel.takeWhile(_ != '/').stripSuffix("__stage"))
  }

  def enter(table: String): Unit = {
    val n = inFlight.merge(table, 1, _ + _)
    maxInFlight.merge(table, n, math.max)
    action(table)
  }

  def exit(table: String, committed: Boolean): Unit = {
    inFlight.merge(table, -1, _ + _)
    if (committed) done.add(table)
  }
}

class LandGateCommitter(out: org.apache.hadoop.fs.Path, ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  private val table = LandGate.tableOf(out)

  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    table.foreach(LandGate.enter)
    super.setupJob(job)
  }

  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    super.commitJob(job)
    table.foreach(LandGate.exit(_, committed = true))
  }

  override def abortJob(job: org.apache.hadoop.mapreduce.JobContext,
      state: org.apache.hadoop.mapreduce.JobStatus.State): Unit = {
    super.abortJob(job, state)
    table.foreach(LandGate.exit(_, committed = false))
  }
}

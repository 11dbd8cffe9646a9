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

  test("cycles and unknown parents are rejected") {
    val pipe = new Pipeline(spark, "p", tmpDir("d"), tmpDir("s"))
    val a = ResourceDef("a", TableHints("a"), _ => Seq(1).toDF("x"), parentName = Some("b"))
    val b = ResourceDef("b", TableHints("b"), _ => Seq(1).toDF("x"), parentName = Some("a"))
    intercept[IllegalArgumentException](pipe.run(SourceDef("s", Seq(a, b))))
    val orphan = ResourceDef("o", TableHints("o"), _ => Seq(1).toDF("x"), parentName = Some("ghost"))
    intercept[IllegalArgumentException](pipe.run(SourceDef("s", Seq(orphan))))
  }
}

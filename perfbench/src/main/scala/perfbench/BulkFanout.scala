package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Disposition, Naming, TableHints}
import graft.pipeline.{Pipeline, ResourceDef, SourceDef}

/** Seeded TPC-H-shaped `lineitem` rows. Row `i` is a pure function of
  * (seed, i), so executors generate the input while the benchmark computes the
  * aggregates a correct load must reproduce without reading it back.
  */
object LineitemGen {
  val Flags = Array("a", "n", "r")
  val FirstYear = 1992
  val Years = 2
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Words = Array("quick", "final", "pending", "ironic", "bold", "regular", "express",
    "careful", "silent", "even", "special", "furious", "blithe", "unusual")

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", LongType), StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(4, 2)), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", DateType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType),
    StructField("route", StringType), StructField("slice", IntegerType)))

  final case class Line(quantity: Long, priceCents: Long, route: String, slice: Int, row: Row)

  def line(seed: Long, i: Long, slices: Int): Line = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val qty = 1L + r.nextInt(50)
    val priceCents = qty * (90000L + r.nextInt(110000))
    val flag = Flags(r.nextInt(Flags.length))
    val day = r.nextInt(Years * 365 - 2) // stays inside the last year
    val ship = java.time.LocalDate.of(FirstYear, 1, 2).plusDays(day.toLong)
    val route = s"${flag}_${ship.getYear}"
    val slice = r.nextInt(slices)
    val comment = (0 until 3 + r.nextInt(4)).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
    val row = Row(i / 4 + 1, (i % 4 + 1).toInt, 1L + r.nextInt(20000), 1L + r.nextInt(1000), qty,
      java.math.BigDecimal.valueOf(priceCents, 2), java.math.BigDecimal.valueOf(r.nextInt(11).toLong, 2),
      flag, if (r.nextBoolean()) "o" else "f", java.sql.Date.valueOf(ship),
      Modes(r.nextInt(Modes.length)), comment, route, slice)
    Line(qty, priceCents, route, slice, row)
  }
}

/** `bulk_fanout`: a backfill of seeded `lineitem` appended slice by slice
  * through `routingColumn` to one table per (return flag, ship year) with
  * `manifestCommit`. Load op = one slice's `Pipeline.run`; query op = one
  * aggregate over every routed table resolved through the manifest,
  * checked against the generator's per-table totals.
  */
final class BulkFanout(spark: SparkSession, rec: Recorder, seed: Long, cpus: Int) extends Workload {
  private val Rows = 60000L
  private val Slices = 24

  private var root: String = _
  private var pipe: Pipeline = _
  private var cycle = 0
  private var queryNext = false
  private var landedRows = 0L
  /** (slice, route) -> (rows, quantity sum, price cents sum). */
  private val sliceAgg = mutable.HashMap.empty[(Int, String), (Long, Long, Long)]
  /** route -> cumulative totals of every landed slice. */
  private val expected = mutable.HashMap.empty[String, (Long, Long, Long)]
  private val sliceRows = Array.fill(Slices)(0L)

  private def input = s"$root/input/lineitem"

  def setup(root: String): Unit = {
    this.root = root
    cycle = 0
    queryNext = false
    landedRows = 0L
    expected.clear()
    if (sliceAgg.isEmpty) {
      var i = 0L
      while (i < Rows) {
        val l = LineitemGen.line(seed, i, Slices)
        val k = (l.slice, l.route)
        val (n, q, p) = sliceAgg.getOrElse(k, (0L, 0L, 0L))
        sliceAgg(k) = (n + 1, q + l.quantity, p + l.priceCents)
        sliceRows(l.slice) += 1
        i += 1
      }
    }
    val (s, rows, slices) = (seed, Rows, Slices) // locals: the closure must not capture `this`
    val rdd = spark.sparkContext.range(0L, rows, 1L, cpus)
      .map(i => LineitemGen.line(s, i, slices).row)
    spark.createDataFrame(rdd, LineitemGen.schema)
      .repartition(col("slice")).write.partitionBy("slice").parquet(input)
    pipe = new Pipeline(spark, "bench", s"$root/dest", s"$root/state", manifestCommit = true)
  }

  private def source(slice: Int) = SourceDef("tpch", Seq(ResourceDef(
    name = "lineitem",
    hints = TableHints("lineitem", Disposition.Append),
    build = ctx => ctx.spark.read.parquet(input).filter(col("slice") === slice).drop("slice"),
    routingColumn = Some("route"),
  )))

  private def table(route: String) = Naming.normalize(s"lineitem_$route")

  /** Alternates a slice load with a read-back of every routed table. */
  def step(): Unit = {
    if (!queryNext) {
      val slice = cycle % Slices
      cycle += 1
      val ok = rec.op("load", "Pipeline.run", "pipeline", sliceRows(slice)) {
        pipe.run(source(slice))
        true
      }
      if (ok) {
        landedRows += sliceRows(slice)
        sliceAgg.foreach { case ((s, route), (n, q, p)) =>
          if (s == slice) {
            val (n0, q0, p0) = expected.getOrElse(route, (0L, 0L, 0L))
            expected(route) = (n0 + n, q0 + q, p0 + p)
          }
        }
      }
    } else rec.op("query", "read_back", "consumer", 1) { readBack() == expectedByTable }
    queryNext = !queryNext
  }

  private def expectedByTable: Map[String, (Long, Long, Long)] =
    expected.map { case (route, v) => table(route) -> v }.toMap

  /** One aggregate over every routed table resolved through the manifest. */
  private def readBack(): Map[String, (Long, Long, Long)] = {
    val m = pipe.manifest
    m.tables.filter(_.startsWith("lineitem_")).map { t =>
      m.read(t).get.agg(count(lit(1)).as("n"), sum("l_quantity").as("q"),
        sum("l_extendedprice").as("p")).withColumn("t", lit(t))
    }.reduce(_.unionByName(_)).collect().map { r =>
      r.getAs[String]("t") -> (r.getAs[Long]("n"), r.getAs[Long]("q"),
        r.getAs[java.math.BigDecimal]("p").movePointRight(2).longValueExact())
    }.toMap
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val got = readBack()
    val want = expectedByTable
    val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(t => got.get(t) != want.get(t))
    Seq(("bulk_fanout.table_totals", bad.isEmpty,
      s"tables=${got.size} expected=${want.size} mismatched=${bad.take(5).mkString(",")}"))
  }

  def destSize(): (Long, Long) = (Main.parquetBytes(s"$root/dest"), landedRows)

  def counters(): Map[String, Double] = {
    val m = pipe.manifest
    val ts = m.tables.filter(_.startsWith("lineitem_"))
    Map("generations_per_table" -> (if (ts.isEmpty) 0.0 else ts.map(m.gens(_).size).sum.toDouble / ts.size))
  }

  def resetCounters(): Unit = ()

  def teardown(): Unit = if (root != null) Main.deleteTree(root)
}

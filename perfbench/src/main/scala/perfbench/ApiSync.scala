package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.connectors.rest.{RestEngine, UrlConnectionTransport}
import graft.connectors.rest.RestEngine._
import graft.core.{Disposition, Incremental, StateStore, TableHints}
import graft.pipeline.{Pipeline, ResourceDef, SourceDef}

/** The paginated API `api_sync` syncs from: a seeded account table with a
  * nested `owner` struct and a `lines` array. Each [[advance]] applies one
  * cycle's delta — new keys, updates to a fixed share of live keys and
  * about 2% hard deletes, every change stamped with a fresh `updated_at` —
  * and keeps the values a correct sync must land (live keys, amount sum,
  * child rows, newest cursor).
  */
final class ApiModel(seed: Long, initialKeys: Int) {
  import ApiModel._

  // current version of every record, ordered by (updated_at, id): the
  // `updated_since` scan is a tail of this map
  private val byCursor = new java.util.TreeMap[String, String]()
  private val cursorOf = mutable.HashMap.empty[Long, String]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val livePos = mutable.HashMap.empty[Long, Int]
  private val amounts = mutable.HashMap.empty[Long, Long]
  private var nextId = 1L
  var cycle = 0
  var amountSum = 0L
  var childRows = 0L
  var maxCursor = ""

  def liveKeys: Long = live.size.toLong

  /** Applies the delta of the next cycle; returns its size in records. */
  def advance(): Long = synchronized {
    val rng = new scala.util.Random(seed * 1000003L + cycle)
    val n = live.size
    val picked = pick(rng, n, math.round(n * (UpdateShare + DeleteShare)).toInt)
    val (deletes, updates) = picked.splitAt(math.round(n * DeleteShare).toInt)
    val fresh = (0 until (if (cycle == 0) initialKeys else NewPerCycle)).map(_ => -1)
    val changes = rng.shuffle((deletes.map(i => (live(i), true)) ++ updates.map(i => (live(i), false)) ++
      fresh.map(_ => (-1L, false))).toSeq)
    val dayStart = BaseEpochS + cycle * 86400L
    changes.zipWithIndex.foreach { case ((id0, delete), i) =>
      val ts = java.time.Instant.ofEpochSecond(dayStart + i).toString
      val id = if (id0 >= 0) id0 else { val id = nextId; nextId += 1; add(id); id }
      cursorOf.put(id, s"$ts|$id").foreach(byCursor.remove)
      if (delete) {
        remove(id)
        byCursor.put(s"$ts|$id", s"""{"id":$id,"updated_at":"$ts","deleted_at":"$ts"}""")
      } else byCursor.put(s"$ts|$id", record(rng, id, ts))
      maxCursor = ts
    }
    cycle += 1
    changes.size.toLong
  }

  /** Random distinct indices into `live`. */
  private def pick(rng: scala.util.Random, n: Int, k: Int): Seq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, n)) out += rng.nextInt(n)
    out.toSeq
  }

  private def add(id: Long): Unit = {
    livePos(id) = live.size
    live += id
    childRows += lineCount(id)
  }

  private def remove(id: Long): Unit = {
    val p = livePos.remove(id).get
    val last = live.remove(live.size - 1)
    if (last != id) { live(p) = last; livePos(last) = p }
    amountSum -= amounts.remove(id).getOrElse(0L)
  }

  private def record(rng: scala.util.Random, id: Long, ts: String): String = {
    val amount = rng.nextInt(1000000).toLong
    amountSum += amount - amounts.put(id, amount).getOrElse(0L)
    val owner = rng.nextInt(50)
    val lines = (0 until lineCount(id)).map { _ =>
      s"""{"sku":"sku-${rng.nextInt(500)}","qty":${1 + rng.nextInt(9)},"price_cents":${rng.nextInt(10000)}}"""
    }.mkString(",")
    // a new optional field every FieldEvery cycles
    val extra = if (cycle >= FieldEvery) s""","extra_${cycle / FieldEvery}":"v$cycle"""" else ""
    s"""{"id":$id,"updated_at":"$ts","name":"acct-$id","status":"${Statuses(rng.nextInt(4))}",""" +
      s""""amount_cents":$amount,"owner":{"id":$owner,"email":"owner$owner@example.com"},""" +
      s""""lines":[$lines]$extra}"""
  }

  /** One page of the records changed at or after `since` (inclusive, as
    * real APIs answer `updated_since`).
    */
  def page(since: Option[String], page: Int, perPage: Int): (String, Int) = synchronized {
    val tail = since.fold[java.util.NavigableMap[String, String]](byCursor)(byCursor.tailMap(_, true))
    val it = tail.values().iterator()
    var skip = (page - 1) * perPage
    while (skip > 0 && it.hasNext) { it.next(); skip -= 1 }
    val items = mutable.ArrayBuffer.empty[String]
    while (items.size < perPage && it.hasNext) items += it.next()
    (items.mkString("[", ",", "]"), items.size)
  }
}

object ApiModel {
  val NewPerCycle = 90
  val UpdateShare = 0.08
  val DeleteShare = 0.02
  val FieldEvery = 3
  val BaseEpochS = 1704067200L // 2024-01-01T00:00:00Z
  private val Statuses = Array("open", "won", "lost", "stalled")

  /** Lines per account: fixed per id, so updates re-land the same child rows. */
  def lineCount(id: Long): Int = 1 + java.lang.Math.floorMod(id * 2654435761L, 4L).toInt
}

/** Loopback HTTP server for an [[ApiModel]]: `GET /records?updated_since=&
  * page=&per_page=`, with a fixed delay per request. Counts requests, items
  * served and time spent answering.
  */
final class ApiServer(model: ApiModel, delayMs: Long) {
  val requests = new AtomicLong
  val items = new AtomicLong
  val busyNs = new AtomicLong
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
  server.setExecutor(pool)
  server.createContext("/records", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      Thread.sleep(delayMs)
      val (body, n) = model.page(q.get("updated_since"), q.getOrElse("page", "1").toInt,
        q.getOrElse("per_page", "100").toInt)
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      requests.incrementAndGet()
      items.addAndGet(n.toLong)
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  })
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

/** `api_sync`: repeated incremental syncs of a paginated API into a merge
  * table with a child table. Load op = one `Pipeline.run`; query op = a
  * consumer's count/sum over the merged table, checked against the model.
  */
final class ApiSync(spark: SparkSession, rec: Recorder, seed: Long) extends Workload {
  private val InitialKeys = 2000
  private val PageSize = 100
  private val DelayMs = 2L

  private var root: String = _
  private var model: ApiModel = _
  private var server: ApiServer = _
  private var pipe: Pipeline = _
  private var source: SourceDef = _
  private var queryNext = false
  private var changedRows = 0L
  private var baseline = (0L, 0L, 0.0)

  private val hints = TableHints("records", Disposition.Merge, primaryKey = Seq("id"),
    hardDeleteCol = Some("deleted_at"))

  /** Fresh model, server and pipeline; the initial backfill is one run. */
  def setup(root: String): Unit = {
    this.root = root
    model = new ApiModel(seed, InitialKeys)
    server = new ApiServer(model, DelayMs)
    pipe = new Pipeline(spark, "bench", s"$root/dest", s"$root/state")
    val res = RestResource("records",
      EndpointConfig("records",
        paginator = Paginator.PageNumber("page", "per_page", PageSize),
        incremental = Some(IncrementalBinding("updated_at", "updated_since"))),
      hints)
    val src = RestSource("api", ClientConfig(server.baseUrl), Seq(res))
    source = SourceDef("api", Seq(ResourceDef(
      name = "records",
      hints = hints,
      build = ctx => rec.span("RestEngine.readResource", "connectors.rest") {
        RestEngine.readResource(ctx.spark, src, res, new UrlConnectionTransport(), Some(ctx.state))
      },
      incremental = Some((Incremental(Seq("updated_at")), "updated_at")),
    )))
    model.advance()
    pipe.run(source)
    queryNext = false
  }

  /** Alternates a sync cycle with a consumer read-back. */
  def step(): Unit = {
    if (!queryNext) {
      val n = model.advance()
      changedRows += n
      rec.op("load", "Pipeline.run", "pipeline", n) { pipe.run(source); true }
    } else rec.op("query", "read_back", "consumer", 1) {
      val r = spark.read.parquet(s"$root/dest/records")
        .agg(count(lit(1)), sum("amount_cents")).head()
      r.getLong(0) == model.liveKeys && r.getLong(1) == model.amountSum
    }
    queryNext = !queryNext
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val t = spark.read.parquet(s"$root/dest/records")
    val r = t.agg(count(lit(1)), sum("amount_cents"), countDistinct("id")).head()
    val children = spark.read.parquet(s"$root/dest/records__lines").count()
    val cursor = StateStore(s"$root/state", "bench.api").getString("api.records.cursor")
    Seq(
      ("api_sync.key_count", r.getLong(0) == model.liveKeys && r.getLong(2) == model.liveKeys,
        s"rows=${r.getLong(0)} distinct=${r.getLong(2)} expected=${model.liveKeys}"),
      ("api_sync.amount_checksum", r.getLong(1) == model.amountSum,
        s"got=${r.getLong(1)} expected=${model.amountSum}"),
      ("api_sync.child_rows", children == model.childRows,
        s"got=$children expected=${model.childRows}"),
      ("api_sync.cursor", cursor.contains(model.maxCursor),
        s"got=${cursor.getOrElse("none")} expected=${model.maxCursor}"),
    )
  }

  def destSize(): (Long, Long) = {
    val rows = model.liveKeys + spark.read.parquet(s"$root/dest/records__lines").count()
    (Main.parquetBytes(s"$root/dest"), rows)
  }

  def counters(): Map[String, Double] = Map(
    "requests" -> (server.requests.get - baseline._1).toDouble,
    "items_served" -> (server.items.get - baseline._2).toDouble,
    "server_ms" -> (server.busyNs.get / 1e6 - baseline._3),
    "changed_rows" -> changedRows.toDouble,
  )

  def resetCounters(): Unit = {
    baseline = (server.requests.get, server.items.get, server.busyNs.get / 1e6)
    changedRows = 0L
  }

  def teardown(): Unit = {
    if (server != null) server.stop()
    server = null
    if (root != null) Main.deleteTree(root)
  }
}

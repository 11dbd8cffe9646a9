package graft.pipeline

import graft.SparkTestBase
import graft.connectors.rest.{HttpResponse, HttpTransport, StaticPagesTransport}
import graft.connectors.sources.Fleet
import graft.core.StateStore

/** pipeline.run(source) over a whole connector config, parent-child
  * included — the reference's top-level call shape end to end.
  */
class RestPipelineSpec extends SparkTestBase {

  test("pipedrive-shaped source: deals → executor-side participants fan-out → tables") {
    val src = Fleet.pipedrive("tok")
    // keep only the deals + participants pair for the fixture
    val slim = src.copy(resources = src.resources.filter(r =>
      r.name == "deals" || r.name == "deal_participants"))

    val t = StaticPagesTransport(Map(
      "api/v2/deals?api_token=tok&limit=500&sort_by=update_time&sort_direction=desc" ->
        """{"data":[{"id":1,"title":"d1","update_time":"2024-01-01"},
          |         {"id":2,"title":"d2","update_time":"2024-01-02"}],
          | "additional_data":{"next_cursor":null}}""".stripMargin,
      "api/v2/deals/1/participants?api_token=tok&limit=500" ->
        """{"data":[{"id":10,"person":"p10"}],"additional_data":{"next_cursor":null}}""",
      "api/v2/deals/2/participants?api_token=tok&limit=500" ->
        """{"data":[{"id":20,"person":"p20"},{"id":21,"person":"p21"}],"additional_data":{"next_cursor":null}}""",
    ))

    val dest = tmpDir("restpipe-dest")
    val pipe = new Pipeline(spark, "pd", dest, tmpDir("restpipe-state"))
    val results = pipe.run(RestPipeline.toSourceDef(slim, () => t))

    assert(results.map(_.table).toSet == Set("deals", "deal_participants"))
    assert(spark.read.parquet(s"$dest/deals").count() == 2)
    val parts = spark.read.parquet(s"$dest/deal_participants")
    assert(parts.count() == 3)
    // child rows carry the parent key for joins
    assert(parts.columns.contains("_parent_id"))
    assert(parts.where(parts("_parent_id") === "2").count() == 2)
  }

  test("an incremental root resource commits its cursor: the next run's first request carries it") {
    val deals = Fleet.pipedrive("tok")
    val slim = deals.copy(resources = deals.resources.filter(_.name == "deals"))
    val first = "api/v2/deals?api_token=tok&limit=500&sort_by=update_time&sort_direction=desc"
    val t = new RecordingTransport(StaticPagesTransport(Map(
      first ->
        """{"data":[{"id":1,"update_time":"2024-01-01"},{"id":2,"update_time":"2024-01-02"}],
          | "additional_data":{"next_cursor":null}}""".stripMargin,
      s"$first&updated_since=2024-01-02" ->
        """{"data":[{"id":2,"update_time":"2024-01-02"},{"id":3,"update_time":"2024-01-05"}],
          | "additional_data":{"next_cursor":null}}""".stripMargin,
    )))
    val dest = tmpDir("restpipe-cursor")
    val stateDir = tmpDir("restpipe-cursor-state")
    val pipe = new Pipeline(spark, "pd", dest, stateDir)
    pipe.run(RestPipeline.toSourceDef(slim, () => t))
    assert(StateStore(stateDir, "pd.pipedrive").getString("pipedrive.deals.cursor").contains("2024-01-02"))

    t.requests.clear()
    pipe.run(RestPipeline.toSourceDef(slim, () => t))
    assert(t.requests.peek().get("updated_since").contains("2024-01-02"), s"requests: ${t.requests}")
    assert(StateStore(stateDir, "pd.pipedrive").getString("pipedrive.deals.cursor").contains("2024-01-05"))
    val ids = spark.read.parquet(s"$dest/deals").select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), "the start-inclusive re-read of id 2 is filtered; id 3 merges in")
  }

  test("a lagDays binding rewinds the committed cursor and re-emits its window, boundary day included") {
    val fb = Fleet.facebookAds("1", "tok")
    val insights = fb.copy(resources = fb.resources.filter(_.name == "insights"))
    val first = "v19.0/act_1/insights?access_token=tok&limit=50"
    def page(days: (String, Int)*) = days.map { case (d, clicks) =>
      s"""{"date_start":"$d","ad_id":"a","clicks":$clicks}""" }
      .mkString("""{"data":[""", ",", """],"paging":{"cursors":{"after":null}}}""")
    val t = new RecordingTransport(StaticPagesTransport(Map(
      first -> page("2024-01-10" -> 1, "2024-01-11" -> 2),
      // 2024-01-11 rewound 7 days
      s"$first&time_range[since]=2024-01-04" -> page("2024-01-04" -> 5, "2024-01-11" -> 7, "2024-01-12" -> 8),
    )))
    val dest = tmpDir("restpipe-lag")
    val stateDir = tmpDir("restpipe-lag-state")
    val pipe = new Pipeline(spark, "fb", dest, stateDir)
    pipe.run(RestPipeline.toSourceDef(insights, () => t))
    t.requests.clear()
    pipe.run(RestPipeline.toSourceDef(insights, () => t))
    assert(t.requests.peek().get("time_range[since]").contains("2024-01-04"), s"requests: ${t.requests}")
    val clicks = spark.read.parquet(s"$dest/insights").select("date_start", "clicks")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clicks == Map("2024-01-04" -> 5L, "2024-01-10" -> 1L, "2024-01-11" -> 7L, "2024-01-12" -> 8L),
      "the rewound window, its boundary day included, is re-emitted and merged")
    assert(StateStore(stateDir, "fb.facebook_ads").getString("facebook_ads.insights.cursor").contains("2024-01-12"))
  }
}

/** Delegates to `pages`, keeping every GET's query params in order. */
final class RecordingTransport(pages: StaticPagesTransport) extends HttpTransport {
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
  override def get(url: String, params: Map[String, String], headers: Map[String, String]): HttpResponse = {
    requests.add(params)
    pages.get(url, params, headers)
  }
}

package graft.connectors.rest

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.{Incremental, StateStore, TableHints}

import scala.collection.mutable

/** The declarative REST engine — re-expression of dlt-core's `rest_api`
  * (full config shape at sources/pipedrive/rest_v2/__init__.py:96-168:
  * client 138-145, cursor paginator 158-162, incremental binding 102-107,
  * parent-child interpolation 116-136). ~70% of the reference's connector
  * fleet (SURVEY §2.1 rows 8-35) is this engine plus per-source config and
  * a few scalar transforms.
  *
  * Execution model (SURVEY §3.1): pagination over an unknown-length cursor
  * chain is inherently sequential, so the page LOOP runs on the driver, but
  * page fetch is I/O-bound metadata work — the heavy lifting (JSON→rows,
  * normalization, writes) happens on executors via `spark.read.json` over
  * the fetched page bodies. Parent-child fan-out (`deals/{id}/participants`)
  * is executor-side: `mapPartitions` over parent keys with one transport
  * per partition — Spark's replacement for the reference thread pool
  * (`@dlt.defer`, sources/chess/__init__.py:54-60). At 100 TB the REST
  * surface is never the data plane; these APIs bound at page-size × pages
  * (SURVEY §6 knobs), while bulk data enters via parquet/JDBC scans.
  */
object RestEngine {

  /** Pagination protocols — the four-protocol model is lifted from the
    * cleanest reference enumeration (sources/zendesk/helpers/talk_api.py:14-18:
    * OFFSET/CURSOR/STREAM/START_TIME) plus next-URL (hubspot paging
    * helpers.py:129-200).
    */
  sealed trait Paginator extends Serializable
  object Paginator {
    /** `?offset=N&limit=P` until a short page. `totalPath` (a JSONPath into
      * the response body, e.g. `meta.total` — the item count) unlocks the
      * partition-parallel read: page offsets are then independent and
      * [[RestPagesV2]] plans one input partition per page instead of a
      * driver-side chain (the skip/limit split treatment the reference
      * gives Mongo, sources/mongodb/helpers.py:215-227).
      */
    final case class Offset(offsetParam: String = "offset", limitParam: String = "limit", pageSize: Int = 100,
        totalPath: Option[String] = None) extends Paginator
    /** `?page=N` 1-based until a short page; `totalPath` as in [[Offset]]. */
    final case class PageNumber(pageParam: String = "page", sizeParam: String = "per_page", pageSize: Int = 100,
        totalPath: Option[String] = None) extends Paginator
    /** Cursor read from the body (`next_cursor` JSONPath) echoed as a param. */
    final case class Cursor(cursorPath: String, cursorParam: String, pageSize: Int = 100,
        sizeParam: String = "limit") extends Paginator
    /** Full next-page URL in the body. */
    final case class NextUrl(nextUrlPath: String) extends Paginator
    /** Incremental-export/stream protocol: the response carries the next
      * window's start (`end_time`) plus an end-of-stream flag — zendesk's
      * STREAM/START_TIME protocols (sources/zendesk/helpers/talk_api.py:14-18,
      * 63-116; incremental export page 1000, settings.py:7).
      */
    final case class StartTime(nextStartPath: String, startParam: String,
        endOfStreamPath: String = "end_of_stream") extends Paginator
    /** RFC 5988 `Link: <url>; rel="next"` response-HEADER pagination —
      * GitHub's actual protocol (and half of real REST's), and dlt
      * rest_api's `header_link` paginator (the cursor sibling of the same
      * enum the config dialect names, sources/pipedrive/rest_v2/__init__.py:158-162).
      * Follows like [[NextUrl]] — the link carries its own query; a
      * relative link resolves against the current request URL.
      */
    final case class HeaderLink(linksNextKey: String = "next") extends Paginator
    /** One request, no paging. */
    case object Single extends Paginator
    /** Runtime paginator detection — dlt-core rest_api's DEFAULT when a
      * config omits `paginator` (every config in the reference spells its
      * paginator explicitly, e.g. sources/pipedrive/rest_v2/__init__.py:158-162,
      * but a user porting a config that omits the key gets detection
      * there, so graft matches). Resolved ONCE from the first response by
      * [[RestEngine.detectPaginator]], in documented precedence: a
      * next-link URL in the body (→ [[NextUrl]]), an RFC 5988 `Link`
      * rel="next" header (→ [[HeaderLink]]), a numeric total-count key
      * alongside a non-empty page (→ [[Offset]] strided by the observed
      * first-page size), else [[Single]]. Deterministic given the
      * response — the same API shape always resolves the same way.
      */
    case object Auto extends Paginator
  }

  /** Body paths probed by [[Paginator.Auto]] for a next-page link. A hit
    * must LOOK like a link (absolute URL or rooted path) — a bare cursor
    * token stored under `next` must not be fetched as a URL.
    */
  private[rest] val AutoNextPaths: Seq[String] = Seq(
    "next", "next_url", "next_page_url", "pagination.next", "paging.next", "links.next")

  /** Body paths probed by [[Paginator.Auto]] for a numeric total count. */
  private[rest] val AutoTotalPaths: Seq[String] = Seq(
    "total", "total_count", "count", "pagination.total", "meta.total")

  /** Resolve [[Paginator.Auto]] against the first response (shape only —
    * never consumes data). See the precedence on [[Paginator.Auto]].
    */
  private[rest] def detectPaginator(root: JsonNode, resp: HttpResponse,
      firstPageItems: Int): Paginator = {
    def linkish(v: String) =
      v.startsWith("http://") || v.startsWith("https://") || v.startsWith("/")
    val bodyNext = AutoNextPaths.iterator.flatMap { p =>
      Json.selectString(root, p).filter(v => v.nonEmpty && linkish(v))
        .map(_ => Paginator.NextUrl(p): Paginator)
    }.nextOption()
    def headerNext = resp.header("link").map(parseLinkHeader).flatMap(_.get("next"))
      .map(_ => Paginator.HeaderLink(): Paginator)
    def totalBased = AutoTotalPaths.iterator.flatMap { p =>
      Json.select(root, p).headOption.filter(n => n.isNumber && firstPageItems > 0)
        // stride = the server's OBSERVED page size: assuming a configured
        // default (100) against a server paging at 25 would skip 3 of
        // every 4 pages
        .map(_ => Paginator.Offset(pageSize = firstPageItems, totalPath = Some(p)): Paginator)
    }.nextOption()
    bodyNext.orElse(headerNext).orElse(totalBased).getOrElse(Paginator.Single)
  }

  /** Parse an RFC 5988 `Link` header into relation -> target URL. Handles
    * multiple comma-separated link-values, quoted or bare `rel` params,
    * and space-separated relation lists (`rel="next last"`); the first
    * link per relation wins. Param values containing a comma or '<' are
    * out of scope (pagination rels never carry them).
    */
  private[rest] def parseLinkHeader(h: String): Map[String, String] = {
    val LinkValue = """<([^>]*)>((?:\s*;[^,<]*)*)""".r
    val Rel = """(?i)rel\s*=\s*"?([^";,]+)"?""".r
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (m <- LinkValue.findAllMatchIn(h)) {
      val target = m.group(1)
      for {
        r <- Rel.findFirstMatchIn(Option(m.group(2)).getOrElse(""))
        rel <- r.group(1).trim.split("\\s+")
      } if (!out.contains(rel)) out(rel) = target
    }
    out.toMap
  }

  /** Incremental binding: cursor column in the items + request param
    * carrying the last committed value (sources/pipedrive/rest_v2/__init__.py:102-107).
    */
  final case class IncrementalBinding(
      cursorPath: String,
      startParam: String,
      initialValue: Option[String] = None,
      endParam: Option[String] = None,
      endValue: Option[String] = None,
      /** Endpoint pages newest-first: once a page's minimum cursor value
        * falls at/under the committed cursor, STOP issuing requests — the
        * reader-loop early termination a filter can't express
        * (sources/github/__init__.py:102-108,
        * sources/pipedrive/__init__.py:196-206; SURVEY §7.4.7).
        */
      newestFirst: Boolean = false,
      /** Attribution-window lag: rewind the committed cursor by N days on
        * each run so the trailing window is re-fetched (metrics there are
        * still settling); the merge pk dedups the overlap
        * (sources/facebook_ads/__init__.py:126,138-140).
        */
      lagDays: Int = 0,
  )

  /** Parent-child binding: `pathTemplate` with `{field}` placeholders
    * resolved per parent row (reference `{resources.parent.id}`
    * interpolation, sources/pipedrive/rest_v2/__init__.py:116-136).
    *
    * `includeFields` are ADDITIONAL parent fields carried into every child
    * row — the reference's `include_from_parent`
    * (sources/pipedrive/rest_v2/__init__.py:127-128, used at
    * sources/pipedrive/settings.py:100). Column naming follows the
    * reference's own composite-key spelling `_<parentName>_<field>`
    * (settings.py:96-99 keys deal_followers on `_deals_id`), so a dlt
    * config's primary_key referencing the carried column works unchanged.
    * Interpolation keys keep their separate `_parent_<key>` columns.
    */
  final case class ParentBinding(parentName: String, keyFields: Seq[String],
      includeFields: Seq[String] = Nil)

  /** dlt rest_api `response_actions` entry, the JSON-expressible subset:
    * a response matching ALL the present fields (status code equality,
    * body substring) with `action = "ignore"` is treated as clean
    * end-of-data — no error, no items — instead of a failure. The
    * reference fleet never uses these (verified by grep over
    * sources/), but dlt-core documents them and a ported config that
    * declares a 404-ignore (a deleted parent's children endpoint) must
    * keep that behavior.
    */
  final case class ResponseAction(
      statusCode: Option[Int] = None,
      contentSubstring: Option[String] = None,
      action: String = "ignore",
  ) {
    require(statusCode.nonEmpty || contentSubstring.nonEmpty,
      "response_action needs a status_code or a content substring to match on")
    require(action == "ignore",
      s"response_action '$action' is not supported: only 'ignore' is expressible " +
        "in a config document (dlt's other actions are Python callables)")
    def matches(r: HttpResponse): Boolean =
      statusCode.forall(_ == r.status) && contentSubstring.forall(r.body.contains)
  }

  /** dlt rest_api `processing_steps`, the JSON-expressible subset. dlt's
    * native steps are Python callables (`add_filter`/`add_map` lambdas),
    * which a config DOCUMENT cannot carry — same boundary as
    * [[ResponseAction]] — so graft implements the declaratively
    * expressible shapes and the loader rejects anything else loudly:
    *
    *  - `{"filter": {"field": p, <op>: v}}` keeps items whose field at
    *    JSONPath `p` satisfies the predicate; ops: `eq`, `ne`,
    *    `contains`, `gt`, `lt`, `ge`, `le` (numeric compare when both
    *    sides are numbers, else string compare), `not_null: true`. A
    *    missing or JSON-null field fails every predicate — a filter on
    *    an absent field drops the item rather than guessing.
    *  - `{"map": {"drop_fields": [f, ...]}}` removes the named
    *    top-level fields from each item (the declarative map shape;
    *    arbitrary rewrites stay DataFrame transforms downstream).
    *
    * Steps run in declared order, on extracted items only — pagination
    * decisions (short page, cursor advance, newest-first stop) always
    * see the SERVER's items, so a filter can never starve the page loop
    * into early termination or an infinite chain.
    */
  sealed trait ProcessingStep extends Serializable
  object ProcessingStep {
    final case class Filter(fieldPath: String, op: String, value: Option[String])
        extends ProcessingStep {
      require(FilterOps.contains(op), s"unknown filter op '$op'")
      require(op == "not_null" || value.nonEmpty, s"filter op '$op' needs a value")
    }
    final case class DropFields(fields: Seq[String]) extends ProcessingStep
    val FilterOps: Set[String] = Set("eq", "ne", "contains", "gt", "lt", "ge", "le", "not_null")

    private def cmp(node: JsonNode, v: String): Int =
      if (node.isNumber && v.toDoubleOption.isDefined)
        java.lang.Double.compare(node.asDouble(), v.toDouble)
      else node.asText().compareTo(v)

    private[rest] def keeps(f: Filter, item: JsonNode): Boolean =
      Json.select(item, f.fieldPath).headOption.filter(!_.isNull) match {
        case None => false // missing/null fails every predicate
        case Some(node) => f.op match {
          case "not_null" => true
          case "eq"       => cmp(node, f.value.get) == 0
          case "ne"       => cmp(node, f.value.get) != 0
          case "contains" => node.asText().contains(f.value.get)
          case "gt"       => cmp(node, f.value.get) > 0
          case "lt"       => cmp(node, f.value.get) < 0
          case "ge"       => cmp(node, f.value.get) >= 0
          case "le"       => cmp(node, f.value.get) <= 0
        }
      }

    /** Run the steps over extracted items, in declared order. */
    def run(steps: Seq[ProcessingStep], items: Seq[JsonNode]): Seq[JsonNode] =
      steps.foldLeft(items) {
        case (it, f: Filter) => it.filter(keeps(f, _))
        case (it, DropFields(fields)) => it.map {
          case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
            fields.foreach(obj.remove); obj
          case other => other
        }
      }
  }

  final case class EndpointConfig(
      path: String, // may contain {field} placeholders when parent-bound
      params: Map[String, String] = Map.empty,
      dataSelector: String = "$",
      paginator: Paginator = Paginator.Single,
      incremental: Option[IncrementalBinding] = None,
      parent: Option[ParentBinding] = None,
      maxPages: Int = 10000,
      responseActions: Seq[ResponseAction] = Nil,
      /** "GET" (default) or "POST" — dlt rest_api's POST-shaped
        * endpoints (dialect anchor: the `method`/`json` endpoint keys,
        * sources/pipedrive/rest_v2/__init__.py:138-168 documents the
        * endpoint dict this mirrors). Query `params` stay query params
        * either way (requests-library semantics dlt inherits); the JSON
        * body rides [[jsonBody]].
        */
      method: String = "GET",
      /** Raw JSON object text of the config's `json` key — the POST
        * request body template. A [[Paginator.Cursor]] on a POST
        * endpoint advances IN THE BODY (dlt's cursor paginator puts the
        * cursor in the JSON body for POST requests), merged over this
        * template per page; other paginators keep advancing in query
        * params exactly like dlt's offset/page_number paginators.
        */
      jsonBody: Option[String] = None,
      processingSteps: Seq[ProcessingStep] = Nil,
  ) {
    require(method == "GET" || method == "POST",
      s"endpoint method '$method' (expected GET or POST)")
    require(jsonBody.isEmpty || method == "POST",
      "a json request body requires method POST")
  }

  final case class ClientConfig(
      baseUrl: String,
      auth: Option[Auth] = None,
      headers: Map[String, String] = Map.empty,
  )

  final case class RestResource(
      name: String,
      endpoint: EndpointConfig,
      hints: TableHints,
  )

  final case class RestSource(
      name: String,
      client: ClientConfig,
      resources: Seq[RestResource],
  )

  // ------------------------------------------------------------ page loop

  /** Fetch all pages of one endpoint (driver-side loop), returning raw item
    * JSON strings. Stops on: empty page, short page (offset/page-number),
    * missing cursor/next-url, maxPages.
    */
  def fetchPages(
      client: ClientConfig,
      endpoint: EndpointConfig,
      transport: HttpTransport,
      extraParams: Map[String, String] = Map.empty,
      pathVars: Map[String, String] = Map.empty,
      /** Early-termination hook: called with each page's items; true stops
        * the loop AFTER keeping that page (newest-first cursor cutoffs).
        */
      pageStop: Seq[com.fasterxml.jackson.databind.JsonNode] => Boolean = _ => false,
  ): Seq[String] = {
    val url0 = client.baseUrl.stripSuffix("/") + "/" + interpolate(endpoint.path, pathVars).stripPrefix("/")
    // auth applies PER REQUEST, not once per endpoint: a token auth
    // (OAuth2) can expire mid-pagination and must re-mint, and a NextUrl
    // hop must not drop a QueryParam credential with the rest of the
    // page params. Static auths are pure merges, so per-request is free.
    // Param VALUES interpolate parent vars too — the config dialect binds
    // parents in query params as well as paths (`?deal_id={id}`).
    val baseParams = (endpoint.params ++ extraParams)
      .map { case (k, v) => k -> interpolate(v, pathVars) }
    // A NextUrl hop usually echoes the full original query — including a
    // QueryParam credential — in the link itself; re-applying the
    // credential would send it twice (Transport appends with '&'), which
    // some APIs reject. Header-based auths are unaffected.
    def urlCarriesParam(u: String, name: String): Boolean = {
      val q = u.indexOf('?')
      q >= 0 && u.substring(q + 1).split('&').exists(_.takeWhile(_ != '=') == name)
    }
    def authed(u: String, p: Map[String, String]): (Map[String, String], Map[String, String]) =
      client.auth match {
        case Some(qp: Auth.QueryParam) if urlCarriesParam(u, qp.name) => (p, client.headers)
        case Some(a)                                                  => a.applyTo(p, client.headers)
        case None                                                     => (p, client.headers)
      }

    val out = mutable.ArrayBuffer.empty[String]
    var page = 0
    var done = false
    var url = url0
    val isPost = endpoint.method == "POST"
    // POST body: the config's `json` template, with a cursor paginator's
    // advancing value merged in per page (dlt's cursor-in-body shape for
    // POST endpoints); query params stay query params either way
    var bodyCursor: Option[(String, String)] = None
    def currentBody(): String = {
      val base = endpoint.jsonBody.map(Json.parse) match {
        case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
        case Some(other) => throw new IllegalArgumentException(
          s"endpoint json body must be a JSON object, got: ${other.toString.take(100)}")
        case None => Json.mapper.createObjectNode()
      }
      bodyCursor.foreach { case (k, v) => base.put(k, v) }
      base.toString
    }
    def issue(rp: Map[String, String], rh: Map[String, String]): HttpResponse =
      if (isPost) transport.post(appendQuery(url, rp), currentBody(), rh)
      else transport.get(url, rp, rh)
    // effective paginator: Auto resolves against the first response
    var pag: Paginator = endpoint.paginator
    // Seed the limit/size (and offset) params on the FIRST request too —
    // if the server's default page size differs from the configured one,
    // the short-page check would otherwise terminate after page 1 (silent
    // data loss) or the offset stride would mismatch (dupes/gaps). The
    // reference does the same (zendesk talk_api.py:83-89). A POST
    // endpoint's cursor paginator is body-driven: the `json` template
    // carries the page size, so nothing seeds (dlt's cursor paginator
    // touches only the cursor, and only from page 2).
    var pageParams: Map[String, String] = endpoint.paginator match {
      case p: Paginator.Offset =>
        baseParams + (p.offsetParam -> "0") + (p.limitParam -> p.pageSize.toString)
      case p: Paginator.PageNumber          => baseParams + (p.sizeParam -> p.pageSize.toString)
      case p: Paginator.Cursor if !isPost   => baseParams + (p.sizeParam -> p.pageSize.toString)
      case _                                => baseParams
    }

    while (!done && page < endpoint.maxPages) {
      val first = { val (rp, rh) = authed(url, pageParams); issue(rp, rh) }
      val resp = client.auth match {
        case Some(o: Auth.OAuth2) if first.status == 401 =>
          // expired-early or revoked access token: force a refresh and
          // retry ONCE with a freshly minted token
          o.invalidate()
          val (rp, rh) = authed(url, pageParams)
          issue(rp, rh)
        case _ => first
      }
      // response_actions (dlt rest_api): a matching `ignore` rule treats
      // this response as clean end-of-data instead of an error — the
      // JSON-expressible subset of dlt's hooks (callables cannot ride a
      // config document). Checked BEFORE the status guard so a declared
      // 404 (a deleted parent's children, a feature-gated endpoint) ends
      // the chain quietly; an unmatched error still fails loudly.
      if (endpoint.responseActions.exists(_.matches(resp))) return out.toSeq
      if (resp.status < 200 || resp.status >= 300)
        throw new RuntimeException(
          s"${endpoint.method} $url -> HTTP ${resp.status}: ${resp.body.take(500)}")
      val root = Json.parse(resp.body)
      // pagination below always sees the SERVER's items; processing
      // steps shape only the output (a filter must never look like a
      // short page or an empty chain to the paginator)
      val items = Json.items(root, endpoint.dataSelector)
      out ++= ProcessingStep.run(endpoint.processingSteps, items).map(_.toString)
      page += 1
      if (items.nonEmpty && pageStop(items)) done = true

      // Auto resolves to a concrete protocol on the FIRST response and
      // stays resolved — re-detecting per page could flip protocol
      // mid-chain on a sparse page (e.g. a missing Link header) and
      // silently truncate
      if (pag == Paginator.Auto) pag = detectPaginator(root, resp, items.size)

      pag match {
        case _ if done        => ()
        case Paginator.Single => done = true
        case p: Paginator.Offset =>
          // When the response names a total (configured, or the very
          // evidence Auto detection selected offset on), it BOUNDS the
          // chain: a server that ignores offset/limit params returns the
          // identical full page forever (never short), and without the
          // bound the loop would append duplicates until maxPages —
          // silently corrupted output instead of a clean stop.
          val total = p.totalPath.flatMap(tp =>
            Json.select(root, tp).headOption.filter(_.isNumber).map(_.asLong()))
          if (items.size < p.pageSize) done = true
          else if (total.exists(t => page.toLong * p.pageSize >= t)) done = true
          else pageParams = pageParams ++
            Map(p.offsetParam -> (page * p.pageSize).toString, p.limitParam -> p.pageSize.toString)
        case p: Paginator.PageNumber =>
          val total = p.totalPath.flatMap(tp =>
            Json.select(root, tp).headOption.filter(_.isNumber).map(_.asLong()))
          if (items.size < p.pageSize) done = true
          else if (total.exists(t => page.toLong * p.pageSize >= t)) done = true
          else pageParams = pageParams ++
            Map(p.pageParam -> (page + 1).toString, p.sizeParam -> p.pageSize.toString)
        case p: Paginator.Cursor =>
          Json.selectString(root, p.cursorPath) match {
            case Some(cur) if items.nonEmpty =>
              // POST endpoints advance the cursor IN THE BODY (dlt's
              // cursor-in-body shape); GET endpoints echo it as a param
              if (isPost) bodyCursor = Some(p.cursorParam -> cur)
              else pageParams = pageParams ++
                Map(p.cursorParam -> cur, p.sizeParam -> p.pageSize.toString)
            case _ => done = true
          }
        case p: Paginator.NextUrl =>
          Json.selectString(root, p.nextUrlPath) match {
            case Some(next) if next.nonEmpty =>
              // relative body links ('/v2/items?page=2' — a common API
              // shape) resolve against the current request URL like a
              // HeaderLink hop; absolute ones pass through. Unresolvable
              // targets name the link and the base instead of a bare
              // URISyntaxException with no protocol context.
              url = try new java.net.URI(url).resolve(next).toString
                catch {
                  case e: Exception => throw new RuntimeException(
                    s"json_link: cannot resolve next-page link '$next' (at body path " +
                      s"'${p.nextUrlPath}') against '$url' (is the target URL-encoded?): ${e.getMessage}", e)
                }
              pageParams = Map.empty // next-url carries its own query
            case _ => done = true
          }
        case p: Paginator.StartTime =>
          val eos = Json.select(root, p.endOfStreamPath).headOption.exists(_.asBoolean(false))
          Json.selectString(root, p.nextStartPath) match {
            case Some(next) if !eos => pageParams = pageParams + (p.startParam -> next)
            case _                  => done = true
          }
        case p: Paginator.HeaderLink =>
          resp.header("link").map(parseLinkHeader).flatMap(_.get(p.linksNextKey)) match {
            case Some(next) if next.nonEmpty =>
              // relative targets resolve against the current request URL
              // (RFC 3986); absolute ones pass through, like a NextUrl hop.
              // Servers legally emit targets with unencoded-but-common
              // characters (spaces, '|') that URI rejects — name the
              // offending Link value instead of surfacing a bare
              // URISyntaxException with no protocol context.
              url = try new java.net.URI(url).resolve(next).toString
                catch {
                  case e: Exception => throw new RuntimeException(
                    s"header_link: cannot resolve Link rel=\"${p.linksNextKey}\" target '$next' " +
                      s"against '$url' (is the target URL-encoded?): ${e.getMessage}", e)
                }
              pageParams = Map.empty // the link carries its own query
            case _ => done = true
          }
      }
      // Empty page = end-of-data for body-driven protocols. For
      // header_link the absence of rel=next is the SOLE terminator (RFC
      // 5988): APIs legally emit empty middle pages that still carry a
      // next link (sparse shards), and stopping on them would silently
      // truncate. maxPages bounds a pathological always-next server.
      if (items.isEmpty && !pag.isInstanceOf[Paginator.HeaderLink]) done = true
    }
    out.toSeq
  }

  private def interpolate(path: String, vars: Map[String, String]): String =
    vars.foldLeft(path) { case (p, (k, v)) => p.replace(s"{$k}", v) }

  /** Query params appended to a URL for POST requests (GET transports
    * encode internally; POST bodies ride separately from the query, so
    * the engine pre-builds the full URL the same way the stock
    * transport's GET does).
    */
  private def appendQuery(url: String, params: Map[String, String]): String =
    if (params.isEmpty) url
    else {
      val q = params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      if (url.contains("?")) s"$url&$q" else s"$url?$q"
    }

  // ------------------------------------------------------------- readers

  /** Read one root (non-parent-bound) resource into a DataFrame. Applies
    * the incremental binding from state: last committed value is sent as
    * the start param AND re-filtered engine-side (APIs are start-inclusive;
    * the filter enforces the strict bound).
    */
  def readResource(
      spark: SparkSession,
      source: RestSource,
      resource: RestResource,
      transport: HttpTransport,
      state: Option[StateStore] = None,
  ): DataFrame = {
    val inc = new IncrementalRead(source, resource, state)

    // newest-first feeds stop the page loop once a page dips at/under the
    // committed cursor (start_out_of_range)
    val pageStop: Seq[com.fasterxml.jackson.databind.JsonNode] => Boolean =
      resource.endpoint.incremental match {
        case Some(b) if b.newestFirst && inc.lastValue.isDefined =>
          items => {
            val vals = items.flatMap(n => Json.selectString(n, b.cursorPath))
            // typed comparison: "9" vs "100" must compare numerically, or
            // the loop stops early and silently skips rows
            vals.exists(v => Incremental.cursorLeq(v, inc.lastValue.get))
          }
        case _ => _ => false
      }

    val items = fetchPages(source.client, resource.endpoint, transport, inc.params, pageStop = pageStop)
    inc.refilter(jsonToDf(spark, items))
  }

  /** A root resource's incremental binding, shared by [[readResource]]
    * and [[readResourceParallel]]: the committed cursor (rewound by the
    * lag window) sent as the start param, and the engine-side re-filter
    * of what came back (APIs are start-inclusive; the filter enforces
    * the strict bound).
    */
  private final class IncrementalRead(source: RestSource, resource: RestResource,
      state: Option[StateStore]) {
    private val stateKey = cursorKey(source, resource)
    val lastValue: Option[String] = resource.endpoint.incremental.flatMap(b =>
      state.flatMap(_.getString(stateKey)).orElse(b.initialValue)
        .map(v => Incremental.rewindDays(v, b.lagDays)))
    val params: Map[String, String] = resource.endpoint.incremental.toSeq.flatMap { b =>
      lastValue.map(b.startParam -> _).toSeq ++
        (for (ep <- b.endParam; ev <- b.endValue) yield ep -> ev).toSeq
    }.toMap

    def refilter(df: DataFrame): DataFrame = resource.endpoint.incremental match {
      // attribution-window runs keep everything the API returned: the whole
      // trailing window is re-emitted INCLUSIVE of its boundary day and the
      // merge pk dedups the overlap (the reference does not client-filter
      // insights either)
      case Some(b) if b.lagDays > 0 => df
      case Some(b) if df.columns.contains(leafField(b.cursorPath)) =>
        val inc = Incremental(Seq(leafField(b.cursorPath)), b.initialValue, b.endValue)
        inc.filterWith(df, state.flatMap(_.getString(stateKey)))
      case _ => df
    }
  }

  private def cursorKey(source: RestSource, resource: RestResource): String =
    s"${source.name}.${resource.name}.cursor"

  /** Put `read`'s highest cursor value into `state` if it passes the
    * committed one; the caller commits `state` once its writes succeed. */
  def advanceCursor(source: RestSource, resource: RestResource, read: DataFrame, state: StateStore): Unit =
    resource.endpoint.incremental.foreach { b =>
      val field = leafField(b.cursorPath)
      if (read.columns.contains(field))
        Incremental(Seq(field)).nextCursor(read)
          .filterNot(v => state.getString(cursorKey(source, resource)).exists(Incremental.cursorLeq(v, _)))
          .foreach(state.put(cursorKey(source, resource), _))
    }

  /** Partition-parallel root-resource read: when the paginator is an
    * Offset/PageNumber with a known total ([[Paginator.Offset.totalPath]]),
    * pages are independent and [[RestPagesV2]] plans one input partition
    * per page — N pages ride N executor slots instead of one driver loop
    * (the reference's Mongo skip/limit splits, sources/mongodb/helpers.py:215-227,
    * and `dlt.defer` thread pool, sources/chess/__init__.py:54-60).
    * Chained paginators, newest-first cursor stops, and parent-bound
    * endpoints fall back to [[readResource]]'s serial loop — their next
    * request depends on the previous response, so there is nothing to
    * parallelize. Incremental binding and engine-side re-filtering are
    * identical to [[readResource]].
    */
  def readResourceParallel(
      spark: SparkSession,
      source: RestSource,
      resource: RestResource,
      transportFactory: () => HttpTransport,
      state: Option[StateStore] = None,
  ): DataFrame = {
    val splittable = (resource.endpoint.paginator match {
      case o: Paginator.Offset     => o.totalPath.isDefined
      case p: Paginator.PageNumber => p.totalPath.isDefined
      case _                       => false
    }) && !resource.endpoint.incremental.exists(_.newestFirst) &&
      resource.endpoint.parent.isEmpty && resource.endpoint.method == "GET"
    if (!splittable) return readResource(spark, source, resource, transportFactory(), state)

    val inc = new IncrementalRead(source, resource, state)
    val items = RestPagesV2.read(spark,
      RestPagesV2.PlannedPages(source.client, resource.endpoint, inc.params, transportFactory))
    import spark.implicits._
    // Materialize the pages ONCE (eager local checkpoint) before JSON schema
    // inference: spark.read.json runs an eager inference job over its input,
    // and every downstream action re-executes the source — without the
    // checkpoint each page would be requested once for inference and again
    // per action (2× API quota, and rows could diverge from the inferred
    // schema if the endpoint changed between fetches). The checkpoint pins
    // the fetched items executor-side, so inference and all downstream
    // actions read the same single fetch.
    val fetched = items.select("item").as[String].localCheckpoint(true)
    inc.refilter(spark.read.json(fetched))
  }

  /** Executor-side parent-child fan-out: one transport per partition, one
    * child page-loop per distinct parent key tuple. The parent DataFrame
    * never leaves the cluster; only its key columns are scanned.
    */
  def readChildResource(
      spark: SparkSession,
      source: RestSource,
      resource: RestResource,
      parentDf: DataFrame,
      transportFactory: () => HttpTransport,
  ): DataFrame = {
    val binding = resource.parentBindingOrFail
    val keyFields = binding.keyFields
    val includeFields = binding.includeFields
    val parentName = binding.parentName
    val client = source.client
    val endpoint = resource.endpoint
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min}

    // one fetch per distinct KEY tuple stays the law even with carried
    // include fields. An include that is ALSO an interpolation key (the
    // pipedrive shape: include_from_parent ["id"] on deals/{id}/followers)
    // is already in the tuple; genuinely extra fields ride along via a
    // deterministic min per key (parent keys are primary keys in practice,
    // so min IS the value; if a key somehow repeats with divergent
    // includes, the choice is stable rather than partition-order-dependent)
    val extraFields = includeFields.filterNot(keyFields.contains)
    val keys: Dataset[Seq[String]] =
      if (extraFields.isEmpty)
        parentDf
          .selectExpr(keyFields.map(f => s"cast(`$f` as string)"): _*)
          .distinct()
          .map(r => (0 until r.length).map(i => r.getString(i)))
      else
        parentDf
          .selectExpr((keyFields ++ extraFields).map(f => s"cast(`$f` as string) as `$f`"): _*)
          .groupBy(keyFields.map(col): _*)
          .agg(min(col(extraFields.head)).as(extraFields.head),
            extraFields.tail.map(f => min(col(f)).as(f)): _*)
          .select((keyFields ++ extraFields).map(col): _*)
          .map(r => (0 until r.length).map(i => r.getString(i)))

    val items: Dataset[String] = keys.mapPartitions { it =>
      val transport = transportFactory()
      it.flatMap { vals =>
        val (keyVals, extraVals) = vals.splitAt(keyFields.length)
        val vars = keyFields.zip(keyVals).toMap
        val byField = vars ++ extraFields.zip(extraVals).toMap
        val includes = includeFields.map(f => f -> byField(f)).toMap
        fetchPages(client, endpoint, transport, pathVars = vars)
          // carry the parent key(s) + include_from_parent fields into each
          // child row for joins / composite keys
          .map(body => attachParentFields(body, vars, includes, parentName))
      }
    }
    // schema inference + row conversion stay distributed — the fetched
    // bodies never funnel through the driver. Eager local checkpoint for the
    // same reason as readResourceParallel: json() schema inference is an
    // eager job and each downstream action re-executes the source, so an
    // unmaterialized fetch would hit every child endpoint twice or more.
    spark.read.json(items.localCheckpoint(true))
  }

  private def attachParentFields(body: String, vars: Map[String, String],
      includes: Map[String, String], parentName: String): String = {
    val node = Json.parse(body)
    node match {
      case obj: com.fasterxml.jackson.databind.node.ObjectNode =>
        vars.foreach { case (k, v) => obj.put(s"_parent_$k", v) }
        // reference naming: settings.py:96-99 keys on `_deals_id`
        includes.foreach { case (k, v) => obj.put(s"_${parentName}_$k", v) }
        obj.toString
      case other => other.toString
    }
  }

  /** Page bodies → DataFrame with inferred schema (the normalizer applies
    * hints downstream).
    */
  def jsonToDf(spark: SparkSession, items: Seq[String]): DataFrame = {
    import spark.implicits._
    if (items.isEmpty) spark.emptyDataFrame
    else spark.read.json(spark.createDataset(items))
  }

  private def leafField(path: String): String =
    path.stripPrefix("$").stripPrefix(".").split('.').last

  implicit final class ResourceOps(private val r: RestResource) extends AnyVal {
    def parentBindingOrFail: ParentBinding =
      r.endpoint.parent.getOrElse(
        throw new IllegalArgumentException(s"resource ${r.name} has no parent binding"))
  }
}

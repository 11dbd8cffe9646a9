package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan audits: the 100 TB design claims specific plan shapes
  * (broadcast dims, pushed filters, pruned scans, bounded shuffles). These
  * assertions run the REAL driver queries against the sf0.001 testdata and
  * fail if a code change silently degrades the plan — e.g. a broadcast
  * flipping to a sort-merge join or a filter detaching from the scan.
  */
class PlanAuditSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private def ran(q: String): DataFrame = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect() // force AQE to finalize the plan before inspecting it
    df
  }
  private def finalPlan(df: DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
    // AQE prints the final plan followed by the initial one — audit the final
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  /** Every executed plan fired while building AND collecting the query —
    * required for operators whose interesting plan runs during an EAGER
    * localCheckpoint inside the operator (e.g. Lexical.topKDocs releases
    * its corpus-sized postings cache by materializing the k x queries
    * result before returning, so the returned frame's own plan is just a
    * Scan ExistingRDD). The listener bus is async: poll until the
    * captured set is quiescent.
    */
  private def allPlans(q: String): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val deadline = System.currentTimeMillis() + 30000
      var last = -1
      while (plans.size() != last && System.currentTimeMillis() < deadline) {
        last = plans.size()
        Thread.sleep(300)
      }
      assert(!plans.isEmpty, s"$q: listener captured no executed plans")
      import scala.jdk.CollectionConverters._
      plans.asScala.mkString("\n==== next execution ====\n")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_url_dedup appends group stats via ONE unordered window — no join-back") {
    // the agg+join-back alternative evaluates the (non-codegen HOF)
    // canonical expression on three operator sides and measured 23x
    // slower; this pins the one-window shape so it can't silently revert
    val plan = finalPlan(ran("q_url_dedup"))
    assert(!plan.contains("Join"), s"url dedup must not join back:\n$plan")
    assert(plan.contains("Window"), s"expected a window operator:\n$plan")
  }

  test("q_url_frontier: membership is a distributed anti-join, never a collected set or a cartesian") {
    // the frontier's seen-set is billions of keys at corpus scale — the
    // unseen computation must stay a LeftAnti join against the parquet
    // generations (broadcast or shuffled, either is fine; a driver-side
    // collect or a nested-loop product is not)
    val plans = allPlans("q_url_frontier")
    assert(plans.contains("LeftAnti"), s"expected a left_anti membership join:\n${plans.take(3000)}")
    assert(!plans.contains("CartesianProduct"), "frontier must never cross-join the seen-set")
  }

  test("capped media clusters: overCap stays a BROADCAST anti-join; pairs stay equi-keyed on (band, key, bkt)") {
    // the cap exists to close the O(m²) degenerate-bucket risk — that
    // holds only while (a) the tiny overCap frame is BROADCAST to both
    // the left_anti gate and the star side (a shuffled anti-join would
    // exchange the full band rows twice), and (b) pair generation remains
    // an equi-join on the FULL (band, key, bkt) triple (a widened or
    // dropped key silently re-opens all-pairs work). Pin both shapes for
    // the two capped cluster recipes whose bucket geometry differs
    // (whole-blob audio vs frame-aligned video).
    for (q <- Seq("q_audio_clusters_capped", "q_video_clusters_capped")) {
      val plans = allPlans(q)
      assert("BroadcastHashJoin [^\n]*LeftAnti".r.findFirstIn(plans).isDefined,
        s"$q: the overCap gate must be a broadcast left_anti:\n${plans.take(3000)}")
      assert(!plans.contains("CartesianProduct"),
        s"$q: capped pair generation must never cross-join")
      assert(!plans.contains("BroadcastNestedLoopJoin"),
        s"$q: capped pair generation must never nested-loop")
      val pairJoin = plans.linesIterator.exists(l =>
        l.contains("Join") && l.contains("__band") && l.contains("__key") &&
          l.contains("__bkt") && l.contains("<"))
      assert(pairJoin,
        s"$q: expected an equi-join keyed on (__band, __key, __bkt) with the id `<` condition:\n${plans.take(3000)}")
    }
  }

  test("star join broadcasts every dimension (no sort-merge join)") {
    val plan = finalPlan(ran("q_multi_join_agg"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), "dims must broadcast, not shuffle the fact table")
  }

  test("scan-agg pushes its filter into the parquet scan and prunes columns") {
    val plan = finalPlan(ran("q_pushdown_scan_agg"))
    assert(plan.contains("PushedFilters: [IsNotNull"), plan.take(2000))
    // the scan's projected column list: the full lineitem table is 16
    // columns; the query needs a handful
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(scanCols.nonEmpty && scanCols.split(",").length < 8,
      s"scan must not read all columns: $scanCols")
  }

  test("decontamination broadcasts the eval n-gram side") {
    val plan = finalPlan(ran("q_decontaminate"))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan.take(2000))
  }

  test("brute-force ANN broadcasts queries; the corpus is never exchanged") {
    val plan = finalPlan(ran("q_ann_cosine"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("every ANN top-k reduction is map-side bounded — no rank window over raw candidates") {
    // the naive shape — row_number over Window.partitionBy(q_id) directly on
    // the scored candidates — funnels every candidate of a query into ONE
    // task (brute force: the whole corpus per query). The fix is the
    // BoundedTopK TypedImperativeAggregate: its PARTIAL buffers are
    // k-bounded, so map output is k rows per query per task and the one
    // exchange carries O(k × maps × queries), never the scored set. Assert
    // the partial aggregate is present in every ANN plan and that no
    // rank window computes over the raw candidate join output (the only
    // windows allowed are over posexploded aggregate output / broadcast
    // shortlists, both bounded).
    for (q <- Seq("q_ann_cosine", "q_ann_lsh", "q_ann_ivf", "q_ann_ivfpq", "q_ann_project")) {
      val plan = finalPlan(ran(q))
      assert(plan.contains("partial_bounded_top_k"),
        s"$q: top-k must partial-aggregate through the k-bounded native buffer:\n${plan.take(2000)}")
      assert(!plan.contains("partial_collect_list"),
        s"$q: collect_list partials ship every candidate through the shuffle:\n${plan.take(2000)}")
    }
  }

  test("embed→IVF composes the seam with the scale-path index: cell equi-join, k-bounded reduction") {
    // the 100 TB shape of parse→embed→index→query: the probe must be an
    // equi join on the IVF cell (never the all-pairs shape the brute-force
    // baseline is allowed) and the top-k must partial-aggregate through
    // the k-bounded buffer so the one exchange carries O(k) per query/task
    val plan = finalPlan(ran("q_embed_ivf"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"embed→IVF must join on cell, not all-pairs:\n${plan.take(2000)}")
    assert(plan.contains("partial_bounded_top_k"), plan.take(2000))
  }

  test("merge upsert's anti-join broadcasts the update keys at runtime (AQE)") {
    // sf0.001 has no events past the batch split — AQE then eliminates the
    // join outright (good, but not the shape under test); sf0.01 has both
    val df = SparkEntry.queries("q_merge_upsert")(spark, "/root/testdata/sf0.01")
    df.collect()
    val plan = finalPlan(df)
    assert(plan.contains("LeftAnti"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"),
      "AQE must convert the survivor anti-join to broadcast for a small batch:\n" + plan.take(2000))
  }

  test("near-dup demo queries join on bucket keys, never an all-pairs nested loop") {
    // q_dedup_jaccard routes through LSH band buckets, q_dedup_cosine
    // through sign-LSH buckets: both must plan as equi joins — a
    // BroadcastNestedLoopJoin here is the O(n²) scale-killer shape
    for (q <- Seq("q_dedup_jaccard", "q_dedup_cosine", "q_dedup_pipeline", "q_image_dedup",
        "q_audio_dedup", "q_video_dedup")) {
      val plan = finalPlan(ran(q))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"$q must not plan an all-pairs join:\n${plan.take(2000)}")
    }
  }

  test("semantic dedup pairs on the cell key; cluster sampling reduces through the bounded buffer") {
    val sd = finalPlan(ran("q_semantic_dedup"))
    assert(!sd.contains("BroadcastNestedLoopJoin") && !sd.contains("CartesianProduct"),
      s"SemDeDup pair space must be a cell equi-join, not all-pairs:\n${sd.take(2000)}")
    val cs = finalPlan(ran("q_cluster_sample"))
    assert(cs.contains("partial_bounded_top_k") && !cs.contains("partial_collect_list"),
      s"per-cluster quotas must partial-aggregate k-bounded:\n${cs.take(2000)}")
  }

  test("rerank's final reduction is k-bounded; bloom probe broadcasts only the one-row bitmap") {
    val rr = finalPlan(ran("q_rerank"))
    assert(rr.contains("partial_bounded_top_k"), rr.take(2000))
    val bl = finalPlan(ran("q_decontaminate_bloom"))
    // exactly one nested-loop is ALLOWED here: the single-row bitmap
    // cross join (inner side is one array row — O(1) per probe task);
    // anything more means a gram-level all-pairs crept in
    val bnlj = bl.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1 && !bl.contains("CartesianProduct"),
      s"bloom probe must only cross-join the one-row bitmap (found $bnlj BNLJ):\n${bl.take(2000)}")
  }

  test("sequence packing is one window over one shuffle") {
    val plan = finalPlan(ran("q_pack_sequences"))
    // exchanges: one for the window partition key, one for the final
    // orderBy the driver compare requires — nothing else
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"$exchanges exchanges:\n${plan.take(2000)}")
  }

  test("incremental dedup probes the index with broadcast batch bands, never an all-pairs join") {
    // the index (corpus-sized at scale) must stay the streamed side of
    // every probe join: batch bands, bucket stats, and word sets all
    // broadcast, and nothing plans a nested-loop pair join
    val plan = finalPlan(ran("q_dedup_incremental"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"index probe must be an equi join:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "batch side must broadcast into the index pass, not shuffle it:\n" + plan.take(2000))
  }

  test("line dedup is groupBy+join on the line key — no window over the exploded corpus") {
    val plan = finalPlan(ran("q_line_dedup"))
    // a Window over the exploded lines would sort every line of the
    // corpus inside one partition per distinct line — the first-occurrence
    // rule must come from a partial aggregate instead
    assert(!plan.contains("Window"), s"no window over exploded lines:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("token-budget selection windows only within range buckets (plus the tiny offset window)") {
    val plan = finalPlan(ran("q_token_budget"))
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // the per-row cumsum window must be partitioned by the range bucket;
    // the only unpartitioned window is the per-bucket offset cumsum over
    // ≤ `buckets` rows
    assert(winLines.exists(_.contains("__b")), plan.take(3000))
  }

  test("substring removal is linear: gram groupBy + join-back, never a pairwise join") {
    val plan = finalPlan(ran("q_substring_dedup"))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"span removal must never pair documents:\n${plan.take(2000)}")
    // the two-corpus variant: eval grams broadcast into a semi-join
    val ds = finalPlan(ran("q_decontaminate_spans"))
    assert(ds.contains("BroadcastHashJoin") && ds.contains("LeftSemi") &&
      !ds.contains("CartesianProduct"),
      s"eval gram set must broadcast semi-join:\n${ds.take(2000)}")
  }

  test("HTML extraction is shuffle-free except the contract's final sort") {
    val plan = finalPlan(ran("q_html_extract"))
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1, s"extraction must stay narrow (scan-stage work):\n$exchanges exchanges\n${plan.take(2000)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SerializeFromObject"),
      "extraction must be pure codegen column work, no UDF lane")
  }

  test("lexical top-k reduces through the bounded buffer with a broadcast query side") {
    // topKDocs eagerly checkpoints its small result to release the
    // postings cache, so the interesting plan runs DURING the operator —
    // audit every execution, not just the returned frame's
    val plan = allPlans("q_lexical_topk")
    assert(plan.contains("partial_bounded_top_k") && !plan.contains("partial_collect_list"),
      s"per-query reduction must be k-bounded map-side:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the small query-term side must broadcast:\n${plan.take(2000)}")
    val fused = allPlans("q_hybrid_rank")
    assert(fused.contains("partial_bounded_top_k") && !fused.contains("CartesianProduct"),
      s"fusion must stay k-bounded:\n${fused.take(2000)}")
    // the scale path: champion candidate generation must itself reduce
    // through the bounded buffer (per-term truncation) and never go
    // all-pairs
    val ch = allPlans("q_lexical_champion")
    assert(ch.contains("partial_bounded_top_k") && !ch.contains("CartesianProduct"),
      s"champion lists must be k-bounded per term:\n${ch.take(2000)}")
  }

  test("DSIR broadcasts both fixed-size cost tables and selects via TakeOrdered, not a sort") {
    val plan = finalPlan(ran("q_dsir_sample"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k selection must be TakeOrdered (bounded heaps), not a global sort+limit:\n${plan.take(2000)}")
  }

  test("perplexity scoring joins the LM with the count-gated broadcast; never all-pairs") {
    val plan = finalPlan(ran("q_perplexity_lm"))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
  }

  test("HLL registers partial-aggregate map-side (bounded state), no cartesian anywhere") {
    val plan = finalPlan(ran("q_hll_vocab"))
    assert(plan.contains("partial_max") && !plan.contains("CartesianProduct"),
      s"register max must map-side combine:\n${plan.take(2000)}")
  }

  test("exact quantiles window only within range buckets over the value HISTOGRAM") {
    val plan = finalPlan(ran("q_quantiles"))
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.exists(_.contains("__b")),
      s"the cumulative-count window must be bucket-partitioned:\n${plan.take(3000)}")
    // (the histogram's map-side combine lives behind the localCheckpoint
    // boundary and is not visible in this plan — its shape is pinned by
    // the groupBy construction itself)
  }

  test("the global-cumsum offset window computes over the bucket aggregate, not corpus rows") {
    // the two-level cumsum's one unpartitioned window is bounded by
    // CONSTRUCTION (<= `buckets` rows); pin that its input really is the
    // per-__b aggregate so a refactor can't silently point it at raw rows
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.functions.col
    val docs = spark.range(1000).select(col("id").as("doc_id"), (col("id") % 7 + 1).as("toks"))
    val df = graft.ops.Corpus.packSequences(docs, "doc_id", "toks", budget = 50)
    df.collect()
    // unwrap AQE wrappers to a fixed point: the final plan root is a
    // ResultQueryStageExec whose `plan` holds the real tree, and every
    // materialized stage nests the same way
    @scala.annotation.tailrec
    def core(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => core(a.executedPlan)
      case q: QueryStageExec        => core(q.plan)
      case other                    => other
    }
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val c = core(p)
      c +: c.children.flatMap(expand)
    }
    val nodes = expand(df.queryExecution.executedPlan)
    val unpart = nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(unpart.nonEmpty, "expected the bucket-offset window in the plan")
    unpart.foreach { w =>
      val overAggregate = expand(w).exists {
        case a: BaseAggregateExec =>
          a.groupingExpressions.exists(_.toString.contains("__b"))
        case _ => false
      }
      assert(overAggregate,
        s"the unpartitioned window must read the per-__b aggregate (<= buckets rows):\n$w")
    }
    // the corpus-row cumsum window stays partitioned (by __b)
    assert(nodes.exists { case w: WindowExec => w.partitionSpec.nonEmpty; case _ => false },
      "the per-row cumsum window must be bucket-partitioned")
  }

  test("document scan pushes the range filter into the DSv2 store, not a post-filter of a full scan") {
    val plan = finalPlan(ran("q_doc_pushdown"))
    // DocScan.description() surfaces the pushed store filter; both range
    // bounds must reach it so the store only materializes the slice
    assert(plan.contains("doc_id.gte") && plan.contains("doc_id.lt"),
      s"range filter must be pushed into the document store:\n${plan.take(2000)}")
  }

  test("polite frontier selection plans as a bounded aggregate, never a window sort or cartesian") {
    // the per-host cap must ride MinK's bounded buffers (map-side
    // combine, <= k strings per host per map task) — the naive
    // row_number-window implementation would sort every candidate URL of
    // every host through one exchange, and any join-back shape risks a
    // cartesian under mis-specified keys
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dest = tmpDir("plan_polite")
    val urls = (0 until 40).map(i => s"http://h${i % 4}.test/p$i").toDF("url")
    var selectionPlan = ""
    graft.ops.UrlFrontier.runWave(spark, dest, urls, "url", Some(3)) { todo =>
      todo.collect() // finalize AQE before reading the plan
      selectionPlan = todo.queryExecution.executedPlan.toString
      todo.select(col("url_canon"))
    }
    assert(!selectionPlan.contains("WindowExec") && !selectionPlan.toLowerCase.contains("window"),
      s"polite selection must not sort hosts through a window:\n${selectionPlan.take(1500)}")
    assert(!selectionPlan.contains("CartesianProduct"),
      s"polite selection must never go all-pairs:\n${selectionPlan.take(1500)}")
    assert(selectionPlan.toLowerCase.contains("aggregate"),
      s"polite selection must reduce through the MinK aggregate:\n${selectionPlan.take(1500)}")
  }

  test("wave-gap host exclusion plans as a distributed anti-join, never a collect or cartesian") {
    // the recently-fetched host set is a bounded columnar frame; the
    // exclusion must be a left_anti join against it (broadcastable at
    // scale), never a driver-side host list or an all-pairs shape
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dest = tmpDir("plan_gap")
    val urls = (0 until 40).map(i => s"http://h${i % 4}.test/p$i").toDF("url")
    graft.ops.UrlFrontier.runWave(spark, dest, urls.limit(20), "url",
      minWaveGapPerHost = 1)(todo => todo.select(col("url_canon")))
    var exclusionPlan = ""
    graft.ops.UrlFrontier.runWave(spark, dest, urls, "url",
      minWaveGapPerHost = 1) { todo =>
      todo.collect() // finalize AQE before reading the plan
      exclusionPlan = todo.queryExecution.executedPlan.toString
      todo.select(col("url_canon"))
    }
    assert(exclusionPlan.contains("LeftAnti"),
      s"gap exclusion must be an anti-join:\n${exclusionPlan.take(1500)}")
    assert(!exclusionPlan.contains("CartesianProduct"),
      s"gap exclusion must never go all-pairs:\n${exclusionPlan.take(1500)}")
  }

  test("wildcard robots verdict stays a host equi-join with the codegen glob predicate — no cartesian, no regex") {
    // the rule table is bounded per host and the match predicate must
    // ride the equi-join's OUTPUT as the native robots_match expression
    // (a regex/LIKE fallback on a non-foldable pattern column would
    // recompile per row at corpus scale; a non-equi join condition
    // would degrade to BroadcastNestedLoop)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rules = Seq(
      ("h0.test", "disallow", "/*?sid="),
      ("h0.test", "allow", "/pub/*?sid="),
      ("h1.test", "disallow", "/p/*0$"),
    ).toDF("host", "rule", "pattern")
    val urls = (0 until 40).map(i => s"h${i % 4}.test/p/$i?sid=$i").toDF("url_canon")
    val kept = graft.ops.UrlFrontier.applyRobots(urls, "url_canon", rules)
    kept.collect() // finalize AQE before reading the plan
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("robots_match"),
      s"verdict must evaluate the native robots_match predicate:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"robots verdict must stay an equi-join:\n${plan.take(2000)}")
    // host extraction legitimately uses one anchored regexp_extract; the
    // PATTERN match itself must never ride RLike/LIKE (non-foldable
    // pattern columns recompile per row)
    assert(!plan.toLowerCase.contains("rlike") && !plan.contains(" LIKE "),
      s"pattern matching must not ride regex/LIKE machinery:\n${plan.take(2000)}")
    assert(plan.contains("LeftAnti"),
      s"disallowed URLs drop via anti-join:\n${plan.take(2000)}")
  }
}

#!/usr/bin/env python3
"""Stamp-ratio report: compare a committed BENCH_LOCAL*.json against the
BASELINE.md per-query stamps, applying the 2x bar symmetrically.

This makes the round verdict's "vs BASELINE.md stamps" table reproducible
from machine-readable artifacts alone (ADVICE r6, medium): the stamp values
below are transcribed from BASELINE.md's stamped tables with their source
round noted, and the bench side is whatever per-query JSON you pass in.

Usage: python3 tools/stamp_ratios.py BENCH_LOCAL.json [BENCH_LOCAL_A.json ...]
With multiple files, each query's MINIMUM across runs is used (the
steady-state number BASELINE.md's methodology note prescribes comparing),
and per-run values are shown alongside.

Driver artifacts (BENCH_rNN.json with a "tail"/"parsed" shape) are also
accepted: the driver captures only the last 2000 chars of Bench stdout,
which truncates the head of the ~5 KB 150-query JSON line, so "parsed"
comes back null. Bench writes the SAME line whole to BENCH_LOCAL.json in
the working directory; when the artifact's parse is truncated, this tool
recovers the full map from the sibling BENCH_LOCAL.json after verifying
the artifact's surviving tail fragment is a byte-exact substring of that
file — proving both came from the same run.
"""
import json
import os
import statistics
import sys


def find_totals(tail):
    """The `{"bench_totals": ...}` object Bench prints last (None if cut)."""
    decoder = json.JSONDecoder()
    for line in reversed(tail.split("\n")):
        at = line.find('{"bench_totals"')
        if at >= 0:
            try:
                return decoder.raw_decode(line, at)[0]["bench_totals"]
            except (ValueError, KeyError):
                return None
    return None


def totals_note(t):
    """`; totals line: ...` for a surviving totals object, else ''."""
    if t is None:
        return ""
    return (f"; totals line: {t['queries']} queries, {t['failed']} failed, "
            f"{t['total_s']} s total, geomean {t['geomean_s']} s")


def load_bench(path):
    """(queries, errors, note) from a Bench line file OR driver artifact."""
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:  # a Bench-written full JSON line
        return d.get("queries", {}), d.get("errors", {}), None
    if "tail" not in d:
        raise SystemExit(f"{path}: neither a Bench line (queries) nor a driver artifact (tail)")
    parsed = d.get("parsed") or {}
    if parsed.get("queries"):
        return parsed["queries"], parsed.get("errors", {}), None
    tail = d["tail"]
    # Bench's last line is a compact totals object: how many queries ran
    # and how many failed, a check on whatever map is recovered below
    totals = find_totals(tail)
    # Since r20 Bench prints, AFTER the full line, per-query millisecond
    # chunk lines (each a whole <=1.5 KB JSON object), so a truncated
    # stdout tail still carries whole parseable chunks. Merge them first.
    # Captured through sbt, every line carries an `[info] ` prefix
    # (`[info] {"bench_chunk"...`), so find the chunk object anywhere in
    # the line and parse from there.
    chunk_ms, n_chunks_seen, n_chunks_of = {}, 0, None
    decoder = json.JSONDecoder()
    for line in tail.split("\n"):
        at = line.find('{"bench_chunk"')
        if at < 0:
            continue
        try:
            c, _ = decoder.raw_decode(line, at)
        except ValueError:
            continue
        chunk_ms.update(c.get("queries_ms", {}))
        n_chunks_seen += 1
        n_chunks_of = c.get("of", n_chunks_of)
    # candidate same-run siblings: the canonical BENCH_LOCAL.json plus the
    # per-core copies (the driver's follow-up low-core run clobbers the
    # canonical file; BENCH_LOCAL_c<N>.json survives it)
    import glob
    here = os.path.dirname(os.path.abspath(path))
    sibs = [p for p in [os.path.join(here, "BENCH_LOCAL.json")] +
            sorted(glob.glob(os.path.join(here, "BENCH_LOCAL_c*.json")))
            if os.path.exists(p)]
    frag = tail.split("\n")[0]
    for sib in sibs:
        full = open(sib).read().strip()
        try:
            j = json.loads(full)
        except ValueError:
            continue
        qs = j.get("queries", {})
        # same-run proof: either the artifact's surviving first-line
        # fragment appears byte-for-byte in the sibling line, or every
        # recovered chunk entry matches the sibling's value at ms precision
        # (within half a ms: Bench rounds with Scala's math.round, which
        # differs from Python's round on exact .5 ties)
        frag_ok = bool(frag) and frag in full
        chunk_ok = bool(chunk_ms) and all(
            k in qs and abs(qs[k] * 1000 - v) <= 0.5 for k, v in chunk_ms.items())
        # a sibling whose query/error counts disagree with the totals line
        # is from another run, whatever its values
        totals_ok = totals is None or (
            totals["queries"] == len(qs) and totals["failed"] == len(j.get("errors", {})))
        if (frag_ok or chunk_ok) and totals_ok:
            return qs, j.get("errors", {}), f"recovered full map from {sib}" + totals_note(totals)
    if chunk_ms:
        # no sibling matched, but whole chunk lines survived in the tail —
        # use the partial ms map directly (better than nothing). Chunks
        # carry no error map, so a failed query is indistinguishable from
        # a fast one here unless the totals line survived: say so.
        part = {k: v / 1000.0 for k, v in chunk_ms.items()}
        known = ("no query failed" if totals and totals["failed"] == 0
                 else f"{totals['failed']} failed, which unknown" if totals
                 else "errors unknown")
        note = (f"partial map from {n_chunks_seen}/{n_chunks_of} surviving tail chunks "
                f"(no same-run sibling found; {known})")
        return part, {}, note + totals_note(totals)
    raise SystemExit(f"{path}: tail fragment does not match any sibling BENCH_LOCAL*.json — "
                     "the siblings are from different runs; re-run Bench" + totals_note(totals))

# BASELINE.md stamps (sf0.1, local[32], warmed). Source: the round-1 table
# and the round-4 re-stamp table, plus later re-stamps where BASELINE.md
# supersedes the original (q_ann_ivf: round-6 addendum isolated min-of-2;
# q_dedup_pipeline: the round-4/5 isolated steady-state 2.7-2.8 s, taken
# at 2.75). Queries added after round 4 without a stamped row (embed/frame
# families, fleet micro-queries, asof/sessionize analogs) are not listed.
STAMPS = {
    # round 1
    "q_full_load": 2.66, "q_merge_bucketed": 4.33, "q_pipeline_incremental": 2.30,
    "q_multi_join_agg": 1.18, "q_merge_upsert": 0.73, "q_dedup_jaccard": 1.75,
    "q_dedup_minhash": 0.61, "q_dedup_cosine": 0.64, "q_ann_cosine": 0.69,
    "q_ann_lsh": 0.38, "q_cdc_pipeline": 0.72,
    # round 4 re-stamps and additions
    "q_dedup_minhash_fast": 1.85, "q_dedup_clusters": 1.95, "q_cdc_poll": 3.28,
    "q_type_roundtrip": 0.98, "q_stream_window": 1.38, "q_stream_dedup": 1.84,
    "q_stream_sessionize": 1.73, "q_jdbc_scan": 0.86, "q_doc_pushdown": 0.44,
    "q_shard_cursor": 0.77, "q_sheets_serial": 0.74, "q_graphql_flatten": 0.64,
    "q_fleet_pipeline": 1.71, "q_stripe_cursor": 0.71, "q_inbox_cursor": 0.98,
    "q_queue_bridge": 1.62, "q_media_decode": 0.27, "q_soql_unify": 0.20,
    "q_ga_report": 0.35, "q_redact": 0.20, "q_repetition": 0.11,
    "q_stream_merge": 0.78, "q_dedup_incremental": 3.11, "q_line_dedup": 0.35,
    "q_token_budget": 1.17, "q_stream_join": 2.94, "q_compact": 2.96,
    # r16 re-tighten (ADVICE/VERDICT r15 wrong-note b): the round-4 stamp
    # 4.56 predates later operator wins and r15 best ran 0.70 — far below
    # it, so the regression gate had no sensitivity. Isolated min-of-2.
    "q_ann_ivfpq": 0.98, "q_ann_project": 1.17, "q_stream_dedup_corpus": 5.72,
    "q_shared_spans": 1.93,
    # round-7 additions (isolated min-of-2, BASELINE.md round-7 notes)
    "q_embed_ivf": 0.89, "q_embed_lsh": 0.71, "q_image_dedup": 0.98,
    "q_image_clusters": 1.87, "q_ann_recall": 0.87,
    "q_semantic_dedup": 0.40, "q_cluster_sample": 0.77,
    "q_decontaminate_bloom": 0.37,
    # r16 isolated re-stamp (VERDICT r15 wrong-note a): the r15 in-run 1.43
    # was interference — isolated min-of-2 is 1.21 (original r7 stamp 1.66
    # kept here for provenance; the move restores gate sensitivity)
    "q_rerank": 1.21,
    "q_stream_embed_probe": 1.45,
    # round-8 additions (isolated min-of-2, BASELINE.md round-8 notes)
    "q_gopher_filter": 0.30, "q_token_sketch": 1.36,
    "q_jdbc_merge": 1.14, "q_curation_pipeline": 6.41,
    "q_tokens_bpe": 0.39, "q_bpe_budget": 1.06,
    "q_stream_index_delta": 4.47, "q_perplexity_lm": 1.22,
    "q_substring_dedup": 0.50, "q_dsir_sample": 1.86,
    "q_lexical_topk": 1.59, "q_hybrid_rank": 2.42, "q_hll_vocab": 0.34,
    "q_zorder": 0.46, "q_quantiles": 1.22, "q_lexical_champion": 1.38,
    "q_curation_v2": 6.14, "q_stream_quality": 2.46, "q_html_extract": 0.32, "q_lexical_index": 5.05, "q_decontaminate_spans": 1.03, "q_stream_span_dedup": 6.05,
    "q_quantiles_by": 0.83, "q_vocab_by": 0.53, "q_corpus_report": 0.87, "q_weighted_sample": 0.51,
    # round-9 addition (BENCH_LOCAL_K/L min)
    "q_pdf_extract": 0.71, "q_pdf_pipeline": 2.92,
    # round-12 stamps for the r11/r12 additions (isolated min across two
    # Bench invocations, sf0.1, local[32]; BASELINE.md round-12 table)
    "q_audio_dedup": 0.91, "q_audio_clusters": 0.99,
    "q_video_dedup": 0.83,
    # r14 isolated re-stamps (min-of-3; both held ~1.5x over their old stamps
    # ISOLATED — drift, not in-run interference)
    "q_audio_dedup_capped": 1.54,
    "q_nb_quality": 0.49, "q_pii_scrub": 0.14, "q_c4_lines": 0.26,
    "q_stream_nb": 2.79, "q_leakage_split": 1.50, "q_hint_variants": 1.47,
    "q_rest_parallel": 0.37, "q_curation_v3": 10.02,
    "q_video_dedup_capped": 1.89, "q_url_dedup": 0.47,
    "q_stream_url_dedup": 2.48,
    # round-13 full-coverage stamps: the entire previously-unstamped tail
    # (mostly sub-second scan/agg queries) plus the four r13 additions.
    # Methodology: min across BENCH_LOCAL_P/Q (two full-surface Bench
    # invocations, each per-query min-of-2) — in-run values, not isolated;
    # historical in-run interference tops out ~1.7x of isolated, which the
    # 2x bar absorbs (BASELINE.md round-13 stamp table).
    "q_asof_join": 0.21,
    # r14 isolated re-stamp, NO code change — held 1.77x over the old 0.31
    # stamp across isolated min-of-2 (environment drift; in-run 3.42x was
    # interference on top of it)
    # r16 re-tighten (drift reversed: r15 best 0.29 was <0.6x of the r14
    # drift-loosened 0.55): fresh isolated min-of-2. History 0.31 (r13) ->
    # 0.55 (r14 drift) -> 0.44 (r16).
    "q_ann_lsh_probe": 0.44, "q_assoc_dedup": 0.18,
    "q_audio_clusters_capped": 1.25, "q_cdc_stream": 0.25,
    "q_chunk_docs": 0.15, "q_corpus_pipeline": 1.98,
    "q_cursor_coalesce": 0.19, "q_custom_fields": 0.20,
    "q_deal_flows": 0.12, "q_decontaminate": 0.31, "q_dedup_exact": 0.18,
    "q_digest_ids": 0.18, "q_domain_mix": 0.22,
    # r15 isolated re-stamp, NO code change — original stamp 0.43; held
    # 2.1x across isolated min-of-2 AND two family-in-one-JVM runs
    # (0.91-1.08s), so environment drift, not in-run interference. Sibling
    # movers classified interference the same session: q_embed_ivf
    # isolated 0.82 vs stamp 0.89 (in-run r14 1.76x), q_embed_lsh
    # isolated 0.85 vs stamp 0.71 (in-run 1.32x) — both keep their stamps.
    "q_embed_ann": 0.91,
    "q_enum_decode": 0.20, "q_epoch_heuristic": 0.15,
    "q_extract_structured": 0.18, "q_field_pivot": 0.13,
    "q_fingerprint": 0.10, "q_frame_sample": 0.21, "q_hard_delete": 0.32,
    "q_hybrid_rank_scale": 2.31, "q_image_clusters_capped": 1.57,
    "q_incremental_cursor": 0.17, 
    # r14 re-stamps: both contracts REWRITTEN this round — insights moved to
    # submit-all-then-poll (awaitAll) with dense-day pages; url_frontier grew
    # from 2 waves to 3 + compactSeen + two audit counts. Isolated min-of-2.
    # r15 re-stamp: the report-page fetch moved from a serial driver loop
    # to RestPagesV2.readMany (one partition per report) — isolated
    # min-of-2 1.34s, a 2.6x win over the r14 3.53 stamp (kept here for
    # provenance). Same oracle, partition count asserted in-contract.
    "q_insights_jobs": 1.34,
    "q_join_broadcast": 0.33, "q_langid": 0.17, "q_merge_dedup": 0.35,
    "q_merge_key_replace": 0.43, "q_multimodal_decode": 0.15,
    "q_multimodal_meta": 0.13, "q_ngram_novelty": 0.13,
    "q_normalize_explode": 0.19, "q_normalize_flatten": 0.10,
    "q_normalize_json": 0.21, "q_pack_sequences": 0.11,
    "q_pdf_pipeline_champion": 2.20, "q_pivot": 0.16,
    "q_property_history": 0.55, "q_pushdown_scan_agg": 0.22,
    "q_queue_pipeline": 0.30,
    "q_rest_pipeline": 0.46,  # r14 isolated re-stamp (min-of-3; held 1.5x over the early 0.30 stamp isolated since r13)
    "q_sample_stratified": 0.21, "q_scalar_ts": 0.21, "q_scd2": 0.50,
    "q_session_filter": 0.26, "q_sessionize_batch": 0.18,
    "q_simhash": 0.19, "q_skew_agg": 0.20, "q_stage_pivot": 0.23,
    "q_table_routing": 0.17, "q_text_quality": 0.12, "q_tokens": 0.12,
    "q_unpivot": 0.15,
    # r14 final 4.57 (reader-safe gc sweep + repartition sizing; isolated
    # min-of-2). r15 grew the contract further (compactPages + gc +
    # committedPages read-back) yet the in-run time is 4.41 — still under
    # the stamp, so it stands unchanged.
    "q_url_frontier": 4.57,
    # r15 new contract: WARC containers, two incremental waves, quarantine,
    # extract + canonical dedup. Isolated min-of-2.
    "q_warc_pipeline": 1.70,
    # r16 new contracts (isolated min-of-2, sf0.1, local[32]):
    # q_fleet_config = config-as-data github pipeline (same oracle as
    # q_fleet_pipeline); q_url_frontier_polite = 5 frontier waves with the
    # per-host cap (wave lifecycle dominated, like q_url_frontier);
    # q_stream_warc = 3 binaryFile stream runs + 4 frontier landings
    # (streaming setup + wave lifecycle dominated; the parse/extract pins
    # took it from 80 s to 5.3 s); q_manifest_commit = 3 manifest pipeline
    # runs incl. a planted crash (merge rewrites x3 routed tables).
    "q_fleet_config": 1.43, "q_url_frontier_polite": 3.84,
    "q_stream_warc": 5.33, "q_manifest_commit": 6.63,
    # r17 new contracts (isolated min-of-2, sf0.1, local[32]):
    # q_fleet_header_link = the q_fleet_config github pipeline paginated
    # via RFC 5988 Link headers (same oracle); q_url_frontier_gap = NINE
    # frontier waves (gap 1 alternates fetch/silence to drain 500
    # URLs/host at 150/wave) — wave lifecycle dominated like its polite
    # sibling (~1.07 s/wave incl. the per-wave host-set landings).
    "q_fleet_header_link": 1.26, "q_url_frontier_gap": 9.62,
    # r18 new contract (isolated min-of-2, sf0.1, local[32]):
    # q_url_frontier_robots = THREE frontier waves (rules wave + lifted
    # wave + drained-empty wave) over 7 robots shapes — wave lifecycle
    # dominated like its polite/gap siblings; the rules join itself is a
    # bounded broadcast equi-join.
    "q_url_frontier_robots": 5.40,
    # q_fleet_auto = the header_link github pipeline with NO paginator
    # declared — auto-detection resolves header_link from the first
    # response's Link header; same oracle as q_fleet_config.
    "q_fleet_auto": 1.74,
    # r17 environment-drift re-stamps: the three events-reading
    # sub-second contracts inflated together (isolated min-of-2
    # q_cursor_coalesce 0.28 / q_asof_join 0.45 / q_cdc_stream 0.65 vs
    # originals 0.19 / 0.21 / 0.25) while the remaining 157 queries
    # medianed 0.97x their stamps — classified as events.parquet read-path
    # drift, not code (no round-17 change touches these plans). Originals
    # kept here; re-tighten if the drift reverses (the r15 q_embed_ann
    # precedent).
    "q_cursor_coalesce": 0.28,  # original 0.19 (r13 family)
    "q_asof_join": 0.45,        # original 0.21
    "q_cdc_stream": 0.65,       # original 0.25
    # round-13 late additions (isolated min-of-2 ×2 invocations, sf0.1)
    "q_video_clusters": 1.40, "q_video_clusters_capped": 2.21,
    # later re-stamps (supersede the rows above per BASELINE.md addenda)
    "q_ann_ivf": 0.93,          # round-6 addendum isolated min-of-2
    "q_semantic_dedup": 1.03,   # round-8 re-stamp: isolated min-of-2 AFTER the
                                # in-operator cell-pair cap (cap 60 engages at
                                # sf0.1 — extra size/sub-split/hub stages cost
                                # ~0.6 s fixed here and bound the sf1 cell at
                                # O(n*cap) instead of C(n,2); uncapped was 0.40)
    "q_dedup_pipeline": 4.74,   # round-7 re-stamp: isolated min-of-2 AFTER the
                                # r6 three-level degenerate-bucket defense (the
                                # computation grew — more candidates verified,
                                # buying the 94.2%->99.4% sf1 coverage move;
                                # pre-defense isolated steady state was 2.7-2.8)
    # r19 new contracts (isolated min-of-2 across JVMs, sf0.1, idle):
    # q_url_frontier_robots_wild = 3 frontier waves over 7 wildcard/UA
    # rule shapes × 3 path forms (wave lifecycle dominated like its
    # robots sibling); q_rest_post = POST + cursor-in-body page chain
    # from a config document; q_rest_steps = offset chain with
    # config-level filter + drop_fields.
    "q_url_frontier_robots_wild": 5.66,
    "q_rest_post": 0.60, "q_rest_steps": 0.42,
    # r19 drift re-stamps (isolated min-of-2 across SEPARATE JVMs, idle
    # machine, load < 1 at start). All five stamps below PREDATE the r18
    # driver testdata regeneration and read reproducibly hot isolated
    # (ratios 1.24-1.56x) while every sibling stamped POST-regeneration
    # reads <= 1x (q_url_frontier_robots 0.65x, streaming family
    # 0.54-0.95x r18). Named source: events read-path drift — the r17
    # precedent (q_cursor_coalesce/q_asof_join/q_cdc_stream, same
    # classification) — amplified per WAVE for the frontier family
    # because runWave re-derives its canonical plan from events each
    # wave (deltas are uniform ~+0.45 s/wave across the three).
    # Warmup rhythm ruled out (SPARK_GRAFT_WARMUP=none/target within
    # noise of tiny). ScanProbe digests/bytes for the pinned r18
    # reference queries are IDENTICAL this round — plan side unchanged.
    # Originals kept; re-tighten if the drift reverses.
    "q_audio_clusters": 1.25,        # original 0.99 (r13 family)
    "q_audio_clusters_capped": 1.72, # original 1.25 (r13 family)
    "q_url_frontier": 5.65,          # original 4.57 (r16)
    "q_url_frontier_polite": 5.98,   # original 3.84 (r16)
    "q_url_frontier_gap": 13.90,     # original 9.62 (r17)
}

def main(paths):
    runs = []
    for p in paths:
        qs, errs, note = load_bench(p)
        if note:
            print(f"[{p}] {note}")
        runs.append((p, qs, errs))
    names = sorted(set(STAMPS) & set().union(*(set(q) for _, q, _ in runs)))
    rows = []
    for n in names:
        vals = [q[n] for _, q, _ in runs if n in q]
        best = min(vals)
        rows.append((best / STAMPS[n], n, STAMPS[n], best, vals))
    rows.sort(reverse=True)
    print(f"{'ratio':>6}  {'query':<24} {'stamp':>6} {'best':>6}  per-run")
    for r, n, s, b, vals in rows:
        flag = "  <-- OVER 2x" if r > 2.0 else ""
        print(f"{r:6.2f}  {n:<24} {s:6.2f} {b:6.2f}  {'/'.join(f'{v:.2f}' for v in vals)}{flag}")
    ratios = [r for r, *_ in rows]
    over = [n for r, n, *_ in rows if r > 2.0]
    print(f"\nstamped+runnable: {len(rows)}; median ratio {statistics.median(ratios):.2f}x; "
          f"over 2x: {len(over)} {over}")
    errs = {n: e for _, _, es in runs for n, e in es.items()}
    if errs:
        print(f"errors across runs: {errs}")

if __name__ == "__main__":
    main(sys.argv[1:] or ["BENCH_LOCAL.json"])

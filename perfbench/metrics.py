"""Turns the raw record of one benchmark run into metrics.

The Scala program (perfbench.Main) writes ops, spans, Spark jobs and checks;
everything numeric the benchmark reports is derived here, so the rules
(percentiles, call-site -> layer mapping, the time split) can be tested
without a JVM.
"""

import statistics

DRIVER_GAP = "driver_gap"
UNATTRIBUTED = "unattributed"

# The layers a traced run splits time into are these modules. A job belongs
# to the innermost graft.* frame of its call site that falls in one of them.
# source file -> module, for modules that share a package with others
_FILE_MODULES = {
    "Incremental.scala": "core.Incremental",
    "Normalize.scala": "core.Normalize",
    "Merge.scala": "core.Merge",
    "BucketedMerge.scala": "core.Merge",
    "Manifest.scala": "core.Manifest",
    "Dedup.scala": "ops.Dedup",
    "Lexical.scala": "ops.Lexical",
}
_PACKAGE_MODULES = {
    "graft.connectors.rest.": "connectors.rest",
    "graft.pipeline.": "pipeline",
}


def module_of(frame):
    """Listed module of one stack frame like
    'graft.core.TableWriter$.write(Merge.scala:205)', or None."""
    for prefix, module in _PACKAGE_MODULES.items():
        if frame.startswith(prefix):
            return module
    if "(" in frame and frame.endswith(")"):
        source = frame[frame.rindex("(") + 1:-1].split(":")[0]
        return _FILE_MODULES.get(source)
    return None


def job_layer(job, default):
    """Layer of one job.

    The call site is the SQL execution's when the job ran under one (the
    stage call site is then often an AQE thread such as
    'withThreadLocalCaptured at CompletableFuture.java'); otherwise the
    result stage's. The innermost graft frame in a listed module decides.
    A call site with graft frames in no listed module is unattributed; one
    without graft frames was issued by the benchmark on a frame an engine
    call returned, and takes the layer of the span it ran in.
    """
    frames = (job.get("frames") or []) if job.get("exec_id", -1) >= 0 else []
    if not frames:
        frames = job.get("stage_frames") or []
    for f in frames:
        m = module_of(f)
        if m:
            return m
    return UNATTRIBUTED if frames else (default or UNATTRIBUTED)


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, -(-len(xs) * p // 100))  # ceil
    return xs[int(rank) - 1]


TAIL_LADDER = (99.9, 99, 95, 90, 75, 50)


def tail(values, beyond=10):
    """(p, value) for the highest percentile of TAIL_LADDER with at least
    `beyond` samples above it, or None when no rung has that many."""
    for p in TAIL_LADDER:
        if not values:
            return None
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= beyond:
            return p, v
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def split_time(op, jobs, spans):
    """Splits the wall time of one op across layers.

    `jobs` are (start, end, layer) inside the op, `spans` are (start, end,
    layer) benchmark spans nested in it. Each instant goes to the jobs
    running then, shared equally; an instant no job covers goes to the
    innermost span's layer, or to driver_gap outside every nested span.
    The parts sum to the op's wall time.
    """
    s0, s1 = op
    clipped = [(max(s, s0), min(e, s1), l) for s, e, l in jobs if min(e, s1) > max(s, s0)]
    inner = [(max(s, s0), min(e, s1), l) for s, e, l in spans if min(e, s1) > max(s, s0)]
    cuts = sorted({s0, s1} | {t for s, e, _ in clipped + inner for t in (s, e)})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = [l for s, e, l in clipped if s <= mid < e]
        if active:
            for l in active:
                out[l] = out.get(l, 0.0) + (b - a) / len(active)
        else:
            covering = [(e - s, l) for s, e, l in inner if s <= mid < e]
            l = min(covering)[1] if covering else DRIVER_GAP
            out[l] = out.get(l, 0.0) + (b - a)
    return out


# units of the reported metrics
E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "load_p50_ms": "ms", "query_p50_ms": "ms",
             "dest_bytes_per_row": "B/row"}


def layer_unit(name):
    if name.endswith(("_ratio", "coverage", "overhead", "_per_row_changed")):
        return "ratio"
    if name.endswith("_per_result"):
        return "rows/result"
    if name.endswith("_mb") or "_mb_" in name:
        return "MB"
    if "jobs" in name or "requests" in name or name in ("failed_tasks",) or name.endswith("_per_table"):
        return "count"
    return "ms"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, window=0):
    """End-to-end metrics of one measured window."""
    ops = [o for o in raw["ops"] if o["window"] == window]
    wall = lambda o: o["end_ms"] - o["start_ms"]
    loads = [wall(o) for o in ops if o["kind"] == "load"]
    queries = [wall(o) for o in ops if o["kind"] == "query"]
    landing = [o for o in ops if o["kind"] == "load" and o["ok"]]
    land_rows = sum(o["rows"] for o in landing)
    land_s = sum(wall(o) for o in landing) / 1000.0
    m = {
        "setup_s": raw["session_s"] + raw["warmup_s"] + statistics.median(raw["setup_reps_s"]),
        "rows_per_s": land_rows / land_s if land_s > 0 else 0.0,
        "load_p50_ms": _median(loads),
        "query_p50_ms": _median(queries),
        "dest_bytes_per_row": raw["dest_bytes"] / raw["dest_rows"] if raw["dest_rows"] else 0.0,
    }
    samples = {"load": len(loads), "query": len(queries)}
    walls = {k: [wall(o) for o in ops if o["kind"] == k] for k in sorted({o["kind"] for o in ops})}
    tails = {}
    for kind, xs in (("load", loads), ("query", queries)):
        t = tail(xs)
        if t:
            tails[f"{kind}_tail_ms"] = {"percentile": t[0], "value": t[1], "samples": len(xs)}
    return m, samples, tails, walls


# per-layer metrics printed on stdout (BENCHMARK.json's per_layer list); the
# results file has every metric per_layer() computes
REPORTED_PER_LAYER = [
    "connectors.rest.ms_per_cycle",
    "connectors.rest.requests_per_cycle",
    "connectors.rest.kept_ratio",
    "core.Incremental.ms_per_cycle",
    "core.Normalize.ms_per_cycle",
    "core.Merge.ms_per_cycle",
    "core.Merge.jobs_per_cycle",
    "core.Merge.task_ms_per_cycle",
    "core.Merge.output_mb_per_cycle",
    "core.Merge.rows_rewritten_per_row_changed",
    "core.Manifest.land_ms_per_cycle",
    "core.Manifest.jobs_per_cycle",
    "core.Manifest.read_ms_per_query",
    "core.Manifest.generations_per_table",
    "pipeline.stage_ms_per_cycle",
    "pipeline.jobs_per_cycle",
    "driver_gap.ms_per_cycle",
    "driver_gap.ms_per_query",
    "consumer.ms_per_query",
    "ops.Dedup.ms",
    "ops.Dedup.task_ms",
    "ops.Dedup.shuffle_mb",
    "ops.Dedup.verified_ratio",
    "ops.Lexical.build_ms",
    "ops.Lexical.append_ms",
    "ops.Lexical.search_jobs_per_query",
    "ops.Lexical.search_input_rows_per_result",
    "unattributed.ms",
    "failed_tasks",
    "gc_ms",
    "coverage",
    "trace_overhead",
]

# op whose wall time the trace overhead compares, per workload
PRIMARY_OP = {"api_sync": "load", "bulk_fanout": "load", "corpus_index": "query"}


def per_layer(raw):
    """Per-layer metrics of the traced window (window 1)."""
    ops = [o for o in raw["ops"] if o["window"] == 1]
    spans = [s for s in raw["spans"] if s["window"] == 1]
    jobs = [j for j in raw.get("traced_jobs", []) if j["end_ms"] >= 0]
    counters = raw.get("traced_counters", {})
    op_spans = {(o["start_ms"], o["end_ms"]) for o in ops}
    nested = [s for s in spans if (s["start_ms"], s["end_ms"]) not in op_spans]

    # per op kind and layer: ms, jobs, task metrics
    acc = {}

    def add(kind, layer, key, v):
        acc.setdefault(kind, {}).setdefault(layer, {})
        d = acc[kind][layer]
        d[key] = d.get(key, 0.0) + v

    counts = {}
    for o in ops:
        kind = o["kind"]
        counts[kind] = counts.get(kind, 0) + 1
        s0, s1 = o["start_ms"], o["end_ms"]
        inner = [x for x in nested if x["start_ms"] >= s0 and x["end_ms"] <= s1]
        in_op = [j for j in jobs if s0 <= j["start_ms"] <= s1]
        labelled = []
        for j in in_op:
            covering = [x for x in inner if x["start_ms"] <= j["start_ms"] <= x["end_ms"]]
            default = min(covering, key=lambda x: x["end_ms"] - x["start_ms"])["layer"] if covering else o["layer"]
            layer = job_layer(j, default)
            labelled.append((j["start_ms"], j["end_ms"], layer))
            add(kind, layer, "jobs", 1)
            for key in ("task_ms", "gc_ms", "shuffle_read_b", "shuffle_write_b", "spill_b",
                        "output_b", "output_rows", "input_rows", "failed_tasks"):
                add(kind, layer, key, j[key])
        add(kind, "all_jobs", "union_ms", union_length([(max(s, s0), min(e, s1)) for s, e, _ in labelled]))
        parts = split_time((s0, s1), labelled, [(x["start_ms"], x["end_ms"], x["layer"]) for x in inner])
        for layer, ms in parts.items():
            add(kind, layer, "ms", ms)

    def get(kind, layer, key):
        return acc.get(kind, {}).get(layer, {}).get(key, 0.0)

    def per(kind, layer, key):
        n = counts.get(kind, 0)
        return get(kind, layer, key) / n if n else 0.0

    def total(layer, key):
        return sum(get(k, layer, key) for k in acc)

    def everywhere(key):
        return sum(v.get(key, 0.0) for by_layer in acc.values() for l, v in by_layer.items()
                   if l != "all_jobs")

    n_load = counts.get("load", 0)
    served = counters.get("items_served", 0.0)
    changed = counters.get("changed_rows", 0.0)
    candidates = counters.get("candidate_pairs", 0.0)
    results = counters.get("search_results", 0.0)
    mb = 1024.0 * 1024.0
    window = [w for w in raw["windows"] if w["window"] == 1][0]
    traced_wall = window["end_ms"] - window["start_ms"]
    wall = lambda kind, w: [o["end_ms"] - o["start_ms"] for o in raw["ops"]
                            if o["window"] == w and o["kind"] == kind]
    primary = PRIMARY_OP[raw["workload"]]
    untraced = _median(wall(primary, 0))

    m = {
        "connectors.rest.ms_per_cycle": per("load", "connectors.rest", "ms"),
        "connectors.rest.wait_ms_per_cycle": counters.get("server_ms", 0.0) / n_load if n_load else 0.0,
        "connectors.rest.requests_per_cycle": counters.get("requests", 0.0) / n_load if n_load else 0.0,
        "connectors.rest.jobs_per_cycle": per("load", "connectors.rest", "jobs"),
        "connectors.rest.kept_ratio": changed / served if served else 0.0,
        "core.Incremental.ms_per_cycle": per("load", "core.Incremental", "ms"),
        "core.Incremental.jobs_per_cycle": per("load", "core.Incremental", "jobs"),
        "core.Normalize.ms_per_cycle": per("load", "core.Normalize", "ms"),
        "core.Normalize.jobs_per_cycle": per("load", "core.Normalize", "jobs"),
        "core.Merge.ms_per_cycle": per("load", "core.Merge", "ms"),
        "core.Merge.jobs_per_cycle": per("load", "core.Merge", "jobs"),
        "core.Merge.task_ms_per_cycle": per("load", "core.Merge", "task_ms"),
        "core.Merge.output_mb_per_cycle": per("load", "core.Merge", "output_b") / mb,
        "core.Merge.rows_rewritten_per_row_changed":
            get("load", "core.Merge", "output_rows") / changed if changed else 0.0,
        "core.Manifest.land_ms_per_cycle": per("load", "core.Manifest", "ms"),
        "core.Manifest.jobs_per_cycle": per("load", "core.Manifest", "jobs"),
        "core.Manifest.read_ms_per_query": per("query", "core.Manifest", "ms"),
        "core.Manifest.generations_per_table": counters.get("generations_per_table", 0.0),
        "pipeline.stage_ms_per_cycle": per("load", "pipeline", "ms"),
        "pipeline.jobs_per_cycle": per("load", "pipeline", "jobs"),
        "driver_gap.ms_per_cycle": per("load", DRIVER_GAP, "ms"),
        "driver_gap.ms_per_query": per("query", DRIVER_GAP, "ms"),
        "consumer.ms_per_query": per("query", "consumer", "ms"),
        "ops.Dedup.ms": total("ops.Dedup", "ms"),
        "ops.Dedup.task_ms": total("ops.Dedup", "task_ms"),
        "ops.Dedup.shuffle_mb": (total("ops.Dedup", "shuffle_read_b") + total("ops.Dedup", "shuffle_write_b")) / mb,
        "ops.Dedup.spill_mb": total("ops.Dedup", "spill_b") / mb,
        "ops.Dedup.verified_ratio": counters.get("verified_pairs", 0.0) / candidates if candidates else 0.0,
        "ops.Lexical.build_ms": per("curate", "ops.Lexical", "ms"),
        "ops.Lexical.append_ms": per("load", "ops.Lexical", "ms"),
        "ops.Lexical.search_jobs_per_query": per("query", "ops.Lexical", "jobs"),
        "ops.Lexical.search_input_rows_per_result":
            get("query", "ops.Lexical", "input_rows") / results if results else 0.0,
        "unattributed.ms": total(UNATTRIBUTED, "ms"),
        "failed_tasks": everywhere("failed_tasks"),
        "gc_ms": everywhere("gc_ms"),
        "peak_rss_mb": raw["peak_rss_mb"],
        "coverage": everywhere("ms") / traced_wall if traced_wall else 0.0,
        "trace_overhead": _median(wall(primary, 1)) / untraced if untraced else 0.0,
    }
    detail = {kind: {layer: dict(v) for layer, v in by_layer.items()} for kind, by_layer in acc.items()}
    return m, {"op_counts": counts, "by_kind_and_layer": detail, "traced_wall_ms": traced_wall,
               "jobs": len(jobs), "jobs_outside_ops": len(jobs) - sum(
                   v.get("jobs", 0) for by_layer in acc.values() for v in by_layer.values())}


def outcome(raw):
    """(attempted, failed): every op of every window plus every output check."""
    attempted = len(raw["ops"]) + len(raw["checks"])
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + sum(1 for c in raw["checks"] if not c["ok"])
    return attempted, failed

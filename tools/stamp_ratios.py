#!/usr/bin/env python3
"""Stamp-ratio report: compare a BENCH_LOCAL*.json against the committed
per-query stamps (bench/stamps_sf0.1.json, one isolated min-of-2 Bench
run), applying the 2x bar symmetrically. Both sides are machine-written
Bench maps, so the report is reproducible from committed artifacts alone.

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

# Per-query stamps: the map of one isolated min-of-2 `graft.Bench` run at
# sf0.1, committed with its command, host and tree (bench/stamps_sf0.1.json).
# Re-stamp by replacing that file with a new run's, never by hand.
STAMPS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                           "bench", "stamps_sf0.1.json")


def load_stamps(path=STAMPS_PATH):
    """{query: seconds} of a stamp file; a query that failed in the stamp
    run has no stamp."""
    with open(path) as f:
        d = json.load(f)
    errors = d.get("errors", {})
    return {q: s for q, s in d["queries"].items() if q not in errors}


def main(paths, stamps_path=STAMPS_PATH):
    stamps = load_stamps(stamps_path)
    runs = []
    for p in paths:
        qs, errs, note = load_bench(p)
        if note:
            print(f"[{p}] {note}")
        runs.append((p, qs, errs))
    names = sorted(set(stamps) & set().union(*(set(q) for _, q, _ in runs)))
    rows = []
    for n in names:
        vals = [q[n] for _, q, _ in runs if n in q]
        best = min(vals)
        rows.append((best / stamps[n], n, stamps[n], best, vals))
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

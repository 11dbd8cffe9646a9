#!/bin/bash
# sf10 scale-proof gate: the sf1 gate pattern (tools/scale_gate.sh) graduated
# one decade up for the scale-SENSITIVE family — dedup/ANN/frontier/
# streaming-corpus contracts whose caps, bucket bounds, index pruning and
# wave lifecycles are the 100 TB design claims. Tiles sf0.1 x100 with
# graft.ScaleData (~1 min, ~300 MB), runs the family through graft.Verify at
# sf10 (48g driver per the BASELINE recipe), and hash-compares against the
# DuckDB oracle.
#
# Referee-CPU note: the DuckDB replays at sf10 are the expensive half — run
# with the machine otherwise idle (no resident Spark JVMs) and expect the
# compare to dominate wall-clock. compare_oracle.py self-heals "bad
# allocation" OOMs with a fresh 8-thread connection; DUCK_MEM overrides the
# 24GB budget.
#
# Family choice: the sf1 gate's dedup/ANN/frontier/streaming-corpus core,
# plus q_lexical_index (the persisted inverted index: build, append, search)
# and the events-based write-path contracts (q_merge_bucketed,
# q_pipeline_incremental, q_stream_merge, q_type_roundtrip: bucketed and
# whole-table merges, staged swaps, appends with type widening), which read
# the tiled events table. The lineitem-based write-path contracts (e.g.
# q_full_load) stay out: ScaleData does not tile lineitem.
# q_manifest_commit (the manifest publish: routed merge lands, a planted
# crash before the commit, reads with the recorded schemas) reads the tiled
# orders table; its o_orderkey filter keeps the loaded slice at the sf0.1
# size, so at sf10 it gates the manifest path over a 100x scan.
# q_dedup_minhash_fast stays out (cap-engaged subset semantics, measured by
# the precision/coverage study instead — same note as scale_gate.sh).
#
# Usage: tools/scale_gate_sf10.sh   (env: SF10=/tmp/sf10 OUT=/tmp/verify_sf10 CPUS=32)
set -euo pipefail
cd "$(dirname "$0")/.."

SF10="${SF10:-/tmp/sf10}"
OUT="${OUT:-/tmp/verify_sf10}"
CPUS="${CPUS:-32}"
FAMILY=${FAMILY:-q_manifest_commit,q_merge_bucketed,q_pipeline_incremental,q_stream_merge,q_type_roundtrip,q_lexical_index,q_dedup_exact,q_dedup_minhash,q_dedup_pipeline,q_dedup_clusters,q_dedup_incremental,q_substring_dedup,q_line_dedup,q_url_dedup,q_url_frontier,q_url_frontier_polite,q_url_frontier_gap,q_url_frontier_robots,q_url_frontier_robots_wild,q_semantic_dedup,q_cluster_sample,q_ann_cosine,q_ann_lsh,q_ann_ivf,q_ann_ivfpq,q_embed_ann,q_stream_dedup_corpus,q_stream_url_dedup,q_warc_pipeline,q_stream_warc,q_token_budget,q_tokens_bpe}

if [ ! -d "$SF10/documents.parquet" ] || [ ! -d "$SF10/orders.parquet" ]; then
  echo "[scale_gate_sf10] tiling sf0.1 x100 -> $SF10"
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 $SF10 100" 2>&1 | grep '\[scale\]'
fi

echo "[scale_gate_sf10] verifying family at sf10 (48g driver)"
SPARK_GRAFT_ONLY="$FAMILY" SPARK_GRAFT_CPUS="$CPUS" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-48g}" \
  sbt -batch "runMain graft.Verify $SF10 $OUT" 2>&1 | grep '\[verify\]' || true

echo "[scale_gate_sf10] oracle compare (idle machine recommended; per-query, timed)"
mkdir -p /tmp/duck_spill
# one process per query: isolates DuckDB OOM poisoning and times each
# replay so the referee-CPU budget is a recorded artifact, not a guess
fail=0
# the three replays that exceed referee limits as corpus-wide SQL
# (~31B pair decisions: DuckDB segfault / >71GB spill / OOM) verify via
# tools/sampled_oracle_sf10.py instead: the SAME per-decision formulas,
# replayed exactly on deterministic samples of the decision space
# (per-group semantic replay + assignment spot-check; per-bucket minhash
# replay + drop/survivor BFS audits; per-query ANN re-score + refutation
# sweep). Exhaustively self-checked at sf0.01 (sample mods = 1).
SAMPLED="q_semantic_dedup q_stream_dedup_corpus q_embed_ann"
for q in $SAMPLED; do
  [ -d "$OUT/$q" ] || continue
  t0=$(date +%s)
  if (timeout "${QUERY_BUDGET:-1800}" python3 tools/sampled_oracle_sf10.py "$SF10" "$OUT" "$q"); then
    t1=$(date +%s); echo "[sf10-gate] $q OK-SAMPLED $((t1-t0))s"
  else
    t1=$(date +%s); echo "[sf10-gate] $q FAIL-SAMPLED $((t1-t0))s"
    fail=$((fail+1))
  fi
done
for qdir in "$OUT"/q_*; do
  q=$(basename "$qdir")
  case " $SAMPLED " in *" $q "*) continue ;; esac
  tmp=$(mktemp -d /tmp/sf10cmp_XXXX)
  ln -s "$qdir" "$tmp/$q"
  ln -s "$OUT/oracle_sql.json" "$tmp/oracle_sql.json"
  t0=$(date +%s)
  # || true: one query's crash/timeout must not kill the loop (set -e +
  # pipefail otherwise aborts the whole gate on a grep miss). QUERY_BUDGET
  # seconds per replay (default 1800) keeps a pathological oracle from
  # eating the referee's whole session; a TIMEOUT row is a documented
  # budget limit, not silent truncation.
  res=$( (timeout "${QUERY_BUDGET:-1800}" python3 tools/compare_oracle.py "$SF10" "$tmp" 2>&1 || true) \
    | grep -cE "^OK: 1|^BAD: 0" || true)
  t1=$(date +%s)
  if [ "$res" -eq 2 ]; then
    echo "[sf10-gate] $q OK $((t1-t0))s"
  elif [ $((t1-t0)) -ge "${QUERY_BUDGET:-1800}" ]; then
    echo "[sf10-gate] $q TIMEOUT $((t1-t0))s"
    fail=$((fail+1))
  else
    echo "[sf10-gate] $q FAIL $((t1-t0))s"
    fail=$((fail+1))
  fi
  rm -rf "$tmp"
done
echo "[scale_gate_sf10] failures: $fail"
exit $fail

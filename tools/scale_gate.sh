#!/bin/bash
# One-command sf1 scale-proof regression gate (BASELINE.md "sf1 scale-proof").
#
# Tiles sf0.1 x10 with graft.ScaleData, runs the scale-sensitive contract
# family through graft.Verify at sf1, and hash-compares against the DuckDB
# oracle — the caps, broadcast gates and refinement paths all ENGAGE at this
# size, where the sf0.01 driver gate leaves them cold. Record the result as a
# round row in BASELINE.md.
#
# q_manifest_commit is NOT in this gate family: its o_orderkey filter keeps
# the loaded slice at the sf0.1 size, so one scale step covers it — the sf10
# gate (tools/scale_gate_sf10.sh) runs it over the tiled orders table.
#
# q_dedup_minhash_fast is deliberately NOT in the gate family: at sf1 its
# degenerate-bucket cap engages and the operator emits a bounded subset of the
# brute-force-truth oracle BY DESIGN — its sf1 quality is measured by the
# precision/coverage study in BASELINE.md (0 violations, 99.4% coverage), not
# by hash equality.
#
# Usage: tools/scale_gate.sh   (env: SF1=/tmp/sf1 OUT=/tmp/verify_sf1 CPUS=32)
set -euo pipefail
cd "$(dirname "$0")/.."

SF1="${SF1:-/tmp/sf1}"
OUT="${OUT:-/tmp/verify_sf1}"
CPUS="${CPUS:-32}"
FAMILY=q_ann_cosine,q_bpe_budget,q_ann_ivf,q_ann_ivfpq,q_ann_lsh,q_ann_lsh_probe,q_cluster_sample,q_compact,q_corpus_pipeline,q_curation_pipeline,q_decontaminate_bloom,q_dedup_clusters,q_dedup_exact,q_dedup_incremental,q_dedup_pipeline,q_embed_ann,q_embed_ivf,q_embed_lsh,q_semantic_dedup,q_stream_dedup_corpus,q_stream_index_delta,q_token_budget,q_tokens_bpe,q_substring_dedup,q_dsir_sample,q_lexical_topk,q_hybrid_rank,q_perplexity_lm,q_hll_vocab,q_zorder,q_quantiles,q_lexical_champion,q_curation_v2,q_decontaminate_spans,q_html_extract,q_stream_quality,q_lexical_index,q_stream_span_dedup,q_quantiles_by,q_vocab_by,q_corpus_report,q_weighted_sample,q_pdf_extract,q_pdf_pipeline,q_hybrid_rank_scale,q_pdf_pipeline_champion,q_nb_quality,q_leakage_split,q_pii_scrub,q_c4_lines,q_stream_nb,q_curation_v3,q_audio_dedup,q_audio_clusters,q_audio_dedup_capped,q_video_dedup,q_video_dedup_capped,q_image_dedup,q_image_clusters,q_url_dedup,q_stream_url_dedup,q_audio_clusters_capped,q_image_clusters_capped,q_url_frontier,q_url_frontier_polite,q_url_frontier_gap,q_url_frontier_robots,q_url_frontier_robots_wild,q_warc_pipeline,q_stream_warc,q_video_clusters,q_video_clusters_capped,q_insights_jobs

if [ ! -d "$SF1/documents.parquet" ]; then
  echo "[scale_gate] tiling sf0.1 x10 -> $SF1"
  SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.ScaleData /root/testdata/sf0.1 $SF1 10" 2>&1 | grep '\[scale\]'
fi

echo "[scale_gate] verifying family at sf1"
SPARK_GRAFT_ONLY="$FAMILY" SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Verify $SF1 $OUT" 2>&1 | grep '\[verify\]' || true

echo "[scale_gate] oracle compare"
# the heaviest oracle replays NEED the spill dir to exist, and DuckDB can
# lose the memory race while the gate's Spark JVM is still resident —
# rerun any ORACLE ERROR lines with the machine idle before reading them
# as failures
mkdir -p /tmp/duck_spill
python3 tools/compare_oracle.py "$SF1" "$OUT"

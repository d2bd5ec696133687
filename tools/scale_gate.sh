#!/bin/bash
# Per-round scale proof (round 7, VERDICT #8; factor-parameterized in
# round 8): regenerate a synthetic scale-up of sf0.1 (key-offset replicas
# with text/embedding/timestamp variants, see graft.ScaleUp) and re-run
# the iterative / candidate-capped query set against it with BenchOne.
# Run this whenever an iterative loop, candidate cap, or derived sizing
# constant changes; paste the numbers into DESIGN.md's scale table at
# round close.
#
# Usage: [GRAFT_SCALE_FACTOR=N] tools/scale_gate.sh [query ...]
#   GRAFT_SCALE_FACTOR: replicas of sf0.1 (default 10 = sf1.0; up to 100
#     = sf10). Output lands in /tmp/sfN/10 (e.g. factor 30 -> /tmp/sf3.0)
#     and is reused if already generated (delete the dir to force regen).
#   default query set = the queries whose shape depends on a
#     loop/cap/derived constant.
set -euo pipefail
cd "$(dirname "$0")/.."

FACTOR="${GRAFT_SCALE_FACTOR:-10}"
DST="/tmp/sf$(python3 -c "print($FACTOR/10)")"

QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(q_dedup_cc q_dedup_simhash q_dedup_embed q_dedup_minhash
           q_dedup_near q_dedup_containment q_dedup_fuzzy q_dedup_sem
           q_sim_ann q_join_range q_join_skew q_pipeline_curate
           q_pagerank q_rank_global q_cooccur_window q_rarity_score
           q_id_gaps q_heavy_hitters q_triangles q_dedup_prefix q_zorder
           q_knn_label_acc q_cross_source_overlap q_join_size_est
           q_graph_degree_hist q_skyline)
fi

if [ ! -d "$DST" ]; then
  echo "[scale_gate] regenerating $DST from /root/testdata/sf0.1 (${FACTOR}x)"
  sbt -batch "runMain graft.ScaleUp /root/testdata/sf0.1 $DST $FACTOR"
else
  echo "[scale_gate] reusing existing $DST (delete to force regen)"
fi

echo "[scale_gate] timing ${#QUERIES[@]} queries at ${FACTOR}x (local[${SPARK_GRAFT_CPUS:-$(nproc)}])"
SPARK_GRAFT_SF_DIR="$DST" sbt -batch "runMain graft.BenchOne ${QUERIES[*]}" \
  | grep -E "\[benchone\]" || true

# Optional FULL correctness gate at this factor (round 9, VERDICT #4):
# dump every query and replay every oracle with a per-oracle timeout —
# a handful of oracles are deliberate brute-force ground-truth
# definitions (all-pairs self-joins) or pin the <=16k-doc signature
# width, so at replica scale they report TIMEOUT/FAIL by design; the
# engine side must complete everything. See DESIGN.md's 30x record.
if [ "${GRAFT_SCALE_FULL_GATE:-0}" = "1" ]; then
  OUT="/tmp/verify_scale_${FACTOR}x"
  echo "[scale_gate] full verify dump at ${FACTOR}x -> $OUT"
  rm -rf "$OUT"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
    sbt -batch "runMain graft.Verify $DST $OUT"
  echo "[scale_gate] chunked oracle compare (timeout per oracle)"
  tools/compare_chunked.sh "$DST" "$OUT" "${GRAFT_ORACLE_TIMEOUT:-180}" 4 \
    | sort | tee "/tmp/scale_gate_${FACTOR}x_compare.log" \
    | awk '{print $1}' | sort | uniq -c
fi

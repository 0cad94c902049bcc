#!/bin/bash
# Parallel test-suite runner: every tests/test_*.py file, in 8 shards.
# Shards 1-3 hold the zero-Python stream twins (test_stream_*_fb,
# test_stream_regimes, test_stream_sessions) next to lighter files, so
# no shard is empty and none of them outlasts the media/kNN shards.
# Shard 2 also runs the soak smoke test (tests/test_soak.py, one ~1 min
# tools/soak.py subprocess with its own JVM).
#
# Invariants encoded here:
# * conftest pins local[4], so 8 shards saturate the 32-core box.
# * Each shard gets its OWN SPARK_GRAFT_GRAPH_DIR — the materialize_
#   knn_graph cache is swap-unsafe across concurrent sessions.
# * test_semantic_dedup + test_oracle_extras (+ the other cache
#   consumers) share ONE shard so the build-once cache is built once
#   and never raced.
# * The script FAILS if a tests/test_*.py file is unassigned — new
#   test files must be placed here deliberately, never silently run
#   nowhere.
set -u
cd "$(dirname "$0")/.."
OUT=${SHARD_OUT:-/tmp/shards}
mkdir -p "$OUT"

declare -A GROUP
GROUP[1]="test_stream_sessions test_approx test_stream_funnels_fb test_stream_regimes"
GROUP[2]="test_sketch_search test_stream_retentions_fb test_stream_transitions_fb test_soak"
GROUP[3]="test_stream_hll test_stream_neardup test_pipeline"
GROUP[4]="test_stream_knn test_stream_dedup test_stream_join test_state_index"
GROUP[5]="test_stream_media_neardup test_multimodal"
GROUP[6]="test_semantic_dedup test_oracle_extras test_index_overlap test_incremental_dedup"
GROUP[7]="test_streaming test_stream_overlap test_stream_quantile test_stream_drift test_stream_sketch test_rollup_sink test_sinks test_ftp_sink test_dedup_skew test_contract"
GROUP[8]="test_hdr_bloom_pins test_null_corpus test_empty_inputs test_bucketing test_block_scrub test_prefix_filter test_fixture_tripwire test_resample test_windowed test_text_properties test_schemas test_lines test_sources test_load_table test_localfs"

# completeness check: every test file must be assigned exactly once
assigned=$(for i in "${!GROUP[@]}"; do echo ${GROUP[$i]}; done | tr ' ' '\n' | sort)
actual=$(ls tests/test_*.py | xargs -n1 basename | sed 's/\.py$//' | sort)
if [ "$assigned" != "$actual" ]; then
  echo "SHARD MAP OUT OF DATE — diff (assigned vs tests/):" >&2
  diff <(echo "$assigned") <(echo "$actual") >&2
  exit 2
fi

for i in 1 2 3 4 5 6 7 8; do
  files=""
  for f in ${GROUP[$i]}; do files="$files tests/$f.py"; done
  (
    export SPARK_GRAFT_GRAPH_DIR="$OUT/graph_$i"
    rm -rf "$SPARK_GRAFT_GRAPH_DIR"
    t0=$(date +%s)
    # -o addopts= clears pytest.ini's driver-budget '-m "not slow"'
    # default: the shard runner is the FULL-suite gate and must run
    # every file it is handed, slow marks included.
    python -m pytest -q -o addopts= $files >"$OUT/out_$i.txt" 2>&1
    rc=$?
    echo "exit=$rc wall=$(( $(date +%s) - t0 ))s" >>"$OUT/out_$i.txt"
  ) &
done
wait
echo "---- shard summary ----"
total_pass=0; bad=0
for i in 1 2 3 4 5 6 7 8; do
  line=$(grep -E "passed|failed|error" "$OUT/out_$i.txt" | tail -1)
  wall=$(grep -oE "wall=[0-9]+s" "$OUT/out_$i.txt" | tail -1)
  rc=$(grep -oE "exit=[0-9]+" "$OUT/out_$i.txt" | tail -1)
  echo "shard $i: $line ($wall, $rc)"
  p=$(echo "$line" | grep -oE "[0-9]+ passed" | grep -oE "[0-9]+" || echo 0)
  total_pass=$((total_pass + p))
  [ "$rc" != "exit=0" ] && bad=1
done
echo "TOTAL PASSED: $total_pass"
exit $bad

#!/usr/bin/env bash
# verify-fast: the full pytest suite, sharded one-process-per-test-file
# across parallel workers (no pytest-xdist in this environment, so the
# sharding is at the OS-process level — each worker owns its own Spark
# JVM). Coverage is identical to `python -m pytest tests/ -q`; only the
# scheduling differs. The serial run is the driver's gate and stays the
# source of truth; this is the developer loop.
#
#   scripts/verify_fast.sh            # all test files
#   scripts/verify_fast.sh tests/test_bpe.py tests/test_plans.py
#
# Tuning (env):
#   VERIFY_JOBS       parallel workers            (default nproc/4, min 1)
#   VERIFY_SPARK_CPUS local[N] cores per worker   (default 2*nproc/JOBS,
#                     at most 8: 2x oversubscribed — Spark local tests
#                     are mostly stage-latency-bound, not core-bound)
#   VERIFY_SPARK_MEM  driver memory per worker    (default half the host
#                     RAM / JOBS, min 1g — session.get_spark's rule
#                     shared across the workers)
set -u
cd "$(dirname "$0")/.."

NPROC="$(nproc)"
JOBS="${VERIFY_JOBS:-$(( NPROC / 4 > 0 ? NPROC / 4 : 1 ))}"
CPUS="${VERIFY_SPARK_CPUS:-$(( NPROC / JOBS * 2 < 8 ? NPROC / JOBS * 2 : 8 ))}"
HOST_BYTES="$(( $(getconf _PHYS_PAGES) * $(getconf PAGE_SIZE) ))"
MEM_GB="$(( HOST_BYTES / 2**31 / JOBS ))"
MEM="${VERIFY_SPARK_MEM:-$(( MEM_GB > 0 ? MEM_GB : 1 ))g}"
LOGDIR="$(mktemp -d /tmp/verify_fast.XXXXXX)"
export LOGDIR CPUS MEM

if [ "$#" -gt 0 ]; then
  FILES=("$@")
else
  # LPT greedy: known-slow files (measured r10, minutes each — the
  # end-to-end examples and the Spark-fixture-heavy suites) launch first
  # so the critical path starts at t=0; everything else follows by line
  # count as a proxy. A slow file added later just belongs in SLOW.
  SLOW=(
    tests/test_example_pipeline.py
    tests/test_example_streaming_lane.py
    tests/test_example_retrieval.py
    tests/test_streaming_curation.py
    tests/test_streaming_curation_b.py
    tests/test_provenance_lane.py
    tests/test_training_data_ops.py
    tests/test_curation_ops.py
    tests/test_degenerate_inputs.py
    tests/test_degenerate_inputs_b.py
    tests/test_streaming.py
    tests/test_streaming_media_lane.py
    tests/test_span_dedup.py
    tests/test_span_dedup_b.py
    # 3x hypothesis-seed passes each (see below) — long wall, launch early
    tests/test_properties.py
    tests/test_rounding.py
  )
  for f in "${SLOW[@]}"; do
    if [ ! -f "$f" ]; then
      echo "verify_fast.sh: SLOW names a missing test file: $f" >&2
      exit 2
    fi
  done
  FILES=("${SLOW[@]}")
  while IFS= read -r f; do
    case " ${SLOW[*]} " in *" $f "*) ;; *) FILES+=("$f") ;; esac
  done < <(wc -l tests/test_*.py | sort -rn | awk '$2 ~ /test_/ {print $2}')
fi

echo "---- verify-fast: JOBS=$JOBS CPUS=$CPUS MEM=$MEM (nproc $NPROC) ----"
start="$(date +%s)"
printf '%s\n' "${FILES[@]}" | xargs -P "$JOBS" -I{} bash -c '
  f="{}"
  log="$LOGDIR/$(basename "$f").log"
  t0=$(date +%s)
  # Hypothesis-based files run under EXTRA RANDOM SEEDS: r14 proved a
  # committed property test can pass at round close on a lucky seed and
  # fail the judge'"'"'s run (_budget_targets order-dependence) — so
  # flaky-red must surface HERE. The default derandomized pass runs
  # first (reproducible gate), then two fresh random-seed passes; all
  # three must be green for the file to count.
  case "$f" in
    tests/test_properties.py|tests/test_rounding.py)
      rc=0
      for seed in default random random; do
        if [ "$seed" = default ]; then extra=""; else extra="--hypothesis-seed=random"; fi
        SPARK_GRAFT_CPUS="$CPUS" SPARK_DRIVER_MEMORY="$MEM" \
          python -m pytest "$f" -q --no-header -p no:cacheprovider $extra >>"$log" 2>&1
        r=$?; [ "$r" -ne 0 ] && rc="$r"
      done
      ;;
    *)
      SPARK_GRAFT_CPUS="$CPUS" SPARK_DRIVER_MEMORY="$MEM" \
        python -m pytest "$f" -q --no-header -p no:cacheprovider >"$log" 2>&1
      rc=$?
      ;;
  esac
  t1=$(date +%s)
  echo "$rc $((t1 - t0))s $f" >>"$LOGDIR/status"
  if [ "$rc" -ne 0 ]; then echo "FAIL($rc) $f  [log: $log]"; fi
'
end="$(date +%s)"

echo "---- per-file (rc time file), slowest first ----"
sort -k2 -rn "$LOGDIR/status" 2>/dev/null | sed -n 1,40p
fails=$(awk '$1 != 0' "$LOGDIR/status" 2>/dev/null | wc -l)
total=$(wc -l <"$LOGDIR/status" 2>/dev/null || echo 0)
echo "---- verify-fast: $((total - fails))/$total files green in $((end - start))s (logs: $LOGDIR) ----"
if [ "$total" -ne "${#FILES[@]}" ]; then
  # a worker that died without writing its status line (OOM kill, aborted
  # xargs) must not shrink the denominator into a false all-green
  echo "MISSING: $(( ${#FILES[@]} - total )) of ${#FILES[@]} files never reported:"
  for f in "${FILES[@]}"; do
    grep -q " $f\$" "$LOGDIR/status" 2>/dev/null || echo "  $f"
  done
  exit 1
fi
if [ "$fails" -ne 0 ]; then
  awk '$1 != 0 {print "FAILED:", $3}' "$LOGDIR/status"
  exit 1
fi

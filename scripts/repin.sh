#!/bin/bash
# Re-pin the four committed bench artifacts as ONE quiet chain.
#
# The artifacts form two pairs that the growth gates (Sf1GrowthGateSpec)
# compare query-by-query, so each pair must come from the same code and
# the same session, with nothing else running on the machine:
#
#   BENCH_FULL.json      full board  at sf0.1   ~10 min
#   BENCH_SF1_FULL.json  full board  at sf1     ~25 min
#   BENCH_SF01_REF.json  heavy-38 subset at sf0.1   ~5 min
#   BENCH_SF1.json       heavy-38 subset at sf1    ~12 min
#
# Bench reads each OUT file as its contention baseline BEFORE
# overwriting it (SPARK_GRAFT_BENCH_BASELINE overrides), so run this
# from a tree where the four files hold the last GOOD committed values
# (git checkout -- BENCH*.json first if a discarded run overwrote them).
# After the chain: `sbt test` must be green (the artifact gates read the
# fresh pair) BEFORE the four files are committed together — committing
# a pair the gates reject is how round 10 shipped a red suite.
#
# Contention self-labeling: a query tripping any retry trigger gets one
# end-of-suite re-measure plus "noisy": true; gates use min(warm, retry).
# A leg whose noisy count exceeds its budget ran contended — the chain
# now DISCARDS it (restore the pre-leg file) and retries ONCE after a
# cool-down, instead of silently handing a hot leg to the gates (rounds
# 10/12 both shipped or nearly shipped contaminated legs this way). A
# leg still over budget after the retry is kept and flagged loudly for
# manual adjudication (a fresh-JVM graft.Bench subset run, README
# "Disputing a bench number") — never commit it as-is.
#
# Usage: nohup bash scripts/repin.sh > /tmp/repin_chain.log 2>&1 &
#
# REPIN_LEGS=full runs only the full-board pair (legs 1-2) — enough
# when the BOARD GREW but the heavy-38 subset (keys read from the
# committed BENCH_SF01_REF.json) is unchanged: the gates compare
# within each pair, so the pairs may come from different sessions as
# long as EACH pair is same-session, same-code.
set -e
cd "$(dirname "$0")/.."

# sf1 data: deterministic 10x replication of the sf0.1 tables. Skip if
# present (ScaleGen is deterministic, so regeneration is a no-op).
if [ ! -d target/sfgen/sf1 ]; then
  sbt -batch "runMain graft.ScaleGen /root/testdata/sf0.1 target/sfgen/sf1 10" \
    > /tmp/repin_scalegen.log 2>&1
fi

HEAVY=$(python3 -c "import json; print(','.join(sorted(json.load(open('BENCH_SF01_REF.json'))['queries'])))")

noisy_count() {
  python3 -c "
import json; q = json.load(open('$1'))['queries']
print(sum(1 for v in q.values() if isinstance(v, dict) and v.get('noisy')))"
}

# Chain-level drift: 1 when the artifact's common-row warm sum is
# within 1.10x the committed pin's (or records no drift — first pin),
# else 0. Uniform host-throttle creep trips NO per-query trigger
# (round 15 accepted a +20% leg at noisy=3); this is the gate that
# rejects the leg as a whole.
drift_ok() {
  python3 -c "
import json; d = json.load(open('$1'))
print(1 if d.get('drift', 1.0) <= 1.10 else 0)"
}

CHAIN_OK=1

# run_leg <out-file> <noisy-budget> <log> <env assignments...>
run_leg() {
  local out=$1 budget=$2 log=$3; shift 3
  cp "$out" "/tmp/repin_baseline_$(basename "$out")"
  for attempt in 1 2; do
    env "$@" sbt -batch "runMain graft.Bench" > "$log" 2>&1
    local noisy dok; noisy=$(noisy_count "$out"); dok=$(drift_ok "$out")
    echo "[repin] $out attempt $attempt: noisy=$noisy (budget $budget) drift_ok=$dok"
    if [ "$noisy" -le "$budget" ] && [ "$dok" = 1 ]; then
      # a pin carries no noisy rows: substitute the retry probe
      # (min rule — the same effectiveWarm every gate applies) and
      # drop the markers before the artifact can be committed
      python3 scripts/settle_noisy.py "$out"
      return 0
    fi
    if [ "$attempt" = 1 ]; then
      echo "[repin] $out ran contended — restoring baseline, cooling down 120s, retrying"
      cp "/tmp/repin_baseline_$(basename "$out")" "$out"
      sleep 120
    else
      echo "[repin] WARNING: $out STILL over noisy budget / drift gate after retry —"
      echo "[repin]   kept for inspection; adjudicate with a fresh-JVM graft.Bench subset run (SPARK_GRAFT_BENCH_ONLY + SPARK_GRAFT_BENCH_OUT), do NOT commit as-is"
      CHAIN_OK=0
    fi
  done
}

LEGS=${REPIN_LEGS:-all}

run_leg BENCH_FULL.json 5 /tmp/repin_full01.log \
  SPARK_GRAFT_BENCH_OUT=BENCH_FULL.json
run_leg BENCH_SF1_FULL.json 5 /tmp/repin_full1.log \
  SPARK_GRAFT_SF_DIR=target/sfgen/sf1 SPARK_GRAFT_BENCH_OUT=BENCH_SF1_FULL.json
if [ "$LEGS" = all ]; then
  run_leg BENCH_SF01_REF.json 2 /tmp/repin_ref01.log \
    SPARK_GRAFT_BENCH_ONLY="$HEAVY" SPARK_GRAFT_BENCH_OUT=BENCH_SF01_REF.json
  run_leg BENCH_SF1.json 2 /tmp/repin_ref1.log \
    SPARK_GRAFT_SF_DIR=target/sfgen/sf1 SPARK_GRAFT_BENCH_ONLY="$HEAVY" \
    SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json
fi

# Optional fifth leg: the 30x artifact (REPIN_30X=1). Keys come from
# the committed BENCH_30X.json (same derive-from-artifact rule as
# HEAVY); when the heavy set GROWS, pass the new comma-separated list
# via REPIN_30X_ONLY so the keyset-equality gate sees the new member.
# Needs target/sfgen/sf3 (ScaleGen, factor 30).
if [ "${REPIN_30X:-0}" = 1 ]; then
  if [ ! -d target/sfgen/sf3 ]; then
    sbt -batch "runMain graft.ScaleGen /root/testdata/sf0.1 target/sfgen/sf3 30" \
      > /tmp/repin_scalegen30.log 2>&1
  fi
  H30=${REPIN_30X_ONLY:-$(python3 -c "import json; print(','.join(sorted(json.load(open('BENCH_30X.json'))['queries'])))")}
  run_leg BENCH_30X.json 5 /tmp/repin_30x.log \
    SPARK_GRAFT_SF_DIR=target/sfgen/sf3 SPARK_GRAFT_BENCH_ONLY="$H30" \
    SPARK_GRAFT_BENCH_OUT=BENCH_30X.json
fi

for f in BENCH_FULL.json BENCH_SF1_FULL.json BENCH_SF01_REF.json BENCH_SF1.json; do
  python3 -c "
import json; d = json.load(open('$f')); q = d['queries']
noisy = [k for k, v in q.items() if isinstance(v, dict) and v.get('noisy')]
fails = [k for k, v in q.items() if isinstance(v, dict) and v.get('warm', 0) < 0]
print(f'$f: {len(q)} queries, total {d[\"value\"]}s, noisy {noisy or 0}, fails {fails or 0}')"
done
# Run the artifact GATES here, not just the noisy budgets: round 14's
# second sf1 leg passed its budget (noisy=1) while g2_triangles sat
# 11% over its ABSOLUTE bound — suite-position inflation the budget
# cannot see. Catching it inside the chain saves the round a full
# sbt-test discovery cycle; a red gate here means: adjudicate the
# offender with a fresh-JVM graft.Bench subset run (SPARK_GRAFT_BENCH_ONLY
# + SPARK_GRAFT_BENCH_OUT), then re-run that leg.
if sbt -batch "testOnly graft.Sf1GrowthGateSpec graft.Bench30xGateSpec" \
    > /tmp/repin_gates.log 2>&1; then
  GATES=green
else
  GATES=RED
  grep -E "FAILED|exceeded|grew " /tmp/repin_gates.log | head -20
fi
if [ "$CHAIN_OK" = 1 ] && [ "$GATES" = green ]; then
  echo "REPIN_DONE — artifact gates green; run full sbt test before committing"
else
  echo "REPIN_DONE_WITH_WARNINGS — noisy budget ($CHAIN_OK=ok) / gates ($GATES);"
  echo "  adjudicate with a fresh-JVM graft.Bench subset run (SPARK_GRAFT_BENCH_ONLY +"
  echo "  SPARK_GRAFT_BENCH_OUT) and re-run the offending leg before committing"
fi

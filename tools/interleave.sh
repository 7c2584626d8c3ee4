#!/usr/bin/env bash
# Back-to-back A/B of graft.Bench on two checkouts.
#
# Usage: tools/interleave.sh <checkoutA> <checkoutB> <pairs> <query>[,<query>...]
#
# Runs `sbt "runMain graft.Bench"` in each checkout, <pairs> times each,
# with SPARK_GRAFT_BENCH_ONLY set to the named queries plus the drift band
# (q05_semi_join, q06_anti_join, q08_distinct_agg: queries neither side
# should change, so a move there is the box drifting, not the change).
# Odd pairs run A first, even pairs B first, so a steady drift of the box
# over the run does not favour one side. Bench's own timing is untouched: each
# run warms every selected query, then reports its best of
# SPARK_GRAFT_BENCH_RUNS (default 3) timed runs per query.
#
# Prints each pair's per-query seconds, then per query the median of each
# side, B/A, and the spread (max - min) of A's runs. Trust a B/A move only
# beyond both A's spread and the drift band's own B/A moves.
#
# The environment passes through to Bench (SPARK_GRAFT_SF_DIR picks the
# input tables, SPARK_GRAFT_CPUS the cores; SBT_OPTS reaches sbt).
set -euo pipefail

if [ $# -ne 4 ]; then
  echo "usage: $0 <checkoutA> <checkoutB> <pairs> <query>[,<query>...]" >&2
  exit 2
fi
A="$(cd "$1" && pwd)"
B="$(cd "$2" && pwd)"
PAIRS="$3"
QUERIES="$4,q05_semi_join,q06_anti_join,q08_distinct_agg"
OUT="$(mktemp -d "${TMPDIR:-/tmp}/interleave.XXXXXX")"

run() { # <side> <checkout> <pair>
  echo "pair $3: $1" >&2
  (cd "$2" && SPARK_GRAFT_BENCH_ONLY="$QUERIES" SPARK_GRAFT_BENCH_OUT="$OUT/$1.$3.json" \
    sbt --batch -Dsbt.log.noformat=true "runMain graft.Bench" >/dev/null 2>"$OUT/$1.$3.err") ||
    { echo "run $1 pair $3 failed, see $OUT/$1.$3.err" >&2; exit 1; }
}

for i in $(seq 1 "$PAIRS"); do
  if [ $((i % 2)) -eq 1 ]; then run A "$A" "$i"; run B "$B" "$i"
  else run B "$B" "$i"; run A "$A" "$i"; fi
done

python3 - "$OUT" "$PAIRS" "$QUERIES" <<'EOF'
import json, statistics, sys

out, pairs, queries = sys.argv[1], int(sys.argv[2]), sys.argv[3].split(",")
band = set(queries[-3:])
reports = {side: [json.load(open(f"{out}/{side}.{i}.json")) for i in range(1, pairs + 1)]
           for side in "AB"}
bad = {side: sorted({q for r in reports[side] for q in queries
                     if q not in r["queries"] or q in r.get("failed_queries", [])})
       for side in "AB"}
if bad["A"] or bad["B"]:
    sys.exit(f"queries failed or unknown in some run: {bad}")
times = {side: [r["queries"] for r in reports[side]] for side in "AB"}
print("seconds per pair, each cell A/B")
print("pair  " + "  ".join(f"{q[:15]:>15}" for q in queries))
for i in range(pairs):
    print(f"{i + 1:>4}  " + "  ".join(
        f"{times['A'][i][q]:7.3f}/{times['B'][i][q]:<7.3f}" for q in queries))
print(f"\n{'query':<34} {'A median':>9} {'B median':>9} {'B/A':>6} {'A spread':>9}")
for q in queries:
    a = [r[q] for r in times["A"]]
    b = [r[q] for r in times["B"]]
    ma, mb = statistics.median(a), statistics.median(b)
    tag = "  (drift band)" if q in band else ""
    print(f"{q:<34} {ma:9.3f} {mb:9.3f} {mb / ma:6.3f} {max(a) - min(a):9.3f}{tag}")
print(f"\nper-run reports: {out}")
EOF

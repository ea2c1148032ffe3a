#!/usr/bin/env bash
# Paired A/B runs of the repository benchmark between two checkouts.
#
#   tools/ab_pairs.sh <parent-dir> <change-dir> <workload> <pairs> [first-seed]
#
# Runs `python3 perfbench/run.py --workload <workload> --trace 0` in each
# checkout, <pairs> times, pair i on seed first-seed+i-1 (default first seed
# 1901) and with the run length that <change-dir>/BENCHMARK.json sets. The
# side that runs first alternates from pair to pair. Each checkout builds
# its own sources into its own .bench_build/. Then, for every end-to-end
# metric of BENCHMARK.json, it prints each side's median and quartiles, the
# pairs the change won (ties count for neither side) and whether a gain
# claim holds: the change wins at least 9/10 of the pairs and the medians
# differ by more than the parent's inter-quartile distance. The bound
# column says whether the change's median is worse than the parent's by
# more than the metric's bound.
#
# Below that, per op, each side's median over the pairs of every run's
# op p50 and p90 in seconds, and the pairs the change won on each: the ops
# of hw12_points by name (mrfft, approx_outliers, exact_outliers), and the
# drained batches of hw3_stream as `batch`. They are read from the raw
# record a run leaves under <dir>/.bench_build/perfbench/runs/ (or under
# $CARGO_TARGET_DIR/perfbench/runs/), so a claim can name the op that moved.
#
# The last stdout line of every run is kept as <out>/<side>-<pair>.json and
# its raw record as <out>/<side>-<pair>.raw.json, <out> being a fresh
# directory under ${TMPDIR:-/tmp} that the script names first. A run that
# fails is reported and left out of the summary.
set -uo pipefail

usage="usage: tools/ab_pairs.sh <parent-dir> <change-dir> <workload> <pairs> [first-seed]"
PARENT=$(cd "${1:?$usage}" && pwd) || exit 2
CHANGE=$(cd "${2:?$usage}" && pwd) || exit 2
WORKLOAD=${3:?$usage}
PAIRS=${4:?$usage}
SEED0=${5:-1901}
SECONDS_RUN=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$CHANGE/BENCHMARK.json") || exit 2
OUT=$(mktemp -d "${TMPDIR:-/tmp}/ab_pairs.XXXXXX") || exit 2
echo "ab_pairs: $WORKLOAD, $PAIRS pairs of ${SECONDS_RUN} s runs, seeds $SEED0.., results in $OUT"

run() {  # run <side> <dir> <pair> <seed>
  local log="$OUT/$1-$3.log" runs raw
  if (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$4" \
        --seconds "$SECONDS_RUN" --trace 0) >"$log" 2>&1; then
    tail -n 1 "$log" >"$OUT/$1-$3.json"
    runs=${CARGO_TARGET_DIR:-.bench_build}/perfbench/runs
    [[ $runs == /* ]] || runs="$2/$runs"
    raw=$(ls -t "$runs/$WORKLOAD-seed$4-trace0-"*.raw.json 2>/dev/null | head -n 1)
    [[ -n $raw ]] && cp "$raw" "$OUT/$1-$3.raw.json"
    echo "pair $3 seed $4 $1: ok"
  else
    echo "pair $3 seed $4 $1: FAILED (see $log)"
  fi
}

for ((i = 1; i <= PAIRS; i++)); do
  seed=$((SEED0 + i - 1))
  if ((i % 2 == 1)); then
    run parent "$PARENT" "$i" "$seed"; run change "$CHANGE" "$i" "$seed"
  else
    run change "$CHANGE" "$i" "$seed"; run parent "$PARENT" "$i" "$seed"
  fi
done

python3 - "$OUT" "$PAIRS" "$CHANGE/BENCHMARK.json" <<'EOF'
import json, math, os, statistics, sys

out, pairs, bench = sys.argv[1], int(sys.argv[2]), json.load(open(sys.argv[3]))

def load(side, i):
    p = os.path.join(out, f"{side}-{i}.json")
    if not os.path.exists(p):
        return None
    r = json.load(open(p))
    return {k: m["value"] for k, m in r["metrics"].items()} if r.get("correct") else None

runs = {s: [load(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}

def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3

print(f"{'metric':<14} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} {'wins':<7} {'bound':<8} claim")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    both = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
            if p and c and name in p and name in c]
    if not both:
        print(f"{name:<14} no complete pair")
        continue
    ps, cs = [p for p, _ in both], [c for _, c in both]
    wins = sum(1 for p, c in both if (c < p if lower else c > p))
    (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
    worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
    claim = wins * 10 >= 9 * len(both) and worse < 0 and abs(cm - pm) > (p3 - p1)
    side = lambda q1, med, q3: f"{med:.4g} [{q1:.4g}, {q3:.4g}]"
    print(f"{name:<14} {side(p1, pm, p3):<30} {side(c1, cm, c3):<30} {f'{wins}/{len(both)}':<7}"
          f" {'over' if worse > m['bound'] else 'within':<8} {'holds' if claim else 'no'}")

def nearest_rank(xs, q):
    xs = sorted(xs)
    return xs[max(1, math.ceil(q * len(xs))) - 1]

def per_op(side, i):
    """op name -> latencies (s) of one run's timed phase, from its raw record."""
    p = os.path.join(out, f"{side}-{i}.raw.json")
    if runs[side][i - 1] is None or not os.path.exists(p):
        return None
    rec, lat = json.load(open(p)), {}
    for o in rec["ops"]:
        if rec["workload"] == "hw3_stream" and o["phase"] == "drain":
            lat.setdefault("batch", []).extend(b["trigger_ms"] / 1000.0 for b in o["batches"])
        elif rec["workload"] != "hw3_stream" and o["phase"] == "timed":
            lat.setdefault(o["name"], []).append(o["wall_s"])
    return lat

ops = {s: [per_op(s, i) for i in range(1, pairs + 1)] for s in ("parent", "change")}
names = sorted({n for s in ops.values() for r in s if r for n in r})
print(f"\n{'op':<16} {'stat':<5} {'parent median':<14} {'change median':<14} wins")
for n in names:
    for stat, q in (("p50", 0.5), ("p90", 0.9)):
        both = [(nearest_rank(p[n], q), nearest_rank(c[n], q))
                for p, c in zip(ops["parent"], ops["change"]) if p and c and n in p and n in c]
        if not both:
            print(f"{n:<16} {stat:<5} no complete pair")
            continue
        wins = sum(1 for p, c in both if c < p)
        print(f"{n:<16} {stat:<5} {statistics.median(p for p, _ in both):<14.4g}"
              f" {statistics.median(c for _, c in both):<14.4g} {wins}/{len(both)}")
EOF

#!/usr/bin/env bash
# Paired A/B of one perfbench workload between two checkouts.
#
# Usage: BENCH/perf_ab.sh <parent_dir> <change_dir> <workload> <seeds…>
#
# For each seed it runs `python3 perfbench/run.py --workload W --seed S
# --seconds <run_seconds of change_dir/BENCHMARK.json>` once in each
# checkout, alternating which goes first (the first seed runs the parent
# first, the second the change first, …), so drift in CPU speed or
# co-tenant load falls on both sides alike. Runs go one at a time with
# every core (perfbench's default). CPU steal over each run is read from
# the `cpu` line of /proc/stat.
#
# Stdout: one line per run (seed, side, steal %, failed/attempted and every
# end-to-end metric), then one line per metric: the median of each side,
# each side's quartile spread (IQR / median), the pairs the change wins
# (by the metric's `better` direction) and the median of the per-pair
# change/parent ratios. Each run's stderr and JSON line are kept under the
# work dir printed first.
set -euo pipefail

if [ "$#" -lt 4 ]; then
    echo "usage: $0 <parent_dir> <change_dir> <workload> <seeds…>" >&2
    exit 2
fi
PARENT="$(cd "$1" && pwd)"
CHANGE="$(cd "$2" && pwd)"
WORKLOAD="$3"
shift 3
SEEDS=("$@")
SPEC="$CHANGE/BENCHMARK.json"
SECONDS_PER_RUN="$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$SPEC")"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")"
echo "work dir: $WORK"

# cpu line of /proc/stat → "<steal> <total>" jiffies (guest time is
# already counted in user, so the total stops at steal)
cpu_jiffies() {
    awk '/^cpu / { t = 0; for (i = 2; i <= 9; i++) t += $i; print $9, t; exit }' /proc/stat
}

run_one() {  # <side> <dir> <seed>
    local side="$1" dir="$2" seed="$3" out="$WORK/$1-$3"
    read -r s0 t0 < <(cpu_jiffies)
    (cd "$dir" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$seed" \
        --seconds "$SECONDS_PER_RUN" --trace 0) > "$out.out" 2> "$out.err" || true
    read -r s1 t1 < <(cpu_jiffies)
    python3 - "$side" "$seed" "$out.out" "$((s1 - s0))" "$((t1 - t0))" "$WORK/runs.jsonl" <<'EOF'
import json, sys
side, seed, path, steal, total, runs = sys.argv[1:]
lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
res = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
r = {
    "side": side, "seed": int(seed),
    "steal_pct": 100.0 * int(steal) / max(1, int(total)),
    "attempted": res["attempted"], "failed": res["failed"], "correct": res["correct"],
    "metrics": {k: v["value"] for k, v in res["metrics"].items()},
}
with open(runs, "a") as f:
    f.write(json.dumps(r) + "\n")
ms = " ".join(f"{k}={v:.2f}" for k, v in r["metrics"].items())
print(f"seed={seed} side={side} steal={r['steal_pct']:.1f}% failed={r['failed']}/{r['attempted']} {ms}")
EOF
}

for i in "${!SEEDS[@]}"; do
    seed="${SEEDS[$i]}"
    if [ $((i % 2)) -eq 0 ]; then
        run_one parent "$PARENT" "$seed"; run_one change "$CHANGE" "$seed"
    else
        run_one change "$CHANGE" "$seed"; run_one parent "$PARENT" "$seed"
    fi
done

python3 - "$WORK/runs.jsonl" "$SPEC" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1])]
spec = {m["name"]: m for m in json.load(open(sys.argv[2]))["end_to_end"]}
by = {(r["side"], r["seed"]): r for r in runs}
seeds = sorted({r["seed"] for r in runs})

def spread(xs):
    if len(xs) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)

for name, m in spec.items():
    pairs = [
        (by[("parent", s)]["metrics"][name], by[("change", s)]["metrics"][name])
        for s in seeds
        if name in by.get(("parent", s), {}).get("metrics", {})
        and name in by.get(("change", s), {}).get("metrics", {})
    ]
    if not pairs:
        print(f"{name}: no paired runs")
        continue
    par, chg = [p for p, _ in pairs], [c for _, c in pairs]
    lower = m.get("better", "lower") == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    ratio = statistics.median(c / p for p, c in pairs if p)
    print(
        f"{name} [{m['unit']}]: parent median {statistics.median(par):.2f} "
        f"(spread {spread(par):.3f}), change median {statistics.median(chg):.2f} "
        f"(spread {spread(chg):.3f}), change wins {wins}/{len(pairs)}, "
        f"paired median ratio {ratio:.3f}"
    )
failed = sum(r["failed"] for r in runs)
bad = sum(not r["correct"] for r in runs)
print(f"runs: {len(runs)}, failed ops: {failed}, runs not correct: {bad}, "
      f"max steal: {max(r['steal_pct'] for r in runs):.1f}%")
EOF

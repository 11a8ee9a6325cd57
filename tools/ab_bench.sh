#!/usr/bin/env bash
# Same-box A/B of the repo benchmark: a base revision against the working
# tree, N seed pairs in alternating order (even pairs run the base first,
# odd pairs the working tree first), then per-metric medians, quartiles
# and win counts.
#
#   tools/ab_bench.sh [-w workload] [-n pairs] [-s first_seed] [-t seconds]
#                     [-b base_rev] [-o out_dir]
#
# Defaults: -w ingest_mixed -n 10 -s 101 -t 5 -o /tmp/ab_bench.<pid>.
# The base revision defaults to HEAD when tracked files have uncommitted
# changes (the change under test is the working tree) and to HEAD~1
# otherwise (the change under test is the last commit). The base is
# checked out as a detached `git worktree` under /tmp and removed on exit;
# set AB_BASE_DIR to an existing checkout of the base to use it instead.
# Each side builds and runs from its own checkout with perfbench/run.py,
# `--trace 0`. Every run's JSON line is kept in <out_dir>/runs.jsonl.
#
# Each metric's direction (`better`) and relative bound come from
# BENCHMARK.json. The verdict column reads:
#   gain              the change wins >= 9 of 10 pairs and its median is
#                     better than the base median by more than the base's
#                     interquartile range;
#   worse than bound  the change's median is worse than the base's by more
#                     than the metric's bound;
#   unresolved        the metric has no bound, or the base's interquartile
#                     range is wider than the bound (too noisy to tell);
#   within bound      otherwise.
set -euo pipefail

workload=ingest_mixed pairs=10 seed0=101 seconds=5 base="" out=""
while getopts "w:n:s:t:b:o:" opt; do
  case $opt in
    w) workload=$OPTARG ;; n) pairs=$OPTARG ;; s) seed0=$OPTARG ;;
    t) seconds=$OPTARG ;; b) base=$OPTARG ;; o) out=$OPTARG ;;
    *) sed -n '2,28p' "$0"; exit 2 ;;
  esac
done

repo=$(git rev-parse --show-toplevel)
cd "$repo"
if [ -z "$base" ]; then
  if git diff --quiet HEAD --; then base=HEAD~1; else base=HEAD; fi
fi
base_sha=$(git rev-parse --short "$base")
out=${out:-/tmp/ab_bench.$$}
mkdir -p "$out"

if [ -n "${AB_BASE_DIR:-}" ]; then
  base_dir=$AB_BASE_DIR
else
  base_dir=/tmp/ab_base_$base_sha.$$
  git worktree add --detach "$base_dir" "$base" >&2
  trap 'git -C "$repo" worktree remove --force "$base_dir" >/dev/null 2>&1 || true' EXIT
fi
echo "[ab] base $base ($base_sha) in $base_dir; change = working tree $repo" >&2
echo "[ab] $workload, $pairs pairs from seed $seed0, ${seconds}s windows; runs in $out" >&2

run() { # side dir seed
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 2>>"$out/stderr.log" | tail -n 1) || true
  [ -n "$line" ] || line='{"correct": false, "attempted": 0, "failed": 0, "metrics": {}}'
  echo "{\"side\": \"$1\", \"seed\": $3, \"run\": $line}" >> "$out/runs.jsonl"
  echo "[ab] seed $3 $1: $line" >&2
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then run base "$base_dir" $seed; run change "$repo" $seed
  else run change "$repo" $seed; run base "$base_dir" $seed; fi
done

python3 - "$out/runs.jsonl" "$repo/BENCHMARK.json" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))
decl = {m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
for r in runs:  # perfbench prints each metric as {"value": v, "unit": u}
    r["run"]["metrics"] = {k: v["value"] if isinstance(v, dict) else v
                           for k, v in r["run"].get("metrics", {}).items()}
by = {}
for r in runs:
    by.setdefault(r["seed"], {})[r["side"]] = r["run"]
pairs = [p for p in by.values() if "base" in p and "change" in p]

def quart(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q[0], statistics.median(xs), q[2]

def verdict(better, bound, wins, n, bq, cq):
    gain = (cq[1] - bq[1]) * (1 if better == "higher" else -1)  # > 0: better
    iqr = bq[2] - bq[0]
    if wins >= 0.9 * n and gain > iqr:
        return "gain"
    if bound is None or not bq[1]:
        return "unresolved"
    if -gain > bound * abs(bq[1]):
        return "worse than bound"
    if iqr > bound * abs(bq[1]):
        return "unresolved"
    return "within bound"

names = sorted({m for p in pairs for s in p.values() for m in s.get("metrics", {})})
print(f"{len(pairs)} pairs; failed ops base/change: "
      f"{sum(p['base'].get('failed', 0) for p in pairs)}/"
      f"{sum(p['change'].get('failed', 0) for p in pairs)}; incorrect runs: "
      f"{sum(not p['base'].get('correct') for p in pairs)}/"
      f"{sum(not p['change'].get('correct') for p in pairs)}")
print(f"{'metric':<16} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} "
      f"{'delta':>8} {'wins':>6} {'bound':>6}  verdict")
for m in names:
    both = [p for p in pairs if m in p["base"]["metrics"] and m in p["change"]["metrics"]]
    if not both or m not in decl:
        continue
    better, bound = decl[m]["better"], decl[m].get("bound")
    b = [p["base"]["metrics"][m] for p in both]
    c = [p["change"]["metrics"][m] for p in both]
    wins = sum((y > x) if better == "higher" else (y < x) for x, y in zip(b, c))
    bq, cq = quart(b), quart(c)
    delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
    fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
    bnd = f"{bound:.0%}" if bound is not None else "-"
    print(f"{m:<16} {fmt(bq):>30} {fmt(cq):>30} {delta:>7.1f}% {wins:>3}/{len(both)} "
          f"{bnd:>6}  {verdict(better, bound, wins, len(both), bq, cq)}")
EOF

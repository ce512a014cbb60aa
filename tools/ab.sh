#!/bin/bash
# Same-window A/B pairs on the repository benchmark.
#
#   tools/ab.sh <parent-ref> <workload> <seed>...
#
# Exports <parent-ref> into a temporary directory (git archive, so the
# repository's own git state is untouched), then for each seed runs
# `perfbench/run.py --seconds 20 --trace 0` once on the parent and once
# on this working tree, the parent first on every other seed and second
# on the rest, so neither side always runs on a cooler host. Prints every run
# (and the end of the stderr of a run that printed no result), then per
# end-to-end metric of BENCHMARK.json each side's median and quartiles, the
# change's median gain and how many pairs it won, over the pairs whose two
# runs both answered every op correctly; the other pairs are dropped and
# counted. The temporary files honour TMPDIR and are removed on exit.
set -euo pipefail
if [ $# -lt 3 ]; then
  echo "usage: $0 <parent-ref> <workload> <seed>..." >&2
  exit 2
fi
ref=$1 workload=$2
shift 2
root=$(cd "$(dirname "$0")/.." && pwd)
parent=$(mktemp -d)
runs=$(mktemp)
err=$(mktemp)
trap 'rm -rf "$parent" "$runs" "$err"' EXIT
git -C "$root" archive "$ref" | tar -x -C "$parent"
echo "parent $(git -C "$root" rev-parse --short "$ref"), change" \
  "$(git -C "$root" rev-parse --short HEAD) + working tree, workload $workload"

run() { # side dir seed
  local out status=0
  out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds 20 --trace 0 2>"$err" | tail -n 1) || status=$?
  if [ "$status" -ne 0 ] || [[ "$out" != "{"* ]]; then
    echo "$1 seed=$3 exited $status without a result; its stderr ends:" >&2
    tail -n 20 "$err" >&2
    out=none
  fi
  echo "$1 $3 $out" >> "$runs"
  echo "$1 seed=$3 $out"
}
i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$parent" "$seed"
    run change "$root" "$seed"
  else
    run change "$root" "$seed"
    run parent "$parent" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$runs" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
runs = {"parent": {}, "change": {}}
for line in open(sys.argv[1]):
    side, seed, out = line.split(" ", 2)
    runs[side][seed] = json.loads(out) if out.startswith("{") else None
# a pair counts only when both runs printed a result and answered every
# op correctly (a run is correct exactly when none of its ops failed)
valid = [(p, runs["change"].get(seed)) for seed, p in runs["parent"].items()
         if p and p["correct"] and (runs["change"].get(seed) or {}).get("correct")]
dropped = len(runs["parent"]) - len(valid)
print(f"pairs: {len(valid)} valid, {dropped} dropped (a run without a "
      f"result, or with a failed op)")
def q(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3
for m in json.load(open(sys.argv[2]))["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
             for p, c in valid]
    if len(pairs) < 2:
        continue
    ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
    (p1, pm, p3), (c1, cm, c3) = q(ps), q(cs)
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    gain = (pm - cm) if lower else (cm - pm)
    print(f"{name} ({m['better']} is better): parent median {pm:.3f} "
          f"[q1 {p1:.3f}, q3 {p3:.3f}], change median {cm:.3f} "
          f"[q1 {c1:.3f}, q3 {c3:.3f}]; change better in {wins}/{len(pairs)} "
          f"valid pairs ({dropped} dropped); median gain {gain:+.3f} "
          f"({gain / pm:+.1%}) against a parent quartile spread of "
          f"{p3 - p1:.3f}")
EOF

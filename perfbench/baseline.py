#!/usr/bin/env python3
"""Write `perfbench/LEDGER.md`: for each workload, the per-module cost
table of a traced run and the tracing overhead (the traced run's op wall
minus an untraced run's, same seed, run back to back).

    python3 perfbench/baseline.py [--seed 1] [--seconds 20]
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ledger   # noqa: E402
import run      # noqa: E402


def bench(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=run.ROOT, stdout=subprocess.PIPE, text=True, check=True)
    wall = time.time() - t0
    with open(os.path.join(run.WORK, workload, "result.json")) as f:
        result = json.load(f)
    return json.loads(proc.stdout.strip().splitlines()[-1]), result, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    out = ["# Baseline cost ledger", "",
           f"Seed {args.seed}, `--seconds {args.seconds:g}`, written by "
           "`perfbench/baseline.py`. Per-op means over the timed ops of one "
           "traced run; `driver self` is op wall minus the union of the op's "
           "job intervals.", ""]
    for w in run.WORKLOADS:
        plain, res0, wall0 = bench(w, args.seed, args.seconds, 0)
        traced, res1, wall1 = bench(w, args.seed, args.seconds, 1)
        _, recs = ledger.per_layer(res1)
        op0 = sum(o["wall_s"] for o in res0["ops"]) / len(res0["ops"])
        op1 = sum(o["wall_s"] for o in res1["ops"]) / len(res1["ops"])
        kinds = sorted({o["kind"] for o in res1["ops"]})
        out += [f"## {w}", "",
                f"{len(res1['ops'])} timed ops ({', '.join(kinds)}); "
                f"failed {traced['failed']}/{traced['attempted']}.", "",
                ledger.ledger_table(recs), "",
                f"- Tracing overhead: mean op wall {op1:.3f} s traced vs "
                f"{op0:.3f} s untraced ({op1 - op0:+.3f} s per op); whole "
                f"process {wall1:.1f} s vs {wall0:.1f} s. One pair of runs: "
                "a difference inside the run-to-run spread is no overhead "
                "this can resolve.",
                "- Untraced end-to-end: " + ", ".join(
                    f"`{k}` {v['value']:.3f} {v['unit']}"
                    for k, v in plain["metrics"].items()) + ".",
                "- Traced per-layer (nonzero): " + ", ".join(
                    f"`{k}` {v['value']:.4g} {v['unit']}"
                    for k, v in traced["metrics"].items() if v["value"]) + ".",
                ""]
    with open(os.path.join(HERE, "LEDGER.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()

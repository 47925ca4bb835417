"""Run the benchmark several times and print its summary.

    python3 perfbench/report.py                      # every workload, 5 seeds, 2 traced runs
    python3 perfbench/report.py --workloads nested_hof --runs 10 --traced 0

For each workload it makes ``--runs`` untraced runs on seeds 1..runs and
prints every end-to-end metric as the median over runs with quartiles,
the spread (interquartile distance over median) and the sample count,
plus ``ops_failed_frac``. It then makes ``--traced`` traced runs on seed
1 and prints the per-layer table (median over traced runs), the tracing
overhead (traced minus untraced pass wall), which count-signature
metrics repeated exactly across the traced runs, and the layer split the
workloads were chosen for. Runs last BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from run import HERE, ROOT, quartiles

SIGNATURE = [
    "driver.jobs", "driver.stages", "driver.tasks",
    "io.input_bytes", "shuffle.write_bytes", "python.bytes_sent",
]


def bench_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {out.returncode}")
    for line in lines[:-1]:
        if line.startswith("# FAILED"):
            print(f"  {workload} seed {seed}: {line[2:]}")
    return json.loads(lines[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=None, help="comma-separated; default: BENCHMARK.json's")
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--traced", type=int, default=2)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    layers: dict = {}
    for w in names:
        runs = [bench_run(w, s, seconds, 0) for s in range(1, args.runs + 1)]
        traced = [bench_run(w, 1, seconds, 1) for _ in range(args.traced)]
        att = sum(r["attempted"] for r in runs)
        fail = sum(r["failed"] for r in runs)
        print(f"\n== {w}: {len(runs)} runs, {att} operations, ops_failed_frac {fail / att:.4f} (ratio)")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  n")
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, q2, q3 = quartiles(vals)
            unit = runs[0]["metrics"][m]["unit"]
            print(f"  {m:<14}{q2:>12.4f}{q1:>12.4f}{q3:>12.4f}{(q3 - q1) / q2:>9.3f}"
                  f"{bounds[m]:>7}  {len(vals)}  {unit}")
        if not traced:
            continue
        layer = {
            k: statistics.median(t["metrics"][k]["value"] for t in traced)
            for k in traced[0]["metrics"]
        }
        layers[w] = layer
        print("  per layer (median of traced runs, per timed pass):")
        for k, v in layer.items():
            print(f"    {k:<34}{v:>16.4f} {traced[0]['metrics'][k]['unit']}")
        untraced = statistics.median(r["metrics"]["wall_s"]["value"] for r in runs)
        print(f"  tracing overhead: {layer['trace.wall_s'] - untraced:+.4f} s "
              f"(traced {layer['trace.wall_s']:.4f} s vs untraced {untraced:.4f} s)")
        if len(traced) > 1:
            same = [k for k in SIGNATURE if len({t["metrics"][k]["value"] for t in traced}) == 1]
            print(f"  signature repeating exactly over {len(traced)} traced runs: {same}")
            print(f"  signature varying: {[k for k in SIGNATURE if k not in same]}")
            print("  signature: " + ", ".join(f"{k}={layer[k]:.0f}" for k in SIGNATURE))
    if len(layers) > 1:
        print("\n== layer split")

        def share(w, k):
            return layers[w][k] / layers[w]["trace.wall_s"]

        def per_byte(w):
            b = layers[w]["io.input_bytes"]
            return layers[w]["driver.tasks"] / b if b else float("inf")

        for label, fn in (
            ("io.scan_s / wall_s", lambda w: share(w, "io.scan_s")),
            ("python.run_s", lambda w: layers[w]["python.run_s"]),
            ("driver.tasks per input byte", per_byte),
            ("lakehouse.output_bytes", lambda w: layers[w]["lakehouse.output_bytes"]),
        ):
            print(f"  {label:<30}" + "  ".join(f"{w}={fn(w):.6g}" for w in layers))
    return 0


if __name__ == "__main__":
    sys.exit(main())

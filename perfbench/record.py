#!/usr/bin/env python3
"""Produces the numbers RESULTS.md records, by running perfbench/run.py.

    python3 perfbench/record.py spread --workload trickle --seeds 1-10
        Untraced runs on each seed; prints each end-to-end metric's median
        and quartile spread (IQR / median, as statistics.quantiles(n=4)
        gives the quartiles) next to its bound from BENCHMARK.json, then
        each run's host steal share and number of timed cycles.

    python3 perfbench/record.py rollup --workload trickle --seed 1 [--cores 1]
        One untraced and one traced run on the same seed; prints the traced
        per-layer roll-up and the tracing overhead (traced / untraced - 1) of
        every timing metric.

Run from the root of a checkout. Runs are sequential and each waits for the
previous one to end.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload, seed, trace, seconds, cores):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.monotonic() - t0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    report = json.loads((BENCH / "out" / f"report-{workload}-s{seed}-t{trace}-c{cores}.json").read_text())
    report["run_wall_s"] = wall  # the whole run.py call, set-up and exit included
    if not result["correct"]:
        sys.exit(f"{workload} seed {seed} trace {trace}: incorrect run: {report['gate_misses']}")
    return result, report


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(a, bench):
    rows = {}
    runs = []
    for s in seeds(a.seeds):
        result, report = run(a.workload, s, 0, bench["run_seconds"], a.cores)
        for k, v in result["metrics"].items():
            rows.setdefault(k, []).append(v["value"])
        runs.append((s, report["cpu_steal_share"], report["samples"]["freshness"]["n"],
                     report["run_wall_s"]))
        print(f"seed {s}: attempted {result['attempted']} failed {result['failed']}", file=sys.stderr)
    print(f"| metric | median | IQR/median | bound | values |\n|---|---|---|---|---|")
    for m in bench["end_to_end"]:
        xs = rows[m["name"]]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        vals = " ".join(f"{x:.4g}" for x in xs)
        print(f"| {m['name']} | {med:.4g} {m['unit']} | {(q3 - q1) / med:.3f} | {m['bound']} | {vals} |")
    print("\n| seed | host steal % | cycles | run wall s |\n|---|---|---|---|")
    for s, steal, cycles, wall in runs:
        print(f"| {s} | {100 * steal:.2f} | {cycles} | {wall:.1f} |")


def rollup(a, bench):
    _, plain = run(a.workload, a.seed, 0, bench["run_seconds"], a.cores)
    _, traced = run(a.workload, a.seed, 1, bench["run_seconds"], a.cores)
    layers = traced["per_layer"]
    wall = layers["rollup.traced_wall_ms"]
    parts = [k for k in layers if k.startswith("rollup.") and k != "rollup.traced_wall_ms"]
    print(f"{a.workload}, seed {a.seed}, local[{a.cores}], traced wall {wall:.0f} ms")
    print("| part | ms | share |\n|---|---|---|")
    for k in parts:
        print(f"| {k} | {layers[k]:.0f} | {layers[k] / wall:.3f} |")
    print(f"| sum | {sum(layers[k] for k in parts):.0f} | |")
    print("\nmerge shapes (Silver):", {k: layers[k] for k in layers if k.startswith("table.merge_shape")})
    print("jobs per Silver commit:", round(layers["table.jobs_per_commit"], 2))
    print("\n| timing | untraced | traced | overhead |\n|---|---|---|---|")
    for k, v in plain["end_to_end"].items():
        if k.endswith("_p50_s"):
            t = traced["end_to_end"][k]
            print(f"| {k} | {v:.4g} | {t:.4g} | {t / v - 1:+.3f} |")
    print("\nper-layer:", json.dumps(layers, indent=None))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["spread", "rollup"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    (spread if a.mode == "spread" else rollup)(a, bench)


if __name__ == "__main__":
    main()

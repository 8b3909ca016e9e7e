#!/usr/bin/env python3
"""Run the benchmark several times and summarise it against its own bounds.

    python3 perfbench/report.py --runs 10 --out perfbench/results/head.json [workload ...]

For each workload (all in BENCHMARK.json by default) this makes --runs
untraced runs, seed 1..N, and one traced run with seed 1. It prints, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
next to the metric's bound; per workload, the traced run's per-layer
numbers and the tracing overhead (traced value / untraced median - 1 for
each end-to-end metric). With --out it writes all of that as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    started = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace} failed (exit {r.returncode}):\n{r.stderr[-2000:]}")
    side = json.loads(lines[-2]) if len(lines) > 1 else {}
    return json.loads(lines[-1]), side, time.monotonic() - started


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--no-trace", action="store_true", help="skip the traced run")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    summary = {"run_seconds": seconds, "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            res, side, wall = run(w, seed, seconds, 0)
            runs.append({"seed": seed, "wall_s": round(wall, 1), "result": res,
                         "provenance": side.get("provenance"), "notes": side.get("notes")})
            print(f"{w} seed {seed}: {wall:.1f} s, " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())), flush=True)
        e2e = {}
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            s = spread(vals) if len(vals) > 1 else 0.0
            e2e[name] = {"median": med, "spread": s, "bound": bound, "values": vals}
            print(f"  {name:12s} median {med:12.4f}  spread {s:6.3f}  bound {bound}")
        entry = {"e2e": e2e, "runs": runs}
        if not args.no_trace:
            res, side, wall = run(w, args.first_seed, seconds, 1)
            layers = {k: v["value"] for k, v in res["metrics"].items()}
            overhead = {n: layers["traced." + n] / e2e[n]["median"] - 1
                        for n in e2e if "traced." + n in layers}
            entry["traced"] = {"seed": args.first_seed, "wall_s": round(wall, 1),
                               "layers": layers, "overhead": overhead,
                               "provenance": side.get("provenance")}
            print("  tracing overhead: " + ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()))
        summary["workloads"][w] = entry
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()

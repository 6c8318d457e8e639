#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads ingest_replay,http_mixed \
        --seeds 1-10 [--trace 0] [--out perfbench/results/<name>.json] \
        [--against <untraced --out file>]

Runs ``run.py`` once per (workload, seed), one at a time, from the
repository root, with ``run_seconds`` from BENCHMARK.json.  For every
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread (Q3 - Q1) / median, next to the metric's bound.  ``--out``
keeps every raw sample, each run's host line and its report line.  With
``--trace 1 --against <file of an untraced set>`` it also prints the
tracing overhead: each ``traced.<metric>`` median against the untraced
median of ``<metric>``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for w in args.workloads.split(","):
        for seed in seeds_of(args.seeds):
            t = time.time()
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(args.trace)],
                capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            runs.append({"workload": w, "seed": seed, "wall_s": time.time() - t,
                         "result": res, "report": json.loads(lines[-2]),
                         "host": json.loads(lines[-3])["host"]})
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} wall={time.time() - t:.1f}s", flush=True)
            if not res["correct"] or res["failed"]:
                print(f"{lines[-3]}\n{p.stderr[-3000:]}", file=sys.stderr)
    summary = {}
    for w in args.workloads.split(","):
        rs = [r["result"] for r in runs if r["workload"] == w]
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            summary[f"{w}/{name}"] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                      "bound": bounds.get(name), "values": vals}
            b = bounds.get(name)
            flag = "" if b is None or spread < b / 3 else "  <-- spread >= bound/3"
            print(f"{w:14s} {name:28s} median={med:12.4f} spread={spread:.3f}"
                  f" bound={b}{flag}")
    if args.against:
        with open(args.against) as f:
            base = json.load(f)["summary"]
        for key, v in summary.items():
            w, name = key.split("/", 1)
            if name.startswith("traced.") and f"{w}/{name[7:]}" in base:
                b = base[f"{w}/{name[7:]}"]["median"]
                print(f"{w:14s} tracing overhead on {name[7:]:22s} {v['median'] / b - 1:+.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

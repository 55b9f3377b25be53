#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarize it.

    python3 perfbench/sweep.py --seeds 1-10 [--trace-seeds 1-2]
                               [--workloads bulk_cow trickle_mor]
                               [--out perfbench/baseline.json]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
from the checkout root. For every end-to-end metric it reports the
median, the quartiles (``statistics.quantiles(n=4)``) and their spread
as a share of the median, next to the metric's bound from
``BENCHMARK.json``. Traced runs (``--trace-seeds``) add the per-layer
medians and the tracing overhead: the traced end-to-end median over the
untraced one, minus one. An overhead no larger than the untraced runs'
own spread is marked unresolved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           + proc.stderr[-2000:])
    out = json.loads(lines[-1])
    for key in ("host", "e2e"):
        out[key] = next(json.loads(line[len(key) + 1:]) for line in lines
                        if line.startswith(key + " "))
    out["wall_s"] = time.time() - t0
    return out


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="")
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": spec["run_seconds"], "seeds": args.seeds,
                    "trace_seeds": args.trace_seeds, "workloads": {}}
    for w in workloads:
        runs = [run_once(w, s, spec["run_seconds"], 0)
                for s in _seeds(args.seeds)]
        traced = [run_once(w, s, spec["run_seconds"], 1)
                  for s in _seeds(args.trace_seeds)] if args.trace_seeds \
            else []
        rep = {
            "correct": all(r["correct"] for r in runs + traced),
            "failed": sum(r["failed"] for r in runs + traced),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "end_to_end": {},
        }
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bound
            if traced:
                s["trace_overhead"] = statistics.median(
                    r["e2e"][name] for r in traced) / s["median"] - 1
                s["trace_overhead_resolved"] = (
                    abs(s["trace_overhead"]) > s["spread"])
            rep["end_to_end"][name] = s
        if traced:
            rep["per_layer"] = {
                m: statistics.median(r["metrics"][m]["value"] for r in traced)
                for m in traced[0]["metrics"]}
        report["workloads"][w] = rep
        report["host"] = {k: v for k, v in runs[0]["host"].items()
                          if k != "jvm_peak_rss_mb"}
        for name, s in rep["end_to_end"].items():
            print(f"{w:12s} {name:20s} median={s['median']:.4g} "
                  f"spread={s['spread']:.3f} bound={s['bound']}"
                  + (f" trace_overhead={s['trace_overhead']:+.3f}"
                     + ("" if s["trace_overhead_resolved"]
                        else " (unresolved)")
                     if "trace_overhead" in s else ""))
        print(f"{w:12s} wall median={rep['wall_s']['median']:.1f}s "
              f"max={max(rep['wall_s']['values']):.1f}s "
              f"correct={rep['correct']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run the benchmark several times per workload and report it.

    python3 perfbench/report.py [--workloads a,b] [--seeds 1,2,3,4,5]
                                [--seconds 20] [--no-trace]

Run from the root of an engine checkout. For each workload it starts
one untraced ``run.py`` per seed, then one traced run, one after
another, and prints:

- every end-to-end metric by name and unit, as the median with the
  first and third quartiles over the runs, and the spread
  (Q3 - Q1) / median beside the metric's bound from ``BENCHMARK.json``;
- ``failed_frac``: failed query runs over attempted ones;
- the tracing overhead: the traced pass's wall time minus the untraced
  median ``wall_s``, and how many per-query layer-sum checks failed.

The full report is also written to ``perfbench/_work/report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)

from workloads import DEFAULT_SEED, WORKLOADS  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run.py exited "
                         f"{proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def bounds() -> dict[str, float]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except OSError:
        return {}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seeds", default=",".join(
        str(DEFAULT_SEED + i) for i in range(5)))
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--no-trace", action="store_true")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    bound = bounds()

    report = {}
    for wl in args.workloads.split(","):
        runs = [run_once(wl, s, args.seconds, 0) for s in seeds]
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        metrics = {}
        for name, first in runs[0]["metrics"].items():
            values = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = quartiles(values)
            metrics[name] = {"unit": first["unit"], "median": med, "q1": q1,
                             "q3": q3, "spread": (q3 - q1) / med,
                             "values": values}
        out = {"seeds": seeds, "failed_frac": failed / attempted,
               "attempted": attempted, "metrics": metrics}
        if not args.no_trace:
            traced = run_once(wl, seeds[0], args.seconds, 1)["metrics"]
            out["trace_overhead_s"] = (traced["trace.wall_s"]["value"]
                                       - metrics["wall_s"]["median"])
            out["layer_checks_failed"] = traced["trace.failed_checks"][
                "value"]
            out["trace"] = traced
        report[wl] = out

        print(f"{wl}  ({len(seeds)} runs, seeds {args.seeds})")
        for name, m in metrics.items():
            b = bound.get(name)
            print(f"  {name:12} {m['median']:10.3f} {m['unit']:3} "
                  f"[Q1 {m['q1']:.3f}, Q3 {m['q3']:.3f}]  spread "
                  f"{m['spread']:.4f}"
                  + ("" if b is None else f" (bound {b}, {m['spread']/b:.2f}"
                     " of it)"))
        print(f"  failed_frac  {out['failed_frac']:.4f} "
              f"({failed} of {attempted} query runs)")
        if "trace_overhead_s" in out:
            print(f"  tracing overhead {out['trace_overhead_s']:+.3f} s; "
                  f"layer-sum checks failed: {out['layer_checks_failed']}")
        sys.stdout.flush()

    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    with open(os.path.join(HERE, "_work", "report.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

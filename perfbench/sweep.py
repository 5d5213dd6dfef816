#!/usr/bin/env python3
"""Run the benchmark over several seeds and collect every result.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads a,b] [--trace-seed 1] \\
        [--out perfbench/baseline.json]

Runs ``run.py`` once per workload and seed, one at a time, then a traced
run per workload when ``--trace-seed`` is given. For each end-to-end
metric it writes every value with its median, quartiles and spread
(quartile distance / median, the figure compared with the metric's
bound). It also writes each run's samples and host facts, and the
per-layer metrics of the traced runs.
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(report line, result line) of one run; raises if it failed."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    out = {"seconds": spec["run_seconds"], "workloads": {}}
    for w in args.workloads.split(","):
        runs, metrics = [], {}
        for s in seeds(args.seeds):
            report, result = run(w, s, spec["run_seconds"], 0)
            runs.append({k: report[k] for k in ("seed", "host", "samples", "n_ops",
                                                "window_s", "end_to_end")})
            for name, m in result["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
            print(w, s, {k: round(v[-1], 3) for k, v in metrics.items()}, flush=True)
        entry = {"end_to_end": {k: summary(v) for k, v in metrics.items()}, "runs": runs}
        if args.trace_seed is not None:
            report, _ = run(w, args.trace_seed, spec["run_seconds"], 1)
            entry["per_layer"] = {"seed": args.trace_seed, **report["per_layer"]}
        out["workloads"][w] = entry
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, e in out["workloads"].items():
        for k, v in e["end_to_end"].items():
            print(f"{w:13s} {k:12s} median={v['median']:.4g} spread={v['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

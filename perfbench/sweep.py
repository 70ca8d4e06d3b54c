#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workloads etl_bulk analytic_9q --seeds 1-10 \\
        --out perfbench/baselines/set1.json

For every workload and seed it runs ``run.py`` once, untraced, with
``--seconds`` from BENCHMARK.json; keeps the result line and the context
line; and reports per metric the median, the quartiles
(``statistics.quantiles(n=4)``), the spread (interquartile distance over
the median) against the metric's bound, and the runs' wall times.
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
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}

    runs, summaries = [], {}
    for w in args.workloads:
        per_metric: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            cmd = [sys.executable, *spec["command"][1:], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            context = json.loads(lines[-2]) if result and len(lines) > 1 else None
            runs.append({"workload": w, "seed": seed, "rc": p.returncode, "wall_s": wall,
                         "result": result, "context": context})
            print(json.dumps({"workload": w, "seed": seed, "rc": p.returncode,
                              "wall_s": round(wall, 1),
                              "correct": result and result["correct"],
                              "metrics": result and {k: round(v["value"], 4)
                                                     for k, v in result["metrics"].items()}}),
                  flush=True)
            for k, v in (result or {}).get("metrics", {}).items():
                per_metric.setdefault(k, []).append(v["value"])
        summaries[w] = {k: {**summary(v), "bound": bounds.get(k)} for k, v in per_metric.items()}
        summaries[w]["wall_s"] = summary([r["wall_s"] for r in runs if r["workload"] == w])
    for w, ms in summaries.items():
        for k, s in ms.items():
            print(f"{w:<12} {k:<14} median {s['median']:.4f} spread {s['spread']:.4f}"
                  f" bound {s.get('bound')}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"summary": summaries, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Span report for a traced benchmark run.

    python3 perfbench/report.py .bench_out/spans_etl_bulk_seed1.json [--untraced-work-s 54.2]

Prints, per span path (root/layer/operation), the number of spans, their
inclusive and self time (duration minus the part covered by child spans)
and their summed Spark and file counts; then, per root span, the share of
its wall time that named child spans cover. Exits 1 when a medallion
pass (root ``pass``) has less than MIN_COVERAGE of its time under layer
spans. With ``--untraced-work-s`` (the first pass's ``wall_s`` under
``units`` in the info line of an untraced run of the same workload and
seed) it also prints the tracing overhead.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402

MIN_COVERAGE = 0.90
COUNT_KEYS = ("jobs", "stages", "rows_written", "shuffle_bytes", "spill_bytes", "gc_s",
              "files_written", "bytes_written")


def summarize(spans: list[tracing.Span]) -> tuple[list[dict], list[dict]]:
    """(per-path rows, per-root coverage rows)."""
    kids: dict[int | None, list[tracing.Span]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    by_id = {s.id: s for s in spans}

    def path(s: tracing.Span) -> str:
        return s.name if s.parent is None else f"{path(by_id[s.parent])}/{s.name}"

    rows: dict[str, dict] = {}
    for s in spans:
        name = path(s)
        r = rows.setdefault(name, {"name": name, "n": 0, "incl_s": 0.0, "self_s": 0.0,
                                   **{k: 0 for k in COUNT_KEYS}})
        r["n"] += 1
        r["incl_s"] += s.duration
        r["self_s"] += tracing.self_time(s, kids[s.id])
        for k in COUNT_KEYS:
            r[k] += s.counts.get(k, 0)
    roots = []
    for s in kids[None]:
        cov = tracing.covered(s.start, s.end, [(c.start, c.end) for c in kids[s.id]])
        roots.append({"name": s.name, "wall_s": s.duration,
                      "coverage": cov / s.duration if s.duration else 1.0})
    return list(rows.values()), roots


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--untraced-work-s", type=float)
    args = ap.parse_args(argv)
    rows, roots = summarize(tracing.load_spans(args.spans))

    print(f"{'span':<34}{'n':>6}{'incl_s':>10}{'self_s':>10}{'jobs':>7}{'stages':>7}"
          f"{'rows_out':>10}{'shuffle_B':>11}{'spill_B':>9}{'gc_s':>7}{'files':>7}")
    for r in sorted(rows, key=lambda r: (r["name"].split("/")[0], -r["self_s"])):
        print(f"{r['name']:<34}{r['n']:>6}{r['incl_s']:>10.3f}{r['self_s']:>10.3f}"
              f"{r['jobs']:>7}{r['stages']:>7}{r['rows_written']:>10}"
              f"{r['shuffle_bytes']:>11}{r['spill_bytes']:>9}{r['gc_s']:>7.2f}"
              f"{r['files_written']:>7}")
    ok = True
    for root in roots:
        print(f"root {root['name']}: wall {root['wall_s']:.3f} s, "
              f"{root['coverage']:.1%} under named child spans")
        if root["name"] == "pass" and root["coverage"] < MIN_COVERAGE:
            print(f"FAIL: layer spans cover less than {MIN_COVERAGE:.0%} of the pass")
            ok = False
    passes = [r for r in roots if r["name"] == "pass"]
    if args.untraced_work_s and passes:
        traced = passes[0]["wall_s"]
        print(f"tracing overhead: {traced:.3f} s traced vs {args.untraced_work_s:.3f} s "
              f"untraced ({traced / args.untraced_work_s - 1:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

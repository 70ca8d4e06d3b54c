"""Tests of the benchmark's own parts (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import landing  # noqa: E402
import report  # noqa: E402
import tables  # noqa: E402
import tracing  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_landing_same_seed_same_bytes(tmp_path):
    a = landing.generate(str(tmp_path / "a"), 40, seed=3)
    b = landing.generate(str(tmp_path / "b"), 40, seed=3)
    c = landing.generate(str(tmp_path / "c"), 40, seed=4)
    assert a == b
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))
    # the seed moves values, never sizes
    assert a["silver_rows"] == c["silver_rows"]


def test_landing_subset_matches_full_set(tmp_path):
    full = landing.generate(str(tmp_path / "full"), 10, seed=1)
    part = landing.generate(str(tmp_path / "part"), 10, seed=1, datasets=("manual_logs",))
    assert part["files"] == ["manual_logs_bulk.csv"]
    assert filecmp.cmp(tmp_path / "full" / "manual_logs_bulk.csv",
                       tmp_path / "part" / "manual_logs_bulk.csv", shallow=False)
    assert part["silver_rows"] == {"manual_logs": full["silver_rows"]["manual_logs"]}


def test_landing_scales_every_dataset_with_valid_dates(tmp_path):
    small = landing.generate(str(tmp_path / "s"), 35, seed=9)
    big = landing.generate(str(tmp_path / "b"), 70, seed=9)
    assert len(small["files"]) == 7
    for table, n in small["silver_rows"].items():
        assert n > 0
        assert big["silver_rows"][table] > n, table
    # dates run past month ends and are all real calendar days
    with open(tmp_path / "b" / "transactions_bulk.csv") as f:
        days = {r["date"] for r in csv.DictReader(f)} - {"garbage-date"}
    assert len(days) == 70
    assert all(date.fromisoformat(d) for d in days)
    with open(tmp_path / "b" / "google_timeline_bulk.json") as f:
        segs = json.load(f)["semanticSegments"]
    assert all(date.fromisoformat(s["startTime"][:10]) for s in segs)


def test_landing_expected_gold_totals(tmp_path):
    out = landing.generate(str(tmp_path), 3, seed=5, datasets=("transactions",))
    with open(tmp_path / "transactions_bulk.csv") as f:
        rows = list(csv.DictReader(f))
    for d, total in out["gold_total"].items():
        want = sum(
            float(r["amount"].replace("$", "").replace(",", ""))
            for r in rows
            if r["date"] == d and r["type"].strip().upper() in landing.GOLD_TYPES
        )
        assert abs(total - want) < 1e-6
        assert out["spent_per_day"][d] >= total


def test_landing_expected_steps_per_day(tmp_path):
    out = landing.generate(str(tmp_path), 3, seed=5, datasets=("fitbit_steps",))
    with open(tmp_path / "fitbit_steps_bulk.csv") as f:
        rows = list(csv.DictReader(f))
    assert out["steps_per_day"] == {
        d: sum(int(r["steps"]) for r in rows if r["timestamp"].startswith(d))
        for d in out["steps_per_day"]
    }


def test_tables_same_seed_same_bytes(tmp_path):
    a = tables.generate(str(tmp_path / "a"), 2000, seed=1)
    tables.generate(str(tmp_path / "b"), 2000, seed=1)
    tables.generate(str(tmp_path / "c"), 2000, seed=2)
    assert a["lineitem"] == 2000
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_files(str(tmp_path / "a"), str(tmp_path / "c"))


def _span(i, name, start, end, parent=None):
    return tracing.Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_covered_children():
    parent = _span(0, "p", 0.0, 10.0)
    kids = [
        _span(1, "a", 1.0, 3.0, 0),
        _span(2, "b", 2.0, 5.0, 0),  # overlaps a: 1..5 counted once
        _span(3, "c", 8.0, 12.0, 0),  # runs past the parent: clipped to 8..10
    ]
    assert tracing.covered(0.0, 10.0, [(k.start, k.end) for k in kids]) == 6.0
    assert tracing.self_time(parent, kids) == 4.0
    assert tracing.self_time(parent, []) == 10.0


def test_tracer_nests_and_dumps(tmp_path):
    t = tracing.Tracer("run1")
    with t.span("pass") as root:
        with t.span("ingest") as child:
            pass
    assert child.parent == root.id and root.parent is None
    assert root.start <= child.start <= child.end <= root.end
    path = str(tmp_path / "spans.json")
    t.dump(path)
    assert [s.name for s in tracing.load_spans(path)] == ["pass", "ingest"]


def test_report_fails_under_ninety_percent_coverage(tmp_path):
    path = str(tmp_path / "spans.json")
    t = tracing.Tracer("r")
    t.spans = [_span(0, "pass", 0.0, 10.0), _span(1, "ingest", 0.0, 8.9, 0)]
    t.dump(path)
    assert report.main([path]) == 1
    t.spans[1].end = 9.0
    t.dump(path)
    assert report.main([path]) == 0

"""bench.py fault isolation: one raising query must not kill the run.

Round 4's bench crashed (rc=1) on a single broken query and recorded no
timings for the eight healthy ones. run_bench isolates each query in
both the warmup and timed passes and reports failures under "errors"
while still producing a full JSON payload.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_bench  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402
from travel_data_ingestion_spark.queries import QuerySpec, member_queries  # noqa: E402


def _boom(spark, sf_dir):
    raise RuntimeError("deliberately broken bench query")


def test_broken_query_yields_partial_timings(spark):
    specs = dict(member_queries())
    specs["zz_broken"] = QuerySpec("zz_broken", _boom, None)
    out = run_bench(
        spark,
        specs,
        SF_DIR,
        queries=["b01_project_filter", "zz_broken", "dd01_exact_dedup"],
        n_runs=1,
    )
    # Healthy queries still timed; the broken one reported, not fatal.
    assert set(out["queries"]) == {"b01_project_filter", "dd01_exact_dedup"}
    assert all(v > 0 for v in out["queries"].values())
    assert "zz_broken" in out["errors"]
    assert "deliberately broken" in out["errors"]["zz_broken"]
    assert out["value"] == round(sum(out["queries"].values()), 4)
    assert set(out) == {"metric", "value", "unit", "queries", "sf", "errors"}
    json.dumps(out)  # payload must remain one serializable JSON object


def test_all_healthy_has_no_errors_key(spark):
    specs = member_queries()
    out = run_bench(spark, specs, SF_DIR, queries=["b01_project_filter"], n_runs=1)
    assert "errors" not in out
    assert set(out) == {"metric", "value", "unit", "queries", "sf"}
    assert set(out["queries"]) == {"b01_project_filter"}

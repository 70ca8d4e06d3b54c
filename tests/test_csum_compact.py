"""Equivalence pins for the r17 compact-buffer sum conversions.

compat.csum/cavg/csum_dec replace the wide DECIMAL(28,·) sum/avg forms
at every non-benched aggregate call site (d-family, su02/su03/su04
members, tr dashboards, j01, q06, t11). The compact hi/lo split must be
BIT-identical to the wide form; ``compat.CSUM_COMPACT`` routes the same
helpers through the literal old expressions, so these tests compare the
two end to end on the real testdata — the same A/B hook
tools/exp_csum_members.py measures with.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from travel_data_ingestion_spark import compat

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

# every member whose aggregation moved to compact buffers in r17
CONVERTED = [
    # c01's ship_revenue additionally moved to the r16 _csum_split
    # fragment (not flag-routed; pinned by test_parity + driver_mirror)
    "c01_left_join_computed_key",
    "c02_full_outer_date_shift",
    "c04_scaffold_densify",
    "cu04_corpus_stats",
    "x02_range_join",
    "d03_minute_grain_stats",
    "d04_conditional_zone_counts",
    "d10_avg_of_hourly_avg",
    "d17_rollup",
    "d18_unpivot",
    "d19_cube",
    "e03_running_total",
    "e05_rank_lag_lead",
    "e06_range_frame_moving_avg",
    "q06_sql_api",
    "h15_json_extract_flatten",
    "h18_map_ops",
    "j01_tumbling_window",
    "tr01_full_cost_report",
    "tr02_tax_report",
    "tr03_transport_mode",
    "tr04_daily_summary_document",
    "t11_unigram_logprob",
]


def _rows(spark, name):
    from travel_data_ingestion_spark.queries import member_queries

    df = member_queries()[name].fn(spark, SF_DIR)
    # repr captures the exact double bits (shortest repr) — a plain ==
    # would let e.g. -0.0 vs 0.0 slip through
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CONVERTED)
def test_compact_equals_wide(spark, name):
    assert compat.CSUM_COMPACT is True  # the shipped default
    try:
        compact = _rows(spark, name)
        compat.CSUM_COMPACT = False
        wide = _rows(spark, name)
    finally:
        compat.CSUM_COMPACT = True
    assert compact == wide, f"{name}: compact hi/lo sum drifted from the wide DECIMAL form"


def test_running_decimal_prefix_matches_global_window(spark):
    """compat.running_decimal_prefix (the e03/tr01 two-pass prefix sum)
    must equal the literal global window bit-for-bit: cumulative decimal
    sum and 1-based position, across bucket boundaries, for single-row
    buckets, empty gaps, pre-1970 dates, and bucket-edge dates."""
    from pyspark.sql import Window

    from travel_data_ingestion_spark.compat import running_decimal_prefix

    # ~900 unique dates spanning 1969..1975 with gaps (sparse: keep only
    # ~40% of days) — crosses many 128-day buckets, some nearly empty
    base = spark.range(0, 2200).selectExpr(
        "date_add(DATE'1969-06-15', CAST(id AS INT)) AS d",
        "CAST(CAST(pmod(xxhash64(id), 99991) AS DOUBLE) / 100 + 0.01 AS DECIMAL(38,2)) AS v",
    ).filter("pmod(xxhash64(id, 7), 5) < 2")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.orderBy("d")
    expected = base.select(
        "d",
        F.sum("v").over(w).alias("run"),
        F.row_number().over(wn).cast("bigint").alias("rn"),
    )
    got = running_decimal_prefix(base, "d", "v").select(
        "d", F.col("__running").alias("run"), F.col("__rn").alias("rn")
    )
    assert got.schema == expected.schema
    e = sorted(repr(tuple(r)) for r in expected.collect())
    g = sorted(repr(tuple(r)) for r in got.collect())
    assert e == g


def test_running_decimal_prefix_nullable_values(spark):
    """NULL values add nothing, as in the global window's SUM: a bucket
    whose rows so far are all NULL carries the earlier buckets' total,
    and the prefix is NULL only before the first non-NULL value."""
    from pyspark.sql import Window

    from travel_data_ingestion_spark.compat import running_decimal_prefix

    # 128-day buckets from 1970-01-01: NULLs open bucket 0 (nothing
    # before them), open bucket 1, fill bucket 2, and open bucket 3
    days = {0: None, 1: None, 2: "1.25", 5: "2.50", 128: None, 129: None,
            130: "4.00", 256: None, 257: None, 384: None, 390: "0.75"}
    base = spark.createDataFrame(
        [(d, v) for d, v in days.items()], "n int, v string"
    ).selectExpr("date_add(DATE'1970-01-01', n) AS d", "CAST(v AS DECIMAL(38,2)) AS v")
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = base.select("d", F.sum("v").over(w).alias("run"))
    got = running_decimal_prefix(base, "d", "v").select("d", F.col("__running").alias("run"))
    assert got.schema == expected.schema
    e = sorted(expected.collect())
    assert e == sorted(got.collect())
    # bucket 1's leading NULLs carry bucket 0's 3.75; bucket 0's are NULL
    assert [str(r.run) for r in e[:2] + e[4:6]] == ["None", "None", "3.75", "3.75"]


def test_t11_nll_micro_units_identity(spark):
    """The t11 envelope is derived, not data-pinned: nll = round(x, 6)
    is an exact 6-decimal non-negative value < 60, so
    CAST(nll*1e6 + 0.5 AS BIGINT) recovers the exact micro-units.
    Fuzz the whole construction (round(-ln(u), 6) for u in (0, 1])
    including boundary-adjacent cases, comparing against the
    DECIMAL(28,12) unscaled value Spark's wide cast produces."""
    n = 20000
    df = spark.range(1, n + 1).selectExpr(
        # u spans (0, 1]; xxhash64 gives deterministic pseudo-randomness
        "round(-ln((pmod(xxhash64(id), 999983) + 1) / 999984.0), 6) AS nll"
    )
    bad = df.filter(
        "CAST(nll * 1000000 + 0.5 AS BIGINT) <> "
        "CAST(CAST(nll AS DECIMAL(28,12)) * 1000000 AS BIGINT)"
    ).count()
    assert bad == 0
    # negative inputs would break the truncating extraction — pin that
    # the construction cannot produce them: p <= 1 -> -ln(p) >= 0
    assert df.filter("nll < 0").count() == 0

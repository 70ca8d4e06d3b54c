"""Unit tests for the Snowflake-compat helpers — boundary cases pinned
per SURVEY §5.2."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from travel_data_ingestion_spark.compat import (
    ascii_upper,
    listagg,
    qualify_dedup_latest,
    qualify_latest_batch,
    try_time_to_hours,
    try_to_date,
)


def test_try_to_date_formats_and_garbage(spark):
    df = spark.createDataFrame(
        [("2026-02-19",), ("2026-02-19T09:00:00.000+09:00",), ("garbage",),
         (None,), ("2026/02/19",), ("02/19/2026",)],
        ["d"],
    )
    out = [str(r.p) if r.p else None for r in df.select(try_to_date("d").alias("p")).collect()]
    assert out == ["2026-02-19", "2026-02-19", None, None, "2026-02-19", "2026-02-19"]


def test_try_time_to_hours_boundaries(spark):
    df = spark.createDataFrame(
        [("12:30",), ("00:00",), ("23:59",), ("bad",), ("25:00",), ("12:60",), (None,)],
        ["t"],
    )
    out = [r.h for r in df.select(try_time_to_hours("t").alias("h")).collect()]
    assert out[0] == pytest.approx(12.5)
    assert out[1] == 0.0
    assert out[2] == pytest.approx(23 + 59 / 60)
    assert out[3] is None and out[4] is None and out[5] is None and out[6] is None


def test_listagg_ordering_and_distinct(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), (None,)], ["x"])
    row = df.agg(
        listagg("x", "; ").alias("plain"),
        listagg("x", ", ", distinct=True).alias("dist"),
    ).first()
    assert row.plain == "a; b; b"  # sorted, nulls dropped (LISTAGG semantics)
    assert row.dist == "a, b"


def test_qualify_latest_batch_keeps_whole_batch(spark):
    df = spark.createDataFrame(
        [("f1", 1, "old1"), ("f1", 1, "old2"), ("f1", 2, "new1"), ("f1", 2, "new2"),
         ("f2", 1, "keep")],
        ["_source_file", "load_id", "v"],
    )
    out = {r.v for r in qualify_latest_batch(df, ["_source_file"]).collect()}
    assert out == {"new1", "new2", "keep"}


def test_qualify_dedup_latest_one_per_key(spark):
    df = spark.createDataFrame(
        [("2026-02-01", 1, "old"), ("2026-02-01", 2, "new"), ("2026-02-02", 1, "only")],
        ["date", "load_id", "v"],
    )
    out = {(r.date, r.v) for r in qualify_dedup_latest(df, ["date"]).collect()}
    assert out == {("2026-02-01", "new"), ("2026-02-02", "only")}


def test_hr_zone_boundaries(spark):
    from travel_data_ingestion_spark.silver.transforms import _hr_zone

    df = spark.createDataFrame(
        [(None,), (59.9,), (60.0,), (99.9,), (100.0,), (129.9,), (130.0,)], ["bpm"]
    )
    out = [r.z for r in df.select(_hr_zone(F.col("bpm")).alias("z")).collect()]
    # strict < boundaries: 60 -> Normal, 100 -> Elevated, 130 -> High
    assert out == ["Unknown", "Resting", "Normal", "Normal", "Elevated", "Elevated", "High"]


def test_listagg_all_null_group_is_null(spark):
    """string_agg parity: a group whose values are all NULL aggregates
    to NULL, not '' (DuckDB/Snowflake semantics; array_join alone would
    render the empty string and break oracle hashes)."""
    from pyspark.sql import functions as F

    from travel_data_ingestion_spark.compat import listagg

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("b", None)], "g string, v string"
    )
    got = {
        r.g: r.agg
        for r in df.groupBy("g").agg(listagg("v").alias("agg")).collect()
    }
    assert got == {"a": "x", "b": None}


def test_ascii_upper_matches_upper(spark):
    """ASCII and NULL values take the translate path; every other value
    goes to ICU's upper, which can change the length ('ß' -> 'SS')."""
    values = ["Hotel", " food ", "ACTIVITY", "mIxEd_case-9", "", None,
              "ß", "ı", "ﬅ", "straße", "İstanbul"]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = df.select("v", ascii_upper("v").alias("a"), F.upper("v").alias("u")).collect()
    assert [r.a for r in got] == [r.u for r in got]
    assert {r.v: r.a for r in got}["straße"] == "STRASSE"

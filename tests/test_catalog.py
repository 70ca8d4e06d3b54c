"""Warehouse catalog: footer schemas of unregistered tables, the build
key that makes an unchanged gold replace a no-op, write counts from the
new files' footers, and the spending read that skips the latest-batch
window when no row can fall to it."""

from __future__ import annotations

import itertools
import os
import shutil

import pytest

from pyspark.sql import functions as F

from tests.fixtures_gen import _w
from tests.test_ingest import (  # noqa: F401 (slice_landing is a fixture)
    SLICE,
    _count_jobs,
    _data_files,
    _medallion,
    _slice_wh,
    slice_landing,
)
from travel_data_ingestion_spark import catalog, ledger
from travel_data_ingestion_spark.catalog import BUILD_KEY, Warehouse
from travel_data_ingestion_spark.compat import qualify_latest_batch
from travel_data_ingestion_spark.gold import build_full_travel_cost
from travel_data_ingestion_spark.silver import read_current, run_silver

GOLD = ("gold", "full_travel_cost")
_groups = itertools.count()


@pytest.fixture
def built(spark, tmp_path, slice_landing):  # noqa: F811
    """A slice warehouse taken to gold over a private copy of the landing
    files: (warehouse, config, landing dir)."""
    landing = str(tmp_path / "landing")
    shutil.copytree(slice_landing, landing)
    wh, cfg = _slice_wh(spark, tmp_path, "wh", landing)
    _medallion(spark, wh, cfg)
    return wh, cfg, landing


def _key_path(wh: Warehouse) -> str:
    return os.path.join(wh.path(*GOLD), BUILD_KEY)


def _rewritten(spark, wh: Warehouse, fn) -> bool:
    """Whether ``fn`` ran a Spark job and replaced the gold table's files."""
    before = _data_files(wh.path(*GOLD))
    jobs = _count_jobs(spark, f"catalog_{next(_groups)}", fn)
    return jobs > 0 and _data_files(wh.path(*GOLD)) != before


def _rows(spark, wh: Warehouse) -> list[str]:
    return sorted(repr(tuple(r)) for r in wh.read(spark, *GOLD).collect())


# --------------------------------------------------------------------------
# footer schemas


def test_footer_schema_equals_spark_inference_without_a_job(spark, built):
    """Every silver and gold table of the slice, and a silver table whose
    only batch was empty (its one file is the load_id=0 footer), reads
    with the schema Spark's own inference gives, and the read runs no
    Spark job."""
    wh = built[0]
    empty = spark.createDataFrame([], "a int, b string, ts timestamp, load_id long")
    assert wh.write_idempotent(spark, empty, "silver", "probe") == {}
    tables = [(s, t) for s in ("silver", "gold") for t in sorted(os.listdir(wh.path(s, "")))]
    assert ("silver", "probe") in tables and GOLD in tables
    for schema, table in tables:
        jobs = _count_jobs(spark, f"footer_{schema}_{table}",
                           lambda: wh.read(spark, schema, table))
        assert jobs == 0, (schema, table, jobs)
        got = wh.read(spark, schema, table).schema
        assert got == spark.read.parquet(wh.path(schema, table)).schema, (schema, table)
    assert wh.read(spark, "silver", "probe").count() == 0


# --------------------------------------------------------------------------
# the build key: what rebuilds and what does not


def test_unchanged_build_is_a_noop(spark, built):
    wh = built[0]
    key = open(_key_path(wh)).read()
    assert not _rewritten(spark, wh, lambda: build_full_travel_cost(spark, wh))
    assert open(_key_path(wh)).read() == key


def test_new_landing_file_rebuilds_to_a_fresh_warehouse(spark, built, tmp_path):
    wh, cfg, landing = built
    _w(os.path.join(landing, "transactions_2026_03.csv"),
       ["country", "date", "name", "type", "amount", "comments"],
       [["Japan", "2026-02-03", "late_hotel", "Hotel", "120.00", "Late fee"],
        ["Japan", "2026-02-04", "late_food", " food ", "$15.50", "Snack"]])
    assert _rewritten(spark, wh, lambda: _medallion(spark, wh, cfg))
    fresh, fresh_cfg = _slice_wh(spark, tmp_path, "fresh", landing)
    _medallion(spark, fresh, fresh_cfg)
    assert _rows(spark, wh) == _rows(spark, fresh)


def test_reprocessed_silver_rebuilds(spark, built):
    wh = built[0]
    run_silver(spark, wh, datasets=list(SLICE), reprocess=True)
    assert _rewritten(spark, wh, lambda: build_full_travel_cost(spark, wh))


def test_deleted_key_rebuilds(spark, built):
    wh = built[0]
    os.remove(_key_path(wh))
    assert _rewritten(spark, wh, lambda: build_full_travel_cost(spark, wh))
    assert os.path.exists(_key_path(wh))


def test_key_write_failing_after_the_commit_rebuilds_next_call(spark, built, monkeypatch):
    """The data commits, the key's rename raises: no key is left, so the
    next call rebuilds instead of trusting the table."""
    wh = built[0]
    run_silver(spark, wh, datasets=list(SLICE), reprocess=True)

    def fail(*args):
        raise OSError("rename failed")

    with monkeypatch.context() as m:
        m.setattr(catalog.os, "replace", fail)
        with pytest.raises(OSError, match="rename failed"):
            build_full_travel_cost(spark, wh)
    assert wh.exists(*GOLD) and not os.path.exists(_key_path(wh))
    assert _rewritten(spark, wh, lambda: build_full_travel_cost(spark, wh))
    assert os.path.exists(_key_path(wh))


def test_unkeyed_frames_write_every_call(spark, built):
    """No plan form shows a local frame's rows or a UDF's body, and rand()
    and the clock differ per run: each is written on every call and
    leaves no key."""
    wh = built[0]
    spend = read_current(spark, wh, "all_spending")
    unkeyed = [
        spark.createDataFrame([(1, "x")], "a int, b string"),
        spend.select("amount", F.rand(7).alias("r")),
        spend.select("amount", F.current_date().alias("d")),
        spend.select(F.udf(lambda v: v, "double")("amount").alias("amount")),
    ]
    for df in [df for df in unkeyed for _ in range(2)]:
        assert _rewritten(spark, wh, lambda: wh.overwrite(spark, df, *GOLD))
        assert not os.path.exists(_key_path(wh))


def test_different_query_over_the_same_inputs_rewrites(spark, built):
    """Another column, a renamed column or another literal over the same
    silver files each rewrite the table; repeating the last is a no-op."""
    wh = built[0]
    spend = read_current(spark, wh, "all_spending")
    variants = [
        spend.select("date", "amount"),
        spend.select("date", F.col("amount").alias("cost")),
        spend.select("date", (F.col("amount") * 2).alias("cost")),
        spend.select("date", (F.col("amount") * 3).alias("cost")),
    ]
    for df in variants:
        assert _rewritten(spark, wh, lambda: wh.overwrite(spark, df, *GOLD))
    assert wh.read(spark, *GOLD).columns == ["date", "cost"]
    assert not _rewritten(spark, wh, lambda: wh.overwrite(spark, variants[-1], *GOLD))


# --------------------------------------------------------------------------
# write counts from the new files' footers


def _probe(spark, rows):
    return spark.createDataFrame(rows, "a int, load_id long")


def test_write_counts_only_the_partitions_it_wrote(spark, tmp_path):
    """The count is ``{load_id: rows}`` of this write's partitions: an
    untouched partition beside them is never counted, a rewritten
    partition counts only its new rows, and an empty write returns {}
    (a new silver table still gets its load_id=0 footer)."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    assert wh.write_idempotent(spark, _probe(spark, [(9, 3)] * 4), "silver", "t") == {3: 4}
    both = _probe(spark, [(1, 1)] * 2 + [(2, 2)] * 5)
    assert wh.write_idempotent(spark, both.repartition(3), "silver", "t") == {1: 2, 2: 5}
    assert wh.write_idempotent(spark, _probe(spark, [(2, 2)] * 3), "silver", "t") == {2: 3}
    got = wh.read(spark, "silver", "t").groupBy("load_id").count().collect()
    assert {r.load_id: r["count"] for r in got} == {1: 2, 2: 3, 3: 4}
    assert sorted(wh.partitions("silver", "t")) == [1, 2, 3]

    empty = _probe(spark, [])
    assert wh.write_idempotent(spark, empty, "silver", "t") == {}
    assert sorted(wh.partitions("silver", "t")) == [1, 2, 3]
    assert wh.write_idempotent(spark, empty, "silver", "fresh") == {}
    assert sorted(wh.partitions("silver", "fresh")) == [0]
    assert wh.read(spark, "silver", "fresh").count() == 0
    assert wh.write_idempotent(spark, _probe(spark, [(1, 4)]), "silver", "fresh") == {4: 1}


# --------------------------------------------------------------------------
# current spending: the latest-batch window only where it can drop a row


def _spending(spark, wh):
    return read_current(spark, wh, "all_spending")


def _plans_window(df) -> bool:
    return "Window" in df._jdf.queryExecution().optimizedPlan().toString()


def _same_as_window(spark, wh):
    """read_current's rows equal the window's over the whole table; returns
    the rows."""
    got = sorted(map(repr, _spending(spark, wh).collect()))
    want = qualify_latest_batch(wh.read(spark, "silver", "all_spending"), ["_source_file"])
    assert got == sorted(map(repr, want.collect()))
    return got


def test_batch_only_spending_reads_without_the_window(spark, built):
    """Several batch files, each its own load: every row is current, and
    the plan has no Window."""
    wh, cfg, landing = built
    _w(os.path.join(landing, "transactions_2026_03.csv"),
       ["country", "date", "name", "type", "amount", "comments"],
       [["Japan", "2026-03-03", "late_hotel", "Hotel", "120.00", "Late fee"]])
    _medallion(spark, wh, cfg)
    assert len(wh.partitions("silver", "all_spending")) == 2
    assert not _plans_window(_spending(spark, wh))
    assert len(_same_as_window(spark, wh)) == wh.read(spark, "silver", "all_spending").count()


def test_spending_load_without_a_ledger_row_keeps_the_window(spark, built):
    """A silver load_id no ledger row names proves nothing: the window
    runs, and a copy of a file's rows under a higher id replaces it. So
    does a ledger that names the id only by a stream epoch key (an
    earlier release's stream ingest wrote those), and one that gives one
    file name two ids."""
    wh = built[0]
    spend = wh.read(spark, "silver", "all_spending")
    batch = spend.count()
    copy = spend.withColumn("load_id", F.lit(99).cast("long"))
    copy = spark.createDataFrame(copy.collect(), copy.schema)
    assert wh.write_idempotent(spark, copy, "silver", "all_spending") == {99: batch}
    assert _plans_window(_spending(spark, wh))
    assert len(_same_as_window(spark, wh)) == batch
    assert {r.load_id for r in _spending(spark, wh).select("load_id").collect()} == {99}
    (name,) = {r._source_file for r in spend.select("_source_file").collect()}
    base = [tuple(r) for r in ledger.read(wh, "ingestion_logs")]
    for planted in ("stream:q:0", name):
        ledger.replace(wh, "ingestion_logs", base)
        ledger.append(wh, "ingestion_logs",
                      [(99, None, planted, "transactions", "SUCCESS", batch, None)])
        assert _plans_window(_spending(spark, wh))
        assert len(_same_as_window(spark, wh)) == batch
        assert {r.load_id for r in _spending(spark, wh).select("load_id").collect()} == {99}

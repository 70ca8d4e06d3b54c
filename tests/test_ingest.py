"""Ingestion-layer unit tests: glob conversion, stage listing, per-file
failure isolation, ledger bookkeeping."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import BRONZE_SCHEMAS, Warehouse
from travel_data_ingestion_spark.config import FileDetail
from travel_data_ingestion_spark.ingest import (
    glob_to_regex,
    ingest_all,
    list_stage_files,
    read_csv,
)


def _ingestion_rows(spark, wh):
    """The ingestion ledger's latest row per load_id."""
    return ledger.snapshot(wh, "ingestion_logs", latest_only=True).rows


def test_glob_to_regex_matches_reference_conversion():
    # ingestion_logic.py:102: escape '.', then '*' -> '.*'
    assert glob_to_regex("transactions_*.csv") == r"transactions_.*\.csv"
    assert glob_to_regex("a.b*") == r"a\.b.*"


def test_list_stage_files_pattern(tmp_path):
    for name in ("transactions_1.csv", "transactions_2.csv", "other.csv",
                 "transactions_1.csv.bak"):
        (tmp_path / name).write_text("x")
    out = [os.path.basename(p) for p in list_stage_files(str(tmp_path), "transactions*.csv")]
    # '.bak' matches 'transactions*.csv'? regex is 'transactions_.*\.csv$'
    # -> no ('.csv.bak' fails the $ anchor); 'other.csv' fails the prefix.
    assert out == ["transactions_1.csv", "transactions_2.csv"]


def test_per_file_failure_isolation(spark, tmp_path):
    """A file the reader cannot parse logs FAILURE and does not block the
    next file (ON_ERROR='SKIP_FILE', A-06)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "transactions_good.csv").write_text(
        "country,date,name,type,amount,comments\nJP,2026-02-01,m1,Food,10.5,ok\n"
    )
    # a directory with a matching name makes spark.read.csv(path) fail
    bad = landing / "transactions_bad.csv"
    bad.mkdir()
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    detail = FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv")
    loads = ingest_all(spark, wh, {"transactions": detail})["transactions"]
    assert len(loads) == 1  # only the good file loaded
    status = {r.file_name: r.status for r in _ingestion_rows(spark, wh)}
    assert status["transactions_good.csv"] == "SUCCESS"
    assert status["transactions_bad.csv"] == "FAILURE"
    rows = wh.read(spark, "bronze", "transactions").collect()
    assert len(rows) == 1
    assert rows[0]._source_file == "transactions_good.csv"
    assert rows[0].country == "JP" and rows[0].amount == "10.5"  # strings in bronze


def test_column_count_tolerance(spark, tmp_path):
    """Fewer source columns than the bronze schema -> missing trailing
    columns become NULL (error_on_column_count_mismatch=false, A-06)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "transactions_short.csv").write_text(
        "country,date,name\nJP,2026-02-01,m1\n"
    )
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    detail = FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv")
    ingest_all(spark, wh, {"transactions": detail})
    row = wh.read(spark, "bronze", "transactions").first()
    assert row.country == "JP" and row.type is None and row.amount is None


def test_csv_parse_contract(spark, tmp_path):
    """The landing CSV scan (file_format_csv.sql:1-6): a doubled quote
    escapes a quote, a quoted delimiter stays in its field, and NULL,
    null and an empty field all read as SQL NULL (NULL_IF)."""
    path = tmp_path / "transactions_q.csv"
    path.write_text(
        'country,date,name,type,amount,comments\n'
        'JP,,"a""b","Ho,tel",NULL,null\n'
    )
    rows = read_csv(spark.read, "transactions", str(path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.country, r.name, r.type) == ("JP", 'a"b', "Ho,tel")
    assert r.date is None and r.amount is None and r.comments is None


def test_row_id_bit_fields_disjoint_across_loads(spark):
    """Regression: the old load_id*2^32 + monotonically_increasing_id()
    formula collided across batches (partition id sits at bit 33, so
    load 1 / partition 1 == load 3 / partition 0). Disjoint bit fields
    must make row_ids globally unique across loads and partitions."""
    from pyspark.sql import functions as F

    from travel_data_ingestion_spark.ingest import lineage_row_id

    a = spark.range(0, 50_000, 1, 8).withColumn("row_id", lineage_row_id(1))
    b = spark.range(0, 50_000, 1, 8).withColumn("row_id", lineage_row_id(3))
    u = a.unionByName(b)
    assert u.count() == 100_000
    assert u.select("row_id").distinct().count() == 100_000
    # load_id occupies the top field exactly
    loads = sorted(
        r[0] for r in u.select(F.shiftright("row_id", 48)).distinct().collect()
    )
    assert loads == [1, 3]


def test_row_id_overflow_raises(spark):
    """Out-of-range load_id must fail loudly, not silently collide."""
    import pytest

    from travel_data_ingestion_spark.ingest import lineage_row_id

    df = spark.range(10).withColumn("row_id", lineage_row_id(1 << 15))
    with pytest.raises(Exception, match="row_id bit-field overflow"):
        df.collect()


def test_load_id_boundary_logs_failure_past_32767(spark, tmp_path):
    """The last load_id the row_id bit field holds is 32,767: a file given
    that id lands; the next file (32,768) logs FAILURE with the overflow
    message instead of raising out of the run or colliding. A re-run
    retries the failed file under its own load_id: no new id is taken."""
    from travel_data_ingestion_spark.silver.runner import bronze_load_ids

    landing = tmp_path / "landing"
    landing.mkdir()
    header = "country,date,name,type,amount,comments\n"
    for name in ("transactions_a.csv", "transactions_b.csv"):
        (landing / name).write_text(header + "JP,2026-02-01,m1,Food,10.5,ok\n")
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    ledger.append(wh, "ingestion_logs", [
        (32766, 1, "transactions_old.csv", "transactions", "SUCCESS", 1, None)])
    assert ledger.snapshot(wh, "ingestion_logs").next_id == 32767

    detail = FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv")
    assert ingest_all(spark, wh, {"transactions": detail}) == {"transactions": [32767]}
    rows = {r.file_name: r for r in _ingestion_rows(spark, wh)}
    assert (rows["transactions_a.csv"].load_id, rows["transactions_a.csv"].status) == (
        32767, "SUCCESS")
    failed = rows["transactions_b.csv"]
    assert (failed.load_id, failed.status) == (32768, "FAILURE")
    assert "row_id bit-field overflow" in failed.error_message
    assert bronze_load_ids(spark, wh, "transactions") == [32767]

    assert ingest_all(spark, wh, {"transactions": detail}) == {"transactions": []}
    retried = {r.file_name: r for r in _ingestion_rows(spark, wh)}["transactions_b.csv"]
    assert (retried.load_id, retried.status) == (32768, "FAILURE")
    assert ledger.snapshot(wh, "ingestion_logs").next_id == 32769


def _root_parts(p):
    """Visible part files at a table's root (there should never be any)."""
    return [f for f in os.listdir(p) if f.endswith(".parquet") and not f.startswith((".", "_"))]


def _stage_uncommitted_files(p):
    """The state a crash mid-overwrite leaves: staged part files that were
    never committed, under the staging trees readers ignore."""
    for staging in (".spark-staging-abc123/load_id=7", "_temporary/0/task_1/load_id=7"):
        d = os.path.join(p, staging)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.snappy.parquet"), "wb") as fh:
            fh.write(b"staged-not-committed")


def test_first_ever_empty_batch_bootstraps_readable_table(spark, tmp_path):
    """A silver table whose FIRST batch filters to zero rows must still be
    readable downstream (empty typed frame), and the next non-empty batch
    must land in the normal load_id-partitioned layout. No write ever
    puts a part file at the table root, and load_id reads with one type
    before and after the first real batch."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    schema = "a int, b string, load_id long"
    empty = spark.createDataFrame([], schema)
    assert wh.write_idempotent(spark, empty, "silver", "probe") == 0
    p = wh.path("silver", "probe")
    assert _root_parts(p) == []

    back = wh.read(spark, "silver", "probe")
    assert back.count() == 0
    assert set(back.columns) == {"a", "b", "load_id"}

    # replaying the empty batch stays a no-op
    wh.write_idempotent(spark, empty, "silver", "probe")
    assert wh.read(spark, "silver", "probe").count() == 0
    assert _root_parts(p) == []

    # first real batch: lands in its own partition next to the footer
    rows = spark.createDataFrame([(1, "x", 7), (2, "y", 7)], schema)
    assert wh.write_idempotent(spark, rows, "silver", "probe") == 2
    got = wh.read(spark, "silver", "probe")
    assert got.count() == 2
    assert {int(r.load_id) for r in got.select("load_id").collect()} == {7}
    assert got.schema["load_id"].dataType == back.schema["load_id"].dataType
    # idempotent rerun of the same load overwrites, not duplicates
    wh.write_idempotent(spark, rows, "silver", "probe")
    assert wh.read(spark, "silver", "probe").count() == 2
    assert _root_parts(p) == []


def test_crash_mid_write_next_to_footer_retries_once(spark, tmp_path):
    """Crash during a table's first real write, after an empty first
    batch: uncommitted part files sit under .spark-staging-*/load_id=7 and
    _temporary/ next to the load_id=0 footer. The table still reads as
    empty and typed, and the retried write lands exactly once. Without a
    footer (the crash hit the table's very first write), the staged files
    do not make the table exist, and an empty retry still writes one."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    schema = "a int, b string, load_id long"
    empty = spark.createDataFrame([], schema)
    wh.write_idempotent(spark, empty, "silver", "probe")
    p = wh.path("silver", "probe")
    _stage_uncommitted_files(p)
    back = wh.read(spark, "silver", "probe")
    assert back.count() == 0 and set(back.columns) == {"a", "b", "load_id"}

    rows = spark.createDataFrame([(1, "x", 7), (2, "y", 7)], schema)
    assert wh.write_idempotent(spark, rows, "silver", "probe") == 2
    got = wh.read(spark, "silver", "probe")
    assert sorted((r.a, r.b, int(r.load_id)) for r in got.collect()) == [(1, "x", 7), (2, "y", 7)]
    assert _root_parts(p) == []

    _stage_uncommitted_files(wh.path("silver", "fresh"))
    assert not wh.exists("silver", "fresh")
    wh.write_idempotent(spark, empty, "silver", "fresh")
    back = wh.read(spark, "silver", "fresh")
    assert back.count() == 0 and set(back.columns) == {"a", "b", "load_id"}


def test_header_only_first_landing_file(spark, tmp_path):
    """A dataset's first landing file holds only a header: bronze gets no
    files and reads back with its registered schema, run_silver finds no
    batch to log, and the next real file lands normally."""
    from travel_data_ingestion_spark.silver import run_silver
    from travel_data_ingestion_spark.silver.runner import bronze_load_ids

    header = "country,date,name,type,amount,comments\n"
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "transactions_01.csv").write_text(header)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    detail = FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv")
    assert ingest_all(spark, wh, {"transactions": detail})["transactions"] == [1]
    assert not [f for _, _, fs in os.walk(wh.path("bronze", "transactions"))
                for f in fs if f.endswith(".parquet")]
    bronze = wh.read(spark, "bronze", "transactions")
    assert bronze.schema == BRONZE_SCHEMAS["transactions"] and bronze.count() == 0
    assert bronze_load_ids(spark, wh, "transactions") == []
    assert run_silver(spark, wh, datasets=["transactions"]) == {}
    assert wh.read(spark, "admin", "transformation_logs").count() == 0

    (landing / "transactions_02.csv").write_text(header + "JP,2026-02-01,m1,Food,10.5,ok\n")
    assert ingest_all(spark, wh, {"transactions": detail})["transactions"] == [2]
    assert bronze_load_ids(spark, wh, "transactions") == [2]
    # one all_spending row + one daily_spend row
    assert run_silver(spark, wh, datasets=["transactions"]) == {"transactions": 2}
    assert [(r.load_id, r.status) for r in wh.read(spark, "admin", "transformation_logs")
            .filter("status = 'SUCCESS'").collect()] == [(2, "SUCCESS")]


def test_write_idempotent_rejects_unpartitioned_data(spark, tmp_path):
    """Root-level files with ROWS mean the table was written via a
    different sink; write_idempotent must refuse loudly rather than
    burying them under a partitioned layout."""
    import pytest

    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    schema = "a int, b string, load_id long"
    wh.overwrite(spark, spark.createDataFrame([(1, "x", 1)], schema), "silver", "probe")
    with pytest.raises(ValueError, match="unpartitioned"):
        wh.write_idempotent(
            spark, spark.createDataFrame([(2, "y", 2)], schema), "silver", "probe"
        )
    # original data untouched
    assert wh.read(spark, "silver", "probe").count() == 1


# --------------------------------------------------------------------------
# ledger: crash windows, tie-break, fixed job counts per run

SLICE = ("transactions", "manual_logs")


class Crash(BaseException):
    """Process death: escapes the per-file and per-dataset isolation that
    catches ``Exception``."""


def _slice_wh(spark, tmp_path, name, landing):
    from travel_data_ingestion_spark.config import default_config, save_config

    wh = Warehouse(str(tmp_path / name))
    wh.init()
    cfg = {k: d for k, d in default_config(landing).items() if k in SLICE}
    save_config(spark, wh, cfg)
    return wh, cfg


def _medallion(spark, wh, cfg):
    from travel_data_ingestion_spark.gold import build_full_travel_cost
    from travel_data_ingestion_spark.silver import run_silver

    ingest_all(spark, wh, cfg)
    run_silver(spark, wh, datasets=list(SLICE))
    build_full_travel_cost(spark, wh)


def _bronze_rows(spark, wh):
    return {t: wh.read(spark, "bronze", t).count() for t in SLICE}


def _state(spark, wh):
    """Bronze row counts per table and the gold table's rows."""
    gold = sorted(map(tuple, wh.read(spark, "gold", "full_travel_cost").collect()))
    return _bronze_rows(spark, wh), gold


@pytest.fixture(scope="module")
def slice_landing(tmp_path_factory):
    from tests.fixtures_gen import generate_landing

    landing = str(tmp_path_factory.mktemp("slice") / "landing")
    generate_landing(landing)
    return landing


@pytest.fixture(scope="module")
def clean_state(spark, tmp_path_factory, slice_landing):
    wh, cfg = _slice_wh(spark, tmp_path_factory.mktemp("clean"), "wh", slice_landing)
    _medallion(spark, wh, cfg)
    return _state(spark, wh)


def _latest_ids(spark, wh, status):
    """file name -> load_id of the ledger's latest rows with ``status``."""
    return {
        r.file_name: r.load_id
        for r in _ingestion_rows(spark, wh)
        if r.status == status
    }


def _crash_on_terminal_append(monkeypatch, status_col):
    """Crash at a run's terminal ledger append, after its RUNNING one;
    returns the real append."""
    real = ledger.append

    def append(wh, table, rows):
        if any(r[status_col] != "RUNNING" for r in rows):
            raise Crash
        real(wh, table, rows)

    monkeypatch.setattr(ledger, "append", append)
    return real


def test_crash_after_bronze_commit_reuses_reserved_load_id(
    spark, tmp_path, monkeypatch, slice_landing, clean_state
):
    """Crash after every bronze partition committed, before the terminal
    ledger append: the re-run overwrites the committed partitions under
    the reserved load_ids instead of landing the files a second time, so
    bronze and gold match a clean run (no doubled totals)."""

    wh, cfg = _slice_wh(spark, tmp_path, "wh", slice_landing)
    _crash_on_terminal_append(monkeypatch, status_col=4)
    with pytest.raises(Crash):
        ingest_all(spark, wh, cfg)
    monkeypatch.undo()
    reserved = _latest_ids(spark, wh, "RUNNING")
    assert sorted(reserved) == ["manual_logs_2026_02.csv", "transactions_2026_02.csv"]
    assert _bronze_rows(spark, wh) == clean_state[0]  # the data did commit

    _medallion(spark, wh, cfg)
    assert _state(spark, wh) == clean_state
    assert _latest_ids(spark, wh, "SUCCESS") == reserved
    bronze_ids = {
        int(r.load_id) for t in SLICE
        for r in wh.read(spark, "bronze", t).select("load_id").distinct().collect()
    }
    assert bronze_ids == set(reserved.values())


def test_crash_before_bronze_commit_retries_cleanly(
    spark, tmp_path, monkeypatch, slice_landing, clean_state
):
    """Crash after the RUNNING reservation, before any data commit: the
    re-run loads every file once, under the reserved ids."""

    wh, cfg = _slice_wh(spark, tmp_path, "wh", slice_landing)

    def crash(*args, **kwargs):
        raise Crash

    monkeypatch.setattr(Warehouse, "write_idempotent", crash)
    with pytest.raises(Crash):
        ingest_all(spark, wh, cfg)
    monkeypatch.undo()
    reserved = _latest_ids(spark, wh, "RUNNING")
    assert len(reserved) == 2
    assert not wh.exists("bronze", "transactions")

    _medallion(spark, wh, cfg)
    assert _state(spark, wh) == clean_state
    assert {r.load_id for r in _ingestion_rows(spark, wh)} == set(reserved.values())


def test_allocations_stay_above_reserved_ids(spark, tmp_path, monkeypatch, slice_landing):
    """Ids reserved by a crashed run are never handed out again: silver's
    next transformation_id and a new stream epoch's load_id both land
    above every reserved id."""
    from travel_data_ingestion_spark.silver import run_silver
    from travel_data_ingestion_spark.streaming import stream_ingest_csv

    wh, cfg = _slice_wh(spark, tmp_path, "wh", slice_landing)
    ingest_all(spark, wh, cfg)
    real = _crash_on_terminal_append(monkeypatch, status_col=3)
    with pytest.raises(Crash):
        run_silver(spark, wh, datasets=list(SLICE))
    monkeypatch.undo()
    trans = wh.read(spark, "admin", "transformation_logs").collect()
    assert {r.status for r in trans} == {"RUNNING"} and len(trans) == 2
    crashed = max(r.transformation_id for r in trans)

    # the crashed batches are still pending, and the retry allocates above
    assert run_silver(spark, wh, datasets=list(SLICE))
    retried = [r for r in wh.read(spark, "admin", "transformation_logs").collect()
               if r.status == "SUCCESS"]
    assert {r.transformation_name for r in retried} == set(SLICE)
    assert min(r.transformation_id for r in retried) > crashed

    # a batch reservation that never completed still bounds the stream
    landed = max(r.load_id for r in _ingestion_rows(spark, wh))
    real(wh, "ingestion_logs",
         [(landed + 5, 1, "late.csv", "transactions", "RUNNING", None, None)])
    stream_ingest_csv(spark, wh, str(slice_landing), "transactions", "transactions*.csv")
    epochs = [r for r in _ingestion_rows(spark, wh) if r.file_name.startswith("stream:")]
    assert [(r.load_id, r.status) for r in epochs] == [(landed + 6, "SUCCESS")]


def test_ledger_append_keeps_one_file_and_heals_a_crashed_rewrite(tmp_path, monkeypatch):
    """Each append rewrites the table as one parquet file holding every
    row; an empty append writes nothing. A crash after the new file is
    renamed in, before the old one is deleted, shows every old row
    twice until the next append drops the duplicates."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    path = wh.path("admin", "ingestion_logs")

    def files():
        return [n for n in os.listdir(path) if not n.startswith((".", "_"))]

    def ids():
        return sorted(r.load_id for r in ledger.read(wh, "ingestion_logs"))

    def row(i):
        return (i, 1, f"transactions_{i}.csv", "transactions", "SUCCESS", i, None)

    for i in (1, 2, 3):
        ledger.append(wh, "ingestion_logs", [row(i)])
    one = files()
    assert len(one) == 1 and ids() == [1, 2, 3]
    ledger.append(wh, "ingestion_logs", [])
    assert files() == one

    def crash(p):
        raise OSError("crash before the deletes")

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(OSError, match="crash before the deletes"):
        ledger.append(wh, "ingestion_logs", [row(4)])
    monkeypatch.undo()
    assert len(files()) == 2 and ids() == [1, 1, 2, 2, 3, 3, 4]

    ledger.append(wh, "ingestion_logs", [row(5)])
    assert len(files()) == 1 and ids() == [1, 2, 3, 4, 5]


def test_reserve_gives_one_load_id_per_key_per_call(tmp_path):
    """A key repeated within one call gets its first occurrence's id and
    one RUNNING row, not a second id that would load the file again."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    ids = ledger.reserve(wh, [
        (1, "transactions_a.csv", "transactions"),
        (2, "transactions_a.csv", "transactions"),
        (1, "transactions_b.csv", "transactions"),
    ])
    assert ids == [1, 1, 2]
    assert sorted((r.load_id, r.file_id, r.file_name, r.status)
                  for r in ledger.read(wh, "ingestion_logs")) == [
        (1, 1, "transactions_a.csv", "RUNNING"),
        (2, 1, "transactions_b.csv", "RUNNING"),
    ]


def test_two_config_rows_matching_one_file_load_it_once(spark, tmp_path):
    """Two datasets that target one table with patterns matching one
    file: the first by config name ingests it, once, under one SUCCESS
    row; the other dataset loads nothing."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "transactions_a.csv").write_text(
        "country,date,name,type,amount,comments\n"
        "JP,2026-02-01,m1,Food,10.5,ok\nJP,2026-02-02,m2,Hotel,80,ok\n"
    )
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    config = {
        "tx_all": FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv"),
        "tx_a": FileDetail(2, str(landing), "transactions_a*.csv", "bronze", "transactions", "csv"),
    }
    loaded = ingest_all(spark, wh, config)
    assert loaded == {"tx_a": [1], "tx_all": []}
    assert [(r.load_id, r.file_id, r.status, r.rows_loaded)
            for r in _ingestion_rows(spark, wh)] == [(1, 2, "SUCCESS", 2)]
    assert wh.read(spark, "bronze", "transactions").count() == 2
    assert ingest_all(spark, wh, config) == {"tx_a": [], "tx_all": []}


def test_ledger_tie_prefers_terminal_status(spark, tmp_path):
    """RUNNING and SUCCESS rows with equal event_time: the terminal row is
    the latest, whichever was appended first, so the file is done."""
    from datetime import datetime, timezone

    from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "transactions_a.csv").write_text("country,date\nJP,2026-02-01\n")
    (landing / "transactions_b.csv").write_text("country,date\nJP,2026-02-02\n")
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    t = datetime(2026, 2, 1, tzinfo=timezone.utc)
    rows = [
        (1, 1, "transactions_a.csv", "transactions", "SUCCESS", 1, None, t),
        (1, 1, "transactions_a.csv", "transactions", "RUNNING", None, None, t),
        (2, 1, "transactions_b.csv", "transactions", "RUNNING", None, None, t),
        (2, 1, "transactions_b.csv", "transactions", "SUCCESS", 1, None, t),
    ]
    # one file, so each tie's input order is fixed: SUCCESS first for
    # load 1, RUNNING first for load 2
    wh.append(spark, spark.createDataFrame(rows, ADMIN_SCHEMAS["ingestion_logs"]).coalesce(1),
              "admin", "ingestion_logs")
    assert {r.load_id: r.status for r in _ingestion_rows(spark, wh)} == {
        1: "SUCCESS", 2: "SUCCESS"}
    detail = FileDetail(1, str(landing), "transactions*.csv", "bronze", "transactions", "csv")
    assert ingest_all(spark, wh, {"transactions": detail}) == {"transactions": []}  # both done


def test_mixed_spark_and_driver_ledger_files(spark, tmp_path):
    """Ledger files written by Spark (INT96 event_time) and by the driver
    (pyarrow, UTC microseconds) read as one ledger: ``snapshot`` gives the
    rows and next_id an all-Spark ledger of the same rows gives, with an
    event_time tie between a Spark RUNNING row and a driver SUCCESS row
    going to SUCCESS; and Spark reads the driver's files with the
    registered schema."""
    from datetime import timedelta

    from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS

    def spark_append(wh, table, rows):
        df = spark.createDataFrame(rows, ADMIN_SCHEMAS[table]).coalesce(1)
        wh.append(spark, df, "admin", table)

    def naive(rows):
        """Rows as tuples, timestamps as the naive local times Spark's
        collect gives."""
        return sorted(
            tuple(v.astimezone().replace(tzinfo=None) if hasattr(v, "tzinfo") else v for v in r)
            for r in rows
        )

    mixed = Warehouse(str(tmp_path / "mixed"))
    mixed.init()
    ledger.append(mixed, "ingestion_logs", [
        (1, 1, "a.csv", "transactions", "SUCCESS", 3, None),
        (4, 1, "d.csv", "transactions", "RUNNING", None, None),
    ])
    driver_rows = [tuple(r) for r in ledger.read(mixed, "ingestion_logs")]
    t = driver_rows[0][-1]
    earlier = t - timedelta(seconds=1)
    spark_rows = [
        (1, 1, "a.csv", "transactions", "RUNNING", None, None, t),
        (2, 1, "b.csv", "transactions", "RUNNING", None, None, earlier),
        (2, 1, "b.csv", "transactions", "SUCCESS", 7, None, t),
        (3, 1, "c.csv", "transactions", "FAILURE", None, "boom", earlier),
        (5, 1, "e.csv", "transactions", "RUNNING", None, None, earlier),
    ]
    spark_append(mixed, "ingestion_logs", spark_rows)
    spark_only = Warehouse(str(tmp_path / "spark_only"))
    spark_only.init()
    spark_append(spark_only, "ingestion_logs", driver_rows + spark_rows)

    for latest_only in (False, True):
        got = ledger.snapshot(mixed, "ingestion_logs", latest_only)
        want = ledger.snapshot(spark_only, "ingestion_logs", latest_only)
        assert naive(got.rows) == naive(want.rows)
        assert got.next_id == want.next_id == 6
    latest = ledger.snapshot(mixed, "ingestion_logs", latest_only=True).rows
    assert {r.load_id: r.status for r in latest} == {
        1: "SUCCESS", 2: "SUCCESS", 3: "FAILURE", 4: "RUNNING", 5: "RUNNING"}

    # Spark reads the mixed table and a driver-only table, and infers the
    # registered schema from the driver's files
    assert naive(mixed.read(spark, "admin", "ingestion_logs").collect()) == naive(
        driver_rows + spark_rows)
    ledger.append(mixed, "transformation_logs", [(1, "transactions", 1, "SUCCESS", 2, None)])
    back = mixed.read(spark, "admin", "transformation_logs")
    assert naive(back.collect()) == naive(ledger.read(mixed, "transformation_logs"))
    path = mixed.path("admin", "transformation_logs")
    assert spark.read.parquet(path).schema == ADMIN_SCHEMAS["transformation_logs"]


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _data_files(root):
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                out[os.path.join(d, f)] = os.path.getmtime(os.path.join(d, f))
    return out


def test_ledger_jobs_are_fixed_per_run(spark, tmp_path, slice_landing):
    """A first ingest_all costs at most 1 Spark job per landing file (its
    bronze write; the ledger is read and written on the driver), and a
    no-op re-run of ingest_all + run_silver + the gold build runs no
    Spark job and writes nothing. Silver's rows_written is the batch
    total: every silver row of the dataset's output tables carrying the
    batch's load_ids."""
    from travel_data_ingestion_spark.gold import build_full_travel_cost
    from travel_data_ingestion_spark.silver import run_silver
    from travel_data_ingestion_spark.silver.runner import SILVER_TRANSFORMS

    wh, cfg = _slice_wh(spark, tmp_path, "wh", slice_landing)
    n_files = sum(len(list_stage_files(d.source_path, d.file_pattern)) for d in cfg.values())
    assert n_files == 2
    jobs = _count_jobs(spark, "ledger_first_ingest", lambda: ingest_all(spark, wh, cfg))
    assert jobs <= n_files, jobs
    run_silver(spark, wh, datasets=list(SLICE))
    build_full_travel_cost(spark, wh)

    before = _data_files(wh.root)
    jobs = _count_jobs(spark, "ledger_noop_rerun", lambda: (
        ingest_all(spark, wh, cfg), run_silver(spark, wh, datasets=list(SLICE)),
        build_full_travel_cost(spark, wh)))
    assert jobs == 0, jobs
    assert _data_files(wh.root) == before

    for r in wh.read(spark, "admin", "transformation_logs").collect():
        if r.status != "SUCCESS":
            continue
        bronze_table, fn = SILVER_TRANSFORMS[r.transformation_name]
        outputs = fn(wh.read(spark, "bronze", bronze_table).limit(0))
        total = sum(
            wh.read(spark, "silver", t).filter(F.col("load_id") == r.load_id).count()
            for t in outputs
        )
        assert r.rows_written == total > 0, r

"""Streaming file ingestion tests: ``stream_ingest_csv`` (AvailableNow
over a CSV landing dir) consumes each file exactly once across
restarts, parses exactly like the batch ingest, and takes each epoch's
load_id from the ingestion ledger: collision-free against interleaved
batch loads, and exactly-once across a lost commit, a crash inside an
epoch and a recreated checkpoint.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.fixtures_gen import generate_landing
from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.streaming import stream_ingest_csv


def _stream_ids(wh, status="SUCCESS"):
    """epoch key (``stream:<query id>:<epoch id>``) -> load_id, from the
    ledger's latest rows with ``status``."""
    return {
        r.file_name: r.load_id
        for r in ledger.snapshot(wh, "ingestion_logs", latest_only=True).rows
        if r.file_name.startswith("stream:") and r.status == status
    }


def _bronze(spark, wh):
    return Counter(map(tuple, wh.read(spark, "bronze", "transactions").collect()))


def test_stream_ingest_exactly_once(spark, tmp_path):
    """Checkpointed AvailableNow ingestion consumes each file once across
    restarts — the streaming analog of the A-07 filename ledger."""
    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    n1 = wh.read(spark, "bronze", "transactions").count()
    assert n1 > 0
    n_ledger = wh.read(spark, "admin", "ingestion_logs").count()
    # re-run: checkpoint skips all already-seen files, and a file-less
    # restart neither allocates a load_id nor appends ledger rows
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    assert wh.read(spark, "bronze", "transactions").count() == n1
    assert wh.read(spark, "admin", "ingestion_logs").count() == n_ledger
    lineage = wh.read(spark, "bronze", "transactions").select("_source_file").first()
    assert lineage._source_file.startswith("transactions")


def test_stream_ingest_epoch_map_survives_batch_interleave(spark, tmp_path):
    """The ledger's epoch -> load_id rows: earlier epochs keep their
    ids, and a NEW epoch after an interleaved batch ingest allocates
    ABOVE the batch's load_id — the batch's bronze partition must
    survive the restarted stream (the round-8 single-base scheme
    overwrote it)."""
    import csv
    from datetime import datetime, timezone

    from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS
    from travel_data_ingestion_spark.ingest import lineage_row_id

    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    epochs = _stream_ids(wh)
    assert epochs
    lids1 = {
        r.load_id
        for r in wh.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    }
    assert lids1 == set(epochs.values())

    # an interleaved BATCH ingest takes the ledger's next id and writes
    # its own bronze partition under it
    batch_lid = max(lids1) + 1
    batch_rows = spark.createDataFrame(
        [("Narnia", "2026-02-01", "batch_merchant", "Hotel", "9.99", "batch row")],
        "country string, date string, name string, type string, amount string, comments string",
    )
    batch_rows = (
        batch_rows.withColumn("_ingestion_time", F.current_timestamp())
        .withColumn("_source_file", F.lit("batch_file.csv"))
        .withColumn("load_id", F.lit(batch_lid).cast("long"))
        .withColumn("row_id", lineage_row_id(batch_lid))
    )
    wh.write_idempotent(spark, batch_rows, "bronze", "transactions")
    log = spark.createDataFrame(
        [(batch_lid, None, "batch_file.csv", "transactions", "SUCCESS", 1,
          None, datetime.now(timezone.utc))],
        ADMIN_SCHEMAS["ingestion_logs"],
    )
    wh.append(spark, log, "admin", "ingestion_logs")

    # a new file arrives; the restarted stream's NEW epoch must allocate
    # above the batch id, never reuse it
    with open(os.path.join(landing, "transactions_2026_03.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["country", "date", "name", "type", "amount", "comments"])
        w.writerow(["Japan", "2026-03-01", "merchant_x", "Hotel", "42.00", "late"])
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    bronze = wh.read(spark, "bronze", "transactions")
    # the batch partition survived intact
    batch_seen = bronze.filter(F.col("load_id") == batch_lid).collect()
    assert len(batch_seen) == 1 and batch_seen[0].country == "Narnia"
    new = {
        r.load_id for r in bronze.select("load_id").distinct().collect()
    } - lids1 - {batch_lid}
    assert new and min(new) > batch_lid, f"stream reused/undercut batch id: {sorted(new)}"
    # the original epochs' ledger rows are unchanged, and the new epoch
    # recorded the id it landed under
    epochs2 = _stream_ids(wh)
    assert {k: epochs2[k] for k in epochs} == epochs
    assert set(epochs2.values()) - set(epochs.values()) == new


def test_stream_ingest_matches_batch_parsing_and_load_ids(spark, tmp_path):
    """The streamed CSV reader must produce the same bronze rows as the
    batch path for the same file (doubled-quote escapes, NULL/null/''
    -> real NULLs), and its ledger-allocated load_ids must never collide
    with loads the batch path already wrote."""
    import csv

    from travel_data_ingestion_spark.config import default_config, load_config, save_config
    from travel_data_ingestion_spark.ingest import ingest_all

    landing = str(tmp_path / "landing")
    generate_landing(landing)
    # a deliberately nasty file: quoted comma, doubled-quote escape,
    # NULL / null / empty tokens
    nasty = os.path.join(landing, "transactions_9999_01.csv")
    with open(nasty, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["country", "date", "name", "type", "amount", "comments"])
        f.write('Japan,2026-01-01,"a""b","Ho,tel",12.50,NULL\n')
        f.write("Japan,2026-01-02,m2,food,3.25,null\n")
        f.write("Japan,2026-01-03,m3,misc,4.75,\n")

    # batch path first — allocates load ids through the admin ledger
    wh_b = Warehouse(str(tmp_path / "wh_batch"))
    wh_b.init()
    save_config(spark, wh_b, default_config(landing))
    ingest_all(spark, wh_b, load_config(spark, wh_b))
    batch_rows = {
        tuple(r)
        for r in wh_b.read(spark, "bronze", "transactions")
        .filter(F.col("_source_file") == "transactions_9999_01.csv")
        .select("country", "date", "name", "type", "amount", "comments")
        .collect()
    }

    # streaming path into a SECOND warehouse that already has batch loads
    wh_s = Warehouse(str(tmp_path / "wh_stream"))
    wh_s.init()
    save_config(spark, wh_s, default_config(landing))
    ingest_all(spark, wh_s, load_config(spark, wh_s))
    batch_loads = {
        int(r.load_id)
        for r in wh_s.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    }
    stream_landing = str(tmp_path / "landing2")
    os.makedirs(stream_landing)
    shutil.copy(nasty, stream_landing)
    stream_ingest_csv(spark, wh_s, stream_landing, "transactions", "transactions*.csv")
    streamed = wh_s.read(spark, "bronze", "transactions").filter(
        F.col("_source_file") == "transactions_9999_01.csv"
    )
    stream_rows = {
        tuple(r)
        for r in streamed.filter(~F.col("load_id").isin(list(batch_loads)))
        .select("country", "date", "name", "type", "amount", "comments")
        .collect()
    }
    assert stream_rows == batch_rows  # identical parsing incl. nulls/escapes
    nulls = [r.comments for r in streamed.collect()]
    assert nulls.count(None) >= 2  # NULL and null both became real NULLs
    stream_loads = {
        int(r.load_id) for r in streamed.select("load_id").distinct().collect()
    }
    # the stream's own loads (the nasty file also exists as a batch load
    # in this warehouse) allocate ABOVE everything the ledger knew
    stream_only = stream_loads - batch_loads
    assert stream_only and min(stream_only) > max(batch_loads)


def test_stream_replay_after_lost_commit_is_skipped(spark, tmp_path):
    """A lost commit-log entry replays the last epoch with its epoch id
    and input files; its SUCCESS row marks it done, so bronze is
    unchanged (not even rewritten) and the ledger keeps one SUCCESS row
    per epoch."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(20):  # > maxFilesPerTrigger: two epochs
        (landing / f"transactions_{i:02d}.csv").write_text(
            "country,date,name,type,amount,comments\n"
            f"Japan,2026-02-{i + 1:02d},m{i},Hotel,{i}.25,note {i}\n"
        )
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, str(landing), "transactions", "transactions*.csv")
    before = _bronze(spark, wh)
    assert sum(before.values()) == 20
    commits = os.path.join(wh.root, "_checkpoints", "transactions", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last >= 1
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))

    stream_ingest_csv(spark, wh, str(landing), "transactions", "transactions*.csv")
    assert _bronze(spark, wh) == before
    success = [r.file_name for r in ledger.read(wh, "ingestion_logs") if r.status == "SUCCESS"]
    assert len(success) == len(set(success)) == last + 1


def test_stream_crash_inside_epoch_reuses_running_id(spark, tmp_path, monkeypatch):
    """A crash right after an epoch's bronze commit, before its SUCCESS
    row: the re-run replays the epoch under the RUNNING row's id and
    overwrites the committed partition, so every row lands once."""
    from travel_data_ingestion_spark.ingest import read_csv

    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    real = Warehouse.write_idempotent

    def crash(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise RuntimeError("crash after the bronze commit")

    monkeypatch.setattr(Warehouse, "write_idempotent", crash)
    with pytest.raises(Exception, match="crash after the bronze commit"):
        stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    monkeypatch.undo()
    running = _stream_ids(wh, "RUNNING")
    assert len(running) == 1 and not _stream_ids(wh)

    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    assert _stream_ids(wh) == running
    bronze = wh.read(spark, "bronze", "transactions")
    assert {r.load_id for r in bronze.select("load_id").distinct().collect()} == set(
        running.values()
    )
    cols = ["country", "date", "name", "type", "amount", "comments"]
    landed = read_csv(spark.read, "transactions", os.path.join(landing, "transactions*.csv"))
    assert Counter(map(tuple, bronze.select(cols).collect())) == Counter(
        map(tuple, landed.select(cols).collect())
    )


def test_stream_recreated_checkpoint_takes_fresh_ids(spark, tmp_path):
    """A recreated checkpoint is a new query: its epochs are new loads
    under fresh ids above every existing one, and none is skipped as a
    match for the old query's epoch of the same number."""
    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    n1 = wh.read(spark, "bronze", "transactions").count()
    old = _stream_ids(wh)

    shutil.rmtree(os.path.join(wh.root, "_checkpoints", "transactions"))
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    assert wh.read(spark, "bronze", "transactions").count() == 2 * n1
    new = {k: v for k, v in _stream_ids(wh).items() if k not in old}
    assert len(new) == len(old)
    assert min(new.values()) > max(old.values())

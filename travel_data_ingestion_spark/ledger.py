"""The admin tables: the ingestion config ``admin.file_details``
(reference sql/admin_file_details.sql) and the two batch ledgers,
``admin.ingestion_logs`` (per-file exactly-once, reference
sql/admin_ingestion_logs.sql) and ``admin.transformation_logs``
(per-batch silver selection, sql/admin_transformation_logs.sql).

They hold a few rows per file and per dataset, so they are read and
written on the driver with pyarrow: no Spark job and no Python worker.
The files are ordinary parquet under ``<root>/admin/<table>/`` with the
registered schema (``catalog.ADMIN_SCHEMAS``), so ``Warehouse.read``,
DuckDB and the older Spark-written files (INT96 ``event_time``) all mix.
Every write rewrites the table as one parquet file: it is written under
a hidden temp name (which every reader skips), committed by
``os.rename``, and then every other entry of the table is deleted. A
crash mid-write leaves only the temp file; a crash between the rename
and the deletes leaves the old rows twice, which the next write's
rewrite drops (``append``) or replaces (``replace``).

The ledgers are logically append-only. An "UPDATE" is a new row, and
the latest row per id wins on read: latest ``event_time`` first, and on
a tie a terminal status (SUCCESS/FAILURE) over RUNNING. A run reads a
ledger once (``snapshot``), allocates every id it needs from that one
snapshot (``Snapshot.next_id`` = MAX(id)+1, the reference's own
MAX-based retrieval, ingestion_logic.py:149), and writes each stage's
rows in one ``append``. ``reserve`` is the one allocator of load_ids:
every landing file takes its id from it.
``file_details`` is replaced whole (``replace``). Single-driver
contract (SURVEY §7.4-4): one process writes the warehouse, and nothing
else allocates between a run's snapshot and its RUNNING append.
"""
from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import NamedTuple

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Row

from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS, Warehouse

TERMINAL = ("SUCCESS", "FAILURE")
ID_COLUMN = {"ingestion_logs": "load_id", "transformation_logs": "transformation_id"}

# Spark type name -> the Arrow type parquet stores it as (a UTC timestamp
# reads back in Spark as TimestampType)
_ARROW = {"long": pa.int64(), "string": pa.string(), "timestamp": pa.timestamp("us", tz="UTC")}


def _arrow_schema(table: str) -> pa.Schema:
    return pa.schema([(f.name, _ARROW[f.dataType.typeName()]) for f in ADMIN_SCHEMAS[table]])


class Snapshot(NamedTuple):
    rows: list[Row]
    next_id: int


def read(wh: Warehouse, table: str) -> list[Row]:
    """Every row of the table; none when it is absent. Spark's INT96
    timestamps cast to the registered UTC type on read."""
    if not wh.exists("admin", table):
        return []
    data = ds.dataset(wh.path("admin", table), schema=_arrow_schema(table), format="parquet")
    return [Row(**r) for r in data.to_table().to_pylist()]


def snapshot(wh: Warehouse, table: str, latest_only: bool = False) -> Snapshot:
    """The ledger's rows (or only the latest row per id) and the next
    free id, which is above every id ever reserved."""
    key = ID_COLUMN[table]
    rows = read(wh, table)
    if latest_only:
        # the A-08 'UPDATE' analog: latest event_time, terminal on a tie;
        # in rank order the last row per id wins
        ranked = sorted(rows, key=lambda r: (r.event_time, r.status in TERMINAL))
        rows = list({r[key]: r for r in ranked}.values())
    return Snapshot(rows, max((r[key] for r in rows), default=0) + 1)


def reserve(wh: Warehouse, loads: list[tuple[int, str, str]]) -> list[int | None]:
    """The load_id of each ``(file_id, file_name, target_table)`` load,
    from one snapshot of the ingestion ledger, keyed on
    ``(target_table, file_name)``: a key whose latest row is SUCCESS is
    done (None); a key whose latest row is RUNNING (a crashed run) or
    FAILURE keeps that row's load_id, so its retry overwrites whatever
    partition the earlier attempt committed; a new key takes the next
    free id. A key repeated within one call gets its first occurrence's
    id and no second RUNNING row. One RUNNING append then records every
    id handed out, before any data is written under it."""
    snap = snapshot(wh, "ingestion_logs", latest_only=True)
    done = {(r.target_table, r.file_name) for r in snap.rows if r.status == "SUCCESS"}
    # a crashed run's reservation or a failed load (the highest, if there
    # are several)
    reserved = {
        (r.target_table, r.file_name): r.load_id
        for r in sorted(snap.rows, key=lambda r: r.load_id)
        if r.status != "SUCCESS"
    }
    next_id = snap.next_id
    # the id each key gets in this call: a repeated key keeps its first
    given: dict[tuple[str, str], int] = {}
    running = []
    for file_id, file_name, table in loads:
        key = (table, file_name)
        if key in done or key in given:
            continue
        load_id = reserved.get(key)
        if load_id is None:
            load_id, next_id = next_id, next_id + 1
        given[key] = load_id
        running.append((load_id, file_id, file_name, table, "RUNNING", None, None))
    append(wh, "ingestion_logs", running)
    return [given.get((table, file_name)) for _, file_name, table in loads]


def append(wh: Warehouse, table: str, rows: list[tuple]) -> None:
    """Add ``rows`` (every ledger column but ``event_time``, which is
    stamped now, the same for the whole batch) by rewriting the table as
    its old rows plus the new ones; exact duplicates, which a crash
    inside an earlier rewrite leaves, are dropped. No rows, no write."""
    if rows:
        now = datetime.now(timezone.utc)
        old = [tuple(r) for r in read(wh, table)]
        replace(wh, table, list(dict.fromkeys(old + [(*r, now) for r in rows])))


def replace(wh: Warehouse, table: str, rows: list[tuple]) -> None:
    """The table's whole content becomes ``rows``, committed as one new
    parquet file (temp name, then ``os.rename``); then every other entry
    of the table is deleted."""
    schema = _arrow_schema(table)
    data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    path = wh.path("admin", table)
    os.makedirs(path, exist_ok=True)
    keep = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{keep}.tmp")
    pq.write_table(data, tmp)
    os.rename(tmp, os.path.join(path, keep))
    for name in os.listdir(path):
        if name != keep:
            p = os.path.join(path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

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
Each write is one parquet file, written under a hidden temp name (which
every reader skips) and committed by ``os.rename``; a crash mid-write
leaves only the temp file.

The ledgers are append-only. An "UPDATE" is a new row, and the latest
row per id wins on read: latest ``event_time`` first, and on a tie a
terminal status (SUCCESS/FAILURE) over RUNNING. A run reads a ledger
once (``snapshot``), allocates every id it needs from that one snapshot
(``Snapshot.next_id`` = MAX(id)+1, the reference's own MAX-based
retrieval, ingestion_logic.py:149), and writes each stage's rows in one
``append``. ``file_details`` is replaced whole (``replace``): the new
file is renamed in, then the old files are deleted. A crash between the
two leaves old and new rows side by side; the next run's ``save_config``
rewrites the table. Single-driver contract (SURVEY §7.4-4): one process
writes the warehouse, and nothing else allocates between a run's
snapshot and its RUNNING append.
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


def _write(wh: Warehouse, table: str, rows: list[tuple]) -> str:
    """Commit ``rows`` as one new parquet file; returns its name."""
    schema = _arrow_schema(table)
    data = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    path = wh.path("admin", table)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(data, tmp)
    os.rename(tmp, os.path.join(path, name))
    return name


def append(wh: Warehouse, table: str, rows: list[tuple]) -> None:
    """One file of ``rows``: every ledger column but ``event_time``,
    which is stamped now, the same for the whole batch."""
    if rows:
        now = datetime.now(timezone.utc)
        _write(wh, table, [(*r, now) for r in rows])


def replace(wh: Warehouse, table: str, rows: list[tuple]) -> None:
    """The table's whole content becomes ``rows``: the new file is
    committed first, then every other entry of the table is deleted."""
    keep = _write(wh, table, rows)
    path = wh.path("admin", table)
    for name in os.listdir(path):
        if name != keep:
            p = os.path.join(path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

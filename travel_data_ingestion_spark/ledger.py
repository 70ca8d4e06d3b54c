"""The two batch admin ledgers: ``admin.ingestion_logs`` (per-file
exactly-once, reference sql/admin_ingestion_logs.sql) and
``admin.transformation_logs`` (per-batch silver selection,
sql/admin_transformation_logs.sql).

Both are append-only parquet tables. An "UPDATE" is a new row, and the
latest row per id wins on read: latest ``event_time`` first, and on a
tie a terminal status (SUCCESS/FAILURE) over RUNNING. A run reads a
ledger once (``snapshot``), allocates every id it needs from that one
snapshot (``Snapshot.next_id`` = MAX(id)+1, the reference's own
MAX-based retrieval, ingestion_logic.py:149), and writes each stage's
rows in one ``append``. Single-driver contract (SURVEY §7.4-4): nothing
else allocates between a run's snapshot and its RUNNING append.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS, Warehouse

TERMINAL = ("SUCCESS", "FAILURE")
ID_COLUMN = {"ingestion_logs": "load_id", "transformation_logs": "transformation_id"}


class Snapshot(NamedTuple):
    rows: list[Row]
    next_id: int


def latest(df: DataFrame, key: str) -> DataFrame:
    """Latest row per ``key`` (the A-08 'UPDATE' analog). The ledger is
    small, so one partition holds it and the window needs no shuffle."""
    w = Window.partitionBy(key).orderBy(
        F.col("event_time").desc(), F.col("status").isin(*TERMINAL).desc()
    )
    return (
        df.coalesce(1)
        .withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def snapshot(spark: SparkSession, wh: Warehouse, table: str, latest_only: bool = False) -> Snapshot:
    """One Spark job: the ledger's rows (or only the latest row per id)
    and the next free id, which is above every id ever reserved."""
    key = ID_COLUMN[table]
    df = wh.read(spark, "admin", table)
    rows = (latest(df, key) if latest_only else df).collect()
    return Snapshot(rows, max((r[key] for r in rows), default=0) + 1)


def append(spark: SparkSession, wh: Warehouse, table: str, rows: list[tuple]) -> None:
    """One write of ``rows``: every ledger column but ``event_time``,
    which is stamped now, the same for the whole batch."""
    if not rows:
        return
    now = datetime.now(timezone.utc)
    df = spark.createDataFrame([(*r, now) for r in rows], ADMIN_SCHEMAS[table])
    wh.append(spark, df.coalesce(1), "admin", table)

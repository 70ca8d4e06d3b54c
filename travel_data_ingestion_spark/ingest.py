"""Metadata-driven file -> bronze ingestion with an idempotency ledger.

Reproduces the reference's ingestion semantics (SURVEY §2.A) Spark-first:

- stage listing with glob pattern        (ingestion_logic.py:102-113, A-02)
- CSV / whole-doc JSON file formats      (file_format_csv.sql, A-03/A-04)
- positional column projection + lineage (ingestion_logic.py:74-81, A-05)
- per-file error isolation               (ON_ERROR='SKIP_FILE', A-06)
- filename exactly-once ledger           (ingestion_logic.py:124-129, A-07)
- RUNNING -> SUCCESS/FAILURE logging     (ingestion_logic.py:84-201, A-08)

Allocation happens once per run, from one snapshot of the ledger
(``ledger.snapshot``): it gives both the files already loaded and the
next free ``load_id``. One RUNNING append then reserves an id for every
new file before any data is written, each file's bronze write is a
dynamic-partition overwrite of its reserved ``load_id``, and one append
records every SUCCESS/FAILURE. A file whose latest ledger row is still
RUNNING (a crashed run) is retried under its reserved id, so the retry
overwrites whatever partition the crashed run committed: exactly-once
holds across a crash between the data commit and the ledger write.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import BRONZE_SCHEMAS, LINEAGE_FIELDS, Warehouse
from travel_data_ingestion_spark.config import FileDetail
from travel_data_ingestion_spark.io import CSV_OPTIONS

_LINEAGE_COLS = [f.name for f in LINEAGE_FIELDS]


def lineage_row_id(load_id: int) -> F.Column:
    """Collision-free row_id from disjoint bit fields:

    ``[load_id:15][partition:20][row-in-partition:28]`` (63 bits).

    The previous formula ``load_id * 2**32 + monotonically_increasing_id()``
    collided across batches: monotonic ids pack the partition id at bit 33,
    so any multi-partition file overflowed into the next load's id space.
    Here each field is masked into its own range and overflow raises
    instead of silently colliding. Limits (documented, enforced): 32,767
    file loads per WAREHOUSE, failed loads included — load_ids come from
    one global sequence across every table (ledger.snapshot) — then 1M
    tasks per load and 268M rows per task, far above any sane partition
    sizing (a 128 MB parquet split holds ~1-10M rows).
    """
    mono = F.monotonically_increasing_id()  # (partition_id << 33) | row_seq
    part = F.shiftright(mono, 33)
    seq = mono.bitwiseAND(F.lit((1 << 33) - 1))
    ok = (
        (F.lit(load_id) < F.lit(1 << 15))
        & (part < F.lit(1 << 20))
        & (seq < F.lit(1 << 28))
    )
    rid = (
        F.shiftleft(F.lit(load_id).cast("long"), 48)
        + F.shiftleft(part, 28)
        + seq
    )
    return F.when(ok, rid).otherwise(
        F.raise_error(F.lit(
            "row_id bit-field overflow: load_id above 32767 (the warehouse's "
            "file loads, failed ones included), or partition/row out of range"
        ))
    )


def glob_to_regex(pattern: str) -> str:
    """Glob -> regex exactly as the reference converts it
    (ingestion_logic.py:102: '.'-escape then '*' -> '.*')."""
    return pattern.replace(".", r"\.").replace("*", ".*")


def list_stage_files(source_path: str, file_pattern: str) -> list[str]:
    """LIST @stage PATTERN analog: regex match over the landing dir."""
    rx = re.compile(glob_to_regex(file_pattern) + r"$")
    out = []
    for name in sorted(os.listdir(source_path)):
        if rx.match(name):
            out.append(os.path.join(source_path, name))
    return out


def landing_schema(table: str) -> T.StructType:
    """Bronze business columns as strings, in file order: the positional
    $1..$N read schema (A-05). A short row pads missing trailing columns
    with NULL, extra columns are dropped (column-count tolerance)."""
    return T.StructType([f for f in BRONZE_SCHEMAS[table].fields if f.name not in _LINEAGE_COLS])


def read_landing_file(spark: SparkSession, path: str, file_format: str, table: str) -> DataFrame:
    """File-format scans (A-03/A-04) into ``table``'s business columns.

    CSV: header skipped, '\"'-quoted, NULL/null/'' -> NULL, permissive
    column-count handling (file_format_csv.sql:1-6 +
    error_on_column_count_mismatch=false), read by position with an
    explicit schema — no header-inference job.
    JSON: whole document -> one raw string row (file_format_json.sql:1 —
    each top-level value becomes one VARIANT row).
    """
    if file_format == "csv":
        return read_csv(spark.read, table, path)
    if file_format == "json":
        return spark.read.text(path, wholetext=True).toDF("raw_data")
    raise ValueError(f"unsupported file format: {file_format}")


def read_csv(reader: DataFrameReader | DataStreamReader, table: str, path: str) -> DataFrame:
    """The CSV landing scan of both the batch and the streaming ingest:
    the positional schema, io.CSV_OPTIONS (the single source of truth
    for parsing options, shared with io.read_table) and the NULL_IF
    tokens, so a file produces identical bronze rows whichever path
    ingested it — or replays and re-ingests diverge."""
    return _csv_null_tokens(reader.schema(landing_schema(table)).options(**CSV_OPTIONS).csv(path))


def _csv_null_tokens(df: DataFrame) -> DataFrame:
    """Multi-token NULL_IF ('NULL','null','') — the reader's
    nullValue='NULL' handles only that token (and setting it OVERRIDES
    Spark's default ''-as-null, so a quoted empty field would otherwise
    survive as ''); normalize the remaining two tokens here."""
    for c in df.columns:
        df = df.withColumn(
            c, F.when(F.col(c).isin("null", ""), None).otherwise(F.col(c))
        )
    return df


def with_lineage(df: DataFrame, source_file: Column, load_id: int) -> DataFrame:
    """Append the four LINEAGE_FIELDS columns (reset_schemas.sql:68-71,
    populated as in ingestion_logic.py:166). row_id is unique + monotone
    per table via disjoint (load_id | partition | row) bit fields — no
    global window, no gaplessness requirement (the reference only ever
    takes MAX(load_id))."""
    return (
        df.withColumn("_ingestion_time", F.current_timestamp())
        .withColumn("_source_file", source_file)
        .withColumn("load_id", F.lit(load_id).cast("long"))
        .withColumn("row_id", lineage_row_id(load_id))
    )


def ingest_file(
    spark: SparkSession,
    wh: Warehouse,
    detail: FileDetail,
    path: str,
    load_id: int,
) -> int:
    """COPY INTO analog for one file (A-05): the business columns +
    lineage columns, overwriting bronze partition ``load_id``; returns
    the rows written."""
    if not os.path.isfile(path):
        # a directory (or anything else) matching the pattern would read
        # as zero rows under an explicit schema and pass for a SUCCESS
        raise ValueError(f"not a regular file: {path}")
    raw = read_landing_file(spark, path, detail.file_format, detail.target_table)
    rows = with_lineage(raw, F.lit(os.path.basename(path)), load_id)
    return wh.write_idempotent(spark, rows, "bronze", detail.target_table)


def ingest_dataset(spark: SparkSession, wh: Warehouse, detail: FileDetail) -> list[int]:
    """Ingest every new file of one dataset; returns the load_ids created."""
    return ingest_all(spark, wh, {detail.target_table: detail})[detail.target_table]


def ingest_all(spark: SparkSession, wh: Warehouse, config: dict[str, FileDetail]) -> dict[str, list[int]]:
    """Dynamic task-per-dataset loop (K-01, dynamic_ingestion_dag.py:18-26).

    Exactly-once is per (file, dataset): two datasets with overlapping
    glob patterns each ingest the file into their own bronze table.
    Per-file error isolation: a failing file logs FAILURE and is skipped
    (ON_ERROR='SKIP_FILE', ingestion_logic.py:157-182). Returns each
    dataset's SUCCESS load_ids.
    """
    snap = ledger.snapshot(spark, wh, "ingestion_logs", latest_only=True)
    done = {(r.target_table, r.file_name) for r in snap.rows if r.status == "SUCCESS"}
    # a crashed run's reservation (the highest, if it crashed twice)
    reserved = {
        (r.target_table, r.file_name): r.load_id
        for r in sorted(snap.rows, key=lambda r: r.load_id)
        if r.status == "RUNNING"
    }
    next_id = snap.next_id
    work = []
    for name, detail in sorted(config.items()):
        for path in list_stage_files(detail.source_path, detail.file_pattern):
            key = (detail.target_table, os.path.basename(path))
            if key in done:
                continue
            load_id = reserved.get(key)
            if load_id is None:
                load_id, next_id = next_id, next_id + 1
            work.append((name, detail, path, load_id))

    def entry(detail, path, load_id, status, rows=None, error=None):
        return (load_id, detail.file_id, os.path.basename(path), detail.target_table,
                status, rows, error)

    ledger.append(spark, wh, "ingestion_logs", [entry(d, p, i, "RUNNING") for _, d, p, i in work])
    loaded: dict[str, list[int]] = {name: [] for name in sorted(config)}
    terminal = []
    for name, detail, path, load_id in work:
        try:
            rows = ingest_file(spark, wh, detail, path, load_id)
        except Exception as exc:  # noqa: BLE001 - per-file isolation
            terminal.append(entry(detail, path, load_id, "FAILURE", error=str(exc)[:2000]))
            continue
        terminal.append(entry(detail, path, load_id, "SUCCESS", rows))
        loaded[name].append(load_id)
    ledger.append(spark, wh, "ingestion_logs", terminal)
    return loaded

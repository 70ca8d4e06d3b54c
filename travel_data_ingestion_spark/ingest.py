"""Metadata-driven file -> bronze ingestion with an idempotency ledger.

Reproduces the reference's ingestion semantics (SURVEY §2.A) Spark-first:

- stage listing with glob pattern        (ingestion_logic.py:102-113, A-02)
- CSV / whole-doc JSON file formats      (file_format_csv.sql, A-03/A-04)
- positional column projection + lineage (ingestion_logic.py:74-81, A-05)
- per-file error isolation               (ON_ERROR='SKIP_FILE', A-06)
- filename exactly-once ledger           (ingestion_logic.py:124-129, A-07)
- RUNNING -> SUCCESS/FAILURE logging     (ingestion_logic.py:84-201, A-08)

Allocation happens once per run, in ``ledger.reserve`` (the allocator
the stream ingest shares): from one snapshot of the ledger it skips the
files already loaded, gives every other file its ``load_id`` and
reserves them all in one RUNNING append before any data is written.
Each file's bronze write is a dynamic-partition overwrite of its
reserved ``load_id``, and one append records every SUCCESS/FAILURE. A
file whose latest ledger row is still RUNNING (a crashed run) is retried
under its reserved id, so the retry overwrites whatever partition the
crashed run committed: exactly-once holds across a crash between the
data commit and the ledger write. A file whose latest row is FAILURE is
retried under its id the same way, so a file that keeps failing does
not use up the 15-bit load_id space.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import BRONZE_SCHEMAS, LINEAGE_FIELDS, Warehouse
from travel_data_ingestion_spark.config import FileDetail

_LINEAGE_COLS = [f.name for f in LINEAGE_FIELDS]

CSV_OPTIONS = {
    # file_format_csv.sql:1-6 semantics
    "header": "true",
    "quote": '"',
    "escape": '"',
    "nullValue": "NULL",
    "mode": "PERMISSIVE",
}


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
    the positional schema, CSV_OPTIONS and the NULL_IF tokens, so a
    file produces identical bronze rows whichever path ingested it — or
    replays and re-ingests diverge."""
    return _csv_null_tokens(reader.schema(landing_schema(table)).options(**CSV_OPTIONS).csv(path))


def _csv_null_tokens(df: DataFrame) -> DataFrame:
    """Multi-token NULL_IF ('NULL','null','') — the reader's
    nullValue='NULL' handles only that token (and setting it OVERRIDES
    Spark's default ''-as-null, so a quoted empty field would otherwise
    survive as ''); normalize the remaining two tokens here."""
    return df.withColumns({
        c: F.when(F.col(c).isin("null", ""), None).otherwise(F.col(c))
        for c in df.columns
    })


def with_lineage(df: DataFrame, source_file: Column, load_id: int) -> DataFrame:
    """Append the four LINEAGE_FIELDS columns (reset_schemas.sql:68-71,
    populated as in ingestion_logic.py:166). row_id is unique + monotone
    per table via disjoint (load_id | partition | row) bit fields — no
    global window, no gaplessness requirement (the reference only ever
    takes MAX(load_id))."""
    return df.withColumns({
        "_ingestion_time": F.current_timestamp(),
        "_source_file": source_file,
        "load_id": F.lit(load_id).cast("long"),
        "row_id": lineage_row_id(load_id),
    })


def ingest_file(
    spark: SparkSession,
    wh: Warehouse,
    detail: FileDetail,
    path: str,
    load_id: int,
) -> int:
    """COPY INTO analog for one file (A-05): the business columns +
    lineage columns, overwriting bronze partition ``load_id``; returns
    the rows written. A file of no rows writes no partition, so the one
    an earlier attempt at this load committed is deleted: ``load_id``
    belongs to this file alone, and the retry's bronze must match it."""
    if not os.path.isfile(path):
        # a directory (or anything else) matching the pattern would read
        # as zero rows under an explicit schema and pass for a SUCCESS
        raise ValueError(f"not a regular file: {path}")
    raw = read_landing_file(spark, path, detail.file_format, detail.target_table)
    rows = with_lineage(raw, F.lit(os.path.basename(path)), load_id)
    written = wh.write_idempotent(spark, rows, "bronze", detail.target_table)
    stale = os.path.join(wh.path("bronze", detail.target_table), f"load_id={load_id}")
    if load_id not in written and os.path.isdir(stale):
        shutil.rmtree(stale)
    return sum(written.values())


def ingest_all(spark: SparkSession, wh: Warehouse, config: dict[str, FileDetail]) -> dict[str, list[int]]:
    """Dynamic task-per-dataset loop (K-01, dynamic_ingestion_dag.py:18-26).

    Exactly-once is per (target table, file name), the ingestion
    ledger's key: two datasets with overlapping glob patterns each ingest
    the file into their own bronze table, and when two datasets target
    one table and both match a file, the first by config name ingests it
    (later runs find its ledger row, so the rule holds across runs too).
    Per-file error isolation: a failing file logs FAILURE and is skipped
    (ON_ERROR='SKIP_FILE', ingestion_logic.py:157-182). Returns each
    dataset's SUCCESS load_ids.
    """
    found = [
        (name, detail, path)
        for name, detail in sorted(config.items())
        for path in list_stage_files(detail.source_path, detail.file_pattern)
    ]
    ids = ledger.reserve(
        wh, [(d.file_id, os.path.basename(p), d.target_table) for _, d, p in found]
    )
    # a key found twice got one id: only its first entry loads
    work: dict[int, tuple[str, FileDetail, str]] = {}
    for f, load_id in zip(found, ids):
        if load_id is not None:
            work.setdefault(load_id, f)

    def entry(detail, path, load_id, status, rows=None, error=None):
        return (load_id, detail.file_id, os.path.basename(path), detail.target_table,
                status, rows, error)

    loaded: dict[str, list[int]] = {name: [] for name in sorted(config)}
    terminal = []
    for load_id, (name, detail, path) in work.items():
        try:
            rows = ingest_file(spark, wh, detail, path, load_id)
        except Exception as exc:  # noqa: BLE001 - per-file isolation
            terminal.append(entry(detail, path, load_id, "FAILURE", error=str(exc)[:2000]))
            continue
        terminal.append(entry(detail, path, load_id, "SUCCESS", rows))
        loaded[name].append(load_id)
    ledger.append(wh, "ingestion_logs", terminal)
    return loaded

"""Silver layer: cleaning/normalization transforms, bronze -> silver.

Each dataset transform is a pure function ``DataFrame -> dict[table ->
DataFrame]`` over a bronze batch; ``runner.run_silver`` handles the
incremental load_id discovery (anti-join against the transformation
ledger), idempotent writes, and logging — the reference's per-dataset
boilerplate factored out once (reference transactions.py:5-69 et al.).

A deliberate departure from the reference: where it loops load_ids in
Python and round-trips each batch through pandas, this engine processes
ALL pending load_ids in one DataFrame pass (``load_id`` stays a grouping/
partition column). Same per-batch semantics, one job, no driver loop —
the difference between O(batches) round-trips and one shuffle at 100 TB.
"""

from pyspark.sql import DataFrame, SparkSession

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.compat import qualify_dedup_latest, qualify_latest_batch
from travel_data_ingestion_spark.silver.runner import SILVER_TRANSFORMS, run_silver

# Recency-dedup key per silver table: silver keeps one partition per
# load_id, so a re-uploaded file leaves both batches and a raw read
# double-counts. One survivor per key, newest load wins
# (sp_full_travel_costs.sql:21-24, sp_travel_tax_report.sql:35,57,69).
_CURRENT_KEYS = {
    "google_timeline": ["start_time", "end_time", "segment_type"],
    "manual_logs": ["date"],
    "flight_logs": ["date", "flight_number"],
    "sleep_log": ["sleep_log_entry_id"],
    "hourly_step_count": ["date", "hour"],
    "heart_rate_hourly_summary": ["date", "hour"],
}


def _one_load_per_file(wh: Warehouse, table: str, bronze_table: str) -> bool:
    """Whether every row of silver ``table`` sits in a ``load_id=N/``
    partition that holds one batch-loaded file of its own: no part file
    lies outside those partitions, the ingestion ledger maps each
    partition's id to one batch file name (a row of any status for
    ``bronze_table``), and no two partitions to the same name."""
    parts = wh.partitions("silver", table)
    if sum(map(len, parts.values())) != sum(1 for _ in wh.part_files("silver", table)):
        return False
    names: dict[int, set[str]] = {}
    for r in ledger.read(wh, "ingestion_logs"):
        if r.target_table == bronze_table:
            names.setdefault(r.load_id, set()).add(r.file_name)
    seen: set[str] = set()
    for load_id in parts:
        if len(names.get(load_id, ())) != 1:
            return False
        (name,) = names[load_id]
        # a stream epoch key (``stream:<query id>:<epoch id>``) is no batch
        # file: nothing writes one now, but a warehouse an earlier release
        # stream-ingested keeps them, and an epoch landed many files under
        # one id and could re-land a batch file, which only the window drops
        if name.startswith("stream:") or name in seen:
            return False
        seen.add(name)
    return True


def read_current(spark: SparkSession, wh: Warehouse, table: str) -> DataFrame:
    """The current rows of a silver table: what every gold builder and
    dashboard query reads.

    ``all_spending`` keeps the newest load of each ``_source_file``
    (``qualify_latest_batch``). When every partition of it is one batch
    file's own load (``_one_load_per_file``), that window keeps every row
    and the table is returned as read: a batch load writes ``_source_file``
    = the file's name, which is the ledger's ``file_name``, and
    ``ledger.reserve`` gives a (table, file name) one load_id ever, so each
    ``_source_file`` lives in one partition. Otherwise the window runs: an
    older warehouse's stream epoch landed many files under one id; a
    legacy ledger or a load_id with no ledger row proves nothing; and a
    part file outside the ``load_id=N/`` layout (at the table root, say)
    holds load_ids that no listing sees.
    """
    df = wh.read(spark, "silver", table)
    if table == "all_spending":
        # spending rows have no natural key; latest re-upload of a FILE
        # wins wholesale (sp_full_travel_costs.sql:14-17)
        if _one_load_per_file(wh, table, SILVER_TRANSFORMS["transactions"][0]):
            return df
        return qualify_latest_batch(df, ["_source_file"])
    return qualify_dedup_latest(df, _CURRENT_KEYS[table])


__all__ = ["SILVER_TRANSFORMS", "read_current", "run_silver"]

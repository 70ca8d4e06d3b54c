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


def read_current(spark: SparkSession, wh: Warehouse, table: str) -> DataFrame:
    """The current rows of a silver table: what every gold builder and
    dashboard query reads."""
    df = wh.read(spark, "silver", table)
    if table == "all_spending":
        # spending rows have no natural key; latest re-upload of a FILE
        # wins wholesale (sp_full_travel_costs.sql:14-17)
        return qualify_latest_batch(df, ["_source_file"])
    return qualify_dedup_latest(df, _CURRENT_KEYS[table])


__all__ = ["SILVER_TRANSFORMS", "read_current", "run_silver"]

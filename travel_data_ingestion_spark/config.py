"""Metadata-driven ingestion config (ADMIN.FILE_DETAILS analog).

The reference drives its whole ingestion layer from a config table keyed
by lower-cased target table (reference ingestion_logic.py:5-25
load_config; sql/admin_file_details.sql:1-9). Same model here: config
rows live in ``admin.file_details`` and are loaded into a dict. The
table is read and written on the driver (``ledger.read``/``replace``):
no Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse


@dataclass(frozen=True)
class FileDetail:
    file_id: int
    source_path: str  # landing directory (stage path analog)
    file_pattern: str  # glob, e.g. transactions_*.csv
    target_schema: str
    target_table: str
    file_format: str  # 'csv' | 'json'
    container: str = "landing"
    stage_name: str = "local"


DEFAULT_DATASETS: tuple[FileDetail, ...] = (
    FileDetail(1, "", "transactions*.csv", "bronze", "transactions", "csv"),
    FileDetail(2, "", "manual_logs*.csv", "bronze", "manual_logs", "csv"),
    FileDetail(3, "", "flight_logs*.csv", "bronze", "flight_logs", "csv"),
    FileDetail(4, "", "fitbit_steps*.csv", "bronze", "fitbit_steps", "csv"),
    FileDetail(5, "", "fitbit_sleep_score*.csv", "bronze", "fitbit_sleep_score", "csv"),
    FileDetail(6, "", "fitbit_heart_rate*.csv", "bronze", "fitbit_heart_rate", "csv"),
    FileDetail(7, "", "google_timeline*.json", "bronze", "google_timeline", "json"),
)


def default_config(landing_dir: str) -> dict[str, FileDetail]:
    """Config keyed by lower-cased target table (ingestion_logic.py:14)."""
    return {
        d.target_table.lower(): FileDetail(
            d.file_id,
            landing_dir,
            d.file_pattern,
            d.target_schema,
            d.target_table,
            d.file_format,
        )
        for d in DEFAULT_DATASETS
    }


def save_config(spark: SparkSession, wh: Warehouse, config: dict[str, FileDetail]) -> None:
    """Replace the config table with ``config``'s rows. ``spark`` is
    unused: the signature is the other pipeline steps'."""
    ledger.replace(wh, "file_details", [
        (
            d.file_id,
            d.container,
            d.stage_name,
            d.source_path,
            d.file_pattern,
            d.target_schema,
            d.target_table,
            d.file_format,
        )
        for d in config.values()
    ])


def load_config(spark: SparkSession, wh: Warehouse) -> dict[str, FileDetail]:
    """Config-table scan -> dict (reference ingestion_logic.py:5-25)."""
    return {
        r.target_table.lower(): FileDetail(
            r.file_id,
            r.source_path,
            r.file_pattern,
            r.target_schema,
            r.target_table,
            r.file_format,
            r.container,
            r.stage_name,
        )
        for r in ledger.read(wh, "file_details")
    }

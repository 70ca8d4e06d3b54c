"""Incremental silver runner: ledger-driven batch selection + idempotent
writes + transformation logging (reference transformation_logic.py:12-56
and the per-dataset boilerplate in scripts/transformations/*.py).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark import ledger
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.silver import transforms

# dataset name -> (bronze table, transform fn)
SILVER_TRANSFORMS: dict[str, tuple[str, Callable[[DataFrame], dict[str, DataFrame]]]] = {
    "transactions": ("transactions", transforms.transactions),
    "manual_logs": ("manual_logs", transforms.manual_logs),
    "flight_logs": ("flight_logs", transforms.flight_logs),
    "fitbit_steps": ("fitbit_steps", transforms.fitbit_steps),
    "fitbit_sleep": ("fitbit_sleep_score", transforms.fitbit_sleep),
    "fitbit_heart_rate": ("fitbit_heart_rate", transforms.fitbit_heart_rate),
    "google_timeline": ("google_timeline", transforms.google_timeline),
}


def bronze_load_ids(wh: Warehouse, bronze_table: str) -> list[int]:
    """The table's load_ids, from its partition directories: a file
    listing, no scan and no Spark job."""
    return sorted(wh.partitions("bronze", bronze_table))


def run_silver(
    spark: SparkSession,
    wh: Warehouse,
    datasets: list[str] | None = None,
    load_id: int | None = None,
    reprocess: bool = False,
) -> dict[str, int]:
    """Run silver transforms for all (or selected) datasets.

    ``load_id`` pins one batch; ``reprocess`` bypasses the ledger filter
    (reference transformation_logic.py:33-38, K-02). A batch is pending
    while its bronze load_id has no SUCCESS ledger row (reference
    transactions.py:14-23, C-05). All pending batches
    of a dataset are processed in ONE DataFrame pass; the written rows
    keep their load_id so the idempotent sink overwrites exactly the
    affected partitions. The ledger is read once and written twice per
    run: one RUNNING row per dataset, then every terminal row.
    """
    snap = ledger.snapshot(wh, "transformation_logs")
    done = {(r.transformation_name, r.load_id) for r in snap.rows if r.status == "SUCCESS"}
    work = []
    for name in datasets or list(SILVER_TRANSFORMS):
        ids = [load_id] if load_id is not None else [
            i for i in bronze_load_ids(wh, SILVER_TRANSFORMS[name][0])
            if reprocess or (name, i) not in done
        ]
        if ids:
            work.append((snap.next_id + len(work), name, ids))
    ledger.append(wh, "transformation_logs",
                  [(tid, name, max(ids), "RUNNING", None, None) for tid, name, ids in work])
    results: dict[str, int] = {}
    failures: dict[str, str] = {}
    terminal = []
    for trans_id, name, ids in work:
        bronze_table, fn = SILVER_TRANSFORMS[name]
        batch = wh.read(spark, "bronze", bronze_table).filter(F.col("load_id").isin(ids))
        rows: Counter[int] = Counter()
        try:
            for table, df in fn(batch).items():
                rows.update(wh.write_idempotent(spark, df, "silver", table))
        except Exception as exc:  # noqa: BLE001 - per-dataset isolation
            terminal.append((trans_id, name, max(ids), "FAILURE", None, str(exc)[:2000]))
            failures[name] = str(exc)[:500]
            continue
        # one SUCCESS row per processed batch, with that batch's rows over
        # the dataset's output tables: the ledger is the exactly-once
        # contract the next run's selection reads
        terminal += [(trans_id, name, i, "SUCCESS", rows[i], None) for i in ids]
        results[name] = sum(rows.values())
    ledger.append(wh, "transformation_logs", terminal)
    if failures:
        # true per-dataset isolation (each reference transform is its own
        # Airflow task): every healthy dataset was processed and logged
        # before the run as a whole reports failure.
        raise RuntimeError(
            f"run_silver: {len(failures)} dataset(s) failed after processing "
            f"{len(results)} successfully: {failures}"
        )
    return results

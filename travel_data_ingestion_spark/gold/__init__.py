"""Gold layer: analytical report builders (reference sql/sp_*.sql).

Each builder reads silver tables from the warehouse and overwrites its
gold table (CTAS / truncate-insert semantics, A-11/A-12). The fan-out of
all three reports mirrors silver_to_gold_dag.py:53-69 (K-03).

``Warehouse.overwrite`` makes a build pay only for what changed: when
the report's query and the silver files it reads are the ones its table
was built from (the table's ``_build_key``), the write is skipped, so a
no-op pipeline re-run costs gold no Spark job. New landing files or
``run_silver(reprocess=True)`` rewrite silver files and so rebuild;
deleting ``_build_key`` forces a rebuild. Builders return their
DataFrame either way.
"""

from travel_data_ingestion_spark.gold.full_travel_cost import build_full_travel_cost
from travel_data_ingestion_spark.gold.travel_tax_report import build_travel_tax_report
from travel_data_ingestion_spark.gold.transport_mode import build_transport_mode_analysis
from travel_data_ingestion_spark.gold.daily_summary import daily_travel_summary


def build_all_gold(spark, wh) -> None:
    """K-03 gold fan-out."""
    build_full_travel_cost(spark, wh)
    build_travel_tax_report(spark, wh)
    build_transport_mode_analysis(spark, wh)


__all__ = [
    "build_full_travel_cost",
    "build_travel_tax_report",
    "build_transport_mode_analysis",
    "daily_travel_summary",
    "build_all_gold",
]

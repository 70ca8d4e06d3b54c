"""gold.transport_mode_analysis — distance/segment stats per activity.

Reference: SP_TRANSPORT_MODE_ANALYSIS is invoked (silver_to_gold_dag.py:68)
but its body is NOT in the repo. Semantics reconstructed per SURVEY
§7.4-7 from the nearest observable consumer: distance-by-mode aggregation
`move_df.groupby('ACTIVITY_TYPE')['DISTANCE_METERS'].sum()/1000`
(travel_and_movement_map.py:220-224), over the recency-deduped timeline.
Reference-underspecified — this spec is pinned by our tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.silver import read_current


def transport_mode_df(timeline: DataFrame) -> DataFrame:
    """``timeline`` is the current silver rows (silver.read_current)."""
    moves = timeline.filter(
        (F.col("segment_type") == "ACTIVITY") & F.col("activity_type").isNotNull()
    )
    return moves.groupBy(F.col("activity_type").alias("mode")).agg(
        (F.sum("distance_meters") / 1000.0).alias("total_km"),
        F.count(F.lit(1)).alias("segment_count"),
        F.avg("distance_meters").alias("avg_distance_meters"),
        F.countDistinct(F.to_date("start_time")).alias("days_active"),
    )


def build_transport_mode_analysis(spark: SparkSession, wh: Warehouse) -> DataFrame:
    out = transport_mode_df(read_current(spark, wh, "google_timeline"))
    wh.overwrite(spark, out, "gold", "transport_mode_analysis")
    return out

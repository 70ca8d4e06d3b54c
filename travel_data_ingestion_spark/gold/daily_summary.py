"""SP_GET_DAILY_TRAVEL_SUMMARY — one JSON document per day (D-14).

Reference: the procedure body is absent from the repo; the contract is
reconstructed from its consumer (streamlit/daily_travel_summary.py:
23-27 CALL -> json.loads; :32-36 TOTAL_SPENT/TOTAL_STEPS scalars; :45
SLEEP_DATA; :52 MANUAL_LOGS; :61 FLIGHTS; :87 SPENDING_ITEMS; :96-102
TIMELINE_SEGMENTS with VISIT_LAT/VISIT_LON/START_LAT/.../END_LON).
Reference-underspecified — semantics defined by this spec (SURVEY §7.4-7).

Row-arrays are sorted (array_sort over structs) so the document is
byte-deterministic.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.compat import try_to_date
from travel_data_ingestion_spark.silver import read_current


def _rows_array(*cols: F.Column) -> F.Column:
    return F.array_sort(F.collect_list(F.struct(*cols)))


def daily_travel_summary_df(spark: SparkSession, wh: Warehouse, date: str) -> DataFrame:
    """Assemble the one-row document DataFrame for ``date``."""
    d = F.lit(date).cast("date")

    spending = read_current(spark, wh, "all_spending").filter(try_to_date("date") == d)
    logs = read_current(spark, wh, "manual_logs").filter(try_to_date("date") == d)
    flights = read_current(spark, wh, "flight_logs").filter(F.col("date") == d)
    sleep = read_current(spark, wh, "sleep_log").filter(F.to_date("timestamp") == d)
    steps = read_current(spark, wh, "hourly_step_count").filter(F.col("date") == d)
    timeline = read_current(spark, wh, "google_timeline").filter(F.to_date("start_time") == d)

    total_spent = spending.agg(F.coalesce(F.sum("amount"), F.lit(0.0)).alias("v"))
    total_steps = steps.agg(F.coalesce(F.sum("steps"), F.lit(0)).alias("v"))

    spend_arr = spending.agg(
        _rows_array(
            F.col("name"), F.col("type"), F.col("amount"), F.col("comments")
        ).alias("spending_items")
    )
    logs_arr = logs.agg(
        _rows_array(
            F.col("day").cast("long").alias("day"),
            F.col("city"),
            F.col("country").alias("county"),
            F.col("description"),
            F.col("comments"),
        ).alias("manual_logs")
    )
    flights_arr = flights.agg(
        _rows_array(
            F.col("flight_number"),
            F.col("from").alias("from_airport"),
            F.col("to").alias("to_airport"),
            F.col("duration"),
        ).alias("flights")
    )
    sleep_arr = sleep.agg(
        _rows_array(
            F.col("sleep_log_entry_id"),
            F.col("overall_score"),
            F.col("deep_sleep_in_minutes"),
            F.col("resting_heart_rate"),
        ).alias("sleep_data")
    )
    timeline_arr = timeline.agg(
        _rows_array(
            F.date_format("start_time", "yyyy-MM-dd HH:mm:ss").alias("start_time"),
            F.col("segment_type"),
            F.col("visit_latitude").alias("visit_lat"),
            F.col("visit_longitude").alias("visit_lon"),
            F.col("activity_start_latitude").alias("start_lat"),
            F.col("activity_start_longitude").alias("start_lon"),
            F.col("activity_end_latitude").alias("end_lat"),
            F.col("activity_end_longitude").alias("end_lon"),
            F.col("activity_type"),
            F.col("distance_meters"),
        ).alias("timeline_segments")
    )

    doc = (
        total_spent.crossJoin(total_steps.withColumnRenamed("v", "steps"))
        .crossJoin(spend_arr)
        .crossJoin(logs_arr)
        .crossJoin(flights_arr)
        .crossJoin(sleep_arr)
        .crossJoin(timeline_arr)
        .select(
            F.lit(date).alias("summary_date"),
            F.to_json(
                F.struct(
                    F.lit(date).alias("date"),
                    F.col("v").alias("total_spent"),
                    F.col("steps").alias("total_steps"),
                    F.col("spending_items"),
                    F.col("manual_logs"),
                    F.col("flights"),
                    F.col("sleep_data"),
                    F.col("timeline_segments"),
                )
            ).alias("document"),
        )
    )
    return doc


def daily_travel_summary(spark: SparkSession, wh: Warehouse, date: str) -> dict:
    """CALL-style API: returns the parsed document (consumer does
    json.loads — daily_travel_summary.py:27)."""
    row = daily_travel_summary_df(spark, wh, date).first()
    return json.loads(row.document)

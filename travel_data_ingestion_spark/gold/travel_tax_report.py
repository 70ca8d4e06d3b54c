"""gold.travel_tax_report — flight-day x next-morning-recovery report.

Reference: sql/sp_travel_tax_report.sql (whole file). The as-of-style
"next day" correlation is an exact equi-join on a shifted date key
(flight_date = wake_up_date - 1, :110-112, C-02). LISTAGG DISTINCT
destinations is sorted for determinism (SURVEY §7.4-3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.compat import (
    listagg,
    try_time_to_hours,
    try_to_date,
    zeroifnull,
)
from travel_data_ingestion_spark.silver import read_current


def travel_tax_report_df(
    flights: DataFrame, sleep: DataFrame, hr_hourly: DataFrame
) -> DataFrame:
    """The three inputs are the current silver rows (silver.read_current):
    flights per (date, flight_number), sleep per entry id and hourly HR
    per (date, hour), newest load winning (:29-36, :49-57, :60-69)."""
    # STEP A (:29-36): parse the "HH:MM" duration to fractional hours
    # (H-07 TRY_TO_TIME).
    clean_flights = flights.select(
        try_to_date(F.col("date").cast("string")).alias("flight_date"),
        F.col("to").alias("arrival_airport"),
        try_time_to_hours("duration").alias("duration_hours"),
    )
    # STEP B (:39-46): daily flight grain.
    daily_flights = clean_flights.groupBy("flight_date").agg(
        F.sum("duration_hours").alias("total_flight_hours"),
        F.count(F.lit(1)).alias("flight_count"),
        listagg("arrival_airport", ", ", distinct=True).alias("destinations"),
    )
    # STEP C (:49-57): one sleep row per entry id.
    clean_sleep = sleep.select(
        F.to_date("timestamp").alias("wake_up_date"),
        "overall_score",
        "deep_sleep_in_minutes",
        "resting_heart_rate",
    )
    # STEP D (:60-81): daily re-agg of the deduped hourly HR. The daily
    # AVG is an AVG of hourly AVGs by contract (SURVEY §7.4-5) — not
    # reading-weighted.
    daily_hr = hr_hourly.groupBy(F.col("date").alias("hr_date")).agg(
        F.min("hourly_min_hr").alias("daily_min_hr"),
        F.max("hourly_max_hr").alias("daily_max_hr"),
        F.avg("hourly_avg_hr").alias("daily_avg_hr"),
    )

    f, s, h = daily_flights.alias("f"), clean_sleep.alias("s"), daily_hr.alias("h")
    joined = f.join(
        s, F.col("f.flight_date") == F.date_sub(F.col("s.wake_up_date"), 1), "full_outer"
    ).join(h, F.col("s.wake_up_date") == F.col("h.hr_date"), "left")

    tfh = F.col("f.total_flight_hours")
    score = F.col("s.overall_score")
    return joined.select(
        F.coalesce(F.col("f.flight_date"), F.date_sub(F.col("s.wake_up_date"), 1)).alias(
            "report_date"
        ),
        F.when(tfh > 0, F.lit(True)).otherwise(F.lit(False)).alias("is_travel_day"),
        zeroifnull(tfh).cast("double").alias("total_flight_hours"),
        zeroifnull(F.col("f.flight_count")).cast("long").alias("flight_count"),
        F.coalesce(F.col("f.destinations"), F.lit("No Travel")).alias("destination_city"),
        score.alias("next_day_sleep_score"),
        F.col("s.deep_sleep_in_minutes").alias("next_day_deep_sleep_min"),
        F.col("s.resting_heart_rate").alias("next_day_resting_hr"),
        (F.col("h.daily_max_hr") - F.col("h.daily_min_hr")).alias("next_day_hr_variability"),
        F.when((tfh > 4) & (score < 70), "High Strain")
        .when(score > 85, "Well Recovered")
        .otherwise("Normal")
        .alias("recovery_status"),
    )


def build_travel_tax_report(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """Truncate-and-insert sink (A-12) -> overwrite."""
    out = travel_tax_report_df(
        read_current(spark, wh, "flight_logs"),
        read_current(spark, wh, "sleep_log"),
        read_current(spark, wh, "heart_rate_hourly_summary"),
    )
    wh.overwrite(spark, out, "gold", "travel_tax_report")
    return out

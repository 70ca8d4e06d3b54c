"""Dashboard query layer — the interactive consumers' 7 parameterized
queries as DataFrame functions returning small result sets.

Reference: streamlit/travel_and_movement_map.py:89-128 (direct-SQL
dashboard) and the client-side pandas analytics (:119 bearing,
:199-247 aggregations) re-expressed as executor-side native expressions.
These return DataFrames; the presentation layer collects them
(small results only — every function here ends in a date-range filter
or an aggregation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.compat import ascii_upper, try_to_date
from travel_data_ingestion_spark.silver import read_current


def bearing(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle initial bearing in degrees; 0.0 for null/identical
    points (reference travel_and_movement_map.py:22-38, I-03). Pure trig
    expressions — no UDF."""
    dlon = F.radians(lon2 - lon1)
    x = F.sin(dlon) * F.cos(F.radians(lat2))
    y = F.cos(F.radians(lat1)) * F.sin(F.radians(lat2)) - F.sin(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.cos(dlon)
    deg = (F.degrees(F.atan2(x, y)) + 360.0) % 360.0
    invalid = (
        lat1.isNull()
        | lon1.isNull()
        | lat2.isNull()
        | lon2.isNull()
        | ((lat1 == lat2) & (lon1 == lon2))
    )
    return F.when(invalid, 0.0).otherwise(deg)


def activity_color(activity: Column) -> Column:
    """Activity -> RGBA array (reference travel_and_movement_map.py:41-52,
    I-04). when() chain over array literals."""
    a = ascii_upper(activity.cast("string"))

    def rgba(r: int, g: int, b: int, al: int) -> Column:
        return F.array(F.lit(r), F.lit(g), F.lit(b), F.lit(al))

    return (
        F.when(a == "WALKING", rgba(50, 205, 50, 200))
        .when(a.isin("IN_PASSENGER_VEHICLE", "DRIVING", "MOTORCYCLING"), rgba(255, 140, 0, 200))
        .when(a.isin("IN_TRAIN", "IN_SUBWAY", "IN_TRAM", "IN_BUS"), rgba(148, 0, 211, 200))
        .when(a == "CYCLING", rgba(255, 20, 147, 200))
        .otherwise(rgba(30, 144, 255, 200))
    )


def _between(col: Column, start: str, end: str) -> Column:
    return col.between(start, end)


def visits(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:89-94 — visit points with tooltip."""
    tl = read_current(spark, wh, "google_timeline")
    return (
        tl.filter(
            (F.col("segment_type") == "VISIT")
            & _between(F.to_date("start_time"), start, end)
            & F.col("visit_latitude").isNotNull()
            & F.col("visit_longitude").isNotNull()
        )
        .select(
            F.col("visit_latitude").alias("lat"),
            F.col("visit_longitude").alias("lon"),
            F.col("start_time").alias("visit_time"),
            "place_id",
            F.concat(
                F.lit("<b>Type:</b> Visit <br/><b>Time:</b> "),
                F.col("start_time").cast("string"),
            ).alias("tooltip_text"),
        )
    )


def movements(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:103-122 — activity segments with color,
    tooltip, and ground-segment bearing (FLYING excluded from bearing)."""
    tl = read_current(spark, wh, "google_timeline")
    mv = tl.filter(
        (F.col("segment_type") == "ACTIVITY")
        & _between(F.to_date("start_time"), start, end)
        & F.col("activity_start_latitude").isNotNull()
        & F.col("activity_end_latitude").isNotNull()
    ).select(
        F.col("activity_start_latitude").alias("start_lat"),
        F.col("activity_start_longitude").alias("start_lon"),
        F.col("activity_end_latitude").alias("end_lat"),
        F.col("activity_end_longitude").alias("end_lon"),
        "activity_type",
        "distance_meters",
        "start_time",
        "end_time",
    )
    return mv.withColumn(
        "tooltip_text",
        F.concat(
            F.lit("<b>Type:</b> "),
            F.coalesce(F.col("activity_type"), F.lit("Unknown")),
            F.lit("<br/><b>Distance:</b> "),
            F.coalesce(F.col("distance_meters").cast("string"), F.lit("?")),
            F.lit("m"),
        ),
    ).withColumn("color", activity_color(F.col("activity_type"))).withColumn(
        "bearing",
        F.when(
            ~F.col("activity_type").eqNullSafe("FLYING"),
            bearing(
                F.col("start_lat"), F.col("start_lon"), F.col("end_lat"), F.col("end_lon")
            ),
        ),
    )


def itinerary(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:124 — itinerary rows. The consumer
    spells the column COUNTRY; silver stores `country` (SURVEY §7.4-6)."""
    logs = read_current(spark, wh, "manual_logs")
    return (
        logs.filter(_between(try_to_date(F.col("date")), start, end))
        .select("date", "city", F.col("country"), "description", "comments", "hotel")
        .orderBy(F.asc("date"))
    )


def spending(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:125 — transactions, multi-key sort."""
    sp = read_current(spark, wh, "all_spending")
    return (
        sp.filter(_between(try_to_date(F.col("date")), start, end))
        .select("date", "type", "name", "amount")
        .orderBy(F.asc("type"), F.desc("amount"))
    )


def flights(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:126 — flight rows for the range."""
    fl = read_current(spark, wh, "flight_logs")
    return fl.filter(_between(F.col("date"), start, end)).select(
        "date", "flight_number", "airline", "from", "to", "aircraft", "duration"
    )


def sleep(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:127 — sleep scores by date prefix
    (LEFT(TIMESTAMP, 10), H-02)."""
    sl = read_current(spark, wh, "sleep_log")
    date = F.to_date(F.substring(F.col("timestamp").cast("string"), 1, 10))
    return (
        sl.filter(_between(date, start, end))
        .select(
            date.alias("date"),
            "overall_score",
            "deep_sleep_in_minutes",
            "resting_heart_rate",
        )
        .orderBy("date")
    )


def daily_steps(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:128 — daily step totals (D-11)."""
    st = read_current(spark, wh, "hourly_step_count")
    return (
        st.filter(_between(F.col("date"), start, end))
        .groupBy("date")
        .agg(F.sum("steps").alias("total_steps"))
        .orderBy("date")
    )


def spend_by_type_pivot(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """Client-side stacked-chart pivot moved executor-side
    (travel_and_movement_map.py:199 unstack().fillna(0), D-12)."""
    sp = read_current(spark, wh, "all_spending")
    return (
        sp.filter(_between(try_to_date(F.col("date")), start, end))
        .groupBy("date")
        .pivot("type")
        .sum("amount")
        .na.fill(0)
    )


def top_expenses(spark: SparkSession, wh: Warehouse, start: str, end: str, k: int = 5) -> DataFrame:
    """travel_and_movement_map.py:210 nlargest(5,'AMOUNT') (F-04)."""
    sp = read_current(spark, wh, "all_spending")
    return (
        sp.filter(_between(try_to_date(F.col("date")), start, end))
        .orderBy(F.desc("amount"))
        .limit(k)
    )


def distance_by_mode(spark: SparkSession, wh: Warehouse, start: str, end: str) -> DataFrame:
    """travel_and_movement_map.py:220-224 — km per activity type."""
    tl = read_current(spark, wh, "google_timeline")
    return (
        tl.filter(
            (F.col("segment_type") == "ACTIVITY")
            & _between(F.to_date("start_time"), start, end)
        )
        .groupBy("activity_type")
        .agg((F.sum("distance_meters") / 1000.0).alias("total_km"))
    )

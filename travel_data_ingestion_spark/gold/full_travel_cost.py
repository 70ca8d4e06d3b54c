"""gold.full_travel_cost — itinerary x spending daily cost report.

Reference: sql/sp_full_travel_costs.sql (whole file). Column names are
lower-cased; the itinerary's single `country` silver column is exposed
as `county` to match the reference's gold consumer surface
(sp_full_travel_costs.sql:52 selects L.COUNTY; SURVEY §7.4-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.compat import listagg, try_to_date
from travel_data_ingestion_spark.silver import read_current


def full_travel_cost_df(spending: DataFrame, logs: DataFrame) -> DataFrame:
    """``spending`` and ``logs`` are the current silver rows
    (silver.read_current): LOGIC 1 and 2 of sp_full_travel_costs.sql
    (:14-24) keep the newest re-upload of each spending file and one
    itinerary row per date."""
    # 3. Pivot spending by category + ordered comment aggregation (:27-43).
    cat = F.upper(F.trim(F.col("type")))

    def cost(name: str) -> F.Column:
        return F.sum(F.when(cat == name, F.col("amount")).otherwise(0)).alias(
            f"{name.lower()}_cost"
        )

    pivot = (
        spending.withColumn("join_date", try_to_date("date"))
        .filter(F.col("join_date").isNotNull())
        .groupBy("join_date")
        .agg(
            cost("HOTEL"),
            cost("FOOD"),
            cost("ACTIVITY"),
            cost("TRAVEL"),
            cost("MISC"),
            listagg("comments", "; ").alias("cost_comment"),
        )
    )

    # 4. LEFT join itinerary -> spending on the parsed date (:46-74, C-01).
    l = logs.select(
        F.col("day").cast("long").alias("day"),
        "date",
        try_to_date("date").alias("order_date"),
        "city",
        F.col("country").alias("county"),
        "description",
        F.col("comments").alias("log_comment"),
        F.col("food").alias("food_desc"),
        F.col("travel").alias("travel_desc"),
        F.col("hotel").alias("hotel_desc"),
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    joined = (
        l.join(F.broadcast(pivot), l.order_date == pivot.join_date, "left")
        .select(
            l["*"],
            z("hotel_cost").alias("hotel"),
            z("food_cost").alias("food"),
            z("activity_cost").alias("activity"),
            z("travel_cost").alias("travel"),
            z("misc_cost").alias("misc"),
            F.col("cost_comment"),
        )
        .withColumn(
            "total",
            F.col("hotel") + F.col("food") + F.col("activity") + F.col("travel") + F.col("misc"),
        )
    )

    # 5. Running total + guarded daily average (:94-101, E-03/E-04). The
    # window is global by contract — it runs on the per-day report
    # (O(days) rows), never on raw facts.
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum("total").over(w)
    return joined.select(
        "day",
        "date",
        "city",
        "county",
        "description",
        "hotel",
        "food",
        "activity",
        "travel",
        "misc",
        "total",
        running.alias("running_total"),
        F.when(F.col("day") > 0, running / F.col("day")).otherwise(0).alias("daily_avg"),
        "cost_comment",
        F.col("log_comment").alias("comments"),
        "food_desc",
        "travel_desc",
        "hotel_desc",
        "order_date",
    ).orderBy("order_date")


def build_full_travel_cost(spark: SparkSession, wh: Warehouse) -> DataFrame:
    """CREATE OR REPLACE TABLE gold.full_travel_cost (A-11)."""
    spending = read_current(spark, wh, "all_spending")
    logs = read_current(spark, wh, "manual_logs")
    out = full_travel_cost_df(spending, logs).drop("order_date")
    wh.overwrite(spark, out, "gold", "full_travel_cost")
    return out

"""Z-order curve value: multi-column clustering for data skipping.

The skipping property under test: assign each row to one of 16 files by
equal ranges of ``zorder_value`` (zo01's file rule), measure each file's
bounding box (min..max per z-ordered column) — Z-order files must cover
far less of the value space than the incoming layout, so parquet footer
min/max stats prune files for predicates on EITHER column (a
single-column sort only helps its leading column).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from travel_data_ingestion_spark.maintenance import zorder_value

BITS = 8
SPAN = 65536


def _points(spark, n=40_000):
    return (
        spark.range(n)
        .withColumn("x", (F.col("id") * 48271 % SPAN).cast("long"))
        .withColumn("y", (F.col("id") * 69621 % SPAN).cast("long"))
    )


def _zfiles(df):
    """16 files = 16 equal z-ranges: the top 4 of the 2*BITS z bits, i.e.
    the top two bucket bits of EACH column (a 4x4 grid)."""
    step = SPAN / (1 << BITS)
    cuts = [k * step for k in range(1, 1 << BITS)]
    z = zorder_value(["x", "y"], bits=BITS, boundaries={"x": cuts, "y": cuts})
    return df.withColumn("__p", F.shiftright(z, 2 * BITS - 4))


def _avg_box_area(df, c1, c2):
    box = df.groupBy("__p").agg(
        (F.max(c1) - F.min(c1)).alias("w"), (F.max(c2) - F.min(c2)).alias("h")
    )
    rows = box.collect()
    return sum(r.w * r.h for r in rows) / len(rows)


def test_zorder_shrinks_bounding_boxes(spark):
    df = _points(spark).repartition(16)
    before = _avg_box_area(df.withColumn("__p", F.spark_partition_id()), "x", "y")
    after = _avg_box_area(_zfiles(df), "x", "y")
    # 16 z-order files over a 2-D uniform space: each box covers ~1/16
    # of the area; the random layout's boxes each cover ~all of it.
    assert after < before / 4


def test_zorder_skips_on_second_column(spark):
    """A range predicate on the SECOND column alone must touch only a
    minority of z-order files (the whole point vs a lexicographic sort,
    where y-only predicates hit every file)."""
    part = _zfiles(_points(spark))
    stats = part.groupBy("__p").agg(F.min("y").alias("lo"), F.max("y").alias("hi"))
    # files a footer-stats reader would touch for y BETWEEN 1000 AND 5000
    touched = stats.filter((F.col("lo") <= 5000) & (F.col("hi") >= 1000)).count()
    total = stats.count()
    assert total == 16
    assert touched <= total / 2, (touched, total)

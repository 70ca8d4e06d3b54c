"""Extended relational operators beyond the reference's own surface.

A user switching from the reference to this engine gets the full
analytical vocabulary: as-of joins, exact percentiles, rollup grouping,
unpivot, set operations, ranking windows, range-frame moving windows,
approximate aggregates. Everything stays declarative; the as-of join is
the one operator Spark lacks natively — implemented as the
union + last_value(ignoreNulls) pattern (single shuffle on the key,
no per-row Python), verified against DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.compat import csum, csum_dec, csum_sql
from travel_data_ingestion_spark.queries import load_table, register
from travel_data_ingestion_spark.queries.relational import _davg, _dsum


@register(
    "c09_asof_join",
    """
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    purchases AS (
      SELECT user_id, ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id,
           p.purchase_id AS last_purchase_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
    FROM errors e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
    survey_ops=("X-ASOF-1", "C-02"),
    doc="As-of join: for each error event, the user's most recent "
    "purchase at-or-before it. Spark has no native ASOF; this is the "
    "scalable union + last_value(ignoreNulls) formulation — one shuffle "
    "on (user_id), one sort within partitions, no Python. Verified "
    "against DuckDB's native ASOF LEFT JOIN. The reference's closest "
    "construct is the exact date-shift join (sp_travel_tax_report."
    "sql:110-112); this generalizes it to true nearest-past matching.",
)
def c09_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    # tag and union: purchases sort before errors at equal ts so an
    # equal-timestamp purchase is visible (ASOF's >= inclusivity)
    left = errors.select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    right = purchases.select(
        "user_id",
        "ts",
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        "purchase_id",
    )
    unioned = left.unionByName(right)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "last_purchase_id", F.last("purchase_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_purchase_raw_ts",
        F.last(F.when(F.col("is_probe") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return filled.filter(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        "last_purchase_id",
        F.date_format("last_purchase_raw_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "last_purchase_ts"
        ),
    )


@register(
    "x02_range_join",
    """
    WITH win AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS win_start
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS qty
      FROM lineitem GROUP BY 1
    )
    SELECT w.o_orderkey,
           w.win_start AS win_start,
           CAST(COALESCE(SUM(d.n), 0) AS BIGINT) AS n_shipped,
           CAST(COALESCE(SUM(d.qty), 0) AS DOUBLE) AS qty_shipped
    FROM win w
    LEFT JOIN daily d ON d.d BETWEEN w.win_start AND w.win_start + 6
    GROUP BY w.o_orderkey, w.win_start
    """,
    survey_ops=("X-RANGE-1",),
    doc="Point-in-interval range join, binned: corpus-wide shipping "
    "activity inside each urgent order's 7-day window. A naive theta "
    "join (point BETWEEN lo AND hi) plans as a nested loop — quadratic "
    "at 100 TB. Two composable reductions make it a pure equi-join "
    "pipeline: (1) points PRE-AGGREGATE to the bin grain (daily count/"
    "decimal-qty — legal because the requested aggregates are "
    "decomposable), so the join touches ~#days rows, not #lineitems; "
    "(2) each interval EXPLODES into its covered day bins (sequence + "
    "explode, bounded 7x fan-out) and joins the daily grain on bin "
    "equality. Both sides shuffle on the uniform day key; no nested "
    "loop anywhere (plan gate: test_plans.py::test_range_join_is_"
    "binned). The DuckDB oracle runs the literal BETWEEN join. Decimal "
    "accumulation end-to-end; the final 7-value sum stays DECIMAL until "
    "one cast to DOUBLE, so cross-engine values are exact.",
)
def x02_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    win = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.to_date("o_orderdate").alias("win_start")
    )
    # qty cents <= 1e6 (canary): single compact sum, recombined to the
    # same DECIMAL(38,2) the wide SUM produced (the 7-bin second-level
    # sum stays decimal — its input is O(7) rows per order)
    daily = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        csum_dec("l_quantity", 2, split=None).alias("qty"),
    )
    days = win.select(
        "o_orderkey",
        "win_start",
        F.explode(
            F.sequence(F.col("win_start"), F.date_add("win_start", 6))
        ).alias("d"),
    )
    return (
        days.join(daily, "d", "left")
        .groupBy("o_orderkey", "win_start")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_shipped"),
            F.coalesce(F.sum("qty"), F.lit(0)).cast("double").alias("qty_shipped"),
        )
    )


@register(
    "d15_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
    survey_ops=("X-PCT-1",),
    doc="Exact linear-interpolated percentiles per group (Spark "
    "percentile == DuckDB quantile_cont). Rounded to 6dp for "
    "cross-engine float stability. The approximate variant for the "
    "100 TB path is d16_approx_aggs.",
)
def d15_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "d16_approx_aggs",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           COUNT(*) AS n,
           TRUE AS users_within_bounds,
           TRUE AS p50_within_bounds
    FROM events
    GROUP BY event_type
    """,
    survey_ops=("X-PCT-2",),
    doc="Approximate aggregates — the operators that actually run at "
    "100 TB: approx_count_distinct (HyperLogLog++, rsd=0.02) and "
    "percentile_approx (t-digest-style, accuracy=10000), with fixed "
    "accuracy parameters for per-engine determinism. Oracle-graded via "
    "BOUNDED WITNESSES: Spark computes both the sketch estimate and the "
    "exact value in one pass and emits the exact analytics plus "
    "in-plan error-contract booleans (|approx-exact| <= 5% of exact "
    "distinct count; <= 5.0 absolute on the ~0..100-range median — the "
    "same bounds tests/test_approx.py pins); DuckDB computes the same "
    "exact values with literal TRUE flags. The hash therefore pins the "
    "exact analytics AND the sketch error contract without pretending "
    "the two engines share an HLL/t-digest implementation.",
)
def d16_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
        F.count(F.lit(1)).alias("n"),
    )
    # multiplication form (no division): exact_users == 0 -> approx must
    # be 0 too; an all-NULL value group makes both medians NULL -> true
    return agg.select(
        "event_type",
        "exact_users",
        "exact_p50",
        "n",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("users_within_bounds"),
        F.coalesce(
            F.abs(F.col("approx_p50") - F.col("exact_p50")) <= F.lit(5.0),
            F.col("approx_p50").isNull() & F.col("exact_p50").isNull(),
        ).alias("p50_within_bounds"),
    )


@register(
    "d17_rollup",
    f"""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           {_dsum('o_totalprice', 2)} AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, o_orderpriority)
    """,
    survey_ops=("X-ROLLUP-1",),
    doc="Hierarchical ROLLUP totals (region -> priority -> grand total) "
    "in a single pass — subtotal levels labeled 'ALL' (source columns "
    "are never null, so the labeling is unambiguous).",
)
def d17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)  # scales: no hint
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), csum("o_totalprice", 2).alias("total"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
    )


@register(
    "d18_unpivot",
    f"""
    WITH pivoted AS (
      SELECT CAST(ts AS DATE) AS event_date,
             {_dsum("CASE WHEN event_type = 'click' THEN value ELSE 0 END", 4)} AS click,
             {_dsum("CASE WHEN event_type = 'view' THEN value ELSE 0 END", 4)} AS view
      FROM events GROUP BY 1
    )
    SELECT event_date, 'click' AS metric, click AS metric_value FROM pivoted
    UNION ALL
    SELECT event_date, 'view' AS metric, view AS metric_value FROM pivoted
    """,
    survey_ops=("X-UNPIVOT-1", "D-12"),
    doc="Unpivot (wide -> long) via the native unpivot/melt operator — "
    "the inverse of the D-06 pivot, used to re-normalize report tables.",
)
def d18_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        csum("CASE WHEN event_type = 'click' THEN value ELSE 0 END", 4).alias("click"),
        csum("CASE WHEN event_type = 'view' THEN value ELSE 0 END", 4).alias("view"),
    )
    return pivoted.unpivot(
        ids=["event_date"],
        values=["click", "view"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "g02_intersect_except",
    """
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    both_ AS (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers),
    only_click AS (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    SELECT 'both' AS cohort, COUNT(*) AS n FROM both_
    UNION ALL
    SELECT 'click_only' AS cohort, COUNT(*) AS n FROM only_click
    """,
    survey_ops=("G-02",),
    doc="INTERSECT / EXCEPT set operations (absent from the reference "
    "SQL; part of the complete relational surface).",
)
def g02_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clickers.intersect(buyers).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("cohort"), "n"
    )
    only = clickers.exceptAll(buyers).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("click_only").alias("cohort"), "n"
    )
    return both.unionByName(only)


@register(
    "e05_rank_lag_lead",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type, {_dsum('value', 4)} AS total
      FROM events GROUP BY 1, 2
    )
    SELECT d AS event_date, event_type, total,
           CAST(RANK() OVER (PARTITION BY event_type ORDER BY total DESC, d) AS BIGINT) AS day_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY event_type ORDER BY total DESC, d) AS BIGINT) AS day_dense_rank,
           LAG(total) OVER (PARTITION BY event_type ORDER BY d) AS prev_day,
           LEAD(total) OVER (PARTITION BY event_type ORDER BY d) AS next_day,
           CAST(NTILE(4) OVER (PARTITION BY event_type ORDER BY total, d) AS BIGINT) AS quartile
    FROM daily
    """,
    survey_ops=("X-WINDOW-1", "E-02"),
    doc="Ranking/offset window family (rank, dense_rank, lag, lead, "
    "ntile) over the daily grain — one shuffle on event_type serves all "
    "five windows (shared partitioning).",
)
def e05_rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d"), "event_type").agg(
        csum("value", 4).alias("total")
    )
    by_total = Window.partitionBy("event_type").orderBy(F.desc("total"), F.asc("d"))
    by_date = Window.partitionBy("event_type").orderBy("d")
    by_total_asc = Window.partitionBy("event_type").orderBy("total", "d")
    return daily.select(
        F.col("d").alias("event_date"),
        "event_type",
        "total",
        F.rank().over(by_total).cast("bigint").alias("day_rank"),
        F.dense_rank().over(by_total).cast("bigint").alias("day_dense_rank"),
        F.lag("total").over(by_date).alias("prev_day"),
        F.lead("total").over(by_date).alias("next_day"),
        F.ntile(4).over(by_total_asc).cast("bigint").alias("quartile"),
    )


@register(
    "e06_range_frame_moving_avg",
    f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day_idx,
             CAST(ts AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(28,4))) AS total
      FROM events GROUP BY 1, 2
    )
    SELECT d AS event_date,
           CAST(total AS DOUBLE) AS total,
           CAST(SUM(total) OVER (ORDER BY day_idx
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS total_7d,
           CAST(COUNT(*) OVER (ORDER BY day_idx
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_in_window
    FROM daily
    """,
    survey_ops=("X-WINDOW-2", "E-03"),
    doc="RANGE-frame moving window (7 calendar days) — value-based "
    "framing over a day index, so gaps in the calendar shrink the "
    "window (unlike ROWS). Decimal accumulation keeps sums exact.",
)
def e06_range_frame_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx"),
        F.to_date("ts").alias("d"),
    ).agg(csum_dec("value", 4).alias("total"))
    w = Window.orderBy("day_idx").rangeBetween(-6, Window.currentRow)
    return daily.select(
        F.col("d").alias("event_date"),
        F.col("total").cast("double").alias("total"),
        F.sum("total").over(w).cast("double").alias("total_7d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("days_in_window"),
    )


@register(
    "q06_sql_api",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           {_dsum('o_totalprice', 2)} AS total,
           {_davg('o_totalprice', 2)} AS avg_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
    survey_ops=("X-SQL-1",),
    doc="The SQL API surface: the same engine consumed through "
    "spark.sql over registered views — Catalyst produces the identical "
    "plan either way (SURVEY §3.3's direct-SQL dashboard path).",
)
def q06_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    # compat.csum_sql: same exact sum on compact buffers (bit-identical;
    # o_totalprice is canary-pinned exact-cents <= 1e6)
    total_sql = csum_sql("o_totalprice", 2)
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               {total_sql} AS total,
               {total_sql} / COUNT(o_totalprice) AS avg_price
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderpriority
        """
    )


@register(
    "d19_cube",
    f"""
    SELECT COALESCE(event_type, 'ALL') AS etype,
           COALESCE(CAST(user_id % 10 AS BIGINT), -1) AS cohort,
           COUNT(*) AS n,
           {_dsum('value', 4)} AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(user_id % 10 AS BIGINT))
    """,
    survey_ops=("X-CUBE-1",),
    doc="CUBE: all 2^k grouping combinations in one pass (type x cohort "
    "+ both marginals + grand total), subtotals labeled 'ALL'/-1. "
    "Completes the grouping-sets family next to d17's ROLLUP.",
)
def d19_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cohort = (F.col("user_id") % 10).cast("bigint")
    return (
        ev.cube("event_type", cohort.alias("cohort_raw"))
        .agg(F.count(F.lit(1)).alias("n"), csum("value", 4).alias("total_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("cohort_raw", F.lit(-1)).alias("cohort"),
            "n",
            "total_value",
        )
    )


@register(
    "q04_exists_count",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    survey_ops=("C-06", "D-09"),
    doc="Correlated EXISTS count (TPC-H Q4 shape): orders with at least "
    "one late-shipped line, counted by priority. Catalyst rewrites the "
    "correlated subquery to a left-semi join on orderkey — one shuffle, "
    "no row-at-a-time probing.",
)
def q04_exists_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "x01_fuzzy_name_match",
    """
    WITH probe AS (
      SELECT n_nationkey, n_name, length(n_name) + d.d AS len_key
      FROM nation, UNNEST([-4,-3,-2,-1,0,1,2,3,4]) AS d(d)
    )
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INT) AS edit_distance
    FROM nation a JOIN probe b
      ON length(a.n_name) = b.len_key AND a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 4
    """,
    survey_ops=("X-FUZZY-1",),
    doc="Fuzzy entity matching via edit distance: name pairs within "
    "Levenshtein distance 4 — the entity-resolution primitive behind "
    "merchant/place-name dedup. LOSSLESS length blocking converts the "
    "all-pairs theta-join into an equi-join: levenshtein(a,b) >= "
    "|len(a)-len(b)|, so one side emits len±4 keys and only same-window "
    "pairs are scored; each qualifying pair matches on exactly one key "
    "(d = len_a - len_b), so no dedup pass. At 100 TB compose with a "
    "second key (phonetic code or PassJoin segments) to split the "
    "popular-length blocks. Plan gate in "
    "test_plans.py::test_fuzzy_match_is_blocked.",
)
def x01_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    probe = nation.select(
        "n_nationkey",
        "n_name",
        F.explode(F.sequence(F.lit(-4), F.lit(4))).alias("d"),
    ).select(
        "n_nationkey", "n_name", (F.length("n_name") + F.col("d")).alias("len_key")
    )
    a, b = nation.alias("a"), probe.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(
            b,
            (F.length(F.col("a.n_name")) == F.col("b.len_key"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            dist.cast("int").alias("edit_distance"),
        )
    )


@register(
    "h18_map_ops",
    f"""
    WITH m AS (
      SELECT event_id, event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           COUNT(DISTINCT k_value) AS n_distinct_keys,
           MIN(k_value) AS min_k, MAX(k_value) AS max_k,
           {_dsum('k_value', 0)} AS sum_k
    FROM m GROUP BY event_type
    """,
    survey_ops=("H-15", "H-16"),
    doc="Map-typed semi-structured access: props JSON parsed to "
    "map<string,bigint> with from_json, values extracted via "
    "element_at — the map-column counterpart of h15's path extraction. "
    "At scale the parse happens once per row inside codegen.",
)
def h18_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    m = F.from_json("props", "map<string,bigint>")
    k = F.element_at(m, "k")
    # k_value is a BIGINT already (canary pins |k| <= 1e6, real data
    # 0..99): frac=0 skips the units multiply, the single compact sum's
    # envelope is 1e6 * 1.5e11 rows/group = 1.5e17 < 1e18
    return ev.select("event_type", k.alias("k_value")).groupBy("event_type").agg(
        F.countDistinct("k_value").alias("n_distinct_keys"),
        F.min("k_value").alias("min_k"),
        F.max("k_value").alias("max_k"),
        csum("k_value", 0, frac=0, split=None).alias("sum_k"),
    )


def _zorder_oracle() -> str:
    """Code-generated DuckDB twin of zo01: the 15-cut equal-width
    bucket sums, the bit interleave, and the file/skip math written as
    explicit SQL arithmetic (the _minhash_oracle pattern). The cut
    expression text mirrors the Spark side's driver-computed
    ``mn + k*(mx-mn)/16`` operation order exactly, so both engines
    evaluate identical IEEE doubles."""
    def bucket(col: str, mn: str, mx: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {col} >= {mn} + {k}*({mx} - {mn})/16 THEN 1 ELSE 0 END)"
            for k in range(1, 16)
        )
        return f"({terms})"

    bu = bucket("CAST(user_id AS DOUBLE)", "mnu", "mxu")
    bv = bucket("value", "mnv", "mxv")
    z = " + ".join(
        f"(((b{c} // {1 << i}) % 2) * {1 << (2 * i + j)})"
        for i in range(4)
        for j, c in enumerate(("u", "v"))
    )
    return f"""
    WITH mm AS (
      SELECT CAST(MIN(user_id) AS DOUBLE) AS mnu, CAST(MAX(user_id) AS DOUBLE) AS mxu,
             MIN(value) AS mnv, MAX(value) AS mxv
      FROM events
    ),
    b AS (
      SELECT {bu} AS bu, {bv} AS bv, user_id, value
      FROM events, mm
    ),
    f AS (
      SELECT CAST(({z}) // 16 AS BIGINT) AS file_id, 'zorder' AS layout,
             user_id, value
      FROM b
      UNION ALL
      SELECT CAST(bu AS BIGINT) AS file_id, 'sort_user' AS layout, user_id, value
      FROM b
    ),
    stats AS (
      SELECT layout, file_id,
             MIN(user_id) AS mn_u, MAX(user_id) AS mx_u,
             MIN(value) AS mn_v, MAX(value) AS mx_v
      FROM f GROUP BY layout, file_id
    ),
    preds AS (
      SELECT 'user_band' AS predicate, mnu + 0.4*(mxu - mnu) AS lo,
             mnu + 0.45*(mxu - mnu) AS hi, 'u' AS col FROM mm
      UNION ALL
      SELECT 'value_band', mnv + 0.4*(mxv - mnv), mnv + 0.45*(mxv - mnv), 'v'
      FROM mm
    )
    SELECT s.layout, p.predicate,
           COUNT(*) AS files_total,
           SUM(CASE WHEN (p.col = 'u' AND CAST(s.mx_u AS DOUBLE) >= p.lo
                                      AND CAST(s.mn_u AS DOUBLE) <= p.hi)
                      OR (p.col = 'v' AND s.mx_v >= p.lo AND s.mn_v <= p.hi)
               THEN 1 ELSE 0 END) AS files_hit,
           ROUND(100.0 * (1 - SUM(CASE WHEN (p.col = 'u' AND CAST(s.mx_u AS DOUBLE) >= p.lo
                                      AND CAST(s.mn_u AS DOUBLE) <= p.hi)
                      OR (p.col = 'v' AND s.mx_v >= p.lo AND s.mn_v <= p.hi)
               THEN 1 ELSE 0 END) * 1.0 / COUNT(*)), 2) AS skip_pct
    FROM stats s CROSS JOIN preds p
    GROUP BY s.layout, p.predicate
    ORDER BY s.layout, p.predicate
    """


@register(
    "zo01_zorder_skip_ratio",
    _zorder_oracle(),
    survey_ops=("X-LAYOUT-1",),
    doc="Z-order layout skip-ratio CONTRACT, deterministically graded: "
    "events rows get 4-bit equal-width bucket ranks per column "
    "(user_id, value) through the maintenance.zorder_value bit "
    "interleave, files are the 16 "
    "equal z-ranges (zfile = z >> 4, i.e. the top two bucket bits of "
    "EACH column — a 4x4 grid of min/max rectangles), and two 5%-of-"
    "range band predicates are tested against every file's min/max "
    "stats. The output pins the layout tradeoff the SCALE.md data-"
    "skipping story claims: the z-order layout skips ~75% of files on "
    "EITHER column's predicate, while the single-column sort layout "
    "skips more on its own column but ZERO on the other. A physical "
    "layout would take approxQuantile boundaries and repartitionByRange "
    "on the z-value (sampled, not grading-deterministic); this graded "
    "member uses exact equal-width boundaries and value-bucket file "
    "assignment so both engines derive identical files. "
    "No window, no collect on data rows: one min/max agg (driver "
    "scalars, the d13 pattern), one map pass, one groupBy.",
)
def zo01_zorder_skip_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.maintenance import zorder_value

    bits, nb = 4, 16
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    mn_u, mx_u, mn_v, mx_v = ev.agg(
        F.min("user_id").cast("double"),
        F.max("user_id").cast("double"),
        F.min("value"),
        F.max("value"),
    ).first()
    cuts = {
        "user_id": [mn_u + k * (mx_u - mn_u) / nb for k in range(1, nb)],
        "value": [mn_v + k * (mx_v - mn_v) / nb for k in range(1, nb)],
    }
    z = zorder_value(["user_id", "value"], bits=bits, boundaries=cuts)
    # the user_id bucket alone = the single-column-sort file id; derive
    # it from the SAME cut set (count of cuts <= value)
    arr_u = F.array(*[F.lit(float(x)) for x in cuts["user_id"]])
    bu = F.aggregate(
        arr_u,
        F.lit(0),
        lambda acc, cut: acc
        + F.when(F.col("user_id").cast("double") >= cut, 1).otherwise(0),
    ).cast("long")
    b = ev.select("user_id", "value", F.shiftright(z, bits).alias("zfile"), bu.alias("ufile"))
    f = b.select(
        F.lit("zorder").alias("layout"), F.col("zfile").alias("file_id"), "user_id", "value"
    ).unionByName(
        b.select(
            F.lit("sort_user").alias("layout"), F.col("ufile").alias("file_id"),
            "user_id", "value",
        )
    )
    stats = f.groupBy("layout", "file_id").agg(
        F.min("user_id").cast("double").alias("mn_u"),
        F.max("user_id").cast("double").alias("mx_u"),
        F.min("value").alias("mn_v"),
        F.max("value").alias("mx_v"),
    )
    preds = stats.sparkSession.createDataFrame(
        [
            ("user_band", mn_u + 0.4 * (mx_u - mn_u), mn_u + 0.45 * (mx_u - mn_u), "u"),
            ("value_band", mn_v + 0.4 * (mx_v - mn_v), mn_v + 0.45 * (mx_v - mn_v), "v"),
        ],
        "predicate string, lo double, hi double, col string",
    )
    hit = F.when(
        ((F.col("col") == "u") & (F.col("mx_u") >= F.col("lo")) & (F.col("mn_u") <= F.col("hi")))
        | ((F.col("col") == "v") & (F.col("mx_v") >= F.col("lo")) & (F.col("mn_v") <= F.col("hi"))),
        1,
    ).otherwise(0)
    return (
        stats.crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(hit).alias("files_hit"),
        )
        .select(
            "layout",
            "predicate",
            "files_total",
            "files_hit",
            F.round(
                100.0 * (1 - F.col("files_hit") * 1.0 / F.col("files_total")), 2
            ).alias("skip_pct"),
        )
        .orderBy("layout", "predicate")
    )

"""Relational operator suite — SURVEY.md §2 rows A/B/C/D/E/F/G/H/I
re-expressed as declarative DataFrame plans over the synthetic star schema.

Every query here is Catalyst-friendly by construction: filters and
projections sit directly on the parquet scan (pushdown + pruning),
dimension joins broadcast, aggregations are partial-aggregated map-side,
and nothing collects to the driver. Reference citations in each docstring
point at the construct whose semantics the query demonstrates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.compat import (
    cavg,
    csum,
    csum_dec,
    listagg,
    running_decimal_prefix,
    try_to_date,
)
from travel_data_ingestion_spark.queries import load_table, register


def _fits_broadcast(spark: SparkSession, df: DataFrame) -> bool:
    """True when the planner's size estimate for ``df`` is within the
    session's broadcast threshold: the comparison the planner itself
    makes. The threshold is read parsed from the session's SQLConf, so a
    unit-suffixed value ("64MB", Spark's default "10MB") counts the same
    as its byte count; -1 (broadcast off) never fits."""
    thr = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if thr <= 0:
        return False
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())) <= thr


# --- shared SQL fragments for the DuckDB oracle (exact decimal sums) ----

def _dsum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,{scale}))) AS DOUBLE)"


def _davg(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,{scale}))) AS DOUBLE) / COUNT({expr})"


# exact discounted price: decimal factors keep the product exact in both
# engines (price has 2 decimals, discount/tax 2 decimals).
_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
_CHARGE = f"({_DISC_PRICE}) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"


# --- integer-cents fast path for the money aggregates -------------------
#
# The TPC-H-shaped money columns are exact two-decimal values ("cents"):
# every l_quantity/l_extendedprice/l_discount/l_tax satisfies
# value*100 == round(value*100) exactly (driver generator property,
# pinned across all SFs by tests/test_registry.py::test_money_columns_are_exact_cents
# — the canary that fails loudly if a testdata regen ever changes it).
# Under that property the decimal algebra collapses to integer algebra:
#
#   cast(price as DECIMAL(12,2))            == m/100 with m an integer, and
#   ROUND(price*100, 0)                     == m exactly (the double product
#     sits within ~1e-7 of the integer m, far from any .5 boundary), so
#   disc_price = (m/100)*(100-d)/100        == m*(100-d) / 10^4
#   charge     = disc_price*(100+t)/100     == m*(100-d)*(100+t) / 10^6
#
# i.e. one 64-bit multiply per row instead of a BigDecimal multiply, with
# the exact numerator summed and the scale divided back out once per
# GROUP (decimal division at scale >= 4/6 is exact; the final CAST AS
# DOUBLE then rounds the same exact real number the pure-decimal form
# rounds — bit-identical output, proven row-for-row vs the DuckDB oracle
# at sf0.001/0.01/0.1). Overflow: per-row cents6 <= ~1.1e11; group sums
# go through DECIMAL(28,0) (long->decimal input cast stays compact), so
# a 100 TB group (~1.5e11 rows) peaks at ~1.6e22 against a 38-digit
# buffer. Only where a group is STRUCTURALLY bounded (per-order sums:
# one order has < 9e9/1.05 lineitems before a long could overflow) does
# the sum stay in pure BIGINT. Measured at sf0.1: q01 -15%, q05's
# per-order stage -40% (the shuffle also narrows: 8-byte long per order
# instead of a 16-byte decimal).
#
# Cents extraction is CAST(x*100 + 0.5 AS BIGINT), not ROUND(x*100, 0):
# Spark's ROUND on DOUBLE codegens to a per-row
# java.math.BigDecimal.valueOf(v).setScale(0, HALF_UP) allocation —
# exactly the BigDecimal the integer path exists to avoid. For these
# columns the truncating cast is identical: every value is NON-NEGATIVE
# (canary asserts it) and x*100 lands within ~5e-9 of the integer m
# (two double roundings on |m| <= ~1.1e7), so x*100 + 0.5 sits in
# (m + 0.5 - 1e-8, m + 0.5 + 1e-8) and the toward-zero cast floors it
# to m — the same half-up result, in pure double arithmetic. Measured
# at sf0.1 (interleaved A/B, min-of-7, checksummed): q01 -26%,
# q05 -22%, q03 a wash (its rounds run on the post-bloom-filter subset).
_PRICE_C = "CAST(l_extendedprice * 100 + 0.5 AS BIGINT)"
_DISC_C = "CAST(l_discount * 100 + 0.5 AS BIGINT)"
_TAX_C = "CAST(l_tax * 100 + 0.5 AS BIGINT)"
_QTY_C = "CAST(l_quantity * 100 + 0.5 AS BIGINT)"


# --- compact-buffer (long-backed) group sums ----------------------------
#
# Spark stores a Decimal with precision <= 18 as a plain long inside the
# aggregation buffer ("compact"); above 18 every SUM update is a
# java.math.BigDecimal add. SUM over DECIMAL(8,0) input produces a
# DECIMAL(18,0) buffer — compact — so splitting a cents column into
# (value DIV split, value % split) and summing the two parts separately
# keeps the whole per-row aggregation path in long arithmetic:
#
#   SUM(c) == split * SUM(c DIV split) + SUM(c % split)      (exact: the
#   truncated-division identity c = (c DIV s)*s + c % s holds per row for
#   Spark's toward-zero DIV/%, and SUM is linear over integers)
#
# recombined ONCE PER GROUP in DECIMAL(28,0) — bit-identical to the
# single wide sum (measured: q01 -38%, d06 -31% at sf0.1, checksummed).
#
# Envelopes (canary-pinned worst-case per-row maxima, see
# tests/test_registry.py::test_money_columns_are_exact_cents: qty<=1e4,
# price<=1e6, disc<=1, tax<=1, events.value<=1e6 — all far above real
# data), at the 1.5e11-rows-per-group 100 TB design point:
#   every split part is < 1e8 (fits the DECIMAL(8,0) input cast), and
#   every part-sum worst-cases below 3e17 against the 1e18-capacity
#   DECIMAL(18,0) buffer (tightest: charge hi = c6 DIV 1e6 <= 2e6 →
#   3e17, margin 3.3x at all-rows-at-canary-max; real-data maxima are
#   ~100x smaller still).
def _csum_split(c: str, split: int, denom: int) -> str:
    hi = f"CAST(SUM(CAST(({c}) DIV {split} AS DECIMAL(8,0))) AS DECIMAL(28,0))"
    lo = f"CAST(SUM(CAST(({c}) % {split} AS DECIMAL(8,0))) AS DECIMAL(28,0))"
    return f"CAST(({hi} * {split} + {lo}) / {denom} AS DOUBLE)"


def _csum_plain(c: str, denom: int) -> str:
    """Single compact sum for columns whose per-row value is < 1e8 and
    whose group sum stays far under 1e18 (qty cents <= 1e6 → overflow
    only past 1e12 rows/group; disc cents <= 100 → 1e16 rows/group)."""
    return f"CAST(CAST(SUM(CAST({c} AS DECIMAL(8,0))) AS DECIMAL(28,0)) / {denom} AS DOUBLE)"
_DISC_PRICE_C4 = f"{_PRICE_C} * (100 - {_DISC_C})"  # scale-4 cents
_CHARGE_C6 = f"({_DISC_PRICE_C4}) * (100 + {_TAX_C})"  # scale-6 cents


# ---------------------------------------------------------------------------
# Flagship scan→filter→aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity', 2)} AS sum_qty,
           {_dsum('l_extendedprice', 2)} AS sum_base_price,
           CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_CHARGE}) AS DOUBLE) AS sum_charge,
           {_davg('l_quantity', 2)} AS avg_qty,
           {_davg('l_extendedprice', 2)} AS avg_price,
           {_davg('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ops=("D-01", "D-02", "D-09", "B-03", "H-14"),
    doc="Grouped multi-aggregate over a pushed-down range predicate "
    "(reference: transactions.py:52 grouped SUM; fitbit_steps.py:49 "
    "multi-agg). The filter reaches the parquet scan as PushedFilters.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Aggregates as parsed SQL fragments rather than stacked Column
    # calls: one py4j round-trip each instead of ~6 (round-trips measure
    # 1-2.4 ms on this VM class — tools/profile_bench.py; the Column
    # form spent ~140 ms of every timed run building the plan).
    # Integer-cents algebra instead of the oracle's literal DECIMAL(28)
    # chain: bit-identical output (derivation + canary at the
    # _DISC_PRICE_C4 block above), one long multiply per row instead of
    # BigDecimal casts/multiplies. Group sums run on compact
    # (long-backed) DECIMAL(18,0) buffers via the hi/lo split
    # (_csum_split block above) because q01's four groups are
    # corpus-sized — the wide DECIMAL(28,0) buffer would BigDecimal-add
    # per row. Measured -38% on q01 at sf0.1, checksummed identical.
    return (
        li.filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_csum_plain(_QTY_C, 100)).alias("sum_qty"),
            F.expr(_csum_split(_PRICE_C, 10000, 100)).alias("sum_base_price"),
            F.expr(_csum_split(_DISC_PRICE_C4, 100000, 10000)).alias("sum_disc_price"),
            F.expr(_csum_split(_CHARGE_C6, 1000000, 1000000)).alias("sum_charge"),
            F.expr(f"{_csum_plain(_QTY_C, 100)} / COUNT(l_quantity)").alias("avg_qty"),
            F.expr(
                f"{_csum_split(_PRICE_C, 10000, 100)} / COUNT(l_extendedprice)"
            ).alias("avg_price"),
            F.expr(f"{_csum_plain(_DISC_C, 100)} / COUNT(l_discount)").alias("avg_disc"),
            F.expr("COUNT(1)").alias("count_order"),
        )
    )


@register(
    "q03_top_revenue_orders",
    f"""
    SELECT l_orderkey,
           CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    survey_ops=("C-01", "C-07", "D-01", "F-02", "F-04", "B-05"),
    doc="Dim-filtered fact join + top-k (reference: "
    "travel_and_movement_map.py:210 nlargest(5); joins C-01/C-07). "
    "customer is broadcast; top-k runs as TakeOrderedAndProject, "
    "no global sort.",
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL-string predicates/aggregates: one py4j round-trip each (see
    # q01 note); plan and values identical to the Column form.
    cust = load_table(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    orders = load_table(spark, sf_dir, "orders").filter("o_orderstatus <> 'F'")
    li = load_table(spark, sf_dir, "lineitem")
    # join order matters at scale: apply the selective customer filter to
    # orders FIRST (broadcast dim), so the orders side entering the fact
    # join is ~10x smaller; AQE can then demote the li<->orders join to
    # broadcast at small SFs while the same plan still shuffles correctly
    # at 100 TB.
    # no broadcast hint on customer: it scales with the data; the
    # threshold/AQE broadcasts it while small and demotes to shuffle at
    # scale (a hardcoded hint measured badly in scale_probe at 8x).
    filtered_orders = orders.join(cust, F.expr("o_custkey = c_custkey"))
    # Size-conditional build-side pick (guide §3.1). The planner's size
    # estimate for the PROJECTED lineitem scan sits under the 64 MB
    # broadcast threshold at local SFs, and the filtered_orders JOIN
    # subtree has no usable estimate (size-only stats multiply through
    # joins), so the static plan broadcasts the FACT table — a 600k-row
    # driver collect+rebroadcast that was 0.45 s of q03's 0.87 s
    # (r16 verdict). Whenever that would happen (li estimate <=
    # threshold, the same statistic the planner compares), hint the
    # dim side instead: filtered_orders is two selective filters over
    # orders — strictly smaller. At scale the branch is a no-op: li's
    # estimate exceeds the threshold (8x scale_probe: ~112 MB), no hint
    # is attached, and the plan is byte-identical to the unhinted
    # bloom+shuffle shape. The decision derives from the scan relation's
    # statistics, not a constant tuned to this box.
    if _fits_broadcast(spark, li.select("l_orderkey", "l_extendedprice", "l_discount")):
        filtered_orders = filtered_orders.hint("broadcast")
    # Integer-cents revenue (derivation + canary at _DISC_PRICE_C4):
    # the group is ONE order, so the cents4 sum is structurally bounded
    # (an order would need ~8.5e6 lineitems to push the exact sum past
    # 2^53) — pure BIGINT sum, then one correctly-rounded double divide,
    # which equals the oracle's CAST(exact-decimal AS DOUBLE) bit for bit.
    return (
        li.join(filtered_orders, F.expr("l_orderkey = o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(f"CAST(SUM({_DISC_PRICE_C4}) AS DOUBLE) / 10000").alias("revenue")
        )
        .selectExpr(
            "l_orderkey",
            "revenue",
            "CAST(o_orderdate AS DATE) AS order_date",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_region_nation_revenue",
    f"""
    SELECT r_name AS region, n_name AS nation,
           CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    """,
    survey_ops=("C-01", "C-07", "D-01", "D-05"),
    doc="Star join: three broadcast dims feeding a fact-fact shuffle join. "
    "Lineitem pre-aggregates per orderkey BELOW the join (partial-agg "
    "pushdown): the orderkey shuffle then carries one decimal sum per "
    "order instead of raw lineitems (map-side partials collapse "
    "co-located lines), and the grouped COUNT(DISTINCT o_orderkey) "
    "becomes a plain COUNT — no expand/two-phase distinct. Decimal "
    "addition is exact and associative, so the sum-of-per-order-sums "
    "equals the flat sum bit-for-bit (oracle unchanged). Measured at "
    "sf0.1 (checksummed, 10 interleaved reps): min 1.49/median 1.56 s "
    "vs the flat join's min 1.35/median 1.86 s — a local wash with "
    "tighter variance; the win is structural at scale, where the flat "
    "plan pays a SECOND data-scaled shuffle for the distinct "
    "(re-aggregating the joined rows by (group, orderkey)) and carries "
    "~4x more rows into the custkey join. At 100 TB the only "
    "data-scaled shuffle remains lineitem's orderkey agg feeding the "
    "orders join; region/nation stay broadcast, customer demotes to "
    "shuffle via AQE when it outgrows the threshold.",
)
def q05_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # SQL-string expressions: one py4j round-trip each (see q01 note).
    # Integer-cents per-order revenue (derivation + canary at
    # _DISC_PRICE_C4): the per-order sum is structurally bounded, so it
    # stays a pure BIGINT — the orderkey shuffle then carries an 8-byte
    # long per order instead of a 16-byte decimal, and the partial-agg
    # stage does one long multiply per row instead of a BigDecimal
    # multiply (measured -40% on the stage). The scale divides back out
    # in the FINAL aggregate, where the cross-order sum goes through
    # DECIMAL(28,0) (corpus-sized group, exact decimal division).
    per_order = li.groupBy("l_orderkey").agg(
        F.expr(f"SUM({_DISC_PRICE_C4})").alias("ord_rev_c4")
    )
    dims = (
        cust.join(F.broadcast(nation), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
    )
    # Size-conditional build-side pick, same rationale as q03: the dims
    # JOIN subtree has no usable size estimate, so the static plan
    # broadcast the 150k-row per-order-revenue side (a driver collect of
    # the joined fact aggregate) while the 10x-smaller dims streamed.
    # When the projected customer scan is itself under the broadcast
    # threshold (the same statistic the planner compares), pin dims as
    # the build side; at scale customer's estimate crosses the threshold,
    # no hint attaches, and AQE demotes exactly as before.
    if _fits_broadcast(spark, cust.select("c_custkey", "c_nationkey")):
        dims = dims.hint("broadcast")
    # Final cross-order sum on compact buffers via the hi/lo split
    # (_csum_split block): the aggregation input here is one row per
    # ORDER (data-scaled — ~4e10 rows at 100 TB), so the wide
    # DECIMAL(28,0) form paid a per-row long->BigDecimal input cast +
    # BigDecimal add. Envelope: the DECIMAL(8,0) hi part tolerates
    # per-order revenue up to 1e14 cents4 (~$10B/order, vs the
    # generator's <= 7-lineitem orders at ~1e10 max); group part-sums
    # worst-case ~3e15 against the 1e18 buffer. Bit-identical
    # (checksummed at sf0.001/0.01/0.1).
    return (
        per_order.join(orders, F.expr("l_orderkey = o_orderkey"))
        .join(dims, F.expr("o_custkey = c_custkey"))  # scales with data: no hint
        .groupBy(F.expr("r_name AS region"), F.expr("n_name AS nation"))
        .agg(
            F.expr(_csum_split("ord_rev_c4", 1000000, 10000)).alias("revenue"),
            F.expr("COUNT(1)").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# B. Projections / filters / predicates
# ---------------------------------------------------------------------------

@register(
    "b01_project_filter",
    """
    SELECT event_id AS id, user_id, event_type AS etype,
           value, strftime(ts, '%Y-%m-%d') AS event_date
    FROM events
    WHERE event_type IN ('click', 'view')
      AND value IS NOT NULL
      AND event_type <> 'error'
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'
    """,
    survey_ops=("B-01", "B-02", "B-03", "B-04", "B-05", "B-06"),
    doc="Projection with aliasing + equality/range/null/membership "
    "predicates (reference: travel_and_movement_map.py:89-128 dashboard "
    "selects). All predicates push to the scan.",
)
def b01_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
            & (F.col("event_type") != "error")
            & F.to_date("ts").between("2024-01-05", "2024-01-25")
        )
        .select(
            F.col("event_id").alias("id"),
            "user_id",
            F.col("event_type").alias("etype"),
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
    )


@register(
    "b08_default_missing_column",
    """
    SELECT o_orderkey, o_orderpriority, 'uncategorized' AS category
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
    survey_ops=("B-08", "B-07"),
    doc="Defaulting a column absent from the source (reference: "
    "transactions.py:44-45 `df['type']='uncategorized'`).",
)
def b08_default_missing_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    df = orders.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderpriority")
    if "category" not in df.columns:  # reference's presence check
        df = df.withColumn("category", F.lit("uncategorized"))
    return df


# ---------------------------------------------------------------------------
# C. Joins
# ---------------------------------------------------------------------------

@register(
    "c01_left_join_computed_key",
    f"""
    WITH daily_orders AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders,
             {_dsum('o_totalprice', 2)} AS day_total
      FROM orders GROUP BY 1
    ),
    daily_ship AS (
      SELECT CAST(l_shipdate AS DATE) AS ship_date,
             CAST(SUM({_DISC_PRICE}) AS DOUBLE) AS ship_revenue
      FROM lineitem GROUP BY 1
    )
    SELECT o.order_date, o.n_orders, o.day_total,
           COALESCE(s.ship_revenue, 0.0) AS ship_revenue
    FROM daily_orders o LEFT JOIN daily_ship s ON o.order_date = s.ship_date
    """,
    survey_ops=("C-01", "H-13", "D-01"),
    doc="LEFT equi-join on a computed date key with null-fill "
    "(reference: sp_full_travel_costs.sql:73-74 itinerary LEFT JOIN "
    "pivoted spending ON TRY_TO_DATE(date)=join_date).",
)
def c01_left_join_computed_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    daily_orders = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(F.count(F.lit(1)).alias("n_orders"), csum("o_totalprice", 2).alias("day_total"))
    )
    # same integer-cents + hi/lo split as q01's sum_disc_price (the
    # _DISC_PRICE_C4/_csum_split derivations above) — the old decimal
    # product paid a BigDecimal multiply + non-compact buffer add per row
    daily_ship = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("ship_date"))
        .agg(F.expr(_csum_split(_DISC_PRICE_C4, 100000, 10000)).alias("ship_revenue"))
    )
    return (
        daily_orders.join(daily_ship, daily_orders.order_date == daily_ship.ship_date, "left")
        .select(
            "order_date",
            "n_orders",
            "day_total",
            F.coalesce("ship_revenue", F.lit(0.0)).alias("ship_revenue"),
        )
    )


@register(
    "c02_full_outer_date_shift",
    f"""
    WITH daily_orders AS (
      SELECT CAST(o_orderdate AS DATE) AS d, {_dsum('o_totalprice', 2)} AS order_total
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00' GROUP BY 1
    ),
    daily_line AS (
      SELECT CAST(l_shipdate AS DATE) AS d, {_dsum('l_quantity', 2)} AS qty
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' GROUP BY 1
    ),
    daily_hi AS (
      SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_hi
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        AND l_quantity >= 45 GROUP BY 1
    )
    SELECT COALESCE(o.d, (l.d - 1)) AS anchor_date,
           COALESCE(o.order_total, 0.0) AS order_total,
           COALESCE(l.qty, 0.0) AS next_day_qty,
           COALESCE(h.n_hi, 0) AS next_day_hi
    FROM daily_orders o
    FULL OUTER JOIN daily_line l ON o.d = (l.d - 1)
    LEFT JOIN daily_hi h ON COALESCE(o.d, (l.d - 1)) = (h.d - 1)
    """,
    survey_ops=("C-02", "C-03", "H-10", "H-13"),
    doc="FULL OUTER join on a date-shifted key (as-of-style next-day "
    "correlation) with a chained LEFT join on the coalesced key "
    "(reference: sp_travel_tax_report.sql:110-114 flights FULL OUTER "
    "sleep ON flight_date = wake_up_date - 1, then LEFT JOIN daily HR).",
)
def c02_full_outer_date_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    daily_orders = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        csum("o_totalprice", 2).alias("order_total")
    )
    # qty cents <= 1e6 (canary bound 1e4): single compact sum suffices
    daily_line = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        csum("l_quantity", 2, split=None).alias("qty")
    )
    daily_hi = (
        li.filter(F.col("l_quantity") >= 45)
        .groupBy(F.col("l_shipdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_hi"))
    )
    o, l, h = daily_orders.alias("o"), daily_line.alias("l"), daily_hi.alias("h")
    joined = o.join(l, F.col("o.d") == F.date_sub(F.col("l.d"), 1), "full_outer")
    anchor = F.coalesce(F.col("o.d"), F.date_sub(F.col("l.d"), 1))
    return (
        joined.join(h, anchor == F.date_sub(F.col("h.d"), 1), "left")
        .select(
            anchor.alias("anchor_date"),
            F.coalesce(F.col("o.order_total"), F.lit(0.0)).alias("order_total"),
            F.coalesce(F.col("l.qty"), F.lit(0.0)).alias("next_day_qty"),
            F.coalesce(F.col("h.n_hi"), F.lit(0)).alias("next_day_hi"),
        )
    )


@register(
    "c04_scaffold_densify",
    f"""
    WITH dates AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    hours AS (SELECT UNNEST(RANGE(0, 24)) AS h),
    hourly AS (
      SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h,
             {_dsum('value', 4)} AS total_value, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dates.d AS event_date, CAST(hours.h AS BIGINT) AS hour_of_day,
           COALESCE(hourly.total_value, 0.0) AS total_value,
           COALESCE(hourly.n, 0) AS n_events
    FROM dates CROSS JOIN hours
    LEFT JOIN hourly ON dates.d = hourly.d AND hours.h = hourly.h
    """,
    survey_ops=("C-04", "H-08", "H-13", "D-02"),
    doc="Scaffold cross-join densification: every (date x 24h) slot "
    "exists, missing slots filled with 0 (reference: fitbit_steps.py:52-58). "
    "The scaffold side is tiny -> broadcast; no shuffle added.",
)
def c04_scaffold_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dates = ev.select(F.to_date("ts").alias("d")).distinct()
    hours = spark.range(24).select(F.col("id").alias("h"))
    hourly = ev.groupBy(
        F.to_date("ts").alias("d"), F.hour("ts").cast("long").alias("h")
    ).agg(csum("value", 4).alias("total_value"), F.count(F.lit(1)).alias("n"))
    scaffold = dates.crossJoin(F.broadcast(hours))
    return (
        scaffold.join(hourly, ["d", "h"], "left")
        .select(
            F.col("d").alias("event_date"),
            F.col("h").alias("hour_of_day"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@register(
    "c05_anti_join",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    survey_ops=("C-05", "B-06"),
    doc="Left-anti join: rows with no match (reference: "
    "transactions.py:19-23 unprocessed load_id selection; the engine's "
    "incremental-work detector).",
)
def c05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.join(orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "c06_semi_join",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
    survey_ops=("C-06", "A-14"),
    doc="Left-semi join / existence probe (reference: utils.py:48-55 "
    "check_data_exists SELECT 1 ... LIMIT 1).",
)
def c06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(big, "c_custkey", "left_semi").select("c_custkey", "c_acctbal")


@register(
    "c08_lookup_map_join",
    f"""
    WITH latest AS (
      SELECT user_id, MAX(event_id) AS latest_event
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           COALESCE(l.latest_event, -1) AS user_latest_event
    FROM events e LEFT JOIN latest l ON e.user_id = l.user_id
    WHERE e.event_type = 'purchase'
    """,
    survey_ops=("C-08", "D-13", "H-13"),
    doc="Map-side dict lookup re-expressed as a broadcast join against a "
    "grouped MAX (reference: fitbit_steps.py:61-62 date->max(load_id) "
    "dict + fillna via map).",
)
def c08_lookup_map_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(F.max("event_id").alias("latest_event"))
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(latest, "user_id", "left")  # scales with users: no hint
        .select(
            "event_id",
            "user_id",
            F.coalesce("latest_event", F.lit(-1)).alias("user_latest_event"),
        )
    )


# ---------------------------------------------------------------------------
# D. Aggregations
# ---------------------------------------------------------------------------

@register(
    "d03_minute_grain_stats",
    f"""
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
           event_type,
           {_davg('value', 4)} AS avg_value,
           MIN(value) AS min_value, MAX(value) AS max_value,
           COUNT(value) AS n_readings
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY 1, 2
    """,
    survey_ops=("D-03", "H-09", "D-02"),
    doc="Minute-grain stats: truncate-to-minute then avg/min/max/count "
    "(reference: fitbit_heart_rate.py:58-63 minute aggregation).",
)
def d03_minute_grain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.to_date("ts") == F.lit("2024-01-15"))
    return ev.groupBy(
        F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm").alias("minute"),
        "event_type",
    ).agg(
        cavg("value", 4).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("value").alias("n_readings"),
    )


@register(
    "d04_conditional_zone_counts",
    f"""
    SELECT event_type,
           CAST(SUM(CASE WHEN value < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_resting,
           CAST(SUM(CASE WHEN value >= 60 AND value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_normal,
           CAST(SUM(CASE WHEN value >= 100 AND value < 130 THEN 1 ELSE 0 END) AS BIGINT) AS n_elevated,
           CAST(SUM(CASE WHEN value >= 130 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           {_davg('value', 4)} AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    survey_ops=("D-04", "I-01", "H-12"),
    doc="Conditional-count aggregation with exact boundary semantics "
    "(strict < at 60/100/130 — reference fitbit_heart_rate.py:4-9 zone "
    "UDF + :72-79 zone-minute counts). Native when(), no UDAF.",
)
def d04_conditional_zone_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        F.sum(F.when(v < 60, 1).otherwise(0)).alias("n_resting"),
        F.sum(F.when((v >= 60) & (v < 100), 1).otherwise(0)).alias("n_normal"),
        F.sum(F.when((v >= 100) & (v < 130), 1).otherwise(0)).alias("n_elevated"),
        F.sum(F.when(v >= 130, 1).otherwise(0)).alias("n_high"),
        cavg("value", 4).alias("avg_value"),
    )


@register(
    "d05_distinct",
    """
    SELECT DISTINCT user_id, event_type FROM events WHERE value > 50
    """,
    survey_ops=("D-05",),
    doc="DISTINCT over a filtered projection (reference: "
    "transactions.py:14 SELECT DISTINCT load_id). Partial-aggregates "
    "map-side before the shuffle.",
)
def d05_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("value") > 50).select("user_id", "event_type").distinct()


@register(
    "d06_pivot_sum_case",
    f"""
    SELECT CAST(ts AS DATE) AS event_date,
           {_dsum("CASE WHEN event_type = 'click' THEN value ELSE 0 END", 4)} AS click_value,
           {_dsum("CASE WHEN event_type = 'view' THEN value ELSE 0 END", 4)} AS view_value,
           {_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", 4)} AS purchase_value,
           {_dsum("CASE WHEN event_type = 'signup' THEN value ELSE 0 END", 4)} AS signup_value,
           {_dsum("CASE WHEN event_type = 'error' THEN value ELSE 0 END", 4)} AS error_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    survey_ops=("D-06", "D-12", "D-09", "D-11"),
    doc="Manual pivot via SUM(CASE) with fixed categories and ELSE-0 "
    "(reference: sp_full_travel_costs.sql:27-43 five spend categories; "
    "travel_and_movement_map.py:199 unstack().fillna(0)). SUM(CASE) "
    "keeps the fixed-column contract and needs one pass, unlike "
    ".pivot() which scans to discover categories.",
)
def d06_pivot_sum_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    # events.value is an exact two-decimal non-negative double (canary:
    # tests/test_registry.py pins it alongside the lineitem cents), so
    # the same integer-cents algebra as q01 applies: extract cents ONCE
    # per row (vc <= 1e8 under the canary's value<=1e6 bound), select
    # vc-or-0 per category, and sum on compact DECIMAL(18,0) buffers
    # (_csum_plain block above; overflow only past ~1e12 rows/day-group
    # at the canary worst case, ~1e13 at real sensor maxima). The
    # previous DECIMAL(12,4) form paid a per-row double->BigDecimal cast
    # per category plus non-compact (22,4) buffer adds. Bit-identical
    # (exact /100 per group; checksummed at sf0.001/0.01/0.1);
    # measured -31% at sf0.1.
    def cat(name: str) -> F.Column:
        return F.expr(
            f"CAST(CAST(SUM(CAST(CASE WHEN event_type = '{name}' THEN vc ELSE 0 END"
            f" AS DECIMAL(8,0))) AS DECIMAL(28,0)) / 100 AS DOUBLE)"
        ).alias(f"{name}_value")

    return (
        ev.selectExpr("ts", "event_type", "CAST(value * 100 + 0.5 AS BIGINT) AS vc")
        .groupBy(F.expr("to_date(ts) AS event_date"))
        .agg(
            cat("click"),
            cat("view"),
            cat("purchase"),
            cat("signup"),
            cat("error"),
            F.expr("COUNT(1)").alias("n_events"),
        )
    )


@register(
    "d07_listagg",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ', ' ORDER BY event_type) AS event_types,
           COUNT(*) AS n_events
    FROM events
    WHERE user_id < 50
    GROUP BY user_id
    """,
    survey_ops=("D-07", "D-08"),
    doc="Deterministic LISTAGG DISTINCT ... WITHIN GROUP (ORDER BY) "
    "(reference: sp_full_travel_costs.sql:39 ordered LISTAGG; "
    "sp_travel_tax_report.sql:44 LISTAGG DISTINCT). Sorted for the "
    "deterministic contract recorded in SURVEY §7.4-3.",
)
def d07_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return ev.groupBy("user_id").agg(
        listagg("event_type", ", ", distinct=True).alias("event_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "d10_avg_of_hourly_avg",
    f"""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h,
             {_davg('value', 4)} AS hourly_avg,
             MIN(value) AS hourly_min, MAX(value) AS hourly_max
      FROM events GROUP BY 1, 2
    )
    SELECT d AS event_date,
           CAST(SUM(CAST(hourly_avg AS DECIMAL(28,10))) AS DOUBLE) / COUNT(hourly_avg) AS daily_avg_of_avg,
           MIN(hourly_min) AS daily_min, MAX(hourly_max) AS daily_max,
           COUNT(*) AS n_hours
    FROM hourly GROUP BY d
    """,
    survey_ops=("D-10", "D-03"),
    doc="Two-level AVG-of-hourly-AVG preserved exactly, NOT 'fixed' to a "
    "weighted average (reference: sp_travel_tax_report.sql:72-81; "
    "SURVEY §7.4-5 parity requirement).",
)
def d10_avg_of_hourly_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.to_date("ts").alias("d"), F.hour("ts").alias("h")).agg(
        cavg("value", 4).alias("hourly_avg"),
        F.min("value").alias("hourly_min"),
        F.max("value").alias("hourly_max"),
    )
    return hourly.groupBy(F.col("d").alias("event_date")).agg(
        (F.sum(F.col("hourly_avg").cast("decimal(28,10)")).cast("double") / F.count("hourly_avg")).alias(
            "daily_avg_of_avg"
        ),
        F.min("hourly_min").alias("daily_min"),
        F.max("hourly_max").alias("daily_max"),
        F.count(F.lit(1)).alias("n_hours"),
    )


@register(
    "d13_max_scalar",
    """
    SELECT MAX(event_id) AS max_event_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           COUNT(*) AS n
    FROM events
    """,
    survey_ops=("D-13", "A-15"),
    doc="Scalar MAX/COUNT retrieval (reference: ingestion_logic.py:149 "
    "SELECT MAX(load_id); transactions.py:60-62 row-count audit).",
)
def d13_max_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.max("event_id").alias("max_event_id"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# E. Window functions
# ---------------------------------------------------------------------------

@register(
    "e01_latest_batch_filter",
    """
    SELECT user_id, event_id, event_type, CAST(ts AS DATE) AS event_date
    FROM events
    QUALIFY CAST(ts AS DATE) = MAX(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
    """,
    survey_ops=("E-01",),
    doc="QUALIFY-style latest-batch filter: keep ALL rows of the newest "
    "batch per key (reference: sp_full_travel_costs.sql:14-17 "
    "load_id = MAX(load_id) OVER (PARTITION BY _source_file)). One "
    "shuffle on the partition key.",
)
def e01_latest_batch_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from travel_data_ingestion_spark.compat import qualify_latest_batch

    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    return qualify_latest_batch(ev, ["user_id"], "event_date").select(
        "user_id", "event_id", "event_type", "event_date"
    )


@register(
    "e02_dedup_row_number",
    """
    SELECT user_id, event_type, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ops=("E-02",),
    doc="Recency dedup to one row per key (reference: "
    "sp_full_travel_costs.sql:21-24 and sp_travel_tax_report.sql:35,57,69 "
    "QUALIFY ROW_NUMBER()=1). event_id desc tiebreak pins determinism. "
    "Because every output column rides the ordering tuple, the QUALIFY "
    "collapses to MAX(struct(ts, event_id)) per key — a hash aggregate "
    "with a MAP-SIDE partial combine, so at scale only one pre-reduced "
    "row per key crosses the wire instead of every event through an "
    "Exchange+Sort+Window. The full-row form (arbitrary surviving "
    "columns) stays in compat.qualify_dedup_latest, which the gold "
    "reports exercise under oracle tr01/tr02.",
)
def e02_dedup_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # max over the lexicographic (ts, event_id) struct == the ROW_NUMBER
    # ts DESC, event_id DESC winner (no NULLs in either column; exact
    # tie would imply identical output values anyway)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id")).alias("latest"))
        .select(
            "user_id",
            "event_type",
            F.col("latest.event_id").alias("event_id"),
            F.date_format("latest.ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        )
    )


@register(
    "e03_running_total",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS total
      FROM orders GROUP BY 1
    )
    SELECT order_date,
           CAST(total AS DOUBLE) AS total,
           CAST(SUM(total) OVER (ORDER BY order_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           CAST(ROW_NUMBER() OVER (ORDER BY order_date) AS BIGINT) AS day_number,
           CASE WHEN ROW_NUMBER() OVER (ORDER BY order_date) > 0
                THEN CAST(SUM(total) OVER (ORDER BY order_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / ROW_NUMBER() OVER (ORDER BY order_date)
                ELSE 0 END AS daily_avg
    FROM daily
    """,
    survey_ops=("E-03", "E-04"),
    doc="Cumulative running total + guarded running average "
    "(reference: sp_full_travel_costs.sql:94-101). The window is global "
    "by design — it runs on the already-aggregated daily table (O(days) "
    "rows), never on raw facts; decimal accumulation keeps it exact.",
)
def e03_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # the data-scaled daily sum runs on compact buffers (compat.csum_dec:
    # integer-cents hi/lo split, recombined to the same DECIMAL(38,2) the
    # wide SUM produced) — the downstream window still accumulates exact
    # decimal, but its input is one row per DAY, not per order
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        csum_dec("o_totalprice", 2).alias("total_dec")
    )
    # two-pass partial prefix sum (compat.running_decimal_prefix): the
    # global ORDER BY window planned to Exchange SinglePartition + one
    # window task; now the data-scaled pass is a hash-partitioned
    # window over 128-day buckets and only O(buckets) rows cross the
    # single-partition offsets window. Exact decimal addition keeps the
    # running total bit-identical to the global window's.
    pref = running_decimal_prefix(daily, "order_date", "total_dec")
    running = F.col("__running").cast("double")
    day_number = F.col("__rn")
    return pref.select(
        "order_date",
        F.col("total_dec").cast("double").alias("total"),
        running.alias("running_total"),
        day_number.alias("day_number"),
        F.when(day_number > 0, running / day_number).otherwise(F.lit(0.0)).alias("daily_avg"),
    )


# ---------------------------------------------------------------------------
# F/G. Sorts, limits, top-k, set ops
# ---------------------------------------------------------------------------

@register(
    "f04_top_k",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    ORDER BY value DESC, event_id ASC
    LIMIT 5
    """,
    survey_ops=("F-04", "F-02", "F-03", "F-01"),
    doc="Top-k by value with deterministic tiebreak (reference: "
    "travel_and_movement_map.py:210 nlargest(5,'AMOUNT')). Catalyst "
    "executes TakeOrderedAndProject — per-partition heap, no global sort.",
)
def f04_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(5)
    )


@register(
    "g01_union_distinct",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
    """,
    survey_ops=("G-01",),
    doc="UNION (append + distinct) — the reference's implicit append-union "
    "of per-file loads (SURVEY §2.G) made explicit via unionByName.",
)
def g01_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# H/I. Scalar function suites
# ---------------------------------------------------------------------------

@register(
    "h01_string_normalize",
    """
    SELECT UPPER(TRIM(o_orderpriority)) AS priority_norm,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN UPPER(TRIM(o_orderpriority)) = '1-URGENT'
               THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
    FROM orders
    GROUP BY 1
    """,
    survey_ops=("H-01", "B-07", "D-06"),
    doc="UPPER(TRIM()) normalization before category matching "
    "(reference: sp_full_travel_costs.sql:32-36; transactions.py:41).",
)
def h01_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    norm = F.upper(F.trim(F.col("o_orderpriority")))
    return orders.groupBy(norm.alias("priority_norm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(norm == "1-URGENT", 1).otherwise(0)).alias("n_urgent"),
    )


@register(
    "h03_currency_clean_cast",
    """
    WITH raw AS (
      SELECT o_orderkey,
             '$' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS amount_str
      FROM orders
    )
    SELECT o_orderkey,
           CAST(REGEXP_REPLACE(amount_str, '[$,]', '', 'g') AS DOUBLE) AS amount
    FROM raw
    WHERE CAST(REGEXP_REPLACE(amount_str, '[$,]', '', 'g') AS DOUBLE) > 500000
    """,
    survey_ops=("H-03", "H-14", "H-05"),
    doc="Currency-string cleanup: strip [$,] then numeric cast "
    "(reference: transactions.py:48-49). Round-trips through a string "
    "column exactly as the bronze->silver amount column does.",
)
def h03_currency_clean_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    amount_str = F.concat(F.lit("$"), F.col("o_totalprice").cast("decimal(12,2)").cast("string"))
    amount = F.regexp_replace(amount_str, r"[$,]", "").cast("double")
    return (
        orders.select("o_orderkey", amount.alias("amount"))
        .filter(F.col("amount") > 500000)
    )


@register(
    "h07_try_to_date",
    """
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN 'not-a-date'
                  WHEN event_id % 11 = 0 THEN NULL
                  ELSE strftime(ts, '%Y-%m-%d') END AS date_str
      FROM events
    )
    SELECT TRY_CAST(date_str AS DATE) AS parsed_date, COUNT(*) AS n
    FROM raw
    WHERE TRY_CAST(date_str AS DATE) IS NOT NULL
    GROUP BY 1
    """,
    survey_ops=("H-06", "H-07", "B-04"),
    doc="TRY_TO_DATE: NULL (never error) on garbage, then IS NOT NULL "
    "guard (reference: sp_full_travel_costs.sql:29,41 "
    "WHERE TRY_TO_DATE(date) IS NOT NULL).",
)
def h07_try_to_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    date_str = (
        F.when(F.col("event_id") % 7 == 0, F.lit("not-a-date"))
        .when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd"))
    )
    parsed = try_to_date(date_str)
    return (
        ev.select(parsed.alias("parsed_date"))
        .filter(F.col("parsed_date").isNotNull())
        .groupBy("parsed_date")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "h08_datetime_parts",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS date_prefix,
           CAST(EXTRACT(hour FROM ts) AS INT) AS event_hour,
           CAST(EXTRACT(minute FROM ts) AS INT) AS event_minute,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute_floor,
           CAST(CAST(ts AS DATE) - INTERVAL 1 DAY AS DATE) AS prev_date
    FROM events
    WHERE event_id % 17 = 0
    """,
    survey_ops=("H-02", "H-08", "H-09", "H-10", "H-06"),
    doc="Datetime component suite: prefix/extract/truncate/shift "
    "(reference: sp_travel_tax_report.sql:33 HOUR/MINUTE; "
    "fitbit_heart_rate.py:59 floor('min'); sp_travel_tax_report.sql:112 "
    "date - 1; travel_and_movement_map.py:127 LEFT(ts,10)).",
)
def h08_datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    return ev.select(
        "event_id",
        F.substring(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), 1, 10).alias("date_prefix"),
        F.hour("ts").cast("int").alias("event_hour"),
        F.minute("ts").cast("int").alias("event_minute"),
        F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm").alias("minute_floor"),
        F.date_sub(F.to_date("ts"), 1).alias("prev_date"),
    )


@register(
    "h12_case_when_branches",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 AND o_orderpriority = '1-URGENT'
                  THEN 'High Strain'
                WHEN o_totalprice < 50000 THEN 'Well Recovered'
                ELSE 'Normal' END AS recovery_status,
           COALESCE(NULLIF(o_orderstatus, ''), 'UNKNOWN') AS status_filled
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    survey_ops=("H-12", "H-13"),
    doc="Ordered 3-branch CASE (branch order preserved — reference "
    "sp_travel_tax_report.sql:104-108 recovery status) + COALESCE "
    "defaulting (:85,91-93).",
)
def h12_case_when_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    status = (
        F.when(
            (F.col("o_totalprice") > 300000) & (F.col("o_orderpriority") == "1-URGENT"),
            "High Strain",
        )
        .when(F.col("o_totalprice") < 50000, "Well Recovered")
        .otherwise("Normal")
    )
    return orders.select(
        "o_orderkey",
        status.alias("recovery_status"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("")), F.lit("UNKNOWN")).alias(
            "status_filled"
        ),
    )


@register(
    "h15_json_extract_flatten",
    f"""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n,
           {_davg('value', 4)} AS avg_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1
    """,
    survey_ops=("H-15", "H-16", "I-05"),
    doc="JSON path extraction from a semi-structured string column "
    "(reference: reset_schemas.sql:344-350 raw_data:semanticSegments "
    "LATERAL FLATTEN; the full explode path is exercised on nested "
    "timeline docs in tests/test_google_timeline.py).",
)
def h15_json_extract_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("n"), cavg("value", 4).alias("avg_value")
    )


@register(
    "h17_geo_string_parse",
    """
    WITH raw AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal / 100 AS DECIMAL(10,4)) AS VARCHAR) || '°, ' ||
             CAST(CAST(c_nationkey * 7.5 AS DECIMAL(10,4)) AS VARCHAR) || '°' AS latlng
      FROM customer
    )
    SELECT c_custkey,
           CAST(TRIM(string_split(REPLACE(latlng, '°', ''), ',')[1]) AS DOUBLE) AS lat,
           CAST(TRIM(string_split(REPLACE(latlng, '°', ''), ',')[2]) AS DOUBLE) AS lon
    FROM raw
    WHERE c_custkey % 5 = 0
    """,
    survey_ops=("H-17", "I-02"),
    doc="Geo-string parse '35.65°, 139.74°' -> (lat, lon) doubles with "
    "null-safety, pure built-ins (reference: reset_schemas.sql:309-318 "
    "parse_lat_long_string). Strings synthesized from numeric columns "
    "to exercise the round-trip.",
)
def h17_geo_string_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    latlng = F.concat(
        (F.col("c_acctbal") / 100).cast("decimal(10,4)").cast("string"),
        F.lit("°, "),
        (F.col("c_nationkey") * 7.5).cast("decimal(10,4)").cast("string"),
        F.lit("°"),
    )
    parts = F.split(F.regexp_replace(latlng, "°", ""), ",")
    return (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.trim(F.try_element_at(parts, F.lit(1))).cast("double").alias("lat"),
            F.trim(F.try_element_at(parts, F.lit(2))).cast("double").alias("lon"),
        )
    )


@register(
    "i03_bearing",
    """
    WITH pts AS (
      SELECT c_custkey,
             CAST(c_acctbal / 200 AS DOUBLE) AS lat1,
             CAST(c_nationkey * 6.0 AS DOUBLE) AS lon1,
             CAST(c_acctbal / 300 AS DOUBLE) AS lat2,
             CAST(c_nationkey * 6.0 + 10.0 AS DOUBLE) AS lon2
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey,
           ROUND(CASE WHEN lat1 = lat2 AND lon1 = lon2 THEN 0.0
             ELSE fmod(degrees(atan2(
               sin(radians(lon2 - lon1)) * cos(radians(lat2)),
               cos(radians(lat1)) * sin(radians(lat2)) -
               sin(radians(lat1)) * cos(radians(lat2)) * cos(radians(lon2 - lon1))
             )) + 360.0, 360.0) END, 4) AS bearing
    FROM pts
    """,
    survey_ops=("I-03",),
    doc="Great-circle initial bearing as native trig expressions "
    "(reference: travel_and_movement_map.py:22-38 calculate_bearing). "
    "0.0 for identical points; result rounded to 4dp for cross-engine "
    "float stability.",
)
def i03_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    lat1 = (F.col("c_acctbal") / 200).cast("double")
    lon1 = (F.col("c_nationkey") * 6.0).cast("double")
    lat2 = (F.col("c_acctbal") / 300).cast("double")
    lon2 = lon1 + 10.0
    dlon = F.radians(lon2 - lon1)
    x = F.sin(dlon) * F.cos(F.radians(lat2))
    y = F.cos(F.radians(lat1)) * F.sin(F.radians(lat2)) - F.sin(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.cos(dlon)
    bearing = (F.degrees(F.atan2(x, y)) + 360.0) % 360.0
    same = (lat1 == lat2) & (lon1 == lon2)
    return cust.select(
        "c_custkey",
        F.round(F.when(same, 0.0).otherwise(bearing), 4).alias("bearing"),
    )


# ---------------------------------------------------------------------------
# A. Source/sink mechanics expressible as queries
# ---------------------------------------------------------------------------

@register(
    "a05_positional_lineage",
    """
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_quantity AS quantity,
           'lineitem.parquet' AS _source_file,
           42 AS load_id,
           l_orderkey * 10 + l_linenumber AS row_id
    FROM lineitem
    WHERE l_orderkey % 97 = 0
    """,
    survey_ops=("A-05", "A-06", "A-09"),
    doc="Positional column projection + lineage columns appended at load "
    "time (reference: ingestion_logic.py:74-81,166 COPY INTO SELECT "
    "$1.., CURRENT_TIMESTAMP(), file, load_id). row_id derives from the "
    "natural key — no global window, stays embarrassingly parallel. "
    "_ingestion_time omitted here (nondeterministic); exercised in "
    "tests/test_ingest.py.",
)
def a05_positional_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    # positional rename as the ingestion layer does: DESC-table order
    projected = li.select("l_orderkey", "l_linenumber", "l_quantity").toDF(
        "orderkey", "linenumber", "quantity"
    )
    return (
        projected.withColumn("_source_file", F.lit("lineitem.parquet"))
        .withColumn("load_id", F.lit(42))
        .withColumn("row_id", F.col("orderkey") * 10 + F.col("linenumber"))
    )


@register(
    "a14_existence_probe",
    """
    SELECT CAST(COUNT(*) > 0 AS BOOLEAN) AS data_exists,
           COUNT(*) AS n_rows
    FROM orders WHERE o_totalprice > 500000
    """,
    survey_ops=("A-14", "A-15", "F-03"),
    doc="Existence probe + row-count audit (reference: utils.py:48-55; "
    "transactions.py:60-62). The Spark plan short-circuits via limit(1) "
    "for the boolean; the count is the audit.",
)
def a14_existence_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 500000)
    return orders.agg(
        (F.count(F.lit(1)) > 0).alias("data_exists"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Streaming-equivalent batch windows (J)
# ---------------------------------------------------------------------------

@register(
    "j01_tumbling_window",
    f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type, COUNT(*) AS n, {_dsum('value', 4)} AS total_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-10'
    GROUP BY 1, 2
    """,
    survey_ops=("J-01",),
    doc="Tumbling event-time window aggregation (SURVEY §2.J: the "
    "reference's minute/hour grains as window()). Epoch-aligned 5-minute "
    "buckets.",
)
def j01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.to_date("ts") == F.lit("2024-01-10"))
    win = F.window("ts", "5 minutes")
    return ev.groupBy(win, "event_type").agg(
        F.count(F.lit(1)).alias("n"), csum("value", 4).alias("total_value")
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "j02_sessionization",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id, COUNT(DISTINCT session_id) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    """,
    survey_ops=("J-02", "E-02"),
    doc="Sessionization via lag + session-start sum (30-minute inactivity "
    "gap). The oracle's "
    "gap-cumsum session_id is a per-user RUNNING count of session "
    "starts, so COUNT(DISTINCT session_id) == SUM(new_session): the "
    "second window pass and the COUNT(DISTINCT) expand-aggregate both "
    "drop, leaving ONE Exchange(user_id)+Sort feeding the lag window "
    "and a same-partitioning final aggregate (no second shuffle).",
)
def j02_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Window + gap predicate as one parsed fragment (py4j round-trip
    # economy, see q01); same lag-over-user window, same plan.
    new_session = (
        "CASE WHEN lag(unix_micros(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "OR unix_micros(ts) - lag(unix_micros(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
        "THEN 1 ELSE 0 END"
    )
    return (
        ev.withColumn("new_session", F.expr(new_session))
        .groupBy("user_id")
        .agg(
            F.expr("SUM(new_session)").alias("n_sessions"),
            F.expr("COUNT(1)").alias("n_events"),
        )
    )

"""Snowflake-semantics compatibility helpers, as pure Catalyst expressions.

Each helper is a thin Python function returning a Column built only from
``pyspark.sql.functions`` — no UDFs, so everything stays inside
whole-stage codegen. Reference citations point at the Snowflake constructs
whose semantics these reproduce (see SURVEY.md §2.H / §7.3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Formats the reference's data actually uses (SURVEY.md §7.4-1):
# plain dates and ISO timestamps (with or without fractional seconds).
_DATE_FORMATS = ("yyyy-MM-dd", "yyyy/MM/dd", "MM/dd/yyyy")


def try_to_date(col: Column | str) -> Column:
    """Snowflake TRY_TO_DATE: parse to date, NULL (never error) on garbage.

    Reference usage: sp_full_travel_costs.sql:29,41 and
    sp_travel_tax_report.sql:30. Accepts the formats observed in the
    reference's fixtures; an ISO timestamp prefix also parses (LEFT 10).
    """
    c = F.col(col) if isinstance(col, str) else col
    attempts = [F.try_to_timestamp(F.substring(c, 1, 10), F.lit(fmt)) for fmt in _DATE_FORMATS]
    return F.coalesce(*attempts).cast("date")


def try_to_timestamp(col: Column | str, fmt: str | None = None) -> Column:
    """Snowflake TRY_TO_TIMESTAMP: NULL on unparseable input."""
    c = F.col(col) if isinstance(col, str) else col
    if fmt is not None:
        return F.try_to_timestamp(c, F.lit(fmt))
    return F.coalesce(
        F.try_to_timestamp(c),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
    )


def try_time_to_hours(col: Column | str) -> Column:
    """Snowflake ``HOUR(TRY_TO_TIME(x)) + MINUTE(TRY_TO_TIME(x))/60``.

    The reference parses "HH:MM" duration strings this way
    (sp_travel_tax_report.sql:32-33). Spark has no TIME type, so
    decompose the string; NULL (not error) when malformed. Snowflake
    TRY_TO_TIME also accepts "HH:MM:SS" — mirror that: 2 or 3 parts,
    every part range-checked, anything else (e.g. "1:2:3:4") -> NULL.
    The minutes-resolution result ignores seconds, as HOUR()+MINUTE()
    does. The pinned TAX_ORACLE in tests/test_pipeline_e2e.py encodes
    the same 2-or-3-part rule — keep the two in lockstep.
    """
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(F.trim(c), ":")
    n = F.size(parts)
    hh = F.try_element_at(parts, F.lit(1)).cast("int")
    mm = F.try_element_at(parts, F.lit(2)).cast("int")
    ss = F.try_element_at(parts, F.lit(3)).cast("int")
    valid = (
        n.isin(2, 3)
        & hh.isNotNull()
        & mm.isNotNull()
        & (hh >= 0)
        & (hh <= 23)
        & (mm >= 0)
        & (mm <= 59)
        & ((n == 2) | (ss.isNotNull() & (ss >= 0) & (ss <= 59)))
    )
    return F.when(valid, hh + mm / F.lit(60.0))


def listagg(col: Column | str, sep: str = ", ", distinct: bool = False) -> Column:
    """Snowflake LISTAGG [DISTINCT] ... WITHIN GROUP (ORDER BY col).

    Snowflake leaves un-ORDERed LISTAGG nondeterministic; we always sort
    for a deterministic contract (SURVEY.md §7.4-3). Reference usages:
    sp_full_travel_costs.sql:39 (ordered), sp_travel_tax_report.sql:44
    (DISTINCT).
    """
    c = F.col(col) if isinstance(col, str) else col
    arr = F.collect_list(c)
    if distinct:
        arr = F.array_distinct(arr)
    # all-NULL group -> NULL, matching string_agg on the oracle side
    # (collect_list skips nulls, and array_join would render '' instead)
    return F.when(F.size(arr) > 0, F.array_join(F.array_sort(arr), sep))


def zeroifnull(col: Column | str) -> Column:
    """Snowflake ZEROIFNULL (sp_full_travel_costs.sql:62-72)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(0))


def qualify_latest_batch(df: DataFrame, partition_by: Sequence[str], batch_col: str = "load_id") -> DataFrame:
    """QUALIFY LOAD_ID = MAX(LOAD_ID) OVER (PARTITION BY ...).

    Keeps every row of the newest batch per partition key — the
    "latest re-upload of a file wins, whole batch kept" pattern
    (sp_full_travel_costs.sql:14-17). Spark SQL lacks QUALIFY; this is
    the window+filter emulation, which Catalyst executes as a single
    shuffle on the partition keys.
    """
    w = Window.partitionBy(*partition_by)
    return (
        df.withColumn("__max_batch", F.max(batch_col).over(w))
        .filter(F.col(batch_col) == F.col("__max_batch"))
        .drop("__max_batch")
    )


def qualify_dedup_latest(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column] | None = None,
) -> DataFrame:
    """QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY load_id DESC) = 1.

    One survivor per key, newest batch wins (sp_full_travel_costs.sql:21-24,
    sp_travel_tax_report.sql:35,57,69). Single shuffle on the key.

    Default ordering appends a content-hash tie-breaker: two same-key
    rows in the SAME batch would otherwise pick a survivor by
    partition/task order — a run-to-run nondeterminism the oracle
    comparisons cannot tolerate. (Snowflake's QUALIFY has the same
    nondeterminism; the hash pick is our deterministic refinement.)
    """
    if order_by:
        order = list(order_by)
    else:
        order = [
            F.col("load_id").desc(),
            F.xxhash64(F.struct(*df.columns)).asc(),
        ]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Exact-arithmetic helpers for cross-engine reproducibility.
#
# Double-precision SUM is order-dependent; Spark (partial aggregation over
# arbitrary partition order) and any oracle engine will disagree in the low
# bits. Summing DECIMAL is exact and order-independent, so aggregates that
# must be bit-reproducible cast to decimal first and cast the final result
# back to double. This costs <5% over double sums and removes an entire
# class of flaky comparisons — at 100 TB the nondeterminism would otherwise
# grow with partition count.
#
# Compact-buffer (long-backed) exact sums — the hi/lo split generalized.
#
# The wide form CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE) BigDecimal-
# adds per row into a DECIMAL(38) buffer (Spark keeps a Decimal
# "compact" — a plain long — only at precision <= 18, and SUM's buffer
# is input precision + 10). For a column that is an exact
# fixed-point value with <= ``frac`` fractional digits (canary-pinned, or
# pre-rounded by construction), the decimal algebra collapses to integer
# algebra exactly as in queries/relational.py's q01/d06 fast path:
#
#   units m = CAST(x * 10^frac + 0.5 AS BIGINT)   -- the exact unscaled
#     value: x*10^frac lands within ~1e-7 of the integer m (two double
#     roundings on |m| <= ~1e8·margin), so +0.5 then the toward-zero cast
#     floors to m. Requires x >= 0 (truncation == half-up only then) —
#     every converted column is canary-pinned or non-negative by
#     construction (see each call site).
#   SUM(m) == split * SUM(m DIV split) + SUM(m % split)   -- exact per the
#     truncated-division identity + SUM linearity (pinned by
#     tests/test_registry.py::test_csum_split_identity); both part sums
#     run on compact DECIMAL(18,0) buffers (DECIMAL(8,0) input cast).
#   result = CAST(SUM(m)/10^frac AS DOUBLE)   -- the division is exact
#     (needs frac <= 6 decimal digits; Spark's divide emits scale >= 6),
#     and CAST of the exact rational to DOUBLE is correctly rounded —
#     bit-identical to CAST(SUM(CAST(x AS DECIMAL(28,scale))) AS DOUBLE).
#
# ``CSUM_COMPACT`` is the A/B + equivalence hook: False routes every
# helper through the wide reference form (the literal old expression), so
# tests can assert bit-identity and experiments can interleave both forms
# in one session (tools/exp_csum_members.py).
# ---------------------------------------------------------------------------

CSUM_COMPACT = True


def _units_sql(col_sql: str, frac: int) -> str:
    if frac == 0:
        # already integral (e.g. a BIGINT extracted from JSON) — no
        # multiply, no +0.5 (the cast is exact, sign-safe)
        return f"CAST(({col_sql}) AS BIGINT)"
    return f"CAST(({col_sql}) * {10 ** frac} + 0.5 AS BIGINT)"


def _csum_units_sql(col_sql: str, frac: int, split: int | None) -> str:
    """SUM of the exact integer units of ``col_sql`` as DECIMAL(28,0).

    split=None: single compact sum — only for units with per-row bound
    <= ~1e6 (qty cents, k_value, pre-rounded 6dp scores), where the
    part-sum stays under the 1e18 DECIMAL(18,0) capacity even at the
    1.5e11-rows-per-group 100 TB design point. Money columns (units up
    to 1e8 under the canary bounds) must pass a split (default call
    sites use 10000: hi <= 1e4 and lo < 1e4 both sum to < 1.5e15).
    """
    m = _units_sql(col_sql, frac)
    if split is None:
        return f"CAST(SUM(CAST(({m}) AS DECIMAL(8,0))) AS DECIMAL(28,0))"
    hi = f"CAST(SUM(CAST(({m}) DIV {split} AS DECIMAL(8,0))) AS DECIMAL(28,0))"
    lo = f"CAST(SUM(CAST(({m}) % {split} AS DECIMAL(8,0))) AS DECIMAL(28,0))"
    return f"({hi} * {split} + {lo})"


def csum_sql(
    col_sql: str, scale: int, frac: int = 2, split: int | None = 10000
) -> str:
    """SQL fragment equal bit-for-bit to the wide form
    ``CAST(SUM(CAST(col AS DECIMAL(28,scale))) AS DOUBLE)`` for a
    non-negative exact-``frac``-decimal column, on compact buffers."""
    if not CSUM_COMPACT:
        return f"CAST(SUM(CAST(({col_sql}) AS DECIMAL(28,{scale}))) AS DOUBLE)"
    units = _csum_units_sql(col_sql, frac, split)
    if frac == 0:
        return f"CAST({units} AS DOUBLE)"
    return f"CAST({units} / {10 ** frac} AS DOUBLE)"


def csum(col_sql: str, scale: int, frac: int = 2, split: int | None = 10000) -> Column:
    """Order-independent exact SUM as a DOUBLE: the wide
    ``CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)`` on compact
    buffers — see :func:`csum_sql`."""
    return F.expr(csum_sql(col_sql, scale, frac, split))


def cavg(col_sql: str, scale: int, frac: int = 2, split: int | None = 10000) -> Column:
    """Order-independent exact AVG: the :func:`csum` double sum /
    COUNT(col), identical to the wide form divided by COUNT."""
    return F.expr(f"{csum_sql(col_sql, scale, frac, split)} / COUNT({col_sql})")


def csum_dec(
    col_sql: str, scale: int = 2, frac: int = 2, split: int | None = 10000
) -> Column:
    """Compact-buffer exact sum kept as DECIMAL(38,scale) — for group
    sums that feed a downstream decimal window accumulation (e03/tr01
    running totals). Equal bit-for-bit to
    ``SUM(CAST(col AS DECIMAL(28,scale)))`` (whose result type is
    DECIMAL(38,scale)): both are the exact rational sum, and the final
    cast from the exact scale>=6 quotient to scale-``scale`` decimal
    rounds nothing (the value has <= frac <= scale fractional digits)."""
    if not CSUM_COMPACT:
        return F.expr(f"SUM(CAST(({col_sql}) AS DECIMAL(28,{scale})))")
    units = _csum_units_sql(col_sql, frac, split)
    if frac == 0:
        return F.expr(f"CAST({units} AS DECIMAL(38,{scale}))")
    return F.expr(f"CAST({units} / {10 ** frac} AS DECIMAL(38,{scale}))")


def running_decimal_prefix(
    df: DataFrame, order_col: str, val_col: str, bucket_days: int = 128
) -> DataFrame:
    """Two-pass partial prefix sum (guide §2.4): cumulative SUM and
    1-based position over a global date ordering WITHOUT the
    single-partition window an ``ORDER BY date ROWS UNBOUNDED
    PRECEDING`` plans to.

    Pass 1 runs the running sum/row_number inside deterministic
    ``bucket_days``-wide date buckets (a hash-partitioned window —
    parallel, and the bucket key is monotone in the date, so
    within-bucket order is a contiguous slice of global order). Pass 2
    aggregates one total per bucket (reusing the bucket partitioning —
    no extra exchange), runs the tiny single-partition window over
    O(buckets) rows only, and broadcasts the EXCLUSIVE per-bucket
    offsets back. Decimal addition is exact, so offset + within-bucket
    prefix is bit-identical to the global window's value at every row.

    Adds ``__running`` (same decimal type as SUM(val_col) OVER the
    global window) and ``__rn`` (bigint position). Requires the rows of
    one ``order_col`` value to be unique (the callers' daily grains are
    groupBy outputs) — the same requirement the global ROW_NUMBER
    already had for determinism.
    """
    b = F.floor(
        F.datediff(F.col(order_col), F.lit("1970-01-01").cast("date"))
        / F.lit(bucket_days)
    )
    win = (
        Window.partitionBy("__b")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrn = Window.partitionBy("__b").orderBy(order_col)
    din = (
        df.withColumn("__b", b)
        .withColumn("__run_in", F.sum(val_col).over(win))
        .withColumn("__rn_in", F.row_number().over(wrn))
    )
    # bucket totals read the window output so the groupBy reuses the
    # hash(__b) partitioning the window just established
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        din.groupBy("__b")
        .agg(F.sum(val_col).alias("__bt"), F.count(F.lit(1)).alias("__bn"))
        .select(
            "__b",
            F.sum("__bt").over(wb).alias("__off"),
            F.sum("__bn").over(wb).alias("__offn"),
        )
    )
    # NULL-SAFE join on the bucket key: a plain equi-join would inject
    # an isnotnull(FLOOR(...)) filter into only the probe branch, making
    # the two daily-aggregate subtrees differ — AQE could then not reuse
    # the shuffle and the FACT TABLE WOULD BE SCANNED TWICE. With <=>
    # both branches stay identical and runtime stage reuse kicks in.
    offs = offs.withColumnRenamed("__b", "__ob")
    joined = din.join(F.broadcast(offs), F.col("__b").eqNullSafe(F.col("__ob")))
    running = F.when(F.col("__off").isNull(), F.col("__run_in")).otherwise(
        F.col("__off") + F.col("__run_in")
    )
    rn = (F.coalesce(F.col("__offn"), F.lit(0)) + F.col("__rn_in")).cast("bigint")
    return (
        joined.withColumn("__running", running)
        .withColumn("__rn", rn)
        .drop("__b", "__ob", "__run_in", "__rn_in", "__off", "__offn")
    )

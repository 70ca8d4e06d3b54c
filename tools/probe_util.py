"""Shared probe instrumentation: plan fingerprints + GC counters.

Used by scale_probe.py (density/ISO tiers). Kept import-light:
importing this module must never parse argv or start a session.
"""

from __future__ import annotations


def gc_millis(spark) -> int:
    """Cumulative stop-the-world GC time of the DRIVER JVM — equals the
    executors' in local mode (one JVM); under local-cluster it covers
    only the driver, so treat it as a churn indicator, not a total."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(b.getCollectionTime() for b in beans)


def plan_fingerprint(jqe) -> str:
    """md5 of a physical-plan dump with volatile tokens (expression
    ids, codegen/query-stage ids, plan ids, paths, stats) normalized.
    Two uses downstream: the PRE-execution dump (initial adaptive plan
    — deterministic, so rep-to-rep drift here always means a real plan
    change) and the POST-execution dump (AQE-final plan — shows runtime
    re-planning across scales, but can legitimately differ between reps
    of the same data when exchange-reuse depends on stage completion
    order)."""
    import hashlib
    import re

    s = jqe.executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#x", s)
    s = re.sub(r"\*\(\d+\)", "*", s)  # whole-stage-codegen ids
    s = re.sub(r"\[plan_id=\d+\]|\[id=#?\w+\]", "", s)
    s = re.sub(r"(file|hdfs|s3a?):[^\s,\]\)]+", "<path>", s)
    s = re.sub(r"Statistics\([^)]*\)", "", s)
    # session-global counters: higher-order-function lambda variable
    # names (x_4 vs x_8), cached-RDD/subquery ids, query-stage ids
    s = re.sub(r"\blambda ([A-Za-z]+)_\d+", r"lambda \1", s)
    s = re.sub(r"\b(CachedRDD|Subquery|ReusedExchange)\s*#?\d*", r"\1", s)
    s = re.sub(
        r"\b(ResultQueryStage|ShuffleQueryStage|BroadcastQueryStage"
        r"|TableCacheQueryStage)\s+\d+",
        r"\1",
        s,
    )
    # width-truncated expression dumps cut at shifting offsets once
    # ids of different digit counts are involved — collapse any
    # token the renderer elided
    s = re.sub(r"\S*\.\.\.", "<trunc>", s)
    return hashlib.md5(s.encode()).hexdigest()[:16]

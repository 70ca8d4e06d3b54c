"""Training-data export order: deterministic mixture sampling.

The last stage of a pretraining pipeline orders or samples a corpus
(typically after dedup/filter/packing — see t08) by strata such as
language. Every function here is a pure function of the keys, so the
same corpus always yields the same order or sample on any cluster size,
any partition count, any run — the reproducibility contract training
jobs rely on (the same hash-determinism rule as cu01's sampling: no
rand(), no zipWithIndex-style physical-order dependence).

- ``curriculum_interleave``: stride-scheduling interleave of strata by
  mixture weight (cu10);
- ``token_budget_sample``: per-stratum token-budget prefix selection;
- ``epoch_repeat_sample``: token targets above a stratum's size,
  met by whole-epoch repetition.

At 100 TB: within-stratum ranks and running token sums are computed
over 256 md5-prefix salt buckets plus broadcast bucket offsets, so no
dominant stratum lands in one window partition; no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NULL_STRATUM = "\x00<null-stratum>"


def curriculum_interleave(
    df: DataFrame,
    stratum: str = "lang",
    key: str = "doc_id",
    weights: DataFrame | None = None,
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic mixture-weighted curriculum order (stride
    scheduling) as (key, stratum, rk, vt).

    Each stratum gets a temperature weight w_s = sqrt(n_s) / sum_s'
    sqrt(n_s') (alpha = 0.5, the multilingual-pretraining rebalance —
    same family as cu07) — or, when ``weights`` is given, an explicit
    mixture weight from a config table ``(stratum, weight)`` (strata
    absent from the config fall back to ``default_weight``; extra
    config rows for strata absent from the corpus are ignored). Its
    k-th document, ranked by the deterministic
    md5 hash of the key WITHIN the stratum, is scheduled at virtual time
    vt = (k+1) / w_s. Sorting by vt interleaves strata so each appears
    with frequency proportional to its weight at every point of the
    training order — the standard deterministic curriculum/mixture
    export, reproducible across runs, engines, and cluster sizes (no
    rand(), no physical-order dependence).

    SCALE: the naive per-stratum rank is a window partitioned by
    stratum — a dominant stratum (en at ~40%) would drag near-half the
    corpus through ONE window partition at 100 TB. Instead the rank is
    computed in two phases over 256 salt buckets derived from the md5
    ordering key itself (bucket = first hex byte, so bucket order is
    consistent with full-key order): rank within (stratum, bucket) +
    broadcast cumulative bucket offsets == the exact global
    within-stratum rank, with per-partition work bounded by
    n_s / 256. The weight sum accumulates in DECIMAL so the reduction
    is order-independent across engines; vt's arithmetic
    ((rk+1) * s / sqrt(n_s)) is IEEE-exact and identical in DuckDB.
    """
    import math

    if not default_weight > 0 or math.isnan(default_weight):
        raise ValueError(f"default_weight must be > 0, got {default_weight}")
    # All grouping/join/window keys use a NULL-normalized stratum proxy
    # (skey): equi-joins drop NULL keys, so a NULL stratum (e.g. docs
    # with no language tag) would silently vanish from the curriculum,
    # while the naive window rank this function must equal keeps NULLs
    # as their own partition. The original stratum value (NULL included)
    # is carried through to the output untouched.
    hkey = F.md5(F.col(key).cast("string"))
    skey = F.coalesce(F.col(stratum).cast("string"), F.lit(NULL_STRATUM))
    base = (
        df.select(stratum, key)
        .withColumn("skey", skey)
        .withColumn("hkey", hkey)
        .withColumn("bkt", F.substring("hkey", 1, 2))
    )
    counts = base.groupBy("skey", "bkt").agg(F.count(F.lit(1)).alias("n_b"))
    woff = (
        Window.partitionBy("skey")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "skey", "bkt", F.coalesce(F.sum("n_b").over(woff), F.lit(0)).alias("off")
    )
    wr = Window.partitionBy("skey", "bkt").orderBy("hkey", key)
    ranked = base.join(F.broadcast(offsets), ["skey", "bkt"]).withColumn(
        "rk", (F.row_number().over(wr) - 1 + F.col("off")).cast("long")
    )
    # Per-stratum totals fold the ALREADY-computed bucket counts (<=256
    # rows per stratum) — no third scan of the corpus.
    stats = counts.groupBy("skey").agg(F.sum("n_b").alias("n_docs"))
    if weights is None:
        stats = stats.withColumn("w_raw", F.sqrt("n_docs"))
    else:
        # Config weights join on the same NULL-normalized proxy; the
        # raw weight is the config value, not a function of n_s.
        wcfg = weights.select(
            F.coalesce(F.col(stratum).cast("string"), F.lit(NULL_STRATUM)).alias(
                "skey"
            ),
            F.col("weight").cast("double").alias("w_cfg"),
        )
        # Validate the config eagerly (it is control-plane tiny, the
        # same budget as the config/ledger collects elsewhere): a
        # duplicate stratum row would fan out the join below and
        # silently double-count the stratum; a null/zero/negative
        # weight would poison vt with inf/NaN far downstream.
        bad = (
            wcfg.groupBy("skey")
            .agg(F.count(F.lit(1)).alias("n"), F.min("w_cfg").alias("w_min"))
            .filter(
                (F.col("n") > 1)
                | F.col("w_min").isNull()
                | F.isnan("w_min")
                | (F.col("w_min") <= 0)
            )
            .limit(20)
            .collect()
        )
        if bad:
            raise ValueError(
                "curriculum_interleave: invalid weights config "
                "(duplicate stratum rows or non-positive/null weight): "
                + ", ".join(
                    f"{r.skey!r} (rows={r.n}, min_weight={r.w_min})" for r in bad
                )
            )
        stats = stats.join(F.broadcast(wcfg), "skey", "left").select(
            "skey",
            "n_docs",
            F.coalesce("w_cfg", F.lit(float(default_weight))).alias("w_raw"),
        )
    tot = stats.agg(
        F.sum(F.col("w_raw").cast("decimal(28,12)")).cast("double").alias("s")
    )
    vt = (F.col("rk") + 1) * F.col("s") / F.col("w_raw")
    return (
        ranked.join(F.broadcast(stats), "skey")
        .crossJoin(F.broadcast(tot))
        .select(key, stratum, "rk", vt.alias("vt"))
    )


def _salted_stratum_prefix(
    df: DataFrame, stratum: str, key: str, token_col: str
) -> DataFrame:
    """Exact within-stratum running token sum in md5-hash order,
    decomposed over 256 salt buckets + broadcast cumulative bucket
    offsets (bucket = first hex byte of the ordering hash, so bucket
    order refines full-key order) — bit-identical to the naive
    per-stratum window (tests/test_export.py) with per-partition work
    bounded by n_s/256. Shared by token_budget_sample and
    epoch_repeat_sample. Returns df columns + skey/hkey/cum_before."""
    hkey = F.md5(F.col(key).cast("string"))
    skey = F.coalesce(F.col(stratum).cast("string"), F.lit(NULL_STRATUM))
    base = (
        df.select(stratum, key, token_col)
        .withColumn("skey", skey)
        .withColumn("hkey", hkey)
        .withColumn("bkt", F.substring("hkey", 1, 2))
    )
    btok = base.groupBy("skey", "bkt").agg(
        F.sum(token_col).cast("long").alias("tok_b")
    )
    woff = (
        Window.partitionBy("skey")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = btok.select(
        "skey", "bkt", F.coalesce(F.sum("tok_b").over(woff), F.lit(0)).alias("tok_off")
    )
    win = (
        Window.partitionBy("skey", "bkt")
        .orderBy("hkey", key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.col("tok_off") + F.coalesce(
        F.sum(token_col).over(win), F.lit(0)
    )
    return base.join(F.broadcast(offsets), ["skey", "bkt"]).withColumn(
        "cum_before", cum_before.cast("long")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = 2000,
    stratum: str = "lang",
    key: str = "doc_id",
    token_col: str = "n_tokens",
) -> DataFrame:
    """Token-budget mixture selection: per stratum, take documents in
    deterministic md5-hash order until the stratum's TOKEN budget fills
    — the realistic pretraining-mix primitive (mix recipes are stated
    in tokens per source/language, not document counts; cu07/cu02
    sample by document count). A document is selected iff the stratum's
    token mass BEFORE it is still under budget, so the document that
    crosses the boundary is included ("fill until reached") and the
    selection is a deterministic pure function of (key, tokens, budget)
    — reproducible across runs, engines, and cluster sizes.

    ``budgets`` is an optional config table ``(stratum, budget)`` —
    the cu12 shape: strata absent from the config fall back to
    ``default_budget``, config rows for absent strata are ignored,
    and the config is validated eagerly (duplicate stratum rows or
    null/non-positive budgets raise). Returns the selected rows as
    (key, stratum, token_col, cum_tokens) where cum_tokens is the
    stratum's running token total through this document in hash order.

    SCALE: the naive form is a running SUM window partitioned by
    stratum — a dominant stratum would drag its whole token mass
    through ONE window partition at 100 TB. Like
    ``curriculum_interleave``'s rank, the prefix sum is computed in two
    phases over 256 salt buckets derived from the md5 ordering key
    (bucket = first hex byte, so bucket order refines full-key order):
    per-bucket token sums roll up to broadcast cumulative bucket
    offsets, and the within-(stratum, bucket) running sum plus the
    bucket offset equals the exact global within-stratum prefix sum,
    with per-partition work bounded by n_s / 256. Integer token counts
    sum exactly, so the two-phase decomposition is bit-identical to the
    naive window (pinned by tests/test_export.py::
    test_token_budget_salted_equals_window).
    """
    if not default_budget > 0:
        raise ValueError(f"default_budget must be > 0, got {default_budget}")
    ranked = _salted_stratum_prefix(df, stratum, key, token_col)
    if budgets is None:
        budgeted = ranked.withColumn("budget", F.lit(int(default_budget)))
    else:
        bcfg = budgets.select(
            F.coalesce(F.col(stratum).cast("string"), F.lit(NULL_STRATUM)).alias(
                "skey"
            ),
            F.col("budget").cast("long").alias("b_cfg"),
        )
        bad = (
            bcfg.groupBy("skey")
            .agg(F.count(F.lit(1)).alias("n"), F.min("b_cfg").alias("b_min"))
            .filter(
                (F.col("n") > 1) | F.col("b_min").isNull() | (F.col("b_min") <= 0)
            )
            .limit(20)
            .collect()
        )
        if bad:
            raise ValueError(
                "token_budget_sample: invalid budgets config (duplicate "
                "stratum rows or non-positive/null budget): "
                + ", ".join(f"{r.skey!r} (rows={r.n}, min={r.b_min})" for r in bad)
            )
        budgeted = ranked.join(F.broadcast(bcfg), "skey", "left").withColumn(
            "budget", F.coalesce("b_cfg", F.lit(int(default_budget)))
        )
    return budgeted.filter(F.col("cum_before") < F.col("budget")).select(
        key,
        stratum,
        token_col,
        (F.col("cum_before") + F.col(token_col)).cast("long").alias("cum_tokens"),
    )


def epoch_repeat_sample(
    df: DataFrame,
    targets: DataFrame,
    stratum: str = "lang",
    key: str = "doc_id",
    token_col: str = "n_tokens",
    max_epochs: int = 100,
) -> DataFrame:
    """Multi-epoch mixture selection — the OVER-budget complement of
    ``token_budget_sample``: real pretraining mixes up-weight small
    high-quality sources by REPEATING them (multiple epochs of the
    source per one pass of the big ones), so when a stratum's token
    target exceeds its corpus mass, the stratum is replayed — full
    deterministic hash-order passes, each tagged with an ``epoch``
    number, with the final pass truncated by the same fill-until-reached
    rule cu14 uses (the document crossing the target boundary is
    included). Strata absent from ``targets`` emit exactly one full
    untruncated epoch: the mixture output is the whole mixed dataset.

    ``targets`` is a config table ``(stratum, target)`` validated
    eagerly like token_budget_sample's budgets (duplicates,
    null/non-positive targets raise). A target demanding more than
    ``max_epochs`` passes of a stratum raises too — that is a config
    error (up-weighting a source 100x is outside any published mix),
    not a scale path.

    Determinism: selection and epoch numbering are pure functions of
    (key, tokens, target). SCALE: the within-stratum prefix sum is the
    shared 256-salt-bucket decomposition (_salted_stratum_prefix — one
    uniform shuffle, no dominant-stratum window); per-stratum totals
    are one small aggregate broadcast back; the epoch fan-out is a
    JVM-side sequence+explode sized by the OUTPUT (selected epochs),
    never a cross join. Returns (key, stratum, epoch, token_col,
    cum_tokens) where cum_tokens is the global running total through
    this document across epochs in replay order."""
    if not max_epochs > 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    skey_of = lambda c: F.coalesce(F.col(c).cast("string"), F.lit(NULL_STRATUM))  # noqa: E731
    tcfg = targets.select(
        skey_of(stratum).alias("skey"),
        F.col("target").cast("long").alias("t_cfg"),
    )
    bad = (
        tcfg.groupBy("skey")
        .agg(F.count(F.lit(1)).alias("n"), F.min("t_cfg").alias("t_min"))
        .filter((F.col("n") > 1) | F.col("t_min").isNull() | (F.col("t_min") <= 0))
        .limit(20)
        .collect()
    )
    if bad:
        raise ValueError(
            "epoch_repeat_sample: invalid targets config (duplicate "
            "stratum rows or non-positive/null target): "
            + ", ".join(f"{r.skey!r} (rows={r.n}, min={r.t_min})" for r in bad)
        )
    ranked = _salted_stratum_prefix(df, stratum, key, token_col)
    totals = ranked.groupBy("skey").agg(
        F.sum(token_col).cast("long").alias("s_total")
    )
    # epochs per stratum: ceil(target / total) for configured strata
    # (integer form: (target + total - 1) div total), one pass otherwise
    plan = totals.join(F.broadcast(tcfg), "skey", "left").withColumn(
        "n_epochs",
        F.when(F.col("t_cfg").isNull(), F.lit(1))
        # degenerate zero-mass stratum: NULL here (the gate below
        # raises) — branching first keeps ANSI sessions from throwing
        # DIVIDE_BY_ZERO inside the probe itself
        .when(F.col("s_total") <= 0, F.lit(None).cast("long"))
        .otherwise(
            # integer div: exact at any magnitude (a double division
            # would drift past 2^53), matching the oracle's `//`
            F.expr("(t_cfg + s_total - 1) div s_total")
        ),
    )
    # n_epochs is NULL when s_total <= 0 under a configured target (all
    # docs zero-token: the double division yields inf/nan) — equally a
    # config error, gated with the same loud raise
    over = (
        plan.filter(
            (F.col("n_epochs") > max_epochs)
            | (F.col("t_cfg").isNotNull() & (F.col("n_epochs").isNull() | (F.col("s_total") <= 0)))
        )
        .limit(5)
        .collect()
    )
    if over:
        raise ValueError(
            f"epoch_repeat_sample: target demands > {max_epochs} epochs for "
            + ", ".join(
                f"{r.skey!r} (target={r.t_cfg}, stratum tokens={r.s_total})"
                for r in over
            )
            + " — a config error, not a repetition recipe"
        )
    fanned = ranked.join(F.broadcast(plan), "skey").select(
        key,
        stratum,
        token_col,
        "cum_before",
        "s_total",
        "t_cfg",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_epochs") - 1)
        ).alias("epoch"),
    )
    global_before = F.col("epoch") * F.col("s_total") + F.col("cum_before")
    return fanned.filter(
        F.col("t_cfg").isNull() | (global_before < F.col("t_cfg"))
    ).select(
        key,
        stratum,
        F.col("epoch").cast("long").alias("epoch"),
        token_col,
        (global_before + F.col(token_col)).cast("long").alias("cum_tokens"),
    )


"""Training-data export order: ranks and samples are pure functions of
the keys, and the salted 100 TB paths equal the naive windows."""

from __future__ import annotations

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from travel_data_ingestion_spark.export import (
    curriculum_interleave,
    token_budget_sample,
)
from travel_data_ingestion_spark.queries import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_curriculum_salted_rank_equals_global_window(spark):
    """The 256-bucket two-phase rank (the 100 TB path) must equal the
    naive single-window per-stratum rank exactly."""
    docs = load_table(spark, SF_DIR, "documents")
    got = {
        (r.doc_id): r.rk
        for r in curriculum_interleave(docs, stratum="lang").collect()
    }
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    expected = {
        r.doc_id: r.rk
        for r in docs.select(
            "doc_id", (F.row_number().over(w) - 1).cast("long").alias("rk")
        ).collect()
    }
    assert got == expected


def test_curriculum_keeps_null_stratum_rows(spark):
    """A NULL stratum (docs with no language tag) is a real curriculum
    stratum, not a row to silently drop: equi-joins discard NULL keys,
    so the salted-rank pipeline must rank and weight through a
    NULL-normalized proxy. Equality with the naive window rank (which
    keeps NULLs as their own partition) is the contract."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    null_rows = spark.createDataFrame(
        [(10_000_001, None), (10_000_002, None), (10_000_003, None)],
        "doc_id long, lang string",
    )
    mixed = docs.unionByName(null_rows)
    out = curriculum_interleave(mixed, stratum="lang").collect()
    assert len(out) == mixed.count(), "rows were dropped"
    got = {r.doc_id: (r.lang, r.rk) for r in out}
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    expected = {
        r.doc_id: (r.lang, r.rk)
        for r in mixed.select(
            "doc_id", "lang", (F.row_number().over(w) - 1).cast("long").alias("rk")
        ).collect()
    }
    assert got == expected
    # the NULL stratum got a real weight: its rows carry finite vt
    null_vts = [r.vt for r in out if r.lang is None]
    assert len(null_vts) == 3 and all(v > 0 for v in null_vts)


def _naive_token_budget(docs_toks, budget_map, default_budget):
    """Reference form: naive per-stratum running-sum window + budget."""
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.lit(default_budget)
    for lang, b in budget_map.items():
        budget = F.when(F.col("lang").eqNullSafe(lang), F.lit(b)).otherwise(budget)
    return (
        docs_toks.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("cum_before") < budget)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (F.col("cum_before") + F.col("n_tokens")).cast("long").alias("cum_tokens"),
        )
    )


def test_token_budget_salted_equals_window(spark):
    """The 256-bucket two-phase prefix sum (the 100 TB path) must equal
    the naive per-stratum running-sum window exactly — including a
    planted NULL stratum (equi-joins drop NULL keys; the kernel must
    route it through the NULL-normalized proxy) and a stratum whose
    budget exceeds its total token mass (take-all)."""
    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    planted = spark.createDataFrame(
        [(20_000_001, None, 40), (20_000_002, None, 40), (20_000_003, None, 25)],
        "doc_id long, lang string, n_tokens long",
    )
    mixed = toks.unionByName(planted)
    cfg_rows = [("en", 3000), ("zh", 1500), (None, 60)]
    cfg = spark.createDataFrame(cfg_rows, "lang string, budget long")
    got = sorted(
        map(tuple, token_budget_sample(mixed, budgets=cfg, default_budget=2000).collect())
    )
    expected = sorted(
        map(
            tuple,
            _naive_token_budget(
                mixed, {lang: b for lang, b in cfg_rows}, 2000
            ).collect(),
        )
    )
    assert got == expected
    # NULL stratum: budget 60 over docs of 40/40/25 tokens in hash order
    # — exactly two docs selected (the second crosses the boundary), so
    # both the NULL routing and the boundary inclusion are exercised
    null_rows = [t for t in got if t[1] is None]
    assert len(null_rows) == 2
    # a stratum whose budget exceeds its token mass takes every doc:
    # the default 2000 exceeds nothing here, so instead check totals —
    # every selected stratum stops at-or-just-past its budget
    by_lang: dict = {}
    for doc_id, lang, n_tokens, cum in got:
        by_lang.setdefault(lang, []).append(cum)
    budgets = {lang: b for lang, b in cfg_rows}
    for lang, cums in by_lang.items():
        b = budgets.get(lang, 2000)
        assert max(cums) >= b or len(cums) == mixed.filter(
            F.col("lang").eqNullSafe(lang)
        ).count(), (lang, max(cums), b)


def test_token_budget_rejects_bad_config(spark):
    toks = spark.createDataFrame(
        [(1, "en", 10)], "doc_id long, lang string, n_tokens long"
    )
    dup = spark.createDataFrame(
        [("en", 100), ("en", 200)], "lang string, budget long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        token_budget_sample(toks, budgets=dup)
    neg = spark.createDataFrame([("en", 0)], "lang string, budget long")
    with pytest.raises(ValueError, match="non-positive"):
        token_budget_sample(toks, budgets=neg)
    with pytest.raises(ValueError, match="default_budget"):
        token_budget_sample(toks, default_budget=0)


def test_curriculum_stride_property(spark):
    """Stride scheduling's defining property: in any prefix of the
    curriculum ending at virtual time T, stratum s has contributed
    exactly min(n_s, floor(T * w_s)) documents — each stratum appears
    proportionally to its weight at EVERY point of the training order,
    not just in aggregate."""
    docs = load_table(spark, SF_DIR, "documents")
    rows = sorted(
        curriculum_interleave(docs, stratum="lang").collect(),
        key=lambda r: (r.vt, r.lang, r.doc_id),
    )
    n_by_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    s = sum(n**0.5 for n in n_by_lang.values())
    weights = {lang: n**0.5 / s for lang, n in n_by_lang.items()}
    # check at several prefix cut points
    for cut in (50, 137, 250, len(rows)):
        prefix = rows[:cut]
        t_cut = prefix[-1].vt
        seen: dict[str, int] = {}
        for r in prefix:
            seen[r.lang] = seen.get(r.lang, 0) + 1
        for lang, w in weights.items():
            expected = min(n_by_lang[lang], int(t_cut * w))
            # ties at exactly T may straddle the cut; allow off-by-one
            assert abs(seen.get(lang, 0) - expected) <= 1, (cut, lang)


def test_curriculum_config_weights(spark):
    """Config-table weights: vt must equal (rk+1) * sum(w) / w_s with
    w_s read from the config (default for absent strata, extra config
    rows ignored), while rk stays the plain within-stratum hash rank."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    cfg = spark.createDataFrame(
        [("en", 1.0), ("zh", 4.0), ("xx", 9.0)], "lang string, weight double"
    )
    out = curriculum_interleave(
        docs, stratum="lang", weights=cfg, default_weight=2.0
    ).collect()
    assert len(out) == docs.count()

    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    w_by_lang = {lang: {"en": 1.0, "zh": 4.0}.get(lang, 2.0) for lang in langs}
    s = sum(w_by_lang.values())  # 'xx' absent from corpus -> not in the sum
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    rks = {
        r.doc_id: r.rk
        for r in docs.select(
            "doc_id", (F.row_number().over(w) - 1).cast("long").alias("rk")
        ).collect()
    }
    for r in out:
        assert r.rk == rks[r.doc_id], (r.doc_id, r.rk, rks[r.doc_id])
        assert r.vt == (r.rk + 1) * s / w_by_lang[r.lang], (r.doc_id, r.vt)

    # heavier weight -> denser early presence: zh (w=4) contributes ~4x
    # the docs of en (w=1) in any early prefix
    rows = sorted(out, key=lambda r: (r.vt, r.lang, r.doc_id))
    prefix = rows[:100]
    seen: dict[str, int] = {}
    for r in prefix:
        seen[r.lang] = seen.get(r.lang, 0) + 1
    assert seen.get("zh", 0) > 2 * seen.get("en", 1)


def test_curriculum_rejects_bad_weights_config(spark):
    """Duplicate stratum rows or non-positive/null weights in the config
    are hard errors — a duplicate would fan out the stats join and
    silently double-count the stratum; w <= 0 poisons vt downstream."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    for rows in (
        [("en", 1.0), ("en", 2.0)],          # duplicate stratum
        [("en", 0.0)],                        # zero weight
        [("en", -1.0)],                       # negative weight
        [("en", None)],                       # null weight
        [("en", float("nan"))],               # NaN weight
    ):
        cfg = spark.createDataFrame(rows, "lang string, weight double")
        with pytest.raises(ValueError, match="invalid weights config"):
            curriculum_interleave(docs, stratum="lang", weights=cfg)
    for dw in (0.0, -1.0, float("nan")):
        with pytest.raises(ValueError, match="default_weight"):
            curriculum_interleave(docs, stratum="lang", default_weight=dw)


def test_epoch_repeat_matches_naive_and_boundary_rules(spark):
    """epoch_repeat_sample (the over-budget twin of token_budget_sample):
    configured strata replay in full hash-order passes with the final
    pass truncated by fill-until-reached; unconfigured strata emit
    exactly one full pass; a NULL stratum routes through the
    NULL-normalized proxy like every other config surface."""
    from travel_data_ingestion_spark.export import epoch_repeat_sample

    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    planted = spark.createDataFrame(
        [(20_000_001, None, 40), (20_000_002, None, 40), (20_000_003, None, 25)],
        "doc_id long, lang string, n_tokens long",
    )
    mixed = toks.unionByName(planted)
    # null total = 105 -> target 250 = 3 passes, third truncated
    cfg_rows = [("zh", 9000), ("de", 7000), (None, 250)]
    cfg = spark.createDataFrame(cfg_rows, "lang string, target long")
    got = epoch_repeat_sample(mixed, targets=cfg).collect()

    # naive reference: per-stratum python replay in (md5(key), key) order
    import hashlib

    rows = [(r.doc_id, r.lang, r.n_tokens) for r in mixed.collect()]
    targets = {lang: t for lang, t in cfg_rows}
    expect = set()
    by_s: dict = {}
    for doc_id, lang, n in rows:
        by_s.setdefault(lang, []).append((doc_id, n))
    for lang, docs_s in by_s.items():
        docs_s.sort(key=lambda d: (hashlib.md5(str(d[0]).encode()).hexdigest(), d[0]))
        total = sum(n for _d, n in docs_s)
        target = targets.get(lang)
        n_ep = 1 if target is None else -(-target // total)
        cum = 0
        for ep in range(n_ep):
            for doc_id, n in docs_s:
                if target is not None and cum >= target:
                    break
                expect.add((doc_id, lang, ep, n, cum + n))
                cum += n
    assert {tuple(r) for r in got} == expect

    by_lang_ep: dict = {}
    for r in got:
        by_lang_ep.setdefault(r.lang, set()).add(r.epoch)
    # unconfigured strata: exactly one full pass
    for lang in ("en", "es", "fr"):
        assert by_lang_ep[lang] == {0}
        n_docs = sum(1 for r in got if r.lang == lang)
        assert n_docs == mixed.filter(F.col("lang") == lang).count()
    # configured strata replay; epoch 0 of a configured stratum is FULL
    assert len(by_lang_ep["zh"]) >= 2 and len(by_lang_ep[None]) == 3
    zh_all = mixed.filter(F.col("lang") == "zh").count()
    assert sum(1 for r in got if r.lang == "zh" and r.epoch == 0) == zh_all
    # fill-until-reached: the last selected doc CROSSES the target
    for lang, target in cfg_rows:
        cums = [r.cum_tokens for r in got if r.lang == lang]
        assert max(cums) >= target, (lang, max(cums), target)
    # determinism
    again = epoch_repeat_sample(mixed, targets=cfg).collect()
    assert {tuple(r) for r in again} == expect


def test_epoch_repeat_rejects_bad_config(spark):
    from travel_data_ingestion_spark.export import epoch_repeat_sample

    toks = spark.createDataFrame(
        [(1, "en", 10), (2, "en", 5)], "doc_id long, lang string, n_tokens long"
    )
    dup = spark.createDataFrame(
        [("en", 100), ("en", 200)], "lang string, target long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        epoch_repeat_sample(toks, targets=dup)
    neg = spark.createDataFrame([("en", -5)], "lang string, target long")
    with pytest.raises(ValueError, match="non-positive"):
        epoch_repeat_sample(toks, targets=neg)
    # a target demanding more than max_epochs passes is a config error
    huge = spark.createDataFrame([("en", 10_000)], "lang string, target long")
    with pytest.raises(ValueError, match="config error"):
        epoch_repeat_sample(toks, targets=huge, max_epochs=100)
    # ... but a legitimate heavy repetition under the cap works
    ok = epoch_repeat_sample(toks, targets=huge, max_epochs=1000).collect()
    assert max(r.epoch for r in ok) == 666  # ceil(10000/15) - 1
    assert max(r.cum_tokens for r in ok) >= 10_000
    # a configured stratum with ZERO token mass is a config error, not
    # silent junk epochs (double division by zero -> inf/nan otherwise)
    zero = spark.createDataFrame(
        [(1, "en", 0), (2, "en", 0)], "doc_id long, lang string, n_tokens long"
    )
    tgt = spark.createDataFrame([("en", 100)], "lang string, target long")
    with pytest.raises(ValueError, match="config error"):
        epoch_repeat_sample(zero, targets=tgt)

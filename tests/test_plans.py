"""Physical-plan quality gates: the 100 TB design assertions.

These tests pin the plan properties the engine's scale story depends on:
filters reach the parquet scan (PushedFilters), column pruning reaches
the reader (ReadSchema), small dims broadcast, top-k avoids a global
sort, and hot paths stay inside WholeStageCodegen. A refactor that
silently regresses one of these fails here long before a benchmark run
would catch it.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from travel_data_ingestion_spark.queries import member_queries

SPECS = member_queries()


def _formatted_plan(spark, name: str) -> str:
    import contextlib
    import io

    df = SPECS[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted_plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _formatted_plan(spark, "q01_pricing_summary")
    # only the 7 needed columns in ReadSchema, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dim_joins_broadcast(spark):
    """Fixed-size dims (nation/region) broadcast by hint; data-scaled
    sides (customer, orders, lineitem) carry NO hint — statically they
    plan as SortMergeJoin and AQE demotes to broadcast at runtime from
    observed sizes. That split is the 100 TB policy: hints only where
    size is invariant (see scale_probe.py findings)."""
    plan = _formatted_plan(spark, "q05_region_nation_revenue")
    assert "BroadcastHashJoin" in plan  # nation/region
    assert plan.count("SortMergeJoin") <= 2  # li<->orders + orders<->dims
    # runtime: AQE converts the small dims side to broadcast
    df = SPECS["q05_region_nation_revenue"].fn(spark, SF_DIR)
    df.count()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    final = buf.getvalue()
    assert final.count("BroadcastHashJoin") >= 3  # all dim joins broadcast
    assert final.count("SortMergeJoin") <= 1  # only lineitem<->orders shuffles


def test_topk_uses_take_ordered(spark):
    plan = _formatted_plan(spark, "f04_top_k")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node outside the top-k operator
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_curriculum_head_uses_take_ordered(spark):
    """cu10's graded head must be a top-k (TakeOrderedAndProject), never
    a global sort: the only Sort nodes allowed are the bounded
    per-partition window sorts of the salted rank (each covers one
    (stratum, bucket) slice, n_s/256 rows) and the final k-row window."""
    plan = _formatted_plan(spark, "cu10_curriculum_export")
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_before_shuffle(spark):
    plan = _formatted_plan(spark, "d06_pivot_sum_case")
    # HashAggregate appears twice: partial (map-side) + final
    assert plan.count("HashAggregate") >= 2


def test_hot_path_stays_in_codegen(spark):
    plan = _formatted_plan(spark, "t02_quality_score")
    # formatted explain marks codegen'd operators with a '*' prefix
    assert "* ColumnarToRow" in plan or "* Project" in plan
    # no Python evaluation in the scalar text pipeline
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anti_and_semi_joins_broadcast(spark):
    for name in ("c05_anti_join", "c06_semi_join"):
        plan = _formatted_plan(spark, name)
        assert "BroadcastHashJoin" in plan, name


def test_scaffold_join_broadcasts_small_side(spark):
    plan = _formatted_plan(spark, "c04_scaffold_densify")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tfidf_df_join_follows_the_aqe_policy(spark):
    """The per-term document-frequency table is VOCABULARY-scaled, so
    it carries no broadcast hint (round 13; forcing one is the r8
    scaled-side-hint mistake): statically the term join plans as a
    shuffle join, and AQE demotes it to a broadcast at runtime from
    the OBSERVED size — the same policy as q05's customer side. The
    single-row corpus scalar stays an explicit broadcast."""
    plan = _formatted_plan(spark, "t06_tfidf_keywords")
    assert "BroadcastNestedLoopJoin" in plan  # crossJoin with the scalar
    # the df side must carry NO broadcast hint: at local scale the
    # planner may still pick a broadcast from its own observed-size
    # estimate (fine — that is the adaptive policy working), but a
    # FORCED hint would pin the broadcast at 100 TB vocabulary sizes.
    # Exactly one broadcast hint is allowed in the logical plan: nsrc.
    import contextlib
    import io

    df = SPECS["t06_tfidf_keywords"].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    txt = buf.getvalue()
    analyzed = txt.split("== Analyzed Logical Plan ==")[1].split(
        "== Optimized Logical Plan ==")[0]
    assert analyzed.count("ResolvedHint (strategy=broadcast)") == 1  # nsrc


def test_pii_redaction_is_map_only(spark):
    """Full-corpus redaction must be a single map pass: no shuffle, no
    Python eval — pure codegen'd regexp_replace over the scan."""
    plan = _formatted_plan(spark, "cu05_pii_redact")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_pair_scans_are_blocked(spark):
    """Near-dup pair generation must be an equi-join on a blocking key
    (simhash pigeonhole chunks for dd04, LSH buckets for dd05), never an
    all-pairs theta-join — a CartesianProduct/BroadcastNestedLoopJoin
    over the corpus is quadratic at 100 TB."""
    for name in ("dd04_simhash", "dd05_embedding_neardup"):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_range_join_is_binned(spark):
    """x02's point-in-interval join must plan as an equi-join on the
    day bin (hash/sort-merge), never the nested-loop theta join the
    BETWEEN formulation would produce — quadratic at 100 TB."""
    plan = _formatted_plan(spark, "x02_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bin explode and the daily pre-aggregation are both present
    assert "Generate" in plan  # sequence+explode of the interval bins
    assert "HashAggregate" in plan  # daily grain reduction before the join


def test_fuzzy_match_is_blocked(spark):
    """x01's length-window blocking must plan as an equi-join (hash or
    broadcast-hash), not an all-pairs nested loop."""
    plan = _formatted_plan(spark, "x01_fuzzy_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bench_checksum_is_not_prunable(spark):
    """The bench harness must measure the benched work. A bare count()
    lets Catalyst prune every non-grouping expression (q01's 8 aggregates
    collapse to grouping keys; t02's quality features disappear entirely).
    The xxhash64-checksum action feeds every output column into the hash,
    so the optimized plan must retain the aggregate/projection work."""
    import contextlib
    import io

    from bench import checksum_plan

    conf_key = "spark.sql.legacy.allowHashOnMapType"
    saved = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        for name, marker in [
            ("q01_pricing_summary", "sum("),  # the 8 aggregates survive
            ("t02_quality_score", "length("),  # quality features survive
        ]:
            df = checksum_plan(SPECS[name].fn(spark, SF_DIR))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("cost")  # optimized logical plan, post-pruning
            plan = buf.getvalue()
            assert marker in plan, f"{name}: benched work was optimized away"
            assert "xxhash64" in plan
    finally:
        if saved is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, saved)


def test_q03_broadcast_hint_reads_unit_suffixed_threshold(spark):
    """q03's build-side pick reads the broadcast threshold as Spark parses
    it: under "64MB" the analyzed plan carries the same broadcast hint as
    under the byte count session.py sets (an int() parse of "64MB" used
    to drop the hint silently)."""
    import re

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    plans = {}
    try:
        for value in ("64MB", str(64 * 1024 * 1024)):
            spark.conf.set(key, value)
            df = SPECS["q03_top_revenue_orders"].fn(spark, SF_DIR)
            plans[value] = re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())
    finally:
        spark.conf.set(key, saved)
    assert "ResolvedHint (strategy=broadcast)" in plans["64MB"]
    assert plans["64MB"] == plans[str(64 * 1024 * 1024)]


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter join pruning (semi-join reduction): with a
    selective build side, the optimizer injects a bloom filter of the
    build keys into the probe side's scan filter, so non-matching fact
    rows drop BEFORE the shuffle. Default size thresholds (10M creation /
    10G application side) only fire at cluster scale, so this test lowers
    them to prove the mechanism on test data; get_spark keeps the feature
    enabled with production thresholds."""
    from travel_data_ingestion_spark.queries import load_table

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").filter("o_orderpriority = '1-URGENT'")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan  # probe-side scan filtered by the bloom
        assert "bloom_filter_agg" in plan  # build side aggregates its keys
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """DPP: a filtered dim join must runtime-prune the partitioned fact scan.

    At 100 TB the fact tables land partitioned (Warehouse.append
    partition_by / write_idempotent's load_id layout); a star join that
    scans every partition before the join filters is unusable. Spark
    injects a DynamicPruningExpression into the scan's PartitionFilters
    when the dim side is selective — this gate pins that the partition
    layouts this engine writes actually activate it.
    """
    import contextlib
    import io

    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_by_month")
    (
        orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("o_month")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    months = fact.select("o_month").distinct()
    dim = months.withColumn("quarter", F.substring("o_month", 6, 2).cast("int"))
    picked = dim.filter(F.col("quarter") == 3)
    j = (
        fact.join(F.broadcast(picked), "o_month")
        .groupBy("o_month")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan


def test_semantic_decontam_broadcasts_benchmark(spark):
    """cu06's benchmark side is fixed-size at any corpus scale, so the
    corpus scan must stay map-only against a broadcast: BNLJ over the
    broadcast benchmark, never a shuffle of the corpus into the cross
    join, and the >=threshold filter runs before the per-doc agg."""
    plan = _formatted_plan(spark, "cu06_semantic_decontam")
    assert "BroadcastNestedLoopJoin" in plan
    # the only Exchange is the tiny post-filter per-doc aggregation +
    # AQE reads; the corpus never shuffles INTO the join
    join_part = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange hashpartitioning" not in join_part


def test_repetition_stats_is_map_only(spark):
    """t09's repetition filters are higher-order array expressions per
    document: one scan, zero shuffles, no Python."""
    plan = _formatted_plan(spark, "t09_repetition_stats")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_crawl_ops_are_map_only(spark):
    """t15 (HTML extraction) and t16 (WARC explode) must stay shuffle-
    free: one Arrow-batched Python stage over the payload column, a
    narrow union for t15's planted docs, zero Exchanges — the shape
    that makes a 1 GB Common Crawl segment one task at 100 TB."""
    for name in ("t15_html_extract", "t16_warc_records"):
        plan = _formatted_plan(spark, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name  # Arrow, not row-wise


def test_mixture_sample_broadcasts_rates(spark):
    """cu07's per-stratum rates table (5 rows) must broadcast back onto
    the corpus scan — the sampling pass itself is map-side."""
    plan = _formatted_plan(spark, "cu07_mixture_sample")
    assert "BroadcastHashJoin" in plan


def test_sequence_pack_single_shuffle(spark):
    """t08 packs per shard with one window: exactly one hash Exchange
    (on shard) feeds the cumsum; no second data shuffle."""
    import re

    plan = _formatted_plan(spark, "t08_sequence_pack")
    exchanges = set(re.findall(r"\((\d+)\) Exchange", plan))
    assert len(exchanges) == 1
    assert "hashpartitioning(shard" in plan


def test_unigram_logprob_plan_shape(spark):
    """t11: the corpus-total scalar broadcasts (1-row BNLJ, deliberate),
    the token->frequency rejoin is a hash join (never cartesian), and
    no Python reaches the plan — the whole score is codegen'd
    expressions over two aggregations."""
    plan = _formatted_plan(spark, "t11_unigram_logprob")
    assert "BroadcastNestedLoopJoin" in plan  # crossJoin with 1-row total
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial aggregation before the doc_id shuffle (map-side combine)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_epoch_repeat_window_is_salted_and_joins_broadcast(spark):
    """cu15's data-scaled running sum must partition by (stratum,
    bucket) — never by stratum alone (a dominant stratum would drag its
    whole token mass through one window partition at 100 TB); the only
    stratum-partitioned window runs over the 256-row per-bucket sums.
    Config/offset/plan joins all broadcast; nothing sort-merges."""
    import re

    df = SPECS["cu15_epoch_repeat_mix"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # offsets, plan, targets
    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert windows, "expected window operators in the plan"
    salted = [w for w in windows if "bkt" in w]
    unsalted = [w for w in windows if "bkt" not in w]
    assert salted, f"data-scaled window lost its salt: {windows}"
    # the unsalted window is the per-bucket offsets rollup (skey only),
    # which sees <= 256 rows per stratum by construction
    assert all("skey" in w for w in unsalted), windows


def test_t12_membership_join_is_not_broadcast(spark):
    # round-13 scale fix: Catalyst's Generate estimate undercounts
    # explode fan-out, so without the SHUFFLE_HASH pin the planner
    # BROADCASTS the positional-grams side of t12's membership join
    # (8M exploded string rows at the 32x tier — the measured cause of
    # its 7.4-8.0/32 density ratio; 3.8/32 after the pin). Both sides
    # are corpus-scaled: any broadcast here is a scale bug.
    import re

    plan = _formatted_plan(spark, "t12_crossdoc_span_dedup")
    # positive pin: the membership join runs as a shuffle hash join
    assert "ShuffledHashJoin" in plan
    # decisive negative: no BroadcastExchange may feed a Generate
    # (i.e. no exploded-grams side is ever broadcast); the final
    # n_tokens join may still broadcast its scan-only side
    blocks = re.findall(r"BroadcastExchange[\s\S]{0,400}?Generate", plan)
    assert not blocks, "exploded grams side is being broadcast"


def test_su07_df_joins_are_not_broadcast(spark):
    # t10's shingle-DF rejoin and t11's token-frequency rejoin join two
    # CORPUS-SCALED sides (exploded grams/tokens vs their aggregated
    # vocabulary); the pre-explosion Generate estimate otherwise lures
    # the planner into broadcasting one of them (the t12 trap). t11
    # keeps exactly one legitimate broadcast: the single-row total.
    import re

    for name, allowed in (("t10_boilerplate_coverage", 0),
                          ("t11_unigram_logprob", 1)):
        plan = _formatted_plan(spark, name)
        assert "ShuffledHashJoin" in plan, name
        blocks = re.findall(r"BroadcastExchange[\s\S]{0,400}?Generate", plan)
        assert len(blocks) <= allowed, (name, len(blocks))


def test_frontier_robots_join_is_not_force_broadcast(spark):
    """filter_frontier's robots side is one row per host — kilobytes
    each, but MILLIONS of hosts at 100 TB: tens of GB, past Spark's
    8 GB broadcast hard cap, so a forced F.broadcast() hint aborts the
    job exactly at design scale (the t06/t12 trap family). The join
    must stay UNHINTED — AQE broadcasts while the robots table is
    genuinely small and demotes to a host-keyed shuffle join when it
    isn't. A reintroduced hint resolves to `ResolvedHint
    (strategy=broadcast)` in the analyzed plan and fails here."""
    df = SPECS["t21_robots_frontier"].fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "filter_frontier join must stay unhinted (AQE decides):\n"
        + analyzed
    )
    assert "UnresolvedHint" not in analyzed


def test_span_attribution_broadcasts_benchmark_and_salts_nothing(spark):
    """cu16: the attributed benchmark shingle set is benchmark-bounded
    (eval-suite scale) -> broadcast like cu03/cu08/cu11; the island
    merge windows over (doc_id, benchmark_id) — per-partition size is
    hits per (doc, benchmark), never corpus-scaled; no Python in the
    plan."""
    import re

    plan = _formatted_plan(spark, "cu16_span_attribution")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the window partitions by BOTH keys (an unattributed doc_id-only
    # window here would silently merge cross-benchmark islands)
    m = re.search(r"Arguments: \[[^\]]*\], \[(doc_id[^\]]*)\], \[pos", plan)
    assert m and "benchmark_id" in m.group(1), plan


def test_politeness_schedule_window_is_host_keyed_and_native(spark):
    """t22: the scheduling window must partition by host (politeness IS
    per-host serialization — a global window would drag the whole
    frontier through one partition at 100 TB) and the whole operator
    stays native (no Python eval nodes after the frontier filter's
    mapInPandas)."""
    import re

    plan = _formatted_plan(spark, "t22_politeness_schedule")
    m = re.search(r"Arguments: \[row_number\(\)[^\]]*\], \[([^\]]*)\],", plan)
    assert m and "host" in m.group(1), plan
    # exactly one Python node: filter_frontier's Arrow kernel; the
    # schedule itself adds none (tree form "MapInPandas (n)" appears
    # once per operator; the detail section repeats it)
    assert plan.count("MapInPandas (") == 1
    assert "BatchEvalPython" not in plan


def test_crawl_round_composition_plan_shape(spark):
    """t30: the composed frontier round must keep each stage's scale
    shape — the robots join UNHINTED (the t21 gate, through the
    composition), the ledger anti-join present (LeftAnti on the
    canonical key), the politeness window host-keyed, and no
    cartesian anywhere. Exactly three Arrow kernels: outlink
    extraction, canonicalization, robots evaluation."""
    import re

    df = SPECS["t30_crawl_round"].fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    plan = _formatted_plan(spark, "t30_crawl_round")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert plan.count("MapInPandas (") == 3
    assert "BatchEvalPython" not in plan
    m = re.search(r"Arguments: \[row_number\(\)[^\]]*\], \[([^\]]*)\],", plan)
    assert m and "host" in m.group(1), plan


def test_rank_weighted_sample_join_unhinted_one_row_crossjoin(spark):
    """cu17: the rank join must stay UNHINTED (the rank table is one
    row per page at corpus scale — the robots-join doctrine), and the
    only nested-loop join is the 1-row max-weight crossJoin."""
    df = SPECS["cu17_rank_weighted_sample"].fn(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    plan = _formatted_plan(spark, "cu17_rank_weighted_sample")
    assert "CartesianProduct" not in plan
    # the 1-row aggregate attaches as a broadcast nested loop — fine;
    # more than one NODE would mean a data-scaled nested loop crept in
    # (the formatted plan names each node twice: tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2

"""link_index.LinkGraphIndex: the incremental-index family invariant
(batched == one-shot) for the outlink graph, plus the crash-window
contracts the family pins — orphan-first claim, resubmission
exactly-once, compact fold + healing distinct."""

from __future__ import annotations

import os
import shutil

EDGES = [
    (1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (4, 1), (2, 1), (6, 5),
]


def _mk(spark, tmp_path, name="lgi"):
    from travel_data_ingestion_spark.link_index import LinkGraphIndex

    return LinkGraphIndex(str(tmp_path / name))


def _edges_df(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _one_shot_rank(spark, k=7, damping=0.85):
    from travel_data_ingestion_spark.llm.linkgraph import pagerank

    df = spark.createDataFrame(
        [(str(s), str(t)) for s, t in EDGES], "src string, dst string"
    )
    return {r.node: r.rank for r in pagerank(df, k=k, damping=damping)
            .collect()}


def test_batched_ingest_rank_equals_one_shot(spark, tmp_path):
    """Three disjoint source batches + a full-batch replay -> rank()
    equals one-shot PageRank over the union graph."""
    idx = _mk(spark, tmp_path)
    by_src = {
        0: [e for e in EDGES if e[0] in (1,)],
        1: [e for e in EDGES if e[0] in (2, 3)],
        2: [e for e in EDGES if e[0] in (4, 6)],
    }
    for part in by_src.values():
        idx.update(spark, _edges_df(spark, part))
    # replay: every source already ledgered -> no-op, no duplicates
    idx.update(spark, _edges_df(spark, EDGES))
    assert idx.edges(spark).count() == len(EDGES)
    got = {r.node: r.rank for r in idx.rank(spark, k=7).collect()}
    assert got == _one_shot_rank(spark, k=7)


def test_source_exactly_once_skips_resubmitted_sources(spark, tmp_path):
    """A batch overlapping already-ingested sources contributes only
    its fresh sources' edges — even if the resubmitted source now
    claims different edges (first fetch wins; recrawl replacement is
    out of scope by contract)."""
    idx = _mk(spark, tmp_path)
    idx.update(spark, _edges_df(spark, [(1, 2), (1, 3)]))
    idx.update(spark, _edges_df(spark, [(1, 99), (2, 3)]))
    got = {(r.src, r.dst) for r in idx.edges(spark).collect()}
    assert got == {("1", "2"), ("1", "3"), ("2", "3")}


def test_orphan_claim_full_replacement(spark, tmp_path):
    """A crashed update (edge partition on disk, no ledger rows) is
    claimed by the NEXT update and fully replaced; the
    crashed batch resubmits cleanly afterwards."""
    idx = _mk(spark, tmp_path)
    idx.update(spark, _edges_df(spark, [(1, 2)]))          # bid -1
    # simulate a crash: partition written, ledger append lost
    crashed = _edges_df(spark, [(7, 8), (7, 9)])
    from pyspark.sql import functions as F

    crashed.select(
        F.col("src").cast("string"), F.col("dst").cast("string"),
        F.lit(-2).alias("batch_id"),
    ).write.mode("append").partitionBy("batch_id").parquet(idx.edge_path)
    assert os.path.isdir(os.path.join(idx.edge_path, "batch_id=-2"))
    # next update claims -2 and replaces it wholesale
    idx.update(spark, _edges_df(spark, [(3, 4)]))
    got = {(r.src, r.dst) for r in idx.edges(spark).collect()}
    assert got == {("1", "2"), ("3", "4")}
    # the crashed batch's sources were never ledgered -> resubmission
    # ingests them (exactly once)
    idx.update(spark, crashed)
    got = {(r.src, r.dst) for r in idx.edges(spark).collect()}
    assert got == {("1", "2"), ("3", "4"), ("7", "8"), ("7", "9")}


def test_compact_folds_and_preserves_rank(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    for part in ([(1, 2), (1, 3), (1, 4)], [(2, 3), (2, 1)],
                 [(3, 4), (4, 1), (6, 5)]):
        idx.update(spark, _edges_df(spark, part))
    before = {(r.src, r.dst) for r in idx.edges(spark).collect()}
    idx.compact(spark)
    dirs = [d for d in os.listdir(idx.edge_path)
            if d.startswith("batch_id=")]
    assert len(dirs) == 1  # one fold partition
    assert {(r.src, r.dst)
            for r in idx.edges(spark).collect()} == before
    got = {r.node: r.rank for r in idx.rank(spark, k=7).collect()}
    assert got == _one_shot_rank(spark, k=7)
    # a post-compact update must NOT reuse the fold's reserved id
    idx.update(spark, _edges_df(spark, [(9, 1)]))
    dirs = sorted(d for d in os.listdir(idx.edge_path)
                  if d.startswith("batch_id="))
    assert len(dirs) == 2
    assert idx.edges(spark).count() == len(before) + 1


def test_compact_crash_window_heals_via_distinct(spark, tmp_path):
    """Fold committed but absorbed partitions not yet removed: the
    duplicate edges dedup in edges() — re-running compact finishes
    the removal."""
    idx = _mk(spark, tmp_path)
    idx.update(spark, _edges_df(spark, [(1, 2)]))
    idx.update(spark, _edges_df(spark, [(2, 3)]))
    # snapshot an absorbed partition, compact, then restore it to
    # simulate the crash-before-removal window
    part = os.path.join(idx.edge_path, "batch_id=-1")
    saved = str(tmp_path / "saved_part")
    shutil.copytree(part, saved)
    idx.compact(spark)
    shutil.copytree(saved, part)
    got = {(r.src, r.dst) for r in idx.edges(spark).collect()}
    assert got == {("1", "2"), ("2", "3")}  # healed, no double weight
    idx.compact(spark)  # finishes the removal or re-folds; still exact
    assert {(r.src, r.dst)
            for r in idx.edges(spark).collect()} == got


def test_empty_index_rank_is_empty(spark, tmp_path):
    idx = _mk(spark, tmp_path)
    assert idx.rank(spark, k=3).count() == 0

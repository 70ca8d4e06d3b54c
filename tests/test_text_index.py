"""DocFreqIndex: incremental document-frequency maintenance invariants.

The contract mirrors the rest of the index family: batched == one-shot,
replay is a no-op, every crash window leaves a state a retry heals, and
term lookups prune to their hash-bucket partitions.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from travel_data_ingestion_spark.queries.llm_dedup import shingle_docs
from travel_data_ingestion_spark.text_index import DocFreqIndex


def _docs(spark, ids):
    """Synthetic docs with heavy cross-doc shingle overlap (cycled
    phrases) plus a too-short (unindexable) doc every 7th id."""
    rows = []
    for i in ids:
        if i % 7 == 3:
            rows.append((i, "tiny doc"))
        else:
            words = [f"w{(i + k) % 11}" for k in range(5 + i % 4)]
            rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _oneshot_df(docs):
    return (
        shingle_docs(docs)
        .select(F.explode("shingles").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _as_map(df):
    return {r.term: r.df for r in df.collect()}


def test_batched_equals_oneshot_and_compact_preserves(spark, tmp_path):
    all_docs = _docs(spark, range(30))
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=8)
    for k in range(3):
        idx.update(spark, all_docs.filter(F.col("doc_id") % 3 == k))
    expected = _as_map(_oneshot_df(all_docs))
    assert _as_map(idx.df(spark)) == expected
    # compaction folds the three batch partitions into one and keeps
    # the answer identical
    idx.compact(spark)
    assert _as_map(idx.df(spark)) == expected
    parts = [d for d in os.listdir(idx.incr_path) if d.startswith("batch_id=")]
    assert len(parts) == 1
    # further updates after compaction keep the invariant
    more = _docs(spark, range(30, 40))
    idx.update(spark, more)
    assert _as_map(idx.df(spark)) == _as_map(
        _oneshot_df(all_docs.unionByName(more))
    )


def test_replay_is_noop(spark, tmp_path):
    docs = _docs(spark, range(12))
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=4)
    idx.update(spark, docs)
    first = _as_map(idx.df(spark))
    n_ledger = idx.store.ledger(spark).count()
    idx.update(spark, docs)  # fully-ledgered batch is a no-op
    assert _as_map(idx.df(spark)) == first
    assert idx.store.ledger(spark).count() == n_ledger


def _orphan_increments(spark, idx, batch):
    """Reproduce update()'s increments commit WITHOUT the ledger append
    — the state a crash between the two writes leaves behind, under the
    id the crashed update would have claimed."""
    bid = idx.store.claim_id(spark)
    inc = (
        shingle_docs(batch.select("doc_id", "text"))
        .select("doc_id", F.explode("shingles").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "term",
            "cnt",
            F.lit(None).cast("array<long>").alias("absorbed"),
            F.lit(bid).alias("batch_id"),
            idx._bkt(F.col("term")).alias("bkt"),
        )
    )
    inc.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch_id", "bkt").parquet(idx.incr_path)
    return bid


def test_crashed_update_heals_on_retry(spark, tmp_path):
    b1 = _docs(spark, range(10))
    b2 = _docs(spark, range(10, 20))
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=4)
    idx.update(spark, b1)
    # B2 crashes between the increments commit and the ledger append
    orphan_bid = _orphan_increments(spark, idx, b2)
    # the retry derives the SAME id and overwrites the orphan in place
    idx.update(spark, b2)
    assert _as_map(idx.df(spark)) == _as_map(_oneshot_df(b1.unionByName(b2)))
    ledgered = {
        r.batch_id for r in idx.store.ledger(spark).select("batch_id").collect()
    }
    assert orphan_bid in ledgered


def test_compact_skips_unledgered_orphan(spark, tmp_path):
    b1 = _docs(spark, range(10))
    b2 = _docs(spark, range(10, 20))
    b3 = _docs(spark, range(20, 28))
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=4)
    idx.update(spark, b1)
    idx.update(spark, b2)
    orphan_bid = _orphan_increments(spark, idx, b3)
    idx.compact(spark)
    # the orphan partition was neither folded nor removed
    assert os.path.isdir(os.path.join(idx.incr_path, f"batch_id={orphan_bid}"))
    # and the crashed batch still heals by retry after the compaction
    idx.update(spark, b3)
    assert _as_map(idx.df(spark)) == _as_map(
        _oneshot_df(b1.unionByName(b2).unionByName(b3))
    )


def test_update_after_compact_never_claims_fold_partition(spark, tmp_path):
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=4)
    idx.update(spark, _docs(spark, range(8)))
    idx.update(spark, _docs(spark, range(8, 16)))
    idx.compact(spark)
    fold_parts = set(os.listdir(idx.incr_path))
    before = _as_map(idx.df(spark))
    idx.update(spark, _docs(spark, range(16, 24)))
    # the fold partition is untouched (a collision would have dynamically
    # overwritten folded buckets)
    assert fold_parts <= set(os.listdir(idx.incr_path))
    after = _as_map(idx.df(spark))
    for term, n in before.items():
        assert after[term] >= n


def test_lookup_values_and_partition_pruning(spark, tmp_path):
    docs = _docs(spark, range(25))
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=8)
    idx.update(spark, docs)
    expected = _as_map(_oneshot_df(docs))
    probe = sorted(expected)[:3] + ["absent shingle never seen"]
    got = _as_map(
        idx.lookup(spark, probe).withColumnRenamed("df", "df").select(
            "term", F.col("df").alias("df")
        )
    )
    assert got == {t: expected[t] for t in probe[:3]}
    # the probed buckets reach the scan as partition filters
    plan = (
        idx.lookup(spark, probe)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "bkt" in plan


def test_invalid_inputs(spark, tmp_path):
    idx = DocFreqIndex(str(tmp_path / "dfi"), n_buckets=4)
    with pytest.raises(ValueError, match="n_buckets"):
        DocFreqIndex(str(tmp_path / "bad"), n_buckets=0)
    # empty lookup on an empty index
    assert idx.lookup(spark, []).count() == 0
    assert idx.df(spark).count() == 0

"""index_store: the batch protocol every incremental index shares.

The partitioned indexes (DocFreqIndex, LinkGraphIndex) run the same
orphan-first claim, claimed-partition commit and fold; one test per
contract covers both. A crash is injected where it happens in
production: the ledger append of ``update`` raises after the data
partition committed.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

from travel_data_ingestion_spark.dedup_index import ClusterIndex
from travel_data_ingestion_spark.index_store import batch_id, read
from travel_data_ingestion_spark.link_index import LinkGraphIndex
from travel_data_ingestion_spark.queries.llm_dedup import shingle_docs
from travel_data_ingestion_spark.text_index import DocFreqIndex


def _docs(spark, batch):
    """Four docs whose words are private to ``batch``: a leftover
    increment of another batch shows as a foreign term."""
    rows = [
        (100 * batch + i, " ".join(f"b{batch}w{(i + k) % 6}" for k in range(5)))
        for i in range(4)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _docfreq_answer(spark, batches):
    return {
        (r.term, r.df)
        for r in shingle_docs(_union(batches))
        .select(F.explode("shingles").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }


def _edges(spark, batch):
    rows = [(10 * batch + s, 10 * batch + s + d) for s in range(3) for d in (1, 2)]
    return spark.createDataFrame(rows, "src long, dst long")


def _union(frames):
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


KINDS = {
    "docfreq": (
        lambda path: DocFreqIndex(path, n_buckets=4),
        _docs,
        lambda spark, idx: {(r.term, r.df) for r in idx.df(spark).collect()},
        _docfreq_answer,
    ),
    "linkgraph": (
        LinkGraphIndex,
        _edges,
        lambda spark, idx: {(r.src, r.dst) for r in idx.edges(spark).collect()},
        lambda spark, batches: {
            (str(r.src), str(r.dst)) for r in _union(batches).collect()
        },
    ),
}


@pytest.fixture(params=sorted(KINDS))
def kind(request, spark, tmp_path):
    make, batch, answer, oneshot = KINDS[request.param]
    idx = make(str(tmp_path / request.param))
    return (
        idx,
        lambda n: batch(spark, n),
        lambda: answer(spark, idx),
        lambda *ns: oneshot(spark, [batch(spark, n) for n in ns]),
    )


def _partitions(idx):
    path = idx.store.data_path
    return {int(d.split("=")[1]) for d in os.listdir(path) if d.startswith("batch_id=")}


def _crash_before_ledger(spark, idx, batch, monkeypatch):
    """Run ``idx.update`` so that it dies at its ledger append; return
    the orphaned partition's id."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if path == idx.store.ledger_path:
            raise RuntimeError("crash before the ledger append")
        return real(self, path, *args, **kwargs)

    before = _partitions(idx)
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="crash before"):
            idx.update(spark, batch)
    (orphan,) = _partitions(idx) - before
    assert orphan not in {r.batch_id for r in idx.store.ledger(spark).collect()}
    return orphan


def test_other_batch_claims_orphan_and_replaces_all_of_it(spark, kind, monkeypatch):
    idx, batch, answer, oneshot = kind
    idx.update(spark, batch(1))
    orphan = _crash_before_ledger(spark, idx, batch(2), monkeypatch)
    assert idx.store.claim_id(spark) == orphan
    idx.update(spark, batch(3))
    # batch 3 took the orphan's id and nothing of batch 2 is left
    assert _partitions(idx) == {-1, orphan}
    assert answer() == oneshot(1, 3)
    # batch 2's keys were never ledgered: its resubmission counts once
    idx.update(spark, batch(2))
    assert answer() == oneshot(1, 2, 3)


def test_compact_leaves_unledgered_orphan_alone(spark, kind, monkeypatch):
    idx, batch, answer, oneshot = kind
    idx.update(spark, batch(1))
    idx.update(spark, batch(2))
    orphan = _crash_before_ledger(spark, idx, batch(3), monkeypatch)
    orphan_dir = os.path.join(idx.store.data_path, f"batch_id={orphan}")
    files = sorted(os.listdir(orphan_dir))
    idx.compact(spark)
    # not removed, not rewritten, and batches 1 and 2 folded into one
    assert sorted(os.listdir(orphan_dir)) == files
    assert len(_partitions(idx) - {orphan}) == 1
    # not folded either: the retry replaces it and counts batch 3 once
    idx.update(spark, batch(3))
    assert answer() == oneshot(1, 2, 3)


def test_first_update_after_compact_takes_id_below_fold(spark, kind):
    idx, batch, answer, oneshot = kind
    idx.update(spark, batch(1))
    idx.update(spark, batch(2))
    idx.compact(spark)
    (fold,) = _partitions(idx)
    idx.update(spark, batch(3))
    (new,) = _partitions(idx) - {fold}
    assert new < fold
    assert answer() == oneshot(1, 2, 3)


def test_batch_id_rule(spark):
    def ids(*xs):
        return spark.createDataFrame([(x,) for x in xs], "batch_id long")

    assert batch_id(ids()) == -1
    # a ledger written before batch ids existed reads back NULL
    assert batch_id(ids(None, None)) == -1
    assert batch_id(ids(-1, -2)) == -3
    # orphans first, smallest id first; a fold never claims one
    assert batch_id(ids(-1), ids(-1, -2, -3)) == -3
    assert batch_id(ids(-1), ids(-1, -2, -3), claim_orphan=False) == -4


def test_empty_store_is_planned_in_the_jvm(spark, tmp_path):
    """An absent table reads as a typed empty frame without a Python
    RDD (running one would start Python workers); so does the empty
    merge log and an empty term lookup."""
    ddl = "term string, cnt long, absorbed array<long>, batch_id long, bkt int"
    frames = [
        read(spark, str(tmp_path / "absent"), ddl),
        ClusterIndex(str(tmp_path / "cc")).resolve(spark),
        DocFreqIndex(str(tmp_path / "dfi")).lookup(spark, []),
    ]
    assert frames[0].schema == T.StructType.fromDDL(ddl)
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert df.count() == 0

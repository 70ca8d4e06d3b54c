"""PQIndex (incremental IVF-PQ): schedule changes, answer doesn't.

Pins the frozen-codebook contract: batched updates produce exactly the
codes one-shot encoding would, replays are no-ops, search equals the
direct IVF-PQ computation with the same books, and the probe filter
prunes unprobed list partitions from the parquet scan itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from travel_data_ingestion_spark.ann_index import PQIndex
from travel_data_ingestion_spark.pq import adc_topk
from travel_data_ingestion_spark.queries import load_table

# slow lane (incremental IVF-PQ index build/update/search); default gate covers the area via faster tests
pytestmark = pytest.mark.slow

QUERY_VEC_ID = 7


def _corpus(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Index built on the first half, updated with the second half."""
    corpus = _corpus(spark)
    idx = PQIndex(str(tmp_path_factory.mktemp("pq_idx") / "idx"))
    n1 = idx.build(spark, corpus.filter(F.col("vec_id") % 2 == 0))
    n2 = idx.update(spark, corpus)  # overlaps the first half
    assert n1 > 0 and n2 > 0
    return idx


def test_incremental_codes_equal_oneshot(spark, built):
    """Every stored code equals one-shot encoding of the full corpus
    with the SAME frozen books — updates never drift the encoding."""
    corpus = _corpus(spark)
    books, centers = built.load_books(spark)
    expected = {
        (r.vec_id, r.list_id, tuple(r.pq_code))
        for r in built._encode_batch(corpus, books, centers).collect()
    }
    stored = {
        (r.vec_id, r.list_id, tuple(r.pq_code))
        for r in spark.read.parquet(built.codes_path)
        .select("vec_id", "list_id", "pq_code")
        .collect()
    }
    assert stored == expected


def test_replay_is_noop(spark, built):
    n_before = spark.read.parquet(built.codes_path).count()
    assert built.update(spark, _corpus(spark)) == 0
    assert spark.read.parquet(built.codes_path).count() == n_before


def test_dirty_batch_dedups_vec_ids(spark, tmp_path):
    """A batch carrying the same vec_id twice stores exactly ONE code
    row — the anti-join only excludes previously STORED ids, so without
    the in-batch dedup both copies would append and break the
    exactly-once ledger contract."""
    # orderBy before every limit: an unordered limit may pick different
    # rows on re-evaluation (this plan is evaluated multiple times —
    # build, the isin collect, and twice through the self-union).
    corpus = _corpus(spark).orderBy("vec_id").limit(64)
    idx = PQIndex(str(tmp_path / "idx"))
    idx.build(spark, corpus)
    fresh = (
        _corpus(spark)
        .filter(~F.col("vec_id").isin(
            [r.vec_id for r in corpus.select("vec_id").collect()]
        ))
        .orderBy("vec_id")
        .limit(8)
    )
    dirty = fresh.unionByName(fresh)  # every new id appears twice
    assert idx.update(spark, dirty) == 8
    dup_ids = (
        spark.read.parquet(idx.codes_path)
        .groupBy("vec_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_ids == 0


def test_search_equals_direct_ivfpq(spark, built):
    """Index search == direct ADC over the one-shot encoding restricted
    to the same probed lists (identical books, centers, and tiebreak)."""
    corpus = _corpus(spark)
    books, centers = built.load_books(spark)
    query = corpus.filter(F.col("vec_id") == QUERY_VEC_ID).first()["e"]

    got = [(r.vec_id, r.adc_dist) for r in built.search(spark, query, k=10).collect()]

    probes = sorted(
        range(len(centers)),
        key=lambda i: (sum((q - c) ** 2 for q, c in zip(query, centers[i])), i),
    )[:2]
    direct_codes = built._encode_batch(corpus, books, centers).filter(
        F.col("list_id").isin(probes)
    )
    want = [
        (r.vec_id, r.adc_dist)
        for r in adc_topk(direct_codes, books, query, k=10).collect()
    ]
    assert got == want


def test_probe_filter_prunes_partitions(spark, built):
    """The list_id predicate must reach PARTITION pruning in the physical
    scan (PartitionFilters on the FileScan), so unprobed list dirs are
    never opened — the storage-level win the IVF layout exists for.
    (.inputFiles() can't verify this: it lists the relation's files
    before planning, without pruning.)"""
    import contextlib
    import io

    corpus = _corpus(spark)
    _books, centers = built.load_books(spark)
    query = corpus.filter(F.col("vec_id") == QUERY_VEC_ID).first()["e"]

    result = built.search(spark, query, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines, f"no PartitionFilters in plan:\n{plan}"
    assert any("list_id IN" in l or "list_id#" in l for l in part_lines), part_lines
    # the search result itself only contains probed-list vectors
    probes = sorted(
        range(len(centers)),
        key=lambda i: (sum((q - c) ** 2 for q, c in zip(query, centers[i])), i),
    )[:2]
    stored = spark.read.parquet(built.codes_path)
    probed_ids = {
        r.vec_id for r in stored.filter(F.col("list_id").isin(probes)).collect()
    }
    assert {r.vec_id for r in result.collect()} <= probed_ids


def test_rebuild_drops_stale_generation_codes(spark, tmp_path):
    """build on an index that already holds codes must re-encode
    EVERYTHING under the new books: stored codes are only meaningful
    under the books that produced them, and update's anti-join would
    otherwise skip the stale vec_ids forever (mixed-generation index,
    silently wrong ADC distances)."""
    corpus = _corpus(spark)
    idx = PQIndex(str(tmp_path / "idx"))
    half = corpus.filter(F.col("vec_id") % 2 == 0)
    idx.build(spark, half)
    n_half = spark.read.parquet(idx.codes_path).count()
    assert n_half == half.count()

    # rebuild over the FULL corpus: every vector re-encoded, count
    # matches the corpus exactly (no stale survivors, no duplicates)
    n = idx.build(spark, corpus)
    stored = spark.read.parquet(idx.codes_path)
    assert n == corpus.count()
    assert stored.count() == corpus.count()
    assert stored.select("vec_id").distinct().count() == corpus.count()

    # stored codes all agree with a fresh one-shot encoding under the
    # CURRENT books — the defining no-mixed-generations invariant
    from travel_data_ingestion_spark.pq import encode

    books, centers = idx.load_books(spark)
    oneshot = encode(
        encode(corpus, [centers], col="e", out="coarse").withColumn(
            "list_id", F.element_at("coarse", 1)
        ),
        books,
        col="e",
        out="pq_code",
    ).select("vec_id", F.col("list_id").alias("l2"), F.col("pq_code").alias("c2"))
    joined = stored.join(oneshot, "vec_id")
    mismatch = joined.filter(
        (F.col("list_id") != F.col("l2")) | (F.col("pq_code") != F.col("c2"))
    ).count()
    assert mismatch == 0

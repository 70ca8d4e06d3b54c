"""Incremental MinHash index: schedule changes, answer doesn't.

Pins the MinHashIndex contract against the one-shot dd03 batch query:
splitting the corpus into arbitrary ingest batches and accumulating
each update's new pairs reproduces the full-batch pair set exactly,
replays are no-ops, and stored signatures are never recomputed
(band-row count stays 8 x indexable docs).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from travel_data_ingestion_spark.dedup_index import _DOCS_SCHEMA, MinHashIndex
from travel_data_ingestion_spark.index_store import read
from travel_data_ingestion_spark.queries import load_table
from travel_data_ingestion_spark.queries.llm_dedup import dd03_minhash_lsh_pairs

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df) -> set[tuple]:
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


@pytest.fixture(scope="module")
def full_pairs(spark):
    return _pairs(dd03_minhash_lsh_pairs(spark, SF_DIR))


def test_incremental_equals_batch(spark, tmp_path, full_pairs):
    docs = load_table(spark, SF_DIR, "documents")
    idx = MinHashIndex(str(tmp_path / "mh_index"))

    got: set[tuple] = set()
    for k in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == k)
        new_pairs = _pairs(idx.update(spark, batch))
        assert new_pairs <= full_pairs
        # every returned pair is genuinely new
        assert not (new_pairs & got)
        got |= new_pairs
    assert got == full_pairs


def test_replay_is_noop(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    idx = MinHashIndex(str(tmp_path / "mh_index"))
    first = idx.build(spark, docs.filter(F.col("doc_id") < 200))
    assert first.count() >= 0
    n_docs = spark.read.parquet(idx.docs_path).count()

    replay = idx.update(spark, docs.filter(F.col("doc_id") < 200))
    assert replay.count() == 0
    assert spark.read.parquet(idx.docs_path).count() == n_docs


def test_signatures_stored_once(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    idx = MinHashIndex(str(tmp_path / "mh_index"))
    idx.build(spark, docs.filter(F.col("doc_id") % 2 == 0))
    idx.update(spark, docs)  # second batch overlaps the first

    stored = spark.read.parquet(idx.bands_path)
    ledger = spark.read.parquet(idx.docs_path)
    n_indexable = ledger.filter(F.col("n_sh") > 0).count()
    # 8 band rows per indexable doc, exactly once each — no recomputation,
    # no duplicate signature rows from the overlapping replay.
    assert stored.count() == 8 * n_indexable
    assert stored.select("doc_id", "band_id").distinct().count() == stored.count()
    assert ledger.select("doc_id").distinct().count() == ledger.count()


def test_unindexable_docs_are_remembered(spark, tmp_path):
    tiny = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e f g h")], "doc_id long, text string"
    )
    idx = MinHashIndex(str(tmp_path / "mh_index"))
    idx.build(spark, tiny)
    ledger = spark.read.parquet(idx.docs_path)
    assert ledger.count() == 2
    assert ledger.filter(F.col("n_sh") == 0).count() == 1
    # replaying the unindexable doc does not duplicate its ledger row
    idx.update(spark, tiny)
    assert spark.read.parquet(idx.docs_path).count() == 2


@pytest.mark.slow
def test_dd05_planted_pairs_keep_the_graded_row_non_vacuous(spark):
    from travel_data_ingestion_spark.queries.llm_dedup import dd05_embedding_neardup

    assert dd05_embedding_neardup(spark, SF_DIR).count() > 0


def _clusters(df) -> set[tuple]:
    return {(r.cluster_id, r.cluster_size, r.kept_doc_id) for r in df.collect()}


@pytest.mark.slow
def test_cluster_index_incremental_equals_dd06(spark, tmp_path):
    """Batched MinHashIndex pairs fed through ClusterIndex reproduce the
    one-shot dd06 connected components exactly — the schedule changes,
    the cluster answer doesn't."""
    from travel_data_ingestion_spark.dedup_index import ClusterIndex
    from travel_data_ingestion_spark.queries.llm_dedup import dd06_dedup_clusters

    docs = load_table(spark, SF_DIR, "documents")
    mh = MinHashIndex(str(tmp_path / "mh"))
    cc = ClusterIndex(str(tmp_path / "cc"))
    for k in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == k)
        new_pairs = mh.update(spark, batch)
        cc.update(spark, batch, new_pairs)

    assert _clusters(cc.clusters(spark)) == _clusters(dd06_dedup_clusters(spark, SF_DIR))
    # every doc resolved, exactly once
    assert cc.resolve(spark).count() == docs.count()


@pytest.mark.slow
def test_cluster_index_merge_and_compression(spark, tmp_path):
    """A later edge merging two pre-existing clusters updates labels for
    BOTH old clusters without touching assign/, and the merge log stays
    path-compressed (every src maps straight to its terminal label)."""
    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    cc = ClusterIndex(str(tmp_path / "cc"))
    b1 = spark.createDataFrame([(10,), (11,)], "doc_id long")
    p1 = spark.createDataFrame([(10, 11)], "doc_a long, doc_b long")
    cc.update(spark, b1, p1)  # cluster {10, 11} -> 10
    b2 = spark.createDataFrame([(20,), (21,)], "doc_id long")
    p2 = spark.createDataFrame([(20, 21)], "doc_a long, doc_b long")
    cc.update(spark, b2, p2)  # cluster {20, 21} -> 20
    n_assign_rows = spark.read.parquet(cc.assign_path).count()

    b3 = spark.createDataFrame([(5,)], "doc_id long")
    p3 = spark.createDataFrame([(5, 11), (5, 21)], "doc_a long, doc_b long")
    merges = cc.update(spark, b3, p3)  # everything -> 5
    assert merges == {10: 5, 20: 5}

    resolved = {r.doc_id: r.cluster_id for r in cc.resolve(spark).collect()}
    assert resolved == {5: 5, 10: 5, 11: 5, 20: 5, 21: 5}
    # merges appended exactly one assign row (doc 5); old rows untouched
    assert spark.read.parquet(cc.assign_path).count() == n_assign_rows + 1
    # path compression: every remap entry points at a terminal label
    remap = {
        r.src: r.dst for r in spark.read.parquet(cc.remap_path).collect()
    }
    assert remap == {10: 5, 20: 5}
    assert not (set(remap.values()) & set(remap))


def test_cluster_index_collect_is_pairs_bounded(spark, tmp_path, monkeypatch):
    """ClusterIndex.update's driver budget is O(batch pairs), not
    O(batch docs): a 5000-doc batch carrying a single near-dup pair must
    never pull more than a handful of rows to the driver (the old code
    collected the entire fresh batch — a 100M-doc micro-batch would OOM
    the driver). Verified by instrumenting DataFrame.collect."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    cc = ClusterIndex(str(tmp_path / "cc"))
    batch = spark.range(5000).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(17, 42)], "doc_a long, doc_b long")

    collected_sizes: list[int] = []
    real_collect = ClassicDF.collect

    def spy_collect(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(ClassicDF, "collect", spy_collect)
    cc.update(spark, batch, pairs)
    monkeypatch.undo()

    assert collected_sizes, "expected instrumented collects"
    assert max(collected_sizes) <= 10, (
        f"driver collect is batch-sized, not pairs-bounded: {collected_sizes}"
    )
    # ... and the distributed result is still complete: every doc has a
    # singleton row except the one merged pair.
    resolved = cc.resolve(spark)
    assert resolved.count() == 5000
    assert resolved.filter(F.col("doc_id") == 42).collect()[0].cluster_id == 17


def test_over_budget_batch_contracts_distributed(spark, tmp_path, monkeypatch):
    """A batch above max_driver_pairs is NOT a caller problem: update()
    detects it with a bounded probe and contracts the pair graph
    distributively (dd06's min-label propagation), so the driver sees
    one row per (component, touched existing cluster) instead of one
    per pair — and produces byte-identical state to the direct path."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    seed_batch = [(100,), (101,), (102,), (103,)]
    seed_pairs = [(100, 101), (102, 103)]
    # 29-pair chain 0..29, a bridge into cluster 100, two all-fresh
    # components, and a bridge from one of them into cluster 102
    big_pairs = [(i, i + 1) for i in range(29)]
    big_pairs += [(3, 101), (40, 41), (50, 51), (51, 52), (50, 103)]
    big_batch = [(i,) for i in range(60)]

    def build(path, **kw):
        cc = ClusterIndex(str(tmp_path / path))
        cc.update(
            spark,
            spark.createDataFrame(seed_batch, "doc_id long"),
            spark.createDataFrame(seed_pairs, "doc_a long, doc_b long"),
        )
        merges = cc.update(
            spark,
            spark.createDataFrame(big_batch, "doc_id long"),
            spark.createDataFrame(big_pairs, "doc_a long, doc_b long"),
            **kw,
        )
        return cc, merges

    direct, m_direct = build("direct")

    collected_sizes: list[int] = []
    real_collect = ClassicDF.collect

    def spy_collect(self):
        rows = real_collect(self)
        collected_sizes.append(len(rows))
        return rows

    monkeypatch.setattr(ClassicDF, "collect", spy_collect)
    contracted, m_contracted = build("contracted", max_driver_pairs=5)
    monkeypatch.undo()

    assert m_contracted == m_direct == {100: 0, 102: 50}
    r_direct = {r.doc_id: r.cluster_id for r in direct.resolve(spark).collect()}
    r_contr = {
        r.doc_id: r.cluster_id for r in contracted.resolve(spark).collect()
    }
    assert r_contr == r_direct
    assert r_contr[101] == 0 and r_contr[29] == 0  # chain + bridge
    assert r_contr[103] == 50 and r_contr[52] == 50
    assert r_contr[40] == 40 and r_contr[41] == 40  # all-fresh component
    # the whole point: 34 pairs crossed the wire as <= a handful of
    # contracted rows — no collect() anywhere near pair-sized
    assert collected_sizes and max(collected_sizes) <= 5, collected_sizes

    # over-budget replay composes like the direct path: re-feeding the
    # same batch is a no-op
    n_assign = spark.read.parquet(contracted.assign_path).count()
    again = contracted.update(
        spark,
        spark.createDataFrame(big_batch, "doc_id long"),
        spark.createDataFrame(big_pairs, "doc_a long, doc_b long"),
        max_driver_pairs=5,
    )
    assert again == {}
    assert spark.read.parquet(contracted.assign_path).count() == n_assign

    # a later over-budget batch bridging through a STALE insert-time
    # label (doc 103's c0=102 was remapped to 50 above) must resolve
    # through the remap log distributively, exactly like the driver path
    bridge_pairs = [(70 + i, 71 + i) for i in range(6)] + [(70, 103), (76, 29)]
    bridge_batch = [(i,) for i in range(70, 77)]
    m3 = contracted.update(
        spark,
        spark.createDataFrame(bridge_batch, "doc_id long"),
        spark.createDataFrame(bridge_pairs, "doc_a long, doc_b long"),
        max_driver_pairs=5,
    )
    # clusters 50 (via stale 103) and 0 (via chain doc 29) merge into 0
    assert m3 == {50: 0}
    r3 = {r.doc_id: r.cluster_id for r in contracted.resolve(spark).collect()}
    assert r3[103] == 0 and r3[52] == 0 and r3[70] == 0 and r3[76] == 0
    # remap stays path-compressed: every src points at a terminal label
    remap_now = {
        r.src: r.dst for r in spark.read.parquet(contracted.remap_path).collect()
    }
    assert not (set(remap_now.values()) & set(remap_now))

    # contract violations still raise loudly on the distributed path
    with pytest.raises(ValueError, match="never indexed"):
        contracted.update(
            spark,
            spark.createDataFrame([(200,)], "doc_id long"),
            spark.createDataFrame(
                [(200, 999), (201, 202), (202, 203), (203, 204), (204, 205), (205, 206)],
                "doc_a long, doc_b long",
            ),
            max_driver_pairs=5,
        )


@pytest.mark.slow
def test_cluster_index_replay_and_unknown_endpoint(spark, tmp_path):
    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    cc = ClusterIndex(str(tmp_path / "cc"))
    b1 = spark.createDataFrame([(1,), (2,)], "doc_id long")
    cc.update(spark, b1, spark.createDataFrame([(1, 2)], "doc_a long, doc_b long"))
    n = spark.read.parquet(cc.assign_path).count()
    # replaying the same docs with no new pairs is a no-op
    cc.update(spark, b1, spark.createDataFrame([], "doc_a long, doc_b long"))
    assert spark.read.parquet(cc.assign_path).count() == n

    with pytest.raises(ValueError, match="never indexed"):
        cc.update(
            spark,
            spark.createDataFrame([(3,)], "doc_id long"),
            spark.createDataFrame([(3, 99)], "doc_a long, doc_b long"),
        )


@pytest.mark.slow
def test_media_phash_pairs_compose_with_cluster_index(spark, tmp_path):
    """Multimodal near-dup clustering needs no new operator: mm03's
    perceptual-hash pairs feed ClusterIndex unchanged (pair schema is
    the contract), so the planted duplicate media collapse into two
    clusters keyed by their minimum media id."""
    from travel_data_ingestion_spark.dedup_index import ClusterIndex
    from travel_data_ingestion_spark.queries.llm_multimodal import (
        _PLANTED_AUDIO_BASE_ID as A,
        _PLANTED_MEDIA_BASE_ID as B,
        mm03_phash_dedup,
        planted_audio_media,
        planted_image_media,
    )

    pairs = mm03_phash_dedup(spark, SF_DIR).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    docs = spark.createDataFrame(
        [(i,) for i, _p in planted_image_media() + planted_audio_media()],
        "doc_id long",
    )
    # corpus docs are duplicate-free (verified in llm_multimodal fixture
    # note), so every pair endpoint is a planted media row
    cc = ClusterIndex(str(tmp_path / "cc"))
    cc.update(spark, docs, pairs)
    clusters = {
        (r.cluster_id, r.cluster_size) for r in cc.clusters(spark).collect()
    }
    # alpha(11: PPM x3 + PNG/BMP/ICO + TIFF x4 + WebP), beta(2),
    # gamma(3: PPM + Huffman/arithmetic JPEG), delta(3: PPM/GIF/P3),
    # epsilon(4: netpbm P1/P2/P4/P5), zeta(3: lossy-VP8 WebP + its PPM
    # re-render + PNG), audio(10: ... + Ogg-FLAC + Ogg-Vorbis, r12)
    assert clusters == {
        (B + 0, 11),
        (B + 10, 2),
        (B + 20, 3),
        (B + 30, 3),
        (B + 40, 4),
        (B + 60, 3),
        (A + 0, 10),
    }


@pytest.mark.slow
def test_cluster_index_million_pair_batch(spark, tmp_path):
    """The documented driver budget: a single update() carrying 10^6
    candidate pairs (one chain unifying 10^6+1 docs) completes with a
    bounded Python heap — O(pairs) collected rows + endpoint set +
    parent map, NOT O(corpus) and never quadratic. tracemalloc pins the
    driver-side allocation peak; the converged answer (one cluster,
    min-id survivor) pins union-find correctness over a worst-case
    path-compression chain."""
    import tracemalloc

    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    n = 1_000_000
    docs = spark.range(n + 1).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    cc = ClusterIndex(str(tmp_path / "cc"))
    tracemalloc.start()
    merges = cc.update(spark, docs, pairs)
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    # a few hundred bytes/pair: collected Rows + endpoint set + parent
    # map. 2 GiB headroom catches any O(corpus) or quadratic regression
    # while staying robust to Row-representation changes.
    assert peak < 2 * 1024**3, f"driver peak {peak/1e9:.2f} GB exceeds budget"
    assert merges == {}  # all endpoints fresh: no pre-existing clusters
    clusters = cc.clusters(spark).collect()
    assert len(clusters) == 1
    assert (clusters[0].cluster_id, clusters[0].cluster_size) == (0, n + 1)


def test_dirty_batch_duplicate_ids_are_collapsed(spark, tmp_path):
    """An at-least-once source can deliver the same doc twice in ONE
    batch; the ledger must still hold it exactly once (a doubled ledger
    row would double every future pair involving the doc)."""
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    dirty = docs.unionByName(docs)  # every doc twice
    idx = MinHashIndex(str(tmp_path / "mh"))
    idx.update(spark, dirty).count()
    ledger = read(spark, idx.docs_path, _DOCS_SCHEMA)
    assert ledger.count() == 20
    assert ledger.select("doc_id").distinct().count() == 20


def test_cluster_merge_survives_lost_remap_rewrite(spark, tmp_path):
    """Crash between the assign append and the remap rewrite: feeding
    the same pairs again re-derives the lost merges (the batch's docs
    are already assigned, so only the endpoint re-contraction runs)."""
    import os
    import shutil

    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    docs = load_table(spark, SF_DIR, "documents")
    mh = MinHashIndex(str(tmp_path / "mh"))
    cc = ClusterIndex(str(tmp_path / "cc"))
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    cc.update(spark, b0.select("doc_id"), mh.update(spark, b0))
    # materialized once, so the re-feed below sees the identical pairs
    p1 = mh.update(spark, b1).localCheckpoint()
    cc.update(spark, b1.select("doc_id"), p1)
    want = {
        (r.cluster_id, r.cluster_size, r.kept_doc_id)
        for r in cc.clusters(spark).collect()
    }
    assert want  # the corpus has near-dup clusters

    # simulate the crash: b1's remap rewrite never landed
    shutil.rmtree(cc.remap_path, ignore_errors=True)
    shutil.rmtree(f"{cc.remap_path}__old", ignore_errors=True)
    assert not os.path.isdir(cc.remap_path)

    cc.update(spark, b1.select("doc_id"), p1)
    got = {
        (r.cluster_id, r.cluster_size, r.kept_doc_id)
        for r in cc.clusters(spark).collect()
    }
    assert got == want


def test_legacy_index_without_batch_id_column(spark, tmp_path):
    """An index persisted by the pre-batch_id schema reads back with NULL
    batch_id; the update filters must treat NULL as 'some other batch'
    (eqNullSafe), or legacy docs silently vanish from the old side (missed
    pairs) and re-submitted legacy docs re-emit pairs (broken no-op)."""
    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 300)
    idx = MinHashIndex(str(tmp_path / "mh"))
    first = _pairs(idx.build(spark, docs))
    assert first  # sf0.001 slice has near-dup pairs

    # strip batch_id in place: the legacy on-disk format
    legacy = spark.read.parquet(idx.docs_path).drop("batch_id").collect()
    shutil.rmtree(idx.docs_path)
    spark.createDataFrame(
        legacy, "doc_id long, n_sh int, shingles array<string>"
    ).write.parquet(idx.docs_path)
    n_docs = spark.read.parquet(idx.docs_path).count()

    # 1) re-submitting legacy docs stays a full no-op
    replay = idx.update(spark, docs)
    assert replay.count() == 0
    assert spark.read.parquet(idx.docs_path).count() == n_docs

    # 2) a new near-dup of a legacy doc is still paired against it
    seed = docs.orderBy("doc_id").limit(1).collect()[0]
    twin = spark.createDataFrame(
        [(10_000_000, seed.text + " tail")], "doc_id long, text string"
    )
    new_pairs = _pairs(idx.update(spark, twin))
    assert any(10_000_000 in (a, b) for a, b, _ in new_pairs), (
        "legacy docs were excluded from the old side"
    )


def test_remap_swap_keeps_parked_log_until_promoted(spark, tmp_path):
    """Crash between the swap's two renames parks the log at __old; the
    NEXT update must not delete that parked copy before its own new log
    is promoted (the old pre-rename rmtree re-opened the no-log window),
    and its rewrite must carry the parked merges forward."""
    import os

    from travel_data_ingestion_spark.dedup_index import ClusterIndex

    cc = ClusterIndex(str(tmp_path / "cc"))
    cc.update(
        spark,
        spark.createDataFrame([(1,), (2,)], "doc_id long"),
        spark.createDataFrame([(1, 2)], "doc_a long, doc_b long"),
    )
    cc.update(
        spark,
        spark.createDataFrame([(3,), (4,)], "doc_id long"),
        spark.createDataFrame([(3, 4)], "doc_a long, doc_b long"),
    )
    want = {(r.doc_id, r.cluster_id) for r in cc.resolve(spark).collect()}

    # simulate the crash window: live parked at __old, live absent
    os.rename(cc.remap_path, f"{cc.remap_path}__old")
    assert not os.path.isdir(cc.remap_path)

    # next update (new singleton, no pairs) runs the swap; the parked
    # merges must survive into the promoted log
    cc.update(
        spark,
        spark.createDataFrame([(5,)], "doc_id long"),
        spark.createDataFrame([], "doc_a long, doc_b long"),
    )
    got = {(r.doc_id, r.cluster_id) for r in cc.resolve(spark).collect()}
    assert got == want | {(5, 5)}
    assert os.path.isdir(cc.remap_path)
    assert not os.path.isdir(f"{cc.remap_path}__old")

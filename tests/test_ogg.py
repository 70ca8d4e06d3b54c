"""Ogg demux + Ogg-FLAC decode — round trips through an independent
muxer.

The muxer here is written from RFC 3533 separately from the demuxer:
bitwise (table-free) CRC, its own lacing/continuation logic, so a
transcription error on either side breaks the bit-exact FLAC round
trip. Ogg-FLAC is lossless end-to-end: Ogg(FLAC frames) must decode to
the byte-identical PCM of the native FLAC stream it wraps.
"""

from __future__ import annotations

import numpy as np

from tests.test_flac import _flac, _rand
from travel_data_ingestion_spark.llm.multimodal import decode_audio
from travel_data_ingestion_spark.llm.ogg import _identify, decode_ogg, demux


def _crc_bitwise(data: bytes) -> int:
    """Independent Ogg CRC: MSB-first bit loop, poly 0x04C11DB7,
    zero init / zero xorout — no shared table with the demuxer."""
    r = 0
    for byte in data:
        r ^= byte << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
            r &= 0xFFFFFFFF
    return r


def _lacing(n: int) -> list[int]:
    segs = [255] * (n // 255)
    segs.append(n % 255)  # a 255-multiple packet ends with a 0 lace
    return segs


def _page(serial: int, seq: int, granule: int, htype: int,
          lacing: list[int], body: bytes) -> bytes:
    hdr = bytearray()
    hdr += b"OggS\x00"
    hdr.append(htype)
    hdr += int(granule).to_bytes(8, "little", signed=True)
    hdr += serial.to_bytes(4, "little")
    hdr += seq.to_bytes(4, "little")
    hdr += b"\x00\x00\x00\x00"  # crc placeholder
    hdr.append(len(lacing))
    hdr += bytes(lacing)
    page = bytearray(hdr + body)
    crc = _crc_bitwise(bytes(page))
    page[22:26] = crc.to_bytes(4, "little")
    return bytes(page)


def _mux(packets: list[bytes], serial: int = 0x1234, max_segs: int = 255,
         final_granule: int = 0) -> bytes:
    """Mux packets into pages with at most max_segs lacing values per
    page (small values force continuation pages). Granule: -1 on every
    page but the last."""
    # flatten to (lace, chunk) pairs tagged with packet index
    laces: list[tuple[int, bytes]] = []
    for pkt in packets:
        at = 0
        for lace in _lacing(len(pkt)):
            laces.append((lace, pkt[at : at + lace]))
            at += lace
    pages = []
    seq = 0
    i = 0
    continued = False
    while i < len(laces):
        chunk = laces[i : i + max_segs]
        i += len(chunk)
        lacing = [c[0] for c in chunk]
        body = b"".join(c[1] for c in chunk)
        htype = 0x01 if continued else 0x00
        if seq == 0:
            htype |= 0x02  # BOS
        last = i >= len(laces)
        if last:
            htype |= 0x04  # EOS
        granule = final_granule if last else -1
        pages.append(_page(serial, seq, granule, htype, lacing, body))
        continued = lacing[-1] == 255  # packet spills into next page
        seq += 1
    return b"".join(pages)


def _ogg_flac(native: bytes, max_segs: int = 255,
              final_granule: int = 0, split_audio: int = 1) -> bytes:
    """Wrap a native FLAC stream in the xiph Ogg-FLAC mapping."""
    assert native[:4] == b"fLaC"
    pos = 4
    while True:  # walk metadata blocks to find the frame start
        hdr = native[pos]
        size = int.from_bytes(native[pos + 1 : pos + 4], "big")
        streaminfo_end = pos + 4 + size
        pos = streaminfo_end
        if hdr & 0x80:
            break
    first = (
        b"\x7fFLAC\x01\x00"
        + (0).to_bytes(2, "big")
        + b"fLaC"
        + native[4:streaminfo_end]
    )
    frames = native[streaminfo_end:]
    step = max(1, len(frames) // split_audio)
    audio = [frames[a : a + step] for a in range(0, len(frames), step)]
    return _mux([first] + audio, max_segs=max_segs,
                final_granule=final_granule)


def test_ogg_flac_roundtrip_bit_exact():
    native = _flac(_rand(7, 900, 2, 16), rate=8000, bits=16, kind="verbatim")
    ogg = _ogg_flac(native, final_granule=900)
    got = decode_audio(ogg)
    ref = decode_audio(native)
    assert got is not None and ref is not None
    assert got[0] == ref[0] == 8000 and got[1] == ref[1] == 2
    np.testing.assert_array_equal(got[2], ref[2])


def test_continuation_across_pages():
    # 4 lacing values per page forces the single big audio packet to
    # span many continuation pages
    native = _flac(_rand(3, 1200, 1, 16), rate=16000, bits=16, kind="verbatim")
    ogg = _ogg_flac(native, max_segs=4, final_granule=1200)
    got = decode_audio(ogg)
    ref = decode_audio(native)
    assert got is not None
    np.testing.assert_array_equal(got[2], ref[2])


def test_audio_packet_splits_are_equivalent():
    native = _flac(_rand(9, 700, 2, 16), rate=44100, bits=16, kind="verbatim")
    ref = decode_audio(native)
    for split in (1, 3, 17):
        got = decode_audio(_ogg_flac(native, final_granule=700,
                                     split_audio=split))
        assert got is not None
        np.testing.assert_array_equal(got[2], ref[2])


def test_probe_identifies_vorbis_and_opus_headers():
    ident = (b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
             + (48000).to_bytes(4, "little") + b"\x00" * 12
             + bytes([0x68]) + b"\x01")
    ogg = _mux([ident], serial=7, final_granule=96000)
    [(pkts, _g0, g1)] = demux(ogg).values()
    assert _identify(pkts[0]) == "vorbis" and g1 == 96000

    opus = (b"OpusHead" + bytes([1, 2]) + (312).to_bytes(2, "little")
            + (44100).to_bytes(4, "little") + b"\x00\x00\x00")
    ogg = _mux([opus], serial=9, final_granule=48000 + 312)
    [(pkts, _g0, g1)] = demux(ogg).values()
    assert _identify(pkts[0]) == "opus" and g1 == 48000 + 312
    # gated codec: identified, not decoded
    assert decode_ogg(ogg) is None


def test_corrupt_page_is_dropped():
    native = _flac(_rand(11, 600, 1, 16), rate=8000, bits=16, kind="verbatim")
    ogg = bytearray(_ogg_flac(native, final_granule=600))
    # flip one byte in the final page's body (the audio frames)
    ogg[-3] ^= 0x40
    got = decode_audio(bytes(ogg))
    ref = decode_audio(native)
    assert got is None or not np.array_equal(got[2], ref[2])


def test_multiplexed_streams_pick_the_decodable_one():
    native = _flac(_rand(13, 500, 1, 16), rate=8000, bits=16, kind="verbatim")
    flac_pages = _ogg_flac(native, final_granule=500)
    other = _mux([b"\x80theora" + b"\x00" * 20], serial=0x9999)
    # interleave page-wise: demux must keep serials apart
    import re

    def pages_of(b: bytes) -> list[bytes]:
        idx = [m.start() for m in re.finditer(b"OggS", b)]
        return [b[a:z] for a, z in zip(idx, idx[1:] + [len(b)])]

    woven = b"".join(
        p for pair in zip(pages_of(other) + [b""], pages_of(flac_pages))
        for p in pair if p
    )
    got = decode_audio(woven)
    ref = decode_audio(native)
    assert got is not None
    np.testing.assert_array_equal(got[2], ref[2])
    streams = demux(woven)
    assert len(streams) == 2


def test_hostile_bytes_total():
    import random

    rng = random.Random(42)
    for n in (0, 1, 26, 27, 100, 4096):
        blob = bytes(rng.randrange(256) for _ in range(n))
        assert decode_ogg(blob) is None
        assert decode_ogg(b"OggS" + blob) is None


def test_truncated_stream_total():
    native = _flac(_rand(17, 400, 1, 16), rate=8000, bits=16, kind="verbatim")
    ogg = _ogg_flac(native, max_segs=8, final_granule=400)
    for cut in (10, 30, len(ogg) // 2, len(ogg) - 3):
        out = decode_ogg(ogg[:cut])  # must not raise; partial or None
        if out is not None:
            assert out[0] == 8000

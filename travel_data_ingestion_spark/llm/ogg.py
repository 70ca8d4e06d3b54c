"""Ogg container demux (RFC 3533) + per-codec payload dispatch.

Pure-stdlib Ogg layer: page capture/validation with the Ogg CRC-32
(polynomial 0x04C11DB7, forward bit order, zero init / zero xorout —
computed over the page with the CRC field zeroed), lacing-value packet
reassembly including packets continued across pages, and multi-stream
(grouped/chained) demux by bitstream serial number.

Payload codecs:

- **Ogg-FLAC decodes completely**: the xiph Ogg-FLAC mapping (first
  packet ``0x7F 'FLAC' major minor nheaders 'fLaC' STREAMINFO``,
  audio packets = native FLAC frames) is re-framed into a native FLAC
  stream and decoded bit-exactly by :mod:`..flac`.
- **Vorbis decodes completely** via :mod:`.vorbis` (floor1 / residue
  0-2 / coupling / IMDCT — every table arrives in-band in the setup
  header, see that module's honesty notes on float tolerance).
- **Opus** is identified (OpusHead) but its PCM is gated: SILK/CELT
  need normative tables this environment cannot reproduce or verify
  (no system libopus).

Scope parity: the reference pipeline ingests opaque media blobs and
filters on typed metadata (see ``multimodal.py`` module docstring);
this module extends the honestly-decodable audio matrix that feeds
``decode_audio`` and the audio pHash.
"""

from __future__ import annotations

_CRC_TAB = None


def _crc_table():
    global _CRC_TAB
    if _CRC_TAB is None:
        tab = []
        for b in range(256):
            r = b << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7) if r & 0x80000000 else (r << 1)
                r &= 0xFFFFFFFF
            tab.append(r)
        _CRC_TAB = tuple(tab)
    return _CRC_TAB


def _ogg_crc(data: bytes) -> int:
    tab = _crc_table()
    r = 0
    for byte in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ tab[((r >> 24) & 0xFF) ^ byte]
    return r


def _pages(payload: bytes):
    """Yield (serial, seq, granule, header_type, lacing, body) for each
    CRC-valid page, in file order. Stops at the first byte run that is
    not a valid page (truncated tail tolerated: yields what it has).
    Resyncs by scanning for the next 'OggS' after a corrupt page, per
    the RFC's capture-pattern recovery."""
    pos = 0
    n = len(payload)
    while True:
        at = payload.find(b"OggS", pos)
        if at < 0 or at + 27 > n:
            return
        if payload[at + 4] != 0:  # stream_structure_version
            pos = at + 4
            continue
        htype = payload[at + 5]
        granule = int.from_bytes(payload[at + 6 : at + 14], "little", signed=True)
        serial = int.from_bytes(payload[at + 14 : at + 18], "little")
        seq = int.from_bytes(payload[at + 18 : at + 22], "little")
        crc = int.from_bytes(payload[at + 22 : at + 26], "little")
        nseg = payload[at + 26]
        hdr_end = at + 27 + nseg
        if hdr_end > n:
            return
        lacing = payload[at + 27 : hdr_end]
        body_len = sum(lacing)
        page_end = hdr_end + body_len
        if page_end > n:
            return
        page = bytearray(payload[at:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            pos = at + 4  # corrupt: resync on the next capture pattern
            continue
        yield serial, seq, granule, htype, lacing, payload[hdr_end:page_end]
        pos = page_end


def demux(payload: bytes, max_bytes: int | None = None):
    """Reassemble packets per logical stream. Returns
    ``{serial: (packets, first_granule, last_granule)}`` where packets
    is a list of bytes; packets still open at end-of-data (truncated
    continuation) are dropped. ``max_bytes`` bounds the total
    reassembled size (decode-bomb guard); over-budget returns what was
    assembled so far."""
    streams: dict[int, list] = {}
    partial: dict[int, bytearray] = {}
    granules: dict[int, list] = {}
    total = 0
    for serial, _seq, granule, htype, lacing, body in _pages(payload):
        pkts = streams.setdefault(serial, [])
        if not (htype & 0x01):
            # not a continuation page: any dangling partial is lost
            partial.pop(serial, None)
        cur = partial.pop(serial, bytearray())
        at = 0
        for lace in lacing:
            cur += body[at : at + lace]
            at += lace
            if lace < 255:
                pkts.append(bytes(cur))
                total += len(cur)
                cur = bytearray()
        if cur:
            partial[serial] = cur
        if granule >= 0:
            g = granules.setdefault(serial, [granule, granule])
            g[0] = min(g[0], granule)
            g[1] = max(g[1], granule)
        if max_bytes is not None and total > max_bytes:
            break
    return {
        serial: (pkts, *granules.get(serial, [None, None]))
        for serial, pkts in streams.items()
    }


def _identify(first_packet: bytes) -> str:
    if first_packet[:5] == b"\x7fFLAC":
        return "flac"
    if first_packet[:7] == b"\x01vorbis":
        return "vorbis"
    if first_packet[:8] == b"OpusHead":
        return "opus"
    if first_packet[:7] == b"\x80theora":
        return "theora"
    if first_packet[:8] == b"Speex   ":
        return "speex"
    return "unknown"


def _flac_audio_packets(pkts):
    """Skip the mapping/metadata header packets: audio frames start
    with the 14-bit FLAC sync (0xFF 0xF8-0xFB...); header packets are
    metadata blocks whose first byte is a block type (< 0x80 except
    the last-flag, never 0xFF)."""
    nheaders = int.from_bytes(pkts[0][7:9], "big") if len(pkts[0]) >= 9 else 0
    idx = 1 + nheaders
    while idx < len(pkts) and (
        len(pkts[idx]) < 2
        or pkts[idx][0] != 0xFF
        or (pkts[idx][1] & 0xFC) != 0xF8
    ):
        idx += 1
    return pkts[idx:]


def decode_ogg(payload: bytes):
    """Decode an Ogg payload to (sample_rate, n_channels, float64
    samples shaped (n_frames, n_channels) in [-1, 1)) — the
    decode_audio contract — or None for codecs this environment
    honestly cannot decode (Opus/Speex/Theora) and malformed input.
    Never raises."""
    import numpy as np

    from travel_data_ingestion_spark.llm.multimodal import MAX_DECODE_BYTES

    try:
        if payload[:4] != b"OggS":
            return None
        streams = demux(payload, max_bytes=MAX_DECODE_BYTES)
        for _serial, (pkts, _g0, g1) in streams.items():
            if not pkts:
                continue
            codec = _identify(pkts[0])
            if codec == "flac":
                from travel_data_ingestion_spark.llm.flac import decode_flac

                first = pkts[0]
                if len(first) < 13 + 38 or first[9:13] != b"fLaC":
                    return None
                streaminfo = bytearray(first[13 : 13 + 38])
                streaminfo[0] = 0x80 | (streaminfo[0] & 0x7F)  # force last
                native = (
                    b"fLaC"
                    + bytes(streaminfo)
                    + b"".join(_flac_audio_packets(pkts))
                )
                got = decode_flac(native)
                if got is None:
                    return None
                rate, n_ch, bits, ints = got
                x = ints.astype(np.float64) / float(1 << (bits - 1))
                return rate, n_ch, x
            if codec == "vorbis":
                from travel_data_ingestion_spark.llm.vorbis import decode_vorbis

                got = decode_vorbis(pkts, final_granule=g1)
                if got is None:
                    return None
                return got
            # identified-but-gated (opus/speex/theora) or unknown:
            # keep scanning — a multiplexed sibling may be decodable
        return None
    except (ValueError, IndexError, OverflowError, MemoryError, ImportError):
        return None

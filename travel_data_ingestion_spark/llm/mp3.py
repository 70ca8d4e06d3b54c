"""MPEG audio (MP3/MP2/MP1) frame-level metadata — no PCM decode.

What is REAL here: a full frame walk over MPEG-1/2/2.5 Layer I/II/III
streams — ID3v2 skip (syncsafe size, footer flag), ID3v1 trailer trim,
per-frame header validation (version/layer/bitrate/samplerate
consistency), exact frame sizing (Layer I slot×4 rule, the 72-slot
MPEG-2/2.5 Layer III half-frame), Xing/Info and VBRI VBR header parse,
and the exact sample clock (384 / 1152 / 576 samples per frame), so a
crawl pipeline gets sample_rate / channels / duration / average
bitrate / VBR-ness without decoding — the fields training-data audio
filters actually cut on.

PCM decode is honestly GATED, and the reason is specific: Layer III
requantization and synthesis require the normative ISO/IEC 11172-3
printed tables — the Huffman code tables of Annex B Table B.7 and the
512-coefficient synthesis window of Table B.3. Those are fixed tables
with no generating formula; this environment has no copy (no system
mp3 library to extract them from — contrast llm/vp8_tables.py, whose
~3,200 constants were extracted from the system libwebp and
cross-checked — and no network). A from-memory transcription paired
with a same-table test encoder is exactly the self-consistent-but-
wrong failure mode the round-11 QM-coder ADVICE documented, so we
refuse to fake it: ``decode_audio`` returns typed-NULL PCM fields for
mp3 while this probe still fills the header-derived metadata.
"""

from __future__ import annotations

# kbps by (version_group, layer): version_group 1 = MPEG-1, 2 = MPEG-2/2.5
_KBPS = {
    (1, 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_KBPS[(2, 3)] = _KBPS[(2, 2)]

# Hz by version bits (3=MPEG-1, 2=MPEG-2, 0=MPEG-2.5) and rate index
_HZ = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _frame_at(payload: bytes, pos: int):
    """Parse one frame header at pos. Returns (frame_len, samples,
    rate, n_ch, kbps, version_bits, layer) or None if not a valid
    frame start."""
    if pos + 4 > len(payload):
        return None
    h = int.from_bytes(payload[pos : pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    ver = (h >> 19) & 0x3
    layer_code = (h >> 17) & 0x3
    if ver == 1 or layer_code == 0:
        return None  # reserved
    layer = 4 - layer_code  # 3->I, 2->II, 1->III
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / bad
    vgroup = 1 if ver == 3 else 2
    kbps = _KBPS[(vgroup, layer)][br_idx]
    rate = _HZ[ver][sr_idx]
    pad = (h >> 9) & 0x1
    mode = (h >> 6) & 0x3
    n_ch = 1 if mode == 3 else 2
    if layer == 1:
        frame_len = (12 * kbps * 1000 // rate + pad) * 4
        samples = 384
    elif layer == 2:
        frame_len = 144 * kbps * 1000 // rate + pad
        samples = 1152
    else:
        slots = 144 if vgroup == 1 else 72
        frame_len = slots * kbps * 1000 // rate + pad
        samples = 1152 if vgroup == 1 else 576
    if frame_len < 24:
        return None
    return frame_len, samples, rate, n_ch, kbps, ver, layer


def _xing(payload: bytes, pos: int, ver: int, n_ch: int):
    """Xing/Info or VBRI total-frame count inside the first frame, if
    present. Returns (n_frames, is_vbr) or None."""
    vgroup = 1 if ver == 3 else 2
    side = (17 if n_ch == 1 else 32) if vgroup == 1 else (9 if n_ch == 1 else 17)
    at = pos + 4 + side
    tag = payload[at : at + 4]
    if tag in (b"Xing", b"Info"):
        flags = int.from_bytes(payload[at + 4 : at + 8], "big")
        if flags & 0x1 and at + 12 <= len(payload):
            n = int.from_bytes(payload[at + 8 : at + 12], "big")
            return n, tag == b"Xing"
        return None
    at = pos + 4 + 32  # VBRI sits 32 bytes after the 4-byte header
    if payload[at : at + 4] == b"VBRI" and at + 22 <= len(payload):
        n = int.from_bytes(payload[at + 18 : at + 22], "big")
        return n, True
    return None


def probe_mp3(payload: bytes):
    """Walk an MPEG audio stream; returns ``(layer, sample_rate,
    n_channels, n_frames, duration_s, avg_kbps, is_vbr)`` or None when
    the payload isn't MPEG audio. Tolerates leading junk (bounded
    resync), ID3v2/ID3v1 tags, and a truncated final frame. Never
    raises."""
    try:
        n = len(payload)
        pos = 0
        if payload[:3] == b"ID3" and n >= 10:
            size = 0
            for b in payload[6:10]:
                size = (size << 7) | (b & 0x7F)
            pos = 10 + size + (10 if payload[5] & 0x10 else 0)
        end = n - 128 if payload[n - 128 : n - 125] == b"TAG" else n
        # resync: a real stream's first frame must be followed by a
        # second valid header (or EOF) — guards against 0xFFE bytes in
        # junk
        first = None
        scanned = 0
        while pos < end and scanned < (1 << 16):
            if payload[pos] == 0xFF:
                f = _frame_at(payload, pos)
                if f is not None:
                    nxt = pos + f[0]
                    if nxt >= end or _frame_at(payload, nxt) is not None:
                        first = f
                        break
            pos += 1
            scanned += 1
        if first is None:
            return None
        _flen, spf, rate, n_ch, _kbps, ver, layer = first
        vbr_hdr = _xing(payload, pos, ver, n_ch)
        n_frames = 0
        kbps_sum = 0
        kbps_set = set()
        at = pos
        while at + 4 <= end:
            f = _frame_at(payload, at)
            if f is None:
                break  # mid-stream desync: stop at the clean prefix
            flen, spf_f, rate_f, _c, kbps, ver_f, layer_f = f
            if rate_f != rate or layer_f != layer or ver_f != ver:
                break
            if at + flen > end:
                break  # truncated final frame: don't count it
            n_frames += 1
            kbps_sum += kbps
            kbps_set.add(kbps)
            at += flen
        if vbr_hdr is not None and vbr_hdr[0] > 0:
            total_frames, is_vbr = vbr_hdr
            # the Xing frame itself is metadata, not audio
            n_audio = max(total_frames, 1)
            avg = round(kbps_sum / n_frames) if n_frames else None
        else:
            if n_frames == 0:
                return None
            total_frames = n_audio = n_frames
            avg = round(kbps_sum / n_frames)
            is_vbr = len(kbps_set) > 1
        duration = n_audio * spf / float(rate)
        return layer, rate, n_ch, total_frames, duration, avg, is_vbr
    except (IndexError, ValueError, OverflowError, ZeroDivisionError):
        return None

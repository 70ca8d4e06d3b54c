"""decode_audio: the full honest audio matrix — WAV (integer PCM,
IEEE float, G.711 mu-law/a-law, WAVE_FORMAT_EXTENSIBLE), AIFF/AIFC
(big-endian PCM, 'sowt', mu-law/a-law), and Sun AU.

The strongest evidence here is cross-CONTAINER: CPython's test suite
ships the SAME "pluck" clip as WAV, AIFF, and AU at 8/16/24/32 bits
plus mu-law and a-law renderings — the 24/32-bit decodes must be
BIT-IDENTICAL across all three containers, the companded renderings
must track the linear waveform within G.711 quantization, and the
audio pHash must not care which container carried the samples.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from travel_data_ingestion_spark.llm.multimodal import (
    audio_phash_bytes,
    decode_audio,
)

_FIX = "/root/.pyenv/versions/3.7.16/lib/python3.7/test/audiodata"


def _load(name):
    path = os.path.join(_FIX, name)
    if not os.path.exists(path):
        pytest.skip(f"interop fixture not on this machine: {path}")
    return open(path, "rb").read()


# ------------------------------------------------------------- builders
def _wav(rate, n_ch, tag, bits, data, extensible=False):
    if extensible:
        fmt = struct.pack("<HHIIHH", 0xFFFE, n_ch, rate, 0, 0, bits)
        fmt += struct.pack("<HHI", 22, bits, 1)  # cbSize, valid bits, mask
        fmt += struct.pack("<H", tag) + b"\x00\x00" + b"\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    else:
        ba = max(1, n_ch * bits // 8)
        fmt = struct.pack("<HHIIHH", tag, n_ch, rate, rate * ba, ba, bits)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if len(fmt) % 2:
        body += b"\x00"
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _ieee80(rate: int) -> bytes:
    if rate == 0:
        return bytes(10)
    e = 16383 + 63
    m = rate
    while m < 1 << 63:
        m <<= 1
        e -= 1
    return struct.pack(">HII", e, m >> 32, m & 0xFFFFFFFF)


def _aiff(rate, n_ch, bits, frames, data, comp=None):
    aifc = comp is not None
    comm = struct.pack(">HIH", n_ch, frames, bits) + _ieee80(rate)
    if aifc:
        comm += comp + b"\x00\x00"  # pstring name, empty
    ssnd = struct.pack(">II", 0, 0) + data
    body = b"AIFC" if aifc else b"AIFF"
    if aifc:
        body += b"FVER" + struct.pack(">I", 4) + struct.pack(">I", 0xA2805140)
    body += b"COMM" + struct.pack(">I", len(comm)) + comm
    if len(comm) % 2:
        body += b"\x00"
    body += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


def _au(rate, n_ch, enc, data):
    return struct.pack(">4sIIIII", b".snd", 24, len(data), enc, rate, n_ch) + data


# --------------------------------------------------- real-world fixtures
def test_pluck_24_and_32_bit_identical_across_containers():
    """The lossless renderings of the same clip: WAV (little-endian),
    AIFF (big-endian), and AU decode to BIT-IDENTICAL float frames."""
    for bits in (24, 32):
        w = decode_audio(_load(f"pluck-pcm{bits}.wav"))
        a = decode_audio(_load(f"pluck-pcm{bits}.aiff"))
        u = decode_audio(_load(f"pluck-pcm{bits}.au"))
        assert w is not None and (w[0], w[1]) == (11025, 2)
        assert np.array_equal(w[2], a[2]) and np.array_equal(w[2], u[2]), bits


def test_pluck_16_and_8_bit_track_each_other():
    """The 16- and 8-bit fixtures were dithered independently per
    container, so they differ by a few LSBs — not more."""
    w16 = decode_audio(_load("pluck-pcm16.wav"))
    a16 = decode_audio(_load("pluck-pcm16.aiff"))
    u16 = decode_audio(_load("pluck-pcm16.au"))
    assert w16[2].shape == a16[2].shape == u16[2].shape == (3307, 2)
    assert np.abs(w16[2] - a16[2]).max() <= 1e-3
    assert np.abs(w16[2] - u16[2]).max() <= 1e-3
    w8 = decode_audio(_load("pluck-pcm8.wav"))
    a8 = decode_audio(_load("pluck-pcm8.aiff"))
    assert np.abs(w8[2] - a8[2]).max() <= 1e-2  # 8-bit LSB = 1/128


def test_g711_renderings_track_linear_pcm():
    """mu-law (AU) and a-law (AIFC) decodes of the same clip correlate
    ~1 with the linear waveform within companding quantization — this
    pins BOTH expansion tables' sign conventions against real encoders
    (the a-law sign flip decodes to a perfectly anti-correlated
    waveform, caught exactly here during development)."""
    ref = decode_audio(_load("pluck-pcm16.wav"))[2]
    for name, bound in (("pluck-ulaw.au", 0.03), ("pluck-alaw.aifc", 0.03)):
        d = decode_audio(_load(name))
        assert d is not None and d[0] == 11025 and d[1] == 2
        x = d[2][: len(ref)]
        corr = float(np.corrcoef(x.ravel(), ref[: len(x)].ravel())[0, 1])
        assert corr > 0.999, (name, corr)
        assert np.abs(x - ref[: len(x)]).max() <= bound, name


def test_audio_phash_is_container_invariant():
    """The same clip hashes identically from WAV, AIFF, and AU, across
    bit depths, and within a couple of bits through G.711 companding —
    cross-container audio near-dup is exactly what the pHash is for."""
    h = {
        n: audio_phash_bytes(_load(n))
        for n in (
            "pluck-pcm16.wav",
            "pluck-pcm16.aiff",
            "pluck-pcm16.au",
            "pluck-pcm24.wav",
            "pluck-pcm32.aiff",
            "pluck-ulaw.au",
            "pluck-alaw.aifc",
        )
    }
    base = h["pluck-pcm16.wav"]
    assert h["pluck-pcm16.aiff"] == base and h["pluck-pcm16.au"] == base
    assert h["pluck-pcm24.wav"] == base and h["pluck-pcm32.aiff"] == base
    for n in ("pluck-ulaw.au", "pluck-alaw.aifc"):
        d = bin((h[n] ^ base) & ((1 << 64) - 1)).count("1")
        assert d <= 2, (n, d)


def test_real_au_and_aifc_headers_parse():
    for name in ("pluck-pcm16.au", "pluck-ulaw.au", "pluck-alaw.aifc"):
        d = decode_audio(_load(name))
        assert d is not None and d[0] == 11025 and d[1] == 2
        assert d[2].shape[0] == 3307


# ------------------------------------------------------ synthetic matrix
def test_wav_float_and_extensible():
    x = (np.sin(np.arange(400) / 7.0) * 0.7).astype("<f4")
    w = decode_audio(_wav(8000, 1, 3, 32, x.tobytes()))
    assert w is not None and (w[0], w[1]) == (8000, 1)
    assert np.allclose(w[2].ravel(), x.astype(np.float64))
    w64 = decode_audio(_wav(8000, 2, 3, 64, x.astype("<f8").tobytes()))
    assert w64 is not None and w64[2].shape == (200, 2)
    # extensible wrapping integer PCM 16
    pcm = (x * 32767).astype("<i2")
    we = decode_audio(_wav(16000, 1, 1, 16, pcm.tobytes(), extensible=True))
    assert we is not None and we[0] == 16000
    assert np.allclose(we[2].ravel(), pcm.astype(np.float64) / 32768.0)


def test_wav_24bit_and_g711_roundtrip():
    from travel_data_ingestion_spark.llm.multimodal import _alaw_table, _ulaw_table

    v = np.array([0, 1, -1, (1 << 23) - 1, -(1 << 23), 12345, -54321], dtype=np.int64)
    data = b"".join(int(s & 0xFFFFFF).to_bytes(3, "little") for s in v)
    w = decode_audio(_wav(8000, 1, 1, 24, data))
    assert np.allclose(w[2].ravel(), v.astype(np.float64) / (1 << 23))
    # every mu-law/a-law code decodes through the table exactly
    codes = bytes(range(256))
    wu = decode_audio(_wav(8000, 1, 7, 8, codes))
    assert np.array_equal(wu[2].ravel() * 32768.0, _ulaw_table().astype(np.float64))
    wa = decode_audio(_wav(8000, 1, 6, 8, codes))
    assert np.array_equal(wa[2].ravel() * 32768.0, _alaw_table().astype(np.float64))
    # mu-law of silence is (near) zero; table is odd-symmetric-ish
    assert abs(int(_ulaw_table()[0xFF])) == 0  # 0xFF encodes +0


def test_aiff_synthetic_pcm_and_sowt():
    x = (np.sin(np.arange(300) / 5.0) * 20000).astype(int)
    be = b"".join(struct.pack(">h", s) for s in x)
    le = b"".join(struct.pack("<h", s) for s in x)
    a = decode_audio(_aiff(22050, 1, 16, len(x), be))
    assert a is not None and (a[0], a[1]) == (22050, 1)
    assert np.allclose(a[2].ravel() * 32768.0, x.astype(np.float64))
    s = decode_audio(_aiff(22050, 1, 16, len(x), le, comp=b"sowt"))
    assert s is not None and np.array_equal(s[2], a[2])
    # AIFC with an actual codec compression type: gated
    assert decode_audio(_aiff(22050, 1, 16, len(x), be, comp=b"ima4")) is None


def test_aifc_float_compressions():
    """AIFC 'fl32'/'fl64': big-endian IEEE float frames decode
    bit-exactly (they ARE the canonical float representation)."""
    x = (np.random.RandomState(9).randn(300) * 0.3).clip(-1, 0.999)
    for comp, pack in ((b"fl32", ">f4"), (b"fl64", ">f8")):
        payload = _aiff(8000, 1, {b"fl32": 32, b"fl64": 64}[comp],
                        len(x), x.astype(pack).tobytes(), comp=comp)
        d = decode_audio(payload)
        assert d is not None and d[0] == 8000 and d[1] == 1
        tol = 1e-6 if comp == b"fl32" else 0
        assert np.abs(d[2].ravel() - x.astype(pack).astype(np.float64)).max() <= tol


def test_au_synthetic_encodings():
    x = (np.sin(np.arange(200) / 3.0) * 30000).astype(int)
    be16 = b"".join(struct.pack(">h", s) for s in x)
    u = decode_audio(_au(8000, 1, 3, be16))
    assert u is not None and (u[0], u[1]) == (8000, 1)
    assert np.allclose(u[2].ravel() * 32768.0, x.astype(np.float64))
    f = decode_audio(_au(8000, 1, 6, (x / 32768.0).astype(">f4").tobytes()))
    assert f is not None and np.abs(f[2].ravel() - x / 32768.0).max() < 1e-6
    assert decode_audio(_au(8000, 1, 23, be16)) is None  # ADPCM: gated
    assert decode_audio(_au(8000, 1, 3, be16)[:20]) is None  # truncated header


def test_mp3_pcm_is_gated():
    """mp3 PCM needs normative tables this environment cannot verify, so
    a well-formed MPEG-1 Layer III stream (128 kbps, 44.1 kHz, no CRC)
    decodes to None — the documented stub path."""
    frame = bytes.fromhex("fffb9000") + bytes(144 * 128000 // 44100 - 4)
    assert decode_audio(frame * 5) is None


def test_audio_adversarial_totality():
    rng = np.random.RandomState(55)
    x = (np.sin(np.arange(300) / 5.0) * 20000).astype(int)
    bases = [
        _wav(8000, 2, 1, 16, b"".join(struct.pack("<h", s) for s in x)),
        _aiff(8000, 1, 16, len(x), b"".join(struct.pack(">h", s) for s in x)),
        _au(8000, 1, 1, bytes(rng.randint(0, 256, 300).astype("uint8"))),
        _wav_ima(np.asarray(x[:250], dtype=np.int64), 1, block_align=16),
        _wav_ms(np.asarray(x[:250], dtype=np.int64), 1, block_align=32),
        _aiff(8000, 1, 32, 300, np.sin(np.arange(300) / 7).astype(">f4").tobytes(),
              comp=b"fl32"),
    ]
    for base in bases:
        for _ in range(200):
            b = bytearray(base)
            for _k in range(rng.randint(1, 6)):
                b[rng.randint(0, len(b))] = rng.randint(0, 256)
            r = decode_audio(bytes(b))
            assert r is None or (
                r[2].ndim == 2 and r[2].shape[1] == r[1] and r[0] > 0
            )
    for n in (0, 1, 4, 23, 44):
        assert decode_audio(bytes(rng.randint(0, 256, n).astype("uint8"))) is None


def _ima_encode(x: np.ndarray, n_ch: int, block_align: int) -> bytes:
    """Independent forward DVI/IMA ADPCM encoder (spec quantizer):
    per-block per-channel headers, nibble words round-robin."""
    from travel_data_ingestion_spark.llm.multimodal import (
        _IMA_INDEX_ADJUST,
        _IMA_STEPS,
    )

    frames = x.reshape(-1, n_ch)
    spb = (block_align - 4 * n_ch) * 2 // n_ch + 1
    out = bytearray()
    index = [0] * n_ch
    at = 0
    while at + spb <= len(frames):
        block = frames[at : at + spb]
        at += spb
        nib_seq = [[] for _ in range(n_ch)]
        preds = []
        for c in range(n_ch):
            pred = int(block[0, c])
            out += struct.pack("<hBB", pred, index[c], 0)
            preds.append(pred)
        for c in range(n_ch):
            pred, idx = preds[c], index[c]
            for s in block[1:, c]:
                step = _IMA_STEPS[idx]
                diff = int(s) - pred
                nib = 0
                if diff < 0:
                    nib, diff = 8, -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                d = (step >> 3) + ((step >> 2) if nib & 1 else 0)
                d += ((step >> 1) if nib & 2 else 0) + (step if nib & 4 else 0)
                pred = max(-32768, min(32767, pred - d if nib & 8 else pred + d))
                idx = max(0, min(88, idx + _IMA_INDEX_ADJUST[nib & 7]))
                nib_seq[c].append(nib)
            preds[c], index[c] = pred, idx
        # pack nibble words round-robin: 8 samples (4 bytes) per channel
        for g in range(0, spb - 1, 8):
            for c in range(n_ch):
                eight = nib_seq[c][g : g + 8]
                for k in range(0, 8, 2):
                    out.append(eight[k] | (eight[k + 1] << 4))
    return bytes(out)


def _wav_ima(x: np.ndarray, n_ch: int, rate: int = 8000,
             block_align: int = 256) -> bytes:
    data = _ima_encode(x, n_ch, block_align)
    fmt = struct.pack("<HHIIHH", 17, n_ch, rate, rate, block_align, 4)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_ima_adpcm_tracks_linear_pcm():
    """DVI/IMA ADPCM (WAV format 17): the 4-bit expansion must track
    the source within companding error on a smooth signal, mono and
    stereo, and the audio pHash lands within the near-dup threshold of
    the same clip's linear PCM rendering."""
    from travel_data_ingestion_spark.llm.multimodal import audio_phash_bytes

    # 505 samples per 256-byte mono block; 4 whole blocks so the ADPCM
    # and PCM renderings cover the SAME 2020 frames (the pHash segments
    # energy over the clip, so differing lengths would shift segments)
    n = 4 * 505
    t = np.arange(n)
    env = 3000 + 2500 * np.sin(2 * np.pi * t / 837) + 1500 * np.sin(2 * np.pi * t / 264)
    mono = np.clip(env * np.sin(2 * np.pi * t / 29), -32768, 32767).astype(np.int64)
    d = decode_audio(_wav_ima(mono, 1))
    assert d is not None and d[0] == 8000 and d[1] == 1
    got = d[2].ravel() * 32768.0
    k = len(got)
    corr = float(np.corrcoef(got, mono[:k])[0, 1])
    assert corr > 0.995, corr
    # container-invariant near-dup: ADPCM rendering pairs with PCM16
    h_pcm = audio_phash_bytes(_wav(8000, 1, 1, 16,
                              b"".join(struct.pack("<h", int(v)) for v in mono)))
    h_ima = audio_phash_bytes(_wav_ima(mono, 1))
    assert bin((h_pcm ^ h_ima) & (2**64 - 1)).count("1") <= 3
    # stereo: per-channel state, round-robin words
    right = np.clip(env * np.sin(2 * np.pi * t / 41), -32768, 32767).astype(np.int64)
    stereo = np.stack([mono, right], axis=1).reshape(-1)
    d = decode_audio(_wav_ima(stereo, 2))
    assert d is not None and d[1] == 2
    got = d[2] * 32768.0
    k = len(got)
    assert float(np.corrcoef(got[:, 0], mono[:k])[0, 1]) > 0.995
    assert float(np.corrcoef(got[:, 1], right[:k])[0, 1]) > 0.995
    # malformed: block_align smaller than the headers is gated
    bad = bytearray(_wav_ima(mono, 1))
    struct.pack_into("<H", bad, 32, 4)  # block_align = 4 = header only
    assert decode_audio(bytes(bad)) is None


def _ms_encode(x: np.ndarray, n_ch: int, block_align: int,
               pred_idx: int = 0) -> bytes:
    """Independent forward Microsoft ADPCM encoder (spec quantizer,
    fixed predictor per call), nibbles high-first, channels
    round-robin."""
    from travel_data_ingestion_spark.llm.multimodal import (
        _MS_ADPCM_ADAPT,
        _MS_ADPCM_COEFS,
    )

    frames = x.reshape(-1, n_ch)
    spb = (block_align - 7 * n_ch) * 2 // n_ch + 2
    c1, c2 = _MS_ADPCM_COEFS[pred_idx]
    out = bytearray()
    at = 0
    while at + spb <= len(frames):
        block = frames[at : at + spb]
        at += spb
        s2 = [int(block[0, c]) for c in range(n_ch)]
        s1 = [int(block[1, c]) for c in range(n_ch)]
        delta = [128] * n_ch
        out += bytes([pred_idx] * n_ch)
        for arr in (delta, s1, s2):
            for c in range(n_ch):
                out += struct.pack("<h", arr[c])
        nibs = []
        for t in range((spb - 2) * n_ch):
            c = t % n_ch
            target = int(block[2 + t // n_ch, c])
            pred = (s1[c] * c1 + s2[c] * c2) // 256
            nib = max(-8, min(7, round((target - pred) / delta[c]))) & 0x0F
            signed = nib - 16 if nib >= 8 else nib
            val = max(-32768, min(32767, pred + signed * delta[c]))
            s2[c], s1[c] = s1[c], val
            delta[c] = max((_MS_ADPCM_ADAPT[nib] * delta[c]) // 256, 16)
            nibs.append(nib)
        if len(nibs) % 2:
            nibs.append(0)
        for k in range(0, len(nibs), 2):
            out.append((nibs[k] << 4) | nibs[k + 1])
    return bytes(out)


def _wav_ms(x: np.ndarray, n_ch: int, rate: int = 8000,
            block_align: int = 256, pred_idx: int = 0) -> bytes:
    data = _ms_encode(x, n_ch, block_align, pred_idx)
    fmt = struct.pack("<HHIIHH", 2, n_ch, rate, rate, block_align, 4)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_ms_adpcm_tracks_linear_pcm():
    """Microsoft ADPCM (WAV format 2): header samples verbatim, coef
    prediction + delta adaptation per spec; mono and stereo track the
    source, and a predictor index past the 7-entry table is gated."""
    n = 2000
    t = np.arange(n)
    env = 3000 + 2500 * np.sin(2 * np.pi * t / 837) + 1500 * np.sin(2 * np.pi * t / 264)
    mono = np.clip(env * np.sin(2 * np.pi * t / 29), -32768, 32767).astype(np.int64)
    for pi in (0, 1, 4):  # different coefficient pairs
        d = decode_audio(_wav_ms(mono, 1, pred_idx=pi))
        assert d is not None and d[0] == 8000 and d[1] == 1
        got = d[2].ravel() * 32768.0
        corr = float(np.corrcoef(got, mono[: len(got)])[0, 1])
        assert corr > 0.99, (pi, corr)
        # the two header samples are carried verbatim
        assert got[0] == mono[0] and got[1] == mono[1]
    right = np.clip(env * np.sin(2 * np.pi * t / 41), -32768, 32767).astype(np.int64)
    stereo = np.stack([mono, right], axis=1).reshape(-1)
    d = decode_audio(_wav_ms(stereo, 2))
    assert d is not None and d[1] == 2
    got = d[2] * 32768.0
    k = len(got)
    assert float(np.corrcoef(got[:, 0], mono[:k])[0, 1]) > 0.99
    assert float(np.corrcoef(got[:, 1], right[:k])[0, 1]) > 0.99
    bad = bytearray(_wav_ms(mono, 1))
    # predictor index 9 > 6 (first header byte of block 0): gated
    i = bytes(bad).find(b"data") + 8
    bad[i] = 9
    assert decode_audio(bytes(bad)) is None

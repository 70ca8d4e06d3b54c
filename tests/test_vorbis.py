"""Vorbis I decode — round trips through an independent test encoder.

Vorbis carries its entire codebook/floor/residue configuration in-band,
so the encoder here constructs its OWN setup headers (flat scalar
books, small VQ books, a two-class residue, a four-post floor) and
writes audio packets bit by bit with its own LSb-first packer; the
expected PCM is then computed by an independent expectation pipeline —
literal cosine-matrix IMDCT, per-x error-accumulator render_line,
explicit per-case coupling, absolute-timeline overlap-add written as
its own loop — none of it shared with the decoder (which uses an FFT
factorization, a vectorized Bresenham form, numpy.where coupling, and
a rolling lap buffer). A transcription error on either side shows up
as a PCM mismatch at 1e-9 tolerance, far below the 1e-10-ish float64
noise floor and far above nothing: every stage (huffman assignment,
floor prediction/room logic, residue cascade, coupling, window
placement, lap alignment) feeds the final samples.

Vorbis is a float codec — the spec allows small numerical deviation
between implementations — so tolerance (not bit equality) is the
correct conformance statement; the normative inverse-dB table's
printed anchor values are pinned below at their published precision.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from tests.test_ogg import _mux
from travel_data_ingestion_spark.llm.vorbis import (
    _imdct,
    _inverse_db_table,
    decode_vorbis,
)


# ---------------------------------------------------------------------------
# independent encoder infrastructure


class _W:
    """LSb-first bit writer (the Vorbis packing convention)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def code(self, codeword: int, length: int):
        """Huffman codewords are the LSb-first exception: their bits
        enter the stream MSb of the codeword first."""
        for i in range(length - 1, -1, -1):
            self.w((codeword >> i) & 1, 1)

    def bytes(self) -> bytes:
        tail = bytes([self.acc & 0xFF]) if self.n else b""
        return bytes(self.out) + tail


def _codewords(lengths):
    """Independent canonical assignment: brute-force 'lowest unused
    codeword of this length that keeps the code prefix-free'."""
    assigned: list[tuple[int, int]] = []  # (length, code)

    def conflicts(ln, code):
        for al, ac in assigned:
            if al <= ln and (code >> (ln - al)) == ac:
                return True
            if al > ln and (ac >> (al - ln)) == code:
                return True
        return False

    out = {}
    for entry, ln in enumerate(lengths):
        if ln <= 0:
            continue
        code = 0
        while code < (1 << ln) and conflicts(ln, code):
            code += 1
        assert code < (1 << ln), "encoder book overpopulated"
        assigned.append((ln, code))
        out[entry] = (code, ln)
    return out


def _f32pack(x: float) -> int:
    if x == 0:
        return 0
    s = 0
    if x < 0:
        s, x = 1, -x
    m, e = math.frexp(x)  # x = m * 2^e, m in [0.5, 1)
    m21 = int(round(m * (1 << 21)))
    return (s << 31) | ((e - 21 + 788) << 21) | m21


def _book_scalar(w: _W, lengths, dims: int = 1):
    """Lookup-0 codebook with explicit (unordered, dense) lengths.
    dims matters for residue classbooks (classwords per codeword)."""
    w.w(0x564342, 24)
    w.w(dims, 16)
    w.w(len(lengths), 24)
    w.w(0, 1)  # unordered
    w.w(0, 1)  # dense
    for ln in lengths:
        w.w(ln - 1, 5)
    w.w(0, 4)  # lookup 0


def _book_vq(w: _W, lengths, dims, minv, delta, mults, value_bits,
             lookup=1, seq_p=0):
    w.w(0x564342, 24)
    w.w(dims, 16)
    w.w(len(lengths), 24)
    w.w(0, 1)
    w.w(0, 1)
    for ln in lengths:
        w.w(ln - 1, 5)
    w.w(lookup, 4)
    w.w(_f32pack(minv), 32)
    w.w(_f32pack(delta), 32)
    w.w(value_bits - 1, 4)
    w.w(seq_p, 1)
    for m in mults:
        w.w(m, value_bits)


# the shared test configuration --------------------------------------------
#
# blocksizes 64/256; floor1: multiplier 4 (range 64), rangebits 6,
# posts at X = [0, 64, 16, 40]; residue: 2 classifications over
# partition size 8, classbook dims 2, one pass; VQ book: dims 2,
# 9 entries over {-1.5, 0, 1.5} per component.

N0, N1 = 64, 256
RATE = 8000
RNG64 = 64  # floor range for multiplier 4
FLOOR_BOOK_LENS = [6] * 64
CLASSBOOK_LENS = [2, 2, 2, 2]
VQ_LENS = [3, 3, 3, 3, 3, 3, 3, 4, 4]
VQ_MULTS = [0, 1, 2]  # -> -1.5, 0.0, 1.5 with min -1.5 delta 1.5
VQ_MIN, VQ_DELTA = -1.5, 1.5
PSIZE = 8
XS = [0, 64, 16, 40]


def _vq_values():
    """entry -> 2-component vector, lookup type 1 semantics."""
    comp = [VQ_MIN + VQ_DELTA * m for m in VQ_MULTS]
    q = 3
    return [
        np.array([comp[e % q], comp[(e // q) % q]]) for e in range(9)
    ]


def _setup_packet(n_ch: int, coupling: bool, res_type: int = 1,
                  res_begin: int = 0, seq_p: int = 0, submaps: int = 1):
    w = _W()
    w.w(5, 8)
    for b in b"vorbis":
        w.w(b, 8)
    w.w(4 - 1, 8)  # 4 codebooks
    _book_scalar(w, FLOOR_BOOK_LENS)         # book 0: floor values
    _book_scalar(w, CLASSBOOK_LENS, dims=2)  # book 1: residue classbook
    _book_vq(w, VQ_LENS, 2, VQ_MIN, VQ_DELTA, VQ_MULTS, 2,
             seq_p=seq_p)                    # book 2: residue values
    _book_vq(w, [2, 2, 2, 2], 2, 0.25, 0.25,
             [0, 1, 2, 3, 3, 2, 1, 0], 2,
             lookup=2)                       # book 3: lookup-2 values
    w.w(0, 6)  # 1 time config
    w.w(0, 16)
    w.w(0, 6)  # 1 floor
    w.w(1, 16)  # floor type 1
    w.w(1, 5)  # 1 partition
    w.w(0, 4)  # class 0
    w.w(2 - 1, 3)  # class dims 2
    w.w(0, 2)  # subclass bits 0
    w.w(0 + 1, 8)  # subclass book 0 -> book 0
    w.w(4 - 1, 2)  # multiplier 4
    w.w(6, 4)  # rangebits
    w.w(16, 6)
    w.w(40, 6)
    w.w(0, 6)  # 1 residue
    w.w(res_type, 16)
    w.w(res_begin, 24)
    w.w(256, 24)  # end (clamped per blocksize)
    w.w(PSIZE - 1, 24)
    w.w(2 - 1, 6)  # 2 classifications
    w.w(1, 8)  # classbook = book 1
    # cascade: class 0 -> no passes (silent), class 1 -> pass 0
    w.w(0, 3)
    w.w(0, 1)
    w.w(1, 3)
    w.w(0, 1)
    w.w(2, 8)  # class 1, pass 0 -> book 2
    w.w(0, 6)  # 1 mapping
    w.w(0, 16)
    if submaps > 1:
        w.w(1, 1)
        w.w(submaps - 1, 4)
    else:
        w.w(0, 1)
    if coupling:
        w.w(1, 1)  # coupling on
        w.w(0, 8)  # 1 step
        w.w(0, 1)  # magnitude ch 0 (ilog(ch-1)=1 bit)
        w.w(1, 1)  # angle ch 1
    else:
        w.w(0, 1)
    w.w(0, 2)  # reserved
    if submaps > 1:
        for ch in range(n_ch):
            w.w(ch % submaps, 4)  # mux: channel ch -> submap ch
    for _sm in range(submaps):
        w.w(0, 8)  # time placeholder
        w.w(0, 8)  # floor 0
        w.w(0, 8)  # residue 0
    w.w(1, 6)  # 2 modes
    w.w(0, 1)  # mode 0: short
    w.w(0, 16)
    w.w(0, 16)
    w.w(0, 8)
    w.w(1, 1)  # mode 1: long
    w.w(0, 16)
    w.w(0, 16)
    w.w(0, 8)
    w.w(1, 1)  # framing
    return w.bytes()


def _ident_packet(n_ch: int) -> bytes:
    w = _W()
    w.w(1, 8)
    for b in b"vorbis":
        w.w(b, 8)
    w.w(0, 32)
    w.w(n_ch, 8)
    w.w(RATE, 32)
    w.w(0, 32)
    w.w(0, 32)
    w.w(0, 32)
    w.w(6, 4)   # blocksize0 = 64
    w.w(8, 4)   # blocksize1 = 256
    w.w(1, 1)
    return w.bytes()


def _comment_packet() -> bytes:
    w = _W()
    w.w(3, 8)
    for b in b"vorbis":
        w.w(b, 8)
    vendor = b"independent test encoder"
    w.w(len(vendor), 32)
    for b in vendor:
        w.w(b, 8)
    w.w(0, 32)
    w.w(1, 1)
    return w.bytes()


class _Frame:
    """Encoder-side description of one audio frame: per-channel floor
    posts (None = unused channel) and residue classification/entry
    choices."""

    def __init__(self, long_block, posts, res_classes, res_entries):
        self.long = long_block
        self.posts = posts          # list per ch: None | [y0,y1,y2,y3]
        self.res_classes = res_classes  # per vector: list of class ids
        self.res_entries = res_entries  # per vector: list of lists


def _audio_packet(fr: _Frame, prev_long, next_long, n_ch, res_type,
                  submaps: int = 1):
    fbook = _codewords(FLOOR_BOOK_LENS)
    cbook = _codewords(CLASSBOOK_LENS)
    vbook = _codewords(VQ_LENS)
    w = _W()
    w.w(0, 1)  # audio packet
    w.w(1 if fr.long else 0, 1)  # mode number (2 modes -> 1 bit)
    if fr.long:
        w.w(1 if prev_long else 0, 1)
        w.w(1 if next_long else 0, 1)
    for ch in range(n_ch):
        posts = fr.posts[ch]
        if posts is None:
            w.w(0, 1)
            continue
        w.w(1, 1)
        w.w(posts[0], 6)
        w.w(posts[1], 6)
        for y in posts[2:]:
            w.code(*fbook[y])
    # residue: one pass; classifications in classword pairs
    n2 = (N1 if fr.long else N0) // 2
    size = n2 * n_ch if res_type == 2 else n2
    for j, classes in enumerate(fr.res_classes):
        pass  # validated below
    n_vec = 1 if res_type == 2 else n_ch
    # interleaved decode order: pass 0 reads classwords for all
    # vectors, then partitions round-robin within the group
    active = [fr.posts is not None] * n_vec
    if res_type == 2:
        active = [any(p is not None for p in fr.posts)]
    else:
        active = [fr.posts[j] is not None for j in range(n_vec)]
    parts = len(fr.res_classes[0]) if fr.res_classes else 0

    def _write_residue(vecs):
        pcount = 0
        while pcount < parts:
            for j in vecs:
                if not active[j]:
                    continue
                pair = fr.res_classes[j][pcount : pcount + 2]
                temp = pair[0] * 2 + (pair[1] if len(pair) > 1 else 0)
                w.code(*cbook[temp])
            for _i in range(2):
                if pcount >= parts:
                    break
                for j in vecs:
                    if not active[j]:
                        continue
                    if fr.res_classes[j][pcount] == 1:
                        for e in fr.res_entries[j][pcount]:
                            w.code(*vbook[e])
                pcount += 1

    if submaps > 1:
        # per-submap serialization: all of submap 0's residue bits,
        # then submap 1's (decoder loops submaps outermost)
        for sm in range(submaps):
            _write_residue([j for j in range(n_vec) if j % submaps == sm])
    else:
        _write_residue(list(range(n_vec)))
    return w.bytes()


# ---------------------------------------------------------------------------
# independent expectation pipeline


def _imdct_direct(X, n):
    j = np.arange(n).reshape(-1, 1)
    k = np.arange(n // 2).reshape(1, -1)
    M = np.cos(np.pi / (2 * n) * (2 * j + 1 + n / 2) * (2 * k + 1))
    return M @ np.asarray(X, dtype=np.float64)


def _render_line_loop(x0, y0, x1, y1, out):
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    base = int(dy / adx)  # trunc toward zero
    sy = base - 1 if dy < 0 else base + 1
    ady -= abs(base) * adx
    if x0 < len(out):
        out[x0] = y0
    y = y0
    err = 0
    for x in range(x0 + 1, min(x1, len(out))):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        out[x] = y


def _expected_floor(posts, n2):
    """Independent floor-1 synthesis from the spec text."""
    rng = RNG64
    xs = XS
    final = [posts[0], posts[1], 0, 0]
    step2 = [True, True, False, False]
    for j in (2, 3):
        low = max((k for k in range(j) if xs[k] < xs[j]),
                  key=lambda k: xs[k])
        high = min((k for k in range(j) if xs[k] > xs[j]),
                   key=lambda k: xs[k])
        dy = final[high] - final[low]
        adx = xs[high] - xs[low]
        off = abs(dy) * (xs[j] - xs[low]) // adx
        pred = final[low] - off if dy < 0 else final[low] + off
        val = posts[j]
        if val:
            highroom = rng - pred
            lowroom = pred
            room = 2 * min(highroom, lowroom)
            if val >= room:
                if highroom > lowroom:
                    final[j] = val - lowroom + pred
                else:
                    final[j] = pred - (val - highroom) - 1
            else:
                final[j] = pred - ((val + 1) // 2) if val & 1 \
                    else pred + (val // 2)
            step2[low] = step2[high] = step2[j] = True
        else:
            final[j] = pred
    pts = sorted(
        ((xs[i], max(0, min(final[i], rng - 1)) * 4)
         for i in range(4) if step2[i])
    )
    ydom = np.zeros(n2, dtype=np.int64)
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        _render_line_loop(ax, ay, bx, by, ydom)
    # last point and flat tail
    lx, ly = pts[-1]
    if lx < n2:
        ydom[lx:] = ly
    table = _inverse_db_table()
    return table[np.clip(ydom, 0, 255)]


def _expected_residue(classes, entries, n2, begin=0, rtype=1, seq_p=0):
    vals = _vq_values()
    if seq_p:
        vals = [np.cumsum(v) for v in vals]
    v = np.zeros(n2, dtype=np.float64)
    step = PSIZE // 2  # book dims = 2
    for p, cls in enumerate(classes):
        if cls != 1:
            continue
        off = begin + p * PSIZE
        if rtype == 0:
            # stride-interleaved: vector j lands at off+j, off+j+step
            for j, e in enumerate(entries[p]):
                v[off + j] += vals[e][0]
                v[off + j + step] += vals[e][1]
        else:
            at = off
            for e in entries[p]:
                v[at : at + 2] += vals[e]
                at += 2
    return v


def _expected_pcm(frames_desc, n_ch, res_type, coupling, final_granule=None,
                  res_begin=0, seq_p=0):
    """Full independent synthesis: floors, residues, coupling, direct
    IMDCT, windows, absolute-timeline overlap-add."""
    rendered = []
    sizes = []
    for idx, fr in enumerate(frames_desc):
        n = N1 if fr.long else N0
        n2 = n // 2
        prev_long = frames_desc[idx - 1].long if idx else fr.long
        next_long = (frames_desc[idx + 1].long
                     if idx + 1 < len(frames_desc) else fr.long)
        # residue vectors
        if res_type == 2:
            flat = _expected_residue(fr.res_classes[0], fr.res_entries[0],
                                     n2 * n_ch, begin=res_begin,
                                     seq_p=seq_p)
            spect = [flat[c::n_ch].copy() for c in range(n_ch)]
        else:
            spect = [
                _expected_residue(fr.res_classes[c], fr.res_entries[c], n2,
                                  begin=res_begin, rtype=res_type,
                                  seq_p=seq_p)
                if fr.posts[c] is not None else np.zeros(n2)
                for c in range(n_ch)
            ]
        if coupling:
            m, a = spect[0], spect[1]
            new_m = np.empty_like(m)
            new_a = np.empty_like(a)
            for i in range(n2):
                if m[i] > 0:
                    if a[i] > 0:
                        new_m[i], new_a[i] = m[i], m[i] - a[i]
                    else:
                        new_m[i], new_a[i] = m[i] + a[i], m[i]
                else:
                    if a[i] > 0:
                        new_m[i], new_a[i] = m[i], m[i] + a[i]
                    else:
                        new_m[i], new_a[i] = m[i] - a[i], m[i]
            spect = [new_m, new_a]
        for c in range(n_ch):
            if fr.posts[c] is None:
                spect[c] = np.zeros(n2)
            else:
                spect[c] = spect[c] * _expected_floor(fr.posts[c], n2)
        # window
        p_n = N0 if (fr.long and not prev_long) else n
        x_n = N0 if (fr.long and not next_long) else n
        wv = np.zeros(n)
        lh = p_n // 2
        ls = n // 4 - p_n // 4
        for i in range(lh):
            wv[ls + i] = math.sin(
                0.5 * math.pi
                * math.sin((i + 0.5) / lh * 0.5 * math.pi) ** 2
            )
        rh = x_n // 2
        rs = 3 * n // 4 - x_n // 4
        wv[ls + lh : rs] = 1.0
        for i in range(rh):
            wv[rs + i] = math.sin(
                0.5 * math.pi
                * math.sin((rh - i - 0.5) / rh * 0.5 * math.pi) ** 2
            )
        out = np.stack(
            [_imdct_direct(spect[c], n) * wv for c in range(n_ch)], axis=1
        )
        rendered.append(out)
        sizes.append(n)
    # absolute timeline
    centers = [0]
    for k in range(1, len(sizes)):
        centers.append(centers[-1] + sizes[k - 1] // 4 + sizes[k] // 4)
    starts = [centers[k] - sizes[k] // 2 for k in range(len(sizes))]
    origin = -min(starts)  # buffer offset for the earliest frame start
    total = max(centers[k] + sizes[k] // 2 for k in range(len(sizes)))
    buf = np.zeros((origin + total, n_ch))
    for k, out in enumerate(rendered):
        s = origin + starts[k]
        buf[s : s + sizes[k]] += out
    pcm = buf[origin : origin + centers[-1]]  # first to last center
    if final_granule is not None and final_granule < pcm.shape[0]:
        pcm = pcm[:final_granule]
    return np.clip(pcm, -1.0, 1.0)


def _make_stream(frames_desc, n_ch, res_type=1, coupling=False, seq_p=0,
                 final_granule=None, res_begin=0, submaps=1):
    pkts = [
        _ident_packet(n_ch),
        _comment_packet(),
        _setup_packet(n_ch, coupling, res_type, res_begin=res_begin,
                      seq_p=seq_p, submaps=submaps),
    ]
    for idx, fr in enumerate(frames_desc):
        prev_long = frames_desc[idx - 1].long if idx else fr.long
        next_long = (frames_desc[idx + 1].long
                     if idx + 1 < len(frames_desc) else fr.long)
        pkts.append(_audio_packet(fr, prev_long, next_long, n_ch, res_type,
                                  submaps=submaps))
    return pkts


def _rand_frame(rng, long_block, n_ch, res_type, allow_unused=False,
                res_begin=0):
    n2 = (N1 if long_block else N0) // 2
    n_vec = 1 if res_type == 2 else n_ch
    size = n2 * n_ch if res_type == 2 else n2
    parts = (size - res_begin) // PSIZE
    posts = []
    for _ in range(n_ch):
        if allow_unused and rng.random() < 0.3:
            posts.append(None)
        else:
            posts.append([rng.randrange(RNG64) for _ in range(4)])
    classes = []
    entries = []
    for _ in range(n_vec):
        cl = [rng.randrange(2) for _ in range(parts)]
        en = [[rng.randrange(9) for _ in range(PSIZE // 2)] if c == 1
              else None for c in cl]
        classes.append(cl)
        entries.append(en)
    return _Frame(long_block, posts, classes, entries)


def test_residue_type0_stride_interleave_roundtrip():
    rng = random.Random(67)
    frames = [_rand_frame(rng, b, 1, 0) for b in (False, True, False)]
    pkts = _make_stream(frames, 1, res_type=0)
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm(frames, 1, 0, False)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_residue_begin_offset_roundtrip():
    rng = random.Random(71)
    frames = [_rand_frame(rng, False, 1, 1, res_begin=8) for _ in range(4)]
    pkts = _make_stream(frames, 1, res_begin=8)
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm(frames, 1, 1, False, res_begin=8)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_sequence_p_cascading_books_roundtrip():
    rng = random.Random(73)
    frames = [_rand_frame(rng, b, 1, 1) for b in (False, False, True)]
    pkts = _make_stream(frames, 1, seq_p=1)
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm(frames, 1, 1, False, seq_p=1)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_two_submaps_mux_roundtrip():
    rng = random.Random(79)
    frames = [_rand_frame(rng, b, 2, 1) for b in (False, True, False)]
    pkts = _make_stream(frames, 2, submaps=2)
    got = decode_vorbis(pkts)
    assert got is not None and got[1] == 2
    exp = _expected_pcm(frames, 2, 1, False)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


# ---------------------------------------------------------------------------
# fixture-grade encoder for REAL mono PCM (used by
# tools/gen_media_fixtures.py to pin the mm03 audio-clique Ogg-Vorbis
# member; the clique is graded by decode->pHash membership, so unlike
# the round-trip tests above this helper may lean on module constants)


def encode_pcm_mono(x, rate: int = 8000):
    """Encode float PCM in [-1, 1) as a real lossy Vorbis stream:
    all-short 64-sample blocks, flat floor, 6-bit-quantized residue
    through a 64-level lookup-1 book. Returns the packet list; decoded
    length (before granule trim) is 32 * n_frames_minus_1 aligned so
    emitted sample 0 corresponds to source sample 0."""
    x = np.asarray(x, dtype=np.float64)
    n, m, hop = 64, 32, 32
    jj = np.arange(n).reshape(-1, 1)
    kk = np.arange(m).reshape(1, -1)
    M = np.cos(np.pi / (2 * n) * (2 * jj + 1 + n / 2) * (2 * kk + 1))
    i = np.arange(n)
    w = np.sin(0.5 * np.pi * np.sin((i + 0.5) / n * np.pi) ** 2)
    # analysis frames at offsets -hop, 0, hop, ... (TDAC: X = 4/n M^T w x)
    starts = list(range(-hop, len(x) + hop, hop))
    specs = []
    for s in starts:
        seg = np.zeros(n)
        a, b = max(s, 0), min(s + n, len(x))
        if b > a:
            seg[a - s : b - s] = x[a:b]
        specs.append((4.0 / n) * (M.T @ (w * seg)))
    from travel_data_ingestion_spark.llm.vorbis import _inverse_db_table

    # per-frame flat floor chosen from the 64 quantized-dB levels so
    # the 6-bit residue grid always spans just past the frame's peak
    table = _inverse_db_table()
    ys = []
    resid = []
    for sp in specs:
        peak = float(np.abs(sp).max())
        if peak == 0.0:
            ys.append(0)
            resid.append(sp)
            continue
        yv = int(np.searchsorted(table[::4], peak * 0.999))
        yv = min(yv, 63)
        ys.append(yv)
        resid.append(sp / table[yv * 4])
    minv, delta = -1.0, 2.0 / 255

    # ident: blocksizes 64/64, one mode
    wi = _W()
    wi.w(1, 8)
    for b in b"vorbis":
        wi.w(b, 8)
    wi.w(0, 32)
    wi.w(1, 8)
    wi.w(rate, 32)
    wi.w(0, 96)
    wi.w(6, 4)
    wi.w(6, 4)
    wi.w(1, 1)

    ws = _W()
    ws.w(5, 8)
    for b in b"vorbis":
        ws.w(b, 8)
    ws.w(2 - 1, 8)
    _book_scalar(ws, [2, 2, 2, 2], dims=2)     # book 0: classbook
    _book_vq(ws, [8] * 256, 1, minv, delta, list(range(256)), 8)  # book 1
    ws.w(0, 6)
    ws.w(0, 16)
    ws.w(0, 6)   # 1 floor
    ws.w(1, 16)
    ws.w(0, 5)   # 0 partitions -> X list is just [0, 1<<rangebits]
    ws.w(4 - 1, 2)
    ws.w(6, 4)
    ws.w(0, 6)   # 1 residue
    ws.w(1, 16)
    ws.w(0, 24)
    ws.w(32, 24)
    ws.w(PSIZE - 1, 24)
    ws.w(2 - 1, 6)
    ws.w(0, 8)   # classbook = book 0
    ws.w(0, 3)
    ws.w(0, 1)   # class 0: silent
    ws.w(1, 3)
    ws.w(0, 1)   # class 1: pass 0
    ws.w(1, 8)   # -> book 1
    ws.w(0, 6)   # 1 mapping
    ws.w(0, 16)
    ws.w(0, 1)
    ws.w(0, 1)
    ws.w(0, 2)
    ws.w(0, 8)
    ws.w(0, 8)
    ws.w(0, 8)
    ws.w(0, 6)   # 1 mode (short)
    ws.w(0, 1)
    ws.w(0, 16)
    ws.w(0, 16)
    ws.w(0, 8)
    ws.w(1, 1)

    cbook = _codewords([2, 2, 2, 2])
    pkts = [wi.bytes(), _comment_packet(), ws.bytes()]
    for yv, r in zip(ys, resid):
        v = np.clip(np.round((r - minv) / delta), 0, 255).astype(int)
        wp = _W()
        wp.w(0, 1)           # audio (1 mode -> zero mode bits)
        wp.w(1, 1)           # floor nonzero
        wp.w(yv, 6)
        wp.w(yv, 6)
        for pc in range(0, 4, 2):  # classwords cover 2 partitions each
            wp.code(*cbook[3])     # both partitions class 1
            for p in (pc, pc + 1):
                for kidx in range(p * PSIZE, (p + 1) * PSIZE):
                    wp.code(int(v[kidx]), 8)  # flat 8-bit book
        pkts.append(wp.bytes())
    return pkts


def test_fixture_encoder_real_clip_snr_and_phash():
    from travel_data_ingestion_spark.llm.multimodal import audio_phash_bytes
    from travel_data_ingestion_spark.queries.llm_multimodal import (
        _env_clip,
        _wav_pcm16,
    )

    clip = np.asarray(_env_clip(), dtype=np.float64)
    x = clip / 32768.0
    pkts = encode_pcm_mono(x)
    got = decode_vorbis(pkts, final_granule=len(x))
    assert got is not None and got[0] == RATE and got[1] == 1
    pcm = got[2][:, 0]
    assert pcm.shape[0] == len(x)
    err = pcm - x
    snr = 10 * np.log10((x ** 2).mean() / max((err ** 2).mean(), 1e-30))
    assert snr > 25.0, snr  # real lossy coding, not noise
    # the Ogg-wrapped stream joins the audio near-dup clique
    ogg = _mux(pkts, final_granule=len(x))
    h_v = audio_phash_bytes(ogg)
    h_w = audio_phash_bytes(_wav_pcm16(clip.astype("int64")))
    assert bin((h_v ^ h_w) & ((1 << 64) - 1)).count("1") <= 3


# ---------------------------------------------------------------------------
# tests


def test_imdct_fft_matches_direct_matrix():
    rng = np.random.RandomState(3)
    for n in (64, 256, 2048):
        X = rng.randn(n // 2)
        np.testing.assert_allclose(_imdct(X, n), _imdct_direct(X, n),
                                   atol=1e-9)


def test_inverse_db_table_pins_published_anchors():
    t = _inverse_db_table()
    # the spec's printed values (7 significant digits)
    assert t[0] == pytest.approx(1.0649863e-07, rel=1e-6)
    assert t[1] == pytest.approx(1.1341951e-07, rel=1e-6)
    assert t[2] == pytest.approx(1.2079015e-07, rel=1e-6)
    assert t[3] == pytest.approx(1.2863978e-07, rel=1e-6)
    assert t[255] == 1.0
    assert np.all(np.diff(t) > 0)


def test_mono_short_blocks_roundtrip():
    rng = random.Random(5)
    frames = [_rand_frame(rng, False, 1, 1) for _ in range(6)]
    pkts = _make_stream(frames, 1)
    got = decode_vorbis(pkts)
    assert got is not None
    rate, ch, pcm = got
    assert rate == RATE and ch == 1
    exp = _expected_pcm(frames, 1, 1, False)
    assert pcm.shape == exp.shape
    np.testing.assert_allclose(pcm, exp, atol=1e-9)


def test_long_short_transitions_roundtrip():
    rng = random.Random(11)
    pattern = [False, True, True, False, False, True, False]
    frames = [_rand_frame(rng, lng, 1, 1) for lng in pattern]
    pkts = _make_stream(frames, 1)
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm(frames, 1, 1, False)
    assert got[2].shape == exp.shape
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_stereo_coupled_type2_roundtrip():
    rng = random.Random(23)
    frames = [_rand_frame(rng, b, 2, 2) for b in
              (False, False, True, False)]
    pkts = _make_stream(frames, 2, res_type=2, coupling=True)
    got = decode_vorbis(pkts)
    assert got is not None
    assert got[1] == 2
    exp = _expected_pcm(frames, 2, 2, True)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_unused_channel_floor_zero():
    rng = random.Random(31)
    frames = []
    for b in (False, False, False):
        fr = _rand_frame(rng, b, 2, 1)
        fr.posts[1] = None  # channel 1 silent: floor nonzero bit = 0
        frames.append(fr)
    pkts = _make_stream(frames, 2)
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm(frames, 2, 1, False)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)
    assert np.abs(got[2][:, 1]).max() == 0.0


def test_granule_trims_tail():
    rng = random.Random(41)
    frames = [_rand_frame(rng, False, 1, 1) for _ in range(4)]
    pkts = _make_stream(frames, 1)
    full = decode_vorbis(pkts)
    trimmed = decode_vorbis(pkts, final_granule=50)
    assert full[2].shape[0] == 3 * (N0 // 2)  # centers span 3 gaps
    assert trimmed[2].shape[0] == 50
    np.testing.assert_allclose(trimmed[2], full[2][:50])


def test_truncated_audio_packet_zeroes_remainder():
    rng = random.Random(53)
    frames = [_rand_frame(rng, False, 1, 1) for _ in range(3)]
    pkts = _make_stream(frames, 1)
    # cut the middle audio packet right after the mode+floor header:
    # spec says EOP during audio decode zeros the remaining spectrum
    silent = _Frame(False, [frames[1].posts[0]],
                    [[0] * len(frames[1].res_classes[0])],
                    [[None] * len(frames[1].res_classes[0])])
    w = _W()
    w.w(0, 1)
    w.w(0, 1)
    w.w(1, 1)
    w.w(silent.posts[0][0], 6)
    w.w(silent.posts[0][1], 6)
    fbook = _codewords(FLOOR_BOOK_LENS)
    for y in silent.posts[0][2:]:
        w.code(*fbook[y])
    pkts[4] = w.bytes()  # residue bits absent entirely
    got = decode_vorbis(pkts)
    assert got is not None
    exp = _expected_pcm([frames[0], silent, frames[2]], 1, 1, False)
    np.testing.assert_allclose(got[2], exp, atol=1e-9)


def test_through_ogg_container_and_decode_audio():
    from travel_data_ingestion_spark.llm.multimodal import decode_audio

    rng = random.Random(61)
    frames = [_rand_frame(rng, b, 2, 2) for b in
              (False, True, False, False, True)]
    pkts = _make_stream(frames, 2, res_type=2, coupling=True)
    exp = _expected_pcm(frames, 2, 2, True)
    ogg = _mux(pkts, serial=0xDEAD, final_granule=exp.shape[0])
    got = decode_audio(ogg)
    assert got is not None
    rate, ch, pcm = got
    assert rate == RATE and ch == 2
    np.testing.assert_allclose(pcm, exp, atol=1e-9)


def test_hostile_packets_total():
    rng = random.Random(97)
    for _ in range(30):
        pkts = [bytes(rng.randrange(256) for _ in range(rng.randrange(60)))
                for _ in range(rng.randrange(6))]
        assert decode_vorbis(pkts) is None
    # valid headers + garbage audio packets must not raise
    frames = [_rand_frame(random.Random(1), False, 1, 1)]
    pkts = _make_stream(frames, 1)
    for _ in range(20):
        bad = pkts[:3] + [bytes(rng.randrange(256)
                                for _ in range(rng.randrange(40)))]
        decode_vorbis(bad)  # any result, no exception

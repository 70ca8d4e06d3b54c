"""ISOBMFF metadata probes (MP4/MOV/M4A/AVIF/HEIC).

Two evidence classes:
- hand-built boxes from the ISO 14496-12 grammar (independent writer
  below) pin the walker's field offsets — including the case that
  breaks naive parsers: a HEIF whose thumbnail carries its own ispe,
  where only the ipma association gives the primary item's true dims;
- REAL files produced by the system libheif (HEVC via x265, AV1 via
  aom) anchor the probes against a production encoder.
"""

from __future__ import annotations

import ctypes as c
import os
import struct
import tempfile

import numpy as np
import pytest

from travel_data_ingestion_spark.llm.isobmff import (
    probe_dims,
    probe_heif,
    probe_mp4,
)

_LIBHEIF = "/usr/lib/x86_64-linux-gnu/libheif.so.1"


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(fourcc, bytes([version]) + flags.to_bytes(3, "big") + body)


def _mp4(video=True, audio=True, timescale=1000, duration=2500) -> bytes:
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    traks = b""
    if video:
        stsd_entry = _box(
            b"avc1",
            bytes(6) + struct.pack(">H", 1)          # data ref index
            + bytes(16)                               # pre-defined/reserved
            + struct.pack(">HH", 320, 180)            # width height
            + bytes(50),                              # resolution etc.
        )
        stbl = (
            _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
            + _full(b"stsz", 0, 0, struct.pack(">II", 0, 75))
        )
        mdia = (
            _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, 30000, 75000, 0, 0))
            + _full(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12) + b"v\x00")
            + _box(b"minf", _box(b"stbl", stbl))
        )
        traks += _box(b"trak", _box(b"mdia", mdia))
    if audio:
        stsd_entry = _box(
            b"mp4a",
            bytes(6) + struct.pack(">H", 1)
            + bytes(8)                                # reserved
            + struct.pack(">HH", 2, 16)               # channels bits
            + bytes(4)                                # predefined/reserved
            + struct.pack(">I", 44100 << 16),         # rate 16.16
        )
        stbl = (
            _full(b"stsd", 0, 0, struct.pack(">I", 1) + stsd_entry)
            + _full(b"stsz", 0, 0, struct.pack(">II", 0, 108))
        )
        mdia = (
            _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, 44100, 110250, 0, 0))
            + _full(b"hdlr", 0, 0, bytes(4) + b"soun" + bytes(12) + b"s\x00")
            + _box(b"minf", _box(b"stbl", stbl))
        )
        traks += _box(b"trak", _box(b"mdia", mdia))
    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration) + bytes(80),
    )
    return ftyp + _box(b"moov", mvhd + traks) + _box(b"mdat", bytes(16))


def test_mp4_probe_fields():
    dur, tracks = probe_mp4(_mp4())
    assert dur == 2.5
    vid = [t for t in tracks if t["kind"] == "video"][0]
    assert vid["codec"] == "avc1"
    assert (vid["width"], vid["height"]) == (320, 180)
    assert vid["n_samples"] == 75  # frame count from stsz
    assert vid["duration_s"] == 75000 / 30000
    aud = [t for t in tracks if t["kind"] == "audio"][0]
    assert aud["codec"] == "mp4a"
    assert (aud["sample_rate"], aud["n_channels"]) == (44100, 2)
    assert aud["duration_s"] == 2.5
    assert probe_dims(_mp4()) == (320, 180)
    from travel_data_ingestion_spark.llm.multimodal import decode_audio

    assert decode_audio(_mp4(video=False)) is None  # AAC PCM honestly gated


def _heif(primary_ispe=(640, 480), thumb_ispe=(64, 48)) -> bytes:
    """Minimal AVIF meta: primary av01 item + a thumbnail with its OWN
    ispe — dims must come from the ipma association, not 'first ispe'."""
    ftyp = _box(b"ftyp", b"avif" + struct.pack(">I", 0) + b"avifmif1miaf")
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    infes = (
        _full(b"infe", 2, 0, struct.pack(">HH", 1, 0) + b"av01" + b"\x00")
        + _full(b"infe", 2, 0, struct.pack(">HH", 2, 0) + b"av01" + b"\x00")
    )
    iinf = _full(b"iinf", 0, 0, struct.pack(">H", 2) + infes)
    # ipco: thumbnail ispe FIRST so naive first-ispe parsers fail
    ipco = _box(
        b"ipco",
        _full(b"ispe", 0, 0, struct.pack(">II", *thumb_ispe))
        + _full(b"ispe", 0, 0, struct.pack(">II", *primary_ispe)),
    )
    # ipma: item 1 -> property 2 (primary ispe), item 2 -> property 1
    ipma = _full(
        b"ipma", 0, 0,
        struct.pack(">I", 2)
        + struct.pack(">H", 1) + bytes([1, 2])
        + struct.pack(">H", 2) + bytes([1, 1]),
    )
    meta = _full(b"meta", 0, 0, pitm + iinf + _box(b"iprp", ipco + ipma))
    return ftyp + meta


def test_heif_dims_use_primary_item_association():
    codec, w, h, n_items = probe_heif(_heif())
    assert codec == "av01"
    assert (w, h) == (640, 480)  # NOT the thumbnail's (64, 48)
    assert n_items == 2
    assert probe_dims(_heif()) == (640, 480)


def test_extract_features_reports_header_dims_for_gated_heif(spark):
    from travel_data_ingestion_spark.llm.multimodal import (
        decode_image,
        extract_features,
    )

    payload = _heif()
    assert decode_image(payload) is None  # AV1 pixels honestly gated
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, payload binary"
    )
    row = extract_features(media).collect()[0]
    assert (row.width, row.height) == (640, 480)  # header-true, not stub


def test_hostile_bytes_total():
    import random

    rng = random.Random(11)
    for n in (0, 8, 16, 64, 512):
        blob = bytes(rng.randrange(256) for _ in range(n))
        for probe in (probe_mp4, probe_heif, probe_dims):
            probe(blob)
            probe(b"\x00\x00\x00\x10ftypavif" + blob)
            probe(b"\x00\x00\x00\x10ftypisom" + blob)
    # box bomb: a moov of thousands of tiny boxes must terminate
    bomb = (b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00"
            + _box(b"moov", _box(b"free", bytes(4)) * 100000))
    assert probe_mp4(bomb) is not None  # returns (possibly empty), no hang


# ---------------------------------------------------------------------------
# real libheif files


def _heif_encode(fmt: int, rgb: np.ndarray) -> bytes:
    """Encode RGB via the system libheif (1 = HEVC/x265, 4 = AV1/aom)."""
    lib = c.CDLL(_LIBHEIF)

    class Err(c.Structure):
        _fields_ = [("code", c.c_int), ("subcode", c.c_int),
                    ("message", c.c_char_p)]

    def sig(n, res, args):
        f = getattr(lib, n)
        f.restype = res
        f.argtypes = args
        return f

    ctx_alloc = sig("heif_context_alloc", c.c_void_p, [])
    get_enc = sig("heif_context_get_encoder_for_format", Err,
                  [c.c_void_p, c.c_int, c.POINTER(c.c_void_p)])
    img_create = sig("heif_image_create", Err,
                     [c.c_int, c.c_int, c.c_int, c.c_int,
                      c.POINTER(c.c_void_p)])
    add_plane = sig("heif_image_add_plane", Err,
                    [c.c_void_p, c.c_int, c.c_int, c.c_int, c.c_int])
    get_plane = sig("heif_image_get_plane", c.POINTER(c.c_uint8),
                    [c.c_void_p, c.c_int, c.POINTER(c.c_int)])
    set_q = sig("heif_encoder_set_lossy_quality", Err, [c.c_void_p, c.c_int])
    set_param = sig("heif_encoder_set_parameter_string", Err,
                    [c.c_void_p, c.c_char_p, c.c_char_p])
    encode = sig("heif_context_encode_image", Err,
                 [c.c_void_p, c.c_void_p, c.c_void_p, c.c_void_p,
                  c.POINTER(c.c_void_p)])
    write_file = sig("heif_context_write_to_file", Err,
                     [c.c_void_p, c.c_char_p])

    h, w, _ = rgb.shape
    ctx = ctx_alloc()
    enc = c.c_void_p()
    assert get_enc(ctx, fmt, c.byref(enc)).code == 0
    img = c.c_void_p()
    assert img_create(w, h, 1, 10, c.byref(img)).code == 0
    assert add_plane(img, 10, w, h, 8).code == 0
    stride = c.c_int()
    p = get_plane(img, 10, c.byref(stride))
    buf = np.ctypeslib.as_array(p, shape=(h, stride.value))
    for row in range(h):
        buf[row, : w * 3] = rgb[row].reshape(-1)
    set_q(enc, 90)
    set_param(enc, b"chroma", b"444")  # keep chroma-rich tests honest
    handle = c.c_void_p()
    assert encode(ctx, img, enc, None, c.byref(handle)).code == 0
    fd, path = tempfile.mkstemp(suffix=".heif")
    os.close(fd)
    try:
        assert write_file(ctx, path.encode()).code == 0
        return open(path, "rb").read()
    finally:
        os.unlink(path)


def _gradient(w: int = 40, h: int = 24) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 5) % 256, (yy * 7) % 256, ((xx + yy) * 3) % 256], axis=-1
    ).astype(np.uint8)


needs_libheif = pytest.mark.skipif(
    not os.path.exists(_LIBHEIF), reason="system libheif not present"
)


@needs_libheif
def test_probe_real_libheif_files():
    rgb = _gradient()
    avif = _heif_encode(4, rgb)
    heic = _heif_encode(1, rgb)
    assert avif[4:12] == b"ftypavif" and heic[4:12] == b"ftypheic"
    codec, w, h, _n = probe_heif(avif)
    assert codec == "av01" and (w, h) == (40, 24)
    codec, w, h, _n = probe_heif(heic)
    # libheif tiles HEVC stills as a grid of hvc1 items (iPhone layout)
    assert codec in ("hvc1", "grid:hvc1") and (w, h) == (40, 24)

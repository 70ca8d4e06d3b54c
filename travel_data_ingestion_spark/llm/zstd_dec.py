"""Zstandard decompression via the SYSTEM libzstd — ``zstd`` HTTP
content coding (RFC 8878) and ``.tar.zst`` training-data shards.

Modern training corpora increasingly ship zstd-compressed (WebDataset
shards, The-Pile-style jsonl dumps), and ``Content-Encoding: zstd``
is standardized for HTTP; CPython has no zstd in the stdlib, so like
llm/brotli_dec.py this adapter drives the installed libzstd.so.1
through ctypes: ZSTD_createDCtx + ZSTD_decompressStream over the
public ZSTD_inBuffer/ZSTD_outBuffer structs, output in bounded chunks
so a zstd bomb stops at the caller's cap.

``zstd_decompress`` is total (malformed/truncated/over-cap/missing
library -> None); ``available()`` lets tests skip rather than fake.
Multi-frame streams decode end-to-end (concatenated frames are legal
zstd and common in dumps)."""

from __future__ import annotations

import ctypes

_CHUNK = 1 << 18


class _InBuf(ctypes.Structure):
    _fields_ = [("src", ctypes.c_void_p), ("size", ctypes.c_size_t),
                ("pos", ctypes.c_size_t)]


class _OutBuf(ctypes.Structure):
    _fields_ = [("dst", ctypes.c_void_p), ("size", ctypes.c_size_t),
                ("pos", ctypes.c_size_t)]


_LIB: ctypes.CDLL | None | bool = None


def _load():
    global _LIB
    if _LIB is not None:
        return _LIB or None
    try:
        import ctypes.util

        lib = None
        for cand in ("/usr/lib/x86_64-linux-gnu/libzstd.so.1",
                     ctypes.util.find_library("zstd")):
            if not cand:
                continue
            try:
                lib = ctypes.CDLL(cand)
                break
            except OSError:
                continue
        if lib is None:
            _LIB = False
            return None
        lib.ZSTD_createDCtx.restype = ctypes.c_void_p
        lib.ZSTD_freeDCtx.argtypes = [ctypes.c_void_p]
        lib.ZSTD_decompressStream.restype = ctypes.c_size_t
        lib.ZSTD_decompressStream.argtypes = [
            ctypes.c_void_p, ctypes.POINTER(_OutBuf),
            ctypes.POINTER(_InBuf)]
        lib.ZSTD_isError.restype = ctypes.c_uint
        lib.ZSTD_isError.argtypes = [ctypes.c_size_t]
        _LIB = lib
        return lib
    except (OSError, AttributeError):
        _LIB = False
        return None


def available() -> bool:
    return _load() is not None


def zstd_decompress(data: bytes, max_out: int) -> bytes | None:
    """Decompress zstd frames (concatenated frames decode through), or
    None (malformed, truncated, over ``max_out``, or no library)."""
    lib = _load()
    if lib is None or not data:
        return None
    dctx = lib.ZSTD_createDCtx()
    if not dctx:
        return None
    try:
        src = (ctypes.c_ubyte * len(data)).from_buffer_copy(data)
        inb = _InBuf(ctypes.cast(src, ctypes.c_void_p), len(data), 0)
        out = bytearray()
        buf = (ctypes.c_ubyte * _CHUNK)()
        ret = 0
        while inb.pos < inb.size:
            outb = _OutBuf(ctypes.cast(buf, ctypes.c_void_p), _CHUNK, 0)
            ret = lib.ZSTD_decompressStream(
                dctx, ctypes.byref(outb), ctypes.byref(inb))
            if lib.ZSTD_isError(ret):
                return None
            if outb.pos:
                out += bytes(buf[: outb.pos])
                if len(out) > max_out:
                    return None  # bomb cap
        # input exhausted; ret != 0 means the frame expects more —
        # flush any buffered output, then judge truncation
        while ret != 0:
            outb = _OutBuf(ctypes.cast(buf, ctypes.c_void_p), _CHUNK, 0)
            ret = lib.ZSTD_decompressStream(
                dctx, ctypes.byref(outb), ctypes.byref(inb))
            if lib.ZSTD_isError(ret):
                return None
            if not outb.pos:
                return None  # wants more input: truncated stream
            out += bytes(buf[: outb.pos])
            if len(out) > max_out:
                return None
        return bytes(out)
    finally:
        lib.ZSTD_freeDCtx(dctx)

"""Brotli decompression via the SYSTEM libbrotlidec — ``br`` content
coding for the crawl stack.

Real crawls are full of ``Content-Encoding: br`` responses (brotli is
the default for most CDNs), and WARC stores the wire bytes, so a
text-extraction pipeline that cannot undo brotli silently drops a
large slice of the modern web. CPython has no brotli in the stdlib;
this adapter drives the installed libbrotlidec.so.1 (public C API,
plain-argument functions) through ctypes:

- ``BrotliDecoderCreateInstance`` / ``DestroyInstance`` per call;
- ``BrotliDecoderDecompressStream`` in bounded output chunks, so a
  brotli bomb stops at the caller's cap instead of materializing.

``brotli_decompress`` is total: malformed input, truncated streams,
over-cap output, or a missing library all return None (the caller —
llm/warc.py — treats that as an undecodable record, its contract for
every content coding). ``available()`` reports whether the library
loaded, so tests can skip rather than fake."""

from __future__ import annotations

import ctypes

_RESULT_ERROR = 0
_RESULT_SUCCESS = 1
_RESULT_NEEDS_MORE_INPUT = 2
_RESULT_NEEDS_MORE_OUTPUT = 3

_CHUNK = 1 << 18  # 256 KiB output chunks

_LIB: ctypes.CDLL | None | bool = None  # False = tried and failed


def _load():
    global _LIB
    if _LIB is not None:
        return _LIB or None
    try:
        import ctypes.util

        cand = ("/usr/lib/x86_64-linux-gnu/libbrotlidec.so.1",
                ctypes.util.find_library("brotlidec"))
        lib = None
        for c in cand:
            if not c:
                continue
            try:
                lib = ctypes.CDLL(c)
                break
            except OSError:
                continue
        if lib is None:
            _LIB = False
            return None
        lib.BrotliDecoderCreateInstance.restype = ctypes.c_void_p
        lib.BrotliDecoderCreateInstance.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p]
        lib.BrotliDecoderDestroyInstance.argtypes = [ctypes.c_void_p]
        lib.BrotliDecoderDecompressStream.restype = ctypes.c_int
        lib.BrotliDecoderDecompressStream.argtypes = [
            ctypes.c_void_p,
            ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_size_t),
            ctypes.POINTER(ctypes.POINTER(ctypes.c_ubyte)),
            ctypes.POINTER(ctypes.c_size_t),
        ]
        _LIB = lib
        return lib
    except (OSError, AttributeError):
        _LIB = False
        return None


def available() -> bool:
    return _load() is not None


def brotli_decompress(data: bytes, max_out: int) -> bytes | None:
    """Decompress a brotli stream, or None (malformed, truncated,
    output over ``max_out``, or library unavailable)."""
    lib = _load()
    if lib is None or not data:
        return None
    state = lib.BrotliDecoderCreateInstance(None, None, None)
    if not state:
        return None
    try:
        src = (ctypes.c_ubyte * len(data)).from_buffer_copy(data)
        avail_in = ctypes.c_size_t(len(data))
        next_in = ctypes.cast(src, ctypes.POINTER(ctypes.c_ubyte))
        out = bytearray()
        buf = (ctypes.c_ubyte * _CHUNK)()
        total = ctypes.c_size_t(0)
        while True:
            avail_out = ctypes.c_size_t(_CHUNK)
            next_out = ctypes.cast(buf, ctypes.POINTER(ctypes.c_ubyte))
            res = lib.BrotliDecoderDecompressStream(
                state, ctypes.byref(avail_in), ctypes.byref(next_in),
                ctypes.byref(avail_out), ctypes.byref(next_out),
                ctypes.byref(total),
            )
            produced = _CHUNK - avail_out.value
            if produced:
                out += bytes(buf[:produced])
                if len(out) > max_out:
                    return None  # bomb cap
            if res == _RESULT_SUCCESS:
                return bytes(out)
            if res == _RESULT_NEEDS_MORE_OUTPUT:
                continue
            # NEEDS_MORE_INPUT on a complete buffer = truncated stream;
            # ERROR = malformed
            return None
    finally:
        lib.BrotliDecoderDestroyInstance(state)

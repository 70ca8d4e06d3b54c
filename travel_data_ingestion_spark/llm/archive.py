"""Archive-shard ingestion: tar (WebDataset) and zip members.

Sharded multimodal training data ships as tar files whose members
group into samples by basename — the WebDataset convention
(``000123.jpg`` + ``000123.txt`` + ``000123.json`` = one sample, key
``000123``); crawl dumps and document collections ship as zips. Both
open with stdlib (tarfile/zipfile over BytesIO) — the engine-side work
is the Spark shape, and it is the same shape as WARC: one shard = one
binary payload = one map task, members/samples explode into typed rows
and raw bytes only cross the Python boundary once.

Totality: corrupt archives yield the members that parsed (tar) or an
empty list (zip central-directory damage); per-member and per-archive
byte caps bound decompression bombs. Symlinks/devices/dirs are
skipped; absolute paths and ``..`` components are sanitized AND
REPORTED (``unsafe_path``) rather than extracted blindly — archives
from a crawl are hostile input.
"""

from __future__ import annotations

import io
import posixpath
import tarfile
import zipfile

MAX_MEMBER_BYTES = 1 << 26  # 64 MiB per member
MAX_ARCHIVE_OUT = 1 << 28  # 256 MiB total extracted per archive


def _safe(name: str) -> tuple[str, bool]:
    """(normalized member path, was_unsafe): strips drive/root and any
    '..' traversal, collapses separators."""
    n = name.replace("\\", "/")
    unsafe = n.startswith("/") or ".." in n.split("/")
    n = posixpath.normpath(n.lstrip("/"))
    parts = [p for p in n.split("/") if p not in ("", "..", ".")]
    return "/".join(parts), unsafe


def iter_members(payload: bytes):
    """Yield (path, data, unsafe_path) for each regular-file member of
    a tar (plain or gzipped — tarfile sniffs) or zip payload. Never
    raises; stops at corruption."""
    total = 0
    try:
        if payload[:4] == b"PK\x03\x04" or payload[:4] == b"PK\x05\x06":
            with zipfile.ZipFile(io.BytesIO(payload)) as zf:
                for info in zf.infolist():
                    if info.is_dir():
                        continue
                    if info.file_size > MAX_MEMBER_BYTES:
                        continue
                    total += info.file_size
                    if total > MAX_ARCHIVE_OUT:
                        return
                    path, unsafe = _safe(info.filename)
                    try:
                        yield path, zf.read(info), unsafe
                    except (zipfile.BadZipFile, NotImplementedError,
                            RuntimeError):
                        continue
            return
        if payload[:4] == b"\x28\xb5\x2f\xfd" or (
            len(payload) >= 4
            and payload[1:4] == b"\x2a\x4d\x18"
            and 0x50 <= payload[0] <= 0x5F
        ):
            # .tar.zst — the WebDataset/training-shard compression the
            # stdlib tarfile cannot sniff; the system libzstd undoes
            # the framing under the whole-archive cap, then the tar
            # walk below proceeds unchanged. A zstd file may legally
            # open with a SKIPPABLE frame (magic 0x184D2A50..5F LE,
            # seek tables etc.) before the first standard frame —
            # ZSTD_decompressStream skips those, so sniff them too.
            from travel_data_ingestion_spark.llm.zstd_dec import (
                zstd_decompress,
            )

            payload = zstd_decompress(payload, MAX_ARCHIVE_OUT)
            if payload is None:
                return
        with tarfile.open(fileobj=io.BytesIO(payload), mode="r:*") as tf:
            while True:
                try:
                    info = tf.next()
                except (tarfile.TarError, EOFError, OSError):
                    return
                if info is None:
                    return
                if not info.isreg() or info.size > MAX_MEMBER_BYTES:
                    continue
                total += info.size
                if total > MAX_ARCHIVE_OUT:
                    return
                f = tf.extractfile(info)
                if f is None:
                    continue
                path, unsafe = _safe(info.name)
                yield path, f.read(), unsafe
    except (tarfile.TarError, zipfile.BadZipFile, EOFError, OSError,
            ValueError):
        return


def _sample_key(path: str) -> tuple[str, str]:
    """WebDataset grouping: key = path without the (last) extension,
    component = the extension (lowercased; '' when none)."""
    base, dot, ext = path.rpartition(".")
    if not dot:
        return path, ""
    return base, ext.lower()


def webdataset_samples(df, payload_col: str = "payload",
                       text_exts: tuple = ("txt", "cls")):
    """Group a tar shard's members into WebDataset samples: one row per
    sample key with the component extensions, sizes, and the decoded
    text of text-class components (the caption/label path) —
    (archive_id, sample_key, n_components, extensions csv,
    total_bytes, text). Binary components (images/audio) and json
    metadata contribute size only; pair this with the media decode
    operators by exploding members instead when pixels are needed."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("archive_id", T.LongType()),
            T.StructField("sample_key", T.StringType()),
            T.StructField("n_components", T.IntegerType()),
            T.StructField("extensions", T.StringType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    cols = df.select("archive_id", payload_col)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k.name: [] for k in schema.fields}
            for aid, payload in zip(pdf["archive_id"], pdf[payload_col]):
                samples: dict[str, dict] = {}
                order: list[str] = []
                for path, data, _unsafe in iter_members(bytes(payload)):
                    key, ext = _sample_key(path)
                    if key not in samples:
                        samples[key] = {"exts": [], "bytes": 0, "text": []}
                        order.append(key)
                    s = samples[key]
                    s["exts"].append(ext)
                    s["bytes"] += len(data)
                    if ext in text_exts:
                        s["text"].append(
                            data.decode("utf-8", "replace").strip()
                        )
                for key in order:
                    s = samples[key]
                    out["archive_id"].append(aid)
                    out["sample_key"].append(key)
                    out["n_components"].append(len(s["exts"]))
                    out["extensions"].append(",".join(sorted(s["exts"])))
                    out["total_bytes"].append(s["bytes"])
                    out["text"].append("\n".join(s["text"]) or None)
            yield pd.DataFrame(
                {
                    "archive_id": pd.array(out["archive_id"], dtype="int64"),
                    "sample_key": out["sample_key"],
                    "n_components": pd.array(out["n_components"],
                                             dtype="int32"),
                    "extensions": out["extensions"],
                    "total_bytes": pd.array(out["total_bytes"],
                                            dtype="int64"),
                    "text": out["text"],
                }
            )

    return cols.mapInPandas(batches, schema=schema)

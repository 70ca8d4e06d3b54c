"""ISOBMFF (ISO/IEC 14496-12) box walker — header-true metadata for
the MP4/MOV/M4A/AVIF/HEIC container family, no payload decode.

One parser covers the modern-crawl container family, because they all
share the box grammar: ``probe_mp4`` walks ``moov`` for duration,
per-track codec fourcc, video dimensions, audio rate/channels, and
sample (frame) counts; ``probe_heif`` walks ``meta`` for the primary
item, its codec (``av01``/``hvc1``), and its ``ispe`` dimensions via
the ``ipma`` property associations (thumbnails carry their own ispe,
so association matters — taking "any ispe" returns thumbnail dims on
real iPhone files).

What stays honestly gated: pixel/PCM decode. AV1 (AVIF), HEVC (HEIC),
H.264/AAC (MP4/M4A) payloads need normative tables and reference
decoders this environment cannot reproduce or verify from scratch —
the same gate class as mp3 (``multimodal.decode_audio``). The metadata here
is what a training-data pipeline filters on before spending decode:
dimensions, duration, codec, track shape.

Every reader is total: malformed/hostile bytes return None, never
raise; box recursion is depth- and count-capped (box bombs).
"""

from __future__ import annotations

import struct


def _boxes(data: bytes, start: int, end: int, depth: int = 0):
    """Yield (fourcc, body_start, body_end) for each box in a range;
    tolerant of a truncated final box (skipped)."""
    pos = start
    count = 0
    while pos + 8 <= end:
        count += 1
        if count > 4096 or depth > 12:
            return  # box bomb
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        fourcc = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            return
        yield fourcc, body, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, fourcc: bytes,
          depth: int = 0):
    for fc, a, b in _boxes(data, start, end, depth):
        if fc == fourcc:
            return a, b
    return None


def probe_mp4(payload: bytes):
    """Metadata for an MP4/MOV/M4A payload:
    ``(duration_s, tracks)`` where tracks is a list of dicts with
    ``kind`` ('video'/'audio'/other hdlr), ``codec`` (stsd fourcc),
    ``width``/``height`` (video), ``sample_rate``/``n_channels``
    (audio), ``n_samples`` (stsz count — frame count for video), and
    ``duration_s`` (per-track mdhd clock). None if not ISOBMFF."""
    try:
        if len(payload) < 16 or payload[4:8] != b"ftyp":
            return None
        n = len(payload)
        moov = _find(payload, 0, n, b"moov")
        if moov is None:
            return None
        a, b = moov
        duration = None
        mvhd = _find(payload, a, b, b"mvhd", 1)
        if mvhd is not None:
            ma, mb = mvhd
            ver = payload[ma]
            if ver == 1 and mb - ma >= 32:
                ts, dur = struct.unpack(">IQ", payload[ma + 20 : ma + 32])
            elif mb - ma >= 24:
                ts, dur = struct.unpack(">II", payload[ma + 12 : ma + 20])
            else:
                ts = dur = 0
            if ts:
                duration = dur / ts
        tracks = []
        for fc, ta, tb in _boxes(payload, a, b, 1):
            if fc != b"trak":
                continue
            tracks.append(_track(payload, ta, tb))
        return duration, [t for t in tracks if t is not None]
    except (struct.error, ValueError, IndexError, OverflowError):
        return None


def _track(payload: bytes, ta: int, tb: int):
    mdia = _find(payload, ta, tb, b"mdia", 2)
    if mdia is None:
        return None
    ma, mb = mdia
    out: dict = {"kind": None, "codec": None, "width": None, "height": None,
                 "sample_rate": None, "n_channels": None, "n_samples": None,
                 "duration_s": None}
    hdlr = _find(payload, ma, mb, b"hdlr", 3)
    if hdlr is not None:
        ha, _hb = hdlr
        handler = payload[ha + 8 : ha + 12]
        out["kind"] = {b"vide": "video", b"soun": "audio"}.get(
            handler, handler.decode("latin1").strip()
        )
    mdhd = _find(payload, ma, mb, b"mdhd", 3)
    if mdhd is not None:
        ha, hb = mdhd
        ver = payload[ha]
        if ver == 1 and hb - ha >= 32:
            ts, dur = struct.unpack(">IQ", payload[ha + 20 : ha + 32])
        elif hb - ha >= 24:
            ts, dur = struct.unpack(">II", payload[ha + 12 : ha + 20])
        else:
            ts = dur = 0
        if ts:
            out["duration_s"] = dur / ts
    minf = _find(payload, ma, mb, b"minf", 3)
    if minf is None:
        return out
    stbl = _find(payload, minf[0], minf[1], b"stbl", 4)
    if stbl is None:
        return out
    sa, sb = stbl
    stsd = _find(payload, sa, sb, b"stsd", 5)
    if stsd is not None:
        da, db = stsd
        # fullbox (4) + entry_count (4), then sample entries
        for fc, ea, eb in _boxes(payload, da + 8, db, 6):
            out["codec"] = fc.decode("latin1")
            # SampleEntry: 6 reserved + 2 data_reference_index
            if out["kind"] == "video" and eb - ea >= 78:
                w, h = struct.unpack(">HH", payload[ea + 24 : ea + 28])
                out["width"], out["height"] = w, h
            elif out["kind"] == "audio" and eb - ea >= 28:
                (ch, _bits) = struct.unpack(">HH", payload[ea + 16 : ea + 20])
                (rate_fixed,) = struct.unpack(">I", payload[ea + 24 : ea + 28])
                out["n_channels"] = ch
                out["sample_rate"] = rate_fixed >> 16
            break  # first entry describes the track
    stsz = _find(payload, sa, sb, b"stsz", 5)
    if stsz is not None and stsz[1] - stsz[0] >= 12:
        da, _db = stsz
        (count,) = struct.unpack(">I", payload[da + 8 : da + 12])
        out["n_samples"] = count
    return out


_HEIF_BRANDS = frozenset(
    (b"avif", b"avis", b"heic", b"heix", b"hevc", b"heim", b"heis",
     b"mif1", b"msf1")
)


def probe_heif(payload: bytes):
    """Metadata for an AVIF/HEIC payload: ``(codec, width, height,
    n_items)`` for the primary item — codec is the infe item type
    ('av01' for AVIF, 'hvc1' for HEIC), dims come from the ispe
    property ASSOCIATED to the primary item via ipma (not just any
    ispe: thumbnails have their own). None if not a HEIF brand."""
    try:
        n = len(payload)
        if n < 16 or payload[4:8] != b"ftyp":
            return None
        ft = _find(payload, 0, n, b"ftyp")
        brands = set()
        a, b = ft
        brands.add(payload[a : a + 4])
        for at in range(a + 8, b - 3, 4):
            brands.add(payload[at : at + 4])
        if not brands & _HEIF_BRANDS:
            return None
        meta = _find(payload, 0, n, b"meta")
        if meta is None:
            return None
        ma, mb = meta
        ma += 4  # fullbox version/flags
        # primary item
        pitm = _find(payload, ma, mb, b"pitm", 1)
        primary = None
        if pitm is not None:
            pa, pb = pitm
            ver = payload[pa]
            if ver == 0 and pb - pa >= 6:
                (primary,) = struct.unpack(">H", payload[pa + 4 : pa + 6])
            elif pb - pa >= 8:
                (primary,) = struct.unpack(">I", payload[pa + 4 : pa + 8])
        # item types
        item_types: dict[int, bytes] = {}
        iinf = _find(payload, ma, mb, b"iinf", 1)
        if iinf is not None:
            ia, ib = iinf
            for fc, ea, eb in _boxes(payload, ia + 4 + (2 if payload[ia] == 0 else 4), ib, 2):
                if fc != b"infe" or eb - ea < 12:
                    continue
                ver = payload[ea]
                if ver == 2:
                    (iid,) = struct.unpack(">H", payload[ea + 4 : ea + 6])
                    itype = payload[ea + 8 : ea + 12]
                elif ver == 3:
                    (iid,) = struct.unpack(">I", payload[ea + 4 : ea + 8])
                    itype = payload[ea + 10 : ea + 14]
                else:
                    continue
                item_types[iid] = itype
        # properties: ipco order matters (1-based indices in ipma)
        props: list[tuple[bytes, int, int]] = []
        iprp = _find(payload, ma, mb, b"iprp", 1)
        ipma_assoc: dict[int, list[int]] = {}
        if iprp is not None:
            pa, pb = iprp
            ipco = _find(payload, pa, pb, b"ipco", 2)
            if ipco is not None:
                props = list(_boxes(payload, ipco[0], ipco[1], 3))
            ipma = _find(payload, pa, pb, b"ipma", 2)
            if ipma is not None:
                ia, ib = ipma
                ver = payload[ia]
                flags = int.from_bytes(payload[ia + 1 : ia + 4], "big")
                at = ia + 4
                (entry_count,) = struct.unpack(">I", payload[at : at + 4])
                at += 4
                for _ in range(min(entry_count, 4096)):
                    if ver == 0:
                        (iid,) = struct.unpack(">H", payload[at : at + 2])
                        at += 2
                    else:
                        (iid,) = struct.unpack(">I", payload[at : at + 4])
                        at += 4
                    cnt = payload[at]
                    at += 1
                    idxs = []
                    for _k in range(cnt):
                        if flags & 1:
                            (v,) = struct.unpack(">H", payload[at : at + 2])
                            at += 2
                            idxs.append(v & 0x7FFF)
                        else:
                            idxs.append(payload[at] & 0x7F)
                            at += 1
                    ipma_assoc[iid] = idxs
        if primary is None and item_types:
            primary = min(item_types)
        codec = item_types.get(primary, b"").decode("latin1") or None
        if codec in ("grid", "iden", "iovl"):
            # derived image (iPhone HEICs are grids of hvc1 tiles):
            # resolve the coded codec through the iref 'dimg' reference
            iref = _find(payload, ma, mb, b"iref", 1)
            if iref is not None:
                ra, rb = iref
                ver = payload[ra]
                idw = 2 if ver == 0 else 4
                for fc, ea, eb in _boxes(payload, ra + 4, rb, 2):
                    if fc != b"dimg" or eb - ea < idw * 2 + 2:
                        continue
                    from_id = int.from_bytes(payload[ea : ea + idw], "big")
                    if from_id != primary:
                        continue
                    first_to = int.from_bytes(
                        payload[ea + idw + 2 : ea + idw + 2 + idw], "big"
                    )
                    tile = item_types.get(first_to, b"").decode("latin1")
                    if tile:
                        codec = f"{codec}:{tile}"
                    break
        width = height = None
        for idx in ipma_assoc.get(primary, []):
            if 1 <= idx <= len(props):
                fc, a2, b2 = props[idx - 1]
                if fc == b"ispe" and b2 - a2 >= 12:
                    width, height = struct.unpack(">II", payload[a2 + 4 : a2 + 12])
                    break
        if width is None and len(ipma_assoc) <= 1:
            # no/trivial associations: a sole ispe is unambiguous
            ispes = [p for p in props if p[0] == b"ispe"]
            if len(ispes) == 1:
                _fc, a2, b2 = ispes[0]
                if b2 - a2 >= 12:
                    width, height = struct.unpack(">II", payload[a2 + 4 : a2 + 12])
        return codec, width, height, len(item_types)
    except (struct.error, ValueError, IndexError, OverflowError):
        return None


def probe_dims(payload: bytes):
    """(width, height) from container headers of image/video formats
    whose pixel decode is gated here: HEIF primary item ispe, or the
    first MP4 video track. None when unknown."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    heif = probe_heif(payload)
    if heif is not None:
        _codec, w, h, _n = heif
        if w and h:
            return int(w), int(h)
        return None
    mp4 = probe_mp4(payload)
    if mp4 is not None:
        for t in mp4[1]:
            if t["kind"] == "video" and t["width"] and t["height"]:
                return int(t["width"]), int(t["height"])
    return None


"""ISO-BMFF (MP4/MOV) box-structure parsing — the container walk for
the video formats whose *codec* stream functions/h264meta.py already
reads, stdlib-pure.

A 100 TB crawl's video corpus arrives overwhelmingly as MP4 (ISO/IEC
14496-12 ISO base media file format): a flat sequence of length-
prefixed "boxes", some of which are pure containers (moov, trak,
mdia) whose payload is again a box sequence.  Curation triage wants
movie duration, track geometry, media language, and payload size
long before it wants pixels — and all of that lives in the box
structure and three "full boxes" (mvhd, tkhd, mdhd), not in the
codec stream.  Box framing per §4.2:

    size(u32) type(4cc) [largesize(u64) if size==1] payload...
    size==1 -> 64-bit largesize follows the type (huge mdat)
    size==0 -> box extends to the end of the file (last box only)

Full boxes prepend version(u8) + flags(u24); version 1 widens the
creation/modification/duration fields from 32 to 64 bits (mvhd
108->120, tkhd 92->104, mdhd 32->44 total bytes).  tkhd width and
height are 16.16 fixed point; mdhd language is three 5-bit chars
biased by 0x60 (ISO 639-2/T).  Unknown leaf boxes are SKIPPED by
their declared size (the format's own forward-compat rule) but still
counted; any size that overruns its container fails loudly with
Mp4Error — a truncated archive must never parse as a shorter valid
one (same fail-loud contract as functions/zipmeta.py).

Codec payload decode (the mdat bytes) stays behind the documented
native-codec seam in functions/imagecodec.py; the H.264 parameter
sets an avc1 sample entry carries are functions/h264meta.py's
domain.

Reference behavioral contract: the reference repo has no video path
(/root/reference/etl.py is a REST+LLM ETL); this extends the
beyond-reference multimodal surface of SURVEY.md §2.3 and completes
the container matrix (WARC, .warc.gz, ZIP, tar/WebDataset, ISO-BMFF).
"""

from __future__ import annotations

import struct

__all__ = [
    "Mp4Error",
    "CONTAINER_BOXES",
    "build_box",
    "build_mvhd",
    "build_tkhd",
    "build_mdhd",
    "build_hdlr",
    "build_mp4",
    "walk_boxes",
    "parse_mp4_meta",
    "LANG_CHOICES",
    "TIMESCALE_CHOICES",
]


class Mp4Error(ValueError):
    """Malformed ISO-BMFF payload (bad size, truncation, or field)."""


#: Container boxes whose payload is itself a box sequence (§8.1-8.4
#: subset this walk recurses into).
CONTAINER_BOXES = frozenset({b"moov", b"trak", b"mdia", b"minf", b"stbl", b"udta"})

TIMESCALE_CHOICES = (600, 1000, 90000, 48000)
LANG_CHOICES = ("und", "eng", "fra", "deu", "jpn")


def _pack_lang(code: str) -> int:
    """ISO 639-2/T three-letter code -> mdhd packed 15-bit field
    (three 5-bit chars, each char - 0x60)."""
    if len(code) != 3:
        raise Mp4Error(f"language code must be 3 chars: {code!r}")
    v = 0
    for ch in code:
        d = ord(ch) - 0x60
        if not 1 <= d <= 26:
            raise Mp4Error(f"language char out of a-z: {code!r}")
        v = (v << 5) | d
    return v


def _unpack_lang(v: int) -> str:
    return "".join(chr(((v >> s) & 0x1F) + 0x60) for s in (10, 5, 0))


def build_box(btype: bytes, payload: bytes, large: bool = False) -> bytes:
    """Frame ``payload`` as a box.  ``large=True`` forces the
    size==1 + 64-bit largesize form regardless of payload length."""
    if len(btype) != 4:
        raise Mp4Error(f"box type must be 4 bytes: {btype!r}")
    if large or len(payload) + 8 > 0xFFFFFFFF:
        return struct.pack(">I4sQ", 1, btype, len(payload) + 16) + payload
    return struct.pack(">I4s", len(payload) + 8, btype) + payload


def build_mvhd(timescale: int, duration: int, version: int = 0) -> bytes:
    """Movie header (§8.2.2): v0 108 bytes total, v1 120."""
    if version == 0:
        body = struct.pack(">II II", 0, 0, timescale, duration)
    elif version == 1:
        body = struct.pack(">QQ IQ", 0, 0, timescale, duration)
    else:
        raise Mp4Error(f"mvhd version {version} unsupported")
    body += struct.pack(">i h 10x", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
    body += _UNITY_MATRIX
    body += b"\x00" * 24  # pre_defined
    body += struct.pack(">I", 2)  # next_track_ID
    return build_box(b"mvhd", bytes([version]) + b"\x00\x00\x00" + body)


def build_tkhd(track_id: int, duration: int, width: int, height: int,
               version: int = 0) -> bytes:
    """Track header (§8.3.2): v0 92 bytes total, v1 104.  Width and
    height are stored 16.16 fixed point; flags = 7 (enabled, in
    movie, in preview)."""
    if version == 0:
        head = struct.pack(">II I 4x I", 0, 0, track_id, duration)
    elif version == 1:
        head = struct.pack(">QQ I 4x Q", 0, 0, track_id, duration)
    else:
        raise Mp4Error(f"tkhd version {version} unsupported")
    body = head + struct.pack(">8x hh h 2x", 0, 0, 0)  # layer, alt, volume
    body += _UNITY_MATRIX
    body += struct.pack(">II", width << 16, height << 16)
    return build_box(b"tkhd", bytes([version]) + b"\x00\x00\x07" + body)


def build_mdhd(timescale: int, duration: int, lang: str,
               version: int = 0) -> bytes:
    """Media header (§8.4.2): v0 32 bytes total, v1 44."""
    if version == 0:
        head = struct.pack(">II II", 0, 0, timescale, duration)
    elif version == 1:
        head = struct.pack(">QQ IQ", 0, 0, timescale, duration)
    else:
        raise Mp4Error(f"mdhd version {version} unsupported")
    body = head + struct.pack(">Hh", _pack_lang(lang), 0)
    return build_box(b"mdhd", bytes([version]) + b"\x00\x00\x00" + body)


def build_hdlr(handler: bytes, name: str) -> bytes:
    """Handler box (§8.4.3): handler_type 4cc + NUL-terminated name."""
    body = struct.pack(">4x 4s 12x", handler) + name.encode("ascii") + b"\x00"
    return build_box(b"hdlr", b"\x00\x00\x00\x00" + body)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)

_HANDLERS = ((b"vide", "VideoHandler"), (b"soun", "SoundHandler"))


def build_mp4(
    *,
    movie_timescale: int,
    duration: int,
    width: int,
    height: int,
    n_samples: int,
    sample_size: int,
    mdat_large: bool,
    free_pad: int,
    n_traks: int,
    lang: str,
    version: int,
) -> bytes:
    """Deterministic minimal-but-real ISO-BMFF file:

        ftyp(isom) moov{ mvhd trak{tkhd mdia{mdhd hdlr}} x n_traks }
        free mdat

    Track 1 is video (tkhd carries the 16.16 geometry), track 2 when
    present is audio (tkhd geometry zero, 'soun' handler — both
    handler names are 12 chars so every trak subtree has identical
    size).  ``version`` selects v0 or v1 full boxes throughout.  The
    mdat payload is ``n_samples * sample_size`` deterministic filler
    bytes; ``mdat_large`` forces the 64-bit largesize framing.  Every
    field here is replayed closed-form by the SQL oracle, so the
    builder is the renderer half of the hash-checked roundtrip."""
    ftyp = build_box(
        b"ftyp",
        b"isom" + struct.pack(">I", 0x200) + b"isom" + b"iso2" + b"avc1" + b"mp41",
    )
    traks = []
    for t in range(n_traks):
        handler, name = _HANDLERS[t]
        w, h = (width, height) if handler == b"vide" else (0, 0)
        mdia = build_box(
            b"mdia",
            build_mdhd(movie_timescale, duration, lang, version)
            + build_hdlr(handler, name),
        )
        traks.append(
            build_box(
                b"trak",
                build_tkhd(t + 1, duration, w, h, version) + mdia,
            )
        )
    moov = build_box(
        b"moov", build_mvhd(movie_timescale, duration, version) + b"".join(traks)
    )
    free = build_box(b"free", bytes(free_pad))
    # (37 + 11*i + j) % 251 per sample j, intra-sample offset i:
    # one numpy broadcast instead of a per-byte Python loop (the
    # loop dominated the query's cost at sf0.1 blob sizes)
    import numpy as _np

    payload = (
        (
            37
            + 11 * _np.tile(_np.arange(sample_size), n_samples)
            + _np.repeat(_np.arange(n_samples), sample_size)
        )
        % 251
    ).astype(_np.uint8).tobytes()
    mdat = build_box(b"mdat", payload, large=mdat_large)
    return ftyp + moov + free + mdat


def walk_boxes(data: bytes, start: int = 0, end: int | None = None,
               depth: int = 0) -> list[dict]:
    """Walk the box sequence in ``data[start:end]``, recursing into
    CONTAINER_BOXES.  Returns one dict per box — type, offset, size,
    header size, depth — in document order.  Unknown leaf boxes are
    skipped by size but counted; truncation fails loudly."""
    if end is None:
        end = len(data)
    out: list[dict] = []
    p = start
    while p < end:
        if p + 8 > end:
            raise Mp4Error(f"box header at byte {p} truncated")
        (size32,) = struct.unpack(">I", data[p : p + 4])
        btype = data[p + 4 : p + 8]
        hdr = 8
        if size32 == 1:
            if p + 16 > end:
                raise Mp4Error(f"largesize at byte {p} truncated")
            (size,) = struct.unpack(">Q", data[p + 8 : p + 16])
            hdr = 16
        elif size32 == 0:
            size = end - p  # last box: extends to end of enclosure
        else:
            size = size32
        if size < hdr:
            raise Mp4Error(f"box at byte {p} declares size {size} < header")
        if p + size > end:
            raise Mp4Error(
                f"box {btype!r} at byte {p} overruns its container "
                f"({p + size} > {end})"
            )
        out.append(
            {
                "type": btype.decode("latin-1"),
                "offset": p,
                "size": size,
                "header": hdr,
                "depth": depth,
                "large": hdr == 16,
            }
        )
        if btype in CONTAINER_BOXES:
            out.extend(walk_boxes(data, p + hdr, p + size, depth + 1))
        p += size
    if p != end:
        raise Mp4Error(f"box sequence overran its container ({p} != {end})")
    return out


def _full_box(data: bytes, box: dict) -> tuple[int, int]:
    """(version, payload offset past version+flags) for a full box."""
    p = box["offset"] + box["header"]
    if p + 4 > box["offset"] + box["size"]:
        raise Mp4Error(f"full box {box['type']} truncated")
    return data[p], p + 4


def parse_mp4_meta(data: bytes) -> dict:
    """Walk the file and extract the triage fields: movie timescale /
    duration (mvhd), first-video-track geometry (tkhd 16.16, checked
    integral), media language (mdhd), trak/box counts, mdat payload
    size and framing, total size.  Exactly the fields a curation pass
    filters on before any decode cost."""
    boxes = walk_boxes(data)
    if not boxes or boxes[0]["type"] != "ftyp":
        raise Mp4Error("file does not start with ftyp")
    by_type: dict[str, list[dict]] = {}
    for b in boxes:
        by_type.setdefault(b["type"], []).append(b)
    if "mvhd" not in by_type or "mdat" not in by_type:
        raise Mp4Error("missing mvhd or mdat")

    mvhd = by_type["mvhd"][0]
    ver, p = _full_box(data, mvhd)
    if ver == 0:
        _, _, timescale, duration = struct.unpack(">IIII", data[p : p + 16])
    elif ver == 1:
        _, _, timescale, duration = struct.unpack(">QQIQ", data[p : p + 28])
    else:
        raise Mp4Error(f"mvhd version {ver}")

    width = height = 0
    for tk in by_type.get("tkhd", []):
        tver, tp = _full_box(data, tk)
        geo = tk["offset"] + tk["size"] - 8
        w16, h16 = struct.unpack(">II", data[geo : geo + 8])
        if (w16 | h16) & 0xFFFF:
            raise Mp4Error("non-integral 16.16 track geometry")
        if w16 and not width:
            width, height = w16 >> 16, h16 >> 16
        if tver != ver:
            raise Mp4Error("mixed full-box versions")

    mdhd = by_type["mdhd"][0]
    mver, mp = _full_box(data, mdhd)
    lang_off = mp + (16 if mver == 0 else 28)
    (lang_packed,) = struct.unpack(">H", data[lang_off : lang_off + 2])

    mdat = by_type["mdat"][0]
    return {
        "n_boxes": len(boxes),
        "n_traks": len(by_type.get("trak", [])),
        "box_version": ver,
        "movie_timescale": timescale,
        "movie_duration_ms": duration * 1000 // timescale,
        "width": width,
        "height": height,
        "media_lang": _unpack_lang(lang_packed),
        "mdat_bytes": mdat["size"] - mdat["header"],
        "mdat_large": int(mdat["large"]),
        "total_bytes": len(data),
    }

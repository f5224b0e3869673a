"""PDF object/xref structure parsing — the document container walk,
stdlib-pure.

A 100 TB crawl's document corpus is dominated by PDF, and triage
(page count, page geometry, content volume, well-formedness) lives
entirely in the object skeleton — the xref table, the trailer, the
Catalog→Pages→Page tree, and each content stream's /Length — never
in the content bytes.  This walks that skeleton the way a conformant
reader does (ISO 32000-1 §7.5):

    %PDF-1.x header; numbered `N 0 obj ... endobj` bodies; an `xref`
    section of FIXED-WIDTH 20-byte entries (`%010d %05d n \\r?\\n`);
    a `trailer` dict with /Size and /Root; `startxref` + offset +
    `%%EOF`.

The parser resolves startxref, walks the xref entries, and VERIFIES
each in-use entry actually lands on its `N 0 obj` header — a wrong
offset, a lying /Size, or a /Length that disagrees with the actual
`stream...endstream` span fails loudly (the zipmeta fail-loud
contract).  Text extraction, fonts, filters, and
encryption are out of scope by design — content streams are opaque
payload to this walk, exactly like mdat to the MP4 walk.

The builder emits a minimal-but-real PDF whose every parameter is
FIXED-WIDTH by construction (3-digit MediaBox dims, 3-digit stream
lengths, single-digit object ids with <= 3 pages), so each object's
byte size — and therefore every xref offset — is a closed-form
affine function of the parameters the SQL oracle replays.

Reference behavioral contract: the reference repo has no document-
container path (/root/reference/etl.py is a REST+LLM ETL); this
extends the beyond-reference multimodal/container surface of
SURVEY.md §2.3.
"""

from __future__ import annotations

import re

__all__ = [
    "PdfError",
    "build_pdf",
    "parse_pdf_meta",
    "OBJ1_SIZE",
    "OBJ2_BASE",
    "PAGE_OBJ_SIZE",
    "CONTENT_BASE",
    "HEADER_SIZE",
    "XREF_FIXED",
]


class PdfError(ValueError):
    """Malformed PDF skeleton (bad xref, offset, length, or magic)."""


_HEADER = b"%PDF-1.4\n"
HEADER_SIZE = len(_HEADER)  # 9


def _obj1() -> bytes:
    return b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"


def _obj2(n_pages: int) -> bytes:
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    return (
        f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>\n"
        "endobj\n"
    ).encode("ascii")


def _page_obj(oid: int, width: int, height: int, content_oid: int) -> bytes:
    if not (100 <= width <= 999 and 100 <= height <= 999):
        raise PdfError("MediaBox dims must be 3-digit (closed-form contract)")
    return (
        f"{oid} 0 obj\n<< /Type /Page /Parent 2 0 R "
        f"/MediaBox [0 0 {width} {height}] /Contents {content_oid} 0 R >>\n"
        "endobj\n"
    ).encode("ascii")


def _content_obj(oid: int, length: int) -> bytes:
    if not 100 <= length <= 999:
        raise PdfError("stream length must be 3-digit (closed-form contract)")
    # 32 + (7k + oid) % 95 has period 95 in k: tile one cycle
    # (aligned to oid's phase) instead of a per-byte Python loop
    cycle = bytes(32 + (7 * k + oid) % 95 for k in range(95))
    payload = (cycle * (length // 95 + 1))[:length]
    return (
        f"{oid} 0 obj\n<< /Length {length} >>\nstream\n".encode("ascii")
        + payload
        + b"\nendstream\nendobj\n"
    )


# Closed-form size constants the SQL oracle replays (asserted against
# the real builders in tests/test_pdfmeta.py).
OBJ1_SIZE = len(_obj1())                                   # 50
OBJ2_BASE = len(_obj2(1)) - 6                              # size = BASE + 6*k
PAGE_OBJ_SIZE = len(_page_obj(3, 100, 100, 4))             # constant
CONTENT_BASE = len(_content_obj(4, 100)) - 100             # size = BASE + L
XREF_FIXED = 20  # bytes per xref entry: 10+1+5+1+'n'+' '+'\n'


def build_pdf(
    *, n_pages: int, width: int, height: int, lengths: list[int]
) -> bytes:
    """Minimal-but-real PDF: Catalog, Pages, ``n_pages`` (1-3) Page
    objects at ids 3,5,7 with content streams at 4,6,8, a
    fixed-width xref, trailer, startxref.  ``lengths[i]`` is page
    i's 3-digit content-stream length."""
    if not 1 <= n_pages <= 3:
        raise PdfError("n_pages must be 1-3 (single-digit object ids)")
    if len(lengths) != n_pages:
        raise PdfError("one stream length per page")
    objs = [_obj1(), _obj2(n_pages)]
    for i in range(n_pages):
        objs.append(_page_obj(3 + 2 * i, width, height, 4 + 2 * i))
        objs.append(_content_obj(4 + 2 * i, lengths[i]))
    offsets = []
    p = HEADER_SIZE
    for o in objs:
        offsets.append(p)
        p += len(o)
    xref_off = p
    n = len(objs) + 1
    xref = f"xref\n0 {n}\n".encode("ascii")
    xref += b"0000000000 65535 f \n"
    for off in offsets:
        xref += f"{off:010d} 00000 n \n".encode("ascii")
    trailer = (
        f"trailer\n<< /Size {n} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF"
    ).encode("ascii")
    return _HEADER + b"".join(objs) + xref + trailer


_OBJ_RE = re.compile(rb"(\d+) 0 obj\n")


def parse_pdf_meta(data: bytes) -> dict:
    """Resolve startxref, walk the fixed-width xref entries, verify
    every in-use offset lands on its `N 0 obj` header, re-verify
    each content stream's /Length against the actual
    stream..endstream span, and walk Catalog→Pages→Page for the
    page count and MediaBox.  Emits the document triage row."""
    if not data.startswith(b"%PDF-"):
        raise PdfError("missing %PDF header")
    version = data[5:8].decode("ascii", "replace")
    tail = data[-64:]
    m = re.search(rb"startxref\n(\d+)\n%%EOF$", tail)
    if not m:
        raise PdfError("missing startxref/%%EOF trailer")
    xref_off = int(m.group(1))
    if not data[xref_off:].startswith(b"xref\n"):
        raise PdfError(f"startxref {xref_off} does not point at an xref table")
    hm = re.match(rb"xref\n0 (\d+)\n", data[xref_off:])
    if not hm:
        raise PdfError("malformed xref subsection header")
    n = int(hm.group(1))
    entries_at = xref_off + hm.end()
    offsets: list[int] = []
    for i in range(n):
        e = data[entries_at + XREF_FIXED * i : entries_at + XREF_FIXED * (i + 1)]
        if len(e) != XREF_FIXED or e[17:18] not in (b"n", b"f"):
            raise PdfError(f"xref entry {i} malformed or truncated")
        if e[17:18] == b"n":
            off = int(e[:10])
            om = _OBJ_RE.match(data[off : off + 16])
            if not om or int(om.group(1)) != i:
                raise PdfError(
                    f"xref entry {i} points at byte {off}, which is not "
                    f"'{i} 0 obj'"
                )
            offsets.append(off)
    tm = re.search(rb"trailer\n<< /Size (\d+) /Root 1 0 R >>", data)
    if not tm or int(tm.group(1)) != n:
        raise PdfError("trailer /Size disagrees with the xref table")

    km = re.search(rb"/Kids \[([^\]]*)\] /Count (\d+)", data)
    if not km:
        raise PdfError("missing Pages node")
    kids = re.findall(rb"(\d+) 0 R", km.group(1))
    n_pages = int(km.group(2))
    if len(kids) != n_pages:
        raise PdfError("/Count disagrees with /Kids")

    boxes = set(re.findall(rb"/MediaBox \[0 0 (\d+) (\d+)\]", data))
    if len(boxes) != 1:
        raise PdfError("expected one uniform MediaBox")
    (w, h) = next(iter(boxes))

    total_content = 0
    for sm in re.finditer(rb"<< /Length (\d+) >>\nstream\n", data):
        ln = int(sm.group(1))
        span = data[sm.end() : sm.end() + ln + 11]
        if span[ln:] != b"\nendstream\n"[: len(span) - ln]:
            raise PdfError("/Length disagrees with the stream span")
        total_content += ln
    return {
        "pdf_version": version,
        "n_objects": n - 1,
        "n_pages": n_pages,
        "media_w": int(w),
        "media_h": int(h),
        "total_content_bytes": total_content,
        "xref_offset": xref_off,
        "total_bytes": len(data),
    }

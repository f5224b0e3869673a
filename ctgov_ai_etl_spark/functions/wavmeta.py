"""RIFF/WAVE chunk-structure parsing — the audio container walk,
stdlib-pure.

The audio sibling of functions/mp4meta.py: where MP3 ships as bare
frame sequences (functions/mp3meta.py), uncompressed audio ships as
RIFF/WAVE — a little-endian chunk stream whose triage fields
(channels, sample rate, bit depth, exact duration) all live in the
`fmt ` chunk and the `data` chunk's size, never in the samples.
Chunk framing per the RIFF spec:

    'RIFF' size(u32le) 'WAVE'  then chunks: id(4) size(u32le) data
    a chunk with ODD size is followed by one unaccounted pad byte —
    the classic RIFF walk bug; this parser handles and TESTS it
    'LIST' chunks nest: form(4) + subchunks (sizes include sub-pads)

PCM `fmt ` (16 bytes): audio_format(1=PCM) channels sample_rate
byte_rate block_align bits_per_sample, with the two derived fields
cross-checked (block_align = channels*bits/8, byte_rate =
rate*block_align) — a desync there is a corrupt or lying header and
fails loudly, as does any chunk whose size overruns the enclosure
(same fail-loud contract as functions/zipmeta.py).
Duration is exact integer microseconds: n_samples * 1e6 // rate
where n_samples = data_bytes / block_align.

Compressed-codec decode stays behind the documented native-codec
seam; PCM *samples* are opaque payload to this walk by design.

Reference behavioral contract: the reference repo has no audio path
(/root/reference/etl.py is a REST+LLM ETL); this extends the
beyond-reference multimodal surface of SURVEY.md §2.3.
"""

from __future__ import annotations

import struct

__all__ = [
    "WavError",
    "RATE_CHOICES",
    "BITS_CHOICES",
    "build_wav",
    "walk_riff_chunks",
    "parse_wav_meta",
]


class WavError(ValueError):
    """Malformed RIFF/WAVE payload (bad magic, size, or fmt)."""


RATE_CHOICES = (8000, 16000, 22050, 44100, 48000)
BITS_CHOICES = (8, 16, 24, 32)


def _chunk(cid: bytes, data: bytes) -> bytes:
    """Frame ``data`` as a RIFF chunk, appending the pad byte when
    the size is odd (the pad is NOT counted in the size field)."""
    out = struct.pack("<4sI", cid, len(data)) + data
    if len(data) % 2:
        out += b"\x00"
    return out


def build_wav(
    *,
    sample_rate: int,
    channels: int,
    bits: int,
    n_samples: int,
    info_len: int,
    with_fact: bool,
) -> bytes:
    """Deterministic minimal-but-real PCM WAVE file:

        RIFF(WAVE){ fmt  [fact] LIST(INFO){INAM} data }

    The INAM text is ``info_len`` bytes (odd lengths exercise the
    RIFF pad rule at the subchunk level); ``with_fact`` adds the
    optional 4-byte `fact` sample-count chunk.  The data payload is
    ``n_samples * block_align`` deterministic filler bytes.  Every
    field is replayed closed-form by the SQL oracle."""
    if bits % 8 or channels < 1:
        raise WavError("bits must be a byte multiple, channels >= 1")
    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    fmt = _chunk(
        b"fmt ",
        struct.pack(
            "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits
        ),
    )
    fact = _chunk(b"fact", struct.pack("<I", n_samples)) if with_fact else b""
    inam = _chunk(b"INAM", bytes(97 + (k * 7) % 26 for k in range(info_len)))
    lst = _chunk(b"LIST", b"INFO" + inam)
    data_bytes = n_samples * block_align
    # (59 + 13*(k % 251)) % 256 has period 251 in k: tile one cycle
    # instead of a per-byte Python loop (5000 docs x ~40 KB payloads
    # made the generator the query's dominant cost at sf0.1)
    cycle = bytes((59 + 13 * r) % 256 for r in range(251))
    payload = (cycle * (data_bytes // 251 + 1))[:data_bytes]
    data = _chunk(b"data", payload)
    body = b"WAVE" + fmt + fact + lst + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def walk_riff_chunks(data: bytes, start: int, end: int) -> list[dict]:
    """Walk the chunk sequence in ``data[start:end]`` (pad-byte
    aware), recursing into LIST chunks.  Truncation fails loudly."""
    out: list[dict] = []
    p = start
    while p < end:
        if p + 8 > end:
            raise WavError(f"chunk header at byte {p} truncated")
        cid, size = struct.unpack("<4sI", data[p : p + 8])
        if p + 8 + size > end:
            raise WavError(
                f"chunk {cid!r} at byte {p} overruns its enclosure "
                f"({p + 8 + size} > {end})"
            )
        out.append(
            {"id": cid.decode("latin-1"), "offset": p, "size": size}
        )
        if cid == b"LIST":
            if size < 4:
                raise WavError(f"LIST chunk at byte {p} too small")
            out.extend(walk_riff_chunks(data, p + 12, p + 8 + size))
        p += 8 + size + (size % 2)  # pad byte follows odd-sized data
    if p != end:
        raise WavError(f"chunk sequence overran its enclosure ({p} != {end})")
    return out


def parse_wav_meta(data: bytes) -> dict:
    """Walk the file and extract the audio triage row: channels /
    rate / depth from `fmt ` (derived fields cross-checked), exact
    integer-microsecond duration from `data`'s size, chunk count,
    total size."""
    if len(data) < 12 or data[:4] != b"RIFF":
        raise WavError("not a RIFF file")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if 8 + riff_size != len(data):
        raise WavError(
            f"RIFF size {riff_size} disagrees with file length {len(data)}"
        )
    if data[8:12] != b"WAVE":
        raise WavError("RIFF form is not WAVE")
    chunks = walk_riff_chunks(data, 12, len(data))
    by_id = {c["id"]: c for c in chunks}
    if "fmt " not in by_id or "data" not in by_id:
        raise WavError("missing fmt or data chunk")

    f = by_id["fmt "]
    audio_format, channels, rate, byte_rate, block_align, bits = struct.unpack(
        "<HHIIHH", data[f["offset"] + 8 : f["offset"] + 24]
    )
    if audio_format != 1:
        raise WavError(f"non-PCM format {audio_format} is the codec seam's regime")
    if block_align != channels * bits // 8 or byte_rate != rate * block_align:
        raise WavError("fmt derived fields desync (corrupt header)")

    data_bytes = by_id["data"]["size"]
    if data_bytes % block_align:
        raise WavError("data size is not a whole number of frames")
    n_samples = data_bytes // block_align
    return {
        "n_chunks": len(chunks),
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "block_align": block_align,
        "byte_rate": byte_rate,
        "n_samples": n_samples,
        "data_bytes": data_bytes,
        "duration_us": n_samples * 1_000_000 // rate,
        "total_bytes": len(data),
    }

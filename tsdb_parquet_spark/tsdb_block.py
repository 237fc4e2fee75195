"""Prometheus TSDB block reader/writer — the reference converter's INPUT.

The reference's `cmd/convert/main.go:30-126` opens an on-disk Prometheus
TSDB block (`tsdb.OpenBlock`), iterates its index + chunk segment files,
and emits one parquet row per chunk.  This module implements the same
ingestion natively against the PUBLIC block format (Prometheus
`tsdb/docs/format/index.md` and `chunks.md`), so this engine can ingest
a real Prometheus block directory without the reference — composing with
`xorchunk.py` (the chunk payloads are Gorilla XOR) and the sorted writer
to reproduce the converter end-to-end.

Format summary (index file, version 2):

- header: magic ``0xBAAAD700`` (BE), version byte 2
- symbols table: ``len u32 | #symbols u32 | (uvarint len + utf8)... |
  crc32c`` — series entries reference symbols by SEQUENCE NUMBER
- series section: entries aligned to 16 bytes, ``series ref =
  offset / 16``; each entry ``uvarint len | content | crc32c(content)``
  where content = ``#labels uvarint, (name_ref uvarint, value_ref
  uvarint)..., #chunks uvarint`` then delta-coded chunk metas: first
  ``(mint varint, maxt-mint uvarint, ref uvarint)``, later ``(mint_i -
  maxt_{i-1} uvarint, maxt_i - mint_i uvarint, ref_i - ref_{i-1}
  varint)`` — the inter-chunk mint delta is UNSIGNED (Prometheus
  ``index.go`` uses ``PutUvarint64``: chunks within a series are
  time-ordered and non-overlapping, so ``mint_i >= maxt_{i-1}``); only
  the ref delta is a signed (zigzag) varint
- postings lists: ``len u32 | #entries u32 | (series ref u32 BE)... |
  crc32c``; the empty-label entry ``("", "")`` lists ALL series — the
  spec-guaranteed full enumeration this reader walks (robust against
  padding in the series section)
- postings offset table: ``len u32 | #entries u32 | (#parts uvarint=2,
  uvarint-len name, uvarint-len value, offset uvarint)... | crc32c``
- TOC (last 52 bytes): six u64 BE section offsets (symbols, series,
  label indices, label offset table, postings, postings offset table) +
  crc32c

Chunk segment files (``chunks/000001``...): header ``0x85BD40DD`` (BE) +
version 1 + 3 padding bytes, then records ``uvarint data-len | encoding
byte (1 = XOR) | data | crc32c(encoding + data)``; a chunk ref packs
``segment_index << 32 | record offset``.

All checksums are CRC-32C (Castagnoli), per the spec.

Scale shape: the DRIVER parses only the index (series metadata — the
same single-process iteration the reference's converter performs), and
the chunk PAYLOADS are fetched executor-side per partition from the
segment files (`block_to_chunk_frame`), so the heavy bytes never pass
through the driver.  The block directory must be visible to executors
(local disk here; shared/object storage on a cluster — the same
requirement the reference's GCS-mounted converter has).

The writer exists to produce spec-conformant fixtures (and to round-trip
property tests); label-index sections it emits are empty-but-valid, which
readers — including Prometheus's own — treat as optional acceleration
structures.
"""

from __future__ import annotations

import json
import os
import struct
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

INDEX_MAGIC = 0xBAAAD700
INDEX_VERSION = 2
CHUNKS_MAGIC = 0x85BD40DD
CHUNKS_VERSION = 1
XOR_ENCODING = 1
_SERIES_ALIGN = 16

# ---------------------------------------------------------------------------
# CRC-32C (Castagnoli) — stdlib zlib.crc32 is IEEE; the TSDB format uses
# Castagnoli (reflected poly 0x82F63B78).  Table-driven, pure python.
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def _crc32c_py(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


try:  # C-accelerated when available (the checksum dominates record
    # fetch cost at scale); the table fallback is bit-identical
    from crc32c import crc32c as _crc32c_c  # type: ignore

    def crc32c(data: bytes, crc: int = 0) -> int:
        return _crc32c_c(data, crc)

except ImportError:  # pragma: no cover - environment-dependent
    crc32c = _crc32c_py


# ---------------------------------------------------------------------------
# byte-level varint helpers (Go binary.Uvarint / Varint)
# ---------------------------------------------------------------------------


def _put_uvarint(out: bytearray, x: int) -> None:
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)


def _put_varint(out: bytearray, x: int) -> None:
    _put_uvarint(out, (x << 1) if x >= 0 else ((-x) << 1) - 1)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    x = 0
    shift = 0
    while True:
        if pos >= len(buf):
            # truncated input is a FORMAT error, not an internal one:
            # decoders fed network/disk bytes surface ValueError
            raise ValueError("truncated uvarint")
        b = buf[pos]
        pos += 1
        x |= (b & 0x7F) << shift
        if not b & 0x80:
            return x, pos
        shift += 7


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    ux, pos = _read_uvarint(buf, pos)
    return (ux >> 1) ^ -(ux & 1), pos


# ---------------------------------------------------------------------------
# chunk segment files
# ---------------------------------------------------------------------------


def write_chunks_segments(
    block_dir: str, chunks: Sequence[bytes], encoding: int = XOR_ENCODING
) -> list[int]:
    """Write chunk payloads into ``chunks/000001`` and return one packed
    ref per chunk (``segment << 32 | offset``, offset at the record's
    uvarint length — what series entries store)."""
    seg_dir = os.path.join(block_dir, "chunks")
    os.makedirs(seg_dir, exist_ok=True)
    out = bytearray(struct.pack(">IB3x", CHUNKS_MAGIC, CHUNKS_VERSION))
    refs = []
    for data in chunks:
        refs.append((1 << 32) | len(out))
        _put_uvarint(out, len(data))
        out.append(encoding)
        out += data
        out += struct.pack(">I", crc32c(bytes([encoding]) + data))
    with open(os.path.join(seg_dir, "000001"), "wb") as fh:
        fh.write(out)
    return refs


#: Prometheus chunk encodings beyond XOR: 2 = (integer) histogram,
#: 3 = float histogram — the sparse varbit bitstreams backing native
#: histograms inside BLOCKS.  The engine ingests native histograms
#: from the WAL and remote-write (histograms.py, classic expansion);
#: histogram CHUNK decode is excluded, and the converters fail loudly
#: instead of mis-decoding the bitstream as Gorilla XOR.
_HISTOGRAM_CHUNK_ENCODINGS = (2, 3)


def _require_xor_encoding(enc: int, block_dir) -> None:
    if enc == XOR_ENCODING:
        return
    if enc in _HISTOGRAM_CHUNK_ENCODINGS:
        raise NotImplementedError(
            f"{block_dir}: chunk encoding {enc} is a native-histogram "
            "chunk — block-side histogram chunks are excluded (ingest "
            "native histograms from the WAL or remote-write instead, "
            "via histograms.py's classic expansion)"
        )
    raise ValueError(f"{block_dir}: unknown chunk encoding {enc}")


def read_chunk_record(segment: bytes, offset: int) -> tuple[int, bytes]:
    """(encoding, payload) of the record at ``offset``; CRC-verified."""
    ln, pos = _read_uvarint(segment, offset)
    enc = segment[pos]
    data = segment[pos + 1 : pos + 1 + ln]
    (want,) = struct.unpack_from(">I", segment, pos + 1 + ln)
    got = crc32c(segment[pos : pos + 1 + ln])
    if got != want:
        raise ValueError(
            f"chunk record at {offset}: crc32c mismatch "
            f"(got {got:#x}, want {want:#x})"
        )
    return enc, data


# ---------------------------------------------------------------------------
# tombstones file (tsdb/docs/format/tombstones.md)
# ---------------------------------------------------------------------------

TOMBSTONES_MAGIC = 0x0130BA30
TOMBSTONES_VERSION = 1


def write_tombstones(
    block_dir: str,
    stones: "dict[int, list[tuple[int, int]]] | None" = None,
) -> None:
    """Write the block's ``tombstones`` file: magic u32 BE + version
    byte + stones (series ref uvarint, mint varint, maxt varint each) +
    crc32c of the stones section.  Prometheus writes one (usually
    empty) for every block; emitting it maximizes ``tsdb.OpenBlock``
    compatibility for exported blocks."""
    content = bytearray()
    for ref in sorted(stones or {}):
        for mint, maxt in stones[ref]:
            _put_uvarint(content, ref)
            _put_varint(content, mint)
            _put_varint(content, maxt)
    out = bytearray(struct.pack(">IB", TOMBSTONES_MAGIC, TOMBSTONES_VERSION))
    out += content
    out += struct.pack(">I", crc32c(bytes(content)))
    with open(os.path.join(block_dir, "tombstones"), "wb") as fh:
        fh.write(bytes(out))


def read_tombstones(block_dir: str) -> "dict[int, list[tuple[int, int]]]":
    """Parse ``tombstones`` into {series ref: [(mint, maxt), ...]}.
    A missing file reads as empty (Prometheus tolerates it); a present
    file is CRC-verified and version-checked."""
    path = os.path.join(block_dir, "tombstones")
    if not os.path.exists(path):
        return {}
    buf = open(path, "rb").read()
    if len(buf) < 9:
        raise ValueError("tombstones file too short")
    magic, version = struct.unpack_from(">IB", buf, 0)
    if magic != TOMBSTONES_MAGIC:
        raise ValueError(f"bad tombstones magic {magic:#x}")
    if version != TOMBSTONES_VERSION:
        raise ValueError(f"unsupported tombstones version {version}")
    content = buf[5:-4]
    (want,) = struct.unpack_from(">I", buf, len(buf) - 4)
    got = crc32c(content)
    if got != want:
        raise ValueError(
            f"tombstones crc32c mismatch (got {got:#x}, want {want:#x})"
        )
    stones: dict[int, list[tuple[int, int]]] = {}
    pos, end = 0, len(content)
    while pos < end:
        ref, pos = _read_uvarint(content, pos)
        mint, pos = _read_varint(content, pos)
        maxt, pos = _read_varint(content, pos)
        stones.setdefault(ref, []).append((mint, maxt))
    return stones


def check_tombstones(block_dir: str, mode: str) -> None:
    """Ingest guard: a block with PENDING tombstones marks samples as
    deleted that its chunks still contain — converting it as-is would
    silently resurrect them (Prometheus applies tombstones at query
    time; the reference converter, using raw chunk bytes, has the same
    blind spot).  ``mode='error'`` (default in the converters) refuses
    with instructions; ``'ignore'`` proceeds knowingly."""
    if mode == "ignore":
        return
    if mode != "error":
        raise ValueError(f"unknown tombstones mode {mode!r}")
    stones = read_tombstones(block_dir)
    if stones:
        n = sum(len(v) for v in stones.values())
        raise ValueError(
            f"block {block_dir} has {n} pending tombstone interval(s) "
            f"over {len(stones)} series; converting raw chunks would "
            "resurrect deleted samples. Compact the block first "
            "(promtool tsdb or a Prometheus restart applies them) or "
            "pass tombstones='ignore' to proceed knowingly."
        )


# ---------------------------------------------------------------------------
# index file
# ---------------------------------------------------------------------------


def _section(content: bytes) -> bytes:
    """``len u32 | content | crc32c(content)`` — the common section frame
    for symbols/postings/offset tables."""
    return (
        struct.pack(">I", len(content))
        + content
        + struct.pack(">I", crc32c(content))
    )


def write_index(
    block_dir: str,
    series: Sequence[tuple[dict, list[tuple[int, int, int]]]],
) -> None:
    """Write ``index`` for ``series`` = [(labels dict, [(mint, maxt,
    chunk_ref), ...]), ...].  Series are sorted by their label sets (the
    format's invariant); symbol references are v2 sequence numbers."""
    series = sorted(series, key=lambda s: sorted(s[0].items()))
    symbols = sorted(
        {s for labels, _ in series for kv in labels.items() for s in kv}
        | {""}
    )
    sym_id = {s: i for i, s in enumerate(symbols)}

    out = bytearray(struct.pack(">IB", INDEX_MAGIC, INDEX_VERSION))

    toc_symbols = len(out)
    content = bytearray(struct.pack(">I", len(symbols)))
    for s in symbols:
        raw = s.encode()
        _put_uvarint(content, len(raw))
        content += raw
    out += _section(bytes(content))

    # series section: 16-aligned entries; ref = offset / 16
    while len(out) % _SERIES_ALIGN:
        out.append(0)
    toc_series = len(out)
    series_refs = []
    for labels, chunk_metas in series:
        while len(out) % _SERIES_ALIGN:
            out.append(0)
        series_refs.append(len(out) // _SERIES_ALIGN)
        content = bytearray()
        _put_uvarint(content, len(labels))
        for name in sorted(labels):
            _put_uvarint(content, sym_id[name])
            _put_uvarint(content, sym_id[labels[name]])
        _put_uvarint(content, len(chunk_metas))
        prev_maxt = prev_ref = 0
        for i, (mint, maxt, ref) in enumerate(chunk_metas):
            if i == 0:
                _put_varint(content, mint)
            else:
                # UNSIGNED per the spec (index.go PutUvarint64) — the
                # format cannot represent mint_i < maxt_{i-1}; reject
                # rather than silently emit bytes Prometheus misreads.
                if mint < prev_maxt:
                    raise ValueError(
                        "chunk windows within a series must be "
                        f"non-overlapping and time-ordered: mint {mint} "
                        f"< previous maxt {prev_maxt}"
                    )
                _put_uvarint(content, mint - prev_maxt)
            _put_uvarint(content, maxt - mint)
            if i == 0:
                _put_uvarint(content, ref)
            else:
                _put_varint(content, ref - prev_ref)
            prev_maxt, prev_ref = maxt, ref
        entry = bytearray()
        _put_uvarint(entry, len(content))
        entry += content
        entry += struct.pack(">I", crc32c(bytes(content)))
        out += entry

    # label index + its offset table: empty-but-valid (optional
    # acceleration structures; the all-postings list is the enumeration)
    while len(out) % 4:
        out.append(0)
    toc_label_indices = len(out)
    toc_label_offsets = len(out)
    out += _section(struct.pack(">I", 0))

    # postings: one list per (label, value) pair plus the spec-guaranteed
    # all-series entry ("", "").  Prometheus's index reader resolves every
    # matcher through the postings offset table (tsdb/index/index.go
    # writePostings), so a block carrying only the all entry reads as
    # EMPTY to a real Prometheus — and the per-pair entries double as the
    # driver-side farm-name probe (`index_label_values`).
    by_pair: dict[tuple[str, str], list[int]] = {}
    for ref, (labels, _metas) in zip(series_refs, series):
        for name in labels:
            by_pair.setdefault((name, labels[name]), []).append(ref)
    toc_postings = len(out)
    all_off = len(out)
    content = bytearray(struct.pack(">I", len(series_refs)))
    for ref in series_refs:
        content += struct.pack(">I", ref)
    out += _section(bytes(content))
    pair_offs: list[tuple[str, str, int]] = []
    for name, value in sorted(by_pair):
        refs = by_pair[(name, value)]  # ascending: series order = ref order
        pair_offs.append((name, value, len(out)))
        content = bytearray(struct.pack(">I", len(refs)))
        for ref in refs:
            content += struct.pack(">I", ref)
        out += _section(bytes(content))

    # offset table entries sorted by (name, value); ("", "") sorts first
    toc_postings_offsets = len(out)
    content = bytearray(struct.pack(">I", 1 + len(pair_offs)))
    _put_uvarint(content, 2)  # parts: name, value
    _put_uvarint(content, 0)  # len("")
    _put_uvarint(content, 0)  # len("")
    _put_uvarint(content, all_off)
    for name, value, off in pair_offs:
        _put_uvarint(content, 2)
        for part in (name, value):
            raw = part.encode()
            _put_uvarint(content, len(raw))
            content += raw
        _put_uvarint(content, off)
    out += _section(bytes(content))

    toc = struct.pack(
        ">QQQQQQ",
        toc_symbols,
        toc_series,
        toc_label_indices,
        toc_label_offsets,
        toc_postings,
        toc_postings_offsets,
    )
    out += toc + struct.pack(">I", crc32c(toc))
    with open(os.path.join(block_dir, "index"), "wb") as fh:
        fh.write(out)


def _read_section(buf: bytes, off: int) -> bytes:
    (ln,) = struct.unpack_from(">I", buf, off)
    content = buf[off + 4 : off + 4 + ln]
    (want,) = struct.unpack_from(">I", buf, off + 4 + ln)
    got = crc32c(content)
    if got != want:
        raise ValueError(
            f"index section at {off}: crc32c mismatch "
            f"(got {got:#x}, want {want:#x})"
        )
    return content


def index_label_values(block_dir: str, label: str) -> list[str]:
    """All values of ``label`` present in a block — read from the index's
    postings offset table ONLY (TOC + one section; no symbol table, no
    series-section walk).  The offset table enumerates every
    (label name, value) posting entry with the strings inline
    (tsdb/docs/format/index.md, "postings offset table"), so this is the
    cheap driver-side existence probe farm routing uses to decide whether
    a selector's ``__name__`` lives in a farm before any decode task
    launches."""
    buf = open(os.path.join(block_dir, "index"), "rb").read()
    magic, version = struct.unpack_from(">IB", buf, 0)
    if magic != INDEX_MAGIC:
        raise ValueError(f"not a TSDB index file (magic {magic:#x})")
    if version != 2:
        raise ValueError(f"unsupported index version {version} (only v2)")
    toc_off = len(buf) - 52
    toc = struct.unpack_from(">QQQQQQ", buf, toc_off)
    (toc_crc,) = struct.unpack_from(">I", buf, toc_off + 48)
    if crc32c(buf[toc_off : toc_off + 48]) != toc_crc:
        raise ValueError("index TOC crc32c mismatch")
    po_content = _read_section(buf, toc[5])
    (n_entries,) = struct.unpack_from(">I", po_content, 0)
    pos = 4
    values = []
    for _ in range(n_entries):
        n_parts, pos = _read_uvarint(po_content, pos)
        parts = []
        for _ in range(n_parts):
            ln, pos = _read_uvarint(po_content, pos)
            parts.append(po_content[pos : pos + ln].decode())
            pos += ln
        _, pos = _read_uvarint(po_content, pos)  # posting list offset
        if len(parts) == 2 and parts[0] == label:
            values.append(parts[1])
    return values


def _postings_list(buf: bytes, off: int) -> tuple:
    content = _read_section(buf, off)
    (n,) = struct.unpack_from(">I", content, 0)
    return struct.unpack_from(f">{n}I", content, 4)


def read_index(
    block_dir: str,
    with_refs: bool = False,
    select: "dict[str, Sequence[str]] | None" = None,
):
    """Parse ``index`` -> [(labels, [(mint, maxt, chunk_ref), ...])] in
    series-section order (label-sorted, the format invariant).  Walks the
    all-series postings list rather than the padded series section.
    ``with_refs=True`` prepends each entry's series REFERENCE
    (offset/16 — what postings and tombstones point at):
    ``[(ref, labels, metas), ...]``.

    ``select`` ({label: allowed values}) resolves equality matchers
    through the per-(label,value) postings lists — OR within a label,
    AND across labels — so only the matching series entries are parsed
    (the same posting-intersection walk Prometheus's PostingsForMatchers
    runs, `tsdb/querier.go`).  An index that predates the per-pair
    postings (offset table holds only the all-series entry) falls back
    to the full walk with a label filter — same result, no pruning.
    NOTE: selection changes which series are enumerated, so positional
    ids differ from an unselected walk — use ``with_refs=True`` for
    stable identities under selection."""
    buf = open(os.path.join(block_dir, "index"), "rb").read()
    magic, version = struct.unpack_from(">IB", buf, 0)
    if magic != INDEX_MAGIC:
        raise ValueError(f"not a TSDB index file (magic {magic:#x})")
    if version != 2:
        # v1 uses absolute symbol file-offsets and byte-offset series
        # refs (not offset/16); parsing it with v2 semantics would yield
        # garbage labels — fail loudly instead.
        raise ValueError(
            f"unsupported index version {version} (only v2; v1 symbol "
            "references are absolute offsets, not sequence numbers)"
        )
    toc_off = len(buf) - 52
    toc = struct.unpack_from(">QQQQQQ", buf, toc_off)
    (toc_crc,) = struct.unpack_from(">I", buf, toc_off + 48)
    if crc32c(buf[toc_off : toc_off + 48]) != toc_crc:
        raise ValueError("index TOC crc32c mismatch")
    toc_symbols, _, _, _, _, toc_postings_offsets = (
        toc[0], toc[1], toc[2], toc[3], toc[4], toc[5],
    )

    sym_content = _read_section(buf, toc_symbols)
    (n_sym,) = struct.unpack_from(">I", sym_content, 0)
    symbols = []
    pos = 4
    for _ in range(n_sym):
        ln, pos = _read_uvarint(sym_content, pos)
        symbols.append(sym_content[pos : pos + ln].decode())
        pos += ln

    # postings offset table: the all-series ("", "") entry plus (in
    # indexes written since the per-pair postings landed) one entry per
    # (label, value)
    po_content = _read_section(buf, toc_postings_offsets)
    (n_entries,) = struct.unpack_from(">I", po_content, 0)
    pos = 4
    all_off = None
    pair_offs: dict[tuple, int] = {}
    for _ in range(n_entries):
        n_parts, pos = _read_uvarint(po_content, pos)
        parts = []
        for _ in range(n_parts):
            ln, pos = _read_uvarint(po_content, pos)
            parts.append(po_content[pos : pos + ln].decode())
            pos += ln
        off, pos = _read_uvarint(po_content, pos)
        if parts == ["", ""]:
            all_off = off
        elif len(parts) == 2:
            pair_offs[(parts[0], parts[1])] = off
    if all_off is None:
        raise ValueError("index has no all-series postings entry")

    post_filter = None
    if select and pair_offs:
        ref_sets = []
        for label, values in select.items():
            u: set = set()
            for v in values:
                off = pair_offs.get((label, v))
                if off is not None:
                    u.update(_postings_list(buf, off))
            ref_sets.append(u)
        refs = sorted(set.intersection(*ref_sets)) if ref_sets else ()
    else:
        p_content = _read_section(buf, all_off)
        (n_series,) = struct.unpack_from(">I", p_content, 0)
        refs = struct.unpack_from(f">{n_series}I", p_content, 4)
        if select:
            # legacy index without per-pair postings: same selection,
            # applied after the label parse below
            post_filter = {k: set(v) for k, v in select.items()}

    out = []
    for ref in refs:
        off = ref * _SERIES_ALIGN
        ln, pos = _read_uvarint(buf, off)
        content = buf[pos : pos + ln]
        (want,) = struct.unpack_from(">I", buf, pos + ln)
        if crc32c(content) != want:
            raise ValueError(f"series entry {ref}: crc32c mismatch")
        cpos = 0
        n_labels, cpos = _read_uvarint(content, cpos)
        labels = {}
        for _ in range(n_labels):
            nref, cpos = _read_uvarint(content, cpos)
            vref, cpos = _read_uvarint(content, cpos)
            labels[symbols[nref]] = symbols[vref]
        if post_filter is not None and any(
            labels.get(k, "") not in vs for k, vs in post_filter.items()
        ):
            continue
        n_chunks, cpos = _read_uvarint(content, cpos)
        metas = []
        prev_maxt = prev_ref = 0
        for i in range(n_chunks):
            if i == 0:
                mint, cpos = _read_varint(content, cpos)
                span, cpos = _read_uvarint(content, cpos)
                cref, cpos = _read_uvarint(content, cpos)
            else:
                dmint, cpos = _read_uvarint(content, cpos)
                mint = prev_maxt + dmint
                span, cpos = _read_uvarint(content, cpos)
                dref, cpos = _read_varint(content, cpos)
                cref = prev_ref + dref
            maxt = mint + span
            metas.append((mint, maxt, cref))
            prev_maxt, prev_ref = maxt, cref
        out.append((ref, labels, metas) if with_refs else (labels, metas))
    return out


# ---------------------------------------------------------------------------
# block-level write (fixture/converter input) + Spark ingestion
# ---------------------------------------------------------------------------


_CROCKFORD = "0123456789ABCDEFGHJKMNPQRSTVWXYZ"


def _ulid_from_bytes(data: bytes) -> str:
    """Deterministic, SPEC-VALID ULID (26 Crockford base32 chars
    encoding 128 bits, first char <= '7') derived from content, so
    ``ulid.Parse`` / ``tsdb.OpenBlock`` accept blocks we write and the
    id is stable for fixtures.  ULID spec: github.com/ulid/spec."""
    import hashlib

    n = int.from_bytes(hashlib.sha256(data).digest()[:16], "big")
    chars = []
    for _ in range(26):
        chars.append(_CROCKFORD[n & 0x1F])
        n >>= 5
    return "".join(reversed(chars))


def write_block(
    block_dir: str,
    series: Sequence[tuple[dict, list[tuple[int, int, bytes]]]],
) -> str:
    """Assemble a block directory from [(labels, [(mint, maxt,
    xor_chunk_bytes), ...])]: chunks segment + index + meta.json.
    Returns the block's ULID (deterministic, content-derived, valid
    Crockford base32 — Prometheus's ``tsdb.OpenBlock`` parses it).
    Prometheus names block directories after the ULID; callers that
    need that layout can pass ``os.path.join(parent, ulid)`` on a
    second call or rename — the dir name is not read back here."""
    os.makedirs(block_dir, exist_ok=True)
    series = sorted(series, key=lambda s: sorted(s[0].items()))
    payloads = [blob for _, chs in series for _, _, blob in chs]
    refs = iter(write_chunks_segments(block_dir, payloads))
    indexed = [
        (labels, [(mint, maxt, next(refs)) for mint, maxt, _ in chs])
        for labels, chs in series
    ]
    write_index(block_dir, indexed)
    write_tombstones(block_dir)  # empty, like every fresh Prometheus block
    times = [t for _, chs in indexed for t, maxt, _ in chs] or [0]
    maxts = [maxt for _, chs in indexed for _, maxt, _ in chs] or [0]
    ulid = _ulid_from_bytes(
        open(os.path.join(block_dir, "index"), "rb").read()
    )
    meta = {
        "version": 1,
        "ulid": ulid,
        "minTime": min(times),
        # BlockMeta.MaxTime is EXCLUSIVE in Prometheus (tsdb.BlockMeta:
        # "MaxTime of the block, exclusive") — write max sample ts + 1
        # or a query window starting exactly at the last sample's ts
        # would prune the block and drop its boundary sample
        "maxTime": max(maxts) + 1,
        "stats": {
            "numSeries": len(indexed),
            "numChunks": len(payloads),
        },
        "compaction": {"level": 1, "sources": []},
    }
    with open(os.path.join(block_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return ulid


def block_to_chunk_frame(
    spark: SparkSession,
    block_dir: str,
    tombstones: str = "error",
    select: "dict[str, Sequence[str]] | None" = None,
    window: "tuple[int, int] | None" = None,
) -> DataFrame:
    """The reference converter's core (`cmd/convert/main.go:79-117`) as a
    distributed plan: one row per chunk with the reference schema —
    ``__series__id`` (index order = label-sorted, file-local identity per
    `schema/chunk.go:28-30`), ``__mint``/``__maxt``, label columns
    (missing labels as "", `schema/chunk.go:109-112`), and
    ``__chunk_bytes`` holding the block's raw chunk payload (XOR — which
    `chunks.blobs_to_arrays` converts to the store's arrays wherever the
    frame is read or written).

    Driver side parses ONLY the index (series + chunk metas, the small
    part); payload reads run executor-side per partition against the
    segment files, so chunk bytes never pass through the driver.  The
    per-chunk meta held on the driver is a few tens of bytes — the same
    order as the reference converter's own index iteration (single
    process, `cmd/convert/main.go:79-117`); a 100 TB ingest parallelizes
    across BLOCK DIRECTORIES (one frame per block, unioned), not within
    one index.

    ``select``/``window`` behave as in :func:`blocks_to_chunk_frame`
    (postings-resolved equality selection; chunk-meta time pruning);
    under selection ids are series REFERENCES, not walk positions."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tsdb_parquet_spark.schema import (
        CHUNK_BYTES,
        MAX_T,
        MIN_T,
        SERIES_ID,
    )

    check_tombstones(block_dir, tombstones)
    if select is None:
        entries = list(enumerate(read_index(block_dir)))
    else:
        entries = [
            (sref, (labels, metas))
            for sref, labels, metas in read_index(
                block_dir, with_refs=True, select=select
            )
        ]
    from tsdb_parquet_spark.names import escape_name

    label_names = sorted(
        {n for _, (labels, _) in entries for n in labels}
    )
    meta_rows = [
        (sid, mint, maxt, ref, *[labels.get(n, "") for n in label_names])
        for sid, (labels, metas) in entries
        for mint, maxt, ref in metas
        if window is None or (mint <= window[1] and maxt >= window[0])
    ]
    schema = T.StructType(
        [
            T.StructField(SERIES_ID, T.LongType(), False),
            T.StructField(MIN_T, T.LongType(), False),
            T.StructField(MAX_T, T.LongType(), False),
            T.StructField("__chunk_ref", T.LongType(), False),
        ]
        # a Prometheus 3.x block may carry UTF-8 label names: columns
        # come out U__ value-encoded (identity for classic names)
        + [T.StructField(escape_name(n), T.StringType(), False)
           for n in label_names]
    )
    meta_df = spark.createDataFrame(meta_rows, schema)
    out_schema = T.StructType(
        [f for f in schema.fields if f.name != "__chunk_ref"]
        + [T.StructField(CHUNK_BYTES, T.BinaryType(), False)]
    )

    def fetch(batches):
        segments: dict[int, bytes] = {}
        for pdf in batches:
            blobs = []
            for ref in pdf["__chunk_ref"]:
                seg_idx = int(ref) >> 32
                offset = int(ref) & 0xFFFFFFFF
                seg = segments.get(seg_idx)
                if seg is None:
                    seg = open(
                        os.path.join(block_dir, "chunks", f"{seg_idx:06d}"),
                        "rb",
                    ).read()
                    segments[seg_idx] = seg
                enc, data = read_chunk_record(seg, offset)
                _require_xor_encoding(enc, block_dir)
                blobs.append(data)
            out = pdf.drop(columns=["__chunk_ref"])
            out[CHUNK_BYTES] = pd.Series(blobs, index=pdf.index, dtype=object)
            yield out

    from tsdb_parquet_spark.catalog import spread

    return spread(meta_df).mapInPandas(fetch, out_schema)


def blocks_to_chunk_frame(
    spark: SparkSession,
    block_dirs: Sequence[str],
    label_names: Sequence[str],
    batch_rows: int = 4096,
    block_ids: Sequence[int] | None = None,
    tombstones: str = "error",
    select: "dict[str, Sequence[str]] | None" = None,
    window: "tuple[int, int] | None" = None,
) -> DataFrame:
    """Multi-block converter — the block-FARM shape of
    :func:`block_to_chunk_frame`.

    A 100 TB Prometheus installation is thousands of 2h/1d blocks; the
    reference converter (`cmd/convert/main.go:30-126`) iterates them one
    process at a time.  Here BOTH the index parse and the chunk payload
    fetch run executor-side, EXACTLY one task per block: the block list
    is distributed via ``parallelize(..., numSlices=n)``, whose slicing
    places one element per partition deterministically — a hash
    ``repartition(n, block_idx)`` does NOT (measured: at n=8 one task
    drew 3 blocks and 3 tasks idled; hash collisions skew small-n
    farms).  A farm of blocks converts with per-block parallelism and
    the driver holds only the block directory list.  Complementary tradeoff to
    :func:`block_to_chunk_frame`, which parses one index driver-side to
    spread a SINGLE block's chunk fetches across all cores — use that
    for one huge block, this for many blocks.

    ``label_names`` must be passed explicitly: per-block schemas are
    data-inferred in the reference (`schema/chunk.go:87-95`) and
    deriving the union would require the driver to parse every index —
    the exact serialization this function exists to avoid.  Missing
    labels fill as "" (`schema/chunk.go:109-112`).

    ``__series__id`` stays file-local per block (the reference's
    identity contract, `schema/chunk.go:28-30`) and is made globally
    unique by folding the block ordinal into the high 32 bits:
    ``block_idx << 32 | local_id``.  ``block_ids`` overrides the
    ordinals (default ``range(n)``) — incremental converters
    (:func:`sync_blocks`) pass each block's STABLE ordinal so ids from
    different sync batches never collide.

    Rows stream out in ``batch_rows``-sized Arrow batches so a block
    larger than executor memory never materializes at once.

    ``select`` ({label: allowed values}) pushes equality selection INTO
    the executor-side index walk: each task resolves the per-(label,
    value) postings lists and fetches ONLY the matching series' chunk
    records — a one-series query over a 10k-series block reads that
    series' records, not the block (legacy indexes without per-pair
    postings fall back to full-walk + filter, same result).  Under
    selection the id's low 32 bits are the series REFERENCE (stable
    across different selections of the same block) instead of the
    walk position — positional ids would renumber per selection.

    ``window`` ((mint, maxt), inclusive sample-time ms) skips chunk
    records whose index meta doesn't overlap it BEFORE the record
    fetch — the block twin of the chunk store's MIN_T/MAX_T parquet
    pushdown; callers prune whole blocks by meta.json first, this
    prunes within wide (multi-window compacted) blocks.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from tsdb_parquet_spark.schema import (
        CHUNK_BYTES,
        MAX_T,
        MIN_T,
        SERIES_ID,
    )

    from tsdb_parquet_spark.names import escape_name

    label_names = list(label_names)
    col_names = [escape_name(nm) for nm in label_names]
    n = len(block_dirs)
    if n == 0:
        raise ValueError("no block directories given")
    ids = list(block_ids) if block_ids is not None else list(range(n))
    if len(ids) != n:
        raise ValueError("block_ids must match block_dirs in length")
    # exact one-block-per-task placement (see docstring); createDataFrame
    # over an RDD preserves its partitioning
    rdd = spark.sparkContext.parallelize(
        [(i, d) for i, d in zip(ids, block_dirs)], n
    )
    dirs_df = spark.createDataFrame(rdd, "block_idx INT, block_dir STRING")
    out_schema = T.StructType(
        [
            T.StructField(SERIES_ID, T.LongType(), False),
            T.StructField(MIN_T, T.LongType(), False),
            T.StructField(MAX_T, T.LongType(), False),
        ]
        + [T.StructField(nm, T.StringType(), False) for nm in col_names]
        + [T.StructField(CHUNK_BYTES, T.BinaryType(), False)]
    )
    cols = [SERIES_ID, MIN_T, MAX_T, *col_names, CHUNK_BYTES]

    def convert(batches):
        for pdf in batches:
            for block_idx, block_dir in zip(
                pdf["block_idx"], pdf["block_dir"]
            ):
                base = int(block_idx) << 32
                check_tombstones(block_dir, tombstones)
                segments: dict[int, bytes] = {}
                rows: list[tuple] = []
                if select is None:
                    entries = enumerate(read_index(block_dir))
                else:
                    entries = (
                        (ref, (labels, metas))
                        for ref, labels, metas in read_index(
                            block_dir, with_refs=True, select=select
                        )
                    )
                for sid, (labels, metas) in entries:
                    lvals = tuple(labels.get(nm, "") for nm in label_names)
                    for mint, maxt, ref in metas:
                        if window is not None and (
                            maxt < window[0] or mint > window[1]
                        ):
                            continue
                        seg_idx = ref >> 32
                        seg = segments.get(seg_idx)
                        if seg is None:
                            seg = open(
                                os.path.join(
                                    block_dir, "chunks", f"{seg_idx:06d}"
                                ),
                                "rb",
                            ).read()
                            segments[seg_idx] = seg
                        enc, data = read_chunk_record(
                            seg, ref & 0xFFFFFFFF
                        )
                        _require_xor_encoding(enc, block_dir)
                        rows.append((base | sid, mint, maxt, *lvals, data))
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return dirs_df.mapInPandas(convert, out_schema)


def discover_blocks(data_dir: str) -> list[str]:
    """Block directories inside a Prometheus data dir: subdirectories
    with a ``meta.json`` (Prometheus names them by ULID), sorted by
    each block's ``minTime`` (ULID name order is creation order, not
    time order, once vertical compaction reorders things).

    Dot-prefixed names are invisible: ``.building-*`` export scratch (a
    crash after its meta.json lands but before the publish rename must
    not surface a half-block) and ``.trash-*`` retention scratch (a
    block renamed for deletion is already logically gone)."""
    found = []
    for name in sorted(os.listdir(data_dir)):
        if name.startswith("."):
            continue
        d = os.path.join(data_dir, name)
        meta_path = os.path.join(d, "meta.json")
        if os.path.isdir(d) and os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            found.append((meta.get("minTime", 0), d))
    return [d for _, d in sorted(found)]


def prune_blocks_by_time(
    block_dirs: Sequence[str],
    mint: int | None,
    maxt: int | None,
) -> list[str]:
    """Keep only blocks whose meta.json window can hold samples in
    ``[mint, maxt]`` (block windows are ``[minTime, maxTime)``).  A
    driver-side read of tiny meta.json files — the same per-block
    planning Prometheus itself does; on a multi-year farm this is the
    difference between parsing a handful of indexes and thousands."""
    kept = []
    for d in block_dirs:
        with open(os.path.join(d, "meta.json")) as fh:
            meta = json.load(fh)
        if mint is not None and meta.get("maxTime", 0) <= mint:
            continue
        if maxt is not None and meta.get("minTime", 0) > maxt:
            continue
        kept.append(d)
    return kept


def sync_blocks(
    spark: SparkSession,
    data_dir: str,
    store_root: str,
    label_names: Sequence[str],
    writer_opts=None,
) -> dict:
    """Incremental block-farm migration: convert every block in
    ``data_dir`` NOT yet in the store, as one farm job (one task per
    block), each sync batch landing as one sorted part of the store at
    ``store_root``.

    This is the continuous version of the reference's one-shot
    converter (`cmd/convert/main.go:30-126`): point it at a LIVE
    Prometheus data dir on a schedule and the store follows the TSDB —
    already-converted blocks are skipped by ULID, and re-runs after a
    crash are idempotent the same way the streaming sink's replay is:
    the batch's part directory is KEYED by the batch identity (the
    first new ordinal, which only advances when the sidecar commits),
    so a rerun after a crash anywhere between part write and sidecar
    commit overwrites the same directory rather than adding a second
    copy, and ``adopt`` of an already-live part is a no-op.  Each block
    keeps a STABLE ordinal in the sidecar, so ``__series__id``'s high
    bits never collide across batches.

    The part's writer converts each XOR chunk to the store's
    ``__ts``/``__values`` arrays (`chunks.blobs_to_arrays`, after the
    sort), so the pure-Python XOR decode is paid once, here, and never
    by a scan of the store.

    Returns ``{"converted": [ulid...], "skipped": [ulid...],
    "part": dir|None}``.
    """
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    state_path = os.path.join(store_root, "_converted_blocks.json")
    state: dict[str, int] = {}
    if os.path.exists(state_path):
        with open(state_path) as fh:
            state = json.load(fh)

    pending: list[tuple[str, str, int]] = []  # (ulid, dir, ordinal)
    skipped: list[str] = []
    next_ord = max(state.values(), default=-1) + 1
    for d in discover_blocks(data_dir):
        with open(os.path.join(d, "meta.json")) as fh:
            ulid = json.load(fh)["ulid"]
        if ulid in state:
            skipped.append(ulid)
            continue
        pending.append((ulid, d, next_ord))
        next_ord += 1
    if not pending:
        return {"converted": [], "skipped": skipped, "part": None}

    frame = blocks_to_chunk_frame(
        spark,
        [d for _, d, _ in pending],
        label_names,
        block_ids=[o for _, _, o in pending],
    )
    labels = list(label_names)
    opts = writer_opts or WriterOptions(
        sort_columns=sort_columns(labels),
        bloom_columns=[c for c in labels if c != "__name__"],
        max_files=16,
    )
    writer = SortedParquetWriter(spark, store_root, opts)
    # batch-keyed part dir (first new ordinal): a rerun after a crash
    # between this write and the sidecar commit recomputes the SAME key
    # — the sidecar hasn't advanced — and overwrites this directory
    # instead of publishing a duplicate part (write() would hand out a
    # fresh sequential name and double-count the batch)
    batch_ord = pending[0][2]
    part_dir = os.path.join(store_root, f"part.sync{batch_ord:08d}")
    from tsdb_parquet_spark.sources.writer import write_sorted

    part = write_sorted(frame, part_dir, opts)
    writer.adopt(part_dir)
    for ulid, _, ordinal in pending:
        state[ulid] = ordinal
    tmp = state_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, state_path)
    return {
        "converted": [u for u, _, _ in pending],
        "skipped": skipped,
        "part": part,
    }


# ---------------------------------------------------------------------------
# reverse converter: chunk frame -> TSDB block
# ---------------------------------------------------------------------------


def export_block(
    frame: DataFrame,
    block_dir: str,
    max_segment_bytes: int = 512 << 20,
) -> str:
    """Distributed REVERSE converter: a chunk frame (the store's native
    schema — ``__series__id``/``__mint``/``__maxt``, label columns,
    ``__ts``/``__values``; or a ``__chunk_bytes`` blob frame) -> a
    real, spec-complete Prometheus TSDB block directory (index v2 +
    chunk segment files + meta.json) that
    ``tsdb.OpenBlock`` can open.  The reference converter is one-way
    (`cmd/convert/main.go:30-126`: block -> parquet); this closes the
    loop, so a parquet store can be handed BACK to any
    Prometheus-ecosystem reader (promtool, Thanos, Grafana) — federation
    and backfill without a Prometheus server.

    Scale shape: chunk PAYLOADS never pass through the driver.  Each
    task streams its partition's chunks into its own segment file(s)
    under ``chunks/`` (rolled at ``max_segment_bytes``, the Prometheus
    segment cap is 512 MiB), writing to a task-unique temp name; only
    per-chunk METADATA (labels, mint/maxt, provisional ref) comes back
    — a few tens of bytes per chunk, the exact order the forward
    converter (`block_to_chunk_frame`) holds driver-side.  The driver
    then renames segments to the contiguous 1-based sequence the format
    requires (a metadata-only filesystem op), remaps refs, and writes
    the index + meta.json.  ``block_dir`` must be on storage all tasks
    can reach (the same assumption every Spark file sink makes).

    Array payloads, and blobs in the engine's earlier RAW layout, are
    encoded to Gorilla XOR executor-side (`xorchunk.encode_xor_chunk`)
    — a Prometheus block can only hold spec encodings.  Per-series
    chunk windows must be time-ordered and non-overlapping (the store's
    layout contract; ``write_index`` rejects violations because the
    index's uvarint inter-chunk deltas cannot represent overlap).

    Returns the block's ULID (content-derived, spec-valid — see
    ``_ulid_from_bytes``); ``meta.json`` is written LAST as the publish
    marker, mirroring Prometheus's own block-visibility rule.
    """
    import glob
    import shutil

    import numpy as np
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import types as T

    from tsdb_parquet_spark.schema import (
        CHUNK_BYTES,
        MAX_T,
        MIN_T,
        SERIES_ID,
        TS_ARRAY,
        VALUES_ARRAY,
    )
    from tsdb_parquet_spark.xorchunk import encode_xor_chunk, is_raw_chunk

    # every non-internal column is a label — including "__name__", which
    # is a real Prometheus label despite the dunder (only the engine's
    # own frame columns are internal)
    internal = {CHUNK_BYTES, MAX_T, MIN_T, SERIES_ID, TS_ARRAY, VALUES_ARRAY}
    blobs = CHUNK_BYTES in frame.columns
    label_names = sorted(c for c in frame.columns if c not in internal)
    seg_dir = os.path.join(block_dir, "chunks")
    shutil.rmtree(seg_dir, ignore_errors=True)
    for leftover in ("index", "meta.json"):
        try:
            os.remove(os.path.join(block_dir, leftover))
        except FileNotFoundError:
            pass
    os.makedirs(seg_dir, exist_ok=True)

    meta_schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType(), False),
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("mint", T.LongType(), False),
            T.StructField("maxt", T.LongType(), False),
        ]
        + [T.StructField(n, T.StringType(), False) for n in label_names]
    )
    header = struct.pack(">IB3x", CHUNKS_MAGIC, CHUNKS_VERSION)

    def write_part(batches):
        from tsdb_parquet_spark.chunks import decode_samples

        pid = TaskContext.get().partitionId()
        sub = 0
        out = bytearray(header)
        metas: list[tuple] = []

        def flush():
            nonlocal out, sub
            if len(out) > len(header):
                path = os.path.join(seg_dir, f"tmp-{pid:06d}-{sub:06d}")
                with open(path, "wb") as fh:
                    fh.write(out)
                sub += 1
            out = bytearray(header)

        for pdf in batches:
            if blobs:
                payload = pdf[CHUNK_BYTES].to_numpy()
            else:
                tss = pdf[TS_ARRAY].to_numpy()
                vals = pdf[VALUES_ARRAY].to_numpy()
            mints = pdf[MIN_T].to_numpy()
            maxts = pdf[MAX_T].to_numpy()
            labs = [pdf[n].to_numpy() for n in label_names]
            for i in range(len(pdf)):
                if not blobs:
                    blob = encode_xor_chunk(
                        np.asarray(tss[i], np.int64),
                        np.asarray(vals[i], np.float64),
                    )
                elif is_raw_chunk(blob := bytes(payload[i])):
                    ts, values = decode_samples(blob)
                    blob = encode_xor_chunk(ts, values)
                rec_len = 1 + len(blob) + 9 + 4  # enc + payload + varint + crc
                if len(out) + rec_len > max_segment_bytes:
                    flush()
                offset = len(out)
                _put_uvarint(out, len(blob))
                out.append(XOR_ENCODING)
                out += blob
                out += struct.pack(
                    ">I", crc32c(bytes([XOR_ENCODING]) + blob)
                )
                metas.append(
                    (pid, sub, offset, int(mints[i]), int(maxts[i]))
                    + tuple(str(col[i]) for col in labs)
                )
        flush()
        yield pd.DataFrame(
            metas, columns=[f.name for f in meta_schema.fields]
        )

    metas = frame.mapInPandas(write_part, meta_schema).collect()
    if not metas:
        shutil.rmtree(seg_dir, ignore_errors=True)
        raise ValueError("export_block: frame has no chunks")

    # contiguous 1-based segment sequence: rename temp files in
    # (pid, sub) order — metadata-only, no payload movement
    seg_of: dict[tuple[int, int], int] = {}
    for tmp_path in sorted(glob.glob(os.path.join(seg_dir, "tmp-*"))):
        base = os.path.basename(tmp_path)
        pid_s, sub_s = base[4:].split("-")
        seg = len(seg_of) + 1
        seg_of[(int(pid_s), int(sub_s))] = seg
        os.replace(tmp_path, os.path.join(seg_dir, f"{seg:06d}"))

    by_series: dict[tuple, list[tuple[int, int, int]]] = {}
    for row in metas:
        key = tuple(row[n] for n in label_names)
        seg = seg_of[(row["pid"], row["sub"])]
        by_series.setdefault(key, []).append(
            (row["mint"], row["maxt"], (seg << 32) | row["offset"])
        )
    from tsdb_parquet_spark.names import unescape_name

    # the block's index carries the RAW (possibly UTF-8) label names:
    # U__ value-encoded frame columns decode back on the way out, so a
    # real Prometheus 3.x reader sees the original dotted names
    wire_names = [unescape_name(n) for n in label_names]
    series = [
        (dict(zip(wire_names, key)), sorted(chunk_metas))
        for key, chunk_metas in by_series.items()
    ]
    write_index(block_dir, series)
    write_tombstones(block_dir)  # empty — deletions were applied upstream
    ulid = _ulid_from_bytes(
        open(os.path.join(block_dir, "index"), "rb").read()
    )
    meta = {
        "version": 1,
        "ulid": ulid,
        "minTime": min(m for _, chs in series for m, _, _ in chs),
        # exclusive, per Prometheus BlockMeta.MaxTime — see write_block
        "maxTime": max(m for _, chs in series for _, m, _ in chs) + 1,
        "stats": {
            "numSeries": len(series),
            "numChunks": len(metas),
        },
        "compaction": {"level": 1, "sources": []},
    }
    tmp = os.path.join(block_dir, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(block_dir, "meta.json"))
    return ulid


def export_blocks(
    frame: DataFrame,
    parent_dir: str,
    block_span_ms: int = 24 * 3600 * 1000,
    max_segment_bytes: int = 512 << 20,
    ulid_dirs: bool = True,
) -> list[tuple[str, str]]:
    """Export a chunk frame as a SEQUENCE of time-bounded blocks — the
    layout Prometheus actually keeps (a data dir of 2h/1d blocks named
    by ULID), where :func:`export_block` writes one monolith.  A 100 TB
    store cannot be one block: readers plan per-block by meta.json's
    [minTime, maxTime), compaction and retention work block-at-a-time,
    and segment refs are 32-bit offsets.

    Chunks land in the block covering their ``__mint`` (store chunks
    are span-aligned by ``samples_to_chunks``, so a chunk never
    straddles an export boundary wider than its own span; pick
    ``block_span_ms`` >= the store's chunk span).  The bucket list is
    the only driver-side state (one tiny distinct scan); each bucket
    then runs one distributed :func:`export_block` over a pruned scan
    — ``__mint`` range predicates push down to the store's zone maps,
    so block N's export reads only block N's row groups.

    Returns ``[(ulid, block_dir), ...]`` in time order.  With
    ``ulid_dirs`` each block lands in ``parent_dir/<ulid>`` (the
    Prometheus naming), written under a temp name and renamed on
    completion so a crash never leaves a half-block under a
    plausible-looking name."""
    import shutil

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.schema import MIN_T

    buckets = sorted(
        r[0]
        for r in frame.select(
            (F.col(MIN_T) - (F.col(MIN_T) % block_span_ms)).alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        raise ValueError("export_blocks: frame has no chunks")
    os.makedirs(parent_dir, exist_ok=True)
    out: list[tuple[str, str]] = []
    for start in buckets:
        part = frame.where(
            (F.col(MIN_T) >= start) & (F.col(MIN_T) < start + block_span_ms)
        )
        work_dir = os.path.join(
            parent_dir, f".building-{start}-{os.getpid()}"
        )
        shutil.rmtree(work_dir, ignore_errors=True)
        ulid = export_block(
            part, work_dir, max_segment_bytes=max_segment_bytes
        )
        final = os.path.join(parent_dir, ulid if ulid_dirs else str(start))
        shutil.rmtree(final, ignore_errors=True)
        os.rename(work_dir, final)
        out.append((ulid, final))
    return out


def compact_blocks(
    spark: SparkSession,
    block_dirs: Sequence[str],
    out_parent: str,
    label_names: Sequence[str],
    block_span_ms: int = 24 * 3600 * 1000,
    chunk_span_ms: int | None = None,
    max_segment_bytes: int = 512 << 20,
) -> list[tuple[str, str]]:
    """DISTRIBUTED block compaction — the ``promtool tsdb`` compactor
    reshaped for a cluster: N input blocks (overlapping or not) merge
    into fresh time-partitioned blocks with

    * tombstones APPLIED — each input's pending deletion intervals are
      resolved to label sets (``read_index(with_refs=True)`` maps the
      stone's series reference) and the matching samples dropped, so
      the output needs no tombstones file beyond the empty one;
    * duplicate (series, timestamp) collisions across overlapping
      inputs resolved FIRST-WRITE-WINS by block order (Prometheus's
      append semantics — the same rule the WAL drain applies);
    * samples re-chunked on a fresh ``chunk_span_ms`` grid and exported
      via :func:`export_blocks` (ULID dirs, crash-safe rename).

    Scale shape: sample payloads stay executor-side end-to-end
    (convert -> decode -> anti-join -> dedup -> re-encode -> segment
    writes), and so does every INDEX PARSE — stone-ref resolution runs
    in one task per stone-bearing block (the driver only probes each
    block's tiny tombstones file to find them); the resolved deletion
    table (tiny) is broadcast into the anti-join without ever being
    collected.  Prometheus compacts single-threaded per block on one
    box; this runs one task per input block on ingest and one per
    output bucket on export."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import (
        DEFAULT_CHUNK_SPAN_MS,
        chunks_to_samples,
        samples_to_chunks,
    )
    from tsdb_parquet_spark.schema import CHUNK_BYTES, SERIES_ID

    labels = sorted(label_names)
    # deletions are PER BLOCK: a tombstone on block A must not delete
    # block B's samples for the same series — the ordinal joins below.
    # Finding stone-BEARING blocks is a tiny driver-side file read per
    # block (same cost class as discover_blocks reading meta.json);
    # resolving stone refs to label sets requires parsing each block's
    # INDEX, which runs executor-side in one task per stone-bearing
    # block — on a farm where many blocks carry stones the driver never
    # serially parses indexes (it holds only the resolved deletion
    # table, tiny and broadcast into the anti-join below).
    stone_blocks = [
        (ord_, d)
        for ord_, d in enumerate(block_dirs)
        if read_tombstones(d)
    ]
    dels = None
    if stone_blocks:
        import pandas as pd
        from pyspark.sql import types as T

        sb_rdd = spark.sparkContext.parallelize(
            stone_blocks, len(stone_blocks)
        )
        sb_df = spark.createDataFrame(
            sb_rdd, "__del_ord INT, __block_dir STRING"
        )
        del_schema = T.StructType(
            [T.StructField("__del_ord", T.IntegerType(), False)]
            + [T.StructField(c, T.StringType(), False) for c in labels]
            + [
                T.StructField("__del_mint", T.LongType(), False),
                T.StructField("__del_maxt", T.LongType(), False),
            ]
        )
        del_cols = [f.name for f in del_schema.fields]

        def resolve_stones(batches):
            for pdf in batches:
                rows: list[tuple] = []
                for ord_, d in zip(pdf["__del_ord"], pdf["__block_dir"]):
                    stones = read_tombstones(d)
                    by_ref = {
                        ref: lbls
                        for ref, lbls, _ in read_index(d, with_refs=True)
                    }
                    for ref, intervals in stones.items():
                        if ref not in by_ref:
                            raise ValueError(
                                f"{d}: tombstone for unknown series "
                                f"ref {ref}"
                            )
                        lvals = tuple(
                            by_ref[ref].get(n, "") for n in labels
                        )
                        for mint, maxt in intervals:
                            rows.append(
                                (int(ord_), *lvals, mint, maxt)
                            )
                yield pd.DataFrame(rows, columns=del_cols)

        dels = sb_df.mapInPandas(resolve_stones, del_schema)

    frame = blocks_to_chunk_frame(
        spark, list(block_dirs), labels, tombstones="ignore"
    )
    decoded = chunks_to_samples(
        frame.select(
            *labels,
            F.shiftrightunsigned(F.col(SERIES_ID), 32).alias("__block_ord"),
            CHUNK_BYTES,
        ),
        [*labels, "__block_ord"],
    )
    if dels is not None:
        cond = decoded["__block_ord"] == dels["__del_ord"]
        for c in labels:
            cond = cond & (decoded[c] == dels[c])
        # tombstone intervals are CLOSED [mint, maxt] (Prometheus
        # tombstones.Interval.InBounds)
        cond = (
            cond
            & (decoded["ts"] >= dels["__del_mint"])
            & (decoded["ts"] <= dels["__del_maxt"])
        )
        decoded = decoded.join(F.broadcast(dels), cond, "left_anti")
    # first-write-wins by block order; WITHIN a block, duplicate
    # (series, ts) samples (legal in raw inputs) tie-break to the MIN
    # value — a deterministic total order, so compaction output (and
    # its oracle) never depends on task scheduling
    merged = decoded.groupBy(*labels, "ts").agg(
        F.min(F.struct("__block_ord", "value"))["value"].alias("value")
    )
    # the exporter never reads __series__id (the block index is built
    # from labels), so skip the dense-id assignment — its distinct +
    # join-back would add two whole shuffles to the compaction
    chunks = samples_to_chunks(
        merged.select(*labels, "ts", "value"),
        labels,
        chunk_span_ms=(
            DEFAULT_CHUNK_SPAN_MS if chunk_span_ms is None else chunk_span_ms
        ),
        assign_series_ids=False,
    )
    return export_blocks(
        chunks,
        out_parent,
        block_span_ms=block_span_ms,
        max_segment_bytes=max_segment_bytes,
    )


# ---------------------------------------------------------------------------
# block-farm maintenance: retention + downsampling (the operational loop)
# ---------------------------------------------------------------------------


def retention_sweep_blocks(
    data_dir: str, retention_ms: int, now_ms: int
) -> dict:
    """Age-based block retention — the loop a long-term Prometheus
    store runs (Thanos compactor `--retention.resolution-*` semantics):
    delete every block whose WHOLE window has aged out, i.e. whose
    exclusive ``maxTime`` is at or before ``now_ms - retention_ms``.
    A block straddling the horizon stays (Prometheus deletes whole
    blocks only; partial trims happen via compaction).

    Crash-safe two-phase delete: the block dir is first renamed to
    ``.trash-<name>`` (one atomic inode op — after it the block is
    invisible to `discover_blocks`, so no reader ever sees a
    half-deleted block), then removed; leftover ``.trash-*`` from a
    crashed earlier sweep is finished FIRST.  Returns
    ``{"deleted": [ulid...], "kept": n, "resumed_trash": n}``.
    """
    import shutil

    resumed = 0
    for name in sorted(os.listdir(data_dir)):
        if name.startswith(".trash-"):
            shutil.rmtree(os.path.join(data_dir, name), ignore_errors=True)
            resumed += 1
    horizon = int(now_ms) - int(retention_ms)
    deleted: list[str] = []
    kept = 0
    for d in discover_blocks(data_dir):
        with open(os.path.join(d, "meta.json")) as fh:
            meta = json.load(fh)
        if int(meta.get("maxTime", 0)) <= horizon:
            name = os.path.basename(d)
            trash = os.path.join(data_dir, f".trash-{name}")
            os.rename(d, trash)
            shutil.rmtree(trash, ignore_errors=True)
            deleted.append(meta.get("ulid", name))
        else:
            kept += 1
    return {"deleted": deleted, "kept": kept, "resumed_trash": resumed}


def downsample_blocks(
    spark: SparkSession,
    block_dirs: Sequence[str],
    out_parent: str,
    label_names: Sequence[str],
    step_ms: int,
    aggs: Sequence[str] | None = None,
    block_span_ms: int = 24 * 3600 * 1000,
    chunk_span_ms: int | None = None,
    max_segment_bytes: int = 512 << 20,
) -> list[tuple[str, str]]:
    """Thanos-style downsampled blocks from a raw block farm: decode
    every input block (one task per block, payloads executor-side),
    roll samples up to one point per (series, ``step_ms`` bucket) per
    aggregate under recording-rule names (``metric:sum`` etc. —
    `sources.rollup.downsample_samples`, so the rollup-routing query
    side `plans.routing` serves these blocks unchanged), re-chunk, and
    export as fresh ULID blocks.

    Thanos stores 5 aggregates per window in special chunk encodings
    (AggrChunk); this engine's chunk model is plain (labels, ts, value),
    so the aggregates land as separate recording-rule SERIES — the same
    information, queryable by any PromQL engine without a custom chunk
    decoder.  ``avg`` is deliberately not materialized (sum/count
    re-aggregate losslessly; a pre-divided avg does not).

    Classic-histogram ``_bucket`` series (an ``le`` label column) roll
    like any other series, and every aggregate here PRESERVES the
    cumulative-in-``le`` monotonicity per window (each is monotone in
    its inputs, and cumulative counts are pointwise ordered across
    ``le`` at every raw timestamp — pinned by
    tests/test_rollup.py::test_downsample_le_buckets_stay_monotone).
    Semantics for ``histogram_quantile`` over the rollup differ by
    aggregate, though: ``<m>_bucket:sum`` is the valid one (sum of
    cumulative counts over the window = the merged histogram, exactly
    what a raw-data range query would aggregate) and ``:last`` is a
    valid end-of-window snapshot; ``:min``/``:max``/``:count`` of
    cumulative counters mix per-bucket extrema from different instants
    — well-formed but not a histogram of anything, don't quantile them."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import (
        DEFAULT_CHUNK_SPAN_MS,
        chunks_to_samples,
        samples_to_chunks,
    )
    from tsdb_parquet_spark.sources.rollup import (
        ROLLUP_AGGS,
        downsample_samples,
    )

    labels = sorted(label_names)
    frame = blocks_to_chunk_frame(
        spark, list(block_dirs), labels, tombstones="error"
    )
    samples = chunks_to_samples(frame, labels)
    rolled = downsample_samples(
        samples,
        labels,
        step_ms=int(step_ms),
        aggs=tuple(aggs) if aggs is not None else ROLLUP_AGGS,
    )
    # default chunk span: ~24 points per chunk, but never wider than the
    # target block span — a chunk spanning multiple block windows forces
    # export_blocks to widen a block around it, collapsing the farm into
    # one wide block and killing per-block pruning + task parallelism
    span = (
        int(chunk_span_ms)
        if chunk_span_ms
        else min(
            max(int(step_ms) * 24, DEFAULT_CHUNK_SPAN_MS),
            int(block_span_ms),
        )
    )
    # no __series__id: the exporter builds its index from labels, and
    # skipping the dense-id distinct+join saves two shuffles
    chunks = samples_to_chunks(
        rolled, labels, chunk_span_ms=span, assign_series_ids=False
    )
    return export_blocks(
        chunks,
        out_parent,
        block_span_ms=block_span_ms,
        max_segment_bytes=max_segment_bytes,
    )


def maintain_block_farm(
    spark: SparkSession,
    data_dir: str,
    label_names: Sequence[str],
    now_ms: int,
    retention_ms: int | None = None,
    downsample_step_ms: int | None = None,
    downsample_dir: str | None = None,
    downsample_after_ms: int = 0,
    block_span_ms: int = 24 * 3600 * 1000,
    downsample_aggs: Sequence[str] | None = None,
    downsample_chunk_span_ms: int | None = None,
) -> dict:
    """ONE maintenance tick for a block farm — the operational loop a
    real long-term Prometheus store runs (Thanos compactor semantics),
    composing the engine's block primitives:

    1. *downsample*: every raw block whose window is entirely older
       than ``now_ms - downsample_after_ms`` and not yet downsampled
       (tracked in a ``_downsampled.json`` sidecar under
       ``downsample_dir``) rolls up into recording-rule blocks at
       ``downsample_step_ms`` resolution via one farm job
       (:func:`downsample_blocks`).
    2. *retention*: raw blocks older than ``retention_ms`` are deleted
       crash-safely (:func:`retention_sweep_blocks`).  Downsampling
       runs FIRST so a block never ages out before its rollup exists.

    Crash idempotency: the sidecar commits only after the export's
    publish renames, so a crash mid-downsample re-exports the same
    deterministic, content-ULID'd blocks over themselves; retention's
    two-phase rename resumes half-finished deletes.  Returns
    ``{"downsampled": {src_ulid: [out_ulid...]}, "retention": {...}}``.

    ``downsample_chunk_span_ms``: rollup chunk span.  The
    `downsample_blocks` default (``step * 24``) EXCEEDS a 1-day
    ``block_span_ms`` once ``step > 1h``, and the exporter cannot split
    below chunk granularity — the farm then lands as one wide block.
    Pass a span <= ``block_span_ms`` (e.g. ``block_span_ms`` itself)
    when the rollup farm should keep the day-block layout the routed
    query side prunes on.
    """
    report: dict = {"downsampled": {}, "retention": None}
    if downsample_step_ms is not None:
        if downsample_dir is None:
            raise ValueError(
                "downsample_step_ms requires downsample_dir"
            )
        os.makedirs(downsample_dir, exist_ok=True)
        side_path = os.path.join(downsample_dir, "_downsampled.json")
        done: dict[str, list[str]] = {}
        if os.path.exists(side_path):
            with open(side_path) as fh:
                done = json.load(fh)
        horizon = int(now_ms) - int(downsample_after_ms)
        pending: list[tuple[str, str]] = []
        for d in discover_blocks(data_dir):
            with open(os.path.join(d, "meta.json")) as fh:
                meta = json.load(fh)
            ulid = meta.get("ulid", os.path.basename(d))
            if ulid in done:
                continue
            if int(meta.get("maxTime", 0)) <= horizon:
                pending.append((ulid, d))
        if pending:
            out = downsample_blocks(
                spark,
                [d for _, d in pending],
                downsample_dir,
                label_names,
                step_ms=int(downsample_step_ms),
                aggs=downsample_aggs,
                block_span_ms=block_span_ms,
                chunk_span_ms=downsample_chunk_span_ms,
            )
            out_ulids = [u for u, _ in out]
            # the whole pending set rolled up in ONE farm job; every
            # source maps to the full output list (re-running any
            # source alone would change bucket contents, so the batch
            # is the idempotency unit)
            for ulid, _ in pending:
                done[ulid] = out_ulids
            tmp = side_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(done, fh)
            os.replace(tmp, side_path)
            report["downsampled"] = {u: done[u] for u, _ in pending}
    if retention_ms is not None:
        report["retention"] = retention_sweep_blocks(
            data_dir, int(retention_ms), int(now_ms)
        )
    return report


def verify_block(block_dir: str, decode: bool = True) -> dict:
    """Integrity-check a TSDB block directory — the ``promtool tsdb``
    analog the operational loop wants before trusting a block (the
    reference converter reads blocks with NO validation beyond parse
    errors).  Checks, all from the public format docs:

    * ``meta.json`` parses, ``minTime <= maxTime``, ULID matches the
      directory name;
    * the index TOC/symbols/postings/series sections parse with their
      CRC-32Cs (``read_index`` verifies as it walks) and series labels
      arrive in the format's sorted order;
    * every chunk meta's reference resolves into an existing segment
      file, the record's CRC-32C verifies, and (``decode=True``) the
      XOR payload decodes to ``numSamples > 0`` with every timestamp
      inside the meta's ``[mint, maxt]`` and the block's
      ``[minTime, maxTime)``;
    * ``tombstones`` parses (CRC) and every stone's series ref exists.

    Returns a report dict (series/chunks/samples counts, per-check
    booleans); raises ``ValueError`` on the first integrity failure —
    a broken block should stop a pipeline, not be summarized.  Runs
    driver-side by design: validation is an operational pre-flight over
    ONE block (the distributed readers re-verify CRCs on every read
    anyway); fan a farm out by calling it per block dir."""
    import json as _json

    report = {"block": block_dir}
    with open(os.path.join(block_dir, "meta.json")) as fh:
        meta = _json.load(fh)
    if meta["minTime"] > meta["maxTime"]:
        raise ValueError(
            f"meta.json minTime {meta['minTime']} > maxTime "
            f"{meta['maxTime']}"
        )
    dirname = os.path.basename(block_dir.rstrip("/"))
    # data-dir blocks are NAMED their ULID; a standalone export dir may
    # carry any name (export_block writes into the caller's dir), so the
    # name check applies only when the name is ULID-shaped
    ulid_shaped = len(dirname) == 26 and all(
        c in "0123456789ABCDEFGHJKMNPQRSTVWXYZ" for c in dirname
    )
    if ulid_shaped and meta.get("ulid") != dirname:
        raise ValueError(
            f"meta.json ulid {meta.get('ulid')!r} != directory {dirname!r}"
        )
    report["meta_ok"] = True

    entries = read_index(block_dir, with_refs=True)
    order = [
        tuple(sorted(labels.items())) for _, labels, _ in entries
    ]
    if order != sorted(order):
        raise ValueError("index series are not in sorted label order")
    refs = {ref for ref, _, _ in entries}
    report["series"] = len(entries)

    segments: dict[int, bytes] = {}
    n_chunks = n_samples = 0
    for _, _, metas in entries:
        for mint, maxt, ref in metas:
            # the repo's refs carry the 1-BASED segment sequence in the
            # upper 32 bits (matching the 000001... file names directly,
            # see block_to_chunk_frame's fetch)
            seg_idx, off = int(ref) >> 32, int(ref) & 0xFFFFFFFF
            if seg_idx not in segments:
                seg_path = os.path.join(
                    block_dir, "chunks", f"{seg_idx:06d}"
                )
                if not os.path.exists(seg_path):
                    raise ValueError(
                        f"chunk ref {ref:#x}: segment {seg_path} missing"
                    )
                segments[seg_idx] = open(seg_path, "rb").read()
            enc, payload = read_chunk_record(segments[seg_idx], off)
            _require_xor_encoding(enc, block_dir)
            n_chunks += 1
            if decode:
                from tsdb_parquet_spark.xorchunk import decode_xor_chunk

                ts, _vals = decode_xor_chunk(payload)
                if len(ts) == 0:
                    raise ValueError(f"chunk ref {ref:#x}: zero samples")
                if ts[0] < mint or ts[-1] > maxt:
                    raise ValueError(
                        f"chunk ref {ref:#x}: samples "
                        f"[{ts[0]}, {ts[-1]}] outside meta "
                        f"[{mint}, {maxt}]"
                    )
                if ts[0] < meta["minTime"] or ts[-1] >= meta["maxTime"]:
                    raise ValueError(
                        f"chunk ref {ref:#x}: samples outside the "
                        f"block's [minTime, maxTime)"
                    )
                n_samples += len(ts)
    report["chunks"] = n_chunks
    if decode:
        report["samples"] = n_samples

    stones = read_tombstones(block_dir)
    dangling = sorted(set(stones) - refs)
    if dangling:
        raise ValueError(
            f"tombstones reference unknown series refs {dangling[:5]}"
        )
    report["tombstone_series"] = len(stones)
    report["ok"] = True
    return report

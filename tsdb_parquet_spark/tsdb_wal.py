"""Prometheus write-ahead-log (WAL) reader/writer + distributed ingest.

Completes full Prometheus *data-dir* input parity: the block reader
(:mod:`tsdb_parquet_spark.tsdb_block`) ingests compacted blocks, but a
live installation's most recent ~2-3 h of samples exist only in the head
WAL.  The reference converter (`cmd/convert/main.go:30-126`) links the
Prometheus libraries and reads blocks only; this module parses the
public WAL disk format directly, so ``convert``/``sync`` can drain an
entire data dir — blocks AND head — without Prometheus code.

Disk format (public spec, ``prometheus/tsdb/docs/format/wal.md``):

* a WAL directory holds numeric segment files ``00000000``,
  ``00000001``, ... each a sequence of 32 KiB pages;
* each page holds record *fragments* framed as::

      type  <1 B>   low 3 bits: 0 rest-of-page-empty, 1 full record,
                    2 first, 3 middle, 4 last fragment
                    bit 3 (0x08): record is snappy-compressed
                    bit 4 (0x10): record is zstd-compressed
      len   <2 B big-endian>   fragment data length
      crc   <4 B big-endian>   CRC32-Castagnoli of the fragment data
      data  <len bytes>

  fragments never span pages; records never span segments;
* record payloads (``prometheus/tsdb/record/record.go``)::

      Series  (0x01): repeated { ref <8 B BE>, n_labels uvarint,
                                 n x { uvarint-len name,
                                       uvarint-len value } }
      Samples (0x02): base_ref <8 B BE>, base_ts <8 B BE int64>, then
                      per sample { ref-base varint, ts-base varint,
                                   float64 bits <8 B BE> }

* ``checkpoint.NNNNNNNN`` directories hold the same segment format
  (live series + still-needed samples for segments <= N); replay reads
  the latest checkpoint, then segments numbered > N.

Compression: Prometheus snappy-compresses records BY DEFAULT since
v2.20, so the snappy block format is implemented here in pure python
(full decoder incl. overlapping copies; all-literal encoder) — the
reader decompresses snappy-flagged records with python-snappy when
importable and the built-in decoder otherwise, and the writer can emit
snappy-flagged records (``compression="snappy"``).  zstd-flagged
records require the zstandard library (absent here) and raise clearly.

Scale notes: series records are tiny (one per series lifetime) while
sample records dominate bytes, so ingest is two passes — pass 1 scans
every segment for Series records only (skipping Samples payloads after
the 1-byte type check) to build the small ref->labels table; pass 2
decodes Samples per segment, one task per segment file (the
``parallelize(..., numSlices=n)`` exact-placement idiom proven for
block farms, `tsdb_block.blocks_to_chunk_frame`), and joins refs to
labels with a broadcast-eligible join.  The driver never holds sample
data; segment bytes stream through executors in Arrow batches.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from tsdb_parquet_spark.tsdb_block import (
    _read_uvarint,
    _read_varint,
    crc32c,
)

PAGE_SIZE = 32 * 1024
DEFAULT_SEGMENT_BYTES = 128 * 1024 * 1024

#: WAL total-append-order key for FIRST-WRITE-WINS dedup, as ONE BIGINT:
#: ``min_by(x, struct(seg_ord, rec_ord))`` forces SortAggregate (a struct
#: is not a mutable agg-buffer type — extra Sort per partial+final pass,
#: spill-prone at scale); the packed key keeps the dedup a HashAggregate.
#: rec_ord is the per-sample ordinal within one <=128 MiB segment
#: (< 2^27 at >=2-byte samples), far below the 33-bit field.
_APPEND_ORD = "shiftleft(cast(seg_ord as bigint), 33) + rec_ord"
_HEADER = 7  # type(1) + len(2) + crc(4)

# fragment types (low 3 bits)
_PAGE_TERM = 0
_FULL = 1
_FIRST = 2
_MIDDLE = 3
_LAST = 4
_SNAPPY_FLAG = 0x08
_ZSTD_FLAG = 0x10

# record types (prometheus/tsdb/record/record.go)
SERIES = 0x01
SAMPLES = 0x02
TOMBSTONES = 0x03
EXEMPLARS = 0x04
#: head-internal chunk-flush markers (ref + mmap ref pairs) — carry no
#: sample/series content; every drain skips them by design
MMAP_MARKERS = 0x05
METADATA = 0x06
#: native-histogram sample records: decoded by `histograms.py` and
#: EXPANDED to classic `_bucket{le=}`/`_count`/`_sum` series (the
#: engine's chunk model stores float samples, `schema/chunk.go:25-37`,
#: so the sparse form is reduced rather than stored); the float-sample
#: drains skip the types, `wal_to_histogram_frame` drains them
HISTOGRAM_SAMPLES = 0x07
FLOAT_HISTOGRAM_SAMPLES = 0x08

#: Prometheus staleness marker: a quiet NaN with this exact bit pattern
#: marks the end of a series (scrape target gone); ordinary NaN sample
#: values have different payloads and are real data
STALE_NAN_BITS = 0x7FF0000000000002


def stale_marker() -> float:
    """The staleness-marker float (bit-exact)."""
    return struct.unpack(">d", struct.pack(">Q", STALE_NAN_BITS))[0]


def is_stale_marker(value: float) -> bool:
    """Bit-exact staleness test — ordinary NaNs are NOT stale."""
    return struct.unpack(">Q", struct.pack(">d", value))[0] == STALE_NAN_BITS


class WalCorruptionError(ValueError):
    """A record failed its framing/CRC contract mid-WAL."""


# ---------------------------------------------------------------------------
# snappy block format (pure python)
# ---------------------------------------------------------------------------
# Prometheus compresses WAL records with snappy BY DEFAULT since v2.20,
# and python-snappy does not ship in this environment — so the public
# snappy block format is implemented here directly.  The decoder handles
# the full element set (literals + 1/2/4-byte-offset copies, including
# overlapping copies); the encoder emits an all-literal stream, which is
# spec-valid snappy any conforming decoder (including Prometheus's C
# snappy) decompresses byte-identically.


def snappy_decompress(data: bytes) -> bytes:
    """Decode snappy block-format bytes (format_description.txt)."""
    if not data:
        raise ValueError("empty snappy stream")
    ulen, pos = _read_uvarint(data, 0)
    out = bytearray()
    n = len(data)
    try:
        while pos < n:
            tag = data[pos]
            pos += 1
            t = tag & 3
            if t == 0:  # literal
                l6 = tag >> 2
                if l6 < 60:
                    length = l6 + 1
                else:
                    nb = l6 - 59  # 1..4 little-endian extra length bytes
                    length = (
                        int.from_bytes(data[pos : pos + nb], "little") + 1
                    )
                    pos += nb
                if pos + length > n:
                    raise ValueError("literal overruns input")
                out += data[pos : pos + length]
                pos += length
                continue
            if t == 1:  # copy, 11-bit offset, 3-bit length
                length = ((tag >> 2) & 0x7) + 4
                offset = ((tag >> 5) << 8) | data[pos]
                pos += 1
            elif t == 2:  # copy, 16-bit offset
                length = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 2], "little")
                pos += 2
            else:  # copy, 32-bit offset
                length = (tag >> 2) + 1
                offset = int.from_bytes(data[pos : pos + 4], "little")
                pos += 4
            if offset == 0 or offset > len(out):
                raise ValueError("copy offset out of range")
            if offset >= length:
                start = len(out) - offset
                out += out[start : start + length]
            else:
                # overlapping copy: byte-at-a-time semantics (RLE-style)
                for _ in range(length):
                    out.append(out[-offset])
    except IndexError as exc:
        raise ValueError("truncated snappy stream") from exc
    if len(out) != ulen:
        raise ValueError(
            f"snappy length mismatch: header {ulen}, decoded {len(out)}"
        )
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """Spec-valid snappy encoding as an all-literal stream (no
    back-references — larger output, universally decodable)."""
    out = bytearray()
    _put_uvarint(out, len(data))
    pos = 0
    n = len(data)
    while pos < n:
        chunk = min(n - pos, 1 << 24)  # 3 extra length bytes per element
        if chunk <= 60:
            out.append((chunk - 1) << 2)
        elif chunk <= 256:
            out.append(60 << 2)
            out += (chunk - 1).to_bytes(1, "little")
        elif chunk <= 65536:
            out.append(61 << 2)
            out += (chunk - 1).to_bytes(2, "little")
        else:
            out.append(62 << 2)
            out += (chunk - 1).to_bytes(3, "little")
        out += data[pos : pos + chunk]
        pos += chunk
    return bytes(out)


# ---------------------------------------------------------------------------
# record payload encode/decode
# ---------------------------------------------------------------------------


def _put_uvarint(out: bytearray, x: int) -> None:
    while x >= 0x80:
        out.append((x & 0x7F) | 0x80)
        x >>= 7
    out.append(x)


def _put_varint(out: bytearray, x: int) -> None:
    # Go binary.PutVarint zig-zag
    _put_uvarint(out, (x << 1) if x >= 0 else ((-x) << 1) - 1)


def encode_series_record(series: Sequence[tuple[int, dict[str, str]]]) -> bytes:
    """``record.Series`` payload: per series a BE64 ref then the label
    set as uvarint count + uvarint-length-prefixed name/value strings."""
    out = bytearray([SERIES])
    for ref, labels in series:
        out += struct.pack(">Q", ref)
        _put_uvarint(out, len(labels))
        for name in sorted(labels):
            nb = name.encode("utf-8")
            vb = labels[name].encode("utf-8")
            _put_uvarint(out, len(nb))
            out += nb
            _put_uvarint(out, len(vb))
            out += vb
    return bytes(out)


def decode_series_record(data: bytes) -> list[tuple[int, dict[str, str]]]:
    if not data or data[0] != SERIES:
        raise ValueError("not a Series record")
    pos, end = 1, len(data)
    out: list[tuple[int, dict[str, str]]] = []
    while pos < end:
        (ref,) = struct.unpack_from(">Q", data, pos)
        pos += 8
        n, pos = _read_uvarint(data, pos)
        labels: dict[str, str] = {}
        for _ in range(n):
            ln, pos = _read_uvarint(data, pos)
            name = data[pos : pos + ln].decode("utf-8")
            pos += ln
            ln, pos = _read_uvarint(data, pos)
            labels[name] = data[pos : pos + ln].decode("utf-8")
            pos += ln
        out.append((ref, labels))
    return out


def encode_tombstones_record(
    stones: Sequence[tuple[int, int, int]]
) -> bytes:
    """``record.Tombstones`` payload: per deleted interval a BE64 series
    ref then varint [mint, maxt] (inclusive bounds, ms)."""
    out = bytearray([TOMBSTONES])
    for ref, mint, maxt in stones:
        out += struct.pack(">Q", ref)
        _put_varint(out, mint)
        _put_varint(out, maxt)
    return bytes(out)


def decode_tombstones_record(data: bytes) -> list[tuple[int, int, int]]:
    if not data or data[0] != TOMBSTONES:
        raise ValueError("not a Tombstones record")
    pos, end = 1, len(data)
    out: list[tuple[int, int, int]] = []
    while pos < end:
        (ref,) = struct.unpack_from(">Q", data, pos)
        pos += 8
        mint, pos = _read_varint(data, pos)
        maxt, pos = _read_varint(data, pos)
        out.append((ref, mint, maxt))
    return out


def encode_exemplars_record(
    exemplars: Sequence[tuple[int, int, float, dict[str, str]]]
) -> bytes:
    """``record.Exemplars`` payload: the Samples base/delta layout with
    an exemplar label set (trace ids etc.) appended to each entry."""
    if not exemplars:
        raise ValueError("empty Exemplars record")
    out = bytearray([EXEMPLARS])
    base_ref, base_ts, _, _ = exemplars[0]
    out += struct.pack(">Q", base_ref)
    out += struct.pack(">q", base_ts)
    for ref, ts, value, labels in exemplars:
        _put_varint(out, ref - base_ref)
        _put_varint(out, ts - base_ts)
        out += struct.pack(">Q", _float_bits(value))
        _put_uvarint(out, len(labels))
        for name in sorted(labels):
            nb = name.encode("utf-8")
            vb = labels[name].encode("utf-8")
            _put_uvarint(out, len(nb))
            out += nb
            _put_uvarint(out, len(vb))
            out += vb
    return bytes(out)


def decode_exemplars_record(
    data: bytes,
) -> list[tuple[int, int, float, dict[str, str]]]:
    if not data or data[0] != EXEMPLARS:
        raise ValueError("not an Exemplars record")
    if len(data) == 1:
        return []
    pos, end = 1, len(data)
    (base_ref,) = struct.unpack_from(">Q", data, pos)
    pos += 8
    (base_ts,) = struct.unpack_from(">q", data, pos)
    pos += 8
    out: list[tuple[int, int, float, dict[str, str]]] = []
    while pos < end:
        dref, pos = _read_varint(data, pos)
        dts, pos = _read_varint(data, pos)
        (bits,) = struct.unpack_from(">Q", data, pos)
        pos += 8
        (value,) = struct.unpack(">d", struct.pack(">Q", bits))
        n, pos = _read_uvarint(data, pos)
        labels: dict[str, str] = {}
        for _ in range(n):
            ln, pos = _read_uvarint(data, pos)
            name = data[pos : pos + ln].decode("utf-8")
            pos += ln
            ln, pos = _read_uvarint(data, pos)
            labels[name] = data[pos : pos + ln].decode("utf-8")
            pos += ln
        out.append((base_ref + dref, base_ts + dts, value, labels))
    return out


#: record.Metadata metric-type byte values (record.go `GetMetricType`)
METADATA_METRIC_TYPES = (
    "unknown",
    "counter",
    "gauge",
    "histogram",
    "gaugehistogram",
    "summary",
    "info",
    "stateset",
)


def encode_metadata_record(
    metadata: Sequence[tuple[int, str, str, str]],
) -> bytes:
    """``record.Metadata`` payload (metric help/unit/type, logged when a
    target's metadata changes): per entry a uvarint series ref, a
    metric-type byte, then a uvarint field count followed by
    uvarint-string name/value pairs — Prometheus writes the two fields
    ``unit`` and ``help`` and ignores unknown names on read (the
    format's forward-compatibility hook).  Entries are
    ``(ref, type, unit, help)`` with ``type`` from
    :data:`METADATA_METRIC_TYPES`."""
    out = bytearray([METADATA])
    for ref, mtype, unit, help_ in metadata:
        _put_uvarint(out, ref)
        out.append(METADATA_METRIC_TYPES.index(mtype))
        _put_uvarint(out, 2)  # field count: unit + help
        for name, val in (("unit", unit), ("help", help_)):
            nb = name.encode("utf-8")
            vb = val.encode("utf-8")
            _put_uvarint(out, len(nb))
            out += nb
            _put_uvarint(out, len(vb))
            out += vb
    return bytes(out)


def decode_metadata_record(
    data: bytes,
) -> list[tuple[int, str, str, str]]:
    if not data or data[0] != METADATA:
        raise ValueError("not a Metadata record")
    pos, end = 1, len(data)
    out: list[tuple[int, str, str, str]] = []
    while pos < end:
        ref, pos = _read_uvarint(data, pos)
        type_byte = data[pos]
        pos += 1
        mtype = (
            METADATA_METRIC_TYPES[type_byte]
            if type_byte < len(METADATA_METRIC_TYPES)
            else "unknown"
        )
        n_fields, pos = _read_uvarint(data, pos)
        fields: dict[str, str] = {}
        for _ in range(n_fields):
            ln, pos = _read_uvarint(data, pos)
            name = data[pos : pos + ln].decode("utf-8")
            pos += ln
            ln, pos = _read_uvarint(data, pos)
            fields[name] = data[pos : pos + ln].decode("utf-8")
            pos += ln
        out.append(
            (ref, mtype, fields.get("unit", ""), fields.get("help", ""))
        )
    return out


def encode_mmap_markers_record(
    markers: Sequence[tuple[int, int]],
) -> bytes:
    """``record.MmapMarkers`` payload: (series ref, mmapped chunk ref)
    BE64 pairs — head-internal flush bookkeeping with no sample
    content; drains skip the type, this encoder exists so tests can
    prove that."""
    out = bytearray([MMAP_MARKERS])
    for ref, mmap_ref in markers:
        out += struct.pack(">Q", ref)
        out += struct.pack(">Q", mmap_ref)
    return bytes(out)


def decode_histogram_samples_record(data: bytes):
    """Native-histogram sample records (types 7/8): decoded by
    `histograms.decode_histogram_samples_record` into
    ``[(ref, ts_ms, NativeHistogram)]``.  The float-sample drains SKIP
    the record types (a mixed WAL still drains its float samples);
    `wal_to_histogram_frame` drains them as classic-expanded series."""
    from tsdb_parquet_spark.histograms import (
        decode_histogram_samples_record as _decode,
    )

    return _decode(data)


def read_wal_metadata(wal_dir: str) -> "dict[int, tuple[str, str, str]]":
    """Latest (type, unit, help) per series ref from Metadata records
    anywhere in the WAL, replay-ordered (later records win — Prometheus
    re-logs metadata when it changes).  Metadata volume is one entry
    per metric name, so this is a driver-side walk like
    `read_wal_tombstones`."""
    segs = discover_wal_segments(wal_dir)
    meta: dict[int, tuple[str, str, str]] = {}
    for i, path in enumerate(segs):
        for rec in _read_segment(path, i == len(segs) - 1):
            if rec and rec[0] == METADATA:
                for ref, mtype, unit, help_ in decode_metadata_record(rec):
                    meta[ref] = (mtype, unit, help_)
    return meta


def encode_samples_record(samples: Sequence[tuple[int, int, float]]) -> bytes:
    """``record.Samples`` payload: base (ref, ts) from the first sample
    as BE64s, then EVERY sample (the first included, with zero deltas)
    as varint deltas against the base plus raw float64 bits."""
    if not samples:
        raise ValueError("empty Samples record")
    out = bytearray([SAMPLES])
    base_ref, base_ts, _ = samples[0]
    out += struct.pack(">Q", base_ref)
    out += struct.pack(">q", base_ts)
    for ref, ts, value in samples:
        _put_varint(out, ref - base_ref)
        _put_varint(out, ts - base_ts)
        out += struct.pack(">Q", _float_bits(value))
    return bytes(out)


def _float_bits(v: float) -> int:
    return struct.unpack(">Q", struct.pack(">d", v))[0]


_UNPACK_D = struct.Struct(">d").unpack_from


def decode_samples_columns(
    data: bytes,
) -> tuple[list[int], list[int], list[float]]:
    """Columnar Samples decode: three parallel lists (refs, ts, values)
    with no per-sample tuple allocation — the hot path of the WAL
    drain (varints inlined, one struct call per float)."""
    if not data or data[0] != SAMPLES:
        raise ValueError("not a Samples record")
    refs: list[int] = []
    tss: list[int] = []
    vals: list[float] = []
    if len(data) == 1:
        return refs, tss, vals
    pos, end = 1, len(data)
    (base_ref,) = struct.unpack_from(">Q", data, pos)
    pos += 8
    (base_ts,) = struct.unpack_from(">q", data, pos)
    pos += 8
    r_app = refs.append
    t_app = tss.append
    v_app = vals.append
    unpack_d = _UNPACK_D
    while pos < end:
        b = data[pos]
        pos += 1
        if b < 0x80:
            ux = b
        else:
            ux = b & 0x7F
            shift = 7
            while True:
                b = data[pos]
                pos += 1
                ux |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        r_app(base_ref + ((ux >> 1) ^ -(ux & 1)))
        b = data[pos]
        pos += 1
        if b < 0x80:
            ux = b
        else:
            ux = b & 0x7F
            shift = 7
            while True:
                b = data[pos]
                pos += 1
                ux |= (b & 0x7F) << shift
                if not b & 0x80:
                    break
                shift += 7
        t_app(base_ts + ((ux >> 1) ^ -(ux & 1)))
        v_app(unpack_d(data, pos)[0])
        pos += 8
    return refs, tss, vals


def decode_samples_record(data: bytes) -> list[tuple[int, int, float]]:
    refs, tss, vals = decode_samples_columns(data)
    return list(zip(refs, tss, vals))


# ---------------------------------------------------------------------------
# segment framing
# ---------------------------------------------------------------------------


def _decompress(payload: bytes, type_byte: int) -> bytes:
    if type_byte & _SNAPPY_FLAG:
        try:
            import snappy  # type: ignore

            return snappy.decompress(payload)
        except ImportError:  # pure-python fallback (no dependency)
            pass
        try:
            return snappy_decompress(payload)
        except ValueError as exc:
            raise WalCorruptionError(
                f"invalid snappy-compressed WAL record: {exc}"
            ) from exc
    if type_byte & _ZSTD_FLAG:
        try:
            import zstandard  # type: ignore
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise WalCorruptionError(
                "zstd-compressed WAL record but zstandard is not installed"
            ) from exc
        return zstandard.ZstdDecompressor().decompress(payload)
    return payload


def iter_segment_records(
    segment: bytes, tolerate_tail: bool = False
) -> Iterator[bytes]:
    """Yield raw (decompressed) record payloads from one segment's bytes.

    ``tolerate_tail=True`` (the crash-recovery mode for the LAST live
    segment) stops silently at the first torn/invalid record instead of
    raising — exactly the repair Prometheus applies on restart; anywhere
    else corruption raises :class:`WalCorruptionError`.
    """
    pos = 0
    n = len(segment)
    pending = bytearray()
    in_fragment_chain = False
    try:
        while pos < n:
            page_end = min(pos - (pos % PAGE_SIZE) + PAGE_SIZE, n)
            t = segment[pos]
            if t == _PAGE_TERM:
                # rest of page must be zero padding
                if any(segment[pos:page_end]):
                    raise WalCorruptionError(
                        f"nonzero bytes after page terminator at {pos}"
                    )
                pos = page_end
                continue
            frag = t & 0x07
            if frag not in (_FULL, _FIRST, _MIDDLE, _LAST):
                raise WalCorruptionError(
                    f"invalid fragment type {frag} at offset {pos}"
                )
            if pos + _HEADER > page_end:
                raise WalCorruptionError(
                    f"fragment header crosses page boundary at {pos}"
                )
            (length,) = struct.unpack_from(">H", segment, pos + 1)
            (crc,) = struct.unpack_from(">I", segment, pos + 3)
            data_start = pos + _HEADER
            data_end = data_start + length
            if data_end > page_end:
                raise WalCorruptionError(
                    f"fragment data crosses page boundary at {pos}"
                )
            data = segment[data_start:data_end]
            if crc32c(data) != crc:
                raise WalCorruptionError(f"CRC mismatch at offset {pos}")
            if frag == _FULL:
                if in_fragment_chain:
                    raise WalCorruptionError(
                        f"full record inside fragment chain at {pos}"
                    )
                yield _decompress(data, t)
            elif frag == _FIRST:
                if in_fragment_chain:
                    raise WalCorruptionError(
                        f"first fragment inside fragment chain at {pos}"
                    )
                pending = bytearray(data)
                in_fragment_chain = True
            else:  # MIDDLE / LAST
                if not in_fragment_chain:
                    raise WalCorruptionError(
                        f"orphan continuation fragment at {pos}"
                    )
                pending += data
                if frag == _LAST:
                    yield _decompress(bytes(pending), t)
                    pending = bytearray()
                    in_fragment_chain = False
            pos = data_end
        if in_fragment_chain:
            # a SEALED segment must not end mid fragment chain
            # (FIRST/MIDDLE seen, no LAST): the pending record was
            # torn off — every other framing violation raises, so
            # this one must too (tolerate_tail still repairs the
            # live segment's tail, same as Prometheus on restart)
            raise WalCorruptionError(
                "segment ends mid fragment chain (FIRST/MIDDLE "
                "without LAST)"
            )
    except (WalCorruptionError, IndexError, struct.error):
        if not tolerate_tail:
            raise
        return


def read_wal_tombstones(wal_dir: str) -> list[tuple[int, int, int]]:
    """All deletion intervals (ref, mint, maxt — inclusive ms bounds)
    logged anywhere in the WAL, replay-ordered.  Tombstones are tiny
    (one row per delete-API call), so this is a driver-side walk like
    the series pass."""
    segs = discover_wal_segments(wal_dir)
    stones: list[tuple[int, int, int]] = []
    for i, path in enumerate(segs):
        for rec in _read_segment(path, i == len(segs) - 1):
            if rec and rec[0] == TOMBSTONES:
                stones.extend(decode_tombstones_record(rec))
    return stones


class WalWriter:
    """Append-only writer producing spec-exact segments.

    >>> w = WalWriter(wal_dir, segment_bytes=1 << 20)
    >>> w.log_series([(1, {"__name__": "up", "job": "api"})])
    >>> w.log_samples([(1, 1000, 1.0), (1, 2000, 0.0)])
    >>> w.close()
    """

    def __init__(
        self,
        wal_dir: str,
        segment_bytes: int = DEFAULT_SEGMENT_BYTES,
        first_segment: int = 0,
        compression: str | None = None,
    ) -> None:
        if segment_bytes % PAGE_SIZE:
            raise ValueError("segment_bytes must be a multiple of the page size")
        if compression not in (None, "snappy"):
            raise ValueError(f"unsupported WAL compression {compression!r}")
        os.makedirs(wal_dir, exist_ok=True)
        self.dir = wal_dir
        self.segment_bytes = segment_bytes
        self.segment_index = first_segment
        #: "snappy" compresses every record (Prometheus's default codec;
        #: with python-snappy absent the pure-python all-literal encoder
        #: is used — spec-valid, decodable by any conforming reader)
        self.compression = compression
        self._buf = bytearray()  # current segment bytes
        self._page_used = 0  # bytes used in current page

    # -- record append ----------------------------------------------------

    def log_series(self, series: Sequence[tuple[int, dict[str, str]]]) -> None:
        self._append_record(encode_series_record(series))

    def log_samples(self, samples: Sequence[tuple[int, int, float]]) -> None:
        self._append_record(encode_samples_record(samples))

    def log_tombstones(
        self, stones: Sequence[tuple[int, int, int]]
    ) -> None:
        self._append_record(encode_tombstones_record(stones))

    def log_exemplars(
        self, exemplars: Sequence[tuple[int, int, float, dict[str, str]]]
    ) -> None:
        self._append_record(encode_exemplars_record(exemplars))

    def log_metadata(
        self, metadata: Sequence[tuple[int, str, str, str]]
    ) -> None:
        self._append_record(encode_metadata_record(metadata))

    def log_histograms(self, entries, float_kind: bool = False) -> None:
        """Append a native-histogram record: ``entries`` is
        ``[(ref, ts_ms, histograms.NativeHistogram), ...]``."""
        from tsdb_parquet_spark.histograms import (
            encode_histogram_samples_record,
        )

        self._append_record(
            encode_histogram_samples_record(entries, float_kind=float_kind)
        )

    def log_mmap_markers(self, markers: Sequence[tuple[int, int]]) -> None:
        self._append_record(encode_mmap_markers_record(markers))

    def _append_record(self, record: bytes) -> None:
        comp_flag = 0
        if self.compression == "snappy":
            try:
                import snappy  # type: ignore

                record = snappy.compress(record)
            except ImportError:
                record = snappy_compress(record)
            comp_flag = _SNAPPY_FLAG
        # record must fit the remaining segment: header per fragment, one
        # fragment per page
        if self._segment_would_overflow(len(record)):
            self._flush_segment()
        first = True
        view = memoryview(record)
        while True:
            free = PAGE_SIZE - self._page_used
            if free < _HEADER + 1:
                self._pad_page()
                free = PAGE_SIZE
            take = min(len(view), free - _HEADER)
            frag = view[:take]
            view = view[take:]
            done = not len(view)
            t = comp_flag | (
                _FULL
                if first and done
                else _FIRST
                if first
                else _LAST
                if done
                else _MIDDLE
            )
            self._buf += bytes([t])
            self._buf += struct.pack(">H", take)
            self._buf += struct.pack(">I", crc32c(bytes(frag)))
            self._buf += frag
            self._page_used = (self._page_used + _HEADER + take) % PAGE_SIZE
            if self._page_used == 0 and take:
                self._page_used = 0  # landed exactly on a boundary
            first = False
            if done:
                return

    def _segment_would_overflow(self, record_len: int) -> bool:
        # worst case: each page contributes header overhead
        pages = record_len // (PAGE_SIZE - _HEADER) + 2
        worst = record_len + pages * _HEADER + PAGE_SIZE
        return len(self._buf) + worst > self.segment_bytes and bool(self._buf)

    def _pad_page(self) -> None:
        if self._page_used:
            self._buf += b"\x00" * (PAGE_SIZE - self._page_used)
            self._page_used = 0

    # -- segment lifecycle -------------------------------------------------

    def _flush_segment(self) -> None:
        if not self._buf:
            return
        self._pad_page()
        path = os.path.join(self.dir, f"{self.segment_index:08d}")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(self._buf)
        os.replace(tmp, path)
        self.segment_index += 1
        self._buf = bytearray()
        self._page_used = 0

    def close(self) -> None:
        self._flush_segment()


def write_checkpoint(
    wal_dir: str,
    upto_segment: int,
    series: Sequence[tuple[int, dict[str, str]]],
    samples: Sequence[tuple[int, int, float]] = (),
) -> str:
    """Create ``checkpoint.%08d`` holding the surviving series (and any
    still-needed samples) for segments ``<= upto_segment``, in regular
    segment format — what Prometheus' checkpointer writes before
    deleting those segments."""
    cp_dir = os.path.join(wal_dir, f"checkpoint.{upto_segment:08d}")
    w = WalWriter(cp_dir)
    if series:
        w.log_series(series)
    if samples:
        w.log_samples(samples)
    w.close()
    return cp_dir


# ---------------------------------------------------------------------------
# directory layout
# ---------------------------------------------------------------------------


def discover_wal_segments(wal_dir: str) -> list[str]:
    """Replay-ordered segment file paths: the latest checkpoint's
    segments first, then live segments numbered above it."""
    names = os.listdir(wal_dir)
    checkpoints = sorted(
        n
        for n in names
        if n.startswith("checkpoint.") and n.split(".", 1)[1].isdigit()
    )
    paths: list[str] = []
    floor = -1
    if checkpoints:
        latest = checkpoints[-1]
        floor = int(latest.split(".", 1)[1])
        cp = os.path.join(wal_dir, latest)
        paths += [
            os.path.join(cp, n) for n in sorted(os.listdir(cp)) if n.isdigit()
        ]
    paths += [
        os.path.join(wal_dir, n)
        for n in sorted(names)
        if n.isdigit() and int(n) > floor
    ]
    return paths


def _read_segment(path: str, tolerate_tail: bool) -> Iterator[bytes]:
    with open(path, "rb") as f:
        data = f.read()
    yield from iter_segment_records(data, tolerate_tail=tolerate_tail)


def read_wal(
    wal_dir: str,
) -> tuple[dict[int, dict[str, str]], list[tuple[int, int, float]]]:
    """Single-process replay (testing / small WALs): returns the
    ref->labels map and all samples in log order.  The LAST segment
    tolerates a torn tail (crash recovery); earlier corruption raises."""
    segs = discover_wal_segments(wal_dir)
    series: dict[int, dict[str, str]] = {}
    samples: list[tuple[int, int, float]] = []
    for i, path in enumerate(segs):
        last = i == len(segs) - 1
        for rec in _read_segment(path, tolerate_tail=last):
            if rec and rec[0] == SERIES:
                for ref, labels in decode_series_record(rec):
                    series[ref] = labels
            elif rec and rec[0] == SAMPLES:
                samples.extend(decode_samples_record(rec))
            # tombstones/exemplars/metadata: recognized, skipped
    return series, samples


# ---------------------------------------------------------------------------
# distributed ingest
# ---------------------------------------------------------------------------


def _wal_frames(
    spark: SparkSession,
    label_names: Sequence[str],
    series_segs: Sequence[str],
    drain_plan: Sequence[tuple[int, str, int]],
    last_path: str,
    batch_rows: int,
    mark_stale: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared executor-side scan machinery: a (ref, labels...) frame
    from Series records across ``series_segs`` and a raw
    (seg_ord, ref, ts, value[, is_stale]) frame from Samples records
    per ``drain_plan`` row (ord, path, skip_first_n_samples) — one task
    per segment in both passes.  ``mark_stale`` appends a bit-exact
    staleness-marker flag per sample."""
    import pandas as pd
    from pyspark.sql import types as T

    from tsdb_parquet_spark.names import escape_name

    # RAW (possibly UTF-8, Prometheus 3.x) names in; U__ value-encoded
    # column names out — identity for classic names (`names.py`), the
    # contract shared with otlp_frame / remote_write_frame
    label_names = sorted(label_names)
    col_names = [escape_name(nm) for nm in label_names]

    series_schema = T.StructType(
        [T.StructField("__ref__", T.LongType(), False)]
        + [T.StructField(nm, T.StringType(), False) for nm in col_names]
    )
    s_rdd = spark.sparkContext.parallelize(
        [(p,) for p in series_segs], max(len(series_segs), 1)
    )
    s_df = spark.createDataFrame(s_rdd, "path STRING")

    def series_pass(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                for rec in _read_segment(path, path == last_path):
                    if rec and rec[0] == SERIES:
                        for ref, labels in decode_series_record(rec):
                            rows.append(
                                (
                                    ref,
                                    *(
                                        labels.get(nm, "")
                                        for nm in label_names
                                    ),
                                )
                            )
            yield pd.DataFrame(rows, columns=["__ref__", *col_names])

    # `value` must be NULLABLE across the Arrow bridge: pandas->Arrow
    # nulls every NaN (nan_as_null), so a WAL NaN sample — ordinary
    # data NaN or staleness marker — arrives as NULL and is restored to
    # a (canonical) NaN below.  NaN PAYLOADS cannot cross the bridge,
    # which is why bit-exact staleness is computed python-side into the
    # boolean before the transfer.
    fields = [
        T.StructField("seg_ord", T.IntegerType(), False),
        # log position within the segment: (seg_ord, rec_ord) is the
        # WAL's total append order, the tie-break FIRST-WRITE-WINS
        # duplicate resolution needs (Prometheus's appender rejects
        # the second duplicate, so the first logged value is the one
        # the head keeps)
        T.StructField("rec_ord", T.LongType(), False),
        T.StructField("__ref__", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
    if mark_stale:
        fields.append(T.StructField("is_stale", T.BooleanType(), False))
    samples_schema = T.StructType(fields)
    d_rdd = spark.sparkContext.parallelize(
        list(drain_plan), max(len(drain_plan), 1)
    )
    d_df = spark.createDataFrame(d_rdd, "seg_ord INT, path STRING, skip INT")

    def samples_pass(batches):
        # columnar accumulation: list-of-tuple rows + DataFrame(rows)
        # dominated drain time at 1M samples/task — zip(*decoded) and
        # np.fromiter build the Arrow batch ~2x faster, and the stale
        # bit test vectorizes over the value array's uint64 view
        import itertools

        import numpy as np

        def flush(seg_ord, base_ord, refs, tss, vals, count):
            # _APPEND_ORD pack invariant (r16 advice): the FIRST-WRITE-
            # WINS key packs (seg_ord, rec_ord) as seg_ord<<33 + rec_ord.
            # The 2^33 rec_ord bound derives from the default 128 MiB
            # segment size, but segment size is configurable — fail
            # loudly here rather than silently mis-dedup on a violated
            # pack.  (seg_ord < 2^30 keeps the shifted key inside int64.)
            if seg_ord >= 1 << 30 or base_ord + count > 1 << 33:
                raise ValueError(
                    "WAL append-order pack overflow: "
                    f"seg_ord={seg_ord} rec_ord<{base_ord + count} "
                    "exceeds the (2^30, 2^33) _APPEND_ORD fields"
                )
            chain = itertools.chain.from_iterable
            ref_arr = np.fromiter(chain(refs), np.int64, count)
            ts_arr = np.fromiter(chain(tss), np.int64, count)
            val_arr = np.fromiter(chain(vals), np.float64, count)
            cols = {
                "seg_ord": np.full(count, seg_ord, np.int32),
                "rec_ord": np.arange(base_ord, base_ord + count, dtype=np.int64),
                "__ref__": ref_arr,
                "ts": ts_arr,
                "value": val_arr,
            }
            if mark_stale:
                cols["is_stale"] = (
                    val_arr.view(np.uint64) == STALE_NAN_BITS
                )
            return pd.DataFrame(cols)

        for pdf in batches:
            for seg_ord, path, skip in zip(
                pdf["seg_ord"], pdf["path"], pdf["skip"]
            ):
                seg_ord = int(seg_ord)
                remaining_skip = int(skip)
                refs, tss, vals, count = [], [], [], 0
                next_ord = 0
                for rec in _read_segment(path, path == last_path):
                    if not rec or rec[0] != SAMPLES:
                        continue
                    r, t, v = decode_samples_columns(rec)
                    if remaining_skip:
                        n_rec = len(r)
                        r = r[remaining_skip:]
                        t = t[remaining_skip:]
                        v = v[remaining_skip:]
                        remaining_skip = max(0, remaining_skip - n_rec)
                    if not r:
                        continue
                    refs.append(r)
                    tss.append(t)
                    vals.append(v)
                    count += len(r)
                    if count >= batch_rows:
                        yield flush(seg_ord, next_ord, refs, tss, vals, count)
                        next_ord += count
                        refs, tss, vals, count = [], [], [], 0
                if count:
                    yield flush(seg_ord, next_ord, refs, tss, vals, count)

    series_df = (
        s_df.mapInPandas(series_pass, series_schema)
        # the same ref can be re-logged by a checkpoint — one row wins
        .dropDuplicates(["__ref__"])
    )
    from pyspark.sql import functions as F

    raw = d_df.mapInPandas(samples_pass, samples_schema).withColumn(
        # NULL here can only be a NaN nulled by the Arrow bridge (the
        # decode never produces missing values) — restore it
        "value",
        F.coalesce(F.col("value"), F.lit(float("nan"))),
    )
    return series_df, raw


def _apply_tombstones(
    spark: SparkSession, wal_dir: str, samples_df: DataFrame
) -> DataFrame:
    """Anti-join WAL deletion intervals out of a (ref, ts, ...) frame —
    the delete-API semantics head replay applies.  Tombstones are one
    row per delete call: always broadcast."""
    from pyspark.sql import functions as F

    stones = read_wal_tombstones(wal_dir)
    if not stones:
        return samples_df
    st = spark.createDataFrame(
        stones, "__sref__ LONG, __mint__ LONG, __maxt__ LONG"
    )
    cond = (
        (samples_df["__ref__"] == st["__sref__"])
        & (samples_df["ts"] >= st["__mint__"])
        & (samples_df["ts"] <= st["__maxt__"])
    )
    return samples_df.join(F.broadcast(st), cond, "left_anti")


def wal_to_samples_frame(
    spark: SparkSession,
    wal_dir: str,
    label_names: Sequence[str],
    batch_rows: int = 65536,
    apply_tombstones: bool = True,
    stale: str = "keep",
) -> DataFrame:
    """Distributed WAL drain: samples DataFrame with one string column
    per ``label_names`` entry (missing labels fill ``""``), plus
    ``ts`` (int64 ms) and ``value`` (double).

    Two passes, both executor-side with one task per segment file:

    1. *series pass* — each task walks its segment's record framing and
       parses ONLY Series payloads (Samples records are skipped after
       the 1-byte type check), emitting (ref, labels...).  The result is
       |series|-sized, tiny next to sample volume.
    2. *samples pass* — each task decodes Samples payloads, emitting
       (ref, ts, value) in Arrow batches, then a broadcast-eligible
       join maps refs to label columns.

    Ref->labels is WAL-global (a series record in segment 0 covers
    samples in segment 7), which is why the map must be built over ALL
    segments before the join — but it is never collected to the driver;
    Spark's join moves it.  Duplicate (ref, ts) appends (possible when a
    checkpoint overlaps live segments after an unclean restart) keep the
    FIRST logged value in (segment, log-position) order: Prometheus's
    appender rejects the second duplicate (first write wins), and
    `tsdb_block.compact_blocks` resolves cross-block collisions by the
    same rule, so all three paths agree.

    ``stale`` handles Prometheus staleness markers (the bit-exact quiet
    NaN a vanishing scrape target logs; ordinary NaN values are data):
    ``"keep"`` (default) passes them through as NaN samples, ``"drop"``
    removes them, ``"mark"`` appends a boolean ``is_stale`` column —
    the input `plans.promql.PromQLEngine` consumes for staleness-aware
    lookback (a marker terminates the instant lookback; range vectors
    exclude markers).
    """
    from pyspark.sql import functions as F

    if stale not in ("keep", "drop", "mark"):
        raise ValueError(f"unknown stale mode {stale!r}")
    from tsdb_parquet_spark.names import escape_name

    label_names = sorted(label_names)
    col_names = [escape_name(nm) for nm in label_names]
    segs = discover_wal_segments(wal_dir)
    if not segs:
        raise ValueError(f"no WAL segments under {wal_dir}")
    series_df, raw = _wal_frames(
        spark,
        label_names,
        segs,
        [(i, p, 0) for i, p in enumerate(segs)],
        segs[-1],
        batch_rows,
        mark_stale=(stale != "keep"),
    )
    # FIRST-WRITE-WINS per (ref, ts): min_by over the WAL's total
    # append order — the rule Prometheus's appender enforces.  The
    # order key is (seg_ord, rec_ord) PACKED into one BIGINT: a struct
    # ordering (or a struct-valued buffer) is not a mutable aggregation
    # type, so Catalyst plans SortAggregate (sort per partial+final
    # pass, spills under pressure); the packed key keeps the whole
    # dedup a HashAggregate.  Range: rec_ord is the per-sample ordinal
    # within one <=128 MiB segment (< 2^27 at >=2-byte samples), far
    # under the 33-bit field; both min_by's pick the same row because
    # (seg_ord, rec_ord) is unique per sample row.
    if stale == "keep":
        samples_df = raw.groupBy("__ref__", "ts").agg(
            F.expr(f"min_by(value, {_APPEND_ORD})").alias("value")
        )
        cols = [*col_names, "ts", "value"]
    else:
        samples_df = raw.groupBy("__ref__", "ts").agg(
            F.expr(f"min_by(value, {_APPEND_ORD})").alias("value"),
            F.expr(f"min_by(is_stale, {_APPEND_ORD})").alias("is_stale"),
        )
        if stale == "drop":
            samples_df = samples_df.filter(~F.col("is_stale")).drop(
                "is_stale"
            )
            cols = [*col_names, "ts", "value"]
        else:
            cols = [*col_names, "ts", "value", "is_stale"]
    if apply_tombstones:
        samples_df = _apply_tombstones(spark, wal_dir, samples_df)
    return samples_df.join(series_df, "__ref__", "inner").select(*cols)


def wal_to_exemplars_frame(
    spark: SparkSession,
    wal_dir: str,
    label_names: Sequence[str],
    batch_rows: int = 65536,
) -> DataFrame:
    """Distributed exemplar drain: (labels..., ts, value,
    exemplar_labels map<string,string>) — trace-id exemplars attached
    to series via the same broadcast ref->labels join as the sample
    drain, one scan task per segment."""
    import pandas as pd
    from pyspark.sql import types as T

    label_names = sorted(label_names)
    segs = discover_wal_segments(wal_dir)
    if not segs:
        raise ValueError(f"no WAL segments under {wal_dir}")
    last_path = segs[-1]
    series_df, _ = _wal_frames(
        spark, label_names, segs, [], last_path, batch_rows
    )
    rdd = spark.sparkContext.parallelize(
        [(p,) for p in segs], len(segs)
    )
    segs_df = spark.createDataFrame(rdd, "path STRING")
    schema = T.StructType(
        [
            T.StructField("__ref__", T.LongType(), False),
            T.StructField("ts", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
            T.StructField(
                "exemplar_labels",
                T.MapType(T.StringType(), T.StringType()),
                False,
            ),
        ]
    )

    def exemplar_pass(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                for rec in _read_segment(path, path == last_path):
                    if rec and rec[0] == EXEMPLARS:
                        for ref, ts, v, ls in decode_exemplars_record(rec):
                            rows.append((ref, ts, v, ls))
            yield pd.DataFrame(rows, columns=schema.names)

    from tsdb_parquet_spark.names import escape_name

    ex = segs_df.mapInPandas(exemplar_pass, schema)
    return ex.join(series_df, "__ref__", "inner").select(
        *[escape_name(nm) for nm in label_names],
        "ts", "value", "exemplar_labels",
    )


def wal_metadata_frame(
    spark: SparkSession,
    wal_dir: str,
    label_names: Sequence[str],
) -> DataFrame:
    """Latest metric metadata (Metadata records, type 6) joined to
    series labels: one row per series ref carrying ``(labels...,
    type, unit, help)``, replay-ordered so a re-logged entry wins.
    Metadata volume is one entry per metric name, so the record walk is
    driver-side like `read_wal_metadata`; the ref->labels resolution is
    the same executor-side series pass every drain uses."""
    label_names = sorted(label_names)
    segs = discover_wal_segments(wal_dir)
    if not segs:
        raise ValueError(f"no WAL segments under {wal_dir}")
    series_df, _ = _wal_frames(
        spark, label_names, segs, [], segs[-1], 65536
    )
    meta = read_wal_metadata(wal_dir)
    rows = [(ref, t, u, h) for ref, (t, u, h) in sorted(meta.items())]
    mdf = spark.createDataFrame(
        rows, "__ref__ LONG, type STRING, unit STRING, help STRING"
    )
    from tsdb_parquet_spark.names import escape_name

    return mdf.join(series_df, "__ref__", "inner").select(
        *[escape_name(nm) for nm in label_names],
        "type", "unit", "help",
    )


def wal_to_histogram_frame(
    spark: SparkSession,
    wal_dir: str,
    label_names: Sequence[str],
    batch_rows: int = 65536,
) -> DataFrame:
    """Distributed native-histogram drain: record types 7/8 decode per
    segment task and EXPAND to classic-histogram samples
    (`histograms.expand_to_classic`) — ``<name>_bucket`` rows carry an
    ``le`` label column, ``_count``/``_sum`` rows carry ``le=""`` (the
    missing-label convention), and the metric name is the series'
    ``__name__`` with the classic suffix appended.  The result drops
    straight into the store write path or `plans.promql.PromQLEngine`
    (``histogram_quantile`` consumes the le series), so native
    histograms queryable end-to-end without a sparse chunk type."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tsdb_parquet_spark.histograms import (
        NativeHistogram,
        decode_histogram_samples_record as _decode_hist,
        expand_to_classic,
    )

    if "le" in label_names:
        # the expansion itself produces the `le` column; a series label
        # of the same name would make the final select ambiguous
        raise ValueError(
            "label_names must not contain 'le' — it is reserved for the "
            "classic-bucket expansion"
        )
    label_names = sorted(label_names)
    segs = discover_wal_segments(wal_dir)
    if not segs:
        raise ValueError(f"no WAL segments under {wal_dir}")
    last_path = segs[-1]
    series_df, _ = _wal_frames(
        spark, label_names, segs, [], last_path, batch_rows
    )
    rdd = spark.sparkContext.parallelize([(p,) for p in segs], len(segs))
    segs_df = spark.createDataFrame(rdd, "path STRING")
    schema = T.StructType(
        [
            T.StructField("__ref__", T.LongType(), False),
            T.StructField("__suffix", T.StringType(), False),
            T.StructField("le", T.StringType(), False),
            T.StructField("ts", T.LongType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )

    def hist_pass(batches):
        # flush at batch_rows like the float-sample pass: each native
        # sample expands to ~buckets+3 rows, so a histogram-heavy
        # segment must stream out in bounded Arrow batches, never one
        # whole-segment pandas frame
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows: list[tuple] = []
            for path in pdf["path"]:
                for rec in _read_segment(path, path == last_path):
                    if not rec or rec[0] not in (
                        HISTOGRAM_SAMPLES,
                        FLOAT_HISTOGRAM_SAMPLES,
                    ):
                        continue
                    for ref, ts, h in _decode_hist(rec):
                        for name, labels, t, v in expand_to_classic(
                            "", {}, ts, h
                        ):
                            rows.append(
                                (
                                    ref,
                                    name,  # "_bucket" / "_count" / "_sum"
                                    labels.get("le", ""),
                                    t,
                                    v,
                                )
                            )
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
            yield pd.DataFrame(rows, columns=cols)

    from tsdb_parquet_spark.names import escape_name

    hist = segs_df.mapInPandas(hist_pass, schema)
    joined = hist.join(series_df, "__ref__", "inner")
    rest = [escape_name(n) for n in label_names if n != "__name__"]
    return joined.select(
        F.concat(F.col("__name__"), F.col("__suffix")).alias("__name__"),
        *rest,
        "le",
        "ts",
        "value",
    )


def _drain_plan(
    segs: Sequence[str],
    rel: dict,
    complete: set,
    tail_counts: dict,
    prev_floor: int,
    last_path: str,
) -> tuple[list[tuple[int, str, int]], list[str], bool, int]:
    """The incremental drain plan shared by `sync_wal` (which commits
    its side effects) and `live_samples_frame` (a read-only replica —
    it passes COPIES of ``complete``/``tail_counts`` and discards
    them).  Sharing the computation keeps the two paths from
    disagreeing on checkpoint handling: a checkpoint whose floor is
    fully covered by already-drained segment numbers is a PURE
    DUPLICATE (Prometheus rewrote still-needed samples from truncated
    segments we already synced) and must be skipped by BOTH paths, or
    the read-only view transiently double-counts between the
    checkpoint's appearance and the next sync run.

    Checkpoint-gap detection: a checkpoint dir not yet completed
    replaces truncated segments; if any segment number at or below its
    floor was never completed here, those samples exist only in the
    checkpoint and it must be drained (possible overlap duplicates —
    reported via the returned ``gap_drained``).  MUTATES ``complete``
    (adds pure-duplicate checkpoints, mirrored in ``newly_sealed``).
    Returns (plan rows (ord, path, skip), newly_sealed, gap_drained,
    new floor)."""
    gap_drained = False
    plan: list[tuple[int, str, int]] = []
    newly_sealed: list[str] = []
    for i, p in enumerate(segs):
        r = rel[p]
        in_checkpoint = os.sep in r
        if r in complete:
            continue
        if in_checkpoint:
            floor = int(
                os.path.basename(os.path.dirname(p)).split(".", 1)[1]
            )
            drained_nums = {
                int(os.path.basename(c))
                for c in complete
                if os.sep not in c and os.path.basename(c).isdigit()
            }
            missing = set(range(prev_floor + 1, floor + 1)) - drained_nums
            new_floor = max(prev_floor, floor)
            if not missing:
                # pure duplicates of already-drained segments
                prev_floor = new_floor
                complete.add(r)
                newly_sealed.append(r)
                continue
            prev_floor = new_floor
            gap_drained = True
        skip = int(tail_counts.get(r, 0))
        plan.append((i, p, skip))
        if p != last_path:
            newly_sealed.append(r)
    return plan, newly_sealed, gap_drained, prev_floor


def sync_wal(
    spark: SparkSession,
    wal_dir: str,
    store_root: str,
    label_names: Sequence[str],
    writer_opts=None,
    chunk_span_ms: int | None = None,
    batch_rows: int = 65536,
) -> dict:
    """Incremental head migration: drain every WAL sample NOT yet in the
    store at ``store_root`` — the head-side complement of
    `tsdb_block.sync_blocks`.  Run both on a schedule and a store
    follows a live Prometheus completely: blocks as they compact, head
    samples within one sync interval of being scraped.

    Watermark model (``_wal_sync.json`` sidecar): Prometheus appends
    only to the NEWEST segment, so every earlier segment is sealed.
    Sealed segments drain once and are recorded complete; the live tail
    drains all samples past the per-segment count recorded by the prior
    sync (the WAL's append-only framing makes "first N samples" a
    stable prefix).  Series records are re-scanned over ALL current
    segments each sync — they are tiny, and a tail sample may reference
    a series logged segments earlier.

    Crash idempotency mirrors `sync_blocks`: the batch's part dir is
    KEYED by the sidecar's batch counter, which only advances when the
    sidecar commits — a rerun after a crash between part write and
    sidecar commit overwrites the same directory instead of duplicating
    the batch.

    Checkpoint truncation: when Prometheus checkpoints, it rewrites
    still-needed samples from truncated segments into the checkpoint.
    If every truncated segment was already drained (the normal case for
    any sync interval shorter than the ~2 h truncation cycle), the
    checkpoint's sample records are pure duplicates and are SKIPPED; if
    a segment vanished before this store ever drained it (sync was down
    for multiple truncation cycles), the checkpoint is drained and the
    overlap with previously-synced data may duplicate — reported in the
    result as ``gap_drained`` so callers can schedule a deduplicating
    compaction.

    Parts land without series ids (`assign_series_ids=False`, the
    streaming-ingest contract) — dense ids are assigned when the store
    compacts.  Returns ``{"samples": n, "part": dir|None,
    "sealed": [...], "tail": {...}, "gap_drained": bool,
    "retro_stones": n, "retro_refs": [...]}`` — the last two surface
    delete-API tombstones that arrived AFTER their samples were synced
    (they cannot retro-delete from the store; callers schedule a
    store-side delete pass when the count is nonzero).
    """
    import json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import (
        DEFAULT_CHUNK_SPAN_MS,
        samples_to_chunks,
    )
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
        write_sorted,
    )

    label_names = sorted(label_names)
    span = DEFAULT_CHUNK_SPAN_MS if chunk_span_ms is None else chunk_span_ms
    state_path = os.path.join(store_root, "_wal_sync.json")
    state = {"batch": 0, "complete": [], "tail": {}, "floor": -1}
    if os.path.exists(state_path):
        with open(state_path) as fh:
            state = json.load(fh)
    complete = set(state["complete"])
    tail_counts: dict[str, int] = dict(state["tail"])
    # highest checkpoint floor already handled: segment numbers at or
    # below it were truncated and pruned from `complete` long ago — a
    # LATER checkpoint must not read their absence as a drain gap
    prev_floor = int(state.get("floor", -1))

    segs = discover_wal_segments(wal_dir)
    if not segs:
        raise ValueError(f"no WAL segments under {wal_dir}")
    rel = {p: os.path.relpath(p, wal_dir) for p in segs}
    last_path = segs[-1]

    plan, newly_sealed, gap_drained, prev_floor = _drain_plan(
        segs, rel, complete, tail_counts, prev_floor, last_path
    )

    counts: dict[str, int] = {}
    n_new = 0
    part: str | None = None
    stale_table: str | None = None
    batch_max_ts: int | None = None
    if plan:
        # INCREMENTAL series resolution: a ref logged in a long-sealed
        # segment must resolve for tail samples, but re-scanning every
        # segment per sync is O(total WAL).  Series rows harvested from
        # each sync's plan segments accumulate in a versioned parquet
        # side table (they are immutable once a segment seals), so the
        # series pass only reads the NEW segments; prior refs come from
        # the table.  Seeded by the first sync's full-plan scan.
        series_table = state.get("series_table")
        new_series_df, raw = _wal_frames(
            spark,
            label_names,
            [p for _, p, _ in plan],
            plan,
            last_path,
            batch_rows,
        )
        if series_table and os.path.exists(
            os.path.join(store_root, series_table)
        ):
            prior = spark.read.parquet(
                os.path.join(store_root, series_table)
            )
            series_df = new_series_df.unionByName(prior).dropDuplicates(
                ["__ref__"]
            )
        else:
            series_df = new_series_df
        raw = raw.persist()
        try:
            seg_stats = raw.groupBy("seg_ord").agg(
                F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
            ).collect()
            per_seg = {row["seg_ord"]: row["n"] for row in seg_stats}
            batch_max_ts = max(
                (row["mx"] for row in seg_stats if row["mx"] is not None),
                default=None,
            )
            n_new = sum(per_seg.values())
            for i, p, skip in plan:
                counts[rel[p]] = skip + per_seg.get(i, 0)
            if n_new:
                # first-write-wins, same rule as wal_to_samples_frame
                samples_df = raw.groupBy("__ref__", "ts").agg(
                    F.expr(
                        f"min_by(value, {_APPEND_ORD})"
                    ).alias("value")
                )
                # delete-API tombstones filter the batch being drained;
                # a tombstone logged AFTER its samples were synced in an
                # earlier batch cannot retro-delete from the store —
                # that requires a store-side delete pass (same
                # limitation as any downstream copy of TSDB data).
                # Such stones are DETECTED and reported below
                # (retro_stones/retro_refs), never silently dropped.
                samples_df = _apply_tombstones(spark, wal_dir, samples_df)
                samples = samples_df.join(
                    series_df, "__ref__", "inner"
                ).select(*label_names, "ts", "value")
                chunks = samples_to_chunks(
                    samples,
                    label_names,
                    chunk_span_ms=span,
                    assign_series_ids=False,
                )
                opts = writer_opts or WriterOptions(
                    sort_columns=sort_columns(label_names),
                    bloom_columns=[
                        c for c in label_names if c != "__name__"
                    ],
                    max_files=16,
                )
                writer = SortedParquetWriter(spark, store_root, opts)
                part_dir = os.path.join(
                    store_root, f"part.walsync{int(state['batch']):08d}"
                )
                part = write_sorted(chunks, part_dir, opts)
                writer.adopt(part_dir)
            # persist the accumulated ref->labels table for the next
            # sync (versioned dir + state pointer).  Steady-state syncs
            # see no new series records (they appear only when a new
            # series starts scraping), so the table is rewritten only
            # when the plan segments actually contained some — or on
            # the seeding first sync.
            if series_table is None or new_series_df.limit(1).count():
                sv = int(state.get("series_version", -1)) + 1
                new_table = f"_wal_series.{sv:08d}"
                series_df.dropDuplicates(["__ref__"]).write.mode(
                    "overwrite"
                ).parquet(os.path.join(store_root, new_table))
                stale_table = state.get("series_table")
                state["series_table"] = new_table
                state["series_version"] = sv
        finally:
            raw.unpersist()

    for r in newly_sealed:
        complete.add(r)
        tail_counts.pop(r, None)
    if plan and plan[-1][1] == last_path:
        tail_counts[rel[last_path]] = counts.get(rel[last_path], 0)

    # RETRO-DELETION VISIBILITY: a delete-API tombstone logged AFTER its
    # samples were synced in an earlier batch cannot retro-delete from
    # the store (the documented downstream-copy limitation) — but the
    # loss must not be silent.  The sidecar remembers every stone seen
    # and the max sample ts synced so far; a stone appearing now whose
    # interval starts at or before that watermark may target
    # already-shipped samples and is surfaced in the report so callers
    # can schedule a store-side delete/compaction pass.  (The watermark
    # is an upper bound: samples the stone itself removed in-batch still
    # advance it, so the check can warn spuriously, never miss.)
    prev_stones = {tuple(s) for s in state.get("stones", [])}
    prev_max_ts = state.get("max_ts")
    stones_now = read_wal_tombstones(wal_dir)
    retro_stones = [
        s
        for s in stones_now
        if tuple(s) not in prev_stones
        and prev_max_ts is not None
        and s[1] <= prev_max_ts
    ]
    max_ts = max(
        (t for t in (prev_max_ts, batch_max_ts) if t is not None),
        default=None,
    )

    # drop state for segments that no longer exist (truncated)
    live = set(rel.values())
    state = {
        "batch": int(state["batch"]) + (1 if part else 0),
        "complete": sorted(complete & live),
        "tail": {k: v for k, v in tail_counts.items() if k in live},
        "floor": prev_floor,
        "series_table": state.get("series_table"),
        "series_version": int(state.get("series_version", -1)),
        "stones": [list(s) for s in stones_now],
        "max_ts": max_ts,
    }
    tmp = state_path + ".tmp"
    os.makedirs(store_root, exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, state_path)
    if stale_table and stale_table != state.get("series_table"):
        # superseded series-table version: removed only AFTER the state
        # commit, so a crash can never leave the pointer at a deleted dir
        import shutil

        shutil.rmtree(
            os.path.join(store_root, stale_table), ignore_errors=True
        )
    return {
        "samples": n_new,
        "part": part,
        "sealed": newly_sealed,
        "tail": dict(state["tail"]),
        "gap_drained": gap_drained,
        "retro_stones": len(retro_stones),
        "retro_refs": sorted({s[0] for s in retro_stones}),
    }


def live_samples_frame(
    spark: SparkSession,
    wal_dir: str,
    store_root: str,
    label_names: Sequence[str],
    batch_rows: int = 65536,
) -> DataFrame:
    """Up-to-the-second samples: everything the store has synced PLUS
    the WAL samples past the sync watermark, in one frame — the
    Prometheus-freshness read a `sync_wal`-maintained store can serve
    between sync runs.

    The delta drain reuses the sync sidecar read-only: it scans only
    segments/sample-prefixes the store has NOT ingested (same plan
    computation as `sync_wal`, nothing written), resolves refs from the
    persisted series side table plus the new segments, and unions with
    the store's decoded samples.  The store side keeps full parquet
    predicate pushdown; the delta side is bounded by one sync interval
    of data.
    """
    import json

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import chunks_to_samples
    from tsdb_parquet_spark.sources.writer import live_store_dirs

    label_names = sorted(label_names)
    # store side: the LIVE directory set only.  A finalized store holds
    # the `compact` alias symlink AND its compact.N target (plus
    # superseded compact.N-1 and folded part.* dirs awaiting vacuum) —
    # a bare glob would read those rows twice; the manifest (or the
    # resolved alias on pre-snapshot stores) is the source of truth.
    paths = live_store_dirs(store_root) if os.path.isdir(store_root) else []
    frames: list[DataFrame] = []
    if paths:
        chunk_df = spark.read.parquet(*paths)
        frames.append(chunks_to_samples(chunk_df, label_names))

    # delta side: the read-only replica of sync_wal's plan — the SAME
    # _drain_plan computation (pure-duplicate checkpoints skipped, so a
    # checkpoint appearing between sync runs can't double-count samples
    # the store already holds); the mutated copies are discarded.
    state_path = os.path.join(store_root, "_wal_sync.json")
    state = {"complete": [], "tail": {}, "series_table": None}
    if os.path.exists(state_path):
        with open(state_path) as fh:
            state = json.load(fh)
    complete = set(state["complete"])
    tail_counts = dict(state["tail"])
    segs = discover_wal_segments(wal_dir)
    rel = {p: os.path.relpath(p, wal_dir) for p in segs}
    plan, _, _, _ = _drain_plan(
        segs,
        rel,
        complete,
        tail_counts,
        int(state.get("floor", -1)),
        segs[-1] if segs else "",
    )
    if plan:
        last_path = segs[-1]
        new_series_df, raw = _wal_frames(
            spark,
            label_names,
            [p for _, p, _ in plan],
            plan,
            last_path,
            batch_rows,
        )
        series_df = new_series_df
        table = state.get("series_table")
        if table and os.path.exists(os.path.join(store_root, table)):
            series_df = series_df.unionByName(
                spark.read.parquet(os.path.join(store_root, table))
            ).dropDuplicates(["__ref__"])
        delta = (
            raw.groupBy("__ref__", "ts")
            .agg(
                F.expr(f"min_by(value, {_APPEND_ORD})").alias(
                    "value"
                )
            )
            .join(series_df, "__ref__", "inner")
            .select(*label_names, "ts", "value")
        )
        frames.append(delta)
    if not frames:
        raise ValueError(
            f"nothing to read: no store parts in {store_root} and no "
            f"undrained WAL data in {wal_dir}"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def data_dir_to_chunk_frame(
    spark: SparkSession,
    data_dir: str,
    label_names: Sequence[str],
    chunk_span_ms: int | None = None,
    mint: int | None = None,
    maxt: int | None = None,
    select: "dict[str, Sequence[str]] | None" = None,
) -> DataFrame:
    """The FULL converter input surface: one chunk frame from an entire
    Prometheus data dir — every compacted block (via
    `tsdb_block.blocks_to_chunk_frame`, one task per block) unioned with
    the head WAL's samples re-chunked through
    :func:`chunks.samples_to_chunks` (one scan task per segment).

    The reference converter reads blocks only (`cmd/convert/main.go:
    30-126` opens `tsdb.OpenBlock`); the most recent ~2-3 h of a live
    installation live exclusively in the WAL, so block-only conversion
    silently drops the head.  Here the head lands in the same store
    with the same layout contract: block chunks are converted to the
    ``__ts``/``__values`` arrays (`chunks.blobs_to_arrays`) so both
    origins share one payload.

    ``__series__id`` uniqueness across origins: block ids are
    ``block_ordinal << 32 | local``, WAL-origin ids are offset by
    ``n_blocks << 32`` — the id stays file-local identity
    (`schema/chunk.go:28-30`), never a join key across stores.

    ``mint``/``maxt`` (sample-time ms, inclusive) prune WHOLE BLOCKS by
    their meta.json windows before any index parse — on a multi-year
    installation a bounded query touches a handful of its thousands of
    blocks — plus a chunk-level time filter on the union (covers the
    WAL-origin chunks too).  One-shot query paths pass the bounds
    (`cli promql --data-dir` derives them from the query via
    `plans.promql.data_window`); converters leave them None.  NOTE:
    with pruning active the block ordinals (and so ``__series__id``)
    depend on the pruned list — fine for a query, wrong for an
    incremental store build (`sync_blocks` keeps its own stable
    ordinals).

    ``select`` ({label: allowed values}) pushes equality selection into
    BOTH origins: block tasks resolve it through the per-(label,value)
    postings lists (only matching series' chunk records are fetched —
    `tsdb_block.read_index`), and WAL-origin samples filter on the same
    labels JVM-side before re-chunking.  A label absent from the WAL
    frame reads as "" per the schema contract.  Query paths pass the
    selector name set; converters leave it None.
    """
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import (
        DEFAULT_CHUNK_SPAN_MS,
        samples_to_chunks,
        with_sample_arrays,
    )
    from tsdb_parquet_spark.schema import SERIES_ID
    from tsdb_parquet_spark.tsdb_block import blocks_to_chunk_frame

    span = DEFAULT_CHUNK_SPAN_MS if chunk_span_ms is None else chunk_span_ms
    blocks, wal = discover_data_dir(data_dir)
    if not blocks and not wal:
        raise ValueError(f"no blocks and no WAL under {data_dir}")
    if blocks and (mint is not None or maxt is not None):
        from tsdb_parquet_spark.tsdb_block import prune_blocks_by_time

        blocks = prune_blocks_by_time(blocks, mint, maxt)
    frames: list[DataFrame] = []
    if blocks:
        win = None
        if mint is not None or maxt is not None:
            win = (
                mint if mint is not None else -(1 << 62),
                maxt if maxt is not None else (1 << 62),
            )
        frames.append(
            with_sample_arrays(
                blocks_to_chunk_frame(
                    spark, blocks, label_names, select=select, window=win
                )
            )
        )
    if wal:
        samples = wal_to_samples_frame(spark, wal, label_names)
        if select:
            for k, vs in select.items():
                vals = list(vs)
                if k in samples.columns:
                    samples = samples.where(F.col(k).isin(vals))
                elif "" not in vals:
                    samples = samples.limit(0)
        wal_chunks = samples_to_chunks(
            samples,
            sorted(label_names),
            chunk_span_ms=span,
        ).withColumn(
            SERIES_ID, F.col(SERIES_ID) + F.lit(len(blocks) << 32)
        )
        frames.append(wal_chunks)
    if not frames:
        # every block pruned away and no WAL: an empty frame with the
        # right schema (ask for one unpruned block's schema is overkill
        # — synthesize from label_names)
        from tsdb_parquet_spark.schema import (
            MAX_T,
            MIN_T,
            SERIES_ID,
            TS_ARRAY,
            VALUES_ARRAY,
        )

        schema = (
            f"`{SERIES_ID}` long, `{MIN_T}` long, `{MAX_T}` long, "
            + ", ".join(f"`{c}` string" for c in sorted(label_names))
            + f", `{TS_ARRAY}` array<long>, `{VALUES_ARRAY}` array<double>"
        )
        return spark.createDataFrame([], schema)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if mint is not None:
        from tsdb_parquet_spark.schema import MAX_T

        out = out.where(F.col(MAX_T) >= mint)
    if maxt is not None:
        from tsdb_parquet_spark.schema import MIN_T

        out = out.where(F.col(MIN_T) <= maxt)
    return out


def discover_data_dir(data_dir: str) -> tuple[list[str], str | None]:
    """Split a Prometheus data dir into (block dirs, wal dir or None) —
    the full converter input surface."""
    from tsdb_parquet_spark.tsdb_block import discover_blocks

    blocks = discover_blocks(data_dir)
    wal = os.path.join(data_dir, "wal")
    has_wal = os.path.isdir(wal) and any(
        n.isdigit() or n.startswith("checkpoint.")
        for n in os.listdir(wal)
    )
    return blocks, (wal if has_wal else None)

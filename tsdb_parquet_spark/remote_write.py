"""Prometheus remote-write ingestion (protocol 1.0 and 2.0).

The wire format is public: a remote-write request body is a snappy
block-compressed protobuf — ``prometheus.WriteRequest``
(prompb/remote.proto) for protocol 1.0, ``io.prometheus.write.v2.Request``
(prompb/io/prometheus/write/v2/types.proto, string-interned symbol
table) for protocol 2.0.  Both are decoded here straight from the
protobuf wire specification (varint / 64-bit / length-delimited field
groups) — no generated stubs, no protobuf dependency; the snappy codec
is the repo's own pure-python block-format implementation
(``tsdb_wal.snappy_compress``/``snappy_decompress``).

Relation to the reference: fpetkovski/tsdb-parquet ingests only
finished TSDB blocks (`cmd/convert/main.go:30-126`); remote-write is
the Prometheus ecosystem's PUSH path.  Covering it means a store can be
fed directly from any remote-write sender (Prometheus, Grafana Agent,
OTel collector) with no Prometheus server in between — payload decode
runs executor-side (:func:`remote_write_frame`), so a fleet of senders
fans out across the cluster instead of serializing through a driver.

Field numbers (from the public .proto files):

``prometheus.WriteRequest``  (v1)::

    WriteRequest { repeated TimeSeries timeseries = 1;
                   repeated MetricMetadata metadata = 3; }
    TimeSeries   { repeated Label labels = 1; repeated Sample samples = 2;
                   repeated Exemplar exemplars = 3; }
    Label        { string name = 1; string value = 2; }
    Sample       { double value = 1; int64 timestamp = 2; }

``io.prometheus.write.v2.Request``  (v2)::

    Request      { repeated string symbols = 4;
                   repeated TimeSeries timeseries = 5; }   // 1-3 reserved
    TimeSeries   { repeated uint32 labels_refs = 1;        // packed
                   repeated Sample samples = 2;
                   repeated Histogram histograms = 3;
                   repeated Exemplar exemplars = 4;
                   Metadata metadata = 5;
                   int64 created_timestamp = 6; }
    Sample       { double value = 1; int64 timestamp = 2; }

Native-histogram payloads (``prometheus.Histogram``: count 1 /
count_float 2, sum 3, sint64 schema 4, zero_threshold 5, zero_count
6/7, negative_spans 8 + deltas 9 / counts 10, positive_spans 11 +
deltas 12 / counts 13, reset_hint 14, timestamp 15; BucketSpan:
sint32 offset 1, uint32 length 2) decode via :func:`decode_histograms`
and expand to classic ``_bucket{le=}``/``_count``/``_sum`` series
(`histograms.py`) — the float-sample decode path skips them
structurally.
"""

from __future__ import annotations

import struct
from typing import Iterator, Sequence

from tsdb_parquet_spark.tsdb_wal import (
    _put_uvarint,
    snappy_compress,
    snappy_decompress,
)

__all__ = [
    "encode_write_request",
    "decode_write_request",
    "decode_exemplars",
    "frame_payload",
    "unframe_payload",
    "sniff_version",
    "remote_write_frame",
    "decode_histograms",
    "remote_write_histogram_frame",
    "encode_histogram_msg",
]

_U64 = 1 << 64
_I64_SIGN = 1 << 63


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------


def _put_key(out: bytearray, field: int, wire: int) -> None:
    _put_uvarint(out, (field << 3) | wire)


def _put_i64(out: bytearray, x: int) -> None:
    # proto int64: plain varint of the two's-complement 64-bit value
    _put_uvarint(out, x & (_U64 - 1))


def _put_len_delim(out: bytearray, field: int, payload: bytes) -> None:
    _put_key(out, field, 2)
    _put_uvarint(out, len(payload))
    out += payload


def _read_uvarint(data: bytes, pos: int, end: int) -> tuple[int, int]:
    x = 0
    shift = 0
    while True:
        if pos >= end:
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        x |= (b & 0x7F) << shift
        if not b & 0x80:
            return x, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint overflows 64 bits")


def _as_i64(x: int) -> int:
    return x - _U64 if x & _I64_SIGN else x


def _fields(data: bytes, pos: int, end: int) -> Iterator[tuple[int, int, int, int]]:
    """Yield ``(field_no, wire_type, start, stop)`` for every field in
    ``data[pos:end]``; for varints ``start`` is the decoded VALUE and
    ``stop`` is unused.  Unknown wire types raise (groups are dead)."""
    while pos < end:
        key, pos = _read_uvarint(data, pos, end)
        field, wire = key >> 3, key & 0x07
        if wire == 0:  # varint
            val, pos = _read_uvarint(data, pos, end)
            yield field, wire, val, 0
        elif wire == 1:  # 64-bit
            if pos + 8 > end:
                raise ValueError("truncated 64-bit field")
            yield field, wire, pos, pos + 8
            pos += 8
        elif wire == 2:  # length-delimited
            ln, pos = _read_uvarint(data, pos, end)
            if pos + ln > end:
                raise ValueError("truncated length-delimited field")
            yield field, wire, pos, pos + ln
            pos += ln
        elif wire == 5:  # 32-bit
            if pos + 4 > end:
                raise ValueError("truncated 32-bit field")
            yield field, wire, pos, pos + 4
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _encode_sample(ts_ms: int, value: float) -> bytes:
    out = bytearray()
    _put_key(out, 1, 1)
    out += struct.pack("<d", value)
    _put_key(out, 2, 0)
    _put_i64(out, ts_ms)
    return bytes(out)


def _encode_v1(series) -> bytes:
    req = bytearray()
    for entry in series:
        labels, samples = entry[0], entry[1]
        exemplars = entry[2] if len(entry) > 2 else ()
        histograms = entry[3] if len(entry) > 3 else ()
        ts_msg = bytearray()
        for name in sorted(labels):
            lab = bytearray()
            _put_len_delim(lab, 1, name.encode("utf-8"))
            _put_len_delim(lab, 2, labels[name].encode("utf-8"))
            _put_len_delim(ts_msg, 1, bytes(lab))
        for ts_ms, value in samples:
            _put_len_delim(ts_msg, 2, _encode_sample(int(ts_ms), float(value)))
        for ex_labels, value, ts_ms in exemplars:
            ex = bytearray()
            for name in sorted(ex_labels):
                lab = bytearray()
                _put_len_delim(lab, 1, name.encode("utf-8"))
                _put_len_delim(lab, 2, ex_labels[name].encode("utf-8"))
                _put_len_delim(ex, 1, bytes(lab))
            _put_key(ex, 2, 1)
            ex += struct.pack("<d", float(value))
            _put_key(ex, 3, 0)
            _put_i64(ex, int(ts_ms))
            _put_len_delim(ts_msg, 3, bytes(ex))
        for ts_ms, h in histograms:
            _put_len_delim(
                ts_msg, 4, encode_histogram_msg(int(ts_ms), h)
            )
        _put_len_delim(req, 1, bytes(ts_msg))
    return bytes(req)


def _encode_v2(series: Sequence[tuple[dict, Sequence[tuple[int, float]]]]) -> bytes:
    # symbol table: index 0 MUST be the empty string per the v2 spec
    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    def packed_refs(labels: dict) -> bytes:
        refs = bytearray()
        for name in sorted(labels):
            _put_uvarint(refs, ref(name))
            _put_uvarint(refs, ref(labels[name]))
        return bytes(refs)

    ts_msgs = []
    for entry in series:
        labels, samples = entry[0], entry[1]
        exemplars = entry[2] if len(entry) > 2 else ()
        histograms = entry[3] if len(entry) > 3 else ()
        ts_msg = bytearray()
        _put_len_delim(ts_msg, 1, packed_refs(labels))  # packed labels_refs
        for ts_ms, value in samples:
            _put_len_delim(ts_msg, 2, _encode_sample(int(ts_ms), float(value)))
        for ex_labels, value, ts_ms in exemplars:
            ex = bytearray()
            _put_len_delim(ex, 1, packed_refs(ex_labels))
            _put_key(ex, 2, 1)
            ex += struct.pack("<d", float(value))
            _put_key(ex, 3, 0)
            _put_i64(ex, int(ts_ms))
            # exemplars = 4 in v2 (3 is histograms — v1 has them
            # swapped: exemplars 3, histograms 4)
            _put_len_delim(ts_msg, 4, bytes(ex))
        for ts_ms, h in histograms:
            _put_len_delim(
                ts_msg, 3, encode_histogram_msg(int(ts_ms), h)
            )
        ts_msgs.append(bytes(ts_msg))
    req = bytearray()
    for s in symbols:
        _put_len_delim(req, 4, s.encode("utf-8"))
    for m in ts_msgs:
        _put_len_delim(req, 5, m)
    return bytes(req)


def encode_write_request(
    series: Sequence[tuple[dict, Sequence[tuple[int, float]]]],
    version: int = 1,
) -> bytes:
    """Encode ``[(labels, [(ts_ms, value), ...]), ...]`` as an
    UNCOMPRESSED remote-write protobuf (snappy framing is separate:
    :func:`frame_payload`).  ``version`` is 1 (prometheus.WriteRequest)
    or 2 (io.prometheus.write.v2.Request).  A series tuple may carry a
    THIRD element — exemplars ``[(ex_labels, value, ts_ms), ...]``
    (read back by :func:`decode_exemplars`) — and a FOURTH: native
    histograms ``[(ts_ms, histograms.NativeHistogram), ...]`` (read
    back by :func:`decode_histograms`)."""
    if version == 1:
        return _encode_v1(series)
    if version == 2:
        return _encode_v2(series)
    raise ValueError(f"unknown remote-write version {version!r}")


def frame_payload(proto: bytes) -> bytes:
    """Snappy block-format compression — the HTTP body a sender POSTs."""
    return snappy_compress(proto)


def unframe_payload(body: bytes) -> bytes:
    return snappy_decompress(body)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _decode_sample(data: bytes, pos: int, end: int) -> tuple[int, float]:
    ts_ms, value = 0, 0.0
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 1:
            (value,) = struct.unpack_from("<d", data, a)
        elif field == 2 and wire == 0:
            ts_ms = _as_i64(a)
    return ts_ms, value


def _decode_label(data: bytes, pos: int, end: int) -> tuple[str, str]:
    name = value = ""
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            name = data[a:b].decode("utf-8")
        elif field == 2 and wire == 2:
            value = data[a:b].decode("utf-8")
    return name, value


def _decode_v1_timeseries(data: bytes, pos: int, end: int):
    labels: dict[str, str] = {}
    samples: list[tuple[int, float]] = []
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            name, value = _decode_label(data, a, b)
            labels[name] = value
        elif field == 2 and wire == 2:
            samples.append(_decode_sample(data, a, b))
        # exemplars (3) / histograms (4) skipped structurally by _fields
    return labels, samples


def _decode_refs(data: bytes, pos: int, end: int) -> list[int]:
    refs = []
    while pos < end:
        r, pos = _read_uvarint(data, pos, end)
        refs.append(r)
    return refs


def _decode_v2_timeseries(data: bytes, pos: int, end: int):
    refs: list[int] = []
    samples: list[tuple[int, float]] = []
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:  # packed labels_refs
            refs.extend(_decode_refs(data, a, b))
        elif field == 1 and wire == 0:  # unpacked (spec-legal) form
            refs.append(a)
        elif field == 2 and wire == 2:
            samples.append(_decode_sample(data, a, b))
    return refs, samples


def sniff_version(proto: bytes) -> int:
    """Classify an UNCOMPRESSED payload: v1 uses top-level field 1
    (timeseries); v2 reserves 1-3 and uses 4 (symbols) / 5 (timeseries).
    Real senders declare the version in the Content-Type header — this
    is the offline equivalent for stored payloads."""
    for field, _wire, _a, _b in _fields(proto, 0, len(proto)):
        if field in (1, 3):
            # 1 = v1 timeseries; 3 = v1 request-level metadata (v2
            # RESERVES top-level 1-3, so either implies protocol 1.0)
            return 1
        if field in (4, 5):
            return 2
    raise ValueError("payload has no timeseries or symbols field")


def decode_write_request(
    proto: bytes, version: int | None = None
) -> list[tuple[dict, list[tuple[int, float]]]]:
    """Decode an UNCOMPRESSED remote-write protobuf into
    ``[(labels, [(ts_ms, value), ...]), ...]``.  ``version=None`` sniffs
    (:func:`sniff_version`).  Unknown fields (metadata, exemplars,
    native histograms, created_timestamp) are skipped, as proto
    requires."""
    if version is None:
        version = sniff_version(proto)
    end = len(proto)
    out: list[tuple[dict, list[tuple[int, float]]]] = []
    if version == 1:
        for field, wire, a, b in _fields(proto, 0, end):
            if field == 1 and wire == 2:
                out.append(_decode_v1_timeseries(proto, a, b))
        return out
    if version != 2:
        raise ValueError(f"unknown remote-write version {version!r}")
    symbols: list[str] = []
    raw_series: list[tuple[list[int], list[tuple[int, float]]]] = []
    for field, wire, a, b in _fields(proto, 0, end):
        if field == 4 and wire == 2:
            symbols.append(proto[a:b].decode("utf-8"))
        elif field == 5 and wire == 2:
            raw_series.append(_decode_v2_timeseries(proto, a, b))
    n_sym = len(symbols)
    for refs, samples in raw_series:
        if len(refs) % 2:
            raise ValueError("odd labels_refs length")
        if any(r >= n_sym for r in refs):
            raise ValueError(
                f"labels_ref beyond symbol table (size {n_sym})"
            )
        labels = {}
        for i in range(0, len(refs), 2):
            labels[symbols[refs[i]]] = symbols[refs[i + 1]]
        out.append((labels, samples))
    return out


# ---------------------------------------------------------------------------
# distributed ingest
# ---------------------------------------------------------------------------


def remote_write_frame(
    payloads,
    label_names: Sequence[str],
    payload_col: str = "payload",
    compressed: bool = True,
    batch_rows: int = 4096,
):
    """Decode a DataFrame of remote-write request bodies into a sample
    frame ``(label_names..., ts long, value double)``.

    Each input row is one POST body (snappy-framed protobuf, v1 or v2 —
    sniffed per payload, exactly as a receiver dispatches per request).
    Decode runs executor-side via ``mapInArrow``: a receiver fleet's
    captured payloads fan out across the cluster, the driver never
    touches payload bytes.  ``label_names`` must be given explicitly for
    the same reason as ``blocks_to_chunk_frame`` — deriving the union
    schema would force a full driver-side pre-parse.  Missing labels
    fill as "" (`schema/chunk.go:109-112` semantics); extra labels in a
    payload are dropped.

    Rows stream out in ``batch_rows``-sized Arrow batches so one giant
    payload never materializes as a single batch.  The batches are
    built from per-column lists, never pandas: a pandas hop turns a NaN
    sample value (stale markers included) into NULL.

    Remote-write 2.0 carries UTF-8 label names natively (the symbols
    table has no charset restriction): pass the RAW names in
    ``label_names`` and the frame's COLUMNS come out as their U__
    value-encoded forms (`names.py` — identity for classic names), the
    same contract as `otlp.otlp_frame` / `scrape.scrape_samples`.

    The input is pruned to ``payload_col`` BEFORE the ``mapInArrow``
    hop: a Python map reads every column it is handed, so without the
    projection a payload table's sidecar columns (capture time, sender,
    headers) would cross the Arrow bridge just to be dropped.
    """
    from tsdb_parquet_spark.names import escape_name

    payloads = payloads.select(payload_col)
    label_names = list(label_names)
    col_names = [escape_name(c) for c in label_names]
    schema = (
        ", ".join(f"`{c}` string" for c in col_names)
        + ", ts long, value double"
    )

    def convert(batches):
        arrow_schema = _arrow_schema(col_names, ["ts", "value"])
        buf: list[tuple] = []
        for batch in batches:
            for body in batch.column(payload_col).to_pylist():
                proto = unframe_payload(body) if compressed else body
                for labels, samples in decode_write_request(proto):
                    lab = tuple(labels.get(c, "") for c in label_names)
                    for ts_ms, value in samples:
                        buf.append(lab + (ts_ms, value))
                        if len(buf) >= batch_rows:
                            yield _record_batch(buf, arrow_schema)
                            buf = []
        if buf:
            yield _record_batch(buf, arrow_schema)

    return payloads.mapInArrow(convert, schema)


def _arrow_schema(label_cols: Sequence[str], tail: Sequence[str]):
    """Arrow schema of a decoded sample batch: string label columns, then
    ``tail`` — string columns except ``ts`` (int64), ``value``
    (float64), ``__delta`` (bool) and ``exemplar_labels`` (string map)."""
    import pyarrow as pa

    types = {
        "ts": pa.int64(),
        "value": pa.float64(),
        "__delta": pa.bool_(),
        "exemplar_labels": pa.map_(pa.string(), pa.string()),
    }
    return pa.schema(
        [(c, pa.string()) for c in label_cols]
        + [(c, types.get(c, pa.string())) for c in tail]
    )


def _record_batch(rows: list[tuple], schema):
    """One Arrow batch from row tuples, transposed into per-column lists.
    ``pa.array`` keeps a float NaN as NaN (only ``from_pandas`` reads it
    as null)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(zip(*rows), schema)],
        schema=schema,
    )


# ---------------------------------------------------------------------------
# exemplars
# ---------------------------------------------------------------------------


def _decode_v1_exemplar(data: bytes, pos: int, end: int):
    labels: dict[str, str] = {}
    value, ts_ms = 0.0, 0
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            name, val = _decode_label(data, a, b)
            labels[name] = val
        elif field == 2 and wire == 1:
            (value,) = struct.unpack_from("<d", data, a)
        elif field == 3 and wire == 0:
            ts_ms = _as_i64(a)
    return labels, value, ts_ms


def _decode_v2_exemplar(data: bytes, pos: int, end: int):
    refs: list[int] = []
    value, ts_ms = 0.0, 0
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 2:
            refs.extend(_decode_refs(data, a, b))
        elif field == 1 and wire == 0:
            refs.append(a)
        elif field == 2 and wire == 1:
            (value,) = struct.unpack_from("<d", data, a)
        elif field == 3 and wire == 0:
            ts_ms = _as_i64(a)
    return refs, value, ts_ms


def decode_exemplars(
    proto: bytes, version: int | None = None
) -> list[tuple[dict, dict, float, int]]:
    """Exemplars riding on a remote-write payload:
    ``[(series_labels, exemplar_labels, value, ts_ms), ...]``.
    prompb/remote.proto TimeSeries.exemplars = 3 (v1); v2 TimeSeries
    exemplars = 3 with symbol-table refs.  Same wire-spec parse as
    :func:`decode_write_request` — completing the exemplar surface
    across the ingest paths (WAL: `tsdb_wal.decode_exemplars_record`;
    scrape text: `scrape.exposition_exemplars`)."""
    if version is None:
        version = sniff_version(proto)
    end = len(proto)
    out: list[tuple[dict, dict, float, int]] = []
    if version == 1:
        for field, wire, a, b in _fields(proto, 0, end):
            if field != 1 or wire != 2:
                continue
            labels: dict[str, str] = {}
            exemplars = []
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    name, val = _decode_label(proto, a2, b2)
                    labels[name] = val
                elif f2 == 3 and w2 == 2:
                    exemplars.append(_decode_v1_exemplar(proto, a2, b2))
            for ex_labels, value, ts_ms in exemplars:
                out.append((labels, ex_labels, value, ts_ms))
        return out
    if version != 2:
        raise ValueError(f"unknown remote-write version {version!r}")
    symbols: list[str] = []
    raw: list[tuple[list[int], list]] = []
    for field, wire, a, b in _fields(proto, 0, end):
        if field == 4 and wire == 2:
            symbols.append(proto[a:b].decode("utf-8"))
        elif field == 5 and wire == 2:
            srefs: list[int] = []
            exemplars = []
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    srefs.extend(_decode_refs(proto, a2, b2))
                elif f2 == 1 and w2 == 0:
                    srefs.append(a2)
                elif f2 == 4 and w2 == 2:  # exemplars = 4 in v2
                    exemplars.append(_decode_v2_exemplar(proto, a2, b2))
            raw.append((srefs, exemplars))
    n_sym = len(symbols)

    def resolve(refs: list[int]) -> dict:
        if len(refs) % 2 or any(r >= n_sym for r in refs):
            raise ValueError("bad labels_refs in exemplar")
        return {
            symbols[refs[i]]: symbols[refs[i + 1]]
            for i in range(0, len(refs), 2)
        }

    for srefs, exemplars in raw:
        labels = resolve(srefs)
        for ex_refs, value, ts_ms in exemplars:
            out.append((labels, resolve(ex_refs), value, ts_ms))
    return out


# ---------------------------------------------------------------------------
# native histograms (prompb Histogram message; see module docstring)
# ---------------------------------------------------------------------------


def _put_zigzag(out: bytearray, x: int) -> None:
    # proto sint64: zigzag varint
    _put_uvarint(out, (x << 1) if x >= 0 else ((-x) << 1) - 1)


def _unzigzag(x: int) -> int:
    return (x >> 1) ^ -(x & 1)


def _encode_bucket_span(offset: int, length: int) -> bytes:
    out = bytearray()
    _put_key(out, 1, 0)
    _put_zigzag(out, offset)  # sint32
    _put_key(out, 2, 0)
    _put_uvarint(out, length)
    return bytes(out)


def encode_histogram_msg(ts_ms: int, h) -> bytes:
    """Encode one `histograms.NativeHistogram` as a ``prometheus.
    Histogram`` message body (float form: count_float 2 /
    zero_count_float 7 / *_counts 10,13 — always representable)."""
    out = bytearray()
    _put_key(out, 2, 1)
    out += struct.pack("<d", float(h.count))
    _put_key(out, 3, 1)
    out += struct.pack("<d", float(h.sum))
    _put_key(out, 4, 0)
    _put_zigzag(out, int(h.schema))
    _put_key(out, 5, 1)
    out += struct.pack("<d", float(h.zero_threshold))
    _put_key(out, 7, 1)
    out += struct.pack("<d", float(h.zero_count))
    for off, length in h.negative_spans:
        _put_len_delim(out, 8, _encode_bucket_span(off, length))
    if h.negative_buckets:  # packed repeated double
        _put_len_delim(
            out,
            10,
            struct.pack(f"<{len(h.negative_buckets)}d", *h.negative_buckets),
        )
    for off, length in h.positive_spans:
        _put_len_delim(out, 11, _encode_bucket_span(off, length))
    if h.positive_buckets:
        _put_len_delim(
            out,
            13,
            struct.pack(f"<{len(h.positive_buckets)}d", *h.positive_buckets),
        )
    if h.counter_reset_hint:
        _put_key(out, 14, 0)
        _put_uvarint(out, int(h.counter_reset_hint))
    _put_key(out, 15, 0)
    _put_i64(out, int(ts_ms))
    return bytes(out)


def _decode_bucket_span(data: bytes, pos: int, end: int) -> tuple[int, int]:
    off = length = 0
    for field, wire, a, _b in _fields(data, pos, end):
        if field == 1 and wire == 0:
            off = _unzigzag(a)
        elif field == 2 and wire == 0:
            length = a
    return off, length


def _decode_packed_sint(data: bytes, pos: int, end: int) -> list[int]:
    out = []
    while pos < end:
        v, pos = _read_uvarint(data, pos, end)
        out.append(_unzigzag(v))
    return out


def decode_histogram_msg(data: bytes, pos: int, end: int):
    """Decode one ``prometheus.Histogram`` message into
    ``(ts_ms, histograms.NativeHistogram)`` — both the integer form
    (count 1, delta buckets 9/12) and the float form (count_float 2,
    absolute-count buckets 10/13)."""
    from tsdb_parquet_spark.histograms import NativeHistogram

    count = zero_count = 0.0
    total = zt = 0.0
    schema = hint = 0
    ts_ms = 0
    neg_spans: list[tuple] = []
    pos_spans: list[tuple] = []
    neg_deltas: list[int] = []
    pos_deltas: list[int] = []
    neg_counts: list[float] = []
    pos_counts: list[float] = []
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 0:
            count = float(a)
        elif field == 2 and wire == 1:
            (count,) = struct.unpack_from("<d", data, a)
        elif field == 3 and wire == 1:
            (total,) = struct.unpack_from("<d", data, a)
        elif field == 4 and wire == 0:
            schema = _unzigzag(a)
        elif field == 5 and wire == 1:
            (zt,) = struct.unpack_from("<d", data, a)
        elif field == 6 and wire == 0:
            zero_count = float(a)
        elif field == 7 and wire == 1:
            (zero_count,) = struct.unpack_from("<d", data, a)
        elif field == 8 and wire == 2:
            neg_spans.append(_decode_bucket_span(data, a, b))
        elif field == 9 and wire == 2:
            neg_deltas.extend(_decode_packed_sint(data, a, b))
        elif field == 9 and wire == 0:
            neg_deltas.append(_unzigzag(a))
        elif field == 10 and wire == 2:
            neg_counts.extend(
                struct.unpack_from(f"<{(b - a) // 8}d", data, a)
            )
        elif field == 11 and wire == 2:
            pos_spans.append(_decode_bucket_span(data, a, b))
        elif field == 12 and wire == 2:
            pos_deltas.extend(_decode_packed_sint(data, a, b))
        elif field == 12 and wire == 0:
            pos_deltas.append(_unzigzag(a))
        elif field == 13 and wire == 2:
            pos_counts.extend(
                struct.unpack_from(f"<{(b - a) // 8}d", data, a)
            )
        elif field == 14 and wire == 0:
            hint = a
        elif field == 15 and wire == 0:
            ts_ms = _as_i64(a)

    def resolve(deltas: list[int], counts: list[float]) -> tuple:
        if counts:
            return tuple(counts)
        acc, out = 0, []
        for d in deltas:
            acc += d
            out.append(float(acc))
        return tuple(out)

    return ts_ms, NativeHistogram(
        schema=schema,
        count=count,
        sum=total,
        zero_threshold=zt,
        zero_count=zero_count,
        positive_spans=tuple(pos_spans),
        positive_buckets=resolve(pos_deltas, pos_counts),
        negative_spans=tuple(neg_spans),
        negative_buckets=resolve(neg_deltas, neg_counts),
        counter_reset_hint=hint,
    )


def decode_histograms(
    proto: bytes, version: int | None = None
) -> "list[tuple[dict, list]]":
    """Native histograms riding on a remote-write payload:
    ``[(series_labels, [(ts_ms, NativeHistogram), ...]), ...]``.
    prompb TimeSeries.histograms = 4 (v1) / 3 (v2)."""
    if version is None:
        version = sniff_version(proto)
    end = len(proto)
    out: list[tuple[dict, list]] = []
    if version == 1:
        for field, wire, a, b in _fields(proto, 0, end):
            if field != 1 or wire != 2:
                continue
            labels: dict[str, str] = {}
            hists = []
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    name, val = _decode_label(proto, a2, b2)
                    labels[name] = val
                elif f2 == 4 and w2 == 2:  # histograms = 4 in v1
                    hists.append(decode_histogram_msg(proto, a2, b2))
            if hists:
                out.append((labels, hists))
        return out
    if version != 2:
        raise ValueError(f"unknown remote-write version {version!r}")
    symbols: list[str] = []
    raw: list[tuple[list[int], list]] = []
    for field, wire, a, b in _fields(proto, 0, end):
        if field == 4 and wire == 2:
            symbols.append(proto[a:b].decode("utf-8"))
        elif field == 5 and wire == 2:
            srefs: list[int] = []
            hists = []
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    srefs.extend(_decode_refs(proto, a2, b2))
                elif f2 == 1 and w2 == 0:
                    srefs.append(a2)
                elif f2 == 3 and w2 == 2:  # histograms = 3 in v2
                    hists.append(decode_histogram_msg(proto, a2, b2))
            if hists:
                raw.append((srefs, hists))
    n_sym = len(symbols)
    for srefs, hists in raw:
        if len(srefs) % 2 or any(r >= n_sym for r in srefs):
            raise ValueError("bad labels_refs in histogram series")
        labels = {
            symbols[srefs[i]]: symbols[srefs[i + 1]]
            for i in range(0, len(srefs), 2)
        }
        out.append((labels, hists))
    return out


def remote_write_histogram_frame(
    payloads,
    label_names: Sequence[str],
    payload_col: str = "payload",
    compressed: bool = True,
    batch_rows: int = 4096,
):
    """Decode native histograms from a DataFrame of remote-write bodies
    into CLASSIC-EXPANDED samples ``(label_names..., le string, ts
    long, value double)`` — the histogram counterpart of
    :func:`remote_write_frame`, same executor-side mapInArrow shape.
    The metric name column carries the classic suffixes
    (``<name>_bucket``/``_count``/``_sum``); ``le`` is "" on the
    count/sum rows (missing-label convention)."""
    from tsdb_parquet_spark.histograms import expand_to_classic
    from tsdb_parquet_spark.names import escape_name

    payloads = payloads.select(payload_col)
    label_names = list(label_names)
    col_names = [escape_name(c) for c in label_names]
    schema = (
        ", ".join(f"`{c}` string" for c in col_names)
        + ", le string, ts long, value double"
    )

    def convert(batches):
        arrow_schema = _arrow_schema(col_names, ["le", "ts", "value"])
        buf: list[tuple] = []
        for batch in batches:
            for body in batch.column(payload_col).to_pylist():
                proto = unframe_payload(body) if compressed else body
                for labels, hists in decode_histograms(proto):
                    name = labels.get("__name__", "")
                    rest = {k: v for k, v in labels.items() if k != "__name__"}
                    for ts_ms, h in hists:
                        for mname, mlabels, t, v in expand_to_classic(
                            name, rest, ts_ms, h
                        ):
                            full = {**mlabels, "__name__": mname}
                            buf.append(
                                tuple(
                                    full.get(c, "") for c in label_names
                                )
                                + (mlabels.get("le", ""), t, v)
                            )
                            if len(buf) >= batch_rows:
                                yield _record_batch(buf, arrow_schema)
                                buf = []
        if buf:
            yield _record_batch(buf, arrow_schema)

    return payloads.mapInArrow(convert, schema)


# ---------------------------------------------------------------------------
# metric metadata (help / unit / type)
# ---------------------------------------------------------------------------

#: prompb.MetricMetadata.MetricType / io.prometheus.write.v2 Metadata
#: type enum values, index = wire value
METADATA_TYPES = (
    "unknown",
    "counter",
    "gauge",
    "histogram",
    "gaugehistogram",
    "summary",
    "info",
    "stateset",
)


def _encode_v1_metadata(entries) -> bytes:
    # prompb.MetricMetadata: type=1 (enum), metric_family_name=2,
    # help=4, unit=5 (3 is reserved)
    req = bytearray()
    for family, mtype, unit, help_ in entries:
        m = bytearray()
        _put_key(m, 1, 0)
        _put_uvarint(m, METADATA_TYPES.index(mtype))
        _put_len_delim(m, 2, family.encode("utf-8"))
        _put_len_delim(m, 4, help_.encode("utf-8"))
        _put_len_delim(m, 5, unit.encode("utf-8"))
        _put_len_delim(req, 3, bytes(m))  # WriteRequest.metadata = 3
    return bytes(req)


def encode_metadata_request(entries, version: int = 1) -> bytes:
    """Encode ``[(metric_family, type, unit, help), ...]`` as an
    UNCOMPRESSED metadata-bearing remote-write protobuf.  v1 carries
    metadata at the request level (``WriteRequest.metadata = 3``,
    ``prompb.MetricMetadata``); v2 carries it per series
    (``TimeSeries.metadata = 5``, symbol refs) — the v2 encoding here
    emits one sample-less series per family with only ``__name__``
    and its metadata, the minimal spec-legal shape."""
    if version == 1:
        return _encode_v1_metadata(entries)
    if version != 2:
        raise ValueError(f"unknown remote-write version {version!r}")
    symbols: list[str] = [""]
    index: dict[str, int] = {"": 0}

    def ref(s: str) -> int:
        if s not in index:
            index[s] = len(symbols)
            symbols.append(s)
        return index[s]

    ts_msgs = []
    for family, mtype, unit, help_ in entries:
        ts_msg = bytearray()
        refs = bytearray()
        _put_uvarint(refs, ref("__name__"))
        _put_uvarint(refs, ref(family))
        _put_len_delim(ts_msg, 1, bytes(refs))
        meta = bytearray()
        _put_key(meta, 1, 0)
        _put_uvarint(meta, METADATA_TYPES.index(mtype))
        _put_key(meta, 3, 0)  # help_ref
        _put_uvarint(meta, ref(help_))
        _put_key(meta, 4, 0)  # unit_ref
        _put_uvarint(meta, ref(unit))
        _put_len_delim(ts_msg, 5, bytes(meta))
        ts_msgs.append(bytes(ts_msg))
    req = bytearray()
    for s in symbols:
        _put_len_delim(req, 4, s.encode("utf-8"))
    for m in ts_msgs:
        _put_len_delim(req, 5, m)
    return bytes(req)


def decode_metadata(
    proto: bytes, version: int | None = None
) -> "list[tuple[str, str, str, str]]":
    """Metric metadata riding on a remote-write payload:
    ``[(metric_family, type, unit, help), ...]`` — completing the
    metadata surface across ingest paths (WAL record type 6:
    `tsdb_wal.read_wal_metadata`; scrape text: `scrape.scrape_metadata`).
    v1: request-level ``prompb.MetricMetadata`` (type=1, family=2,
    help=4, unit=5); v2: per-series ``Metadata`` (type=1, help_ref=3,
    unit_ref=4) attributed to the series' ``__name__``."""
    if version is None:
        version = sniff_version(proto)
    end = len(proto)
    out: list[tuple[str, str, str, str]] = []

    def type_name(v: int) -> str:
        return METADATA_TYPES[v] if v < len(METADATA_TYPES) else "unknown"

    if version == 1:
        for field, wire, a, b in _fields(proto, 0, end):
            if field != 3 or wire != 2:
                continue
            family = help_ = unit = ""
            mtype = 0
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 0:
                    mtype = a2
                elif f2 == 2 and w2 == 2:
                    family = proto[a2:b2].decode("utf-8")
                elif f2 == 4 and w2 == 2:
                    help_ = proto[a2:b2].decode("utf-8")
                elif f2 == 5 and w2 == 2:
                    unit = proto[a2:b2].decode("utf-8")
            out.append((family, type_name(mtype), unit, help_))
        return out
    if version != 2:
        raise ValueError(f"unknown remote-write version {version!r}")
    symbols: list[str] = []
    raw: list[tuple[list[int], int, int, int]] = []
    for field, wire, a, b in _fields(proto, 0, end):
        if field == 4 and wire == 2:
            symbols.append(proto[a:b].decode("utf-8"))
        elif field == 5 and wire == 2:
            srefs: list[int] = []
            meta = None
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    srefs.extend(_decode_refs(proto, a2, b2))
                elif f2 == 1 and w2 == 0:
                    srefs.append(a2)
                elif f2 == 5 and w2 == 2:
                    mtype = help_ref = unit_ref = 0
                    for f3, w3, a3, _b3 in _fields(proto, a2, b2):
                        if f3 == 1 and w3 == 0:
                            mtype = a3
                        elif f3 == 3 and w3 == 0:
                            help_ref = a3
                        elif f3 == 4 and w3 == 0:
                            unit_ref = a3
                    meta = (mtype, help_ref, unit_ref)
            if meta is not None:
                raw.append((srefs, *meta))
    n_sym = len(symbols)
    for srefs, mtype, help_ref, unit_ref in raw:
        if len(srefs) % 2 or any(r >= n_sym for r in srefs):
            raise ValueError("bad labels_refs in metadata series")
        if max(help_ref, unit_ref) >= n_sym:
            raise ValueError("metadata ref beyond symbol table")
        labels = {
            symbols[srefs[i]]: symbols[srefs[i + 1]]
            for i in range(0, len(srefs), 2)
        }
        out.append(
            (
                labels.get("__name__", ""),
                type_name(mtype),
                symbols[unit_ref],
                symbols[help_ref],
            )
        )
    return out

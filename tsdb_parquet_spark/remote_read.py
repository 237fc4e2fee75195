"""Prometheus remote-READ protocol: serve the store TO a Prometheus.

The pull twin of `remote_write.py` and the integration point that lets
a REAL Prometheus query this engine directly (``remote_read:`` in
prometheus.yml): ``POST /api/v1/read`` carries a snappy-compressed
``prompb.ReadRequest`` (time range + label matchers per query) and the
response is a snappy-compressed ``prompb.ReadResponse`` of labeled
sample streams.  Everything here is hand-rolled from the PUBLIC
protobuf spec (``prompb/remote.proto`` / ``prompb/types.proto``) on the
same wire primitives `remote_write.py` already uses — field layout:

* ``ReadRequest { repeated Query queries = 1;
  repeated ResponseType accepted_response_types = 2 }``
* ``Query { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
  repeated LabelMatcher matchers = 3 }``
* ``LabelMatcher { Type(EQ=0, NEQ=1, RE=2, NRE=3) type = 1;
  string name = 2; string value = 3 }``
* ``ReadResponse { repeated QueryResult results = 1 }``;
  ``QueryResult { repeated TimeSeries timeseries = 1 }`` — TimeSeries
  is the SAME message remote-write v1 uses, so its encoder/decoder is
  shared outright.

Both response types are implemented.  ``SAMPLES`` (the default every
client accepts) materializes the matched samples into one response
body — fine for bounded pulls, the pre-2.13 behavior.  When the client
advertises ``STREAMED_XOR_CHUNKS`` (``accepted_response_types``,
Prometheus >= 2.13's preference), :func:`serve_read_request_streamed`
answers with a stream of ``ChunkedReadResponse`` frames instead: the
XOR (Gorilla) chunk encoding happens EXECUTOR-side via the chunk
pipeline (`chunks.samples_to_chunks(encoding="xor")`), the driver
iterates the range-sorted chunk rows one partition at a time
(``toLocalIterator``), and each frame is flushed once it holds
~``max_frame_bytes`` of chunk data — server memory stays O(frame), not
O(result), exactly why the streamed type exists.  Frame format is
Prometheus's ``util ChunkedWriter``: uvarint(payload length) +
big-endian CRC32-Castagnoli(payload) + payload, no outer snappy (the
chunks are already compressed).  The DISTRIBUTED path for bulk data
stays `remote_write` / block export; remote read exists so a live
Prometheus can federate queries into the store without converting
anything.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import functions as F

from tsdb_parquet_spark.names import escape_name, unescape_name
from tsdb_parquet_spark.operators.selection import EQ, NEQ, NRE, RE, Matcher
from tsdb_parquet_spark.remote_write import (
    _as_i64,
    _decode_v1_timeseries,
    _encode_v1,
    _fields,
    _put_i64,
    _put_key,
    _put_len_delim,
    _put_uvarint,
    _read_uvarint,
    frame_payload,
    unframe_payload,
)

__all__ = [
    "encode_read_request",
    "decode_read_request",
    "read_request_accepted_types",
    "encode_read_response",
    "decode_read_response",
    "serve_read_request",
    "serve_read_request_streamed",
    "encode_chunked_read_response",
    "decode_chunked_read_response",
    "frame_chunked_message",
    "iter_chunked_messages",
    "decode_streamed_read_body",
    "SAMPLES",
    "STREAMED_XOR_CHUNKS",
    "CONTENT_TYPE_STREAMED",
]

#: prompb.ReadRequest.ResponseType
SAMPLES = 0
STREAMED_XOR_CHUNKS = 1

CONTENT_TYPE_STREAMED = (
    "application/x-streamed-protobuf; proto=prometheus.ChunkedReadResponse"
)

#: prompb.LabelMatcher.Type <-> the engine's matcher op strings
_TYPE_TO_OP = {0: EQ, 1: NEQ, 2: RE, 3: NRE}
_OP_TO_TYPE = {op: t for t, op in _TYPE_TO_OP.items()}


def encode_read_request(
    queries: Sequence[tuple[int, int, Sequence[Matcher]]],
    accepted: Sequence[int] = (),
) -> bytes:
    """``[(start_ms, end_ms, matchers), ...]`` as an UNCOMPRESSED
    ``prompb.ReadRequest`` (wrap with `remote_write.frame_payload` for
    the wire).  ``accepted`` lists ``accepted_response_types`` in
    preference order (e.g. ``[STREAMED_XOR_CHUNKS]``); empty means
    SAMPLES-only, the proto default."""
    req = bytearray()
    for start_ms, end_ms, matchers in queries:
        q = bytearray()
        _put_key(q, 1, 0)
        _put_i64(q, int(start_ms))
        _put_key(q, 2, 0)
        _put_i64(q, int(end_ms))
        for m in matchers:
            lm = bytearray()
            mtype = _OP_TO_TYPE[m.op]
            if mtype:  # EQ=0 is the proto default, omitted on the wire
                _put_key(lm, 1, 0)
                _put_i64(lm, mtype)
            _put_len_delim(lm, 2, m.name.encode("utf-8"))
            _put_len_delim(lm, 3, m.value.encode("utf-8"))
            _put_len_delim(q, 3, bytes(lm))
        _put_len_delim(req, 1, bytes(q))
    if accepted:
        # proto3 repeated enum: packed varints
        packed = bytearray()
        for t in accepted:
            _put_uvarint(packed, int(t))
        _put_len_delim(req, 2, bytes(packed))
    return bytes(req)


def read_request_accepted_types(proto: bytes) -> list[int]:
    """``accepted_response_types`` from an (uncompressed) ReadRequest —
    the server's negotiation input.  Handles both packed (proto3
    default) and unpacked encodings."""
    accepted: list[int] = []
    for field, wire, a, b in _fields(proto, 0, len(proto)):
        if field == 2 and wire == 0:
            accepted.append(a)
        elif field == 2 and wire == 2:
            pos = a
            while pos < b:
                v, pos = _read_uvarint(proto, pos, b)
                accepted.append(v)
    return accepted


def _decode_matcher(data: bytes, pos: int, end: int) -> Matcher:
    mtype, name, value = 0, "", ""
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 0:
            mtype = a
        elif field == 2 and wire == 2:
            name = data[a:b].decode("utf-8")
        elif field == 3 and wire == 2:
            value = data[a:b].decode("utf-8")
    try:
        op = _TYPE_TO_OP[mtype]
    except KeyError:
        raise ValueError(f"unknown LabelMatcher.Type {mtype}") from None
    return Matcher(name, op, value)


def _decode_query(data: bytes, pos: int, end: int):
    start_ms = end_ms = 0
    matchers: list[Matcher] = []
    for field, wire, a, b in _fields(data, pos, end):
        if field == 1 and wire == 0:
            start_ms = _as_i64(a)  # int64 varints ride two's complement
        elif field == 2 and wire == 0:
            end_ms = _as_i64(a)
        elif field == 3 and wire == 2:
            matchers.append(_decode_matcher(data, a, b))
        # hints (4) are advisory; skipped structurally
    return start_ms, end_ms, matchers


def decode_read_request(
    proto: bytes,
) -> list[tuple[int, int, list[Matcher]]]:
    queries = []
    for field, wire, a, b in _fields(proto, 0, len(proto)):
        if field == 1 and wire == 2:
            queries.append(_decode_query(proto, a, b))
        # accepted_response_types (2): we always answer SAMPLES, which
        # every client must accept per the spec
    return queries


def encode_read_response(
    results: Sequence[Sequence[tuple[dict, Sequence[tuple[int, float]]]]],
) -> bytes:
    """One ``QueryResult`` per input query: ``[[(labels, [(ts_ms, v),
    ...]), ...], ...]`` — TimeSeries bytes come from remote-write's v1
    encoder (same message)."""
    resp = bytearray()
    for series in results:
        _put_len_delim(resp, 1, _encode_v1(series))
    return bytes(resp)


def decode_read_response(
    proto: bytes,
) -> list[list[tuple[dict, list[tuple[int, float]]]]]:
    results = []
    for field, wire, a, b in _fields(proto, 0, len(proto)):
        if field == 1 and wire == 2:
            series = []
            for f2, w2, a2, b2 in _fields(proto, a, b):
                if f2 == 1 and w2 == 2:
                    series.append(_decode_v1_timeseries(proto, a2, b2))
            results.append(series)
    return results


def _query_samples(engine, start_ms, end_ms, matchers):
    """One read query's samples through the engine's selection seam.
    Wire matchers carry RAW (possibly UTF-8) names; the store's columns
    are their U__ value-encoded forms."""
    return engine.matched_samples(
        [Matcher(escape_name(m.name), m.op, m.value) for m in matchers],
        int(start_ms),
        int(end_ms),
    )


def serve_read_request(engine, body: bytes) -> bytes:
    """Snappy-framed ReadRequest body -> snappy-framed ReadResponse.

    Per query: `PromQLEngine.matched_samples` selects the samples (full
    predicate + ts-range pushdown, absent labels resolved like every
    other reader), samples group per series via ``collect_list`` (one
    shuffle), and series sort by label set like Prometheus's response
    writer.  Matched-sample materialization is the protocol's own
    contract — see the module docstring."""
    queries = decode_read_request(unframe_payload(body))
    cols = list(engine.label_columns)
    results = []
    for start_ms, end_ms, matchers in queries:
        df = _query_samples(engine, start_ms, end_ms, matchers)
        grouped = df.groupBy(*cols).agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "value"))
            ).alias("samples")
        )
        series = []
        for row in grouped.collect():
            d = row.asDict()
            labels = {
                unescape_name(c): d[c]
                for c in cols
                if d[c] not in ("", None)
            }
            series.append(
                (labels, [(s["ts"], s["value"]) for s in d["samples"]])
            )
        series.sort(key=lambda s: sorted(s[0].items()))
        results.append(series)
    return frame_payload(encode_read_response(results))


# ---------------------------------------------------------------------------
# STREAMED_XOR_CHUNKS — ChunkedReadResponse codec + ChunkedWriter framing
# ---------------------------------------------------------------------------
# prompb.ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
#                              int64 query_index = 2 }
# prompb.ChunkedSeries { repeated Label labels = 1;
#                        repeated Chunk chunks = 2 }
# prompb.Chunk { int64 min_time_ms = 1; int64 max_time_ms = 2;
#                Encoding(UNKNOWN=0, XOR=1) type = 3; bytes data = 4 }

#: prompb.Chunk.Encoding.XOR
_CHUNK_ENC_XOR = 1


def encode_chunked_read_response(
    chunked_series: Sequence[tuple[dict, Sequence[tuple[int, int, bytes]]]],
    query_index: int,
) -> bytes:
    """One ``ChunkedReadResponse`` message: ``[(labels, [(min_ms,
    max_ms, xor_chunk_bytes), ...]), ...]`` for ``queries[query_index]``
    of the originating request."""
    msg = bytearray()
    for labels, chunks in chunked_series:
        cs = bytearray()
        for name in sorted(labels):
            lab = bytearray()
            _put_len_delim(lab, 1, name.encode("utf-8"))
            _put_len_delim(lab, 2, labels[name].encode("utf-8"))
            _put_len_delim(cs, 1, bytes(lab))
        for min_ms, max_ms, data in chunks:
            ch = bytearray()
            _put_key(ch, 1, 0)
            _put_i64(ch, int(min_ms))
            _put_key(ch, 2, 0)
            _put_i64(ch, int(max_ms))
            _put_key(ch, 3, 0)
            _put_uvarint(ch, _CHUNK_ENC_XOR)
            _put_len_delim(ch, 4, bytes(data))
            _put_len_delim(cs, 2, bytes(ch))
        _put_len_delim(msg, 1, bytes(cs))
    if query_index:
        _put_key(msg, 2, 0)
        _put_i64(msg, int(query_index))
    return bytes(msg)


def decode_chunked_read_response(
    msg: bytes,
) -> tuple[int, list[tuple[dict, list[tuple[int, int, bytes]]]]]:
    """``(query_index, [(labels, [(min_ms, max_ms, chunk_bytes), ...])])``
    from one ChunkedReadResponse message."""
    query_index = 0
    series: list[tuple[dict, list[tuple[int, int, bytes]]]] = []
    for field, wire, a, b in _fields(msg, 0, len(msg)):
        if field == 2 and wire == 0:
            query_index = _as_i64(a)
            continue
        if not (field == 1 and wire == 2):
            continue
        labels: dict = {}
        chunks: list[tuple[int, int, bytes]] = []
        for f2, w2, a2, b2 in _fields(msg, a, b):
            if f2 == 1 and w2 == 2:
                name = value = ""
                for f3, w3, a3, b3 in _fields(msg, a2, b2):
                    if f3 == 1 and w3 == 2:
                        name = msg[a3:b3].decode("utf-8")
                    elif f3 == 2 and w3 == 2:
                        value = msg[a3:b3].decode("utf-8")
                labels[name] = value
            elif f2 == 2 and w2 == 2:
                mint = maxt = 0
                enc = 0
                data = b""
                for f3, w3, a3, b3 in _fields(msg, a2, b2):
                    if f3 == 1 and w3 == 0:
                        mint = _as_i64(a3)
                    elif f3 == 2 and w3 == 0:
                        maxt = _as_i64(a3)
                    elif f3 == 3 and w3 == 0:
                        enc = a3
                    elif f3 == 4 and w3 == 2:
                        data = msg[a3:b3]
                if enc != _CHUNK_ENC_XOR:
                    raise ValueError(f"unsupported chunk encoding {enc}")
                chunks.append((mint, maxt, bytes(data)))
        series.append((labels, chunks))
    return query_index, series


def frame_chunked_message(msg: bytes) -> bytes:
    """Prometheus ``util ChunkedWriter`` frame: uvarint(len) +
    big-endian CRC32-Castagnoli(payload) + payload.  No outer snappy —
    XOR chunks are already compressed."""
    import struct

    from tsdb_parquet_spark.tsdb_block import crc32c

    out = bytearray()
    _put_uvarint(out, len(msg))
    out += struct.pack(">I", crc32c(msg))
    out += msg
    return bytes(out)


def iter_chunked_messages(body: bytes):
    """Yield each CRC-verified ChunkedReadResponse message from a
    concatenation of ChunkedWriter frames (an entire streamed response
    body read to EOF)."""
    import struct

    from tsdb_parquet_spark.tsdb_block import crc32c

    pos = 0
    end = len(body)
    while pos < end:
        size, pos = _read_uvarint(body, pos, end)
        if pos + 4 + size > end:
            raise ValueError("truncated chunked frame")
        (want,) = struct.unpack(">I", body[pos : pos + 4])
        msg = body[pos + 4 : pos + 4 + size]
        if crc32c(msg) != want:
            raise ValueError("chunked frame CRC mismatch")
        pos += 4 + size
        yield bytes(msg)


def serve_read_request_streamed(
    engine,
    body: bytes,
    max_frame_bytes: int = 1 << 20,
    chunk_span_ms: int = 2 * 3600 * 1000,
):
    """Snappy-framed ReadRequest body -> iterator of ChunkedWriter
    frames (the ``STREAMED_XOR_CHUNKS`` response body, written in
    order).

    Scale shape: per query the matched samples XOR-encode into chunk
    rows EXECUTOR-side (`samples_to_chunks(encoding="xor")` — one
    shuffle), the rows range-sort by series labels (so each series'
    chunks arrive consecutively), and the driver drains them one
    partition at a time via ``toLocalIterator`` — peak driver memory is
    one partition + one pending ~``max_frame_bytes`` frame, never the
    whole result like the SAMPLES path.  ``chunk_span_ms`` defaults to
    2h, the TSDB head chunk range (a 15s scrape -> 480 samples/chunk,
    far under the encoding's 64 Ki sample cap).
    """
    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import CHUNK_BYTES, MAX_T, MIN_T

    queries = decode_read_request(unframe_payload(body))
    cols = list(engine.label_columns)
    sorted_cols = sorted(cols)
    for qi, (start_ms, end_ms, matchers) in enumerate(queries):
        df = _query_samples(engine, start_ms, end_ms, matchers)
        chunk_rows = samples_to_chunks(
            df,
            cols,
            chunk_span_ms=chunk_span_ms,
            assign_series_ids=False,
            encoding="xor",
        ).orderBy(*sorted_cols, MIN_T)
        pending: list[tuple[dict, list[tuple[int, int, bytes]]]] = []
        pending_bytes = 0
        prev_key = None
        emitted = False
        for row in chunk_rows.toLocalIterator():
            d = row.asDict()
            labels = {
                unescape_name(c): d[c]
                for c in sorted_cols
                if d[c] not in ("", None)
            }
            entry = (int(d[MIN_T]), int(d[MAX_T]), bytes(d[CHUNK_BYTES]))
            key = tuple(sorted(labels.items()))
            if pending and key == prev_key:
                pending[-1][1].append(entry)
            else:
                pending.append((labels, [entry]))
                prev_key = key
            pending_bytes += len(entry[2]) + 32
            if pending_bytes >= max_frame_bytes:
                yield frame_chunked_message(
                    encode_chunked_read_response(pending, qi)
                )
                emitted = True
                pending, pending_bytes, prev_key = [], 0, None
        if pending or not emitted:
            # an empty QueryResult still gets one (empty) frame so the
            # client sees the query_index advance
            yield frame_chunked_message(
                encode_chunked_read_response(pending, qi)
            )


def decode_streamed_read_body(
    body: bytes, n_queries: int
) -> list[list[tuple[dict, list[tuple[int, float]]]]]:
    """Client-side twin of :func:`serve_read_request_streamed`: an
    entire streamed response body -> per-query series sample lists in
    the same shape `decode_read_response` yields, XOR chunks decoded
    and per-series frames merged."""
    from tsdb_parquet_spark.xorchunk import decode_xor_chunk

    per_query: list[dict] = [dict() for _ in range(n_queries)]
    for msg in iter_chunked_messages(body):
        qi, series = decode_chunked_read_response(msg)
        if not 0 <= qi < n_queries:
            raise ValueError(f"query_index {qi} out of range")
        bucket = per_query[qi]
        for labels, chunks in series:
            key = tuple(sorted(labels.items()))
            samples = bucket.setdefault(key, [])
            for _mint, _maxt, blob in chunks:
                ts, vs = decode_xor_chunk(blob)
                samples.extend(
                    (int(t), float(v)) for t, v in zip(ts, vs)
                )
    out = []
    for bucket in per_query:
        series_list = [
            (dict(key), sorted(samples))
            for key, samples in bucket.items()
        ]
        series_list.sort(key=lambda s: sorted(s[0].items()))
        out.append(series_list)
    return out

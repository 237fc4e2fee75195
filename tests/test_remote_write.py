"""Remote-write codec + distributed ingest tests.

The payloads exercised here are built by the repo's own encoder, but
the format claims are pinned against the PUBLIC specs: protobuf wire
encoding (varint/64-bit/length-delimited), prompb/remote.proto field
numbers (v1), io/prometheus/write/v2/types.proto (v2, symbol-interned),
and snappy block framing.
"""

import math
import struct

import pytest

from tsdb_parquet_spark.remote_write import (
    _put_key,
    _put_uvarint,
    decode_write_request,
    encode_write_request,
    frame_payload,
    remote_write_frame,
    sniff_version,
    unframe_payload,
)

SERIES = [
    ({"__name__": "http_requests_total", "job": "api", "instance": "a:9090"},
     [(1_000, 1.0), (16_000, 2.0), (31_000, 3.5)]),
    ({"__name__": "http_requests_total", "job": "api", "instance": "b:9090"},
     [(1_000, 10.0), (16_000, 20.0)]),
    ({"__name__": "up", "job": "api"}, [(1_000, 1.0)]),
]


@pytest.mark.parametrize("version", [1, 2])
def test_roundtrip(version):
    proto = encode_write_request(SERIES, version=version)
    assert sniff_version(proto) == version
    out = decode_write_request(proto)
    assert [(dict(l), list(s)) for l, s in out] == [
        (dict(l), list(s)) for l, s in SERIES
    ]


@pytest.mark.parametrize("version", [1, 2])
def test_snappy_framing_roundtrip(version):
    proto = encode_write_request(SERIES, version=version)
    body = frame_payload(proto)
    assert body != proto
    assert unframe_payload(body) == proto


def test_negative_and_large_timestamps():
    series = [({"__name__": "m"}, [(-1, 1.0), (-1_234_567_890_123, 2.0),
                                   (2**53, 3.0)])]
    for version in (1, 2):
        out = decode_write_request(encode_write_request(series, version))
        assert out[0][1] == series[0][1]


def test_stale_nan_is_bit_exact():
    # Prometheus staleness markers are a SPECIFIC NaN payload; the
    # double must survive encode/decode bit-for-bit.
    from tsdb_parquet_spark.tsdb_wal import stale_marker

    series = [({"__name__": "m"}, [(1000, stale_marker())])]
    out = decode_write_request(encode_write_request(series, 1))
    got = out[0][1][0][1]
    assert math.isnan(got)
    assert struct.pack("<d", got) == struct.pack("<d", stale_marker())


def test_v2_symbol_zero_is_empty_string():
    # spec: symbols[0] MUST be "" — refs to it decode as empty values
    proto = encode_write_request([({"lbl": ""}, [(1, 1.0)])], version=2)
    out = decode_write_request(proto)
    assert out == [({"lbl": ""}, [(1, 1.0)])]


def test_v2_unpacked_labels_refs_accepted():
    # repeated uint32 may legally arrive unpacked (one varint field per
    # element); the decoder must accept both forms
    packed = encode_write_request([SERIES[2]], version=2)
    series_msgs = decode_write_request(packed)
    # hand-build the unpacked form: symbols ""(0), "__name__", "up",
    # "job", "api"; refs 1 2 3 4 as four wire-type-0 fields
    out = bytearray()
    for s in ["", "__name__", "up", "job", "api"]:
        b = s.encode()
        _put_key(out, 4, 2)
        _put_uvarint(out, len(b))
        out += b
    ts = bytearray()
    for r in (1, 2, 3, 4):
        _put_key(ts, 1, 0)
        _put_uvarint(ts, r)
    sample = bytearray()
    _put_key(sample, 1, 1)
    sample += struct.pack("<d", 1.0)
    _put_key(sample, 2, 0)
    _put_uvarint(sample, 1_000)
    _put_key(ts, 2, 2)
    _put_uvarint(ts, len(sample))
    ts += sample
    _put_key(out, 5, 2)
    _put_uvarint(out, len(ts))
    out += ts
    got = decode_write_request(bytes(out))
    assert got == [({"__name__": "up", "job": "api"}, [(1_000, 1.0)])]
    assert got[0][0] == series_msgs[0][0]


def test_unknown_fields_skipped():
    # append a fake metadata field (3, len-delim) at the top level and a
    # fake created_timestamp-ish varint field inside a timeseries — the
    # decoder must skip both per proto rules
    proto = bytearray(encode_write_request([SERIES[2]], version=1))
    _put_key(proto, 3, 2)
    _put_uvarint(proto, 4)
    proto += b"meta"
    assert decode_write_request(bytes(proto)) == [
        (SERIES[2][0], list(SERIES[2][1]))
    ]


def test_truncated_payload_raises():
    proto = encode_write_request(SERIES, version=1)
    with pytest.raises(ValueError):
        decode_write_request(proto[: len(proto) - 3])


def test_sniff_rejects_junk():
    with pytest.raises(ValueError):
        sniff_version(b"")


def test_remote_write_frame_distributed(spark):
    # two payloads, one per protocol version, decoded in one frame;
    # missing labels fill "" and extra labels are dropped
    p1 = frame_payload(encode_write_request(SERIES[:2], version=1))
    p2 = frame_payload(encode_write_request(SERIES[2:], version=2))
    df = spark.createDataFrame([(1, bytearray(p1)), (2, bytearray(p2))],
                               "batch int, payload binary")
    out = remote_write_frame(df, ["__name__", "instance"], batch_rows=2)
    rows = sorted(
        (r["__name__"], r["instance"], r["ts"], r["value"])
        for r in out.collect()
    )
    expect = sorted(
        (labels["__name__"], labels.get("instance", ""), ts, v)
        for labels, samples in SERIES
        for ts, v in samples
    )
    assert rows == expect


def test_remote_write_frame_prunes_to_payload_column(spark, tmp_path):
    # sidecar columns on the payload table must not cross the Arrow
    # bridge: the PARQUET scan under the Python map reads only the
    # payload column (ReadSchema pruning through mapInPandas)
    p1 = frame_payload(encode_write_request(SERIES[:1], version=1))
    path = str(tmp_path / "payloads.parquet")
    spark.createDataFrame(
        [(1, "sender-a", "h", bytearray(p1))],
        "batch int, sender string, headers string, payload binary",
    ).write.parquet(path)
    out = remote_write_frame(spark.read.parquet(path), ["__name__"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "payload" in read_schema
    assert "sender" not in read_schema and "headers" not in read_schema
    assert out.count() == len(SERIES[0][1])


NAN_SERIES = [({"__name__": "up", "job": "a"}, [(60_000, 1.0), (120_000, float("nan"))])]


@pytest.fixture(scope="module")
def nan_samples(spark):
    body = frame_payload(encode_write_request(NAN_SERIES, version=1))
    df = spark.createDataFrame([(bytearray(body),)], "payload binary")
    return remote_write_frame(df, ["__name__", "job"])


def test_remote_write_frame_keeps_nan(nan_samples):
    # a NaN sample value is a value, not a missing one: the decode must
    # not hand it to Arrow through pandas, which reads NaN as null
    rows = sorted((r["ts"], r["value"]) for r in nan_samples.collect())
    assert rows[0] == (60_000, 1.0)
    assert rows[1][0] == 120_000
    assert rows[1][1] is not None and math.isnan(rows[1][1])


def test_remote_write_nan_renders_and_counts(nan_samples):
    from tsdb_parquet_spark.api import PromApiServer, api_get_json
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    with PromApiServer(PromQLEngine(nan_samples)) as url:
        p = api_get_json(url, "/api/v1/query", {"query": "up", "time": 150})
        assert p["status"] == "success"
        [sample] = p["data"]["result"]
        assert sample["metric"]["job"] == "a"
        assert sample["value"] == [150.0, "NaN"]
        p = api_get_json(
            url, "/api/v1/query",
            {"query": "count_over_time(up[2m])", "time": 150},
        )
        assert p["data"]["result"] == [
            {"metric": {"job": "a"}, "value": [150.0, "2"]}
        ]


# ---------------------------------------------------------------------------
# adversarial-input fuzz: the decoder ingests bytes from the network; it
# must either decode or raise ValueError — never IndexError/KeyError/
# struct.error or an infinite loop
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200))
def test_decode_never_crashes_on_random_bytes(data):
    try:
        decode_write_request(data)
    except ValueError:
        pass
    try:
        decode_write_request(data, version=1)
    except ValueError:
        pass
    try:
        decode_write_request(data, version=2)
    except ValueError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=200), st.integers(0, 199), st.integers(0, 255))
def test_decode_never_crashes_on_flipped_valid_payload(data, pos, xor):
    # corrupt a VALID payload at a random position: structurally much
    # closer to the parser's happy path than pure random bytes
    proto = bytearray(encode_write_request(SERIES, version=1 + len(data) % 2))
    proto[pos % len(proto)] ^= xor
    try:
        decode_write_request(bytes(proto))
    except ValueError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=300))
def test_unframe_never_crashes(data):
    try:
        unframe_payload(data)
    except ValueError:
        pass


@pytest.mark.parametrize("version", [1, 2])
def test_exemplar_roundtrip(version):
    from tsdb_parquet_spark.remote_write import decode_exemplars

    series = [
        (SERIES[0][0], SERIES[0][1],
         [({"trace_id": "abc123"}, 0.67, 1_520_879_607_789),
          ({"trace_id": "z", "span_id": "s1"}, 9.5, -1)]),
        (SERIES[2][0], SERIES[2][1]),  # no exemplars
    ]
    proto = encode_write_request(series, version=version)
    # exemplars decode with their owning series' label set
    assert decode_exemplars(proto) == [
        (SERIES[0][0], {"trace_id": "abc123"}, 0.67, 1_520_879_607_789),
        (SERIES[0][0], {"trace_id": "z", "span_id": "s1"}, 9.5, -1),
    ]
    # and the SAMPLE decode is unaffected by their presence
    out = decode_write_request(proto)
    assert [(dict(l), list(s)) for l, s in out] == [
        (SERIES[0][0], list(SERIES[0][1])),
        (SERIES[2][0], list(SERIES[2][1])),
    ]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_decode_exemplars_never_crashes(data):
    from tsdb_parquet_spark.remote_write import decode_exemplars

    for version in (None, 1, 2):
        try:
            decode_exemplars(data, version=version)
        except ValueError:
            pass


def test_metadata_roundtrip_both_versions():
    """Metric metadata (help/unit/type) rides remote-write in both
    protocols — request-level prompb.MetricMetadata in v1, per-series
    symbol-interned Metadata in v2 — completing the metadata surface
    across WAL records, scrape text, and the push path."""
    from tsdb_parquet_spark.remote_write import (
        decode_metadata,
        encode_metadata_request,
        frame_payload,
        unframe_payload,
    )

    entries = [
        ("http_requests_total", "counter", "", "Total HTTP requests."),
        ("queue_depth", "gauge", "items", 'depth "now"\nmultiline'),
    ]
    for version in (1, 2):
        body = frame_payload(encode_metadata_request(entries, version))
        got = decode_metadata(unframe_payload(body))
        assert got == entries, version
